"""Connected components over near-duplicate pairs: the clustering step
between pair generation and the drop decision.

Every dedup family in this package (n-gram Jaccard, MinHash+LSH,
SimHash, embedding cosine) emits EDGES -- (doc_a, doc_b) pairs above a
similarity threshold. A dedup policy acts on CLUSTERS: transitive
near-duplicates form a component, and exactly one canonical document
per component is kept (web-scale corpus pipelines all run this step;
the reference is a CEP engine and has no analog -- this belongs to the
training-data family of SURVEY.md 2.8).

The component id is the MINIMUM doc id reachable through the pair
graph. The edge list is symmetrized and holds a self-loop at every
vertex, so N(v) below always contains v. Labels start as ``min N(v)``:
an aggregate over the edges alone, as every label is still its own id.
Each round then runs ONE edge exchange, a groupBy on the message target:

* **messages**: every directed edge (u, v) sends ``L(u)`` to ``v``
  (neighbour min) and to the vertex ``L(v)`` names (hooking: the head
  of v's label tree takes the smaller label too, so a tree whose head
  sits far from the smaller label does not wait for it to crawl one
  hop per round). Each target takes ``lo`` and ``hi``, the least and
  greatest label sent to it;
* **pointer jumping** (a join on ``lo == id`` against the same,
  previous label table): the new label is ``prev[lo]``, which composes
  two known paths.

Labels only shrink, and each stays the id of a vertex in its own
component no greater than its vertex's id. Without the hook, a path
whose ids do not fall along it needs O(diameter) rounds: a Python
replay of the rounds took 37 for a 64-vertex path and 652 for a
1024-vertex one, against 9 and 14 with it (worst of five random id
orders each). That
is the O(log n) behaviour of the large-star/small-star scheme of
Kiveris et al., "Connected Components in MapReduce and Beyond"
(SoCC'14), which GraphFrames implements.

The convergence test rides on the same aggregate: when ``lo == hi`` at
every target, every edge joins two equal labels, so each component
carries one label. That label is the id of a vertex in the component
and no greater than any member's id, so it is the component's minimum,
and the round's output (``prev[lo] = lo``) equals its input. No extra
"nothing changed" round runs.

100 TB design: per round one shuffle keyed on the message target,
whose min/max aggregate combines map-side (the head of a big component
receives a message per member), plus the three label-table lookups.
The labels frame is ``localCheckpoint``-ed every round, so the plan
never grows with the iteration count. With AQE on,
``localCheckpoint(eager=False)`` runs the frame's shuffle stages when
it is called; the round's ``count()`` of open targets then runs the
last stage and stores the blocks, which the next round reads. The edge
list is built in ONE pass over the pair input (an explode, no
self-union -- a union would evaluate the pair subtree once per branch)
and checkpointed once, reused by every round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    pairs: DataFrame,
    vertices: DataFrame | None = None,
    src_col: str = "doc_a",
    dst_col: str = "doc_b",
    id_col: str = "doc_id",
    max_iter: int = 25,
) -> DataFrame:
    """(id, comp) for every vertex; ``comp`` = min reachable id.

    ``vertices`` (optional) adds every document as a vertex, so docs
    with no near-dup pair come out as singleton components (comp =
    self) and the result is total over the corpus -- the shape a
    downstream keep/drop filter wants. Pair endpoints are vertices
    either way.

    Raises after ``max_iter`` non-converged rounds rather than
    returning silently-partial components (a wrong canonical id drops
    the WRONG document downstream). Rounds grow with the log of the
    component size (15 for a random-order 4096-vertex path), so the
    default 25 leaves wide headroom.
    """
    s = F.col(src_col).cast("long")
    d = F.col(dst_col).cast("long")
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(s.alias("src"), d.alias("dst")),
                F.struct(d.alias("src"), s.alias("dst")),
                F.struct(s.alias("src"), s.alias("dst")),
                F.struct(d.alias("src"), d.alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")
    if vertices is not None:
        v = F.col(id_col).cast("long")
        edges = edges.unionByName(vertices.select(v.alias("src"), v.alias("dst")))
    edges = edges.distinct().localCheckpoint(eager=False)
    # every label is still its own id: min N(v) needs no label table
    labels = (
        edges.groupBy(F.col("dst").alias("id"))
        .agg(F.min("src").alias("comp"))
        .localCheckpoint(eager=False)
    )

    for _ in range(max_iter):
        # one row per directed edge with both endpoints' labels; every
        # edge then sends the source's label to its destination AND to
        # the vertex its destination's label names (the hook)
        ls, ld = labels.alias("ls"), labels.alias("ld")
        val = F.col("ls.comp").alias("val")
        msgs = (
            edges.join(ls, edges["src"] == F.col("ls.id"))
            .join(ld, edges["dst"] == F.col("ld.id"))
            .select(
                F.explode(
                    F.array(
                        F.struct(F.col("dst").alias("to"), val),
                        F.struct(F.col("ld.comp").alias("to"), val),
                    )
                ).alias("m")
            )
            .groupBy(F.col("m.to").alias("to"))
            .agg(F.min("m.val").alias("lo"), F.max("m.val").alias("hi"))
        )
        prev = labels.select(
            F.col("id").alias("p_id"), F.col("comp").alias("p_comp")
        )
        new_labels = (
            msgs.join(prev, msgs["lo"] == prev["p_id"])
            .select(
                F.col("to").alias("id"),
                F.col("p_comp").alias("comp"),
                (F.col("lo") < F.col("hi")).alias("_open"),
            )
            .localCheckpoint(eager=False)
        )
        n_open = new_labels.filter("_open").count()
        labels = _without_size_estimate(new_labels).select("id", "comp")
        if n_open == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} iterations"
    )


def _without_size_estimate(df: DataFrame) -> DataFrame:
    """``df`` over the same rows, planned with Spark's default size, as
    a frame made from an RDD is. A checkpoint keeps the size estimate of
    the plan it stored, and an inner join estimates the product of its
    inputs' sizes. A round joins three copies of the previous labels,
    so the estimate's digits would triple each round: on a 1024-vertex
    path (``local[4]``), round 11 took 20 s, nearly all of it size
    estimation, against 0.5 s this way. From round 2 on the estimate
    is past any broadcast threshold either way, so no plan choice
    changes."""
    spark = df.sparkSession
    rows = spark._jsparkSession.createDataFrame(df._jdf.javaRDD(), df._jdf.schema())
    return DataFrame(rows, spark)


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document dedup verdict from a near-dup pair set:
    (doc_id, comp_id, is_canonical). ``is_canonical`` marks the one
    document per component a keep-policy retains (min id -- the
    deterministic choice every engine can reproduce); singleton docs
    are their own canonical."""
    labels = connected_components(pairs, vertices=docs, id_col=id_col)
    return labels.select(
        F.col("id").alias("doc_id"),
        F.col("comp").alias("comp_id"),
        (F.col("id") == F.col("comp")).alias("is_canonical"),
    )
