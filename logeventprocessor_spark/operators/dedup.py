"""Deduplication operators for training-data pipelines at 100 TB.

Five dedup families, each expressed so the expensive part stays
JVM-side and the candidate set shrinks BEFORE any quadratic work:

* exact           -- hash-groupBy on a normalized fingerprint
* n-gram Jaccard  -- shingle explode -> candidate pairs sharing a
                     shingle -> exact Jaccard (inverted-index join, no
                     full cross product)
* MinHash + LSH   -- k minhashes per doc via ONE groupBy with k
                     xxhash64-min aggregates; banding -> bucket join
                     for candidates -> exact-Jaccard verify
* SimHash         -- 64 bitwise aggregates over exploded tokens (all
                     whole-stage codegen); hamming-distance candidates
* embedding cosine -- see similarity.py (near_dup_pairs)

All shuffles are keyed on shingle/bucket values (high cardinality, no
skew); doc-side explode fan-out is bounded by tokens-per-doc.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from logeventprocessor_spark.operators.text import with_fingerprint


def exact_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Groups of exact duplicates (normalized text): one row per group
    with the canonical (min) id, the dup count, and the key."""
    fp = with_fingerprint(df, text_col).select(id_col, "fp_md5")
    return (
        fp.groupBy("fp_md5")
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .filter(F.col("dup_count") > 1)
    )


def dedup_exact(df: DataFrame, id_col: str = "doc_id", text_col: str = "text"):
    """Keep one representative (min id) per normalized-text group."""
    fp = with_fingerprint(df, text_col)
    from pyspark.sql import Window

    w = Window.partitionBy("fp_md5").orderBy(id_col)
    return (
        fp.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "fp_md5", "fp_roll")
    )


def dedup_stream_exact(stream: DataFrame, text_col: str = "text") -> DataFrame:
    """STREAMING exact content dedup: normalized-md5 fingerprint (pure
    column expressions) + ``dropDuplicatesWithinWatermark`` keyed on
    the fingerprint -- state is one entry per distinct document within
    the watermark horizon, evicted by event time (bounded at 10^12-row
    scale). Requires ``withWatermark`` upstream."""
    return with_fingerprint(stream, text_col).dropDuplicatesWithinWatermark(
        ["fp_md5"]
    )


def _gram_array(text_col: str, n: int):
    """(toks, grams) column expressions: whitespace-tokenize and build
    the word n-gram array. Shared by every shingle-based operator so
    the tokenization can never drift between them (the DuckDB oracles
    replicate exactly this split/lower/trim).

    The gram array is built with ONE codegen'd regex over the
    whitespace-normalized text -- a token-start anchor (``(?<!\\S)``)
    plus a capturing lookahead of the next ``n`` tokens -- instead of
    the former interpreted higher-order ``transform`` chain
    (``concat_ws`` over ``element_at`` per element). The two produce
    IDENTICAL arrays (verified: zero differing rows over the corpus;
    both tokenize with the same Java-regex ``\\s`` class, and a
    captured substring of single-space-normalized text IS the
    space-joined token run), but the regex form measured ~3x faster
    steady-state (0.18 vs 0.60 s for the sf0.1 explode) and, being
    whole-stage-codegen'd rather than interpreted, has none of the
    transform chain's multi-run JIT warm-up -- the main source of the
    shingle family's early-sample inflation in bench loops.

    Rows with fewer than ``n`` tokens yield the (shorter) list of
    matches rather than the transform form's single partial gram --
    callers already filter ``size(toks) >= n`` before using grams,
    exactly as before."""
    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    norm = F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    pat = r"(?<!\S)(?=((?:\S+ ){%d}\S+))" % (n - 1)
    grams = F.regexp_extract_all(norm, F.lit(pat), 1)
    return toks, grams


def shingle_arrays(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """(doc_id, sh_arr) -- each doc's DISTINCT shingle set as ONE array
    row. The expensive interpreted ``transform`` chain runs exactly
    once per doc; callers that need exploded rows re-explode the
    stored array (cheap) and callers that need per-doc sizes take
    ``size(sh_arr)`` (no groupBy). Callers reusing the frame should
    ``localCheckpoint`` it so the tokenization is never re-evaluated
    per consumer."""
    toks, grams = _gram_array(text_col, n)
    return _fan_out(df.filter(F.size(toks) >= n)).select(
        F.col(id_col).alias("doc_id"),
        F.array_distinct(grams).alias("sh_arr"),
    )


def shingles(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", n: int = 3
) -> DataFrame:
    """Distinct word n-gram shingles per doc: (id, shingle).

    Per-doc dedup is a within-row ``array_distinct`` BEFORE the explode
    -- exact (one row per doc makes within-row dedup the same set as a
    global (doc, shingle) distinct) and shuffle-free, replacing the
    former global ``.distinct()`` whose hash aggregate re-shuffled the
    entire exploded shingle table (guide §2.4: remove shuffles
    outright; A/B at sf0.1 local[32]: 3.8 s -> 0.7 s for this subtree).

    DO NOT add a scalar over ``grams`` (e.g. ``size(array_distinct)``)
    to this projection: Catalyst leaves such an alias ABOVE the
    Generate and re-evaluates the interpreted ``transform`` chain once
    per EXPLODED row (~|shingles| x per doc; measured 0.7 s -> 24 s at
    sf0.1). When sizes are needed too, materialize ``shingle_arrays``
    and derive both from the stored arrays instead."""
    toks, grams = _gram_array(text_col, n)
    return (
        _fan_out(df.filter(F.size(toks) >= n))
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.array_distinct(grams)).alias("shingle"),
        )
    )


def ngram_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    frac_threshold: float = 0.2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: per corpus doc, how many of its
    distinct word n-grams appear anywhere in an evaluation/benchmark
    set (the pipeline step published for GPT-3 appendix C and C4 --
    training corpora are scrubbed of eval overlap before training).

    Output: (doc_id, n_sh, n_contam, contam_frac, contaminated) for
    EVERY corpus doc with >= n words -- emitting the clean rows too, so
    a downstream anti-join or filter can pick its own policy (any-hit
    removal vs fractional threshold).

    100 TB design: the benchmark side is tiny (eval suites are MBs) --
    its distinct shingle set is BROADCAST, so the corpus is scanned
    ONCE: per-row ``array_distinct`` dedups shingles within the doc
    with NO shuffle (one row per doc makes within-row dedup exact),
    the broadcast left join marks hits JVM-side, and the only shuffle
    is the final doc_id aggregation (map-side partial counts). The
    global ``.distinct()`` that ``shingles()`` pays is deliberately
    avoided on the big side."""
    toks, grams = _gram_array(text_col, n)
    corpus_sh = (
        _fan_out(corpus.filter(F.size(toks) >= n))
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.array_distinct(grams)).alias("shingle"),
        )
    )
    bench_sh = (
        shingles(benchmark, id_col, text_col, n)
        .select("shingle")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    per_doc = (
        corpus_sh.join(F.broadcast(bench_sh), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.count("hit").alias("n_contam"),
        )
    )
    frac = F.col("n_contam") / F.col("n_sh")
    return per_doc.select(
        "doc_id",
        "n_sh",
        "n_contam",
        F.round(frac, 6).alias("contam_frac"),
        (frac >= F.lit(frac_threshold)).alias("contaminated"),
    )


def benchmark_shingle_hashes(
    benchmark: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
):
    """Distinct word n-gram xxhash64 values of the evaluation/benchmark
    set, as a SORTED int64 numpy array ready to broadcast.

    The collect here is the point, not a shortcut: eval suites are MBs
    while the corpus is TBs, so the scalable formulation ships the
    benchmark's hash set to every executor once (the same role the
    ``F.broadcast`` side plays in the batch ``ngram_contamination``
    join) and the stream itself never shuffles. ``xxhash64`` is the
    same JVM hash the gate applies per row, so membership-by-hash
    equals membership-by-string up to a ~|bench|*2^-64 collision
    probability."""
    import numpy as np

    rows = (
        shingles(benchmark, id_col, text_col, n)
        .select(F.xxhash64("shingle").alias("h"))
        .distinct()
        .collect()
    )
    return np.sort(np.array([r.h for r in rows], dtype=np.int64))


def stream_contamination_gate(
    stream: DataFrame,
    bench_hashes,
    n: int = 5,
    frac_threshold: float = 0.2,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
) -> DataFrame:
    """STREAMING benchmark-decontamination gate at ingest: every
    incoming document gets (n_sh, n_contam, contam_frac, contaminated)
    against a static eval set -- the streaming analog of
    ``ngram_contamination``, pinned output-identical to it by test.

    STATELESS by design: contamination against a FIXED benchmark needs
    no cross-row memory, so there is no watermark state, no timer, and
    no shuffle -- the gate composes in append mode ahead of any sink
    at ingest rate. The per-row work splits at the usual boundary:
    shingling + ``array_distinct`` + xxhash64 stay JVM-side (the same
    ``_gram_array`` tokenizer the batch side and the DuckDB oracles
    replicate), only ``array<long>`` hashes cross to Python, and
    membership against the sorted broadcast benchmark array is one
    vectorized ``np.searchsorted`` per Arrow batch via ``mapInPandas``.
    The frac/flag arithmetic runs JVM-side AFTER the count so it is
    expression-identical to the batch operator (no numpy-vs-Spark
    rounding skew).

    Rows with fewer than ``n`` words pass through with n_sh = 0 and a
    NULL contam_frac (nothing to measure; the batch operator drops
    them instead): a gate must emit a verdict for EVERY row so the
    downstream filter owns the policy. mapInPandas drops the watermark
    marker -- re-apply ``withWatermark`` after the gate if a stateful
    op follows."""
    sc = stream.sparkSession.sparkContext
    bcast = sc.broadcast(bench_hashes)
    toks, grams = _gram_array(text_col, n)
    hashed = stream.select(
        F.col(id_col).alias("doc_id"),
        F.col(ts_col).alias("ts"),
        F.when(
            F.size(toks) >= n,
            F.transform(F.array_distinct(grams), lambda s: F.xxhash64(s)),
        )
        .otherwise(F.array().cast("array<long>"))
        .alias("_sh"),
    )

    def gate(batches):
        import numpy as np
        import pandas as pd

        bh = bcast.value
        for pdf in batches:
            if pdf.empty:
                continue
            lens = pdf["_sh"].map(len).to_numpy(dtype=np.int64)
            if lens.sum() and len(bh):
                flat = np.concatenate(
                    [np.asarray(a, dtype=np.int64) for a in pdf["_sh"] if len(a)]
                )
                pos = np.searchsorted(bh, flat)
                ok = pos < len(bh)
                hit = np.zeros(len(flat), dtype=np.int64)
                hit[ok] = (bh[pos[ok]] == flat[ok]).astype(np.int64)
                csum = np.concatenate(([0], np.cumsum(hit)))
                ends = np.cumsum(lens)
                n_contam = csum[ends] - csum[ends - lens]
            else:
                n_contam = np.zeros(len(pdf), dtype=np.int64)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "ts": pdf["ts"],
                    "n_sh": lens,
                    "n_contam": n_contam,
                }
            )

    counted = hashed.mapInPandas(
        gate, "doc_id long, ts timestamp, n_sh long, n_contam long"
    )
    frac = F.when(
        F.col("n_sh") > 0, F.col("n_contam") / F.col("n_sh")
    )
    return counted.select(
        "doc_id",
        "ts",
        "n_sh",
        "n_contam",
        F.round(frac, 6).alias("contam_frac"),
        F.coalesce(
            frac >= F.lit(frac_threshold), F.lit(False)
        ).alias("contaminated"),
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    prefix_filter: bool = True,
) -> DataFrame:
    """Near-dup pairs by exact n-gram Jaccard >= threshold.

    Candidate generation uses EXACT prefix filtering (Chaudhuri et al.,
    SSJoin): order every doc's shingles by global document frequency
    (rarest first); two docs with J >= t MUST share a shingle among
    each one's first floor((1-t)*|S|)+1 shingles -- so the inverted-
    index self-join runs only on those prefixes. This removes the
    hot high-frequency shingle groups (the n^2 blowup) without losing
    a single qualifying pair; the full intersection count then runs
    only on surviving candidates.
    """
    # localCheckpoint (not .cache()): materializes once, truncates the
    # lineage so the downstream uses read the stored blocks, and the
    # blocks are released by the ContextCleaner when the plan is GC'd.
    # (.persist() was A/B-measured for this frame and REJECTED: the
    # columnar InMemoryRelation encode/decode tripled exec time --
    # 1.05 -> 2.96 s at sf0.1 local[32].) The ARRAY form is the stored
    # unit: the interpreted shingling runs once per doc, then exploded
    # rows / per-doc sizes / the verify's intersection all derive from
    # the stored arrays.
    arr = shingle_arrays(df, id_col, text_col, n).localCheckpoint(eager=False)
    sh = arr.select("doc_id", F.explode("sh_arr").alias("shingle"))
    sizes = arr.select("doc_id", F.size("sh_arr").alias("n_sh"))

    if prefix_filter:
        from pyspark.sql import Window

        dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        ranked = (
            sh.join(dfreq, "shingle")
            .withColumn(
                "rk",
                F.row_number().over(
                    Window.partitionBy("doc_id").orderBy("df", "shingle")
                ),
            )
            .join(sizes, "doc_id")
            .filter(
                F.col("rk")
                <= F.floor((1 - threshold) * F.col("n_sh")).cast("int") + 1
            )
            # a prefix shingle with df == 1 exists in exactly one doc:
            # it cannot produce a candidate pair, so drop it from BOTH
            # sides of the self-join (ranks were assigned on the full
            # prefix first, so pruning here cannot promote a non-prefix
            # shingle). On word-salad corpora most shingles are unique
            # -- this removes the bulk of the inverted-index volume.
            .filter(F.col("df") >= 2)
            .select("doc_id", "shingle")
            # the self-join below reads BOTH sides from this subtree;
            # un-materialized, Spark evaluates the dfreq-join + window
            # lineage twice (no common-subexpression sharing across
            # join branches -- guide §2.4)
            .localCheckpoint(eager=False)
        )
        a, b = ranked.alias("a"), ranked.alias("b")
        cand = (
            a.join(b, "shingle")
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .distinct()
        )
        return _jaccard_verify(cand, arr, threshold)
    a, b = sh.alias("a"), sh.alias("b")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return _jaccard_finish(inter, sizes, threshold)


def _jaccard_verify(
    cand: DataFrame,
    arr: DataFrame,
    threshold: float,
    broadcast_candidates: bool = True,
) -> DataFrame:
    """Exact-Jaccard verification of candidate PAIRS against the
    per-doc shingle ARRAY table ``arr`` (doc_id, sh_arr): each pair is
    joined to its two stored arrays and the intersection is counted
    per row with ``array_intersect`` -- a codegen'd JVM hash-set probe.

    This replaced the round-6 exploded verify (candidates x |shingles
    per doc| rows shuffled by (doc_b, shingle), then a pair-keyed
    aggregate): the array form moves the SAME bytes in ~|shingles|x
    fewer rows, needs NO aggregate, and its only exchange is the
    doc_b-keyed join (A/B at sf0.1 local[32], 300K candidates: verify
    5.7 s -> <1 s). At cluster scale the shape holds: shuffle volume
    is candidates x two arrays, the minimum any exact verify must
    move.

    ``broadcast_candidates`` (default): the id-pair set is small BY
    CONSTRUCTION (LSH/prefix pruning), so the first join broadcasts it
    and the array table streams with NO shuffle -- without the hint,
    AQE sometimes picks a sort-merge join that shuffles the full
    table (observed 3-10x wall-clock swings)."""
    a_ = arr.select(F.col("doc_id").alias("doc_a"), F.col("sh_arr").alias("_a"))
    b_ = arr.select(F.col("doc_id").alias("doc_b"), F.col("sh_arr").alias("_b"))
    c = F.broadcast(cand) if broadcast_candidates else cand
    pairs = a_.join(c, "doc_a").join(b_, "doc_b")
    n_inter = F.size(F.array_intersect("_a", "_b"))
    return (
        pairs.select(
            "doc_a",
            "doc_b",
            n_inter.alias("n_inter"),
            F.size("_a").alias("n_a"),
            F.size("_b").alias("n_b"),
        )
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _jaccard_finish(
    inter: DataFrame,
    sizes: DataFrame,
    threshold: float,
    broadcast_inter: bool = False,
) -> DataFrame:
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    if broadcast_inter:
        inter = F.broadcast(inter)
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_signatures(
    df: DataFrame,
    k: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """k MinHash values per doc in ONE shuffle: groupBy(doc) with k
    min(xxhash64(seed_i, shingle)) aggregates -- all JVM-side."""
    sh = shingles(df, id_col, text_col, n)
    # SQL-string form: one JVM parse per aggregate instead of ~4 py4j
    # round-trips each (seed literal stays INT, identical hash input)
    aggs = [
        F.expr(f"min(xxhash64({i}, shingle))").alias(f"mh_{i}")
        for i in range(k)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    k: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """MinHash banding: docs sharing any band bucket become candidates;
    candidates are verified with EXACT n-gram Jaccard (no false
    positives; recall is the banded-LSH probability curve).

    Default geometry k=32, b=8, r=4: the S-curve threshold
    (1/b)^(1/r) ~= 0.59 sits at the default Jaccard threshold, so
    dissimilar pairs (J~0.3) become candidates with p~0.06 instead of
    the p~0.5 a 2-row band would give -- candidate volume is what
    dominates cost on corpora where everything is mildly similar."""
    assert k % bands == 0
    rows = k // bands
    # ONE shingle scan feeds BOTH the signature aggregate and the
    # exact-Jaccard verify (round 6 tokenized + exploded the corpus
    # twice -- guide §2.4: don't recompute what a checkpoint already
    # holds); the array form is stored, rows re-exploded from it
    arr = shingle_arrays(df, id_col, text_col, n).localCheckpoint(eager=False)
    sh = arr.select("doc_id", F.explode("sh_arr").alias("shingle"))
    # SQL-string exprs: py4j round-trips dominate query BUILD time for
    # wide aggregate lists (see _simhash_from_tokens); parsed trees are
    # identical (INT seed literal, same hash input), results unchanged
    sig = sh.groupBy("doc_id").agg(
        *[
            F.expr(f"min(xxhash64({i}, shingle))").alias(f"mh_{i}")
            for i in range(k)
        ]
    )
    band_sqls = [
        "named_struct('band', {b}, 'bucket', xxhash64({cols}))".format(
            b=b, cols=", ".join(f"mh_{b * rows + r}" for r in range(rows))
        )
        for b in range(bands)
    ]
    buckets = sig.select(
        "doc_id",
        F.explode(F.expr("array(" + ", ".join(band_sqls) + ")")).alias("bb"),
    ).select("doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    a, b = buckets.alias("a"), buckets.alias("b")
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    return _jaccard_verify(cand, arr, threshold)


def with_minhash_buckets(
    df: DataFrame,
    text_col: str = "text",
    k: int = 16,
    bands: int = 4,
    n: int = 3,
) -> DataFrame:
    """Adds ``mh_buckets array<long>``: the doc's banded-MinHash bucket
    ids, computed ENTIRELY with per-row column expressions (shingle
    array -> k min-of-xxhash64 folds -> per-band hash). No shuffle, no
    state, no Python -- so it composes into a STREAMING plan ahead of
    a single keyed stateful operator (the aggregate-free formulation
    is what makes streaming near-dup possible: a groupBy(doc) minhash
    would be an unclosable stateful aggregation). The per-band minhash
    values equal the batch ``minhash_signatures`` values for the same
    (k, n) -- both take min(xxhash64(i, s)) over the doc's distinct
    shingles -- though the bucket ids are band-salted here.

    Cost note: higher-order fns are interpreted per element (~k * |S|
    evals/row); fine for ingest-rate streams, and the batch path keeps
    its one-shuffle agg formulation for bulk re-index jobs."""
    assert k % bands == 0
    rows = k // bands
    toks, grams = _gram_array(text_col, n)
    sh = F.array_distinct(grams)
    mins = [
        F.array_min(F.transform(sh, lambda s, i=i: F.xxhash64(F.lit(i), s)))
        for i in range(k)
    ]
    buckets = F.array(
        *[
            F.xxhash64(F.lit(b), *[mins[b * rows + r] for r in range(rows)])
            for b in range(bands)
        ]
    )
    return df.withColumn(
        "mh_buckets",
        F.when(F.size(toks) >= n, buckets).otherwise(
            F.array().cast("array<long>")
        ),
    )


NEARDUP_CAND_SCHEMA = "doc_id long, dup_of long, band int, ts timestamp"


def stream_neardup_candidates(
    stream: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ts_col: str = "ts",
    k: int = 16,
    bands: int = 4,
    n: int = 3,
    horizon_ms: int = 3_600_000,
) -> DataFrame:
    """STREAMING near-duplicate detection at ingest: emit a candidate
    row (doc_id, dup_of, band) whenever a document's MinHash band
    bucket was already claimed by an earlier document inside the state
    horizon. State = one (first_doc_id, first_ts) per live (band,
    bucket) key, evicted by event time -- bounded at ingest scale the
    same way the cooldown operator is. Recall is the banded-MinHash
    S-curve; precision is a CANDIDATE guarantee only: verify exact
    Jaccard downstream (foreachBatch or the batch ``_jaccard_verify``)
    before dropping data. A pair colliding in multiple bands emits one
    row per band (a second streaming dedup would stack stateful ops;
    consumers distinct() in the sink). Requires ``withWatermark``
    upstream."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql import types as T

    state_schema = T.StructType(
        [
            T.StructField("first_doc", T.LongType(), True),
            T.StructField("first_ts_ns", T.LongType(), True),
        ]
    )
    bb = with_minhash_buckets(stream, text_col, k, bands, n).select(
        F.col(id_col).alias("doc_id"),
        F.col(ts_col).alias("ts"),
        F.posexplode("mh_buckets").alias("band", "bucket"),
    )

    def fn(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        band, _bucket = key
        pdfs = [p for p in pdf_iter if not p.empty]
        if not pdfs:
            return
        g = pd.concat(pdfs, ignore_index=True).sort_values(
            ["ts", "doc_id"], kind="mergesort"
        )
        st = state.getOption
        first_doc = st[0] if st is not None else None
        first_ts = st[1] if st is not None else None
        out = []
        for row in g.itertuples(index=False):
            ts_ns = int(pd.Timestamp(row.ts).value)
            if first_doc is None:
                first_doc, first_ts = int(row.doc_id), ts_ns
            elif int(row.doc_id) != first_doc:
                out.append(
                    (int(row.doc_id), first_doc, int(band), pd.Timestamp(ts_ns))
                )
        state.update((int(first_doc), int(first_ts)))
        wm = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(
            max(first_ts // 1_000_000 + horizon_ms, wm + 1000)
        )
        if out:
            yield pd.DataFrame(
                out, columns=["doc_id", "dup_of", "band", "ts"]
            )

    return bb.groupBy("band", "bucket").applyInPandasWithState(
        fn,
        outputStructType=NEARDUP_CAND_SCHEMA,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def _fan_out(df: DataFrame) -> DataFrame:
    """Rebalance BEFORE an explode: tokenization/shingling amplifies
    rows ~|tokens|x, so the pre-explode partition count bounds the
    parallelism of everything downstream (shared impl: text.fan_out)."""
    from logeventprocessor_spark.operators.text import fan_out

    return fan_out(df)


def _tokens(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    return _fan_out(df).select(
        F.col(id_col).alias("doc_id"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("tok"),
    )


def _simhash_from_tokens(toks: DataFrame, n_bits: int) -> DataFrame:
    """(doc_id, h) -> (doc_id, simhash): per bit sum +1/-1, reassemble.
    ``n_bits`` codegen'd aggregates, ONE shuffle, no Python.

    The expressions are built as SQL strings parsed JVM-side in one
    py4j call each: the equivalent Column-operator chain costs ~8 py4j
    round-trips per bit (measured: ~1.5 s of pure driver-side Python
    per query BUILD at n_bits=60 -- 4x the query's execution time).
    The parsed trees are identical (same functions, same literal
    types), so results are bit-for-bit unchanged."""
    aggs = [
        F.expr(
            f"sum(CASE WHEN (shiftright(h, {b}) & 1) = 1"
            f" THEN 1 ELSE -1 END)"
        ).alias(f"b_{b}")
        for b in range(n_bits)
    ]
    sums = toks.groupBy("doc_id").agg(*aggs)
    # shiftleft in the JVM: bit 63 wraps to the sign bit, which a
    # python 1<<63 literal cannot express as LongType
    sig_sql = " + ".join(
        f"(CASE WHEN b_{b} > 0 THEN shiftleft(CAST(1 AS BIGINT), {b})"
        f" ELSE CAST(0 AS BIGINT) END)"
        for b in range(n_bits)
    )
    return sums.select("doc_id", F.expr(sig_sql).alias("simhash"))


def simhash(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash per doc (token hash = xxhash64, the fast path)."""
    return _simhash_from_tokens(
        _tokens(df, id_col, text_col).withColumn("h", F.xxhash64("tok")), 64
    )


def simhash_md5(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """60-bit SimHash whose token hash is the first 15 hex chars of
    md5 -- dialect-portable (DuckDB computes the IDENTICAL signature
    via ``CAST('0x'||substring(md5(tok),1,15) AS BIGINT)``), so the
    whole operator gets a full value-level oracle. 60 bits keeps the
    value positive in a signed 64-bit long on both engines."""
    toks = _tokens(df, id_col, text_col).withColumn(
        "h", F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("long")
    )
    return _simhash_from_tokens(toks, 60)


def compound_key_bits(
    n_bits: int = 64, n_blocks: int = 6, max_hamming: int = 3
) -> int:
    """Minimum join-key width (bits) of the Manku compound scheme at
    this geometry: the r = n_blocks - max_hamming NARROWEST blocks
    concatenated. The at-scale design gate (round-3 verdict) is
    >= 30 bits -- asserted for the registered geometry in
    tests/test_datapipe.py."""
    r = n_blocks - max_hamming
    base, rem = divmod(n_bits, n_blocks)
    widths = sorted(base + (1 if i < rem else 0) for i in range(n_blocks))
    return sum(widths[:r])


def _simhash_compound_pairs(
    sig: DataFrame, n_bits: int, n_blocks: int, max_hamming: int
) -> DataFrame:
    """(doc_id, simhash) -> near-dup pairs with hamming <= max_hamming
    via Manku-style compound block keys (Manku, Jain & Das Sarma,
    "Detecting Near-Duplicates for Web Crawling", WWW'07 -- the SimHash
    paper's own dedup scheme). EXACT (full recall) whenever
    max_hamming < n_blocks: by pigeonhole a pair within hamming d over
    n_blocks blocks agrees on >= n_blocks - d of them, so joining once
    per COMBINATION of r = n_blocks - d blocks (key = those blocks'
    values concatenated) misses no pair. r = 1 is the single-block
    permutation scheme; each extra block widens the key. With
    n_blocks=6, d=3 over 64 bits: C(6,3)=20 combos of >=30-bit keys
    (2^30+ distinct values vs 2^10 for d=6 single blocks) --
    per-bucket candidate volume stays ~N/2^30 instead of going
    quadratic at billion-doc scale.

    The blocks PARTITION all n_bits (variable widths when n_blocks does
    not divide n_bits -- e.g. 7 blocks over 64 bits = widths
    10,9,9,9,9,9,9); a bit left out of every block would break the
    pigeonhole argument, so full coverage is structural, not optional.
    """
    from itertools import combinations

    r = n_blocks - max_hamming
    assert r >= 1, (
        f"full recall needs max_hamming < n_blocks "
        f"(got max_hamming={max_hamming}, n_blocks={n_blocks}): a pair "
        f"whose differing bits spread across all blocks would be missed"
    )
    # materialize the signatures: the combo-key self-join would
    # otherwise evaluate the explode + n_bits-agg subtree once per
    # side (exchange reuse does not fire across the Generate) --
    # guide §2.4
    sig = sig.localCheckpoint(eager=False)
    base, rem = divmod(n_bits, n_blocks)
    widths = [base + (1 if i < rem else 0) for i in range(n_blocks)]
    offsets = [sum(widths[:i]) for i in range(n_blocks)]
    # JVM-parsed SQL for the C(n_blocks, r) combo-key array: the
    # Column-operator form cost ~6 py4j round-trips per (combo, block)
    # -- ~360 driver-side calls at the default geometry, the dominant
    # share of the query's BUILD time (see _simhash_from_tokens).
    # Arithmetic shiftright sign-extends; the mask truncates to this
    # block's bits (correct for the sign-bit block too).
    combo_sqls = []
    for ci, combo in enumerate(combinations(range(n_blocks), r)):
        terms = []
        shift = 0
        for b in combo:
            mask = (1 << widths[b]) - 1
            terms.append(
                f"shiftleft(CAST((shiftright(simhash, {offsets[b]})"
                f" & {mask}) AS BIGINT), {shift})"
            )
            shift += widths[b]
        assert shift < 63, "compound key must fit a signed long"
        combo_sqls.append(
            f"named_struct('combo', {ci}, 'key', {' + '.join(terms)})"
        )
    keys = sig.select(
        "doc_id",
        "simhash",
        F.explode(F.expr("array(" + ", ".join(combo_sqls) + ")")).alias("c"),
    ).select(
        "doc_id", "simhash", F.col("c.combo").alias("combo"),
        F.col("c.key").alias("key"),
    )
    a, b = keys.alias("a"), keys.alias("b")
    hamming = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    ).cast("int")
    # hamming-filter BEFORE distinct: the combo join emits up to
    # C(n_blocks, r) copies of each pair, but the filter runs inside
    # the join's codegen stage for free, so the distinct only shuffles
    # the (tiny) qualifying pair set instead of the full candidate
    # volume -- with many narrow blocks the candidate set is large and
    # the order of these two ops dominates
    return (
        a.join(b, ["combo", "key"])
        .filter((F.col("a.doc_id") < F.col("b.doc_id")) & (hamming <= max_hamming))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .distinct()
    )


def simhash_md5_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_blocks: int | None = None,
) -> DataFrame:
    """EXACT near-dup pairs (hamming <= max_hamming over the portable
    60-bit md5 SimHash) -- fully DuckDB-oracle-able, pair for pair.
    Candidates come from the block-combo join
    (``_simhash_compound_pairs``); ``n_blocks`` defaults to
    ``max(6, max_hamming + 1)`` -- at max_hamming=3 that is 3-of-6
    block combos with 30-bit join keys, the 10^9-doc key cardinality
    -- and an EXPLICIT value is honored, never silently ignored."""
    if n_blocks is None:
        n_blocks = max(6, max_hamming + 1)
    return _simhash_compound_pairs(
        simhash_md5(df, id_col, text_col), 60, n_blocks, max_hamming
    )


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_blocks: int | None = None,
) -> DataFrame:
    """EXACT near-dup pairs by 64-bit xxhash SimHash hamming distance
    <= max_hamming, same candidate join and ``n_blocks`` default as
    ``simhash_md5_pairs`` (>=30-bit keys at max_hamming=3).

    SCALE NOTE (round-3 verdict): above max_hamming=5 the default is
    the single-block scheme (n_blocks = max_hamming + 1), whose keys
    are only 64/n_blocks bits wide, so the join-key cardinality
    collapses and each bucket's self-join goes quadratic -- fine for
    small batch re-index jobs that need hamming > 5, not for
    billion-doc corpora."""
    if n_blocks is None:
        n_blocks = max(6, max_hamming + 1)
    return _simhash_compound_pairs(
        simhash(df, id_col, text_col), 64, n_blocks, max_hamming
    )
