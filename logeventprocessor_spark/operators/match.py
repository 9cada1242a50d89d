"""The core match operator: event x rule cross-apply (SURVEY.md 2.4).

Semantics from the reference (/root/reference/):
for EVERY turn, apply ALL enabled rules in definition order
(RegexMatcher::processEvent RegexMatcher.cpp:56-79;
ActionManager.cpp:49-120, index-order determinism :126), emit one match
row per (turn, rule) that fires, with ``extracted`` = group(1) if the
pattern has >=1 group else group(0) (ActionManager.cpp:72-77).

Two entry points remain, each for the reason written next to it:

* ``match_turns`` -- the hot path: Arrow-native ``mapInArrow``. Patterns are
  compiled ONCE per executor per rule-set (module-level cache keyed by
  a rules fingerprint -- the reference's regex precompilation,
  RegexMatcher.cpp:104-117, minus its per-event recompile anti-pattern
  at ActionManager.cpp:64 which we deliberately do NOT reproduce).
  Three-tier filtering keeps the hot path off Python objects:
  (1) a JVM-side codegen'd OR-of-contains pre-filter drops rows with
  no rule's required literal BEFORE the Python boundary (Arrow IPC of
  the turn stream is the operator's measured bottleneck);
  (2) per-rule C++ substring scans (pyarrow.compute) on the zero-copy
  batch pick candidates; (3) only candidates become Python strings for
  the exact ``re`` search+extract.
  This is a broadcast nested-loop join in disguise: the rule list rides
  the task closure (a few KB), the turns side streams through in
  columnar batches, so the operator needs NO shuffle at all -- it
  scales linearly with input partitions on a 1000-executor cluster.
  Hot rule reload needs no variant: ``streaming.pipeline.start_pipeline``
  resolves a rule set per micro-batch on the driver and calls
  ``match_turns`` with it, so every task of a batch sees one version.

* ``match_turns_sql`` -- the dialect-parity reference: pure-Catalyst
  variant (RLIKE + regexp_extract inside whole-stage codegen) for rule
  corpora whose group(1)-else-group(0) semantics regexp_extract can
  express (we wrap group-free patterns in one capture group, which
  makes group(1) == group(0)); pinned equal to ``match_turns`` by
  tests/test_match_batch.py::test_sql_variant_agrees_with_udf_variant.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from logeventprocessor_spark.rules import Rule
from logeventprocessor_spark.schema import MATCHES_SCHEMA

# (rule_id, rule_idx, pattern, n_groups) compiled-cache, keyed by the
# rule-set fingerprint; lives per Python worker process (per executor).
_COMPILED_CACHE: dict[tuple, list] = {}

_META = set(".^$*+?()[]{}|\\")
_ESCAPABLE = {c: c for c in ".^$*+?()[]{}|\\-/ "}


def prefilter_literal(pattern: str) -> str | None:
    """Longest literal substring REQUIRED by every match of ``pattern``
    (lowercased), or None when none can be proven.

    Used as a vectorized substring pre-filter: rows not containing the
    literal cannot match, so the (much costlier) regex only runs on
    candidates. Conservative rules:
    * top-level alternation ('|') anywhere -> give up (a run inside one
      branch is not required);
    * ``(?...)`` constructs (inline flags, non-capturing groups,
      lookaround) -> give up;
    * a ``[...]`` character class is ONE opaque non-literal atom: it
      terminates the current run and contributes nothing (its contents
      are alternatives, never required literals);
    * ``\\`` + a char outside _ESCAPABLE (``\\b \\d \\w \\s`` etc.) is
      likewise an opaque atom -- NOT the bare letter;
    * a run followed by '?', '*' or '{0' has an optional last atom ->
      trim the run's last char;
    * escaped metachars (\\[ etc.) contribute their literal char.
    """
    if "|" in pattern or "(?" in pattern:
        return None
    # an optional GROUP can hide a run's optionality from the
    # next-char rule below ((abc)?def) -> give up on such patterns
    if re.search(r"\)[?*]|\)\{0", pattern):
        return None
    runs: list[tuple[int, str]] = []  # (end_index_in_pattern, run_text)
    cur: list[str] = []
    i = 0
    n = len(pattern)
    while i < n:
        c = pattern[i]
        if c == "\\":
            if i + 1 >= n:
                return None  # dangling backslash: unrecognized
            esc = pattern[i + 1]
            if esc in _ESCAPABLE:
                cur.append(esc)
            else:
                # \b \B \d \D \w \W \s \S, backrefs, ...: opaque
                # non-literal atom -- flush the run, contribute nothing
                if cur:
                    runs.append((i, "".join(cur)))
                    cur = []
            i += 2
            continue
        if c == "[":
            # a character class is one opaque atom: skip it wholesale
            if cur:
                runs.append((i, "".join(cur)))
                cur = []
            j = i + 1
            if j < n and pattern[j] == "^":
                j += 1
            if j < n and pattern[j] == "]":
                j += 1  # leading ']' is literal inside a class
            while j < n and pattern[j] != "]":
                j += 2 if pattern[j] == "\\" else 1
            if j >= n:
                return None  # unterminated class: unrecognized
            i = j + 1
            continue
        if c == "{":
            # skip {m,n} wholesale: its digits are repeat counts, not
            # required literal text (a{1234} never contains "1234")
            if cur:
                runs.append((i, "".join(cur)))
                cur = []
            j = pattern.find("}", i + 1)
            if j < 0:
                return None  # bare '{': unrecognized, give up
            i = j + 1
            continue
        if c in _META:
            if cur:
                runs.append((i, "".join(cur)))
                cur = []
            i += 1
            continue
        cur.append(c)
        i += 1
    if cur:
        runs.append((n, "".join(cur)))
    best = ""
    for end, run in runs:
        nxt = pattern[end] if end < n else ""
        if nxt == "?" or nxt == "*" or (nxt == "{" and pattern[end:].startswith("{0")):
            run = run[:-1]  # last atom optional
        if len(run) > len(best):
            best = run
    return best.lower() if len(best) >= 3 else None


def _rules_payload(rules: list[Rule]) -> tuple:
    """Plain-tuple form of the enabled rules (picklable, hashable)."""
    return tuple(
        (r.rule_id, r.rule_idx, r.pattern) for r in sorted(
            (r for r in rules if r.enabled), key=lambda r: r.rule_idx
        )
    )


# Keep the TWO most recent rule sets compiled: hot-reload (T8) swaps
# rule sets between micro-batches; alternating A/B sets must not
# recompile every batch. dict preserves insertion order -> LRU-ish.
_CACHE_CAPACITY = 2


def _compiled(payload: tuple) -> list:
    got = _COMPILED_CACHE.get(payload)
    if got is None:
        got = []
        for rule_id, rule_idx, pattern in payload:
            pat = re.compile(pattern, re.IGNORECASE)
            # group-free patterns: wrap so extract() yields group(0)
            extract_pat = (
                pat if pat.groups >= 1 else re.compile(f"({pattern})", re.IGNORECASE)
            )
            literal = prefilter_literal(pattern)
            # no provable literal, but the pattern sits in the
            # dialect-identical RE2 subset: the C++ RE2 scan
            # (pc.match_substring_regex) can produce the candidate mask
            # -- no pandas conversion of the batch text
            safe_re2 = (
                pattern
                if literal is None and _safe_jvm_pattern(pattern)
                else None
            )
            got.append((rule_id, rule_idx, pat, extract_pat, literal, safe_re2))
        while len(_COMPILED_CACHE) >= _CACHE_CAPACITY:
            _COMPILED_CACHE.pop(next(iter(_COMPILED_CACHE)))
        _COMPILED_CACHE[payload] = got
    else:
        # refresh recency so an alternating pair never evicts itself
        _COMPILED_CACHE.pop(payload)
        _COMPILED_CACHE[payload] = got
    return got


def _arrow_match_batches(batches, compiled, carry_cols=()):
    """Match a stream of Arrow RecordBatches against a compiled rule
    list, STAYING in Arrow except for candidate rows.

    Why Arrow-native (mapInArrow) instead of pandas (mapInPandas):
    converting a batch to pandas materializes a Python str object for
    EVERY text/conv_id value; profiled at 5M turns that conversion was
    ~80% of the stage (a no-op mapInPandas cost 2.3 s where the whole
    match cost 2.8 s) and its allocator pressure is what made the
    stage scale at 0.41 efficiency from local[4] to local[16]
    (scripts/match_scaling_probe.py). Here the literal pre-filter runs
    as a C++ substring scan (pyarrow.compute.match_substring) over the
    zero-copy column, only CANDIDATE rows become Python strings for
    the exact ``re`` search+extract (identical semantics to the
    reference: icase unanchored search, group(1)-else-group(0),
    ActionManager.cpp:72-77), and output columns are assembled with
    ``pc.take`` -- no full-column Python materialization anywhere.

    Rules without a provable literal fall back to one pandas
    conversion of the text column per batch (shared across such
    rules), preserving exact pandas-path semantics.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    for rb in batches:
        if rb.num_rows == 0:
            continue
        ncol = {name: rb.column(i) for i, name in enumerate(rb.schema.names)}
        text = pc.fill_null(ncol["text"], "")
        lowered = pc.utf8_lower(text)
        text_pd = None  # lazy: only built if some rule has no prefilter
        for rule_id, rule_idx, pat, extract_pat, literal, safe_re2 in compiled:
            if literal is not None or safe_re2 is not None:
                # candidate mask stays in C++: substring scan for
                # literal-bearing rules, RE2 scan for literal-free
                # rules inside the dialect-identical subset (replaces
                # the former full-batch pandas conversion + pandas
                # regex for such rules -- guide §4.2)
                if literal is not None:
                    mask = pc.match_substring(lowered, literal)
                else:
                    mask = pc.match_substring_regex(
                        text, safe_re2, ignore_case=True
                    )
                cand_idx = pc.indices_nonzero(mask)
                if len(cand_idx) == 0:
                    continue
                cand_texts = pc.take(text, cand_idx).to_pylist()
                keep, extracted = [], []
                grp = 1 if pat.groups >= 1 else 0
                for j, t in enumerate(cand_texts):
                    m = pat.search(t)
                    if m is not None:
                        keep.append(j)
                        extracted.append(m.group(grp) or "")
                if not keep:
                    continue
                idx = pc.take(cand_idx, pa.array(keep, pa.int64()))
            else:
                if text_pd is None:
                    text_pd = text.to_pandas()
                import warnings

                with warnings.catch_warnings():
                    warnings.simplefilter("ignore", UserWarning)
                    sub = text_pd[text_pd.str.contains(pat, na=False)]
                if sub.empty:
                    continue
                ext = sub.str.extract(extract_pat, expand=True).iloc[:, 0]
                extracted = ext.fillna("").tolist()
                idx = pa.array(sub.index.to_numpy(), pa.int64())
            n = len(idx)
            yield pa.RecordBatch.from_arrays(
                [
                    pc.take(ncol["conv_id"], idx),
                    pc.take(ncol["turn_idx"], idx),
                    pa.array([rule_id] * n, pa.string()),
                    pa.array([rule_idx] * n, pa.int32()),
                    pa.array(extracted, pa.string()),
                    pc.take(text, idx),
                    pc.take(ncol["ts"], idx),
                ]
                # same-turn context rides the boundary for free: one
                # zero-copy pc.take per carried column, no second
                # source scan and no join state (round-5 verdict #4)
                + [pc.take(ncol[c], idx) for c in carry_cols],
                names=[
                    "conv_id", "turn_idx", "rule_id", "rule_idx",
                    "extracted", "text", "ts",
                ]
                + list(carry_cols),
            )


def match_turns(
    turns: DataFrame,
    rules: list[Rule],
    ipc_meter=None,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """turns(conv_id, turn_idx, text, ts, ...) -> MATCHES_SCHEMA rows
    (Arrow-native mapInArrow -- see ``_arrow_match_batches``).

    ``carry_cols``: extra input columns appended verbatim to every
    match row (one zero-copy ``pc.take`` each). This is how
    ``start_pipeline(with_context_join=True)`` serves SAME-turn context
    (role/tool of the matched turn), in either ``context_mode``: one
    source scan, no join state stores. A stream-stream join cannot
    share that scan -- even with both legs derived from one
    ``readStream`` frame, each batch's plan scans the files twice and
    buffers both sides in a ``StreamingSymmetricHashJoin`` -- so the
    T5 join (``stream_join_context``) is kept for CROSS-turn
    enrichment only.

    ``ipc_meter``: optional 4-tuple of Spark accumulators
    (in_bytes, in_rows, out_bytes, out_rows) that tallies the Arrow
    RecordBatch volume actually crossing the JVM<->Python boundary --
    the measured bottleneck of this operator. Used by the scaling
    harness to report IPC-bytes-per-config instead of guessing;
    ``None`` (the default) adds zero work to the hot path.

    When EVERY enabled rule has a provable required literal, a
    JVM-side codegen'd pre-filter (OR of ``contains(lower(text), lit)``)
    drops non-candidate rows BEFORE the Python boundary -- the Arrow
    IPC transfer of the turn stream is the measured bottleneck of this
    operator (scripts/match_scaling_probe.py), and a row containing no
    rule's literal cannot match any rule, so only candidates need to
    cross. The Python side re-applies its own per-rule prefilter +
    exact ``re`` semantics, so this is purely a row-volume reduction.
    """
    payload = _rules_payload(rules)

    carry = tuple(carry_cols)

    if ipc_meter is None:
        def fn(batches):
            yield from _arrow_match_batches(batches, _compiled(payload), carry)
    else:
        acc_ib, acc_ir, acc_ob, acc_or = ipc_meter

        def fn(batches):
            def metered(bs):
                for rb in bs:
                    acc_ib.add(rb.nbytes)
                    acc_ir.add(rb.num_rows)
                    yield rb

            for ob in _arrow_match_batches(
                metered(batches), _compiled(payload), carry
            ):
                acc_ob.add(ob.nbytes)
                acc_or.add(ob.num_rows)
                yield ob

    cols = [c for c in ("conv_id", "turn_idx", "text", "ts") if c in turns.columns]
    cols += [c for c in carry if c not in cols]
    src = turns.select(*cols)
    cond = prefilter_condition(rules)
    if cond is not None:
        src = src.filter(cond)
    out_schema = MATCHES_SCHEMA
    if carry:
        out_schema = T.StructType(
            list(MATCHES_SCHEMA.fields)
            + [src.schema[c] for c in carry]
        )
    return src.mapInArrow(fn, schema=out_schema)


_SAFE_CLASS_CHARS = frozenset("0123456789 _-")
_SAFE_LIT_CHARS = _SAFE_CLASS_CHARS | frozenset(":;,'%/@!# ")


def _safe_jvm_pattern(pattern: str) -> bool:
    """True only for patterns inside a TINY, provably dialect-identical
    regex subset: literal uncased ASCII chars (digits, space, a few
    punctuation marks), simple character classes of those, and greedy
    quantifiers ``* + ? {m} {m,n}``. On this subset Java regex
    (``RLIKE``), RE2 (pyarrow), and Python ``re`` agree on unanchored
    case-insensitive search semantics, so such a pattern can serve as
    its own JVM- or Arrow-side candidate prefilter when no required
    literal is provable (e.g. ``[0-9]{6}``). Anything else (escapes,
    groups, alternation, anchors, lookaround, negated classes) returns
    False -- the prefilter must never produce a false NEGATIVE, so when
    unsure the rule simply contributes no pruning.

    Deliberately EXCLUDED from the subset (round-6 advice): ``.`` --
    Java's dot excludes \\r/U+0085/U+2028-9 while Python's excludes
    only \\n, so a Java-side dot prefilter could false-negative rows
    Python would match -- and CASED LETTERS, because Java ``(?i)``
    folds ASCII-only while Python ``re.IGNORECASE`` folds Unicode
    (e.g. U+212A KELVIN SIGN matches ``k`` in Python but not Java).
    Digits, space, and uncased punctuation are fold-invariant in every
    dialect."""
    i, n = 0, len(pattern)
    prev_atom = False
    while i < n:
        c = pattern[i]
        if c in _SAFE_LIT_CHARS:
            prev_atom = True
            i += 1
        elif c == "[":
            j = pattern.find("]", i + 1)
            if j < 0:
                return False
            body = pattern[i + 1 : j]
            if not body or body[0] == "^":
                return False
            if any(ch not in _SAFE_CLASS_CHARS for ch in body):
                return False
            prev_atom = True
            i = j + 1
        elif c == "{":
            j = pattern.find("}", i + 1)
            if j < 0 or not prev_atom:
                return False
            if not re.fullmatch(r"\d+(,\d*)?", pattern[i + 1 : j]):
                return False
            prev_atom = False
            i = j + 1
        elif c in "*+?":
            if not prev_atom:
                return False
            prev_atom = False
            i += 1
        else:
            return False
    return n > 0


def prefilter_condition(rules: list[Rule]):
    """The JVM-side codegen'd candidate filter as a Column: OR over
    every enabled rule of either ``contains(lower(text), literal)``
    (when a required literal is provable -- the cheap substring scan)
    or ``text RLIKE pattern`` (when the pattern itself sits in the
    dialect-identical safe subset of ``_safe_jvm_pattern``, e.g. a pure
    character-class rule like ``[0-9]{6}`` that has no literal).
    Returns None when some rule admits neither -- then no JVM pruning
    is possible and every row crosses the Arrow boundary.
    A row failing this cannot match ANY rule -- so it gates the Arrow
    boundary in ``match_turns`` and equally prunes the CONTEXT side of
    the stream-stream join (a turn that cannot match never needs its
    role/tool buffered in join state)."""
    payload = _rules_payload(rules)
    if not payload:
        return None
    lits = set()
    rlikes = set()
    for (_, _, p) in payload:
        lit = prefilter_literal(p)
        if lit is not None:
            lits.add(lit)
        elif _safe_jvm_pattern(p):
            rlikes.add(p)
        else:
            return None
    low = F.lower(F.col("text"))
    cond = None
    for lit in sorted(lits):
        c = low.contains(F.lit(lit))
        cond = c if cond is None else (cond | c)
    for pat in sorted(rlikes):
        c = F.col("text").rlike(f"(?i){pat}")
        cond = c if cond is None else (cond | c)
    return F.coalesce(cond, F.lit(False))


def _java_pattern(pattern: str, for_extract: bool) -> str:
    """Case-insensitive Java-regex form; wrap group-free patterns for
    extraction so group(1) == group(0)."""
    n_groups = re.compile(pattern).groups
    if for_extract and n_groups == 0:
        pattern = f"({pattern})"
    return f"(?i){pattern}"


def match_turns_sql(turns: DataFrame, rules: list[Rule]) -> DataFrame:
    """Pure-Catalyst (whole-stage-codegen) variant of ``match_turns``.

    Builds one RLIKE/regexp_extract branch per rule and unions via a
    stack of per-rule projections over a single scan (Catalyst collapses
    the union into one pass when beneficial). Suitable when the rule
    corpus is valid Java regex with the same semantics as Python re
    (true for the canonical and document corpora -- pinned by tests).
    """
    enabled = sorted((r for r in rules if r.enabled), key=lambda r: r.rule_idx)
    parts = []
    for r in enabled:
        m = turns.filter(F.col("text").rlike(_java_pattern(r.pattern, False)))
        parts.append(
            m.select(
                "conv_id",
                "turn_idx",
                F.lit(r.rule_id).alias("rule_id"),
                F.lit(r.rule_idx).cast("int").alias("rule_idx"),
                F.regexp_extract(
                    F.col("text"), _java_pattern(r.pattern, True), 1
                ).alias("extracted"),
                "text",
                "ts",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def classify_unmatched(turns: DataFrame, matches: DataFrame) -> DataFrame:
    """Fallback substring classifier for turns no rule matched
    (reference main.cpp:47-58: find("ERROR"/"WARNING"/"INFO")).
    Pure CASE WHEN + left-anti join.
    """
    unmatched = turns.join(
        matches.select("conv_id", "turn_idx").distinct(),
        ["conv_id", "turn_idx"],
        "left_anti",
    )
    return unmatched.withColumn(
        "level",
        F.when(F.col("text").contains("ERROR"), F.lit("error"))
        .when(F.col("text").contains("WARNING"), F.lit("warning"))
        .when(F.col("text").contains("INFO"), F.lit("info"))
        .otherwise(F.lit("unclassified")),
    )
