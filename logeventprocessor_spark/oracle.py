"""Pure-Python oracle of the reference's match semantics.

This is an INDEPENDENT, deliberately-naive serial implementation of the
reference's data path (ActionManager::processEvent,
/root/reference/LogEventProcessor/ActionManager.cpp:49-120) used only
to generate golden fixtures for pytest. It shares no code with the
Spark operators it checks.

Encoded semantics (each with its reference citation):

* rules iterate in definition (index) order -- ActionManager.cpp:126;
* disabled rules and disabled steps are skipped --
  RegexMatcher.cpp:64-66, ActionManager.cpp:80;
* match = case-insensitive unanchored search -- RegexMatcher.cpp:69,
  :109 (ECMAScript icase regex_search == Python re.search+IGNORECASE
  for the canonical corpus);
* extracted = group(1) if the PATTERN has >=1 group (even if the group
  matched empty / did not participate -> empty string), else the full
  match group(0) -- ActionManager.cpp:72-77;
* rendered value = step value with every '#' replaced by extracted,
  only when extracted is non-empty -- ActionManager.cpp:83-90; for
  'sms'/'email' steps the FULL turn text is forwarded --
  ActionManager.cpp:82, :146, ActionSender.cpp:564-588;
* cooldown: keyed by (conv_id, rule_id), in EVENT TIME: a fire is
  suppressed if ts - last_EMITTED_fire_ts < cooldown_ms; suppressed
  fires do NOT reset the clock -- ActionManager.cpp:96-110 (state map
  ActionManager.h:148-150). The reference uses wall-clock on a single
  implicit stream; we define it deterministically in event time per
  conversation (SURVEY.md section 7.4).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

import pandas as pd

from logeventprocessor_spark.rules import Rule


@dataclass(frozen=True)
class OracleRow:
    conv_id: str
    turn_idx: int
    rule_id: str
    rule_idx: int
    step_idx: int
    extracted: str
    action_type: str
    rendered_value: str
    ts: pd.Timestamp
    suppressed_by_cooldown: bool


def extract_value(m: re.Match) -> str:
    """group(1)-else-group(0), with non-participating group -> ''."""
    if m.re.groups >= 1:
        return m.group(1) or ""
    return m.group(0)


def render_value(step_value: str, extracted: str, action_type: str, text: str) -> str:
    if action_type in ("sms", "email"):
        return text
    if extracted:
        return step_value.replace("#", extracted)
    return step_value


def oracle_matches(
    turns: pd.DataFrame,
    rules: list[Rule],
    with_cooldown: bool = True,
    include_suppressed: bool = False,
) -> pd.DataFrame:
    """Golden fixture: one row per (turn, fired rule, enabled step).

    ``turns`` must have columns conv_id, turn_idx, text, ts. Processing
    order inside a conversation is event-time order with turn_idx as
    tiebreak (the engine's deterministic ordering contract).
    """
    compiled = [
        (r, re.compile(r.pattern, re.IGNORECASE)) for r in rules if r.enabled
    ]
    t = turns.sort_values(["conv_id", "ts", "turn_idx"], kind="mergesort")
    last_fire: dict[tuple[str, str], pd.Timestamp] = {}
    out: list[OracleRow] = []
    for row in t.itertuples(index=False):
        text = row.text or ""
        for rule, pat in compiled:
            m = pat.search(text)
            if not m:
                continue
            suppressed = False
            if with_cooldown and rule.cooldown_ms > 0:
                key = (row.conv_id, rule.rule_id)
                prev = last_fire.get(key)
                # exact Timedelta comparison: float milliseconds round
                # some exact-boundary gaps (1001 ms -> 1000.999...) below
                # the cooldown and would suppress a fire that is due
                if prev is not None and (
                    row.ts - prev < pd.Timedelta(milliseconds=rule.cooldown_ms)
                ):
                    suppressed = True
                else:
                    last_fire[key] = row.ts
            extracted = extract_value(m)
            for step in rule.steps:
                if not step.enabled:
                    continue
                if suppressed and not include_suppressed:
                    continue
                out.append(
                    OracleRow(
                        conv_id=row.conv_id,
                        turn_idx=int(row.turn_idx),
                        rule_id=rule.rule_id,
                        rule_idx=rule.rule_idx,
                        step_idx=step.step_idx,
                        extracted=extracted,
                        action_type=step.type,
                        rendered_value=render_value(
                            step.value, extracted, step.type, text
                        ),
                        ts=row.ts,
                        suppressed_by_cooldown=suppressed,
                    )
                )
    cols = [
        "conv_id",
        "turn_idx",
        "rule_id",
        "rule_idx",
        "step_idx",
        "extracted",
        "action_type",
        "rendered_value",
        "ts",
        "suppressed_by_cooldown",
    ]
    pdf = pd.DataFrame([r.__dict__ for r in out], columns=cols)
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf["rule_idx"] = pdf["rule_idx"].astype("int32")
    pdf["step_idx"] = pdf["step_idx"].astype("int32")
    return pdf.sort_values(
        ["conv_id", "turn_idx", "rule_idx", "step_idx"], kind="mergesort"
    ).reset_index(drop=True)


def _sequence_candidates(matches, rule_a, rule_b, within_ms):
    """(conv, B row, preceding A rows) per B fire: an A precedes a B iff
    (a_ts, a_turn) <= (b_ts, b_turn) and b_ts - a_ts <= within_ms; a
    turn fires each rule once."""
    a = matches[matches.rule_id == rule_a].drop_duplicates(["conv_id", "turn_idx"])
    b = matches[matches.rule_id == rule_b].drop_duplicates(["conv_id", "turn_idx"])
    within = pd.Timedelta(milliseconds=within_ms)
    for conv, bg in b.groupby("conv_id"):
        ag = a[a.conv_id == conv]
        for brow in bg.itertuples(index=False):
            precedes = (ag.ts < brow.ts) | (
                (ag.ts == brow.ts) & (ag.turn_idx <= brow.turn_idx)
            )
            yield conv, brow, ag[precedes & (brow.ts - ag.ts <= within)]


def _pairs_frame(out) -> pd.DataFrame:
    pdf = pd.DataFrame(
        out, columns=["conv_id", "a_turn_idx", "b_turn_idx", "a_ts", "b_ts"]
    )
    return pdf.sort_values(["conv_id", "b_turn_idx", "a_turn_idx"]).reset_index(
        drop=True
    )


def oracle_sequence_pairs(
    matches: pd.DataFrame, rule_a: str, rule_b: str, within_ms: int
) -> pd.DataFrame:
    """Batch oracle for A-then-B sequence detection (the reference's
    chained-matcher generalization, SURVEY.md 2.5 T3): for each fire of
    rule B, the LATEST preceding fire of rule A in the same conversation
    (latest by (ts, turn_idx))."""
    out = []
    for conv, brow, cand in _sequence_candidates(matches, rule_a, rule_b, within_ms):
        if not cand.empty:
            arow = cand.sort_values(["ts", "turn_idx"]).iloc[-1]
            out.append((conv, int(arow.turn_idx), int(brow.turn_idx), arow.ts, brow.ts))
    return _pairs_frame(out)


def oracle_sequence_all_pairs(
    matches: pd.DataFrame, rule_a: str, rule_b: str, within_ms: int
) -> pd.DataFrame:
    """EVERY-A counterpart of ``oracle_sequence_pairs``: one row per
    (preceding A, B) fire pair."""
    out = [
        (conv, int(arow.turn_idx), int(brow.turn_idx), arow.ts, brow.ts)
        for conv, brow, cand in _sequence_candidates(matches, rule_a, rule_b, within_ms)
        for arow in cand.itertuples(index=False)
    ]
    return _pairs_frame(out)


# --------------------------------------------------------------------
# pure-Python XXH64 + SimHash: an INDEPENDENT implementation of the
# 64-bit signature path so the xxhash-SimHash near-dup operator gets a
# value-level oracle (DuckDB has no xxhash64; instead the oracle brute-
# scans signatures computed HERE, sharing no code with the Spark side).
# XXH64 follows the public xxHash spec (github.com/Cyan4973/xxHash,
# BSD-2); Spark's ``xxhash64`` is the same algorithm with seed 42.
# --------------------------------------------------------------------

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, word: int) -> int:
    return (_rotl((acc + word * _P2) & _M64, 31) * _P1) & _M64


def xxh64(data: bytes, seed: int = 42) -> int:
    """XXH64 per the public spec; returns Spark's SIGNED long."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M64
        v2 = (seed + _P2) & _M64
        v3 = seed & _M64
        v4 = (seed - _P1) & _M64
        while i + 32 <= n:
            v1 = _round(v1, int.from_bytes(data[i : i + 8], "little"))
            v2 = _round(v2, int.from_bytes(data[i + 8 : i + 16], "little"))
            v3 = _round(v3, int.from_bytes(data[i + 16 : i + 24], "little"))
            v4 = _round(v4, int.from_bytes(data[i + 24 : i + 32], "little"))
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M64
        for v in (v1, v2, v3, v4):
            h = (((h ^ _round(0, v)) * _P1) + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h = (
            _rotl(h ^ _round(0, int.from_bytes(data[i : i + 8], "little")), 27)
            * _P1
            + _P4
        ) & _M64
        i += 8
    if i + 4 <= n:
        h = (
            _rotl(h ^ ((int.from_bytes(data[i : i + 4], "little") * _P1) & _M64), 23)
            * _P2
            + _P3
        ) & _M64
        i += 4
    while i < n:
        h = (_rotl(h ^ ((data[i] * _P5) & _M64), 11) * _P1) & _M64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _M64
    h ^= h >> 29
    h = (h * _P3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]+")  # Java regex \s (ASCII-only)


def oracle_tokens(text: str | None) -> list[str] | None:
    """The lower-cased whitespace tokens of ``text``, by the package's
    one rule (``operators.text.ws_norm`` + ``ws_tokens``): every run of
    Java ``\\s`` -- space, tab, newline, VT, FF, CR; not NBSP or other
    Unicode spaces -- becomes one space, the edges are stripped, and
    the rest splits on the space. Empty text has one empty token;
    ``None`` has no token list."""
    if text is None:
        return None
    return _JAVA_WS.sub(" ", text).strip(" ").lower().split(" ")


def oracle_jaccard_pairs(
    texts: dict[int, str | None], threshold: float, n: int = 3
) -> dict[tuple[int, int], float]:
    """All-pairs brute force of ``dedup.ngram_jaccard_pairs``:
    ``{(a, b): round(J, 6)}`` for every ``a < b`` whose word ``n``-gram
    sets (over ``oracle_tokens``) share a gram and whose unrounded
    ``J = |A & B| / |A | B|`` is at least ``threshold``. A text with
    fewer than ``n`` tokens has no grams."""
    sets = {}
    for i, t in texts.items():
        toks = oracle_tokens(t)
        if toks is not None and len(toks) >= n:
            sets[i] = {" ".join(toks[j:j + n]) for j in range(len(toks) - n + 1)}
    ids = sorted(sets)
    out = {}
    for x, a in enumerate(ids):
        for b in ids[x + 1:]:
            inter = len(sets[a] & sets[b])
            jac = inter / (len(sets[a]) + len(sets[b]) - inter)
            if inter and jac >= threshold:
                out[(a, b)] = round(jac, 6)
    return out


def oracle_components(pairs, vertices=()) -> dict[int, int]:
    """Union-find twin of ``components.connected_components``: every
    pair endpoint and every id in ``vertices`` mapped to the least id
    of its connected component."""
    parent: dict[int, int] = {}

    def find(v: int) -> int:
        parent.setdefault(v, v)
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for v in vertices:
        find(v)
    for a, b in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def oracle_simhash64(text: str) -> int:
    """64-bit xxhash SimHash of one document -- the independent twin of
    ``operators.dedup.simhash`` (same tokenization, same per-bit
    majority vote, token hash = XXH64(utf8, seed=42))."""
    counts = [0] * 64
    for tok in oracle_tokens(text):
        h = xxh64(tok.encode("utf-8")) & _M64
        for b in range(64):
            counts[b] += 1 if (h >> b) & 1 else -1
    sig = 0
    for b in range(64):
        if counts[b] > 0:
            sig |= 1 << b
    return sig - (1 << 64) if sig >= (1 << 63) else sig
