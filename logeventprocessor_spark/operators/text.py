"""Text-analysis operators for large-scale training-data pipelines.

All hot paths are pure built-in column expressions (whole-stage
codegen, pushdown-friendly); no Python in the per-row path.

Operators: token counting (whitespace + BPE-ish word-piece regex),
quality scoring (length / punctuation / stopword ratios), language-ID
(stopword-hit heuristic), document fingerprinting (normalized md5 +
polynomial rolling hash), word n-grams.

Every whitespace token in the package comes from one rule,
``ws_norm`` + ``ws_tokens`` below; ``oracle.oracle_tokens`` and the
``WS_NORM_SQL`` fragment in ``queries.py`` are its Python and DuckDB
forms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword signatures for the heuristic language ID
LANG_STOPWORDS = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ich", "zu"],
    "fr": ["le", "la", "les", "et", "est", "une", "je", "pas"],
    "es": ["el", "la", "los", "y", "es", "una", "que", "no"],
    "zh": ["的", "是", "了", "在", "我", "有", "和", "不"],
}

# BPE-ish word-piece tokenizer: words, numbers, or single non-space
# punctuation -- a regex approximation of byte-pair pretokenization.
BPE_TOKEN_RE = r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]"


# Java regex \s: the six ASCII whitespace characters. Unicode spaces
# (NBSP, U+2028, U+3000) are not separators.
_WS_RUN = r"[ \t\n\x0B\f\r]+"


def ws_norm(col):
    """The text with every whitespace run collapsed to one space and
    the edges trimmed (Spark's ``trim`` strips only spaces, so the
    collapse comes first). Callers lower-case it where they need to."""
    return F.trim(F.regexp_replace(col, _WS_RUN, " "))


def ws_tokens(norm):
    """The tokens of a ``ws_norm`` string (lower-cased or not): split
    on its single spaces. Empty text has one empty token."""
    return F.split(norm, " ")


def gram_array(text_col: str, n: int):
    """(toks, grams) column expressions: the lower-cased tokens and the
    word n-gram array, both from ONE ``ws_norm`` string, so
    ``size(toks) - n + 1`` is the gram count whenever ``size(toks) >=
    n``. Shared by every shingle-based operator.

    The grams come from ONE codegen'd regex over the normalised text
    -- a token-start anchor plus a capturing lookahead of the next
    ``n`` tokens -- rather than an interpreted higher-order
    ``transform`` chain (``concat_ws`` over ``element_at``): the arrays
    are identical (a captured run of single-space-separated tokens IS
    the space-joined gram), and the regex form measured ~3x faster
    (0.18 vs 0.60 s for the sf0.1 explode) with none of the chain's
    JIT warm-up.

    Rows with fewer than ``n`` tokens yield the (shorter) list of
    matches; callers filter ``size(toks) >= n`` before using grams."""
    norm = F.lower(ws_norm(F.col(text_col)))
    pat = r"(?<![^ ])(?=((?:[^ ]+ ){%d}[^ ]+))" % (n - 1)
    return ws_tokens(norm), F.regexp_extract_all(norm, F.lit(pat), 1)


def fan_out(df: DataFrame) -> DataFrame:
    """Rebalance a NARROW input before per-row token/n-gram expansion:
    the pre-transform partition count bounds downstream parallelism. A
    100 TB table arrives with thousands of splits and needs NO help; a
    small local file arrives with ONE split and serializes everything
    downstream.

    Deliberately does NOT probe ``df.rdd.getNumPartitions()`` -- that
    forces plan analysis + an RDD conversion on the driver for every
    query *construction*. The master URL decides instead: a
    ``local[...]`` / ``local-cluster[...]`` master round-robin
    repartitions to ``defaultParallelism`` (local inputs are a handful
    of small files, so file splits < cores); anything else (yarn, k8s,
    standalone) passes through, because a real cluster's scan already
    yields >= cluster-parallelism splits and repartitioning 100 TB of
    text just to reshape it would be a pure-cost shuffle.
    """
    spark = df.sparkSession
    if not spark.conf.get("spark.master", "").startswith("local"):
        return df
    return df.repartition(spark.sparkContext.defaultParallelism)


def with_token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """whitespace token count + BPE-ish piece count + char count."""
    c = F.col(text_col)
    return (
        df.withColumn("n_tokens_ws", F.size(ws_tokens(ws_norm(c))))
        .withColumn(
            "n_tokens_bpe", F.size(F.regexp_extract_all(c, F.lit(BPE_TOKEN_RE), 0))
        )
        .withColumn("n_chars_calc", F.length(c))
    )


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword-ratio quality features and a
    combined [0,1] score (a Gopher/C4-style cheap filter)."""
    c = F.col(text_col)
    norm = ws_norm(c)
    toks = ws_tokens(norm)
    n_toks = F.size(toks)
    stop_lit = F.array(*[F.lit(w) for w in LANG_STOPWORDS["en"]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_lit, F.lower(t))))
    n_punct = F.size(F.regexp_extract_all(c, F.lit(r"[^\w\s]"), 0))
    # non-whitespace chars: norm holds exactly n_toks - 1 spaces
    mean_word_len = (F.length(norm) - n_toks + 1) / n_toks
    out = (
        df.withColumn("n_tokens_ws", n_toks)
        .withColumn("stopword_ratio", F.round(n_stop / n_toks, 6))
        .withColumn("punct_ratio", F.round(n_punct / F.greatest(F.length(c), F.lit(1)), 6))
        .withColumn("mean_word_len", F.round(mean_word_len, 6))
    )
    score = (
        F.when((F.col("n_tokens_ws") >= 10) & (F.col("n_tokens_ws") <= 100000), 0.4)
        .otherwise(0.0)
        + F.when(F.col("punct_ratio") <= 0.2, 0.3).otherwise(0.0)
        + F.when(
            (F.col("mean_word_len") >= 2) & (F.col("mean_word_len") <= 12), 0.3
        ).otherwise(0.0)
    )
    return out.withColumn("quality_score", F.round(score, 2))


def with_lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: most stopword hits wins (n-gram-free,
    pure CASE/array expressions; ties broken by language order)."""
    toks = F.transform(ws_tokens(ws_norm(F.col(text_col))), lambda t: F.lower(t))
    scores = {}
    for lang, words in LANG_STOPWORDS.items():
        lit = F.array(*[F.lit(w) for w in words])
        scores[lang] = F.size(F.filter(toks, lambda t: F.array_contains(lit, t)))
    df = df.withColumns({f"_s_{lang}": s for lang, s in scores.items()})
    best = F.lit("und")
    best_score = F.lit(0)
    # iterate in fixed order so ties are deterministic (first wins)
    for lang in LANG_STOPWORDS:
        cond = F.col(f"_s_{lang}") > best_score
        best = F.when(cond, F.lit(lang)).otherwise(best)
        best_score = F.when(cond, F.col(f"_s_{lang}")).otherwise(best_score)
    return df.withColumn("lang_pred", best).drop(
        *[f"_s_{lang}" for lang in LANG_STOPWORDS]
    )


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Two fingerprints: ``fp_md5`` of whitespace-normalized lowercase
    text (exact-dup key) and ``fp_roll`` -- a polynomial rolling hash
    over whitespace tokens (base 1000003 mod 2^31-1, xxhash64 per
    token), order-sensitive, computed with built-in aggregate() -- no
    Python. Modular form keeps every intermediate < 2^52 so ANSI-mode
    long arithmetic never overflows.
    """
    norm = F.lower(ws_norm(F.col(text_col)))
    toks = ws_tokens(norm)
    mod = F.lit(2147483647).cast("long")  # 2^31 - 1
    roll = F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: F.pmod(
            acc * F.lit(1000003).cast("long") + F.pmod(F.xxhash64(t), mod), mod
        ),
    )
    return df.withColumn("fp_md5", F.md5(norm.cast("binary"))).withColumn(
        "fp_roll", roll
    )


def with_repetition_ratio(
    df: DataFrame, text_col: str = "text", n: int = 3, rebalance: bool = True
) -> DataFrame:
    """Gopher-style repetition signal: the fraction of word n-grams
    that are repeats of an earlier n-gram in the SAME document
    (1 - distinct/total). Highly repetitive boilerplate scores near 1.
    Pure column expressions (transform + array_distinct) -- no explode,
    whole document stays one row; narrow inputs are rebalanced first
    (higher-order fns are interpreted per element, so parallelism is
    the lever). Pass ``rebalance=False`` when the caller already
    fanned the frame out -- a second round-robin exchange is pure
    cost.

    ``n_grams`` is ARITHMETIC (``size(toks) - n + 1`` == the length of
    the gram array by construction), so the interpreted ``transform``
    chain is evaluated exactly once per row (for ``n_distinct``) --
    Catalyst does not share the chain between two references, so the
    former ``size(grams)`` form ran the whole tokenization twice."""
    if rebalance:
        df = fan_out(df)
    # n_grams stays arithmetic: for size >= n the regex yields exactly
    # size - n + 1 matches by construction (see gram_array)
    toks, grams = gram_array(text_col, n)
    n_grams = F.size(toks) - (n - 1)
    n_distinct = F.size(F.array_distinct(grams))
    ratio = F.when(
        F.size(toks) >= n,
        F.round(1.0 - n_distinct.cast("double") / n_grams, 6),
    )
    return (
        df.withColumn("n_grams", F.when(F.size(toks) >= n, n_grams))
        .withColumn("rep_ratio", ratio)
    )


# PII classes scrubbed before training. Ordered: earlier classes are
# redacted BEFORE later ones are counted, so one span is attributed to
# exactly one class (an email's host can look like an IPv4; a 3-2-4
# SSN must not also count as a phone fragment). Patterns restrict
# themselves to the regex subset with identical semantics in Java
# (Spark) and RE2 (DuckDB): char classes, bounded repeats, \b -- no
# lookaround, no backrefs.
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
]


def with_pii_scrub(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII redaction for training corpora: adds ``n_<class>`` counts
    per PII class, ``pii_total``, and ``text_clean`` with every span
    replaced by its ``<CLASS>`` token.

    Pure column expressions (``regexp_count`` + ``regexp_replace``,
    whole-stage codegen, one projection -- no shuffle, no Python), so
    the scrub runs at scan speed and composes into the admission
    pipeline ahead of any aggregation. Counts are taken on the
    progressively-scrubbed text (class i counted after classes < i are
    redacted) which makes the per-class attribution unambiguous and
    lets DuckDB replicate it exactly with the same nested expressions.
    """
    cur = F.col(text_col)
    counts = {}
    for name, pat, repl in PII_PATTERNS:
        counts[f"n_{name}"] = F.regexp_count(cur, F.lit(pat))
        cur = F.regexp_replace(cur, pat, repl)
    total = None
    for c in counts:
        total = F.col(c) if total is None else total + F.col(c)
    return df.withColumns(counts).withColumns(
        {"pii_total": total, "text_clean": cur}
    )


# URL spans for web-corpus analysis; Java∩RE2 subset like PII_PATTERNS.
URL_RE = r"https?://[A-Za-z0-9.-]+(/[^\s]*)?"
URL_DOMAIN_RE = r"https?://([A-Za-z0-9.-]+)"


def with_urls(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds ``urls array<string>`` (every http/https span, group 0)
    and ``n_urls`` -- source-domain statistics are the first corpus
    question a web-pipeline asks (provenance mix, per-domain caps,
    blocklists). Pure column expressions."""
    urls = F.regexp_extract_all(F.col(text_col), F.lit(URL_RE), 0)
    return df.withColumns({"urls": urls, "n_urls": F.size(urls)})


def domain_of(url_col) -> "F.Column":
    """Lowercased host of a URL column value ('' if not a URL)."""
    return F.lower(F.regexp_extract(url_col, URL_DOMAIN_RE, 1))


def cap_docs_per_domain(
    df: DataFrame,
    cap: int,
    domain_col: str = "domain",
    order_col: str = "quality_score",
    id_col: str = "doc_id",
    n_salt: int = 32,
) -> DataFrame:
    """Per-domain document cap -- the policy step after the provenance
    profile (``top_url_domains``): keep the top ``cap`` documents per
    domain by ``order_col`` (ties broken by ascending ``id_col``, so
    the kept set is deterministic). Adds ``rn`` (1-based rank within
    the domain).

    100 TB design: a naive ``row_number() over (partition by domain)``
    puts a mega-domain's ENTIRE row set in one task (web corpora are
    Zipfian -- the head domain can be 1%+ of the corpus). Phase 1
    prunes under a SALTED key first: within each (domain, salt mod
    ``n_salt``) bucket only the local top-``cap`` survive, bounding any
    domain to ``n_salt * cap`` rows before the global window in phase 2
    computes exact ranks. The global top-``cap`` of a domain is a
    subset of the union of its buckets' top-``cap``, so the result is
    identical to the single-window plan."""
    from pyspark.sql import Window

    order = [F.desc(order_col), F.asc(id_col)]
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_salt))
    )
    w1 = Window.partitionBy(domain_col, "_salt").orderBy(*order)
    pruned = (
        salted.withColumn("_rn1", F.row_number().over(w1))
        .filter(F.col("_rn1") <= cap)
        .drop("_salt", "_rn1")
    )
    w2 = Window.partitionBy(domain_col).orderBy(*order)
    return pruned.withColumn("rn", F.row_number().over(w2)).filter(
        F.col("rn") <= cap
    )
