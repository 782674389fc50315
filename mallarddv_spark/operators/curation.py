"""Corpus-curation operators for LLM training-data pipelines: benchmark
decontamination, PII scanning/redaction, deterministic splits, stratified
sampling, vocabulary building, and corpus-frequency rarity scoring.

These complement the per-document metrics in ``textops.py`` with the
corpus-level decisions a pipeline makes before training: what leaks the
eval set, what leaks user data, which split a document lands in, how much
of each source to keep, and what the token distribution looks like.

Scale notes are inline per operator; the common themes are (a) everything
stays in whole-stage codegen (no Python UDFs), (b) the only shuffles are
the aggregations that genuinely need them, and (c) every join against a
small side (benchmark shingles, vocabulary, threshold tables) is a
broadcast so the 100 TB corpus side never moves.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F

from mallarddv_spark.exceptions import DVConfigurationError, DVETLError
from mallarddv_spark.operators.dedup import _shingles

# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    bench_id_col: str | None = None,
    bench_text_col: str | None = None,
    shingle_size: int = 5,
) -> DataFrame:
    """Flag training documents that share word-``shingle_size``-grams with a
    benchmark / evaluation set (test-set contamination, the n-gram overlap
    check popularized by GPT-3's 13-gram rule — Brown et al. 2020).

    Returns one row per training document: ``(doc_id, n_hit_shingles,
    n_bench_docs, contaminated)`` where ``n_hit_shingles`` counts the
    distinct training-doc shingles that also occur in the benchmark and
    ``n_bench_docs`` counts how many distinct benchmark documents share at
    least one shingle with it.

    Scale shape: the benchmark is small (eval sets are thousands of docs,
    not billions), so its shingle set is broadcast and the 100 TB training
    side is a scan → explode → broadcast-join → groupBy(doc) — exactly one
    shuffle, on the training doc id. The training corpus never joins
    itself and the benchmark never shuffles.
    """
    bid = bench_id_col or id_col
    btxt = bench_text_col or text_col
    tr = _shingles(train, id_col, text_col, shingle_size)
    be = (
        _shingles(benchmark, bid, btxt, shingle_size)
        .withColumnRenamed("doc_id", "bench_id")
        .distinct()
    )
    hits = (
        tr.join(F.broadcast(be), "shingle")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("shingle").alias("n_hit_shingles"),
            F.countDistinct("bench_id").alias("n_bench_docs"),
        )
    )
    ids = train.select(F.col(id_col).alias("doc_id"))
    return (
        ids.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hit_shingles", F.lit(0)).alias("n_hit_shingles"),
            F.coalesce("n_bench_docs", F.lit(0)).alias("n_bench_docs"),
            (F.coalesce("n_hit_shingles", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def decontaminate_bloom(
    train: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    bench_id_col: str | None = None,
    bench_text_col: str | None = None,
    shingle_size: int = 5,
    fpp: float = 1e-6,
    expected_shingles: int | None = None,
) -> DataFrame:
    """Probabilistic :func:`decontaminate` that never shuffles or explodes
    the training corpus.

    The benchmark's distinct shingles are folded into ONE Bloom filter
    sized for ``fpp``, which rides a single broadcast row; each training
    document then counts its matching shingles with an array-lambda bit
    probe — a pure projection. The exact operator explodes the corpus to
    one row per shingle and shuffles it for the per-document regroup;
    here the 100 TB side is scan → project, full stop, and the filter is
    a few MB no matter how many eval sets are folded in.

    The filter is built from Catalyst expressions only (no UDFs, no
    engine-private sketch format): enhanced double hashing
    ``pos_i = (h1 + i·h2 + i²·h3) mod m`` over three independent
    xxhash64 views of each shingle (see
    :func:`functions.bloom.bloom_positions` for why the quadratic term
    and the power-of-two ``m`` with odd ``h2`` are load-bearing),
    OR-folded into an ``array<long>`` of bit words — so build and probe
    stay in whole-stage codegen and the stored bits are reproducible
    anywhere xxhash64 exists.

    Trade-offs vs exact: false positives (no false negatives), and no
    ``n_bench_docs`` (a Bloom filter can't attribute hits). ``fpp`` is
    PER SHINGLE; a document is flagged when any of its shingles hits, so
    the per-document rate is roughly ``fpp × shingles_per_doc`` — the
    1e-6 default keeps that negligible for ordinary documents. The
    intended composition at scale: bloom pass over everything, exact
    :func:`decontaminate` only on the flagged sliver.

    ``expected_shingles`` skips the sizing count when the caller already
    knows the benchmark's cardinality (e.g. from a stored manifest). For
    a continuously-arriving corpus, :func:`build_benchmark_bloom` once +
    :func:`decontaminate_with_bloom` per batch avoids rebuilding the
    filter every time.
    """
    bid = bench_id_col or id_col
    btxt = bench_text_col or text_col
    bloom = build_benchmark_bloom(
        benchmark, bid, btxt, shingle_size=shingle_size, fpp=fpp,
        expected_shingles=expected_shingles,
    )
    return decontaminate_with_bloom(train, bloom, id_col, text_col)


def build_benchmark_bloom(
    benchmark: DataFrame,
    bench_id_col: str,
    bench_text_col: str,
    shingle_size: int = 5,
    fpp: float = 1e-6,
    expected_shingles: int | None = None,
) -> DataFrame:
    """One-row Bloom filter over the benchmark's distinct word shingles
    (see :mod:`functions.bloom` for the expression-built format). Persist
    with ``functions.bloom.save_bloom`` and a streaming ingest gate can
    decontaminate every crawl batch against it without ever re-reading
    the benchmark. The shingle size is carried in the row so probes can't
    silently shingle differently."""
    from mallarddv_spark.functions import bloom as B

    be = _shingles(
        benchmark, bench_id_col, bench_text_col, int(shingle_size)
    ).select("shingle")
    return B.build_bloom(be, "shingle", fpp, expected_shingles).withColumn(
        "shingle_size", F.lit(int(shingle_size))
    )


def decontaminate_with_bloom(
    train: DataFrame,
    bloom: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """The probe half of :func:`decontaminate_bloom`, against an
    already-built (possibly loaded-from-disk) benchmark filter."""
    from mallarddv_spark.functions import bloom as B

    geo = bloom.select("m", "n_hashes", "shingle_size").first()
    m, n_hashes, k = int(geo.m), int(geo.n_hashes), int(geo.shingle_size)

    toks = F.split(F.trim(text_col), r"\s+")
    if k == 1:
        arr = F.array_distinct(F.col("__toks"))
    else:
        parts = ", ".join(f"__toks[i+{j}]" for j in range(k))
        arr = F.when(
            F.size("__toks") >= k,
            F.array_distinct(
                F.expr(
                    f"transform(sequence(0, size(__toks)-{k}), "
                    f"i -> concat_ws(' ', {parts}))"
                )
            ),
        ).otherwise(F.expr("cast(array() as array<string>)"))
    t = (
        train.select(F.col(id_col).alias("doc_id"), toks.alias("__toks"))
        .select("doc_id", arr.alias("__sh"))
    )

    # one-row broadcast; an empty benchmark yields an all-zero filter,
    # which cleanly reports zero hits everywhere
    j = t.crossJoin(F.broadcast(bloom.select("__bloom")))
    hits = F.size(
        F.filter(
            F.col("__sh"),
            lambda s: B.bloom_contains(s, F.col("__bloom"), m, n_hashes),
        )
    )
    return j.select(
        "doc_id",
        hits.alias("n_hit_shingles"),
        (hits > 0).alias("contaminated"),
    )


# ---------------------------------------------------------------------------
# PII scanning / redaction
# ---------------------------------------------------------------------------

#: detection patterns — deliberately restricted to regex constructs with
#: identical semantics in Java regex (Spark) and RE2 (DuckDB oracle):
#: char classes, bounded repetition, \b word boundaries, no backrefs.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    "phone": r"\b\+?\d{3}[-. ]\d{3}[-. ]\d{4}\b",
    # 4-4-4-4 card groups can't partially match ssn/phone (those anchor
    # \b + exactly-3-digit runs), so order vs them is free
    "credit_card": r"\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b",
    # url runs LAST in redaction: embedded emails/ips are already
    # replaced, and '[' is not in the class, so "http://10.0.0.1/x"
    # becomes "http://[IPV4]/x" (the bare scheme survives) —
    # deterministic in both engines
    "url": r"https?://[A-Za-z0-9./_%#?&=+-]+",
}


def pii_scan(df: DataFrame, text_col: str, kinds: list[str] | None = None) -> DataFrame:
    """Per-document PII match counts: adds ``pii_n_<kind>`` int columns and
    ``pii_total``. Pure projection (regexp_count per pattern), zero shuffle
    — the whole 100 TB pass is one codegen'd scan.
    """
    ks = kinds or list(PII_PATTERNS)
    out = df
    for k in ks:
        out = out.withColumn(
            f"pii_n_{k}", F.regexp_count(F.col(text_col), F.lit(PII_PATTERNS[k]))
        )
    total = sum((F.col(f"pii_n_{k}") for k in ks[1:]), F.col(f"pii_n_{ks[0]}"))
    return out.withColumn("pii_total", total)


def pii_redact(
    df: DataFrame,
    text_col: str,
    kinds: list[str] | None = None,
    out_col: str | None = None,
) -> DataFrame:
    """Replace every PII match with ``[<KIND>]`` tokens. Patterns apply in
    ``kinds`` order (ssn before phone matters: both are digit runs).
    Projection-only like :func:`pii_scan`.
    """
    ks = kinds or list(PII_PATTERNS)
    red: Column = F.col(text_col)
    for k in ks:
        red = F.regexp_replace(red, PII_PATTERNS[k], f"[{k.upper()}]")
    return df.withColumn(out_col or f"{text_col}_redacted", red)


# ---------------------------------------------------------------------------
# deterministic splits & stratified sampling
# ---------------------------------------------------------------------------


def hex_bucket(id_col: Column | str, salt: str, nchars: int = 4) -> Column:
    """Deterministic [0,16^nchars) bucket as a lowercase hex string:
    ``substr(md5(salt || id), 1, nchars)``. Hex-string buckets compare
    lexicographically identically everywhere (Spark, DuckDB, Python), so
    split thresholds are portable constants — no bigint conversions, no
    engine-specific hash. Changing ``salt`` re-rolls every assignment.
    """
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.substring(F.md5(F.concat(F.lit(salt), c.cast("string"))), 1, nchars)


def _hex_bound(fraction: float, nchars: int) -> str:
    """Upper bound for a [0,1] fraction as a comparable hex string. A full
    16^nchars bound would be one char longer and sort BEFORE e.g. 'ffff'
    lexicographically, so saturation maps to 'g' (> every hex string)."""
    space = 16**nchars
    bound = int(round(fraction * space))
    return "g" if bound >= space else format(bound, f"0{nchars}x")


def _hex_thresholds(weights: dict[str, float], nchars: int) -> list[tuple[str, str]]:
    """Cumulative upper bounds per split name, as zero-padded hex strings."""
    total = sum(weights.values())
    acc = 0.0
    out: list[tuple[str, str]] = []
    for name, w in weights.items():
        acc += w / total
        out.append((name, _hex_bound(acc, nchars)))
    return out


def split_assign(
    df: DataFrame,
    id_col: str,
    weights: dict[str, float] | None = None,
    salt: str = "split-v1",
    nchars: int = 4,
) -> DataFrame:
    """Deterministic train/val/test assignment by hashed id.

    Adds ``split`` (string) and ``split_bucket`` (hex string). Assignment
    is a pure function of (salt, id): stable across runs, engines, and
    re-partitioning, so a document never migrates between splits when the
    corpus grows — the property random sampling loses. Projection-only,
    no shuffle; at 100 TB this is a free column on any existing scan.
    """
    w = weights or {"train": 0.8, "val": 0.1, "test": 0.1}
    b = hex_bucket(id_col, salt, nchars)
    names = _hex_thresholds(w, nchars)
    expr: Column = F.lit(names[-1][0])
    for name, bound in reversed(names[:-1]):
        expr = F.when(b < F.lit(bound), F.lit(name)).otherwise(expr)
    return df.withColumn("split_bucket", b).withColumn("split", expr)


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    rates: dict[str, float],
    id_col: str,
    default_rate: float = 0.0,
    salt: str = "sample-v1",
    nchars: int = 4,
) -> DataFrame:
    """Deterministic per-stratum downsampling — the "domain mixing" step
    that rebalances source proportions (e.g. keep 100% of books, 25% of
    web crawl). Keeps a row iff its hex bucket falls under the stratum's
    rate threshold; a pure filter, reproducible, and stable under corpus
    growth. Rates are applied via a broadcastable CASE chain (strata
    counts are small), so the 100 TB side is scan+filter with no shuffle.
    """
    b = hex_bucket(id_col, salt, nchars)
    thr: Column = F.lit(_hex_bound(default_rate, nchars))
    for name, rate in rates.items():
        thr = F.when(
            F.col(stratum_col) == name, F.lit(_hex_bound(rate, nchars))
        ).otherwise(thr)
    return df.withColumn("sample_bucket", b).filter(F.col("sample_bucket") < thr)


def mix_to_token_budget(
    df: DataFrame,
    stratum_col: str,
    token_col: str,
    id_col: str,
    budget_tokens: int,
    weights: dict[str, float],
    salt: str = "mix-v1",
    nchars: int = 4,
) -> tuple[DataFrame, dict]:
    """Pretraining corpus mixing to a token budget: given target mixture
    ``weights`` per stratum (domain/source/language) and a total
    ``budget_tokens``, derive each stratum's keep rate from its ACTUAL
    token mass and apply the deterministic :func:`stratified_sample`.

    Returns ``(sampled_df, report)`` with per-stratum
    ``{actual_tokens, target_tokens, rate}``. Rates cap at 1.0 — an
    under-represented stratum contributes everything it has (the report
    shows the shortfall; upsampling/epoch repetition is a trainer-side
    decision, not a filter).

    One aggregate pass computes the per-stratum token sums (a scalar
    collect — control metadata); the sampling itself is the same
    scan+filter as ``stratified_sample`` (no shuffle at 100 TB).
    Per-document sampling hits the budget in expectation, not exactly —
    documents are atomic; the expected error is one document's tokens per
    stratum.
    """
    if not weights or any(w < 0 for w in weights.values()):
        raise DVConfigurationError(
            "mix_to_token_budget: weights must be non-empty and non-negative"
        )
    total_w = sum(weights.values())
    if total_w <= 0:
        raise DVConfigurationError(
            "mix_to_token_budget: weights sum to zero — at least one "
            "stratum needs positive weight"
        )
    sums = {
        r[stratum_col]: int(r.toks)
        for r in df.groupBy(stratum_col)
        .agg(F.sum(token_col).alias("toks"))
        .collect()
    }
    report: dict = {}
    rates: dict[str, float] = {}
    for name, w in weights.items():
        target = budget_tokens * (w / total_w)
        actual = sums.get(name, 0)
        rate = 1.0 if actual <= target else target / actual
        rates[name] = rate
        report[name] = {
            "actual_tokens": actual,
            "target_tokens": int(target),
            "rate": round(rate, 6),
        }
    # strata in the data but absent from weights are dropped (rate 0) —
    # surface them in the report instead of vanishing silently
    for name in sorted(set(sums) - set(weights), key=str):
        report[name] = {
            "actual_tokens": sums[name],
            "target_tokens": 0,
            "rate": 0.0,
        }
    sampled = stratified_sample(
        df, stratum_col, rates, id_col, default_rate=0.0,
        salt=salt, nchars=nchars,
    )
    return sampled, report


def cap_per_stratum(
    df: DataFrame,
    stratum_col: str,
    id_col: str,
    max_per_stratum: int,
    salt: str = "cap-v1",
    nchars: int = 8,
) -> DataFrame:
    """Per-stratum document quota (the RefinedWeb/C4 per-domain cap): keep
    at most ``max_per_stratum`` documents from each stratum, chosen
    deterministically by hashed order — the same documents survive on
    every run and on any engine, and the selection is stable under
    corpus growth: documents keep their relative hash order, so a new
    document can displace at most the current rank-``max`` holder, never
    reshuffle the kept set.

    Adds ``cap_bucket`` (hex order key) and ``cap_rank`` (1-based within
    the stratum) and keeps rows with ``cap_rank <= max_per_stratum``.

    Scale shape: one shuffle on the stratum key for the rank window.
    An exact per-group rank cannot be salted away — a mega-domain
    (e.g. one host contributing billions of pages) serializes its own
    rank in one task. For those, cut the bulk FIRST with the rate-based
    :func:`stratified_sample` (no shuffle, no rank) down to O(cap) and
    apply this exact cap to the survivors; the tail of normal-sized
    strata is what this operator is for.
    """
    from pyspark.sql import Window

    if max_per_stratum <= 0:
        raise DVConfigurationError(
            "cap_per_stratum: max_per_stratum must be positive, "
            f"got {max_per_stratum}"
        )
    b = hex_bucket(id_col, salt, nchars)
    w = Window.partitionBy(stratum_col).orderBy(
        F.asc("cap_bucket"), F.asc(id_col)
    )
    return (
        df.withColumn("cap_bucket", b)
        .withColumn("cap_rank", F.row_number().over(w))
        .filter(F.col("cap_rank") <= max_per_stratum)
    )


def shuffle_order(
    df: DataFrame,
    id_col: str,
    salt: str = "shuffle-v1",
    shards: int | None = None,
    nchars: int = 8,
) -> DataFrame:
    """Deterministic global shuffle for training-data ordering: adds
    ``order_bucket``, a hashed hex sort key — ordering by it is a seeded
    pseudo-random permutation of the corpus that is stable across runs,
    engines, and repartitioning (sequential/clustered ingest order is a
    known training-curriculum hazard). With ``shards``, also assigns a
    balanced ``shard`` id (feed it to
    ``textops.write_training_shards(shard_col=...)``; sorting within a
    shard by ``order_bucket`` yields the shuffled read order without any
    global sort).

    Pure projection — no shuffle at any scale; re-roll with a new salt
    for each epoch's permutation.
    """
    out = df.withColumn("order_bucket", hex_bucket(id_col, salt, nchars))
    if shards is not None:
        if shards <= 0:
            raise DVConfigurationError(
                f"shuffle_order: shards must be positive, got {shards}"
            )
        out = out.withColumn(
            "shard",
            F.pmod(
                F.conv(F.col("order_bucket"), 16, 10).cast("bigint"),
                F.lit(shards),
            ).cast("int"),
        )
    return out


# ---------------------------------------------------------------------------
# vocabulary & corpus-frequency scoring
# ---------------------------------------------------------------------------


def vocabulary(df: DataFrame, text_col: str, min_df: int = 1) -> DataFrame:
    """Corpus vocabulary with term frequency and document frequency:
    ``(word, tf, df)``. One explode + one groupBy(word) — the single
    shuffle is on the word key; partial aggregation (map-side combine)
    collapses each partition's counts before the exchange, so shuffle
    volume is |vocab| per partition, not |tokens|.
    """
    toks = F.split(F.trim(text_col), r"\s+")
    w = df.select(F.explode(toks).alias("word")).filter(F.col("word") != "")
    agg = w.groupBy("word").agg(F.count("*").alias("tf"))
    d = (
        df.select(F.explode(F.array_distinct(toks)).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("df"))
    )
    out = agg.join(d, "word")
    if min_df > 1:
        out = out.filter(F.col("df") >= min_df)
    return out


def vocab_topk(
    df: DataFrame,
    text_col: str,
    k: int = 100,
    vocab: DataFrame | None = None,
) -> DataFrame:
    """Top-``k`` vocabulary by term frequency (ties broken by word, so the
    result is deterministic). ``vocab`` accepts a precomputed
    :func:`vocabulary` frame (the same sharing hook :func:`doc_rarity`
    has), so one corpus scan can feed both.

    Scale shape: ``orderBy(...).limit(k)`` compiles to
    ``TakeOrderedAndProject`` — each partition keeps its local top-k and
    the driver merges k·partitions rows — so the full vocabulary (billions
    of distinct tokens at web scale: typos, ids, junk) never funnels
    through a single-partition window exchange. Rank is then assigned by a
    window over only the k surviving rows, which is trivially small.
    """
    from pyspark.sql import Window

    v = vocab if vocab is not None else vocabulary(df, text_col)
    top = v.orderBy(F.desc("tf"), F.asc("word")).limit(k)
    w = Window.orderBy(F.desc("tf"), F.asc("word"))
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select("rank", "word", "tf", "df")
    )


def doc_rarity(
    df: DataFrame, id_col: str, text_col: str, vocab: DataFrame | None = None
) -> DataFrame:
    """Per-document corpus-frequency statistics — a deterministic,
    integer-exact stand-in for LM perplexity filtering: documents whose
    tokens are globally rare (low ``mean_tf``) are misspellings/garbage;
    absurdly common-token docs are boilerplate.

    Returns ``(doc_id, n_tokens, sum_tf, mean_tf)`` where ``sum_tf`` sums
    each token's corpus term frequency (bigint — exact, so results are
    hash-stable across engines; no floating-point log-prob accumulation).

    Scale shape: two passes over the corpus (build vocab, score docs) and
    the vocabulary joins back via broadcast when it fits (natural-language
    vocabularies are ~10^6 words — megabytes), so scoring adds no shuffle
    beyond the per-doc groupBy.
    """
    v = vocab if vocab is not None else vocabulary(df, text_col)
    toks = F.split(F.trim(text_col), r"\s+")
    exploded = df.select(F.col(id_col).alias("doc_id"), F.explode(toks).alias("word"))
    return (
        exploded.join(F.broadcast(v.select("word", "tf")), "word")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_tokens"),
            F.sum("tf").cast("bigint").alias("sum_tf"),
        )
        .withColumn("mean_tf", F.round(F.col("sum_tf") / F.col("n_tokens"), 6))
    )


# ---------------------------------------------------------------------------
# DSIR importance resampling (Xie et al. 2023)
# ---------------------------------------------------------------------------


def _token_array(text_col, lowercase: bool):
    t = F.trim(F.col(text_col) if isinstance(text_col, str) else text_col)
    if lowercase:
        t = F.lower(t)
    return F.split(t, r"\s+")


def _gram_arrays(tok_col: str, n_max: int):
    """n-gram arrays (1..n_max) over an already-selected token-array
    column named ``tok_col``, as Catalyst expressions.

    Spark's ``sequence(1, 0)`` yields a DESCENDING ``[1, 0]`` rather than
    an empty array, so every n >= 2 branch is guarded by a size check.
    """
    if n_max < 1:
        raise DVConfigurationError(
            f"n_max must be >= 1, got {n_max}"
        )
    arrs = [F.col(tok_col)]
    for n in range(2, n_max + 1):
        parts = ", ".join(f"element_at({tok_col}, i + {j})" for j in range(n))
        arrs.append(
            F.when(
                F.size(F.col(tok_col)) >= n,
                F.expr(
                    f"transform(sequence(1, size({tok_col}) - {n - 1}), "
                    f"i -> concat_ws(' ', {parts}))"
                ),
            ).otherwise(F.expr("array()"))
        )
    return arrs


def hashed_ngram_features(
    df: DataFrame,
    id_col: str,
    text_col: str,
    buckets: int = 8192,
    n_max: int = 2,
    hash_mode: str = "xxhash64",
    lowercase: bool = True,
) -> DataFrame:
    """Hashed bag-of-n-grams features: one row per (document, feature
    occurrence) reduced to ``(doc_id, bucket, cnt)`` — the fixed-width
    representation DSIR (Xie et al., NeurIPS 2023) computes importance
    weights over. Word 1..``n_max``-grams hash into ``buckets`` cells;
    collisions are part of the method (the distributions being compared
    live in the same hashed space).

    ``hash_mode='md5'`` keeps the bucket assignment replayable in other
    engines (DuckDB oracle parity); ``xxhash64`` is the fast production
    default.

    Scale shape: explode to the gram stream, then ONE groupBy
    (doc, bucket) with map-side combine; output is at most
    min(|grams|, buckets) rows per document. Empty documents produce no
    rows (no features → no evidence).
    """
    from mallarddv_spark.operators.dedup import _hash_int

    if buckets <= 0:
        raise DVConfigurationError(
            f"hashed_ngram_features: buckets must be positive, got {buckets}"
        )
    base = df.select(
        F.col(id_col).alias("doc_id"),
        _token_array(text_col, lowercase).alias("__t"),
    )
    arrs = _gram_arrays("__t", n_max)
    gram_arr = F.concat(*arrs) if len(arrs) > 1 else arrs[0]
    stream = base.select(
        "doc_id", F.explode(gram_arr).alias("gram")
    ).filter(F.col("gram") != "")
    return (
        stream.select(
            "doc_id",
            F.pmod(_hash_int("gram", hash_mode), F.lit(buckets)).alias("bucket"),
        )
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def ngram_bucket_distribution(features: DataFrame) -> DataFrame:
    """Corpus-level hashed-n-gram distribution ``(bucket, cnt)`` from a
    :func:`hashed_ngram_features` frame. At most ``buckets`` rows — persist
    the TARGET corpus's distribution once (a tiny parquet) and reuse it to
    weight every future raw batch without touching the target again."""
    return features.groupBy("bucket").agg(F.sum("cnt").alias("cnt"))


def dsir_log_ratio(
    raw_dist: DataFrame,
    target_dist: DataFrame,
    buckets: int,
    smoothing: float = 1.0,
) -> DataFrame:
    """Per-bucket importance log-ratio table ``(bucket, lam10)``:
    ``lam = ln p_target(b) - ln p_raw(b)`` with add-``smoothing``
    estimates, snapped to a 1e-10 grid as bigint so downstream per-doc
    sums are integer-exact (partition-order independent — the same
    determinism contract as the bigram LM scorer).

    Buckets the raw corpus never emits are absent (a raw document can
    only reference buckets present in its own corpus distribution).
    Output is at most ``buckets`` rows — always broadcastable.
    """
    if smoothing <= 0:
        raise DVConfigurationError(
            f"dsir_log_ratio: smoothing must be positive, got {smoothing}"
        )
    rd = raw_dist.select("bucket", F.col("cnt").alias("__cr"))
    td = target_dist.select("bucket", F.col("cnt").alias("__ct"))
    totals = (
        rd.agg(F.sum("__cr").alias("__R"))
        .crossJoin(td.agg(F.coalesce(F.sum("__ct"), F.lit(0)).alias("__T")))
    )
    a = float(smoothing)
    ab = a * buckets
    joined = rd.join(td, "bucket", "left").crossJoin(F.broadcast(totals))
    lam = F.log(
        (F.coalesce(F.col("__ct"), F.lit(0)) + F.lit(a))
        / (F.col("__T") + F.lit(ab))
    ) - F.log((F.col("__cr") + F.lit(a)) / (F.col("__R") + F.lit(ab)))
    return joined.select(
        "bucket",
        F.round(lam * F.lit(1e10)).cast("bigint").alias("lam10"),
    )


def dsir_importance(
    raw: DataFrame,
    target: DataFrame,
    id_col: str,
    text_col: str,
    buckets: int = 8192,
    n_max: int = 2,
    smoothing: float = 1.0,
    hash_mode: str = "xxhash64",
    lowercase: bool = True,
    log_ratio: DataFrame | None = None,
    features: DataFrame | None = None,
    target_features: DataFrame | None = None,
) -> DataFrame:
    """DSIR importance weights (Data Selection via Importance Resampling,
    Xie et al., NeurIPS 2023): score every ``raw`` document by how much
    more likely its hashed bag-of-n-grams is under the ``target``
    distribution than under the raw distribution. Returns
    ``(doc_id, n_grams, logw)`` where ``logw = Σ_b cnt_b · λ_b`` summed
    integer-exactly on the 1e-10 grid and rounded to 1e-6.

    Pass a persisted :func:`dsir_log_ratio` frame via ``log_ratio`` to
    skip recomputing distributions (``target`` is ignored then).

    ``features`` / ``target_features`` accept precomputed
    :func:`hashed_ngram_features` frames (``(doc_id, bucket, cnt)``,
    built at the SAME buckets/n_max/hash_mode/lowercase) so a caller
    that already materialized the gram features — e.g. to share one
    explode between DSIR and a hashed-feature classifier — pays the
    corpus scan once; ``raw``/``target`` are then ignored for feature
    extraction. Results are identical by construction (the frames are
    exactly what this function would compute).

    Reference scope note: no data-selection stage exists in the reference
    engine — this extends the training-data curation tier.

    Scale shape: the λ table is at most ``buckets`` rows (default 8192)
    and broadcasts; the 100 TB raw side is scan → explode → broadcast
    join → ONE groupBy(doc) — the same single-shuffle shape as
    decontamination. The target corpus (small by definition: it's the
    high-quality seed set) is read once.
    """
    feats = (
        features
        if features is not None
        else hashed_ngram_features(
            raw, id_col, text_col, buckets=buckets, n_max=n_max,
            hash_mode=hash_mode, lowercase=lowercase,
        )
    )
    if log_ratio is None:
        raw_dist = ngram_bucket_distribution(feats)
        tgt_feats = (
            target_features
            if target_features is not None
            else hashed_ngram_features(
                target, id_col, text_col, buckets=buckets, n_max=n_max,
                hash_mode=hash_mode, lowercase=lowercase,
            )
        )
        tgt_dist = ngram_bucket_distribution(tgt_feats)
        log_ratio = dsir_log_ratio(raw_dist, tgt_dist, buckets, smoothing)
    return (
        feats.join(F.broadcast(log_ratio), "bucket")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_grams"),
            F.round(
                F.sum(F.col("cnt") * F.col("lam10")) / F.lit(1e10), 6
            ).alias("logw"),
        )
    )


def dsir_resample(
    weighted: DataFrame,
    k: int,
    id_col: str = "doc_id",
    weight_col: str = "logw",
    seed: str = "dsir-v1",
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Gumbel top-``k`` resampling over DSIR importance weights: sampling
    k documents without replacement proportionally to ``exp(logw)`` is
    exactly taking the top k of ``logw + Gumbel(0,1)`` noise (Vieira
    2014). The noise is a pure function of (seed, id) — hashed uniform →
    ``-ln(-ln(u))`` — so the drawn sample is reproducible across runs,
    engines, and repartitioning.

    Returns the top-k rows plus ``(gkey, rnk)``. ``orderBy().limit(k)``
    compiles to TakeOrderedAndProject (per-partition top-k, driver merge
    of k·partitions rows); the rank window runs over only the k
    survivors, so no global sort exchange exists at any scale.
    """
    from pyspark.sql import Window

    from mallarddv_spark.operators.dedup import _MD5_INT

    if k <= 0:
        raise DVConfigurationError(
            f"dsir_resample: k must be positive, got {k}"
        )
    m = 1 << 20
    key_sql = f"concat('{seed}|', cast({id_col} as string))"
    if hash_mode == "md5":
        h = F.expr(_MD5_INT.format(col=key_sql))
    elif hash_mode == "xxhash64":
        h = F.abs(F.xxhash64(F.expr(key_sql)))
    else:
        raise DVConfigurationError(
            f"dsir_resample: unknown hash_mode {hash_mode!r} (md5|xxhash64)"
        )
    u = (F.pmod(h, F.lit(m)).cast("double") + F.lit(0.5)) / F.lit(float(m))
    gkey = F.round(F.col(weight_col) + (-F.log(-F.log(u))), 6)
    top = (
        weighted.withColumn("gkey", gkey)
        .orderBy(F.desc("gkey"), F.asc(id_col))
        .limit(k)
    )
    w = Window.orderBy(F.desc("gkey"), F.asc(id_col))
    return top.withColumn("rnk", F.row_number().over(w))


# ---------------------------------------------------------------------------
# hashed-feature Naive Bayes classifier (fastText-style filter stand-in)
# ---------------------------------------------------------------------------


def _snap10(col) -> Column:
    """ln(...) snapped to the 1e-10 bigint grid — the determinism contract
    shared with the bigram LM and DSIR: downstream sums stay integer-exact
    and partition-order independent."""
    return F.round(col * F.lit(1e10)).cast("bigint")


def train_nb_classifier(
    df: DataFrame,
    label_col: str,
    text_col: str,
    buckets: int = 4096,
    n_max: int = 2,
    smoothing: float = 1.0,
    hash_mode: str = "xxhash64",
    lowercase: bool = True,
    gram_counts: DataFrame | None = None,
) -> dict:
    """Multinomial Naive Bayes over hashed bag-of-n-grams features — the
    relational stand-in for the fastText-style linear classifiers LLM
    pipelines use for language ID and quality filtering (CCNet,
    FineWeb-Edu): closed-form count-based training, so both training and
    inference stay in whole-stage codegen with no SGD and no UDFs.

    Returns ``{"model": DF(label, bucket, lw10), "priors": DF(label,
    prior10, default10), ...params}``. The model is the COMPLETE
    labels × training-vocabulary grid (≤ |labels|·buckets rows — tiny,
    broadcastable, persistable as parquet): ``lw10`` is the add-
    ``smoothing`` log-likelihood ``ln (cnt_cb + α)/(T_c + αB)`` on the
    1e-10 bigint grid, ``prior10 = ln(docs_c/docs)``, and ``default10``
    is the per-class log-likelihood of a bucket the training corpus
    never emitted. Rows with NULL labels are ignored.

    Reference scope note: no classifier stage exists in the reference
    engine — this extends the training-data curation tier.

    Scale shape: one explode + one groupBy (label, bucket) with map-side
    combine over the training corpus; everything after operates on the
    grid. Training cost is one scan regardless of class count.

    ``gram_counts`` accepts a precomputed ``(label, bucket, cnt)`` frame
    (per-class hashed-gram occurrence counts at the SAME
    buckets/n_max/hash_mode/lowercase — e.g. a shared
    :func:`hashed_ngram_features` frame joined to labels and re-summed),
    skipping the training-corpus explode; ``df`` is then read only for
    the per-class document counts (a label-column scan, no explode).
    Results are identical by construction.
    """
    from mallarddv_spark.operators.dedup import _hash_int

    if buckets <= 0:
        raise DVConfigurationError(
            f"train_nb_classifier: buckets must be positive, got {buckets}"
        )
    if smoothing <= 0:
        raise DVConfigurationError(
            "train_nb_classifier: smoothing must be positive, "
            f"got {smoothing}"
        )
    a = float(smoothing)
    ab = a * buckets
    labeled = df.filter(F.col(label_col).isNotNull())
    if gram_counts is not None:
        cls_counts = gram_counts.select("label", "bucket", "cnt")
    else:
        base = labeled.select(
            F.col(label_col).alias("label"),
            _token_array(text_col, lowercase).alias("__t"),
        )
        arrs = _gram_arrays("__t", n_max)
        gram_arr = F.concat(*arrs) if len(arrs) > 1 else arrs[0]
        stream = base.select(
            "label", F.explode(gram_arr).alias("gram")
        ).filter(F.col("gram") != "")
        cls_counts = (
            stream.select(
                "label",
                F.pmod(
                    _hash_int("gram", hash_mode), F.lit(buckets)
                ).alias("bucket"),
            )
            .groupBy("label", "bucket")
            .agg(F.count("*").alias("cnt"))
        )
    labels = labeled.select(F.col(label_col).alias("label")).distinct()
    vocab = cls_counts.select("bucket").distinct()
    totals = cls_counts.groupBy("label").agg(F.sum("cnt").alias("__T"))
    grid = (
        labels.crossJoin(vocab)
        .join(cls_counts, ["label", "bucket"], "left")
        .join(F.broadcast(totals), "label")
    )
    model = grid.select(
        "label",
        "bucket",
        _snap10(
            F.log(
                (F.coalesce(F.col("cnt"), F.lit(0)) + F.lit(a))
                / (F.col("__T") + F.lit(ab))
            )
        ).alias("lw10"),
    )
    doc_counts = labeled.groupBy(F.col(label_col).alias("label")).agg(
        F.count("*").alias("__nc")
    )
    all_docs = doc_counts.agg(F.sum("__nc").alias("__ntot"))
    priors = (
        doc_counts.crossJoin(F.broadcast(all_docs))
        .join(F.broadcast(totals), "label")
        .select(
            "label",
            _snap10(F.log(F.col("__nc") / F.col("__ntot"))).alias("prior10"),
            _snap10(
                F.log(F.lit(a) / (F.col("__T") + F.lit(ab)))
            ).alias("default10"),
        )
    )
    return {
        "model": model,
        "priors": priors,
        "buckets": buckets,
        "n_max": n_max,
        "hash_mode": hash_mode,
        "lowercase": lowercase,
    }


def nb_classify(
    df: DataFrame,
    id_col: str,
    text_col: str,
    nb: dict,
    features: DataFrame | None = None,
) -> DataFrame:
    """Classify documents under a :func:`train_nb_classifier` model:
    ``argmax_c [ prior_c + Σ_b cnt_b·lw_cb ]`` with unseen-vocabulary
    buckets contributing the class's ``default10``. All score arithmetic
    is bigint on the 1e-10 grid — exact, engine-portable.

    Returns ``(doc_id, predicted, n_grams, n_seen, score)`` where
    ``n_seen`` counts the document's gram occurrences that fall in the
    training vocabulary and ``score`` is the winning joint log-likelihood
    (rounded 1e-6). Score ties resolve to the lexicographically greatest
    label. Documents with no features (empty text) produce no row.

    Scale shape: the model grid and priors broadcast; the corpus side is
    explode → groupBy(doc, bucket) → broadcast join → two more
    doc-keyed aggregations. No shuffle ever carries more than
    |labels| rows per document.

    ``features`` accepts a precomputed :func:`hashed_ngram_features`
    frame (``(doc_id, bucket, cnt)`` at the model's own
    buckets/n_max/hash_mode/lowercase) so one shared feature
    materialization can feed several consumers; ``df`` is then unused.
    Results are identical by construction.
    """
    feats = (
        features
        if features is not None
        else hashed_ngram_features(
            df, id_col, text_col, buckets=nb["buckets"], n_max=nb["n_max"],
            hash_mode=nb["hash_mode"], lowercase=nb["lowercase"],
        )
    )
    n_per_doc = feats.groupBy("doc_id").agg(
        F.sum("cnt").cast("bigint").alias("n_grams")
    )
    matched = (
        feats.join(F.broadcast(nb["model"]), "bucket")
        .groupBy("doc_id", "label")
        .agg(
            F.sum(F.col("cnt") * F.col("lw10")).alias("__s10"),
            F.sum("cnt").cast("bigint").alias("__m"),
        )
    )
    scored = (
        n_per_doc.crossJoin(F.broadcast(nb["priors"]))
        .join(matched, ["doc_id", "label"], "left")
        .select(
            "doc_id",
            "label",
            "n_grams",
            F.coalesce(F.col("__m"), F.lit(0)).alias("n_seen"),
            (
                F.col("prior10")
                + F.coalesce(F.col("__s10"), F.lit(0))
                + (F.col("n_grams") - F.coalesce(F.col("__m"), F.lit(0)))
                * F.col("default10")
            ).alias("score10"),
        )
    )
    best = scored.groupBy("doc_id").agg(
        F.max(F.struct("score10", "label", "n_seen")).alias("__b"),
        F.max("n_grams").alias("n_grams"),
    )
    return best.select(
        "doc_id",
        F.col("__b.label").alias("predicted"),
        "n_grams",
        F.col("__b.n_seen").alias("n_seen"),
        F.round(F.col("__b.score10") / F.lit(1e10), 6).alias("score"),
    )


def save_nb_classifier(nb: dict, path: str) -> None:
    """Persist a :func:`train_nb_classifier` model: ``{path}/model`` and
    ``{path}/priors`` parquet plus a one-row ``{path}/params`` parquet
    (written LAST — its presence marks the model complete, the same
    completeness-marker convention as the training-shard manifest)."""
    from mallarddv_spark.functions.litframe import literal_frame

    nb["model"].write.mode("overwrite").parquet(f"{path}/model")
    nb["priors"].write.mode("overwrite").parquet(f"{path}/priors")
    spark = nb["model"].sparkSession
    literal_frame(
        spark,
        [(nb["buckets"], nb["n_max"], nb["hash_mode"],
          bool(nb["lowercase"]))],
        "buckets int, n_max int, hash_mode string, lowercase boolean",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/params")


def load_nb_classifier(spark, path: str) -> dict:
    """Load a model persisted by :func:`save_nb_classifier`."""
    p = spark.read.parquet(f"{path}/params").first()
    return {
        "model": spark.read.parquet(f"{path}/model"),
        "priors": spark.read.parquet(f"{path}/priors"),
        "buckets": int(p.buckets),
        "n_max": int(p.n_max),
        "hash_mode": p.hash_mode,
        "lowercase": bool(p.lowercase),
    }


def train_lr_classifier(
    df: DataFrame,
    label_col: str,
    text_col: str,
    buckets: int = 8192,
    n_max: int = 2,
    iters: int = 60,
    lr: float = 1.0,
    reg: float = 1e-4,
    hash_mode: str = "xxhash64",
    lowercase: bool = True,
) -> dict:
    """Binary logistic regression over hashed bag-of-n-grams features —
    the TRAINED half of the fastText-style quality-filter pair (the
    GPT-3 / CCNet / FineWeb-Edu "does this look like the reference
    corpus" classifier; Brown et al. 2020 §A, Wenzek et al. 2020).
    :func:`train_nb_classifier` is the closed-form generative sibling;
    this is the discriminative one — same hashed feature space, directly
    optimized decision boundary, calibrated sigmoid scores that
    :func:`pareto_keep` can threshold stochastically.

    ``label_col`` must be 0/1 (castable); NULL-label rows are ignored.
    Training is full-batch ADAGRAD (Duchi et al. 2011) on L2-regularized
    log-loss over per-document TF-NORMALIZED counts (``cnt/Σcnt`` —
    bounds every feature in [0,1]); the per-bucket accumulated-square
    preconditioner is what makes one global ``lr`` work across rare and
    common n-gram buckets, the standard choice for sparse text features.
    Deterministic: no sampling, no init randomness (weights start at 0),
    so retraining on the same corpus reproduces the same model up to
    float-sum order.

    Returns ``{"weights": DF(bucket, w), "bias": float,
    "loss_history": [mean log-loss], ...params}``. ``loss_history`` has
    ``iters + 1`` entries: entry ``i`` is the loss of the model BEFORE
    iteration ``i``'s update, and the last entry is the loss of the
    returned weights (one extra no-update evaluation pass after the
    loop), so ``loss_history[-1]`` measures the model you actually get.

    Scale shape: features are built ONCE (one explode + one groupBy,
    then checkpointed); each iteration is two shuffles on doc_id
    (margin groupBy, error join-back) plus one bounded groupBy on
    bucket (≤ ``buckets`` rows), with the weight vector riding a
    broadcast both ways — the corpus itself never re-shuffles and no
    driver-side loop touches data (the only collect is the one-row
    (grad_bias, loss) pair per iteration, the same metadata class as
    :func:`~mallarddv_spark.operators.graph.pagerank`'s convergence
    row). fastText's own trainer is asynchronous SGD on one node;
    full-batch GD is the order-free equivalent that distributes.

    Ceiling: FULL-BATCH means every iteration re-scans the checkpointed
    feature table — total cost = ``iters`` × one pass over the labeled
    set. Right-sized for the realistic regime (labeled sets are curated
    subsets; sf1 evidence: 50k docs × 30 iters in 85 s), wrong for a
    100 TB labeled corpus: sample the training subset first, then score
    the full corpus with :func:`lr_classify` (a single pass).
    """
    if buckets <= 0:
        raise DVConfigurationError(
            f"train_lr_classifier: buckets must be positive, got {buckets}"
        )
    if iters <= 0 or lr <= 0:
        raise DVConfigurationError(
            f"train_lr_classifier: iters and lr must be positive, "
            f"got iters={iters} lr={lr}"
        )
    labeled = df.filter(F.col(label_col).isNotNull())
    # hashed_ngram_features needs an id column; a row-content hash would
    # collide on duplicate rows, so use monotonically_increasing_id,
    # pinned by an eager checkpoint so every downstream pass sees the
    # SAME assignment.
    base = labeled.select(
        F.monotonically_increasing_id().alias("__lrid"),
        F.col(label_col).cast("double").alias("__y"),
        F.col(text_col).alias("__txt"),
    ).localCheckpoint(eager=True)
    feats = (
        hashed_ngram_features(
            base, "__lrid", "__txt", buckets=buckets, n_max=n_max,
            hash_mode=hash_mode, lowercase=lowercase,
        )
        .withColumnRenamed("doc_id", "__lrid")
    )
    tot = feats.groupBy("__lrid").agg(F.sum("cnt").alias("__tot"))
    feats = (
        feats.join(tot, "__lrid")
        .select("__lrid", "bucket",
                (F.col("cnt") / F.col("__tot")).alias("x"))
        .localCheckpoint(eager=True)
    )
    docs = (
        base.select("__lrid", "__y")
        .join(feats.select("__lrid").distinct(), "__lrid")
        .localCheckpoint(eager=True)
    )
    n = docs.count()
    if n == 0:
        raise DVETLError(
            "train_lr_classifier: no labeled documents with features"
        )
    spark = df.sparkSession
    weights = spark.range(buckets).select(
        F.col("id").cast("int").alias("bucket"),
        F.lit(0.0).alias("w"), F.lit(0.0).alias("gsq"),
    ).localCheckpoint(eager=True)
    bias = 0.0
    bias_gsq = 0.0
    eps = 1e-8
    history: list[float] = []
    # iters+1 passes: pass i records the loss of the model BEFORE
    # iteration i's update, and the final pass records the loss of the
    # RETURNED weights without updating — so loss_history[-1] measures
    # the model callers actually get, not the one a step behind it
    for _it in range(iters + 1):
        margins = (
            feats.join(F.broadcast(weights), "bucket")
            .groupBy("__lrid")
            .agg(F.sum(F.col("x") * F.col("w")).alias("__s"))
        )
        errs = (
            docs.join(margins, "__lrid", "left")
            .select(
                "__lrid", "__y",
                (F.lit(1.0)
                 / (F.lit(1.0)
                    + F.exp(-(F.coalesce("__s", F.lit(0.0))
                              + F.lit(bias))))).alias("__p"),
            )
            .select(
                "__lrid",
                (F.col("__p") - F.col("__y")).alias("__e"),
                (-(F.col("__y")
                   * F.log(F.greatest("__p", F.lit(1e-15))))
                 - (F.lit(1.0) - F.col("__y"))
                 * F.log(F.greatest(F.lit(1.0) - F.col("__p"),
                                    F.lit(1e-15)))).alias("__l"),
            )
        )
        # one pass computes both the bias gradient and the loss; the
        # per-bucket gradient reuses the same error frame
        errs = errs.localCheckpoint(eager=True)
        row = errs.agg(F.avg("__e"), F.avg("__l")).collect()[0]
        grad_b, loss = float(row[0]), float(row[1])
        history.append(loss)
        if _it == iters:
            break
        grad = (
            feats.join(errs.select("__lrid", "__e"), "__lrid")
            .groupBy("bucket")
            .agg((F.sum(F.col("x") * F.col("__e")) / F.lit(float(n)))
                 .alias("__g"))
        )
        gt = F.coalesce("__g", F.lit(0.0)) + F.lit(reg) * F.col("w")
        weights = (
            weights.join(grad, "bucket", "left")
            .select(
                "bucket",
                (F.col("w")
                 - F.lit(lr) * gt
                 / F.sqrt(F.col("gsq") + gt * gt + F.lit(eps))).alias("w"),
                (F.col("gsq") + gt * gt).alias("gsq"),
            )
            .localCheckpoint(eager=True)
        )
        bias_gsq += grad_b * grad_b
        bias -= lr * grad_b / math.sqrt(bias_gsq + eps)
    return {
        "weights": weights.select("bucket", "w"),
        "bias": bias,
        "loss_history": history,
        "buckets": buckets,
        "n_max": n_max,
        "hash_mode": hash_mode,
        "lowercase": lowercase,
    }


def lr_classify(
    df: DataFrame, id_col: str, text_col: str, model: dict
) -> DataFrame:
    """Score documents under a :func:`train_lr_classifier` model:
    ``(doc_id, score, predicted)`` where ``score`` is the sigmoid
    probability of the positive class and ``predicted = score > 0.5``.
    Buckets outside the trained space contribute nothing; documents with
    no features score the bias alone (the prior), matching the trainer's
    empty-margin convention.

    One explode + one groupBy per document plus a broadcast join of the
    ≤ ``buckets``-row weight vector — whole-stage-codegen throughout.
    """
    feats = hashed_ngram_features(
        df, id_col, text_col, buckets=model["buckets"],
        n_max=model["n_max"], hash_mode=model["hash_mode"],
        lowercase=model["lowercase"],
    )
    tot = feats.groupBy("doc_id").agg(F.sum("cnt").alias("__tot"))
    margins = (
        feats.join(tot, "doc_id")
        .join(F.broadcast(model["weights"]), "bucket")
        .groupBy("doc_id")
        .agg(F.sum(F.col("cnt") / F.col("__tot") * F.col("w")).alias("__s"))
    )
    out = (
        df.select(F.col(id_col).alias("doc_id"))
        .join(margins, "doc_id", "left")
        .select(
            "doc_id",
            (F.lit(1.0)
             / (F.lit(1.0)
                + F.exp(-(F.coalesce("__s", F.lit(0.0))
                          + F.lit(float(model["bias"])))))).alias("score"),
        )
    )
    return out.withColumn("predicted", F.col("score") > 0.5)


def pareto_keep(
    score_col: Column | str,
    id_col: Column | str,
    alpha: float = 9.0,
    salt: str = "pareto",
) -> Column:
    """GPT-3's stochastic quality admission (Brown et al. 2020 §A) as a
    deterministic boolean column: a document is kept when
    ``pareto_draw(alpha) > 1 - score`` — high-scoring documents almost
    always survive, low-scoring ones survive with heavy-tailed luck, so
    the kept corpus stays diverse instead of collapsing onto the
    classifier's mode.

    The Lomax/Pareto draw is replayed deterministically from
    ``md5(salt || id)`` (``u ∈ (0,1)``, draw ``= (1-u)^(-1/alpha) - 1``)
    — re-running the filter reproduces the same verdicts, and different
    ``salt`` values give independent resamples. Pure projection, no
    shuffle, engine-portable.
    """
    if alpha <= 0:
        raise DVConfigurationError(
            f"pareto_keep: alpha must be positive, got {alpha}"
        )
    sc = F.col(score_col) if isinstance(score_col, str) else score_col
    idc = F.col(id_col) if isinstance(id_col, str) else id_col
    u = (
        F.conv(F.substring(F.md5(F.concat(F.lit(salt), idc.cast("string"))),
                           1, 15), 16, 10).cast("double")
        / F.lit(float(16 ** 15))
    )
    draw = F.pow(F.lit(1.0) - u, F.lit(-1.0 / alpha)) - F.lit(1.0)
    return draw > (F.lit(1.0) - sc)


def save_lr_classifier(model: dict, path: str) -> None:
    """Persist a :func:`train_lr_classifier` model: ``{path}/weights``
    parquet plus a one-row ``{path}/params`` parquet carrying the bias
    and feature-space parameters (written LAST — the completeness-marker
    convention shared with :func:`save_nb_classifier`)."""
    from mallarddv_spark.functions.litframe import literal_frame

    model["weights"].write.mode("overwrite").parquet(f"{path}/weights")
    spark = model["weights"].sparkSession
    literal_frame(
        spark,
        [(float(model["bias"]), model["buckets"], model["n_max"],
          model["hash_mode"], bool(model["lowercase"]))],
        "bias double, buckets int, n_max int, hash_mode string, "
        "lowercase boolean",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/params")


def load_lr_classifier(spark, path: str) -> dict:
    """Load a model persisted by :func:`save_lr_classifier`."""
    p = spark.read.parquet(f"{path}/params").first()
    return {
        "weights": spark.read.parquet(f"{path}/weights"),
        "bias": float(p.bias),
        "loss_history": [],
        "buckets": int(p.buckets),
        "n_max": int(p.n_max),
        "hash_mode": p.hash_mode,
        "lowercase": bool(p.lowercase),
    }


def train_softmax_classifier(
    df: DataFrame,
    label_col: str,
    text_col: str,
    buckets: int = 8192,
    n_max: int = 2,
    iters: int = 60,
    lr: float = 1.0,
    reg: float = 1e-4,
    hash_mode: str = "xxhash64",
    lowercase: bool = True,
) -> dict:
    """Multiclass (softmax) logistic regression over hashed
    bag-of-n-grams — the K-class generalization of
    :func:`train_lr_classifier`, and the trained form of the fastText /
    CCNet language-ID stage (Joulin et al. 2017, Wenzek et al. 2020):
    corpus pipelines route documents per-language off exactly this
    classifier shape, where :func:`~mallarddv_spark.operators.textops.
    lang_guess`'s marker-word vote is only a heuristic stand-in.

    ``label_col`` holds arbitrary string (or castable) class labels;
    NULL-label rows are ignored. Classes are the sorted distinct labels
    (collected once — K is metadata-sized). Training is full-batch
    ADAGRAD on L2-regularized cross-entropy over per-document
    TF-normalized counts, identical math to the binary trainer with the
    sigmoid replaced by a per-document softmax (max-shifted for
    overflow safety; the shift cancels exactly, so it does not perturb
    the optimization). Deterministic zero init, no sampling.

    Returns ``{"weights": DF(bucket, cls, w), "classes": [label...],
    "biases": [float per class], "loss_history": [...], ...params}``.
    ``loss_history`` follows the binary trainer's convention: ``iters +
    1`` entries, the last measuring the returned weights.

    Scale shape: features build ONCE (explode + groupBy, checkpointed).
    Each iteration: one broadcast join of the ``buckets × K``-row weight
    table, a groupBy on (doc, cls), ONE groupBy on doc that folds the
    K per-class margins into an array and computes the whole softmax
    inside Catalyst array expressions (sorted by class index, so the
    float reduction order is deterministic), then one bounded
    groupBy(bucket, cls). The per-iteration driver traffic is K rows
    (bias gradients + loss parts) — same metadata class as the binary
    trainer's one-row collect. The corpus never re-shuffles.

    Ceiling: training is FULL-BATCH — every iteration re-scans the
    checkpointed feature table, so total cost = ``iters`` × one pass
    over the labeled set. That is the right trade for the realistic
    regime (labeled training sets are curated subsets — thousands to
    low millions of docs; sf1 evidence: 50k docs × 25 iters in 109 s),
    but do NOT point it at a 100 TB labeled corpus: sample a training
    subset first (``df.sample`` or :func:`weighted_sample`), then score
    the full corpus with :func:`softmax_classify`, which IS a single
    corpus pass.
    """
    if buckets <= 0:
        raise DVConfigurationError(
            f"train_softmax_classifier: buckets must be positive, "
            f"got {buckets}"
        )
    if iters <= 0 or lr <= 0:
        raise DVConfigurationError(
            f"train_softmax_classifier: iters and lr must be positive, "
            f"got iters={iters} lr={lr}"
        )
    labeled = df.filter(F.col(label_col).isNotNull())
    classes = sorted(
        r[0]
        for r in labeled.select(
            F.col(label_col).cast("string")
        ).distinct().collect()
    )
    k_cls = len(classes)
    if k_cls < 2:
        raise DVConfigurationError(
            f"train_softmax_classifier: need >= 2 distinct labels, "
            f"got {k_cls}"
        )
    cls_idx = F.lit(None)
    for i, c in enumerate(classes):
        cls_idx = F.when(
            F.col(label_col).cast("string") == c, F.lit(i)
        ).otherwise(cls_idx)
    base = labeled.select(
        F.monotonically_increasing_id().alias("__smid"),
        cls_idx.cast("int").alias("__y"),
        F.col(text_col).alias("__txt"),
    ).localCheckpoint(eager=True)
    feats = (
        hashed_ngram_features(
            base, "__smid", "__txt", buckets=buckets, n_max=n_max,
            hash_mode=hash_mode, lowercase=lowercase,
        )
        .withColumnRenamed("doc_id", "__smid")
    )
    tot = feats.groupBy("__smid").agg(F.sum("cnt").alias("__tot"))
    feats = (
        feats.join(tot, "__smid")
        .select("__smid", "bucket",
                (F.col("cnt") / F.col("__tot")).alias("x"))
        .localCheckpoint(eager=True)
    )
    docs = (
        base.select("__smid", "__y")
        .join(feats.select("__smid").distinct(), "__smid")
        .localCheckpoint(eager=True)
    )
    n = docs.count()
    if n == 0:
        raise DVETLError(
            "train_softmax_classifier: no labeled documents with features"
        )
    spark = df.sparkSession
    weights = (
        spark.range(buckets)
        .crossJoin(spark.range(k_cls).select(
            F.col("id").cast("int").alias("cls")))
        .select(
            F.col("id").cast("int").alias("bucket"), "cls",
            F.lit(0.0).alias("w"), F.lit(0.0).alias("gsq"),
        )
        .localCheckpoint(eager=True)
    )
    biases = [0.0] * k_cls
    bias_gsq = [0.0] * k_cls
    eps = 1e-8
    history: list[float] = []
    # same iters+1 convention as the binary trainer: the final pass
    # evaluates the returned weights without updating
    for _it in range(iters + 1):
        bias_arr = F.array(*[F.lit(b) for b in biases])
        margins = (
            feats.join(F.broadcast(weights.select("bucket", "cls", "w")),
                       "bucket")
            .groupBy("__smid", "cls")
            .agg(F.sum(F.col("x") * F.col("w")).alias("__s"))
            .select(
                "__smid", "cls",
                (F.col("__s")
                 + F.element_at(bias_arr, F.col("cls") + 1)).alias("__s"),
            )
        )
        # fold the K margins into ONE row per doc; softmax entirely in
        # array expressions. sort_array orders struct(cls, s) by cls, so
        # the z reduction order is deterministic (classes ascending).
        probs = (
            margins.groupBy("__smid")
            .agg(F.sort_array(
                F.collect_list(F.struct("cls", "__s"))).alias("__cs"))
            .select(
                "__smid",
                F.expr(
                    "transform(__cs, t -> struct(t.cls AS cls, "
                    "exp(t.__s - array_max(transform(__cs, u -> u.__s))) "
                    "/ aggregate(__cs, 0.0d, (acc, u) -> acc + "
                    "exp(u.__s - array_max(transform(__cs, v -> v.__s))))"
                    " AS p))"
                ).alias("__ps"),
            )
            .select("__smid", F.explode("__ps").alias("__pc"))
            .select("__smid", F.col("__pc.cls").alias("cls"),
                    F.col("__pc.p").alias("__p"))
        )
        errs = (
            probs.join(docs, "__smid")
            .select(
                "__smid", "cls",
                (F.col("__p")
                 - (F.col("cls") == F.col("__y")).cast("double"))
                .alias("__e"),
                F.when(
                    F.col("cls") == F.col("__y"),
                    -F.log(F.greatest("__p", F.lit(1e-15))),
                ).otherwise(F.lit(0.0)).alias("__l"),
            )
            .localCheckpoint(eager=True)
        )
        stat = {
            r.cls: (float(r.gb), float(r.lp))
            for r in errs.groupBy("cls").agg(
                F.avg("__e").alias("gb"), F.sum("__l").alias("lp")
            ).collect()
        }
        history.append(sum(lp for _, lp in stat.values()) / n)
        if _it == iters:
            break
        grad = (
            feats.join(errs.select("__smid", "cls", "__e"), "__smid")
            .groupBy("bucket", "cls")
            .agg((F.sum(F.col("x") * F.col("__e")) / F.lit(float(n)))
                 .alias("__g"))
        )
        gt = F.coalesce("__g", F.lit(0.0)) + F.lit(reg) * F.col("w")
        weights = (
            weights.join(grad, ["bucket", "cls"], "left")
            .select(
                "bucket", "cls",
                (F.col("w")
                 - F.lit(lr) * gt
                 / F.sqrt(F.col("gsq") + gt * gt + F.lit(eps))).alias("w"),
                (F.col("gsq") + gt * gt).alias("gsq"),
            )
            .localCheckpoint(eager=True)
        )
        for c in range(k_cls):
            gb = stat.get(c, (0.0, 0.0))[0]
            bias_gsq[c] += gb * gb
            biases[c] -= lr * gb / math.sqrt(bias_gsq[c] + eps)
    return {
        "weights": weights.select("bucket", "cls", "w"),
        "classes": classes,
        "biases": biases,
        "loss_history": history,
        "buckets": buckets,
        "n_max": n_max,
        "hash_mode": hash_mode,
        "lowercase": lowercase,
    }


def softmax_classify(
    df: DataFrame,
    id_col: str,
    text_col: str,
    model: dict,
    return_probs: bool = False,
) -> DataFrame:
    """Score documents under a :func:`train_softmax_classifier` model:
    ``(doc_id, label, score)`` where ``label`` is the argmax class name
    and ``score`` its softmax probability (ties break toward the lower
    class index, i.e. lexicographically-first label). With
    ``return_probs=True`` a ``probs`` column (array<double>, indexed by
    the model's ``classes`` order) is appended. Documents with no
    features score the bias prior alone, matching the trainer's
    convention.

    One explode + one groupBy per document plus a broadcast join of the
    ``buckets × K``-row weight table; the softmax and the argmax both
    run inside Catalyst array expressions — whole-stage-codegen, no
    Python stage.
    """
    classes = list(model["classes"])
    biases = [float(b) for b in model["biases"]]
    bias_arr = F.array(*[F.lit(b) for b in biases])
    name_arr = F.array(*[F.lit(c) for c in classes])
    feats = hashed_ngram_features(
        df, id_col, text_col, buckets=model["buckets"],
        n_max=model["n_max"], hash_mode=model["hash_mode"],
        lowercase=model["lowercase"],
    )
    tot = feats.groupBy("doc_id").agg(F.sum("cnt").alias("__tot"))
    margins = (
        feats.join(tot, "doc_id")
        .join(F.broadcast(model["weights"]), "bucket")
        .groupBy("doc_id", "cls")
        .agg(F.sum(F.col("cnt") / F.col("__tot") * F.col("w"))
             .alias("__s"))
        .groupBy("doc_id")
        .agg(F.sort_array(
            F.collect_list(F.struct("cls", "__s"))).alias("__cs"))
        # re-key margins by class INDEX into a dense array (missing
        # classes cannot occur: every bucket row joins all K classes)
        .select(
            "doc_id",
            F.expr("transform(__cs, t -> t.__s)").alias("__m"),
        )
    )
    out = (
        df.select(F.col(id_col).alias("doc_id"))
        .join(margins, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(
                F.col("__m"),
                F.array(*[F.lit(0.0)] * len(classes)),
            ).alias("__m"),
        )
        .select(
            "doc_id",
            F.zip_with("__m", bias_arr, lambda s, b: s + b).alias("__z"),
        )
        .select(
            "doc_id",
            F.transform(
                "__z",
                lambda s: F.exp(s - F.array_max("__z")),
            ).alias("__e"),
        )
        .select(
            "doc_id",
            F.transform(
                "__e",
                lambda e: e
                / F.aggregate(
                    "__e", F.lit(0.0), lambda acc, x: acc + x
                ),
            ).alias("__p"),
        )
    )
    best = F.expr(
        "array_position(__p, array_max(__p))"
    ).cast("int") - 1
    out = out.select(
        "doc_id",
        F.element_at(name_arr, best + 1).alias("label"),
        F.element_at("__p", best + 1).alias("score"),
        *(["__p"] if return_probs else []),
    )
    if return_probs:
        out = out.withColumnRenamed("__p", "probs")
    return out


def lang_classify(
    df: DataFrame, id_col: str, text_col: str, model: dict
) -> DataFrame:
    """Trained language identification: score documents under a
    :func:`train_softmax_classifier` model fit on language-labeled text
    → ``(doc_id, lang, lang_score)`` — the CCNet / fastText-langid
    pipeline stage (Wenzek et al. 2020 use exactly a fastText softmax
    classifier here), replacing the
    :func:`~mallarddv_spark.operators.textops.lang_guess` marker-word
    heuristic with a model that learns from evidence beyond stopwords.
    Thin rename over :func:`softmax_classify`; plug the result into
    :func:`~mallarddv_spark.operators.textops.text_profile` via its
    ``lang_model`` parameter."""
    return softmax_classify(df, id_col, text_col, model).select(
        "doc_id",
        F.col("label").alias("lang"),
        F.col("score").alias("lang_score"),
    )


def save_softmax_classifier(model: dict, path: str) -> None:
    """Persist a :func:`train_softmax_classifier` model:
    ``{path}/weights`` parquet plus a one-row ``{path}/params`` parquet
    (classes + biases as arrays, written LAST — the completeness-marker
    convention of :func:`save_lr_classifier`)."""
    from mallarddv_spark.functions.litframe import literal_frame

    model["weights"].write.mode("overwrite").parquet(f"{path}/weights")
    spark = model["weights"].sparkSession
    literal_frame(
        spark,
        [(list(model["classes"]),
          [float(b) for b in model["biases"]],
          model["buckets"], model["n_max"], model["hash_mode"],
          bool(model["lowercase"]))],
        "classes array<string>, biases array<double>, buckets int, "
        "n_max int, hash_mode string, lowercase boolean",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/params")


def load_softmax_classifier(spark, path: str) -> dict:
    """Load a model persisted by :func:`save_softmax_classifier`."""
    p = spark.read.parquet(f"{path}/params").first()
    return {
        "weights": spark.read.parquet(f"{path}/weights"),
        "classes": list(p.classes),
        "biases": [float(b) for b in p.biases],
        "loss_history": [],
        "buckets": int(p.buckets),
        "n_max": int(p.n_max),
        "hash_mode": p.hash_mode,
        "lowercase": bool(p.lowercase),
    }


# ---------------------------------------------------------------------------
# winnowing, incremental dedup, BPE-ish tokenization
# ---------------------------------------------------------------------------


def winnow_fingerprints(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 4,
    guarantee: int = 8,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al. 2003, the MOSS
    algorithm): hash every ``window``-token span, then slide a
    ``guarantee``-hash window over the hash sequence keeping each window's
    minimum. The sliding (NOT tumbling) selection is what carries the
    winnowing guarantee: any run of ``window + guarantee - 1`` tokens
    shared by two documents yields at least one shared fingerprint,
    regardless of how the documents' positions align — a tumbling-stripe
    variant loses this because stripe boundaries differ per document.
    Expected density is ~2/(guarantee+1) of the hashes.

    Returns distinct ``(doc_id, fp)`` rows — the compact index that gets
    shuffled/joined downstream; the corpus pass itself is one projection
    (rolling hash + sliding min as array expressions), scan-only, no
    shuffle. Hashes are md5 hex (engine-portable, lexicographic min) —
    swap for xxhash64 when a cross-engine oracle is not needed.
    """
    toks = F.split(F.trim(text_col), r"\s+")
    parts = ", ".join(f"toks[i+{j}]" for j in range(window))
    d = df.select(F.col(id_col).alias("doc_id"), toks.alias("toks")).filter(
        F.size("toks") >= window
    )
    hashes = F.expr(
        f"transform(sequence(0, size(toks)-{window}), "
        f"i -> md5(concat_ws(' ', {parts})))"
    )
    # sliding-window minima, all array-side; slice() clamps at the array
    # end and greatest(...) keeps short documents (fewer hashes than the
    # guarantee) emitting the min of what they have
    mins = F.expr(
        f"array_distinct(transform("
        f"sequence(0, greatest(size(hs) - {guarantee}, 0)), "
        f"i -> aggregate(slice(hs, i + 1, {guarantee}), cast(null as string), "
        f"(acc, x) -> CASE WHEN acc IS NULL OR x < acc THEN x ELSE acc END)))"
    )
    return (
        d.withColumn("hs", hashes)
        .select("doc_id", F.explode(mins).alias("fp"))
    )


def incremental_dedup(
    new_df: DataFrame,
    history_df: DataFrame,
    id_col: str,
    text_col: str,
    normalize: bool = False,
    broadcast: bool = True,
) -> DataFrame:
    """Dedup a NEW batch against the accumulated corpus — the daily-crawl
    shape: most duplicates are vs history, not within the batch.

    Returns one row per new-batch document: ``(id, fingerprint, verdict,
    keep)`` with verdict ∈ ``dup_history`` (content already in the
    corpus), ``dup_batch`` (another batch doc with the same content has a
    smaller id), ``new``. ``keep`` marks the canonical survivor (the
    min-id holder of a never-seen fingerprint).

    Scale shape: history NEVER shuffles. A left join cannot broadcast the
    small (batch) side — Spark only broadcasts the build side, which for
    ``batch LEFT JOIN hist`` is the 100 TB history — so instead we probe
    the history with an *inner* join whose build side is the broadcast
    batch fingerprint set: the history scans once, streams through a
    BroadcastHashJoin, and only the matched fingerprints (≤ |batch|) are
    deduplicated and broadcast back onto the batch. In-batch dedup is a
    window over the batch only. History itself is append-only: union the
    kept rows back in downstream.

    ``broadcast=True`` (the default) HARD-REQUIRES the batch fingerprint
    set to fit in a single executor/driver broadcast (Spark's 8 GB
    broadcast ceiling; ~16 bytes + id per distinct fingerprint). That
    holds for any sane daily-batch-vs-corpus shape. For a batch too large
    to broadcast, pass ``broadcast=False``: both joins degrade to plain
    shuffle joins (history then shuffles on fingerprint — correct, just
    not the history-never-moves plan).
    """
    content = F.col(text_col)
    if normalize:
        content = F.trim(F.regexp_replace(F.lower(content), r"\s+", " "))
    fp = F.md5(content)
    batch = new_df.select(F.col(id_col).alias("id"), fp.alias("fingerprint"))
    batch_fps = batch.select("fingerprint").distinct()
    # History-side probe: broadcast the batch fingerprints, stream history
    # through the join (no Exchange on the history branch), then distinct
    # over the matched-only set (bounded by |batch|, not |history|).
    probe = F.broadcast(batch_fps) if broadcast else batch_fps
    hist_hits = (
        history_df.select(fp.alias("fingerprint"))
        .join(probe, "fingerprint")
        .distinct()
        .withColumn("in_hist", F.lit(True))
    )
    # In-batch canonical pick: groupBy, NOT a window partitioned by
    # fingerprint — a window must colocate every copy of a fingerprint in
    # one task, so a boilerplate page duplicated 10^7x inside a backfill
    # batch would serialize into a single partition. The aggregate gets a
    # map-side partial combine (each task contributes one row per local
    # fingerprint), and the result table is bounded by the DISTINCT
    # fingerprint count — the same size class as the broadcast probe set,
    # so it rides the same broadcast gate back onto the batch.
    min_ids = batch.groupBy("fingerprint").agg(F.min("id").alias("min_id"))
    batch = batch.join(
        F.broadcast(min_ids) if broadcast else min_ids, "fingerprint"
    )
    joined = batch.join(
        F.broadcast(hist_hits) if broadcast else hist_hits, "fingerprint", "left"
    )
    verdict = (
        F.when(F.col("in_hist").isNotNull(), F.lit("dup_history"))
        .when(F.col("id") != F.col("min_id"), F.lit("dup_batch"))
        .otherwise(F.lit("new"))
    )
    return joined.select(
        "id",
        "fingerprint",
        verdict.alias("verdict"),
        (verdict == "new").alias("keep"),
    )


def remove_duplicated_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_dup_docs: int = 2,
    min_line_chars: int = 10,
    sep: str = "\n",
    exact: bool = True,
    broadcast_dups: bool = True,
) -> DataFrame:
    """Corpus-level boilerplate removal (the CCNet / RefinedWeb line-dedup
    stage): drop every line whose normalized form appears in at least
    ``min_dup_docs`` DISTINCT documents — nav bars, cookie banners, footer
    text. Returns ``(id, text, lines_kept, lines_dropped)`` with the text
    reassembled from the surviving lines in original order.

    Lines shorter than ``min_line_chars`` after trimming are kept
    unconditionally (blank lines and stray punctuation are structure, not
    boilerplate, and their hash buckets would be the hottest keys in the
    corpus — skipping them also removes the worst skew).

    Scale shape: one posexplode projection → one groupBy on the 64-bit
    line hash (map-side combined; ``exact=False`` switches the
    distinct-document count to ``approx_count_distinct``, the right call
    at 100 TB where exact distinct per line would carry doc-id sets
    through the shuffle) → the duplicated-line hash set joins back
    BROADCAST by default (its size is bounded by corpus/min_dup_docs and
    boilerplate vocabularies are tiny relative to the corpus; post-agg
    size estimates are too coarse for Catalyst to pick this alone —
    ``broadcast_dups=False`` is the escape hatch for a pathological dup
    set) → one groupBy(id) reassembly using a sort within the aggregate,
    not a window.
    """
    import re

    # sep is a LITERAL separator (used verbatim in the reassembling
    # concat_ws) — escape it for the regex-based split so metacharacter
    # separators ('|', '. ') don't shred the text
    lines = df.select(
        F.col(id_col).alias("id"),
        F.posexplode_outer(F.split(F.col(text_col), re.escape(sep))).alias(
            "pos", "line"
        ),
    ).withColumn("norm", F.lower(F.trim("line")))
    eligible = F.length("norm") >= min_line_chars
    hashed = lines.withColumn(
        "lh", F.when(eligible, F.xxhash64("norm"))
    )
    cd = (
        F.countDistinct("id") if exact else F.approx_count_distinct("id")
    )
    dup_hashes = (
        hashed.filter("lh IS NOT NULL")
        .groupBy("lh")
        .agg(cd.alias("docs"))
        .filter(F.col("docs") >= min_dup_docs)
        .select("lh", F.lit(True).alias("__dup"))
    )
    if broadcast_dups:
        dup_hashes = F.broadcast(dup_hashes)
    tagged = hashed.join(dup_hashes, "lh", "left")
    kept = tagged.withColumn("__drop", F.coalesce("__dup", F.lit(False)))
    return (
        kept.groupBy("id")
        .agg(
            F.concat_ws(
                sep,
                F.expr(
                    "transform(array_sort(collect_list(CASE WHEN NOT __drop "
                    "THEN struct(pos, line) END)), s -> s.line)"
                ),
            ).alias("text"),
            F.sum(F.expr("CASE WHEN __drop THEN 0 ELSE 1 END")).alias(
                "lines_kept"
            ),
            F.sum(F.expr("CASE WHEN __drop THEN 1 ELSE 0 END")).alias(
                "lines_dropped"
            ),
        )
    )


def repetition_profile(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Gopher-style within-document repetition signals (Rae et al. 2021
    §A1.1), one scan, zero shuffle, all array expressions:

    * ``dup_line_frac`` — fraction of lines that are duplicates of an
      earlier line in the same document;
    * ``dup_line_char_frac`` — fraction of characters inside those
      duplicated lines (catches short-line spam that the count fraction
      underweights);
    * ``dup_para_frac`` — same over blank-line-separated paragraphs.

    Feed the result to a filter (Gopher cuts dup_line_frac > 0.30,
    dup_para_frac > 0.30) or store as curation metadata columns.
    """

    def fracs(split_re: str, prefix: str, with_chars: bool):
        # split_re is already escaped for embedding in a SQL string
        # literal ('\\n' -> regex \n after the parser unescapes)
        arr = f"filter(transform(split({text_col}, '{split_re}'), "
        arr += "s -> lower(trim(s))), s -> length(s) > 0)"
        cnt = F.expr(f"size({arr})")
        dcnt = F.expr(f"size({arr}) - size(array_distinct({arr}))")
        out = [
            F.when(cnt > 0, dcnt / cnt).otherwise(0.0).alias(
                f"dup_{prefix}_frac"
            )
        ]
        if with_chars:
            chars = F.expr(f"aggregate({arr}, 0L, (a, s) -> a + length(s))")
            # chars inside duplicated elements = total - distinct-set chars
            dchars = F.expr(
                f"aggregate({arr}, 0L, (a, s) -> a + length(s)) - "
                f"aggregate(array_distinct({arr}), 0L, "
                "(a, s) -> a + length(s))"
            )
            out.append(
                F.when(chars > 0, dchars / chars).otherwise(0.0).alias(
                    f"dup_{prefix}_char_frac"
                )
            )
        return out

    return df.select(
        F.col(id_col).alias("id"),
        *fracs(r"\\n", "line", True),
        *fracs(r"\\n\\s*\\n", "para", False),
    )


#: GPT-2-style pretokenizer, simplified to constructs shared by Java regex
#: and RE2 (ASCII classes, no lookahead): contraction suffixes, space-glued
#: letter runs, digit runs, punctuation runs, whitespace runs.
BPE_SPLIT_REGEX = r"'(s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s']+|\s+"


def bpe_token_count(text: Column | str) -> Column:
    """Token count under the BPE-ish pretokenization — a much better LM
    cost estimate than whitespace counting (punctuation, contractions and
    digit runs tokenize separately). Pure regexp projection.
    """
    t = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(t, F.lit(BPE_SPLIT_REGEX), 0))


def temperature_weights(
    masses: dict[str, float], temperature: float = 1.0
) -> dict[str, float]:
    """Temperature-scaled mixture weights from per-stratum token masses:
    ``w_i ∝ mass_i^(1/T)`` (Conneau & Lample 2019's multilingual sampling;
    T=1 reproduces natural proportions, T→∞ approaches uniform, T<1
    exaggerates head strata). Feed the result to
    :func:`mix_to_token_budget` — the standard way to up-weight low-resource
    strata without hand-tuning each rate."""
    if temperature <= 0:
        raise DVConfigurationError(
            "temperature_weights: temperature must be > 0"
        )
    if not masses or any(m < 0 for m in masses.values()):
        raise DVConfigurationError(
            "temperature_weights: masses must be non-empty and non-negative"
        )
    scaled = {k: m ** (1.0 / temperature) for k, m in masses.items()}
    total = sum(scaled.values())
    if total <= 0:
        raise DVConfigurationError(
            "temperature_weights: all masses are zero"
        )
    return {k: v / total for k, v in scaled.items()}


def _fit_embedding_centroids(
    feat: DataFrame,
    id_col: str,
    n_clusters: int,
    seed: int,
    max_iter: int,
    salt: str,
    corpus_size_hint: int | None,
):
    """Shared k-means fit for the embedding-curation family: train on a
    bounded CONTENT-DETERMINISTIC coreset (rows ranked by a salted hash
    of the id — same corpus, same centroids, regardless of partition
    layout; ``df.sample`` would be layout-dependent), k-means‖ init,
    ``max_iter`` Lloyd iterations, fixed seed. ``feat`` must carry
    ``__feat`` (MLlib vector). No count pass: without
    ``corpus_size_hint`` the coreset is a TakeOrderedAndProject over
    the corpus; with it a hash-threshold pre-filter cuts the corpus to
    ~3× the coreset size before the top-k merge."""
    from pyspark.ml.clustering import KMeans

    target = int(n_clusters) * 512
    pool = feat.withColumn("__ck", hex_bucket(id_col, f"{salt}-coreset", 8))
    if corpus_size_hint is not None and int(corpus_size_hint) > 3 * target:
        pool = pool.filter(
            F.col("__ck")
            < F.lit(_hex_bound(3 * target / int(corpus_size_hint), 8))
        )
    coreset = pool.orderBy("__ck", id_col).limit(target).drop("__ck")
    return KMeans(
        k=int(n_clusters), seed=seed, maxIter=int(max_iter),
        featuresCol="__feat", predictionCol="centroid_id",
    ).fit(coreset)


def cluster_balanced_sample(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_clusters: int = 64,
    per_cluster: int | None = None,
    total: int | None = None,
    order: str = "hash",
    seed: int = 42,
    salt: str = "cbal-v1",
    max_iter: int = 20,
    corpus_size_hint: int | None = None,
) -> DataFrame:
    """Cluster-balanced corpus sampling (the D4 / SSL-prototypes shape —
    Tirumala et al. 2023, Sorscher et al. 2022): k-means over the
    embedding space, then an EQUAL per-cluster quota. Density-blind
    uniform sampling reproduces the corpus's density, so the
    over-crawled regions of embedding space (boilerplate-ish, duplicated
    topics) dominate any fixed budget; capping per cluster preserves
    coverage of the sparse regions instead.

    Quota: ``per_cluster`` directly, or ``ceil(total / n_clusters)``.
    Within a cluster the kept set is ordered by ``order``:

    * ``"hash"`` — deterministic pseudo-random (the
      :func:`cap_per_stratum` hashed-order contract: stable across runs
      and under corpus growth);
    * ``"far_first"`` — keep the points FARTHEST from their centroid
      first (SSL-prototypes' prototype pruning: the most prototypical,
      most redundant examples go first);
    * ``"near_first"`` — the opposite (keep prototypes; outlier/noise
      pruning).

    Returns the input plus ``(centroid_id, cap_rank)`` for the kept
    rows. Centroids train on a bounded CONTENT-DETERMINISTIC coreset
    (the IVF coreset precedent — k-means quality needs a few hundred
    points per centroid, not the corpus): rows ranked by a salted hash
    of the id, so the same corpus yields the same coreset — and thus
    the same centroids and far_first/near_first selections — regardless
    of how the input happens to be partitioned (``df.sample`` would be
    layout-dependent). No count pass is taken: without
    ``corpus_size_hint`` the coreset is a ``TakeOrderedAndProject`` over
    the corpus (per-task top-k + one merge — fine up to ~10^9 rows);
    at the 100 TB shape pass ``corpus_size_hint`` (any order-of-
    magnitude estimate ≥ the true count works) and a hash-threshold
    pre-filter cuts the corpus to ~3× the coreset size BEFORE the
    top-k, so the merge sees thousands of rows, not per-task tops from
    a million tasks. Training runs k-means‖ init (MLlib default) for up
    to ``max_iter`` Lloyd iterations with the fixed ``seed``; then ONE
    transform pass assigns clusters. The quota is a constant, so the
    per-cluster rank filter plans as Partial+Final WindowGroupLimit —
    no cluster's membership ever serializes into one task.

    Not SQL-expressible (iterative k-means) — pytest-evidenced, like the
    BPE trainer; the registry's sampling parts cover the relational
    samplers.
    """
    from pyspark.ml.functions import array_to_vector

    if (per_cluster is None) == (total is None):
        raise DVConfigurationError(
            "cluster_balanced_sample: set exactly one of per_cluster / total"
        )
    if int(n_clusters) < 2:
        raise DVConfigurationError(
            "cluster_balanced_sample: n_clusters must be >= 2 (MLlib "
            "KMeans minimum; a 1-cluster cap is just cap_per_stratum on a "
            "constant)"
        )
    if order not in ("hash", "far_first", "near_first"):
        raise DVConfigurationError(
            f"cluster_balanced_sample: unknown order {order!r}"
        )
    quota = int(per_cluster if per_cluster is not None
                else -(-int(total) // int(n_clusters)))
    if quota <= 0:
        raise DVConfigurationError(
            "cluster_balanced_sample: quota must be positive"
        )
    feat = df.select(
        F.col(id_col),
        F.expr(f"transform({vec_col}, x -> cast(x as double))").alias("__v"),
    ).withColumn("__feat", array_to_vector("__v"))
    km = _fit_embedding_centroids(
        feat, id_col, int(n_clusters), seed, int(max_iter), salt,
        corpus_size_hint,
    )
    assigned = km.transform(feat).select(id_col, "__v", "centroid_id")
    if order == "hash":
        from pyspark.sql import Window

        key = hex_bucket(id_col, salt, 8)
        w = Window.partitionBy("centroid_id").orderBy(
            F.asc(key), F.asc(id_col)
        )
    else:
        from mallarddv_spark.functions.litframe import literal_frame

        centroids = literal_frame(
            assigned.sparkSession,
            [(i, [float(x) for x in c]) for i, c in
             enumerate(km.clusterCenters())],
            "centroid_id int, __c array<double>",
        )
        assigned = assigned.join(F.broadcast(centroids), "centroid_id")
        dist = F.expr(
            "aggregate(zip_with(__v, __c, (a, b) -> (a - b) * (a - b)),"
            " cast(0.0 as double), (acc, x) -> acc + x)"
        )
        assigned = assigned.withColumn("__d2", F.round(dist, 10))
        from pyspark.sql import Window

        direction = F.desc("__d2") if order == "far_first" else F.asc("__d2")
        w = Window.partitionBy("centroid_id").orderBy(
            direction, F.asc(id_col)
        )
    kept = (
        assigned.withColumn("cap_rank", F.row_number().over(w))
        .filter(F.col("cap_rank") <= quota)
        .select(id_col, "centroid_id", "cap_rank")
    )
    return df.join(kept, id_col).select(
        *df.columns, "centroid_id", F.col("cap_rank").cast("bigint").alias(
            "cap_rank"
        )
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_clusters: int = 64,
    eps: float = 0.05,
    keep: str = "min_id",
    seed: int = 42,
    max_iter: int = 20,
    corpus_size_hint: int | None = None,
    salt: str = "semdedup-v1",
    cc_max_iter: int = 25,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication by k-means
    partitioning + within-cluster cosine — removes *paraphrase-level*
    duplicates that no lexical signature (MinHash/SimHash/winnowing)
    can see, at thresholds too loose for the banded-LSH near-dup path
    to capture efficiently.

    Pipeline: (1) k-means over the embedding space (the shared
    content-deterministic coreset fit — same centroids regardless of
    input layout); (2) ONE assignment pass; (3) pairwise cosine within
    each cluster only — pairs with ``cosine >= 1 - eps`` are semantic
    duplicates; (4) duplicate groups = connected components of the pair
    graph (a chain a~b~c is one group even when cos(a,c) misses the
    bar — the same transitive-closure policy as the lexical dedup
    tier). Returns one row per input: ``(id, centroid_id, cluster_id,
    keep)``; singletons are their own cluster.

    ``keep`` policy: ``"min_id"`` keeps each group's minimum id (the
    module's deterministic default); ``"far_centroid"`` keeps the
    member FARTHEST from its k-means centroid (ties: min id) — the
    paper's choice, which retains the least prototypical exemplar and
    pairs with :func:`cluster_balanced_sample`'s ``far_first`` pruning.

    Scale shape: the corpus never self-joins globally — candidate pairs
    exist only within a k-means cell, so the quadratic work is
    ``Σ cell²``. Size ``n_clusters`` ≈ corpus / desired-cell-size (the
    paper uses ~10⁴ clusters at 10⁸ docs); a mega-cell means the
    centroids under-fit — raise ``n_clusters`` rather than ever letting
    one cell hold millions. The component pass shuffles only the pair
    list (bounded by actual duplication); the far-centroid pick is two
    groupBys on the duplicate rows, never a window."""
    from mallarddv_spark.operators.graph import connected_components
    from pyspark.ml.functions import array_to_vector

    if not 0.0 < float(eps) < 1.0:
        raise DVConfigurationError(
            "semantic_dedup: eps must be in (0, 1)"
        )
    if keep not in ("min_id", "far_centroid"):
        raise DVConfigurationError(
            f"semantic_dedup: unknown keep policy {keep!r}"
        )
    if int(n_clusters) < 2:
        raise DVConfigurationError(
            "semantic_dedup: n_clusters must be >= 2"
        )
    threshold = 1.0 - float(eps)
    feat = df.select(
        F.col(id_col).alias("id"),
        F.expr(f"transform({vec_col}, x -> cast(x as double))").alias("__v"),
    ).withColumn("__feat", array_to_vector("__v"))
    km = _fit_embedding_centroids(
        feat, "id", int(n_clusters), seed, int(max_iter), salt,
        corpus_size_hint,
    )
    assigned = (
        km.transform(feat)
        .select("id", "__v", "centroid_id")
        .withColumn(
            "__n",
            F.expr(
                "sqrt(aggregate(__v, cast(0.0 as double), (a, x) -> a + x * x))"
            ),
        )
    )
    a = assigned.select(
        "centroid_id", F.col("id").alias("id_a"),
        F.col("__v").alias("__va"), F.col("__n").alias("__na"),
    )
    b = assigned.select(
        "centroid_id", F.col("id").alias("id_b"),
        F.col("__v").alias("__vb"), F.col("__n").alias("__nb"),
    )
    # try_divide: a zero-norm embedding can never pair (NULL cosine
    # fails the threshold) — it survives as its own singleton
    cos = F.expr(
        "round(try_divide(aggregate(zip_with(__va, __vb, (x, y) -> x * y), "
        "cast(0.0 as double), (a, x) -> a + x), (__na * __nb)), 6)"
    )
    pairs = (
        a.join(b, "centroid_id")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("__cos", cos)
        .filter(F.col("__cos") >= threshold)
        .select("id_a", "id_b")
    )
    comp = connected_components(pairs, "id_a", "id_b", max_iter=cc_max_iter)
    verdicts = (
        assigned.select("id", "centroid_id", "__v", "__n")
        .join(comp, F.col("id") == F.col("node"), "left")
        .select(
            "id", "centroid_id", "__v", "__n",
            F.coalesce("component", F.col("id")).alias("cluster_id"),
        )
    )
    if keep == "min_id":
        out = verdicts.withColumn("keep", F.col("id") == F.col("cluster_id"))
        return out.select("id", "centroid_id", "cluster_id", "keep")
    # far_centroid: distance to the OWN centroid, group max, tie min id —
    # two groupBys over the (duplication-bounded) verdict rows, no window
    from mallarddv_spark.functions.litframe import literal_frame

    centroids = literal_frame(
        df.sparkSession,
        [(i, [float(x) for x in c]) for i, c in enumerate(km.clusterCenters())],
        "centroid_id int, __c array<double>",
    )
    dist = F.round(
        F.expr(
            "aggregate(zip_with(__v, __c, (a, b) -> (a - b) * (a - b)), "
            "cast(0.0 as double), (acc, x) -> acc + x)"
        ),
        10,
    )
    with_d = verdicts.join(F.broadcast(centroids), "centroid_id").withColumn(
        "__d", dist
    )
    dmax = with_d.groupBy(F.col("cluster_id").alias("__cl")).agg(
        F.max("__d").alias("__dmax")
    )
    winner = (
        with_d.join(
            dmax,
            (F.col("cluster_id") == F.col("__cl"))
            & (F.col("__d") == F.col("__dmax")),
        )
        .groupBy(F.col("cluster_id").alias("__cl2"))
        .agg(F.min("id").alias("__keep_id"))
    )
    return (
        with_d.join(winner, F.col("cluster_id") == F.col("__cl2"), "left")
        .select(
            "id", "centroid_id", "cluster_id",
            (F.col("id") == F.col("__keep_id")).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# per-source (host-level) curation
# ---------------------------------------------------------------------------


def source_stats(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    lang: str = "en",
    short_tokens: int = 50,
) -> DataFrame:
    """Per-source corpus profile — the host-level view C4/RefinedWeb-
    style web curation filters on (Raffel et al. 2020 drop whole hosts
    via blocklists; Penedo et al. 2023 weigh per-domain quality): doc
    volume, token volume, mean quality-heuristic score, and the share
    of short documents, one row per source.

    Returns ``(source, n_docs, n_tokens, n_short, sum_q6,
    mean_quality, short_frac)``. ``sum_q6`` is the per-doc
    :func:`textops.quality_score` snapped to a 1e-6 integer grid
    (the score already rounds to 6 dp, so the snap is lossless) and
    summed in integer space — the mean is ONE final division, so the
    profile is partition-order independent and replays exactly in a
    second engine.

    Scale shape: one corpus scan into one ``groupBy(source)`` with
    map-side partial aggregation — a mega-host contributes bounded
    per-task partials, never a colocated window. The result is
    #hosts-sized (10^6–10^8 at web scale), not corpus-sized.
    """
    from mallarddv_spark.operators.textops import quality_score, token_count

    if int(short_tokens) < 1:
        raise DVConfigurationError("source_stats: short_tokens must be >= 1")
    per_doc = df.select(
        F.col(source_col).alias("source"),
        token_count(text_col).cast("bigint").alias("__nt"),
        F.round(quality_score(text_col, lang) * 1e6).cast("bigint").alias(
            "__q6"
        ),
    )
    agg = per_doc.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("__nt").alias("n_tokens"),
        F.sum(
            F.when(F.col("__nt") < int(short_tokens), 1).otherwise(0)
        ).cast("bigint").alias("n_short"),
        F.sum("__q6").alias("sum_q6"),
    )
    return agg.select(
        "source",
        "n_docs",
        "n_tokens",
        "n_short",
        "sum_q6",
        F.round(
            F.col("sum_q6").cast("double")
            / F.col("n_docs").cast("double") / 1e6,
            6,
        ).alias("mean_quality"),
        F.round(
            F.col("n_short").cast("double") / F.col("n_docs").cast("double"),
            6,
        ).alias("short_frac"),
    )


def source_filter(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    lang: str = "en",
    short_tokens: int = 50,
    min_docs: int | None = None,
    min_mean_quality: float | None = None,
    max_short_frac: float | None = None,
    blocklist: list[str] | DataFrame | None = None,
) -> DataFrame:
    """Drop WHOLE sources that fail host-level bars — the C4 blocklist /
    RefinedWeb per-domain discipline: a low-quality host pollutes every
    document it serves, so the decision unit is the source, not the
    doc. Keeps rows whose source passes every enabled bar (``None``
    disables a bar) and is not blocklisted; returns the input columns
    plus the source's ``mean_quality`` and ``short_frac`` for audit.

    Scale shape: the verdict table comes from :func:`source_stats`
    (#hosts-sized). The corpus joins it WITHOUT a forced broadcast —
    at web scale a host table can reach 10^8 rows, where a forced
    broadcast is a driver OOM; planner stats/AQE still pick a broadcast
    when the table is actually small, and AQE's skew-join splits the
    mega-host partitions when it shuffles. The blocklist (if a plain
    list) is a literal frame on an anti-join.
    """
    stats = source_stats(
        df, source_col=source_col, text_col=text_col, lang=lang,
        short_tokens=short_tokens,
    )
    keep = F.lit(True)
    if min_docs is not None:
        keep = keep & (F.col("n_docs") >= int(min_docs))
    if min_mean_quality is not None:
        keep = keep & (F.col("mean_quality") >= float(min_mean_quality))
    if max_short_frac is not None:
        keep = keep & (F.col("short_frac") <= float(max_short_frac))
    verdicts = stats.filter(keep).select(
        "source", "mean_quality", "short_frac"
    )
    if blocklist is not None:
        if isinstance(blocklist, DataFrame):
            bl = blocklist.select(F.col(blocklist.columns[0]).alias("source"))
        else:
            from mallarddv_spark.functions.litframe import literal_frame

            bl = literal_frame(
                df.sparkSession, [(s,) for s in blocklist], "source string"
            )
        verdicts = verdicts.join(F.broadcast(bl), "source", "left_anti")
    out = df.join(
        verdicts.withColumnRenamed("source", source_col), source_col
    )
    return out.select(*df.columns, "mean_quality", "short_frac")


def lang_token_counts(
    df: DataFrame,
    lang_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Per-language token totals ``(lang, n_docs, n_tokens)`` — the
    input table UniMax allocates over. One corpus scan, one
    ``groupBy(lang)`` with map-side combine (a mega-language is bounded
    per-task partials, never a colocated window)."""
    from mallarddv_spark.operators.textops import token_count

    return (
        df.select(
            F.col(lang_col).alias("lang"),
            token_count(text_col).cast("bigint").alias("__nt"),
        )
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("__nt").alias("n_tokens"),
        )
    )


def unimax_allocation(
    counts: DataFrame,
    budget_tokens: int,
    max_epochs: int = 4,
    lang_col: str = "lang",
    tokens_col: str = "n_tokens",
) -> DataFrame:
    """UniMax budget allocation (Chung et al. 2023): split a total
    training-token budget across languages so no language repeats more
    than ``max_epochs`` times, distributing the remainder UNIFORMLY over
    the unconstrained languages — the fairer alternative to temperature
    sampling (:func:`temperature_weights`), which over-samples head
    languages and can epoch tail languages hundreds of times.

    Waterfilling, closed-form and relational: with capacities
    ``c_i = n_tokens_i * max_epochs`` sorted ascending, a language is
    capped (gets all of ``c_i``) exactly when ``c_i`` lies below the
    waterlevel ``u* = (B - S_k) / (L - k)`` of the largest feasible
    prefix ``k`` (``S_k`` = prefix capacity sum); every uncapped
    language gets ``u*``. The feasibility test
    ``c_i·(L - i) <= B - S_i`` and the final level are PURE INTEGER
    arithmetic (``div``), so the allocation replays exactly in any
    engine — no float enters the pipeline.

    Returns ``(lang, n_tokens, capacity, allocated, epochs, capped)``
    with ``epochs = allocated / n_tokens`` rounded to 6 dp (the one
    float, derived for audit). If total capacity <= budget every
    language is capped and the leftover budget is simply unspent —
    UniMax never repeats data past ``max_epochs``.

    Scale shape: every window here runs over the LANGUAGE table
    (hundreds of rows — metadata, not data), after the corpus has been
    reduced by :func:`lang_token_counts`; the global sort is
    deliberate and bounded.
    """
    from pyspark.sql import Window

    if int(budget_tokens) < 0:
        raise DVConfigurationError(
            "unimax_allocation: budget_tokens must be >= 0"
        )
    if int(max_epochs) < 1:
        raise DVConfigurationError("unimax_allocation: max_epochs must be >= 1")
    base = counts.select(
        F.col(lang_col).alias("lang"),
        F.col(tokens_col).cast("bigint").alias("n_tokens"),
        (F.col(tokens_col).cast("bigint") * int(max_epochs)).alias("capacity"),
    )
    w_sort = Window.orderBy(F.asc("capacity"), F.asc("lang"))
    w_cum = w_sort.rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy(F.lit(1))
    b = F.lit(int(budget_tokens)).cast("bigint")
    ranked = (
        base.withColumn("__i", F.row_number().over(w_sort))
        .withColumn("__s", F.sum("capacity").over(w_cum))
        .withColumn("__l", F.count("*").over(w_all))
    )
    # prefix i is feasible as the capped set when, after granting the
    # first i capacities outright, the uniform share of the remainder
    # still covers c_i: c_i * (L - i) <= B - S_i  (all bigints — exact)
    feasible = (
        F.col("capacity") * (F.col("__l") - F.col("__i")) <= b - F.col("__s")
    ) & (F.col("__s") <= b)
    ranked = ranked.withColumn(
        "__k", F.max(F.when(feasible, F.col("__i")).otherwise(0)).over(w_all)
    ).withColumn(
        "__sk",
        F.coalesce(
            F.max(F.when(F.col("__i") == F.col("__k"), F.col("__s"))).over(
                w_all
            ),
            F.lit(0).cast("bigint"),
        ),
    )
    # integer waterlevel: floor((B - S_k) / (L - k)); when every
    # language is capped (k = L) the level is unused
    level = F.expr("(__b - __sk) div (__l - __k)")
    out = ranked.withColumn("__b", b).withColumn(
        "allocated",
        F.when(F.col("__i") <= F.col("__k"), F.col("capacity")).otherwise(
            F.when(F.col("__l") == F.col("__k"), F.col("capacity"))
            .otherwise(F.least(F.col("capacity"), level))
        ),
    )
    return out.select(
        "lang",
        "n_tokens",
        "capacity",
        F.col("allocated").cast("bigint").alias("allocated"),
        F.round(
            F.col("allocated").cast("double")
            / F.col("n_tokens").cast("double"),
            6,
        ).alias("epochs"),
        (F.col("__i") <= F.col("__k")).alias("capped"),
    )


def materialize_epochs(
    df: DataFrame,
    alloc: DataFrame,
    lang_col: str = "lang",
    id_col: str = "doc_id",
    salt: str = "epochs-v1",
) -> DataFrame:
    """Materialize a per-language token budget — the output of
    :func:`unimax_allocation`, or any ``(lang, n_tokens, allocated)``
    table — into the actual training corpus: every document of language
    ``l`` repeats ``floor(allocated_l / n_tokens_l)`` times, and a
    deterministic hash-sampled subset of its documents (rate =
    fractional epoch remainder) carries one extra copy, so each
    language's expected materialized token count equals its allocation.
    Sampling documents at the token-remainder rate is the standard
    unbiased stand-in for an exact token knapsack (documents are
    exchangeable within a language).

    Adds ``epoch`` (1-based copy number). Documents whose language has
    no allocation row — or a zero allocation — are dropped. Selection
    is a pure function of ``(salt, id)``: stable across runs, engines,
    and corpus growth (the :func:`split_assign` discipline), and the
    per-language extra-copy threshold is derived in PURE integer
    arithmetic (``(remainder_tokens << 16) // n_tokens`` against the
    first 4 md5 hex chars), so the materialization replays exactly in a
    second engine.

    Scale shape: the allocation table is collected driver-side (it is
    per-LANGUAGE — hundreds of rows, metadata not data) and folded into
    a literal CASE chain, so the corpus pays a pure projection + one
    bounded explode (factor ≤ max_epochs) — no join, no shuffle. Do not
    point this at a per-host allocation with 10^6+ strata; that needs
    the join form.
    """
    rows = alloc.select(
        F.col(lang_col).alias("l"),
        F.col("n_tokens").cast("bigint").alias("n"),
        F.col("allocated").cast("bigint").alias("a"),
    ).collect()
    if not rows:
        raise DVConfigurationError("materialize_epochs: empty allocation")
    full_expr: Column = F.lit(None).cast("bigint")
    thr_expr: Column = F.lit(None).cast("string")
    for r in rows:
        if r.n is None or r.n <= 0:
            continue
        full = int(r.a) // int(r.n)
        rem = int(r.a) - full * int(r.n)
        bound = format((rem << 16) // int(r.n), "04x")
        cond = F.col(lang_col) == r.l
        full_expr = F.when(cond, F.lit(full)).otherwise(full_expr)
        thr_expr = F.when(cond, F.lit(bound)).otherwise(thr_expr)
    b = hex_bucket(id_col, salt, 4)
    copies = (
        full_expr
        + F.when(b < thr_expr, F.lit(1)).otherwise(F.lit(0))
    ).cast("int")
    return (
        df.withColumn("__copies", copies)
        .filter(F.col("__copies") > 0)
        .select(
            "*", F.explode(F.sequence(F.lit(1), F.col("__copies"))).alias(
                "epoch"
            )
        )
        .drop("__copies")
        .withColumn("epoch", F.col("epoch").cast("bigint"))
    )


def content_term_filter(
    df: DataFrame,
    id_col: str,
    text_col: str,
    terms: list[str] | DataFrame,
    max_hits: int = 0,
    lowercase: bool = True,
    match: str = "word",
) -> DataFrame:
    """Term-level content screen — the C4 badword stage (Raffel et al.
    2020 drop any page containing a word from a blocklist), the
    document-content complement to :func:`source_filter`'s host-level
    blocklist. Returns the input plus ``(term_hits, content_keep)``;
    ``content_keep`` is true when the document matched at most
    ``max_hits`` list entries (C4's policy is the default 0 — any hit
    drops).

    ``match="word"`` counts exact token matches (whitespace
    tokenization; "class" never matches a listed "ass") — the scalable
    mode: the token stream inner-joins the broadcast term table and one
    ``groupBy(id)`` counts hits, so the list can be arbitrarily large
    and the corpus never shuffles beyond its own token stream.
    ``match="phrase"`` additionally catches multi-word entries by
    boundary-padded substring containment, evaluated as ONE fold
    expression over a literal term array — zero joins and zero
    shuffles, right while the list stays expression-sized (~10^3
    entries; the published C4 list qualifies). Each phrase counts once
    per document (presence, not occurrences).
    """
    if match not in ("word", "phrase"):
        raise DVConfigurationError(
            f"content_term_filter: unknown match mode {match!r} "
            "(word | phrase)"
        )
    if int(max_hits) < 0:
        raise DVConfigurationError(
            "content_term_filter: max_hits must be >= 0"
        )
    if isinstance(terms, DataFrame):
        term_rows = [r[0] for r in terms.select(terms.columns[0]).collect()]
    else:
        term_rows = list(terms)
    norm = [
        (t.strip().lower() if lowercase else t.strip())
        for t in term_rows if t and t.strip()
    ]
    if not norm:
        raise DVConfigurationError("content_term_filter: empty term list")
    t = F.trim(F.col(text_col))
    if lowercase:
        t = F.lower(t)
    if match == "phrase":
        padded = F.concat(
            F.lit(" "), F.regexp_replace(t, r"\s+", " "), F.lit(" ")
        )
        arr = F.array(*[F.lit(x) for x in sorted(set(norm))])
        hits = F.size(
            F.filter(
                arr,
                lambda x: F.expr("__padded").contains(
                    F.concat(F.lit(" "), x, F.lit(" "))
                ),
            )
        )
        return (
            df.withColumn("__padded", padded)
            .withColumn("term_hits", hits.cast("bigint"))
            .drop("__padded")
            .withColumn("content_keep", F.col("term_hits") <= int(max_hits))
        )
    from mallarddv_spark.functions.litframe import literal_frame

    tl = literal_frame(
        df.sparkSession, [(x,) for x in sorted(set(norm))], "__term string"
    )
    toks = df.select(
        F.col(id_col).alias("__cid"),
        F.explode(F.split(t, r"\s+")).alias("__term"),
    ).filter(F.col("__term") != "")
    counts = (
        toks.join(F.broadcast(tl), "__term")
        .groupBy("__cid")
        .agg(F.count("*").cast("bigint").alias("term_hits"))
    )
    return (
        df.join(counts, df[id_col] == F.col("__cid"), "left")
        .drop("__cid")
        .withColumn(
            "term_hits", F.coalesce("term_hits", F.lit(0).cast("bigint"))
        )
        .withColumn("content_keep", F.col("term_hits") <= int(max_hits))
    )


# ---------------------------------------------------------------------------
# URL canonicalization + URL-level dedup
# ---------------------------------------------------------------------------


def canonical_url(
    url: Column | str,
    strip_www: bool = True,
    strip_param_prefixes: tuple[str, ...] = ("utm_",),
    strip_params: tuple[str, ...] = ("fbclid", "gclid", "ref"),
) -> Column:
    """Canonical form of a URL column — the cheap first dedup pass of a
    web-crawl pipeline (CCNet/RefinedWeb dedup the SAME page fetched
    under trivially-different URLs before any content hashing):

    * scheme and host lowercased; userinfo (``user@``) dropped;
      leading ``www.`` dropped (``strip_www``); the scheme's default
      port (``:80``/``:443``) dropped;
    * fragment dropped; duplicate path slashes collapsed; trailing
      slash dropped (bare host → ``/``);
    * query parameters: tracking keys removed (prefix matches in
      ``strip_param_prefixes``, exact keys in ``strip_params``),
      survivors SORTED so parameter order cannot split a page, empty
      query dropped entirely.

    Strings with no ``scheme://`` prefix canonicalize to NULL — the
    caller decides (treat as distinct, quarantine, or drop). Every step
    is a Catalyst string expression (zero Python), and each has an
    exact DuckDB equivalent, so the transform is oracle-replayable.
    """
    s = F.col(url) if isinstance(url, str) else url
    nofrag = F.regexp_extract(s, r"^([^#]*)", 1)
    scheme = F.lower(
        F.regexp_extract(nofrag, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1)
    )
    host = F.lower(
        F.regexp_extract(nofrag, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1)
    )
    host = F.regexp_replace(host, r"^[^@]*@", "")
    if strip_www:
        host = F.regexp_replace(host, r"^www\.", "")
    host = (
        F.when(scheme == "http", F.regexp_replace(host, r":80$", ""))
        .when(scheme == "https", F.regexp_replace(host, r":443$", ""))
        .otherwise(host)
    )
    path = F.regexp_extract(
        nofrag, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1
    )
    path = F.regexp_replace(path, r"/{2,}", "/")
    path = F.regexp_replace(path, r"/$", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(nofrag, r"^[^?]*\?(.*)$", 1)
    def keep_param(x):
        drop = F.lit(False)
        for p in strip_param_prefixes:
            drop = drop | x.startswith(p)
        for k in strip_params:
            drop = drop | (F.split_part(x, F.lit("="), F.lit(1)) == k)
        return (x != "") & ~drop
    qcanon = F.array_join(
        F.array_sort(F.filter(F.split(query, "&"), keep_param)), "&"
    )
    return F.when(
        scheme != "",
        F.concat(
            scheme, F.lit("://"), host, path,
            F.when(qcanon == "", F.lit("")).otherwise(
                F.concat(F.lit("?"), qcanon)
            ),
        ),
    )


def url_dedup(
    df: DataFrame, id_col: str, url_col: str, **canon_kwargs
) -> DataFrame:
    """URL-level dedup verdicts: one row per input,
    ``(id, canonical_url, keep)`` — ``keep`` marks the min-id holder of
    each canonical URL; rows whose URL does not canonicalize (no
    scheme) keep a NULL canonical and are always kept (no evidence of
    duplication).

    Scale shape: the canonical pick is a groupBy aggregate (map-side
    combine — a mega-duplicated URL contributes one row per task), NOT
    a window partitioned by the URL, joined back on the canonical key
    (one row per distinct URL; AQE broadcasts it when small) — the
    :func:`incremental_dedup` discipline.
    """
    base = df.select(
        F.col(id_col).alias("id"),
        canonical_url(url_col, **canon_kwargs).alias("canonical_url"),
    )
    min_ids = (
        base.filter(F.col("canonical_url").isNotNull())
        .groupBy("canonical_url")
        .agg(F.min("id").alias("__min_id"))
    )
    return (
        base.join(min_ids, "canonical_url", "left")
        .select(
            "id",
            "canonical_url",
            (
                F.col("canonical_url").isNull()
                | (F.col("id") == F.col("__min_id"))
            ).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# HTML -> text extraction
# ---------------------------------------------------------------------------


def html_to_text(html: Column | str) -> Column:
    """Boilerplate HTML → text extraction — the stage between a raw
    crawl (WARC payloads) and every text operator in this package
    (what trafilatura/jusText do with a DOM, reduced to the
    tag-stripping core that covers the bulk of the work):

    * ``<script>``/``<style>``/``<noscript>`` blocks dropped whole
      (their text is code, not content);
    * HTML comments dropped;
    * block-level tags (``p div br li ul ol tr td th table h1–h6
      section article header footer blockquote``) become newlines —
      paragraph structure survives for the line-level operators
      (:func:`remove_duplicated_lines` needs real line boundaries);
    * remaining tags become spaces; the common named entities
      (``&amp; &lt; &gt; &quot; &#39; &apos; &nbsp;``) decode
      (numeric character references beyond ``&#39;`` are passed
      through — full entity tables are a tokenizer-table job, not a
      regex job, and they are rare in body text);
    * horizontal whitespace collapses to single spaces, blank-ish
      lines to single newlines, ends trimmed.

    Every step is one ``regexp_replace`` in the RE2-compatible subset
    (no backreferences, non-greedy spans only), so the same patterns
    replay in DuckDB — the transform is oracle-gated. Malformed HTML
    degrades gracefully (an unclosed ``<script`` drops to end of
    document — the conservative direction for training data; an
    unmatched ``<`` survives as text).
    """
    s = F.col(html) if isinstance(html, str) else html
    for tag in ("script", "style", "noscript"):
        s = F.regexp_replace(
            s, f"(?is)<{tag}[^>]*>.*?</{tag}[^>]*>", " "
        )
        # unclosed block: drop to end of document
        s = F.regexp_replace(s, f"(?is)<{tag}[^>]*>.*", " ")
    s = F.regexp_replace(s, r"(?s)<!--.*?-->", " ")
    block = (
        "p|div|br|li|ul|ol|tr|td|th|table|h1|h2|h3|h4|h5|h6|"
        "section|article|header|footer|blockquote"
    )
    s = F.regexp_replace(s, f"(?is)</?(?:{block})(?:[^>]*)>", "\n")
    # a "tag" must open with a letter, '/' or '!' — a bare '<' (e.g.
    # "5 < 6") is text and survives
    s = F.regexp_replace(s, r"(?s)</?[a-zA-Z!][^>]*>", " ")
    for ent, rep in (
        ("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
        ("&quot;", "\""), ("&#39;", "'"), ("&apos;", "'"),
        ("&amp;", "&"),  # LAST: "&amp;lt;" must yield "&lt;", not "<"
    ):
        s = F.replace(s, F.lit(ent), F.lit(rep))
    s = F.regexp_replace(s, r"[ \t\r]+", " ")
    s = F.regexp_replace(s, r" ?\n[ \n]*", "\n")
    # trim() strips spaces only — ends need the newline-inclusive form
    return F.regexp_replace(s, r"^\s+|\s+$", "")


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    by: str | None = None,
    salt: str = "wsample-v1",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement — ``k`` rows (per ``by``
    group) drawn with probability proportional to ``weight_col``, the
    Efraimidis–Spirakis A-ES scheme: each row gets the key
    ``ln(u)/w`` with ``u`` uniform from a salted md5 hash of the id,
    and the top-k keys are the sample. One projection + one
    limit-protected top-k — no iteration, no replacement bookkeeping,
    and the draw is a pure function of (content, salt): deterministic
    across partitionings and re-runs, re-rollable by salt (the
    :func:`split_assign` discipline; quality-weighted subset selection
    without materializing a shuffle of the corpus).

    Rows with NULL or non-positive weights are excluded (zero weight =
    zero inclusion probability — exactly what A-ES prescribes).
    Returns the sampled rows with their ``__es_key`` dropped; ties
    (identical hash AND weight) break on the id — fully deterministic.

    Scale shape: the global form is TakeOrderedAndProject (k rows to
    the driver's single task, never a full sort); the grouped form is
    a WindowGroupLimit-protected rank — both the plan shapes the KMV
    build pins."""
    if k < 1:
        raise DVConfigurationError("weighted_sample: k must be >= 1")
    w = F.col(weight_col).cast("double")
    # u in (0, 1]: 15 md5 hex chars -> 60-bit uniform; +1 avoids ln(0)
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(salt),
                                       F.col(id_col).cast("string"))),
                        1, 15),
            16, 10,
        ).cast("double") + F.lit(1.0)
    ) / F.lit(float(1 << 60))
    # maximize u^(1/w) == maximize ln(u)/w  (ln(u) <= 0)
    key = F.log(u) / w
    base = (
        df.filter(w.isNotNull() & ~F.isnan(w) & (w > 0))
        .withColumn("__es_key", key)
    )
    if by is None:
        out = base.orderBy(
            F.col("__es_key").desc(), F.col(id_col).asc()
        ).limit(int(k))
    else:
        from pyspark.sql import Window

        win = Window.partitionBy(by).orderBy(
            F.col("__es_key").desc(), F.col(id_col).asc()
        )
        out = (
            base.withColumn("__es_rank", F.row_number().over(win))
            .filter(F.col("__es_rank") <= int(k))
            .drop("__es_rank")
        )
    return out.drop("__es_key")
