"""Mergeable portable sketches, relationally: HyperLogLog (Flajolet et
al. 2007), count-min (Cormode & Muthukrishnan 2005), fixed-range
histogram, and KMV bottom-k (Bar-Yossef et al. 2002).

Reference scope note: the reference engine has no sketch tier — this
extends the corpus-statistics family. The register table is a plain
``(bucket, rho)`` DataFrame — engine-portable parquet, groupBy-max
merges, and a closed-form estimate that replays bit-for-bit in the
DuckDB oracle (md5 hash mode). That replayability is what lets the
gate queries hash-compare the estimate VALUE, and the plain-data format
is what a heterogeneous lake (Spark writers, DuckDB/Trino readers) can
share. Spark's own JVM DataSketches aggregates (``hll_sketch_agg`` /
theta) are faster, but their state is an opaque binary that only Spark
can read back and no oracle can replay.

At 100 TB the questions that matter — "how many distinct tokens/urls/
doc-ids so far?" — are INCREMENTAL: a streaming crawl gate folds each
micro-batch into the stored sketch instead of rescanning the corpus.

Design:

* a value hashes to 60 bits (``md5`` mode: the engine-portable
  ``conv(substr(md5(v),1,15),16,10)`` convention shared with the
  MinHash/DSIR operators; ``xxhash64`` mode: JVM-fast, Spark-only);
* ``bucket`` = the top ``p`` bits, ``rho`` = position of the leftmost
  1-bit in the remaining ``q = 60 - p`` bits (``q + 1`` when they are
  all zero) — ``length(bin(w))`` gives ``floor(log2 w) + 1`` in BOTH
  engines, so no float log enters the register path;
* the register table is ``(…by, bucket, rho_max)`` — max-merged, so
  duplicate values, replayed batches, and unions are all absorbed;
* the estimate's harmonic sum is computed EXACTLY in integer space
  (each ``2^-rho`` term scaled by ``2^(q+1)`` is an integer; the total
  is ≤ 2^61 < bigint range), so engines cannot disagree through float
  summation order; the single final division and the linear-counting
  branch (``m·ln(m/zeros)`` when the raw estimate ≤ 2.5m and empty
  buckets exist) are one-shot double ops — deterministic.

Scale shape: register building is one groupBy with map-side combine
(bounded tasks at any skew — a register table is ≤ m rows per group);
merging unions register tables and re-maxes; nothing ever rescans data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from mallarddv_spark.exceptions import DVConfigurationError

__all__ = [
    "hll_registers", "hll_merge", "hll_estimate",
    "save_hll", "load_hll", "hll_append", "heal_hll",
    "cm_counts", "cm_merge", "cm_query",
    "save_cm", "load_cm", "cm_append", "heal_cm",
    "hist_counts", "hist_merge", "hist_quantiles",
    "save_hist", "load_hist", "hist_append", "heal_hist",
    "kmv_sketch", "kmv_merge", "kmv_distinct", "kmv_quantiles",
    "kmv_set_estimates",
    "save_kmv", "load_kmv", "kmv_append", "heal_kmv",
]

_HASH_BITS = 60


def _alpha(m: int) -> float:
    if m >= 128:
        return 0.7213 / (1.0 + 1.079 / m)
    return {16: 0.673, 32: 0.697, 64: 0.709}.get(m, 0.7213 / (1.0 + 1.079 / m))


def _hash60(value_col: str, hash_mode: str):
    # both modes hash the STRING rendering, so an int column and its
    # string form sketch identically (the md5 convention shared with
    # the MinHash/DSIR operators — and the one DuckDB can replay)
    if hash_mode == "md5":
        return F.expr(
            f"cast(conv(substr(md5(cast({value_col} as string)),1,15),16,10)"
            " as bigint)"
        )
    if hash_mode == "xxhash64":
        # shift the sign bit (and 3 more) away → uniform 60-bit non-negative
        return F.shiftrightunsigned(
            F.xxhash64(F.col(value_col).cast("string")), 4
        )
    raise DVConfigurationError(
        f"hll: unknown hash_mode {hash_mode!r} (md5 | xxhash64)"
    )


def _check_p(p: int) -> None:
    if not 4 <= int(p) <= 18:
        raise DVConfigurationError("hll: p must be in [4, 18]")


def hll_registers(
    df: DataFrame,
    value_col: str,
    p: int = 12,
    by: list[str] | None = None,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Build the register table ``(…by, bucket, rho)`` for the distinct
    values of ``value_col`` (NULLs ignored), optionally per group. One
    groupBy; register count per group is ≤ 2^p regardless of input
    size."""
    _check_p(p)
    q = _HASH_BITS - int(p)
    groups = list(by or [])
    x = _hash60(value_col, hash_mode)
    # bucket via integer shift, NOT float division — a 60-bit hash
    # exceeds the 53-bit double mantissa, so x / 2^q could round a
    # boundary value into the next bucket (the oracle side uses integer
    # division `//`, which matches the shift exactly for x >= 0)
    base = df.filter(F.col(value_col).isNotNull()).select(
        *groups,
        F.shiftrightunsigned(x, q).cast("bigint").alias("__bucket"),
        (x % F.lit(2 ** q)).alias("__w"),
    )
    rho = (
        F.when(
            F.col("__w") > 0,
            F.lit(q) - F.length(F.bin(F.col("__w"))) + F.lit(1),
        )
        .otherwise(F.lit(q + 1))
        .cast("int")
    )
    return (
        base.select(*groups, F.col("__bucket").cast("int").alias("bucket"),
                    rho.alias("__rho"))
        .groupBy(*groups, "bucket")
        .agg(F.max("__rho").alias("rho"))
    )


def hll_merge(*registers: DataFrame, by: list[str] | None = None) -> DataFrame:
    """Merge register tables built at the SAME (p, hash_mode): union and
    re-max. Lossless — merging equals having built one sketch over the
    concatenated inputs, the property that makes batches/shards/streams
    composable."""
    if not registers:
        raise DVConfigurationError("hll_merge: need at least one register table")
    groups = list(by or [])
    out = registers[0]
    for r in registers[1:]:
        out = out.unionByName(r)
    return out.groupBy(*groups, "bucket").agg(F.max("rho").alias("rho"))


def hll_estimate(
    registers: DataFrame,
    p: int = 12,
    by: list[str] | None = None,
) -> DataFrame:
    """Closed-form HLL estimate per group:
    ``(…by, n_registers, est_distinct)``. The harmonic sum is exact in
    integer space; only the final division (or the linear-counting
    ``m·ln(m/zeros)`` branch) touches floats, so the rounded estimate
    replays identically in any engine."""
    _check_p(p)
    q = _HASH_BITS - int(p)
    m = 2 ** int(p)
    alpha = _alpha(m)
    groups = list(by or [])
    agg = registers.groupBy(*groups).agg(
        F.count("*").cast("bigint").alias("n_registers"),
        F.sum(F.expr(f"cast(pow(cast(2 as double), {q + 1} - rho) as bigint)"))
        .alias("__s"),
    )
    zeros = F.lit(m) - F.col("n_registers")
    sum_scaled = (
        F.col("__s") + zeros * F.lit(2 ** (q + 1))
    )
    raw = (
        F.lit(float(alpha)) * F.lit(float(m)) * F.lit(float(m))
        * F.lit(float(2 ** (q + 1))) / sum_scaled.cast("double")
    )
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(raw)
    return agg.select(
        *groups,
        "n_registers",
        F.round(est, 4).alias("est_distinct"),
    )


# --- persistence (staged-rename, same contract as the bloom family) --------


def heal_hll(spark: SparkSession, path: str) -> str | None:
    """Resolve a torn :func:`hll_append` swap; drains like
    ``bloom.heal_bloom``. Idempotent."""
    from mallarddv_spark.sources import layout

    actions = []
    while True:
        a = layout.heal_dir_swap(spark, path)
        if a is None:
            break
        actions.append(a)
    return "+".join(actions) if actions else None


def save_hll(
    registers: DataFrame, path: str, p: int, hash_mode: str,
    by: list[str] | None = None,
) -> None:
    """Persist a register table plus its parameters (p, hash_mode, group
    columns ride as data — an append must reuse them)."""
    spark = registers.sparkSession
    heal_hll(spark, path)
    from mallarddv_spark.sources import layout

    out = registers.withColumn("__p", F.lit(int(p))).withColumn(
        "__hash_mode", F.lit(hash_mode)
    )
    fs, live = layout.dir_fs(spark, path)
    if not fs.exists(live):
        out.coalesce(1).write.mode("overwrite").parquet(path)
        return
    out.coalesce(1).write.mode("overwrite").parquet(path + "__compact")
    layout.swap_dir_live(spark, path)


def load_hll(spark: SparkSession, path: str) -> tuple[DataFrame, dict]:
    """Load a stored sketch: the register DataFrame (parameter columns
    dropped) and its params. Heals a torn append on open."""
    heal_hll(spark, path)
    df = spark.read.parquet(path)
    row = df.select("__p", "__hash_mode").first()
    params = {"p": int(row["__p"]), "hash_mode": row["__hash_mode"]}
    return df.drop("__p", "__hash_mode"), params


def hll_append(
    new_values: DataFrame, path: str, value_col: str,
    by: list[str] | None = None,
) -> None:
    """Fold a batch into a STORED sketch: build batch registers at the
    stored parameters, max-merge, staged-rename rewrite. Replayed
    batches are absorbed by the max — appends are idempotent, the
    property the streaming maintenance loop relies on."""
    spark = new_values.sparkSession
    stored, params = load_hll(spark, path)
    batch = hll_registers(
        new_values, value_col, p=params["p"], by=by,
        hash_mode=params["hash_mode"],
    )
    merged = hll_merge(stored, batch, by=by)
    save_hll(merged, path, params["p"], params["hash_mode"], by=by)


# ---------------------------------------------------------------------------
# Count-min sketch — mergeable FREQUENCY estimation (Cormode & Muthukrishnan
# 2005), the standard streaming companion to HLL: "how often has this
# token/url/key appeared so far" in O(d·w) integers, without storing the
# vocabulary. State is a plain (row, col, cnt) DataFrame of exact integer
# counts, so merging is a groupBy-SUM and every estimate replays exactly in
# any engine — there is no float anywhere in the sketch.
#
# Error contract: estimates never under-count; over-count ≤ e·N/w with
# probability 1 - e^-d (N = total weight). Unlike the HLL, appends are NOT
# idempotent — counts add, so a replayed batch double-counts. A stream that
# needs exactly-once frequencies must gate appends behind its replay fence
# (the minhash-index pattern in streaming/ingest.py) or tolerate the
# documented at-least-once over-count.
# ---------------------------------------------------------------------------


def _cm_cols(value_col: str, d: int, w: int, hash_mode: str):
    """One (row, col) pair per hash row: row i uses the salted value
    ``i:v`` through the same 60-bit hash as the HLL, mod ``w``."""
    pairs = []
    for i in range(d):
        if hash_mode == "md5":
            h = F.expr(
                f"cast(conv(substr(md5(concat('{i}:', "
                f"cast({value_col} as string))),1,15),16,10) as bigint)"
            )
        elif hash_mode == "xxhash64":
            h = F.shiftrightunsigned(
                F.xxhash64(
                    F.concat(F.lit(f"{i}:"), F.col(value_col).cast("string"))
                ),
                4,
            )
        else:
            raise DVConfigurationError(
                f"cm: unknown hash_mode {hash_mode!r} (md5 | xxhash64)"
            )
        pairs.append(F.struct(F.lit(i).alias("row"),
                              (h % F.lit(int(w))).cast("int").alias("col")))
    return F.array(*pairs)


def _check_cm(d: int, w: int) -> None:
    if not 1 <= int(d) <= 16:
        raise DVConfigurationError("cm: d must be in [1, 16]")
    if not 16 <= int(w) <= 1 << 24:
        raise DVConfigurationError("cm: w must be in [16, 2^24]")


def cm_counts(
    df: DataFrame,
    value_col: str,
    d: int = 4,
    w: int = 2048,
    weight_col: str | None = None,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Build the count table ``(row, col, cnt)`` over ``value_col``
    occurrences (NULLs ignored; ``weight_col`` for pre-aggregated
    inputs). One explode (×d) + one groupBy with map-side combine —
    the table is ≤ d·w rows regardless of input size."""
    _check_cm(d, w)
    wcol = (
        F.col(weight_col).cast("bigint") if weight_col else F.lit(1).cast("bigint")
    )
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(
            F.explode(_cm_cols(value_col, int(d), int(w), hash_mode)).alias(
                "__rc"
            ),
            wcol.alias("__w"),
        )
        .groupBy(F.col("__rc.row").alias("row"), F.col("__rc.col").alias("col"))
        .agg(F.sum("__w").alias("cnt"))
    )


def cm_merge(*counts: DataFrame) -> DataFrame:
    """Merge count tables built at the SAME (d, w, hash_mode): union and
    re-sum. Exact — merging equals one sketch over the concatenation."""
    if not counts:
        raise DVConfigurationError("cm_merge: need at least one count table")
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out.groupBy("row", "col").agg(F.sum("cnt").alias("cnt"))


def cm_query(
    counts: DataFrame,
    values: DataFrame,
    value_col: str,
    d: int = 4,
    w: int = 2048,
    hash_mode: str = "xxhash64",
) -> DataFrame:
    """Point-query frequencies: for each value, min over its ``d``
    counters (0 when a counter row is absent — the value was never
    seen on that row). Returns the input columns plus ``est_count``.
    The probe side explodes ×d and hash-joins the ≤ d·w count table —
    the count table is broadcast only while ``d·w`` stays under ~2M
    cells; a wide sketch (the guard admits w up to 2^24) would make a
    forced broadcast a driver OOM, so past the threshold the join is
    left to the planner (a shuffled hash join keyed on (row, col) —
    dense integer keys, no skew by construction).

    The internal join keys ride the module's ``__``-prefixed scratch
    convention, so a probe frame may itself carry columns named
    ``row``/``col``/``cnt`` without an ambiguous-reference error. Note
    the final groupBy is on the probe's columns: probe rows that are
    EXACT duplicates across every column collapse to one output row
    (they would carry the identical estimate anyway)."""
    _check_cm(d, w)
    probes = (
        values.select(
            "*",
            F.explode(_cm_cols(value_col, int(d), int(w), hash_mode)).alias(
                "__rc"
            ),
        )
        .select(
            "*",
            F.col("__rc.row").alias("__row"),
            F.col("__rc.col").alias("__col"),
        )
        .drop("__rc")
    )
    build = counts.select(
        F.col("row").alias("__row"),
        F.col("col").alias("__col"),
        F.col("cnt").alias("__cnt"),
    )
    build = F.broadcast(build) if int(d) * int(w) <= (1 << 21) else build
    joined = probes.join(build, ["__row", "__col"], "left")
    return (
        joined.groupBy(*values.columns)
        .agg(
            F.min(F.coalesce(F.col("__cnt"), F.lit(0)))
            .cast("bigint")
            .alias("est_count")
        )
    )


def heal_cm(spark: SparkSession, path: str) -> str | None:
    """Resolve a torn :func:`cm_append` swap (same drain as the HLL)."""
    return heal_hll(spark, path)


def save_cm(
    counts: DataFrame, path: str, d: int, w: int, hash_mode: str
) -> None:
    """Persist a count table plus its parameters."""
    spark = counts.sparkSession
    heal_cm(spark, path)
    from mallarddv_spark.sources import layout

    out = (
        counts.withColumn("__d", F.lit(int(d)))
        .withColumn("__w", F.lit(int(w)))
        .withColumn("__hash_mode", F.lit(hash_mode))
    )
    fs, live = layout.dir_fs(spark, path)
    if not fs.exists(live):
        out.coalesce(1).write.mode("overwrite").parquet(path)
        return
    out.coalesce(1).write.mode("overwrite").parquet(path + "__compact")
    layout.swap_dir_live(spark, path)


def load_cm(spark: SparkSession, path: str) -> tuple[DataFrame, dict]:
    """Load a stored count table and its params; heals on open."""
    heal_cm(spark, path)
    df = spark.read.parquet(path)
    row = df.select("__d", "__w", "__hash_mode").first()
    params = {"d": int(row["__d"]), "w": int(row["__w"]),
              "hash_mode": row["__hash_mode"]}
    return df.drop("__d", "__w", "__hash_mode"), params


def cm_append(
    new_values: DataFrame, path: str, value_col: str,
    weight_col: str | None = None,
) -> None:
    """Fold a batch into a STORED sketch (sum-merge + staged rewrite).
    NOT idempotent — a replayed batch double-counts (see the module
    contract); gate behind a replay fence for exactly-once counts."""
    spark = new_values.sparkSession
    stored, p = load_cm(spark, path)
    batch = cm_counts(
        new_values, value_col, d=p["d"], w=p["w"], weight_col=weight_col,
        hash_mode=p["hash_mode"],
    )
    save_cm(cm_merge(stored, batch), path, p["d"], p["w"], p["hash_mode"])


# ---------------------------------------------------------------------------
# Fixed-range histogram sketch — mergeable QUANTILE estimation. KLL/t-digest
# are the adaptive-range literature standards, but their estimates depend on
# internal compaction randomness/order and cannot be replayed across engines.
# A declared-range equi-width histogram is the honest oracle-exact variant:
# integer bin counts (merge = sum, exactly), and the quantile interpolation
# is one closed-form expression — the trade is that the value range must be
# declared up front (telemetry, prices, scores, lengths: usually known), with
# explicit underflow/overflow bins for the rest.
# ---------------------------------------------------------------------------


def _check_hist(lo: float, hi: float, n_bins: int) -> None:
    if not lo < hi:
        raise DVConfigurationError("hist: need lo < hi")
    if not 2 <= int(n_bins) <= 1 << 20:
        raise DVConfigurationError("hist: n_bins must be in [2, 2^20]")


def hist_counts(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 256,
    weight_col: str | None = None,
    by: list[str] | None = None,
) -> DataFrame:
    """Equi-width bin counts ``(…by, bin, cnt)`` over ``[lo, hi)``:
    bin -1 holds underflow, ``n_bins`` overflow; NULLs ignored. One
    groupBy with map-side combine; ≤ n_bins + 2 rows per group."""
    _check_hist(lo, hi, n_bins)
    groups = list(by or [])
    v = F.col(value_col).cast("double")
    width = (float(hi) - float(lo)) / int(n_bins)
    raw_bin = F.floor((v - F.lit(float(lo))) / F.lit(width)).cast("int")
    b = (
        F.when(v < F.lit(float(lo)), F.lit(-1))
        .when(v >= F.lit(float(hi)), F.lit(int(n_bins)))
        .otherwise(F.least(raw_bin, F.lit(int(n_bins) - 1)))
    )
    w = (
        F.col(weight_col).cast("bigint") if weight_col
        else F.lit(1).cast("bigint")
    )
    return (
        df.filter(v.isNotNull())
        .select(*groups, b.alias("bin"), w.alias("__w"))
        .groupBy(*groups, "bin")
        .agg(F.sum("__w").alias("cnt"))
    )


def hist_merge(*counts: DataFrame, by: list[str] | None = None) -> DataFrame:
    """Merge histograms built at the SAME (lo, hi, n_bins): union + sum.
    Exact."""
    if not counts:
        raise DVConfigurationError("hist_merge: need at least one table")
    groups = list(by or [])
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out.groupBy(*groups, "bin").agg(F.sum("cnt").alias("cnt"))


def hist_quantiles(
    counts: DataFrame,
    lo: float,
    hi: float,
    n_bins: int,
    probs: list[float],
    by: list[str] | None = None,
) -> DataFrame:
    """Quantile estimates from the bin counts, per group: for each p,
    walk the cumulative distribution to the bin holding rank ``p·N``
    and interpolate linearly inside it (underflow clamps to ``lo``,
    overflow to ``hi``). Returns ``(…by, p, est)``; error is bounded by
    one bin width plus the in-bin distribution; an empty group yields
    no rows. Fully relational — the cumulative window runs over
    ≤ n_bins + 2 rows PER GROUP (metadata-scale, not a data window),
    and the arithmetic is a fixed-order closed form, so estimates
    replay exactly in any engine."""
    _check_hist(lo, hi, n_bins)
    from pyspark.sql import Window

    groups = list(by or [])
    width = (float(hi) - float(lo)) / int(n_bins)
    w = Window.partitionBy(*groups).orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = (
        counts.withColumn("cum", F.sum("cnt").over(w))
        .withColumn("before", F.col("cum") - F.col("cnt"))
    )
    totals = counts.groupBy(*groups).agg(F.sum("cnt").alias("__n"))
    from mallarddv_spark.functions.litframe import literal_frame

    pdf = literal_frame(
        counts.sparkSession, [(float(p),) for p in probs], "p double"
    )
    j = (
        cum.join(F.broadcast(totals), groups) if groups
        else cum.crossJoin(F.broadcast(totals))
    ).crossJoin(F.broadcast(pdf)).filter(
        (F.col("p") * F.col("__n").cast("double") <= F.col("cum"))
        | (F.col("cum") == F.col("__n"))
    )
    best = j.groupBy(*groups, "p").agg(F.min("bin").alias("bin"))
    est = (
        best.join(cum, groups + ["bin"])
        .join(F.broadcast(totals), groups) if groups
        else best.join(cum, ["bin"]).crossJoin(F.broadcast(totals))
    )
    expr = (
        F.when(F.col("bin") < 0, F.lit(float(lo)))
        .when(F.col("bin") >= int(n_bins), F.lit(float(hi)))
        .otherwise(
            F.lit(float(lo))
            + (
                F.col("bin").cast("double")
                + (
                    F.col("p") * F.col("__n").cast("double")
                    - F.col("before").cast("double")
                )
                / F.col("cnt").cast("double")
            )
            * F.lit(width)
        )
    )
    return est.select(
        *groups,
        "p",
        F.round(
            F.least(F.greatest(expr, F.lit(float(lo))), F.lit(float(hi))), 6
        ).alias("est"),
    )


def heal_hist(spark: SparkSession, path: str) -> str | None:
    """Resolve a torn :func:`hist_append` swap (same drain as HLL/CM)."""
    return heal_hll(spark, path)


def save_hist(
    counts: DataFrame, path: str, lo: float, hi: float, n_bins: int,
) -> None:
    """Persist a histogram plus its geometry (staged-rename when a live
    copy exists)."""
    spark = counts.sparkSession
    heal_hist(spark, path)
    from mallarddv_spark.sources import layout

    out = (
        counts.withColumn("__lo", F.lit(float(lo)))
        .withColumn("__hi", F.lit(float(hi)))
        .withColumn("__n_bins", F.lit(int(n_bins)))
    )
    fs, live = layout.dir_fs(spark, path)
    if not fs.exists(live):
        out.coalesce(1).write.mode("overwrite").parquet(path)
        return
    out.coalesce(1).write.mode("overwrite").parquet(path + "__compact")
    layout.swap_dir_live(spark, path)


def load_hist(spark: SparkSession, path: str) -> tuple[DataFrame, dict]:
    """Load a stored histogram and its geometry; heals on open."""
    heal_hist(spark, path)
    df = spark.read.parquet(path)
    row = df.select("__lo", "__hi", "__n_bins").first()
    params = {"lo": float(row["__lo"]), "hi": float(row["__hi"]),
              "n_bins": int(row["__n_bins"])}
    return df.drop("__lo", "__hi", "__n_bins"), params


def hist_append(
    new_values: DataFrame, path: str, value_col: str,
    weight_col: str | None = None, by: list[str] | None = None,
) -> None:
    """Fold a batch into a STORED histogram (sum-merge + staged rewrite).
    Counts ADD, so appends are NOT idempotent — same contract as the
    count-min sketch; fence replays upstream for exactly-once."""
    spark = new_values.sparkSession
    stored, p = load_hist(spark, path)
    batch = hist_counts(
        new_values, value_col, lo=p["lo"], hi=p["hi"], n_bins=p["n_bins"],
        weight_col=weight_col, by=by,
    )
    save_hist(hist_merge(stored, batch, by=by), path,
              p["lo"], p["hi"], p["n_bins"])


# ---------------------------------------------------------------------------
# KMV (bottom-k minimum values) — distinct count + uniform distinct-value
# sample in ONE mergeable sketch (Bar-Yossef et al. 2002)
# ---------------------------------------------------------------------------
#
# The third portable sketch fills the two gaps the other two leave: the
# HLL counts distinct but keeps no values; the histogram estimates
# quantiles but needs a DECLARED [lo, hi) range. A KMV sketch keeps the
# k distinct values with the SMALLEST hashes — simultaneously (a) a
# distinct-count estimator ((k-1)·H/h_k) and (b) a uniform random
# sample of the distinct values (hash order is value-blind), giving
# range-free quantile estimates over the distinct-value distribution.
# Everything is relational: the bottom-k is a constant-k rank that
# Catalyst rewrites to Partial+Final WindowGroupLimit, so no group's
# value set ever serializes into one task pre-cut, and merges re-rank
# unions (the bottom-k of a union of bottom-k sets IS the bottom-k of
# the union — lossless, idempotent under replay: the property that
# makes stored-sketch appends self-absorbing, unlike CM/histogram).


def _check_k(k: int) -> None:
    if not 2 <= int(k) <= 1 << 20:
        raise DVConfigurationError("kmv: k must be in [2, 2^20]")


def kmv_sketch(
    df: DataFrame,
    value_col: str,
    k: int = 1024,
    by: list[str] | None = None,
    hash_mode: str = "md5",
) -> DataFrame:
    """Bottom-``k`` sketch rows ``(…by, rnk, h, val)`` over the DISTINCT
    values of ``value_col`` (hashed via their string rendering, the md5
    convention — NULLs ignored), optionally per group. ``rnk`` is the
    1-based hash rank, ``h`` the 60-bit hash, ``val`` the value's string
    form. Distinctness first (one map-side-combined groupBy — bounded
    tasks at any skew), then the constant-``k`` rank filter is
    limit-protected in both shapes: grouped sketches plan Partial+Final
    WindowGroupLimit, a global sketch a TakeOrderedAndProject (per-task
    top-k + driver merge) — plan-pinned in ``tests/test_sketches.py``.
    Ties between hash-colliding values break on ``val`` ascending, so
    the sketch is fully deterministic."""
    _check_k(k)
    groups = list(by or [])
    distinct = (
        df.filter(F.col(value_col).isNotNull())
        .select(*groups, F.col(value_col).cast("string").alias("val"))
        .distinct()
    )
    hashed = distinct.select(
        *groups, "val", _hash60("val", hash_mode).alias("h")
    )
    from pyspark.sql import Window

    w = Window.partitionBy(*groups).orderBy(F.asc("h"), F.asc("val"))
    return (
        hashed.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= int(k))
        .select(*groups, F.col("rnk").cast("int").alias("rnk"), "h", "val")
    )


def kmv_merge(
    *sketches: DataFrame, k: int, by: list[str] | None = None
) -> DataFrame:
    """Merge sketches built at the SAME (k, hash_mode): union, drop
    duplicate values (a value in several inputs hashes identically),
    re-rank, keep ``k``. Lossless — any value in the true bottom-k of
    the union is necessarily in its source sketch's bottom-k — and
    therefore idempotent: re-merging a replayed batch changes nothing."""
    _check_k(k)
    if not sketches:
        raise DVConfigurationError("kmv_merge: need at least one sketch")
    groups = list(by or [])
    out = sketches[0]
    for s in sketches[1:]:
        out = out.unionByName(s)
    from pyspark.sql import Window

    w = Window.partitionBy(*groups).orderBy(F.asc("h"), F.asc("val"))
    return (
        out.dropDuplicates(groups + ["val"])
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= int(k))
        .select(*groups, F.col("rnk").cast("int").alias("rnk"), "h", "val")
    )


def kmv_distinct(
    sketch: DataFrame, k: int, by: list[str] | None = None
) -> DataFrame:
    """Distinct-count estimate per group: EXACT (= rows kept) while the
    group holds fewer than ``k`` distinct values, else the standard KMV
    estimator ``(k-1)·2^60 / h_(k)`` — one double division on integer
    inputs, so the rounded estimate replays bit-for-bit in a second
    engine. Returns ``(…by, n_kept, est_distinct)``."""
    _check_k(k)
    groups = list(by or [])
    agg = sketch.groupBy(*groups).agg(
        F.count("*").cast("bigint").alias("n_kept"),
        F.max("h").alias("__hk"),
    )
    est = F.when(
        F.col("n_kept") < int(k), F.col("n_kept").cast("double")
    ).otherwise(
        F.lit(float(k - 1)) * F.lit(float(2 ** _HASH_BITS))
        / F.col("__hk").cast("double")
    )
    return agg.select(
        *groups, "n_kept", F.round(est, 4).alias("est_distinct")
    )


def kmv_quantiles(
    sketch: DataFrame,
    probs: list[float],
    by: list[str] | None = None,
) -> DataFrame:
    """Range-free quantile estimates of the DISTINCT-VALUE distribution
    (values cast to double; duplicates carry no weight — row-weighted
    quantiles are the histogram sketch's job): hash order is value-blind,
    so the kept set is a uniform sample of the distinct values, and the
    sample's lower quantile (element ``max(1, ceil(p·n))`` in value
    order) estimates the population's with O(1/√k) rank error. The
    selection rule is deterministic and closed-form, so estimates replay
    exactly in any engine. Returns ``(…by, p, est)``; windows run over
    ≤ k rows per group — sketch-scale, not data-scale."""
    groups = list(by or [])
    from pyspark.sql import Window

    from mallarddv_spark.functions.litframe import literal_frame

    # tie-break equal doubles on the string form ("1" vs "1.0" both
    # render 1.0) — the rank must be deterministic for exact replay
    ranked = sketch.select(
        *groups, "val", F.col("val").cast("double").alias("__v")
    ).withColumn("__vr", F.row_number().over(
        Window.partitionBy(*groups).orderBy(F.asc("__v"), F.asc("val"))
    ))
    totals = ranked.groupBy(*groups).agg(F.count("*").alias("__n"))
    pdf = literal_frame(
        sketch.sparkSession, [(float(p),) for p in probs], "p double"
    )
    j = (
        ranked.join(F.broadcast(totals), groups) if groups
        else ranked.crossJoin(F.broadcast(totals))
    ).crossJoin(F.broadcast(pdf))
    pick = F.greatest(
        F.lit(1).cast("bigint"),
        F.ceil(F.col("p") * F.col("__n").cast("double")).cast("bigint"),
    )
    return (
        j.filter(F.col("__vr") == pick)
        .select(*groups, "p", F.round(F.col("__v"), 6).alias("est"))
    )


# --- persistence (staged-rename, same contract as the HLL family) ----------


def heal_kmv(spark: SparkSession, path: str) -> str | None:
    """Resolve a torn :func:`kmv_append` swap; drains like
    ``bloom.heal_bloom``. Idempotent."""
    return heal_hll(spark, path)


def save_kmv(
    sketch: DataFrame, path: str, k: int, hash_mode: str,
    by: list[str] | None = None,
) -> None:
    """Persist a sketch plus its parameters (k, hash_mode; group columns
    ride as data — an append must reuse them)."""
    spark = sketch.sparkSession
    heal_kmv(spark, path)
    from mallarddv_spark.sources import layout

    out = sketch.withColumn("__k", F.lit(int(k))).withColumn(
        "__hash_mode", F.lit(hash_mode)
    )
    fs, live = layout.dir_fs(spark, path)
    if not fs.exists(live):
        out.coalesce(1).write.mode("overwrite").parquet(path)
        return
    out.coalesce(1).write.mode("overwrite").parquet(path + "__compact")
    layout.swap_dir_live(spark, path)


def load_kmv(spark: SparkSession, path: str) -> tuple[DataFrame, dict]:
    """Load a stored sketch (parameter columns dropped) and its params.
    Heals a torn append on open."""
    heal_kmv(spark, path)
    df = spark.read.parquet(path)
    row = df.select("__k", "__hash_mode").first()
    params = {"k": int(row["__k"]), "hash_mode": row["__hash_mode"]}
    return df.drop("__k", "__hash_mode"), params


def kmv_append(
    new_values: DataFrame, path: str, value_col: str,
    by: list[str] | None = None,
) -> None:
    """Fold a batch into a STORED sketch. IDEMPOTENT — a replayed batch
    merges to the identical sketch (value dedup absorbs it), so unlike
    the CM/histogram appends this needs no replay fence."""
    spark = new_values.sparkSession
    stored, p = load_kmv(spark, path)
    batch = kmv_sketch(
        new_values, value_col, k=p["k"], by=by, hash_mode=p["hash_mode"]
    )
    save_kmv(kmv_merge(stored, batch, k=p["k"], by=by), path,
             p["k"], p["hash_mode"], by=by)


def kmv_set_estimates(
    sketch_a: DataFrame,
    sketch_b: DataFrame,
    k: int,
    by: list[str] | None = None,
) -> DataFrame:
    """Set-overlap estimates between two KMV sketches built at the SAME
    (k, hash_mode) — Beyer et al. 2007: merge the sketches into the
    union's bottom-k; its k-th smallest hash is a threshold ``τ`` under
    which the kept values are a uniform sample of the union, so the
    fraction of them present in BOTH inputs estimates the Jaccard
    similarity, and ``|A∩B| ≈ J · est_union``. This is the cheap
    dataset-overlap audit (corpus slice vs benchmark, crawl batch vs
    crawl batch) that decides whether a full decontamination /
    dedup pass is worth scheduling — two kilobyte-scale sketches
    instead of two corpus scans.

    Returns ``(…by, n_union_kept, est_union, est_intersection,
    jaccard)``. Below ``k`` union-distinct values everything is exact.
    All arithmetic is the closed-form KMV chain — deterministic,
    engine-replayable. Joins are sketch-sized (≤ k rows per group)."""
    _check_k(k)
    groups = list(by or [])
    u = kmv_merge(sketch_a, sketch_b, k=k, by=by)
    # membership flags ride a sketch-sized join: a union-sample value is
    # in A iff A's sketch holds it (its hash is under A's own threshold
    # ONLY if also under the union's — and the union's τ is the tighter
    # one, so A's bottom-k contains every union-sample member of A)
    a_vals = sketch_a.select(*groups, "val").withColumn("__ina", F.lit(1))
    b_vals = sketch_b.select(*groups, "val").withColumn("__inb", F.lit(1))
    keys = groups + ["val"]
    flagged = (
        u.join(a_vals, keys, "left")
        .join(b_vals, keys, "left")
        .withColumn("__both",
                    (F.col("__ina").isNotNull()
                     & F.col("__inb").isNotNull()).cast("int"))
    )
    agg = flagged.groupBy(*groups).agg(
        F.count("*").cast("bigint").alias("n_union_kept"),
        F.max("h").alias("__hk"),
        F.sum("__both").cast("bigint").alias("__nboth"),
    )
    est_u = F.when(
        F.col("n_union_kept") < int(k), F.col("n_union_kept").cast("double")
    ).otherwise(
        F.lit(float(k - 1)) * F.lit(float(2 ** _HASH_BITS))
        / F.col("__hk").cast("double")
    )
    jac = F.col("__nboth").cast("double") / F.col("n_union_kept").cast(
        "double"
    )
    return agg.select(
        *groups,
        "n_union_kept",
        F.round(est_u, 4).alias("est_union"),
        F.round(jac * est_u, 4).alias("est_intersection"),
        F.round(jac, 6).alias("jaccard"),
    )
