"""Expression-built Bloom filters: a set-membership sketch that rides a
single broadcast row and probes in whole-stage codegen.

Spark's own bloom machinery (``bloom_filter_agg`` / ``might_contain``)
is not registered on the SQL function path in every build, and its bit
layout is engine-private. This module builds the filter from built-in
expressions only — Kirsch–Mitzenmacher double hashing over two
independent xxhash64 views of each value, OR-folded into an
``array<long>`` of bit words — so:

* build and probe both run in whole-stage codegen (no UDFs),
* the stored bits are reproducible anywhere xxhash64 exists,
* the filter persists as one parquet row (:func:`save_bloom` /
  :func:`load_bloom`) and can gate every future batch of a stream
  without touching the corpus that built it.

Scale shape: the build explodes only the SMALL side (the set being
sketched — a benchmark, a key census, a stop-list); the probe side is a
pure projection over the broadcast row. No false negatives; false
positives bounded by ``fpp``.

Used by ``operators.curation.decontaminate_bloom`` (benchmark shingles)
and available for any "is this value in the known set" pre-pass where
an exact broadcast join would ship the whole set to every executor.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from mallarddv_spark.exceptions import DVConfigurationError
from mallarddv_spark.logging_utils import get_logger

log = get_logger("bloom")

# extra-view hash salts (arbitrary but pinned: stored filters must keep
# probing identically forever)
_SEED2 = 0x9E3779B9
_SEED3 = 0xC2B2AE35


def bloom_params(n_items: int, fpp: float) -> dict:
    """Size a filter: bits rounded UP TO A POWER OF TWO (the probe walk
    needs gcd(h2, m) = 1 — see :func:`bloom_positions`), optimal hash
    count for the resulting geometry (the rounding slack buys a lower
    effective fpp rather than being wasted)."""
    if not 0.0 < fpp < 1.0:
        raise DVConfigurationError(f"fpp must be in (0, 1), got {fpp}")
    n_items = max(int(n_items), 1)
    m_bits = -n_items * math.log(fpp) / (math.log(2) ** 2)
    m = max(64, 2 ** math.ceil(math.log2(max(m_bits, 1))))
    n_words = m // 64
    # the power-of-two rounding can nearly double m; the geometry-optimal
    # k grows with m/n and would waste probe work — ceil(log2(1/fpp))
    # hashes already achieve the target once m is at least optimally
    # sized (bit load ≤ 1/2 → per-probe hit rate ≤ 1/2 → fpp ≤ 2^-k)
    n_hashes = max(
        1,
        min(
            round(m / n_items * math.log(2)),
            math.ceil(-math.log2(fpp)),
        ),
    )
    return {"n_words": n_words, "m": m, "n_hashes": n_hashes}


def bloom_positions(value, m: int, n_hashes: int) -> Column:
    """Array of ``n_hashes`` probe bit-positions for ``value`` (any
    xxhash64-able column). Both hash views are pre-reduced so the
    ``h1 + i·h2`` walk stays inside long range under ANSI arithmetic.

    Probe scheme ``pos_i = (h1 + i·h2 + i²·h3) mod m`` (enhanced double
    hashing), chosen against two observed failure floors:

    * ``m`` must be a power of two and ``h2`` is forced ODD, so
      gcd(h2, m) = 1 and the linear walk never cycles early. (With an
      arbitrary even stride it does: a stride sharing a factor of 4048
      with a 16192-bit filter visits only 4 cells, and the observed
      false-positive rate explodes for exactly those values.)
    * With a PURELY linear walk, a probe value whose (h1, h2) pair
      collides mod m with any inserted value matches ALL k bits — a
      guaranteed false positive at rate ~2/m² per (probe, inserted)
      pair, which dominates the nominal 2^-k fpp whenever the sketched
      set (and hence m) is small. The quadratic ``i²·h3`` term makes a
      full collision require all three views to agree (~2/m³)."""
    if m & (m - 1):
        raise DVConfigurationError(f"bloom m must be a power of two, got {m}")
    h1 = F.pmod(F.xxhash64(value), F.lit(m))
    h2 = F.pmod(F.xxhash64(value, F.lit(_SEED2)), F.lit(m // 2)) * 2 + 1
    h3 = F.pmod(F.xxhash64(value, F.lit(_SEED3)), F.lit(m))
    return F.transform(
        F.sequence(F.lit(0), F.lit(n_hashes - 1)),
        lambda i: F.pmod(
            h1
            + i.cast("long") * h2
            + i.cast("long") * i.cast("long") * h3,
            F.lit(m),
        ),
    )


def _bit_mask(p) -> Column:
    return F.call_function(
        "shiftleft", F.lit(1).cast("long"), (p % 64).cast("int")
    )


def _distinct_vals(df: DataFrame, value_col: str | Column) -> DataFrame:
    return df.select(
        F.col(value_col).alias("__v") if isinstance(value_col, str)
        else value_col.alias("__v")
    ).distinct()


def _fold_filter(
    vals: DataFrame, m: int, n_hashes: int, n_items: int
) -> DataFrame:
    """The ONE filter-building plan — explode probe positions, OR-fold
    per 64-bit word, densify to ``array<long>`` — shared by
    :func:`build_bloom` and :func:`bloom_append` so built and appended
    bits can never drift apart (the stored format must keep probing
    identically forever)."""
    word = vals.select(
        F.explode(bloom_positions(F.col("__v"), m, n_hashes)).alias("p")
    ).select(
        (F.col("p") / 64).cast("int").alias("w"),
        _bit_mask(F.col("p")).alias("b"),
    )
    # densify via a zero row per word + sorted collect: every word index
    # is present exactly once after the group-by, so extracting ``bits``
    # from the w-sorted structs IS the dense array. (The previous
    # map_from_entries + per-index element_at densify was quadratic in
    # m/64 — Spark maps are unsorted arrays, so each of the m/64 lookups
    # scanned them linearly; ~4 s of one-task CPU at m = 2^19.)
    zero = vals.sparkSession.range(m // 64).select(
        F.col("id").cast("int").alias("w"), F.lit(0).cast("long").alias("b")
    )
    return (
        word.unionByName(zero)
        .groupBy("w")
        .agg(F.expr("bit_or(b)").alias("bits"))
        .agg(
            F.array_sort(F.collect_list(F.struct("w", "bits"))).alias("__e")
        )
        .select(
            F.transform(F.col("__e"), lambda x: x["bits"]).alias("__bloom"),
            F.lit(m).cast("long").alias("m"),
            F.lit(n_hashes).cast("int").alias("n_hashes"),
            F.lit(max(n_items, 1)).cast("long").alias("n_items"),
        )
    )


def build_bloom(
    df: DataFrame,
    value_col: str | Column,
    fpp: float = 1e-6,
    expected_items: int | None = None,
) -> DataFrame:
    """Fold the distinct values of ``value_col`` into ONE filter row:
    ``(__bloom array<long>, m long, n_hashes int, n_items long)``.

    ``expected_items`` skips the sizing count when the caller already
    knows the cardinality (e.g. from a stored manifest). An empty input
    yields an all-zero filter that cleanly reports nothing present."""
    vals = _distinct_vals(df, value_col)
    n_items = int(expected_items or vals.count())
    p = bloom_params(n_items, fpp)
    return _fold_filter(vals, p["m"], p["n_hashes"], n_items)


def bloom_contains(value, bloom_col, m: int, n_hashes: int) -> Column:
    """Membership probe expression: true iff every probe bit of ``value``
    is set in ``bloom_col`` (an ``array<long>`` column in scope — in
    practice the broadcast filter row). Composable inside array lambdas."""
    return F.forall(
        bloom_positions(value, m, n_hashes),
        lambda p: (
            F.element_at(bloom_col, (p / 64).cast("int") + 1)
            .bitwiseAND(_bit_mask(p))
            != 0
        ),
    )


def merge_blooms(a: DataFrame, b: DataFrame, check: bool = True) -> DataFrame:
    """Union two filters of IDENTICAL geometry (elementwise bit OR): the
    merged filter contains every value either side contains.

    Geometry AND the sides' shared metadata columns (e.g. the
    ``shingle_size`` that :func:`build_benchmark_bloom` stamps) must
    agree — two filters built over differently-shingled values can land
    on the same bit geometry, and OR-ing them would produce a filter
    that silently never matches one side's members. ``check=False``
    skips the compatibility probe (which executes both sides once) for
    callers that constructed ``b`` at ``a``'s geometry by definition —
    :func:`bloom_append` — keeping the merge a single lazy plan."""
    extra = [c for c in a.columns if c not in ("__bloom", "n_items")]
    if check:
        shared = [c for c in extra if c in b.columns]
        ga = a.select(*shared).first()
        gb = b.select(*shared).first()
        if ga is None or gb is None:
            empty = [s for s, g in (("first", ga), ("second", gb)) if g is None]
            raise DVConfigurationError(
                f"cannot merge bloom filters: the {' and '.join(empty)} "
                f"side(s) hold zero rows — a filter is exactly one row of "
                f"bits + geometry; rebuild the empty side"
            )
        mismatched = {
            c: (ga[c], gb[c]) for c in shared if ga[c] != gb[c]
        }
        if mismatched:
            raise DVConfigurationError(
                f"bloom filters incompatible on {mismatched} — rebuild both "
                f"with a common geometry and metadata"
            )
    return (
        a.select(
            F.col("__bloom").alias("__a"),
            F.col("n_items").alias("__na"),
            *extra,
        )
        .crossJoin(
            F.broadcast(
                b.select(
                    F.col("__bloom").alias("__b"),
                    F.col("n_items").alias("__nb"),
                )
            )
        )
        .select(
            F.zip_with(
                "__a", "__b", lambda x, y: x.bitwiseOR(y)
            ).alias("__bloom"),
            *[c for c in extra if c not in ("m", "n_hashes")],
            F.col("m"),
            F.col("n_hashes"),
            # upper bound (duplicates across sides can't be told apart);
            # the fpp degrades past the original sizing once the true
            # count outgrows it — callers watching n_items can rebuild
            (F.col("__na") + F.col("__nb")).alias("n_items"),
        )
    )


def bloom_append(
    spark: SparkSession,
    path: str,
    new_values: DataFrame,
    value_col: str | Column,
) -> dict:
    """Fold a batch of new values into a STORED filter in place: build a
    batch filter at the stored geometry (no resize — membership of old
    values must survive), OR it in, rewrite. Returns the stored geometry
    with the updated item-count upper bound. The rewrite is CRASH-SAFE:
    the merged row is written to ``{path}__compact`` and made live via
    the staged-rename swap protocol shared with the MinHash/IVF indexes
    (``layout.swap_dir_live``) — a kill at any point leaves a complete
    copy that :func:`heal_bloom` (run automatically here and by
    :func:`load_bloom` on open) restores, so a stored filter gating a
    live stream (``streaming/ingest.py``) never goes dark.

    Watch ``n_items``: once it outgrows the count the filter was sized
    for, the per-value false-positive rate degrades quickly (doubling
    the load takes 1e-6 to roughly 1e-3), and callers that flag a row
    when ANY of its values hits (e.g. per-document shingle probes)
    amplify that by the values-per-row. Rebuild at the new size instead
    of appending past ~the original sizing."""
    heal_bloom(spark, path)
    stored = spark.read.parquet(path)
    geo = stored.select("m", "n_hashes", "n_items").first()
    # one materialization serves both the emptiness probe and the fold:
    # un-checkpointed, the distinct-values subtree (often a corpus-scale
    # shingle explode) executes twice — once for count(), again under the
    # staged write. The checkpoint holds |distinct new values| rows of a
    # single column; eager + fresh per call, nothing persists across runs.
    # NOTE on the checkpoint: lineage truncation means loss of a
    # checkpoint block fails the staged rewrite instead of recomputing —
    # the swap protocol still prevents corruption (the live filter is
    # untouched until the swap), the append just errors and is retried.
    vals = _distinct_vals(new_values, value_col).localCheckpoint(eager=True)
    try:
        n_new = vals.count()
        if n_new == 0:
            # nothing to fold: skip the rewrite + staged swap entirely
            # and report the stored geometry unchanged (inflating
            # n_items for a no-op would erode the sizing headroom
            # callers watch)
            return {"m": int(geo.m), "n_hashes": int(geo.n_hashes),
                    "n_items": int(geo.n_items)}
        # fold at the STORED geometry and merge WITHOUT the
        # compatibility probe (the batch is at that geometry by
        # construction): the whole append is then ONE lazy plan,
        # evaluated exactly once by the staged write — no collect, no
        # createDataFrame round-trip (the pickled-local-frame path
        # schedules Python workers per action; see functions/litframe.py).
        # Writing to __compact never touches the live directory the
        # plan reads from.
        batch = _fold_filter(vals, int(geo.m), int(geo.n_hashes), n_new)
        merged = merge_blooms(stored, batch, check=False)
        from mallarddv_spark.sources import layout

        merged.coalesce(1).write.mode("overwrite").parquet(path + "__compact")
        layout.swap_dir_live(spark, path)
        return {"m": int(geo.m), "n_hashes": int(geo.n_hashes),
                "n_items": int(geo.n_items) + n_new}
    finally:
        # free the checkpoint's executor blocks now instead of at driver
        # GC — a long-lived session appending many batches would
        # otherwise accumulate them in storage memory. The persisted RDD
        # lives inside the LogicalRDD node (df.rdd would wrap a NEW
        # derived RDD whose unpersist is a no-op); best-effort only.
        try:
            vals._jdf.queryExecution().analyzed().rdd().unpersist(False)
        except Exception:  # never fail an append over cleanup
            log.debug("bloom_append: checkpoint unpersist failed for %s",
                      path, exc_info=True)


def heal_bloom(spark: SparkSession, path: str) -> str | None:
    """Resolve a :func:`bloom_append` interrupted mid-swap: restore the
    backup if the live directory vanished, drop leftovers otherwise.
    ``heal_dir_swap`` resolves one torn state per call (restoring a
    backup leaves the staged dir for a follow-up pass); a filter is a
    single directory, so drain to fully clean here. Idempotent; returns
    the action(s) taken ('+'-joined) or None when clean. Run
    automatically by :func:`load_bloom` and :func:`bloom_append`."""
    from mallarddv_spark.sources import layout

    actions = []
    while True:
        a = layout.heal_dir_swap(spark, path)
        if a is None:
            break
        actions.append(a)
    return "+".join(actions) if actions else None


def save_bloom(bloom: DataFrame, path: str) -> None:
    """Persist the one-row filter (bits + geometry) as parquet. First
    write goes straight to ``path``; re-saving over an EXISTING filter
    goes through the same staged-rename swap as :func:`bloom_append`, so
    a crash mid-rewrite never leaves a stream gating on a torn file."""
    from mallarddv_spark.sources import layout

    spark = bloom.sparkSession
    heal_bloom(spark, path)
    fs, live = layout.dir_fs(spark, path)
    if not fs.exists(live):
        bloom.coalesce(1).write.mode("overwrite").parquet(path)
        return
    bloom.coalesce(1).write.mode("overwrite").parquet(path + "__compact")
    layout.swap_dir_live(spark, path)


def load_bloom(spark: SparkSession, path: str) -> tuple[DataFrame, dict]:
    """Load a stored filter: the one-row DataFrame to broadcast, plus its
    geometry (one tiny driver read — probes need ``m``/``n_hashes`` at
    plan-build time, so a mismatch is impossible by construction).
    Heals a torn :func:`bloom_append` swap on open."""
    action = heal_bloom(spark, path)
    if action:
        import logging

        logging.getLogger(__name__).warning(
            "healed torn bloom filter at %s: %s", path, action
        )
    df = spark.read.parquet(path)
    row = df.select("m", "n_hashes", "n_items").first()
    params = {
        "m": int(row.m),
        "n_hashes": int(row.n_hashes),
        "n_items": int(row.n_items),
    }
    return df.select("__bloom"), params
