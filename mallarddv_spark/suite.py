"""The declared query suite: every operator exposed through the driver
contract (``__spark_entry__.py``), each with a Spark implementation and a
DuckDB oracle SQL string.

Design rules for exact cross-engine agreement:

* hashes use **md5** (DuckDB 1.0 has no sha1) over string/int inputs only —
  double→string rendering diverges between engines at ≥1e7;
* monetary aggregates sum **decimals** (exact) and only then round and cast
  to double, so sum order cannot perturb results;
* ratios divide exact operands in double (IEEE division is deterministic);
* every top-k has a total deterministic order (value, then unique key);
* cosine scores are rounded to 6 dp *before* ranking in both engines.

Each entry: name → (spark_fn(spark, sf_dir) -> DataFrame, oracle_sql | None).
Oracle table names (region nation customer supplier part orders lineitem
events documents embeddings) are pre-registered views on the same parquet.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from mallarddv_spark.functions.hashing import hash_col

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

_SCRATCH_ROOT: str | None = None


def _scratch_dir(prefix: str) -> str:
    """Scratch directory for gate queries that materialize on-disk
    artifacts (stored indexes, bloom filters, training shards, stream
    sources). All calls share ONE run-scoped root registered for
    removal at interpreter exit, so repeated gate/bench invocations —
    bench_parts re-calls each suite fn per part — cannot accumulate
    orphaned temp data across runs."""
    import atexit
    import shutil
    import tempfile

    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="mallarddv_gate_scratch_")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return read_events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _pooled(*thunks):
    """Construct independent part frames from a thread pool (guide
    §2.6): plan construction is driver/py4j-bound, and some parts run
    eager work (checkpoints, index writes) at construction time, so
    building them serially leaves both the JVM and the executor idle.
    Results return in submission order; expressions are unchanged —
    only the driver-side construction order moves."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futs = [pool.submit(t) for t in thunks]
        return [f.result() for f in futs]


def _parquet_rows(sf_dir: str, name: str) -> int:
    """Row count straight from parquet footers, driver-side — no Spark
    job. Used where a gate query needs a table's cardinality as a PLAN
    PARAMETER (e.g. the synthetic pagerank graph modulus): a full
    `df.count()` job per gate invocation just to read a constant is
    avoidable overhead at every SF."""
    import os

    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.isfile(path):
        return pq.ParquetFile(path).metadata.num_rows
    return sum(
        pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet stores ``ts`` as TIMESTAMP(NANOS), which Spark's
    vectorized reader rejects. Read nanos as long and truncate to micros —
    exactly what DuckDB does implicitly (its TIMESTAMP is micro-precision),
    so both engines see identical values."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def md5_sql(fields: list[str]) -> str:
    """DuckDB-side canonical hash (mirrors functions.hashing.hash_sql)."""
    parts = ",".join(f"coalesce(cast({f} as varchar),'')" for f in fields)
    return f"md5(upper(concat_ws('||',{parts})))"


def sha256_sql(fields: list[str]) -> str:
    """DuckDB-side canonical sha256 hash (Spark twin: ``sha2(..., 256)``) —
    exercises the third supported hash algo through the driver gate."""
    parts = ",".join(f"coalesce(cast({f} as varchar),'')" for f in fields)
    return f"sha256(upper(concat_ws('||',{parts})))"


def _mhash(*cols) -> F.Column:
    return hash_col(list(cols), algo="md5")


DEC = "decimal(18,4)"
#: revenue term used by the TPC-H-style queries — exact decimal arithmetic
REV_SPARK = f"cast(l_extendedprice as {DEC}) * (cast(1 as {DEC}) - cast(l_discount as {DEC}))"
REV_DUCK = f"cast(l_extendedprice as {DEC}) * (cast(1 as {DEC}) - cast(l_discount as {DEC}))"

# ---------------------------------------------------------------------------
# §2 Data Vault operators, expressed over the TPC-H-ish test tables
# ---------------------------------------------------------------------------


def q_dv_hub_customer(spark, sf):
    """Hub load projection: distinct business keys + canonical hash key
    (SURVEY §2 J1/A1/P8, md5 variant of the engine's sha1)."""
    c = _t(spark, sf, "customer")
    return c.select(
        _mhash("c_custkey").alias("customer_hk"),
        F.col("c_custkey").alias("customer_bk"),
    ).distinct()


O_DV_HUB_CUSTOMER = f"""
SELECT DISTINCT {md5_sql(['c_custkey'])} AS customer_hk, c_custkey AS customer_bk
FROM customer
"""


def q_dv_hub_part_composite(spark, sf):
    """Composite business key + raw string-literal key part (P3/P8):
    hash over (p_partkey, 'catalog_part')."""
    p = _t(spark, sf, "part")
    return p.select(
        _mhash(F.col("p_partkey"), F.lit("catalog_part")).alias("part_hk"),
        F.col("p_partkey").alias("id_cbk"),
        F.lit("catalog_part").alias("part_type_cbk"),
    ).distinct()


O_DV_HUB_PART = f"""
SELECT DISTINCT {md5_sql(['p_partkey', "'catalog_part'"])} AS part_hk,
       p_partkey AS id_cbk, 'catalog_part' AS part_type_cbk
FROM part
"""


def q_dv_link_order_customer(spark, sf):
    """Link-hash expansion (SURVEY §2.7): the link hash is computed over the
    member hubs' *business keys* plus degenerate keys; the link row stores
    the hubs' hash keys."""
    o = _t(spark, sf, "orders")
    return o.select(
        _mhash("o_orderkey", "o_custkey", "o_orderpriority").alias(
            "order_customer_hk"
        ),
        _mhash("o_orderkey").alias("order_hk"),
        _mhash("o_custkey").alias("customer_hk"),
        F.col("o_orderpriority").alias("priority_dk"),
    ).distinct()


O_DV_LINK = f"""
SELECT DISTINCT
    {md5_sql(['o_orderkey', 'o_custkey', 'o_orderpriority'])} AS order_customer_hk,
    {md5_sql(['o_orderkey'])} AS order_hk,
    {md5_sql(['o_custkey'])} AS customer_hk,
    o_orderpriority AS priority_dk
FROM orders
"""


def q_dv_hashview_customer(spark, sf):
    """Staging hash view (V1): transformation `trim(#)` applied upstream of
    both the stored value and the hash-diff (P2/P5/P7/P8)."""
    c = _t(spark, sf, "customer")
    name = F.trim(F.col("c_name"))
    return c.select(
        _mhash("c_custkey").alias("customer_hk"),
        _mhash(name, F.col("c_mktsegment"), F.col("c_nationkey")).alias(
            "customer_details_hashdiff"
        ),
        F.col("c_custkey").alias("id"),
        name.alias("name"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_nationkey").alias("nation_id"),
    )


O_DV_HASHVIEW = f"""
SELECT {md5_sql(['c_custkey'])} AS customer_hk,
       {md5_sql(['trim(c_name)', 'c_mktsegment', 'c_nationkey'])} AS customer_details_hashdiff,
       c_custkey AS id, trim(c_name) AS name,
       c_mktsegment AS segment, c_nationkey AS nation_id
FROM customer
"""


def q_dv_hub_incremental_antijoin(spark, sf):
    """Idempotent hub load (J1/F1): incoming keys from orders, anti-joined
    against an existing hub seeded from non-BUILDING customers."""
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    incoming = o.select(
        _mhash("o_custkey").alias("customer_hk"),
        F.col("o_custkey").alias("customer_bk"),
    ).distinct()
    hub = c.filter("c_mktsegment <> 'BUILDING'").select(
        _mhash("c_custkey").alias("customer_hk")
    )
    return incoming.join(hub, on="customer_hk", how="left_anti")


O_DV_ANTIJOIN = f"""
WITH incoming AS (
    SELECT DISTINCT {md5_sql(['o_custkey'])} AS customer_hk, o_custkey AS customer_bk
    FROM orders
), hub AS (
    SELECT {md5_sql(['c_custkey'])} AS customer_hk FROM customer
    WHERE c_mktsegment <> 'BUILDING'
)
SELECT i.customer_hk, i.customer_bk
FROM incoming i LEFT OUTER JOIN hub h ON i.customer_hk = h.customer_hk
WHERE h.customer_hk IS NULL
"""


def q_dv_sat_current_view(spark, sf):
    """Current-value view (A3): latest version per key via row_number over
    version time DESC with a deterministic unique tiebreaker."""
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        e.withColumn("r", F.row_number().over(w))
        .filter("r = 1")
        .select(
            _mhash("user_id").alias("user_hk"),
            "user_id",
            F.col("ts").alias("last_ts"),
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
        )
    )


O_DV_CURRENT = f"""
SELECT {md5_sql(['user_id'])} AS user_hk, user_id, ts AS last_ts,
       event_type AS last_event_type, value AS last_value
FROM (
    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) r
    FROM events
) x WHERE r = 1
"""

_EV_HD = ["event_type", "props"]


def q_dv_sat_change_detection(spark, sf):
    """Satellite delta load (J4/A5/F3): two snapshots of events (by event_id
    parity); insert an incoming latest-state row unless the stored latest
    version has the same hash_diff."""
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))

    def latest(df):
        return (
            df.withColumn("r", F.row_number().over(w))
            .filter("r = 1")
            .select(
                "user_id",
                "event_type",
                "props",
                _mhash(*_EV_HD).alias("hash_diff"),
            )
        )

    stored = latest(e.filter("event_id % 2 = 0")).select(
        F.col("user_id").alias("s_uid"), F.col("hash_diff").alias("s_hd")
    )
    incoming = latest(e.filter("event_id % 2 = 1"))
    j = incoming.join(stored, incoming.user_id == stored.s_uid, "left_outer")
    return j.filter(
        F.col("s_uid").isNull() | (F.col("s_hd") != F.col("hash_diff"))
    ).select("user_id", "event_type", "props", "hash_diff")


O_DV_CHANGE = f"""
WITH latest AS (
    SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) r
    FROM events
),
stored AS (
    SELECT user_id AS s_uid, {md5_sql(_EV_HD)} AS s_hd
    FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) r
          FROM events WHERE event_id % 2 = 0) x WHERE r = 1
),
incoming AS (
    SELECT user_id, event_type, props, {md5_sql(_EV_HD)} AS hash_diff
    FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) r
          FROM events WHERE event_id % 2 = 1) x WHERE r = 1
)
SELECT i.user_id, i.event_type, i.props, i.hash_diff
FROM incoming i LEFT OUTER JOIN stored s ON i.user_id = s.s_uid
WHERE s.s_uid IS NULL OR s.s_hd <> i.hash_diff
"""


def q_dv_sat_full_tombstones(spark, sf):
    """sat_full delete detection (F4/J3): latest state of keys seen before
    the cutoff that are absent from the tail of the month → tombstone rows
    carrying the old hash_diff and payload. Cutoff sits late (Jan 30 noon)
    because the synthetic users are highly active — an earlier cutoff strands
    nobody and the gate would be vacuous."""
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    first = e.filter("ts < timestamp'2024-01-30 12:00:00'")
    latest = (
        first.withColumn("r", F.row_number().over(w))
        .filter("r = 1")
        .select("user_id", "event_type", _mhash(*_EV_HD).alias("hash_diff"))
    )
    present = (
        e.filter("ts >= timestamp'2024-01-30 12:00:00'").select("user_id").distinct()
    )
    gone = latest.join(present, on="user_id", how="left_anti")
    return gone.select(
        "user_id", "event_type", "hash_diff", F.lit(True).alias("del_flag")
    )


O_DV_TOMBSTONE = f"""
WITH latest AS (
    SELECT user_id, event_type, {md5_sql(_EV_HD)} AS hash_diff
    FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) r
          FROM events WHERE ts < timestamp '2024-01-30 12:00:00') x WHERE r = 1
),
present AS (
    SELECT DISTINCT user_id FROM events WHERE ts >= timestamp '2024-01-30 12:00:00'
)
SELECT l.user_id, l.event_type, l.hash_diff, true AS del_flag
FROM latest l LEFT OUTER JOIN present p ON l.user_id = p.user_id
WHERE p.user_id IS NULL
"""


def q_dv_distinct_dedup(spark, sf):
    """SELECT DISTINCT dedup before insert (A1)."""
    return (
        _t(spark, sf, "lineitem").select("l_returnflag", "l_linestatus").distinct()
    )


O_DV_DISTINCT = "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem"


def q_dv_next_run_id(spark, sf):
    """Run-id allocation (A2): COALESCE(MAX(id),0)+1."""
    return (
        _t(spark, sf, "events")
        .agg(
            (F.coalesce(F.max("event_id"), F.lit(0)) + F.lit(1)).alias("next_run_id")
        )
    )


O_DV_RUNID = "SELECT coalesce(max(event_id), 0) + 1 AS next_run_id FROM events"


def q_dv_staging_projection(spark, sf):
    """Staging projection (P1–P7): aliasing, transformation, uppercase,
    null-default cast, raw literal."""
    c = _t(spark, sf, "customer")
    return c.select(
        F.col("c_custkey").alias("id"),
        F.trim("c_name").alias("name"),
        F.upper("c_mktsegment").alias("segment"),
        F.coalesce(F.col("c_nationkey").cast("string"), F.lit("")).alias("nation_str"),
        F.lit("crm").alias("record_source"),
    )


O_DV_PROJECTION = """
SELECT c_custkey AS id, trim(c_name) AS name, upper(c_mktsegment) AS segment,
       coalesce(cast(c_nationkey as varchar), '') AS nation_str,
       'crm' AS record_source
FROM customer
"""

# ---------------------------------------------------------------------------
# Analytics (raw-SQL-passthrough surface; bench headliners)
# ---------------------------------------------------------------------------


def q_tpch_q1(spark, sf):
    """TPC-H Q1 pricing summary — full-scan aggregate, map-side partials."""
    li = _t(spark, sf, "lineitem").filter("l_shipdate <= timestamp'1998-09-02 00:00:00'")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.expr(f"cast(sum(cast(l_quantity as {DEC})) as double)").alias("sum_qty"),
            F.expr(
                f"cast(sum(cast(l_extendedprice as {DEC})) as double)"
            ).alias("sum_base_price"),
            F.expr(f"cast(round(sum({REV_SPARK}), 2) as double)").alias(
                "sum_disc_price"
            ),
            F.expr(
                f"cast(sum(cast(l_quantity as {DEC})) as double) / count(*)"
            ).alias("avg_qty"),
            F.expr(
                f"cast(sum(cast(l_extendedprice as {DEC})) as double) / count(*)"
            ).alias("avg_price"),
            F.count("*").alias("count_order"),
        )
    )


O_TPCH_Q1 = f"""
SELECT l_returnflag, l_linestatus,
       cast(sum(cast(l_quantity as {DEC})) as double) AS sum_qty,
       cast(sum(cast(l_extendedprice as {DEC})) as double) AS sum_base_price,
       cast(round(sum({REV_DUCK}), 2) as double) AS sum_disc_price,
       cast(sum(cast(l_quantity as {DEC})) as double) / count(*) AS avg_qty,
       cast(sum(cast(l_extendedprice as {DEC})) as double) / count(*) AS avg_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= timestamp '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


def q_tpch_q3(spark, sf):
    """TPC-H Q3 shipping priority — 3-way join, agg, deterministic top-10."""
    c = _t(spark, sf, "customer").filter("c_mktsegment = 'BUILDING'")
    o = _t(spark, sf, "orders").filter("o_orderdate < timestamp'1995-03-15 00:00:00'")
    li = _t(spark, sf, "lineitem").filter("l_shipdate > timestamp'1995-03-15 00:00:00'")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.expr(f"cast(round(sum({REV_SPARK}),2) as double)").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


O_TPCH_Q3 = f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
       cast(round(sum({REV_DUCK}),2) as double) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < timestamp '1995-03-15 00:00:00'
  AND l_shipdate > timestamp '1995-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def q_tpch_q5(spark, sf):
    """TPC-H Q5 local supplier volume — 6-way join with two small broadcast
    dims and a same-nation predicate."""
    r = _t(spark, sf, "region").filter("r_name = 'ASIA'")
    n = _t(spark, sf, "nation")
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").filter(
        "o_orderdate >= timestamp'1996-01-01 00:00:00' AND o_orderdate < timestamp'1997-01-01 00:00:00'"
    )
    li = _t(spark, sf, "lineitem")
    s = _t(spark, sf, "supplier")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(F.expr(f"cast(round(sum({REV_SPARK}),2) as double)").alias("revenue"))
    )


O_TPCH_Q5 = f"""
SELECT n_name, cast(round(sum({REV_DUCK}),2) as double) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= timestamp '1996-01-01 00:00:00'
  AND o_orderdate <  timestamp '1997-01-01 00:00:00'
GROUP BY n_name
"""


def q_tpch_q6(spark, sf):
    """TPC-H Q6 forecast revenue — pushed-down filters + single aggregate."""
    li = _t(spark, sf, "lineitem").filter(
        "l_shipdate >= timestamp'1996-01-01 00:00:00' "
        "AND l_shipdate < timestamp'1997-01-01 00:00:00' "
        "AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24"
    )
    return li.agg(
        F.expr(
            f"cast(round(sum(cast(l_extendedprice as {DEC}) * cast(l_discount as {DEC})),2) as double)"
        ).alias("revenue"),
        F.count("*").alias("n_rows"),
    )


O_TPCH_Q6 = f"""
SELECT cast(round(sum(cast(l_extendedprice as {DEC}) * cast(l_discount as {DEC})),2) as double) AS revenue,
       count(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= timestamp '1996-01-01 00:00:00'
  AND l_shipdate <  timestamp '1997-01-01 00:00:00'
  AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24
"""


def q_tpch_q10(spark, sf):
    """TPC-H Q10-style returned-item report — deterministic top-20."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders").filter(
        "o_orderdate >= timestamp'1995-10-01 00:00:00' AND o_orderdate < timestamp'1996-01-01 00:00:00'"
    )
    li = _t(spark, sf, "lineitem").filter("l_returnflag = 'R'")
    n = _t(spark, sf, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.expr(f"cast(round(sum({REV_SPARK}),2) as double)").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


O_TPCH_Q10 = f"""
SELECT c_custkey, c_name, n_name,
       cast(round(sum({REV_DUCK}),2) as double) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= timestamp '1995-10-01 00:00:00'
  AND o_orderdate <  timestamp '1996-01-01 00:00:00'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def q_events_hourly_agg(spark, sf):
    """Tumbling-window aggregation (batch twin of the streaming pipeline in
    ``streaming/``): 1-hour buckets per event_type."""
    e = _t(spark, sf, "events")
    return (
        e.groupBy(
            F.date_trunc("hour", "ts").alias("hour_start"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.expr("cast(round(sum(cast(value as decimal(18,6))),4) as double)").alias(
                "sum_value"
            ),
        )
    )


O_EVENTS_HOURLY = """
SELECT date_trunc('hour', ts) AS hour_start, event_type,
       count(*) AS n_events,
       cast(round(sum(cast(value as decimal(18,6))),4) as double) AS sum_value
FROM events
GROUP BY 1, 2
"""


def q_events_purchase_attribution(spark, sf):
    """Interval-join attribution (the stream-stream join's batch twin —
    mallarddv_spark.streaming.joins.purchase_attribution runs this exact
    plan shape with watermarked state on streams): every (purchase, prior
    click within 1 hour) pair per user with click-to-purchase latency."""
    from mallarddv_spark.streaming.joins import purchase_attribution

    e = _t(spark, sf, "events")
    return purchase_attribution(e, lookback="1 hour")


O_EVENTS_ATTR = """
WITH p AS (
    SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
    FROM events WHERE event_type = 'purchase'
),
c AS (
    SELECT event_id AS click_id, user_id, ts AS click_ts
    FROM events WHERE event_type = 'click'
)
SELECT p.purchase_id, p.user_id, p.purchase_ts, c.click_id, c.click_ts,
       cast(floor(epoch(p.purchase_ts) - epoch(c.click_ts)) as bigint) AS latency_sec
FROM p JOIN c
  ON p.user_id = c.user_id
 AND c.click_ts >= p.purchase_ts - INTERVAL 1 HOUR
 AND c.click_ts <= p.purchase_ts
"""


def q_events_sessionization(spark, sf):
    """Gaps-and-islands sessionization: a >30-minute silence starts a new
    session (lag window + running flag sum)."""
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.withColumn("prev_ts", F.lag("ts").over(w)).withColumn(
        "new_session",
        F.when(
            F.col("prev_ts").isNull()
            # NTZ-safe gap: timestampdiff needs no timezone and accepts both
            # TIMESTAMP and TIMESTAMP_NTZ (cast-to-double rejects NTZ).
            | (F.expr("timestampdiff(MICROSECOND, prev_ts, ts)") > 1800 * 1_000_000),
            1,
        ).otherwise(0),
    )
    return flagged.groupBy("user_id").agg(
        F.sum("new_session").alias("session_cnt"),
        F.count("*").alias("event_cnt"),
    )


O_EVENTS_SESSION = """
SELECT user_id,
       cast(sum(new_session) as bigint) AS session_cnt,
       count(*) AS event_cnt
FROM (
    SELECT user_id,
           CASE WHEN prev_ts IS NULL
                     OR (epoch(ts) - epoch(prev_ts)) > 1800.0
                THEN 1 ELSE 0 END AS new_session
    FROM (
        SELECT user_id, ts,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events
    ) x
) y
GROUP BY user_id
"""


def q_events_props_extract(spark, sf):
    """Semi-structured extraction: pull the integer `k` out of the JSON-ish
    props string with a regex (portable across engines)."""
    e = _t(spark, sf, "events")
    k = F.regexp_extract("props", r'"k":\s*(\d+)', 1).cast("bigint")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
    )


O_EVENTS_PROPS = r"""
SELECT event_type, count(*) AS n,
       cast(sum(cast(regexp_extract(props, '"k":\s*(\d+)', 1) as bigint)) as bigint) AS sum_k,
       max(cast(regexp_extract(props, '"k":\s*(\d+)', 1) as bigint)) AS max_k
FROM events
GROUP BY event_type
"""

# ---------------------------------------------------------------------------
# LLM-pipeline extensions: dedup / text analysis / similarity / multimodal
# (thin registry wrappers; the scale-path implementations live in
# operators/dedup.py, operators/similarity.py, operators/textops.py)
# ---------------------------------------------------------------------------

_WS = r"\s+"  # tokenizer regex for the DataFrame API (used verbatim)
#: the same regex for embedding inside a Spark SQL string literal — Spark SQL
#: processes backslash escapes in single-quoted literals, so it must be doubled
_WS_SQL = r"\\s+"


def q_dedup_exact(spark, sf):
    """Exact dedup: content-hash clustering, keep lowest doc_id per cluster."""
    d = _t(spark, sf, "documents")
    return (
        d.select(F.md5("text").alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
    )


O_DEDUP_EXACT = """
SELECT md5(text) AS fingerprint, count(*) AS n_docs, min(doc_id) AS keep_doc_id
FROM documents GROUP BY 1
"""


def q_text_pack_sequences(spark, sf):
    """Concat-and-chunk sequence packing: deterministic greedy assignment
    of documents to fixed-token-budget training bins, sharded for
    parallelism (per-shard running-sum window — no global serialization).
    4 modulo shards here so DuckDB can predict shard ids (the default
    xxhash64 sharding has no DuckDB twin); production uses hash sharding
    with one shard per shuffle partition.

    Two parts since round 8: `pack` (the assignment) and `shards` — the
    `write_training_shards` MATERIALIZED round-trip: the packed corpus is
    written as shard_id-partitioned parquet + manifest, read back FROM
    DISK, and per-shard stats must match the oracle's replay of the
    packing — proving the trainer-facing writer, not just the plan."""

    from mallarddv_spark.operators.textops import (
        pack_sequences,
        write_training_shards,
    )

    d = _t(spark, sf, "documents")
    assign = pack_sequences(
        d, "doc_id", "text", token_budget=2048, n_shards=4,
        shard_col=F.pmod("doc_id", F.lit(4)),
    ).select(
        F.lit("pack").alias("part"),
        F.col("id"),
        F.col("n_tokens").alias("n1"),
        F.col("shard_id").cast("bigint").alias("n2"),
        F.col("bin_id").alias("n3"),
        F.col("bin_offset").alias("n4"),
    )
    path = _scratch_dir("shards_gate_") + "/corpus"
    write_training_shards(
        d, path, "doc_id", "text", token_budget=2048, n_shards=4,
        shard_col=F.pmod("doc_id", F.lit(4)),
    )
    stats = (
        spark.read.parquet(f"{path}/data")
        .groupBy("shard_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("tok"),
            (F.max("bin_id") + 1).alias("n_bins"),
        )
        .select(
            F.lit("shards").alias("part"),
            F.col("shard_id").cast("bigint").alias("id"),
            F.col("n_docs").cast("bigint").alias("n1"),
            F.col("tok").cast("bigint").alias("n2"),
            F.col("n_bins").cast("bigint").alias("n3"),
            *_nulls(("n4", "bigint")),
        )
    )
    return assign.unionByName(stats)


O_TEXT_PACK_ASSIGN = r"""
WITH base AS (
    SELECT doc_id AS id,
           cast(len(string_split_regex(trim(text), '\s+')) as bigint) AS n_tokens,
           cast(doc_id % 4 as int) AS shard_id
    FROM documents
),
run AS (
    SELECT *,
           coalesce(sum(n_tokens) OVER (
               PARTITION BY shard_id ORDER BY id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS tokens_before
    FROM base
)
SELECT id, n_tokens, shard_id,
       cast(floor(tokens_before / 2048) as bigint) AS bin_id,
       cast(tokens_before % 2048 as bigint) AS bin_offset
FROM run
"""

O_TEXT_PACK = (
    "SELECT 'pack' AS part, id, n_tokens AS n1, cast(shard_id as bigint) AS n2,"
    " bin_id AS n3, bin_offset AS n4\nFROM ("
    + O_TEXT_PACK_ASSIGN
    + ") p\nUNION ALL\nSELECT 'shards' AS part, cast(shard_id as bigint) AS id,"
    " cast(count(*) as bigint) AS n1, cast(sum(n_tokens) as bigint) AS n2,"
    " cast(max(bin_id) + 1 as bigint) AS n3, cast(NULL as bigint) AS n4\nFROM ("
    + O_TEXT_PACK_ASSIGN
    + ") s GROUP BY shard_id"
)


def q_text_quality_filter(spark, sf):
    """C4/Gopher-style rule-based quality filtering: keep/drop verdict per
    document with machine-readable failed-rule reasons, all in one
    whole-stage-codegen projection (no shuffle). Reasons emitted as a CSV
    string (array columns are not canonicalizable by the driver gate)."""
    from mallarddv_spark.operators.textops import quality_filter

    d = _t(spark, sf, "documents")
    out = quality_filter(d, "text", rules={"min_tokens": 30})
    return out.select(
        "doc_id",
        "qf_keep",
        F.size("qf_reasons").cast("bigint").alias("n_reasons"),
        F.concat_ws(",", "qf_reasons").alias("reasons_csv"),
    )


O_TEXT_QF = r"""
WITH m AS (
    SELECT doc_id,
           len(string_split_regex(trim(text), '\s+')) AS toks,
           len(list_distinct(string_split_regex(trim(text), '\s+'))) AS utoks,
           round(len(regexp_replace(text, '\s+', '', 'g'))
                 / len(string_split_regex(trim(text), '\s+')), 6) AS mtl,
           round(len(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                 / len(text), 6) AS alpha,
           round(len(list_filter(string_split_regex(trim(text), '\s+'),
                     x -> list_contains(['the','and','of','a','to','in','is','it'], x)))
                 / len(string_split_regex(trim(text), '\s+')), 6) AS swr
    FROM documents
),
r AS (
    SELECT doc_id,
           list_filter([
               CASE WHEN NOT (toks >= 30) THEN 'min_tokens' END,
               CASE WHEN NOT (toks <= 100000) THEN 'max_tokens' END,
               CASE WHEN NOT (mtl >= 3.0) THEN 'min_mean_token_len' END,
               CASE WHEN NOT (mtl <= 10.0) THEN 'max_mean_token_len' END,
               CASE WHEN NOT (alpha >= 0.6) THEN 'min_alpha_ratio' END,
               CASE WHEN NOT (swr >= 0.01) THEN 'min_stopword_ratio' END,
               CASE WHEN NOT (round(1 - utoks / toks, 6) <= 0.6)
                    THEN 'max_dup_token_ratio' END
           ], x -> x IS NOT NULL) AS reasons
    FROM m
)
SELECT doc_id,
       len(reasons) = 0 AS qf_keep,
       len(reasons) AS n_reasons,
       coalesce(array_to_string(reasons, ','), '') AS reasons_csv
FROM r
"""


def q_dedup_cluster_assign(spark, sf):
    """Graph suite, two parts since round 10. `cluster` — distributed
    connected components over a duplicate-pair list → per-document
    cluster verdicts (the step that turns near-dup PAIRS into actual
    dedup decisions). Pairs here are CONSECUTIVE links within each
    exact-duplicate group (a path graph, so the component must be
    recovered by iterative label propagation + pointer jumping, not a
    single join) — which makes the result exactly predictable in SQL:
    cluster_id = min doc_id per content fingerprint. `pagerank` —
    power-iteration PageRank in exact-step mode (5 rounds, tol=None)
    over a deterministic synthetic link graph (each doc with
    ``doc_id % 7 != 0`` links to three arithmetic targets; the % 7 docs
    are dangling, exercising uniform dangling-mass redistribution) —
    the oracle replays all five rounds as chained CTEs with the SAME
    float op order (w = 1.0/deg once, then rank*w; base summed
    left-associated), so values match on the round(rank*1000, 6) grid."""
    from mallarddv_spark.operators.graph import dedup_assign, pagerank

    d = _t(spark, sf, "documents")
    grp = (
        d.select(F.md5("text").alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    pairs = grp.select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(ids)-2), "
                "i -> struct(ids[i] AS doc_a, ids[i+1] AS doc_b))"
            )
        ).alias("p")
    ).select("p.doc_a", "p.doc_b")
    n = _parquet_rows(sf, "documents")
    edges = (
        d.select(
            "doc_id",
            F.explode(
                F.array(*[(F.col("doc_id") * 31 + j * 97) % n
                          for j in (1, 2, 3)])
            ).alias("dst"),
        )
        .filter((F.col("doc_id") % 7 != 0) & (F.col("dst") != F.col("doc_id")))
        .select(F.col("doc_id").alias("src"), "dst")
        .distinct()
    )
    # checkpoint_every=1 (the default) is the MEASURED fastest cadence
    # for this gate: r11 timed the query warm in fresh JVMs at sf0.1 —
    # ck=1: 4.2 s, ck=5: 6.5 s, ck=None: 5.3–7.2 s. The lazy plan is
    # NOT cheaper here because each round's dangling-mass aggregate
    # rides a broadcast whose subtree re-executes the entire prior
    # lineage (no cross-subtree reuse), compounding per round; the
    # per-round cut pays 5 small jobs but evaluates each round once.
    #
    # r14: the two parts' EAGER round chains (label-propagation
    # checkpoints, per-round pagerank checkpoints) are independent and
    # each leaves most of local[32] idle between tiny jobs — run them
    # from a 2-thread pool so one chain back-fills the other's gaps
    # (guide §2.6). Per-part results are byte-identical: the operators
    # share no state and each thread's job sequence is unchanged.
    # Attribution before the change: 6.25 s call phase + 0.15 s action
    # (the whole query is call-phase eager work).
    from concurrent.futures import ThreadPoolExecutor

    sc = spark.sparkContext

    def _cluster():
        sc.setJobDescription("cluster_assign: connected components")
        return dedup_assign(d, "doc_id", pairs)

    def _pagerank():
        sc.setJobDescription("cluster_assign: pagerank rounds")
        return pagerank(edges, damping=0.85, max_iter=5, tol=None)

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_cl = pool.submit(_cluster)
        f_pr = pool.submit(_pagerank)
        assigned = f_cl.result()
        pr = f_pr.result()
    sc.setJobDescription(None)
    cluster = assigned.select(
        F.lit("cluster").alias("part"), "id", "cluster_id", "keep",
        *_nulls(("rankm", "double")),
    )
    prp = pr.select(
        F.lit("pagerank").alias("part"),
        F.col("node").alias("id"),
        *_nulls(("cluster_id", "bigint"), ("keep", "boolean")),
        F.round(F.col("rank") * 1000, 6).alias("rankm"),
    )
    return cluster.unionByName(prp)


def _o_pagerank_rounds(rounds: int = 5, damping: float = 0.85) -> str:
    """Chained-CTE replay of :func:`pagerank`'s exact-step mode. Float op
    order mirrors the operator exactly: per-edge weight is 1.0/deg
    materialized ONCE, contributions are sum(rank * w), and each new
    rank is ((1-d)/N + (d*dm)/N) + d*contrib with that associativity."""
    ctes = [f"""
edges AS (
    SELECT DISTINCT d.doc_id AS src,
           (d.doc_id * 31 + t.j * 97) % (SELECT count(*) FROM documents) AS dst
    FROM documents d, (VALUES (1), (2), (3)) AS t(j)
    WHERE d.doc_id % 7 <> 0
      AND (d.doc_id * 31 + t.j * 97) % (SELECT count(*) FROM documents)
          <> d.doc_id
),
deg AS (SELECT src, count(*)::DOUBLE AS deg FROM edges GROUP BY src),
ew AS (SELECT e.src, e.dst, 1.0 / g.deg AS w
       FROM edges e JOIN deg g ON e.src = g.src),
nd AS (
    SELECT v.node, g.src IS NULL AS dangling
    FROM (SELECT src AS node FROM edges
          UNION SELECT dst FROM edges) v
    LEFT JOIN deg g ON v.node = g.src
),
nn AS (SELECT count(*)::DOUBLE AS nd FROM nd),
r0 AS (SELECT node, dangling, 1.0 / nn.nd AS rank FROM nd, nn)"""]
    for t in range(rounds):
        ctes.append(f"""
r{t + 1} AS (
    SELECT nd.node, nd.dangling,
           (({1.0 - damping!r} / nn.nd) + ({damping!r} * dm.s) / nn.nd)
           + {damping!r} * coalesce(c.c, 0.0) AS rank
    FROM nd
    CROSS JOIN nn
    CROSS JOIN (SELECT coalesce(sum(rank), 0.0) AS s
                FROM r{t} WHERE dangling) dm
    LEFT JOIN (SELECT e.dst AS node, sum(r.rank * e.w) AS c
               FROM ew e JOIN r{t} r ON e.src = r.node
               GROUP BY e.dst) c
    ON nd.node = c.node
)""")
    return ",".join(ctes) + f"""
SELECT 'pagerank' AS part, node AS id,
       CAST(NULL AS BIGINT) AS cluster_id, CAST(NULL AS BOOLEAN) AS keep,
       round(rank * 1000, 6) AS rankm
FROM r{rounds}"""


O_DEDUP_CLUSTER = f"""
WITH {_o_pagerank_rounds()}
UNION ALL
SELECT 'cluster' AS part, doc_id AS id,
       min(doc_id) OVER (PARTITION BY md5(text)) AS cluster_id,
       doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS keep,
       CAST(NULL AS DOUBLE) AS rankm
FROM documents
"""


def q_dedup_ngram_jaccard(spark, sf):
    """Exact set-overlap pair suite over word-3-gram shingles, two parts
    since round 9: `jaccard` — near-dup pairs at Jaccard ≥ 0.30
    (candidates from grouping by shingle + JVM-side pair explosion, no
    exploded self-join, no O(n²) cross join) — and `contain` — Broder
    containment pairs at max(|∩|/|S(a)|, |∩|/|S(b)|) ≥ 0.20, the
    asymmetric INCLUSION axis (a fragment quoted inside a superset
    document) that symmetric Jaccard structurally under-scores: at
    sf0.01 four of the containment pairs sit below the 0.30 Jaccard
    bar. Both share the document-frequency cut (shingles in >1000 docs
    are dropped via a groupBy count + semi-join BEFORE collect_list —
    the bound that keeps per-shingle fan-out finite and aggregation
    buffers task-sized at corpus scale; no shingle exceeds df=25 in
    this dataset, so the oracle's matching HAVING clause prunes nothing
    and values stay exact)."""
    from mallarddv_spark.operators.dedup import (
        _shingle_pair_counts,
        containment_pairs,
        ngram_jaccard_pairs,
    )

    d = _t(spark, sf, "documents")
    # the candidate machinery (shingle explode → df cut → pair
    # explosion → intersection counts + sizes) is IDENTICAL for both
    # scorers; one eager checkpoint feeds them (fresh RDD per call —
    # nothing persists across invocations). Even deduping only the
    # base SCAN measured 8.5 -> 5.7 s warm at sf0.1; sharing the whole
    # candidate subtree removes the second full pipeline too.
    pc = _shingle_pair_counts(
        d, "doc_id", "text", 3, 1000
    ).localCheckpoint(eager=True)
    j = ngram_jaccard_pairs(
        d, "doc_id", "text",
        shingle_size=3, threshold=0.30, max_shingle_df=1000,
        pair_counts=pc,
    ).select(
        F.lit("jaccard").alias("part"),
        "doc_a", "doc_b", "inter", "sz_a", "sz_b",
        F.col("jaccard").alias("s1"),
        *_nulls(("s2", "double")),
    )
    c = containment_pairs(
        d, "doc_id", "text",
        shingle_size=3, threshold=0.20, max_shingle_df=1000,
        pair_counts=pc,
    ).select(
        F.lit("contain").alias("part"),
        "doc_a", "doc_b", "inter", "sz_a", "sz_b",
        F.col("containment_a").alias("s1"),
        F.col("containment_b").alias("s2"),
    )
    return j.unionByName(c)


O_DEDUP_NGRAM = r"""
WITH toks AS (
    SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents
),
sh0 AS (
    SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(t) - 2),
                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
        FROM toks WHERE len(t) >= 3
    ) s
),
df_ok AS (SELECT shingle FROM sh0 GROUP BY 1 HAVING count(*) <= 1000),
sh AS (SELECT sh0.* FROM sh0 JOIN df_ok USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
sc AS (
    SELECT doc_a, doc_b, inter, sa.sz AS sz_a, sb.sz AS sz_b,
           round(cast(inter as double) / (sa.sz + sb.sz - inter), 6) AS j,
           round(cast(inter as double) / sa.sz, 6) AS c_a,
           round(cast(inter as double) / sb.sz, 6) AS c_b
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
)
SELECT 'jaccard' AS part, doc_a, doc_b, inter, sz_a, sz_b,
       j AS s1, cast(NULL as double) AS s2
FROM sc WHERE j >= 0.30
UNION ALL
SELECT 'contain' AS part, doc_a, doc_b, inter, sz_a, sz_b,
       c_a AS s1, c_b AS s2
FROM sc WHERE greatest(c_a, c_b) >= 0.20
"""

# --- MinHash signatures: K=16 permutations over md5-derived token ints -----
_MH_P = 1_000_000_007
_MH_PARAMS = [(97 + 13 * i, 911 + 7919 * i) for i in range(16)]
# spark: conv() hex→decimal string→bigint; duckdb: 0x-prefix cast
_X_SPARK = "cast(conv(substr(md5(tok),1,15),16,10) as bigint) % 1000000007"
_X_DUCK = "(('0x' || substr(md5(tok),1,15))::bigint) % 1000000007"


def q_dedup_minhash_sig(spark, sf):
    """MinHash signatures (K=16) per document — the LSH building block.
    Token → 60-bit md5 int → K universal-hash permutations → per-doc min.
    Fully deterministic and engine-portable."""
    d = _t(spark, sf, "documents")
    toks = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", _WS))).alias("tok")
    ).withColumn("x", F.expr(_X_SPARK))
    aggs = [
        F.min(F.expr(f"({a} * x + {b}) % {_MH_P}")).alias(f"sig_{i}")
        for i, (a, b) in enumerate(_MH_PARAMS)
    ]
    sigs = toks.groupBy("doc_id").agg(*aggs)
    # 4 bands × 4 rows → band fingerprints for LSH bucketing
    for band in range(4):
        cols = ",".join(f"sig_{band * 4 + j}" for j in range(4))
        sigs = sigs.withColumn(f"band_{band}", F.expr(f"md5(concat_ws('-',{cols}))"))
    return sigs


def _o_minhash() -> str:
    sig_exprs = ",\n       ".join(
        f"min(({a} * x + {b}) % {_MH_P}) AS sig_{i}"
        for i, (a, b) in enumerate(_MH_PARAMS)
    )
    band_exprs = ",\n       ".join(
        "md5(concat_ws('-',"
        + ",".join(f"sig_{band * 4 + j}" for j in range(4))
        + f")) AS band_{band}"
        for band in range(4)
    )
    return rf"""
WITH toks AS (
    SELECT doc_id, {_X_DUCK} AS x
    FROM (SELECT doc_id, unnest(list_distinct(string_split_regex(text, '\s+'))) AS tok
          FROM documents) u
),
sigs AS (
    SELECT doc_id,
       {sig_exprs}
    FROM toks GROUP BY doc_id
)
SELECT *,
       {band_exprs}
FROM sigs
"""


O_DEDUP_MINHASH = _o_minhash()

_SH_BITS = 32


def q_dedup_simhash(spark, sf):
    """SimHash (32-bit) per document: per-bit vote over md5-derived token
    ints, sign → bit."""
    d = _t(spark, sf, "documents")
    toks = d.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", _WS))).alias("tok")
    ).withColumn(
        "x", F.expr("cast(conv(substr(md5(tok),1,15),16,10) as bigint)")
    )
    votes = [
        F.sum(
            F.expr(f"CASE WHEN (shiftright(x,{j}) & 1) = 1 THEN 1 ELSE -1 END")
        ).alias(f"s{j}")
        for j in range(_SH_BITS)
    ]
    per_doc = toks.groupBy("doc_id").agg(*votes)
    sim = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN cast({1 << j} as bigint) ELSE 0 END)"
        for j in range(_SH_BITS)
    )
    return per_doc.select("doc_id", F.expr(sim).alias("simhash"))


def _o_simhash() -> str:
    votes = ",\n       ".join(
        f"sum(CASE WHEN ((x >> {j}) & 1) = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(_SH_BITS)
    )
    sim = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN cast({1 << j} as bigint) ELSE 0 END)"
        for j in range(_SH_BITS)
    )
    return rf"""
WITH toks AS (
    SELECT doc_id, ('0x' || substr(md5(tok),1,15))::bigint AS x
    FROM (SELECT doc_id, unnest(list_distinct(string_split_regex(text, '\s+'))) AS tok
          FROM documents) u
),
per_doc AS (
    SELECT doc_id,
       {votes}
    FROM toks GROUP BY doc_id
)
SELECT doc_id, {sim} AS simhash FROM per_doc
"""


O_DEDUP_SIMHASH = _o_simhash()


def q_text_token_count(spark, sf):
    """Token statistics per document (whitespace tokenizer)."""
    d = _t(spark, sf, "documents")
    toks = F.split(F.trim("text"), _WS)
    # int-producing functions are cast to bigint: DuckDB's len()/length()
    # return BIGINT and the gate compares schemas, not just values
    return d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_unique_tokens"),
        F.length("text").cast("bigint").alias("n_chars_actual"),
    )


O_TEXT_TOKENS = r"""
SELECT doc_id,
       len(string_split_regex(trim(text), '\s+')) AS n_tokens,
       len(list_distinct(string_split_regex(trim(text), '\s+'))) AS n_unique_tokens,
       length(text) AS n_chars_actual
FROM documents
"""

_STOPWORDS = "'the','a','of','and','to','in','is','it'"


def q_text_quality(spark, sf):
    """Quality scoring: stopword ratio, alpha ratio, mean token length —
    the usual cheap LLM-corpus quality heuristics."""
    d = _t(spark, sf, "documents")
    toks = F.split(F.trim("text"), _WS)
    stop = F.expr(
        f"size(filter(split(trim(text),'{_WS_SQL}'), x -> x IN ({_STOPWORDS})))"
    )
    alpha = F.length(F.regexp_replace("text", "[^a-z]", ""))
    return d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        stop.cast("bigint").alias("stopword_cnt"),
        F.expr(
            f"round(cast(size(filter(split(trim(text),'{_WS_SQL}'), x -> x IN ({_STOPWORDS}))) as double)"
            f" / size(split(trim(text),'{_WS_SQL}')), 6)"
        ).alias("stopword_ratio"),
        alpha.cast("bigint").alias("alpha_chars"),
        F.expr(
            f"round(cast(length(replace(text,' ','')) as double) / size(split(trim(text),'{_WS_SQL}')), 6)"
        ).alias("mean_token_len"),
    )


O_TEXT_QUALITY = rf"""
SELECT doc_id,
       len(string_split_regex(trim(text), '\s+')) AS n_tokens,
       len(list_filter(string_split_regex(trim(text), '\s+'), x -> x IN ({_STOPWORDS}))) AS stopword_cnt,
       round(cast(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x IN ({_STOPWORDS}))) as double)
             / len(string_split_regex(trim(text), '\s+')), 6) AS stopword_ratio,
       length(regexp_replace(text, '[^a-z]', '', 'g')) AS alpha_chars,
       round(cast(length(replace(text, ' ', '')) as double)
             / len(string_split_regex(trim(text), '\s+')), 6) AS mean_token_len
FROM documents
"""

_LANG_MARKERS = {
    "en": "'the','and','of'",
    "es": "'el','la','de'",
    "de": "'der','die','und'",
    "fr": "'le','les','et'",
}


def q_text_langid(spark, sf):
    """Language-ID heuristic: stopword votes per language, argmax with a
    fixed precedence order."""
    d = _t(spark, sf, "documents")
    toks = f"split(trim(text),'{_WS_SQL}')"
    votes = {
        lang: f"size(filter({toks}, x -> x IN ({words})))"
        for lang, words in _LANG_MARKERS.items()
    }
    guess = (
        "CASE "
        + " ".join(
            f"WHEN {votes[lang]} >= greatest({','.join(votes[l] for l in _LANG_MARKERS)}) THEN '{lang}'"
            for lang in _LANG_MARKERS
        )
        + " ELSE 'unknown' END"
    )
    sel = ["doc_id", "lang AS actual_lang"]
    sel += [f"cast({v} as bigint) AS votes_{lang}" for lang, v in votes.items()]
    sel += [f"{guess} AS guessed_lang"]
    return d.selectExpr(*sel)


def _o_langid() -> str:
    toks = r"string_split_regex(trim(text), '\s+')"
    votes = {
        lang: f"len(list_filter({toks}, x -> x IN ({words})))"
        for lang, words in _LANG_MARKERS.items()
    }
    guess = (
        "CASE "
        + " ".join(
            f"WHEN {votes[lang]} >= greatest({','.join(votes[l] for l in _LANG_MARKERS)}) THEN '{lang}'"
            for lang in _LANG_MARKERS
        )
        + " ELSE 'unknown' END"
    )
    cols = ",\n       ".join(f"{v} AS votes_{lang}" for lang, v in votes.items())
    return f"""
SELECT doc_id, lang AS actual_lang,
       {cols},
       {guess} AS guessed_lang
FROM documents
"""


O_TEXT_LANGID = _o_langid()


def q_text_fingerprint(spark, sf):
    """Document fingerprinting: normalized-text hash + order-insensitive
    sorted-token hash (catches shuffled near-dups)."""
    d = _t(spark, sf, "documents")
    norm = F.trim(F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", " "))
    return d.select(
        "doc_id",
        F.md5(norm).alias("norm_fp"),
        F.md5(
            F.concat_ws(" ", F.sort_array(F.split(F.trim("text"), _WS)))
        ).alias("sorted_fp"),
    )


O_TEXT_FP = r"""
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'))) AS norm_fp,
       md5(array_to_string(list_sort(string_split_regex(trim(text), '\s+')), ' ')) AS sorted_fp
FROM documents
"""


def q_similarity_topk(spark, sf):
    """Brute-force cosine top-k: queries (vec_id<10) × candidates (≥10),
    rank by cosine rounded to 6dp with id tiebreak (deterministic across
    engines). The scale path (LSH-bucketed) lives in operators/similarity.py."""
    e = _t(spark, sf, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    )
    e = e.withColumn(
        "norm",
        F.expr("sqrt(aggregate(v, cast(0.0 as double), (acc, x) -> acc + x * x))"),
    )
    q = e.filter("vec_id < 10").select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("norm").alias("qn")
    )
    c = e.filter("vec_id >= 10").select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("cv"), F.col("norm").alias("cn")
    )
    pairs = q.crossJoin(F.broadcast(c)).withColumn(
        "cosine",
        F.expr(
            "round(aggregate(zip_with(qv, cv, (x, y) -> x * y), cast(0.0 as double), (acc, x) -> acc + x)"
            " / (qn * cn), 6)"
        ),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter("rank <= 5")
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


O_SIM_TOPK = """
WITH e AS (
    SELECT vec_id, embedding::DOUBLE[] AS v,
           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
    FROM embeddings
),
pairs AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           round(list_dot_product(q.v, c.v) / (q.norm * c.norm), 6) AS cosine
    FROM e q, e c
    WHERE q.vec_id < 10 AND c.vec_id >= 10
)
SELECT query_id, neighbor_id, rank, cosine
FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
      FROM pairs) x
WHERE rank <= 5
"""


def q_similarity_pairs(spark, sf):
    """All embedding pairs above a cosine threshold (near-dup by embedding).
    Self-join pruned by id ordering; at scale this becomes LSH-bucketed."""
    e = _t(spark, sf, "embeddings").filter("vec_id < 200").select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    )
    e = e.withColumn(
        "norm",
        F.expr("sqrt(aggregate(v, cast(0.0 as double), (acc, x) -> acc + x * x))"),
    )
    a = e.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"), F.col("norm").alias("na"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"), F.col("norm").alias("nb"))
    return (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cosine",
            F.expr(
                "round(aggregate(zip_with(va, vb, (x, y) -> x * y), cast(0.0 as double), (acc, x) -> acc + x)"
                " / (na * nb), 6)"
            ),
        )
        .filter("cosine >= 0.25")
        .select("id_a", "id_b", "cosine")
    )


O_SIM_PAIRS = """
WITH e AS (
    SELECT vec_id, embedding::DOUBLE[] AS v,
           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
    FROM embeddings WHERE vec_id < 200
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_dot_product(a.v, b.v) / (a.norm * b.norm), 6) AS cosine
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v) / (a.norm * b.norm), 6) >= 0.25
"""


def q_similarity_quantized_topk(spark, sf):
    """int8-quantized brute-force cosine top-k
    (`operators/similarity.quantize_embeddings` + `cosine_topk_quantized`):
    the corpus side stores tinyint codes + a per-vector scale (4x scan
    I/O at lake scale) and dequantizes inside the dot product. The oracle
    replays the SQ8 arithmetic — max(|v|)/127 scale, round-half-away
    tinyint codes, dequantized cosine — in closed form; Spark's fold-left
    dot products and DuckDB's list_dot_product agree exactly."""
    from mallarddv_spark.operators.similarity import (
        cosine_topk_quantized,
        quantize_embeddings,
    )

    e = _t(spark, sf, "embeddings")
    queries = e.filter("vec_id < 10")
    corpus_q = quantize_embeddings(e.filter("vec_id >= 10"))
    out = cosine_topk_quantized(queries, corpus_q, k=5)
    return out.select(
        "query_id", "neighbor_id", F.col("rank").cast("bigint").alias("rank"),
        "cosine",
    )


O_SIM_QTOPK = """
WITH base AS (
    SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
qz AS (
    SELECT vec_id, v,
           list_max(list_transform(v, x -> abs(x))) / 127.0 AS s
    FROM base WHERE vec_id >= 10
),
c AS (
    SELECT vec_id AS neighbor_id,
           CASE WHEN s = 0 THEN list_transform(v, x -> 0.0)
                ELSE list_transform(v, x ->
                     cast(cast(round(x / s) AS TINYINT) as double) * s)
           END AS cv
    FROM qz
),
cn AS (
    SELECT neighbor_id, cv, sqrt(list_dot_product(cv, cv)) AS cn FROM c
),
q AS (
    SELECT vec_id AS query_id, v AS qv,
           sqrt(list_dot_product(v, v)) AS qn
    FROM base WHERE vec_id < 10
),
pairs AS (
    SELECT query_id, neighbor_id,
           CASE WHEN cn = 0 OR qn = 0 THEN 0.0
                ELSE round(list_dot_product(qv, cv) / (qn * cn), 6)
           END AS cosine
    FROM q, cn
),
ranked AS (
    SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
    ) AS rank
    FROM pairs
)
SELECT query_id, neighbor_id, rank, cosine FROM ranked WHERE rank <= 5
"""



def q_multimodal_binary_meta(spark, sf):
    """Multimodal-column plumbing: treat content as opaque bytes with typed
    metadata — byte length + content hash, aggregated per source. (Decode /
    feature-extraction UDFs live in operators/multimodal.py.)"""
    d = _t(spark, sf, "documents").select(
        "source",
        F.encode("text", "UTF-8").alias("payload"),
        F.md5("text").alias("content_md5"),
    )
    return d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("payload")).alias("total_bytes"),
        F.countDistinct("content_md5").alias("distinct_contents"),
    )


O_MULTIMODAL = """
SELECT source, count(*) AS n_docs,
       cast(sum(octet_length(encode(text))) as bigint) AS total_bytes,
       count(DISTINCT md5(text)) AS distinct_contents
FROM documents
GROUP BY source
"""

# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

#: name → (spark callable, duckdb oracle SQL or None)
REGISTRY: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str | None]] = {
    # Data Vault core (SURVEY §2)
    "dv_hub_customer": (q_dv_hub_customer, O_DV_HUB_CUSTOMER),
    "dv_hub_part_composite": (q_dv_hub_part_composite, O_DV_HUB_PART),
    "dv_link_order_customer": (q_dv_link_order_customer, O_DV_LINK),
    "dv_hashview_customer": (q_dv_hashview_customer, O_DV_HASHVIEW),
    "dv_hub_incremental_antijoin": (q_dv_hub_incremental_antijoin, O_DV_ANTIJOIN),
    "dv_sat_current_view": (q_dv_sat_current_view, O_DV_CURRENT),
    "dv_sat_change_detection": (q_dv_sat_change_detection, O_DV_CHANGE),
    "dv_sat_full_tombstones": (q_dv_sat_full_tombstones, O_DV_TOMBSTONE),
    "dv_distinct_dedup": (q_dv_distinct_dedup, O_DV_DISTINCT),
    "dv_next_run_id": (q_dv_next_run_id, O_DV_RUNID),
    "dv_staging_projection": (q_dv_staging_projection, O_DV_PROJECTION),
    # analytics passthrough
    "tpch_q1": (q_tpch_q1, O_TPCH_Q1),
    "tpch_q3": (q_tpch_q3, O_TPCH_Q3),
    "tpch_q5": (q_tpch_q5, O_TPCH_Q5),
    "tpch_q6": (q_tpch_q6, O_TPCH_Q6),
    "tpch_q10": (q_tpch_q10, O_TPCH_Q10),
    "events_hourly_agg": (q_events_hourly_agg, O_EVENTS_HOURLY),
    "events_sessionization": (q_events_sessionization, O_EVENTS_SESSION),
    "events_purchase_attribution": (q_events_purchase_attribution, O_EVENTS_ATTR),
    "events_props_extract": (q_events_props_extract, O_EVENTS_PROPS),
    # LLM-pipeline extensions
    "dedup_exact": (q_dedup_exact, O_DEDUP_EXACT),
    "dedup_ngram_jaccard": (q_dedup_ngram_jaccard, O_DEDUP_NGRAM),
    "dedup_cluster_assign": (q_dedup_cluster_assign, O_DEDUP_CLUSTER),
    "text_quality_filter": (q_text_quality_filter, O_TEXT_QF),
    "text_pack_sequences": (q_text_pack_sequences, O_TEXT_PACK),
    "dedup_minhash_sig": (q_dedup_minhash_sig, O_DEDUP_MINHASH),
    "dedup_simhash": (q_dedup_simhash, O_DEDUP_SIMHASH),
    "text_token_count": (q_text_token_count, O_TEXT_TOKENS),
    "text_quality": (q_text_quality, O_TEXT_QUALITY),
    "text_langid": (q_text_langid, O_TEXT_LANGID),
    "text_fingerprint": (q_text_fingerprint, O_TEXT_FP),
    "similarity_topk": (q_similarity_topk, O_SIM_TOPK),
    "similarity_pairs": (q_similarity_pairs, O_SIM_PAIRS),
    "similarity_quantized_topk": (q_similarity_quantized_topk, O_SIM_QTOPK),
    "multimodal_binary_meta": (q_multimodal_binary_meta, O_MULTIMODAL),
}

# ---------------------------------------------------------------------------
# scale-path operators (declared rows-only: LSH/IVF are approximate by
# construction and mapInPandas is not SQL-expressible — no DuckDB oracle)
# ---------------------------------------------------------------------------


def q_adv_minhash_lsh_pairs(spark, sf):
    """Banded MinHash-LSH near-dup pairs with exact-Jaccard rerank — the
    scale path whose candidates are a subset of the exhaustive
    dedup_ngram_jaccard oracle query. Runs the REAL operator in its
    portable md5 hash mode, so the banded candidate generation itself is
    reproduced verbatim by the DuckDB oracle (same signatures, same
    buckets, same pairs)."""
    from mallarddv_spark.operators import dedup

    d = _t(spark, sf, "documents")
    # ONE materialization of the distinct-shingle explode feeds the
    # signature stage AND the exact-Jaccard rerank's three consumers
    # (set sizes + both join sides) via the operator's `shingles=`
    # sharing hook — the explode otherwise re-runs four times per
    # action over the serial single-file scan. Eager localCheckpoint
    # inside the timed call; a fresh RDD per invocation, nothing
    # persists across runs.
    sh = dedup._shingles(
        d.repartition(spark.sparkContext.defaultParallelism),
        "doc_id", "text", 3,
    ).localCheckpoint(eager=True)
    return dedup.minhash_lsh_pairs(
        d, "doc_id", "text", num_perm=32, bands=16, threshold=0.30,
        hash_mode="md5", shingles=sh,
    )


def q_adv_simhash_pairs(spark, sf):
    """SimHash Hamming-distance pairs via pigeonhole chunk bucketing, run
    in the regime the banding guarantee covers: max_hamming = chunks - 1,
    where candidate recall is EXACT (distance ≤ 3 ⇒ some 15-bit chunk
    matches). A looser threshold (e.g. 12) is partial-recall by
    construction and, on this synthetic 31-word-vocabulary corpus, emits
    ~1M pairs — output volume, not the plan, dominates. Portable md5 hash
    mode (60-bit signature) so the DuckDB oracle reproduces the exact
    pipeline."""
    from mallarddv_spark.operators import dedup

    d = _t(spark, sf, "documents")
    return dedup.simhash_pairs(
        d, "doc_id", "text", max_hamming=3, chunks=4, hash_mode="md5"
    )


def q_adv_similarity_lsh_topk(spark, sf):
    """Random-hyperplane LSH approximate top-k (banded candidates + exact
    rerank)."""
    from mallarddv_spark.operators import similarity

    e = _t(spark, sf, "embeddings")
    return similarity.hyperplane_lsh_topk(
        e.filter("vec_id < 10"), e.filter("vec_id >= 10"), k=5, num_bits=32,
        bands=8, dim=64,
    )


def q_adv_similarity_ivf_topk(spark, sf):
    """IVF approximate top-k, deterministic-centroid variant: cells from an
    arithmetic corpus sample (vec_id % 61 == 10), nprobe probing, exact
    rerank. The KMeans-trained variant (similarity.ivf_topk) stays the
    production default and is pytest-covered; the gate runs this
    closed-form twin so the DuckDB oracle reproduces assignment, probing
    and rerank exactly."""
    from mallarddv_spark.operators import similarity

    e = _t(spark, sf, "embeddings")
    return similarity.ivf_topk_deterministic(
        e.filter("vec_id < 10"), e.filter("vec_id >= 10"), k=5, nprobe=4,
        centroid_mod=61, centroid_rem=10,
    )


def q_adv_similarity_ivfpq_store(spark, sf):
    """The STORED IVF-PQ index round-trip, deterministic variant: build a
    real on-disk index (`operators/similarity.build_ivfpq_index` with
    pre-trained centroids = corpus vectors 10..17 and the deterministic
    grid codebooks) over the FIRST HALF of the corpus, `ivfpq_append` the
    second half against the stored centroids/codebooks, then
    `ivfpq_probe_topk` (nprobe=2, partition-pruned cells, residual ADC) —
    proving the persisted layout, not just the inline arithmetic, against
    the same closed-form oracle as the inline `ivfpqadc` part: a correct
    build→append split is indistinguishable from a one-shot build."""

    from mallarddv_spark.operators.similarity import (
        build_ivfpq_index,
        ivfpq_append,
        ivfpq_probe_topk,
        pq_codebooks_deterministic,
    )

    e = _t(spark, sf, "embeddings")
    cent = e.filter("vec_id BETWEEN 10 AND 17").select(
        F.col("vec_id").alias("centroid_id"),
        F.expr("transform(embedding, x -> cast(x as double))").alias(
            "centroid"
        ),
    )
    books = pq_codebooks_deterministic(spark, m=8, dsub=8, n_codes=16)
    path = _scratch_dir("ivfpq_gate_") + "/idx"
    # a 2k-vector slice: this part proves the PERSISTENCE mechanics
    # (stored layout, build→append equivalence, heal, pruned probe) —
    # encode volume is already proven by the inline `ivfpqadc` part over
    # the full corpus, so re-paying it here per bench run buys nothing.
    # The local parquet is ONE file → pre-split so the interpreted
    # array-lambda encode parallelizes (same fix as the pqadc part).
    build_ivfpq_index(
        e.filter("vec_id >= 18 AND vec_id < 1018").repartition(32), path,
        m=8, n_codes=16, centroids=cent, codebooks=books, cell_files=8,
        geometry=(8, 8, 16),
    )
    ivfpq_append(
        e.filter("vec_id >= 1018 AND vec_id < 2018").repartition(32), path,
        cell_files=8, geometry=(8, 8, 16),
    )
    return ivfpq_probe_topk(e.filter("vec_id < 10"), path, k=5, nprobe=2)


def q_adv_embedding_neardup_lsh(spark, sf):
    """LSH-bucketed embedding near-dup (the scale path in front of the
    exact O(n²) similarity_pairs): hyperplane-signature band buckets →
    intra-bucket exact cosine. The corpus is seeded with deterministic
    planted near-dups (every 10th vector re-appears lightly perturbed) so
    the query exercises the regime the operator exists for — cosine ≥ 0.9
    — where the 32-bit / 4-band shape has high recall (≈0.75 at 0.90,
    ≈0.97 at 0.98) AND per-band buckets stay ~n/256: candidate volume is
    ~20× smaller than a coarse 6×4-bit banding, which is exactly the
    bucket discipline that keeps the rerank linear at 100 TB. Approximate
    by construction → rows-only."""
    from mallarddv_spark.operators import dedup

    e = _t(spark, sf, "embeddings").select("vec_id", "embedding")
    # explicit double casts on both terms: the perturbation product is an
    # exact decimal, so every engine that casts it to double lands on the
    # same bits — the DuckDB oracle replays this formula verbatim
    planted = e.filter(F.pmod("vec_id", F.lit(10)) == 0).select(
        (F.col("vec_id") + F.lit(10_000_000)).alias("vec_id"),
        F.expr(
            "transform(embedding, (x, i) -> cast(x as double) + "
            "cast(0.003 * (pmod(vec_id * 31 + i, 7) - 3) as double))"
        ).alias("embedding"),
    )
    return dedup.embedding_neardup_pairs(
        e.unionByName(planted), "vec_id", "embedding", threshold=0.90,
        bucketed=True, num_bits=32, bands=4, dim=64,
    )


def q_adv_text_profile(spark, sf):
    """One-pass text profile (single projection, no shuffle), since
    round 8 including four Gopher repetition signals (duplicate-line
    count/char fractions, top-2-gram chars, duplicated-5-gram chars —
    `textops.repetition_columns`; the remaining battery members are the
    same fold at other n, pytest-differentialed in test_repetition.py).
    Count columns are cast to bigint so the schema matches the DuckDB
    oracle (whose len()/length() return BIGINT)."""
    from mallarddv_spark.operators import textops

    # pre-split the single-file scan: the whole profile is ONE wide
    # projection (regex battery + repetition folds) that otherwise
    # runs as a single task to the first exchange. Measured at sf0.1:
    # 1.8 -> 0.7 s warm min-of-2.
    prof = textops.text_profile(
        _t(spark, sf, "documents")
        .repartition(spark.sparkContext.defaultParallelism),
        "doc_id", "text",
        with_repetition=True, top_ns=(2,), dup_ns=(5,),
    )
    return prof.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("n_unique_tokens").cast("bigint").alias("n_unique_tokens"),
        F.col("n_chars").cast("bigint").alias("n_chars"),
        "stopword_ratio",
        "alpha_ratio",
        "mean_token_len",
        "quality",
        "lang_guess",
        "norm_fp",
        "sorted_fp",
        "rep_dup_line_frac",
        "rep_dup_line_char_frac",
        "rep_top_2gram_char_frac",
        "rep_dup_5gram_char_frac",
    )


def _o_adv_text_profile() -> str:
    """DuckDB twin of operators/textops.text_profile: every metric is a
    deterministic closed-form expression, so the whole profile — including
    the composite quality score and the stopword-vote language guess — is
    oracle-checkable."""
    from mallarddv_spark.operators.textops import STOPWORDS

    langs = list(STOPWORDS)
    votes = {
        lg: "len(list_filter(toks, x -> x IN ("
        + ",".join(f"'{w}'" for w in STOPWORDS[lg])
        + ")))"
        for lg in langs
    }
    vote_cols = ",\n       ".join(f"{v} AS v_{lg}" for lg, v in votes.items())
    mx = "greatest(" + ",".join(f"v_{lg}" for lg in langs) + ")"
    # first language in STOPWORDS order whose votes tie the max wins —
    # mirrors the reversed when-chain in textops.lang_guess
    guess = (
        "CASE WHEN " + mx + " > 0 THEN (CASE "
        + " ".join(f"WHEN v_{lg} >= {mx} THEN '{lg}'" for lg in langs)
        + " END) ELSE 'unknown' END"
    )
    # repetition signals (count x length convention, capped at 1 — see
    # textops.repetition_columns): the per-element counting the Spark
    # side folds over a sorted array is replayed relationally (unnest →
    # group → re-join), which is trivially equivalent
    g2 = "list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])"
    g5 = (
        "list_transform(range(1, len(toks) - 3), i -> "
        "toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || "
        "toks[i+3] || ' ' || toks[i+4])"
    )
    return rf"""
WITH base AS (
    SELECT doc_id, text, string_split_regex(trim(text), '\s+') AS toks,
           string_split(trim(text), chr(10)) AS lns,
           greatest(length(trim(text)), 1) AS tchars
    FROM documents
),
m AS (
    SELECT doc_id, text, toks,
       len(toks) AS n_tokens,
       {vote_cols},
       round(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
             / length(text), 6) AS alpha_ratio,
       round(length(regexp_replace(text, '\s+', '', 'g'))
             / len(toks), 6) AS mean_token_len
    FROM base
),
rep_lines AS (
    SELECT b.doc_id, sum(c.cnt * length(c.l)) AS dupchars
    FROM base b
    JOIN (SELECT doc_id, l, count(*) AS cnt
          FROM (SELECT doc_id, unnest(lns) AS l FROM base) x
          GROUP BY doc_id, l
          HAVING count(*) >= 2) c ON c.doc_id = b.doc_id
    GROUP BY b.doc_id
),
rep_top2 AS (
    SELECT doc_id, cnt * length(g) AS topchars
    FROM (SELECT doc_id, g, count(*) AS cnt, row_number() OVER (
              PARTITION BY doc_id ORDER BY count(*) DESC, g ASC) AS rn
          FROM (SELECT doc_id, unnest({g2}) AS g FROM base) x
          GROUP BY doc_id, g) y
    WHERE rn = 1
),
rep_dup5 AS (
    SELECT doc_id, sum(cnt * length(g)) AS dupchars
    FROM (SELECT doc_id, g, count(*) AS cnt
          FROM (SELECT doc_id, unnest({g5}) AS g FROM base) x
          GROUP BY doc_id, g
          HAVING count(*) >= 2) y
    GROUP BY doc_id
)
SELECT m.doc_id,
       n_tokens,
       len(list_distinct(m.toks)) AS n_unique_tokens,
       length(m.text) AS n_chars,
       round(v_en / n_tokens, 6) AS stopword_ratio,
       alpha_ratio,
       mean_token_len,
       round(least(round(v_en / n_tokens, 6) * 4.0, 1.0) * 0.4
             + alpha_ratio * 0.4
             + (CASE WHEN mean_token_len >= 2.0 AND mean_token_len <= 12.0
                     THEN 1.0 ELSE 0.5 END) * 0.2, 6) AS quality,
       {guess} AS lang_guess,
       md5(trim(regexp_replace(regexp_replace(lower(m.text), '[^a-z0-9 ]', ' ', 'g'),
                               ' +', ' ', 'g'))) AS norm_fp,
       md5(array_to_string(list_sort(m.toks), ' ')) AS sorted_fp,
       round((len(b.lns) - len(list_distinct(b.lns)))
             / greatest(len(b.lns), 1), 6) AS rep_dup_line_frac,
       round(least(coalesce(rl.dupchars, 0) / b.tchars, 1.0), 6)
           AS rep_dup_line_char_frac,
       round(least(coalesce(t2.topchars, 0) / b.tchars, 1.0), 6)
           AS rep_top_2gram_char_frac,
       round(least(coalesce(d5.dupchars, 0) / b.tchars, 1.0), 6)
           AS rep_dup_5gram_char_frac
FROM m
JOIN base b USING (doc_id)
LEFT JOIN rep_lines rl USING (doc_id)
LEFT JOIN rep_top2 t2 USING (doc_id)
LEFT JOIN rep_dup5 d5 USING (doc_id)
"""


O_ADV_TEXT_PROFILE = _o_adv_text_profile()


def q_adv_multimodal_features(spark, sf):
    """Arrow-batched mapInPandas feature extraction over binary payloads.
    Decode is tiered: real stdlib header parsing (PNG/JPEG/GIF/BMP/WAV →
    decode_ok='ok'), PIL when installed, flagged deterministic stub
    otherwise (this corpus is UTF-8 text bytes, so rows report
    'stubbed'). Int columns are cast to bigint for oracle schema parity;
    the stub tier is content-hash derived, so the whole output is
    deterministic and DuckDB-predictable."""
    from mallarddv_spark.operators import multimodal

    d = _t(spark, sf, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("blob")
    )
    media = multimodal.attach_media_metadata(d, "doc_id", "blob", modality="image")
    feats = multimodal.extract_features(media)
    return feats.select(
        "media_id",
        "modality",
        "byte_len",
        "content_md5",
        F.col("width").cast("bigint").alias("width"),
        F.col("height").cast("bigint").alias("height"),
        F.col("n_frames").cast("bigint").alias("n_frames"),
        F.col("sample_rate").cast("bigint").alias("sample_rate"),
        F.col("channels").cast("bigint").alias("channels"),
        "duration_ms",
        "codec",
        "decode_ok",
    )


# DuckDB twin of the stub decode tier (operators/multimodal.decode_media):
# the corpus payloads are UTF-8 text bytes — no image header matches — so
# width/height are the documented content-hash fakes 64 + md5_byte % 192,
# flagged decode_ok='stubbed'. md5(text) == md5 of the UTF-8 payload bytes.
O_ADV_MULTIMODAL = """
SELECT cast(doc_id AS varchar) AS media_id,
       'image' AS modality,
       cast(octet_length(encode(text)) AS bigint) AS byte_len,
       md5(text) AS content_md5,
       cast(64 + (('0x' || substr(md5(text), 1, 2))::bigint % 192) AS bigint) AS width,
       cast(64 + (('0x' || substr(md5(text), 3, 2))::bigint % 192) AS bigint) AS height,
       cast(1 AS bigint) AS n_frames,
       cast(NULL AS bigint) AS sample_rate,
       cast(NULL AS bigint) AS channels,
       cast(NULL AS bigint) AS duration_ms,
       cast(NULL AS varchar) AS codec,
       'stubbed' AS decode_ok
FROM documents
"""


REGISTRY.update(
    {
        "adv_minhash_lsh_pairs": (q_adv_minhash_lsh_pairs, None),
        "adv_simhash_pairs": (q_adv_simhash_pairs, None),
        "adv_embedding_neardup_lsh": (q_adv_embedding_neardup_lsh, None),
        "adv_similarity_lsh_topk": (q_adv_similarity_lsh_topk, None),
        "adv_similarity_ivf_topk": (q_adv_similarity_ivf_topk, None),
        "adv_text_profile": (q_adv_text_profile, O_ADV_TEXT_PROFILE),
        "adv_multimodal_features": (q_adv_multimodal_features, O_ADV_MULTIMODAL),
    }
)

# ---------------------------------------------------------------------------
# the engine itself, end-to-end, through the oracle gate: a real vault flow
# (metadata DDL → parquet ingestion → hash view → hub/sat loads → current
# view) whose final current-view content is SQL-predictable from the input.
# ---------------------------------------------------------------------------

_FLOW_TABLES = """base_name,rel_type,column_name,column_type,column_position,mapping
customer,stg,c_custkey,BIGINT,1,c
customer,stg,c_name,VARCHAR,2,c
customer,stg,c_nationkey,INTEGER,3,c
customer,stg,c_acctbal,DOUBLE,4,c
customer,stg,c_mktsegment,VARCHAR,5,c
customer,hub,c_custkey,BIGINT,1,bk
customer_details,hsat,customer,,0,hk
customer_details,hsat,name,VARCHAR,1,f
customer_details,hsat,segment,VARCHAR,2,f
customer_details,hsat,nation_id,INTEGER,3,f
"""

_FLOW_TRANSITIONS = """source_table,source_field,target_table,target_field,group_name,position,raw,transformation,transfer_type
customer,c_custkey,hub_customer,c_custkey_bk,customer,1,false,,bk
customer,c_name,hsat_customer_details,name,customer_details,1,false,trim(#),f
customer,c_mktsegment,hsat_customer_details,segment,customer_details,2,false,,f
customer,c_nationkey,hsat_customer_details,nation_id,customer_details,3,false,,f
customer,customer_hk,hsat_customer_details,customer,customer_details,0,false,,sat_delta
"""


def q_dv_flow_e2e(spark, sf):
    """Run the REAL engine end-to-end (md5 hash mode so DuckDB can predict
    the result): init vault from metadata, ingest sf customer.parquet via
    the flow's file path, load hub + delta satellite, return the
    business-vault current view. Exercises: metadata DDL, imposed-schema
    parquet ingestion, hash view (with trim transformation), anti-join hub
    load, satellite change detection, current-view window, run ledger."""
    import os

    from mallarddv_spark.api import MallardSparkVault

    dbs = {
        "stg_db": "dvf_stg",
        "dv_db": "dvf_dv",
        "bv_db": "dvf_bv",
        "dm_db": "dvf_dm",
        "metadata_db": "dvf_meta",
    }
    base = _scratch_dir("dvflow_")
    for db in dbs.values():
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        spark.sql(f"CREATE DATABASE {db} LOCATION '{base}/{db}'")

    tables_csv = os.path.join(base, "tables.csv")
    transitions_csv = os.path.join(base, "transitions.csv")
    with open(tables_csv, "w") as fh:
        fh.write(_FLOW_TABLES)
    with open(transitions_csv, "w") as fh:
        fh.write(_FLOW_TRANSITIONS)

    # sha256 mode: the third supported hash algo, gate-exercised end-to-end
    # through the full flow lifecycle (sha1 is golden-pytest-pinned, md5
    # runs in every other dv_* gate query)
    vault = MallardSparkVault(spark, hash_algo="sha256", **dbs)
    errors = vault.init_vault(tables_csv, transitions_csv)
    assert errors == [], errors
    errors = vault.execute_flow(
        "customer",
        "bench",
        file_path=f"{sf}/customer.parquet",
        load_date_overwrite="2025-01-01 00:00:00",
    )
    assert errors == [], errors
    return spark.table("dvf_bv.hsat_customer_details_cv")


O_DV_FLOW = f"""
SELECT {sha256_sql(['c_custkey'])} AS customer_hk,
       timestamp '2025-01-01 00:00:00' AS load_dts,
       false AS del_flag,
       {sha256_sql(['trim(c_name)', 'c_mktsegment', 'c_nationkey'])} AS hash_diff,
       'bench' AS record_source,
       1 AS run_id,
       trim(c_name) AS name,
       c_mktsegment AS segment,
       c_nationkey AS nation_id
FROM customer
"""

REGISTRY["dv_flow_e2e"] = (q_dv_flow_e2e, O_DV_FLOW)

# ---------------------------------------------------------------------------
# temporal joins + full-SQL-surface operators (rollup / set ops / correlated
# subqueries / conditional pivot) — the ad-hoc query surface the reference
# exposed via raw SQL passthrough, plus the as-of join it lacked.
# ---------------------------------------------------------------------------


# micros since epoch for 2024-01-01 00:00:00 and a 3-day window — shared
# constants between the Spark range-join part and its DuckDB oracle
_RJ_BASE_US = 1_704_067_200_000_000
_RJ_WIN_US = 259_200_000_000


def q_asof_purchase_click(spark, sf):
    """Temporal-join suite, tagged union of two parts:

    * ``asof`` — backward as-of join (union-tag-window implementation,
      one shuffle on the key): each purchase matched to the user's
      latest prior click. Oracle: DuckDB's native ASOF LEFT JOIN.
    * ``range`` — KEYLESS point-in-interval join
      (`operators/rangejoin.point_in_interval_join`, bin-bucketed —
      plan-pinned to an equi-join on bin ids, never
      BroadcastNestedLoop): purchases against 20 fixed 3-day calendar
      windows from 2024-01-01 (closed endpoints). Oracle: the plain
      theta join over the same arithmetic windows.
    * ``overlap`` — keyless interval-overlap join
      (`operators/rangejoin.interval_overlap_join`, first-common-bin
      arithmetic dedup): per-user activity spans (min..max event time)
      against the same calendar windows. Oracle: the overlap theta
      join; any duplicate emission from the banding would break the
      row-count match.
    """
    from mallarddv_spark.operators.asof import asof_join
    from mallarddv_spark.operators.rangejoin import (
        interval_overlap_join,
        point_in_interval_join,
    )

    e = _t(spark, sf, "events")
    purchases = e.filter("event_type = 'purchase'").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    clicks = (
        e.filter("event_type = 'click'")
        .groupBy("user_id", F.col("ts").alias("click_ts"))
        .agg(F.max("event_id").alias("click_event_id"))
    )
    iv = spark.range(20).select(
        F.col("id").alias("iv_id"),
        (F.lit(_RJ_BASE_US) + F.col("id") * _RJ_WIN_US).alias("iv_start"),
        (F.lit(_RJ_BASE_US) + (F.col("id") + 1) * _RJ_WIN_US).alias("iv_end"),
    )

    def _p_asof():
        return asof_join(
            purchases,
            clicks,
            on="user_id",
            left_ts="purchase_ts",
            right_ts="click_ts",
            right_payload=["click_event_id"],
        ).select(
            F.lit("asof").alias("part"),
            "purchase_id", "user_id", "purchase_ts",
            F.col("click_event_id").alias("ref_id"),
            F.col("click_ts").alias("ref_ts"),
        )

    def _p_range():
        points = purchases.withColumn(
            "t",
            F.expr(
                "timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01', purchase_ts)"
            ),
        )
        return point_in_interval_join(
            points, iv, "t", "iv_start", "iv_end", bin_width=_RJ_WIN_US
        ).select(
            F.lit("range").alias("part"),
            "purchase_id", "user_id", "purchase_ts",
            F.col("iv_id").alias("ref_id"),
            F.expr("cast(NULL as timestamp_ntz)").alias("ref_ts"),
        )

    def _p_overlap():
        spans = e.groupBy(F.col("user_id").alias("span_user")).agg(
            F.expr(
                "min(timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01', ts))"
            ).alias("span_start"),
            F.expr(
                "max(timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01', ts))"
            ).alias("span_end"),
        )
        return interval_overlap_join(
            spans, iv, "span_start", "span_end", "iv_start", "iv_end",
            bin_width=_RJ_WIN_US,
        ).select(
            F.lit("overlap").alias("part"),
            F.lit(None).cast("long").alias("purchase_id"),
            F.col("span_user").alias("user_id"),
            F.expr("cast(NULL as timestamp_ntz)").alias("purchase_ts"),
            F.col("iv_id").alias("ref_id"),
            F.expr("cast(NULL as timestamp_ntz)").alias("ref_ts"),
        )

    a, r, o = _pooled(_p_asof, _p_range, _p_overlap)
    return a.unionByName(r).unionByName(o)


O_ASOF = f"""
WITH p AS (
    SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
    FROM events WHERE event_type = 'purchase'
),
c AS (
    SELECT user_id, ts AS click_ts, max(event_id) AS click_event_id
    FROM events WHERE event_type = 'click' GROUP BY 1, 2
),
iv AS (
    SELECT j AS iv_id,
           {_RJ_BASE_US} + j * {_RJ_WIN_US} AS iv_start,
           {_RJ_BASE_US} + (j + 1) * {_RJ_WIN_US} AS iv_end
    FROM (SELECT unnest(range(0, 20)) AS j)
)
SELECT 'asof' AS part, p.purchase_id, p.user_id, p.purchase_ts,
       c.click_event_id AS ref_id, c.click_ts AS ref_ts
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.purchase_ts >= c.click_ts
UNION ALL
SELECT 'range' AS part, p.purchase_id, p.user_id, p.purchase_ts,
       iv.iv_id AS ref_id, CAST(NULL AS TIMESTAMP) AS ref_ts
FROM p, iv
WHERE iv.iv_start <= epoch_us(p.purchase_ts) AND epoch_us(p.purchase_ts) <= iv.iv_end
UNION ALL
SELECT 'overlap' AS part, CAST(NULL AS BIGINT) AS purchase_id,
       s.user_id, CAST(NULL AS TIMESTAMP) AS purchase_ts,
       iv.iv_id AS ref_id, CAST(NULL AS TIMESTAMP) AS ref_ts
FROM (SELECT user_id, min(epoch_us(ts)) AS span_start,
             max(epoch_us(ts)) AS span_end
      FROM events GROUP BY user_id) s, iv
WHERE s.span_start <= iv.iv_end AND iv.iv_start <= s.span_end
"""


def q_sql_rollup(spark, sf):
    """GROUP BY ROLLUP subtotals (grouping-set aggregation)."""
    li = _t(spark, sf, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.expr(f"cast(sum(cast(l_quantity as {DEC})) as double)").alias("sum_qty"),
    )


O_SQL_ROLLUP = f"""
SELECT l_returnflag, l_linestatus, count(*) AS n,
       cast(sum(cast(l_quantity as {DEC})) as double) AS sum_qty
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
"""


def q_sql_set_ops(spark, sf):
    """Set operations: customers with orders EXCEPT big-balance customers,
    INTERSECT with BUILDING segment."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    with_orders = o.select(F.col("o_custkey").alias("custkey")).distinct()
    big = c.filter("c_acctbal > 5000").select(F.col("c_custkey").alias("custkey"))
    building = c.filter("c_mktsegment = 'BUILDING'").select(
        F.col("c_custkey").alias("custkey")
    )
    return with_orders.exceptAll(big).distinct().intersect(building)


O_SQL_SETOPS = """
SELECT custkey FROM (
    SELECT DISTINCT o_custkey AS custkey FROM orders
    EXCEPT
    SELECT c_custkey FROM customer WHERE c_acctbal > 5000
)
INTERSECT
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
"""


def q_sql_correlated_exists(spark, sf):
    """Correlated EXISTS / scalar subquery: customers whose every order is
    'F' status, with their order count."""
    spark.read.parquet(f"{sf}/customer.parquet").createOrReplaceTempView(
        "v_customer"
    )
    spark.read.parquet(f"{sf}/orders.parquet").createOrReplaceTempView("v_orders")
    return spark.sql(
        """
        SELECT c_custkey, c_name,
               (SELECT count(*) FROM v_orders o WHERE o.o_custkey = c.c_custkey) AS n_orders
        FROM v_customer c
        WHERE EXISTS (SELECT 1 FROM v_orders o WHERE o.o_custkey = c.c_custkey)
          AND NOT EXISTS (
              SELECT 1 FROM v_orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus <> 'F')
        """
    )


O_SQL_EXISTS = """
SELECT c_custkey, c_name,
       (SELECT count(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n_orders
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
  AND NOT EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus <> 'F')
"""


def q_sql_conditional_pivot(spark, sf):
    """Conditional aggregation pivot: order counts per priority bucket per
    customer segment."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    j = o.join(c, o.o_custkey == c.c_custkey)
    return j.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_orders"),
        F.count(F.when(F.col("o_orderpriority") == "1-URGENT", 1)).alias("n_urgent"),
        F.count(F.when(F.col("o_orderpriority") == "2-HIGH", 1)).alias("n_high"),
        F.count(
            F.when(~F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        ).alias("n_other"),
    )


O_SQL_PIVOT = """
SELECT c_mktsegment, count(*) AS n_orders,
       count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
       count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS n_high,
       count(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT','2-HIGH')) AS n_other
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""

REGISTRY.update(
    {
        "asof_purchase_click": (q_asof_purchase_click, O_ASOF),
        "sql_rollup": (q_sql_rollup, O_SQL_ROLLUP),
        "sql_set_ops": (q_sql_set_ops, O_SQL_SETOPS),
        "sql_correlated_exists": (q_sql_correlated_exists, O_SQL_EXISTS),
        "sql_conditional_pivot": (q_sql_conditional_pivot, O_SQL_PIVOT),
    }
)

# ---------------------------------------------------------------------------
# SQL function-surface coverage: window functions, date/time functions,
# string functions, null semantics — the ad-hoc surface a vault user gets
# through raw SQL passthrough, pinned cross-engine.
# ---------------------------------------------------------------------------


def q_sql_window_suite(spark, sf):
    """Window-function battery per customer: rank, dense_rank, ntile,
    lag/lead, running decimal sum — all with total deterministic order."""
    o = _t(spark, sf, "orders").filter("o_custkey < 50")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.dense_rank().over(w).cast("bigint").alias("drnk"),
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.lag("o_orderkey", 1).over(w).alias("prev_orderkey"),
        F.lead("o_orderkey", 1).over(w).alias("next_orderkey"),
        F.expr(
            f"cast(sum(cast(o_totalprice as {DEC})) over "
            f"(partition by o_custkey order by o_totalprice desc, o_orderkey asc "
            f"rows between unbounded preceding and current row) as double)"
        ).alias("running_total"),
    )


O_SQL_WINDOW = f"""
SELECT o_custkey, o_orderkey,
       rank()       OVER w AS rnk,
       dense_rank() OVER w AS drnk,
       ntile(4)     OVER w AS quartile,
       lag(o_orderkey, 1)  OVER w AS prev_orderkey,
       lead(o_orderkey, 1) OVER w AS next_orderkey,
       cast(sum(cast(o_totalprice as {DEC})) OVER
            (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as double) AS running_total
FROM orders
WHERE o_custkey < 50
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC)
"""


def q_sql_date_functions(spark, sf):
    """Date/time function battery over order dates."""
    o = _t(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("bigint").alias("yr"),
        F.month("o_orderdate").cast("bigint").alias("mo"),
        F.dayofmonth("o_orderdate").cast("bigint").alias("dom"),
        F.quarter("o_orderdate").cast("bigint").alias("qtr"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.last_day("o_orderdate").cast("timestamp").alias("month_end"),
        F.date_format("o_orderdate", "yyyy-MM").alias("ym_str"),
    )


O_SQL_DATE = """
SELECT o_orderkey,
       year(o_orderdate) AS yr,
       month(o_orderdate) AS mo,
       day(o_orderdate) AS dom,
       quarter(o_orderdate) AS qtr,
       cast(date_trunc('month', o_orderdate) as timestamp) AS month_start,
       cast(last_day(o_orderdate) as timestamp) AS month_end,
       strftime(o_orderdate, '%Y-%m') AS ym_str
FROM orders
"""


def q_sql_string_functions(spark, sf):
    """String function battery over part names."""
    p = _t(spark, sf, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("uname"),
        F.substring("p_name", 1, 5).alias("prefix5"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.expr("replace(p_name, ' ', '_')").alias("snake"),
        F.lpad(F.col("p_partkey").cast("string"), 8, "0").alias("padded_key"),
        F.reverse("p_name").alias("rname"),
        F.expr("cast(instr(p_name, 'a') as bigint)").alias("first_a"),
        F.levenshtein(F.col("p_name"), F.col("p_brand")).cast("bigint").alias("lev_to_brand"),
    )


O_SQL_STRING = """
SELECT p_partkey,
       upper(p_name) AS uname,
       substring(p_name, 1, 5) AS prefix5,
       length(p_name) AS name_len,
       replace(p_name, ' ', '_') AS snake,
       lpad(cast(p_partkey as varchar), 8, '0') AS padded_key,
       reverse(p_name) AS rname,
       instr(p_name, 'a') AS first_a,
       levenshtein(p_name, p_brand) AS lev_to_brand
FROM part
"""


def q_sql_null_semantics(spark, sf):
    """NULL-handling semantics: NULLIF-generated NULL group keys, COUNT(col)
    vs COUNT(*), aggregate-over-empty behavior via conditional sums."""
    c = _t(spark, sf, "customer")
    return (
        c.withColumn("seg_or_null", F.expr("nullif(c_mktsegment, 'BUILDING')"))
        .groupBy("seg_or_null")
        .agg(
            F.count("*").alias("n_rows"),
            F.count("seg_or_null").alias("n_nonnull"),
            F.expr(
                "cast(sum(CASE WHEN c_acctbal < -99999 "
                f"THEN cast(c_acctbal as {DEC}) END) as double)"
            ).alias("sum_never"),
            F.expr("coalesce(max(nullif(c_nationkey, c_nationkey)), -1)").alias(
                "coalesced_null"
            ),
        )
    )


O_SQL_NULL = f"""
SELECT nullif(c_mktsegment, 'BUILDING') AS seg_or_null,
       count(*) AS n_rows,
       count(nullif(c_mktsegment, 'BUILDING')) AS n_nonnull,
       cast(sum(CASE WHEN c_acctbal < -99999 THEN cast(c_acctbal as {DEC}) END) as double) AS sum_never,
       coalesce(max(nullif(c_nationkey, c_nationkey)), -1) AS coalesced_null
FROM customer
GROUP BY 1
"""

REGISTRY.update(
    {
        "sql_window_suite": (q_sql_window_suite, O_SQL_WINDOW),
        "sql_date_functions": (q_sql_date_functions, O_SQL_DATE),
        "sql_string_functions": (q_sql_string_functions, O_SQL_STRING),
        "sql_null_semantics": (q_sql_null_semantics, O_SQL_NULL),
    }
)


def q_text_chunking(spark, sf):
    """Training-data chunking: split each document into overlapping
    token-window chunks (window=50, stride=40) — the standard LLM
    preprocessing step, as a pure Catalyst expression (sequence →
    transform → posexplode), no Python."""
    d = _t(spark, sf, "documents")
    toks = F.split(F.trim("text"), _WS)
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.size(toks) - F.lit(1), F.lit(0)),
        F.lit(40),
    )
    chunks = F.transform(
        starts,
        lambda s: F.concat_ws(" ", F.slice(toks, s + 1, 50)),
    )
    out = d.select("doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk_text"))
    return out.withColumn(
        "chunk_tokens",
        F.size(F.split("chunk_text", _WS)).cast("bigint"),
    ).withColumn("chunk_idx", F.col("chunk_idx").cast("bigint"))


O_TEXT_CHUNKING = r"""
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
),
starts AS (
    SELECT doc_id, t,
           generate_series(1, greatest(len(t), 1), 40) AS ss
    FROM toks
),
chunks AS (
    SELECT doc_id,
           list_transform(ss, s -> array_to_string(t[s:least(s+49, len(t))], ' ')) AS cl
    FROM starts
)
SELECT doc_id,
       cast(unnest(generate_series(0, len(cl) - 1)) as bigint) AS chunk_idx,
       unnest(cl) AS chunk_text,
       cast(unnest(list_transform(cl, c -> len(string_split_regex(c, '\s+')))) as bigint) AS chunk_tokens
FROM chunks
"""

REGISTRY["text_chunking"] = (q_text_chunking, O_TEXT_CHUNKING)


def q_sql_cube(spark, sf):
    """GROUP BY CUBE: all grouping-set combinations with exact decimal sums."""
    o = _t(spark, sf, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"),
        F.expr(
            f"cast(round(sum(cast(o_totalprice as {DEC})), 2) as double)"
        ).alias("sum_total"),
    )


O_SQL_CUBE = f"""
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       cast(round(sum(cast(o_totalprice as {DEC})), 2) as double) AS sum_total
FROM orders
GROUP BY CUBE(o_orderstatus, o_orderpriority)
"""


def q_sql_unpivot(spark, sf):
    """Unpivot (wide→long) via stack(): per-part numeric attributes as
    (attribute, value) rows."""
    p = _t(spark, sf, "part")
    return p.selectExpr(
        "p_partkey",
        "stack(2, 'size', cast(p_size as double), "
        "'retailprice', cast(p_retailprice as double)) AS (attribute, value)",
    )


O_SQL_UNPIVOT = """
SELECT p_partkey, attribute, value
FROM (
    SELECT p_partkey, cast(p_size as double) AS size,
           cast(p_retailprice as double) AS retailprice
    FROM part
) UNPIVOT (value FOR attribute IN (size, retailprice))
"""


def q_sql_approx_aggregates(spark, sf):
    """Approximate aggregates: HLL distinct + quantile sketch per segment.

    Sketch internals differ across engines by design, so the sketch VALUES
    are not emitted; instead each approximate aggregate is judged against
    the exact answer computed in the same pass, and the row carries the
    exact values plus ``*_within_*`` verdict booleans. The verdicts are
    deterministic for fixed data+parameters (both sketches are
    deterministic in Spark), and the tolerances carry wide margins over
    the sketches' guarantees (HLL rsd=5%; quantile rank error n/10000),
    so the DuckDB oracle reproduces the whole row in closed form. The
    engine-OWNED sketches (HLL, histogram, KMV, and — since round 11 —
    the merging t-digest over l_quantity) additionally emit their
    estimate VALUES, each replayed exactly, not just verdict-checked."""
    # NOTE (r14): sharing one repartitioned localCheckpoint of the
    # 4-column projection across the nine aggregate families was
    # MEASURED SLOWER (warm 4.8 s -> 7.5-9 s): the per-family pruned
    # scans already run in parallel inside the one noop action, so the
    # checkpoint only serialized a fat materialization in front of
    # them. Keep the independent scans.
    li = _t(spark, sf, "lineitem")

    # The nine aggregate families are independent until the final 3-row
    # join, but their plan CONSTRUCTION is ~2.5 s of serial driver/py4j
    # work — and the t-digest build additionally runs two eager jobs
    # (its distinct-value checkpoint + stats row) at construction time.
    # Build the families from a pool (guide §2.6); every expression is
    # unchanged, only the driver-side construction order moved.
    def _mk_sketches():
        q = F.percentile_approx("l_extendedprice", [0.5, 0.95], 10_000)
        # the DISTINCT aggregate runs in its OWN pass, joined back on the
        # 3-row group key: mixing countDistinct with a sketch aggregate in
        # one groupBy makes Catalyst plan an Expand + per-(group,
        # distinct-value) partial agg, which instantiates a 10k-accuracy
        # quantile sketch per order key — measured 29.8 s vs 2 s for each
        # aggregate alone at sf0.1 (and at 100 TB it would OOM the
        # partial-agg hash map outright).
        return li.groupBy("l_returnflag").agg(
            F.approx_count_distinct("l_orderkey").alias("__hll"),
            F.element_at(q, 1).alias("__p50a"),
            F.element_at(q, 2).alias("__p95a"),
            F.count("*").alias("n"),
        )

    def _mk_exact_cd():
        return li.groupBy("l_returnflag").agg(
            F.countDistinct("l_orderkey").alias("exact_orders")
        )

    def _mk_exact_pct():
        # the exact-percentile verification side is rank-based, NOT
        # Spark's percentile(): the exact aggregate buffers every group
        # value in one ObjectHashAggregate — fine at sf0.1, an OOM at
        # 100 TB in this 3-group shape. A row_number window sorts (and
        # spills) instead of buffering, and the percentile_cont
        # interpolation v_lo + frac * (v_hi - v_lo) reduces to a 2-4-row
        # weighted sum per group.
        w = Window.partitionBy("l_returnflag").orderBy("l_extendedprice")
        ranked = (
            li.select("l_returnflag", "l_extendedprice")
            .withColumn("__rn", F.row_number().over(w))
        )
        grp_n = ranked.groupBy("l_returnflag").agg(F.count("*").alias("__n"))
        jr = ranked.join(F.broadcast(grp_n), "l_returnflag")
        for tag, p in (("50", "0.5"), ("95", "0.95")):
            jr = (
                jr.withColumn(f"__pos{tag}", F.expr(f"(__n - 1) * {p} + 1"))
                .withColumn(
                    f"__lo{tag}",
                    F.expr(f"cast(floor(__pos{tag}) as bigint)"),
                )
                .withColumn(
                    f"__hi{tag}",
                    F.expr(f"cast(ceil(__pos{tag}) as bigint)"),
                )
                .withColumn(
                    f"__w{tag}",
                    F.expr(
                        f"CASE WHEN __rn = __lo{tag} AND __rn = __hi{tag} THEN 1.0d "
                        f"WHEN __rn = __lo{tag} THEN 1.0d - (__pos{tag} - __lo{tag}) "
                        f"WHEN __rn = __hi{tag} THEN __pos{tag} - __lo{tag} "
                        "ELSE 0.0d END"
                    ),
                )
            )
        return (
            jr.filter("__w50 > 0 OR __w95 > 0")
            .groupBy("l_returnflag")
            .agg(
                F.expr(
                    "cast(round(sum(l_extendedprice * __w50), 4) as double)"
                ).alias("p50_exact"),
                F.expr(
                    "cast(round(sum(l_extendedprice * __w95), 4) as double)"
                ).alias("p95_exact"),
            )
        )

    # the engine-OWNED mergeable HLL (functions/sketches.py) in md5 mode:
    # unlike approx_count_distinct's black-box sketch, its registers are
    # a plain DataFrame and the estimate is closed-form, so the oracle
    # replays the VALUE bit-for-bit — not just a tolerance verdict
    from mallarddv_spark.functions import sketches as sk

    def _mk_own():
        return sk.hll_estimate(
            sk.hll_registers(
                li, "l_orderkey", p=12, by=["l_returnflag"], hash_mode="md5"
            ),
            p=12, by=["l_returnflag"],
        ).select(
            "l_returnflag",
            F.col("n_registers").alias("own_hll_registers"),
            F.col("est_distinct").alias("own_hll_est"),
        )

    # ...and the engine-owned mergeable HISTOGRAM quantile sketch, the
    # same value-exact contract: declared range [900, 105000), 1024
    # equi-width integer bins, closed-form interpolation — replays
    # byte-for-byte where KLL/t-digest internals could not
    def _mk_hist():
        hq = sk.hist_quantiles(
            sk.hist_counts(
                li, "l_extendedprice", lo=900.0, hi=105000.0, n_bins=1024,
                by=["l_returnflag"],
            ),
            900.0, 105000.0, 1024, [0.5, 0.95], by=["l_returnflag"],
        )
        return hq.groupBy("l_returnflag").agg(
            F.max(F.when(F.col("p") == 0.5, F.col("est"))).alias("hist_p50"),
            F.max(F.when(F.col("p") == 0.95, F.col("est"))).alias("hist_p95"),
        )

    # ...and the engine-owned KMV bottom-k sketch: distinct estimate AND
    # a range-free median of the distinct order keys from ONE sketch —
    # both closed-form over the kept rows, so the VALUES replay exactly
    def _mk_kmv():
        kmv_sk = sk.kmv_sketch(
            li, "l_orderkey", k=1024, by=["l_returnflag"], hash_mode="md5"
        )
        kmv = sk.kmv_distinct(kmv_sk, k=1024, by=["l_returnflag"]).select(
            "l_returnflag", F.col("est_distinct").alias("own_kmv_est")
        )
        kmv_q = sk.kmv_quantiles(kmv_sk, [0.5], by=["l_returnflag"]).select(
            "l_returnflag", F.col("est").alias("own_kmv_p50")
        )
        return kmv, kmv_q

    # ...and the engine-owned merging T-DIGEST (functions/tdigest.py),
    # completing the sketch family's gate coverage: ONE global digest
    # over l_quantity at delta=10000. l_quantity has ~50 distinct values
    # each carrying ~2% of the weight, while a 10k-delta cluster may
    # hold at most ~2W/10000 = 0.02% mid-stream — so the compress walk
    # provably emits every distinct value as its own centroid (the
    # MERGE branch never fires at any SF) and the digest's centroid set
    # equals the exact (value, count) table. That makes the quantile
    # interpolation (midpoint rank walk + linear interpolation, clamped
    # to the exact min/max) fully closed-form in SQL — the VALUES
    # replay, not just a tolerance verdict. The merge branch itself is
    # differential-tested in tests/test_tdigest.py (it cannot be
    # SQL-replayed: the compress fold is inherently sequential).
    from mallarddv_spark.functions.tdigest import (
        tdigest_build,
        tdigest_quantiles,
    )

    def _mk_td():
        td_c, td_p = tdigest_build(li, "l_quantity", delta=10_000)
        return tdigest_quantiles(td_c, td_p, [0.5, 0.95]).groupBy().agg(
            F.round(
                F.max(F.when(F.col("p") == 0.5, F.col("est"))), 6
            ).alias("own_td_p50"),
            F.round(
                F.max(F.when(F.col("p") == 0.95, F.col("est"))), 6
            ).alias("own_td_p95"),
        )

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=7) as pool:
        f_td = pool.submit(_mk_td)  # first: runs two eager jobs
        f_sk = pool.submit(_mk_sketches)
        f_cd = pool.submit(_mk_exact_cd)
        f_pct = pool.submit(_mk_exact_pct)
        f_own = pool.submit(_mk_own)
        f_hist = pool.submit(_mk_hist)
        f_kmv = pool.submit(_mk_kmv)
        sketches = f_sk.result()
        exact_cd = f_cd.result()
        exact_pct = f_pct.result()
        own = f_own.result()
        hist = f_hist.result()
        kmv, kmv_q = f_kmv.result()
        td = f_td.result()
    agg = (
        sketches.join(F.broadcast(exact_cd), "l_returnflag")
        .join(F.broadcast(exact_pct), "l_returnflag")
        .join(F.broadcast(own), "l_returnflag")
        .join(F.broadcast(hist), "l_returnflag")
        .join(F.broadcast(kmv), "l_returnflag")
        .join(F.broadcast(kmv_q), "l_returnflag")
        .crossJoin(F.broadcast(td))
    )
    return agg.select(
        "l_returnflag",
        "n",
        "exact_orders",
        "p50_exact",
        "p95_exact",
        "own_hll_registers",
        "own_hll_est",
        "hist_p50",
        "hist_p95",
        "own_kmv_est",
        "own_kmv_p50",
        "own_td_p50",
        "own_td_p95",
        (
            F.abs(F.col("own_kmv_est") - F.col("exact_orders"))
            <= F.col("exact_orders") * F.lit(0.10)
        ).alias("own_kmv_within_10pct"),
        (
            F.abs(F.col("__hll") - F.col("exact_orders"))
            <= F.col("exact_orders") * F.lit(0.15)
        ).alias("hll_within_15pct"),
        (
            F.abs(F.col("own_hll_est") - F.col("exact_orders"))
            <= F.col("exact_orders") * F.lit(0.05)
        ).alias("own_hll_within_5pct"),
        (
            F.abs(F.col("hist_p50") - F.col("p50_exact"))
            <= F.abs(F.col("p50_exact")) * F.lit(0.01)
        ).alias("hist_p50_within_1pct"),
        (
            F.abs(F.col("hist_p95") - F.col("p95_exact"))
            <= F.abs(F.col("p95_exact")) * F.lit(0.01)
        ).alias("hist_p95_within_1pct"),
        (
            F.abs(F.col("__p50a") - F.col("p50_exact"))
            <= F.abs(F.col("p50_exact")) * F.lit(0.01)
        ).alias("p50_within_1pct"),
        (
            F.abs(F.col("__p95a") - F.col("p95_exact"))
            <= F.abs(F.col("p95_exact")) * F.lit(0.01)
        ).alias("p95_within_1pct"),
    )


def _o_sql_approx() -> str:
    # the own-HLL pipeline mirrored in closed form: same md5→60-bit hash
    # convention, integer-exact harmonic sum (each 2^-rho term scaled by
    # 2^49 is an integer), identical operation order in the one final
    # division — the estimate VALUE replays bit-for-bit
    m = 4096
    alpha = 0.7213 / (1.0 + 1.079 / m)
    q2_48, q2_49 = 2 ** 48, 2 ** 49
    raw = (
        f"({alpha!r} * cast({m} as double) * cast({m} as double)"
        f" * cast({q2_49} as double)"
        f" / cast(s + ({m} - n_registers) * {q2_49} as double))"
    )
    hw = (105000.0 - 900.0) / 1024
    return f"""
WITH hh AS (
  SELECT l_returnflag,
         (('0x' || substr(md5(cast(l_orderkey as varchar)),1,15))::bigint) AS x
  FROM lineitem WHERE l_orderkey IS NOT NULL
),
hb AS (
  SELECT l_returnflag,
         CASE WHEN cast(l_extendedprice as double) < 900.0 THEN -1
              WHEN cast(l_extendedprice as double) >= 105000.0 THEN 1024
              ELSE least(cast(floor((cast(l_extendedprice as double) - 900.0)
                                    / {hw!r}) as int), 1023)
         END AS bin,
         count(*) AS cnt
  FROM lineitem WHERE l_extendedprice IS NOT NULL
  GROUP BY 1, 2
),
hcum AS (
  SELECT *, sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY bin
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS cum
  FROM hb
),
hcum2 AS (SELECT *, cum - cnt AS before FROM hcum),
htot AS (SELECT l_returnflag, sum(cnt) AS hn FROM hb GROUP BY 1),
hp(p) AS (VALUES (cast(0.5 as double)), (cast(0.95 as double))),
hj AS (
  SELECT c.l_returnflag, p.p, min(c.bin) AS bin
  FROM hcum2 c JOIN htot t USING (l_returnflag), hp p
  WHERE p.p * cast(t.hn as double) <= c.cum OR c.cum = t.hn
  GROUP BY 1, 2
),
hqq AS (
  SELECT j.l_returnflag, j.p,
    round(least(greatest(
      CASE WHEN c.bin < 0 THEN 900.0
           WHEN c.bin >= 1024 THEN 105000.0
           ELSE 900.0 + (cast(c.bin as double)
                + (j.p * cast(t.hn as double) - cast(c.before as double))
                  / cast(c.cnt as double)) * {hw!r}
      END, 900.0), 105000.0), 6) AS est
  FROM hj j
  JOIN hcum2 c ON c.l_returnflag = j.l_returnflag AND c.bin = j.bin
  JOIN htot t ON t.l_returnflag = j.l_returnflag
),
hpv AS (
  SELECT l_returnflag,
         max(CASE WHEN p = 0.5 THEN est END) AS hist_p50,
         max(CASE WHEN p = 0.95 THEN est END) AS hist_p95
  FROM hqq GROUP BY 1
),
hregs AS (
  SELECT l_returnflag, x // {q2_48} AS bucket,
         max(CASE WHEN x % {q2_48} > 0
                  THEN 48 - length(bin(x % {q2_48})) + 1 ELSE 49 END) AS rho
  FROM hh GROUP BY 1, 2
),
hagg AS (
  SELECT l_returnflag, count(*) AS n_registers,
         sum(cast(pow(cast(2 as double), 49 - rho) as bigint)) AS s
  FROM hregs GROUP BY 1
),
hest AS (
  SELECT l_returnflag, n_registers,
         round(CASE WHEN {raw} <= {2.5 * m!r} AND ({m} - n_registers) > 0
               THEN cast({m} as double)
                    * ln(cast({m} as double)
                         / cast({m} - n_registers as double))
               ELSE {raw} END, 4) AS est
  FROM hagg
),
kd AS (
  SELECT DISTINCT l_returnflag, cast(l_orderkey as varchar) AS val
  FROM lineitem WHERE l_orderkey IS NOT NULL
),
kr AS (
  SELECT l_returnflag, val,
         (('0x' || substr(md5(val),1,15))::bigint) AS h,
         row_number() OVER (
           PARTITION BY l_returnflag
           ORDER BY (('0x' || substr(md5(val),1,15))::bigint), val) AS rnk
  FROM kd
),
ks AS (SELECT * FROM kr WHERE rnk <= 1024),
kest AS (
  SELECT l_returnflag,
         CASE WHEN count(*) < 1024 THEN round(cast(count(*) as double), 4)
              ELSE round(1023.0 * cast(1152921504606846976 as double)
                         / cast(max(h) as double), 4)
         END AS kmv_est
  FROM ks GROUP BY 1
),
kvr AS (
  SELECT *, row_number() OVER (PARTITION BY l_returnflag
                               ORDER BY cast(val as double), val) AS vr,
            count(*) OVER (PARTITION BY l_returnflag) AS kn
  FROM ks
),
kq AS (
  SELECT l_returnflag, round(cast(val as double), 6) AS kmv_p50
  FROM kvr WHERE vr = greatest(1, cast(ceil(0.5 * kn) as bigint))
),
td_pts AS (
  SELECT cast(l_quantity as double) AS v,
         cast(count(*) as double) AS w
  FROM lineitem WHERE l_quantity IS NOT NULL
  GROUP BY 1
),
td_tot AS (SELECT sum(w) AS tw, min(v) AS lo, max(v) AS hi FROM td_pts),
td_mid AS (
  SELECT v, sum(w) OVER (ORDER BY v, w
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            - w / 2.0 AS mid
  FROM td_pts
),
td_q(p) AS (VALUES (cast(0.5 as double)), (cast(0.95 as double))),
td_lo AS (
  SELECT q.p, max_by(m.v, m.mid) AS lo_val, max(m.mid) AS lo_mid
  FROM td_q q JOIN td_mid m
    ON m.mid <= q.p * (SELECT tw FROM td_tot)
  GROUP BY q.p
),
td_hi AS (
  SELECT q.p, min_by(m.v, m.mid) AS hi_val, min(m.mid) AS hi_mid
  FROM td_q q JOIN td_mid m
    ON m.mid > q.p * (SELECT tw FROM td_tot)
  GROUP BY q.p
),
td_est AS (
  SELECT q.p,
    round(least(greatest(
      coalesce(l.lo_val, t.lo)
      + (coalesce(h.hi_val, t.hi) - coalesce(l.lo_val, t.lo))
        * CASE WHEN coalesce(h.hi_mid, t.tw) > coalesce(l.lo_mid, 0.0)
               THEN (q.p * t.tw - coalesce(l.lo_mid, 0.0))
                    / (coalesce(h.hi_mid, t.tw) - coalesce(l.lo_mid, 0.0))
               ELSE 0.0 END,
      t.lo), t.hi), 6) AS est
  FROM td_q q
  CROSS JOIN td_tot t
  LEFT JOIN td_lo l ON l.p = q.p
  LEFT JOIN td_hi h ON h.p = q.p
),
td_pv AS (
  SELECT max(CASE WHEN p = 0.5 THEN est END) AS own_td_p50,
         max(CASE WHEN p = 0.95 THEN est END) AS own_td_p95
  FROM td_est
),
base AS (
  SELECT l_returnflag,
         count(*) AS n,
         count(DISTINCT l_orderkey) AS exact_orders,
         cast(round(quantile_cont(l_extendedprice, 0.5), 4) as double) AS p50_exact,
         cast(round(quantile_cont(l_extendedprice, 0.95), 4) as double) AS p95_exact
  FROM lineitem
  GROUP BY l_returnflag
)
SELECT b.l_returnflag, b.n, b.exact_orders, b.p50_exact, b.p95_exact,
       h.n_registers AS own_hll_registers,
       h.est AS own_hll_est,
       v.hist_p50,
       v.hist_p95,
       e.kmv_est AS own_kmv_est,
       q.kmv_p50 AS own_kmv_p50,
       td.own_td_p50,
       td.own_td_p95,
       abs(e.kmv_est - b.exact_orders) <= b.exact_orders * 0.10
           AS own_kmv_within_10pct,
       TRUE AS hll_within_15pct,
       abs(h.est - b.exact_orders) <= b.exact_orders * 0.05
           AS own_hll_within_5pct,
       abs(v.hist_p50 - b.p50_exact) <= abs(b.p50_exact) * 0.01
           AS hist_p50_within_1pct,
       abs(v.hist_p95 - b.p95_exact) <= abs(b.p95_exact) * 0.01
           AS hist_p95_within_1pct,
       TRUE AS p50_within_1pct,
       TRUE AS p95_within_1pct
FROM base b JOIN hest h USING (l_returnflag)
JOIN hpv v USING (l_returnflag)
JOIN kest e USING (l_returnflag)
JOIN kq q USING (l_returnflag)
CROSS JOIN td_pv td
"""


O_SQL_APPROX = _o_sql_approx()


REGISTRY.update(
    {
        "sql_cube": (q_sql_cube, O_SQL_CUBE),
        "sql_unpivot": (q_sql_unpivot, O_SQL_UNPIVOT),
        "sql_approx_aggregates": (q_sql_approx_aggregates, O_SQL_APPROX),
    }
)


def q_dv_bridge_order_customer(spark, sf):
    """Bridge table: flatten link rows with their member hubs' business keys
    and the customer's latest state (the standard DV mart accelerator —
    link ⋈ hub ⋈ hub ⋈ latest-sat, all on uniform hash keys)."""
    o = _t(spark, sf, "orders")
    c = _t(spark, sf, "customer")
    link = o.select(
        _mhash("o_orderkey", "o_custkey").alias("order_customer_hk"),
        _mhash("o_orderkey").alias("order_hk"),
        _mhash("o_custkey").alias("customer_hk"),
        F.col("o_orderkey").alias("order_bk"),
        F.col("o_custkey").alias("customer_bk"),
    ).distinct()
    cust_state = c.select(
        _mhash("c_custkey").alias("customer_hk"),
        F.trim("c_name").alias("customer_name"),
        F.col("c_mktsegment").alias("segment"),
    )
    return link.join(cust_state, on="customer_hk", how="left")


O_DV_BRIDGE = f"""
WITH link AS (
    SELECT DISTINCT {md5_sql(['o_orderkey', 'o_custkey'])} AS order_customer_hk,
           {md5_sql(['o_orderkey'])} AS order_hk,
           {md5_sql(['o_custkey'])} AS customer_hk,
           o_orderkey AS order_bk, o_custkey AS customer_bk
    FROM orders
),
cust AS (
    SELECT {md5_sql(['c_custkey'])} AS customer_hk,
           trim(c_name) AS customer_name, c_mktsegment AS segment
    FROM customer
)
SELECT l.order_customer_hk, l.order_hk, l.customer_hk,
       l.order_bk, l.customer_bk, c.customer_name, c.segment
FROM link l LEFT OUTER JOIN cust c ON l.customer_hk = c.customer_hk
"""

REGISTRY["dv_bridge_order_customer"] = (q_dv_bridge_order_customer, O_DV_BRIDGE)

# ---------------------------------------------------------------------------
# engine macro-benchmark: the full fact-table flow (3 hubs, a 3-leg link
# with degenerate key, a link satellite) over ALL of lineitem.
# ---------------------------------------------------------------------------

_LI_TABLES = """base_name,rel_type,column_name,column_type,column_position,mapping
lineitem,stg,l_orderkey,BIGINT,1,c
lineitem,stg,l_partkey,BIGINT,2,c
lineitem,stg,l_suppkey,BIGINT,3,c
lineitem,stg,l_linenumber,INTEGER,4,c
lineitem,stg,l_quantity,DOUBLE,5,c
lineitem,stg,l_extendedprice,DOUBLE,6,c
lineitem,stg,l_discount,DOUBLE,7,c
lineitem,stg,l_tax,DOUBLE,8,c
lineitem,stg,l_returnflag,VARCHAR,9,c
lineitem,stg,l_linestatus,VARCHAR,10,c
lineitem,stg,l_shipdate,TIMESTAMP,11,c
order,hub,l_orderkey,BIGINT,1,bk
part,hub,l_partkey,BIGINT,1,bk
supplier,hub,l_suppkey,BIGINT,1,bk
order_part_supplier,link,order,,1,ll
order_part_supplier,link,part,,2,ll
order_part_supplier,link,supplier,,3,ll
order_part_supplier,link,l_linenumber,INTEGER,4,dk
ops_details,lsat,order_part_supplier,,0,hk
ops_details,lsat,l_returnflag,VARCHAR,1,f
ops_details,lsat,l_linestatus,VARCHAR,2,f
ops_details,lsat,l_shipdate,TIMESTAMP,3,f
"""

_LI_TRANSITIONS = """source_table,source_field,target_table,target_field,group_name,position,raw,transformation,transfer_type
lineitem,l_orderkey,hub_order,l_orderkey_bk,order,1,false,,bk
lineitem,l_partkey,hub_part,l_partkey_bk,part,1,false,,bk
lineitem,l_suppkey,hub_supplier,l_suppkey_bk,supplier,1,false,,bk
lineitem,order,link_order_part_supplier,order_hk,ops,1,false,,ll
lineitem,part,link_order_part_supplier,part_hk,ops,2,false,,ll
lineitem,supplier,link_order_part_supplier,supplier_hk,ops,3,false,,ll
lineitem,l_linenumber,link_order_part_supplier,l_linenumber_dk,ops,4,false,,dk
lineitem,ops_hk,lsat_ops_details,order_part_supplier,ops_d,0,false,,sat_delta
lineitem,l_returnflag,lsat_ops_details,l_returnflag,ops_d,1,false,,f
lineitem,l_linestatus,lsat_ops_details,l_linestatus,ops_d,2,false,,f
lineitem,l_shipdate,lsat_ops_details,l_shipdate,ops_d,3,false,,f
"""


def q_dv_flow_lineitem(spark, sf):
    """Engine macro-benchmark: ingest the WHOLE lineitem fact table through
    the real vault (md5 mode) — 3 hub anti-join loads, a 3-leg link load
    with degenerate key (link-hash expansion over 3 hub groups), and a
    satellite load with change detection — then return the satellite
    current view. The oracle predicts the result in closed form."""
    import os

    from mallarddv_spark.api import MallardSparkVault

    dbs = {
        "stg_db": "dvl_stg",
        "dv_db": "dvl_dv",
        "bv_db": "dvl_bv",
        "dm_db": "dvl_dm",
        "metadata_db": "dvl_meta",
    }
    base = _scratch_dir("dvlflow_")
    for db in dbs.values():
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
        spark.sql(f"CREATE DATABASE {db} LOCATION '{base}/{db}'")
    tables_csv = os.path.join(base, "tables.csv")
    transitions_csv = os.path.join(base, "transitions.csv")
    with open(tables_csv, "w") as fh:
        fh.write(_LI_TABLES)
    with open(transitions_csv, "w") as fh:
        fh.write(_LI_TRANSITIONS)

    vault = MallardSparkVault(spark, hash_algo="md5", **dbs)
    errors = vault.init_vault(tables_csv, transitions_csv)
    assert errors == [], errors
    errors = vault.execute_flow(
        "lineitem",
        "bench",
        file_path=f"{sf}/lineitem.parquet",
        load_date_overwrite="2025-01-01 00:00:00",
    )
    assert errors == [], errors
    # return the satellite HISTORY, not the current view: the synthetic data
    # contains link-key collisions with differing payloads, whose tied-latest
    # pick in a current view is inherently ambiguous; the inserted history
    # is deterministic (all distinct versions).
    return spark.table("dvl_dv.lsat_ops_details")


_LI_HK = md5_sql(["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"])
O_DV_FLOW_LINEITEM = f"""
SELECT DISTINCT {_LI_HK} AS order_part_supplier_hk,
       timestamp '2025-01-01 00:00:00' AS load_dts,
       false AS del_flag,
       {md5_sql(["l_returnflag", "l_linestatus", "l_shipdate"])} AS hash_diff,
       'bench' AS record_source,
       1 AS run_id,
       l_returnflag, l_linestatus, l_shipdate
FROM lineitem
"""

REGISTRY["dv_flow_lineitem"] = (q_dv_flow_lineitem, O_DV_FLOW_LINEITEM)


def q_sql_array_agg(spark, sf):
    """Ordered array aggregation + string aggregation per nation (order
    pinned by sorting so both engines agree exactly)."""
    c = _t(spark, sf, "customer")
    return c.groupBy("c_nationkey").agg(
        F.sort_array(F.collect_list("c_custkey")).alias("custkeys"),
        F.concat_ws(
            ",", F.transform(F.sort_array(F.collect_list("c_custkey")), lambda x: x.cast("string"))
        ).alias("custkey_csv"),
        F.count("*").alias("n"),
    )


O_SQL_ARRAY_AGG = """
SELECT c_nationkey,
       list_sort(list(c_custkey)) AS custkeys,
       array_to_string(list_sort(list(c_custkey)), ',') AS custkey_csv,
       count(*) AS n
FROM customer
GROUP BY c_nationkey
"""


def q_sql_range_frame(spark, sf):
    """RANGE window frame: for each order, count of the customer's orders
    within ±30 days (value-range frame, not row frame)."""
    o = _t(spark, sf, "orders")
    return o.selectExpr(
        "o_orderkey",
        "o_custkey",
        # parquet NTZ timestamps can't cast straight to long; go via
        # session-TZ timestamp (UTC) so epoch seconds match DuckDB's epoch()
        "count(*) OVER (PARTITION BY o_custkey ORDER BY cast(cast(o_orderdate as timestamp) as long) "
        "RANGE BETWEEN 2592000 PRECEDING AND 2592000 FOLLOWING) AS n_nearby_orders",
    )


O_SQL_RANGE_FRAME = """
SELECT o_orderkey, o_custkey,
       count(*) OVER (PARTITION BY o_custkey ORDER BY epoch(o_orderdate)
       RANGE BETWEEN 2592000 PRECEDING AND 2592000 FOLLOWING) AS n_nearby_orders
FROM orders
"""


def q_sql_exact_percentile(spark, sf):
    """Exact interpolated percentiles (percentile_cont semantics) per
    return flag — deterministic, unlike the sketch-based approx variant."""
    li = _t(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("cast(round(percentile(l_quantity, 0.5), 4) as double)").alias("p50_qty"),
        F.expr("cast(round(percentile(l_extendedprice, 0.9), 4) as double)").alias(
            "p90_price"
        ),
        F.count("*").alias("n"),
    )


O_SQL_PERCENTILE = """
SELECT l_returnflag,
       cast(round(quantile_cont(l_quantity, 0.5), 4) as double) AS p50_qty,
       cast(round(quantile_cont(l_extendedprice, 0.9), 4) as double) AS p90_price,
       count(*) AS n
FROM lineitem
GROUP BY l_returnflag
"""

REGISTRY.update(
    {
        "sql_array_agg": (q_sql_array_agg, O_SQL_ARRAY_AGG),
        "sql_range_frame": (q_sql_range_frame, O_SQL_RANGE_FRAME),
        "sql_exact_percentile": (q_sql_exact_percentile, O_SQL_PERCENTILE),
    }
)


def q_sql_json_extract(spark, sf):
    """Proper JSON parsing of the events props column (from_json /
    json_extract — not the regexp fallback): per-user JSON-field stats."""
    e = _t(spark, sf, "events")
    k = F.from_json("props", "k int").getField("k")
    return (
        e.select("user_id", k.alias("k"))
        .groupBy("user_id")
        .agg(
            F.count("k").alias("n_with_k"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.countDistinct("k").alias("n_distinct_k"),
        )
    )


O_SQL_JSON = """
SELECT user_id,
       count(k) AS n_with_k,
       cast(sum(k) as bigint) AS sum_k,
       count(DISTINCT k) AS n_distinct_k
FROM (
    SELECT user_id, cast(json_extract_string(props, '$.k') as int) AS k
    FROM events
) x
GROUP BY user_id
"""

REGISTRY["sql_json_extract"] = (q_sql_json_extract, O_SQL_JSON)


def q_sql_variant_extract(spark, sf):
    """VARIANT semi-structured path (functions/semistructured.shred_variant):
    the props payload parses ONCE into Spark 4's VARIANT and the typed
    field shreds into a real column — per-user stats must match DuckDB's
    json_extract in closed form. Complements sql_json_extract (the
    string-JSON path) with the lakehouse-native one."""
    from mallarddv_spark.functions.semistructured import shred_variant

    e = _t(spark, sf, "events")
    shredded = shred_variant(e, "props", {"k": ("$.k", "int")}, variant_col=None)
    return shredded.groupBy("user_id").agg(
        F.count("k").alias("n_with_k"),
        F.sum("k").cast("bigint").alias("sum_k"),
        F.max("k").cast("bigint").alias("max_k"),
        F.min("k").cast("bigint").alias("min_k"),
    )


O_SQL_VARIANT = """
SELECT user_id,
       count(k) AS n_with_k,
       cast(sum(k) as bigint) AS sum_k,
       cast(max(k) as bigint) AS max_k,
       cast(min(k) as bigint) AS min_k
FROM (
    SELECT user_id, cast(json_extract_string(props, '$.k') as int) AS k
    FROM events
) x
GROUP BY user_id
"""

REGISTRY["sql_variant_extract"] = (q_sql_variant_extract, O_SQL_VARIANT)




# ---------------------------------------------------------------------------
# corpus curation: decontamination, PII, splits, sampling, vocabulary
# ---------------------------------------------------------------------------


def q_text_decontaminate(spark, sf):
    """Benchmark decontamination (GPT-3-style n-gram overlap): every 50th
    document plays the eval set; training docs are flagged when they share
    any word-5-gram with it. Benchmark shingles broadcast; one shuffle."""
    from mallarddv_spark.operators.curation import decontaminate

    d = _t(spark, sf, "documents")
    bench = d.filter(F.pmod("doc_id", F.lit(50)) == 0)
    train = d.filter(F.pmod("doc_id", F.lit(50)) != 0)
    return decontaminate(train, bench, "doc_id", "text", shingle_size=5)


O_TEXT_DECON = r"""
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
),
sh AS (
    SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(t) - 4),
                      i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' '
                           || t[i+3] || ' ' || t[i+4])) AS shingle
        FROM toks WHERE len(t) >= 5
    ) s
),
be AS (SELECT doc_id AS bench_id, shingle FROM sh WHERE doc_id % 50 = 0),
tr AS (SELECT * FROM sh WHERE doc_id % 50 <> 0),
hits AS (
    SELECT tr.doc_id,
           count(DISTINCT tr.shingle) AS n_hit_shingles,
           count(DISTINCT be.bench_id) AS n_bench_docs
    FROM tr JOIN be USING (shingle)
    GROUP BY 1
)
SELECT d.doc_id,
       coalesce(n_hit_shingles, 0) AS n_hit_shingles,
       coalesce(n_bench_docs, 0) AS n_bench_docs,
       coalesce(n_hit_shingles, 0) > 0 AS contaminated
FROM (SELECT doc_id FROM documents WHERE doc_id % 50 <> 0) d
LEFT JOIN hits USING (doc_id)
"""


def q_text_pii_redact(spark, sf):
    """PII scan + redaction over synthetic PII appended to each document
    (the corpus itself is clean, so matches are injected deterministically
    from doc_id). Counts per kind + fingerprint of the redacted text; all
    regexp projections, zero shuffle."""
    from mallarddv_spark.operators.curation import pii_redact, pii_scan

    d = _t(spark, sf, "documents")
    injected = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" Contact: user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com ip 10.0."),
            F.pmod("doc_id", F.lit(256)).cast("string"),
            F.lit(".17 ssn 123-45-6789 tel 555-867-5309"
                  " card 4111-1111-1111-1111 see https://ex.com/p?q=1&r=2."),
        ).alias("text"),
    )
    out = pii_redact(pii_scan(injected, "text"), "text")
    return out.select(
        "doc_id",
        F.col("pii_n_email").cast("bigint").alias("pii_n_email"),
        F.col("pii_n_ipv4").cast("bigint").alias("pii_n_ipv4"),
        F.col("pii_n_ssn").cast("bigint").alias("pii_n_ssn"),
        F.col("pii_n_phone").cast("bigint").alias("pii_n_phone"),
        F.col("pii_n_credit_card").cast("bigint").alias("pii_n_credit_card"),
        F.col("pii_n_url").cast("bigint").alias("pii_n_url"),
        F.col("pii_total").cast("bigint").alias("pii_total"),
        F.md5("text_redacted").alias("redacted_fp"),
        F.length("text_redacted").cast("bigint").alias("redacted_len"),
    )


O_TEXT_PII = r"""
WITH inj AS (
    SELECT doc_id,
           text || ' Contact: user' || cast(doc_id AS varchar)
                || '@example.com ip 10.0.' || cast(doc_id % 256 AS varchar)
                || '.17 ssn 123-45-6789 tel 555-867-5309'
                || ' card 4111-1111-1111-1111 see https://ex.com/p?q=1&r=2.' AS text
    FROM documents
),
red AS (
    SELECT doc_id, text,
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
                     '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IPV4]', 'g'),
                   '\b\d{3}-\d{2}-\d{4}\b', '[SSN]', 'g'),
                 '\b\+?\d{3}[-. ]\d{3}[-. ]\d{4}\b', '[PHONE]', 'g'),
               '\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b', '[CREDIT_CARD]', 'g'),
             'https?://[A-Za-z0-9./_%#?&=+-]+', '[URL]', 'g') AS redacted
    FROM inj
)
SELECT doc_id,
       len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS pii_n_email,
       len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS pii_n_ipv4,
       len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b')) AS pii_n_ssn,
       len(regexp_extract_all(text, '\b\+?\d{3}[-. ]\d{3}[-. ]\d{4}\b')) AS pii_n_phone,
       len(regexp_extract_all(text, '\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b')) AS pii_n_credit_card,
       len(regexp_extract_all(text, 'https?://[A-Za-z0-9./_%#?&=+-]+')) AS pii_n_url,
       len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
         + len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
         + len(regexp_extract_all(text, '\b\d{3}-\d{2}-\d{4}\b'))
         + len(regexp_extract_all(text, '\b\+?\d{3}[-. ]\d{3}[-. ]\d{4}\b'))
         + len(regexp_extract_all(text, '\b\d{4}[- ]\d{4}[- ]\d{4}[- ]\d{4}\b'))
         + len(regexp_extract_all(text, 'https?://[A-Za-z0-9./_%#?&=+-]+')) AS pii_total,
       md5(redacted) AS redacted_fp,
       length(redacted) AS redacted_len
FROM red
"""


def q_text_split_assign(spark, sf):
    """Deterministic 80/10/10 train/val/test assignment by salted md5
    bucket — stable across runs/engines/corpus growth, projection-only."""
    from mallarddv_spark.operators.curation import split_assign

    d = _t(spark, sf, "documents")
    return split_assign(d, "doc_id").select("doc_id", "split", "split_bucket")


O_TEXT_SPLIT = """
SELECT doc_id,
       CASE WHEN b < 'cccd' THEN 'train'
            WHEN b < 'e666' THEN 'val'
            ELSE 'test' END AS split,
       b AS split_bucket
FROM (
    SELECT doc_id,
           substr(md5('split-v1' || cast(doc_id AS varchar)), 1, 4) AS b
    FROM documents
)
"""


def q_text_stratified_sample(spark, sf):
    """Domain-mixing downsample: four synthetic domains with per-domain
    keep rates (100/50/25/12.5%), applied as a deterministic hash filter
    — reproducible scan+filter, no shuffle, no RNG."""
    from mallarddv_spark.operators.curation import stratified_sample

    d = _t(spark, sf, "documents")
    m = F.pmod("doc_id", F.lit(4))
    dom = (
        F.when(m == 0, "books")
        .when(m == 1, "web")
        .when(m == 2, "code")
        .otherwise("forums")
    )
    rates = {"books": 1.0, "web": 0.5, "code": 0.25, "forums": 0.125}
    out = stratified_sample(d.withColumn("domain", dom), "domain", rates, "doc_id")
    return out.select("doc_id", "domain", "sample_bucket")


O_TEXT_STRAT = """
WITH d AS (
    SELECT doc_id,
           CASE doc_id % 4 WHEN 0 THEN 'books' WHEN 1 THEN 'web'
                WHEN 2 THEN 'code' ELSE 'forums' END AS domain,
           substr(md5('sample-v1' || cast(doc_id AS varchar)), 1, 4) AS sample_bucket
    FROM documents
)
SELECT doc_id, domain, sample_bucket FROM d
WHERE sample_bucket < CASE domain WHEN 'books' THEN 'g' WHEN 'web' THEN '8000'
                                  WHEN 'code' THEN '4000' ELSE '2000' END
"""


def q_text_vocab_topk(spark, sf, vocab=None):
    """Top-100 vocabulary by term frequency with document frequency —
    aggregate first (map-side combine), rank the small result.
    ``vocab=`` injects a shared precomputed `curation.vocabulary` frame
    (suite-level fusion; values unchanged)."""
    from mallarddv_spark.operators.curation import vocab_topk

    v = vocab_topk(_t(spark, sf, "documents"), "text", k=100, vocab=vocab)
    return v.select(
        F.col("rank").cast("bigint").alias("rnk"), "word", "tf", "df"
    )


O_TEXT_VOCAB = r"""
WITH w AS (
    SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS word
    FROM documents
),
tf AS (SELECT word, count(*) AS tf FROM w WHERE word <> '' GROUP BY 1),
dw AS (SELECT DISTINCT doc_id, word FROM w WHERE word <> ''),
dfq AS (SELECT word, count(*) AS df FROM dw GROUP BY 1),
r AS (
    SELECT row_number() OVER (ORDER BY tf.tf DESC, tf.word) AS rnk,
           tf.word, tf.tf, dfq.df
    FROM tf JOIN dfq USING (word)
)
SELECT rnk, word, tf, df FROM r WHERE rnk <= 100
"""


def q_text_rarity_score(spark, sf, vocab=None):
    """Corpus-frequency rarity scoring (integer-exact perplexity stand-in):
    per-document sum/mean of each token's corpus term frequency. Vocab is
    built once and broadcast back; exact bigint sums keep it hash-stable.
    ``vocab=`` injects a shared precomputed vocabulary frame."""
    from mallarddv_spark.operators.curation import doc_rarity

    out = doc_rarity(_t(spark, sf, "documents"), "doc_id", "text", vocab=vocab)
    return out.select(
        "doc_id",
        "n_tokens",
        F.col("sum_tf").cast("bigint").alias("sum_tf"),
        "mean_tf",
    )


O_TEXT_RARITY = r"""
WITH w AS (
    SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS word
    FROM documents
),
wf AS (SELECT * FROM w WHERE word <> ''),
tf AS (SELECT word, count(*) AS tf FROM wf GROUP BY 1),
j AS (SELECT wf.doc_id, tf.tf FROM wf JOIN tf USING (word))
SELECT doc_id,
       count(*) AS n_tokens,
       cast(sum(tf) AS bigint) AS sum_tf,
       round(cast(sum(tf) AS double) / count(*), 6) AS mean_tf
FROM j GROUP BY 1
"""


def q_text_bigram_lm(spark, sf, lm=None):
    """CCNet-style fluency scoring (`operators/textops.train_bigram_lm` /
    `score_bigram_logprob`): a bigram LM is trained on the even-id half
    of the corpus and scores the odd-id half, so both the seen-bigram
    estimate and the stupid-backoff branch are live in the gate (the OOV
    floor branch is pytest-covered — the halves share the vocabulary).
    Per-bigram log-probs are snapped to a 1e-10 grid and summed in
    integer space, making the mean independent of partition merge order
    — the property that lets DuckDB replay it bit-for-bit."""
    from mallarddv_spark.operators.textops import (
        score_bigram_logprob,
        train_bigram_lm,
    )

    d = _t(spark, sf, "documents")
    if lm is None:
        lm = train_bigram_lm(
            d.filter(F.pmod("doc_id", F.lit(2)) == 0), "text"
        )
    return score_bigram_logprob(
        d.filter(F.pmod("doc_id", F.lit(2)) == 1), "doc_id", "text", lm
    )


O_TEXT_BIGRAM_LM = r"""
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
    FROM documents
),
uni AS (
    SELECT w, count(*) AS cnt FROM (
        SELECT unnest(t) AS w FROM toks WHERE doc_id % 2 = 0
    ) GROUP BY w
),
tot AS (SELECT sum(cnt) AS n FROM uni),
bi AS (
    SELECT w1, w2, count(*) AS cnt FROM (
        SELECT t[i] AS w1, t[i+1] AS w2
        FROM toks, unnest(generate_series(1, len(t) - 1)) u(i)
        WHERE doc_id % 2 = 0
    ) GROUP BY w1, w2
),
stream AS (
    SELECT doc_id, t[i] AS w1, t[i+1] AS w2
    FROM toks, unnest(generate_series(1, len(t) - 1)) u(i)
    WHERE doc_id % 2 = 1
),
scored AS (
    SELECT s.doc_id,
           CASE WHEN b.cnt IS NULL THEN 1 ELSE 0 END AS backoff,
           cast(round(
             CASE WHEN b.cnt IS NOT NULL
                  THEN ln(cast(b.cnt as double) / cast(c1.cnt as double))
                  WHEN c2.cnt IS NOT NULL
                  THEN ln(0.4 * cast(c2.cnt as double) / (SELECT n FROM tot))
                  ELSE ln(0.4 * 0.5 / (SELECT n FROM tot)) END * 1e10)
           as bigint) AS lp10
    FROM stream s
    LEFT JOIN bi b ON s.w1 = b.w1 AND s.w2 = b.w2
    LEFT JOIN uni c1 ON s.w1 = c1.w
    LEFT JOIN uni c2 ON s.w2 = c2.w
)
SELECT doc_id AS id, count(*) AS n_bigrams,
       cast(sum(backoff) as bigint) AS n_backoff,
       round(sum(lp10) / (1e10 * count(*)), 6) AS avg_logprob
FROM scored GROUP BY doc_id
"""

def q_text_knlm(spark, sf, lm=None):
    """Interpolated Kneser-Ney bigram scoring
    (`operators/textops.score_kn_logprob`) under the SAME even-half
    model as the `bigramlm` part — the KenLM-family smoothing CCNet
    actually uses, with continuation counts from the bigram type table
    (the 'Francisco problem' fix). The expression tree is mirrored
    verbatim in the oracle so the 1e-10 grid snap replays bit-for-bit;
    unseen contexts and continuations hit the documented floors live in
    the gate (the halves share most but not all of the vocabulary)."""
    from mallarddv_spark.operators.textops import (
        score_kn_logprob,
        train_bigram_lm,
    )

    d = _t(spark, sf, "documents")
    if lm is None:
        lm = train_bigram_lm(
            d.filter(F.pmod("doc_id", F.lit(2)) == 0), "text"
        )
    return score_kn_logprob(
        d.filter(F.pmod("doc_id", F.lit(2)) == 1), "doc_id", "text", lm
    )


O_TEXT_KNLM = r"""
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
    FROM documents
),
uni AS (
    SELECT w, count(*) AS cnt FROM (
        SELECT unnest(t) AS w FROM toks WHERE doc_id % 2 = 0
    ) GROUP BY w
),
bi AS (
    SELECT w1, w2, count(*) AS cnt FROM (
        SELECT t[i] AS w1, t[i+1] AS w2
        FROM toks, unnest(generate_series(1, len(t) - 1)) u(i)
        WHERE doc_id % 2 = 0
    ) GROUP BY w1, w2
),
nf AS (SELECT w1, count(*) AS nf FROM bi GROUP BY w1),
nb AS (SELECT w2, count(*) AS nb FROM bi GROUP BY w2),
tt AS (SELECT count(*) AS t FROM bi),
stream AS (
    SELECT doc_id, t[i] AS w1, t[i+1] AS w2
    FROM toks, unnest(generate_series(1, len(t) - 1)) u(i)
    WHERE doc_id % 2 = 1
),
scored AS (
    SELECT s.doc_id,
           CASE WHEN c1.cnt IS NULL THEN 1 ELSE 0 END AS oov,
           cast(round(
             CASE WHEN c1.cnt IS NOT NULL
                  THEN ln(greatest(cast(coalesce(b.cnt, 0) as double) - 0.75,
                                   cast(0 as double)) / cast(c1.cnt as double)
                       + (0.75 * cast(greatest(coalesce(nf.nf, 0), 1) as double)
                          / cast(c1.cnt as double))
                         * (coalesce(cast(nb.nb as double), 0.5)
                            / cast((SELECT t FROM tt) as double)))
                  ELSE ln(coalesce(cast(nb.nb as double), 0.5)
                          / cast((SELECT t FROM tt) as double)) END * 1e10)
           as bigint) AS lp10
    FROM stream s
    LEFT JOIN bi b ON s.w1 = b.w1 AND s.w2 = b.w2
    LEFT JOIN uni c1 ON s.w1 = c1.w
    LEFT JOIN nf ON s.w1 = nf.w1
    LEFT JOIN nb ON s.w2 = nb.w2
)
SELECT doc_id AS id, count(*) AS n_bigrams,
       cast(sum(oov) as bigint) AS n_oov_ctx,
       round(sum(lp10) / (1e10 * count(*)), 6) AS avg_logprob
FROM scored GROUP BY doc_id
"""


def q_text_dsir(spark, sf, features=None, target_features=None):
    """DSIR importance resampling (`operators/curation.dsir_importance` /
    `dsir_resample`, Xie et al. 2023): hashed bag-of-1..2-grams bucket
    counts, add-1-smoothed target/raw log-ratio λ per bucket (target =
    the src0 slice), per-doc weights summed integer-exactly on the 1e-10
    grid, then seeded Gumbel top-100 — sampling without replacement
    ∝ exp(logw), reproducible because the noise is a pure function of
    (seed, doc_id). md5 hash mode keeps every step DuckDB-replayable."""
    from mallarddv_spark.operators.curation import (
        dsir_importance,
        dsir_resample,
    )

    # single local parquet file = single input task otherwise; lake
    # corpora arrive pre-split (same precedent as the pqadc part)
    d = _t(spark, sf, "documents").repartition(32)
    w = dsir_importance(
        d, d.filter(F.col("source") == "src0"), "doc_id", "text",
        buckets=4096, n_max=2, smoothing=1.0, hash_mode="md5",
        features=features, target_features=target_features,
    )
    return dsir_resample(w, 100, hash_mode="md5", seed="dsir-v1").select(
        "doc_id",
        F.col("n_grams").cast("bigint").alias("n_grams"),
        F.col("rnk").cast("bigint").alias("rnk"),
        "gkey",
    )


O_TEXT_DSIR = r"""
WITH toks AS (
  SELECT doc_id, source, string_split_regex(trim(lower(text)), '\s+') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, source, w AS g FROM (
    SELECT doc_id, source, unnest(t) AS w FROM toks) WHERE g <> ''
  UNION ALL
  SELECT doc_id, source, t[i] || ' ' || t[i+1] AS g
  FROM toks, unnest(generate_series(1, len(t) - 1)) u(i)
),
feats AS (
  SELECT doc_id, source,
         (('0x' || substr(md5(g),1,15))::bigint) % 4096 AS b
  FROM grams
),
rawd AS (SELECT b, count(*) AS cr FROM feats GROUP BY b),
tgtd AS (SELECT b, count(*) AS ct FROM feats WHERE source = 'src0' GROUP BY b),
tot AS (SELECT (SELECT sum(cr) FROM rawd) AS R,
               (SELECT coalesce(sum(ct), 0) FROM tgtd) AS T),
lam AS (
  SELECT rawd.b,
         cast(round(1e10 * (ln((coalesce(ct,0) + 1.0) / (T + 1.0*4096))
                           - ln((cr + 1.0) / (R + 1.0*4096)))) as bigint)
           AS lam10
  FROM rawd LEFT JOIN tgtd ON rawd.b = tgtd.b, tot
),
docw AS (
  SELECT f.doc_id, count(*) AS n_grams, sum(lam10) AS w10
  FROM feats f JOIN lam ON f.b = lam.b GROUP BY f.doc_id
),
keyed AS (
  SELECT doc_id, n_grams, round(w10 / 1e10, 6) AS logw,
         round(round(w10 / 1e10, 6)
           + (-ln(-ln(((((('0x' || substr(md5('dsir-v1|'
                || cast(doc_id AS varchar)),1,15))::bigint) % 1048576)
                + 0.5)) / 1048576.0))), 6) AS gkey
  FROM docw
),
r AS (SELECT row_number() OVER (ORDER BY gkey DESC, doc_id) AS rnk, *
      FROM keyed)
SELECT doc_id, n_grams, rnk, gkey FROM r WHERE rnk <= 100
"""


def q_text_nb_classify(spark, sf, feats=None):
    """Hashed-feature multinomial Naive Bayes
    (`operators/curation.train_nb_classifier` / `nb_classify`) — the
    relational fastText-style classifier stand-in: trained closed-form on
    the even-id half (labels = lang), classifying the odd-id half. All
    log-likelihoods snap to the 1e-10 bigint grid, so scores are exact
    and engine-portable; ties resolve to the greatest label."""
    from mallarddv_spark.operators.curation import (
        nb_classify,
        train_nb_classifier,
    )

    d = _t(spark, sf, "documents")
    # feats = shared (doc_id, lang, bucket, cnt) hashed-gram frame (the
    # suite's one materialized explode): per-class training counts and
    # the odd-half classify features both re-derive from it exactly
    gram_counts = None
    cls_features = None
    if feats is not None:
        gram_counts = (
            feats.filter(
                (F.pmod("doc_id", F.lit(2)) == 0) & F.col("lang").isNotNull()
            )
            .groupBy(F.col("lang").alias("label"), "bucket")
            .agg(F.sum("cnt").alias("cnt"))
        )
        cls_features = feats.filter(F.pmod("doc_id", F.lit(2)) == 1).select(
            "doc_id", "bucket", "cnt"
        )
    nb = train_nb_classifier(
        d.filter(F.pmod("doc_id", F.lit(2)) == 0), "lang", "text",
        buckets=4096, n_max=2, smoothing=1.0, hash_mode="md5",
        gram_counts=gram_counts,
    )
    return nb_classify(
        d.filter(F.pmod("doc_id", F.lit(2)) == 1), "doc_id", "text", nb,
        features=cls_features,
    )


O_TEXT_NBCLS = r"""
WITH toks AS (
  SELECT doc_id, lang, string_split_regex(trim(lower(text)), '\s+') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, lang, w AS g FROM (
    SELECT doc_id, lang, unnest(t) AS w FROM toks) WHERE g <> ''
  UNION ALL
  SELECT doc_id, lang, t[i] || ' ' || t[i+1] AS g
  FROM toks, unnest(generate_series(1, len(t) - 1)) u(i)
),
feats AS (
  SELECT doc_id, lang,
         (('0x' || substr(md5(g),1,15))::bigint) % 4096 AS b
  FROM grams
),
cls AS (SELECT lang AS label, b, count(*) AS cnt FROM feats
        WHERE doc_id % 2 = 0 GROUP BY 1, 2),
labels AS (SELECT DISTINCT lang AS label FROM documents WHERE doc_id % 2 = 0),
vocab AS (SELECT DISTINCT b FROM cls),
tot AS (SELECT label, sum(cnt) AS T FROM cls GROUP BY 1),
model AS (
  SELECT l.label, v.b,
         cast(round(1e10 * ln((coalesce(c.cnt, 0) + 1.0)
                              / (t.T + 1.0*4096))) as bigint) AS lw10
  FROM labels l CROSS JOIN vocab v
  LEFT JOIN cls c ON c.label = l.label AND c.b = v.b
  JOIN tot t ON t.label = l.label
),
dc AS (SELECT lang AS label, count(*) AS n FROM documents
       WHERE doc_id % 2 = 0 GROUP BY 1),
nn AS (SELECT sum(n) AS N FROM dc),
priors AS (
  SELECT dc.label,
         cast(round(1e10 * ln(cast(dc.n as double)
                              / (SELECT N FROM nn))) as bigint) AS prior10,
         cast(round(1e10 * ln(1.0 / (t.T + 1.0*4096))) as bigint)
           AS default10
  FROM dc JOIN tot t USING (label)
),
docf AS (SELECT doc_id, b, count(*) AS cnt FROM feats
         WHERE doc_id % 2 = 1 GROUP BY 1, 2),
npd AS (SELECT doc_id, sum(cnt) AS n_grams FROM docf GROUP BY 1),
mt AS (SELECT f.doc_id, m.label, sum(f.cnt * m.lw10) AS s10,
              sum(f.cnt) AS m
       FROM docf f JOIN model m ON f.b = m.b GROUP BY 1, 2),
sc AS (
  SELECT npd.doc_id, p.label, npd.n_grams, coalesce(mt.m, 0) AS n_seen,
         p.prior10 + coalesce(mt.s10, 0)
           + (npd.n_grams - coalesce(mt.m, 0)) * p.default10 AS score10
  FROM npd CROSS JOIN priors p
  LEFT JOIN mt ON mt.doc_id = npd.doc_id AND mt.label = p.label
),
rr AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                    ORDER BY score10 DESC, label DESC) AS rn
       FROM sc)
SELECT doc_id, label AS predicted, cast(n_grams as bigint) AS n_grams,
       cast(n_seen as bigint) AS n_seen,
       round(cast(score10 as double) / 1e10, 6) AS score
FROM rr WHERE rn = 1
"""


_BM25_QUERIES = [
    ("q_hash", "hash join table"),
    ("q_sort", "window sort order"),
    ("q_dup", "stream batch data dup"),
]


def q_text_bm25(spark, sf, run=None):
    """BM25 lexical retrieval (`operators/retrieval.bm25_topk`): top-20
    documents per query for three fixed queries over the corpus
    vocabulary ('dup' is the rare term, so the idf contrast is live).
    Query terms ride a broadcast; df(term) is a groupBy count over
    matched postings only, broadcast back (never a per-term window —
    see retrieval.bm25_topk); per-posting contributions snap to the
    1e-10 integer grid, so scores and tie-broken ranks replay
    bit-for-bit in DuckDB. The persisted-index path is gate-proven by
    the `bm25store` part (build→append→probe round-trip)."""
    from mallarddv_spark.functions.litframe import literal_frame
    from mallarddv_spark.operators.retrieval import bm25_topk

    if run is None:
        queries = literal_frame(
            spark, _BM25_QUERIES, "query_id string, query string"
        )
        run = bm25_topk(_t(spark, sf, "documents"), queries, k=20)
    return run.select(
        "query_id",
        "doc_id",
        F.col("n_terms").cast("bigint").alias("n_terms"),
        "score",
        F.col("rnk").cast("bigint").alias("rnk"),
    )


def q_text_bm25_store(spark, sf, postings=None):
    """The STORED-index round-trip (`operators/retrieval.build_bm25_index`
    → `bm25_index_append` → `bm25_index_probe`): the index is built on
    disk from the even-id half of the corpus, the odd-id half is appended
    (staged-rename totals swap), and the partition-pruned probe over the
    re-read postings must reproduce the inline computation over the FULL
    corpus bit-for-bit — so its oracle IS the inline DuckDB replay. This
    proves the persisted postings + params + pruned-probe path (the one
    the streaming crawl gate maintains) under the driver's gate, not just
    pytest."""
    from mallarddv_spark.functions.litframe import literal_frame
    from mallarddv_spark.operators.retrieval import (
        bm25_index_append,
        bm25_index_probe,
        build_bm25_index,
    )

    docs = _t(spark, sf, "documents")
    path = _scratch_dir("bm25_gate_") + "/idx"
    # `postings` (full-corpus posting rows, e.g. the frequency suite's
    # shared checkpoint) short-circuits all four corpus tokenizations
    # of the round-trip: the even/odd halves are plain parity filters
    # of the posting rows (postings are per (term, doc) — a doc filter
    # commutes with the build), and the stored totals derive from the
    # same rows. Identical bytes on disk by construction; the oracle
    # (inline replay over the full corpus) gates the equivalence.
    even = postings.filter("doc_id % 2 = 0") if postings is not None else None
    odd = postings.filter("doc_id % 2 = 1") if postings is not None else None
    build_bm25_index(
        docs.filter("doc_id % 2 = 0"), path, term_buckets=16, postings=even,
    )
    bm25_index_append(docs.filter("doc_id % 2 = 1"), path, postings=odd)
    queries = literal_frame(
        spark, _BM25_QUERIES, "query_id string, query string"
    )
    return bm25_index_probe(spark, path, queries, k=20).select(
        "query_id",
        "doc_id",
        F.col("n_terms").cast("bigint").alias("n_terms"),
        "score",
        F.col("rnk").cast("bigint").alias("rnk"),
    )


O_TEXT_BM25 = r"""
WITH btoks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\s+'),
                     x -> x <> '') AS t
  FROM documents
),
bpost AS (
  SELECT term, doc_id, dl, count(*) AS tf FROM (
    SELECT doc_id, len(t) AS dl, unnest(t) AS term FROM btoks
  ) GROUP BY term, doc_id, dl
),
btot AS (SELECT count(*) AS n_docs, sum(len(t)) AS total_len
         FROM btoks WHERE len(t) > 0),
bqueries(query_id, query) AS (
  VALUES ('q_hash', 'hash join table'), ('q_sort', 'window sort order'),
         ('q_dup', 'stream batch data dup')
),
bqt AS (
  SELECT DISTINCT query_id,
         unnest(list_filter(string_split_regex(trim(lower(query)), '\s+'),
                            x -> x <> '')) AS term
  FROM bqueries
),
bm AS (
  SELECT p.*, count(*) OVER (PARTITION BY p.term) AS dfreq
  FROM bpost p JOIN (SELECT DISTINCT term FROM bqt) q USING (term)
),
bc AS (
  SELECT term, doc_id,
         cast(round(1e10 * (
           ln(1 + (n_docs - dfreq + 0.5) / (dfreq + 0.5))
           * tf * (1 + 1.2)
           / (tf + 1.2 * (1 - 0.75 + 0.75 * dl * n_docs / total_len))
         )) AS bigint) AS c10
  FROM bm, btot
),
bs AS (
  SELECT bqt.query_id, bc.doc_id, count(*) AS n_terms, sum(c10) AS s10
  FROM bc JOIN bqt USING (term) GROUP BY bqt.query_id, bc.doc_id
),
br AS (
  SELECT query_id, doc_id, cast(n_terms as bigint) AS n_terms,
         round(s10 / 1e10, 6) AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY s10 DESC, doc_id) AS rnk
  FROM bs
)
SELECT query_id, doc_id, n_terms, score, cast(rnk as bigint) AS rnk
FROM br WHERE rnk <= 20
"""


# Graded qrels for the evalmetrics part: each query's distinctive term;
# rel = min(3, occurrences of that term in the doc) — text-derived,
# closed-form in SQL, and correlated with BM25 so nDCG is strictly
# inside (0, 1) rather than a vacuous constant.
_EVAL_QREL_TERMS = [("q_hash", "hash"), ("q_sort", "sort"),
                    ("q_dup", "dup")]


def q_text_eval_metrics(spark, sf, run=None, postings=None):
    """Retrieval-eval metrics over the BM25 run (`operators/evaluation`:
    recall_at_k / reciprocal_rank / ndcg_at_k) against deterministic
    graded qrels — the first oracle gate for the evaluation tier. The
    nDCG gain terms snap to the 1e-10 integer grid before the bigint
    sum (the operator's own discipline), dcg/idcg ride the 1e6 grid in
    the part payload, and ranks/counts are integers — so all three
    metrics replay closed-form in DuckDB over the same BM25 replay the
    `bm25` part already proves."""
    from mallarddv_spark.functions.litframe import literal_frame
    from mallarddv_spark.operators.evaluation import (
        bootstrap_ci, ndcg_at_k, recall_at_k, reciprocal_rank,
    )
    from mallarddv_spark.operators.retrieval import bm25_topk

    docs = _t(spark, sf, "documents")
    queries = literal_frame(
        spark, _BM25_QUERIES, "query_id string, query string"
    )
    # run and truth are result-set-sized (queries × 20 / qrel pairs);
    # the eager checkpoints keep the BM25 and qrel subtrees from
    # re-executing once per metric branch (measured: the un-pinned
    # plan replicated the BM25 subtree ~6× and cost 3.3 s). When the
    # suite passes its shared checkpointed `run`/`postings`, neither
    # subtree touches the corpus again.
    if run is None:
        run = bm25_topk(docs, queries, k=20).select(
            "query_id", F.col("doc_id").alias("neighbor_id"), "rnk"
        ).localCheckpoint(eager=True)
    else:
        run = run.select(
            "query_id", F.col("doc_id").alias("neighbor_id"), "rnk"
        )
    qt = literal_frame(
        spark, _EVAL_QREL_TERMS, "query_id string, term string"
    )
    if postings is not None:
        # postings tf IS the per-(term, doc) occurrence count under the
        # same tokenization (build_postings: split(trim(lower)) drop
        # empties), so the qrel join over the token stream re-derives
        # exactly: rel = least(tf, 3)
        truth = (
            postings.join(qt, postings.term == qt.term)
            .select(
                "query_id",
                F.col("doc_id").alias("neighbor_id"),
                F.least(F.col("tf"), F.lit(3)).cast("double").alias("rel"),
            )
        ).localCheckpoint(eager=True)
    else:
        toks = docs.select(
            "doc_id",
            F.explode(F.split(F.trim(F.lower("text")), _WS)).alias("w"),
        ).filter(F.col("w") != "")
        truth = (
            toks.join(qt, toks.w == qt.term)
            .groupBy("query_id", "doc_id")
            .agg(F.least(F.count("*"), F.lit(3)).cast("double").alias("rel"))
            .select("query_id", F.col("doc_id").alias("neighbor_id"), "rel")
        ).localCheckpoint(eager=True)
    rec = recall_at_k(
        run, truth.select("query_id", "neighbor_id"), k=None
    ).select(
        F.lit("recall").alias("metric"), "query_id",
        F.col("n_exact").alias("n1"), F.col("n_hit").alias("n2"),
        F.col("recall").alias("d1"),
    )
    rr = reciprocal_rank(run, truth, rank_col="rnk").select(
        F.lit("rr").alias("metric"), "query_id",
        F.col("first_rank").alias("n1"),
        F.lit(None).cast("bigint").alias("n2"),
        F.col("rr").alias("d1"),
    )
    ndf = ndcg_at_k(run, truth, rel_col="rel", rank_col="rnk", k=10)
    nd = ndf.select(
        F.lit("ndcg").alias("metric"), "query_id",
        F.round(F.col("dcg") * 1e6).cast("bigint").alias("n1"),
        F.round(F.col("idcg") * 1e6).cast("bigint").alias("n2"),
        F.col("ndcg").alias("d1"),
    )
    # Poisson-bootstrap CI of the mean nDCG (evaluation.bootstrap_ci):
    # the md5 weight chain, the empty-replicate drop (b < B — the count
    # itself verifies the drop), and the exact percentile pair all
    # replay closed-form in DuckDB (prototype-matched including b)
    ci = bootstrap_ci(ndf.select("query_id", "ndcg"), "ndcg",
                      "query_id", B=200, level=0.9, salt="gate-v1")
    # one in-plan explode, not three unioned selects — unioning would
    # embed (and execute) the whole CI subtree three times
    ci_rows = ci.select(
        F.explode(F.array(
            F.struct(F.lit("ci_lo").alias("m"), F.col("lo").alias("v")),
            F.struct(F.lit("ci_hi").alias("m"), F.col("hi").alias("v")),
            F.struct(F.lit("ci_mean").alias("m"),
                     F.col("mean").alias("v")),
        )).alias("e"),
        F.col("n").alias("n1"), F.col("b").alias("n2"),
    ).select(
        F.col("e.m").alias("metric"), F.lit("ndcg").alias("query_id"),
        "n1", "n2", F.col("e.v").alias("d1"),
    )
    return rec.unionByName(rr).unionByName(nd).unionByName(ci_rows)


def q_text_pplbucket(spark, sf, scored=None):
    """CCNet head/middle/tail split (`operators/textops.
    perplexity_buckets`, Wenzek et al. 2020) over the bigram-LM scores
    of the odd-id half (same train/score split as the `bigramlm` part),
    bucketed PER LANGUAGE — every language keeps its own head regardless
    of absolute perplexity. Ties and tile boundaries break on ascending
    doc id, so the ntile replays exactly."""
    from mallarddv_spark.operators.textops import perplexity_buckets

    if scored is None:
        scored = q_text_bigram_lm(spark, sf)
    langs = _t(spark, sf, "documents").select(
        F.col("doc_id").alias("id"), "lang"
    )
    return perplexity_buckets(scored.join(langs, "id"), by="lang").select(
        "id",
        F.concat_ws("/", "lang", "ppl_label").alias("lang_bucket"),
        F.col("ppl_bucket").cast("bigint").alias("ppl_bucket"),
        "n_bigrams",
        "avg_logprob",
    )


O_TEXT_PPLBUCKET = (
    "WITH plm AS (" + O_TEXT_BIGRAM_LM + "),\n"
    + r"""
pb AS (
  SELECT plm.*, d.lang,
         ntile(3) OVER (PARTITION BY d.lang
                        ORDER BY avg_logprob DESC, id) AS ppl_bucket
  FROM plm JOIN documents d ON plm.id = d.doc_id
)
SELECT id,
       lang || '/' || (CASE ppl_bucket WHEN 1 THEN 'head'
                       WHEN 2 THEN 'middle' ELSE 'tail' END) AS lang_bucket,
       cast(ppl_bucket as bigint) AS ppl_bucket, n_bigrams, avg_logprob
FROM pb
"""
)


REGISTRY.update(
    {
        "text_decontaminate": (q_text_decontaminate, O_TEXT_DECON),
        "text_pii_redact": (q_text_pii_redact, O_TEXT_PII),
        "text_split_assign": (q_text_split_assign, O_TEXT_SPLIT),
        "text_stratified_sample": (q_text_stratified_sample, O_TEXT_STRAT),
        "text_vocab_topk": (q_text_vocab_topk, O_TEXT_VOCAB),
        "text_rarity_score": (q_text_rarity_score, O_TEXT_RARITY),
    }
)


def q_text_winnow_fingerprints(spark, sf):
    """Winnowing (MOSS) fingerprint selection: sliding-window min over the
    rolling hashes — any shared run of window+guarantee-1 tokens yields a
    shared fingerprint at ~2/(guarantee+1) index density. All array
    expressions inside one projection; output is the compact (doc, fp)
    index."""
    from mallarddv_spark.operators.curation import winnow_fingerprints

    d = _t(spark, sf, "documents")
    return winnow_fingerprints(d, "doc_id", "text", window=4, guarantee=8)


O_TEXT_WINNOW = r"""
WITH t AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents
),
h AS (
    SELECT doc_id, i,
           md5(toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]) AS fp
    FROM (
        SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 3)) AS i
        FROM t WHERE len(toks) >= 4
    ) s
),
slid AS (
    SELECT doc_id,
           min(fp) OVER (PARTITION BY doc_id ORDER BY i
                         ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS fp,
           i,
           count(*) OVER (PARTITION BY doc_id) AS nh
    FROM h
)
SELECT DISTINCT doc_id, fp
FROM slid
WHERE i <= greatest(nh - 8, 0) + 1
"""


def q_text_line_dedup(spark, sf):
    """Corpus-level boilerplate line removal (the CCNet/RefinedWeb stage,
    `operators/curation.remove_duplicated_lines`): lines appearing in ≥2
    distinct documents are dropped and documents reassembled in order.
    The synthetic docs are single-line word soup, so lines are first
    synthesized deterministically as 3-token windows — plenty of genuine
    cross-document duplicates at every SF (1.4k duplicated lines at
    sf0.001)."""
    from mallarddv_spark.operators.curation import (
        remove_duplicated_lines,
        repetition_profile,
    )

    d = _t(spark, sf, "documents")
    toks = F.split("text", " ")
    starts = F.sequence(F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(3))
    lines = F.transform(starts, lambda s: F.concat_ws(" ", F.slice(toks, s, 3)))
    relined = d.select("doc_id", F.array_join(lines, "\n").alias("text"))
    # the local documents.parquet is ONE file → one input partition; a
    # cheap pre-shuffle of the compact doc rows unlocks full parallelism
    # for the heavy explode+hash dedup pass (on a lake the file count
    # does this naturally; measured 2.0 s → 1.3 s at sf0.1). The
    # shuffle-free repetition_profile stays on the unshuffled relined.
    out = remove_duplicated_lines(
        relined.repartition("doc_id"), "doc_id", "text",
        min_dup_docs=2, min_line_chars=10,
    )
    # within-document repetition signal (operators/curation.
    # repetition_profile) over the same relined text — ~1% of the
    # synthetic docs repeat a 3-token window, so the gate checks real
    # nonzero fractions alongside the zero majority
    rep = repetition_profile(relined, "doc_id", "text").select(
        F.col("id").alias("doc_id"), "dup_line_frac"
    )
    return out.join(rep, out.id == rep.doc_id).select(
        "doc_id",
        F.col("text").alias("clean_text"),
        "lines_kept",
        "lines_dropped",
        "dup_line_frac",
    )


O_TEXT_LINE_DEDUP = """
WITH relined AS (
    SELECT doc_id,
           array_to_string(
             list_transform(generate_series(1, len(string_split(text,' ')), 3),
               s -> array_to_string(
                      string_split(text,' ')[s:least(s+2, len(string_split(text,' ')))],
                      ' ')),
             chr(10)) AS text
    FROM documents
),
raw AS (
    SELECT doc_id,
           unnest(string_split(text, chr(10))) AS line,
           generate_subscripts(string_split(text, chr(10)), 1) AS pos
    FROM relined
),
lines AS (SELECT doc_id, line, pos, lower(trim(line)) AS norm FROM raw),
dups AS (
    SELECT norm FROM lines WHERE length(norm) >= 10
    GROUP BY norm HAVING count(DISTINCT doc_id) >= 2
)
SELECT l.doc_id,
       coalesce(string_agg(line, chr(10) ORDER BY pos)
                FILTER (WHERE norm NOT IN (SELECT norm FROM dups)), '')
           AS clean_text,
       count(*) FILTER (WHERE norm NOT IN (SELECT norm FROM dups))
           AS lines_kept,
       count(*) FILTER (WHERE norm IN (SELECT norm FROM dups))
           AS lines_dropped,
       CASE WHEN count(*) FILTER (WHERE length(norm) > 0) > 0
            THEN cast(count(*) FILTER (WHERE length(norm) > 0)
                      - count(DISTINCT norm) FILTER (WHERE length(norm) > 0)
                      as double)
                 / count(*) FILTER (WHERE length(norm) > 0)
            ELSE 0.0 END AS dup_line_frac
FROM lines l
GROUP BY l.doc_id
"""


def q_text_substring_spans(spark, sf):
    """Exact-substring dedup (Lee et al. 2022 suffix-array semantics,
    re-expressed as a k-gram diagonal join —
    `operators/dedup.substring_duplicate_spans`): every maximal verbatim
    run of >= 10 tokens shared by two documents, with its exact span in
    both. The boilerplate cap (`max_kgram_occurrences=1000`) is live and
    mirrored in the oracle, so the gate proves the production path. The
    single local parquet file is pre-shuffled for parallelism (same fix
    as the linededup gate)."""
    from mallarddv_spark.operators.dedup import substring_duplicate_spans

    d = _t(spark, sf, "documents")
    return substring_duplicate_spans(
        d.repartition("doc_id"), "doc_id", "text",
        min_run_tokens=10, max_kgram_occurrences=1000,
    )


O_TEXT_SUBSTR = r"""
WITH toks AS (
    SELECT doc_id, string_split_regex(trim(text), '\s+') AS t FROM documents
),
kg AS (
    SELECT doc_id, i - 1 AS pos, array_to_string(t[i:i+9], ' ') AS kgram
    FROM toks, unnest(generate_series(1, len(t) - 9)) u(i)
),
keep AS (SELECT kgram FROM kg GROUP BY kgram HAVING count(*) <= 1000),
kgk AS (SELECT kg.* FROM kg JOIN keep USING (kgram)),
m AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb,
           a.pos - b.pos AS diag
    FROM kgk a JOIN kgk b ON a.kgram = b.kgram AND a.doc_id < b.doc_id
),
isl AS (
    SELECT *, pa - row_number() OVER (
        PARTITION BY doc_a, doc_b, diag ORDER BY pa) AS grp
    FROM m
)
SELECT doc_a, doc_b, cast(min(pa) as bigint) AS start_a,
       cast(min(pb) as bigint) AS start_b,
       cast(max(pa) - min(pa) + 10 as bigint) AS run_tokens
FROM isl GROUP BY doc_a, doc_b, diag, grp
"""


def q_text_incremental_dedup(spark, sf):
    """Incremental batch-vs-history dedup (the daily-crawl shape): the
    documents table plays the accumulated corpus; the new batch is built
    from it deterministically so all three verdicts occur — every 5th doc
    re-submitted verbatim (dup_history), every 7th re-submitted edited
    (new), and the edited ones submitted TWICE (the second copy:
    dup_batch). History never moves — the batch joins its fingerprint
    set."""
    from mallarddv_spark.operators.curation import incremental_dedup

    d = _t(spark, sf, "documents")
    resub = d.filter(F.pmod("doc_id", F.lit(5)) == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    edited = d.filter(F.pmod("doc_id", F.lit(7)) == 0).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.concat("text", F.lit(" [rev2]")).alias("text"),
    )
    edited_again = edited.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    batch = resub.unionByName(edited).unionByName(edited_again)
    return incremental_dedup(batch, d, "doc_id", "text")


O_TEXT_INCDEDUP = """
WITH hist AS (
    SELECT DISTINCT md5(text) AS fingerprint FROM documents
),
batch AS (
    SELECT doc_id + 1000000 AS id, text FROM documents WHERE doc_id % 5 = 0
    UNION ALL
    SELECT doc_id + 2000000 AS id, text || ' [rev2]' AS text
    FROM documents WHERE doc_id % 7 = 0
    UNION ALL
    SELECT doc_id + 3000000 AS id, text || ' [rev2]' AS text
    FROM documents WHERE doc_id % 7 = 0
),
b2 AS (
    SELECT id, md5(text) AS fingerprint,
           min(id) OVER (PARTITION BY md5(text)) AS min_id,
           md5(text) IN (SELECT fingerprint FROM hist) AS in_hist
    FROM batch
)
SELECT id, fingerprint,
       CASE WHEN in_hist THEN 'dup_history'
            WHEN id <> min_id THEN 'dup_batch'
            ELSE 'new' END AS verdict,
       (NOT in_hist) AND id = min_id AS keep
FROM b2
"""


def q_text_bpe_tokens(spark, sf):
    """Token counting under a GPT-2-style pretokenizer regex (contractions,
    space-glued letter/digit runs, punctuation runs) next to the
    whitespace count — the LM cost estimate a packing/pricing pipeline
    actually needs. Pure regexp projection, zero shuffle."""
    from mallarddv_spark.operators.curation import bpe_token_count
    from mallarddv_spark.operators.textops import token_count

    d = _t(spark, sf, "documents")
    ws = token_count("text").cast("bigint")
    bpe = bpe_token_count("text").cast("bigint")
    return d.select(
        "doc_id",
        ws.alias("n_ws_tokens"),
        bpe.alias("n_bpe_tokens"),
        F.round(bpe / ws, 6).alias("bpe_ratio"),
    )


O_TEXT_BPE = r"""
SELECT doc_id,
       cast(len(string_split_regex(trim(text), '\s+')) as bigint) AS n_ws_tokens,
       cast(len(regexp_extract_all(text,
           '''(s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s'']+|\s+'))
           as bigint) AS n_bpe_tokens,
       round(cast(len(regexp_extract_all(text,
           '''(s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s'']+|\s+'))
           as double)
           / len(string_split_regex(trim(text), '\s+')), 6) AS bpe_ratio
FROM documents
"""

REGISTRY.update(
    {
        "text_winnow_fingerprints": (q_text_winnow_fingerprints, O_TEXT_WINNOW),
        "text_line_dedup": (q_text_line_dedup, O_TEXT_LINE_DEDUP),
        "text_incremental_dedup": (q_text_incremental_dedup, O_TEXT_INCDEDUP),
        "text_bpe_tokens": (q_text_bpe_tokens, O_TEXT_BPE),
    }
)


# ---------------------------------------------------------------------------
# Consolidated suites.
#
# The driver's correctness gate value-hashes the FIRST 50 registry entries,
# so single-surface micro-queries are folded into same-shaped suites: every
# part keeps its full row set (tagged with a `part` column and unioned, or
# joined on the shared key) and its exact DuckDB oracle twin rides along as a
# tagged subquery — nothing is summarized away. The part → suite mapping is
# recorded in COVERAGE.md and in `CONSOLIDATED_PARTS` below.
# ---------------------------------------------------------------------------


def _nulls(*specs):
    """Typed NULL columns for union alignment: (name, sqltype) pairs."""
    return [F.lit(None).cast(t).alias(n) for n, t in specs]


def q_text_doc_stats(spark, sf):
    """Per-document text statistics: the BASE columns (token counts,
    quality heuristics, language-ID votes, both fingerprints) ride ONE
    scan + projection — the natural production shape; five separate
    passes over a 100 TB corpus would scan it five times. The
    ORACLE-GATE columns joined on afterwards (script profile, trained
    language scoring, and the three tokenizer encode hops) each pay
    their own operator's pass by design — the gate drives the PUBLIC
    operators unmodified rather than hand-fusing their internals, and
    each added pass is distinct-words/vocabulary-bounded after its
    first explode. The three whitespace-mode encode gates are FUSED
    (round 15): ONE checkpointed word stream, ONE distinct-word frame
    feeding the three PUBLIC word-level encoders, ONE stream join + ONE
    per-doc groupBy reassembling all three token sequences — see
    :func:`_enc3_cols` for the equivalence argument (previously each
    gate paid its own distinct + join + groupBy over the shared
    stream). A production pipeline wanting single-scan fusion composes
    the same word-level operators directly.

    Parts: text_token_count, text_quality, text_langid, text_fingerprint,
    text_bpe_tokens; plus the Unicode-script profile columns
    (`textops.script_profile` over a snippet + injected non-Latin
    suffix — the Java-vs-RE2 script-class parity is what the hash
    verifies; all four dominant classes exercised); plus the TRAINED
    language-ID scoring hop (`curation.lang_classify` under a FIXED
    literal 3-class softmax model, w(b,c) = ((b·(17+c)) % 101 − 50)/100
    over the md5-hashed 512-bucket 1..2-gram space — the oracle replays
    the tf vector, the three margins, the max-shifted softmax in class
    order, and the first-max argmax; score on the 1e-6 integer grid.
    Training is iterative (pytest differential); this gates the
    SCORING path, the softmax sibling of `lrscore`); plus the tokenizer
    ENCODE hop (`bpe_enc_n`/`bpe_enc_fp`: `bpe.bpe_encode` under the
    FIXED literal 12-merge whitespace-mode list `_BPE_GATE_MERGES` —
    the oracle replays each merge in rank order as a TWO-PASS
    boundary-delimited `replace()` over a chr(31)-joined symbol string,
    exact for a≠b merges because greedy left-to-right merging of a≠b
    pairs merges every adjacent occurrence and pass-1-skipped
    occurrences are never adjacent, so pass 2 catches them all; the
    fingerprint md5s the full flattened token sequence, so token
    CONTENT and ORDER are value-verified, not just counts — closing the
    last fixed-model scoring surface that was pytest-only, per the
    r11 verdict's lrscore/lang_trained recipe); plus the WORDPIECE
    encode hop (`wp_enc_n`/`wp_enc_unk`/`wp_enc_fp`:
    `wordpiece.wordpiece_encode` under the FIXED literal vocabulary
    `_WP_GATE_VOCAB` — BERT greedy longest-match-first with `##`
    continuations; the oracle replays the matcher as a RECURSIVE CTE
    over the corpus's DISTINCT words (each step consumes the longest
    vocab prefix via list_max over matching lengths, `best = 0` marks
    the word [UNK] — exactly the engine's no-cover semantics), then
    joins back through the per-doc word stream; the vocabulary omits
    the letters j and q so their words exercise the [UNK] path
    non-vacuously); plus the UNIGRAM (Viterbi) encode hop
    (`un_enc_n`/`un_enc_lp6`/`un_enc_fp`: `unigram.unigram_encode`
    under the FIXED literal `(piece, logp)` vocabulary
    `_UN_GATE_PIECES` — every logp a multiple of 1/64, so all DP sums
    are dyadic rationals with ≤6 decimal places: exactly representable
    in double, every round/1e10/1e6 grid hop is EXACT, and float
    comparisons agree bit-for-bit across engines; the oracle replays
    the lattice as a RECURSIVE CTE over distinct words carrying the
    full alpha array per step, with the engine's first-max-ascending
    tie-break (longer piece, then leftmost — exercised by 'an' at
    -5.0 exactly tying a+n) mapped to a sentinel-seeded list_reduce
    with strict >, then a second recursive CTE walks the backpointers;
    v and k are left out of the vocabulary so their words price
    through the -20.0 unk floor. With this, all THREE tokenizer
    encode hops — BPE, WordPiece, unigram — are oracle-gated); plus
    the BYTE-LEVEL (GPT-2-mode) encode hop (`ble_enc_n`/`ble_enc_fp`:
    `bpe.bpe_encode` with ``byte_level=True`` under the FIXED literal
    8-merge list `_BLE_GATE_MERGES`, driven on printable-ASCII-
    restricted text — see `_ble_enc_cols` for why that domain makes
    the RE2 replay of the GPT-2 pre-tokenizer and the char-wise
    symbol replay exact — closing the last encode MODE that was
    pytest-only: the `export_gpt2_files` interop path rests on it)."""
    from mallarddv_spark.operators.curation import bpe_token_count

    # ONE pre-split materialization of the corpus feeds all eight
    # subtrees (base stats, script profile, trained-lang scoring, four
    # encode gates, the shared word stream): the single-file parquet
    # otherwise re-decodes as a serial one-task scan in every subtree.
    # Eager localCheckpoint inside the timed call — a fresh RDD per
    # invocation, nothing persists across runs. Measured A/B in one
    # session at sf0.1: 15.8 s -> 9.3 s warm.
    d = (
        _t(spark, sf, "documents")
        .repartition(spark.sparkContext.defaultParallelism)
        .localCheckpoint(eager=True)
    )
    toks = F.split(F.trim("text"), _WS)
    votes = {
        lang: f"size(filter(split(trim(text),'{_WS_SQL}'), x -> x IN ({words})))"
        for lang, words in _LANG_MARKERS.items()
    }
    guess = (
        "CASE "
        + " ".join(
            f"WHEN {votes[lang]} >= greatest({','.join(votes[l] for l in _LANG_MARKERS)}) THEN '{lang}'"
            for lang in _LANG_MARKERS
        )
        + " ELSE 'unknown' END"
    )
    norm = F.trim(F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", " "))
    bpe = bpe_token_count("text").cast("bigint")
    # ONE word stream shared by all three tokenizer encode gates (their
    # models all case-fold, so one lowercase stream serves BPE,
    # WordPiece and unigram alike) — the encoders' public `stream=`
    # fusion path; the eager checkpoint keeps the corpus explode from
    # re-deriving once per gate subtree (measured: 3 redundant cold
    # passes cost ~3-4 s of the suite's 7.4 s cold time)
    from concurrent.futures import ThreadPoolExecutor

    from mallarddv_spark.operators.bpe import whitespace_word_stream

    # The gate-column frames cost ~1.5 s of driver/py4j plan
    # construction; none of it needs the word-stream checkpoint to have
    # FINISHED (only the fused-encoder constructor needs its frame), so
    # the checkpoint job and the constructions run from one pool instead
    # of serially. POOL INVARIANT (do not shrink): max_workers must be
    # >= the number of submitted tasks because f_enc3 blocks on
    # f_stream.result() — with fewer workers than tasks the producer can
    # queue behind its blocked consumer and deadlock.
    with ThreadPoolExecutor(max_workers=5) as pool:
        f_stream = pool.submit(
            lambda: whitespace_word_stream(
                d, "doc_id", "text", lowercase=True
            ).localCheckpoint(eager=True)
        )
        f_script = pool.submit(_script_cols, d)
        f_trained = pool.submit(_trained_lang_cols, spark, d)
        f_ble = pool.submit(_ble_enc_cols, d)
        f_enc3 = pool.submit(lambda: _enc3_cols(spark, d, f_stream.result()))
        script_f = f_script.result()
        trained_f = f_trained.result()
        ble_f = f_ble.result()
        enc3_f = f_enc3.result()
    return d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_unique_tokens"),
        F.length("text").cast("bigint").alias("n_chars_actual"),
        F.expr(
            f"size(filter(split(trim(text),'{_WS_SQL}'), x -> x IN ({_STOPWORDS})))"
        ).cast("bigint").alias("stopword_cnt"),
        F.expr(
            f"round(cast(size(filter(split(trim(text),'{_WS_SQL}'), x -> x IN ({_STOPWORDS}))) as double)"
            f" / size(split(trim(text),'{_WS_SQL}')), 6)"
        ).alias("stopword_ratio"),
        F.length(F.regexp_replace("text", "[^a-z]", "")).cast("bigint").alias(
            "alpha_chars"
        ),
        F.expr(
            f"round(cast(length(replace(text,' ','')) as double) / size(split(trim(text),'{_WS_SQL}')), 6)"
        ).alias("mean_token_len"),
        F.col("lang").alias("actual_lang"),
        *[F.expr(v).cast("bigint").alias(f"votes_{lang}") for lang, v in votes.items()],
        F.expr(guess).alias("guessed_lang"),
        F.md5(norm).alias("norm_fp"),
        F.md5(F.concat_ws(" ", F.sort_array(toks))).alias("sorted_fp"),
        bpe.alias("n_bpe_tokens"),
        F.round(bpe / F.size(toks), 6).alias("bpe_ratio"),
    ).join(script_f, "doc_id").join(
        trained_f, "doc_id"
    ).join(enc3_f, "doc_id").join(
        ble_f, "doc_id"
    )


# Fixed literal merge list for the tokenizer-ENCODE gate columns of
# text_doc_stats: 12 whitespace-mode merges over common English
# fragments (EOW = '▁' rides the last char, the Sennrich formulation).
# Every merge has a != b — the property that makes greedy left-to-right
# replay equal "merge every adjacent occurrence", which the DuckDB
# oracle's two-pass replace chain replays exactly. Products only feed
# LATER-ranked merges, so the list is also fold-replay-safe.
_BPE_GATE_MERGES = [
    ("t", "h"), ("th", "e▁"), ("a", "n"), ("an", "d▁"),
    ("i", "n"), ("e", "r"), ("o", "n"), ("t", "o▁"),
    ("e", "r▁"), ("in", "g▁"), ("o", "f▁"), ("s", "t"),
]


# Fixed literal merge list for the BYTE-LEVEL (GPT-2-mode) encode gate
# columns of text_doc_stats: 8 merges over the byte→unicode alphabet
# (Ġ = the GPT-2 image of the space byte — byte-level merges cross the
# space/letter boundary, which is the mode's defining behavior). Every
# merge has a != b (two-pass-replace replayable, same argument as
# _BPE_GATE_MERGES) and products only feed LATER-ranked merges
# (fold-replay-safe).
_BLE_GATE_MERGES = [
    ("Ġ", "t"), ("h", "e"), ("Ġ", "a"), ("i", "n"),
    ("r", "e"), ("Ġt", "he"), ("o", "n"), ("Ġa", "n"),
]


def _ble_enc_cols(d):
    """BYTE-LEVEL (GPT-2-mode) encode columns under the fixed literal
    merge list: ``(doc_id, ble_enc_n, ble_enc_fp)`` — token count and
    an md5 over the space-joined flattened token sequence (byte-level
    tokens never contain a raw space: the space byte maps to Ġ before
    any merge, so the join is unambiguous).

    The gate drives the engine on text restricted to PRINTABLE ASCII
    with single interior spaces (``[^ -~]`` stripped, runs collapsed,
    trimmed): on that domain (a) every byte is one character and the
    GPT-2 byte→unicode map is the identity except space→Ġ, so the
    DuckDB oracle can replay symbols as characters, and (b) the
    published pre-tokenizer's ``\\s+(?!\\S)`` lookahead branch — which
    RE2 cannot express — never fires (every space directly precedes a
    non-space and is absorbed by the letter/digit/punct alternatives'
    optional leading space), so a lookahead-free RE2 pattern matches
    the engine's Java regex token-for-token. Non-ASCII byte mapping
    and multi-byte sequences stay covered by the pure-Python encode
    differentials and the GPT-2 file-pair round-trip (pytest).

    Like the script-profile gate, this drives a 600-char SNIPPET per
    document (both engines `substr` before cleaning — chars, 1-based,
    identical semantics): the gate verifies the encode machinery, and
    a snippet exercises every code path (contractions, digit runs,
    punctuation runs, cross-space merges) at a fraction of the
    per-round cost."""
    from mallarddv_spark.operators.bpe import bpe_encode

    cleaned = d.select(
        "doc_id",
        F.trim(F.regexp_replace(
            F.regexp_replace(F.substring("text", 1, 600), "[^ -~]", ""),
            " +", " "
        )).alias("text"),
    )
    model = {
        "merges": list(_BLE_GATE_MERGES),
        "byte_level": True, "lowercase": False,
    }
    enc = bpe_encode(cleaned, "doc_id", "text", model)
    return d.select("doc_id").join(enc, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_tokens"), F.lit(0)).cast("bigint")
        .alias("ble_enc_n"),
        F.md5(F.concat_ws(" ", F.coalesce(
            F.col("tokens"), F.array().cast("array<string>")
        ))).alias("ble_enc_fp"),
    )


# Fixed literal unigram (piece, logp) vocabulary for the un_enc_* gate
# columns of text_doc_stats. EVERY logp is a multiple of 1/64 — dyadic
# rationals whose sums stay ≤6-decimal-exact doubles, making the
# Viterbi DP, its tie comparisons, and all grid hops bit-identical
# across Spark and DuckDB. 'an' at -5.0 exactly ties a+n (the
# longer-piece tie-break is exercised, not assumed); v and k are
# absent so their words price through the -20.0 unk floor.
_UN_GATE_PIECES = {
    **{c: -2.5 for c in "abcdefghijlmnopqrstuwy"},
    "th": -4.0, "he": -4.5, "the": -8.25, "an": -5.0, "nd": -4.75,
    "in": -4.25, "ng": -4.75, "er": -4.25, "on": -4.5, "st": -4.25,
    "re": -4.5, "ed": -4.75,
}
_UN_GATE_UNK = -20.0


def _enc3_cols(spark, d, stream):
    """The three whitespace-mode tokenizer-encode gates (BPE, WordPiece,
    unigram) FUSED over one distinct-word frame: ``(doc_id, bpe_enc_n,
    bpe_enc_fp, bpe_enc_idsum, wp_enc_n, wp_enc_unk, wp_enc_fp,
    un_enc_n, un_enc_lp6, un_enc_fp)``.

    Optimization round 15 (guide §2.4): driving the three doc-level
    encoders separately paid 3× (distinct-words shuffle + stream join +
    per-doc groupBy) over the SAME shared word stream — the corpus-sized
    passes, the dominant cost at scale. Composing the PUBLIC word-level
    encoders (``bpe_encode_words`` + ``tokens_to_ids``,
    ``wordpiece_encode_words``, ``unigram_encode_words`` — the
    documented single-scan fusion path) over ONE eager-checkpointed
    distinct-word frame, joining the three vocabulary-sized word→tokens
    maps, and reassembling docs with ONE stream join + ONE groupBy cuts
    that to 1×. Values are identical per column by construction:

    - per-doc token counts / [UNK] counts / id-sums are sums over word
      occurrences of per-word values (integer arithmetic, associative);
    - per-doc fingerprints flatten ONE pos-sorted collect_list (pos is
      unique per doc, so sorting the combined struct equals sorting each
      encoder's own struct list — identical token order);
    - the unigram doc score keeps the exact grid arithmetic:
      round(score·1e10) per word occurrence, summed, /1e10 rounded to 6,
      then the 1e-6 grid hop — the same expressions unigram_encode uses.
    - zero-word docs: all three encoders dropped exactly the docs with
      no stream rows; the fused frame drops the same set, and the LEFT
      join + per-column coalesce restores the same defaults.
    Equivalence gated by the DuckDB oracle (rows+schema+hash) at three
    SFs and pinned by tests/test_shared_features.py. Interleaved A/B at
    sf0.1: gate subtrees 6.27 s (2.15+2.11+2.01 isolated) → 3.06 s."""
    from mallarddv_spark.functions.litframe import literal_frame
    from mallarddv_spark.operators.bpe import (
        bpe_encode_words,
        bpe_vocab,
        tokens_to_ids,
    )
    from mallarddv_spark.operators.unigram import unigram_encode_words
    from mallarddv_spark.operators.wordpiece import (
        UNK,
        wordpiece_encode_words,
    )

    # vocabulary-sized; eager so the three DP subtrees below share ONE
    # distinct-words job instead of re-deriving the shuffle per encoder
    # (fresh per invocation — nothing persists across runs)
    words = stream.select("word").distinct().localCheckpoint(eager=True)

    bpe_model = {
        "merges": list(_BPE_GATE_MERGES),
        "lowercase": True, "byte_level": False,
    }
    b = tokens_to_ids(
        bpe_encode_words(words, bpe_model), "tokens",
        bpe_vocab(bpe_model), unk_id=-1,
    ).select(
        "word",
        F.col("tokens").alias("__bt"),
        # per-WORD id sum; the doc idsum below sums these over word
        # occurrences — same total as summing the doc's flattened ids
        F.aggregate("ids", F.lit(0).cast("bigint"),
                    lambda a, x: a + x.cast("bigint")).alias("__bi"),
    )
    w = wordpiece_encode_words(
        words, {"vocab": list(_WP_GATE_VOCAB), "lowercase": True}
    ).select(
        "word",
        F.col("tokens").alias("__wt"),
        F.size(F.filter("tokens", lambda x: x == F.lit(UNK)))
        .cast("bigint").alias("__wu"),
    )
    vocab = literal_frame(
        spark, [(p, lp) for p, lp in _UN_GATE_PIECES.items()],
        "piece string, logp double",
    )
    u = unigram_encode_words(
        words, vocab, unk_logp=float(_UN_GATE_UNK),
    ).select(
        "word",
        F.col("pieces").alias("__ut"),
        F.round(F.col("score") * 1e10).cast("bigint").alias("__us10"),
    )
    wmap = b.join(w, "word").join(u, "word")
    enc = (
        stream.join(wmap, "word")
        .groupBy("doc_id")
        .agg(
            F.sum(F.size("__bt")).cast("bigint").alias("__bn"),
            F.sum("__bi").cast("bigint").alias("__bidsum"),
            F.sum(F.size("__wt")).cast("bigint").alias("__wn"),
            F.sum("__wu").cast("bigint").alias("__wunk"),
            F.sum(F.size("__ut")).cast("bigint").alias("__un"),
            F.round(F.sum("__us10") / 1e10, 6).alias("__ulp"),
            # ONE pos-sorted struct list carries all three token
            # sequences (pos unique per doc → order identical to three
            # per-encoder sorts; one agg buffer instead of three)
            F.array_sort(
                F.collect_list(F.struct(
                    F.col("pos"), F.col("__bt"), F.col("__wt"),
                    F.col("__ut"),
                ))
            ).alias("__seq"),
        )
    )
    return d.select("doc_id").join(enc, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("__bn"), F.lit(0)).cast("bigint")
        .alias("bpe_enc_n"),
        F.md5(F.concat_ws(" ", F.coalesce(
            F.flatten(F.col("__seq").getField("__bt")),
            F.array().cast("array<string>"),
        ))).alias("bpe_enc_fp"),
        F.coalesce(F.col("__bidsum"), F.lit(0).cast("bigint"))
        .alias("bpe_enc_idsum"),
        F.coalesce(F.col("__wn"), F.lit(0)).cast("bigint")
        .alias("wp_enc_n"),
        F.coalesce(F.col("__wunk"), F.lit(0)).cast("bigint")
        .alias("wp_enc_unk"),
        F.md5(F.concat_ws(" ", F.coalesce(
            F.flatten(F.col("__seq").getField("__wt")),
            F.array().cast("array<string>"),
        ))).alias("wp_enc_fp"),
        F.coalesce(F.col("__un"), F.lit(0)).cast("bigint")
        .alias("un_enc_n"),
        F.coalesce(F.round(F.col("__ulp") * 1e6).cast("bigint"),
                   F.lit(0)).alias("un_enc_lp6"),
        F.md5(F.concat_ws(" ", F.coalesce(
            F.flatten(F.col("__seq").getField("__ut")),
            F.array().cast("array<string>"),
        ))).alias("un_enc_fp"),
    )


def _un_enc_cols(spark, d, stream=None):
    """Unigram-Viterbi-encode columns under the fixed literal
    vocabulary: ``(doc_id, un_enc_n, un_enc_lp6, un_enc_fp)`` — token
    count, the doc's Viterbi log-prob on the 1e-6 integer grid (exact:
    dyadic scores), and an md5 over the space-joined flattened token
    sequence. LEFT join keeps zero-word docs at n=0/lp=0.

    Kept as the single-encoder reference path: q_text_doc_stats now
    drives the fused :func:`_enc3_cols`, whose per-column equivalence to
    this frame is pinned by tests/test_shared_features.py."""
    from mallarddv_spark.functions.litframe import literal_frame
    from mallarddv_spark.operators.unigram import unigram_encode

    vocab = literal_frame(
        spark, [(p, lp) for p, lp in _UN_GATE_PIECES.items()],
        "piece string, logp double",
    )
    enc = unigram_encode(d, "doc_id", "text", vocab,
                         unk_logp=_UN_GATE_UNK, stream=stream)
    return d.select("doc_id").join(enc, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_tokens"), F.lit(0)).cast("bigint")
        .alias("un_enc_n"),
        F.coalesce(F.round(F.col("logprob") * 1e6).cast("bigint"),
                   F.lit(0)).alias("un_enc_lp6"),
        F.md5(F.concat_ws(" ", F.coalesce(
            F.col("tokens"), F.array().cast("array<string>")
        ))).alias("un_enc_fp"),
    )


# Fixed literal WordPiece vocabulary for the wp_enc_* gate columns of
# text_doc_stats: every corpus letter EXCEPT j and q (raw + ##
# continuation — their words exercise the [UNK] path), plus multi-char
# pieces so greedy longest-match is non-trivial.
_WP_GATE_VOCAB = (
    [c for c in "abcdefghiklmnoprstuvwy"]
    + ["##" + c for c in "abcdefghiklmnoprstuvwy"]
    + ["th", "##he", "the", "an", "##nd", "in", "##ng", "er",
       "##er", "on", "st", "##ti", "re", "##ed"]
)


def _wp_enc_cols(d, stream=None):
    """WordPiece-encode columns under the fixed literal vocabulary:
    ``(doc_id, wp_enc_n, wp_enc_unk, wp_enc_fp)`` — token count, [UNK]
    count, and an md5 over the space-joined flattened token sequence
    (pieces never contain spaces). LEFT join keeps zero-word docs at
    n=0, mirrored in the oracle."""
    from mallarddv_spark.operators.wordpiece import wordpiece_encode

    model = {"vocab": list(_WP_GATE_VOCAB), "lowercase": True}
    enc = wordpiece_encode(d, "doc_id", "text", model, stream=stream)
    return d.select("doc_id").join(enc, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_tokens"), F.lit(0)).cast("bigint")
        .alias("wp_enc_n"),
        F.coalesce(F.col("n_unk"), F.lit(0)).cast("bigint")
        .alias("wp_enc_unk"),
        F.md5(F.concat_ws(" ", F.coalesce(
            F.col("tokens"), F.array().cast("array<string>")
        ))).alias("wp_enc_fp"),
    )


def _bpe_enc_cols(d, stream=None):
    """Tokenizer-encode columns under the fixed literal model:
    ``(doc_id, bpe_enc_n, bpe_enc_fp, bpe_enc_idsum)`` — total token
    count, an md5 over the space-joined flattened token sequence
    (tokens never contain spaces in whitespace mode, so the join is
    unambiguous), and the SUM of the document's token IDS under
    ``bpe_vocab(model)`` + ``tokens_to_ids(unk_id=-1)`` — gating the
    pretraining pipeline's id-materialization hop (the oracle derives
    the same token → id table from the same fixed merge list, so a
    drifting vocab-id order or a broken map lookup breaks the sum;
    the whitespace-mode vocab is open, so out-of-vocab single chars
    exercise the unk_id substitution on both sides). LEFT join keeps
    zero-word docs (bpe_encode drops them) at n=0/idsum=0 with the
    empty-string fingerprint, mirrored in the oracle."""
    from mallarddv_spark.operators.bpe import (
        bpe_encode, bpe_vocab, tokens_to_ids,
    )

    model = {
        "merges": list(_BPE_GATE_MERGES),
        "lowercase": True, "byte_level": False,
    }
    enc = tokens_to_ids(
        bpe_encode(d, "doc_id", "text", model, stream=stream), "tokens",
        bpe_vocab(model), unk_id=-1,
    )
    return d.select("doc_id").join(enc, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_tokens"), F.lit(0)).cast("bigint")
        .alias("bpe_enc_n"),
        F.md5(F.concat_ws(" ", F.coalesce(
            F.col("tokens"), F.array().cast("array<string>")
        ))).alias("bpe_enc_fp"),
        F.coalesce(
            F.aggregate("ids", F.lit(0).cast("bigint"),
                        lambda a, x: a + x.cast("bigint")),
            F.lit(0).cast("bigint"),
        ).alias("bpe_enc_idsum"),
    )


def _trained_lang_cols(spark, d):
    """Trained-lang columns under a fixed literal softmax model (see
    q_text_doc_stats docstring): ``(doc_id, lang_trained,
    lang_trained_s6)``."""
    from mallarddv_spark.operators.curation import lang_classify

    weights = (
        spark.range(512).select(F.col("id").cast("int").alias("bucket"))
        .crossJoin(
            spark.range(3).select(F.col("id").cast("int").alias("cls"))
        )
        .select(
            "bucket", "cls",
            ((((F.col("bucket") * (17 + F.col("cls"))) % 101) - 50)
             / F.lit(100.0)).alias("w"),
        )
    )
    sm = {
        "weights": weights, "classes": ["de", "en", "fr"],
        "biases": [0.1, -0.05, 0.0], "buckets": 512, "n_max": 2,
        "hash_mode": "md5", "lowercase": True,
    }
    return lang_classify(d, "doc_id", "text", sm).select(
        "doc_id",
        F.col("lang").alias("lang_trained"),
        F.round(F.col("lang_score") * 1e6).cast("bigint")
        .alias("lang_trained_s6"),
    )


# Unicode injection for the script-profile columns — the synthetic
# corpus is pure ASCII, so each doc gains a deterministic non-Latin
# suffix by doc_id % 4 (the urlnorm/PII synthesis precedent); the
# Java \p{IsScript} vs RE2 \p{Script} class parity is what the gate
# hash actually verifies.
SCRIPT_SYNTH = (
    "concat(substring(text, 1, 10), CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN '' "
    "WHEN 1 THEN ' Привет мир Привет мир Привет' "
    "WHEN 2 THEN ' 世界 你好 商店 世界 你好' "
    "ELSE ' مرحبا بالعالم مرحبا بالعالم 123' END)"
)


def _script_cols(d):
    from mallarddv_spark.operators.textops import script_profile

    sp = script_profile(
        d.select("doc_id", F.expr(SCRIPT_SYNTH).alias("text")),
        "doc_id", "text",
    )
    return sp.select(
        F.col("id").alias("doc_id"),
        F.col("n_script_chars"),
        F.round(F.col("latin_frac") * 1e6).cast("bigint").alias("latin_f6"),
        F.round(F.col("cyrillic_frac") * 1e6).cast("bigint").alias(
            "cyrillic_f6"
        ),
        F.round(F.col("han_frac") * 1e6).cast("bigint").alias("han_f6"),
        F.round(F.col("arabic_frac") * 1e6).cast("bigint").alias(
            "arabic_f6"
        ),
        "dominant_script",
    )


def _o_text_doc_stats() -> str:
    toks = r"string_split_regex(trim(text), '\s+')"
    votes = {
        lang: f"len(list_filter({toks}, x -> x IN ({words})))"
        for lang, words in _LANG_MARKERS.items()
    }
    guess = (
        "CASE "
        + " ".join(
            f"WHEN {votes[lang]} >= greatest({','.join(votes[l] for l in _LANG_MARKERS)}) THEN '{lang}'"
            for lang in _LANG_MARKERS
        )
        + " ELSE 'unknown' END"
    )
    vote_cols = ",\n       ".join(f"{v} AS votes_{lang}" for lang, v in votes.items())
    bpe = (
        r"len(regexp_extract_all(text,"
        r" '''(s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s'']+|\s+'))"
    )
    from mallarddv_spark.operators.textops import _SCRIPT_CLASSES

    synth = (
        "concat(substring(text, 1, 10), CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN '' "
        "WHEN 1 THEN ' Привет мир Привет мир Привет' "
        "WHEN 2 THEN ' 世界 你好 商店 世界 你好' "
        "ELSE ' مرحبا بالعالم مرحبا بالعالم 123' END)"
    )
    nz = r"length(regexp_replace(text2, '\s', '', 'g'))"
    cnt = {
        name: "len(regexp_extract_all(text2, '["
        + re2.replace("\\\\", "\\") + "]'))"
        for name, _, re2 in _SCRIPT_CLASSES
    }
    frac6 = {
        name: (
            f"CASE WHEN {nz} = 0 THEN 0 ELSE round(round(cast({c} as double)"
            f" / {nz}, 6) * 1e6) END::BIGINT"
        )
        for name, c in cnt.items()
    }
    dom = (
        f"CASE WHEN {nz} = 0 THEN 'none' "
        + " ".join(
            f"WHEN {cnt[name]} >= greatest("
            + ",".join(cnt[n2] for n2, _, _ in _SCRIPT_CLASSES)
            + f") AND {cnt[name]} > 0 THEN '{name}'"
            for name, _, _ in _SCRIPT_CLASSES
        )
        + " ELSE 'other' END"
    )
    script_cols = (
        f"{nz}::BIGINT AS n_script_chars,\n       "
        + ",\n       ".join(
            f"{frac6[name]} AS {name}_f6"
            for name in ("latin", "cyrillic", "han", "arabic")
        )
        + f",\n       {dom} AS dominant_script"
    )
    # trained-lang softmax replay (fixed literal model — see the query
    # docstring): tf vector over md5 512-bucket 1..2-grams, per-class
    # margin sums, max-shifted softmax in class order, first-max argmax
    sm_sql = r"""
  WITH sm_toks AS (
    SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
    FROM documents
  ),
  sm_grams AS (
    SELECT doc_id, w AS g FROM (
      SELECT doc_id, unnest(t) AS w FROM sm_toks) WHERE g <> ''
    UNION ALL
    SELECT doc_id, t[i] || ' ' || t[i+1] AS g
    FROM sm_toks, unnest(generate_series(1, len(t) - 1)) u(i)
  ),
  sm_fcnt AS (
    SELECT doc_id,
           (('0x' || substr(md5(g),1,15))::BIGINT) % 512 AS b,
           count(*) AS cnt
    FROM sm_grams GROUP BY 1, 2
  ),
  sm_tot AS (SELECT doc_id, sum(cnt) AS tt FROM sm_fcnt GROUP BY 1),
  sm_marg AS (
    SELECT f.doc_id,
      sum((cast(f.cnt AS DOUBLE) / t.tt)
          * (((f.b * 17) % 101 - 50) / 100.0)) AS s0,
      sum((cast(f.cnt AS DOUBLE) / t.tt)
          * (((f.b * 18) % 101 - 50) / 100.0)) AS s1,
      sum((cast(f.cnt AS DOUBLE) / t.tt)
          * (((f.b * 19) % 101 - 50) / 100.0)) AS s2
    FROM sm_fcnt f JOIN sm_tot t USING (doc_id) GROUP BY 1
  ),
  sm_sc AS (
    SELECT d.doc_id,
           coalesce(m.s0, 0.0) + 0.1 AS t0,
           coalesce(m.s1, 0.0) + -0.05 AS t1,
           coalesce(m.s2, 0.0) + 0.0 AS t2
    FROM documents d LEFT JOIN sm_marg m USING (doc_id)
  ),
  sm_e AS (
    SELECT doc_id,
           exp(t0 - greatest(t0, t1, t2)) AS e0,
           exp(t1 - greatest(t0, t1, t2)) AS e1,
           exp(t2 - greatest(t0, t1, t2)) AS e2
    FROM sm_sc
  )
  SELECT doc_id,
         CASE WHEN e0 >= e1 AND e0 >= e2 THEN 'de'
              WHEN e1 >= e2 THEN 'en' ELSE 'fr' END AS lang_trained,
         cast(round(greatest(e0, e1, e2) / (e0 + e1 + e2) * 1e6)
              AS BIGINT) AS lang_trained_s6
  FROM sm_e
"""
    # tokenizer-encode replay (fixed literal merge list — see the query
    # docstring): per word, symbols ride a chr(31)-delimited string
    # (last char carries the EOW '▁'); each merge in rank order applies
    # as a TWO-PASS replace of U‖a‖U‖b‖U with U‖ab‖U (pass 1 may skip
    # an occurrence whose leading U a preceding match consumed; skipped
    # occurrences are never adjacent, so pass 2 is exhaustive — exact
    # greedy left-to-right semantics for a != b merges)
    u = "chr(31)"
    be_expr = f"{u} || array_to_string(string_split(w, ''), {u}) || '▁' || {u}"
    for a, b in _BPE_GATE_MERGES:
        pat = f"{u} || '{a}' || {u} || '{b}' || {u}"
        rep = f"{u} || '{a}{b}' || {u}"
        be_expr = f"replace(replace({be_expr}, {pat}, {rep}), {pat}, {rep})"
    # token → id from the ENGINE's own vocab derivation over the same
    # fixed merge list (bpe_vocab is pure driver-side Python on literal
    # metadata); unknown tokens take -1, the gate's unk_id
    from mallarddv_spark.operators.bpe import bpe_vocab as _bpe_vocab

    _gate_vocab = _bpe_vocab(
        {"merges": list(_BPE_GATE_MERGES), "byte_level": False}
    )
    be_id_case = ("CASE t " + " ".join(
        f"WHEN '{tok}' THEN {i}" for tok, i in _gate_vocab.items()
    ) + " ELSE -1 END")
    be_sql = rf"""
  WITH be_w AS (
    SELECT doc_id, i AS pos, t[i] AS w
    FROM (SELECT doc_id,
                 list_filter(string_split_regex(trim(lower(text)), '\s+'),
                             x -> x <> '') AS t
          FROM documents), unnest(generate_series(1, len(t))) u(i)
  ),
  be_t AS (
    SELECT doc_id, pos,
           list_filter(string_split({be_expr}, {u}), x -> x <> '') AS toks
    FROM be_w
  ),
  be_d AS (
    SELECT doc_id, flatten(list(toks ORDER BY pos)) AS ft
    FROM be_t GROUP BY doc_id
  )
  SELECT d.doc_id,
         coalesce(len(b.ft), 0)::BIGINT AS bpe_enc_n,
         md5(coalesce(array_to_string(b.ft, ' '), '')) AS bpe_enc_fp,
         coalesce(list_sum(list_transform(b.ft, t -> {be_id_case})),
                  0)::BIGINT AS bpe_enc_idsum
  FROM documents d LEFT JOIN be_d b USING (doc_id)
"""
    # WordPiece-encode replay (fixed literal vocab — see the query
    # docstring): a RECURSIVE CTE over the corpus's DISTINCT words
    # (mirroring the engine, which segments distinct words and joins
    # back) — each step appends the LONGEST vocab piece matching at
    # the cursor (## continuation off word start); best = 0 means no
    # cover → the whole word is [UNK], the BERT semantics
    wp_vl = "[" + ", ".join("'" + p + "'" for p in _WP_GATE_VOCAB) + "]"
    wp_sql = rf"""
  WITH RECURSIVE wp_words AS (
    SELECT DISTINCT w FROM (
      SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
      FROM documents) WHERE w <> ''
  ),
  wp(w, p, toks, bad) AS (
    SELECT w, 0, []::varchar[], len(w) > 100 FROM wp_words
    UNION ALL
    SELECT w, p + best, CASE WHEN best > 0 THEN list_append(toks,
             CASE WHEN p = 0 THEN substr(w, 1, best)
                  ELSE '##' || substr(w, p + 1, best) END) ELSE toks END,
           best = 0
    FROM (
      SELECT w, p, toks,
             coalesce(list_max(list_filter(
               generate_series(1, len(w) - p), l -> list_contains({wp_vl},
                 CASE WHEN p = 0 THEN substr(w, 1, l)
                      ELSE '##' || substr(w, p + 1, l) END))), 0) AS best
      FROM wp WHERE NOT bad AND p < len(w)
    )
  ),
  wp_seg AS (
    SELECT w, CASE WHEN bad THEN ['[UNK]'] ELSE toks END AS toks
    FROM wp WHERE bad OR p = len(w)
  ),
  wp_stream AS (
    SELECT doc_id, i AS pos, t[i] AS w
    FROM (SELECT doc_id,
                 list_filter(string_split_regex(trim(lower(text)), '\s+'),
                             x -> x <> '') AS t
          FROM documents), unnest(generate_series(1, len(t))) u(i)
  ),
  wp_doc AS (
    SELECT doc_id, flatten(list(toks ORDER BY pos)) AS ft
    FROM wp_stream JOIN wp_seg USING (w) GROUP BY doc_id
  )
  SELECT d.doc_id,
         coalesce(len(b.ft), 0)::BIGINT AS wp_enc_n,
         coalesce(len(list_filter(b.ft, x -> x = '[UNK]')), 0)::BIGINT
           AS wp_enc_unk,
         md5(coalesce(array_to_string(b.ft, ' '), '')) AS wp_enc_fp
  FROM documents d LEFT JOIN wp_doc b USING (doc_id)
"""
    # unigram Viterbi replay (fixed literal dyadic-logp vocab — see the
    # query docstring): recursive CTE carries the FULL alpha array per
    # step; candidates at prefix jj scan i ascending through a
    # sentinel-seeded list_reduce with strict > (the engine's first-max
    # tie-break: longer piece, then leftmost); a second recursive CTE
    # walks the backpointers. All arithmetic is dyadic → bit-exact.
    un_lp = ("CASE substr(w, i + 1, jj - i) "
             + " ".join(f"WHEN '{p}' THEN CAST({lp} AS DOUBLE)"
                        for p, lp in _UN_GATE_PIECES.items())
             + f" ELSE CASE WHEN jj - i = 1 THEN "
               f"CAST({_UN_GATE_UNK} AS DOUBLE) END END")
    un_sql = rf"""
  WITH RECURSIVE un_words AS (
    SELECT DISTINCT w FROM (
      SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
      FROM documents) WHERE w <> ''
  ),
  una(w, j, alphas) AS (
    SELECT w, 0, [{{'s': CAST(0.0 AS DOUBLE), 'b': -1}}] FROM un_words
    UNION ALL
    SELECT w, jj,
           list_append(alphas, (
             SELECT best FROM (
               SELECT list_reduce(
                 list_prepend({{'s': CAST(-1e30 AS DOUBLE), 'b': -1}},
                   list_transform(generate_series(0, jj - 1), i ->
                     CASE WHEN alphas[i + 1].s > CAST(-1e29 AS DOUBLE)
                               AND ({un_lp}) IS NOT NULL
                          THEN {{'s': alphas[i + 1].s + ({un_lp}),
                                'b': i}}
                          ELSE {{'s': CAST(-1e30 AS DOUBLE), 'b': -1}}
                          END)),
                 (acc, c) -> CASE WHEN c.s > acc.s THEN c ELSE acc END)
                 AS best
             )
           ))
    FROM (SELECT w, j + 1 AS jj, alphas FROM una WHERE j < len(w))
  ),
  unb(w, pos, ps, alphas) AS (
    SELECT w, len(w), []::varchar[], alphas FROM una WHERE j = len(w)
    UNION ALL
    SELECT w, alphas[pos + 1].b,
           list_prepend(substr(w, alphas[pos + 1].b + 1,
                               pos - alphas[pos + 1].b), ps),
           alphas
    FROM unb WHERE pos > 0
  ),
  un_seg AS (
    SELECT w, ps, round(alphas[len(w) + 1].s, 6) AS score
    FROM unb WHERE pos = 0
  ),
  un_stream AS (
    SELECT doc_id, i AS pos, t[i] AS w
    FROM (SELECT doc_id,
                 list_filter(string_split_regex(trim(lower(text)), '\s+'),
                             x -> x <> '') AS t
          FROM documents), unnest(generate_series(1, len(t))) u(i)
  ),
  un_doc AS (
    SELECT doc_id,
           flatten(list(ps ORDER BY pos)) AS ft,
           round(sum(CAST(round(score * 1e10) AS BIGINT)) / 1e10, 6) AS lp
    FROM un_stream JOIN un_seg USING (w) GROUP BY doc_id
  )
  SELECT d.doc_id,
         coalesce(len(b.ft), 0)::BIGINT AS un_enc_n,
         coalesce(CAST(round(b.lp * 1e6) AS BIGINT), 0) AS un_enc_lp6,
         md5(coalesce(array_to_string(b.ft, ' '), '')) AS un_enc_fp
  FROM documents d LEFT JOIN un_doc b USING (doc_id)
"""
    # BYTE-LEVEL (GPT-2-mode) encode replay — see _ble_enc_cols: the
    # engine runs on printable-ASCII-restricted text (single interior
    # spaces), the domain where (a) byte→unicode is identity except
    # space→Ġ, so symbols replay as characters, and (b) the published
    # pre-tokenizer's \s+(?!\S) lookahead branch never fires, so this
    # lookahead-free RE2 pattern matches the engine's Java regex
    # token-for-token. Merges replay as the same two-pass replace chain
    # as be_sql (a != b throughout). No EOW marker in byte mode — the
    # leading Ġ plays that role.
    ub = "chr(31)"
    ble_expr = (
        f"{ub} || array_to_string(string_split("
        f"replace(w, ' ', 'Ġ'), ''), {ub}) || {ub}"
    )
    for a, b in _BLE_GATE_MERGES:
        pat = f"{ub} || '{a}' || {ub} || '{b}' || {ub}"
        rep = f"{ub} || '{a}{b}' || {ub}"
        ble_expr = f"replace(replace({ble_expr}, {pat}, {rep}), {pat}, {rep})"
    ble_pre = r"''(s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^ A-Za-z0-9]+"
    ble_sql = rf"""
  WITH ble_w AS (
    SELECT doc_id, i AS pos, t[i] AS w
    FROM (SELECT doc_id,
                 regexp_extract_all(
                   trim(regexp_replace(regexp_replace(substr(text, 1, 600),
                                                      '[^ -~]', '', 'g'),
                                       ' +', ' ', 'g')),
                   '{ble_pre}') AS t
          FROM documents), unnest(generate_series(1, len(t))) u(i)
  ),
  ble_t AS (
    SELECT doc_id, pos,
           list_filter(string_split({ble_expr}, {ub}), x -> x <> '') AS toks
    FROM ble_w
  ),
  ble_d AS (
    SELECT doc_id, flatten(list(toks ORDER BY pos)) AS ft
    FROM ble_t GROUP BY doc_id
  )
  SELECT d.doc_id,
         coalesce(len(b.ft), 0)::BIGINT AS ble_enc_n,
         md5(coalesce(array_to_string(b.ft, ' '), '')) AS ble_enc_fp
  FROM documents d LEFT JOIN ble_d b USING (doc_id)
"""
    return rf"""
SELECT __base.*, __sm.lang_trained, __sm.lang_trained_s6,
       __be.bpe_enc_n, __be.bpe_enc_fp, __be.bpe_enc_idsum,
       __wp.wp_enc_n, __wp.wp_enc_unk, __wp.wp_enc_fp,
       __un.un_enc_n, __un.un_enc_lp6, __un.un_enc_fp,
       __ble.ble_enc_n, __ble.ble_enc_fp
FROM (
SELECT doc_id,
       len({toks}) AS n_tokens,
       len(list_distinct({toks})) AS n_unique_tokens,
       length(text) AS n_chars_actual,
       len(list_filter({toks}, x -> x IN ({_STOPWORDS}))) AS stopword_cnt,
       round(cast(len(list_filter({toks}, x -> x IN ({_STOPWORDS}))) as double)
             / len({toks}), 6) AS stopword_ratio,
       length(regexp_replace(text, '[^a-z]', '', 'g')) AS alpha_chars,
       round(cast(length(replace(text, ' ', '')) as double) / len({toks}), 6) AS mean_token_len,
       lang AS actual_lang,
       {vote_cols},
       {guess} AS guessed_lang,
       md5(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'))) AS norm_fp,
       md5(array_to_string(list_sort({toks}), ' ')) AS sorted_fp,
       cast({bpe} as bigint) AS n_bpe_tokens,
       round(cast({bpe} as double) / len({toks}), 6) AS bpe_ratio,
       {script_cols}
FROM (SELECT *, {synth} AS text2 FROM documents) d2
) __base
JOIN ({sm_sql}) __sm USING (doc_id)
JOIN ({be_sql}) __be USING (doc_id)
JOIN ({wp_sql}) __wp USING (doc_id)
JOIN ({un_sql}) __un USING (doc_id)
JOIN ({ble_sql}) __ble USING (doc_id)
"""


O_TEXT_DOC_STATS = _o_text_doc_stats()


def q_text_curation_assign(spark, sf):
    """Deterministic corpus partitioning suite: salted-hash train/val/test
    split assignment, per-domain stratified downsampling, the RefinedWeb
    per-stratum quota cap (`curation.cap_per_stratum` — top-10 per source
    by hashed order, rank packed into the bucket payload), the seeded
    shuffle-order / shard assignment (`curation.shuffle_order`, 8
    shards), the C4/RefinedWeb-style per-source profile + keep verdict
    (`curation.source_stats` — integer-grid quality sums, short_frac
    <= 0.44 bar), and the UniMax per-language budget allocation
    (`curation.unimax_allocation`, Chung et al. 2023 — pure-integer
    waterfilling at half the total 2-epoch capacity; the budget scalar
    is a one-row driver aggregate, metadata not data), plus the
    materialized epoch expansion (`curation.materialize_epochs` — full
    epochs repeat, the fractional remainder hash-samples one extra
    copy; pure projection + bounded explode), URL canonicalization
    + URL-level dedup verdicts (`curation.canonical_url`/`url_dedup` —
    scheme/host lowering, www/userinfo/default-port/fragment stripping,
    slash collapsing, tracking-param removal + param sort, groupBy
    min-id keep; URLs synthesized deterministically from doc_id/source
    to cover every normalization axis), and the GPT-3 Pareto quality
    admission (`curation.pareto_keep`, Brown et al. 2020 §A — the
    deterministic Lomax draw from md5(salt||id) vs 1-score, replayed
    value-for-value in DuckDB via '0x'-hex casting; scores synthesized
    as (doc_id%100)/99 to sweep the whole admission curve), and the
    trained-classifier SCORING hop (`curation.lr_classify` under a
    FIXED literal weight vector — training is iterative and
    differential-tested in pytest, but scoring a saved model is one
    explode + groupBy + broadcast join and fully SQL-expressible: the
    oracle rebuilds the md5-hashed 1..2-gram tf vector, replays the
    closed-form weights w(b) = ((b*37) % 201 - 100)/100 and the
    sigmoid, and compares on the 1e-6 integer grid), as one tagged
    union. Parts: text_split_assign, text_stratified_sample,
    text_cap_per_stratum, text_shuffle_order, srcstats, unimax,
    epochs, urlnorm, pareto, lrscore."""
    from mallarddv_spark.operators.curation import (
        cap_per_stratum,
        lang_token_counts,
        lr_classify,
        materialize_epochs,
        pareto_keep,
        shuffle_order,
        source_stats,
        unimax_allocation,
        url_dedup,
    )

    d = _t(spark, sf, "documents")

    # The UniMax chain runs eager jobs at construction time (the shared
    # lang-token checkpoint, the budget scalar, materialize_epochs'
    # alloc collect); everything else is pure driver/py4j construction.
    # Four pooled futures overlap them (guide §2.6); expressions and
    # union order unchanged.
    from concurrent.futures import ThreadPoolExecutor

    def _p_assign():
        s = q_text_split_assign(spark, sf).select(
            F.lit("split").alias("part"),
            "doc_id",
            F.col("split").alias("label"),
            F.col("split_bucket").alias("bucket"),
        )
        t = q_text_stratified_sample(spark, sf).select(
            F.lit("sample").alias("part"),
            "doc_id",
            F.col("domain").alias("label"),
            F.col("sample_bucket").alias("bucket"),
        )
        c = cap_per_stratum(d, "source", "doc_id", 10).select(
            F.lit("cap").alias("part"),
            "doc_id",
            F.col("source").alias("label"),
            F.concat_ws(":", "cap_bucket", "cap_rank").alias("bucket"),
        )
        o = shuffle_order(d, "doc_id", shards=8).select(
            F.lit("order").alias("part"),
            "doc_id",
            F.col("shard").cast("string").alias("label"),
            F.col("order_bucket").alias("bucket"),
        )
        return s, t, c, o

    def _p_unimax():
        # ONE materialization of the per-language token totals: lt's
        # corpus scan (token_count projection + groupBy(lang)) otherwise
        # runs three times per invocation — the eager total_cap aggregate
        # here, the eager alloc.collect() inside materialize_epochs, and
        # the `unimax` part's subtree at action time. Interleaved A/B at
        # sf0.1 is a wash (5.70 vs 5.89 s min — the 2-column scan is
        # page-cached and the redundant subtrees back-fill idle cores
        # locally), but at corpus scale three full passes for one
        # language-table-sized result is the structural loss, so the
        # checkpoint stays. Eager inside the timed call; fresh RDD per
        # invocation.
        lt = lang_token_counts(d).localCheckpoint(eager=True)
        total_cap = lt.agg(
            F.sum(F.col("n_tokens") * 2).cast("bigint")
        ).first()[0]
        alloc = unimax_allocation(lt, int(total_cap) // 2, max_epochs=2)
        um = alloc.select(
            F.lit("unimax").alias("part"),
            F.col("n_tokens").alias("doc_id"),
            F.col("lang").alias("label"),
            F.concat_ws(
                ":",
                F.col("capacity"),
                F.col("allocated"),
                F.when(F.col("capped"), F.lit(1)).otherwise(F.lit(0)),
            ).alias("bucket"),
        )
        ep = materialize_epochs(d, alloc).select(
            F.lit("epochs").alias("part"),
            "doc_id",
            F.col("lang").alias("label"),
            F.col("epoch").cast("string").alias("bucket"),
        )
        return um, ep

    def _p_stats():
        ss = source_stats(d, short_tokens=50).select(
            F.lit("srcstats").alias("part"),
            F.col("n_docs").alias("doc_id"),
            F.col("source").alias("label"),
            F.concat_ws(
                ":",
                F.col("n_tokens"),
                F.col("n_short"),
                F.col("sum_q6"),
                F.when(F.col("short_frac") <= 0.44, F.lit(1))
                .otherwise(F.lit(0)),
            ).alias("bucket"),
        )
        un = url_dedup(
            d.withColumn("url", F.expr(URLNORM_SYNTH)), "doc_id", "url"
        ).select(
            F.lit("urlnorm").alias("part"),
            F.col("id").alias("doc_id"),
            F.coalesce("canonical_url", F.lit("~none")).alias("label"),
            F.when(F.col("keep"), F.lit("1")).otherwise(F.lit("0"))
            .alias("bucket"),
        )
        pscore = (F.col("doc_id") % 100) / F.lit(99.0)
        pk = pareto_keep(pscore, F.col("doc_id"), alpha=9.0, salt="pareto-v1")
        pp = d.select(
            F.lit("pareto").alias("part"),
            "doc_id",
            (F.col("doc_id") % 100).cast("string").alias("label"),
            F.when(pk, F.lit("1")).otherwise(F.lit("0")).alias("bucket"),
        )
        return ss, un, pp

    def _p_lr():
        # lrscore: score every document under a FIXED literal LR model —
        # the closed-form weights make the scoring hop (not the training)
        # the thing under test, exactly replayable in SQL
        lw = spark.range(1024).select(
            F.col("id").cast("int").alias("bucket"),
            (((F.col("id") * 37) % 201 - 100) / F.lit(100.0)).alias("w"),
        )
        lmodel = {
            "weights": lw, "bias": 0.25, "buckets": 1024,
            "n_max": 2, "hash_mode": "md5", "lowercase": True,
        }
        # even-id half only: the scoring machinery is identical on any
        # slice (and the md5 gram space is already exercised corpus-wide
        # by the lang_trained columns of text_doc_stats); the explode is
        # the part's whole cost, so the cut halves it — measured 2.15 s
        # -> ~1.1 s at sf0.1. Input trims are a LAST RESORT governed by
        # the policy in COVERAGE.md ("Gate-input-trim policy"): allowed
        # only with a corpus-wide-gated twin of the same machinery,
        # documented here.
        return lr_classify(
            d.filter(F.pmod("doc_id", F.lit(2)) == 0), "doc_id", "text",
            lmodel,
        ).select(
            F.lit("lrscore").alias("part"),
            "doc_id",
            F.when(F.col("predicted"), F.lit("1")).otherwise(F.lit("0"))
            .alias("label"),
            F.round(F.col("score") * 1e6).cast("bigint").cast("string")
            .alias("bucket"),
        )

    with ThreadPoolExecutor(max_workers=4) as pool:
        f_um = pool.submit(_p_unimax)  # first: runs eager jobs
        f_as = pool.submit(_p_assign)
        f_st = pool.submit(_p_stats)
        f_lr = pool.submit(_p_lr)
        s, t, c, o = f_as.result()
        ss, un, pp = f_st.result()
        lp = f_lr.result()
        um, ep = f_um.result()
    return (
        s.unionByName(t).unionByName(c).unionByName(o)
        .unionByName(ss).unionByName(um).unionByName(ep).unionByName(un)
        .unionByName(pp).unionByName(lp)
    )


# Deterministic URL synthesis for the urlnorm part — identical text in
# Spark SQL and DuckDB (documents.parquet carries no URL column, the
# PII-injection precedent). The five cases cover: scheme/host case +
# www + default port + double slash + trailing slash + fragment +
# tracking params + param order (0), a clean already-canonical form
# (1), userinfo + :443 + trailing slash (2), param reordering +
# fbclid/ref stripping (3 — collapses with 0 per source), and a
# non-URL (4 — NULL canonical, always kept).
URLNORM_SYNTH = """CASE CAST(doc_id % 5 AS INT)
 WHEN 0 THEN 'HTTP://WWW.' || source || '.Example.com:80//a//b/?utm_source=feed&z=1&a=2#frag'
 WHEN 1 THEN 'https://' || source || '.example.com/a/b'
 WHEN 2 THEN 'https://user@' || source || '.Example.COM:443/a/b/'
 WHEN 3 THEN 'http://' || source || '.example.com/a//b?z=1&a=2&fbclid=xyz&ref=tw'
 ELSE 'not a url ' || CAST(doc_id AS STRING) END"""


O_TEXT_CURATION_ASSIGN = (
    "SELECT 'split' AS part, doc_id, split AS label, split_bucket AS bucket\nFROM ("
    + O_TEXT_SPLIT
    + ") s\nUNION ALL\nSELECT 'sample' AS part, doc_id, domain AS label, sample_bucket AS bucket\nFROM ("
    + O_TEXT_STRAT
    + ") t\nUNION ALL\n"
    + """
SELECT 'cap' AS part, doc_id, source AS label,
       cap_bucket || ':' || cast(cap_rank AS varchar) AS bucket
FROM (
  SELECT doc_id, source, cap_bucket,
         row_number() OVER (PARTITION BY source
                            ORDER BY cap_bucket, doc_id) AS cap_rank
  FROM (
    SELECT doc_id, source,
           substr(md5('cap-v1' || cast(doc_id AS varchar)), 1, 8) AS cap_bucket
    FROM documents) hb
) ranked
WHERE cap_rank <= 10
UNION ALL
SELECT 'order' AS part, doc_id,
       cast((('0x' || order_bucket)::bigint) % 8 AS varchar) AS label,
       order_bucket AS bucket
FROM (
  SELECT doc_id,
         substr(md5('shuffle-v1' || cast(doc_id AS varchar)), 1, 8)
           AS order_bucket
  FROM documents) ob
"""
    + rf"""
UNION ALL
SELECT 'srcstats' AS part, n_docs AS doc_id, source AS label,
       cast(n_tokens AS varchar) || ':' || cast(n_short AS varchar)
       || ':' || cast(sum_q6 AS varchar) || ':' ||
       CASE WHEN round(cast(n_short AS double) / n_docs, 6) <= 0.44
            THEN '1' ELSE '0' END AS bucket
FROM (
  WITH src_per AS (
    SELECT source,
           len(string_split_regex(trim(text), '\s+')) AS nt,
           round(round(
             least(round(cast(len(list_filter(string_split_regex(trim(text), '\s+'),
                              x -> x IN ({_STOPWORDS}))) AS double)
                   / len(string_split_regex(trim(text), '\s+')), 6) * 4.0,
                   1.0) * 0.4
             + (CASE WHEN length(text) > 0 THEN
                  round(cast(length(regexp_replace(lower(text), '[^a-z]', '', 'g')) AS double)
                        / length(text), 6)
                ELSE 0.0 END) * 0.4
             + (CASE WHEN round(cast(length(replace(text, ' ', '')) AS double)
                         / len(string_split_regex(trim(text), '\s+')), 6)
                       BETWEEN 2.0 AND 12.0
                THEN 1.0 ELSE 0.5 END) * 0.2, 6) * 1e6)::BIGINT AS q6
    FROM documents
  )
  SELECT source, count(*)::BIGINT AS n_docs, sum(nt)::BIGINT AS n_tokens,
         sum(CASE WHEN nt < 50 THEN 1 ELSE 0 END)::BIGINT AS n_short,
         sum(q6)::BIGINT AS sum_q6
  FROM src_per GROUP BY source
) src_agg
UNION ALL
SELECT 'unimax' AS part, n_tokens AS doc_id, lang AS label,
       cast(capacity AS varchar) || ':' ||
       cast((CASE WHEN i <= k THEN capacity
                  WHEN l = k THEN capacity
                  ELSE least(capacity, (b - sk) // (l - k)) END)::BIGINT
            AS varchar)
       || ':' || CASE WHEN i <= k THEN '1' ELSE '0' END AS bucket
FROM (
  WITH um_lt AS (
    SELECT lang,
           sum(len(string_split_regex(trim(text), '\s+')))::BIGINT AS n_tokens
    FROM documents GROUP BY lang
  ),
  um_base AS (
    SELECT lang, n_tokens, (n_tokens * 2)::BIGINT AS capacity FROM um_lt
  ),
  um_bud AS (
    SELECT ((sum(capacity)::BIGINT) // 2)::BIGINT AS b FROM um_base
  ),
  um_rk AS (
    SELECT lang, n_tokens, capacity,
           row_number() OVER (ORDER BY capacity, lang) AS i,
           sum(capacity) OVER (ORDER BY capacity, lang
                               ROWS UNBOUNDED PRECEDING)::BIGINT AS s,
           count(*) OVER ()::BIGINT AS l
    FROM um_base
  ),
  um_fk AS (
    SELECT max(CASE WHEN capacity * (l - i) <= b - s AND s <= b
               THEN i ELSE 0 END)::BIGINT AS k
    FROM um_rk, um_bud
  ),
  um_sk AS (
    SELECT coalesce(max(CASE WHEN i = k THEN s END), 0)::BIGINT AS sk
    FROM um_rk, um_fk
  )
  SELECT rk.*, b, k, sk FROM um_rk rk, um_bud, um_fk, um_sk
) um
UNION ALL
SELECT 'epochs' AS part, d.doc_id, d.lang AS label,
       cast(gs.e AS varchar) AS bucket
FROM (
  WITH ep_lt AS (
    SELECT lang,
           sum(len(string_split_regex(trim(text), '\s+')))::BIGINT AS n_tokens
    FROM documents GROUP BY lang
  ),
  ep_base AS (
    SELECT lang, n_tokens, (n_tokens * 2)::BIGINT AS capacity FROM ep_lt
  ),
  ep_bud AS (
    SELECT ((sum(capacity)::BIGINT) // 2)::BIGINT AS b FROM ep_base
  ),
  ep_rk AS (
    SELECT lang, n_tokens, capacity,
           row_number() OVER (ORDER BY capacity, lang) AS i,
           sum(capacity) OVER (ORDER BY capacity, lang
                               ROWS UNBOUNDED PRECEDING)::BIGINT AS s,
           count(*) OVER ()::BIGINT AS l
    FROM ep_base
  ),
  ep_fk AS (
    SELECT max(CASE WHEN capacity * (l - i) <= b - s AND s <= b
               THEN i ELSE 0 END)::BIGINT AS k
    FROM ep_rk, ep_bud
  ),
  ep_sk AS (
    SELECT coalesce(max(CASE WHEN i = k THEN s END), 0)::BIGINT AS sk
    FROM ep_rk, ep_fk
  ),
  ep_alloc AS (
    SELECT lang, n_tokens,
           (CASE WHEN i <= k THEN capacity
                 WHEN l = k THEN capacity
                 ELSE least(capacity, (b - sk) // (l - k)) END)::BIGINT
             AS allocated
    FROM ep_rk, ep_bud, ep_fk, ep_sk
  )
  SELECT lang,
         (allocated // n_tokens)::BIGINT AS full_epochs,
         printf('%04x',
                (((allocated - (allocated // n_tokens) * n_tokens) * 65536)
                 // n_tokens)::BIGINT) AS thr
  FROM ep_alloc
) ea
JOIN documents d ON d.lang = ea.lang
CROSS JOIN (VALUES (1), (2), (3)) gs(e)
WHERE gs.e <= ea.full_epochs
      + CASE WHEN substr(md5('epochs-v1' || cast(d.doc_id AS varchar)), 1, 4)
                  < ea.thr
             THEN 1 ELSE 0 END
UNION ALL
SELECT 'urlnorm' AS part, id AS doc_id, coalesce(c, '~none') AS label,
       CASE WHEN c IS NULL OR id = min(id) OVER (PARTITION BY c)
            THEN '1' ELSE '0' END AS bucket
FROM (
  WITH uu AS (
    SELECT doc_id AS id,
           CASE CAST(doc_id % 5 AS INT)
            WHEN 0 THEN 'HTTP://WWW.' || source || '.Example.com:80//a//b/?utm_source=feed&z=1&a=2#frag'
            WHEN 1 THEN 'https://' || source || '.example.com/a/b'
            WHEN 2 THEN 'https://user@' || source || '.Example.COM:443/a/b/'
            WHEN 3 THEN 'http://' || source || '.example.com/a//b?z=1&a=2&fbclid=xyz&ref=tw'
            ELSE 'not a url ' || CAST(doc_id AS VARCHAR) END AS url
    FROM documents),
  up2 AS (
    SELECT id,
      lower(regexp_extract(regexp_extract(url, '^([^#]*)', 1),
            '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
      regexp_replace(lower(regexp_extract(regexp_extract(url, '^([^#]*)', 1),
            '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)), '^[^@]*@', '') AS host0,
      regexp_replace(regexp_extract(regexp_extract(url, '^([^#]*)', 1),
            '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1),
            '//+', '/', 'g') AS path0,
      regexp_extract(regexp_extract(url, '^([^#]*)', 1),
            '^[^?]*\?(.*)$', 1) AS uq
    FROM uu),
  up3 AS (
    SELECT id, scheme,
      CASE WHEN scheme = 'http' THEN regexp_replace(h1, ':80$', '')
           WHEN scheme = 'https' THEN regexp_replace(h1, ':443$', '')
           ELSE h1 END AS host,
      CASE WHEN p1 = '' THEN '/' ELSE p1 END AS path,
      coalesce(array_to_string(list_sort(list_filter(string_split(uq, '&'),
        x -> x <> '' AND NOT (starts_with(x, 'utm_')
             OR split_part(x, '=', 1) IN ('fbclid', 'gclid', 'ref')))),
        '&'), '') AS q
    FROM (SELECT *, regexp_replace(host0, '^www\.', '') AS h1,
                 regexp_replace(path0, '/$', '') AS p1 FROM up2))
  SELECT id, CASE WHEN scheme = '' THEN NULL
         ELSE scheme || '://' || host || path ||
              CASE WHEN q = '' THEN '' ELSE '?' || q END END AS c
  FROM up3
) uc
UNION ALL
SELECT 'pareto' AS part, doc_id,
       cast(doc_id % 100 AS varchar) AS label,
       CASE WHEN pow(1.0 - u, -0.1111111111111111) - 1.0
                 > 1.0 - ((doc_id % 100) / 99.0)
            THEN '1' ELSE '0' END AS bucket
FROM (
  SELECT doc_id,
         cast(('0x' || substring(md5('pareto-v1' || cast(doc_id AS varchar)),
                                 1, 15)) AS BIGINT)::DOUBLE
         / 1152921504606846976.0 AS u
  FROM documents) pu
UNION ALL
SELECT 'lrscore' AS part, doc_id,
       CASE WHEN score > 0.5 THEN '1' ELSE '0' END AS label,
       cast(cast(round(score * 1e6) AS bigint) AS varchar) AS bucket
FROM (
  WITH lr_toks AS (
    SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
    FROM documents
  ),
  lr_grams AS (
    SELECT doc_id, w AS g FROM (
      SELECT doc_id, unnest(t) AS w FROM lr_toks) WHERE g <> ''
    UNION ALL
    SELECT doc_id, t[i] || ' ' || t[i+1] AS g
    FROM lr_toks, unnest(generate_series(1, len(t) - 1)) u(i)
  ),
  lr_fcnt AS (
    SELECT doc_id,
           (('0x' || substr(md5(g),1,15))::BIGINT) % 1024 AS b,
           count(*) AS cnt
    FROM lr_grams GROUP BY 1, 2
  ),
  lr_tot AS (SELECT doc_id, sum(cnt) AS tt FROM lr_fcnt GROUP BY 1),
  lr_marg AS (
    SELECT f.doc_id,
           sum((cast(f.cnt AS DOUBLE) / t.tt)
               * (((f.b * 37) % 201 - 100) / 100.0)) AS s
    FROM lr_fcnt f JOIN lr_tot t USING (doc_id) GROUP BY 1
  )
  SELECT d.doc_id,
         1.0 / (1.0 + exp(-(coalesce(m.s, 0.0) + 0.25))) AS score
  FROM documents d LEFT JOIN lr_marg m USING (doc_id)
  WHERE d.doc_id % 2 = 0
) lsc
"""
)


def q_text_chunking_winnow(spark, sf):
    """Per-document derived-sequence suite: overlapping token-window training
    chunks, winnowing (MOSS) fingerprint index, corpus-level line
    dedup, exact-substring shared-run spans, and HTML→text extraction
    (`curation.html_to_text` over a deterministic HTML wrapper of each
    document — script/style/comment drop, block tags → newlines,
    entity decode, whitespace discipline — every regexp in the
    RE2-compatible subset, replayed step-for-step in DuckDB), as one
    tagged union. Parts: text_chunking, text_winnow_fingerprints,
    text_line_dedup, text_substring_spans, htmltext."""
    # five independent parts; constructors pooled (guide §2.6),
    # expressions and union order unchanged
    from concurrent.futures import ThreadPoolExecutor

    def _p_c():
        return q_text_chunking(spark, sf).select(
            F.lit("chunk").alias("part"),
            "doc_id",
            F.col("chunk_idx").alias("idx"),
            F.col("chunk_text").alias("payload"),
            F.col("chunk_tokens").alias("n_tokens"),
            *_nulls(("d1", "double")),
        )

    def _p_w():
        return q_text_winnow_fingerprints(spark, sf).select(
            F.lit("winnow").alias("part"),
            "doc_id",
            *_nulls(("idx", "bigint")),
            F.col("fp").alias("payload"),
            *_nulls(("n_tokens", "bigint"), ("d1", "double")),
        )

    def _p_ld():
        return q_text_line_dedup(spark, sf).select(
            F.lit("linededup").alias("part"),
            "doc_id",
            F.col("lines_dropped").alias("idx"),
            F.col("clean_text").alias("payload"),
            F.col("lines_kept").alias("n_tokens"),
            F.col("dup_line_frac").alias("d1"),
        )

    def _p_ss():
        return q_text_substring_spans(spark, sf).select(
            F.lit("substr").alias("part"),
            F.col("doc_a").alias("doc_id"),
            F.col("doc_b").alias("idx"),
            F.concat_ws(":", "start_a", "start_b").alias("payload"),
            F.col("run_tokens").alias("n_tokens"),
            *_nulls(("d1", "double")),
        )

    def _p_ht():
        from mallarddv_spark.operators.curation import html_to_text

        d = _t(spark, sf, "documents")
        return d.withColumn("__html", F.expr(HTMLTEXT_SYNTH)).select(
            F.lit("htmltext").alias("part"),
            "doc_id",
            *_nulls(("idx", "bigint")),
            html_to_text("__html").alias("payload"),
            F.size(
                F.split(F.trim(F.regexp_replace(html_to_text("__html"),
                                                r"\s+", " ")), " ")
            ).cast("bigint").alias("n_tokens"),
            *_nulls(("d1", "double")),
        )

    with ThreadPoolExecutor(max_workers=5) as pool:
        futs = [pool.submit(f) for f in (_p_c, _p_w, _p_ld, _p_ss, _p_ht)]
        c, w, ld, ss, ht = [f.result() for f in futs]
    return (
        c.unionByName(w).unionByName(ld).unionByName(ss).unionByName(ht)
    )


# Deterministic HTML wrapper for the htmltext part — identical text in
# Spark SQL and DuckDB (the urlnorm synthesis precedent): covers
# script/style blocks with tag-looking payloads, comments, nested
# inline tags, named entities, and a bare '<' that must survive.
HTMLTEXT_SYNTH = (
    "concat('<html><head><script>var x = \"<p>\";</script>"
    "<style>.a .b</style></head><body><h1>Doc ', "
    "CAST(doc_id AS STRING), '</h1><p>', text, "
    "'</p><!-- note --><div>tail &amp;co 1 < 2 &lt;fin&gt;</div>"
    "</body></html>')"
)




def _o_html_expr(col: str) -> str:
    """DuckDB mirror of curation.html_to_text, step for step (RE2
    subset — no backreferences, non-greedy spans only)."""
    expr = col
    for tag in ("script", "style", "noscript"):
        expr = (f"regexp_replace({expr}, "
                f"'(?is)<{tag}[^>]*>.*?</{tag}[^>]*>', ' ', 'g')")
        expr = f"regexp_replace({expr}, '(?is)<{tag}[^>]*>.*', ' ', 'g')"
    expr = f"regexp_replace({expr}, '(?s)<!--.*?-->', ' ', 'g')"
    block = ("p|div|br|li|ul|ol|tr|td|th|table|h1|h2|h3|h4|h5|h6|"
             "section|article|header|footer|blockquote")
    expr = (f"regexp_replace({expr}, '(?is)</?(?:{block})(?:[^>]*)>', "
            f"chr(10), 'g')")
    expr = f"regexp_replace({expr}, '(?s)</?[a-zA-Z!][^>]*>', ' ', 'g')"
    for ent, rep in (("&nbsp;", " "), ("&lt;", "<"), ("&gt;", ">"),
                     ("&quot;", '"'), ("&#39;", "''"), ("&apos;", "''"),
                     ("&amp;", "&")):
        expr = f"replace({expr}, '{ent}', '{rep}')"
    expr = f"regexp_replace({expr}, '[ \\t\\r]+', ' ', 'g')"
    expr = f"regexp_replace({expr}, ' ?\\n[ \\n]*', chr(10), 'g')"
    return f"regexp_replace({expr}, '^\\s+|\\s+$', '', 'g')"


_O_HTML_SYNTH = (
    "concat('<html><head><script>var x = \"<p>\";</script>"
    "<style>.a .b</style></head><body><h1>Doc ', "
    "CAST(doc_id AS VARCHAR), '</h1><p>', text, "
    "'</p><!-- note --><div>tail &amp;co 1 < 2 &lt;fin&gt;</div>"
    "</body></html>')"
)

O_TEXT_CHUNKING_WINNOW = (
    "SELECT 'chunk' AS part, doc_id, chunk_idx AS idx, chunk_text AS payload,"
    " chunk_tokens AS n_tokens, cast(NULL as double) AS d1\nFROM ("
    + O_TEXT_CHUNKING
    + ") c\nUNION ALL\nSELECT 'winnow' AS part, doc_id, cast(NULL as bigint) AS idx,"
    " fp AS payload, cast(NULL as bigint) AS n_tokens, cast(NULL as double) AS d1\nFROM ("
    + O_TEXT_WINNOW
    + ") w\nUNION ALL\nSELECT 'linededup' AS part, doc_id, lines_dropped AS idx,"
    " clean_text AS payload, lines_kept AS n_tokens, dup_line_frac AS d1\nFROM ("
    + O_TEXT_LINE_DEDUP
    + ") ld\nUNION ALL\nSELECT 'substr' AS part, doc_a AS doc_id, doc_b AS idx,"
    " concat(start_a, ':', start_b) AS payload, run_tokens AS n_tokens,"
    " cast(NULL as double) AS d1\nFROM ("
    + O_TEXT_SUBSTR
    + ") ss\nUNION ALL\nSELECT 'htmltext' AS part, doc_id,"
    " cast(NULL as bigint) AS idx, "
    + _o_html_expr(f"({_O_HTML_SYNTH})")
    + " AS payload, len(string_split(trim(regexp_replace("
    + _o_html_expr(f"({_O_HTML_SYNTH})")
    + r", '\s+', ' ', 'g')), ' '))::BIGINT AS n_tokens,"
    " cast(NULL as double) AS d1\nFROM documents"
)


def q_text_hybrid_rerank(spark, sf, bm=None):
    """The two-tier retrieval composition
    (`operators/retrieval.hybrid_rerank_topk`): the inline BM25 top-20
    shortlist for the three fixed queries, re-ranked by embedding cosine
    against the embeddings table (vec_id ≡ doc_id in the synthetic data;
    query vectors borrow vec_id 0/1/2). Ranks order by (cosine desc
    NULLS LAST, BM25 rank, doc_id) — fully deterministic — and the
    cosine expression matches the similarity-suite's proven
    `list_dot_product` replay, so the whole composition is value-exact
    in the oracle. At the gate SFs every shortlist doc has a vector; the
    vectorless-hit/vectorless-query retention semantics are pinned in
    tests/test_retrieval.py."""
    from mallarddv_spark.functions.litframe import literal_frame
    from mallarddv_spark.operators.retrieval import (
        bm25_topk,
        hybrid_rerank_topk,
    )

    if bm is None:
        queries = literal_frame(
            spark, _BM25_QUERIES, "query_id string, query string"
        )
        hits = bm25_topk(_t(spark, sf, "documents"), queries, k=20)
    else:
        hits = bm
    emb = _t(spark, sf, "embeddings")
    doc_vecs = emb.select(F.col("vec_id").alias("doc_id"), "embedding")
    query_vecs = emb.filter("vec_id < 3").select(
        F.expr(
            "CASE vec_id WHEN 0 THEN 'q_hash' WHEN 1 THEN 'q_sort' "
            "ELSE 'q_dup' END"
        ).alias("query_id"),
        "embedding",
    )
    return hybrid_rerank_topk(hits, doc_vecs, query_vecs, k=10).select(
        "query_id",
        "doc_id",
        "cosine",
        F.col("rnk").cast("bigint").alias("rnk"),
    )


O_TEXT_HYBRID = (
    """
WITH bm AS ("""
    + O_TEXT_BM25
    + """),
dv AS (SELECT vec_id AS doc_id, embedding::DOUBLE[] AS v FROM embeddings),
qvv AS (
  SELECT CASE vec_id WHEN 0 THEN 'q_hash' WHEN 1 THEN 'q_sort'
         ELSE 'q_dup' END AS query_id,
         embedding::DOUBLE[] AS v
  FROM embeddings WHERE vec_id < 3
),
hsc AS (
  SELECT bm.query_id, bm.doc_id, bm.rnk AS old_rnk,
         CASE WHEN dv.v IS NOT NULL THEN
           round(list_dot_product(dv.v, qvv.v)
                 / (sqrt(list_dot_product(dv.v, dv.v))
                    * sqrt(list_dot_product(qvv.v, qvv.v))), 6)
         END AS cosine
  FROM bm JOIN qvv USING (query_id) LEFT JOIN dv USING (doc_id)
)
SELECT query_id, doc_id, cosine, rnk FROM (
  SELECT query_id, doc_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC NULLS LAST, old_rnk,
                                     doc_id) AS rnk
  FROM hsc
) x WHERE rnk <= 10
"""
)


def q_text_rrf(spark, sf, bm=None):
    """Reciprocal-rank fusion (`operators/retrieval.rrf_fuse`, Cormack
    et al. 2009) of two heterogeneous retrievers: the inline BM25
    top-20 and the brute-force cosine top-20 (same query-vector
    borrowing as the hybrid part), fused by rank only —
    ``Σ 1/(60 + rank)`` with each term snapped to the 1e-10 integer
    grid, so fused scores and tie-broken ranks replay bit-for-bit. The
    fusion itself is union + one groupBy (never a run-vs-run join) and
    the final cut is WindowGroupLimit-protected (plan-pinned in
    tests/test_retrieval.py). Complements `hybrid`: rerank REPLACES the
    lexical order with cosine; RRF blends both orders without touching
    either score scale."""
    from mallarddv_spark.functions.litframe import literal_frame
    from mallarddv_spark.operators.retrieval import bm25_topk, rrf_fuse
    from mallarddv_spark.operators.similarity import cosine_topk_bruteforce

    if bm is None:
        queries = literal_frame(
            spark, _BM25_QUERIES, "query_id string, query string"
        )
        bm = bm25_topk(_t(spark, sf, "documents"), queries, k=20)
    emb = _t(spark, sf, "embeddings")
    qv = emb.filter("vec_id < 3").select(
        F.expr(
            "CASE vec_id WHEN 0 THEN 'q_hash' WHEN 1 THEN 'q_sort' "
            "ELSE 'q_dup' END"
        ).alias("vec_id"),
        "embedding",
    )
    cos = cosine_topk_bruteforce(qv, emb, k=20).select(
        "query_id",
        F.col("neighbor_id").alias("doc_id"),
        F.col("rank").alias("rnk"),
    )
    return rrf_fuse([bm, cos], k=10).select(
        "query_id",
        "doc_id",
        F.col("n_runs").cast("bigint").alias("n_runs"),
        "rrf_score",
        F.col("rnk").cast("bigint").alias("rnk"),
    )


O_TEXT_RRF = (
    """
WITH bm AS ("""
    + O_TEXT_BM25
    + """),
rqv AS (
  SELECT CASE vec_id WHEN 0 THEN 'q_hash' WHEN 1 THEN 'q_sort'
         ELSE 'q_dup' END AS query_id,
         embedding::DOUBLE[] AS v
  FROM embeddings WHERE vec_id < 3
),
rcv AS (SELECT vec_id AS doc_id, embedding::DOUBLE[] AS v FROM embeddings),
rcos AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id ORDER BY
           round(list_dot_product(rqv.v, rcv.v)
                 / (sqrt(list_dot_product(rqv.v, rqv.v))
                    * sqrt(list_dot_product(rcv.v, rcv.v))), 6) DESC,
           doc_id) AS rnk
  FROM rqv CROSS JOIN rcv QUALIFY rnk <= 20
),
runi AS (
  SELECT query_id, doc_id, round(1e10 / (60 + rnk))::BIGINT AS c10 FROM bm
  UNION ALL
  SELECT query_id, doc_id, round(1e10 / (60 + rnk))::BIGINT FROM rcos
),
ragg AS (
  SELECT query_id, doc_id, count(*)::BIGINT AS n_runs,
         sum(c10)::BIGINT AS s10
  FROM runi GROUP BY 1, 2
)
SELECT query_id, doc_id, n_runs, round(s10 / 1e10, 6) AS rrf_score,
       cast(row_number() OVER (PARTITION BY query_id
                               ORDER BY s10 DESC, doc_id) as bigint) AS rnk
FROM ragg QUALIFY rnk <= 10
"""
)


def q_text_cmfreq(spark, sf, tok_counts=None):
    """Count-min frequency estimation (`functions/sketches.cm_counts` /
    `cm_query`, md5 mode): token-occurrence frequencies for the nine
    distinct words of the fixed BM25 queries, estimated from a d=4,
    w=4096 sketch over the whole corpus token stream and reported next
    to the exact count. The sketch state is pure integers, so the
    estimate replays byte-for-byte in the oracle; the exact column makes
    the never-under-count contract visible in the gate data itself."""
    from mallarddv_spark.functions import sketches as sk

    # tok_counts= injects a shared (tok, cnt) distinct-token frequency
    # frame (e.g. Σ tf over the suite's checkpointed BM25 postings —
    # identical tokenization, identical counts). The sketch is then
    # built via cm_counts' weight_col path: per-cell sums of per-token
    # counts equal per-cell occurrence counts exactly, and the md5 cell
    # hashing drops from 4× per token OCCURRENCE to 4× per DISTINCT
    # token. The exact column reads the same frame.
    if tok_counts is None:
        toks = _t(spark, sf, "documents").select(
            F.explode(
                F.split(F.trim(F.lower("text")), r"\s+")
            ).alias("tok")
        ).filter(F.col("tok") != "")
        tok_counts = toks.groupBy("tok").agg(
            F.count("*").cast("bigint").alias("cnt")
        )
    counts = sk.cm_counts(
        tok_counts, "tok", d=4, w=4096, weight_col="cnt", hash_mode="md5"
    )
    words = sorted({w for _, q in _BM25_QUERIES for w in q.split()})
    from mallarddv_spark.functions.litframe import literal_frame

    probes = literal_frame(spark, [(w,) for w in words], "word string")
    est = sk.cm_query(
        counts, probes, "word", d=4, w=4096, hash_mode="md5"
    )
    exact = tok_counts.select(
        F.col("tok").alias("word"),
        F.col("cnt").cast("bigint").alias("exact_count"),
    )
    return (
        est.join(exact, "word", "left")
        .select(
            "word",
            "est_count",
            F.coalesce("exact_count", F.lit(0)).cast("bigint").alias(
                "exact_count"
            ),
        )
    )


O_TEXT_CMFREQ_TMPL = r"""
WITH ctoks AS (
    SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                              x -> x <> '')) AS tok
    FROM documents
),
cmc AS (
    SELECT i AS row,
           cast((('0x' || substr(md5(i || ':' || tok),1,15))::bigint) % 4096
                as int) AS col,
           count(*) AS cnt
    FROM ctoks, unnest([0, 1, 2, 3]) u(i)
    GROUP BY 1, 2
),
cwords(word) AS (VALUES {words}),
cprobe AS (
    SELECT word, i AS row,
           cast((('0x' || substr(md5(i || ':' || word),1,15))::bigint) % 4096
                as int) AS col
    FROM cwords, unnest([0, 1, 2, 3]) u(i)
),
cest AS (
    SELECT p.word, cast(min(coalesce(c.cnt, 0)) as bigint) AS est_count
    FROM cprobe p LEFT JOIN cmc c USING (row, col)
    GROUP BY p.word
),
cexact AS (SELECT tok AS word, count(*) AS exact_count FROM ctoks GROUP BY 1)
SELECT e.word, e.est_count,
       cast(coalesce(x.exact_count, 0) as bigint) AS exact_count
FROM cest e LEFT JOIN cexact x USING (word)
"""


def _o_text_cmfreq() -> str:
    words = sorted({w for _, q in _BM25_QUERIES for w in q.split()})
    return O_TEXT_CMFREQ_TMPL.format(
        words=", ".join(f"('{w}')" for w in words)
    )


O_TEXT_CMFREQ = _o_text_cmfreq()


def q_text_frequency_suite(spark, sf):
    """Corpus-frequency suite: top-k vocabulary ranking, per-document
    rarity scoring, bigram-LM fluency scoring (train on even ids,
    score odd ids), DSIR importance resampling (hashed-n-gram
    log-ratio weights + Gumbel top-k), hashed-feature Naive Bayes
    classification (train even / classify odd), BM25 lexical retrieval
    (top-20 per fixed query), and the CCNet per-language
    head/middle/tail perplexity split, as one tagged union.
    Parts: text_vocab_topk, text_rarity_score, text_bigram_lm, knlm
    (interpolated Kneser-Ney under the same trained model — the
    KenLM-family smoothing), text_dsir, text_nb_classify, bm25,
    bm25store (the stored-index build→append→probe round-trip, oracled
    by the same inline replay), hybrid (the BM25→cosine rerank
    composition, value-exact in the oracle), rrf (reciprocal-rank
    fusion of the BM25 and cosine runs — rank-only blending on the
    integer grid), cmfreq (count-min token frequencies next to exact
    counts — integer state, byte-exact replay), pplbucket, evalmetrics
    (recall@/MRR/nDCG@10 of the BM25 run against deterministic graded
    qrels — the evaluation tier's first oracle gate; see
    q_text_eval_metrics).

    Suite-level fusion (round 14): the 13 parts used to re-derive the
    same corpus subtrees independently — FOUR inline BM25 runs (each
    paying an eager corpus-totals job + its own postings explode),
    THREE bigram-LM trainings (each with an eager total-tokens job),
    TWO bigram scorings of the odd half, THREE hashed-1..2-gram md5
    explodes (dsir raw/target + nbcls train/classify), TWO
    count-min/exact token explodes and TWO non-lowered vocabulary
    explodes. Each shared subtree is now computed ONCE per suite call,
    localCheckpointed (inside the timed region — nothing persists
    across invocations), and injected into the unchanged part
    functions; independent eager builds run from a small thread pool
    so the tail of one job back-fills with the next (guide §2.6).
    Every part's VALUES are identical by construction — same
    operators, same arithmetic, one materialization."""
    from concurrent.futures import ThreadPoolExecutor

    from mallarddv_spark.functions.litframe import literal_frame
    from mallarddv_spark.operators.curation import (
        hashed_ngram_features,
        vocabulary,
    )
    from mallarddv_spark.operators.retrieval import bm25_topk, build_postings
    from mallarddv_spark.operators.textops import (
        score_bigram_logprob,
        train_bigram_lm,
    )

    d = _t(spark, sf, "documents")
    sc = spark.sparkContext

    def _ckpt_vocab():
        sc.setJobDescription("freqsuite: shared vocabulary")
        return vocabulary(d, "text").localCheckpoint(eager=True)

    def _ckpt_bm25():
        # ONE postings build + ONE totals job feed the bm25, hybrid,
        # rrf, evalmetrics and cmfreq parts (index-mode bm25_topk is
        # the inline computation over the same postings/totals)
        sc.setJobDescription("freqsuite: shared postings + BM25 run")
        postings = build_postings(d).localCheckpoint(eager=True)
        tot = postings.agg(
            F.countDistinct("doc_id").alias("n"),
            F.sum("tf").alias("s"),
        ).first()
        queries = literal_frame(
            spark, _BM25_QUERIES, "query_id string, query string"
        )
        run = bm25_topk(
            None, queries, k=20, postings=postings,
            n_docs=int(tot.n), total_len=int(tot.s),
        ).localCheckpoint(eager=True)
        return postings, run

    def _ckpt_lm():
        sc.setJobDescription("freqsuite: shared bigram LM + scored odd half")
        lmdict = train_bigram_lm(
            d.filter(F.pmod("doc_id", F.lit(2)) == 0), "text"
        )
        lmdict["unigrams"] = lmdict["unigrams"].localCheckpoint(eager=True)
        lmdict["bigrams"] = lmdict["bigrams"].localCheckpoint(eager=True)
        scored = score_bigram_logprob(
            d.filter(F.pmod("doc_id", F.lit(2)) == 1), "doc_id", "text",
            lmdict,
        ).localCheckpoint(eager=True)
        return lmdict, scored

    def _ckpt_feats():
        sc.setJobDescription("freqsuite: shared hashed-gram features")
        f = hashed_ngram_features(
            d.repartition(32), "doc_id", "text", buckets=4096, n_max=2,
            hash_mode="md5", lowercase=True,
        )
        meta = d.select("doc_id", "source", "lang")
        return f.join(meta, "doc_id").localCheckpoint(eager=True)

    def _store():
        # blocks on the shared postings checkpoint, then the whole
        # round-trip is parity filters + writes + the pruned probe —
        # zero corpus tokenizations (previously four: postings + totals
        # for each of build and append)
        sc.setJobDescription("freqsuite: bm25store round-trip")
        return q_text_bm25_store(spark, sf, postings=f_bm.result()[0])

    # Part-frame CONSTRUCTION is itself ~3 s of driver/py4j work (the
    # dominant remainder after the shared-subtree round) and none of it
    # needs the store round-trip: four constructor futures, each keyed
    # on exactly the builder future it consumes, overlap construction
    # with the bm25store chain instead of running serially after it.
    # The union order and every part's expressions are unchanged.
    def _parts_vocab():
        voc = f_voc.result()
        v = q_text_vocab_topk(spark, sf, vocab=voc).select(
            F.lit("vocab").alias("part"),
            F.col("rnk").alias("id"),
            F.col("word").alias("term"),
            F.col("tf").alias("n1"),
            F.col("df").alias("n2"),
            *_nulls(("d1", "double")),
        )
        r = q_text_rarity_score(spark, sf, vocab=voc).select(
            F.lit("rarity").alias("part"),
            F.col("doc_id").alias("id"),
            *_nulls(("term", "string")),
            F.col("n_tokens").alias("n1"),
            F.col("sum_tf").alias("n2"),
            F.col("mean_tf").alias("d1"),
        )
        return v, r

    def _parts_lm():
        lmdict, scored_lm = f_lm.result()
        lm = scored_lm.select(
            F.lit("bigramlm").alias("part"),
            "id",
            *_nulls(("term", "string")),
            F.col("n_bigrams").alias("n1"),
            F.col("n_backoff").alias("n2"),
            F.col("avg_logprob").alias("d1"),
        )
        kn = q_text_knlm(spark, sf, lm=lmdict).select(
            F.lit("knlm").alias("part"),
            "id",
            *_nulls(("term", "string")),
            F.col("n_bigrams").alias("n1"),
            F.col("n_oov_ctx").alias("n2"),
            F.col("avg_logprob").alias("d1"),
        )
        pb = q_text_pplbucket(spark, sf, scored=scored_lm).select(
            F.lit("pplbucket").alias("part"),
            "id",
            F.col("lang_bucket").alias("term"),
            F.col("ppl_bucket").alias("n1"),
            F.col("n_bigrams").alias("n2"),
            F.col("avg_logprob").alias("d1"),
        )
        return lm, kn, pb

    def _parts_feats():
        feats = f_feats.result()
        ds = q_text_dsir(
            spark, sf,
            features=feats.select("doc_id", "bucket", "cnt"),
            target_features=feats.filter(F.col("source") == "src0").select(
                "doc_id", "bucket", "cnt"
            ),
        ).select(
            F.lit("dsir").alias("part"),
            F.col("doc_id").alias("id"),
            *_nulls(("term", "string")),
            F.col("n_grams").alias("n1"),
            F.col("rnk").alias("n2"),
            F.col("gkey").alias("d1"),
        )
        nc = q_text_nb_classify(spark, sf, feats=feats).select(
            F.lit("nbcls").alias("part"),
            F.col("doc_id").alias("id"),
            F.col("predicted").alias("term"),
            F.col("n_grams").alias("n1"),
            F.col("n_seen").alias("n2"),
            F.col("score").alias("d1"),
        )
        return ds, nc

    def _parts_bm():
        postings, bmrun = f_bm.result()
        tokc = postings.groupBy(F.col("term").alias("tok")).agg(
            F.sum("tf").cast("bigint").alias("cnt")
        )
        bm = q_text_bm25(spark, sf, run=bmrun).select(
            F.lit("bm25").alias("part"),
            F.col("doc_id").alias("id"),
            F.col("query_id").alias("term"),
            F.col("rnk").alias("n1"),
            F.col("n_terms").alias("n2"),
            F.col("score").alias("d1"),
        )
        hy = q_text_hybrid_rerank(spark, sf, bm=bmrun).select(
            F.lit("hybrid").alias("part"),
            F.col("doc_id").alias("id"),
            F.col("query_id").alias("term"),
            F.col("rnk").alias("n1"),
            *_nulls(("n2", "bigint")),
            F.col("cosine").alias("d1"),
        )
        rf = q_text_rrf(spark, sf, bm=bmrun).select(
            F.lit("rrf").alias("part"),
            F.col("doc_id").alias("id"),
            F.col("query_id").alias("term"),
            F.col("rnk").alias("n1"),
            F.col("n_runs").alias("n2"),
            F.col("rrf_score").alias("d1"),
        )
        cm = q_text_cmfreq(spark, sf, tok_counts=tokc).select(
            F.lit("cmfreq").alias("part"),
            *_nulls(("id", "bigint")),
            F.col("word").alias("term"),
            F.col("est_count").alias("n1"),
            F.col("exact_count").alias("n2"),
            *_nulls(("d1", "double")),
        )
        em = q_text_eval_metrics(spark, sf, run=bmrun, postings=postings).select(
            F.lit("evalmetrics").alias("part"),
            *_nulls(("id", "bigint")),
            F.concat_ws(":", "metric", "query_id").alias("term"),
            "n1", "n2", "d1",
        )
        return bm, hy, rf, cm, em

    # POOL INVARIANT (do not shrink): max_workers >= submitted tasks —
    # _store blocks on f_bm and the four _parts_* tasks block on their
    # builder futures; with fewer workers than tasks a producer can
    # queue behind its blocked consumer and the pool deadlocks.
    # (Round 15 measured-and-REJECTED: eagerly checkpointing the
    # 12-part union so its execution overlaps the store chain — 15
    # interleaved rounds at sf0.1 showed no win (med 8.22 old vs 8.72
    # new); the union's many tiny stages are scheduler-latency-bound,
    # so overlapping them with the store's small serial jobs does not
    # shorten the critical path, and the checkpoint adds a barrier.)
    with ThreadPoolExecutor(max_workers=9) as pool:
        f_voc = pool.submit(_ckpt_vocab)
        f_bm = pool.submit(_ckpt_bm25)
        f_lm = pool.submit(_ckpt_lm)
        f_feats = pool.submit(_ckpt_feats)
        f_store = pool.submit(_store)
        fp_voc = pool.submit(_parts_vocab)
        fp_lm = pool.submit(_parts_lm)
        fp_feats = pool.submit(_parts_feats)
        fp_bm = pool.submit(_parts_bm)
        v, r = fp_voc.result()
        lm, kn, pb = fp_lm.result()
        ds, nc = fp_feats.result()
        bm, hy, rf, cm, em = fp_bm.result()
        store_df = f_store.result()
    sc.setJobDescription(None)

    bs = store_df.select(
        F.lit("bm25store").alias("part"),
        F.col("doc_id").alias("id"),
        F.col("query_id").alias("term"),
        F.col("rnk").alias("n1"),
        F.col("n_terms").alias("n2"),
        F.col("score").alias("d1"),
    )
    return (
        v.unionByName(r).unionByName(lm).unionByName(kn).unionByName(ds)
        .unionByName(nc).unionByName(bm).unionByName(bs).unionByName(hy)
        .unionByName(rf).unionByName(cm).unionByName(pb).unionByName(em)
    )


def _boot_w_sql() -> str:
    """DuckDB replay of evaluation.bootstrap_ci's Poisson(1) weight:
    the SAME Python-computed inverse-CDF thresholds the operator embeds
    (identical doubles → identical comparisons), over the '0x'-hex
    uniform on the 2^60 grid (the pareto-part precedent; Spark's conv()
    and the ::BIGINT cast parse the same 15 hex chars to the same
    integer)."""
    import math as _math

    u = ("(('0x' || substring(md5('gate-v1' || '|' || "
         "CAST(r.b AS VARCHAR) || '|' || query_id), 1, 15))::BIGINT"
         " / 1152921504606846976.0)")
    cum, acc = [], 0.0
    for k in range(8):
        acc += _math.exp(-1.0) / _math.factorial(k)
        cum.append((k, acc))
    branches = " ".join(f"WHEN {u} < {thr!r} THEN {k}" for k, thr in cum)
    return f"CASE {branches} ELSE 8 END"


_BOOT_W_SQL = _boot_w_sql()


O_TEXT_FREQUENCY = (
    "SELECT 'vocab' AS part, rnk AS id, word AS term, tf AS n1, df AS n2,"
    " cast(NULL as double) AS d1\nFROM ("
    + O_TEXT_VOCAB
    + ") v\nUNION ALL\nSELECT 'rarity' AS part, doc_id AS id, cast(NULL as varchar) AS term,"
    " n_tokens AS n1, sum_tf AS n2, mean_tf AS d1\nFROM ("
    + O_TEXT_RARITY
    + ") r\nUNION ALL\nSELECT 'bigramlm' AS part, id, cast(NULL as varchar) AS term,"
    " n_bigrams AS n1, n_backoff AS n2, avg_logprob AS d1\nFROM ("
    + O_TEXT_BIGRAM_LM
    + ") lm\nUNION ALL\nSELECT 'knlm' AS part, id, cast(NULL as varchar) AS term,"
    " n_bigrams AS n1, n_oov_ctx AS n2, avg_logprob AS d1\nFROM ("
    + O_TEXT_KNLM
    + ") kn\nUNION ALL\nSELECT 'dsir' AS part, doc_id AS id, cast(NULL as varchar) AS term,"
    " n_grams AS n1, rnk AS n2, gkey AS d1\nFROM ("
    + O_TEXT_DSIR
    + ") ds\nUNION ALL\nSELECT 'nbcls' AS part, doc_id AS id, predicted AS term,"
    " n_grams AS n1, n_seen AS n2, score AS d1\nFROM ("
    + O_TEXT_NBCLS
    + ") nc\nUNION ALL\nSELECT 'bm25' AS part, doc_id AS id, query_id AS term,"
    " rnk AS n1, n_terms AS n2, score AS d1\nFROM ("
    + O_TEXT_BM25
    # the stored round-trip (build even half + append odd half, probe the
    # re-read index) must equal the inline computation over the full
    # corpus — its oracle IS the same inline replay
    + ") bm\nUNION ALL\nSELECT 'bm25store' AS part, doc_id AS id, query_id AS term,"
    " rnk AS n1, n_terms AS n2, score AS d1\nFROM ("
    + O_TEXT_BM25
    + ") bs\nUNION ALL\nSELECT 'hybrid' AS part, doc_id AS id, query_id AS term,"
    " rnk AS n1, cast(NULL as bigint) AS n2, cosine AS d1\nFROM ("
    + O_TEXT_HYBRID
    + ") hy\nUNION ALL\nSELECT 'rrf' AS part, doc_id AS id, query_id AS term,"
    " rnk AS n1, n_runs AS n2, rrf_score AS d1\nFROM ("
    + O_TEXT_RRF
    + ") rf\nUNION ALL\nSELECT 'cmfreq' AS part, cast(NULL as bigint) AS id,"
    " word AS term, est_count AS n1, exact_count AS n2,"
    " cast(NULL as double) AS d1\nFROM ("
    + O_TEXT_CMFREQ
    + ") cm\nUNION ALL\nSELECT 'pplbucket' AS part, id, lang_bucket AS term,"
    " ppl_bucket AS n1, n_bigrams AS n2, avg_logprob AS d1\nFROM ("
    + O_TEXT_PPLBUCKET
    + ") pb\nUNION ALL\nSELECT 'evalmetrics' AS part,"
    " cast(NULL as bigint) AS id, metric || ':' || query_id AS term,"
    " n1, n2, d1\nFROM ("
    + r"""
WITH em_run AS (""" + O_TEXT_BM25 + r"""),
em_truth AS (
  SELECT qt.query_id, s.doc_id,
         CAST(least(count(*), 3) AS DOUBLE) AS rel
  FROM (SELECT doc_id,
               unnest(list_filter(string_split_regex(trim(lower(text)),
                                                     '\s+'),
                      x -> x <> '')) AS w
        FROM documents) s
  JOIN (VALUES ('q_hash', 'hash'), ('q_sort', 'sort'),
               ('q_dup', 'dup')) qt(query_id, term)
    ON s.w = qt.term
  GROUP BY qt.query_id, s.doc_id
),
em_q AS (SELECT DISTINCT query_id FROM em_truth),
em_hits AS (
  SELECT r.query_id, r.doc_id, r.rnk, t.rel
  FROM em_run r JOIN em_truth t USING (query_id, doc_id)
),
em_rec AS (
  SELECT t.query_id, count(*)::BIGINT AS n_exact,
         count(r.doc_id)::BIGINT AS n_hit
  FROM em_truth t
  LEFT JOIN em_run r ON r.query_id = t.query_id AND r.doc_id = t.doc_id
  GROUP BY t.query_id
),
em_rr AS (
  SELECT q.query_id, min(h.rnk)::BIGINT AS first_rank
  FROM em_q q LEFT JOIN em_hits h USING (query_id)
  GROUP BY q.query_id
),
em_dcg AS (
  SELECT query_id,
         sum(CAST(round(1e10 * (pow(2.0, rel) - 1.0)
                        / log2(rnk + 1.0)) AS BIGINT)) AS dcg10
  FROM em_hits WHERE rnk <= 10 GROUP BY query_id
),
em_idcg AS (
  SELECT query_id,
         sum(CAST(round(1e10 * (pow(2.0, rel) - 1.0)
                        / log2(irnk + 1.0)) AS BIGINT)) AS idcg10
  FROM (SELECT query_id, rel,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY rel DESC, doc_id) AS irnk
        FROM em_truth)
  WHERE irnk <= 10 GROUP BY query_id
)
SELECT 'recall' AS metric, query_id, n_exact AS n1, n_hit AS n2,
       round(n_hit::DOUBLE / n_exact, 6) AS d1
FROM em_rec
UNION ALL
SELECT 'rr', query_id, first_rank, CAST(NULL AS BIGINT),
       round(coalesce(1.0 / first_rank, 0.0), 6)
FROM em_rr
UNION ALL
SELECT 'ndcg', q.query_id,
       CAST(round(round(coalesce(d.dcg10, 0) / 1e10, 6) * 1e6)
            AS BIGINT),
       CAST(round(round(coalesce(i.idcg10, 0) / 1e10, 6) * 1e6)
            AS BIGINT),
       round(CASE WHEN coalesce(i.idcg10, 0) > 0
                  THEN coalesce(d.dcg10, 0)::DOUBLE / i.idcg10
                  ELSE 0.0 END, 6)
FROM em_q q
LEFT JOIN em_dcg d USING (query_id)
LEFT JOIN em_idcg i USING (query_id)
UNION ALL
SELECT metric, 'ndcg', n1, n2, d1 FROM (
  WITH em_nd AS (
    SELECT q.query_id,
           round(CASE WHEN coalesce(i.idcg10, 0) > 0
                      THEN coalesce(d.dcg10, 0)::DOUBLE / i.idcg10
                      ELSE 0.0 END, 6) AS v
    FROM em_q q
    LEFT JOIN em_dcg d USING (query_id)
    LEFT JOIN em_idcg i USING (query_id)
  ),
  em_reps AS (
    SELECT b, sum(w * v) AS num, sum(w) AS den FROM (
      SELECT v, r.b, """ + _BOOT_W_SQL + r""" AS w
      FROM em_nd, unnest(generate_series(1, 200)) r(b)
    ) GROUP BY b
  ),
  em_good AS (
    SELECT num / den AS m FROM em_reps WHERE den > 0
  ),
  em_ci AS (
    SELECT (SELECT count(*) FROM em_nd)::BIGINT AS n,
           round((SELECT avg(v) FROM em_nd), 6) AS mean,
           round(quantile_cont(m, """ + repr((1.0 - 0.9) / 2.0) + r"""), 6) AS lo,
           round(quantile_cont(m, """ + repr(1.0 - (1.0 - 0.9) / 2.0) + r"""), 6) AS hi,
           count(*)::BIGINT AS b
    FROM em_good
  )
  SELECT 'ci_lo' AS metric, n AS n1, b AS n2, lo AS d1 FROM em_ci
  UNION ALL
  SELECT 'ci_hi', n, b, hi FROM em_ci
  UNION ALL
  SELECT 'ci_mean', n, b, mean FROM em_ci
)
""" + ") em"
)


def q_text_contamination_suite(spark, sf):
    """Corpus-hygiene suite: benchmark decontamination verdicts plus PII
    scan/redaction fingerprints, as one tagged union.
    Parts: text_decontaminate, text_pii_redact, plus `bloomdecon` — the
    zero-shuffle Bloom pre-pass inner-joined to the exact verdicts on
    (doc_id, n_hit_shingles, contaminated): its oracle is the SAME exact
    n-gram SQL, so any Bloom false positive (or worse, a false negative)
    drops rows and fails the gate's row/hash compare. Since round 8 the
    bloomdecon filter takes the STORED round-trip — half the benchmark
    built + `save_bloom`, the other half folded in via `bloom_append`
    (staged-rename swap), probe from the re-read file — so the gate also
    proves the persistence path the streaming ingest screen relies on."""

    from mallarddv_spark.functions import bloom as B
    from mallarddv_spark.operators.curation import (
        build_benchmark_bloom,
        decontaminate_with_bloom,
    )
    from mallarddv_spark.operators.dedup import _shingles

    # the exact decontamination verdicts feed BOTH the `decontaminate`
    # part and the bloomdecon verification join — one shared EAGER
    # checkpoint computes the shingle-join once per call instead of
    # twice (fresh RDD per call: no cross-run reuse; a lazy checkpoint
    # measured slower — both consumers race-recompute it in one action).
    # The exact chain and the bloom build/append/probe chain below are
    # INDEPENDENT until the verification join, so they run from a
    # 2-thread pool (guide §2.6): the serial version paid the exact
    # checkpoint (~1.7 s warm) strictly before the ~4 s bloom chain.
    from concurrent.futures import ThreadPoolExecutor

    sc = spark.sparkContext

    def _exact_ckpt():
        sc.setJobDescription("contamination: exact verdicts checkpoint")
        return q_text_decontaminate(spark, sf).localCheckpoint(eager=True)

    docs = _t(spark, sf, "documents")

    # fpp sized so expected FP shingles across the whole corpus ≪ 1:
    # train-side shingle probes reach ~1e7 at sf0.1, and the synthetic
    # docs' tiny shared vocabulary makes the shingle space far denser
    # than natural text (1e-9 left exactly one FP at sf0.1) → 1e-12.
    # xxhash64 is deterministic per dataset, so a clean run at a given
    # SF stays clean (verified clean at sf 0.001/0.01/0.1)
    # documents.parquet is ONE file locally → the probe projection (a
    # wide per-shingle hash expression) would run as a single task and
    # get re-evaluated around the verification join; pre-shuffling the
    # train side spreads it across cores (a lake corpus arrives in many
    # files and needs no such help) — same fix as the linededup gate
    def _bloom_chain():
        sc.setJobDescription("contamination: bloom build/append/probe")
        bench = docs.filter(F.pmod("doc_id", F.lit(50)) == 0)
        half_a = bench.filter(F.pmod("doc_id", F.lit(100)) == 0)
        half_b = bench.filter(F.pmod("doc_id", F.lit(100)) == 50)
        path = _scratch_dir("bloomdecon_gate_") + "/bf"
        # half_b's distinct shingles (what bloom_append folds;
        # distinct-of-distinct is the same set) are independent of the
        # sizing count AND the half_a build — checkpoint them from a
        # one-worker pool so they overlap the whole count→build→save
        # prefix instead of running serially after it (guide §2.6).
        with ThreadPoolExecutor(max_workers=1) as bp:
            f_valsb = bp.submit(
                lambda: _shingles(half_b, "doc_id", "text", 5)
                .select("shingle").distinct()
                .localCheckpoint(eager=True)
            )
            # the full benchmark's distinct-shingle count sizes BOTH
            # half-builds (the manifest pattern: geometry fixed up
            # front, halves fold at it — append never resizes, so
            # sizing for the union keeps fpp honest)
            n_full = (
                _shingles(bench, "doc_id", "text", 5)
                .select("shingle").distinct().count()
            )
            B.save_bloom(
                build_benchmark_bloom(
                    half_a, "doc_id", "text", shingle_size=5, fpp=1e-12,
                    expected_shingles=n_full,
                ),
                path,
            )
            vals_b = f_valsb.result()
        B.bloom_append(spark, path, vals_b, "shingle")
        return decontaminate_with_bloom(
            docs.filter(F.pmod("doc_id", F.lit(50)) != 0)
            .repartition(32, "doc_id"),
            spark.read.parquet(path),
            "doc_id", "text",
        ).select(
            F.col("doc_id").alias("__bid"),
            F.col("n_hit_shingles").alias("__bn"),
            F.col("contaminated").alias("__bf"),
        )

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_exact = pool.submit(_exact_ckpt)
        f_bloom = pool.submit(_bloom_chain)
        exact = f_exact.result()
        bloom = f_bloom.result()
    sc.setJobDescription(None)

    d = exact.select(
        F.lit("decontaminate").alias("part"),
        "doc_id",
        F.col("n_hit_shingles").alias("n1"),
        F.col("n_bench_docs").alias("n2"),
        *_nulls(("n3", "bigint"), ("n4", "bigint"), ("n5", "bigint"),
                ("n6", "bigint"), ("fp", "string")),
        F.col("contaminated").alias("flag"),
    )
    # join on doc_id alone, equality-check in a filter: keeps the wide
    # probe expression out of the join keys so it is evaluated once on
    # the bloom side instead of around the shuffle
    bd = (
        exact
        .join(bloom, F.col("doc_id") == F.col("__bid"))
        .filter(
            (F.col("n_hit_shingles") == F.col("__bn"))
            & (F.col("contaminated") == F.col("__bf"))
        )
        .select(
            F.lit("bloomdecon").alias("part"),
            "doc_id",
            # emit the BLOOM side's numbers: equality with the exact
            # oracle is then a statement about the bloom path itself
            F.col("__bn").alias("n1"),
            F.col("n_bench_docs").alias("n2"),
            *_nulls(("n3", "bigint"), ("n4", "bigint"), ("n5", "bigint"),
                    ("n6", "bigint"), ("fp", "string")),
            F.col("__bf").alias("flag"),
        )
    )
    p = q_text_pii_redact(spark, sf).select(
        F.lit("pii").alias("part"),
        "doc_id",
        F.col("pii_n_email").alias("n1"),
        F.col("pii_n_ipv4").alias("n2"),
        F.col("pii_n_ssn").alias("n3"),
        F.col("pii_n_phone").alias("n4"),
        F.col("pii_total").alias("n5"),
        F.col("redacted_len").alias("n6"),
        F.col("redacted_fp").alias("fp"),
        *_nulls(("flag", "boolean")),
    )
    return d.unionByName(bd).unionByName(p)


O_TEXT_CONTAMINATION = (
    "SELECT 'decontaminate' AS part, doc_id, n_hit_shingles AS n1, n_bench_docs AS n2,"
    " cast(NULL as bigint) AS n3, cast(NULL as bigint) AS n4, cast(NULL as bigint) AS n5,"
    " cast(NULL as bigint) AS n6, cast(NULL as varchar) AS fp, contaminated AS flag\nFROM ("
    + O_TEXT_DECON
    + ") d\nUNION ALL\nSELECT 'bloomdecon' AS part, doc_id, n_hit_shingles AS n1,"
    " n_bench_docs AS n2, cast(NULL as bigint) AS n3, cast(NULL as bigint) AS n4,"
    " cast(NULL as bigint) AS n5, cast(NULL as bigint) AS n6,"
    " cast(NULL as varchar) AS fp, contaminated AS flag\nFROM ("
    + O_TEXT_DECON
    + ") b\nUNION ALL\nSELECT 'pii' AS part, doc_id, pii_n_email AS n1, pii_n_ipv4 AS n2,"
    " pii_n_ssn AS n3, pii_n_phone AS n4, pii_total AS n5, redacted_len AS n6,"
    " redacted_fp AS fp, cast(NULL as boolean) AS flag\nFROM ("
    + O_TEXT_PII
    + ") p"
)


def q_sql_array_functions(spark, sf):
    """Array / higher-order function battery over part-name tokens:
    split, sort, filter-lambda, aggregate-lambda, contains, distinct —
    the Catalyst HOF surface the curation operators are built on."""
    p = _t(spark, sf, "part")
    return p.select(
        "p_partkey",
        F.expr("array_join(array_sort(split(p_name, ' ')), ',')").alias("sorted_toks"),
        F.expr("element_at(array_sort(split(p_name, ' ')), 1)").alias("first_tok"),
        # empty-result normalization: Spark's array_join of an empty array
        # is '' while DuckDB's array_to_string is NULL — pin both to NULL
        F.expr(
            "nullif(array_join(filter(split(p_name, ' '), x -> length(x) > 5), ','), '')"
        ).alias("long_toks"),
        F.expr("cast(size(split(p_name, ' ')) as bigint)").alias("n_toks"),
        F.expr(
            "aggregate(split(p_name, ' '), 0L, (a, x) -> a + length(x))"
        ).alias("sum_len"),
        F.expr(
            "cast(array_contains(split(p_name, ' '), 'green') as bigint)"
        ).alias("has_green"),
        F.expr(
            "cast(size(array_distinct(split(p_name, ' '))) as bigint)"
        ).alias("n_distinct_toks"),
    )


O_SQL_ARRAY = """
SELECT p_partkey,
       array_to_string(list_sort(string_split(p_name, ' ')), ',') AS sorted_toks,
       list_sort(string_split(p_name, ' '))[1] AS first_tok,
       array_to_string(list_filter(string_split(p_name, ' '), x -> length(x) > 5), ',') AS long_toks,
       len(string_split(p_name, ' ')) AS n_toks,
       cast(list_sum(list_transform(string_split(p_name, ' '), x -> length(x))) as bigint) AS sum_len,
       cast(list_contains(string_split(p_name, ' '), 'green') as bigint) AS has_green,
       cast(len(list_distinct(string_split(p_name, ' '))) as bigint) AS n_distinct_toks
FROM part
"""

REGISTRY["sql_array_functions"] = (q_sql_array_functions, O_SQL_ARRAY)


def q_sql_regexp_functions(spark, sf):
    """Regexp battery over part attributes: extract (group), anchored
    extract, replace-all, match test, and an occurrence count via the
    length-difference identity (portable across regex dialects)."""
    p = _t(spark, sf, "part")
    return p.select(
        "p_partkey",
        F.regexp_extract("p_brand", r"(\d+)", 1).alias("brand_num"),
        F.regexp_extract("p_type", r"^(\w+)", 1).alias("type_head"),
        F.regexp_replace("p_name", "[aeiou]", "*").alias("starred"),
        F.expr("cast(p_name rlike 'green' as bigint)").alias("has_green"),
        F.expr(
            "cast(length(p_name) - length(regexp_replace(p_name, '[aeiou]', '')) as bigint)"
        ).alias("n_vowels"),
    )


O_SQL_REGEXP = """
SELECT p_partkey,
       regexp_extract(p_brand, '(\\d+)', 1) AS brand_num,
       regexp_extract(p_type, '^(\\w+)', 1) AS type_head,
       regexp_replace(p_name, '[aeiou]', '*', 'g') AS starred,
       cast(regexp_matches(p_name, 'green') as bigint) AS has_green,
       cast(length(p_name) - length(regexp_replace(p_name, '[aeiou]', '', 'g')) as bigint) AS n_vowels
FROM part
"""

REGISTRY["sql_regexp_functions"] = (q_sql_regexp_functions, O_SQL_REGEXP)


def q_sql_scalar_suite(spark, sf):
    """Scalar-function battery: date/time, string, NULL-semantics, JSON
    extraction, VARIANT semi-structured extraction, array/higher-order,
    and regexp surfaces as one tagged union (timestamps emitted as
    formatted strings so the union stays homogeneous).
    Parts: sql_date_functions, sql_string_functions, sql_null_semantics,
    sql_json_extract, sql_variant_extract, sql_array_functions,
    sql_regexp_functions."""
    dt, st, nu, js, vr, ar, rx = _pooled(
        lambda: q_sql_date_functions(spark, sf).select(
            F.lit("date").alias("part"),
            F.col("o_orderkey").alias("key"),
            F.date_format("month_start", "yyyy-MM-dd").alias("s1"),
            F.date_format("month_end", "yyyy-MM-dd").alias("s2"),
            F.col("ym_str").alias("s3"),
            *_nulls(("s4", "string"), ("s5", "string")),
            F.col("yr").alias("n1"),
            F.col("mo").alias("n2"),
            F.col("dom").alias("n3"),
            F.col("qtr").alias("n4"),
            *_nulls(("d1", "double")),
        ),
        lambda: q_sql_string_functions(spark, sf).select(
            F.lit("string").alias("part"),
            F.col("p_partkey").alias("key"),
            F.col("uname").alias("s1"),
            F.col("prefix5").alias("s2"),
            F.col("snake").alias("s3"),
            F.col("padded_key").alias("s4"),
            F.col("rname").alias("s5"),
            F.col("name_len").alias("n1"),
            F.col("first_a").alias("n2"),
            F.col("lev_to_brand").alias("n3"),
            *_nulls(("n4", "bigint"), ("d1", "double")),
        ),
        lambda: q_sql_null_semantics(spark, sf).select(
            F.lit("null").alias("part"),
            *_nulls(("key", "bigint")),
            F.col("seg_or_null").alias("s1"),
            *_nulls(("s2", "string"), ("s3", "string"), ("s4", "string"),
                    ("s5", "string")),
            F.col("n_rows").alias("n1"),
            F.col("n_nonnull").alias("n2"),
            F.col("coalesced_null").alias("n3"),
            *_nulls(("n4", "bigint")),
            F.col("sum_never").alias("d1"),
        ),
        lambda: q_sql_json_extract(spark, sf).select(
            F.lit("json").alias("part"),
            F.col("user_id").alias("key"),
            *_nulls(("s1", "string"), ("s2", "string"), ("s3", "string"),
                    ("s4", "string"), ("s5", "string")),
            F.col("n_with_k").alias("n1"),
            F.col("sum_k").alias("n2"),
            F.col("n_distinct_k").alias("n3"),
            *_nulls(("n4", "bigint"), ("d1", "double")),
        ),
        lambda: q_sql_variant_extract(spark, sf).select(
            F.lit("variant").alias("part"),
            F.col("user_id").alias("key"),
            *_nulls(("s1", "string"), ("s2", "string"), ("s3", "string"),
                    ("s4", "string"), ("s5", "string")),
            F.col("n_with_k").alias("n1"),
            F.col("sum_k").alias("n2"),
            F.col("max_k").alias("n3"),
            F.col("min_k").alias("n4"),
            *_nulls(("d1", "double")),
        ),
        lambda: q_sql_array_functions(spark, sf).select(
            F.lit("array").alias("part"),
            F.col("p_partkey").alias("key"),
            F.col("sorted_toks").alias("s1"),
            F.col("first_tok").alias("s2"),
            F.col("long_toks").alias("s3"),
            *_nulls(("s4", "string"), ("s5", "string")),
            F.col("n_toks").alias("n1"),
            F.col("sum_len").alias("n2"),
            F.col("has_green").alias("n3"),
            F.col("n_distinct_toks").alias("n4"),
            *_nulls(("d1", "double")),
        ),
        lambda: q_sql_regexp_functions(spark, sf).select(
            F.lit("regex").alias("part"),
            F.col("p_partkey").alias("key"),
            F.col("brand_num").alias("s1"),
            F.col("type_head").alias("s2"),
            F.col("starred").alias("s3"),
            *_nulls(("s4", "string"), ("s5", "string")),
            F.col("has_green").alias("n1"),
            F.col("n_vowels").alias("n2"),
            *_nulls(("n3", "bigint"), ("n4", "bigint"), ("d1", "double")),
        ),
    )
    return (
        dt.unionByName(st).unionByName(nu).unionByName(js)
        .unionByName(vr).unionByName(ar).unionByName(rx)
    )


O_SQL_SCALAR = (
    "SELECT 'date' AS part, o_orderkey AS key, strftime(month_start, '%Y-%m-%d') AS s1,"
    " strftime(month_end, '%Y-%m-%d') AS s2, ym_str AS s3, cast(NULL as varchar) AS s4,"
    " cast(NULL as varchar) AS s5, yr AS n1, mo AS n2, dom AS n3, qtr AS n4,"
    " cast(NULL as double) AS d1\nFROM ("
    + O_SQL_DATE
    + ") dt\nUNION ALL\nSELECT 'string', p_partkey, uname, prefix5, snake, padded_key, rname,"
    " name_len, first_a, lev_to_brand, cast(NULL as bigint), cast(NULL as double)\nFROM ("
    + O_SQL_STRING
    + ") st\nUNION ALL\nSELECT 'null', cast(NULL as bigint), seg_or_null,"
    " cast(NULL as varchar), cast(NULL as varchar), cast(NULL as varchar), cast(NULL as varchar),"
    " n_rows, n_nonnull, coalesced_null, cast(NULL as bigint), sum_never\nFROM ("
    + O_SQL_NULL
    + ") nu\nUNION ALL\nSELECT 'json', user_id, cast(NULL as varchar), cast(NULL as varchar),"
    " cast(NULL as varchar), cast(NULL as varchar), cast(NULL as varchar),"
    " n_with_k, sum_k, n_distinct_k, cast(NULL as bigint), cast(NULL as double)\nFROM ("
    + O_SQL_JSON
    + ") js\nUNION ALL\nSELECT 'variant', user_id, cast(NULL as varchar), cast(NULL as varchar),"
    " cast(NULL as varchar), cast(NULL as varchar), cast(NULL as varchar),"
    " n_with_k, sum_k, max_k, min_k, cast(NULL as double)\nFROM ("
    + O_SQL_VARIANT
    + ") vr\nUNION ALL\nSELECT 'array', p_partkey, sorted_toks, first_tok, long_toks,"
    " cast(NULL as varchar), cast(NULL as varchar),"
    " n_toks, sum_len, has_green, n_distinct_toks, cast(NULL as double)\nFROM ("
    + O_SQL_ARRAY
    + ") ar\nUNION ALL\nSELECT 'regex', p_partkey, brand_num, type_head, starred,"
    " cast(NULL as varchar), cast(NULL as varchar),"
    " has_green, n_vowels, cast(NULL as bigint), cast(NULL as bigint),"
    " cast(NULL as double)\nFROM ("
    + O_SQL_REGEXP
    + ") rx"
)


def q_sql_grouping_suite(spark, sf):
    """Grouping-set / reshaping battery: ROLLUP, CUBE, UNPIVOT (stack), and
    conditional-aggregation pivot as one tagged union.
    Parts: sql_rollup, sql_cube, sql_unpivot, sql_conditional_pivot."""
    ro, cu, un, pv = _pooled(
        lambda: q_sql_rollup(spark, sf).select(
            F.lit("rollup").alias("part"),
            F.col("l_returnflag").alias("k1"),
            F.col("l_linestatus").alias("k2"),
            F.col("n").alias("n1"),
            *_nulls(("n2", "bigint"), ("n3", "bigint"), ("n4", "bigint")),
            F.col("sum_qty").alias("v"),
        ),
        lambda: q_sql_cube(spark, sf).select(
            F.lit("cube").alias("part"),
            F.col("o_orderstatus").alias("k1"),
            F.col("o_orderpriority").alias("k2"),
            F.col("n").alias("n1"),
            *_nulls(("n2", "bigint"), ("n3", "bigint"), ("n4", "bigint")),
            F.col("sum_total").alias("v"),
        ),
        lambda: q_sql_unpivot(spark, sf).select(
            F.lit("unpivot").alias("part"),
            F.col("p_partkey").cast("string").alias("k1"),
            F.col("attribute").alias("k2"),
            *_nulls(("n1", "bigint"), ("n2", "bigint"), ("n3", "bigint"),
                    ("n4", "bigint")),
            F.col("value").alias("v"),
        ),
        lambda: q_sql_conditional_pivot(spark, sf).select(
            F.lit("pivot").alias("part"),
            F.col("c_mktsegment").alias("k1"),
            *_nulls(("k2", "string")),
            F.col("n_orders").alias("n1"),
            F.col("n_urgent").alias("n2"),
            F.col("n_high").alias("n3"),
            F.col("n_other").alias("n4"),
            *_nulls(("v", "double")),
        ),
    )
    return ro.unionByName(cu).unionByName(un).unionByName(pv)


O_SQL_GROUPING = (
    "SELECT 'rollup' AS part, l_returnflag AS k1, l_linestatus AS k2, n AS n1,"
    " cast(NULL as bigint) AS n2, cast(NULL as bigint) AS n3, cast(NULL as bigint) AS n4,"
    " sum_qty AS v\nFROM ("
    + O_SQL_ROLLUP
    + ") ro\nUNION ALL\nSELECT 'cube', o_orderstatus, o_orderpriority, n,"
    " cast(NULL as bigint), cast(NULL as bigint), cast(NULL as bigint), sum_total\nFROM ("
    + O_SQL_CUBE
    + ") cu\nUNION ALL\nSELECT 'unpivot', cast(p_partkey as varchar), attribute,"
    " cast(NULL as bigint), cast(NULL as bigint), cast(NULL as bigint), cast(NULL as bigint),"
    " value\nFROM ("
    + O_SQL_UNPIVOT
    + ") un\nUNION ALL\nSELECT 'pivot', c_mktsegment, cast(NULL as varchar), n_orders,"
    " n_urgent, n_high, n_other, cast(NULL as double)\nFROM ("
    + O_SQL_PIVOT
    + ") pv"
)


def q_sql_window_agg_suite(spark, sf):
    """Window-function battery: row-frame ranking/offset windows, value-RANGE
    frames, and ordered array/string aggregation as one tagged union (the
    array column is pinned via its exact CSV rendering so the union stays
    homogeneous). Parts: sql_window_suite, sql_range_frame, sql_array_agg."""
    wi, ra, ar = _pooled(
        lambda: q_sql_window_suite(spark, sf).select(
            F.lit("window").alias("part"),
            F.col("o_custkey").alias("k1"),
            F.col("o_orderkey").alias("k2"),
            F.col("rnk").alias("n1"),
            F.col("drnk").alias("n2"),
            F.col("quartile").alias("n3"),
            F.col("prev_orderkey").alias("n4"),
            F.col("next_orderkey").alias("n5"),
            F.col("running_total").alias("d1"),
            *_nulls(("s1", "string")),
        ),
        lambda: q_sql_range_frame(spark, sf).select(
            F.lit("range").alias("part"),
            F.col("o_custkey").alias("k1"),
            F.col("o_orderkey").alias("k2"),
            F.col("n_nearby_orders").alias("n1"),
            *_nulls(("n2", "bigint"), ("n3", "bigint"), ("n4", "bigint"),
                    ("n5", "bigint"), ("d1", "double"), ("s1", "string")),
        ),
        lambda: q_sql_array_agg(spark, sf).select(
            F.lit("array_agg").alias("part"),
            F.col("c_nationkey").cast("bigint").alias("k1"),
            *_nulls(("k2", "bigint")),
            F.col("n").alias("n1"),
            *_nulls(("n2", "bigint"), ("n3", "bigint"), ("n4", "bigint"),
                    ("n5", "bigint"), ("d1", "double")),
            F.col("custkey_csv").alias("s1"),
        ),
    )
    return wi.unionByName(ra).unionByName(ar)


O_SQL_WINDOW_AGG = (
    "SELECT 'window' AS part, o_custkey AS k1, o_orderkey AS k2, rnk AS n1, drnk AS n2,"
    " quartile AS n3, prev_orderkey AS n4, next_orderkey AS n5, running_total AS d1,"
    " cast(NULL as varchar) AS s1\nFROM ("
    + O_SQL_WINDOW
    + ") wi\nUNION ALL\nSELECT 'range', o_custkey, o_orderkey, n_nearby_orders,"
    " cast(NULL as bigint), cast(NULL as bigint), cast(NULL as bigint), cast(NULL as bigint),"
    " cast(NULL as double), cast(NULL as varchar)\nFROM ("
    + O_SQL_RANGE_FRAME
    + ") ra\nUNION ALL\nSELECT 'array_agg', cast(c_nationkey as bigint), cast(NULL as bigint),"
    " n, cast(NULL as bigint), cast(NULL as bigint), cast(NULL as bigint), cast(NULL as bigint),"
    " cast(NULL as double), custkey_csv\nFROM ("
    + O_SQL_ARRAY_AGG
    + ") ar"
)


def q_sql_subquery_suite(spark, sf):
    """Subquery/set-operation battery: EXCEPT/INTERSECT chains, correlated
    EXISTS + scalar subqueries, and exact interpolated percentiles as one
    tagged union. Parts: sql_set_ops, sql_correlated_exists,
    sql_exact_percentile."""
    so, ex, pc = _pooled(
        lambda: q_sql_set_ops(spark, sf).select(
            F.lit("set_ops").alias("part"),
            F.col("custkey").alias("key"),
            *_nulls(("name", "string"), ("n", "bigint"), ("d1", "double"),
                    ("d2", "double")),
        ),
        lambda: q_sql_correlated_exists(spark, sf).select(
            F.lit("exists").alias("part"),
            F.col("c_custkey").alias("key"),
            F.col("c_name").alias("name"),
            F.col("n_orders").alias("n"),
            *_nulls(("d1", "double"), ("d2", "double")),
        ),
        lambda: q_sql_exact_percentile(spark, sf).select(
            F.lit("percentile").alias("part"),
            *_nulls(("key", "bigint")),
            F.col("l_returnflag").alias("name"),
            F.col("n").alias("n"),
            F.col("p50_qty").alias("d1"),
            F.col("p90_price").alias("d2"),
        ),
    )
    return so.unionByName(ex).unionByName(pc)


O_SQL_SUBQUERY = (
    "SELECT 'set_ops' AS part, custkey AS key, cast(NULL as varchar) AS name,"
    " cast(NULL as bigint) AS n, cast(NULL as double) AS d1, cast(NULL as double) AS d2\nFROM ("
    + O_SQL_SETOPS
    + ") so\nUNION ALL\nSELECT 'exists', c_custkey, c_name, n_orders,"
    " cast(NULL as double), cast(NULL as double)\nFROM ("
    + O_SQL_EXISTS
    + ") ex\nUNION ALL\nSELECT 'percentile', cast(NULL as bigint), l_returnflag, n,"
    " p50_qty, p90_price\nFROM ("
    + O_SQL_PERCENTILE
    + ") pc"
)


def q_dedup_signatures(spark, sf):
    """Per-document near-dup signature suite: MinHash (K=16, 4 LSH band
    fingerprints) and 32-bit SimHash. Parts: dedup_minhash_sig,
    dedup_simhash.

    Fused production shape: both signature families derive from the same
    distinct-token explosion, so ONE scan + ONE per-doc aggregation
    computes all 16 min-hashes and all 32 bit votes together — at corpus
    scale this halves the tokenize/explode/shuffle work versus running
    the two operators separately (whose standalone shapes stay available
    in operators/dedup.py)."""
    d = _t(spark, sf, "documents")
    toks = (
        d.select(
            "doc_id",
            F.explode(F.array_distinct(F.split("text", _WS))).alias("tok"),
        )
        .withColumn(
            "xr", F.expr("cast(conv(substr(md5(tok),1,15),16,10) as bigint)")
        )
        .withColumn("x", F.expr(f"xr % {_MH_P}"))
    )
    min_aggs = [
        F.min(F.expr(f"({a} * x + {b}) % {_MH_P}")).alias(f"sig_{i}")
        for i, (a, b) in enumerate(_MH_PARAMS)
    ]
    vote_aggs = [
        F.sum(
            F.expr(f"CASE WHEN (shiftright(xr,{j}) & 1) = 1 THEN 1 ELSE -1 END")
        ).alias(f"s{j}")
        for j in range(_SH_BITS)
    ]
    per_doc = toks.groupBy("doc_id").agg(*min_aggs, *vote_aggs)
    for band in range(4):
        cols = ",".join(f"sig_{band * 4 + j}" for j in range(4))
        per_doc = per_doc.withColumn(
            f"band_{band}", F.expr(f"md5(concat_ws('-',{cols}))")
        )
    sim = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN cast({1 << j} as bigint) ELSE 0 END)"
        for j in range(_SH_BITS)
    )
    return per_doc.select(
        "doc_id",
        *[f"sig_{i}" for i in range(16)],
        *[f"band_{b}" for b in range(4)],
        F.expr(sim).alias("simhash"),
    )


O_DEDUP_SIGNATURES = (
    "SELECT mh.*, sh.simhash\nFROM ("
    + O_DEDUP_MINHASH
    + ") mh\nJOIN ("
    + O_DEDUP_SIMHASH
    + ") sh ON mh.doc_id = sh.doc_id"
)


def q_similarity_pq_adc(spark, sf):
    """Product-quantization ADC top-k, deterministic-codebook variant
    (`operators/similarity.pq_codebooks_deterministic` + `pq_encode` +
    `pq_topk_adc`): the fixed-grid codebook rule, the per-subvector
    argmin encode (first-minimum tie-break), and the asymmetric-distance
    table-lookup sums all replay in closed-form DuckDB SQL — the same
    cross-engine strategy that oracles the IVF variant. Production
    callers use `pq_train`'s KMeans codebooks; every downstream
    expression here is identical."""
    from mallarddv_spark.operators.similarity import (
        pq_codebooks_deterministic,
        pq_encode,
        pq_topk_adc,
    )

    e = _t(spark, sf, "embeddings")
    books = pq_codebooks_deterministic(spark, m=8, dsub=8, n_codes=16)
    # embeddings.parquet is ONE file locally → pre-shuffle so the encode
    # projection parallelizes (a lake corpus arrives in many files)
    # geometry passed explicitly: the builder just made these codebooks,
    # so the two eager one-row .first() fetches (a Spark job each, per
    # bench invocation) fold away
    enc = pq_encode(
        e.filter("vec_id >= 10").repartition(32, "vec_id"), books,
        geometry=(8, 8, 16),
    )
    out = pq_topk_adc(
        e.filter("vec_id < 10"), enc, books, k=5, geometry=(8, 8),
    )
    return out.select(
        "query_id", "neighbor_id", F.col("rank").cast("bigint").alias("rank"),
        "adc_dist",
    )


O_SIM_PQADC = """
WITH e AS (
    SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
cb AS (
    SELECT s.s, j.j,
           list_transform(range(0, 8), d ->
               ((((j.j * 31 + d * 7 + s.s * 3) % 17) - 8) / 8.0)) AS c
    FROM (SELECT unnest(range(0, 8)) AS s) s,
         (SELECT unnest(range(0, 16)) AS j) j
),
subdist AS (
    SELECT e.vec_id, cb.s, cb.j,
           list_sum(list_transform(range(0, 8), d ->
               (e.v[cb.s * 8 + d + 1] - cb.c[d + 1])
               * (e.v[cb.s * 8 + d + 1] - cb.c[d + 1]))) AS dist
    FROM e, cb WHERE e.vec_id >= 10
),
codes AS (
    SELECT vec_id, s, j AS code
    FROM (SELECT *, row_number() OVER (
              PARTITION BY vec_id, s ORDER BY dist ASC, j ASC) AS rn
          FROM subdist) x
    WHERE rn = 1
),
qsub AS (
    SELECT e.vec_id AS query_id, cb.s, cb.j,
           list_sum(list_transform(range(0, 8), d ->
               (e.v[cb.s * 8 + d + 1] - cb.c[d + 1])
               * (e.v[cb.s * 8 + d + 1] - cb.c[d + 1]))) AS dist
    FROM e, cb WHERE e.vec_id < 10
),
adc AS (
    SELECT q.query_id, c.vec_id AS neighbor_id,
           round(sum(q.dist), 6) AS adc_dist
    FROM codes c JOIN qsub q ON q.s = c.s AND q.j = c.code
    GROUP BY q.query_id, c.vec_id
)
SELECT query_id, neighbor_id, rank, adc_dist
FROM (SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
      FROM adc) x
WHERE rank <= 5
"""


def q_similarity_ivfpq_adc(spark, sf):
    """IVF-PQ residual path, deterministic variant: coarse centroids are
    the corpus vectors with ids 10..17 (fixed, present at every SF);
    each corpus vector assigns to its nearest centroid
    (``round(|a|²+|b|²−2ab, 6)``, id tiebreak — the `ivf_topk_deterministic`
    arithmetic), its RESIDUAL encodes against the deterministic PQ grid
    codebooks, and queries probe their 2 nearest cells with residual ADC
    tables — the full IVFADC arrangement of
    `operators/similarity.build_ivfpq_index`, every step replayed in
    closed-form DuckDB SQL. Corpus capped at vec_id < 10010 (complete at
    the driver-gate SFs; verification-cost bound at larger ones, like
    the exact-percentile harness)."""
    from mallarddv_spark.operators.similarity import (
        pq_codebooks_deterministic,
        pq_encode,
    )

    e = _t(spark, sf, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"),
    )
    cent = e.filter("vec_id BETWEEN 10 AND 17").select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    corp = e.filter("vec_id >= 18 AND vec_id < 10010").repartition(32, "vec_id")
    dot = "aggregate(zip_with({a}, {b}, (x, y) -> x * y), cast(0.0 as double), (acc, x) -> acc + x)"
    d6 = (
        f"round({dot.format(a='v', b='v')} + {dot.format(a='cv', b='cv')}"
        f" - 2 * {dot.format(a='v', b='cv')}, 6)"
    )
    wa = Window.partitionBy("vec_id").orderBy(F.asc("d6"), F.asc("cid"))
    assigned = (
        corp.crossJoin(F.broadcast(cent))
        .withColumn("d6", F.expr(d6))
        .withColumn("rn", F.row_number().over(wa))
        .filter("rn = 1")
        .select(
            "vec_id", "cid",
            F.expr("zip_with(v, cv, (x, y) -> x - y)").alias("rv"),
        )
    )
    books = pq_codebooks_deterministic(spark, m=8, dsub=8, n_codes=16)
    enc = pq_encode(
        assigned, books, vec_col="rv", geometry=(8, 8, 16)
    ).select(
        F.col("vec_id").alias("neighbor_id"), "cid", "pq_codes"
    )

    q = e.filter("vec_id < 10").select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    dq6 = (
        f"round({dot.format(a='qv', b='qv')} + {dot.format(a='cv', b='cv')}"
        f" - 2 * {dot.format(a='qv', b='cv')}, 6)"
    )
    wq = Window.partitionBy("query_id").orderBy(F.asc("dq6"), F.asc("cid"))
    probes = (
        q.crossJoin(F.broadcast(cent))
        .withColumn("dq6", F.expr(dq6))
        .withColumn("pr", F.row_number().over(wq))
        .filter("pr <= 2")
        .select(
            "query_id", "cid",
            F.expr("zip_with(qv, cv, (x, y) -> x - y)").alias("qrv"),
        )
    )
    from mallarddv_spark.operators.similarity import (
        adc_dist_expr,
        adc_table_expr,
    )

    table = adc_table_expr("qrv", 8)
    probes_t = probes.crossJoin(
        F.broadcast(books.select(F.col("cb").alias("__cb")))
    ).select("query_id", "cid", F.expr(table).alias("__t"))
    adc = adc_dist_expr("pq_codes")
    cand = enc.join(F.broadcast(probes_t), "cid").withColumn(
        "adc_dist", F.expr(adc)
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.asc("adc_dist"), F.asc("neighbor_id")
    )
    return (
        cand.withColumn("rank", F.row_number().over(wr))
        .filter("rank <= 5")
        .select(
            "query_id", "neighbor_id",
            F.col("rank").cast("bigint").alias("rank"), "adc_dist",
        )
    )


def _o_ivfpqadc(p: str = "", corp_hi: int = 10010) -> tuple[str, str]:
    """The deterministic IVF-PQ replay as (cte_defs, final_select) with
    every CTE name prefixed by ``p`` — so the same closed-form SQL can
    run standalone (O_SIM_IVFPQADC) or merge into another oracle's WITH
    clause (O_ADV_ANN's `ivfpqstore` part) without DuckDB's nested-CTE
    shadowing pitfalls."""
    cte_defs = """{p}e AS (
    SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
{p}cent AS (
    SELECT vec_id AS cid, v AS cv FROM {p}e WHERE vec_id BETWEEN 10 AND 17
),
{p}corp AS (
    SELECT vec_id, v FROM {p}e WHERE vec_id >= 18 AND vec_id < {corp_hi}
),
{p}cb AS (
    SELECT s.s, j.j,
           list_transform(range(0, 8), d ->
               ((((j.j * 31 + d * 7 + s.s * 3) % 17) - 8) / 8.0)) AS c
    FROM (SELECT unnest(range(0, 8)) AS s) s,
         (SELECT unnest(range(0, 16)) AS j) j
),
{p}assigned AS (
    SELECT vec_id, cid,
           list_transform(range(1, 65), i -> v[i] - cv[i]) AS rv
    FROM (
        SELECT c.vec_id, c.v, ct.cid, ct.cv, row_number() OVER (
            PARTITION BY c.vec_id ORDER BY
            round(list_dot_product(c.v, c.v) + list_dot_product(ct.cv, ct.cv)
                  - 2 * list_dot_product(c.v, ct.cv), 6) ASC, ct.cid ASC) AS rn
        FROM {p}corp c, {p}cent ct) x
    WHERE rn = 1
),
{p}csub AS (
    SELECT a.vec_id, a.cid, {p}cb.s, {p}cb.j,
           list_sum(list_transform(range(0, 8), d ->
               (a.rv[{p}cb.s * 8 + d + 1] - {p}cb.c[d + 1])
               * (a.rv[{p}cb.s * 8 + d + 1] - {p}cb.c[d + 1]))) AS dist
    FROM {p}assigned a, {p}cb
),
{p}codes AS (
    SELECT vec_id AS neighbor_id, cid, s, j AS code
    FROM (SELECT *, row_number() OVER (PARTITION BY vec_id, s
                                       ORDER BY dist ASC, j ASC) AS rn
          FROM {p}csub) x
    WHERE rn = 1
),
{p}probes AS (
    SELECT query_id, cid,
           list_transform(range(1, 65), i -> qv[i] - cv[i]) AS qrv
    FROM (
        SELECT q.vec_id AS query_id, q.v AS qv, ct.cid, ct.cv,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                   round(list_dot_product(q.v, q.v)
                         + list_dot_product(ct.cv, ct.cv)
                         - 2 * list_dot_product(q.v, ct.cv), 6) ASC,
                   ct.cid ASC) AS pr
        FROM (SELECT vec_id, v FROM {p}e WHERE vec_id < 10) q, {p}cent ct) x
    WHERE pr <= 2
),
{p}qsub AS (
    SELECT p.query_id, p.cid, {p}cb.s, {p}cb.j,
           list_sum(list_transform(range(0, 8), d ->
               (p.qrv[{p}cb.s * 8 + d + 1] - {p}cb.c[d + 1])
               * (p.qrv[{p}cb.s * 8 + d + 1] - {p}cb.c[d + 1]))) AS dist
    FROM {p}probes p, {p}cb
),
{p}adc AS (
    SELECT q.query_id, c.neighbor_id, round(sum(q.dist), 6) AS adc_dist
    FROM {p}codes c JOIN {p}qsub q
      ON q.cid = c.cid AND q.s = c.s AND q.j = c.code
    GROUP BY q.query_id, c.neighbor_id
)"""
    final = """SELECT query_id, neighbor_id, rank, adc_dist
FROM (SELECT *, row_number() OVER (
          PARTITION BY query_id ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
      FROM {p}adc) x
WHERE rank <= 5"""
    cte_defs = cte_defs.replace("{corp_hi}", str(corp_hi))
    return cte_defs.replace("{p}", p), final.replace("{p}", p)


_adc_ctes, _adc_final = _o_ivfpqadc()
O_SIM_IVFPQADC = "WITH " + _adc_ctes + "\n" + _adc_final + "\n"



def q_similarity_margin(spark, sf):
    """Margin-based alignment mining (Artetxe & Schwenk 2019) over two
    disjoint embedding slices: mutual top-4 kNN pairs scored by ratio
    margin (cosine over the mean of both sides' neighborhood cosines,
    1e-6 integer-grid sums), thresholded at the paper's 1.05. The
    mutual cut and the threshold are both non-vacuous at every test SF
    (~195 of 200 fwd pairs survive mutuality, ~55% pass the
    threshold)."""
    from mallarddv_spark.operators.alignment import margin_knn_pairs

    e = _t(spark, sf, "embeddings")
    src = e.filter("vec_id < 50")
    tgt = e.filter("vec_id >= 50 AND vec_id < 250")
    return margin_knn_pairs(
        src, tgt, id_col="vec_id", vec_col="embedding", k=4,
        mutual=True, min_margin=1.05,
    )


O_SIM_MARGIN = """
WITH e AS (
    SELECT vec_id, embedding::DOUBLE[] AS v,
           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
    FROM embeddings
),
s AS (SELECT * FROM e WHERE vec_id < 50),
t AS (SELECT * FROM e WHERE vec_id >= 50 AND vec_id < 250),
fp AS (SELECT s.vec_id AS qid, t.vec_id AS nid,
       round(list_dot_product(s.v, t.v) / (s.norm * t.norm), 6) AS cosine FROM s, t),
fwd AS (SELECT qid, nid, cosine FROM (
   SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid ASC) AS rnk
   FROM fp) x WHERE rnk <= 4),
bp AS (SELECT t.vec_id AS qid, s.vec_id AS nid,
       round(list_dot_product(s.v, t.v) / (s.norm * t.norm), 6) AS cosine FROM t, s),
bwd AS (SELECT qid, nid, cosine FROM (
   SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, nid ASC) AS rnk
   FROM bp) x WHERE rnk <= 4),
afwd AS (SELECT qid, sum(CAST(round(cosine * 1e6) AS BIGINT)) / (count(*) * 1e6) AS m
         FROM fwd GROUP BY qid),
abwd AS (SELECT qid, sum(CAST(round(cosine * 1e6) AS BIGINT)) / (count(*) * 1e6) AS m
         FROM bwd GROUP BY qid),
cand AS (SELECT f.qid AS src_id, f.nid AS tgt_id, f.cosine FROM fwd f
  WHERE EXISTS (SELECT 1 FROM bwd b WHERE b.qid = f.nid AND b.nid = f.qid))
SELECT src_id, tgt_id, margin FROM (
    SELECT c.src_id, c.tgt_id,
           round(c.cosine / ((af.m + ab.m) / 2), 6) AS margin
    FROM cand c
    JOIN afwd af ON af.qid = c.src_id
    JOIN abwd ab ON ab.qid = c.tgt_id) z
WHERE margin >= 1.05
"""


def q_similarity_hardneg(spark, sf):
    """DPR hard-negative mining (Karpukhin et al. 2020): top-3
    most-similar NON-POSITIVE corpus items per (query, positive) pair.
    One arithmetic positive per query, so the operator's default
    over-fetch (k + max positives = 4) provably equals the oracle's
    full-corpus ranking with the positive excluded — at most one
    positive can displace a candidate from the top-4."""
    from mallarddv_spark.operators.alignment import hard_negative_mine

    e = _t(spark, sf, "embeddings")
    queries = e.filter("vec_id < 30")
    corpus = e.filter("vec_id >= 30 AND vec_id < 330")
    pairs = queries.select(
        F.col("vec_id").alias("query_id"),
        (F.lit(30) + (F.col("vec_id") * 13) % 300).alias("pos_id"),
    )
    return hard_negative_mine(
        pairs, queries, corpus, id_col="vec_id", vec_col="embedding", k=3
    )


O_SIM_HARDNEG = """
WITH hn_e AS (
    SELECT vec_id, embedding::DOUBLE[] AS v,
           sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
    FROM embeddings
),
hn_q AS (SELECT * FROM hn_e WHERE vec_id < 30),
hn_c AS (SELECT * FROM hn_e WHERE vec_id >= 30 AND vec_id < 330),
hn_p AS (SELECT vec_id AS query_id, 30 + (vec_id * 13) % 300 AS pos_id
         FROM hn_e WHERE vec_id < 30),
hn_all AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           round(list_dot_product(q.v, c.v) / (q.norm * c.norm), 6) AS cosine
    FROM hn_q q, hn_c c
),
hn_x AS (
    SELECT a.* FROM hn_all a
    WHERE NOT EXISTS (SELECT 1 FROM hn_p p
                      WHERE p.query_id = a.query_id
                        AND p.pos_id = a.neighbor_id)
)
SELECT query_id, neg_id, rank, cosine FROM (
    SELECT query_id, neighbor_id AS neg_id, cosine,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, neighbor_id ASC) AS rank
    FROM hn_x) x
WHERE rank <= 3
"""


def q_similarity_suite(spark, sf):
    """Embedding-similarity suite: brute-force cosine top-k (queries ×
    candidates), the above-threshold all-pairs variant, the
    int8-quantized top-k probe, the deterministic-codebook PQ ADC
    top-k (`pqadc` — its `cosine` slot carries the ADC squared distance),
    mutual-kNN ratio-margin alignment mining (`margin` — its
    `cosine` slot carries the margin), and DPR hard-negative mining
    (`hardneg`) as one tagged union. Parts:
    similarity_topk, similarity_pairs, similarity_quantized_topk, plus
    the pqadc, margin, and hardneg parts oracled by O_SIM_PQADC /
    O_SIM_MARGIN / O_SIM_HARDNEG."""
    # The seven parts are independent; their construction (literal
    # codebooks/planes, geometry threading) is driver/py4j-bound, so the
    # constructors run from a pool (guide §2.6). Expressions and union
    # order unchanged.
    from concurrent.futures import ThreadPoolExecutor

    def _p_tk():
        return q_similarity_topk(spark, sf).select(
            F.lit("topk").alias("part"),
            F.col("query_id").alias("id_a"),
            F.col("neighbor_id").alias("id_b"),
            F.col("rank").alias("rank"),
            F.col("cosine").alias("cosine"),
        )

    def _p_pr():
        return q_similarity_pairs(spark, sf).select(
            F.lit("pairs").alias("part"),
            F.col("id_a"),
            F.col("id_b"),
            *_nulls(("rank", "bigint")),
            F.col("cosine"),
        )

    def _p_qt():
        return q_similarity_quantized_topk(spark, sf).select(
            F.lit("qtopk").alias("part"),
            F.col("query_id").alias("id_a"),
            F.col("neighbor_id").alias("id_b"),
            F.col("rank"),
            F.col("cosine"),
        )

    def _p_pq():
        return q_similarity_pq_adc(spark, sf).select(
            F.lit("pqadc").alias("part"),
            F.col("query_id").alias("id_a"),
            F.col("neighbor_id").alias("id_b"),
            F.col("rank"),
            F.col("adc_dist").alias("cosine"),
        )

    def _p_ivfpq():
        return q_similarity_ivfpq_adc(spark, sf).select(
            F.lit("ivfpqadc").alias("part"),
            F.col("query_id").alias("id_a"),
            F.col("neighbor_id").alias("id_b"),
            F.col("rank"),
            F.col("adc_dist").alias("cosine"),
        )

    def _p_mg():
        return q_similarity_margin(spark, sf).select(
            F.lit("margin").alias("part"),
            F.col("src_id").alias("id_a"),
            F.col("tgt_id").alias("id_b"),
            *_nulls(("rank", "bigint")),
            F.col("margin").alias("cosine"),
        )

    def _p_hn():
        return q_similarity_hardneg(spark, sf).select(
            F.lit("hardneg").alias("part"),
            F.col("query_id").alias("id_a"),
            F.col("neg_id").alias("id_b"),
            F.col("rank").cast("bigint").alias("rank"),
            F.col("cosine"),
        )

    with ThreadPoolExecutor(max_workers=7) as pool:
        futs = [pool.submit(f)
                for f in (_p_tk, _p_pr, _p_qt, _p_pq, _p_ivfpq, _p_mg, _p_hn)]
        tk, pr, qt, pq, ivfpq, mg, hn = [f.result() for f in futs]
    return (
        tk.unionByName(pr).unionByName(qt).unionByName(pq)
        .unionByName(ivfpq).unionByName(mg).unionByName(hn)
    )


O_SIMILARITY_SUITE = (
    "SELECT 'topk' AS part, query_id AS id_a, neighbor_id AS id_b, rank, cosine\nFROM ("
    + O_SIM_TOPK
    + ") tk\nUNION ALL\nSELECT 'pairs', id_a, id_b, cast(NULL as bigint), cosine\nFROM ("
    + O_SIM_PAIRS
    + ") pr\nUNION ALL\nSELECT 'qtopk', query_id, neighbor_id, rank, cosine\nFROM ("
    + O_SIM_QTOPK
    + ") qt\nUNION ALL\nSELECT 'pqadc', query_id, neighbor_id, rank, adc_dist\nFROM ("
    + O_SIM_PQADC
    + ") pq\nUNION ALL\nSELECT 'ivfpqadc', query_id, neighbor_id, rank, adc_dist\nFROM ("
    + O_SIM_IVFPQADC
    + ") ipq\nUNION ALL\nSELECT 'margin', src_id, tgt_id, cast(NULL as bigint), margin\nFROM ("
    + O_SIM_MARGIN
    + ") mg\nUNION ALL\nSELECT 'hardneg', query_id, neg_id, rank, cosine\nFROM ("
    + O_SIM_HARDNEG
    + ") hn"
)


def q_adv_ann_suite(spark, sf):
    """Approximate-nearest-neighbor scale paths: hyperplane-LSH banded top-k,
    IVF (deterministic cells, nprobe probing) top-k, and the STORED IVF-PQ
    index round-trip (build → append → partition-pruned residual-ADC probe;
    its `cosine` slot carries the ADC squared distance) as one tagged
    union. Parts: adv_similarity_lsh_topk, adv_similarity_ivf_topk,
    adv_similarity_ivfpq_store."""
    # the stored round-trip runs eager index writes at construction
    # time; the lsh/ivf constructions overlap it from a pool (§2.6)
    from concurrent.futures import ThreadPoolExecutor

    def _p_lsh():
        return q_adv_similarity_lsh_topk(spark, sf).select(
            F.lit("lsh").alias("part"),
            "query_id",
            "neighbor_id",
            F.col("rank").cast("bigint").alias("rank"),
            "cosine",
        )

    def _p_ivf():
        return q_adv_similarity_ivf_topk(spark, sf).select(
            F.lit("ivf").alias("part"),
            "query_id",
            "neighbor_id",
            F.col("rank").cast("bigint").alias("rank"),
            "cosine",
        )

    def _p_store():
        return q_adv_similarity_ivfpq_store(spark, sf).select(
            F.lit("ivfpqstore").alias("part"),
            "query_id",
            "neighbor_id",
            F.col("rank").cast("bigint").alias("rank"),
            F.col("dist").alias("cosine"),
        )

    with ThreadPoolExecutor(max_workers=3) as pool:
        f_store = pool.submit(_p_store)  # first: eager index writes
        f_lsh = pool.submit(_p_lsh)
        f_ivf = pool.submit(_p_ivf)
        lsh, ivf, store = f_lsh.result(), f_ivf.result(), f_store.result()
    return lsh.unionByName(ivf).unionByName(store)


def q_adv_neardup_suite(spark, sf):
    """Near-duplicate-pair scale paths: banded MinHash-LSH (exact-Jaccard
    rerank), SimHash pigeonhole chunk bucketing, and hyperplane-LSH embedding
    buckets as one tagged union. Candidate generation is approximate by
    construction → rows-only. Parts: adv_minhash_lsh_pairs,
    adv_simhash_pairs, adv_embedding_neardup_lsh."""
    # the minhash part checkpoints its shared shingle frame at
    # construction time; the simhash/embedding constructions overlap it
    # from a pool (§2.6)
    from concurrent.futures import ThreadPoolExecutor

    def _p_mh():
        return q_adv_minhash_lsh_pairs(spark, sf).select(
            F.lit("minhash_lsh").alias("part"),
            F.col("doc_a").alias("id_a"),
            F.col("doc_b").alias("id_b"),
            F.col("jaccard").cast("double").alias("score"),
        )

    def _p_sh():
        return q_adv_simhash_pairs(spark, sf).select(
            F.lit("simhash").alias("part"),
            F.col("doc_a").alias("id_a"),
            F.col("doc_b").alias("id_b"),
            F.col("hamming").cast("double").alias("score"),
        )

    def _p_em():
        return q_adv_embedding_neardup_lsh(spark, sf).select(
            F.lit("embedding_lsh").alias("part"),
            F.col("id_a"),
            F.col("id_b"),
            F.col("cosine").cast("double").alias("score"),
        )

    with ThreadPoolExecutor(max_workers=3) as pool:
        f_mh = pool.submit(_p_mh)
        f_sh = pool.submit(_p_sh)
        f_em = pool.submit(_p_em)
        mh, sh, em = f_mh.result(), f_sh.result(), f_em.result()
    return mh.unionByName(sh).unionByName(em)


# ---------------------------------------------------------------------------
# DuckDB twins of the LSH scale paths. The Spark queries run the REAL
# operators in their portable hash modes (md5-derived shingle/token ints,
# seeded literal hyperplanes, arithmetic-sample IVF centroids), so the
# banded candidate generation — not just the rerank — is reproduced
# verbatim in SQL: same signatures, same buckets, same candidate pairs,
# same scores. That upgrades the approximate operators from rows-only to
# full rows+schema+hash correctness gates.
# ---------------------------------------------------------------------------


def _duck_hyperplane_sig(planes: list[list[float]]) -> str:
    """DuckDB expression for the sign-random-projection signature of column
    ``v`` against the given literal ±1 planes (bit j = v · plane_j > 0)."""
    terms = []
    for j, row in enumerate(planes):
        arr = "[" + ", ".join(str(x) for x in row) + "]::DOUBLE[]"
        terms.append(
            f"(CASE WHEN list_dot_product(v, {arr}) > 0"
            f" THEN (1::BIGINT << {j}) ELSE 0 END)"
        )
    return "(" + "\n          + ".join(terms) + ")"


def _o_adv_neardup() -> str:
    from mallarddv_spark.operators.similarity import hyperplane_matrix

    # --- minhash: num_perm=32, 16 bands × 2 rows, 3-gram shingles ---
    sig_exprs = ",\n           ".join(
        f"min(({97 + 13 * i} * x + {911 + 7919 * i}) % {_MH_P}) AS sig_{i}"
        for i in range(32)
    )
    band_branches = "\n    UNION ALL\n".join(
        f"    SELECT doc_id, {b} AS band,"
        f" md5(concat_ws('-', sig_{2 * b}, sig_{2 * b + 1})) AS bh FROM mh_sigs"
        for b in range(16)
    )
    # --- simhash: portable 60-bit signature, 4 chunks of 15 bits ---
    vote_exprs = ",\n           ".join(
        f"sum(CASE WHEN ((h >> {j}) & 1) = 1 THEN 1 ELSE -1 END) AS s{j}"
        for j in range(60)
    )
    sig_sum = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN (1::BIGINT << {j}) ELSE 0 END)"
        for j in range(60)
    )
    chunk_branches = "\n    UNION ALL\n".join(
        f"    SELECT doc_id, sig, {i} AS ci, (sig >> {i * 15}) % 32768 AS cv"
        f" FROM sh_sig"
        for i in range(4)
    )
    # --- embedding LSH: 32-bit hyperplane signature, 4 bands of 8 bits ---
    em_sig = _duck_hyperplane_sig(hyperplane_matrix(32, 64, 42))
    em_band_branches = "\n    UNION ALL\n".join(
        f"    SELECT vec_id, {b} AS band, (sig >> {b * 8}) % 256 AS bv"
        f" FROM em_sigs"
        for b in range(4)
    )
    return rf"""
WITH mh_sh AS MATERIALIZED (
    SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(t) - 1),
           i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2]))) AS shingle
    FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
          FROM documents) b
    WHERE len(t) >= 3
),
mh_x AS (
    SELECT doc_id,
           (('0x' || substr(md5(shingle), 1, 15))::bigint) % {_MH_P} AS x
    FROM mh_sh
),
mh_sigs AS MATERIALIZED (
    SELECT doc_id,
           {sig_exprs}
    FROM mh_x GROUP BY doc_id
),
mh_buckets AS (
{band_branches}
),
mh_cand AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM mh_buckets a JOIN mh_buckets b
      ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
mh_sizes AS (SELECT doc_id, count(*) AS sz FROM mh_sh GROUP BY doc_id),
mh_inter AS (
    SELECT c.doc_a, c.doc_b, count(*) AS inter
    FROM mh_cand c
    JOIN mh_sh sa ON sa.doc_id = c.doc_a
    JOIN mh_sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
    GROUP BY 1, 2
),
mh_final AS (
    SELECT i.doc_a, i.doc_b,
           round(i.inter / (za.sz + zb.sz - i.inter), 6) AS jaccard
    FROM mh_inter i
    JOIN mh_sizes za ON za.doc_id = i.doc_a
    JOIN mh_sizes zb ON zb.doc_id = i.doc_b
    WHERE round(i.inter / (za.sz + zb.sz - i.inter), 6) >= 0.30
),
sh_toks AS (
    SELECT doc_id,
           unnest(list_distinct(string_split_regex(trim(text), '\s+'))) AS tok
    FROM documents
),
sh_x AS (
    SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::bigint AS h FROM sh_toks
),
sh_votes AS (
    SELECT doc_id,
           {vote_exprs}
    FROM sh_x GROUP BY doc_id
),
sh_sig AS MATERIALIZED (
    SELECT doc_id, {sig_sum} AS sig FROM sh_votes
),
sh_buckets AS (
{chunk_branches}
),
sh_cand AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sig AS sa, b.sig AS sb
    FROM sh_buckets a JOIN sh_buckets b
      ON a.ci = b.ci AND a.cv = b.cv AND a.doc_id < b.doc_id
    GROUP BY 1, 2, 3, 4
),
sh_final AS (
    SELECT doc_a, doc_b, bit_count(xor(sa, sb)) AS hamming
    FROM sh_cand
    WHERE bit_count(xor(sa, sb)) <= 3
),
em_base AS (
    SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    UNION ALL
    SELECT vec_id + 10000000 AS vec_id,
           list_transform(range(1, len(embedding) + 1),
               j -> embedding[j]::DOUBLE
                    + CAST(0.003 * ((vec_id * 31 + (j - 1)) % 7 - 3) AS DOUBLE)) AS v
    FROM embeddings WHERE vec_id % 10 = 0
),
em_sigs AS MATERIALIZED (
    SELECT vec_id, v,
           {em_sig} AS sig,
           sqrt(list_dot_product(v, v)) AS norm
    FROM em_base
),
em_buckets AS (
{em_band_branches}
),
em_cand AS (
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM em_buckets a JOIN em_buckets b
      ON a.band = b.band AND a.bv = b.bv AND a.vec_id < b.vec_id
    GROUP BY 1, 2
),
em_final AS (
    SELECT c.id_a, c.id_b,
           round(list_dot_product(va.v, vb.v) / (va.norm * vb.norm), 6) AS cosine
    FROM em_cand c
    JOIN em_sigs va ON va.vec_id = c.id_a
    JOIN em_sigs vb ON vb.vec_id = c.id_b
    WHERE round(list_dot_product(va.v, vb.v) / (va.norm * vb.norm), 6) >= 0.90
)
SELECT 'minhash_lsh' AS part, doc_a AS id_a, doc_b AS id_b,
       cast(jaccard AS double) AS score
FROM mh_final
UNION ALL
SELECT 'simhash', doc_a, doc_b, cast(hamming AS double) FROM sh_final
UNION ALL
SELECT 'embedding_lsh', id_a, id_b, cast(cosine AS double) FROM em_final
"""


O_ADV_NEARDUP = _o_adv_neardup()


def _o_adv_ann() -> str:
    from mallarddv_spark.operators.similarity import hyperplane_matrix

    pqs_ctes, pqs_final = _o_ivfpqadc("pqs_", corp_hi=2018)
    sig32 = _duck_hyperplane_sig(hyperplane_matrix(32, 64, 42))
    # 8 bands of 4 bits over the 32-bit signature
    qb = "\n    UNION ALL\n".join(
        f"    SELECT vec_id AS query_id, v, {b} AS band, (sig >> {b * 4}) % 16 AS bv"
        f" FROM lsh_sigs WHERE vec_id < 10"
        for b in range(8)
    )
    cb = "\n    UNION ALL\n".join(
        f"    SELECT vec_id AS neighbor_id, v, {b} AS band, (sig >> {b * 4}) % 16 AS bv"
        f" FROM lsh_sigs WHERE vec_id >= 10"
        for b in range(8)
    )
    d6 = (
        "round(list_dot_product({a}, {a}) + list_dot_product({b}, {b})"
        " - 2 * list_dot_product({a}, {b}), 6)"
    )
    cos = (
        "round(list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a}))"
        " * sqrt(list_dot_product({b}, {b}))), 6)"
    )
    return f"""
WITH e AS MATERIALIZED (
    SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
),
lsh_sigs AS MATERIALIZED (
    SELECT vec_id, v,
           {sig32} AS sig
    FROM e
),
lsh_qb AS (
{qb}
),
lsh_cb AS (
{cb}
),
lsh_cand AS (
    SELECT q.query_id, c.neighbor_id
    FROM lsh_qb q JOIN lsh_cb c ON q.band = c.band AND q.bv = c.bv
    GROUP BY 1, 2
),
lsh_scored AS (
    SELECT c.query_id, c.neighbor_id,
           {cos.format(a='q.v', b='n.v')} AS cosine
    FROM lsh_cand c
    JOIN lsh_sigs q ON q.vec_id = c.query_id
    JOIN lsh_sigs n ON n.vec_id = c.neighbor_id
),
lsh_final AS (
    SELECT query_id, neighbor_id, rank, cosine
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id ASC) AS rank
          FROM lsh_scored) x
    WHERE rank <= 5
),
ivf_cent AS MATERIALIZED (
    SELECT vec_id AS centroid_id, v AS centroid
    FROM e WHERE vec_id >= 10 AND vec_id % 61 = 10
),
ivf_assigned AS (
    SELECT neighbor_id, cv, centroid_id
    FROM (SELECT c.vec_id AS neighbor_id, c.v AS cv, t.centroid_id,
                 row_number() OVER (PARTITION BY c.vec_id
                     ORDER BY {d6.format(a='c.v', b='t.centroid')} ASC,
                              t.centroid_id ASC) AS rn
          FROM e c, ivf_cent t WHERE c.vec_id >= 10) x
    WHERE rn = 1
),
ivf_probes AS (
    SELECT query_id, qv, centroid_id
    FROM (SELECT q.vec_id AS query_id, q.v AS qv, t.centroid_id,
                 row_number() OVER (PARTITION BY q.vec_id
                     ORDER BY {d6.format(a='q.v', b='t.centroid')} ASC,
                              t.centroid_id ASC) AS pr
          FROM e q, ivf_cent t WHERE q.vec_id < 10) x
    WHERE pr <= 4
),
ivf_scored AS (
    SELECT p.query_id, a.neighbor_id,
           {cos.format(a='p.qv', b='a.cv')} AS cosine
    FROM ivf_probes p JOIN ivf_assigned a USING (centroid_id)
),
ivf_final AS (
    SELECT query_id, neighbor_id, rank, cosine
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id ASC) AS rank
          FROM ivf_scored) x
    WHERE rank <= 5
),
{pqs_ctes}
SELECT 'lsh' AS part, query_id, neighbor_id, rank, cosine FROM lsh_final
UNION ALL
SELECT 'ivf', query_id, neighbor_id, rank, cosine FROM ivf_final
UNION ALL
-- the stored-index round-trip (build half + append half at fixed
-- centroids/codebooks) must equal the one-shot inline computation,
-- so its oracle IS the inline ivfpqadc replay (CTEs merged under a
-- pqs_ prefix)
SELECT 'ivfpqstore', query_id, neighbor_id, rank, adc_dist AS cosine
FROM ({pqs_final}) ivfpq_store
"""


O_ADV_ANN = _o_adv_ann()


def q_tpch_q18(spark, sf):
    """TPC-H Q18 (large-volume customer): heavy-hitter detection via a
    HAVING subquery over the full fact table, then a 3-way join and
    re-aggregation — the canonical big-join + semi-join-pushdown shape.
    Threshold 250 (data max ≈ 475) so every SF yields rows; ORDER BY
    carries an o_orderkey tiebreak so the LIMIT set is deterministic."""
    c = _t(spark, sf, "customer")
    o = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("s"))
        .filter(F.col("s") > 250)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    j = (
        o.join(big, o.o_orderkey == big.big_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
    )
    return (
        j.groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(
            F.expr(f"cast(sum(cast(l_quantity as {DEC})) as double)").alias("sum_qty")
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderdate"), F.asc("o_orderkey"))
        .limit(100)
    )


O_TPCH_Q18 = f"""
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
       cast(sum(cast(l_quantity as {DEC})) as double) AS sum_qty
FROM customer, orders, lineitem
WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        HAVING sum(l_quantity) > 250)
  AND c_custkey = o_custkey
  AND o_orderkey = l_orderkey
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
LIMIT 100
"""


def q_dv_pit_customer(spark, sf):
    """Point-in-time (PIT) table — the DV mart accelerator beside the
    bridge: for each (hub key, month-start snapshot), the load_dts of the
    latest version of EACH satellite at or before the snapshot (backward
    as-of per sat; NULL where a sat has no version yet). Two sat histories
    are derived from orders (all versions, and the sparser 'F'-status
    subset) so the multi-sat shape and NULL-padding are both exercised."""
    from mallarddv_spark.operators.asof import pit_table

    o = _t(spark, sf, "orders")
    hk = _mhash("o_custkey")
    sat_status = o.select(
        hk.alias("customer_hk"), F.col("o_orderdate").alias("load_dts")
    )
    sat_flagged = o.filter("o_orderstatus = 'F'").select(
        hk.alias("customer_hk"), F.col("o_orderdate").alias("load_dts")
    )
    snaps = o.select(
        F.date_trunc("month", "o_orderdate").alias("snapshot_ts")
    ).distinct()
    return pit_table(
        {"sat_status": sat_status, "sat_flagged": sat_flagged},
        "customer_hk",
        snaps,
    )


O_DV_PIT = f"""
WITH o AS (
    SELECT {md5_sql(['o_custkey'])} AS customer_hk, o_orderdate, o_orderstatus
    FROM orders
),
keys AS (SELECT DISTINCT customer_hk FROM o),
snaps AS (
    SELECT DISTINCT cast(date_trunc('month', o_orderdate) as timestamp) AS snapshot_ts
    FROM o
),
grid AS (SELECT customer_hk, snapshot_ts FROM keys CROSS JOIN snaps)
SELECT g.customer_hk, g.snapshot_ts,
       (SELECT max(o_orderdate) FROM o s
         WHERE s.customer_hk = g.customer_hk
           AND s.o_orderdate <= g.snapshot_ts) AS sat_status_load_dts,
       (SELECT max(o_orderdate) FROM o s
         WHERE s.customer_hk = g.customer_hk AND s.o_orderstatus = 'F'
           AND s.o_orderdate <= g.snapshot_ts) AS sat_flagged_load_dts
FROM grid g
"""


_STREAM_GATE_SEQ = [0]


def q_streaming_sessionization(spark, sf):
    """REAL Structured Streaming under the correctness gate: the events
    table is re-written as three time-ordered parquet files, streamed with
    ``maxFilesPerTrigger=1`` (three micro-batches) through the
    applyInPandasWithState sessionizer, and drained with an availableNow
    trigger into a memory sink. Sessions must stitch across micro-batch
    boundaries; the oracle is the closed-form batch truth minus each
    user's final (still-open) session, which NoTimeout state never
    flushes."""

    from mallarddv_spark.streaming.stateful import sessionize_stream

    # bounded to a deterministic user subset: the gate exercises
    # cross-batch state stitching, not raw volume (the full-corpus cost
    # is the same pandas-state work × more rows)
    e = (
        _t(spark, sf, "events")
        .filter(F.col("user_id") < 200)
        .select("event_id", "ts", "user_id")
    )
    # global time-ordered thirds → per-user event order is preserved
    # across micro-batches (state sees each user's events in ts order)
    us = F.expr("unix_micros(cast(ts as timestamp))")
    e = e.persist()  # one scan feeds the boundary probe + three writes
    try:
        b1, b2 = (
            e.select(
                F.expr(
                    "percentile(unix_micros(cast(ts as timestamp)), array(0.3333, 0.6667))"
                ).alias("b")
            ).first()["b"]
        )
        base = _scratch_dir("stream_gate_")
        # FileStreamSource processes files in modification-time order, and
        # coarse-mtime filesystems (or fast sequential writes) can tie or
        # reorder the three thirds — pin explicit strictly-increasing
        # mtimes so micro-batch order is deterministic everywhere. The
        # mtime stamps (not the write order) carry that guarantee, so the
        # three third-writes run CONCURRENTLY into private temp dirs
        # (guide §2.6) and the files are then moved into the stream dir
        # in third order, each stamped as it lands — same files, same
        # stamps, same micro-batch sequence as the old serial appends.
        import os as _os

        def _parts(d):
            return sorted(
                _os.path.join(d, f)
                for f in _os.listdir(d)
                if f.endswith(".parquet") and not f.startswith(("_", "."))
            )

        flts = (us <= b1, (us > b1) & (us <= b2), us > b2)

        def _wr(i, flt):
            e.filter(flt).coalesce(1).write.mode("append").parquet(
                f"{base}__third{i}"
            )

        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=3) as _pool:
            list(_pool.map(lambda t_: _wr(*t_), enumerate(flts)))
        _os.makedirs(base, exist_ok=True)
        import shutil as _shutil

        for i in range(3):
            t = 1_700_000_000 + i * 10
            for p in _parts(f"{base}__third{i}"):
                dst = _os.path.join(
                    base, f"third{i}_{_os.path.basename(p)}"
                )
                _os.rename(p, dst)
                _os.utime(dst, (t, t))
            _shutil.rmtree(f"{base}__third{i}", ignore_errors=True)
    finally:
        e.unpersist()

    schema = spark.read.parquet(base).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(base)
    )
    sessions = sessionize_stream(stream)
    _STREAM_GATE_SEQ[0] += 1
    name = f"gate_stream_sessions_{_STREAM_GATE_SEQ[0]}"
    # state-store partition count is pinned at stream start from the
    # session's shuffle partitions; 32 partitions × 3 micro-batches of
    # pandas-worker + state-store setup would be pure overhead for this
    # key cardinality, so run the stream with 8 and restore after
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    prev_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    # NTZ → TIMESTAMP coercion and the Arrow/pandas timestamp round-trip
    # both read the session timezone; pin UTC so naive source values and
    # emitted session bounds are identical wall times in ANY host session
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        q = (
            sessions.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.conf.set("spark.sql.session.timeZone", prev_tz)
        # the memory sink holds the drained rows; the staged stream files
        # are no longer needed
        import shutil

        shutil.rmtree(base, ignore_errors=True)
    return spark.table(name)


O_STREAMING_SESSION = """
WITH flagged AS (
    SELECT user_id, ts, event_id,
           CASE WHEN prev_ts IS NULL OR (epoch(ts) - epoch(prev_ts)) > 1800.0
                THEN 1 ELSE 0 END AS new_s
    FROM (
        SELECT user_id, ts, event_id,
               lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
        FROM events WHERE user_id < 200
    ) x
),
sid AS (
    SELECT user_id, ts,
           sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS sid
    FROM flagged
),
sess AS (
    SELECT user_id, sid,
           min(ts) AS session_start, max(ts) AS session_end,
           count(*) AS n_events
    FROM sid GROUP BY 1, 2
),
last AS (SELECT user_id, max(sid) AS sid FROM sess GROUP BY 1)
SELECT s.user_id, s.session_start, s.session_end, s.n_events
FROM sess s LEFT JOIN last l ON s.user_id = l.user_id AND s.sid = l.sid
WHERE l.sid IS NULL
"""


#: suite name → constituent micro-queries it replaced in the registry
CONSOLIDATED_PARTS: dict[str, list[str]] = {
    "text_doc_stats": [
        "text_token_count", "text_quality", "text_langid",
        "text_fingerprint", "text_bpe_tokens",
    ],
    "text_curation_assign": ["text_split_assign", "text_stratified_sample"],
    "text_chunking_winnow": [
        "text_chunking", "text_winnow_fingerprints", "text_line_dedup",
    ],
    "text_frequency_suite": ["text_vocab_topk", "text_rarity_score"],
    "text_contamination_suite": ["text_decontaminate", "text_pii_redact"],
    "sql_scalar_suite": [
        "sql_date_functions", "sql_string_functions",
        "sql_null_semantics", "sql_json_extract", "sql_variant_extract",
        "sql_array_functions", "sql_regexp_functions",
    ],
    "sql_grouping_suite": [
        "sql_rollup", "sql_cube", "sql_unpivot", "sql_conditional_pivot",
    ],
    "sql_window_agg_suite": [
        "sql_window_suite", "sql_range_frame", "sql_array_agg",
    ],
    "sql_subquery_suite": [
        "sql_set_ops", "sql_correlated_exists", "sql_exact_percentile",
    ],
    "dedup_signatures": ["dedup_minhash_sig", "dedup_simhash"],
    "similarity_suite": [
        "similarity_topk", "similarity_pairs", "similarity_quantized_topk",
    ],
    "adv_ann_suite": ["adv_similarity_lsh_topk", "adv_similarity_ivf_topk"],
    "adv_neardup_suite": [
        "adv_minhash_lsh_pairs", "adv_simhash_pairs", "adv_embedding_neardup_lsh",
    ],
}

for _parts in CONSOLIDATED_PARTS.values():
    for _name in _parts:
        del REGISTRY[_name]

REGISTRY.update(
    {
        "text_doc_stats": (q_text_doc_stats, O_TEXT_DOC_STATS),
        "text_curation_assign": (q_text_curation_assign, O_TEXT_CURATION_ASSIGN),
        "text_chunking_winnow": (q_text_chunking_winnow, O_TEXT_CHUNKING_WINNOW),
        "text_frequency_suite": (q_text_frequency_suite, O_TEXT_FREQUENCY),
        "text_contamination_suite": (q_text_contamination_suite, O_TEXT_CONTAMINATION),
        "sql_scalar_suite": (q_sql_scalar_suite, O_SQL_SCALAR),
        "sql_grouping_suite": (q_sql_grouping_suite, O_SQL_GROUPING),
        "sql_window_agg_suite": (q_sql_window_agg_suite, O_SQL_WINDOW_AGG),
        "sql_subquery_suite": (q_sql_subquery_suite, O_SQL_SUBQUERY),
        "dedup_signatures": (q_dedup_signatures, O_DEDUP_SIGNATURES),
        "similarity_suite": (q_similarity_suite, O_SIMILARITY_SUITE),
        "adv_ann_suite": (q_adv_ann_suite, O_ADV_ANN),
        "adv_neardup_suite": (q_adv_neardup_suite, O_ADV_NEARDUP),
        "tpch_q18": (q_tpch_q18, O_TPCH_Q18),
        "streaming_sessionization": (q_streaming_sessionization, O_STREAMING_SESSION),
        "dv_pit_customer": (q_dv_pit_customer, O_DV_PIT),
    }
)

assert len(REGISTRY) <= 50, (
    f"registry has {len(REGISTRY)} entries; the driver's correctness gate "
    "verifies only the first 50 — consolidate before adding more"
)
