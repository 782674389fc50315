"""Catalog-statistics tests: ``vault.analyze_tables`` lands the stats the
cost-based optimizer reads for join planning."""


def test_analyze_tables_records_stats(spark):
    """vault.analyze_tables() computes catalog stats the CBO can use
    (row count visible via DESCRIBE EXTENDED)."""
    from mallarddv_spark import MallardSparkVault

    dbs = dict(stg_db="an_stg", dv_db="an_dv", bv_db="an_bv",
               metadata_db="an_meta")
    for db in dbs.values():
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    v = MallardSparkVault(spark, **dbs)
    assert v.init_vault("tests/fixtures/tables.csv",
                        "tests/fixtures/transitions.csv") == []
    assert v.execute_flow(
        "customer", "t", file_path="tests/fixtures/customer.csv",
        load_date_overwrite="2025-01-01 00:00:00",
    ) == []
    analyzed = v.analyze_tables()
    assert "an_dv.hub_customer" in analyzed
    detail = spark.sql("DESCRIBE EXTENDED an_dv.hub_customer").collect()
    stats = [r.data_type for r in detail if r.col_name == "Statistics"]
    assert stats and "rows" in stats[0]
    for db in dbs.values():
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_analyzed_stats_flow_into_optimizer(spark):
    """With CBO on, ANALYZE'd row counts reach the optimizer's plan
    statistics (the numbers broadcast decisions and join reordering read);
    conf change is test-scoped."""
    spark.sql("DROP TABLE IF EXISTS default.cbo_probe")
    spark.range(1000).selectExpr("id", "id % 7 AS k").write.saveAsTable(
        "default.cbo_probe"
    )
    old = spark.conf.get("spark.sql.cbo.enabled", "false")
    try:
        spark.conf.set("spark.sql.cbo.enabled", "true")
        spark.sql("ANALYZE TABLE default.cbo_probe COMPUTE STATISTICS")
        stats = (
            spark.table("default.cbo_probe")
            ._jdf.queryExecution()
            .optimizedPlan()
            .stats()
            .toString()
        )
        assert "rowCount=1.00E+3" in stats or "rowCount=1000" in stats, stats
    finally:
        spark.conf.set("spark.sql.cbo.enabled", old)
        spark.sql("DROP TABLE IF EXISTS default.cbo_probe")


def test_analyze_drives_broadcast_decision(spark):
    """End-to-end CBO demonstration: with AQE off and a broadcast
    threshold between the dim's filtered and unfiltered sizes, the
    filtered-dim join is a SortMergeJoin until ANALYZE ... FOR ALL
    COLUMNS lands column stats — then CBO's filter-selectivity estimate
    drops the build side under the threshold and the SAME query plans a
    BroadcastHashJoin. This is the maintenance loop analyze_tables exists
    for: stats, not file-size guesses, pick the join strategy."""
    spark.sql("DROP TABLE IF EXISTS default.cbo_fact")
    spark.sql("DROP TABLE IF EXISTS default.cbo_dim")
    spark.range(200_000).selectExpr("id", "id % 1000 AS k").write.saveAsTable(
        "default.cbo_fact"
    )
    spark.range(50_000).selectExpr(
        "id AS did", "cast(id % 1000 as int) AS k2", "repeat('x', 60) AS pad"
    ).write.saveAsTable("default.cbo_dim")

    def plan():
        df = spark.sql(
            "SELECT f.id, d.did FROM default.cbo_fact f "
            "JOIN (SELECT * FROM default.cbo_dim WHERE k2 = 1) d ON f.k = d.k2"
        )
        return df._jdf.queryExecution().executedPlan().toString()

    confs = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.cbo.enabled": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024),
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        before = plan()
        assert "SortMergeJoin" in before and "BroadcastHashJoin" not in before
        spark.sql(
            "ANALYZE TABLE default.cbo_dim COMPUTE STATISTICS FOR ALL COLUMNS"
        )
        spark.sql("ANALYZE TABLE default.cbo_fact COMPUTE STATISTICS")
        after = plan()
        assert "BroadcastHashJoin" in after, after
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
        spark.sql("DROP TABLE IF EXISTS default.cbo_fact")
        spark.sql("DROP TABLE IF EXISTS default.cbo_dim")


def test_column_stats_collapse_filtered_join_estimate(spark):
    """The full CBO story: FOR ALL COLUMNS statistics turn a filtered
    join's size estimate from raw-bytes guesswork into a selectivity-
    aware figure — the number that flips a 100 TB plan from sort-merge
    to broadcast. Without stats the optimizer prices the join near the
    unfiltered scan product; with them the estimate collapses by orders
    of magnitude and carries a row count."""
    for t in ("cbo_big", "cbo_dim"):
        spark.sql(f"DROP TABLE IF EXISTS default.{t}")
    spark.range(10_000).selectExpr("id", "id % 10 AS k").write.saveAsTable(
        "default.cbo_big"
    )
    spark.range(10).selectExpr(
        "id AS k", "concat('v', id) AS v"
    ).write.saveAsTable("default.cbo_dim")
    q = ("SELECT * FROM default.cbo_big b JOIN default.cbo_dim d "
         "ON b.k = d.k WHERE b.id < 100")
    old = spark.conf.get("spark.sql.cbo.enabled", "false")

    def est(query):
        st = spark.sql(query)._jdf.queryExecution().optimizedPlan().stats()
        rc = st.rowCount()
        return int(str(st.sizeInBytes())), (
            None if rc.isEmpty() else int(str(rc.get()))
        )

    try:
        spark.conf.set("spark.sql.cbo.enabled", "true")
        size_before, rows_before = est(q)
        assert rows_before is None  # no stats -> no cardinality estimate
        for t in ("cbo_big", "cbo_dim"):
            spark.sql(
                f"ANALYZE TABLE default.{t} COMPUTE STATISTICS "
                "FOR ALL COLUMNS"
            )
        size_after, rows_after = est(q)
        # selectivity-aware: ~100 surviving build rows x 10 dim matches
        assert rows_after is not None and rows_after <= 1000
        assert size_after * 1000 < size_before, (size_before, size_after)
    finally:
        spark.conf.set("spark.sql.cbo.enabled", old)
        for t in ("cbo_big", "cbo_dim"):
            spark.sql(f"DROP TABLE IF EXISTS default.{t}")
