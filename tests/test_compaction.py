"""Compaction / Z-order maintenance ops: file counts drop, content is
preserved, and Z-ordering tightens per-file key ranges (the property data
skipping relies on)."""

import pytest
from pyspark.sql import functions as F

from mallarddv_spark.sources.layout import compact_table, table_file_stats


@pytest.fixture()
def fragmented_table(spark, tmp_path):
    spark.sql("CREATE DATABASE IF NOT EXISTS cmp_db")
    spark.sql("DROP TABLE IF EXISTS cmp_db.frag")
    df = spark.range(0, 20_000).select(
        F.col("id"),
        (F.col("id") * 37 % 1000).alias("x"),
        (F.col("id") * 91 % 1000).alias("y"),
    )
    # simulate many tiny ingestion appends
    for i in range(8):
        df.filter(F.col("id") % 8 == i).repartition(6).write.mode(
            "append"
        ).saveAsTable("cmp_db.frag")
    yield "cmp_db.frag"
    spark.sql("DROP TABLE IF EXISTS cmp_db.frag")


def test_compact_reduces_files_preserves_content(spark, fragmented_table):
    before_sum = spark.table(fragmented_table).agg(
        F.count("*"), F.sum("id"), F.sum("x")
    ).first()
    stats = compact_table(spark, fragmented_table, target_bytes=10 << 20)
    assert stats["before"]["n_files"] >= 48
    assert stats["after"]["n_files"] < stats["before"]["n_files"]
    assert stats["after"]["n_files"] <= 4
    after_sum = spark.table(fragmented_table).agg(
        F.count("*"), F.sum("id"), F.sum("x")
    ).first()
    assert tuple(before_sum) == tuple(after_sum)


def test_compact_staged_rename_path(spark, fragmented_table):
    """Above the checkpoint size gate, compaction rewrites into a staged
    __compact table and swaps via catalog rename (no block-manager copy of
    the table) — content and file counts must behave identically."""
    before_sum = spark.table(fragmented_table).agg(
        F.count("*"), F.sum("id"), F.sum("x")
    ).first()
    stats = compact_table(
        spark, fragmented_table, target_bytes=10 << 20, max_checkpoint_bytes=0
    )
    assert stats["after"]["n_files"] < stats["before"]["n_files"]
    after_sum = spark.table(fragmented_table).agg(
        F.count("*"), F.sum("id"), F.sum("x")
    ).first()
    assert tuple(before_sum) == tuple(after_sum)
    # staging table must not linger
    assert not spark.catalog.tableExists(f"{fragmented_table}__compact")


def test_zorder_tightens_file_ranges(spark, fragmented_table):
    """After Z-order by (x, y), each output file should cover a small
    rectangle of the (x, y) space — measured as the average per-partition
    x-range being far below the global range."""
    stats = compact_table(
        spark, fragmented_table, target_bytes=64 << 10, zorder_by=["x", "y"]
    )
    assert stats["after"]["n_files"] >= 2
    t = spark.table(fragmented_table)
    per_part = (
        t.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(
            (F.max("x") - F.min("x")).alias("xr"),
            (F.max("y") - F.min("y")).alias("yr"),
        )
        .agg(F.avg("xr").alias("axr"), F.avg("yr").alias("ayr"), F.count("*").alias("n"))
        .first()
    )
    assert per_part["n"] >= 2
    # global range is ~1000; z-ordered partitions must be much tighter on
    # at least the average of the two dims
    assert (per_part["axr"] + per_part["ayr"]) / 2 < 700
    # content preserved
    assert t.count() == 20_000


def test_table_file_stats_counts(spark, fragmented_table):
    s = table_file_stats(spark, fragmented_table)
    assert s["n_files"] > 0 and s["total_bytes"] > 0
    assert s["avg_bytes"] * s["n_files"] <= s["total_bytes"] + s["n_files"]


@pytest.fixture()
def bucketed_table(spark):
    spark.sql("CREATE DATABASE IF NOT EXISTS cmp_db")
    spark.sql("DROP TABLE IF EXISTS cmp_db.bkt")
    df = spark.range(0, 5_000).select(
        F.col("id"), (F.col("id") % 97).alias("k")
    )
    df.write.mode("overwrite").bucketBy(8, "k").sortBy("id").saveAsTable(
        "cmp_db.bkt"
    )
    # fragment it with appends (appends keep the bucket spec)
    for i in range(3):
        df.filter(F.col("id") % 4 == i).write.mode("append").bucketBy(
            8, "k"
        ).sortBy("id").saveAsTable("cmp_db.bkt")
    yield "cmp_db.bkt"
    spark.sql("DROP TABLE IF EXISTS cmp_db.bkt")


def test_compact_preserves_bucketing(spark, bucketed_table):
    """Compacting a bucketed table must keep the bucket spec (a plain
    rewrite would silently de-bucket it and downstream shuffle-free joins
    would regress) — on both the checkpoint and the staged-rename path."""
    from mallarddv_spark.sources.layout import bucket_spec

    before = bucket_spec(spark, bucketed_table)
    assert before == {
        "num_buckets": 8, "bucket_cols": ["k"], "sort_cols": ["id"],
    }
    n_before = spark.table(bucketed_table).count()
    compact_table(spark, bucketed_table)  # checkpoint path
    assert bucket_spec(spark, bucketed_table) == before
    compact_table(spark, bucketed_table, max_checkpoint_bytes=0)  # staged path
    assert bucket_spec(spark, bucketed_table) == before
    assert spark.table(bucketed_table).count() == n_before


def test_compact_bucketed_rejects_zorder(spark, bucketed_table):
    with pytest.raises(ValueError, match="bucketed"):
        compact_table(spark, bucketed_table, zorder_by=["id"])


def test_heal_compaction_states(spark, fragmented_table):
    """Every interruption point of the staged swap leaves a recoverable
    catalog state that heal_compaction resolves."""
    from mallarddv_spark.sources.layout import heal_compaction

    t = fragmented_table
    staged, backup = f"{t}__compact", f"{t}__pre_compact"
    n = spark.table(t).count()

    # clean catalog → no action
    assert heal_compaction(spark, t) is None

    # crash before swap: staged exists alongside main → staged dropped
    spark.table(t).limit(10).write.saveAsTable(staged)
    assert heal_compaction(spark, t) == "dropped_staged"
    assert not spark.catalog.tableExists(staged)
    assert spark.table(t).count() == n

    # crash between rename-out and rename-in: only backup → restored
    spark.sql(f"ALTER TABLE {t} RENAME TO {backup}")
    assert heal_compaction(spark, t) == "restored_backup"
    assert spark.table(t).count() == n

    # crash after swap, before backup drop: both → backup dropped
    spark.table(t).limit(10).write.saveAsTable(backup)
    assert heal_compaction(spark, t) == "dropped_backup"
    assert not spark.catalog.tableExists(backup)
    assert spark.table(t).count() == n


def test_recover_heals_torn_compaction(spark):
    """vault.recover() is the single entry point for crash repair: a
    compaction that died between rename-out and rename-in (data reachable
    only as __pre_compact) must come back catalog-resolvable."""
    from mallarddv_spark import MallardSparkVault

    dbs = dict(stg_db="hc_stg", dv_db="hc_dv", bv_db="hc_bv",
               metadata_db="hc_meta")
    for db in dbs.values():
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    v = MallardSparkVault(spark, **dbs)
    assert v.init_vault("tests/fixtures/tables.csv",
                        "tests/fixtures/transitions.csv") == []
    assert v.execute_flow(
        "customer", "t", file_path="tests/fixtures/customer.csv",
        load_date_overwrite="2025-01-01 00:00:00",
    ) == []
    t = "hc_dv.hub_customer"
    n = spark.table(t).count()
    # simulate the worst interruption point: main renamed out, staged never in
    spark.sql(f"ALTER TABLE {t} RENAME TO {t}__pre_compact")
    assert not spark.catalog.tableExists(t)
    out = v.recover()
    assert out.get(f"{t} (compaction)") == "restored_backup"
    assert spark.table(t).count() == n
    assert v.recover() == {}  # clean second pass
    for db in dbs.values():
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
