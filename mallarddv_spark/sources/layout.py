"""Physical layout helpers for lake-scale Data Vault tables.

The load protocol's joins are all keyed on cryptographic hash keys, so the
one physical decision that matters at 100 TB is: **co-locate the big table
on its hash key**. Spark bucketing (`bucketBy` on saveAsTable) persists the
hash-partitioning; a join or anti-join against a table bucketed on the join
key skips the Exchange on that side entirely (verified by
``tests/test_layout.py`` asserting the plan has no shuffle on the bucketed
side). On Delta/Iceberg the analogous tools are liquid clustering /
partition transforms; the protocol is unchanged.

Guidance encoded here:
* hubs/links: bucket by the hash key — uniform by construction, so every
  bucket is the same size (no skew, ever);
* satellites: bucket by parent hash key (windows and joins both key on it),
  optionally partition by date(load_dts) for retention pruning;
* bucket counts: ~ total_size / 128 MB, rounded to a power of two.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table_fqn: str,
    bucket_col: str,
    num_buckets: int = 32,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a managed table bucketed (and optionally sorted)
    by ``bucket_col`` — joins on that column then read pre-partitioned."""
    writer = df.write.mode(mode).bucketBy(num_buckets, bucket_col)
    if sort_col:
        writer = writer.sortBy(sort_col)
    writer.saveAsTable(table_fqn)


def suggest_buckets(total_bytes: int, target_bytes: int = 128 << 20) -> int:
    """Power-of-two bucket count targeting ~128 MB per bucket."""
    n = max(1, total_bytes // target_bytes)
    p = 1
    while p < n:
        p <<= 1
    return p


def table_location(spark, table_fqn: str) -> str:
    """The catalog's storage location (URI) of a table."""
    return (
        spark.sql(f"DESCRIBE TABLE EXTENDED {table_fqn}")
        .filter("col_name = 'Location'")
        .first()[1]
    )


def table_file_stats(spark, table_fqn: str) -> dict:
    """File-level stats for a managed parquet table: ``{n_files,
    total_bytes, avg_bytes, small_files}`` (small = < 1/4 of the 128 MB
    target). Reads filesystem metadata only — no data scan."""
    import os

    path = table_location(spark, table_fqn).removeprefix("file:")
    sizes = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith(("_", ".")):
                sizes.append(os.path.getsize(os.path.join(root, f)))
    total = sum(sizes)
    return {
        "n_files": len(sizes),
        "total_bytes": total,
        "avg_bytes": total // len(sizes) if sizes else 0,
        "small_files": sum(1 for s in sizes if s < (128 << 20) // 4),
    }


def bucket_spec(spark, table_fqn: str) -> dict | None:
    """The table's bucketing spec from the catalog —
    ``{num_buckets, bucket_cols, sort_cols}`` — or None for an unbucketed
    table. Rewrite ops (compaction) use this to REAPPLY bucketing: a plain
    ``saveAsTable`` would silently de-bucket the table and downstream
    shuffle-free joins would regress."""
    rows = {
        r.col_name: (r.data_type or "")
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table_fqn}").collect()
    }
    nb = rows.get("Num Buckets", "").strip()
    if not nb:
        return None

    def _cols(key: str) -> list[str]:
        raw = rows.get(key, "").strip().strip("[]")
        return [c.strip(" `") for c in raw.split(",") if c.strip(" `")]

    return {
        "num_buckets": int(nb),
        "bucket_cols": _cols("Bucket Columns"),
        "sort_cols": _cols("Sort Columns"),
    }


def heal_compaction(spark, table_fqn: str) -> str | None:
    """Recover from a compaction interrupted mid-swap (see
    :func:`compact_table`): a leftover ``__pre_compact`` backup or
    ``__compact`` staging table is the detectable signal. Returns the
    action taken, or None when the catalog is clean.

    States, in swap order:
    * main + staged, no backup → crashed before the swap: staged copy is
      complete but never became live — drop it (``"dropped_staged"``);
    * backup + main → crashed after the swap, before the backup drop: the
      compacted table is live — drop the backup (``"dropped_backup"``);
    * backup, no main → crashed between rename-out and rename-in: restore
      the backup under the original name (``"restored_backup"``), leaving
      any staged table for the next compaction run to replace.
    """
    staged, backup = f"{table_fqn}__compact", f"{table_fqn}__pre_compact"
    has_main = spark.catalog.tableExists(table_fqn)
    has_staged = spark.catalog.tableExists(staged)
    has_backup = spark.catalog.tableExists(backup)
    if has_backup and not has_main:
        spark.sql(f"ALTER TABLE {backup} RENAME TO {table_fqn}")
        return "restored_backup"
    if has_backup and has_main:
        spark.sql(f"DROP TABLE {backup}")
        return "dropped_backup"
    if has_staged and has_main:
        spark.sql(f"DROP TABLE {staged}")
        return "dropped_staged"
    return None


def heal_all_compactions(spark, db: str) -> dict[str, str]:
    """Sweep ``db`` for compactions interrupted mid-swap (leftover
    ``__compact`` / ``__pre_compact`` tables) and :func:`heal_compaction`
    each. Returns {base table: action}; empty when the catalog is clean.
    Invoked by the facade's ``recover()`` so one entry point heals both
    torn runs and torn compactions."""
    leftovers = set()
    for t in spark.catalog.listTables(db):
        for suffix in ("__pre_compact", "__compact"):
            if t.name.endswith(suffix):
                leftovers.add(f"{db}.{t.name[: -len(suffix)]}")
    healed = {}
    for base in sorted(leftovers):
        action = heal_compaction(spark, base)
        if action:
            healed[base] = action
    return healed


def compact_table(
    spark,
    table_fqn: str,
    target_bytes: int = 128 << 20,
    zorder_by: list[str] | None = None,
    max_checkpoint_bytes: int = 8 << 30,
) -> dict:
    """Small-file compaction (the OPTIMIZE of Delta/Iceberg, expressed with
    Spark primitives): rewrite the table into ~``target_bytes`` files,
    optionally clustering rows by a Z-order interleave of ``zorder_by``
    columns for multi-column data skipping.

    Streaming ingestion and per-flow appends each land a handful of files;
    after N flows a 100 TB table is millions of small files and the scan is
    metadata-bound. Compaction is the maintenance op that restores scan
    health. Mechanism: read → coalesce to ceil(size/target) partitions
    (coalesce, not repartition — no shuffle unless Z-ordering) → rewrite.
    On Delta this is ``OPTIMIZE [ZORDER BY]`` and the rewrite is
    transactional.

    Rewrite strategy is size-gated (``max_checkpoint_bytes``):

    * small tables stage through ``localCheckpoint`` before the in-place
      overwrite (read-while-overwrite safety; readers never observe a
      missing table) — but a checkpoint holds a full copy in the block
      manager, which at 100 TB would double cluster storage;
    * tables above the gate rewrite into a staged ``__compact`` table
      (plain on-disk copy — the floor for ANY compaction) and swap via
      rename-out → rename-in → drop-backup: the original is renamed to
      ``__pre_compact``, the staged table takes its name, then the backup
      is dropped. A crash at ANY point leaves the data catalog-resolvable
      (as the live table, the backup, or both) and the leftover
      ``__pre_compact``/``__compact`` table is a detectable signal that
      :func:`heal_compaction` resolves. Concurrent readers holding the old
      table's file listing keep reading it; new queries resolve the
      compacted table after the swap.

    Bucketed tables keep their bucketing: the spec is read from the
    catalog (:func:`bucket_spec`) and reapplied on the rewrite, with the
    data repartitioned to the bucket count so each bucket lands as one
    file. ``zorder_by`` on a bucketed table raises — Z-order reorders rows
    across buckets, destroying the co-location the bucketing exists for
    (the bucket sort columns are that layout's clustering tool).

    Returns {before: stats, after: stats}.
    """
    import math

    from pyspark.sql import functions as F

    spec = bucket_spec(spark, table_fqn)
    if spec and zorder_by:
        raise ValueError(
            f"{table_fqn} is bucketed by {spec['bucket_cols']}; Z-order "
            "would destroy bucket co-location — compact without zorder_by"
        )
    before = table_file_stats(spark, table_fqn)
    df = spark.table(table_fqn)
    n_parts = max(1, math.ceil(before["total_bytes"] / target_bytes))

    if zorder_by:
        # Z-order: interleave the bits of per-column 16-bit bins so a file
        # covers a small hyper-rectangle of the key space — skipping works
        # for predicates on any subset of the columns. Bins come from
        # min/max linear scaling (one tiny agg broadcast back), NOT a
        # global ntile window, which would serialize the whole table
        # through one partition. Numeric columns only; mixed layouts
        # should range-partition on the leading column instead.
        bits = 16
        stats = df.agg(
            *[F.min(c).cast("double").alias(f"__mn{i}") for i, c in enumerate(zorder_by)],
            *[F.max(c).cast("double").alias(f"__mx{i}") for i, c in enumerate(zorder_by)],
        )
        tmp = df.crossJoin(F.broadcast(stats))
        rank_exprs = {
            f"__r{i}": F.expr(
                f"cast(least({(1 << bits) - 1}, floor("
                f"(cast({c} as double) - __mn{i}) / "
                f"(greatest(__mx{i} - __mn{i}, 1e-300)) * {(1 << bits) - 1})) as bigint)"
            )
            for i, c in enumerate(zorder_by)
        }
        tmp = tmp.withColumns(rank_exprs)
        interleave = " + ".join(
            f"shiftleft(cast(pmod(shiftrightunsigned(__r{i}, {b}), 2) as bigint), "
            f"{b * len(zorder_by) + i})"
            for b in range(bits)
            for i in range(len(zorder_by))
        )
        drop = [f"__r{i}" for i in range(len(zorder_by))] + [
            f"__mn{i}" for i in range(len(zorder_by))
        ] + [f"__mx{i}" for i in range(len(zorder_by))]
        ordered = (
            tmp.withColumn("__z", F.expr(interleave))
            .repartitionByRange(n_parts, "__z")
            .sortWithinPartitions("__z")
            .drop("__z", *drop)
        )
    elif spec:
        # align rows to their buckets so the bucketed write emits one file
        # per bucket instead of one per (task, bucket)
        ordered = df.repartition(spec["num_buckets"], *spec["bucket_cols"])
    else:
        ordered = df.coalesce(n_parts)
    rewrite_table(
        spark, table_fqn, ordered,
        staged=before["total_bytes"] > max_checkpoint_bytes, spec=spec,
    )
    return {"before": before, "after": table_file_stats(spark, table_fqn)}


def rewrite_table(
    spark, table_fqn: str, out_df, staged: bool, spec: dict | None = None
) -> None:
    """Replace ``table_fqn``'s contents with ``out_df``, preserving any
    bucketing ``spec`` (pass the result of :func:`bucket_spec`; None =
    probe it here).

    ``staged=False``: localCheckpoint then in-place overwrite (full copy
    pinned in the block manager — small tables only). ``staged=True``: the
    crash-safe rename swap shared with :func:`compact_table` — write to
    ``__compact``, rename the original out to ``__pre_compact``, rename
    the staged table in, drop the backup. A crash at any point leaves the
    data catalog-resolvable and :func:`heal_compaction` (invoked by the
    facade's ``recover()``) resolves the leftover state.
    """
    if spec is None:
        spec = bucket_spec(spark, table_fqn)

    def _write(df, target: str, mode: str = "errorifexists") -> None:
        writer = df.write.mode(mode)
        if spec:
            writer = writer.bucketBy(spec["num_buckets"], *spec["bucket_cols"])
            if spec["sort_cols"]:
                writer = writer.sortBy(*spec["sort_cols"])
        writer.saveAsTable(target)

    if not staged:
        cp = out_df.localCheckpoint(eager=True)
        _write(cp, table_fqn, mode="overwrite")
    else:
        staged_t = f"{table_fqn}__compact"
        backup = f"{table_fqn}__pre_compact"
        spark.sql(f"DROP TABLE IF EXISTS {staged_t}")
        spark.sql(f"DROP TABLE IF EXISTS {backup}")
        _write(out_df, staged_t)
        spark.sql(f"ALTER TABLE {table_fqn} RENAME TO {backup}")
        spark.sql(f"ALTER TABLE {staged_t} RENAME TO {table_fqn}")
        spark.sql(f"DROP TABLE {backup}")


# ---------------------------------------------------------------------------
# crash-safe swap protocol for raw parquet DIRECTORIES (persisted indexes
# live outside the catalog, so the table rename protocol above doesn't
# apply — this is its Hadoop-FS twin, shared by the MinHash and IVF
# index compactors in operators/dedup.py and operators/similarity.py)
# ---------------------------------------------------------------------------


def dir_fs(spark, path_str: str):
    """(Hadoop FileSystem, Path) for a string path — directory renames go
    through this API so the swap works identically on local disk, HDFS,
    and rename-capable object stores."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path_str)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def heal_dir_swap(spark, d: str) -> str | None:
    """Resolve a :func:`swap_dir_live` interrupted mid-swap for one
    directory. Same state machine as :func:`heal_compaction`, expressed
    with FS renames: backup-without-live → restore; backup+live → drop
    backup; staged+live → drop the incomplete staged copy. Returns the
    action taken, or None when clean."""
    Path = spark._jvm.org.apache.hadoop.fs.Path
    fs, live = dir_fs(spark, d)
    staged, backup = Path(d + "__compact"), Path(d + "__pre_compact")
    has_live, has_staged, has_backup = (
        fs.exists(live), fs.exists(staged), fs.exists(backup),
    )
    if has_backup and not has_live:
        if not fs.rename(backup, live):
            raise IOError(f"failed to restore {d} from compaction backup")
        return "restored_backup"
    if has_backup and has_live:
        fs.delete(backup, True)
        return "dropped_backup"
    if has_staged and has_live:
        fs.delete(staged, True)
        return "dropped_staged"
    return None


def swap_dir_live(spark, d: str) -> None:
    """Make ``{d}__compact`` (already fully written by the caller) the
    live ``d``: rename-out → rename-in → drop-backup. A crash at any
    point leaves a complete copy resolvable by :func:`heal_dir_swap`."""
    Path = spark._jvm.org.apache.hadoop.fs.Path
    fs, live = dir_fs(spark, d)
    backup = Path(d + "__pre_compact")
    if not fs.rename(live, backup):
        raise IOError(f"compaction swap failed: could not rename {d} out")
    if not fs.rename(Path(d + "__compact"), live):
        # put the original back rather than leave no live directory
        fs.rename(backup, live)
        raise IOError(f"compaction swap failed: could not rename {d}__compact in")
    fs.delete(backup, True)
