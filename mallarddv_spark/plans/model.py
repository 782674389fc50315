"""Typed plan model parsed from the metadata control tables.

The reference plans loads by running ``itertools.groupby`` over stringly
dict rows (``hash_generator.py:48-67``); we parse the same two control tables
into dataclasses once per flow and build DataFrame pipelines from them.
Metadata is tiny (KBs) — collecting it to the driver is plan construction,
not a data path.

Control-table schemas (the public contract, mirrored from
``db/sql_templates.py:11-48``):

- ``metadata.tables``      (base_name, rel_type, column_name, column_type,
                            column_position, mapping)
- ``metadata.transitions`` (source_table, source_field, target_table,
                            target_field, group_name, position, raw,
                            transformation, transfer_type)
- ``metadata.runinfo``     (source_table, run_id, log_date, source_file,
                            status, message)

``rel_type`` ∈ {stg, stg_vw, hub, link, nhl, hsat, lsat};
``mapping`` ∈ {c, bk, hk, f, ll, dk, vwdef};
``transfer_type`` ∈ {bk, ll, dk, f, sat_delta, sat_full}.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterable

from pyspark.sql import SparkSession
from pyspark.sql.types import (
    BooleanType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

TABLES_SCHEMA = StructType(
    [
        StructField("base_name", StringType()),
        StructField("rel_type", StringType()),
        StructField("column_name", StringType()),
        StructField("column_type", StringType()),
        StructField("column_position", IntegerType()),
        StructField("mapping", StringType()),
    ]
)

TRANSITIONS_SCHEMA = StructType(
    [
        StructField("source_table", StringType()),
        StructField("source_field", StringType()),
        StructField("target_table", StringType()),
        StructField("target_field", StringType()),
        StructField("group_name", StringType()),
        StructField("position", IntegerType()),
        StructField("raw", BooleanType()),
        StructField("transformation", StringType()),
        StructField("transfer_type", StringType()),
    ]
)

RUNINFO_SCHEMA = StructType(
    [
        StructField("source_table", StringType()),
        StructField("run_id", IntegerType()),
        StructField("log_date", TimestampType()),
        StructField("source_file", StringType()),
        StructField("status", StringType()),
        StructField("message", StringType()),
    ]
)


@dataclass(frozen=True)
class TableColumn:
    """One row of ``metadata.tables``."""

    base_name: str
    rel_type: str
    column_name: str
    column_type: str | None
    column_position: int
    mapping: str


@dataclass(frozen=True)
class TransitionRecord:
    """One row of ``metadata.transitions``."""

    source_table: str
    source_field: str
    target_table: str
    target_field: str
    group_name: str
    position: int
    raw: bool
    transformation: str | None
    transfer_type: str


def fetch_table_columns(
    spark: SparkSession,
    metadata_db: str,
    base_name: str | None = None,
    rel_type: str | None = None,
) -> list[TableColumn]:
    """Read ``metadata.tables`` (ordered by rel_type, base_name, mapping,
    column_position — matching the reference's GET_TABLES ordering)."""
    df = spark.table(f"{metadata_db}.tables")
    if base_name is not None:
        df = df.filter(df.base_name == base_name)
    if rel_type is not None:
        df = df.filter(df.rel_type == rel_type)
    rows = df.orderBy("rel_type", "base_name", "mapping", "column_position").collect()
    return [
        TableColumn(
            base_name=r.base_name,
            rel_type=r.rel_type,
            column_name=r.column_name,
            column_type=r.column_type,
            column_position=r.column_position,
            mapping=r.mapping,
        )
        for r in rows
    ]


def fetch_transitions(
    spark: SparkSession, metadata_db: str, source_table: str
) -> list[TransitionRecord]:
    """Read ``metadata.transitions`` for one staging table, ordered by
    (target_table, group_name, position) — the order that fixes hash-input
    field sequence (reference GET_TRANSITIONS, ``db/sql_templates.py:50-57``)."""
    from pyspark.sql import functions as F

    df = spark.table(f"{metadata_db}.transitions").filter(
        F.col("source_table") == source_table
    )
    rows = df.orderBy("source_table", "target_table", "group_name", "position").collect()
    return [
        TransitionRecord(
            source_table=r.source_table,
            source_field=r.source_field,
            target_table=r.target_table,
            target_field=r.target_field,
            group_name=r.group_name,
            position=r.position,
            raw=bool(r.raw),
            transformation=r.transformation,
            transfer_type=r.transfer_type,
        )
        for r in rows
    ]


class MetadataCache:
    """Driver-side snapshot of the two control tables, shared across
    ``init_vault`` and every ``execute_flow`` on the same facade.

    The control tables are KBs, but each :func:`fetch_table_columns` /
    :func:`fetch_transitions` call is a catalog read + Spark job; a
    metadata-driven flow makes half a dozen of them. One ordered collect
    per table per (re)load replaces them all — at 1000-executor scale the
    control tables are driver-plan state, not data.

    Invalidation is explicit (:meth:`invalidate`, called whenever metadata
    CSVs are (re)loaded through the facade). Out-of-band writes to
    ``metadata.tables``/``metadata.transitions`` via raw SQL require a
    manual ``invalidate()``.
    """

    def __init__(self, spark: SparkSession, metadata_db: str):
        self.spark = spark
        self.metadata_db = metadata_db
        self._columns: list[TableColumn] | None = None
        self._transitions: list[TransitionRecord] | None = None

    def invalidate(self) -> None:
        self._columns = None
        self._transitions = None

    def table_columns(
        self, base_name: str | None = None, rel_type: str | None = None
    ) -> list[TableColumn]:
        """Same contract (and ordering) as :func:`fetch_table_columns`."""
        if self._columns is None:
            self._columns = fetch_table_columns(self.spark, self.metadata_db)
        return [
            c
            for c in self._columns
            if (base_name is None or c.base_name == base_name)
            and (rel_type is None or c.rel_type == rel_type)
        ]

    def transitions(self, source_table: str) -> list[TransitionRecord]:
        """Same contract (and ordering) as :func:`fetch_transitions`."""
        if self._transitions is None:
            df = self.spark.table(f"{self.metadata_db}.transitions")
            rows = df.orderBy(
                "source_table", "target_table", "group_name", "position"
            ).collect()
            self._transitions = [
                TransitionRecord(
                    source_table=r.source_table,
                    source_field=r.source_field,
                    target_table=r.target_table,
                    target_field=r.target_field,
                    group_name=r.group_name,
                    position=r.position,
                    raw=bool(r.raw),
                    transformation=r.transformation,
                    transfer_type=r.transfer_type,
                )
                for r in rows
            ]
        return [t for t in self._transitions if t.source_table == source_table]

    def has_staging_definition(self, base_name: str) -> bool:
        """True if ``base_name`` should be loaded from file — i.e. it has a
        ``rel_type='stg'`` definition in ``metadata.tables``.

        Implements the *documented intent* ("True if the source_table
        should be loaded from file", reference
        ``metadata_manager.py:203-210``). The reference's actual SQL
        (``ORDER BY 1 ASC LIMIT 1`` over ``rel_type='stg'`` booleans,
        ``db/sql_templates.py:77-84``) returns False whenever the base name
        also has non-stg rows, silently skipping the demo's file load — a
        verified latent defect we deliberately do not reproduce."""
        return bool(self.table_columns(base_name=base_name, rel_type="stg"))


def group_records(records: Iterable, keys: list[str]) -> dict[str, list]:
    """Group already-sorted records by dotted key values — same contract as
    the reference's ``HashViewGenerator.groupby`` but order-preserving and
    not dependent on adjacent sorting quirks."""
    out: dict[str, list] = {}
    for r in records:
        k = ".".join(str(getattr(r, key)) for key in keys)
        out.setdefault(k, []).append(r)
    return out
