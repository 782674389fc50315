"""JVM-literal construction of small local DataFrames.

``spark.createDataFrame(rows)`` builds a *pickled Python RDD* under the
hood: every subsequent action on the frame (and anything joined to or
written from it) schedules Python worker processes just to deserialize a
handful of rows — measured ~0.3 s for one partition and 2–5 s when the
frame inherits ``defaultParallelism`` (32) partitions on this host. For
control-plane rows (index params, codebooks, centroid tables, ledger
rows) that cost dwarfs the actual work.

:func:`literal_frame` builds the same rows as pure Catalyst literals on
top of ``spark.range(n)`` — no RDD, no Python workers, whole plan
JVM-side. Intended for SMALL frames (tens of rows × reasonable width);
every value becomes an expression-tree node, so a million-element frame
belongs in ``createDataFrame``/parquet, not here.

Construction cost note (round 14): the original implementation built
one ``range(1).select(...)`` per ROW and unioned them — every cell a
separate ``F.lit``/``when``/``cast`` py4j round-trip, measured ~20-30 ms
per row of pure driver↔JVM chatter (a 34-row frame cost ~1 s to
*construct*, before any execution). The current implementation renders
each COLUMN as one SQL expression string —
``element_at(array(<literals>), cast(id+1 as int))`` over
``spark.range(len(rows))`` — so construction is O(columns) py4j calls
instead of O(rows × cells). Values, types, column order, row order and
nullability (``element_at`` is nullable, exactly like the old
always-true ``when`` wrapper) are identical.
"""

from __future__ import annotations

import datetime
import math

from pyspark.sql import DataFrame, SparkSession, functions as F


def _sql_lit(v) -> str:
    """One value → its Spark SQL literal text (recursing into lists).

    Every rendering round-trips exactly: ``repr`` of a float is the
    shortest string that parses back to the same double; strings escape
    backslash and quote for the default (non-ANSI) string parser;
    naive datetimes render as TIMESTAMP literals read in the session
    timezone — the same interpretation ``F.lit(datetime)`` uses.
    """
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "double('NaN')"
        if math.isinf(v):
            return f"double('{'-' if v < 0 else ''}Infinity')"
        r = repr(float(v))
        # double literal suffix keeps e.g. "3.0" from parsing as DECIMAL
        return f"{r}D"
    if isinstance(v, datetime.datetime):
        return f"TIMESTAMP '{v.isoformat(sep=' ')}'"
    if isinstance(v, datetime.date):
        return f"DATE '{v.isoformat()}'"
    if isinstance(v, (list, tuple)):
        return "array(" + ", ".join(_sql_lit(x) for x in v) + ")"
    s = str(v).replace("\\", "\\\\").replace("'", "\\'")
    return f"'{s}'"


def literal_map_cell(
    spark: SparkSession,
    entries: list[tuple[str, str]],
    key_type: str,
    value_type: str,
    name: str,
    max_literal_entries: int = 8192,
) -> DataFrame:
    """One-row one-cell ``map<key_type, value_type>`` frame from
    pre-rendered SQL expression text — the broadcast-cell pattern every
    encoder uses (fold-replay rank map, WordPiece vocab, token↔id
    maps), built as a pure Catalyst literal instead of a pickled Python
    RDD: ``createDataFrame`` plans an ``ExistingRDD`` whose every
    action spawns Python workers just to deserialize the rows
    (~0.3 s), while this is ONE ``range(1).select(expr)`` — no RDD, no
    Python, one py4j call.

    ``entries`` carries ``(key_sql, value_sql)`` expression strings
    (render scalars with :func:`sql_literal`; struct keys via
    ``named_struct(...)`` text). Above ``max_literal_entries`` the
    caller should fall back to ``createDataFrame`` — a 100k-entry
    expression string stops being cheaper to parse than the RDD scan
    it avoids."""
    if not entries:
        keys = f"cast(array() as array<{key_type}>)"
        vals = f"cast(array() as array<{value_type}>)"
    else:
        keys = (
            f"cast(array({', '.join(k for k, _ in entries)}) "
            f"as array<{key_type}>)"
        )
        vals = (
            f"cast(array({', '.join(v for _, v in entries)}) "
            f"as array<{value_type}>)"
        )
    return spark.range(1).select(
        F.expr(f"map_from_arrays({keys}, {vals})").alias(name)
    )


def sql_literal(v) -> str:
    """Public alias of the SQL-literal renderer for call sites building
    ``literal_map_cell`` entries."""
    return _sql_lit(v)


def scalar_map_cell(
    spark: SparkSession,
    pairs,
    key_type: str,
    value_type: str,
    name: str,
    max_literal_entries: int = 8192,
) -> DataFrame:
    """:func:`literal_map_cell` over scalar Python ``(key, value)``
    pairs, falling back to the ``createDataFrame`` + aggregate build
    above ``max_literal_entries`` (vocabulary-scale maps amortize the
    pickled-RDD cost; a megabyte expression string does not parse for
    free). Both builds produce the same one-row ``map`` cell."""
    pairs = list(pairs)
    if len(pairs) <= max_literal_entries:
        return literal_map_cell(
            spark,
            [(_sql_lit(k), _sql_lit(v)) for k, v in pairs],
            key_type,
            value_type,
            name,
        )
    return (
        spark.createDataFrame(pairs, f"k {key_type}, v {value_type}")
        .filter(F.col("k").isNotNull())
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("k", "v"))
            ).alias(name)
        )
    )


def literal_frame(spark: SparkSession, rows: list[tuple], schema) -> DataFrame:
    """Build a small DataFrame from Python rows as Catalyst literals.

    ``schema`` is a DDL string (``"a int, b array<double>"``) or a
    ``StructType`` — the same shapes ``createDataFrame`` accepts — and
    every column is cast to its declared type, so the result's schema is
    identical to the ``createDataFrame`` equivalent (including NULL
    typing). List/tuple values become arrays; struct-typed columns are
    not supported (use ``createDataFrame`` for those).
    """
    from pyspark.sql.types import StructType

    fields = (
        schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    )
    names = [f.name for f in fields]
    types = [f.dataType.simpleString() for f in fields]
    if not rows:
        return spark.createDataFrame([], schema)
    for row in rows:
        if len(row) != len(names):
            raise ValueError(
                f"row width {len(row)} != schema width {len(names)}"
            )
    cols = []
    for j, (n, t) in enumerate(zip(names, types)):
        vals = ", ".join(_sql_lit(row[j]) for row in rows)
        cols.append(
            # the IF wrapper is always-true but NOT analysis-time
            # foldable (id is non-constant), so it relaxes the column to
            # the nullable marker createDataFrame produces — downstream
            # schema equality (driver gate, unions) depends on it
            F.expr(
                f"CAST(IF(id >= 0, element_at(array({vals}), "
                f"CAST(id + 1 AS INT)), NULL) AS {t})"
            ).alias(n)
        )
    # one partition: row order is the range order
    return spark.range(0, len(rows), numPartitions=1).select(*cols)
