"""Semi-structured payload handling via Spark 4's VARIANT type.

The reference stages raw JSON payload columns as VARCHAR and leaves
extraction to per-query ``json_extract`` calls (see the ``props`` column
on the events table). VARIANT is the lakehouse-native upgrade: parse
once at ingestion into a binary-encoded, typed, shredding-friendly
column, then field access (``variant_get``) is a typed path lookup — no
per-query JSON re-parsing of the same payload at 100 TB, and Parquet
writers can shred frequently-accessed fields into real columns.

All helpers are Catalyst expressions (whole-stage codegen, no Python).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def to_variant(json_col: Column | str, safe: bool = True) -> Column:
    """Parse a JSON string column into a VARIANT column. ``safe=True``
    (default) turns malformed JSON into NULL (the dead-letter decision
    then belongs to the caller's expectations/quarantine gate);
    ``safe=False`` fails the job on the first bad payload."""
    c = F.col(json_col) if isinstance(json_col, str) else json_col
    return F.try_parse_json(c) if safe else F.parse_json(c)


def variant_field(
    variant_col: Column | str, path: str, data_type: str, safe: bool = True
) -> Column:
    """Typed field extraction: ``variant_get(col, '$.a.b[0]', 'int')``.
    ``safe=True`` (default) returns NULL on missing paths or failed
    casts; ``safe=False`` raises — use for contract-enforced fields."""
    c = F.col(variant_col) if isinstance(variant_col, str) else variant_col
    fn = F.try_variant_get if safe else F.variant_get
    return fn(c, path, data_type)


def shred_variant(
    df: DataFrame,
    json_col: str,
    fields: dict[str, tuple[str, str]],
    variant_col: str | None = "payload_v",
    safe: bool = True,
) -> DataFrame:
    """Ingest-time shredding: parse ``json_col`` once into a VARIANT and
    materialize ``fields`` — ``{out_name: (path, type)}`` — as real typed
    columns alongside it. The typed columns get parquet column stats and
    pruning (filters on them never touch the payload); the VARIANT keeps
    the full-fidelity payload for fields you didn't anticipate. Pass
    ``variant_col=None`` to drop the payload after shredding.
    """
    out = df.withColumn("__v", to_variant(F.col(json_col), safe=safe))
    for name, (path, dtype) in fields.items():
        out = out.withColumn(name, variant_field(F.col("__v"), path, dtype, safe))
    if variant_col:
        out = out.withColumn(variant_col, F.col("__v"))
    out = out.drop("__v")
    # in-place shredding (variant_col or a field named after json_col)
    # must not drop the column it just produced
    if json_col != variant_col and json_col not in fields:
        out = out.drop(json_col)
    return out
