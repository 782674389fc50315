"""VARIANT semi-structured ingestion: shredding, safe parsing of dirty
feeds, schema discovery, and parity with the string-JSON extraction the
events gate queries use."""

from pyspark.sql import functions as F

from mallarddv_spark.functions import semistructured as sv

SF = "/root/testdata/sf0.001"


def test_shred_events_props(spark):
    """The events props payload shreds into a typed column that matches
    get_json_object extraction row-for-row, keeps the VARIANT payload,
    and filters on the shredded column stay JVM-side."""
    ev = spark.read.parquet(f"{SF}/events.parquet")
    shredded = sv.shred_variant(
        ev, "props", {"k": ("$.k", "int")}
    )
    assert dict(shredded.dtypes)["k"] == "int"
    assert dict(shredded.dtypes)["payload_v"] == "variant"
    got = {r.event_id: r.k for r in shredded.select("event_id", "k").collect()}
    exact = {
        r.event_id: int(r.k) if r.k is not None else None
        for r in ev.select(
            "event_id", F.get_json_object("props", "$.k").alias("k")
        ).collect()
    }
    assert got == exact

    plan = (
        shredded.filter("k > 50")
        ._jdf.queryExecution().executedPlan().toString()
    )
    for marker in ("BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan


def test_safe_parse_dirty_feed(spark):
    """Malformed payloads become NULL under safe=True (quarantine-able)
    and fail the job under safe=False."""
    import pytest

    df = spark.createDataFrame(
        [(1, '{"a": 1}'), (2, "{not json"), (3, None)],
        "id int, payload string",
    )
    out = sv.shred_variant(df, "payload", {"a": ("$.a", "int")})
    rows = {r.id: (r.a, r.payload_v) for r in out.collect()}
    assert rows[1][0] == 1
    assert rows[2] == (None, None)
    assert rows[3] == (None, None)

    strict = sv.shred_variant(
        df, "payload", {"a": ("$.a", "int")}, safe=False
    )
    with pytest.raises(Exception):
        strict.collect()


def test_shred_in_place(spark):
    """variant_col == json_col replaces the string column with the
    VARIANT instead of silently dropping it."""
    df = spark.createDataFrame([(1, '{"a": 7}')], "id int, payload string")
    out = sv.shred_variant(
        df, "payload", {"a": ("$.a", "int")}, variant_col="payload"
    )
    assert dict(out.dtypes)["payload"] == "variant"
    assert out.first().a == 7
