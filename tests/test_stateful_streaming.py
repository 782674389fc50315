"""applyInPandasWithState: session state must stitch across micro-batches
and the emitted sessions must equal the batch ground truth."""

from pyspark.sql import functions as F

from mallarddv_spark.suite import read_events

SF = "/root/testdata/sf0.001"


def test_sessionization_stitches_across_batches(spark, tmp_path):
    """Sessions spanning a micro-batch boundary must be merged via state;
    emitted (closed) sessions equal the batch gaps-and-islands ground truth
    minus each user's final (still-open) session."""
    from mallarddv_spark.streaming.stateful import sessionize_stream

    events = read_events(spark, SF).filter("user_id < 15").select("user_id", "ts")
    # split by TIME so sessions can straddle the boundary
    cut = "2024-01-16 00:00:00"
    src = str(tmp_path / "sess_src")
    events.filter(f"ts < timestamp'{cut}'").coalesce(1).write.parquet(f"{src}/b0")
    events.filter(f"ts >= timestamp'{cut}'").coalesce(1).write.parquet(f"{src}/b1")

    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q = (
        sessionize_stream(stream)
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.table("sessions").collect()
    }

    # batch ground truth: gaps-and-islands, drop each user's last session
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy("ts")
    flagged = events.withColumn("prev", F.lag("ts").over(w)).withColumn(
        "new_s",
        F.when(
            F.col("prev").isNull()
            # NTZ-safe gap (cast-to-double rejects TIMESTAMP_NTZ)
            | (F.expr("timestampdiff(MICROSECOND, prev, ts)") > 1800 * 1_000_000),
            1,
        ).otherwise(0),
    ).withColumn("sid", F.sum("new_s").over(w))
    truth_df = flagged.groupBy("user_id", "sid").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count("*").alias("n_events"),
    )
    last_sid = truth_df.groupBy("user_id").agg(F.max("sid").alias("sid"))
    closed_truth = truth_df.join(last_sid, ["user_id", "sid"], "left_anti")
    expected = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in closed_truth.collect()
    }
    assert got == expected and len(got) > 0


class _FakeGroupState:
    """Minimal stand-in for GroupState to unit-test session algebra."""

    def __init__(self, value=None):
        self._v = value

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v


def test_sessionize_out_of_order_stitch_widens_interval():
    """An event older than the open session's start (cross-batch, NoTimeout
    variant has no watermark) must widen the interval, never move its end
    backwards (ADVICE r1)."""
    import pandas as pd
    from mallarddv_spark.streaming.stateful import _sessionize

    start_us, end_us = 1_000 * 1_000_000, 2_000 * 1_000_000
    late_s = 500  # predates the open session's start, within the 30-min gap
    state = _FakeGroupState((start_us, end_us, 3))
    batch = pd.DataFrame({"ts": [pd.Timestamp(late_s, unit="s")]})
    list(_sessionize((7,), iter([batch]), state))
    new_start, new_end, n = state.get
    assert new_start == late_s * 1_000_000  # widened backwards
    assert new_end == end_us  # NOT moved backwards
    assert n == 4
