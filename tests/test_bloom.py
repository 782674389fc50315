"""Expression-built Bloom filter primitives (functions/bloom.py):
membership guarantees, false-positive bound, persistence round-trip, and
the stored-filter decontamination path."""

import pytest
from pyspark.sql import Row, functions as F

from mallarddv_spark.exceptions import DVConfigurationError
from mallarddv_spark.functions import bloom as B


def test_bloom_membership_and_fpp(spark):
    members = spark.range(0, 2000).select(
        F.concat(F.lit("key_"), F.col("id")).alias("v")
    )
    bloom = B.build_bloom(members, "v", fpp=1e-4)
    geo = bloom.first()
    probes = spark.range(0, 40000).select(
        F.when(F.col("id") < 2000, F.concat(F.lit("key_"), F.col("id")))
        .otherwise(F.concat(F.lit("other_"), F.col("id")))
        .alias("v")
    )
    got = probes.crossJoin(F.broadcast(bloom.select("__bloom"))).select(
        "v",
        B.bloom_contains(
            F.col("v"), F.col("__bloom"), int(geo.m), int(geo.n_hashes)
        ).alias("hit"),
    )
    # every member hits (no false negatives)
    assert got.filter("v like 'key_%' AND NOT hit").count() == 0
    # non-members false-positive well under 100x the target rate
    fp = got.filter("v like 'other_%' AND hit").count()
    assert fp <= 38000 * 1e-4 * 100, fp


def test_bloom_save_load_roundtrip(spark, tmp_path):
    members = spark.createDataFrame([Row(v="alpha"), Row(v="beta")])
    path = str(tmp_path / "bf")
    B.save_bloom(B.build_bloom(members, "v", fpp=1e-6), path)
    loaded, params = B.load_bloom(spark, path)
    assert params["n_items"] == 2 and params["m"] % 64 == 0
    probes = spark.createDataFrame(
        [Row(v="alpha"), Row(v="beta"), Row(v="gamma"), Row(v="delta")]
    )
    got = {
        r.v: r.hit
        for r in probes.crossJoin(F.broadcast(loaded))
        .select(
            "v",
            B.bloom_contains(
                F.col("v"), F.col("__bloom"), params["m"], params["n_hashes"]
            ).alias("hit"),
        )
        .collect()
    }
    assert got["alpha"] and got["beta"]
    assert not got["gamma"] and not got["delta"]


def test_bloom_param_validation(spark):
    with pytest.raises(DVConfigurationError):
        B.bloom_params(10, 0.0)
    with pytest.raises(DVConfigurationError):
        B.bloom_params(10, 1.0)
    p = B.bloom_params(0, 0.01)  # degenerate input still yields a filter
    assert p["n_words"] >= 1 and p["n_hashes"] >= 1


def test_bloom_merge_and_append(spark, tmp_path):
    """Same-geometry filters OR together; a stored filter absorbs new
    batches in place without losing old members."""
    a_vals = spark.range(0, 500).select(
        F.concat(F.lit("a_"), F.col("id")).alias("v")
    )
    b_vals = spark.range(0, 500).select(
        F.concat(F.lit("b_"), F.col("id")).alias("v")
    )
    # common geometry via expected_items (sized for the eventual union)
    a = B.build_bloom(a_vals, "v", fpp=1e-5, expected_items=1000)
    b = B.build_bloom(b_vals, "v", fpp=1e-5, expected_items=1000)
    merged = B.merge_blooms(a, b)
    g = merged.first()
    assert g.n_items == 2000  # upper bound: both sides' recorded counts
    probes = a_vals.unionByName(b_vals)
    hit = probes.crossJoin(F.broadcast(merged.select("__bloom"))).select(
        B.bloom_contains(
            F.col("v"), F.col("__bloom"), int(g.m), int(g.n_hashes)
        ).alias("hit")
    )
    assert hit.filter("NOT hit").count() == 0

    # geometry mismatch refuses rather than probing wrong bits
    import pytest as _pt
    tiny = B.build_bloom(b_vals, "v", fpp=1e-5, expected_items=10)
    with _pt.raises(DVConfigurationError):
        B.merge_blooms(a, tiny)

    # stored append: old and new members both present after the rewrite
    path = str(tmp_path / "grow")
    B.save_bloom(a, path)
    geo = B.bloom_append(spark, path, b_vals, "v")
    assert geo["n_items"] == 1500  # stored bound 1000 + 500 new distinct
    loaded, params = B.load_bloom(spark, path)
    hit2 = probes.crossJoin(F.broadcast(loaded)).select(
        B.bloom_contains(
            F.col("v"), F.col("__bloom"), params["m"], params["n_hashes"]
        ).alias("hit")
    )
    assert hit2.filter("NOT hit").count() == 0


def test_stored_bloom_decontamination_matches_inline(spark, tmp_path):
    """build once → save → reload → per-batch probe gives the same
    verdicts as the one-shot operator (the streaming-crawl shape)."""
    from mallarddv_spark.operators.curation import (
        build_benchmark_bloom,
        decontaminate_bloom,
        decontaminate_with_bloom,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    train = docs.filter("doc_id < 200")
    bench = docs.filter("doc_id >= 450")
    path = str(tmp_path / "bench_bloom")
    B.save_bloom(
        build_benchmark_bloom(bench, "doc_id", "text", shingle_size=5), path
    )
    stored = decontaminate_with_bloom(
        train, spark.read.parquet(path), "doc_id", "text"
    )
    inline = decontaminate_bloom(
        train, bench, "doc_id", "text", shingle_size=5
    )
    s = {r.doc_id: r.n_hit_shingles for r in stored.collect()}
    i = {r.doc_id: r.n_hit_shingles for r in inline.collect()}
    assert s == i and any(v > 0 for v in s.values())


from hypothesis import given, settings, strategies as st

_val = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF),
    min_size=0, max_size=40,
)


@settings(max_examples=6, deadline=None)
@given(
    members=st.lists(_val, min_size=1, max_size=60, unique=True),
    others=st.lists(_val, min_size=0, max_size=30, unique=True),
    fpp=st.sampled_from([1e-3, 1e-6]),
)
def test_bloom_never_false_negative_property(spark, members, others, fpp):
    """Fuzzed guarantee: EVERY inserted value probes true, for arbitrary
    unicode values and either fpp — a false negative at any geometry
    would silently pass contaminated documents through the gate."""
    mdf = spark.createDataFrame([(v,) for v in members], "v string")
    bloom = B.build_bloom(mdf, "v", fpp=fpp)
    geo = bloom.first()
    probes = spark.createDataFrame(
        [(v,) for v in members + [o for o in others if o not in members]],
        "v string",
    )
    got = {
        r.v: r.hit
        for r in probes.crossJoin(F.broadcast(bloom.select("__bloom")))
        .select("v", B.bloom_contains(
            F.col("v"), F.col("__bloom"), int(geo.m), int(geo.n_hashes)
        ).alias("hit"))
        .collect()
    }
    missed = [v for v in members if not got[v]]
    assert not missed, missed


def test_merge_blooms_empty_side_rejected(spark):
    """An empty 'filter' frame is a construction bug — name the side in a
    DVConfigurationError instead of raising TypeError on None."""
    vals = spark.range(0, 50).select(
        F.concat(F.lit("k_"), F.col("id")).alias("v")
    )
    a = B.build_bloom(vals, "v", fpp=1e-4)
    empty = a.limit(0)
    with pytest.raises(DVConfigurationError, match="second side"):
        B.merge_blooms(a, empty)
    with pytest.raises(DVConfigurationError, match="first side"):
        B.merge_blooms(empty, a)
    with pytest.raises(DVConfigurationError, match="first and second"):
        B.merge_blooms(empty, empty)


BLOOM_CRASH_SCRIPT = """
import os, sys
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from mallarddv_spark import get_spark
from mallarddv_spark.functions import bloom as B

spark = get_spark(master="local[4]", shuffle_partitions=4,
                  warehouse_dir={wh!r})
olds = spark.range(0, 300).select(
    F.concat(F.lit("old_"), F.col("id")).alias("v"))
B.save_bloom(B.build_bloom(olds, "v", fpp=1e-5, expected_items=600),
             {path!r})

# die right after the FIRST rename of the swap (live -> __pre_compact):
# worst torn state — no live filter at all. Fault injected at
# layout.dir_fs, the single FS seam swap_dir_live goes through.
from mallarddv_spark.sources import layout
_real = layout.dir_fs
class _KillAfterRename:
    def __init__(self, fs):
        self._fs = fs
    def exists(self, p):
        return self._fs.exists(p)
    def delete(self, p, rec):
        return self._fs.delete(p, rec)
    def rename(self, a, b):
        ok = self._fs.rename(a, b)
        os._exit(137)
def _patched(path_str):
    fs, p = _real(spark, path_str)
    return _KillAfterRename(fs), p
layout.dir_fs = lambda sp, d: _patched(d)
news = spark.range(0, 300).select(
    F.concat(F.lit("new_"), F.col("id")).alias("v"))
B.bloom_append(spark, {path!r}, news, "v")
"""


def test_bloom_append_crash_midswap_heals(spark, tmp_path):
    """Kill the driver between rename-out and rename-in of bloom_append's
    staged swap (real process death): the stored filter must NOT be lost —
    load_bloom (and the streaming screen, which calls the same heal_bloom
    before reading) restores the pre-append filter, and re-running the
    append completes it."""
    import os
    import subprocess
    import sys

    REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = str(tmp_path / "bf")
    script = BLOOM_CRASH_SCRIPT.format(
        repo=REPO, wh=str(tmp_path / "wh"), path=path
    )
    proc = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True,
        timeout=300,
    )
    assert proc.returncode == 137, proc.stderr[-2000:]
    assert not os.path.exists(path), "rename-out must have fired"
    assert os.path.exists(path + "__pre_compact")
    assert os.path.exists(path + "__compact")

    # the screen path's heal-on-open (load_bloom → heal_bloom) restores
    # the pre-append filter: every OLD member still hits
    loaded, params = B.load_bloom(spark, path)
    assert params["n_items"] == 600  # pre-append sizing bound
    olds = spark.range(0, 300).select(
        F.concat(F.lit("old_"), F.col("id")).alias("v")
    )
    hit = olds.crossJoin(F.broadcast(loaded)).select(
        B.bloom_contains(
            F.col("v"), F.col("__bloom"), params["m"], params["n_hashes"]
        ).alias("hit")
    )
    assert hit.filter("NOT hit").count() == 0
    # heal dropped the leftover staged dir; state is clean and idempotent
    assert not os.path.exists(path + "__compact")
    assert not os.path.exists(path + "__pre_compact")
    assert B.heal_bloom(spark, path) is None

    # retrying the interrupted append completes: old AND new members hit
    news = spark.range(0, 300).select(
        F.concat(F.lit("new_"), F.col("id")).alias("v")
    )
    geo = B.bloom_append(spark, path, news, "v")
    assert geo["n_items"] == 900
    loaded2, params2 = B.load_bloom(spark, path)
    both = olds.unionByName(news)
    hit2 = both.crossJoin(F.broadcast(loaded2)).select(
        B.bloom_contains(
            F.col("v"), F.col("__bloom"), params2["m"], params2["n_hashes"]
        ).alias("hit")
    )
    assert hit2.filter("NOT hit").count() == 0
