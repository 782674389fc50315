"""Flow scheduler: a flow's hub, link and satellite stages run together,
every stage failure comes back as a ``(stage, message)`` tuple in the
order hubs, links, sats, and each stage's Spark jobs carry a
``flow=<source> run=<id> stage=<stage>`` description."""

import os
import threading

import pytest

from mallarddv_spark import MallardSparkVault
from mallarddv_spark.operators import hub, link, satellite
from mallarddv_spark.operators.parallel import run_per_table

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")
DBS = dict(stg_db="fs_stg", dv_db="fs_dv", bv_db="fs_bv", metadata_db="fs_meta")
STAGES = (
    ("load_hubs", hub, "load_hubs"),
    ("load_links", link, "load_links"),
    ("load_sats", satellite, "load_sats"),
)


@pytest.fixture
def vault(spark):
    for db in DBS.values():
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    v = MallardSparkVault(spark, **DBS)
    assert v.init_vault(os.path.join(FIXTURES, "tables.csv"),
                        os.path.join(FIXTURES, "transitions.csv")) == []
    yield v
    for db in DBS.values():
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def _flow(v):
    return v.execute_flow(
        "customer", "src", file_path=os.path.join(FIXTURES, "customer.csv"),
        load_date_overwrite="2025-01-01 00:00:00",
    )


def test_stages_overlap_and_are_tagged(spark, vault, monkeypatch):
    """Each stage waits until all three have started — run one after the
    other, the first would time out on the barrier — and then reads its
    own job description."""
    sc = spark.sparkContext
    barrier = threading.Barrier(3, timeout=30)
    seen = {}

    def make(name, real):
        def wait_then_load(*args):
            barrier.wait()
            seen[name] = sc.getLocalProperty("spark.job.description")
            return real(*args)
        return wait_then_load

    for name, module, attr in STAGES:
        monkeypatch.setattr(module, attr, make(name, getattr(module, attr)))
    assert _flow(vault) == []
    run_id = spark.table("fs_meta.runinfo").first().run_id
    assert seen == {
        name: f"flow=customer run={run_id} stage={name}"
        for name, _m, _a in STAGES
    }
    assert sc.getLocalProperty("spark.job.description") is None
    assert spark.table("fs_dv.hub_customer").count() == 3
    assert spark.table("fs_dv.link_customer__referencer").count() == 2
    assert spark.table("fs_dv.hsat_customer_details").count() == 2


def test_run_per_table_chains(spark):
    """Chains start from the caller's properties without sharing them, run
    in order within a chain, and every chain's failure comes back in key
    order."""
    sc = spark.sparkContext
    barrier = threading.Barrier(2, timeout=30)
    seen, calls = {}, []

    def tagged(key):
        def fn():
            seen[key, "inherited"] = sc.getLocalProperty("spark.job.description")
            sc.setJobDescription(key)
            barrier.wait()
            seen[key, "own"] = sc.getLocalProperty("spark.job.description")
        return fn

    sc.setJobDescription("caller")
    try:
        assert run_per_table({"a": [tagged("a")], "b": [tagged("b")]}) == []
    finally:
        sc.setJobDescription(None)
    assert seen == {("a", "inherited"): "caller", ("b", "inherited"): "caller",
                    ("a", "own"): "a", ("b", "own"): "b"}

    def fail(msg):
        def fn():
            calls.append(msg)
            raise ValueError(msg)
        return fn

    failures = run_per_table({
        "x": [lambda: calls.append("x")],
        "y": [fail("y1"), lambda: calls.append("y2")],
        "z": [fail("z1")],
    })
    assert [(k, str(ex)) for k, ex in failures] == [("y", "y1"), ("z", "z1")]
    assert sorted(calls) == ["x", "y1", "z1"]


def test_two_failing_stages_all_reported(spark, vault, monkeypatch):
    """A failing stage does not stop the others: both failures come back
    in stage order, the link stage still loads, and the flow writes one
    'failure' ledger row."""

    def boom(stage):
        def fail(*_args):
            raise RuntimeError(f"{stage} boom")
        return fail

    monkeypatch.setattr(hub, "load_hubs", boom("hub"))
    monkeypatch.setattr(satellite, "load_sats", boom("sat"))
    assert _flow(vault) == [("load_hubs", "hub boom"), ("load_sats", "sat boom")]
    assert spark.table("fs_dv.link_customer__referencer").count() == 2
    rows = spark.table("fs_meta.runinfo").filter("status = 'failure'").collect()
    assert len(rows) == 1
    assert rows[0].message.startswith("2 errors occurred: hub boom")
