"""Crash-injection test: a flow killed (SIGKILL-equivalent ``os._exit``)
mid-flow must leave recoverable state — ``vault.recover()`` removes the
torn rows, and re-running the flow reproduces exactly the state of a
never-crashed run. A flow's hub, link and satellite stages run
concurrently, so the kill points are chosen to be deterministic under that
scheduler (right after the hub stage returns, or after one hub's append),
and the torn state the other stages leave may vary: pre-recovery asserts
accept any of it, post-recovery and re-run states are exact.

Runs each phase in a subprocess against a SHARED derby-backed hive
metastore (the in-memory catalog would forget the tables between
processes), so the kill is a real process death, not a simulated
exception.
"""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TABLES_CSV = """base_name,rel_type,column_name,column_type,column_position,mapping
orders,stg,order_id,INTEGER,1,c
orders,stg,status,VARCHAR(32),2,c
orders,hub,order_id,INTEGER,1,bk
orders_details,hsat,orders,,0,hk
orders_details,hsat,status,VARCHAR(32),1,c
"""

TRANSITIONS_CSV = """source_table,source_field,target_table,target_field,group_name,position,raw,transformation,transfer_type
orders,order_id,hub_orders,order_id_bk,orders,1,false,,bk
orders,orders_hk,hsat_orders_details,orders,orders_details,0,false,,sat_full
orders,status,hsat_orders_details,status,orders_details,1,false,,f
"""

COMMON = """
import os, sys
sys.path.insert(0, "@@REPO@@")
base = "@@BASE@@"
os.chdir(base)  # derby metastore_db lives in cwd -> shared across phases
from mallarddv_spark import MallardSparkVault, get_spark

spark = get_spark(
    master="local[4]", shuffle_partitions=4, warehouse_dir=f"{base}/wh",
    extra_conf={"spark.sql.catalogImplementation": "hive"},
)
vault = MallardSparkVault(spark)
"""

PHASE1 = COMMON + """
vault.init_vault(f"{base}/tables.csv", f"{base}/transitions.csv")
assert vault.execute_flow("orders", "crash", f"{base}/orders1.csv",
                          load_date_overwrite="2025-01-01 00:00:00") == []
print("BASELINE", spark.table("dv.hub_orders").count(),
      spark.table("dv.hsat_orders_details").count(), flush=True)

# kill the driver right AFTER the hub stage of flow 2 returns; the
# satellite stage runs concurrently and may or may not have committed
from mallarddv_spark.operators import hub
_real = hub.load_hubs
def load_then_die(*a, **k):
    _real(*a, **k)
    os._exit(137)
hub.load_hubs = load_then_die
vault.execute_flow("orders", "crash", f"{base}/orders2.csv",
                   load_date_overwrite="2025-01-02 00:00:00")
print("SHOULD-NEVER-PRINT", flush=True)
"""

PHASE2 = COMMON + """
# torn state: flow 2's hub rows exist, no ledger rows; the satellite holds
# none, its new versions, or versions + tombstone (2, 4 or 5 rows)
hub_before = spark.table("dv.hub_orders").count()
sat_before = spark.table("dv.hsat_orders_details").count()
runs = spark.table("metadata.runinfo").count()
print("TORN", hub_before, runs, sat_before, flush=True)
assert sat_before in (2, 4, 5), sat_before

from mallarddv_spark.flow.recovery import orphan_run_ids
orphans = orphan_run_ids(spark, "metadata", "dv")
print("ORPHANS", orphans, flush=True)
assert orphans == [2], orphans

removed = vault.recover()
print("REMOVED", sorted(removed.items()), flush=True)

# rolled back to the post-flow-1 state
assert spark.table("dv.hub_orders").count() == 2, "rollback should restore 2 hub rows"
assert spark.table("dv.hsat_orders_details").count() == 2
assert vault.recover() == {}, "second recover must be a no-op"

# re-run the interrupted flow: file never reached 'success', so it loads
assert vault.execute_flow("orders", "crash", f"{base}/orders2.csv",
                          load_date_overwrite="2025-01-02 00:00:00") == []
hub_n = spark.table("dv.hub_orders").count()
sat = sorted(
    (r.orders_hk, str(r.load_dts), r.del_flag, r.status)
    for r in spark.table("dv.hsat_orders_details").collect()
)
print("FINAL", hub_n, len(sat), flush=True)
# flow2: order 3 is new (hub 1,2,3); sat: 2 initial + changed o1 + tombstone o2
assert hub_n == 3
assert len(sat) == 5
tombs = [s for s in sat if s[2]]
assert len(tombs) == 1
print("RECOVERY-OK", flush=True)
"""


TABLES2_CSV = """base_name,rel_type,column_name,column_type,column_position,mapping
orders,stg,order_id,INTEGER,1,c
orders,stg,cust_id,INTEGER,2,c
orders,stg,status,VARCHAR(32),3,c
orders,hub,order_id,INTEGER,1,bk
custs,hub,cust_id,INTEGER,1,bk
"""

TRANSITIONS2_CSV = """source_table,source_field,target_table,target_field,group_name,position,raw,transformation,transfer_type
orders,order_id,hub_orders,order_id_bk,orders,1,false,,bk
orders,cust_id,hub_custs,cust_id_bk,custs,1,false,,bk
"""

PHASE1_MID = COMMON + """
vault.init_vault(f"{base}/tables.csv", f"{base}/transitions.csv")
assert vault.execute_flow("orders", "crash", f"{base}/orders1.csv",
                          load_date_overwrite="2025-01-01 00:00:00") == []
print("BASELINE", spark.table("dv.hub_orders").count(),
      spark.table("dv.hub_custs").count(), flush=True)

# kill the driver MID-HUB-STAGE: hub_custs's append has committed,
# hub_orders's has not — a torn append inside one load stage. Every other
# call of the scheduler (the flow's three stages) runs as usual.
from mallarddv_spark.operators import parallel
_real = parallel.run_per_table
def run_then_die(tasks):
    if "hub_custs" not in tasks:
        return _real(tasks)
    for fn in tasks["hub_custs"]:
        fn()
    os._exit(137)
parallel.run_per_table = run_then_die
vault.execute_flow("orders", "crash", f"{base}/orders2.csv",
                   load_date_overwrite="2025-01-02 00:00:00")
print("SHOULD-NEVER-PRINT", flush=True)
"""

PHASE2_MID = COMMON + """
# torn: hub_custs got flow 2's append, hub_orders did not, no ledger
# success row
custs_torn = spark.table("dv.hub_custs").count()
orders_torn = spark.table("dv.hub_orders").count()
print("TORN", custs_torn, orders_torn, flush=True)
assert custs_torn == 3 and orders_torn == 2, "expected a half-applied hub stage"

from mallarddv_spark.flow.recovery import orphan_run_ids
orphans = orphan_run_ids(spark, "metadata", "dv")
assert orphans, "torn run must be detected as orphan"

removed = vault.recover()
print("REMOVED", sorted(removed.items()), flush=True)
# the partial run's rows are deleted BY RUN_ID from the half-written hub
assert spark.table("dv.hub_custs").count() == 2
assert spark.table("dv.hub_orders").count() == 2
assert vault.recover() == {}, "second recover must be a no-op"

# re-run completes both hubs
assert vault.execute_flow("orders", "crash", f"{base}/orders2.csv",
                          load_date_overwrite="2025-01-02 00:00:00") == []
assert spark.table("dv.hub_orders").count() == 3
assert spark.table("dv.hub_custs").count() == 3
print("RECOVERY-OK", flush=True)
"""


def _run(script: str, base: str, expect_rc=0) -> subprocess.CompletedProcess:
    p = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True, text=True, timeout=420,
        cwd=base,
    )
    return p


def test_killed_flow_recovers(tmp_path):
    base = str(tmp_path)
    (tmp_path / "tables.csv").write_text(TABLES_CSV)
    (tmp_path / "transitions.csv").write_text(TRANSITIONS_CSV)
    (tmp_path / "orders1.csv").write_text("order_id,status\n1,open\n2,open\n")
    # flow 2: order 1 changed, order 2 vanished (tombstone), order 3 new
    (tmp_path / "orders2.csv").write_text("order_id,status\n1,closed\n3,open\n")

    def fill(s):
        return s.replace("@@REPO@@", REPO).replace("@@BASE@@", base)

    p1 = _run(fill(PHASE1), base)
    assert p1.returncode == 137, f"phase1 should die with 137:\n{p1.stdout}\n{p1.stderr}"
    assert "BASELINE 2 2" in p1.stdout
    assert "SHOULD-NEVER-PRINT" not in p1.stdout

    p2 = _run(fill(PHASE2), base)
    assert p2.returncode == 0, f"phase2 failed:\n{p2.stdout}\n{p2.stderr[-3000:]}"
    assert "RECOVERY-OK" in p2.stdout
    # phase-2 observed the torn hub (3 rows, no ledger row for run 2)
    assert "TORN 3 2 " in p2.stdout


def test_killed_mid_hub_stage_recovers(tmp_path):
    """Kill DURING the hub append stage (first hub committed, second not):
    recover() must delete the partial run's rows by run_id and a re-run
    must complete both hubs."""
    base = str(tmp_path)
    (tmp_path / "tables.csv").write_text(TABLES2_CSV)
    (tmp_path / "transitions.csv").write_text(TRANSITIONS2_CSV)
    (tmp_path / "orders1.csv").write_text(
        "order_id,cust_id,status\n1,10,open\n2,20,open\n"
    )
    # flow 2 adds one new order and one new customer to each hub
    (tmp_path / "orders2.csv").write_text(
        "order_id,cust_id,status\n1,10,open\n2,20,open\n3,30,open\n"
    )

    def fill(s):
        return s.replace("@@REPO@@", REPO).replace("@@BASE@@", base)

    p1 = _run(fill(PHASE1_MID), base)
    assert p1.returncode == 137, f"phase1 should die with 137:\n{p1.stdout}\n{p1.stderr}"
    assert "BASELINE 2 2" in p1.stdout
    assert "SHOULD-NEVER-PRINT" not in p1.stdout

    p2 = _run(fill(PHASE2_MID), base)
    assert p2.returncode == 0, f"phase2 failed:\n{p2.stdout}\n{p2.stderr[-3000:]}"
    assert "RECOVERY-OK" in p2.stdout


CURRENT_TABLES_CSV = """base_name,rel_type,column_name,column_type,column_position,mapping
account,stg,id,INTEGER,1,c
account,stg,name,VARCHAR(32),2,c
current_account,hub,id,INTEGER,1,bk
account_current,hsat,current_account,,0,hk
account_current,hsat,name,VARCHAR(32),1,c
"""

CURRENT_TRANSITIONS_CSV = """source_table,source_field,target_table,target_field,group_name,position,raw,transformation,transfer_type
account,id,hub_current_account,id_bk,current_account,1,false,,bk
account,current_account_hk,hsat_account_current,current_account,account_current,0,false,,sat_delta
account,name,hsat_account_current,name,account_current,1,false,,f
"""


def test_recover_sees_tables_named_current(spark, tmp_path):
    """A hub or satellite whose name contains ``current`` is a real DV
    table: rows of a run the ledger never recorded are found and rolled
    back like any other table's."""
    from mallarddv_spark import MallardSparkVault
    from mallarddv_spark.flow.recovery import orphan_run_ids

    dbs = dict(stg_db="rc_stg", dv_db="rc_dv", bv_db="rc_bv",
               dm_db="rc_dm", metadata_db="rc_meta")
    for db in dbs.values():
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    (tmp_path / "tables.csv").write_text(CURRENT_TABLES_CSV)
    (tmp_path / "transitions.csv").write_text(CURRENT_TRANSITIONS_CSV)
    (tmp_path / "account.csv").write_text("id,name\n1,ann\n2,bob\n")
    v = MallardSparkVault(spark, **dbs)
    assert v.init_vault(str(tmp_path / "tables.csv"),
                        str(tmp_path / "transitions.csv")) == []
    assert v.execute_flow("account", "src", str(tmp_path / "account.csv"),
                          load_date_overwrite="2025-01-01 00:00:00") == []
    hub_n = spark.table("rc_dv.hub_current_account").count()
    sat_n = spark.table("rc_dv.hsat_account_current").count()
    assert (hub_n, sat_n) == (2, 2)

    # torn run 99: rows landed, the ledger never heard of it
    spark.sql(
        "INSERT INTO rc_dv.hub_current_account "
        "SELECT 'torn_hk', timestamp'2025-01-02 00:00:00', 'src', 99, 3"
    )
    spark.sql(
        "INSERT INTO rc_dv.hsat_account_current "
        "SELECT 'torn_hk', timestamp'2025-01-02 00:00:00', false, 'hd', "
        "'src', 99, 'cat'"
    )
    assert orphan_run_ids(spark, "rc_meta", "rc_dv") == [99]
    assert v.recover() == {"hub_current_account": 1, "hsat_account_current": 1}
    assert spark.table("rc_dv.hub_current_account").count() == hub_n
    assert spark.table("rc_dv.hsat_account_current").count() == sat_n
    assert v.recover() == {}
    for db in dbs.values():
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_killed_flow_run_id_not_reused(spark, tmp_path, monkeypatch):
    """A flow killed before its ledger append leaves DV rows under a run id
    the ledger never saw. A later flow — even from a new vault object, with
    no ``recover()`` in between — must neither adopt that id nor build on
    the torn rows: it is refused, writing nothing, until ``recover()``
    removes exactly the torn rows. The re-run then leaves the state of a
    vault that never crashed."""
    from mallarddv_spark import MallardSparkVault
    from mallarddv_spark.flow.executor import FlowExecutor
    from mallarddv_spark.flow.recovery import orphan_run_ids

    dbs = dict(stg_db="ru_stg", dv_db="ru_dv", bv_db="ru_bv",
               dm_db="ru_dm", metadata_db="ru_meta")
    for db in dbs.values():
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    (tmp_path / "tables.csv").write_text(TABLES_CSV)
    (tmp_path / "transitions.csv").write_text(TRANSITIONS_CSV)
    (tmp_path / "orders1.csv").write_text("order_id,status\n1,open\n2,open\n")
    (tmp_path / "orders2.csv").write_text("order_id,status\n1,closed\n3,open\n")
    (tmp_path / "orders3.csv").write_text("order_id,status\n1,closed\n3,done\n")
    v = MallardSparkVault(spark, **dbs)
    assert v.init_vault(str(tmp_path / "tables.csv"),
                        str(tmp_path / "transitions.csv")) == []

    def flow(vault, name, day):
        return vault.execute_flow("orders", "src", str(tmp_path / name),
                                  load_date_overwrite=f"2025-01-0{day} 00:00:00")

    def rows_of(run_id):
        return {t: spark.table(f"ru_dv.{t}").filter(f"run_id = {run_id}").count()
                for t in ("hub_orders", "hsat_orders_details")}

    assert flow(v, "orders1.csv", 1) == []

    # plant a torn run: the DV stages commit, the ledger append never runs
    with monkeypatch.context() as m:
        m.setattr(FlowExecutor, "_end", lambda *a, **k: None)
        assert flow(v, "orders2.csv", 2) == []
    assert orphan_run_ids(spark, "ru_meta", "ru_dv") == [2]
    torn = rows_of(2)
    assert torn == {"hub_orders": 1, "hsat_orders_details": 3}

    # a new process's vault on the same catalog, no recover() first: the
    # flow is refused, and so is a retry (the next flow checks again)
    v2 = MallardSparkVault(spark, **dbs)
    n_ledger = spark.table("ru_meta.runinfo").count()
    for _ in range(2):
        errs = flow(v2, "orders3.csv", 3)
        assert len(errs) == 1 and errs[0][0] == "torn_state", errs
        assert "[2]" in errs[0][1] and "vault.recover()" in errs[0][1]
    assert spark.table("ru_meta.runinfo").count() == n_ledger
    assert rows_of(3) == {"hub_orders": 0, "hsat_orders_details": 0}
    assert rows_of(2) == torn
    assert v2.recover() == torn
    assert rows_of(2) == {"hub_orders": 0, "hsat_orders_details": 0}
    assert orphan_run_ids(spark, "ru_meta", "ru_dv") == []
    assert flow(v2, "orders3.csv", 3) == []

    # same state as a vault that loaded orders1 then orders3, no crash
    clean = {k: v.replace("ru_", "rc3_") for k, v in dbs.items()}
    for db in clean.values():
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    v3 = MallardSparkVault(spark, **clean)
    assert v3.init_vault(str(tmp_path / "tables.csv"),
                         str(tmp_path / "transitions.csv")) == []
    assert flow(v3, "orders1.csv", 1) == []
    assert flow(v3, "orders3.csv", 3) == []

    def state(dv_db):
        return {
            t: sorted(
                tuple(str(x) for x in r)
                for r in spark.table(f"{dv_db}.{t}").drop("run_id").collect()
            )
            for t in ("hub_orders", "hsat_orders_details")
        }

    got = state("ru_dv")
    assert got == state("rc3_dv")
    assert len(got["hub_orders"]) == 3  # orders 1, 2, 3
    for db in (*dbs.values(), *clean.values()):
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_recover_purges_uncommitted_append(spark, tmp_path):
    """An append killed after its tasks committed but before its job
    commit leaves files under the table's ``_temporary`` directory; the
    next append to that table would commit them too. ``recover()`` must
    purge them so the re-run reproduces the never-crashed state."""
    import glob
    import shutil

    from mallarddv_spark import MallardSparkVault
    from mallarddv_spark.sources.layout import table_location

    dbs = dict(stg_db="uc_stg", dv_db="uc_dv", bv_db="uc_bv",
               dm_db="uc_dm", metadata_db="uc_meta")
    for db in dbs.values():
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    (tmp_path / "tables.csv").write_text(TABLES_CSV)
    (tmp_path / "transitions.csv").write_text(TRANSITIONS_CSV)
    (tmp_path / "orders1.csv").write_text("order_id,status\n1,open\n2,open\n")
    (tmp_path / "orders2.csv").write_text("order_id,status\n1,closed\n3,open\n")
    v = MallardSparkVault(spark, **dbs)
    assert v.init_vault(str(tmp_path / "tables.csv"),
                        str(tmp_path / "transitions.csv")) == []
    assert v.execute_flow("orders", "src", str(tmp_path / "orders1.csv"),
                          load_date_overwrite="2025-01-01 00:00:00") == []

    # a committed task of an append whose job commit never ran
    loc = table_location(spark, "uc_dv.hub_orders").removeprefix("file:")
    task = f"{loc}/_temporary/0/task_202501020000_0007_m_000000"
    (tmp_path / "task").mkdir()
    for i, part in enumerate(sorted(glob.glob(f"{loc}/part-*"))):
        shutil.copy(part, tmp_path / "task" / f"part-{90000 + i}-torn.snappy.parquet")
    shutil.copytree(tmp_path / "task", task)
    assert spark.table("uc_dv.hub_orders").count() == 2

    assert v.recover() == {"hub_orders (uncommitted write)": "purged"}
    assert v.recover() == {}
    assert v.execute_flow("orders", "src", str(tmp_path / "orders2.csv"),
                          load_date_overwrite="2025-01-02 00:00:00") == []
    assert spark.table("uc_dv.hub_orders").count() == 3
    for db in dbs.values():
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
