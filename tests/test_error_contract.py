"""Error-contract tests: invalid metadata is reported as error tuples (not
raised), failed flows register 'failure' in the run ledger, and the flow
short-circuits at the failing stage — reference behavior."""

import pytest

from mallarddv_spark.api import MallardSparkVault
from mallarddv_spark.sources.catalog import drop_vault

TWO_HK_TABLES = """base_name,rel_type,column_name,column_type,column_position,mapping
thing,stg,id,INTEGER,1,c
thing_details,hsat,thing,,0,hk
thing_details,hsat,other,,1,hk
"""

BAD_LINK_TABLES = """base_name,rel_type,column_name,column_type,column_position,mapping
item,stg,id,INTEGER,1,c
item,hub,id,INTEGER,1,bk
item__owner,link,item,,1,ll
item__owner,link,owner,,2,ll
"""

BAD_LINK_TRANSITIONS = """source_table,source_field,target_table,target_field,group_name,position,raw,transformation,transfer_type
item,id,hub_item,id_bk,item,1,false,,bk
item,item,link_item__owner,item_hk,lnk,1,false,,ll
item,nonexistent_group,link_item__owner,owner_hk,lnk,2,false,,ll
"""

EMPTY_TRANSITIONS = (
    "source_table,source_field,target_table,target_field,"
    "group_name,position,raw,transformation,transfer_type\n"
)


def _write(tmp_path, name, content):
    p = tmp_path / name
    p.write_text(content)
    return str(p)


def test_satellite_two_hub_keys_collected_as_error(spark, tmp_path):
    drop_vault(spark)
    v = MallardSparkVault(spark)
    errors = v.init_vault(
        _write(tmp_path, "tables.csv", TWO_HK_TABLES),
        _write(tmp_path, "transitions.csv", EMPTY_TRANSITIONS),
    )
    assert len(errors) == 1
    assert "exactly one hub key" in errors[0][1]


def test_bad_link_group_fails_flow_and_registers_failure(spark, tmp_path):
    drop_vault(spark)
    v = MallardSparkVault(spark)
    assert v.init_vault(
        _write(tmp_path, "tables.csv", BAD_LINK_TABLES),
        _write(tmp_path, "transitions.csv", BAD_LINK_TRANSITIONS),
    ) == []
    spark.sql("INSERT OVERWRITE stg.item VALUES (1)")
    errors = v.execute_flow("item", "test", load_date_overwrite="2025-01-01 00:00:00")
    assert len(errors) == 1
    assert errors[0][0] == "compute_hash_view"
    assert "does not match any hub group" in errors[0][1]
    # ledger recorded the failure, flow short-circuited before loads
    runs = spark.table("metadata.runinfo").collect()
    assert any(r.status == "failure" and "1 errors occurred" in r.message for r in runs)
    assert spark.table("dv.hub_item").count() == 0


SIMPLE_TABLES = """base_name,rel_type,column_name,column_type,column_position,mapping
simple,stg,id,INTEGER,1,c
simple,hub,id,INTEGER,1,bk
"""

SIMPLE_TRANSITIONS = """source_table,source_field,target_table,target_field,group_name,position,raw,transformation,transfer_type
simple,id,hub_simple,id_bk,simple,1,false,,bk
"""


def test_quoted_load_date_overwrite_rejected(spark, tmp_path):
    """A reference-style quoted overwrite ("'2025-01-01'") would cast to
    NULL load_dts and corrupt satellite window ordering — the flow must
    reject it up front with a validate_load_date error (ADVICE r1)."""
    drop_vault(spark)
    v = MallardSparkVault(spark)
    assert v.init_vault(
        _write(tmp_path, "tables.csv", SIMPLE_TABLES),
        _write(tmp_path, "transitions.csv", SIMPLE_TRANSITIONS),
    ) == []
    spark.sql("INSERT OVERWRITE stg.simple VALUES (1)")
    errors = v.execute_flow("simple", "test", load_date_overwrite="'2025-01-01'")
    assert len(errors) == 1
    assert errors[0][0] == "validate_load_date"
    assert "does not parse" in errors[0][1]
    # nothing loaded, failure registered
    assert spark.table("dv.hub_simple").count() == 0
    runs = spark.table("metadata.runinfo").collect()
    assert any(r.status == "failure" for r in runs)
    # a bare (unquoted) value works
    assert v.execute_flow("simple", "test", load_date_overwrite="2025-01-01") == []
    assert spark.table("dv.hub_simple").count() == 1


def test_typed_exception_hierarchy():
    """Callers can discriminate error classes like with the reference's
    exceptions.py:7-37, and legacy ValueError handlers keep working."""
    from mallarddv_spark import (
        DVConfigurationError,
        DVEntityError,
        DVException,
        DVMetadataError,
        DVSQLError,
    )
    from mallarddv_spark.functions.hashing import hash_sql
    from mallarddv_spark.operators.satellite import _sat_parts
    from mallarddv_spark.plans.model import TableColumn
    from mallarddv_spark.sources.readers import read_file, staging_schema

    for exc in (DVEntityError, DVMetadataError, DVConfigurationError):
        assert issubclass(exc, DVException)
        assert issubclass(exc, ValueError)  # back-compat
    assert issubclass(DVSQLError, DVException)

    with pytest.raises(DVConfigurationError):
        hash_sql(["x"], algo="crc32")
    with pytest.raises(DVMetadataError):
        staging_schema([], "ghost_table")
    cols = [
        TableColumn("s", "hsat", "a", "", 0, "c"),
    ]
    with pytest.raises(DVEntityError, match="exactly one hub key"):
        _sat_parts(cols)


def test_sql_positional_params_and_dvsqlerror(spark):
    """Reference parity: sql() binds positional list params (?) and wraps
    failures in DVSQLError carrying the statement."""
    from mallarddv_spark import DVSQLError
    from mallarddv_spark.api import MallardSparkVault

    v = MallardSparkVault(spark)
    assert v.sql("SELECT ? + 1 AS x", [41]).first().x == 42
    assert v.sql("SELECT :a || 'b' AS s", {"a": "a"}).first().s == "ab"
    with pytest.raises(DVSQLError) as ei:
        v.sql("SELECT * FROM no_such_table_xyz")
    assert ei.value.sql == "SELECT * FROM no_such_table_xyz"
    assert ei.value.original_error is not None


def test_logging_parity():
    """configure_logging mirrors the reference utils/logging.py contract:
    level, handler replacement, timestamped formatter, optional file."""
    import logging
    import tempfile

    from mallarddv_spark import configure_logging, get_logger

    lg = configure_logging(logging.DEBUG)
    assert lg.name == "mallarddv_spark"
    assert lg.level == logging.DEBUG
    n1 = len(lg.handlers)
    configure_logging(logging.INFO)
    assert len(lg.handlers) == n1  # replaced, not stacked
    with tempfile.NamedTemporaryFile(suffix=".log", delete=False) as f:
        path = f.name
    configure_logging(logging.INFO, log_file=path)
    get_logger("flow").info("hello-ledger")
    for h in lg.handlers:
        h.flush()
    assert "hello-ledger" in open(path).read()
    configure_logging(logging.WARNING)  # reset for other tests


def test_ledger_write_failure_surfaces(spark):
    """A flow whose final ledger append fails must not swallow it: the
    error joins the returned error list (stage 'write_runinfo') so callers
    know the outcome was not durably recorded and replay will re-ingest."""
    import os
    from unittest import mock

    from mallarddv_spark.flow import runinfo

    fixtures = os.path.join(os.path.dirname(__file__), "fixtures")
    drop_vault(spark)
    v = MallardSparkVault(spark)
    assert v.init_vault(
        os.path.join(fixtures, "tables.csv"),
        os.path.join(fixtures, "transitions.csv"),
    ) == []
    spark.sql(
        "INSERT OVERWRITE stg.customer VALUES "
        "(1,'a','b','a@x',timestamp'2025-03-25 15:16:33',NULL,NULL)"
    )

    with mock.patch.object(
        runinfo, "write_ledger_rows",
        side_effect=RuntimeError("metadata store unavailable"),
    ):
        errors = v.execute_flow(
            "customer", "demo", load_date_overwrite="2025-01-01 00:00:00"
        )
    assert errors == [("write_runinfo", "metadata store unavailable")]


def test_float_hash_input_warns(spark, caplog):
    """A DOUBLE column feeding a hash without a cast transformation logs a
    portability warning (float rendering diverges across engines); the
    flow itself proceeds."""
    import logging

    from mallarddv_spark import MallardSparkVault

    dbs = dict(stg_db="fw_stg", dv_db="fw_dv", bv_db="fw_bv",
               metadata_db="fw_meta")
    for db in dbs.values():
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    tables = (
        "base_name,rel_type,column_name,column_type,column_position,mapping\n"
        "m,stg,score,DOUBLE,1,c\n"
        "m,hub,score_bk,DOUBLE,1,bk\n"
    )
    transitions = (
        "source_table,source_field,target_table,target_field,group_name,"
        "position,raw,transformation,transfer_type\n"
        "m,score,hub_m,score_bk,m,1,false,,bk\n"
    )
    import tempfile, os
    td = tempfile.mkdtemp()
    open(os.path.join(td, "t.csv"), "w").write(tables)
    open(os.path.join(td, "tr.csv"), "w").write(transitions)
    v = MallardSparkVault(spark, **dbs)
    assert v.init_vault(os.path.join(td, "t.csv"),
                        os.path.join(td, "tr.csv")) == []
    spark.sql("INSERT INTO fw_stg.m VALUES (20000000.0)")
    with caplog.at_level(logging.WARNING, logger="mallarddv_spark.flow"):
        assert v.execute_flow("m", "t",
                              load_date_overwrite="2025-01-01 00:00:00") == []
    assert any("floating-point" in r.message for r in caplog.records)
    assert spark.table("fw_dv.hub_m").count() > 0
    for db in dbs.values():
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")


def test_concurrent_flows_serialize_run_ids(spark):
    """Two threads driving flows on the SAME vault must not share a
    run_id (global max+1 allocation would cross-delete on rollback);
    the per-executor flow lock serializes them."""
    import threading

    dbs = dict(stg_db="cf_stg", dv_db="cf_dv", bv_db="cf_bv",
               metadata_db="cf_meta")
    for db in dbs.values():
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    v = MallardSparkVault(spark, **dbs)
    assert v.init_vault("tests/fixtures/tables.csv",
                        "tests/fixtures/transitions.csv") == []

    results = {}

    def run(i):
        results[i] = v.execute_flow(
            "customer", f"src{i}", file_path="tests/fixtures/customer.csv",
            load_date_overwrite="2025-01-01 00:00:00",
            force_load=True,
        )

    ts = [threading.Thread(target=run, args=(i,)) for i in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert results[0] == [] and results[1] == []
    run_ids = [
        r.run_id
        for r in spark.table("cf_meta.runinfo")
        .filter("status = 'success'")
        .collect()
    ]
    assert sorted(run_ids) == [1, 2]  # distinct ids, both succeeded
    for db in dbs.values():
        spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
