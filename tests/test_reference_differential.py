"""Live differential test against the REFERENCE implementation.

Runs the actual reference system (``/root/reference``, pure Python on
DuckDB — read-only import; its missing ``sha1`` SQL function is supplied as
a registered Python UDF per SURVEY §8.1) and this engine on identical
metadata + identical staged rows, then compares the resulting Data Vault
tables value-for-value. This is the strongest parity statement we can make:
not golden constants, but the reference executing live next to us.

The reference's ``execute_flow`` file-load path is skipped (its
staging-definition probe is a verified no-op defect, SURVEY §8.2; this
engine's version is ``MetadataCache.has_staging_definition``); both systems get pre-staged rows and run hash-view + hub/link/sat loads.
"""

import hashlib
import os
import sys

import duckdb
import pytest

from mallarddv_spark.api import MallardSparkVault
from mallarddv_spark.sources.catalog import drop_vault

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")
LOAD = "2025-01-01 00:00:00"

sys.path.insert(0, "/root/reference")


@pytest.fixture(scope="module")
def reference_vault(tmp_path_factory):
    from mallarddv.mallarddv import MallardDataVault
    from mallarddv.utils.test_adapter import inject_test_db

    scripts = tmp_path_factory.mktemp("ref_models")
    (scripts / "stg").mkdir()
    (scripts / "stg" / "customer_vw.sql").write_text(
        "create or replace view stg.customer_vw as "
        "(select id, trim(first_name) as first_name, trim(last_name) as last_name, "
        "trim(email) as email, created_date from stg.customer)"
    )

    con = duckdb.connect(":memory:")
    con.create_function(
        "sha1", lambda s: hashlib.sha1(str(s).encode()).hexdigest(), [str], str
    )
    mdv = MallardDataVault(":memory:", scripts_path=str(scripts))
    inject_test_db(mdv, con)
    errors = mdv.init_mallard_db(
        meta_only=False,
        meta_tables_path=os.path.join(FIXTURES, "tables.csv"),
        meta_transitions_path=os.path.join(FIXTURES, "transitions.csv"),
    )
    assert errors == []
    con.sql(
        "INSERT INTO stg.customer VALUES "
        "(1,'jhon','doe','jhon.doe@example.com',timestamp '2025-03-25 15:16:33',NULL,NULL),"
        "(2,'jane','smith','jane.smith@example.com',timestamp '2025-03-25 15:17:24',1,352)"
    )
    assert mdv.compute_hash_view("customer") == []
    assert mdv.load_related_hubs("customer", 1, "demo-customer", f"'{LOAD}'") == []
    assert mdv.load_related_links("customer", 1, "demo-customer", f"'{LOAD}'") == []
    assert mdv.load_related_sats("customer", 1, "demo-customer", f"'{LOAD}'") == []
    return con, mdv


@pytest.fixture(scope="module")
def spark_vault(spark):
    drop_vault(spark)
    v = MallardSparkVault(spark)
    assert v.init_vault(
        os.path.join(FIXTURES, "tables.csv"),
        os.path.join(FIXTURES, "transitions.csv"),
    ) == []
    spark.sql(
        "INSERT OVERWRITE stg.customer VALUES "
        "(1,'jhon','doe','jhon.doe@example.com',timestamp'2025-03-25 15:16:33',NULL,NULL),"
        "(2,'jane','smith','jane.smith@example.com',timestamp'2025-03-25 15:17:24',1,352)"
    )
    assert v.execute_flow("customer", "demo-customer", load_date_overwrite=LOAD) == []
    return v


def _ref_rows(con, table, cols):
    return sorted(
        tuple(str(x) for x in r)
        for r in con.sql(f"SELECT {', '.join(cols)} FROM {table}").fetchall()
    )


def _spark_rows(spark, table, cols):
    return sorted(
        tuple(str(x) for x in r)
        for r in spark.table(table).select(*cols).collect()
    )


@pytest.mark.parametrize(
    "table, cols",
    [
        ("dv.hub_customer", ["customer_hk", "id_bk", "record_source", "run_id"]),
        (
            "dv.link_customer__referencer",
            [
                "customer__referencer_hk",
                "customer_hk",
                "referencer_hk",
                "reference_code_dk",
                "record_source",
            ],
        ),
        (
            "dv.hsat_customer_details",
            [
                "customer_hk",
                "del_flag",
                "hash_diff",
                "first_name",
                "last_name",
                "email",
                "record_source",
            ],
        ),
        (
            "dv.lsat_customer__referencer",
            ["customer__referencer_hk", "del_flag", "hash_diff", "record_source"],
        ),
    ],
)
def test_dv_tables_match_reference(reference_vault, spark_vault, spark, table, cols):
    con, _mdv = reference_vault
    ref = _ref_rows(con, table, cols)
    got = _spark_rows(spark, table, cols)
    assert got == ref, f"{table}: spark {got} != reference {ref}"
    assert len(ref) > 0


D1, D2, D3 = (
    "2025-02-01 00:00:00",
    "2025-02-02 00:00:00",
    "2025-02-03 00:00:00",
)
PRODUCT_VERSIONS = [
    (D1, "(1,'widget ','desc one'),(2,'gadget','desc two')"),
    (D2, "(1,'widget2','desc one')"),
    (D3, "(1,'widget2','desc one'),(2,'gadget','desc two')"),
]


def test_sat_full_lifecycle_matches_reference(reference_vault, spark_vault, spark):
    """Three sat_full loads (update, tombstone, resurrection) executed by
    BOTH systems; the complete satellite history must match row-for-row."""
    con, mdv = reference_vault
    for i, (d, values) in enumerate(PRODUCT_VERSIONS, start=10):
        con.sql("DELETE FROM stg.product")
        con.sql(f"INSERT INTO stg.product VALUES {values}")
        assert _ref_flow(mdv, d, i) == []

        spark.sql(f"INSERT OVERWRITE stg.product VALUES {values}")
        assert spark_vault.execute_flow(
            "product", "erp", load_date_overwrite=d
        ) == []

    cols = [
        "product_hk", "load_dts", "del_flag", "hash_diff",
        "name", "description", "record_source",
    ]
    ref = _ref_rows(con, "dv.hsat_product_details", cols)
    got = _spark_rows(spark, "dv.hsat_product_details", cols)
    assert got == ref
    assert len(ref) == 5  # 2 v1 + 1 update + 1 tombstone + 1 resurrection

    hub_cols = ["product_hk", "id_cbk", "product_type_cbk"]
    assert _spark_rows(spark, "dv.hub_product", hub_cols) == _ref_rows(
        con, "dv.hub_product", hub_cols
    )


def _ref_flow(mdv, load_date, run_id):
    """Drive the reference's hash view + loads for the product table."""
    errors = []
    errors += mdv.compute_hash_view("product")
    errors += mdv.load_related_hubs("product", run_id, "erp", f"'{load_date}'")
    errors += mdv.load_related_links("product", run_id, "erp", f"'{load_date}'")
    errors += mdv.load_related_sats("product", run_id, "erp", f"'{load_date}'")
    return errors
