"""API parity: every public method of the reference facade exists here and
the granular DDL/load methods work standalone (not only through
execute_flow)."""

import os

import pytest

from mallarddv_spark.api import MallardSparkVault
from mallarddv_spark.sources.catalog import drop_vault

FIXTURES = os.path.join(os.path.dirname(__file__), "fixtures")

#: the reference's public surface (mallarddv/mallarddv.py:87-423)
REFERENCE_METHODS = [
    "sql",
    "compute_hash_view",
    "load_related_hubs",
    "load_related_links",
    "load_related_sats",
    "create_hub_from_metadata",
    "create_link_from_metadata",
    "create_sat_from_metadata",
    "create_current_sat_from_metadata",
    "create_staging_table_from_metadata",
    "apply_script_from_metadata",
    "execute_flow",
    "load_file_to_staging",
    "overwrite_metadata_from_files",
]


def test_facade_covers_reference_surface():
    for m in REFERENCE_METHODS:
        assert hasattr(MallardSparkVault, m), f"missing facade method: {m}"


def test_constructor_parameters_pinned():
    """The facade has one load path: no mode switch may creep back into
    the constructor unnoticed."""
    import inspect

    params = list(inspect.signature(MallardSparkVault.__init__).parameters)
    assert params == [
        "self", "spark", "scripts_path", "stg_db", "dv_db", "bv_db",
        "dm_db", "metadata_db", "hash_algo",
    ]


@pytest.fixture(scope="module")
def vault(spark):
    drop_vault(spark)
    v = MallardSparkVault(spark)
    assert v.init_vault(
        os.path.join(FIXTURES, "tables.csv"),
        os.path.join(FIXTURES, "transitions.csv"),
        meta_only=True,
    ) == []
    return v


def test_granular_ddl_and_load(vault, spark):
    """Drive the vault through the granular API only (no execute_flow)."""
    vault.create_staging_table_from_metadata()
    vault.create_hub_from_metadata()
    vault.create_link_from_metadata()
    vault.create_sat_from_metadata()
    vault.create_current_sat_from_metadata()

    vault.load_file_to_staging("customer", os.path.join(FIXTURES, "customer.csv"))
    assert spark.table("stg.customer").count() == 2

    vault.compute_hash_view("customer")
    vault.load_related_hubs("customer", 1, "api", "2025-01-01 00:00:00")
    vault.load_related_links("customer", 1, "api", "2025-01-01 00:00:00")
    vault.load_related_sats("customer", 1, "api", "2025-01-01 00:00:00")

    assert spark.table("dv.hub_customer").count() == 3
    assert spark.table("dv.link_customer__referencer").count() == 2
    assert spark.table("dv.hsat_customer_details").count() == 2
    assert vault.sql("SELECT count(*) n FROM bv.hsat_customer_details_cv").collect()[0].n == 2


def test_context_manager(spark):
    with MallardSparkVault(spark) as v:
        assert v.sql("SELECT 1 AS one").collect()[0].one == 1
    # session remains usable after exit (vault does not own it)
    assert spark.range(1).count() == 1
