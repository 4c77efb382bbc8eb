"""Schema registry / evolution / view-catalog tests (SURVEY §2D).

Parity with the reference's own test strategy: schema round-trip
(sync_tables_with_schema.sh) and view compilation (bq_create_view
main_test.go)."""

import json
import os

from pyspark.sql import types as T

from etl_schema_spark.schemas import (
    bigquery_json_to_struct,
    diff_schemas,
    evolve_schema,
    reconcile_to_schema,
    struct_to_bigquery_json,
    TESTDATA_SCHEMAS,
)
from etl_schema_spark.schemas.registry import MEASUREMENT_SCHEMA_JSON
from etl_schema_spark.sources.catalog import TABLES, load_table
from etl_schema_spark.sources.views import ViewCatalog


def test_bigquery_json_roundtrip():
    struct = bigquery_json_to_struct(MEASUREMENT_SCHEMA_JSON)
    assert struct["a"].dataType["MeanThroughputMbps"].dataType == T.DoubleType()
    snaps = struct["snapshots"].dataType
    assert isinstance(snaps, T.ArrayType) and isinstance(snaps.elementType, T.StructType)
    assert struct["a"].metadata["description"] == "Standard top-level columns"
    back = struct_to_bigquery_json(struct)
    assert bigquery_json_to_struct(back) == struct


_TESTS = os.path.dirname(os.path.abspath(__file__))
# The reference checkout sits beside this repository's checkout.
_REFERENCE_NDT = os.path.join(
    os.path.dirname(os.path.dirname(_TESTS)), "reference", "schema", "ndt.json"
)
# Excerpt of the reference's schema/ndt.json (same dialect: explicit modes,
# descriptions, nested RECORDs, a REPEATED RECORD), for hosts without the
# reference checkout.
_NDT_EXCERPT = os.path.join(_TESTS, "data", "ndt_excerpt.json")


def test_reference_ndt_schema_loads():
    """The reference's schema/ndt.json (or its checked-in excerpt) must
    load unchanged: nested RECORDs become structs, a REPEATED RECORD an
    array of structs, modes map to nullability, descriptions survive, and
    the struct serializes back to the same JSON."""
    path = _REFERENCE_NDT if os.path.exists(_REFERENCE_NDT) else _NDT_EXCERPT
    with open(path) as f:
        doc = json.load(f)
    struct = bigquery_json_to_struct(doc)
    assert "web100_log_entry" in struct.fieldNames()
    entry = struct["web100_log_entry"]
    assert isinstance(entry.dataType, T.StructType) and entry.nullable
    conn = entry.dataType["connection_spec"].dataType
    assert isinstance(conn, T.StructType)
    assert conn["remote_ip"].dataType == T.StringType()
    assert conn["remote_ip"].metadata.get("description")
    repeated = [
        f for f in struct.fields
        if isinstance(f.dataType, T.ArrayType)
        and isinstance(f.dataType.elementType, T.StructType)
    ]
    assert repeated, "no REPEATED RECORD field"
    assert not struct["test_id"].nullable  # mode REQUIRED
    back = struct_to_bigquery_json(struct)
    assert bigquery_json_to_struct(back) == struct
    if path == _NDT_EXCERPT:  # every field spells out type, mode, description
        assert back == doc


def test_registry_matches_disk(spark, sf_dir):
    for name in TABLES:
        observed = load_table(spark, sf_dir, name).schema
        expected = TESTDATA_SCHEMAS[name]
        assert [f.name for f in observed.fields] == [f.name for f in expected.fields], name
        for of, ef in zip(observed.fields, expected.fields):
            assert of.dataType == ef.dataType, (name, of.name, of.dataType, ef.dataType)


def test_diff_and_evolve():
    base = TESTDATA_SCHEMAS["events"]
    incoming = T.StructType(
        list(base.fields) + [T.StructField("region", T.StringType())]
    )
    d = diff_schemas(base, incoming)
    assert d == {"added": ["region"], "removed": [], "retyped": []}
    evolved = evolve_schema(base, incoming)
    assert evolved.fieldNames() == base.fieldNames() + ["region"]
    # evolution is additive-only: removing or retyping never propagates
    shrunk = T.StructType(base.fields[:2])
    assert evolve_schema(base, shrunk) == base


def test_reconcile(spark, sf_dir):
    base = load_table(spark, sf_dir, "events")
    target = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("value", T.FloatType()),  # retyped
            T.StructField("region", T.StringType()),  # missing in data
        ]
    )
    out = reconcile_to_schema(base, target)
    assert out.schema == T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("value", T.FloatType()),
            T.StructField("region", T.StringType()),
        ]
    )
    assert out.filter(out.region.isNotNull()).count() == 0


def test_view_catalog_dag(spark, sf_dir):
    load_table(spark, sf_dir, "events").createOrReplaceTempView("raw__events")
    cat = ViewCatalog(project_id="testproj")
    # intentionally added out of dependency order
    cat.add(
        "ndt.unified",
        "SELECT * FROM `{{.ProjectID}}.intermediate.extended` WHERE value > 1",
        description="unified view",
    )
    cat.add(
        "intermediate.extended",
        "SELECT event_id, value FROM `{{.ProjectID}}.raw.events`",
        description="extended view",
    )
    cat.add("raw.events", "SELECT * FROM raw__events")
    order = cat.materialize(spark)
    assert order.index("raw.events") < order.index("intermediate.extended")
    assert order.index("intermediate.extended") < order.index("ndt.unified")
    n_unified = cat.query(spark, "ndt.unified").count()
    assert n_unified == spark.table("raw__events").filter("value > 1").count()
    assert "View of intermediate.extended" in cat.descriptions["ndt.unified"]


def test_view_catalog_find_refs():
    refs = ViewCatalog.find_refs(
        "SELECT * FROM `{{.ProjectID}}.ndt.ndt7` JOIN `mlab-oti.statistics.cities`"
    )
    assert refs == ["ndt.ndt7", "statistics.cities"]


def test_view_catalog_cycle_detection():
    import pytest

    cat = ViewCatalog()
    cat.add("a.v1", "SELECT * FROM `{{.ProjectID}}.a.v2`")
    cat.add("a.v2", "SELECT * FROM `{{.ProjectID}}.a.v1`")
    with pytest.raises(ValueError, match="cycle"):
        cat.dependency_order()


def test_catalog_acl_manifests():
    """Dataset ACL manifests (reference acl/*.acl.json parity): attach,
    inherit per view, default private, reject malformed."""
    import pytest

    from etl_schema_spark.operators.view_families import tier_catalog
    from etl_schema_spark.sources.views import PRIVATE_ACL, PUBLIC_ACL, ViewCatalog

    cat = tier_catalog()
    assert cat.acl_for("rc.ndt_downloads") == PUBLIC_ACL
    assert cat.acl_for("etl.common_events") == PRIVATE_ACL
    # unknown dataset falls back to private (the reference's default)
    assert cat.acl_for("scratch.tmp") == PRIVATE_ACL
    roles = {e["role"] for e in cat.acl_for("rc.ndt_all")["access"]}
    assert roles == {"READER", "WRITER", "OWNER"}

    bad = ViewCatalog()
    with pytest.raises(ValueError):
        bad.set_acl("x", {"access": "not-a-list"})
    with pytest.raises(ValueError):
        bad.set_acl("x", {"access": [{"specialGroup": "noRole"}]})


def test_catalog_descriptions_stamped(spark):
    from etl_schema_spark.operators import view_families as vf
    from etl_schema_spark.sources.catalog import load_table

    load_table(spark, "/root/testdata/sf0.001", "events").createOrReplaceTempView(
        "raw__events"
    )
    cat = vf.tier_catalog()
    cat.materialize(spark)
    desc = cat.descriptions["rc.ndt_sensible"]
    assert "Tier 'sensible'" in desc and "View of" in desc
