"""End-to-end export DAG: CSVs on disk + model JSON (3 versions) + zip."""

from __future__ import annotations

import csv
import json
import os
import zipfile
from datetime import datetime

import pytest

from neo4j_database_to_data_importer_package_spark.plans.exporter import GraphExporter
from neo4j_database_to_data_importer_package_spark.sources.star_schema import load_graph_view


@pytest.fixture(scope="module")
def view(spark, sf_dir):
    return load_graph_view(spark, sf_dir)


@pytest.fixture(scope="module")
def export_dir(view, tmp_path_factory):
    out = tmp_path_factory.mktemp("export_v3")
    exporter = GraphExporter(view, str(out), format_version="3.0",
                             clock=lambda: datetime(2026, 1, 2, 3, 4, 5))
    result = exporter.run(create_zip_file=True)
    return out, result


def test_csv_files_exist_with_exact_names(export_dir):
    out, result = export_dir
    expected = {
        "Customer.csv", "Nation.csv", "Order.csv", "Part.csv", "Region.csv", "Supplier.csv",
        "Customer_PLACED_Order.csv", "Customer_IN_Nation.csv", "Nation_IN_Region.csv",
        "Order_CONTAINS_Part.csv", "Order_SUPPLIED_BY_Supplier.csv", "Supplier_IN_Nation.csv",
        "neo4j_importer_model.json",
    }
    assert expected <= set(os.listdir(out))


def test_csv_header_order_and_rows(export_dir, view):
    out, result = export_dir
    with open(out / "Customer.csv", newline="") as f:
        rows = list(csv.reader(f))
    assert rows[0] == ["c_custkey", "c_acctbal", "c_mktsegment", "c_name", "c_nationkey"]
    assert len(rows) - 1 == view.nodes["Customer"].count()


def test_rel_csv_columns(export_dir):
    out, _ = export_dir
    with open(out / "Customer_PLACED_Order.csv", newline="") as f:
        header = next(csv.reader(f))
    assert header == ["Customer_c_custkey", "Order_o_orderkey", "o_orderdate", "o_orderstatus"]


def test_model_v3_structure(export_dir):
    out, result = export_dir
    model = json.load(open(out / "neo4j_importer_model.json"))
    assert model["version"] == "3.0.0"
    schema = model["dataModel"]["graphSchemaRepresentation"]["graphSchema"]
    assert len(schema["nodeLabels"]) == 6
    assert len(schema["nodeObjectTypes"]) == 6
    # 6 patterns but IN appears 3× → 4 distinct rel type tokens, 6 object types
    assert len(schema["relationshipTypes"]) == 4
    assert len(schema["relationshipObjectTypes"]) == 6
    # quirk 4: first rel type's property ids start at p:r1_
    typed = {t["token"]: t for t in schema["relationshipTypes"]}
    first = next(iter(typed.values()))
    # all refs resolve
    ids = set()
    for nl in schema["nodeLabels"]:
        ids.add(nl["$id"])
        ids.update(p["$id"] for p in nl["properties"])
    for rt in schema["relationshipTypes"]:
        ids.add(rt["$id"])
        ids.update(p["$id"] for p in rt["properties"])
    ids.update(n["$id"] for n in schema["nodeObjectTypes"])
    ids.update(r["$id"] for r in schema["relationshipObjectTypes"])
    for r in schema["relationshipObjectTypes"]:
        assert r["type"]["$ref"].lstrip("#") in ids
        assert r["from"]["$ref"].lstrip("#") in ids
        assert r["to"]["$ref"].lstrip("#") in ids
    for m in model["dataModel"]["graphMappingRepresentation"]["nodeMappings"]:
        assert m["node"]["$ref"].lstrip("#") in ids
    # sample-derived types present for node fields
    ts = model["dataModel"]["graphMappingRepresentation"]["dataSourceSchema"]["tableSchemas"]
    cust = next(t for t in ts if t["name"] == "Customer.csv")
    types = {f["name"]: f["recommendedType"]["type"] for f in cust["fields"]}
    assert types["c_custkey"] == "integer"
    assert types["c_acctbal"] == "float"
    assert types["c_name"] == "string"


def test_zip_contains_everything(export_dir):
    out, result = export_dir
    assert result.zip_path and result.zip_path.endswith("-export-2026-01-02-030405.zip")
    with zipfile.ZipFile(result.zip_path) as zf:
        names = set(zf.namelist())
    assert "Customer.csv" in names and "neo4j_importer_model.json" in names
    assert len([n for n in names if n.endswith(".csv")]) == 12


def test_model_v24_and_v01(view, tmp_path):
    for version, check in [("2.4.0", "2.4.0-beta.0"), ("0.1.0", "0.1.0-beta.0")]:
        out = tmp_path / f"export_{version}"
        counter = iter(range(10_000))
        exporter = GraphExporter(
            view, str(out), format_version=version,
            uuid_factory=lambda: f"00000000-0000-0000-0000-{next(counter):012d}",
        )
        result = exporter.run()
        model = result.model
        assert model["version"] == check
        if version == "2.4.0":
            schema = model["dataModel"]["graphSchemaRepresentation"]["graphSchema"]
            # v2.4: one relationshipTypes entry PER PATTERN (no token dedup)
            assert len(schema["relationshipTypes"]) == 6
            # quirk 1: every rel property string+nullable (missing sample file)
            for rt in schema["relationshipTypes"]:
                for p in rt["properties"]:
                    assert p["type"]["type"] == "string"
                    assert p["nullable"] is True
            # global property counter: all p:{n} unique
            pids = [
                p["$id"]
                for nl in schema["nodeLabels"]
                for p in nl["properties"]
            ]
            assert len(pids) == len(set(pids))
            assert pids[0] == "p:1"
        else:
            assert len(model["graph"]["nodes"]) == 6
            assert len(model["graph"]["relationships"]) == 6
            # injected uuids are deterministic
            any_schema = next(iter(model["dataModel"]["graphModel"]["nodeSchemas"].values()))
            assert any_schema["properties"][0]["identifier"].startswith("00000000-")


def test_sharded_mode_manifest(view, tmp_path):
    out = tmp_path / "sharded"
    exporter = GraphExporter(view, str(out), single_file=False)
    exporter.run()
    manifest = json.load(open(out / "Customer.manifest.json"))
    assert manifest["columns"][0] == "c_custkey"
    assert len(manifest["shards"]) >= 1
    assert all(s.startswith("Customer/") for s in manifest["shards"])


def _csv_column(path, name):
    with open(path, newline="") as f:
        reader = csv.DictReader(f)
        return [row[name] for row in reader]


def test_detected_identifier_export_translates_endpoints(view, export_dir, tmp_path):
    """With ``use_declared_identifiers=False`` the node CSVs carry the
    detected identifiers while the FK columns still hold the declared
    keys: each relationship endpoint must be the endpoint node's
    identifier, and no relationship may be lost."""
    declared_out, declared = export_dir
    out = tmp_path / "detected"
    result = GraphExporter(view, str(out), use_declared_identifiers=False).run()
    nodes, rels = result.manifest.nodes, result.manifest.rels
    assert any(
        n.identifier != declared.manifest.nodes[label].identifier
        for label, n in nodes.items()
    )
    assert set(rels) == set(declared.manifest.rels)
    for key, rel in rels.items():
        path = out / f"{key}.csv"
        for label, col in (
            (rel.source_label, rel.source_col_name),
            (rel.target_label, rel.target_col_name),
        ):
            ids = set(_csv_column(out / f"{label}.csv", nodes[label].identifier))
            values = _csv_column(path, col)
            assert values and set(values) <= ids, (key, col)
        n_rows = len(_csv_column(path, rel.source_col_name))
        n_declared = len(
            _csv_column(declared_out / f"{key}.csv", declared.manifest.rels[key].source_col_name)
        )
        assert n_rows == n_declared, key
