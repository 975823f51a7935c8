"""Star-schema loading: only the graph's tables up front, the rest on
first use, and every read schema taken from the parquet footer instead
of a Spark schema-inference job."""

from __future__ import annotations

import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from conftest import SF_SMOKE
from neo4j_database_to_data_importer_package_spark.sources import star_schema
from neo4j_database_to_data_importer_package_spark.sources.star_schema import (
    TPCH_GRAPH_SPEC,
    footer_schema,
    load_graph_view,
    read_parquet_table,
)

TESTDATA = os.path.dirname(SF_SMOKE)
FIXTURE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "neo4j_database_to_data_importer_package_spark", "fixtures", "fake_media.parquet",
)
PARQUET_FILES = sorted(glob.glob(os.path.join(TESTDATA, "sf0.*", "*.parquet"))) + [FIXTURE]


def _inferred(spark, path):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(path).schema


def _next_job(spark):
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_extra_tables_load_on_first_use(spark, sf_dir, monkeypatch):
    read, loaded = star_schema.read_parquet_table, []

    def recording(spark, path):
        loaded.append(os.path.basename(path)[: -len(".parquet")])
        return read(spark, path)

    monkeypatch.setattr(star_schema, "read_parquet_table", recording)
    view = load_graph_view(spark, sf_dir)
    extras = set(TPCH_GRAPH_SPEC.extra_tables)
    graph = {n.table for n in TPCH_GRAPH_SPEC.nodes} | {e.table for e in TPCH_GRAPH_SPEC.edges}
    assert sorted(loaded) == sorted(graph)
    assert set(view.tables) == graph | extras
    for name in sorted(extras):
        assert view.tables[name].schema == _inferred(spark, os.path.join(sf_dir, f"{name}.parquet"))
        assert view.tables[name] is view.tables[name]
    assert sorted(loaded) == sorted(graph | extras)
    with pytest.raises(KeyError):
        view.tables["no_such_table"]


@pytest.mark.parametrize("path", PARQUET_FILES, ids=lambda p: os.path.relpath(p, os.path.dirname(os.path.dirname(p))))
def test_footer_schema_equals_inferred_schema(spark, path):
    schema, _ = footer_schema(spark, path)
    assert schema == _inferred(spark, path)


def test_footer_schema_covers_testdata():
    assert len(PARQUET_FILES) == 31


def _synthetic(tmp_path):
    """Files whose footers exercise the mapping's edges."""
    t = pa.table({
        "ns": pa.array([1_000_123], pa.timestamp("ns")),
        "ns_utc": pa.array([1], pa.timestamp("ns", tz="UTC")),
        "ms": pa.array([1], pa.timestamp("ms")),
        "us_tz": pa.array([1], pa.timestamp("us", tz="America/New_York")),
        "d": pa.array([1], pa.date32()),
        "dec": pa.array([1], pa.decimal128(10, 2)),
        "nested": pa.array(
            [[{"a": 1, "t": 5}]],
            pa.list_(pa.field("e", pa.struct([pa.field("a", pa.int8(), False),
                                              ("t", pa.timestamp("ns"))]), False)),
        ),
        "m": pa.array([[("k", 1.0)]], pa.map_(pa.string(), pa.float32())),
    })
    mapped = str(tmp_path / "mapped.parquet")
    pq.write_table(t, mapped)
    unmapped = {
        "int96": (t.select(["ns", "d"]), {"use_deprecated_int96_timestamps": True}),
        "uint": (pa.table({"u": pa.array([1], pa.uint16())}), {}),
        "dictionary": (pa.table({"c": pa.array(["x"]).dictionary_encode()}), {}),
    }
    paths = {}
    for name, (table, kwargs) in unmapped.items():
        paths[name] = str(tmp_path / f"{name}.parquet")
        pq.write_table(table, paths[name], **kwargs)
    return mapped, paths


@pytest.mark.parametrize("ntz", ["true", "false"])
def test_footer_schema_edge_types(spark, tmp_path, ntz):
    """Nanosecond timestamps (nested too) read as longs, zoned ones as
    TIMESTAMP, naive ones follow ``inferTimestampNTZ``, every level is
    nullable; types outside the mapping fall back to inference."""
    mapped, unmapped = _synthetic(tmp_path)
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, ntz)
    try:
        schema, _ = footer_schema(spark, mapped)
        assert schema == _inferred(spark, mapped)
        for name, path in unmapped.items():
            assert footer_schema(spark, path)[0] is None, name
            assert read_parquet_table(spark, path).schema == _inferred(spark, path), name
        assert read_parquet_table(spark, mapped).dtypes[0] == ("ns", "timestamp_ntz")
    finally:
        spark.conf.set(key, before)


def test_footer_read_runs_no_spark_job(spark, sf_dir):
    path = os.path.join(sf_dir, "lineitem.parquet")
    first = _next_job(spark)
    read_parquet_table(spark, path)
    assert _next_job(spark) == first
