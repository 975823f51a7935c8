"""Graph view over a relational star schema.

The reference reads a live Neo4j property graph over Bolt (its only
connector, ``neo4j_export.py:35``). This engine's primary source is
columnar tables: a declarative spec maps tables → node labels and foreign
keys → typed relationships, yielding a *graph view* whose per-label node
DataFrames stay lazy columnar scans (predicate pushdown + column pruning
reach the parquet reader — the reference's full-node over-fetch,
``neo4j_export.py:362-369``, disappears by construction).

``load_graph_view`` reads only the tables the spec's nodes and edges name;
``spec.extra_tables`` are read on their first ``view.tables[name]``. Every
read takes its schema from the parquet footer (one pyarrow footer read,
no Spark schema-inference job; see ``read_parquet_table``).

The TPC-H-ish driver testdata spec follows FIXTURES.md §A.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Mapping
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import GraphCatalog, LabelMeta, PropertyMeta


@dataclass(frozen=True)
class NodeSpec:
    label: str
    table: str
    # Declared node identifier (the star-schema key the FK edges reference).
    # When None, the C1 identifier-detection cascade discovers one.
    id_col: str | None = None


@dataclass(frozen=True)
class EdgeSpec:
    """One relationship pattern derived from a foreign key.

    ``table`` holds the edge rows; ``src_key``/``tgt_key`` are the columns
    whose values equal the source/target node identifiers; ``props`` are
    the edge's own properties.
    """

    src_label: str
    rel_type: str
    tgt_label: str
    table: str
    src_key: str
    tgt_key: str
    props: tuple = ()

    @property
    def pattern_key(self) -> str:
        return f"{self.src_label}_{self.rel_type}_{self.tgt_label}"


@dataclass
class GraphSpec:
    nodes: list[NodeSpec]
    edges: list[EdgeSpec]
    extra_tables: list[str] = field(default_factory=list)
    unique_constraints: dict[str, list[str]] = field(default_factory=dict)


# FIXTURES.md §A: the driver's TPC-H-ish tables as a property graph.
TPCH_GRAPH_SPEC = GraphSpec(
    nodes=[
        NodeSpec("Region", "region", "r_regionkey"),
        NodeSpec("Nation", "nation", "n_nationkey"),
        NodeSpec("Customer", "customer", "c_custkey"),
        NodeSpec("Supplier", "supplier", "s_suppkey"),
        NodeSpec("Part", "part", "p_partkey"),
        NodeSpec("Order", "orders", "o_orderkey"),
    ],
    edges=[
        EdgeSpec("Customer", "PLACED", "Order", "orders", "o_custkey", "o_orderkey",
                 ("o_orderdate", "o_orderstatus")),
        EdgeSpec("Order", "CONTAINS", "Part", "lineitem", "l_orderkey", "l_partkey",
                 ("l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_linenumber")),
        EdgeSpec("Order", "SUPPLIED_BY", "Supplier", "lineitem", "l_orderkey", "l_suppkey",
                 ("l_quantity", "l_shipdate")),
        EdgeSpec("Customer", "IN", "Nation", "customer", "c_custkey", "c_nationkey"),
        EdgeSpec("Supplier", "IN", "Nation", "supplier", "s_suppkey", "s_nationkey"),
        EdgeSpec("Nation", "IN", "Region", "nation", "n_nationkey", "n_regionkey"),
    ],
    extra_tables=["events", "documents", "embeddings"],
)


@dataclass
class GraphView:
    """A loaded property-graph view: lazy DataFrames + a catalog.

    ``nodes[label]`` is the typed per-label DataFrame (a pruned parquet
    scan); ``tables[name]`` the raw tables (a :class:`LazyTables` when
    loaded by ``load_graph_view``); ``catalog`` mirrors the reference's
    metadata IR (SURVEY.md §3.2).
    """

    spark: SparkSession
    spec: GraphSpec
    nodes: dict[str, DataFrame]
    tables: Mapping[str, DataFrame]
    catalog: GraphCatalog
    _detected_identifiers: dict[str, str] | None = None

    def declared_identifiers(self) -> dict[str, str]:
        """{label: declared id column} for labels that declare one."""
        return {n.label: n.id_col for n in self.spec.nodes if n.id_col}

    def detected_identifiers(self, approx_screen: bool = False) -> dict[str, str]:
        """{label: identifier} via the C1 cascade, memoized per view.

        The cascade's tier-4 uniqueness aggregation is a catalog-level
        analysis — the reference runs it once per export (``export_nodes``
        populates ``self.label_identifiers``, ``neo4j_export.py:301``),
        not once per downstream consumer; the memo mirrors that IR.
        """
        if self._detected_identifiers is None:
            from ..operators.identifier import detect_identifiers

            self._detected_identifiers = detect_identifiers(
                self.nodes, self.catalog.unique_constraints, approx_screen
            )
        return self._detected_identifiers

    def edge_df(self, spec: EdgeSpec) -> DataFrame:
        """Edge rows of one pattern, pruned to keys + declared props."""
        cols = [spec.src_key, spec.tgt_key, *spec.props]
        # Dedup in case src/tgt key is the same column
        seen, ordered = set(), []
        for c in cols:
            if c not in seen:
                seen.add(c)
                ordered.append(c)
        return self.tables[spec.table].select(*ordered)


class LazyTables(Mapping):
    """Tables by name: ``loaded`` as given, the rest read by ``loaders``
    on their first subscript (once, also under concurrent subscripts).
    An unknown name raises ``KeyError``."""

    def __init__(self, loaded: dict[str, DataFrame], loaders: dict[str, Callable[[], DataFrame]]):
        self._tables = dict(loaded)
        self._loaders = {k: v for k, v in loaders.items() if k not in loaded}
        self._lock = threading.Lock()

    def __getitem__(self, name: str) -> DataFrame:
        if name not in self._tables:
            load = self._loaders[name]
            with self._lock:
                if name not in self._tables:
                    self._tables[name] = load()
        return self._tables[name]

    def __iter__(self):
        return iter({**self._loaders, **self._tables})

    def __len__(self) -> int:
        return len(self._tables.keys() | self._loaders.keys())


def _read_type(at, ntz: bool) -> T.DataType:
    """The type Spark's parquet reader gives an arrow footer type, every
    level nullable (file-source reads are ``asNullable``). Raises
    ``TypeError`` for a type not covered here."""
    import pyarrow.types as pat

    from pyspark.sql.pandas.types import from_arrow_type

    if pat.is_struct(at):
        return T.StructType([T.StructField(f.name, _read_type(f.type, ntz), True) for f in at])
    if pat.is_list(at) or pat.is_large_list(at):
        return T.ArrayType(_read_type(at.value_type, ntz), True)
    if pat.is_map(at):
        return T.MapType(_read_type(at.key_type, ntz), _read_type(at.item_type, ntz), True)
    if pat.is_timestamp(at):
        # INT64 TIMESTAMP(NANOS) reads as raw longs (nanosAsLong).
        return T.LongType() if at.unit == "ns" else from_arrow_type(at, prefer_timestamp_ntz=ntz)
    plain = (pat.is_boolean, pat.is_signed_integer, pat.is_float32, pat.is_float64,
             pat.is_decimal128, pat.is_string, pat.is_large_string, pat.is_binary,
             pat.is_large_binary, pat.is_date32)
    if any(test(at) for test in plain):
        return from_arrow_type(at)
    raise TypeError(f"no parquet read type for {at}")


def footer_schema(spark: SparkSession, path: str):
    """``(read schema, arrow footer schema)`` of one parquet file from a
    single pyarrow footer read.

    The read schema is the one Spark's schema inference returns, or None
    when the footer holds a type outside the mapping (INT96, unsigned,
    dictionary, time, ...) or ``binaryAsString`` is set. The footer is
    None when pyarrow cannot open ``path`` (a directory, say)."""
    try:
        import pyarrow.parquet as pq

        with pq.ParquetFile(path) as pf:
            footer, columns = pf.schema_arrow, pf.metadata.schema
    except Exception:
        return None, None
    conf = spark.conf
    # pyarrow shows INT96 as timestamp[ns]; Spark reads it as a timestamp.
    if (any(c.physical_type == "INT96" for c in columns)
            or conf.get("spark.sql.parquet.binaryAsString", "false").lower() == "true"):
        return None, footer
    ntz = conf.get("spark.sql.parquet.inferTimestampNTZ.enabled", "true").lower() == "true"
    try:
        fields = [T.StructField(f.name, _read_type(f.type, ntz), True) for f in footer]
    except TypeError:
        return None, footer
    return T.StructType(fields), footer


def read_parquet_table(spark: SparkSession, path: str) -> DataFrame:
    """Parquet read tolerant of INT64 TIMESTAMP(NANOS) columns.

    Spark's vectorized reader rejects nanosecond parquet timestamps; we
    read them as raw longs (legacy conf) and rebuild micro-precision
    timestamps from the footer schema — same truncation DuckDB applies,
    so oracle comparisons agree. Column identity is preserved, so
    pruning/pushdown still reach the scan for all other columns.

    The footer is read once, with pyarrow, and also gives the read
    schema, so Spark runs no schema-inference job; a footer type outside
    ``footer_schema``'s mapping falls back to inference.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema, footer = footer_schema(spark, path)
    df = (spark.read.schema(schema) if schema is not None else spark.read).parquet(path)
    if footer is None:
        return df
    import pyarrow as pa

    dtypes = dict(df.dtypes)
    for fld in footer:
        if pa.types.is_timestamp(fld.type) and dtypes.get(fld.name) == "bigint":
            if fld.type.unit == "ns":
                # NTZ via pure wall-clock arithmetic from the NTZ epoch.
                # NOT timestamp_micros()/convert_timezone/cast: those
                # consult the session timezone (timestamp_micros yields an
                # LTZ instant; convert_timezone's deferred
                # current_timezone() can even be resolved under a
                # DIFFERENT tz than the runtime cast if the session tz
                # changes between plan analysis and execution). The
                # timestampadd form contains no tz reference at all, so
                # the rendered wall time equals the raw epoch micros in
                # every session — matching DuckDB's naive timestamps.
                df = df.withColumn(
                    fld.name,
                    F.expr(
                        f"timestampadd(MICROSECOND, `{fld.name}` div 1000, "
                        f"TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                    ),
                )
    return df


def build_graph_view(
    spark: SparkSession, spec: GraphSpec, tables: dict[str, DataFrame]
) -> GraphView:
    """Assemble a GraphView + catalog from already-loaded tables.

    Shared by every GraphSource implementation (star-schema parquet, the
    Neo4j connector adapter, ...): the catalog is derived from the lazy
    DataFrame schemas, never from data rows.
    """
    nodes = {n.label: tables[n.table] for n in spec.nodes}

    catalog = GraphCatalog(unique_constraints=dict(spec.unique_constraints))
    for n in spec.nodes:
        df = nodes[n.label]
        props = {
            f.name: PropertyMeta(f.name, f.dataType.simpleString().upper(), "node")
            for f in df.schema.fields
        }
        catalog.labels[n.label] = LabelMeta(n.label, "node", props)
    for e in spec.edges:
        props = {p: PropertyMeta(p, "STRING", "relationship") for p in e.props}
        catalog.labels.setdefault(e.rel_type, LabelMeta(e.rel_type, "relationship", props))
    return GraphView(spark, spec, nodes, tables, catalog)


def load_graph_view(
    spark: SparkSession,
    sf_dir: str,
    spec: GraphSpec = TPCH_GRAPH_SPEC,
    fmt: str = "parquet",
) -> GraphView:
    """Load a star-schema directory as a graph view (lazy scans only).

    The tables the spec's nodes and edges name are read now; the
    ``extra_tables`` on their first ``view.tables[name]``."""

    def loader(name):
        path = os.path.join(sf_dir, f"{name}.{fmt}" if fmt == "parquet" else name)
        return lambda: read_parquet_table(spark, path)

    graph = {n.table for n in spec.nodes} | {e.table for e in spec.edges}
    tables = LazyTables(
        {name: loader(name)() for name in sorted(graph)},
        {name: loader(name) for name in spec.extra_tables},
    )
    return build_graph_view(spark, spec, tables)
