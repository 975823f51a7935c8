"""Per-pattern relationship export (C4/J1/P4-P6/O2, SURVEY.md §2.11).

Reference shape (``export_relationships``, ``neo4j_export.py:334-448``):
per pattern, a 3-way graph join fetching FULL endpoint nodes to project
one identifier each (``:362-369`` — the over-fetch), sentinel-filter on
endpoint ids (``:398-403``), output columns
``[{Src}_{idProp}, {Tgt}_{idProp}, *sorted(relProps)]`` with
``_source``/``_target`` suffixes for self-relationships (``:383-390``).

Spark-first design:
- endpoint reads are pruned to the identifier column only (Catalyst column
  pruning — eliminates the reference's over-fetch by construction);
- existence is enforced with LEFT SEMI joins (the endpoints' id values
  already ride on the edge row as FKs, so no payload join is needed at
  all — cheaper than the reference's inner 3-way join and equivalent
  because node identifiers are unique by C1 construction);
- when a label's export identifier is not its declared key (identifier
  detection instead of ``NodeSpec.id_col``), the FK holds the key, not
  the identifier: that endpoint is translated with the reference's inner
  join on the key, projecting only (key, identifier);
- sentinel endpoint filtering (P4) is a pushdown-friendly predicate
  applied BEFORE the joins (filter early, join less);
- AQE picks broadcast-hash for small endpoint sides (Region/Nation-sized
  dims) and sort-merge otherwise.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.sentinels import sentinel_filter
from ..sources.star_schema import EdgeSpec, GraphView


def endpoint_column_names(spec: EdgeSpec, src_id_prop: str, tgt_id_prop: str) -> tuple[str, str]:
    """P5 naming: ``{Label}_{idProp}``; self-relationship (same label AND
    same id property) disambiguates with ``_source``/``_target``
    (``neo4j_export.py:383-390``)."""
    if spec.src_label == spec.tgt_label and src_id_prop == tgt_id_prop:
        return (
            f"{spec.src_label}_{src_id_prop}_source",
            f"{spec.tgt_label}_{tgt_id_prop}_target",
        )
    return f"{spec.src_label}_{src_id_prop}", f"{spec.tgt_label}_{tgt_id_prop}"


def export_relationship_table(
    view: GraphView,
    spec: EdgeSpec,
    identifiers: dict[str, str],
    validate_endpoints: bool = True,
) -> DataFrame | None:
    """The C4 pipeline for one pattern; returns a lazy DataFrame, or None
    when an endpoint label has no identifier (skip semantics,
    ``neo4j_export.py:375-380``)."""
    if spec.src_label not in identifiers or spec.tgt_label not in identifiers:
        return None
    src_id_prop = identifiers[spec.src_label]
    tgt_id_prop = identifiers[spec.tgt_label]
    src_col, tgt_col = endpoint_column_names(spec, src_id_prop, tgt_id_prop)

    edges = view.edge_df(spec)
    # P4 BEFORE the joins: drop sentinel endpoints early (reference filters
    # after fetching, :398-403 — same result, less join input).
    edges = sentinel_filter(edges, spec.src_key, spec.tgt_key)

    declared = view.declared_identifiers()
    src_ref, tgt_ref = spec.src_key, spec.tgt_key
    src_key_col = declared.get(spec.src_label, src_id_prop)
    tgt_key_col = declared.get(spec.tgt_label, tgt_id_prop)
    if src_key_col != src_id_prop:
        edges, src_ref = _key_to_identifier(
            edges, view.nodes[spec.src_label], spec.src_key, src_key_col,
            src_id_prop, "__src_id",
        )
    elif validate_endpoints:
        src_nodes = view.nodes[spec.src_label].select(F.col(src_id_prop).alias(spec.src_key))
        # Semi-joins: existence only, no payload — Catalyst prunes the
        # endpoint scans to the single id column.
        edges = edges.join(src_nodes, spec.src_key, "left_semi")
    if tgt_key_col != tgt_id_prop:
        edges, tgt_ref = _key_to_identifier(
            edges, view.nodes[spec.tgt_label], spec.tgt_key, tgt_key_col,
            tgt_id_prop, "__tgt_id",
        )
    elif validate_endpoints:
        tgt_nodes = view.nodes[spec.tgt_label].select(F.col(tgt_id_prop).alias("__tgt_id"))
        edges = edges.join(
            tgt_nodes, edges[spec.tgt_key] == tgt_nodes["__tgt_id"], "left_semi"
        )

    props = sorted(spec.props)
    return edges.select(
        F.col(src_ref).alias(src_col),
        F.col(tgt_ref).alias(tgt_col),
        *[F.col(p) for p in props],
    )


def _key_to_identifier(
    edges: DataFrame, nodes: DataFrame, fk: str, key_col: str, id_prop: str, out: str
) -> tuple[DataFrame, str]:
    """Replace an endpoint's key with its export identifier: inner join
    on the key (``neo4j_export.py:362-369``) against the nodes whose
    identifier survives the node export's sentinel filter. Returns the
    joined edges and the column now holding the identifier."""
    ids = sentinel_filter(nodes, id_prop).select(
        F.col(key_col).alias("__key"), F.col(id_prop).alias(out)
    )
    return edges.join(ids, edges[fk] == ids["__key"]).drop("__key"), out


@dataclass
class RelExportResult:
    pattern_key: str
    spec: EdgeSpec
    columns: list[str]
    src_col: str
    tgt_col: str
    rel_properties: list[str]
    df: DataFrame


def export_relationship(
    view: GraphView,
    spec: EdgeSpec,
    identifiers: dict[str, str],
    validate_endpoints: bool = True,
) -> RelExportResult | None:
    """One pattern's entry of ``export_relationships``, or None when it
    is skipped (an endpoint label has no identifier)."""
    df = export_relationship_table(view, spec, identifiers, validate_endpoints)
    if df is None:
        return None
    src_col, tgt_col = endpoint_column_names(
        spec, identifiers[spec.src_label], identifiers[spec.tgt_label]
    )
    return RelExportResult(
        spec.pattern_key, spec, list(df.columns), src_col, tgt_col, sorted(spec.props), df
    )


def export_relationships(
    view: GraphView,
    identifiers: dict[str, str],
    validate_endpoints: bool = True,
) -> dict[str, RelExportResult]:
    """All patterns → the reference's ``rel_files`` IR + lazy DataFrames.

    One pass over each edge table total (vs the reference's k+1 scans per
    rel type, BASELINE.md "scan amplification").
    """
    results = (export_relationship(view, spec, identifiers, validate_endpoints)
               for spec in view.spec.edges)
    return {r.pattern_key: r for r in results if r is not None}
