"""Per-label node export pipeline (C3, SURVEY.md §2.11).

Reference shape (``export_nodes``, ``neo4j_export.py:269-332``):
scan → schema union → identifier detection → sentinel-null filter →
column order [identifier, *sorted(rest)] → CSV.

Here the pipeline is a lazy DataFrame transform: the scan is a pruned
columnar read, the filter is a pushdown-friendly predicate, and nothing
materializes on the driver (the reference buffers every row of the label,
``:284-292`` — its scalability cliff, BASELINE.md).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame

from ..functions.sentinels import sentinel_filter
from .identifier import determine_identifier


def ordered_columns(columns: list[str], identifier: str) -> list[str]:
    """Identifier first, remaining columns lexicographic (O1,
    ``neo4j_export.py:316-317``)."""
    return [identifier] + sorted(c for c in columns if c != identifier)


def export_node_table(
    df: DataFrame,
    label: str,
    unique_constraints: dict[str, list[str]] | None = None,
    identifier: str | None = None,
) -> tuple[DataFrame, str]:
    """The C3 pipeline for one label; returns (lazy result, identifier).

    Rows whose identifier is NULL/""/"NULL" are dropped (P3,
    ``neo4j_export.py:303-313``).
    """
    ident = identifier or determine_identifier(df, label, sorted(df.columns), unique_constraints)
    cols = ordered_columns(list(df.columns), ident)
    out = sentinel_filter(df, ident).select(*cols)
    return out, ident


@dataclass
class NodeExportResult:
    label: str
    identifier: str
    columns: list[str]
    df: DataFrame


def export_node(
    label: str,
    df: DataFrame,
    unique_constraints: dict[str, list[str]] | None = None,
    identifier: str | None = None,
) -> NodeExportResult:
    """One label's entry of ``export_nodes``."""
    out, ident = export_node_table(df, label, unique_constraints, identifier)
    return NodeExportResult(label, ident, list(out.columns), out)


def export_nodes(
    node_dfs: dict[str, DataFrame],
    unique_constraints: dict[str, list[str]] | None = None,
    identifiers: dict[str, str] | None = None,
) -> dict[str, NodeExportResult]:
    """All labels; the returned dict is the reference's ``node_files`` IR
    plus the lazy DataFrames (writes happen in plans.exporter)."""
    return {
        label: export_node(label, df, unique_constraints, (identifiers or {}).get(label))
        for label, df in node_dfs.items()
    }
