"""Export orchestration (C8, ``export_all`` at ``neo4j_export.py:1278-1333``).

Fixed DAG with the reference's hard stage barrier (relationships need the
identifiers chosen by the node stage, ``:375-380``):

  catalog → identifier detection → node exports → pattern discovery →
  relationship exports → model JSON → zip

Spark-first differences (BASELINE.md engine targets):
- per-label and per-pattern write jobs are independent → submitted
  concurrently from driver threads; executors stay saturated instead of
  the reference's serial label loop (``:277``).
- nothing materializes on the driver except the manifest (column lists,
  identifiers, 1-row samples).
- ``single_file=True`` reproduces the reference's exact ``{Label}.csv``
  naming via coalesce(1)+rename; ``False`` is the 100 TB mode (sharded
  CSV + manifest per table).
"""

from __future__ import annotations

import json
import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from ..catalog import GraphCatalog
from ..operators.identifier import detect_identifiers
from ..operators.node_export import export_nodes
from ..operators.rel_export import export_relationships
from ..sinks.csv_sink import read_first_data_row, write_csv_single_file, write_csv_sharded
from ..sinks.zip_sink import create_zip
from ..sources.star_schema import GraphView
from .manifest import ExportManifest, NodeEntry, RelEntry
from .models import GENERATORS

MODEL_FILENAME = "neo4j_importer_model.json"


@dataclass
class ExportResult:
    output_dir: str
    manifest: ExportManifest
    model: dict
    model_path: str
    zip_path: str | None = None
    files: list[str] = field(default_factory=list)


class GraphExporter:
    """The engine's equivalent of the reference's ``Neo4jExporter``
    driver object — orchestrates Spark jobs, owns no data."""

    def __init__(
        self,
        view: GraphView,
        output_dir: str,
        format_version: str = "3.0",
        single_file: bool = True,
        compat_render: bool = False,
        quirks: bool = True,
        use_declared_identifiers: bool = True,
        max_parallel_writes: int = 8,
        uuid_factory=None,
        clock=None,
    ) -> None:
        self.view = view
        self.output_dir = output_dir
        self.format_version = format_version
        self.single_file = single_file
        self.compat_render = compat_render
        self.quirks = quirks
        self.use_declared_identifiers = use_declared_identifiers
        self.max_parallel_writes = max_parallel_writes
        self.uuid_factory = uuid_factory
        self.clock = clock
        os.makedirs(output_dir, exist_ok=True)

    # -- stages -----------------------------------------------------------

    def detect_identifiers(self) -> dict[str, str]:
        declared = self.view.declared_identifiers() if self.use_declared_identifiers else {}
        missing = {l: df for l, df in self.view.nodes.items() if l not in declared}
        detected = detect_identifiers(missing, self.view.catalog.unique_constraints)
        return {**declared, **detected}

    def export_nodes(self, identifiers: dict[str, str]) -> dict[str, NodeEntry]:
        results = export_nodes(
            self.view.nodes, self.view.catalog.unique_constraints, identifiers
        )

        def write(label):
            r = results[label]
            if self.single_file:
                path = os.path.join(self.output_dir, f"{label}.csv")
                write_csv_single_file(r.df, path, compat_render=self.compat_render)
                sample_row = read_first_data_row(path)
            else:
                write_csv_sharded(r.df, self.output_dir, label)
                head = r.df.take(1)
                sample_row = [str(v) for v in head[0]] if head else None
            sample = dict(zip(r.columns, sample_row)) if sample_row else {}
            return label, NodeEntry(label, r.columns, r.identifier, sample)

        ordered = sorted(results)  # pinned enumeration order (SURVEY §7.3 #3)
        with ThreadPoolExecutor(max_workers=self.max_parallel_writes) as ex:
            entries = dict(ex.map(write, ordered))
        return {label: entries[label] for label in ordered}

    def export_relationships(self, identifiers: dict[str, str]) -> dict[str, RelEntry]:
        results = export_relationships(self.view, identifiers)

        def write(key):
            r = results[key]
            if self.single_file:
                path = os.path.join(self.output_dir, f"{key}.csv")
                write_csv_single_file(r.df, path, compat_render=self.compat_render)
                sample_row = read_first_data_row(path)
            else:
                write_csv_sharded(r.df, self.output_dir, key)
                head = r.df.take(1)
                sample_row = [str(v) for v in head[0]] if head else None
            sample = dict(zip(r.columns, sample_row)) if sample_row else {}
            spec = r.spec
            return key, RelEntry(
                pattern_key=key,
                rel_type=spec.rel_type,
                source_label=spec.src_label,
                target_label=spec.tgt_label,
                all_properties=r.columns,
                rel_properties=r.rel_properties,
                source_id_prop=identifiers[spec.src_label],
                target_id_prop=identifiers[spec.tgt_label],
                source_col_name=r.src_col,
                target_col_name=r.tgt_col,
                sample=sample,
            )

        ordered = sorted(results)
        with ThreadPoolExecutor(max_workers=self.max_parallel_writes) as ex:
            entries = dict(ex.map(write, ordered))
        return {key: entries[key] for key in ordered}

    def generate_model(self, manifest: ExportManifest) -> dict:
        gen = GENERATORS[self.format_version]
        kwargs = {"unique_constraints": self.view.catalog.unique_constraints, "quirks": self.quirks}
        if self.format_version == "2.4.0":
            kwargs["constraints"] = self.view.catalog.constraints
            kwargs["indexes"] = self.view.catalog.indexes
        if self.format_version == "0.1.0" and self.uuid_factory:
            kwargs["uuid_factory"] = self.uuid_factory
        return gen(manifest, **kwargs)

    # -- the DAG ----------------------------------------------------------

    def run(self, create_zip_file: bool = False, zip_path: str | None = None) -> ExportResult:
        identifiers = self.detect_identifiers()  # barrier input for rels
        node_entries = self.export_nodes(identifiers)
        rel_entries = self.export_relationships(identifiers)
        manifest = ExportManifest(nodes=node_entries, rels=rel_entries)

        model = self.generate_model(manifest)
        model_path = os.path.join(self.output_dir, MODEL_FILENAME)
        with open(model_path, "w", encoding="utf-8") as f:
            json.dump(model, f, indent=2)

        files = sorted(
            e for e in os.listdir(self.output_dir)
            if e.endswith(".csv") or e == MODEL_FILENAME
        )
        zp = None
        if create_zip_file:
            zp = create_zip(self.output_dir, files, zip_path=zip_path, clock=self.clock)
        return ExportResult(self.output_dir, manifest, model, model_path, zp, files)
