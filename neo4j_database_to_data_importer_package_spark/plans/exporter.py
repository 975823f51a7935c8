"""Export orchestration (C8, ``export_all`` at ``neo4j_export.py:1278-1333``).

The reference runs a fixed serial DAG (catalog → identifiers → nodes →
patterns → relationships → model → zip). Relationships need only the
identifiers chosen for their endpoint labels (``:375-380``), never the
node CSVs, so here identifier detection is the one barrier:

  catalog → identifier detection ─┬→ node tables ─────────┬→ model JSON → zip assembly
                                  └→ relationship tables ─┘
                  (one writer pool; each single-file CSV
                   starts deflating as soon as it lands)

Spark-first differences (BASELINE.md engine targets):
- every node and relationship table is planned and written on its own
  thread of one writer pool (``MAX_PARALLEL_WRITES``), so driver-side
  planning overlaps too and executors stay saturated instead of the
  reference's serial label loop (``:277``). ``export_nodes`` and
  ``export_relationships`` each submit their tables from a stage thread
  of their own, so their spans overlap.
- with ``create_zip_file`` the zip sink's ``EntryDeflater`` deflates each
  single-file CSV once it is renamed into place; ``create_zip`` then adds
  the model JSON and any other listed file, waits, and only assembles.
- nothing materializes on the driver except the manifest (column lists,
  identifiers, 1-row samples read back from the written CSVs).
- ``single_file=True`` reproduces the reference's exact ``{Label}.csv``
  naming via coalesce(1)+rename; ``False`` is the 100 TB mode (sharded
  CSV + manifest per table).
- a failed table write cancels its stage's writes not yet started and is
  raised once the other writes end; no zip, ``.tmp`` or spool is left.
"""

from __future__ import annotations

import contextlib
import json
import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from functools import partial

from ..operators.identifier import detect_identifiers
from ..operators.node_export import export_node
from ..operators.rel_export import export_relationship
from ..sinks.csv_sink import read_first_data_row, write_csv_single_file, write_csv_sharded
from ..sinks.zip_sink import EntryDeflater, create_zip
from ..sources.star_schema import GraphView
from .manifest import ExportManifest, NodeEntry, RelEntry
from .models import GENERATORS

MODEL_FILENAME = "neo4j_importer_model.json"

# Concurrent per-label / per-pattern plan-and-write tasks on driver threads.
MAX_PARALLEL_WRITES = 8


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
        self.uuid_factory = uuid_factory
        self.clock = clock
        os.makedirs(output_dir, exist_ok=True)

    # -- stages -----------------------------------------------------------

    def detect_identifiers(self) -> dict[str, str]:
        declared = self.view.declared_identifiers() if self.use_declared_identifiers else {}
        missing = {l: df for l, df in self.view.nodes.items() if l not in declared}
        detected = detect_identifiers(missing, self.view.catalog.unique_constraints)
        return {**declared, **detected}

    def _write_all(self, plans: dict, entry, writers, deflater) -> dict:
        """Plan and write every table of ``plans`` (``{name: planner}``,
        a planner returning a node/relationship export result or None to
        skip) on the ``writers`` pool and return ``{name: entry(name,
        result, sample)}`` in sorted name order (pinned enumeration
        order, SURVEY §7.3 #3).

        The sample is the first data row read back from the written CSV
        (the reference re-opens each file, ``neo4j_export.py:520-528``).
        In sharded mode that is the first row of the first non-empty
        shard in part order, the row the coalesced single file starts
        with, so both modes render the same samples."""

        def write(name):
            r = plans[name]()
            if r is None:
                return None
            if self.single_file:
                path = os.path.join(self.output_dir, f"{name}.csv")
                write_csv_single_file(r.df, path, compat_render=self.compat_render)
                if deflater is not None:
                    deflater.add(path, f"{name}.csv")
                paths = [path]
            else:
                shards = write_csv_sharded(r.df, self.output_dir, name)["shards"]
                paths = [os.path.join(self.output_dir, p) for p in shards]
            row = next(filter(None, map(read_first_data_row, paths)), None)
            sample = dict(zip(r.columns, row)) if row else {}
            return entry(name, r, sample)

        with contextlib.ExitStack() as stack:
            if writers is None:
                writers = stack.enter_context(ThreadPoolExecutor(max_workers=MAX_PARALLEL_WRITES))
            futures = {name: writers.submit(write, name) for name in sorted(plans)}
            try:
                entries = {name: f.result() for name, f in futures.items()}
            except BaseException:
                for f in futures.values():  # this stage's writes not yet started
                    f.cancel()
                raise
        return {name: e for name, e in entries.items() if e is not None}

    def export_nodes(
        self, identifiers: dict[str, str], writers=None, deflater=None
    ) -> dict[str, NodeEntry]:
        constraints = self.view.catalog.unique_constraints
        plans = {
            label: partial(export_node, label, df, constraints, identifiers.get(label))
            for label, df in self.view.nodes.items()
        }
        return self._write_all(
            plans,
            lambda label, r, sample: NodeEntry(label, r.columns, r.identifier, sample),
            writers,
            deflater,
        )

    def export_relationships(
        self, identifiers: dict[str, str], writers=None, deflater=None
    ) -> dict[str, RelEntry]:
        plans = {
            spec.pattern_key: partial(export_relationship, self.view, spec, identifiers)
            for spec in self.view.spec.edges
        }

        def entry(key, r, sample):
            spec = r.spec
            return RelEntry(
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

        return self._write_all(plans, entry, writers, deflater)

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
        identifiers = self.detect_identifiers()  # the one barrier
        with contextlib.ExitStack() as stack:
            deflater = stack.enter_context(EntryDeflater(self.output_dir)) if create_zip_file else None
            writers = stack.enter_context(ThreadPoolExecutor(max_workers=MAX_PARALLEL_WRITES))
            # The stage threads wait on the writer pool, never inside it.
            with ThreadPoolExecutor(max_workers=2) as stages:
                nodes = stages.submit(self.export_nodes, identifiers, writers, deflater)
                rels = stages.submit(self.export_relationships, identifiers, writers, deflater)
                manifest = ExportManifest(nodes.result(), rels.result())

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
                zp = create_zip(self.output_dir, files, zip_path=zip_path, clock=self.clock,
                                deflater=deflater)
        return ExportResult(self.output_dir, manifest, model, model_path, zp, files)

