"""Benchmark of the engine's graph export and analytics paths.

    python3 perfbench/run.py --workload export_reference --seed 1 --seconds 10 --trace 0

Runs one workload in one process with one closed-loop client (each
operation starts when the previous one has finished) on local[4], over the
star-schema tables that ``bench.py`` reads (``SF_DIR``, the 0.1 scale
factor). The seed only sets the order of the operations in each pass;
the engine always sees the same inputs.

A run launches the engine ``SETUP_LAUNCHES`` times (a fresh JVM each
time) to time set-up, runs one cold pass in the last session, then warm
passes for ``--seconds`` seconds (at least ``MIN_WARM_PASSES``). Every
operation's output is checked; an operation that raises, runs past
``OP_TIMEOUT_S`` or returns a wrong output counts as failed and the run
goes on.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` launches
once, runs a cold pass and then warm passes untraced, traced, traced and
untraced, and prints the per-layer metrics (the mean of the two traced
passes), the tracing overhead, and whether the exact counts repeated.
The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback
import zipfile
from collections import Counter
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PKG = "neo4j_database_to_data_importer_package_spark"

CPUS = "4"
JVM_HEAP = "2g"
SETUP_LAUNCHES = 2
# Warm passes still speed up as the JVM compiles; a fixed least count keeps
# the median at the same point of that curve on every run.
MIN_WARM_PASSES = 2
OP_TIMEOUT_S = 60
# A run must end well inside three minutes: no warm pass starts after this.
RUN_BUDGET_S = 150

# Result counts of the registry queries at the 0.1 scale factor, pinned
# from the tree the benchmark was written against.
EXPECTED_ROWS = {
    "graph_bfs_hops": 15030,
    "q21_sole_late_supplier": 1000,
    "streaming_session_events": 95465,
}

WORKLOADS = {
    # The reference's whole purpose: CSVs + importer model + zip.
    "export_reference": ["export"],
    # Registry queries: a superstep loop, a shuffle-heavy join, a stream.
    "query_mix": sorted(EXPECTED_ROWS),
}

END_TO_END_UNITS = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "pass_s": "s",
    "peak_rss_mb": "MB",
}


class WrongOutput(Exception):
    pass


def check(ok: bool, message: str) -> None:
    if not ok:
        raise WrongOutput(message)


def log(*parts) -> None:
    print(*parts, file=sys.stderr, flush=True)


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Engine:
    """The engine's session and the JVM it runs in."""

    def __init__(self, work: Path) -> None:
        self.conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(work),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            # A pre-touched heap of fixed size keeps the JVM's resident set
            # from depending on when G1 chose to grow the heap.
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={work} -Xms{JVM_HEAP} -XX:+AlwaysPreTouch",
        }
        self.spark = None
        self.proc = None

    def launch(self) -> float:
        """Start a fresh JVM and session; seconds until a trivial action
        has completed."""
        from pyspark import SparkContext

        from neo4j_database_to_data_importer_package_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(extra_conf=self.conf)
        self.spark.range(1).count()
        seconds = time.perf_counter() - t0
        self.proc = SparkContext._gateway.proc
        self.spark.sparkContext.setLogLevel("ERROR")
        return seconds

    def next_job_id(self) -> int:
        return self.spark.sparkContext._jsc.sc().dagScheduler().nextJobId()

    def shutdown(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        self.proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            self.proc.wait(30)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.spark = None


class Runner:
    def __init__(self, workload: str, seed: int, work: Path, sf_dir: str) -> None:
        from neo4j_database_to_data_importer_package_spark.plans import exporter
        from neo4j_database_to_data_importer_package_spark.registry import QUERIES
        from neo4j_database_to_data_importer_package_spark.sources.star_schema import (
            TPCH_GRAPH_SPEC,
            load_graph_view,
        )

        import tracing as tr

        self.tr = tr
        self.workload = workload
        self.ops = WORKLOADS[workload]
        self.rng = random.Random(seed)
        self.work = work
        self.sf_dir = sf_dir
        self.engine = Engine(work)
        self.tracer = tr.Tracer()
        self.stream_listener = None
        self.queries = QUERIES
        self.load_graph_view = load_graph_view
        self.exporter = exporter
        self.spec = TPCH_GRAPH_SPEC
        self.attempted = 0
        self.failed = 0
        self._install_wrappers()

    # -- operations ---------------------------------------------------------

    def _install_wrappers(self) -> None:
        """Spans around the exporter's stages and the sinks it calls; they
        record only while ``tracer.enabled``."""
        t, mod = self.tracer, self.exporter
        cls = mod.GraphExporter
        cls.export_nodes = t.wrap(cls.export_nodes, "exporter.nodes_stage_s")
        cls.export_relationships = t.wrap(cls.export_relationships, "exporter.rels_stage_s")
        cls.generate_model = t.wrap(cls.generate_model, "exporter.model_s")

        def csv_written(path, _args):
            rows, size = self.tr.file_rows_and_bytes(path)
            t.add("csv_sink.calls", 1)
            t.add("csv_sink.rows", rows)
            t.add("csv_sink.bytes", size)

        def zipped(zip_path, args):
            out_dir = args[0]
            t.add("zip_sink.bytes_in", sum(
                os.path.getsize(os.path.join(out_dir, e)) for e in os.listdir(out_dir)
                if e.endswith(".csv") or e == mod.MODEL_FILENAME))
            t.add("zip_sink.bytes_out", os.path.getsize(zip_path))

        mod.write_csv_single_file = t.wrap(mod.write_csv_single_file, "csv_sink.write_s", csv_written)
        mod.create_zip = t.wrap(mod.create_zip, "zip_sink.s", zipped)

    def _export_source_rows(self) -> dict[str, int]:
        import pyarrow.parquet as pq

        def rows(table):
            return pq.read_metadata(os.path.join(self.sf_dir, f"{table}.parquet")).num_rows

        expected = {f"{n.label}.csv": rows(n.table) for n in self.spec.nodes}
        expected.update({f"{e.pattern_key}.csv": rows(e.table) for e in self.spec.edges})
        return expected

    def _run_export(self):
        parent = tempfile.mkdtemp(prefix="export-", dir=self.work)
        with self.tracer.span("sources.load_s"):
            view = self.load_graph_view(self.engine.spark, self.sf_dir)
        result = self.exporter.GraphExporter(view, os.path.join(parent, "out")).run(create_zip_file=True)
        return parent, result

    def _check_export(self, value) -> None:
        parent, result = value
        try:
            expected = self._export_source_rows()
            model_file = self.exporter.MODEL_FILENAME
            check(set(result.files) == set(expected) | {model_file}, f"files {result.files}")
            for name, want in expected.items():
                got, _ = self.tr.file_rows_and_bytes(os.path.join(result.output_dir, name))
                check(got == want, f"{name}: {got} data rows, source has {want}")
            with open(result.model_path, encoding="utf-8") as f:
                mapping = json.load(f)["dataModel"]["graphMappingRepresentation"]
            check(len(mapping["nodeMappings"]) == len(self.spec.nodes), "node mappings")
            check(len(mapping["relationshipMappings"]) == len(self.spec.edges), "relationship mappings")
            with zipfile.ZipFile(result.zip_path) as zf:
                check(sorted(zf.namelist()) == sorted(result.files), f"zip lists {zf.namelist()}")
        finally:
            shutil.rmtree(parent, ignore_errors=True)

    def _run_query(self, name: str) -> int:
        with self.tracer.span("registry.construct_s"):
            df = self.queries[name](self.engine.spark, self.sf_dir)
        with self.tracer.span("registry.action_s"):
            n = df.count()
        self.engine.spark.catalog.clearCache()
        return n

    def run_op(self, name: str, tag: str) -> tuple[float, Counter]:
        """Run, time and check one operation; return its wall time and,
        when tracing, its Spark and streaming costs."""
        spark = self.engine.spark
        sc = spark.sparkContext
        traced = self.tracer.enabled
        first_job = self.engine.next_job_id()
        if traced:
            self.stream_listener.counters.clear()
        # One client, so a stuck operation is cancelled with every job.
        timer = threading.Timer(OP_TIMEOUT_S, sc.cancelAllJobs)
        timer.daemon = True
        self.attempted += 1
        value, wall = None, 0.0
        try:
            timer.start()
            t0 = time.perf_counter()
            with self.tracer.op(f"{tag}/{name}"):
                value = self._run_export() if name == "export" else self._run_query(name)
            wall = time.perf_counter() - t0
            log(f"{tag}/{name}: {wall:.3f}s")
        except Exception:
            log(f"{tag}/{name} raised:\n{traceback.format_exc()}")
            self.failed += 1
        finally:
            timer.cancel()
        if value is not None:
            try:
                check(wall <= OP_TIMEOUT_S, f"took {wall:.1f}s, limit {OP_TIMEOUT_S}s")
                if name == "export":
                    self._check_export(value)
                else:
                    check(value == EXPECTED_ROWS[name], f"{value} rows, expected {EXPECTED_ROWS[name]}")
            except WrongOutput as e:
                log(f"{tag}/{name} wrong output: {e}")
                self.failed += 1
        costs = Counter()
        if traced:
            self.tr.wait_for_listeners(spark)
            costs = self.tr.spark_costs(spark, range(first_job, self.engine.next_job_id()))
            costs.update(self.stream_listener.counters)
            costs["wall_s"] = wall
            if name.startswith("graph_"):
                costs["graph.wall_s"] = wall
                costs["graph.executor_run_s"] = costs["spark.executor_run_s"]
            if name.startswith("streaming_"):
                costs["streaming.wall_s"] = wall
        return wall, costs

    def run_pass(self, tag: str, shuffle: bool = True) -> tuple[float, Counter]:
        order = list(self.ops)
        if shuffle:
            self.rng.shuffle(order)
        total, costs = 0.0, Counter()
        for name in order:
            wall, c = self.run_op(name, tag)
            total += wall
            costs.update(c)
        log(f"{self.workload} {tag}: {total:.3f}s")
        return total, costs

    # -- runs ---------------------------------------------------------------

    def end_to_end(self, seconds: float, t_start: float) -> dict:
        setups = []
        for i in range(SETUP_LAUNCHES):
            if i:
                self.engine.shutdown()
            setups.append(self.engine.launch())
        log(f"setup launches: {[round(s, 3) for s in setups]}")
        # The first operation of a session absorbs most of the JVM's
        # warm-up, so the cold pass keeps one fixed order for every seed.
        cold, _ = self.run_pass("cold", shuffle=False)
        warm: list[float] = []
        t_warm = time.perf_counter()
        while len(warm) < MIN_WARM_PASSES or time.perf_counter() - t_warm < seconds:
            if warm and time.perf_counter() - t_start + max(warm) > RUN_BUDGET_S:
                break
            warm.append(self.run_pass(f"warm{len(warm)}")[0])
        rss = vm_hwm_mb(os.getpid()) + vm_hwm_mb(self.engine.proc.pid)
        self.engine.shutdown()
        log(f"{len(warm)} warm passes: {[round(w, 3) for w in warm]}")
        return {
            "setup_s": statistics.median(setups),
            "cold_pass_s": cold,
            "pass_s": statistics.median(warm),
            "peak_rss_mb": rss,
        }

    def per_layer(self) -> tuple[dict, bool]:
        self.engine.launch()
        self.stream_listener = self.tr.StreamingProgress()
        self.engine.spark.streams.addListener(self.stream_listener)
        self.run_pass("cold", shuffle=False)
        # Untraced, traced, traced, untraced: the passes still speed up as
        # the JVM warms, and this order cancels that drift in the overhead.
        untraced = [self.run_pass("untraced0")[0]]
        self.tracer.enabled = self.stream_listener.enabled = True
        traced = []
        for i in range(2):
            before = Counter(self.tracer.counters)
            wall, costs = self.run_pass(f"traced{i}")
            span_costs = Counter(self.tracer.counters)
            span_costs.subtract(before)
            costs.update(span_costs)
            traced.append((wall, costs))
        self.tracer.enabled = self.stream_listener.enabled = False
        untraced.append(self.run_pass("untraced1")[0])
        self.engine.shutdown()
        spans_file = self.work.parent / f"spans-{self.workload}.json"
        spans_file.write_text(json.dumps(self.tracer.spans))

        counts = [{k: c[k] for k in (*self.tr.SPARK_COUNTS, "streaming.batches")} for _, c in traced]
        repeat = counts[0] == counts[1]
        if not repeat:
            log(f"exact counts differ between traced passes: {counts}")
        m = Counter()
        for _, c in traced:
            m.update({k: v / len(traced) for k, v in c.items()})
        stage_s = m["exporter.nodes_stage_s"] + m["exporter.rels_stage_s"]
        out = {k: m[k] for k in PER_LAYER_UNITS}
        out.update({
            "graph_algos.busy_ratio":
                m["graph.executor_run_s"] / (m["graph.wall_s"] * int(CPUS)) if m["graph.wall_s"] else 0.0,
            "exporter.write_overlap": m["csv_sink.write_s"] / stage_s if stage_s else 0.0,
            "streaming.outside_trigger_s":
                max(m["streaming.wall_s"] - m["streaming.trigger_ms"] / 1e3, 0.0),
            "trace.overhead_s": statistics.mean(w for w, _ in traced) - statistics.mean(untraced),
            "trace.counts_repeat": 1.0 if repeat else 0.0,
            "bench.failed_ops_ratio": self.failed / self.attempted,
        })
        return out, repeat


PER_LAYER_UNITS = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.stages_skipped": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.spill_bytes": "bytes",
    "graph_algos.busy_ratio": "ratio",
    "registry.construct_s": "s",
    "registry.action_s": "s",
    "sources.load_s": "s",
    "exporter.nodes_stage_s": "s",
    "exporter.rels_stage_s": "s",
    "exporter.model_s": "s",
    "csv_sink.write_s": "s",
    "csv_sink.calls": "count",
    "csv_sink.rows": "count",
    "csv_sink.bytes": "bytes",
    "exporter.write_overlap": "ratio",
    "zip_sink.s": "s",
    "zip_sink.bytes_in": "bytes",
    "zip_sink.bytes_out": "bytes",
    "streaming.batches": "count",
    "streaming.trigger_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.outside_trigger_s": "s",
    "trace.overhead_s": "s",
    "trace.counts_repeat": "bool",
    "bench.failed_ops_ratio": "ratio",
}


def prepare(work: Path) -> str:
    """Point the engine, its JVM and its Python workers at this checkout;
    return the input directory."""
    os.environ["SPARK_GRAFT_CPUS"] = CPUS
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = JVM_HEAP
    # Spark's Python workers unpickle functions defined in the package.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = str(work)
    tempfile.tempdir = None
    sys.path[:0] = [str(HERE), str(ROOT)]
    from bench import SF_DIR

    return SF_DIR


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.perf_counter()

    if not (ROOT / PKG).is_dir() or not (ROOT / "bench.py").is_file():
        log(f"engine sources not found beside {HERE.name}/ (expected {PKG}/ and bench.py)")
        return 2
    work_root = ROOT / ".perfbench_work"
    work_root.mkdir(exist_ok=True)
    work = Path(tempfile.mkdtemp(prefix="run-", dir=work_root))
    try:
        sf_dir = prepare(work)
        if not os.path.isdir(sf_dir):
            log(f"input tables not found: {sf_dir}")
            return 2
        runner = Runner(args.workload, args.seed, work, sf_dir)
        correct = True
        if args.trace:
            metrics, correct = runner.per_layer()
            units = PER_LAYER_UNITS
        else:
            metrics = runner.end_to_end(args.seconds, t_start)
            units = END_TO_END_UNITS
    finally:
        shutil.rmtree(work, ignore_errors=True)
    result = {
        "correct": correct and runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
