"""Benchmark of the engine's end-to-end workloads, split by layer.

Run from the repository root:

    python3 perfbench/run.py --workload etl_3y --seed 1 --seconds 1 --trace 0

Workloads (one closed-loop client, Spark at ``local[<nproc>]``):

- ``etl_3y``: 3 years of seeded dirty raw CSVs → ``etl.pipeline.run_pipeline``
  → the 5 dimensions and the fact written as parquet.  The first pass in the
  fresh session is the cold batch; an untimed batch over one year's files
  follows, then warm passes repeat until ``--seconds``.
- ``query_mix``: the notebook's EDA shapes over a seeded star, interleaved
  with a fixed subset of the headline registry queries over a seeded
  TPC-H-ish catalog.  One cold pass over the mix, one untimed pass, then
  warm passes.

Every timed pass is checked (``etl.check_outputs``; the DuckDB twins in
``queries``).  The last stdout line is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` — the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.  A traced run
adds two warm passes, one traced and one not, and writes its spans and
notes to ``.perfbench_out/trace-<workload>-<seed>*.json``.

End-to-end times are program CPU seconds: those of this process, the
driver JVM and its Python workers, less the JVM's JIT-compiler and GC
threads (``Run.clock``).  On a shared host, wall time of the same run
swings by a third; the JIT and GC threads' share of a pass swings by half.
Wall-clock figures and the JIT and GC CPU are per-layer metrics.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Input sizes.  The cold pass costs tens of seconds of JVM and codegen
# warm-up whatever the size, and every run must fit the benchmark's time
# budget, so inputs are small.
ETL_YEARS = (2019, 2020, 2021)
ETL_PER_YEAR = 1000
STAR_PER_YEAR = 1000
CATALOG_SF = 0.01
GEN_REPEATS = 3


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (``q`` in 0..100)."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


@dataclass
class Pass:
    """One timed pass: wall seconds, program CPU seconds, CPU seconds of the
    JVM's service threads by group, per-op wall times and the counter
    probes of its Spark calls (filled only in traced runs)."""

    wall_s: float = 0.0
    cpu_s: float = 0.0
    service_s: dict = field(default_factory=dict)
    op_walls: list[float] = field(default_factory=list)
    probes: dict = field(default_factory=dict)

    def finish(self, start: tuple, end: tuple) -> None:
        """Set the pass's times from two :meth:`Run.clock` readings."""
        self.wall_s, self.cpu_s = end[0] - start[0], end[1] - start[1]
        self.service_s = {k: v - start[2].get(k, 0.0) for k, v in end[2].items()}


class Run:
    """One benchmark process: paths, the session, counters, op tallies."""

    def __init__(self, args):
        self.args = args
        self.out = os.path.join(ROOT, ".perfbench_out")
        self.work = os.path.join(self.out, f"{args.workload}-{args.seed}-{os.getpid()}")
        self.tmp = os.path.join(self.work, "tmp")
        os.makedirs(self.tmp, exist_ok=True)
        self.spark = None
        self.counters = None
        self.attempted = 0
        self.failed = 0
        self.notes: dict = {}

    def start_session(self) -> None:
        from perfbench import counters

        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["TMPDIR"] = self.tmp
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        from processo_etl_spark import session

        self.spark = session.get_spark(
            app_name="perfbench", cpus=os.cpu_count() or 4,
            extra_conf={"spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData "
                        "-XX:-UseDynamicNumberOfCompilerThreads",
                        "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                        "spark.ui.showConsoleProgress": "false"})
        self.counters = counters.SparkCounters(self.spark)

    def stop(self) -> None:
        """Stop Spark and wait for the driver JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 - never leave the JVM behind
                proc.kill()
                proc.wait()

    def clock(self) -> tuple[float, float, dict]:
        """(wall, program CPU, service CPU) so far.  Program CPU is that of
        this process, the driver JVM and its Python workers, less the JVM's
        JIT and GC threads: those work in the background, and how much of
        it lands in one pass swings by half from run to run, so end-to-end
        times leave it out and traced runs report it per layer."""
        from perfbench import counters

        wall = time.perf_counter()
        if self.spark is None:
            t = os.times()
            return wall, t.user + t.system, {}
        service = counters.service_cpu_seconds(self.spark)
        return wall, counters.cpu_seconds(self.spark) - sum(service.values()), service

    def quiesce(self) -> None:
        """Collect garbage in the JVM and here before a timed pass, so a pass
        does not pay for the previous one's heap."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()

    def count(self, attempted: int, failed: int) -> None:
        self.attempted += attempted
        self.failed += failed

    def result(self, values: dict) -> dict:
        """The final JSON object, metrics named and ordered by BENCHMARK.json."""
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        kind = "per_layer" if self.args.trace else "end_to_end"
        metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                   for m in spec[kind]}
        return {"correct": self.failed == 0 and self.attempted > 0,
                "attempted": self.attempted, "failed": self.failed, "metrics": metrics}


# --- workloads ------------------------------------------------------------------
# Each workload: ``generate(r, k)`` writes the seeded inputs (repeat k),
# ``load(r)`` loads the program's code for it, ``timed_pass(r, tracer)``
# runs and checks one pass, ``settle(r)`` runs untimed work between the
# cold and the warm passes, ``hooks(tracer)`` wraps the layers it traces,
# ``items`` is the work per pass, and ``layer(r, traced)`` adds its own
# per-layer metrics.


class EtlWorkload:
    """The paper's monthly batch: raw CSVs → star parquet."""

    def __init__(self):
        self.manifest = None
        self.reference = None

    def generate(self, r: Run, k: int) -> None:
        from perfbench import datagen

        self.manifest = datagen.write_datatran(
            os.path.join(r.work, f"in{k}"), r.args.seed, ETL_PER_YEAR, ETL_YEARS)

    def load(self, r: Run) -> None:
        import processo_etl_spark.etl.pipeline  # noqa: F401
        import processo_etl_spark.sources.readers  # noqa: F401

    @property
    def items(self) -> int:
        return self.manifest["raw_rows"]

    def timed_pass(self, r: Run, tracer) -> Pass:
        from perfbench import etl

        out_dir = os.path.join(r.work, "star")
        p = Pass()
        r.quiesce()
        start = r.clock()
        with tracer.span("pass"):  # a failing batch fails the run
            p.probes = etl.run_pass(r.spark, self.manifest["files"], out_dir,
                                    r.counters, tracer)
        p.finish(start, r.clock())
        p.op_walls = [probe.wall_s for probe in p.probes.values()]
        digests, bad = etl.check_outputs(out_dir, self.manifest["expected"], self.reference)
        if bad:
            print(f"etl output check failed for {sorted(bad)}", file=sys.stderr)
        elif self.reference is None:
            self.reference = digests
        r.count(len(p.probes), len(bad))
        return p

    def settle(self, r: Run) -> None:
        """An untimed batch over the first year's files only: it runs the
        same code as a full batch, so the JIT has compiled it before the
        timed warm passes, at a third of a batch's cost."""
        from perfbench import etl, tracing

        first = min(self.manifest["files"])
        etl.run_pass(r.spark, {first: self.manifest["files"][first]},
                     os.path.join(r.work, "settle"), r.counters, tracing.Tracer(enabled=False))

    @staticmethod
    def hooks(tracer) -> None:
        from processo_etl_spark.etl import holidays_br, pipeline
        from processo_etl_spark.functions import cleaning
        from processo_etl_spark.operators import relational, star
        from processo_etl_spark.sources import readers

        for fn in ("run_pipeline", "merge_year", "clean", "transform", "union_years",
                   "build_star"):
            tracer.wrap(pipeline, fn, f"etl.{fn}")
        tracer.wrap(holidays_br, "holiday_dim", "etl.holiday_dim")
        tracer.wrap(readers, "read_raw_csv", "sources.read_raw_csv")
        tracer.wrap(readers, "write_parquet", "sources.write_parquet")
        for fn in ("impute_median", "fill_sentinels", "apply_domains", "constraint_filter_le"):
            tracer.wrap(cleaning, fn, f"cleaning.{fn}")
        for fn in ("build_dimension", "attach_fks", "fact_grain_dedup"):
            tracer.wrap(star, fn, f"star.{fn}")
        for fn in ("right_outer_join", "dedup_keep_first", "union_all"):
            tracer.wrap(relational, fn, f"relational.{fn}")

    def layer(self, r: Run, traced: Pass) -> dict:
        from perfbench import etl

        build = r.counters.total([traced.probes["etl.build"]])
        dims = r.counters.total([traced.probes[f"sink.{t}"] for t in etl.TABLES[:-1]])
        fact = r.counters.total([traced.probes[f"sink.{etl.FACT}"]])
        total = r.counters.total(traced.probes.values())
        calls = r.notes["span_calls"]
        return {
            "etl.build_jobs": build.jobs,
            "etl.build_stages": build.stages,
            "sink.dims.jobs": dims.jobs,
            "sink.dims.stages": dims.stages,
            "sink.dims.shuffle_write_bytes": dims.shuffle_write_bytes,
            "sink.fact.jobs": fact.jobs,
            "sink.fact.stages": fact.stages,
            "sink.fact.shuffle_write_bytes": fact.shuffle_write_bytes,
            "cleaning.impute_median.calls": calls.get("cleaning.impute_median", 0),
            "sources.csv_bytes": self.manifest["csv_bytes"],
            "sources.read_amplification": total.input_bytes / self.manifest["csv_bytes"],
            "eda.jobs": 0,
            "eda.scan_bytes_per_query": 0,
            "registry.jobs": 0,
        }


class QueryWorkload:
    """The read side: EDA shapes over a star + registry queries."""

    def __init__(self):
        self.mix = []
        self.dirs = ("", "")
        self.want: dict[str, list] = {}

    def generate(self, r: Run, k: int) -> None:
        from perfbench import datagen

        suffix = "" if k == GEN_REPEATS - 1 else f"-{k}"
        datagen.write_star(os.path.join(r.work, "star" + suffix), r.args.seed, STAR_PER_YEAR)
        datagen.write_catalog(os.path.join(r.work, "catalog" + suffix), r.args.seed, CATALOG_SF)

    def load(self, r: Run) -> None:
        from perfbench import queries

        self.dirs = (os.path.join(r.work, "star"), os.path.join(r.work, "catalog"))
        self.mix = queries.make_mix(r.spark, r.args.seed, *self.dirs)

    @property
    def items(self) -> int:
        return len(self.mix)

    def timed_pass(self, r: Run, tracer) -> Pass:
        """One pass over the mix; then every result is checked against its
        DuckDB twin, outside the timed part."""
        from perfbench import queries

        p = Pass()
        results = []
        r.quiesce()
        start = r.clock()
        with tracer.span("pass"):
            for op in self.mix:
                op_start = time.perf_counter()
                try:
                    with r.counters.measure(f"{op.name}.build") as b, \
                            tracer.span(f"{op.kind}.build"):
                        df = op.build()
                    with r.counters.measure(f"{op.name}.exec") as x, \
                            tracer.span(f"{op.kind}.exec"):
                        rows = df.collect()
                except Exception as e:  # noqa: BLE001 - a failed query is counted
                    print(f"{op.name} failed: {type(e).__name__}: {e}", file=sys.stderr)
                    r.count(1, 1)
                    continue
                p.op_walls.append(time.perf_counter() - op_start)
                p.probes[op.name] = (b, x)
                results.append((op, rows))
        p.finish(start, r.clock())
        missing = [op for op, _ in results if op.name not in self.want]
        if missing:
            con = queries.duckdb_connection(*self.dirs)
            try:
                for op in missing:
                    self.want[op.name] = con.execute(op.sql).fetchall()
            finally:
                con.close()
        for op, rows in results:
            ok = queries.rows_match(rows, self.want[op.name], op.abs_tol)
            if not ok:
                print(f"{op.name}: output differs from its DuckDB twin", file=sys.stderr)
            r.count(1, 0 if ok else 1)
        return p

    def settle(self, r: Run) -> None:
        """An untimed pass over the mix, so the JIT has compiled its code
        before the timed warm passes."""
        from perfbench import tracing

        self.timed_pass(r, tracing.Tracer(enabled=False))

    @staticmethod
    def hooks(tracer) -> None:
        from processo_etl_spark import catalog
        from processo_etl_spark.operators import graph, relational, star
        from processo_etl_spark.quality import audit

        tracer.wrap(catalog, "load", "sources.catalog_load")
        for fn in ("null_counts", "histogram_auto", "quartiles", "constraint_probe"):
            tracer.wrap(audit, fn, f"quality.{fn}")
        for fn in ("value_counts", "top_k", "dedup_keep_first"):
            tracer.wrap(relational, fn, f"relational.{fn}")
        for fn in ("build_dimension", "attach_fks"):
            tracer.wrap(star, fn, f"star.{fn}")
        tracer.wrap(graph, "pagerank_distributed", "graph.pagerank_distributed")

    def layer(self, r: Run, traced: Pass) -> dict:
        kinds = {op.name: op.kind for op in self.mix}

        def of(kind: str):
            return r.counters.total(p for n, bx in traced.probes.items()
                                    if kinds[n] == kind for p in bx)

        eda, reg = of("eda"), of("registry")
        r.notes["per_query"] = {
            n: {"build_s": b.wall_s, "exec_s": x.wall_s, "build_jobs": b.counts.jobs,
                "exec_jobs": x.counts.jobs,
                "input_bytes": b.counts.input_bytes + x.counts.input_bytes}
            for n, (b, x) in traced.probes.items()}
        return {
            "etl.build_jobs": 0, "etl.build_stages": 0, "sink.dims.jobs": 0,
            "sink.dims.stages": 0, "sink.dims.shuffle_write_bytes": 0, "sink.fact.jobs": 0,
            "sink.fact.stages": 0, "sink.fact.shuffle_write_bytes": 0,
            "cleaning.impute_median.calls": 0, "sources.csv_bytes": 0,
            "sources.read_amplification": 0,
            "eda.jobs": eda.jobs,
            "eda.scan_bytes_per_query": eda.input_bytes / sum(k == "eda" for k in kinds.values()),
            "registry.jobs": reg.jobs,
        }


def probes_of(p: Pass) -> list:
    """Flat list of a pass's counter probes."""
    out = []
    for v in p.probes.values():
        out.extend(v if isinstance(v, tuple) else (v,))
    return out


def run_workload(r: Run, wl) -> dict:
    from perfbench import counters, tracing

    t0, c0, _ = r.clock()
    r.start_session()
    t1, c1, _ = r.clock()
    session_s, session_cpu = t1 - t0, c1 - c0
    gens = []
    for k in range(GEN_REPEATS):  # identical inputs each time; median
        g0, gc0, _ = r.clock()
        wl.generate(r, k)
        g1, gc1, _ = r.clock()
        gens.append((g1 - g0, gc1 - gc0))
    t1, c1, _ = r.clock()
    wl.load(r)
    t2, c2, _ = r.clock()
    load_s, load_cpu = t2 - t1, c2 - c1
    gen_s = statistics.median(g[0] for g in gens)
    setup_cpu = session_cpu + load_cpu + statistics.median(g[1] for g in gens)
    setup_wall = session_s + load_s + gen_s

    off = tracing.Tracer(enabled=False)
    cold = wl.timed_pass(r, off)
    wl.settle(r)
    warm = []
    t_warm = time.perf_counter()
    while not warm or time.perf_counter() - t_warm < r.args.seconds:
        warm.append(wl.timed_pass(r, off))
    warm_cpu = statistics.median(p.cpu_s for p in warm)
    if not r.args.trace:
        return r.result({
            "setup_s": setup_cpu,
            "cold_cpu_s": cold.cpu_s,
            "warm_cpu_s": warm_cpu,
            "items_per_cpu_s": wl.items / warm_cpu,
        })

    tracer = tracing.Tracer()
    tracer.run = "traced"
    wl.hooks(tracer)
    traced = wl.timed_pass(r, tracer)
    tracer.unwrap_all()
    untraced = wl.timed_pass(r, off)
    layer = tracing.self_time_by_name(tracer.spans, "traced")
    r.notes["layer_self_s"] = layer
    r.notes["span_calls"] = tracing.call_counts(tracer.spans, "traced")
    total = r.counters.total(probes_of(traced))
    cold_total = r.counters.total(probes_of(cold))
    untraced_s = statistics.mean([warm[-1].wall_s, untraced.wall_s])
    warm_wall = statistics.median(p.wall_s for p in warm)
    op_ms = [w * 1000 for p in warm for w in p.op_walls]

    def prefixed(prefix: str) -> float:
        return sum(v for k, v in layer.items() if k.startswith(prefix))

    values = {
        "wall.setup_s": setup_wall,
        "wall.cold_s": cold.wall_s,
        "wall.warm_s": warm_wall,
        "wall.op_p50_ms": percentile(op_ms, 50),
        "wall.op_p90_ms": percentile(op_ms, 90),
        "wall.items_per_s": wl.items / warm_wall,
        "peak_rss_mb": counters.peak_rss_mb(r.spark),
        "session.start_s": session_s,
        "session.start_cpu_s": session_cpu,
        "jvm.cold_jit_cpu_s": cold.service_s["jit"],
        "jvm.cold_gc_cpu_s": cold.service_s["gc"],
        "jvm.warm_jit_cpu_s": statistics.median(p.service_s["jit"] for p in warm),
        "jvm.warm_gc_cpu_s": statistics.median(p.service_s["gc"] for p in warm),
        "gen.s": gen_s,
        "trace.untraced_pass_s": untraced_s,
        "trace.traced_pass_s": traced.wall_s,
        "trace.overhead_s": traced.wall_s - untraced_s,
        "trace.self_time_sum_s": sum(layer.values()),
        "spark.jobs": total.jobs,
        "spark.stages": total.stages,
        "spark.tasks": total.tasks,
        "spark.input_bytes": total.input_bytes,
        "spark.shuffle_read_bytes": total.shuffle_read_bytes,
        "spark.shuffle_write_bytes": total.shuffle_write_bytes,
        "spark.spill_bytes": total.spill_bytes,
        "spark.executor_run_s": total.executor_run_s,
        "spark.gc_s": total.gc_s,
        "spark.driver_only_s": total.driver_only_s,
        "cold.jobs": cold_total.jobs,
        "cold.stages": cold_total.stages,
        "layer.sources.self_s": prefixed("sources."),
        "layer.relational.self_s": prefixed("relational."),
        "layer.star.self_s": prefixed("star."),
        "layer.harness.self_s": layer.get("pass", 0.0),
    }
    values.update(wl.layer(r, traced))
    r.notes["counts"] = {"traced": total.as_dict(), "cold": cold_total.as_dict()}
    stem = os.path.join(r.out, f"trace-{r.args.workload}-{r.args.seed}")
    tracer.dump(stem + ".json")
    with open(stem + ".notes.json", "w") as fh:
        json.dump({"env": counters.env_fingerprint(r.spark),
                   "exact_counters": list(counters.EXACT_COUNTERS),
                   "metrics": values, **r.notes}, fh, indent=1, default=str)
    return r.result(values)


WORKLOADS = {"etl_3y": EtlWorkload, "query_mix": QueryWorkload}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Benchmark the engine's workloads.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "processo_etl_spark")):
        print("perfbench: processo_etl_spark/ not found next to perfbench/", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    r = Run(args)
    try:
        result = run_workload(r, WORKLOADS[args.workload]())
        from perfbench import counters

        print(json.dumps({"env": counters.env_fingerprint(r.spark)}), file=sys.stderr)
    finally:
        r.stop()
        shutil.rmtree(r.work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
