"""Profile registry queries with the Spark UI off: wall time split into
plan build and execution, plus the job, stage, task, byte and spill
counters of ``perfbench.counters`` (job groups + the status store).

Method (the bench's): an sf0.001 warm-up, ``spark.catalog.clearCache()``,
one cold pass at the target scale, then N steady passes.  Each query's
plan build and its noop-sink run are separate
``SparkCounters.measure`` blocks.  The counters are those of the first
steady pass and cover build plus run (``build_jobs`` is the share
launched while building); ``steady_s`` is the fastest steady pass.

Usage:
    python tools/profile_queries.py [q1,q2,...] [--sf DIR] [--repeats N]
                            [--plans TAG] [--cores [a,b]]

Queries default to ``bench.HEADLINE``; ``bench.BENCH_OVERRIDES`` applies.
Prints one JSON line.  ``--plans TAG`` writes the cold pass's formatted
plan to ``plans/profile/<query>_<TAG>.txt``.  ``--cores`` runs the tool
once per core count, each in its own process with a fresh ``local[N]``
JVM, and adds the low/high-core steady ratio per query; with no list it
uses ``1,<nproc>``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.counters import EXACT_COUNTERS, SparkCounters, env_fingerprint  # noqa: E402

COUNTER_FIELDS = (*EXACT_COUNTERS, "spill_bytes")


def explain_formatted(df) -> str:
    jqe = df._jdf.queryExecution()
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return jqe.explainString(mode)


def profile(spark, names, sf_dir, repeats=1, plans_tag=None) -> dict:
    """Run the method above in ``spark``; returns the JSON record."""
    from bench import BENCH_OVERRIDES, _force
    from processo_etl_spark import plans

    queries = plans.all_queries()
    fns = {n: BENCH_OVERRIDES.get(n) or queries[n] for n in names}
    counters = SparkCounters(spark)

    def timed(name):
        with counters.measure(f"build:{name}") as build:
            df = fns[name](spark, sf_dir)
        with counters.measure(f"run:{name}") as run:
            _force(df)
        return df, build, run

    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    for name in names:
        _force(fns[name](spark, warm_dir))
    spark.catalog.clearCache()

    out: dict[str, dict] = {}
    for name in names:
        df, build, run = timed(name)
        out[name] = {"cold_s": round(build.wall_s + run.wall_s, 3)}
        if plans_tag:
            plan_dir = os.path.join(ROOT, "plans", "profile")
            os.makedirs(plan_dir, exist_ok=True)
            with open(os.path.join(plan_dir, f"{name}_{plans_tag}.txt"), "w") as fh:
                fh.write(explain_formatted(df))
    for i in range(repeats):
        for name in names:
            _, build, run = timed(name)
            rec = out[name]
            wall = round(build.wall_s + run.wall_s, 3)
            rec["steady_s"] = min(rec.get("steady_s", wall), wall)
            if i == 0:
                total = counters.total([build, run])
                rec["build_s"] = round(build.wall_s, 3)
                rec["build_jobs"] = build.counts.jobs
                rec.update({k: getattr(total, k) for k in COUNTER_FIELDS})
    return {"sf_dir": sf_dir, "repeats": repeats, "queries": out,
            "env": env_fingerprint(spark)}


def parse_cores(text: str) -> list[int]:
    """``"a,b"`` → sorted distinct core counts, each ≥ 1."""
    cores = sorted({int(c) for c in text.split(",") if c.strip()})
    if not cores or cores[0] < 1:
        raise argparse.ArgumentTypeError(f"--cores needs counts >= 1, got {text!r}")
    return cores


def scaling_ratios(runs: dict[int, dict]) -> dict[str, float]:
    """Per query: steady wall at the fewest cores over the most."""
    lo, hi = runs[min(runs)]["queries"], runs[max(runs)]["queries"]
    return {
        n: round(lo[n]["steady_s"] / hi[n]["steady_s"], 2)
        for n in lo
        if n in hi and hi[n]["steady_s"] > 0
    }


def run_per_core_count(cores: list[int], child_args: list[str]) -> dict:
    """Re-run this tool once per core count in a fresh process."""
    runs: dict[int, dict] = {}
    for n in cores:
        p = subprocess.run(
            [sys.executable, os.path.abspath(__file__), *child_args],
            capture_output=True, text=True,
            env=dict(os.environ, SPARK_GRAFT_CPUS=str(n)),
        )
        lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
        if p.returncode != 0 or not lines:
            sys.stderr.write(p.stderr)
            raise SystemExit(f"profile: run at {n} cores failed "
                             f"(exit {p.returncode}, {len(lines)} JSON lines)")
        runs[n] = json.loads(lines[-1])
    return {"cores": runs, "ratio_low_over_high": scaling_ratios(runs)}


def main(argv: list[str] | None = None) -> int:
    from processo_etl_spark import catalog

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("queries", nargs="?", help="comma-separated registry names")
    ap.add_argument("--sf", default=catalog.DEFAULT_SF_DIR)
    ap.add_argument("--repeats", type=int, default=1)
    ap.add_argument("--plans", metavar="TAG")
    ap.add_argument("--cores", nargs="?", type=parse_cores,
                    const=parse_cores(f"1,{len(os.sched_getaffinity(0))}"))
    args = ap.parse_args(argv)
    if args.repeats < 1:
        ap.error("--repeats must be >= 1")

    if args.cores:
        child = ([args.queries] if args.queries else []) + [
            "--sf", args.sf, "--repeats", str(args.repeats)]
        if args.plans:
            child += ["--plans", args.plans]
        print(json.dumps(run_per_core_count(args.cores, child)))
        return 0

    from bench import HEADLINE
    from processo_etl_spark import session

    names = args.queries.split(",") if args.queries else list(HEADLINE)
    spark = session.get_spark(app_name="profile")
    print(json.dumps(profile(spark, names, args.sf, args.repeats, args.plans)))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
