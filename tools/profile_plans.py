"""Plan profiler: capture .explain("formatted") for a set of registry
queries and time each one with the noop sink using the bench methodology
(sf0.001 warm-up, cold pass, steady pass).

Usage: python tools/profile_plans.py <before|after> [sf_dir] [q1,q2,...]

Queries default to the bench headline (``bench.HEADLINE``).  Writes
plans/profile/<query>_<tag>.txt and prints a JSON timing line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import BENCH_OVERRIDES, HEADLINE, _force  # noqa: E402
from processo_etl_spark import plans, session  # noqa: E402


def explain_formatted(df) -> str:
    jqe = df._jdf.queryExecution()
    mode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return jqe.explainString(mode)


def main() -> int:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    names = sys.argv[3].split(",") if len(sys.argv) > 3 else list(HEADLINE)
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        "profile",
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = session.get_spark(app_name=f"profile_plans_{tag}")
    queries = plans.all_queries()

    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    for name in names:
        fn = BENCH_OVERRIDES.get(name) or queries[name]
        spark.sparkContext.setJobDescription(f"warmup:{name}")
        _force(fn(spark, warm_dir))
    spark.catalog.clearCache()

    cold: dict[str, float] = {}
    for name in names:
        fn = BENCH_OVERRIDES.get(name) or queries[name]
        spark.sparkContext.setJobDescription(f"cold:{name}")
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        _force(df)
        cold[name] = round(time.perf_counter() - t0, 3)
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as fh:
            fh.write(explain_formatted(df))

    steady: dict[str, float] = {}
    for name in names:
        fn = BENCH_OVERRIDES.get(name) or queries[name]
        spark.sparkContext.setJobDescription(f"steady:{name}")
        t0 = time.perf_counter()
        _force(fn(spark, sf_dir))
        steady[name] = round(time.perf_counter() - t0, 3)

    print(
        json.dumps(
            {
                "tag": tag,
                "sf_dir": sf_dir,
                "steady_total": round(sum(steady.values()), 3),
                "cold_total": round(sum(cold.values()), 3),
                "steady": steady,
                "cold": cold,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
