"""Time individual registry queries in isolation (guide §1.4): noop sink,
fresh plan per repeat, median + all runs printed.  Mirrors bench.py's
protocol (EAGER_CONSTRUCT queries time construction too) so isolated
numbers are comparable with group-bench numbers.  Each repeat also prints
how many classes Janino compiled during it (Spark's CodegenMetrics), so a
cold run (compiles > 0) and a warm run (0) are told apart without a
profiler.

Usage:  PYTHONPATH=/root/repo python tools/time_query.py q1 q2 ... \
            [--sf DIR] [--repeats N] [--plan]
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = [a for a in sys.argv[1:]]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    repeats = 3
    want_plan = False
    names = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--sf":
            i += 1
            sf_dir = args[i]
        elif a == "--repeats":
            i += 1
            repeats = int(args[i])
        elif a == "--plan":
            want_plan = True
        else:
            names.append(a)
        i += 1

    from bench import EAGER_CONSTRUCT
    from variant_load_pipeline_spark import queries as Q
    from variant_load_pipeline_spark.session import get_spark

    spark = get_spark(app_name="vlp-time-query")
    reg = Q.registry()

    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()

    def materialize(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    # same warm-up as bench.py
    spark.sparkContext.setJobDescription("warmup")
    materialize(reg["q6_forecast_revenue"].spark_fn(spark, sf_dir))

    for name in names:
        if name not in reg:
            print(f"{name}: NOT IN REGISTRY")
            continue
        runs, compiled = [], []
        for r in range(repeats):
            spark.sparkContext.setJobDescription(f"{name} rep{r}")
            spark.catalog.clearCache()  # mirror bench.py's repeat hygiene
            c0 = compiles.getCount()
            if name in EAGER_CONSTRUCT:
                t0 = time.time()
                df = reg[name].spark_fn(spark, sf_dir)
            else:
                df = reg[name].spark_fn(spark, sf_dir)
                t0 = time.time()
            materialize(df)
            runs.append(round(time.time() - t0, 3))
            compiled.append(compiles.getCount() - c0)
        med = round(statistics.median(runs), 3)
        print(f"{name}: median={med} runs={runs} compiles={compiled}")
        if want_plan:
            df = reg[name].spark_fn(spark, sf_dir)
            print(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"))


if __name__ == "__main__":
    main()
