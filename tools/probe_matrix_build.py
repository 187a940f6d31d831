"""Measure ann_method_recall_matrix's driver-side Python BUILD wall.

A cProfile of the original build: ~9.9 s build, 18,225 py4j
round-trips, 7.0 s socket wait — pure per-query fixed latency, no jobs run.
Usage: python tools/probe_matrix_build.py [plan_out.txt]
Prints two build walls (cold-ish + warm) and, with an argument, writes the
initial formatted physical plan for byte-identity diffing across variants.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pulsar_pekko_streams_example_spark.plans.registry import REGISTRY  # noqa: E402
from pulsar_pekko_streams_example_spark.session import get_spark  # noqa: E402


def main() -> None:
    spark = get_spark(app_name="probe-matrix-build")
    spark.sparkContext.setLogLevel("ERROR")
    sf = "/root/testdata/sf0.001"
    for label in ("build1", "build2"):
        t0 = time.perf_counter()
        df = REGISTRY["ann_method_recall_matrix"].build(spark, sf)
        print(label, round(time.perf_counter() - t0, 3), flush=True)
    if len(sys.argv) > 1:
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )
        with open(sys.argv[1], "w") as fh:
            fh.write(plan)


if __name__ == "__main__":
    main()
