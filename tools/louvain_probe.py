"""Probe the g_louvain entry: per-rep wall clock, the Spark jobs each rep
runs, and the -1/-2 certificate numerators (the full and the
local-move-only labeling's exact modularity numerators).

Usage: python tools/louvain_probe.py [reps]
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hugegraph_on_tikv_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 1
    spark = get_spark("louvain-probe")
    if os.environ.get("NO_AQE"):
        spark.conf.set("spark.sql.adaptive.enabled", "false")
    import __spark_entry__ as entrymod

    qs = entrymod.raw_queries()
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    for r in range(reps):
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()
        j0 = dag.nextJobId()
        t0 = time.perf_counter()
        df = qs["g_louvain"](spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        jobs = dag.nextJobId() - j0
        # outside the timed window: the certificate rows only
        cert = {row["id"]: row["community"]
                for row in df.filter("id < 0").collect()}
        print(f"# g_louvain rep {r}: {wall:.3f}s jobs={jobs} "
              f"num_full={cert.get(-1)} num_local={cert.get(-2)}",
              flush=True)


if __name__ == "__main__":
    main()
