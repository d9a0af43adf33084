"""Layered, seeded benchmark of the graph engine.

    python3 perfbench/run.py --workload traverse_ingest --seed 1 --seconds 10 --trace 0

Runs one workload (see workloads.py) in one process on local[<nproc>] with
a single closed-loop client, checks every result, prints a readable report
and, as the last line of standard output, one JSON object:
`{"correct", "attempted", "failed", "metrics"}`.  `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer metrics of a separate traced
run (spans plus Spark's uncompressed event log).  Inputs are generated from
`--seed` under `perfbench/_work/` (removed at exit); the report and, for a
traced run, the spans are kept under
`perfbench/_results/<workload>-s<seed>-t<trace>/` for `layers.py`.
The exit code is non-zero when any operation failed or returned a wrong
result.

Run structure:
1. generate the tables, compute every expected answer (DuckDB oracle);
2. start the session (`get_spark`) and fire the first action;
3. set up once from scratch: for `analytics_llm` the GraphStore view
   cache (`edges`, `edges_by_dst`, `vertices`) from a cold cache, for
   `traverse_ingest` the dual edge layout and the vertex layout;
4. run whole passes of the workload until `--seconds` of operation time
   have elapsed (at least one pass).

`setup_s` is steps 2 and 3: process start to ready, less the benchmark's
own input generation and oracle work.  One set-up per run: a second one
would add 5-10 s to every run; the median over repeated runs averages it
instead.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import resource
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = {"setup_s": "s", "wall_s": "s", "cpu_s": "s"}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf-dir", default=None,
                   help="read existing fixture tables from this directory "
                        "instead of generating them from --seed")
    return p.parse_args(argv)


def percentile(values: list[float], q: float) -> float | None:
    """The q-quantile, or None unless at least ten samples lie beyond it."""
    if not values or len(values) * (1 - q) < 10:
        return None
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_cpu_s() -> float:
    """User + system CPU seconds used so far by this process and every
    process below it (the JVM and its Python workers), reaped children
    included.  Time the hypervisor steals from the VM is not in it."""
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # after the command name: state, ppid, ...; utime, stime, cutime,
        # cstime are the 12th to 15th
        procs[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children = collections.defaultdict(list)
    for pid, (ppid, _) in procs.items():
        children[ppid].append(pid)
    total, stack = 0, [os.getpid()]
    while stack:
        pid = stack.pop()
        total += procs.get(pid, (0, 0))[1]
        stack += children[pid]
    return total / os.sysconf("SC_CLK_TCK")


def _snapshot(path: str) -> set[int]:
    return {os.stat(os.path.join(d, f)).st_ino
            for d, _, fs in os.walk(path) for f in fs}


def _new_files(path: str, before: set[int]) -> tuple[int, int]:
    """(bytes, parquet rows) of files under `path` that are new since
    `before` and not hard links of an older file."""
    import pyarrow.parquet as pq

    nbytes = rows = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            full = os.path.join(d, f)
            st = os.stat(full)
            if st.st_ino in before or st.st_nlink > 1:
                continue
            nbytes += st.st_size
            if f.startswith("part-") and f.endswith(".parquet"):
                rows += pq.read_metadata(full).num_rows
    return nbytes, rows


class Bench:
    """Run-wide state handed to the workload: session, tracer, oracle
    connection, store class and directories."""

    def __init__(self, args):
        self.args = args
        self.run_id = f"{args.workload}-s{args.seed}-t{args.trace}"
        self.work = os.path.join(HERE, "_work", self.run_id)
        self.results = os.path.join(HERE, "_results", self.run_id)
        for d in (self.work, self.results):
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)
        self.cache_root = os.path.join(self.work, "graph", "view_cache")
        self.view_counts: collections.Counter = collections.Counter()
        self.spark = self.tracer = self.Store = None
        self.con = None
        self.sf_dir = None


def configure_env(bench: Bench) -> None:
    from probe import spark_conf_args

    tmp = os.path.join(bench.work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(bench.work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = spark_conf_args(
        bench.work, tmp, bench.results if bench.args.trace else None)


def oracle_connection(sf_dir: str, work: str):
    import duckdb

    from hugegraph_on_tikv_spark.sources.catalog import TABLES

    con = duckdb.connect()
    con.execute(f"SET temp_directory='{os.path.join(work, 'duckdb')}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM child to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — never leave the JVM behind
            proc.kill()
            proc.wait(timeout=30)


def run_pass(bench: Bench, workload, ops, samples: dict) -> tuple[float, float]:
    """Execute one planned pass; returns its wall time (sum of operation
    latencies, back to back) and the CPU time its operations used.
    Results are checked after the pass."""
    tracer = bench.tracer
    results = []
    wall = cpu_total = 0.0
    layout_path = None
    if getattr(workload, "store", None) is not None and workload.store.layout is not None:
        layout_path = workload.store.layout.path
    for op in ops:
        before = _snapshot(layout_path) if op.is_write and layout_path else None
        req = tracer.new_request()
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            with tracer.span(op.layer, req=req) as rec:
                got = op.run()
            rec["kind"] = op.kind
            err = None
        except Exception as e:  # noqa: BLE001 — a failing op is counted, the run goes on
            got, err = None, e
            traceback.print_exc(file=sys.stderr)
        dt = time.perf_counter() - t0
        cpu = tree_cpu_s() - c0
        wall += dt
        cpu_total += cpu
        entry = {"kind": op.kind, "layer": op.layer, "latency_s": dt, "cpu_s": cpu,
                 "write": op.is_write, "req": req, **op.info}
        if before is not None and err is None:
            nbytes, rows = _new_files(layout_path, before)
            entry.update(bytes_written=nbytes, rows_rewritten=rows)
            if op.kind == "upsert":
                entry["buckets_rewritten"] = sum(got.values())
        if op.kind == "compact" and err is None:
            stats = workload.store.layout.bucket_stats()
            entry["bucket_skew"] = stats["max"] / stats["median"] if stats["median"] else 0.0
            entry["bucket_skew_base"] = stats
        results.append((op, got, err, entry))
    for op, got, err, entry in results:
        ok = err is None and op.check(got, op.expect)
        entry["ok"] = bool(ok)
        if not ok and err is None:
            print(f"MISMATCH {op.kind} ({op.layer}): got {str(got)[:300]} "
                  f"expected {str(op.expect)[:300]}", file=sys.stderr)
        samples["ops"].append(entry)
    return wall, cpu_total


def main(argv=None) -> int:
    t_proc = time.perf_counter()
    args = parse_args(argv)
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import hugegraph_on_tikv_spark  # noqa: F401 — fail fast outside a checkout

    import workloads as W
    from probe import Tracer

    if args.workload not in W.WORKLOADS:
        print(f"unknown workload {args.workload!r}; have {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2
    bench = Bench(args)
    configure_env(bench)

    import datagen

    t_gen = time.perf_counter()
    if args.sf_dir:
        bench.sf_dir = os.path.abspath(args.sf_dir)
    else:
        bench.sf_dir = os.path.join(bench.work, "data")
        datagen.generate(bench.sf_dir, args.seed)
    bench.con = oracle_connection(bench.sf_dir, bench.work)

    workload = W.WORKLOADS[args.workload](bench)
    t_oracle = time.perf_counter()

    # -- session --------------------------------------------------------------
    from hugegraph_on_tikv_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{bench.run_id}")
    t1 = time.perf_counter()
    spark.range(1000).selectExpr("sum(id)").collect()
    t2 = time.perf_counter()
    bench.spark = spark
    sc = spark.sparkContext
    bench.tracer = Tracer(sc, enabled=bool(args.trace))
    bench.Store = W.bench_store_class(bench.cache_root, bench.view_counts, bench.tracer)
    import pyspark

    env = {
        "master": sc.master, "defaultParallelism": sc.defaultParallelism,
        "nproc": len(os.sched_getaffinity(0)), "sf_dir": os.path.relpath(bench.sf_dir, ROOT),
        "pyspark": pyspark.__version__, "python": sys.version.split()[0],
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace,
    }

    samples: dict = {"ops": [], "passes": [], "pass_cpu": [], "setup": {}}
    failed_setup = 0
    try:
        samples["setup"] = workload.setup()
        hits_after_setup = dict(bench.view_counts)
        elapsed, pass_no = 0.0, 0
        while pass_no == 0 or elapsed < args.seconds:
            ops = workload.plan_pass(args.seed, pass_no)
            wall, cpu = run_pass(bench, workload, ops, samples)
            samples["passes"].append(wall)
            samples["pass_cpu"].append(cpu)
            elapsed += wall
            pass_no += 1
        peak_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        from pyspark import SparkContext
        jvm = getattr(SparkContext._gateway, "proc", None)
        peak_kb += _vm_hwm_kb(jvm.pid) if jvm is not None else 0
        if args.trace and hasattr(workload, "null_key_probe"):
            with bench.tracer.span("sources.edge_layout.null_key_probe",
                                   req=bench.tracer.new_request()):
                samples["null_key_probe"] = workload.null_key_probe()
    except Exception:  # noqa: BLE001 — reported as a failed run below
        traceback.print_exc(file=sys.stderr)
        failed_setup = 1
        hits_after_setup, peak_kb = {}, 0
    finally:
        if args.trace:
            bench.tracer.write(os.path.join(bench.results, "spans.jsonl"))
        stop_spark(spark)

    ops = samples["ops"]
    reads = [o["latency_s"] for o in ops if not o["write"]]
    writes = [o for o in ops if o["kind"] == "upsert" and not o.get("redelivery")]
    ok_writes = [w for w in writes if w["ok"]]
    failed = sum(not o["ok"] for o in ops) + failed_setup
    attempted = max(1, len(ops) + failed_setup)
    setup = samples["setup"]
    setup_s = (t2 - t0) + setup.get("view_cache_build_s", 0.0) + setup.get("materialize_s", 0.0)

    report = {
        "env": env,
        "timings": {"import_s": t_gen - t_proc, "datagen_s": t_oracle - t_gen,
                    "session_start_s": t1 - t0, "session_warmup_s": t2 - t1},
        "view_counts": {"after_setup": hits_after_setup, "total": dict(bench.view_counts)},
        "samples": samples,
    }
    summary = {
        "setup_s": setup_s,
        "wall_s": statistics.median(samples["passes"]) if samples["passes"] else 0.0,
        "read_p50_s": statistics.median(reads) if reads else 0.0,
        "cpu_s": statistics.median(samples["pass_cpu"]) if samples["pass_cpu"] else 0.0,
        "read_p90_s": percentile(reads, 0.9),
        "write_p50_s": statistics.median([w["latency_s"] for w in writes]) if writes else None,
        "write_p90_s": percentile([w["latency_s"] for w in writes], 0.9),
        "write_amp": (sum(w["bytes_written"] for w in ok_writes)
                      / sum(w["user_bytes"] for w in ok_writes) if ok_writes else None),
        "fail_frac": failed / attempted,
        "peak_rss_mb": peak_kb / 1024,
        "n_reads": len(reads), "n_writes": len(writes), "n_passes": len(samples["passes"]),
    }
    report["summary"] = summary

    if args.trace:
        import layers

        metrics, bases = layers.per_layer(report, bench.results)
        # the per-group counters are in the report; the raw log is large
        log = layers.event_log(bench.results)
        if log:
            os.remove(log)
        report["per_layer"] = {"metrics": metrics, "bases": bases}
        out_metrics = {k: {"value": v, "unit": layers.unit_of(k)} for k, v in metrics.items()}
    else:
        out_metrics = {k: {"value": summary[k], "unit": u} for k, u in END_TO_END.items()}

    with open(os.path.join(bench.results, "report.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    shutil.rmtree(bench.work, ignore_errors=True)

    print(f"# {args.workload} seed={args.seed} trace={args.trace} "
          + " ".join(f"{k}={v}" for k, v in env.items() if k not in ("workload", "seed", "trace")))
    units = {**END_TO_END, "read_p50_s": "s", "read_p90_s": "s", "write_p50_s": "s", "write_p90_s": "s",
             "write_amp": "ratio", "fail_frac": "ratio", "peak_rss_mb": "MB"}
    for k, u in units.items():
        v = summary[k]
        shown = "n/a (too few samples or no writes)" if v is None else f"{v:.6g}"
        print(f"{k:14s} {shown} {u if v is not None else ''}".rstrip())
    print(f"samples: {summary['n_passes']} passes, {summary['n_reads']} reads, "
          f"{summary['n_writes']} write batches")
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": out_metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
