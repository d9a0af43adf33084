"""Per-layer metrics from a traced run, and the layer × workload table.

    python3 perfbench/layers.py [--seed N]

reads `perfbench/_results/*-t1/report.json` and the spans next to it and
prints one row per per-layer metric, one column per workload; every ratio
is shown with its base.  `per_layer()` computes the metrics at the end of
a traced run, from its spans and Spark's event log (the run keeps the
log's per-job-group counters in the report and deletes the log).  When the untraced report of
the same workload and seed exists, the table ends with the tracing
overhead: traced `wall_s` minus untraced `wall_s`.

Layers are named after the package modules whose public functions the
benchmark times (see workloads.py).  `<layer>_s` is the median latency of
that layer's calls, `<layer>.jobs`/`.stages` the median Spark jobs/stages
per call, `driver.gap_s` the mean time per operation during which no Spark
job of that operation was running, and `spark.*` Spark's own counters per
operation, from the event log.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics

from probe import SPARK_COUNTERS, covered, read_event_log

ANALYTICS = ("lpa",)
FUNCTIONS = ("dedup", "similarity", "unigram", "bpe")

PER_LAYER: list[tuple[str, str]] = [
    ("session.start_s", "s"),
    ("session.warmup_s", "s"),
    ("sources.graph.view_cache_build_s", "s"),
    ("sources.graph.view_cache_cold", "count"),
    ("sources.graph.hit_ratio", "ratio"),
    ("sources.edge_layout.materialize_s", "s"),
    ("sources.edge_layout.upsert_s", "s"),
    ("sources.edge_layout.buckets_rewritten", "count"),
    ("sources.edge_layout.bytes_written", "bytes"),
    ("sources.edge_layout.rows_rewritten_per_row", "ratio"),
    ("sources.edge_layout.write_amp", "ratio"),
    ("sources.edge_layout.compact_s", "s"),
    ("sources.edge_layout.bucket_skew", "ratio"),
    ("sources.edge_layout.null_key_delete_misses", "count"),
    ("plans.engine.query_s", "s"),
    ("plans.engine.query.jobs", "count"),
    ("operators.traversal.k_hop_s", "s"),
    ("operators.traversal.k_hop.jobs", "count"),
    ("traversal_api.dsl_s", "s"),
    ("traversal_api.dsl.jobs", "count"),
    *[(f"operators.analytics.{a}{suffix}", unit) for a in ANALYTICS
      for suffix, unit in (("_s", "s"), (".jobs", "count"), (".stages", "count"))],
    *[(f"functions.{f}_s", "s") for f in FUNCTIONS],
    ("driver.gap_s", "s"),
    *[(f"spark.{c}", "s" if c.endswith("_s") else "bytes" if c.endswith("_bytes") else "count")
      for c in SPARK_COUNTERS],
    ("process.peak_rss_mb", "MB"),
    ("trace.wall_s", "s"),
]
_UNITS = dict(PER_LAYER)

# span names whose latency (`<name>_s`) and job/stage counts are reported
_TIMED = [
    "plans.engine.query", "operators.traversal.k_hop", "traversal_api.dsl",
    *[f"operators.analytics.{a}" for a in ANALYTICS],
    *[f"functions.{f}" for f in FUNCTIONS],
]


def unit_of(name: str) -> str:
    return _UNITS[name]


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def event_log(results_dir: str) -> str | None:
    for f in sorted(os.listdir(results_dir)):
        if f not in ("spans.jsonl", "report.json") and not f.endswith(".inprogress"):
            return os.path.join(results_dir, f)
    return None


def _spans(results_dir: str) -> list[dict]:
    with open(os.path.join(results_dir, "spans.jsonl")) as f:
        return [json.loads(line) for line in f]


def self_times(spans: list[dict]) -> dict[str, float]:
    """Total self time per span name: each span minus what its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        own = (s["end"] - s["start"]) - covered(kids.get(s["id"], []), s["start"], s["end"])
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out


def per_layer(report: dict, results_dir: str) -> tuple[dict, dict]:
    """(metric → value, metric → base) for one traced run; also stores the
    event log's per-job-group counters in `report["spark_groups"]`."""
    spans = _spans(results_dir)
    log = event_log(results_dir)
    groups = read_event_log(log) if log else {}
    report["spark_groups"] = groups
    by_req: dict[int, dict] = {}
    for g, counters in groups.items():
        try:
            req = int(g.split(".")[1])
        except (IndexError, ValueError):
            continue
        agg = by_req.setdefault(req, {k: 0 for k in SPARK_COUNTERS} | {"intervals": []})
        for k in SPARK_COUNTERS:
            agg[k] += counters[k]
        agg["intervals"] += counters["intervals"]

    samples = report["samples"]
    op_reqs = {o["req"] for o in samples["ops"]}
    top = [s for s in spans if s["parent"] is None and s["req"] in op_reqs]
    m: dict[str, float] = {name: 0.0 for name, _ in PER_LAYER}
    base: dict[str, str] = {}

    t = report["timings"]
    m["session.start_s"] = t["session_start_s"]
    m["session.warmup_s"] = t["session_warmup_s"]
    setup = samples["setup"]
    m["sources.graph.view_cache_build_s"] = setup.get("view_cache_build_s", 0.0)
    m["sources.graph.view_cache_cold"] = setup.get("view_cache_cold", 0)
    vc = report["view_counts"]
    req = vc["total"].get("requests", 0) - vc["after_setup"].get("requests", 0)
    hit = vc["total"].get("hits", 0) - vc["after_setup"].get("hits", 0)
    m["sources.graph.hit_ratio"] = hit / req if req else 0.0
    base["sources.graph.hit_ratio"] = f"{hit}/{req} view requests that wrote no cache file"
    m["sources.edge_layout.materialize_s"] = setup.get("materialize_s", 0.0)

    ops = samples["ops"]
    ups = [o for o in ops if o["kind"] == "upsert" and not o.get("redelivery") and o["ok"]]
    if ups:
        m["sources.edge_layout.upsert_s"] = _median([o["latency_s"] for o in ups])
        m["sources.edge_layout.buckets_rewritten"] = _median([o["buckets_rewritten"] for o in ups])
        m["sources.edge_layout.bytes_written"] = _median([o["bytes_written"] for o in ups])
        rows, urows = sum(o["rows_rewritten"] for o in ups), sum(o["user_rows"] for o in ups)
        nb, ub = sum(o["bytes_written"] for o in ups), sum(o["user_bytes"] for o in ups)
        m["sources.edge_layout.rows_rewritten_per_row"] = rows / urows
        m["sources.edge_layout.write_amp"] = nb / ub
        base["sources.edge_layout.rows_rewritten_per_row"] = f"{rows} rows rewritten / {urows} user rows"
        base["sources.edge_layout.write_amp"] = f"{nb} B written / {ub} B of user rows"
    probe = samples.get("null_key_probe")
    if probe:
        m["sources.edge_layout.null_key_delete_misses"] = probe["null_key_delete_misses"]
        base["sources.edge_layout.null_key_delete_misses"] = (
            f"rows left of {probe['deleted']} NULL-linenumber edge deleted by the default key")
    compacts = [o for o in ops if o["kind"] == "compact" and o["ok"]]
    if compacts:
        m["sources.edge_layout.compact_s"] = _median([o["latency_s"] for o in compacts])
        m["sources.edge_layout.bucket_skew"] = _median([o["bucket_skew"] for o in compacts])
        st = compacts[-1]["bucket_skew_base"]
        base["sources.edge_layout.bucket_skew"] = f"max {st['max']} B / median {st['median']} B"

    for prefix in _TIMED:
        mine = [s for s in top if s["name"] == prefix]
        if not mine:
            continue
        m[f"{prefix}_s"] = _median([s["end"] - s["start"] for s in mine])
        for counter in ("jobs", "stages"):
            key = f"{prefix}.{counter}"
            if key in m:
                m[key] = _median([by_req.get(s["req"], {}).get(counter, 0) for s in mine])
        base[f"{prefix}_s"] = f"{len(mine)} calls"

    gaps = []
    for s in top:
        iv = by_req.get(s["req"], {}).get("intervals", [])
        gaps.append((s["end"] - s["start"]) - covered(iv, s["start"], s["end"]))
    m["driver.gap_s"] = sum(gaps) / len(gaps) if gaps else 0.0
    base["driver.gap_s"] = f"per operation, {len(gaps)} operations"
    for c in SPARK_COUNTERS:
        total = sum(by_req.get(s["req"], {}).get(c, 0) for s in top)
        m[f"spark.{c}"] = total / len(top) if top else 0.0
    base["spark.*"] = f"per operation, {len(top)} operations"
    m["process.peak_rss_mb"] = report["summary"]["peak_rss_mb"]
    m["trace.wall_s"] = report["summary"]["wall_s"]
    return m, base


def _fmt(v) -> str:
    return "-" if v is None else f"{v:.4g}"


def render(results_root: str, seed: int | None) -> str:
    traced = {}
    for path in sorted(glob.glob(os.path.join(results_root, "*-t1", "report.json"))):
        with open(path) as f:
            rep = json.load(f)
        if seed is not None and rep["env"]["seed"] != seed:
            continue
        traced[rep["env"]["workload"]] = rep
    if not traced:
        return "no traced reports found (run with --trace 1 first)"
    names = sorted(traced)
    lines = [f"{'metric':44s} " + " ".join(f"{n:>30s}" for n in names)]
    for metric, unit in PER_LAYER:
        cells = []
        for n in names:
            pl = traced[n]["per_layer"]
            v = pl["metrics"].get(metric)
            b = pl["bases"].get(metric) or (pl["bases"].get("spark.*") if metric.startswith("spark.") else None)
            cells.append(f"{_fmt(v)}" + (f" ({b})" if b and unit == "ratio" else ""))
        lines.append(f"{metric + ' [' + unit + ']':44s} " + " ".join(f"{c:>30s}" for c in cells))
    lines.append("")
    lines.append("self time per span name (s, summed over the traced run):")
    for n in names:
        run_dir = os.path.join(results_root, f"{n}-s{traced[n]['env']['seed']}-t1")
        st = self_times(_spans(run_dir))
        lines.append(f"  {n}: " + ", ".join(f"{k} {v:.3f}" for k, v in sorted(st.items())))
    lines.append("")
    lines.append("tracing overhead (traced wall_s - untraced wall_s, same seed):")
    for n in names:
        env = traced[n]["env"]
        path = os.path.join(results_root, f"{n}-s{env['seed']}-t0", "report.json")
        if os.path.exists(path):
            with open(path) as f:
                untraced = json.load(f)["summary"]["wall_s"]
            tw = traced[n]["summary"]["wall_s"]
            lines.append(f"  {n}: {tw - untraced:+.3f} s ({tw:.3f} traced vs {untraced:.3f} untraced)")
        else:
            lines.append(f"  {n}: no untraced run with seed {env['seed']}")
    return "\n".join(lines)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description="Render the layer x workload table.")
    p.add_argument("--results", default=os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                                     "_results"))
    p.add_argument("--seed", type=int, default=None)
    args = p.parse_args(argv)
    print(render(args.results, args.seed))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
