#!/usr/bin/env python3
"""Run one benchmark workload against the chatdata_spark engine.

    python3 perfbench/run.py --workload rag_serve --seed 1 --seconds 10 --trace 0

Run from the repository root. All inputs come from ``--seed``. A human
report (every user-facing metric by name, the settings, the error rate
and its denominator) goes to stderr and to ``.perfbench_out/``; the last
line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1`` (which also writes the spans
file). Exits 2 without a result when the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from harness import Engine, Tracer, bookkeeping_share, layer_self_seconds, remove_run_dir, self_times  # noqa: E402

WORKLOADS = ("rag_serve", "kb_build")

# The user-facing metrics by workload-specific name, printed in the report.
# The gated metrics (names, units, directions) are BENCHMARK.json's.
NAMED = (
    ("setup_s", "s"),
    ("answer_latency_p50_ms", "ms"),
    ("answer_latency_p90_ms", "ms"),
    ("answers_per_s", "1/s"),
    ("answer_recall_at_10", "fraction"),
    ("turn_latency_p50_ms", "ms"),
    ("turn_latency_p90_ms", "ms"),
    ("upload_latency_p50_ms", "ms"),
    ("write_amp", "ratio"),
    ("space_amp", "ratio"),
    ("build_docs_per_s", "1/s"),
    ("increment_latency_p50_s", "s"),
    ("peak_rss_mb", "MB"),
    ("error_rate", "fraction"),
)


def load_metrics(path: str = os.path.join(ROOT, "BENCHMARK.json")) -> tuple[list, list]:
    """(end-to-end, per-layer) metrics of BENCHMARK.json as (name, unit)."""
    with open(path) as f:
        doc = json.load(f)
    return ([(m["name"], m["unit"]) for m in doc["end_to_end"]],
            [(m["name"], m["unit"]) for m in doc["per_layer"]])


def _workload_class(name: str):
    if name == "rag_serve":
        from rag_serve import RagServe
        return RagServe
    from kb_build import KbBuild
    return KbBuild


def per_layer(tracer: Tracer, names, derived: dict) -> dict:
    """Per-layer metric values: ``derived`` where it holds the name, Spark
    jobs per job group for counted names, else the median duration of the
    span of the same stem (``*_ms``/``*_s``); a layer no span covers reads 0."""
    by_name = defaultdict(list)
    for s in tracer.spans:
        by_name[s.name].append(s.end - s.start)

    def med(stem):
        return statistics.median(by_name[stem]) if by_name[stem] else 0.0

    out = {}
    for name, unit in names:
        if name in derived:
            v = derived[name]
        elif name + ".n" in tracer.counts:  # counted by Engine.job_group
            v = tracer.counts[name] / tracer.counts[name + ".n"]
        elif name.startswith("session.execute_ms."):
            v = med("session.execute." + name.rsplit(".", 1)[1]) * 1000
        elif name.endswith("_ms"):
            v = med(name[:-3]) * 1000
        elif name.endswith("_s"):
            v = med(name[:-2])
        else:
            v = 0.0
        out[name] = {"value": float(v), "unit": unit}
    return out


def derived_layer(res: dict, tracer: Tracer, engine: Engine) -> dict:
    """Per-layer values that are not span durations or job counts."""
    roots = [s for s in tracer.spans if s.name == "request"]
    st = self_times(tracer.spans)
    root_total = sum(s.end - s.start for s in roots)
    return {
        "session.cache_residue_rdds": engine.cache_residue(),
        "trace.residue_share": sum(st[s.sid] for s in roots) / root_total if root_total else 0.0,
        "trace.overhead": bookkeeping_share(tracer, engine),
        **res.get("layer", {}),
    }


def self_time_lines(tracer: Tracer) -> list[str]:
    """Self time per span name, largest first, with its share of the
    request spans' time and the residue no child span covers."""
    total = sum(s.end - s.start for s in tracer.spans if s.name == "request")
    rows = sorted(layer_self_seconds(tracer.spans).items(), key=lambda kv: -kv[1])
    out = [f"self time by span (share of {total:.3f} s of traced requests; 'request' is the uncovered residue):"]
    out += [f"  {name:48s} {sec:9.3f} s {sec / total if total else 0:7.1%}" for name, sec in rows]
    return out


def report(args, res: dict, engine_settings: dict, out_dir: str, tracer: Tracer) -> None:
    lines = [f"== perfbench {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}"]
    lines.append("settings: " + json.dumps(engine_settings))
    lines.append("sizes: " + json.dumps(res.get("sizes", {})))
    if "mix" in res:
        lines.append("mix: " + json.dumps(res["mix"]))
    lines.append("phases: " + json.dumps({k: round(v, 2) for k, v in res["phases"].items()}))
    lat = res["latency"]
    lines.append(f"latency samples: n={lat['n']} tail=p{lat['tail_pct']:g}")
    named = dict(res["named"])
    named["setup_s"] = (res["setup_s"], "s")
    named["write_amp"] = (res["write_amp"], "ratio")
    named["space_amp"] = (res["space_amp"], "ratio")
    named["peak_rss_mb"] = (res["peak_rss_mb"], "MB")
    named["error_rate"] = (res["failed"] / res["attempted"], "fraction")
    for name, unit in NAMED:
        if name in named:
            lines.append(f"  {name:28s} {named[name][0]:.6g} {unit}")
        elif name.endswith("_p90_ms") and name.replace("_p90_", "_p50_") in named:
            lines.append(f"  {name:28s} n/a ({lat['n']} samples; a p90 needs 100, highest with 10 beyond: "
                         f"p{lat['tail_pct']:g} = {lat['tail']:.6g} ms)")
        elif name.startswith(("turn_", "upload_")):
            lines.append(f"  {name:28s} n/a (measured by the chat workload, which is left out)")
        else:
            lines.append(f"  {name:28s} n/a ({args.workload} does not measure it)")
    lines.append(f"  error_rate denominator: {res['failed']} failed of {res['attempted']} attempted")
    if tracer.enabled:
        lines += self_time_lines(tracer)
    text = "\n".join(lines)
    print(text, file=sys.stderr)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.txt"), "w") as f:
        f.write(text + "\n")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    end_to_end, per_layer_names = load_metrics()

    # a terminated run still stops its JVM and deletes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(1, ROOT)
    try:
        import chatdata_spark.session  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2

    run_dir = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    tracer = Tracer(enabled=bool(args.trace))
    engine = None
    phases = {}
    try:
        engine = Engine(run_dir, f"perfbench_{args.workload}")
        settings = engine.settings()
        t0 = time.perf_counter()
        res = _workload_class(args.workload)(engine, tracer, args.seed, run_dir).run(args.seconds)
        phases["workload_s"] = time.perf_counter() - t0
        res["peak_rss_mb"] = engine.peak_rss_mb()
        layer = per_layer(tracer, per_layer_names, derived_layer(res, tracer, engine)) if args.trace else None
    finally:
        t0 = time.perf_counter()
        try:
            if engine is not None:
                engine.close()
        finally:
            remove_run_dir(run_dir)
        phases["teardown_s"] = time.perf_counter() - t0
    res["phases"] = {**res.get("phases", {}), **phases}
    report(args, res, settings, out_dir, tracer)
    if args.trace:
        tracer.write(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.jsonl"))
        metrics = layer
    else:
        values = {
            "setup_s": res["setup_s"],
            "latency_mean_ms": res["latency_mean_ms"],
            "throughput_per_s": res["throughput_per_s"],
            "write_amp": res["write_amp"],
            "space_amp": res["space_amp"],
            "peak_rss_mb": res["peak_rss_mb"],
        }
        metrics = {name: {"value": float(values[name]), "unit": unit} for name, unit in end_to_end}
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    t0 = time.perf_counter()
    rc = main()
    print(f"perfbench: finished in {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    sys.exit(rc)
