"""Benchmark entry point.

    python3 perfbench/run.py --workload stocks_scan --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py            # every workload, one after another

Run from the repository root. One run is one fresh process tree (driver
Python, JVM, Python workers) running one workload; see ``workloads.py``
for what a run does. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``, where
the metrics are the end-to-end ones with ``--trace 0`` and the
per-layer ones with ``--trace 1``. Per-op detail (latency, steal, the
traced counters) and the span file go to ``.perfbench/results/``;
``read_trace.py`` summarises them.

The input tables are read from ``--data`` (default: the sf0.1 directory
listed in TESTDATA.md, or ``$PERFBENCH_DATA``); nothing is written
outside ``.perfbench/`` under the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")
TABLES = ("orders", "lineitem", "documents", "embeddings")



def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def end_to_end(h, traced: bool) -> dict:
    """Latency, throughput and CPU over the timed passes of one kind."""
    from stats import TooFewSamples, percentile

    ops = [o for o in h.ops if o["traced"] == traced]
    passes = [p for p in h.passes if p["traced"] == traced]
    lat = [o["latency_s"] for o in ops if o["ok"]]
    out = {
        "ops": len(ops),
        "op_p50_s": percentile(lat, 50),
        "throughput_ops_s": len(lat) / sum(p["wall_s"] for p in passes),
        "cpu_s_per_op": sum(p["cpu_s"] for p in passes) / len(ops),
    }
    try:
        out["op_p90_s"] = percentile(lat, 90)
    except TooFewSamples as e:
        out["op_p90_s"] = None
        out["op_p90_refused"] = str(e)
    return out


def per_layer(h, spans: list[dict], base: dict) -> dict:
    """Per-op means over the traced ops of each layer's spans and counters."""
    traced = [o for o in h.ops if o["traced"]]
    by_op: dict[int, dict[str, list[float]]] = {}
    for s in spans:
        if s["op"] is not None:
            by_op.setdefault(s["op"], {}).setdefault(s["name"], []).append(s["end"] - s["start"])

    def span_mean(name: str) -> float:
        """Mean time per op of the traced ops that passed through ``name``."""
        return _mean([sum(d[name]) for d in by_op.values() if name in d])

    def stat(phase: str, key: str) -> float:
        return _mean([o["trace"]["jobs"][phase][key] for o in traced if phase in o["trace"]["jobs"]])

    def field(key: str) -> list:
        return [o["trace"][key] for o in traced if key in o["trace"]]

    m = dict(base)
    m["sources.io.load_table_s"] = _mean([sum(by_op.get(o["id"], {}).get("sources.io.load_table", [])) for o in traced])
    m["sources.io.load_table_calls"] = _mean(
        [len(by_op.get(o["id"], {}).get("sources.io.load_table", [])) for o in traced]
    )
    m["registry.build_s"] = span_mean("registry.build")
    m["registry.build_jobs"] = stat("build", "jobs")
    for ph in ("analysis", "optimization", "planning"):
        m[f"catalyst.{ph}_s"] = _mean([p[ph] for p in field("phases")])
    m["exec.force_s"] = span_mean("exec.force")
    for key in ("jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        m[f"exec.{key}"] = stat("exec", key)
    for role in ("jvm", "driver_py", "py_worker"):
        m[f"cpu.{role}_s"] = _mean([c[role] for c in field("cpu_s")])
    m["jvm.gc_s"] = _mean(field("gc_s"))
    for fn in ("append", "snapshot_pruned", "merge_upsert", "checkpoint_log"):
        m[f"sources.txlog.{fn}_s"] = span_mean(f"sources.txlog.{fn}")
    m["sources.txlog.files_opened_frac"] = _mean(field("files_opened_frac"))
    return m


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM and its Python workers,
    which outlive the JVM as orphans if anything goes wrong, are gone."""
    from pyspark import SparkContext

    import procfs

    me = os.getpid()
    started = [p.pid for p in procfs.descendants(me) if p.pid != me]
    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on end of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while True:
        alive = [pid for pid in started if (p := procfs.read_proc(pid)) is not None and p.state != "Z"]
        if not alive:
            return
        if time.monotonic() > deadline:
            for pid in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            if time.monotonic() > deadline + 10:
                raise RuntimeError(f"processes {alive} survived SIGKILL")
        time.sleep(0.1)


def run(name: str, seed: int, seconds: float, trace: bool, data: str, work: str) -> dict:
    import procfs
    import tracer as tr
    import workloads as wl

    t0 = time.perf_counter()
    import stockify_spark.registry  # noqa: F401 - import cost is part of set-up

    import_s = time.perf_counter() - t0
    tracer = tr.Tracer()
    tracer.active = trace
    g0 = time.perf_counter()
    with tracer.span("session.get_spark"):
        spark = wl.spark_session(work, name)
    get_spark_s = time.perf_counter() - g0
    tracer.active = False
    try:
        h = wl.Harness(spark, tracer, seed)
        if trace:
            tracer.wrap_load_table()
        w = wl.make(name, h, data, work)
        s0 = time.perf_counter()
        w.setup()
        setup_parts = {"import_s": import_s, "get_spark_s": get_spark_s, "make_s": s0 - g0 - get_spark_s,
                       "verify_s": h.verify_s, "warmup_s": sum(h.warmup)}
        h.start_timed()
        n = wl.passes_for(name, seconds)
        # traced runs alternate untraced and traced passes
        plan = [i % 2 == 1 for i in range(2 * n)] if trace else [False] * n
        w.start(len(plan))
        setup_s = time.perf_counter() - t0
        st0 = procfs.cpu_times()
        for traced in plan:
            h.timed_pass(w.one_pass, traced)
        steal = procfs.steal_frac(st0, procfs.cpu_times())
        rss = procfs.tree_rss_mb(os.getpid(), "VmHWM")
        extra = w.finish()
    finally:
        stop_spark(spark)

    e2e = end_to_end(h, traced=False)
    e2e.update(setup_s=setup_s, peak_rss_mb=sum(rss.values()))
    detail = {
        "workload": name,
        "seed": seed,
        "seconds": seconds,
        "trace": trace,
        "threads": wl.THREADS,
        "data": data,
        "passes": len(plan),
        "warmup_pass_s": h.warmup,
        "setup_parts": setup_parts,
        "host_steal_frac": steal,
        "peak_rss_mb_by_role": rss,
        "end_to_end": e2e,
        "pass_detail": h.passes,
        "ops": h.ops,
        "setup_ops": h.setup_ops,
        "checks": h.checks,
        **extra,
    }
    if trace:
        t = end_to_end(h, traced=True)
        detail["end_to_end_traced"] = t
        detail["tracing_overhead"] = {k: t[k] - e2e[k] for k in ("op_p50_s", "throughput_ops_s", "cpu_s_per_op")}
        base = {
            "session.get_spark_s": get_spark_s,
            "sources.txlog.table_bytes": float(extra.get("table_bytes", 0)),
            "host.steal_frac": steal,
        }
        base.update({f"trace.overhead.{k}": v for k, v in detail["tracing_overhead"].items()})
        detail["per_layer"] = per_layer(h, tracer.spans, base)
    detail["spans"] = tracer.spans
    return detail


def run_all(args) -> int:
    """Run every workload in its own process and print one table."""
    import workloads as wl

    results = {}
    for name in wl.WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace), "--data", args.data]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"{name}: failed with exit code {proc.returncode}", file=sys.stderr)
            return 1
        results[name] = json.loads(lines[-1])
    for name, r in results.items():
        frac = r["failed"] / r["attempted"]
        print(f"{name}: correct={r['correct']} op_error_frac={frac} ({r['failed']}/{r['attempted']})")
        for metric, v in r["metrics"].items():
            print(f"  {metric:34s} {v['value']:.6g} {v['unit']}")
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{n}.{k}": v for n, r in results.items() for k, v in r["metrics"].items()},
    }))
    return 0


def main() -> int:
    sys.path[:0] = [HERE, ROOT]
    import workloads as wl

    spec = load_spec()
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", default="all", choices=("all",) + wl.WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", default=os.environ.get("PERFBENCH_DATA", wl.DEFAULT_DATA))
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "stockify_spark", "registry.py")):
        print(f"perfbench: no stockify_spark package under {ROOT}", file=sys.stderr)
        return 2
    missing = [t for t in TABLES if not os.path.exists(os.path.join(args.data, f"{t}.parquet"))]
    if missing:
        print(f"perfbench: {args.data} lacks tables {missing}", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)

    work = os.path.join(OUT, "work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        detail = run(args.workload, args.seed, args.seconds, bool(args.trace), args.data, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    results = os.path.join(OUT, "results")
    os.makedirs(results, exist_ok=True)
    stem = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    spans = detail.pop("spans")
    with open(stem + ".spans.json", "w") as f:
        json.dump(spans, f)
    with open(stem + ".json", "w") as f:
        json.dump(detail, f, indent=1, default=str)

    ops = detail["ops"] + detail["setup_ops"]
    failed = sum(not o["ok"] for o in ops) + sum(not c["ok"] for c in detail["checks"])
    attempted = len(ops) + len(detail["checks"])
    values, kind = (detail["per_layer"], "per_layer") if args.trace else (detail["end_to_end"], "end_to_end")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec[kind]},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
