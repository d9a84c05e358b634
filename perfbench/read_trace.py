"""Summarise traced runs: per-layer self time, counts, tracing overhead.

    python3 perfbench/read_trace.py [.perfbench/results/<workload>-seed<n>-trace1.json ...]

With no arguments it reads every traced run under ``.perfbench/results``.
A layer's self time is the time inside its spans minus the part of that
interval covered by its child spans; times are per traced op.
"""

from __future__ import annotations

import glob
import json
import os
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
RESULTS = os.path.join(os.path.dirname(HERE), ".perfbench", "results")


def self_times(spans: list[dict]) -> dict[str, float]:
    """Total self time per span name. Children of one span never overlap
    (the client is single-threaded), so their durations are summed."""
    child_time: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] += s["end"] - s["start"]
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s["name"]] += s["end"] - s["start"] - child_time[s["id"]]
    return dict(out)


def summarise(detail_path: str) -> str:
    with open(detail_path) as f:
        d = json.load(f)
    with open(detail_path[: -len(".json")] + ".spans.json") as f:
        spans = json.load(f)
    ops = [o for o in d["ops"] if o["traced"]]
    n = max(len(ops), 1)
    calls: dict[str, int] = defaultdict(int)
    for s in spans:
        calls[s["name"]] += 1
    lines = [f"== {d['workload']} seed {d['seed']}: {len(ops)} traced ops, steal {d['host_steal_frac']:.3%}"]
    lines.append(f"  {'span':32s} {'self s/op':>10s} {'calls/op':>9s}")
    for name, t in sorted(self_times(spans).items(), key=lambda kv: -kv[1]):
        per = n if name != "session.get_spark" else 1
        lines.append(f"  {name:32s} {t / per:10.4f} {calls[name] / per:9.2f}")
    lines.append("  per-layer metrics (per traced op unless once per run):")
    for k, v in d["per_layer"].items():
        if not k.startswith("trace."):
            lines.append(f"    {k:34s} {v:.6g}")
    lines.append("  tracing overhead (traced minus untraced passes):")
    base, traced = d["end_to_end"], d["end_to_end_traced"]
    for k, diff in d["tracing_overhead"].items():
        lines.append(f"    {k:20s} {diff:+.6g}  ({base[k]:.6g} -> {traced[k]:.6g})")
    return "\n".join(lines)


def main(paths: list[str]) -> int:
    paths = paths or sorted(glob.glob(os.path.join(RESULTS, "*-trace1.json")))
    if not paths:
        print(f"no traced runs under {RESULTS}", file=sys.stderr)
        return 1
    for p in paths:
        print(summarise(p))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
