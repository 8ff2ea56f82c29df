#!/usr/bin/env python3
"""Reads the traces a `--trace 1` run writes to `.bench_build/traces/`.

  python3 perfbench/trace_tool.py summary <trace.json> [<untraced result.json>]
      Self time of each layer in the first pass, every per-layer metric, and, given the untraced run's result file from
      `.bench_build/results/`, the tracing overhead on each end-to-end
      metric (traced minus untraced).
  python3 perfbench/trace_tool.py diff <a.json> <b.json>
      Flags every count that differs between two traces (per-layer counts
      and the jobs/tasks of each pass), e.g. a parent and a change.
"""
import json
import sys

sys.path.insert(0, __import__("os").path.dirname(__file__))
import metrics  # noqa: E402

COUNT_UNITS = ("count", "bytes")


def load(p):
    with open(p) as f:
        return json.load(f)


def summary(path, untraced=None):
    t = load(path)
    layer = t["per_layer"]
    print(f"workload {t['workload']} seed {t['seed']}: {t['extra']['passes']} passes (metrics from the first), "
          f"sentinel {json.dumps(t['sentinel'])}")
    print("\nself time per layer (ms, first pass):")
    for k in sorted((k for k in layer if k.endswith(".self_ms")), key=lambda k: -layer[k]):
        if layer[k] > 0:
            print(f"  {k[:-8]:<12} {layer[k]:10.1f}")
    print("\nper-layer metrics (first pass):")
    for k in sorted(layer):
        if not k.endswith(".self_ms"):
            print(f"  {k:<28} {layer[k]:16.4f} {metrics.UNITS.get(k, 'ms')}")
    ex = t["extra"]
    print(f"\n  exec.jobs per pass  {ex['jobs_per_pass']}\n  exec.tasks per pass {ex['tasks_per_pass']}")
    if ex.get("repeat_differs"):
        print(f"  DIFFERS between passes: {ex['repeat_differs']}")
    print(f"  stream.trigger_ms_p50 {ex['stream.trigger_ms_p50']:.1f} ms")
    if not t.get("fs_counting"):
        print("  (filesystem op counts unavailable: the counting file system was not installed)")
    if untraced:
        u = load(untraced)["metrics"]
        print("\ntracing overhead (traced - untraced):")
        for k, v in t["end_to_end_traced"].items():
            if k in u:
                d = v - u[k]
                print(f"  {k:<14} {d:+12.4f} {metrics.UNITS[k]}  ({d / u[k]:+.1%})")


def diff(a_path, b_path):
    a, b = load(a_path), load(b_path)
    changed = 0
    for k in sorted(set(a["per_layer"]) | set(b["per_layer"])):
        if metrics.UNITS.get(k) in COUNT_UNITS:
            x, y = a["per_layer"].get(k), b["per_layer"].get(k)
            if x != y:
                changed += 1
                print(f"CHANGED {k}: {x} -> {y}")
    for k in ("jobs_per_pass", "tasks_per_pass"):
        if a["extra"][k] != b["extra"][k]:
            changed += 1
            print(f"CHANGED {k}: {a['extra'][k]} -> {b['extra'][k]}")
    print(f"{changed} count(s) changed")
    return 1 if changed else 0


if __name__ == "__main__":
    if len(sys.argv) >= 3 and sys.argv[1] == "summary":
        summary(sys.argv[2], sys.argv[3] if len(sys.argv) > 3 else None)
    elif len(sys.argv) == 4 and sys.argv[1] == "diff":
        sys.exit(diff(sys.argv[2], sys.argv[3]))
    else:
        sys.exit(__doc__)
