"""Turns a harness run record into checked operations and metrics.

End-to-end metrics come from an untraced run; per-layer metrics from the
spans of a traced run. Both describe the first pass of the run: the job as
it runs in a fresh process. A traced run's later passes show whether jobs
and tasks repeat from pass to pass.
"""
UNITS = {
    "setup_s": "s", "pass_s": "s", "op_ms_p50": "ms", "peak_heap_mb": "MB",
    "sources.files_read": "count", "sources.bytes_read": "bytes", "sources.rows_read": "count",
    "plans.build_ms": "ms", "plans.analysis_ms": "ms", "plans.optimization_ms": "ms",
    "plans.planning_ms": "ms", "plans.exchanges": "count", "plans.broadcasts": "count",
    "plans.sort_merge_joins": "count",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count", "exec.task_s": "s",
    "exec.gc_s": "s", "exec.core_busy_ratio": "ratio", "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes", "exec.spill_bytes": "bytes", "exec.cached_bytes": "bytes",
    "bank_etl.jobs": "count", "dq.violations": "count", "sink.bytes_written": "bytes",
    "sink.files_written": "count", "dedup.candidate_pairs": "count",
    "dedup.confirmed_pairs": "count", "dedup.pair_yield": "ratio",
    "similarity.recall_at_5": "ratio",
    "table.files_per_commit": "count", "table.bytes_per_commit": "bytes",
    "table.fs_ops_per_commit": "count", "table.fs_ops_per_read": "count",
    "table.files_per_read": "count", "table.write_amp": "ratio", "table.space_amp": "ratio",
    "stream.triggers": "count",
}
END_TO_END = ["setup_s", "pass_s", "op_ms_p50", "peak_heap_mb"]
PER_LAYER = [k for k in UNITS if k not in END_TO_END]
# layer self times: reported in the trace file and by trace_tool.py, not in
# the result line, because a layer a workload never calls reads exactly 0
LAYER_TIMES = ["bank_etl", "dq", "sink", "charts", "dedup", "similarity", "text",
               "table", "stream", "query", "plans", "check", "pass"]


def percentile(xs, q):
    """Linear interpolation between closest ranks (numpy's default)."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def check_ops(rec, expect):
    """Each operation with whether its output matched: an exception, a
    failed assertion or a digest that differs from DuckDB's is a failure."""
    out = []
    for op in rec["ops"]:
        why = None
        if "error" in op:
            why = op["error"]
        elif "assert" in op:
            why = None if op["assert"] else f"assertion: {op['detail']}"
        elif "oracle" in op:
            e = expect.get(op["oracle"], {"error": "no oracle answer"})
            if "error" in e:
                why = f"oracle: {e['error']}"
            else:
                got = {k: op[k] for k in ("cols", "rows", "digest")}
                want = {k: e[k] for k in ("cols", "rows", "digest")}
                if got != want:
                    why = f"got {got} want {want}"
        out.append({"name": op["name"], "pass": op["pass"], "ok": why is None, "why": why})
    return out


def end_to_end(rec):
    """The first pass: the job as it runs in a fresh process."""
    first = rec["passes"][0]
    ops = [o["ms"] for o in rec["ops"]
           if o["pass"] == first["pass"] and o["kind"] == "query" and "error" not in o]
    return {
        "setup_s": rec["setup_s"],
        "pass_s": first["pass_ms"] / 1000.0,
        "op_ms_p50": percentile(ops, 0.5),
        "peak_heap_mb": first["heap_mb"],
    }


def _layer(name):
    return name.split(".", 1)[0]


def per_pass(rec):
    """Per pass: counts, layer self times and derived ratios."""
    spans = rec["spans"]
    child_ms = {}
    for s in spans:
        if s["parent"] >= 0:
            child_ms[s["parent"]] = child_ms.get(s["parent"], 0.0) + s["end_ms"] - s["start_ms"]
    ops = rec["ops"]
    out = []
    for p in rec["passes"]:
        n = p["pass"]
        ss = [s for s in spans if s["pass"] == n]
        root = next(s for s in ss if s["name"] == "pass")
        # the pass's work: its span less the output checks run inside it
        checks = [s for s in ss if s["name"].startswith("check.")]
        c = {k: v - sum(s["counts"].get(k, 0.0) for s in checks) for k, v in root["counts"].items()}
        m = {k: c.get(k, 0.0) for k in UNITS if k.split(".")[0] in ("sources", "plans", "exec")}
        m["plans.build_ms"] = sum(s["end_ms"] - s["start_ms"] for s in ss if s["name"] == "plans.build")
        self_ms = {}
        for s in ss:
            own = s["end_ms"] - s["start_ms"] - child_ms.get(s["id"], 0.0)
            self_ms[_layer(s["name"])] = self_ms.get(_layer(s["name"]), 0.0) + own
        wall_s = (root["end_ms"] - root["start_ms"]
                  - sum(s["end_ms"] - s["start_ms"] for s in checks)) / 1000.0
        m["exec.core_busy_ratio"] = c.get("exec.task_s", 0.0) / (wall_s * rec["cores"])
        m["exec.cached_bytes"] = p.get("cached_bytes", 0)

        def total(prefix, key):
            return sum(s["counts"].get(key, 0.0) for s in ss if s["name"].startswith(prefix))

        def count(name):
            return sum(1 for s in ss if s["name"] == name)

        m["bank_etl.jobs"] = total("bank_etl.", "exec.jobs")
        m["dq.violations"] = max(0, p.get("dq_violations", 0))
        m["sink.bytes_written"] = total("sink.", "io.bytes_written")
        m["sink.files_written"] = total("sink.", "io.files_written")
        rows = {o["name"]: o.get("rows", 0) for o in ops if o["pass"] == n}
        m["dedup.candidate_pairs"] = rows.get("q43_lsh_candidates", 0)
        m["dedup.confirmed_pairs"] = rows.get("q41_ngram_jaccard", 0)
        m["dedup.pair_yield"] = m["dedup.confirmed_pairs"] / max(1, m["dedup.candidate_pairs"])
        m["similarity.recall_at_5"] = max(0.0, p.get("recall_at_5", 0.0))
        commits, reads = count("table.commit"), count("table.read")
        m["table.files_per_commit"] = total("table.commit", "io.files_written") / max(1, commits)
        m["table.bytes_per_commit"] = total("table.commit", "io.bytes_written") / max(1, commits)
        m["table.fs_ops_per_commit"] = total("table.commit", "fs.ops") / max(1, commits)
        m["table.fs_ops_per_read"] = total("table.read", "fs.ops") / max(1, reads)
        m["table.files_per_read"] = total("table.read", "sources.files_read") / max(1, reads)
        m["table.write_amp"] = p.get("write_amp", 0.0)
        m["table.space_amp"] = p.get("space_amp", 0.0)
        m["stream.triggers"] = total("stream.", "stream.triggers")
        # layer self times and the streaming trigger breakdown (trace file only)
        for layer in LAYER_TIMES:
            m[f"{layer}.self_ms"] = self_ms.get(layer, 0.0)
        for k in ("latest_offset", "get_batch", "query_planning", "add_batch", "wal_commit",
                  "commit_offsets", "trigger_execution", "state_commit"):
            m[f"stream.{k}_ms"] = total("stream.", f"stream.{k}_ms")
        m["table.compact_ms"] = sum(s["end_ms"] - s["start_ms"] for s in ss if s["name"] == "table.compact")
        m["table.vacuum_ms"] = sum(s["end_ms"] - s["start_ms"] for s in ss if s["name"] == "table.vacuum")
        m["bank_etl.build_ms"] = sum(s["end_ms"] - s["start_ms"] for s in ss if s["name"] == "bank_etl.build")
        out.append(m)
    return out


def per_layer(rec):
    """Every per-layer figure of the first pass (the one the end-to-end
    metrics describe), plus the jobs and tasks of every pass and, when
    they differ between passes, a note saying so."""
    rows = per_pass(rec)
    layer = rows[0]
    extra = {"passes": len(rows),
             "jobs_per_pass": [r["exec.jobs"] for r in rows],
             "tasks_per_pass": [r["exec.tasks"] for r in rows],
             "stream.trigger_ms_p50": percentile(rec.get("trigger_ms", []), 0.5)}
    if len(set(extra["jobs_per_pass"])) > 1 or len(set(extra["tasks_per_pass"])) > 1:
        extra["repeat_differs"] = (f"jobs {extra['jobs_per_pass']} tasks "
                                   f"{extra['tasks_per_pass']} differ between passes")
    return layer, extra
