"""Per-layer accounting of traced passes.

The harness records, per traced pass, each gate's wall interval (split into
build and action) and the events Spark's public listeners delivered: jobs
with task metrics summed over their stages, actions with planning phases and
final-plan counts, and streaming micro-batches with their phase durations
and state-operator progress. This module parents every event to the gate
that was running when it started, writes the result as spans, and sums
per-layer metrics per traced pass (the mean over traced passes).

Self time splits each gate's wall time with no overlap counted twice:
`self.exec_s` is time inside Spark jobs, `self.streaming_s` micro-batch time
outside jobs, `self.plans_s` planning-phase time outside both, and
`self.ops_s` the rest of the gate (driver work in the gate packs). The four
add up to the gates' wall time, which `trace.coverage` compares with the
pass wall time.
"""
import bisect

TOLERANCE_MS = 2  # listener times and gate starts are whole milliseconds

STREAM_PHASES = {
    "trigger_ms": "triggerExecution", "query_planning_ms": "queryPlanning",
    "add_batch_ms": "addBatch", "get_batch_ms": "getBatch",
    "latest_offset_ms": "latestOffset", "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
}


# every per-layer metric, so a layer a workload never touches reads 0
METRICS = (
    "ops.gates", "ops.failed", "ops.build_s", "ops.action_s",
    "plans.actions", "plans.analysis_ms", "plans.optimization_ms", "plans.planning_ms",
    "plans.wscg_ops", "plans.non_wscg_ops",
    "functions.native_exprs", "functions.fallback_exprs",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.job_wall_s", "exec.outside_jobs_s",
    "exec.run_s", "exec.cpu_s", "exec.gc_s", "exec.deser_s",
    "Tables.rows_read", "Tables.bytes_read",
    "shuffle.write_bytes", "shuffle.write_records", "shuffle.read_bytes",
    "shuffle.fetch_wait_ms", "shuffle.spill_bytes",
    "write.bytes", "write.records",
    "streaming.queries", "streaming.batches", "streaming.outside_batches_ms",
) + tuple(f"streaming.{k}" for k in STREAM_PHASES) + (
    "state.rows_total", "state.rows_updated", "state.commit_ms", "state.memory_bytes",
    "self.exec_s", "self.streaming_s", "self.plans_s", "self.ops_s",
    "trace.pass_s", "trace.unparented",
)


def unit(name):
    if "bytes" in name:
        return "bytes"
    if name.endswith(("core_busy", "coverage")):
        return "ratio"
    for suffix, u in (("_s", "s"), ("_ms", "ms")):
        if name.endswith(suffix):
            return u
    return "count"


def union(ivs, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in ivs if min(b, hi) > max(a, lo))
    total, cur = 0.0, None
    for a, b in clipped:
        if cur is None or a > cur[1]:
            if cur:
                total += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    if cur:
        total += cur[1] - cur[0]
    return total


class Gates:
    """Gate intervals of one pass, for parenting events by start time."""

    def __init__(self, gates, pass_index):
        self.rows = []
        for g in sorted(gates, key=lambda g: g["start_ms"]):
            start = g["start_ms"]
            build_end = start + g["build_s"] * 1000.0
            end = build_end + g["action_s"] * 1000.0
            self.rows.append({"id": f"p{pass_index}/{g['name']}", "name": g["name"],
                              "start": start, "build_end": build_end, "end": end,
                              "jobs": [], "batches": [], "phases": []})
        self.starts = [r["start"] for r in self.rows]

    def parent(self, t):
        i = bisect.bisect_right(self.starts, t + TOLERANCE_MS) - 1
        if i >= 0 and t <= self.rows[i]["end"] + TOLERANCE_MS:
            return self.rows[i]
        return None


def analyze(passes, traces, cores):
    by_pass = {t["pass"]: t for t in traces}
    totals, spans = dict.fromkeys(METRICS, 0.0), []

    def add(k, v):
        totals[k] += v

    for p in passes:
        t = by_pass[p["index"]]
        gates = Gates(p["gates"], p["index"])
        add("ops.gates", len(p["gates"]))
        add("ops.failed", sum(1 for g in p["gates"] if g["error"]))
        add("ops.build_s", sum(g["build_s"] for g in p["gates"]))
        add("ops.action_s", sum(g["action_s"] for g in p["gates"]))
        add("trace.pass_s", p["wall_s"])
        unparented = 0
        for j in t["jobs"]:
            end = j["end_ms"] if j["end_ms"] >= 0 else j["start_ms"]
            g = gates.parent(j["start_ms"])
            if g is None:
                unparented += 1
                continue
            g["jobs"].append((j["start_ms"], end))
            add("exec.jobs", 1)
            add("exec.stages", j["stages"])
            add("exec.tasks", j["tasks"])
            add("exec.run_s", j["run_ms"] / 1e3)
            add("exec.cpu_s", j["cpu_ns"] / 1e9)
            add("exec.gc_s", j["gc_ms"] / 1e3)
            add("exec.deser_s", j["deser_ms"] / 1e3)
            add("Tables.rows_read", j["input_records"])
            add("Tables.bytes_read", j["input_bytes"])
            add("shuffle.write_bytes", j["shuffle_write_bytes"])
            add("shuffle.write_records", j["shuffle_write_records"])
            add("shuffle.read_bytes", j["shuffle_read_bytes"])
            add("shuffle.fetch_wait_ms", j["fetch_wait_ms"])
            add("shuffle.spill_bytes", j["spill_bytes"])
            add("write.bytes", j["output_bytes"])
            add("write.records", j["output_records"])
            spans.append({"id": f"p{p['index']}/job{j['id']}", "parent": g["id"],
                          "kind": "job", "start_ms": j["start_ms"], "end_ms": end,
                          "counts": {k: j[k] for k in ("stages", "tasks", "input_records",
                                                       "shuffle_write_records",
                                                       "output_records")}})
        for a in t["actions"]:
            starts = [v[0] for v in a["phases"].values()]
            g = gates.parent(min(starts) if starts else a["seen_ms"])
            if g is None:
                unparented += 1
                continue
            add("plans.actions", 1)
            for ph in ("analysis", "optimization", "planning"):
                if ph in a["phases"]:
                    s, e = a["phases"][ph]
                    add(f"plans.{ph}_ms", e - s)
                    g["phases"].append((s, e))
                    spans.append({"id": f"{g['id']}/{ph}@{s}", "parent": g["id"],
                                  "kind": f"plan.{ph}", "start_ms": s, "end_ms": e})
            add("plans.wscg_ops", a["wscg_ops"])
            add("plans.non_wscg_ops", a["non_wscg_ops"])
            add("functions.native_exprs", a["native_exprs"])
            add("functions.fallback_exprs", a["fallback_exprs"])
        add("streaming.queries", t["queries_started"])
        for b in t["batches"]:
            g = gates.parent(b["start_ms"])
            if g is None:
                unparented += 1
                continue
            d = b["duration_ms"]
            end = b["start_ms"] + d.get("triggerExecution", 0)
            g["batches"].append((b["start_ms"], end))
            add("streaming.batches", 1)
            for k, phase in STREAM_PHASES.items():
                add(f"streaming.{k}", d.get(phase, 0))
            add("state.rows_total", b["state_rows_total"])
            add("state.rows_updated", b["state_rows_updated"])
            add("state.commit_ms", b["state_commit_ms"])
            add("state.memory_bytes", b["state_memory_bytes"])
            spans.append({"id": f"{g['id']}/batch@{b['start_ms']}", "parent": g["id"],
                          "kind": "microbatch", "start_ms": b["start_ms"], "end_ms": end,
                          "counts": {"state_rows_total": b["state_rows_total"],
                                     "state_rows_updated": b["state_rows_updated"]}})
        add("trace.unparented", unparented)
        for g in gates.rows:
            lo, hi = g["start"], g["end"]
            jobs = union(g["jobs"], lo, hi)
            jb = union(g["jobs"] + g["batches"], lo, hi)
            jbp = union(g["jobs"] + g["batches"] + g["phases"], lo, hi)
            add("exec.job_wall_s", jobs / 1e3)
            add("exec.outside_jobs_s", (hi - lo - jobs) / 1e3)
            add("self.exec_s", jobs / 1e3)
            add("self.streaming_s", (jb - jobs) / 1e3)
            add("self.plans_s", (jbp - jb) / 1e3)
            add("self.ops_s", (hi - lo - jbp) / 1e3)
            if g["batches"]:
                b0 = g["start"]
                add("streaming.outside_batches_ms",
                    g["build_end"] - b0 - union(g["batches"], b0, g["build_end"]))
            spans.append({"id": g["id"], "parent": None, "kind": "gate", "name": g["name"],
                          "start_ms": lo, "end_ms": hi,
                          "counts": {"jobs": len(g["jobs"]), "batches": len(g["batches"])}})
            spans.append({"id": g["id"] + "/build", "parent": g["id"], "kind": "build",
                          "start_ms": lo, "end_ms": g["build_end"]})
            spans.append({"id": g["id"] + "/action", "parent": g["id"], "kind": "action",
                          "start_ms": g["build_end"], "end_ms": hi})

    n = len(passes)
    per_pass = {k: v / n for k, v in totals.items()}
    wall = per_pass.get("exec.job_wall_s", 0.0)
    per_pass["exec.core_busy"] = per_pass.get("exec.run_s", 0.0) / (wall * cores) if wall else 0.0
    gate_wall = per_pass["ops.build_s"] + per_pass["ops.action_s"]
    per_pass["trace.coverage"] = gate_wall / per_pass["trace.pass_s"]
    return {k: (v, unit(k)) for k, v in sorted(per_pass.items())}, spans
