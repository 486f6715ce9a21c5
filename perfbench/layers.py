"""Per-layer numbers of a traced run, computed from the harness's raw
spans and listener events.

Each op's wall time [start, end] is split without overlap, so the layer
self times of an op sum exactly to its wall time:

* exec: time covered by the op's Spark jobs (its job group);
* plan: Catalyst analysis/optimization/planning phases not under a job;
* entry (query ops): the rest of the query's construction call;
* codegen (query ops): CodegenMetrics' compile time, taken from the rest
  of the checksum action (whole-stage compiles run on the client thread
  before the jobs they feed);
* unattributed: what is left of the action (result fetch, scheduling
  gaps) -- the part no named layer accounts for.

ETL batch ops are split by their pipeline steps instead (read, ingest,
transform, commit, maintain, serve, head_read), which tile the op.
"""

import statistics

from stats import clip, self_time, union_ms

STEP_METRIC = {
    "read": "sources.read_ms", "ingest": "etl.ingest_ms", "transform": "etl.transform_ms",
    "commit": "ledger.commit_ms", "maintain": "vector.maintain_ms",
    "serve": "vector.serve_ms", "head_read": "ledger.read_ms",
}
JOB_SUMS = {
    "exec.stages": "stages", "exec.tasks": "tasks", "exec.failed_tasks": "failed_tasks",
    "exec.task_run_ms": "task_run_ms", "exec.task_cpu_ms": "task_cpu_ms",
    "exec.gc_ms": "gc_ms", "scan.records_read": "records_read",
    "scan.bytes_read": "bytes_read", "shuffle.write_bytes": "shuffle_write_bytes",
    "shuffle.read_bytes": "shuffle_read_bytes", "shuffle.fetch_wait_ms": "fetch_wait_ms",
    "memory.spill_bytes": "spill_bytes",
}
PHASES = {"analysis": "plan.analysis_ms", "optimization": "plan.optimizer_ms",
          "planning": "plan.planning_ms"}
# the share of op wall time the named layers must account for
ATTRIBUTION_TOLERANCE = 0.9


def split_op(op, jobs, queries):
    """Self times of one op's layers (ms); they sum to the op's wall."""
    t0, t2 = op["start_ms"], op["end_ms"]
    t1 = op.get("built_ms", t0)
    job_iv = clip([(j["start_ms"], j["end_ms"]) for j in jobs], t0, t2)
    phase_iv = clip([tuple(q[p]) for q in queries for p in PHASES], t0, t2)
    children = job_iv + phase_iv
    out = {"exec": union_ms(job_iv),
           "plan": union_ms(children) - union_ms(job_iv)}
    if "steps" in op:  # ETL batch: steps tile the op
        covered = union_ms(clip([tuple(v) for v in op["steps"].values()], t0, t2))
        return {"steps": covered, "unattributed": (t2 - t0) - covered}
    out["entry"] = self_time((t0, t1), children)
    rest = self_time((t1, t2), children)
    # Janino compiles run on the client thread before the op's jobs start
    out["codegen"] = min(op.get("compile_ms", 0), rest)
    out["unattributed"] = rest - out["codegen"]
    return out


def per_layer(raw, spec, cores):
    """(run totals by layer metric name, one row of self times per op)."""
    trace = raw["trace"]
    ops = raw["ops"]
    jobs_by_group = {}
    for j in trace["jobs"]:
        jobs_by_group.setdefault(j["group"], []).append(j)
    m = {k: 0 for k in JOB_SUMS}
    m.update({k: 0.0 for k in PHASES.values()})
    m.update({k: 0.0 for k in STEP_METRIC.values()})
    m.update({"entry.build_ms": 0.0, "entry.eager_jobs": 0, "exec.jobs": 0,
              "codegen.compiles": 0, "codegen.compile_ms": 0.0, "memory.peak_exec_mb": 0.0,
              "etl.quarantined": 0, "ledger.files_written": 0, "ledger.files_carried": 0})
    wall = attributed = result_rows = 0
    families = {}
    rows = []
    for op in ops:
        if "start_ms" not in op:
            continue
        t0, t2 = op["start_ms"], op["end_ms"]
        jobs = jobs_by_group.get(op.get("group"), [])
        qs = [q for q in trace["queries"] if t0 <= q["analysis"][0] <= t2]
        wall += t2 - t0
        parts = split_op(op, jobs, qs)
        attributed += (t2 - t0) - parts["unattributed"]
        t1 = op.get("built_ms", t0)
        eager = sum(1 for j in jobs if t0 <= j["start_ms"] < t1)
        rows.append(dict(parts, name=op["name"], wall=t2 - t0, jobs=len(jobs), eager_jobs=eager))
        m["exec.jobs"] += len(jobs)
        for k, f in JOB_SUMS.items():
            m[k] += sum(j[f] for j in jobs)
        m["memory.peak_exec_mb"] = max([m["memory.peak_exec_mb"]] +
                                       [j["peak_exec_bytes"] / 1e6 for j in jobs])
        for q in qs:
            for p, k in PHASES.items():
                m[k] += q[p][1] - q[p][0]
        m["codegen.compiles"] += op.get("compiles", 0)
        m["codegen.compile_ms"] += op.get("compile_ms", 0)
        result_rows += op.get("rows", 0) + op.get("knn_rows", 0) + op.get("head_rows", 0)
        if "steps" in op:
            for s, (a, b) in op["steps"].items():
                m[STEP_METRIC[s]] += b - a
            for k in ("etl.quarantined", "ledger.files_written", "ledger.files_carried"):
                m[k] += op.get(k.split(".")[1], 0)
        else:
            m["entry.build_ms"] += t1 - t0
            m["entry.eager_jobs"] += eager
            fam = spec.get("families", {}).get(op["name"], "ops")
            families[fam] = families.get(fam, 0.0) + op["ms"] / 1000.0
    m["exec.busy_share"] = m["exec.task_run_ms"] / max(wall * cores, 1)
    m["scan.rows_per_result"] = m["scan.records_read"] / max(result_rows, 1)
    for fam in ("ops", "dedup", "text", "vector", "streaming", "etl"):
        m[f"family.{fam}_s"] = families.get(fam, 0.0)
    artifacts = {}
    for s in raw["setups"]:
        for a, v in s["artifacts_ms"].items():
            artifacts.setdefault(a, []).append(v)
    for a, vs in artifacts.items():
        m[f"standing.build_ms.{a}"] = statistics.median(vs)
    m["standing.cached_mb"] = raw["standing_bytes"] / 1e6
    if "etl" in raw:
        e = raw["etl"]
        m["ledger.bytes_written"] = e["bytes_end"] - e["bytes_start"]
    m["trace.wall_s"] = raw["wall_ms"] / 1000.0
    m["trace.attributed_share"] = attributed / max(wall, 1)
    return m, rows
