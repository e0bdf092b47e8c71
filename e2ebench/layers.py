"""Per-layer metrics of a traced run: means per traced op.

Jobs are charged to an op by the ``e2e|<op>|<span>`` description the
tracer set; a job with no such description (a thread the tracer did not
reach) is charged to the op whose wall interval contains its submission.
A stage belongs to the first job that lists it.
"""

from __future__ import annotations

import statistics

import eventlog
from tracing import DESC_PREFIX, FS_COUNTS

DAILY_STAGES = ["ingest", "returns", "factor_model", "factor_cov", "benchmark", "reversal", "betas", "portfolio"]
BACKFILL_FLOWS = [
    "calendar_flow", "universe_flow", "stock_prices_flow", "etf_prices_flow", "returns_flow",
    "factor_model_flow", "factor_covariances_flow", "benchmark_flow", "reversal_flow",
    "betas_flow", "portfolio_weights_flow",
]
PROGRAM_SPANS = ("io.", "catalog.", "flow.")

NAMES = (
    ["session.start_s", "io.load_table.calls", "io.load_table.self_s",
     "queries.build_s", "queries.collect_s", "queries.result_mb",
     "spark.jobs", "spark.stages", "spark.tasks", "spark.driver_s",
     "spark.exec_run_s", "spark.exec_cpu_s", "spark.gc_s", "spark.shuffle_write_mb", "spark.spill_mb",
     "python.boot_s", "python.init_s", "python.run_s", "python.sent_mb", "python.received_mb"]
    + [f"pipelines.daily.{s}_s" for s in DAILY_STAGES]
    + ["pipelines.daily.overlap"]
    + [f"pipelines.backfill.{f}_s" for f in BACKFILL_FLOWS]
    + ["catalog.upsert.calls", "catalog.upsert.self_s", "catalog.upsert.fast_ratio",
       "catalog.table.calls", "catalog.table.self_s"]
    + [f"catalog.fs.{k}" for k in FS_COUNTS]
    + ["catalog.files_written", "trace.overhead_share", "trace.unexplained_share"]
)
UNITS = {"calls": "count", "jobs": "count", "stages": "count", "tasks": "count",
         "overlap": "ratio", "fast_ratio": "ratio", "files_written": "count",
         "overhead_share": "ratio", "unexplained_share": "ratio"}


def unit_of(name: str) -> str:
    last = name.rsplit(".", 1)[-1]
    if name.startswith("catalog.fs."):
        return "count"
    if last.endswith("_mb"):
        return "MB"
    if last.endswith("_s"):
        return "s"
    return UNITS[last]


def _mean(values) -> float:
    values = list(values)
    return statistics.fmean(values) if values else 0.0


def charge_jobs(jobs: dict, roots: dict) -> dict[str, list[dict]]:
    """op id -> its jobs. ``roots`` maps op id -> root span."""
    by_op: dict[str, list[dict]] = {op: [] for op in roots}
    for job in jobs.values():
        desc = job["desc"] or ""
        op = desc[len(DESC_PREFIX):].split("|")[0] if desc.startswith(DESC_PREFIX) else None
        if op is None:
            op = next((o for o, r in roots.items() if r.t0 <= job["t0"] <= r.t1), None)
        if op in by_op:
            job["sid"] = int(desc.rsplit("|", 1)[1]) if desc.startswith(DESC_PREFIX) else 0
            by_op[op].append(job)
    return by_op


def op_layers(root, spans, jobs: list[dict], fs) -> dict:
    wall = root.t1 - root.t0
    own = [st for j in jobs for st in j["own"]]
    tot = lambda key: sum(st.get(key, 0.0) for st in own)  # noqa: E731
    job_iv = [(j["t0"], j["t1"]) for j in jobs]
    out = {
        "spark.jobs": len(jobs),
        "spark.stages": sum(1 for st in own if st.get("tasks")),
        "spark.tasks": tot("tasks"),
        "spark.driver_s": wall - eventlog.union_s(job_iv, root.t0, root.t1),
        "spark.exec_run_s": tot("run_s"),
        "spark.exec_cpu_s": tot("cpu_s"),
        "spark.gc_s": tot("gc_s"),
        "spark.shuffle_write_mb": tot("shuffle_write_bytes") / 1e6,
        "spark.spill_mb": tot("spill_bytes") / 1e6,
        "python.boot_s": tot("py_boot"),
        "python.init_s": tot("py_init"),
        "python.run_s": tot("py_run"),
        "python.sent_mb": tot("py_sent") / 1e6,
        "python.received_mb": tot("py_received") / 1e6,
    }
    for name in ("io.load_table", "catalog.upsert", "catalog.table"):
        mine = [s for s in spans if s.name == name]
        out[f"{name}.calls"] = len(mine)
        out[f"{name}.self_s"] = sum(s.self_s for s in mine)
    # an upsert is on the fast path when no job under it wrote files
    parent = {s.sid: s.parent for s in spans}
    writers = set()
    for j in jobs:
        if sum(st.get("output_bytes", 0.0) + st.get("files_written", 0.0) for st in j["own"]) > 0:
            sid = j["sid"]
            while sid:
                writers.add(sid)
                sid = parent.get(sid)
    out["catalog.upsert.fast"] = sum(1 for s in spans if s.name == "catalog.upsert" and s.sid not in writers)
    for k in FS_COUNTS:
        out[f"catalog.fs.{k}"] = fs.get((root.op, k), 0)
    covered = [(s.t0, s.t1) for s in spans if s.name.startswith(PROGRAM_SPANS)] + job_iv
    out["trace.unexplained_share"] = 1 - eventlog.union_s(covered, root.t0, root.t1) / wall
    return out


def summarize(ops, tracer, log_path: str, session_start_s: float, backfill_root=None) -> dict:
    """Every per-layer metric name -> mean per traced op (0 if unused)."""
    jobs, stages = eventlog.read(log_path)
    owner: dict[int, dict] = {}
    for jid in sorted(jobs):
        for s in jobs[jid]["stages"]:
            owner.setdefault(s, jobs[jid])
    for job in jobs.values():
        job["own"] = [stages[s] for s in job["stages"] if s in stages and owner[s] is job]
    traced = [op for op in ops if op.traced]
    roots = {op.id: op.extra["root"] for op in traced}
    if backfill_root is not None:
        roots["backfill"] = backfill_root
    by_op = charge_jobs(jobs, roots)
    per_op = []
    for op in traced:
        m = op_layers(roots[op.id], tracer.spans_of(op.id), by_op[op.id], tracer.fs)
        m["catalog.files_written"] = op.files
        m["queries.build_s"] = op.extra.get("build_s", 0.0)
        m["queries.collect_s"] = op.extra.get("collect_s", 0.0)
        m["queries.result_mb"] = op.out_bytes / 1e6 if "build_s" in op.extra else 0.0
        stage_times = op.extra.get("stages", {})
        for s in DAILY_STAGES:
            m[f"pipelines.daily.{s}_s"] = stage_times.get(s, 0.0)
        m["pipelines.daily.overlap"] = sum(stage_times.values()) / op.wall if stage_times else 0.0
        per_op.append(m)
    out = {name: _mean(m[name] for m in per_op) for name in NAMES if per_op and name in per_op[0]}
    upserts = sum(m["catalog.upsert.calls"] for m in per_op)
    out["catalog.upsert.fast_ratio"] = sum(m["catalog.upsert.fast"] for m in per_op) / upserts if upserts else 0.0
    out["session.start_s"] = session_start_s
    backfill = tracer.spans_of("backfill") if backfill_root is not None else []
    for f in BACKFILL_FLOWS:
        out[f"pipelines.backfill.{f}_s"] = sum(s.t1 - s.t0 for s in backfill if s.name == f"flow.{f}")
    out["trace.overhead_share"] = overhead_share(ops)
    return {name: out.get(name, 0.0) for name in NAMES}


def overhead_share(ops) -> float:
    """Median traced wall over median untraced wall of the same op kinds
    in the timed window, geometric mean over kinds, minus one."""
    ratios = []
    for kind in sorted({op.kind for op in ops if op.timed}):
        t = [op.wall for op in ops if op.timed and op.kind == kind and op.traced]
        u = [op.wall for op in ops if op.timed and op.kind == kind and not op.traced]
        if t and u:
            ratios.append(statistics.median(t) / statistics.median(u))
    return statistics.geometric_mean(ratios) - 1 if ratios else 0.0
