"""Per-layer report of a traced run.

Numbers come from three places: the benchmark's own timed calls (plan and
sink time), ``StreamingQuery.recentProgress`` (micro-batch phases) and the
Spark event log (per-stage executor time, GC, records, shuffle bytes, task
skew, Python boundary bytes). Every stage of a warm pass is attributed to
one program module:

- ``kernels.extract``: the fused split+extract MapInPandas stage;
- ``pipeline.extract_job``: the rest of the extraction plan (url shuffle,
  finalize UDF);
- ``pipeline.checkpoint``: stages of the stream drain that read or append
  the manifest or append ``extracted`` without running a Python stage;
- ``operators.*``: the stages of each registry leaf, by the leaf's module;
  the jobs ``dedup_components`` runs while its plan is built are the
  minhash pairing and the ``components_from_edges`` rounds.

The final JSON line carries ``PER_LAYER``: metrics every workload produces
(module shares and job counts are 0 where a workload does not run the
module). The full per-stage, per-leaf and per-batch tables are the detail
records printed before it.
"""

from __future__ import annotations

import re
import statistics
from pathlib import Path

from perfbench import eventlog

MODULES = (
    "kernels.extract",
    "pipeline.extract_job",
    "pipeline.checkpoint",
    "operators.dedup",
    "operators.textops",
    "operators.corpus_stats",
    "operators.traindata",
    "operators.similarity",
)

PER_LAYER = {
    "pipeline.session.start_s": "s",
    "pipeline.session.load_s": "s",
    "pipeline.session.cold_s": "s",
    "pipeline.session.gc_s": "s",
    "pipeline.session.first_task_s": "s",
    "pipeline.session.peak_rss_mb": "MB",
    "calls.plan_s": "s",
    "calls.sink_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.run_s": "s",
    "spark.cpu_s": "s",
    "spark.input_mb": "MB",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.task_skew": "ratio",
    "python.run_share": "share",
    "python.sent_mb": "MB",
    "python.recv_mb": "MB",
    "oracle.serial_s": "s",
    "oracle.useful_frac": "ratio",
    "trace.traced_wall_s": "s",
    "trace.untraced_wall_s": "s",
    "trace.overhead_s": "s",
    "streaming.stream_job.batches": "count",
    "streaming.stream_job.overhead_share": "share",
    **{f"{m}.run_share": "share" for m in MODULES},
    **{f"{m}.jobs": "count" for m in MODULES},
}

# "(N) Execute InsertIntoHadoopFsRelationCommand\nInput [k]: [...]\nArguments: <path>, ..."
_WRITE_RE = re.compile(r"Execute InsertIntoHadoopFsRelationCommand\n(?:[^\n]*\n){0,3}?Arguments: ([^,\s]+)")
_READ_RE = re.compile(r"Location: \w+ \[([^\]]*)\]")


def _job_kind(plan: str) -> str:
    """What a stream job reads or writes, from its physical plan."""
    written = " ".join(_WRITE_RE.findall(plan))
    if "_manifest" in written:
        return "manifest_append"
    if "extracted" in written:
        return "extracted_append"
    if "_manifest" in " ".join(_READ_RE.findall(plan)):
        return "manifest_read"
    return "other"


def _attribute(wl, rows: list[dict], plans: dict, passes) -> list[dict]:
    """Tag stage rows with pass, op, part, module and kind; drop stages that
    belong to no pass (input load, result checks)."""
    by_run = {p.run_id: p.tag for p in passes if p.run_id}
    leaves = getattr(wl, "leaves", {})
    out = []
    for r in rows:
        group = r["group"] or ""
        if group in by_run:  # jobs launched from foreachBatch
            ptag, op, part = by_run[group], "drain", "batch"
        elif group.count("|") == 2:
            ptag, op, part = group.split("|")
        else:
            continue
        if op == "check":
            continue
        plan = plans.get(r["sql_id"] or "", "")
        job_kind = _job_kind(plan) if op == "drain" else op
        if "MapInPandas" in r["scopes"]:
            module, kind = "kernels.extract", "split_extract"
        elif "ArrowEvalPython" in r["scopes"] and op in ("extract", "drain"):
            module, kind = "pipeline.extract_job", "finalize"
        elif op == "drain":
            module, kind = "pipeline.checkpoint", job_kind
        elif op == "extract":
            module, kind = "pipeline.extract_job", "url_shuffle" if "Exchange" in r["scopes"] else "other"
        else:
            module, kind = leaves.get(op, "other"), f"{op}.{part}"
        out.append(dict(r, pass_tag=ptag, op=op, part=part, module=module, kind=kind, job_kind=job_kind))
    return out


def _pass_metrics(stages: list[dict], p) -> dict:
    run = sum(s["run_s"] for s in stages)
    ops = [o for o in p.ops if o.name != "batch"]
    m = {
        "calls.plan_s": sum(o.plan_s for o in ops),
        "calls.sink_s": sum(o.exec_s for o in ops),
        "spark.jobs": len({s["job"] for s in stages}),
        "spark.stages": len(stages),
        "spark.tasks": sum(s["tasks"] for s in stages),
        "spark.run_s": run,
        "spark.cpu_s": sum(s["cpu_s"] for s in stages),
        "spark.input_mb": sum(s["input_mb"] for s in stages),
        "spark.shuffle_read_mb": sum(s["shuffle_read_mb"] for s in stages),
        "spark.shuffle_write_mb": sum(s["shuffle_write_mb"] for s in stages),
        "spark.task_skew": eventlog.task_skew(stages),
        "python.run_share": sum(s["run_s"] for s in stages if s["python"]) / run if run else 0.0,
        "python.sent_mb": sum(s["python_sent_mb"] for s in stages),
        "python.recv_mb": sum(s["python_recv_mb"] for s in stages),
        "streaming.stream_job.batches": len(p.progress),
    }
    trigger = sum(b["durationMs"]["triggerExecution"] for b in p.progress)
    add = sum(b["durationMs"].get("addBatch", 0) for b in p.progress)
    m["streaming.stream_job.overhead_share"] = (trigger - add) / trigger if trigger else 0.0
    for mod in MODULES:
        mine = [s for s in stages if s["module"] == mod]
        m[f"{mod}.run_share"] = sum(s["run_s"] for s in mine) / run if run else 0.0
        m[f"{mod}.jobs"] = len({s["job"] for s in mine})
    return m


_STAGE_FIELDS = (
    "tasks",
    "run_s",
    "cpu_s",
    "gc_s",
    "records_in",
    "records_out",
    "input_mb",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
    "python_run_s",
    "python_sent_mb",
    "python_recv_mb",
)


def _group_rows(stages: list[dict], key) -> list[dict]:
    """Sum stage fields per key; task skew over the group's heaviest stage."""
    groups: dict[tuple, list[dict]] = {}
    for s in stages:
        groups.setdefault(key(s), []).append(s)
    out = []
    for k, ss in groups.items():
        heavy = max(ss, key=lambda s: s["run_s"])
        rec = {"key": list(k), "stages": len(ss), "jobs": len({s["job"] for s in ss})}
        rec.update({f: sum(s[f] for s in ss) for f in _STAGE_FIELDS})
        rec.update(
            task_max_s=heavy["task_max_s"],
            task_median_s=heavy["task_median_s"],
            task_skew=eventlog.task_skew(ss),
        )
        out.append(rec)
    return out


def report(wl, log_dir: Path, *, warm, untraced, setups, cold_s, serial_s, slots, peak_rss_mb) -> tuple[dict, list[dict]]:
    """(per-layer metrics {name: (value, unit)}, detail records)."""
    (events,) = eventlog.read_apps(log_dir)  # exactly one traced session
    app, rows = eventlog.parse(events)
    stages = _attribute(wl, rows, app["plans"], warm)
    per_pass = [_pass_metrics([s for s in stages if s["pass_tag"] == p.tag], p) for p in warm]
    values = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}

    traced_wall = statistics.median(p.wall_s for p in warm)
    untraced_wall = statistics.median(p.wall_s for p in untraced)
    # the part of a pass the oracle reproduces (extract: the batch call, not the drain)
    oracle_wall = statistics.median(sum(o.wall_s for o in p.ops if o.name in wl.oracle_ops) for p in untraced)
    start_ms = app["start_ms"]
    launches = [r["first_launch_ms"] for r in rows if r["first_launch_ms"] is not None]
    py_launches = [r["first_launch_ms"] for r in rows if r["python"] and r["first_launch_ms"] is not None]
    values.update(
        {
            "pipeline.session.start_s": setups[0][0],
            "pipeline.session.load_s": setups[0][1],
            "pipeline.session.cold_s": cold_s,
            "pipeline.session.gc_s": sum(r["gc_s"] for r in rows),
            "pipeline.session.first_task_s": (min(launches) - start_ms) / 1e3,
            "pipeline.session.peak_rss_mb": peak_rss_mb,
            "oracle.serial_s": serial_s,
            "oracle.useful_frac": serial_s / (oracle_wall * slots),
            "trace.traced_wall_s": traced_wall,
            "trace.untraced_wall_s": untraced_wall,
            "trace.overhead_s": traced_wall - untraced_wall,
        }
    )
    metrics = {k: (values[k], unit) for k, unit in PER_LAYER.items()}

    records = [
        {
            "layer": "pipeline.session",
            "gc_s": values["pipeline.session.gc_s"],
            "first_task_s": values["pipeline.session.first_task_s"],
            "first_python_task_s": (min(py_launches) - start_ms) / 1e3 if py_launches else None,
            "stages_total": len(rows),
            "tasks_total": sum(r["tasks"] for r in rows),
        },
        {
            "layer": "trace",
            "traced_wall_s": traced_wall,
            "untraced_wall_s": untraced_wall,
            "overhead_s": traced_wall - untraced_wall,
            "overhead_frac": traced_wall / untraced_wall - 1,
        },
    ]
    # per stage kind (batch extract), per batch and job kind (drain), per leaf
    def key(s):
        if s["op"] == "drain":
            return (s["pass_tag"], s["module"], s["batch_id"], s["job_kind"])
        return (s["pass_tag"], s["module"], s["kind"])

    for rec in _group_rows(stages, key):
        records.append({"layer": rec["key"][1], "pass": rec["key"][0], "stage": rec["key"][2:], **rec})
    for p in warm:
        for op in p.ops:
            if op.name in ("batch", "drain"):
                continue
            mine = [s for s in stages if s["pass_tag"] == p.tag and s["op"] == op.name]
            records.append(
                {
                    "layer": getattr(wl, "leaves", {}).get(op.name, wl.name),
                    "pass": p.tag,
                    "leaf": op.name,
                    "plan_s": op.plan_s,
                    "exec_s": op.exec_s,
                    "jobs": len({s["job"] for s in mine}),
                    "shuffle_mb": sum(s["shuffle_write_mb"] for s in mine),
                    "task_skew": eventlog.task_skew(mine),
                }
            )
        for i, b in enumerate(p.progress):
            records.append(
                {
                    "layer": "streaming.stream_job",
                    "pass": p.tag,
                    "batch": i,
                    "rows": b.get("numInputRows"),
                    **{f"{k}_ms": v for k, v in b["durationMs"].items()},
                }
            )
    return metrics, records
