"""Per-layer metrics and the traced-run artifact.

Every per-layer metric except ``session.start_s`` is reported twice: the
bare name is the cold pass, ``<name>.warm`` the median over warm passes.
Layers a workload does not touch report 0.
"""

from __future__ import annotations

import json
import statistics
from datetime import datetime

from spans import BUILD_SITES, attribute, read_event_log

# name -> unit, for every metric with a cold and a warm value
PASS_METRICS = {
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    **{f"build_jobs.{site}": "count" for site in BUILD_SITES},
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.codegen.compiles": "count",
    "exec.codegen.compile_ms": "ms",
    "exec.driver_only_s": "s",
    "exec.executor.run_s": "s",
    "exec.executor.cpu_s": "s",
    "exec.executor.gc_s": "s",
    "exec.shuffle.read_bytes": "bytes",
    "exec.shuffle.write_bytes": "bytes",
    "exec.spill.disk_bytes": "bytes",
    "exec.python.ms": "ms",
    "exec.python.bytes": "bytes",
    "sources.scan_bytes": "bytes",
    "sources.scan_rows": "count",
    "operators.cachereg.storage_mb": "MB",
    "operators.cachereg.pin_hit_stages": "count",
    "streaming.batches": "count",
    "streaming.trigger_ms": "ms",
    "streaming.commit_ms": "ms",
    "streaming.state_partitions": "count",
    "streaming.state_rows": "count",
    "streaming.scratch.bytes": "bytes",
    "sinks.write_s": "s",
    "sinks.files": "count",
    "sinks.bytes": "bytes",
    "sinks.write_amp": "ratio",
    "schemas.evolve_s": "s",
    "sources.ingest.rows": "count",
    "sources.ingest.quarantined_rows": "count",
}

METRIC_UNITS = {"session.start_s": "s"}
for _name, _unit in PASS_METRICS.items():
    METRIC_UNITS[_name] = _unit
    METRIC_UNITS[f"{_name}.warm"] = _unit


def _stages(spans):
    seen, out = set(), []
    for s in spans:
        for j in s["jobs"]:
            for st in j["stages"]:
                if st["id"] not in seen:
                    seen.add(st["id"])
                    out.append(st)
    return out


def _pass_values(spans, mark, stream_batches, admitted_bytes, pin_hits) -> dict:
    build = [s for s in spans if s["kind"] == "build"]
    action = [s for s in spans if s["kind"] == "action"]
    stages = _stages(spans)
    v = {
        "operators.build_s": sum(s["wall_s"] for s in build),
        "operators.build_jobs": sum(len(s["jobs"]) for s in build),
        "exec.s": sum(s["wall_s"] for s in action),
        "exec.jobs": sum(len(s["jobs"]) for s in action),
        "exec.stages": len(stages),
        "exec.tasks": sum(st["tasks"] for st in stages),
        "exec.codegen.compiles": sum(s["compiles"] for s in spans),
        "exec.codegen.compile_ms": sum(s["compile_ms"] for s in spans),
        "exec.driver_only_s": sum(s["wall_s"] - s["stage_s"] for s in action),
        "exec.executor.run_s": sum(st["run_s"] for st in stages),
        "exec.executor.cpu_s": sum(st["cpu_s"] for st in stages),
        "exec.executor.gc_s": sum(st["gc_s"] for st in stages),
        "exec.shuffle.read_bytes": sum(st["shuffle_read"] for st in stages),
        "exec.shuffle.write_bytes": sum(st["shuffle_write"] for st in stages),
        "exec.spill.disk_bytes": sum(st["spill_disk"] for st in stages),
        "exec.python.ms": sum(st["python_ms"] for st in stages),
        "exec.python.bytes": sum(st["python_bytes"] for st in stages),
        "sources.scan_bytes": sum(st["scan_bytes"] for st in stages),
        "sources.scan_rows": sum(st["scan_rows"] for st in stages),
        "operators.cachereg.storage_mb": mark.get("storage_mb", 0.0),
        "operators.cachereg.pin_hit_stages": sum(
            1 for st in stages if st["id"] in pin_hits
        ),
        "streaming.batches": len(stream_batches),
        "streaming.trigger_ms": sum(b["trigger_ms"] for b in stream_batches),
        "streaming.commit_ms": sum(b["commit_ms"] for b in stream_batches),
        "streaming.state_partitions": sum(b["state_partitions"] for b in stream_batches),
        "streaming.state_rows": sum(b["state_rows"] for b in stream_batches),
        "streaming.scratch.bytes": mark.get("scratch_bytes", 0),
        "sinks.write_s": sum(
            s["wall_s"]
            for s in build
            if s["query"] == "land" or s["query"].startswith("sink.")
        ),
        "sinks.files": mark.get("sink_files", 0),
        "sinks.bytes": mark.get("sink_bytes", 0),
        "schemas.evolve_s": mark.get("evolve_s", 0.0),
        "sources.ingest.rows": mark.get("rows", 0),
        "sources.ingest.quarantined_rows": mark.get("quarantined", 0),
    }
    for site in BUILD_SITES:
        v[f"build_jobs.{site}"] = sum(
            1 for s in build for j in s["jobs"] if j["site"] == site
        )
    written = v["sinks.bytes"] + v["streaming.scratch.bytes"]
    v["sinks.write_amp"] = written / admitted_bytes if admitted_bytes else 0.0
    return v


def _pin_hits(log) -> set:
    """Stages that read an RDD some earlier stage had already persisted."""
    persisted, hits = set(), set()
    stages = sorted(
        (st for j in log["jobs"] for st in j["stages"]), key=lambda st: st["start"]
    )
    for st in stages:
        if persisted.intersection(st["cached_rdds"]):
            hits.add(st["id"])
        persisted.update(st["cached_rdds"])
    return hits


def analyse(rec, ctx, passes, log_dir) -> list[dict]:
    """Attribute the event log to spans; return per-pass metric values."""
    log = read_event_log(log_dir)
    attribute(rec.spans, log)
    rec.log = log
    pin_hits = _pin_hits(log)
    marks = {m["pass"]: m for m in rec.pass_marks}
    admitted = getattr(ctx, "admitted_bytes", 0)
    out = []
    for p in range(passes):
        spans = [s for s in rec.spans if s["pass"] == p]
        lo = min(s["start"] for s in spans)
        hi = max(s["end"] for s in spans)
        batches = [b for b in rec.stream.batches if lo <= b["at"] <= hi]
        out.append(_pass_values(spans, marks.get(p, {}), batches, admitted, pin_hits))
    return out


def per_layer(rec, ctx, passes, log_dir, session_start_s) -> dict:
    values = analyse(rec, ctx, passes, log_dir)
    metrics = {"session.start_s": (session_start_s, "s")}
    for name, unit in PASS_METRICS.items():
        metrics[name] = (values[0][name], unit)
        metrics[f"{name}.warm"] = (
            statistics.median(v[name] for v in values[1:]),
            unit,
        )
    rec.per_pass = values
    return metrics


def _span_view(s) -> dict:
    return {
        "pass": s["pass"],
        "kind": s["kind"],
        "query": s["query"],
        "wall_s": s["wall_s"],
        "self_s": s["self_s"],
        "stage_s": s["stage_s"],
        "compiles": s["compiles"],
        "compile_ms": s["compile_ms"],
        "jobs": [
            {
                "id": j["id"],
                "site": j["site"],
                "wall_s": (j["end"] - j["start"]) / 1000.0,
                "stages": [
                    {
                        k: st[k]
                        for k in (
                            "id",
                            "tasks",
                            "run_s",
                            "cpu_s",
                            "shuffle_read",
                            "shuffle_write",
                            "scan_bytes",
                        )
                    }
                    | {"wall_s": (st["end"] - st["start"]) / 1000.0}
                    for st in j["stages"]
                ],
            }
            for j in s["jobs"]
        ],
    }


def _overhead(detail, history) -> dict:
    """Traced minus untraced cold/warm wall and CPU time, against the
    median of this checkout's untraced runs of the same workload (None
    when there are none yet)."""
    try:
        with open(history) as f:
            runs = [json.loads(line) for line in f if line.strip()]
    except OSError:
        runs = []
    out: dict = {"untraced_runs": len(runs)}
    for k in ("cold_s", "warm_s", "cold_cpu_s", "warm_cpu_s"):
        # runs recorded by an older harness may lack a key
        base = [r[k] for r in runs if k in r]
        out[k] = detail[k] - statistics.median(base) if base else None
    return out


def artifact(rec, ctx, detail, history) -> dict:
    """The traced run's record: spans (query > call/action > job > stage)
    with self times, per-pass layer values, per-query facts, streaming
    progress per drain, and the tracing overhead."""
    queries: dict[str, dict] = {}
    for s in rec.spans:
        q = queries.setdefault(s["query"], {})
        key = "cold" if s["pass"] == 0 else "warm"
        slot = q.setdefault(key, {"build_jobs": [], "exec_jobs": [], "compiles": []})
        slot["build_jobs" if s["kind"] == "build" else "exec_jobs"].append(len(s["jobs"]))
        slot["compiles"].append(s["compiles"])
    drains = []
    for b in rec.stream.batches:
        drains.append(b | {"at": datetime.fromtimestamp(b["at"]).isoformat()})
    classes = [v["exec.codegen.compiles"] for v in rec.per_pass]
    return {
        "detail": detail,
        "codegen": {
            "cache_entries": rec.codegen_cache,
            "compiled_classes_per_pass": classes,
        },
        "overhead": _overhead(detail, history),
        "per_pass": rec.per_pass,
        "queries": queries,
        "streaming_batches": drains,
        "spans": [_span_view(s) for s in rec.spans],
    }
