"""Roll a Spark event log up into per-layer metrics and spans.

The benchmark tags every build, action and reset it makes with the job
group ``pb|<workload>|<invocation id>|<phase>``. Jobs that carry no such
group (those started from driver threads that do not inherit it) are
attributed by time: in a closed loop with one client, a job submitted
inside an invocation's wall-clock window belongs to that invocation. They
are counted as ``exec.unattributed_jobs``.
"""

from __future__ import annotations

import glob
import json
import os

PY_METRICS = {
    "time to run Python workers": "operators.python_run_s",
    "time to start Python workers": "operators.python_boot_s",
    "time to initialize Python workers": "operators.python_init_s",
    "data sent to Python workers": "operators.python_bytes_sent",
    "data returned from Python workers": "operators.python_bytes_received",
}
GROUP_PREFIX = "pb|"


def read_event_log(log_dir: str) -> tuple[dict, dict]:
    """Jobs and stages (with their tasks' summed metrics) from every event
    log file under ``log_dir``."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    paths = sorted(glob.glob(os.path.join(log_dir, "*", "events_*")))
    paths += sorted(p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p))
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    jobs[ev["Job ID"]] = {
                        "group": group if group.startswith(GROUP_PREFIX) else None,
                        "start": ev["Submission Time"] / 1000.0,
                        "end": None,
                        "stages": [],
                    }
                    for sid in ev["Stage IDs"]:
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], _new_stage())
                    _add_task(st, ev)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], _new_stage())
                    st["start"] = (info.get("Submission Time") or 0) / 1000.0
                    st["end"] = (info.get("Completion Time") or 0) / 1000.0
    for sid, st in stages.items():
        job = jobs.get(stage_job.get(sid, -1))
        if job is not None and st["tasks"]:
            job["stages"].append(sid)
    return jobs, stages


def _new_stage() -> dict:
    return {"tasks": 0, "start": None, "end": None, "run_s": 0.0, "cpu_s": 0.0,
            "gc_s": 0.0, "shuffle_read": 0, "shuffle_write": 0, "spill": 0,
            "peak_mem": 0, "in_bytes": 0, "in_records": 0, "out_bytes": 0,
            "out_records": 0, "result_bytes": 0,
            **{k: 0.0 for k in PY_METRICS.values()}}


def _add_task(st: dict, ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    st["tasks"] += 1
    st["run_s"] += m.get("Executor Run Time", 0) / 1000.0
    st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
    sr = m.get("Shuffle Read Metrics") or {}
    st["shuffle_read"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    st["shuffle_write"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
    st["spill"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    peak = max(m.get("Peak Execution Memory", 0),
               m.get("Peak On Heap Execution Memory", 0) + m.get("Peak Off Heap Execution Memory", 0))
    st["peak_mem"] = max(st["peak_mem"], peak)
    st["in_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    st["in_records"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
    st["out_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    st["out_records"] += (m.get("Output Metrics") or {}).get("Records Written", 0)
    st["result_bytes"] += m.get("Result Size", 0)
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        key = PY_METRICS.get(acc.get("Name"))
        if key is not None:
            val = float(acc.get("Update") or 0)
            st[key] += val / 1000.0 if key.endswith("_s") else val


def _covered(interval: tuple[float, float], children: list[tuple[float, float]]) -> float:
    """Length of ``interval`` covered by the union of ``children``."""
    lo, hi = interval
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in children if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def rollup(workload: str, invocations: list[dict], jobs: dict,
           stages: dict) -> tuple[dict, list[dict]]:
    """Per-layer totals over the measured ``invocations`` and the span tree.

    Each invocation dict carries ``id``, ``name``, ``measured`` and a
    ``phases`` map of phase name → (start, end) wall-clock seconds.
    Returns (totals, spans); totals are sums over the measured invocations.
    """
    by_id = {inv["id"]: inv for inv in invocations}
    windows = sorted((inv["phases"]["build"][0], inv["end"], inv["id"]) for inv in invocations)
    t = {k: 0.0 for k in (
        "queries.build_jobs", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s",
        "exec.task_cpu_s", "exec.gc_s", "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
        "exec.spill_bytes", "exec.peak_exec_mem_bytes", "exec.unattributed_jobs",
        "io.scan_bytes", "io.scan_records", "io.write_bytes", "io.write_records",
        "action.result_bytes", "queries.build_self_s", "action.self_s",
        *PY_METRICS.values())}
    job_spans: dict[tuple[int, str], list[tuple[float, float]]] = {}
    spans: list[dict] = []
    for jid, job in sorted(jobs.items()):
        inv_id, phase = None, None
        if job["group"]:
            parts = job["group"].split("|")
            if len(parts) == 4 and parts[1] == workload and int(parts[2]) in by_id:
                inv_id, phase = int(parts[2]), parts[3]
        unattributed = inv_id is None
        if unattributed:
            for lo, hi, iid in windows:
                if lo <= job["start"] <= hi:
                    inv_id = iid
                    phase = next((p for p, (a, b) in by_id[iid]["phases"].items()
                                  if a <= job["start"] <= b), "build")
                    break
        if inv_id is None:
            continue
        end = job["end"] if job["end"] is not None else job["start"]
        job_spans.setdefault((inv_id, phase), []).append((job["start"], end))
        span_id = f"{inv_id}.{phase}.job{jid}"
        job_span = {"id": span_id, "parent": f"{inv_id}.{phase}", "inv": inv_id,
                    "kind": "job", "name": f"job {jid}", "start": job["start"], "end": end,
                    "unattributed": unattributed}
        spans.append(job_span)
        stage_iv = []
        for sid in job["stages"]:
            st = stages[sid]
            if st["start"] is not None:
                stage_iv.append((st["start"], st["end"]))
                spans.append({"id": f"{span_id}.stage{sid}", "parent": span_id, "inv": inv_id,
                              "kind": "stage", "name": f"stage {sid}", "start": st["start"],
                              "end": st["end"], "tasks": st["tasks"], "run_s": st["run_s"]})
        job_span["self_s"] = (end - job["start"]) - _covered((job["start"], end), stage_iv)
        if not by_id[inv_id]["measured"]:
            continue
        t["exec.jobs"] += 1
        t["exec.unattributed_jobs"] += unattributed
        t["queries.build_jobs"] += phase == "build"
        for sid in job["stages"]:
            st = stages[sid]
            t["exec.stages"] += 1
            t["exec.tasks"] += st["tasks"]
            t["exec.task_run_s"] += st["run_s"]
            t["exec.task_cpu_s"] += st["cpu_s"]
            t["exec.gc_s"] += st["gc_s"]
            t["exec.shuffle_read_bytes"] += st["shuffle_read"]
            t["exec.shuffle_write_bytes"] += st["shuffle_write"]
            t["exec.spill_bytes"] += st["spill"]
            t["exec.peak_exec_mem_bytes"] = max(t["exec.peak_exec_mem_bytes"], st["peak_mem"])
            t["io.scan_bytes"] += st["in_bytes"]
            t["io.scan_records"] += st["in_records"]
            t["io.write_bytes"] += st["out_bytes"]
            t["io.write_records"] += st["out_records"]
            if phase == "action":
                t["action.result_bytes"] += st["result_bytes"]
            for key in PY_METRICS.values():
                t[key] += st[key]
    for inv in invocations:
        start = inv["phases"]["build"][0]
        inv_span = {"id": str(inv["id"]), "parent": None, "inv": inv["id"], "kind": "invocation",
                    "name": inv["name"], "start": start, "end": inv["end"],
                    "measured": inv["measured"]}
        spans.append(inv_span)
        children = []
        for phase, (a, b) in inv["phases"].items():
            children.append((a, b))
            self_s = (b - a) - _covered((a, b), job_spans.get((inv["id"], phase), []))
            spans.append({"id": f"{inv['id']}.{phase}", "parent": str(inv["id"]), "inv": inv["id"],
                          "kind": phase, "name": f"{inv['name']} {phase}", "start": a, "end": b,
                          "self_s": self_s})
            if inv["measured"] and phase == "build":
                t["queries.build_self_s"] += self_s
            elif inv["measured"] and phase == "action":
                t["action.self_s"] += self_s
        inv_span["self_s"] = (inv["end"] - start) - _covered((start, inv["end"]), children)
    return t, spans
