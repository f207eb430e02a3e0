"""``pipeline.*`` layer metrics from a Spark event log.

The log must be written uncompressed and in one file
(``spark.eventLog.compress=false``, ``spark.eventLog.rolling.enabled=false``);
Spark 4.1 defaults to zstd and rolling files. Only tasks that ran inside
the ``[t_from_ms, t_to_ms]`` window (epoch milliseconds, the timed jobs)
count, so warm-up jobs in the same application are left out.
"""

from __future__ import annotations

import json
import statistics

#: SQL metrics the Python exec nodes post on every task (all in ms or bytes).
PY_METRICS = {
    "time to start Python workers": "start_ms",
    "time to initialize Python workers": "init_ms",
    "time to run Python workers": "run_ms",
    "data sent to Python workers": "in_bytes",
    "data returned from Python workers": "out_bytes",
}


def read_events(path: str):
    with open(path) as f:
        for line in f:
            if line.strip():
                yield json.loads(line)


def pipeline_metrics(path: str, t_from_ms: int, t_to_ms: int,
                     cores: int) -> dict:
    runs, failures, gc_ms, shuffle_b = [], 0, 0, 0
    py = dict.fromkeys(PY_METRICS.values(), 0)
    stage_wall_ms = 0
    for ev in read_events(path):
        kind = ev.get("Event")
        if kind == "SparkListenerTaskEnd":
            info = ev["Task Info"]
            if not t_from_ms <= info["Launch Time"] <= t_to_ms:
                continue
            if ev["Task End Reason"]["Reason"] != "Success":
                failures += 1
            tm = ev.get("Task Metrics") or {}
            runs.append(tm.get("Executor Run Time", 0) / 1000)
            gc_ms += tm.get("JVM GC Time", 0)
            shuffle_b += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            for acc in info.get("Accumulables", []):
                key = PY_METRICS.get(acc.get("Name"))
                if key is not None:
                    py[key] += int(acc.get("Update") or 0)
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            start, end = si.get("Submission Time"), si.get("Completion Time")
            if start is not None and end is not None \
                    and t_from_ms <= start <= t_to_ms:
                stage_wall_ms += end - start
    busy = sum(runs)
    mean = busy / len(runs) if runs else 0.0
    return {
        "pipeline.tasks": len(runs),
        "pipeline.task_failures": failures,
        "pipeline.task_run_p50_s": statistics.median(runs) if runs else 0.0,
        "pipeline.task_run_max_s": max(runs, default=0.0),
        "pipeline.task_skew": max(runs) / mean if mean else 0.0,
        "pipeline.core_idle_frac": (
            1 - busy / (cores * stage_wall_ms / 1000)
            if stage_wall_ms else 0.0),
        "pipeline.gc_s": gc_ms / 1000,
        "pipeline.shuffle_mb": shuffle_b / 1e6,
        "pipeline.py_start_s": (py["start_ms"] + py["init_ms"]) / 1000,
        "pipeline.py_run_s": py["run_ms"] / 1000,
        "pipeline.py_in_mb": py["in_bytes"] / 1e6,
        "pipeline.py_out_mb": py["out_bytes"] / 1e6,
    }
