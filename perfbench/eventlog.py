"""Spark event-log reader: jobs and stages per benchmark span, with their layers.

Reads the uncompressed JSON-lines log Spark writes with
``spark.eventLog.enabled=true`` and ``spark.eventLog.compress=false`` —
either one file or a rolling ``eventlog_v2_*`` directory of
``events_<n>_*`` files — using only the standard library.

``attribute`` gives each job to the innermost benchmark span whose
interval contains the job's submission time: the benchmark is a closed
loop with one client, so that span caused the job. This holds for the
jobs of a streaming micro-batch too, which run on the stream's own
thread. ``totals`` then sums, over a set of jobs, the layers the
ROADMAP names: jobs and stages (scheduling floor), executor run vs CPU
time, GC, shuffle bytes, input records, output bytes and the
Python-worker accumulables. ``driver_gap_s`` is the span time during
which no job ran: driver-side construction and orchestration.
"""

from __future__ import annotations

import json
import os
import re

from tracing import union_seconds

MB = 1 << 20

# Stage accumulable name -> (metric, scale into the metric's unit).
PYTHON_ACCUMULABLES = {
    "time to run Python workers": ("python.run_s", 1e-3),
    "time to start Python workers": ("python.start_s", 1e-3),
    "time to initialize Python workers": ("python.init_s", 1e-3),
    "data sent to Python workers": ("python.sent_mb", 1.0 / MB),
    "data returned from Python workers": ("python.returned_mb", 1.0 / MB),
}

_INTERNAL = {
    "internal.metrics.executorRunTime": ("executor_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_mb", 1.0 / MB),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_mb", 1.0 / MB),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_mb", 1.0 / MB),
    "internal.metrics.input.recordsRead": ("input_records", 1.0),
    "internal.metrics.output.bytesWritten": ("output_mb", 1.0 / MB),
}

STAGE_METRICS = (
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_write_mb",
    "shuffle_read_mb",
    "input_records",
    "output_mb",
) + tuple(m for m, _ in PYTHON_ACCUMULABLES.values())


def event_files(path: str) -> list[str]:
    """The log files of one application, in write order."""
    if os.path.isfile(path):
        return [path]
    names = [n for n in os.listdir(path) if n.startswith("events_")]
    return [os.path.join(path, n) for n in sorted(names, key=lambda n: int(re.match(r"events_(\d+)", n).group(1)))]


def find_app_log(log_dir: str) -> str:
    """The single application log under ``log_dir`` (file or rolling dir)."""
    entries = [e for e in os.listdir(log_dir) if not e.startswith(".")]
    if len(entries) != 1:
        raise RuntimeError(f"expected one application log in {log_dir}, found {entries}")
    return os.path.join(log_dir, entries[0])


class EventLog:
    def __init__(self, path: str):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        for f in event_files(path):
            with open(f) as fh:
                for line in fh:
                    if line.strip():
                        self._add(json.loads(line))
        # A stage reused by a later job is listed there but not re-run:
        # its metrics belong to the first job that lists it.
        self.stage_job: dict[int, int] = {}
        for jid in sorted(self.jobs):
            for sid in self.jobs[jid]["stage_ids"]:
                self.stage_job.setdefault(sid, jid)

    def _add(self, e: dict) -> None:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            self.jobs[e["Job ID"]] = {
                "submit": e["Submission Time"] / 1000.0,
                "end": None,
                "stage_ids": list(e["Stage IDs"]),
            }
        elif kind == "SparkListenerJobEnd":
            job = self.jobs.get(e["Job ID"])
            if job is not None:
                job["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            st = self.stages.setdefault(info["Stage ID"], dict.fromkeys(STAGE_METRICS, 0.0))
            st["tasks"] += info.get("Number of Tasks", 0)
            for acc in info.get("Accumulables", []):
                name = acc.get("Name")
                hit = _INTERNAL.get(name) or PYTHON_ACCUMULABLES.get(name)
                if hit is not None:
                    metric, scale = hit
                    st[metric] += float(acc.get("Value") or 0) * scale

    def attribute(self, spans) -> dict[int, object]:
        """job id -> the innermost span containing its submission time
        (None when no span covers it)."""
        ordered = sorted(spans, key=lambda s: s.start)
        out = {}
        for jid, job in self.jobs.items():
            best = None
            for s in ordered:
                if s.start > job["submit"]:
                    break
                if job["submit"] <= s.end and (best is None or s.start >= best.start):
                    best = s
            out[jid] = best
        return out

    def totals(self, job_ids) -> dict[str, float]:
        """Summed layers over a set of jobs. ``stages`` counts the
        stages those jobs ran (a reused stage counts once, where it ran)."""
        job_ids = set(job_ids)
        out = dict.fromkeys(STAGE_METRICS, 0.0)
        out["jobs"] = float(len(job_ids))
        ran = [sid for sid, jid in self.stage_job.items() if jid in job_ids and sid in self.stages]
        out["stages"] = float(len(ran))
        for sid in ran:
            for k, v in self.stages[sid].items():
                out[k] += v
        return out

    def driver_gap_s(self, spans) -> float:
        """Summed over the spans: seconds of the span during which no job
        of the log ran."""
        ran = [(j["submit"], j["end"]) for j in self.jobs.values() if j["end"] is not None]
        return sum(
            (s.end - s.start) - union_seconds([(max(a, s.start), min(b, s.end)) for a, b in ran])
            for s in spans
        )
