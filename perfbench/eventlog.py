"""Roll a Spark event log up into per-span layer metrics.

A span is a labelled wall-clock interval during which the benchmark set
``spark.jobGroup.id`` to the label. The log must be the uncompressed,
non-rolling JSON-lines file Spark writes with ``spark.eventLog.enabled``.

Records used:
- ``SparkListenerJobStart``: job group (``Properties``), submission time
  and the stage ids the job may run;
- ``SparkListenerJobEnd``: completion time;
- ``SparkListenerStageCompleted``: the stage's summed task metrics
  (``Accumulables``), failed attempts included;
- ``SparkListenerTaskEnd``: tasks whose end reason is not ``Success``.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

_RUN_TIME = "internal.metrics.executorRunTime"
_SHUFFLE_WRITE = "internal.metrics.shuffle.write.bytesWritten"
_OUTPUT_BYTES = "internal.metrics.output.bytesWritten"


@dataclass
class SpanStats:
    s: float = 0.0
    jobs: int = 0
    exec_run_s: float = 0.0
    shuffle_write_bytes: int = 0
    bytes_written: int = 0
    driver_gap_s: float = 0.0
    util: float = 0.0
    job_intervals: list[tuple[float, float]] = field(default_factory=list, repr=False)


@dataclass
class Rollup:
    spans: dict[str, SpanStats]
    failed_tasks: int
    jobs_total: int


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def rollup(lines, spans: list[dict], cores: int) -> Rollup:
    """``lines``: the event log's lines. ``spans``: ``{"label", "t0", "t1"}``
    with epoch seconds. Jobs outside every span count only towards
    ``jobs_total``."""
    groups: dict[int, str] = {}
    job_start: dict[int, float] = {}
    job_end: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    stage_metrics: dict[int, dict[str, int]] = {}
    failed = 0
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            job = ev["Job ID"]
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            job_start[job] = ev["Submission Time"] / 1000.0
            if group is not None:
                groups[job] = group
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
        elif kind == "SparkListenerJobEnd":
            job_end[ev["Job ID"]] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            acc = {a["Name"]: int(a["Value"]) for a in info.get("Accumulables", [])
                   if str(a.get("Name", "")).startswith("internal.metrics.")}
            sums = stage_metrics.setdefault(info["Stage ID"], {})
            for name in (_RUN_TIME, _SHUFFLE_WRITE, _OUTPUT_BYTES):
                sums[name] = sums.get(name, 0) + acc.get(name, 0)
        elif kind == "SparkListenerTaskEnd":
            if ev["Task End Reason"]["Reason"] != "Success":
                failed += 1

    out: dict[str, SpanStats] = {}
    for sp in spans:
        st = out.setdefault(sp["label"], SpanStats())
        st.s += sp["t1"] - sp["t0"]
    for job, group in groups.items():
        if group not in out:
            continue
        st = out[group]
        st.jobs += 1
        start = job_start[job]
        st.job_intervals.append((start, job_end.get(job, start)))
    for sid, group in stage_group.items():
        if group in out and sid in stage_metrics:
            m = stage_metrics[sid]
            st = out[group]
            st.exec_run_s += m[_RUN_TIME] / 1000.0
            st.shuffle_write_bytes += m[_SHUFFLE_WRITE]
            st.bytes_written += m[_OUTPUT_BYTES]
    for sp in spans:
        st = out[sp["label"]]
        clipped = [(max(a, sp["t0"]), min(b, sp["t1"])) for a, b in st.job_intervals]
        busy = _union_length([(a, b) for a, b in clipped if b > a])
        st.driver_gap_s += max(0.0, (sp["t1"] - sp["t0"]) - busy)
    for st in out.values():
        st.util = st.exec_run_s / (st.s * cores) if st.s > 0 else 0.0
    return Rollup(spans=out, failed_tasks=failed, jobs_total=len(job_start))


def rollup_file(path: str, spans: list[dict], cores: int) -> Rollup:
    with open(path, encoding="utf-8") as fh:
        return rollup(fh, spans, cores)
