"""Layer spans and their Spark task metrics, read from Spark's event log.

A span wraps one call into a layer's public function. It tags every Spark
job the call starts with its own job group, so after the session stops the
event log can be folded per span: each ``SparkListenerStageSubmitted``
names its job group, each ``SparkListenerTaskEnd`` its stage. Nothing polls the
UI REST API while the run is going, so counts are neither capped at
``retainedStages`` nor raced.

Per span (``fold_spans``):

- ``self_s``: span wall time (spans do not nest);
- ``stage_s``: the part of the span covered by at least one of its stages
  (union of the stages' submission-to-completion intervals, clipped to
  the span), and ``driver_s = self_s - stage_s``: planning, collects and
  driver-side merges;
- ``shuffle_write_mb``, ``spill_mb`` (disk), ``input_rows``,
  ``output_rows`` summed over the span's tasks;
- ``python_mb``: bytes sent to plus bytes returned from Python workers
  (the SQL metrics of the Python exec nodes);
- ``task_skew``: the largest, over the span's stages, of max / median task
  run time (run times floored at 1 ms).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

MB = 1e6
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


class Tracer:
    """Records spans; a disabled tracer records nothing and tags nothing."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str):
        """Yields a dict the caller may put ``rows_out`` into."""
        if not self.enabled:
            yield {}
            return
        rec = {"name": name, "group": f"perfbench-span-{len(self.spans)}"}
        self.sc.setJobGroup(rec["group"], name)
        rec["start_ms"] = time.time() * 1000.0
        try:
            yield rec
        finally:
            rec["end_ms"] = time.time() * 1000.0
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the one application logged under ``log_dir``: Spark 4
    writes a rolling log, a directory of ``events_<n>_<app>`` files."""
    files = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    if not files:
        raise FileNotFoundError(f"no Spark event log under {log_dir}")
    events = []
    for f in sorted(files, key=lambda f: int(os.path.basename(f).split("_")[1])):
        with open(f, encoding="utf-8") as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def fold_spans(spans: list[dict], events: list[dict]) -> list[dict]:
    """Per-span metrics (see module docstring), in span order."""
    # a stage belongs to the group that submitted it; a later job that
    # reuses its shuffle output lists it too, but skips it
    group_of_stage: dict[int, str] = {}
    for e in events:
        if e["Event"] == "SparkListenerStageSubmitted":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if g:
                group_of_stage[e["Stage Info"]["Stage ID"]] = g
    stage_iv: dict[int, tuple[float, float]] = {}
    tasks: dict[int, list[dict]] = defaultdict(list)
    for e in events:
        ev = e["Event"]
        if ev == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if "Submission Time" in info and "Completion Time" in info:
                stage_iv[info["Stage ID"]] = (info["Submission Time"], info["Completion Time"])
        elif ev == "SparkListenerTaskEnd" and e["Stage ID"] in group_of_stage:
            tasks[e["Stage ID"]].append(e)

    stages_of_group: dict[str, list[int]] = defaultdict(list)
    for sid, g in group_of_stage.items():
        stages_of_group[g].append(sid)

    out = []
    for sp in spans:
        s0, s1 = sp["start_ms"], sp["end_ms"]
        wall_ms = s1 - s0
        sids = stages_of_group.get(sp["group"], [])
        covered = _union_ms(
            [
                (max(stage_iv[s][0], s0), min(stage_iv[s][1], s1))
                for s in sids
                if s in stage_iv and min(stage_iv[s][1], s1) > max(stage_iv[s][0], s0)
            ]
        )
        shuffle_b = spill_b = py_b = 0
        in_rows = out_rows = 0
        skew = 1.0
        for sid in sids:
            run_ms = []
            for t in tasks.get(sid, []):
                m = t.get("Task Metrics") or {}
                shuffle_b += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                spill_b += m.get("Disk Bytes Spilled", 0)
                in_rows += m.get("Input Metrics", {}).get("Records Read", 0)
                out_rows += m.get("Output Metrics", {}).get("Records Written", 0)
                run_ms.append(max(m.get("Executor Run Time", 0), 1))
                for acc in t["Task Info"].get("Accumulables", []):
                    if acc.get("Name") in (PY_SENT, PY_RETURNED):
                        py_b += int(acc.get("Update") or 0)
            if run_ms:
                skew = max(skew, max(run_ms) / statistics.median(run_ms))
        out.append(
            {
                "name": sp["name"],
                "self_s": wall_ms / 1000.0,
                "stage_s": covered / 1000.0,
                "driver_s": (wall_ms - covered) / 1000.0,
                "rows_out": sp.get("rows_out"),
                "shuffle_write_mb": shuffle_b / MB,
                "spill_mb": spill_b / MB,
                "python_mb": py_b / MB,
                "input_rows": in_rows,
                "output_rows": out_rows,
                "task_skew": skew,
                "n_stages": len(sids),
            }
        )
    return out
