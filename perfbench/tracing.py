"""Traced-run attribution from outside the program.

Two of its three sources (the third, the kernel replay, is replay.py),
all recorded by the benchmark's own code:

- Spans: name, start, end, parent and run id of every set-up, pass and
  replay step, kept in memory and written out when the run ends.
- Spark's event log of the traced passes. Each pass runs under a job
  group label set by the benchmark (streaming jobs carry their query's
  run id), so every job, stage and task maps back to one pass. Tasks are
  attributed to a plan operator through the SQL metric accumulators they
  update: the fused OCR stage (``ocr_batches``), the dom+pdf stage, the
  PDF image-explode stage, the salted exchange and the fusion exchange.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[str] = []

    def record(self, name: str, start: float, end: float,
               parent: str | None = None, **attrs) -> None:
        self.spans.append({"name": name, "start": start, "end": end,
                           "parent": parent, "run_id": self.run_id, **attrs})

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        start = time.time()
        try:
            yield
        finally:
            self._stack.pop()
            self.record(name, start, time.time(), parent)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ------------------------------------------------------------ event log

def _node_category(simple: str) -> str | None:
    if simple.startswith("MapInPandas ocr_batches"):
        return "ocr"
    if simple.startswith("MapInPandas explode_batches"):
        return "explode"
    if (simple.startswith(("MapInPandas batches(", "MapInPandas pdf_batches"))
            or ("ArrowEvalPython" in simple and "_strip_html_series" in simple)):
        return "dompdf"
    if simple.startswith("Exchange "):
        return "salt" if "xxhash64(" in simple else "fusion"
    return None


def _walk(plan: dict, acc: dict) -> None:
    cat = _node_category(plan.get("simpleString", ""))
    for m in plan.get("metrics", []):
        acc[m["accumulatorId"]] = (cat, m["name"])
    for ch in plan.get("children", []):
        _walk(ch, acc)


def _union_len(intervals: list[tuple[float, float]]) -> float:
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


def _skew(groups: dict) -> float:
    """Median over stages of (max task time / median task time)."""
    vals = [max(ts) / statistics.median(ts) for ts in groups.values()
            if len(ts) >= 2 and statistics.median(ts) > 0]
    return statistics.median(vals) if vals else 0.0


def event_log_file(log_dir: str) -> str:
    files = [f for f in os.listdir(log_dir) if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, got {files}")
    return os.path.join(log_dir, files[0])


def parse_event_log(path: str, passes) -> dict:
    """Per-pass stage metrics for the traced passes.

    passes: the traced Pass records; their labels (job groups) and
    streaming run ids select the jobs that belong to them."""
    by_group: dict[str, object] = {}
    for p in passes:
        by_group[p.label] = p
        for rid in p.run_ids:
            by_group[rid] = p
    acc: dict = {}
    stage_pass: dict[int, object] = {}
    stage_span: dict[int, tuple[float, float]] = {}
    tasks = []
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev.endswith(("SparkListenerSQLExecutionStart",
                            "SparkListenerSQLAdaptiveExecutionUpdate")):
                _walk(e["sparkPlanInfo"], acc)
            elif ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                grp = props.get("spark.jobGroup.id", "")
                key = grp.split(":", 2)[-1] if grp.startswith("perfbench:") else grp
                p = by_group.get(key)
                if p is not None:
                    for sid in e["Stage IDs"]:
                        stage_pass[sid] = p
            elif ev == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                if "Submission Time" in si and "Completion Time" in si:
                    stage_span[si["Stage ID"]] = (si["Submission Time"] / 1e3,
                                                  si["Completion Time"] / 1e3)
            elif ev == "SparkListenerTaskEnd":
                tasks.append(e)

    n = max(1, len(passes))
    tot = {k: 0.0 for k in ("scan_rows", "salt_bytes", "fetch_wait_s",
                            "ocr_s", "dompdf_s", "explode_s", "fusion_bytes",
                            "gc_s")}
    failed = 0
    groups: dict[str, dict] = {"ocr": {}, "dompdf": {}, "explode": {}}
    for e in tasks:
        sid = e["Stage ID"]
        if sid not in stage_pass:
            continue
        ti, tm = e["Task Info"], e.get("Task Metrics") or {}
        if ti.get("Failed"):
            failed += 1
        run_s = tm.get("Executor Run Time", 0) / 1e3
        tot["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
        tot["scan_rows"] += (tm.get("Input Metrics") or {}).get("Records Read", 0)
        cats = set()
        for a in ti.get("Accumulables", []):
            cat, mname = acc.get(a["ID"], (None, None))
            if cat is None:
                continue
            cats.add(cat)
            if mname == "shuffle bytes written" and cat in ("salt", "fusion"):
                tot[f"{cat}_bytes"] += float(a.get("Update") or 0)
        for cat in ("ocr", "dompdf", "explode"):
            if cat in cats:
                tot[f"{cat}_s"] += run_s
                groups[cat].setdefault(sid, []).append(run_s)
        if "ocr" in cats:
            tot["fetch_wait_s"] += ((tm.get("Shuffle Read Metrics") or {})
                                    .get("Fetch Wait Time", 0) / 1e3)

    gaps = []
    for p in passes:
        spans = [stage_span[s] for s, q in stage_pass.items()
                 if q is p and s in stage_span]
        gaps.append(max(0.0, (p.end - p.start) - _union_len(spans)))

    return {
        "scan.rows": tot["scan_rows"] / n,
        "exchange.salt.bytes": tot["salt_bytes"] / n,
        "exchange.salt.fetch_wait_s": tot["fetch_wait_s"] / n,
        "ocr_stage.task_s": tot["ocr_s"] / n,
        "ocr_stage.skew": _skew(groups["ocr"]),
        "dompdf_stage.task_s": tot["dompdf_s"] / n,
        "dompdf_stage.skew": _skew(groups["dompdf"]),
        "explode_stage.task_s": tot["explode_s"] / n,
        "explode_stage.skew": _skew(groups["explode"]),
        "fusion.shuffle_bytes": tot["fusion_bytes"] / n,
        "job.driver_gap_s": statistics.median(gaps) if gaps else 0.0,
        "jvm.gc_s": tot["gc_s"] / n,
        "tasks.failed": failed,
    }
