"""The benchmark's workloads and its closed measurement loop.

Load comes from one driver process as a closed loop with one client: the
next pass starts only after the previous one finished and was checked.

- crawl_mix:   the Common-Crawl-shaped pages table (synth.pages: ~40% PNG
               pages from 3 Zipf-heavy hosts, ~60% HTML) through
               pipeline.extract_pages(salt_partitions=...) into a parquet
               sink.
- pdf_archive: one-page scanned PDFs (CCITT G4, JBIG2, JPEG2000, JPEG)
               and born-digital text PDFs through
               extract_pages(embedded_images=True).
- incremental: the crawl_mix table's first rows (stored as 4 files)
               drained by streaming.stream_extract, AvailableNow with
               maxFilesPerTrigger=1 and a fresh checkpoint per drain.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
from dataclasses import dataclass, field

from . import check, inputs


@dataclass
class Pass:
    docs: int
    wall_s: float
    sink: str
    label: str
    start: float = 0.0
    end: float = 0.0
    # incremental only: per micro-batch durations (seconds) by phase
    batches: list = field(default_factory=list)
    run_ids: list = field(default_factory=list)


def salt_partitions(nproc: int) -> int:
    """Salted-exchange width, as bench.py sizes it for a width."""
    return max(2 * nproc, 8)


class BatchWorkload:
    def __init__(self, name: str, kind: str, embedded_images: bool):
        self.name = name
        self.kind = kind
        self.embedded_images = embedded_images

    def _extract(self, spark, protos_bc, src: str, sink: str, salt: int):
        from effocr_spark import pipeline

        pages = spark.read.parquet(src)
        (pipeline.extract_pages(pages, protos_bc, salt_partitions=salt,
                                embedded_images=self.embedded_images)
         .write.mode("overwrite").parquet(sink))

    def warm(self, spark, protos_bc, table, work: str, salt: int) -> None:
        self._extract(spark, protos_bc, table.warm,
                      os.path.join(work, "warm-sink"), salt)

    def run_pass(self, spark, protos_bc, table, work: str, salt: int,
                 label: str) -> Pass:
        sink = os.path.join(work, "sink")
        start = time.time()
        t0 = time.perf_counter()
        self._extract(spark, protos_bc, table.pages, sink, salt)
        wall = time.perf_counter() - t0
        return Pass(len(table), wall, sink, label, start, time.time())


class IncrementalWorkload:
    name = "incremental"
    kind = "crawl"

    def _drain(self, spark, protos_bc, src: str, base: str, salt: int):
        from effocr_spark import streaming

        shutil.rmtree(base, ignore_errors=True)
        out, ckpt = os.path.join(base, "out"), os.path.join(base, "ckpt")
        q = streaming.stream_extract(spark, src, out, ckpt, protos_bc,
                                     max_files_per_trigger=1,
                                     salt_partitions=salt)
        q.awaitTermination()
        return q, out

    def warm(self, spark, protos_bc, table, work: str, salt: int) -> None:
        self._drain(spark, protos_bc, table.warm,
                    os.path.join(work, "warm-stream"), salt)

    def run_pass(self, spark, protos_bc, table, work: str, salt: int,
                 label: str) -> Pass:
        base = os.path.join(work, "stream")
        start = time.time()
        t0 = time.perf_counter()
        q, out = self._drain(spark, protos_bc, table.pages, base, salt)
        wall = time.perf_counter() - t0
        p = Pass(len(table), wall, out, label, start, time.time())
        for prog in q.recentProgress:
            d = prog["durationMs"]
            if prog["numInputRows"] == 0:
                continue
            p.batches.append({
                "trigger_s": d.get("triggerExecution", 0) / 1e3,
                "add_batch_s": d.get("addBatch", 0) / 1e3,
                "planning_s": d.get("queryPlanning", 0) / 1e3,
                "commit_s": (d.get("walCommit", 0)
                             + d.get("commitOffsets", 0)) / 1e3,
            })
            if prog["runId"] not in p.run_ids:
                p.run_ids.append(prog["runId"])
        return p


WORKLOADS = {
    "crawl_mix": BatchWorkload("crawl_mix", "crawl", embedded_images=False),
    "pdf_archive": BatchWorkload("pdf_archive", "pdf", embedded_images=True),
    "incremental": IncrementalWorkload(),
}


class RssSampler:
    """Peak summed RSS of this process's descendant PySpark Python
    workers, sampled from /proc in a background thread."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _workers_rss_kb() -> int:
        me = os.getpid()
        parent: dict[int, int] = {}
        cmd: dict[int, bytes] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat", "rb") as f:
                    stat = f.read()
                with open(f"/proc/{d}/cmdline", "rb") as f:
                    cmd[int(d)] = f.read()
            except OSError:
                continue
            parent[int(d)] = int(stat[stat.rfind(b")") + 2:].split()[1])
        total = 0
        for pid, c in cmd.items():
            if b"pyspark" not in c or (b"daemon" not in c and b"worker" not in c):
                continue
            p, seen = pid, 0
            while p in parent and p != me and seen < 64:
                p, seen = parent[p], seen + 1
            if p != me:
                continue
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmRSS:"):
                            total += int(line.split()[1])
                            break
            except OSError:
                continue
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self._workers_rss_kb())
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


MAX_PASSES = 200


def measure(wl, spark, protos_bc, table, work: str, salt: int,
            seconds: float, min_passes: int, label: str,
            result: check.CheckResult, tracer=None) -> list[Pass]:
    """Closed loop: timed passes until `seconds` of pass time (and at
    least `min_passes`) have accumulated; each pass is output-checked
    after its timing ends."""
    passes: list[Pass] = []
    timed = 0.0
    while (timed < seconds or len(passes) < min_passes) and len(passes) < MAX_PASSES:
        name = f"{label}:pass:{len(passes)}"
        if tracer is not None:
            spark.sparkContext.setJobGroup(f"perfbench:{wl.name}:{name}", name)
        p = wl.run_pass(spark, protos_bc, table, work, salt, name)
        if tracer is not None:
            tracer.record(name, p.start, p.end, parent=label,
                          docs=p.docs, run_ids=p.run_ids)
        timed += p.wall_s
        result.add(check.check_sink(p.sink, table.expected))
        passes.append(p)
    if tracer is not None:
        spark.sparkContext.setJobGroup(None, None)
    return passes


def build_inputs(workload: str, seed: int, scale: float):
    return inputs.build(WORKLOADS[workload].kind, *inputs.SIZES[workload],
                        seed, scale)
