#!/usr/bin/env python3
"""effocr_spark repository benchmark — one run of one workload.

    python3 perfbench/run.py --workload crawl_mix --seed 1 --seconds 10 --trace 0

Workloads (perfbench/workloads.py): crawl_mix, pdf_archive, incremental.
Inputs are generated from --seed and cached under perfbench/.work/inputs;
generation time is reported on its own line and never counted in set-up.

--trace 0 measures the end-to-end metrics with tracing off:
  setup_s        median of 3 set-ups (get_spark + broadcast_prototypes +
                 a warm-up pass); the first one starts the JVM
  docs_per_s     median over timed passes at local[nproc]
  scaling_eff    docs_per_s / (nproc x docs_per_s at local[1]), same input
  batch_s_p50    median pass wall (incremental: median micro-batch
                 triggerExecution)
  worker_rss_mb  peak summed RSS of the Python workers during the passes
--trace 1 runs untraced passes, then traced passes (Spark event log and
job-group labels on), replays the kernels single-process over a fixed
sample of the same inputs, prints the tree e2e -> stage -> layer and
reports the per-layer metrics.

Every pass is output-checked after its timing ends (perfbench/check.py).
The measuring process runs as a child of a supervisor
(perfbench/supervise.py) that reaps every process the run started
before it exits.
The last stdout line is one JSON object: correct, attempted, failed,
metrics. Each run also writes a stamped result file under
perfbench/.work/results (compare two sets with perfbench/compare.py).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import paths, supervise  # noqa: E402

SETUPS = 3
MIN_PASSES = 2
END_TO_END_UNITS = {"setup_s": "s", "docs_per_s": "docs/s",
                    "scaling_eff": "ratio", "batch_s_p50": "s",
                    "worker_rss_mb": "MB"}
PER_LAYER_UNITS = {
    "session.cold_start_s": "s", "session.get_spark_s": "s",
    "pipeline.broadcast_s": "s", "warmup_s": "s",
    "scan.rows": "count", "exchange.salt.bytes": "bytes",
    "exchange.salt.fetch_wait_s": "s", "ocr_stage.task_s": "s",
    "ocr_stage.skew": "ratio", "dompdf_stage.task_s": "s",
    "dompdf_stage.skew": "ratio", "explode_stage.task_s": "s",
    "explode_stage.skew": "ratio", "fusion.shuffle_bytes": "bytes",
    "job.driver_gap_s": "s", "jvm.gc_s": "s", "tasks.failed": "count",
    "extract.decode_ms_per_page": "ms", "lineseg.ms_per_page": "ms",
    "model.head_ms_per_strip": "ms", "boxes.nms_ms_per_strip": "ms",
    "boxes.nms_kept_frac": "ratio", "crops.us_per_crop": "us",
    "recognize.embed_us_per_crop": "us", "recognize.knn_us_per_crop": "us",
    "extract.assemble_ms_per_page": "ms", "strips_per_page": "count",
    "crops_per_page": "count", "ocr_stage.replay_coverage": "ratio",
    "domstrip.ms_per_page": "ms", "pdftext.text_ms_per_doc": "ms",
    "codec.ccitt.ms_per_mpix": "ms/Mpix", "codec.jbig2.ms_per_mpix": "ms/Mpix",
    "codec.jp2.ms_per_mpix": "ms/Mpix", "codec.jpeg.ms_per_mpix": "ms/Mpix",
    "png_handoff.ms_per_mpix": "ms/Mpix",
    "stream.add_batch_s": "s", "stream.planning_s": "s",
    "stream.commit_s": "s",
    "untraced.docs_per_s": "docs/s", "traced.docs_per_s": "docs/s",
    "tracing.overhead_frac": "ratio",
}
REPLAY_SAMPLE_PAGES = 200
REPLAY_PDF_DOCS = 48


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def _median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def _docs_per_s(passes) -> float:
    return _median(p.docs / p.wall_s for p in passes)


def end_to_end(wl, setups, wide, narrow, rss_kb, nproc) -> dict:
    dps = _docs_per_s(wide)
    if wl.name == "incremental":
        batch = _median(b["trigger_s"] for p in wide for b in p.batches)
    else:
        batch = _median(p.wall_s for p in wide)
    return {
        "setup_s": _median(s.total_s for s in setups),
        "docs_per_s": dps,
        "scaling_eff": dps / (nproc * _docs_per_s(narrow)),
        "batch_s_p50": batch,
        "worker_rss_mb": rss_kb / 1024.0,
    }


def per_layer(wl, seed, table, setups, untraced, traced, stage,
              ocr_images_per_pass) -> dict:
    from effocr_spark.functions.recognize import build_prototypes

    from perfbench import inputs, replay

    m = {k: 0.0 for k in PER_LAYER_UNITS}
    m["session.cold_start_s"] = setups[0].total_s
    m["session.get_spark_s"] = _median(s.get_spark_s for s in setups)
    m["pipeline.broadcast_s"] = _median(s.broadcast_s for s in setups)
    m["warmup_s"] = _median(s.warmup_s for s in setups)
    m.update(stage)

    # Kernel replay. Every traced run times every kernel: the OCR replay
    # runs on the workload's own images; domstrip and pdftext/codec replays
    # run on the workload's rows when it has them, else on a small sample
    # generated from the same seed.
    rows = table.rows()
    if wl.kind == "pdf":
        enc = dict(zip(table.meta["url"], zip(table.meta["enc"],
                                               table.meta["width"],
                                               table.meta["height"])))
        docs = [(r["html"], *enc[r["url"]]) for r in rows[:REPLAY_PDF_DOCS]]
        crawl_rows = inputs.crawl_rows(seed, REPLAY_SAMPLE_PAGES)
    else:
        docs = [(d["html"], d["enc"], d["width"], d["height"])
                for d in (inputs.pdf_doc(seed, i) for i in range(len(inputs.PDF_CYCLE)))]
        crawl_rows = rows
    timers = replay.Timers()
    text_ms, codecs, images = replay.replay_pdf(docs, timers)
    m["pdftext.text_ms_per_doc"] = text_ms
    for k, v in codecs.items():
        m[f"codec.{k}.ms_per_mpix"] = v
    replay.replay_decode([b for _, b in images], timers)
    jpx = timers.n.get("pixels.jpeg", 0)
    if jpx:
        m["codec.jpeg.ms_per_mpix"] = timers.t.get("decode.jpeg", 0.0) / (jpx / 1e6) * 1e3
    hpx = timers.n.get("pixels.png", 0)
    if hpx:
        m["png_handoff.ms_per_mpix"] = (
            timers.t.get("png_encode", 0.0) + timers.t.get("decode.png", 0.0)
        ) / (hpx / 1e6) * 1e3
    magic = (b"\x89PNG", b"\xff\xd8\xff")
    htmls = [r["html"] for r in crawl_rows
             if not bytes(r["html"][:4]).startswith(magic)][:REPLAY_SAMPLE_PAGES]
    m["domstrip.ms_per_page"] = replay.replay_domstrip(htmls)

    if wl.kind == "pdf":
        ocr_rows = [(f"img{i}-{j}", b, "en") for j, (i, b) in enumerate(images)]
    else:
        ocr_rows = [(r["url"], r["html"], r["lang"]) for r in rows
                    if bytes(r["html"][:4]).startswith(magic)][:REPLAY_SAMPLE_PAGES]
    protos = {"en": build_prototypes("en"), "jp": build_prototypes("jp")}
    ocr = replay.replay_ocr(ocr_rows, protos, replay.Timers())
    for k, v in ocr.items():
        if k in m:
            m[k] = v
    stage_ms_per_image = (stage["ocr_stage.task_s"] / ocr_images_per_pass * 1e3
                          if ocr_images_per_pass else 0.0)
    replay_ms_per_image = ocr["wall_s"] / ocr["pages"] * 1e3 if ocr["pages"] else 0.0
    m["ocr_stage.replay_coverage"] = (replay_ms_per_image / stage_ms_per_image
                                      if stage_ms_per_image else 0.0)
    if wl.name == "incremental":
        batches = [b for p in traced for b in p.batches]
        m["stream.add_batch_s"] = _median(b["add_batch_s"] for b in batches)
        m["stream.planning_s"] = _median(b["planning_s"] for b in batches)
        m["stream.commit_s"] = _median(b["commit_s"] for b in batches)
    m["untraced.docs_per_s"] = _docs_per_s(untraced)
    m["traced.docs_per_s"] = _docs_per_s(traced)
    m["tracing.overhead_frac"] = 1.0 - m["traced.docs_per_s"] / m["untraced.docs_per_s"]
    m["_replay"] = {"ocr_images": ocr["pages"], "replay_ms_per_image": replay_ms_per_image,
                    "stage_ms_per_image": stage_ms_per_image}
    return m


def print_tree(wl, args, nproc, m, traced) -> None:
    def row(indent, name, text):
        print(f"{indent}{name:<32}{text}")

    exercised = {
        "crawl_mix": {"domstrip"},
        "pdf_archive": {"explode", "pdf", "fusion"},
        "incremental": {"domstrip", "stream"},
    }[wl.name]
    na = "(not exercised by this workload; reported as 0)"
    sample = " (replayed on a sample generated from the seed)"
    print(f"== {wl.name}: traced run at local[{nproc}], seed {args.seed} ==")
    row("", "e2e", f"pass wall p50 {_median(p.wall_s for p in traced):.3f} s over "
        f"{len(traced)} traced passes; docs/s traced {m['traced.docs_per_s']:.1f} vs "
        f"untraced {m['untraced.docs_per_s']:.1f} (tracing overhead "
        f"{100 * m['tracing.overhead_frac']:+.1f}%)")
    row("├─ ", "set-up", f"get_spark {m['session.get_spark_s']:.2f} s, broadcast "
        f"{m['pipeline.broadcast_s']:.3f} s, warm-up {m['warmup_s']:.2f} s "
        f"(cold JVM start {m['session.cold_start_s']:.2f} s)")
    row("├─ ", "scan", f"{m['scan.rows']:.0f} rows/pass")
    row("├─ ", "exchange (salted)", f"{m['exchange.salt.bytes'] / 1e6:.2f} MB/pass, "
        f"fetch wait {m['exchange.salt.fetch_wait_s']:.3f} s")
    row("├─ ", "stage ocr", f"task {m['ocr_stage.task_s']:.3f} s/pass, skew "
        f"{m['ocr_stage.skew']:.2f}, replay coverage {m['ocr_stage.replay_coverage']:.2f}")
    for key in ("extract.decode_ms_per_page", "lineseg.ms_per_page",
                "model.head_ms_per_strip", "boxes.nms_ms_per_strip",
                "boxes.nms_kept_frac", "crops.us_per_crop",
                "recognize.embed_us_per_crop", "recognize.knn_us_per_crop",
                "extract.assemble_ms_per_page", "strips_per_page", "crops_per_page"):
        row("│   ├─ ", key, f"{m[key]:.4g} {PER_LAYER_UNITS[key]}")
    row("├─ ", "stage dom+pdf", f"task {m['dompdf_stage.task_s']:.3f} s/pass, skew "
        f"{m['dompdf_stage.skew']:.2f}")
    row("│   ├─ ", "domstrip.ms_per_page", f"{m['domstrip.ms_per_page']:.4g} ms"
        + ("" if "domstrip" in exercised else sample))
    row("│   └─ ", "pdftext.text_ms_per_doc", f"{m['pdftext.text_ms_per_doc']:.4g} ms"
        + ("" if "pdf" in exercised else sample))
    row("├─ ", "stage explode", f"task {m['explode_stage.task_s']:.3f} s/pass, skew "
        f"{m['explode_stage.skew']:.2f}" + ("" if "explode" in exercised else " " + na))
    for key in ("codec.ccitt.ms_per_mpix", "codec.jbig2.ms_per_mpix",
                "codec.jp2.ms_per_mpix", "codec.jpeg.ms_per_mpix",
                "png_handoff.ms_per_mpix"):
        row("│   ├─ ", key, f"{m[key]:.4g} ms/Mpix" + ("" if "pdf" in exercised else sample))
    row("├─ ", "fusion exchange", f"{m['fusion.shuffle_bytes'] / 1e6:.3f} MB/pass"
        + ("" if "fusion" in exercised else " " + na))
    row("├─ ", "streaming", f"addBatch {m['stream.add_batch_s']:.3f} s, planning "
        f"{m['stream.planning_s']:.3f} s, commit {m['stream.commit_s']:.3f} s (per micro-batch)"
        + ("" if "stream" in exercised else " " + na))
    row("└─ ", "driver/JVM", f"driver gap {m['job.driver_gap_s']:.3f} s/pass, GC "
        f"{m['jvm.gc_s']:.3f} s/pass, failed tasks {m['tasks.failed']}")


def main(argv=None) -> int:
    from perfbench import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (tests use a tiny scale)")
    args = ap.parse_args(argv)

    import effocr_spark  # noqa: F401  (fail here when the program is absent)

    from perfbench import check, host, session, tracing

    session.confine_env()
    wl = workloads.WORKLOADS[args.workload]
    nproc = os.cpu_count() or 1
    salt = workloads.salt_partitions(nproc)
    run_id = f"{wl.name}-s{args.seed}-t{args.trace}-{int(time.time() * 1e3)}"
    work = paths.run_dir(wl.name, args.seed, args.trace)
    tracer = tracing.Tracer(run_id)

    with tracer.span("inputs"):
        table, gen_s, hit = workloads.build_inputs(wl.name, args.seed, args.scale)
    log(f"input generation: {gen_s:.3f} s ({'cache hit' if hit else 'generated'}, "
        f"{len(table)} docs) — not part of setup_s")
    mix = None
    if wl.kind == "pdf":
        from collections import Counter
        mix = {"encodings": dict(Counter(table.meta["enc"])),
               "page_px": [[w, h] for w, h, e in zip(table.meta["width"],
                                                      table.meta["height"],
                                                      table.meta["enc"]) if e != "text"]}
        log(f"pdf_archive encoding mix: {mix['encodings']}")

    result = check.CheckResult()

    def warm(spark, protos_bc):
        wl.warm(spark, protos_bc, table, work, salt)

    app = f"perfbench-{wl.name}"
    setups: list = []
    metrics: dict = {}
    extra: dict = {}
    try:
        for i in range(SETUPS):
            if setups:
                setups[-1].stop()
            with tracer.span(f"setup:{i}"):
                setups.append(session.Setup(app, nproc, warm))
        cur = setups[-1]
        if args.trace == 0:
            with workloads.RssSampler() as rss, tracer.span("measure:wide"):
                wide = workloads.measure(wl, cur.spark, cur.protos_bc, table, work,
                                         salt, args.seconds, MIN_PASSES, "wide", result)
            cur.stop()
            with tracer.span("setup:narrow"):
                one = session.Setup(app, 1, warm)
            with tracer.span("measure:narrow"):
                narrow = workloads.measure(wl, one.spark, one.protos_bc, table, work,
                                           salt, args.seconds / 4, 1, "narrow", result)
            one.stop()
            metrics = end_to_end(wl, setups, wide, narrow, rss.peak_kb, nproc)
            extra["passes"] = {"wide": [p.wall_s for p in wide],
                               "narrow": [p.wall_s for p in narrow]}
        else:
            # untraced / traced / untraced, so JVM warm-up drift does not
            # read as tracing overhead
            third = args.seconds / 3
            with tracer.span("measure:untraced"):
                untraced = workloads.measure(wl, cur.spark, cur.protos_bc, table, work,
                                             salt, third, MIN_PASSES, "untraced", result)
            evdir = os.path.join(work, "eventlog")
            session.set_event_log(cur.spark, evdir)
            cur.stop()
            with tracer.span("setup:traced"):
                tr = session.Setup(app, nproc, warm)
            session.set_event_log(tr.spark, None)
            with tracer.span("measure:traced"):
                traced = workloads.measure(wl, tr.spark, tr.protos_bc, table, work,
                                           salt, third, MIN_PASSES, "traced", result,
                                           tracer=tracer)
            tr.stop()
            with tracer.span("setup:untraced"):
                cur = session.Setup(app, nproc, warm)
            with tracer.span("measure:untraced2"):
                untraced += workloads.measure(wl, cur.spark, cur.protos_bc, table, work,
                                              salt, third, MIN_PASSES, "untraced2", result)
            cur.stop()
            session.shutdown_jvm()
            with tracer.span("eventlog"):
                stage = tracing.parse_event_log(tracing.event_log_file(evdir), traced)
            if wl.kind == "pdf":
                images = sum(1 for e in table.meta["enc"] if e != "text")
            else:
                images = sum(1 for b in table.meta["branch"] if b == "ocr")
            with tracer.span("replay"):
                metrics = per_layer(wl, args.seed, table, setups, untraced, traced,
                                    stage, images)
            extra["replay"] = metrics.pop("_replay")
            print_tree(wl, args, nproc, metrics, traced)
    finally:
        session.shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)

    if result.failed:
        log(f"output check: {result.failed}/{result.attempted} documents failed, e.g. "
            f"{result.examples}")
    failed_frac = result.failed / result.attempted if result.attempted else 1.0
    log(f"failed_frac: {failed_frac:.6f} ({result.failed}/{result.attempted})")
    units = END_TO_END_UNITS if args.trace == 0 else PER_LAYER_UNITS
    out = {"correct": result.failed == 0 and result.attempted > 0,
           "attempted": result.attempted, "failed": result.failed,
           "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units}}

    record = {"workload": wl.name, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "scale": args.scale,
              "stamp": host.stamp(nproc), "input_gen_s": gen_s, "input_cache_hit": hit,
              "failed_frac": failed_frac, "pdf_mix": mix, **extra, "result": out}
    os.makedirs(paths.RESULTS, exist_ok=True)
    with open(os.path.join(paths.RESULTS, run_id + ".json"), "w") as f:
        json.dump(record, f, indent=1)
    tracer.dump(os.path.join(paths.WORK, "spans", run_id + ".json"))
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    if os.environ.get(supervise.CHILD_ENV):
        sys.exit(main())
    # the measuring process runs as a child, so that every process it
    # starts is waited for (and reaped) on every path out of it
    sys.exit(supervise.run(os.path.abspath(__file__), sys.argv[1:]))
