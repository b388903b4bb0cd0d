"""Checkpointed, resumable extraction with per-chunk lineage + metrics.

The north rule requires exact resume from checkpoint with per-partition
lineage and metrics. The reference has nothing comparable (a crash loses
the whole run, SURVEY.md §2.9); here the input is split into
deterministic url-hash chunks, each committed atomically:

    manifest/  (n_chunks) — the chunking configuration, written once
    results/   extracted rows, appended per completed chunk,
               partitionBy(chunk_id) so any per-chunk read prunes to one
               directory instead of scanning the whole table
    processed/ (url, chunk_id, run_id) lineage, appended AFTER results
    metrics/   (run_id, chunk_id, n_rows, n_ok, n_err, wall_ms)

Resume semantics: chunk membership is pmod(xxhash64(url), n_chunks), so
the processed-chunk set is only valid for the SAME n_chunks — the
manifest pins it and resume fails fast on mismatch (resuming with a
different --chunks would silently skip urls that hash into a done
chunk). Within a fixed chunking, extraction is a pure per-url function:
re-running a partially-written chunk appends byte-identical rows;
`read_results` de-duplicates by url, giving exactly-once semantics at
read time.

Per-chunk metrics are computed from the chunk's own in-flight DataFrame
(persist → write → aggregate the cache), NOT by re-reading the results
directory: a disk re-read both costs O(total-written) per chunk — O(n²)
I/O over a run, a genuine 100 TB killer — and double-counts when a
chunk crashed between its results and lineage writes and is resumed
under the same run_id (the partial first-attempt rows sit in the same
(chunk_id, run_id) slice; they are superseded at read time by the url
dedup but must not inflate metrics).

On a real cluster each chunk commit is a single Iceberg atomic append
(or a Structured Streaming Trigger.AvailableNow batch); plain parquet
directories stand in here.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession, functions as F

from .pipeline import extract_pages

N_CHUNKS_DEFAULT = 8


def _exists(path: str) -> bool:
    return os.path.exists(path) and any(
        f.endswith(".parquet") for f in os.listdir(path)
    ) if os.path.isdir(path) else False


def _check_manifest(spark: SparkSession, manifest_path: str,
                    n_chunks: int) -> None:
    """Pin the chunking config; fail fast when a resume disagrees."""
    if _exists(manifest_path):
        stored = spark.read.parquet(manifest_path).head()["n_chunks"]
        if stored != n_chunks:
            raise ValueError(
                f"resume with n_chunks={n_chunks} but this run directory "
                f"was chunked with n_chunks={stored}; chunk membership is "
                f"pmod(xxhash64(url), n_chunks), so a different value "
                f"would silently skip urls — re-run with "
                f"n_chunks={stored} or start a fresh out_dir")
    else:
        spark.createDataFrame([(n_chunks,)], "n_chunks int") \
            .write.mode("overwrite").parquet(manifest_path)


def run_extraction(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    protos_bc,
    run_id: str = "run0",
    n_chunks: int = N_CHUNKS_DEFAULT,
    fail_after_chunk: int | None = None,
    **extract_kwargs,
) -> None:
    """Chunked, checkpointed extraction run.

    Normal operation (fail_after_chunk=None) commits ALL remaining
    chunks in a SINGLE extraction pass — the Iceberg-snapshot shape:
    filter out committed chunks (the processed/ manifest's distinct
    chunk ids — a broadcast-anti-join-sized set), extract once, write
    once partitioned by chunk_id, commit lineage once. One Spark job
    graph instead of n_chunks sequential driver-looped jobs, which at
    production chunk counts (thousands) is the difference between one
    scan of the input and a scheduling-bound crawl.

    `fail_after_chunk` is the fault-injection harness for the
    kill/resume tests: the same commit runs once per chunk, and the
    run raises after the named chunk commits."""
    results_path = f"{out_dir}/results"
    processed_path = f"{out_dir}/processed"
    metrics_path = f"{out_dir}/metrics"

    _check_manifest(spark, f"{out_dir}/manifest", n_chunks)

    chunk_of_url = F.pmod(F.xxhash64(F.col("url")),
                          F.lit(n_chunks)).cast("int")
    pages = pages.withColumn("_chunk", chunk_of_url)

    done_chunks: set[int] = set()
    if _exists(processed_path):
        done = spark.read.parquet(processed_path)
        done_chunks = {
            r["chunk_id"]
            for r in done.select("chunk_id").distinct().collect()
        }

    remaining = sorted(set(range(n_chunks)) - done_chunks)
    if not remaining:
        return
    commits = ([remaining] if fail_after_chunk is None
               else [[c] for c in remaining])
    for chunks in commits:
        t0 = time.time()
        subset = pages.filter(F.col("_chunk").isin(chunks)).drop("_chunk")
        result = (extract_pages(subset, protos_bc, **extract_kwargs)
                  .withColumn("chunk_id", chunk_of_url)
                  .withColumn("run_id", F.lit(run_id))
                  .withColumn("partition_id", F.spark_partition_id()))
        # ONE persisted extraction pass feeds results, both metric
        # tables, and lineage — no re-read of the results directory
        # (which would cost O(everything written so far) per commit and
        # double-count partial rows from a same-run_id crash)
        result = result.persist()
        result.write.mode("append").partitionBy("chunk_id") \
            .parquet(results_path)
        stats = {r["chunk_id"]: r for r in result.groupBy("chunk_id").agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("ok").cast("int")).alias("n_ok"),
        ).collect()}
        # per-PARTITION metrics (task-granular lineage: which executor
        # partition produced what, skew visibility)
        result.groupBy("run_id", "chunk_id", "partition_id", "branch") \
            .agg(F.count("*").alias("n_rows"),
                 F.sum(F.col("ok").cast("long")).alias("n_ok")) \
            .write.mode("append").parquet(f"{out_dir}/partition_metrics")
        # lineage commit AFTER results: a crash between the two re-runs
        # those chunks on resume, appending identical rows that
        # read_results de-duplicates
        result.select("url", "chunk_id").distinct() \
            .withColumn("run_id", F.lit(run_id)) \
            .write.mode("append").parquet(processed_path)
        result.unpersist()

        wall_ms = int((time.time() - t0) * 1000)
        rows = []
        for c in chunks:
            s = stats.get(c)
            n_rows, n_ok = ((int(s["n_rows"]), int(s["n_ok"] or 0)) if s
                            else (0, 0))
            rows.append((run_id, c, n_rows, n_ok, n_rows - n_ok, wall_ms))
        spark.createDataFrame(
            rows,
            "run_id string, chunk_id int, n_rows long, n_ok long, "
            "n_err long, wall_ms long",
        ).write.mode("append").parquet(metrics_path)

        if fail_after_chunk is not None and chunks[-1] >= fail_after_chunk:
            raise RuntimeError(f"injected failure after chunk {chunks[-1]}")


def read_results(spark: SparkSession, out_dir: str) -> DataFrame:
    """Exactly-once view of the results table (dedup by url; rows from
    re-run chunks are byte-identical so any representative wins)."""
    return spark.read.parquet(f"{out_dir}/results").dropDuplicates(["url"])


def read_metrics(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(f"{out_dir}/metrics")


def read_partition_metrics(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(f"{out_dir}/partition_metrics")
