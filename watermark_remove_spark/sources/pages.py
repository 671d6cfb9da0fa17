"""O-1/O-2/O-3: page sources — batch scan, deterministic micro-batch
file stream, and rate-limited synthetic stream.

The reference ingests one item per call (CLI: ``remove_single_image.py
:19-31``; API upload: ``api/main.py:33-48``); the engine's unbounded
analog is a Structured Streaming source.  For golden-output tests the
stream must have *deterministic micro-batch boundaries*: we persist the
corpus as N ordered parquet files and read them back with
``maxFilesPerTrigger=1`` so batch k always contains file k (SURVEY §7
step 2 'pin trigger + source ordering').

Production-shaped alternative (``north_star``: "rate-limited stream"):
``rate-micro-batch`` rows joined to a deterministic page generator —
rows/sec bounds ingest exactly like the Iceberg incremental scan would.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

PAGES_DDL = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)
TEMPLATES_DDL = (
    "domain string, valid_from timestamp, template_kind string, "
    "template_line string, shingle_hashes array<bigint>"
)
EVENTS_DDL = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string, "
    "value double, props string"
)


_PARQUET_KW = {"index": False, "coerce_timestamps": "us", "allow_truncated_timestamps": True}


def _write_after(frame: pd.DataFrame, path: str, prev_ms: int) -> int:
    """Write ``frame`` to ``path`` with an mtime at least 1 ms after
    ``prev_ms``; return that mtime in ms.  The file stream source
    orders files by modification time (ms), and files written in one
    filesystem timestamp tick tie — their order, and so batch k = file
    k, would then depend on directory listing order."""
    frame.to_parquet(path, **_PARQUET_KW)
    ms = max(os.stat(path).st_mtime_ns // 1_000_000, prev_ms + 1)
    os.utime(path, ns=(ms * 1_000_000, ms * 1_000_000))
    return ms


def write_ordered_batches(pages: pd.DataFrame, out_dir: str, n_files: int) -> list[str]:
    """Split the corpus into n ordered parquet files, preserving row
    order (arrival order).  File k = micro-batch k under
    maxFilesPerTrigger=1."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    n = len(pages)
    per = (n + n_files - 1) // n_files
    ms = 0
    for i in range(n_files):
        chunk = pages.iloc[i * per : (i + 1) * per]
        if chunk.empty:
            break
        p = os.path.join(out_dir, f"batch-{i:05d}.parquet")
        ms = _write_after(chunk, p, ms)
        paths.append(p)
    return paths


def write_batch_files(
    batches: list[pd.DataFrame], out_dir: str, subfiles: int = 1, start_index: int = 0
) -> list[str]:
    """Write an explicit list of micro-batch frames — with subfiles=1,
    file k IS batch k under maxFilesPerTrigger=1 (exact oracle
    alignment; write_ordered_batches re-chunks and may not preserve
    caller-side batch boundaries).

    subfiles>1 splits each batch into that many files (consume with
    files_per_trigger=subfiles): scan parallelism of a micro-batch is
    bounded by its file count, exactly like Iceberg split planning —
    one fat file per trigger caps the whole UDF stage at one task.

    ``start_index`` offsets the file numbering — for appending LATER
    batches to an already-streamed directory (checkpoint-resume
    fixtures) without colliding with the existing batch files."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    ms = 0
    for i, b in enumerate(batches, start=start_index):
        if subfiles == 1:
            p = os.path.join(out_dir, f"batch-{i:05d}.parquet")
            ms = _write_after(b, p, ms)
            paths.append(p)
        else:
            per = (len(b) + subfiles - 1) // subfiles
            for j in range(subfiles):
                chunk = b.iloc[j * per : (j + 1) * per]
                p = os.path.join(out_dir, f"batch-{i:05d}-{j:03d}.parquet")
                ms = _write_after(chunk, p, ms)
                paths.append(p)
    return paths


def read_pages_batch(spark: SparkSession, path: str) -> DataFrame:
    """O-1 batch scan with the fixed contract schema (no inference on
    the hot path — §1.2)."""
    return spark.read.schema(PAGES_DDL).parquet(path)


def stream_pages_files(
    spark: SparkSession, dir_path: str, files_per_trigger: int = 1
) -> DataFrame:
    """O-2 deterministic micro-batch file stream."""
    return (
        spark.readStream.schema(PAGES_DDL)
        .option("maxFilesPerTrigger", files_per_trigger)
        .option("latestFirst", "false")
        .option("maxFileAge", "3650d")
        .parquet(dir_path)
    )


def stream_events_files(
    spark: SparkSession, dir_path: str, files_per_trigger: int = 1
) -> DataFrame:
    """Micro-batch file stream over the ``events`` shape (the CEP /
    funnel input) — same deterministic file-per-trigger contract as
    :func:`stream_pages_files`."""
    return (
        spark.readStream.schema(EVENTS_DDL)
        .option("maxFilesPerTrigger", files_per_trigger)
        .option("latestFirst", "false")
        .option("maxFileAge", "3650d")
        .parquet(dir_path)
    )


def stream_templates_files(
    spark: SparkSession, dir_path: str, files_per_trigger: int = 1
) -> DataFrame:
    """Streaming side of the domain-template changelog (O-15 right)."""
    return (
        spark.readStream.schema(TEMPLATES_DDL)
        .option("maxFilesPerTrigger", files_per_trigger)
        .option("maxFileAge", "3650d")
        .parquet(dir_path)
    )


def with_row_index(df: DataFrame) -> DataFrame:
    """Contiguous 0-based ``idx`` without a global sort (round-1
    verdict #4 fix: the old no-partition ``Window.orderBy`` funneled
    the whole corpus through ONE task).

    Per-partition offsets: one tiny count job collects #rows per scan
    partition, then each partition numbers its own rows in parallel
    (window partitioned by the scan partition id, ordered by the
    partition-local monotonic id).  One partition-parallel shuffle,
    no single-task stage — the same trick Iceberg split planning uses
    for _pos-derived row ids.

    CONTRACT: ``df`` must evaluate deterministically — same partition
    count AND same per-partition row assignment on every evaluation —
    because the input is computed twice (the offsets count job, then
    the numbering job).  File scans qualify (fixed split planning);
    anything downstream of ``sample()``/``rand()``/unstable shuffles
    does not, and would yield gaps/duplicate idx values.  All callers
    here feed it parquet scans.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    base = df.withColumn("__pid", F.spark_partition_id()).withColumn(
        "__mid", F.monotonically_increasing_id()
    )
    counts = base.groupBy("__pid").agg(F.count(F.lit(1)).alias("cnt")).orderBy("__pid").collect()
    offsets, acc = [], 0
    for r in counts:
        offsets.append((int(r["__pid"]), acc))
        acc += r["cnt"]
    spark = df.sparkSession
    off_df = spark.createDataFrame(offsets, "__pid int, __off bigint")
    w = Window.partitionBy("__pid").orderBy("__mid")
    return (
        base.join(F.broadcast(off_df), "__pid")
        .withColumn("idx", F.col("__off") + F.row_number().over(w).cast("bigint") - 1)
        .drop("__pid", "__mid", "__off")
    )


def stream_rate_limited_synthetic(
    spark: SparkSession,
    corpus_path: str,
    rows_per_second: int = 1000,
    index_dir: str | None = None,
) -> DataFrame:
    """Rate-limited stream (north_star): a ``rate`` source metronome
    joined to the corpus by row index — ingest throughput is bounded at
    rows_per_second regardless of corpus size, mimicking a rate-limited
    Iceberg incremental scan.  Used by the bench harness.

    The corpus is indexed EAGERLY in a batch job (partition-parallel,
    see :func:`with_row_index`) and re-read as a static relation:
    window expressions on the static side would otherwise be
    re-analyzed inside the streaming plan and rejected.  Pass
    ``index_dir`` to own the staging directory; otherwise a temp dir is
    created and removed at interpreter exit.
    """
    if index_dir is None:
        import atexit
        import shutil
        import tempfile

        index_dir = tempfile.mkdtemp(prefix="wrs-rate-idx-")
        atexit.register(shutil.rmtree, index_dir, ignore_errors=True)

    corpus = spark.read.schema(PAGES_DDL).parquet(corpus_path)
    with_row_index(corpus).write.mode("overwrite").parquet(index_dir)
    indexed = spark.read.parquet(index_dir)
    rate = spark.readStream.format("rate").option("rowsPerSecond", rows_per_second).load()
    return rate.join(indexed, rate["value"] == indexed["idx"], "inner").drop(
        "timestamp", "value", "idx"
    )
