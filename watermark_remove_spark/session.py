"""SparkSession factory with the engine's tuned configuration.

One place to encode the scale posture: AQE on (runtime re-plan, skew
join splitting, partition coalescing), Arrow enabled for every pandas
UDF hop, RocksDB state store for bounded-memory streaming state, and
shuffle partitions proportional to cores.  On a real cluster the same
builder is driven by ``spark-submit --py-files`` (reference CLI analog:
``scripts/remove_single_image.py:19-40``).

Streaming checkpoint I/O.  Without ``libhadoop`` loaded (the pip
PySpark install ships none), Hadoop's local filesystem forks a
``chmod`` for every file it creates, and Spark's default FileContext
checkpoint manager also forks a ``readlink`` for every status check.
A checkpoint's cost is therefore its file count times one fork (~30 ms
per file on a 4-vCPU VM), not its bytes.  Two settings cut the file count, for every session:

- ``checkpointFileManagerClass`` = the FileSystem-based manager:
  offset, commit and state files go through ``FileSystem.create`` and
  ``rename``, with no ``readlink`` forks.
- RocksDB changelog checkpointing: each state commit writes one
  changelog file per partition instead of a zipped snapshot plus its
  SST files; snapshots move to the maintenance thread.  Existing
  snapshot-only checkpoints resume under it.

The FileSystem manager's no-overwrite rename is check-then-rename, but
on ``file:`` that weakens nothing: FileContext's own no-overwrite
rename reaches ``RawLocalFs`` through ``ChecksumFs``, which inherits
``AbstractFileSystem.renameInternal``, and that handles overwrite in a
non-atomic way too.  Under either manager a second no-overwrite
``createAtomic`` onto an existing file raises ``FileAlreadyExists`` and
keeps the first bytes (``tests/test_rocksdb_state.py`` pins this).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ROCKSDB_PROVIDER = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def build_session(
    app_name: str = "watermark-remove-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    streaming: bool = False,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] / local[*] -> N partitions; cluster masters fall back to cpus
        inner = master[len("local[") : -1] if master.startswith("local[") else ""
        shuffle_partitions = cpus if not inner or inner == "*" else int(inner)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # html:binary rows are fat — keep Arrow batches bounded so the
        # Python worker never materialises GBs per batch at 100 TB scale
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.streaming.checkpointFileManagerClass", FS_CHECKPOINT_MANAGER)
        .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    )
    if streaming:
        b = b.config("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
