"""RocksDB state-store provider (SURVEY §4: bounded-memory streaming
state) and the checkpoint settings ``build_session`` gives every
session: the dedup pipeline must produce identical row-exact output
under RocksDB as under the default HDFS-backed provider, across a
stop and resume, and across the upgrade from snapshot-only state on
the FileContext checkpoint manager."""

from __future__ import annotations

import glob
import json
import os

import pandas as pd
import pytest
from py4j.protocol import Py4JJavaError

from watermark_remove_spark.fixtures import PagesConfig, generate_corpus
from watermark_remove_spark.oracle_stream import simulate_dedup
from watermark_remove_spark.session import FS_CHECKPOINT_MANAGER, ROCKSDB_PROVIDER
from watermark_remove_spark.sources.pages import stream_pages_files, write_batch_files
from watermark_remove_spark.streaming.pipeline import run_stream_to_sink
from watermark_remove_spark.streaming.sink import ParquetLedgerSink

PROVIDER = "spark.sql.streaming.stateStore.providerClass"
FILE_MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
CHANGELOG = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"


def _batches(cuts: list[int]) -> list[pd.DataFrame]:
    """The pages cut at row offsets ``cuts``, then two sentinel pages."""
    corpus = generate_corpus(PagesConfig(n_pages=300, n_domains=4, seed=13, dup_frac=0.05))
    pages = corpus.pages
    sent = pd.DataFrame(
        {
            "url": ["https://s.example.com/p/1", "https://s.example.com/p/2"],
            "warc_ts": [pd.Timestamp("2027-01-01"), pd.Timestamp("2027-01-01T01:00")],
            "html": [b"s", b"s"],
            "text": ["s", "s"],
            "lang": ["en", "en"],
        }
    )
    bounds = [0, *cuts, None]
    chunks = [pages.iloc[a:b] for a, b in zip(bounds, bounds[1:])]
    return chunks + [sent.iloc[:1], sent.iloc[1:]]


def _dedup_stream(spark, src):
    return (
        stream_pages_files(spark, src, 1)
        .withWatermark("warc_ts", "10 minutes")
        .dropDuplicates(["url", "warc_ts"])
        .select("url", "warc_ts")
    )


def _drain(spark, src, sink, ck) -> None:
    q = run_stream_to_sink(_dedup_stream(spark, src), sink, ck)
    assert q.awaitTermination(300)
    assert q.exception() is None


def _committed_keys(spark, sink):
    return {(r.url, pd.Timestamp(r.warc_ts)) for r in sink.read_committed(spark).collect()}


def _oracle_keys(batches):
    want_df = simulate_dedup(batches, pd.Timedelta(minutes=10))
    return set(zip(want_df["url"], want_df["warc_ts"]))


def _changelogs(ck: str) -> list[str]:
    return glob.glob(os.path.join(ck, "state", "**", "*.changelog"), recursive=True)


def _checkpoint_manager(spark, path: str):
    """The manager a streaming query would build for ``path``."""
    jvm = spark._jvm
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    factory = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
    return factory.create(jvm.org.apache.hadoop.fs.Path(path), conf)


def test_dedup_rowexact_under_rocksdb(spark, session_conf, tmp_path):
    batches = _batches([150])
    src = str(tmp_path / "src")
    write_batch_files(batches, src)

    sink = ParquetLedgerSink(str(tmp_path / "out"))
    with session_conf({PROVIDER: ROCKSDB_PROVIDER}):
        _drain(spark, src, sink, str(tmp_path / "ck"))

    assert _committed_keys(spark, sink) == _oracle_keys(batches)


@pytest.mark.parametrize(
    "first_half",
    [
        pytest.param({}, id="changelog"),
        # the settings before build_session set them: snapshot-only
        # RocksDB state written through the FileContext manager
        pytest.param({FILE_MANAGER: None, CHANGELOG: None}, id="upgrade"),
    ],
)
def test_resume_under_rocksdb(spark, session_conf, tmp_path, first_half):
    """Drain half the files, stop, then resume on the same checkpoint
    and sink with build_session's settings: every micro-batch commits
    exactly once and the rows equal an uninterrupted run's oracle."""
    batches = _batches([80, 160, 240])
    half = len(batches) // 2
    src, ck = str(tmp_path / "src"), str(tmp_path / "ck")
    sink = ParquetLedgerSink(str(tmp_path / "out"))

    with session_conf({PROVIDER: ROCKSDB_PROVIDER}):
        with session_conf(first_half):
            manager = _checkpoint_manager(spark, ck).getClass().getName()
            assert (manager == FS_CHECKPOINT_MANAGER) == (FILE_MANAGER not in first_half)
            write_batch_files(batches[:half], src)
            _drain(spark, src, sink, ck)
        assert bool(_changelogs(ck)) == (CHANGELOG not in first_half)
        n_first = len(sink.committed_batches())

        write_batch_files(batches[half:], src, start_index=half)
        _drain(spark, src, sink, ck)
        assert _changelogs(ck)

    with open(sink.ledger_path) as f:
        ids = [json.loads(line)["batch_id"] for line in f if line.strip()]
    assert sorted(ids) == list(range(len(ids)))
    assert half <= n_first < len(ids)
    assert _committed_keys(spark, sink) == _oracle_keys(batches)


def test_checkpoint_manager_refuses_second_writer(spark, tmp_path):
    """Two writers racing for one offset or commit file: the second
    no-overwrite atomic create fails and the first file's bytes stay."""
    path = str(tmp_path / "ck" / "commits" / "0")
    mgr = _checkpoint_manager(spark, str(tmp_path / "ck"))
    assert mgr.getClass().getName() == FS_CHECKPOINT_MANAGER

    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    mgr.mkdirs(jpath.getParent())
    first = mgr.createAtomic(jpath, False)
    first.write(bytearray(b"first writer"))
    first.close()

    with pytest.raises(Py4JJavaError, match="FileAlreadyExists"):
        second = mgr.createAtomic(jpath, False)
        second.write(bytearray(b"second writer"))
        second.close()
    with open(path, "rb") as f:
        assert f.read() == b"first writer"
