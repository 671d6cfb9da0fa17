"""Layer-by-layer benchmark of the streaming flagship, driven through
the public calls ``cli.py --mode stream`` makes, at local[N]:

    python3 perfbench/run.py --workload backlog-drain --seed 1 --seconds 15 --trace 0

Workloads (inputs derived from --seed via fixtures.generate_corpus and
written before any timing starts):

- backlog-drain (closed): availableNow drain of a pre-written backlog
  (3 triggers x 16 subfiles, 1 s mean event gap) through clean ->
  watermark -> dedup -> window agg -> ledger sink.
- trickle (open): a separate feeder process renames one small file
  (100 pages) into the source dir every 0.25 s; the stream runs
  continuously with cli's files-per-trigger.  Masks are mined from the
  files present at start.
- dense-rows (closed): decode + quarantine branch into
  ParquetLedgerSink(quarantine_col="error"); dense event times keep
  every key in dedup state; ~1% null-html poison pages.

End-to-end metrics (--trace 0):

- setup_s: one cold set-up per run, from the build_session call (JVM
  start included) through mine_masks and cache and one untimed warm-up
  drain, until the timed run can begin.  A closed workload warms up on
  its whole backlog (a shorter prefix leaves the first timed drains
  still getting faster); the open loop on one trigger's worth of files.
  Writing the seeded input files comes before it and is not counted.
- drain_pages_per_s: input pages / wall time from the
  run_stream_to_sink call until availableNow terminates, median over
  the drains of the run (at least MIN_DRAINS, more while the next is
  expected to end within --seconds).  Open loop: fed pages / time from
  the first scheduled landing to the last fed file's commit, which the
  feeder's schedule fixes.
- commit_latency_p50_ms / _tail_ms: per input file, from its scheduled
  landing time (a closed drain: the run_stream_to_sink call, so the
  figure follows the drain's wall time) until the sink call of the
  micro-batch that consumed it returns, pooled over the run's drains;
  the tail is the highest percentile with at least 10 files beyond it.

Each timed drain or loop records the share of CPU time the hypervisor
stole while it ran; every drain is reported, none is dropped.

Files that were not committed exactly once or failed the oracle check
are the ``failed`` count out of the files offered (``attempted``), so
failed_ratio = failed / attempted.

--trace 1 is a separate run that prints the per-layer metrics
(PER_LAYER): peak resident memory of the process tree during the
untraced drains or loop (Pss from /proc, split into the JVM and the
Python processes), Spark's StreamingQueryProgress, spans around each call
into a layer and around each foreach_batch call, and standalone kernel
and sink timings.  Its layer self times split each trigger by Spark's
reported durations; inside the sink call, state time is Spark's summed
task time over the parallel tasks and kernel time is the standalone
kernel's seconds per row, so the sink's self time is the rest of the
batch's lazy execution (scan, shuffle, parquet write and commit).

The last stdout line is one JSON object: correct, attempted, failed,
metrics.  Scratch files go under .perfbench_work/ and result and span
records under .perfbench_out/, both in the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

from spans import RssSampler, Tracer, median, process_tree, tail  # noqa: E402

WATERMARK = "10 minutes"
WINDOW = "10 minutes"
FILES_PER_TRIGGER = 16  # cli.py --files-per-trigger default
MIN_DRAINS = 3
MIN_IDLE_SHARE = 0.5
LOAD_WAIT_S = 30.0

WORKLOADS = {
    # n_pages before fixtures' ~2% duplicates; triggers x subfiles files
    "backlog-drain": dict(loop="closed", n_pages=4500, n_domains=50, gap_s=1.0,
                          null_html=0.0, triggers=3, subfiles=16, decode=False),
    "dense-rows": dict(loop="closed", n_pages=6000, n_domains=50, gap_s=0.05,
                       null_html=0.01, triggers=3, subfiles=16, decode=True),
    "trickle": dict(loop="open", file_pages=100, initial_files=10, n_domains=20,
                    gap_s=1.0, null_html=0.0, interval_s=0.25, decode=False),
}

END_TO_END = {
    "setup_s": "s",
    "drain_pages_per_s": "pages/s",
    "commit_latency_p50_ms": "ms",
    "commit_latency_tail_ms": "ms",
}


T_START = time.monotonic()


def log(msg: str) -> None:
    print(f"perfbench: {time.monotonic() - T_START:7.2f}s {msg}", file=sys.stderr, flush=True)


class Refused(Exception):
    """The host cannot give a meaningful measurement (named reason)."""


@dataclass
class Inputs:
    src: str                        # the stream's source directory
    warm: str                       # the warm-up drain's source directory
    frames: dict                    # file basename -> the rows written to it
    data_files: list                # files whose commit latency is measured
    mine_files: list                # files present when masks are mined
    stage: str | None = None        # trickle: files the feeder moves in
    sentinel: str | None = None     # trickle: flush file, moved in after the loop


@dataclass(eq=False)
class Rep:
    """One drain (closed) or one open loop (trickle)."""
    traced: bool
    t0: float
    wall: float = 0.0
    calls: list = field(default_factory=list)      # (batch_id, start, end)
    progress: list = field(default_factory=list)
    batch_files: list = field(default_factory=list)
    latencies: list = field(default_factory=list)  # seconds, per data file
    pages: int = 0
    sink: object = None
    feeder_log: list = field(default_factory=list)
    ck: str = ""
    span: int | None = None                        # its root span, when traced
    steal_pct: float = 0.0                         # CPU steal while it ran
    peak_rss: int = 0                              # bytes, while it ran
    peak_parts: dict = field(default_factory=dict) # MiB and count per process name


class TimedSink:
    """Stands in for the sink in ``run_stream_to_sink``: forwards to the
    callable the real sink's ``foreach_batch()`` returns and stamps
    each call's start and end."""

    def __init__(self, sink, rep: Rep):
        self.sink, self.rep = sink, rep

    def foreach_batch(self):
        body = self.sink.foreach_batch()
        calls = self.rep.calls

        def timed(df, batch_id):
            t = time.monotonic()
            body(df, batch_id)
            calls.append((batch_id, t, time.monotonic()))

        return timed


# -- inputs ------------------------------------------------------------------

def _corpus(w: dict, n_pages: int, seed: int):
    import numpy as np

    from watermark_remove_spark.fixtures import PagesConfig, generate_corpus

    pages = generate_corpus(
        PagesConfig(n_pages=n_pages, n_domains=w["n_domains"], seed=seed,
                    mean_gap_seconds=w["gap_s"])
    ).pages
    if w["null_html"]:
        rng = np.random.default_rng([seed, 1])
        poison = rng.choice(len(pages), size=int(len(pages) * w["null_html"]), replace=False)
        pages.loc[poison, "html"] = None
    return pages


def _sentinel():
    """One far-future page: its watermark closes every real window."""
    import pandas as pd

    ts = pd.Timestamp("2027-01-01T00:00:00")
    return pd.DataFrame({"url": ["https://sentinel.example.com/p/0"], "warc_ts": [ts],
                         "html": [b"sentinel"], "text": ["sentinel"], "lang": ["en"]})


def _stamp(paths: list[str], base: float) -> None:
    # the file source orders by modification time: make it the name order
    for i, p in enumerate(sorted(paths, key=os.path.basename)):
        os.utime(p, (base + i, base + i))


def make_inputs(w: dict, seed: int, seconds: int, work: str) -> Inputs:
    import pandas as pd

    from watermark_remove_spark.sources.pages import write_batch_files

    src, warm = os.path.join(work, "src"), os.path.join(work, "warm")
    base = time.time() - 100_000
    if w["loop"] == "closed":
        pages = _corpus(w, w["n_pages"], seed)
        if not w["decode"]:
            # window branch: a far-future last row; the no-data batch
            # after the last trigger then closes every window
            pages = pd.concat([pages, _sentinel()], ignore_index=True)
        per = -(-len(pages) // w["triggers"])
        batches = [pages.iloc[i * per : (i + 1) * per] for i in range(w["triggers"])]
        paths = write_batch_files(batches, src, subfiles=w["subfiles"])
        data_files = [os.path.basename(p) for p in paths]
        _stamp(paths, base)
        stage = sentinel = None
        mine_files = [os.path.basename(p) for p in paths]
        warm = src
    else:
        n_feed = int(seconds / w["interval_s"]) + 1
        n_files = w["initial_files"] + n_feed
        fp = w["file_pages"]
        pages = _corpus(w, n_files * fp, seed).iloc[: n_files * fp]
        chunks = [pages.iloc[i * fp : (i + 1) * fp] for i in range(n_files)]
        init = write_batch_files(chunks[: w["initial_files"]], src)
        stage = os.path.join(work, "stage")
        fed = write_batch_files(chunks[w["initial_files"] :], stage, start_index=len(init))
        sentinel_dir = os.path.join(work, "sentinel")
        sent = write_batch_files([_sentinel()], sentinel_dir, start_index=n_files)
        _stamp(init + fed + sent, base)
        sentinel = sent[0]
        data_files = [os.path.basename(p) for p in fed]
        mine_files = [os.path.basename(p) for p in init]
        paths = init + fed + sent
        # one full trigger: every core forks its Python worker and the
        # trigger's code paths are compiled before the timed run
        os.makedirs(warm)
        for p in sorted(paths, key=os.path.basename)[:FILES_PER_TRIGGER]:
            shutil.copy2(p, warm)
    frames = {os.path.basename(p): pd.read_parquet(p) for p in paths}
    return Inputs(src, warm, frames, data_files, mine_files, stage, sentinel)


# -- the system under test ----------------------------------------------------

class Bench:
    def __init__(self, name: str, w: dict, args, work: str, tracer: Tracer):
        self.name, self.w, self.args, self.work, self.tracer = name, w, args, work, tracer
        self.cpus = args.cpus
        self.spark = None
        self.masks = None
        self.n_runs = 0
        self.setup_times: dict[str, float] = {}

    def fresh(self, tag: str) -> tuple[str, str]:
        self.n_runs += 1
        d = os.path.join(self.work, f"{tag}-{self.n_runs}")
        return os.path.join(d, "out"), os.path.join(d, "ck")

    def new_sink(self, out: str):
        from watermark_remove_spark.streaming.sink import ParquetLedgerSink

        return ParquetLedgerSink(out, quarantine_col="error" if self.w["decode"] else None)

    def stream(self, src: str):
        from watermark_remove_spark.streaming.pipeline import (
            build_clean_stream,
            build_decode_clean_stream,
            build_window_stream,
        )

        if self.w["decode"]:
            return build_decode_clean_stream(self.spark, src, self.masks, WATERMARK, FILES_PER_TRIGGER)
        cleaned = build_clean_stream(self.spark, src, self.masks, WATERMARK, FILES_PER_TRIGGER)
        return build_window_stream(cleaned, WINDOW)

    def setup(self, inp: Inputs) -> None:
        """build_session (a cold JVM), mine_masks plus cache, and an
        untimed warm-up drain, so JIT and codegen land here and not in
        the timed run."""
        from watermark_remove_spark.operators.extract import mine_masks
        from watermark_remove_spark.session import build_session
        from watermark_remove_spark.sources.pages import read_pages_batch

        t0 = time.monotonic()
        with self.tracer.span("session.build") as s_build:
            self.spark = build_session(master=f"local[{self.cpus}]", streaming=True)
            self.spark.sparkContext.setLogLevel("ERROR")
        with self.tracer.span("extract.mine_masks") as s_mine:
            self.masks = mine_masks(read_pages_batch(self.spark, inp.src))
            self.masks.cache().count()
        with self.tracer.span("pipeline.warmup") as s_warm:
            self.drain(inp.warm, Rep(traced=False, t0=0.0))
        self.setup_times = {
            "setup_s": time.monotonic() - t0,
            "session.build_s": s_build.end - s_build.start,
            "extract.mine_masks_s": s_mine.end - s_mine.start,
            "warmup_s": s_warm.end - s_warm.start,
        }

    def drain(self, src: str, rep: Rep) -> Rep:
        from watermark_remove_spark.streaming.pipeline import run_stream_to_sink

        out, ck = self.fresh("drain")
        rep.sink = self.new_sink(out)
        df = self.stream(src)
        rep.t0 = time.monotonic()
        q = run_stream_to_sink(df, TimedSink(rep.sink, rep), ck)
        finished = q.awaitTermination(120)
        rep.wall = time.monotonic() - rep.t0
        if not finished:
            q.stop()
            raise RuntimeError(f"drain of {src} did not finish within 120 s")
        rep.progress = list(q.recentProgress)
        rep.ck = ck
        return rep

    def open_loop(self, inp: Inputs, src: str, stage: str, traced: bool) -> Rep:
        """Continuous stream over ``src``; once the initial files are
        committed, the feeder moves ``stage``'s files in on schedule."""
        from watermark_remove_spark.streaming.pipeline import run_stream_to_sink

        out, ck = self.fresh("open")
        rep = Rep(traced=traced, t0=0.0)
        rep.sink = self.new_sink(out)
        q = run_stream_to_sink(self.stream(src), TimedSink(rep.sink, rep), ck, available_now=False)
        feeder = None
        try:
            _wait(lambda: rep.calls, 120, "the initial backlog was not committed")
            log_path = os.path.join(self.work, f"feeder-{self.n_runs}.json")
            start = time.monotonic() + 0.2
            rep.t0 = start
            with RssSampler() as rss:
                feeder = subprocess.Popen(
                    [sys.executable, os.path.join(HERE, "feeder.py"), stage, src,
                     repr(start), repr(self.w["interval_s"]), log_path]
                )
                rss.exclude.add(feeder.pid)
                if feeder.wait(timeout=self.args.seconds + 60) != 0:
                    raise RuntimeError("feeder failed")
                q.processAllAvailable()
            rep.wall = time.monotonic() - start
            rep.peak_rss, rep.peak_parts = rss.peak, rss.peak_parts
            with open(log_path) as f:
                rep.feeder_log = json.load(f)
            # flush: the far-future row closes every open window on the
            # no-data batch that follows it
            shutil.copy2(inp.sentinel, os.path.join(src, "." + os.path.basename(inp.sentinel)))
            os.rename(os.path.join(src, "." + os.path.basename(inp.sentinel)),
                      os.path.join(src, os.path.basename(inp.sentinel)))
            q.processAllAvailable()
            _wait(lambda: _flushed(q, rep), 60, "no flush batch after the sentinel")
            rep.progress = list(q.recentProgress)
        finally:
            if feeder is not None and feeder.poll() is None:
                feeder.kill()
                feeder.wait()
            q.stop()
            q.awaitTermination(60)
        rep.ck = ck
        return rep


def _flushed(q, rep: Rep) -> bool:
    """A batch that ran under the sentinel's watermark has committed."""
    import pandas as pd

    closed = _sentinel()["warc_ts"][0] - pd.Timedelta(WATERMARK)
    done = {bid for bid, _, _ in rep.calls}
    return any(
        p.batchId in done
        and pd.Timestamp(p.eventTime.get("watermark", "1970-01-01")).tz_convert(None) >= closed
        for p in q.recentProgress
    )


def _wait(cond, timeout: float, what: str) -> None:
    deadline = time.monotonic() + timeout
    while not cond():
        if time.monotonic() > deadline:
            raise RuntimeError(what)
        time.sleep(0.02)


# -- measurement ---------------------------------------------------------------

def finish_rep(rep: Rep, inp: Inputs) -> None:
    """File-to-batch composition from the checkpoint, per-file commit
    latency, and pages offered."""
    from check import checkpoint_batches

    rep.batch_files = checkpoint_batches(rep.ck)
    ends = {bid: end for bid, _, end in rep.calls}
    due = {r["name"]: r["due"] for r in rep.feeder_log} if rep.feeder_log else {}
    consumed = {f: b for b, files in enumerate(rep.batch_files) for f in files}
    for f in inp.data_files:
        landed = due.get(f, rep.t0)
        rep.latencies.append(ends[consumed[f]] - landed)
    rep.pages = sum(len(inp.frames[f]) for f in inp.data_files)
    if rep.feeder_log:
        last = max(ends[consumed[f]] for f in inp.data_files)
        rep.wall = last - rep.t0


def run_timed(bench: Bench, inp: Inputs, traced_run: bool) -> list[Rep]:
    """At least MIN_DRAINS drains, and more while the next one is
    expected to end within --seconds (closed), or one open loop of
    --seconds of arrivals (open).  A traced run alternates untraced and
    traced drains, or adds a traced loop after the untraced one, for
    the overhead."""
    reps: list[Rep] = []
    seconds = bench.args.seconds
    if bench.w["loop"] == "closed":
        t_begin = time.monotonic()
        while True:
            traced = traced_run and len(reps) % 2 == 1
            bench.tracer.enabled = traced
            quiesce()
            cpu0 = cpu_times()
            with RssSampler() as rss, bench.tracer.span("pipeline.drain") as s:
                rep = bench.drain(inp.src, Rep(traced=traced, t0=0.0))
            rep.span, rep.steal_pct = s.id, steal_pct(cpu0)
            rep.peak_rss, rep.peak_parts = rss.peak, rss.peak_parts
            reps.append(rep)
            if len(reps) >= MIN_DRAINS and time.monotonic() - t_begin + rep.wall > seconds:
                break
    else:
        loops = [(inp.src, inp.stage)]
        if traced_run:
            # pristine copies of the source and staging dirs for the traced loop
            loops.append((inp.src + "-2", inp.stage + "-2"))
            for a, b in zip(loops[0], loops[1]):
                shutil.copytree(a, b, copy_function=shutil.copy2)
        for i, (src, stage) in enumerate(loops):
            traced = i == 1
            bench.tracer.enabled = traced
            quiesce()
            cpu0 = cpu_times()
            with bench.tracer.span("pipeline.open_loop") as s:
                rep = bench.open_loop(inp, src, stage, traced)
            rep.span, rep.steal_pct = s.id, steal_pct(cpu0)
            reps.append(rep)
    bench.tracer.enabled = traced_run
    for rep in reps:
        finish_rep(rep, inp)
    return reps


def quiesce() -> None:
    """Start each timed drain or loop from the same state: earlier file
    writes flushed to disk, and the Python heap collected.  The JVM's
    heap is left as earlier work grew it."""
    import gc

    os.sync()
    gc.collect()


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int]) -> float:
    """Share of CPU time stolen by the hypervisor since ``before``."""
    d = [b - a for a, b in zip(before, cpu_times())]
    return 100.0 * d[7] / max(1, sum(d))


def end_to_end(bench: Bench, reps: list[Rep]) -> tuple[dict, dict]:
    """From the untraced drains or loop."""
    plain = [r for r in reps if not r.traced]
    lat = [x for r in plain for x in r.latencies]
    tail_v, tail_p = tail(lat)
    return {
        "setup_s": bench.setup_times["setup_s"],
        "drain_pages_per_s": median(r.pages / r.wall for r in plain),
        "commit_latency_p50_ms": 1000 * median(lat),
        "commit_latency_tail_ms": 1000 * tail_v,
    }, {"peak_rss_mb": max(r.peak_rss for r in plain) / 2**20,
        "tail_percentile": tail_p, "latency_samples": len(lat), "reps": len(reps),
        "rep_walls_s": [round(r.wall, 3) for r in reps],
        "rep_steal_pct": [round(r.steal_pct, 2) for r in reps],
        "rep_peak_rss_parts": [r.peak_parts for r in reps],
        "trigger_ms": [[(p.durationMs or {}).get("triggerExecution") for p in r.progress] for r in reps],
        "state_commit_ms": [sum(o.commitTimeMs for p in r.progress for o in (p.stateOperators or []))
                            for r in reps]}


# -- correctness -----------------------------------------------------------------

def check_all(bench: Bench, inp: Inputs, reps: list[Rep]) -> tuple[int, int]:
    """(files offered, files failed) over every rep."""
    import pandas as pd

    import check

    mine = pd.concat([inp.frames[f] for f in inp.mine_files], ignore_index=True)
    every = pd.concat(list(inp.frames.values()), ignore_index=True)
    clean = check.oracle_clean_texts(bench.work, mine, every, min(4, bench.cpus))
    delay = pd.Timedelta(WATERMARK)
    offered = failed = 0
    data = set(inp.data_files)
    for rep in reps:
        if bench.w["decode"]:
            prog = {p.batchId: p for p in rep.progress}
            bad = check.check_rows(rep.batch_files, inp.frames, clean, rep.sink, delay, prog)
        else:
            bad = check.check_windows(rep.batch_files, inp.frames, clean, rep.sink, delay,
                                      pd.Timedelta(WINDOW))
        offered += len(data)
        failed += len(bad & data)
    return offered, failed


# -- per-layer (traced run) -------------------------------------------------------

def _p50(xs) -> float:
    return float(median(list(xs)))


def _ops(p, name: str) -> list:
    return [s for s in (p.stateOperators or []) if s.operatorName == name]


def _dir_stats(root: str) -> tuple[int, int]:
    n = size = 0
    for d, _, files in os.walk(root):
        if "_tmp" in d.split(os.sep):
            continue
        for f in files:
            if f.startswith("part-") or f.endswith(".parquet") or f.endswith(".jsonl"):
                n += 1
                size += os.path.getsize(os.path.join(d, f))
    return n, size


def trigger_spans(tracer: Tracer, rep: Rep, parallel: int, kernel_s_per_row: float,
                  rows_in: dict[int, int]) -> None:
    """Spark's reported durations as child spans of each trigger, laid
    out around the measured foreach_batch call; state and kernel time
    as children of that call (state: Spark's summed task time / the
    parallel tasks; kernel: standalone seconds per row x rows in)."""
    calls = {bid: (s, e) for bid, s, e in rep.calls}
    for p in rep.progress:
        if p.batchId not in calls:
            continue
        d = {k: v / 1000.0 for k, v in (p.durationMs or {}).items()}
        s, e = calls[p.batchId]
        t_end = e + d.get("commitOffsets", 0.0)
        t_start = t_end - d.get("triggerExecution", e - s)
        trig = tracer.add("pipeline.trigger", t_start, t_end, rep.span, batch=p.batchId)
        cur = t_start
        for key, name in (("latestOffset", "source.latest_offset"), ("walCommit", "pipeline.wal_commit"),
                          ("getBatch", "source.get_batch"), ("queryPlanning", "pipeline.query_planning")):
            dur = d.get(key, 0.0)
            tracer.add(name, cur, min(cur + dur, e - d.get("addBatch", 0.0)), trig)
            cur += dur
        add = tracer.add("pipeline.add_batch", e - d.get("addBatch", e - s), e, trig)
        fb = tracer.add("sink.foreach_batch", s, e, add, batch=p.batchId)
        tracer.add("pipeline.commit_offsets", e, t_end, trig)
        cur = s
        for op, name in (("dedupe", "state.dedupe"), ("stateStoreSave", "state.window")):
            ms = sum(o.allUpdatesTimeMs + o.allRemovalsTimeMs + o.commitTimeMs for o in _ops(p, op))
            if ms:
                dur = ms / 1000.0 / parallel
                tracer.add(name, cur, min(cur + dur, e), fb)
                cur = min(cur + dur, e)
        k = kernel_s_per_row * rows_in.get(p.batchId, 0)
        if k:
            tracer.add("extract.kernel", cur, min(cur + k, e), fb, derived=True)


def standalone(bench: Bench, inp: Inputs, reps: list[Rep]) -> dict:
    """Kernel and decode kernel on the workload's pages as a static
    DataFrame written to noop; ratios of what the kernel removed;
    write_batch on a cached frame."""
    from pyspark.sql import functions as F

    from watermark_remove_spark.operators.extract import clean_pages_udf_fast, decode_html_expr
    from watermark_remove_spark.sources.pages import read_pages_batch

    spark, t = bench.spark, bench.tracer
    pages = read_pages_batch(spark, inp.src)
    n = pages.count()
    out = {}
    for key, text in (("extract.kernel_s", F.col("text")),
                      ("extract.decode_kernel_s", decode_html_expr(F.col("html")))):
        slim = pages.select("url", "warc_ts", text.alias("text"), "lang")
        with t.span(key[:-2]) as s:
            clean_pages_udf_fast(slim, bench.masks).write.format("noop").mode("overwrite").save()
        out[key] = s.end - s.start
    out["extract.kernel_pages_per_s"] = n / out["extract.kernel_s"]
    cols = ("url", "warc_ts", "domain", "lang", "text")
    k = clean_pages_udf_fast(pages.select("url", "warc_ts", "text", "lang"), bench.masks,
                             carry_cols=cols).where(F.col("text").isNotNull())
    r = k.agg(
        F.sum(F.size(F.split("text", "\n"))).alias("lines_in"),
        F.sum(F.size(F.split("clean_text", "\n"))).alias("lines_out"),
        F.sum(F.octet_length("text")).alias("bytes_in"),
        F.sum(F.octet_length("clean_text")).alias("bytes_out"),
    ).first()
    out["extract.lines_masked_ratio"] = (r.lines_in - r.lines_out) / r.lines_in
    out["extract.bytes_out_ratio"] = r.bytes_out / r.bytes_in

    last = reps[-1].sink
    frame = last.read_committed(spark)
    if bench.w["decode"]:
        frame = frame.unionByName(last.read_quarantined(spark))
    frame = frame.cache()
    frame.count()
    out_dir, _ = bench.fresh("commit-only")
    sink = bench.new_sink(out_dir)
    times = []
    for bid in range(3):
        with t.span("sink.commit_only") as s:
            sink.write_batch(frame, bid)
        times.append(s.end - s.start)
    frame.unpersist()
    out["sink.commit_only_ms"] = 1000 * median(times)
    return out


def local1_baseline(bench: Bench, inp: Inputs) -> float:
    """The same drain at local[1]: the single-thread baseline."""
    from watermark_remove_spark.operators.extract import MASK_SCHEMA
    from watermark_remove_spark.session import build_session

    rows = bench.masks.collect()
    bench.spark.stop()
    bench.spark = build_session(master="local[1]", streaming=True)
    bench.spark.sparkContext.setLogLevel("ERROR")
    bench.masks = bench.spark.createDataFrame(rows, MASK_SCHEMA).cache()
    bench.masks.count()
    with bench.tracer.span("baseline.local1_drain"):
        rep = bench.drain(inp.src, Rep(traced=False, t0=0.0))
    return sum(len(inp.frames[f]) for f in inp.data_files) / rep.wall


PER_LAYER = {
    "peak_rss_mb": "MiB",
    "mem.jvm_peak_mb": "MiB",
    "mem.python_peak_mb": "MiB",
    "session.build_s": "s",
    "extract.mine_masks_s": "s",
    "extract.mask_hashes": "count",
    "extract.masked_domains": "count",
    "source.latest_offset_ms_p50": "ms",
    "source.get_batch_ms_p50": "ms",
    "source.files_per_batch_p50": "count",
    "source.backlog_max_files": "count",
    "pipeline.batches": "count",
    "pipeline.trigger_ms_p50": "ms",
    "pipeline.add_batch_ms_p50": "ms",
    "pipeline.query_planning_ms_p50": "ms",
    "pipeline.wal_commit_ms_p50": "ms",
    "pipeline.commit_offsets_ms_p50": "ms",
    "extract.kernel_s": "s",
    "extract.kernel_pages_per_s": "pages/s",
    "extract.decode_kernel_s": "s",
    "extract.lines_masked_ratio": "ratio",
    "extract.bytes_out_ratio": "ratio",
    "state.dedupe.update_ms": "ms",
    "state.dedupe.commit_ms": "ms",
    "state.dedupe.rows_total_end": "count",
    "state.dedupe.mem_bytes_end": "bytes",
    "state.dedupe.dropped_late": "count",
    "state.dedupe.dropped_dupes": "count",
    "state.window.update_ms": "ms",
    "state.window.commit_ms": "ms",
    "state.window.rows_total_end": "count",
    "state.window.dropped_late": "count",
    "sink.write_batch_ms_p50": "ms",
    "sink.commit_only_ms": "ms",
    "sink.rows_committed": "count",
    "sink.rows_quarantined": "count",
    "sink.bytes_written": "bytes",
    "sink.files_written": "count",
    "sink.replayed_batches": "count",
    "gen.lag_max_ms": "ms",
    "layer.source.self_ms": "ms",
    "layer.pipeline.self_ms": "ms",
    "layer.extract.self_ms": "ms",
    "layer.state.self_ms": "ms",
    "layer.sink.self_ms": "ms",
    "trace.overhead_ms": "ms",
    "baseline.local1_pages_per_s": "pages/s",
}
LAYERS = ("source", "pipeline", "extract", "state", "sink")


def per_layer(bench: Bench, inp: Inputs, reps: list[Rep]) -> tuple[dict, dict]:
    """Every PER_LAYER metric from the traced reps (Spark progress,
    checkpoint, ledger, spans) plus the standalone measurements."""
    from check import ledger_counts

    t = bench.tracer
    traced = [r for r in reps if r.traced]
    plain = [r for r in reps if not r.traced]
    m: dict[str, float] = {}
    peak = max(plain, key=lambda r: r.peak_rss)
    m["peak_rss_mb"] = peak.peak_rss / 2**20
    m["mem.jvm_peak_mb"] = peak.peak_parts.get("java", [0.0])[0]
    m["mem.python_peak_mb"] = m["peak_rss_mb"] - m["mem.jvm_peak_mb"]
    m["session.build_s"] = bench.setup_times["session.build_s"]
    m["extract.mine_masks_s"] = bench.setup_times["extract.mine_masks_s"]
    masks = bench.masks.collect()
    m["extract.mask_hashes"] = sum(len(r.mask) for r in masks)
    m["extract.masked_domains"] = sum(1 for r in masks if len(r.mask))

    progs = [p for r in traced for p in r.progress]

    def dur(key):
        return [(p.durationMs or {}).get(key, 0) for p in progs]

    m["source.latest_offset_ms_p50"] = _p50(dur("latestOffset"))
    m["source.get_batch_ms_p50"] = _p50(dur("getBatch"))
    m["source.files_per_batch_p50"] = _p50(len(f) for r in traced for f in r.batch_files if f)
    # files landed but not yet consumed, at each sink call
    backlog = []
    for r in traced:
        starts = {bid: s for bid, s, _ in r.calls}
        landed = [x["landed"] for x in r.feeder_log]
        done = 0
        for b, files in enumerate(r.batch_files):
            if not r.feeder_log:
                backlog.append(sum(len(f) for f in r.batch_files[b:]))
            elif b in starts:
                backlog.append(len(inp.mine_files) + sum(x <= starts[b] for x in landed) - done)
            done += len(files)
    m["source.backlog_max_files"] = max(backlog, default=0)
    m["pipeline.batches"] = _p50(len(r.batch_files) for r in traced)
    for name, key in (("trigger", "triggerExecution"), ("add_batch", "addBatch"),
                      ("query_planning", "queryPlanning"), ("wal_commit", "walCommit"),
                      ("commit_offsets", "commitOffsets")):
        m[f"pipeline.{name}_ms_p50"] = _p50(dur(key))

    # state: summed over each drain's (or open loop's) micro-batches
    for op, tag in (("dedupe", "dedupe"), ("stateStoreSave", "window")):
        per_rep = []
        for r in traced:
            ops = [(p.batchId, o) for p in r.progress for o in _ops(p, op)]
            last_bid = max((b for b, _ in ops), default=None)
            last = [o for b, o in ops if b == last_bid]
            per_rep.append({
                "update_ms": sum(o.allUpdatesTimeMs for _, o in ops),
                "commit_ms": sum(o.commitTimeMs for _, o in ops),
                "rows_total_end": sum(o.numRowsTotal for o in last),
                "mem_bytes_end": sum(o.memoryUsedBytes for o in last),
                "dropped_late": sum(o.numRowsDroppedByWatermark for _, o in ops),
                "dropped_dupes": sum(int(o.customMetrics.get("numDroppedDuplicateRows", 0)) for _, o in ops),
            })
        for k in per_rep[0]:
            if f"state.{tag}.{k}" in PER_LAYER:
                m[f"state.{tag}.{k}"] = _p50(x[k] for x in per_rep)

    m["sink.write_batch_ms_p50"] = 1000 * _p50(e - s for r in traced for _, s, e in r.calls)
    n_rows, n_quar = ledger_counts(traced[-1].sink)
    m["sink.rows_committed"] = sum(n_rows.values())
    m["sink.rows_quarantined"] = sum(n_quar.values())
    m["sink.files_written"], m["sink.bytes_written"] = _dir_stats(traced[-1].sink.out_dir)
    m["sink.replayed_batches"] = sum(len(r.calls) - len({b for b, _, _ in r.calls}) for r in traced)
    m["gen.lag_max_ms"] = 1000 * max(
        (x["landed"] - x["due"] for r in reps for x in r.feeder_log), default=0.0
    )

    m.update(standalone(bench, inp, reps))

    # Spark's durations as spans, then self time per layer over the
    # timed region, per drain (closed) or per open loop
    rows_total = sum(len(f) for f in inp.frames.values())
    kernel_per_row = m["extract.kernel_s"] / rows_total
    parallel = min(int(bench.spark.conf.get("spark.sql.shuffle.partitions")), bench.cpus)
    for r in traced:
        rows_in = {b: sum(len(inp.frames[f]) for f in files) for b, files in enumerate(r.batch_files)}
        trigger_spans(t, r, parallel, kernel_per_row, rows_in)
    sub = _subtree(t, {r.span for r in traced})
    if bench.w["loop"] == "open":
        for s in sub.spans:  # the open loop's own self time is waiting for arrivals
            if s["parent"] is None:
                s["name"] = "idle.open_loop"
    layers: dict[str, float] = {}
    for name, secs in sub.self_times().items():
        layers[name.split(".")[0]] = layers.get(name.split(".")[0], 0.0) + secs / len(traced)
    for layer in LAYERS:
        m[f"layer.{layer}.self_ms"] = 1000 * layers.get(layer, 0.0)
    dominant = max(LAYERS, key=lambda k: layers.get(k, 0.0))

    if bench.w["loop"] == "closed":
        over = median(r.wall for r in traced) - median(r.wall for r in plain)
    else:
        over = median(traced[0].latencies) - median(plain[0].latencies)
    m["trace.overhead_ms"] = 1000 * over
    m["baseline.local1_pages_per_s"] = (
        local1_baseline(bench, inp) if bench.name == "backlog-drain" else 0.0
    )
    return m, {"dominant_layer": dominant,
               "layer_self_s_per_rep": {k: round(v, 4) for k, v in layers.items()},
               "overhead_basis": "drain wall" if bench.w["loop"] == "closed" else "p50 commit latency"}


def _subtree(t: Tracer, roots: set) -> Tracer:
    """A tracer holding only the given root spans and their descendants,
    renumbered."""
    keep, kept = set(roots), []
    for s in t.spans:  # parents are recorded before their children
        if s["id"] in keep or s["parent"] in keep:
            keep.add(s["id"])
            kept.append(s)
    remap = {s["id"]: i for i, s in enumerate(kept)}
    sub = Tracer(True, t.run_id)
    sub.spans = [dict(s, id=remap[s["id"]], parent=remap.get(s["parent"])) for s in kept]
    return sub


# -- host, provenance, process hygiene ----------------------------------------

def precheck(cpus: int) -> dict:
    """Refuse a host with fewer CPUs than local[N], or one whose CPUs
    stay more than half busy (other work, or the hypervisor's steal)
    for LOAD_WAIT_S before the run."""
    have = len(os.sched_getaffinity(0))
    if have < cpus:
        raise Refused(f"host has {have} CPUs, fewer than the requested local[{cpus}]")
    deadline = time.monotonic() + LOAD_WAIT_S
    while True:
        before = cpu_times()
        time.sleep(1.0)
        d = [b - a for a, b in zip(before, cpu_times())]
        idle = (d[3] + d[4]) / max(1, sum(d))  # idle + iowait
        if idle >= MIN_IDLE_SHARE:
            return {"nproc": have, "loadavg": os.getloadavg(), "idle_share_at_start": round(idle, 3)}
        if time.monotonic() > deadline:
            raise Refused(f"host too loaded to measure: {idle:.0%} of CPU time idle, "
                          f"below {MIN_IDLE_SHARE:.0%} for {LOAD_WAIT_S:.0f} s")


def provenance(bench: Bench, host: dict) -> dict:
    import pyarrow
    import pyspark

    conf = bench.spark.conf
    return {
        **host,
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "master": bench.spark.sparkContext.master,
        "state_store_provider": conf.get("spark.sql.streaming.stateStore.providerClass"),
        "driver_memory": conf.get("spark.driver.memory"),
        "shuffle_partitions": int(conf.get("spark.sql.shuffle.partitions")),
    }


def isolate(work: str) -> None:
    """Keep every file the run writes (JVM temp, Spark local dirs, Python
    temp) inside the working tree."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable


def shutdown(bench: Bench | None) -> None:
    """Stop Spark, end the JVM, and wait until every process this run
    started has exited."""
    mine = set(process_tree(os.getpid())) - {os.getpid()}
    if bench is not None and bench.spark is not None:
        try:
            bench.spark.stop()
        except Exception:  # noqa: BLE001 - still end the JVM below
            traceback.print_exc()
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            log("waiting for the JVM")
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    alive = set(mine)
    while alive and time.monotonic() < deadline:
        alive = {p for p in alive if _alive(p)}
        time.sleep(0.05)
    for p in alive:
        try:
            with open(f"/proc/{p}/cmdline") as f:
                log(f"killing straggler {p}: {f.read()[:200]!r}")
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    deadline = time.monotonic() + 10
    while any(_alive(p) for p in alive) and time.monotonic() < deadline:
        time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().split(") ")[-1][:1] != "Z"
    except OSError:
        return False


# -- main -------------------------------------------------------------------------

def parse(argv):
    ap = argparse.ArgumentParser(prog="perfbench/run.py", description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cpus", type=int, default=len(os.sched_getaffinity(0)),
                    help="N in local[N] (default: the CPUs this process may use)")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    try:
        import watermark_remove_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is missing: {e}", file=sys.stderr)
        return 1
    try:
        host = precheck(args.cpus)
    except Refused as e:
        print(f"perfbench: refused: {e}", file=sys.stderr)
        return 3

    w = WORKLOADS[args.workload]
    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(os.getcwd(), ".perfbench_work", f"{run_id}-{os.getpid()}")
    out_dir = os.path.join(os.getcwd(), ".perfbench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(out_dir, exist_ok=True)
    isolate(work)
    tracer = Tracer(bool(args.trace), run_id)
    bench = None
    try:
        inp = make_inputs(w, args.seed, args.seconds, work)
        log("inputs written")
        bench = Bench(args.workload, w, args, work, tracer)
        bench.setup(inp)
        log("set up")
        prov = provenance(bench, host)
        reps = run_timed(bench, inp, bool(args.trace))
        log("timed run done")
        offered, failed = check_all(bench, inp, reps)
        log("checked")
        e2e, e2e_info = end_to_end(bench, reps)
        if args.trace:
            metrics, info = per_layer(bench, inp, reps)
            metrics = {k: metrics[k] for k in PER_LAYER}
            units = PER_LAYER
        else:
            metrics, info = e2e, e2e_info
            units = END_TO_END
    except Exception:  # noqa: BLE001 - report, then fail without a result line
        traceback.print_exc()
        shutdown(bench)
        return 1
    shutdown(bench)
    shutil.rmtree(work, ignore_errors=True)
    log("shut down")

    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "loop": w["loop"], "provenance": prov, "info": info,
              "setup": bench.setup_times, "failed_files": failed, "files_offered": offered,
              "metrics": metrics}
    with open(os.path.join(out_dir, f"{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    if args.trace:
        tracer.dump(os.path.join(out_dir, f"{run_id}.spans.json"))

    print(f"workload={args.workload} loop={w['loop']} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    print("provenance: " + " ".join(f"{k}={v}" for k, v in prov.items()))
    for k, v in metrics.items():
        print(f"{k} = {v:.6g} {units[k]}")
    print(f"failed_ratio = {failed / max(1, offered):.6g} ratio ({failed} of {offered} files offered)")
    if not args.trace:
        # not gated: G1 grows the 8g heap in steps whose number varies by run
        print(f"peak_rss_mb = {e2e_info['peak_rss_mb']:.6g} MiB")
    print("info: " + json.dumps(info, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": offered,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
