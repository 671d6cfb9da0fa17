"""Per-run correctness: the file-to-batch composition each micro-batch
actually had (read back from the checkpoint), the repo's oracles run
over exactly those batches, and the committed sink output compared
against them.  Every mismatch is charged to the input files it touches.
"""

from __future__ import annotations

import json
import os
import pickle
import subprocess
import sys
from collections import Counter

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from watermark_remove_spark.oracle import oracle_extract, oracle_mine_masks
from watermark_remove_spark.oracle_stream import simulate_dedup, simulate_tumbling_agg
from watermark_remove_spark.spec import domain_of


def _log_lines(path: str) -> list[str]:
    with open(path) as f:
        return f.read().splitlines()


def checkpoint_batches(ckpt: str) -> list[list[str]]:
    """Basenames of the files consumed by each committed micro-batch
    0..last, in batch order; a no-data batch consumed none."""
    committed = sorted(int(n) for n in os.listdir(os.path.join(ckpt, "commits")) if n.isdigit())
    if committed != list(range(len(committed))):
        raise RuntimeError(f"{ckpt}: commit log is not contiguous from 0: {committed}")
    by_src: dict[int, set[str]] = {}
    src_dir = os.path.join(ckpt, "sources", "0")
    for name in os.listdir(src_dir):
        if name.split(".")[0].isdigit() and not name.startswith("."):
            for line in _log_lines(os.path.join(src_dir, name))[1:]:
                e = json.loads(line)
                by_src.setdefault(e["batchId"], set()).add(os.path.basename(e["path"]))
    out, prev = [], -1
    for b in committed:
        # line 0: version, 1: batch metadata, 2: the file source's offset
        off = json.loads(_log_lines(os.path.join(ckpt, "offsets", str(b)))[2])["logOffset"]
        out.append(sorted(f for s in range(prev + 1, off + 1) for f in by_src.get(s, ())))
        prev = off
    return out


def _mine(pages: pd.DataFrame) -> dict:
    return oracle_mine_masks(pages)


def _extract(pages: pd.DataFrame, masks: dict) -> list[str]:
    return list(oracle_extract(pages, masks)["clean_text"])


def _parallel(work: str, fn: str, arg_lists: list[tuple]) -> list:
    """Run ``fn(*args)`` for each args in its own worker process (this
    file as a script); inputs and results pass through pickle files in
    ``work`` that only this benchmark writes."""
    procs = []
    for i, args in enumerate(arg_lists):
        inp, out = (os.path.join(work, f"oracle-{fn}-{i}.{x}.pkl") for x in ("in", "out"))
        with open(inp, "wb") as f:
            pickle.dump((fn, args), f)
        procs.append((subprocess.Popen([sys.executable, os.path.abspath(__file__), inp, out]), out))
    results, failed = [], False
    for proc, out in procs:
        failed |= proc.wait() != 0
        if not failed:
            with open(out, "rb") as f:
                results.append(pickle.load(f))
    if failed:
        raise RuntimeError(f"an oracle worker ({fn}) failed")
    return results


def oracle_clean_texts(work: str, mine_pages: pd.DataFrame, pages: pd.DataFrame, n_parts: int) -> dict:
    """(url, warc_ts) -> oracle clean_text under oracle masks mined from
    ``mine_pages``.  Masks are per domain, so mining splits exactly by
    domain; extraction splits by row."""
    doms = mine_pages["url"].map(domain_of)
    sizes = doms.value_counts()
    bins: list[list[str]] = [[] for _ in range(n_parts)]
    load = [0] * n_parts
    for d, n in sizes.items():
        i = load.index(min(load))
        bins[i].append(d)
        load[i] += n
    parts = [mine_pages[doms.isin(b)] for b in bins if b]
    masks: dict = {}
    for m in _parallel(work, "_mine", [(p,) for p in parts]):
        masks.update(m)
    uniq = pages.drop_duplicates(subset=["url", "warc_ts"])
    per = -(-len(uniq) // n_parts)
    chunks = [uniq.iloc[i * per : (i + 1) * per] for i in range(n_parts)]
    texts = _parallel(work, "_extract", [(c, masks) for c in chunks if len(c)])
    flat = [t for part in texts for t in part]
    return dict(zip(zip(uniq["url"], uniq["warc_ts"]), flat))


def _naive(ts) -> pd.Timestamp:
    t = pd.Timestamp(ts)
    return t.tz_convert(None) if t.tzinfo is not None else t


def read_sink(sink) -> tuple[pd.DataFrame, pd.DataFrame, Counter]:
    """(data rows, quarantined rows, ledger batch-id counts) of the
    ledgered batches, read with pyarrow so no Spark job runs."""
    import pyarrow.parquet as pq

    ledger = Counter()
    if os.path.exists(sink.ledger_path):
        for line in _log_lines(sink.ledger_path):
            if line.strip():
                rec = json.loads(line)
                if "batch_id" in rec:
                    ledger[rec["batch_id"]] += 1

    def frames(root: str) -> pd.DataFrame:
        parts = []
        for b in sorted(ledger):
            d = os.path.join(root, f"batch_id={b}")
            if os.path.isdir(d):
                for name in sorted(os.listdir(d)):
                    if name.startswith("part-"):
                        parts.append(pq.read_table(os.path.join(d, name)).to_pandas())
        if not parts:
            return pd.DataFrame()
        out = pd.concat(parts, ignore_index=True)
        for c in out.columns:
            if pd.api.types.is_datetime64_any_dtype(out[c]):
                out[c] = out[c].map(_naive)
        return out

    return frames(sink.data_dir), frames(sink.quarantine_dir), ledger


def _batches(batch_files: list[list[str]], frames: dict[str, pd.DataFrame]) -> list[pd.DataFrame]:
    empty = next(iter(frames.values())).iloc[0:0]
    return [
        pd.concat([frames[f] for f in files], ignore_index=True) if files else empty
        for files in batch_files
    ]


def _files_touching(keys: set, batch_files, frames, key_of) -> set[str]:
    """Input files holding any of ``keys``; every file when some key
    (an output row no input explains) cannot be traced to one."""
    touched, hit = set(), set()
    for files in batch_files:
        for f in files:
            common = keys & set(key_of(frames[f]))
            if common:
                touched.add(f)
                hit |= common
    if keys - hit:
        return {f for files in batch_files for f in files}
    return touched


def check_windows(batch_files, frames, clean, sink, delay, window) -> set[str]:
    """Committed (window_start, window_end, lang, n_pages, total_chars)
    must equal simulate_tumbling_agg over simulate_dedup of the actual
    batches, each exactly once.  Returns the input files that fail."""
    batches = _batches(batch_files, frames)
    survivors = simulate_dedup(batches, delay)
    surv = set(zip(survivors["url"], survivors["warc_ts"]))
    deduped = []
    for b in batches:
        alive = pd.Series([k in surv for k in zip(b["url"], b["warc_ts"])], index=b.index, dtype=bool)
        keep = b[alive].drop_duplicates(subset=["url", "warc_ts"]).copy()
        surv -= set(zip(keep["url"], keep["warc_ts"]))  # first arrival only
        keep["clean_text"] = [clean[k] for k in zip(keep["url"], keep["warc_ts"])]
        deduped.append(keep)
    want = simulate_tumbling_agg(deduped, delay, window)
    data, _, ledger = read_sink(sink)
    cols = ["window_start", "window_end", "lang", "n_pages", "total_chars"]

    def rows(df):
        if df.empty:
            return Counter()
        return Counter(
            (pd.Timestamp(ws), pd.Timestamp(we), lang, int(n), int(c))
            for ws, we, lang, n, c in df[cols].itertuples(index=False)
        )

    got_c, want_c = rows(data), rows(want)
    bad = {(r[0], r[2]) for r in (got_c - want_c) + (want_c - got_c)}
    bad |= {(r[0], r[2]) for r, n in got_c.items() if n > 1}
    failed = _files_touching(
        bad, batch_files, frames,
        lambda df: zip(df["warc_ts"].dt.floor(window), df["lang"]),
    )
    return failed | _ledgered_twice(ledger, batch_files)


def _ledgered_twice(ledger: Counter, batch_files) -> set[str]:
    """A batch id ledgered more than once breaks exactly-once for every
    row it emitted; a window batch emits rows of earlier batches' files,
    so charge every file."""
    if any(n > 1 for n in ledger.values()):
        return {f for files in batch_files for f in files}
    return set()


def check_rows(batch_files, frames, clean, sink, delay, progress) -> set[str]:
    """Decode + quarantine branch: every surviving row committed exactly
    once, with clean_text byte-identical to the oracle; null-html
    survivors quarantined; and per batch, input rows = committed +
    quarantined + late-dropped + duplicates-dropped (Spark's own
    counters).  Returns the input files that fail."""
    batches = _batches(batch_files, frames)
    survivors = simulate_dedup(batches, delay)
    good = survivors[survivors["html"].notna()]
    want_good = Counter(zip(good["url"], good["warc_ts"]))
    want_quar = Counter(
        zip(survivors.loc[survivors["html"].isna(), "url"],
            survivors.loc[survivors["html"].isna(), "warc_ts"])
    )
    data, quar, ledger = read_sink(sink)

    def keys(df):
        return Counter(zip(df["url"], df["warc_ts"])) if not df.empty else Counter()

    got_good, got_quar = keys(data), keys(quar)
    bad = set((got_good - want_good) + (want_good - got_good))
    bad |= set((got_quar - want_quar) + (want_quar - got_quar))
    bad |= {k for k, n in got_good.items() if n > 1}
    if not data.empty:
        for u, ts, text in data[["url", "warc_ts", "clean_text"]].itertuples(index=False):
            if text != clean.get((u, ts)):
                bad.add((u, ts))
    failed = _files_touching(bad, batch_files, frames, lambda df: zip(df["url"], df["warc_ts"]))

    n_rows, n_quar = ledger_counts(sink)
    for b, files in enumerate(batch_files):
        p = progress.get(b)
        dedupe = [s for s in (p.stateOperators if p else []) if s.operatorName == "dedupe"]
        late = sum(s.numRowsDroppedByWatermark for s in dedupe)
        dups = sum(int(s.customMetrics.get("numDroppedDuplicateRows", 0)) for s in dedupe)
        n_in = sum(len(frames[f]) for f in files)
        if p is None or n_in != n_rows.get(b, 0) + n_quar.get(b, 0) + late + dups:
            failed |= set(files)
    return failed | _ledgered_twice(ledger, batch_files)


def ledger_counts(sink) -> tuple[dict[int, int], dict[int, int]]:
    n_rows, n_quar = {}, {}
    for line in _log_lines(sink.ledger_path):
        if line.strip():
            rec = json.loads(line)
            if "batch_id" in rec:
                n_rows[rec["batch_id"]] = rec["n_rows"]
                n_quar[rec["batch_id"]] = rec.get("n_quarantined", 0)
    return n_rows, n_quar


if __name__ == "__main__":
    with open(sys.argv[1], "rb") as f:
        name, args = pickle.load(f)
    with open(sys.argv[2], "wb") as f:
        pickle.dump({"_mine": _mine, "_extract": _extract}[name](*args), f)
