"""Single-parallelism streaming-throughput job, run once per cluster
size by tools/scaling_bench.py (the sandbox evidence for the
north_rule's N-vs-4N executor scaling criterion).

spark-submit shape (north_rule: "run via spark-submit --py-files"):
    spark-submit --master local[N] \
        --py-files watermark_remove_spark.zip \
        tools/stream_throughput_job.py --cpus N --src DIR [...]
Also runnable as plain `python tools/stream_throughput_job.py` (it
builds its own local session).

Prints one JSON line: {"cpus": N, "pages": P, "stream_sec": S,
"pages_per_sec": R, "batches": B}.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--master", default=None,
                    help="e.g. local-cluster[4,2,4096] for true multi-executor "
                         "JVMs (the north_rule cluster model); default local[cpus]")
    ap.add_argument("--src", required=True, help="dir of ordered batch parquet files")
    ap.add_argument("--n-pages", type=int, required=True)
    ap.add_argument("--files-per-trigger", type=int, default=1)
    ap.add_argument("--shuffle-partitions", type=int, default=None,
                    help="state/shuffle partition count; MUST be equal across "
                         "cluster sizes for a stateful query (state partitioning "
                         "is immutable across checkpoint restarts)")
    ap.add_argument("--pyfiles-mode", action="store_true",
                    help="running under spark-submit --py-files: do NOT set "
                         "spark.executorEnv.PYTHONPATH — executors must import "
                         "the package from the shipped zip alone")
    args = ap.parse_args()

    from watermark_remove_spark.operators.extract import mine_masks
    from watermark_remove_spark.session import build_session
    from watermark_remove_spark.sources.pages import read_pages_batch
    from watermark_remove_spark.streaming.pipeline import (
        build_clean_stream,
        build_window_stream,
        run_stream_to_sink,
    )
    from watermark_remove_spark.streaming.sink import ParquetLedgerSink

    import os as _os

    # Under spark-submit --py-files (the north_rule protocol) executors
    # import the package from the shipped zip; the PYTHONPATH fallback
    # exists only for the plain-`python` invocation path.
    extra_conf = {}
    if not args.pyfiles_mode:
        extra_conf["spark.executorEnv.PYTHONPATH"] = _os.path.dirname(
            _os.path.dirname(_os.path.abspath(__file__))
        )
    spark = build_session(
        app_name=f"wrs-scale-{args.cpus}",
        master=args.master or f"local[{args.cpus}]",
        shuffle_partitions=args.shuffle_partitions or args.cpus,
        streaming=True,
        extra_conf=extra_conf,
    )
    spark.sparkContext.setLogLevel("ERROR")

    masks = mine_masks(read_pages_batch(spark, args.src))
    masks.cache().count()

    tmp = tempfile.mkdtemp(prefix=f"wrs-scale-{args.cpus}-")
    sink = ParquetLedgerSink(os.path.join(tmp, "sink"))
    cleaned = build_clean_stream(
        spark, args.src, masks, files_per_trigger=args.files_per_trigger
    )
    win = build_window_stream(cleaned)
    t0 = time.perf_counter()
    q = run_stream_to_sink(win, sink, os.path.join(tmp, "ck"))
    q.awaitTermination(3600)
    sec = time.perf_counter() - t0
    n_batches = len(sink.committed_batches())
    spark.stop()
    print(
        json.dumps(
            {
                "cpus": args.cpus,
                "master": args.master or f"local[{args.cpus}]",
                "pages": args.n_pages,
                "stream_sec": round(sec, 3),
                "pages_per_sec": round(args.n_pages / sec, 1),
                "batches": n_batches,
            }
        )
    )


if __name__ == "__main__":
    main()
