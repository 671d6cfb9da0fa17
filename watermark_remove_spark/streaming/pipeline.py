"""The end-to-end streaming pipeline (north_star order of operations):

  rate-limited / file micro-batch source (O-2)
    -> withWatermark('warc_ts', Δ)                 (O-24)
    -> dropDuplicates(['url','warc_ts'])           (O-25, state-backed)
    -> mapInArrow extraction, masks shipped once per stream (O-8/O-10/O-16)
    -> [branch A] cleaned rows     -> exactly-once sink (O-26/O-27)
    -> [branch B] windowed agg     -> exactly-once sink (append mode)

Replaces the reference's Celery-tier design (declared, never built:
reference README.md:4,10, empty tasks/) with the micro-batch scheduler
itself (SURVEY §2 O-7).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.extract import clean_pages_udf_fast, with_domain
from ..operators.windows import lang_window_agg
from ..sources.pages import stream_pages_files
from .sink import ParquetLedgerSink

DEFAULT_WATERMARK = "10 minutes"


def build_clean_stream(
    spark: SparkSession,
    src_dir: str,
    masks: DataFrame,
    watermark: str = DEFAULT_WATERMARK,
    files_per_trigger: int = 1,
    decode_html: bool = False,
    tag_errors: bool = False,
) -> DataFrame:
    """source -> clean -> watermark -> dedup; masks is a static (batch)
    DataFrame, collected once here and shipped to the mapInArrow kernel
    once per stream (no per-micro-batch join).

    ``decode_html=True`` is the production input shape: text is decoded
    from the raw ``html:binary`` column in-stream.  ``tag_errors=True``
    adds an ``error`` column marking rows that cleaned to nothing, for
    the sink's quarantine routing (``quarantine_col='error'``).

    Ordering constraints encoded ONCE here (both variants share them):
    - html is pruned from the scan unless it is the decode source — the
      dominant-bytes column must never be scanned or shuffled idly;
    - extraction runs BEFORE the watermark: the map node erases the
      event-time tag and a watermark cannot be redefined mid-plan, so
      the single watermark is declared after the (stateless) extraction
      and both stateful operators (dedup here, windows downstream)
      share it;
    - dedup after clean is result-identical (clean_text is a function
      of (url, warc_ts) content) and the dedup shuffle carries the
      smaller clean_text instead of raw text.
    """
    src = stream_pages_files(spark, src_dir, files_per_trigger)
    if decode_html:
        from ..operators.extract import decode_html_expr

        text = decode_html_expr(F.col("html")).alias("text")
    else:
        text = F.col("text")
    slim = src.select("url", "warc_ts", text, "lang")
    cleaned = clean_pages_udf_fast(slim, masks)
    if tag_errors:
        cleaned = cleaned.withColumn(
            "error",
            F.when(F.col("clean_text").isNull(), F.lit("null_text")),
        )
    return cleaned.withWatermark("warc_ts", watermark).dropDuplicates(
        ["url", "warc_ts"]
    )


def build_decode_clean_stream(
    spark: SparkSession,
    src_dir: str,
    masks: DataFrame,
    watermark: str = DEFAULT_WATERMARK,
    files_per_trigger: int = 1,
) -> DataFrame:
    """Production-shaped clean stream: decode ``html:binary`` in-stream
    and TAG (not drop) rows that decode to nothing — the ``error``
    column routes them to the sink's quarantine output, so one poison
    page degrades to a quarantine record instead of killing the query
    (SURVEY §2.8; the reference instead 500s the request,
    ``api/main.py:61-70``)."""
    return build_clean_stream(
        spark,
        src_dir,
        masks,
        watermark,
        files_per_trigger,
        decode_html=True,
        tag_errors=True,
    )


def build_window_stream(cleaned: DataFrame, window: str = "10 minutes", slide: str | None = None) -> DataFrame:
    """Windowed per-lang aggregate over the cleaned stream, append mode
    (rows are final once emitted — golden-test requirement).

    ONE aggregate definition serves batch and streaming: this is
    ``operators.windows.lang_window_agg`` with the approx-distinct
    sketch (exact ``count_distinct`` is unsupported in streaming
    aggregation), renamed ``n_urls_approx`` to mark the estimate."""
    return lang_window_agg(
        cleaned, window, slide, exact_distinct=False
    ).withColumnRenamed("n_urls", "n_urls_approx")


def run_stream_to_sink(
    df: DataFrame,
    sink: ParquetLedgerSink,
    checkpoint_dir: str,
    output_mode: str = "append",
    available_now: bool = True,
    query_name: str = "wrs-stream",
):
    """Start a streaming query into the exactly-once sink; availableNow
    drains all pending files in deterministic micro-batches (respecting
    maxFilesPerTrigger) then stops — the golden-test trigger."""
    writer = (
        df.writeStream.queryName(query_name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink.foreach_batch())
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_complete_to_snapshot(
    df: DataFrame,
    sink,
    checkpoint_dir: str,
    finalize=None,
    query_name: str = "wrs-snapshot",
):
    """Start a COMPLETE-mode streaming aggregate into the latest-wins
    snapshot sink (``ParquetSnapshotSink``).  Each trigger republishes
    the full updated aggregate atomically; ``finalize`` runs batch-side
    per trigger (rank/top-k trims that complete-mode streaming plans
    cannot hold).  availableNow drains pending files then stops."""
    return (
        df.writeStream.queryName(query_name)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink.foreach_batch(finalize))
        .trigger(availableNow=True)
        .start()
    )


def streaming_asof_template_join(
    pages: DataFrame,
    templates: DataFrame,
    watermark: str = DEFAULT_WATERMARK,
    max_version_age: str = "30 days",
) -> DataFrame:
    """O-15: watermark-bounded stream-stream equi join of page events
    against the domain-template changelog, then as-of (latest
    valid_from <= warc_ts) resolution via a streaming max aggregate.

    The event-time bound (valid_from in [warc_ts - max_version_age,
    warc_ts]) lets Spark evict join state once the watermark passes;
    the follow-up groupBy((url, warc_ts) window) max(valid_from)
    collapses the candidate versions to the in-force one.  Append mode:
    resolved rows emit once the watermark closes the page's window.
    """
    p = pages.withWatermark("warc_ts", watermark).alias("p")
    t = templates.withWatermark("valid_from", watermark).alias("t")
    joined = p.join(
        t,
        F.expr(
            f"""
            p.domain = t.domain AND
            t.valid_from <= p.warc_ts AND
            t.valid_from >= p.warc_ts - interval {max_version_age}
            """
        ),
        # leftOuter, matching the batch as-of form: a page with no
        # template version in range still emits (NULL valid_from) once
        # the watermark closes it, instead of silently vanishing
        "leftOuter",
    )
    return joined.groupBy(
        F.col("p.url").alias("url"),
        F.col("p.warc_ts").alias("warc_ts"),
        F.col("p.domain").alias("domain"),
    ).agg(F.max(F.col("t.valid_from")).alias("template_valid_from"))


def streaming_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    left_ts: str = "ts",
    right_ts: str = "ts",
    horizon: str = "30 minutes",
    watermark: str = DEFAULT_WATERMARK,
    how: str = "inner",
) -> DataFrame:
    """O-15 symmetric form: watermark-bounded stream-stream interval
    join — right events joined to left events of the same key
    arriving within ``(left_ts, left_ts + horizon]`` (strict >, so an
    event never attributes to itself when both sides derive from one
    stream).  The attribution join of every event pipeline: views x
    purchases, impressions x clicks, crawl-fetch x parse-complete.

    Scale semantics: the time bound INSIDE the join condition is what
    lets Spark size the state store — each side buffers only rows
    younger than (watermark + horizon); without the bound, stream-
    stream join state grows without limit and a 10^12-event stream
    OOMs.  Inner matches emit as soon as both sides arrive, so output
    content is deterministic for a drained fixture; with
    ``how='leftOuter'`` an unmatched left row emits null-extended only
    once the WATERMARK passes ``left_ts + horizon`` (state eviction
    proves no match can still arrive) — callers must pin the final
    watermark past every real row (the sentinel-batch fixture
    convention) or tail rows stay unemitted.
    """
    allowed = {
        "inner",
        "leftOuter",
        "left_outer",
        "fullOuter",
        "full_outer",
        "leftSemi",
        "left_semi",
    }
    if how not in allowed:
        # rightOuter alone would need the mirrored eviction analysis
        # flipped; use fullOuter (both-side eviction) or swap the sides
        raise ValueError(f"how={how!r} not supported; use one of {sorted(allowed)}")
    # validate BEFORE constructing the join: on a self-join Spark's
    # eager analysis would otherwise fail first with an opaque
    # ambiguous-column error instead of this one
    dup = [c for c in left.columns if c != key and c in right.columns]
    if dup:
        raise ValueError(f"non-key columns present on both sides: {dup}")
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = right.withWatermark(right_ts, watermark).alias("r")
    joined = l.join(
        r,
        F.expr(
            f"""
            l.{key} = r.{key} AND
            r.{right_ts} > l.{left_ts} AND
            r.{right_ts} <= l.{left_ts} + interval {horizon}
            """
        ),
        how,
    )
    # Flatten to an unambiguous schema: join key once, then each
    # side's remaining columns (disjointly named, validated above).
    # Full outer emits right-only rows whose LEFT key is null — the
    # key column must coalesce both sides there; inner/left keep the
    # plain left key (always present, and cheaper to prune).
    if how in ("fullOuter", "full_outer"):
        key_col = F.coalesce(F.col(f"l.{key}"), F.col(f"r.{key}")).alias(key)
    else:
        key_col = F.col(f"l.{key}").alias(key)
    out = [key_col]
    out += [F.col(f"l.{c}") for c in left.columns if c != key]
    if how not in ("leftSemi", "left_semi"):
        # semi output carries ONLY the left side: each matched left row
        # emits exactly once (on its first arriving match), never
        # multiplied by match count — right columns don't exist
        out += [F.col(f"r.{c}") for c in right.columns if c != key]
    return joined.select(*out)
