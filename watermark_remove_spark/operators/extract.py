"""O-8/O-9/O-10: mask mining + watermark (boilerplate) removal.

Reference contract being re-expressed (never implemented there):
"Generating a mask for the watermark ... LaMa is an inpainting model
and needs a mask" (reference ``core/lama_wrapper.py:46-52``); the
placeholder transform was grayscale conversion (``:53-54``).  Here the
mask is a per-domain set of xxhash64 shingle hashes and "inpainting"
is deletion of fully-masked lines (normative SPEC in ``spec.py``).

Scale design
------------
- **Mining is 100% JVM**: shingling via Catalyst higher-order functions,
  per-doc ``array_distinct`` BEFORE the explode (map-side dedup), then
  one hash-aggregate ``groupBy(domain, shingle_hash).count()``.  Since
  shingle hash-sets are distinct per doc, ``count(*)`` IS the document
  frequency — no count_distinct(url) shuffle of url strings needed.
- **Masks are small** (boilerplate per domain is bounded) → the mask
  table is collected once when the extraction plan is built and
  shipped to executors as one broadcast variable (O-16): no join, no
  exchange of the 100 TB pages side, and a stream pays it once, not
  per micro-batch.
- **Application** is one form, ``clean_pages_udf_fast``: JVM shingle
  hashing, then one vectorized ``mapInArrow`` kernel (no per-row
  Python) that tests every (domain, hash) of an Arrow batch at once.
  ``spec.clean_text`` / ``oracle.oracle_extract`` are the byte-exact
  reference.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, functions as F

from ..spec import DEFAULT_SHINGLE_K, MaskConfig
from ..functions.shingles import (
    doc_distinct_shingle_hashes_expr,
    domain_expr,
    line_shingles_expr,
)

MASK_SCHEMA = "domain string, mask array<bigint>"


def with_domain(pages: DataFrame, url_col: str = "url") -> DataFrame:
    return pages.withColumn("domain", domain_expr(F.col(url_col)))


def mine_masks(pages: DataFrame, cfg: MaskConfig | None = None) -> DataFrame:
    """pages(url, text, ...) -> masks(domain, mask array<bigint> sorted).

    Document frequency = number of distinct urls of the domain whose
    text contains the shingle; mask = hashes with df >= theta * n_pages
    and n_pages >= min_pages.  One wide shuffle on (domain, hash) plus
    one tiny one on domain; both benefit from partial aggregation.
    """
    cfg = cfg or MaskConfig()
    base = with_domain(pages).select("domain", "url", "text")
    # distinct urls only: duplicate (url) rows must not inflate df
    docs = base.dropDuplicates(["domain", "url"])

    counts = (
        docs.select(
            "domain",
            F.explode(doc_distinct_shingle_hashes_expr(F.col("text"), cfg.shingle_k)).alias("h"),
        )
        .groupBy("domain", "h")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    domain_sizes = docs.groupBy("domain").agg(F.count(F.lit(1)).alias("n_pages"))

    return (
        counts.join(F.broadcast(domain_sizes), "domain")
        .where((F.col("n_pages") >= cfg.min_pages) & (F.col("df") >= cfg.theta * F.col("n_pages")))
        .groupBy("domain")
        .agg(F.sort_array(F.collect_set("h")).alias("mask"))
    )


def _mask_index(masks: DataFrame) -> tuple[dict[str, int], np.ndarray, np.ndarray]:
    """Collect the mask table once into what the kernel tests against:
    domain -> id, the sorted unique mask hashes, and the sorted exact
    keys ``domain_id * n_unique + rank``.  Null domains and empty masks
    never match, as in the left join this replaces."""
    rows = [r for r in masks.select("domain", "mask").collect() if r.domain is not None and r.mask]
    ids: dict[str, int] = {}
    for r in rows:
        ids.setdefault(r.domain, len(ids))
    if not rows:
        return ids, np.empty(0, np.int64), np.empty(0, np.int64)
    dom = np.concatenate([np.full(len(r.mask), ids[r.domain], np.int64) for r in rows])
    uniq, rank = np.unique(np.concatenate([np.asarray(r.mask, np.int64) for r in rows]),
                           return_inverse=True)
    return ids, uniq, np.unique(dom * len(uniq) + rank)


def _children(lists: pa.Array) -> tuple[pa.Array, np.ndarray]:
    """Child values of a list array and the parent row of each.  Both
    come from the raw offsets, so they stay aligned even if a null slot
    spans values (``pc.list_flatten`` would skip those)."""
    if not len(lists):  # an empty child can arrive without an offsets buffer
        return pa.array([], lists.type.value_type), np.empty(0, np.int64)
    off = lists.offsets
    first, last = off[0].as_py(), off[-1].as_py()
    return lists.values.slice(first, last - first), pc.list_parent_indices(lists).to_numpy()


def _in_sorted(sorted_arr: np.ndarray, x: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(position of each x in sorted_arr, whether it is there)."""
    pos = np.minimum(np.searchsorted(sorted_arr, x), len(sorted_arr) - 1)
    return pos, sorted_arr[pos] == x


def _clean_batch(batch: pa.RecordBatch, carry_cols, ids, uniq, keys) -> pa.RecordBatch:
    """SPEC line masking (``spec.clean_text``) over one Arrow batch: a
    line is dropped iff it has >=1 shingle and every shingle hash is in
    its domain's mask.  Python loops only over the batch's distinct
    domains; every per-line and per-hash step is one numpy/Arrow call."""
    lines, lh = batch.column("__lines"), batch.column("__lh")
    flat_lines, line_row = _children(lines)
    line_lh, _ = _children(lh)
    hashes, hash_line = _children(line_lh)
    hashes = hashes.to_numpy()
    n_hash = pc.list_value_length(line_lh).to_numpy()

    enc = pc.dictionary_encode(batch.column("domain"))
    dom_id = np.array([ids.get(d, -1) for d in enc.dictionary.to_pylist()] + [-1], np.int64)
    hash_dom = dom_id[enc.indices.fill_null(len(enc.dictionary)).to_numpy()][line_row][hash_line]

    hit = np.zeros(len(hashes), bool)
    sel = hash_dom >= 0
    if sel.any():
        rank, known = _in_sorted(uniq, hashes[sel])
        hit[sel] = known & _in_sorted(keys, hash_dom[sel] * len(uniq) + rank)[1]
    masked = (n_hash > 0) & (np.bincount(hash_line[hit], minlength=len(n_hash)) == n_hash)

    keep = ~masked
    offsets = np.zeros(len(lines) + 1, np.int32)
    np.cumsum(np.bincount(line_row[keep], minlength=len(lines)), out=offsets[1:])
    kept = pa.ListArray.from_arrays(
        pa.array(offsets), flat_lines.filter(pa.array(keep)), mask=lines.is_null()
    )
    clean = pc.binary_join(kept, "\n")
    return pa.RecordBatch.from_arrays(
        [batch.column(c) for c in carry_cols] + [clean], [*carry_cols, "clean_text"]
    )


def clean_pages_udf_fast(
    pages: DataFrame,
    masks: DataFrame,
    k: int = DEFAULT_SHINGLE_K,
    carry_cols: tuple[str, ...] = ("url", "warc_ts", "domain", "lang"),
) -> DataFrame:
    """O-8: adds ``clean_text`` (byte-identical to ``spec.clean_text``
    per page's domain mask) and keeps ``carry_cols``.

    JVM shingle hashing, then one ``mapInArrow`` kernel with the masks
    shipped once per stream: the mask table is collected here, when the
    plan is built, and sent to executors as one broadcast variable, so
    a streaming query pays no mask join, exchange or collect per
    micro-batch.  Rows with a null domain or a domain without masks
    keep every line.

    A map node rather than a scalar UDF: a Python UDF whose arguments
    contain higher-order-function lambdas cannot be extracted out of a
    collapsed aggregate projection by Catalyst (INTERNAL_ERROR: Cannot
    evaluate expression); a map node composes with any downstream
    operator.  The fat __lines/__lh arrays never cross back from
    Python; only clean_text does.
    """
    index = pages.sparkSession.sparkContext.broadcast(_mask_index(masks))
    lines = F.split(F.col("text"), "\n", -1)
    line_hashes = F.transform(
        lines,
        lambda ln: F.transform(line_shingles_expr(ln, k), lambda s: F.xxhash64(s)),
    )
    staged = with_domain(pages).select(
        *carry_cols,
        *([] if "domain" in carry_cols else ["domain"]),
        lines.alias("__lines"),
        line_hashes.alias("__lh"),
    )
    types = dict(staged.dtypes)
    out_schema = ", ".join(f"{c} {types[c]}" for c in carry_cols) + ", clean_text string"

    def kernel(batches):
        ids, uniq, keys = index.value
        for batch in batches:
            yield _clean_batch(batch, carry_cols, ids, uniq, keys)

    return staged.mapInArrow(kernel, out_schema)


def quarantine_split(cleaned: DataFrame) -> tuple[DataFrame, DataFrame]:
    """O-err: malformed rows must not kill the stream (SURVEY §2.8).

    Rows whose text is null (undecodable html upstream) are routed to a
    quarantine output; the reference instead 500s per request
    (``api/main.py:61-70``)."""
    ok = cleaned.where(F.col("clean_text").isNotNull())
    bad = cleaned.where(F.col("clean_text").isNull()).withColumn(
        "error", F.lit("null_text")
    )
    return ok, bad


def decode_html_expr(html: Column) -> Column:
    """binary html -> text (UTF-8).  Spark's decode substitutes U+FFFD
    for malformed bytes rather than throwing, so a corrupt page yields
    degraded text instead of a dead stream (SURVEY §2.8 contract)."""
    return F.decode(html, "UTF-8")
