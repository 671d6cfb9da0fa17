"""Driver-contract query suite: every batch-expressible operator from
SURVEY.md §2 as a (spark, sf_dir) -> DataFrame callable, with a
matching DuckDB oracle SQL string.

Conventions that make the driver's value-hash compare exact:
- every computed column aliased identically in Spark and SQL;
- money/qty aggregates SUM through DECIMAL casts (associative, exact —
  no float-sum order sensitivity across 32 shuffle partitions), then
  the FINAL decimal is cast to double on BOTH sides: Spark would
  otherwise collect java Decimal ('…​.80') while DuckDB's wide
  DECIMAL(38,x) fetches as float64 ('…​.8'), and the driver's string
  hash sees different reprs for equal values (round-1 verdict #1;
  both engines convert the same exact decimal to identical float64
  bits, so repr matches deterministically);
- timestamps leave as epoch BIGINT (cross-engine representation-safe);
- per-row float math (cosine) is rounded; cross-row float sums avoided.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.histogram import duck_hist_bin
from ..functions.portable_hash import (
    HEX_BIT_CHARS,
    duck_md5_i64,
    md5_i64_expr,
    plane_signs,
)
from ..functions.shingles import doc_shingles_expr, kgram_windows_expr, tokens_expr
from ..functions.text import (
    LANG_MARKERS,
    lang_id_expr,
    token_count_expr,
)
from ..functions.vectors import cosine_expr
from ..operators.dedup import minhash_near_dupes, simhash_near_dupes
from ..operators.joins import anti_join, broadcast_join, semi_join
from ..operators.multimodal import extract_media_features
from ..operators.similarity import lsh_topk
from ..operators.skew import salted_window_domain_agg
from ..operators.windows import lang_domain_rollup  # noqa: F401


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _t_wide(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Like ``_t`` but guarantees the per-row hot path that follows is
    spread across the cluster.  Small-SF test files are a single
    parquet file with ONE row group — unsplittable, so Spark plans one
    scan task and a shingle/HOF-heavy query runs single-threaded no
    matter how many cores exist.  The guard makes this adaptive: with
    production-scale inputs (many files ⇒ scan parallelism ≥ cores) no
    repartition happens and no extra shuffle is paid."""
    df = _t(spark, sf_dir, name)
    p = spark.sparkContext.defaultParallelism
    # File count is a pure-metadata proxy for scan parallelism: it never
    # materializes an RDD lineage (unlike df.rdd.getNumPartitions()).
    # Conservative in the right direction — a single file MIGHT split into
    # several row-group partitions, but the small-SF fixtures this guards
    # against are one file / one row group, where the two probes agree.
    if len(df.inputFiles()) < max(2, p // 2):
        df = df.repartition(p)
    return df


DEC = "decimal(18,2)"


def _star_exports(namespace: dict) -> list[str]:
    """A catalog module's ``__all__``: the names its star import
    brought in (the previous module's ``__all__``), then every name it
    binds itself, in binding order.  Underscore helpers are included
    so the block cascade and the package ``__init__`` re-export the
    whole namespace."""
    return [n for n in namespace if not n.startswith("__") and n != "annotations"]


__all__ = _star_exports(globals())
