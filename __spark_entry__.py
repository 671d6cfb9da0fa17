"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship boilerplate-analysis pipeline on sf0.001;
``queries``/``oracle_sql`` expose the operator suite from
``watermark_remove_spark.queries`` (SURVEY.md §2 coverage), each
DuckDB-cross-checked at sf0.01 unless rows-only (non-SQL-expressible).

Registry order is the correctness harness's check order: entries it
has never hashed green come first, oldest (lowest number) first, and
the green ones (``DRIVER_GREEN``) ride behind by number
(``queries/_registry.py``, pinned by ``tests/test_registry_order.py``).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

# make the package importable regardless of the driver's CWD
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession, functions as F


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: per-source boilerplate ('watermark') analysis over the
    documents table — shingle-mask mining (O-9/O-20), per-doc mask hit
    ratio (O-10), language-ID + token stats (O-14), aggregated per
    source (O-18 batch)."""
    from watermark_remove_spark.functions.shingles import doc_shingles_expr
    from watermark_remove_spark.functions.text import lang_id_expr, token_count_expr

    sf_dir = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    exploded = docs.select(
        "doc_id",
        "source",
        F.explode(F.array_distinct(doc_shingles_expr(F.col("text")))).alias("shingle"),
    )
    sizes = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    freq = (
        exploded.groupBy("source", "shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .join(F.broadcast(sizes), "source")
        .where(F.col("df") >= 0.6 * F.col("n_docs"))
        .select("source", "shingle", F.lit(1).alias("is_boiler"))
    )
    per_doc = (
        exploded.join(freq, ["source", "shingle"], "left")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("is_boiler"), F.lit(0))).alias("n_boiler"),
        )
    )
    enriched = docs.select(
        "doc_id",
        "source",
        lang_id_expr(F.col("text")).alias("lang_pred"),
        token_count_expr(F.col("text")).alias("n_tokens"),
    ).join(per_doc, ["doc_id", "source"])
    return (
        enriched.groupBy("source", "lang_pred")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_shingles").alias("total_shingles"),
            F.sum("n_boiler").alias("total_boiler"),
        )
        .orderBy("source", "lang_pred")
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from watermark_remove_spark.queries import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    from watermark_remove_spark.queries import ORACLES

    return dict(ORACLES)
