"""Flagship operator tests: mask mining + extraction vs the oracle.

The byte-exactness contract (BASELINE.json:input_hint): extracted
clean_text per url is byte-identical to the reference (pandas oracle)
extractor for the one engine form, ``clean_pages_udf_fast``.
"""

from __future__ import annotations

import re
from collections import Counter

import pandas as pd
from pyspark.sql import functions as F

from watermark_remove_spark.fixtures import PagesConfig, generate_corpus
from watermark_remove_spark.spec import MaskConfig, domain_of, shingles, tokenize
from watermark_remove_spark.spec import clean_text as spec_clean_text
from watermark_remove_spark.oracle import oracle_extract, oracle_mine_masks
from watermark_remove_spark.operators.extract import (
    MASK_SCHEMA,
    clean_pages_udf_fast,
    mine_masks,
)
from watermark_remove_spark.sources.pages import read_pages_batch, write_batch_files
from watermark_remove_spark.streaming.pipeline import build_clean_stream
from watermark_remove_spark.functions.shingles import (
    doc_shingles_expr,
    line_shingles_expr,
    tokens_expr,
)

CFG = MaskConfig()


def test_tokenize_and_shingle_expr_parity(spark):
    lines = [
        "",
        "   ",
        "one",
        "one two",
        "one two three",
        "one two three four five",
        "  leading and   multiple   spaces  ",
        "tab\tis one token here",
    ]
    df = spark.createDataFrame([(l,) for l in lines], "line string")
    rows = df.select(
        "line",
        tokens_expr(F.col("line")).alias("toks"),
        line_shingles_expr(F.col("line")).alias("sh"),
    ).collect()
    for r in rows:
        assert list(r.toks) == tokenize(r.line), r.line
        assert list(r.sh) == shingles(r.line), r.line


def test_doc_shingles_expr_parity(spark):
    text = "header one two three\n\ncontent a b c d\nfooter x y"
    df = spark.createDataFrame([(text,)], "text string")
    got = df.select(doc_shingles_expr(F.col("text")).alias("s")).collect()[0].s
    want = [s for ln in text.split("\n") for s in shingles(ln)]
    assert list(got) == want


def test_mine_masks_matches_oracle(spark, corpus, pages_sdf):
    want = oracle_mine_masks(corpus.pages, CFG)
    got_rows = mine_masks(pages_sdf, CFG).collect()
    got = {r.domain: frozenset(r.mask) for r in got_rows}
    # oracle includes empty-mask domains; engine omits them — align
    want = {d: m for d, m in want.items() if m}
    assert got == want


def test_masks_cover_templates_only(spark, corpus, pages_sdf):
    """Every template line of a big-enough domain is fully masked; the
    random content blocks are not."""
    masks = oracle_mine_masks(corpus.pages, CFG)
    counts = corpus.pages["url"].map(domain_of).value_counts()
    from watermark_remove_spark.hashing import xxhash64_str

    versions_per_domain = corpus.domain_templates.groupby("domain")["valid_from"].nunique()
    checked = 0
    for _, row in corpus.domain_templates.iterrows():
        dom = row["domain"]
        if counts.get(dom, 0) < 30 or versions_per_domain[dom] > 1:
            continue  # small domains may miss min_pages; versioned split df below theta
        hs = [xxhash64_str(s) for s in shingles(row["template_line"])]
        assert all(h in masks[dom] for h in hs), (dom, row["template_kind"])
        checked += 1
    assert checked >= 3


def _edge_pages(corpus) -> pd.DataFrame:
    """Rows the generated corpus lacks, all on template lines of d04
    (unversioned, so every one of its template lines is masked)."""
    tmpl = corpus.domain_templates
    d04 = "\n".join(tmpl.loc[tmpl["domain"] == "d04.example.com", "template_line"])
    rows = {
        "https://d04.example.com/edge/null": None,
        "https://d04.example.com/edge/empty": "",
        "https://d04.example.com/edge/blank": "\n \n" + d04 + "\n   \n\n  ",
        "https://d04.example.com/edge/all-masked": d04,
        "https://nomask.example.com/edge/1": d04,
        "not a url": d04,
    }
    return pd.DataFrame(
        {
            "url": list(rows),
            "warc_ts": corpus.pages["warc_ts"].iloc[0],
            "html": None,
            "text": list(rows.values()),
            "lang": "en",
        }
    )


def test_clean_udf_byte_identical_to_oracle(spark, corpus, pages_sdf):
    """The one extraction form == oracle_extract byte for byte, on the
    corpus plus null/empty/blank/all-masked/no-mask/null-domain rows,
    under the mined masks, with one domain's mask row missing, and
    with an empty mask table."""
    edges = _edge_pages(corpus)
    pages = pages_sdf.unionByName(spark.createDataFrame(edges, pages_sdf.schema))
    all_pages = pd.concat([corpus.pages, edges], ignore_index=True)
    has_text = all_pages["text"].notna()
    mined = mine_masks(pages_sdf, CFG)
    golden_masks = oracle_mine_masks(corpus.pages, CFG)

    variants = {
        "mined": (mined, golden_masks),
        "d04 row dropped": (
            mined.where(F.col("domain") != "d04.example.com"),
            {d: m for d, m in golden_masks.items() if d != "d04.example.com"},
        ),
        "empty": (spark.createDataFrame([], MASK_SCHEMA), {}),
    }
    for label, (masks, oracle_masks) in variants.items():
        golden = oracle_extract(all_pages[has_text], oracle_masks, CFG)
        want = Counter(
            (u, t.to_pydatetime(), c.encode("utf-8"))
            for u, t, c in zip(golden["url"], golden["warc_ts"], golden["clean_text"])
        )
        want.update((u, t.to_pydatetime(), None) for u, t in zip(
            all_pages.loc[~has_text, "url"], all_pages.loc[~has_text, "warc_ts"]))
        out = clean_pages_udf_fast(pages, masks).select("url", "warc_ts", "domain", "clean_text")
        rows = out.collect()
        got = Counter(
            (r.url, r.warc_ts, None if r.clean_text is None else r.clean_text.encode("utf-8"))
            for r in rows
        )
        assert got == want, label
        by_url = {r.url: r for r in rows}
        assert by_url["not a url"].domain is None
        masked = label == "mined"
        assert (by_url["https://d04.example.com/edge/all-masked"].clean_text == "") is masked


def test_clean_fast_udf_byte_identical(spark, corpus, pages_sdf):
    """Production mapInArrow path == spec.clean_text applied row by row
    under the engine's own mined masks, byte for byte."""
    masks = mine_masks(pages_sdf, CFG)
    by_domain = {r.domain: frozenset(r.mask) for r in masks.collect()}
    fast = clean_pages_udf_fast(pages_sdf, masks).select("url", "warc_ts", "clean_text")
    got = Counter(
        (r.url, r.warc_ts, r.clean_text.encode("utf-8")) for r in fast.collect()
    )
    want = Counter(
        (u, t.to_pydatetime(), spec_clean_text(x, by_domain.get(domain_of(u), frozenset())).encode("utf-8"))
        for u, t, x in zip(corpus.pages["url"], corpus.pages["warc_ts"], corpus.pages["text"])
    )
    assert got == want
    # composes with downstream aggregation (the Catalyst-extraction
    # failure mode that motivated a map node over a scalar UDF)
    total = fast.selectExpr("sum(length(clean_text)) as t").collect()[0].t
    assert total > 0


def _plan_nodes(plan: str) -> Counter:
    return Counter(re.findall(r"\b(MapInArrow|MapInPandas|BroadcastExchange|BroadcastHashJoin)\b", plan))


def test_extraction_plan_is_one_arrow_map_without_join(spark, tmp_path):
    """The masks reach the kernel as a broadcast variable, never as a
    join: the batch plan and a started clean stream's executed plan
    each hold exactly one MapInArrow and no broadcast exchange, hash
    join or pandas map."""
    corpus = generate_corpus(PagesConfig(n_pages=120, n_domains=3, seed=5))
    src = str(tmp_path / "src")
    write_batch_files([corpus.pages.iloc[:60], corpus.pages.iloc[60:]], src)
    masks = mine_masks(read_pages_batch(spark, src))
    want = Counter({"MapInArrow": 1})

    batch = clean_pages_udf_fast(read_pages_batch(spark, src), masks)
    assert _plan_nodes(batch._jdf.queryExecution().executedPlan().toString()) == want

    stream = build_clean_stream(spark, src, masks)
    q = (
        stream.writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
        assert _plan_nodes(q._jsq.explainInternal(False)) == want
    finally:
        q.stop()


def test_templates_removed_content_kept(spark, corpus, pages_sdf):
    masks = mine_masks(pages_sdf, CFG)
    out = clean_pages_udf_fast(pages_sdf, masks)
    # no header/footer/overlay marker survives for big stable domains
    big = out.where(F.col("domain") == "d04.example.com")  # unversioned, non-mega
    survivors = big.where(
        F.col("clean_text").rlike("header-|footer-|overlay-")
    ).count()
    assert survivors == 0
    # content not wiped: average clean length > 0
    row = big.select(F.avg(F.length("clean_text")).alias("l")).collect()[0]
    assert row.l > 0
