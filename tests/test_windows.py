"""Window/session/rollup/top-k operators vs the pandas oracle."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from watermark_remove_spark.oracle import (
    oracle_domain_sessions,
    oracle_extract,
    oracle_mine_masks,
    oracle_sliding_lang_windows,
    oracle_tumbling_lang_windows,
)
from watermark_remove_spark.operators.extract import clean_pages_udf_fast, mine_masks, with_domain
from watermark_remove_spark.operators.windows import (
    domain_session_agg,
    lang_domain_rollup,
    lang_window_agg,
    top_k_domains_per_window,
)
from watermark_remove_spark.operators.skew import (
    naive_window_domain_agg,
    salted_window_domain_agg,
)


def _to_records(df, ts_cols):
    pdf = df.toPandas()
    for c in ts_cols:
        pdf[c] = pd.to_datetime(pdf[c])
    return sorted(map(tuple, pdf.itertuples(index=False)))


def _cleaned(spark, corpus, pages_sdf):
    masks = mine_masks(pages_sdf)
    eng = clean_pages_udf_fast(pages_sdf, masks).dropDuplicates(["url", "warc_ts"])
    golden_masks = oracle_mine_masks(corpus.pages)
    golden = oracle_extract(corpus.pages, golden_masks)
    return eng, golden


def test_tumbling_windows_match_oracle(spark, corpus, pages_sdf):
    eng, golden = _cleaned(spark, corpus, pages_sdf)
    got = lang_window_agg(eng, "10 minutes")
    want = oracle_tumbling_lang_windows(golden, corpus.pages, 10)
    assert _to_records(got.select(*want.columns), ["window_start", "window_end"]) == sorted(
        map(tuple, want.itertuples(index=False))
    )


def test_sliding_windows_match_oracle(spark, corpus, pages_sdf):
    eng, golden = _cleaned(spark, corpus, pages_sdf)
    got = lang_window_agg(eng, "10 minutes", "5 minutes")
    want = oracle_sliding_lang_windows(golden, corpus.pages, 10, 5)
    assert _to_records(got.select(*want.columns), ["window_start", "window_end"]) == sorted(
        map(tuple, want.itertuples(index=False))
    )


def test_session_windows_match_oracle(spark, corpus, pages_sdf):
    deduped = with_domain(pages_sdf).dropDuplicates(["url", "warc_ts"])
    got = domain_session_agg(deduped, "5 minutes")
    want = oracle_domain_sessions(corpus.pages, 5)
    assert _to_records(got.select(*want.columns), ["session_start", "session_end"]) == sorted(
        map(tuple, want.itertuples(index=False))
    )


def test_salted_agg_equals_naive(spark, pages_sdf):
    p = with_domain(pages_sdf)
    a = salted_window_domain_agg(p, salt_buckets=8)
    b = naive_window_domain_agg(p)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_topk_deterministic(spark, pages_sdf):
    p = naive_window_domain_agg(with_domain(pages_sdf))
    top = top_k_domains_per_window(p, k=3)
    counts = top.groupBy("window_start").count().collect()
    assert all(r["count"] <= 3 for r in counts)
    # determinism: run twice, same rows
    top2 = top_k_domains_per_window(p, k=3)
    assert top.exceptAll(top2).count() == 0


def test_rollup_totals(spark, corpus, pages_sdf):
    r = lang_domain_rollup(with_domain(pages_sdf)).collect()
    grand = [x for x in r if x.lang is None and x.domain is None]
    assert len(grand) == 1 and grand[0].n_pages == len(corpus.pages)
    per_lang = {x.lang: x.n_pages for x in r if x.lang is not None and x.domain is None}
    assert sum(per_lang.values()) == len(corpus.pages)


def test_scd2_apply_semantics(spark):
    """MERGE-free SCD2: history preserved, current rows closed by new
    versions, same-instant conflicts resolved updates-win, valid_to =
    next version's valid_from (NULL for current)."""
    import pandas as pd

    from watermark_remove_spark.operators.scd2 import scd2_apply

    dim = spark.createDataFrame(
        pd.DataFrame(
            {
                "domain": ["a", "a", "b"],
                "fp": ["a-v1", "a-v2", "b-v1"],
                "valid_from": pd.to_datetime(
                    ["2026-01-01", "2026-02-01", "2026-01-01"]
                ),
                "valid_to": pd.to_datetime(["2026-02-01", pd.NaT, pd.NaT]),
            }
        )
    )
    updates = spark.createDataFrame(
        pd.DataFrame(
            {
                "domain": ["a", "b", "c"],
                "fp": ["a-v3", "b-v1-fixed", "c-v1"],
                "valid_from": pd.to_datetime(
                    ["2026-03-01", "2026-01-01", "2026-01-15"]
                ),
            }
        )
    )
    out = scd2_apply(dim, updates, ["domain"])
    got = {
        (r.domain, r.fp, str(r.valid_from.date()), str(r.valid_to.date()) if r.valid_to else None)
        for r in out.collect()
    }
    want = {
        ("a", "a-v1", "2026-01-01", "2026-02-01"),
        ("a", "a-v2", "2026-02-01", "2026-03-01"),  # re-closed by update
        ("a", "a-v3", "2026-03-01", None),
        ("b", "b-v1-fixed", "2026-01-01", None),    # same-instant: update wins
        ("c", "c-v1", "2026-01-15", None),          # brand-new key
    }
    assert got == want


def test_scd2_cdc_delete_semantics(spark):
    """Tombstones: a delete closes the active version at its timestamp
    and emits no successor; a later upsert re-opens the key; a delete
    at the same instant as an upsert wins (retraction overrides); a
    delete with no active version is a no-op."""
    import pandas as pd

    from watermark_remove_spark.operators.scd2 import scd2_apply

    dim = spark.createDataFrame(
        pd.DataFrame(
            {
                "domain": ["a", "b", "c"],
                "fp": ["a-v1", "b-v1", "c-v1"],
                "valid_from": pd.to_datetime(["2026-01-01"] * 3),
                "valid_to": pd.to_datetime([pd.NaT] * 3),
            }
        )
    )
    updates = spark.createDataFrame(
        pd.DataFrame(
            {
                "domain": ["a", "a", "b", "b", "c", "d"],
                "fp": [None, "a-v2", "b-v2", None, None, None],
                "valid_from": pd.to_datetime(
                    [
                        "2026-02-01",  # a: tombstone closes v1
                        "2026-03-01",  # a: re-open after tombstone
                        "2026-02-01",  # b: upsert at same instant as ...
                        "2026-02-01",  # b: ... delete -> delete wins
                        "2026-02-01",  # c: tombstone, history ends
                        "2026-02-01",  # d: delete with no version: no-op
                    ]
                ),
                "op": ["delete", "upsert", "upsert", "delete", "delete", "delete"],
            }
        )
    )
    out = scd2_apply(dim, updates, ["domain"], op_col="op")
    got = {
        (r.domain, r.fp, str(r.valid_from.date()), str(r.valid_to.date()) if r.valid_to else None)
        for r in out.collect()
    }
    want = {
        ("a", "a-v1", "2026-01-01", "2026-02-01"),
        ("a", "a-v2", "2026-03-01", None),
        ("b", "b-v1", "2026-01-01", "2026-02-01"),  # closed by winning delete
        ("c", "c-v1", "2026-01-01", "2026-02-01"),  # tombstone-terminated
    }
    assert got == want


def test_scd2_cdc_randomized_vs_model(spark):
    """Seeded randomized CDC check (upserts + deletes) vs a pure-pandas
    model of the same event algebra."""
    import numpy as np
    import pandas as pd

    from watermark_remove_spark.operators.scd2 import scd2_apply

    rng = np.random.default_rng(7)
    base = pd.Timestamp("2026-01-01")
    dim_rows, upd_rows = [], []
    for k in range(50):
        key = f"d{k:02d}"
        dim_rows.append((key, f"{key}-v0", base))
        for j in range(int(rng.integers(0, 4))):
            t = int(rng.integers(0, 120))
            op = "delete" if rng.random() < 0.35 else "upsert"
            fp = None if op == "delete" else f"{key}-u{j}"
            upd_rows.append((key, fp, base + pd.Timedelta(days=t), op))
    upd = pd.DataFrame(upd_rows, columns=["domain", "fp", "valid_from", "op"])
    # same-instant changelog self-collisions have no arrival order:
    # keep deletes (the operator's tie rule), drop the rest
    upd = upd.sort_values("op").drop_duplicates(  # 'delete' < 'upsert'
        subset=["domain", "valid_from"], keep="first"
    )
    dim = pd.DataFrame(dim_rows, columns=["domain", "fp", "valid_from"])
    dim["valid_to"] = pd.NaT

    merged = pd.concat(
        [dim.drop(columns="valid_to").assign(pri=0, op="upsert"), upd.assign(pri=1)]
    )
    merged["is_del"] = (merged["op"] == "delete").astype(int)
    merged = (
        merged.sort_values(["pri", "is_del"], ascending=False)
        .drop_duplicates(subset=["domain", "valid_from"], keep="first")
        .sort_values(["domain", "valid_from"])
    )
    merged["valid_to"] = merged.groupby("domain")["valid_from"].shift(-1)
    keep = merged[merged["op"] != "delete"]
    want = {
        (r.domain, r.fp, r.valid_from, r.valid_to if pd.notna(r.valid_to) else None)
        for r in keep.itertuples(index=False)
    }

    out = scd2_apply(
        spark.createDataFrame(dim), spark.createDataFrame(upd), ["domain"], op_col="op"
    )
    got = {
        (
            r.domain,
            r.fp,
            pd.Timestamp(r.valid_from),
            pd.Timestamp(r.valid_to) if r.valid_to else None,
        )
        for r in out.collect()
    }
    assert got == want


def test_scd2_apply_randomized_vs_model(spark):
    """Seeded randomized SCD2 check vs a pure-pandas reference model:
    many keys, random version instants, random same-instant conflicts."""
    import numpy as np
    import pandas as pd

    from watermark_remove_spark.operators.scd2 import scd2_apply

    rng = np.random.default_rng(42)
    base = pd.Timestamp("2026-01-01")
    dim_rows, upd_rows = [], []
    for k in range(60):
        key = f"d{k:02d}"
        n_dim = rng.integers(1, 4)
        dim_ts = sorted(rng.choice(90, size=n_dim, replace=False))
        for i, t in enumerate(dim_ts):
            dim_rows.append((key, f"{key}-dim{i}", base + pd.Timedelta(days=int(t))))
        n_upd = rng.integers(0, 3)
        for j in range(n_upd):
            # half the updates deliberately collide with an existing instant
            if rng.random() < 0.5 and len(dim_ts):
                t = int(rng.choice(dim_ts))
            else:
                t = int(rng.integers(0, 120))
            upd_rows.append((key, f"{key}-upd{j}", base + pd.Timedelta(days=t)))
    # updates colliding with each other at the same instant would be an
    # ill-defined input (no arrival order): drop such dups
    upd = pd.DataFrame(upd_rows, columns=["domain", "fp", "valid_from"])
    upd = upd.drop_duplicates(subset=["domain", "valid_from"], keep="first")
    dim = pd.DataFrame(dim_rows, columns=["domain", "fp", "valid_from"])
    dim["valid_to"] = pd.NaT

    # reference model: updates replace dim rows at the same instant,
    # then valid_to = next valid_from per key
    merged = pd.concat(
        [dim.drop(columns="valid_to").assign(pri=0), upd.assign(pri=1)]
    )
    merged = (
        merged.sort_values("pri", ascending=False)
        .drop_duplicates(subset=["domain", "valid_from"], keep="first")
        .sort_values(["domain", "valid_from"])
    )
    merged["valid_to"] = merged.groupby("domain")["valid_from"].shift(-1)
    want = {
        (r.domain, r.fp, r.valid_from, r.valid_to if pd.notna(r.valid_to) else None)
        for r in merged.itertuples(index=False)
    }

    out = scd2_apply(
        spark.createDataFrame(dim), spark.createDataFrame(upd), ["domain"]
    )
    got = {
        (
            r.domain,
            r.fp,
            pd.Timestamp(r.valid_from),
            pd.Timestamp(r.valid_to) if r.valid_to else None,
        )
        for r in out.collect()
    }
    assert got == want


def test_scd2_unknown_op_is_upsert_not_silent_tombstone(spark):
    """A NULL or typo'd op value must behave as an upsert — before the
    normalization fix it was filtered from the output yet still closed
    the prior version via lead(), acting as a silent delete."""
    import pandas as pd

    from watermark_remove_spark.operators.scd2 import scd2_apply

    dim = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": ["a", "b"],
                "valid_from": [pd.Timestamp("2026-01-01")] * 2,
                "valid_to": [pd.NaT] * 2,
                "v": [1, 1],
            }
        )
    )
    upd = spark.createDataFrame(
        pd.DataFrame(
            {
                "k": ["a", "b"],
                "valid_from": [pd.Timestamp("2026-02-01")] * 2,
                "v": [2, 2],
                "op": [None, "updaet"],  # NULL and a typo
            }
        )
    )
    out = scd2_apply(dim, upd, ["k"], op_col="op").collect()
    by = {}
    for r in out:
        by.setdefault(r.k, []).append(r)
    for k in ("a", "b"):
        rows = sorted(by[k], key=lambda r: r.valid_from)
        assert len(rows) == 2, f"{k}: malformed op must upsert, not tombstone"
        assert rows[0].valid_to == rows[1].valid_from
        assert rows[1].valid_to is None and rows[1].v == 2
