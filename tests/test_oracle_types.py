"""Oracle output types cannot drift to DuckDB's 128-bit integers.

DuckDB widens ``sum`` over BIGINT (and arithmetic on such a sum) to
HUGEINT.  Fetched through Arrow, as the correctness harness's value
hash does, a HUGEINT column arrives as ``Decimal`` while Spark's
column is a long, so equal values hash differently.  Every oracle must therefore cast
such columns back to BIGINT; this test DESCRIBEs every registry oracle
over the sf0.001 tables and names each 128-bit column it finds."""

from __future__ import annotations

import duckdb

SF = "/root/testdata/sf0.001"
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def test_no_oracle_emits_hugeint():
    from watermark_remove_spark.queries import ORACLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    wide = [
        f"{name}.{col}: {typ}"
        for name, sql in ORACLES.items()
        for col, typ, *_ in con.execute(f"DESCRIBE {sql}").fetchall()
        if "HUGEINT" in typ
    ]
    assert ORACLES
    assert wide == []
