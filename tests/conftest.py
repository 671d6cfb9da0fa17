from __future__ import annotations

from contextlib import contextmanager

import pytest

from watermark_remove_spark.session import build_session
from watermark_remove_spark.fixtures import PagesConfig, generate_corpus


@pytest.fixture(scope="session")
def spark():
    s = build_session(app_name="wrs-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus():
    return generate_corpus(PagesConfig(n_pages=600, n_domains=8, seed=42))


@pytest.fixture(scope="session")
def pages_sdf(spark, corpus):
    df = spark.createDataFrame(corpus.pages)
    df.cache().count()
    return df


@pytest.fixture
def session_conf(spark):
    """``with session_conf({key: value or None}):`` sets (or, for None,
    unsets) session settings for the block and restores them after."""

    @contextmanager
    def scoped(settings: dict[str, str | None]):
        old = {k: spark.conf.get(k, None) for k in settings}
        try:
            for k, v in settings.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
            yield spark
        finally:
            for k, v in old.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)

    return scoped
