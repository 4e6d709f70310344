from __future__ import annotations

import sys
from contextlib import contextmanager
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


@pytest.fixture(scope="session")
def spark():
    from insurance_pdf_extractor_spark.session import build_session

    s = build_session(app_name="tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def shuffle_partitions(spark):
    """``with shuffle_partitions(n):`` runs the block with
    ``spark.sql.shuffle.partitions`` set to ``n`` (the extraction plan's
    salt width), then restores the previous value."""

    @contextmanager
    def _set(n: int):
        key = "spark.sql.shuffle.partitions"
        old = spark.conf.get(key)
        spark.conf.set(key, str(n))
        try:
            yield
        finally:
            spark.conf.set(key, old)

    return _set


@pytest.fixture(scope="session")
def corpus_docs():
    from insurance_pdf_extractor_spark.corpus import generate_corpus

    return generate_corpus(120, seed=7)
