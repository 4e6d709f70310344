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
    ``spark.sql.shuffle.partitions`` set to ``n`` (the width of the
    extraction plan's salt exchange before AQE coalesces it), then
    restores the previous settings. ``coalesce=False`` turns AQE
    partition coalescing off, so the salt runs at exactly ``n``."""

    @contextmanager
    def _set(n: int, coalesce: bool = True):
        conf = {
            "spark.sql.shuffle.partitions": str(n),
            "spark.sql.adaptive.coalescePartitions.enabled": str(coalesce).lower(),
        }
        old = {k: spark.conf.get(k) for k in conf}
        for k, v in conf.items():
            spark.conf.set(k, v)
        try:
            yield
        finally:
            for k, v in old.items():
                spark.conf.set(k, v)

    return _set


@pytest.fixture(scope="session")
def corpus_docs():
    from insurance_pdf_extractor_spark.corpus import generate_corpus

    return generate_corpus(120, seed=7)
