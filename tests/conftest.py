import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")


@pytest.fixture(scope="session")
def spark():
    from mongoesindexer_spark.session import get_spark

    s = get_spark("mongoesindexer-tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tiny_dir():
    from mongoesindexer_spark.sources.fixtures import fixture_dir

    return fixture_dir("tiny")


@pytest.fixture(scope="session")
def tiny_pages(tiny_dir):
    import pandas as pd

    return pd.read_parquet(os.path.join(tiny_dir, "pages.parquet"))


@pytest.fixture(scope="session")
def tiny_queries(tiny_dir):
    import pandas as pd

    return pd.read_parquet(os.path.join(tiny_dir, "queries.parquet"))


@pytest.fixture(scope="session")
def oracle_tiny(tiny_pages):
    from tests.oracle import OracleIndex

    return OracleIndex.build(tiny_pages)


@pytest.fixture(scope="session")
def tiny_index(spark, tiny_dir, tmp_path_factory):
    """Full index build on the tiny fixture (shared across query tests)."""
    from mongoesindexer_spark.operators.build_index import IndexBuilder

    index_dir = str(tmp_path_factory.mktemp("idx-tiny"))
    pages = spark.read.parquet(os.path.join(tiny_dir, "pages.parquet"))
    builder = IndexBuilder(index_dir, n_buckets=8, block_size=32)
    builder.build(spark, pages)
    return index_dir


@pytest.fixture(scope="session")
def tiny_index_pos(spark, tiny_dir, tmp_path_factory):
    """Positional build on the tiny fixture (block_size small so phrases
    cross block boundaries); shared by the phrase and sync-loci tests."""
    from mongoesindexer_spark.operators.build_index import IndexBuilder

    index_dir = str(tmp_path_factory.mktemp("idx-tiny-pos"))
    pages = spark.read.parquet(os.path.join(tiny_dir, "pages.parquet"))
    IndexBuilder(index_dir, n_buckets=8, block_size=32,
                 index_positions=True).build(spark, pages)
    return index_dir
