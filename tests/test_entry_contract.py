"""Driver-contract smoke: entry() runs on sf0.001, queries()/oracle_sql()
are consistent, and doc-id assignment is parallelism-invariant."""

import os

import pytest


def test_assign_doc_ids_parallelism_invariant(spark, tiny_dir):
    """Partition-count invariance (SURVEY §5.2-4b): the url→doc_id mapping
    must not depend on how many range partitions the sort used."""
    from mongoesindexer_spark.operators.build_index import assign_doc_ids

    pages = spark.read.parquet(os.path.join(tiny_dir, "pages.parquet"))
    a = {r["url"]: r["doc_id"]
         for r in assign_doc_ids(pages, num_partitions=3).select("url", "doc_id").collect()}
    b = {r["url"]: r["doc_id"]
         for r in assign_doc_ids(pages, num_partitions=13).select("url", "doc_id").collect()}
    assert a == b
    assert sorted(a.values()) == list(range(len(a)))


def test_queries_oracle_keys_consistent():
    import __spark_entry__ as m

    q = m.queries()
    o = m.oracle_sql()
    assert set(o) <= set(q), "every oracle needs a matching query"
    # the flagship paths must be oracle-checked
    for name in ("ft_bm25_topk", "ft_bm25_wand_topk", "ft_term_stats"):
        assert name in o


def test_bool_filters_oracle_is_deterministic():
    """The ft_bm25_bool_filters oracle must give one answer run after
    run.  On sf0.01 its rank-20 cut falls on a score tie that DuckDB's
    parallel float sum breaks either way in the last bit; the oracle
    orders on the rounded score, then doc_id.  Spark-free."""
    import duckdb

    import __spark_entry__ as m

    docs = os.path.join(os.path.dirname(m.SF_DEFAULT), "sf0.01",
                        "documents.parquet")
    sql = m.oracle_sql()["ft_bm25_bool_filters"]
    answers = set()
    for _ in range(10):
        con = duckdb.connect()
        try:
            con.execute(f"CREATE VIEW documents AS SELECT * FROM '{docs}'")
            answers.add(tuple(map(tuple, con.execute(sql).fetchall())))
        finally:
            con.close()
    assert len(answers) == 1, len(answers)
    assert len(next(iter(answers))) == m.BM25_K


@pytest.mark.slow
def test_entry_smoke(spark):
    import __spark_entry__ as m

    df = m.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns == ["doc_id", "score_e4"]
