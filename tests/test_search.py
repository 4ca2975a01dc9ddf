"""operators.search — BM25 top-k vs a DuckDB twin over the real corpus,
plus semantic anchors (tf monotonicity, rare-term idf dominance, k/tie
behavior)."""

from __future__ import annotations

import duckdb
import pytest

from sports_stats_data_pipeline_spark.operators.search import (
    bm25_topk,
    term_stats,
)
from sports_stats_data_pipeline_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"
QT = ["query", "stream", "spark"]
K1, B = 1.2, 0.75


def _duck_topk(k: int):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF}/documents.parquet')"
    )
    terms = ", ".join(f"'{t}'" for t in QT)
    return con.execute(
        f"""
        WITH t AS (
          SELECT doc_id, string_split_regex(text, '\\s+') AS toks
          FROM documents
        ),
        st AS (SELECT COUNT(*) AS n, AVG(len(toks)) AS avgdl FROM t),
        e AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM t),
        tf AS (
          SELECT doc_id, term, CAST(COUNT(*) AS DOUBLE) AS tf, MIN(dl) AS dl
          FROM e WHERE term IN ({terms}) GROUP BY doc_id, term
        ),
        dfv AS (
          SELECT term, COUNT(DISTINCT doc_id) AS df
          FROM e WHERE term IN ({terms}) GROUP BY term
        )
        SELECT tf.doc_id,
               CAST(SUM(CAST(FLOOR(1e6 * (
                 ln(1 + (st.n - dfv.df + 0.5) / (dfv.df + 0.5))
                 * tf.tf * ({K1} + 1)
                 / (tf.tf + {K1} * (1 - {B} + {B} * tf.dl / st.avgdl))
               )) AS BIGINT)) AS BIGINT) AS score_micro,
               CAST(COUNT(*) AS INTEGER) AS n_query_terms_hit
        FROM tf JOIN dfv USING (term) CROSS JOIN st
        GROUP BY tf.doc_id
        ORDER BY score_micro DESC, tf.doc_id
        LIMIT {k}
        """
    ).fetchall()


def test_matches_duckdb_twin(spark):
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    got = [
        (r["doc_id"], r["score_micro"], r["n_query_terms_hit"])
        for r in bm25_topk(docs, QT, k=25).collect()
    ]
    assert got == [tuple(r) for r in _duck_topk(25)]


def test_term_stats_shapes(spark):
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    df_table, doc_lens = term_stats(docs)
    assert doc_lens.count() == docs.count()
    row = df_table.filter("term = 'query'").first()
    assert row is not None and 0 < row["df"] <= docs.count()


def test_tf_and_rarity_anchors(spark):
    # doc 2 repeats the query term -> beats doc 1 (same length); a
    # rare-term match (df=1) outranks a common-term match (df=3/4).
    docs = spark.createDataFrame(
        [
            (1, "common filler filler filler"),
            (2, "common common common filler"),
            (3, "rareword filler filler filler"),
            (4, "common filler rareword filler"),
        ],
        "doc_id long, text string",
    )
    got = [r["doc_id"] for r in bm25_topk(docs, ["common"], k=4).collect()]
    assert got[0] == 2
    rare = {
        r["doc_id"]: r["score_micro"]
        for r in bm25_topk(docs, ["rareword", "common"], k=4).collect()
    }
    assert rare[3] > rare[1]  # rare match beats common match
    assert rare[4] == max(rare.values())  # both terms -> top


def test_k_limit_and_validation(spark):
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    assert bm25_topk(docs, ["query"], k=7).count() == 7
    with pytest.raises(ValueError):
        bm25_topk(docs, [], k=3)


def test_empty_corpus_returns_typed_empty_frame(spark):
    empty = spark.createDataFrame([], "doc_id long, text string")
    out = bm25_topk(empty, QT, k=5)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "doc_id", "score_micro", "n_query_terms_hit"
    ]
