"""Unit tests for functions.text: shingles, MinHash stability, lang-id
heuristic, PII counts and redaction."""

from __future__ import annotations

from pyspark.sql import functions as F

from sports_stats_data_pipeline_spark.functions.text import (
    pii_email_count,
    pii_ipv4_count,
    redact_pii,
    sql_redact_pii,
    minhash_signature_from_hashes,
    predicted_lang,
    shingle_hashes,
    shingles,
    tokens,
)


def _df(spark, *texts):
    return spark.createDataFrame([(t,) for t in texts], schema="text string")


def test_shingles_k3_and_short_doc_fallback(spark):
    df = _df(spark, "a b c d", "a b")
    rows = df.select(shingles("text").alias("s")).collect()
    assert sorted(rows[0]["s"]) == ["a b c", "b c d"]
    assert rows[1]["s"] == ["a b"]  # shorter than k -> whole text


def test_minhash_deterministic_and_sensitive(spark):
    def sig(df):
        hashes = shingle_hashes(shingles("text"))
        return df.select(*minhash_signature_from_hashes(hashes, 4)).collect()[0]

    df = _df(spark, "the quick brown fox jumps over the lazy dog")
    sig1, sig2 = sig(df), sig(df)
    assert tuple(sig1) == tuple(sig2)
    other = _df(spark, "completely different words entirely here now")
    sig3 = sig(other)
    assert tuple(sig1) != tuple(sig3)


def test_predicted_lang_markers(spark):
    df = _df(
        spark,
        "the cat and the dog is here",
        "der hund und die katze ist da",
        "le chat et la souris est la",
        "xyzzy qwerty",
    )
    got = [r["p"] for r in df.select(predicted_lang("text").alias("p")).collect()]
    assert got == ["en", "de", "fr", "und"]


def test_tokens_split_on_whitespace_runs(spark):
    df = _df(spark, "a  b\tc")
    assert df.select(F.size(tokens("text")).alias("n")).collect()[0]["n"] == 3


def test_pii_counts_and_redaction(spark):
    df = _df(
        spark,
        "reach me at alice.smith+work@example.co.uk or 192.168.1.20 ok",
        "no pii here at all",
        "two mails a@b.io c@d.org and ip 10.0.0.1 plus 1.2.3.4",
    )
    rows = df.select(
        pii_email_count("text").alias("e"),
        pii_ipv4_count("text").alias("i"),
        redact_pii("text").alias("r"),
    ).collect()
    assert [(r["e"], r["i"]) for r in rows] == [(1, 1), (0, 0), (2, 2)]
    assert rows[0]["r"] == "reach me at [EMAIL] or [IP] ok"
    assert rows[1]["r"] == "no pii here at all"
    assert rows[2]["r"] == "two mails [EMAIL] [EMAIL] and ip [IP] plus [IP]"


def test_redact_pii_masks_email_before_ipv4(spark):
    # the dotted domain must be consumed by the email mask, not half-
    # matched by the IPv4 pass afterwards.
    df = _df(spark, "x bob@10.0.0.1.example.com y")
    r = df.select(redact_pii("text").alias("r")).collect()[0]["r"]
    assert r == "x [EMAIL] y"


def test_redact_pii_matches_duckdb_twin(spark):
    import duckdb

    texts = [
        "mail a@b.io then 127.0.0.1 end",
        "dots 1.2.3.4.5 and not.an.email@ nope",
        "plain text",
    ]
    got = [
        r["r"]
        for r in _df(spark, *texts)
        .select(redact_pii("text").alias("r"))
        .collect()
    ]
    con = duckdb.connect()
    want = [
        con.execute(
            f"SELECT {sql_redact_pii('?::VARCHAR')}", [t]
        ).fetchone()[0]
        for t in texts
    ]
    assert got == want
