"""Unit tests for text-analysis operators and multimodal plumbing."""

from __future__ import annotations

import hashlib

from hha_spark.operators.multimodal import (
    blob_stats,
    fake_frame_sample,
    with_blob,
)
from hha_spark.operators.text import (
    fingerprint,
    language_id,
    quality_score,
    text_stats,
    token_count_regex,
)

DOCS = [
    (1, "the cat sat on the mat"),
    (2, "el gato y la casa de los arboles"),
    (3, "xyz qrs tuv"),
]


def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_text_stats(spark):
    out = {r.doc_id: r for r in text_stats(docs_df(spark)).collect()}
    assert out[1].n_tokens == 6
    assert out[1].n_distinct_tokens == 5      # 'the' twice
    assert out[1].n_chars == len("the cat sat on the mat")
    # 17 letters over 6 tokens
    assert abs(out[1].mean_token_len - 17 / 6) < 1e-12


def test_language_id(spark):
    out = {r.doc_id: r.lang_guess for r in language_id(docs_df(spark)).collect()}
    assert out[1] == "en"
    assert out[2] == "es"
    assert out[3] == "unknown"


def test_quality_score_bounds(spark):
    out = {r.doc_id: r for r in quality_score(docs_df(spark)).collect()}
    assert out[3].quality_class == "low"       # short, no 'the'
    assert out[1].quality_score >= 2           # diverse + has 'the'


def test_fingerprint_normalizes_whitespace(spark):
    df = spark.createDataFrame(
        [(1, "a  b"), (2, "a b"), (3, "A B")], "doc_id long, text string"
    )
    out = {r.doc_id: r.fp for r in fingerprint(df).collect()}
    assert out[1] == out[2] == out[3]          # whitespace + case folded
    assert out[1] == hashlib.md5(b"a b").hexdigest()


def test_token_count_regex(spark):
    df = spark.createDataFrame([(1, "foo, bar! baz42")], "doc_id long, text string")
    assert token_count_regex(df).collect()[0].n_word_tokens == 3


def test_blob_stats_matches_hashlib(spark):
    out = blob_stats(with_blob(docs_df(spark))).collect()
    for r in out:
        text = dict((d, t) for d, t in [(x[0], x[1]) for x in DOCS])[r.doc_id]
        assert r.n_bytes == len(text.encode())
        assert r.blob_md5 == hashlib.md5(text.encode()).hexdigest()


def test_fake_frame_sample_fanout(spark):
    long_doc = spark.createDataFrame(
        [(1, "x" * 300)], "doc_id long, text string"
    )
    out = fake_frame_sample(with_blob(long_doc), every_n=2).collect()
    # 300 bytes -> 4 frames -> sampled at stride 2 -> frames 0 and 2
    assert [r.frame_idx for r in sorted(out, key=lambda r: r.frame_idx)] == [0, 2]
    assert all(len(r.frame_md5) == 32 for r in out)


def test_gopher_rules_hand_computed(spark):
    from hha_spark.operators.text import gopher_repetition_rules

    rep40 = " ".join(["dup"] * 40)  # mode cap + diversity both fail
    good = " ".join(f"t{i}" for i in range(40))  # all rules pass
    short = "a b c"  # length band fails
    bigram_heavy = " ".join(["p q"] * 20) + " " + " ".join(
        f"u{i}" for i in range(20)
    )  # length ok, diversity ok-ish, dup-bigram coverage fails
    df = spark.createDataFrame(
        [(0, rep40), (1, good), (2, short), (3, bigram_heavy)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in gopher_repetition_rules(df).collect()}
    assert out[0]["top_tok_n"] == 40 and out[0]["keep"] is False
    assert out[1]["n_distinct"] == 40 and out[1]["keep"] is True
    assert out[2]["n_tokens"] == 3 and out[2]["keep"] is False
    assert out[3]["dup_bigram_n"] * 100 > out[3]["n_bigrams"] * 20
    assert out[3]["keep"] is False
    # bigram accounting on the crafted doc: 60 tokens -> 59 windows
    assert out[3]["n_tokens"] == 60 and out[3]["n_bigrams"] == 59


def test_fixture_text_is_single_byte_ascii(spark):
    """Pins the PRECONDITION of the frame-sample oracle (and every
    byte-vs-char equivalence in the suite): documents text must stay
    single-byte. A regenerated multi-byte fixture would make DuckDB's
    character substr disagree with the operator's byte chunking — this
    assert turns that silent oracle divergence into a named failure."""
    from pyspark.sql import functions as F

    from hha_spark.sources.tables import load_table

    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        docs = load_table(spark, sf, "documents")
        bad = docs.where(
            F.length("text") != F.octet_length("text")
        ).count()
        assert bad == 0, f"{sf}: {bad} multi-byte docs"
