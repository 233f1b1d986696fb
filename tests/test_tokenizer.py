"""Real BPE tokenizer: training semantics vs a hand-computed example,
determinism, and the distributed application path."""

from __future__ import annotations

import pytest

from polars_genson_spark.operators.tokenizer import (
    _segment,
    bpe_tokenize,
    bpe_vocabulary,
    train_bpe,
    word_counts,
)


@pytest.fixture(scope="module")
def tiny(spark):
    # classic BPE toy corpus: "low" x5, "lower" x2, "newest" x6, "widest" x3
    docs = (["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3)
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )


def test_word_counts(tiny):
    wc = {r["word"]: r["count"] for r in word_counts(tiny).collect()}
    assert wc == {"low": 5, "lower": 2, "newest": 6, "widest": 3}


def test_train_bpe_matches_hand_computation(tiny):
    merges = train_bpe(tiny, n_merges=4)
    # Pair counts round 1: ('e','s') 9, ('s','t') 9, ('t','</w>') 9,
    # ('l','o') 7, ('o','w') 7, ... → tie on 9 broken lexicographically:
    # ('e','s') first, then ('es','t'), then ('est','</w>'), then the
    # 7-weight tie ('l','o').
    assert merges == [
        ("e", "s"), ("es", "t"), ("est", "</w>"), ("l", "o")
    ]
    assert bpe_vocabulary(merges) == ["es", "est", "est</w>", "lo"]


def test_train_bpe_deterministic(tiny):
    assert train_bpe(tiny, n_merges=6) == train_bpe(tiny, n_merges=6)


def test_segment_applies_lowest_rank_first():
    ranks = {("e", "s"): 0, ("es", "t"): 1, ("est", "</w>"): 2, ("l", "o"): 3}
    assert _segment("newest", ranks) == ["n", "e", "w", "est</w>"]
    assert _segment("low", ranks) == ["lo", "w", "</w>"]
    assert _segment("", ranks) == ["</w>"]


def test_bpe_tokenize_distributed(tiny, spark):
    merges = train_bpe(tiny, n_merges=4)
    out = {r["doc_id"]: r for r in bpe_tokenize(tiny, merges).collect()}
    assert out[0]["bpe_tokens"] == ["lo", "w", "</w>"]      # "low"
    newest = next(
        r for r in out.values() if r["bpe_tokens"][:1] == ["n"]
    )
    assert newest["bpe_tokens"] == ["n", "e", "w", "est</w>"]
    assert all(r["n_bpe"] == len(r["bpe_tokens"]) for r in out.values())


def test_bpe_on_real_documents(spark):
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .where("doc_id < 100")
    )
    merges = train_bpe(docs, n_merges=50)
    assert len(merges) == 50
    out = bpe_tokenize(docs, merges)
    rows = out.collect()
    assert len(rows) == 100
    # merged tokens actually appear (the tokenizer compresses)
    from polars_genson_spark.operators.text import with_token_counts

    ws = {
        r["doc_id"]: r["n_ws_tokens"]
        for r in with_token_counts(docs).collect()
    }
    for r in rows:
        # BPE emits at least one token per word but fewer symbols than
        # pure characters; n_bpe >= whitespace words (END markers) unless
        # text is empty/null
        if ws.get(r["doc_id"], 0) > 0:
            assert r["n_bpe"] >= ws[r["doc_id"]]


def test_driver_query_bpe(spark):
    import __spark_entry__ as E

    out = E.queries()["bpe_tokenize_docs"](spark, "/root/testdata/sf0.001")
    assert out.count() == 100


def test_tokenize_then_validate_chain(spark):
    """The full story: text docs → BPE ids → the validation engine's
    pre-tokenized contract. By construction every token id is inside
    [0, vocab_size) and n_tok == size(tokens), so consistency and
    referential checks pass with the right allowed dim."""
    from pyspark.sql import functions as F

    from polars_genson_spark.config import ValidationConfig
    from polars_genson_spark.operators.tokenizer import (
        bpe_tokenize_ids,
        train_bpe_with_vocab,
    )
    from polars_genson_spark.operators.verdicts import validate_corpus

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .where("doc_id < 200")
    )
    merges, vocab = train_bpe_with_vocab(docs, n_merges=80)
    toks = (
        bpe_tokenize_ids(docs, merges, vocab)
        .join(docs.select("doc_id", "source"), "doc_id")
        .select(
            F.col("doc_id").cast("string"), "tokens", "n_tok", "source"
        )
    )
    allowed = docs.select("source").distinct()
    rep = validate_corpus(
        toks, allowed, ValidationConfig(vocab_size=len(vocab))
    )
    rows = rep.verdicts.collect()
    assert rows
    assert all(r["consistency_violations"] == 0 for r in rows)
    assert all(r["referential_violations"] == 0 for r in rows)
    assert all(r["null_tokens"] == 0 for r in rows)


def test_bpe_roundtrip_lossless(spark):
    """BPE is lossless: concatenating a doc's tokens and turning each
    end-of-word marker into a space reproduces the lowercased,
    ASCII-whitespace-normalized text — including on multibyte words and
    messy whitespace the synthetic corpus never exercises. This is the
    same invariant the value-oracled bpe_roundtrip_docs driver query
    pins at corpus scale."""
    import re

    from pyspark.sql import functions as F

    from polars_genson_spark.operators.tokenizer import END

    docs = [
        (0, "The  QUICK\tbrown\nfox "),
        (1, "naïve café über 東京 🚀"),
        (2, ""),
        (3, None),
        (4, "low lower newest widest low low"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    merges = train_bpe(df, n_merges=30)
    out = bpe_tokenize(df, merges).select(
        "doc_id",
        F.rtrim(
            F.replace(
                F.concat_ws("", F.col("bpe_tokens")),
                F.lit(END),
                F.lit(" "),
            )
        ).alias("recon"),
    )
    got = {r["doc_id"]: r["recon"] for r in out.collect()}
    ws = re.compile(r"[ \t\n\x0b\f\r]+")
    for i, text in docs:
        expect = " ".join(w for w in ws.split((text or "").lower()) if w)
        assert got[i] == expect, (i, got[i], expect)


def test_driver_query_bpe_roundtrip_matches_oracle(spark):
    """Driver-gate emulation at sf0.001: the Spark reconstruction equals
    DuckDB's normalization of the raw text for every doc."""
    import duckdb

    import __spark_entry__ as E

    out = E.queries()["bpe_roundtrip_docs"](spark, "/root/testdata/sf0.001")
    got = {r["doc_id"]: r["recon_text"] for r in out.collect()}
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/documents.parquet')"
    )
    oracle = dict(con.execute(E.oracle_sql()["bpe_roundtrip_docs"]).fetchall())
    assert got == oracle and len(got) > 0


def test_driver_bpe_roundtrip_excludes_literal_marker(spark):
    """A doc whose TEXT contains the literal '</w>' string is excluded
    from the roundtrip gate on both sides (after concat it is
    indistinguishable from the end-of-word marker — the ambiguity every
    marker-based detokenizer has)."""
    import __spark_entry__ as E

    sql = E.oracle_sql()["bpe_roundtrip_docs"]
    assert "NOT LIKE '%</w>%'" in sql
    # the Spark side filters identically — equal row counts at sf0.001
    out = E.queries()["bpe_roundtrip_docs"](spark, "/root/testdata/sf0.001")
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/documents.parquet')"
    )
    assert out.count() == con.execute(
        f"SELECT count(*) FROM ({sql})"
    ).fetchone()[0]
