"""The BPE apply kernel (``tokenizer._apply``: per-word loop with a
seeded, size-bounded per-partition cache) must equal a driver-side
reference built from the same pieces the kernel composes: ``_py_words``
→ ``_segment`` → vocabulary lookup.

The cases cover every axis where the distributed loop can diverge from
the plain per-word computation: NULL/empty/whitespace-only text, NULL
and duplicate ids, unicode words, the ``\\x0b``/``\\f``/``\\r`` ASCII
separators, seeded vs unseeded caches, cache overflow, an empty corpus
and a random mixed-content corpus spread over several partitions.
"""

from __future__ import annotations

import pytest

from polars_genson_spark.operators.tokenizer import (
    _py_words,
    _segment,
    bpe_tokenize,
    bpe_tokenize_ids,
    train_bpe_with_vocab,
)

TEXTS = [
    ("d1", "the quick brown fox jumps over the lazy dog the the"),
    ("d2", ""),
    ("d3", None),
    ("d4", "lower LOWER lowest low newer newest wide wider widest"),
    ("d5", "tab\tsep\nnewline  multi   space\x0bvtab\fformfeed\rcr"),
    ("d6", "ünïcødé wörds ünïcødé  nbsp-is-not-a-split"),
    ("d7", "x"),
    ("d8", "repeated repeated repeated repeated"),
    (None, "null id row words here"),
    ("d9", "   "),
    ("d1", "duplicate id with other words"),
]


def _key(rows):
    return sorted((str(r[0]), list(r[1]), int(r[2])) for r in rows)


def _reference(rows, merges, vocab=None):
    """Driver-side tokenization of (id, text) rows: token strings, or
    token ids (unknown → 0) when ``vocab`` is given."""
    ranks = {pair: i for i, pair in enumerate(merges)}
    out = []
    for doc_id, text in rows:
        toks = [s for w in _py_words(text) for s in _segment(w, ranks)]
        if vocab is not None:
            toks = [vocab.get(s, 0) for s in toks]
        out.append((doc_id, toks, len(toks)))
    return _key(out)


@pytest.fixture(scope="module")
def corpus(spark):
    df = spark.createDataFrame(TEXTS, "doc_id string, text string")
    merges, vocab, words = train_bpe_with_vocab(
        df, n_merges=60, return_words=True
    )
    return df, merges, vocab, words


def test_token_strings_match_reference(corpus):
    df, merges, _, words = corpus
    got = bpe_tokenize(df, merges, seed_words=words)
    assert _key(got.collect()) == _reference(TEXTS, merges)


@pytest.mark.parametrize(
    "seeded, cache_max",
    # unseeded: every word goes through the per-partition cache;
    # cache_max=1: the cache is cleared on (almost) every unique word
    [(True, 500_000), (False, 500_000), (False, 1)],
    ids=["seeded", "unseeded", "overflow"],
)
def test_token_ids_match_reference(corpus, seeded, cache_max):
    df, merges, vocab, words = corpus
    got = bpe_tokenize_ids(
        df, merges, vocab, seed_words=words if seeded else None,
        cache_max=cache_max,
    )
    assert _key(got.collect()) == _reference(TEXTS, merges, vocab)


def test_schema_and_dtypes(corpus):
    df, merges, vocab, words = corpus
    ids = bpe_tokenize_ids(df, merges, vocab, seed_words=words)
    assert [f.simpleString() for f in ids.schema.fields] == [
        "doc_id:string",
        "tokens:array<int>",
        "n_tok:int",
    ]
    strs = bpe_tokenize(df, merges, seed_words=words)
    assert strs.schema["bpe_tokens"].dataType.simpleString() == (
        "array<string>"
    )


def test_empty_corpus(spark):
    df = spark.createDataFrame([], "doc_id string, text string")
    merges = [("t", "h"), ("th", "e</w>")]
    vocab = {"<unk>": 0, "</w>": 1, "t": 2, "h": 3, "e": 4,
             "th": 5, "the</w>": 6}
    assert bpe_tokenize_ids(df, merges, vocab).count() == 0


def test_random_corpus_matches_reference(spark):
    """Random mixed-content corpus (ascii words, unicode, numbers,
    punctuation runs, long words) over 7 partitions."""
    import random

    rng = random.Random(20260819)
    alphabet = "abcdefghij"
    pieces = [
        lambda: "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 12))),
        lambda: str(rng.randint(0, 10**6)),
        lambda: rng.choice(["http://ex.com/a?b=1", "foo_bar", "x+y=z", "…", "日本語"]),
    ]
    rows = []
    for i in range(300):
        n = rng.randint(0, 30)
        text = " ".join(rng.choice(pieces)() for _ in range(n))
        rows.append((f"r{i}", text))
    df = spark.createDataFrame(rows, "doc_id string, text string").repartition(7)
    merges, vocab, words = train_bpe_with_vocab(
        df, n_merges=120, return_words=True
    )
    got = bpe_tokenize_ids(df, merges, vocab, seed_words=words)
    assert _key(got.collect()) == _reference(rows, merges, vocab)


def test_real_docs_and_text_edges(spark):
    """Real docs plus empty/NULL/whitespace-only text; the empty ones
    give ([], 0)."""
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    edges = spark.createDataFrame(
        [(100001, ""), (100002, None), (100003, "   "), (100004, "one")],
        "doc_id long, text string",
    )
    df = docs.unionByName(edges)
    merges, vocab, words = train_bpe_with_vocab(
        df, n_merges=40, return_words=True
    )
    got = bpe_tokenize_ids(df, merges, vocab, seed_words=words).collect()
    rows = [(r["doc_id"], r["text"]) for r in df.collect()]
    assert _key(got) == _reference(rows, merges, vocab)
    by_id = {r["doc_id"]: (r["tokens"], r["n_tok"]) for r in got}
    assert by_id[100001] == ([], 0) and by_id[100002] == ([], 0)


def test_duplicate_ids_keep_their_rows(spark):
    """The apply is row-wise: duplicate ids keep one output row per
    input row, each tokenized from its own text."""
    rows = [(5, "a b"), (5, "c d"), (6, "e f")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges, vocab = train_bpe_with_vocab(df, n_merges=5)
    got = bpe_tokenize_ids(df, merges, vocab).collect()
    assert len(got) == 3
    assert _key(got) == _reference(rows, merges, vocab)


def test_null_ids_tokenize(spark):
    """A NULL-id row tokenizes like any other row, and two NULL-id rows
    stay two rows."""
    rows = [(None, "low lower"), (1, "newest widest"), (None, "a b")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges, vocab = train_bpe_with_vocab(df, n_merges=10)
    got = bpe_tokenize_ids(df, merges, vocab).collect()
    assert _key(got) == _reference(rows, merges, vocab)
    assert [r["n_tok"] > 0 for r in got if r["doc_id"] is None] == [True] * 2
