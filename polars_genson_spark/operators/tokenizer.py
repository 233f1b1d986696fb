"""Real byte-pair-encoding tokenizer, trained and applied Spark-first.

The reference engine has no tokenizer; this implements the standard BPE
algorithm (Sennrich et al. 2016) in the shape a 100 TB pipeline needs:

- **Training** is a distributed word-frequency rollup (one groupBy over
  the exploded corpus — the only corpus-sized pass) followed by the
  classic merge loop on the collected vocabulary. The collected state is
  (word, count) pairs, vocabulary-sized, NOT corpus-sized; capping at
  ``max_words`` (highest-frequency words carry almost all pair mass)
  bounds driver memory the way real BPE trainers subsample. At 100 TB
  you train once on this rollup and broadcast the merge table
  everywhere.

- **Application** broadcasts the KB-sized merge ranks and tokenizes in
  ``mapInPandas`` with a per-unique-word cache: within an Arrow batch,
  each distinct word is BPE-segmented once (Zipf makes the cache hit
  rate extreme on natural text). This is the honest Python path — a
  production deployment swaps the inner loop for a compiled tokenizer
  with the SAME Spark plumbing. Measured boundary (BENCH.md, "Round-5:
  compiled-tokenizer swap-in boundary", 20k Zipf-vocab docs): ``_segment``
  costs ~9.5 μs/word but the cache hit rate is 96.7%, so the kernel
  owns only ~24–29% of apply-loop time; a 50× compiled ``_segment``
  projects to just 1.31–1.39× tokens/s. The real compiled win requires
  replacing the whole per-word loop (split + cache + extend), not the
  segmentation kernel alone. Two alternative apply paths were measured
  against this loop and deleted (BENCH.md, "Round-5: BPE apply-kernel
  A/B" and "Round-4 (cont.): BPE apply physical-strategy A/B"): an Arrow
  ragged-gather kernel (0.56×: ``pd.factorize`` re-hashes every word
  occurrence, the same work as the loop's cache probe) and a
  posexplode + unique-word segment + regroup join (0.29–0.73×).

Determinism: pair-count ties break lexicographically, so a merge table
trained from the same rollup is identical on every run and machine.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import spread_to_parallelism

END = "</w>"  # end-of-word marker (standard BPE word-boundary symbol)

# Python-side splitter matching the JVM training split EXACTLY: the
# training expression uses Java regex \s (ASCII whitespace only), so the
# apply side must NOT use str.split() (Unicode whitespace) — on corpora
# with U+00A0 etc. the two would tokenize different word boundaries and
# the learned merges would mis-match the applied segmentation.
_ASCII_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _py_words(text: str | None) -> list[str]:
    # CASE-MAPPING caveat: Python str.lower() is locale-independent
    # Unicode default casing, while the JVM side (F.lower in training)
    # can be default-locale sensitive for a handful of code points (the
    # Turkish dotless-i being the classic). On a cluster whose JVMs run
    # a non-English default locale, pin -Duser.language=en (or
    # pre-lowercase the corpus) so train and apply agree; ASCII corpora
    # are unaffected.
    return [w for w in _ASCII_WS.split((text or "").lower()) if w]


def word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, count) over the lowercased whitespace-split corpus — the
    single corpus-sized pass of BPE training (map-side combined).
    Shares the split expression with operators/text.py so token counts
    and BPE words can never disagree."""
    from .text import _words

    return (
        df.select(F.explode(_words(text_col)).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("count"))
    )


def _collect_word_rows(df: DataFrame, text_col: str, max_words: int):
    return (
        word_counts(df, text_col)
        .orderBy(F.col("count").desc(), F.col("word"))
        .limit(max_words)
        .collect()
    )


def train_bpe(
    df: DataFrame,
    n_merges: int = 200,
    text_col: str = "text",
    max_words: int = 50_000,
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from the corpus. Returns the ordered
    merge list (rank = position). Driver work is O(vocab), not O(corpus):
    only the top-``max_words`` (word, count) rows are collected."""
    return _train_from_rows(
        _collect_word_rows(df, text_col, max_words), n_merges
    )


def _train_from_rows(rows, n_merges: int) -> list[tuple[str, str]]:
    # symbol sequences per word, weighted by corpus frequency
    vocab: dict[tuple[str, ...], int] = {}
    for r in rows:
        syms = tuple(r["word"]) + (END,)
        vocab[syms] = vocab.get(syms, 0) + int(r["count"])

    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pair_counts: dict[tuple[str, str], int] = {}
        for syms, cnt in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pair_counts[(a, b)] = pair_counts.get((a, b), 0) + cnt
        if not pair_counts:
            break
        # deterministic: max count, then lexicographically smallest pair
        best = min(pair_counts, key=lambda p: (-pair_counts[p], p))
        if pair_counts[best] < 2:
            break
        merges.append(best)
        a, b = best
        ab = a + b
        new_vocab: dict[tuple[str, ...], int] = {}
        for syms, cnt in vocab.items():
            out = []
            i = 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(ab)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            new_vocab[key] = new_vocab.get(key, 0) + cnt
        vocab = new_vocab
    return merges


def _segment(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Apply merges to one word, lowest-rank pair first (standard BPE)."""
    syms = list(word) + [END]
    while len(syms) > 1:
        best_rank, best_i = None, -1
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_i = r, i
        if best_rank is None:
            break
        syms[best_i:best_i + 2] = [syms[best_i] + syms[best_i + 1]]
    return syms


def _apply(
    df: DataFrame,
    segment_word,
    token_type,
    text_col: str,
    id_col: str,
    out_col: str,
    n_col: str,
    cache_max: int,
    seed_words: list[str] | None,
    spread: bool,
) -> DataFrame:
    """The mapInPandas apply behind both tokenize flavors (token strings
    / token ids — they differ ONLY in ``segment_word``, the token type
    and the output column names, and the cache policy must never fork
    between them): seed lookup → per-partition cache with overflow
    clear → segment → extend. The seed is segmented on the driver and
    broadcast (one copy per executor, not per task — the dict is ~MBs
    at 50k words)."""
    import pandas as pd
    from pyspark.sql import types as T

    seed_map = {w: segment_word(w) for w in seed_words or ()}
    seed_bc = (
        df.sparkSession.sparkContext.broadcast(seed_map) if seed_map else None
    )
    # the id field keeps the INPUT's dtype — a string-id corpus (the
    # shape the validate token table itself uses) would fail Arrow
    # conversion against a hardcoded long
    out_schema = T.StructType([
        T.StructField(id_col, df.schema[id_col].dataType),
        T.StructField(out_col, T.ArrayType(token_type)),
        T.StructField(n_col, T.IntegerType()),
    ])

    def run(batches):
        seed: dict = seed_bc.value if seed_bc else {}
        cache: dict = {}
        for pdf in batches:
            ids, toks, ns = [], [], []
            for i, text in zip(pdf[id_col], pdf[text_col]):
                doc: list = []
                for w in _py_words(text):
                    seg = seed.get(w)
                    if seg is None:
                        seg = cache.get(w)
                    if seg is None:
                        if len(cache) >= cache_max:
                            cache.clear()
                        seg = segment_word(w)
                        cache[w] = seg
                    doc.extend(seg)
                ids.append(i)
                toks.append(doc)
                ns.append(len(doc))
            yield pd.DataFrame({id_col: ids, out_col: toks, n_col: ns})

    src = df.select(id_col, text_col)
    if spread:
        src = spread_to_parallelism(src)
    return src.mapInPandas(run, out_schema)


def bpe_tokenize(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    out_col: str = "bpe_tokens",
    cache_max: int = 500_000,
    seed_words: list[str] | None = None,
    spread: bool = True,
) -> DataFrame:
    """(id, bpe_tokens array<string>, n_bpe) — merge table broadcast via
    closure, per-unique-word segmentation cache per partition, cleared
    when it reaches ``cache_max`` entries (a near-unique-word partition
    — URLs, hashes, code — would otherwise grow it unboundedly for the
    partition's lifetime).

    ``seed_words`` (typically the training rollup's top words): their
    segmentations are computed ONCE on the driver and broadcast, so
    every partition starts with the Zipf head pre-segmented instead of
    re-deriving it per partition per executor — train once, broadcast
    everywhere. The seed is immune to the overflow ``cache.clear()``.

    ``spread``: repartition the input to the session's default
    parallelism when it arrives in fewer partitions
    (:func:`~polars_genson_spark.session.spread_to_parallelism`)."""
    from pyspark.sql import types as T

    ranks = {pair: i for i, pair in enumerate(merges)}
    return _apply(
        df, lambda w: _segment(w, ranks), T.StringType(), text_col,
        id_col, out_col, "n_bpe", cache_max, seed_words, spread,
    )


def bpe_vocabulary(merges: list[tuple[str, str]]) -> list[str]:
    """The token strings the merge table can produce (merged symbols
    only; single characters and END are implicitly in-vocab)."""
    return [a + b for a, b in merges]


def train_bpe_with_vocab(
    df: DataFrame,
    n_merges: int = 200,
    text_col: str = "text",
    max_words: int = 50_000,
    return_words: bool = False,
):
    """Train merges AND build the token→id vocabulary: id 0 = <unk>,
    id 1 = the end-of-word marker, then the corpus's base characters
    (sorted), then merge products in rank order. Deterministic, so the
    same corpus always yields the same ids — the property the validation
    engine's token-range check relies on.

    ``return_words=True`` additionally returns the training rollup's
    words (count-desc order) — pass them as ``seed_words`` to the apply
    functions so the Zipf head is segmented once on the driver instead
    of once per partition per executor."""
    rows = _collect_word_rows(df, text_col, max_words)  # ONE corpus pass
    merges = _train_from_rows(rows, n_merges)
    chars = sorted({c for r in rows for c in r["word"]})
    vocab: dict[str, int] = {"<unk>": 0, END: 1}
    for c in chars:
        vocab.setdefault(c, len(vocab))
    for a, b in merges:
        vocab.setdefault(a + b, len(vocab))
    # merged-with-END products (e.g. "est</w>") get ids too
    if return_words:
        return merges, vocab, [r["word"] for r in rows]
    return merges, vocab


def bpe_tokenize_ids(
    df: DataFrame,
    merges: list[tuple[str, str]],
    vocab: dict[str, int],
    text_col: str = "text",
    id_col: str = "doc_id",
    cache_max: int = 500_000,
    seed_words: list[str] | None = None,
    spread: bool = True,
) -> DataFrame:
    """(doc_id, tokens array<int>, n_tok) — the pre-tokenized-corpus
    shape the validation engine consumes. Unknown tokens map to id 0.
    Word split + cache + ``seed_words`` + ``spread`` policy identical to
    :func:`bpe_tokenize`."""
    from pyspark.sql import types as T

    ranks = {pair: i for i, pair in enumerate(merges)}
    return _apply(
        df, lambda w: [vocab.get(s, 0) for s in _segment(w, ranks)],
        T.IntegerType(), text_col, id_col, "tokens", "n_tok", cache_max,
        seed_words, spread,
    )
