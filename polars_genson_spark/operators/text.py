"""Text-analysis operators: token counting, quality scoring, language ID,
document fingerprinting. All pure ``pyspark.sql.functions`` expressions —
whole-stage-codegen'd, zero Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword lists for the n-gram/stopword-ratio heuristic.
STOPWORDS = {
    "en": ["the", "of", "and", "to", "in", "is", "that", "it", "was", "for"],
    "fr": ["le", "la", "les", "de", "des", "et", "est", "un", "une", "que"],
    "de": ["der", "die", "das", "und", "ist", "von", "ein", "eine", "mit", "zu"],
    "es": ["el", "la", "los", "de", "y", "es", "un", "una", "que", "en"],
}

# A BPE-ish token regex: words, numbers, or single non-space symbols.
BPE_ISH_PATTERN = r"\w+|[^\w\s]"


def _words(text_col):
    """THE word-split expression (lower, collapse \\s+, split on space) —
    shared by tokenization, quality stats, and dedup shingling (dedup.py
    imports it) so a tweak here cannot silently diverge the paths."""
    return F.split(
        F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")), " "
    )


def _raw_shingles(w, n: int):
    """RAW (non-distinct) word n-gram shingles from a words-array
    expression ``w``: element-wise zip of the array with its n-1 shifted
    slices (n slices per DOC — higher-order per-position slicing runs
    interpreted and measured 3.6x slower). Short docs (< n words) fall
    back to the whole normalised text (``array_join(w, ' ')``) as one
    shingle — the re-join applies the same \\s+ collapse as every other
    shingle. Shared by dedup.with_shingles and repetition_stats; two
    hand copies once diverged on exactly that fallback normalisation."""
    k = F.greatest(F.size(w) - (n - 1), F.lit(0))
    sh = F.slice(w, 1, k)
    for j in range(1, n):
        sh = F.zip_with(
            sh, F.slice(w, 1 + j, k), lambda a, b: F.concat_ws(" ", a, b)
        )
    return F.when(k > 0, sh).otherwise(F.array(F.array_join(w, " ")))


def with_token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokens + BPE-ish regex tokens + char count."""
    ws = F.size(_words(text_col))
    bpe = F.size(
        F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_PATTERN), 0)
    )
    return (
        df.withColumn("n_ws_tokens", ws)
        .withColumn("n_bpe_tokens", bpe)
        .withColumn("n_chars_actual", F.length(text_col))
    )


def with_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality heuristics: length, punctuation ratio, stopword ratio,
    mean word length, and a composite [0,1] score."""
    words = _words(text_col)
    n_words = F.size(words)
    n_chars = F.length(text_col)
    n_punct = F.length(text_col) - F.length(
        F.regexp_replace(F.col(text_col), r"[^\w\s]", "")
    )
    sw = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    n_stop = F.size(F.array_intersect(F.array_distinct(words), sw))
    punct_ratio = F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(0.0))
    stop_ratio = F.when(n_words > 0, n_stop / F.lit(len(STOPWORDS["en"]))).otherwise(
        F.lit(0.0)
    )
    mean_wlen = F.when(n_words > 0, n_chars / n_words).otherwise(F.lit(0.0))
    score = (
        F.least(n_words / F.lit(20.0), F.lit(1.0)) * 0.4
        + (F.lit(1.0) - F.least(punct_ratio * 4, F.lit(1.0))) * 0.3
        + F.least(stop_ratio * 2, F.lit(1.0)) * 0.3
    )
    return (
        df.withColumn("n_words", n_words)
        .withColumn("punct_ratio", F.round(punct_ratio, 6))
        .withColumn("stopword_ratio", F.round(stop_ratio, 6))
        .withColumn("mean_word_len", F.round(mean_wlen, 4))
        .withColumn("quality_score", F.round(score, 6))
    )


def with_language_guess(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stopword-hit language ID across {en,fr,de,es}; 'und' when no hits."""
    words = F.array_distinct(_words(text_col))
    scores = []
    for lang, sws in STOPWORDS.items():
        lit = F.array(*[F.lit(w) for w in sws])
        scores.append(
            F.struct(
                F.size(F.array_intersect(words, lit)).alias("hits"),
                F.lit(lang).alias("lang"),
            )
        )
    best = F.array_max(F.array(*scores))
    guess = F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))
    return df.withColumn("lang_guess", guess)


def with_fingerprint(
    df: DataFrame, text_col: str = "text", shingle_chars: int = 16
) -> DataFrame:
    """Rolling-hash document fingerprint: xxhash64 of the
    whitespace/casing-normalised text, plus a content fingerprint that is
    the minimum xxhash64 over character shingles (winnowing-style, robust
    to local edits)."""
    # materialize the normalised text ONCE: referencing the regex
    # expression inside the transform lambda re-evaluated it per shingle
    # position (up to 4096x per doc) — 14.5s → 1.9s at sf0.1
    normalised = F.trim(
        F.regexp_replace(F.lower(F.col(text_col)), r"[^\w]+", " ")
    )
    tmp = df.withColumn("_norm", normalised)
    nc = F.col("_norm")
    n = F.greatest(F.length(nc) - (shingle_chars - 1), F.lit(1))
    rolling = F.transform(
        F.sequence(F.lit(1), F.least(n, F.lit(4096))),
        lambda i: F.xxhash64(nc.substr(i, F.lit(shingle_chars))),
    )
    return (
        tmp.withColumn("fingerprint", F.xxhash64(nc))
        .withColumn("min_shingle_fp", F.array_min(rolling))
        .drop("_norm")
    )


# Training-pipeline hygiene: PII-style redaction + fixed-size chunking.

REDACTION_PATTERNS = [
    # order matters: URLs before bare domains/emails would be, emails
    # before digit runs (emails may contain digits)
    (r"https?://[^\s]+", "<URL>"),
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\d{7,}", "<NUM>"),  # long digit runs (phone/account-ish)
]


def with_redactions(
    df: DataFrame, text_col: str = "text", out_col: str = "text_redacted"
) -> DataFrame:
    """Replace URLs, emails, and long digit runs with typed placeholder
    tokens — pure ``regexp_replace`` chain, whole-stage codegen."""
    expr = F.col(text_col)
    for pat, repl in REDACTION_PATTERNS:
        expr = F.regexp_replace(expr, pat, repl)
    return df.withColumn(out_col, expr)


def chunk_tokens(
    df: DataFrame,
    chunk_size: int,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    overlap: int = 0,
) -> DataFrame:
    """Split each document's token array into fixed-size training chunks:
    one output row per chunk (id, chunk_id, chunk_tokens, n_chunk_tokens).
    JVM-side sequence/slice/posexplode — no shuffle, no Python; row count
    grows by max(1, ceil((n_tok − overlap) / stride)) per doc.

    ``overlap`` (< chunk_size): consecutive chunks share this many
    tokens (stride = chunk_size − overlap) — the standard sliding-window
    packing so context isn't severed at every chunk boundary. Chunk i
    starts at i·stride; emission stops once a chunk's END reaches the
    document's end (no fully-redundant trailing chunk)."""
    if not 0 <= overlap < chunk_size:
        raise ValueError(
            f"overlap must be in [0, chunk_size); got {overlap} "
            f"for chunk_size {chunk_size}"
        )
    stride = chunk_size - overlap
    n = F.size(F.col(tokens_col))
    n_chunks = (F.ceil((n - F.lit(overlap)) / F.lit(stride))).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0))),
        lambda i: F.slice(F.col(tokens_col), i * stride + 1, chunk_size),
    )
    exploded = df.where(n > 0).select(
        F.col(id_col),
        F.posexplode(chunks).alias("chunk_id", "chunk_tokens"),
    )
    return exploded.withColumn(
        "n_chunk_tokens", F.size("chunk_tokens")
    )


def top_words(
    df: DataFrame,
    k: int = 5,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Vocabulary building: the top-k words per group by document
    frequency (distinct docs containing the word), ties broken by word
    ascending. explode(distinct words) → count → ranked window; the
    shuffle carries (group, word) counts, the window runs on the rollup —
    corpus-size-independent state per group."""
    from pyspark.sql import Window

    words = F.array_distinct(_words(text_col))
    counts = (
        df.select(F.col(group_col), F.explode(words).alias("word"))
        .where(F.col("word") != "")
        .groupBy(group_col, "word")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    w = Window.partitionBy(group_col).orderBy(
        F.col("df").desc(), F.col("word")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(group_col, "rank", "word", "df")
    )


def line_dedup(
    df: DataFrame,
    min_df: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """C4-style cross-corpus line dedup: drop every line whose exact text
    occurs in >= min_df documents, reassemble the survivors in original
    line order. Catches boilerplate (nav bars, cookie banners, licence
    footers) that whole-doc dedup never sees.

    Plan shape: posexplode lines → map-side-combined (line → df) count →
    hot-line set is violation-rate-sized, so the filter is a broadcast
    anti-join; reassembly groups by doc sorted on line position. The only
    corpus-wide shuffle keys on xxhash64(line) (8 bytes), not the line."""
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    hot = (
        lines.groupBy(F.xxhash64("line").alias("h"))
        .agg(F.countDistinct(id_col).alias("df"))
        .where(F.col("df") >= min_df)
        .select("h")
    )
    kept = lines.join(
        F.broadcast(hot),
        F.xxhash64(lines.line) == hot.h,
        "left_anti",
    )
    rebuilt = (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "line"))
                    ),
                    lambda s: s["line"],
                ),
                "\n",
            ).alias("text_deduped")
        )
    )
    return df.join(rebuilt, id_col, "left").withColumn(
        "text_deduped", F.coalesce("text_deduped", F.lit(""))
    )


def repetition_stats(
    df: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Gopher-style repetition signal: the fraction of a document's word
    n-grams taken up by its single most-repeated n-gram. High values mean
    degenerate/templated text (quality-filter input).

    RAW (non-distinct) shingles via the shifted-slice zip; explode →
    (doc, shingle) counts with map-side partial aggregation → per-doc
    max/sum. The shuffle is bounded by distinct (doc, shingle) pairs."""
    tmp = df.withColumn("_w", _words(text_col))
    sh = _raw_shingles(F.col("_w"), n)
    exploded = tmp.select(
        F.col(id_col), F.explode(sh).alias("shingle")
    )
    per_shingle = exploded.groupBy(id_col, "shingle").agg(
        F.count(F.lit(1)).alias("c")
    )
    return per_shingle.groupBy(id_col).agg(
        F.sum("c").alias("n_shingles"),
        F.max("c").alias("max_rep"),
        F.round(F.max("c") / F.sum("c"), 4).alias("rep_ratio"),
    )


def source_mix(
    df: DataFrame,
    caps: dict[str, int],
    default_cap: int | None = None,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic training-mix assembly: keep the first ``caps[source]``
    docs per source (by id order). Sources without a cap keep
    ``default_cap`` docs (None = unlimited).

    One window shuffle on the group key. For sources too large to sort,
    use :mod:`..sample`'s hash-rate sampling instead — caps give exact
    counts, rates give exact fractions."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(id_col)
    ranked = df.withColumn("_rn", F.row_number().over(w))
    cap_expr = None
    for src, cap in caps.items():
        cond = F.when(F.col(group_col) == src, F.lit(cap))
        cap_expr = cond if cap_expr is None else cap_expr.when(
            F.col(group_col) == src, F.lit(cap)
        )
    if cap_expr is None:
        cap_col = F.lit(default_cap)
    else:
        cap_col = cap_expr.otherwise(
            F.lit(default_cap) if default_cap is not None else F.lit(None)
        )
    keep = cap_col.isNull() | (F.col("_rn") <= cap_col)
    return ranked.where(keep).drop("_rn")


def lexical_diversity(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-group lexical-diversity signals for corpus curation:
    token count, type count, type-token ratio, and Shannon entropy (bits)
    of the word distribution. Low entropy / low TTR flags templated or
    degenerate sources before training.

    One explode → (group, word) counts with map-side combine; TTR and
    entropy are computed on the rollup (≤ |groups| × |vocab| rows), so
    nothing corpus-sized shuffles twice."""
    words = _words(text_col)
    counts = (
        df.select(F.col(group_col), F.explode(words).alias("word"))
        .where(F.col("word") != "")
        .groupBy(group_col, "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # entropy via the identity −Σ(c/N)·log2(c/N) = log2(N) − (Σ c·log2 c)/N:
    # everything reduces in ONE second-level aggregation, so the plan is
    # scan → (group, word) rollup → group rollup (the naive join-back
    # formulation scanned the corpus twice and shuffled 16 times)
    agg = counts.groupBy(group_col).agg(
        F.sum("c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(F.col("c") * F.log2("c")).alias("_s"),
    )
    entropy = F.log2("n_tokens") - F.col("_s") / F.col("n_tokens")
    return agg.select(
        group_col,
        "n_tokens",
        "n_types",
        F.round(F.col("n_types") / F.col("n_tokens"), 4).alias("ttr"),
        F.round(entropy, 4).alias("entropy"),
    )


def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 1,
) -> DataFrame:
    """CCNet-style LM quality proxy: per-doc mean negative log2
    probability of its words under the corpus unigram distribution
    (lower = more typical text; high values flag gibberish/outliers).

    The unigram model is the (word, count) rollup; its grand total joins
    as one row computed in the same action, so nothing is cached and no
    job runs before the plan. Scoring re-scans the corpus once
    and joins words↔model on the word key WITHOUT a broadcast hint — a
    web-scale vocabulary is far beyond broadcast limits. Out-of-
    vocabulary words (below ``min_count``) score as count 1/2
    (Laplace-ish floor), keeping the expression total and
    deterministic."""
    words = df.select(
        F.col(id_col),
        F.explode(
            F.split(
                F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")),
                " ",
            )
        ).alias("word"),
    ).where(F.col("word") != "")
    wc = words.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
    total = wc.agg(
        F.coalesce(F.sum("c"), F.lit(1)).cast("double").alias("_total")
    )
    freq = wc.where(F.col("c") >= min_count)
    scored = words.join(freq, "word", "left").crossJoin(total).select(
        id_col,
        (
            -F.log2(
                F.coalesce(F.col("c").cast("double"), F.lit(0.5))
                / F.col("_total")
            )
        ).alias("nll"),
    )
    return scored.groupBy(id_col).agg(
        F.round(F.avg("nll"), 4).alias("mean_nll"),
        F.count(F.lit(1)).alias("n_words"),
    )


def quality_by_language(
    df: DataFrame,
    thresholds: dict[str, tuple[float, int]] | None = None,
    default_max_punct: float = 0.3,
    default_min_chars: int = 10,
    text_col: str = "text",
) -> DataFrame:
    """Language-aware quality gate: per-language (max_punct_ratio,
    min_chars) thresholds, because the ASCII-centric punct heuristic
    over-fires on non-Latin scripts (every CJK char counts as non-word).

    ``thresholds``: {lang → (max_punct_ratio, min_chars)}; languages not
    listed use the defaults. Returns rows that pass THEIR language's
    gate, with the ``lang_guess`` and quality columns kept for
    downstream routing. Pure column expressions over the existing language-ID and
    quality operators — whole-stage codegen, no shuffle."""
    q = with_quality(with_language_guess(df, text_col), text_col)
    max_punct = F.lit(float(default_max_punct))
    min_chars = F.lit(int(default_min_chars))
    for lang, (mp, mc) in (thresholds or {}).items():
        max_punct = F.when(
            F.col("lang_guess") == lang, F.lit(float(mp))
        ).otherwise(max_punct)
        min_chars = F.when(
            F.col("lang_guess") == lang, F.lit(int(mc))
        ).otherwise(min_chars)
    keep = (F.col("punct_ratio") <= max_punct) & (
        F.length(text_col) >= min_chars
    )
    return q.where(keep)


def pack_sequences(
    df: DataFrame,
    context_len: int,
    id_col: str = "doc_id",
    tokens_col: str = "chunk_tokens",
    pad_id: int | None = None,
    deterministic: bool = False,
    num_partitions: int | None = None,
    order_cols: list[str] | None = None,
) -> DataFrame:
    """Pack chunks into training sequences of at most ``context_len``
    tokens (greedy first-fit) — the batch-assembly step after
    :func:`chunk_tokens`: short chunks share a sequence instead of
    wasting pad positions.

    Scale shape: packing is PER PARTITION inside ``mapInPandas`` (the
    standard approach — no shuffle, no global state; cross-partition
    packing would serialize the corpus for a ~1% fill gain). Determinism
    therefore depends on the input partitioning; pass
    ``deterministic=True`` to impose a canonical layout internally:
    hash-repartition on ``xxhash64(id)`` into ``num_partitions``
    (default ``spark.sql.shuffle.partitions``) then sort within
    partitions by ``order_cols`` (default ``[id, tokens]`` — a total
    order up to interchangeable duplicate rows). Hash partitioning is
    used rather than ``repartitionByRange`` because range boundaries
    come from RDD-id-seeded sampling and can shift between runs; a hash
    of the id cannot. Costs one shuffle; identical input then yields
    identical packs regardless of upstream partitioning.

    Output per sequence: tokens (padded to ``context_len`` iff
    ``pad_id`` is set), n_tokens (pre-pad), boundaries (start offset of
    each packed segment — the attention-mask reset points), source_ids
    (stringified, id-type-agnostic), and fill_ratio. Null/empty token
    rows are skipped; a chunk LONGER than ``context_len`` is an error —
    trim upstream (chunk_tokens with chunk_size ≤ context_len) because
    silently dropping training tokens would corrupt the output with
    healthy-looking stats.
    """
    import pandas as pd

    if context_len <= 0:
        raise ValueError(f"context_len must be > 0, got {context_len}")
    out_schema = (
        "pack_id string, tokens array<int>, n_tokens int, "
        "n_segments int, boundaries array<int>, "
        "source_ids array<string>, fill_ratio double"
    )

    def run(iterator):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        # open bins: list of [tokens, boundaries, source_ids]
        bins: list[list] = []
        seq = 0

        def flush(b):
            nonlocal seq
            toks, bounds, srcs = b
            n = len(toks)
            if pad_id is not None:
                toks = toks + [pad_id] * (context_len - n)
            row = (
                f"{pid}-{seq}", toks, n, len(bounds), bounds, srcs,
                round(n / context_len, 6),
            )
            seq += 1
            return row

        rows_out = []
        for pdf in iterator:
            for i, toks in zip(pdf[id_col], pdf[tokens_col]):
                if toks is None or len(toks) == 0:
                    continue  # no phantom zero-length segments
                toks = list(toks)
                if len(toks) > context_len:
                    raise ValueError(
                        f"chunk of {len(toks)} tokens exceeds "
                        f"context_len {context_len} — chunk upstream "
                        "with chunk_size <= context_len"
                    )
                placed = False
                for b in bins:
                    if len(b[0]) + len(toks) <= context_len:
                        b[1].append(len(b[0]))
                        b[0].extend(toks)
                        b[2].append(str(i))
                        placed = True
                        break
                if not placed:
                    bins.append([list(toks), [0], [str(i)]])
                # cap open-bin scan cost: bins nearly full stop accepting
                if len(bins) > 64:
                    fullest = max(range(len(bins)), key=lambda j: len(bins[j][0]))
                    rows_out.append(flush(bins.pop(fullest)))
            if rows_out:
                yield pd.DataFrame(
                    rows_out,
                    columns=["pack_id", "tokens", "n_tokens", "n_segments",
                             "boundaries", "source_ids", "fill_ratio"],
                )
                rows_out = []
        tail = [flush(b) for b in bins]
        if tail:
            yield pd.DataFrame(
                tail,
                columns=["pack_id", "tokens", "n_tokens", "n_segments",
                         "boundaries", "source_ids", "fill_ratio"],
            )

    if deterministic:
        n = num_partitions or int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
        cols = order_cols or [id_col, tokens_col]
        extra = [c for c in cols if c not in (id_col, tokens_col)]
        src = (
            df.select(id_col, tokens_col, *extra)
            .repartition(n, F.xxhash64(F.col(id_col)))
            .sortWithinPartitions(*cols)
        )
    else:
        src = df.select(id_col, tokens_col)
    return src.mapInPandas(run, out_schema)
