"""End-to-end training-data curation pipeline: the composition of the
pipeline operators into the shape a real pre-training data job runs.

    raw docs → exact dedup → near-dup dedup (MinHash candidates →
    exact-Jaccard verify → connected components, keep cluster min) →
    benchmark decontamination → quality filter → stratified sample →
    PII-style redaction → fixed-size token chunks → [doc-level
    train/val/test split] → [context-length packing, per split] →
    [seeded epoch shuffle]

Every stage is a DataFrame→DataFrame transform (lazy until the final
write), so Catalyst fuses the cheap stages and the expensive ones
(candidate joins) keep their audited plan shapes. Each stage boundary is
materialised once and counted from its checkpoint — the counts are the
curation report, not a side effect of extra scans.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .operators.dedup import (
    drop_exact_duplicates,
    minhash_candidates,
    near_dup_clusters,
    ngram_jaccard_pairs,
)
from .operators.decontaminate import contaminated_docs
from .operators.sample import stratified_sample
from .operators.text import chunk_tokens, with_quality, with_redactions
from .session import owned_caches, release


@dataclass
class CurateConfig:
    id_col: str = "doc_id"
    text_col: str = "text"
    group_col: str = "source"
    # near-dup stage
    near_dup: bool = True
    minhash_num_perm: int = 32
    minhash_bands: int = 16
    min_jaccard: float = 0.8
    shingle_n: int = 3
    jaccard_df_max: int | None = 1000
    # hot-bucket cap for MinHash candidate generation: a degenerate band
    # bucket of L docs yields L² candidate pairs, so one boilerplate-
    # heavy band bucket at web-corpus scale goes quadratic — see
    # dedup._cap_hot_buckets. Round 6: default FINITE (10_000 — worst
    # bucket bounded at 1e8 comparisons spread over tasks, far above any
    # honest near-dup cluster at min_jaccard>=0.8, so bench-scale runs
    # never trip it and planted-dupe recall is unchanged: a true dupe
    # group that big still collides in the other bands). None is the
    # explicit opt-out to scan pathological buckets anyway.
    minhash_bucket_max: int | None = 10_000
    # connected-components algorithm for survivor selection: "label"
    # (min-label propagation, diameter rounds) or "star" (alternating
    # large/small-star, O(log n) rounds — robust to chain-shaped graphs)
    cluster_method: str = "label"
    # quality gate
    max_punct_ratio: float = 0.3
    min_chars: int = 10
    # learned quality filter (quality_model.score_quality): weights =
    # [intercept, w_n_words, w_punct_ratio, w_stopword_ratio]; None = off
    quality_lr_weights: list[float] | None = None
    min_quality_prob: float = 0.5
    # sampling (None = keep everything)
    sample_rates: dict[str, tuple[int, int]] | None = None
    default_rate: tuple[int, int] = (1, 1)
    # decontamination (benchmark DataFrame supplied at run time)
    decontaminate_min_shared: int = 3
    # semantic dedup (embeddings DataFrame supplied at run time)
    semantic_threshold: float = 0.9
    # None = auto-size from the vector count (~2k vectors/cluster,
    # clamped to [8, 4096]); the self-join is Σ|cluster|² ≈ N²/k, so a
    # fixed k is quadratic at scale — see semantic_dedup's docstring.
    semantic_clusters: int | None = None
    # semantic decontamination threshold (None = reuse
    # semantic_threshold); independent knob so tightening decon does not
    # also change which in-corpus duplicates the dedup stage drops
    decontamination_threshold: float | None = None
    embedding_dim: int = 64
    embedding_id_col: str = "vec_id"
    # chunking
    chunk_size: int = 512
    chunk_overlap: int = 0  # sliding-window stride = size - overlap
    # optional batch assembly: pack chunks into sequences of this many
    # tokens (None = emit raw chunks); pad with pack_pad_id when set
    pack_context_len: int | None = None
    pack_pad_id: int | None = None
    vocab_size: int = 50_257
    # optional train/val/test assignment (None = off): doc-level
    # deterministic hash split (sample.split_corpus) — every chunk of a
    # doc carries the same split, so documents never straddle splits;
    # with packing enabled each split packs SEPARATELY, so no training
    # sequence mixes split material (eval leakage through a shared pack)
    split_weights: dict[str, int] | None = None
    split_seed: int = 0
    # optional seeded epoch shuffle of the final output (None = off):
    # sample.deterministic_shuffle — one range exchange producing a
    # partition-layout-independent total order, so written shards stream
    # in shuffled order
    shuffle_seed: int | None = None
    # reliable stage checkpoints (None = localCheckpoint): write each
    # stage boundary to <checkpoint_dir>/NN_stage parquet and re-read,
    # deleting the PREVIOUS boundary as soon as the new one lands. Same
    # lineage truncation as localCheckpoint, but disk holds at most two
    # compressed columnar snapshots instead of every stage's RDD block
    # set — at 30M rows the block sets exhausted a 76 GB disk while the
    # parquet path peaks under ~10 GB. Also the executor-loss-safe
    # pattern for real clusters (point it at HDFS/S3).
    checkpoint_dir: str | None = None


@dataclass
class CurateResult:
    chunks: DataFrame
    stage_counts: dict[str, int] = field(default_factory=dict)
    # wall seconds from the previous stage boundary to the end of this
    # stage's eager materialization: each boundary is a checkpoint +
    # count, so the delta IS the stage's cost, including any driver-side
    # probes its operator runs
    stage_seconds: dict[str, float] = field(default_factory=dict)
    # the final localCheckpoint boundary (None with checkpoint_dir); kept
    # apart from ``chunks`` because the epoch shuffle wraps it
    boundary: DataFrame | None = field(default=None, repr=False)

    def summary(self) -> dict[str, Any]:
        return {**self.stage_counts, "stage_seconds": self.stage_seconds}

    def release(self) -> None:
        """Free the final stage boundary's blocks once ``chunks`` has been
        consumed (the earlier boundaries are freed as curate runs)."""
        if self.boundary is not None:
            release(self.boundary)
            self.boundary = None


def _tokens_expr(text_col: str, vocab: int):
    # the SAME split expression as token counting and BPE training
    # (operators/text._words) so the three can never disagree on word
    # boundaries; empty words are filtered BEFORE hashing — split("")
    # yields [""], which would otherwise fabricate one phantom token for
    # whitespace-only docs and defeat chunk_tokens' empty-doc filter
    from .operators.text import _words

    return F.transform(
        F.filter(_words(text_col), lambda w: w != ""),
        lambda w: F.pmod(F.xxhash64(w), F.lit(vocab)).cast("int"),
    )


# with_quality withColumn-replaces these names; select(*docs.columns)
# after the gate would silently propagate the recomputed heuristics
# under the user's column names — so curate() rejects inputs carrying
# them, at entry, before any stage materialises
_QUALITY_COLS = {
    "n_words", "punct_ratio", "stopword_ratio", "mean_word_len",
    "quality_score",
}


def curate(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    cfg: CurateConfig | None = None,
    embeddings: DataFrame | None = None,
    benchmark_embeddings: DataFrame | None = None,
) -> CurateResult:
    """Run the curation pipeline; returns the chunk table plus per-stage
    surviving-row counts and seconds.

    ``benchmark_embeddings`` (with ``embeddings``) enables the semantic
    decontamination stage: docs whose embedding is τ-close to any
    benchmark embedding are dropped — the paraphrase-level complement of
    the n-gram ``benchmark`` stage.

    Every stage boundary is materialised eagerly and counted. Without
    ``cfg.checkpoint_dir`` each boundary is a ``localCheckpoint``, and
    the previous one is released as soon as the next has landed; call
    ``CurateResult.release()`` once ``chunks`` is consumed to free the
    last. A stage whose operators cache intermediates builds inside its
    own ``owned_caches()`` block, which frees them once the stage's
    boundary has landed."""
    cfg = cfg or CurateConfig()
    # fail BEFORE any compute: this check reads only docs.columns, and
    # deferring it to stage 4 (its old home) meant the exact-dup and the
    # heaviest near-dup stages fully materialised before the error fired
    clash = _QUALITY_COLS & set(docs.columns)
    if clash:
        raise ValueError(
            f"curate reserves quality feature column(s) {sorted(clash)}; "
            "rename them in the input (they would be silently "
            "overwritten by the quality stage)"
        )
    stage_counts: dict[str, int] = {}
    stage_seconds: dict[str, float] = {}
    last_boundary = time.monotonic()
    # "retire" is every live boundary, oldest first; stage() deletes all
    # but the newest (the one feeding the next stage). Aux boundaries
    # written INSIDE a stage stay alive until that stage's own boundary
    # lands — the invariant is that `cur` always reads from the newest
    # stage boundary, and aux tables are only consumed before the next
    # stage() call.
    ckpt_state: dict[str, Any] = {"idx": 0, "retire": []}
    # the default-mode boundary the next stage reads from (never the
    # caller's docs: "input" gets its own localCheckpoint)
    boundary: DataFrame | None = None

    def stage(df: DataFrame, name: str) -> DataFrame:
        # A boundary at every stage: materialises the stage once (no
        # stage lineage ever executes twice) AND truncates the logical
        # plan — chaining eight stages incl. the 32-agg MinHash and the
        # iterative clustering otherwise grows a plan tree large enough
        # to OOM the driver just STRINGIFYING it.
        #
        # Two boundary mechanisms:
        # - default: eager localCheckpoint. Zero-copy fast. The previous
        #   boundary's RDD block set is unpersisted as soon as this one
        #   has materialised, since nothing reads it after that;
        #   ContextCleaner alone frees blocks only when the JVM GCs the
        #   RDD, which driver-held references prevent.
        # - cfg.checkpoint_dir: write the boundary to parquet, re-read,
        #   and DELETE the previous boundary immediately — disk is
        #   bounded by two compressed columnar snapshots regardless of
        #   stage count, and a System.gc() nudge lets ContextCleaner
        #   release the now-unreachable shuffle files of the stage just
        #   retired. This is also the executor-loss-safe cluster shape
        #   (reliable checkpoint to HDFS/S3).
        nonlocal last_boundary, boundary
        if cfg.checkpoint_dir is not None:
            if name != "input":
                df = _ckpt_write(df, name)
                # aux boundaries written inside this stage are garbage
                # once the stage boundary itself has landed
                _ckpt_retire(df.sparkSession)
            # "input" gets NO boundary in this mode: a bare parquet scan
            # has a trivial plan (nothing to truncate) and only stage 1
            # reads it — re-writing it would cost a full corpus copy,
            # and a localCheckpoint would pin the whole corpus's
            # deserialized block set on local disk for the run's
            # duration, which is the exact cost checkpoint_dir exists
            # to avoid
        else:
            df = df.localCheckpoint(eager=True)
            if boundary is not None:
                release(boundary)
            boundary = df
        stage_counts[name] = df.count()
        now = time.monotonic()
        stage_seconds[name] = round(now - last_boundary, 3)
        last_boundary = now
        return df

    def _ckpt_write(df: DataFrame, name: str) -> DataFrame:
        spark = df.sparkSession
        out = (
            f"{cfg.checkpoint_dir.rstrip('/')}/"
            f"{ckpt_state['idx']:02d}_{name}"
        )
        ckpt_state["idx"] += 1
        df.write.mode("overwrite").parquet(out)
        df = spark.read.parquet(out)
        ckpt_state["retire"].append(out)
        # the JVM GC nudge lets ContextCleaner free the shuffle files
        # and persisted blocks of the lineage this write just retired
        spark.sparkContext._jvm.System.gc()
        return df

    def _ckpt_retire(spark) -> None:
        # delete every boundary except the newest (still feeding the
        # next stage): disk holds at most two snapshots at any moment
        from . import fsutil

        retire = ckpt_state["retire"]
        for old in retire[:-1]:
            fsutil.delete_dir(spark, old)
        ckpt_state["retire"] = retire[-1:]

    def aux_boundary(df: DataFrame, name: str) -> DataFrame:
        """Intra-stage reliable boundary (no-op without checkpoint_dir):
        the near-dup stage chains minhash banding → hot-bucket cap →
        candidate join → shingle-explode verify → connected components,
        and the CC step runs SEVERAL actions over the verified edges —
        each action re-executes the whole upstream lineage, duplicating
        its (tens-of-GB at 30M rows) shuffle files on local disk until
        the stage ends. Writing the KB..MB-sized candidate and edge
        tables to parquet retires those shuffles immediately; measured
        as the difference between a disk-exhaustion abort and a ~10 GB
        peak at 30M rows on a 76 GB disk."""
        if cfg.checkpoint_dir is None:
            return df
        return _ckpt_write(df, name)

    cur = stage(docs, "input")

    # 1. exact dedup (keep min id per identical text)
    cur = stage(
        drop_exact_duplicates(cur, cfg.text_col, cfg.id_col), "exact_dedup"
    )

    # 2. near-dup dedup: LSH candidates → exact-Jaccard verify →
    #    connected components → drop everything but each cluster's min id
    if cfg.near_dup:
        with owned_caches():
            cand = minhash_candidates(
                cur,
                id_col=cfg.id_col,
                text_col=cfg.text_col,
                shingle_n=cfg.shingle_n,
                num_perm=cfg.minhash_num_perm,
                bands=cfg.minhash_bands,
                min_jaccard=cfg.min_jaccard,
                bucket_max=cfg.minhash_bucket_max,
            ).select("id_a", "id_b")
            cand = aux_boundary(cand, "near_candidates")
            cand_docs = (
                cand.select(F.col("id_a").alias(cfg.id_col))
                .unionByName(cand.select(F.col("id_b").alias(cfg.id_col)))
                .distinct()
                .join(cur, cfg.id_col)
            )
            verified = ngram_jaccard_pairs(
                cand_docs,
                id_col=cfg.id_col,
                text_col=cfg.text_col,
                n=cfg.shingle_n,
                min_jaccard=cfg.min_jaccard,
                df_max=cfg.jaccard_df_max,
            )
            verified = aux_boundary(verified, "near_verified")
            clusters = near_dup_clusters(verified, method=cfg.cluster_method)
            losers = clusters.where(
                F.col("doc_id") != F.col("cluster_id")
            ).select(F.col("doc_id").alias(cfg.id_col))
            # no broadcast hint: near-dup "losers" are dup-rate-sized
            # (easily 20-50% of a web corpus), so a forced broadcast would
            # OOM. AQE picks broadcast when actually small; otherwise this
            # is a shuffle anti-join on the 8-byte id.
            cur = stage(
                cur.join(losers, cfg.id_col, "left_anti"),
                "near_dedup",
            )

    # 2b. semantic dedup (SemDeDup): only docs whose embedding survives
    #     the cluster-local rank-discard stay — catches paraphrase-level
    #     duplication the lexical stages cannot see
    if embeddings is not None:
        from .operators.similarity import semantic_dedup

        with owned_caches():
            dropped = semantic_dedup(
                embeddings,
                dim=cfg.embedding_dim,
                n_clusters=cfg.semantic_clusters,
                threshold=cfg.semantic_threshold,
                id_col=cfg.embedding_id_col,
                return_discards=True,
            ).select(F.col("id").alias(cfg.id_col))
            # dup-rate-sized discard set — no broadcast hint (see
            # near_dedup)
            cur = stage(
                cur.join(dropped, cfg.id_col, "left_anti"),
                "semantic_dedup",
            )

    # 2c. semantic decontamination: embedding-level eval-leak catch
    #     (paraphrases the n-gram stage below cannot see)
    if embeddings is not None and benchmark_embeddings is not None:
        from .operators.similarity import semantic_decontaminate

        leaked = semantic_decontaminate(
            embeddings,
            benchmark_embeddings,
            dim=cfg.embedding_dim,
            threshold=(
                cfg.decontamination_threshold
                if cfg.decontamination_threshold is not None
                else cfg.semantic_threshold
            ),
            id_col=cfg.embedding_id_col,
        ).select(F.col("id").alias(cfg.id_col))
        # dup-rate-sized in the worst case — no broadcast hint (AQE picks)
        cur = stage(
            cur.join(leaked, cfg.id_col, "left_anti"),
            "semantic_decontaminated",
        )

    # 3. benchmark decontamination
    if benchmark is not None:
        bad = contaminated_docs(
            cur,
            benchmark,
            id_col=cfg.id_col,
            text_col=cfg.text_col,
            n=cfg.shingle_n,
            min_shared=cfg.decontaminate_min_shared,
        ).select(cfg.id_col)
        # contamination can be corpus-fraction-sized for leaky benchmarks —
        # let AQE choose the anti-join strategy rather than forcing a
        # broadcast of an unbounded id set
        cur = stage(
            cur.join(bad, cfg.id_col, "left_anti"),
            "decontaminated",
        )

    # 4. quality gate (pure codegen filters; optionally a learned LR
    #    score over the same features — still zero Python on the rows).
    #    Column-collision check ran at curate() entry (_QUALITY_COLS).
    q = with_quality(cur, cfg.text_col)
    keep = (F.col("punct_ratio") <= cfg.max_punct_ratio) & (
        F.length(cfg.text_col) >= cfg.min_chars
    )
    if cfg.quality_lr_weights is not None:
        from .operators.quality_model import score_quality

        q = score_quality(
            q,
            cfg.quality_lr_weights,
            ["n_words", "punct_ratio", "stopword_ratio"],
        )
        keep = keep & (F.col("quality_prob") >= cfg.min_quality_prob)
    cur = stage(q.where(keep).select(*docs.columns), "quality")

    # 5. stratified sampling
    if cfg.sample_rates is not None:
        cur = stage(
            stratified_sample(
                cur,
                rates=cfg.sample_rates,
                default_rate=cfg.default_rate,
                group_col=cfg.group_col,
                id_col=cfg.id_col,
            ),
            "sampled",
        )

    # 6. redaction + tokenize + chunk (group_col is NOT selected here:
    #    chunk_tokens keeps only id/chunk columns, and requiring it
    #    would crash corpora without a source column even though only
    #    the optional sampling stage above actually uses it)
    red = with_redactions(cur, cfg.text_col)
    tok = red.select(
        F.col(cfg.id_col),
        _tokens_expr("text_redacted", cfg.vocab_size).alias("tokens"),
    )
    chunks = stage(
        chunk_tokens(
            tok, cfg.chunk_size, id_col=cfg.id_col,
            overlap=cfg.chunk_overlap,
        ),
        "chunks"
    )

    # 6b. optional doc-level split assignment: pure zero-shuffle
    #     expression on the doc id, so all of a doc's chunks share one
    #     split and the assignment is stable across runs/partitionings
    if cfg.split_weights is not None:
        from .operators.sample import split_corpus

        chunks = split_corpus(
            chunks, cfg.split_weights, id_col=cfg.id_col,
            seed=cfg.split_seed,
        )

    # 7. optional batch assembly: pack chunks into context-length
    #    sequences (greedy first-fit per partition; see pack_sequences)
    if cfg.pack_context_len is not None:
        from .operators.text import pack_sequences

        if cfg.pack_context_len < cfg.chunk_size:
            raise ValueError(
                f"pack_context_len ({cfg.pack_context_len}) must be >= "
                f"chunk_size ({cfg.chunk_size}); packing would otherwise "
                "have to drop tokens from every full chunk"
            )

        # partition count derives from the (already-counted) chunk total:
        # every partition ends with up to ~open-bin-limit partial packs,
        # so tiny inputs over many partitions would bleed fill ratio; at
        # scale chunks//64 exceeds the session default and caps there
        default_par = int(
            chunks.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )

        def parts_for(n_chunks: int) -> int:
            return max(1, min(default_par, n_chunks // 64))

        def pack(df: DataFrame, num_partitions: int) -> DataFrame:
            return pack_sequences(
                df,
                cfg.pack_context_len,
                id_col=cfg.id_col,
                pad_id=cfg.pack_pad_id,
                # canonical hash partitioning + (id, chunk_id) order:
                # two curate runs over differently-partitioned input
                # produce byte-identical packs (range partitioning's
                # sampled boundaries would not guarantee this)
                deterministic=True,
                num_partitions=num_partitions,
                order_cols=[cfg.id_col, "chunk_id"],
            )

        n_chunks = stage_counts["chunks"]

        if cfg.split_weights is not None:
            # pack each split separately: a training sequence must never
            # mix train and held-out material. pack_ids are prefixed
            # with the split so they stay globally unique. Partition
            # count is prorated by the split's weight (the hash split is
            # uniform, so weight share ≈ chunk share) — sizing every
            # split from the TOTAL chunk count would spread a 1%-weight
            # val/test split over ~100× too many partitions and bleed
            # its fill ratio into padding
            total_w = sum(cfg.split_weights.values())
            parts = []
            for name in sorted(cfg.split_weights):
                share = cfg.split_weights[name] / total_w
                p = pack(
                    chunks.where(F.col("split") == name).drop("split"),
                    parts_for(int(n_chunks * share)),
                )
                parts.append(
                    p.withColumn(
                        "pack_id",
                        F.concat_ws(":", F.lit(name), F.col("pack_id")),
                    ).withColumn("split", F.lit(name))
                )
            packed = parts[0]
            for p in parts[1:]:
                packed = packed.unionByName(p)
            chunks = stage(packed, "packed")
        else:
            chunks = stage(pack(chunks, parts_for(n_chunks)), "packed")

    # 8. optional epoch shuffle of whatever the final table is (packs or
    #    raw chunks): one range exchange on an engine-portable md5 key
    if cfg.shuffle_seed is not None:
        from .operators.sample import deterministic_shuffle

        if cfg.pack_context_len is not None:
            chunks = deterministic_shuffle(
                chunks, id_col="pack_id", seed=cfg.shuffle_seed
            )
        else:
            chunks = deterministic_shuffle(
                chunks.withColumn(
                    "_row_key",
                    F.concat_ws(
                        ":",
                        F.col(cfg.id_col).cast("string"),
                        F.col("chunk_id").cast("string"),
                    ),
                ),
                id_col="_row_key",
                seed=cfg.shuffle_seed,
            ).drop("_row_key")

    return CurateResult(
        chunks=chunks,
        stage_counts=stage_counts,
        stage_seconds=stage_seconds,
        boundary=boundary,
    )
