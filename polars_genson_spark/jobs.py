"""spark-submit entry points.

Usage (cluster):
    spark-submit --py-files polars_genson_spark.zip -m polars_genson_spark.jobs \
        validate --input <corpus path> --allowed <dim path> --output <run dir>

Skew handling (north_rule): corpus writes go through
``repartition_salted`` — ``repartitionByRange(source, salt, doc_id)`` with
``salt = pmod(xxhash64(doc_id), K)`` so a heavy source key (web-01 carries
~50% of rows in the synthetic corpus) spreads over K range buckets instead
of one straggler task. GroupBy-based checks don't need it (map-side
partial aggregation collapses each task's contribution to ≤|sources|
rows); the salt matters for physical layout and per-partition writes.
"""

from __future__ import annotations

import argparse
import json
import logging
import os
import sys
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import checkpoint as ckpt
from . import fsutil
from .config import ValidationConfig
from .operators.verdicts import finalise_summary, validate_corpus
from .pipeline import CurateConfig
from .session import get_spark
from .sources.corpus import allowed_sources_df


def repartition_salted(
    df: DataFrame,
    cfg: ValidationConfig | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """Range-partition on (source, salt, doc_id): co-locates each source's
    rows into contiguous partitions while splitting heavy sources across
    ``salt_buckets`` ranges. AQE still rebalances joins; this tames write
    skew and keeps partition pruning effective."""
    cfg = cfg or ValidationConfig()
    salted = df.withColumn(
        "_salt",
        F.pmod(F.xxhash64(cfg.doc_id_col), F.lit(cfg.salt_buckets)).cast("int"),
    )
    n = num_partitions or df.sparkSession.sparkContext.defaultParallelism * 2
    out = salted.repartitionByRange(n, cfg.source_col, "_salt", cfg.doc_id_col)
    return out.drop("_salt")


def run_validation(
    spark: SparkSession,
    corpus: DataFrame,
    allowed: DataFrame | None,
    run_dir: str,
    cfg: ValidationConfig | None = None,
    resume: bool = True,
    write_outputs: bool = True,
) -> dict[str, Any]:
    """Validate the corpus, honouring a prior manifest for resume.
    ``run_dir`` may be remote (s3a://, hdfs://) — manifest IO goes
    through the Hadoop FileSystem, so resume works from any driver."""
    cfg = cfg or ValidationConfig()
    if not fsutil.is_remote(run_dir):
        os.makedirs(run_dir, exist_ok=True)

    cfg_fp = ckpt.config_fingerprint(cfg)
    previous = ckpt.load_manifest(run_dir, spark=spark) if resume else None
    if previous is None:
        # fresh run (first run, or --no-resume): nothing to skip, so no
        # fingerprint is needed BEFORE validating — fold the content hash
        # into the stats scan (validate_corpus with_fingerprint) instead
        # of paying a separate full-corpus pass. The fingerprints are
        # peeled out of the collected verdict rows below and recorded in
        # the manifest exactly as the pre-scan would have.
        fingerprints: dict[Any, int] = {}
        todo, skipped = None, []
    else:
        fingerprints = ckpt.partition_fingerprints(corpus, cfg)
        todo, skipped = ckpt.plan_resume(fingerprints, previous, cfg_fp)

    carried = {}
    if previous:
        carried = {
            s: previous["partitions"][s]
            for s in map(str, skipped)
            if s in previous.get("partitions", {})
        }

    metrics: dict[str, dict[str, Any]] = {}
    summary: dict[str, Any] = {}
    report = None
    if previous is None:
        report = validate_corpus(corpus, allowed, cfg, with_fingerprint=True)
        summary = finalise_summary(report)
        for src_val, row in summary["per_partition"].items():
            # same formula as checkpoint.partition_fingerprints: the
            # bit_xor aggregate XORed with the row count
            fingerprints[src_val] = int(row.pop("_fp") or 0) ^ int(
                row["n_rows"]
            )
        todo = sorted(fingerprints, key=lambda s: (s is None, s or ""))
    elif todo:
        # NULL is a legal source partition: isin() never matches NULL (and
        # str(None) would corrupt real values), so it gets its own branch
        named = [s for s in todo if s is not None]
        cond = (
            F.col(cfg.source_col).isin(named) if named else F.lit(False)
        )
        if any(s is None for s in todo):
            cond = cond | F.col(cfg.source_col).isNull()
        subset = corpus.where(cond)
        # drift baseline stays the FULL corpus on partial revalidation:
        # each source's chi²/KS/PSI is measured against "the rest", and
        # a subset-sized rest would disagree with the from-scratch run
        # (and with the carried-forward metrics of skipped partitions)
        report = validate_corpus(
            subset, allowed, cfg,
            drift_reference=corpus if skipped else None,
        )
        summary = finalise_summary(report)
    if report is not None:
        metrics = {
            str(k): {kk: vv for kk, vv in v.items()}
            for k, v in summary["per_partition"].items()
        }
    if write_outputs:
        viol_dir = run_dir.rstrip("/") + "/violations.parquet"
        verd_dir = run_dir.rstrip("/") + "/verdicts.parquet"
        if previous is None:
            # fresh run into a possibly-reused run_dir: EVERYTHING on
            # disk is stale — including partitions of sources absent
            # from this corpus entirely, which are in nobody's todo list
            # so per-partition deletes cannot reach them. Drop both
            # output dirs wholesale; the writes below rebuild them.
            # Manifest first: if the job dies between these deletes and
            # the writes, a surviving stale manifest would make the next
            # resumed run skip every unchanged source — phantom-cleaning
            # the outputs deleted here. With the manifest gone, that
            # resume sees previous=None and revalidates from scratch.
            ckpt.delete_manifest(run_dir, spark=spark)
            fsutil.delete_dir(spark, viol_dir)
            fsutil.delete_dir(spark, verd_dir)
        else:
            # sources in the prior manifest but absent from this corpus:
            # dynamic overwrite never touches their partitions and the
            # rebuilt manifest silently drops them — their stale
            # violations/verdicts rows must go too or readers see
            # phantom data. This runs even when todo is empty: a source
            # can vanish without any surviving source changing.
            current = {str(s) for s in fingerprints}
            vanished = [
                k for k in previous.get("partitions", {}) if k not in current
            ]
            if vanished:
                # manifest keys are str(source): "None" may name a NULL
                # partition (__HIVE_DEFAULT_PARTITION__) or a literal
                # "None" string source — delete both spellings
                vals: list[Any] = list(vanished)
                if "None" in vanished:
                    vals.append(None)
                fsutil.delete_partition_dirs(spark, viol_dir, "source", vals)
                fsutil.delete_partition_dirs(
                    spark, verd_dir, cfg.source_col, vals
                )
        if report is not None:
            viol_out = report.violations
            if cfg.max_violation_examples:
                # bound the EXAMPLES written per (source, check) — a
                # corpus-sized violation set (wrong tokenizer, every row
                # out of range) must not turn the report write into a
                # second copy of the corpus. The verdict COUNTS above are
                # exact: they were aggregated from the full frame.
                from pyspark.sql.window import Window

                w = Window.partitionBy("source", "check").orderBy("doc_id")
                viol_out = (
                    viol_out.withColumn("_rn", F.row_number().over(w))
                    .where(F.col("_rn") <= cfg.max_violation_examples)
                    .drop("_rn")
                )
            # dynamic partition overwrite on source: a partial resume
            # rewrites ONLY the revalidated sources' files — a plain
            # overwrite replaced the whole directory with the subset,
            # silently discarding the skipped partitions' rows.
            # But dynamic overwrite only touches partitions PRESENT in
            # viol_out: a revalidated source that is now CLEAN emits zero
            # violation rows, so its stale partition from the prior run
            # would survive and read as phantom violations. Drop every
            # todo source's partition dir first; the write then recreates
            # exactly the ones that still have violations. (Fresh runs
            # already dropped the whole directory above.)
            if previous is not None:
                fsutil.delete_partition_dirs(
                    spark, viol_dir, "source", list(todo)
                )
            viol_out.write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy("source").parquet(viol_dir)
            # _fp is a resume-internal column (fresh runs only): keep it
            # out of verdicts.parquet so fresh and resumed writes into
            # the same run_dir share one schema
            report.verdicts.drop("_fp").write.mode("overwrite").option(
                "partitionOverwriteMode", "dynamic"
            ).partitionBy(cfg.source_col).parquet(verd_dir)
    if report is not None:
        # the writes above were the last readers. Left cached, the
        # violations would also be served by Spark's cache manager to a
        # later validation in this session that reads the same (since
        # changed) files, and its report would be stale.
        report.release()

    manifest = ckpt.build_manifest(
        fingerprints,
        metrics,
        carried=carried,
        extra={
            "config_fp": cfg_fp,
            "skipped_partitions": sorted(map(str, skipped)),
            "validated_partitions": sorted(map(str, todo)),
        },
    )
    ckpt.save_manifest(run_dir, manifest, spark=spark)

    # all([]) is True: an EMPTY corpus (wrong path, upstream filtered
    # everything) must not green-light a data-quality gate
    all_passed = bool(manifest["partitions"]) and all(
        bool(p.get("passed")) for p in manifest["partitions"].values()
    )
    return {
        "all_passed": all_passed,
        "validated": sorted(map(str, todo)),
        "skipped": sorted(map(str, skipped)),
        "partitions": manifest["partitions"],
    }


def make_pyfiles_zip(output_path: str) -> str:
    """Package the engine for ``spark-submit --py-files``: one zip with the
    ``polars_genson_spark`` package at its root, importable on executors.

    Usage on a cluster:
        spark-submit --py-files pgs.zip your_job.py
    """
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    pkg_name = os.path.basename(pkg_dir)
    with zipfile.ZipFile(output_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for f in files:
                if not f.endswith(".py"):
                    continue
                full = os.path.join(root, f)
                rel = os.path.join(
                    pkg_name, os.path.relpath(full, pkg_dir)
                )
                zf.write(full, rel)
    return output_path


# ---------------------------------------------------------------------------
# CLI
# ---------------------------------------------------------------------------


def main(argv: list[str] | None = None) -> int:
    # surface the engine's own path-selection lines (driver vs
    # distributed CC, hot-bucket cap trips) on CLI runs — scale-run
    # evidence lives in these
    logging.basicConfig(
        level=logging.INFO,
        format="%(asctime)s %(name)s %(levelname)s %(message)s",
    )
    logging.getLogger("py4j").setLevel(logging.WARNING)
    p = argparse.ArgumentParser(prog="polars_genson_spark.jobs")
    sub = p.add_subparsers(dest="cmd", required=True)

    v = sub.add_parser("validate", help="validate a corpus table")
    v.add_argument("--input", required=True)
    v.add_argument("--allowed", default=None)
    v.add_argument("--output", required=True)
    v.add_argument("--no-resume", action="store_true")
    v.add_argument("--max-seq-len", type=int, default=None,
                   help="flag sequences longer than the model context")
    v.add_argument("--min-seq-len", type=int, default=0)
    v.add_argument("--vocab-size", type=int, default=None,
                   help="token-id upper bound; default: the input dir's "
                        "_tokenizer.json sidecar if present (written by "
                        "`tokenize`), else 50257")
    v.add_argument("--packs", action="store_true",
                   help="input is a curate pack table (pack_id, tokens, "
                        "n_tokens[, split]): adapt to the validate "
                        "contract — pack_id→doc_id, padding stripped "
                        "(slice to n_tokens), split→source (so drift "
                        "between train/val/test doubles as a split-bias "
                        "check). Without --allowed, the allowed-source "
                        "dim defaults to the splits present in the "
                        "input (pass --allowed to actually constrain)")

    g = sub.add_parser("generate", help="write a synthetic corpus")
    g.add_argument("--output", required=True)
    g.add_argument("--rows", type=int, default=100_000)
    g.add_argument("--seed", type=int, default=42)

    gd = sub.add_parser(
        "generate-docs",
        help="write a planted-structure documents corpus for scale runs "
        "(hot LSH bucket, near-dup clusters past driver_threshold, "
        "exact dups, junk) — see sources/scale_docs.py",
    )
    gd.add_argument("--output", required=True, help="documents parquet dir")
    gd.add_argument("--rows", type=int, default=10_000_000)
    gd.add_argument("--seed", type=int, default=42)
    gd.add_argument("--embeddings-output", default=None,
                    help="also write embeddings for a doc-id prefix")
    gd.add_argument("--embedding-rows", type=int, default=200_000)
    gd.add_argument("--embedding-dim", type=int, default=64)
    gd.add_argument("--benchmark-output", default=None,
                    help="also write an n-gram-decontamination benchmark "
                    "table copying unique-region docs")
    gd.add_argument("--benchmark-embeddings-output", default=None,
                    help="also write benchmark-side vectors hitting the "
                    "first semantic groups")

    z = sub.add_parser("package", help="build the --py-files zip")
    z.add_argument("--output", default="polars_genson_spark.zip")

    c = sub.add_parser(
        "curate", help="end-to-end training-data curation pipeline"
    )
    c.add_argument("--input", required=True, help="documents parquet")
    c.add_argument("--output", required=True, help="chunk table parquet")
    c.add_argument("--benchmark", default=None,
                   help="benchmark parquet for decontamination")
    c.add_argument("--chunk-size", type=int, default=512)
    c.add_argument("--chunk-overlap", type=int, default=0,
                   help="tokens shared between consecutive chunks "
                        "(sliding window; stride = size - overlap)")
    c.add_argument("--pack-context-len", type=int, default=None,
                   help="pack chunks into sequences of this many tokens "
                        "(greedy first-fit per partition)")
    c.add_argument("--pack-pad-id", type=int, default=None,
                   help="pad packed sequences to full context with this "
                        "token id")
    c.add_argument("--min-jaccard", type=float, default=0.8)
    c.add_argument("--no-near-dup", action="store_true")
    c.add_argument("--embeddings", default=None,
                   help="embeddings parquet enabling the SemDeDup stage")
    c.add_argument("--benchmark-embeddings", default=None,
                   help="benchmark embeddings parquet enabling semantic "
                        "decontamination (requires --embeddings)")
    c.add_argument("--decontamination-threshold", type=float, default=None,
                   help="semantic decontamination cosine threshold "
                        "(default: --semantic-threshold)")
    c.add_argument("--minhash-bucket-max", type=int,
                   default=CurateConfig.minhash_bucket_max,
                   help="drop LSH band buckets larger than this before "
                        "candidate generation (skew guard; default "
                        "%(default)s)")
    c.add_argument("--cluster-method", default="label",
                   choices=["label", "star"],
                   help="near-dup connected components: min-label "
                        "propagation or alternating-star (O(log n))")
    c.add_argument("--semantic-threshold", type=float, default=0.9)
    c.add_argument("--embedding-dim", type=int, default=64)
    c.add_argument("--semantic-clusters", type=int, default=None,
                   help="SemDeDup cluster count; default auto-sizes "
                        "from the vector count (~2k vectors/cluster)")
    c.add_argument("--split", default=None,
                   help="doc-level train/val/test assignment as "
                        "name:weight pairs, e.g. 'train:98,val:1,test:1' "
                        "— deterministic md5 hash split; with packing, "
                        "each split packs separately")
    c.add_argument("--split-seed", type=int, default=0)
    c.add_argument("--shuffle-seed", type=int, default=None,
                   help="seeded epoch shuffle of the final table (one "
                        "range exchange; layout-independent total order)")
    c.add_argument("--checkpoint-dir", default=None,
                   help="reliable stage checkpoints: write each stage "
                        "boundary here as parquet (deleting the previous "
                        "one) instead of localCheckpoint — bounds local "
                        "disk to ~2 stage snapshots; removed after the "
                        "final output is written")

    sv = sub.add_parser(
        "stream-validate",
        help="incremental streaming validation: availableNow + checkpoint "
             "(a rerun validates only files that arrived since)",
    )
    sv.add_argument("--input", required=True, help="corpus parquet dir")
    sv.add_argument("--output", required=True, help="verdicts parquet dir")
    sv.add_argument("--checkpoint", required=True)

    cp = sub.add_parser(
        "compact",
        help="compact a small-files parquet dataset to ~target-mb files",
    )
    cp.add_argument("--input", required=True)
    cp.add_argument("--output", required=True)
    cp.add_argument("--target-mb", type=int, default=512)
    cp.add_argument("--sort-by", default=None,
                    help="optional column to sort within files (row-group "
                         "min/max stats then prune scans on this key)")

    tk = sub.add_parser(
        "tokenize",
        help="train a BPE tokenizer on a text corpus and emit the "
             "pre-tokenized (doc_id, tokens, n_tok, source) table that "
             "`validate` consumes",
    )
    tk.add_argument("--input", required=True, help="documents parquet")
    tk.add_argument("--output", required=True, help="token table parquet")
    tk.add_argument("--n-merges", type=int, default=500)
    tk.add_argument("--max-words", type=int, default=50_000)

    # global knob: reduce-side parallelism must be sized to the DATA, not
    # the core count — a 10M-row rollup at 32 shuffle partitions puts
    # multi-million-key hash aggs in every concurrent task; 256+ keeps
    # per-task state flat and AQE coalesces the small ones back down
    p.add_argument(
        "--shuffle-partitions", type=int, default=None,
        help="spark.sql.shuffle.partitions for this job "
        "(default: session default, i.e. the core count)",
    )

    args = p.parse_args(argv)

    if args.cmd == "package":
        print(make_pyfiles_zip(args.output))
        return 0

    spark = get_spark(
        "polars-genson-spark-job",
        shuffle_partitions=args.shuffle_partitions,
    )
    try:
        if args.cmd == "generate":
            from .sources.corpus import write_corpus

            write_corpus(spark, args.output, args.rows, args.seed)
            return 0
        if args.cmd == "generate-docs":
            from .sources.scale_docs import (
                default_layout,
                generate_benchmark,
                generate_benchmark_embeddings,
                generate_doc_embeddings,
                generate_documents,
            )

            lay = default_layout(args.rows, args.seed)
            generate_documents(
                spark, args.rows, args.seed, layout=lay
            ).write.mode("overwrite").parquet(args.output)
            if args.embeddings_output:
                generate_doc_embeddings(
                    spark,
                    args.embedding_rows,
                    dim=args.embedding_dim,
                    seed=args.seed,
                ).write.mode("overwrite").parquet(args.embeddings_output)
            if args.benchmark_output:
                generate_benchmark(spark, lay, seed=args.seed).write.mode(
                    "overwrite"
                ).parquet(args.benchmark_output)
            if args.benchmark_embeddings_output:
                generate_benchmark_embeddings(
                    spark, dim=args.embedding_dim, seed=args.seed
                ).write.mode("overwrite").parquet(
                    args.benchmark_embeddings_output
                )
            print(json.dumps({
                "rows": args.rows,
                "hot_docs": lay.hot_docs,
                "near_clusters": lay.near_clusters,
                "near_edges_symmetrized": lay.near_edges_symmetrized,
                "exact_groups": lay.exact_groups,
                "junk_docs": lay.junk_docs,
            }))
            return 0
        if args.cmd == "curate":
            from .pipeline import curate

            docs = spark.read.parquet(args.input)
            benchmark = (
                spark.read.parquet(args.benchmark) if args.benchmark else None
            )
            embeddings = (
                spark.read.parquet(args.embeddings)
                if args.embeddings
                else None
            )
            if args.pack_pad_id is not None and args.pack_context_len is None:
                raise SystemExit(
                    "--pack-pad-id has no effect without "
                    "--pack-context-len (packing stage disabled)"
                )
            if args.benchmark_embeddings and not args.embeddings:
                # failing loud beats silently shipping un-decontaminated
                # output: the semantic stage needs the corpus embeddings
                raise SystemExit(
                    "--benchmark-embeddings requires --embeddings (the "
                    "corpus-side vectors the benchmark is matched against)"
                )
            bench_emb = (
                spark.read.parquet(args.benchmark_embeddings)
                if args.benchmark_embeddings
                else None
            )
            split_weights = None
            if args.split:
                try:
                    split_weights = {
                        name: int(w)
                        for name, w in (
                            part.split(":") for part in args.split.split(",")
                        )
                    }
                    if not split_weights or any(
                        w <= 0 for w in split_weights.values()
                    ):
                        raise ValueError("weights must be positive")
                except ValueError as e:
                    raise SystemExit(
                        f"--split must be name:positive-weight pairs "
                        f"('train:98,val:1,test:1'), got {args.split!r}: {e}"
                    )
            cfg = CurateConfig(
                chunk_size=args.chunk_size,
                chunk_overlap=args.chunk_overlap,
                pack_context_len=args.pack_context_len,
                pack_pad_id=args.pack_pad_id,
                min_jaccard=args.min_jaccard,
                near_dup=not args.no_near_dup,
                semantic_threshold=args.semantic_threshold,
                embedding_dim=args.embedding_dim,
                semantic_clusters=args.semantic_clusters,
                minhash_bucket_max=args.minhash_bucket_max,
                cluster_method=args.cluster_method,
                decontamination_threshold=args.decontamination_threshold,
                split_weights=split_weights,
                split_seed=args.split_seed,
                shuffle_seed=args.shuffle_seed,
                checkpoint_dir=args.checkpoint_dir,
            )
            result = curate(
                docs, benchmark, cfg,
                embeddings=embeddings,
                benchmark_embeddings=bench_emb,
            )
            result.chunks.write.mode("overwrite").parquet(args.output)
            # the final stage boundary fed the write above; it is now
            # garbage, and so is the checkpoint tree
            result.release()
            if args.checkpoint_dir:
                fsutil.delete_dir(spark, args.checkpoint_dir)
            print(json.dumps(result.summary()))
            return 0
        if args.cmd == "tokenize":
            from .operators.tokenizer import (
                bpe_tokenize_ids,
                train_bpe_with_vocab,
            )

            docs = spark.read.parquet(args.input)
            merges, vocab, words = train_bpe_with_vocab(
                docs,
                n_merges=args.n_merges,
                max_words=args.max_words,
                return_words=True,
            )
            # seed the apply cache with the training rollup's words:
            # segmented once on the driver, broadcast once per executor
            toks = bpe_tokenize_ids(docs, merges, vocab, seed_words=words)
            if "source" in docs.columns:
                toks = toks.join(
                    docs.select("doc_id", "source"), "doc_id"
                )
            else:
                toks = toks.withColumn("source", F.lit("UNKNOWN"))
            out = toks.select(
                F.col("doc_id").cast("string"), "tokens", "n_tok", "source"
            )
            repartition_salted(out).write.mode("overwrite").parquet(
                args.output
            )
            # sidecar: the tokenizer artifact a validate run needs
            # (vocab_size bounds the token-range check exactly). Written
            # through the Hadoop FileSystem API so remote output URIs
            # (s3://, hdfs://) work — a local open() would crash AFTER
            # the expensive parquet write completed
            fsutil.write_text(
                spark,
                args.output.rstrip("/") + "/_tokenizer.json",
                json.dumps({"merges": merges, "vocab_size": len(vocab)}),
            )
            n = spark.read.parquet(args.output).count()
            print(json.dumps({
                "rows": n,
                "n_merges": len(merges),
                "vocab_size": len(vocab),
                "output": args.output,
            }))
            return 0
        if args.cmd == "compact":
            # Hadoop FS sizing (fsutil): a local glob over a remote URI
            # returned [] → bytes 0 → ONE writer task for the whole set
            n_files_in, total_bytes = fsutil.parquet_sizes(
                spark, args.input
            )
            if n_files_in == 0:
                raise SystemExit(
                    f"compact: no parquet files under {args.input!r} — "
                    "refusing to guess an output layout from 0 bytes"
                )
            n_out = max(1, round(total_bytes / (args.target_mb * 1024 * 1024)))
            df = spark.read.parquet(args.input)
            # repartition (not coalesce): coalesce skips the exchange but
            # chains upstream partitioning into the write and can leave
            # skewed file sizes; compaction is IO-bound anyway
            out = df.repartition(n_out)
            if args.sort_by:
                out = out.sortWithinPartitions(args.sort_by)
            out.write.mode("overwrite").parquet(args.output)
            n_files_out, _ = fsutil.parquet_sizes(spark, args.output)
            print(json.dumps({
                "files_in": n_files_in,
                "bytes_in": total_bytes,
                "files_out": n_files_out,
                "target_mb": args.target_mb,
            }))
            return 0
        if args.cmd == "stream-validate":
            from .streaming.validate_stream import run_streaming_validation

            batches: list[dict] = []

            def on_batch(batch_df, batch_id):
                if batch_df.isEmpty():
                    return
                report = validate_corpus(
                    batch_df,
                    allowed_sources_df(spark),
                    ValidationConfig(),
                )
                (
                    # foreachBatch is at-least-once: a replayed batch must
                    # overwrite ITS OWN partition, not append a duplicate
                    report.verdicts.withColumn(
                        "batch_id", F.lit(batch_id)
                    )
                    .write.mode("overwrite")
                    .option("partitionOverwriteMode", "dynamic")
                    .partitionBy("batch_id")
                    .parquet(args.output)
                )
                report.release()  # per-batch caches, else they leak
                batches.append({
                    "batch": batch_id,
                    "sources": len(report.rows),
                    "all_passed": all(r["passed"] for r in report.rows),
                })

            q = run_streaming_validation(
                spark, args.input, args.checkpoint, on_batch=on_batch
            )
            q.awaitTermination()
            print(json.dumps({"batches": batches}))
            return 0
        if args.cmd == "validate":
            corpus = spark.read.parquet(args.input)
            if getattr(args, "packs", False):
                # adapt the curate pack table to the validate contract:
                # padding is stripped (slice to the pre-pad n_tokens) so
                # the n_tok-consistency check sees the real content, and
                # the split becomes the source so the drift check
                # compares train vs val vs test token distributions —
                # a hash split should show NO drift; drift here means
                # the split is biased
                src = (
                    F.col("split")
                    if "split" in corpus.columns
                    else F.lit("packs")
                )
                corpus = corpus.select(
                    F.col("pack_id").cast("string").alias("doc_id"),
                    F.slice(
                        F.col("tokens"), F.lit(1), F.col("n_tokens")
                    ).alias("tokens"),
                    F.col("n_tokens").cast("int").alias("n_tok"),
                    src.alias("source"),
                )
            if args.allowed:
                allowed = spark.read.parquet(args.allowed)
            elif getattr(args, "packs", False):
                # default allowed dim for packs = the splits present
                # (documented: self-derived, pass --allowed to constrain)
                allowed = corpus.select("source").distinct()
            else:
                allowed = allowed_sources_df(spark)
            vocab_size = args.vocab_size
            if vocab_size is None:
                # the tokenize job records the EXACT id bound with the
                # table it wrote — prefer it over the generic default so
                # the token-range check is tight by default
                sidecar = args.input.rstrip("/") + "/_tokenizer.json"
                sidecar_text = fsutil.read_text(spark, sidecar)
                if sidecar_text is not None:
                    vocab_size = int(json.loads(sidecar_text)["vocab_size"])
                else:
                    vocab_size = 50257
                    # on a glob input the sidecar probe can't resolve a
                    # single directory, and the loose default silently
                    # weakens the token-range check, so say so
                    print(
                        f"validate: no {sidecar} found — using the "
                        f"generic vocab_size={vocab_size}; pass "
                        "--vocab-size for a tight token-range bound",
                        file=sys.stderr,
                    )

            t0 = time.perf_counter()
            result = run_validation(
                spark,
                corpus,
                allowed,
                args.output,
                cfg=ValidationConfig(
                    max_seq_len=args.max_seq_len,
                    min_seq_len=args.min_seq_len,
                    vocab_size=vocab_size,
                ),
                resume=not args.no_resume,
            )
            # in-job wall (post-session, scan->verdicts->writes): the
            # N-vs-4N criterion runner (tools_scale_gated.py) divides
            # rows by THIS — JVM/session startup is a per-run constant that
            # amortizes to nil at the north rule's 10^12-sequence scale,
            # so including it would understate large-N efficiency on
            # short calibration corpora
            result = {**result, "wall_s": round(time.perf_counter() - t0, 1)}
            print(json.dumps({k: v for k, v in result.items() if k != "partitions"}))
            return 0 if result["all_passed"] else 1
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
