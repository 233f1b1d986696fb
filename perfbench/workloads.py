"""The benchmark's four workloads.

Each workload is a closed loop run by one client: ``op`` is one call into a
public entry point of ``polars_genson_spark`` and the next op starts only
after the previous one returned and was checked. Inputs are generated from
the run's seed; expected values come from somewhere other than the code
under test (DuckDB SQL, a from-scratch validation, the generators' closed
forms) and are computed outside ``setup`` so ``setup_s`` times only the
input build.

Layer map (which workload loads which module):

- ``validate_fresh``: operators.verdicts, operators.stats, operators.checks.
  Bypasses checkpoint, jobs, infer, normalise_op and the curate stack.
- ``validate_resume``: jobs.run_validation, checkpoint, fsutil plus the same
  verdicts/stats/checks stack on the changed source. Bypasses infer,
  normalise_op and the curate stack.
- ``json_schema``: operators.infer, operators.normalise_op, functions.*
  (Python workers). Bypasses every validation and curate module.
- ``curate_docs``: pipeline, operators.dedup, similarity, decontaminate,
  text, sample. Bypasses validation, checkpoint and infer/normalise.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import polars_genson_spark.checkpoint as ckpt
import polars_genson_spark.fsutil as fsutil
import polars_genson_spark.jobs as jobs
from polars_genson_spark.config import ValidationConfig
from polars_genson_spark.operators import checks, stats
from polars_genson_spark.operators.verdicts import finalise_summary, validate_corpus
from polars_genson_spark.sources import corpus as corpus_src


@dataclass(frozen=True)
class Sizes:
    corpus_rows: int        # validate_fresh / validate_resume corpus
    json_distinct: int      # json_schema: all-distinct docs
    json_unique: int        # json_schema: distinct docs in the repeated column
    json_copies: int        # json_schema: copies of each repeated doc
    docs: int               # curate_docs corpus
    vectors: int            # curate_docs embedded prefix


FULL = Sizes(
    corpus_rows=40_000, json_distinct=20_000, json_unique=200,
    json_copies=100, docs=1_000, vectors=200,
)
SMOKE = Sizes(
    corpus_rows=2_000, json_distinct=1_000, json_unique=20,
    json_copies=50, docs=500, vectors=200,
)


class WrongOutput(Exception):
    """An op returned, but its output disagrees with the expected values."""


def expect(ok: bool, what: str) -> None:
    if not ok:
        raise WrongOutput(what)


def unpersist_checkpointed(df: DataFrame) -> None:
    """Release the RDD behind a ``localCheckpoint``ed frame (a plain
    ``unpersist`` only drops cache-manager entries, which it has none of)."""
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(True)


class Workload:
    """One job shape. Subclasses fill in the hooks; the harness times
    ``setup`` and ``op`` only."""

    name = ""
    # job shapes a traced run of this workload also runs briefly, so the
    # layers this workload bypasses are measured too
    probes: tuple[type["Workload"], ...] = ()
    # warm ops after the cold one whose median is op_s_p50, and the warm
    # ops a probe runs
    warm_ops = 3
    probe_warm_ops = 1

    def __init__(self, spark: SparkSession, seed: int, sizes: Sizes,
                 workdir: str, tracer) -> None:
        self.spark = spark
        self.seed = seed
        self.sizes = sizes
        self.workdir = workdir
        self.tracer = tracer
        self.rows_per_op = 0

    def setup(self) -> None:
        """Build the inputs (timed; called several times per run)."""

    def reset(self) -> None:
        """Drop what ``setup`` built before it runs again."""

    def prepare_expected(self) -> None:
        """Compute the expected outputs (untimed)."""

    def plant_wrong_expected(self) -> None:
        """Corrupt one expected value, so every op must fail its check."""
        raise NotImplementedError

    def before_op(self, i: int) -> None:
        """Untimed preparation of op ``i``."""

    def op(self, i: int) -> Any:
        raise NotImplementedError

    def check(self, i: int, result: Any) -> None:
        """Raise ``WrongOutput`` if ``result`` is wrong."""

    def release(self, result: Any) -> None:
        """Release every cache the harness owns after an op."""

    def isolated_layers(self) -> dict[str, float]:
        """Traced runs only: time single layer calls on the same inputs."""
        return {}

    def op_layers(self, result: Any, spark_metrics: dict[str, float]) -> dict[str, float]:
        """Traced runs only: layer metrics of one warm op that no span
        gives (span totals are collected by the harness)."""
        return {}


def timed(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


# --------------------------------------------------------------------------
# validate_fresh
# --------------------------------------------------------------------------

VERDICT_FIELDS = (
    "n_rows", "null_doc_id", "null_tokens", "null_n_tok", "min_n_tok",
    "max_n_tok", "consistency_violations", "referential_violations",
    "duplicate_rows", "drifted", "passed",
)

ORACLE_SQL = """
WITH c AS (SELECT * FROM read_parquet('{path}/*.parquet')),
dups AS (SELECT doc_id FROM c GROUP BY doc_id HAVING count(*) > 1)
SELECT source,
       count(*) AS n_rows,
       count(*) FILTER (WHERE doc_id IS NULL) AS null_doc_id,
       count(*) FILTER (WHERE tokens IS NULL) AS null_tokens,
       count(*) FILTER (WHERE n_tok IS NULL) AS null_n_tok,
       min(n_tok) AS min_n_tok,
       max(n_tok) AS max_n_tok,
       count(*) FILTER (WHERE doc_id IS NULL OR tokens IS NULL
           OR n_tok IS NULL OR n_tok <> len(tokens)
           OR len(list_filter(tokens, t -> t < 0 OR t >= {vocab})) > 0)
           AS consistency_violations,
       count(*) FILTER (WHERE source IS NULL
           OR source NOT IN ({allowed})) AS referential_violations,
       count(*) FILTER (WHERE doc_id IN (SELECT doc_id FROM dups))
           AS duplicate_rows
FROM c GROUP BY source
"""


def duckdb_verdicts(path: str, cfg: ValidationConfig) -> dict[str, dict]:
    """Per-source verdict counts over the parquet rows at ``path``, by
    DuckDB SQL. Drift comes from the generator: only ``DRIFTED_SOURCE``
    has shifted token ids (KS ≥ 0.15 is out of reach for the others)."""
    import duckdb

    allowed = ", ".join(f"'{s}'" for s in corpus_src.ALLOWED_SOURCES)
    con = duckdb.connect()
    try:
        rows = con.execute(
            ORACLE_SQL.format(path=path, vocab=cfg.vocab_size, allowed=allowed)
        ).fetchall()
        cols = [d[0] for d in con.description]
    finally:
        con.close()
    out = {}
    for r in rows:
        d = dict(zip(cols, r))
        d["drifted"] = d["source"] == corpus_src.DRIFTED_SOURCE
        d["passed"] = (
            d["null_doc_id"] == 0 and d["consistency_violations"] == 0
            and d["referential_violations"] == 0 and d["duplicate_rows"] == 0
            and not d["drifted"]
        )
        out[d["source"]] = {k: d[k] for k in VERDICT_FIELDS}
    return out


class ValidateFresh(Workload):
    """The BASELINE headline: validate a persisted corpus from scratch."""

    name = "validate_fresh"

    def __init__(self, *a, **kw) -> None:
        super().__init__(*a, **kw)
        self.cfg = ValidationConfig()
        self.rows_per_op = self.sizes.corpus_rows
        self.df: DataFrame | None = None

    def setup(self) -> None:
        self.df = corpus_src.generate_corpus(
            self.spark, self.sizes.corpus_rows, seed=self.seed
        ).persist()
        self.df.count()
        self.allowed = corpus_src.allowed_sources_df(self.spark).persist()
        self.allowed.count()

    def reset(self) -> None:
        self.df.unpersist(blocking=True)
        self.allowed.unpersist(blocking=True)

    def prepare_expected(self) -> None:
        path = os.path.join(self.workdir, "oracle_corpus")
        self.df.write.mode("overwrite").parquet(path)
        self.expected = duckdb_verdicts(path, self.cfg)
        self.expected_violations = sum(
            v["consistency_violations"] + v["referential_violations"]
            + v["duplicate_rows"] for v in self.expected.values()
        )
        self.first_drift = None

    def plant_wrong_expected(self) -> None:
        self.expected[corpus_src.HEAVY_SOURCE]["n_rows"] += 1

    def op(self, i: int):
        tr = self.tracer
        with tr.span("verdicts.validate_corpus"):
            report = validate_corpus(self.df, self.allowed, self.cfg)
        with tr.span("verdicts.finalise_summary"):
            summary = finalise_summary(report)
        with tr.span("violations.count"):
            n_viol = report.violations.count()
        return report, summary, n_viol

    def check(self, i: int, result) -> None:
        report, summary, n_viol = result
        got = {
            s: {k: row[k] for k in VERDICT_FIELDS}
            for s, row in summary["per_partition"].items()
        }
        expect(got == self.expected, f"verdicts differ from DuckDB: {diff(got, self.expected)}")
        expect(n_viol == self.expected_violations,
               f"violation rows {n_viol} != {self.expected_violations}")
        if self.first_drift is None:
            self.first_drift = report.drift
        expect(report.drift == self.first_drift, "drift values changed between ops")

    def release(self, result) -> None:
        report = result[0]
        report.unpersist_input()
        report.verdicts.unpersist()
        report.violations.unpersist()

    def isolated_layers(self) -> dict[str, float]:
        out = validation_layers(self, self.df, with_checks=True)
        passes = sum(v for k, v in out.items() if k in OVERLAPPED_PASSES)
        suite = median(self.tracer.op_seconds("verdicts.validate_corpus"))
        out["verdicts.overlap_ratio"] = passes / suite if suite else 0.0
        return out


# the isolated equivalents of the passes validate_corpus overlaps
OVERLAPPED_PASSES = (
    "stats.token_id_histogram_s", "stats.column_stats_s",
    "checks.consistency_violations_s", "checks.duplicate_rows_s",
    "checks.referential_violations_s",
)


def validation_layers(wl: Workload, df: DataFrame, with_checks: bool) -> dict[str, float]:
    """The validation suite's passes, each run alone on ``df``."""
    cfg, allowed = wl.cfg, wl.allowed
    out = {}
    hist = []
    out["stats.token_id_histogram_s"] = timed(
        lambda: hist.extend(stats.token_id_histogram(df, cfg).collect())
    )
    out["stats.token_id_histogram_arrow_s"] = timed(
        lambda: stats.token_id_histogram(df, cfg, use_arrow=True).collect()
    )
    out["stats.column_stats_s"] = timed(
        lambda: stats.column_stats(df, cfg).collect()
    )
    if not with_checks:
        return out
    out["checks.consistency_violations_s"] = timed(
        lambda: checks.consistency_violations(df, cfg).count()
    )
    out["checks.duplicate_rows_s"] = timed(
        lambda: checks.duplicate_rows(df, cfg).count()
    )
    out["checks.referential_violations_s"] = timed(
        lambda: checks.referential_violations(df, allowed, cfg).count()
    )
    rows = [r.asDict() for r in hist]
    out["checks.drift_from_histogram_s"] = timed(
        lambda: checks.drift_from_histogram(rows, cfg)
    )
    return out


def diff(got: dict, want: dict) -> str:
    keys = sorted(set(got) | set(want), key=str)
    bad = [k for k in keys if got.get(k) != want.get(k)]
    k = bad[0] if bad else None
    return f"{len(bad)} partitions, first {k!r}: got {got.get(k)} want {want.get(k)}"


# --------------------------------------------------------------------------
# validate_resume
# --------------------------------------------------------------------------

CHANGED_SOURCE = "books"


class ValidateResume(Workload):
    """Re-validate a partitioned corpus after one source changed.

    The ``books`` partition alternates between two seeded variants (the
    swap is a file copy outside the timed window); each op is one
    ``run_validation(resume=True)`` with output writes."""

    name = "validate_resume"

    def __init__(self, *a, **kw) -> None:
        super().__init__(*a, **kw)
        self.cfg = ValidationConfig()
        self.rows_per_op = self.sizes.corpus_rows
        self.root = os.path.join(self.workdir, "resume")
        self.corpus_dir = os.path.join(self.root, "corpus")
        self.part_dir = os.path.join(self.corpus_dir, f"source={CHANGED_SOURCE}")
        self.run_dir = os.path.join(self.root, "run")
        self.variants = {v: os.path.join(self.root, f"books_{v}") for v in "AB"}
        self.state = "A"
        t = self.tracer
        t.wrap(ckpt, "partition_fingerprints", "checkpoint.partition_fingerprints")
        t.wrap(ckpt, "load_manifest", "checkpoint.manifest_io")
        t.wrap(ckpt, "save_manifest", "checkpoint.manifest_io")
        t.wrap(jobs, "validate_corpus", "verdicts.validate_corpus")
        t.wrap(jobs, "finalise_summary", "verdicts.finalise_summary")
        t.wrap(fsutil, "delete_dir", "jobs.outputs_write")
        t.wrap(fsutil, "delete_partition_dirs", "jobs.outputs_write")
        from pyspark.sql.readwriter import DataFrameWriter
        t.wrap(DataFrameWriter, "parquet", "jobs.outputs_write")

    def setup(self) -> None:
        spark, seed = self.spark, self.seed
        corpus_src.write_corpus(spark, self.corpus_dir, self.sizes.corpus_rows, seed)
        shutil.copytree(self.part_dir, self.variants["A"])
        # variant B: same doc_ids (so no cross-source duplicates appear),
        # token ids shifted by one, and a seeded sprinkle of n_tok
        # mismatches so the books verdict differs between the variants
        books = spark.read.parquet(self.variants["A"])
        bump = F.abs(F.xxhash64("doc_id", F.lit(seed))) % 200 == 0
        books.select(
            "doc_id",
            F.transform("tokens", lambda t: (t + 1) % self.cfg.vocab_size).alias("tokens"),
            F.when(bump, F.col("n_tok") + 1).otherwise(F.col("n_tok")).alias("n_tok"),
        ).write.parquet(self.variants["B"])
        self.allowed = corpus_src.allowed_sources_df(self.spark).persist()
        self.allowed.count()
        self.state = "A"
        jobs.run_validation(spark, self._corpus(), self.allowed, self.run_dir,
                            self.cfg, resume=True)

    def reset(self) -> None:
        self.allowed.unpersist(blocking=True)
        shutil.rmtree(self.root)

    def _corpus(self) -> DataFrame:
        return self.spark.read.parquet(self.corpus_dir)

    def _swap(self, variant: str) -> None:
        shutil.rmtree(self.part_dir)
        shutil.copytree(self.variants[variant], self.part_dir)
        self.state = variant
        # Files changed under a path this session has read: Spark requires
        # a refresh. Without it the verdicts/violations frames an earlier
        # run_validation left persisted are served from the cache manager
        # for the new files, and the books verdict is the other variant's.
        self.spark.catalog.refreshByPath(self.corpus_dir)

    def _from_scratch(self) -> dict:
        ref_dir = os.path.join(self.root, f"ref_{self.state}")
        res = jobs.run_validation(self.spark, self._corpus(), self.allowed,
                                  ref_dir, self.cfg, resume=False,
                                  write_outputs=False)
        return json.loads(json.dumps(res["partitions"], default=str))

    def prepare_expected(self) -> None:
        self.expected = {"A": self._from_scratch()}
        self._swap("B")
        self.expected["B"] = self._from_scratch()
        self._swap("A")
        self.books_rows = self.expected["A"][CHANGED_SOURCE]["n_rows"]
        expect(self.expected["A"] != self.expected["B"],
               "the two books variants must validate differently")

    def plant_wrong_expected(self) -> None:
        for exp in self.expected.values():
            exp[CHANGED_SOURCE]["n_rows"] += 1

    def before_op(self, i: int) -> None:
        self._swap("B" if self.state == "A" else "A")

    def op(self, i: int):
        res = jobs.run_validation(self.spark, self._corpus(), self.allowed,
                                  self.run_dir, self.cfg, resume=True)
        return self.state, res

    def check(self, i: int, result) -> None:
        state, res = result
        expect(res["validated"] == [CHANGED_SOURCE],
               f"revalidated {res['validated']}, expected only {CHANGED_SOURCE}")
        got = json.loads(json.dumps(res["partitions"], default=str))
        want = self.expected[state]
        # A skipped source keeps the drift statistics of the run that
        # last validated it, although "the rest" it was compared with
        # now holds the other books variant; its counts and pass/fail
        # verdict must still match the from-scratch run exactly.
        got, want = without_stale_drift(got), without_stale_drift(want)
        expect(got == want, f"resume verdicts differ from scratch: {diff(got, want)}")

    def op_layers(self, result, spark_metrics):
        return {
            "resume.rows_read_per_row_revalidated":
                spark_metrics["spark.input_records"] / self.books_rows,
            "resume.revalidated_sources": float(len(result[1]["validated"])),
        }


DRIFT_STATISTICS = ("chi2", "ks", "psi_rest")


def without_stale_drift(parts: dict[str, dict]) -> dict[str, dict]:
    return {
        src: {k: v for k, v in row.items()
              if src == CHANGED_SOURCE or k not in DRIFT_STATISTICS}
        for src, row in parts.items()
    }


# --------------------------------------------------------------------------
# json_schema
# --------------------------------------------------------------------------

JSON_PARTITIONS = 8  # normalise's distinct-cell route needs >= 8 partitions

EXPECTED_SCHEMA = {
    "$schema": "http://json-schema.org/schema#",
    "type": "object",
    "properties": {
        "id": {"type": "integer"},
        "name": {"type": "string"},
        "score": {"type": "number"},
        "active": {"type": "boolean"},
        "tags": {"type": "array", "items": {"type": "string"}},
        "meta": {
            "type": "object",
            "properties": {"a": {"type": "integer"}, "b": {"type": "string"}},
            "required": ["a", "b"],
        },
    },
    "required": ["active", "id", "meta", "name", "score", "tags"],
}


def json_docs(spark: SparkSession, n_rows: int, n_unique: int, seed: int) -> DataFrame:
    """``doc`` strings whose content depends on ``id % n_unique`` only, so
    ``n_unique == n_rows`` gives all-distinct docs. Every doc has every
    field of ``EXPECTED_SCHEMA``; ``score`` is never integral."""
    key = F.col("id") % F.lit(n_unique)
    h = lambda tag: F.abs(F.xxhash64(key, F.lit(tag), F.lit(seed)))  # noqa: E731
    doc = F.to_json(F.struct(
        key.alias("id"),
        F.concat(F.lit("user-"), (h("name") % 5000).cast("string")).alias("name"),
        ((h("score") % 100_000) / 100.0 + 0.25).alias("score"),
        (h("active") % 2 == 0).alias("active"),
        F.transform(
            F.sequence(F.lit(1), (h("ntags") % 4 + 1).cast("int")),
            lambda j: F.concat(F.lit("tag"), ((h("tag") + j) % 50).cast("string")),
        ).alias("tags"),
        F.struct(
            (h("a") % 1000).cast("int").alias("a"),
            F.concat(F.lit("b"), (h("b") % 7).cast("string")).alias("b"),
        ).alias("meta"),
    ))
    return spark.range(0, n_rows, 1, JSON_PARTITIONS).select(doc.alias("doc"))


class JsonSchema(Workload):
    """The paper's own computation on the Python-worker layer: infer a
    JSON column's schema, then normalise and decode it, on an all-distinct
    column and on a 100×-repeated one."""

    name = "json_schema"

    def __init__(self, *a, **kw) -> None:
        super().__init__(*a, **kw)
        s = self.sizes
        self.columns = {
            "distinct": (s.json_distinct, s.json_distinct),
            "repeated": (s.json_unique * s.json_copies, s.json_unique),
        }
        self.rows_per_op = sum(n for n, _ in self.columns.values())

    def setup(self) -> None:
        self.frames = {}
        for label, (n, uniq) in self.columns.items():
            df = json_docs(self.spark, n, uniq, self.seed).persist()
            df.count()
            self.frames[label] = df

    def reset(self) -> None:
        for df in self.frames.values():
            df.unpersist(blocking=True)

    def prepare_expected(self) -> None:
        # decode reproduces the documents, so the id total has a closed form
        self.expected = {}
        for label, (n, uniq) in self.columns.items():
            copies, rest = divmod(n, uniq)
            id_sum = copies * uniq * (uniq - 1) // 2 + rest * (rest - 1) // 2
            self.expected[label] = {"schema": EXPECTED_SCHEMA, "rows": n,
                                    "id_sum": id_sum}
        self.checksums = {}

    def plant_wrong_expected(self) -> None:
        self.expected["distinct"]["rows"] += 1

    def op(self, i: int):
        from polars_genson_spark.operators.infer import infer_json_schema
        from polars_genson_spark.operators.normalise_op import normalise_json

        out = {}
        for label, df in self.frames.items():
            with self.tracer.span(f"infer.{label}"):
                schema = infer_json_schema(df, "doc").schema
            with self.tracer.span(f"normalise.{label}"):
                norm = normalise_json(df, "doc", decode=True)
                row = norm.agg(
                    F.count(F.lit(1)).alias("rows"),
                    F.sum("id").alias("id_sum"),
                    F.sum(F.xxhash64(*norm.columns)).alias("checksum"),
                ).first()
            out[label] = {"schema": schema, **row.asDict()}
        return out

    def check(self, i: int, result) -> None:
        for label, got in result.items():
            want = self.expected[label]
            expect(got["schema"] == want["schema"],
                   f"{label}: inferred schema {got['schema']} != generator schema")
            expect(got["rows"] == want["rows"],
                   f"{label}: {got['rows']} normalised rows != {want['rows']}")
            expect(got["id_sum"] == want["id_sum"],
                   f"{label}: id total {got['id_sum']} != {want['id_sum']}")
            first = self.checksums.setdefault(label, got["checksum"])
            expect(got["checksum"] == first, f"{label}: checksum changed between ops")


# --------------------------------------------------------------------------
# curate_docs
# --------------------------------------------------------------------------

EMB_DIM = 16
EMB_GROUP = 4
CURATE_STAGES = (
    "input", "exact_dedup", "near_dedup", "semantic_dedup",
    "semantic_decontaminated", "decontaminated", "quality", "chunks",
)


class CurateDocs(Workload):
    """The curation pipeline over the planted-structure documents corpus,
    with an embedded prefix so the semantic stages run too."""

    name = "curate_docs"

    def __init__(self, *a, **kw) -> None:
        super().__init__(*a, **kw)
        from polars_genson_spark.pipeline import CurateConfig
        from polars_genson_spark.sources.scale_docs import ScaleLayout

        n = self.sizes.docs
        self.layout = ScaleLayout(
            n_rows=n, hot_docs=max(40, n // 50), near_clusters=n // 50,
            cluster_size=3, exact_groups=n // 40, junk_docs=n // 100,
        )
        # embedding groups sit inside the hot region, which survives both
        # lexical dedup stages (the hot-bucket cap drops its candidates),
        # so each group's representative reaches semantic decontamination
        self.n_groups = min(self.sizes.vectors // (EMB_GROUP * 5),
                            self.layout.hot_docs // EMB_GROUP)
        self.n_bench_emb = max(1, self.n_groups // 4)
        self.n_bench = max(1, n // 20)
        self.cfg = CurateConfig(
            minhash_bucket_max=16, embedding_dim=EMB_DIM,
            semantic_clusters=4, chunk_size=64,
        )
        self.rows_per_op = n

    def setup(self) -> None:
        from polars_genson_spark.sources import scale_docs as sd

        spark, seed = self.spark, self.seed
        self.frames = {
            "docs": sd.generate_documents(spark, self.sizes.docs, seed, layout=self.layout),
            "bench": sd.generate_benchmark(spark, self.layout, n_bench=self.n_bench, seed=seed),
            "emb": sd.generate_doc_embeddings(
                spark, self.sizes.vectors, dim=EMB_DIM, group_size=EMB_GROUP,
                n_groups=self.n_groups, seed=seed),
            "bench_emb": sd.generate_benchmark_embeddings(
                spark, n_bench=self.n_bench_emb, dim=EMB_DIM, seed=seed),
        }
        for k, df in self.frames.items():
            self.frames[k] = df.persist()
            self.frames[k].count()

    def reset(self) -> None:
        for df in self.frames.values():
            df.unpersist(blocking=True)

    def prepare_expected(self) -> None:
        lay = self.layout
        self.expected = {
            "input": lay.n_rows,
            "exact_dedup": lay.n_rows - lay.exact_losers,
            "near_losers": lay.near_losers,
            "semantic_max": self.n_groups * (EMB_GROUP - 1),
            "semantic_decontaminated": self.n_bench_emb,
            "decontaminated": self.n_bench,
            "quality": lay.junk_docs,
        }
        self.first_counts = None

    def plant_wrong_expected(self) -> None:
        self.expected["quality"] += 1

    def op(self, i: int):
        from polars_genson_spark.pipeline import curate

        f = self.frames
        res = curate(f["docs"], benchmark=f["bench"], cfg=self.cfg,
                     embeddings=f["emb"], benchmark_embeddings=f["bench_emb"])
        n_chunks = res.chunks.count()
        return res, n_chunks

    def check(self, i: int, result) -> None:
        res, n_chunks = result
        sc, want = res.stage_counts, self.expected
        expect(list(sc) == list(CURATE_STAGES), f"stages {list(sc)}")
        expect(sc["input"] == want["input"], f"input {sc['input']}")
        expect(sc["exact_dedup"] == want["exact_dedup"],
               f"exact_dedup {sc['exact_dedup']} != {want['exact_dedup']}")
        expect(sc["exact_dedup"] - sc["near_dedup"] == want["near_losers"],
               f"near-dup losers {sc['exact_dedup'] - sc['near_dedup']}")
        sem = sc["near_dedup"] - sc["semantic_dedup"]
        expect(0 < sem <= want["semantic_max"], f"semantic dedup dropped {sem}")
        for stage, prev in (("semantic_decontaminated", "semantic_dedup"),
                            ("decontaminated", "semantic_decontaminated"),
                            ("quality", "decontaminated")):
            expect(sc[prev] - sc[stage] == want[stage],
                   f"{stage} dropped {sc[prev] - sc[stage]}, expected {want[stage]}")
        expect(n_chunks == sc["chunks"] and n_chunks >= sc["quality"],
               f"{n_chunks} chunks")
        if self.first_counts is None:
            self.first_counts = dict(sc)
        expect(sc == self.first_counts, "stage counts changed between ops")

    def release(self, result) -> None:
        unpersist_checkpointed(result[0].chunks)

    def op_layers(self, result, spark_metrics):
        return {f"curate.{s}_s": t for s, t in result[0].stage_seconds.items()}

    def isolated_layers(self) -> dict[str, float]:
        from polars_genson_spark.operators import dedup, similarity
        from polars_genson_spark.operators.decontaminate import contaminated_docs

        f, cfg = self.frames, self.cfg
        docs = f["docs"]
        out = {}
        cand = []
        out["dedup.minhash_candidates_s"] = timed(lambda: cand.extend(
            dedup.minhash_candidates(
                docs, id_col="doc_id", text_col="text", shingle_n=cfg.shingle_n,
                num_perm=cfg.minhash_num_perm, bands=cfg.minhash_bands,
                min_jaccard=cfg.min_jaccard, bucket_max=cfg.minhash_bucket_max,
            ).select("id_a", "id_b").collect()))
        ids = {r["id_a"] for r in cand} | {r["id_b"] for r in cand}
        cand_docs = docs.where(F.col("doc_id").isin(sorted(ids))) if ids else docs.limit(0)
        verified = dedup.ngram_jaccard_pairs(
            cand_docs, id_col="doc_id", text_col="text", n=cfg.shingle_n,
            min_jaccard=cfg.min_jaccard, df_max=cfg.jaccard_df_max,
        ).localCheckpoint(eager=True)
        out["dedup.near_dup_clusters_s"] = timed(
            lambda: dedup.near_dup_clusters(verified, method=cfg.cluster_method).count())
        unpersist_checkpointed(verified)
        out["similarity.semantic_dedup_s"] = timed(lambda: similarity.semantic_dedup(
            f["emb"], dim=EMB_DIM, n_clusters=cfg.semantic_clusters,
            threshold=cfg.semantic_threshold, id_col="vec_id",
            return_discards=True).count())
        out["similarity.semantic_decontaminate_s"] = timed(
            lambda: similarity.semantic_decontaminate(
                f["emb"], f["bench_emb"], dim=EMB_DIM,
                threshold=cfg.semantic_threshold, id_col="vec_id").count())
        out["decontaminate.contaminated_docs_s"] = timed(lambda: contaminated_docs(
            docs, f["bench"], id_col="doc_id", text_col="text", n=cfg.shingle_n,
            min_shared=cfg.decontaminate_min_shared).count())
        return out


ValidateFresh.probes = (ValidateResume,)
ValidateFresh.warm_ops = 5
JsonSchema.probes = (CurateDocs,)
ValidateResume.probe_warm_ops = 2

WORKLOADS = {w.name: w for w in (ValidateFresh, ValidateResume, JsonSchema, CurateDocs)}


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
