"""Deterministic synthetic pre-tokenized corpus (FIXTURES.md F0).

Schema (BASELINE.json input_hint):
    doc_id string, tokens array<int>, n_tok int, source string

Generated entirely JVM-side from ``spark.range`` — no Python in the data
path, fully deterministic given (n_rows, seed), scale-independent: the same
expressions generate 10^4 rows for CI or 10^9+ rows on a cluster, and
generation parallelises across ``spark.range`` partitions.

Planted violations (rates per F0):
- duplicate doc_id            (~1e-4): uniqueness violations
- n_tok != size(tokens)       (~1e-4): consistency violations
- null n_tok                  (~1e-5)
- source = "UNKNOWN"          (absent from the allowed-sources dim)
- one drifted source ("code"): token ids shifted into the upper half of the
  vocab so KS/chi² flags exactly this source
- skew: source "web-01" absorbs ~50% of rows
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_frame

SOURCES = (
    [f"web-{i:02d}" for i in range(1, 16)]
    + ["books", "code", "wiki", "forum"]
)
ALLOWED_SOURCES = list(SOURCES)  # UNKNOWN is deliberately NOT allowed
DRIFTED_SOURCE = "code"
HEAVY_SOURCE = "web-01"

DUP_RATE = 10_000       # 1 in N rows duplicates a neighbour's doc_id
MISMATCH_RATE = 10_000  # 1 in N rows has n_tok != size(tokens)
NULL_RATE = 100_000     # 1 in N rows has null n_tok
UNKNOWN_RATE = 5_000    # 1 in N rows has source UNKNOWN
MAX_TOKENS = 512        # cap length for test-scale data volume


def generate_corpus(
    spark: SparkSession,
    n_rows: int,
    seed: int = 42,
    vocab_size: int = 50_257,
    partitions: int | None = None,
) -> DataFrame:
    """Build the synthetic corpus DataFrame (not yet written anywhere)."""
    if partitions is None:
        partitions = max(4, spark.sparkContext.defaultParallelism)
    df = spark.range(0, n_rows, 1, partitions)

    h = lambda *cols: F.abs(F.xxhash64(*cols, F.lit(seed)))  # noqa: E731

    # --- source: skewed categorical; UNKNOWN planted; one drifted source ---
    pick = h(F.col("id"), F.lit("src")) % F.lit(100)
    src = (
        F.when(h(F.col("id"), F.lit("unk")) % UNKNOWN_RATE == 0, F.lit("UNKNOWN"))
        .when(pick < 50, F.lit(HEAVY_SOURCE))  # 50% skew
        .otherwise(
            F.element_at(
                F.array(*[F.lit(s) for s in SOURCES]),
                (pick % F.lit(len(SOURCES))).cast("int") + 1,
            )
        )
    )
    df = df.withColumn("source", src)

    # --- n_tok: Zipf-ish in [1, MAX_TOKENS]; per-source shifted mean ---
    u = (h(F.col("id"), F.lit("len")) % 1_000_000) / 1_000_000.0
    # floor(u^3 * MAX) + 1 with u < 1 spans [1, MAX_TOKENS] INCLUSIVE —
    # multiplying by (MAX-1) (the old form) topped out at MAX-1, so the
    # documented max-length boundary value never appeared in the fixture
    # and an off-by-one in a downstream <=/< length check could pass CI
    zipfish = (F.pow(u, F.lit(3.0)) * F.lit(MAX_TOKENS)).cast("int") + 1
    df = df.withColumn("true_len", zipfish)

    # --- tokens: deterministic per (id, position); drifted source shifts ---
    half = vocab_size // 2
    tok = lambda j: F.abs(F.xxhash64(F.col("id"), j, F.lit(seed))) % F.lit(  # noqa: E731
        vocab_size
    )
    base_tokens = F.transform(
        F.sequence(F.lit(1), F.col("true_len")), lambda j: tok(j).cast("int")
    )
    drift_tokens = F.transform(
        F.sequence(F.lit(1), F.col("true_len")),
        lambda j: ((tok(j) % F.lit(half)) + F.lit(half)).cast("int"),
    )
    df = df.withColumn(
        "tokens",
        F.when(F.col("source") == DRIFTED_SOURCE, drift_tokens).otherwise(
            base_tokens
        ),
    )

    # --- n_tok: equals size(tokens) except planted mismatches / nulls ---
    n_tok = (
        F.when(h(F.col("id"), F.lit("null")) % NULL_RATE == 0, F.lit(None))
        .when(
            h(F.col("id"), F.lit("mm")) % MISMATCH_RATE == 0,
            F.col("true_len") + 1,
        )
        .otherwise(F.col("true_len"))
    )
    df = df.withColumn("n_tok", n_tok.cast("int"))

    # --- doc_id: source-prefixed sequence; planted duplicates ---
    dup = (h(F.col("id"), F.lit("dup")) % DUP_RATE == 0) & (F.col("id") >= 1000)
    seq = F.when(dup, F.col("id") - 1000).otherwise(F.col("id"))
    df = df.withColumn(
        "doc_id", F.format_string("doc-%09d", seq)
    )

    return df.select("doc_id", "tokens", "n_tok", "source")


def allowed_sources_df(spark: SparkSession) -> DataFrame:
    return local_frame(spark, [(s,) for s in ALLOWED_SOURCES], "source string")


def write_corpus(
    spark: SparkSession,
    path: str,
    n_rows: int,
    seed: int = 42,
    partition_by_source: bool = True,
) -> None:
    """Materialise the corpus as parquet, partitioned by source (the
    parquet stand-in for an Iceberg identity-partitioned table; SURVEY.md
    §7.3 item 6 — ``sources/catalog.py`` holds the real Iceberg
    branch/snapshot code path behind a capability probe)."""
    df = generate_corpus(spark, n_rows, seed)
    writer = df.write.mode("overwrite")
    if partition_by_source:
        writer = writer.partitionBy("source")
    writer.parquet(path)
