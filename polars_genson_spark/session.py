"""SparkSession factory with engine defaults (AQE, Arrow, sane shuffle),
plus the frame helpers operators share: driver rows as a JVM
``LocalRelation``, a scan-parallelism floor, and cache ownership."""

from __future__ import annotations

import os
from collections.abc import Iterator, Sequence
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def get_spark(
    app_name: str = "polars-genson-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = int(master.split("[")[1].rstrip("]*")) if "[" in master else 32
        except ValueError:
            shuffle_partitions = 32
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Joins (optimization guide §3.1/§9): allow shuffled-hash when a
        # side fits per-partition (sort-merge's sorts are pure overhead
        # then), and let AQE rewrite SMJ->SHJ from runtime sizes.
        # Measured A/B at sf1.0 (OPTIMIZATION_r06.md): SHJ is neutral on
        # q5 and ~12% faster on q3. Raising autoBroadcastJoinThreshold
        # to 64m was ALSO tried and rejected: BroadcastExchange builds
        # the hash relation single-threaded on the driver, so q5/q3
        # regressed 3x (3.7->11.1s / 1.6->6.6s) when the 1.5M-row
        # orders side became a broadcast — the default 10m stays.
        # Env-overridable, size-based (not core-count-based), so the
        # setting translates to a cluster unchanged.
        .config(
            "spark.sql.join.preferSortMergeJoin",
            os.environ.get("SPARK_GRAFT_PREFER_SMJ", "false"),
        )
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("SPARK_GRAFT_SHJ_LOCAL_MAP_THRESHOLD", "64m"),
        )
        # ANSI mode (Spark 4 default: on) adds per-row overflow/cast
        # check branches to every codegen'd arithmetic expression AND
        # makes any sum() over full-range int64 values (e.g. xxhash64
        # rollups, which this engine uses for dedup/fingerprint/verify
        # surfaces) throw ARITHMETIC_OVERFLOW instead of wrapping: a
        # random-walk sum of n uniform 64-bit hashes overflows with
        # near-certainty even for small n. Measured at sf1.0/32 cores:
        # a 14-query slice of the bench suite dropped 19.8s -> 10.3s
        # because every multi-row-output query's xxhash64-checksum
        # materialisation stopped failing over to a second full
        # execution. Pre-4.0 Spark default; results verified identical
        # (87/87 oracle hashdiff, full pytest) with ANSI off.
        .config(
            "spark.sql.ansi.enabled",
            os.environ.get("SPARK_GRAFT_ANSI", "false"),
        )
        .config("spark.ui.enabled", "false")
        # scale runners set this to "false": progress bars bloat captured
        # logs ~100x and can push the final JSON line past tail windows
        .config(
            "spark.ui.showConsoleProgress",
            os.environ.get("SPARK_GRAFT_CONSOLE_PROGRESS", "true"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # managed (bucketed) tables land outside the repo unless the
        # caller points the warehouse somewhere durable
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/pgs-warehouse"),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(
    spark: SparkSession, rows: Sequence[Sequence], schema: StructType | str
) -> DataFrame:
    """A frame of driver-side ``rows`` (tuples in ``schema`` field order)
    as a JVM ``LocalRelation``. The rows travel as one pyarrow Table;
    ``createDataFrame(list)`` would instead build a Python-RDD
    ``LogicalRDD`` whose every read starts ``defaultParallelism`` Python
    worker tasks. ``schema`` is a StructType or a DDL string, and its
    types and nullability are kept as given."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def spread_to_parallelism(df: DataFrame) -> DataFrame:
    """Scan-parallelism floor for CPU-heavy per-row stages (Python
    UDFs, regex/shingle/JSON kernels). A single-file, single-row-group
    table arrives as ONE non-empty scan partition, so everything
    downstream ran on one core (measured: the decontaminate shingle
    build was 1.56s scan-attached vs 0.27s after an even repartition).
    Round-robin repartition to the session default parallelism when the
    input has fewer partitions than that; on a deployment whose tables
    have >= cores splits this is a no-op. Rows are only redistributed,
    so per-row results never change."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df



# the frames persisted inside each open owned_caches() block, innermost last
_scopes: list[list[DataFrame]] = []


def _own(df: DataFrame) -> DataFrame:
    if _scopes:
        _scopes[-1].append(df)
    return df


def persist(df: DataFrame) -> DataFrame:
    """``df.persist()``, released on leaving the innermost open
    :func:`owned_caches` block; outside one it stays with the caller."""
    return _own(df.persist())


def checkpoint(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint(eager=True)``, owned as :func:`persist` is."""
    return _own(df.localCheckpoint(eager=True))


def release(df: DataFrame) -> None:
    """Free a frame :func:`persist` or :func:`checkpoint` returned: its
    cache entry, or the checkpointed RDD (a checkpoint has no entry)."""
    df.unpersist()
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() == "LogicalRDD":
        plan.rdd().unpersist(True)


@contextmanager
def owned_caches() -> Iterator[None]:
    """On leaving the block, release every frame :func:`persist` or
    :func:`checkpoint` took while it was the innermost open block. Consume
    the frames that read them inside it."""
    _scopes.append([])
    try:
        yield
    finally:
        for df in _scopes.pop():
            release(df)
