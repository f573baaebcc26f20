"""SparkSession factory with scale-oriented defaults.

Defaults are tuned so the same plans that pass local[32] tests keep
working on a 1000-executor cluster: AQE on (runtime coalescing +
skew-join splitting), broadcast threshold sized for dimension tables,
Arrow enabled for the few Pandas-UDF operators.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T


def get_spark(app_name: str = "terminus-server-spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus) if cpus.isdigit() else 32, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # The bypass-merge shuffle writer concatenates per-reducer
        # files with NIO transferTo, which mmaps/munmaps each block;
        # on virtualized kernels munmap triggers cross-vCPU TLB
        # shootdowns that serialize the whole map stage (observed
        # here: 32 executor threads stuck in FileChannelImpl.unmap0,
        # 10-20s stalls on KB-sized shuffles).  Buffered copy is
        # within noise of transferTo on normal hosts and orders of
        # magnitude faster under this failure mode.
        .config("spark.file.transferTo", "false")
        # driver-generated parquet uses TIMESTAMP(NANOS) which the
        # vectorized reader rejects; read as long and rebuild below
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # PySpark wraps every DataFrame/functions call in a call-site
        # capture (active-session lookup, conf read, origin set/clear:
        # ~4 py4j round trips each).  A WOQL compile makes hundreds of
        # such calls, so the capture was about two thirds of its py4j
        # traffic; JVM errors lose only the Python call-site context.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    return builder.getOrCreate()


@functools.lru_cache(maxsize=128)
def _struct(ddl: str) -> T.StructType:
    """Parsed DDL (a JVM round trip); the engine's DDL strings are
    literals, so the cache stays small."""
    return T.StructType.fromDDL(ddl)


def local_frame(spark: SparkSession, rows, schema: str | T.StructType) -> DataFrame:
    """A DataFrame over driver-built ``rows`` (tuples in ``schema``
    order) as an Arrow-backed ``LocalRelation``.

    ``createDataFrame(list, schema)`` pickles the rows into a
    ``parallelize``d RDD: a ``LogicalRDD`` leaf with no size estimate
    (never auto-broadcast) that re-reads the pickled rows in a Python
    worker on every evaluation.  The same rows as a ``pyarrow.Table``
    become a ``LocalRelation`` with an exact size, which collects with
    no job and broadcasts like any small dimension table."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = _struct(schema) if isinstance(schema, str) else schema
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows)) or [()] * len(struct.fields)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, struct)


def load_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...] | None = None):
    """Read the driver-generated parquet tables and register temp views.

    Returns a dict name -> DataFrame.  Filters/projections applied by
    callers reach the parquet scan (pushdown) because these are plain
    ``spark.read.parquet`` scans, not cached materializations.
    """
    all_names = (
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    )
    ts_cols = {"orders": ["o_orderdate"], "lineitem": ["l_shipdate"], "events": ["ts"]}
    # driver-generated parquet has shipped timestamps two ways across
    # rounds: TIMESTAMP(NANOS) (vectorized reader rejects it unless read
    # as long) and plain timestamp[us] with no timezone (Spark reads
    # TIMESTAMP_NTZ).  Set the nanos conf here (not just in get_spark)
    # so the contract also works under a caller-provided session; it
    # must land before the first read of the file.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    out = {}
    for name in names or all_names:
        df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
        for c in ts_cols.get(name, []):
            dt = dict(df.dtypes).get(c)
            if dt == "bigint":
                # nanos→micros via integer div (truncation, matching
                # DuckDB); float division would round — epoch nanos
                # exceed 2^53 so doubles can't hold them exactly.
                # timestamp_micros yields LTZ; cast to the canonical NTZ
                # (session tz is UTC, so the wall time is unchanged).
                df = df.withColumn(
                    c, F.timestamp_micros(F.expr(f"`{c}` div 1000")).cast("timestamp_ntz")
                )
            elif dt == "timestamp":
                df = df.withColumn(c, F.col(c).cast("timestamp_ntz"))
            # canonical wire type is TIMESTAMP_NTZ (timestamp[us], no tz)
            # — exactly what DuckDB emits for these columns, so the
            # driver's type-sensitive value hash sees identical Arrow
            # encodings.  Operators needing an event-time clock (window/
            # watermark/unix_micros require LTZ) cast internally.
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
