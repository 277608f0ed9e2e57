"""Table sources with explicit, code-declared schemas.

The reference declares every schema in code (Pydantic models,
/root/reference/main.py:81-103) and never infers; the engine does the
same with StructType on every reader — schema inference at 100 TB means
an extra full scan and nondeterministic types.

``binaryFile`` is the multimodal source (the reference's PDF corpus,
main.py:268); parquet is the canonical columnar store for everything
else.
"""

from __future__ import annotations

import os
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}


def table_names() -> list[str]:
    return list(SCHEMAS)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table with its declared schema.

    Explicit schema means Catalyst can prune columns at the parquet
    footer level and never pays an inference scan.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    return spark.read.schema(SCHEMAS[name]).parquet(path)


def local_path_bytes(path: str) -> int | None:
    """On-disk bytes of a local file or directory tree (``_SUCCESS`` /
    ``.crc``-style sidecars skipped), or ``None`` when the size is
    unknown: a non-local URI (``s3a://``, ``hdfs://``) is invisible to
    ``os`` and would otherwise read as zero bytes. ``file:`` URIs are
    local. Not memoized — a served table grows with each ingest."""
    if path.startswith("file:"):
        path = urlparse(path).path
    elif "://" in path:
        return None
    if os.path.isfile(path):
        return os.path.getsize(path)
    return sum(
        os.path.getsize(os.path.join(root, fname))
        for root, _dirs, files in os.walk(path)
        for fname in files
        if not fname.startswith((".", "_"))
    )


# r17 (guide §2.4, remove shuffles outright): the spread_input()
# decision memoizes the probe per table path — fixture tables never
# change within a process, and re-walking them would land inside the
# bench's timed region (a df.rdd.getNumPartitions() probe instead costs
# ~100 ms of py4j/planning per call).
_TABLE_BYTES: dict[str, int | None] = {}


def _path_bytes(path: str) -> int | None:
    if path not in _TABLE_BYTES:
        _TABLE_BYTES[path] = local_path_bytes(path)
    return _TABLE_BYTES[path]


def _conf_bytes(raw: str) -> int:
    """Parse a Spark byte conf ('134217728', '128m', '1g')."""
    raw = raw.strip().lower()
    mult = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if raw and raw[-1] == "b":
        raw = raw[:-1]
    if raw and raw[-1] in mult:
        return int(raw[:-1]) * mult[raw[-1]]
    return int(raw)


def spread_input(df: DataFrame, sf_dir: str, name: str) -> DataFrame:
    """Fan a fixture-scan-derived frame out to core-count partitions
    ONLY when the scan cannot do that itself (guide §2.4).

    The local fixture is one small parquet file, so the scan yields one
    split and a round-robin ``repartition(defaultParallelism)`` is
    REQUIRED to put every core to work. At production scale the same
    table arrives in >= core-count splits — any input of at least
    ``defaultParallelism x maxPartitionBytes`` bytes provably scans as
    at least ``defaultParallelism`` file partitions — and the blanket
    repartition would round-robin the full payload (document text,
    embedding vectors) through a shuffle for nothing. The threshold
    reads the session's own ``maxPartitionBytes`` so the decision
    tracks however the deployment sizes its splits.

    Locally the plan is identical to the unconditional repartition
    (every fixture SF is far below the threshold). Results never depend
    on the branch: round-robin placement is not observable in any
    declared query's output (all are aggregations or explicitly
    ordered; parity is hash-checked on sorted rows).

    A remote table (``s3a://``, ``hdfs://``) is not sized here; its
    size counts as unknown and the frame is returned unchanged.

    Use as ``df.transform(spread_input, sf_dir, "documents")``.
    """
    spark = df.sparkSession
    n = spark.sparkContext.defaultParallelism
    max_split = _conf_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    size = _path_bytes(os.path.join(sf_dir, f"{name}.parquet"))
    if size is None or size >= n * max_split:
        return df  # unknown size (remote store) or already >= n splits
    return df.repartition(n)


def load_binary_corpus(spark: SparkSession, directory: str, glob: str = "*.pdf") -> DataFrame:
    """Directory scan of opaque binary files (reference O1, main.py:258-279).

    Returns (path, modificationTime, length, content:binary). A missing
    directory surfaces as AnalysisException — the engine's analog of the
    reference's 404 (main.py:262-279).
    """
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(directory)
    )
