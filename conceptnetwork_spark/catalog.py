"""Table catalog over the driver testdata layout.

One parquet file per table under an ``sf_dir`` (TESTDATA.md). The catalog is
the engine's source layer (SURVEY §2.1 S3/S4): globbing, parallel reads,
schema projection, predicate pushdown all come from the Parquet datasource —
the reference hand-rolled these with TF queue runners
(``conceptnetwork/network.py:184-203``).

Dimension tables are flagged so the operator layer can attach explicit
broadcast hints for the 100 TB design point (facts never broadcast).

Schemas are inferred once per file per process (``parquet_schema``). A bare
``spark.read.parquet`` launches a Spark job that reads a footer to infer the
schema, and every builder constructs a fresh ``Catalog``, so without a cache
that job is paid on every query. The rule: the first open of a file in a
process pays one inference job, and later opens from any session pay none
(the cache holds plain ``StructType`` values, so it outlives
``spark.stop()``). An entry is valid while the path's leaf files keep their
names, sizes and mtimes and the session's schema-inference confs keep their
values; anything else re-infers.
"""

from __future__ import annotations

import copy
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TABLES = (
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

# Bounded-cardinality tables: safe to broadcast at any scale factor.
# customer/part/supplier grow with SF -> treated as shuffle-side at scale.
DIM_TABLES = frozenset({"region", "nation"})

# Event-time columns needing normalization to TIMESTAMP (LTZ):
# - parquet TIMESTAMP(NANOS): Spark reads as long (session.py nanosAsLong);
#   integer `div` avoids double-precision loss at ns-epoch magnitude
#   (~1.7e18 > 2^53); DuckDB truncates ns->us the same way.
# - parquet timestamp[us] with isAdjustedToUTC=false: Spark reads as
#   TIMESTAMP_NTZ, which withWatermark rejects
#   (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE). Session TZ is pinned UTC
#   (session.py), so casting NTZ->LTZ reinterprets the same wall-clock
#   instant and batch/oracle semantics are unchanged.
NANOS_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def fix_nanos(df: DataFrame, name: str) -> DataFrame:
    for c in NANOS_TS_COLS.get(name, ()):
        dt = dict(df.dtypes).get(c)
        if dt == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
        elif dt == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


# Every SQL conf that changes the schema Spark infers for a Parquet path:
# the ones its Parquet->Catalyst converter reads (ParquetToSparkSchemaConverter
# and its variant check, Spark 4.1), plus the two that choose which footers
# are read and merged.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.variant.allowReadingShredded",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
)

# (real path, conf values) -> (leaf-file fingerprint, inferred schema). One
# entry per path and conf set: a changed file set replaces its entry. Each
# access is a single dict operation; two threads missing at once both infer
# and the last store wins, which is harmless.
_SCHEMAS: dict[tuple, tuple[tuple, StructType]] = {}


def _leaf_files(path: str) -> tuple[tuple[str, int, int], ...]:
    """(relative name, size, mtime_ns) of every file under ``path``, or of
    ``path`` itself when it is a file."""
    if os.path.isfile(path):
        st = os.stat(path)
        return (("", st.st_size, st.st_mtime_ns),)
    leaves = []
    for d, _, files in os.walk(path):
        for f in files:
            full = os.path.join(d, f)
            st = os.stat(full)
            leaves.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(leaves))


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers, inferred by Spark once
    per process for as long as the path's files and the session's
    schema-inference confs are unchanged (module docstring). Paths that are
    not on the local filesystem (URIs, globs) are inferred on every call.

    The returned ``StructType`` is the caller's own copy."""
    real = os.path.realpath(path)
    if not os.path.exists(real):
        return spark.read.parquet(path).schema
    slot = (real, tuple(spark.conf.get(k) for k in _SCHEMA_CONFS))
    files = _leaf_files(real)
    hit = _SCHEMAS.get(slot)
    if hit is not None and hit[0] == files:
        return copy.deepcopy(hit[1])
    schema = spark.read.parquet(path).schema
    _SCHEMAS[slot] = (files, schema)
    return copy.deepcopy(schema)


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Round-robin repartition ONLY when the scan yields fewer partitions than
    the cluster has cores — i.e. only when downstream CPU-heavy work (shingle
    hashing, pandas UDFs, brute-force distance) would otherwise run on a
    handful of tasks.

    At 100 TB a parquet scan already produces thousands of splits and this is
    a no-op; the guard means we never pay a full-data shuffle at scale. It
    only fires on locally-tiny inputs (the driver testdata is a single
    row group per table, so every scan is one task without it).
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    n = _approx_scan_partitions(df)
    if n < target:
        return df.repartition(target)
    return df


def _approx_scan_partitions(df: DataFrame) -> int:
    """Estimate how many tasks the scan under ``df`` will get, public APIs
    only (no ``_jdf`` — survives Spark Connect). Every caller is a
    single-scan derivation, so ``inputFiles()`` + file sizes against
    maxPartitionBytes mirrors Spark's FilePartition packing closely enough
    for the only decision made here: "is this scan tiny relative to the
    core count". Non-local filesystems (can't stat cheaply from Python)
    fall back to ``df.rdd.getNumPartitions()`` — one analyzer round-trip,
    acceptable off the common path."""
    from urllib.parse import urlparse

    files = df.inputFiles()
    if files:
        try:
            total = sum(os.path.getsize(urlparse(f).path or f) for f in files)
        except OSError:
            return df.rdd.getNumPartitions()
        conf = df.sparkSession.conf.get(
            "spark.sql.files.maxPartitionBytes", "134217728b"
        )
        return max(len(files), -(-total // max(_parse_bytes(conf), 1)))
    return df.rdd.getNumPartitions()


def _parse_bytes(conf: str) -> int:
    """Spark byte-size conf string ('134217728b', '128m', '1g') -> bytes."""
    s = conf.strip().lower()
    units = {"b": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    num = s.rstrip("".join(units))
    mult = units.get(s[len(num):].rstrip("b") or "b", 1)
    return int(float(num or "0") * mult)


class Catalog:
    """Lazy loader + temp-view registrar for one scale-factor directory."""

    def __init__(self, spark: SparkSession, sf_dir: str):
        self.spark = spark
        self.sf_dir = sf_dir
        self._cache: dict[str, DataFrame] = {}

    def path(self, name: str) -> str:
        return os.path.join(self.sf_dir, f"{name}.parquet")

    def table(self, name: str) -> DataFrame:
        if name not in TABLES:
            raise KeyError(f"unknown table {name!r}; known: {TABLES}")
        if name not in self._cache:
            path = self.path(name)
            schema = parquet_schema(self.spark, path)
            df = self.spark.read.schema(schema).parquet(path)
            self._cache[name] = fix_nanos(df, name)
        return self._cache[name]

    def __getattr__(self, name: str) -> DataFrame:
        if name in TABLES:
            return self.table(name)
        raise AttributeError(name)

    def register_views(self, names: tuple[str, ...] = TABLES) -> None:
        """Register each table as a temp view for ``spark.sql`` queries."""
        for name in names:
            self.table(name).createOrReplaceTempView(name)
