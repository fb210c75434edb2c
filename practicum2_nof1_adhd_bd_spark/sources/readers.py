"""Sources — SURVEY.md §2.1 S5-S8.

- Catalog: named-table discovery over a directory of parquet files
  (ref discover_zepp_tables, parse_zepp_export.py:31 — glob -> table map).
- read_csv_permissive: the reference's defensive CSV path — encoding
  fallback, bad-line skip, alias-resolved columns, unit coercion
  (ref stage_csv_aggregation.py:848-871; som_from_autoexport.py:236-290) —
  re-expressed as PERMISSIVE mode + explicit schema + a rename/cast layer.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

TESTDATA_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


# Parquet schema inference is a Spark job per read (~120 ms warm, ~25 ms
# for a read that declares its schema), and the registry reads the same
# files on every query: the first read of a file infers, later ones declare.
_SCHEMAS: dict[tuple, StructType] = {}
_INFERENCE_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.caseSensitive",
)


class Catalog:
    """Named parquet tables rooted at a scale-factor directory.

    NOTE: construction sets three confs on the CALLER's session —
    ``nanosAsLong`` and UTC ``session.timeZone`` unconditionally (required
    to read the testdata at all, see below), and
    ``spark.sql.shuffle.partitions`` only when the session has NEVER set it
    (a deliberate user value, even one equal to Spark's 200 default, is
    left untouched). The overrides outlive this Catalog's queries.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        # The testdata writes events.ts as TIMESTAMP(NANOS), which Spark's
        # parquet reader rejects outright unless nanos surface as long.
        # Must be set on whatever session the caller hands us (the harness
        # supplies a bare SparkSession that never saw session.py); the
        # bigint->timestamp_micros conversion in table() completes the read.
        self.spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Timestamps in the testdata are UTC instants; pin rendering so
        # to_date()/date_trunc() agree with the oracle on any host TZ.
        self.spark.conf.set("spark.sql.session.timeZone", "UTC")
        # A session that never configured shuffle partitions gets shuffle
        # parallelism sized to the actual cluster instead: 200 tasks per
        # exchange is pure scheduling overhead on a 32-core local run, and
        # iterative MLlib fits pay it per iteration. conf.get(key, None) is
        # None only when the key was never set, so a user's deliberate
        # value — including an explicit 200 — is indistinguishable from the
        # default no longer, and is left alone; with AQE coalescing,
        # defaultParallelism also remains a sane floor on a real cluster.
        if self.spark.conf.get("spark.sql.shuffle.partitions", None) is None:
            self.spark.conf.set(
                "spark.sql.shuffle.partitions",
                str(self.spark.sparkContext.defaultParallelism),
            )

    def table(self, name: str) -> DataFrame:
        path = os.path.join(self.root, f"{name}.parquet")
        key = self._schema_key(path)
        reader = self.spark.read
        if key in _SCHEMAS:
            reader = reader.schema(_SCHEMAS[key])
        df = reader.parquet(path)
        if key is not None:
            _SCHEMAS[key] = df.schema
        # TIMESTAMP(NANOS) parquet columns surface as long (nanosAsLong);
        # integer-divide to micros (exact — the generator writes micro
        # precision) and convert. `div` keeps it in int64: a double division
        # would corrupt epoch-nanos (~1.7e18 > 2^53).
        if name == "events" and dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df

    def _schema_key(self, path: str) -> tuple | None:
        """A file's identity on disk plus the confs that change the types
        Spark infers for it; None (infer on every read) if not a file."""
        if not os.path.isfile(path):
            return None
        st = os.stat(path)
        confs = tuple(self.spark.conf.get(c, None) for c in _INFERENCE_CONFS)
        return (os.path.abspath(path), st.st_size, st.st_mtime_ns, confs)

    def __getattr__(self, name: str) -> DataFrame:
        if name in TESTDATA_TABLES:
            return self.table(name)
        raise AttributeError(name)


def literal_frame(spark: SparkSession, schema: str, rows) -> DataFrame:
    """``rows`` (tuples in the order of the DDL ``schema``) as a SQL
    ``VALUES`` relation of cast literals, which the optimizer folds into a
    local relation. ``createDataFrame`` of a list builds a Python RDD
    instead: its scan runs a Python worker, a fixed cost of about a
    second per query whatever the row count."""
    fields = StructType.fromDDL(schema).fields
    args = {f"v{i}_{j}": v for i, r in enumerate(rows) for j, v in enumerate(r)}
    types = [f.dataType.simpleString() for f in fields]
    values = ", ".join(
        "(" + ", ".join(f"CAST(:v{i}_{j} AS {t})" for j, t in enumerate(types)) + ")"
        for i in range(len(rows))
    )
    names = ", ".join(f"`{f.name}`" for f in fields)
    return spark.sql(f"SELECT * FROM VALUES {values} AS t({names})", args=args)


def fan_out(df: DataFrame, *key_cols: str, align: bool = False) -> DataFrame:
    """Widen a narrow input for compute-heavy per-row stages.

    Small parquet files arrive as a single partition (one row group), which
    serializes expensive per-row expressions (shingling, hashing, decode
    UDFs) onto one core. When the input has fewer partitions than the
    cluster's default parallelism, repartition up (hash on ``key_cols`` when
    given, round-robin otherwise). At real scale file scans already produce
    >= parallelism splits, so this is a no-op — no extra shuffle.

    The widening is a full shuffle, and a round-robin repartition sorts
    its input first (``spark.sql.execution.sortBeforeRepartition``, so a
    retried task re-deals the same rows). On a cheap per-row stage that
    costs more than the parallelism gains: the exact quantile over 600k
    lineitem rows took 2.33 s with it and 1.57 s without, so use it only
    where each row is expensive.

    ``align=True`` repartitions on ``key_cols`` UNCONDITIONALLY — for
    plans whose downstream aggregates rely on the declared key
    partitioning to stay exchange-free. The r16 full 10x probe caught
    the silent failure mode of the conditional form: with enough input
    splits the repartition no-ops, the partitioning is no longer
    declared, and Catalyst inserts exchanges over the EXPLODED frame —
    shuffling near-full gram volume (~20x the text bytes for char
    3-grams) instead of the text rows this shuffle would have cost.
    Aligning is the right trade exactly when the exploded frame's
    post-combine volume exceeds the input's.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    parts = df.rdd.getNumPartitions()
    if align and key_cols:
        return df.repartition(
            max(parts, target), *[F.col(c) for c in key_cols]
        )
    if parts >= target:
        return df
    if key_cols:
        return df.repartition(target, *[F.col(c) for c in key_cols])
    return df.repartition(target)


def read_csv_permissive(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    alias_map: dict[str, list[str]] | None = None,
    header: bool = True,
) -> DataFrame:
    """S5/S6 — permissive CSV read with corrupt-record capture and
    alias-resolved column normalization.

    ``alias_map`` maps canonical name -> candidate source names; the first
    candidate present in the file wins (ref cardio_from_extracted.py:438-448
    probes ('value','heartrate','hr','bpm')). Extra/phantom columns are
    dropped by the explicit schema (ref som trailing-comma repair).
    """
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    schema = schema.add("_corrupt_record", "string")
    df = (
        spark.read.option("header", header)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .option("encoding", "UTF-8")
        .schema(schema)
        .csv(path)
    )
    if alias_map:
        present = set(df.columns)
        renames = {}
        for canonical, candidates in alias_map.items():
            for cand in candidates:
                if cand in present:
                    renames[cand] = canonical
                    break
        df = df.withColumnsRenamed(renames)
    return df


def coerce_hours(df: DataFrame, col: str) -> DataFrame:
    """The 'max>24 => values are minutes' unit heuristic
    (ref sleep_from_extracted.py:263-270). Data-dependent scalar: computed
    as an agg broadcast back via cross-join, never a driver collect."""
    mx = df.agg(F.max(col).alias("_mx"))
    return (
        df.crossJoin(F.broadcast(mx))
        .withColumn(
            col,
            F.when(F.col("_mx") > 24, F.col(col) / 60.0).otherwise(F.col(col)),
        )
        .drop("_mx")
    )
