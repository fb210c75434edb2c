"""Physical data layouts: Z-order (Morton) clustering and bucketed facts.

A 100-TB table queried by TWO selective dimensions (e.g. part AND
supplier) can only sort by one of them; min/max file skipping then works
for that dimension and degenerates for the other. Interleaving the bits
of both keys (the Morton / Z-order curve) gives one sort key whose
contiguous ranges are 2-D locality cells, so range-partitioning and
sorting by it clusters BOTH dimensions at once — every parquet file's
(x, y) bounding box shrinks, and a 2-D box predicate prunes most
row groups on footer stats alone (the device behind Delta/Iceberg
OPTIMIZE ZORDER BY; SCALING §2n measures the skipping ratio).

Dimensions are NORMALIZED to the full ``bits`` width before
interleaving — raw keys with unequal domains (15-bit partkey vs 10-bit
suppkey) would let the wide dimension own every high interleaved bit,
reducing the curve to a 1-D sort at file granularity (measured: the
unnormalized layout skipped nothing on the narrow dimension). The
scaling is exact integer arithmetic, ``(x - lo) * (2^bits - 1) div
max(hi - lo, 1)``, so the DuckDB oracle twin replays it bit-for-bit.

Everything here is codegen'd column algebra: the bit interleave is 2 x
``bits`` shift/and/or terms, the layout write is
``repartitionByRange(morton)`` + ``sortWithinPartitions`` (one range
exchange — the same shuffle a 1-D sort would pay), and the cell-stats
attestation is one hash aggregation. No window, no driver state; the
only driver-side data is the 4-value min/max bounds row.

The module also owns the bucketed (``bucketBy``) fact layout: orders and
lineitem landed clustered and sorted on the order key, so repeated
fact-fact joins and per-order re-aggregations run with no Exchange
(``build_bucketed_facts`` / ``ensure_bucketed_facts``).
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import Catalog


def morton_code(x: Column, y: Column, bits: int = 16) -> Column:
    """Interleave the low ``bits`` bits of two non-negative integer
    columns: x occupies even bit positions, y odd. Inputs must already
    be in [0, 2^bits) — see ``scale_to_bits``."""
    code = F.lit(0).cast("long")
    for b in range(bits):
        code = code.bitwiseOR(
            F.shiftleft(F.shiftright(x.cast("long"), b).bitwiseAND(1), 2 * b)
        ).bitwiseOR(
            F.shiftleft(
                F.shiftright(y.cast("long"), b).bitwiseAND(1), 2 * b + 1
            )
        )
    return code


def scale_to_bits(col: Column, lo: int, hi: int, bits: int = 16) -> Column:
    """Exact integer normalization of [lo, hi] onto [0, 2^bits - 1]:
    floor((col - lo) * (2^bits - 1) / max(hi - lo, 1)). The numerator
    stays far below 2^53, so the double division is exactly rounded and
    floor() agrees with SQL integer division bit-for-bit."""
    span = max(hi - lo, 1)
    num = (col.cast("long") - F.lit(lo)) * F.lit((1 << bits) - 1)
    return F.floor(num / F.lit(span)).cast("long")


def morton_sql(x_expr: str, y_expr: str, bits: int = 16) -> str:
    """The identical interleave as an ANSI-SQL expression string (for
    DuckDB oracle twins). ``x_expr``/``y_expr`` must already be scaled
    into [0, 2^bits)."""
    terms = []
    for b in range(bits):
        terms.append(f"((({x_expr} >> {b}) & 1) << {2 * b})")
        terms.append(f"((({y_expr} >> {b}) & 1) << {2 * b + 1})")
    return "(" + " + ".join(terms) + ")"


def _bounds(df: DataFrame, x_col: str, y_col: str) -> tuple[int, int, int, int]:
    r = df.agg(
        F.min(x_col), F.max(x_col), F.min(y_col), F.max(y_col)
    ).first()
    return int(r[0]), int(r[1]), int(r[2]), int(r[3])


def _scaled_morton(
    df: DataFrame, x_col: str, y_col: str, bits: int
) -> Column:
    x0, x1, y0, y1 = _bounds(df, x_col, y_col)
    return morton_code(
        scale_to_bits(F.col(x_col), x0, x1, bits),
        scale_to_bits(F.col(y_col), y0, y1, bits),
        bits,
    )


def zorder_cells(
    df: DataFrame,
    x_col: str,
    y_col: str,
    bits: int = 16,
    cell_shift: int = 26,
) -> DataFrame:
    """Per-Z-cell clustering statistics: group rows by the normalized
    Morton code shifted down ``cell_shift`` bits (with the defaults, a
    64-cell quadtree over the data's own bounding box at every scale)
    and report each cell's row count and (x, y) bounding box — the
    declarative witness that the curve clusters both dimensions."""
    m = _scaled_morton(df, x_col, y_col, bits)
    return (
        df.select(
            F.shiftright(m, cell_shift).alias("cell"),
            F.col(x_col),
            F.col(y_col),
        )
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min(x_col).alias("x_min"),
            F.max(x_col).alias("x_max"),
            F.min(y_col).alias("y_min"),
            F.max(y_col).alias("y_max"),
        )
    )


def zorder_repartition(
    df: DataFrame,
    x_col: str,
    y_col: str,
    n_partitions: int,
    bits: int = 16,
) -> DataFrame:
    """Physically cluster ``df`` along the Z-curve: one range exchange on
    the normalized Morton code (sampled range boundaries — balanced
    output files even under key skew) + an in-partition sort, then drop
    the helper column. Write the result with any sink; downstream 2-D
    predicates prune on parquet min/max footer stats (SCALING §2n)."""
    m = _scaled_morton(df, x_col, y_col, bits)
    return (
        df.withColumn("_z", m)
        .repartitionByRange(n_partitions, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
    )


def _ddl_of(df: DataFrame) -> str:
    return ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields
    )


def derive_bucket_count(sf_dir: str) -> int:
    """Scale-adaptive bucket count for the bucketed fact layout: a
    partitioning constant tuned for one scale is wrong at every other (a
    10x-replicated probe ran bucketed_join_scan 3.2x slower because 8
    buckets cap the served join's parallelism at 8 tasks no matter how
    much data lands in them).

    n_buckets = next power of two of (orders+lineitem parquet bytes /
    target-bucket-bytes), clamped to [8, 65536]. The target is
    parameterized via $SPARK_GRAFT_BUCKET_MB with a 4 MB local default:
    at the shipped SFs (<= ~14 MB of facts) that keeps the historical 8
    buckets — bench numbers stay comparable across versions — while any
    replicated 10x probe dir derives 32+ so the serve-time join keeps
    the cores busy. A production deployment sets the env to a real
    file-size target (e.g. 512 — parquet bucket files in the
    128 MB-1 GB band), which at 100 TB of facts derives
    ~2^18-capped bucket counts instead of 8. Derivation is
    DETERMINISTIC from the source bytes, and callers key the landed
    layout's fingerprint on the derived count, so layouts built at
    different targets/scales never alias."""
    total = 0
    for name in ("orders.parquet", "lineitem.parquet"):
        p = os.path.join(sf_dir, name)
        if os.path.isdir(p):
            total += sum(
                os.path.getsize(os.path.join(p, f))
                for f in os.listdir(p)
                if not f.startswith((".", "_"))
            )
        elif os.path.exists(p):
            total += os.path.getsize(p)
    target = int(os.environ.get("SPARK_GRAFT_BUCKET_MB", "4")) * 1024 * 1024
    n = 8
    while n < 65536 and n * target < total:
        n *= 2
    return n


def build_bucketed_facts(
    spark: SparkSession, sf_dir: str, out_dir: str, n_buckets: int = 8
) -> dict[str, str]:
    """Bucketed (bucketBy) fact layout — the 100-TB repeated-join
    amortization: orders and lineitem land clustered AND
    sorted on the join key into the same bucket count, so EVERY future
    fact-fact join or re-aggregation on the order key is Exchange-free —
    the shuffle both sides of a plain-parquet join would pay per query is
    paid exactly once, at write time.

    The pre-write ``repartition(n_buckets, key)`` uses the same Murmur3
    hash as the bucket spec, so each write task holds exactly one
    bucket's rows -> one well-sized file per bucket (the partitioned-index
    lesson: commit/listing overhead, not data bytes, dominates small
    artifacts). Metadata is dropped after the write — the files are the
    artifact; any session re-declares them with CREATE TABLE ...
    CLUSTERED BY ... LOCATION (ensure_bucketed_facts), which is how a
    real deployment shares one bucketed layout across many readers."""
    cat = Catalog(spark, sf_dir)
    paths: dict[str, str] = {}
    for name, df, key in (
        ("orders", cat.orders, "o_orderkey"),
        ("lineitem", cat.lineitem, "l_orderkey"),
    ):
        path = os.path.join(out_dir, name)
        tmp_tbl = f"bkt_build_{name}_{os.getpid()}"
        spark.sql(f"DROP TABLE IF EXISTS {tmp_tbl}")
        (
            df.repartition(n_buckets, F.col(key))
            .write.mode("overwrite")
            .option("path", path)
            .bucketBy(n_buckets, key)
            .sortBy(key)
            .saveAsTable(tmp_tbl)
        )
        spark.sql(f"DROP TABLE {tmp_tbl}")  # external: files stay
        paths[name] = path
    return paths


def ensure_bucketed_facts(
    spark: SparkSession,
    paths: dict[str, str],
    tag: str,
    sf_dir: str,
    n_buckets: int = 8,
) -> tuple[DataFrame, DataFrame]:
    """Re-declare the landed bucketed files in THIS session's catalog
    (CREATE TABLE IF NOT EXISTS ... CLUSTERED BY ... LOCATION — bucket
    ids ride in the file names, the spec rides in the DDL) and return
    (orders, lineitem). ``tag`` keys the table names per source
    fingerprint so a regenerated sf_dir never aliases stale metadata."""
    cat = Catalog(spark, sf_dir)
    out = []
    for name, src, key in (
        ("orders", cat.orders, "o_orderkey"),
        ("lineitem", cat.lineitem, "l_orderkey"),
    ):
        tbl = f"bkt_{name}_{tag}"
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {tbl} ({_ddl_of(src)}) "
            f"USING PARQUET CLUSTERED BY (`{key}`) SORTED BY (`{key}`) "
            f"INTO {n_buckets} BUCKETS LOCATION '{paths[name]}'"
        )
        # the landing may have been rebuilt since this session first
        # declared the table (a reap + re-land between two reads left a
        # cached file index pointing at deleted part files ->
        # FAILED_READ_FILE); drop the cached listing, it relists lazily
        spark.sql(f"REFRESH TABLE {tbl}")
        out.append(spark.table(tbl))
    return out[0], out[1]
