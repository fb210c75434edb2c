"""Snapshot provenance manifest — SURVEY.md §2.1 S11/S12 companion.

Reference: ``src/tools/generate_provenance_report.py:1-509`` walks a
snapshot directory and emits a SHA-256 manifest (per-file digest + size)
so any two runs over "the same" snapshot can be proven identical. The
engine's analog is content-level, not file-level (files are an artifact
of partitioning, which a cluster is free to change without the DATA
changing): per table, the manifest row is the row count plus an
order-independent digest of every row's canonical rendering.

Digest construction:

- each row is rendered as a ``concat_ws('|', ...)`` of its
  deterministically-renderable columns (integers, strings, DATE casts —
  never raw doubles, whose string form is engine-specific);
- the md5 of that string is folded to an int64 (first 15 hex chars,
  unrolled positional arithmetic — ``conv()`` exists only in Spark, so
  the fold is spelled in fixed-point SQL both engines share);
- rows combine with the ``bit_xor`` aggregate: associative, commutative,
  overflow-free — the digest is identical no matter how the table is
  partitioned or ordered, and the partial aggregation is map-side.

Scale: one narrow projection + map-side partial per table; no shuffle
wider than 1 row per partition. At 100 TB the manifest costs one scan,
and two snapshots' manifests diff with a 10-row join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# int64 fold of an md5 hex string: value of hex[1..15] as fixed-point
# arithmetic. Shared verbatim by the Spark expression and the DuckDB
# oracle (ascii/substr/CASE behave identically); 16^15 - 1 < 2^63.
def _hex15_to_int64_sql(hex_expr: str) -> str:
    terms = []
    for i in range(15):  # 1-indexed positions 1..15
        digit = (
            f"(CAST(ascii(substr({hex_expr}, {i + 1}, 1)) AS BIGINT) - "
            f"CASE WHEN ascii(substr({hex_expr}, {i + 1}, 1)) >= 97 "
            f"THEN 87 ELSE 48 END)"
        )
        terms.append(f"{digit} * {16 ** (14 - i)}")
    return "(" + " + ".join(terms) + ")"


def row_digest_sql(col_exprs: list[str]) -> str:
    """The shared per-row digest expression over canonical column SQL."""
    rendered = ", ".join(f"CAST({c} AS STRING)" for c in col_exprs)
    return _hex15_to_int64_sql(f"md5(concat_ws('|', {rendered}))")


def row_digest_spark_sql(col_exprs: list[str]) -> str:
    """Spark-only fast form of :func:`row_digest_sql`: ``conv(hex15, 16,
    10)`` is one JVM call where the portable fold needs 15 substr/ascii
    terms. DuckDB has no ``conv``, so the oracle keeps the unrolled fold;
    both produce the same int64 (hex15 < 2^63, no sign wrap —
    cross-engine equality is unit-tested)."""
    rendered = ", ".join(f"CAST({c} AS STRING)" for c in col_exprs)
    return (
        f"CAST(conv(substring(md5(concat_ws('|', {rendered})), 1, 15), "
        f"16, 10) AS BIGINT)"
    )


def table_manifest(
    df: DataFrame, table_name: str, col_exprs: list[str]
) -> DataFrame:
    """1-row manifest for one table: (table_name, n_rows, content_digest).

    ``col_exprs`` are SQL expressions valid in BOTH Spark and DuckDB
    (plain column names, ``CAST(ts AS DATE)``, ``md5(text)``, ...); they
    must render identically across engines, so no raw doubles.

    The canonical row string is built map-side, then the narrow single
    column is fanned out before the md5 work: a small parquet file scans
    as ONE split, which would serialize the hashing onto one core (at
    real scale the scan already fans out and this is a no-op).
    """
    from ..sources.readers import fan_out

    rendered = ", ".join(f"CAST({c} AS STRING)" for c in col_exprs)
    proj = fan_out(df.selectExpr(f"concat_ws('|', {rendered}) AS _row"))
    digest = (
        "CAST(conv(substring(md5(_row), 1, 15), 16, 10) AS BIGINT)"
    )
    return proj.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.coalesce(F.expr(f"bit_xor({digest})"), F.lit(0)).alias(
            "content_digest"
        ),
    ).select(
        F.lit(table_name).alias("table_name"), "n_rows", "content_digest"
    )


def provenance_manifest(
    frames: dict[str, tuple[DataFrame, list[str]]]
) -> DataFrame:
    """Manifest over a snapshot: one row per table.

    r16 restructure (guide §2.4): instead of N independent
    ``table_manifest`` subtrees — each paying its own fan-out Exchange of
    the rendered row strings plus a single-row aggregation Exchange (2N
    shuffles, 2N stage boundaries) — every table's rows are tagged with
    the table name and unioned at the (table_name, rendered-row) grain,
    so ONE grouped aggregate with map-side partials produces all digests:
    the only remaining exchange carries one row per table per partition.
    Rendering and md5 run map-side inside the scan stage, which at real
    scale parallelizes via the input splits themselves; locally the
    per-branch scans of all N tables schedule concurrently, replacing the
    fan-out repartition's artificial parallelism. Values are identical:
    bit_xor/count are grouped by table exactly as before. Tables with
    zero rows produce no group, so the static name spine is re-attached
    with a broadcast left join to keep the (name, 0, 0) contract."""
    names = sorted(frames)
    parts = []
    for name in names:
        df, cols = frames[name]
        rendered = ", ".join(f"CAST({c} AS STRING)" for c in cols)
        parts.append(
            df.selectExpr(
                f"'{name}' AS table_name",
                f"concat_ws('|', {rendered}) AS _row",
            )
        )
    allr = parts[0]
    for p in parts[1:]:
        allr = allr.unionByName(p)
    # one conditional fan-out of the UNION (not one per table): small
    # local snapshots arrive as a handful of splits, which would
    # serialize the biggest table's md5 onto one core; at real scale the
    # scans already fan out and this is a no-op. Net exchange count is
    # 2 (this + the 10-rows-per-partition agg) vs 2N before.
    from ..sources.readers import fan_out, literal_frame

    allr = fan_out(allr)
    digest = "CAST(conv(substring(md5(_row), 1, 15), 16, 10) AS BIGINT)"
    agg = allr.groupBy("table_name").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.coalesce(F.expr(f"bit_xor({digest})"), F.lit(0)).alias(
            "content_digest"
        ),
    )
    spine = literal_frame(
        parts[0].sparkSession, "table_name string", [(n,) for n in names]
    )
    return spine.join(F.broadcast(agg), "table_name", "left").select(
        "table_name",
        F.coalesce("n_rows", F.lit(0)).alias("n_rows"),
        F.coalesce("content_digest", F.lit(0)).alias("content_digest"),
    )


def manifest_oracle_sql(tables: dict[str, list[str]]) -> str:
    """The DuckDB twin: same digest expression per table, UNION ALL in
    name order. count(*) is BIGINT in DuckDB already; bit_xor(BIGINT)
    stays BIGINT (no HUGEINT widening — only sum() widens)."""
    selects = [
        f"SELECT '{name}' AS table_name, count(*) AS n_rows, "
        f"coalesce(bit_xor({row_digest_sql(cols)}), 0) AS content_digest "
        f"FROM {name}"
        for name, cols in sorted(tables.items())
    ]
    return " UNION ALL ".join(selects)
