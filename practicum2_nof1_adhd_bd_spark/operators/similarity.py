"""Similarity search over embedding columns (brief §"Beyond").

Brute-force cosine top-k as the correctness baseline, plus a numpy-batched
`mapInPandas` variant as the scale path (same exact results — it's still
exact top-k, just vectorized per partition then merged). Around it: int8
quantization, the bucket-partitioned int8 vector index (write, pruned
query), compaction of partitioned index artifacts, and reciprocal-rank
fusion of ranked lists.

Scale design: the query side is a broadcast (one or few vectors); the corpus
side streams through executors; per-partition top-k keeps only k rows per
partition before the final merge, so the shuffle is O(partitions * k).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..sources.readers import fan_out


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity between two double-array columns (sequential fold,
    deterministic summation order — oracle-reproducible)."""
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


# ---- parsed-string twins of the Column-API expression builders ----
# Driver-side py4j latency dominates the serving queries' wall time at
# bench scale (r13/r14 SCALING §2f3: each Column-API operator is ~2-5
# py4j round trips; a higher-order lambda is ~15+). These helpers emit
# the SAME Catalyst expressions as their Column twins — one parse call
# per whole SELECT instead of one per operator — so executed values are
# bit-identical; only construction latency changes.


def _darr_sql(vec: list[float]) -> str:
    """A literal double-array SQL expression. CAST('<repr>' AS DOUBLE)
    round-trips exactly (Python float repr is shortest-exact; the SQL
    string->double parse is correctly rounded), matching what F.lit
    would have shipped over py4j — bit-exactness vs the F.lit/Column
    forms is asserted in tests/test_similarity_ml.py
    (test_sql_expression_twins_bit_exact)."""
    return (
        "array(" + ",".join(f"CAST('{x!r}' AS DOUBLE)" for x in vec) + ")"
    )


def _dot_sql(a: str, b: str) -> str:
    """String twin of _dot — same sequential fold, same init literal."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def _cosine_sql(a: str, b: str) -> str:
    """String twin of cosine(). a/b re-evaluate per use exactly as the
    Column form's expression tree does (no CSE either way — identical
    plan, identical float sequence)."""
    return (
        f"({_dot_sql(a, b)} / "
        f"(sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)})))"
    )


def cosine_topk_bruteforce(
    embeddings: DataFrame,
    query_id: int | None,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_vec: list[float] | None = None,
) -> DataFrame:
    """Exact cosine top-k neighbors of one corpus vector (self excluded),
    or — with ``query_vec`` — of an EXTERNAL query vector (the serving
    call: embed a new document, find its corpus neighbors; no self row to
    exclude, pass ``query_id=None``).

    The 1-row query frame is broadcast (a literal array for the external
    form — no scan at all on the query side); similarity is a codegen'd
    array fold; top-k is orderBy+limit which Spark executes as
    per-partition TakeOrdered (no full sort shuffle).
    """
    base = embeddings.selectExpr(
        f"`{id_col}`",
        f"transform(`{vec_col}`, x -> CAST(x AS DOUBLE)) AS v",
    )
    if query_vec is not None:
        # the literal query array inlines straight into the cosine
        # expression (parsed once — the F.lit-per-component form was
        # ~2 py4j calls per element; see _darr_sql)
        scored = base
        if query_id is not None:
            scored = scored.filter(F.col(id_col) != query_id)
        qv_sql = _darr_sql([float(x) for x in query_vec])
    else:
        query = base.filter(F.col(id_col) == query_id).select(
            F.col(id_col).alias("query_id"), F.col("v").alias("qv")
        )
        scored = base.join(
            F.broadcast(query), F.col(id_col) != F.col("query_id")
        )
        qv_sql = "qv"
    return (
        scored.selectExpr(
            f"`{id_col}`",
            f"round({_cosine_sql('v', qv_sql)}, 6) AS cosine",
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


def cosine_topk_vectorized(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scale path: numpy matrix-multiply per Arrow batch via mapInPandas,
    per-batch top-k, then global top-k. Exact same results as brute force."""
    import numpy as np

    spark = embeddings.sparkSession
    qrow = (
        embeddings.filter(F.col(id_col) == query_id)
        .select(F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"))
        .collect()
    )
    if not qrow:
        raise ValueError(f"query id {query_id} not found")
    q = np.asarray(qrow[0]["v"], dtype="float64")
    qn = q / np.sqrt((q * q).sum())
    bq = spark.sparkContext.broadcast(qn)

    out_schema = StructType.fromDDL(f"{id_col} bigint, cosine double")

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qv = bq.value
        for pdf in batches:
            if pdf.empty:
                continue
            mat = np.stack(pdf[vec_col].map(lambda a: np.asarray(a, dtype="float64")))
            norms = np.sqrt((mat * mat).sum(axis=1))
            sims = (mat @ qv) / np.where(norms == 0, 1.0, norms)
            res = pd.DataFrame({id_col: pdf[id_col], "cosine": np.round(sims, 6)})
            res = res[pdf[id_col] != query_id]
            yield res.nlargest(min(k, len(res)), "cosine")

    scored = (
        fan_out(embeddings.select(id_col, vec_col), id_col)
        .mapInPandas(score, out_schema)
    )
    return scored.orderBy(F.desc("cosine"), F.asc(id_col)).limit(k)


def axis_sign_bucket(vec_col: str = "embedding", n_bits: int = 4) -> Column:
    """Axis-aligned sign bucket: integer whose bit j is sign(vec[j]) —
    the deterministic, SQL-reproducible partition key of the vector
    index (vector_index_rows)."""
    bucket = None
    for j in range(n_bits):
        bit = (F.element_at(F.col(vec_col), j + 1) > 0).cast("int")
        term = bit * F.lit(2**j)
        bucket = term if bucket is None else bucket + term
    return bucket


def int8_quantize(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector symmetric int8 quantization: scale = max|v| / 127,
    q_i = round(v_i / scale) in [-127, 127]. The storage form a 100-TB
    ANN index actually ships — 4x smaller than float32 (16x vs float64),
    which is the difference between an in-memory and a disk-bound
    candidate scan. Deterministic arithmetic (one division + round per
    component), so the quantized index is SQL-replayable; reconstruction
    is q_i * scale.

    The scale is materialized as a column BEFORE the component transform
    (lambda bodies get no CSE — referencing the max-abs expression inside
    the per-element lambda would recompute it per component)."""
    dvec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = embeddings.select(F.col(id_col), dvec.alias("v"))
    scaled = base.withColumn(
        "scale",
        F.greatest(
            F.array_max(F.transform(F.col("v"), lambda x: F.abs(x))),
            F.lit(1e-12),
        )
        / 127.0,
    )
    return scaled.select(
        id_col,
        "scale",
        F.transform(
            F.col("v"), lambda x: F.round(x / F.col("scale")).cast("int")
        ).alias("qvec"),
    )


def int8_cosine_topk(
    embeddings: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k over the int8-RECONSTRUCTED corpus — what a
    quantized ANN index serves. Ranks dequantized vectors (q * scale)
    against the dequantized query; with 8-bit symmetric quantization the
    neighbor set is near-identical to full precision (relative component
    error <= 1/254) while the index is 4x smaller than float32. Same
    broadcast-query + TakeOrdered shape as cosine_topk_bruteforce."""
    qz = int8_quantize(embeddings, id_col, vec_col)
    deq = qz.select(
        F.col(id_col),
        F.transform(
            F.col("qvec"), lambda x: x.cast("double") * F.col("scale")
        ).alias("dv"),
    )
    q = deq.filter(F.col(id_col) == query_id).select(F.col("dv").alias("qdv"))
    scored = deq.join(F.broadcast(q), F.col(id_col) != F.lit(query_id))
    return (
        scored.select(
            id_col,
            F.round(cosine(F.col("dv"), F.col("qdv")), 6).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc(id_col))
        .limit(k)
    )


VECTOR_INDEX_SCHEMA = (
    "vec_id bigint, qvec array<tinyint>, scale double, nrm double, bucket int"
)


def hamming_ball(buckets: list[int] | set[int], n_bits: int, d: int) -> list[int]:
    """All bucket ids within Hamming distance ``d`` of ANY bucket in
    ``buckets`` — the driver-side probe set a partition-pruned index read
    pushes down as literals (PartitionFilters). O(2^n_bits) enumeration:
    n_bits is a small artifact constant, never data-sized."""
    base = set(buckets)
    return sorted(
        c
        for c in range(1 << n_bits)
        if any(bin(c ^ b).count("1") <= d for b in base)
    )


def vector_index_rows(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 4,
) -> DataFrame:
    """The ONE production vector-index row form (VECTOR_INDEX_SCHEMA):
    per-vector symmetric int8 quantization (int8_quantize's arithmetic:
    scale = max|v|/127, q = round(v/scale)) + the axis-sign bucket of the
    ORIGINAL vector (quantization can zero a small component, so the
    bucket is computed pre-quantization) + the norm of the DEQUANTIZED
    vector, precomputed once at build so serving never re-folds it.

    int8 storage is 4x smaller than float32 (16x vs float64) — at 100 TB
    that is the difference between a disk-bound and an in-memory candidate
    scan. Every stage is deterministic scalar arithmetic, so the whole
    artifact — quantize, bucket, norm — is SQL-replayable and sits behind
    the value-hash gate (vector_index_topk).

    scale and qvec are materialized in SEPARATE projections before any
    consumer folds over them: transform-lambda bodies get no CSE, so
    deriving the dequantized array inline from the quantize expression
    would recompute the max-abs per component."""
    dvec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    base = embeddings.select(
        F.col(id_col).alias("vec_id"),
        dvec.alias("v"),
        axis_sign_bucket(vec_col, n_bits).cast("int").alias("bucket"),
    )
    scaled = base.withColumn(
        "scale",
        F.greatest(
            F.array_max(F.transform(F.col("v"), lambda x: F.abs(x))),
            F.lit(1e-12),
        )
        / 127.0,
    )
    quant = scaled.select(
        "vec_id",
        "bucket",
        F.transform(
            F.col("v"), lambda x: F.round(x / F.col("scale")).cast("tinyint")
        ).alias("qvec"),
        "scale",
    )
    deq = quant.withColumn(
        "dv",
        F.transform(
            F.col("qvec"), lambda x: x.cast("double") * F.col("scale")
        ),
    )
    return deq.select(
        "vec_id",
        "qvec",
        "scale",
        F.sqrt(_dot(F.col("dv"), F.col("dv"))).alias("nrm"),
        "bucket",
    )


def dequantized(qvec: Column, scale: Column) -> Column:
    """Reconstruct the double vector a VECTOR_INDEX_SCHEMA row stores."""
    return F.transform(qvec, lambda x: x.cast("double") * scale)


def write_vector_index(
    embeddings: DataFrame,
    path: str,
    n_bits: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Persist THE production ANN index artifact: int8-quantized rows
    (vector_index_rows — 4x smaller than float32) written BUCKET-
    PARTITIONED, one parquet partition directory per axis-sign bucket, so
    a probe reads only the Hamming ball's directories (PartitionFilters
    in the scan, asserted in tests/test_plans.py) instead of scanning the
    corpus. Norms are precomputed at build so queries never re-fold
    them."""
    rows = vector_index_rows(embeddings, id_col, vec_col, n_bits)
    # cluster rows by the partition key before the write: without it every
    # write task emits one small file into EVERY bucket directory
    # (tasks x 2^n_bits files), and the serving scan pays file-listing +
    # open overhead per probe. One exchange at build time buys one
    # well-sized file per directory — the standard partitioned-write
    # recipe (at petabyte scale the same repartition keys the write; file
    # count within a directory then follows data volume, not task count).
    # Explicit partition count: AQE would coalesce a small exchange to
    # one task and serialize the per-directory file commits; the explicit
    # count pins commit parallelism while each bucket still hashes to one
    # partition (one file per directory).
    rows.repartition(
        rows.sparkSession.sparkContext.defaultParallelism, "bucket"
    ).write.partitionBy("bucket").mode("overwrite").parquet(path)


def query_vector_index(
    spark,
    path: str,
    query_vec: list[float],
    k: int = 10,
    n_bits: int = 4,
    probe_hamming: int = 0,
) -> DataFrame:
    """Serve a top-k query from a write_vector_index artifact: the query
    bucket (+ its Hamming-d ball) is computed driver-side from the
    vector's signs, and ONLY those partition directories are read — the
    `.isin(buckets)` filter compiles to PartitionFilters, so candidate
    IO is ball-size/2^n_bits of the index no matter how large it grows.
    Exact cosine rank of the DEQUANTIZED int8 vectors inside the ball
    (int8 fidelity: recall@10 0.988 vs full precision, SCALING §2c);
    norms come precomputed from the artifact. The dequantized array is
    materialized in a projection before the dot fold (no-CSE rule)."""
    qbucket = sum(
        (1 << j) for j in range(n_bits) if float(query_vec[j]) > 0
    )
    buckets = hamming_ball([qbucket], n_bits, probe_hamming)
    qv = F.array([F.lit(float(x)) for x in query_vec])
    qn = sum(float(x) * float(x) for x in query_vec) ** 0.5
    idx = spark.read.parquet(path).filter(F.col("bucket").isin(buckets))
    deq = idx.select(
        "vec_id", dequantized(F.col("qvec"), F.col("scale")).alias("dv"), "nrm"
    )
    return (
        deq.select(
            "vec_id",
            F.round(
                _dot(F.col("dv"), qv) / (F.col("nrm") * F.lit(qn)), 6
            ).alias("cosine"),
        )
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(k)
    )


def recover_interrupted_compaction(spark, path: str) -> bool:
    """Restore an artifact parked by a crashed ``compact_index`` swap.

    The swap is two renames: ``path -> path__precompact`` then
    ``path__compacting -> path``. A crash between them leaves ``path``
    absent with the full pre-compaction artifact intact at
    ``path__precompact`` — and any consumer whose cold-start policy
    treats "path missing" as "nothing written yet" (the ingest streams
    do) would silently rebuild from an empty index, losing all dedup
    state. Call this before any such existence check: if ``path`` is
    missing but the ``__precompact`` sibling exists, the sibling is
    renamed back into place. Returns True iff a recovery happened.
    (If BOTH exist, the swap completed and the sibling is just an
    undeleted leftover — ``compact_index`` clears it on its next run.)
    """
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(hconf)
    old = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "__precompact")
    if not fs.exists(jpath) and fs.exists(old):
        if not fs.rename(old, jpath):
            raise IOError(
                f"compact_index recovery: could not restore {path} from "
                f"its __precompact sibling"
            )
        return True
    return False


def compact_index(
    spark,
    path: str,
    partition_cols: list[str] | None = None,
    dedup_cols: list[str] | None = None,
):
    """Rewrite a partitioned index artifact to well-sized files.

    Continuous ingest appends one file per touched bucket per micro-batch
    (the floor of the repartition-before-partitionBy recipe), so a
    long-running stream accretes files linearly in batch count and the
    served artifact drifts back toward the many-file listing stall the
    pruned read was built to avoid. Compaction is the standard answer:
    read the artifact once, re-cluster on the partition key (one exchange,
    after which file count per directory follows data volume, not batch
    count), write to a sibling temp directory, then swap via two
    filesystem renames (each rename is atomic; the swap as a whole is
    not — a reader that lists the path in the instant between them sees
    a missing directory and must retry, and a reader holding file
    handles across the swap sees the OLD files. Run compaction in the
    ingest's batch gap, where foreachBatch's sequential execution
    guarantees no concurrent reader; for genuinely concurrent serving,
    layer a versioned-directory pointer like pipeline.py's snapshot
    writes on top). Works for any partitioned artifact via
    ``partition_cols`` (the vector index's ``bucket``, the corpus
    signature index's ``hp``) — root-level ``_`` sidecars, files AND
    directories (_bloom.bin, _commits), are carried over.

    ``dedup_cols`` (optional): dropDuplicates on these key columns during
    the rewrite. The streaming ingests pass their id column so that the
    one replay window that can duplicate rows (crash between the index
    append and the commit marker) is repaired by the next compaction —
    duplicate rows there are full-row identical, so keeping any one is
    exact.

    Returns (files_before, files_after) data-file counts so callers and
    the scale probe can track the reclaim.
    """
    partition_cols = partition_cols or ["bucket"]
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(hconf)

    def _count_files(p) -> int:
        # data files only: skip hidden names AND anything under a hidden
        # directory (commit markers under _commits/)
        base = str(fs.makeQualified(p)).rstrip("/")
        n = 0
        it = fs.listFiles(p, True)
        while it.hasNext():
            rel = str(it.next().getPath())[len(base):].lstrip("/")
            if not any(
                seg.startswith(("_", ".")) for seg in rel.split("/")
            ):
                n += 1
        return n

    recover_interrupted_compaction(spark, path)
    before = _count_files(jpath)
    tmp = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "__compacting")
    old = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "__precompact")
    if fs.exists(tmp):
        fs.delete(tmp, True)
    # Read with partition-column type INFERENCE OFF: the rewrite must
    # round-trip directory names byte-for-byte. With inference on, an
    # all-digit partition value set (e.g. a young corpus index whose
    # every hp= prefix happens to be numeric) re-types the column as int
    # and rewrites 'hp=07' as 'hp=7' — and the Bloom-pruned exact screen
    # intersects 2-char string prefixes against directory names, so the
    # renamed hashes would be silently skipped (duplicates admitted).
    # As strings, values are exactly the directory-name text, so int-typed
    # layouts (bucket=) round-trip unchanged too.
    infer_key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    infer_prev = spark.conf.get(infer_key)
    spark.conf.set(infer_key, "false")
    try:
        df = spark.read.parquet(path)
        if dedup_cols:
            df = df.dropDuplicates(dedup_cols)
        df.repartition(
            spark.sparkContext.defaultParallelism, *partition_cols
        ).write.partitionBy(*partition_cols).mode("overwrite").parquet(
            str(tmp)
        )
    finally:
        spark.conf.set(infer_key, infer_prev)
    # Carry root-level sidecars into the compacted tree: compaction does
    # not change CONTENT, so membership sidecars stay exactly valid —
    # dropping one would force a full-index rebuild (_bloom.bin) or lose
    # the batch commit markers (the _commits DIRECTORY). FileUtil.copy
    # recurses for directory sources, so files and directories take the
    # same call.
    # Parquet-invisible "_" names only; Spark's own _SUCCESS marker is
    # already in the new tree.
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if name.startswith("_") and name != "_SUCCESS":
            jvm.org.apache.hadoop.fs.FileUtil.copy(
                fs, st.getPath(), fs,
                jvm.org.apache.hadoop.fs.Path(str(tmp) + "/" + name),
                False, hconf,
            )
    if fs.exists(old):
        fs.delete(old, True)
    if not fs.rename(jpath, old):
        raise IOError(f"compact_index: could not stage {path} aside")
    if not fs.rename(tmp, jpath):
        # roll back so the artifact is never left missing
        fs.rename(old, jpath)
        raise IOError(f"compact_index: could not swap compacted {path}")
    fs.delete(old, True)
    return before, _count_files(jpath)


# (path -> (root mtime, sorted partition-dir names)) — see maybe_compact_index
_COMPACT_DIR_CACHE: dict = {}


def maybe_compact_index(
    spark,
    path: str,
    partition_cols: list[str] | None = None,
    max_files_per_dir: int = 16,
    dedup_cols: list[str] | None = None,
    sample_dirs: int = 256,
    cursor: int = 0,
):
    """Compaction POLICY for continuously-ingested artifacts: compact only
    when some partition directory has accreted more than
    ``max_files_per_dir`` data files. Each micro-batch append lands at
    most one file per touched partition (the repartition-before-
    partitionBy floor), so the threshold reads as "compact a partition
    roughly every N batches that touch it" — hot partitions trigger
    compaction on their own schedule, cold ones never force a rewrite.
    Call it in the ingest's batch gap (foreachBatch runs batches
    sequentially, so no reader races the swap — see ``compact_index`` on
    concurrent-reader semantics).

    Listing cost is BOUNDED two ways. (a) At most ``sample_dirs``
    partition directories are probed per invocation: up to that many
    dirs (every current artifact layout — the hp index tops out at 256)
    the probe is exhaustive and the policy exact; past it, a rotating
    window of ``sample_dirs`` dirs (advanced by ``cursor``, e.g. the
    stream's batch_id) is probed instead, so a thousand-partition
    artifact costs the same per batch and a hot directory is still seen
    within ceil(n_dirs / sample_dirs) batches — detection latency, not
    a miss. (b) Each probed dir is counted with ONE JVM-side globStatus
    call (Spark data files are always ``part-*``, which also excludes
    hidden sidecars and local-FS .crc twins for free) — the per-FILE
    py4j iteration this replaces measured ~5 ms per file, i.e. ~10 s
    per policy call on a 256-dir x 8-file artifact, all driver-side
    round-trip chatter. Measured after: ~0.4 s at 256 dirs, flat at
    2,560 dirs with the default sample cap (SCALING §2i2).

    Returns ``(compacted, files_before, files_after)``; when under
    threshold the artifact is untouched and before == after (the count
    covers the probed dirs only when sampling kicked in).
    """
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(hconf)
    # Partition-dir NAME extraction costs ~3 py4j round trips per
    # FileStatus — seconds of pure driver chatter at thousands of dirs,
    # every batch. A directory's mtime changes exactly when a direct
    # child is created or removed (local FS and HDFS semantics), so the
    # name list is cached per (path, root mtime) and steady-state calls
    # pay 2 round trips for the mtime probe instead of 3N for the
    # listing. (Object stores with weak dir mtimes degrade to delayed
    # discovery of NEW dirs only — a new dir holds one file per batch
    # that touched it since creation, so it cannot be the worst-dir
    # trigger before a cache refresh catches up with it.)
    mtime = fs.getFileStatus(jpath).getModificationTime()
    cached = _COMPACT_DIR_CACHE.get(path)
    if cached is not None and cached[0] == mtime:
        names = cached[1]
    else:
        names = sorted(
            st.getPath().getName()
            for st in fs.listStatus(jpath)
            if st.isDirectory()
            and not st.getPath().getName().startswith(("_", "."))
        )
        _COMPACT_DIR_CACHE[path] = (mtime, names)
    if len(names) > sample_dirs:
        start = (cursor * sample_dirs) % len(names)
        names = [
            names[(start + i) % len(names)] for i in range(sample_dirs)
        ]
    # data files sit len(partition_cols) levels below the root: the
    # first level is the probed dir itself, deeper partition levels are
    # one glob '*' each
    depth = len(partition_cols or ["bucket"])
    sub = "/*" * (depth - 1)
    total = 0
    worst = 0
    for name in names:
        n = len(
            fs.globStatus(
                jvm.org.apache.hadoop.fs.Path(
                    f"{jpath}/{name}{sub}/part-*"
                )
            )
        )
        total += n
        worst = max(worst, n)
    if worst <= max_files_per_dir:
        return False, total, total
    before, after = compact_index(
        spark, path, partition_cols, dedup_cols=dedup_cols
    )
    return True, before, after


def rrf_fuse(
    ranked: list[tuple[DataFrame, str]],
    id_col: str = "doc_id",
    k: int = 10,
    rrf_k: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of pre-limited ranked
    result frames — the standard hybrid-retrieval combiner (lexical BM25
    + embedding cosine in one engine, each side produced by its own
    scale path). ``ranked`` is [(frame, score_col), ...]; each frame is
    ranked by (score desc, id asc) and a document scores
    sum(1 / (rrf_k + rank_i)) over the lists it appears in (absent ->
    no contribution).

    The single-partition rank windows are safe BY CONTRACT: inputs are
    the top-N outputs of their retrievers (N ~ 50), so this fuses
    list-sized frames — the corpus-scale work already happened inside
    the retrievers.
    """
    from pyspark.sql import Window

    fused = None
    contribs = []
    for i, (fr, score_col) in enumerate(ranked):
        w = Window.orderBy(F.col(score_col).desc(), F.col(id_col).asc())
        r = fr.select(
            F.col(id_col), F.row_number().over(w).alias(f"_r{i}")
        )
        fused = r if fused is None else fused.join(r, id_col, "full_outer")
        contribs.append(
            F.coalesce(
                F.lit(1.0) / (F.lit(float(rrf_k)) + F.col(f"_r{i}")),
                F.lit(0.0),
            )
        )
    rrf = contribs[0]
    for c in contribs[1:]:
        rrf = rrf + c
    return (
        fused.select(F.col(id_col), F.round(rrf, 6).alias("rrf"))
        .orderBy(F.col("rrf").desc(), F.col(id_col).asc())
        .limit(k)
    )
