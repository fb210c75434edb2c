"""Streaming incremental corpus ingestion — exact + near-dup screening of
a document stream against a STORED signature index.

The batch operators ``dedup.incremental_exact_dedup`` /
``incremental_near_dup`` answer "is this batch document a (near-)copy of
anything already ingested?" but re-derive the index side's hashes from
text on every call. This module makes the production form real: the index
is a parquet signature store — ``(doc_id, text_hash, sig)``, ~100 bytes
per document, no text — that each micro-batch reads, screens against, and
appends to. That is the continuously-ingested-crawl pattern for a
training corpus (ref SURVEY.md §6 + Lee et al. 2021 dedup motivation;
the reference's nearest analog is its incremental snapshot re-ingest,
run_full_pipeline.py snapshot layers).

Per micro-batch work:

1. ONE text pass over the batch: normalized md5 + MinHash signatures
   (codegen explode/min-agg, ``dedup.minhash_signatures_df``).
2. Exact screen: hash anti-join against the stored hashes — shuffles the
   BATCH, streams the index map-side.
3. Near screen: LSH band equijoin of batch buckets vs stored buckets;
   candidates are verified with the MinHash Jaccard ESTIMATE (mean
   signature-component agreement — Broder's estimator) because the index
   stores no text. With n_hashes=8 the estimate is coarse; raise
   n_hashes for tighter screening, or join the candidate ids back to a
   text store for exact verification where one exists.
4. Admitted docs' signature rows append to the index; per-doc decisions
   (admitted / exact_dup / near_dup) append to the decisions sink.

State never lives in executor memory: the index is disk-backed and
band-bucket joins scale with batch x candidate fan-out, not corpus size.
Batch-internal duplicates are also collapsed (min-id wins), so a batch
containing its own copies admits exactly one.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import (
    _banded_buckets,
    bloom_bitmap_from_hashes,
    bloom_member_expr,
    minhash_signatures_df,
)
from ..operators.similarity import recover_interrupted_compaction

INDEX_SCHEMA = "doc_id bigint, text_hash string, sig array<bigint>"
DECISION_SCHEMA = "doc_id bigint, status string, matched_id bigint"

# Bloom sidecar knobs: 2^23 bits = 1 MB broadcast supports ~1M stored
# hashes at ~2% fp with 4 probes. At larger corpora, scale n_bits with
# the expected corpus (the sidecar stays tiny relative to the index) or
# rebuild it on compaction; an UNDERSIZED bloom only raises the fp rate
# — it can never produce a wrong decision, just a less-pruned scan.
BLOOM_BITS = 1 << 23
BLOOM_PROBES = 4
_BLOOM_FILE = "_bloom.bin"  # leading underscore: invisible to parquet reads


def _hadoop_fs(spark, path_str: str):
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(path_str)
    return path.getFileSystem(spark._jsc.hadoopConfiguration()), path, jvm


def _index_exists(spark, index_dir: str) -> bool:
    """True iff the signature-index path exists, via the Hadoop FileSystem
    of the path (works for hdfs:// and s3a:// URIs as well as local dirs —
    os.path.exists would only see the driver's local filesystem)."""
    fs, path, _ = _hadoop_fs(spark, index_dir)
    return fs.exists(path)


def _hp_dirs(spark, index_dir: str) -> set[str]:
    """Prefix-partition directory names (``hp=xx``) present under the
    index, empty for a legacy flat layout."""
    fs, path, _ = _hadoop_fs(spark, index_dir)
    out = set()
    for st in fs.listStatus(path):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("hp="):
            out.add(name[3:])
    return out


def _read_bloom(spark, index_dir: str) -> bytes | None:
    fs, _, jvm = _hadoop_fs(spark, index_dir)
    p = jvm.org.apache.hadoop.fs.Path(f"{index_dir}/{_BLOOM_FILE}")
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        # commons-io toByteArray returns byte[] -> Python bytes via py4j.
        # (Do NOT readFully into a Python bytearray: py4j passes arrays
        # by value, so the JVM fills a COPY and the caller gets zeros.)
        return bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()


def _write_bloom(spark, index_dir: str, data: bytes) -> None:
    """Atomic sidecar replace: write tmp, rename over. Ordered BEFORE the
    index append in the caller, so a crash between the two leaves the
    bloom a SUPERSET of the index (extra fp, never a false negative)."""
    fs, _, jvm = _hadoop_fs(spark, index_dir)
    tmp = jvm.org.apache.hadoop.fs.Path(f"{index_dir}/{_BLOOM_FILE}.tmp")
    final = jvm.org.apache.hadoop.fs.Path(f"{index_dir}/{_BLOOM_FILE}")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(data))
    finally:
        out.close()
    if fs.exists(final):
        fs.delete(final, False)
    if not fs.rename(tmp, final):
        raise IOError(f"could not rename bloom sidecar under {index_dir}")


def _marker_path(jvm, index_dir: str, batch_id: int):
    # "_commits" is parquet-invisible (leading underscore), lives beside
    # the artifact it guards, and — because compact_index carries "_"
    # entries into the compacted tree — survives compaction.
    return jvm.org.apache.hadoop.fs.Path(
        f"{index_dir}/_commits/{batch_id}"
    )


def _guard_decisions_layout(spark, decisions_dir: str) -> None:
    """Fail loudly when a per-batch (``batch=N``) decisions sink is
    pointed at a PRE-EXISTING flat-layout decisions directory. The sink
    switched from append-at-root to per-batch partition directories (the
    idempotent-replay upgrade); mixing root-level parquet files with
    partition directories breaks partition discovery for every reader of
    the root. Legacy dirs must be migrated (move the flat files under a
    ``batch=-1`` directory, or start a fresh sink) — silently corrupting
    the layout is worse than stopping the stream."""
    fs, path, _ = _hadoop_fs(spark, decisions_dir)
    if not fs.exists(path):
        return
    for st in fs.listStatus(path):
        name = st.getPath().getName()
        if st.isFile() and not name.startswith(("_", ".")):
            raise ValueError(
                f"decisions sink {decisions_dir} contains legacy "
                f"root-level data file {name!r}: this stream writes "
                f"per-batch batch=N directories, and mixing the two "
                f"layouts breaks partition discovery for readers of the "
                f"root. Migrate the flat files (e.g. under batch=-1) or "
                f"point the stream at a fresh decisions_dir."
            )


ARCHIVE_BATCH = -1


def _decision_batch_dirs(spark, decisions_dir: str) -> list[int]:
    """Numeric ids of the ``batch=N`` partition directories under a
    decisions sink (the archive dir ``batch=-1`` included when present).
    One listStatus call; dir count is what the retention policy bounds."""
    fs, path, _ = _hadoop_fs(spark, decisions_dir)
    if not fs.exists(path):
        return []
    out = []
    for st in fs.listStatus(path):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("batch="):
            try:
                out.append(int(name.split("=", 1)[1]))
            except ValueError:
                continue
    return sorted(out)


def _finish_decisions_compaction(spark, decisions_dir: str) -> None:
    """Second half of the decisions-archive swap, idempotent at every
    crash point: given a COMPLETE precompact dir (``_SUCCESS`` present),
    delete the batch dirs it covers (their ids are the dir's distinct
    ``src_batch`` values — bounded, one row per archived batch), delete
    the old archive (its rows are subsumed: the precompact was written
    as old-archive ∪ candidates), and rename the precompact into place
    as ``batch=-1``."""
    fs, _, jvm = _hadoop_fs(spark, decisions_dir)
    pre_str = decisions_dir.rstrip("/") + "__decisions_precompact"
    pre = jvm.org.apache.hadoop.fs.Path(pre_str)
    covered = [
        r["src_batch"]
        for r in spark.read.parquet(pre_str)
        .select("src_batch")
        .distinct()
        .collect()
        if r["src_batch"] is not None
    ]
    for bid in covered:
        fs.delete(
            jvm.org.apache.hadoop.fs.Path(
                f"{decisions_dir}/batch={int(bid)}"
            ),
            True,
        )
    fs.delete(
        jvm.org.apache.hadoop.fs.Path(
            f"{decisions_dir}/batch={ARCHIVE_BATCH}"
        ),
        True,
    )
    fs.rename(
        pre,
        jvm.org.apache.hadoop.fs.Path(
            f"{decisions_dir}/batch={ARCHIVE_BATCH}"
        ),
    )


def recover_decisions_compaction(spark, decisions_dir: str) -> bool:
    """Crash recovery for the decisions-archive swap, mirroring
    ``similarity.recover_interrupted_compaction``: a crash after the
    precompact dir finished writing but before the swap completed leaves
    ``{decisions_dir}__decisions_precompact`` behind — finish the swap
    (idempotent). A PARTIAL precompact (no ``_SUCCESS``) referenced
    nothing yet and is simply discarded. Returns True when it acted."""
    fs, _, jvm = _hadoop_fs(spark, decisions_dir)
    pre = jvm.org.apache.hadoop.fs.Path(
        decisions_dir.rstrip("/") + "__decisions_precompact"
    )
    if not fs.exists(pre):
        return False
    success = jvm.org.apache.hadoop.fs.Path(
        decisions_dir.rstrip("/") + "__decisions_precompact/_SUCCESS"
    )
    if not fs.exists(success):
        fs.delete(pre, True)
        return True
    _finish_decisions_compaction(spark, decisions_dir)
    return True


def compact_decisions(
    spark,
    decisions_dir: str,
    up_to_batch: int,
) -> int:
    """Roll every committed ``batch=N`` dir with ``0 <= N <=
    up_to_batch`` into the single archive partition ``batch=-1``,
    preserving per-row provenance as a ``src_batch`` DATA column (the
    partition-dir form of provenance is what the retention trades away
    for a bounded dir count). Readers of the root see the identical
    decision rows before and after (doc_id/status/matched_id — what
    every consumer selects); the appended ``batch`` partition value
    becomes -1 for archived rows, with the original id recoverable from
    src_batch. Legacy flat files migrated under ``batch=-1`` (the
    _guard_decisions_layout escape hatch) simply carry a null
    src_batch.

    Crash-safe by the compact_index two-phase protocol: the combined
    frame (old archive ∪ candidates) is written COMPLETELY to a sibling
    ``__decisions_precompact`` dir first, then the swap (delete covered
    batch dirs -> delete old archive -> rename) runs; every crash point
    is recoverable by ``recover_decisions_compaction`` because the
    precompact names the dirs it covers in its own src_batch column.
    Only call for batches that can no longer be replayed (foreachBatch
    replays at most the last uncommitted batch, so anything below the
    committed frontier is safe). Returns the number of dirs archived."""
    recover_decisions_compaction(spark, decisions_dir)
    dirs = _decision_batch_dirs(spark, decisions_dir)
    cands = [b for b in dirs if 0 <= b <= up_to_batch]
    if not cands:
        return 0
    fs, _, jvm = _hadoop_fs(spark, decisions_dir)
    pre_str = decisions_dir.rstrip("/") + "__decisions_precompact"
    pre = jvm.org.apache.hadoop.fs.Path(pre_str)
    fs.delete(pre, True)  # stale partial write from an earlier crash
    cand_df = (
        spark.read.schema(DECISION_SCHEMA + ", batch int")
        .option("basePath", decisions_dir)
        .parquet(*[f"{decisions_dir}/batch={b}" for b in cands])
        .withColumn("src_batch", F.col("batch").cast("int"))
        .drop("batch")
    )
    combined = cand_df
    if ARCHIVE_BATCH in dirs:
        old = spark.read.schema(DECISION_SCHEMA + ", src_batch int").parquet(
            f"{decisions_dir}/batch={ARCHIVE_BATCH}"
        )
        combined = combined.unionByName(old)
    combined.write.mode("overwrite").parquet(pre_str)
    _finish_decisions_compaction(spark, decisions_dir)
    return len(cands)


def maybe_compact_decisions(
    spark,
    decisions_dir: str,
    current_batch_id: int,
    max_batch_dirs: int = 64,
    keep_last: int = 8,
) -> int:
    """Retention POLICY for the per-batch decisions sink — the
    decisions-side twin of ``similarity.maybe_compact_index`` (r12
    verdict #6): one ``batch=N`` dir lands per micro-batch forever, so
    at streaming cadence the sink reproduces the many-small-files
    pathology the index policy solves. When the live dir count exceeds
    ``max_batch_dirs``, every committed dir older than the newest
    ``keep_last`` rolls into the ``batch=-1`` archive (provenance moves
    from the dir name to the src_batch column). Call in the batch gap
    AFTER the commit marker: batches at or below current_batch_id are
    final and can never be replayed. Returns dirs archived (0 = under
    threshold)."""
    live = [
        b
        for b in _decision_batch_dirs(spark, decisions_dir)
        if b >= 0
    ]
    if len(live) <= max_batch_dirs:
        return 0
    return compact_decisions(spark, decisions_dir, current_batch_id - keep_last)


def batch_committed(spark, index_dir: str, batch_id: int) -> bool:
    """True iff ``batch_id`` already ran to completion against this index
    (its commit marker exists). foreachBatch is at-least-once: after a
    crash the engine replays the failed batch with the SAME batch_id, so
    a marker written as the last step of the batch turns replay into a
    no-op — the exactly-once upgrade."""
    fs, _, jvm = _hadoop_fs(spark, index_dir)
    return fs.exists(_marker_path(jvm, index_dir, batch_id))


def mark_batch_committed(spark, index_dir: str, batch_id: int) -> None:
    """Write the batch's commit marker — called ONLY after every data
    write of the batch (decisions, bloom, index append) is durable."""
    fs, _, jvm = _hadoop_fs(spark, index_dir)
    out = fs.create(_marker_path(jvm, index_dir, batch_id), True)
    out.close()


def write_index(sig_df: DataFrame, index_dir: str, mode: str = "overwrite") -> None:
    """Write signature rows in the canonical index layout: partitioned by
    the 2-hex-char hash prefix ``hp`` (256 directories), one file per
    directory per write (repartition on the partition column first — the
    tasks-x-dirs tiny-file recipe). The prefix partitioning is what makes
    the Bloom-pruned exact screen PHYSICAL: a batch's bloom-positive
    hashes name exactly the directories the screen must read."""
    (
        sig_df.withColumn("hp", F.substring("text_hash", 1, 2))
        .repartition("hp")
        .write.partitionBy("hp")
        .mode(mode)
        .parquet(index_dir)
    )


def _key_hash(text_col: str):
    """The index key: md5 of the whitespace-normalized text. ONE
    definition shared by the signature builder and the bloom prefix
    derivation so the two can never disagree."""
    return F.md5(
        F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    )


def _batch_signatures(
    batch: DataFrame, text_col: str, id_col: str, n_hashes: int, k: int
) -> DataFrame:
    hashes = batch.select(
        F.col(id_col), _key_hash(text_col).alias("text_hash")
    )
    sigs = minhash_signatures_df(batch, text_col, id_col, n_hashes, k)
    # docs with < k tokens have no shingles -> no signature row; they
    # still get exact screening via text_hash (sig stays null)
    return hashes.join(sigs, id_col, "left")


def screen_batch(
    batch: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 8,
    bands: int = 4,
    k: int = 3,
    est_threshold: float = 0.8,
    batch_internal_near: bool = False,
    exact_index: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, "Callable[[], None]"]:
    """Screen one batch against a signature index.

    ``exact_index`` (optional) substitutes the EXACT screen's index side
    only — the Bloom-pruned prefix-partitioned read in ``ingest_stream``.
    It must contain every index row whose hash could match the batch
    (the Bloom no-false-negative contract guarantees this for
    bloom-positive prefixes), so decisions are identical to screening
    against the full index. The near screen always uses ``index``.

    Returns ``(decisions, admitted_sigs, cleanup)``: per-doc status
    frame, the signature rows of admitted documents (the index append
    payload), and a zero-arg callable releasing the batch's persisted
    signature frame — call it AFTER consuming both outputs, or per-batch
    cache entries accumulate for the life of the stream.

    ``batch_internal_near=True`` additionally near-screens batch docs
    against SMALLER-ID batch docs that passed the index screens (band
    join within the batch, same Broder estimate), mirroring the always-on
    exact collapse: two mutually-near docs arriving in one micro-batch
    then admit only the smaller id, matching what a split across batches
    would decide. One-level rule, by design: under a chain A~B, B~C,
    A!~C it drops C (its match B is itself dropped), which is
    conservative over-drop relative to sequential one-doc-at-a-time
    semantics; a fixed-point loop is not worth corpus-scale passes for
    the rare chain case. Default False — exact statuses are
    batch-partition-invariant either way; near statuses are invariant
    only under this flag (or when admitted docs are mutually non-near).
    """
    sig_b = _batch_signatures(batch, text_col, id_col, n_hashes, k).persist()
    sig_b.count()  # materialize: one text pass feeds all three screens

    # batch-internal exact collapse: min id per content survives
    canon = sig_b.groupBy("text_hash").agg(F.min(id_col).alias("_keep"))
    internal_dup = (
        sig_b.join(canon, "text_hash")
        .filter(F.col(id_col) != F.col("_keep"))
        .select(id_col, F.lit("exact_dup").alias("status"),
                F.col("_keep").alias("matched_id"))
    )
    survivors = sig_b.join(canon.select(F.col("_keep").alias(id_col)), id_col, "left_semi")

    # exact screen vs stored hashes (or the bloom-pruned slice of them)
    idx_hash = (
        exact_index if exact_index is not None else index
    ).select("text_hash", F.col(id_col).alias("_idx_id"))
    exact_hit = (
        survivors.join(idx_hash, "text_hash")
        .groupBy(id_col)
        .agg(F.min("_idx_id").alias("matched_id"))
        .select(id_col, F.lit("exact_dup").alias("status"), "matched_id")
    )
    survivors2 = survivors.join(exact_hit.select(id_col), id_col, "left_anti")

    # near screen: band join of batch buckets vs stored buckets, then the
    # MinHash Jaccard estimate over full signatures for candidates only
    sig_i = index.filter(F.col("sig").isNotNull())
    bb = _banded_buckets(
        survivors2.filter(F.col("sig").isNotNull()), id_col, n_hashes, bands
    ).alias("a")
    bi = _banded_buckets(sig_i, id_col, n_hashes, bands).alias("b")
    cand = (
        bb.join(
            bi,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .select(
            F.col(f"a.{id_col}").alias("_bid"), F.col(f"b.{id_col}").alias("_iid")
        )
        .distinct()
    )
    est = (
        cand.join(
            survivors2.select(F.col(id_col).alias("_bid"), F.col("sig").alias("_sb")),
            "_bid",
        )
        .join(
            sig_i.select(F.col(id_col).alias("_iid"), F.col("sig").alias("_si")),
            "_iid",
        )
        .withColumn(
            "_est",
            F.aggregate(
                F.zip_with("_sb", "_si", lambda a, b: (a == b).cast("int")),
                F.lit(0),
                lambda acc, x: acc + x,
            )
            / F.lit(n_hashes),
        )
        .filter(F.col("_est") >= est_threshold)
    )
    near_hit = (
        est.groupBy("_bid")
        .agg(F.min("_iid").alias("matched_id"))
        .select(
            F.col("_bid").alias(id_col),
            F.lit("near_dup").alias("status"),
            "matched_id",
        )
    )
    admitted_ids = survivors2.join(near_hit.select(id_col), id_col, "left_anti")

    internal_near = None
    if batch_internal_near:
        # batch vs batch: band join among index-screen survivors, larger
        # id of each estimate-verified pair matches the smaller
        surv3_sig = admitted_ids.filter(F.col("sig").isNotNull())
        b3 = _banded_buckets(surv3_sig, id_col, n_hashes, bands)
        p3 = (
            b3.alias("x")
            .join(
                b3.alias("y"),
                (F.col("x.band") == F.col("y.band"))
                & (F.col("x.bucket") == F.col("y.bucket"))
                & (F.col(f"x.{id_col}") > F.col(f"y.{id_col}")),
            )
            .select(
                F.col(f"x.{id_col}").alias("_bid"),
                F.col(f"y.{id_col}").alias("_iid"),
            )
            .distinct()
        )
        sig_map = surv3_sig.select(F.col(id_col), F.col("sig"))
        est3 = (
            p3.join(sig_map.select(F.col(id_col).alias("_bid"), F.col("sig").alias("_sb")), "_bid")
            .join(sig_map.select(F.col(id_col).alias("_iid"), F.col("sig").alias("_si")), "_iid")
            .withColumn(
                "_est",
                F.aggregate(
                    F.zip_with("_sb", "_si", lambda a, b: (a == b).cast("int")),
                    F.lit(0),
                    lambda acc, x: acc + x,
                )
                / F.lit(n_hashes),
            )
            .filter(F.col("_est") >= est_threshold)
        )
        internal_near = (
            est3.groupBy("_bid")
            .agg(F.min("_iid").alias("matched_id"))
            .select(
                F.col("_bid").alias(id_col),
                F.lit("near_dup").alias("status"),
                "matched_id",
            )
        )
        admitted_ids = admitted_ids.join(
            internal_near.select(id_col), id_col, "left_anti"
        )

    admitted = admitted_ids.select(
        id_col, F.lit("admitted").alias("status"),
        F.lit(None).cast("bigint").alias("matched_id"),
    )
    decisions = internal_dup.unionByName(exact_hit).unionByName(near_hit).unionByName(admitted)
    if internal_near is not None:
        decisions = decisions.unionByName(internal_near)
    admitted_sigs = sig_b.join(admitted.select(id_col), id_col, "left_semi").select(
        id_col, "text_hash", "sig"
    )
    return decisions, admitted_sigs, sig_b.unpersist


def ingest_stream(
    stream_docs: DataFrame,
    index_dir: str,
    decisions_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 8,
    bands: int = 4,
    k: int = 3,
    est_threshold: float = 0.8,
    auto_compact_max_files: int | None = None,
    decisions_max_dirs: int | None = None,
    decisions_keep_last: int = 8,
):
    """Wire the screen into a foreachBatch stream: each micro-batch reads
    the current index, screens, appends decisions + admitted signatures.
    foreachBatch is the right tool (not a stateful operator): the index
    must outlive the query, be readable by OTHER jobs, and hold corpus-
    scale state that belongs on disk, not in a state store. Batches are
    processed sequentially per stream, so read-then-append is safe.
    Returns the started StreamingQuery (caller awaits/stops).

    Commit protocol — foreachBatch is at-least-once, this makes the batch
    EFFECTIVELY exactly-once. A replayed batch keeps its batch_id, so:

    * a batch_id commit marker (``{index_dir}/_commits/{batch_id}``,
      written LAST) turns a replay of a fully committed batch into a
      no-op;
    * decisions land in a per-batch directory (``batch={batch_id}``)
      with mode=overwrite, so re-running a crashed batch replaces its
      partial decisions instead of double-appending (the sink reads the
      root; ``batch`` surfaces as a partition column = free provenance);
    * the bloom merge is an idempotent OR (a superset sidecar is fp-only
      by contract);
    * the screens exclude index rows whose id is in the current batch,
      so if the crash hit AFTER the index append but BEFORE the marker,
      the replay does not flag the batch's own prior admissions as
      duplicates of themselves — decisions come out identical to the
      uninterrupted run. (Stream ids are unique across batches — the
      same contract the decisions sink already relies on.) In that one
      marker-create-sized window the replayed index append duplicates
      the batch's signature rows; duplicate rows are decision-invariant
      for later batches (same min matched id). With auto-compaction
      enabled the next compaction dedups them (``compact_index`` is
      called with ``dedup_cols=[id_col]``); without it they persist
      harmlessly — row-count consumers of the raw index should
      countDistinct the id column.

    ``auto_compact_max_files`` (optional) runs the
    ``similarity.maybe_compact_index`` policy in the batch gap after
    each commit: when a hot hp= directory accretes more files than the
    threshold, the index is rewritten to well-sized files. foreachBatch
    executes batches sequentially, so no reader races the swap, and the
    commit-marker directory is carried through compaction.
    """

    def _process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        # A compact_index swap that crashed between its two renames parks
        # the artifact at {index_dir}__precompact with index_dir absent —
        # which the cold-start branch below would misread as "nothing
        # ingested yet" and silently rebuild from an empty index. Restore
        # it first; with auto-compaction running in every batch gap this
        # crash window recurs for the life of the stream.
        recover_interrupted_compaction(spark, index_dir)
        # a crash mid decisions-archive swap parks the archive at the
        # __decisions_precompact sibling — finish (or discard) it before
        # anything reads or writes the sink
        recover_decisions_compaction(spark, decisions_dir)
        _guard_decisions_layout(spark, decisions_dir)
        if batch_committed(spark, index_dir, batch_id):
            return  # at-least-once replay of a fully committed batch
        # Cold start ONLY: an absent index dir means nothing ingested yet.
        # Any other read failure (corrupt parquet, transient IO) must
        # propagate and fail the micro-batch — falling back to an empty
        # index there would silently admit duplicates and append duplicate
        # signature rows. foreachBatch retries the failed batch on restart.
        exact_index = None
        hp_dirs: set[str] = set()
        if _index_exists(spark, index_dir):
            hp_dirs = _hp_dirs(spark, index_dir)
            index = spark.read.schema(INDEX_SCHEMA).parquet(index_dir).select(
                "doc_id", "text_hash", "sig"
            )
            if hp_dirs:
                # canonical prefix-partitioned layout: Bloom-prune the
                # EXACT screen. The sidecar names the maybe-seen batch
                # hashes; their 2-char prefixes name exactly the hp=
                # directories the exact screen must read (basePath +
                # literal predicate, the partition-pruning recipe).
                bloom = _read_bloom(spark, index_dir)
                if bloom is not None and len(bloom) * 8 != BLOOM_BITS:
                    # width mismatch (BLOOM_BITS bumped between versions,
                    # or a truncated sidecar): probing it at the current
                    # width would yield false NEGATIVES — the one failure
                    # a bloom prune must never have. Treat as missing and
                    # rebuild below.
                    bloom = None
                if bloom is None:
                    # sidecar missing (e.g. bootstrap wrote only rows):
                    # build once from the stored hashes, persist for
                    # every later batch
                    bloom = bloom_bitmap_from_hashes(
                        index.select("text_hash"),
                        n_bits=BLOOM_BITS,
                        n_probes=BLOOM_PROBES,
                    )
                    _write_bloom(spark, index_dir, bloom)
                pos_pref = sorted(
                    {
                        r["hp"]
                        for r in batch.select(
                            _key_hash(text_col).alias("text_hash")
                        )
                        .distinct()
                        .withColumn(
                            "_m",
                            bloom_member_expr(
                                spark, bloom, "text_hash",
                                n_bits=BLOOM_BITS, n_probes=BLOOM_PROBES,
                            ),
                        )
                        .filter(F.col("_m"))
                        .select(
                            F.substring("text_hash", 1, 2).alias("hp")
                        )
                        .distinct()
                        .collect()  # bounded: <= 256 prefix rows
                    }
                    & hp_dirs
                )
                if pos_pref:
                    exact_index = (
                        spark.read.option("basePath", index_dir)
                        .schema(INDEX_SCHEMA)
                        .parquet(
                            *[f"{index_dir}/hp={p}" for p in pos_pref]
                        )
                        .filter(F.col("hp").isin(pos_pref))
                        .select("doc_id", "text_hash", "sig")
                    )
                else:
                    exact_index = spark.createDataFrame([], INDEX_SCHEMA)
        else:
            index = spark.createDataFrame([], INDEX_SCHEMA)
        # Replay shield (see commit protocol above): stored rows whose id
        # is in the current batch can only be this batch's own prior
        # admissions from a crash after the index append — excluding them
        # keeps replayed decisions identical to the uninterrupted run.
        # The batch-id frame is batch-sized; broadcast the anti-join.
        own = F.broadcast(batch.select(F.col(id_col)).distinct())
        index = index.join(own, id_col, "left_anti")
        if exact_index is not None:
            exact_index = exact_index.join(own, id_col, "left_anti")
        decisions, admitted_sigs, cleanup = screen_batch(
            batch, index, text_col, id_col, n_hashes, bands, k,
            est_threshold, exact_index=exact_index,
        )
        # materialize BOTH outputs, then write decisions BEFORE the index
        # append: appending to index_dir refreshes every cached relation
        # over that path, so a decisions plan still to be executed after
        # the append would recompute against the grown index and flag the
        # batch's own admissions as duplicates of themselves
        decisions = decisions.persist()
        admitted_sigs = admitted_sigs.persist()
        decisions.count()
        admitted_sigs.count()
        try:
            # per-batch overwrite, not append: a replayed batch REPLACES
            # its own (possibly partial) decisions — idempotent
            decisions.write.mode("overwrite").parquet(
                f"{decisions_dir}/batch={batch_id}"
            )
            # bloom BEFORE the index append: a crash between the two
            # leaves the sidecar a superset of the index (extra fp only)
            legacy_flat = _index_exists(spark, index_dir) and not hp_dirs
            if not legacy_flat:
                import numpy as np

                old = _read_bloom(spark, index_dir) if _index_exists(
                    spark, index_dir
                ) else None
                add = bloom_bitmap_from_hashes(
                    admitted_sigs.select("text_hash"),
                    n_bits=BLOOM_BITS,
                    n_probes=BLOOM_PROBES,
                )
                if old is not None and len(old) != len(add):
                    # stored sidecar width differs (BLOOM_BITS bumped
                    # between versions, or a truncated write). A
                    # batch-only bitmap would turn every stored hash
                    # bloom-NEGATIVE, the pruned exact screen would skip
                    # their directories, and duplicates would be silently
                    # admitted — the no-false-negative invariant. Rebuild
                    # membership from the FULL stored index at the
                    # current width instead, then OR the batch in.
                    old = bloom_bitmap_from_hashes(
                        spark.read.schema(INDEX_SCHEMA)
                        .parquet(index_dir)
                        .select("text_hash"),
                        n_bits=BLOOM_BITS,
                        n_probes=BLOOM_PROBES,
                    )
                if old is not None:
                    merged = (
                        np.frombuffer(old, dtype="uint8")
                        | np.frombuffer(add, dtype="uint8")
                    ).tobytes()
                else:
                    merged = add
                _write_bloom(spark, index_dir, merged)
                write_index(admitted_sigs, index_dir, mode="append")
            else:
                # legacy flat dir: appending hp= subdirs would corrupt
                # partition discovery — keep the original layout (and no
                # pruning) for dirs created before the canonical writer
                admitted_sigs.write.mode("append").parquet(index_dir)
            # marker LAST: everything above is durable, replay is a no-op
            mark_batch_committed(spark, index_dir, batch_id)
        finally:
            decisions.unpersist()
            admitted_sigs.unpersist()
            cleanup()
        if auto_compact_max_files is not None and not legacy_flat:
            from ..operators.similarity import maybe_compact_index

            maybe_compact_index(
                spark, index_dir, ["hp"],
                max_files_per_dir=auto_compact_max_files,
                # replay-window duplicate signature rows (see commit
                # protocol above) are repaired here
                dedup_cols=[id_col],
                cursor=batch_id,
            )
        if decisions_max_dirs is not None:
            # decisions-side retention (maybe_compact_decisions): runs
            # AFTER the commit marker, so every archived batch is final
            maybe_compact_decisions(
                spark, decisions_dir, batch_id,
                max_batch_dirs=decisions_max_dirs,
                keep_last=decisions_keep_last,
            )

    return (
        stream_docs.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
