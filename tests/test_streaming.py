"""Structured Streaming surfaces validated against their batch twins."""

import datetime as dt
import os

from pyspark.sql import functions as F

from practicum2_nof1_adhd_bd_spark.operators import daily
from practicum2_nof1_adhd_bd_spark.streaming import daily_stats_stream, sessionize_stream

ROWS = [
    ("2024-01-01 01:00:00", 1, 10.0),
    ("2024-01-01 02:00:00", 1, 20.0),
    ("2024-01-01 02:10:00", 2, 5.0),
    ("2024-01-02 09:00:00", 1, 30.0),
    ("2024-01-02 09:15:00", 1, 40.0),
]
SCHEMA = "ts timestamp, user_id int, value double"


def _write_source(spark, tmp_path):
    src = str(tmp_path / "stream_src")
    batch = spark.createDataFrame(
        [(dt.datetime.fromisoformat(t), u, v) for t, u, v in ROWS], SCHEMA
    )
    batch.write.mode("overwrite").parquet(src)
    return src, batch


def _run_stream(spark, stream_df, name, tmp_path):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def test_daily_stats_stream_matches_batch(spark, tmp_path):
    src, batch = _write_source(spark, tmp_path)
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    out = _run_stream(spark, daily_stats_stream(stream), "daily_stream_t", tmp_path)
    got = {r["date"]: r for r in out.collect()}
    want = {r["date"]: r for r in daily.daily_stats(batch).collect()}
    assert set(got) == set(want)
    for d in want:
        for c in ("n_events", "value_mean", "value_min", "value_max", "value_std"):
            assert got[d][c] == want[d][c], (d, c)


def test_sessionize_stream_gap_rule(spark, tmp_path):
    src, _ = _write_source(spark, tmp_path)
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    out = _run_stream(
        spark, sessionize_stream(stream, gap="30 minutes"), "sess_stream_t", tmp_path
    )
    rows = out.collect()
    u1 = sorted(
        [r for r in rows if r["user_id"] == 1], key=lambda r: r["session_start"]
    )
    # user 1: (01:00, 02:00 within 60min gap? no — 60 > 30 -> two sessions on day1)
    # then day2 (09:00, 09:15) one session
    assert len(u1) == 3
    assert u1[0]["n_events"] == 1 and u1[1]["n_events"] == 1
    assert u1[2]["n_events"] == 2 and u1[2]["value_sum"] == 70.0
    u2 = [r for r in rows if r["user_id"] == 2]
    assert len(u2) == 1 and u2[0]["n_events"] == 1


def test_stream_static_join_foreachbatch(spark, tmp_path):
    """Stream-static broadcast enrichment (J6 over a feed) delivered through
    a foreachBatch sink — results must equal the batch join+agg twin."""
    from practicum2_nof1_adhd_bd_spark.streaming import enriched_daily_stream

    src, batch = _write_source(spark, tmp_path)
    dim = spark.createDataFrame(
        [(1, "clinical"), (2, "control")], "user_id int, grp string"
    )
    collected = []

    def sink(bdf, _bid):
        collected.extend(bdf.collect())

    stream = spark.readStream.schema(SCHEMA).parquet(src)
    q = (
        enriched_daily_stream(stream, dim)
        .writeStream.foreachBatch(sink)
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_enrich"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted((str(r["date"]), r["grp"], r["n_events"], r["value_sum"]) for r in collected)
    expect = sorted(
        (str(r["date"]), r["grp"], r["n_events"], r["value_sum"])
        for r in (
            batch.join(dim, "user_id", "left")
            .groupBy(F.to_date("ts").alias("date"), "grp")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 2).alias("value_sum"),
            )
        ).collect()
    )
    assert got == expect and len(got) == 3


def test_watermark_drops_late_rows(spark, tmp_path):
    """F4-as-watermark: once the watermark closes and evicts a window, a
    very-late row for that window is DROPPED — the emitted count is final
    and no duplicate window row appears. (A late row arriving while the
    window state is still live merges normally; finalization happens at
    eviction, which is the contract append mode exposes.)"""
    import time

    src = str(tmp_path / "late_src")
    batches = [
        # advances watermark to Jan 4 after this batch
        [(dt.datetime(2024, 1, 1, 12), 1, 10.0), (dt.datetime(2024, 1, 5, 12), 1, 20.0)],
        # watermark -> Jan 5; Jan-1 window closes, emits, state evicted
        [(dt.datetime(2024, 1, 6, 12), 1, 30.0)],
        # VERY LATE Jan-1 row (post-eviction) -> dropped, no duplicate emit
        [(dt.datetime(2024, 1, 1, 14), 1, 99.0), (dt.datetime(2024, 1, 7, 12), 1, 40.0)],
    ]
    for i, b in enumerate(batches):
        mode = "overwrite" if i == 0 else "append"
        spark.createDataFrame(b, SCHEMA).coalesce(1).write.mode(mode).parquet(src)
        time.sleep(1.1)  # distinct mtimes keep file->micro-batch order stable
    stream = (
        spark.readStream.schema(SCHEMA).option("maxFilesPerTrigger", 1).parquet(src)
    )
    q = (
        daily_stats_stream(stream, watermark="1 day")
        .writeStream.format("memory")
        .queryName("late_t")
        .outputMode("append")  # emits only watermark-closed windows
        .option("checkpointLocation", str(tmp_path / "ckpt_late"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = sorted(
        [(str(r["date"]), r["n_events"], r["value_mean"]) for r in
         spark.sql("SELECT * FROM late_t").collect()]
    )
    # Jan-1 emitted EXACTLY ONCE, without the very-late 99.0 row
    assert rows == [("2024-01-01", 1, 10.0), ("2024-01-05", 1, 20.0)]


def test_incremental_corpus_ingest_stream(spark, tmp_path):
    """foreachBatch incremental ingestion: batch 1 seeds the signature
    index; batch 2 (processed later, same checkpoint) is screened against
    the STORED index — exact copy flagged, near copy flagged via the
    MinHash estimate, novel doc admitted and appended."""
    import json

    from practicum2_nof1_adhd_bd_spark.streaming import corpus_ingest as ci

    base = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango "
        "uniform victor whiskey xray yankee zulu one two three four"
    )
    src = tmp_path / "src"
    src.mkdir()
    index_dir = str(tmp_path / "index")
    dec_dir = str(tmp_path / "decisions")
    ckpt = str(tmp_path / "ckpt")

    def land(name, rows):
        tmp = src / f".{name}.tmp"
        with open(tmp, "w") as f:
            for doc_id, text in rows:
                f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
        tmp.rename(src / name)

    def run_once():
        stream = spark.readStream.schema("doc_id bigint, text string").json(
            str(src)
        )
        q = ci.ingest_stream(stream, index_dir, dec_dir, ckpt)
        assert q.awaitTermination(120)

    land("b1.json", [(1, base), (2, "hi"), (3, base)])
    run_once()
    # same checkpoint -> only the new file is processed as batch 2
    land(
        "b2.json",
        [
            (11, base),
            (12, base + " five"),
            (13, "completely different words entirely here about other topics"),
        ],
    )
    run_once()

    dec = {
        r["doc_id"]: r
        for r in spark.read.parquet(dec_dir).collect()
    }
    assert dec[1]["status"] == "admitted"
    assert dec[2]["status"] == "admitted"  # < k tokens: exact-screen only
    assert dec[3]["status"] == "exact_dup" and dec[3]["matched_id"] == 1
    assert dec[11]["status"] == "exact_dup" and dec[11]["matched_id"] == 1
    assert dec[12]["status"] == "near_dup" and dec[12]["matched_id"] == 1
    assert dec[13]["status"] == "admitted"
    idx = spark.read.schema(ci.INDEX_SCHEMA).parquet(index_dir)
    assert sorted(r["doc_id"] for r in idx.collect()) == [1, 2, 13]


def test_streaming_ingest_decisions_leaves_no_work_dir(spark, sf_dir):
    """The streaming ingest query removes its per-call work dir (source,
    index, sink, checkpoint) and still returns the batch twin's
    decisions."""
    import glob
    import tempfile

    from practicum2_nof1_adhd_bd_spark.registry import QUERIES

    pattern = os.path.join(tempfile.gettempdir(), "spark_graft_ingest_*")
    before = set(glob.glob(pattern))
    got = QUERIES["streaming_ingest_decisions"](spark, sf_dir).collect()
    assert set(glob.glob(pattern)) <= before
    want = QUERIES["incremental_ingest_decisions"](spark, sf_dir).collect()
    assert got and sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_screen_batch_cold_start_and_empty_batch(spark):
    """Cold start (empty index) admits everything; an empty batch yields
    empty decisions without erroring — both are real foreachBatch states
    (first micro-batch ever, and a trigger with no new files)."""
    from practicum2_nof1_adhd_bd_spark.streaming import corpus_ingest as ci

    empty_index = spark.createDataFrame([], ci.INDEX_SCHEMA)
    batch = spark.createDataFrame(
        [(1, "one two three four five"), (2, "six seven eight nine ten")],
        "doc_id bigint, text string",
    )
    dec, sigs, cleanup = ci.screen_batch(batch, empty_index)
    try:
        assert {r["status"] for r in dec.collect()} == {"admitted"}
        assert sigs.count() == 2
    finally:
        cleanup()

    empty_batch = spark.createDataFrame([], "doc_id bigint, text string")
    dec2, sigs2, cleanup2 = ci.screen_batch(empty_batch, empty_index)
    try:
        assert dec2.count() == 0
        assert sigs2.count() == 0
    finally:
        cleanup2()


def test_screen_batch_internal_near(spark):
    """batch_internal_near=True: two mutually-near (non-exact) docs in ONE
    batch admit only the smaller id — matching what a split across two
    micro-batches decides — while the default screen admits both (index-only
    near check)."""
    from practicum2_nof1_adhd_bd_spark.streaming import corpus_ingest as ci

    base = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango"
    )
    empty_index = spark.createDataFrame([], ci.INDEX_SCHEMA)
    batch = spark.createDataFrame(
        [(1, base), (2, base + " extra"), (3, "totally different other words here now")],
        "doc_id bigint, text string",
    )

    dec_def, _s, cl = ci.screen_batch(batch, empty_index)
    try:
        st = {r["doc_id"]: r["status"] for r in dec_def.collect()}
        assert st == {1: "admitted", 2: "admitted", 3: "admitted"}
    finally:
        cl()

    dec_in, sigs_in, cl2 = ci.screen_batch(
        batch, empty_index, batch_internal_near=True
    )
    try:
        rows = {r["doc_id"]: r for r in dec_in.collect()}
        assert rows[1]["status"] == "admitted"
        assert rows[2]["status"] == "near_dup" and rows[2]["matched_id"] == 1
        assert rows[3]["status"] == "admitted"
        # the near-dropped doc's signature must NOT enter the index
        assert sorted(r["doc_id"] for r in sigs_in.collect()) == [1, 3]
    finally:
        cl2()


def test_ingest_stream_cold_start_vs_corrupt_index(spark, tmp_path):
    """ingest_stream treats an ABSENT index dir as cold start (admit all),
    but a present-yet-unreadable index dir must FAIL the micro-batch rather
    than silently screen against an empty index (which would admit
    duplicates and append duplicate signature rows)."""
    import json

    import pytest

    from practicum2_nof1_adhd_bd_spark.streaming import corpus_ingest as ci

    src = tmp_path / "src"
    src.mkdir()
    with open(src / "b1.json", "w") as f:
        f.write(json.dumps({"doc_id": 1, "text": "one two three four five"}) + "\n")

    # cold start: index dir absent -> batch admitted, index created
    stream = spark.readStream.schema("doc_id bigint, text string").json(str(src))
    q = ci.ingest_stream(
        stream, str(tmp_path / "index"), str(tmp_path / "dec"), str(tmp_path / "ckpt")
    )
    assert q.awaitTermination(120)
    assert spark.read.parquet(str(tmp_path / "dec")).collect()[0]["status"] == "admitted"

    # corrupt index: dir exists but holds garbage -> the batch must error
    bad_index = tmp_path / "bad_index"
    bad_index.mkdir()
    with open(bad_index / "part-00000.parquet", "w") as f:
        f.write("this is not parquet")
    stream2 = spark.readStream.schema("doc_id bigint, text string").json(str(src))
    q2 = ci.ingest_stream(
        stream2, str(bad_index), str(tmp_path / "dec2"), str(tmp_path / "ckpt2")
    )
    with pytest.raises(Exception):
        q2.awaitTermination(120)
        q2.stop()
        # foreachBatch errors surface via the query's exception
        if q2.exception() is not None:
            raise RuntimeError(q2.exception().desc)


def test_index_compaction_reclaims_files_and_preserves_results(
    spark, tmp_path
):
    """File-hygiene contract for an append-grown index: (a) each batch
    appended with the repartition-before-partitionBy recipe writes at most
    ONE file per touched bucket (not tasks x buckets), (b) compact_index
    collapses the per-batch accretion to ~one file per bucket, and (c)
    query_vector_index returns bit-identical rows before and after the
    swap."""
    import os

    from practicum2_nof1_adhd_bd_spark.operators import similarity as sim

    index_dir = str(tmp_path / "index")

    def append_batch(rows):
        emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
        sim.vector_index_rows(emb).repartition("bucket").write.partitionBy(
            "bucket"
        ).mode("append").parquet(index_dir)

    # 6 batches concentrated on TWO sign buckets so each directory
    # accretes one file per batch; magnitudes vary so nothing is an
    # exact duplicate
    signs = [(1.0, 1.0, 1.0, 1.0), (-1.0, 1.0, -1.0, 1.0)]
    for b in range(6):
        rows = []
        for j in range(2):
            s = signs[j]
            rows.append(
                (
                    b * 10 + j,
                    [s[i] * (1.0 + 0.37 * ((b + j + i) % 7)) for i in range(4)],
                )
            )
        append_batch(rows)

    def files_per_bucket():
        out = {}
        for d in os.listdir(index_dir):
            if not d.startswith("bucket="):
                continue
            out[d] = len(
                [
                    f
                    for f in os.listdir(os.path.join(index_dir, d))
                    if f.endswith(".parquet")
                ]
            )
        return out

    before = files_per_bucket()
    # (a) the append recipe: a bucket touched by k batches holds exactly
    # k files (one per append), never tasks-times-more
    assert max(before.values()) > 1          # accretion actually happened
    assert sum(before.values()) <= 12        # <= one file per batch-bucket

    qv = [1.0, 0.3, -0.2, 0.6]
    res_before = sim.query_vector_index(
        spark, index_dir, qv, k=10, probe_hamming=4
    ).collect()

    nb, na = sim.compact_index(spark, index_dir)
    after = files_per_bucket()
    assert nb == sum(before.values())
    assert na == sum(after.values())
    assert na < nb                            # (b) files reclaimed
    assert max(after.values()) == 1           # one well-sized file per dir

    res_after = sim.query_vector_index(
        spark, index_dir, qv, k=10, probe_hamming=4
    ).collect()
    assert res_before == res_after            # (c) serving unchanged


def test_ingest_bloom_sidecar_and_pruned_screen_parity(spark, tmp_path):
    """r09 canonical index layout: cold-start ingest writes hp=xx
    partition dirs plus the _bloom.bin sidecar (invisible to parquet
    reads); a later batch's decisions under the Bloom-pruned exact
    screen are IDENTICAL to screening the full index directly; the
    sidecar has no false negatives over the stored hashes."""
    import json
    import os

    import numpy as np
    from pyspark.sql import functions as F

    from practicum2_nof1_adhd_bd_spark.operators import dedup
    from practicum2_nof1_adhd_bd_spark.streaming import corpus_ingest as ci

    texts = {
        i: f"document number {i} with shared words alpha bravo charlie "
           f"delta echo foxtrot golf hotel india juliet kilo"
        for i in range(20)
    }
    src = tmp_path / "src"
    src.mkdir()
    index_dir = str(tmp_path / "index")
    with open(src / "b1.json", "w") as f:
        for i in range(20):
            f.write(json.dumps({"doc_id": i, "text": texts[i]}) + "\n")
    stream = spark.readStream.schema("doc_id bigint, text string").json(
        str(src)
    )
    q = ci.ingest_stream(
        stream, index_dir, str(tmp_path / "dec"), str(tmp_path / "ckpt")
    )
    assert q.awaitTermination(120)

    # canonical layout + sidecar
    entries = os.listdir(index_dir)
    assert ci._BLOOM_FILE in entries
    assert any(e.startswith("hp=") for e in entries)
    # parquet read is undisturbed by the sidecar
    idx = spark.read.schema(ci.INDEX_SCHEMA).parquet(index_dir)
    assert idx.count() == 20

    # no false negatives: every stored hash tests positive
    bloom = ci._read_bloom(spark, index_dir)
    assert bloom is not None and len(bloom) == ci.BLOOM_BITS // 8
    assert np.frombuffer(bloom, dtype=np.uint8).any()
    member = idx.select("text_hash").withColumn(
        "_m",
        dedup.bloom_member_expr(
            spark, bloom, "text_hash",
            n_bits=ci.BLOOM_BITS, n_probes=ci.BLOOM_PROBES,
        ),
    )
    assert member.filter(~F.col("_m")).count() == 0

    # batch 2 through the stream (pruned path) vs direct full screen
    b2 = [(100, texts[3]), (101, "completely novel words here today"),
          (102, texts[7])]
    with open(src / ".b2.tmp", "w") as f:
        for d, t in b2:
            f.write(json.dumps({"doc_id": d, "text": t}) + "\n")
    os.rename(src / ".b2.tmp", src / "b2.json")
    full_index = idx.select("doc_id", "text_hash", "sig")
    batch_df = spark.createDataFrame(b2, "doc_id long, text string")
    dec_direct, _sigs, cleanup = ci.screen_batch(batch_df, full_index)
    expected = sorted(map(tuple, dec_direct.collect()))
    cleanup()

    stream2 = spark.readStream.schema("doc_id bigint, text string").json(
        str(src)
    )
    q2 = ci.ingest_stream(
        stream2, index_dir, str(tmp_path / "dec"), str(tmp_path / "ckpt")
    )
    assert q2.awaitTermination(120)
    got = sorted(
        map(
            tuple,
            spark.read.schema(ci.DECISION_SCHEMA)
            .parquet(str(tmp_path / "dec"))
            .select("doc_id", "status", "matched_id")
            .filter(F.col("doc_id") >= 100)
            .collect(),
        )
    )
    assert got == expected
    assert {d for d, *_ in got} == {100, 101, 102}


def test_corpus_index_compaction_preserves_sidecar_and_decisions(
    spark, tmp_path
):
    """compact_index over the hp-partitioned corpus signature index:
    (a) per-batch file accretion collapses (prefix dirs hit by several
    batches hold several files before, one after), (b) the _bloom.bin
    sidecar SURVIVES the swap byte-identical (compaction never changes
    content, so the membership sidecar stays exactly valid — no
    full-index rebuild on the next screen), and (c) a post-compaction
    batch's decisions are identical to a direct screen of the full
    index."""
    import json
    import os

    from pyspark.sql import functions as F

    from practicum2_nof1_adhd_bd_spark.operators import similarity as sim
    from practicum2_nof1_adhd_bd_spark.streaming import corpus_ingest as ci

    src = tmp_path / "src"
    src.mkdir()
    index_dir = str(tmp_path / "index")
    dec_dir = str(tmp_path / "dec")
    ckpt = str(tmp_path / "ckpt")

    def land(name, rows):
        p = src / f".{name}.tmp"
        with open(p, "w") as f:
            for doc_id, text in rows:
                f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
        os.rename(p, src / name)

    def run_once():
        stream = spark.readStream.schema("doc_id bigint, text string").json(
            str(src)
        )
        q = ci.ingest_stream(stream, index_dir, dec_dir, ckpt)
        assert q.awaitTermination(120)

    # 3 batches x 30 distinct docs: 90 md5 prefixes over 256 hp dirs, so
    # tens of prefixes are hit by more than one batch (deterministic
    # texts -> deterministic layout) and accrete multiple files
    for b in range(3):
        land(
            f"b{b}.json",
            [
                (b * 100 + i,
                 f"corpus compaction doc {b * 100 + i} alpha bravo")
                for i in range(30)
            ],
        )
        run_once()

    def total_files():
        n = 0
        for d in os.listdir(index_dir):
            if d.startswith("hp="):
                n += len(
                    [
                        f
                        for f in os.listdir(os.path.join(index_dir, d))
                        if f.endswith(".parquet")
                    ]
                )
        return n

    bloom_before = ci._read_bloom(spark, index_dir)
    assert bloom_before is not None
    files_before = total_files()

    nb, na = sim.compact_index(spark, index_dir, partition_cols=["hp"])
    assert nb == files_before
    assert na == total_files() and na < nb          # (a) reclaimed

    # (b) sidecar survived byte-identical — next screen reuses it
    assert ci._read_bloom(spark, index_dir) == bloom_before

    # (c) decisions identical to the direct full-index screen
    idx = (
        spark.read.schema(ci.INDEX_SCHEMA)
        .option("basePath", index_dir)
        .parquet(index_dir)
        .select("doc_id", "text_hash", "sig")
    )
    assert idx.count() == 90
    b3 = [
        (900, "corpus compaction doc 5 alpha bravo"),       # exact dup of 5
        (901, "a genuinely novel document after compaction"),
        (902, "corpus compaction doc 117 alpha bravo"),     # exact dup of 117
    ]
    batch_df = spark.createDataFrame(b3, "doc_id long, text string")
    dec_direct, _sigs, cleanup = ci.screen_batch(batch_df, idx)
    expected = sorted(map(tuple, dec_direct.collect()))
    cleanup()

    land("b3.json", b3)
    run_once()
    got = sorted(
        map(
            tuple,
            spark.read.schema(ci.DECISION_SCHEMA)
            .parquet(dec_dir)
            .select("doc_id", "status", "matched_id")
            .filter(F.col("doc_id") >= 900)
            .collect(),
        )
    )
    assert got == expected
    statuses = {d: s for d, s, _m in got}
    assert statuses[900] == "exact_dup" and statuses[901] == "admitted"


def _corpus_ingest_harness(spark, tmp_path, sub):
    """(land, run_once, dirs) helpers for a jsonl-file-fed corpus ingest."""
    import json

    from practicum2_nof1_adhd_bd_spark.streaming import corpus_ingest as ci

    root = tmp_path / sub
    src = root / "src"
    src.mkdir(parents=True)
    index_dir = str(root / "index")
    dec_dir = str(root / "dec")
    ckpt = str(root / "ckpt")

    def land(name, rows):
        p = src / f".{name}.tmp"
        with open(p, "w") as f:
            for doc_id, text in rows:
                f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
        p.rename(src / name)

    def run_once(expect_fail=False):
        stream = spark.readStream.schema("doc_id bigint, text string").json(
            str(src)
        )
        q = ci.ingest_stream(stream, index_dir, dec_dir, ckpt)
        if expect_fail:
            failed = False
            try:
                q.awaitTermination(120)
            except Exception:
                failed = True
            assert failed, "stream was expected to fail"
        else:
            assert q.awaitTermination(120)

    return land, run_once, index_dir, dec_dir


def test_ingest_bloom_width_mismatch_still_rejects_stored_dups(
    spark, tmp_path
):
    """A stored sidecar whose width differs from BLOOM_BITS (version bump
    or truncated write) must NOT degrade to a batch-only bitmap — that
    would turn every stored hash bloom-negative, skip their hp dirs in
    the pruned exact screen, and silently admit duplicates. The screen
    rebuilds membership from the full stored index instead: a previously
    stored duplicate is still rejected, and the sidecar comes back at the
    current width."""
    from practicum2_nof1_adhd_bd_spark.streaming import corpus_ingest as ci

    land, run_once, index_dir, dec_dir = _corpus_ingest_harness(
        spark, tmp_path, "bloomw"
    )
    base = "the quick brown fox jumps over the lazy dog again and again"
    land("b1.json", [(1, base), (2, "other words entirely here")])
    run_once()

    # corrupt: replace the sidecar with a wrong-width (truncated) bitmap
    ci._write_bloom(spark, index_dir, b"\x00" * 16)

    land("b2.json", [(11, base), (12, "a novel doc after corruption")])
    run_once()

    dec = {
        r["doc_id"]: r for r in spark.read.parquet(dec_dir).collect()
    }
    assert dec[11]["status"] == "exact_dup" and dec[11]["matched_id"] == 1
    assert dec[12]["status"] == "admitted"
    assert len(ci._read_bloom(spark, index_dir)) * 8 == ci.BLOOM_BITS


def test_ingest_crash_between_decisions_and_index_append_is_idempotent(
    spark, tmp_path, monkeypatch
):
    """Crash injection for the foreachBatch commit protocol: batch 2 fails
    BETWEEN the decisions write and the index append, the stream is
    restarted (same checkpoint -> same batch_id replays), and the final
    decisions + index are hash-equal to an uninterrupted control run —
    no double-appended decisions, no duplicate signature rows, no
    self-flagged admissions."""
    from practicum2_nof1_adhd_bd_spark.streaming import corpus_ingest as ci

    base = "pack my box with five dozen liquor jugs for the daily run"
    b1 = [(1, base), (2, "completely different content here")]
    b2 = [(11, base), (12, "novel words that match nothing stored")]

    # control: uninterrupted run
    land, run_once, c_index, c_dec = _corpus_ingest_harness(
        spark, tmp_path, "control"
    )
    land("b1.json", b1)
    run_once()
    land("b2.json", b2)
    run_once()

    def read_state(index_dir, dec_dir):
        dec = sorted(
            map(
                tuple,
                spark.read.schema(ci.DECISION_SCHEMA)
                .parquet(dec_dir)
                .select("doc_id", "status", "matched_id")
                .collect(),
            )
        )
        idx = sorted(
            map(
                tuple,
                spark.read.schema(ci.INDEX_SCHEMA)
                .option("basePath", index_dir)
                .parquet(index_dir)
                .select("doc_id", "text_hash")
                .collect(),
            )
        )
        return dec, idx

    want_dec, want_idx = read_state(c_index, c_dec)

    # crash run: write_index raises once, exactly at the injection point
    land, run_once, x_index, x_dec = _corpus_ingest_harness(
        spark, tmp_path, "crash"
    )
    land("b1.json", b1)
    run_once()

    real_write_index = ci.write_index
    state = {"fail": True}

    def failing_write_index(sig_df, index_dir, mode="overwrite"):
        if state["fail"]:
            state["fail"] = False
            raise IOError("injected crash between decisions and index append")
        return real_write_index(sig_df, index_dir, mode)

    monkeypatch.setattr(ci, "write_index", failing_write_index)
    land("b2.json", b2)
    run_once(expect_fail=True)   # decisions written, index append failed
    run_once()                   # restart: same batch_id replays

    got_dec, got_idx = read_state(x_index, x_dec)
    assert got_dec == want_dec
    assert got_idx == want_idx
    # replaying a fully committed batch is a no-op (marker short-circuit)
    assert ci.batch_committed(spark, x_index, 1)
    n_before = spark.read.parquet(x_dec).count()
    run_once()
    assert spark.read.parquet(x_dec).count() == n_before


def test_corpus_ingest_crash_before_marker_replay_idempotent(
    spark, tmp_path, monkeypatch
):
    """Worst-window crash for the CORPUS ingest: the index append
    committed but the batch marker did not. The replay must not flag the
    batch's own prior admissions as duplicates of themselves — the
    own-id shield excludes them from both screens — so decisions come
    out identical to an uninterrupted control run."""
    from practicum2_nof1_adhd_bd_spark.streaming import corpus_ingest as ci

    base = "sphinx of black quartz judge my vow again and again today"
    b1 = [(1, base), (2, "some other unrelated content entirely")]
    b2 = [(11, base), (12, "fresh novel words matching nothing stored")]

    land, run_once, c_index, c_dec = _corpus_ingest_harness(
        spark, tmp_path, "mcontrol"
    )
    land("b1.json", b1)
    run_once()
    land("b2.json", b2)
    run_once()

    def read_dec(dec_dir):
        return sorted(
            map(
                tuple,
                spark.read.schema(ci.DECISION_SCHEMA)
                .parquet(dec_dir)
                .select("doc_id", "status", "matched_id")
                .collect(),
            )
        )

    want = read_dec(c_dec)

    land, run_once, x_index, x_dec = _corpus_ingest_harness(
        spark, tmp_path, "mcrash"
    )
    land("b1.json", b1)
    run_once()

    real_mark = ci.mark_batch_committed
    state = {"fail": True}

    def failing_mark(spark_, index_dir, batch_id):
        if state["fail"]:
            state["fail"] = False
            raise IOError("injected crash after index append, before marker")
        return real_mark(spark_, index_dir, batch_id)

    monkeypatch.setattr(ci, "mark_batch_committed", failing_mark)
    land("b2.json", b2)
    run_once(expect_fail=True)   # index already holds batch 1's admissions
    run_once()                   # replay: own-id shield keeps decisions right

    assert read_dec(x_dec) == want
    # the stored index may carry duplicate signature ROWS for the batch
    # (documented marker-window residue); the distinct id set must match
    ids = sorted(
        r["doc_id"]
        for r in spark.read.schema(ci.INDEX_SCHEMA)
        .option("basePath", x_index)
        .parquet(x_index)
        .select("doc_id")
        .distinct()
        .collect()
    )
    want_ids = sorted(
        r["doc_id"]
        for r in spark.read.schema(ci.INDEX_SCHEMA)
        .option("basePath", c_index)
        .parquet(c_index)
        .select("doc_id")
        .distinct()
        .collect()
    )
    assert ids == want_ids


def test_maybe_compact_index_policy(spark, tmp_path):
    """The compaction policy fires only past the files-per-directory
    threshold, leaves the artifact untouched below it, and serving stays
    bit-identical across a triggered compaction."""
    from practicum2_nof1_adhd_bd_spark.operators import similarity as sim
    from practicum2_nof1_adhd_bd_spark.streaming import corpus_ingest as ci

    index_dir = str(tmp_path / "idx")
    for b in range(4):
        batch = spark.createDataFrame(
            [
                # same TEXTS every batch (fresh ids): identical hashes
                # land in the same hp= dirs, so hot dirs accrete one
                # file per append
                (b * 10 + i, f"policy doc {i} alpha bravo charlie")
                for i in range(6)
            ],
            "doc_id long, text string",
        )
        ci.write_index(
            ci._batch_signatures(batch, "text", "doc_id", 8, 3),
            index_dir,
            mode="append",
        )

    # 4 appends -> hot hp dirs hold up to 4 files; generous threshold: no-op
    did, nb, na = sim.maybe_compact_index(
        spark, index_dir, ["hp"], max_files_per_dir=16
    )
    assert did is False and nb == na

    rows_before = sorted(
        map(
            tuple,
            spark.read.schema(ci.INDEX_SCHEMA)
            .option("basePath", index_dir)
            .parquet(index_dir)
            .select("doc_id", "text_hash")
            .collect(),
        )
    )
    # tight threshold: compaction fires and reclaims files
    did, nb, na = sim.maybe_compact_index(
        spark, index_dir, ["hp"], max_files_per_dir=1
    )
    assert did is True and na < nb
    rows_after = sorted(
        map(
            tuple,
            spark.read.schema(ci.INDEX_SCHEMA)
            .option("basePath", index_dir)
            .parquet(index_dir)
            .select("doc_id", "text_hash")
            .collect(),
        )
    )
    assert rows_after == rows_before


def test_ingest_stream_auto_compaction_end_to_end(spark, tmp_path):
    """ingest_stream(auto_compact_max_files=1): compaction triggers in
    the batch gaps of a live stream, the bloom sidecar and commit
    markers survive the swaps, and decisions across batches are
    identical to an uncompacted control run."""
    from practicum2_nof1_adhd_bd_spark.streaming import corpus_ingest as ci

    base = "how vexingly quick daft zebras jump over and over again"

    def harness(sub, **kw):
        import json

        root = tmp_path / sub
        src = root / "src"
        src.mkdir(parents=True)
        index_dir = str(root / "index")
        dec_dir = str(root / "dec")
        ckpt = str(root / "ckpt")

        def land(name, rows):
            p = src / f".{name}.tmp"
            with open(p, "w") as f:
                for doc_id, text in rows:
                    f.write(
                        json.dumps({"doc_id": doc_id, "text": text}) + "\n"
                    )
            p.rename(src / name)

        def run_once():
            stream = spark.readStream.schema(
                "doc_id bigint, text string"
            ).json(str(src))
            q = ci.ingest_stream(stream, index_dir, dec_dir, ckpt, **kw)
            assert q.awaitTermination(120)

        return land, run_once, index_dir, dec_dir

    batches = [
        [(1, base), (2, "first batch other content")],
        [(11, base), (12, "second batch novel words")],
        [(21, base), (22, "third batch more novel words")],
    ]

    land, run_once, _c_idx, c_dec = harness("nocompact")
    for b, rows in enumerate(batches):
        land(f"b{b}.json", rows)
        run_once()
    want = sorted(
        map(
            tuple,
            spark.read.schema(ci.DECISION_SCHEMA)
            .parquet(c_dec)
            .select("doc_id", "status", "matched_id")
            .collect(),
        )
    )

    land, run_once, x_idx, x_dec = harness(
        "autocompact", auto_compact_max_files=1
    )
    for b, rows in enumerate(batches):
        land(f"b{b}.json", rows)
        run_once()
    got = sorted(
        map(
            tuple,
            spark.read.schema(ci.DECISION_SCHEMA)
            .parquet(x_dec)
            .select("doc_id", "status", "matched_id")
            .collect(),
        )
    )
    assert got == want
    # bloom and markers survived the mid-stream compactions
    assert ci._read_bloom(spark, x_idx) is not None
    assert ci.batch_committed(spark, x_idx, 2)


def test_compact_index_preserves_all_digit_partition_names(spark, tmp_path):
    """Partition directory names must round-trip BYTE-FOR-BYTE through
    compaction. With Spark's partition-column type inference on, an
    artifact whose every hp= value is all-digits ('hp=07', 'hp=12') is
    re-typed int during the compaction read and rewritten unpadded
    ('hp=7') — and the Bloom-pruned exact screen intersects 2-char
    string prefixes against directory names, so those hashes would be
    silently skipped (dup admitted). compact_index reads with inference
    disabled, so string values are exactly the directory-name text."""
    import os

    from practicum2_nof1_adhd_bd_spark.operators import similarity as sim

    index_dir = str(tmp_path / "digit_idx")
    rows = [
        (1, "07" + "a" * 30, [1, 2], "07"),
        (2, "12" + "b" * 30, [3, 4], "12"),
        (3, "99" + "c" * 30, [5, 6], "99"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text_hash string, sig array<bigint>, hp string"
    )
    df.write.partitionBy("hp").parquet(index_dir)
    before = {
        n for n in os.listdir(index_dir) if n.startswith("hp=")
    }
    assert before == {"hp=07", "hp=12", "hp=99"}
    sim.compact_index(spark, index_dir, partition_cols=["hp"])
    after = {n for n in os.listdir(index_dir) if n.startswith("hp=")}
    assert after == before  # 'hp=07' NOT rewritten as 'hp=7'
    got = sorted(
        (r["doc_id"], r["text_hash"])
        for r in spark.read.parquet(index_dir)
        .select("doc_id", "text_hash")
        .collect()
    )
    assert got == sorted((r[0], r[1]) for r in rows)


def test_recover_interrupted_compaction_restores_parked_artifact(
    spark, tmp_path
):
    """A crash between compact_index's two renames leaves the artifact
    parked at path__precompact with path absent — exactly the state the
    ingest cold-start check would misread as 'nothing ingested yet'.
    Recovery renames it back; a committed-swap leftover (both exist) is
    left alone."""
    import os

    from practicum2_nof1_adhd_bd_spark.operators import similarity as sim

    index_dir = str(tmp_path / "park_idx")
    spark.createDataFrame(
        [(1, "ab" + "x" * 30, [1], "ab")],
        "doc_id long, text_hash string, sig array<bigint>, hp string",
    ).write.partitionBy("hp").parquet(index_dir)
    # simulate the crash window: first rename done, second never ran
    os.rename(index_dir, index_dir + "__precompact")
    assert sim.recover_interrupted_compaction(spark, index_dir) is True
    assert os.path.isdir(index_dir)
    assert not os.path.exists(index_dir + "__precompact")
    assert spark.read.parquet(index_dir).count() == 1
    # nothing parked: no-op
    assert sim.recover_interrupted_compaction(spark, index_dir) is False


def test_corpus_ingest_recovers_from_interrupted_compaction(
    spark, tmp_path
):
    """End-to-end: park the corpus signature index (crashed swap), then
    run the NEXT micro-batch — the stream must restore the artifact
    before its cold-start check, so a stored duplicate is still
    rejected instead of the stream silently rebuilding from empty."""
    import json
    import os

    from practicum2_nof1_adhd_bd_spark.streaming import corpus_ingest as ci

    base = (
        "recovery alpha bravo charlie delta echo foxtrot golf hotel "
        "india juliet kilo lima mike november oscar papa quebec romeo"
    )
    src = tmp_path / "rsrc"
    src.mkdir()
    index_dir = str(tmp_path / "ridx")
    dec_dir = str(tmp_path / "rdec")
    ckpt = str(tmp_path / "rckpt")

    def land(name, rows):
        tmp = src / f".{name}.tmp"
        with open(tmp, "w") as f:
            for doc_id, text in rows:
                f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
        tmp.rename(src / name)

    def run_once():
        stream = spark.readStream.schema("doc_id bigint, text string").json(
            str(src)
        )
        q = ci.ingest_stream(stream, index_dir, dec_dir, ckpt)
        assert q.awaitTermination(120)

    land("b1.json", [(1, base)])
    run_once()
    # crashed swap: artifact parked, index_dir gone
    os.rename(index_dir, index_dir + "__precompact")
    land("b2.json", [(21, base), (22, "another novel document words")])
    run_once()
    dec = {r["doc_id"]: r for r in spark.read.parquet(dec_dir).collect()}
    assert dec[21]["status"] == "exact_dup" and dec[21]["matched_id"] == 1
    assert dec[22]["status"] == "admitted"
    idx = spark.read.schema(ci.INDEX_SCHEMA).parquet(index_dir)
    assert sorted(r["doc_id"] for r in idx.collect()) == [1, 22]


def test_compact_index_dedup_cols_repairs_replay_duplicates(
    spark, tmp_path
):
    """compact_index(dedup_cols=[id]) drops the full-row-identical
    duplicates the marker-window replay can append, making the ingest
    docstring's 'compaction rewrites them away' claim literally true."""
    from practicum2_nof1_adhd_bd_spark.operators import similarity as sim
    from practicum2_nof1_adhd_bd_spark.streaming import corpus_ingest as ci

    index_dir = str(tmp_path / "dup_idx")
    batch = spark.createDataFrame(
        [(i, f"dedup doc {i} alpha bravo charlie") for i in range(5)],
        "doc_id long, text string",
    )
    sigs = ci._batch_signatures(batch, "text", "doc_id", 8, 3)
    ci.write_index(sigs, index_dir, mode="append")
    ci.write_index(sigs, index_dir, mode="append")  # replayed append
    assert (
        spark.read.schema(ci.INDEX_SCHEMA).parquet(index_dir).count() == 10
    )
    sim.compact_index(
        spark, index_dir, partition_cols=["hp"], dedup_cols=["doc_id"]
    )
    after = spark.read.schema(ci.INDEX_SCHEMA).parquet(index_dir)
    assert after.count() == 5
    assert sorted(r["doc_id"] for r in after.collect()) == list(range(5))


def test_guard_decisions_layout_rejects_legacy_flat_sink(spark, tmp_path):
    """Pointing the per-batch (batch=N) decisions sink at a pre-existing
    flat-layout decisions dir must fail loudly — mixing root-level data
    files with partition dirs breaks partition discovery for readers."""
    import pytest

    from practicum2_nof1_adhd_bd_spark.streaming import corpus_ingest as ci

    legacy = str(tmp_path / "legacy_dec")
    spark.createDataFrame(
        [(1, "admitted", None)], ci.DECISION_SCHEMA
    ).coalesce(1).write.parquet(legacy)
    with pytest.raises(ValueError, match="legacy"):
        ci._guard_decisions_layout(spark, legacy)
    # absent dir and per-batch layout both pass
    ci._guard_decisions_layout(spark, str(tmp_path / "never_written"))
    ok = str(tmp_path / "ok_dec")
    spark.createDataFrame(
        [(1, "admitted", None)], ci.DECISION_SCHEMA
    ).write.parquet(f"{ok}/batch=0")
    ci._guard_decisions_layout(spark, ok)


def test_maybe_compact_index_sampling_bounds_listing(spark, tmp_path):
    """With sample_dirs below the directory count, the policy probes a
    rotating window: any single call lists at most sample_dirs dirs, and
    a hot directory is still detected within ceil(n/sample) cursor
    steps — bounded per-batch listing cost at scale."""
    from practicum2_nof1_adhd_bd_spark.operators import similarity as sim
    from practicum2_nof1_adhd_bd_spark.streaming import corpus_ingest as ci

    index_dir = str(tmp_path / "sample_idx")
    batch = spark.createDataFrame(
        [(i, f"sampling doc {i} alpha bravo charlie") for i in range(8)],
        "doc_id long, text string",
    )
    sigs = ci._batch_signatures(batch, "text", "doc_id", 8, 3)
    for _ in range(3):  # hot dirs accrete 3 files each
        ci.write_index(sigs, index_dir, mode="append")
    n_dirs = len(ci._hp_dirs(spark, index_dir))
    assert n_dirs >= 2

    # sampled probe, generous threshold: never fires, and the probed
    # count is bounded by one directory's files (3), not the artifact's
    did, nb, na = sim.maybe_compact_index(
        spark, index_dir, ["hp"], max_files_per_dir=16, sample_dirs=1,
        cursor=0,
    )
    assert did is False and nb == na <= 3

    # tight threshold: a full cursor rotation must hit a hot dir
    fired_at = None
    for cur in range(n_dirs):
        did, nb, na = sim.maybe_compact_index(
            spark, index_dir, ["hp"], max_files_per_dir=1, sample_dirs=1,
            cursor=cur,
        )
        if did:
            fired_at = cur
            break
    assert fired_at is not None


def test_attribution_join_stream_horizon_edges(spark, tmp_path):
    """Stream-stream interval join semantics: a response exactly AT the
    horizon is included, one second past it is excluded, same-instant
    matches count, and keys never cross."""
    from practicum2_nof1_adhd_bd_spark.streaming import attribution_join_stream

    rows = [
        # (event_id, ts, user_id, kind)
        (1, "2024-01-01 10:00:00", 1, "t"),
        (2, "2024-01-01 12:00:00", 1, "r"),   # exactly +2h -> in
        (3, "2024-01-01 12:00:01", 1, "r"),   # +2h 1s -> out
        (4, "2024-01-01 10:00:00", 1, "r"),   # same instant -> in
        (5, "2024-01-01 09:59:59", 1, "r"),   # before trigger -> out
        (6, "2024-01-01 10:30:00", 2, "r"),   # other user -> out
        (7, "2024-01-01 11:00:00", 2, "t"),
        (8, "2024-01-01 11:05:00", 2, "r2"),  # matches trigger 7
    ]
    schema = "event_id bigint, ts timestamp, user_id bigint, kind string"
    src = str(tmp_path / "attrib_src")
    spark.createDataFrame(
        [(i, dt.datetime.fromisoformat(t), u, k) for i, t, u, k in rows], schema
    ).write.mode("overwrite").parquet(src)

    triggers = spark.readStream.schema(schema).parquet(src).filter(
        F.col("kind") == "t"
    )
    responses = spark.readStream.schema(schema).parquet(src).filter(
        F.col("kind").startswith("r")
    )
    joined = attribution_join_stream(triggers, responses).select(
        F.col("t.event_id").alias("tid"), F.col("r.event_id").alias("rid")
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("attrib_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_attrib"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {(r["tid"], r["rid"]) for r in spark.sql("SELECT * FROM attrib_t").collect()}
    assert got == {(1, 2), (1, 4), (7, 8)}


def test_sliding_stats_stream_overlap_semantics(spark, tmp_path):
    """1-day windows sliding 6h: every event lands in exactly 4 windows,
    and a window's stats only cover events inside [start, start+1d)."""
    from practicum2_nof1_adhd_bd_spark.streaming import sliding_stats_stream

    src, batch = _write_source(spark, tmp_path)
    stream = spark.readStream.schema(SCHEMA).parquet(src)
    out = _run_stream(
        spark, sliding_stats_stream(stream), "sliding_t", tmp_path
    ).collect()
    total_events = sum(r["n_events"] for r in out)
    assert total_events == len(ROWS) * 4  # each event in 4 windows
    by_start = {r["window_start_epoch"]: r for r in out}
    # grid-aligned: every start is a multiple of 6h
    assert all(s % 21600 == 0 for s in by_start)
    # the window starting exactly at 2024-01-01 00:00 UTC covers all
    # three day-1 events and none of day-2's
    import datetime as dt2

    s0 = int(dt2.datetime(2024, 1, 1, tzinfo=dt2.timezone.utc).timestamp())
    assert by_start[s0]["n_events"] == 3
    assert by_start[s0]["value_min"] == 5.0 and by_start[s0]["value_max"] == 20.0


def test_decisions_retention_policy_archives_and_preserves_rows(
    spark, tmp_path
):
    """maybe_compact_decisions: under threshold nothing moves; over it,
    committed batches older than keep_last roll into the batch=-1
    archive with provenance moved to the src_batch column, the contract
    read (explicit schema over the root) returns the identical row
    multiset, and a second invocation is a no-op."""
    from practicum2_nof1_adhd_bd_spark.streaming import corpus_ingest as ci

    dec = str(tmp_path / "dec")
    for b in range(10):
        spark.createDataFrame(
            [(100 * b + i, "admitted", None) for i in range(3)],
            ci.DECISION_SCHEMA,
        ).coalesce(1).write.parquet(f"{dec}/batch={b}")
    want = sorted(
        map(
            tuple,
            spark.read.schema(ci.DECISION_SCHEMA)
            .parquet(dec)
            .select("doc_id", "status", "matched_id")
            .collect(),
        )
    )
    # under threshold: untouched
    assert ci.maybe_compact_decisions(spark, dec, 9, max_batch_dirs=16) == 0
    assert ci._decision_batch_dirs(spark, dec) == list(range(10))
    # over threshold: batches 0..(9 - keep_last) archive
    n = ci.maybe_compact_decisions(
        spark, dec, 9, max_batch_dirs=4, keep_last=3
    )
    assert n == 7  # batches 0..6
    assert ci._decision_batch_dirs(spark, dec) == [-1, 7, 8, 9]
    got = sorted(
        map(
            tuple,
            spark.read.schema(ci.DECISION_SCHEMA)
            .parquet(dec)
            .select("doc_id", "status", "matched_id")
            .collect(),
        )
    )
    assert got == want
    # provenance moved into the archive's src_batch column
    arch = spark.read.parquet(f"{dec}/batch=-1")
    assert sorted(
        r["src_batch"] for r in arch.select("src_batch").distinct().collect()
    ) == list(range(7))
    # idempotent: live dirs now under threshold
    assert ci.maybe_compact_decisions(
        spark, dec, 9, max_batch_dirs=4, keep_last=3
    ) == 0
    # re-archiving later batches merges INTO the existing archive
    assert ci.compact_decisions(spark, dec, 8) == 2
    assert ci._decision_batch_dirs(spark, dec) == [-1, 9]
    got2 = sorted(
        map(
            tuple,
            spark.read.schema(ci.DECISION_SCHEMA)
            .parquet(dec)
            .select("doc_id", "status", "matched_id")
            .collect(),
        )
    )
    assert got2 == want


def test_decisions_compaction_crash_recovery(spark, tmp_path):
    """Crash injection around the archive swap: a COMPLETE precompact
    dir (crash after write, before swap) is finished by recovery —
    covered batch dirs deleted, archive in place, no duplicate rows; a
    PARTIAL precompact (no _SUCCESS) is discarded untouched."""
    from pyspark.sql import functions as F

    from practicum2_nof1_adhd_bd_spark.streaming import corpus_ingest as ci

    dec = str(tmp_path / "dec")
    for b in range(4):
        spark.createDataFrame(
            [(10 * b + i, "admitted", None) for i in range(2)],
            ci.DECISION_SCHEMA,
        ).coalesce(1).write.parquet(f"{dec}/batch={b}")
    want = sorted(
        map(
            tuple,
            spark.read.schema(ci.DECISION_SCHEMA)
            .parquet(dec)
            .select("doc_id", "status", "matched_id")
            .collect(),
        )
    )
    # simulate the crash: write the combined precompact COMPLETELY
    # (batches 0-1), then "crash" before the swap
    pre = dec + "__decisions_precompact"
    spark.read.schema(ci.DECISION_SCHEMA + ", batch int").option(
        "basePath", dec
    ).parquet(f"{dec}/batch=0", f"{dec}/batch=1").withColumn(
        "src_batch", F.col("batch").cast("int")
    ).drop("batch").write.parquet(pre)
    assert ci.recover_decisions_compaction(spark, dec)
    assert ci._decision_batch_dirs(spark, dec) == [-1, 2, 3]
    got = sorted(
        map(
            tuple,
            spark.read.schema(ci.DECISION_SCHEMA)
            .parquet(dec)
            .select("doc_id", "status", "matched_id")
            .collect(),
        )
    )
    assert got == want
    # partial precompact: discard, sink untouched
    import os
    import shutil

    spark.createDataFrame(
        [(999, "admitted", None, 2)], ci.DECISION_SCHEMA + ", src_batch int"
    ).write.parquet(pre)
    os.remove(os.path.join(pre, "_SUCCESS"))
    assert ci.recover_decisions_compaction(spark, dec)
    assert not os.path.exists(pre)
    assert ci._decision_batch_dirs(spark, dec) == [-1, 2, 3]
    got2 = sorted(
        map(
            tuple,
            spark.read.schema(ci.DECISION_SCHEMA)
            .parquet(dec)
            .select("doc_id", "status", "matched_id")
            .collect(),
        )
    )
    assert got2 == want


def test_ingest_stream_decisions_retention_end_to_end(spark, tmp_path):
    """ingest_stream(decisions_max_dirs=...): the retention policy runs
    in the live stream's batch gaps and the decisions read-back stays
    identical to an unretained control run."""
    import json

    from practicum2_nof1_adhd_bd_spark.streaming import corpus_ingest as ci

    base = "sphinx of black quartz judge my streaming vow"

    def harness(sub, **kw):
        root = tmp_path / sub
        src = root / "src"
        src.mkdir(parents=True)
        dirs = (str(root / "index"), str(root / "dec"), str(root / "ckpt"))

        def land(name, rows):
            p = src / f".{name}.tmp"
            with open(p, "w") as f:
                for doc_id, text in rows:
                    f.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
            p.rename(src / name)

        def run_once():
            stream = spark.readStream.schema(
                "doc_id bigint, text string"
            ).json(str(src))
            q = ci.ingest_stream(stream, *dirs, **kw)
            assert q.awaitTermination(120)

        return land, run_once, dirs[1]

    batches = [
        [(1, base), (2, "batch zero unique words")],
        [(11, base), (12, "batch one novel phrasing")],
        [(21, base), (22, "batch two more material")],
        [(31, base), (32, "batch three final text")],
    ]

    land, run_once, c_dec = harness("control")
    for b, rows in enumerate(batches):
        land(f"b{b}.json", rows)
        run_once()
    want = sorted(
        map(
            tuple,
            spark.read.schema(ci.DECISION_SCHEMA)
            .parquet(c_dec)
            .select("doc_id", "status", "matched_id")
            .collect(),
        )
    )

    land, run_once, r_dec = harness(
        "retained", decisions_max_dirs=1, decisions_keep_last=1
    )
    for b, rows in enumerate(batches):
        land(f"b{b}.json", rows)
        run_once()
    got = sorted(
        map(
            tuple,
            spark.read.schema(ci.DECISION_SCHEMA)
            .parquet(r_dec)
            .select("doc_id", "status", "matched_id")
            .collect(),
        )
    )
    assert got == want
    # the retained sink really did archive: batch=-1 present, fewer
    # live dirs than batches
    dirs = ci._decision_batch_dirs(spark, r_dec)
    assert -1 in dirs
    assert len([d for d in dirs if d >= 0]) < len(batches)
