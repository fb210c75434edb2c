"""Dedup (exact / MinHash / SimHash / Jaccard) and similarity search."""

from pyspark.sql import functions as F

from practicum2_nof1_adhd_bd_spark.operators import dedup, similarity


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again today"),
        (2, "the quick brown fox jumps over the lazy dog again tomorrow"),  # near-dup of 1
        (3, "completely different words about spark query engines and scale"),
        (4, "the quick brown fox jumps over the lazy dog again today"),  # exact dup of 1
        (5, "tiny"),  # too short for 3-shingles
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups(spark):
    out = {r["canonical_id"]: r["n_copies"]
           for r in dedup.exact_dedup_groups(_docs(spark)).collect()}
    assert out[1] == 2  # docs 1 and 4
    assert out[2] == 1 and out[3] == 1


def test_word_shingles_short_doc_empty(spark):
    df = _docs(spark).select("doc_id", dedup.word_shingles(F.col("text"), 3).alias("sh"))
    by_id = {r["doc_id"]: r["sh"] for r in df.collect()}
    assert by_id[5] == []
    assert "the quick brown" in by_id[1]


def test_minhash_identical_docs_equal_signatures(spark):
    sig = dedup.minhash_signature(F.col("text"), n_hashes=8, k=3)
    out = {r["doc_id"]: r["s"] for r in _docs(spark).select("doc_id", sig.alias("s")).collect()}
    assert out[1] == out[4]
    assert out[1] != out[3]
    assert out[5] is None  # no shingles
    # near-dups share most minhash components
    agree = sum(a == b for a, b in zip(out[1], out[2]))
    assert agree >= 4


def test_minhash_lsh_finds_near_and_exact_dups(spark):
    pairs = dedup.minhash_lsh_pairs_verified(_docs(spark), n_hashes=8, bands=4, k=3)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert got[(1, 4)] == 1.0
    assert (1, 2) in got and 0.5 < got[(1, 2)] < 1.0


def test_simhash_near_dup_hamming(spark):
    out = dedup.simhash_near_dups(_docs(spark), max_hamming=10)
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in out.collect()}
    assert pairs[(1, 4)] == 0  # identical text -> identical fingerprint
    assert (1, 2) in pairs and pairs[(1, 2)] <= 10


def test_ngram_jaccard_pairs_blocked(spark):
    docs = _docs(spark).withColumn("lang", F.lit("en"))
    out = dedup.ngram_jaccard_pairs(docs, bucket_cols=["lang"], k=3, threshold=0.5)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
    assert got[(1, 4)] == 1.0 and (1, 2) in got
    assert (1, 3) not in got


def test_ngram_jaccard_length_bucket_bounds_skew(spark):
    """Default blocking folds a size-octave into the key: a single dominant
    lang bucket cannot go quadratic, and extreme-ratio pairs are dropped."""
    short = " ".join(f"s{i}" for i in range(10))
    long = " ".join(f"w{i}" for i in range(400)) + " " + short
    rows = [(1, short), (2, long), (3, short + " s10")]
    docs = spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "lang", F.lit("en")
    )
    # Without the length bucket the short-inside-long pair passes t=0.01 ...
    flat = dedup.ngram_jaccard_pairs(
        docs, bucket_cols=["lang"], k=3, threshold=0.01, length_bucket=False
    )
    flat_pairs = {(r["id_a"], r["id_b"]) for r in flat.collect()}
    assert (1, 2) in flat_pairs
    # ... with it (the default) the 50x-size pair lands in different octaves
    # and never enters the quadratic join, while the same-octave near-dup
    # (1, 3) survives.
    octv = dedup.ngram_jaccard_pairs(docs, bucket_cols=["lang"], k=3, threshold=0.01)
    octv_pairs = {(r["id_a"], r["id_b"]) for r in octv.collect()}
    assert (1, 2) not in octv_pairs
    assert (1, 3) in octv_pairs
    # The bucket key bounds pair work: per-octave populations, not n^2.
    sh = docs.select(
        dedup.word_shingles(F.col("text"), 3).alias("sh")
    ).select(F.length(F.bin(F.size("sh"))).alias("b"))
    sizes = [r["n"] for r in sh.groupBy("b").agg(F.count("*").alias("n")).collect()]
    n = sum(sizes)
    assert sum(s * (s - 1) // 2 for s in sizes) < n * (n - 1) // 2


def _embeddings(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # closest to 0
        (2, [0.0, 1.0, 0.0]),   # orthogonal
        (3, [-1.0, 0.0, 0.0]),  # opposite
        (4, [0.7, 0.7, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_cosine_topk_bruteforce_order(spark):
    out = similarity.cosine_topk_bruteforce(_embeddings(spark), query_id=0, k=3).collect()
    ids = [r["vec_id"] for r in out]
    assert ids == [1, 4, 2]
    assert out[0]["cosine"] > 0.99
    assert all(r["vec_id"] != 0 for r in out)  # self excluded


def test_cosine_topk_vectorized_matches_bruteforce(spark):
    bf = similarity.cosine_topk_bruteforce(_embeddings(spark), 0, 3).collect()
    vec = similarity.cosine_topk_vectorized(_embeddings(spark), 0, 3).collect()
    assert [(r["vec_id"], r["cosine"]) for r in bf] == [
        (r["vec_id"], r["cosine"]) for r in vec
    ]


def test_corpus_clean_summary(spark):
    extra = spark.createDataFrame(
        [(6, "111 222 333 444")], "doc_id long, text string"  # no alpha chars
    )
    docs = _docs(spark).unionByName(extra).withColumn(
        "lang", F.when(F.col("doc_id") <= 4, "en").otherwise("und")
    )
    out = {r["lang"]: r for r in dedup.corpus_clean_summary(docs).collect()}
    en = out["en"]
    # doc 4 is an exact dup of 1 -> 3 exact survivors of 4
    assert en["n_docs"] == 4 and en["n_exact_survivors"] == 3
    # doc 2 is a near-dup of 1 (jaccard >= 0.5) -> dropped next
    assert en["n_near_survivors"] == 2
    # survivor counts are monotone non-increasing at every stage
    for r in out.values():
        assert (
            r["n_docs"] >= r["n_exact_survivors"]
            >= r["n_near_survivors"] >= r["n_quality_survivors"]
        )
    # 'tiny' survives everything (alpha-heavy single token scores 0.506);
    # the digits-only doc survives dedup but fails the quality gate
    und = out["und"]
    assert und["n_near_survivors"] == 2 and und["n_quality_survivors"] == 1


def test_connected_components_chain_and_singleton(spark):
    from practicum2_nof1_adhd_bd_spark.operators import dedup

    # chain 1-2-3 (diameter > 1 forces multiple propagation rounds),
    # pair 10-11, singleton 99
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a bigint, id_b bigint"
    )
    nodes = spark.createDataFrame(
        [(1,), (2,), (3,), (10,), (11,), (99,)], "doc_id bigint"
    )
    out = {r["doc_id"]: r for r in
           dedup.connected_components(pairs, nodes).collect()}
    assert [out[i]["cluster_id"] for i in (1, 2, 3)] == [1, 1, 1]
    assert out[10]["cluster_id"] == 10 and out[11]["cluster_id"] == 10
    assert out[99]["cluster_id"] == 99 and out[99]["is_canonical"] is True
    assert out[2]["is_canonical"] is False and out[1]["is_canonical"] is True


def test_incremental_exact_dedup_admits_only_new_content(spark):
    from practicum2_nof1_adhd_bd_spark.operators import dedup

    index = spark.createDataFrame(
        [(1, "seen before"), (2, "also known")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [
            (10, "Seen  Before"),       # dup of index (normalization collapses)
            (11, "brand new content"),
            (12, "brand new content"),  # in-batch dup -> min id 11 survives
            (13, "also known"),         # dup of index
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup.incremental_exact_dedup(batch, index).collect()}
    assert set(out) == {11}
    assert out[11]["n_batch_copies"] == 2


def test_incremental_near_dup_finds_cross_side_pairs_only(spark):
    from practicum2_nof1_adhd_bd_spark.operators import dedup

    index = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely unrelated sentence about spark engines here"),
            (3, "another unrelated line of filler text for the index"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, "the quick brown fox jumps over the lazy dog today"),  # near-copy of 1
            (11, "fresh new content that matches nothing in the index"),
        ],
        "doc_id long, text string",
    )
    out = dedup.incremental_near_dup(batch, index, threshold=0.5).collect()
    assert {(r["id_a"], r["id_b"]) for r in out} == {(10, 1)}
    assert out[0]["jaccard"] == 1.0


def test_chunk_dedup_profile_marks_shared_spans(spark):
    from practicum2_nof1_adhd_bd_spark.operators.dedup import chunk_dedup_profile

    shared = " ".join(f"w{i}" for i in range(10))  # one exact 10-token span
    uniq_a = " ".join(f"a{i}" for i in range(10))
    uniq_b = " ".join(f"b{i}" for i in range(10))
    docs = spark.createDataFrame(
        [
            (1, f"{shared} {uniq_a}"),     # 2 chunks, 1 duplicated
            (2, f"{shared} {uniq_b}"),     # 2 chunks, 1 duplicated
            (3, uniq_a + "x tail"),        # 1 chunk (12 toks), none duplicated
            (4, "short doc"),              # 0 full chunks
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in chunk_dedup_profile(docs, chunk_tokens=10).collect()
    }
    assert out[1]["n_chunks"] == 2 and out[1]["n_dup_chunks"] == 1
    assert out[2]["dup_chunk_frac"] == 0.5
    assert out[3]["n_chunks"] == 1 and out[3]["n_dup_chunks"] == 0
    assert out[4]["n_chunks"] == 0 and out[4]["dup_chunk_frac"] == 0.0


def test_chunk_dedup_profile_counts_within_doc_repeats(spark):
    from practicum2_nof1_adhd_bd_spark.operators.dedup import chunk_dedup_profile

    span = " ".join(f"r{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(1, f"{span} {span}")], ["doc_id", "text"]
    )  # same span at two positions inside ONE doc -> substring semantics
    row = chunk_dedup_profile(docs, chunk_tokens=10).collect()[0]
    assert row["n_chunks"] == 2 and row["n_dup_chunks"] == 2


def test_snapshot_diff_statuses(spark):
    from practicum2_nof1_adhd_bd_spark.operators.dedup import snapshot_diff

    old = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma"), (4, "delta")],
        "doc_id int, text string",
    )
    new = spark.createDataFrame(
        # 1 unchanged (whitespace-normalized equal), 2 changed, 3 missing
        # (removed), 5 added
        [(1, "  Alpha "), (2, "beta v2"), (4, "delta"), (5, "epsilon")],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r["status"] for r in snapshot_diff(old, new).collect()}
    assert out == {
        1: "unchanged",
        2: "changed",
        3: "removed",
        4: "unchanged",
        5: "added",
    }


def test_lsh_ops_leave_no_session_cache(spark, sf_dir):
    """minhash_lsh_pairs_verified / minhash_lsh_candidates /
    incremental_near_dup materialize intermediates via eager
    localCheckpoint, whose blocks die with the frame reference — none of
    them may park a DataFrame persist() entry in the session cache
    manager (the session-lifetime leak class the r06/r07 fixes removed
    elsewhere)."""
    from practicum2_nof1_adhd_bd_spark.operators import dedup
    from practicum2_nof1_adhd_bd_spark.sources.readers import Catalog

    docs = Catalog(spark, sf_dir).documents.limit(150)
    spark.catalog.clearCache()
    dedup.minhash_lsh_pairs_verified(docs).count()
    dedup.minhash_lsh_candidates(docs).count()
    new_docs = docs.filter("doc_id % 3 = 0").selectExpr(
        "doc_id + 500000 AS doc_id", "text"
    )
    dedup.incremental_near_dup(new_docs, docs).count()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_bloom_screen_equals_exact_screen(spark):
    """The Bloom prefilter is pure join-avoidance: decisions must be
    IDENTICAL to incremental_exact_dedup on the same split, including
    in-batch dup collapse and normalization."""
    from practicum2_nof1_adhd_bd_spark.operators import dedup

    index = spark.createDataFrame(
        [(i, f"indexed document number {i}") for i in range(40)]
        + [(100, "shared content")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(200, "Shared  Content"),            # dup of index after norm
         (201, "fresh one"), (202, "fresh two"),
         (203, "fresh one"),                  # in-batch dup -> 201 wins
         (204, "indexed document number 7")], # dup of index
        "doc_id long, text string",
    )
    exact = sorted(
        map(tuple, dedup.incremental_exact_dedup(batch, index).collect())
    )
    bloom = sorted(
        map(tuple, dedup.bloom_screen_exact_dedup(batch, index).collect())
    )
    assert bloom == exact
    assert {r[0] for r in bloom} == {201, 202}


def test_bloom_bitmap_has_no_false_negatives_and_filters(spark):
    """Every indexed hash must test positive (the correctness half of the
    Bloom contract); most non-member hashes must test negative (the
    join-avoidance half — with n=50 keys in 2^20 bits the fp rate is
    ~0, so a random panel must be overwhelmingly negative)."""
    import numpy as np
    from pyspark.sql import functions as F

    from practicum2_nof1_adhd_bd_spark.operators import dedup

    hashes = spark.createDataFrame(
        [(f"hash-{i}",) for i in range(50)], "text_hash string"
    )
    n_bits, n_probes = 1 << 20, 4
    bm = np.frombuffer(
        dedup.bloom_bitmap_from_hashes(hashes, n_bits=n_bits,
                                       n_probes=n_probes),
        dtype=np.uint8,
    )

    def member(df):
        pos = df.select(
            *[
                F.pmod(F.xxhash64(F.col("text_hash"), F.lit(j)),
                       F.lit(n_bits)).alias(f"p{j}")
                for j in range(n_probes)
            ]
        ).collect()
        out = []
        for r in pos:
            out.append(all(
                (bm[r[f"p{j}"] >> 3] >> (r[f"p{j}"] & 7)) & 1
                for j in range(n_probes)
            ))
        return out

    assert all(member(hashes))  # no false negatives, ever
    novel = spark.createDataFrame(
        [(f"novel-{i}",) for i in range(200)], "text_hash string"
    )
    fp = sum(member(novel))
    assert fp <= 2, fp  # ~0 expected at this load factor


def test_merge_components_adversarial_topologies(spark):
    """Hand-built incremental-merge cases: one batch pair joining two
    stored clusters, a batch chain bridging three, a batch-only
    component, an untouched stored cluster, and an isolated new node —
    each must come out identical to a full recompute over the union
    graph."""
    from pyspark.sql import functions as F

    from practicum2_nof1_adhd_bd_spark.operators import dedup

    # stored state: clusters {1,5}, {2,8}, {3,9}, {4} (labels = min ids)
    assign = spark.createDataFrame(
        [(1, 1), (5, 1), (2, 2), (8, 2), (3, 3), (9, 3), (4, 4)],
        "doc_id long, cluster_id long",
    )
    new_nodes = spark.createDataFrame(
        [(10,), (11,), (12,), (13,)], "doc_id long"
    )
    # batch pairs: 10 bridges clusters 1 and 2 (via members 5 and 8);
    # 11-12 is a batch-only pair; 12-9 chains the batch pair into
    # cluster 3; stored-stored new pair none; 13 isolated; cluster {4}
    # untouched.
    new_pairs = spark.createDataFrame(
        [(5, 10), (10, 8), (11, 12), (12, 9)], "id_a long, id_b long"
    )
    got = {
        r["doc_id"]: (r["cluster_id"], r["is_canonical"])
        for r in dedup.merge_components(assign, new_pairs, new_nodes).collect()
    }

    # full recompute over the union graph as the truth
    all_nodes = spark.createDataFrame(
        [(i,) for i in [1, 5, 2, 8, 3, 9, 4, 10, 11, 12, 13]],
        "doc_id long",
    )
    all_pairs = spark.createDataFrame(
        [(1, 5), (2, 8), (3, 9), (5, 10), (10, 8), (11, 12), (12, 9)],
        "id_a long, id_b long",
    )
    want = {
        r["doc_id"]: (r["cluster_id"], r["is_canonical"])
        for r in dedup.connected_components(all_pairs, all_nodes).collect()
    }
    assert got == want
    # spot-check the semantics, not just parity with the other impl
    assert got[10] == (1, False)          # bridge merged {1,5}+{2,8}+10
    assert got[8] == (1, False)
    assert got[11] == (3, False)          # chain 11-12-9 joins cluster 3
    assert got[3] == (3, True)
    assert got[4] == (4, True)            # untouched cluster survives
    assert got[13] == (13, True)          # isolated new node = own cluster


def test_lsh_batch_pairs_union_covers_full_pair_set(spark, sf_dir):
    """The incremental pair decomposition: history-internal pairs plus
    batch-touching pairs (from the batch x full band join) must equal
    the full-corpus pair set exactly — band collisions are pairwise
    properties, so the split loses nothing."""
    from pyspark.sql import functions as F

    from practicum2_nof1_adhd_bd_spark.operators import dedup
    from practicum2_nof1_adhd_bd_spark.sources.readers import Catalog

    docs = Catalog(spark, sf_dir).documents
    full = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs_verified(
            docs, n_hashes=8, bands=4, k=3, threshold=0.0
        ).filter(F.col("jaccard") >= 0.5).collect()
    }
    hist = docs.filter(F.col("doc_id") % 3 != 0)
    hist_pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs_verified(
            hist, n_hashes=8, bands=4, k=3, threshold=0.0
        ).filter(F.col("jaccard") >= 0.5).collect()
    }
    batch_pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_batch_pairs(
            docs, docs.filter(F.col("doc_id") % 3 == 0).select("doc_id"),
            n_hashes=8, bands=4, k=3, threshold=0.0,
        ).filter(F.col("jaccard") >= 0.5).collect()
    }
    assert hist_pairs | batch_pairs == full
    assert all(
        a % 3 == 0 or b % 3 == 0 for a, b in batch_pairs
    )  # batch pairs all touch the batch


def test_prefix_jaccard_join_equals_brute_force(spark, sf_dir):
    """The prefix filter is EXACT: its verified output must equal the
    unblocked quadratic join's — the lemma's no-false-negative claim,
    checked on real data (planted near-dups at sf0.001)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fast = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.prefix_jaccard_join(docs).collect()
    }
    sh = docs.select(
        "doc_id", dedup.word_shingles(F.col("text"), 3).alias("toks")
    ).filter(F.size("toks") > 0)
    a, b = sh.alias("a"), sh.alias("b")
    inter = F.size(F.array_intersect("a.toks", "b.toks"))
    uni = F.size(F.array_union("a.toks", "b.toks"))
    brute = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(2 * inter >= uni)
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.round(inter / uni, 6).alias("jaccard"),
        )
        .collect()
    }
    assert fast == brute
    assert len(fast) > 0  # the corpus plants near-dups; empty = broken


def test_prefix_filter_candidates_shrink_vs_cross_join(spark, sf_dir):
    """The point of the prefix filter: candidate pairs must be a small
    fraction of C(n,2) — if this regresses toward quadratic the filter
    has stopped pruning (e.g. prefix length formula drift)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    cand = dedup.prefix_join_candidates(docs).count()
    assert cand <= n * (n - 1) // 2 * 0.05, (cand, n)


def test_prefix_jaccard_join_hand_example(spark):
    """Hand-checkable: 1 and 2 differ in the final word (11 tokens ->
    9 shingles each, 8 shared, union 10; J = 0.8 >= 1/2); 3 shares
    nothing; 4 is an exact dup of 1 (J = 1); 5 has no shingles and
    must not crash the rank machinery."""
    out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.prefix_jaccard_join(_docs(spark)).collect()
    }
    assert out[(1, 4)] == 1.0
    assert abs(out[(1, 2)] - 0.8) < 1e-9
    assert abs(out[(2, 4)] - 0.8) < 1e-9
    assert set(out) == {(1, 2), (1, 4), (2, 4)}


def test_simhash_band_blocking_exact_at_pigeonhole_radius(spark, sf_dir):
    """4 bands x 7 bits: a pair within hamming 3 must share a full band
    (pigeonhole), so the blocked join at max_hamming=3 must equal the
    unblocked brute-force hamming join exactly."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    blocked = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedup.simhash_near_dups(docs, max_hamming=3).collect()
    }
    fp = dedup.simhash_fingerprints(docs)
    a, b = fp.alias("a"), fp.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    brute = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            ham.alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .collect()
    }
    assert blocked == brute
    assert len(blocked) > 0


def test_simhash_shingle_grain_discriminates_and_drops_featureless(spark):
    """Shingle-grain fingerprints: near-identical docs pair, unrelated
    docs don't (word-grain would put all same-vocab docs at hamming 0),
    and a <3-token doc carries NO fingerprint instead of a degenerate 0
    that would pair every short doc."""
    docs = _docs(spark)
    fp = dedup.simhash_fingerprints(docs, features="shingles")
    by_id = {r["doc_id"]: r["simhash"] for r in fp.collect()}
    assert 5 not in by_id          # featureless doc excluded
    assert by_id[1] == by_id[4]    # exact dup -> identical fingerprint
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_near_dups(
            docs, max_hamming=3, features="shingles"
        ).collect()
    }
    assert pairs[(1, 4)] == 0
    assert all(3 not in p and 5 not in p for p in pairs)


def test_prefix_candidates_grow_linearly_at_10x_docs(spark):
    """The 10x scaling property of the exact set-similarity join (r13
    verdict #8): when the corpus grows 10x WITH its vocabulary (the
    Heaps-law web-corpus shape), prefix-collision candidates must track
    the prefix-lemma bound — near-linear in docs — not the 100x growth
    of the C(n,2) pair space. Fixture: each doc carries mostly
    corpus-unique words plus a few shared stopwords; every 10th doc has
    a planted near-dup partner. Unique words make prefix tokens
    genuinely rare (df ~ 1-2), so candidates stay proportional to true
    pairs; the stopwords keep a dense high-df tail that the rarity
    ranking must keep OUT of the prefix."""
    from practicum2_nof1_adhd_bd_spark.operators import dedup

    def corpus(n):
        rows = []
        for i in range(n):
            if i % 10 == 1:
                # near-dup of the previous doc: 11 of 12 words shared
                base = i - 1
                words = [f"w{base}x{j}" for j in range(11)] + ["tail"]
            else:
                words = [f"w{i}x{j}" for j in range(11)] + [
                    f"stop{i % 3}"
                ]
            rows.append((i, " ".join(words)))
        return spark.createDataFrame(rows, "doc_id long, text string")

    n1, n2 = 300, 3000
    c1 = dedup.prefix_join_candidates(corpus(n1), k=3).count()
    c2 = dedup.prefix_join_candidates(corpus(n2), k=3).count()
    # every planted pair must be a candidate (exactness floor)...
    assert c1 >= n1 // 10 and c2 >= n2 // 10
    # ...and growth is ~linear: well under 2x the doc growth factor,
    # nowhere near the 100x of pairs-squared
    assert c2 / c1 <= 20, (c1, c2)
