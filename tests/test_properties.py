"""Property-based tests (hypothesis) — operator invariants that must hold
for ANY input, not just the fixtures."""

import datetime as dt
import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from practicum2_nof1_adhd_bd_spark.operators import dedup, windows

_settings = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(
    gaps=st.lists(st.integers(min_value=1, max_value=10), min_size=1, max_size=8)
)
@_settings
def test_gaps_islands_segment_count(spark, gaps):
    """#segments == #breaks+1 where a break is any gap > 1 day or a month
    boundary between consecutive dates."""
    d = dt.date(2024, 1, 1)
    dates = [d]
    for g in gaps:
        d = d + dt.timedelta(days=g)
        dates.append(d)
    df = spark.createDataFrame([(x,) for x in dates], "date date")
    seg = windows.gaps_and_islands(df, "date", [], max_gap_days=1)
    n_segments = seg.agg(F.max("segment_id")).collect()[0][0]
    breaks = sum(
        1
        for a, b in zip(dates, dates[1:])
        if (b - a).days > 1 or a.month != b.month or a.year != b.year
    )
    assert n_segments == breaks + 1


@given(
    vals=st.lists(
        st.one_of(st.none(), st.floats(min_value=-100, max_value=100)),
        min_size=2,
        max_size=15,
    )
)
@_settings
def test_interpolation_bounded_and_exact_at_knots(spark, vals):
    d0 = dt.date(2024, 1, 1)
    rows = [(d0 + dt.timedelta(days=i), v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "date date, v double")
    out = {
        r["date"]: r["v_interp"]
        for r in windows.linear_interpolate(df, "date", "v").collect()
    }
    known = [v for v in vals if v is not None]
    for i, v in enumerate(vals):
        got = out[d0 + dt.timedelta(days=i)]
        if v is not None:
            assert got is not None and abs(got - round(v, 6)) < 1e-6
        elif known:
            # interpolated values never leave the observed range
            assert got is None or (
                min(known) - 1e-6 <= got <= max(known) + 1e-6
            )


@given(
    text=st.text(
        alphabet=st.sampled_from("abc defg "), min_size=0, max_size=80
    )
)
@_settings
def test_minhash_identity_and_shingle_bounds(spark, text):
    df = spark.createDataFrame([(1, text), (2, text)], "doc_id int, text string")
    sig = dedup.minhash_signature(F.col("text"), n_hashes=4, k=3)
    rows = df.select("doc_id", sig.alias("s")).collect()
    s1, s2 = rows[0]["s"], rows[1]["s"]
    assert s1 == s2  # identical docs -> identical signatures
    n_words = len(text.split())
    if n_words < 3:
        assert s1 is None  # too short to shingle
    else:
        assert len(s1) == 4
        assert all(0 <= h < dedup.MINHASH_P for h in s1)


@given(
    a=st.lists(st.floats(min_value=-50, max_value=50), min_size=3, max_size=3),
    b=st.lists(st.floats(min_value=-50, max_value=50), min_size=3, max_size=3),
)
@_settings
def test_cosine_range_and_symmetry(spark, a, b):
    from practicum2_nof1_adhd_bd_spark.operators.similarity import cosine

    if all(abs(x) < 1e-6 for x in a) or all(abs(x) < 1e-6 for x in b):
        return  # zero vectors: cosine undefined
    df = spark.createDataFrame([(a, b)], "va array<double>, vb array<double>")
    row = df.select(
        cosine(F.col("va"), F.col("vb")).alias("ab"),
        cosine(F.col("vb"), F.col("va")).alias("ba"),
    ).collect()[0]
    assert row["ab"] is not None and not math.isnan(row["ab"])
    assert abs(row["ab"] - row["ba"]) < 1e-9  # symmetric
    assert -1.000001 <= row["ab"] <= 1.000001  # Cauchy-Schwarz


@given(
    ids=st.lists(
        st.integers(min_value=0, max_value=10**9), min_size=1, max_size=30,
        unique=True,
    ),
    extra=st.lists(
        st.integers(min_value=0, max_value=10**9), min_size=0, max_size=10,
        unique=True,
    ),
)
@_settings
def test_hash_split_growth_stability(spark, ids, extra):
    """A doc's split NEVER changes when other docs are added or removed —
    the frozen-eval-membership property — and split_u is a pure function
    of (seed, doc_id)."""
    from practicum2_nof1_adhd_bd_spark.operators import textops

    base = spark.createDataFrame([(i, "t") for i in ids], "doc_id long, text string")
    grown = spark.createDataFrame(
        [(i, "t") for i in set(ids) | set(extra)], "doc_id long, text string"
    )
    a = {r["doc_id"]: (r["split"], r["split_u"]) for r in textops.hash_split(base).collect()}
    b = {r["doc_id"]: (r["split"], r["split_u"]) for r in textops.hash_split(grown).collect()}
    assert all(b[k] == v for k, v in a.items())


@given(
    words=st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=4), min_size=1, max_size=25
    )
)
@_settings
def test_unigram_surprisal_bounds(spark, words):
    """Mean surprisal is non-negative and never exceeds log2(total tokens)
    (the rarest token has probability >= 1/N); token counts match."""
    text = " ".join(words)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    rows = {
        r["doc_id"]: r
        for r in __import__(
            "practicum2_nof1_adhd_bd_spark.operators.textops", fromlist=["textops"]
        ).unigram_surprisal(df).collect()
    }
    r = rows[1]
    assert r["n_tokens"] == len(words)
    # 5e-7 slack: the operator rounds bits_per_token to 6 decimals
    assert 0.0 <= r["bits_per_token"] <= math.log2(len(words)) + 5e-7


@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=122),
            max_size=30,
        ),
        min_size=1,
        max_size=10,
    ),
    drop_mod=st.integers(min_value=2, max_value=5),
)
@_settings
def test_snapshot_diff_identity_and_partition(spark, texts, drop_mod):
    """diff(x, x) is all-unchanged for ANY corpus; dropping ids from the
    new side marks exactly those ids removed and nothing added."""
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    same = dedup.snapshot_diff(df, df).collect()
    assert {r["status"] for r in same} == {"unchanged"}
    assert len(same) == len(rows)

    new = df.filter(F.col("doc_id") % drop_mod != 0)
    out = {r["doc_id"]: r["status"] for r in dedup.snapshot_diff(df, new).collect()}
    for i, _ in rows:
        assert out[i] == ("removed" if i % drop_mod == 0 else "unchanged")


@_settings
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-(2**40), max_value=2**40),
            st.text(
                alphabet=st.characters(
                    blacklist_categories=("Cs",), max_codepoint=0x2FFF
                ),
                max_size=40,
            ),
        ),
        min_size=1,
        max_size=12,
        unique_by=lambda t: t[0],
    )
)
def test_provenance_digest_cross_engine_any_input(spark, rows):
    """The portable digest fold and Spark's conv() fast path must agree
    with DuckDB for ANY ints/unicode strings — the provenance manifest's
    whole contract is cross-engine bit-equality."""
    import duckdb

    from practicum2_nof1_adhd_bd_spark.operators import provenance

    df = spark.createDataFrame(rows, "k bigint, name string")
    expr = provenance.row_digest_sql(["k", "name"])
    fast = provenance.row_digest_spark_sql(["k", "name"])
    got = {
        r["k"]: (r["slow"], r["fast"])
        for r in df.selectExpr("k", f"{expr} AS slow", f"{fast} AS fast").collect()
    }
    con = duckdb.connect()
    con.sql("CREATE TABLE t (k BIGINT, name VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    for k, dig in con.sql(f"SELECT k, {expr} FROM t").fetchall():
        assert got[k] == (dig, dig), (k, got[k], dig)


@given(
    vec=st.lists(
        st.floats(min_value=-50, max_value=50, allow_nan=False),
        min_size=3,
        max_size=12,
    ).filter(lambda v: any(abs(x) > 1e-6 for x in v))
)
@_settings
def test_int8_quantize_reconstruction_bound(spark, vec):
    """For ANY vector, every int8-reconstructed component is within
    scale/2 of the original and every code fits [-127, 127]."""
    from practicum2_nof1_adhd_bd_spark.operators import similarity as sim

    df = spark.createDataFrame([(0, vec)], "vec_id bigint, embedding array<double>")
    row = sim.int8_quantize(df).collect()[0]
    scale = row["scale"]
    for orig, q in zip(vec, row["qvec"]):
        assert -127 <= q <= 127
        assert abs(orig - q * scale) <= scale / 2 + 1e-9


@given(target=st.integers(min_value=1, max_value=60))
@_settings
def test_apply_mixture_quota_bounds(spark, target):
    """For ANY target, every source keeps at least 1 doc, no source
    exceeds max(1, floor(target * w)), and the draw is a subset of the
    corpus ids."""
    from practicum2_nof1_adhd_bd_spark.operators import textops

    rows = (
        [(i, "alpha beta gamma delta " * 3, "a") for i in range(20)]
        + [(100 + i, "x y z w " * 2, "b") for i in range(5)]
    )
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, source string")
    out = textops.apply_mixture_sample(docs, target_docs=target, alpha=0.7)
    got = out.collect()
    ids = {r["doc_id"] for r in got}
    assert ids <= {r[0] for r in rows}
    per = {}
    for r in got:
        per[r["source"]] = per.get(r["source"], 0) + 1
    w = {
        r["source"]: r["mix_weight"]
        for r in textops.source_mixture_weights(docs, 0.7).collect()
    }
    for s in ("a", "b"):
        assert per.get(s, 0) >= 1
        assert per[s] <= max(1, math.floor(target * w[s]))


@given(
    vec=st.lists(
        st.floats(
            min_value=-1e3, max_value=1e3, allow_nan=False, allow_infinity=False
        ),
        min_size=4,
        max_size=16,
    )
)
@_settings
def test_int8_quantize_error_bound(spark, vec):
    """For ANY vector, the int8 round-trip error of every component is
    <= scale/2 (round-to-nearest contract), qvec stays inside [-127,
    127], and the stored nrm equals the dequantized vector's norm."""
    from practicum2_nof1_adhd_bd_spark.operators import similarity as sim

    df = spark.createDataFrame(
        [(0, [float(x) for x in vec])], "vec_id bigint, embedding array<double>"
    )
    row = sim.vector_index_rows(df).collect()[0]
    scale = row["scale"]
    deq = [q * scale for q in row["qvec"]]
    for x, d, q in zip(vec, deq, row["qvec"]):
        assert abs(x - d) <= scale / 2 + 1e-12
        assert -127 <= q <= 127
    nrm = math.sqrt(sum(d * d for d in deq))
    assert abs(row["nrm"] - nrm) <= 1e-9 * max(1.0, nrm)


@given(
    buckets=st.sets(st.integers(min_value=0, max_value=15), min_size=1),
    d=st.integers(min_value=0, max_value=3),
)
@_settings
def test_hamming_ball_props(buckets, d):
    """hamming_ball contains its seeds, is monotone in d, and every
    member is within d of SOME seed."""
    from practicum2_nof1_adhd_bd_spark.operators.similarity import hamming_ball

    ball = hamming_ball(buckets, 4, d)
    assert set(buckets) <= set(ball)
    assert set(ball) <= set(hamming_ball(buckets, 4, d + 1))
    for b in ball:
        assert min(bin(b ^ s).count("1") for s in buckets) <= d


@given(
    payload=st.binary(min_size=0, max_size=200),
    pw=st.text(
        alphabet=st.characters(min_codepoint=33, max_codepoint=126),
        min_size=1,
        max_size=12,
    ),
)
@_settings
def test_backup_crypto_roundtrip(payload, pw):
    """For ANY payload and passphrase: a synthesized keybag unlocks with
    the right passphrase and refuses a perturbed one (RFC 3394 integrity),
    and CBC encrypt -> decrypt_file_payload returns the exact payload at
    its archived size."""
    import hashlib as _h

    from practicum2_nof1_adhd_bd_spark.sources import backup_crypto as bc

    key = _h.md5(b"prop-key").digest() * 2
    pad = (-len(payload)) % 16 or 16
    enc = bc.aes_cbc(payload + bytes([pad]) * pad, key, encrypt=True)
    assert bc.decrypt_file_payload(enc, key, len(payload)) == payload

    # keybag unlock right/wrong passphrase
    import struct as _s

    dpsl, salt = bc._det_bytes("p-dpsl", 20), bc._det_bytes("p-salt", 20)
    r1 = _h.pbkdf2_hmac("sha256", pw.encode(), dpsl, 37, 32)
    kek = _h.pbkdf2_hmac("sha1", r1, salt, 41, 32)
    blob = b"".join(
        [
            bc._int_tlv("TYPE", 3),
            bc._tlv("UUID", bc._det_bytes("p-bag", 16)),
            bc._tlv("DPSL", dpsl),
            bc._int_tlv("DPIC", 37),
            bc._tlv("SALT", salt),
            bc._int_tlv("ITER", 41),
            bc._tlv("UUID", bc._det_bytes("p-cls", 16)),
            bc._int_tlv("CLAS", 1),
            bc._int_tlv("WRAP", bc.WRAP_PASSPHRASE),
            bc._tlv("WPKY", bc._wrap(kek, key)),
        ]
    )
    kb = bc.BackupKeybag(blob)
    assert kb.unlock(pw)
    wrapped = bc._wrap(key, _h.md5(b"file-key").digest() * 2)
    assert len(wrapped) == 0x28
    assert kb.unwrap_for_class(1, wrapped) == _h.md5(b"file-key").digest() * 2
    kb2 = bc.BackupKeybag(blob)
    assert not kb2.unlock(pw + "x")


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=8
        ),
        min_size=1,
        max_size=6,
    ),
    model_docs=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c"]), min_size=1, max_size=8
        ),
        min_size=1,
        max_size=4,
    ),
)
@_settings
def test_trigram_stupid_backoff_matches_pure_python(spark, docs, model_docs):
    """trigram_surprisal against an independent pure-Python stupid-backoff
    model for ANY tiny corpus: same per-doc trigram counts and mean bits
    (token 'd' never appears in the model, so OOV paths get exercised
    whenever the scored side draws it)."""
    import math
    from collections import Counter

    from practicum2_nof1_adhd_bd_spark.operators import textops

    pool = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    model = [(1000 + i, " ".join(toks)) for i, toks in enumerate(model_docs)]
    df = spark.createDataFrame(pool, "doc_id long, text string")
    mdf = spark.createDataFrame(model, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in textops.trigram_surprisal(df, model_df=mdf).collect()
    }

    # pure-Python reference
    tri, big, uni = Counter(), Counter(), Counter()
    n_tok = 0
    for toks in model_docs:
        n_tok += len(toks)
        uni.update(toks)
        big.update(zip(toks, toks[1:]))
        tri.update(zip(toks, toks[1:], toks[2:]))
    tri_ctx = Counter()
    for (w1, w2, _w3), c in tri.items():
        tri_ctx[(w1, w2)] += c
    big_ctx = Counter()
    for (w2, _w3), c in big.items():
        big_ctx[w2] += c
    v = len(uni)

    def s(w1, w2, w3):
        if tri[(w1, w2, w3)]:
            return tri[(w1, w2, w3)] / tri_ctx[(w1, w2)]
        if big[(w2, w3)]:
            return 0.4 * big[(w2, w3)] / big_ctx[w2]
        return 0.4 * 0.4 * (uni[w3] + 0.1) / (n_tok + 0.1 * v)

    for i, toks in enumerate(docs):
        row = out[i]
        grams = list(zip(toks, toks[1:], toks[2:]))
        assert row["n_trigrams"] == len(grams)
        if not grams:
            assert row["bits_per_trigram"] is None
            continue
        want = sum(-math.log2(s(*g)) for g in grams) / len(grams)
        assert abs(row["bits_per_trigram"] - want) < 1e-5, (toks, want, row)


@given(
    pool=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=8
        ),
        min_size=1,
        max_size=5,
    ),
    target=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c"]), min_size=1, max_size=8
        ),
        min_size=1,
        max_size=3,
    ),
)
@_settings
def test_dsir_importance_matches_pure_python(spark, pool, target):
    """dsir_importance against an independent pure-Python computation of
    the add-alpha log-ratio for ANY tiny corpus pair ('d' exists only in
    the pool, exercising the ct=0 penalty side)."""
    import math
    from collections import Counter

    from practicum2_nof1_adhd_bd_spark.operators import textops

    pdf = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in enumerate(pool)],
        "doc_id long, text string",
    )
    tdf = spark.createDataFrame(
        [(100 + i, " ".join(t)) for i, t in enumerate(target)],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r for r in textops.dsir_importance(pdf, tdf).collect()
    }
    cc, ct = Counter(), Counter()
    for t in pool:
        cc.update(t)
    for t in target:
        ct.update(t)
    vocab = set(cc) | set(ct)
    nc, nt, v = sum(cc.values()), sum(ct.values()), len(vocab)

    def lr(w):
        return math.log((ct[w] + 0.1) / (nt + 0.1 * v)) - math.log(
            (cc[w] + 0.1) / (nc + 0.1 * v)
        )

    for i, toks in enumerate(pool):
        row = out[i]
        assert row["n_tokens"] == len(toks)
        if not toks:
            assert row["logratio_per_token"] is None
            continue
        want = sum(lr(w) for w in toks) / len(toks)
        assert abs(row["logratio_per_token"] - want) < 1e-5, (toks, want, row)


@given(
    docs=st.lists(
        st.lists(
            st.text(alphabet="abcd", min_size=1, max_size=6),
            min_size=1,
            max_size=12,
        ).map(" ".join),
        min_size=1,
        max_size=6,
    ),
    k=st.integers(min_value=1, max_value=8),
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_bpe_fit_and_encode_match_pure_python(spark, docs, k):
    """The distributed BPE merge loop must learn EXACTLY the merges the
    reference algorithm (Sennrich et al. 2016) learns — same pair
    counts, same count-desc/pair-asc tie-break, same greedy-leftmost
    merge pass — and encoding with the frozen table must reproduce the
    reference segmentation token for token, on arbitrary corpora."""
    from collections import Counter

    from practicum2_nof1_adhd_bd_spark.operators import textops

    def ref_fit(words, k):
        shapes = Counter()
        for w in words:
            shapes[tuple(w)] += 1
        merges = []
        for _ in range(k):
            pc = Counter()
            for s, c in shapes.items():
                for a, b in zip(s, s[1:]):
                    pc[(a, b)] += c
            if not pc:
                break
            best = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
            merges.append(best)
            ns = Counter()
            for s, c in shapes.items():
                out, i = [], 0
                while i < len(s):
                    if i + 1 < len(s) and (s[i], s[i + 1]) == best:
                        out.append(s[i] + s[i + 1])
                        i += 2
                    else:
                        out.append(s[i])
                        i += 1
                ns[tuple(out)] += c
            shapes = ns
        return merges

    def ref_encode(word, merges):
        syms = list(word)
        for m in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and (syms[i], syms[i + 1]) == m:
                    out.append(syms[i] + syms[i + 1])
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    words = [w for t in docs for w in t.lower().split()]
    want_merges = ref_fit(words, k)
    got_merges = textops.bpe_fit(df, k=k)
    assert got_merges == want_merges

    enc = {
        r["doc_id"]: r
        for r in textops.bpe_encode_merges(df, got_merges).collect()
    }
    for i, t in enumerate(docs):
        want = [
            s for w in t.lower().split() for s in ref_encode(w, want_merges)
        ]
        assert enc[i]["encoded"] == " ".join(want), (i, t)
        assert enc[i]["n_subwords"] == len(want)


@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from(["a", "b"]),
            st.integers(min_value=0, max_value=500),
        ),
        min_size=1,
        max_size=60,
    ),
    k=st.sampled_from([4, 8]),
)
@_settings
def test_kmv_estimate_cross_engine_any_input(spark, rows, k):
    """KMV sketch + estimator must byte-match the DuckDB replay for ANY
    (group, value) stream — the sketch's whole contract is that the
    distributed two-level merge is replayable by a sequential engine."""
    import duckdb

    from practicum2_nof1_adhd_bd_spark.operators import sketches

    df = spark.createDataFrame(rows, "g string, v long").repartition(5)
    got = {
        (r["g"]): (r["sketch_size"], r["kmv_estimate"])
        for r in sketches.kmv_estimate(df, ["g"], "v", k=k).collect()
    }
    con = duckdb.connect()
    con.sql("CREATE TABLE t (g VARCHAR, v BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    orc = con.sql(f"""
        WITH h AS (SELECT DISTINCT g,
                       ('0x' || substr(md5(CAST(v AS VARCHAR)), 1, 15))::BIGINT AS h
                   FROM t),
        r AS (SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn
              FROM h),
        sk AS (SELECT g, count(*) AS n, max(CASE WHEN rn = {k} THEN h END) AS hk
               FROM r WHERE rn <= {k} GROUP BY g)
        SELECT g, n,
               round(CASE WHEN n < {k} THEN n * 1.0
                          ELSE {k - 1}.0 * 1152921504606846976 / hk END, 4)
        FROM sk
    """).fetchall()
    assert got == {g: (n, est) for g, n, est in orc}


@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd", "ee"]),
            min_size=0,
            max_size=8,
        ).map(" ".join),
        min_size=2,
        max_size=10,
    )
)
@_settings
def test_prefix_join_equals_brute_force_any_corpus(spark, texts):
    """The prefix-filter lemma is an ANY-input guarantee, not a fixture
    property: for every random corpus (including empty docs, dup docs,
    single-shingle docs) the filtered join must equal the quadratic
    one."""
    from practicum2_nof1_adhd_bd_spark.operators import dedup

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    fast = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.prefix_jaccard_join(df).collect()
    }
    sh = df.select(
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


@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=4),          # user
            st.integers(min_value=0, max_value=100),        # minutes
            st.sampled_from(["a", "b", "c"]),               # step/type
        ),
        min_size=1,
        max_size=30,
    ),
    horizon_min=st.sampled_from([10, 30]),
)
@_settings
def test_funnel_matches_pure_python_any_stream(spark, events, horizon_min):
    """Funnel semantics differentially pinned: for ANY event stream the
    distributed chain of conditional mins must match a transparent
    sequential simulation of 'first a, first b within h after that,
    first c within h after that'."""
    from practicum2_nof1_adhd_bd_spark.operators import funnels

    base = dt.datetime(2024, 1, 1)
    rows = [
        (u, base + dt.timedelta(minutes=m), k) for u, m, k in events
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string"
    )
    got = {
        r["step_name"]: r["n_users"]
        for r in funnels.funnel_steps(
            df, ["a", "b", "c"], step_horizon=f"INTERVAL {horizon_min} MINUTES"
        ).collect()
    }

    h = dt.timedelta(minutes=horizon_min)
    by_user: dict = {}
    for u, t, k in rows:
        by_user.setdefault(u, []).append((t, k))
    n = {"a": 0, "b": 0, "c": 0}
    for evs in by_user.values():
        anchor = None
        for step in ("a", "b", "c"):
            cands = [
                t for t, k in evs
                if k == step
                and (anchor is None or (anchor <= t <= anchor + h))
            ]
            if step == "a":
                cands = [t for t, k in evs if k == "a"]
            if not cands:
                break
            anchor = min(cands)
            n[step] += 1
    assert got == n


@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=4),     # user
            st.integers(min_value=0, max_value=70),    # day offset
        ),
        min_size=1,
        max_size=25,
    )
)
@_settings
def test_retention_matches_pure_python_any_stream(spark, events):
    """Retention differentially pinned: cohort Monday, floored week
    offsets, distinct-user counts — vs a transparent dict simulation."""
    from practicum2_nof1_adhd_bd_spark.operators import funnels

    base = dt.date(2024, 1, 3)  # a Wednesday: exercises Monday truncation
    rows = [
        (u, dt.datetime.combine(base + dt.timedelta(days=d), dt.time(12)))
        for u, d in events
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = {
        (str(r["cohort_week"]), r["week_offset"]): (
            r["n_active"], r["cohort_size"], r["retention"]
        )
        for r in funnels.retention_cohorts(df, max_weeks=8).collect()
    }

    first = {}
    for u, t in rows:
        d = t.date()
        if u not in first or d < first[u]:
            first[u] = d
    cells: dict = {}
    for u, t in rows:
        d = t.date()
        off = (d - first[u]).days // 7
        if off > 8:
            continue
        monday = first[u] - dt.timedelta(days=first[u].weekday())
        cells.setdefault((str(monday), off), set()).add(u)
    sizes = {cw: len(us) for (cw, off), us in cells.items() if off == 0}
    exp = {
        (cw, off): (len(us), sizes[cw], round(len(us) / sizes[cw], 6))
        for (cw, off), us in cells.items()
    }
    assert got == exp


@given(
    events=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=3),    # user
            st.integers(min_value=0, max_value=50),   # minute (may collide)
            st.sampled_from(["a", "b", "c"]),
        ),
        min_size=2,
        max_size=25,
    )
)
@_settings
def test_transitions_match_pure_python_any_stream(spark, events):
    """Transition matrix differentially pinned, including the
    (ts, event_id) tiebreak on colliding timestamps."""
    from practicum2_nof1_adhd_bd_spark.operators import funnels

    base = dt.datetime(2024, 1, 1)
    rows = [
        (u, base + dt.timedelta(minutes=m), i, k)
        for i, (u, m, k) in enumerate(events)
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_id long, event_type string"
    )
    got = {
        (r["from_type"], r["to_type"]): (r["n"], r["p"])
        for r in funnels.event_transitions(df).collect()
    }

    streams: dict = {}
    for u, t, i, k in rows:
        streams.setdefault(u, []).append((t, i, k))
    counts: dict = {}
    for evs in streams.values():
        evs.sort()
        for (_, _, a), (_, _, b) in zip(evs, evs[1:]):
            counts[(a, b)] = counts.get((a, b), 0) + 1
    totals: dict = {}
    for (a, _), n in counts.items():
        totals[a] = totals.get(a, 0) + n
    exp = {
        (a, b): (n, round(n / totals[a], 6)) for (a, b), n in counts.items()
    }
    assert got == exp


def _ref_log_bucket(v: int) -> tuple[int, int]:
    """Pure-Python reference for the log-grid bucket: (lo, width)."""
    if v < 0:
        return (-1, 1)
    if v <= 99:
        return (v, 1)
    s = str(v)
    return (int(s[:2] + "0" * (len(s) - 2)), 10 ** (len(s) - 2))


@given(
    vals=st.lists(
        st.one_of(
            st.integers(min_value=-5, max_value=200),
            st.integers(min_value=0, max_value=10**18),
        ),
        min_size=1,
        max_size=60,
    ),
    split=st.integers(min_value=2, max_value=5),
)
@_settings
def test_qhist_log_bucket_matches_reference_and_merge_law(
    spark, vals, split
):
    """Differential fuzz for the log-grid sketch: for ANY longs
    (negatives, the exact sub-100 band, multi-decade tails up to 10^18)
    the distributed bucket assignment matches the pure-Python
    leading-two-digits reference — every value inside [lo, lo+width),
    width <= max(1, v/10) — and sketching any split of the rows then
    merging equals sketching the whole (the exact merge law, under the
    partitioning hypothesis picks)."""
    from practicum2_nof1_adhd_bd_spark.operators import sketches

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "i long, v long"
    )
    got = {
        r["bucket_lo"]: r["n"]
        for r in sketches.qhist_log_sketch(df, [], "v").collect()
    }
    want: dict[int, int] = {}
    for v in vals:
        lo, width = _ref_log_bucket(v)
        assert lo <= v < lo + width or v < 0
        if v >= 0:
            assert width <= max(1, v / 10 + 1)
        want[lo] = want.get(lo, 0) + 1
    assert got == want
    parts = [
        df.filter(F.col("i") % split == r).repartition(1 + r % 3)
        for r in range(split)
    ]
    merged = sketches.qhist_merge(
        *[sketches.qhist_log_sketch(p, [], "v") for p in parts]
    )
    assert {r["bucket_lo"]: r["n"] for r in merged.collect()} == want
