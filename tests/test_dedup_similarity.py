"""Dedup + similarity operators: recall of approximate paths vs exact
baselines on the driver's sf0.001 testdata, and determinism goldens."""

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from gliner_spark.operators.dedup import (
    _simhash64,
    exact_dup_groups,
    hash_str_64,
    minhash_dups,
    ngram_jaccard_dups,
    simhash_dups,
)
from gliner_spark.operators.multimodal import (
    attach_media,
    extract_features,
    media_metadata,
    sample_frames,
)
from gliner_spark.operators.similarity import (
    brute_force_topk,
    embedding_dup_pairs,
    embedding_dup_pairs_lsh,
    hyperplane_lsh_topk,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from gliner_spark.session import build_session

    s = build_session(app_name="gliner-tests", cores=4)
    yield s
    s.stop()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_exact_dedup_all_unique_and_total(docs):
    out = exact_dup_groups(docs)
    assert out.count() == docs.count()
    assert out.where(~F.col("keep")).count() == out.where(
        F.col("group_size") > 1
    ).count() - out.where((F.col("group_size") > 1) & F.col("keep")).count()


def test_minhash_recall_vs_exact_ngram(docs):
    exact = {(r.src, r.dst) for r in ngram_jaccard_dups(docs).collect()}
    mh = {(r.src, r.dst) for r in minhash_dups(docs).collect()}
    assert exact, "testdata should contain seeded near-duplicates"
    assert mh <= exact or not (mh - exact), "minhash verified pairs ⊆ exact"
    recall = len(mh & exact) / len(exact)
    assert recall >= 0.9, f"minhash recall {recall}"


def test_minhash_equals_exact_at_gate_scale(spark):
    """dedup_minhash shares dedup_ngram's EXACT DuckDB oracle: with
    b=32/r=4 a J=0.8 pair is missed with prob (1-0.8^4)^32 ≈ 5e-8 (the
    seeded dups sit at J≈0.99 → ~1e-45) and candidates are verified with
    the identical Jaccard expression, so the outputs must be set-equal
    including sims on the gate corpus."""
    d = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    exact = {tuple(r) for r in ngram_jaccard_dups(d).collect()}
    mh = {tuple(r) for r in minhash_dups(d).collect()}
    assert exact and mh == exact


def test_ann_lsh_and_ivf_exact_at_gate_scale(spark):
    """ann_topk_lsh / ann_topk_ivf share ann_topk's EXACT oracle:
    - LSH at 2 bits × 32 tables: per-(query,neighbor) miss probability
      at the corpus's observed top-5 cosine floor (≈0.26) is
      (1 - p_agree²)^32 ≈ 2e-6 — empirical equality pinned here;
    - IVF at n_probe = n_cells probes every cell, so candidate
      completeness holds BY CONSTRUCTION (this is a plan-shape check)."""
    from gliner_spark.operators.similarity import ivf_topk

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    qids = list(range(8))
    bf = {tuple(r) for r in brute_force_topk(e, qids, k=5).collect()}
    lsh = {tuple(r) for r in
           hyperplane_lsh_topk(e, qids, k=5, n_bits=2, n_tables=32).collect()}
    ivf = {tuple(r) for r in
           ivf_topk(e, qids, k=5, n_cells=16, n_probe=16).collect()}
    assert bf and lsh == bf and ivf == bf


def test_simhash_deterministic_and_catches_dups(docs):
    # kernel determinism (FNV + bit votes are process-independent)
    assert hash_str_64("spark") == hash_str_64("spark")
    assert _simhash64(["a", "b"]) == _simhash64(["a", "b"])
    assert _simhash64([]) == 0
    exact = {(r.src, r.dst) for r in ngram_jaccard_dups(docs).collect()}
    sh = {(r.src, r.dst) for r in simhash_dups(docs).collect()}
    # near-identical docs have near-identical simhashes: high recall of
    # the seeded dups (precision is the verifier stage's job)
    recall = len(sh & exact) / len(exact)
    assert recall >= 0.9, f"simhash recall {recall}"


def test_simhash_vectorized_vote_semantics(spark):
    """The distributed signature = majority bit-vote over JVM xxhash64
    token hashes: a 1-token doc's simhash IS its token hash; a 3-token
    doc's bits are the per-bit majority of the three hashes."""
    from gliner_spark.operators.dedup import simhash_signatures

    df = spark.createDataFrame(
        [(1, "spark"), (2, "join"), (3, "spark join table")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.simhash for r in simhash_signatures(df).collect()}
    h = {
        r.w: r.h
        for r in spark.createDataFrame(
            [("spark",), ("join",), ("table",)], "w string"
        ).select("w", F.xxhash64("w").alias("h")).collect()
    }
    assert got[1] == h["spark"] and got[2] == h["join"]
    hs = [h["spark"] & 0xFFFFFFFFFFFFFFFF, h["join"] & 0xFFFFFFFFFFFFFFFF,
          h["table"] & 0xFFFFFFFFFFFFFFFF]
    expect = 0
    for i in range(64):
        if sum((x >> i) & 1 for x in hs) >= 2:
            expect |= 1 << i
    if expect >= 1 << 63:
        expect -= 1 << 64
    assert got[3] == expect


def test_prefix_filtered_ngram_equals_bruteforce(spark):
    """The AllPairs prefix filter must be LOSSLESS: on corpora dense in
    borderline pairs (many docs sharing most words, sizes straddling
    the t·n ceiling — including sizes where t·n is integral, the float
    ceil hazard), the filtered join equals a brute-force O(n²) Python
    Jaccard over the same shingle sets."""
    import itertools
    import random

    from gliner_spark.operators.dedup import ngram_jaccard_dups

    rng = random.Random(3)
    # k=1 (shingle = word) over a tiny vocabulary: dense in pairs right
    # at the 0.8 boundary, with sizes where 0.8·n is INTEGRAL (5, 10 —
    # the float-ceil hazard the prefix length must survive)
    vocab = [f"w{i}" for i in range(10)]
    docs = []
    for i in range(40):
        n = rng.randint(5, 10)
        words = rng.sample(vocab, n)
        docs.append((i, " ".join(words)))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    got = {(r.src, r.dst): r.sim
           for r in ngram_jaccard_dups(df, k=1, threshold=0.8).collect()}

    def shingles(t):
        return set(t.split(" "))

    expect = {}
    for (ia, ta), (ib, tb) in itertools.combinations(docs, 2):
        sa, sb = shingles(ta), shingles(tb)
        sim = round(len(sa & sb) / len(sa | sb), 6)
        if sim >= 0.8:
            expect[(min(ia, ib), max(ia, ib))] = sim
    assert got == expect and expect  # corpus must actually contain pairs


def test_ngram_prefix_dropped_buckets_audit(spark):
    """The max_bucket guard's exactness condition is CHECKABLE (r4
    ADVICE): the audit counts hot prefix buckets the join would skip.
    Zero on the gate corpus (so the shared full-index oracle is valid
    there); positive — with a demonstrable missed pair — once a shared
    prefix shingle exceeds the cap."""
    from gliner_spark.operators.dedup import (
        ngram_jaccard_dups,
        ngram_prefix_dropped_buckets,
    )

    gate = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    assert ngram_prefix_dropped_buckets(gate, k=3, threshold=0.8) == 0

    # adversarial corpus for the r7 HASH order (the AllPairs order is
    # now the xxhash64 value order, so "sorts first" means "hashes
    # lowest"): rank candidate tokens by their xxhash64 and build every
    # doc around the globally minimum-hashing token ``hot``. The
    # qualifying pair (100, 101) = {hot,b,y,z} vs {hot,c,y,z}
    # (J = 3/5 = 0.6 ≥ t, n=4 → prefix length 2) gets prefixes
    # {hot,b} and {hot,c} — b and c hash just above hot, y/z at the
    # top — so their ONLY shared prefix shingle is the hot bucket, and
    # capping it misses the pair the uncapped oracle keeps.
    from pyspark.sql import functions as F

    cand_toks = [f"t{i}" for i in range(120)]
    ranked = [
        r.t for r in spark.createDataFrame(
            [(t,) for t in cand_toks], "t string"
        ).select("t", F.xxhash64("t").alias("h")).orderBy("h").collect()
    ]
    hot, b, c = ranked[0], ranked[1], ranked[2]
    y, z = ranked[-2], ranked[-1]
    mids = ranked[3:-2]
    docs = [
        (i, f"{hot} {mids[3 * i]} {mids[3 * i + 1]} {mids[3 * i + 2]}")
        for i in range(30)
    ]
    docs += [(100, f"{hot} {b} {y} {z}"), (101, f"{hot} {c} {y} {z}")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    t = 0.6
    assert ngram_prefix_dropped_buckets(df, k=1, threshold=t,
                                        max_bucket=10) > 0
    capped = {(r.src, r.dst)
              for r in ngram_jaccard_dups(df, k=1, threshold=t,
                                          max_bucket=10).collect()}
    uncapped = {(r.src, r.dst)
                for r in ngram_jaccard_dups(df, k=1, threshold=t,
                                            max_bucket=10_000).collect()}
    assert (100, 101) in uncapped
    assert capped < uncapped  # the guard really does cost pairs here


def test_near_dup_clusters_transitive(spark):
    """a≈b and b≈c must land in ONE cluster even when a and c are not
    themselves a pair (the pairwise output can't express this); clean
    docs become singleton keepers."""
    from gliner_spark.operators.dedup import near_dup_clusters

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " lambda"),          # pairs with 1 and 3
            (3, base + " lambda mu"),       # pairs with 2, maybe not 1
            (7, "totally different content with no shared phrases at all"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in near_dup_clusters(docs).collect()}
    assert rows[1].cluster_id == rows[2].cluster_id == rows[3].cluster_id == 1
    assert rows[1].cluster_size == 3
    assert rows[1].keep and not rows[2].keep and not rows[3].keep
    assert rows[7].cluster_id == 7 and rows[7].cluster_size == 1
    assert rows[7].keep


def test_md5_60_hash_family_matches_python(spark):
    """The SQL-reproducible hash family behind the dedup_simhash /
    kg_links_cosine exact oracles: Spark's
    conv(substr(md5(w),1,15),16,10) must equal hashlib's digest fold —
    and the md5_60 simhash must equal the reference vote kernel run
    over those hashes."""
    import hashlib

    from gliner_spark.operators.dedup import (
        md5_hash60,
        simhash_signatures,
    )

    words = ["spark", "join", "table", "κύιβ", ""]
    got = {
        r.w: r.h
        for r in spark.createDataFrame([(w,) for w in words], "w string")
        .select("w", md5_hash60(F.col("w")).alias("h"))
        .collect()
    }
    for w in words:
        expect = int(hashlib.md5(w.encode("utf-8")).hexdigest()[:15], 16)
        assert got[w] == expect, w
        assert 0 <= got[w] < 1 << 60

    df = spark.createDataFrame(
        [(1, "spark join table")], "doc_id long, text string"
    )
    sig = simhash_signatures(df, hash_family="md5_60").collect()[0].simhash
    hs = [int(hashlib.md5(w.encode()).hexdigest()[:15], 16)
          for w in "spark join table".split()]
    expect = 0
    for i in range(60):
        if sum((x >> i) & 1 for x in hs) >= 2:
            expect |= 1 << i
    assert sig == expect and sig >= 0


def test_md5_gram_vectors_match_python(spark):
    """kg_links_cosine's embedding twin: the Catalyst gram-vote vector
    and its cosine must equal a pure-Python recomputation (distinct
    char-3-grams, bucket = h mod 64, sign from bit 59, integer votes,
    L2-normalized dot)."""
    import hashlib
    import math

    from gliner_spark.operators.embed import (
        cosine_links_md5,
        md5_gram_vectors,
    )

    def py_vec(s):
        grams = {s[i:i + 3] for i in range(max(1, len(s) - 2))}
        v = {}
        for g in grams:
            h = int(hashlib.md5(g.encode()).hexdigest()[:15], 16)
            v[h % 64] = v.get(h % 64, 0) + (1 if ((h >> 59) & 1) == 0
                                            else -1)
        return {b: x for b, x in v.items() if x != 0}

    surfaces = spark.createDataFrame(
        [("a", "kyiv city"), ("b", "kyiv cty")],
        "sid string, surface string",
    )
    got = {}
    for r in md5_gram_vectors(surfaces).collect():
        got.setdefault(r.sid, {})[r.bucket] = r.v
    assert {b: v for b, v in got["a"].items() if v} == py_vec("kyiv city")

    cands = spark.createDataFrame([("a", "b")], "src string, dst string")
    rows = cosine_links_md5(surfaces, cands, threshold=-1.0).collect()
    va, vb = py_vec("kyiv city"), py_vec("kyiv cty")
    dot = sum(va[k] * vb.get(k, 0) for k in va)
    cos = dot / (math.sqrt(sum(x * x for x in va.values()))
                 * math.sqrt(sum(x * x for x in vb.values())))
    assert rows[0].cos == pytest.approx(round(cos, 6), abs=1e-9)


def test_ann_lsh_recall_vs_brute_force(emb):
    qids = list(range(8))
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, qids, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in hyperplane_lsh_topk(emb, qids, k=5).collect()
    }
    recall = len(approx & exact) / len(exact)
    assert recall >= 0.5, f"ANN-LSH top-5 recall {recall}"


def test_ann_ivf_recall_vs_brute_force(emb):
    from gliner_spark.operators.similarity import ivf_topk

    qids = list(range(8))
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(emb, qids, k=5).collect()
    }
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(emb, qids, k=5, n_cells=8, n_probe=4).collect()
    }
    recall = len(ivf & exact) / len(exact)
    assert recall >= 0.5, f"IVF top-5 recall {recall}"
    # determinism: seeded centroids + fixed Lloyd rounds → same result
    ivf2 = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(emb, qids, k=5, n_cells=8, n_probe=4).collect()
    }
    assert ivf == ivf2


def test_brute_force_topk_shape(emb):
    out = brute_force_topk(emb, [0, 1], k=3).collect()
    assert len(out) == 6
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        sims = [r.sim for r in rows]
        assert sims == sorted(sims, reverse=True)
        assert all(r.neighbor_id != q for r in rows)


def test_embedding_dups_symmetric_free(emb):
    pairs = embedding_dup_pairs(emb, threshold=0.35).collect()
    assert all(r.src < r.dst for r in pairs)


def test_embedding_dups_lsh_exact_recall_on_gate_corpus(spark):
    """The driver query runs the LSH-BLOCKED plan against the exact O(n²)
    DuckDB oracle at sf0.01 — the defaults must reproduce the exact pair
    set bit-for-bit there, or the hash gate breaks."""
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    exact = {(r.src, r.dst, r.sim) for r in embedding_dup_pairs(emb).collect()}
    lsh = {(r.src, r.dst, r.sim)
           for r in embedding_dup_pairs_lsh(emb).collect()}
    assert exact and lsh == exact


def _word_shingles_ref(text, k):
    """Python twin of word_shingles: k-token windows of the " "-split
    text, first occurrences only; under k tokens, the whole text."""
    w = text.split(" ")
    if len(w) < k:
        return [text]
    return list(dict.fromkeys(
        " ".join(w[i:i + k]) for i in range(len(w) - k + 1)
    ))


_SHINGLE_TOKENS = st.sampled_from(
    ["", "a", "b", "ab", "é", "漢字", "x\ty", "p\nq", "\U0001F600"]
)
_SHINGLE_TEXTS = st.one_of(
    st.lists(_SHINGLE_TOKENS, max_size=9).map(" ".join),
    st.text(alphabet=" ab\t\né漢\U0001F600", max_size=14),
)


@settings(max_examples=25, deadline=None)
@given(texts=st.lists(_SHINGLE_TEXTS, min_size=1, max_size=20))
def test_word_shingles_match_python_reference(spark, texts):
    """The codegen'd regex shingler equals the split/join reference for
    k = 1..5 over empty tokens, leading/trailing/double spaces, tabs,
    newlines and non-ASCII; NULL text yields [''] (pinned)."""
    from gliner_spark.operators.dedup import word_shingles

    ks = range(1, 6)
    df = spark.createDataFrame([(t,) for t in texts] + [(None,)],
                               "text string")
    rows = df.select(
        "text", *[word_shingles(F.col("text"), k).alias(f"k{k}") for k in ks]
    ).collect()
    for r in rows:
        for k in ks:
            want = [""] if r.text is None else _word_shingles_ref(r.text, k)
            assert list(r[f"k{k}"]) == want, (r.text, k)


def test_ngram_hash_prefilter_zero_collisions_at_gate_scale(spark):
    """r7 internals: ngram_jaccard_dups pre-filters candidates with
    xxhash64-counted intersections. That count equals the string count
    iff no two distinct shingles collide — assert ZERO collisions over
    the whole gate corpora, turning the ~n²/2⁶⁵ probability argument
    into a checked fact (the lsh_dropped_buckets pattern)."""
    from pyspark.sql import functions as F

    from gliner_spark.operators.dedup import word_shingles

    for sf in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
        docs = spark.read.parquet(f"{sf}/documents.parquet")
        sh = docs.select(
            F.explode(word_shingles(F.col("text"), 3)).alias("s")
        ).distinct()
        r = sh.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct(F.xxhash64("s")).alias("nh"),
        ).first()
        assert r.n == r.nh, f"xxhash64 shingle collision at {sf}"


def test_bucket_jaccard_candidates_internals(spark):
    """r7 internals: the per-bucket Jaccard prefilter must (a) honor the
    max_bucket cap group-locally (oversized group → no pairs, matching
    the old bucket-aggregation guard), (b) emit src<dst only, (c) keep
    near-threshold pairs via the margin."""
    from gliner_spark.operators.dedup import _bucket_jaccard_candidates

    # group "g": docs 1,2 share 4 of 5 shingles (J = 4/6 ≈ 0.667);
    # docs 1,3 identical (J = 1.0); hashes stand in for shingles
    rows = [
        ("g", 1, 5, [10, 20, 30, 40, 50]),
        ("g", 2, 5, [10, 20, 30, 40, 99]),
        ("g", 3, 5, [10, 20, 30, 40, 50]),
    ]
    df = spark.createDataFrame(
        rows, "shingle string, sid long, n_sh int, hx array<long>"
    )
    got = {(r.src, r.dst)
           for r in _bucket_jaccard_candidates(df, 0.7, 1000).collect()}
    # J(1,3)=1.0 passes; J(1,2)=J(2,3)=4/6=0.667 ≥ 0.7−0.05 margin
    assert got == {(1, 3), (1, 2), (2, 3)}
    # tighten threshold: only the identical pair survives the margin
    got_hi = {(r.src, r.dst)
              for r in _bucket_jaccard_candidates(df, 0.9, 1000).collect()}
    assert got_hi == {(1, 3)}
    # cap: group of 3 > max_bucket=2 → dropped entirely
    assert _bucket_jaccard_candidates(df, 0.7, 2).count() == 0


def test_bucket_pair_candidates_prefilter_semantics(spark):
    """r7 internals: the per-bucket numpy prefilter must (a) emit every
    pair at/above threshold−margin including across its chunk boundary,
    (b) force-pair zero-norm vectors with their whole bucket (the old
    Catalyst plan emits their NaN cosine, which Spark orders ABOVE any
    threshold, so dropping them would change output), (c) emit src<dst
    only."""
    import numpy as np

    from gliner_spark.operators.similarity import _bucket_pair_candidates

    rows = [
        (0, 0, 7, [1.0, 0.0, 0.0, 0.0]),
        (0, 0, 3, [1.0, 0.001, 0.0, 0.0]),   # ~1.0 cosine with 7
        (0, 0, 11, [0.0, 1.0, 0.0, 0.0]),    # orthogonal
        (0, 0, 5, [0.0, 0.0, 0.0, 0.0]),     # zero vector → NaN pairs
    ]
    df = spark.createDataFrame(
        rows, "tbl int, bucket int, nid long, vraw array<float>"
    )
    got = {(r.src, r.dst)
           for r in _bucket_pair_candidates(df, 0.9).collect()}
    # near-identical pair plus the zero vector against everyone
    assert got == {(3, 7), (3, 5), (5, 7), (5, 11)}
    assert all(s < d for s, d in got)

    # chunk boundary: force chunk=1 via a bucket larger than the
    # 32M-doubles budget is impractical; instead monkeypatch-free check
    # that a 3-vector clique at chunk size 1 (32_000_000 // n >= 1
    # always, so emulate by many vectors) still finds all pairs: use a
    # 40-vector identical clique — C(40,2) pairs, every one found once.
    clique = [(1, 1, i, [1.0, 0.0, 0.0, 0.0]) for i in range(40)]
    df2 = spark.createDataFrame(
        clique, "tbl int, bucket int, nid long, vraw array<float>"
    )
    got2 = _bucket_pair_candidates(df2, 0.9).collect()
    assert len(got2) == 40 * 39 // 2
    assert np.all([r.src < r.dst for r in got2])


def test_multimodal_plumbing(docs):
    from gliner_spark.operators.multimodal import media_embeddings

    media = attach_media(docs)
    meta = media_metadata(media)
    row = meta.orderBy("doc_id").first()
    assert row.n_bytes > 0 and len(row.sha) == 64
    emb = media_embeddings(media, dim=16)
    f0 = emb.orderBy("doc_id").first()
    assert len(f0.feature) == 16
    # determinism: same input → same embedding
    f1 = media_embeddings(media, dim=16).orderBy("doc_id").first()
    assert f0.feature == f1.feature
    frames = sample_frames(media, frame_bytes=32, every_nth=4)
    fr = frames.groupBy("doc_id").count().first()
    assert fr["count"] > 0


def test_ppm_decode_real_roundtrip(docs):
    """attach_media image payloads are REAL P6 PPMs: decode_ppm must
    parse the header and recover pixel moments matching a direct
    recomputation from the source text bytes; malformed inputs raise."""
    import numpy as np
    import pytest as _pytest

    from gliner_spark.operators.multimodal import (
        PPM_PIXEL_BYTES,
        decode_ppm,
        extract_features,
    )

    media = attach_media(docs)
    img = media.where(F.col("kind") == "image").orderBy("doc_id").first()
    w, h, px = decode_ppm(bytes(img.media))
    assert (w, h, px.shape) == (8, 8, (8, 8, 3))
    src = docs.where(F.col("doc_id") == img.doc_id).first().text or " "
    cycled = (src.encode() * (PPM_PIXEL_BYTES // len(src.encode()) + 1))[
        :PPM_PIXEL_BYTES
    ]
    assert px.tobytes() == cycled

    feats = extract_features(media).where(F.col("kind") == "image")
    f = feats.where(F.col("doc_id") == img.doc_id).first()
    arr = np.frombuffer(cycled, dtype=np.uint8).astype(np.int64)
    assert (f.width, f.height) == (8, 8)
    assert f.val_sum == arr.sum() and f.val_sumsq == (arr * arr).sum()
    assert f.r_sum == arr.reshape(-1, 3)[:, 0].sum()

    # header comments are legal PPM; truncation/garbage must raise
    commented = b"P6\n# a comment\n2 1\n255\n" + bytes(6)
    assert decode_ppm(commented)[0:2] == (2, 1)
    with _pytest.raises(ValueError):
        decode_ppm(b"P5\n8 8\n255\n" + bytes(192))
    with _pytest.raises(ValueError):
        decode_ppm(b"P6\n8 8\n255\n" + bytes(10))


def test_paragraph_dedup_newline_mode(spark):
    """Real-layout mode: global first occurrence wins (across docs AND
    within a doc), reassembly preserves original order, a fully-
    boilerplate doc comes back empty, and counts reconcile."""
    from gliner_spark.operators.dedup import paragraph_dedup

    docs = spark.createDataFrame(
        [
            (1, "intro one\nshared boiler\nbody one"),
            (2, "shared boiler\nbody two\nshared boiler"),  # dup within
            (3, "shared boiler"),                            # all dup
            (4, "body two\nfresh four"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.text_clean, r.n_kept, r.n_dropped)
           for r in paragraph_dedup(docs).collect()}
    assert out[1] == ("intro one\nshared boiler\nbody one", 3, 0)
    assert out[2] == ("body two", 1, 2)   # both boiler copies dropped
    assert out[3] == ("", 0, 1)           # empty but present
    assert out[4] == ("fresh four", 1, 1)  # "body two" first seen in 2
