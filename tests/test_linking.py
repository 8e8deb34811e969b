"""Linking + canonicalization: LSH recall vs exact Jaccard, connected
components correctness. Spark tests share one session (module scope)."""

import pytest
from pyspark.sql import functions as F

from gliner_spark.operators.canonicalize import (
    canonical_entities,
    connected_components,
    nodes_table,
)
from gliner_spark.operators.linking import (
    char_shingles,
    entity_surfaces,
    exact_jaccard_links,
    lsh_links,
)


@pytest.fixture(scope="session")
def spark():
    from gliner_spark.session import build_session

    s = build_session(app_name="gliner-tests", cores=4)
    yield s
    s.stop()


def _surfaces(spark, rows):
    return spark.createDataFrame(
        [(f"{lab}:{surf}", lab, surf, n) for lab, surf, n in rows],
        "sid string, label string, surface string, n_mentions long",
    )


SURF_ROWS = [
    ("city", "new york", 10),
    ("city", "new york city", 5),
    ("city", "york", 2),
    ("city", "kyiv", 7),
    ("country", "ukraine", 4),
    ("country", "the ukraine", 1),
    ("person", "elon musk", 3),
    ("person", "musk", 1),
]


def test_exact_jaccard_links_structure(spark):
    links = exact_jaccard_links(_surfaces(spark, SURF_ROWS), threshold=0.30)
    pairs = {(r.src, r.dst) for r in links.collect()}
    assert ("city:new york", "city:new york city") in pairs
    assert ("country:the ukraine", "country:ukraine") in pairs
    # cross-label pairs never linked
    assert all(s.split(":")[0] == d.split(":")[0] for s, d in pairs)
    # dissimilar same-label surfaces not linked
    assert ("city:kyiv", "city:new york") not in pairs


def test_lsh_recall_vs_exact(spark):
    surfaces = _surfaces(spark, SURF_ROWS)
    exact = {
        (r.src, r.dst): r.sim
        for r in exact_jaccard_links(surfaces, threshold=0.30).collect()
    }
    lsh = {
        (r.src, r.dst): r.sim
        for r in lsh_links(surfaces, threshold=0.30).collect()
    }
    # LSH is a subset with identical sims (verification is exact)
    assert set(lsh) <= set(exact)
    for k, v in lsh.items():
        assert v == exact[k]
    # recall at default band config
    assert len(lsh) >= 0.75 * len(exact) > 0


def test_lsh_links_exact_at_gate_scale(spark):
    """The driver's kg_links_lsh shares kg_links's EXACT DuckDB oracle,
    which is only valid if the bands=64 (r=1) configuration reproduces
    exact_jaccard_links bit-for-bit on the gate corpus. Per-pair miss
    probability at threshold J=0.30 is (1-0.3)^64 ≈ 1e-10, so equality
    is expected with wide margin; this pins it empirically."""
    from gliner_spark.kernels.scorer import SOUP_LABELS
    from gliner_spark.operators.ner import extract_mentions

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    surfaces = entity_surfaces(
        extract_mentions(docs, SOUP_LABELS, id_col="doc_id", text_col="text")
    ).persist()
    exact = {tuple(r) for r in exact_jaccard_links(surfaces).collect()}
    lsh = {tuple(r) for r in lsh_links(surfaces, bands=64).collect()}
    # the banding-probability argument silently assumes the skew guard
    # never truncates a bucket; at r=1 (band key = ONE minhash value)
    # mega-buckets are plausible as corpora grow, so the recall-1.0
    # claim must also verify that zero buckets were dropped here
    from gliner_spark.operators.linking import lsh_dropped_buckets

    assert lsh_dropped_buckets(surfaces, bands=64) == 0
    surfaces.unpersist()
    assert exact and lsh == exact


def test_shingles_short_string(spark):
    df = spark.range(1).select(char_shingles(F.lit("ab"), 3).alias("sh"))
    assert df.collect()[0].sh == ["ab"]


def test_connected_components_chain(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("p", "q"), ("q", "r"),
         ("r", "s")],
        "src string, dst string",
    )
    comp = {r.node: r.component for r in connected_components(edges).collect()}
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["x"] == comp["y"] == "x"
    assert comp["p"] == comp["q"] == comp["r"] == comp["s"] == "p"


def test_cc_auto_matches_distributed_both_sides_of_threshold(spark):
    """connected_components_auto must equal the distributed hash-min
    labeling exactly — on the driver union-find path AND past the
    threshold where it falls back to the iteration."""
    from gliner_spark.operators.canonicalize import (
        connected_components,
        connected_components_auto,
    )

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("p", "q"), ("q", "r")],
        "src string, dst string",
    )
    dist = {(r.node, r.component)
            for r in connected_components(edges).collect()}
    auto = {(r.node, r.component)
            for r in connected_components_auto(edges).collect()}
    assert auto == dist
    # force the fallback: threshold below the edge count
    fb = {(r.node, r.component)
          for r in connected_components_auto(
              edges, driver_threshold=2).collect()}
    assert fb == dist
    # a WRONG (too-small) size_hint must not collect an unbounded edge
    # set: the limit(threshold+1) guard detects the overflow and falls
    # back to the distributed path (r5 ADVICE)
    hinted = {(r.node, r.component)
              for r in connected_components_auto(
                  edges, driver_threshold=2, size_hint=1).collect()}
    assert hinted == dist


def test_canonical_entities_singletons_and_merge(spark):
    surfaces = _surfaces(spark, SURF_ROWS)
    links = exact_jaccard_links(surfaces, threshold=0.30)
    ents = canonical_entities(surfaces, links)
    rows = {r.sid: r for r in ents.collect()}
    assert len(rows) == len(SURF_ROWS)  # every surface mapped
    # merged component shares entity_id; singleton keeps its own
    assert rows["city:new york"].entity_id == rows["city:new york city"].entity_id
    assert rows["city:kyiv"].entity_id == "city:kyiv"
    nodes = nodes_table(ents)
    n = {r.entity_id: r for r in nodes.collect()}
    merged = rows["city:new york"].entity_id
    assert n[merged].n_mentions >= 15  # 10 + 5 (maybe + york)
    assert n[merged].n_surfaces >= 2


def test_star_cc_matches_hashmin(spark):
    import random

    from gliner_spark.operators.canonicalize import connected_components_star

    rng = random.Random(3)
    nodes = [f"n{i:03d}" for i in range(200)]
    edges = []
    # chain components of varying length + random extra intra-links
    i = 0
    while i < len(nodes) - 1:
        comp_len = rng.randint(1, 12)
        for j in range(i, min(i + comp_len - 1, len(nodes) - 1)):
            edges.append((nodes[j], nodes[j + 1]))
        i += comp_len
    for _ in range(40):
        a, b = rng.sample(range(len(nodes)), 2)
        if abs(a - b) < 5:
            edges.append((nodes[min(a, b)], nodes[max(a, b)]))
    df = spark.createDataFrame(edges, "src string, dst string")
    hashmin = {
        r.node: r.component for r in connected_components(df).collect()
    }
    # driver_threshold=0 pins the star ITERATION itself (the
    # size-adaptive shortcut would route this toy graph to the
    # shared union-find, which the auto tests already cover)
    star = {
        r.node: r.component
        for r in connected_components_star(
            df, driver_threshold=0).collect()
    }
    assert star == hashmin and len(star) > 0
    # the adaptive default must agree with the pinned iteration
    adaptive = {
        r.node: r.component
        for r in connected_components_star(df).collect()
    }
    assert adaptive == hashmin
    # star semantics are size-INDEPENDENT for self-loops too: the
    # iteration's symmetrize drops (n, n), so the driver shortcut must
    # as well — the output node universe must not change with
    # driver_threshold (r6 review finding)
    looped = spark.createDataFrame(
        edges + [("solo", "solo")], "src string, dst string")
    small_path = {r.node for r in
                  connected_components_star(looped).collect()}
    iter_path = {r.node for r in connected_components_star(
        looped, driver_threshold=0).collect()}
    assert small_path == iter_path and "solo" not in small_path


def test_embeddings_and_cosine_links(spark):
    import numpy as np

    from gliner_spark.operators.embed import (
        cosine_links,
        embed_surfaces,
        embed_text,
        lsh_cosine_links,
    )

    # kernel determinism + self-similarity
    # vectorized batch kernel must equal the single-string reference
    # (same FNV-1a hashes, same ±1 scatter, same normalization)
    import numpy as np

    from gliner_spark.operators.dedup import hash_str_64
    from gliner_spark.operators.embed import embed_texts

    for t in ["big data", "données", "", "ab", "你好世界, नमस्ते"]:
        got = embed_texts([t], dim=16, k=3)[0]
        ref = np.zeros(16)
        grams = {t[i:i + 3] for i in range(max(1, len(t) - 2))} if t else set()
        for g in grams:
            h = hash_str_64(g)
            ref[h % 16] += 1.0 if (h >> 63) & 1 == 0 else -1.0
        n = np.linalg.norm(ref)
        if n:
            ref /= n
        assert np.allclose(got, ref.astype(np.float32))

    v1, v2 = embed_text("new york"), embed_text("new york")
    assert np.allclose(v1, v2) and abs(np.linalg.norm(v1) - 1.0) < 1e-5
    # related strings score far above unrelated ones
    sim_rel = float(embed_text("new york") @ embed_text("new york city"))
    sim_unrel = float(embed_text("new york") @ embed_text("kyiv"))
    assert sim_rel > 0.5 > sim_unrel

    surfaces = _surfaces(spark, SURF_ROWS)
    emb = embed_surfaces(surfaces)
    rows = emb.collect()
    assert len(rows) == len(SURF_ROWS)
    assert all(len(r.embedding) == 64 for r in rows)

    cand = spark.createDataFrame(
        [
            ("city:new york", "city:new york city"),
            ("city:kyiv", "city:new york"),
        ],
        "src string, dst string",
    )
    links = {(r.src, r.dst): r.cos for r in
             cosine_links(surfaces, cand, threshold=0.5).collect()}
    assert ("city:new york", "city:new york city") in links
    assert ("city:kyiv", "city:new york") not in links


def test_lsh_cosine_links_on_mentions(spark):
    from gliner_spark.kernels.scorer import SOUP_LABELS
    from gliner_spark.operators.embed import lsh_cosine_links
    from gliner_spark.operators.ner import extract_mentions

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    mentions = extract_mentions(docs, SOUP_LABELS, id_col="doc_id")
    links = lsh_cosine_links(mentions, threshold=0.5).collect()
    pairs = {(r.src, r.dst) for r in links}
    # phrase ↔ head-noun pairs must link ("big data" ~ "data", …)
    assert ("concept:big data", "concept:data") in pairs or (
        "concept:data", "concept:big data"
    ) in pairs


def _minhash_reference(hx, n_perms, seed):
    """Pure-Python MinHash over pre-hashed shingles: Python ints never
    overflow, so this checks the kernel's int64 arithmetic too."""
    from gliner_spark.operators.linking import MERSENNE, perm_params

    return [min((a * h + b) % MERSENNE for h in hx)
            for a, b in perm_params(n_perms, seed)]


def test_minhash_signature_map_equals_reference(spark):
    """The one signature kernel equals a Python reference over the gate
    corpus, passes every non-``hx`` column through, and drops rows
    whose hash array is NULL or empty."""
    from pyspark.sql import functions as F

    from gliner_spark.operators.dedup import word_shingles
    from gliner_spark.operators.linking import (
        hash_shingles,
        minhash_signature_map,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    hx = docs.select(
        F.col("doc_id").cast("long").alias("sid"),
        F.col("lang"),
        hash_shingles(word_shingles(F.col("text"), 3)).alias("hx"),
    ).unionByName(spark.createDataFrame(
        [(-1, "x", None), (-2, "x", [])],
        "sid long, lang string, hx array<bigint>",
    ))
    out = minhash_signature_map(hx, 128, 11)
    assert out.columns == ["sid", "lang", "sig"]
    got = {r.sid: (r.lang, list(r.sig)) for r in out.collect()}
    want = {r.sid: (r.lang, _minhash_reference(r.hx, 128, 11))
            for r in hx.collect() if r.hx}
    assert got == want and len(got) == docs.count()


def _char_shingles_ref(s, k=3):
    return {s[i:i + k] for i in range(max(len(s) - k + 1, 1))}


def _guarded_pairs_ref(banded, keys, max_bucket):
    """Python twin of the band-bucket guard + self-join: buckets with
    2..max_bucket members, their (a < b) pairs, deduplicated; also the
    number of buckets over max_bucket."""
    from collections import defaultdict

    buckets = defaultdict(list)
    for r in banded:
        buckets[tuple(r[c] for c in keys)].append(r["sid"])
    pairs = {
        (a, b)
        for ids in buckets.values() if 1 < len(ids) <= max_bucket
        for a in ids for b in ids if a < b
    }
    return pairs, sum(len(ids) > max_bucket for ids in buckets.values())


def test_lsh_links_bucket_guard_matches_reference(spark):
    """Surfaces built from repeated char patterns share one shingle set,
    so each group shares every band bucket: groups of 1 (singleton
    buckets), 2 and 3 (kept at max_bucket=3) and 5 (dropped). lsh_links
    must keep exactly the reference's guarded pairs, and
    lsh_dropped_buckets must count the buckets it drops."""
    from gliner_spark.operators.linking import (
        _banded_signatures,
        lsh_dropped_buckets,
    )

    rows = [("city", "kyiv", 1)]
    for pat, n in (("ab", 2), ("xyz", 3), ("mno", 5)):
        rows += [("city", pat * 2 + pat[:j], 1) for j in range(n)]
    rows += [("person", "ab" * 2, 1)]  # same shingles, other label
    surfaces = _surfaces(spark, rows)
    args = dict(k=3, n_perms=64, bands=32, seed=7)

    banded = [r.asDict() for r in _banded_signatures(surfaces, **args)
              .collect()]
    pairs, n_dropped = _guarded_pairs_ref(
        banded, ["label", "band_idx", "band_hash"], 3)
    sh = {f"{lab}:{s}": _char_shingles_ref(s) for lab, s, _ in rows}
    sims = {
        (a, b): round(len(sh[a] & sh[b]) / len(sh[a] | sh[b]), 6)
        for a, b in pairs
    }
    want = {p: v for p, v in sims.items() if v >= 0.30}
    got = {(r.src, r.dst): r.sim for r in
           lsh_links(surfaces, max_bucket=3, **args).collect()}
    assert got == want
    assert ("city:abab", "city:ababa") in got
    assert not any("mno" in a for a, _ in got)
    assert n_dropped >= 32
    assert lsh_dropped_buckets(surfaces, max_bucket=3, **args) == n_dropped


def test_minhash_dups_bucket_guard_matches_reference(spark):
    """Copies of one text share every band bucket: a singleton, groups
    of 2 and 3 (kept at max_bucket=3) and of 5 (dropped), plus a
    one-word-edited near-dup pair that shares only some bands.
    minhash_dups must return exactly the reference's guarded,
    exact-verified pairs."""
    import random

    from gliner_spark.operators.dedup import minhash_dups, word_shingles
    from gliner_spark.operators.linking import (
        band_hashes,
        hash_shingles,
        minhash_signature_map,
    )

    rng = random.Random(5)

    def words():
        return [f"w{rng.randrange(10**6)}" for _ in range(40)]

    texts = [" ".join(words())]
    for n in (2, 3, 5):
        texts += [" ".join(words())] * n
    base = words()
    texts += [" ".join(base), " ".join(base[:-1] + ["dup"])]
    docs = spark.createDataFrame(list(enumerate(texts)),
                                 "doc_id long, text string")

    banded = minhash_signature_map(
        docs.select(F.col("doc_id").alias("sid"),
                    hash_shingles(word_shingles(F.col("text"), 3))
                    .alias("hx")),
        128, 11,
    ).select("sid", band_hashes(128, 32)).collect()
    pairs, n_dropped = _guarded_pairs_ref(
        [r.asDict() for r in banded], ["band_idx", "band_hash"], 3)

    def grams(t):
        w = t.split(" ")
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

    want = {}
    for a, b in pairs:
        ga, gb = grams(texts[a]), grams(texts[b])
        sim = round(len(ga & gb) / len(ga | gb), 6)
        if sim >= 0.8:
            want[(a, b)] = sim
    got = {(r.src, r.dst): r.sim for r in
           minhash_dups(docs, max_bucket=3).collect()}
    assert got == want
    assert (1, 2) in got and (len(texts) - 2, len(texts) - 1) in got
    assert not any(6 <= a <= 10 for a, _ in got) and n_dropped >= 32
