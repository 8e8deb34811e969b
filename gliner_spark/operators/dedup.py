"""Document deduplication for training-data pipelines.

Five detectors, each a first-class operator over a documents/pages table
(core requirement for a 100 TB corpus engine; the driver's testdata
seeds near-duplicate docs at word-shingle Jaccard ≈ 0.99):

- exact:       md5 content hash groupBy (zero false positives)
- fingerprint: bag-normalized hash (order/multiplicity-insensitive)
- ngram:       exact word-k-gram Jaccard via shingle inverted-index join
- minhash:     MinHash-LSH blocked candidates + exact verification
- simhash:     64-bit SimHash (pandas UDF) + banded Hamming join

Scale notes: exact/fingerprint are one shuffle on a 16-byte key. The
shingle join's bucket-size guard bounds quadratic blowup; at 100 TB the
minhash path replaces the exact ngram join (signatures are fixed-width
regardless of doc length, candidates ≈ true pairs for b/r tuned to the
threshold). SimHash banding is 4 exact-match joins on 16-bit slices —
cheapest of all at scale, catches Hamming ≤ 3×16-bit-band collisions.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .linking import (
    band_hashes,
    bucket_guard,
    hash_shingles,
    minhash_signature_map,
)
from .util import ensure_parallelism


def exact_dup_groups(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """(doc_id, content_hash, group_size, keep): keep marks the minimum
    id per identical-content group (the canonical survivor)."""
    h = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.md5(F.col(text_col)).alias("content_hash"),
    )
    g = h.groupBy("content_hash").agg(
        F.count(F.lit(1)).alias("group_size"), F.min("doc_id").alias("keep_id")
    )
    return h.join(g, "content_hash").select(
        "doc_id",
        "content_hash",
        "group_size",
        (F.col("doc_id") == F.col("keep_id")).alias("keep"),
    )


def fingerprint(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Bag-normalized document fingerprint: md5 over the sorted distinct
    word set — catches reordered/repeated-word copies exact hashing
    misses. (doc_id, fp, group_size, keep)."""
    h = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.md5(
            F.concat_ws(
                " ", F.array_sort(F.array_distinct(F.split(F.col(text_col), " ")))
            )
        ).alias("fp"),
    )
    g = h.groupBy("fp").agg(
        F.count(F.lit(1)).alias("group_size"), F.min("doc_id").alias("keep_id")
    )
    return h.join(g, "fp").select(
        "doc_id", "fp", "group_size",
        (F.col("doc_id") == F.col("keep_id")).alias("keep"),
    )


def word_shingles(text_col, k: int = 3):
    """Distinct word k-grams of the " "-split text, in first-occurrence
    order (JVM-side, codegen'd). Docs under k tokens yield their full
    text as the single shingle; NULL text yields ``['']``.

    One ``regexp_extract_all``: at every token start (the text start or
    a position after a space) a lookahead captures the next k tokens.
    The lookbehind tests for a space, not for "no non-space": Java
    matches the latter between the two halves of a surrogate pair.
    A ``transform(sequence, concat_ws(slice))`` form is a higher-order
    function Spark interprets row by row: over the 5,000 sf0.1
    documents (k=3, 4 cores) it took 1.66–1.85 s against 0.30–0.49 s."""
    text = F.coalesce(text_col, F.lit(""))
    window = "[^ ]*" + " [^ ]*" * (k - 1)
    grams = F.regexp_extract_all(
        text, F.lit(f"(?<=^| )(?=({window}))"), F.lit(1)
    )
    return F.array_distinct(
        F.when(F.size(F.split(text, " ")) < k, F.array(text)).otherwise(grams)
    )


def _prefix_index(
    docs: DataFrame, k: int, threshold: float, id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame]:
    """Shared by ngram_jaccard_dups and its dropped-bucket audit:
    (shingle table with hash-ordered int arrays, exploded AllPairs
    prefix index keyed by hashed shingle).

    The AllPairs global order is the xxhash64 VALUE order (r7): the
    filtering theorem needs any one total order on the shingle
    universe, and sorting int64 hashes is far cheaper than sorting the
    shingle strings (and makes the prefix-index join key an int). The
    order is total as long as no two distinct shingles collide under
    xxhash64 — the same corpus-wide zero-collision precondition the
    hashed-intersection prefilter already asserts at gate scale."""
    sh = docs.select(
        F.col(id_col).cast("long").alias("sid"),
        word_shingles(F.col(text_col), k).alias("sh"),
    ).select(
        "sid", "sh",
        F.array_sort(
            F.transform(F.col("sh"), lambda x: F.xxhash64(x))
        ).alias("hx"),
        F.size("sh").alias("n_sh"),
    )
    # ceil guard: 0.8*35 floats to 28.000000000000004 — the 1e-9 nudge
    # keeps integral products from ceiling one too high (which would
    # SHORTEN the prefix and break the no-miss guarantee)
    p = (
        F.col("n_sh")
        - F.ceil(F.lit(threshold) * F.col("n_sh") - F.lit(1e-9))
        + 1
    ).cast("int")
    pref = sh.select(
        "sid", "n_sh",
        F.explode(F.slice("hx", F.lit(1), p)).alias("shingle"),
    )
    return sh, pref


def ngram_prefix_dropped_buckets(
    docs: DataFrame,
    k: int = 3,
    threshold: float = 0.8,
    max_bucket: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> int:
    """Number of prefix-shingle buckets ``ngram_jaccard_dups`` (same
    parameters) would DROP under its ``max_bucket`` skew guard — the
    lsh_dropped_buckets twin for the AllPairs index. The operator's
    EXACT claim (and its full-index DuckDB oracle) is valid only while
    this returns 0: each dropped bucket is a hot prefix shingle whose
    co-occurring pairs are found only via their OTHER shared prefix
    shingles, if any. Monitor in production before trusting the
    prefix-filter theorem at a new scale."""
    _, pref = _prefix_index(docs, k, threshold, id_col, text_col)
    return (
        pref.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("bn"))
        .where(F.col("bn") > max_bucket)
        .count()
    )


def _bucket_jaccard_candidates(
    bucketed: DataFrame, threshold: float, max_bucket: int,
    margin: float = 0.05,
) -> DataFrame:
    """(src, dst) candidate pairs from per-prefix-bucket vectorized
    Jaccard estimation — the r7 replacement for the Catalyst
    self-join + 8M-pair dropDuplicates + full-array verify join chain
    (guide §2.3/§4.2).

    Input: (shingle, sid, n_sh, hx) — one row per (prefix shingle,
    member doc), carrying the doc's xxhash64-hashed shingle array. One
    applyInPandas group per prefix shingle: a binary membership matrix
    over the group's distinct hash values gives ALL pairwise
    intersection counts in one BLAS matmul; pairs whose hash-Jaccard
    clears ``threshold − margin`` are emitted. Groups larger than
    ``max_bucket`` are dropped — the same skew guard the old bucket
    aggregation applied, now group-local.

    PRE-FILTER, not the scorer of record: survivors are re-verified by
    the exact string-array intersection downstream, so output equality
    needs only that no qualifying pair is dropped here. Hash-counted
    intersections equal string-counted ones unless two distinct
    shingles in one pair's union collide under xxhash64 (probability
    ~n²/2⁶⁵; a corpus-wide zero-collision check is asserted at gate
    scale in tests), and even a collision moves Ĵ by ~1/|A| ≪ margin.
    """
    import pandas as pd

    cut = threshold - margin
    empty = pd.DataFrame({"src": np.empty(0, dtype=np.int64),
                          "dst": np.empty(0, dtype=np.int64)})

    def score(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        if m < 2 or m > max_bucket:
            return empty
        ids = pdf["sid"].to_numpy(dtype=np.int64)
        order = np.argsort(ids)
        ids = ids[order]
        n = pdf["n_sh"].to_numpy(dtype=np.int64)[order]
        arrs = [np.asarray(a, dtype=np.int64)
                for a in pdf["hx"].iloc[order]]
        lens = np.fromiter((len(a) for a in arrs), dtype=np.int64, count=m)
        flat = np.concatenate(arrs)
        _, inv = np.unique(flat, return_inverse=True)
        mat = np.zeros((m, int(inv.max()) + 1), dtype=np.float32)
        mat[np.repeat(np.arange(m), lens), inv] = 1.0
        inter = mat @ mat.T
        est = inter / (n[:, None] + n[None, :] - inter)
        ii, jj = np.nonzero(est >= cut)
        keep = ii < jj  # ids ascending → src < dst
        return pd.DataFrame({"src": ids[ii[keep]], "dst": ids[jj[keep]]})

    return bucketed.groupBy("shingle").applyInPandas(
        score, schema="src long, dst long"
    )


def ngram_jaccard_dups(
    docs: DataFrame,
    k: int = 3,
    threshold: float = 0.8,
    max_bucket: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(src, dst, sim): doc pairs with word-k-gram Jaccard ≥ threshold.
    src < dst numerically.

    EXACT via prefix filtering (the AllPairs/PPJoin self-join —
    Chaudhuri 2006, Bayardo 2007): with every doc's shingle set sorted
    in ONE global order, any pair with J ≥ t must share a shingle
    inside their ``n - ceil(t·n) + 1`` prefixes, so only prefixes are
    indexed — at t=0.8 that's ~5× fewer index rows and ~25× fewer
    candidate pairs than the full inverted index, with identical
    output (candidates are then verified with the exact Jaccard; the
    prefix property guarantees no qualifying pair is missed). The
    DuckDB oracle keeps the full-index form — same result set by the
    filtering theorem, CONDITIONAL on the ``max_bucket`` skew guard
    dropping nothing: a prefix shingle hotter than ``max_bucket`` is
    skipped, so a qualifying pair whose only shared prefix shingle is
    hot would be missed while the uncapped oracle keeps it. Audit the
    condition with ``ngram_prefix_dropped_buckets`` (same parameters)
    — the exactness claim, and the shared oracle, hold only while it
    returns 0 at the claimed scale (0 asserted at gate scale in tests).

    Plan shape (r7 rework): the old form materialized the candidate
    pairs with a Catalyst self-join on the prefix index and verified
    EVERY candidate by joining both docs' full string shingle arrays —
    at sf1.0 that was 8.3M candidate pairs × ~1 KB of strings per side
    (~17 GB through the verify joins + 8.3M array_intersect calls,
    measured 15-16 s, the bulk of dedup_ngram/dedup_clusters/curate).
    Now each prefix bucket ships its member docs' int64-hashed shingle
    arrays ONCE into an Arrow group task (~240 MB total) that computes
    all pairwise intersection counts with one matmul and emits only
    margin-passing pairs; the exact string verify runs on survivors
    only (≈ output-sized). Same candidate-superset + identical final
    verify expressions ⇒ identical output (asserted vs the full-index
    oracle and by the unchanged pytest equality sets)."""
    docs = ensure_parallelism(docs)
    # materialized ONCE (localCheckpoint): the shingle arrays feed the
    # prefix/hash pass AND both sides of the final exact verify —
    # without pinning, the scan+shingle subtree runs 3×. r7: the
    # AllPairs global order is the xxhash64 VALUE order (sorting int64
    # hashes instead of shingle strings — see _prefix_index; the
    # filtering theorem holds under any one total order, and totality
    # rests on the same corpus-wide zero-collision precondition the
    # hashed-intersection prefilter already asserts at gate scale), so
    # the string arrays stay UNSORTED (array_intersect in the exact
    # verify is order-insensitive) and the prefix-index join key is an
    # int instead of a shingle string.
    sh = docs.select(
        F.col(id_col).cast("long").alias("sid"),
        word_shingles(F.col(text_col), k).alias("sh"),
    ).select(
        "sid", "sh",
        F.array_sort(
            F.transform(F.col("sh"), lambda x: F.xxhash64(x))
        ).alias("hx"),
        F.size("sh").alias("n_sh"),
    ).localCheckpoint()
    p = (
        F.col("n_sh")
        - F.ceil(F.lit(threshold) * F.col("n_sh") - F.lit(1e-9))
        + 1
    ).cast("int")
    bucketed = sh.select(
        "sid",
        "n_sh",
        "hx",
        F.explode(F.slice("hx", F.lit(1), p)).alias("shingle"),
    )
    cand = _bucket_jaccard_candidates(
        bucketed, threshold, max_bucket
    ).dropDuplicates(["src", "dst"])
    sh_a = sh.select(F.col("sid").alias("src"), F.col("sh").alias("sh_a"),
                     F.col("n_sh").alias("n_a"))
    sh_b = sh.select(F.col("sid").alias("dst"), F.col("sh").alias("sh_b"),
                     F.col("n_sh").alias("n_b"))
    verified = cand.join(sh_a, "src").join(sh_b, "dst")
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    return verified.select(
        "src",
        "dst",
        F.round(
            inter / (F.col("n_a") + F.col("n_b") - inter), 6
        ).alias("sim"),
    ).where(F.col("sim") >= threshold)


def paragraph_dedup(
    docs: DataFrame,
    delimiter: str = "\n",
    window_words: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, text_clean, n_kept, n_dropped): corpus-global
    paragraph-level exact dedup — the CCNet/Dolma preprocessing step
    that whole-document dedup cannot replace (boilerplate headers,
    navigation blocks and repeated disclaimers recur across otherwise
    distinct pages). Only the FIRST global occurrence of each paragraph
    survives (minimum (doc_id, paragraph index)); every document is
    reassembled from its kept paragraphs in original order (possibly
    empty).

    Segmentation: split on ``delimiter`` (real page layout), or — for
    corpora without layout, like the soup test tables — fixed
    ``window_words``-word windows, which keeps the exact same global
    first-occurrence computation SQL-expressible for the oracle.

    Plan shape at 10^12 docs: one explode, then first occurrence per
    paragraph via ``groupBy(para).agg(min(struct(doc_id, idx)))`` —
    NOT a row_number window: hot boilerplate paragraphs (exactly the
    keys this operator targets) get map-side partial aggregation, so a
    disclaimer repeated 10^8 times costs one min-struct per input
    partition instead of one task's full sort buffer (r5 ADVICE). The
    join back to flag keepers is probe-heavy on the same hot keys, but
    the build side is one row per paragraph and AQE's skew-join split
    can divide the probe side. Measured (tools/paragraph_probe.py, r7):
    the split does NOT fire below the combined gate (partition > 256 MB
    AND > 5× median) — a 10^7-repetition hot key, ~450 MB but under 5×
    median, still runs whole (skew 1.7, outputs identical to the window
    plan, groupby ≤ window on wall at every probed scale). Past both
    gates the split is available to this join (observed firing on a
    sort-merge join in tools/salt_probe.py, not in this probe), while NO
    skew optimization ever applies to a window sort. Then one
    groupBy(doc_id) reassembly shuffle."""
    words = F.split(F.col(text_col), " ")
    if window_words is not None:
        n_seg = F.ceil(F.size(words) / F.lit(window_words)).cast("int")
        segs = F.transform(
            F.sequence(F.lit(0), n_seg - 1),
            lambda i: F.array_join(
                F.slice(words, i * window_words + 1, window_words), " "
            ),
        )
        joiner = " "
    else:
        segs = F.split(F.col(text_col), delimiter)
        joiner = delimiter
    # ensure_parallelism: a small local parquet arrives as ONE split,
    # which would run the explode + both map sides single-threaded
    # (guide §2.5 input skew; no-op on a real multi-split scan).
    # localCheckpoint: ``paras`` feeds the first-occurrence aggregation
    # AND the flag join — one explode pass instead of two (measured
    # 1.3-1.5× at 50k docs). NOTE this pin is CORPUS-sized, unlike the
    # signature/vocab-sized pins elsewhere: the trade is one
    # write+2-read round trip through executor storage (spilling to
    # local disk past memory) against a second full scan+split+explode
    # — favorable while local disks out-bandwidth the source store; on
    # a deployment where the source scan is cheaper than local
    # materialization, drop the checkpoint and pay the recompute.
    paras = ensure_parallelism(docs).select(
        F.col(id_col).cast("long").alias("doc_id"),
        F.posexplode(segs).alias("idx", "para"),
    ).localCheckpoint()
    firsts = paras.groupBy("para").agg(
        F.min(F.struct("doc_id", "idx")).alias("first")
    )
    flagged = (
        paras.join(firsts, "para")
        .withColumn(
            "keep",
            (F.col("doc_id") == F.col("first.doc_id"))
            & (F.col("idx") == F.col("first.idx")),
        )
        .drop("first")
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.coalesce(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.when(F.col("keep"),
                                       F.struct("idx", "para"))
                            )
                        ),
                        lambda s: s.para,
                    ),
                    joiner,
                ),
                F.lit(""),
            ).alias("text_clean"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            F.sum((~F.col("keep")).cast("long")).alias("n_dropped"),
        )
    )


def near_dup_clusters(
    docs: DataFrame,
    k: int = 3,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    pairs_fn=None,
) -> DataFrame:
    """(doc_id, cluster_id, cluster_size, keep): the curation DECISION
    layer over pairwise near-dup detection — transitive closure of the
    dup-pair graph (a≈b, b≈c ⇒ one cluster even when a/c don't pair),
    cluster id = min member, keep = the canonical representative.
    Dropping ``keep = false`` rows is the dedup a training-data pipeline
    actually applies.

    Scale shape: the pair graph contains ONLY docs with a near-dup
    (≪ corpus); connected components runs on that subgraph, and docs
    without pairs short-circuit to singleton clusters via a left join —
    the CC iterations never see the clean majority of a 10^12-doc
    corpus. ``pairs_fn`` swaps the pair source (e.g. ``minhash_dups``,
    the blocked production path — default here is the exact
    ``ngram_jaccard_dups`` that shares the DuckDB oracle)."""
    pairs = (
        pairs_fn(docs) if pairs_fn is not None
        else ngram_jaccard_dups(docs, k=k, threshold=threshold,
                                id_col=id_col, text_col=text_col)
    )

    from .canonicalize import connected_components

    comp = connected_components(pairs.select("src", "dst"))
    ids = docs.select(F.col(id_col).cast("long").alias("doc_id"))
    clustered = (
        ids.join(comp, F.col("doc_id") == comp.node, "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("cluster_id"),
        )
    )
    sizes = clustered.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return clustered.join(sizes, "cluster_id").select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        # CC labels every member with the component minimum, so the
        # canonical keeper IS the cluster id
        (F.col("doc_id") == F.col("cluster_id")).alias("keep"),
    )


def minhash_dups(
    docs: DataFrame,
    k: int = 3,
    n_perms: int = 128,
    bands: int = 32,
    threshold: float = 0.8,
    max_bucket: int = 2000,
    seed: int = 11,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MinHash-LSH near-dup pairs, exact-verified. Scale path for
    ``ngram_jaccard_dups`` (b=32, r=4 → ~50% collision at J=0.8 per
    band set; ≥1-of-32 collision prob ≈ 1 for J ≥ 0.8)."""
    docs = ensure_parallelism(docs)
    # materialized ONCE (guide §2.4): the shingle table feeds the
    # signature stage AND both sides of the final exact verify. Without
    # pinning, the r6 plan scanned documents.parquet SIX times
    # (plans/r07/dedup_minhash_before: 6 Scan parquet nodes). The
    # signatures need no pin: both band-join sides read them through
    # the bucket guard's one (reused) Exchange.
    sh = docs.select(
        F.col(id_col).cast("long").alias("sid"),
        word_shingles(F.col(text_col), k).alias("sh"),
    ).select("sid", "sh", F.size("sh").alias("n_sh")).localCheckpoint()
    sig = minhash_signature_map(
        sh.select("sid", hash_shingles(F.col("sh")).alias("hx")),
        n_perms, seed,
    )
    # band keys only — the candidate join must not drag the shingle
    # arrays through its shuffle (they rejoin below, candidate set ≪ docs)
    pruned = bucket_guard(
        sig.select("sid", band_hashes(n_perms, bands)),
        ["band_idx", "band_hash"], max_bucket,
    )
    a = pruned.alias("a")
    b = pruned.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.sid") < F.col("b.sid")),
        )
        .select(F.col("a.sid").alias("src"), F.col("b.sid").alias("dst"))
        .dropDuplicates(["src", "dst"])
    )
    sh_a = sh.select(
        F.col("sid").alias("src"),
        F.col("sh").alias("sh_a"),
        F.col("n_sh").alias("n_a"),
    )
    sh_b = sh.select(
        F.col("sid").alias("dst"),
        F.col("sh").alias("sh_b"),
        F.col("n_sh").alias("n_b"),
    )
    verified = cand.join(sh_a, "src").join(sh_b, "dst")
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    return verified.select(
        "src",
        "dst",
        F.round(inter / (F.col("n_a") + F.col("n_b") - inter), 6).alias("sim"),
    ).where(F.col("sim") >= threshold)


_SIMHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("simhash", T.LongType()),
    ]
)


def _simhash64(tokens: list) -> int:
    """Single-process reference kernel: 64-bit SimHash over FNV token
    hashes. Used by unit tests to pin the bit-vote semantics; the
    distributed ``simhash_signatures`` uses the same vote rule over
    JVM-side ``xxhash64`` token hashes (different hash family, same
    algorithm)."""
    if not tokens:
        return 0
    hs = np.array(
        [hash_str_64(t) for t in tokens], dtype=np.uint64
    )
    bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)) & 1).astype(np.int64)
    v = (2 * bits - 1).sum(axis=0)
    out = np.uint64(0)
    for i in range(64):
        if v[i] > 0:
            out |= np.uint64(1) << np.uint64(i)
    return int(out.astype(np.int64))  # two's-complement into LongType


def hash_str_64(s: str) -> int:
    """Deterministic 64-bit string hash (FNV-1a); stable across runs and
    processes (unlike Python's salted ``hash``)."""
    h = 0xCBF29CE484222325
    for b in s.encode("utf-8"):
        h ^= b
        h = (h * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h


def md5_hash60(col):
    """60-bit integer folded from the md5 hex digest's first 15 nibbles
    — a token-hash family DuckDB reproduces verbatim
    (``('0x'||substr(md5(w),1,15))::BIGINT``), unlike ``xxhash64``/FNV
    which have no SQL form. 60 bits (not 64) keeps every derived value
    — including bit-vote signatures re-folded from per-bit sums —
    inside non-negative int64 range on BOTH engines, so no
    two's-complement edge exists anywhere in the oracle comparison."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def simhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(doc_id, simhash): token hashing runs JVM-side (``xxhash64`` over
    the split-token array, whole-stage codegen); only the bit-vote
    accumulation — which has no efficient SQL form — crosses into an
    Arrow-batched pandas stage, fully numpy-vectorized over the
    concatenated int64 hash arrays (no per-token Python). Zero shuffle:
    both stages are row-local.

    ``hash_family`` picks the token hash: ``xxhash64`` (default — the
    cheapest JVM-side family, the 100 TB choice) or ``md5_60`` (60-bit
    md5 fold, ``md5_hash60``) whose values — and therefore the whole
    vote → signature → band → Hamming chain — a DuckDB oracle
    recomputes exactly. Same algorithm either way; only the hash family
    differs."""
    if hash_family == "xxhash64":
        def token_hash(w):
            return F.xxhash64(w)
    elif hash_family == "md5_60":
        token_hash = md5_hash60
    else:
        raise ValueError(f"unknown hash_family {hash_family!r}")
    # empty/null text → empty hash array (signature 0, matching the
    # reference kernel _simhash64([]) == 0 — otherwise empty docs would
    # all carry xxhash64("")'s bit pattern and false-pair with anything
    # hashing near that constant)
    text = F.coalesce(F.col(text_col), F.lit(""))
    hashes = F.when(
        F.length(text) == 0, F.array().cast("array<long>")
    ).otherwise(
        F.transform(F.split(text, " "), token_hash)
    )
    src = ensure_parallelism(
        docs.select(
            F.col(id_col).cast("long").alias("doc_id"),
            hashes.alias("hs"),
        )
    )

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            sig = simhash_vote_batch(
                [np.asarray(a, dtype=np.int64) for a in pdf["hs"]]
            )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].astype("int64"),
                 "simhash": pd.Series(sig)}
            )

    return src.mapInPandas(compute, schema=_SIMHASH_SCHEMA)


def simhash_vote_batch(arrs: list) -> np.ndarray:
    """Majority bit-vote over a batch of per-doc int64 hash arrays →
    int64 signatures (empty array → 0). One vectorized ``reduceat``
    over the concatenated batch — the kernel both the Spark stage and
    the property tests call."""
    bit_idx = np.arange(64, dtype=np.uint64)
    n_docs = len(arrs)
    lens = np.fromiter((len(a) for a in arrs), dtype=np.int64, count=n_docs)
    sig = np.zeros(n_docs, dtype=np.uint64)
    nz = lens > 0  # empty docs keep signature 0
    if nz.any():
        nz_arrs = [a for a in arrs if len(a)]
        nz_lens = lens[nz]
        flat = np.concatenate(nz_arrs).view(np.uint64)
        bits = (flat[:, None] >> bit_idx) & np.uint64(1)  # (N, 64)
        starts = np.zeros(len(nz_arrs), dtype=np.int64)
        np.cumsum(nz_lens[:-1], out=starts[1:])
        votes = np.add.reduceat(bits.view(np.int64), starts, axis=0)
        keep = (2 * votes) > nz_lens[:, None]  # majority-positive bit
        s = np.zeros(len(nz_arrs), dtype=np.uint64)
        for i in range(64):
            s |= keep[:, i].astype(np.uint64) << np.uint64(i)
        sig[nz] = s
    return sig.view(np.int64)


def simhash_dups(
    docs: DataFrame,
    max_hamming: int = 6,
    band_bits: int = 8,
    max_bucket: int = 10_000,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_family: str = "xxhash64",
) -> DataFrame:
    """(src, dst, hamming): pairs within Hamming distance via 16-bit band
    blocking (any pair with distance ≤ 6 shares ≥ 1 of 4 exact bands
    unless all differing bits spread 3+ bands; recall measured in tests).

    r7 note (measured and kept AS the join): a per-bucket vectorized
    applyInPandas Hamming (the rework pattern that won for the
    embedding/ngram candidates) was implemented and benchmarked at
    8.7 s vs this join's 7.8 s on a 50k-doc convergent-signature
    corpus (598M same-bucket pairs). Unlike those operators, the band
    join never SHUFFLES the quadratic candidate set — the Hamming
    predicate sits in the join condition, so candidates die streaming
    inside the join task — which leaves both forms CPU-bound on the
    same Σ C(bucket, 2) comparisons; numpy SWAR popcount (6 temps per
    element, memory-bandwidth-bound) did not beat codegen'd
    xor+bit_count, so the simpler Catalyst form stays. At web scale
    the right lever is band_bits=16 (fewer, selective buckets), not a
    faster scorer.
    """
    # materialized ONCE (guide §2.4): the signature table feeds the band
    # explode, whose three consumers (bucket guard, join sides a and b)
    # otherwise each re-ran the scan + token-hash + vote mapInPandas —
    # the r6 plan carried three MapInPandas nodes over four parquet
    # scans (plans/r07/dedup_simhash_before) for one Python stage's
    # worth of work. The checkpoint holds (doc_id, simhash) ints only.
    sig = simhash_signatures(
        docs, id_col, text_col, hash_family
    ).localCheckpoint()
    # band_bits=8 → 8 bands: a pair with Hamming ≤ 6 almost always leaves
    # ≥1 of 8 bytes identical; at web scale prefer band_bits=16 (4 bands,
    # max_hamming≈3) — byte-bands collide too often on 10^12 docs. The
    # bucket guard bounds quadratic blowup either way.
    n_bands = 64 // band_bits
    mask = (1 << band_bits) - 1
    bands = sig.select(
        F.col("doc_id"),
        F.col("simhash"),
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), i * band_bits)
                    .bitwiseAND(F.lit(mask))
                    for i in range(n_bands)
                ]
            )
        ).alias("band_idx", "band_val"),
    )
    bucket = (
        bands.groupBy("band_idx", "band_val")
        .agg(F.count(F.lit(1)).alias("bn"))
        .where((F.col("bn") > 1) & (F.col("bn") <= max_bucket))
        .select("band_idx", "band_val")
    )
    bands = bands.join(bucket, ["band_idx", "band_val"])
    a = bands.alias("a")
    b = bands.alias("b")
    ham = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    )
    # the Hamming predicate lives IN the join condition: candidate pairs
    # that fail it are dropped while streaming out of the join, before
    # the dropDuplicates shuffle — on convergent-signature corpora the
    # raw bucket-pair volume is orders of magnitude above the surviving
    # set, so filtering pre-shuffle is the scale win
    cand = a.join(
        b,
        (F.col("a.band_idx") == F.col("b.band_idx"))
        & (F.col("a.band_val") == F.col("b.band_val"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (ham <= max_hamming),
    ).select(
        F.col("a.doc_id").alias("src"),
        F.col("b.doc_id").alias("dst"),
        ham.alias("hamming"),
    )
    return cand.dropDuplicates(["src", "dst"])
