"""Entity linking: mention surfaces → similarity edges.

No reference counterpart; mandated by the north rule
(BASELINE.json:north_star — "MinHash-LSH blocked entity linking with
cosine scoring over span embeddings"). Two interchangeable paths:

1. ``exact_jaccard_links`` — exact char-shingle Jaccard via a shingle
   inverted-index join. Fully SQL-expressible (DuckDB oracle) and itself
   a respectable distributed algorithm: explode shingles, equi-join on
   shingle, count per pair, filter. Quadratic only within a shingle
   bucket, never globally.
2. ``lsh_links`` — MinHash signatures + banded LSH blocking, then exact
   Jaccard verification on candidates only. The 100 TB path: candidate
   generation is a single equi-join on (label, band_idx, band_hash)
   whose two sides share one Exchange. Shingling, hashing and banding
   are codegen'd Catalyst expressions; the permutation mins run in
   ``minhash_signature_map``, the one MinHash kernel (a vectorized
   Arrow stage shared with ``dedup.minhash_dups`` and the incremental
   admission store).

Skew: surfaces are distinct strings, so the shingle join's hot keys are
common shingles (e.g. "the"). ``max_bucket`` drops shingle buckets larger
than a cutoff (standard prefix-filter trick: a shingle shared by
thousands of surfaces carries ~no signal and would produce a quadratic
bucket). LSH band buckets are bounded the same way.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

# deterministic MinHash permutation modulus: Mersenne prime 2^31-1, small
# enough that (a*x + b) stays under 2^62 — Spark 4 runs ANSI mode, where
# silent 64-bit overflow is an error, so operands must be bounded.
MERSENNE = (1 << 31) - 1


def surface_key():
    return F.concat(F.col("label"), F.lit(":"), F.lower(F.col("m_text")))


def entity_surfaces(mentions: DataFrame, salt_buckets: int = 0) -> DataFrame:
    """Distinct (label, surface) with support — the linking universe.
    Aggregation shrinks the input by orders of magnitude before any
    pairwise work (distinct surfaces ≪ mentions at web scale).

    ``salt_buckets > 1`` switches to an explicit two-phase salted
    aggregation (partial count by (label, surface, salt), final sum by
    (label, surface)) — output identical, but a hot surface's rows are
    guaranteed to spread over ``salt_buckets`` reducers in the first
    shuffle instead of landing on one. The salt is a pure function of
    row content (xxhash64 over doc_id + offset), so task retries are
    deterministic. plans/kg.py enables this when its hot-key probe
    fires (cfg.salt_buckets / cfg.hot_key_threshold)."""
    if salt_buckets > 1:
        partial = mentions.groupBy(
            F.col("label"),
            F.lower(F.col("m_text")).alias("surface"),
            F.pmod(
                F.xxhash64(F.col("doc_id"), F.col("m_start")),
                F.lit(salt_buckets),
            ).alias("_salt"),
        ).agg(F.count(F.lit(1)).alias("_n"))
        agg = partial.groupBy("label", "surface").agg(
            F.sum("_n").alias("n_mentions")
        )
    else:
        agg = mentions.groupBy(
            F.col("label"), F.lower(F.col("m_text")).alias("surface")
        ).agg(F.count(F.lit(1)).alias("n_mentions"))
    return agg.withColumn(
        "sid", F.concat(F.col("label"), F.lit(":"), F.col("surface"))
    )


def char_shingles(col, k: int = 3):
    """Distinct char k-grams of a string column (JVM-side, codegen'd).
    Strings shorter than k yield the string itself (so nothing is
    unlinkable by construction)."""
    n = F.length(col)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1))),
        lambda i: F.substring(col, i, k),
    )
    return F.array_distinct(grams)


def _pair_counts(exploded: DataFrame, max_bucket: int) -> DataFrame:
    """Candidate pairs with shingle-intersection counts; buckets larger
    than ``max_bucket`` are dropped (high-frequency shingles carry no
    discriminative signal and would blow up quadratically)."""
    bucket = (
        exploded.groupBy("label", "shingle")
        .agg(F.count(F.lit(1)).alias("bn"))
        .where(F.col("bn") <= max_bucket)
        .select("label", "shingle")
    )
    pruned = exploded.join(bucket, ["label", "shingle"])
    a = pruned.alias("a")
    b = pruned.alias("b")
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.sid") < F.col("b.sid")),
        )
        .groupBy(
            F.col("a.sid").alias("src"),
            F.col("b.sid").alias("dst"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )


def exact_jaccard_links(
    surfaces: DataFrame,
    k: int = 3,
    threshold: float = 0.30,
    max_bucket: int = 1000,
) -> DataFrame:
    """(src, dst, sim) for same-label surface pairs with char-k-gram
    Jaccard ≥ threshold; src < dst lexicographically."""
    sh = surfaces.withColumn("sh", char_shingles(F.col("surface"), k)).select(
        "sid", "label", "sh", F.size("sh").alias("n_sh")
    )
    # materialized ONCE (guide §2.4): the inverted index feeds the
    # bucket-guard aggregation and BOTH sides of the pair self-join —
    # without pinning each of those branches re-runs the upstream
    # surfaces aggregation (a full pass over the mentions table) plus
    # the shingle explode, 4× total. The index is surface-universe-
    # sized (vocabulary-bounded), never corpus-sized.
    exploded = sh.select(
        "sid", "label", "n_sh", F.explode("sh").alias("shingle")
    ).localCheckpoint()
    pairs = _pair_counts(exploded, max_bucket)
    return pairs.select(
        "src",
        "dst",
        F.round(
            F.col("inter")
            / (F.col("n_a") + F.col("n_b") - F.col("inter")),
            6,
        ).alias("sim"),
    ).where(F.col("sim") >= threshold)


def hash_shingles(shingle_col):
    """Base hash of each shingle string — computed ONCE; the per-
    permutation work is then an affine map over these ints. (Without the
    explicit materialization every permutation re-hashes the strings —
    measured 2-3× slower on the bench corpus.)"""
    return F.transform(
        shingle_col, lambda x: F.pmod(F.xxhash64(x), F.lit(MERSENNE))
    )


def perm_params(n_perms: int, seed: int = 7):
    """Deterministic (a_i, b_i) affine-permutation parameters."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, MERSENNE), rng.randrange(0, MERSENNE))
        for _ in range(n_perms)
    ]


def minhash_signature_map(hashed: DataFrame, n_perms: int,
                          seed: int = 7) -> DataFrame:
    """``hashed`` with its ``hx array<long>`` of pre-hashed shingles
    (``hash_shingles``) replaced by ``sig array<long>``, the n_perms
    MinHash values; every other column passes through. The one MinHash
    signature kernel (guide §4.2): one row-local Arrow stage computes
    every permutation of a batch with an (N × n_perms) int64
    broadcast-multiply + ``minimum.reduceat`` — no explode, no shuffle.

    Permutation i: h_i(x) = (a_i·x + b_i) mod M31, (a_i, b_i) from
    ``perm_params``. h ∈ [0, M) and a, b < M = 2³¹−1 keep
    a·h + b < 2⁶² + 2³¹ inside int64, and numpy ``%`` on non-negatives
    equals Spark ``pmod`` (pinned in tests against a Python reference).
    Rows with NULL or empty hash arrays are dropped.

    Workspace: the flat hashes are cut into doc-aligned chunks of about
    CHUNK (a longer doc is a chunk of its own), so each
    (CHUNK × n_perms) int64 temporary is 1 MB at 128 permutations and
    stays in cache. The earlier 65,536-hash chunks made 64 MB
    temporaries: on one 2,500-doc batch (132k hashes) at 128
    permutations the kernel took 256–280 ms against 114–117 ms now,
    bit-identical (median of 7, one core of a 4-vCPU VM), and the
    Python workers' peak RSS falls with it."""
    import pandas as pd

    perms = perm_params(n_perms, seed)
    pa = np.array([p[0] for p in perms], dtype=np.int64)
    pb = np.array([p[1] for p in perms], dtype=np.int64)
    CHUNK = 1_024

    def run(batches):
        for pdf in batches:
            hx = pdf.pop("hx")
            keep = [i for i, x in enumerate(hx) if x is not None and len(x)]
            out = pdf.iloc[keep].reset_index(drop=True)
            arrs = [np.asarray(hx.iat[i], dtype=np.int64) for i in keep]
            lens = np.fromiter(map(len, arrs), np.int64, len(arrs))
            ends = np.cumsum(lens)
            starts = ends - lens
            sig = np.empty((len(arrs), n_perms), dtype=np.int64)
            i = 0
            while i < len(arrs):
                j = max(i + 1, int(np.searchsorted(
                    ends, starts[i] + CHUNK, "right")))
                vals = np.multiply.outer(np.concatenate(arrs[i:j]), pa)
                vals += pb
                vals %= MERSENNE
                sig[i:j] = np.minimum.reduceat(
                    vals, starts[i:j] - starts[i], axis=0)
                i = j
            out["sig"] = pd.Series(list(sig), dtype=object)
            yield out

    schema = T.StructType(
        [f for f in hashed.schema.fields if f.name != "hx"]
        + [T.StructField("sig", T.ArrayType(T.LongType()))]
    )
    return hashed.mapInPandas(run, schema)


def _banded_signatures(
    surfaces: DataFrame, k: int, n_perms: int, bands: int, seed: int
) -> DataFrame:
    """(sid, label, n_sh, sh, band_idx, band_hash): the banded MinHash
    signature table ``lsh_links`` joins on — shared with
    ``lsh_dropped_buckets`` so the recall audit sees the exact same
    band keys."""
    sh = surfaces.withColumn("sh", char_shingles(F.col("surface"), k)).select(
        "sid", "label", "sh", F.size("sh").alias("n_sh"),
        hash_shingles(F.col("sh")).alias("hx"),
    )
    # not pinned: lsh_links reads the signatures once, through the
    # bucket guard's Exchange that both band-join sides reuse
    sig = minhash_signature_map(sh, n_perms, seed)
    return sig.select("sid", "label", "n_sh", "sh",
                      band_hashes(n_perms, bands))


def band_hashes(n_perms: int, bands: int):
    """``posexplode`` of the ``sig`` column into (band_idx, band_hash):
    band i is the Murmur3 ``hash`` of signature slice
    [i·rows, (i+1)·rows), rows = n_perms / bands."""
    rows = n_perms // bands
    assert bands * rows == n_perms
    return F.posexplode(
        F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda i: F.hash(F.slice(F.col("sig"), i * rows + 1, rows)),
        )
    ).alias("band_idx", "band_hash")


def bucket_guard(banded: DataFrame, keys, max_bucket: int) -> DataFrame:
    """Rows of ``banded`` whose band bucket (the ``keys`` columns) holds
    2..``max_bucket`` rows: a singleton pairs with nothing, and a
    mega-bucket carries no signal and would blow up quadratically (skew
    guard). The bucket size is a window count over the same hash
    partitioning the band self-join needs, so both join sides read one
    Exchange (a ReusedExchange) — no groupBy + join-back."""
    bn = F.count(F.lit(1)).over(Window.partitionBy(*keys))
    return (
        banded.withColumn("_bn", bn)
        .where((F.col("_bn") > 1) & (F.col("_bn") <= max_bucket))
        .drop("_bn")
    )


def lsh_dropped_buckets(
    surfaces: DataFrame,
    k: int = 3,
    n_perms: int = 64,
    bands: int = 32,
    max_bucket: int = 2000,
    seed: int = 7,
) -> int:
    """Number of band buckets ``lsh_links`` (same parameters) would DROP
    under its skew guard. The banding miss-probability argument
    — (1-J)^bands at r=1 — silently assumes no true pair ever sits in a
    truncated bucket; this audit makes the assumption checkable: a
    recall-1.0 claim (e.g. q_kg_links_lsh's exact-oracle sharing) is
    valid only while this returns 0 at the claimed scale. At r=1 a band
    key is a single minhash value, so mega-buckets get likelier as the
    corpus grows — monitor this counter in production jobs before
    trusting banding math alone."""
    banded = _banded_signatures(surfaces, k, n_perms, bands, seed)
    return (
        banded.groupBy("label", "band_idx", "band_hash")
        .agg(F.count(F.lit(1)).alias("bn"))
        .where(F.col("bn") > max_bucket)
        .count()
    )


def lsh_links(
    surfaces: DataFrame,
    k: int = 3,
    n_perms: int = 64,
    bands: int = 32,
    threshold: float = 0.30,
    max_bucket: int = 2000,
    seed: int = 7,
) -> DataFrame:
    """MinHash-LSH candidate generation + exact-Jaccard verification.

    bands×rows = n_perms; a pair collides if any band's row-slice of the
    signature matches. Candidates then verified exactly, so the output is
    a (possibly incomplete, tunably-high-recall) subset of
    ``exact_jaccard_links`` — recall measured in tests/bench.
    """
    banded = _banded_signatures(surfaces, k, n_perms, bands, seed)
    pruned = bucket_guard(banded, ["label", "band_idx", "band_hash"],
                          max_bucket)
    a = pruned.alias("a")
    b = pruned.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.sid") < F.col("b.sid")),
        )
        .select(
            F.col("a.sid").alias("src"),
            F.col("b.sid").alias("dst"),
            F.col("a.sh").alias("sh_a"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.sh").alias("sh_b"),
            F.col("b.n_sh").alias("n_b"),
        )
        .dropDuplicates(["src", "dst"])
    )
    inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
    return cand.select(
        "src",
        "dst",
        F.round(
            inter / (F.col("n_a") + F.col("n_b") - inter), 6
        ).alias("sim"),
    ).where(F.col("sim") >= threshold)
