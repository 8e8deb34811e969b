"""Incremental KG maintenance: fold a new crawl batch into existing
node/edge tables without reprocessing old pages.

The update decomposes cleanly because of how the pipeline is shaped
(plans/kg.py):

- mentions and triples are PER-DOCUMENT (the NER stage is row-local and
  relations are intra-document) → strictly append-only. Only the new
  batch is scored; the checkpoint manifests already make the append
  idempotent and resumable.
- nodes/edges derive from the DISTINCT-SURFACE universe, which is
  vocabulary-bounded, not corpus-bounded (SURVEY.md §2.3) → re-running
  linking + connected components over the merged surface table is cheap
  relative to scoring even at 100 TB, and is the only correct choice:
  a new surface can bridge two previously separate components, so
  components cannot be maintained per-batch without a full re-closure.

Equivalence contract (pytest): incremental(A) then merge(B) produces
node/edge tables identical to building over A ∪ B from scratch.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..operators.checkpoint import checkpoint_write, with_part_key
from ..operators.linking import band_hashes, entity_surfaces
from ..operators.ner import extract_mentions
from ..operators.relations import extract_relations
from .kg import KgResult, kg_tables


def _batch_fingerprint(
    new_pages: DataFrame, id_col: str, text_col: str
) -> str:
    """Deterministic, order-independent id of a batch's CONTENT:
    bit-xor of xxhash64(id, text) + row count. One cheap
    projection-only pass (trivial next to scoring); a replay of the
    same batch maps to the same fingerprint, different batches to
    different ones (2^-64 collision odds). Hashing (id, text) — not
    ids alone — means a recrawl that re-submits the same urls with
    UPDATED text gets a FRESH fingerprint, so its rescored mentions
    are not left-anti'd away by the earlier batch's DONE manifest."""
    row = new_pages.select(
        F.expr(f"bit_xor(xxhash64(`{id_col}`, `{text_col}`))").alias("x"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    return f"{(row.x or 0) & 0xFFFFFFFFFFFFFFFF:016x}-{row.n}"


def _prefix_keys(df: DataFrame, fp: str) -> DataFrame:
    return df.withColumn(
        "part_key", F.concat(F.lit(f"{fp}-"), F.col("part_key"))
    )


def merge_kg_batch(
    new_pages: DataFrame,
    labels: Sequence[str],
    checkpoint_root: str,
    cfg: PipelineConfig = PipelineConfig(),
    id_col: str = "url",
    text_col: str = "text",
    batch_id: str | int | None = None,
) -> KgResult:
    """Score ONLY ``new_pages``, append their mentions/triples under
    ``checkpoint_root`` (manifest-idempotent: re-runs skip DONE
    partitions), then rebuild nodes/edges from the merged mention
    corpus. Returns the merged KG tables.

    Mention partitions are BATCH-SCOPED: part_key =
    ``{batch}-{hash bucket}``. With a shared bucket space, a later
    batch whose doc ids hash into buckets an earlier batch already
    marked DONE would be silently left-anti'd away — batches routinely
    share hash buckets, so the manifest key must carry batch identity.
    ``batch_id`` (e.g. Structured Streaming's foreachBatch epoch id,
    stable across replays) is used when given; otherwise a
    content-derived fingerprint of the batch's ids stands in — both
    make a replay of the same batch a no-op while distinct batches
    never collide.

    nodes/edges come from ``plans/kg.py::kg_tables``, the same tail
    ``build_kg`` runs, so incremental merging is bit-equivalent to a
    from-scratch build (pytest-pinned)."""
    spark = new_pages.sparkSession

    fp = (
        str(batch_id)
        if batch_id is not None
        else _batch_fingerprint(new_pages, id_col, text_col)
    )
    new_mentions = extract_mentions(
        new_pages, labels, id_col=id_col, text_col=text_col,
        config=cfg.gliner,
    )
    # append-only stages: the manifest left-anti skips anything already
    # processed, so calling merge twice with the same batch is a no-op.
    # expected_part_keys = the batch's full part-key universe (derived
    # from the INPUT ids, not the mention output): partitions whose docs
    # yield zero mentions are invisible in new_mentions and would be
    # re-scored on every subsequent merge unless recorded DONE/0 here.
    # The id is cast to STRING before hashing because extract_mentions
    # emits doc_id as string (ner.py) — xxhash64(long) != xxhash64(string
    # of the same value), so hashing the raw column would record DONE/0
    # under phantom keys while real zero-mention buckets stay unrecorded.
    batch_keys = _prefix_keys(
        with_part_key(
            new_pages.select(
                F.col(id_col).cast("string").alias("doc_id")
            ),
            "doc_id",
        ),
        fp,
    ).select("part_key")
    checkpoint_write(
        _prefix_keys(with_part_key(new_mentions, "doc_id"), fp),
        checkpoint_root, "mentions",
        lineage={"labels": list(labels), "batch": fp},
        expected_part_keys=batch_keys,
    )
    mentions = spark.read.parquet(f"{checkpoint_root}/mentions")

    triples = extract_relations(
        mentions, window_bytes=cfg.relation_window * 4
    )

    # global closure over the merged (vocabulary-bounded) surface set:
    # new surfaces may bridge previously separate components
    nodes, edges = kg_tables(entity_surfaces(mentions), triples, cfg)
    return KgResult(mentions, triples, nodes, edges)


def batch_minhash_signatures(
    docs: DataFrame,
    k: int = 3,
    n_perms: int = 128,
    seed: int = 11,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, sig array<long>): the fixed-width MinHash signature of
    each document — the only state ``dedup_admit_batch`` ever persists
    per admitted doc. Band keys are DERIVED from the signature, so the
    store needs no shingles, no text, no band columns."""
    from ..operators.dedup import word_shingles
    from ..operators.linking import hash_shingles, minhash_signature_map
    from ..operators.util import ensure_parallelism

    # row-local form (guide §4.2): shingle-hash arrays stay JVM-side
    # (xxhash64 + pmod, codegen), the 128-permutation min runs as ONE
    # vectorized Arrow stage — no explode, no aggregation shuffle.
    hashed = ensure_parallelism(docs).select(
        F.col(id_col).cast("long").alias("doc_id"),
        hash_shingles(word_shingles(F.col(text_col), k)).alias("hx"),
    )
    return minhash_signature_map(hashed, n_perms, seed)


def dedup_admit_batch(
    new_docs: DataFrame,
    store_dir: str,
    k: int = 3,
    n_perms: int = 128,
    bands: int = 32,
    threshold: float = 0.8,
    max_bucket: int = 2000,
    seed: int = 11,
    id_col: str = "doc_id",
    text_col: str = "text",
    sig: DataFrame | None = None,
) -> DataFrame:
    """Admit a new crawl batch against an append-only MinHash signature
    store — the incremental form of ``minhash_dups`` + keeper choice.

    ``sig`` optionally supplies the batch's precomputed signatures
    (``batch_minhash_signatures`` with the same k/n_perms/seed over
    exactly ``new_docs``) — the caller-side optimization for admitting
    several batches drawn from ONE source scan: signature the source
    once, slice per batch, and each admission skips its own
    shingle→MinHash pass (guide §2.4; the store protocol — batch N
    sees batch N−1's appended keepers — is unchanged). Signatures are
    per-document, so a slice of the full-corpus signature table is
    value-identical to signaturing the slice.

    At 10^12 admitted documents a new batch must not re-read, let alone
    re-shingle, the corpus. The store persists ONE fixed-width
    signature row per admitted doc (``batch_minhash_signatures``);
    admitting a batch is then:

    1. signature the new batch (the only pass over its text);
    2. band-join new-batch band keys against the STORE's (new-vs-old)
       and against themselves (new-vs-new) — both shuffles move
       (id, band) ints, never documents;
    3. verify candidates with the signature-overlap estimator
       Ĵ = |matching positions| / n_perms. The corpus text is
       unreachable by design, so verification is estimator-based, NOT
       exact like the batch operator's shingle re-join: E[Ĵ] = J with
       σ = sqrt(J(1-J)/n_perms) ≈ 0.035 at J = t = 0.8, n_perms = 128
       — set ``threshold`` with that margin in mind (exact-duplicate
       detection, Ĵ = 1, is unaffected);
    4. keep = not Ĵ-matched to any admitted doc, and the minimum
       doc_id of its new-vs-new duplicate component (transitive, via
       connected components);
    5. append the KEPT docs' signatures to the store.

    Returns (doc_id, dup_of, keep) for the new batch: ``dup_of`` is
    the admitted doc (or kept smaller new doc) that suppressed it,
    NULL for keepers. The store write is plain parquet append — wrap
    calls in the checkpoint manifest (``checkpoint_write``) when
    retries must be idempotent, exactly like merge_batch above."""
    from ..operators.canonicalize import connected_components

    spark = new_docs.sparkSession
    assert n_perms % bands == 0

    # referenced by band join, both verify sides and the store append —
    # materialized once. A caller-provided ``sig`` slice is re-pinned
    # too: skipping its checkpoint was measured ~1 s SLOWER per
    # admission (six filter-rescans of the full-corpus signature
    # checkpoint beat one slice materialization).
    sig_new = (
        sig if sig is not None
        else batch_minhash_signatures(
            new_docs, k, n_perms, seed, id_col, text_col
        )
    ).localCheckpoint()
    try:
        sig_old = spark.read.parquet(store_dir).select("doc_id", "sig")
    except Exception:  # first batch: empty store
        sig_old = spark.createDataFrame(
            [], "doc_id long, sig array<bigint>"
        )

    bn = sig_new.select("doc_id", band_hashes(n_perms, bands))
    bo = sig_old.select("doc_id", band_hashes(n_perms, bands))

    jhat = F.round(
        F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                        lambda b: b))
        / F.lit(float(n_perms)), 6,
    )

    def verify(cand: DataFrame, left_sig: DataFrame,
               right_sig: DataFrame) -> DataFrame:
        a = left_sig.select(F.col("doc_id").alias("src"),
                            F.col("sig").alias("sig_a"))
        b = right_sig.select(F.col("doc_id").alias("dst"),
                             F.col("sig").alias("sig_b"))
        return (
            cand.join(a, "src").join(b, "dst")
            .select("src", "dst", jhat.alias("jhat"))
            .where(F.col("jhat") >= threshold)
        )

    guard = lambda df: (  # noqa: E731 — shared mega-bucket skew guard
        df.groupBy("band_idx", "band_hash")
        .agg(F.count(F.lit(1)).alias("bn"))
        .where(F.col("bn") <= max_bucket)
        .select("band_idx", "band_hash")
    )

    # the skew guard sees combined bucket populations (a band bucket
    # hot across store+batch is hot, whichever side the rows are on).
    # bnp is materialized ONCE (guide §2.4): it feeds the new-vs-old
    # join and BOTH sides of the new-vs-new self-join, and every
    # reference otherwise re-runs the guard aggregation over the
    # combined store+batch band keys. (id, band) ints only.
    g = guard(bn.unionByName(bo))
    bnp = bn.join(g, ["band_idx", "band_hash"]).localCheckpoint()

    # new-vs-old: every band collision against the store. src != dst
    # keeps a RETRIED batch sane: a doc already admitted under its own
    # id must not read as "duplicate of itself" on re-admission
    no_cand = (
        bnp.join(bo.select("band_idx", "band_hash",
                           F.col("doc_id").alias("old_id")),
                 ["band_idx", "band_hash"])
        .where(F.col("doc_id") != F.col("old_id"))
        .select(F.col("doc_id").alias("src"), F.col("old_id").alias("dst"))
        .dropDuplicates(["src", "dst"])
    )
    vs_old = verify(no_cand, sig_new, sig_old) \
        .groupBy("src").agg(F.min("dst").alias("old_dup_of"))

    # new-vs-new: self-join within the batch (same pruned band keys)
    a, b = bnp.alias("a"), bnp.alias("b")
    nn_cand = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
        .dropDuplicates(["src", "dst"])
    )
    vs_new = verify(nn_cand, sig_new, sig_new)
    comp = connected_components(vs_new, "src", "dst").select(
        F.col("node").alias("doc_id"), F.col("component").alias("new_group")
    )

    verdict0 = (
        sig_new.select("doc_id")
        .join(vs_old, sig_new.doc_id == vs_old.src, "left").drop("src")
        .join(comp, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(
                "old_dup_of",
                F.when(F.col("new_group") != F.col("doc_id"),
                       F.col("new_group")),
            ).alias("dup_of"),
        )
        # materialized ONCE (guide §2.4): verdict0 is both the probe
        # side and the keeper-resolution target of the one-hop rewrite
        # below — without pinning, the whole new-vs-old verify pipeline
        # runs twice. One row per batch doc.
        .localCheckpoint()
    )
    # dup_of must point at a KEEPER in one hop (docstring contract).
    # The one way it wouldn't: a new-vs-new component whose minimum doc
    # is itself store-suppressed — members got dup_of = component min,
    # which has keep=false. One self-join rewrites those to the min's
    # own old_dup_of (an admitted store doc). A single hop suffices:
    # the component min can only be suppressed by the STORE — any new
    # doc that suppressed it would be a smaller member of the same
    # component, contradicting minimality (r5 ADVICE).
    target = verdict0.select(
        F.col("doc_id").alias("dup_of"),
        F.col("dup_of").alias("target_dup_of"),
    )
    verdict = (
        verdict0.join(target, "dup_of", "left")
        .select(
            "doc_id",
            F.coalesce("target_dup_of", "dup_of").alias("dup_of"),
        )
        .withColumn("keep", F.col("dup_of").isNull())
    ).localCheckpoint()  # pin BEFORE the store append below reads it

    # append keepers NOT already present — the left-anti makes a
    # retried admission a no-op on the store (same verdicts, no
    # duplicate signature rows), the idempotence rule every other
    # incremental op here follows via the checkpoint manifests
    (
        sig_new.join(verdict.where("keep").select("doc_id"), "doc_id")
        .join(sig_old.select("doc_id"), "doc_id", "left_anti")
        .write.mode("append").parquet(store_dir)
    )
    return verdict
