"""Corpus curation: the composed keep/drop decision per document.

The end-to-end filter a training-data pipeline runs before anything
else: language gate + quality gate + duplicate suppression, combining
the individual operators into one oracle-checkable verdict table:

  (doc_id, lang_ok, quality_ok, is_exact_dup, is_near_dup, keep)

keep = lang_ok ∧ quality_ok ∧ ¬is_exact_dup ∧ ¬is_near_dup, where dup
flags mark non-canonical members (the minimum doc_id of each duplicate
group survives). Near-dup groups come from connected components over
the ngram-Jaccard pairs so transitive chains (A~B~C) keep exactly one
document — at web scale swap in ``minhash_dups`` for the pair source
(same shape, same component logic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.canonicalize import connected_components
from ..operators.dedup import ngram_jaccard_dups
from ..operators.textstats import pred_lang_expr, quality_expr


def curate(
    docs: DataFrame,
    allowed_langs=("en",),
    min_quality: float = 0.5,
    near_dup_threshold: float = 0.8,
    pair_source=None,
) -> DataFrame:
    # ONE fused projection computes the lang gate, the quality gate and
    # the exact-dup key (Catalyst's subexpression elimination shares
    # split(text) across them), and a window over the content hash marks
    # non-minimum group members — so the whole verdict needs exactly TWO
    # scans of ``docs``: this one, plus the shingle pass inside the
    # near-dup pair source. The previous formulation re-scanned the
    # table once per gate (4+ scans) and re-joined everything on doc_id.
    feat = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        pred_lang_expr(F.col("text")).isin(*allowed_langs).alias("lang_ok"),
        (quality_expr(F.col("text")) >= min_quality).alias("quality_ok"),
        F.md5(F.col("text")).alias("_ch"),
    )
    w = Window.partitionBy("_ch")
    feat = feat.withColumn(
        "is_exact_dup", F.col("doc_id") != F.min("doc_id").over(w)
    ).drop("_ch")

    # keep ids numeric end-to-end: connected_components takes any
    # orderable id type, and MIN over strings would pick "413" over "45"
    pairs = (pair_source or ngram_jaccard_dups)(
        docs, threshold=near_dup_threshold
    )
    # the dup-pair graph is corpus-sparse, so connected_components
    # labels it on the driver; past DRIVER_EDGES it runs star rounds
    comp = connected_components(pairs.select("src", "dst")).select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("dup_group"),
    )

    # the component map is ≪ docs (only near-dup members) → broadcast
    return feat.join(F.broadcast(comp), "doc_id", "left").select(
        "doc_id",
        "lang_ok",
        "quality_ok",
        "is_exact_dup",
        (
            F.col("dup_group").isNotNull()
            & (F.col("dup_group") != F.col("doc_id"))
        ).alias("is_near_dup"),
    ).withColumn(
        "keep",
        F.col("lang_ok")
        & F.col("quality_ok")
        & ~F.col("is_exact_dup")
        & ~F.col("is_near_dup"),
    )
