"""Edge cases: null/empty texts, empty inputs, single-row frames —
every operator must degrade to empty output, never throw."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from gliner_spark.kernels.scorer import ALL_LABELS
from gliner_spark.operators.canonicalize import (
    canonical_entities,
    connected_components,
    connected_components_star,
    nodes_table,
)
from gliner_spark.operators.dedup import (
    exact_dup_groups,
    minhash_dups,
    ngram_jaccard_dups,
    simhash_dups,
)
from gliner_spark.operators.linking import entity_surfaces, exact_jaccard_links
from gliner_spark.operators.ner import extract_mentions
from gliner_spark.operators.ner_fused import extract_triples_fused
from gliner_spark.operators.relations import extract_relations
from gliner_spark.operators.textstats import quality_score, token_stats


@pytest.fixture(scope="session")
def spark():
    from gliner_spark.session import build_session

    s = build_session(app_name="gliner-tests", cores=4)
    yield s
    s.stop()


@pytest.fixture()
def nullish_docs(spark):
    return spark.createDataFrame(
        [
            (1, None),
            (2, ""),
            (3, "spark join table"),
            (4, "   "),
        ],
        "doc_id long, text string",
    )


def test_ner_handles_null_and_empty_text(spark, nullish_docs):
    out = extract_mentions(nullish_docs, ALL_LABELS, id_col="doc_id").collect()
    assert {r.doc_id for r in out} == {"3"}
    assert len(out) == 3  # spark, join, table


def test_fused_handles_null_and_empty_text(spark, nullish_docs):
    out = extract_triples_fused(
        nullish_docs, ALL_LABELS, id_col="doc_id"
    ).collect()
    assert all(r.doc_id == "3" for r in out)
    assert len(out) > 0  # system→operator, system→artifact, operator→artifact


def test_ner_all_empty_batch_yields_typed_empty_frame(spark):
    """A batch whose every document emits zero rows must come out as an
    empty frame with the schema's dtypes: only null, empty or blank
    texts for mentions, plus a one-mention document for triples (one
    span pairs with nothing)."""
    from gliner_spark.operators.ner import _frame
    from gliner_spark.schemas import MENTIONS, TRIPLES

    blank = [(1, None), (2, ""), (4, "   ")]
    schema = "doc_id long, text string"
    one_mention = spark.createDataFrame(blank + [(5, "spark")], schema)
    assert extract_mentions(
        one_mention, ALL_LABELS, id_col="doc_id"
    ).count() == 1
    for out, spark_schema in [
        (extract_mentions(spark.createDataFrame(blank, schema), ALL_LABELS,
                          id_col="doc_id"), MENTIONS),
        (extract_triples_fused(one_mention, ALL_LABELS, id_col="doc_id"),
         TRIPLES),
    ]:
        assert out.collect() == []
        assert out.schema == spark_schema

    for spark_schema in (MENTIONS, TRIPLES):
        pdf = _frame(np.array(["1", "2"], dtype=object), [[], []], spark_schema)
        assert pdf.empty
        assert list(pdf.columns) == spark_schema.fieldNames()
        assert {f.name: str(pdf[f.name].dtype) for f in spark_schema} == {
            f.name: {"string": "object", "bigint": "int64",
                     "double": "float64"}[f.dataType.simpleString()]
            for f in spark_schema
        }


def test_frame_probs_equal_per_row_round():
    """The builder rounds once per distinct prob; the result must equal
    ``round(float(p), 4)`` per row, for float64 and ONNX-style float32
    probs alike."""
    from gliner_spark.operators.ner import _probs

    rng = np.random.default_rng(0)
    base = rng.random(500)
    for col in (
        list(np.concatenate([base, base[:100], [0.5, 0.00005, 0.99995]])),
        list(base.astype(np.float32)),
        [p.item() for p in rng.choice(base, 2000)],
    ):
        got = _probs(col)
        assert got.dtype == np.float64
        assert got.tolist() == [round(float(p), 4) for p in col]


def test_empty_dataframe_through_pipeline(spark):
    empty = spark.createDataFrame([], "doc_id long, text string")
    mentions = extract_mentions(empty, ALL_LABELS, id_col="doc_id")
    assert mentions.count() == 0
    assert extract_relations(mentions).count() == 0
    surfaces = entity_surfaces(mentions)
    assert surfaces.count() == 0
    assert exact_jaccard_links(surfaces).count() == 0
    ents = canonical_entities(
        surfaces, exact_jaccard_links(surfaces)
    )
    assert nodes_table(ents).count() == 0


def test_empty_edges_connected_components(spark):
    empty = spark.createDataFrame([], "src string, dst string")
    assert connected_components(empty).count() == 0
    assert connected_components_star(empty).count() == 0


def test_dedup_ops_on_nullish(spark, nullish_docs):
    safe = nullish_docs.where(F.col("text").isNotNull())
    assert exact_dup_groups(safe).count() == 3
    assert ngram_jaccard_dups(safe).count() == 0  # no near-dups here
    assert minhash_dups(safe).count() == 0
    assert simhash_dups(safe).count() >= 0  # must not throw


def test_multimodal_and_bpe_on_nullish(spark, nullish_docs):
    """Null/empty text must not break the PPM construction (base falls
    back to ' '), the decoder, or the BPE counter."""
    from gliner_spark.operators.multimodal import attach_media, extract_features
    from gliner_spark.operators.textstats import bpe_token_stats

    feats = {r.doc_id: r for r in
             extract_features(attach_media(nullish_docs)).collect()}
    assert len(feats) == 4
    img = feats[3]  # doc_id % 3 == 0 → image
    assert (img.width, img.height) == (8, 8) and img.val_n == 192
    av_null = feats[1]  # null text → null payload → zero moments
    assert av_null.val_n == 0 and av_null.val_sum == 0
    assert av_null.width == 0  # non-image dims are explicit zeros

    bpe = {r.doc_id: r for r in bpe_token_stats(nullish_docs).collect()}
    assert bpe[3].n_bpe == 3
    assert bpe[2].n_bpe == 0 and bpe[2].avg_bpe_len is None
    assert bpe[1].n_bpe == 0 or bpe[1].n_bpe is None


def test_textstats_single_word_and_empty(spark):
    docs = spark.createDataFrame(
        [(1, "x"), (2, "the")], "doc_id long, text string"
    )
    ts = {r.doc_id: r for r in token_stats(docs).collect()}
    assert ts[1].n_tokens == 1 and ts[1].avg_token_len == 1.0
    q = {r.doc_id: r for r in quality_score(docs).collect()}
    assert q[2].stopword_ratio == 1.0
