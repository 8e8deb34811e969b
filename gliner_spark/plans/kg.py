"""The full KG-construction pipeline: pages → nodes/edges tables.

Composition of every stage (BASELINE.json:north_star), structured for
the 100 TB plan shape:

  pages ──mapInPandas(NER)──► mentions          [no shuffle]
        ├─ self-join on (doc_id, _bkt) ──► triples
        │                                       [THE mentions shuffle]
        └─ groupBy surface ──► surfaces         [small output]
               ├─ LSH join ──► links            [tiny vs input]
               └─ CC iterations ──► entities
  triples × entity map (broadcast) ──► edges    [broadcast join: the
                                                 entity map is ≪ triples]

Only the relation self-join shuffles data proportional to the input; it
keys on (doc_id, proximity bucket), so a ``repartition(doc_id)`` in front
of it would not be reused and only add a shuffle. Everything after
``entity_surfaces`` operates on the distinct-surface universe, which is
bounded by vocabulary, not corpus size.
Checkpointing wraps each materialized stage (mentions, triples, nodes,
edges) with per-partition manifests for resume.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import PipelineConfig
from ..operators.canonicalize import canonical_entities, nodes_table
from ..operators.checkpoint import checkpoint_write, with_part_key
from ..operators.linking import entity_surfaces, lsh_links
from ..operators.ner import extract_mentions
from ..operators.relations import extract_relations


@dataclass
class KgResult:
    mentions: DataFrame
    triples: DataFrame
    nodes: DataFrame
    edges: DataFrame


def build_kg(
    pages: DataFrame,
    labels: Sequence[str],
    cfg: PipelineConfig = PipelineConfig(),
    checkpoint_root: str | None = None,
    id_col: str = "url",
    text_col: str = "text",
) -> KgResult:
    mentions = extract_mentions(
        pages, labels, id_col=id_col, text_col=text_col, config=cfg.gliner
    )
    if checkpoint_root:
        mentions = checkpoint_write(
            with_part_key(mentions, "doc_id"),
            checkpoint_root,
            "mentions",
            lineage={"labels": list(labels)},
        )
    else:
        # mentions feed BOTH the relation self-join (two branches) and
        # the surface aggregation; without materialization every consumer
        # re-runs the scoring mapInPandas — persist once instead
        mentions = mentions.persist()

    triples = extract_relations(mentions, window_bytes=cfg.relation_window * 4)
    if checkpoint_root:
        triples = checkpoint_write(
            with_part_key(triples, "doc_id"), checkpoint_root, "triples"
        )

    # hot-key probe before the link-scoring shuffle (north rule: skewed
    # domains salted): if any surface key exceeds hot_key_threshold
    # mentions, the surface aggregation runs in the explicit two-phase
    # salted form (identical output, hot keys spread over salt_buckets
    # reducers). The probe is one cheap count-aggregation over the
    # already-persisted mentions; downstream, LSH band-join skew is
    # bounded separately by lsh_links' max_bucket guard (mega-buckets
    # carry no signal and are dropped — the key-splitting analogue).
    salt = 0
    if cfg.salt_buckets > 1:
        from ..operators.linking import surface_key
        from ..operators.skew import hot_keys

        probe = hot_keys(
            mentions.select(surface_key().alias("sk")),
            "sk",
            cfg.hot_key_threshold,
        )
        if probe.take(1):
            salt = cfg.salt_buckets
    surfaces = entity_surfaces(mentions, salt_buckets=salt)
    links = lsh_links(
        surfaces,
        k=cfg.shingle_k,
        n_perms=cfg.minhash_perms,
        bands=cfg.lsh_bands * 2,
    )
    entities = canonical_entities(surfaces, links, cfg.cc_max_iters)
    nodes = nodes_table(entities)

    # entity map is distinct surfaces → broadcast against triples
    ent_map = F.broadcast(
        entities.select(
            F.col("label").alias("e_label"),
            F.col("surface").alias("e_surface"),
            "entity_id",
        )
    )
    t = triples
    edges = (
        t.join(
            ent_map,
            (F.lower(t.subj) == F.col("e_surface"))
            & (t.subj_label == F.col("e_label")),
        )
        .withColumnRenamed("entity_id", "src_entity")
        .drop("e_label", "e_surface")
        .join(
            ent_map,
            (F.lower(t.obj) == F.col("e_surface"))
            & (t.obj_label == F.col("e_label")),
        )
        .withColumnRenamed("entity_id", "dst_entity")
        .groupBy("src_entity", "dst_entity", "pred")
        .agg(
            F.count(F.lit(1)).alias("support"),
            F.round(F.sum("prob"), 4).alias("weight"),
        )
    )

    if checkpoint_root:
        nodes = checkpoint_write(
            with_part_key(nodes, "entity_id"), checkpoint_root, "nodes"
        )
        edges = checkpoint_write(
            with_part_key(edges, "src_entity"), checkpoint_root, "edges"
        )
    return KgResult(mentions, triples, nodes, edges)
