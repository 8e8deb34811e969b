"""The benchmark's workloads: seeded inputs, one timed operation, the
output checks, and a traced re-composition of the same operation.

Every workload drives public functions of ``gliner_spark`` only. An
operation reads the generated parquet input and commits its outputs
under a fresh directory; nothing is unpersisted or cache-cleared between
operations, so pins that leak across operations stay visible.

The traced re-composition calls the same layer functions the plan
calls, materializes each layer's output at its span boundary (so lazy
work lands in the span that owns it), and writes the same tables. Its
output hash must equal the untraced operation's, which keeps the
re-composition from drifting from ``plans/kg.py`` and
``plans/curation.py``.
"""

from __future__ import annotations

import glob
import os
import shutil
import statistics
import time
import traceback

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from gliner_spark.config import PipelineConfig

CFG = PipelineConfig()
# documents per operation (see perfbench/NOTES.md for the sizing)
# and operations measured per run, at least
MIN_OPS = 2
KG_PAGES = 5_000
CURATE_DOCS = 10_000
ONNX_DOCS = 6_000
# kg_fold: pages per micro-batch file, and files available to fold
FOLD_PAGES = 1_000
FOLD_FILES = 8
# straight-line reference sample per run
CHECK_DOCS = 200
# documents for the direct kernel phase split
KERNEL_DOCS = 2_000


def dir_bytes_files(path: str) -> tuple[int, int]:
    """Bytes and data files (not Spark markers or checksums) under path."""
    total, files = 0, 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


def table_hash(df) -> str:
    """Order-independent content hash of a table: row count plus the
    exact sum of per-row xxhash64 over all columns."""
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*sorted(df.columns)).cast("decimal(38,0)")).alias("h"),
    ).first()
    return f"{r['n']}:{r['h']}"


def output_hash(spark, out_dir: str) -> str:
    return "|".join(
        f"{t}={table_hash(spark.read.parquet(os.path.join(out_dir, t)))}"
        for t in sorted(os.listdir(out_dir))
        if os.path.isdir(os.path.join(out_dir, t))
    )


def _write_parts(table: pa.Table, path: str, parts: int) -> int:
    os.makedirs(path)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:03d}.parquet"))
    return table.num_rows


def _persist_count(df):
    df = df.persist()
    return df, df.count()


def _sample_ids(ids, seed: int, k: int = CHECK_DOCS):
    rng = np.random.default_rng(seed + 1_000_003)
    return sorted(rng.choice(np.asarray(ids), size=min(k, len(ids)),
                             replace=False).tolist())


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _timed(fn, acc: dict, key: str):
    def wrapped(*a, **kw):
        t = time.perf_counter()
        try:
            return fn(*a, **kw)
        finally:
            acc[key] += time.perf_counter() - t
    return wrapped


def decode_phases(texts, labels, score, cfg, chunk_rows):
    """The NER kernel chain of ``kernels.pipeline.ner_documents`` (span
    model, no chunking) called phase by phase in Arrow-batch-sized
    chunks; ``score`` is a scorer's ``score_spans``. Returns
    (per-document spans, phase seconds, counts)."""
    from gliner_spark.kernels.decode import decode_span_logits, greedy_search
    from gliner_spark.kernels.tokenize import tokenize_text

    t_ = {"tokenize_s": 0.0, "score_s": 0.0, "decode_s": 0.0, "greedy_s": 0.0}
    n = {"words": 0, "spans_decoded": 0, "spans_kept": 0}
    out = []
    for lo in range(0, len(texts), chunk_rows):
        chunk = texts[lo:lo + chunk_rows]
        t0 = time.perf_counter()
        toks = [tokenize_text(t) if t else [] for t in chunk]
        t1 = time.perf_counter()
        logits = score(toks, labels)
        t2 = time.perf_counter()
        dec = [decode_span_logits(lg, tk, tx, labels, threshold=cfg.threshold)
               for tx, tk, lg in zip(chunk, toks, logits)]
        t3 = time.perf_counter()
        kept = [greedy_search(s, flat_ner=cfg.flat_ner,
                              multi_label=cfg.multi_label) for s in dec]
        t4 = time.perf_counter()
        for k, v in zip(t_, (t1 - t0, t2 - t1, t3 - t2, t4 - t3)):
            t_[k] += v
        n["words"] += sum(len(tk) for tk in toks)
        n["spans_decoded"] += sum(len(s) for s in dec)
        n["spans_kept"] += sum(len(s) for s in kept)
        out.extend(kept)
    return out, t_, n


class Workload:
    name = ""
    arrow_batch_rows = 2048
    docs = 0

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.src = os.path.join(work, "input")
        self.out = os.path.join(work, "out")
        self.docs_per_op = 0
        # (output, committed) per operation, the warm-up operation first
        self.outs: list[tuple[str, bool]] = []
        self.counts: dict = {}

    # --- inputs --------------------------------------------------------
    def write_input(self, spark, path: str, n: int) -> int:
        """Write the seeded n-document input; returns its row count."""
        raise NotImplementedError

    def generate(self, spark) -> None:
        self.docs_per_op = self.write_input(spark, self.src, self.docs)

    def fresh_input(self, tag: str) -> str:
        """A private copy of the generated input for one operation.
        Spark matches cached plans by input path, so an operation over
        an earlier operation's path would reuse what that operation left
        persisted (build_kg's mentions, for one) instead of recomputing."""
        dst = os.path.join(self.work, "inputs", tag)
        shutil.copytree(self.src, dst)
        return dst

    # --- measured operation ------------------------------------------
    def op(self, spark, src: str, out_dir: str) -> None:
        raise NotImplementedError

    # --- checks (outside the timed interval) -------------------------
    def check(self, spark, out_dir: str) -> list[str]:
        """Problems found in one committed output; empty when correct."""
        raise NotImplementedError

    # --- traced run ---------------------------------------------------
    def traced(self, spark, tr, src: str, out_dir: str) -> dict:
        raise NotImplementedError

    def kernels(self) -> dict:
        return {}

    # --- driving the operations -------------------------------------
    def run_op(self, spark, tag: str, tr=None) -> float:
        """Seconds for one operation (traced when ``tr`` is given) on a
        fresh copy of the input; an operation that raises fails."""
        src, d = self.fresh_input(tag), os.path.join(self.out, tag)
        t0 = time.perf_counter()
        try:
            if tr is None:
                self.op(spark, src, d)
            else:
                self.counts = self.traced(spark, tr, src, d)
            ok = True
        except Exception:  # an operation failure is counted, not fatal
            traceback.print_exc()
            ok = False
        self.outs.append((d, ok))
        return time.perf_counter() - t0

    def warm_up(self, spark) -> float:
        return self.run_op(spark, "warmup")

    def measure(self, spark, seconds: float) -> list[float]:
        """Operation latencies, repeating until ``seconds`` and MIN_OPS
        operations are measured: a fixed operation count keeps a run's
        median from depending on how fast the run happens to be."""
        lat: list[float] = []
        while len(lat) < MIN_OPS or sum(lat) < seconds:
            lat.append(self.run_op(spark, f"op{len(lat)}"))
        return lat

    def measure_traced(self, spark, tr) -> tuple[float, float]:
        """Seconds of one untraced and one traced operation."""
        return self.run_op(spark, "untraced"), self.run_op(spark, "traced", tr)

    def verify(self, spark) -> tuple[int, list[str]]:
        """(failed operations, problems). The warm-up operation fails
        only by raising; the first measured output is checked against
        the straight-line reference, and every other measured output
        must hash equal to it."""
        done = [d for d, ok in self.outs[1:] if ok]
        failed = sum(1 for _, ok in self.outs if not ok)
        if not done:
            return failed, ["no operation committed output"]
        try:
            problems = self.check(spark, done[0])
            hashes = [output_hash(spark, d) for d in done]
        except Exception as e:
            traceback.print_exc()
            return len(self.outs), [f"check raised {type(e).__name__}: {e}"]
        if problems:
            return len(self.outs), problems
        bad = sum(1 for h in hashes if h != hashes[0])
        if bad:
            problems.append(f"{bad} operation outputs hash differently from the first")
        return failed + bad, problems


# ------------------------------------------------------------------ kg


class KgBatch(Workload):
    """build_kg + materialize_kg (parquet) over a synthesized page corpus."""

    name = "kg_batch"
    docs = KG_PAGES

    def write_input(self, spark, path, n):
        from gliner_spark.sources.pages import synthesize_pages

        synthesize_pages(spark, n, seed=self.seed).write.parquet(path)
        return spark.read.parquet(path).count()

    def op(self, spark, src, out_dir):
        from gliner_spark.kernels.scorer import ALL_LABELS
        from gliner_spark.operators.sinks import materialize_kg
        from gliner_spark.plans.kg import build_kg

        materialize_kg(build_kg(spark.read.parquet(src), ALL_LABELS), out_dir)

    def check(self, spark, out_dir):
        """On a seeded page sample, mentions and triples equal the
        straight-line ner_documents + relations_for_doc; every edge
        endpoint is a node."""
        from gliner_spark.kernels.pipeline import ner_documents
        from gliner_spark.kernels.scorer import ALL_LABELS, SurrogateScorer
        from gliner_spark.operators.ner_fused import relations_for_doc
        from gliner_spark.operators.relations import DEFAULT_RULES

        pages = pq.read_table(self.src, columns=["url", "text"]).to_pydict()
        ids = _sample_ids(pages["url"], self.seed)
        text_of = dict(zip(pages["url"], pages["text"]))
        rules = {(s, o): p for s, o, p in DEFAULT_RULES}
        spans = ner_documents([text_of[i] for i in ids], ALL_LABELS,
                              SurrogateScorer(CFG.gliner.max_width), CFG.gliner)
        want_m = sorted((d, s, e, t, lab, round(float(p), 4))
                        for d, ss in zip(ids, spans) for s, e, t, lab, p in ss)
        want_t = sorted(
            (d, *r) for d, ss in zip(ids, spans)
            for r in relations_for_doc(ss, rules, CFG.relation_window * 4))
        m = spark.read.parquet(os.path.join(out_dir, "mentions"))
        t = spark.read.parquet(os.path.join(out_dir, "triples"))
        got_m = _rows(m.where(F.col("doc_id").isin(ids)),
                      ["doc_id", "m_start", "m_end", "m_text", "label", "prob"])
        got_t = _rows(t.where(F.col("doc_id").isin(ids)),
                      ["doc_id", "subj", "subj_label", "subj_start", "pred",
                       "obj", "obj_label", "obj_start", "prob"])
        problems = []
        if got_m != want_m or not want_m:
            problems.append(f"mentions differ from ner_documents on {len(ids)} docs")
        if got_t != want_t or not want_t:
            problems.append(f"triples differ from relations_for_doc on {len(ids)} docs")
        nodes = spark.read.parquet(os.path.join(out_dir, "nodes"))
        edges = spark.read.parquet(os.path.join(out_dir, "edges"))
        ends = edges.select(F.col("src_entity").alias("e")).union(
            edges.select(F.col("dst_entity").alias("e")))
        dangling = ends.join(nodes, ends.e == nodes.entity_id, "left_anti").count()
        if dangling or edges.isEmpty():
            problems.append(f"{dangling} edge endpoints are not nodes")
        return problems

    def traced(self, spark, tr, src, out_dir):
        """plans/kg.py::build_kg, layer by layer."""
        from gliner_spark.kernels.scorer import ALL_LABELS
        from gliner_spark.operators.canonicalize import (
            canonical_entities, nodes_table)
        from gliner_spark.operators.linking import (
            entity_surfaces, lsh_links, surface_key)
        from gliner_spark.operators.ner import extract_mentions
        from gliner_spark.operators.relations import extract_relations
        from gliner_spark.operators.sinks import materialize_kg
        from gliner_spark.operators.skew import hot_keys
        from gliner_spark.plans.kg import KgResult

        n = {}
        with tr.span("sources.scan"):
            pages, n["sources.input_rows"] = _persist_count(
                spark.read.parquet(src))
        with tr.span("ner.extract_mentions"):
            mentions, n["ner.rows_out"] = _persist_count(extract_mentions(
                pages, ALL_LABELS, config=CFG.gliner))
        n["ner.rows_in"] = n["sources.input_rows"]
        with tr.span("relations.extract_relations"):
            triples, n["relations.rows_out"] = _persist_count(extract_relations(
                mentions.repartition("doc_id"),
                window_bytes=CFG.relation_window * 4))
        with tr.span("linking"):
            with tr.span("linking.surfaces") as s:
                salt = 0
                if CFG.salt_buckets > 1 and hot_keys(
                        mentions.select(surface_key().alias("sk")), "sk",
                        CFG.hot_key_threshold).take(1):
                    salt = CFG.salt_buckets
                surfaces, n["linking.rows_in"] = _persist_count(
                    entity_surfaces(mentions, salt_buckets=salt))
            n["linking.surfaces_s"] = s.duration
            with tr.span("linking.lsh") as s:
                links, n["linking.rows_out"] = _persist_count(lsh_links(
                    surfaces, k=CFG.shingle_k, n_perms=CFG.minhash_perms,
                    bands=CFG.lsh_bands * 2))
            n["linking.lsh_s"] = s.duration
        with tr.span("canonicalize.entities"):
            entities, _ = _persist_count(
                canonical_entities(surfaces, links, CFG.cc_max_iters))
            nodes, n["canonicalize.rows_out"] = _persist_count(
                nodes_table(entities))
        with tr.span("plans.edges"):
            ent_map = F.broadcast(entities.select(
                F.col("label").alias("e_label"),
                F.col("surface").alias("e_surface"), "entity_id"))
            t = triples
            edges, _ = _persist_count(
                t.join(ent_map, (F.lower(t.subj) == F.col("e_surface"))
                       & (t.subj_label == F.col("e_label")))
                .withColumnRenamed("entity_id", "src_entity")
                .drop("e_label", "e_surface")
                .join(ent_map, (F.lower(t.obj) == F.col("e_surface"))
                      & (t.obj_label == F.col("e_label")))
                .withColumnRenamed("entity_id", "dst_entity")
                .groupBy("src_entity", "dst_entity", "pred")
                .agg(F.count(F.lit(1)).alias("support"),
                     F.round(F.sum("prob"), 4).alias("weight")))
        with tr.span("sinks.materialize_kg"):
            materialize_kg(KgResult(mentions, triples, nodes, edges), out_dir)
        return n

    def kernels(self):
        """Surrogate kernel phase split per 1k documents."""
        from gliner_spark.kernels.scorer import ALL_LABELS, SurrogateScorer
        from gliner_spark.operators.ner_fused import relations_for_doc
        from gliner_spark.operators.relations import DEFAULT_RULES

        texts = pq.read_table(self.src, columns=["text"]).column(
            "text").to_pylist()[:KERNEL_DOCS]
        kept, t_, n = decode_phases(
            texts, ALL_LABELS, SurrogateScorer(CFG.gliner.max_width).score_spans,
            CFG.gliner, self.arrow_batch_rows)
        rules = {(s, o): p for s, o, p in DEFAULT_RULES}
        t0 = time.perf_counter()
        for spans in kept:
            relations_for_doc(spans, rules, CFG.relation_window * 4)
        t_["pair_s"] = time.perf_counter() - t0
        k = 1000.0 / len(texts)
        out = {f"kernels.{p}": v * k for p, v in t_.items()}
        out.update({f"kernels.{c}": v for c, v in n.items()})
        out["kernels.greedy_keep_ratio"] = (
            n["spans_kept"] / n["spans_decoded"] if n["spans_decoded"] else 0.0)
        out["_kernel_s_per_doc"] = sum(
            t_[p] for p in ("tokenize_s", "score_s", "decode_s", "greedy_s")
        ) / len(texts)
        # the ONNX kernels run in no gated workload's Spark stage; their
        # phase split is measured here so the layer stays covered
        onnx = NerOnnx(self.work, self.seed).kernels()
        out.update({k: onnx[k] for k in ONNX_KERNEL_METRICS})
        return out


# ----------------------------------------------------------- kg_fold

NODE_COLS = ["entity_id", "canonical", "label", "n_mentions", "n_surfaces"]
EDGE_COLS = ["src_entity", "dst_entity", "pred", "support", "weight"]


class KgFold(Workload):
    """A long-lived session folds micro-batches of one parquet page file
    each into the KG: read_page_stream(max_files_per_trigger=1) into
    stream_kg_updates. An operation is one micro-batch; its latency is
    the trigger's duration in the query's progress report, from trigger
    start to nodes and edges published."""

    name = "kg_fold"
    docs = FOLD_PAGES

    def __init__(self, work, seed):
        super().__init__(work, seed)
        self.stream_in = os.path.join(work, "stream_in")
        self.files: list[str] = []
        self.query = None
        self.n_streamed = 0

    def write_input(self, spark, path, n):
        from gliner_spark.sources.pages import synthesize_pages

        synthesize_pages(spark, n * FOLD_FILES, seed=self.seed).repartition(
            FOLD_FILES).write.parquet(path)
        self.files = sorted(glob.glob(os.path.join(path, "*.parquet")))
        return spark.read.parquet(path).count() // len(self.files)

    def _start(self, spark, root, out_dir):
        from gliner_spark.kernels.scorer import ALL_LABELS
        from gliner_spark.streaming.kg_stream import stream_kg_updates
        from gliner_spark.streaming.ner_stream import read_page_stream

        os.makedirs(self.stream_in)
        self.query = stream_kg_updates(
            read_page_stream(spark, self.stream_in, max_files_per_trigger=1),
            ALL_LABELS, root, out_dir,
        ).trigger(processingTime="100 milliseconds").start()

    def _batches(self):
        return [p for p in self.query.recentProgress if p["numInputRows"]]

    def _fold(self, spark) -> float:
        """Publish the next file to the stream's directory and wait for
        its micro-batch; an operation that raises or stalls fails."""
        i = len(self.outs)
        done = len(self._batches())
        t0 = time.perf_counter()
        try:
            tmp = os.path.join(self.stream_in, f".part-{i:05d}")  # unlisted
            shutil.copy(self.files[i], tmp)
            os.rename(tmp, os.path.join(self.stream_in, f"part-{i:05d}.parquet"))
            while len(self._batches()) == done:
                if not self.query.isActive:
                    raise RuntimeError(f"query stopped: {self.query.exception()}")
                time.sleep(0.05)
            lat = self._batches()[-1]["durationMs"]["triggerExecution"] / 1000.0
            ok = True
        except Exception:  # an operation failure is counted, not fatal
            traceback.print_exc()
            lat, ok = time.perf_counter() - t0, False
        self.outs.append((self.files[i], ok))
        return lat

    def _stop(self):
        self.query.stop()
        self.n_streamed = len(self.outs)

    def warm_up(self, spark):
        self._start(spark, os.path.join(self.work, "kg_root"),
                    os.path.join(self.out, "kg"))
        return self._fold(spark)

    def measure(self, spark, seconds):
        lat: list[float] = []
        while (len(lat) < MIN_OPS or sum(lat) < seconds) \
                and len(self.outs) < len(self.files):
            lat.append(self._fold(spark))
        self._stop()
        return lat

    def _published(self, spark, out_dir):
        from gliner_spark.operators.sinks import read_published

        return (read_published(spark, os.path.join(out_dir, "nodes")),
                read_published(spark, os.path.join(out_dir, "edges")))

    def verify(self, spark):
        """The published nodes and edges equal build_kg over every folded
        page (the contract tests/test_streaming.py pins); the traced
        folds publish the same tables as the streamed ones."""
        from gliner_spark.kernels.scorer import ALL_LABELS
        from gliner_spark.plans.kg import build_kg

        n_stream = self.n_streamed
        failed = sum(1 for _, ok in self.outs if not ok)
        try:
            full = build_kg(spark.read.parquet(*self.files[:n_stream]), ALL_LABELS)
            nodes, edges = self._published(spark, os.path.join(self.out, "kg"))
            problems = []
            if _rows(nodes, NODE_COLS) != _rows(full.nodes, NODE_COLS) \
                    or nodes.isEmpty():
                problems.append("published nodes differ from build_kg")
            if _rows(edges, EDGE_COLS) != _rows(full.edges, EDGE_COLS):
                problems.append("published edges differ from build_kg")
            if len(self.outs) > n_stream:
                traced = self._published(spark, os.path.join(self.out, "traced"))
                if [table_hash(t) for t in traced] != \
                        [table_hash(t) for t in (nodes, edges)]:
                    problems.append("traced folds publish different tables")
        except Exception as e:
            traceback.print_exc()
            return len(self.outs), [f"check raised {type(e).__name__}: {e}"]
        return (len(self.outs) if problems else failed), problems

    def measure_traced(self, spark, tr):
        """Stream three folds after the warm-up, then fold the same four
        files again through merge_kg_batch and publish_atomic (the body
        of stream_kg_updates) on the calling thread, so each layer's
        Spark jobs carry its span's job group."""
        from gliner_spark.kernels.scorer import ALL_LABELS
        from gliner_spark.operators.checkpoint import manifest_file_count
        from gliner_spark.operators.sinks import publish_atomic
        from gliner_spark.plans.incremental import merge_kg_batch

        lat = [self._fold(spark) for _ in range(3)]
        self._stop()
        root = os.path.join(self.work, "kg_root_traced")
        out_dir = os.path.join(self.out, "traced")
        traced = []
        for i in range(self.n_streamed):
            t0 = time.perf_counter()
            with tr.span("incremental.merge_kg_batch"):
                kg = merge_kg_batch(spark.read.parquet(self.files[i]),
                                    ALL_LABELS, root, batch_id=f"epoch{i}")
                nodes, _ = _persist_count(kg.nodes)
                edges, _ = _persist_count(kg.edges)
            with tr.span("sinks.publish_atomic"):
                publish_atomic(nodes, os.path.join(out_dir, "nodes"))
                publish_atomic(edges, os.path.join(out_dir, "edges"))
            traced.append(time.perf_counter() - t0)
            self.outs.append((f"traced{i}", True))
        half = len(lat) // 2
        self.counts = {
            "checkpoint.manifest_files": manifest_file_count(root),
            "checkpoint.bytes": dir_bytes_files(root)[0],
            "streaming.latency_growth":
                statistics.median(lat[half:]) / statistics.median(lat[:half]),
        }
        return sum(lat), sum(traced[1:])


# ------------------------------------------------------------ curate


class Curate(Workload):
    """jobs/run_curate.py: curate(pair_source=minhash_dups), verdicts,
    kept-document join, pack_shards, two write_table sinks."""

    name = "curate"
    docs = CURATE_DOCS
    LANGS = ("en",)
    MIN_QUALITY = 0.5
    THRESHOLD = 0.8
    TOKEN_BUDGET = 2048

    def _docs(self, n):
        import sys

        sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
        from gen_scale_corpus import gen_documents

        return gen_documents(n, np.random.default_rng(self.seed))

    def write_input(self, spark, path, n):
        return _write_parts(self._docs(n), path,
                            spark.sparkContext.defaultParallelism)

    def op(self, spark, src, out_dir):
        from gliner_spark.operators.dedup import minhash_dups
        from gliner_spark.operators.sampling import pack_shards
        from gliner_spark.operators.sinks import write_table
        from gliner_spark.plans.curation import curate

        docs = spark.read.parquet(src)
        verdicts = curate(docs, allowed_langs=self.LANGS,
                          min_quality=self.MIN_QUALITY,
                          near_dup_threshold=self.THRESHOLD,
                          pair_source=minhash_dups)
        write_table(verdicts, os.path.join(out_dir, "verdicts"))
        write_table(pack_shards(self._kept(docs, verdicts),
                                token_budget=self.TOKEN_BUDGET, part_col="lang"),
                    os.path.join(out_dir, "shards"))

    @staticmethod
    def _kept(docs, verdicts):
        return docs.alias("d").join(
            verdicts.where("keep").select(F.col("doc_id").alias("_keep_id")),
            F.col("d.doc_id").cast("long") == F.col("_keep_id"),
        ).drop("_keep_id")

    def check(self, spark, out_dir):
        """Near-dup flags equal curate's rule over the exact pair source:
        every member of a pair component except its minimum doc_id."""
        from gliner_spark.operators.dedup import ngram_jaccard_dups

        pairs = ngram_jaccard_dups(spark.read.parquet(self.src),
                                   threshold=self.THRESHOLD).collect()
        root = {}

        def find(x):
            while root.setdefault(x, x) != x:
                root[x] = root[root[x]]
                x = root[x]
            return x

        for r in pairs:
            a, b = find(r["src"]), find(r["dst"])
            root[max(a, b)] = min(a, b)
        want = {x for x in root if find(x) != x}
        got = {r["doc_id"] for r in spark.read.parquet(
            os.path.join(out_dir, "verdicts")).where("is_near_dup")
            .select("doc_id").collect()}
        if got != want or not want:
            return [f"{len(got ^ want)} near-dup flags differ from "
                    f"ngram_jaccard_dups ({len(want)} expected)"]
        return []

    def traced(self, spark, tr, src, out_dir):
        """plans/curation.py::curate and jobs/run_curate.py, layer by layer."""
        from pyspark.sql import Window

        from gliner_spark.operators.canonicalize import connected_components_auto
        from gliner_spark.operators.dedup import minhash_dups
        from gliner_spark.operators.sampling import pack_shards
        from gliner_spark.operators.sinks import write_table
        from gliner_spark.operators.textstats import pred_lang_expr, quality_expr

        n = {}
        with tr.span("sources.scan"):
            docs, n["sources.input_rows"] = _persist_count(
                spark.read.parquet(src))
        with tr.span("curation.gates"):
            feat = docs.select(
                F.col("doc_id").cast("long").alias("doc_id"),
                pred_lang_expr(F.col("text")).isin(*self.LANGS).alias("lang_ok"),
                (quality_expr(F.col("text")) >= self.MIN_QUALITY).alias("quality_ok"),
                F.md5(F.col("text")).alias("_ch"),
            )
            feat, _ = _persist_count(feat.withColumn(
                "is_exact_dup",
                F.col("doc_id") != F.min("doc_id").over(Window.partitionBy("_ch")),
            ).drop("_ch"))
        with tr.span("dedup.minhash_dups"):
            pairs, n["dedup.pairs_out"] = _persist_count(
                minhash_dups(docs, threshold=self.THRESHOLD))
        with tr.span("canonicalize.components"):
            comp, n["canonicalize.rows_out"] = _persist_count(
                connected_components_auto(pairs.select("src", "dst")).select(
                    F.col("node").alias("doc_id"),
                    F.col("component").alias("dup_group")))
        with tr.span("curation.join"):
            verdicts, _ = _persist_count(
                feat.join(F.broadcast(comp), "doc_id", "left").select(
                    "doc_id", "lang_ok", "quality_ok", "is_exact_dup",
                    (F.col("dup_group").isNotNull()
                     & (F.col("dup_group") != F.col("doc_id"))).alias("is_near_dup"),
                ).withColumn(
                    "keep", F.col("lang_ok") & F.col("quality_ok")
                    & ~F.col("is_exact_dup") & ~F.col("is_near_dup")))
        with tr.span("sinks.verdicts"):
            write_table(verdicts, os.path.join(out_dir, "verdicts"))
        with tr.span("sampling.pack_shards"):
            shards, _ = _persist_count(pack_shards(
                self._kept(docs, verdicts), token_budget=self.TOKEN_BUDGET,
                part_col="lang"))
        with tr.span("sinks.shards"):
            write_table(shards, os.path.join(out_dir, "shards"))
        return n


# ---------------------------------------------------------- ner_onnx

ONNX_LABELS = ["city", "country"]
# tests/fixtures/wordpiece_tokenizer.json ids used by the tiny graph
_KYIV, _UKRAINE, _CITY, _COUNTRY, _ENT = 9, 17, 22, 23, 30
# text words: the two entity words, in-vocabulary fillers, multi-piece
# words and out-of-vocabulary words ([UNK]); label names stay out
ONNX_WORDS = ["Kyiv", "Ukraine", "the", "capital", "of", "is", "hello",
              "world", "unaffable", "resume", "!", ".", "river", "spark"]
# long tail: most documents 8-31 words, ONNX_LONG_FRAC of them
# ONNX_LONG_WORDS words (see NOTES.md for the 256-word limit)
ONNX_LONG_FRAC = 0.02
ONNX_LONG_WORDS = 96
ONNX_KERNEL_METRICS = ("kernels.subword_s", "kernels.encode_s",
                       "kernels.onnx_run_s", "kernels.pad_useful_ratio")


class NerOnnx(Workload):
    """GlinerModel(model, tokenizer).inference_df → parquet, with the
    tiny GLiNER ONNX graph executed by the bundled MiniOnnxSession."""

    name = "ner_onnx"
    docs = ONNX_DOCS
    arrow_batch_rows = 512

    def __init__(self, work, seed):
        super().__init__(work, seed)
        self.model_path = os.path.join(work, "tiny_gliner.onnx")
        self.tok_path = os.path.join(os.getcwd(), "tests", "fixtures",
                                     "wordpiece_tokenizer.json")

    def _model(self):
        from gliner_spark.api import GlinerModel

        if not os.path.exists(self.model_path):
            from gliner_spark.kernels.onnx_rt import build_tiny_gliner_model

            os.makedirs(self.work, exist_ok=True)
            build_tiny_gliner_model(
                self.model_path,
                word_entries={_KYIV: (0, 0.9), _UKRAINE: (1, 0.9)},
                label_ids={_CITY: 0, _COUNTRY: 1},
                ent_token_id=_ENT, vocab_size=32)
        return GlinerModel(self.model_path, self.tok_path)

    def _texts(self, n):
        rng = np.random.default_rng(self.seed)
        lens = np.where(rng.random(n) < ONNX_LONG_FRAC, ONNX_LONG_WORDS,
                        rng.integers(8, 32, size=n))
        words = np.asarray(ONNX_WORDS)
        return [" ".join(words[rng.integers(0, len(words), size=k)])
                for k in lens]

    def write_input(self, spark, path, n):
        texts = self._texts(n)
        return _write_parts(
            pa.table({"url": [f"doc{i}" for i in range(n)], "text": texts}),
            path, spark.sparkContext.defaultParallelism)

    def op(self, spark, src, out_dir):
        self._model().inference_df(
            spark.read.parquet(src), ONNX_LABELS
        ).write.parquet(os.path.join(out_dir, "mentions"))

    def check(self, spark, out_dir):
        pages = pq.read_table(self.src).to_pydict()
        ids = _sample_ids(pages["url"], self.seed)
        text_of = dict(zip(pages["url"], pages["text"]))
        spans = self._model().inference([text_of[i] for i in ids], ONNX_LABELS)
        want = sorted((d, s, e, t, lab, round(float(p), 4))
                      for d, ss in zip(ids, spans) for s, e, t, lab, p in ss)
        got = _rows(spark.read.parquet(os.path.join(out_dir, "mentions"))
                    .where(F.col("doc_id").isin(ids)),
                    ["doc_id", "m_start", "m_end", "m_text", "label", "prob"])
        if got != want or not want:
            return [f"mentions differ from GlinerModel.inference on {len(ids)} docs"]
        return []

    def traced(self, spark, tr, src, out_dir):
        n = {}
        with tr.span("sources.scan"):
            pages, n["sources.input_rows"] = _persist_count(
                spark.read.parquet(src))
        with tr.span("ner.inference_df"):
            mentions, n["ner.rows_out"] = _persist_count(
                self._model().inference_df(pages, ONNX_LABELS))
        n["ner.rows_in"] = n["sources.input_rows"]
        with tr.span("sinks.write"):
            mentions.write.parquet(os.path.join(out_dir, "mentions"))
        return n

    def kernels(self):
        """ONNX kernel phase split per 1k documents: subword encoding,
        batch encoding (self time), graph run, decode and greedy."""
        from gliner_spark.kernels.encode import encode_batch
        from gliner_spark.kernels.onnx_rt import MiniOnnxSession
        from gliner_spark.kernels.subword import encoder_from_file

        self._model()  # writes the graph file
        acc = {"subword_s": 0.0, "encode_s": 0.0, "onnx_run_s": 0.0}
        pad = {"useful": 0, "padded": 0}
        encode_word = _timed(encoder_from_file(self.tok_path), acc, "subword_s")
        sess = MiniOnnxSession(self.model_path)
        run = _timed(sess.run, acc, "onnx_run_s")
        mw = CFG.gliner.max_width

        def score(batch_tokens, labels):
            t0, sub0 = time.perf_counter(), acc["subword_s"]
            enc = encode_batch(batch_tokens, labels, encode_word, mw)
            acc["encode_s"] += (time.perf_counter() - t0) - (acc["subword_s"] - sub0)
            pad["useful"] += int(enc.text_lengths.sum())
            pad["padded"] += len(batch_tokens) * enc.num_words
            (logits,) = run(["logits"], {
                "input_ids": enc.input_ids,
                "attention_mask": enc.attention_mask,
                "words_mask": enc.words_mask,
                "text_lengths": enc.text_lengths,
                "span_idx": enc.span_idx, "span_mask": enc.span_mask})
            logits = np.asarray(logits, dtype=np.float32).reshape(
                len(batch_tokens), enc.num_words, mw, len(labels))
            return [logits[i] for i in range(len(batch_tokens))]

        texts = self._texts(KERNEL_DOCS)
        _, t_, n = decode_phases(texts, ONNX_LABELS, score, CFG.gliner,
                                 self.arrow_batch_rows)
        k = 1000.0 / len(texts)
        out = {f"kernels.{p}": v * k for p, v in t_.items()}
        out.update({f"kernels.{p}": v * k for p, v in acc.items()})
        out.update({f"kernels.{c}": v for c, v in n.items()})
        out["kernels.greedy_keep_ratio"] = (
            n["spans_kept"] / n["spans_decoded"] if n["spans_decoded"] else 0.0)
        out["kernels.pad_useful_ratio"] = pad["useful"] / max(pad["padded"], 1)
        out["_kernel_s_per_doc"] = sum(t_.values()) / len(texts)
        return out


WORKLOADS = {w.name: w for w in (KgBatch, KgFold, Curate, NerOnnx)}
