"""Distributed NER: pages → mentions or fused triples in ONE ``mapInPandas``
pass, defined once here.

Spark translation of the reference lifecycle (SURVEY.md §3.1): tokenize →
score → decode → greedy all happen inside a single Arrow-batched Python
stage, because the greedy group is a single document — i.e. a single
input row — so **no shuffle is needed for NER**. The first shuffle in the
whole pipeline is the relation/linking join downstream.

``_ner_stage`` is the only NER Arrow stage. ``extract_mentions`` and
``ner_fused.extract_triples_fused`` differ only in the output schema and
the per-document ``emit(spans) -> rows``; the scorer comes from the one
selection rule, ``kernels/scorer.py::make_scorer``, unless a factory is
passed. Output batches are built column-wise: per-document row counts,
``doc_id`` by ``np.repeat`` over them, the other columns from one
transpose of the flat rows, each built by its Spark type (probabilities
rounded to 4 decimals there, once per distinct value).

Scale notes (100 TB / 1000 executors):
- the stage is embarrassingly parallel over input splits; throughput
  scales with cores as long as the scorer is the bottleneck (it is);
- ``spark.sql.execution.arrow.maxRecordsPerBatch`` bounds the ONNX batch
  and Python-worker peak memory;
- for the ONNX path, sorting *within partitions* by text length before
  scoring shrinks padding waste (per-batch maxima, processor.cpp:60,:80);
  opt-in via ``length_sort=True`` — it costs a local sort, no shuffle;
- Catalyst prunes unread page columns (html is never deserialized here —
  only ``id_col`` and ``text_col`` reach Python).
"""

from __future__ import annotations

from functools import partial
from itertools import chain
from typing import Callable, Iterator, List, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import GlinerConfig
from ..kernels.decode import Span
from ..kernels.pipeline import ner_documents
from ..kernels.scorer import make_scorer
from ..schemas import MENTIONS
from .util import ensure_parallelism


def _probs(col: Sequence[float]) -> np.ndarray:
    """Probabilities at 4 decimals, exactly as ``round(p, 4)`` gives
    them; Python's ``round`` costs ~1 µs a call, so it runs once per
    distinct value rather than once per row."""
    values, inverse = np.unique(
        np.asarray(col, dtype=np.float64), return_inverse=True
    )
    return np.array([round(v, 4) for v in values.tolist()])[inverse]


# Spark type → column builder; every double in the NER outputs is a prob
_COLUMNS = {
    T.StringType: lambda col: pd.Series(col, dtype="object"),
    T.LongType: lambda col: np.fromiter(col, np.int64, len(col)),
    T.DoubleType: _probs,
}


def _frame(
    doc_ids: np.ndarray, per_doc: List[List[tuple]], schema: T.StructType
) -> pd.DataFrame:
    """Columnar output batch: ``doc_id`` repeated per emitted row, the
    remaining ``schema`` columns transposed from the flat rows."""
    counts = np.fromiter(map(len, per_doc), dtype=np.int64, count=len(per_doc))
    flat = list(chain.from_iterable(per_doc))
    fields = schema.fields
    cols = list(zip(*flat)) if flat else [()] * (len(fields) - 1)
    data = {fields[0].name: pd.Series(np.repeat(doc_ids, counts), dtype="object")}
    for field, col in zip(fields[1:], cols):
        data[field.name] = _COLUMNS[type(field.dataType)](col)
    return pd.DataFrame(data)


def _ner_stage(
    pages: DataFrame,
    labels: Sequence[str],
    id_col: str,
    text_col: str,
    config: GlinerConfig,
    scorer_factory,
    schema: T.StructType,
    emit: Callable[[List[Span]], List[tuple]],
    length_sort: bool = False,
) -> DataFrame:
    """pages(id, text, …) → ``schema`` rows, ``doc_id`` first, the rest
    produced by ``emit`` from each document's selected spans."""
    labels = list(labels)
    factory = scorer_factory or partial(
        make_scorer, config.max_width, model_type=config.model_type
    )

    src = ensure_parallelism(
        pages.select(
            F.col(id_col).cast("string").alias("doc_id"),
            F.col(text_col).alias("text"),
        )
    )
    if length_sort:
        src = src.sortWithinPartitions(F.length("text"))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        scorer = factory()  # once per task; sessions cache per process
        for pdf in batches:
            spans_batch = ner_documents(
                pdf["text"].tolist(), labels, scorer, config
            )
            yield _frame(
                pdf["doc_id"].to_numpy(), [emit(s) for s in spans_batch], schema
            )

    return src.mapInPandas(run, schema=schema)


def _span_rows(spans: List[Span]) -> List[Span]:
    """A span already is a mentions row after ``doc_id``: (m_start,
    m_end, m_text, label, prob); ``_frame`` rounds the prob."""
    return spans


def extract_mentions(
    pages: DataFrame,
    labels: Sequence[str],
    id_col: str = "url",
    text_col: str = "text",
    config: GlinerConfig = GlinerConfig(),
    scorer_factory=None,
    length_sort: bool = False,
) -> DataFrame:
    """pages(id, text, …) → mentions(doc_id, m_start, m_end, m_text,
    label, prob). Labels are a broadcast-sized query constant folded into
    the scorer (the reference folds them into the prompt,
    GLiNER.cpp src/processor.cpp:33-49)."""
    return _ner_stage(
        pages, labels, id_col, text_col, config, scorer_factory,
        MENTIONS, _span_rows, length_sort,
    )
