"""Single-document NER composition — the shared kernel between the Spark
operator and the single-process parity oracle.

Mirrors Model::inference (/root/reference/src/model.cpp:101-124):
validate → tokenize → score → decode → greedy, with the Model-level
defaults flat_ner=True, threshold=0.5, multi_label=False
(/root/reference/include/GLiNER/model.hpp:44-47). Empty texts or empty
label sets short-circuit to no spans (model.cpp:50-52, 104-107).

Two extensions beyond the reference, both opt-in:
- token-level decode (TokenProcessor/TokenDecoder path,
  /root/reference/src/processor.cpp:167-181, decoder.cpp:123-181) via
  ``model_type=TOKEN_LEVEL`` and a scorer exposing ``score_tokens``;
- chunking for oversized pages (``config.chunk_words > 0``): the
  reference never truncates (``maxLength`` is dead config, SURVEY.md
  §1.4), which is unbounded on 100 KB pages — chunk at word boundaries
  with overlap, decode per chunk (byte offsets stay global because
  tokens carry original-offset spans), dedupe seam duplicates keeping
  max prob, re-sort to generation order, then greedy once.

The one Spark NER stage (``operators/ner.py::_ner_stage``, behind both
``extract_mentions`` and ``extract_triples_fused``) calls exactly this
function, with the scorer picked by the one rule in
``scorer.make_scorer`` — so the cluster output and the straight-line
single-process output are the same code path, and the P/R-vs-reference
gate (BASELINE.json:metric) is then a structural identity, measured (not
assumed) by bench's parity check.
"""

from __future__ import annotations

from typing import Dict, List, Sequence, Tuple

from ..config import TOKEN_LEVEL, GlinerConfig
from .decode import (
    Span,
    decode_span_logits,
    decode_token_logits,
    greedy_search,
)
from .tokenize import tokenize_text


def _chunks(n_tokens: int, size: int, overlap: int):
    step = max(1, size - overlap)
    starts = range(0, max(1, n_tokens - overlap), step)
    return [(s, min(n_tokens, s + size)) for s in starts]


def _decode_one(
    text: str,
    tokens,
    labels: Sequence[str],
    scorer,
    config: GlinerConfig,
) -> List[Span]:
    decode = (
        decode_token_logits
        if config.model_type == TOKEN_LEVEL
        else decode_span_logits
    )
    score = (
        scorer.score_tokens
        if config.model_type == TOKEN_LEVEL
        else scorer.score_spans
    )

    if config.chunk_words and len(tokens) > config.chunk_words:
        lab_pos = {l: i for i, l in enumerate(labels)}
        merged: Dict[Tuple[int, int, str], Span] = {}
        for lo, hi in _chunks(len(tokens), config.chunk_words,
                              config.chunk_overlap):
            sub = tokens[lo:hi]
            (lg,) = score([sub], labels)
            for sp in decode(lg, sub, text, labels, config.threshold):
                key = (sp[0], sp[1], sp[3])
                prev = merged.get(key)
                if prev is None or sp[4] > prev[4]:
                    merged[key] = sp
        spans = sorted(
            merged.values(), key=lambda s: (s[0], s[1], lab_pos[s[3]])
        )
    else:
        (lg,) = score([tokens], labels)
        spans = decode(lg, tokens, text, labels, config.threshold)
    return greedy_search(spans, config.flat_ner, config.multi_label)


def ner_documents(
    texts: Sequence[str],
    labels: Sequence[str],
    scorer,
    config: GlinerConfig = GlinerConfig(),
) -> List[List[Span]]:
    """Batch NER: texts × labels → per-document selected spans."""
    if not texts or not labels:
        return [[] for _ in texts]
    batch_tokens = [tokenize_text(t) if t else [] for t in texts]
    if config.chunk_words or config.model_type == TOKEN_LEVEL:
        return [
            _decode_one(text, toks, labels, scorer, config) if toks else []
            for text, toks in zip(texts, batch_tokens)
        ]
    # fast path: one scorer call for the whole batch
    logits = scorer.score_spans(batch_tokens, labels)
    out: List[List[Span]] = []
    for text, tokens, lg in zip(texts, batch_tokens, logits):
        spans = decode_span_logits(
            lg, tokens, text, labels, threshold=config.threshold
        )
        out.append(
            greedy_search(spans, flat_ner=config.flat_ner,
                          multi_label=config.multi_label)
        )
    return out
