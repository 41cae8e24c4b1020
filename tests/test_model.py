"""Model internals: the production marker-rows-only forward must equal
the reference-faithful full-layout forward (same block-attention
semantics, data_collator.py:52-130) on the marker hidden states."""

from __future__ import annotations

import numpy as np
import pytest

from spanmarkerner_spark.config import KG_LABELS, SpanMarkerConfig
from spanmarkerner_spark.model import (
    TinySpanEncoder,
    collate,
    collate_full,
    score_batch,
)
from spanmarkerner_spark.subword import encode_words, enumerate_spans

# a numpy RuntimeWarning (e.g. NaN from an all-masked softmax row) is a
# bug in the model code, not noise
pytestmark = pytest.mark.filterwarnings("error::RuntimeWarning")


def _rows(cfg, sentences):
    rows = []
    for words in sentences:
        e = encode_words(words, cfg.vocab_size, cfg.model_max_length)
        spans = enumerate_spans(e["num_words"], cfg.entity_max_length)
        spans = spans[: cfg.marker_max_length]
        rows.append(
            {
                "input_ids": e["input_ids"],
                "start_position_ids": [e["word_tok_start"][s] for s, _ in spans],
                "end_position_ids": [e["word_tok_end"][x - 1] for _, x in spans],
                "span_texts": [" ".join(words[s:x]).lower() for s, x in spans],
            }
        )
    return rows


def test_fast_forward_matches_full_layout():
    cfg = SpanMarkerConfig(labels=KG_LABELS)
    enc = TinySpanEncoder(cfg)
    sentences = [
        "john smith works for acme corp in paris".split(),
        "a short one".split(),
        "the quick brown fox jumped over the extraordinarily lazy dog".split(),
    ]
    rows = _rows(cfg, sentences)

    c = collate(rows, cfg)
    h_s, h_e = enc.forward_markers(
        c["text_ids"], c["text_len"], c["sp"], c["ep"], c["num_pairs"]
    )

    input_ids, position_ids, attn, start_idx, num_pairs = collate_full(rows, cfg)
    h_full = enc.forward_full(input_ids, position_ids, attn)

    for b in range(len(rows)):
        m0, m = int(start_idx[b]), int(num_pairs[b])
        np.testing.assert_allclose(
            h_s[b, :m], h_full[b, m0 : m0 + m], rtol=2e-3, atol=2e-3
        )
        np.testing.assert_allclose(
            h_e[b, :m], h_full[b, m0 + m : m0 + 2 * m], rtol=2e-3, atol=2e-3
        )


def test_score_batch_deterministic_across_batch_composition():
    """A row's scores must not depend on what else is in the batch
    (fixed per-row math; padding contributes exact zeros) — this is
    what makes Spark/oracle parity exact under any partitioning."""
    cfg = SpanMarkerConfig(labels=KG_LABELS)
    enc = TinySpanEncoder(cfg)
    from spanmarkerner_spark.datagen import gazetteer

    gaz = gazetteer(cfg)
    sentences = [
        "john smith works for acme corp in paris".split(),
        "x" .split(),
        "the quick brown fox jumped over the extraordinarily lazy dog".split(),
    ]
    rows = _rows(cfg, sentences)
    together = score_batch(enc, rows, gaz, cfg)
    alone = [score_batch(enc, [r], gaz, cfg)[0] for r in rows]
    for (l1, s1), (l2, s2) in zip(together, alone):
        assert l1 == l2
        np.testing.assert_allclose(s1, s2, rtol=1e-6)


def test_gazetteer_drives_labels():
    cfg = SpanMarkerConfig(labels=KG_LABELS)
    enc = TinySpanEncoder(cfg)
    from spanmarkerner_spark.datagen import gazetteer

    gaz = gazetteer(cfg)
    words = "yesterday john smith visited paris".split()
    rows = _rows(cfg, [words])
    (labels, scores), = score_batch(enc, rows, gaz, cfg)
    spans = enumerate_spans(len(words), cfg.entity_max_length)[: cfg.marker_max_length]
    by_span = dict(zip(spans, zip(labels, scores)))
    person = cfg.reduced_labels.index("person")
    location = cfg.reduced_labels.index("location")
    assert by_span[(1, 3)][0] == person       # "john smith"
    assert by_span[(4, 5)][0] == location     # "paris"
    assert by_span[(0, 1)][0] == cfg.outside_id  # "yesterday"


def test_forward_full_padding_rows_are_finite():
    """collate_full pads every row to total_size; the padding rows'
    attention mask is all False and must give zero weight, not NaN."""
    cfg = SpanMarkerConfig(labels=KG_LABELS)
    enc = TinySpanEncoder(cfg)
    input_ids, position_ids, attn, _, _ = collate_full(
        _rows(cfg, ["paris".split()]), cfg
    )
    assert not attn[0].any(axis=-1).all()  # the batch has padding rows
    assert np.isfinite(enc.forward_full(input_ids, position_ids, attn)).all()
