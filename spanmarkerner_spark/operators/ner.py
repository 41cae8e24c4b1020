"""SpanMarker-style NER as one Arrow-batched Spark UDF.

    sentences --ner_mentions (mapInPandas)--> mentions

Per Arrow batch of whole sentences the UDF runs tokenize (U2), span
enumeration (F2), the spread over the marker budget (U3), collate +
encoder forward + softmax (U4/U5) and the greedy non-overlap decode
(U6/W3). `oracle.oracle_mentions` / `oracle.oracle_mentions_context`
run the same pure functions (subword, model, context_merge) in a
single process and are the reference the tests pin this UDF against.

Scale notes (100 TB design):
- the UDF is NARROW: it needs no shuffle of its own. A sentence's
  chunks are made, scored and regrouped inside one Arrow batch, so the
  decode does not depend on row order across batches.
- with document context, the neighbour gather is a lag/lead window
  over (url, sentence_id) that rides the pipeline's url repartition
  and sort (no extra shuffle).
- the O(n*L) span blow-up happens inside the UDF, after the shuffle,
  never through it (SURVEY.md §4).
- the encoder weights are built once per Python worker (module cache),
  not shipped per task.

Reference semantics: span_marker/tokenizer.py:161-266 (U2/F2),
span_marker/trainer.py:368-405 (U3), span_marker/data_collator.py:52-130
+ span_marker/modeling.py:125-205,512-530 (U4/U5),
span_marker/modeling.py:532-574 (U6/W3).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spanmarkerner_spark import schemas
from spanmarkerner_spark.config import SpanMarkerConfig
from spanmarkerner_spark.model import TinySpanEncoder, greedy_decode, score_batch
from spanmarkerner_spark.subword import encode_words

# once-per-worker encoder cache (keyed by config identity fields)
_ENCODER_CACHE: dict[tuple, TinySpanEncoder] = {}


def _get_encoder(cfg: SpanMarkerConfig) -> TinySpanEncoder:
    key = (cfg.seed, cfg.hidden_size, cfg.vocab_size, cfg.model_max_length,
           cfg.marker_max_length, tuple(cfg.labels))
    enc = _ENCODER_CACHE.get(key)
    if enc is None:
        enc = _ENCODER_CACHE[key] = TinySpanEncoder(cfg)
    return enc


_MENTION_COLS = [f.name for f in schemas.MENTIONS.fields]


def ner_mentions(
    sentences: DataFrame,
    cfg: SpanMarkerConfig,
    gazetteer: dict[str, int],
    context_window: int = 0,
) -> DataFrame:
    """The whole U2..U6 chain in ONE Arrow UDF: tokenize -> enumerate
    -> chunk over the marker budget -> collate+score -> greedy decode,
    per Arrow batch of whole sentences.

    Why one UDF: a staged chain of three mapInPandas calls runs in one
    Spark STAGE but with one PYTHON WORKER PER UDF per task — at
    local[32] that is ~96 workers + 32 JVM threads, 4-5x core
    oversubscription, measured 18x CPU inflation per row. Fused, each
    task runs exactly one worker and ships (tokens in, mentions
    out) through Arrow once. This mirrors the reference's own fusion
    (modeling.py:466-574: one tokenizer call, one scoring loop, decode
    per sentence). Chunks of a sentence never cross batches here, so
    the decode regroups them within the batch.

    context_window > 0 enables document context (W1, the reference's
    predict() with document_id present, modeling.py:474-492 +
    trainer.py:278-366): each sentence's encoding is padded with up to
    `context_window` neighbouring sentences' token ids on each side
    (whole sentences only, alternating next/prev, specials stripped)
    and the marker position ids are shifted by the prepended length.
    The neighbour token arrays arrive via window lag/lead over
    (url, sentence_id) — the upstream repartition("url") +
    sortWithinPartitions already satisfies that window's required
    distribution and ordering, so context adds NO extra shuffle.
    """
    from spanmarkerner_spark.operators.context import context_merge
    from spanmarkerner_spark.subword import enumerate_spans

    gaz = dict(gazetteer)
    L = cfg.entity_max_length
    mml = cfg.marker_max_length
    vocab = cfg.vocab_size
    model_max = cfg.model_max_length

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        enc = _get_encoder(cfg)
        for pdf in batches:
            rows = []
            meta = []  # (url, sid, words, e, spans) per chunk row
            has_ctx = "_prev_toks" in pdf.columns
            prev_col = pdf["_prev_toks"] if has_ctx else pdf["url"]
            next_col = pdf["_next_toks"] if has_ctx else pdf["url"]
            for url, sid, toks, off, pv, nx in zip(
                pdf["url"], pdf["sentence_id"], pdf["tokens"],
                pdf["char_offset"], prev_col, next_col,
            ):
                words = list(toks)
                e = encode_words(words, vocab, model_max)
                nw = e["num_words"]
                if nw == 0:
                    continue
                words = words[:nw]
                input_ids, shift = e["input_ids"], 0
                if has_ctx:
                    pv_ids = [
                        encode_words(list(t), vocab, model_max)["input_ids"]
                        for t in pv if t is not None
                    ]
                    nx_ids = [
                        encode_words(list(t), vocab, model_max)["input_ids"]
                        for t in nx if t is not None
                    ]
                    input_ids, shift = context_merge(
                        e["input_ids"], pv_ids, nx_ids, model_max
                    )
                spans = enumerate_spans(nw, L)
                space = min(mml, (cfg.total_size - len(input_ids)) // 2)
                for c0 in range(0, len(spans), space):
                    chunk = spans[c0 : c0 + space]
                    rows.append(
                        {
                            "input_ids": input_ids,
                            "start_position_ids": [
                                e["word_tok_start"][s] + shift for s, _ in chunk
                            ],
                            "end_position_ids": [
                                e["word_tok_end"][x - 1] + shift for _, x in chunk
                            ],
                            "gaz_labels": [
                                gaz.get(" ".join(words[s:x]).lower(), -1)
                                for s, x in chunk
                            ],
                            "span_lens": [x - s for s, x in chunk],
                        }
                    )
                    meta.append((url, int(sid), words, e, chunk, int(off)))
            if not rows:
                continue
            # bound collate width: an Arrow batch of long pages can
            # expand to thousands of chunk rows; score in sub-batches
            # so temporaries stay cache-friendly. Sub-batches are
            # drawn in (num_pairs, text_len) order: collate pads every
            # row to the sub-batch max, and shape-sorted batching cuts
            # the padded attention FLOPs 2.3x -> ~1.3x of real work.
            # Measured on the synthetic corpus (grid over batch size x
            # sort key): unsorted/1024 2.80s -> (m,n)-sorted/512 1.72s
            # scoring wall, +51% sentences/s including prep. m first:
            # num_pairs sets the marker dim of every attend tensor and
            # is the spread-ier axis (p50 25 vs cap 32).
            # Per-row scores are independent of batch composition
            # (each marker row attends only to its own text/self/pair;
            # padded columns contribute exact zeros), the same degree
            # of freedom Arrow batch boundaries already exercise —
            # results are restored to input order for the adjacency-
            # dependent regroup below.
            order = sorted(
                range(len(rows)),
                key=lambda i: (
                    len(rows[i]["start_position_ids"]),
                    len(rows[i]["input_ids"]),
                ),
            )
            scored: list = [None] * len(rows)
            for c0 in range(0, len(order), 512):
                idx = order[c0 : c0 + 512]
                for i, res in zip(
                    idx, score_batch(enc, [rows[i] for i in idx], gaz, cfg)
                ):
                    scored[i] = res
            # regroup chunks per sentence (adjacent by construction)
            out: list[dict] = []
            i = 0
            while i < len(meta):
                url, sid, words, e, _, off = meta[i]
                cand: list[tuple[int, int, int, float]] = []
                j = i
                while j < len(meta) and meta[j][0] == url and meta[j][1] == sid:
                    labels, scores = scored[j]
                    cand.extend(
                        (s, x, l, sc)
                        for (s, x), l, sc in zip(meta[j][4], labels, scores)
                    )
                    j += 1
                for s, x, lab, sc in greedy_decode(cand, cfg.outside_id):
                    out.append(
                        {
                            "url": url,
                            "sentence_id": sid,
                            "span": " ".join(words[s:x]),
                            "label": cfg.reduced_labels[lab],
                            "score": float(sc),
                            "word_start_index": int(s),
                            "word_end_index": int(x),
                            "char_start_index": off + e["word_char_start"][s],
                            "char_end_index": off + e["word_char_end"][x - 1],
                        }
                    )
                i = j
            if out:
                yield pd.DataFrame(out, columns=_MENTION_COLS)

    cols = ["url", "sentence_id", "tokens", "char_offset"]
    staged = sentences.select(cols)
    if context_window > 0:
        from pyspark.sql import Window

        w = Window.partitionBy("url").orderBy("sentence_id")
        staged = staged.withColumn(
            "_prev_toks",
            F.array(*[
                F.lag("tokens", i).over(w) for i in range(1, context_window + 1)
            ]),
        ).withColumn(
            "_next_toks",
            F.array(*[
                F.lead("tokens", i).over(w) for i in range(1, context_window + 1)
            ]),
        )
    return staged.mapInPandas(fn, schema=schemas.MENTIONS)
