"""Document-context merge (W1/J5, span_marker/trainer.py:278-366).

For each sentence, append the following sentences' token ids and
prepend the preceding sentences' (alternating next/prev, whole
sentences only) until the model_max_length budget is exhausted; the
caller shifts the word->token alignment by the prepended length.

`context_merge` is the pure interleave. `operators/ner.py:ner_mentions`
calls it inside the NER UDF, on neighbour token arrays gathered by a
Window.partitionBy(url).orderBy(sentence_id) lag/lead (partition-local,
no global sort: the reference's sort + restore-order dance,
modeling.py:481-492, is unnecessary here).
`oracle.oracle_mentions_context` calls it on the same inputs in a
single process. Neighbour CLS/SEP tokens are stripped when splicing
(ids[1:-1]).
"""

from __future__ import annotations


def context_merge(
    own: list[int],
    prevs: list[list[int]],
    nexts: list[list[int]],
    budget: int,
) -> tuple[list[int], int]:
    """Pure interleave: returns (merged_input_ids, prefix_len).

    prevs: nearest-first preceding sentences' input_ids; nexts:
    nearest-first following. Neighbor ids are spliced without their
    CLS/SEP ([1:-1]). Alternates next, prev, next, ... (the reference
    starts with the following sentence, trainer.py:318-355) while the
    whole sentence fits in the remaining budget.
    """
    remaining = budget - len(own)
    take_prev: list[list[int]] = []
    take_next: list[list[int]] = []
    pi = ni = 0
    turn_next = True
    while remaining > 0:
        if turn_next and ni < len(nexts):
            chunk = nexts[ni][1:-1]
            if len(chunk) <= remaining:
                take_next.append(chunk)
                remaining -= len(chunk)
            ni += 1
        elif not turn_next and pi < len(prevs):
            chunk = prevs[pi][1:-1]
            if len(chunk) <= remaining:
                take_prev.append(chunk)
                remaining -= len(chunk)
            pi += 1
        if ni >= len(nexts) and pi >= len(prevs):
            break
        turn_next = not turn_next
    # nearest preceding sentence ends up adjacent to the body
    prefix = [t for chunk in reversed(take_prev) for t in chunk]
    suffix = [t for chunk in take_next for t in chunk]
    # own = [CLS] body [SEP]; context goes inside the specials
    merged = [own[0]] + prefix + own[1:-1] + suffix + [own[-1]]
    return merged, len(prefix)

