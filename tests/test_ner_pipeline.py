"""End-to-end pipeline parity vs the single-process oracle, plus the
byte-identical-extraction invariant (BASELINE.json north_rule) and
unit checks on the structural operators.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spanmarkerner_spark import schemas
from spanmarkerner_spark.config import KG_LABELS, SpanMarkerConfig
from spanmarkerner_spark.datagen import extract_text_py, gen_pages, text_to_html
from spanmarkerner_spark.functions.text import segment_sentences
from spanmarkerner_spark.model import greedy_decode
from spanmarkerner_spark.oracle import precision_recall, run_oracle
from spanmarkerner_spark.pipeline import run_pipeline
from spanmarkerner_spark.subword import encode_words, enumerate_spans

N_PAGES = 40
SEED = 42


@pytest.fixture(scope="module")
def pages_rows():
    return gen_pages(N_PAGES, seed=SEED)


@pytest.fixture(scope="module")
def pages_df(spark, pages_rows):
    return spark.createDataFrame(pages_rows, schema=schemas.PAGES)


@pytest.fixture(scope="module")
def result(pages_df):
    res = run_pipeline(pages_df, num_partitions=8)
    # materialize once; tests read from these
    res["mentions"] = res["mentions"].cache()
    res["triples"] = res["triples"].cache()
    return res


@pytest.fixture(scope="module")
def oracle(pages_rows):
    return run_oracle(pages_rows, SpanMarkerConfig(labels=KG_LABELS))


def test_extraction_byte_identical(result):
    assert result["pages"].filter("extracted_text <> text").count() == 0


def test_extraction_py_inverse(pages_rows):
    for url, _ts, html, text, _lang in pages_rows:
        assert extract_text_py(html) == text


def test_html_escaping_roundtrip():
    text = "x & y < z > w . plain tail"
    html = text_to_html(text, "u")
    assert extract_text_py(html) == text


def test_segmentation_offsets(spark):
    rows = [("u1", None, b"", "ab cd . ef g . h", "en")]
    df = spark.createDataFrame(rows, schema=schemas.PAGES)
    got = {
        r["sentence_id"]: (r["sentence"], r["char_offset"])
        for r in segment_sentences(df).collect()
    }
    assert got == {0: ("ab cd", 0), 1: ("ef g", 8), 2: ("h", 15)}


def test_empty_pages_produce_no_sentences(spark):
    rows = [("u1", None, b"", "", "en"), ("u2", None, b"", "   ", "en")]
    df = spark.createDataFrame(rows, schema=schemas.PAGES)
    assert segment_sentences(df).count() == 0


def test_mentions_match_oracle(result, oracle):
    cols = [
        "url", "sentence_id", "span", "label",
        "word_start_index", "word_end_index",
        "char_start_index", "char_end_index",
    ]
    spark_scores = {
        tuple(r[c] for c in cols): r["score"] for r in result["mentions"].collect()
    }
    oracle_m = {tuple(m[c] for c in cols) for m in oracle["mentions"]}
    assert set(spark_scores) == oracle_m
    # scores agree to float tolerance (the pipeline scores chunks in
    # large collated batches, the oracle row-by-row — numpy reduction
    # order differs in the last ulps)
    for m in oracle["mentions"]:
        assert abs(spark_scores[tuple(m[c] for c in cols)] - m["score"]) < 1e-6


def test_triples_pr_vs_oracle(result, oracle):
    tri = {tuple(r) for r in result["triples"].collect()}
    p, r = precision_recall(tri, oracle["triples"])
    assert p >= 0.95 and r >= 0.95, (p, r, len(tri), len(oracle["triples"]))


def test_persisted_linked_is_the_returned_frame(pages_df):
    """persist_stages caches the 'linked' frame run_pipeline returns
    (after canonicalize), so the callers' unpersist() frees it."""
    res = run_pipeline(
        pages_df, num_partitions=8, persist_stages=True, canonicalize=True
    )
    try:
        assert res["linked"].is_cached
    finally:
        res["linked"].unpersist()


def test_lang_filter_prunes(pages_df):
    res = run_pipeline(pages_df, lang_filter="en")
    langs = {r["lang"] for r in res["pages"].select("lang").distinct().collect()}
    assert langs <= {"en"}


# ---- structural operator units -------------------------------------

def test_span_enumeration_bounds():
    spans = enumerate_spans(4, 2)
    assert spans == [(0, 1), (0, 2), (1, 2), (1, 3), (2, 3), (2, 4), (3, 4)]


def test_encode_words_alignment():
    e = encode_words(["hello", "extraordinary", "x"], 4096, 64)
    assert e["num_words"] == 3
    # 'extraordinary' = 13 chars -> 4 pieces of width 4
    assert e["word_tok_end"][1] - e["word_tok_start"][1] == 3
    assert e["word_char_start"] == [0, 6, 20]
    assert e["word_char_end"] == [5, 19, 21]
    assert e["input_ids"][0] == 1 and e["input_ids"][-1] == 2  # CLS/SEP


def test_encode_words_truncation():
    words = ["word"] * 100
    e = encode_words(words, 4096, 16)
    assert e["num_words"] < 100
    assert len(e["input_ids"]) <= 16


def test_greedy_decode_non_overlap():
    spans = [(0, 2, 1, 0.9), (1, 3, 2, 0.8), (3, 4, 1, 0.7), (0, 1, 2, 0.95)]
    kept = greedy_decode(spans, outside_id=0)
    assert kept == [(0, 1, 2, 0.95), (1, 3, 2, 0.8), (3, 4, 1, 0.7)]


def test_greedy_decode_tiebreak_deterministic():
    spans = [(2, 4, 1, 0.5), (0, 2, 1, 0.5), (1, 3, 2, 0.5)]
    # equal scores -> earlier start wins first, overlapping (1,3) dropped
    assert greedy_decode(spans, 0) == [(0, 2, 1, 0.5), (2, 4, 1, 0.5)]


def test_duplicate_urls_deduped_deterministically(spark, pages_rows):
    """Raw crawls re-crawl urls; duplicate (url, sentence_id) keys
    must not collide in the decode regroup (found by a stress input:
    IndexError on mismatched sentence bodies). The pipeline keeps one
    page per url — newest warc_ts, content-hash tiebreak — so a
    corpus with every page duplicated yields exactly the original
    triples."""
    doubled = spark.createDataFrame(
        pages_rows + pages_rows, schema=schemas.PAGES
    )
    base = {tuple(r) for r in run_pipeline(
        spark.createDataFrame(pages_rows, schema=schemas.PAGES),
        num_partitions=8)["triples"].collect()}
    got = {tuple(r) for r in run_pipeline(
        doubled, num_partitions=8)["triples"].collect()}
    assert got == base
