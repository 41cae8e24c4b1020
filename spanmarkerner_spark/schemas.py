"""Explicit StructType schemas for every table in the pipeline IR.

Tables are the IR (SURVEY.md §7.0):
    pages -> sentences -> tokenized -> scored -> mentions
          -> linked_mentions -> entities -> triples
Each schema mirrors a reference-side shape documented in SURVEY.md
§1.1-§1.2 (e.g. tokenized == span_marker/tokenizer.py:256-266's
columns; mentions == span_marker/modeling.py:551-564's entity dicts).
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---- input (BASELINE.json input_hint) --------------------------------
PAGES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)

# ---- pages after deterministic html->text extraction ----------------
EXTRACTED = T.StructType(
    list(PAGES.fields) + [T.StructField("extracted_text", T.StringType(), True)]
)

# ---- one row per sentence (U8 output) --------------------------------
SENTENCES = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("sentence_id", T.IntegerType(), False),
        T.StructField("sentence", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.StringType()), False),
        T.StructField("char_offset", T.IntegerType(), False),
    ]
)

# ---- decoded mentions (modeling.py:551-564 analogue) -----------------
MENTIONS = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("sentence_id", T.IntegerType(), False),
        T.StructField("span", T.StringType(), False),
        T.StructField("label", T.StringType(), False),
        T.StructField("score", T.DoubleType(), False),
        T.StructField("word_start_index", T.IntegerType(), False),
        T.StructField("word_end_index", T.IntegerType(), False),
        T.StructField("char_start_index", T.IntegerType(), False),
        T.StructField("char_end_index", T.IntegerType(), False),
    ]
)

# ---- entity linking --------------------------------------------------
ALIAS_DICT = T.StructType(
    [
        T.StructField("alias", T.StringType(), False),
        T.StructField("entity_id", T.LongType(), False),
        T.StructField("canonical_name", T.StringType(), False),
        T.StructField("prior", T.DoubleType(), False),
    ]
)

LINKED = T.StructType(
    list(MENTIONS.fields)
    + [
        T.StructField("entity_id", T.LongType(), True),
        T.StructField("canonical_name", T.StringType(), True),
        T.StructField("link_score", T.DoubleType(), True),
    ]
)

# ---- triples ---------------------------------------------------------
TRIPLES = T.StructType(
    [
        T.StructField("subj", T.LongType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("sentence_id", T.IntegerType(), False),
    ]
)

# ---- labelled NER fixtures (FIXTURES.md §2) --------------------------
NER_FIXTURE = T.StructType(
    [
        T.StructField("tokens", T.ArrayType(T.StringType()), False),
        T.StructField("ner_tags", T.ArrayType(T.IntegerType()), False),
        T.StructField("document_id", T.LongType(), True),
        T.StructField("sentence_id", T.IntegerType(), True),
    ]
)

ENTITY_TRIPLET = T.StructType(
    [
        T.StructField("label_id", T.IntegerType(), False),
        T.StructField("word_start", T.IntegerType(), False),
        T.StructField("word_end", T.IntegerType(), False),
    ]
)

# ---- lineage / metrics (checkpoint-resume, SURVEY.md §7.0) ----------
LINEAGE = T.StructType(
    [
        T.StructField("stage", T.StringType(), False),
        T.StructField("partition_key", T.IntegerType(), False),
        T.StructField("rows_out", T.LongType(), False),
        T.StructField("run_id", T.StringType(), False),
    ]
)

# file-grained lineage for streaming ingest: a url bucket is never
# complete within one micro-batch, so the streaming resume unit is the
# input FILE (matching the file source's own exactly-once unit)
FILE_LINEAGE = T.StructType(
    [
        T.StructField("stage", T.StringType(), False),
        T.StructField("file_key", T.StringType(), False),
        T.StructField("file_path", T.StringType(), False),
        T.StructField("rows_out", T.LongType(), False),
        T.StructField("run_id", T.StringType(), False),
    ]
)

# ---- metrics sink (S6: per-run metric rows appended to a table) -------
METRICS = T.StructType(
    [
        T.StructField("stage", T.StringType(), False),
        T.StructField("metric", T.StringType(), False),
        T.StructField("value", T.DoubleType(), False),
        T.StructField("run_id", T.StringType(), False),
    ]
)
