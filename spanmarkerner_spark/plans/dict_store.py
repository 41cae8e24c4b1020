"""Dictionary-encoded triple store — the RDF-engine storage layout.

Every production triple store (Jena TDB, Virtuoso, RDF-3X, and the
warehouse KG tables this engine materializes) stores triples as three
INTEGER ids against a term dictionary, not as strings: at 10^12
triples the dictionary cuts storage several-fold, every join moves
8-byte keys instead of URLs/surface forms, and the int keys
sort/bucket better. The reference (SpanMarkerNER) emits string-typed
entities (span_marker/modeling.py predict()); this module is the
KG-materialization layer downstream of its output.

Dense-id assignment at scale: `row_number() OVER (ORDER BY term)` is
the semantic contract, but a naive global-order window is a
single-reducer sort. `dense_ids` computes the SAME ranking with two
passes and no global sort:

  1. range-repartition the distinct terms (range boundaries are
     sample-based, but the final rank is INVARIANT to where the
     boundaries fall, because ranges are disjoint and ordered by
     partition id);
  2. count rows per partition (a tiny driver-side table), prefix-sum
     the counts into per-partition offsets, broadcast them back;
  3. per-partition local sort + row_number + offset.

Each partition sorts only its own slice — the expensive path is one
range shuffle of the (distinct) vocabulary, which is orders of
magnitude smaller than the triple table. The encode joins are plain
keyed joins on the term; at 10^12 triples the dictionary is usually
still shuffle-join-sized, so no broadcast is forced (AQE decides).

Correctness dependency, pinned by
tests/test_graph.py::test_dense_ids_single_shared_range_exchange:
the per-partition COUNTS branch and the RANK branch must observe the
SAME range boundaries and the same AQE partition coalescing. Both
branches reference one plan subtree, so Spark's exchange reuse
(`spark.sql.exchange.reuse`, on by default) executes the range
shuffle ONCE (the second consumer is a ReusedExchange), and AQE's
coalescing is a deterministic function of that single exchange's map
stats — every reader sees identical partition ids. Were the exchange
ever duplicated instead of reused, each copy would re-sample its own
boundaries (RangePartitioner's reservoir seed varies per RDD
instantiation) and the offsets would no longer match the ranked
partitions — hence the plan pin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dense_ids(
    df: DataFrame, col: str, id_col: str = "tid", buckets: int = 64
) -> DataFrame:
    """(col, id_col): dense 1-based BIGINT ids equal to
    row_number() OVER (ORDER BY col) over the DISTINCT values of
    `col` — computed without a global single-reducer sort (module
    docstring). Deterministic for any sampled range boundaries."""
    terms = df.select(F.col(col).alias("_term")).distinct()
    parts = terms.repartitionByRange(buckets, "_term").withColumn(
        "_pid", F.spark_partition_id()
    )
    counts = parts.groupBy("_pid").agg(F.count(F.lit(1)).alias("_c"))
    w_off = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "_pid", F.coalesce(F.sum("_c").over(w_off), F.lit(0)).alias("_off")
    )
    w_local = Window.partitionBy("_pid").orderBy("_term")
    return (
        parts.join(F.broadcast(offsets), "_pid")
        .select(
            F.col("_term").alias(col),
            (F.row_number().over(w_local) + F.col("_off"))
            .cast("long")
            .alias(id_col),
        )
    )


def dict_encode_triples(
    triples: DataFrame, buckets: int = 64
) -> dict[str, DataFrame]:
    """Encode a string (subj, pred, obj) table against freshly-built
    dictionaries. Returns {"terms": (term, tid), "preds": (pred, pid),
    "encoded": (s_id, p_id, o_id)} where term ids cover subj UNION obj
    (one shared node dictionary, so a value appearing as both subject
    and object gets ONE id — required for int-key graph traversal) and
    predicate ids are a separate tiny dictionary, as in every RDF
    store.

    Scale notes: the two encode joins shuffle the triple table by subj
    then by obj — unavoidable once per epoch, and the downstream wins
    (int-key joins, 8-byte shuffle keys) amortize it; the predicate
    dictionary is broadcast (predicate vocabularies are always tiny).
    Persist `terms`/`preds` alongside the encoded table; incremental
    epochs extend the dictionary from max(tid) with the same
    dense_ids pass over only the NEW terms.
    """
    nodes = triples.select(F.col("subj").alias("term")).union(
        triples.select(F.col("obj").alias("term"))
    )
    terms = dense_ids(nodes, "term", id_col="tid", buckets=buckets)
    preds = dense_ids(triples, "pred", id_col="pid", buckets=1)
    encoded = (
        triples.join(
            terms.select(F.col("term").alias("subj"), F.col("tid").alias("s_id")),
            "subj",
        )
        .join(F.broadcast(preds), "pred")
        .join(
            terms.select(F.col("term").alias("obj"), F.col("tid").alias("o_id")),
            "obj",
        )
        .select("s_id", F.col("pid").alias("p_id"), "o_id")
    )
    return {"terms": terms, "preds": preds, "encoded": encoded}


def extend_dictionary(
    terms: DataFrame, new_triples: DataFrame, buckets: int = 64
) -> DataFrame:
    """Incremental dictionary growth for the next epoch: terms in
    `new_triples` (subj UNION obj) that are absent from the existing
    dictionary get fresh dense ids starting at max(tid) + 1 (ranked
    among themselves with the same boundary-invariant dense_ids
    pass); existing ids never change — downstream encoded tables and
    graph stores stay valid across epochs, which is the whole point
    of dictionary stability in an RDF warehouse.

    Returns the EXTENDED dictionary (old rows + new rows). Scale: the
    anti-join streams the (small) new-epoch vocabulary against the
    dictionary; the max(tid) scalar is one broadcastable row."""
    new_terms = (
        new_triples.select(F.col("subj").alias("term"))
        .union(new_triples.select(F.col("obj").alias("term")))
        .distinct()
        .join(terms.select("term"), "term", "left_anti")
    )
    base = terms.agg(
        F.coalesce(F.max("tid"), F.lit(0)).cast("long").alias("_base")
    )
    fresh = (
        dense_ids(new_terms, "term", id_col="_rk", buckets=buckets)
        .crossJoin(F.broadcast(base))
        .select("term", (F.col("_rk") + F.col("_base")).alias("tid"))
    )
    return terms.unionByName(fresh)


def star_join(
    encoded: DataFrame, p_a: int, p_b: int, obj_b: int
) -> DataFrame:
    """Conjunctive two-pattern star join over the ENCODED store —
    the SPARQL shape `?s p_a ?o . ?s p_b obj_b` resolved entirely on
    int keys: subjects having predicate `p_b` to the fixed object
    `obj_b`, each with its count of `p_a` edges. Returns
    (s_id, n_a) — one row per qualifying subject.

    Scale: the p_b/obj_b pattern is highly selective (a semi-join
    reducer); it is aggregated FIRST and joined onto the p_a side so
    the wide pattern is filtered before its groupBy. Both sides are
    keyed on s_id — co-partitioned if the store is bucketed by s_id
    (write the warehouse table bucketed by s_id, like
    plans/graph_store.py buckets by subject)."""
    anchor = (
        encoded.filter((F.col("p_id") == p_b) & (F.col("o_id") == obj_b))
        .select("s_id")
        .distinct()
    )
    return (
        encoded.filter(F.col("p_id") == p_a)
        .join(anchor, "s_id")
        .groupBy("s_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_a"))
    )


def star_join_resolved(
    store: dict[str, DataFrame], pred_a: str, pred_b: str, obj_b_term: str
) -> DataFrame:
    """star_join with the constants given as STRINGS and resolved
    through the store's dictionaries — one-row broadcast joins, which
    is exactly how an RDF store executes query constants (dictionary
    lookup, then int-key pattern matching; the strings never touch
    the triple table)."""
    encoded, terms, preds = store["encoded"], store["terms"], store["preds"]
    pb = preds.filter(F.col("pred") == pred_b).select(
        F.col("pid").alias("p_id")
    )
    ob = terms.filter(F.col("term") == obj_b_term).select(
        F.col("tid").alias("o_id")
    )
    pa = preds.filter(F.col("pred") == pred_a).select(
        F.col("pid").alias("p_id")
    )
    anchor = (
        encoded.join(F.broadcast(pb), "p_id")
        .join(F.broadcast(ob), "o_id")
        .select("s_id")
        .distinct()
    )
    return (
        encoded.join(F.broadcast(pa), "p_id")
        .join(anchor, "s_id")
        .groupBy("s_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_a"))
    )


def encode_micro_batch(
    batch_df: DataFrame,
    epoch_id: int,
    dict_dir: str,
    out_dir: str,
    buckets: int = 64,
) -> None:
    """Streaming dictionary maintenance: one micro-batch of string
    triples -> (a) the term dictionary grows by an APPEND-ONLY delta
    partition `epoch=N` holding only this epoch's genuinely-new
    terms (ids continue from the prior epochs' max via
    extend_dictionary, so earlier encoded partitions never need
    rewriting), and (b) the encoded (s_id, pred, o_id) rows land in
    `epoch_id=N` of the output table. Module-level so foreachBatch
    retry semantics are directly testable (same pattern as
    streaming/ingest.curate_micro_batch).

    Retry safety: both writes are dynamic-partition OVERWRITES of
    exactly this epoch's partition, and the dictionary read EXCLUDES
    the current epoch's delta — a replayed epoch recomputes the same
    new-term set against the same prior dictionary and overwrites
    its own partitions with identical content (ids are deterministic
    ranks, not sequence numbers). Predicates stay strings here: a
    predicate vocabulary is tiny and its dictionary is the trivial
    twin of the term path.

    Scale notes: the delta layout means the full dictionary is
    `read.parquet(dict_dir)` — an append-only union of epoch deltas;
    compact it with plans/compaction.compact_epochs when small
    epochs accumulate. Per batch, only the NEW-term vocabulary is
    ranked (dense_ids over the anti-joined remainder); the encode
    joins shuffle just the batch."""
    from pyspark.errors import AnalysisException

    sp = batch_df.sparkSession
    try:
        prior = sp.read.parquet(dict_dir).filter(
            F.col("epoch") != int(epoch_id)
        ).select("term", "tid")
    except AnalysisException as e:
        if (e.getErrorClass() or "") not in (
            "PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"
        ):
            raise
        prior = sp.createDataFrame([], "term string, tid long")
    full = extend_dictionary(prior, batch_df, buckets=buckets)
    fresh = full.join(prior.select("term"), "term", "left_anti")
    (
        fresh.withColumn("epoch", F.lit(int(epoch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("epoch")
        .parquet(dict_dir)
    )
    encoded = (
        batch_df.join(
            full.select(F.col("term").alias("subj"), F.col("tid").alias("s_id")),
            "subj",
        )
        .join(
            full.select(F.col("term").alias("obj"), F.col("tid").alias("o_id")),
            "obj",
        )
        .select("s_id", "pred", "o_id")
    )
    (
        encoded.withColumn("epoch_id", F.lit(int(epoch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("epoch_id")
        .parquet(out_dir)
    )
