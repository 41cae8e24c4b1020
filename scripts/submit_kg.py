#!/usr/bin/env python3
"""spark-submit entry point for the KG construction job (north_rule:
"runs via spark-submit --py-files on multi-executor clusters,
checkpoint-resumable with per-partition lineage and metrics tables").

Usage (cluster or local):

    spark-submit --master <url> \
        --py-files spanmarkerner_spark_pkg.zip \
        scripts/submit_kg.py \
        --pages /data/pages_parquet --out /data/kg \
        [--run-id r42] [--lang en] [--canonicalize]
        [--doc-context-window 2] [--n-buckets 64] [--use-extracted]

Build the --py-files zip with:

    python scripts/make_pyfiles.py dist/

Behavior:
  - resumes: pages whose url-bucket already has a 'triples' lineage
    row are skipped (pending_partitions anti-join, resolved once at
    start to a bucket list), so a re-run after a crash reprocesses
    only unfinished buckets; per-bucket writes are idempotent
    (dynamic partition overwrite).
  - writes: <out>/triples and <out>/mentions stage tables partitioned
    by bucket(url), one lineage row per written bucket, and a metrics
    row set (pages_in, sentences, mentions, triples) per run.
"""

from __future__ import annotations

import argparse
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--pages", required=True, help="input pages parquet dir")
    ap.add_argument("--out", required=True, help="output base dir (stages + lineage)")
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--lang", default=None, help="push a lang filter to the scan")
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument("--canonicalize", action="store_true")
    ap.add_argument("--doc-context-window", type=int, default=0)
    ap.add_argument("--use-extracted", action="store_true",
                    help="extract text from html (default: trust the text column)")
    args = ap.parse_args(argv)

    # under spark-submit the session/conf comes from the submit command;
    # getOrCreate() attaches to it. The import of spanmarkerner_spark
    # works on the driver via --py-files; ship_package re-ships to
    # executors for local runs started without --py-files.
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = SparkSession.builder.appName("kg_construct").getOrCreate()

    from spanmarkerner_spark.pipeline import run_pipeline
    from spanmarkerner_spark.plans import lineage as L
    from spanmarkerner_spark.session import ship_package

    ship_package(spark)
    run_id = args.run_id or f"run-{int(time.time())}"

    pages = spark.read.parquet(args.pages)
    keyed = L.with_partition_key(pages, n_buckets=args.n_buckets)
    # resolve the pending buckets ONCE (at most n_buckets rows): a lazy
    # anti-join would re-read the lineage table on every action, so
    # the counts taken after this run's 'triples' lineage lands would
    # see an empty input
    pending_counts = {
        r["partition_key"]: r["count"]
        for r in L.pending_partitions(keyed, spark, args.out, "triples")
        .groupBy("partition_key").count().collect()
    }
    n_pending = sum(pending_counts.values())
    if n_pending == 0:
        print(f"RESUME: all buckets already have 'triples' lineage for {args.out}; "
              "nothing to do")
        return 0
    pending = keyed.filter(
        F.col("partition_key").isin(list(pending_counts))
    ).drop("partition_key")
    print(f"RUN {run_id}: {n_pending} pending pages")

    res = run_pipeline(
        pending,
        lang_filter=args.lang,
        use_extracted=args.use_extracted,
        canonicalize=args.canonicalize,
        doc_context_window=args.doc_context_window,
        persist_stages=True,  # triples + mentions + metrics all read 'linked'
    )
    # processed_input=pending: buckets that yielded ZERO triples still
    # get a lineage row, so the next resume skips them too.
    # ORDER MATTERS: 'triples' is the stage pending_partitions gates on,
    # so its lineage must land LAST — a crash between the two writes
    # then leaves the bucket pending (mentions re-written idempotently
    # on retry) instead of permanently missing from the mentions table.
    L.write_stage(res["linked"], args.out, "mentions", run_id,
                  n_buckets=args.n_buckets, processed_input=pending)
    n_triples_run = res["triples"].count()
    L.write_stage(res["triples"], args.out, "triples", run_id,
                  n_buckets=args.n_buckets, processed_input=pending)
    # per-run scope for all four counters; cumulative stage total is a
    # separately-named metric so resumed runs stay self-consistent
    metrics = {
        "pages_in": float(n_pending),
        "sentences": float(res["sentences"].count()),
        "mentions": float(res["linked"].count()),
        "triples": float(n_triples_run),
        "triples_total": float(L.read_stage(spark, args.out, "triples").count()),
    }
    L.write_metrics(spark, args.out, "kg", run_id, metrics)
    res["linked"].unpersist()
    print("METRICS " + " ".join(f"{k}={int(v)}" for k, v in sorted(metrics.items())))
    return 0


if __name__ == "__main__":
    sys.exit(main())
