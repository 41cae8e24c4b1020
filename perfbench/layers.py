"""Traced per-layer run (--trace 1).

Layers are named after the engine's modules. Each layer runs as its own
Spark action under its own job group, reading its input from parquet
that the previous layer wrote (a `persist` would feed `mapInPandas`
from an in-memory scan, which pipeline.py measured 2-18x slower than a
file scan). Spans are timed around the calls from this file; nothing
inside the engine is instrumented. Spans stay in memory and are
written as JSON when the run ends.

  session     session.get_spark + warm-up
  text        pipeline.run_pipeline's pages -> sentences prefix
              (functions/text.py, url repartition, url dedupe)
  ner         operators/ner.py:ner_mentions
  subword     subword.encode_words + enumerate_spans   } replayed in the
  model       model.score_batch + greedy_decode        } driver
  linking     operators/linking.py:link_mentions
  components  pipeline.apply_canonicalize (operators/components.py)
  relations   operators/relations.py:extract_relations
  lineage     plans/lineage.py: pending_partitions, write_stage

The driver replay runs the fused NER UDF's steps over the same
sentences in the same batches (maxRecordsPerBatch sentences per
partition). ner.body_share = replayed body seconds / (ner.s x cores);
the rest of ner.s is Arrow/pandas transfer and worker overhead.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

import check
import host
import workloads

# the layers that run as Spark actions; their seconds add up to the
# traced pass (subword and model are inside ner)
LAYERS = ("text", "ner", "linking", "components", "relations", "lineage")
SCORE_BATCH = 512  # sub-batch width of score_batch in the fused NER UDF


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.origin = time.perf_counter()
        self.spans: list[dict] = []
        self.seconds: dict[str, float] = {}

    def span(self, name: str, fn, parent: str = "pass"):
        sc = self.spark.sparkContext
        sc.setJobGroup(name, f"perfbench layer {name}")
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            t1 = time.perf_counter()
            sc.setJobGroup("perfbench", "untraced")
            self.spans.append({
                "name": name, "parent": parent,
                "start_s": t0 - self.origin, "end_s": t1 - self.origin,
            })
            self.seconds[name] = self.seconds.get(name, 0.0) + (t1 - t0)


def _write(df, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


def read_path_layers(run, tracer: Tracer, d: str) -> dict:
    """text -> ner -> linking -> (components) -> relations, each its own
    action. Returns the layer counts and the output checks."""
    from pyspark.sql import functions as F

    from spanmarkerner_spark.datagen import RELATION_PATTERNS, gazetteer
    from spanmarkerner_spark.operators.linking import link_mentions
    from spanmarkerner_spark.operators.ner import ner_mentions
    from spanmarkerner_spark.operators.relations import extract_relations
    from spanmarkerner_spark.pipeline import (
        alias_dict_df, apply_canonicalize, default_config, run_pipeline,
    )

    spark, wl = run.spark, run.wl
    cfg = default_config()
    alias = alias_dict_df(spark)
    width = spark.sparkContext.defaultParallelism
    p = {k: os.path.join(d, k) for k in
         ("sentences", "mentions", "linked", "canonical", "triples")}
    read = spark.read.parquet

    res = run_pipeline(read(run.dirs["pages"]), **wl.pipeline_kwargs)
    tracer.span("text", lambda: _write(res["sentences"], p["sentences"]))

    def ner_input():
        # the pipeline's url hash partitioning and (url, sentence_id)
        # order, restored on the file scan
        return read(p["sentences"]).repartition(width, "url").sortWithinPartitions(
            "url", "sentence_id")

    tracer.span("ner", lambda: _write(
        ner_mentions(ner_input(), cfg, gazetteer(cfg)), p["mentions"]))
    tracer.span("linking", lambda: _write(
        link_mentions(read(p["mentions"]), alias), p["linked"]))
    linked = p["linked"]
    if wl.canonicalize:
        tracer.span("components", lambda: _write(
            apply_canonicalize(read(p["linked"]), alias), p["canonical"]))
        linked = p["canonical"]
    tracer.span("relations", lambda: _write(
        extract_relations(read(linked), read(p["sentences"]),
                          dict(RELATION_PATTERNS)), p["triples"]))

    n_mentions = read(p["mentions"]).count()
    n_linked = read(linked).filter(F.col("entity_id").isNotNull()).count()
    triples = check.triple_rows(read(p["triples"]).collect())
    problems = [
        check.diff("traced triples", triples, run.oracle["triples"]),
        check.diff("traced mentions",
                   check.mention_rows(read(p["mentions"]).collect()),
                   run.oracle["mentions"]),
    ]
    sentences = ner_input().withColumn("_pid", F.spark_partition_id()).select(
        "_pid", "url", "sentence_id", "tokens").collect()
    return {
        "counts": {
            "text.pages_in": len(wl.all_pages),
            "text.sentences_out": len(sentences),
            "ner.sentences_in": len(sentences),
            "ner.mentions_out": n_mentions,
            "linking.linked_ratio": n_linked / n_mentions if n_mentions else 0.0,
            "relations.triples_out": len(triples),
        },
        "sentences": sentences,
        "linked_dir": linked,
        "triples_dir": p["triples"],
        "problems": [x for x in problems if x],
    }


def replay_ner_body(sentences, cfg, gaz, arrow_batch: int) -> dict:
    """The fused NER UDF's per-batch work, replayed in the driver from
    the engine's public functions: encode + enumerate (subword), chunk
    rows sorted by shape and scored in sub-batches (model.score_batch),
    per-sentence greedy decode (model.greedy_decode)."""
    from spanmarkerner_spark.model import TinySpanEncoder, greedy_decode, score_batch
    from spanmarkerner_spark.subword import encode_words, enumerate_spans

    enc = TinySpanEncoder(cfg)
    L, mml = cfg.entity_max_length, cfg.marker_max_length
    vocab, model_max = cfg.vocab_size, cfg.model_max_length
    st = dict.fromkeys(("encode_s", "score_s", "decode_s"), 0.0)
    n = dict.fromkeys(("tokens", "candidate_spans", "chunk_rows", "pairs",
                       "padded", "real", "mentions"), 0)
    parts: dict[int, list] = {}
    for r in sentences:
        parts.setdefault(r["_pid"], []).append(r)
    pc = time.perf_counter
    t_body = pc()
    for part in parts.values():
        for b0 in range(0, len(part), arrow_batch):
            rows, meta = [], []
            for r in part[b0 : b0 + arrow_batch]:
                words = list(r["tokens"])
                t = pc()
                e = encode_words(words, vocab, model_max)
                nw = e["num_words"]
                spans = enumerate_spans(nw, L) if nw else []
                st["encode_s"] += pc() - t
                if nw == 0:
                    continue
                n["tokens"] += len(e["input_ids"])
                n["candidate_spans"] += len(spans)
                words = words[:nw]
                space = min(mml, (cfg.total_size - len(e["input_ids"])) // 2)
                for c0 in range(0, len(spans), space):
                    chunk = spans[c0 : c0 + space]
                    rows.append({
                        "input_ids": e["input_ids"],
                        "start_position_ids": [e["word_tok_start"][s] for s, _ in chunk],
                        "end_position_ids": [e["word_tok_end"][x - 1] for _, x in chunk],
                        "gaz_labels": [gaz.get(" ".join(words[s:x]).lower(), -1)
                                       for s, x in chunk],
                        "span_lens": [x - s for s, x in chunk],
                    })
                    meta.append(((r["url"], r["sentence_id"]), chunk))
            if not rows:
                continue
            order = sorted(range(len(rows)), key=lambda i: (
                len(rows[i]["start_position_ids"]), len(rows[i]["input_ids"])))
            scored: list = [None] * len(rows)
            for c0 in range(0, len(order), SCORE_BATCH):
                idx = order[c0 : c0 + SCORE_BATCH]
                sub = [rows[i] for i in idx]
                tl = [min(len(x["input_ids"]), model_max) for x in sub]
                ms = [min(len(x["start_position_ids"]), mml) for x in sub]
                # marker rows x text columns, as forward_markers attends
                n["padded"] += len(sub) * max(max(ms), 1) * max(tl)
                n["real"] += sum(a * b for a, b in zip(ms, tl))
                n["pairs"] += sum(ms)
                t = pc()
                for i, res in zip(idx, score_batch(enc, sub, gaz, cfg)):
                    scored[i] = res
                st["score_s"] += pc() - t
            n["chunk_rows"] += len(rows)
            i = 0
            while i < len(meta):
                key, cand, j = meta[i][0], [], i
                while j < len(meta) and meta[j][0] == key:
                    labels, scores = scored[j]
                    cand.extend((s, x, lab, sc) for (s, x), lab, sc
                                in zip(meta[j][1], labels, scores))
                    j += 1
                t = pc()
                n["mentions"] += len(greedy_decode(cand, cfg.outside_id))
                st["decode_s"] += pc() - t
                i = j
    st["body_s"] = pc() - t_body
    return {**st, **n}


def lineage_layer(run, tracer: Tracer, d: str, linked_dir: str,
                  triples_dir: str) -> dict:
    """The write path's lineage calls in the order a resumed job makes
    them: gate on a fresh dir, write buckets 0-31, gate (resume), write
    the pending rest, gate (no-op)."""
    from pyspark.sql import functions as F

    from spanmarkerner_spark.plans import lineage as L

    spark = run.spark
    nb, first = workloads.N_BUCKETS, workloads.FIRST_RUN_BUCKETS
    out = os.path.join(d, "lineage_out")
    keyed = L.with_partition_key(spark.read.parquet(run.dirs["pages"]), n_buckets=nb)

    def gate():
        return tracer.span("lineage", lambda: L.pending_partitions(
            keyed, spark, out, "triples").count(), parent="lineage.pending")

    def part(path, cond):
        k = L.with_partition_key(spark.read.parquet(path), n_buckets=nb)
        return k.filter(cond).drop("partition_key")

    def write(processed, cond, run_id):
        for stage, path in (("mentions", linked_dir), ("triples", triples_dir)):
            tracer.span("lineage", lambda: L.write_stage(
                part(path, cond), out, stage, run_id, n_buckets=nb,
                processed_input=processed), parent="lineage.write")

    pk = F.col("partition_key")
    total = gate()
    write(keyed.filter(pk < first).drop("partition_key"), pk < first, "first")
    pending = gate()
    write(L.pending_partitions(keyed, spark, out, "triples").drop("partition_key"),
          pk >= first, "resume")
    left = gate()
    files = sum(1 for _, _, fs in os.walk(out) for f in fs if f.endswith(".parquet"))
    rows = L.read_lineage(spark, out).agg(F.sum("rows_out")).first()[0] or 0
    spans = [s for s in tracer.spans if s["name"] == "lineage"]
    return {
        "lineage.pending_s": sum(s["end_s"] - s["start_s"] for s in spans
                                 if s["parent"] == "lineage.pending"),
        "lineage.write_s": sum(s["end_s"] - s["start_s"] for s in spans
                               if s["parent"] == "lineage.write"),
        "lineage.rows_written": rows,
        "lineage.files_written": files,
        "lineage.pending_ratio": pending / total if total else 0.0,
        "problems": [] if left == 0 else [f"lineage: {left} pages pending after "
                                          "every bucket was written"],
    }


def traced(run, seconds: float) -> dict:
    """One cold set-up, untraced passes for the reference pass_s, then
    the layered run. `seconds` bounds the untraced passes."""
    from spanmarkerner_spark.datagen import gazetteer
    from spanmarkerner_spark.pipeline import default_config

    get_spark_s, warm_s = run.set_up()
    run.prepare_inputs()
    m = run.measure(seconds)
    pass_s = statistics.median(m["pass_times"])
    phases = {k: statistics.median(v) for k, v in m["phase_times"].items()}

    tracer = Tracer(run.spark)
    d = run.dirs["layers"]
    rp = read_path_layers(run, tracer, d)
    cfg = default_config()
    arrow_batch = int(run.spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    body = replay_ner_body(rp["sentences"], cfg, gazetteer(cfg), arrow_batch)
    lin = {}
    if run.wl.name == "resume_write":
        lin = lineage_layer(run, tracer, d, rp["linked_dir"], rp["triples_dir"])
    problems = rp["problems"] + lin.pop("problems", [])
    run.record(not problems, problems)
    run.rss.sample()

    secs = {k: tracer.seconds.get(k, 0.0) for k in LAYERS}
    layer_sum = sum(secs.values())
    cores = run.facts["nproc"]
    ner_s = secs["ner"]
    metrics = {
        "session.get_spark_s": (get_spark_s, "s"),
        "session.warm_s": (warm_s, "s"),
        "text.s": (secs["text"], "s"),
        "ner.s": (ner_s, "s"),
        "ner.body_share": (body["body_s"] / (ner_s * cores) if ner_s else 0.0, "ratio"),
        "subword.encode_s": (body["encode_s"], "s"),
        "subword.tokens": (body["tokens"], "count"),
        "subword.candidate_spans": (body["candidate_spans"], "count"),
        "model.score_s": (body["score_s"], "s"),
        "model.chunk_rows": (body["chunk_rows"], "count"),
        "model.pairs_scored": (body["pairs"], "count"),
        "model.pad_ratio": (body["padded"] / body["real"] if body["real"] else 0.0,
                            "ratio"),
        "model.decode_s": (body["decode_s"], "s"),
        "linking.s": (secs["linking"], "s"),
        "components.s": (secs["components"], "s"),
        "relations.s": (secs["relations"], "s"),
        "lineage.pending_s": (lin.get("lineage.pending_s", 0.0), "s"),
        "lineage.write_s": (lin.get("lineage.write_s", 0.0), "s"),
        "lineage.rows_written": (lin.get("lineage.rows_written", 0), "count"),
        "lineage.files_written": (lin.get("lineage.files_written", 0), "count"),
        "lineage.pending_ratio": (lin.get("lineage.pending_ratio", 0.0), "ratio"),
        "resume_s": (phases.get("resume", 0.0), "s"),
        "noop_resume_s": (phases.get("noop", 0.0), "s"),
        "trace.pass_s": (pass_s, "s"),
        "trace.layer_sum_s": (layer_sum, "s"),
        "trace.layer_sum_gap": ((layer_sum - pass_s) / pass_s, "ratio"),
    }
    for k, v in rp["counts"].items():
        metrics[k] = (v, "ratio" if k.endswith("_ratio") else "count")
    for layer in LAYERS:
        for k, v in host.job_counts(run.spark, layer).items():
            metrics[f"{layer}.{k}"] = (v, "count")
    if body["mentions"] != metrics["ner.mentions_out"][0]:
        print(f"note: driver replay decoded {body['mentions']} mentions, "
              f"ner_mentions wrote {metrics['ner.mentions_out'][0]}", file=sys.stderr)

    top = sorted(secs.items(), key=lambda kv: -kv[1])[:2]
    print("top layers " + ", ".join(f"{k} {v:.3f}s" for k, v in top))
    trace_dir = os.path.join(os.path.dirname(run.dirs["layers"]), "traces")
    os.makedirs(trace_dir, exist_ok=True)
    with open(os.path.join(trace_dir,
                           f"{run.wl.name}-seed{run.wl.seed}.json"), "w") as f:
        json.dump({
            "workload": run.wl.name, "seed": run.wl.seed,
            "top_layers": [k for k, _ in top],
            "spans": tracer.spans,
            "metrics": {k: v for k, (v, _) in metrics.items()},
        }, f, indent=1)
    return run.result(metrics)
