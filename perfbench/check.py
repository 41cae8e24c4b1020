"""Output checks against the single-process oracle.

The oracle (`spanmarkerner_spark.oracle.run_oracle`) replays every page
independently, so it is computed per page chunk in a small pool of
spawned processes and merged. It always runs outside the timed
windows: before the session starts. Results for inputs that do not
depend on the seed are cached under the benchmark's work directory,
keyed by the engine's source hash so a code change never reuses a
stale oracle.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os

# identity of a mention: where it is and what it is (scores are floats
# and checked through the triples they produce)
MENTION_KEY = ("url", "sentence_id", "word_start_index", "word_end_index", "label")
TRIPLE_COLS = ("subj", "pred", "obj", "url", "sentence_id")


def _oracle_chunk(args: tuple) -> dict:
    pages, use_extracted, canonicalize = args
    from spanmarkerner_spark.oracle import run_oracle
    from spanmarkerner_spark.pipeline import default_config

    res = run_oracle(
        pages, default_config(), use_extracted=use_extracted,
        canonicalize=canonicalize,
    )
    return summarize(res)


def summarize(res: dict) -> dict:
    """Reduce an oracle result to the sets the checks compare."""
    return {
        "mentions": sorted(
            tuple(m[k] for k in MENTION_KEY) for m in res["mentions"]
        ),
        "triples": sorted(res["triples"]),
    }


def merge(parts: list[dict]) -> dict:
    return {
        "mentions": sorted(m for p in parts for m in p["mentions"]),
        "triples": sorted(t for p in parts for t in p["triples"]),
    }


def run_oracle_parallel(
    pages: list[tuple], use_extracted: bool, canonicalize: bool, procs: int
) -> dict:
    if not pages:
        return {"mentions": [], "triples": []}
    procs = max(1, min(procs, len(pages)))
    chunks = [pages[i::procs] for i in range(procs)]
    if procs == 1:
        return merge([_oracle_chunk((chunks[0], use_extracted, canonicalize))])
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(procs) as pool:
        parts = pool.map(
            _oracle_chunk, [(c, use_extracted, canonicalize) for c in chunks]
        )
    return merge(parts)


def engine_hash(root: str) -> str:
    h = hashlib.sha256()
    pkg = os.path.join(root, "spanmarkerner_spark")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames.sort()
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, pkg).encode())
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def cached_oracle(
    cache_dir: str, key: str, pages: list[tuple], use_extracted: bool,
    canonicalize: bool, procs: int,
) -> dict:
    path = os.path.join(cache_dir, f"oracle-{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            data = json.load(f)
        return {k: [tuple(x) for x in v] for k, v in data.items()}
    res = run_oracle_parallel(pages, use_extracted, canonicalize, procs)
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.part"
    with open(tmp, "w") as f:
        json.dump(res, f)
    os.replace(tmp, path)
    return res


def triple_rows(rows) -> list[tuple]:
    return sorted(tuple(r[c] for c in TRIPLE_COLS) for r in rows)


def mention_rows(rows) -> list[tuple]:
    return sorted(tuple(r[c] for c in MENTION_KEY) for r in rows)


def diff(name: str, got: list[tuple], want: list[tuple]) -> str | None:
    """None when equal as sets (and free of duplicates), else a short
    description of the difference."""
    g, w = set(got), set(want)
    if g == w and len(got) == len(g):
        return None
    extra, missing = sorted(g - w)[:3], sorted(w - g)[:3]
    return (
        f"{name}: got {len(got)} rows ({len(g)} distinct), want {len(w)}; "
        f"extra {extra} missing {missing}"
    )


# ---------------------------------------------------------------------
# resume_write: stage tables, lineage and per-run metrics rows
# ---------------------------------------------------------------------

def expected_sentences(pages: list[tuple], use_extracted: bool) -> int:
    """Non-blank ' . '-separated segments, as segment_sentences keeps
    them (Spark's trim strips spaces only)."""
    from spanmarkerner_spark.datagen import extract_text_py

    n = 0
    for _url, _ts, html, text, _lang in pages:
        body = extract_text_py(html) if use_extracted else text
        n += sum(1 for s in (body or "").split(" . ") if s.strip(" "))
    return n


def check_cycle(spark, wl, oracle: dict, pages_dir: str, first_dir: str,
                out_dir: str, n_buckets: int):
    """Checks one resume cycle's output dir. Returns (product, metrics):
    failed checks of the KG tables and lineage, and failed checks of
    the per-run `_metrics` rows."""
    from pyspark.sql import functions as F

    from spanmarkerner_spark.plans import lineage as L

    product = [
        diff("triples", triple_rows(L.read_stage(spark, out_dir, "triples").collect()),
             oracle["triples"]),
        diff("mentions",
             mention_rows(L.read_stage(spark, out_dir, "mentions").collect()),
             oracle["mentions"]),
    ]
    lin = L.read_lineage(spark, out_dir).groupBy("stage", "partition_key").count()
    dup = lin.filter(F.col("count") > 1).count()
    per_stage = {r["stage"]: r["n"] for r in lin.groupBy("stage").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    want_buckets = L.with_partition_key(
        spark.read.parquet(pages_dir), n_buckets=n_buckets
    ).select("partition_key").distinct().count()
    if dup or per_stage != {"triples": want_buckets, "mentions": want_buckets}:
        product.append(f"lineage: {per_stage} rows per stage ({dup} duplicated), "
                       f"want {want_buckets} buckets per stage")
    product = [p for p in product if p]

    first_urls = {r["url"] for r in spark.read.parquet(first_dir).select("url").collect()}
    groups = {
        "first": [p for p in wl.all_pages if p[0] in first_urls],
        "resume": [p for p in wl.all_pages if p[0] not in first_urls],
    }
    got = {}
    for r in L.read_metrics(spark, out_dir).collect():
        got.setdefault(r["run_id"], {})[r["metric"]] = r["value"]
    metrics = []
    total = 0
    for run_id, pages in groups.items():
        urls = {p[0] for p in pages}
        want = {
            "pages_in": len(pages),
            "sentences": expected_sentences(pages, wl.use_extracted),
            "mentions": sum(1 for m in oracle["mentions"] if m[0] in urls),
            "triples": sum(1 for t in oracle["triples"] if t[3] in urls),
        }
        total += want["triples"]
        want["triples_total"] = total
        have = {k: int(v) for k, v in got.get(run_id, {}).items()}
        wrong = {k: (have.get(k), v) for k, v in want.items() if have.get(k) != v}
        if wrong:
            metrics.append(f"_metrics rows of the {run_id} run (got, want): {wrong}")
    if "noop" in got:
        metrics.append(f"_metrics rows written by the no-op run: {got['noop']}")
    return product, metrics
