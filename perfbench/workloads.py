"""Workload inputs and their pass functions.

Each workload makes its pages from the seed alone; the engine only
ever receives those pages. Sizes are set per scale: `full` is what the
benchmark measures, `smoke` is the tiny input of the smoke test.

crawl_mix     entity-free filler documents (one long sentence each, the
              shape of the sf0.1 `documents` table) unioned with
              `gen_pages` pages, text path (`use_extracted=False`).
              NER scoring of the long filler dominates; linking and
              relations see few mentions; extraction and
              canonicalization are bypassed.
resume_write  the `scripts/submit_kg.py` flow on a fresh output dir
              over entity-dense `gen_pages` pages with html extraction
              and canonicalization on: (1) a run over url-buckets
              0-31, (2) a resumed run over all pages, which processes
              only the pending buckets, (3) a no-op re-run.
"""

from __future__ import annotations

import contextlib
import importlib.util
import os
import random
import shutil
import sys
import time
from dataclasses import dataclass, field

# the 30-word vocabulary and length range (10-100 words, one sentence
# per document) of the sf0.1 documents table
FILLER_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row "
    "the agg key query a scan batch"
).split()
FILLER_LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
# the documents table is one fixed corpus, not a per-seed input: only
# the synthetic pages follow --seed (as in bench.py's kg input)
FILLER_SEED = 42

# crawl_mix: (filler documents, synthetic sentences); resume_write:
# synthetic sentences. The synthetic part is a sentence budget, not a
# page count: gen_pages' sentences per page are heavy-tailed, so a fixed
# page count would make the input size, and every timing with it, vary
# from seed to seed
SIZES = {
    "crawl_mix": {"full": (2500, 2700), "smoke": (40, 50)},
    "resume_write": {"full": 5200, "smoke": 130},
}

N_BUCKETS = 64
FIRST_RUN_BUCKETS = 32


def filler_docs(n: int, seed: int = FILLER_SEED) -> list[tuple]:
    rng = random.Random(seed)
    return [
        (
            f"doc://{i}",
            None,
            None,
            " ".join(rng.choices(FILLER_VOCAB, k=rng.randint(10, 100))),
            rng.choice(FILLER_LANGS),
        )
        for i in range(n)
    ]


@dataclass
class Workload:
    name: str
    seed: int
    scale: str
    use_extracted: bool
    canonicalize: bool
    # pages whose oracle depends on the seed, and the fixed part whose
    # oracle may be cached per engine version
    pages: list[tuple]
    fixed_pages: list[tuple] = field(default_factory=list)

    @property
    def all_pages(self) -> list[tuple]:
        return self.fixed_pages + self.pages

    @property
    def pipeline_kwargs(self) -> dict:
        return {
            "use_extracted": self.use_extracted,
            "canonicalize": self.canonicalize,
        }


def synthetic_pages(sentences: int, seed: int) -> list[tuple]:
    """The first gen_pages(seed) pages holding `sentences` sentences,
    plus its context-probe page. Pages are drawn from one seeded stream,
    so a longer run of the generator only appends pages."""
    from spanmarkerner_spark.datagen import gen_pages

    *body, probe = gen_pages(sentences, seed=seed)
    out, n = [], 0
    for row in body:
        if n >= sentences:
            break
        out.append(row)
        n += sum(1 for s in row[3].split(" . ") if s.strip(" "))
    return out + [probe]


def make(name: str, seed: int, scale: str) -> Workload:
    if name == "crawl_mix":
        n_docs, n_sentences = SIZES[name][scale]
        return Workload(
            name, seed, scale, use_extracted=False, canonicalize=False,
            pages=synthetic_pages(n_sentences, seed),
            fixed_pages=filler_docs(n_docs),
        )
    if name == "resume_write":
        return Workload(
            name, seed, scale, use_extracted=True, canonicalize=True,
            pages=synthetic_pages(SIZES[name][scale], seed),
        )
    raise ValueError(f"unknown workload {name!r}")


def write_pages(spark, rows: list[tuple], path: str) -> None:
    from spanmarkerner_spark import schemas

    spark.createDataFrame(rows, schema=schemas.PAGES).write.mode(
        "overwrite"
    ).parquet(path)


# ---------------------------------------------------------------------
# read path: one pass = run_pipeline -> collected triples
# ---------------------------------------------------------------------

def read_pass(spark, wl: Workload, pages_dir: str):
    from spanmarkerner_spark.pipeline import run_pipeline

    res = run_pipeline(spark.read.parquet(pages_dir), **wl.pipeline_kwargs)
    return res, res["triples"].collect()


# ---------------------------------------------------------------------
# write path: the submit_kg.py job, driven in-process
# ---------------------------------------------------------------------

def load_submit_kg(root: str):
    path = os.path.join(root, "scripts", "submit_kg.py")
    spec = importlib.util.spec_from_file_location("perfbench_submit_kg", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def split_first_run(spark, pages_dir: str, out_dir: str) -> None:
    """Pages in url-buckets [0, FIRST_RUN_BUCKETS) — the input of the
    interrupted first run."""
    from pyspark.sql import functions as F

    from spanmarkerner_spark.plans.lineage import with_partition_key

    keyed = with_partition_key(spark.read.parquet(pages_dir), n_buckets=N_BUCKETS)
    keyed.filter(F.col("partition_key") < FIRST_RUN_BUCKETS).drop(
        "partition_key"
    ).write.mode("overwrite").parquet(out_dir)


def submit(submit_kg, pages_dir: str, out_dir: str, run_id: str) -> int:
    argv = [
        "--pages", pages_dir, "--out", out_dir, "--run-id", run_id,
        "--n-buckets", str(N_BUCKETS), "--use-extracted", "--canonicalize",
    ]
    # the job reports progress on stdout; the benchmark's stdout ends
    # with its own result line
    with contextlib.redirect_stdout(sys.stderr):
        return submit_kg.main(argv)


PHASES = ("first", "resume", "noop")


def resume_cycle(submit_kg, first_dir: str, all_dir: str, out_dir: str) -> dict:
    """The three-phase cycle on a fresh output dir; returns seconds per
    phase."""
    shutil.rmtree(out_dir, ignore_errors=True)
    secs = {}
    for phase, src in zip(PHASES, (first_dir, all_dir, all_dir)):
        t0 = time.perf_counter()
        rc = submit(submit_kg, src, out_dir, phase)
        secs[phase] = time.perf_counter() - t0
        if rc != 0:
            raise RuntimeError(f"submit_kg phase {phase} exited {rc}")
    return secs
