#!/usr/bin/env python3
"""KG-construction benchmark.

    python3 perfbench/run.py --workload crawl_mix --seed 1 --seconds 12 --trace 0

Run from the repository root. One single-threaded driver process runs
the public pipeline entry points on local[nproc], closed loop: one pass
at a time, the next starting when the last one has finished. Every
pass is checked against the single-process oracle. The last line of
stdout is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 runs the traced
per-layer breakdown (perfbench/layers.py) and reports per-layer
metrics. Workloads and metrics are described in BENCHMARK.json and
perfbench/workloads.py.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

# sibling modules; they import the engine only inside their functions
import check
import host
import layers
import workloads

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")


def stamp(what: str) -> None:
    """Timeline of the run on stderr: where its wall time goes."""
    print(f"t+{time.perf_counter() - T0:.1f}s {what}", file=sys.stderr)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["crawl_mix", "resume_write"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "smoke"], default="full",
                    help="input size: full (measured) or smoke (tiny, for tests)")
    return ap.parse_args(argv)


class Run:
    """State of one benchmark run: the workload, its oracle, the
    session and the counters that end up in the result line."""

    def __init__(self, args):
        self.facts = host.pin_environment(WORK)
        self.dirs = {
            k: os.path.join(WORK, f"{k}-{os.getpid()}")
            for k in ("pages", "first", "out", "warm", "layers")
        }
        self.wl = workloads.make(args.workload, args.seed, args.scale)
        procs = self.facts["nproc"]
        kw = (self.wl.use_extracted, self.wl.canonicalize)
        fixed = check.cached_oracle(
            os.path.join(WORK, "cache"),
            f"{args.workload}-{args.scale}-{check.engine_hash(ROOT)}",
            self.wl.fixed_pages, *kw, procs,
        )
        seeded = check.run_oracle_parallel(self.wl.pages, *kw, procs)
        self.oracle = check.merge([fixed, seeded])
        stamp("oracle done")
        self.rss = host.PeakRss()
        self.spark = None
        self.attempted = self.failed = 0
        self.correct = True
        self.problems: list[str] = []

    # -- set-up ---------------------------------------------------------

    def warm(self) -> None:
        """Python-worker warm-up: a tiny input through the workload's
        pipeline settings, so the first timed pass pays no worker spawn."""
        from spanmarkerner_spark.datagen import gen_pages

        pages = os.path.join(self.dirs["warm"], "pages")
        workloads.write_pages(self.spark, gen_pages(8, seed=1), pages)
        workloads.read_pass(self.spark, self.wl, pages)

    def set_up(self) -> tuple[float, float]:
        """Session start + package ship, then worker warm-up."""

        t0 = time.perf_counter()
        self.spark = host.start_session(WORK)
        t1 = time.perf_counter()
        self.warm()
        t2 = time.perf_counter()
        self.rss.sample()
        stamp("set-up done")
        return t1 - t0, t2 - t1

    def prepare_inputs(self) -> None:
        workloads.write_pages(self.spark, self.wl.all_pages, self.dirs["pages"])
        if self.wl.name == "resume_write":
            workloads.split_first_run(self.spark, self.dirs["pages"],
                                      self.dirs["first"])
        stamp("inputs written")

    def sentences_in(self) -> int:
        return check.expected_sentences(self.wl.all_pages, self.wl.use_extracted)

    # -- passes ---------------------------------------------------------

    def record(self, ok_product: bool, problems: list[str]) -> None:
        """ok_product: the KG tables equal the oracle. problems: every
        failed check of the pass, the product's included."""
        self.attempted += 1
        if problems:
            self.failed += 1
            for p in problems:
                if p not in self.problems:
                    self.problems.append(p)
                    print(f"CHECK FAILED: {p}", file=sys.stderr)
        self.correct = self.correct and ok_product

    def read_pass(self, check_mentions: bool) -> float:
        t0 = time.perf_counter()
        res, rows = workloads.read_pass(self.spark, self.wl, self.dirs["pages"])
        dt = time.perf_counter() - t0
        problems = [check.diff("triples", check.triple_rows(rows),
                               self.oracle["triples"])]
        if check_mentions:
            got = res["mentions"].select(*check.MENTION_KEY).collect()
            problems.append(check.diff("mentions", check.mention_rows(got),
                                       self.oracle["mentions"]))
        problems = [p for p in problems if p]
        self.record(not problems, problems)
        return dt

    def resume_pass(self, sk) -> dict:
        t0 = time.perf_counter()
        phases = workloads.resume_cycle(sk, self.dirs["first"], self.dirs["pages"],
                                        self.dirs["out"])
        phases["cycle"] = time.perf_counter() - t0
        product, metrics = check.check_cycle(
            self.spark, self.wl, self.oracle, self.dirs["pages"],
            self.dirs["first"], self.dirs["out"], workloads.N_BUCKETS,
        )
        self.record(not product, product + metrics)
        return phases

    def guarded(self, fn, *args):
        """A pass that raises is a failed op; the run goes on."""
        t0 = time.perf_counter()
        try:
            return fn(*args)
        except Exception:
            traceback.print_exc()
            self.attempted += 1
            self.failed += 1
            self.correct = False
            return time.perf_counter() - t0

    def measure(self, seconds: float) -> dict:
        times: list[float] = []
        phase_times: dict[str, list[float]] = {}
        sk = workloads.load_submit_kg(ROOT) if self.wl.name == "resume_write" else None
        if sk is None:
            # the first two passes over the real input pay one-time JIT
            # and plan costs (about 20% slower than the rest). The first
            # one runs untimed and also checks the mentions; its extra
            # NER run covers most of the second one's warm-up
            self.guarded(self.read_pass, True)
        # closed loop until the timed passes add up to `seconds`; the
        # untimed output checks between them do not use up the budget
        while sum(times) < seconds:
            if sk is None:
                dt = self.guarded(self.read_pass, False)
            else:
                ph = self.guarded(self.resume_pass, sk)
                if isinstance(ph, dict):
                    for k, v in ph.items():
                        phase_times.setdefault(k, []).append(v)
                    dt = ph["cycle"]
                else:
                    dt = ph
            times.append(dt)
            self.rss.sample()
            stamp(f"pass {len(times)} checked")
        return {"pass_times": times, "phase_times": phase_times}

    def close(self) -> None:
        try:
            if self.spark is not None:
                self.spark.stop()  # its Python workers exit with it
        finally:
            # also when stop() fails, as it does on a py4j connection
            # that a signal cut mid-call
            self.spark = None
            host.shutdown_jvm()
            # per-run scratch; the oracle cache and the traces stay
            for d in [*self.dirs.values(), *host.scratch_dirs(WORK)]:
                shutil.rmtree(d, ignore_errors=True)

    def result(self, metrics: dict) -> dict:
        return {
            "correct": bool(self.correct and self.attempted > 0),
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {
                k: {"value": v, "unit": u} for k, (v, u) in metrics.items()
            },
        }


def end_to_end(run: Run, seconds: float) -> dict:
    start_s, warm_s = run.set_up()
    run.prepare_inputs()
    n_sent = run.sentences_in()
    m = run.measure(seconds)
    pass_s = statistics.median(m["pass_times"])
    for k, v in sorted(m["phase_times"].items()):
        print(f"phase {k}_s median {statistics.median(v):.4f} over {len(v)}",
              file=sys.stderr)
    print(f"setup {start_s:.3f}+{warm_s:.3f}s passes "
          f"{[round(s, 3) for s in m['pass_times']]} sentences {n_sent}",
          file=sys.stderr)
    return run.result({
        "setup_s": (start_s + warm_s, "s"),
        "pass_s": (pass_s, "s"),
        "sentences_per_s": (n_sent / pass_s, "1/s"),
        "peak_rss_mb": (run.rss.mb, "MB"),
    })


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "spanmarkerner_spark")):
        print(f"error: no spanmarkerner_spark package next to {HERE}; "
              "run from a full checkout of the repository", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("error: --seconds must be positive", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import pyspark

    host.adopt_orphans()
    host.exit_on_sigterm()
    run = None
    try:
        run = Run(args)
        if args.trace:
            out = layers.traced(run, args.seconds)
        else:
            out = end_to_end(run, args.seconds)
    finally:
        try:
            if run is not None:
                run.close()
        finally:
            host.stop_children()
            stamp("every process stopped")
    run.facts["loadavg_end"] = os.getloadavg()[0]
    run.facts["pyspark"] = pyspark.__version__
    print("host " + json.dumps(run.facts, sort_keys=True))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
