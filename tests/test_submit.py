"""north_rule mechanism test: the job runs via `spark-submit
--py-files <pkg.zip>` (fresh JVM, package imported from the zip),
writes lineage + metrics tables, produces oracle-correct triples, and
a second submit is a full resume no-op."""

from __future__ import annotations

import contextlib
import importlib.util
import io
import os
import shutil
import subprocess
import sys
import tempfile


REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_submit():
    """spark-submit, PATH-independent (VERDICT r3 #4): PATH, then
    $SPARK_HOME/bin, then the script bundled inside the pyspark
    package — the last always exists in any env that can run these
    tests, so the north-rule mechanism is always exercised."""
    found = shutil.which("spark-submit")
    if found:
        return found
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isfile(os.path.join(home, "bin", "spark-submit")):
        return os.path.join(home, "bin", "spark-submit")
    import pyspark

    bundled = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    assert os.path.isfile(bundled), "no spark-submit anywhere (PATH/SPARK_HOME/pyspark)"
    return bundled


def test_spark_submit_pyfiles_end_to_end(spark):
    from spanmarkerner_spark import schemas
    from spanmarkerner_spark.config import KG_LABELS, SpanMarkerConfig
    from spanmarkerner_spark.datagen import gen_pages
    from spanmarkerner_spark.oracle import run_oracle

    tmp = tempfile.mkdtemp(prefix="submit_test_")
    try:
        rows = gen_pages(30, seed=13)
        spark.createDataFrame(rows, schema=schemas.PAGES).write.mode(
            "overwrite"
        ).parquet(f"{tmp}/pages")

        zip_path = subprocess.run(
            [sys.executable, os.path.join(REPO, "scripts", "make_pyfiles.py"),
             f"{tmp}/dist"],
            capture_output=True, text=True, check=True,
        ).stdout.strip()

        def submit(run_id: str) -> str:
            p = subprocess.run(
                [_spark_submit(), "--master", "local[4]",
                 "--py-files", zip_path,
                 os.path.join(REPO, "scripts", "submit_kg.py"),
                 "--pages", f"{tmp}/pages", "--out", f"{tmp}/kg",
                 "--run-id", run_id],
                capture_output=True, text=True, timeout=600,
            )
            assert p.returncode == 0, p.stderr[-2000:]
            return p.stdout

        out1 = submit("r1")
        assert "RUN r1" in out1 and "METRICS" in out1

        # triples match the single-process oracle exactly
        from spanmarkerner_spark.plans import lineage as L

        got = {
            tuple(r)
            for r in L.read_stage(spark, f"{tmp}/kg", "triples")
            .select("subj", "pred", "obj", "url", "sentence_id")
            .collect()
        }
        expected = run_oracle(rows, SpanMarkerConfig(labels=KG_LABELS))["triples"]
        assert got == expected

        # metrics table has the run's rows
        m = {
            r["metric"]: r["value"]
            for r in L.read_metrics(spark, f"{tmp}/kg")
            .filter("run_id = 'r1'")
            .collect()
        }
        assert m["pages_in"] == float(len(rows))
        assert m["triples"] == float(len(expected))

        # second submit: full resume no-op (zero-output buckets were
        # marked done via processed_input)
        out2 = submit("r2")
        assert "RESUME: all buckets already have 'triples' lineage" in out2
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_resumed_run_metrics_match_oracle(spark, tmp_path):
    """A resumed run's _metrics rows count the pages it processed:
    the pending input is fixed at start, so the counts taken after its
    own 'triples' lineage lands still see it (not an empty input)."""
    from pyspark.sql import functions as F

    from spanmarkerner_spark import schemas
    from spanmarkerner_spark.config import KG_LABELS, SpanMarkerConfig
    from spanmarkerner_spark.datagen import gen_pages
    from spanmarkerner_spark.oracle import run_oracle
    from spanmarkerner_spark.plans import lineage as L

    spec = importlib.util.spec_from_file_location(
        "submit_kg", os.path.join(REPO, "scripts", "submit_kg.py")
    )
    submit_kg = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(submit_kg)

    rows = gen_pages(12, seed=5)
    n_buckets = 4
    all_dir, first_dir, out = (str(tmp_path / d) for d in ("all", "first", "kg"))
    spark.createDataFrame(rows, schema=schemas.PAGES).write.parquet(all_dir)
    first = L.with_partition_key(spark.read.parquet(all_dir), n_buckets=n_buckets)
    first.filter(F.col("partition_key") < n_buckets // 2).drop(
        "partition_key"
    ).write.parquet(first_dir)
    first_urls = {r["url"] for r in spark.read.parquet(first_dir).collect()}

    for run_id, src in (("first", first_dir), ("resume", all_dir)):
        with contextlib.redirect_stdout(io.StringIO()):
            rc = submit_kg.main([
                "--pages", src, "--out", out, "--run-id", run_id,
                "--n-buckets", str(n_buckets),
            ])
        assert rc == 0

    resumed = [r for r in rows if r[0] not in first_urls]
    assert resumed and len(resumed) < len(rows)
    urls = {r[0] for r in resumed}
    oracle = run_oracle(rows, SpanMarkerConfig(labels=KG_LABELS), use_extracted=False)
    want = {
        "pages_in": len(resumed),
        "sentences": sum(
            1 for r in resumed for s in r[3].split(" . ") if s.strip(" ")
        ),
        "mentions": sum(1 for m in oracle["mentions"] if m["url"] in urls),
        "triples": sum(1 for t in oracle["triples"] if t[3] in urls),
    }
    assert want["mentions"] > 0 and want["triples"] > 0
    got = {
        r["metric"]: int(r["value"])
        for r in L.read_metrics(spark, out).filter("run_id = 'resume'").collect()
    }
    assert {k: got.get(k) for k in want} == want


def test_spark_submit_curate_end_to_end(spark):
    """Curation-family north_rule mechanism: spark-submit --py-files
    runs the curate job, the kept table matches a direct curate() of
    the same input, metrics land, and a second submit is a resume
    no-op."""
    from pyspark.sql import functions as F

    from spanmarkerner_spark.functions.hashing import portable_hash64
    from spanmarkerner_spark.operators.curation import curate
    from spanmarkerner_spark.operators.dedup import _norm_text

    tmp = tempfile.mkdtemp(prefix="submit_curate_")
    try:
        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
            .select("doc_id", "text")
        bench = docs.filter("doc_id % 13 = 0")
        corpus = docs.filter("doc_id % 13 <> 0")
        corpus.write.mode("overwrite").parquet(f"{tmp}/docs")
        bench.write.mode("overwrite").parquet(f"{tmp}/bench")

        zip_path = subprocess.run(
            [sys.executable, os.path.join(REPO, "scripts", "make_pyfiles.py"),
             f"{tmp}/dist"],
            capture_output=True, text=True, check=True,
        ).stdout.strip()

        def submit(run_id: str) -> str:
            p = subprocess.run(
                [_spark_submit(), "--master", "local[4]",
                 "--py-files", zip_path,
                 os.path.join(REPO, "scripts", "submit_curate.py"),
                 "--docs", f"{tmp}/docs", "--benchmark", f"{tmp}/bench",
                 "--out", f"{tmp}/curated", "--quality-min", "0.5",
                 "--run-id", run_id],
                capture_output=True, text=True, timeout=600,
            )
            assert p.returncode == 0, p.stderr[-2000:]
            return p.stdout

        out1 = submit("c1")
        assert "RUN c1" in out1 and "METRICS" in out1

        from spanmarkerner_spark.plans import lineage as L

        got = {
            (r["doc_id"], r["content_hash"])
            for r in L.read_stage(spark, f"{tmp}/curated", "kept")
            .select("doc_id", "content_hash")
            .collect()
        }
        direct = (
            curate(corpus, bench, quality_min=0.5)
            .filter(F.col("disposition") == "kept")
            .join(corpus, "doc_id")
            .select(
                "doc_id",
                portable_hash64(_norm_text(F.col("text"))).alias("content_hash"),
            )
        )
        expected = {(r["doc_id"], r["content_hash"]) for r in direct.collect()}
        assert got == expected and len(got) > 0

        m = {
            r["metric"]: r["value"]
            for r in L.read_metrics(spark, f"{tmp}/curated")
            .filter("run_id = 'c1'").collect()
        }
        assert m["docs_in"] == float(corpus.count())
        assert m["kept"] == float(len(expected)) == m["kept_total"]

        out2 = submit("c2")
        assert "RESUME: all buckets already have 'kept' lineage" in out2
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
