"""Tests of the benchmark's own machinery: the event-log fold and the
output checks. Run from the repository root:

    python -m pytest perfbench -q
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from perfbench import run, trace
from perfbench.workloads import TranscriptFeatures


@pytest.fixture
def work(tmp_path, monkeypatch):
    # start_spark points these at the work dir; restore them afterwards
    for var in ("TMPDIR", "SPARK_LOCAL_DIRS", "SPARK_LAUNCHER_OPTS"):
        monkeypatch.setenv(var, os.environ.get(var, ""))
    return str(tmp_path)


def test_two_span_fold_accounts_for_each_span(work):
    log = os.path.join(work, "eventlog")
    spark = run.start_spark(work, 2, log)
    try:
        tracer = trace.Tracer(spark.sparkContext, enabled=True)
        df = spark.range(20_000).withColumn("k", F.col("id") % 97)
        grouped = df.groupBy("k").count()
        with tracer.span("demo.shuffle") as s:
            s["rows_out"] = len(grouped.collect())

        def double(batches):
            for b in batches:
                yield b.assign(id=b["id"] * 2)

        with tracer.span("demo.python") as s:
            # the same plan again: its shuffle is reused, not rewritten
            grouped.collect()
            out = df.mapInPandas(double, schema=df.schema)
            out.write.mode("overwrite").parquet(os.path.join(work, "out"))
    finally:
        run.stop_spark(spark)

    folded = trace.fold_spans(tracer.spans, trace.read_event_log(log))
    assert [f["name"] for f in folded] == ["demo.shuffle", "demo.python"]
    for f in folded:
        for key in ("shuffle_write_mb", "spill_mb", "python_mb", "input_rows", "output_rows"):
            assert f[key] >= 0, (f["name"], key)
        assert f["stage_s"] + f["driver_s"] == pytest.approx(f["self_s"], abs=1e-9)
        assert 0 < f["stage_s"] <= f["self_s"]
        assert f["driver_s"] >= 0
        assert f["task_skew"] >= 1.0
        assert f["n_stages"] >= 1
    shuffle, python = folded
    assert shuffle["rows_out"] == 97 and shuffle["shuffle_write_mb"] > 0
    assert python["python_mb"] > 0 and python["shuffle_write_mb"] == 0
    assert python["output_rows"] == 20_000


def test_corrupted_output_row_counts_as_failed_operation(work, monkeypatch):
    monkeypatch.setattr(TranscriptFeatures, "N_CONVS", 60)
    spark = run.start_spark(work, 2, None)
    try:
        wl = TranscriptFeatures(spark, seed=5)
        wl.setup(os.path.join(work, "setup"))
        good = os.path.join(work, "pass_0")
        wl.run_pass(good, trace.Tracer(spark.sparkContext, enabled=False))

        clean = run.Run()
        clean.record_checks(wl.checks(good))
        assert (clean.attempted, clean.failed) == (2, 0)

        # one conversation of the check slice gets a wrong turn count
        victim = wl.check_slice()[0]
        rows = spark.read.parquet(f"{good}/conv_features").toPandas()
        rows.loc[rows["conv_id"] == victim, "n_turns"] += 1
        bad = os.path.join(work, "pass_1")
        spark.createDataFrame(rows).write.parquet(f"{bad}/conv_features")

        corrupted = run.Run()
        results = wl.checks(bad)
        corrupted.record_checks(results)
        corrupted.record_digests({good: wl.digest(good), bad: wl.digest(bad)})
    finally:
        run.stop_spark(spark)
    failed = {name for name, passed, _ in corrupted.checks if not passed}
    assert failed == {"conv_features_vs_oracle", "digest_identical_across_passes"}
    assert (corrupted.attempted, corrupted.failed) == (3, 2)
    assert corrupted.failed / corrupted.attempted == pytest.approx(2 / 3)
    assert victim in results[0][2]  # the detail names the bad conversation
