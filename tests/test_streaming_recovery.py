"""Checkpoint recovery: a restarted stream resumes from its offsets
and reprocesses nothing (T3/T4 — the exactly-once contract the
reference relies on its S3 checkpoint dir for).

The bounded harness deliberately wipes checkpoints between runs; this
test keeps one alive across two runs to prove the recovery semantics.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F


def _write_file(df, path, mtime):
    df.coalesce(1).write.mode("overwrite").parquet(path + "_stage")
    import glob
    import shutil

    [part] = glob.glob(os.path.join(path + "_stage", "part-*.parquet"))
    shutil.move(part, path)
    shutil.rmtree(path + "_stage")
    os.utime(path, (mtime, mtime))


def _run_available_now(spark, source_dir, schema, sink_dir, ckpt_dir):
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )
    q = (
        stream.withColumn("doubled", F.col("id") * 2)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", sink_dir)
        .option("checkpointLocation", ckpt_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_checkpoint_resume_no_reprocessing(spark, tmp_path):
    source = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(source)
    now = time.time() - 3600

    batch1 = spark.range(0, 100).select(F.col("id"))
    batch2 = spark.range(100, 250).select(F.col("id"))
    _write_file(batch1, os.path.join(source, "b0.parquet"), now)
    _write_file(batch2, os.path.join(source, "b1.parquet"), now + 1)

    _run_available_now(spark, source, batch1.schema, sink, ckpt)
    first = spark.read.parquet(sink)
    assert first.count() == 250

    # new data lands AFTER the first run; restart with the SAME
    # checkpoint must process only the new file
    batch3 = spark.range(250, 300).select(F.col("id"))
    _write_file(batch3, os.path.join(source, "b2.parquet"), now + 2)
    _run_available_now(spark, source, batch1.schema, sink, ckpt)

    out = spark.read.parquet(sink)
    assert out.count() == 300  # 250 + 50, nothing reprocessed
    # exactly-once: every id appears once, transform applied
    assert out.select("id").distinct().count() == 300
    assert out.where(F.col("doubled") != F.col("id") * 2).count() == 0


def test_txlog_stream_source_resumes_from_checkpoint(spark, tmp_path):
    """The txlog streaming source (sources/pyds_txlog.py): a second
    bounded run on the RETAINED checkpoint emits only the commits that
    landed after the first drain — version offsets resume exactly."""
    import os

    from pyspark.sql import functions as F

    from ecommerce_dataengineering_project_spark.sources import pyds_txlog
    from ecommerce_dataengineering_project_spark.sources.txlog import recreate

    root, sink, ckpt = (str(tmp_path / n) for n in ("t", "sink", "ckpt"))
    t = recreate(root)
    t.append(spark.range(0, 50).selectExpr("id AS k"))
    pyds_txlog.register(spark)

    def drain():
        q = (
            spark.readStream.format("txlog_stream").option("path", root).load()
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    assert spark.read.parquet(sink).count() == 50
    t.append(spark.range(50, 80).selectExpr("id AS k"))
    drain()  # checkpoint retained: only v2's files are new
    got = sorted(r.k for r in spark.read.parquet(sink).collect())
    assert got == list(range(80))  # no duplicates, nothing missed


def test_txlog_stream_source_rejects_non_append_commits(spark, tmp_path):
    """Delta's append-only stream contract: a commit that removes files
    (merge) fails the stream unless ignoreChanges=true, which emits
    only the NEW files (rewritten rows re-emit)."""
    from ecommerce_dataengineering_project_spark.sources import pyds_txlog
    from ecommerce_dataengineering_project_spark.sources.pyds_txlog import (
        TxLogStreamReader,
    )
    from ecommerce_dataengineering_project_spark.sources.txlog import recreate

    root = str(tmp_path / "t2")
    t = recreate(root)
    t.append(spark.range(0, 20).selectExpr("id AS k", "id AS v"))
    feed = spark.createDataFrame(
        [(3, 0, 1, "D")], "k long, v long, seq long, op string"
    )
    t.merge(spark, feed, ["k"])
    r = TxLogStreamReader({"path": root})
    import pytest as _pytest

    with _pytest.raises(ValueError, match="append-only"):
        r.partitions({"version": 0}, {"version": 2})
    r2 = TxLogStreamReader({"path": root, "ignoreChanges": "true"})
    parts = r2.partitions({"version": 1}, {"version": 2})
    assert parts  # the rewritten files emit as new


def test_txlog_stream_source_pads_pre_evolution_files(spark, tmp_path):
    """The table stream declares the LATEST schema; files written
    before an additive evolution lack the new column — the reader
    null-pads and reorders each Arrow batch (mergeSchema semantics)."""
    from pyspark.sql import functions as F

    from ecommerce_dataengineering_project_spark.sources import pyds_txlog
    from ecommerce_dataengineering_project_spark.sources.txlog import recreate

    root, sink, ckpt = (str(tmp_path / n) for n in ("t", "sink", "ckpt"))
    t = recreate(root)
    t.append(spark.range(0, 5).selectExpr("id AS k"))
    t.append(spark.range(5, 8).selectExpr("id AS k", "id * 2 AS extra"))
    pyds_txlog.register(spark)
    stream = spark.readStream.format("txlog_stream").option("path", root).load()
    assert stream.schema.simpleString() == "struct<k:bigint,extra:bigint>"
    q = (
        stream.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {r.k: r.extra for r in spark.read.schema(stream.schema).parquet(sink).collect()}
    assert got == {0: None, 1: None, 2: None, 3: None, 4: None, 5: 10, 6: 12, 7: 14}


def test_adaptive_state_partitions_tracks_parallelism(spark):
    """r15: the per-key stateful arms derive their state-store count
    from session parallelism (measured optima: 16 on local[32], 8 on
    local[8]) instead of a constant tuned for one machine shape."""
    from ecommerce_dataengineering_project_spark.streaming.harness import (
        adaptive_state_partitions,
    )

    par = spark.sparkContext.defaultParallelism
    got = adaptive_state_partitions(spark)
    assert got == min(16, max(4, par))
    assert adaptive_state_partitions(spark, cap=8) == min(8, max(4, par))


def test_generator_ingest_fails_loudly_when_drains_run_out(spark, sf_dir, monkeypatch):
    """The restart-resume drain of stream_generator_ingest needs two
    productive drains (3000 rows at 1500 per prefetch). With the drain
    bound cut to one, the loop runs out before the sink holds every row
    and must raise, naming the run and rows committed vs expected,
    instead of returning a partial sink."""
    import pytest

    from ecommerce_dataengineering_project_spark.queries import streaming_queries as sq

    monkeypatch.setattr(sq, "GEN_STREAM_DRAINS", 1)
    with pytest.raises(RuntimeError, match=r"stream_generator_ingest: 1 drains committed \d+ of 3000 rows"):
        sq.q_stream_generator_ingest(spark, sf_dir)
