"""Bounded Structured-Streaming harness (SURVEY §2i T1-T5).

The reference runs one unbounded Kafka->Delta streaming job with a 60 s
micro-batch trigger and a 120 s hard stop (streaming_consumer.py:55-98).
For deterministic execution the engine runs the *same* dataflow bounded,
through two functions:

- ``staged_stream`` — source: a file stream (parquet) staged once per
  process from a batch DataFrame, the testable stand-in for a Kafka
  topic. ``maxFilesPerTrigger=1`` makes each staged file one
  micro-batch, so multi-batch behavior (watermark advancement, state
  carry-over) is exercised, not skipped.
- ``run_bounded`` — trigger ``availableNow`` (processes everything, then
  stops: T5's ``awaitTermination(120)`` without the wall-clock
  dependence) into either a checkpointed parquet append sink (K3's
  shape) or a ``foreachBatch`` sink (the MERGE/upsert/fan-out shape).

Watermark flushing: in append mode a windowed aggregation only emits a
window after the watermark passes its end, and the watermark advances
*between* micro-batches. With no-data micro-batches off (the
``run_bounded`` default) an advance takes effect one DATA batch later,
so a bounded run stages TWO trailing ``flush`` files of far-future
rows: the first pushes the watermark past every real window, the second
is the batch in which the advanced watermark finalizes them. The flush
rows' own windows are dropped by the caller (they are deterministic and
known). File order is pinned via mtime — the file stream source
processes oldest-first.

At 100 TB none of this harness changes the query: swap the staged file
source for ``readStream.format("kafka")`` and ``availableNow`` for a
processing-time trigger and the same plan runs unbounded.
"""

from __future__ import annotations

import glob
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession

TMP_ROOT = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), ".tmp")

# Last executed micro-batch plan per bounded run, keyed by harness run
# name. Streaming transforms can't be plan-audited without executing
# (building the DataFrame runs the bounded job), so the harness records
# the plan it actually executed and tests/test_plan_hygiene.py sweeps
# these for CartesianProduct / row-at-a-time-Python regressions exactly
# like the batch registry.
LAST_PLAN: dict[str, str] = {}


def _capture_plan(name: str, q) -> None:
    try:
        plan = q._jsq.explainInternal(False)
    except Exception:  # no batch executed (empty source) — nothing to audit
        return
    if "No physical plan" not in plan:
        LAST_PLAN[name] = plan


def _stream_dirs(name: str) -> tuple[str, str]:
    """(sink, checkpoint) directories of the bounded run ``name``."""
    base = os.path.join(TMP_ROOT, "streams", name)
    return os.path.join(base, "sink"), os.path.join(base, "checkpoint")


# Row schema per staged source key: the per-process staging memo.
_STAGED: dict[str, object] = {}


def staged_stream(spark: SparkSession, key: str, build) -> DataFrame:
    """The staged source ``key`` as a streaming DataFrame, one
    micro-batch per staged file.

    ``build()`` returns ``(tagged, n_batches, schema, flush_rows)``:
    ``tagged`` carries an integer ``__batch`` column (0..n_batches-1)
    and one partitioned write splits it into ordered one-file batches
    with pinned mtimes; ``schema`` is the row schema the stream reads
    with; ``flush_rows`` (a pyarrow Table, or None) is appended as one
    trailing single-row batch per row, written driver-side — a Spark job
    per 1-row flush file would cost more than the whole stream.

    Staging runs once per process per key: several bounded queries over
    the same input stream (e.g. the three window shapes over events)
    share one staging job, and ``build`` is only called on a miss, so a
    memo hit does no Spark planning.

    Flush contract (ADVICE r15): with the harness default
    ``noDataMicroBatches.enabled=false``, a watermark advance takes
    effect one micro-batch later, so a watermark-dependent stream must
    stage AT LEAST TWO flush batches — the first carries the far-future
    timestamps, the second is the batch in which the advanced watermark
    finalizes the last real windows/timers/outer-nulls. A single flush
    row would silently drop those final emissions; the check below
    makes that a loud staging-time error instead.
    """
    source_dir = os.path.join(TMP_ROOT, "streams", "sources", key)
    if key not in _STAGED:
        import pyarrow.parquet as pq

        tagged, n_batches, schema, flush_rows = build()
        if flush_rows is not None and flush_rows.num_rows < 2:
            raise ValueError(
                "flush_rows must stage >= 2 rows (one batch each): with "
                "no-data micro-batches disabled, a watermark advance lands "
                "one batch later, so a single flush batch never finalizes "
                "the last real emissions"
            )
        shutil.rmtree(source_dir, ignore_errors=True)
        os.makedirs(source_dir, exist_ok=True)
        staging = os.path.join(source_dir, "_stage")
        tagged.coalesce(1).write.partitionBy("__batch").mode("overwrite").parquet(staging)
        now = time.time() - 3600.0
        for i in range(n_batches):
            [part] = glob.glob(os.path.join(staging, f"__batch={i}", "part-*.parquet"))
            dest = os.path.join(source_dir, f"batch-{i:05d}.parquet")
            shutil.move(part, dest)
            os.utime(dest, (now + i, now + i))
        shutil.rmtree(staging)
        if flush_rows is not None:
            for j in range(flush_rows.num_rows):
                dest = os.path.join(source_dir, f"batch-{n_batches + j:05d}.parquet")
                pq.write_table(flush_rows.slice(j, 1), dest)
                os.utime(dest, (now + n_batches + j, now + n_batches + j))
        _STAGED[key] = schema
    return (
        spark.readStream.schema(_STAGED[key])
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
    )


def run_bounded(
    spark: SparkSession,
    name: str,
    stream: DataFrame,
    sink=None,
    state_partitions: int = 4,
    confs: dict[str, str] | None = None,
) -> DataFrame | None:
    """Run the streaming DataFrame ``stream`` to completion with an
    availableNow trigger and a fresh checkpoint.

    ``sink=None`` appends into a checkpointed parquet sink and returns
    it as a batch DataFrame. A callable sink is a ``foreachBatch``
    function ``sink(batch_df, batch_id)`` — the production pattern for
    sinks Structured Streaming can't write directly (MERGE/upsert into
    a table, multi-table fan-out, JDBC): it runs once per micro-batch
    with a BATCH DataFrame, and exactly-once comes from the checkpoint
    plus an idempotent sink. Returns None.

    The checkpoint is recreated per run so re-runs are idempotent (a
    retained checkpoint would mark the staged files already-consumed and
    no-op — the production behavior, wrong for a test harness).

    Both sink kinds run under the same scoped session confs, captured by
    the query at first start and restored afterwards (also on failure):

    - ``spark.sql.shuffle.partitions = state_partitions``: stateful
      operators keep one state-store instance per shuffle partition PER
      micro-batch, and a bounded local run with the batch engine's
      partitioning pays ~hundreds of state commits for no parallelism
      gain. On a cluster, size it to executor count before first start.
    - ``noDataMicroBatches.enabled = false`` (r15 measurement: the
      trailing no-data batch costs a full ~0.9 s trigger — addBatch +
      offset/commit-log fsyncs — per bounded run): the final watermark
      advance is performed by the staged far-future FLUSH ROWS, so
      every real window/timer/outer-null emission lands in a data batch,
      and the no-data batch availableNow would append can only emit
      flush-key rows the callers provably filter (or evict state nobody
      reads). It is also load-bearing for the proc-time timer arm:
      FlatMapGroupsWithStateExec.shouldRunAnotherBatch is
      unconditionally true under ProcessingTimeTimeout, so availableNow
      would schedule empty batches forever. An unbounded production run
      keeps the default: there, wall-clock finalization between
      arrivals is exactly what no-data batches are for.
    - ``confs``: any further per-run confs (e.g. the state store
      provider), applied last so they can override the two above.
    """
    sink_dir, ckpt_dir = _stream_dirs(name)
    shutil.rmtree(ckpt_dir, ignore_errors=True)
    if sink is None:
        shutil.rmtree(sink_dir, ignore_errors=True)
        writer = stream.writeStream.format("parquet").option("path", sink_dir)
    else:
        writer = stream.writeStream.foreachBatch(sink)
    scoped = {
        "spark.sql.shuffle.partitions": str(state_partitions),
        "spark.sql.streaming.noDataMicroBatches.enabled": "false",
        **(confs or {}),
    }
    prevs = {k: spark.conf.get(k, None) for k in scoped}
    for k, v in scoped.items():
        spark.conf.set(k, v)
    try:
        q = (
            writer.option("checkpointLocation", ckpt_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        _capture_plan(name, q)
    finally:
        for k, p in prevs.items():
            if p is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, p)
    if sink is None:
        return spark.read.schema(stream.schema).parquet(sink_dir)


def rate_source(spark: SparkSession, rows_per_second: int = 2) -> DataFrame:
    """T8: the producer's ~2 events/s cadence (producer.py:25-27,163)
    as a Spark rate source — (timestamp, value) rows for fixtures and
    load tests."""
    return (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )


def console_sink(df: DataFrame, trigger_seconds: int = 60):
    """K2: the reference's debug console sink, untruncated, on the
    micro-batch cadence (streaming_consumer.py:75-78,85). Returns the
    started StreamingQuery; caller stops it."""
    return (
        df.writeStream.format("console")
        .option("truncate", False)
        .trigger(processingTime=f"{trigger_seconds} seconds")
        .start()
    )


def adaptive_state_partitions(spark: SparkSession, cap: int = 16) -> int:
    """State-store partition count for the per-key-Python stateful
    arms, derived from the session's parallelism instead of a
    constant (guide-§2 scale adaptivity; the r15 measurement):

    - local[32]: 16 beats both 8 (+15%) and 32 (+25-45%) — the
      per-GROUP Arrow/state framing parallelizes across stores until
      store-commit count overtakes it, so the sweet spot sits below
      the core count;
    - local[8]: 8 beats 16 by 25-40% (16 stores on 8 cores pay two
      commit waves per batch for no extra parallelism).

    ``min(cap, max(4, defaultParallelism))`` reproduces both measured
    optima and sizes to executor count on a cluster (captured in the
    checkpoint at first start, same scoping rule as before).
    """
    return min(cap, max(4, spark.sparkContext.defaultParallelism))


