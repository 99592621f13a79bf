"""Lakehouse table-maintenance operators.

The reference gets these from its table formats: Iceberg v2 row-level
semantics and schema evolution (delta_to_iceberg.py:44-52, README.md:41),
Delta's transactional appends. On plain parquet managed tables the
engine provides the same semantics as explicit operators:

- ``merge_upsert``: MERGE INTO a catalog table by key (update-else-
  insert), the row-level operation Iceberg v2 advertises. On an
  unpartitioned table it is anti-join + union + an overwrite in
  place. With ``partition_col`` it is partition-scoped: only
  partitions that the updates touch are scanned (partition pruning on
  the target read) and rewritten (dynamic partition overwrite) — at
  100 TB a merge touching 3 of 10 000 date partitions reads and
  writes 3.
- ``evolve_append``: append with schema evolution (new columns null-
  filled on old rows at read; missing columns null-filled on append).
- ``compact`` / ``compact_partitioned``: small-file compaction to a
  target file count — the maintenance job every streaming-append
  table needs (each micro-batch writes >=1 file per partition; scan
  cost grows with file count, not bytes).

None of these is a crash-atomic commit. Path-backed tables that need
one — the streaming MERGE sinks among them — commit snapshots through
``sources/txlog.TxTable``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def merge_upsert(
    spark: SparkSession,
    table: str,
    updates: DataFrame,
    key_cols: list[str],
    partition_col: str | None = None,
    keys_stay_in_partition: bool = True,
) -> DataFrame:
    """MERGE INTO ``table`` USING ``updates`` ON keys: matched rows are
    replaced, unmatched inserted. Returns the new table state.

    With ``partition_col`` (the table's partition column) the merge is
    partition-scoped: only partitions present in ``updates`` are read
    (the ``isin`` filter prunes the target scan to those directories)
    and rewritten (dynamic partition overwrite replaces exactly the
    partitions the staged result contains). Untouched partitions'
    files are not read, rewritten, or moved.

    ``keys_stay_in_partition=True`` (default) is the scale contract:
    an update row carries the same partition value as any target row
    it matches (true whenever the partition value is derived from the
    key, e.g. date-partitioned facts merged by (date, id)). Set it to
    False when a merge may move a key across partitions; that mode
    must scan the whole target once to find matched rows' home
    partitions, and drops partitions a move has emptied.
    """
    target = spark.table(table)
    updates = updates.select(*target.columns)
    if partition_col is None:
        kept = target.join(updates.select(*key_cols), on=key_cols, how="left_anti")
        # select(*target.columns): the join hoists key_cols to the
        # front; keep the recreated table's column order stable.
        merged = kept.unionByName(updates).select(*target.columns)
        # localCheckpoint truncates lineage so the overwrite no longer
        # "reads from" the target (cache alone keeps the plan reference).
        # The saveAsTable overwrite then replaces the table IN PLACE: not
        # crash-atomic. Path-backed sinks commit through TxTable instead.
        staged = merged.localCheckpoint(eager=True)
        staged.write.mode("overwrite").saveAsTable(table)
        return spark.table(table)

    # Affected partitions: those the updates land in, plus (strict
    # mode only) partitions holding a matched key that moved.
    affected = {r[0] for r in updates.select(partition_col).distinct().collect()}
    if not keys_stay_in_partition:
        moved_from = (
            target.join(updates.select(*key_cols).distinct(), on=key_cols, how="left_semi")
            .select(partition_col)
            .distinct()
        )
        affected |= {r[0] for r in moved_from.collect()}
    target_affected = target.where(_partition_predicate(partition_col, affected))
    kept = target_affected.join(updates.select(*key_cols), on=key_cols, how="left_anti")
    # The key-column join hoists key_cols to the front of `kept`;
    # realign to the table's insertion schema before the POSITION-based
    # insertInto, or values land in the wrong columns.
    staged = (
        kept.unionByName(updates).select(*target.columns).localCheckpoint(eager=True)
    )
    emptied: set = set()
    if not keys_stay_in_partition:
        # Partitions emptied by a cross-partition key move are absent
        # from `staged`, so dynamic overwrite will leave their stale
        # files — they must be dropped after the write. Compute and
        # VALIDATE the drop set BEFORE the overwrite commits: the NULL
        # partition can only be dropped via the Hive default-partition
        # sentinel, which the partition-spec parser accepts for STRING
        # partition columns only — fail cleanly up front rather than
        # after a half-applied merge.
        present = {r[0] for r in staged.select(partition_col).distinct().collect()}
        emptied = affected - present
        part_type = target.schema[partition_col].dataType.simpleString()
        if None in emptied and part_type != "string":
            raise ValueError(
                f"merge_upsert: a cross-partition move empties the NULL "
                f"partition of `{partition_col}` ({part_type}); dropping a "
                f"NULL partition is only supported for string partition "
                f"columns (Hive default-partition sentinel)"
            )
    # Session-conf set/restore, not a per-write option: PySpark 4.1.2
    # ignores DataFrameWriter.option("partitionOverwriteMode", ...) on
    # the insertInto path (probed: static overwrite wiped untouched
    # partitions), so the conf is the only working control. The
    # try/finally keeps the mutation scoped; note a concurrent write
    # in the SAME session during this window would also see dynamic
    # mode — acceptable for the foreachBatch-sequential usage here.
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        staged.write.mode("overwrite").insertInto(table)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    for v in emptied:
        spark.sql(
            f"ALTER TABLE {table} DROP IF EXISTS "
            f"PARTITION (`{partition_col}` = {_partition_literal(v)})"
        )
    spark.catalog.refreshTable(table)
    return spark.table(table)


def _partition_predicate(partition_col: str, values: set):
    """Prune filter over partition values, NULL-safe: ``isin`` never
    matches NULL, so a null partition in ``values`` needs an explicit
    ``isNull`` arm."""
    non_null = [v for v in values if v is not None]
    pred = F.col(partition_col).isin(non_null) if non_null else F.lit(False)
    if len(non_null) < len(values):
        pred = pred | F.col(partition_col).isNull()
    return pred


def _partition_literal(v) -> str:
    """Render a partition value as a safe SQL literal for ALTER TABLE
    ... DROP PARTITION: quotes doubled for strings, numerics unquoted,
    dates ISO-quoted, NULL as the Hive default-partition sentinel
    (how the file layout names the null partition)."""
    import datetime

    if v is None:
        return "'__HIVE_DEFAULT_PARTITION__'"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float)):
        return str(v)
    if isinstance(v, (datetime.date, datetime.datetime)):
        return f"'{v.isoformat()}'"
    # Backslashes first (Spark string literals process \-escapes:
    # 'a\bc' parses as 'a\x08c'), then quote doubling.
    return "'" + str(v).replace("\\", "\\\\").replace("'", "''") + "'"


def evolve_append(
    spark: SparkSession,
    table: str,
    batch: DataFrame,
) -> DataFrame:
    """Append with schema evolution: columns new in ``batch`` are added
    to the table (old rows read as null); columns missing from
    ``batch`` are appended as null."""
    if not spark.catalog.tableExists(table):
        batch.write.saveAsTable(table)
        return spark.table(table)
    target_cols = {f.name: f.dataType for f in spark.table(table).schema.fields}
    batch_cols = {f.name: f.dataType for f in batch.schema.fields}
    # additive evolution only: a column present in BOTH must keep its
    # type — silently cast()ing a conflicting batch column would turn
    # unparseable values into NULLs (the txlog's _check_schema raises
    # for exactly this case; enforce the same here)
    clashes = {
        c: (target_cols[c].simpleString(), dt.simpleString())
        for c, dt in batch_cols.items()
        if c in target_cols and target_cols[c] != dt
    }
    if clashes:
        raise ValueError(
            f"evolve_append: column type changes are never mergeable: "
            f"{clashes} — cast the batch explicitly if the change is "
            "intentional"
        )
    new_cols = [c for c in batch_cols if c not in target_cols]
    for c in new_cols:
        spark.sql(
            f"ALTER TABLE {table} ADD COLUMN `{c}` {batch.schema[c].dataType.simpleString()}"
        )
    aligned = batch.select(
        *[
            F.col(c).cast(dt).alias(c) if c in batch_cols else F.lit(None).cast(dt).alias(c)
            for c, dt in {
                f.name: f.dataType for f in spark.table(table).schema.fields
            }.items()
        ]
    )
    aligned.write.mode("append").saveAsTable(table)
    return spark.table(table)


def compact_partitioned(
    spark: SparkSession,
    path: str,
    target_files: int = 1,
) -> dict[str, int]:
    """Per-partition small-file compaction for a Hive-layout parquet
    directory (one ``col=value`` level): only partitions whose file
    count exceeds ``target_files`` are rewritten — cold partitions'
    files are never read, rewritten, or touched. Returns
    ``{partition_dir: files_before}`` for the rewritten partitions.

    This is the maintenance pass every streaming-append table needs
    (each micro-batch adds >=1 file per partition it touches; scan
    cost grows with file count, not bytes). Partitions compact
    independently — at scale, submit the per-partition jobs
    concurrently; the sequential loop here keeps the local harness
    simple and is bounded by partition count, not data size.

    Crash safety: each partition is compacted into a dot-prefixed
    staging directory (invisible to Spark's file listing) and swapped
    in with two renames — the source files are never deleted before
    the replacement exists. A crash between the renames leaves the
    original data intact under ``._old_<partition>``; recovery is
    renaming it back (stale ``._tmp_*`` staging dirs are re-created
    on the next run). This replaces the in-place overwrite, whose
    delete-then-rewrite window could lose the partition outright.
    NOT safe under concurrent readers: between the two renames the
    partition directory briefly does not exist (a reader in that
    window errors, retryable); the txlog ``compact`` is the
    concurrent-reader-safe form."""
    import glob
    import os
    import shutil

    rewritten: dict[str, int] = {}
    for sub in sorted(glob.glob(os.path.join(path, "*=*"))):
        base = os.path.basename(sub)
        if not os.path.isdir(sub) or base.startswith("."):
            continue
        files = glob.glob(os.path.join(sub, "*.parquet"))
        if len(files) <= target_files:
            continue
        tmp = os.path.join(path, "._tmp_" + base)
        old = os.path.join(path, "._old_" + base)
        if os.path.exists(old):
            raise RuntimeError(
                f"{old} exists — a previous compaction crashed mid-swap; "
                "restore or remove it before compacting again"
            )
        shutil.rmtree(tmp, ignore_errors=True)  # stale staging from a crash
        spark.read.parquet(sub).coalesce(target_files).write.mode(
            "overwrite"
        ).parquet(tmp)
        os.rename(sub, old)
        os.rename(tmp, sub)
        shutil.rmtree(old)
        rewritten[base] = len(files)
    return rewritten


def compact(
    spark: SparkSession,
    path: str,
    target_files: int,
) -> int:
    """Rewrite a flat parquet directory into ``target_files`` files;
    returns the file count before compaction. (On a partitioned
    table, use ``compact_partitioned`` so only hot partitions
    rewrite.)

    Crash safety: same staged-swap as ``compact_partitioned`` — the
    rewrite lands in a dot-prefixed staging dir and swaps in with two
    renames, so the originals are never deleted before the replacement
    exists on disk. (The previous in-place ``mode("overwrite")`` wrote
    through a localCheckpoint whose blocks live only in the running
    executors — a crash mid-write lost the table outright.)

    NOT safe under concurrent readers: between the two renames the
    table path briefly does not exist, so a reader scanning in that
    window errors (retryable — no data is lost). A crash inside the
    window parks the originals under ``._old_<name>`` and the next
    compact() refuses loudly; manual recovery is one rename:
    ``mv ._old_<name> <name>`` (discard ``._tmp_<name>``). For
    concurrent-reader safety use the transaction log
    (``sources/txlog.py compact``), where the swap is a manifest CAS
    and old files stay readable until VACUUM."""
    import glob
    import os
    import shutil

    before = len(glob.glob(os.path.join(path, "*.parquet")))
    parent, base = os.path.split(os.path.abspath(path))
    tmp = os.path.join(parent, "._tmp_" + base)
    old = os.path.join(parent, "._old_" + base)
    if os.path.exists(old):
        raise RuntimeError(
            f"{old} exists — a previous compaction crashed mid-swap; "
            "restore or remove it before compacting again"
        )
    shutil.rmtree(tmp, ignore_errors=True)  # stale staging from a crash
    spark.read.parquet(path).coalesce(target_files).write.parquet(tmp)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return before
