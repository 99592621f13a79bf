"""Table maintenance: upsert, schema evolution, compaction (the
Iceberg/Delta capabilities the reference delegates to its formats)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from ecommerce_dataengineering_project_spark.sources.maintenance import (
    compact,
    evolve_append,
    merge_upsert,
)
from ecommerce_dataengineering_project_spark.sources.writers import create_or_append_table


@pytest.fixture
def clean_table(spark):
    def _make(name):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        shutil.rmtree(os.path.join(wh, name), ignore_errors=True)
        return name

    return _make


def test_merge_upsert(spark, clean_table):
    t = clean_table("t_upsert")
    spark.createDataFrame(
        [("a", 1, "old"), ("b", 2, "old")], "k string, v int, src string"
    ).write.saveAsTable(t)
    updates = spark.createDataFrame(
        [("b", 20, "new"), ("c", 30, "new")], "k string, v int, src string"
    )
    out = merge_upsert(spark, t, updates, ["k"])
    rows = {r.k: (r.v, r.src) for r in out.collect()}
    assert rows == {"a": (1, "old"), "b": (20, "new"), "c": (30, "new")}
    spark.sql(f"DROP TABLE {t}")


def _table_location(spark, table: str) -> str:
    loc = (
        spark.sql(f"DESCRIBE FORMATTED {table}")
        .where("col_name = 'Location'")
        .collect()[0][1]
    )
    return loc.removeprefix("file:")


def _partition_files(loc: str, part_dir: str) -> dict[str, tuple]:
    """(size, mtime_ns, md5) per data file in one partition directory."""
    import glob
    import hashlib

    out = {}
    for f in glob.glob(os.path.join(loc, part_dir, "*.parquet")):
        st = os.stat(f)
        with open(f, "rb") as fh:
            digest = hashlib.md5(fh.read()).hexdigest()
        out[f] = (st.st_size, st.st_mtime_ns, digest)
    return out


def test_merge_upsert_partition_scoped(spark, clean_table):
    """Composite (partition, id) key — the docstring's recommended
    usage. The merge must (a) produce correct values in the RIGHT
    columns (r3 wrote scrambled rows: position-based insertInto after
    a key-hoisting join), (b) leave untouched partitions' files
    byte-identical, untouched."""
    t = clean_table("t_upsert_part")
    # Deliberately declare columns in (d, k, v) order — NOT key-first —
    # so any key-hoisting realignment bug surfaces; saveAsTable moves
    # the partition column d to the end of the insertion schema.
    spark.createDataFrame(
        [("2024-01-01", "a", 1), ("2024-01-01", "b", 2), ("2024-01-02", "c", 3)],
        "d string, k string, v int",
    ).write.partitionBy("d").saveAsTable(t)
    loc = _table_location(spark, t)
    before_untouched = _partition_files(loc, "d=2024-01-02")
    assert before_untouched  # premise: the untouched partition has files

    updates = spark.createDataFrame(
        [("2024-01-01", "b", 20), ("2024-01-01", "x", 99)], "d string, k string, v int"
    )
    out = merge_upsert(spark, t, updates, ["d", "k"], partition_col="d")
    rows = {(r.d, r.k): r.v for r in out.collect()}
    assert rows == {
        ("2024-01-01", "a"): 1,
        ("2024-01-01", "b"): 20,
        ("2024-01-01", "x"): 99,
        ("2024-01-02", "c"): 3,
    }
    # no spurious partitions from scrambled inserts
    parts = {r[0] for r in spark.sql(f"SHOW PARTITIONS {t}").collect()}
    assert parts == {"d=2024-01-01", "d=2024-01-02"}
    # untouched partition not read-modified-written: same files, same
    # bytes, same mtimes
    assert _partition_files(loc, "d=2024-01-02") == before_untouched
    spark.sql(f"DROP TABLE {t}")


def test_merge_upsert_cross_partition_move(spark, clean_table):
    """keys_stay_in_partition=False: a key moving partitions must not
    survive in its old home, and a partition the move emptied is
    dropped (files gone), not left stale."""
    t = clean_table("t_upsert_move")
    spark.createDataFrame(
        [("p1", "a", 1), ("p2", "b", 2), ("p2", "c", 3)], "d string, k string, v int"
    ).write.partitionBy("d").saveAsTable(t)
    loc = _table_location(spark, t)

    # key 'a' moves p1 -> p3, emptying p1
    updates = spark.createDataFrame([("p3", "a", 10)], "d string, k string, v int")
    out = merge_upsert(
        spark, t, updates, ["k"], partition_col="d", keys_stay_in_partition=False
    )
    rows = {(r.d, r.k): r.v for r in out.collect()}
    assert rows == {("p3", "a"): 10, ("p2", "b"): 2, ("p2", "c"): 3}
    parts = {r[0] for r in spark.sql(f"SHOW PARTITIONS {t}").collect()}
    assert parts == {"d=p2", "d=p3"}
    assert not _partition_files(loc, "d=p1")  # emptied partition's files gone
    spark.sql(f"DROP TABLE {t}")


def test_merge_move_emptying_null_partition_fails_before_write(spark, clean_table):
    """An int partition column whose NULL partition would be emptied
    by a key move must raise BEFORE the overwrite commits (a NULL
    partition is only droppable for string columns), leaving the
    table untouched."""
    t = clean_table("t_upsert_nullmove")
    spark.createDataFrame(
        [(None, "a", 1), (2, "b", 2)], "d int, k string, v int"
    ).write.partitionBy("d").saveAsTable(t)
    before = sorted(tuple(r) for r in spark.table(t).collect())
    updates = spark.createDataFrame([(3, "a", 10)], "d int, k string, v int")
    with pytest.raises(ValueError, match="NULL partition"):
        merge_upsert(
            spark, t, updates, ["k"], partition_col="d", keys_stay_in_partition=False
        )
    assert sorted(tuple(r) for r in spark.table(t).collect()) == before
    spark.sql(f"DROP TABLE {t}")


def test_merge_move_emptying_null_string_partition_drops_it(spark, clean_table):
    """For a STRING partition column the NULL partition drops via the
    Hive default-partition sentinel."""
    t = clean_table("t_upsert_nullmove_str")
    spark.createDataFrame(
        [(None, "a", 1), ("p2", "b", 2)], "d string, k string, v int"
    ).write.partitionBy("d").saveAsTable(t)
    updates = spark.createDataFrame([("p3", "a", 10)], "d string, k string, v int")
    out = merge_upsert(
        spark, t, updates, ["k"], partition_col="d", keys_stay_in_partition=False
    )
    rows = {r.k: (r.d, r.v) for r in out.collect()}
    assert rows == {"a": ("p3", 10), "b": ("p2", 2)}
    parts = {r[0] for r in spark.sql(f"SHOW PARTITIONS {t}").collect()}
    assert "d=__HIVE_DEFAULT_PARTITION__" not in parts
    spark.sql(f"DROP TABLE {t}")


def test_merge_move_drops_partition_with_special_chars(spark, clean_table):
    """Partition values containing quotes/backslashes must round-trip
    the DROP PARTITION literal (Spark literals process \\-escapes)."""
    for val in ("it's", "p\\1"):
        t = clean_table("t_upsert_specialchars")
        spark.createDataFrame(
            [(val, "a", 1), ("keep", "b", 2)], "d string, k string, v int"
        ).write.partitionBy("d").saveAsTable(t)
        updates = spark.createDataFrame([("new", "a", 10)], "d string, k string, v int")
        out = merge_upsert(
            spark, t, updates, ["k"], partition_col="d", keys_stay_in_partition=False
        )
        assert {(r.d, r.k) for r in out.collect()} == {("new", "a"), ("keep", "b")}
        parts = {r[0] for r in spark.sql(f"SHOW PARTITIONS {t}").collect()}
        assert len(parts) == 2, (val, parts)  # the emptied partition is gone
        spark.sql(f"DROP TABLE {t}")


def test_merge_upsert_null_partition(spark, clean_table):
    """A NULL partition value must still be pruned-and-merged (isin
    never matches NULL), not left as stale duplicates."""
    t = clean_table("t_upsert_nullpart")
    spark.createDataFrame(
        [(None, "a", 1), ("p1", "b", 2)], "d string, k string, v int"
    ).write.partitionBy("d").saveAsTable(t)
    updates = spark.createDataFrame([(None, "a", 10)], "d string, k string, v int")
    out = merge_upsert(spark, t, updates, ["k"], partition_col="d")
    rows = {r.k: (r.d, r.v) for r in out.collect()}
    assert rows == {"a": (None, 10), "b": ("p1", 2)}
    spark.sql(f"DROP TABLE {t}")


def test_evolve_append(spark, clean_table):
    t = clean_table("t_evolve")
    spark.createDataFrame([("a", 1)], "k string, v int").write.saveAsTable(t)
    # batch adds a column -> old rows read null; missing col null-fills
    evolved = evolve_append(
        spark, t, spark.createDataFrame([("b", "x")], "k string, extra string")
    )
    rows = {r.k: (r.v, r.extra) for r in evolved.collect()}
    assert rows == {"a": (1, None), "b": (None, "x")}
    spark.sql(f"DROP TABLE {t}")


def test_compact(spark, tmp_path):
    path = str(tmp_path / "frag")
    df = spark.range(1000).withColumn("v", F.col("id") * 2)
    df.repartition(16).write.parquet(path)
    before = compact(spark, path, target_files=2)
    assert before >= 16
    import glob

    after = len(glob.glob(os.path.join(path, "*.parquet")))
    assert after <= 2
    back = spark.read.parquet(path)
    assert back.count() == 1000
    assert back.agg(F.sum("v")).first()[0] == 999 * 1000


def test_compact_partitioned_rewrites_only_hot_partitions(spark, tmp_path):
    """Hot partitions (file count over target) compact to target;
    cold partitions' files stay byte-identical and untouched."""
    import glob

    from ecommerce_dataengineering_project_spark.sources.maintenance import compact_partitioned

    path = str(tmp_path / "part")
    hot = spark.range(400).selectExpr("'h' AS d", "id AS k", "id * 2 AS v")
    cold = spark.range(100).selectExpr("'c' AS d", "id AS k", "id * 3 AS v")
    hot.repartition(8).write.partitionBy("d").parquet(path)
    cold.coalesce(1).write.mode("append").partitionBy("d").parquet(path)
    cold_before = _partition_files(path, "d=c")
    assert len(cold_before) == 1
    assert len(glob.glob(os.path.join(path, "d=h", "*.parquet"))) == 8

    rewritten = compact_partitioned(spark, path, target_files=1)
    assert rewritten == {"d=h": 8}
    assert len(glob.glob(os.path.join(path, "d=h", "*.parquet"))) == 1
    assert _partition_files(path, "d=c") == cold_before
    back = spark.read.parquet(path)
    assert back.count() == 500
    assert back.agg(F.sum("v")).first()[0] == 2 * sum(range(400)) + 3 * sum(range(100))


def test_streaming_upsert_via_foreach_batch(spark, clean_table):
    """Streaming MERGE: micro-batches of purchase updates upserted
    into a gold table via foreachBatch + merge_upsert. Later batches
    win; re-keyed rows replace, new keys insert."""
    from ecommerce_dataengineering_project_spark.streaming.harness import (
        run_bounded,
        staged_stream,
    )

    t = clean_table("t_stream_upsert")
    spark.createDataFrame(
        [("a", 1), ("b", 2)], "k string, v int"
    ).write.saveAsTable(t)
    # two micro-batches, tagged by __batch
    tagged = spark.createDataFrame(
        [("b", 20, 0), ("c", 30, 0), ("c", 300, 1), ("d", 400, 1)],
        "k string, v int, __batch int",
    )
    src = staged_stream(
        spark, "stream_upsert_test", lambda: (tagged, 2, "k string, v int", None)
    )

    def upsert(batch_df, batch_id):
        merge_upsert(spark, t, batch_df, ["k"])

    run_bounded(spark, "stream_upsert_test", src, sink=upsert)
    rows = {r.k: r.v for r in spark.table(t).collect()}
    assert rows == {"a": 1, "b": 20, "c": 300, "d": 400}
    spark.sql(f"DROP TABLE {t}")


def test_create_or_append(spark, clean_table):
    """K4: DataFrameWriterV2 create()-with-partitioning on first call,
    append() after (delta_to_iceberg.py:36-52 flow)."""
    t = clean_table("t_k4")
    b1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, grp string")
    create_or_append_table(spark, b1, t, partition_cols=["grp"])
    assert spark.table(t).count() == 2
    b2 = spark.createDataFrame([(3, "a")], "id long, grp string")
    create_or_append_table(spark, b2, t, partition_cols=["grp"])
    assert sorted(r.id for r in spark.table(t).collect()) == [1, 2, 3]
    # partitioned layout materialized (one dir per grp value)
    import os
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    assert os.path.isdir(os.path.join(wh, t, "grp=a"))


def test_compact_partitioned_swap_safety(spark, tmp_path):
    """Crash-safety contract (ADVICE r4): a leftover ._old_ dir from a
    mid-swap crash refuses to compact (data to recover), a stale
    ._tmp_ staging dir is silently recreated, and dot-prefixed dirs
    never register as partitions to compact."""
    import glob

    import pytest

    from ecommerce_dataengineering_project_spark.sources.maintenance import compact_partitioned

    path = str(tmp_path / "part")
    hot = spark.range(200).selectExpr("'h' AS d", "id AS k")
    hot.repartition(6).write.partitionBy("d").parquet(path)

    # stale staging from a crashed run: recreated, compaction proceeds
    os.makedirs(os.path.join(path, "._tmp_d=h", "junk=1"))
    rewritten = compact_partitioned(spark, path, target_files=1)
    assert rewritten == {"d=h": 6}
    assert len(glob.glob(os.path.join(path, "d=h", "*.parquet"))) == 1
    assert not os.path.exists(os.path.join(path, "._tmp_d=h"))
    assert spark.read.parquet(path).count() == 200

    # leftover ._old_ means the previous swap never finished: refuse
    spark.range(10).selectExpr("'h' AS d", "id AS k").repartition(4).write.mode(
        "append"
    ).partitionBy("d").parquet(path)
    os.makedirs(os.path.join(path, "._old_d=h"))
    with pytest.raises(RuntimeError, match="crashed mid-swap"):
        compact_partitioned(spark, path, target_files=1)


def test_evolve_append_refuses_type_conflicts(spark):
    """A batch column whose type conflicts with the table's must raise
    (the silent cast() null-out path is data corruption)."""
    import pytest
    from pyspark.sql import functions as F

    from ecommerce_dataengineering_project_spark.sources.maintenance import (
        evolve_append,
    )

    spark.sql("DROP TABLE IF EXISTS evolve_clash")
    evolve_append(
        spark, "evolve_clash",
        spark.range(3).select("id", F.lit(10).cast("bigint").alias("amount")),
    )
    with pytest.raises(ValueError, match="never mergeable"):
        evolve_append(
            spark, "evolve_clash",
            spark.range(3, 6).select("id", F.lit("12.5x").alias("amount")),
        )
    # additive evolution still works
    out = evolve_append(
        spark, "evolve_clash",
        spark.range(6, 8).select(
            "id", F.lit(5).cast("bigint").alias("amount"),
            F.lit("eu").alias("region"),
        ),
    )
    assert out.count() == 5 and "region" in out.columns
    spark.sql("DROP TABLE IF EXISTS evolve_clash")
