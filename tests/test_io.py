"""TableIO: Hadoop-FS existence semantics (resume must work on
cluster filesystems, not just the driver's local disk), the crash-safe
replace and compaction swaps, and the driver-side small-table path."""

import os
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from kgpipe.io import TableIO


def test_exists_and_roundtrip(spark, tmp_path):
    io = TableIO(spark, str(tmp_path))
    assert not io.exists("t")
    df = spark.range(10).select(F.col("id"), (F.col("id") % 3).alias("part_id"))
    io.write(df, "t", partition_by=["part_id"])
    assert io.exists("t")
    assert io.read("t").count() == 10
    io.drop("t")
    assert not io.exists("t")


def test_exists_ignores_non_table_dirs(spark, tmp_path):
    # a bare directory with no _SUCCESS and no parquet files is not a
    # table (e.g. leftovers of a crashed write attempt)
    os.makedirs(tmp_path / "junk")
    (tmp_path / "junk" / "notes.txt").write_text("x")
    io = TableIO(spark, str(tmp_path))
    assert not io.exists("junk")


def test_empty_table_roundtrip_with_schema(spark, tmp_path):
    io = TableIO(spark, str(tmp_path))
    out = io.read("missing", "a string, b long")
    assert out.count() == 0 and [f.name for f in out.schema.fields] == ["a", "b"]


def test_compact_small_files(spark, tmp_path):
    """Small-file compaction: a table fragmented into ~40 tiny files
    collapses to the target count with identical content, and readers
    see the swapped directory (same path, fewer files)."""
    io = TableIO(spark, str(tmp_path))
    df = spark.range(2000).select(
        F.col("id"), (F.col("id") % 7).alias("v")
    )
    df.repartition(40).write.parquet(io.path("frag"))
    n_before = sum(
        1 for f in __import__("pathlib").Path(io.path("frag")).rglob("*.parquet")
    )
    assert n_before >= 30
    before = sorted((r.id, r.v) for r in io.read("frag").collect())

    n_target = io.compact("frag", target_file_bytes=1 << 30)  # everything fits one
    assert n_target == 1
    files = list(__import__("pathlib").Path(io.path("frag")).rglob("*.parquet"))
    assert len(files) == 1
    after = sorted((r.id, r.v) for r in io.read("frag").collect())
    assert after == before
    assert io.exists("frag")


def test_compact_partitioned_preserves_layout(spark, tmp_path):
    """Partitioned compaction: each hive partition directory collapses
    to one file; partition pruning still works on the result."""
    io = TableIO(spark, str(tmp_path))
    df = spark.range(900).select(
        F.col("id"), (F.col("id") % 3).alias("part_id")
    )
    df.repartition(30).write.partitionBy("part_id").parquet(io.path("pfrag"))
    before = sorted(r.id for r in io.read("pfrag").collect())

    io.compact("pfrag", target_file_bytes=1 << 30, partition_by=["part_id"])
    root = __import__("pathlib").Path(io.path("pfrag"))
    for part in range(3):
        pfiles = list((root / f"part_id={part}").glob("*.parquet"))
        assert len(pfiles) == 1, (part, pfiles)
    after = sorted(r.id for r in io.read("pfrag").collect())
    assert after == before
    assert io.read("pfrag").where(F.col("part_id") == 1).count() == 300


def test_compact_cli(spark, tmp_path):
    from kgpipe.cli import main

    io = TableIO(spark, str(tmp_path))
    spark.range(500).repartition(20).write.parquet(io.path("t"))
    rc = main(["compact", "--warehouse", str(tmp_path), "--table", "t",
               "--target-mb", "1024"])
    assert rc == 0
    files = list(__import__("pathlib").Path(io.path("t")).rglob("*.parquet"))
    assert len(files) == 1
    assert io.read("t").count() == 500


def test_compact_crash_retry_recovers(spark, tmp_path):
    """Crash-between-renames recovery: if a previous compact died
    after moving the live dir aside (table path missing, __precompact
    present), a retry must restore the aside FIRST — not overwrite
    the tmp dir and delete the only surviving copy."""
    io = TableIO(spark, str(tmp_path))
    spark.range(300).repartition(10).write.parquet(io.path("ct"))
    before = sorted(r.id for r in io.read("ct").collect())

    # simulate the crash window: live dir moved aside, nothing else
    os.rename(io.path("ct"), io.path("ct__precompact"))
    assert not io.exists("ct")

    # retry with a schema argument — the historical data-loss shape
    # (read of the missing path returned empty instead of raising)
    n = io.compact("ct", target_file_bytes=1 << 30, schema="id long")
    assert n == 1
    after = sorted(r.id for r in io.read("ct").collect())
    assert after == before, "crash+retry must not lose the table"
    assert not os.path.exists(io.path("ct__precompact"))


def test_compact_stale_aside_with_live_table(spark, tmp_path):
    """A stale __precompact next to a healthy live table is cleaned
    up, and the LIVE table's content wins (the aside is the old
    pre-compaction copy)."""
    io = TableIO(spark, str(tmp_path))
    spark.range(100).write.parquet(io.path("st__precompact"))  # stale old copy
    spark.range(200).repartition(5).write.parquet(io.path("st"))
    io.compact("st", target_file_bytes=1 << 30)
    assert io.read("st").count() == 200
    assert not os.path.exists(io.path("st__precompact"))


def test_compact_refuses_object_store(spark):
    """Directory-swap compaction must refuse object-store roots up
    front (rename there is copy+delete, the crash-safety argument
    does not hold) and point at the Iceberg path."""
    io = TableIO(spark, "s3a://bucket/warehouse")
    with pytest.raises(ValueError, match="Iceberg"):
        io.compact("edges")


def test_replace_swap_and_crash_recovery(spark, tmp_path):
    """replace(): the new version is written NEXT TO the live table
    and swapped in by rename — and the crash window between the two
    renames (live moved aside, next not yet in) heals on
    recover_replace, keeping derived-from-self tables (incremental
    canonical_map) safe under crash+retry."""
    io = TableIO(spark, str(tmp_path))
    io.replace(spark.range(10).toDF("id"), "rt")       # create (no live yet)
    assert io.read("rt").count() == 10
    io.replace(spark.range(25).toDF("id"), "rt")       # swap over live
    assert io.read("rt").count() == 25
    assert not os.path.exists(io.path("rt__replaced"))
    assert not os.path.exists(io.path("rt__next"))

    # simulate the crash window: live moved aside, nothing else
    os.rename(io.path("rt"), io.path("rt__replaced"))
    io.recover_replace("rt")
    assert io.read("rt").count() == 25
    assert not os.path.exists(io.path("rt__replaced"))

    # stale aside next to a healthy live table: cleaned, live wins
    spark.range(5).toDF("id").write.parquet(io.path("rt__replaced"))
    io.recover_replace("rt")
    assert io.read("rt").count() == 25

    with pytest.raises(ValueError, match="Iceberg"):
        TableIO(spark, "s3a://bucket/wh").replace(None, "x")


def test_restore_aside_replaces_existing_live_dir(spark, tmp_path):
    """compact()'s failure-path restore must not nest the aside copy
    INSIDE a directory the failed swap left at the live path (Hadoop
    rename onto an existing dir moves the source inside it) — the
    live dir is deleted first, so the restored table sits AT the live
    path."""
    import os

    from kgpipe.io import TableIO

    io = TableIO(spark, str(tmp_path))
    live = tmp_path / "t"
    aside = tmp_path / "t__precompact"
    live.mkdir()
    (live / "junk.txt").write_text("leftover from failed swap")
    aside.mkdir()
    (aside / "real.parquet").write_text("the only complete copy")

    fs, live_p = io._fs(str(live))
    _, aside_p = io._fs(str(aside))
    TableIO._restore_aside(fs, aside_p, live_p)

    assert sorted(os.listdir(live)) == ["real.parquet"]
    assert not aside.exists()


def test_write_small_rows_roundtrip_matches_spark_writer(spark, tmp_path):
    """The driver-local rows fast path (r8: ledger/stats writes
    without a createDataFrame→collect round-trip) must land bytes a
    Spark reader sees EXACTLY as the Spark writer's: same schema
    (incl. the DDL alias 'long' → bigint), same values, and append
    must accumulate. A fresh TableIO/driver reads both back equal."""
    ddl = "stage string, part_id int, fingerprint long, n_in long, ts double"
    rows = [("s1", 0, -(2**62) - 3, 10, 1.5), ("s2", 1, 7, 0, 2.25)]
    io = TableIO(spark, str(tmp_path / "wh"))
    io.write_small_rows(rows, ddl, "fast")
    io.write(spark.createDataFrame(rows, ddl), "slow")
    fast = io.read("fast", ddl)
    slow = io.read("slow", ddl)
    assert fast.schema == slow.schema
    assert sorted(map(tuple, fast.collect())) == sorted(map(tuple, slow.collect()))
    io.write_small_rows([("s3", 2, 0, 1, 0.0)], ddl, "fast", mode="append")
    assert io.read("fast", ddl).count() == 3
    # driver-side fast read agrees with the Spark reader
    got = sorted(tuple(d.values()) for d in io.read_small_rows("fast"))
    assert got == sorted(map(tuple, io.read("fast", ddl).collect()))


def test_checkpoint_rows_api_equivalent_and_durable(spark, tmp_path):
    """mark_done_rows/completed_set/counter_sums (r8 driver-side
    ledger) must agree on what was written — including across a
    FRESH CheckpointLog instance (cross-process resume reads only the
    on-disk ledger)."""
    from kgpipe.checkpoints import CheckpointLog

    io = TableIO(spark, str(tmp_path / "wh"))
    log = CheckpointLog(io)
    log.mark_done_rows("a", [(0, 11, 5, 4, 1), (1, 22, 6, 6, 0)])
    log.mark_done_rows("b", [(0, 33, 2, 2, 0)])
    for lg in (log, CheckpointLog(io)):  # warm cache AND fresh instance
        assert lg.completed_set("a") == {(0, 11, 5), (1, 22, 6)}
        assert lg.completed_set("b") == {(0, 33, 2)}
        sums = lg.counter_sums()
        assert sums["a"] == {"n_in": 11, "n_out": 10, "n_err": 1}
        assert sums["b"] == {"n_in": 2, "n_out": 2, "n_err": 0}


@pytest.mark.parametrize("ddl,rows", [
    ("id int, amount decimal(10,2)",
     [(1, Decimal("12.50")), (2, None)]),
    ("id int, pair struct<a:int,b:int>", [(1, (2, 3)), (2, None)]),
    ("id int, tags array<string>", [(1, ["x", "y"])]),
])
def test_write_small_rows_parameterized_ddl_takes_spark_writer(spark, tmp_path, ddl, rows):
    """A DDL the flat `name type` parser cannot read — type parameters,
    nested types — goes to the Spark writer instead of raising, and
    reads back exactly as a plain Spark write of the same rows."""
    io = TableIO(spark, str(tmp_path / "wh"))
    io.write_small_rows(rows, ddl, "t")
    io.write(spark.createDataFrame(rows, ddl), "ref")
    got, ref = io.read("t", ddl), io.read("ref", ddl)
    assert got.schema == ref.schema
    assert sorted(map(str, got.collect())) == sorted(map(str, ref.collect()))


def test_checkpoint_cache_is_thread_safe(spark, tmp_path):
    """The ledger cache is shared by the main thread and the deferred
    extract-stats thread: concurrent appends and reads from more
    threads than cores lose no row."""
    import sys
    import threading

    from kgpipe.checkpoints import CheckpointLog

    io = TableIO(spark, str(tmp_path / "wh"))
    log = CheckpointLog(io)
    log.completed_set("s0")  # load the (empty) cache
    errors = []

    def worker(stage):
        try:
            for i in range(10):
                log.mark_done_rows(stage, [(i, i, 1, 1, 0)])
                log.counter_sums()
        except Exception as e:  # surfaced below
            errors.append(e)

    stages = [f"s{k}" for k in range(2 * (os.cpu_count() or 4))]
    threads = [threading.Thread(target=worker, args=(s,)) for s in stages]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors
    for lg in (log, CheckpointLog(io)):
        assert all(len(lg.completed_set(s)) == 10 for s in stages)
