"""TableIO: Hadoop-FS existence semantics (resume must work on
cluster filesystems, not just the driver's local disk) and the
Iceberg seam (exercised when the runtime jar is present, skipped
otherwise — this sandbox has no jar and no ivy network)."""

import os
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from kgpipe.io import TableIO, iceberg_available, iceberg_conf


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


def test_iceberg_conf_shape():
    conf = iceberg_conf("kg", "/data/wh")
    assert conf["spark.sql.catalog.kg"] == "org.apache.iceberg.spark.SparkCatalog"
    assert conf["spark.sql.catalog.kg.warehouse"] == "/data/wh"
    assert "Iceberg" in conf["spark.sql.extensions"]


def test_catalog_requires_jar(spark, tmp_path):
    if iceberg_available(spark):
        pytest.skip("jar present: covered by test_iceberg_roundtrip")
    with pytest.raises(RuntimeError, match="Iceberg"):
        TableIO(spark, str(tmp_path), catalog="kg")


def test_iceberg_roundtrip(spark, tmp_path):
    if not iceberg_available(spark):
        pytest.skip("Iceberg runtime jar not on classpath")
    io = TableIO(spark, str(tmp_path), catalog="kg")
    df = spark.range(10).select(F.col("id"), (F.col("id") % 3).alias("part_id"))
    io.write(df, "t", partition_by=["part_id"])
    assert io.exists("t") and io.read("t").count() == 10
    io.write(df.where(F.col("part_id") == 0), "t", mode="overwrite", partition_by=["part_id"])
    # dynamic-partition semantics: untouched partitions survive
    assert io.read("t").count() == 10
    io.drop("t")
    assert not io.exists("t")


def test_bucketed_join_no_shuffle(spark, tmp_path):
    """Two tables bucketed on the same key join WITHOUT any exchange:
    the shuffle was paid at write time (the 100 TB layout for
    entity-keyed joins). Broadcast is disabled for the assertion so
    the plan must rely on the bucketing, not on table size."""
    io = TableIO(spark, str(tmp_path))
    a = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("va")
    )
    b = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("vb")
    )
    io.write_bucketed(a, "bk_a", ["k"], 8, sort_by=["k"])
    io.write_bucketed(b, "bk_b", ["k"], 8, sort_by=["k"])
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = io.read_bucketed("bk_a").join(io.read_bucketed("bk_b"), "k")
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, "bucketed join must not shuffle"
        assert j.count() == 1000
        # unbucketed read of the same data DOES shuffle — the contrast
        pa = spark.read.parquet(io.path("bk_a"))
        pb = spark.read.parquet(io.path("bk_b"))
        plan2 = pa.join(pb, "k")._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" in plan2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("drop table if exists bk_a")
        spark.sql("drop table if exists bk_b")


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


def test_compact_refuses_bucketed_fresh_session(spark, tmp_path):
    """The bucketed-table refusal must survive a session restart: the
    session catalog's entry is gone, but the durable bucket-spec
    marker still identifies the layout."""
    io = TableIO(spark, str(tmp_path))
    df = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    io.write_bucketed(df, "bt", ["k"], 4)
    try:
        spec = io.bucket_spec("bt")
        assert spec == {"bucket_by": ["k"], "n_buckets": 4, "sort_by": []}
        # simulate a fresh session: drop only the catalog entry
        spark.sql(f"drop table if exists {io._bucket_ident('bt')}")
        with pytest.raises(ValueError, match="bucketed"):
            io.compact("bt")
    finally:
        spark.sql(f"drop table if exists {io._bucket_ident('bt')}")


def test_plain_overwrite_clears_stale_bucket_marker(spark, tmp_path):
    """A non-bucketed rewrite of a formerly bucketed table must clear
    the durable bucket marker — otherwise compact() refuses the table
    forever even though the layout is plain parquet."""
    io = TableIO(spark, str(tmp_path))
    df = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    io.write_bucketed(df, "rw", ["k"], 4)
    assert io.bucket_spec("rw") is not None
    io.write(df, "rw", mode="overwrite")  # plain rewrite
    assert io.bucket_spec("rw") is None
    assert io.compact("rw", target_file_bytes=1 << 30) == 1
    assert io.read("rw").count() == 100


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


def test_patch_partitions_replaces_subset_and_deletes_empty(spark, tmp_path):
    """patch_partitions must (a) replace exactly the named partitions,
    (b) DELETE a named partition whose new content is empty, and
    (c) leave unnamed partitions byte-untouched."""
    import os

    from kgpipe.io import TableIO

    io = TableIO(spark, str(tmp_path))
    df = spark.createDataFrame(
        [(i, f"v{i}") for i in range(6)], "pt int, v string"
    ).withColumn("pt", (F.col("pt") % 3))
    io.write(df, "t", mode="overwrite", partition_by=["pt"])
    p1_files = {
        f: os.path.getmtime(os.path.join(tmp_path, "t", "pt=1", f))
        for f in os.listdir(tmp_path / "t" / "pt=1")
    }

    # replace pt=0 with one row, empty pt=2, leave pt=1 alone
    patch = spark.createDataFrame([(0, "NEW")], "pt int, v string")
    io.patch_partitions(patch, "t", "pt", [0, 2])

    got = sorted((r.pt, r.v) for r in io.read("t", "pt int, v string").collect())
    kept = sorted((1, f"v{i}") for i in (1, 4))
    assert got == [(0, "NEW")] + kept
    assert not (tmp_path / "t" / "pt=2").exists()
    after = {
        f: os.path.getmtime(os.path.join(tmp_path, "t", "pt=1", f))
        for f in os.listdir(tmp_path / "t" / "pt=1")
    }
    assert after == p1_files, "untouched partition was rewritten"
    assert not (tmp_path / "t__patchstage").exists()
    assert not (tmp_path / "t__patch.json").exists()


def test_patch_partitions_crash_recovery(spark, tmp_path):
    """A crash after the commit marker but mid-swap must be healed by
    recover_patch: staged partitions land, emptied partitions are
    deleted, and the replay is idempotent."""
    from kgpipe.io import TableIO

    io = TableIO(spark, str(tmp_path))
    df = spark.createDataFrame([(0, "old0"), (1, "old1"), (2, "old2")], "pt int, v string")
    io.write(df, "t", mode="overwrite", partition_by=["pt"])

    # simulate the crashed patch: staging dir + marker present, no swap
    patch = spark.createDataFrame([(0, "new0")], "pt int, v string")
    patch.write.mode("overwrite").partitionBy("pt").parquet(str(tmp_path / "t__patchstage"))
    io.write_json_atomic(
        "t__patch.json",
        {"part_col": "pt", "parts": [
            {"val": 0, "has_data": True}, {"val": 2, "has_data": False},
        ]},
    )
    io.recover_patch("t")
    io.recover_patch("t")  # replay must be a no-op
    got = sorted((r.pt, r.v) for r in io.read("t", "pt int, v string").collect())
    assert got == [(0, "new0"), (1, "old1")]
    assert not (tmp_path / "t__patch.json").exists()


def test_drop_clears_bucketed_catalog_entry(spark, tmp_path):
    """ADVICE r5: TableIO.drop deleted only the directory, leaving the
    session-catalog bucketed ident alive — a later non-bucketed
    rewrite under the same name was then read through stale bucketed
    metadata by read_bucketed-preferring callers. drop must take the
    catalog entry with the files."""
    io = TableIO(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame([(i, i % 3) for i in range(20)], "k long, v long")
    io.write_bucketed(df, "t", bucket_by=["k"], n_buckets=4)
    ident = io._bucket_ident("t").strip("`")
    assert spark.catalog.tableExists(ident)
    io.drop("t")
    assert not spark.catalog.tableExists(ident)
    # a rewrite under the same name with a partitioned (non-bucketed)
    # layout must read cleanly through the plain-parquet path
    io.write(df.withColumn("b", F.lit("x")), "t", partition_by=["b"])
    assert io.read("t").count() == 20


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
    ledger) must behave exactly like the DataFrame API — including
    across a FRESH CheckpointLog instance (cross-process resume reads
    only the on-disk ledger)."""
    from kgpipe.checkpoints import CheckpointLog

    io = TableIO(spark, str(tmp_path / "wh"))
    log = CheckpointLog(io)
    log.mark_done_rows("a", [(0, 11, 5, 4, 1), (1, 22, 6, 6, 0)])
    log.mark_done(
        "b", spark.createDataFrame([(0, 33, 2, 2, 0)],
                                   "part_id int, fingerprint long, n_in long, "
                                   "n_out long, n_err long"),
    )
    for lg in (log, CheckpointLog(io)):  # warm cache AND fresh instance
        assert lg.completed_set("a") == {(0, 11, 5), (1, 22, 6)}
        assert lg.completed_set("b") == {(0, 33, 2)}
        # DataFrame view agrees with the set view
        assert {tuple(r) for r in lg.completed("a").collect()} == lg.completed_set("a")
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
