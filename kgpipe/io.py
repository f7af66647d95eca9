"""Table-format shim (SURVEY.md §7): Iceberg when its runtime jar is
on the classpath and a catalog is configured, Parquet with identical
partition layout otherwise.

The sandbox has no Iceberg jar and no network for ivy, so Parquet is
the tested path; the API is the thing the pipeline codes against, so
a cluster with Iceberg configured gets real table semantics (hidden
partitioning, snapshot isolation, schema evolution) without touching
the stages. BASELINE.json names Iceberg tables as the input contract —
`configure_iceberg` + `TableIO(catalog=...)` is that seam, and the
tests exercise it when the jar is present (skip otherwise).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def iceberg_conf(catalog: str, warehouse: str) -> dict[str, str]:
    """The session configs that make `catalog` an Iceberg hadoop
    catalog rooted at `warehouse`. Pass to get_spark(extra_conf=...)
    or apply to a builder before getOrCreate — catalog configs are
    session-start-only."""
    return {
        "spark.sql.extensions": (
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
        ),
        f"spark.sql.catalog.{catalog}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
    }


def configure_iceberg(spark: SparkSession, catalog: str, warehouse: str) -> bool:
    """Best-effort runtime configuration of an Iceberg catalog on an
    existing session (works because SparkCatalog instances are
    resolved lazily on first reference). Returns False when the
    runtime jar is absent."""
    if not iceberg_available(spark):
        return False
    for k, v in iceberg_conf(catalog, warehouse).items():
        if k != "spark.sql.extensions":  # extensions are start-only
            spark.conf.set(k, v)
    return True


class TableIO:
    """Read/write named tables under a warehouse root.

    Parquet layout: {root}/{name}/ (+ hive-style partition dirs when
    partition_by is given). With `catalog` set (requires the Iceberg
    jar) the same calls go through `writeTo(catalog.name)` /
    `spark.table` instead. Existence checks go through the Hadoop
    FileSystem API, so resume works on any cluster filesystem
    (HDFS, s3a, gs), not just the driver's local disk.
    """

    def __init__(self, spark: SparkSession, root: str, catalog: str | None = None):
        self.spark = spark
        self.root = root
        self.catalog = catalog
        if catalog is not None and not configure_iceberg(spark, catalog, root):
            raise RuntimeError(
                "Iceberg catalog requested but the runtime jar is not on the classpath"
            )

    # -- path helpers (parquet layout) ---------------------------------
    def path(self, name: str) -> str:
        return f"{self.root.rstrip('/')}/{name}"

    def _fs(self, path: str):
        jvm = self.spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(self.spark._jsc.hadoopConfiguration())
        return fs, hpath

    def _ident(self, name: str) -> str:
        return f"{self.catalog}.{name}"

    def exists(self, name: str) -> bool:
        if self.catalog is not None:
            return self.spark.catalog.tableExists(self._ident(name))
        fs, p = self._fs(self.path(name))
        if not fs.exists(p) or not fs.getFileStatus(p).isDirectory():
            return False
        jvm = self.spark._jvm
        if fs.exists(jvm.org.apache.hadoop.fs.Path(p, "_SUCCESS")):
            return True
        it = fs.listFiles(p, True)
        while it.hasNext():
            if it.next().getPath().getName().endswith(".parquet"):
                return True
        return False

    def write(
        self,
        df: DataFrame,
        name: str,
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
    ) -> None:
        if self.catalog is not None:
            w = df.writeTo(self._ident(name))
            if partition_by:
                from pyspark.sql import functions as F

                w = w.partitionedBy(*[F.col(c) for c in partition_by])
            if mode == "append" and self.exists(name):
                w.append()
            elif mode == "overwrite" and partition_by and self.exists(name):
                # same semantics as dynamic partition overwrite: only
                # the partitions present in df are replaced
                w.overwritePartitions()
            else:
                w.createOrReplace()
            return
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(name))
        # a plain write to a name that previously held a bucketed
        # table leaves the durable bucket-spec marker stale (dynamic
        # partition overwrite replaces partition dirs, not root
        # files) — clear it, or compact() would refuse the
        # no-longer-bucketed table forever
        self._clear_bucket_spec(name)

    def read(self, name: str, schema: str | None = None) -> DataFrame:
        """schema: optional DDL string. Required to round-trip tables
        that may legitimately be empty (a zero-row write leaves no
        parquet footer to infer from)."""
        if self.catalog is not None:
            if not self.exists(name):
                if schema is not None:
                    return self.spark.createDataFrame([], schema)
                raise ValueError(f"no such table: {self._ident(name)}")
            return self.spark.table(self._ident(name))
        r = self.spark.read
        if schema is not None:
            r = r.schema(schema)
        try:
            return r.parquet(self.path(name))
        except Exception:
            if schema is not None:
                return self.spark.createDataFrame([], schema)
            raise

    # -- driver-side fast path for TINY metadata tables ------------------
    # A Spark write of a one-row stats table or a 64-row ledger append
    # costs a full job + commit protocol (~0.5-0.7s of fixed latency);
    # at three ledger appends + a stats write per pipeline run that is
    # ~2s of pure overhead. On a LOCAL warehouse the same bytes land
    # via pyarrow + an atomic rename in ~10ms, producing parquet files
    # Spark reads interchangeably (the read path already tolerates
    # mixed files; leading-underscore temp names are invisible to
    # listings, like _SUCCESS). Non-local warehouses and catalog mode
    # keep the Spark writer — correctness first, the fast path is an
    # I/O shortcut with identical on-disk semantics.

    def _local_dir(self, name: str) -> str | None:
        root = self.path(name)
        if root.startswith("file:"):
            return root[len("file:"):]
        if "://" in root or root.startswith("hdfs:"):
            return None
        return root

    @staticmethod
    def _pa_type(simple: str):
        """Spark type name → pyarrow type for the tiny-table fast
        path. Covers both the schema.simpleString() names (bigint)
        and their DDL aliases (long, integer) — a name outside the
        map routes the caller to the Spark writer."""
        import pyarrow as pa

        return {
            "int": pa.int32(), "integer": pa.int32(),
            "bigint": pa.int64(), "long": pa.int64(),
            "string": pa.string(),
            "double": pa.float64(), "float": pa.float32(),
            "boolean": pa.bool_(),
        }.get(simple)

    @staticmethod
    def _flat_ddl(ddl: str) -> list[tuple[str, str]] | None:
        """[(name, type)] of a DDL made of `name type` pairs only; None
        for anything else (type parameters, nested types, quoted names,
        constraints) — the caller then takes the Spark writer."""
        if any(c in ddl for c in "(<`"):
            return None
        pairs = []
        for col in ddl.split(","):
            parts = col.split()
            if len(parts) != 2:
                return None
            pairs.append((parts[0], parts[1]))
        return pairs

    def write_small(self, df: DataFrame, name: str, mode: str = "overwrite") -> None:
        """Write a SMALL DataFrame (collected to the driver) as one
        parquet file. Semantics match write(): overwrite replaces the
        table, append adds rows. Falls back to the Spark writer off
        the local filesystem or in catalog mode."""
        pairs = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
        if self.catalog is not None or self._local_dir(name) is None or any(
            self._pa_type(t) is None for _, t in pairs
        ):
            self.write(df, name, mode=mode)
            return
        self._write_small_local(df.collect(), pairs, name, mode)

    def write_small_rows(
        self, rows: list[tuple], ddl: str, name: str, mode: str = "overwrite",
        partition: tuple[str, str] | None = None,
    ) -> None:
        """write_small for DRIVER-LOCAL rows: no Spark DataFrame is
        built on the fast path at all. A createDataFrame(rows) +
        collect() round-trip on tiny local data costs a full job's
        fixed latency (~0.3-0.7s measured on local[32]); the ledger
        and stats tables pay that several times per pipeline run for
        kilobytes of data. Same on-disk bytes as write_small (same
        schema mapping, same atomic rename). Falls back to the Spark
        writer off the local filesystem / in catalog mode / for types
        outside the fast-path map or DDL the simple parser cannot read
        (parameterized or nested types such as decimal(10,2) or
        struct<a:int,b:int>) — semantics preserved everywhere.

        partition=(col, value): the rows (without col) become partition
        col=value of a hive-partitioned table, with the semantics of
        write(mode="overwrite", partition_by=[col]) under dynamic
        partition overwrite: that partition alone is replaced, and no
        rows replace nothing."""
        if partition is not None:
            col, val = partition
            if not rows:
                return
            if self.catalog is None and self._local_dir(name) is not None:
                name = f"{name}/{col}={val}"
            else:
                from pyspark.sql import functions as F

                df = self.spark.createDataFrame(rows, ddl).withColumn(col, F.lit(val))
                self.write(df, name, mode="overwrite", partition_by=[col])
                return
        pairs = self._flat_ddl(ddl)
        if (
            self.catalog is not None or self._local_dir(name) is None or pairs is None
            or any(self._pa_type(t) is None for _, t in pairs)
        ):
            self.write(self.spark.createDataFrame(rows, ddl), name, mode=mode)
            return
        self._write_small_local(rows, pairs, name, mode)

    def _write_small_local(
        self, rows, pairs: list[tuple[str, str]], name: str, mode: str
    ) -> None:
        import os
        import shutil
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        d = self._local_dir(name)
        schema = pa.schema([pa.field(n, self._pa_type(t)) for n, t in pairs])
        cols = [[r[i] for r in rows] for i in range(len(pairs))]
        table = pa.Table.from_arrays(
            [pa.array(c, type=f.type) for c, f in zip(cols, schema)], schema=schema
        )
        if mode == "overwrite":
            shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f"_tmp-{uuid.uuid4().hex}")
        final = os.path.join(d, f"part-{uuid.uuid4().hex}-kgpipe.parquet")
        pq.write_table(table, tmp)
        os.rename(tmp, final)  # atomic on local fs
        self._clear_bucket_spec(name)

    def read_small_rows(self, name: str) -> list[dict] | None:
        """Driver-side read of a small table as a list of row dicts —
        None when the fast path does not apply (non-local / catalog /
        missing table); callers then use the Spark reader."""
        if self.catalog is not None:
            return None
        d = self._local_dir(name)
        if d is None:
            return None
        import os

        if not os.path.isdir(d):
            return None
        import pyarrow.parquet as pq

        parts = [
            os.path.join(d, f) for f in os.listdir(d)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        ]
        if not parts:
            return []
        out: list[dict] = []
        for p in parts:
            out.extend(pq.read_table(p).to_pylist())
        return out

    def _bucket_ident(self, name: str) -> str:
        """Session-catalog identifier for a bucketed table, namespaced
        by warehouse root so two TableIO instances with different
        warehouses in one session cannot clobber each other's bucketing
        metadata; backtick-quoted so the name never interpolates as
        SQL."""
        import hashlib
        import re

        tag = hashlib.md5(self.root.rstrip("/").encode()).hexdigest()[:8]
        safe = re.sub(r"[^A-Za-z0-9_]", "_", name)
        return f"`kgpipe_b_{tag}_{safe}`"

    def write_bucketed(
        self,
        df: DataFrame,
        name: str,
        bucket_by: list[str],
        n_buckets: int,
        sort_by: list[str] | None = None,
    ) -> None:
        """Bucketed (and optionally sorted) table write: co-locates
        rows by hash(bucket_by) at REST, so a join or aggregation on
        the bucket key between same-bucketed tables runs with NO
        exchange — the shuffle is paid once at write time instead of
        per query. This is the on-disk layout a 100 TB edge/triple
        store wants for entity-keyed work. Bucketing metadata lives
        in the session catalog (saveAsTable, warehouse-namespaced
        identifier); the files live under the warehouse root like
        every other table."""
        ident = self._bucket_ident(name)
        self.spark.sql(f"drop table if exists {ident}")
        w = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_by)
        if sort_by:
            w = w.sortBy(*sort_by)
        w.option("path", self.path(name)).format("parquet").saveAsTable(
            ident.strip("`")
        )
        # durable bucket-spec marker NEXT TO the files: the session
        # catalog's bucketing metadata dies with the session, but the
        # one-file-per-bucket layout it paid for persists — compact()
        # in a FRESH session must still refuse to rewrite it into a
        # non-bucketed layout. Leading underscore keeps the marker
        # invisible to parquet file listings.
        self._write_marker(name, {
            "bucket_by": list(bucket_by),
            "n_buckets": int(n_buckets),
            "sort_by": list(sort_by or []),
        })

    _BUCKET_MARKER = "_kgpipe_bucket_spec.json"

    def _write_marker(self, name: str, spec: dict) -> None:
        import json

        fs, p = self._fs(f"{self.path(name)}/{self._BUCKET_MARKER}")
        out = fs.create(p, True)
        # writeBytes(String), not write(byte[]): py4j resolves the
        # bytearray call to the write(int) overload and drops the data
        out.writeBytes(json.dumps(spec, ensure_ascii=True))
        out.close()

    def _clear_bucket_spec(self, name: str) -> None:
        """Remove the durable bucket marker and the session-catalog
        bucket entry after a non-bucketed rewrite of `name`. Both
        unconditionally: a full overwrite may have already wiped the
        marker file while the catalog entry lives on."""
        fs, p = self._fs(f"{self.path(name)}/{self._BUCKET_MARKER}")
        if fs.exists(p):
            fs.delete(p, False)
        self.spark.sql(f"drop table if exists {self._bucket_ident(name)}")

    def bucket_spec(self, name: str) -> dict | None:
        """The durable bucket spec written by write_bucketed, or None
        for unbucketed tables (or tables from older layouts)."""
        import json

        fs, p = self._fs(f"{self.path(name)}/{self._BUCKET_MARKER}")
        if not fs.exists(p):
            return None
        stream = fs.open(p)
        try:
            # commons-io (on Spark's classpath) — py4j cannot fill a
            # Python bytearray in place through readFully
            txt = self.spark._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
            return json.loads(txt)
        finally:
            stream.close()

    def read_bucketed(self, name: str) -> DataFrame:
        """Read a bucketed table THROUGH the catalog (a plain
        spark.read.parquet of the same files loses the bucketing
        metadata and re-shuffles)."""
        return self.spark.table(self._bucket_ident(name))

    def table_bytes(self, name: str) -> int:
        """Total bytes of a table's data files (recursive, Hadoop FS —
        works on cluster storage)."""
        fs, p = self._fs(self.path(name))
        if not fs.exists(p):
            return 0
        total = 0
        it = fs.listFiles(p, True)
        while it.hasNext():
            st = it.next()
            if st.getPath().getName().endswith(".parquet"):
                total += st.getLen()
        return total

    # filesystem schemes whose rename is NOT atomic (object stores:
    # rename = copy + delete, and a crashed "rename" can leave both or
    # neither path) — the directory-swap compaction is refused there
    _NON_ATOMIC_RENAME_SCHEMES = frozenset(
        {"s3", "s3a", "s3n", "gs", "wasb", "wasbs", "abfs", "abfss", "oss", "cos", "swift"}
    )

    def _scheme(self) -> str | None:
        from urllib.parse import urlparse

        return urlparse(self.root).scheme or None

    def compact(
        self,
        name: str,
        target_file_bytes: int = 128 << 20,
        partition_by: list[str] | None = None,
        schema: str | None = None,
    ) -> int | None:
        """Small-file compaction — the table-maintenance operation a
        100 TB lakehouse lives or dies by (every incremental append
        and fine-grained partition overwrite leaves small files, and
        scan cost grows with file COUNT once files are under a row
        group). Rewrites the table into ceil(bytes/target) files —
        for a partitioned table, rows are clustered by the partition
        columns plus a content-derived salt sized so each partition
        gets roughly its share of the file budget (a huge partition
        is split across tasks, not funneled through one) — then swaps
        directories old→aside, new→old, delete-aside, so a crash at
        any point (including crash-then-retry: a missing live dir
        with a surviving aside is restored BEFORE anything else, and
        the aside is only deleted after the live path is verified
        non-empty) leaves a complete copy on disk. Readers racing the
        swap can observe a missing path for the instant between the
        two renames — single-writer maintenance-window semantics, not
        MVCC. Returns the new file-count target.

        REFUSED on object stores (s3a/gs/abfs/…): their "rename" is
        copy+delete, so the swap's crash-safety argument does not
        hold — use the Iceberg catalog path there, whose
        rewrite_data_files is snapshot-safe on any store.

        Refuses tables written with write_bucketed (checked via both
        the session catalog and the durable _kgpipe_bucket_spec.json
        marker, so a fresh session cannot silently flatten a bucketed
        layout): re-run write_bucketed to compact those (it already
        writes one file per bucket).

        With an Iceberg catalog configured, compaction is the
        catalog's job (`CALL catalog.system.rewrite_data_files`) —
        snapshot-safe, no reader disruption; returns the procedure's
        rewritten-file count (None if the procedure returns nothing)."""
        if self.catalog is not None:
            import re

            ident = self._ident(name)
            if not re.fullmatch(r"[A-Za-z0-9_][A-Za-z0-9_.]*", ident):
                raise ValueError(f"compact: unsafe table identifier {ident!r}")
            rows = self.spark.sql(
                f"CALL {self.catalog}.system.rewrite_data_files("
                f"table => '{ident}')"
            ).collect()
            try:
                return int(rows[0]["rewritten_data_files_count"])
            except Exception:
                return None
        scheme = self._scheme()
        if scheme in self._NON_ATOMIC_RENAME_SCHEMES:
            raise ValueError(
                f"compact: directory-swap compaction is unsafe on {scheme}:// "
                "(rename is copy+delete, not atomic) — configure an Iceberg "
                "catalog (TableIO(catalog=...)) and compact through "
                "rewrite_data_files instead"
            )
        if (
            self.spark.catalog.tableExists(self._bucket_ident(name).strip("`"))
            or self.bucket_spec(name) is not None
        ):
            raise ValueError(
                f"compact: {name!r} is a bucketed table — re-run "
                "write_bucketed instead"
            )
        import math

        fs, old_p = self._fs(self.path(name))
        _, aside_p = self._fs(self.path(f"{name}__precompact"))
        if fs.exists(aside_p):
            if self.exists(name):
                # live table verified present — the aside is a stale
                # leftover from a completed (or abandoned) run
                fs.delete(aside_p, True)
            else:
                # a previous run crashed between the two renames: the
                # aside IS the only complete copy — restore it first
                fs.delete(old_p, True)
                if not fs.rename(aside_p, old_p):
                    raise IOError(
                        f"compact: crash recovery rename {aside_p} -> {old_p} failed"
                    )

        size = self.table_bytes(name)
        n = max(1, math.ceil(size / target_file_bytes))
        df = self.read(name, schema)
        tmp = f"{name}__compacting"
        from pyspark.sql import functions as F

        if partition_by:
            # k files per partition value so the budget is shared,
            # with a deterministic content salt (task-retry-safe)
            n_vals = df.select(*partition_by).distinct().count() or 1
            k = max(1, math.ceil(n / n_vals))
            data_cols = [c for c in df.columns if c not in partition_by] or list(
                partition_by
            )
            salt = F.pmod(F.xxhash64(*[F.col(c) for c in data_cols]), F.lit(k))
            out = df.repartition(n, *[F.col(c) for c in partition_by], salt)
        else:
            out = df.repartition(n)
        w = out.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(tmp))
        # three-step swap: at no instant is the only copy deleted
        _, tmp_p = self._fs(self.path(tmp))
        if not fs.rename(old_p, aside_p):
            raise IOError(f"compact: rename {old_p} -> {aside_p} failed")
        if not fs.rename(tmp_p, old_p):
            self._restore_aside(fs, aside_p, old_p)  # restore before failing
            raise IOError(f"compact: rename {tmp_p} -> {old_p} failed")
        # delete the aside ONLY after verifying the live path took:
        # self.exists checks for actual parquet data, not just a dir
        if not self.exists(name):
            self._restore_aside(fs, aside_p, old_p)
            raise IOError(f"compact: swapped-in table at {old_p} is empty — restored")
        fs.delete(aside_p, True)
        return n

    @staticmethod
    def _restore_aside(fs, aside_p, live_p) -> None:
        """Move the aside copy back to the live path. Hadoop
        FileSystem.rename onto an EXISTING directory moves the source
        INSIDE it (nesting the aside under the live path instead of
        replacing it), so any dir the failed swap left at the live
        path must be deleted first."""
        if fs.exists(live_p):
            fs.delete(live_p, True)
        if not fs.rename(aside_p, live_p):
            raise IOError(f"restore rename {aside_p} -> {live_p} failed")

    def recover_replace(self, name: str) -> None:
        """Heal a table mid-`replace`: a crash between the two swap
        renames leaves the live path missing with the aside holding
        the only complete copy — restore it. A stale aside next to a
        healthy live table is deleted. MUST be called before reading
        a table that is maintained via replace() (a schema'd read of
        the missing live path would silently return empty)."""
        if self.catalog is not None:
            return
        fs, live = self._fs(self.path(name))
        _, aside = self._fs(self.path(f"{name}__replaced"))
        if not fs.exists(aside):
            return
        if self.exists(name):
            fs.delete(aside, True)
        else:
            fs.delete(live, True)
            if not fs.rename(aside, live):
                raise IOError(f"replace: recovery rename {aside} -> {live} failed")

    def replace(
        self,
        df: DataFrame,
        name: str,
        partition_by: list[str] | None = None,
        side_files: dict[str, object] | None = None,
    ) -> None:
        """Crash-safe FULL replace for tables whose next version is
        DERIVED FROM the current one (e.g. the incrementally merged
        canonical_map, or a layer-fold of the batch-layered edge
        table): a plain overwrite deletes the live data before
        writing, so a crash mid-write destroys the very input its
        retry needs. Here the new version lands in <name>__next
        while the live table stays intact, then swaps in via renames
        (live→aside, next→live, delete aside) — at no instant is the
        only copy deleted, and recover_replace() heals the one
        crash window between the renames. Refused on object stores
        (rename is copy+delete there — use an Iceberg catalog, whose
        createOrReplace is snapshot-safe and taken automatically in
        catalog mode).

        side_files maps table-relative paths to small JSON objects
        written into the staged dir AFTER the data write and BEFORE
        the swap — so ledger/marker files land atomically WITH the
        data they describe (a layer-fold's coverage marker must never
        be observable without its folded rows, or vice versa)."""
        if self.catalog is not None:
            if side_files:
                raise ValueError(
                    "replace: side_files have no catalog-mode equivalent — "
                    "table-adjacent markers are a parquet-layout concept"
                )
            self.write(df, name, mode="overwrite", partition_by=partition_by)
            return
        scheme = self._scheme()
        if scheme in self._NON_ATOMIC_RENAME_SCHEMES:
            raise ValueError(
                f"replace: rename-swap is unsafe on {scheme}:// — configure an "
                "Iceberg catalog (TableIO(catalog=...)) for snapshot-safe "
                "replacement"
            )
        self.recover_replace(name)
        nxt = f"{name}__next"
        self.write(df, nxt, mode="overwrite", partition_by=partition_by)
        if side_files:
            import json

            for rel, obj in side_files.items():
                fs2, p2 = self._fs(f"{self.path(nxt)}/{rel}")
                out = fs2.create(p2, True)
                out.writeBytes(json.dumps(obj, ensure_ascii=True))
                out.close()
        fs, live = self._fs(self.path(name))
        _, nxt_p = self._fs(self.path(nxt))
        _, aside = self._fs(self.path(f"{name}__replaced"))
        had_live = self.exists(name)
        if had_live and not fs.rename(live, aside):
            raise IOError(f"replace: rename {live} -> {aside} failed")
        if not fs.rename(nxt_p, live):
            if had_live:
                fs.rename(aside, live)
            raise IOError(f"replace: rename {nxt_p} -> {live} failed")
        if had_live:
            fs.delete(aside, True)
        # write() cleared the staged `name__next` bucket metadata, not
        # `name`'s: a replace of a previously BUCKETED table must also
        # drop the live ident's session-catalog entry and bucket-spec
        # marker, or read_bucketed-preferring callers keep stale
        # bucketed metadata — same class as the drop() fix (ADVICE r6)
        self._clear_bucket_spec(name)

    # -- small json side-files (markers, applied-batch ledgers) --------
    def write_json_atomic(self, name: str, obj) -> None:
        """Write a small root-level json file via temp+rename, so a
        reader never observes a half-written marker. Rename within one
        directory is atomic on HDFS/local (object stores are already
        refused for every swap-based protocol here)."""
        import json

        fs, tmp = self._fs(self.path(f"{name}.tmp"))
        _, final = self._fs(self.path(name))
        out = fs.create(tmp, True)
        out.writeBytes(json.dumps(obj, ensure_ascii=True))
        out.close()
        if fs.exists(final):
            fs.delete(final, False)
        if not fs.rename(tmp, final):
            raise IOError(f"write_json_atomic: rename {tmp} -> {final} failed")

    def read_json(self, name: str):
        """Read a json side-file written by write_json_atomic, or None
        if absent."""
        import json

        fs, p = self._fs(self.path(name))
        if not fs.exists(p):
            return None
        stream = fs.open(p)
        try:
            txt = self.spark._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
            return json.loads(txt)
        finally:
            stream.close()

    # -- partition-level crash-safe patching ---------------------------
    def _patch_marker(self, name: str) -> str:
        return f"{name}__patch.json"

    def recover_patch(self, name: str) -> None:
        """Finish a partition patch whose process died mid-swap. The
        commit marker (written only AFTER the staging dir is complete)
        records every partition value with whether staged data exists
        for it; replaying the swap loop is idempotent:
          - has_data and staged dir present  → swap it in now
          - has_data and staged dir absent   → already swapped, skip
          - no data (partition emptied)      → delete the live dir
        MUST run before reading or patching a partition-patched table."""
        marker = self.read_json(self._patch_marker(name))
        if marker is None:
            return
        part_cols = marker.get("part_cols") or [marker["part_col"]]
        fs, root = self._fs(self.path(name))
        _, staging = self._fs(self.path(f"{name}__patchstage"))
        for ent in marker["parts"]:
            val, has_data = ent["val"], ent["has_data"]
            vals = val if isinstance(val, list) else [val]
            rel = "/".join(f"{c}={v}" for c, v in zip(part_cols, vals))
            jvm = self.spark._jvm
            live_d = jvm.org.apache.hadoop.fs.Path(root, rel)
            staged_d = jvm.org.apache.hadoop.fs.Path(staging, rel)
            if has_data:
                if fs.exists(staged_d):
                    if fs.exists(live_d):
                        fs.delete(live_d, True)
                    fs.mkdirs(live_d.getParent())  # nested layouts: rename needs the parent
                    if not fs.rename(staged_d, live_d):
                        raise IOError(f"patch: rename {staged_d} -> {live_d} failed")
            else:
                if fs.exists(live_d):
                    fs.delete(live_d, True)
        fs.delete(staging, True)
        fs, mk = self._fs(self.path(self._patch_marker(name)))
        fs.delete(mk, False)

    def patch_partitions(
        self, df: DataFrame, name: str, part_col, part_vals: list
    ) -> None:
        """Crash-safe replacement of a SUBSET of a partitioned table's
        partitions — the primitive behind incremental edge
        materialization: at 100 TB a daily delta must rewrite the few
        partitions it touches, not the table.

        part_col may be one column name or a list (hive-nested layout,
        e.g. ["b_fp", "part_id"]); part_vals then holds tuples in the
        same order. `df` must contain the FULL new content of exactly
        the partitions in `part_vals` (a partition whose new content
        is empty is deleted). Protocol: (1) heal any earlier crashed
        patch; (2) write df into a staging dir, partitioned — the live
        table is read-consistent throughout, so df may derive from it;
        (3) write a commit marker listing every target partition and
        whether staged data exists for it; (4) swap partition dirs
        (delete live, rename staged — the staged dir is never deleted
        before landing, so a crash between the two steps leaves the
        only copy in staging and the marker replays it); (5) drop
        staging + marker. A crash before (3) leaves the live table
        untouched; after (3), recover_patch completes the swap.

        Refused on object stores — rename is copy+delete there; use
        the Iceberg catalog's row-level operations instead."""
        if self.catalog is not None:
            raise ValueError(
                "patch_partitions: use the Iceberg catalog's overwritePartitions "
                "path (TableIO.write with partition_by) in catalog mode"
            )
        scheme = self._scheme()
        if scheme in self._NON_ATOMIC_RENAME_SCHEMES:
            raise ValueError(
                f"patch_partitions: unsafe on {scheme}:// (rename is copy+delete)"
            )
        part_cols = [part_col] if isinstance(part_col, str) else list(part_col)
        self.recover_patch(name)
        staging = f"{name}__patchstage"
        fs, staging_p = self._fs(self.path(staging))
        if fs.exists(staging_p):
            fs.delete(staging_p, True)  # stale pre-marker leftovers
        df.write.mode("overwrite").partitionBy(*part_cols).parquet(self.path(staging))
        jvm = self.spark._jvm
        parts = []
        for val in part_vals:
            vals = list(val) if isinstance(val, (list, tuple)) else [val]
            rel = "/".join(f"{c}={v}" for c, v in zip(part_cols, vals))
            staged_d = jvm.org.apache.hadoop.fs.Path(staging_p, rel)
            ent_val = vals if len(part_cols) > 1 else vals[0]
            parts.append({"val": ent_val, "has_data": bool(fs.exists(staged_d))})
        self.write_json_atomic(
            self._patch_marker(name), {"part_cols": part_cols, "parts": parts}
        )
        # the swap loop IS the recovery loop — one code path, replayed
        # verbatim after any crash past the marker write
        self.recover_patch(name)

    def drop(self, name: str) -> None:
        if self.catalog is not None:
            self.spark.sql(f"drop table if exists {self._ident(name)}")
            return
        fs, p = self._fs(self.path(name))
        fs.delete(p, True)
        # the session-catalog bucketed ident (write_bucketed) must not
        # outlive the files: a later non-bucketed rewrite of the same
        # name would otherwise be read through stale bucketed metadata
        # by read_bucketed-preferring callers — failing or returning
        # wrong rows at action time
        self.spark.sql(f"drop table if exists {self._bucket_ident(name)}")
