"""Warehouse tables as Parquet directories under one root, with the
crash-safe swaps the pipeline builds on: `replace` (a whole table,
staged beside the live one and renamed in), `compact` (small-file
compaction by the same directory swap) and atomic JSON side files.
Every existence check and rename goes through the Hadoop FileSystem
API, so resume works on any cluster filesystem (HDFS, local); object
stores, whose rename is copy+delete, are refused for the swaps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


class TableIO:
    """Read/write named tables under a warehouse root.

    Parquet layout: {root}/{name}/ (+ hive-style partition dirs when
    partition_by is given). Existence checks go through the Hadoop
    FileSystem API, so resume works on any cluster filesystem
    (HDFS, s3a, gs), not just the driver's local disk.
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    # -- path helpers (parquet layout) ---------------------------------
    def path(self, name: str) -> str:
        return f"{self.root.rstrip('/')}/{name}"

    def _fs(self, path: str):
        jvm = self.spark._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = hpath.getFileSystem(self.spark._jsc.hadoopConfiguration())
        return fs, hpath

    def exists(self, name: str) -> bool:
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
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(name))

    def read(self, name: str, schema: str | None = None) -> DataFrame:
        """schema: optional DDL string. Required to round-trip tables
        that may legitimately be empty (a zero-row write leaves no
        parquet footer to infer from)."""
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
    # listings, like _SUCCESS). Non-local warehouses keep the Spark
    # writer — correctness first, the fast path is an
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

    def write_small_rows(
        self, rows: list[tuple], ddl: str, name: str, mode: str = "overwrite"
    ) -> None:
        """Write SMALL driver-local rows as one parquet file: no Spark
        DataFrame is built on the fast path at all. A createDataFrame(rows) +
        collect() round-trip on tiny local data costs a full job's
        fixed latency (~0.3-0.7s measured on local[32]); the ledger
        and stats tables pay that several times per pipeline run for
        kilobytes of data. Semantics match write(): overwrite replaces
        the table, append adds rows, by one atomic rename. Falls back
        to the Spark writer off the local filesystem, for types outside the
        fast-path map, or for DDL the simple parser cannot read
        (parameterized or nested types such as decimal(10,2) or
        struct<a:int,b:int>) — semantics preserved everywhere."""
        pairs = self._flat_ddl(ddl)
        if (
            self._local_dir(name) is None or pairs is None
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

    def read_small_rows(self, name: str) -> list[dict] | None:
        """Driver-side read of a small table as a list of row dicts —
        None when the fast path does not apply (non-local / missing
        table); callers then use the Spark reader."""
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
    ) -> int:
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
        hold."""
        scheme = self._scheme()
        if scheme in self._NON_ATOMIC_RENAME_SCHEMES:
            raise ValueError(
                f"compact: directory-swap compaction is unsafe on {scheme}:// "
                "(rename is copy+delete, not atomic) — compact such tables "
                "through a snapshot-safe table format (e.g. Iceberg's "
                "rewrite_data_files) instead"
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
    ) -> None:
        """Crash-safe FULL replace for tables whose next version is
        DERIVED FROM the current one (e.g. the incrementally merged
        canonical_map, or a triples_raw rebuild that keeps the rows of
        unchanged urls): a plain overwrite deletes the live data
        before writing, so a crash mid-write destroys the very input
        its retry needs. Here the new version lands in <name>__next
        while the live table stays intact, then swaps in via renames
        (live→aside, next→live, delete aside) — at no instant is the
        only copy deleted, and recover_replace() heals the one
        crash window between the renames. Refused on object stores
        (rename is copy+delete there)."""
        scheme = self._scheme()
        if scheme in self._NON_ATOMIC_RENAME_SCHEMES:
            raise ValueError(
                f"replace: rename-swap is unsafe on {scheme}:// — replace "
                "such tables through a snapshot-safe table format (e.g. "
                "Iceberg) instead"
            )
        self.recover_replace(name)
        nxt = f"{name}__next"
        self.write(df, nxt, mode="overwrite", partition_by=partition_by)
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

    # -- small json side-files (markers, manifests) --------------------
    def write_json_atomic(self, name: str, obj) -> None:
        """Write a small json file under the root via temp+rename, so a
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

    def drop(self, name: str) -> None:
        fs, p = self._fs(self.path(name))
        fs.delete(p, True)
