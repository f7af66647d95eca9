"""Lineage + counters + idempotent resume (north rule; SURVEY.md §7
M6).

Every pipeline stage records one checkpoint row per unit of work it
completed — for the pipeline, one row per batch layer:

    checkpoints(stage, part_id, fingerprint, n_in, n_out, n_err,
                status, ts)

`fingerprint` identifies the unit's input (the pipeline stores the
batch id there), so a resume run can verify it is skipping work over
the SAME input, not merely the same unit number; a rerun after a crash
redoes only units without a row (idempotence test: SURVEY.md §5.2-5).

The reference has no persistence at all (a crashed ntto run restarts
from byte 0); this subsystem is what makes the same dataflow safe at
10^12 pages.
"""

from __future__ import annotations

import threading
import time

from pyspark.sql import DataFrame, functions as F

from kgpipe.io import TableIO

CHECKPOINT_TABLE = "checkpoints"
CHECKPOINT_SCHEMA = (
    "stage string, part_id int, fingerprint long, n_in long, n_out long, "
    "n_err long, status string, ts double"
)


def with_part_id(df: DataFrame, key_col: str, n_parts: int) -> DataFrame:
    """Deterministic partition assignment — a pure function of the
    row key, NOT of Spark's physical partitioning, so it is stable
    across cluster sizes and reruns."""
    return df.withColumn(
        "part_id", F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_parts)).cast("int")
    )


class CheckpointLog:
    """The ledger is tiny by construction (one row per stage × unit
    of work), so this object keeps a DRIVER-SIDE row cache: the
    parquet table is scanned at most once per CheckpointLog instance
    (a fresh instance per run re-reads disk, so resume across
    processes is untouched), and the per-stage completed()/read()
    lookups that every stage makes are served from local rows instead
    of one fixed-latency Spark job each — three scan jobs saved per
    pipeline run. mark_done appends to disk first (crash-safe: an
    unflushed cache is only ever MISSING completed work, never
    inventing it), then to the cache. A lock guards the cache, so one
    log may be shared across threads."""

    def __init__(self, io: TableIO):
        self.io = io
        self._rows: list[tuple] | None = None  # ledger cache; None = not loaded
        self._lock = threading.Lock()

    _COLS = ("stage", "part_id", "fingerprint", "n_in", "n_out", "n_err",
             "status", "ts")

    def _load(self) -> list[tuple]:
        """A snapshot of the ledger rows (read from disk once)."""
        with self._lock:
            if self._rows is None:
                fast = self.io.read_small_rows(CHECKPOINT_TABLE)
                if fast is not None:
                    self._rows = [tuple(r[c] for c in self._COLS) for r in fast]
                elif self.io.exists(CHECKPOINT_TABLE):
                    self._rows = [
                        tuple(r)
                        for r in self.io.read(CHECKPOINT_TABLE, CHECKPOINT_SCHEMA)
                        .select(*self._COLS)
                        .collect()
                    ]
                else:
                    self._rows = []
            return list(self._rows)

    def read(self) -> DataFrame:
        return self.io.spark.createDataFrame(self._load(), CHECKPOINT_SCHEMA)

    def completed_set(self, stage: str) -> set[tuple]:
        """Driver-side {(part_id, fingerprint, n_in)} of partitions
        already done for a stage — the ledger is tiny, so set logic
        never needs a Spark job (a createDataFrame+collect round-trip
        costs a full job's fixed latency per stage). n_in is part of
        the identity: the xor fingerprint of a multiset cancels rows
        with even multiplicity, so two inputs differing by an even
        number of copies of existing rows would collide — the row
        count breaks the tie."""
        return {
            (r[1], r[2], r[3])
            for r in self._load()
            if r[0] == stage and r[6] == "done"
        }

    def completed(self, stage: str) -> DataFrame:
        """completed_set as a DataFrame, for join-shaped callers."""
        return self.io.spark.createDataFrame(
            sorted(self.completed_set(stage)),
            "part_id int, fingerprint long, n_in long",
        )

    def counter_sums(self) -> dict[str, dict[str, int]]:
        """Per-stage {n_in, n_out, n_err} sums over the ledger —
        driver-side Python over the cached rows, same arithmetic as a
        groupBy('stage').sum() over read() (which cost one aggregation
        job per pipeline run for a <100-row local relation)."""
        out: dict[str, dict[str, int]] = {}
        for r in self._load():
            c = out.setdefault(r[0], {"n_in": 0, "n_out": 0, "n_err": 0})
            c["n_in"] += r[3]
            c["n_out"] += r[4]
            c["n_err"] += r[5]
        return out

    def mark_done_rows(self, stage: str, rows: list[tuple]) -> None:
        """rows: [(part_id, fingerprint, n_in, n_out, n_err)] —
        driver-local, appended to the ledger without building a Spark
        DataFrame (write_small_rows). Disk first, then cache: a lost
        cache only ever FORGETS completed work."""
        ts = time.time()
        srows = [
            (stage, r[0], r[1], r[2], r[3], r[4], "done", ts) for r in rows
        ]
        self.io.write_small_rows(srows, CHECKPOINT_SCHEMA, CHECKPOINT_TABLE,
                                 mode="append")
        with self._lock:
            if self._rows is not None:
                self._rows.extend(srows)

    def mark_done(self, stage: str, stats: DataFrame) -> None:
        """stats: (part_id, fingerprint, n_in, n_out, n_err)."""
        self.mark_done_rows(
            stage,
            [
                (r[0], r[1], r[2], r[3], r[4])
                for r in stats.select(
                    "part_id", "fingerprint", "n_in", "n_out", "n_err"
                ).collect()
            ],
        )
