"""SparkSession factory with scale-aware defaults.

Local mode is a stand-in for a multi-executor cluster: the configs
here (AQE, skew-join handling, shuffle-partition sizing, Arrow) are
the ones that matter at cluster scale; tests exercise them on
local[N].
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "kgpipe",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the pipeline.

    - AQE on: runtime shuffle-partition coalescing + skew-join splits.
    - Arrow on: every pandas UDF / mapInPandas stage moves columnar
      batches, not pickled rows.
    - shuffle partitions sized to parallelism, not the 200 default.
    - UTC session TZ so results compare exactly against DuckDB oracles.
    """
    # Make the package importable in executor Python workers. On a
    # real cluster this is `spark-submit --py-files kgpipe.zip`; in
    # local mode the worker daemon inherits the driver's environment,
    # so extend PYTHONPATH before the session starts.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = pkg_root + (os.pathsep + pp if pp else "")

    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    cores = _infer_parallelism(master, extra_conf or {})
    if shuffle_partitions is None:
        # local: one shuffle partition per core (bench-stable); cluster:
        # 2× total executor cores — the standard headroom so AQE can
        # coalesce down rather than tasks straggle up
        shuffle_partitions = (
            max(cores, 8) if master.startswith("local") else max(2 * cores, 64)
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # resume semantics: rewriting a checkpoint partition replaces
        # exactly that partition's files, leaving completed ones intact
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # NOTE: no spark.sql.ansi override — every operator is written
        # overflow-free (masked 32-bit hash families, bit_xor set
        # fingerprints) so results are identical whether the session
        # owner runs ANSI on (Spark 4 default) or off. Correctness
        # must never depend on a session conf the caller controls.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # small Arrow batches keep each Python worker's working set
        # cache-resident: at 32 workers, 50k-row batches of html
        # saturated DRAM bandwidth and collapsed per-core throughput
        # ~12x (measured); 2k batches made local[32] 5.8x faster on
        # the fused page chain with no measurable cost at low
        # parallelism
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2000")
        # guarantee at least one input split per core: a compact
        # parquet table under maxPartitionBytes otherwise becomes ONE
        # task and the whole narrow UDF chain runs sequentially no
        # matter how many executors exist
        .config("spark.sql.files.minPartitionNum", str(max(cores, shuffle_partitions)))
        # default 4MB open-cost stops small-but-CPU-heavy tables (e.g.
        # compressed html) from splitting to full parallelism
        .config("spark.sql.files.openCostInBytes", str(1 << 20))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    # ntto -cpuprofile analogue: SPARK_GRAFT_EVENTLOG=<dir> writes the
    # Spark event log there for post-hoc profiling (history server /
    # stage-time analysis of bench runs)
    event_dir = os.environ.get("SPARK_GRAFT_EVENTLOG")
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        builder = builder.config("spark.eventLog.enabled", "true").config(
            "spark.eventLog.dir", event_dir
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _parse_local_cores(master: str) -> int:
    if master.startswith("local["):
        inner = master[len("local[") : -1]
        if inner == "*":
            return os.cpu_count() or 8
        try:
            return int(inner)
        except ValueError:
            return 8
    return 32


def _infer_parallelism(master: str, conf: dict) -> int:
    """Total parallel task slots for sizing decisions (shuffle
    partitions, minimum input splits). Local masters parse the thread
    count; cluster masters derive executor topology from the session
    conf (spark.executor.instances × spark.executor.cores — also
    SPARK_GRAFT_EXECUTORS/SPARK_GRAFT_EXECUTOR_CORES env for
    spark-submit setups whose conf the caller doesn't thread through).
    Unknown topology (e.g. dynamic allocation) falls back to 32 —
    AQE coalescing absorbs overshoot either way."""
    if master.startswith("local"):
        return _parse_local_cores(master)

    def _geti(conf_key: str, env_key: str) -> int:
        raw = conf.get(conf_key) or os.environ.get(env_key) or 0
        try:
            return int(raw)
        except (TypeError, ValueError):
            return 0

    instances = _geti("spark.executor.instances", "SPARK_GRAFT_EXECUTORS")
    cores = _geti("spark.executor.cores", "SPARK_GRAFT_EXECUTOR_CORES")
    if instances > 0 and cores > 0:
        return instances * cores
    return 32
