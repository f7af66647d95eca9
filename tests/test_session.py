"""Session sizing heuristics — pure-function tests over mocked confs
(no SparkSession needed)."""

import os
from unittest import mock

from kgpipe.session import _infer_parallelism, _parse_local_cores


def test_local_masters_parse_thread_count():
    assert _infer_parallelism("local[8]", {}) == 8
    assert _infer_parallelism("local[32]", {}) == 32
    assert _parse_local_cores("local[*]") == (os.cpu_count() or 8)


def test_cluster_topology_from_conf():
    conf = {"spark.executor.instances": "50", "spark.executor.cores": "8"}
    assert _infer_parallelism("yarn", conf) == 400
    assert _infer_parallelism("spark://head:7077", conf) == 400
    assert _infer_parallelism("k8s://https://api:6443", conf) == 400


def test_cluster_topology_from_env():
    with mock.patch.dict(
        os.environ,
        {"SPARK_GRAFT_EXECUTORS": "100", "SPARK_GRAFT_EXECUTOR_CORES": "4"},
    ):
        assert _infer_parallelism("yarn", {}) == 400
        # explicit conf wins over env
        assert (
            _infer_parallelism("yarn", {"spark.executor.instances": "10",
                                        "spark.executor.cores": "4"})
            == 40
        )


def test_unknown_topology_falls_back():
    # dynamic allocation / no hints: documented fallback, not a crash
    assert _infer_parallelism("yarn", {}) == 32
    assert _infer_parallelism("yarn", {"spark.executor.instances": "bogus"}) == 32
    assert _infer_parallelism("yarn", {"spark.executor.instances": "5"}) == 32
