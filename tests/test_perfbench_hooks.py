"""Guard the module attributes the benchmark's traced run wraps by name.

``perfbench/`` traces a run by swapping engine module attributes for
wrappers (``Workload.install_tracing``) and patches
``pipeline.row_hash_sql_expr`` for ``--inject 1``. A refactor that drops
or renames one of those attributes would only surface as a crash of
``perfbench/run.py --trace 1``; here it fails the test suite instead.
"""

from __future__ import annotations

import importlib
import os

import pytest

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                         "perfbench")


@pytest.fixture()
def workloads(monkeypatch):
    monkeypatch.syspath_prepend(PERFBENCH)
    return importlib.import_module("workloads")


def test_every_workload_installs_and_uninstalls_tracing(spark, workloads, tmp_path):
    from tracing import Tracer

    assert workloads.WORKLOADS
    for name, cls in workloads.WORKLOADS.items():
        tracer = Tracer(spark)
        cls(0, str(tmp_path)).install_tracing(tracer)
        patched = list(tracer._patches)
        for mod, attr, orig in patched:
            assert getattr(mod, attr) is not orig, f"{name}: {attr} not wrapped"
        tracer.uninstall()
        for mod, attr, orig in patched:
            assert getattr(mod, attr) is orig, f"{name}: {attr} not restored"


def test_inject_hook_is_read_at_call_time():
    """``--inject 1`` corrupts the sink hash by rebinding
    ``pipeline.row_hash_sql_expr``; ``snapshot_ingest`` must look that
    name up as a module global when it runs."""
    from flink_job_spark import pipeline

    assert callable(pipeline.row_hash_sql_expr)
    assert "row_hash_sql_expr" in pipeline.snapshot_ingest.__code__.co_names
