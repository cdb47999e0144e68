"""Progress reporting (#44): StatusTracker task progress + observed row
counts + job-group cancel (mis:1120-1131, 1215-1218)."""

from __future__ import annotations

import datetime as dt
import logging

from flink_job_spark.pipeline import IngestConfig, snapshot_ingest
from flink_job_spark.progress import ProgressReporter
from flink_job_spark.sources.tables import load_table


def test_progress_reporter_captures_task_progress(spark):
    def slow(batches):
        import time
        for pdf in batches:
            time.sleep(0.05)
            yield pdf

    df = spark.range(0, 1_000, 1, 32).mapInPandas(slow, "id long")
    with ProgressReporter(spark, "t_progress", interval=0.02) as rep:
        assert df.count() == 1_000
    assert rep.events, "no progress events captured"
    assert any("tasks" in e for e in rep.events)


def test_ingest_progress_logs_observed_rows(spark, sf_dir, tmp_path, caplog):
    nat = load_table(spark, sf_dir, "nation")
    cfg = IngestConfig(mode="replace", load_dttm=dt.datetime(2026, 1, 1),
                       progress=True)
    with caplog.at_level(logging.INFO, logger="flink_job_spark.pipeline"):
        res = snapshot_ingest(spark, nat, "nation", str(tmp_path / "n"),
                              "n_nationkey", cfg)
    assert res.ok
    # exact observed write count, no second scan (mis:1132-1134)
    assert any("Total emitted in this run: 25" in r.message for r in caplog.records)


def test_progress_reporter_cancel(spark):
    """cancel() aborts the watched job group (the reference's cancel flag).
    Job groups are thread-local: the action runs on the thread that entered
    the reporter; cancel comes from a side thread (signal-handler pattern)."""
    import threading

    def slow(batches):
        import time
        for pdf in batches:
            time.sleep(2)
            yield pdf

    df = spark.range(0, 320, 1, 32).mapInPandas(slow, "id long")
    with ProgressReporter(spark, "t_cancel", interval=0.05) as rep:
        killer = threading.Timer(0.5, rep.cancel)
        killer.start()
        try:
            import pytest
            with pytest.raises(Exception, match="(?i)cancel"):
                df.count()
        finally:
            killer.cancel()


def test_progress_reporters_on_two_threads_see_only_their_own_stages(spark):
    """Job groups are thread-local: two reporters watching concurrent jobs on
    two threads each log only the stages of their own group's jobs."""
    import re
    import threading

    def slow(batches):
        import time
        for pdf in batches:
            time.sleep(0.2)
            yield pdf

    sc = spark.sparkContext
    reporters: dict[str, ProgressReporter] = {}
    restored: dict[str, str | None] = {}

    def run(group):
        sc.setJobGroup(f"{group}_outer", "enclosing group")
        df = spark.range(0, 800, 1, 8).mapInPandas(slow, "id long")
        with ProgressReporter(spark, group, interval=0.02) as rep:
            assert df.count() == 800
        reporters[group] = rep
        restored[group] = sc.getLocalProperty("spark.jobGroup.id")

    threads = [threading.Thread(target=run, args=(g,)) for g in ("t_two_a", "t_two_b")]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    tracker = sc.statusTracker()
    logged = {}
    for group, rep in reporters.items():
        assert rep.events, f"no progress events for {group}"
        own = {sid for jid in tracker.getJobIdsForGroup(group)
               for sid in tracker.getJobInfo(jid).stageIds}
        logged[group] = {int(m.group(1)) for e in rep.events
                         if (m := re.match(r"Progress: stage (\d+):", e))}
        assert logged[group] <= own, (group, logged[group], own)
    assert not logged["t_two_a"] & logged["t_two_b"]
    # each reporter restored its own thread's enclosing job group on exit
    assert restored == {g: f"{g}_outer" for g in reporters}
