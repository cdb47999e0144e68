"""Progress reporting + cancellation — the Spark analog of the reference's
per-10k-row prints and cancel flag (mis:1120-1131, 1215-1218).

A single-cursor Flink source can count rows as it emits; Spark executes the
read as parallel tasks, so the faithful equivalent is task/stage-level
progress from the StatusTracker plus exact observed row counts from an
``Observation`` attached to the write plan (no second scan). Cancellation
maps to job-group cancel (``interruptOnCancel``), the analog of the
reference's ``cancel()`` flag on the source.

Job groups are thread-local, so reporters on concurrent threads (one per
table of an ingest batch) each watch only their own group's stages."""

from __future__ import annotations

import logging
import threading

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

# the thread-local properties setJobGroup writes; __exit__ restores them
_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description",
                "spark.job.interruptOnCancel")


class ProgressReporter:
    """Polls the StatusTracker while a job runs and logs stage progress
    whenever the completed-task count moves (mis:1127-1131's print cadence,
    expressed in Spark's unit of progress: tasks, not rows).

    Use as a context manager around an action; ``cancel()`` aborts the
    watched job group like the reference's cancel flag (mis:1215-1218)."""

    def __init__(self, spark: SparkSession, job_group: str,
                 description: str = "", interval: float = 0.5):
        self._spark = spark
        self._sc = spark.sparkContext
        self.job_group = job_group
        self.description = description
        self.interval = interval
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._prev: dict[str, str | None] = {}
        self.events: list[str] = []  # observable log trail (also for tests)

    def __enter__(self) -> "ProgressReporter":
        self._prev = {k: self._sc.getLocalProperty(k) for k in _GROUP_PROPS}
        self._sc.setJobGroup(self.job_group, self.description,
                             interruptOnCancel=True)
        self._thread = threading.Thread(target=self._poll, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        for k, v in self._prev.items():  # None removes the property
            self._sc.setLocalProperty(k, v)

    def cancel(self) -> None:
        """Abort everything running under this job group (mis:1215-1218)."""
        self._sc.cancelJobGroup(self.job_group)

    def _poll(self) -> None:
        tracker = self._sc.statusTracker()
        seen: dict[int, int] = {}
        while not self._stop.is_set():
            try:
                active = set(tracker.getActiveStageIds())
                mine = {sid for jid in tracker.getJobIdsForGroup(self.job_group)
                        if (job := tracker.getJobInfo(jid)) is not None
                        for sid in job.stageIds}
                for sid in sorted(active & mine):
                    info = tracker.getStageInfo(sid)
                    if info is None or info.numTasks == 0:
                        continue
                    done = info.numCompletedTasks
                    if seen.get(sid) != done:
                        seen[sid] = done
                        msg = (f"Progress: stage {sid}: {done}/{info.numTasks} "
                               f"tasks ({self.job_group})")
                        self.events.append(msg)
                        log.info(msg)
            except Exception:  # tracker races with job teardown
                pass
            self._stop.wait(self.interval)
