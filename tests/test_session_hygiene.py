"""Registry-scale session hygiene: the full registry must be drivable in ONE
Spark session (the driver's correctness sweep and bench.py both do exactly
that) without accumulating executor-memory state.

Each query is executed the way the sweep protocol executes it — full plan to
the noop sink, then ``session.unpersist_all`` (bench.py's between-keys call:
``clearCache`` + explicit release of localCheckpoint blocks, which
ContextCleaner never reclaims in-session) — and after EVERY key the session
must hold zero persisted RDDs. A key that pins cache past the protocol grows
resident memory linearly with registry size and hits an executor-memory
cliff around round-4/5 key counts; this test is the regression guard that
found (and now guards) the q_dedup_components_star checkpoint leak.
"""

from __future__ import annotations

from flink_job_spark.queries import all_queries
from flink_job_spark.session import persistent_rdd_ids, unpersist_all


def test_full_registry_one_session_no_cache_leak(spark, sf_dir):
    leaks: list[str] = []
    for name, spec in sorted(all_queries().items()):
        df = spec.fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        unpersist_all(spark)
        left = persistent_rdd_ids(spark)
        if left:
            leaks.append(f"{name}: {len(left)} persisted RDDs after the "
                         f"sweep-protocol release")
    assert not leaks, "cache leaks past the sweep protocol:\n" + "\n".join(leaks)
    assert not persistent_rdd_ids(spark)


def test_star_components_rounds_do_not_accumulate_checkpoints(spark, sf_dir):
    """The in-loop guard: while q_dedup_components_star runs, superseded
    rounds' localCheckpoint blocks are dropped as it goes, so at most the
    LIVE round (+ the persisted pair input) is resident — not one block set
    per round."""
    before = persistent_rdd_ids(spark)
    df = all_queries()["q_dedup_components_star"].fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    resident = persistent_rdd_ids(spark) - before
    # pairs persist (catalog cache) + final-round checkpoint; anything more
    # means the per-round release regressed
    assert len(resident) <= 3, (
        f"star components left {len(resident)} persisted RDDs — per-round "
        f"checkpoint release regressed")
    unpersist_all(spark)
    assert not (persistent_rdd_ids(spark) - before)


def test_default_driver_memory_fits_the_host():
    """local mode runs every task in the driver JVM: the default heap is half
    the host's physical memory (capped at 24g), so the JVM is not OOM-killed
    on a host smaller than the heap."""
    from flink_job_spark.session import default_driver_memory

    mem = default_driver_memory()
    assert mem.endswith("g")
    gb = int(mem[:-1])
    assert 1 <= gb <= 24
    with open("/proc/meminfo") as fh:
        total_kb = next(int(line.split()[1]) for line in fh
                        if line.startswith("MemTotal:"))
    assert gb * 1024 * 1024 <= max(total_kb // 2, 1024 * 1024)
