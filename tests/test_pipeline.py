"""End-to-end ingest pipeline test: write → re-read → audit (SURVEY §3.1-3.3)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from flink_job_spark.operators.audit import run_consistency_check
from flink_job_spark.operators.snapshot import cutoff_predicate
from flink_job_spark.pipeline import (
    ConsistencyError,
    IngestConfig,
    ingest_tables,
    snapshot_ingest,
)
from flink_job_spark.sources.tables import load_table


def test_snapshot_ingest_roundtrip(spark, sf_dir, tmp_path):
    li = load_table(spark, sf_dir, "lineitem")
    cfg = IngestConfig(mode="replace", load_dttm=dt.datetime(2026, 1, 1))
    res = snapshot_ingest(spark, li, "lineitem", str(tmp_path / "li"), "l_orderkey", cfg)
    assert res.error is None
    assert res.report is not None
    assert res.report.ok, f"delta={res.report.delta} mismatches={res.report.hash_mismatches}"
    assert res.report.source_count == li.count()

    target = spark.read.parquet(str(tmp_path / "li"))
    # envelope columns present, partition column written
    for c in ["load_dttm", "op", "src_system_code", "row_hash", "row_hash_iceberg", "load_month"]:
        assert c in target.columns
    assert target.filter(F.col("op") != "INITIAL").count() == 0
    # dual hashes agree everywhere (the reference's core invariant)
    assert target.filter(F.lower("row_hash") != F.lower("row_hash_iceberg")).count() == 0


def test_ingest_failure_isolation(spark, sf_dir, tmp_path):
    li = load_table(spark, sf_dir, "lineitem")
    bad = li.select((F.col("l_orderkey") / F.lit(0)).alias("x"))  # will still run; force error via bad path instead
    results = ingest_tables(
        spark,
        [
            (li, "ok_table", str(tmp_path / "ok"), "l_orderkey"),
            (li, "bad_table", "/proc/definitely/not/writable", "l_orderkey"),
        ],
        IngestConfig(mode="replace", load_dttm=dt.datetime(2026, 1, 1)),
    )
    assert results[0].ok
    assert results[1].error is not None  # isolated, did not raise


def test_empty_table_contradiction_cutoff(spark, sf_dir, tmp_path):
    li = load_table(spark, sf_dir, "lineitem").filter(F.lit(False))
    res = snapshot_ingest(spark, li, "empty", str(tmp_path / "e"), "l_orderkey",
                          IngestConfig(mode="replace", load_dttm=dt.datetime(2026, 1, 1)))
    # empty source → cutoff None → contradiction filter → 0 rows, audit ok
    assert res.cutoff is None
    assert res.report is not None and res.report.source_count == 0


def test_snapshot_facts_one_agg_equals_cutoff_and_count(spark):
    """File sources' facts: one agg gives MAX(k) and the count under it;
    NULL keys are in neither; an empty frame gives (None, 0)."""
    from flink_job_spark.operators.snapshot import freeze_cutoff, snapshot_facts

    df = spark.createDataFrame([(3, "a"), (None, "b"), (7, "c"), (None, "d"), (5, "e")],
                               "k long, v string")
    cutoff = freeze_cutoff(df, "k")
    assert snapshot_facts(df, "k") == (
        cutoff, df.filter(cutoff_predicate("k", cutoff)).count()) == (7, 3)
    assert snapshot_facts(df.filter(F.lit(False)), "k") == (None, 0)


def _jobs_in_group(spark, group, run) -> int:
    spark.sparkContext.setJobGroup(group, group)
    try:
        run()
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def _jobs_before_write(spark, monkeypatch, group, run) -> int:
    """Spark jobs ``run`` launches before ``snapshot_ingest`` builds the
    envelope — i.e. before its scan and write."""
    from flink_job_spark import pipeline

    seen = []
    real = pipeline.with_envelope

    def probe(*a, **kw):
        seen.append(len(spark.sparkContext.statusTracker().getJobIdsForGroup(group)))
        return real(*a, **kw)

    monkeypatch.setattr(pipeline, "with_envelope", probe)
    _jobs_in_group(spark, group, run)
    return seen[0]


def test_snapshot_ingest_fact_jobs(spark, sf_dir, tmp_path, monkeypatch):
    """Given source-read facts, no Spark job runs before the write; without
    them the facts cost the jobs of ONE aggregation (MAX and COUNT in one
    agg), not the two of a MAX job plus a COUNT job."""
    from flink_job_spark.operators.snapshot import freeze_cutoff

    nation = load_table(spark, sf_dir, "nation")
    cfg = IngestConfig(mode="replace", load_dttm=dt.datetime(2026, 1, 1))
    facts = (24, 25)
    res = {}

    def ingest(name, **kw):
        res[name] = snapshot_ingest(spark, nation, name, str(tmp_path / name),
                                    "n_nationkey", cfg, **kw)

    one_agg = _jobs_in_group(spark, "one-agg", lambda: freeze_cutoff(nation, "n_nationkey"))
    assert one_agg >= 1
    assert _jobs_before_write(spark, monkeypatch, "given",
                              lambda: ingest("given", facts=facts)) == 0
    assert _jobs_before_write(spark, monkeypatch, "derived",
                              lambda: ingest("derived")) == one_agg
    assert (res["given"].cutoff, res["given"].report.source_count) == facts
    assert (res["derived"].cutoff, res["derived"].report.source_count) == facts
    assert res["given"].ok and res["derived"].ok


def test_audit_uses_the_source_count(spark, sf_dir, tmp_path):
    """The baseline count is the source's, not re-derived from what was
    scanned or written: one row more at the source than landed is delta -1."""
    nation = load_table(spark, sf_dir, "nation")
    n = nation.count()
    res = snapshot_ingest(spark, nation, "nation", str(tmp_path / "n"), "n_nationkey",
                          IngestConfig(mode="replace", load_dttm=dt.datetime(2026, 1, 1)),
                          facts=(24, n + 1))
    assert res.report.target_count == n
    assert res.report.delta == -1 and res.report.hash_mismatches == 0
    assert not res.ok


def test_fail_on_consistency_error_aborts(spark, sf_dir, tmp_path):
    """With the flag set, a failed audit raises ConsistencyError through the
    per-table isolation (the reference rethrows ConsistencyCheckException
    and aborts, mis:365-368). Without the flag the same failure is reported
    in the result, not raised."""
    nat = load_table(spark, sf_dir, "nation")
    path = str(tmp_path / "n")
    strict = IngestConfig(mode="append", load_dttm=dt.datetime(2026, 1, 1),
                          fail_on_consistency_error=True)
    assert snapshot_ingest(spark, nat, "nation", path, "n_nationkey", strict).ok
    # second append duplicates every row under the same cutoff → audit delta>0
    with pytest.raises(ConsistencyError) as ei:
        snapshot_ingest(spark, nat, "nation", path, "n_nationkey", strict)
    assert ei.value.table == "nation"
    assert ei.value.report is not None and ei.value.report.delta > 0

    # the error escapes ingest_tables too, once the whole batch is done: its
    # batch-mate region still loads (the batch is the unit of abort)
    reg = load_table(spark, sf_dir, "region")
    reg_path = str(tmp_path / "r")
    with pytest.raises(ConsistencyError) as ei:
        ingest_tables(spark, [
            (nat, "nation", path, "n_nationkey"),
            (reg, "region", reg_path, "r_regionkey"),
        ], strict)
    assert ei.value.table == "nation"
    landed = spark.read.parquet(reg_path)
    assert landed.count() == reg.count()  # landed once
    cutoff = reg.agg(F.max("r_regionkey")).first()[0]
    assert run_consistency_check("region", reg.count(), landed,
                                 cutoff_predicate("r_regionkey", cutoff)).ok

    # without the flag: reported, isolated, batch-mates unaffected
    lax = IngestConfig(mode="append", load_dttm=dt.datetime(2026, 1, 1))
    results = ingest_tables(spark, [
        (nat, "nation", path, "n_nationkey"),
        (reg, "region", str(tmp_path / "r2"), "r_regionkey"),
    ], lax)
    assert results[0].error is None and not results[0].ok
    assert results[0].report is not None and results[0].report.delta > 0
    assert results[1].ok


def _slow(seconds):
    def run(batches):
        import time
        for pdf in batches:
            time.sleep(seconds)
            yield pdf
    return run


def test_ingest_tables_results_in_input_order(spark, sf_dir, tmp_path):
    """A batch runs concurrently, yet results come back in input order: the
    slow first table finishes last. Worker threads inherit the caller's job
    group, so every job of the batch is attributable to it."""
    nat = load_table(spark, sf_dir, "nation")
    slow_nat = nat.repartition(2).mapInPandas(_slow(1.0), nat.schema)
    reg = load_table(spark, sf_dir, "region")
    sc = spark.sparkContext
    sc.setJobGroup("t_batch_order", "ingest batch")
    try:
        results = ingest_tables(spark, [
            (slow_nat, "slow_nation", str(tmp_path / "sn"), "n_nationkey"),
            (reg, "region", str(tmp_path / "r"), "r_regionkey"),
            (nat, "nation", str(tmp_path / "n"), "n_nationkey"),
        ], IngestConfig(mode="replace", load_dttm=dt.datetime(2026, 1, 1)))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert [r.table for r in results] == ["slow_nation", "region", "nation"]
    assert all(r.ok for r in results)
    assert [r.report.source_count for r in results] == [25, 5, 25]
    assert sc.statusTracker().getJobIdsForGroup("t_batch_order")


def test_ingest_tables_isolates_a_failing_source(spark, sf_dir, tmp_path):
    """A table whose source raises mid-batch yields an error result; its
    batch-mates, running at the same time, still land and audit ok."""
    def boom(batches):
        import time
        for _ in batches:
            time.sleep(0.3)
            raise RuntimeError("source connection lost")
        yield from ()

    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    bad = nat.mapInPandas(boom, nat.schema)
    results = ingest_tables(spark, [
        (reg, "region", str(tmp_path / "r"), "r_regionkey"),
        (bad, "bad_nation", str(tmp_path / "b"), "n_nationkey"),
        (nat, "nation", str(tmp_path / "n"), "n_nationkey"),
    ], IngestConfig(mode="replace", load_dttm=dt.datetime(2026, 1, 1)))
    assert [r.table for r in results] == ["region", "bad_nation", "nation"]
    assert results[1].error is not None and "source connection lost" in results[1].error
    assert results[1].report is None
    assert results[0].ok and results[2].ok
    assert spark.read.parquet(str(tmp_path / "n")).count() == 25


def test_resume_floor_equivalence(spark, sf_dir, tmp_path):
    """Key-floor resume (floor=k) ∪ first chunk == full snapshot (SURVEY §7#3)."""
    li = load_table(spark, sf_dir, "lineitem")
    cfg = IngestConfig(mode="append", load_dttm=dt.datetime(2026, 1, 1))
    path = str(tmp_path / "resume")
    # first "attempt": only keys <= 1000 committed
    first = li.filter(F.col("l_orderkey") <= 1000)
    snapshot_ingest(spark, first, "part1", path, "l_orderkey", cfg)
    # resume from floor
    res = snapshot_ingest(spark, li, "part2", path, "l_orderkey", cfg, floor=1000)
    assert res.error is None
    target = spark.read.parquet(path)
    cutoff = res.cutoff
    assert target.filter(cutoff_predicate("l_orderkey", cutoff)).count() == li.count()
    # chunks are key-disjoint (<=1000 then >1000): no row lost, none duplicated
    assert target.count() == li.count()
    assert target.filter(F.col("l_orderkey") <= 1000).count() == first.count()


def test_cluster_by_key_sorts_within_files(spark, sf_dir, tmp_path):
    """cluster_by_key lays each output file out in key order, so parquet
    row-group min/max stats prune cutoff scans (the file-layout dividend of
    the reference's ordered cursor, with no global-sort shuffle)."""
    li = load_table(spark, sf_dir, "lineitem")
    cfg = IngestConfig(mode="replace", load_dttm=dt.datetime(2026, 1, 1),
                       cluster_by_key=True)
    res = snapshot_ingest(spark, li, "li", str(tmp_path / "li"), "l_orderkey", cfg)
    assert res.ok
    rows = (spark.read.parquet(str(tmp_path / "li"))
            .select(F.input_file_name().alias("f"), "l_orderkey").collect())
    by_file: dict[str, list[int]] = {}
    for r in rows:
        by_file.setdefault(r["f"], []).append(r["l_orderkey"])
    assert by_file
    for f, keys in by_file.items():
        assert keys == sorted(keys), f"file {f} not key-ordered"


def test_schema_drift_fail_and_evolve(spark, sf_dir, tmp_path):
    """Append-mode schema drift: 'fail' (default) aborts the table inside the
    per-table isolation BEFORE writing; 'evolve' appends additively and the
    audit reads the merged schema (old rows NULL in the new column)."""
    import dataclasses

    nat = load_table(spark, sf_dir, "nation")
    path = str(tmp_path / "n")
    cfg = IngestConfig(mode="append", load_dttm=dt.datetime(2026, 1, 1))
    assert snapshot_ingest(spark, nat, "nation", path, "n_nationkey", cfg).ok
    n0 = spark.read.parquet(path).count()

    # snapshot grows a column; new rows arrive with keys above the old max
    evolved_src = nat.withColumn("extra_col", F.lit("x")).unionByName(
        nat.withColumn("extra_col", F.lit("y"))
           .withColumn("n_nationkey", F.col("n_nationkey") + 100))

    res = snapshot_ingest(spark, evolved_src, "nation", path, "n_nationkey",
                          cfg, floor=24)
    assert res.error is not None and "schema drift" in res.error
    assert "extra_col" in res.error
    assert spark.read.parquet(path).count() == n0  # nothing was written

    evolve = dataclasses.replace(cfg, on_schema_drift="evolve")
    res2 = snapshot_ingest(spark, evolved_src, "nation", path, "n_nationkey",
                           evolve, floor=24)
    assert res2.ok, res2.error
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert "extra_col" in merged.columns
    assert merged.count() == 2 * n0
    assert merged.filter(F.col("extra_col").isNull()).count() == n0  # old rows
    assert merged.filter(F.col("extra_col") == "y").count() == n0    # new rows


def test_snapshot_diff_operator(spark):
    """ADDED/REMOVED/CHANGED/unchanged on a hand-built pair of snapshots."""
    from flink_job_spark.operators.diff import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string")
    new = spark.createDataFrame(
        [(2, "b"), (3, "CHANGED"), (4, "d")], "k long, v string")
    out = {r["k"]: r["change_type"]
           for r in snapshot_diff(old, new, ["k"]).collect()}
    assert out == {1: "REMOVED", 3: "CHANGED", 4: "ADDED"}  # 2 is unchanged


def test_scd2_apply_operator(spark):
    """All five SCD2 outcomes on a tiny dimension: history passthrough,
    unchanged-open, changed (close+reopen), removed (close), added (open)."""
    import datetime as dt

    from flink_job_spark.operators.diff import scd2_apply

    t0, t1, t2 = (dt.datetime(2025, 1, 1), dt.datetime(2026, 1, 1),
                  dt.datetime(2026, 2, 1))
    dim = spark.createDataFrame(
        [
            (1, "old-v", t0, t1),   # closed history for key 1
            (1, "a", t1, None),     # open, unchanged in snapshot
            (2, "b", t1, None),     # open, changed
            (3, "c", t1, None),     # open, removed
        ],
        "k long, v string, valid_from timestamp_ntz, valid_to timestamp_ntz")
    snap = spark.createDataFrame(
        [(1, "a"), (2, "B2"), (4, "d")], "k long, v string")

    out = scd2_apply(dim, snap, ["k"], ["v"], t2)
    rows = {(r["k"], r["v"]): (r["valid_from"], r["valid_to"], r["is_current"])
            for r in out.collect()}
    assert rows == {
        (1, "old-v"): (t0, t1, False),   # history untouched
        (1, "a"):     (t1, None, True),  # unchanged stays open
        (2, "b"):     (t1, t2, False),   # changed: old closed at t2
        (2, "B2"):    (t2, None, True),  # changed: new opens at t2
        (3, "c"):     (t1, t2, False),   # removed: closed
        (4, "d"):     (t2, None, True),  # added: opens
    }


def test_ingest_audits_renamed_hash_columns_on_collision(spark, sf_dir, tmp_path):
    """A source that already owns a row_hash column: the envelope renames the
    canonical hashes to __row_hash/__row_hash_iceberg, and the audit must
    compare THOSE — comparing the source's own column would fail every row."""
    from flink_job_spark.pipeline import IngestConfig, snapshot_ingest
    from flink_job_spark.sources.tables import load_table

    nat = load_table(spark, sf_dir, "nation").withColumn(
        "row_hash", F.lit("user-data-not-ours"))
    res = snapshot_ingest(
        spark, nat, "nation_coll", str(tmp_path / "tgt"),
        "n_nationkey", config=IngestConfig())
    assert res.error is None, res.error
    assert res.report is not None and res.report.ok, (
        res.report.hash_mismatches if res.report else None)
    t = spark.read.parquet(str(tmp_path / "tgt"))
    assert "__row_hash" in t.columns and "row_hash" in t.columns
