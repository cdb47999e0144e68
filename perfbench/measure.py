"""Set-up, the closed measurement loop, and the metrics computed from it."""

from __future__ import annotations

import contextlib
import math
import os
import statistics
import sys
import time
import traceback

from tracing import StreamProgress, Tracer, job_counts
from workloads import QUERY_KEYS, SETUP_REPS, WORKLOADS, OpResult, Sample

# the percentiles op_s_tail may report; the highest one with at least ten
# samples beyond it is used
TAIL_LADDER = (99, 95, 90, 75, 50)


def tail_percentile(durs: list[float]) -> tuple[int, float, int]:
    """(percentile, value, samples beyond it): the highest ladder percentile
    with at least 10 samples beyond it; with too few samples, the maximum."""
    xs = sorted(durs)
    n = len(xs)
    for p in TAIL_LADDER:
        idx = max(math.ceil(p / 100 * n) - 1, 0)
        if n - idx - 1 >= 10:
            return p, xs[idx], n - idx - 1
    return 100, xs[-1], 0


def jvm_peak_rss_mb(spark) -> float:
    """The driver JVM's VmHWM (peak resident set) in MiB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM in /proc/{pid}/status")


def _run_op(w, i: int, inject: bool, tracer: Tracer | None = None) -> Sample:
    with tracer.op(i, f"op.{w.name}") if tracer else contextlib.nullcontext():
        t0 = time.perf_counter()
        try:
            res = w.op(i, inject)
        except Exception as e:  # a failed op is counted, the loop keeps running
            traceback.print_exc()
            res = OpResult(0, False, note=f"{type(e).__name__}: {str(e)[:300]}")
        elapsed = time.perf_counter() - t0
    sample = Sample(elapsed, res, key=w.op_key(i))
    if res.ok:
        sample.files, sample.bytes = w.written()
        bad = w.check_last()
        if bad is not None:
            sample.result = bad
    return sample


def _loop(w, first: int, seconds: float, inject: bool):
    """Ops in a closed loop until ``seconds`` of op time are spent, in whole
    rounds (two passes over every key for query_mix)."""
    samples, i, spent = [], first, 0.0
    while spent < seconds or (i - first) % w.round != 0:
        s = _run_op(w, i, inject and i == first)
        samples.append(s)
        spent += s.seconds
        i += 1
    return samples, i


def _alternating(w, first: int, seconds: float, tracer, progress):
    """Whole rounds alternating untraced and traced until each side has spent
    ``seconds`` of op time, so both sides see the same JIT warmth and host
    load (the traced run passes half its ``--seconds`` to each side). Returns (untraced samples, traced samples, traced stream run ids)."""
    plain, traced, runs = [], [], []
    i, spent = first, [0.0, 0.0]
    while min(spent) < seconds or (i - first) % (2 * w.round) != 0:
        on = (i - first) // w.round % 2 == 1
        if on and (i - first) % w.round == 0:
            w.install_tracing(tracer)
            w.tracer = tracer
        seen = len(progress.run_ids) if progress else 0
        try:
            s = _run_op(w, i, False, tracer if on else None)
        finally:
            if on and (i - first + 1) % w.round == 0:
                tracer.uninstall()
                w.tracer = None
        if progress is not None:
            progress.wait_terminated()
            if on:
                runs += progress.run_ids[seen:]
        (traced if on else plain).append(s)
        spent[on] += s.seconds
        i += 1
    return plain, traced, runs


def _end_to_end(w, samples, setup_times, cold, spark) -> dict[str, tuple[float, str]]:
    durs = [s.seconds for s in samples]
    total = sum(durs)
    _, tail, _ = tail_percentile(durs)
    return {
        "setup_s": (statistics.median(setup_times), "s"),
        "ops_per_s": (len(samples) / total, "1/s"),
        "rows_per_s": (sum(s.result.rows for s in samples) / total, "1/s"),
        "op_s_p50": (statistics.median(durs), "s"),
        "op_s_tail": (tail, "s"),
        "cold_op_s": (cold.seconds, "s"),
        "peak_rss_mb": (jvm_peak_rss_mb(spark), "MiB"),
        "stored_bytes_per_row": (w.stored_bytes_per_row(samples), "B"),
    }


def _per_layer(spark, tracer, samples, batches, run_ids, probe, start_times,
               untraced_ops, traced_ops) -> dict[str, tuple[float, str, int]]:
    """Per-layer metrics as (value, unit, samples). Values are per op unless
    the name says otherwise; a layer the workload does not use reads 0."""
    n = len(samples)
    spans = tracer.finished()

    def named(*names):
        return [s for s in spans if s.name in names]

    def secs(ss):
        return sum(s.end - s.start for s in ss)

    m: dict[str, tuple[float, str, int]] = {}
    m["session.start_s"] = (statistics.median(start_times), "s", len(start_times))
    meta = [s for s in spans if s.name.startswith("sources.metadata.")]
    m["sources.metadata.calls"] = (len(meta) / n, "count", n)
    m["sources.metadata.s"] = (secs(meta) / n, "s", n)
    m["sources.scan_s"] = (probe.get("sources.scan_s", 0.0), "s", 3)
    scans = named("operators.snapshot.cutoff", "operators.snapshot.count", "pipeline.write")
    jobs, _, tasks = job_counts(spark, [s.group for s in scans if s.group])
    m["sources.scans_per_op"] = (jobs / n, "count", n)
    m["sources.scan_tasks"] = (tasks / n, "count", n)
    m["operators.snapshot.cutoff_s"] = (secs(named("operators.snapshot.cutoff")) / n, "s", n)
    m["operators.snapshot.count_s"] = (secs(named("operators.snapshot.count")) / n, "s", n)
    m["functions.hashing.ns_per_row"] = (probe.get("functions.hashing.ns_per_row", 0.0),
                                         "ns", 3)
    m["pipeline.write_s"] = (secs(named("pipeline.write")) / n, "s", n)
    m["pipeline.files_written"] = (sum(s.files for s in samples) / n, "count", n)
    m["pipeline.bytes_written"] = (sum(s.bytes for s in samples) / n, "B", n)
    m["operators.audit.s"] = (secs(named("operators.audit")) / n, "s", n)
    m["operators.audit.rows_scanned"] = (sum(s.result.audited for s in samples) / n,
                                         "count", n)

    epochs = len(batches)

    def per_epoch(key):
        return (sum(b["ms"].get(key, 0) for b in batches) / epochs if epochs else 0.0,
                "ms", epochs)

    m["streaming.epochs_per_op"] = (epochs / n, "count", n)
    m["streaming.add_batch_ms"] = per_epoch("addBatch")
    m["streaming.latest_offset_ms"] = per_epoch("latestOffset")
    m["streaming.query_planning_ms"] = per_epoch("queryPlanning")
    m["streaming.wal_commit_ms"] = per_epoch("walCommit")
    m["streaming.commit_offsets_ms"] = per_epoch("commitOffsets")
    m["streaming.files_per_epoch"] = (
        sum(s.files for s in samples) / epochs if epochs else 0.0, "count", epochs)

    m["queries.build_s"] = (secs(named("queries.build")) / n, "s", n)
    m["queries.exec_s"] = (secs(named("queries.exec")) / n, "s", n)
    for key in QUERY_KEYS:
        ts = [s.seconds for s in samples if s.key == key]
        m[f"queries.{key}_s"] = (statistics.median(ts) if ts else 0.0, "s", len(ts))
    m["session.unpersist_s"] = (secs(named("session.unpersist")) / n, "s", n)

    groups = [s.group for s in spans if s.group] + run_ids
    jobs, stages, tasks = job_counts(spark, groups)
    m["spark.jobs_per_op"] = (jobs / n, "count", n)
    m["spark.stages_per_op"] = (stages / n, "count", n)
    m["spark.tasks_per_op"] = (tasks / n, "count", n)
    m["trace.overhead_pct"] = ((untraced_ops / traced_ops - 1) * 100, "%", n)
    return m


def run(args, work):
    from flink_job_spark.session import get_spark

    w = WORKLOADS[args.workload](args.seed, work)
    setup_times, start_times, spark = [], [], None
    for rep in range(SETUP_REPS):
        if spark is not None:
            w.teardown()  # untimed: drop the previous repetition's inputs
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = get_spark("perfbench")
        start_times.append(time.perf_counter() - t0)
        w.setup(spark, rep)
        setup_times.append(time.perf_counter() - t0)
    spark.sparkContext.setLogLevel("ERROR")

    cold = _run_op(w, 0, False)
    t0 = time.perf_counter()
    err = w.verify()
    verify_s = time.perf_counter() - t0
    warm, nxt = _loop(w, 1, w.warmup_s, False) if w.warmup_s else ([], 1)
    details = {"workload": w.name, "seed": args.seed, "verify_error": err,
               "verify_s": verify_s, "setup_s_reps": setup_times,
               "session_start_s_reps": start_times}

    if args.trace:
        tracer = Tracer(spark)
        progress = StreamProgress(spark) if w.name == "stream_resume" else None
        try:
            samples, traced, runs = _alternating(w, nxt, args.seconds / 2, tracer,
                                                 progress)
        finally:
            if progress:
                progress.close()
        probe = w.layer_probe()
        batches = [b for b in progress.batches if b["run"] in runs] if progress else []
        layer = _per_layer(spark, tracer, traced, batches, runs, probe, start_times,
                           len(samples) / sum(s.seconds for s in samples),
                           len(traced) / sum(s.seconds for s in traced))
        details["spans"] = os.path.join(os.path.dirname(work),
                                        f"spans-{w.name}-{args.seed}.json")
        tracer.dump(details["spans"])
        metrics = {k: {"value": v, "unit": u} for k, (v, u, _) in layer.items()}
        details["per_layer_samples"] = {k: c for k, (_, _, c) in layer.items()}
        samples += traced
    else:
        samples, _ = _loop(w, nxt, args.seconds, bool(args.inject))
        e2e = _end_to_end(w, samples, setup_times, cold, spark)
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        pct, _, beyond = tail_percentile([s.seconds for s in samples])
        details["op_s_tail"] = {"percentile": pct, "samples": len(samples),
                                "beyond": beyond}
    all_samples = [cold] + warm + samples
    w.teardown()

    failed = [s for s in all_samples if not s.result.ok]
    details["fail_ratio"] = len(failed) / len(all_samples)
    details["failures"] = [f"{s.key} {s.result.note}"[:400] for s in failed]
    for line in details["failures"]:
        print(f"perfbench: failed op: {line}", file=sys.stderr)
    correct = not failed and err is None
    return correct, len(all_samples), len(failed), metrics, details
