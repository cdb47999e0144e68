"""The benchmark workloads: inputs, one op, and the op's output check.

Each workload drives one public entry point of the engine:

- ``ingest_jdbc``: ``cli.main`` over several tables in an embedded Derby DB.
- ``stream_resume``: ``streaming.ingest.stream_paged_ingest_audited``, one
  resume per op on a shared checkpoint.
- ``query_mix``: registry ``QuerySpec.fn`` into the noop sink.

See README.md for why each workload exists and which layer metric should
move which end-to-end metric.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import io
import math
import os
import re
import statistics
import time
from dataclasses import dataclass

import numpy as np
import pyarrow.parquet as pq

import datagen
from tracing import Tracer

FIXED_LOAD_DTTM = dt.datetime(2024, 1, 1, 12, 0, 0)
SETUP_REPS = 7

# sizes of one op, chosen so that an 8 s measurement holds several ops
JDBC_BIG_ROWS, JDBC_SMALL_TABLES, JDBC_SMALL_ROWS = 10_000, 3, 500
STREAM_CUTOFF, STREAM_DELTA, STREAM_FETCH = 8_000, 800, 2_000
# a copy of the repository's seeded sf0.001 test tables (lineitem 6k rows);
# the benchmark reads nothing outside its checkout
QUERY_DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.001")
QUERY_KEYS = (
    "q_scan_project q_snapshot_count q_row_hash q_tech_columns q_hash_mismatch_agg "
    "q_snapshot_diff q_cdc_apply q_scd2_merge q_pricing_summary q_shipping_priority "
    "q_window_tumbling q_corpus_pipeline").split()


@dataclass
class OpResult:
    rows: int          # source rows landed and audited (query_mix: result rows)
    ok: bool
    audited: int = 0   # target rows the audit scanned
    note: str = ""


@dataclass
class Sample:
    seconds: float
    result: OpResult
    key: str = ""
    files: int = 0     # data files in the target after the op
    bytes: int = 0     # bytes on disk of the target after the op


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes on disk) under ``path``; Spark's ``.crc`` and
    ``_SUCCESS`` markers are not data files but their bytes count."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            st = os.stat(os.path.join(root, n))
            size += st.st_blocks * 512
            if not n.startswith((".", "_")):
                files += 1
    return files, size


def corrupt_sink_hash():
    """Patch the pipeline's sink-side hash builder so every row's second hash
    disagrees with the first; returns the undo callable."""
    from flink_job_spark import pipeline

    orig = pipeline.row_hash_sql_expr
    pipeline.row_hash_sql_expr = lambda *a, **kw: "md5('corrupted')"
    return lambda: setattr(pipeline, "row_hash_sql_expr", orig)


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

class Workload:
    name = ""
    round = 1  # ops per round; the loop measures whole rounds
    # untimed op time after the cold op, so the JIT has compiled the hot
    # paths before measuring (measured: ops keep speeding up for ~15 s)
    warmup_s = 8.0

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.spark = None
        self.tracer: Tracer | None = None

    def rng(self):
        return np.random.default_rng(self.seed)

    def setup(self, spark, rep: int) -> None:
        raise NotImplementedError

    def verify(self) -> str | None:
        """Untimed once-per-run output check; returns an error or None."""
        return None

    def op(self, i: int, inject: bool) -> OpResult:
        raise NotImplementedError

    def op_key(self, i: int) -> str:
        return ""

    def written(self) -> tuple[int, int]:
        """(data files, bytes on disk) of the last op's target."""
        return dir_stats(self.target)

    def check_last(self) -> OpResult | None:
        """Untimed output check of the op just run; a failed OpResult or None."""
        return None

    def stored_bytes_per_row(self, samples: list[Sample]) -> float:
        ratios = [s.bytes / s.result.rows for s in samples if s.result.ok]
        return statistics.median(ratios) if ratios else 0.0

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def install_tracing(self, tracer: Tracer) -> None:
        pass

    def layer_probe(self) -> dict[str, float]:
        """Trace-run-only measurements of one layer in isolation."""
        return {}

    def teardown(self) -> None:
        pass


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _median_time(fn, reps: int = 3) -> float:
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts)


def _hash_probe(spark, scan, rows: int) -> dict[str, float]:
    """Source-only scan vs. the same scan with envelope + dual hash, both
    into the noop sink: the difference per row is the hashing cost."""
    from pyspark.sql import functions as F

    from flink_job_spark.functions.hashing import row_hash_sql_expr
    from flink_job_spark.operators.envelope import tech_column_names, with_envelope

    names = tech_column_names(list(scan.columns))
    hashed = with_envelope(scan, load_dttm=FIXED_LOAD_DTTM).withColumn(
        names["row_hash_iceberg"], F.expr(row_hash_sql_expr(scan.schema, list(scan.columns))))
    _noop(hashed)  # compile once before timing
    scan_s = _median_time(lambda: _noop(scan))
    hashed_s = _median_time(lambda: _noop(hashed))
    return {"sources.scan_s": scan_s,
            "functions.hashing.ns_per_row": max(hashed_s - scan_s, 0.0) / rows * 1e9}


PIPELINE_TRACE = [
    ("flink_job_spark.pipeline", "snapshot_ingest", "pipeline.snapshot_ingest", None),
    ("flink_job_spark.pipeline", "freeze_cutoff", "operators.snapshot.cutoff",
     "operators.snapshot.count"),
    ("flink_job_spark.pipeline", "snapshot_scan", "operators.snapshot.scan", None),
    ("flink_job_spark.pipeline", "with_envelope", "operators.envelope.with_envelope", None),
    ("flink_job_spark.pipeline", "row_hash_sql_expr", "functions.hashing.row_hash_sql_expr",
     "pipeline.write"),
    ("flink_job_spark.pipeline", "run_consistency_check", "operators.audit", None),
]


class IngestJdbc(Workload):
    name = "ingest_jdbc"

    def setup(self, spark, rep):
        import pyarrow.csv as pacsv

        self.spark = spark
        jvm = spark.sparkContext._jvm
        self.url = "jdbc:derby:memory:perfbench"
        self.tables = datagen.jdbc_tables(self.rng(), JDBC_BIG_ROWS, JDBC_SMALL_TABLES,
                                          JDBC_SMALL_ROWS)
        conn = jvm.java.sql.DriverManager.getConnection(self.url + ";create=true")
        try:
            st = conn.createStatement()
            for name, ddl, has_pk, table in self.tables:
                pk = ', PRIMARY KEY ("id")' if has_pk else ""
                st.executeUpdate(f'CREATE TABLE "{name}" ({ddl}{pk})')
                csv = os.path.join(self.work, f"{name}.csv")
                pacsv.write_csv(table, csv, pacsv.WriteOptions(include_header=False))
                st.execute("CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE"
                           f"(NULL, '{name}', '{csv}', ',', '\"', 'UTF-8', 0)")
                os.remove(csv)
            st.close()
        finally:
            conn.close()
        self.counts = {name: t.num_rows for name, _, _, t in self.tables}
        self.target = os.path.join(self.work, "target")

    def op(self, i, inject):
        from flink_job_spark import cli

        undo = corrupt_sink_hash() if inject else None
        out = io.StringIO()
        try:
            with contextlib.redirect_stdout(out):
                rc = cli.main(["--tables", ",".join(self.counts), "--source-dir", self.url,
                               "--target-dir", self.target, "--mode", "replace",
                               "--parallelism", str(nproc())])
        finally:
            if undo:
                undo()
        landed = {m.group(1): (int(m.group(2)), int(m.group(3))) for m in re.finditer(
            r"^OK\s+(\S+): read=(\d+) written=(\d+)", out.getvalue(), re.M)}
        ok = rc == 0 and all(landed.get(t) == (n, n) for t, n in self.counts.items())
        rows = sum(r for r, _ in landed.values())
        return OpResult(rows, ok, audited=sum(w for _, w in landed.values()),
                        note="" if ok else f"rc={rc} {out.getvalue()[-300:]}")

    def install_tracing(self, tracer):
        for mod, attr, name, then in PIPELINE_TRACE:
            tracer.wrap(mod, attr, name, then=then)
        tracer.wrap("flink_job_spark.cli", "get_spark", "session.get_spark")
        tracer.wrap("flink_job_spark.cli", "_load_jdbc_table", "sources.jdbc.load_table")
        for fn in ("read_table_metadata", "detect_primary_key", "read_watermark_value",
                   "read_key_bounds"):
            tracer.wrap("flink_job_spark.sources.metadata", fn, f"sources.metadata.{fn}")

    def layer_probe(self):
        from flink_job_spark.sources.jdbc import JdbcSnapshotSource

        cols = ["id", "name", "amount", "updated", "code"]
        n = self.counts["t_big"]
        scan = JdbcSnapshotSource(self.url, "t_big", cols, "id", cutoff=n,
                                  num_partitions=nproc(), bounds=(1, n)
                                  ).reader(self.spark).load()
        return _hash_probe(self.spark, scan, n)

    def teardown(self):
        jvm = self.spark.sparkContext._jvm
        with contextlib.suppress(Exception):  # Derby signals a drop by raising
            jvm.java.sql.DriverManager.getConnection(self.url + ";drop=true")


class StreamResume(Workload):
    """The cold op is the initial availableNow drain to the cutoff; every
    later op is one resume on the same checkpoint that advances the cutoff.
    After each op the sink must hold every key 0..cutoff exactly once."""

    name = "stream_resume"
    warmup_s = 2.5  # one resume: later resumes barely speed up

    def setup(self, spark, rep):
        from flink_job_spark.sources.paged import register_paged_source

        self.spark = spark
        rng = self.rng()
        # the paged source's rows are a function of the key, so the seed
        # moves the cutoffs; sizes stay within ~1% so runs stay comparable
        self.cutoff = STREAM_CUTOFF + int(rng.integers(0, 100))
        self.delta = STREAM_DELTA + int(rng.integers(0, 10))
        base = os.path.join(self.work, f"stream{rep}")
        self.target, self.ckpt = os.path.join(base, "target"), os.path.join(base, "ckpt")
        self.landed = (0, 0)
        register_paged_source(spark)

    def op(self, i, inject):
        from pyspark.sql import functions as F

        from flink_job_spark.streaming import ingest

        if i > 0:
            self.cutoff += self.delta
        reports = ingest.stream_paged_ingest_audited(
            self.spark, self.cutoff, self.target, self.ckpt, fetch_size=STREAM_FETCH,
            load_dttm=FIXED_LOAD_DTTM, row_hash=F.lit("0" * 32) if inject else None)
        self.reports = reports
        return OpResult(sum(r.source_count for r in reports), True,
                        audited=sum(r.target_count for r in reports))

    def written(self):
        """Files and bytes this op added to the sink."""
        files, size = dir_stats(self.target)
        added = (files - self.landed[0], size - self.landed[1])
        self.landed = (files, size)
        return added

    def check_last(self):
        from pyspark.sql import functions as F

        n, distinct, lo, hi = self.spark.read.parquet(self.target).agg(
            F.count(F.lit(1)), F.countDistinct("id"), F.min("id"), F.max("id")).first()
        bad = [r for r in self.reports if not r.ok]
        if n != self.cutoff + 1 or distinct != n or lo != 0 or hi != self.cutoff or bad:
            return OpResult(0, False, note=f"rows={n} distinct={distinct} range=[{lo},{hi}] "
                                           f"cutoff={self.cutoff} failed_epochs={len(bad)}")
        return None

    def install_tracing(self, tracer):
        tracer.wrap("flink_job_spark.streaming.ingest", "stream_paged_ingest_audited",
                    "streaming.stream_paged_ingest_audited")
        tracer.wrap("flink_job_spark.streaming.ingest", "with_envelope",
                    "operators.envelope.with_envelope")
        tracer.wrap("flink_job_spark.streaming.ingest", "row_hash_sql_expr",
                    "functions.hashing.row_hash_sql_expr")
        tracer.wrap("flink_job_spark.sources.paged", "register_paged_source",
                    "sources.paged.register")
        tracer.wrap("flink_job_spark.streaming.ingest", "_audited_batch_sink",
                    "streaming.sink_factory", wrap_result="streaming.foreach_batch")
        tracer.wrap("flink_job_spark.operators.audit", "hash_mismatch_flag",
                    "operators.audit.flag", then="operators.audit")

    def layer_probe(self):
        scan = (self.spark.read.format("paged_cursor").option("cutoff", self.cutoff)
                .option("fetch_size", STREAM_FETCH).load())
        return _hash_probe(self.spark, scan, self.cutoff + 1)


class QueryMix(Workload):
    name = "query_mix"
    # a round is two passes over every key, so op_s_tail always has at least
    # ten samples beyond its p50
    round = 2 * len(QUERY_KEYS)
    warmup_s = 0.0  # the once-per-run oracle pass runs every key first

    def setup(self, spark, rep):
        from flink_job_spark.queries import all_queries

        self.spark = spark
        self.registry = all_queries()
        # the key order of every pass is a seeded shuffle
        rng = self.rng()
        self.order: list[str] = []
        for _ in range(64):
            self.order += list(rng.permutation(QUERY_KEYS))
        self.expected: dict[str, tuple[int, int]] = {}

    def op_key(self, i):
        # op 0 is the cold op: always the same key, so cold_op_s compares
        # across seeds
        return QUERY_KEYS[0] if i == 0 else self.order[(i - 1) % len(self.order)]

    def _observed(self, key):
        from pyspark.sql import Observation
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        df = self.registry[key].fn(self.spark, QUERY_DATA)
        obs = Observation(f"pb_{key}")

        def canon(f):
            c = F.col(f"`{f.name}`")
            if isinstance(f.dataType, (T.DoubleType, T.FloatType)):
                return c.cast("float")  # summation-order noise stays below float
            if isinstance(f.dataType, T.ArrayType) and isinstance(
                    f.dataType.elementType, (T.DoubleType, T.FloatType)):
                return F.transform(c, lambda x: x.cast("float"))
            return c

        fp = F.xxhash64(*[canon(f) for f in df.schema.fields]) % (1 << 31)
        return df.observe(obs, F.count(F.lit(1)).alias("n"),
                          F.coalesce(F.sum(fp), F.lit(0)).alias("fp")), obs

    def verify(self):
        """Run every key once, storing its rows as parquet, compare them with
        the key's DuckDB oracle, and keep its (row count, fingerprint) as the
        value every timed op of that key must reproduce. The stored results
        give ``stored_bytes_per_row``."""
        import duckdb

        from flink_job_spark.session import unpersist_all

        self.result_rows = self.result_bytes = 0
        con = duckdb.connect()
        try:
            for f in sorted(os.listdir(QUERY_DATA)):
                con.execute(f"CREATE VIEW {f.removesuffix('.parquet')} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(QUERY_DATA, f)}')")
            for key in QUERY_KEYS:
                df, obs = self._observed(key)
                path = os.path.join(self.work, "results", key)
                df.write.parquet(path)
                m = obs.get
                unpersist_all(self.spark)
                self.expected[key] = (m["n"], m["fp"])
                self.result_rows += m["n"]
                self.result_bytes += dir_stats(path)[1]
                if m["n"] == 0:
                    return f"{key}: empty result"
                oracle = self.registry[key].oracle
                if oracle is None:
                    continue
                got = pq.read_table(path).to_pandas()
                want = con.execute(oracle).df()
                err = _frames_differ(got, want)
                if err:
                    return f"{key}: {err}"
        finally:
            con.close()
        return None

    def op(self, i, inject):
        from flink_job_spark.session import unpersist_all

        key = self.op_key(i)
        with self.span("queries.build"):
            df, obs = self._observed(key)
        with self.span("queries.exec"):
            _noop(df)
        m = obs.get
        with self.span("session.unpersist"):
            unpersist_all(self.spark)
        want = self.expected.get(key)
        if inject:
            want = (want[0], want[1] + 1) if want else (m["n"], m["fp"] + 1)
        ok = want is None or (m["n"], m["fp"]) == want
        return OpResult(m["n"], ok, note="" if ok else f"{key}: {m} != {want}")

    def written(self):
        return 0, 0

    def stored_bytes_per_row(self, samples):
        # timed ops store nothing: the bytes on disk per row of every key's
        # result, stored once as parquet in the oracle pass
        return self.result_bytes / self.result_rows


def _canon_cell(v):
    import decimal as _dec

    if v is None:
        return "<null>"
    if isinstance(v, (float, _dec.Decimal, np.floating)):
        f = float(v)
        return "<null>" if math.isnan(f) else f"{f:.10g}"
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_canon_cell(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, np.integer):
        return str(int(v))
    return str(v)


def _frames_differ(got, want) -> str | None:
    """Order-insensitive comparison of a Spark and a DuckDB result."""
    import pandas as pd

    if sorted(c.lower() for c in got.columns) != sorted(c.lower() for c in want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"

    def rows(df):
        df = df.rename(columns=str.lower)
        cols = sorted(df.columns)
        return sorted(tuple(_canon_cell(None if (not isinstance(v, (list, np.ndarray))
                                                 and pd.isna(v)) else v) for v in r)
                      for r in df[cols].itertuples(index=False, name=None))

    for a, b in zip(rows(got), rows(want)):
        if a != b:
            return f"first differing row spark={a} duckdb={b}"
    return None


WORKLOADS = {w.name: w for w in (IngestJdbc, StreamResume, QueryMix)}
