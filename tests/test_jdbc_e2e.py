"""End-to-end JDBC read through JdbcSnapshotSource against embedded Derby
(ships with Spark) — closes the gap that only the generated query string was
tested. Mirrors the reference's live read path (mis:1064-1135): explicit
columns + cutoff/floor predicate pushed into the dbtable subquery, fetchsize,
parallel key-range partitions."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from flink_job_spark.sources.jdbc import JdbcSnapshotSource, quote_source_identifier
from flink_job_spark.sources.tables import load_table

URL = "jdbc:derby:memory:fjs_e2e;create=true"
N_ROWS = 200
COLS = ["c_custkey", "c_name", "c_acctbal", "c_mktsegment"]


@pytest.fixture(scope="module")
def derby_customer(spark, sf_dir):
    """CREATE a Derby table mirroring 200 customer rows from the parquet twin.
    Runs in the same JVM via the driver's JDBC (DriverManager), so the
    in-memory DB is visible to Spark's executor threads in local mode."""
    rows = (load_table(spark, sf_dir, "customer")
            .select(*COLS).orderBy("c_custkey").limit(N_ROWS).collect())
    jvm = spark.sparkContext._jvm
    conn = jvm.java.sql.DriverManager.getConnection(URL)
    st = conn.createStatement()
    st.executeUpdate(
        'CREATE TABLE "customer" ('
        '"c_custkey" BIGINT NOT NULL, "c_name" VARCHAR(64), '
        '"c_acctbal" DOUBLE, "c_mktsegment" VARCHAR(16))')
    ps = conn.prepareStatement('INSERT INTO "customer" VALUES (?, ?, ?, ?)')
    for r in rows:
        ps.setLong(1, r["c_custkey"])
        ps.setString(2, r["c_name"])
        ps.setDouble(3, float(r["c_acctbal"]))
        ps.setString(4, r["c_mktsegment"])
        ps.addBatch()
    ps.executeBatch()
    ps.close()
    st.close()
    conn.close()
    yield rows


def _twin(spark, sf_dir, cutoff, floor=None):
    df = (load_table(spark, sf_dir, "customer")
          .select(*COLS).orderBy("c_custkey").limit(N_ROWS)
          .filter(F.col("c_custkey") <= cutoff))
    if floor is not None:
        df = df.filter(F.col("c_custkey") > floor)
    return df


def _canon(df):
    return sorted((r["c_custkey"], r["c_name"], float(r["c_acctbal"]), r["c_mktsegment"])
                  for r in df.collect())


def test_jdbc_read_matches_parquet_twin(spark, sf_dir, derby_customer):
    cutoff = max(r["c_custkey"] for r in derby_customer)
    src = JdbcSnapshotSource(URL, "customer", COLS, "c_custkey", cutoff=cutoff)
    df = src.reader(spark).load()
    assert df.columns == COLS  # explicit projection reached the source
    assert _canon(df) == _canon(_twin(spark, sf_dir, cutoff))


def test_jdbc_cutoff_and_floor_prune_at_source(spark, sf_dir, derby_customer):
    """The cutoff+floor predicate lives inside the pushed dbtable subquery —
    the source returns only the pruned rows (mirrors mis:1076-1088)."""
    keys = sorted(r["c_custkey"] for r in derby_customer)
    cutoff, floor = keys[149], keys[49]  # keep (49,149]
    src = JdbcSnapshotSource(URL, "customer", COLS, "c_custkey",
                             cutoff=cutoff, floor=floor)
    assert f'"c_custkey" <= {cutoff!r}' in src.snapshot_query()
    df = src.reader(spark).load()
    assert df.count() == 100
    assert _canon(df) == _canon(_twin(spark, sf_dir, cutoff, floor))


def test_jdbc_parallel_partitioned_read(spark, sf_dir, derby_customer):
    """numPartitions+bounds split the key range into parallel queries
    (the scalable replacement for the reference's single cursor)."""
    keys = sorted(r["c_custkey"] for r in derby_customer)
    cutoff = keys[-1]
    src = JdbcSnapshotSource(URL, "customer", COLS, "c_custkey", cutoff=cutoff,
                             num_partitions=4, bounds=(keys[0], cutoff))
    df = src.reader(spark).load()
    assert df.rdd.getNumPartitions() == 4
    assert _canon(df) == _canon(_twin(spark, sf_dir, cutoff))


def test_jdbc_empty_cutoff_contradiction(spark, derby_customer):
    """cutoff=None renders the 1=0 contradiction (mis:651-656) → zero rows
    fetched from the source."""
    src = JdbcSnapshotSource(URL, "customer", COLS, "c_custkey", cutoff=None)
    assert "1 = 0" in src.snapshot_query()
    assert src.reader(spark).load().count() == 0


def test_quote_source_identifier_dialects():
    assert quote_source_identifier('a"b') == '"a""b"'      # ANSI (mis:857-859)
    assert quote_source_identifier("a`b", "`") == "`a``b`"  # MySQL family


def test_render_sql_literal_lossless_and_portable():
    """Decimals bare; temporal values as JDBC escapes, timestamps at full µs
    precision (a ms literal puts the cutoff below a sub-ms MAX row)."""
    from decimal import Decimal

    from flink_job_spark.sources.jdbc import render_sql_literal

    assert render_sql_literal(Decimal("7.0001")) == "7.0001"
    assert render_sql_literal(Decimal("1E+3")) == "1000"
    assert (render_sql_literal(dt.datetime(2026, 1, 1, 0, 0, 5, 123456))
            == "{ts '2026-01-01 00:00:05.123456'}")
    assert render_sql_literal(dt.date(2026, 1, 5)) == "{d '2026-01-05'}"
    assert render_sql_literal(dt.time(13, 45, 7)) == "{t '13:45:07'}"
    assert render_sql_literal("it's") == "'it''s'"
    assert render_sql_literal(42) == "42"
    assert render_sql_literal(None) == "NULL"


# --- live TIME column through the full source -> envelope -> hash path --------
#
# VERDICT r3 item 7: the TIME canonicalization ('HH:mm:ss' stand-in +
# '.0000' suffix, mis:1642-1651 / SURVEY §1.2) was pinned only against
# DuckDB strings. This drives a REAL java.sql.Types.TIME column from
# embedded Derby through metadata scan -> customSchema read -> envelope ->
# row hash, and asserts the end-to-end md5 against the Java-side rule
# computed independently in pure Python.

TIME_URL = "jdbc:derby:memory:fjs_time_e2e;create=true"
TIME_ROWS = [(1, "13:45:07"), (2, "00:00:00"), (3, "23:59:59"), (4, None)]


@pytest.fixture(scope="module")
def derby_timetab(spark):
    jvm = spark.sparkContext._jvm
    conn = jvm.java.sql.DriverManager.getConnection(TIME_URL)
    st = conn.createStatement()
    st.executeUpdate('CREATE TABLE "timetab" ('
                     '"id" BIGINT NOT NULL, "t" TIME)')
    ps = conn.prepareStatement('INSERT INTO "timetab" VALUES (?, ?)')
    for i, t in TIME_ROWS:
        ps.setLong(1, i)
        if t is None:
            ps.setNull(2, 92)  # java.sql.Types.TIME
        else:
            ps.setTime(2, jvm.java.sql.Time.valueOf(t))
        ps.addBatch()
    ps.executeBatch()
    ps.close()
    st.close()
    conn.close()
    yield TIME_ROWS


def test_time_column_reads_as_standin_string(spark, derby_timetab):
    """Metadata scan flags is_time; the reader's customSchema overrides
    Spark's default TIME->TimestampType mapping so the column arrives as
    the 'HH:mm:ss' string stand-in the type lattice declares."""
    from flink_job_spark.sources.metadata import read_table_metadata

    infos = {c.name: c for c in read_table_metadata(spark, TIME_URL, "timetab")}
    assert infos["t"].is_time and not infos["id"].is_time
    src = JdbcSnapshotSource(TIME_URL, "timetab", ["id", "t"], "id",
                             cutoff=4, infos=infos)
    assert src.custom_schema() == "`t` STRING"
    df = src.reader(spark).load()
    assert dict(df.dtypes)["t"] == "string"
    got = {r["id"]: r["t"] for r in df.collect()}
    assert got == {1: "13:45:07", 2: "00:00:00", 3: "23:59:59", 4: None}


def test_time_column_end_to_end_row_hash_matches_java_rule(spark, derby_timetab):
    """Full path: JDBC read -> envelope -> md5 row hash equals the
    reference's canonicalization computed independently per mis:1642-1651:
    token = first 8 chars of the TIME string + '.0000'; NULL -> '<NULL>';
    tokens joined with '|'."""
    import hashlib

    from flink_job_spark.operators.envelope import with_envelope
    from flink_job_spark.sources.metadata import read_table_metadata

    infos = {c.name: c for c in read_table_metadata(spark, TIME_URL, "timetab")}
    src = JdbcSnapshotSource(TIME_URL, "timetab", ["id", "t"], "id",
                             cutoff=4, infos=infos)
    df = src.reader(spark).load()
    enveloped = with_envelope(df, infos=infos)
    got = {r["id"]: r["row_hash"] for r in enveloped.collect()}

    for i, t in TIME_ROWS:
        tok_t = (t[:8] + ".0000") if t is not None else "<NULL>"
        want = hashlib.md5(f"{i}|{tok_t}".encode()).hexdigest()
        assert got[i] == want, (i, t, got[i], want)
