"""Live DatabaseMetaData scan against embedded Derby (mis:528-650):
column metadata, BLOB skip, primary-key detection, snapshot facts (frozen
watermark, baseline count, bounds)."""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import pytest
from pyspark.sql import types as T

from flink_job_spark.operators.snapshot import cutoff_predicate
from flink_job_spark.sources.metadata import (
    detect_primary_key,
    read_key_bounds,
    read_snapshot_facts,
    read_table_metadata,
    read_watermark_value,
)

URL = "jdbc:derby:memory:fjs_meta;create=true"


@pytest.fixture(scope="module")
def derby_meta(spark):
    jvm = spark.sparkContext._jvm
    conn = jvm.java.sql.DriverManager.getConnection(URL)
    st = conn.createStatement()
    st.executeUpdate(
        'CREATE TABLE "t_meta" ('
        '"id" BIGINT NOT NULL, "seq" INT NOT NULL, '
        '"amount" DECIMAL(12,2), "label" VARCHAR(40), "fixed" CHAR(3), '
        '"born" DATE, "changed" TIMESTAMP, "payload" BLOB, '
        'PRIMARY KEY ("seq", "id"))')
    ps = conn.prepareStatement(
        'INSERT INTO "t_meta" ("id","seq","amount","label","fixed","born","changed","payload") '
        "VALUES (?,?,?,?,?,?,?,NULL)")
    for i in range(1, 6):
        ps.setLong(1, i * 10)
        ps.setInt(2, i)
        ps.setBigDecimal(3, jvm.java.math.BigDecimal(f"{i}.25"))
        ps.setString(4, f"row{i}")
        ps.setString(5, "abc")
        ps.setDate(6, jvm.java.sql.Date.valueOf(f"2026-01-0{i}"))
        ps.setTimestamp(7, jvm.java.sql.Timestamp.valueOf(f"2026-01-0{i} 12:30:0{i}.5"))
        ps.addBatch()
    ps.executeBatch()
    ps.close()
    st.close()
    conn.close()
    yield URL


def test_metadata_scan_types_and_blob_skip(spark, derby_meta):
    cols = read_table_metadata(spark, URL, "t_meta")
    by_name = {c.name: c for c in cols}
    assert "payload" not in by_name          # BLOB skipped (mis:552-555)
    assert list(by_name) == ["id", "seq", "amount", "label", "fixed", "born", "changed"]
    assert by_name["id"].spark_type == T.LongType() and not by_name["id"].nullable
    assert by_name["seq"].spark_type == T.IntegerType()
    assert by_name["amount"].spark_type == T.DecimalType(12, 2)
    assert by_name["amount"].nullable
    assert by_name["label"].spark_type == T.StringType()
    assert by_name["fixed"].is_char and by_name["fixed"].precision == 3
    assert by_name["born"].spark_type == T.DateType()
    assert by_name["changed"].spark_type == T.TimestampNTZType()


def test_detect_primary_key_lowest_seq(spark, derby_meta):
    """Composite PK ("seq","id") → lowest KEY_SEQ column wins (mis:611-620)."""
    assert detect_primary_key(spark, URL, "t_meta") == "seq"
    assert detect_primary_key(spark, URL, "no_such_table") is None


def test_read_watermark_and_bounds(spark, derby_meta):
    assert read_watermark_value(spark, URL, "t_meta", "id") == 50
    assert read_key_bounds(spark, URL, "t_meta", "id") == (10, 50)
    # temporal + decimal watermarks come back as native Python values
    ts = read_watermark_value(spark, URL, "t_meta", "changed")
    assert ts == dt.datetime(2026, 1, 5, 12, 30, 5, 500000)
    amt = read_watermark_value(spark, URL, "t_meta", "amount")
    assert amt == Decimal("5.25")
    d = read_watermark_value(spark, URL, "t_meta", "born")
    assert d == dt.date(2026, 1, 5)


@pytest.mark.parametrize("key", ["id", "changed", "amount", "born"])
def test_snapshot_facts_match_separate_reads(spark, derby_meta, key):
    """One statement gives what the separate reads give: the cutoff of
    read_watermark_value, the Spark count under that cutoff, and the lower
    bound of read_key_bounds — for integer, timestamp, decimal and date
    keys (temporal/decimal values through _from_java)."""
    cutoff, count, lower = read_snapshot_facts(spark, URL, "t_meta", key)
    assert cutoff == read_watermark_value(spark, URL, "t_meta", key)
    assert lower == read_key_bounds(spark, URL, "t_meta", key)[0]
    scan = spark.read.jdbc(URL, '"t_meta"').select(key)
    assert count == scan.filter(cutoff_predicate(key, cutoff)).count() == 5


def test_snapshot_facts_empty_and_null_keys(spark, derby_meta):
    """An empty table has no cutoff, count 0 and no bounds; NULL keys are
    outside the snapshot, so COUNT(k) skips them like `k <= cutoff` does."""
    jvm = spark.sparkContext._jvm
    conn = jvm.java.sql.DriverManager.getConnection(URL)
    st = conn.createStatement()
    st.executeUpdate('CREATE TABLE "t_empty" ("k" BIGINT)')
    st.executeUpdate('CREATE TABLE "t_nullk" ("k" BIGINT)')
    st.executeUpdate('INSERT INTO "t_nullk" VALUES (NULL), (4), (NULL), (9)')
    st.close()
    conn.close()
    assert read_snapshot_facts(spark, URL, "t_empty", "k") == (None, 0, None)
    assert read_key_bounds(spark, URL, "t_empty", "k") is None
    assert read_snapshot_facts(spark, URL, "t_nullk", "k") == (9, 2, 4)
