"""CLI end-to-end: reference-parity arguments drive a real multi-table ingest."""

from __future__ import annotations

from pyspark.sql import functions as F

from flink_job_spark.cli import detect_order_key, main, parse_table_mappings


def test_parse_table_mappings():
    assert parse_table_mappings("a:b, c ,d:e,") == [("a", "b"), ("c", "c"), ("d", "e")]


def test_detect_order_key():
    assert detect_order_key(["l_orderkey", "l_partkey"]) == "l_orderkey"
    assert detect_order_key(["name", "value"]) == "name"


def test_cli_skips_inaccessible_table(spark, sf_dir, tmp_path):
    """A missing table is probed, skipped, and does not fail the batch."""
    tgt = str(tmp_path / "out")
    rc = main([
        "--tables", "no_such_table,customer",
        "--source-dir", sf_dir,
        "--target-dir", tgt,
        "--mode", "replace",
    ])
    assert rc == 0  # the good table loaded; the bad one was skipped, not failed
    assert spark.read.parquet(f"{tgt}/customer").count() > 0


def test_cli_jdbc_source_end_to_end(spark, sf_dir, tmp_path):
    """--source-dir as a live jdbc: URL drives the reference's full flow:
    metadata scan → PK detect → frozen watermark → parallel pushed-down read
    → envelope → write → audit. --fetch-size/--parallelism (mis:83, 116) are
    wired into the JDBC reader."""
    url = "jdbc:derby:memory:fjs_cli;create=true"
    jvm = spark.sparkContext._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    st = conn.createStatement()
    st.executeUpdate(
        'CREATE TABLE "items" ("ik" BIGINT NOT NULL, "name" VARCHAR(20), '
        'PRIMARY KEY ("ik"))')
    for i in range(1, 101):
        st.executeUpdate(f"""INSERT INTO "items" VALUES ({i}, 'n{i}')""")
    st.close()
    conn.close()

    tgt = str(tmp_path / "out")
    rc = main([
        "--table", "items",
        "--source-dir", url,
        "--target-dir", tgt,
        "--mode", "replace",
        "--parallelism", "3",
        "--fetch-size", "10",
        "--progress",
    ])
    assert rc == 0
    out = spark.read.parquet(f"{tgt}/items")
    assert out.count() == 100
    # detected PK drove the cutoff; envelope + dual hash consistent
    assert out.filter("lower(row_hash) != lower(row_hash_iceberg)").count() == 0
    assert set(out.columns) >= {"ik", "name", "row_hash", "row_hash_iceberg"}
    # decimal/char canonicalization metadata flowed from the live scan
    assert out.select("ik").distinct().count() == 100


def _derby_table(spark, url, ddl, rows):
    """CREATE one Derby table and INSERT ``rows`` (SQL literal tuples)."""
    jvm = spark.sparkContext._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    st = conn.createStatement()
    st.executeUpdate(ddl)
    table = ddl.split('"')[1]
    for r in rows:
        st.executeUpdate(f'INSERT INTO "{table}" VALUES ({", ".join(r)})')
    st.close()
    conn.close()


def _status_lines(out: str) -> dict[str, str]:
    """table → its result line (OK / INCONSISTENT) on the CLI's stdout."""
    return {line.split()[1].rstrip(":"): line for line in out.splitlines()
            if line.split()[:1] in (["OK"], ["INCONSISTENT"])}


def test_cli_jdbc_microsecond_timestamp_and_decimal_keys(spark, tmp_path, capsys):
    """Timestamp and decimal cutoffs render losslessly into the pushed-down
    subquery: the µs row that defines MAX(k) lands, the audit (source-side
    count vs re-read target) is OK, and the printed cutoff is the source
    MAX. A millisecond literal dropped the max row; a quoted decimal or an
    ANSI TIMESTAMP literal made Derby reject the read."""
    url = "jdbc:derby:memory:fjs_cli_keys;create=true"
    ts = ["2026-01-01 00:00:01.0", "2026-01-01 00:00:02.5",
          "2026-01-01 00:00:05.123", "2026-01-01 00:00:05.123456"]
    _derby_table(spark, url, 'CREATE TABLE "ts_keyed" ("k" TIMESTAMP NOT NULL, '
                 '"v" VARCHAR(8), PRIMARY KEY ("k"))',
                 [(f"TIMESTAMP('{t}')", f"'r{i}'") for i, t in enumerate(ts)])
    _derby_table(spark, url, 'CREATE TABLE "dec_keyed" ("k" DECIMAL(12,4) NOT NULL, '
                 '"v" VARCHAR(8), PRIMARY KEY ("k"))',
                 [(d, f"'r{i}'") for i, d in enumerate(["0.5", "1.25", "7.0001"])])
    tgt = str(tmp_path / "out")
    rc = main(["--tables", "ts_keyed,dec_keyed", "--source-dir", url,
               "--target-dir", tgt, "--mode", "replace", "--parallelism", "2"])
    lines = _status_lines(capsys.readouterr().out)
    assert rc == 0, lines
    assert lines["ts_keyed"].startswith("OK    ts_keyed: read=4 written=4 delta=0")
    assert lines["ts_keyed"].endswith("cutoff=2026-01-01 00:00:05.123456")
    assert lines["dec_keyed"].startswith("OK    dec_keyed: read=3 written=3 delta=0")
    assert lines["dec_keyed"].endswith("cutoff=7.0001")
    assert spark.read.parquet(f"{tgt}/ts_keyed").count() == 4
    assert spark.read.parquet(f"{tgt}/dec_keyed").count() == 3


def test_cli_jdbc_empty_and_null_key_tables(spark, tmp_path, capsys):
    """An empty table takes the `1 = 0` scan and audits OK at 0 rows. A
    no-PK table keys on its first column; its NULL-key rows are outside
    the snapshot — excluded from the source count and from the scan — and
    the audit is OK."""
    url = "jdbc:derby:memory:fjs_cli_edge;create=true"
    _derby_table(spark, url, 'CREATE TABLE "empty_t" ("k" BIGINT NOT NULL, '
                 '"v" VARCHAR(8), PRIMARY KEY ("k"))', [])
    _derby_table(spark, url, 'CREATE TABLE "nullkey_t" ("nk" INT, "v" VARCHAR(8))',
                 [("1", "'a'"), ("NULL", "'b'"), ("3", "'c'"), ("NULL", "'d'"),
                  ("2", "'e'")])
    tgt = str(tmp_path / "out")
    rc = main(["--tables", "empty_t,nullkey_t", "--source-dir", url,
               "--target-dir", tgt, "--mode", "replace", "--parallelism", "2"])
    lines = _status_lines(capsys.readouterr().out)
    assert rc == 0, lines
    assert lines["empty_t"].startswith("OK    empty_t: read=0 written=0 delta=0")
    assert lines["empty_t"].endswith("cutoff=None")
    assert lines["nullkey_t"].startswith("OK    nullkey_t: read=3 written=3 delta=0")
    got = spark.read.parquet(f"{tgt}/nullkey_t")
    assert sorted(r["nk"] for r in got.collect()) == [1, 2, 3]


def test_cli_jdbc_three_source_round_trips_per_table(spark, tmp_path, monkeypatch):
    """Per JDBC table the CLI opens three source connections at
    --parallelism > 1: the metadata scan, PK detection and the one
    snapshot-facts statement (cutoff, count and lower bound together)."""
    from flink_job_spark.sources import metadata

    url = "jdbc:derby:memory:fjs_cli_trips;create=true"
    for name in ("trip_a", "trip_b"):
        _derby_table(spark, url, f'CREATE TABLE "{name}" ("k" BIGINT NOT NULL, '
                     '"v" VARCHAR(8), PRIMARY KEY ("k"))',
                     [(str(i), f"'v{i}'") for i in range(1, 6)])
    calls = []
    real = metadata._connect

    def counting(*a, **kw):
        calls.append(a[1])
        return real(*a, **kw)

    monkeypatch.setattr(metadata, "_connect", counting)
    rc = main(["--tables", "trip_a,trip_b", "--source-dir", url,
               "--target-dir", str(tmp_path / "out"), "--mode", "replace",
               "--parallelism", "3"])
    assert rc == 0
    assert len(calls) == 3 * 2


def test_cli_fail_on_consistency_error_aborts(spark, sf_dir, tmp_path, capsys):
    """--fail-on-consistency-error aborts the job with rc=2 (mis:365-368):
    a second append under the same cutoff doubles the audited target count."""
    tgt = str(tmp_path / "out")
    base = ["--tables", "nation", "--source-dir", sf_dir, "--target-dir", tgt,
            "--mode", "append", "--fail-on-consistency-error"]
    assert main(base) == 0
    rc = main(base)
    assert rc == 2
    assert "ABORT nation" in capsys.readouterr().err


def test_cli_consistency_abort_stops_later_batches(spark, sf_dir, tmp_path, capsys):
    """--batch-size is the unit of abort: with one table per batch, a strict
    audit failure in the first batch exits 2 before the second batch starts,
    so its target is never written (mis:189-198, 365-368)."""
    import os

    tgt = str(tmp_path / "out")
    common = ["--source-dir", sf_dir, "--target-dir", tgt, "--mode", "append"]
    assert main(["--tables", "nation"] + common) == 0
    rc = main(["--tables", "nation,region", "--batch-size", "1",
               "--fail-on-consistency-error"] + common)
    assert rc == 2
    assert "ABORT nation" in capsys.readouterr().err
    assert not os.path.exists(f"{tgt}/region")


def test_cli_ingest_roundtrip(spark, sf_dir, tmp_path):
    tgt = str(tmp_path / "out")
    rc = main([
        "--tables", "customer,orders:orders_tgt",
        "--source-dir", sf_dir,
        "--target-dir", tgt,
        "--mode", "replace",
        "--order-by", "c_custkey,",  # explicit for customer, auto for orders
    ])
    assert rc == 0
    cust = spark.read.parquet(f"{tgt}/customer")
    orders = spark.read.parquet(f"{tgt}/orders_tgt")
    src_c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    src_o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    assert cust.count() == src_c.count()
    assert orders.count() == src_o.count()
    # envelope + dual hash present and consistent
    assert cust.filter("lower(row_hash) != lower(row_hash_iceberg)").count() == 0
    assert set(cust.columns) >= {"row_hash", "row_hash_iceberg", "op", "load_dttm"}


def test_cli_csv_json_orc_sources(spark, sf_dir, tmp_path):
    """--source-format csv/json/orc: the same ingest+audit flow runs off
    text/columnar sources — the engine's format-agnostic source surface."""
    from flink_job_spark.sources.tables import NTZ_FMT, load_table

    cust = load_table(spark, sf_dir, "customer")
    for fmt in ["csv", "json", "orc"]:
        src_dir = tmp_path / f"src_{fmt}"
        w = cust.write.mode("overwrite")
        if fmt == "csv":
            w.option("header", True).option("timestampNTZFormat", NTZ_FMT) \
             .csv(str(src_dir / "customer"))
        elif fmt == "json":
            w.option("timestampNTZFormat", NTZ_FMT).json(str(src_dir / "customer"))
        else:
            w.orc(str(src_dir / "customer"))
        tgt = str(tmp_path / f"out_{fmt}")
        rc = main([
            "--table", "customer",
            "--source-dir", str(src_dir),
            "--source-format", fmt,
            "--target-dir", tgt,
            "--mode", "replace",
        ])
        assert rc == 0, fmt
        got = spark.read.parquet(f"{tgt}/customer")
        assert got.count() == cust.count(), fmt
        # the audit hash columns were stamped off the declared-schema read
        assert "row_hash" in [c.lower() for c in got.columns], fmt


def test_snapshot_diff_null_keys_do_not_churn(spark):
    """An unchanged NULL-keyed row must not be emitted as ADDED+REMOVED on
    every run (plain equi-joins never match NULL keys)."""
    from flink_job_spark.operators.diff import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a"), (None, "n")], "k long, v string")
    new = spark.createDataFrame(
        [(1, "a"), (None, "n"), (2, "b")], "k long, v string")
    got = {(r["k"], r["change_type"])
           for r in snapshot_diff(old, new, ["k"]).collect()}
    assert got == {(2, "ADDED")}


def test_probe_dim_skips_null_vectors_and_raises_on_empty(spark):
    from flink_job_spark.functions.vectors import probe_dim

    df = spark.createDataFrame([(None,), ([1.0, 2.0, 3.0],)],
                               "v array<double>")
    assert probe_dim(df, "v") == 3
    import pytest
    with pytest.raises(ValueError, match="no non-null"):
        probe_dim(df.filter(F.col("v").isNull()), "v")
