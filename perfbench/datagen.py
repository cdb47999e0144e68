"""Seeded source tables for ``ingest_jdbc``.

The generator takes a ``numpy.random.Generator`` built from the run's
``--seed``, so one seed always yields the same rows. Tables are built as
Arrow tables in the benchmark process and loaded into Derby in set-up.
(``stream_resume`` reads the engine's paged source, whose rows are a function
of the key, and ``query_mix`` reads the copy of the repository's sf0.001 test
tables under ``data/``.)
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc


def _words(rng, vocab: list[str], n: int, lo: int, hi: int) -> pa.Array:
    """``n`` strings of ``lo..hi-1`` space-separated words drawn from ``vocab``."""
    lens = rng.integers(lo, hi, n)
    offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int32)
    words = pa.array(vocab).take(pa.array(rng.integers(0, len(vocab), int(offsets[-1]))))
    return pc.binary_join(pa.ListArray.from_arrays(pa.array(offsets), words), " ")


def _timestamps(rng, n: int, start: str, days: int) -> np.ndarray:
    """``n`` whole-second timestamps within ``days`` days from ``start``."""
    seconds = rng.integers(0, days * 86_400, n)
    return np.datetime64(start, "us") + (seconds * 1_000_000).astype("timedelta64[us]")


def jdbc_tables(rng, big_rows: int, small_tables: int, small_rows: int
                ) -> list[tuple[str, str, bool, pa.Table]]:
    """[(name, Derby column DDL, has_pk, rows)]. ``t_big`` has a BIGINT PK;
    ``t_nopk`` has no primary key, so the CLI falls back to its first column;
    the rest are small keyed tables."""
    def rows(n: int) -> pa.Table:
        return pa.table({
            "id": pa.array(rng.permutation(n) + 1, pa.int64()),
            "name": _words(rng, ["alpha", "beta", "gamma", "delta", "eps"], n, 1, 4),
            "amount": pc.cast(pa.array(rng.integers(-10**8, 10**8, n) / 100),
                              pa.decimal128(12, 2), safe=False),
            "updated": pa.array(_timestamps(rng, n, "2020-01-01", 1500), pa.timestamp("us")),
            "code": pc.binary_join_element_wise(
                "C", pc.cast(pa.array(rng.integers(100, 1000, n)), pa.string()), ""),
        })

    ddl = ('"id" BIGINT NOT NULL, "name" VARCHAR(64), "amount" DECIMAL(12,2), '
           '"updated" TIMESTAMP, "code" CHAR(4)')
    out = [("t_big", ddl, True, rows(big_rows)),
           ("t_nopk", ddl, False, rows(small_rows))]
    for i in range(small_tables - 1):
        out.append((f"t_small_{i:02d}", ddl, True, rows(small_rows)))
    return out

