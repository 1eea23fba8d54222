"""Independent answers the benchmark checks the engine against.

* Query specs: each spec's registry oracle SQL runs on DuckDB over the same
  parquet files, and the two results are compared as ``tools/check_oracle.py``
  compares them: row count, column names, then the order-insensitive value
  hash under its loose canon and under its strict canon on both DuckDB fetch
  paths (native and Arrow).
* CDC: the final table state and the last bonus result are recomputed in
  plain Python from the change log that was actually delivered.
"""

from __future__ import annotations

import math

import duckdb
from check_oracle import canon_strict, value_hash  # tools/, on sys.path via run.py

from projet_data_infrastructure_spark.sources.readers import TABLES

from datagen import Change, expected_state


class SqlOracle:
    """DuckDB views over one data directory."""

    def __init__(self, data_dir: str):
        self.con = duckdb.connect()
        for t in TABLES:
            self.con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )

    def mismatch(self, sql: str, rows: list[tuple], cols: list[str]) -> str | None:
        """None when ``rows``/``cols`` equal the oracle's answer, else why not."""
        self.con.execute(f"CREATE OR REPLACE TEMP TABLE _oracle_out AS {sql}")
        res = self.con.sql("SELECT * FROM _oracle_out")
        ocols = [c.lower() for c in res.columns]
        orows = res.fetchall()
        arrow = self.con.sql("SELECT * FROM _oracle_out").arrow()
        arrow_rows = list(zip(*(c.to_pylist() for c in arrow.columns)))
        cols = [c.lower() for c in cols]
        if len(rows) != len(orows):
            return f"row count {len(rows)} vs oracle {len(orows)}"
        if sorted(cols) != sorted(ocols):
            return f"columns {sorted(cols)} vs oracle {sorted(ocols)}"
        if value_hash(rows, cols) != value_hash(orows, ocols):
            return "value-hash mismatch"
        strict = value_hash(rows, cols, canon_strict)
        if strict != value_hash(orows, ocols, canon_strict):
            return "strict value-hash mismatch (fetchall path)"
        if strict != value_hash(arrow_rows, ocols, canon_strict):
            return "strict value-hash mismatch (arrow path)"
        return None

    def close(self) -> None:
        self.con.close()


def state_mismatch(delivered: list[Change], rows: list[dict]) -> str | None:
    """Compare the engine's final CDC state with the per-key reduction."""
    want = expected_state(delivered)
    got = {r["id"]: r for r in rows}
    if len(got) != len(rows):
        return "duplicate keys in the state"
    if set(got) != set(want):
        return f"keys differ: {len(set(got) ^ set(want))} of {len(want)}"
    for k, row in want.items():
        if any(got[k][f] != row[f] for f in row):
            return f"row {k} differs"
    return None


def bonus_rows(delivered: list[Change], staff: list[dict]) -> dict[int, tuple]:
    """Bonus query recomputed in Python: id → (count, mean duration, bonus)."""
    per: dict[int, list[int]] = {}
    for row in expected_state(delivered).values():
        per.setdefault(row["id_employee"], []).append(row["activity_duration"])
    salary = {e["id_employee"]: e["gross_salary"] for e in staff}
    return {
        emp: (len(d), sum(d) / len(d), salary[emp] * 0.05 if len(d) >= 15 else 0.0)
        for emp, d in per.items()
        if emp in salary
    }


def bonus_mismatch(delivered: list[Change], staff: list[dict], rows: list[dict]) -> str | None:
    want = bonus_rows(delivered, staff)
    got = {r["id_employee"]: (r["count_activity"], r["mean_duration"], r["bonus"]) for r in rows}
    if set(got) != set(want):
        return f"employees differ: {len(set(got) ^ set(want))}"
    for emp, (n, mean, bonus) in want.items():
        g = got[emp]
        if g[0] != n or g[2] != bonus or not math.isclose(g[1], mean, rel_tol=1e-9):
            return f"employee {emp}: {g} vs {(n, mean, bonus)}"
    return None
