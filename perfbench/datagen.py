"""Seeded inputs for the benchmark: the star-schema tables and the CDC feed.

Everything here is a pure function of ``(seed, scale)`` built with numpy, so
the same seed gives byte-identical inputs and the engine under test only ever
sees the generated files.

* :func:`write_tables` writes the ten parquet tables the query specs read
  (``region nation customer supplier part orders lineitem events documents
  embeddings``) with the column names, types, row counts and value
  distributions of the engine's seed-42 test tables, read off those tables
  (the repository does not ship them). ``scale=0.01`` gives the sf0.01
  shapes. ``perfbench/datacheck.py`` compares the specs' result sizes, job
  counts and latencies on the generated tables with a reference directory.
* :func:`change_log` turns generated activities into Debezium changes
  (mostly creates, some updates and deletes, each key's changes in
  strictly increasing ``ts_ms``), and :func:`deliveries` slices them into
  micro-batch files where a share of the changes arrives one or more
  batches late.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a the agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMBED_DIM = 64

_DAY_US = 86_400_000_000


def _epoch_us(day: str) -> int:
    return int(np.datetime64(day, "us").astype(np.int64))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _days(rng: np.random.Generator, first: str, last: str, n: int) -> pa.Array:
    lo, hi = _epoch_us(first) // _DAY_US, _epoch_us(last) // _DAY_US
    return _ts(rng.integers(lo, hi + 1, n) * _DAY_US)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad ASCII documents of 10-99 words; ~5 % are an earlier
    document plus " dup"."""
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(np.asarray(WORDS)[rng.integers(0, len(WORDS), k)]))
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def table_rows(scale: float) -> dict[str, int]:
    """Row count per table at ``scale`` (sf0.01 → 60 000 lineitem rows)."""
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * scale),
        "supplier": max(10, int(10_000 * scale)),
        "part": int(200_000 * scale),
        "orders": int(1_500_000 * scale),
        "lineitem": int(6_000_000 * scale),
        "events": int(1_000_000 * scale),
        "documents": max(500, int(50_000 * scale)),
        "embeddings": max(500, int(20_000 * scale)),
    }


def write_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write the ten seeded tables as ``<out_dir>/<name>.parquet``."""
    rng = np.random.default_rng(seed)
    n = table_rows(scale)
    n_users = max(15, int(15_000 * scale))
    i32, i64 = pa.int32(), pa.int64()

    def keys(k: int) -> np.ndarray:
        return np.arange(k, dtype=np.int64)

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    c = keys(n["customer"])
    tables["customer"] = pa.table({
        "c_custkey": c,
        "c_name": [f"Customer#{k:09d}" for k in c],
        "c_nationkey": pa.array(rng.integers(0, 25, len(c)), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, len(c)),
        "c_mktsegment": _pick(rng, SEGMENTS, len(c)),
    })
    s = keys(n["supplier"])
    tables["supplier"] = pa.table({
        "s_suppkey": s,
        "s_name": [f"Supplier#{k:09d}" for k in s],
        "s_nationkey": pa.array(rng.integers(0, 25, len(s)), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, len(s)),
    })
    p = keys(n["part"])
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    tables["part"] = pa.table({
        "p_partkey": p,
        "p_name": _pick(rng, names, len(p)),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, len(p))]),
        "p_type": _pick(rng, PART_TYPES, len(p)),
        "p_size": pa.array(rng.integers(1, 51, len(p)), i32),
        "p_retailprice": np.round(900.0 + (p % 1000) / 10.0, 2),
    })
    o = keys(n["orders"])
    tables["orders"] = pa.table({
        "o_orderkey": o,
        "o_custkey": rng.integers(0, len(c), len(o)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], len(o)),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, len(o)),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", len(o)),
        "o_orderpriority": _pick(rng, PRIORITIES, len(o)),
    })
    m = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, len(o), m),
        "l_partkey": rng.integers(0, len(p), m),
        "l_suppkey": rng.integers(0, len(s), m),
        "l_linenumber": pa.array(rng.integers(1, 8, m), i32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, m),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], m),
        "l_linestatus": _pick(rng, ["F", "O"], m),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", m),
    })
    e = keys(n["events"])
    tables["events"] = pa.table({
        "event_id": e,
        "ts": _ts(_epoch_us("2024-01-01") + np.sort(rng.integers(0, 30 * _DAY_US, len(e)))),
        "user_id": rng.integers(0, n_users, len(e)),
        "event_type": _pick(rng, EVENT_TYPES, len(e)),
        "value": np.maximum(np.round(rng.exponential(50.0, len(e)), 2), 0.01),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, len(e))]),
    })
    tables["documents"] = _documents(rng, n["documents"])
    v = rng.standard_normal((n["embeddings"], EMBED_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": keys(n["embeddings"]),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n["embeddings"]), i32),
    })
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# --------------------------------------------------------------------------
# CDC feed

@dataclass(frozen=True)
class Change:
    """One Debezium change of a ``streaming.cdc.ACTIVITY_SCHEMA`` row.

    ``row`` is the after image of a create or update and the before image
    of an update or delete (``parse_envelope`` reads ``before`` only for
    deletes)."""

    op: str
    ts_ms: int
    row: dict

    def envelope(self) -> str:
        before = self.row if self.op in ("u", "d") else None
        after = self.row if self.op != "d" else None
        payload = {"before": before, "after": after, "op": self.op, "ts_ms": self.ts_ms}
        return json.dumps({"payload": payload}, separators=(",", ":"))


def employees(seed: int, n_employees: int) -> list[dict]:
    """Seeded employee dimension for the bonus query."""
    rng = np.random.default_rng(seed + 1)
    first = ["Alice", "Bruno", "Chloe", "David", "Emma", "Farid", "Gaelle", "Hugo"]
    last = ["Martin", "Bernard", "Dubois", "Thomas", "Robert", "Petit", "Durand"]
    return [
        {
            "id_employee": i,
            "first_name": first[int(rng.integers(len(first)))],
            "last_name": last[int(rng.integers(len(last)))],
            "gross_salary": float(np.round(rng.uniform(25_000, 90_000), 2)),
        }
        for i in range(1, n_employees + 1)
    ]


def change_log(activities: list[dict], staff: list[dict], seed: int) -> list[Change]:
    """Activities → changes: a create per activity, then seeded updates
    (~15 %) and deletes (~5 %) of earlier activities, interleaved.

    ``ts_ms`` is unique across the log and increases along it, so the per-key
    latest change is well defined however the log is sliced into batches."""
    rng = np.random.default_rng(seed + 2)
    names = {e["id_employee"]: e for e in staff}
    acts = sorted(activities, key=lambda a: (a["start_datetime"], a["id_employee"]))
    rows: list[dict] = []
    deleted: set[int] = set()
    log: list[tuple[str, dict]] = []
    for i, a in enumerate(acts, start=1):
        emp = names[a["id_employee"]]
        row = {
            "id": i,
            "id_employee": a["id_employee"],
            "first_name": emp["first_name"],
            "last_name": emp["last_name"],
            "start_datetime": a["start_datetime"],
            "sport_type": a["sport_type"],
            "distance": a["distance"],
            "activity_duration": a["activity_duration"],
            "comment": a["comment"],
        }
        rows.append(row)
        log.append(("c", row))
        r = rng.random()
        if r < 0.20 and len(rows) > 1:
            old = rows[int(rng.integers(0, len(rows) - 1))]
            if old["id"] in deleted:
                continue
            if r < 0.05:
                deleted.add(old["id"])
                log.append(("d", old))
            else:
                new = dict(old, activity_duration=int(old["activity_duration"] + rng.integers(1, 600)))
                rows[old["id"] - 1] = new
                log.append(("u", new))
    base = 1_700_000_000_000
    return [Change(op, base + 7 * k, row) for k, (op, row) in enumerate(log)]


def deliveries(log: list[Change], seed: int, batch_rows: int, late_share: float = 0.1) -> list[list[Change]]:
    """Slice the log into batches of ``batch_rows`` changes; ``late_share``
    of the changes are held back one to three batches. Lines in a batch are
    shuffled."""
    rng = np.random.default_rng(seed + 3)
    n_batches = max(1, -(-len(log) // batch_rows))
    batches: list[list[Change]] = [[] for _ in range(n_batches)]
    for k, ch in enumerate(log):
        b = k // batch_rows
        if rng.random() < late_share:
            b = min(n_batches - 1, b + int(rng.integers(1, 4)))
        batches[b].append(ch)
    for b in batches:
        rng.shuffle(b)
    return [b for b in batches if b]


def expected_state(delivered: list[Change]) -> dict[int, dict]:
    """Independent per-key reduction: the latest change per id wins, deletes
    remove the key."""
    last: dict[int, Change] = {}
    for ch in delivered:
        k = ch.row["id"]
        if k not in last or ch.ts_ms > last[k].ts_ms:
            last[k] = ch
    return {k: ch.row for k, ch in last.items() if ch.op != "d"}
