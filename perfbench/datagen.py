"""Seeded input generators. Everything the program sees is made here,
before the timed phase, from the run's seed (or the fixed seed 42 for the
analytics tables)."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# analytics: TPC-H-shaped star schema plus an events table, with the schemas
# and value domains of the catalog's sf0.1 test data (uniform keys and
# categories, the same ranges), so every catalog query and its DuckDB oracle
# run unchanged against it.
# ---------------------------------------------------------------------------
SF01_ROWS = {"customer": 15_000, "supplier": 1_000, "part": 20_000,
             "orders": 150_000, "lineitem": 600_000, "events": 100_000}
ANALYTICS_SEED = 42

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, end: str, n):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = rng.integers(0, int((hi - lo).astype(int)) + 1, n)
    return (lo + d).astype("datetime64[us]")


def _pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def analytics_tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(ANALYTICS_SEED)
    n = SF01_ROWS
    i32 = np.int32
    out = {
        "region": pa.table({"r_regionkey": np.arange(5, dtype=i32),
                            "r_name": _REGIONS}),
        "nation": pa.table({"n_nationkey": np.arange(25, dtype=i32),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": np.arange(25, dtype=i32) % 5}),
    }
    c = np.arange(n["customer"], dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": c,
        "c_name": [f"Customer#{k:09d}" for k in c],
        "c_nationkey": rng.integers(0, 25, len(c)).astype(i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, len(c)),
        "c_mktsegment": _pick(rng, _SEGMENTS, len(c)),
    })
    s = np.arange(n["supplier"], dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": s,
        "s_name": [f"Supplier#{k:09d}" for k in s],
        "s_nationkey": rng.integers(0, 25, len(s)).astype(i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, len(s)),
    })
    p = np.arange(n["part"], dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": p,
        "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, _PART_ADJ, len(p)),
                                               _pick(rng, _PART_NOUN, len(p)))],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, len(p))],
        "p_type": _pick(rng, _PART_TYPES, len(p)),
        "p_size": rng.integers(1, 51, len(p)).astype(i32),
        "p_retailprice": np.round(900 + (p % 1000) / 10, 1),
    })
    o = np.arange(n["orders"], dtype=np.int64)
    out["orders"] = pa.table({
        "o_orderkey": o,
        "o_custkey": rng.integers(0, len(c), len(o)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], len(o)),
        "o_totalprice": _money(rng, 1000, 500_000, len(o)),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", len(o)),
        "o_orderpriority": _pick(rng, _PRIORITIES, len(o)),
    })
    m = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, len(o), m),
        "l_partkey": rng.integers(0, len(p), m),
        "l_suppkey": rng.integers(0, len(s), m),
        "l_linenumber": rng.integers(1, 8, m).astype(i32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, m),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], m),
        "l_linestatus": _pick(rng, ["F", "O"], m),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", m),
    })
    e = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    out["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": t0 + np.sort(rng.integers(0, span_us, e)).astype("timedelta64[us]"),
        "user_id": rng.integers(0, 1500, e),
        "event_type": _pick(rng, _EVENT_TYPES, e),
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    return out


def write_analytics_tables(sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in analytics_tables().items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))


# ---------------------------------------------------------------------------
# change-data model shared by etl_sync and lakehouse_read: a keyed table
# (id, part, updated_at, amount, name[, score]) and seeded change batches.
# ---------------------------------------------------------------------------
PARTS = 16
KEY = "id"
BASE_COLS = ["id", "part", "updated_at", "amount", "name"]
EVOLVED_COL = "score"
_T0 = np.datetime64("2024-01-01T00:00:00", "s")


def base_frame(rng, n: int) -> pd.DataFrame:
    return pd.DataFrame({
        "id": np.arange(n, dtype=np.int64),
        "part": rng.integers(0, PARTS, n).astype(np.int64),
        "updated_at": (_T0 + rng.integers(0, 86_400, n)).astype("datetime64[us]"),
        "amount": _money(rng, 1, 10_000, n),
        "name": [f"n{k}" for k in rng.integers(0, 100_000, n)],
    })


def zipf_keys(rng, keys: np.ndarray, k: int, s: float = 1.1) -> np.ndarray:
    """``k`` distinct keys, Zipf-skewed over a seeded ranking of ``keys``."""
    w = 1.0 / np.arange(1, len(keys) + 1) ** s
    ranked = rng.permutation(keys)
    return rng.choice(ranked, size=min(k, len(keys)), replace=False, p=w / w.sum())


def change_batch(rng, state: pd.DataFrame, rnd: int, n_updates: int,
                 n_inserts: int, n_tombstones: int, next_id: int,
                 evolved: bool) -> tuple[pd.DataFrame, pd.DataFrame]:
    """One round of changes against ``state`` (indexed by id): upserts
    (Zipf-skewed updates plus fresh inserts) and tombstones, disjoint, with
    ``updated_at`` strictly above every earlier round's."""
    live = state.index.to_numpy()
    upd = zipf_keys(rng, live, n_updates)
    rest = np.setdiff1d(live, upd)
    tomb = rng.choice(rest, size=min(n_tombstones, len(rest)), replace=False)
    ins = np.arange(next_id, next_id + n_inserts, dtype=np.int64)
    ids = np.concatenate([upd, ins])
    n = len(ids)
    base_ts = _T0 + np.timedelta64(86_400 * (rnd + 1), "s")
    part = np.concatenate([state.loc[upd, "part"].to_numpy(),
                           rng.integers(0, PARTS, n_inserts)])
    ups = pd.DataFrame({
        "id": ids,
        "part": part.astype(np.int64),
        "updated_at": (base_ts + rng.integers(0, 86_400, n)).astype("datetime64[us]"),
        "amount": _money(rng, 1, 10_000, n),
        "name": [f"n{k}" for k in rng.integers(0, 100_000, n)],
    })
    if evolved:
        ups[EVOLVED_COL] = _money(rng, 0, 1, n)
    tombs = pd.DataFrame({"id": np.sort(tomb).astype(np.int64),
                          "part": state.loc[np.sort(tomb), "part"].to_numpy()})
    return ups, tombs


def apply_batch(state: pd.DataFrame, ups: pd.DataFrame,
                tombs: pd.DataFrame | None) -> pd.DataFrame:
    """Last-write-wins upsert, then tombstones; ``state`` is indexed by id."""
    new = ups.set_index("id")
    cols = list(dict.fromkeys(list(state.columns) + list(new.columns)))
    out = state.reindex(columns=cols)
    out = pd.concat([out.drop(index=new.index, errors="ignore"),
                     new.reindex(columns=cols)])
    if tombs is not None and len(tombs):
        out = out.drop(index=tombs["id"].to_numpy())
    return out.sort_index()
