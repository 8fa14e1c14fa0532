"""Seeded input generators. Everything the program under test sees is
made here from the run's ``--seed``; nothing is read from outside the
checkout.

- :func:`event_columns` — bus events: Zipf-skewed ``user_id`` and a fixed
  ``event_type`` mix, as numpy columns.
- :func:`write_fixture_tables` — the ten fixture tables the declared
  queries read (schemas as in FIXTURES.md), at a chosen scale, as parquet.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
EVENT_MIX = np.array([0.45, 0.30, 0.10, 0.10, 0.05])
N_USERS = 50_000
ZIPF_A = 1.2


def event_columns(rng: np.random.Generator, n: int, first_id: int = 0) -> dict:
    """``n`` synthetic events (payload columns of the bus schema except
    ``ts_us``, which the caller assigns: a due time or a replay clock)."""
    return {
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "user_id": ((rng.zipf(ZIPF_A, n) - 1) % N_USERS).astype(np.int64),
        "event_type": EVENT_TYPES[rng.choice(len(EVENT_TYPES), n, p=EVENT_MIX)],
        "value": np.round(rng.exponential(50.0, n), 2),
    }


# --- fixture tables -------------------------------------------------------

_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_ADJ = ["red", "small", "hot", "cold", "old", "new", "large", "blue"]
_NOUN = ["gear", "gizmo", "widget", "ring", "plate", "anvil", "bolt", "rod"]
_PTYPE = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
_SEGMENT = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_LANGS = np.array(["en", "zh", "es", "fr", "de"])
_LANG_P = np.array([0.4, 0.15, 0.15, 0.15, 0.15])
_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00Z in µs
_EPOCH_2024 = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z in µs


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _docs(rng, n: int) -> list[str]:
    lens = rng.integers(8, 90, n)
    words = np.array(_WORDS)[rng.integers(0, len(_WORDS), int(lens.sum()))]
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(words[pos : pos + k]))
        pos += k
    # near-duplicates: a twentieth of the documents copy an earlier one
    # with a marker word appended (what the dedup/similarity ops look for)
    for i in range(20, n, 20):
        out[i] = out[int(rng.integers(0, i))] + " dup"
    return out


def write_fixture_tables(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write the ten fixture tables for ``scale`` (1.0 ≈ 6M lineitem
    rows, as the sf directories of TESTDATA.md). Returns rows per table."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1_500, int(1_500_000 * scale))
    n_ev = max(1_000, int(1_000_000 * scale))
    n_doc = max(500, int(50_000 * scale))
    n_emb = max(500, int(20_000 * scale))
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(_SEGMENT)[rng.integers(0, 5, n_cust)],
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    adj = np.array(_ADJ)[rng.integers(0, len(_ADJ), n_part)]
    noun = np.array(_NOUN)[rng.integers(0, len(_NOUN), n_part)]
    tables["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": np.char.add(np.char.add(adj, " "), noun),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(_PTYPE)[rng.integers(0, len(_PTYPE), n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    order_day = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": np.array(["P", "O", "F"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts(_EPOCH_1995 + order_day * _DAY_US),
            "o_orderpriority": np.array(_PRIORITY)[rng.integers(0, 5, n_ord)],
        }
    )
    lines_per = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines_per)
    n_line = len(l_order)
    starts = np.cumsum(lines_per) - lines_per
    l_num = np.arange(n_line) - np.repeat(starts, lines_per) + 1
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    ship = np.repeat(order_day, lines_per) + rng.integers(1, 122, n_line)
    perm = rng.permutation(n_line)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": l_order[perm],
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": pa.array(l_num[perm], pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * _money(rng, 900.0, 2100.0, n_line), 2),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": np.array(["N", "R", "A"])[rng.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
            "l_shipdate": _ts(_EPOCH_1995 + ship[perm] * _DAY_US),
        }
    )
    ev = event_columns(rng, n_ev)
    ev_ts = _EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    tables["events"] = pa.table(
        {
            "event_id": ev["event_id"],
            "ts": _ts(ev_ts),
            "user_id": ev["user_id"] % max(1, n_cust // 10),
            "event_type": ev["event_type"],
            "value": ev["value"],
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts = _docs(rng, n_doc)
    tables["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": _LANGS[rng.choice(len(_LANGS), n_doc, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), 64).cast(
                pa.list_(pa.float32())
            ),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}
