"""Seeded synthetic inputs for the benchmark.

Writes the ten fixture tables the registered queries read (one parquet
file each, the layout and schemas of FIXTURES.md section B) and the
College Scorecard CSV of FIXTURES.md section A. Row counts and value
distributions are those measured on the test fixtures (TESTDATA.md) by
``fixture_stats.py`` and recorded in ``fixture_profile.json``: uniform
keys, uniform categorical mixes, exponential event gaps and values, a
31-word document vocabulary with exactly 5% " dup" copies, unit-norm
64-d embeddings. The same seed always gives byte-identical inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.412, 0.151, 0.149, 0.148, 0.140)
DUP_FRAC = 0.05
EMB_DIM = 64

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def fixture_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten fixture tables at scale factor ``sf`` (sf0.01: 60k
    lineitem rows), drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pkeys = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pkeys,
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pkeys % 1000) / 10.0, 2),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2400, n_ord) * _DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        # Independent of l_quantity, as in the test fixtures.
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), n_line),
        "l_linestatus": rng.choice(("F", "O"), n_line),
        "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2500, n_line) * _DAY_US),
    })
    gaps = rng.exponential(30 * _DAY_US / n_ev, n_ev).astype(np.int64) + 1
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(_EPOCH_2024 + np.cumsum(gaps)),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = [
        " ".join(rng.choice(VOCAB, n)) for n in rng.integers(10, 100, n_doc)
    ]
    copies = rng.choice(n_doc, round(n_doc * DUP_FRAC), replace=False)
    originals = np.setdiff1d(np.arange(n_doc), copies)
    for i in copies:
        texts[i] = texts[int(rng.choice(originals))] + " dup"
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    vecs = rng.standard_normal((n_emb, EMB_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return out


def write_fixture_tables(seed: int, sf: float, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in fixture_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# FIXTURES.md section A: 7,593 rows (DataTest.scala:87), >= 50 states,
# several cities per state, "NULL" literals in the nullable measures.
SCORECARD_ROWS = 7593
STATES = (
    "AK AL AR AZ CA CO CT DC DE FL GA HI IA ID IL IN KS KY LA MA MD ME MI MN "
    "MO MS MT NC ND NE NH NJ NM NV NY OH OK OR PA PR RI SC SD TN TX UT VA VT "
    "WA WI WV WY"
).split()
# Ignored extra columns: inferSchema still has to type every one.
SCORECARD_EXTRA = ("ZIP", "CONTROL", "LATITUDE", "LONGITUDE", "UGDS", "ADM_RATE", "NPT4_PUB", "PCTPELL")


def write_scorecard_csv(seed: int, path: str) -> None:
    """The College Scorecard CSV: header row, ``NULL`` literals, every
    state with ~8-15 cities, and in TX some single-row city groups so
    the ``HAVING COUNT > 1`` guard has rows to drop."""
    rng = np.random.default_rng(seed + 1)
    cities = {s: [f"{s} City {i}" for i in range(int(rng.integers(8, 16)))] for s in STATES}
    # Single-institution TX cities: picked at most once below.
    tx_singles = [f"TX Town {i}" for i in range(12)]
    header = ["UNITID", "OPEID", "OPEID6", "INSTNM", "CITY", "STABBR", *SCORECARD_EXTRA[:4],
              "COSTT4_A", "DEBT_MDN", "C100_4", "C150_4", *SCORECARD_EXTRA[4:]]

    def maybe(value: str, p_null: float) -> str:
        return "NULL" if rng.random() < p_null else value

    # Distinct debts: the top-5 of job 2 never depends on a tie-break.
    debts = 3000.0 + rng.permutation(SCORECARD_ROWS) * 3.5
    lines = [",".join(header)]
    for i in range(SCORECARD_ROWS):
        state = STATES[int(rng.integers(0, len(STATES)))] if i % 7 else "TX"
        city = cities[state][int(rng.integers(0, len(cities[state])))]
        if state == "TX" and tx_singles and rng.random() < 0.02:
            city = tx_singles.pop()
        unitid = 100000 + i * 7
        opeid = 1000000 + int(rng.integers(0, 9_000_000))
        lines.append(",".join((
            str(unitid),
            f"{opeid:08d}",
            str(opeid // 100),
            f'"Institution {i}, {city}"',
            city,
            state,
            f"{int(rng.integers(10000, 99999)):05d}",
            str(int(rng.integers(1, 4))),
            f"{rng.uniform(18, 65):.6f}",
            f"{rng.uniform(-160, -65):.6f}",
            maybe(str(int(rng.integers(5000, 70000))), 0.25),
            maybe(f"{debts[i]:.1f}", 0.15),
            maybe(f"{rng.uniform(0, 1):.4f}", 0.35),
            maybe(f"{rng.uniform(0, 1):.4f}", 0.30),
            maybe(str(int(rng.integers(10, 50000))), 0.05),
            maybe(f"{rng.uniform(0, 1):.4f}", 0.2),
            maybe(str(int(rng.integers(1000, 30000))), 0.5),
            maybe(f"{rng.uniform(0, 1):.4f}", 0.1),
        )))
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
