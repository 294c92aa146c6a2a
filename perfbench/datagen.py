"""Seeded inputs for the benchmark.

Two families, both a pure function of ``(seed, scale)``:

- ``write_tables``: the ten catalog tables (TPC-H-ish star schema plus
  ``events``, ``documents`` and ``embeddings``) with the column names,
  types and value domains of the engine's catalog, as one parquet file
  each. The row counts follow the scale factor ``sf`` (lineitem = 6M x sf).
- ``rankings_batches``: rankings_v1 CSV batches for the ingest workload.
  Dates come from a fixed calendar, never from the clock, so the same seed
  writes the same bytes on any day.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "a the spark window merge table column vector stream value data small "
    "join filter big group hash customer sort order slow line part fast row "
    "agg key query scan batch"
).split()
LANGS = ("en", "en", "en", "zh", "de", "fr", "es")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
PART_ADJ = ("blue", "old", "large", "hot", "cold", "small", "new", "red")
PART_NOUN = ("widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil")
PART_TYPES = ("SMALL", "MEDIUM", "PROMO", "LARGE", "ECONOMY", "STANDARD")

_EPOCH_US = np.datetime64("1970-01-01T00:00:00", "us")


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), pa.timestamp("us"))


def _days_us(start: str, days: np.ndarray) -> np.ndarray:
    base = (np.datetime64(start, "us") - _EPOCH_US).astype(np.int64)
    return base + days.astype(np.int64) * 86_400_000_000


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, choices, n: int) -> pa.Array:
    return pa.array(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)])


def tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, int(sf * 1e6)])
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_users = max(15, int(15_000 * sf))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    ck = np.arange(n_cust, dtype=np.int64)
    out["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    sk = np.arange(n_supp, dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    ok = np.arange(n_ord, dtype=np.int64)
    out["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(_days_us("1995-01-01", rng.integers(0, 2404, n_ord))),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
        "l_linestatus": _pick(rng, ("F", "O"), n_line),
        "l_shipdate": _ts(_days_us("1995-01-02", rng.integers(0, 2499, n_line))),
    })
    span_us = 30 * 86_400_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev)) + _days_us("2024-01-01", np.zeros(1))[0]
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    words = np.asarray(WORDS, dtype=object)
    texts, langs = [], []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            j = int(rng.integers(0, i))
            texts.append(texts[j] + " dup")
            langs.append(langs[j])
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))]))
            langs.append(LANGS[int(rng.integers(0, len(LANGS)))])
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
    })
    vec = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vec.ravel()), 64).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
    })
    return out


def write_tables(seed: int, sf: float, out_dir: str) -> str:
    """Write the catalog tables once per ``(seed, sf)``; reuse them after."""
    done = os.path.join(out_dir, "_DONE")
    if not os.path.exists(done):
        os.makedirs(out_dir, exist_ok=True)
        for name, tbl in tables(seed, sf).items():
            pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        open(done, "w").close()
    return out_dir


# --- rankings_v1 CSV batches (ingest workload) ---------------------------

DOMAINS = ("casino.org", "bonusfinder.com", "gambling.com", "vegasslotsonline.com")
TERMS = tuple(f"{a} {b}" for a in ("best", "free", "online", "live", "mobile")
              for b in ("slots", "poker", "casino", "bingo", "spins", "apps"))
RANKINGS_DAYS = 120  # 2024-01-01 .. 2024-04-29: four month partitions


def rankings_batch(seed: int, batch_no: int, rows: int) -> list[tuple]:
    """One batch of rankings_v1 rows, unique on (domain, term, date) within
    the batch; keys recur across batches so keep-latest has work to do."""
    rng = np.random.default_rng([seed, 7, batch_no])
    key_space = len(DOMAINS) * len(TERMS) * RANKINGS_DAYS
    keys = rng.choice(key_space, size=min(rows, key_space), replace=False)
    base = dt.date(2024, 1, 1)
    out = []
    for k in keys.tolist():
        d, rest = divmod(k, len(DOMAINS) * len(TERMS))
        dom, term = DOMAINS[rest % len(DOMAINS)], TERMS[rest // len(DOMAINS)]
        out.append((
            dom,
            (base + dt.timedelta(days=d)).isoformat(),
            term,
            f"https://www.{dom}/p/{int(rng.integers(0, 10**6))}",
            int(rng.integers(1, 101)),
            int(rng.integers(1, 5_000_000)) * 10,
            int(rng.integers(0, 1001)) / 100.0,
        ))
    return out


def write_rankings_csv(rows: list[tuple], path: str) -> int:
    """Write ``rows`` as a headed rankings_v1 CSV; returns its size in bytes."""
    with open(path, "w") as fh:
        fh.write("domain,date,term,url,rank,volume,cpc\n")
        for r in rows:
            fh.write(",".join(str(v) for v in r) + "\n")
    return os.path.getsize(path)
