"""Seeded input generators for the benchmark workloads.

Everything the program reads is made here from the workload seed, so a
run never depends on files outside its own directory and the same seed
always yields byte-identical inputs.

- :func:`write_star_schema` writes the ten tables the query registry
  reads (``region nation customer supplier part orders lineitem events
  documents embeddings``) with the column names, types and value
  distributions of the registry's reference corpus.
- :func:`trade_month` makes one month of Binance-format trade rows for
  one symbol, with a seeded share of rows the ETL's data-quality filter
  must drop.
- :func:`lakehouse_rows` makes rows for the commit-log workload.
"""

from __future__ import annotations

import calendar
import datetime as dt
import io
import zipfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Rows per table at scale 1.0 for the entity/fact tables; documents and
#: embeddings have a 500-row floor, as the reference corpus does.
_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = ["en", "es", "zh", "de", "fr"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _days(rng, start: dt.date, end: dt.date, n: int) -> np.ndarray:
    """``n`` uniform midnight timestamps (microseconds) in [start, end]."""
    span = (end - start).days + 1
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def star_schema(seed: int, scale: float) -> dict[str, pa.Table]:
    """The ten registry tables at ``scale`` (1.0 = the 6M-lineitem size)."""
    rng = np.random.default_rng(seed)
    n = {t: max(int(r * scale), 10) for t, r in _ROWS.items()}
    n_docs = max(int(50_000 * scale), 500)
    n_vecs = max(int(20_000 * scale), 500)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, nc)],
        }
    )
    ns = n["supplier"]
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    np_ = n["part"]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(np_), pa.int64()),
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, np_)],
            "p_type": [_PTYPES[i] for i in rng.integers(0, 6, np_)],
            "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) * 0.1, 1),
        }
    )
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), no),
            "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, no)],
        }
    )
    nl = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
            "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), nl),
        }
    )
    ne = n["events"]
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, ne)) + np.datetime64("2024-01-01", "us").astype(
        np.int64
    )
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne), pa.int64()),
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": pa.array(rng.integers(0, max(ne // 66, 10), ne), pa.int64()),
            "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, ne)],
        }
    )
    t["documents"] = _documents(rng, n_docs)
    vec = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
        }
    )
    return t


def _documents(rng, n: int) -> pa.Table:
    """Random word documents; 5% are an earlier document plus a trailing
    ``dup`` token (near duplicates) and a few are exact copies."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.056:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    langs = rng.choice(len(_LANGS), n, p=_LANG_P)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": [_LANGS[i] for i in langs],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )


def write_star_schema(out_dir: str, seed: int, scale: float) -> int:
    """Write every registry table as ``<out_dir>/<name>.parquet``;
    returns the bytes written."""
    import os

    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in star_schema(seed, scale).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total


# ---------------------------------------------------------------- trades

#: Per-row defect kinds the ETL's DQ filter must drop.
_DEFECTS = ("zero_price", "neg_qty", "null_price", "day31")


def trade_month(
    rng, symbol: str, year: int, month: int, n: int, bad_frac: float
) -> tuple[bytes, int]:
    """One month of headerless 7-column trade CSV for ``symbol``.

    Returns ``(csv_bytes, bad_rows)``.  A bad row has a zero price, a
    negative quantity, an empty price, or a timestamp on day 31 in a
    30-day month (the calendar check keys the day off the timestamp and
    the month off the path).  Good rows fall inside the month."""
    days = calendar.monthrange(year, month)[1]
    start_ms = int(dt.datetime(year, month, 1, tzinfo=dt.timezone.utc).timestamp() * 1000)
    times = np.sort(rng.integers(0, days * 86_400_000, n)) + start_ms
    price = np.round(100.0 * np.exp(np.cumsum(rng.normal(0, 1e-3, n))), 4)
    qty = np.round(rng.uniform(0.001, 5.0, n), 5)
    maker = rng.random(n) < 0.5
    bad = rng.random(n) < bad_frac
    kinds = rng.integers(0, len(_DEFECTS), n)
    # day31 rows need a 30-day month to be invalid; elsewhere use a zero price
    day31_ok = days == 30
    out = io.StringIO()
    first_id = int(rng.integers(1_000_000, 9_000_000))
    for i in range(n):
        p, q, t = f"{price[i]:.4f}", f"{qty[i]:.5f}", int(times[i])
        if bad[i]:
            kind = _DEFECTS[kinds[i]]
            if kind == "day31" and not day31_ok:
                kind = "zero_price"
            if kind == "zero_price":
                p = "0.0"
            elif kind == "neg_qty":
                q = f"-{qty[i]:.5f}"
            elif kind == "null_price":
                p = ""
            else:
                # the last day of the previous (31-day) month: the row
                # reads back as day 31 under this 30-day month's path
                t = start_ms - 86_400_000 + (t - start_ms) % 86_400_000
        quote = f"{price[i] * qty[i]:.8f}"
        out.write(
            f"{first_id + i},{p},{q},{quote},{t},{'True' if maker[i] else 'False'},True\n"
        )
    return out.getvalue().encode(), int(bad.sum())


def zip_member(name: str, payload: bytes) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        zf.writestr(name, payload)
    return buf.getvalue()


# ------------------------------------------------------------- lakehouse


def lakehouse_rows(rng, first_id: int, n: int, n_keys: int) -> list[tuple]:
    """``n`` rows ``(id, k, v, tag)`` with ids ``first_id..first_id+n-1``."""
    ks = rng.integers(0, n_keys, n)
    vs = rng.integers(0, 1_000_000, n)
    tags = rng.integers(0, 26, n)
    return [
        (first_id + i, int(ks[i]), int(vs[i]), chr(97 + int(tags[i])))
        for i in range(n)
    ]
