"""Input generators. Everything is derived from the workload seed.

* ``live``: the open-loop sensor feed of ``stats_live``. Run as its own
  process (``python3 feed.py live ...``), single-threaded, it lands one
  JSON-lines file per period on a wall-clock schedule fixed at start, so
  a slow consumer never slows it. Each file is written under a staging
  name and renamed into the landing directory. Every event carries the
  time it was due (``created_us``); the process tallies the exact
  per-tag count, sum in integer cents, min and max, and reports how late
  each file landed.
* ``write_backlog``: the pre-landed, Zipf-keyed files of
  ``stats_backlog`` with per-file tallies.
* ``write_tables``: the star-schema, events, documents and embeddings
  parquet tables the operator suite reads, shaped like the repository's
  test fixtures.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys
import time

import numpy as np

RECORD_SCHEMA = "readTag_id string, readValue string, created_us long"
# readValue spans negatives, as the reference's sensor feed does
CENTS_LO, CENTS_HI = -20_000, 50_000


def tag_name(i) -> str:
    return f"t{int(i):06d}"


_LOOKUP: dict[int, tuple] = {}


def render(tags: np.ndarray, cents: np.ndarray, created_us: np.ndarray, n_tags: int) -> bytes:
    """JSON lines in the reference's record shape; readValue is the
    string-encoded 2-decimal double, formatted from integer cents.
    Built column-wise in Arrow from per-tag and per-cents lookup
    strings, so a 200k-line file renders in well under a second."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if n_tags not in _LOOKUP:
        def fmt(c):
            a = abs(c)
            return f"{'-' if c < 0 else ''}{a // 100}.{a % 100:02d}"

        _LOOKUP.clear()
        _LOOKUP[n_tags] = (
            pa.array([f'{{"readTag_id":"{tag_name(i)}","readValue":"' for i in range(n_tags)]),
            pa.array([f'{fmt(c)}","created_us":' for c in range(CENTS_LO, CENTS_HI + 1)]),
        )
    tag_tbl, val_tbl = _LOOKUP[n_tags]
    lines = pc.binary_join_element_wise(
        tag_tbl.take(pa.array(tags)),
        val_tbl.take(pa.array(cents - CENTS_LO)),
        pc.cast(pa.array(created_us), pa.string()),
        "}\n",
        "",
    )
    # the joined strings are contiguous in the values buffer
    off = np.frombuffer(lines.buffers()[1], np.int32)
    return lines.buffers()[2].to_pybytes()[off[lines.offset]:off[lines.offset + len(lines)]]


class Tally:
    """Exact per-tag count, sum of cents, min and max of cents."""

    def __init__(self, n_tags: int):
        self.count = np.zeros(n_tags, np.int64)
        self.sum = np.zeros(n_tags, np.int64)
        self.min = np.full(n_tags, np.iinfo(np.int64).max)
        self.max = np.full(n_tags, np.iinfo(np.int64).min)

    def add(self, tags: np.ndarray, cents: np.ndarray) -> None:
        np.add.at(self.count, tags, 1)
        np.add.at(self.sum, tags, cents)
        np.minimum.at(self.min, tags, cents)
        np.maximum.at(self.max, tags, cents)

    def merge(self, other: "Tally") -> None:
        self.count += other.count
        self.sum += other.sum
        np.minimum(self.min, other.min, out=self.min)
        np.maximum(self.max, other.max, out=self.max)

    def to_json(self) -> dict:
        return {k: getattr(self, k).tolist() for k in ("count", "sum", "min", "max")}

    @classmethod
    def from_json(cls, d: dict) -> "Tally":
        t = cls(len(d["count"]))
        for k in ("count", "sum", "min", "max"):
            setattr(t, k, np.asarray(d[k], np.int64))
        return t


def live(
    landing: str, staging: str, result: str, *, seed: int, t0: float,
    files: int, period_s: float, rate: int, n_tags: int,
) -> None:
    """Land ``files`` files, file k due at ``t0 + (k + 1) * period_s``."""
    rng = np.random.default_rng(seed)
    per_file = int(rate * period_s)
    tally = Tally(n_tags)
    landed = []
    for k in range(files):
        first = k * per_file
        created = (t0 * 1e6 + (first + np.arange(per_file)) * (1e6 / rate)).astype(np.int64)
        tags = rng.integers(0, n_tags, per_file)
        cents = rng.integers(CENTS_LO, CENTS_HI + 1, per_file)
        body = render(tags, cents, created, n_tags)
        tally.add(tags, cents)
        due = t0 + (k + 1) * period_s
        pause = due - time.time()
        if pause > 0:
            time.sleep(pause)
        start = time.time()
        name = f"f{k:05d}.json"
        tmp = os.path.join(staging, name)
        with open(tmp, "wb") as f:
            f.write(body)
        os.rename(tmp, os.path.join(landing, name))
        landed.append({"name": name, "due": due, "start": start,
                       "landed": time.time(), "events": per_file})
    with open(result + ".tmp", "w") as f:
        json.dump({"files": landed, "tally": tally.to_json()}, f)
    os.rename(result + ".tmp", result)


def write_backlog(
    landing: str, *, seed: int, files: int, rows: int, n_tags: int, zipf_a: float
) -> list[Tally]:
    """Land ``files`` files of ``rows`` Zipf-keyed events; mtimes are
    forced one second apart so the file source replays them in order."""
    rng = np.random.default_rng(seed)
    base = time.time() - files - 10
    tallies = []
    for k in range(files):
        tags = (rng.zipf(zipf_a, rows) - 1) % n_tags
        cents = rng.integers(CENTS_LO, CENTS_HI + 1, rows)
        created = np.full(rows, int((base + k) * 1e6), np.int64)
        path = os.path.join(landing, f"b{k:05d}.json")
        with open(path, "wb") as f:
            f.write(render(tags, cents, created, n_tags))
        os.utime(path, (base + k, base + k))
        t = Tally(n_tags)
        t.add(tags, cents)
        tallies.append(t)
    return tallies


# ----------------------------------------------------------- suite tables

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_ADJ = "red small hot old large blue cold new".split()
_NOUN = "plate widget ring rod gizmo bolt gear anvil".split()
_EPOCH = dt.datetime(1970, 1, 1)


def _days_us(start: dt.date, n_days: np.ndarray) -> np.ndarray:
    base = int((dt.datetime.combine(start, dt.time()) - _EPOCH).total_seconds()) * 10**6
    return base + n_days.astype(np.int64) * 86_400 * 10**6


def write_tables(out_dir: str, *, seed: int, scale: float) -> None:
    """The suite's input tables, one parquet file each, at ``scale``
    (1.0 = 6M lineitem rows, as for the fixtures' scale factor)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    ts_us = pa.timestamp("us")

    def money(lo, hi, n):
        return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0

    def save(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_line = int(1_500_000 * scale), int(6_000_000 * scale)
    n_ev, n_docs, n_users = int(1_000_000 * scale), int(50_000 * scale), int(15_000 * scale)

    save("region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    save("nation", {
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    save("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    })
    save("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    retail = (90_000 + (pk % 1000) * 10) / 100.0
    save("part", {
        "p_partkey": pk,
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail,
    })
    order_span = (dt.date(2001, 8, 1) - dt.date(1995, 1, 1)).days
    save("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000, 500_000, n_ord),
        "o_orderdate": pa.array(
            _days_us(dt.date(1995, 1, 1), rng.integers(0, order_span + 1, n_ord)), ts_us),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n_ord)],
    })
    l_part = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    flags = rng.integers(0, 6, n_line)
    ship_span = (dt.date(2001, 11, 4) - dt.date(1995, 1, 2)).days
    save("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": l_part,
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[l_part] * 100) / 100.0,
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "A", "N", "N", "R", "R"])[flags],
        "l_linestatus": np.array(["F", "O", "F", "O", "F", "O"])[flags],
        "l_shipdate": pa.array(
            _days_us(dt.date(1995, 1, 2), rng.integers(0, ship_span + 1, n_line)), ts_us),
    })
    ev_base = int((dt.datetime(2024, 1, 1) - _EPOCH).total_seconds()) * 10**6
    ev_ts = np.sort(ev_base + rng.integers(0, 30 * 86_400 * 10**6, n_ev))
    save("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ev_ts, ts_us),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_ev)],
        "value": money(0.01, 490.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = [
        " ".join(np.array(_WORDS)[rng.integers(0, len(_WORDS), n)])
        for n in rng.integers(10, 91, n_docs)
    ]
    # ~5% near-duplicates: an earlier document plus a trailing token
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        if i:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    langs = np.array(["de", "en", "en", "en", "en", "en", "es", "fr", "zh"])
    save("documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_docs)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], np.int64),
    })
    vecs = rng.standard_normal((n_docs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    save("embeddings", {
        "vec_id": np.arange(n_docs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_docs), pa.int32()),
    })


if __name__ == "__main__" and len(sys.argv) == 3 and sys.argv[1] == "live":
    live(**json.loads(sys.argv[2]))
