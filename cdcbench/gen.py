"""Seeded input generators for the benchmark.

Everything the program under test reads is made here from a seed, so the
same seed gives byte-identical inputs:

* ``ChangeStream`` writes MongoDB change events as JSON lines: nested
  ``fullDocument`` post-images (objects, arrays, int32 and int64 values,
  doubles, ISO date strings) with a seeded size spread; insert, update,
  replace and delete; four ``(db, coll)`` pairs; about 1 % corrupt lines.
  It tracks what a correct relay delivers and what a correct snapshot
  holds afterwards.
* ``write_tables`` writes the fixture tables the analytics queries read
  (the TPC-H-ish star schema plus ``events``, ``documents`` and
  ``embeddings``) as parquet.
"""

from __future__ import annotations

import json
import random
from collections import Counter
from pathlib import Path

# (db, coll) pairs with their share of the key space; a key always lives
# in one collection, so the snapshot key space is global.
NAMESPACES = (("shop", "orders", 4), ("shop", "customers", 2),
              ("iot", "metrics", 3), ("crm", "accounts", 1))
CORRUPT_FRAC = 0.01
TOPICS = tuple(f"{db}.{coll}" for db, coll, _ in NAMESPACES)
_WORDS = ("alpha", "bravo", "delta", "gamma", "omega", "sigma", "kappa",
          "lambda", "theta", "zeta")
_CITIES = ("Lisbon", "Osaka", "Quito", "Accra", "Perth", "Oslo", "Lima")


def _iso(ms: int) -> str:
    """ISO-8601 UTC time ``ms`` milliseconds after 2024-11-08T00:00Z."""
    s, ms = divmod(ms, 1000)
    m, s = divmod(s, 60)
    h, m = divmod(m, 60)
    d, h = divmod(h, 24)
    return f"2024-11-{8 + d:02d}T{h:02d}:{m:02d}:{s:02d}.{ms:03d}Z"


class ChangeStream:
    """A seeded change stream over ``n_keys`` document keys.

    ``events(n)`` continues the stream: clusterTime and the resume token
    increase by one per event across calls, so the latest event per key
    is always unambiguous. Post-images are drawn from a seeded pool of
    ``pool`` document bodies (0 to 12 nested items each) and stamped with
    the key and a revision, so rendering stays cheap. ``state`` maps
    every live key to its current post-image; ``delivered``,
    ``rejected`` and ``per_topic`` count what a relay of every line
    emitted so far must deliver."""

    def __init__(self, seed: int, n_keys: int, pool: int = 512):
        self.rng = random.Random(seed)
        self.n_keys = n_keys
        self.seq = 0
        weights = [w for _, _, w in NAMESPACES]
        self.key_ns = self.rng.choices(range(len(NAMESPACES)), weights,
                                       k=n_keys)
        self.bodies = [self._body() for _ in range(pool)]
        self.rendered = [json.dumps(b, separators=(",", ":"))[1:]
                         for b in self.bodies]
        # key -> (body index, revision) of the live post-image
        self.state: dict[str, tuple[int, int]] = {}
        self.delivered = 0
        self.rejected = 0
        self.per_topic: Counter = Counter()

    @staticmethod
    def key(k: int) -> str:
        return f"k{k:07d}"

    def topic(self, k: int) -> str:
        db, coll, _ = NAMESPACES[self.key_ns[k]]
        return f"{db}.{coll}"

    def _body(self) -> dict:
        r = self.rng
        n_items = min(int(r.expovariate(1 / 1.5)), 12)
        return {
            "seq_no": r.randint(2 ** 33, 2 ** 52),            # int64
            "score": round(r.uniform(-1e4, 1e4), 3),          # double
            "ratio": r.random(),
            "created": _iso(r.randint(0, 10 ** 9)),           # ISO date
            "active": r.random() < 0.5,
            "tags": r.sample(_WORDS, r.randint(0, 4)),
            "addr": {"city": r.choice(_CITIES),
                     "zip": r.randint(1000, 99999),           # int32
                     "geo": [round(r.uniform(-90, 90), 6),
                             round(r.uniform(-180, 180), 6)]},
            "items": [{"sku": f"S{r.randint(0, 99999):05d}",
                       "qty": r.randint(1, 50),
                       "price": round(r.uniform(0.5, 500), 2)}
                      for _ in range(n_items)],
        }

    def doc(self, key: str) -> dict | None:
        """The post-image a correct snapshot holds for ``key``."""
        if key not in self.state:
            return None
        j, rev = self.state[key]
        return {"_id": key, "rev": rev, **self.bodies[j]}

    def _line(self, op: str, k: int, doc: tuple[int, int] | None,
              with_key: bool = True) -> str:
        db, coll, _ = NAMESPACES[self.key_ns[k]]
        key = self.key(k)
        line = (f'{{"_id":{{"_data":"{self.seq:016x}"}},'
                f'"operationType":"{op}",'
                f'"clusterTime":"{_iso(self.seq)}",'
                f'"ns":{{"db":"{db}","coll":"{coll}"}}')
        if with_key:
            line += f',"documentKey":{{"_id":"{key}"}}'
        if doc is not None:
            j, rev = doc
            line += (f',"fullDocument":{{"_id":"{key}","rev":{rev},'
                     + self.rendered[j])
        return line + "}"

    def events(self, n: int) -> list[str]:
        """The next ``n`` lines of the stream (valid and corrupt)."""
        r = self.rng
        pool = len(self.bodies)
        lines = []
        for _ in range(n):
            self.seq += 1
            k = r.randrange(self.n_keys)
            key = self.key(k)
            if key not in self.state:
                op = "insert"
            else:
                x = r.random()
                op = ("update" if x < 0.6 else "replace" if x < 0.85
                      else "delete")
            doc = None if op == "delete" else (r.randrange(pool),
                                               r.randint(0, 2 ** 31 - 1))
            if r.random() < CORRUPT_FRAC:
                # a torn write, or an envelope without a document key:
                # both must be skipped and must not change the state
                if r.random() < 0.5:
                    line = self._line(op, k, doc)
                    line = line[: len(line) // 2]
                else:
                    line = self._line(op, k, doc, with_key=False)
                self.rejected += 1
            else:
                line = self._line(op, k, doc)
                self.delivered += 1
                self.per_topic[self.topic(k)] += 1
                if doc is None:
                    del self.state[key]
                else:
                    self.state[key] = doc
            lines.append(line)
        return lines

    def insert_all(self) -> list[str]:
        """One insert per key of its current post-image, no corrupt
        lines: the snapshot preload."""
        lines = []
        for k in range(self.n_keys):
            self.seq += 1
            doc = self.state.setdefault(self.key(k), (k % len(self.bodies), 0))
            lines.append(self._line("insert", k, doc))
        return lines


def write_lines(path: Path, lines: list[str]) -> None:
    path.write_text("\n".join(lines) + "\n")


# --------------------------------------------------------------------------
# Analytics fixture tables


def write_tables(out: Path, seed: int, sf: float) -> dict[str, int]:
    """Write the ten fixture tables at scale ``sf`` (lineitem has about
    6,000,000 x sf rows) into ``out``; return the row count per table."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    g = np.random.default_rng(seed)
    out.mkdir(parents=True, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 25)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)

    def ts(lo: str, hi: str, n: int, unit: str = "D"):
        a = np.datetime64(lo, unit)
        span = int((np.datetime64(hi, unit) - a).astype(int))
        return (a + g.integers(0, span, n)).astype("datetime64[us]")

    def names(prefix: str, n: int) -> list[str]:
        return [f"{prefix}#{i:09d}" for i in range(n)]

    def money(lo: float, hi: float, n: int):
        return np.round(g.uniform(lo, hi, n), 2)

    adjectives = ("large", "hot", "blue", "green", "small", "shiny",
                  "steel", "cheap")
    nouns = ("ring", "bolt", "widget", "gear", "valve", "panel",
             "spring", "lamp")
    words = ("spark", "stream", "batch", "query", "table", "hash", "join",
             "scan", "sort", "group", "window", "key", "value", "fast",
             "slow", "line", "part", "order", "column", "filter", "agg",
             "vector", "the", "a", "customer", "small")

    docs = []
    for i in range(n_doc):
        if i >= 10 and g.random() < 0.08:          # near-duplicate
            w = docs[int(g.integers(0, i))].split()
            w[int(g.integers(0, len(w)))] = str(g.choice(words))
        else:
            w = list(g.choice(words, int(g.integers(12, 70))))
        docs.append(" ".join(w))
    emb_label = g.integers(0, 10, n_emb).astype(np.int32)
    centers = g.normal(0, 1, (10, 64))
    emb = (centers[emb_label] + g.normal(0, 0.8, (n_emb, 64)))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    ord_date = ts("1995-01-01", "2001-08-01", n_ord)
    li_order = g.integers(0, n_ord, n_li)

    tables = {
        "region": {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                              "MIDDLE EAST"]},
        "nation": {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": (np.arange(25) % 5).astype(np.int32)},
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": names("Customer", n_cust),
            "c_nationkey": g.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": g.choice(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD",
                                      "BUILDING", "FURNITURE"], n_cust)},
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": names("Supplier", n_supp),
            "s_nationkey": g.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": money(-999.99, 9999.99, n_supp)},
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(
                g.choice(adjectives, n_part), g.choice(nouns, n_part))],
            "p_brand": [f"Brand#{i}" for i in g.integers(1, 26, n_part)],
            "p_type": g.choice(["LARGE", "MEDIUM", "ECONOMY", "PROMO",
                                "SMALL", "STANDARD"], n_part),
            "p_size": g.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10,
                                      2)},
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": g.integers(0, n_cust, n_ord),
            "o_orderstatus": g.choice(["O", "F", "P"], n_ord),
            "o_totalprice": money(1000, 500_000, n_ord),
            "o_orderdate": ord_date,
            "o_orderpriority": g.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                         "4-NOT SPECIFIED", "5-LOW"], n_ord)},
        "lineitem": {
            "l_orderkey": li_order,
            "l_partkey": g.integers(0, n_part, n_li),
            "l_suppkey": g.integers(0, n_supp, n_li),
            "l_linenumber": g.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": g.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": money(900, 105_000, n_li),
            "l_discount": g.integers(0, 11, n_li) / 100,
            "l_tax": g.integers(0, 9, n_li) / 100,
            "l_returnflag": g.choice(["N", "R", "A"], n_li),
            "l_linestatus": g.choice(["F", "O"], n_li),
            "l_shipdate": ord_date[li_order]
            + g.integers(1, 120, n_li).astype("timedelta64[D]")},
        "events": {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": np.sort(ts("2024-01-01", "2024-01-31", n_ev, "us")),
            "user_id": g.integers(0, max(n_ev // 66, 10), n_ev),
            "event_type": g.choice(["click", "error", "purchase", "signup",
                                    "view"], n_ev),
            "value": money(0, 560, n_ev),
            "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n_ev)]},
        "documents": {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": docs,
            "lang": g.choice(["en", "zh", "es", "fr", "de"], n_doc),
            "source": [f"src{i}" for i in g.integers(0, 20, n_doc)],
            "n_chars": np.array([len(d) for d in docs], dtype=np.int64)},
        "embeddings": {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
            "label": emb_label},
    }
    rows = {}
    for name, cols in tables.items():
        t = pa.table(cols)
        pq.write_table(t, out / f"{name}.parquet")
        rows[name] = t.num_rows
    return rows
