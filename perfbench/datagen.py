"""Seeded inputs for the benchmark: the batch tables the HEADLINE queries
read, and the changefeed the replicate workload POSTs.

Everything here is numpy + pyarrow; no Spark. The same seed gives
byte-identical tables and the same feed. The table shapes follow the
repo's test data (TPC-H-like star schema plus ``events``, ``documents``
and ``embeddings``): same column names, types and value domains, so the
registry queries and their DuckDB oracles run on them unchanged.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "green", "hot", "large", "red", "small", "tiny"]
PART_NOUN = ["anvil", "bolt", "gear", "nut", "pipe", "screw", "valve", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()

_EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _ts(day0: str, offsets_us: np.ndarray) -> pa.Array:
    base = (np.datetime64(day0, "us") - _EPOCH).astype(np.int64)
    return pa.array(base + offsets_us.astype(np.int64), pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng, n: int) -> dict:
    """Word-salad documents over a 31-word vocabulary, ~5% of them
    near-duplicates of an earlier document (a few words swapped and a
    ``dup`` marker), so the dedup, CC and LSH queries have real groups."""
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            words.append("dup")
        else:
            words = [WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng, n: int, dim: int = 64, n_labels: int = 10) -> dict:
    """Unit vectors around ``n_labels`` weak cluster centres."""
    centres = rng.normal(size=(n_labels, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, n_labels, n).astype(np.int32)
    v = 0.14 * centres[labels] + rng.normal(scale=1 / 8, size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels),
    }


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write the ten batch tables at scale factor ``sf``."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    pk = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array([
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) / 10, 1)),
    })
    day_us = 86_400_000_000
    odays = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _ts("1995-01-01", odays * day_us),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
    })
    lok = rng.integers(0, n_ord, n_line).astype(np.int64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(lok),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n_line) / 100, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n_line) / 100, 2)),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": _ts("1995-01-01", (odays[lok] + rng.integers(1, 95, n_line)) * day_us),
    })
    ev_us = np.sort(rng.integers(0, 30 * day_us, n_ev))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts("2024-01-01", ev_us),
        "user_id": pa.array(rng.integers(0, max(15, n_cust // 10), n_ev).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2) + 0.01),
        "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]),
    })
    _write(out_dir, "documents", _documents(rng, n_doc))
    _write(out_dir, "embeddings", _embeddings(rng, n_emb))


# ---------------------------------------------------------------- changefeed
TARGET_DDL = "id bigint, v string, n bigint"
KEY_COLS = ["id"]


def target_rows(n_rows: int) -> list[tuple[int, str, int]]:
    """The initial target snapshot: ids 0..n_rows-1. The same for every
    seed (the feed is what varies), so it is built once per checkout."""
    rng = np.random.default_rng([0, 2])
    ns = rng.integers(0, 1_000_000, n_rows)
    return [(i, f"init-{i}", int(n)) for i, n in enumerate(ns)]


def write_target(path: str, rows: list[tuple[int, str, int]]) -> None:
    ids, vs, ns = zip(*rows)
    pq.write_table(
        pa.table({"id": pa.array(ids, pa.int64()), "v": pa.array(vs), "n": pa.array(ns, pa.int64())}),
        path,
    )


class Feed:
    """A changefeed for one table: POST bodies of ndjson mutation lines
    in the CockroachDB wrapped shape ({key, after, updated}).

    * keys are zipf-skewed over the target's id range, plus fresh inserts;
    * ~5% of mutations are deletes (``after`` null);
    * HLCs are unique and increase per key in send order, as a
      changefeed guarantees, but ~10% of bodies carry HLCs that sit
      below ones already sent for other keys, in shuffled line order;
    * ~2% of bodies are redeliveries: an exact copy of a recent body,
      re-sent, as a changefeed does after a retry.

    ``model`` is the generator's own last-write-wins answer.
    """

    def __init__(self, seed: int, n_rows: int, hlc0: int):
        self.rng = np.random.default_rng([seed, 3])
        self.n_rows = n_rows
        self.next_id = n_rows
        self.hlc = hlc0
        self.last_ts: dict[int, int] = {}
        # body index -> (text, [(key, ts, row-or-None), ...])
        self.bodies: list[tuple[str, list]] = []

    def _key(self) -> int:
        if self.rng.random() < 0.03:
            self.next_id += 1
            return self.next_id - 1
        # zipf over ranks, scattered over the id space so hot keys land
        # in different target buckets
        r = int(self.rng.zipf(1.3)) - 1
        if r >= self.n_rows:
            return int(self.rng.integers(0, self.n_rows))
        return (r * 2_654_435_761) % self.n_rows

    def body(self, n_muts: int) -> str:
        """Render the next body of ``n_muts`` mutations (or a redelivery)."""
        if len(self.bodies) > 5 and self.rng.random() < 0.02:
            lo = max(0, len(self.bodies) - 50)
            self.bodies.append(self.bodies[int(self.rng.integers(lo, len(self.bodies)))])
            return self.bodies[-1][0]
        skew = self.rng.random() < 0.1
        lines, muts = [], []
        for _ in range(n_muts):
            k = self._key()
            self.hlc += int(self.rng.integers(1_000, 50_000))
            ts = self.hlc - (int(self.rng.integers(100_000, 2_000_000)) if skew else 0)
            ts = max(ts, self.last_ts.get(k, 0) + 1)
            self.last_ts[k] = ts
            row = None if self.rng.random() < 0.05 else (f"v{ts}", int(self.rng.integers(0, 1_000_000)))
            muts.append((k, ts, row))
            after = None if row is None else {"id": k, "v": row[0], "n": row[1]}
            lines.append(json.dumps({"key": [k], "after": after, "updated": f"{ts}.0000000000"}))
        if skew:
            self.rng.shuffle(lines)
        self.bodies.append(("\n".join(lines) + "\n", muts))
        return self.bodies[-1][0]

    def model(self, initial, sent: list[int]) -> dict[int, tuple[str, int]]:
        """Final row per key: the initial snapshot, then every mutation of
        the bodies in ``sent`` (indexes into the render order, duplicates
        included), last HLC wins."""
        out = {i: (v, n) for i, v, n in initial}
        best: dict[int, tuple[int, object]] = {}
        for b in sent:
            for k, ts, row in self.bodies[b][1]:
                if k not in best or ts > best[k][0]:
                    best[k] = (ts, row)
        for k, (_, row) in best.items():
            if row is None:
                out.pop(k, None)
            else:
                out[k] = row
        return out


def hlc_now() -> int:
    return int(dt.datetime.now(dt.timezone.utc).timestamp() * 1e9)
