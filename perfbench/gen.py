"""Seeded input generators for the benchmark, each with a model oracle.

Everything here is a pure function of the seed.  The program under test only
ever sees the files these generators write.

- :class:`CdcStream` writes Debezium-shaped JSON event files (both envelope
  shapes, null-value tombstones, a small malformed share) and keeps an
  in-memory model of the live table: key -> last payload, deleted keys
  absent.  The model gives the expected result of every read-after-write
  lookup and of the final table checksum.
- :func:`write_olap_tables` writes the ten fixture tables the query registry
  reads (TPC-H-like star schema plus events, documents and embeddings), with
  the schemas and value distributions of the repository's test fixtures.
"""

from __future__ import annotations

import bisect
import json
import os
import random
import zlib
from dataclasses import dataclass

# op mix per CDC workload; every share is fixed so only the seed varies
@dataclass(frozen=True)
class CdcProfile:
    insert: float          # brand-new keys
    update: float          # Zipf-skewed rewrites of existing keys
    delete: float          # deletes of live keys (rewrite mode, __deleted=true)
    tombstone: float       # null-value Kafka tombstones (filtered, never merged)
    malformed: float       # truncated JSON (parses to a NULL key: dead letter)
    zipf_s: float = 1.1    # update-key skew over the initial key space
    wrapped: float = 0.5   # share of {"schema","payload"} envelopes vs bare


def reference_profile(tombstone: float, malformed: float, **kw) -> CdcProfile:
    """The reference system's insert:update:delete mix (``sources.DEFAULT_MIX``,
    10:5:1), scaled to leave room for the given tombstone and malformed shares."""
    from mysql_cdc_debezium_starrocks_spark.sources import DEFAULT_MIX

    scale = (1.0 - tombstone - malformed) / sum(DEFAULT_MIX)
    ins, upd, dele = (scale * n for n in DEFAULT_MIX)
    return CdcProfile(ins, upd, dele, tombstone, malformed, **kw)


# 59.4 % inserts, 29.7 % updates, 5.9 % deletes, 2 % tombstones, 3 % malformed
TRICKLE = reference_profile(tombstone=0.02, malformed=0.03)

STATUSES = ("pending", "processing", "shipped", "delivered", "cancelled")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_SCHEMA_STUB = {"type": "struct", "name": "mysql.testdb.orders.Value", "optional": False}


def row_hash(key: int, row: dict) -> int:
    """Per-row checksum term; :func:`spark_checksum` computes the same sum."""
    body = "|".join(
        (str(row["cust_key"]), row["status"], row["total_price"], row["order_ts"], row["priority"])
    )
    return key * (1 << 32) + zlib.crc32(body.encode())


def spark_checksum(state_df):
    """(live rows, checksum) of a materialized state, as one Spark job."""
    from pyspark.sql import functions as F

    body = F.concat_ws(
        "|",
        F.col("cust_key").cast("string"),
        "status",
        "total_price",
        "order_ts",
        "priority",
    )
    term = F.col("order_key").cast("decimal(38,0)") * F.lit(1 << 32) + F.crc32(body)
    r = state_df.agg(
        F.count(F.lit(1)).alias("n"), F.sum(term.cast("decimal(38,0)")).alias("h")
    ).collect()[0]
    return int(r["n"]), int(r["h"] or 0)


class CdcStream:
    """Event-file writer plus the model of the table those events build."""

    def __init__(self, seed: int, profile: CdcProfile):
        self.rnd = random.Random(seed)
        self.profile = profile
        self.live: dict[int, dict] = {}
        self.seq = 0
        self.next_key = 0
        self.malformed = 0
        self._hot: list[int] = []
        self._cdf: list[float] = []
        p = profile
        self._cuts = []
        acc = 0.0
        for share in (p.insert, p.update, p.delete, p.tombstone, p.malformed):
            acc += share
            self._cuts.append(acc)

    # -- model ---------------------------------------------------------------
    def expected(self, key: int) -> dict | None:
        return self.live.get(key)

    def checksum(self) -> tuple[int, int]:
        return len(self.live), sum(row_hash(k, r) for k, r in self.live.items())

    # -- generation ------------------------------------------------------------
    def _row(self, key: int) -> dict:
        r = self.rnd
        return {
            "cust_key": r.randrange(15_000),
            "status": r.choice(STATUSES),
            "total_price": f"{r.randrange(1_000, 50_000_000) / 100:.2f}",
            "order_ts": f"2024-{r.randrange(1, 13):02d}-{r.randrange(1, 29):02d} "
            f"{r.randrange(24):02d}:{r.randrange(60):02d}:{r.randrange(60):02d}.{r.randrange(1000):03d}",
            "priority": r.choice(PRIORITIES),
        }

    def _wire(self, key: int, row: dict | None, deleted: bool) -> str:
        payload = {"order_key": key}
        if row is not None:
            payload.update(row)
        payload["__deleted"] = "true" if deleted else "false"
        if self.rnd.random() < self.profile.wrapped:
            return json.dumps({"schema": _SCHEMA_STUB, "payload": payload})
        return json.dumps(payload)

    def _line(self, value: str | None) -> str:
        self.seq += 1
        return json.dumps({"_seq": self.seq, "value": value})

    def _zipf_key(self) -> int:
        i = bisect.bisect_left(self._cdf, self.rnd.random() * self._cdf[-1])
        return self._hot[min(i, len(self._hot) - 1)]

    def _live_key(self) -> int | None:
        for _ in range(8):
            k = self.rnd.randrange(self.next_key)
            if k in self.live:
                return k
        return None

    def snapshot(self, n: int) -> list[str]:
        """Initial-snapshot events (Debezium op 'r') for ``n`` new keys; fixes
        the Zipf ranking of update keys over the keys it creates."""
        lines = []
        for _ in range(n):
            k = self.next_key
            self.next_key += 1
            row = self._row(k)
            self.live[k] = row
            lines.append(self._line(self._wire(k, row, False)))
        self._hot = list(range(self.next_key))
        self.rnd.shuffle(self._hot)
        s = self.profile.zipf_s
        acc = 0.0
        self._cdf = []
        for rank in range(1, len(self._hot) + 1):
            acc += rank ** -s
            self._cdf.append(acc)
        return lines

    def changes(self, n: int) -> tuple[list[str], list[int]]:
        """``n`` change events in the profile's mix; returns the wire lines
        and the keys they touched (in order)."""
        lines, touched = [], []
        for _ in range(n):
            x = self.rnd.random()
            if x < self._cuts[0]:
                op, k = "c", self.next_key
                self.next_key += 1
            elif x < self._cuts[1]:
                op, k = "u", self._zipf_key()
            elif x < self._cuts[2]:
                op, k = "d", self._live_key()
                if k is None:
                    op, k = "u", self._zipf_key()
            elif x < self._cuts[3]:
                lines.append(self._line(None))
                continue
            else:
                good = self._wire(self.next_key, self._row(self.next_key), False)
                lines.append(self._line(good[: len(good) // 2]))
                self.malformed += 1
                continue
            if op == "d":
                lines.append(self._line(self._wire(k, self.live.pop(k), True)))
            else:
                row = self._row(k)
                self.live[k] = row
                lines.append(self._line(self._wire(k, row, False)))
            touched.append(k)
        return lines, touched


def write_event_file(directory: str, name: str, lines: list[str]) -> None:
    """Atomic publish: the file source never sees a half-written file."""
    os.makedirs(directory, exist_ok=True)
    tmp = os.path.join(directory, "." + name)
    with open(tmp, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")
    os.rename(tmp, os.path.join(directory, name))


# -- OLAP fixture tables -------------------------------------------------------

_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = ("en", "es", "zh", "de", "fr")
_LANG_P = (0.41, 0.15, 0.15, 0.14, 0.15)


def write_olap_tables(out_dir: str, seed: int, sf: float, parts: int | None = None) -> int:
    """Write the ten fixture tables at scale ``sf`` (1.0 = 6M lineitems) as
    one ``{table}.parquet`` file each or, with ``parts``, in the staged
    layout: ``{table}.parquet/`` directories of ``parts`` files, so scans
    split across cores.  Returns the total row count."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    g = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    us = pa.timestamp("us")
    day_us = 86_400 * 1_000_000
    epoch_1995 = 9_131 * day_us  # 1995-01-01

    def money(lo, hi, n):
        return np.round(g.uniform(lo, hi, n), 2)

    tables = {}
    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25) % 5, i32),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(g.integers(0, 25, n_cust), i32),
            "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust), f64),
            "c_mktsegment": g.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
            ).tolist(),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(g.integers(0, 25, n_supp), i32),
            "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp), f64),
        }
    )
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "plate", "ring", "rod", "spring", "widget"]
    pk = np.arange(n_part)
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, i64),
            "p_name": [f"{adj[a]} {noun[b]}" for a, b in zip(g.integers(0, 8, n_part), g.integers(0, 8, n_part))],
            "p_brand": [f"Brand#{b}" for b in g.integers(1, 26, n_part)],
            "p_type": g.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part).tolist(),
            "p_size": pa.array(g.integers(1, 51, n_part), i32),
            "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 1), f64),
        }
    )
    odate = epoch_1995 + g.integers(0, 2_404, n_ord) * day_us
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(g.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": g.choice(["F", "O", "P"], n_ord).tolist(),
            "o_totalprice": pa.array(money(1_000.0, 500_000.0, n_ord), f64),
            "o_orderdate": pa.array(odate, us),
            "o_orderpriority": g.choice(PRIORITIES, n_ord).tolist(),
        }
    )
    per = g.integers(1, 8, n_ord)
    lok = np.repeat(np.arange(n_ord), per)
    n_li = len(lok)
    lnum = np.concatenate([np.arange(1, p + 1) for p in per])
    qty = g.integers(1, 51, n_li).astype(np.float64)
    li = pa.table(
        {
            "l_orderkey": pa.array(lok, i64),
            "l_partkey": pa.array(g.integers(0, n_part, n_li), i64),
            "l_suppkey": pa.array(g.integers(0, n_supp, n_li), i64),
            "l_linenumber": pa.array(lnum, i32),
            "l_quantity": pa.array(qty, f64),
            "l_extendedprice": pa.array(np.round(qty * g.uniform(900.0, 2_100.0, n_li), 2), f64),
            "l_discount": pa.array(g.integers(0, 11, n_li) / 100.0, f64),
            "l_tax": pa.array(g.integers(0, 9, n_li) / 100.0, f64),
            "l_returnflag": g.choice(["A", "N", "R"], n_li).tolist(),
            "l_linestatus": g.choice(["F", "O"], n_li).tolist(),
            "l_shipdate": pa.array(odate[lok] + g.integers(1, 122, n_li) * day_us, us),
        }
    )
    # the fixtures store lineitem in no particular key order
    tables["lineitem"] = li.take(pa.array(g.permutation(n_li)))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": pa.array(
                19_723 * day_us + g.integers(0, 30 * day_us, n_ev), us
            ),  # January 2024
            "user_id": pa.array(g.integers(0, max(100, n_ev // 67), n_ev), i64),
            "event_type": g.choice(["click", "error", "purchase", "signup", "view"], n_ev).tolist(),
            "value": pa.array(np.round(g.exponential(50.0, n_ev), 2), f64),
            "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n_ev)],
        }
    )
    words = np.array(_WORDS)
    texts = [" ".join(words[g.integers(0, len(words), n)]) for n in g.integers(10, 101, n_doc)]
    for i in g.choice(n_doc, max(2, n_doc // 500), replace=False):
        texts[i] = texts[(i + 1) % n_doc]  # a few verbatim duplicates
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), i64),
            "text": texts,
            "lang": g.choice(_LANGS, n_doc, p=_LANG_P).tolist(),
            "source": [f"src{k}" for k in g.integers(0, 20, n_doc)],
            "n_chars": pa.array([len(t) for t in texts], i64),
        }
    )
    emb = g.normal(0.0, 0.13, (n_emb, 64)).astype(np.float32)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), i64),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(g.integers(0, 10, n_emb), i32),
        }
    )
    for name, t in tables.items():
        d = os.path.join(out_dir, f"{name}.parquet")
        if parts is None:
            pq.write_table(t, d)
            continue
        os.makedirs(d)
        step = -(-t.num_rows // parts)
        for i in range(0, t.num_rows, step):
            pq.write_table(t.slice(i, step), os.path.join(d, f"part-{i // step:05d}.parquet"))
    return sum(t.num_rows for t in tables.values())
