"""Seeded input generator for the benchmark.

Everything the benchmark feeds the engine is made here from the workload seed:
the TPC-H-style star schema plus the ``events`` / ``documents`` /
``embeddings`` tables the registry queries read (same names, columns and
types as the engine's fixture tables), and the CDC batches the ingest
workloads apply. The same seed always gives byte-identical inputs.

CDC batch shape (the differential harness's insert/update/delete mix):
- updates hit live keys, 70% of them in the newest two ship-year partitions
  and 30% spread uniformly, so recent keys are favoured;
- inserts carry fresh order keys in the newest partition;
- deletes hit live keys uniformly, never a key updated in the same batch;
- a key appears at most once per batch, the precombine column ``v`` equals the
  batch number (base rows carry 0), and a deleted key never comes back, so
  the expected table state after any prefix of batches is unambiguous.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)



def _utc_us(y: int, m: int = 1, d: int = 1) -> int:
    return int(dt.datetime(y, m, d, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000


_EPOCH_US = _utc_us(1995)
_DAY_US = 86_400 * 1_000_000
_ORDER_DAYS = (dt.date(2001, 8, 1) - dt.date(1995, 1, 1)).days
_VOCAB = (
    "spark window merge table column vector stream value data small join filter big "
    "group hash customer sort order slow line part fast row the agg key query a scan batch"
).split()
_PART_ADJ = "blue hot small old red new cold large".split()
_PART_NOUN = "bolt gear anvil widget rod plate ring gizmo".split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "de", "es", "fr", "zh"]


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(tbl: pa.Table, path: str) -> None:
    pq.write_table(tbl, path, compression="snappy")


def gen_lineitem(rng: np.random.Generator, order_keys: np.ndarray, order_dates_us: np.ndarray,
                 n_part: int, n_supp: int) -> dict[str, np.ndarray]:
    """1–7 lines per order, shipped 1–121 days after the order date."""
    lines = rng.integers(1, 8, len(order_keys))
    ok = np.repeat(order_keys, lines)
    od = np.repeat(order_dates_us, lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    ln = (np.arange(len(ok)) - starts + 1).astype("int32")
    n = len(ok)
    qty = rng.integers(1, 51, n).astype("float64")
    return {
        "l_orderkey": ok.astype("int64"),
        "l_partkey": rng.integers(0, n_part, n).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n).astype("int64"),
        "l_linenumber": ln,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(18.0, 2100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
        "l_linestatus": rng.choice(np.array(["F", "O"]), n),
        "l_shipdate_us": od + rng.integers(1, 122, n) * _DAY_US,
    }


def lineitem_table(cols: dict[str, np.ndarray]) -> pa.Table:
    d = {k: v for k, v in cols.items() if k != "l_shipdate_us"}
    d["l_shipdate"] = _ts(cols["l_shipdate_us"])
    order = [
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate",
    ]
    return pa.table({k: d[k] for k in order})


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(_VOCAB, k)))
    lang = rng.choice(_LANGS, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    src = np.char.add("src", rng.integers(0, 20, n).astype(str))
    return pa.table({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": lang,
        "source": src,
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    x = rng.standard_normal((n, dim)).astype("float32")
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.reshape(-1)), dim).cast(pa.list_(pa.float32()))
    return pa.table({
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": emb,
        "label": rng.integers(0, 10, n).astype("int32"),
    })


def write_sf(out_dir: str, sf: float, seed: int) -> None:
    """Write the ten fixture tables at scale ``sf`` (lineitem ≈ 6M × sf rows)."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_evt = max(1000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": np.arange(5, dtype="int32"),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": np.arange(25, dtype="int32"),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype("int32"),
    })
    tables["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype="int64")
    tables["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(rng.choice(_PART_ADJ, n_part), " "), rng.choice(_PART_NOUN, n_part)),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(_PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    })
    o_dates = _EPOCH_US + rng.integers(0, _ORDER_DAYS + 1, n_ord) * _DAY_US
    o_keys = np.arange(n_ord, dtype="int64")
    tables["orders"] = pa.table({
        "o_orderkey": o_keys,
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n_ord),
        "o_totalprice": _money(rng, 900.0, 500_000.0, n_ord),
        "o_orderdate": _ts(o_dates),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    # ~2% of orders carry no lines, as in the fixture tables
    has_lines = rng.random(n_ord) >= 0.02
    li = gen_lineitem(rng, o_keys[has_lines], o_dates[has_lines], n_part, n_supp)
    perm = rng.permutation(len(li["l_orderkey"]))
    tables["lineitem"] = lineitem_table({k: v[perm] for k, v in li.items()})
    n_users = max(10, n_evt // 66)
    ev_ts = np.sort(_utc_us(2024)
                    + rng.integers(0, 30 * _DAY_US, n_evt))
    tables["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype="int64"),
        "ts": _ts(ev_ts),
        "user_id": rng.integers(0, n_users, n_evt).astype("int64"),
        "event_type": rng.choice(_EVENT_TYPES, n_evt),
        "value": np.round(rng.gamma(2.0, 35.0, n_evt) + 0.01, 2),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_evt).astype(str)), "}"),
    })
    tables["documents"] = _documents(rng, n_doc)
    tables["embeddings"] = _embeddings(rng, n_emb)
    for name in SF_TABLES:
        _write(tables[name], os.path.join(out_dir, f"{name}.parquet"))


# ------------------------------------------------------------------ CDC batches

@dataclass
class BatchStats:
    path: str
    inserts: int
    updates: int
    deletes: int
    bytes: int

    @property
    def rows(self) -> int:
        return self.inserts + self.updates + self.deletes


class CdcGenerator:
    """Seeded CDC batches over a keyed ``lineitem`` base table.

    The base table is lineitem plus ``ship_year`` (partition column, seven
    years) and ``v`` (precombine, 0 for base rows)."""

    def __init__(self, seed: int, base_rows: int, upd_frac: float = 0.02,
                 ins_frac: float = 0.005, del_frac: float = 0.001):
        self.rng = np.random.default_rng([seed, 2])
        n_ord = max(1, base_rows // 4)
        o_dates = _EPOCH_US + self.rng.integers(0, _ORDER_DAYS + 1, n_ord) * _DAY_US
        self.n_part, self.n_supp = 20_000, 1_000
        # newest image of every key ever written, with its liveness
        self.rows = gen_lineitem(self.rng, np.arange(n_ord, dtype="int64"), o_dates,
                                 self.n_part, self.n_supp)
        self.year = _year_of(self.rows["l_shipdate_us"])
        self.alive = np.ones(len(self.year), dtype=bool)
        self.v = np.zeros(len(self.year), dtype="int64")
        self.n_base = len(self.year)
        self.years = np.unique(self.year)
        self.next_order = n_ord
        self.n_upd = max(1, int(self.n_base * upd_frac))
        self.n_ins_orders = max(1, int(self.n_base * ins_frac / 4))
        self.n_del = max(1, int(self.n_base * del_frac))
        self.batches: list[BatchStats] = []

    def base_table(self) -> pa.Table:
        n = self.n_base
        return _keyed_table({k: v[:n] for k, v in self.rows.items()}, self.year[:n],
                            np.zeros(n, dtype="int64"))

    def write_batch(self, path: str) -> BatchStats:
        rng = self.rng
        bno = len(self.batches) + 1
        live = np.flatnonzero(self.alive)
        recent = live[np.isin(self.year[live], self.years[-2:])]
        n_recent = min(len(recent), round(self.n_upd * 0.7))
        upd = rng.choice(recent, n_recent, replace=False)
        others = live[~np.isin(live, upd)]
        upd = np.sort(np.concatenate([upd, rng.choice(others, self.n_upd - n_recent, replace=False)]))
        rest = live[~np.isin(live, upd)]
        dele = np.sort(rng.choice(rest, self.n_del, replace=False))
        # updates: re-priced rows, same key, ship date and partition
        n_u = len(upd)
        qty = rng.integers(1, 51, n_u).astype("float64")
        u = {k: v[upd].copy() for k, v in self.rows.items()}
        u.update({
            "l_partkey": rng.integers(0, self.n_part, n_u).astype("int64"),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(18.0, 2100.0, n_u), 2),
            "l_discount": rng.integers(0, 11, n_u) / 100.0,
            "l_tax": rng.integers(0, 9, n_u) / 100.0,
            "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n_u),
            "l_linestatus": rng.choice(np.array(["F", "O"]), n_u),
        })
        # inserts: fresh orders placed in the first 200 days of the newest
        # year, so every line ships inside that year's partition
        newest = int(self.years[-1])
        o_keys = np.arange(self.next_order, self.next_order + self.n_ins_orders, dtype="int64")
        self.next_order += self.n_ins_orders
        o_dates = _utc_us(newest) + rng.integers(0, 200, len(o_keys)) * _DAY_US
        ins = gen_lineitem(rng, o_keys, o_dates, self.n_part, self.n_supp)
        # deletes carry the key's newest image
        d = {k: v[dele] for k, v in self.rows.items()}
        blocks = [(u, "U"), (ins, "I"), (d, "D")]
        cols = {k: np.concatenate([b[k] for b, _ in blocks]) for k in self.rows}
        ops = np.concatenate([np.full(len(b["l_orderkey"]), op) for b, op in blocks])
        perm = rng.permutation(len(ops))
        cols = {k: v[perm] for k, v in cols.items()}
        t = _keyed_table(cols, _year_of(cols["l_shipdate_us"]),
                         np.full(len(ops), bno, dtype="int64"))
        _write(t.append_column("_op", pa.array(ops[perm])), path)
        # registry: updates replace images, deletes die, inserts join
        for k, v in u.items():
            self.rows[k][upd] = v
        self.v[upd] = bno
        self.alive[dele] = False
        for k in self.rows:
            self.rows[k] = np.concatenate([self.rows[k], ins[k]])
        self.year = np.concatenate([self.year, _year_of(ins["l_shipdate_us"])])
        self.alive = np.concatenate([self.alive, np.ones(len(ins["l_orderkey"]), dtype=bool)])
        self.v = np.concatenate([self.v, np.full(len(ins["l_orderkey"]), bno, dtype="int64")])
        st = BatchStats(path, len(ins["l_orderkey"]), n_u, len(dele), os.path.getsize(path))
        self.batches.append(st)
        return st

    def live_key(self) -> dict:
        """A seeded live key with the values a read of it must return."""
        i = int(self.rng.choice(np.flatnonzero(self.alive)))
        return {"l_orderkey": int(self.rows["l_orderkey"][i]),
                "l_linenumber": int(self.rows["l_linenumber"][i]),
                "v": int(self.v[i]), "l_quantity": float(self.rows["l_quantity"][i])}

    def snapshot_agg(self) -> dict[int, tuple[int, float, int]]:
        """ship_year -> (rows, sum of l_quantity, max v) over live rows."""
        out = {}
        a = self.alive
        for y in np.unique(self.year[a]).tolist():
            m = a & (self.year == y)
            out[int(y)] = (int(m.sum()), float(self.rows["l_quantity"][m].sum()), int(self.v[m].max()))
        return out


def _keyed_table(cols: dict[str, np.ndarray], year: np.ndarray, v: np.ndarray) -> pa.Table:
    t = lineitem_table(cols)
    return t.append_column("ship_year", pa.array(year, type=pa.int32())).append_column(
        "v", pa.array(v, type=pa.int64()))


def _year_of(us: np.ndarray) -> np.ndarray:
    return (np.asarray(us, dtype="int64").astype("datetime64[us]").astype("datetime64[Y]")
            .astype("int64") + 1970).astype("int32")
