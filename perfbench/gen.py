"""Seeded input generators.

Every input a workload hands to the engine is built here from a numpy
``Generator`` seeded by the benchmark's ``--seed``: the same seed gives
byte-identical files, another seed gives other files of the same shape
and size.  The tables keep the schemas of the sf* fixtures the registry
is gated on (FIXTURES.md), and their value domains are the fixtures'
(the same categorical values, key ranges, date spans and the same
31-word document vocabulary), so the registry's DuckDB oracles apply to
the generated files unchanged.
"""

from __future__ import annotations

import datetime as dt
import gzip
import io
import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

EPOCH = dt.datetime(1970, 1, 1)

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
#: marker word the near-duplicate variants end with (the fixture's 31st word)
DUP_WORD = "dup"
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"]
P_TYPES = ["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"]
P_WORDS = (
    "small hot widget gear plate red blue bolt large ring rod gizmo old cold "
    "anvil new"
).split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
EMB_DIM = 64


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    """Independent, reproducible stream per (seed, purpose...) tuple."""
    return np.random.default_rng([seed, *stream])


def _us(d: dt.datetime) -> int:
    return int((d - EPOCH).total_seconds()) * 1_000_000


def _days(rng, n: int, lo: dt.datetime, hi: dt.datetime) -> np.ndarray:
    span = (hi - lo).days
    return _us(lo) + rng.integers(0, span + 1, n) * 86_400_000_000


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us.astype("int64"), pa.timestamp("us"))


def _write(table: pa.Table, path: Path) -> int:
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path)
    return path.stat().st_size


# -- relational lake (TPC-H shape + events) ---------------------------------


def lake(out_dir: Path, rng: np.random.Generator, sf: float) -> dict[str, int]:
    """The star-schema tables plus ``events`` at scale ``sf``; returns
    {table: row count}."""
    n_cust = int(150_000 * sf)
    n_supp = max(int(10_000 * sf), 4)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_ev = int(1_000_000 * sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    names = rng.choice(P_WORDS, (n_part, 2))
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{a} {b}" for a, b in names],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(P_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) / 10, 1),
        }
    )
    odate = _days(rng, n_ord, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1))
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
            "o_orderdate": _ts(odate),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = _lineitem(rng, n_ord, odate, n_part, n_supp)
    ev_ts = _us(dt.datetime(2024, 1, 1)) + rng.integers(
        0, 30 * 86_400_000_000, n_ev
    )
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts(ev_ts),
            "user_id": pa.array(rng.integers(0, max(int(15_000 * sf), 10), n_ev)),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(rng.uniform(0.01, 490.02, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    for name, table in t.items():
        _write(table, out_dir / f"{name}.parquet")
    return {name: table.num_rows for name, table in t.items()}


def _lineitem(rng, n_ord, odate, n_part, n_supp) -> pa.Table:
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines)
    lno = np.concatenate([np.arange(1, k + 1) for k in lines])
    n = len(okey)
    qty = rng.integers(1, 51, n).astype("float64")
    return pa.table(
        {
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
            "l_linenumber": pa.array(lno, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n), 2),
            "l_discount": rng.integers(0, 11, n) / 100,
            "l_tax": rng.integers(0, 9, n) / 100,
            "l_returnflag": rng.choice(["R", "A", "N"], n),
            "l_linestatus": rng.choice(["O", "F"], n),
            "l_shipdate": _ts(
                np.repeat(odate, lines)
                + rng.integers(1, 95, n) * 86_400_000_000
            ),
        }
    )


# -- raw-zone CDC drops for the stage ingest --------------------------------

#: month the generated source data ends in; the delete-window cutoff is
#: placed relative to it (see stage_ingest)
LAST_PERIOD = dt.datetime(2001, 12, 1)
N_PERIODS = 36
#: periods re-extracted by every incremental drop (the lookback window)
WINDOW_PERIODS = 3


def _period_of(us: np.ndarray) -> np.ndarray:
    days = us // 86_400_000_000
    d = days.astype("datetime64[D]")
    y = d.astype("datetime64[Y]").astype(int) + 1970
    m = d.astype("datetime64[M]").astype(int) % 12 + 1
    return y * 100 + m


def fmt_ts(us: np.ndarray) -> list[str]:
    sec = (us // 1_000_000).astype("datetime64[s]")
    return [str(s).replace("T", " ") for s in sec]


class LineitemSource:
    """A mutable lineitem-shaped source table whose change log is
    extracted as gzip-CSV drops, the way a DMS/CDC job lands them in the
    raw zone: a base full load, then incremental drops, each carrying
    the rows changed since the last drop plus a full re-extract of the
    lookback window (the last WINDOW_PERIODS ship periods).  Every row
    carries ``cdc_ts``, its last modification time."""

    COLUMNS = [
        "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
        "l_linestatus", "l_shipdate", "cdc_ts",
    ]

    def __init__(self, rng: np.random.Generator, n_orders: int):
        self.rng = rng
        first = LAST_PERIOD.replace(year=LAST_PERIOD.year - N_PERIODS // 12)
        odate = _days(rng, n_orders, first, LAST_PERIOD - dt.timedelta(days=95))
        li = _lineitem(rng, n_orders, odate, 2000, 100)
        self.cols = {
            c: np.array(li[c].to_numpy(zero_copy_only=False))
            for c in li.column_names
        }
        self.cols["l_shipdate"] = self.cols["l_shipdate"].astype("int64")
        n = len(self.cols["l_orderkey"])
        self.clock = _us(dt.datetime(2002, 1, 1))
        self.cols["cdc_ts"] = self.clock - rng.integers(
            86_400, 400 * 86_400, n
        ) * 1_000_000
        self.next_order = n_orders
        self.period = _period_of(self.cols["l_shipdate"])
        self.periods = np.unique(self.period)

    @property
    def n_rows(self) -> int:
        return len(self.cols["l_orderkey"])

    def base_rows(self) -> np.ndarray:
        return np.arange(self.n_rows)

    def advance(self, update_share: float, recency_bias: float) -> np.ndarray:
        """Apply one interval of source changes; returns the row indices
        the next incremental drop carries.  ``update_share`` of the keys
        get a new version, periods drawn with weight
        exp(recency_bias * age_rank) (0 = uniform, larger = recent-heavy);
        a few new orders land in the newest period."""
        rng = self.rng
        self.clock += 3_600_000_000
        age = np.searchsorted(self.periods, self.period) - len(self.periods) + 1
        w = np.exp(recency_bias * age)
        n_upd = max(1, int(update_share * self.n_rows))
        upd = rng.choice(self.n_rows, n_upd, replace=False, p=w / w.sum())
        c = self.cols
        c["l_quantity"][upd] = rng.integers(1, 51, n_upd).astype("float64")
        c["l_extendedprice"][upd] = np.round(
            c["l_quantity"][upd] * rng.uniform(900, 2100, n_upd), 2
        )
        c["l_returnflag"][upd] = rng.choice(["R", "A", "N"], n_upd)
        c["l_linestatus"][upd] = rng.choice(["O", "F"], n_upd)
        c["cdc_ts"][upd] = self.clock + rng.integers(0, 3_600, n_upd) * 1_000_000
        # new orders in the newest period
        n_new_orders = max(1, n_upd // 8)
        newest = self.periods[-1]
        y, m = divmod(int(newest), 100)
        odate = _days(
            rng, n_new_orders, dt.datetime(y, m, 1), dt.datetime(y, m, 20)
        )
        li = _lineitem(rng, n_new_orders, odate, 2000, 100)
        new = {
            k: np.array(li[k].to_numpy(zero_copy_only=False))
            for k in li.column_names
        }
        new["l_orderkey"] = new["l_orderkey"] + self.next_order
        new["l_shipdate"] = _days(
            rng, len(new["l_orderkey"]), dt.datetime(y, m, 1),
            dt.datetime(y, m, 28),
        )
        new["cdc_ts"] = self.clock + rng.integers(
            0, 3_600, len(new["l_orderkey"])
        ) * 1_000_000
        self.next_order += n_new_orders
        start = self.n_rows
        for k in self.cols:
            self.cols[k] = np.concatenate([self.cols[k], new[k]])
        self.period = _period_of(self.cols["l_shipdate"])
        added = np.arange(start, self.n_rows)
        window = np.nonzero(self.period >= self.periods[-WINDOW_PERIODS])[0]
        return np.unique(np.concatenate([upd, added, window]))

    def write_drop(self, rows: np.ndarray, drop_dir: Path, n_files: int) -> int:
        """Write ``rows`` as ``n_files`` gzip CSV slices with header (the
        raw-zone format ``read_raw_csv`` reads); returns bytes written."""
        drop_dir.mkdir(parents=True, exist_ok=True)
        c = self.cols
        total = 0
        for i, part in enumerate(np.array_split(rows, n_files)):
            tbl = pa.table(
                {
                    "l_orderkey": c["l_orderkey"][part],
                    "l_partkey": c["l_partkey"][part],
                    "l_suppkey": c["l_suppkey"][part],
                    "l_linenumber": c["l_linenumber"][part],
                    "l_quantity": c["l_quantity"][part],
                    "l_extendedprice": c["l_extendedprice"][part],
                    "l_discount": c["l_discount"][part],
                    "l_tax": c["l_tax"][part],
                    "l_returnflag": c["l_returnflag"][part],
                    "l_linestatus": c["l_linestatus"][part],
                    "l_shipdate": fmt_ts(c["l_shipdate"][part]),
                    "cdc_ts": fmt_ts(c["cdc_ts"][part]),
                }
            )
            buf = io.BytesIO()
            pacsv.write_csv(tbl, buf)
            path = drop_dir / f"part-{i:05d}.csv.gz"
            # mtime=0: identical bytes for identical content
            path.write_bytes(gzip.compress(buf.getvalue(), mtime=0))
            total += path.stat().st_size
        return total


# -- documents and embeddings -----------------------------------------------


def documents(
    rng: np.random.Generator,
    n: int,
    first_id: int = 0,
    dup_share: float = 0.0,
    pool: list[str] | None = None,
) -> tuple[pa.Table, list[int]]:
    """``n`` documents with the fixture's vocabulary, lengths and
    metadata.  ``dup_share`` of them are planted duplicates of an
    earlier document (of this call or of ``pool``, the texts of earlier
    calls): half exact copies, half near copies whose last word is
    replaced by DUP_WORD.  Near copies are only made of documents of at
    least 60 words, so their word-3-shingle Jaccard to the original is
    >= 0.96 — far above the 0.5 threshold, where banded MinHash
    (8 bands x 4 rows) misses a pair with probability below 1e-7.
    Returns (table, planted duplicate ids)."""
    pool = pool if pool is not None else []
    start = len(pool)
    planted: list[int] = []
    for i in range(n):
        if i and rng.random() < dup_share:
            recent = [
                j for j in range(max(0, len(pool) - 400), len(pool))
                if pool[j].count(" ") >= 59
            ]
            if recent:
                src = pool[recent[int(rng.integers(0, len(recent)))]]
                if rng.random() < 0.5:
                    pool.append(src)
                else:
                    pool.append(src.rsplit(" ", 1)[0] + " " + DUP_WORD)
                planted.append(first_id + i)
                continue
        pool.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    texts = pool[start:]
    ids = np.arange(first_id, first_id + n)
    table = pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, n, p=LANG_P),
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    return table, planted


def embeddings(
    rng: np.random.Generator, n: int, dup_share: float = 0.05
) -> pa.Table:
    """``n`` unit vectors (float32, dim 64) like the fixture's, with
    ``dup_share`` planted near-duplicates (cosine ~0.95 to an earlier
    vector) for the semantic dedup to find."""
    v = rng.standard_normal((n, EMB_DIM))
    for i in range(1, n):
        if rng.random() < dup_share:
            v[i] = v[rng.integers(0, i)] + 0.3 * rng.standard_normal(EMB_DIM)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype("float32").ravel(), pa.float32())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM), pa.int32()),
                flat,
            ),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def write_parquet(table: pa.Table, path: Path, mtime: float | None = None) -> int:
    size = _write(table, path)
    if mtime is not None:
        os.utime(path, (mtime, mtime))
    return size
