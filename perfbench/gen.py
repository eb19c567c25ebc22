"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed (and the sizes passed
in): the same seed gives byte-identical inputs. Generation runs in the
calling thread with NumPy's single-threaded generators, so the
generator never competes with the system under test for more than one
core. The program under test only ever sees the parquet files these
functions write.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
# Simulated event time of the first ingest file; each file advances
# the simulated clock by FILE_SPAN_S seconds.
EVENT_T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
FILE_SPAN_S = 60

EVENT_SCHEMA_DDL = (
    "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING,"
    " value DOUBLE, file_id INT"
)
CDC_SCHEMA_DDL = "key BIGINT, seq BIGINT, op STRING, val DOUBLE, file_id INT"


def _rng(seed: int, *stream: int) -> np.random.Generator:
    """Independent generator per (seed, stream...), so inputs do not
    depend on the order in which they are generated."""
    return np.random.default_rng(np.random.SeedSequence([seed, *stream]))


def zipf_sampler(n_items: int, s: float):
    """Bounded Zipf over ``0..n_items-1`` (rank 0 most frequent)."""
    w = 1.0 / np.arange(1, n_items + 1, dtype=np.float64) ** s
    cdf = np.cumsum(w / w.sum())
    cdf[-1] = 1.0

    def draw(rng: np.random.Generator, n: int) -> np.ndarray:
        return np.searchsorted(cdf, rng.random(n), side="right").astype(np.int64)

    return draw


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer on uint64 (wrapping arithmetic)."""
    x = x.astype(np.uint64, copy=True)
    with np.errstate(over="ignore"):
        x ^= x >> np.uint64(30)
        x *= np.uint64(0xBF58476D1CE4E5B9)
        x ^= x >> np.uint64(27)
        x *= np.uint64(0x94D049BB133111EB)
        x ^= x >> np.uint64(31)
    return x


def row_hashes(cols: list[np.ndarray]) -> np.ndarray:
    """Per-row 64-bit hash over integer/float columns (floats by bit
    pattern). Used on generated rows and on rows read back, so equal
    multisets of rows give equal sorted hash arrays."""
    h = np.zeros(len(cols[0]), dtype=np.uint64)
    for c in cols:
        c = np.asarray(c)
        if c.dtype.kind == "f":
            c = c.astype(np.float64).view(np.uint64)
        with np.errstate(over="ignore"):
            h = _mix64(h ^ c.astype(np.int64).view(np.uint64))
    return h


def digest_by_file(file_id: np.ndarray, hashes: np.ndarray) -> dict[int, tuple[int, str]]:
    """``{file_id: (row_count, digest of the sorted row hashes)}`` —
    an order-insensitive fingerprint of the rows of each input file."""
    order = np.lexsort((hashes, file_id))
    fid, h = file_id[order], hashes[order]
    out: dict[int, tuple[int, str]] = {}
    if len(fid) == 0:
        return out
    cuts = np.flatnonzero(np.diff(fid)) + 1
    for lo, hi in zip(np.r_[0, cuts], np.r_[cuts, len(fid)]):
        out[int(fid[lo])] = (
            int(hi - lo),
            hashlib.blake2b(h[lo:hi].tobytes(), digest_size=12).hexdigest(),
        )
    return out


def event_hashes(t: pa.Table) -> np.ndarray:
    code = {name: i for i, name in enumerate(EVENT_TYPES)}
    types = np.array([code[v] for v in t.column("event_type").to_pylist()])
    return row_hashes(
        [
            t.column("event_id").to_numpy(),
            t.column("ts").cast(pa.int64()).to_numpy(),
            t.column("user_id").to_numpy(),
            types,
            t.column("value").to_numpy(),
        ]
    )


# Zipf exponent of every skewed id: the default zipfian constant of
# YCSB (Cooper et al., "Benchmarking Cloud Serving Systems with YCSB",
# SoCC 2010), the common stand-in for skewed key popularity.
ZIPF_S = 0.99


# --- ingest_append: event files ---------------------------------------


@dataclass(frozen=True)
class EventFeed:
    """Event traffic. The rate is measured; the shares are assumptions,
    each sized for the code path it exercises (no public trace gives
    them for this kind of feed)."""

    # 5 files/s x 2000 = 10k events/s, the rate at which a local[4]
    # probe found visibility set by the trigger floor, not the write
    rows_per_file: int = 2000
    # assumed: ten times the rows of one trigger, so most ids in a
    # batch are distinct while the Zipf head repeats
    n_users: int = 100_000
    user_skew: float = ZIPF_S
    # assumed: client clock skew and network reordering; +-2 min moves
    # rows across an hour partition only near the hour boundary
    out_of_order_share: float = 0.2
    ooo_s: int = 120
    # assumed: buffered clients delivering 1-3 hours late, so every
    # trigger also writes up to three earlier hour partitions (the
    # late-bucket path a time-bucketed sink exists for) while the
    # current hour keeps most rows
    late_share: float = 0.05


def event_file(feed: EventFeed, seed: int, file_id: int) -> pa.Table:
    """Rows of ingest file ``file_id``: Zipf user ids, a share of
    out-of-order timestamps and a share of late ones (which land in
    earlier hour partitions)."""
    rng = _rng(seed, 1, file_id)
    n = feed.rows_per_file
    base = EVENT_T0_US + file_id * FILE_SPAN_S * 1_000_000
    ts = base + rng.integers(0, FILE_SPAN_S * 1_000_000, n)
    ooo = rng.random(n) < feed.out_of_order_share
    ts[ooo] += rng.integers(-feed.ooo_s, feed.ooo_s, int(ooo.sum())) * 1_000_000
    late = rng.random(n) < feed.late_share
    ts[late] -= rng.integers(3600, 3 * 3600, int(late.sum())) * 1_000_000
    users = zipf_sampler(feed.n_users, feed.user_skew)(rng, n)
    return pa.table(
        {
            "event_id": pa.array(file_id * n + np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(users),
            "event_type": pa.array(
                np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]
            ),
            "value": pa.array(np.round(rng.lognormal(2.0, 1.0, n), 2)),
            "file_id": pa.array(np.full(n, file_id, dtype=np.int32)),
        }
    )


# --- ingest_upsert: keyed change feed ---------------------------------


@dataclass(frozen=True)
class ChangeFeed:
    """Change traffic; as for :class:`EventFeed`, the rate is measured
    and the key space and delete share are assumptions."""

    # 5 files/s x 4000 = 20k changes/s, the upsert rate of the same probe
    rows_per_file: int = 4000
    # assumed: the live table stays bounded, so read cost follows the
    # log the sink appends rather than a growing table
    n_keys: int = 50_000
    key_skew: float = ZIPF_S
    # assumed: every file carries ~400 deletes, so each trigger runs the
    # tombstone path, while nine in ten changes keep keys live
    delete_share: float = 0.1


def change_file(feed: ChangeFeed, seed: int, file_id: int) -> pa.Table:
    """Changes of file ``file_id``. ``seq`` is globally increasing in
    file order, so the latest change per key is the one with the
    highest ``seq``."""
    rng = _rng(seed, 2, file_id)
    n = feed.rows_per_file
    ops = np.where(rng.random(n) < feed.delete_share, "D", "U")
    return pa.table(
        {
            "key": pa.array(zipf_sampler(feed.n_keys, feed.key_skew)(rng, n)),
            "seq": pa.array(file_id * n + np.arange(n, dtype=np.int64)),
            "op": pa.array(ops),
            "val": pa.array(np.round(rng.normal(100.0, 30.0, n), 3)),
            "file_id": pa.array(np.full(n, file_id, dtype=np.int32)),
        }
    )


def latest_per_key(tables: list[pa.Table]) -> dict[int, tuple[int, str, float, int]]:
    """The model the upsert sink must reproduce: ``{key: (seq, op, val,
    file_id)}`` of each key's highest-``seq`` change."""
    model: dict[int, tuple[int, str, float, int]] = {}
    for t in tables:
        for k, s, o, v, f in zip(
            t.column("key").to_pylist(),
            t.column("seq").to_pylist(),
            t.column("op").to_pylist(),
            t.column("val").to_pylist(),
            t.column("file_id").to_pylist(),
        ):
            if k not in model or s > model[k][0]:
                model[k] = (s, o, v, f)
    return model


# --- staging ------------------------------------------------------------


def write_files(tables: list[pa.Table], directory: str, first_mtime: float) -> list[str]:
    """Write one parquet file per table into ``directory`` with strictly
    increasing mtimes (one second apart, all in the past), so a file
    stream source orders them exactly as generated."""
    os.makedirs(directory, exist_ok=True)
    paths = []
    for i, t in enumerate(tables):
        p = os.path.join(directory, f"f{i:05d}.parquet")
        pq.write_table(t, p)
        os.utime(p, (first_mtime + i, first_mtime + i))
        paths.append(p)
    return paths


# --- query_mix: warehouse, events, documents ---------------------------

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
LANGS = ("en", "en", "en", "zh", "es", "de", "fr")
VOCAB = (
    "a the key agg row scan slow fast table value part hash merge batch"
    " spark line sort window order data column join small customer query"
    " big filter stream group index shard token vector bloom sketch"
    " commit manifest epoch trigger"
).split()
DAY_US = 86_400_000_000
D1995_US = 788_918_400_000_000  # 1995-01-01


def _ts(a) -> pa.Array:
    return pa.array(np.asarray(a, dtype=np.int64), pa.timestamp("us"))


def warehouse_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The TPC-H-shaped ``customer``/``orders``/``lineitem`` tables plus
    ``events`` and ``documents`` at scale factor ``sf``, with the
    schemas the registry queries of the query workload read."""
    n_cust, n_supp = int(150_000 * sf), max(int(10_000 * sf), 25)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    rng = _rng(seed, 3)
    t: dict[str, pa.Table] = {}
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
            "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
            "c_mktsegment": pa.array(
                np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]
            ),
        }
    )
    odate = D1995_US + rng.integers(0, 2404, n_ord) * DAY_US
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n_ord), 2)),
            "o_orderdate": _ts(odate),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
        }
    )
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    lnum = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(okey),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
            "l_linenumber": pa.array(lnum.astype(np.int32)),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 3000, n_li), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)]),
            "l_shipdate": _ts(np.repeat(odate, lines) + rng.integers(1, 122, n_li) * DAY_US),
        }
    )
    n_ev = int(100_000 * sf)
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
            "ts": _ts(np.sort(EVENT_T0_US + rng.integers(0, 30 * DAY_US, n_ev))),
            "user_id": pa.array(rng.integers(0, max(int(15_000 * sf), 10), n_ev)),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
            "value": pa.array(np.round(rng.uniform(0.01, 490, n_ev), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    t["documents"] = _documents(rng, int(50_000 * sf))
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents over a small vocabulary; one in ten is a
    copy of an earlier document with one word replaced (a near
    duplicate), so the dedup queries find pairs."""
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.1:
            toks = texts[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = str(vocab[rng.integers(0, len(vocab))])
        else:
            toks = list(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 90)))])
        texts.append(" ".join(toks))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(s) for s in texts], dtype=np.int64)),
        }
    )


def orc_event_files(seed: int, n_files: int, rows_per_file: int, days: int) -> list[pa.Table]:
    """Event files for the ORC table the query workload scans, spread
    uniformly over ``days`` days (24 hour partitions a day)."""
    out = []
    for f in range(n_files):
        rng = _rng(seed, 4, f)
        n = rows_per_file
        out.append(
            pa.table(
                {
                    "event_id": pa.array(f * n + np.arange(n, dtype=np.int64)),
                    "ts": pa.array(
                        EVENT_T0_US + rng.integers(0, days * DAY_US, n),
                        pa.timestamp("us", tz="UTC"),
                    ),
                    "user_id": pa.array(zipf_sampler(10_000, ZIPF_S)(rng, n)),
                    "event_type": pa.array(
                        np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]
                    ),
                    "value": pa.array(np.round(rng.lognormal(2.0, 1.0, n), 2)),
                    "file_id": pa.array(np.full(n, f, dtype=np.int32)),
                }
            )
        )
    return out
