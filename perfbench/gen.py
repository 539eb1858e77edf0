"""Seeded input generator for the benchmark.

Writes the ten tables the query registry reads (``kioss_spark.sources.TABLES``)
as one parquet file each, with the schemas and value domains of FIXTURES.md:

- TPC-H-ish star: the five region names, ``NATION_<k>``, the five market
  segments, order dates 1995-01-01..2001-08-01, ship dates up to 2001-11-04,
  return flags A/N/R, line status F/O, order status F/O/P;
- ``events``: consecutive ``event_id`` from 0, strictly increasing naive
  microsecond timestamps across January 2024, 150 users, five event types and
  a JSON ``props`` column ``{"k": <0..99>}``;
- ``documents``: a vocabulary of the fixture's 31 words plus generated words
  (so shingle pair generation is not vocabulary-saturated), exact copies and
  near-duplicate chains of exactly ``MAX_HOPS`` hops — far below
  ``connected_components``' ``max_iter=25``, the same on every seed;
- ``embeddings``: unit-norm 64-d float32 vectors around 16 centres with ~1%
  near-identical copies, integer labels 0..9.

The same (seed, size) always yields byte-identical tables.  ``ensure`` caches
them under ``<work>/data/<size>-seed<seed>-<generator hash>``.

Usage: python3 perfbench/gen.py OUT_DIR [--seed N] [--size small|tiny]
"""

from __future__ import annotations

import argparse
import datetime as dt
import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: row counts per size; ``small`` is what the benchmark times, ``tiny`` is
#: what its own tests smoke-run
SIZES: dict[str, dict[str, int]] = {
    "small": {
        "customer": 300, "supplier": 20, "part": 400, "orders": 3000,
        "lineitem": 12000, "events": 3000, "documents": 600, "embeddings": 600,
    },
    "tiny": {
        "customer": 150, "supplier": 10, "part": 200, "orders": 1500,
        "lineitem": 6000, "events": 1500, "documents": 300, "embeddings": 300,
    },
}

FIXTURE_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "es", "de", "fr", "zh")
LANG_P = (0.44, 0.15, 0.14, 0.13, 0.14)

N_EXTRA_WORDS = 500
MAX_HOPS = 3
CHAIN_EDITS = 3
EMB_DIM = 64


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _days(rng, n: int, lo: dt.date, hi: dt.date) -> np.ndarray:
    span = (hi - lo).days
    base = np.datetime64(lo, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _vocabulary(rng) -> list[str]:
    cons, vows = "bcdfghjklmnprstvz", "aeiou"
    extra: set[str] = set()
    while len(extra) < N_EXTRA_WORDS:
        syl = int(rng.integers(2, 4))
        w = "".join(cons[rng.integers(len(cons))] + vows[rng.integers(len(vows))]
                    for _ in range(syl))
        if w not in FIXTURE_WORDS:
            extra.add(w)
    return FIXTURE_WORDS + sorted(extra)


def _documents(rng, n: int) -> dict:
    """Background docs, exact copies of background docs, and near-duplicate
    chains root -> hop 1 -> ... -> hop ``MAX_HOPS``.

    Each hop replaces ``CHAIN_EDITS`` words at positions at least four apart
    and never edited before in the chain, so each edit kills four distinct
    4-gram shingles.  With 49..57 shingles per chain document, neighbours
    have Jaccard >= 0.6 and documents two hops apart <= 0.41: every chain is
    a path of exactly ``MAX_HOPS`` edges at the J >= 0.5 threshold, whatever
    the seed, so the connected-components round count does not vary with it.
    """
    vocab = np.array(_vocabulary(rng))
    # mild Zipf skew: the fixture words lead, the tail stays wide
    weights = 1.0 / (np.arange(len(vocab)) + 20.0)
    weights /= weights.sum()

    def words(k):
        return [str(w) for w in vocab[rng.choice(len(vocab), size=k, p=weights)]]

    n_chains, n_copies = n // 25, n // 50
    ids = rng.permutation(n)
    chain_ids = ids[: n_chains * (MAX_HOPS + 1)].reshape(n_chains, MAX_HOPS + 1)
    copy_ids = ids[n_chains * (MAX_HOPS + 1): n_chains * (MAX_HOPS + 1) + n_copies]
    fresh_ids = ids[n_chains * (MAX_HOPS + 1) + n_copies:]
    texts: list[str | None] = [None] * n
    for i in fresh_ids:
        texts[i] = " ".join(words(int(rng.integers(10, 100))))
    for i in copy_ids:
        texts[i] = texts[fresh_ids[int(rng.integers(len(fresh_ids)))]]
    for chain in chain_ids:
        doc = words(int(rng.integers(52, 61)))
        slots = rng.permutation(np.arange(1, len(doc) // 4 - 1))
        offset = int(rng.integers(4))
        for hop, i in enumerate(sorted(chain)):
            if hop:
                for slot in slots[(hop - 1) * CHAIN_EDITS: hop * CHAIN_EDITS]:
                    pos = 4 * int(slot) + offset
                    old = doc[pos]
                    while doc[pos] == old:
                        doc[pos] = words(1)[0]
            texts[i] = " ".join(doc)
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def _embeddings(rng, m: int) -> dict:
    centres = rng.standard_normal((16, EMB_DIM))
    emb = centres[rng.integers(0, 16, m)] + 0.8 * rng.standard_normal((m, EMB_DIM))
    for _ in range(max(1, m // 100)):
        a, b = rng.integers(0, m, 2)
        emb[b] = emb[a] + 0.01 * rng.standard_normal(EMB_DIM)
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(m, dtype=np.int64)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, m).astype(np.int32)),
    }


def _events(rng, n: int) -> dict:
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 24 * 3600 * 10**6 - 3600 * 10**6
    # strictly increasing, at least one second apart: as-of and session
    # windows never meet ties
    gaps = rng.exponential(1.0, n)
    gaps = 1_000_000 + gaps / gaps.sum() * (span_us - n * 1_000_000)
    ts = start + np.cumsum(gaps).astype(np.int64).astype("timedelta64[us]")
    return {
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n).astype(np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n).tolist(), pa.string()),
        "value": pa.array(np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    }


def generate(out: str, seed: int, size: str = "small") -> None:
    """Write every table for (seed, size) into ``out`` (created)."""
    rows = SIZES[size]
    streams = np.random.SeedSequence(seed).spawn(8)
    rng = {name: np.random.default_rng(s) for name, s in zip(
        ("customer", "supplier", "part", "orders", "lineitem", "events",
         "documents", "embeddings"), streams)}
    os.makedirs(out, exist_ok=True)
    i32 = np.int32
    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=i32)),
        "r_name": pa.array(list(REGIONS), pa.string()),
    })
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=i32)),
        "n_name": pa.array([f"NATION_{k}" for k in range(25)], pa.string()),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(i32)),
    })
    r, n = rng["customer"], rows["customer"]
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(n)], pa.string()),
        "c_nationkey": pa.array(r.integers(0, 25, n).astype(i32)),
        "c_acctbal": pa.array(_money(r, n, -999.99, 9999.99)),
        "c_mktsegment": pa.array(r.choice(SEGMENTS, n).tolist(), pa.string()),
    })
    r, n = rng["supplier"], rows["supplier"]
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(n)], pa.string()),
        "s_nationkey": pa.array(r.integers(0, 25, n).astype(i32)),
        "s_acctbal": pa.array(_money(r, n, -999.99, 9999.99)),
    })
    r, n = rng["part"], rows["part"]
    price = np.round(900.0 + (np.arange(n) % 1000) * 0.1, 1)
    _write(out, "part", {
        "p_partkey": pa.array(np.arange(n, dtype=np.int64)),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                            zip(r.integers(0, 8, n), r.integers(0, 8, n))], pa.string()),
        "p_brand": pa.array([f"Brand#{k}" for k in r.integers(1, 26, n)], pa.string()),
        "p_type": pa.array(r.choice(PART_TYPES, n).tolist(), pa.string()),
        "p_size": pa.array(r.integers(1, 51, n).astype(i32)),
        "p_retailprice": pa.array(price),
    })
    r, n = rng["orders"], rows["orders"]
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, rows["customer"], n).astype(np.int64)),
        "o_orderstatus": pa.array(r.choice(("F", "O", "P"), n).tolist(), pa.string()),
        "o_totalprice": pa.array(_money(r, n, 1000.0, 500000.0)),
        "o_orderdate": pa.array(_days(r, n, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(r.choice(PRIORITIES, n).tolist(), pa.string()),
    })
    r, n = rng["lineitem"], rows["lineitem"]
    partkey = r.integers(0, rows["part"], n).astype(np.int64)
    qty = r.integers(1, 51, n).astype(np.float64)
    # whole hundreds: price x (1 - discount) x (1 + tax) then has at most two
    # decimals, so the oracles' round(sum(...), 2) never sits on a half-cent
    # tie that Spark and DuckDB would break differently
    unit = 100.0 * (9 + partkey % 12)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(r.integers(0, rows["orders"], n).astype(np.int64)),
        "l_partkey": pa.array(partkey),
        "l_suppkey": pa.array(r.integers(0, rows["supplier"], n).astype(np.int64)),
        "l_linenumber": pa.array(r.integers(1, 8, n).astype(i32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(qty * unit),
        "l_discount": pa.array(r.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(r.choice(("A", "N", "R"), n).tolist(), pa.string()),
        "l_linestatus": pa.array(r.choice(("F", "O"), n).tolist(), pa.string()),
        "l_shipdate": pa.array(_days(r, n, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
                               pa.timestamp("us")),
    })
    _write(out, "events", _events(rng["events"], rows["events"]))
    _write(out, "documents", _documents(rng["documents"], rows["documents"]))
    _write(out, "embeddings", _embeddings(rng["embeddings"], rows["embeddings"]))


def ensure(work: str, seed: int, size: str = "small") -> str:
    """Return the cached table directory for (seed, size) and this version of
    the generator, generating it on first use.  A marker file written last
    makes a half-written directory (an interrupted run) regenerate instead of
    being trusted."""
    with open(__file__, "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:12]
    path = os.path.join(work, "data", f"{size}-seed{seed}-{version}")
    marker = os.path.join(path, "_COMPLETE")
    if not os.path.exists(marker):
        shutil.rmtree(path, ignore_errors=True)
        generate(path, seed, size)
        with open(marker, "w"):
            pass
    return path


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--size", choices=sorted(SIZES), default="small")
    args = ap.parse_args()
    generate(args.out, args.seed, args.size)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
