"""Seeded input generators for the three benchmark workloads.

Everything here is numpy + pyarrow in the benchmark's own process: the
engine only ever sees the Parquet paths written by :func:`write_tables`.
The same seed gives byte-identical tables (see :func:`digest`).
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- taxi --

#: first-match anomaly shares of the reference's logged production run
#: (2M trips, 10.60% anomalous; BASELINE.md / transform.log), in the
#: classifier's priority order
TAXI_ANOMALY_SHARES = {
    "Durée invalide": 701 / 2_000_000,
    "Distance hors limites": 47_189 / 2_000_000,
    "Montant de course invalide": 23_820 / 2_000_000,
    "Passagers invalides": 137_684 / 2_000_000,
    "Vitesse irréaliste": 2_658 / 2_000_000,
}
TAXI_MONTH_START = np.datetime64("2024-01-01T00:00", "m")
TAXI_MONTH_MINUTES = 31 * 24 * 60
#: share of valid trips whose total_amount is negative: they pass the
#: anomaly rules but fail the warehouse CHECK ``total_amount > 0``
TAXI_CHECK_FAIL_SHARE = 0.004
#: share of rows re-emitted as exact copies (duplicate pickup/dropoff pair)
TAXI_DUP_SHARE = 0.01
TAXI_NULL_PICKUP_SHARE = 0.004
TAXI_NULL_DROPOFF_SHARE = 0.002
#: payment_type 0/5/6 and RatecodeID 99/NULL have no label (null-on-miss)
TAXI_PAYMENT_CODES = ([1, 2, 3, 4, 5, 6, 0], [0.70, 0.22, 0.015, 0.015, 0.01, 0.005, 0.035])
TAXI_RATECODES = ([1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 99.0, np.nan], [0.9, 0.035, 0.01, 0.01, 0.01, 0.005, 0.02, 0.01])


@dataclass
class Generated:
    """Tables by file name, plus the properties a result must record."""

    tables: dict[str, pa.Table]
    props: dict = field(default_factory=dict)
    #: workload-specific ground truth (planted pairs, query ids) kept out
    #: of the program's inputs
    truth: dict = field(default_factory=dict)


def taxi_trips(seed: int, n_rows: int, n_files: int) -> Generated:
    """NYC-yellow-taxi-shaped trips for one month at minute resolution.

    Each row is drawn for one intended class (valid or one anomaly rule)
    with values chosen well away from every rule boundary, so the
    first-match classification is exact in any engine. Every
    (pickup, dropoff) pair is unique except the planted exact copies, so
    the pipeline's dedup keeps a well-defined row set.
    """
    rng = np.random.default_rng([seed, 1])
    names = ["valid", *TAXI_ANOMALY_SHARES]
    shares = list(TAXI_ANOMALY_SHARES.values())
    cls = rng.choice(len(names), size=n_rows, p=[1.0 - sum(shares), *shares])

    dur = rng.integers(3, 61, n_rows)
    speed = rng.uniform(4.0, 45.0, n_rows)
    dist = np.round(speed * dur / 60.0, 2)
    pax = rng.choice([1.0, 2.0, 3.0, 4.0, 5.0, 6.0], n_rows, p=[0.7, 0.14, 0.05, 0.03, 0.05, 0.03])

    dur = np.where(cls == 1, rng.choice([0, -1, -7], n_rows), dur)
    dist = np.where(cls == 2, rng.choice([0.0, 0.05, 150.0, 320.5], n_rows), dist)
    slow = rng.random(n_rows) < 0.5
    dur = np.where(cls == 5, np.where(slow, 60, 3), dur)
    dist = np.where(cls == 5, np.where(slow, 0.2, 80.0), dist)
    pax = np.where(cls == 4, np.where(rng.random(n_rows) < 0.5, 0.0, np.nan), pax)

    fare = np.round(3.0 + 2.5 * dist + rng.uniform(0.0, 5.0, n_rows), 2)
    fare = np.where(cls == 3, rng.choice([0.0, -2.5, -10.0], n_rows), fare)
    tip = np.round(np.where(rng.random(n_rows) < 0.6, fare * 0.2, 0.0), 2)
    tolls = np.where(rng.random(n_rows) < 0.05, 6.94, 0.0)
    total = np.round(fare + tip + tolls + 1.5, 2)
    check_fail = (cls == 0) & (rng.random(n_rows) < TAXI_CHECK_FAIL_SHARE)
    total = np.where(check_fail, -np.round(rng.uniform(1.0, 20.0, n_rows), 2), total)

    pickup = rng.integers(0, TAXI_MONTH_MINUTES, n_rows)
    # make every (pickup, dropoff) pair unique: shift colliders a minute on
    for _ in range(64):
        _, first = np.unique(pickup * 100_000 + (pickup + dur + 100), return_index=True)
        clash = np.ones(n_rows, bool)
        clash[first] = False
        if not clash.any():
            break
        pickup = np.where(clash, (pickup + 1) % TAXI_MONTH_MINUTES, pickup)
    else:  # pragma: no cover - 64 shifts always suffice at benchmark sizes
        raise RuntimeError("could not make pickup/dropoff pairs unique")

    pick_ts = TAXI_MONTH_START + pickup.astype("timedelta64[m]")
    drop_ts = pick_ts + dur.astype("timedelta64[m]")
    null_pick = rng.random(n_rows) < TAXI_NULL_PICKUP_SHARE
    null_drop = rng.random(n_rows) < TAXI_NULL_DROPOFF_SHARE

    cols = {
        "VendorID": pa.array(rng.choice([1, 2], n_rows).astype(np.int32)),
        "tpep_pickup_datetime": pa.array(pick_ts.astype("datetime64[us]"), mask=null_pick),
        "tpep_dropoff_datetime": pa.array(drop_ts.astype("datetime64[us]"), mask=null_drop),
        "passenger_count": pa.array(pax, from_pandas=True),
        "trip_distance": pa.array(dist),
        "RatecodeID": pa.array(rng.choice(TAXI_RATECODES[0], n_rows, p=TAXI_RATECODES[1]), from_pandas=True),
        "store_and_fwd_flag": pa.array(np.where(rng.random(n_rows) < 0.01, "Y", "N")),
        "PULocationID": pa.array(
            rng.integers(1, 266, n_rows).astype(np.int32), mask=rng.random(n_rows) < 0.005
        ),
        "DOLocationID": pa.array(rng.integers(1, 266, n_rows).astype(np.int32)),
        "payment_type": pa.array(rng.choice(TAXI_PAYMENT_CODES[0], n_rows, p=TAXI_PAYMENT_CODES[1]).astype(np.int64)),
        "fare_amount": pa.array(fare),
        "extra": pa.array(rng.choice([0.0, 1.0, 2.5], n_rows)),
        "mta_tax": pa.array(np.full(n_rows, 0.5)),
        "tip_amount": pa.array(tip),
        "tolls_amount": pa.array(tolls),
        "improvement_surcharge": pa.array(np.full(n_rows, 1.0)),
        "total_amount": pa.array(total),
        "congestion_surcharge": pa.array(rng.choice([0.0, 2.5], n_rows)),
        "Airport_fee": pa.array(np.where(rng.random(n_rows) < 0.08, 1.75, 0.0)),
    }
    table = pa.table(cols)
    has_ts = ~(null_pick | null_drop)
    dup_src = np.flatnonzero(has_ts & (cls == 0))
    dups = rng.choice(dup_src, int(round(TAXI_DUP_SHARE * n_rows)), replace=False)
    table = pa.concat_tables([table, table.take(dups)])
    order = rng.permutation(table.num_rows)
    table = table.take(order)

    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    tables = {
        f"trips_{i:02d}.parquet": table.slice(bounds[i], bounds[i + 1] - bounds[i])
        for i in range(n_files)
    }
    kept = has_ts
    props = {
        "rows": table.num_rows,
        "files": n_files,
        "distinct_pickup_timestamps": int(np.unique(pickup[~null_pick]).size),
        "anomaly_share": round(float(np.mean(cls[kept] != 0)), 6),
        "planted_duplicate_rows": int(dups.size),
        "check_fail_rows": int(np.sum(check_fail & kept)),
        "null_timestamp_rows": int(np.sum(~kept)),
    }
    return Generated(tables, props)


# ---------------------------------------------------------------- tpch --

TPCH_EPOCH = np.datetime64("1995-01-01", "D")
TPCH_ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01, the fixture's range


def tpch(seed: int, n_orders: int) -> Generated:
    """TPC-H-shaped ``orders``/``lineitem`` with the fixture's schemas and
    the value ranges the ``plans.pipeline`` thresholds were tuned to:
    quantity 1-50, extendedprice ~900-105k, linenumber 1-7. Ship dates
    fall 15 days before to 121 days after the order date, so every one of
    the five anomaly rules fires on a non-trivial share."""
    rng = np.random.default_rng([seed, 2])
    okey = np.arange(n_orders, dtype=np.int64)
    odate = TPCH_EPOCH + rng.integers(0, TPCH_ORDER_DAYS, n_orders).astype("timedelta64[D]")
    lines = rng.integers(1, 8, n_orders)
    n = int(lines.sum())
    l_okey = np.repeat(okey, lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_line = (np.arange(n) - starts + 1).astype(np.int32)
    partkey = rng.integers(0, 20_000, n).astype(np.int64)
    retail = (90_000 + (partkey // 10) % 20_001 + 100 * (partkey % 1_000)) / 100.0
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * retail, 2)
    disc = rng.integers(0, 11, n) / 100.0
    tax = rng.integers(0, 9, n) / 100.0
    ship = np.repeat(odate, lines) + rng.integers(-15, 122, n).astype("timedelta64[D]")
    lineitem = pa.table(
        {
            "l_orderkey": l_okey,
            "l_partkey": partkey,
            "l_suppkey": rng.integers(0, 1_000, n).astype(np.int64),
            "l_linenumber": l_line,
            "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": disc,
            "l_tax": tax,
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
            "l_shipdate": pa.array(ship.astype("datetime64[us]")),
        }
    )
    totalprice = np.bincount(l_okey, weights=price * (1 + tax) * (1 - disc), minlength=n_orders)
    orders = pa.table(
        {
            "o_orderkey": okey,
            "o_custkey": rng.integers(0, max(1, n_orders // 10), n_orders).astype(np.int64),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_orders)),
            "o_totalprice": np.round(totalprice, 2),
            "o_orderdate": pa.array(odate.astype("datetime64[us]")),
            "o_orderpriority": pa.array(
                rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders)
            ),
        }
    )
    props = {"rows": n, "orders": n_orders, "files": 2}
    return Generated({"lineitem.parquet": lineitem, "orders.parquet": orders}, props)


# -------------------------------------------------------------- corpus --

DOC_VOCAB = 20_000
SHINGLE_K = 3
#: Jaccard threshold the curation chain uses
JACCARD_THRESHOLD = 0.8


def shingle_set(text: str, k: int = SHINGLE_K) -> set[str]:
    """Distinct word k-shingles, the unit ``operators.text.with_shingles``
    uses (documents shorter than k have none)."""
    t = text.split(" ")
    return {" ".join(t[i : i + k]) for i in range(len(t) - k + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingle_set(a), shingle_set(b)
    union = len(sa | sb)
    return len(sa & sb) / union if union else 0.0


def corpus(seed: int, n_docs: int, n_vecs: int, dim: int = 64, n_queries: int = 16) -> Generated:
    """Documents with planted near-duplicate pairs on both sides of the
    0.8 threshold (exact Jaccard recorded), exact copies, short docs
    that fail the quality gate, plus clustered embeddings.

    Word tokens are drawn uniformly from a 20k vocabulary, so two
    unrelated documents share no 3-shingle in practice; every
    similarity in the corpus is planted.
    """
    rng = np.random.default_rng([seed, 3])
    n_pairs = n_docs // 16
    n_copies = n_docs // 32
    n_short = n_docs // 32
    n_plain = n_docs - 2 * n_pairs - n_copies - n_short

    def words(n: int) -> list[str]:
        return [f"w{v}" for v in rng.integers(0, DOC_VOCAB, n)]

    texts: list[str] = []
    for _ in range(n_plain):
        texts.append(" ".join(words(int(rng.integers(25, 121)))))
    for _ in range(n_short):
        texts.append(" ".join(words(int(rng.integers(5, 19)))))
    copies = [texts[i] for i in rng.choice(n_plain, n_copies, replace=False)]
    texts.extend(copies)
    pair_texts: list[tuple[str, str, float]] = []
    for _ in range(n_pairs):
        base = words(int(rng.integers(60, 121)))
        variant = list(base)
        # substitutions at random positions; each touches up to 3
        # shingles, so 1-12% of tokens spans Jaccard ~0.6-0.97
        m = max(1, int(round(len(base) * rng.uniform(0.01, 0.12))))
        for pos in rng.choice(len(base), m, replace=False):
            variant[pos] = f"x{rng.integers(0, DOC_VOCAB)}"
        a, b = " ".join(base), " ".join(variant)
        pair_texts.append((a, b, jaccard(a, b)))
        texts.extend([a, b])

    order = rng.permutation(len(texts))
    doc_id = np.empty(len(texts), np.int64)
    doc_id[order] = np.arange(len(texts))
    # planted pairs occupy the last 2*n_pairs source positions
    base_pos = len(texts) - 2 * n_pairs
    planted = []
    for i, (_, _, j) in enumerate(pair_texts):
        a, b = int(doc_id[base_pos + 2 * i]), int(doc_id[base_pos + 2 * i + 1])
        planted.append((min(a, b), max(a, b), j))
    texts_by_id = [None] * len(texts)
    for src, t in enumerate(texts):
        texts_by_id[doc_id[src]] = t
    documents = pa.table(
        {
            "doc_id": np.arange(len(texts), dtype=np.int64),
            "text": pa.array(texts_by_id),
            "lang": pa.array(np.full(len(texts), "en")),
            "source": pa.array(rng.choice(["web", "books", "code"], len(texts))),
            "n_chars": np.array([len(t) for t in texts_by_id], dtype=np.int64),
        }
    )

    n_clusters = 16
    centers = rng.normal(0.0, 1.0, (n_clusters, dim))
    label = rng.integers(0, n_clusters, n_vecs)
    vecs = (centers[label] + 0.35 * rng.normal(0.0, 1.0, (n_vecs, dim))).astype(np.float32)
    embeddings = pa.table(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), dim).cast(
                pa.list_(pa.float32())
            ),
            "label": label.astype(np.int32),
        }
    )
    above = sum(1 for _, _, j in planted if j >= JACCARD_THRESHOLD)
    props = {
        "docs": len(texts),
        "vectors": n_vecs,
        "dim": dim,
        "files": 2,
        "planted_pairs": len(planted),
        "planted_pairs_at_or_above_threshold": above,
        "exact_copies": n_copies,
        "short_docs": n_short,
        "knn_queries": n_queries,
    }
    truth = {"planted": planted, "texts": texts_by_id, "vectors": vecs, "n_queries": n_queries}
    return Generated({"documents.parquet": documents, "embeddings.parquet": embeddings}, props, truth)


# ---------------------------------------------------------------- I/O --


def digest(gen: Generated) -> str:
    """Content digest of the generated tables (Arrow IPC bytes, so it
    does not depend on the Parquet writer)."""
    h = hashlib.sha256()
    for name in sorted(gen.tables):
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, gen.tables[name].schema) as w:
            w.write_table(gen.tables[name])
        h.update(name.encode())
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()


def write_tables(gen: Generated, directory: str) -> int:
    """Write every table as one snappy Parquet file; returns total bytes."""
    os.makedirs(directory, exist_ok=True)
    total = 0
    for name, table in gen.tables.items():
        path = os.path.join(directory, name)
        pq.write_table(table, path, compression="snappy")
        total += os.path.getsize(path)
    return total
