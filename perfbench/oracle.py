"""Correctness gates, computed independently of Spark.

Taxi ETL and the dashboard queries are checked against DuckDB over the
same generated Parquet; the curation chain against exact Jaccard and
cosine recomputed in Python/numpy. Each ``check_*`` returns a list of
failure messages (empty = pass).
"""

from __future__ import annotations

import math
import os

import duckdb
import numpy as np

import gen

# -------------------------------------------------------------- taxi --

_TAXI_CLASSIFIED = """
CREATE VIEW ext AS
SELECT tpep_pickup_datetime AS pu, tpep_dropoff_datetime AS dro,
       CAST(COALESCE(passenger_count, 0) AS SMALLINT) AS pax,
       trip_distance AS dist, COALESCE(PULocationID, 0) AS pu_loc,
       COALESCE(DOLocationID, 0) AS do_loc, payment_type,
       fare_amount, total_amount,
       (epoch(tpep_dropoff_datetime) - epoch(tpep_pickup_datetime)) / 60.0 AS dur
FROM read_parquet('{input}/*.parquet')
WHERE tpep_pickup_datetime IS NOT NULL AND tpep_dropoff_datetime IS NOT NULL;
CREATE VIEW classified AS
SELECT *, CASE
    WHEN dur <= 0 THEN 'Durée invalide'
    WHEN NOT (dist BETWEEN 0.1 AND 100.0) THEN 'Distance hors limites'
    WHEN fare_amount <= 0 THEN 'Montant de course invalide'
    WHEN pax <= 0 THEN 'Passagers invalides'
    WHEN NOT COALESCE(round(dist / (dur / 60.0), 2) BETWEEN 1.0 AND 100.0, FALSE)
      THEN 'Vitesse irréaliste'
  END AS reason
FROM ext;
CREATE VIEW valid AS
SELECT DISTINCT ON (pu, dro) *, round(dist / (dur / 60.0), 2) AS spd
FROM classified WHERE reason IS NULL;
CREATE VIEW fact AS
SELECT *, (pax > 0 AND CAST(dist AS DECIMAL(8,2)) > 0 AND CAST(fare_amount AS DECIMAL(8,2)) > 0
           AND CAST(total_amount AS DECIMAL(8,2)) > 0 AND CAST(dur AS DECIMAL(8,2)) > 0
           AND CAST(spd AS DECIMAL(8,2)) > 0) AS ok
FROM valid WHERE payment_type BETWEEN 1 AND 4;
"""


def taxi_expected(input_dir: str) -> dict:
    """The pipeline's report and warehouse counts, from DuckDB."""
    con = duckdb.connect()

    def one(sql: str):
        return con.execute(sql).fetchone()[0]

    try:
        con.execute(_TAXI_CLASSIFIED.format(input=input_dir))
        valid = one("SELECT count(*) FROM valid")
        anomalies = one("SELECT count(*) FROM classified WHERE reason IS NOT NULL")
        breakdown = dict(con.execute(
            "SELECT reason, count(*) FROM classified WHERE reason IS NOT NULL GROUP BY 1").fetchall())
        return {
            "total_processed": valid + anomalies,
            "valid_count": valid,
            "anomaly_count": anomalies,
            "anomaly_breakdown": breakdown,
            "warehouse_counts": {
                "dim_time": one("SELECT count(DISTINCT pu) FROM valid"),
                "dim_location": one(
                    "SELECT count(*) FROM (SELECT pu_loc FROM valid UNION SELECT do_loc FROM valid)"),
                "dim_payment": one("SELECT count(DISTINCT payment_type) FROM fact"),
                "fact_trips": one("SELECT count(*) FROM fact WHERE ok"),
                "fact_trips_rejects": one("SELECT count(*) FROM fact WHERE NOT ok"),
            },
        }
    finally:
        con.close()


def check_taxi(report: dict, expected: dict, out_dir: str, warehouse: str) -> list[str]:
    """Report counts and on-disk sink/warehouse counts equal the oracle;
    every fact foreign key resolves."""
    bad = []
    for key in ("total_processed", "valid_count", "anomaly_count", "anomaly_breakdown",
                "warehouse_counts"):
        if report.get(key) != expected[key]:
            bad.append(f"taxi report {key}: {report.get(key)} != oracle {expected[key]}")
    con = duckdb.connect()
    try:
        def scan(path: str) -> str:
            return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"

        def count(relation: str) -> int:
            return con.execute(f"SELECT count(*) FROM {relation}").fetchone()[0]

        on_disk = {name: count(scan(f"{warehouse}/{name}")) for name in expected["warehouse_counts"]}
        if on_disk != expected["warehouse_counts"]:
            bad.append(f"taxi warehouse on disk {on_disk} != oracle {expected['warehouse_counts']}")
        n_valid = count(scan(f"{out_dir}/valid"))
        n_anom = count(f"read_parquet('{report.get('anomaly_output')}/*.parquet')")
        if (n_valid, n_anom) != (expected["valid_count"], expected["anomaly_count"]):
            bad.append(f"taxi sinks on disk valid={n_valid} anomalies={n_anom}")
        for fk, dim, pk in (("time_pk", "dim_time", "time_pk"),
                            ("pickup_loc_pk", "dim_location", "location_pk"),
                            ("dropoff_loc_pk", "dim_location", "location_pk"),
                            ("payment_pk", "dim_payment", "payment_pk")):
            dangling = count(f"{scan(f'{warehouse}/fact_trips')} f "
                             f"ANTI JOIN {scan(f'{warehouse}/{dim}')} d ON f.{fk} = d.{pk}")
            if dangling:
                bad.append(f"taxi fact_trips.{fk}: {dangling} rows do not resolve in {dim}")
    finally:
        con.close()
    return bad


# --------------------------------------------------------- dashboard --


def _cell(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "∅"
    if isinstance(v, float):
        return repr(round(v, 9))
    return str(v)


def canonical(cols: list[str], rows) -> tuple:
    """Order-insensitive canonical form: columns sorted by name, rows
    sorted, floats rounded to 9 digits."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return tuple(cols[i] for i in order), tuple(sorted(tuple(_cell(r[i]) for i in order) for r in rows))


def dashboard_expected(data_dir: str, oracle_sql: dict[str, str], names: list[str]) -> dict:
    con = duckdb.connect()
    try:
        for t in ("lineitem", "orders"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
        out = {}
        for name in names:
            cur = con.execute(oracle_sql[name])
            out[name] = canonical([d[0] for d in cur.description], cur.fetchall())
        return out
    finally:
        con.close()


# ---------------------------------------------------------- curation --


def curation_expected_keep(texts: list[str], pairs: list[tuple[int, int]]) -> set[int]:
    """Keep-list of the chain given its pair list: quality gate (>= 20
    tokens), exact dedup keeping the lowest id, then drop every non-root
    member of the pairs' connected components (root = min id)."""
    first: dict[str, int] = {}
    for i, t in enumerate(texts):
        if len(t.split(" ")) >= 20 and t not in first:
            first[t] = i
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.get(x, x) != x:
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i for i in first.values() if find(i) == i}


def knn_expected(vectors: np.ndarray, n_queries: int, k: int) -> list[list[tuple[int, float]]]:
    v = vectors.astype(np.float64)
    norms = np.sqrt((v * v).sum(axis=1))
    out = []
    for q in range(n_queries):
        cos = (v @ v[q]) / (norms * norms[q])
        cos[q] = -np.inf
        top = np.lexsort((np.arange(len(v)), -cos))[: k + 1]
        out.append([(int(i), float(cos[i])) for i in top])
    return out


def check_curation(truth: dict, keep: list[int], pairs: list[tuple[int, int, float]],
                   knn: list[tuple[int, int, float, int]], knn_truth, k: int) -> tuple[list[str], float]:
    """Returns (failures, recall of planted pairs at/above threshold)."""
    bad = []
    texts = truth["texts"]
    for a, b, j in pairs:
        exact = gen.jaccard(texts[a], texts[b])
        if exact < gen.JACCARD_THRESHOLD or abs(exact - j) > 1e-9:
            bad.append(f"curation pair ({a},{b}) jaccard {j} exact {exact}")
    found = {(a, b) for a, b, _ in pairs}
    want = [(a, b) for a, b, j in truth["planted"] if j >= gen.JACCARD_THRESHOLD]
    recall = sum(p in found for p in want) / len(want)
    expected_keep = curation_expected_keep(texts, [(a, b) for a, b, _ in pairs])
    if set(keep) != expected_keep or len(keep) != len(expected_keep):
        bad.append(f"curation keep-list: {len(keep)} ids, expected {len(expected_keep)}")
    got: dict[int, dict[int, tuple[int, float]]] = {}
    for qid, nid, cos, rnk in knn:
        got.setdefault(qid, {})[rnk] = (nid, cos)
    for q, ranked in enumerate(knn_truth):
        for r in range(k):
            nid, cos = ranked[r]
            # the neighbour may differ only where exact cosines tie
            tied = any(abs(cos - ranked[j][1]) < 1e-9 for j in (r - 1, r + 1) if j >= 0)
            g = got.get(q, {}).get(r + 1)
            if g is None or abs(g[1] - cos) > 1e-9 or (g[0] != nid and not tied):
                bad.append(f"knn query {q} rank {r + 1}: got {g}, expected {(nid, cos)}")
                break
    return bad, recall


def tree_bytes(*paths: str) -> int:
    """Bytes of all regular files under ``paths``."""
    total = 0
    for p in paths:
        for root, _, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total
