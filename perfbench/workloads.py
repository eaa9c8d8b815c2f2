"""The three workloads. Each is a closed loop with one client: the next
op starts only after the previous one (and its untimed gate) finished.

A workload generates its inputs from the seed, writes them, computes
the oracle's expectations, and then runs ops through the engine's public
entry points. ``gate`` checks one op's result; ``install`` rebinds the
layer functions the traced run wraps.
"""

from __future__ import annotations

import os
import random
import shutil

import gen
import oracle


class Workload:
    name = ""
    #: ops run once in set-up, untimed, before the measured loop
    warmup_ops = 1
    #: ops the measured loop runs even when they overrun ``--seconds``,
    #: so every run's median is taken over the same number of ops
    min_ops = 3
    #: the measured loop ends only after a whole batch of ops, so every
    #: run measures the same op mix
    op_batch = 1
    #: units of work in one op (trips, queries, documents), for
    #: ``throughput_per_s``; set from the generated input where it varies
    items_per_op = 0

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.input_dir = os.path.join(work, "input")
        self.props: dict = {}
        self.input_bytes = 0

    def generate(self, seed: int) -> gen.Generated:
        raise NotImplementedError

    def prepare(self, g: gen.Generated) -> None:
        """Write the inputs (part of the timed set-up)."""
        if os.path.isdir(self.input_dir):
            shutil.rmtree(self.input_dir)
        self.input_bytes = gen.write_tables(g, self.input_dir)
        self.props = {**g.props, "bytes": self.input_bytes}

    def expect(self, g: gen.Generated) -> None:
        """Oracle expectations, untimed."""

    def install(self, tracer) -> None:
        """Rebind the layer functions this workload calls (traced run)."""

    def traced_extras(self, spark, tracer) -> None:
        """Extra traced measurements after the loop (traced run)."""

    def output_bytes(self) -> int:
        """Bytes the last op left in its sinks."""
        return 0

    def op(self, spark, tracer):
        raise NotImplementedError

    def before_op(self) -> None:
        """Untimed reset before each op."""

    def result_rows(self, result) -> int:
        """Rows the op returned or wrote."""
        raise NotImplementedError

    def gate(self, result) -> tuple[list[str], float]:
        """(failures, recall): recall is the share of expected results the
        op returned; for workloads whose result is exact it is 1 when
        the gate passes."""
        raise NotImplementedError


class TaxiEtl(Workload):
    """``etl.run_pipeline`` over seeded NYC-yellow-taxi Parquet: extract,
    transform (classify, dedup, report), five sinks and a star-schema
    warehouse of five tables."""

    name = "taxi_etl"
    min_ops = 2
    ROWS = 12_000
    FILES = 3

    def generate(self, seed):
        return gen.taxi_trips(seed, self.ROWS, self.FILES)

    def prepare(self, g):
        super().prepare(g)
        self.items_per_op = g.props["rows"]

    def expect(self, g):
        self.expected = oracle.taxi_expected(self.input_dir)

    def install(self, tracer):
        from nyc_taxi_etl_dashboard_spark import etl

        for stage in ("extract", "transform", "load"):
            tracer.patch(etl, stage, f"etl.{stage}")
        # etl binds the writers by name, so its globals are the call sites
        for writer in ("write_parquet", "write_parquet_timestamped"):
            tracer.patch(etl, writer, f"sources.writers.{writer}")

    def op(self, spark, tracer):
        from nyc_taxi_etl_dashboard_spark import etl

        out, wh = os.path.join(self.work, "out"), os.path.join(self.work, "warehouse")
        return etl.run_pipeline(spark, self.input_dir, out, wh)

    def before_op(self):
        for d in ("out", "warehouse"):
            shutil.rmtree(os.path.join(self.work, d), ignore_errors=True)

    def result_rows(self, report):
        return report["total_processed"] + sum(report["warehouse_counts"].values())

    def gate(self, report):
        bad = oracle.check_taxi(report, self.expected, os.path.join(self.work, "out"),
                                os.path.join(self.work, "warehouse"))
        return bad, 0.0 if bad else 1.0

    def output_bytes(self) -> int:
        return oracle.tree_bytes(os.path.join(self.work, "out"), os.path.join(self.work, "warehouse"))


DASHBOARD_QUERIES = [
    "a6_total_trips", "a10_daily_avg_revenue", "a11_median_distance", "a12_kpi_ratios",
    "a13_revenue_by_payment", "a14_passengers_by_period", "a15_fare_histogram",
    "a16_revenue_by_location", "a17_calendar_rollup", "w1_top3_locations_per_period",
    "p9_sliced_trips",
]


class DashboardKpis(Workload):
    """Power BI page refreshes: the eleven dashboard visuals of the
    ``__spark_entry__.queries()`` registry in a seeded shuffled order per
    page, each collected to completion. One op is one query."""

    name = "dashboard_kpis"
    ORDERS = 7_500
    warmup_ops = min_ops = op_batch = len(DASHBOARD_QUERIES)
    items_per_op = 1

    def __init__(self, seed, work):
        super().__init__(seed, work)
        self._rng = random.Random(seed)
        self._page: list[str] = []

    def generate(self, seed):
        return gen.tpch(seed, self.ORDERS)

    def expect(self, g):
        import __spark_entry__

        self.queries = __spark_entry__.queries()
        self.expected = oracle.dashboard_expected(self.input_dir, __spark_entry__.oracle_sql(),
                                                  DASHBOARD_QUERIES)

    def install(self, tracer):
        from nyc_taxi_etl_dashboard_spark.plans import dashboard

        # every visual re-derives the transform through this binding
        tracer.patch(dashboard, "transform", "plans.pipeline.transform")

    def op(self, spark, tracer):
        if not self._page:
            self._page = list(DASHBOARD_QUERIES)
            self._rng.shuffle(self._page)
        name = self._page.pop()
        with tracer.span("plans.dashboard.query"):
            df = self.queries[name](spark, self.input_dir)
            return name, df.columns, df.collect()

    def result_rows(self, result):
        return len(result[2])

    def gate(self, result):
        name, cols, rows = result
        if oracle.canonical(cols, [tuple(r) for r in rows]) != self.expected[name]:
            return [f"dashboard {name}: result differs from oracle_sql ({len(rows)} rows)"], 0.0
        return [], 1.0

    def traced_extras(self, spark, tracer):
        """The shared derivation alone, three times: ``plans.pipeline.
        transform``'s valid branch written to the no-op sink."""
        from nyc_taxi_etl_dashboard_spark.plans import pipeline

        for _ in range(3):
            spark.catalog.clearCache()
            with tracer.span("plans.pipeline.transform_materialized"):
                valid, _ = pipeline.transform(spark, self.input_dir, persist=False)
                valid.write.format("noop").mode("overwrite").save()


class CorpusCuration(Workload):
    """The text dedup chain (quality gate, fingerprint exact dedup,
    MinHash-LSH pairs at Jaccard 0.8, connected components, keep-list),
    then exact k-NN for a fixed query batch over clustered embeddings."""

    name = "corpus_curation"
    DOCS = 3_000
    VECTORS = 3_000
    K = 10

    def generate(self, seed):
        return gen.corpus(seed, self.DOCS, self.VECTORS)

    def prepare(self, g):
        super().prepare(g)
        self.items_per_op = g.props["docs"]
        self.truth = g.truth

    def expect(self, g):
        self.knn_truth = oracle.knn_expected(g.truth["vectors"], g.truth["n_queries"], self.K)

    def install(self, tracer):
        from nyc_taxi_etl_dashboard_spark.operators import dedup

        for fn in ("dedup_keep_first", "minhash_lsh_pairs", "connected_components"):
            tracer.patch(dedup, fn, f"operators.dedup.{fn}")

    def op(self, spark, tracer):
        from pyspark.sql import functions as F

        from nyc_taxi_etl_dashboard_spark.functions import poly_fingerprint
        from nyc_taxi_etl_dashboard_spark.operators import dedup, scale_out, scoped_persist, similarity
        from nyc_taxi_etl_dashboard_spark.operators.text import tokens

        docs = scale_out(spark.read.parquet(f"{self.input_dir}/documents.parquet"))
        quality = docs.filter(F.array_size(F.split("text", " ")) >= 20).select("doc_id", "text")
        fp = quality.withColumn("fp", poly_fingerprint(tokens("text")))
        kept = scoped_persist(dedup.dedup_keep_first(fp, ["fp"], ["doc_id"]).select("doc_id", "text"))
        pairs = dedup.minhash_lsh_pairs(kept, threshold=gen.JACCARD_THRESHOLD, unpersist_after=True)
        clusters = dedup.connected_components(pairs)
        dropped = clusters.filter(F.col("id") != F.col("cluster_id")).select(F.col("id").alias("doc_id"))
        keep = [r.doc_id for r in kept.join(dropped, "doc_id", "left_anti").select("doc_id").collect()]
        pair_rows = [(r.id_a, r.id_b, r.jaccard) for r in pairs.collect()]
        emb = scale_out(spark.read.parquet(f"{self.input_dir}/embeddings.parquet"))
        with tracer.span("operators.similarity.knn_bruteforce"):
            queries = emb.filter(F.col("vec_id") < self.truth["n_queries"])
            knn = [(r.query_id, r.neighbor_id, r.cosine, r.rnk)
                   for r in similarity.knn_bruteforce(emb, queries, k=self.K).collect()]
        return keep, pair_rows, knn

    def result_rows(self, result):
        return sum(len(part) for part in result)

    def gate(self, result):
        keep, pairs, knn = result
        return oracle.check_curation(self.truth, keep, pairs, knn, self.knn_truth, self.K)


WORKLOADS = {w.name: w for w in (TaxiEtl, DashboardKpis, CorpusCuration)}
