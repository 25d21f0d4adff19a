"""The benchmark's workloads: closed loop, one client, one Spark session.

Each workload is a fixed, seeded sequence of operations (a *pass*)
against the public functions of ``big_data_tools_spark``. Every
operation's output is checked; an exception or a failed check counts
as a failed operation. The workload returns the wall time of each pass
and of each operation; ``run.py`` turns them into metrics.
"""

from __future__ import annotations

import os
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

from tracing import tree_cpu_s

# registry queries with DuckDB twins: short plans whose latency is
# planning, job/task launch and parquet scan
OLAP_QUERIES = [
    "order_rollup_flagship", "pricing_summary", "nation_product_profit",
    "topk_orders_per_customer", "events_props_extract", "purchase_last_click_asof",
]

# batch pipeline sizes
CDC_BASE_ROWS, CDC_BATCHES, CDC_BATCH_ROWS, CDC_BUCKETS = 20_000, 2, 500, 16
CORPUS_DOCS = 1_000
YELP_BUSINESSES = 400
OLAP_ORDERS = 5_000
WARMUP_PASSES = 2  # after one, CPU time per pass still fell ~15% over the next three
MIN_PASSES = 2

# the model's inputs: the planted signal, the categoricals, and a rollup of
# every fact table. featurize indexes each string column with its own
# jobs; all 14 of the basetable's would double its time
FEATURES = [
    "business_id", "label", "city", "state", "stars", "review_count",
    "attributes_RestaurantsDelivery", "attributes_RestaurantsTakeOut", "attributes_WiFi",
    "attributes_RestaurantsPriceRange2", "n_reviews", "avg_adjusted_rating",
    "checkin_count", "tip_count", "weekly_hours_open", "avg_reviewer_fans",
]

RECALL_FLOOR = 0.95  # planted near-duplicate pairs the minhash tier must find
AUC_FLOOR = 0.65  # test AUC every model must reach on the planted label signal


@dataclass
class Outcome:
    passes: list[float] = field(default_factory=list)
    cpu: list[float] = field(default_factory=list)  # CPU seconds of each pass
    ops: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    notes: list[str] = field(default_factory=list)


class Ops:
    """Runs operations under a span, counting attempts and failures.

    Output checks are deferred to :meth:`check`, so that the timed
    passes hold only the engine's work."""

    def __init__(self, tracer, outcome: Outcome):
        self.tracer = tracer
        self.out = outcome
        self.pending: list = []

    def _fail(self, err: str) -> None:
        self.out.failed += 1
        self.out.notes.append(err[:300])

    def run(self, name: str, fn, check=None):
        self.out.attempted += 1
        result = None
        with self.tracer.span(name) as sp:
            try:
                result = fn()
            except Exception as exc:  # noqa: BLE001 - every failure is counted
                traceback.print_exc()
                self._fail(f"{name}: {type(exc).__name__}: {exc}")
            else:
                if check is not None:
                    self.verify(lambda: check(result), name)
        self.out.ops.append(sp["dt"])
        return result

    def verify(self, check, name: str = "check") -> None:
        """Queue ``check()``: it returns None, or a failure message."""
        self.pending.append((name, check))

    def check(self) -> None:
        for name, check in self.pending:
            try:
                err = check()
            except Exception as exc:  # noqa: BLE001
                traceback.print_exc()
                err = f"{name} check: {type(exc).__name__}: {exc}"
            if err:
                self._fail(err)
        self.pending.clear()


def _rowset(cols, rows):
    from tests.oracle import rowset

    return rowset(list(cols), [tuple(r) for r in rows])


# --------------------------------------------------------------- olap_mix
def olap_inputs(root: str, seed: int) -> dict:
    from gen import tpch_tables

    return {"sizes": tpch_tables(root, seed, OLAP_ORDERS)}


def olap_mix(spark, tracer, data: str, seed: int, seconds: float) -> Outcome:
    from big_data_tools_spark.operators.cache import release_all_caches, release_caches
    from big_data_tools_spark.queries import all_queries
    from tests.oracle import duckdb_connect

    specs = all_queries()
    order = [OLAP_QUERIES[i] for i in np.random.default_rng([seed, 5]).permutation(
        len(OLAP_QUERIES))]
    con = duckdb_connect(data)
    expected = {}
    for name in order:
        cur = con.execute(specs[name].sql)
        expected[name] = _rowset([d[0] for d in cur.description], cur.fetchall())
    con.close()

    out = Outcome()
    ops = Ops(tracer, out)

    def one_query(name: str):
        spec = specs[name]
        with tracer.span("queries.build"):
            df = spec.fn(spark, data)
        if tracer.enabled:
            with tracer.span("queries.plan"):
                df._jdf.queryExecution().executedPlan()
        with tracer.span("queries.exec"):
            rows = df.collect()
        release_caches(df)
        release_all_caches()
        return df.columns, rows

    def check(name):
        return lambda res: None if _rowset(*res) == expected[name] else (
            f"{name}: result differs from its DuckDB twin")

    def one_pass(span: str) -> float:
        with tracer.span(span) as sp:
            for name in order:
                ops.run("queries.query", lambda: one_query(name), check(name))
        return sp["dt"]

    for _ in range(WARMUP_PASSES):  # JIT and file caches reach steady state
        one_pass("warmup")
    ops.check()
    out.ops.clear()
    t0 = time.perf_counter()
    while len(out.passes) < MIN_PASSES or time.perf_counter() - t0 < seconds:
        c0 = tree_cpu_s()
        out.passes.append(one_pass("measure"))
        out.cpu.append(tree_cpu_s() - c0)
        ops.check()
    return out


# -------------------------------------------------------- batch_pipelines
def batch_inputs(root: str, seed: int) -> dict:
    import duckdb

    from gen import CDC_COLS, cdc_stream, corpus_documents, yelp_tables

    cdc_stream(f"{root}/cdc", seed, CDC_BASE_ROWS, CDC_BATCHES, CDC_BATCH_ROWS)
    con = duckdb.connect()
    con.execute(f"CREATE TABLE t AS SELECT * FROM '{root}/cdc/base.parquet'")
    counts = []
    cols = ", ".join(CDC_COLS)
    for b in range(CDC_BATCHES):
        batch = f"'{root}/cdc/batch_{b:04d}.parquet'"
        con.execute(f"DELETE FROM t WHERE o_orderkey IN (SELECT o_orderkey FROM {batch})")
        con.execute(f"INSERT INTO t SELECT {cols} FROM {batch} WHERE NOT __deleted")
        counts.append(con.execute("SELECT count(*) FROM t").fetchone()[0])
    con.execute(f"COPY t TO '{root}/cdc/expected.parquet' (FORMAT PARQUET)")
    con.close()
    pairs = corpus_documents(f"{root}/corpus", seed, CORPUS_DOCS)
    yelp = yelp_tables(f"{root}/yelp", seed, YELP_BUSINESSES)
    return {"cdc_counts": counts, "planted_pairs": pairs, "yelp": yelp}


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs if f.endswith(".parquet"))


def batch_pipelines(spark, tracer, data: str, truth: dict, scratch: str,
                    seconds: float) -> Outcome:
    """The three batch jobs, in a fresh session, as a scheduler runs
    them: CDC ingest into a merge table, corpus curation, and the
    reference's basetable -> features -> models pipeline. Passes repeat,
    on fresh output directories, until ``seconds`` have elapsed; at the
    sizes here one cold pass already outlasts any run length."""
    out = Outcome()
    ops = Ops(tracer, out)
    t0 = time.perf_counter()
    while not out.passes or time.perf_counter() - t0 < seconds:
        run = f"{scratch}/pass{len(out.passes)}"
        c0 = tree_cpu_s()
        with tracer.span("measure") as sp:
            _ingest(spark, tracer, ops, data, truth, f"{run}/table")
            _curate(spark, tracer, ops, data, truth, f"{run}/corpus_out")
            _basetable_ml(spark, tracer, ops, data, truth, f"{run}/basetable")
        out.passes.append(sp["dt"])
        out.cpu.append(tree_cpu_s() - c0)
        ops.check()
    return out


def _ingest(spark, tracer, ops: Ops, data: str, truth: dict, root: str) -> None:
    from pyspark.sql import functions as F

    from big_data_tools_spark.io import mergetable as mt

    cdc = f"{data}/cdc"
    ops.run("io.mergetable.create", lambda: mt.create_table(
        spark, root, spark.read.parquet(f"{cdc}/base.parquet"), ["o_orderkey"],
        CDC_BUCKETS))

    def merge(batch: str, b: int):
        before = mt.read_manifest(root)
        return before, mt.merge_upsert(spark, root, spark.read.parquet(batch), batch_id=b)

    for b in range(CDC_BATCHES):
        batch = f"{cdc}/batch_{b:04d}.parquet"
        res = ops.run("io.mergetable.merge", lambda: merge(batch, b))
        if res is not None and tracer.enabled:
            before, m = res
            old = set(before["files"].values())
            tracer.count("merge.buckets_touched", len(m["touched_buckets"]))
            tracer.count("merge.buckets", m["n_buckets"])
            tracer.count("merge.bytes_rewritten", sum(
                _dir_bytes(f"{root}/{rel}") for rel in m["files"].values() if rel not in old))
            tracer.count("merge.bytes_changed", os.path.getsize(batch))
            tracer.count("merge.retries", m["version"] - before["version"] - 1)
        want = truth["cdc_counts"][b]
        ops.run("io.mergetable.read", lambda: mt.read_table(spark, root).agg(
            F.count(F.lit(1))).first()[0],
            lambda n, want=want, b=b: None if n == want else
            f"snapshot after batch {b}: {n} rows, replay has {want}")
    ops.run("io.mergetable.compact", lambda: mt.optimize_compact(spark, root))
    if tracer.enabled:
        m = mt.read_manifest(root)
        tracer.count("merge.live_files", sum(
            1 for rel in m["files"].values()
            for f in os.listdir(f"{root}/{rel}") if f.endswith(".parquet")))

    def final_snapshot_matches_replay():
        import duckdb

        df = mt.read_table(spark, root)
        got = _rowset(df.columns, df.collect())
        cur = duckdb.connect().execute(f"SELECT * FROM '{cdc}/expected.parquet'")
        want = _rowset([d[0] for d in cur.description], cur.fetchall())
        return None if got == want else "final snapshot differs from the DuckDB replay"

    ops.verify(final_snapshot_matches_replay, "ingest")


def _curate(spark, tracer, ops: Ops, data: str, truth: dict, out_dir: str) -> None:
    import duckdb

    from big_data_tools_spark.operators.cache import release_all_caches, release_caches
    from big_data_tools_spark.operators.dedup_facade import dedup
    from big_data_tools_spark.pipeline.corpus_build import build_corpus
    from big_data_tools_spark.queries import all_queries
    from tests.oracle import duckdb_connect

    corpus = f"{data}/corpus"
    planted = {tuple(p) for p in truth["planted_pairs"]}

    def pairs():
        p = dedup(spark.read.parquet(f"{corpus}/documents.parquet"),
                  tier="minhash", output="pairs")
        rows = p.select("id_a", "id_b").collect()
        release_caches(p)
        release_all_caches()
        return {(r[0], r[1]) for r in rows}

    def recall(found):
        hit = len(found & planted)
        if tracer.enabled:
            tracer.count("dedup.candidate_pairs", len(found))
            tracer.count("dedup.true_pairs", hit)
        r = hit / len(planted)
        return None if r >= RECALL_FLOOR else f"minhash recall {r:.3f} < {RECALL_FLOOR}"

    ops.run("operators.dedup", pairs, recall)

    def n_docs_matches(summary):
        if tracer.enabled:
            tracer.count("sinks.files_written", summary["n_files"])
            tracer.count("sinks.bytes_written", summary["total_bytes"])
        con = duckdb_connect(corpus)
        want = con.execute(
            f"SELECT sum(n_docs) FROM ({all_queries()['pretraining_corpus_pipeline'].sql})"
        ).fetchone()[0]
        con.close()
        return None if summary["n_docs"] == want else (
            f"manifest n_docs {summary['n_docs']} != DuckDB {want}")

    ops.run("pipeline.corpus_build",
            lambda: build_corpus(spark, corpus, out_dir, n_buckets=8), n_docs_matches)



def _basetable_ml(spark, tracer, ops: Ops, data: str, truth: dict, out_dir: str) -> None:
    from pyspark.sql import functions as F

    from big_data_tools_spark.ml import featurize, train_models
    from big_data_tools_spark.pipeline.yelp import build_basetable

    yelp = f"{data}/yelp"
    tables = ("business", "review", "checkin", "tip", "user", "covid")
    want = truth["yelp"]

    def basetable():
        build_basetable(**{t: spark.read.parquet(f"{yelp}/{t}.parquet") for t in tables}
                        ).select(*FEATURES).write.parquet(out_dir)
        return spark.read.parquet(out_dir)

    def rows_and_labels(bt):
        got = bt.agg(F.count(F.lit(1)), F.sum("label")).first()
        return None if (got[0], got[1]) == (want["rows"], want["label_sum"]) else (
            f"basetable has {got[0]} rows / label sum {got[1]}, generator "
            f"planted {want['rows']} / {want['label_sum']}")

    bt = ops.run("pipeline.yelp.basetable", basetable, rows_and_labels)
    if bt is None:
        return

    def features():
        train, test, _ = featurize(bt)
        train, test = train.cache(), test.cache()
        train.count(), test.count()
        return train, test

    split = ops.run("ml.featurize", features)
    if split is None:
        return

    def auc_floor(fits):
        if tracer.enabled:
            tracer.count("ml.fits", len(fits))
        low = [f"{f.name} {f.metrics['test_auc']:.3f}" for f in fits
               if not f.metrics["test_auc"] >= AUC_FLOOR]
        return f"test AUC below {AUC_FLOOR}: {', '.join(low)}" if low else None

    ops.run("ml.train_models", lambda: train_models(*split), auc_floor)
    for df in split:
        df.unpersist()
