"""The three benchmark workloads.

Each workload lands its seeded inputs under the run's temporary root,
warms up and checks outputs during set-up, and then hands the harness
one *pass* at a time: a list of (name, callable) operations.  A pass is
the workload's fixed unit of timed work:

- ``dag_days``: the next business day through the four daily DAGs,
  into one warehouse that keeps growing from day to day;
- ``curation_queries``: every query once, in the seeded order;
- ``ingest_chain``: 8 batches into a fresh ``IngestStore``.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil
import time

import numpy as np

import datagen
import probes

CURATION = [
    "minhash_pairs",
    "neardup_clusters",
    "exact_substring_pairs_capped",
    "curation_pipeline",
    "curation_report",
    "quality_report",
    "kn_trigram_lm",
    "bpe_merges",
]
# The queries read one fixed corpus (the seed fixes the query order), so
# a twin that is too slow to run every time can be checked against a
# result hash recorded from a run that passed that twin.
DATA_SEED = 20240301
N_DOCS = 500
RECORDED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "recorded_hashes.json")
LAND_REPEATS = 3


def result_hash(pdf) -> str:
    """Order-insensitive hash of a result frame (tools/check.py's
    canonical form; floats to 12 significant digits)."""
    import check

    canon = check.canon(pdf)
    h = hashlib.sha256(",".join(canon.columns).encode())
    for row in canon.itertuples(index=False):
        h.update(
            "|".join(f"{v:.12g}" if isinstance(v, float) else repr(v) for v in row).encode()
        )
    return h.hexdigest()


def _timed(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


class Workload:
    name = ""
    pass_unit = ""

    def __init__(self, bench) -> None:
        self.b = bench
        self.spark = bench.spark
        self.failures: list[str] = []
        self.digest = ""

    def land(self) -> None:
        raise NotImplementedError

    def setup(self) -> None:
        """Land the inputs LAND_REPEATS times (the median landing time
        is what set-up reports for this part), then warm up and check."""
        self.land_times = [_timed(self.land) for _ in range(LAND_REPEATS)]
        self.warm()

    def warm(self) -> None:
        pass

    def ops(self, pass_no: int) -> list[tuple[str, object]]:
        raise NotImplementedError

    def after_op(self) -> bool:
        """Untimed output check of the operation that just ran."""
        return True

    def after_pass(self, pass_no: int) -> bool:
        """Untimed output check of the pass that just ran."""
        return True

    def trace_patches(self, tracer) -> None:
        pass

    def per_layer(self, traced_ops: list[dict]) -> dict[str, float]:
        return {}

    def stored(self) -> tuple[int, int]:
        """(on-disk bytes, rows in the live snapshots) for store.bytes_per_row."""
        return 0, 0


# ------------------------------------------------------- curation queries


class CurationQueries(Workload):
    name = "curation_queries"
    pass_unit = "every query once"

    def land(self) -> None:
        self.sf_dir = os.path.join(self.b.tmp, "sf")
        shutil.rmtree(self.sf_dir, ignore_errors=True)
        self.tables = datagen.corpus_tables(N_DOCS, DATA_SEED)
        datagen.write_tables(self.tables, self.sf_dir)
        rng = np.random.default_rng(self.b.seed)
        self.order = [CURATION[i] for i in rng.permutation(len(CURATION))]
        self.digest = datagen.digest(*(self.tables[k] for k in sorted(self.tables)), self.order)

    def warm(self) -> None:
        """One execution of every query, collected and compared with its
        DuckDB twin (or its recorded hash) — the untimed output check."""
        import duckdb

        import __spark_entry__ as entry
        import check

        self.queries = entry.queries()
        oracles = entry.oracle_sql()
        with open(RECORDED) as f:
            recorded = json.load(f)
        con = duckdb.connect()
        for t in self.tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        self.bad: set[str] = set()
        for name in self.order:
            try:
                pdf = self.queries[name](self.spark, self.sf_dir).toPandas()
                # A recorded hash only saves running a slow twin; on a
                # mismatch the twin decides.
                if recorded.get(name) == result_hash(pdf):
                    problems = []
                else:
                    problems = check.compare(name, pdf, con.sql(oracles[name]).df())
            except Exception as e:  # noqa: BLE001
                problems = [f"error: {e}"]
            self.spark.catalog.clearCache()
            if problems:
                self.bad.add(name)
                self.failures.append(f"{name}: " + "; ".join(problems))
        con.close()

    def ops(self, pass_no: int):
        return [(name, self._op(name)) for name in self.order]

    def _op(self, name: str):
        fn = self.queries[name]

        def run() -> bool:
            t0 = time.perf_counter()
            with self.b.span("query.build"):
                df = fn(self.spark, self.sf_dir)
            t1 = time.perf_counter()
            with self.b.span("query.exec"):
                df.write.format("noop").mode("overwrite").save()
            self.b.note(build_s=t1 - t0, exec_s=time.perf_counter() - t1)
            self.spark.catalog.clearCache()
            return name not in self.bad

        return run

    def per_layer(self, traced_ops):
        build = sum(o.get("build_s", 0.0) for o in traced_ops)
        exe = sum(o.get("exec_s", 0.0) for o in traced_ops)
        n = max(1, len(traced_ops))
        return {
            "query.build_s": build / n,
            "query.exec_s": exe / n,
            "query.build_share": build / (build + exe) if build + exe else 0.0,
        }


# -------------------------------------------------------------- dag days

DAG_TASKS = {
    "tiki_etl_pipeline": ["crawl_tiki_products", "transform_to_parquet", "load_to_bigquery"],
    "trends_pipeline": ["fetch_trends_data", "transform_trends_data", "load_to_staging", "merge_to_fact"],
    "fx_pipeline": ["transform_fx_data", "load_to_bigquery"],
    "analytics_pipeline": ["build_daily_mart", "check_data_quality"],
}


class DagDays(Workload):
    name = "dag_days"
    pass_unit = "one business day"
    first_day = dt.date(2024, 3, 1)

    def __init__(self, bench) -> None:
        super().__init__(bench)
        self.rows_per_day = 2_000 if bench.tiny else 20_000
        self.max_days = 3 if bench.tiny else 5
        self.root = os.path.join(bench.tmp, "dag")
        self.day_results: list[dict] = []

    def ds(self, day: int) -> str:
        return (self.first_day + dt.timedelta(days=day)).isoformat()

    def land(self) -> None:
        shutil.rmtree(os.path.join(self.root, "inputs"), ignore_errors=True)
        inputs = os.path.join(self.root, "inputs")
        os.makedirs(inputs)
        import pyarrow.parquet as pq

        self.expected: list[set[int]] = []
        parts = []
        for day in range(self.max_days):
            rows, valid = datagen.crawl_day(self.b.seed, day, self.ds(day), self.rows_per_day)
            pq.write_table(rows, os.path.join(inputs, f"crawl-{day}.parquet"))
            csv = datagen.trends_csv(self.ds(day), self.b.seed)
            with open(os.path.join(inputs, f"trends-{day}.csv"), "w") as f:
                f.write(csv)
            self.expected.append(valid)
            parts += [rows, csv]
        km = datagen.keyword_mapping()
        pq.write_table(km, os.path.join(inputs, "keyword_mapping.parquet"))
        self.digest = datagen.digest(*parts, km)

    def warm(self) -> None:
        from tiki_e_commerce_analytics_etl_spark.pipelines import dags

        self.dags = dags
        shutil.rmtree(os.path.join(self.root, "data"), ignore_errors=True)
        shutil.rmtree(os.path.join(self.root, "state"), ignore_errors=True)
        self.next_day = 0
        self._run_day()  # the untimed bootstrap day
        self.after_op()

    def _params(self, day: int) -> dict:
        inputs = os.path.join(self.root, "inputs")
        spark_read = lambda spark, ds: spark.read.parquet(os.path.join(inputs, f"crawl-{day}.parquet"))  # noqa: E731
        return {
            "data_dir": os.path.join(self.root, "data"),
            "crawl_source": spark_read,
            "keywords": list(datagen.KEYWORDS),
            "trends_csv_path": os.path.join(inputs, f"trends-{day}.csv"),
            "keyword_mapping_path": os.path.join(inputs, "keyword_mapping.parquet"),
        }

    def _run_day(self) -> bool:
        day = self.next_day
        self.next_day += 1
        ds, params = self.ds(day), self._params(day)
        state = os.path.join(self.root, "state")
        record = {"day": day, "pipelines": {}}
        ok = True
        for make in (self.dags.tiki_pipeline, self.dags.trends_pipeline, self.dags.fx_pipeline, self.dags.analytics_pipeline):
            p = make(state)
            t = time.perf_counter()
            results = p.run(ds, spark=self.spark, params=params, max_workers=1)
            wall = time.perf_counter() - t
            record["pipelines"][p.name] = {"wall": wall, "tasks": {k: (v.state, v.attempts, v.duration) for k, v in results.items()}}
            bad = [k for k, v in results.items() if v.state != "success"]
            if bad:
                ok = False
                self.failures.append(f"day {ds} {p.name}: tasks not successful: {bad}")
        self.day_results.append(record)
        self.b.note(day_index=len(self.day_results) - 1)
        return ok

    def ops(self, pass_no: int):
        if self.next_day >= self.max_days:
            return []
        return [(f"day-{self.next_day}", self._run_day)]

    def after_op(self) -> bool:
        """Fact rows of the day and dim_products rows must equal the
        distinct valid product ids the generator produced."""
        from tiki_e_commerce_analytics_etl_spark import acid

        day = self.next_day - 1
        wh = os.path.join(self.root, "data", "warehouse")
        fact = acid.read_atomic(self.spark, os.path.join(wh, "fact_daily_snapshot")).filter(
            f"snapshot_date = DATE'{self.ds(day)}'"
        )
        got_fact = fact.count()
        got_ids = fact.select("product_id").distinct().count()
        want = len(self.expected[day])
        dim = acid.snapshot_row_count(os.path.join(wh, "dim_products"))
        want_dim = len(set().union(*self.expected[: day + 1]))
        if got_fact != want or got_ids != want or dim != want_dim:
            self.failures.append(
                f"day {self.ds(day)}: fact rows {got_fact} ({got_ids} ids), dim_products {dim}; "
                f"expected {want} and {want_dim}"
            )
            return False
        return True

    def trace_patches(self, tracer) -> None:
        from tiki_e_commerce_analytics_etl_spark.plans import golden_join, snapshot, trends
        from tiki_e_commerce_analytics_etl_spark.sources import trends_csv

        tracer.patch(snapshot, "read_raw", "sources.read_raw")
        tracer.patch(snapshot, "transform_snapshot", "plans.snapshot")
        tracer.patch(golden_join, "golden_join", "plans.golden_join")
        tracer.patch(trends, "transform_trends", "plans.trends")
        tracer.patch(trends_csv, "read_trends_csv", "sources.trends_csv")
        tracer.patch(self.dags, "merge_upsert", "operators.merge")
        tracer.patch(self.dags, "run_checks", "operators.checks")
        self.b.patch_acid(tracer, os.path.join(self.root, "data", "warehouse"))

    def per_layer(self, traced_ops):
        days = [self.day_results[o["day_index"]] for o in traced_ops if "day_index" in o]
        n = max(1, len(days))
        out = {}
        attempts = overhead = 0.0
        for pipe, tasks in DAG_TASKS.items():
            for task in tasks:
                out[f"runner.task_s.{pipe}.{task}"] = sum(d["pipelines"][pipe]["tasks"][task][2] for d in days) / n
        for d in days:
            for rec in d["pipelines"].values():
                attempts += sum(t[1] for t in rec["tasks"].values())
                overhead += rec["wall"] - sum(t[2] for t in rec["tasks"].values())
        out["runner.attempts"] = attempts / n
        out["runner.overhead_s"] = overhead / n
        return out

    def stored(self):
        from tiki_e_commerce_analytics_etl_spark import acid

        wh = os.path.join(self.root, "data", "warehouse")
        rows = 0
        for t in sorted(os.listdir(wh)):
            rows += acid.snapshot_row_count(os.path.join(wh, t)) or 0
        return probes.tree_stats(wh)[1], rows


# ----------------------------------------------------------- ingest chain

ROTATION = ("ingest_batch_lm", "ingest_batch_neardup", "ingest_batch_substring", "ingest_batch")
INGEST_TABLES = ("corpus", "hashes", "bloom", "bands", "anchors", "ngrams")
WARM_ROWS = 12


class IngestChain(Workload):
    name = "ingest_chain"
    pass_unit = "batches into a fresh store"

    def __init__(self, bench) -> None:
        super().__init__(bench)
        self.n_docs = 160 if bench.tiny else 400
        self.n_batches = 4 if bench.tiny else 8
        self.root = os.path.join(bench.tmp, "ingest")
        self.pass_stats: list[dict] = []
        self.last_root: str | None = None  # the store of the last timed pass

    def land(self) -> None:
        import pyarrow.parquet as pq

        shutil.rmtree(os.path.join(self.root, "batches"), ignore_errors=True)
        os.makedirs(os.path.join(self.root, "batches"))
        docs = datagen.documents(self.n_docs, self.b.seed)
        batches = datagen.ingest_plan(docs, self.n_batches, self.b.seed)
        self.batch_paths = []
        for i, t in enumerate(batches):
            p = os.path.join(self.root, "batches", f"b{i}.parquet")
            pq.write_table(t, p)
            self.batch_paths.append(p)
        self.offered = [t.num_rows for t in batches]
        self.digest = datagen.digest(*batches)

    def warm(self) -> None:
        from tiki_e_commerce_analytics_etl_spark.pipelines import ingest

        self.ingest = ingest
        self.store = None
        self.store_no = -1
        self.ops(-1)
        for i in range(len(ROTATION)):  # every entry point once, on small batches
            self._op(i, limit=WARM_ROWS)()
        self.after_pass(-1)

    def ops(self, pass_no: int):
        self.store_no += 1
        root = os.path.join(self.root, f"store-{self.store_no}")
        shutil.rmtree(root, ignore_errors=True)
        self.store = self.ingest.IngestStore(root)
        self.results: list[dict] = []
        return [(f"batch-{i}", self._op(i)) for i in range(self.n_batches)]

    def _op(self, i: int, limit: int | None = None):
        entry = ROTATION[i % len(ROTATION)]

        def run() -> bool:
            fn = getattr(self.ingest, entry)
            batch = self.spark.read.parquet(self.batch_paths[i])
            if limit:
                batch = batch.orderBy("doc_id").limit(limit)
            with self.b.span(f"ingest.{entry}"):
                res = fn(self.spark, self.store, batch, batch_id=i + 1)
            self.b.note(entry=entry)
            self.results.append(res)
            return "admitted" in res

        return run

    def after_pass(self, pass_no: int) -> bool:
        """Corpus rows == Σ admitted, distinct hashes, and replaying an
        earlier batch is a no-op."""
        from pyspark.sql import functions as F

        from tiki_e_commerce_analytics_etl_spark import acid

        spark, store = self.spark, self.store
        admitted = sum(r.get("admitted", 0) for r in self.results)
        corpus = acid.read_atomic(spark, store.corpus).count()
        hashes = acid.read_atomic(spark, store.hashes)
        n_h, n_distinct = hashes.agg(F.count("*"), F.countDistinct("content_hash")).first()
        replay = self.ingest.ingest_batch(spark, store, spark.read.parquet(self.batch_paths[0]), batch_id=1)
        problems = []
        if corpus != admitted:
            problems.append(f"corpus rows {corpus} != admitted {admitted}")
        if n_h != n_distinct:
            problems.append(f"{n_h - n_distinct} duplicate hashes")
        if replay != {"replay_skipped": True}:
            problems.append(f"replay returned {replay}")
        if problems:
            self.failures.append(f"store {self.store_no}: " + "; ".join(problems))
        self.pass_stats.append(
            {
                "admitted": admitted,
                "offered": sum(self.offered[: len(self.results)]),
                "files": {t: probes.tree_stats(getattr(store, t))[0] for t in INGEST_TABLES},
            }
        )
        if pass_no >= 0:
            self.last_root = os.path.dirname(store.corpus)
        self.spark.catalog.clearCache()
        return not problems

    def trace_patches(self, tracer) -> None:
        self.b.patch_acid(tracer, self.root)

    def per_layer(self, traced_ops):
        out = {}
        for entry in ROTATION:
            xs = [o["wall"] for o in traced_ops if o.get("entry") == entry]
            out[f"ingest.batch_s.{entry}"] = probes.median(xs)
        # growth: mean latency of the last rotation over the first, per pass
        growth = []
        k = len(ROTATION)
        by_pass: dict[int, list[float]] = {}
        for o in traced_ops:
            by_pass.setdefault(o["pass"], []).append(o["wall"])
        for walls in by_pass.values():
            if len(walls) >= 2 * k:
                growth.append(sum(walls[-k:]) / sum(walls[:k]))
        out["ingest.growth"] = probes.median(growth)
        stats = self.pass_stats[1:]  # the first is the warm-up store
        offered = sum(s["offered"] for s in stats)
        admitted = sum(s["admitted"] for s in stats)
        out["ingest.admit_ratio"] = admitted / offered if offered else 0.0
        out["ingest.rejected"] = (offered - admitted) / max(1, len(stats))
        last = stats[-1]["files"] if stats else {}
        for t in INGEST_TABLES:
            out[f"ingest.files.{t}"] = float(last.get(t, 0))
        return out

    def stored(self):
        from tiki_e_commerce_analytics_etl_spark import acid

        if self.last_root is None:
            return 0, 0
        rows = acid.snapshot_row_count(os.path.join(self.last_root, "corpus")) or 0
        return probes.tree_stats(self.last_root)[1], rows


WORKLOADS = {w.name: w for w in (DagDays, CurationQueries, IngestChain)}
