"""The benchmark's own tests.  Run from the repository root:

    python3 -m pytest perfbench -q -p no:cacheprovider

The tiny-size passes start one Spark process per case (about half a
minute each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT, os.path.join(ROOT, "tools")]

import datagen  # noqa: E402
import workloads  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def _inputs(seed: int) -> list[str]:
    day, _ = datagen.crawl_day(seed, 1, "2024-03-02", 500)
    docs = datagen.documents(200, seed)
    return [
        datagen.digest(day),
        datagen.digest(datagen.trends_csv("2024-03-02", seed)),
        datagen.digest(*datagen.ingest_plan(docs, 4, seed)),
        datagen.digest(datagen.corpus_tables(100, seed)["embeddings"]),
    ]


def test_same_seed_same_inputs():
    assert _inputs(3) == _inputs(3)


def test_different_seed_different_inputs():
    a, b = _inputs(3), _inputs(4)
    assert all(x != y for x, y in zip(a, b))


def test_crawl_day_expected_ids():
    day, valid = datagen.crawl_day(5, 2, "2024-03-03", 1000)
    ids = [i for i in day.column("product_id").to_pylist() if i is not None]
    assert valid < set(ids)  # unparseable-price rows carry extra ids
    assert len(ids) > len(set(ids))  # duplicate crawl rows
    assert None in day.column("product_id").to_pylist()
    assert "Liên hệ" in day.column("price").to_pylist()
    _, valid_next = datagen.crawl_day(5, 3, "2024-03-04", 1000)
    assert valid < valid_next  # the catalog grows every day


def test_ingest_plan_plants_duplicates():
    docs = datagen.documents(200, 9)
    batches = datagen.ingest_plan(docs, 4, 9)
    texts = [t for b in batches for t in b.column("text").to_pylist()]
    ids = [i for b in batches for i in b.column("doc_id").to_pylist()]
    assert len(ids) == len(set(ids))
    assert len(texts) > len(set(texts))  # exact re-plants


def test_spec_matches_the_harness():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert {w["name"] for w in SPEC["workloads"]} == set(workloads.WORKLOADS)
    assert all(0 < m["bound"] <= 0.25 for m in SPEC["end_to_end"])
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert all(m["bound"] < setup["bound"] for m in SPEC["end_to_end"] if m is not setup)


def _run(args, cwd=ROOT, timeout=600):
    cmd = [sys.executable, "perfbench/run.py"] + args
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=timeout)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_tiny_pass_emits_every_metric(workload, trace):
    res = _run(["--workload", workload, "--seed", "7", "--seconds", "0", "--trace", str(trace), "--tiny"])
    assert res.returncode == 0, res.stderr[-3000:]
    out = json.loads(res.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0, res.stderr[-3000:]
    assert out["attempted"] >= 1
    spec = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {m["name"]: m["unit"] for m in spec}
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_tmp"))


def test_without_the_program_it_fails_fast(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    res = _run(["--workload", "curation_queries", "--seed", "1", "--seconds", "1", "--trace", "0"], cwd=tmp_path, timeout=180)
    assert res.returncode != 0
    assert res.stdout.strip() == ""


def test_recorded_hash_matches_twin(tmp_path):
    """The recorded quality_report hashes come from runs that passed
    the DuckDB twin; re-derive them against the twin."""
    import duckdb
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry
    import check
    from tiki_e_commerce_analytics_etl_spark.session import configure

    os.environ["PYTHONPATH"] = ROOT
    spark = (
        configure(SparkSession.builder.master("local[4]"))
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "4")
        .getOrCreate()
    )
    sf = str(tmp_path)
    tables = datagen.corpus_tables(workloads.N_DOCS, workloads.DATA_SEED)
    datagen.write_tables(tables, sf)
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    for name, digest in json.load(open(workloads.RECORDED)).items():
        pdf = entry.queries()[name](spark, sf).toPandas()
        assert check.compare(name, pdf, con.sql(entry.oracle_sql()[name]).df()) == []
        assert workloads.result_hash(pdf) == digest
