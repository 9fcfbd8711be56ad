"""Self-tests of the benchmark. Run from the repository root:

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

from perfbench import oracle, run, workloads
from perfbench.trace import Tracer, jobs_under, read_event_log, tagging_metrics
from perfbench.traced import EVENT_LOG_CONF
from perfbench.workloads import KG_RUN_ID, KgFull, digest_exprs, frame_digest, py_digest

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def test_same_seed_same_input(tmp_path):
    a = oracle.generate(600, 7, str(tmp_path / "a.parquet"))
    b = oracle.generate(600, 7, str(tmp_path / "b.parquet"))
    c = oracle.generate(600, 8, str(tmp_path / "c.parquet"))
    assert a.equals(b)
    assert not a.equals(c)
    assert oracle.input_properties(a) == oracle.input_properties(b)


def test_declared_metric_names():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [m["name"] for key in ("end_to_end", "per_layer") for m in spec[key]]
    names += [w["name"] for w in spec["workloads"]]
    assert len(names) == len(set(names))
    assert all(NAME_RE.match(n) for n in names), [n for n in names if not NAME_RE.match(n)]
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(run.WORKLOADS)
    assert {"setup_s", "wall_s", "items_per_s", "peak_rss_mb"} == {m["name"] for m in spec["end_to_end"]}


@pytest.fixture(scope="module")
def small_kg(tmp_path_factory):
    df = oracle.generate(900, 3, str(tmp_path_factory.mktemp("in") / "t.parquet"))
    return oracle.expected_outputs(df, procs=1)


def _publish(out_dir, stage, frame):
    from ner_spark.operators.manifest import stage_data_path

    path = stage_data_path(out_dir, KG_RUN_ID, stage)
    os.makedirs(path)
    frame.to_parquet(os.path.join(path, "part-0.parquet"), index=False)


def test_check_fails_when_one_row_is_dropped(tmp_path):
    kg = KgFull(3, str(tmp_path), 1)
    good, bad = str(tmp_path / "good"), str(tmp_path / "bad")
    for name in kg.want:
        frame = kg.expected[name]
        _publish(good, name, frame)
        _publish(bad, name, frame.iloc[1:] if name == "edges" else frame)
    assert kg.check(good)
    assert not kg.check(bad)
    triples = list(kg.expected["triples"].itertuples(index=False, name=None))
    assert py_digest(triples[1:]) != frame_digest(kg.expected["triples"])


def test_analytics_restatements_on_a_known_graph():
    rows = [("a", "p", "b", 1), ("b", "p", "c", 2), ("c", "p", "a", 1), ("c", "p", "d", 5)]
    assert oracle.triangle_count(rows) == [(1,)]
    assert sorted(oracle.k_core(rows)) == [("a",), ("b",), ("c",)]
    assert sorted(oracle.bfs_hops(rows, ["a"])) == [("a", 0), ("b", 1), ("c", 2), ("d", 3)]
    assert sorted(oracle.degree_stats(rows))[2] == ("c", 2, 1, 6, 2)
    assert dict(oracle.label_propagation(rows, iters=1))["d"] == "c"


def test_empty_checkout_fails_without_a_result(tmp_path):
    shutil.copy(os.path.join(run.ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(run.HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "extract", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert "correct" not in p.stdout


@pytest.fixture(scope="module")
def spark_with_log(tmp_path_factory):
    """A small session with the event log on; yields (spark, log dir)."""
    log_dir = str(tmp_path_factory.mktemp("eventlog"))
    os.environ.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    from ner_spark.session import get_spark

    spark = get_spark(extra_conf=dict(EVENT_LOG_CONF, **{"spark.eventLog.dir": "file://" + log_dir}))
    yield spark, log_dir
    workloads.shutdown(spark)


def test_spark_digest_matches_python_digest(spark_with_log, small_kg):
    spark, _ = spark_with_log
    for name in ("triples", "edges"):
        frame = small_kg[name]
        r = spark.createDataFrame(frame).agg(*digest_exprs(list(frame.columns))).collect()[0]
        assert (r["n"], r["a"], r["b"]) == frame_digest(frame)


def test_event_log_attributes_jobs_to_spans(spark_with_log):
    import pandas as pd

    spark, log_dir = spark_with_log
    tracer = Tracer(spark.sparkContext)

    def double(batches):
        for pdf in batches:
            yield pd.DataFrame({"v": pdf["id"] * 2})

    with tracer.span("rep.tiny") as rep:
        with tracer.span("tiny.python"):
            df = spark.range(0, 1000, numPartitions=4).repartitionByRange(4, "id")
            n = df.mapInPandas(double, "v long").count()
    assert n == 1000
    spark.stop()  # flushes and closes the event log

    log = read_event_log(log_dir)
    jobs = jobs_under(log, tracer, [rep])
    assert jobs and all(j["end"] is not None for j in jobs)
    m = tagging_metrics(jobs)
    assert m["ingest.partitions"] == 4
    assert m["tagging.stage_s"] > 0
    assert m["tagging.to_python_mb"] > 0 and m["tagging.from_python_mb"] > 0
    assert m["ingest.range_sample_s"] > 0
