"""Self-tests of the benchmark (no Spark needed):

    python3 -m pytest perfbench -q

``python3 perfbench/test_perfbench.py`` re-captures the small event-log
fixture these tests parse (it needs Spark and the package).
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import gen  # noqa: E402
import ledger  # noqa: E402
import run  # noqa: E402

FIXTURE = os.path.join(HERE, "testdata", "small_eventlog.jsonl")
FIXTURE_PASSES = os.path.join(HERE, "testdata", "small_passes.json")


def _benchmark_json() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_same_seed_same_digest_other_seed_differs():
    a = gen.digest_columns(gen.experiment_columns(3, 2000))
    b = gen.digest_columns(gen.experiment_columns(3, 2000))
    c = gen.digest_columns(gen.experiment_columns(4, 2000))
    assert a == b != c
    ids1, texts1, planted1 = gen.corpus_docs(3, 300)
    ids2, texts2, planted2 = gen.corpus_docs(3, 300)
    _, texts3, _ = gen.corpus_docs(4, 300)
    assert (ids1, texts1, planted1) == (ids2, texts2, planted2)
    assert texts1 != texts3


def test_materialize_caches_by_key(tmp_path):
    m1 = gen.materialize("experiment", 5, 1000, str(tmp_path))
    m2 = gen.materialize("experiment", 5, 1000, str(tmp_path))
    assert m1 == m2 and m1["rows"] == 1000
    files = os.listdir(m1["data"])
    assert len(files) == gen.n_files()


def test_planted_pairs_have_exact_jaccard():
    ids, texts, planted = gen.corpus_docs(7, 400)
    by_id = dict(zip(ids, texts))
    assert planted
    for a, b, j in planted:
        assert a < b
        assert j == gen.jaccard(by_id[a], by_id[b])


def test_tail_has_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]
    value, pct, n = run.tail(xs)
    assert n == 100 and pct == 90.0
    assert sum(1 for x in xs if x > value) >= 10
    assert run.tail([1.0, 2.0, 3.0]) == (3.0, 100.0, 3)


def test_union_ms():
    assert eventlog.union_ms([(0, 10), (5, 20), (30, 40)]) == 30
    assert eventlog.union_ms([]) == 0


@pytest.fixture(scope="module")
def captured():
    with open(FIXTURE_PASSES) as fh:
        passes = json.load(fh)
    return eventlog.parse(FIXTURE), passes


def test_parser_on_captured_log(captured):
    log, passes = captured
    assert len(log.jobs) == passes["expect"]["jobs"]
    assert all(j.end_ms >= j.submit_ms for j in log.jobs)
    assert log.tasks and log.sql_starts
    tot = eventlog.window(log, 0, float("inf"))
    assert tot["input_rows"] >= passes["rows"]        # at least one scan
    assert tot["shuffle_write_bytes"] > 0
    assert tot["n_jobs"] == len(log.jobs)


def test_metric_names_match_benchmark_json(captured):
    spec = _benchmark_json()
    log, passes = captured
    traced = passes["traced"]
    metrics, _ = ledger.layer_metrics(log, passes["plain"], traced,
                                      passes["rows"], 4, paired=False)
    assert sorted(metrics) == sorted(m["name"] for m in spec["per_layer"])
    for m in spec["per_layer"]:
        assert metrics[m["name"]]["unit"] == m["unit"]
    e2e, _ = run.end_to_end_metrics(1.0, traced, passes["rows"], 100.0)
    assert sorted(e2e) == sorted(m["name"] for m in spec["end_to_end"])
    for m in spec["end_to_end"]:
        assert e2e[m["name"]]["unit"] == m["unit"]
    assert all(w["name"] in run.WORKLOADS for w in spec["workloads"])


def test_gap_plus_jobs_accounts_for_pass(captured):
    log, passes = captured
    for p in passes["traced"]:
        pl = ledger.pass_ledger(log, p, passes["rows"], 4)
        calls = sum(c["wall_s"] for c in p["calls"])
        assert pl["driver.gap_s"] + pl["spark.job_s"] == \
            pytest.approx(calls, rel=1e-9)
        assert pl["spark.jobs"] > 0


def _capture() -> None:
    """Run three ab calls on a 1000-row table with the event-log tap on,
    and keep the event types the parser reads, stripped of plans, call
    sites and properties, as the fixture."""
    import shutil
    import tempfile
    import time

    root = os.path.dirname(HERE)
    sys.path.insert(0, root)
    from pyspark.sql import SparkSession

    import fast_causal_inference_spark as fcis
    from fast_causal_inference_spark.session import configure_session

    work = tempfile.mkdtemp(dir=root)
    man = gen.materialize("experiment", 1, 1000, work)
    spark = configure_session(SparkSession.builder.master("local[2]")
                              .config("spark.ui.enabled", "false")
                              ).getOrCreate()
    df = spark.read.parquet(man["data"])
    df.createOrReplaceTempView("perfbench_ab")
    calls = [("ttest_2samp", lambda: fcis.ttest_2samp(
                 df, "avg(y)", "arm").collect()),
             ("mann_whitney_utest", lambda: fcis.mann_whitney_utest(
                 df, "y", "arm")),
             ("sql_ols", lambda: fcis.sql(
                 spark, "SELECT ols('y ~ x1 + x2') FROM perfbench_ab"))]

    def one_pass(label, tap_dir=None):
        tap = eventlog.Tap(spark.sparkContext, tap_dir) if tap_dir else None
        recs, t0, p0 = [], time.time(), time.perf_counter()
        for name, fn in calls:
            w0, c0 = time.time(), time.perf_counter()
            fn()
            recs.append({"name": name, "start": w0, "end": time.time(),
                         "wall_s": time.perf_counter() - c0,
                         "py_cpu_s": 0.0, "left_persisted": 0})
        out = {"label": label, "start": t0, "end": time.time(),
               "wall_s": time.perf_counter() - p0, "calls": recs,
               "cpu": {"jvm": 0.0, "worker": 0.0, "py": 0.0}}
        if tap:
            tap.close()
            out["log"] = tap.path()
        return out

    one_pass("warmup")
    plain = one_pass("u0")
    tracker = spark.sparkContext.statusTracker()
    seen = set(tracker.getJobIdsForGroup())
    traced = one_pass("t0", os.path.join(work, "ev"))
    # the expected job count comes from Spark's status tracker, not from
    # the parser under test
    n_jobs = len(set(tracker.getJobIdsForGroup()) - seen)
    keep = ("SparkListenerJobStart", "SparkListenerJobEnd",
            "SparkListenerStageCompleted", "SparkListenerTaskEnd",
            "SparkListenerSQLExecutionStart")
    os.makedirs(os.path.dirname(FIXTURE), exist_ok=True)
    with open(traced.pop("log")) as src, open(FIXTURE, "w") as dst:
        for line in src:
            ev = json.loads(line)
            if not ev["Event"].endswith(keep):
                continue
            if ev["Event"].endswith("SQLExecutionStart"):
                ev = {k: ev[k] for k in ("Event", "executionId", "time")}
            ev.pop("Properties", None)
            if "Stage Infos" in ev:
                ev["Stage Infos"] = [{"Stage ID": si["Stage ID"]}
                                     for si in ev["Stage Infos"]]
            if "Stage Info" in ev:
                ev["Stage Info"] = {k: ev["Stage Info"][k]
                                    for k in ("Stage ID", "Number of Tasks")}
            ev.get("Task Info", {}).pop("Accumulables", None)
            dst.write(json.dumps(ev) + "\n")
    with open(FIXTURE_PASSES, "w") as fh:
        json.dump({"rows": man["rows"], "plain": [plain], "traced": [traced],
                   "expect": {"jobs": n_jobs}}, fh, indent=1)
    spark.stop()
    shutil.rmtree(work)


if __name__ == "__main__":
    _capture()
