"""Self-tests of the benchmark's own machinery.

    python3 -m pytest querybench -q

The pure tests (tail rule, /proc readers, crash isolation with fake
queries) need no Spark; the attribution tests start one small local
session and run catalog entries on generated sf0.001 tables.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

import pytest

import procfs
import run
from stats import tail_percentile

# --- tail percentile ---------------------------------------------------


def test_tail_needs_ten_samples_beyond():
    assert tail_percentile([float(i) for i in range(20)]) is None
    value, p, n = tail_percentile([float(i) for i in range(1, 22)])
    assert (p, n) == (52, 21)
    assert sum(x > value for x in range(1, 22)) >= 10


@pytest.mark.parametrize("n, p", [(30, 66), (100, 90), (1000, 99), (5000, 99)])
def test_tail_is_highest_supported_percentile(n, p):
    samples = [float(i) for i in range(1, n + 1)]
    value, got_p, got_n = tail_percentile(samples)
    assert (got_p, got_n) == (p, n)
    assert sum(x > value for x in samples) >= 10
    if p < 99:  # one percentile higher would leave fewer than ten beyond
        higher = samples[-(-(p + 1) * n // 100) - 1]
        assert sum(x > higher for x in samples) < 10


# --- /proc readers -------------------------------------------------------


def _fake_proc(root: Path, pid: int, ppid: int, comm: str,
               ticks: tuple[int, int, int, int], hwm_kb: int) -> None:
    d = root / str(pid)
    d.mkdir()
    utime, stime, cutime, cstime = ticks
    rest = ["S", str(ppid)] + ["0"] * 9 + [str(utime), str(stime), str(cutime), str(cstime)]
    (d / "stat").write_text(f"{pid} ({comm}) " + " ".join(rest + ["0"] * 20) + "\n")
    (d / "status").write_text(f"Name:\t{comm}\nVmHWM:\t{hwm_kb} kB\nVmRSS:\t1 kB\n")
    (d / "comm").write_text(comm + "\n")


def test_proc_readers_on_fake_tree(tmp_path):
    tck = os.sysconf("SC_CLK_TCK")
    _fake_proc(tmp_path, 100, 1, "java", (10 * tck, 5 * tck, 3 * tck, 1 * tck), 2048)
    _fake_proc(tmp_path, 101, 100, "python3", (2 * tck, 0, 4 * tck, 0), 4096)
    _fake_proc(tmp_path, 102, 101, "python3", (1 * tck, 1 * tck, 0, 0), 8192)
    _fake_proc(tmp_path, 103, 100, "odd) name (x", (0, 0, 0, 0), 1024)
    (tmp_path / "self").mkdir()  # non-numeric entries are skipped
    assert procfs.cpu_times(100, proc=str(tmp_path)) == (15.0, 4.0)
    assert procfs.cpu_times(103, proc=str(tmp_path)) == (0.0, 0.0)
    assert procfs.vm_hwm_mb(101, proc=str(tmp_path)) == 4.0
    assert sorted(procfs.descendants(100, proc=str(tmp_path))) == [101, 102, 103]
    assert sorted(procfs.python_workers(100, proc=str(tmp_path))) == [101, 102]
    # workers: 6 s (101 incl. reaped) + 2 s (102) + the JVM's reaped 4 s
    assert procfs.worker_usage(100, proc=str(tmp_path)) == (12.0, 8.0)


def test_proc_readers_on_live_processes():
    before = procfs.cpu_times(os.getpid())[0]
    deadline = time.process_time() + 0.3
    while time.process_time() < deadline:
        pass
    assert procfs.cpu_times(os.getpid())[0] - before >= 0.2
    block = bytearray(b"x" * (64 * 1024 * 1024))  # resident, not just mapped
    with open("/proc/self/status") as f:
        rss_mb = next(int(l.split()[1]) for l in f if l.startswith("VmRSS:")) / 1024
    assert procfs.vm_hwm_mb(os.getpid()) >= rss_mb >= 64
    del block
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        assert child.pid in procfs.descendants(os.getpid())
        assert child.pid in procfs.python_workers(os.getpid())
    finally:
        child.kill()
        child.wait()


# --- closed loop: crash isolation ---------------------------------------


class _FakeFrame:
    class _Writer:
        def format(self, _name):
            return self

        def mode(self, _mode):
            return self

        def save(self):
            time.sleep(0.01)

    write = _Writer()


def _ok(_spark, _sf_dir):
    return _FakeFrame()


def _boom(_spark, _sf_dir):
    raise ValueError("broken query")


def test_raising_query_is_counted_and_loop_continues():
    fns = {"a": _ok, "b": _boom, "c": _ok}

    def run_one(name, pass_no):
        ex, df = run.execute(None, name, fns[name], "unused", pass_no)
        assert (df is None) == (name == "b")
        return ex

    executions, wall_s, passes = run.closed_loop(list(fns), run_one, 0.05, seed=3)
    assert passes >= 1 and len(executions) == 3 * passes
    failed = [e for e in executions if e.error]
    assert {e.name for e in failed} == {"b"} and len(failed) == passes
    assert "ValueError: broken query" in failed[0].error
    assert all(e.wall_s > 0 for e in executions) and wall_s > 0


def test_output_check_counts_mismatch_and_raise_without_stopping():
    import pandas as pd

    class Frame:
        def __init__(self, value):
            self.value = value

        def toPandas(self):  # noqa: N802 — Spark's name
            return pd.DataFrame({"x": [self.value]})

    class Cache:
        def check(self, name, sql, actual):
            return [] if actual["x"].tolist() == [int(sql)] else [f"{name} differs"]

    queries = {
        "right": lambda spark, d: Frame(1),
        "wrong": lambda spark, d: Frame(2),
        "raises": _boom,
        "unchecked": lambda spark, d: Frame(1),
    }
    oracles = {"right": "1", "wrong": "1", "raises": "1"}
    spent, problems = run.warm_up_and_check(None, list(queries), queries, oracles, "unused", Cache())
    assert set(spent) == set(queries) and set(problems) == {"wrong", "raises", "unchecked"}
    assert problems["wrong"] == ["wrong differs"]
    assert "ValueError: broken query" in problems["raises"][0]


def test_pass_order_is_seeded_permutation():
    seen = []

    def run_one(name, pass_no):
        seen.append((pass_no, name))
        return run.Execution(name, pass_no)

    names = [f"q{i}" for i in range(8)]
    run.closed_loop(names, run_one, 0.0, seed=5)
    first = [n for _, n in seen]
    seen.clear()
    run.closed_loop(names, run_one, 0.0, seed=5)
    assert [n for _, n in seen] == first and sorted(first) == names


def test_benchmark_json_matches_the_run():
    doc = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    assert doc["command"][1:] == ["querybench/run.py"] and doc["paths"] == ["querybench"]
    assert {w["name"] for w in doc["workloads"]} == set(run.WORKLOADS)
    ok = [run.Execution("a", 0, 0.1, 0.2), run.Execution("b", 0, 0.3, 0.1)]
    loop_tasks = {"jobs": 6, "tasks": 10, "shuffle_read": 2e6, "shuffle_write": 1e6, "cpu_s": 1.0}
    metrics = run.end_to_end(ok, 3, 1.0, 5.0, 3.0, loop_tasks, 100.0)
    for name, unit in run.declared_metrics("end_to_end").items():
        assert metrics[name]["unit"] == unit
    assert metrics["jobs_per_query"]["value"] == 2.0
    assert metrics["shuffle_mb_per_query"]["value"] == 1.0
    assert metrics["cpu_s_per_query"]["value"] == 1.0
    assert metrics["queries_per_s"]["value"] == 2.0
    assert abs(metrics["latency_p50_s"]["value"] - 0.35) < 1e-9
    assert abs(metrics["latency_geomean_s"]["value"] - (0.3 * 0.4) ** 0.5) < 1e-9
    assert metrics["latency_tail_s"]["value"] is None


# --- stage-window attribution and span coverage (Spark) -----------------


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    base = tmp_path_factory.mktemp("querybench")
    sf_dir = base / "sf0.001"
    subprocess.run(
        [sys.executable, str(run.ROOT / "scripts" / "gen_sf.py"), "0.001", str(sf_dir), "1"],
        check=True, stdout=subprocess.DEVNULL,
    )
    sys.path.insert(0, str(run.ROOT))
    run_dir = base / "run"
    run.isolate(run_dir)
    spark = run.start_session(2, 1024, run_dir)
    yield spark, str(sf_dir)
    run.stop_session(spark)


def test_stage_windows_attribute_batch_and_streaming(session):
    from amazon_books_review_spark.plans.catalog import all_queries
    from layers import Tracer

    spark, sf_dir = session
    queries = all_queries()
    tracer = Tracer(spark, 2)
    names = ["tpch_q1_pricing_summary", "streaming_windowed_counts", "pagerank_copurchase"]
    results, executions = {}, []
    for name in names:
        ex, df = run.execute(spark, name, queries[name], sf_dir, 0, tracer)
        assert ex.error is None and df is not None, ex.error
        results[name] = ex.layers
        executions.append(ex)

    windows = [results[n]["stage_ids"] for n in names]
    for (_, end), (start, _) in zip(windows, windows[1:]):
        assert end == start  # consecutive windows tile the stage ids
    q1, stream, pagerank = (results[n] for n in names)
    assert q1["exec.stages"] > 0 and q1["exec.jobs"] > 0
    assert q1["sources.rows_read"] > 0 and q1["exec.task_run_s"] > 0
    # the drain's micro-batches run on the stream thread: attributed anyway
    assert stream["plans.eager_stages"] + stream["exec.stages"] > 0
    assert stream["streaming.batches"] >= 1 and stream["streaming.input_rows"] > 0
    assert pagerank["plans.eager_jobs"] > 0 and pagerank["plans.eager_stages"] > 0
    assert 0 < pagerank["plans.eager_job_s"] <= pagerank["plans.construct_s"]
    for m in results.values():
        assert m["catalyst.optimization_s"] >= 0 and m["trace.overhead_s"] > 0
    # the traced result line can carry every per-layer metric declared
    _, per_pass = run.layer_summary(executions, 2)
    produced = set(per_pass) | {
        "session.start_s", "session.warmup_s", "sources.layout_s",
        "sources.prestage_s", "jvm.peak_rss_mb", "driver.peak_rss_mb",
    }
    assert set(run.declared_metrics("per_layer")) <= produced


def test_spans_cover_the_timed_wall(session):
    from amazon_books_review_spark.plans.catalog import all_queries
    from layers import Tracer

    spark, sf_dir = session
    queries = all_queries()
    names = ["flagship_gold_rollup", "word_count_top", "kcore_order_part"]
    for tracer in (None, Tracer(spark, 2)):
        def run_one(name, pass_no):
            return run.execute(spark, name, queries[name], sf_dir, pass_no, tracer)[0]

        executions, _, _ = run.closed_loop(names, run_one, 0.0, seed=1)
        for ex in executions:
            assert ex.error is None, ex.error
            assert abs(ex.latency_s - ex.wall_s) <= 0.05 * ex.wall_s, ex
