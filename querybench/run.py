#!/usr/bin/env python3
"""Closed-loop benchmark of the amazon_books_review_spark query catalog.

Run from the repository root:

    python3 querybench/run.py --workload relational --seed 1 --seconds 10 --trace 0

One run is one process:

1. Inputs: ``scripts/gen_sf.py`` writes the tables for ``--seed``
   (cached per generator source and seed under ``.querybench/``; never
   timed).
2. Set-up, timed as ``setup_s``: a host-sized Spark session and the
   catalog load, the ingest re-layout of the tables into one file per
   core, fixture pre-staging (workloads that read staged fixtures), and
   the warm-up: one execution of every workload query on the benchmark
   inputs, collected so that its output is checked.
3. Output checks, untimed: each collected warm-up output is compared
   with the query's DuckDB oracle, whose result is computed once per
   input in a child process (``oracle.py``).  A mismatch fails every
   execution of that query; it does not stop the run.
4. The timed loop: one client runs whole passes over the workload's
   queries, in an order the seed permutes afresh each pass, for about
   ``--seconds`` (it stops at the pass boundary nearest to them).  The next query is built only when the
   previous one's noop-sink write has returned.  A query that raises
   is a failed execution; the loop goes on.

With ``--trace 0`` the run reports the end-to-end metrics: the ones
BENCHMARK.json names in its result line, all of them on the lines above
it.  With ``--trace 1`` it samples Spark's status store, a streaming
listener and ``/proc`` around every query (see ``layers.py``) and
reports the per-layer metrics BENCHMARK.json names instead; tracing
adds time, so the two are never mixed.

The last line of stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``.  The lines above it carry the
host, the failed ratio, every end-to-end figure (the latency tail with
its percentile and sample count) and, when tracing, one line of layer
metrics per query; all of it also goes to
``.querybench/results/<workload>-seed<seed>-trace<n>.json``.

Results compare only at the same seed.  Every seed's tables come from
the generator, whose graphs run about half as long as the reference
tables' (BENCH_SF1_VALIDATION.json), and each seed draws its graphs and
near-duplicate structure afresh.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from dataclasses import asdict, dataclass, field
from pathlib import Path

from stats import geomean, tail_percentile
from workloads import WORKLOADS

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".querybench"

#: Benchmark scale, as a scripts/gen_sf.py factor.
SF = "0.01"

#: What the run needs from the repository around it.
REQUIRED = (
    "amazon_books_review_spark/__init__.py",
    "scripts/gen_sf.py",
    "tests/oracle_harness.py",
)


def declared_metrics(kind: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics that
    BENCHMARK.json declares: the ones a run's result line carries."""
    doc = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in doc[kind]}


@dataclass
class Execution:
    name: str
    pass_no: int
    construct_s: float = 0.0
    action_s: float = 0.0
    wall_s: float = 0.0
    error: str | None = None
    layers: dict = field(default_factory=dict)

    @property
    def latency_s(self) -> float:
        return self.construct_s + self.action_s


# --- host --------------------------------------------------------------


def host_cores() -> int:
    """``SPARK_GRAFT_CPUS`` when set, else the CPUs this process may use."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise ValueError("no MemTotal in /proc/meminfo")


def driver_memory_mb(total_mb: int) -> int:
    """A quarter of the host's memory, at most 16 GiB: the JVM heap is
    the whole local-mode cluster, and the Python workers, DuckDB and the
    driver process need the rest."""
    return min(16384, total_mb // 4)


# --- inputs ------------------------------------------------------------


def generate_inputs(seed: int) -> Path:
    """The generated tables for ``seed``, written once and then reused."""
    gen = ROOT / "scripts" / "gen_sf.py"
    key = hashlib.sha256(gen.read_bytes()).hexdigest()[:12]
    final = WORK / "inputs" / f"gen{key}-seed{seed}" / f"sf{SF}"
    if not (final / ".complete").exists():
        tmp = final.with_name(f".{final.name}.{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run(
            [sys.executable, str(gen), SF, str(tmp), str(seed)],
            check=True, stdout=subprocess.DEVNULL,
        )
        (tmp / ".complete").touch()
        shutil.rmtree(final, ignore_errors=True)
        os.replace(tmp, final)
    return final


# --- session -----------------------------------------------------------


def isolate(run_dir: Path) -> None:
    """Point every temp and scratch location of this process, the JVM
    and the Python workers into ``run_dir``."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's own JVM
    # Python workers import the package when they unpickle its kernels.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )


def start_session(cores: int, driver_mb: int, run_dir: Path):
    from amazon_books_review_spark.session import get_session

    spark = get_session(
        app_name="querybench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_confs={
            "spark.driver.memory": f"{driver_mb}m",
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(run_dir / "spark-local"),
            "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
            # no /tmp/hsperfdata_* file: the run writes only under run_dir
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it started) to exit."""
    from pyspark import SparkContext

    proc = spark.sparkContext._gateway.proc
    try:
        spark.stop()
    finally:
        SparkContext._gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def relayout(src: Path, dst: Path, cores: int) -> None:
    """Ingest re-layout: rewrite every table as one file per core.  The
    generator writes each table as one row group, and a row group is
    Spark's smallest split, so without this every scan is one task.
    Slices are contiguous, so the rows and their types stay as generated
    (the oracles read the generated files)."""
    import pyarrow.parquet as pq

    from amazon_books_review_spark.sources.io import TESTDATA_TABLES

    for table in TESTDATA_TABLES:
        data = pq.read_table(src / f"{table}.parquet")
        out = dst / f"{table}.parquet"
        out.mkdir(parents=True)
        step = -(-data.num_rows // cores) or 1
        for i, offset in enumerate(range(0, max(data.num_rows, 1), step)):
            pq.write_table(data.slice(offset, step), out / f"part-{i:05d}.parquet")


# --- the closed loop ---------------------------------------------------


def execute(spark, name: str, fn, sf_dir: str, pass_no: int, tracer=None):
    """Run one catalog entry through the noop sink.

    Returns the execution record and the DataFrame it built (None when
    it raised).  An exception is recorded, never propagated: one broken
    query costs one failed execution, not the run.  With a tracer, the
    tracer's reads sit between the spans, outside both of them.
    """
    ex = Execution(name, pass_no)
    overhead = 0.0
    try:
        t = time.perf_counter()
        start = tracer.mark() if tracer else None
        t0 = time.perf_counter()
        overhead += t0 - t
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        if tracer:
            catalyst = tracer.catalyst(df)
            built = tracer.mark()
        t2 = time.perf_counter()
        overhead += t2 - t1
        df.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
    except Exception as exc:  # noqa: BLE001 — isolate per query
        ex.error = f"{type(exc).__name__}: {exc}"[:500]
        if tracer:
            tracer.streaming.drain(timeout_s=0.5)
        return ex, None
    ex.construct_s, ex.action_s = t1 - t0, t3 - t2
    if tracer:
        end = tracer.mark()
        ex.layers = tracer.collect(start, built, end, ex.construct_s, ex.action_s, catalyst)
        ex.layers["trace.overhead_s"] = overhead + time.perf_counter() - t3
    return ex, df


def closed_loop(names, run_one, seconds: float, seed: int):
    """Whole passes over ``names`` for about ``seconds``: at least one,
    and another only while the mean pass so far would end nearer to
    ``seconds`` than stopping now does.  Each pass's order is a fresh
    seeded permutation.

    ``run_one(name, pass_no)`` runs one query and returns its Execution;
    the loop stamps its ``wall_s`` as the client sees it, less any
    tracing overhead.  Returns (executions, wall seconds, passes).
    """
    rng = random.Random(seed)
    executions: list[Execution] = []
    passes = 0
    start = time.perf_counter()
    while True:
        order = list(names)
        rng.shuffle(order)
        for name in order:
            t = time.perf_counter()
            ex = run_one(name, passes)
            ex.wall_s = time.perf_counter() - t - ex.layers.get("trace.overhead_s", 0.0)
            executions.append(ex)
        passes += 1
        elapsed = time.perf_counter() - start
        if elapsed + elapsed / passes / 2 >= seconds:
            return executions, elapsed, passes


# --- reporting ---------------------------------------------------------


def end_to_end(
    ok: list[Execution], attempted: int, wall_s: float, setup_s: float,
    cpu_s: float, loop_tasks: dict, peak_rss_mb: float,
) -> dict:
    """Every end-to-end metric of a run.  ``cpu_s`` is the CPU the JVM,
    its Python workers and the driver used during the timed loop, and
    ``loop_tasks`` the status store's totals over the loop's stages and
    jobs; both are divided by the executions attempted.

    BENCHMARK.json gates the ones that repeat within their bounds across
    seeds; the rest are printed on every run.  Job and task counts follow
    how fast each seed's graphs converge in the iterative queries, peak
    RSS moves with the JVM's heap sizing, and the median latency jumps
    between queries of the mix, so none of those is gated."""
    lat = [e.latency_s for e in ok]
    per_query: dict[str, list[float]] = {}
    for e in ok:
        per_query.setdefault(e.name, []).append(e.latency_s)
    tail = tail_percentile(lat)
    shuffle = loop_tasks["shuffle_read"] + loop_tasks["shuffle_write"]
    return {
        "jobs_per_query": {"value": loop_tasks["jobs"] / attempted, "unit": "count"},
        "tasks_per_query": {"value": loop_tasks["tasks"] / attempted, "unit": "count"},
        "shuffle_mb_per_query": {"value": shuffle / 1e6 / attempted, "unit": "MB"},
        "setup_s": {"value": setup_s, "unit": "s"},
        "queries_per_s": {"value": len(ok) / wall_s, "unit": "1/s"},
        "latency_p50_s": {"value": statistics.median(lat), "unit": "s"},
        # null when fewer than 21 samples: no tail above p50 is supported
        "latency_tail_s": {"value": tail and tail[0], "unit": "s"},
        "latency_geomean_s": {
            "value": geomean([statistics.median(v) for v in per_query.values()]),
            "unit": "s",
        },
        "cpu_s_per_query": {"value": cpu_s / attempted, "unit": "s"},
        "task_cpu_s_per_query": {"value": loop_tasks["cpu_s"] / attempted, "unit": "s"},
        "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
    }


def layer_summary(ok: list[Execution], cores: int) -> tuple[dict, dict]:
    """Per-query means of the traced layer metrics, and the workload's
    per-pass totals (the sum over queries of those means)."""
    from layers import ADDITIVE, derive

    by_query: dict[str, list[dict]] = {}
    for e in ok:
        by_query.setdefault(e.name, []).append(e.layers)
    keys = ADDITIVE + ("trace.overhead_s",)
    per_query = {}
    for name, rows in by_query.items():
        q = {k: statistics.fmean(r[k] for r in rows) for k in keys}
        derive(q, cores)
        q["python.worker_peak_rss_mb"] = max(r["python.worker_peak_rss_mb"] for r in rows)
        q["stages_attributed"] = statistics.fmean(
            r["plans.eager_stages"] + r["exec.stages"] for r in rows
        )
        per_query[name] = q
    total = {k: sum(q[k] for q in per_query.values()) for k in keys}
    derive(total, cores)
    total["python.worker_peak_rss_mb"] = max(
        (q["python.worker_peak_rss_mb"] for q in per_query.values()), default=0.0
    )
    return per_query, total


# --- main --------------------------------------------------------------


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def warm_up_and_check(spark, names, queries, oracles, sf_dir: str, cache):
    """Run every query once on the benchmark inputs, collecting its
    output, and compare each output with the query's DuckDB oracle.

    This is both the warm-up (codegen, JIT and Python workers reach the
    state the timed loop runs in) and the output check: the timed loop
    writes to the noop sink, so its outputs are never collected.
    Returns the seconds each query execution took, which set-up counts,
    and the check failures by query.  Comparing with the oracle results
    is not part of set-up.
    """
    spent: dict[str, float] = {}
    problems: dict[str, list[str]] = {}
    for name in names:
        t = time.perf_counter()
        try:
            actual = queries[name](spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001 — a failed check, not a crash
            problems[name] = [f"{type(exc).__name__}: {exc}"[:500]]
            continue
        finally:
            spent[name] = time.perf_counter() - t
        if name not in oracles:
            problems[name] = ["no oracle for this entry"]
            continue
        try:
            found = cache.check(name, oracles[name], actual)
        except Exception as exc:  # noqa: BLE001
            found = [f"oracle: {type(exc).__name__}: {exc}"[:500]]
        if found:
            problems[name] = found
    return spent, problems


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [p for p in REQUIRED if not (ROOT / p).is_file()]
    if missing:
        print(f"querybench: not a repository checkout, missing {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    workload = WORKLOADS[args.workload]
    names = workload.queries
    cores = host_cores()
    total_mb = mem_total_mb()
    driver_mb = driver_memory_mb(total_mb)

    untimed: dict[str, float] = {}  # the benchmark's own phases, for its run budget
    t = time.perf_counter()
    inputs = generate_inputs(args.seed)
    untimed["inputs_s"] = time.perf_counter() - t
    run_dir = WORK / "run" / str(os.getpid())
    shutil.rmtree(run_dir, ignore_errors=True)
    isolate(run_dir)

    import pandas
    import pyspark

    import procfs
    from oracle import OracleCache

    cache = OracleCache(
        ROOT / "tests" / "oracle_harness.py",
        inputs, WORK / "oracle" / f"{inputs.parent.name}-sf{SF}",
    )
    spark = None
    try:
        setup: dict[str, float] = {}
        t = time.perf_counter()
        spark = start_session(cores, driver_mb, run_dir)
        from amazon_books_review_spark.plans.catalog import all_oracles, all_queries

        queries, oracles = all_queries(), all_oracles()
        setup["session.start_s"] = time.perf_counter() - t

        t = time.perf_counter()
        cache.fill({n: oracles[n] for n in names if n in oracles})
        untimed["oracle_s"] = time.perf_counter() - t

        laid = run_dir / "laid"
        t = time.perf_counter()
        relayout(inputs, laid, cores)
        setup["sources.layout_s"] = time.perf_counter() - t

        from amazon_books_review_spark.streaming.queries import prestage_inputs

        t = time.perf_counter()
        if workload.prestage:
            prestage_inputs(spark, str(laid))
        setup["sources.prestage_s"] = time.perf_counter() - t

        t = time.perf_counter()
        warmup, check_problems = warm_up_and_check(
            spark, names, queries, oracles, str(laid), cache
        )
        setup["session.warmup_s"] = sum(warmup.values())
        untimed["check_s"] = time.perf_counter() - t - setup["session.warmup_s"]
        setup_s = sum(setup.values())

        tracer = None
        if args.trace:
            from layers import Tracer

            tracer = Tracer(spark, cores)

        def run_one(name, pass_no):
            return execute(spark, name, queries[name], str(laid), pass_no, tracer)[0]

        jvm_pid = spark.sparkContext._gateway.proc.pid

        def tree_cpu():
            return (procfs.cpu_times(jvm_pid)[0] + procfs.worker_usage(jvm_pid)[0]
                    + procfs.cpu_times(os.getpid())[0])

        from layers import StatusStore

        store = StatusStore(spark)
        ids0 = store.next_ids()
        steal0, cpu0 = procfs.host_cpu_ticks(), tree_cpu()
        executions, wall_s, passes = closed_loop(names, run_one, args.seconds, args.seed)
        steal1, cpu1 = procfs.host_cpu_ticks(), tree_cpu()
        ids1 = store.next_ids()
        store.settle()
        loop_tasks = store.stages(ids0[0], ids1[0])
        loop_tasks["jobs"] = ids1[1] - ids0[1]
        peak_rss = {
            "jvm.peak_rss_mb": procfs.vm_hwm_mb(jvm_pid),
            "driver.peak_rss_mb": procfs.vm_hwm_mb(os.getpid()),
        }
        host = {
            "cores": cores, "mem_total_mb": total_mb, "driver_memory_mb": driver_mb,
            "pyspark": pyspark.__version__, "pandas": pandas.__version__,
            "java": spark._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
        }
    finally:
        t = time.perf_counter()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        untimed["stop_s"] = time.perf_counter() - t

    for e in executions:
        if e.error is None and e.name in check_problems:
            e.error = "output check: " + "; ".join(check_problems[e.name])[:500]
    ok = [e for e in executions if e.error is None]
    failed = len(executions) - len(ok)
    if not ok:
        print("querybench: every execution failed", file=sys.stderr)
        for e in executions[: len(names)]:
            print(f"  {e.name}: {e.error}", file=sys.stderr)
        return 1

    detail = {
        "workload": args.workload, "seed": args.seed, "sf": SF, "trace": args.trace,
        "seconds": args.seconds, "host": host, "setup": setup, "untimed": untimed,
        "warmup_s": warmup,
        "passes": passes, "loop_wall_s": wall_s, "loop_cpu_s": cpu1 - cpu0,
        "loop_tasks": loop_tasks,
        "loop_steal_share": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
        "span_coverage": sum(e.latency_s for e in ok) / sum(e.wall_s for e in ok),
        "failed_ratio": failed / len(executions),
        "check_problems": check_problems,
        "executions": [asdict(e) for e in executions],
    }
    print(f"querybench workload={args.workload} seed={args.seed} sf={SF} "
          f"trace={args.trace} passes={passes} executions={len(executions)} "
          f"failed={failed} failed_ratio={failed / len(executions):.4f}")
    print("host " + json.dumps(host))
    if args.trace:
        per_query, total = layer_summary(ok, cores)
        detail["layers"], detail["layers_per_pass"] = per_query, total
        for name, row in per_query.items():
            print(f"layers {name} " + json.dumps(row))
        values = {**setup, **total, **peak_rss}
        metrics = {
            k: {"value": values[k], "unit": u}
            for k, u in declared_metrics("per_layer").items()
        }
    else:
        everything = end_to_end(
            ok, len(executions), wall_s, setup_s, cpu1 - cpu0, loop_tasks,
            sum(peak_rss.values()),
        )
        tail = tail_percentile([e.latency_s for e in ok])
        detail["metrics"] = everything
        detail["latency_tail"] = tail and {"percentile": tail[1], "samples": tail[2]}
        gated = declared_metrics("end_to_end")
        for k, m in everything.items():
            print(f"metric {k} {m['value']} {m['unit']}"
                  + ("" if k in gated else " (reported, not gated)"))
        print("latency_tail_s " + (f"is p{tail[1]} of {tail[2]} samples" if tail
              else f"has {len(ok)} samples; a tail above p50 needs 21"))
        print(f"metric failed_ratio {failed / len(executions)} ratio")
        metrics = {k: everything[k] for k in gated}
    results = WORK / "results"
    results.mkdir(parents=True, exist_ok=True)
    (results / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(detail, indent=1, default=str)
    )
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(executions),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
