"""Benchmark of the declared entries, one workload per process.

    python3 perfbench/run.py --workload mart_text --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. A run

1. writes the input tables (fixed data seed, see `datagen.py`) under
   `.perfbench/` in the checkout, and keeps every scratch file of the
   engine, Spark and the JVM there too;
2. sets the session up: session start and fixture staging (`setup_s`);
3. runs the workload's untimed warm-up passes and timed passes
   (`workloads.PASSES`), then more whole passes while less than
   `--seconds` has gone by. A pass runs the workload's timed entries in an
   order the seed permutes, with `reset_shared_state` between entries. A
   timed entry builds the entry and `count()`s it; the count must equal
   the row count of the entry's DuckDB oracle. In the first pass a
   seed-chosen quarter of the entries also get, untimed, the full rows +
   schema + value comparison against the oracle
   (`oracle_check.compare_query`);
4. with `--trace 1`, records the per-layer ledger (`ledger.py`) of the
   first timed pass, runs the workload's trace-only entries once
   (`workloads.TRACE_ONLY`, untimed; `ops.export.s` comes from them), and
   measures, untimed, the recall@10 of the approximate top-k operators
   against the exact one;
5. prints one JSON line with the end-to-end metrics (`--trace 0`) or the
   per-layer metrics (`--trace 1`) named in BENCHMARK.json.

Exits non-zero, printing no result, when the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import math
import os
import random
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

SF = 0.001
DATA_SEED = 42
CPUS = min(4, os.cpu_count() or 4)
DRIVER_MEM = "2g"
ENTRY_TIMEOUT_S = 100.0
COMPARE_SHARE = 1 / 4
ANN_QUERIES = 8
ANN_K = 10


def _parse(argv):
    from workloads import TIMED

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(TIMED))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _configure(run_dir: str, trace: bool) -> None:
    """Keep every file the engine, Spark and the JVM write inside the run
    directory, and size the session (4 cores, 2 GiB heap)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    local = os.path.join(run_dir, "spark-local")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = local
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        from ledger import RETENTION_CONF

        conf.update(RETENTION_CONF)
    # The serial collector sizes the heap from what is live after each
    # collection, so the JVM's resident memory follows the data the engine
    # keeps; G1 grows the heap from pause-time and GC-overhead targets, which
    # moved the peak by ±15 % from run to run, and its concurrent threads
    # compete with the 4 task threads. No hsperfdata file, which the JVM
    # would write to /tmp whatever java.io.tmpdir says.
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:+UseSerialGC -XX:-UsePerfData"
    args = ["--driver-java-options=" + shlex.quote(java_opts)]
    args += [f"--conf={k}={v}" for k, v in conf.items()]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def _set_up():
    """Start the session and stage the fixture tables. Returns the session
    and each phase's seconds."""
    from e02_spark import fixtures
    from e02_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    for name in fixtures._FIXTURES:
        fixtures.spark_df(spark, name)
    t2 = time.perf_counter()
    return spark, {"session": t1 - t0, "fixtures": t2 - t1}


def _oracle_rows(data_dir: str, names: list[str], oracles: dict[str, str]) -> dict[str, int]:
    """Row count of each entry's DuckDB oracle. The counts depend only on
    the fixed tables and the oracle SQL, so they are cached beside the
    tables, keyed by a hash of the SQL."""
    from e02_spark.oracle_check import duck_connection

    path = os.path.join(data_dir, "oracle_rows.json")
    try:
        with open(path) as f:
            cache = json.load(f)
    except (OSError, ValueError):
        cache = {}
    out, con = {}, None
    for name in names:
        key = f"{name}:{hashlib.sha256(oracles[name].encode()).hexdigest()}"
        if key not in cache:
            con = con or duck_connection(data_dir)
            cache[key] = con.execute(f"SELECT count(*) FROM ({oracles[name]})").fetchone()[0]
        out[name] = cache[key]
    if con is not None:
        con.close()
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(cache, f)
        os.replace(tmp, path)
    return out


def _run_entry(spark, fn, data_dir):
    """Build and count one entry. Jobs still running after ENTRY_TIMEOUT_S
    are cancelled, which fails the entry. Returns (seconds, (start, end)
    in epoch seconds, rows, error, DataFrame)."""
    timer = threading.Timer(ENTRY_TIMEOUT_S, spark.sparkContext.cancelAllJobs)
    timer.start()
    df, rows, error = None, -1, None
    w0 = time.time()
    t0 = time.perf_counter()
    try:
        df = fn(spark, data_dir)
        rows = df.count()
    except Exception as exc:  # a failing entry is counted, the run goes on
        error = f"{type(exc).__name__}: {str(exc)[:300]}"
    finally:
        seconds = time.perf_counter() - t0
        timer.cancel()
    return seconds, (w0, time.time()), rows, error, df


def ann_recall(spark, data_dir: str, seed: int) -> dict[str, float]:
    """recall@10 of ivf_topk, pq_topk and ivf_pq_topk, with the parameters
    q42/q112/q113 use but k=10, against topk_bruteforce, averaged over
    ANN_QUERIES seed-chosen query vectors."""
    from e02_spark.io import load_table
    from e02_spark.ops import similarity as sim
    from e02_spark.queries import llm_q

    e = load_table(spark, data_dir, "embeddings")
    ids = random.Random(seed).sample(range(e.count()), ANN_QUERIES)
    books = llm_q._pq_books(e, data_dir)
    encoded = llm_q._pq_encoded(spark, data_dir)
    methods = {
        "ivf": lambda q: sim.ivf_topk(e, query_vec_id=q, n_centroids=8, k=ANN_K),
        "pq": lambda q: sim.pq_topk(e, query_vec_id=q, k=ANN_K, rerank=50,
                                    codebooks=books, encoded=encoded),
        "ivfpq": lambda q: sim.ivf_pq_topk(e, query_vec_id=q, n_centroids=8, k=ANN_K,
                                           rerank=20, codebooks=books, encoded=encoded),
    }
    hits = {m: [] for m in methods}
    for q in ids:
        exact = {r["vec_id"] for r in sim.topk_bruteforce(e, query_vec_id=q, k=ANN_K).collect()}
        for m, fn in methods.items():
            hits[m].append(len(exact & {r["vec_id"] for r in fn(q).collect()}) / ANN_K)
    return {m: statistics.fmean(h) for m, h in hits.items()}


def _stop_spark(spark) -> None:
    """Stop the session and the JVM this process started, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)


def _declared(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    try:
        import e02_spark.queries  # noqa: F401
    except ImportError as exc:
        _log(f"cannot import the engine from {ROOT}: {exc}")
        return 2
    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=WORK)
    try:
        return _bench(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _bench(args, run_dir: str) -> int:
    import datagen
    import workloads
    from procstat import ProcTree

    t_start = time.perf_counter()
    _configure(run_dir, bool(args.trace))
    data_dir = datagen.ensure_tables(os.path.join(WORK, "data"), SF, DATA_SEED)

    from e02_spark.queries import all_oracles, all_queries

    full = workloads.resolve(sorted(all_queries()))
    entries = [full[p] for p in workloads.TIMED[args.workload]]
    trace_only = [full[p] for p in workloads.TRACE_ONLY[args.workload]] if args.trace else []
    expected = _oracle_rows(data_dir, entries + trace_only, all_oracles())
    procs = ProcTree()
    procs.start()
    spark = None
    try:
        spark, setup = _set_up()
        result = _measure(args, spark, setup, procs, data_dir, entries, trace_only, expected)
    finally:
        procs.stop()
        if spark is not None:
            _stop_spark(spark)
    _log(f"{args.workload}: run {time.perf_counter() - t_start:.1f}s")
    print(json.dumps(result))
    return 0


def _measure(args, spark, setup, procs, data_dir, entries, trace_only, expected) -> dict:
    """Run the workload's passes (and, traced, its trace-only entries) and
    return the result line."""
    import workloads
    from e02_spark.oracle_check import compare_query
    from e02_spark.queries import all_oracles, all_queries, reset_shared_state

    queries = all_queries()
    oracles = all_oracles()
    rng = random.Random(args.seed)
    checked = set(rng.sample(entries, math.ceil(len(entries) * COMPARE_SHARE)))
    ledger = None
    if args.trace:
        from ledger import Ledger

        ledger = Ledger()
        ledger.install(spark)

    warmup_passes, timed_passes = workloads.PASSES[args.workload]
    attempted = failed = 0
    passes: list[dict] = []
    window_t0 = time.perf_counter()
    while True:
        first = not passes
        order = list(entries)
        rng.shuffle(order)
        traced_pass = ledger is not None and len(passes) == warmup_passes
        if traced_pass:
            ledger.reset()
            exec0 = spark._jsparkSession.sharedState().statusStore().executionsCount()
        wall = cpu = write = rss = py_rss = 0.0
        seconds_of, windows = {}, []
        for name in order:
            # Process counters cover the entry's build + count() only, not
            # the oracle comparison below.
            procs.reset_peak()
            cpu0, wb0 = procs.cpu_s(), procs.write_bytes()
            seconds, window, rows, bad, df = _run_entry(spark, queries[name], data_dir)
            cpu += procs.cpu_s() - cpu0
            write += procs.write_bytes() - wb0
            entry_rss, entry_py_rss = procs.peak_mb()
            rss, py_rss = max(rss, entry_rss), max(py_rss, entry_py_rss)
            attempted += 1
            wall += seconds
            windows.append(window)
            seconds_of[name] = seconds
            if bad is None and rows != expected[name]:
                bad = f"count {rows} != oracle rows {expected[name]}"
            if bad is None and first and name in checked:
                try:
                    res = compare_query(spark, name, data_dir, lambda *_: df, oracles[name])
                    if not res.ok:
                        bad = "oracle mismatch: " + "; ".join(res.issues)
                except Exception as exc:  # counted as a failed entry
                    bad = f"oracle comparison raised {type(exc).__name__}: {str(exc)[:300]}"
            if bad is not None:
                failed += 1
                _log(f"FAILED {name}: {bad}")
            _log(f"{name} {seconds:.2f}s rows={rows}")
            del df
            reset_shared_state(spark)
            gc.collect()
        passes.append({"wall": wall, "cpu": cpu, "rss": rss, "py_rss": py_rss,
                       "write_mb": write / 2**20, "entries": seconds_of})
        if traced_pass:
            ledger_metrics = ledger.pass_metrics(spark, windows, exec0)
        if (len(passes) >= warmup_passes + timed_passes
                and time.perf_counter() - window_t0 >= args.seconds):
            break

    timed = passes[warmup_passes:]
    if trace_only:
        ledger.reset()
        for name in trace_only:
            seconds, _, rows, bad, df = _run_entry(spark, queries[name], data_dir)
            attempted += 1
            if bad is None and rows != expected[name]:
                bad = f"count {rows} != oracle rows {expected[name]}"
            if bad is not None:
                failed += 1
                _log(f"FAILED {name}: {bad}")
            _log(f"{name} {seconds:.2f}s rows={rows} (trace only)")
            del df
            reset_shared_state(spark)
        ledger_metrics["ops.export.s"] = ledger.seconds["ops.export"]
    if ledger is not None:
        recall = ann_recall(spark, data_dir, args.seed)
        metrics = {
            **ledger_metrics,
            "trace.pass_s": statistics.median(p["wall"] for p in timed),
            "proc.py_worker_peak_rss_mb": timed[0]["py_rss"],
            "proc.write_mb": timed[0]["write_mb"],
            "fixtures.stage_s": setup["fixtures"],
            "setup.session_s": setup["session"],
            "ann.recall_at_10": statistics.fmean(recall.values()),
            **{f"ann.{m}_recall_at_10": r for m, r in recall.items()},
        }
        units = _declared("per_layer")
    else:
        per_entry = [statistics.median(p["entries"][n] for p in timed) for n in entries]
        metrics = {
            "pass_s": statistics.median(p["wall"] for p in timed),
            "pass_cpu_s": statistics.median(p["cpu"] for p in timed),
            "entry_p50_s": statistics.median(per_entry),
            "entry_max_s": max(per_entry),
            "setup_s": sum(setup.values()),
            "peak_rss_mb": statistics.median(p["rss"] for p in timed),
        }
        units = _declared("end_to_end")
    _log(f"passes={[round(p['wall'], 2) for p in passes]} "
         f"peak_mb={[(round(p['rss']), round(p['py_rss'])) for p in passes]} "
         f"setup={ {k: round(v, 2) for k, v in setup.items()} } "
         f"window={time.perf_counter() - window_t0:.1f}s")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }


if __name__ == "__main__":
    sys.exit(main())
