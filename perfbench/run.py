"""Benchmark entry point: one workload, one process, one closed-loop client.

    python3 perfbench/run.py --workload catalog_rw --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The program under test is the
``pandas_db_sdk_spark`` package next to this directory; without it the run
exits with code 2 and prints no result.

The run sets its own environment (all cores of the machine, a 3 GB driver,
Python workers that import the package from this checkout, every temporary,
spark-local and warehouse directory in one ``.perfbench-*`` directory of the
checkout, removed at exit), starts one Spark session, generates the
workload's inputs from ``--seed``, runs untimed warm-up passes, then times
whole passes of ops until ``--seconds`` of op time have been measured. Every
op's output is checked outside the timers.

Standard output ends with two JSON lines. The last is the result:
``correct``, ``attempted``, ``failed`` and ``metrics``; with ``--trace 0``
the metrics are ``END_TO_END``, with ``--trace 1`` they are ``PER_LAYER``,
taken from spans recorded around the package's public functions on every
other op (the ops in between run untraced, which gives the tracing
overhead). The line before it, ``{"detail": {...}}``, holds every other
metric the run measured, such as the per-op-kind latencies of each
workload. ``METRICS.md`` defines each metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "pandas_db_sdk_spark"

# Input sizes, chosen so that one run of each workload fits the time the
# whole benchmark is given; METRICS.md records the timings behind them.
# sf: row-count scale of the generated tables (sf=0.1: 600K lineitem rows).
SIZES = {
    "full": {
        "catalog_sf": 0.1,
        "ev_rows": 10_000,
        "li_rows": 20_000,
        "olap_sf": 0.1,
        "prep_sf": 0.1,
        "shard_docs": 1000,
    },
    # for the benchmark's own tests
    "smoke": {
        "catalog_sf": 0.01,
        "ev_rows": 500,
        "li_rows": 500,
        "olap_sf": 0.01,
        "prep_sf": 0.01,
        "shard_docs": 300,
    },
}
# untimed passes before timing starts: the JVM's JIT keeps speeding up the
# ops for a few passes after the first (catalog_rw: 21 s, 7.2 s, 4.5 s,
# then 2.8-3.2 s per pass; corpus_prep: 24 s, 12 s, then 8.5-10 s). A
# corpus_prep shard costs as much as three catalog_rw passes, so it gets
# one warm-up pass to keep the whole benchmark within its time budget.
WARMUP_PASSES = {"catalog_rw": 3, "olap_queries": 1, "corpus_prep": 1}
# timed passes at least: one, or two when traced so that trace toggling
# covers every op key
MIN_PASSES = {0: 1, 1: 2}
WALL_LIMIT_S = 140.0  # start no new pass past this, to end within 180 s
TAIL_BEYOND = 10  # a tail latency leaves this many samples beyond it

# the result line's metrics (name → unit), as BENCHMARK.json lists them
END_TO_END = {"setup_s": "s", "rows_per_cpu_s": "1/s"}
PER_LAYER = {
    "session.start_s": "s",
    "trace.overhead_ratio": "ratio",
    "trace.unspanned_ratio": "ratio",
    "client.self_s": "s",
    "client.to_pandas_s": "s",
    "engine.save.ingest_s": "s",
    "engine.save.write_s": "s",
    "engine.save.self_s": "s",
    "engine.save.tasks": "count",
    "engine.files_per_save": "count",
    "engine.bytes_written_per_user_byte": "ratio",
    "engine.load_s": "s",
    "engine.files_per_get": "count",
    "engine.list_s": "s",
    "engine.manifest_bytes": "B",
    "pipeline.prepare_corpus.self_s": "s",
    "text.quality_score.plan_s": "s",
    "dedup.exact_dedup.plan_s": "s",
    "dedup.minhash_lsh_pairs.plan_s": "s",
    "packing.pack_greedy.plan_s": "s",
    "packing.shard_assign.plan_s": "s",
    "scratch.persist_s": "s",
    "pipeline.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "scratch.persist_calls": "count",
    "scratch.hit_ratio": "ratio",
    "dedup.near_dup_pairs": "count",
    "pipeline.survivor_ratio": "ratio",
    "packing.fill_ratio": "ratio",
}

# span name → per-layer time metric: the median, over the traced ops that
# hold such a span, of the op's self time in spans of that name
SPAN_METRICS = {
    "client.load_dataframe": "client.self_s",
    "client.list_dataframes": "client.self_s",
    "client.get_dataframe": "client.to_pandas_s",
    "engine.save.ingest": "engine.save.ingest_s",
    "engine.save.write": "engine.save.write_s",
    "engine.save": "engine.save.self_s",
    "engine.load": "engine.load_s",
    "engine.list": "engine.list_s",
    "corpus.plan": "corpus.plan_s",
    "corpus.exec": "corpus.exec_s",
    "pipeline.prepare_corpus": "pipeline.prepare_corpus.self_s",
    "text.quality_score": "text.quality_score.plan_s",
    "dedup.exact_dedup": "dedup.exact_dedup.plan_s",
    "dedup.minhash_lsh_pairs": "dedup.minhash_lsh_pairs.plan_s",
    "packing.pack_greedy": "packing.pack_greedy.plan_s",
    "packing.shard_assign": "packing.shard_assign.plan_s",
    "scratch.persist": "scratch.persist_s",
    "pipeline.exec": "pipeline.exec_s",
}


# ------------------------------------------------------------- environment


def hermetic_env(tmp: str) -> dict[str, str]:
    """Environment for the Spark JVM and its Python workers."""
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEM": "3g",
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "SPARK_LAUNCHER_OPTS": java_opts,  # the spark-submit launcher JVM
        "PYSPARK_SUBMIT_ARGS": " ".join(
            [
                f"--conf spark.sql.warehouse.dir={os.path.join(tmp, 'spark-warehouse')}",
                "--conf spark.ui.showConsoleProgress=false",
                f"--driver-java-options '{java_opts}'",
                "pyspark-shell",
            ]
        ),
    }


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants (the
    Spark JVM and its Python workers), children already reaped included."""
    parent, ticks = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # the process ended while we read
        parent[int(d)] = int(fields[1])
        ticks[int(d)] = sum(map(int, fields[11:15]))  # utime stime cutime cstime
    tree, todo = set(), [os.getpid()]
    while todo:
        pid = todo.pop()
        tree.add(pid)
        todo.extend(c for c, pp in parent.items() if pp == pid)
    return sum(ticks[p] for p in tree if p in ticks) / os.sysconf("SC_CLK_TCK")


def vm_hwm_kb(pid: int) -> int:
    """Peak resident set size of a process, from /proc (0 if gone)."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


# ------------------------------------------------------------- tracing


def install_wrappers(tracer, spark) -> None:
    """Span every public function each workload's ops go through, at the
    attribute its callers resolve."""
    from pyspark.sql.readwriter import DataFrameWriter

    from pandas_db_sdk_spark import _scratch, dedup, packing, pipeline, text
    from pandas_db_sdk_spark.client import DataFrameClient
    from pandas_db_sdk_spark.engine import DataFrameEngine

    def under_save(name):
        # Spark calls made by the engine's save get their own span; any
        # other caller's time stays in the caller's span
        return lambda: f"engine.save.{name}" if tracer.parent_name() == "engine.save" else None

    def keep_result(span, args, kwargs, out):
        span.attrs["result"] = out

    def scratch_hit(span, args, kwargs, out):
        # a pool hit hands back the live cached frame; a miss persists
        # and returns the caller's own frame
        span.attrs["hit"] = out is not (args[0] if args else kwargs["df"])

    tracer.wrap(type(spark), "createDataFrame", under_save("ingest"))
    tracer.wrap(DataFrameWriter, "parquet", under_save("write"))
    for attr in ("load_dataframe", "get_dataframe", "list_dataframes"):
        tracer.wrap(DataFrameClient, attr, f"client.{attr}")
    tracer.wrap(DataFrameEngine, "save", "engine.save")
    tracer.wrap(DataFrameEngine, "load", "engine.load")
    tracer.wrap(DataFrameEngine, "list_datasets", "engine.list")
    tracer.wrap(pipeline, "prepare_corpus", "pipeline.prepare_corpus")
    tracer.wrap(text, "quality_score", "text.quality_score")
    tracer.wrap(dedup, "exact_dedup", "dedup.exact_dedup")
    tracer.wrap(dedup, "minhash_lsh_pairs", "dedup.minhash_lsh_pairs", keep_result)
    tracer.wrap(packing, "pack_greedy", "packing.pack_greedy")
    tracer.wrap(packing, "shard_assign", "packing.shard_assign")
    tracer.wrap(_scratch, "scratch_persist", "scratch.persist", scratch_hit)
    tracer.wrap(dedup, "scratch_persist", "scratch.persist", scratch_hit)


def observe_spans(tracer, root, key: str, counts) -> None:
    """Per-op span counts of one traced op into ``counts``."""
    from spans import descendants

    spans = tracer.op_spans(root)
    tracer.job_counts(spans)
    for attr in ("jobs", "stages", "tasks", "failed_tasks"):
        counts.put(f"spark.{attr}", key, sum(s.attrs[attr] for s in spans))
    saves = [s for s in spans if s.name == "engine.save"]
    if saves:
        counts.put(
            "engine.save.tasks",
            key,
            sum(d.attrs["tasks"] for s in saves for d in descendants(spans, s)),
        )
    persists = [s for s in spans if s.name == "scratch.persist"]
    counts.put("scratch.persist_calls", key, len(persists))
    counts.put("scratch.hits", key, sum(s.attrs["hit"] for s in persists))


def layer_metrics(tracer, run, counts, session_s) -> dict:
    """The per-layer metrics of a traced run, name → (value, unit)."""
    from spans import self_times

    selfs = self_times(tracer.spans)
    per_op: dict[str, dict[int, float]] = {}  # metric → op → self seconds
    unspanned = 0.0
    for s in tracer.spans:
        if s.parent is None:
            unspanned += selfs[s.id]
        else:
            op_self = per_op.setdefault(SPAN_METRICS[s.name], {})
            op_self[s.op] = op_self.get(s.op, 0.0) + selfs[s.id]
    out = {name: (0.0, unit) for name, unit in PER_LAYER.items()}
    out.update({m: (statistics.median(v.values()), "s") for m, v in per_op.items()})

    traced, untraced = run.walls[True], run.walls[False]
    both = [k for k in traced if k in untraced]
    traced_mean = sum(statistics.fmean(traced[k]) for k in both)
    untraced_mean = sum(statistics.fmean(untraced[k]) for k in both)
    persist_calls = counts.total("scratch.persist_calls")
    bytes_user = counts.total("engine.user_bytes")
    out.update(
        {
            "session.start_s": (session_s, "s"),
            "trace.overhead_ratio": (traced_mean / untraced_mean - 1.0, "ratio"),
            "trace.unspanned_ratio": (
                unspanned / sum(w for ws in traced.values() for w in ws),
                "ratio",
            ),
            "spark.jobs": (counts.mean("spark.jobs"), "count"),
            "spark.stages": (counts.mean("spark.stages"), "count"),
            "spark.tasks": (counts.mean("spark.tasks"), "count"),
            "spark.failed_tasks": (counts.mean("spark.failed_tasks"), "count"),
            "scratch.persist_calls": (counts.mean("scratch.persist_calls"), "count"),
            "scratch.hit_ratio": (
                counts.total("scratch.hits") / persist_calls if persist_calls else 0.0,
                "ratio",
            ),
            "dedup.near_dup_pairs": (counts.mean("dedup.near_dup_pairs"), "count"),
            "pipeline.survivor_ratio": (counts.mean("pipeline.survivor_ratio"), "ratio"),
            "packing.fill_ratio": (counts.mean("packing.fill_ratio"), "ratio"),
            "engine.save.tasks": (counts.mean("engine.save.tasks"), "count"),
            "engine.files_per_save": (counts.mean("engine.files_per_save"), "count"),
            "engine.files_per_get": (counts.mean("engine.files_per_get"), "count"),
            "engine.bytes_written_per_user_byte": (
                counts.total("engine.bytes_written") / bytes_user if bytes_user else 0.0,
                "ratio",
            ),
            "engine.manifest_bytes": (counts.extra.get("engine.manifest_bytes", 0), "B"),
        }
    )
    if "catalog.space_amp" in counts.extra:
        out["catalog.space_amp"] = (counts.extra["catalog.space_amp"], "ratio")
    return out


# ------------------------------------------------------------- the run


def tail(values: list[float]) -> tuple[float, float] | None:
    """(value, percentile) of the slowest sample that has ``TAIL_BEYOND``
    samples beyond it; None when that sample would not lie above the
    median."""
    n = len(values)
    if n < 2 * TAIL_BEYOND + 1:
        return None
    return sorted(values)[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n


class Run:
    """Outcome of one workload run: op counts and the timings of every
    timed op, split by whether the op was traced."""

    def __init__(self, workload: str):
        self.workload = workload
        self.attempted = 0
        self.failed = 0
        self.setup_s = 0.0
        self.passes: list[list[tuple[str, float, int]]] = []  # untraced (kind, s, rows)
        self.cpu_s = 0.0  # CPU seconds of the untraced timed ops
        self.walls: dict[bool, dict[str, list[float]]] = {True: {}, False: {}}  # by key

    def timings(self, prefix: str, dts: list[float]) -> dict:
        out = {f"{prefix}_p50_s": (statistics.median(dts), "s"), f"{prefix}_n": (len(dts), "count")}
        t = tail(dts)
        if t is not None:
            out[f"{prefix}_tail_s"] = (t[0], "s")
            out[f"{prefix}_tail_pct"] = (t[1], "%")
        return out

    def end_to_end(self, peak_rss_mb: float, counts) -> dict:
        """Every untraced metric, name → (value, unit)."""
        ops = [op for p in self.passes for op in p]
        op_s = sum(dt for _, dt, _ in ops)
        rows = sum(r for _, _, r in ops)
        rows_per_s = rows / op_s
        pass_s = statistics.median(sum(dt for _, dt, _ in p) for p in self.passes)
        by_kind: dict[str, list[float]] = {}
        for kind, dt, _ in ops:
            by_kind.setdefault(kind, []).append(dt)
        out = {
            "setup_s": (self.setup_s, "s"),
            "pass_s": (pass_s, "s"),
            "rows_per_s": (rows_per_s, "1/s"),
            "rows_per_cpu_s": (rows / self.cpu_s, "1/s"),
            "peak_rss_mb": (peak_rss_mb, "MB"),
            "failed_ratio": (self.failed / self.attempted, "ratio"),
        }
        if self.workload == "catalog_rw":
            out.update(self.timings("catalog.save", by_kind["save"]))
            out.update(self.timings("catalog.get", by_kind["get"]))
            out["catalog.rows_per_s"] = (rows_per_s, "1/s")
            out["catalog.space_amp"] = (counts.extra["catalog.space_amp"], "ratio")
        elif self.workload == "olap_queries":
            out["olap.pass_s"] = (pass_s, "s")
            out.update(self.timings("olap.query", by_kind["query"]))
        else:
            out.update(self.timings("prep.shard", by_kind["shard"]))
            out["prep.docs_per_s"] = (rows_per_s, "1/s")
        return out


def run_workload(spark, tracer, name, seed, seconds, trace, size, work_dir, t_start):
    """Set up workload ``name``, run its warm-up passes, then time whole
    passes until ``seconds`` of op time (and at least ``MIN_PASSES``)."""
    import workloads

    wl = workloads.WORKLOADS[name](spark, work_dir, seed, size, tracer)
    counts = workloads.Counts()
    run = Run(name)

    def run_op(op, traced: bool):
        """(seconds, rows, CPU seconds) of a passing op, None for a failed
        one."""
        run.attempted += 1
        try:
            cpu0 = tree_cpu_s()
            t0 = time.perf_counter()
            with tracer.op("bench.op", traced) as root:
                out = op.run()
            dt = time.perf_counter() - t0
            cpu = tree_cpu_s() - cpu0
            ok = op.check(out)
            if ok and traced:
                observe_spans(tracer, root, op.key, counts)
                if op.observe is not None:
                    op.observe(out, root, counts)
            rows = op.rows(out)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            ok = False
        if not ok:
            print(f"{name}: op {op.key} failed", file=sys.stderr)
            run.failed += 1
            return None
        return dt, rows, cpu

    wl.setup()
    for p in range(WARMUP_PASSES[name]):
        for op in wl.cycle(p):
            run_op(op, traced=False)
    run.setup_s = time.perf_counter() - t_start

    timed_s, n_op, i = 0.0, 0, 0
    while i < MIN_PASSES[trace] or (timed_s < seconds and time.perf_counter() - t_start < WALL_LIMIT_S):
        ops = wl.cycle(WARMUP_PASSES[name] + i)
        done = []
        for op in ops:
            # odd pass length: alternate op by op, which alternates each
            # op key across passes; even length: alternate whole passes
            unit = n_op if len(ops) % 2 else i
            traced = bool(trace) and unit % 2 == 0
            n_op += 1
            res = run_op(op, traced)
            if res is None:
                continue
            dt, rows, cpu = res
            timed_s += dt
            run.walls[traced].setdefault(op.key, []).append(dt)
            if not traced:
                done.append((op.kind, dt, rows))
                run.cpu_s += cpu
        if done:
            run.passes.append(done)
        i += 1
    wl.finish(counts)
    return run, counts


def main(argv=None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("catalog_rw", "olap_queries", "corpus_prep"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=tuple(SIZES), default="full")
    ap.add_argument("--spans-out", help="write the traced run's spans here (JSON lines)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"{PACKAGE} not found under {ROOT}: nothing to benchmark", file=sys.stderr)
        return 2
    tmp = tempfile.mkdtemp(prefix=".perfbench-", dir=ROOT)
    # on SIGTERM, unwind through the finally blocks: stop Spark, remove tmp
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        os.environ.pop("SPARK_GRAFT_HOT_CACHE", None)
        os.environ.update(hermetic_env(tmp))
        sys.path.insert(0, ROOT)
        metrics, result = measure(args, tmp, t_start)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    contract = PER_LAYER if args.trace else END_TO_END
    as_json = lambda names: {k: {"value": metrics[k][0], "unit": metrics[k][1]} for k in names}
    print(json.dumps({"detail": as_json(k for k in metrics if k not in contract)}))
    result["metrics"] = as_json(contract)
    print(json.dumps(result), flush=True)
    return 0


def measure(args, tmp: str, t_start: float) -> tuple[dict, dict]:
    import pandas_db_sdk_spark
    from pyspark import SparkContext

    from spans import Tracer

    if not os.path.abspath(pandas_db_sdk_spark.__file__).startswith(ROOT + os.sep):
        raise RuntimeError(f"{PACKAGE} imported from outside {ROOT}")
    t0 = time.perf_counter()
    spark = pandas_db_sdk_spark.get_spark("perfbench")
    session_s = time.perf_counter() - t0
    jvm = SparkContext._gateway.proc
    tracer = Tracer(spark.sparkContext)
    try:
        if args.trace:
            install_wrappers(tracer, spark)
        run, counts = run_workload(
            spark, tracer, args.workload, args.seed, args.seconds, args.trace,
            SIZES[args.size], tmp, t_start,
        )
        peak_rss_mb = (vm_hwm_kb(os.getpid()) + vm_hwm_kb(jvm.pid)) / 1024.0
    finally:
        tracer.unwrap_all()
        spark.stop()
        SparkContext._gateway.shutdown()
        jvm.stdin.close()  # the gateway JVM exits on EOF
        jvm.wait(timeout=60)
    if args.trace:
        if args.spans_out:
            tracer.dump(args.spans_out)
        metrics = layer_metrics(tracer, run, counts, session_s)
    else:
        metrics = run.end_to_end(peak_rss_mb, counts)
    result = {"correct": run.failed == 0, "attempted": run.attempted, "failed": run.failed}
    return metrics, result


if __name__ == "__main__":
    sys.exit(main())
