#!/usr/bin/env python3
"""Warm wall-time benchmark of the engine's query battery.

    python3 perfbench/run.py --workload tpch --seed 1 --seconds 12 --trace 0

One client in a closed loop: the entries of one workload run one after the
other in a single driver process, each starting when the previous collect
returns.  The seed permutes the entry order of every pass.  A run is

1. three session set-ups (``setup_s`` is their median),
2. one cold pass (``cold_pass_s``),
3. timed warm passes until ``--seconds`` have been measured and at least
   :data:`MIN_PASSES` passes ran,

and every collected result is checked against the DuckDB oracle outside the
timed region.  The last stdout line is one JSON object: end-to-end metrics
with ``--trace 0``; per-layer metrics with ``--trace 1``, whose passes
alternate traced and untraced so the run measures its own overhead.  See
perfbench/README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import contextlib
import datetime
import hashlib
import json
import os
import pickle
import random
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

#: process start, for the run's deadline
T_PROCESS = time.perf_counter()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import procfs  # noqa: E402
from perfbench.stats import percentile, tail_percentile  # noqa: E402

#: workload → battery-name prefixes (whole families from the registry)
WORKLOADS: dict[str, tuple[str, ...]] = {
    "tpch": ("tpch_",),
    "dedup": ("dedup_",),
}
#: timed warm passes per run, at least; the median of three drops the one
#: pass a host burst or the tail of JIT warm-up slows (see README.md)
MIN_PASSES = 3
#: passes of a traced run, at least: an untraced first pass (the one still
#: carrying most JIT warm-up) and then traced and untraced as T U U T, so
#: trace overhead is read from passes balanced over the remaining drift
TRACED_PASSES = 5
#: table scale the battery reads; a sibling of the engine's default data dir
SCALE = "sf0.01"
#: set-ups per run; setup_s is their median, a warm set-up (the first
#: launches the JVM)
SETUPS = 3
#: untimed System.gc() before every 12th entry, bench.py's base rule (its
#: extra GC before entries slower than 0.7 s cold would pick most dedup
#: entries at ~0.13 s each per pass; the run budget went to a third timed
#: pass instead, see README.md)
GC_EVERY = 12
#: stop starting passes once this many seconds have passed since process
#: start, oracle computation included, to stay inside 180 s
DEADLINE_S = 150.0


def _args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="append this run's full record (JSON line) to this file")
    return ap.parse_args(argv)


class RunDir:
    """The run's private TMPDIR / SPARK_LOCAL_DIRS / java.io.tmpdir, inside
    the checkout, deleted when the run ends."""

    def __init__(self) -> None:
        base = os.path.join(ROOT, ".perfbench", "run")
        os.makedirs(base, exist_ok=True)
        self.path = tempfile.mkdtemp(prefix=f"{os.getpid()}-", dir=base)
        self.tmp = os.path.join(self.path, "tmp")
        self.local = os.path.join(self.path, "local")
        os.makedirs(self.tmp)
        os.makedirs(self.local)

    def export(self) -> None:
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.local
        # -UsePerfData: no hsperfdata file in /tmp, which ignores tmpdir
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData"
        tempfile.tempdir = None  # re-read TMPDIR

    def tmp_usage(self) -> tuple[int, int]:
        """(bytes, top-level dirs) currently under TMPDIR."""
        total = 0
        for dirpath, _, files in os.walk(self.tmp):
            for f in files:
                try:
                    total += os.lstat(os.path.join(dirpath, f)).st_size
                except OSError:
                    pass
        dirs = sum(1 for e in os.scandir(self.tmp) if e.is_dir(follow_symlinks=False))
        return total, dirs

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def _export_env() -> None:
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))  # nproc
    # collect() renders timestamps in the Python process's zone; the engine
    # pins its sessions to UTC, and the oracle reads UTC
    os.environ["TZ"] = "UTC"
    time.tzset()


def _stop_jvm(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for both."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _reap_children() -> None:
    """Kill and wait for any process this run started that is still alive."""
    table = procfs.process_table()
    for st in procfs.descendants(table, os.getpid()):
        try:
            os.kill(st["pid"], signal.SIGKILL)
        except ProcessLookupError:
            pass
    while True:
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            return


def _result_frame(rows, columns):
    """Collected rows → the pandas frame ``toPandas()`` would give, for
    ``compare.normalize``."""
    import pandas as pd
    from pyspark.sql import Row

    def cell(v):
        if isinstance(v, datetime.datetime):
            return pd.Timestamp(v)
        if isinstance(v, bytearray):
            return bytes(v)
        if isinstance(v, Row):
            return v.asDict(recursive=True)
        return v

    return pd.DataFrame.from_records([tuple(cell(v) for v in r) for r in rows], columns=columns)


def oracle_results(sf_dir: str, names: list[str], oracles: dict[str, str]) -> dict[str, tuple]:
    """name → (sorted column names, normalized rows) of the DuckDB oracle,
    for every name with oracle SQL.

    Some oracles take DuckDB tens of seconds (the dedup family's fuzzy
    self-joins: ~73 s together at sf0.01), so results are kept on disk in
    the checkout, keyed by the SQL text, the table files' sizes and mtimes,
    the DuckDB version and the source of the engine's ``compare`` module
    (which normalizes them); a fresh checkout computes them once, in its
    first run.
    """
    import duckdb

    import native_sql_engine_spark.compare as compare
    from native_sql_engine_spark.catalog import TABLES

    stamp = [duckdb.__version__]
    with open(compare.__file__, "rb") as f:
        stamp.append(hashlib.sha256(f.read()).hexdigest())
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            st = os.stat(path)
            stamp.append(f"{t}:{st.st_size}:{st.st_mtime_ns}")
    cache_dir = os.path.join(ROOT, ".perfbench", "oracle", os.path.basename(sf_dir))
    os.makedirs(cache_dir, exist_ok=True)
    out: dict[str, tuple] = {}
    con = None
    for name in names:
        sql = oracles.get(name)
        if sql is None:
            continue
        key = hashlib.sha256("\n".join([sql, *stamp]).encode()).hexdigest()[:16]
        path = os.path.join(cache_dir, f"{name}-{key}.pkl")
        if os.path.exists(path):
            with open(path, "rb") as f:
                out[name] = pickle.load(f)  # written by this function only
            continue
        con = con or compare.duck_connection(sf_dir)
        frame = con.execute(sql).fetchdf()
        out[name] = (sorted(frame.columns), compare.normalize(frame))
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "wb") as f:
            pickle.dump(out[name], f)
        os.replace(tmp, path)
    if con is not None:
        con.close()
    return out


def result_mismatch(got: tuple, want: tuple) -> str | None:
    """The checks of ``compare.assert_matches_oracle`` on two
    (sorted column names, normalized rows) results: column names, row
    count, row values, and the decimal-scale / int-vs-float rendering drift
    that numeric equality is blind to.  None when they match."""
    from native_sql_engine_spark.compare import _rendering_drift

    (g_cols, g_rows), (w_cols, w_rows) = got, want
    if g_cols != w_cols:
        return f"columns {g_cols} vs {w_cols}"
    if len(g_rows) != len(w_rows):
        return f"{len(g_rows)} vs {len(w_rows)} rows"
    for i, (a, b) in enumerate(zip(g_rows, w_rows)):
        if a != b:
            return f"row {i} differs: {a} vs {b}"[:300]
        drift = _rendering_drift(a, b)
        if drift:
            return f"row {i}: {drift}"[:300]
    return None


def _no_span(name: str):
    return contextlib.nullcontext()


class Battery:
    """Runs and checks the entries of one workload on one session."""

    def __init__(self, spark, sf_dir: str, queries, expected: dict[str, tuple], tracer=None, reader=None):
        self.spark, self.sf_dir, self.queries = spark, sf_dir, queries
        self.tracer, self.reader = tracer, reader
        #: name → (sorted columns, normalized rows) to match: the oracle's,
        #: else the cold pass's
        self.expected = dict(expected)
        self.has_oracle = set(expected)
        self.attempted = 0
        self.failures: list[tuple[str, int, str]] = []

    def _gc(self) -> None:
        self.spark.sparkContext._jvm.System.gc()

    def _check(self, name: str, rows, columns) -> str | None:
        from native_sql_engine_spark.compare import normalize

        frame = _result_frame(rows, columns)
        got = (sorted(frame.columns), normalize(frame))
        want = self.expected.setdefault(name, got)
        err = result_mismatch(got, want)
        if err is None:
            return None
        ref = "oracle" if name in self.has_oracle else "cold pass"
        return f"result differs from the {ref}: {err}"

    def run_pass(self, idx: int, order: list[str], traced: bool) -> dict[str, tuple[float, float]]:
        """One pass; returns name → (build s, collect s) for entries that
        succeeded.  Failures are recorded, never dropped from the count."""
        times: dict[str, tuple[float, float]] = {}
        tr = self.tracer if traced else None
        this_pass: dict[str, dict[str, float]] = {}
        if tr is not None:
            tr.enabled = True
            self.reader.mark()
        for i, name in enumerate(order):
            if i % GC_EVERY == 0:
                self._gc()
            self.attempted += 1
            span = tr.span if tr is not None else _no_span
            try:
                with span(f"entry:{name}"):
                    t0 = time.perf_counter()
                    with span("queries.build"):
                        df = self.queries[name](self.spark, self.sf_dir)
                    t1 = time.perf_counter()
                    with span("queries.collect"):
                        rows = df.collect()
                    t2 = time.perf_counter()
            except Exception as exc:  # an entry failing is a result, not a crash
                first_line = (str(exc).splitlines() or [""])[0][:200]
                self.failures.append((name, idx, f"{type(exc).__name__}: {first_line}"))
                continue
            if tr is not None:
                this_pass[name] = self.reader.entry_counts(df)
                for k, v in this_pass[name].items():
                    tr.add(k, v)
            err = self._check(name, rows, df.columns)
            if err:
                self.failures.append((name, idx, err))
                continue
            times[name] = (t1 - t0, t2 - t1)
        if tr is not None:
            tr.enabled = False
            tr.passes.append(this_pass)
        return times


def _setup(sf_dir: str, t_start: float | None) -> tuple[object, float, float]:
    """One set-up: session start + table registration.  Returns
    (spark, session seconds, register seconds); the first set-up's session
    time counts from ``t_start`` and includes the JVM launch."""
    from native_sql_engine_spark import get_spark
    from native_sql_engine_spark.catalog import register_tables

    t0 = time.perf_counter() if t_start is None else t_start
    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    register_tables(spark, sf_dir)
    return spark, t1 - t0, time.perf_counter() - t1


def main(argv: list[str]) -> int:
    args = _args(argv)
    try:
        import native_sql_engine_spark.catalog as catalog
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable: {exc}", file=sys.stderr)
        return 2
    sf_dir = os.path.join(os.path.dirname(catalog.DEFAULT_SF_DIR.rstrip("/")), SCALE)
    if not os.path.isfile(os.path.join(sf_dir, "lineitem.parquet")):
        print(f"perfbench: no {SCALE} test tables at {sf_dir}", file=sys.stderr)
        return 2

    _export_env()
    tracer = None
    if args.trace:
        from perfbench.trace import Tracer

        tracer = Tracer()
        tracer.wrap_layers()  # before the query modules bind these names

    from native_sql_engine_spark.queries import all_oracles

    oracles = all_oracles()
    every_prefix = tuple(p for ps in WORKLOADS.values() for p in ps)
    # a fresh checkout's first run fills the cache for every workload
    known = oracle_results(sf_dir, sorted(n for n in oracles if n.startswith(every_prefix)), oracles)
    expected = {n: r for n, r in known.items() if n.startswith(WORKLOADS[args.workload])}

    run_dir = RunDir()
    run_dir.export()
    spark = None
    t_start = time.perf_counter()
    try:
        record = _run(args, sf_dir, run_dir, t_start, expected, tracer)
        spark = record.pop("_spark")
    finally:
        try:
            if spark is not None:
                _stop_jvm(spark)
        finally:
            _reap_children()
            run_dir.remove()

    for name, idx, err in record["failures"]:
        print(f"FAILED {name} (pass {'cold' if idx < 0 else idx}): {err}")
    print(
        f"workload={args.workload} seed={args.seed} trace={args.trace} passes={record['passes']} "
        f"entries={record['entries']} tail=p{record['tail_p']} of {record['tail_n']} samples "
        f"tmp_mb_left={record['tmp_mb_left']:.3f} MB host.steal_s={record['steal_s']:.2f} "
        + " ".join(f"wall.{k}={v:.1f}s" for k, v in record["walls"].items())
    )
    if args.out:
        with open(args.out, "a") as f:
            f.write(json.dumps({k: v for k, v in record.items() if k != "result"} | record["result"]) + "\n")
    print(json.dumps(record["result"]))
    return 0


def _run(args: argparse.Namespace, sf_dir: str, run_dir: RunDir, t_start: float, expected, tracer) -> dict:
    reader = None
    steal0 = procfs.read_steal_s()
    setups = []
    spark = None
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        spark, session_s, register_s = _setup(sf_dir, t_start if i == 0 else None)
        setups.append((session_s, register_s))

    from native_sql_engine_spark.queries import all_queries

    queries = all_queries()
    names = sorted(n for n in queries if n.startswith(WORKLOADS[args.workload]))
    if args.trace:
        from perfbench.trace import StatusReader

        reader = StatusReader(spark)
    bat = Battery(spark, sf_dir, queries, expected, tracer, reader)
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    rng = random.Random(args.seed)

    def order() -> list[str]:
        o = list(names)
        rng.shuffle(o)
        return o

    t_cold = time.perf_counter()
    cold = bat.run_pass(-1, order(), traced=False)
    tmp0 = run_dir.tmp_usage()

    passes: list[dict[str, tuple[float, float]]] = []
    traced_flags: list[bool] = []
    layer_cpu: list[tuple[float, float]] = []
    t_timed = time.perf_counter()
    min_passes = TRACED_PASSES if args.trace else MIN_PASSES
    while len(passes) < min_passes or time.perf_counter() - t_timed < args.seconds:
        if passes and time.perf_counter() - T_PROCESS > DEADLINE_S:
            break
        i = len(passes)
        traced = bool(args.trace) and i > 0 and (i - 1) % 4 in (0, 3)
        cpu0 = (procfs.own_cpu_s(procfs.read_pid_stat(jvm_pid)), procfs.child_cpu_s(jvm_pid))
        passes.append(bat.run_pass(len(passes), order(), traced))
        cpu1 = (procfs.own_cpu_s(procfs.read_pid_stat(jvm_pid)), procfs.child_cpu_s(jvm_pid))
        traced_flags.append(traced)
        if traced:
            layer_cpu.append((cpu1[0] - cpu0[0], cpu1[1] - cpu0[1]))
    tmp1 = run_dir.tmp_usage()
    walls = {
        "setup": t_cold - t_start,
        "cold": t_timed - t_cold,
        "timed": time.perf_counter() - t_timed,
    }

    def total(p: dict[str, tuple[float, float]]) -> float:
        return sum(b + c for b, c in p.values())

    samples = [b + c for p in passes for b, c in p.values()]
    by_entry: dict[str, list[float]] = {}
    for p in passes:
        for name, (b, c) in p.items():
            by_entry.setdefault(name, []).append(b + c)
    tail_n = len(names) * MIN_PASSES
    tail_p = tail_percentile(tail_n)
    steal_s = procfs.read_steal_s() - steal0
    n_failed = len(bat.failures)

    if not args.trace:
        metrics = {
            "setup_s": (statistics.median_low(s + r for s, r in setups), "s"),
            "cold_pass_s": (total(cold), "s"),
            "pass_s": (statistics.median_low(total(p) for p in passes), "s"),
            # median over entries of each entry's median.  The median of all
            # samples, or a nearest-rank one over entries, is one entry's
            # time and jumps across the gaps between entries; with an even
            # entry count this is the mean of the two middle entries
            "entry_p50_s": (statistics.median(statistics.median_low(v) for v in by_entry.values()), "s"),
            "entry_tail_s": (percentile(samples, tail_p), "s"),
        }
    else:
        metrics = _layer_metrics(
            tracer, setups, passes, traced_flags, layer_cpu, spark, jvm_pid,
            (tmp1[0] - tmp0[0], tmp1[1] - tmp0[1]), steal_s,
        )
        _write_trace(args, tracer, metrics)

    result = {
        "correct": n_failed == 0,
        "attempted": bat.attempted,
        "failed": n_failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return {
        "_spark": spark,
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "passes": len(passes),
        "entries": len(names),
        "tail_p": tail_p,
        "tail_n": tail_n,
        "steal_s": steal_s,
        # MB left in the run's TMPDIR per timed pass; 0 on both workloads
        # today, so it is printed here rather than gated as a metric
        "tmp_mb_left": (tmp1[0] - tmp0[0]) / max(1, len(passes)) / (1024 * 1024),
        "failures": bat.failures,
        "pass_totals": [total(p) for p in passes],
        "walls": walls,
        "result": result,
    }


def _layer_metrics(tracer, setups, passes, traced_flags, layer_cpu, spark, jvm_pid, tmp_delta, steal_s):
    """Per-layer metrics: per traced pass (mean over the run's traced
    passes) unless the name says otherwise."""
    from bench import _jvm_heap_peak_mb  # the repo's own bench harness

    n = max(1, sum(traced_flags))
    c = tracer.counts

    def per_pass(key: str, scale: float = 1.0) -> float:
        return c.get(key, 0.0) / n * scale

    traced = [p for p, t in zip(passes, traced_flags) if t]
    untraced = [p for p, t in zip(passes[1:], traced_flags[1:]) if not t]

    def med_total(ps):
        return statistics.median(sum(b + x for b, x in p.values()) for p in ps) if ps else 0.0

    mb = 1 / (1024 * 1024)
    run_s = per_pass("executorRunTime", 1e-3)
    cpu_s = per_pass("executorCpuTime", 1e-9)
    jvm_cpu = statistics.mean(j for j, _ in layer_cpu) if layer_cpu else 0.0
    tasks = per_pass("numCompleteTasks") + per_pass("numFailedTasks")
    heap = _jvm_heap_peak_mb(spark) or 0.0
    rss = procfs.read_rss_peak_mb(jvm_pid) or 0.0
    return {
        "session.start_s": (statistics.median(s for s, _ in setups), "s"),
        "catalog.register_s": (statistics.median(r for _, r in setups), "s"),
        "setup.cold_s": (sum(setups[0]), "s"),
        "queries.build_s": (statistics.mean(sum(b for b, _ in p.values()) for p in traced), "s"),
        "queries.collect_s": (statistics.mean(sum(x for _, x in p.values()) for p in traced), "s"),
        "materialize.calls": (per_pass("materialize.materialize.calls"), "count"),
        "materialize.s": (per_pass("materialize.s"), "s"),
        "materialize.release_calls": (per_pass("materialize.release.calls"), "count"),
        "operators.dedup.s": (per_pass("operators.dedup.s"), "s"),
        "operators.similarity.s": (per_pass("operators.similarity.s"), "s"),
        "python.worker_cpu_s": (statistics.mean(p for _, p in layer_cpu) if layer_cpu else 0.0, "s"),
        "catalyst.analysis_ms": (per_pass("catalyst.analysis_ms"), "ms"),
        "catalyst.optimization_ms": (per_pass("catalyst.optimization_ms"), "ms"),
        "catalyst.planning_ms": (per_pass("catalyst.planning_ms"), "ms"),
        "exec.jobs": (per_pass("exec.jobs"), "count"),
        "exec.stages": (per_pass("exec.stages"), "count"),
        "exec.stages_skipped": (per_pass("exec.stages_skipped"), "count"),
        "exec.tasks": (tasks, "count"),
        "exec.run_s": (run_s, "s"),
        "exec.cpu_s": (cpu_s, "s"),
        "exec.gc_s": (per_pass("jvmGcTime", 1e-3), "s"),
        "exec.offcpu_ratio": (run_s / cpu_s if cpu_s else 0.0, "ratio"),
        "exec.input_mb": (per_pass("inputBytes", mb), "MB"),
        "exec.output_mb": (per_pass("outputBytes", mb), "MB"),
        "shuffle.read_mb": (per_pass("shuffleReadBytes", mb), "MB"),
        "shuffle.write_mb": (per_pass("shuffleWriteBytes", mb), "MB"),
        "spill.mb": (per_pass("memoryBytesSpilled", mb) + per_pass("diskBytesSpilled", mb), "MB"),
        "exec.failed_tasks": (per_pass("numFailedTasks"), "count"),
        "exec.task_waste": (per_pass("numFailedTasks") / tasks if tasks else 0.0, "ratio"),
        "jvm.cpu_s": (jvm_cpu, "s"),
        "jvm.other_cpu_s": (jvm_cpu - cpu_s, "s"),
        "jvm.heap_peak_mb": (heap, "MB"),
        "jvm.rss_peak_mb": (rss, "MB"),
        "tmp.bytes_left": (tmp_delta[0] / max(1, len(passes)), "bytes"),
        "tmp.dirs_left": (tmp_delta[1] / max(1, len(passes)), "count"),
        "host.steal_s": (steal_s, "s"),
        "trace.pass_s": (med_total(traced), "s"),
        "trace.overhead": (med_total(traced) / med_total(untraced) if untraced else 0.0, "ratio"),
    }


def _write_trace(args, tracer, metrics) -> None:
    out_dir = os.path.join(ROOT, ".perfbench", "traces")
    os.makedirs(out_dir, exist_ok=True)
    t0 = tracer.spans[0][1] if tracer.spans else 0.0
    doc = {
        "workload": args.workload,
        "seed": args.seed,
        "spans": [[n, round(s - t0, 6), round(e - t0, 6), p] for n, s, e, p in tracer.spans],
        "counts": tracer.counts,
        "passes": tracer.passes,
        "metrics": {k: v for k, (v, _) in metrics.items()},
    }
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
    with open(path, "w") as f:
        json.dump(doc, f)
    print(f"trace written to {os.path.relpath(path, ROOT)}")


if __name__ == "__main__":
    try:
        sys.exit(main(sys.argv[1:]))
    except Exception:
        traceback.print_exc()
        sys.exit(1)
