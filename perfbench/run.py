"""The repository's benchmark: one seeded workload per call, every output checked.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The last line of stdout is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``. The
line before it holds the run's detail (per-op-type latency and job counts,
the tail percentile, ``ok_rate``); the same detail is written under
``perfbench/.work/runs/``. The exit code is 0 only when every op succeeded
and every output check passed. See ``perfbench/README.md``.
"""

import time

_T0 = time.perf_counter()  # process start, the zero of setup_s

import argparse  # noqa: E402
import itertools  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass  # noqa: E402

import datagen  # noqa: E402
import eventlog  # noqa: E402
import inputs  # noqa: E402
import latency  # noqa: E402
from layers import (  # noqa: E402
    PER_LAYER_UNITS,
    Recorder,
    layer_metrics,
    spark_spans,
    type_summary,
)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PACKAGE = "stock_data_pipeline_spark"
WORKLOADS = ("dashboard", "ingest")
# Untimed warm-up. The first round or cycle pays one-time costs (plan
# build, Python worker start); op latencies keep falling for a few more as
# the JVM compiles the hot paths. On a 4-vCPU host a round of seven panels
# fell from 10.2 s (first) through 2.8, 2.4, 2.0, 1.9 and 1.8 s to a
# plateau of 1.4-1.7 s from the seventh round on; the five-panel rounds
# timed after six warm ones take 1.0-1.6 s. The first ingest batch takes
# ~12 s, later ones 1.4-1.9 s.
DASHBOARD_WARM_ROUNDS = 6
INGEST_WARM_CYCLES = 2
# A run measures a fixed number of whole rounds or cycles, set by --seconds
# and the time one takes on a 4-vCPU host, so every run of a workload does
# the same work however fast the host is at the time.
DASHBOARD_ROUND_S = 1.35
INGEST_CYCLE_S = 7.0
CHILD_TIMEOUT_S = 100  # untraced runs take 45-70 s; a trace run must end within 180 s

END_TO_END_UNITS = {"setup_s": "s", "op_p50_s": "s", "ops_per_s": "1/s"}


# Other tenants of a virtual machine's host take CPU time from it, which
# /proc/stat counts as steal. On a 4-vCPU host it came in bursts of 15-35%
# of the machine's CPU time, 30-50 s long, that made every op they hit up
# to twice as slow. A round or cycle with more steal than STEAL_QUIET is
# made up by an extra one, up to a third as many extras as measured units,
# and the metrics use the quietest units. Steal is never the program's own
# time, so this cannot hide a change to the program.
STEAL_QUIET = 0.05


def timed_units(seconds: int, unit_s: float) -> int:
    """Whole rounds or cycles a run of ``seconds`` measures."""
    return max(1, math.ceil(seconds / unit_s))


def cpu_steal() -> tuple[int, int]:
    """(steal, total) CPU time of the machine so far, in clock ticks; (0, 0)
    where the kernel reports none."""
    try:
        with open("/proc/stat") as f:
            ticks = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return 0, 0
    return (ticks[7] if len(ticks) == 8 else 0), sum(ticks)


@dataclass
class Unit:
    """One timed round or cycle: its ops, wall time and share of steal."""

    ops: list[str]
    wall_s: float
    steal: float


def measure_units(run: "Run", n: int, body) -> None:
    """Run ``body(i)`` for ``n`` units, then more while fewer than ``n`` were
    quiet, up to ``ceil(n / 3)`` more; the metrics use the ``n`` quietest."""
    units: list[Unit] = []
    while len(units) < n or (len(units) < n + math.ceil(n / 3)
                             and sum(u.steal <= STEAL_QUIET for u in units) < n):
        before, (steal0, total0) = len(run.op_type), cpu_steal()
        start = time.perf_counter()
        body(len(units))
        wall = time.perf_counter() - start
        steal1, total1 = cpu_steal()
        share = (steal1 - steal0) / (total1 - total0) if total1 > total0 else 0.0
        units.append(Unit(list(run.op_type)[before:], wall, share))
    run.units = units
    run.used = sorted(sorted(range(len(units)), key=lambda k: units[k].steal)[:n])
    run.wall_s = sum(units[k].wall_s for k in run.used)


class Run:
    """State of one benchmark run: what was timed, what failed, what was checked."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.rec = Recorder(keep=trace)
        self.op_type: dict[str, str] = {}  # op id -> op type, timed ops only
        self.latency: dict[str, float] = {}  # op id -> seconds, successful ops
        self.failed: dict[str, str] = {}  # op id -> error
        self.check_failures: list[str] = []
        self.layer: dict[str, float] = {}
        self.extra: dict = {}
        self.setup_s = 0.0
        self.wall_s = 0.0
        self.sample_ops: list[str] = []  # op ids whose latency feeds op_p50_s
        self.units: list[Unit] = []
        self.used: list[int] = []  # indices of the units the metrics use

    def used_ops(self) -> list[str]:
        """Timed ops of the units the metrics use that completed."""
        return [op for k in self.used for op in self.units[k].ops if op in self.latency]


def _env_for_spark() -> None:
    # Spark's Python workers import the package (mapInPandas, pandas UDFs);
    # they inherit this process's environment, so the checkout root must be
    # on their PYTHONPATH or they raise ModuleNotFoundError.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(WORK, "tmp")
    os.makedirs(tempfile.tempdir, exist_ok=True)


def _start_spark(run: Run, run_dir: str):
    from stock_data_pipeline_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    if run.trace:
        log_root = os.path.join(run_dir, "eventlog")
        os.makedirs(log_root)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_root,
            "spark.eventLog.compress": "false",
        })
    with run.rec.span("session.start") as t:
        spark = get_spark("perfbench", extra_conf=conf)
    run.layer["session.start_s"] = t.seconds
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _run_op(run: Run, sc, op_id: str, kind: str, fn, timed: bool):
    """Run one op under its own job group; record latency or failure."""
    sc.setJobGroup(op_id, kind)
    try:
        with run.rec.span("op", op_id) as t:
            result = fn(op_id)
    except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
        traceback.print_exc(file=sys.stderr)
        if not timed:
            raise
        run.op_type[op_id] = kind
        run.failed[op_id] = f"{type(exc).__name__}: {exc}"
        return None
    if timed:
        run.op_type[op_id] = kind
        run.latency[op_id] = t.seconds
    return result


# -- dashboard -------------------------------------------------------------


def check_against_oracle(spark, name: str, data_dir: str) -> str | None:
    """None when the query's result equals its DuckDB oracle's, ignoring row
    order (the repository's own oracle compare); otherwise what differs."""
    from tests.oracle import assert_matches_oracle

    try:
        assert_matches_oracle(spark, name, data_dir)
    except AssertionError as exc:
        return f"{name}: {exc}"
    return None


def run_dashboard(run: Run, data_dir: str, run_dir: str):
    from stock_data_pipeline_spark import catalog, registry

    spark = _start_spark(run, run_dir)
    sc = spark.sparkContext
    with run.rec.span("catalog.load") as t:
        catalog.load_all(spark, data_dir)
    run.layer["catalog.load_s"] = t.seconds
    previous: dict[str, object] = {}
    hits: list[bool] = []

    def op(name: str, timed: bool):
        def body(op_id: str):
            with run.rec.span("registry.build", op_id):
                df = registry.get(name).fn(spark, data_dir)
            with run.rec.span("exec.action", op_id):
                df.write.format("noop").mode("overwrite").save()
            if timed:
                hits.append(previous.get(name) is df)
            previous[name] = df
        return body

    for r in range(DASHBOARD_WARM_ROUNDS):  # warm-up: plan memo, then JIT
        for name in inputs.DASHBOARD_PANELS:
            _run_op(run, sc, f"warm-{r}-{name}", name, op(name, False), timed=False)
    order = inputs.RoundOrder(inputs.DASHBOARD_PANELS, run.seed)
    run.setup_s = time.perf_counter() - _T0
    op_ids = map("op-{:05d}".format, itertools.count())

    def round_(_):
        for name in order.next_round():
            _run_op(run, sc, next(op_ids), name, op(name, True), timed=True)

    measure_units(run, timed_units(run.seconds, DASHBOARD_ROUND_S), round_)
    run.sample_ops = run.used_ops()
    run.layer["registry.memo_hit_ratio"] = sum(hits) / len(hits) if hits else 0.0

    for name in inputs.DASHBOARD_PANELS:  # output checks, outside every timed metric
        sc.setJobGroup(f"check-{name}", name)
        try:
            problem = check_against_oracle(spark, name, data_dir)
        except Exception as exc:  # noqa: BLE001
            traceback.print_exc(file=sys.stderr)
            problem = f"{name}: check raised {type(exc).__name__}: {exc}"
        if problem:
            run.check_failures.append(problem)
            for op_id, kind in run.op_type.items():
                if kind == name:
                    run.failed.setdefault(op_id, problem)
    return spark


# -- ingest ----------------------------------------------------------------


def _dir_usage(paths) -> tuple[int, int]:
    files = size = 0
    for path in paths:
        for base, _, names in os.walk(path):
            for name in names:
                files += 1
                size += os.path.getsize(os.path.join(base, name))
    return files, size


def _expected_batch(pipe, symbols, failing, batch_time) -> tuple[int, int]:
    """(n_ok, n_quarantined) the source implies for one batch: one row per
    healthy symbol, or one per headline for news, and one per failing symbol."""
    healthy = [s for s in symbols if s not in failing]
    if pipe.spec.news_shaped:
        return sum(len(pipe.fetcher(s, batch_time)) for s in healthy), len(failing)
    return len(healthy), len(failing)


def run_ingest(run: Run, run_dir: str):
    from stock_data_pipeline_spark.pipelines import ingest
    from stock_data_pipeline_spark.sources import fetch, seed

    universe = [s for s in seed.synthetic_universe(inputs.INGEST_UNIVERSE)
                if s not in seed.BAD_TICKERS]
    given = inputs.ingest_inputs(run.seed, universe)
    # The two known-bad tickers ride along so the seed filter has work to do.
    symbols = list(given.symbols) + list(seed.BAD_TICKERS)
    specs = (ingest.TICKER_SPEC, ingest.RATIO_SPEC, ingest.STATEMENT_SPEC, ingest.NEWS_SPEC)

    def pipes(sink: str):
        out = []
        for spec in specs:
            fetcher = (fetch.synthetic_news_fetcher(fail_symbols=given.failing)
                       if spec.news_shaped else
                       fetch.synthetic_quote_fetcher(spec.fields, fail_symbols=given.failing))
            out.append(ingest.IngestPipeline(spec, sink, fetcher=fetcher, symbols=symbols))
        return out

    spark = _start_spark(run, run_dir)
    sc = spark.sparkContext
    run.layer["catalog.load_s"] = 0.0
    sink = os.path.join(run_dir, "sink")
    live = pipes(sink)
    batches: list[tuple[str, object, object]] = []  # (op id, pipe, batch time)
    metrics: dict[str, object] = {}
    # (op id, pipe, kind, day, op ids of the pipe's batches before the read)
    reads: list[tuple[str, object, str, str, list[str]]] = []
    read_counts: dict[str, int] = {}
    files_written: list[tuple[int, int]] = []
    usage_paths = [os.path.join(sink, p.spec.name) for p in live] + [
        os.path.join(sink, p.spec.name + "_quarantine") for p in live]

    def batch(p, bt, timed: bool):
        def body(op_id: str):
            before = _dir_usage(usage_paths) if run.trace and timed else None
            with run.rec.span("ingest.batch", op_id):
                m = p.run_batch(spark, bt)
            if before is not None:
                after = _dir_usage(usage_paths)
                files_written.append((after[0] - before[0], after[1] - before[1]))
            return m
        return body

    def read(p, kind: str, day: str):
        def body(op_id: str):
            with run.rec.span(f"ingest.read_{kind}", op_id):
                df = (p.read_sink_day(spark, day) if kind == "day"
                      else p.read_sink_deduped(spark))
                return df.count()
        return body

    def cycle(ps, bt, c: int, timed: bool, ids) -> None:
        """One batch of every spec, then the two reads of one spec."""
        for p in ps:
            op_id = next(ids)
            m = _run_op(run, sc, op_id, p.spec.name, batch(p, bt, timed), timed)
            if timed:
                batches.append((op_id, p, bt))
                metrics[op_id] = m
        p, day = ps[c % len(ps)], bt.strftime("%Y-%m-%d")
        for kind in ("day", "dedup"):
            op_id = next(ids)
            if timed:
                reads.append((op_id, p, kind, day, [b for b, q, _ in batches if q is p]))
            count = _run_op(run, sc, op_id, f"read_{kind}", read(p, kind, day), timed)
            if timed:
                read_counts[op_id] = count

    warm = pipes(os.path.join(run_dir, "warm-sink"))
    warm_ids = map("warm-{:03d}".format, itertools.count())
    batch_time = given.start - inputs.INGEST_STEP * INGEST_WARM_CYCLES
    for c in range(INGEST_WARM_CYCLES):  # warm-up into a throwaway sink
        cycle(warm, batch_time, c, False, warm_ids)
        batch_time += inputs.INGEST_STEP

    op_ids = map("op-{:05d}".format, itertools.count())
    run.setup_s = time.perf_counter() - _T0

    def cycle_(c: int) -> None:
        nonlocal batch_time
        cycle(live, batch_time, c, True, op_ids)
        batch_time += inputs.INGEST_STEP

    measure_units(run, timed_units(run.seconds, INGEST_CYCLE_S), cycle_)
    used = set(run.used_ops())
    run.sample_ops = [op_id for op_id, _, _ in batches if op_id in used]

    # Output checks, outside every timed metric: every batch against the
    # counts its inputs imply, every read against the batches before it.
    def fail(op_id: str | None, problem: str) -> None:
        run.check_failures.append(problem)
        if op_id is not None:
            run.failed.setdefault(op_id, problem)

    expected_ok: dict[str, int] = {}
    batch_day: dict[str, str] = {}
    n_fetched = 0
    quote_rows = quote_quarantined = 0  # one row per symbol: the seeded share
    for op_id, p, bt in batches:
        ok, bad = _expected_batch(p, given.symbols, given.failing, bt)
        expected_ok[op_id], batch_day[op_id] = ok, bt.strftime("%Y-%m-%d")
        m = metrics.get(op_id)
        if m is None:
            continue
        if (m.n_ok, m.n_quarantined, m.n_fetched) != (ok, bad, ok + bad):
            fail(op_id, f"{op_id} {p.spec.name}: {m} vs expected ok={ok} quarantined={bad}")
        if op_id in used:
            n_fetched += m.n_fetched
        if not p.spec.news_shaped:
            quote_rows += m.n_fetched
            quote_quarantined += m.n_quarantined
    for op_id, p, kind, day, before in reads:
        if read_counts.get(op_id) is None:
            continue
        want = sum(expected_ok[b] for b in before if kind == "dedup" or batch_day[b] == day)
        if read_counts[op_id] != want:
            fail(op_id, f"{op_id} read_{kind} {p.spec.name}: {read_counts[op_id]} rows vs {want}")
    sc.setJobGroup("check-final", "deduped sink counts")
    for p in live:
        landed = sum(metrics[b].n_ok for b, q, _ in batches if q is p and metrics.get(b))
        got = p.read_sink_deduped(spark).count()
        if got != landed:
            fail(None, f"{p.spec.name}: deduped sink holds {got} rows, batches landed {landed}")

    run.extra["rows_per_s"] = n_fetched / run.wall_s
    read_latencies = [run.latency[op_id] for op_id, *_ in reads if op_id in used]
    if read_latencies:
        run.extra["read_p50_s"] = statistics.median(read_latencies)
    run.layer["ingest.quarantine_ratio"] = quote_quarantined / quote_rows if quote_rows else 0.0
    if files_written:
        run.layer["ingest.files_written"] = statistics.fmean(f for f, _ in files_written)
        run.layer["ingest.bytes_written"] = statistics.fmean(b for _, b in files_written)
    return spark


# -- results ---------------------------------------------------------------


def _untraced_ops_per_s(args) -> float:
    """Untraced throughput for ``trace.overhead_ratio``: a child run of the
    same workload, seed and length with tracing off."""
    cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
    # Its own process group, so a timeout also stops the child's JVM.
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        out, err = proc.communicate(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    if proc.returncode != 0:
        sys.stderr.write(err[-4000:])
        raise RuntimeError(f"untraced reference run exited {proc.returncode}")
    return json.loads(out.strip().splitlines()[-1])["metrics"]["ops_per_s"]["value"]


def _ops_per_s(run: Run) -> float:
    return len(run.sample_ops) / run.wall_s


def _detail(run: Run, jobs: dict[str, int]) -> dict:
    attempted = len(run.op_type)
    by_kind: dict[str, list[str]] = {}
    for op_id in run.used_ops():
        by_kind.setdefault(run.op_type[op_id], []).append(op_id)
    per_type, series = {}, {}
    for kind, done in sorted(by_kind.items()):
        per_type[f"op.{kind}.s"] = statistics.median(run.latency[op] for op in done)
        per_type[f"op.{kind}.jobs"] = statistics.median(jobs[op] for op in done)
        series[kind] = [round(run.latency[op], 4) for op in done]
    samples = [run.latency[op] for op in run.sample_ops]
    tail = latency.highest_tail(samples)
    return {
        "workload": run.workload, "seed": run.seed, "seconds": run.seconds,
        "trace": int(run.trace), "ops": attempted, "samples": len(samples),
        "wall_s": run.wall_s, "setup_s": run.setup_s,
        "ok_rate": (attempted - len(run.failed)) / attempted if attempted else 0.0,
        "tail": {"q": tail[0], "value": tail[1], "samples": len(samples)} if tail else None,
        "units": [{"wall_s": round(u.wall_s, 4), "steal": round(u.steal, 4), "used": k in run.used}
                  for k, u in enumerate(run.units)],
        **run.extra, **per_type, "latencies": series,
        "failures": sorted(set(run.failed.values()) | set(run.check_failures))[:20],
    }


def _finish_trace(run: Run, run_dir: str, untraced: float, retained_mb: float) -> dict:
    groups = eventlog.read_event_log(eventlog.find_log_dir(os.path.join(run_dir, "eventlog")))
    ops = run.used_ops()
    layer = dict.fromkeys(PER_LAYER_UNITS, 0.0)
    layer.update(layer_metrics(run.rec.spans, groups, ops))
    layer.update(run.layer)
    layer["session.jvm_retained_mb"] = retained_mb
    layer["trace.overhead_ratio"] = _ops_per_s(run) / untraced
    summary = type_summary({op: run.op_type[op] for op in ops}, run.latency, groups)
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    path = os.path.join(WORK, "traces", f"{run.workload}-seed{run.seed}-{os.getpid()}.json")
    with open(path, "w") as f:
        json.dump({"workload": run.workload, "seed": run.seed, "layers": layer,
                   "types": summary, "spans": run.rec.as_json() + spark_spans(groups, ops)}, f)
    run.extra["trace_file"] = os.path.relpath(path, ROOT)
    return layer


def _retained_heap_mb(spark) -> float:
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    return (rt.totalMemory() - rt.freeMemory()) / 2**20


def _stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM it launched (and, through it, the
    Python workers) to exit; the JVM exits when its stdin closes."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package under {ROOT}; run it from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    _env_for_spark()

    t = time.perf_counter()
    data_dir = datagen.ensure_dataset(os.path.join(WORK, "data", f"sf{datagen.SCALE}"))
    datagen_s = time.perf_counter() - t

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        if args.workload == "dashboard":
            spark = run_dashboard(run, data_dir, run_dir)
        else:
            spark = run_ingest(run, run_dir)
        run.setup_s -= datagen_s  # a one-time build of the checkout, not set-up
        tracker = spark.sparkContext.statusTracker()
        jobs = {op: len(tracker.getJobIdsForGroup(op)) for op in run.op_type}
        retained = _retained_heap_mb(spark) if run.trace else 0.0
        _stop_spark(spark)
        if run.trace:
            metrics = _finish_trace(run, run_dir, _untraced_ops_per_s(args), retained)
            units = PER_LAYER_UNITS
        else:
            samples = [run.latency[op] for op in run.sample_ops]
            metrics = {"setup_s": run.setup_s, "op_p50_s": statistics.median(samples),
                       "ops_per_s": _ops_per_s(run)}
            units = END_TO_END_UNITS
        detail = _detail(run, jobs)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    detail["process_s"] = time.perf_counter() - _T0
    with open(run_dir + ".json", "w") as f:
        json.dump(detail, f, indent=1)
    print(json.dumps({"detail": detail}))
    attempted, failed = len(run.op_type), len(run.failed)
    correct = attempted > 0 and failed == 0 and not run.check_failures
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
