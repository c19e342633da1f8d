"""The repository benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload batch_mix --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The benchmark generates its input tables
from ``--seed`` under ``.perfbench_work/``, starts one driver process at
``local[<cores>]``, makes one untimed call of every op of the workload, then
calls the ops in a seeded order, each only after the previous one returned,
until ``--seconds`` have passed (and at least one full pass). Every call's
output is checked after the measurement. With ``--trace 1`` the session also
writes Spark's event log, every call is wrapped in a span whose id is the
call's job group, and the per-layer metrics are computed from the log.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``). Lines before it list every figure by
name and unit, the seed, the core count, the load average and the host's
busy and steal shares during the timed pass.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
import uuid  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

import numpy as np  # noqa: E402

from perfbench import datagen, workloads  # noqa: E402
from perfbench.eventlog import Span, attribute, call_record, read_events, rollup  # noqa: E402

WORK = ROOT / ".perfbench_work"
SCALE = 0.01  # testdata scale factor of the generated tables
SESSION_STARTS = 3  # session start-ups per run; setup_s counts their median
TIME_CAP_S = 120.0  # stop calling ops past this much process time
LAYERS = ("operators", "linalg", "algos", "streaming")
WORKLOADS = tuple(workloads.WHY)


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def fit_environment() -> dict[str, str]:
    """Size the engine to this machine and keep every file it writes under
    the work dir. Engine tuning knobs stay at their defaults."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_gib = int(f.readline().split()[1]) // (1024 * 1024)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(4, mem_gib // 4))}g",
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        "TMPDIR": str(WORK / "tmp"),
        "SPARK_LOCAL_DIRS": str(WORK / "spark-local"),
    }
    for d in ("tmp", "spark-local", "eventlog"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    os.environ.update(env)
    return env


class RssSampler:
    """Peak resident memory of this process and all its descendants."""

    def __init__(self, period: float = 0.5):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, args=(period,), daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self, period: float) -> None:
        while not self._stop.is_set():
            kb = 0
            for pid in descendants(os.getpid()) | {os.getpid()}:
                try:
                    with open(f"/proc/{pid}/status") as f:
                        kb += next((int(ln.split()[1]) for ln in f if ln.startswith("VmRSS:")), 0)
                except (FileNotFoundError, ProcessLookupError):
                    pass
            self.peak_kb = max(self.peak_kb, kb)
            self._stop.wait(period)


def host_cpu() -> list[int]:
    """The machine's cumulative CPU counters (user … steal) from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in descendants(os.getpid()) | {os.getpid()}:
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
            pass
    return total / tick


def descendants(root: int) -> set[int]:
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (FileNotFoundError, ProcessLookupError, IndexError, ValueError):
                pass
    out, frontier = set(), [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in out]
        out.update(kids)
        frontier += kids
    return out


def start_session(trace: bool):
    """One SparkSession with engine defaults plus a Python-worker spawn."""
    from flink_mm_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK / 'tmp'}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": (WORK / "eventlog").as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    n = spark.sparkContext.defaultParallelism

    def passthrough(batches):
        yield from batches

    spark.range(0, n, 1, n).mapInPandas(passthrough, "id long").write.format("noop").mode(
        "overwrite"
    ).save()
    return spark


def stop_jvm(spark) -> None:
    """Stop the session and the JVM, and wait for every process they started."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=20)
            except Exception:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 15
    while procs and time.monotonic() < deadline:
        procs = {p for p in procs if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in procs:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


class Runner:
    """Calls ops one at a time, recording spans and outcomes."""

    def __init__(self, ctx, trace: bool):
        self.ctx, self.trace = ctx, trace
        self.spans: list = []
        self.calls: list[dict] = []  # {op, phase, span, outcome | error}

    def _span(self, name: str, parent: str | None, fn):
        sid = f"pb-{uuid.uuid4().hex[:12]}"
        if self.trace:
            self.ctx.spark.sparkContext.setJobGroup(sid, name)
        start = time.time()
        try:
            return sid, fn()
        finally:
            self.spans.append(Span(sid, name, start, time.time(), parent))

    def call(self, op, phase: str) -> None:
        rec = {"op": op, "phase": phase}
        sid = f"pb-{uuid.uuid4().hex[:12]}"
        start = time.time()
        try:
            _, built = self._span("build", sid, lambda: op.build(self.ctx))
            _, out = self._span("exec", sid, lambda: op.execute(self.ctx, built))
        except Exception:
            rec["error"] = traceback.format_exc()
        end = time.time()
        self.spans.append(Span(sid, op.name, start, end, None))
        rec.update(span=sid, seconds=end - start)
        if "error" not in rec:
            try:
                rec["outcome"] = op.outcome(out)
            except Exception:
                rec["error"] = traceback.format_exc()
        self.calls.append(rec)

    def scan(self, table_name: str) -> None:
        """A forced scan of every column of one input table."""
        from pyspark.sql import functions as F

        from flink_mm_spark.sources.tables import table

        def run():
            df = table(self.ctx.spark, self.ctx.sf_dir, table_name)
            return df.agg(F.max(F.xxhash64(*df.columns))).collect()

        self._span(f"scan:{table_name}", None, run)


def check_all(runner: Runner) -> list[str]:
    failures = []
    for rec in runner.calls:
        op = rec["op"]
        if "error" in rec:
            failures.append(f"{op.name} ({rec['phase']}) raised:\n{rec['error']}")
            continue
        try:
            op.check(runner.ctx, rec["outcome"])
        except workloads.CheckFailed as e:
            failures.append(f"{op.name} ({rec['phase']}) wrong output: {e}")
    return failures


def op_medians(runner: Runner) -> dict[str, float]:
    by_op: dict[str, list[float]] = {}
    for rec in runner.calls:
        if rec["phase"] == "timed" and "error" not in rec:
            by_op.setdefault(rec["op"].name, []).append(rec["seconds"])
    return {k: statistics.median(v) for k, v in by_op.items()}


def end_to_end(workload: str, ops, med: dict[str, float], setup_s: float, pass_cpu_s: float, rows):
    """(metrics for the JSON line, extra workload-specific figures)."""
    pass_s = sum(med[op.name] for op in ops)
    geo = math.exp(statistics.fmean(math.log(med[op.name]) for op in ops))
    metrics = {"setup_s": (setup_s, "s"), "pass_s": (pass_s, "s")}
    extra = {"pass_cpu_s": (pass_cpu_s, "s"), "op_geomean_s": (geo, "s")}
    if workload == "batch_mix":
        extra["kmeans_s"] = (med["kmeans"], "s")
        extra["damds_s"] = (med["damds"], "s")
        queries = [op.name for op in ops if op.layer != "algos"]
        extra["query_geomean_s"] = (
            math.exp(statistics.fmean(math.log(med[q]) for q in queries)), "s"
        )
    elif workload == "stream_ingest":
        drained = sum(rows[op.tables[0]] for op in ops)
        extra["stream_rows_per_s"] = (drained / pass_s, "rows/s")
    return metrics, extra


def per_layer(runner: Runner, workload_ops, log_file: Path, setup: dict, pass_s: float, med_all):
    with open(log_file) as f:
        usage = attribute(read_events(f), runner.spans)
    children: dict[str, list] = {}
    for s in runner.spans:
        if s.parent:
            children.setdefault(s.parent, []).append(s)
    by_sid = {s.sid: s for s in runner.spans}
    calls: dict[str, list[dict]] = {op.name: [] for op in workload_ops}
    for rec in runner.calls:
        if rec["phase"] == "timed" and "error" not in rec:
            span = by_sid[rec["span"]]
            calls[rec["op"].name].append(call_record(span, children.get(span.sid, []), usage))
    m = rollup(calls, {op.name: op.layer for op in workload_ops}, LAYERS)
    busy = m["algos.build_s"] + m["algos.exec_s"]
    m["algos.ms_per_job"] = 1e3 * busy / m["algos.jobs"] if m["algos.jobs"] else 0.0
    scans = [s for s in runner.spans if s.name.startswith("scan:")]
    m["sources.scan_s"] = sum(s.seconds for s in scans)
    m["sources.input_mb"] = sum(
        os.path.getsize(os.path.join(runner.ctx.sf_dir, f"{s.name[len('scan:'):]}.parquet")) for s in scans
    ) / 1e6
    m.update(setup)
    m["trace.pass_s"] = pass_s
    spans_s = sum(m[f"{layer}.{f}"] for layer in LAYERS for f in ("build_s", "exec_s"))
    m["trace.unattributed_s"] = pass_s - spans_s
    for name, v in med_all.items():
        m[f"op.{name}.s"] = v
    return m


def metric_units(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_ms") or name.endswith("ms_per_job"):
        return "ms"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    return "count"


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not (ROOT / "flink_mm_spark" / "__init__.py").is_file():
        print(f"perfbench: no engine package at {ROOT / 'flink_mm_spark'}", file=sys.stderr)
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    env = fit_environment()
    stamp = {"nproc": env["SPARK_GRAFT_CPUS"], "load_start": os.getloadavg()}

    from flink_mm_spark import registry

    registry.load_all()
    sf_dir = str(WORK / "sf")
    t = time.perf_counter()
    rows = datagen.write(sf_dir, args.seed, SCALE)
    datagen_s = time.perf_counter() - t
    rng = np.random.default_rng([args.seed, 1])
    all_ops = {w: workloads.workload(w) for w in WORKLOADS}
    ops = all_ops[args.workload]

    rss = RssSampler()
    spark = None
    try:
        with rss if args.trace else contextlib.nullcontext():
            starts = []
            for _ in range(SESSION_STARTS):
                if spark is not None:
                    spark.stop()
                t = time.perf_counter()
                spark = start_session(bool(args.trace))
                starts.append(time.perf_counter() - t)
            ctx = workloads.Ctx(spark, sf_dir, rng)
            workloads.prepare(args.workload, ctx)
            runner = Runner(ctx, bool(args.trace))

            t = time.perf_counter()
            for op in ops:
                runner.call(op, "warm")
            warm_s = time.perf_counter() - t
            t_first = time.perf_counter()
            setup_s = (t_first - T_PROCESS) - sum(starts) + statistics.median(starts)
            host0, cpu0 = host_cpu(), tree_cpu_s()

            passes = 0
            while True:
                order = [ops[i] for i in rng.permutation(len(ops))]
                done = False
                for op in order:
                    now = time.perf_counter()
                    if passes >= 1 and (now - t_first >= args.seconds or now - T_PROCESS > TIME_CAP_S):
                        done = True
                        break
                    runner.call(op, "timed")
                if done:
                    break
                passes += 1
            t_measured = time.perf_counter()
            host = [b - a for a, b in zip(host0, host_cpu())]
            timed_calls = sum(rec["phase"] == "timed" for rec in runner.calls)
            pass_cpu_s = (tree_cpu_s() - cpu0) * len(ops) / timed_calls
            if args.trace:
                for name in sorted({name for op in ops for name in op.tables}):
                    runner.scan(name)
                with open(WORK / "spans.json", "w") as f:
                    json.dump([vars(s) for s in runner.spans], f)
            app_id = spark.sparkContext.applicationId
            failures = check_all(runner)
            t_checked = time.perf_counter()
    finally:
        if spark is not None:
            stop_jvm(spark)
    t_stopped = time.perf_counter()

    med = op_medians(runner)
    attempted = len(runner.calls)
    correct = not failures and all(op.name in med for op in ops)
    for f in failures:
        print(f"FAIL {f}", file=sys.stderr)
    if not all(op.name in med for op in ops):
        print("perfbench: an op has no successful timed call", file=sys.stderr)
        return 1

    metrics, extra = end_to_end(args.workload, ops, med, setup_s, pass_cpu_s, rows)
    if args.trace:
        setup = {
            "session.start_s": statistics.median(starts),
            "session.warm_s": warm_s,
            "session.peak_rss_mb": rss.peak_kb / 1024.0,
        }
        med_all = {op.name: med.get(op.name, 0.0) for w in WORKLOADS for op in all_ops[w]}
        layer = per_layer(runner, ops, WORK / "eventlog" / app_id, setup, metrics["pass_s"][0], med_all)
        report = {k: (v, metric_units(k)) for k, v in layer.items()}
    else:
        report = metrics

    stamp["load_end"] = os.getloadavg()
    print(f"workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    print(
        f"nproc={stamp['nproc']} driver_mem={env['SPARK_GRAFT_DRIVER_MEM']} "
        f"load_start={stamp['load_start']} load_end={stamp['load_end']} scale={SCALE}"
    )
    print(
        f"setup: session_starts_s={[round(x, 3) for x in starts]} datagen_s={datagen_s:.3f} "
        f"warm_s={warm_s:.3f} measured_s={t_measured - t_first:.3f} "
        f"checks_s={t_checked - t_measured:.3f} stop_s={t_stopped - t_checked:.3f}"
    )
    print(
        f"host: busy={1 - (host[3] + host[4]) / sum(host):.3f} steal={host[7] / sum(host):.3f}"
    )
    print(
        f"passes={passes} attempted={attempted} failed={len(failures)} "
        f"fail_ratio={len(failures) / attempted}"
    )
    for name, (v, unit) in {**metrics, **extra}.items():
        print(f"{name} {v:.6g} {unit}")
    for rec in runner.calls:
        if rec["phase"] == "warm":
            print(f"warm.{rec['op'].name}.s {rec['seconds']:.6g} s")
    if not args.trace:
        for name, v in sorted(med.items()):
            print(f"op.{name}.s {v:.6g} s")
    else:
        for name, (v, unit) in sorted(report.items()):
            print(f"{name} {v:.6g} {unit}")
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": len(failures),
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in report.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
