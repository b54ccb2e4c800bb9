#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of logport's production path.

    python3 perfbench/run.py --workload run_json --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. It measures the ``logport_spark`` package
of that checkout and nothing else: ``logport run`` (``ledger.run_with_ledger``)
on ``run_json``, and ``logport deliver`` (wire batching + mock transport) of
a run committed in set-up on ``ship``. Jobs run as a closed loop: one caller
on ``local[nproc]``, the next job starts when the previous one has returned
and its output has been checked. README.md in this directory says why each
workload exists and defines every metric.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` prints the
per-layer metrics of a separate traced sequence. The last stdout line is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

# this directory is on sys.path when run as a script
import checks  # noqa: E402
import inputs  # noqa: E402
import probe  # noqa: E402

# workload -> (line mix, pages). Sized so one run (cold JVM, set-up, the
# timed loop) takes about a minute on 4 cores; see README.md.
WORKLOADS = {
    "run_json": ("json", 3000),
    "ship": ("logs", 4000),
}

END_TO_END = {
    "job_s": "s",
    "records_per_s": "1/s",
    "cpu_s": "s",
    "peak_rss_mb": "MB",
    "setup_s": "s",
    "ok_ratio": "ratio",
}

PER_LAYER = {
    "pipeline.scan_s": "s",
    "pipeline.scan_input_mb": "MB",
    "parse.explode_s": "s",
    "parse.lines": "count",
    "enrich.join_s": "s",
    "route.resolve_s": "s",
    "parse.envelope_s": "s",
    "parse.envelope_cpu_s": "s",
    "parse.envelope_share": "ratio",
    "parse.udf_rows": "count",
    "parse.udf_obj_ratio": "ratio",
    "pipeline.dag_s": "s",
    "ledger.fingerprint_s": "s",
    "ledger.write_s": "s",
    "ledger.write_share": "ratio",
    "ledger.driver_s": "s",
    "ledger.write_tasks": "count",
    "ledger.write_task_skew": "ratio",
    "ledger.core_util": "ratio",
    "ledger.shuffle_write_mb": "MB",
    "ledger.spill_mb": "MB",
    "ledger.output_files": "count",
    "ledger.output_mb": "MB",
    "ledger.stages": "count",
    "sinks.scan_files": "count",
    "sinks.scan_mb": "MB",
    "wire.batch_s": "s",
    "wire.batches": "count",
    "wire.task_skew": "ratio",
    "wire.shuffle_write_mb": "MB",
    "transport.deliver_s": "s",
    "transport.files": "count",
    "transport.mb": "MB",
    "transport.nack_ratio": "ratio",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "trace.overhead_s": "s",
}

DRIVER_MEM = "2g"  # local mode: the driver JVM runs every task
PREFIX_REPS = 2  # each traced prefix runs this often; the fastest counts
# untimed jobs after the first run of set-up: the first few jobs of a
# warm JVM are still slower than the ones after them
WARMUP_JOBS = {"run_json": 1, "ship": 2}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def host() -> dict:
    """nproc, RAM, 1-minute load and the host's CPU steal time so far."""
    with open("/proc/stat", encoding="ascii") as f:
        steal_s = int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    mem = {}
    with open("/proc/meminfo", encoding="ascii") as f:
        for line in f:
            key, val = line.split(":", 1)
            if key in ("MemTotal", "MemAvailable"):
                mem[key] = int(val.split()[0]) // 1024
    return {"nproc": nproc(), "mem_total_mb": mem.get("MemTotal"),
            "mem_available_mb": mem.get("MemAvailable"), "load1": os.getloadavg()[0],
            "steal_s": steal_s}


def configure_environment() -> None:
    """Point everything the run reads or writes at this checkout. Spark's
    Python workers inherit PYTHONPATH from the driver environment (setting
    ``sys.path`` alone leaves them importing whatever else is installed)."""
    dirs = {name: os.path.join(WORK, name) for name in ("data", "spark-local", "tmp")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "PYTHONPATH": ROOT,
        "PYSPARK_PYTHON": sys.executable,
        "LOGPORT_SPARK_DATA_DIR": dirs["data"],
        "SPARK_LOCAL_DIRS": dirs["spark-local"],
        "TMPDIR": dirs["tmp"],
        # the session default (48g) is sized for a large host
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_CPUS": str(nproc()),
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['tmp']}",
    })
    sys.path.insert(0, ROOT)


def inside_root(path: str) -> bool:
    return os.path.realpath(path).startswith(os.path.realpath(ROOT) + os.sep)


def start_session():
    from logport_spark.session import get_spark

    spark = get_spark("perfbench", cpus=nproc(), extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # a heap that starts at its maximum, touched up front: the JVM's
        # resident size then no longer depends on when G1 chose to grow it
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def worker_module_file(spark) -> str:
    """Where Spark's Python workers import ``logport_spark`` from."""
    import pandas as pd

    def where(batches):
        import logport_spark

        for _ in batches:
            yield pd.DataFrame({"f": [logport_spark.__file__]})

    return spark.range(1, numPartitions=1).mapInPandas(where, "f string").collect()[0]["f"]


def cli(*argv: str) -> dict:
    """One ``logport_spark.cli`` verb; returns the JSON line it prints."""
    from logport_spark import cli as C

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = C.main(list(argv))
    if rc != 0:
        raise RuntimeError(f"logport {argv[0]} exited {rc}")
    return json.loads(buf.getvalue().strip().splitlines()[-1])


def run_verb(pages_dir: str, out: str, run_id: str) -> dict:
    return cli("run", "--pages", pages_dir, "--out", out, "--run-id", run_id,
               "--cpus", str(nproc()))


def deliver_verb(out: str, broker: str) -> dict:
    return cli("deliver", "--out", out, "--broker", broker, "--cpus", str(nproc()))


def tree_stats(path: str, suffix: str) -> tuple[int, float]:
    """(files, MB) of the files ending in ``suffix`` below ``path``."""
    n = size = 0
    for d, _, files in os.walk(path):
        for fn in files:
            if fn.endswith(suffix) and not fn.startswith("."):
                n += 1
                size += os.path.getsize(os.path.join(d, fn))
    return n, size / 1e6


class Workload:
    """Set-up, the timed job and its output check for one workload.

    ``run_json`` times ``logport run``. ``ship`` commits its input once in
    set-up (a ``logport run`` of the logs mix, output-checked) and times
    ``logport deliver`` of that committed output."""

    def __init__(self, name: str, pages_dir: str, exp: dict, scratch: str):
        self.name = name
        self.pages_dir = pages_dir
        self.exp = exp
        self.scratch = scratch
        self.n = 0
        self.shipped = os.path.join(scratch, "shipped")

    def fresh(self, kind: str) -> str:
        self.n += 1
        path = os.path.join(self.scratch, f"{kind}{self.n}")
        shutil.rmtree(path, ignore_errors=True)
        return path

    def warm_up(self) -> None:
        """One checked ``logport run`` over the whole input (a cold JVM's
        first job costs ~20 s whatever its size, so it warms up every
        code path), then ``WARMUP_JOBS`` checked jobs. ``ship`` keeps the
        run's output as the committed input it delivers."""
        summary = run_verb(self.pages_dir, self.shipped, "setup")
        bad = checks.check_run(summary, self.shipped, self.exp)
        if self.name != "ship":
            shutil.rmtree(self.shipped, ignore_errors=True)
        for _ in range(WARMUP_JOBS[self.name]):
            bad += self.check(self.job())
        if bad:
            raise AssertionError("set-up: " + "; ".join(bad[:3]))

    def job(self) -> dict:
        """The timed call; returns its summary and the directory it wrote."""
        if self.name == "ship":
            broker = self.fresh("broker")
            return {"summary": deliver_verb(self.shipped, broker), "dir": broker}
        out = self.fresh("out")
        return {"summary": run_verb(self.pages_dir, out, f"r{self.n}"), "dir": out}

    def check(self, done: dict) -> list[str]:
        check = checks.check_ship if self.name == "ship" else checks.check_run
        try:
            bad = check(done["summary"], done["dir"], self.exp)
        except Exception as e:  # unreadable output fails the check
            bad = [f"reading {done['dir']}: {type(e).__name__}: {e}"]
        shutil.rmtree(done["dir"], ignore_errors=True)
        return bad


def damage(path: str) -> None:
    """Delete the first data file below ``path`` (a sink file of a run)."""
    sinks = os.path.join(path, "sinks")
    for d, _, files in sorted(os.walk(sinks if os.path.isdir(sinks) else path)):
        for fn in sorted(files):
            if fn.endswith((".parquet", ".json")) and not fn.startswith("."):
                os.remove(os.path.join(d, fn))
                return


class Loop:
    """Closed loop bookkeeping: one caller, the next job starts when the
    previous one has returned and been checked."""

    def __init__(self, wl: Workload, tree, corrupt: bool = False):
        self.wl = wl
        self.tree = tree
        self.corrupt = corrupt
        self.attempted = self.failed = 0
        self.samples: list[tuple[bool, float, float, float]] = []  # ok, wall, cpu, peak MB

    def one(self) -> float | None:
        """Run and check one job; returns its wall time, None if it failed."""
        self.attempted += 1
        self.tree.peak_reset()
        cpu0 = self.tree.cpu_s()
        t0 = time.perf_counter()
        try:
            done = self.wl.job()
        except Exception as e:  # a failed job counts against ok_ratio
            self.failed += 1
            log(f"job {self.attempted} raised {type(e).__name__}: {e}")
            return None
        wall = time.perf_counter() - t0
        cpu = self.tree.cpu_s() - cpu0
        peak = self.tree.peak_reset()
        if self.corrupt:  # smoke test: a lost output file must fail the check
            damage(done["dir"])
        bad = self.wl.check(done)
        self.samples.append((not bad, wall, cpu, peak / 1e6))
        if bad:
            self.failed += 1
            log(f"job {self.attempted} output check failed: " + "; ".join(bad[:3]))
            return None
        return wall

    def run_for(self, seconds: float) -> None:
        t_end = time.time() + seconds
        while self.attempted == 0 or time.time() < t_end:
            self.one()

    def medians(self) -> tuple[float, float, float]:
        """Median wall, CPU and peak memory over the jobs that passed their
        check (over every job that returned if none did)."""
        rows = [r for r in self.samples if r[0]] or self.samples
        if not rows:
            return 0.0, 0.0, 0.0
        return tuple(statistics.median(r[i] for r in rows) for i in (1, 2, 3))


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def trace_run(spark, wl: Workload, loop: Loop, tracer, engine) -> dict:
    """Per-layer metrics. Cumulative prefixes of ``logport run`` forced to
    the noop sink (the fastest of ``PREFIX_REPS`` counts), the input
    fingerprint, then one traced run; on ``ship`` (whose run is set-up) the
    prefixes of ``logport deliver`` and one traced deliver follow.
    ``trace.overhead_s`` is the traced timed job minus an untraced one run
    just before it, so both are equally warm."""
    from logport_spark.operators import enrich as E
    from logport_spark.operators import parse as P
    from logport_spark.operators import route as R
    from logport_spark.operators.wire import batch_messages
    from logport_spark.plans import ledger as L
    from logport_spark.plans.pipeline import parsed_routed

    from probe import busy_union

    m = dict.fromkeys(PER_LAYER, 0.0)
    best: dict[str, dict] = {}

    def wall(name: str) -> float:
        return best[name]["end"] - best[name]["start"]

    def step(name: str, parent: str, build) -> None:
        for _ in range(PREFIX_REPS):
            with tracer.span(name, parent) as rec:
                noop(build())
            if name not in best or rec["end"] - rec["start"] < wall(name):
                best[name] = rec

    def counted(bad: list[str]) -> None:
        loop.attempted += 1
        if bad:
            loop.failed += 1
            log("traced job output check failed: " + "; ".join(bad[:3]))

    def pages():
        return spark.read.parquet(wl.pages_dir)

    def enriched():
        lookups = E.load_lookups(spark)
        return E.enrich(E.with_domain(P.explode_lines(pages())), lookups), lookups

    step("pipeline.scan", "pipeline.dag", lambda: pages().select("url", "warc_ts", "lang", "text"))
    step("parse.explode", "pipeline.dag", lambda: P.explode_lines(pages()))
    step("enrich.join", "pipeline.dag", lambda: enriched()[0])
    step("route.resolve", "pipeline.dag",
         lambda: (lambda df, lk: R.resolve_route(df, lk["routes"]))(*enriched()))
    step("pipeline.dag", "ledger.run", lambda: parsed_routed(spark, pages()))
    with tracer.span("ledger.fingerprint", "ledger.run") as rec:
        L.input_fingerprints(pages()).collect()
    fp = rec["end"] - rec["start"]

    untraced = loop.one() if wl.name == "run_json" else None
    out = wl.fresh("out")
    with tracer.span("ledger.run", "job") as rec:
        summary = run_verb(wl.pages_dir, out, "traced")
    run = rec["end"] - rec["start"]
    eng = engine.group(rec["group"])
    m["ledger.output_files"], m["ledger.output_mb"] = tree_stats(os.path.join(out, "sinks"), ".parquet")
    n_obj, n_fail = checks.udf_counts(out)
    counted(checks.check_run(summary, out, wl.exp))
    shutil.rmtree(out, ignore_errors=True)

    dag = wall("pipeline.dag")
    m["pipeline.scan_s"] = wall("pipeline.scan")
    # bytes of the files scanned: with Spark 4.1 on local files the
    # inputBytes counter reports little more than the parquet footers
    _, m["pipeline.scan_input_mb"] = tree_stats(wl.pages_dir, ".parquet")
    m["parse.explode_s"] = wall("parse.explode") - wall("pipeline.scan")
    m["enrich.join_s"] = wall("enrich.join") - wall("parse.explode")
    m["route.resolve_s"] = wall("route.resolve") - wall("enrich.join")
    m["parse.envelope_s"] = dag - wall("route.resolve")
    m["parse.envelope_cpu_s"] = best["pipeline.dag"]["cpu_s"] - best["route.resolve"]["cpu_s"]
    m["pipeline.dag_s"] = dag
    m["ledger.fingerprint_s"] = fp
    m["ledger.write_s"] = run - dag - fp
    m["parse.envelope_share"] = m["parse.envelope_s"] / run
    m["ledger.write_share"] = m["ledger.write_s"] / run
    m["ledger.driver_s"] = run - busy_union(eng["intervals"], rec["start"], rec["end"])
    m["ledger.write_tasks"] = eng["writer_tasks"]
    m["ledger.write_task_skew"] = eng["writer_skew"]
    m["ledger.core_util"] = eng["run_s"] / (run * nproc())
    m["ledger.shuffle_write_mb"] = eng["shuffle_write_mb"]
    m["ledger.spill_mb"] = eng["spill_mb"]
    m["ledger.stages"] = eng["stages"]
    m["parse.lines"] = summary["rows_routed"]
    m["parse.udf_rows"] = n_obj + n_fail
    m["parse.udf_obj_ratio"] = n_obj / max(1, n_obj + n_fail)
    if wl.name == "run_json":
        m["trace.overhead_s"] = run - untraced if untraced is not None else 0.0
        return m

    def routed():
        return L.read_routed(spark, wl.shipped).select("sink", "url", "line_no", "record")

    def wire():
        r = routed()
        return batch_messages(L.with_bucket(r, L.scaled_buckets(r.count())), stream_col="bucket")

    step("sinks.scan", "transport.deliver", routed)
    step("wire.batch", "transport.deliver", wire)
    untraced = loop.one()
    broker = wl.fresh("broker")
    with tracer.span("transport.deliver", "job") as rec:
        summary = deliver_verb(wl.shipped, broker)
    deliver = rec["end"] - rec["start"]
    m["transport.files"], m["transport.mb"] = tree_stats(broker, ".json")
    counted(wl.check({"summary": summary, "dir": broker}))
    m["sinks.scan_files"], m["sinks.scan_mb"] = tree_stats(
        os.path.join(wl.shipped, "sinks"), ".parquet")
    batch = engine.group(best["wire.batch"]["group"])
    m["wire.batch_s"] = wall("wire.batch") - wall("sinks.scan")
    m["wire.task_skew"] = batch["busiest_skew"]
    m["wire.shuffle_write_mb"] = batch["shuffle_write_mb"]
    m["transport.deliver_s"] = deliver - wall("wire.batch")
    batches = sum(v["batches"] for v in summary.values())
    m["wire.batches"] = batches
    m["transport.nack_ratio"] = summary.get("nack", {}).get("batches", 0) / max(1, batches)
    m["trace.overhead_s"] = deliver - untraced if untraced is not None else 0.0
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pages", type=int, default=None,
                    help="override the workload's page count (smoke tests)")
    ap.add_argument("--corrupt", action="store_true",
                    help="delete one output file of every timed job before its "
                         "check, which must then fail (smoke tests)")
    args = ap.parse_args(argv)

    configure_environment()
    try:
        import logport_spark
    except ImportError as e:
        log(f"cannot import logport_spark from {ROOT}: {e}")
        return 2
    if not inside_root(logport_spark.__file__):
        log(f"logport_spark imported from {logport_spark.__file__}, outside {ROOT}")
        return 2
    host_start = host()
    mix, pages = WORKLOADS[args.workload]
    pages = args.pages or pages
    t0 = time.time()
    pages_dir, exp = inputs.ensure_input(WORK, mix, args.seed, pages, procs=nproc())
    gen_s = time.time() - t0

    scratch = os.path.join(WORK, "runs", str(os.getpid()))
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    spark = tree = None
    try:
        t0 = time.time()
        spark = start_session()
        tree = probe.ProcTree(int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()))
        start_s = time.time() - t0
        wl = Workload(args.workload, pages_dir, exp, scratch)
        t0 = time.time()
        wl.warm_up()
        # the Python workers exist now, so this probe job is cheap
        worker_file = worker_module_file(spark)
        if not inside_root(worker_file):
            raise RuntimeError(f"Spark workers import logport_spark from {worker_file}, outside {ROOT}")
        warmup_s = time.time() - t0
        setup_s = time.time() - T_START - gen_s

        loop = Loop(wl, tree, args.corrupt)
        if args.trace:
            tracer = probe.Tracer(spark, tree, f"{args.workload}-{args.seed}-{os.getpid()}")
            metrics = trace_run(spark, wl, loop, tracer, probe.Engine(spark))
            tracer.write(os.path.join(WORK, "spans", f"{tracer.run_id}.json"))
            metrics["session.start_s"] = start_s
            metrics["session.warmup_s"] = warmup_s
            units = PER_LAYER
        else:
            loop.run_for(args.seconds)
            job_s, cpu_s, peak_mb = loop.medians()
            metrics = {
                "job_s": job_s,
                "records_per_s": exp["rows"] / job_s if job_s else 0.0,
                "cpu_s": cpu_s,
                "peak_rss_mb": peak_mb,
                "setup_s": setup_s,
                "ok_ratio": (loop.attempted - loop.failed) / loop.attempted,
            }
            units = END_TO_END
        print(json.dumps({"perfbench": {
            "workload": args.workload, "seed": args.seed, "pages": pages,
            "records": exp["rows"], "gen_s": gen_s, "session_start_s": start_s,
            "warmup_s": warmup_s, "setup_s": setup_s,
            "job_walls_s": [r[1] for r in loop.samples],
            "host_start": host_start, "host_end": host()}}), flush=True)
        print(json.dumps({
            "correct": loop.failed == 0,
            "attempted": loop.attempted,
            "failed": loop.failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }), flush=True)
        return 0
    finally:
        if tree is not None:
            tree.close()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
