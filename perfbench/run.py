"""Benchmark entry point.

    python3 perfbench/run.py --workload lake_commits --seed 1 --seconds 40 --trace 0

Runs one workload (see ``perfbench/README.md``) from the root of a checkout
in one process on ``local[nproc]``: set-up (JVM + session, seeded inputs,
a warm-up and check pass or the bootstrap day), then back-to-back passes
over the workload's ops (as many whole passes as fit in ``--seconds``, at
least one), then the output checks.

The last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``; with ``--trace 0`` the metrics are the end-to-end
ones, with ``--trace 1`` the per-layer ledger.  The line before it holds
the full record: every metric, ``op_tail_s`` with its percentile and sample
count, ``fail_ratio`` with its base, input sizes, the environment and, in a
traced run, every span.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "us_equity_datalake_spark"
# A fixed heap (-Xms = -Xmx), well under RAM (the session's default is
# 48g): with an adaptive heap G1 grows to 1.4 or 1.9 GB on identical runs,
# and peak RSS would measure that choice instead of the program.  1g made
# the daily job GC-bound.
DRIVER_HEAP = "2g"
E2E_UNITS = {"setup_s": "s", "total_s": "s", "op_p50_s": "s", "peak_rss_mb": "MB"}


class Ctx:
    """What a workload needs from the harness."""

    def __init__(self, spark, run_dir: str, seed: int, tracer):
        self.spark, self.run_dir, self.seed, self.tracer = spark, run_dir, seed, tracer
        self.inputs: dict = {}


# ---------------------------------------------------------------------------
# process plumbing
# ---------------------------------------------------------------------------

def _mem_total_mb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _proc_field(pid: int, name: str, field: str) -> int:
    try:
        with open(f"/proc/{pid}/{name}") as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _io_bytes(pids) -> "tuple[int, int]":
    return (sum(_proc_field(p, "io", "wchar:") for p in pids),
            sum(_proc_field(p, "io", "rchar:") for p in pids))


def _configure_env(run_dir: str, trace: bool) -> None:
    """Per-run TMPDIR / local dirs / event log, all inside ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # Python workers import the package too, whatever their cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    nproc = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_HEAP} -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }
    if trace:
        evdir = os.path.join(run_dir, "eventlog")
        os.makedirs(evdir)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def _environment(spark) -> dict:
    import duckdb
    import pyspark

    src = hashlib.sha256()
    pkg = os.path.join(ROOT, PACKAGE)
    for dirpath, _dirs, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    src.update(fh.read())
    sha = None
    try:  # only this checkout's own repository, not one it happens to sit in
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
                             capture_output=True, text=True, timeout=10).stdout.split()
        if len(out) == 2 and os.path.realpath(out[0]) == os.path.realpath(ROOT):
            sha = out[1]
    except (OSError, subprocess.SubprocessError):
        pass
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": round(_mem_total_mb()),
        "driver_memory": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "pyspark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "duckdb": duckdb.__version__,
        "python": sys.version.split()[0],
        "git_sha": sha,
        "source_sha256": src.hexdigest()[:16],
    }


def _stop(spark, jvm) -> None:
    """Stop the session and wait for the JVM child to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    if jvm is not None:
        jvm.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            jvm.wait(timeout=30)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait(timeout=30)


# ---------------------------------------------------------------------------
# tracing setup
# ---------------------------------------------------------------------------

def _install_tracing(tracer) -> None:
    from pyspark.sql.streaming.query import StreamingQuery

    from us_equity_datalake_spark.equity import daily_job
    from us_equity_datalake_spark.operators import _cache
    from us_equity_datalake_spark.sources import lake, snapshots

    from perfbench.ledger import DAILY_STAGES, STREAM_DURATIONS

    tracer.patch_module(snapshots, "snapshots")
    tracer.patch_module(lake, "lake", names=[
        "write_partitioned", "overwrite_partition", "read_check_append",
        "compact_partition", "consolidate_year", "write_table_metadata",
    ])
    tracer.patch_module(_cache, "cache", names=["materialize_once"])
    tracer.patch_module(daily_job, "daily_job", names=["run_daily_update", *DAILY_STAGES])

    def progress(span, args, _out):
        query = args[0]
        batches = rows = 0
        durations = dict.fromkeys(STREAM_DURATIONS.values(), 0.0)
        for p in query.recentProgress:
            get = (lambda k: p.get(k)) if isinstance(p, dict) else (lambda k: getattr(p, k, None))
            batches += 1
            rows += get("numInputRows") or 0
            for k, v in (get("durationMs") or {}).items():
                if k in STREAM_DURATIONS:
                    durations[STREAM_DURATIONS[k]] += v
        span.attrs.update(batches=batches, input_rows=rows, **durations)

    tracer.patch_method(StreamingQuery, "awaitTermination", "streaming", "awaitTermination",
                        after=progress)


# ---------------------------------------------------------------------------
# the timed loop
# ---------------------------------------------------------------------------

def _timed_passes(ctx, wl, seconds: float, trace: bool, pids) -> list:
    """Back-to-back passes over the workload's ops (see
    :func:`perfbench.ledger.another_pass` for how many); a traced run
    alternates untraced and traced passes."""
    from perfbench.ledger import another_pass

    spark, tracer = ctx.spark, ctx.tracer
    passes: list = []
    t0 = time.time()
    while True:
        t_pass = time.time()
        spark._jvm.System.gc()  # every pass starts from a collected heap
        traced = trace and len(passes) % 2 == 1
        ops = wl.ops(len(passes))
        record = {"traced": traced, "ops": [], "io": None}
        if traced:
            _install_tracing(tracer)
            tracer.enabled = True
            io0 = _io_bytes(pids)
        for i, (name, run, prepare) in enumerate(ops):
            inputs = prepare()
            os.sync()
            op = {"id": len(passes) * 1000 + i, "name": name}
            tracer.op = op["id"]
            op["start"] = time.time()
            try:
                ok, report = run(inputs)
            except Exception as e:  # an op failure is data, not a crash
                ok, report = False, None
                op["error"] = f"{type(e).__name__}: {e}"[:300]
            op["end"] = time.time()
            op["ok"], op["report"] = ok, report
            record["ops"].append(op)
            spark.catalog.clearCache()
        if traced:
            w, r = _io_bytes(pids)
            record["io"] = ((w - io0[0]) / 1e6, (r - io0[1]) / 1e6)
            tracer.enabled = False
            tracer.restore()
        record["input_mb"] = wl.pass_input_mb(ops)
        passes.append(record)
        now = time.time()
        if not another_pass(now - t0, now - t_pass, seconds, len(passes), 2 if trace else 1,
                            wl.max_passes):
            return passes


def _e2e(passes, setup_s: float, peak_rss_mb: float) -> dict:
    from perfbench.ledger import median

    lat: dict = {}  # op name -> its latencies over the passes
    for p in passes:
        for o in p["ops"]:
            lat.setdefault(o["name"], []).append(o["end"] - o["start"])
    totals = [sum(o["end"] - o["start"] for o in p["ops"]) for p in passes]
    return {
        "setup_s": setup_s,
        "total_s": median(totals),
        # per-op medians first: with an even number of ops the median of the
        # raw latencies would sit on the edge between the faster and the
        # slower half, an extreme sample of each
        "op_p50_s": median(median(v) for v in lat.values()),
        "peak_rss_mb": peak_rss_mb,
    }


def _ledger(ctx, passes, run_dir: str) -> dict:
    from perfbench.ledger import event_log_files, layer_metrics, median, parse_event_log

    lines = []
    for path in event_log_files(os.path.join(run_dir, "eventlog")):
        with open(path) as f:
            lines += f.readlines()
    jobs_log = parse_event_log(lines)
    traced = [p for p in passes if p["traced"]]
    per_pass = []
    for p in traced:
        ids = {o["id"] for o in p["ops"]}
        spans = [s for s in ctx.tracer.spans if s.op in ids]
        per_pass.append(layer_metrics(spans, p["ops"], jobs_log, io_mb=p["io"], input_mb=p["input_mb"]))
    ledger = {k: median(m[k] for m in per_pass) for k in per_pass[0]}

    def total(p):
        return sum(o["end"] - o["start"] for o in p["ops"])

    ledger["tracing.overhead_s"] = (median(total(p) for p in traced)
                                    - median(total(p) for p in passes if not p["traced"]))
    return ledger


LAYER_UNITS = {"_s": "s", "_mb": "MB", "_amp": "ratio"}


def _unit(name: str) -> str:
    for suffix, unit in LAYER_UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: {PACKAGE}/ not found under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench import workloads
    from perfbench.trace import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {workloads.WORKLOADS}",
              file=sys.stderr)
        return 2
    trace = bool(args.trace)
    run_dir = os.path.join(ROOT, ".perfbench", f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    spark = jvm = None
    try:
        _configure_env(run_dir, trace)
        from us_equity_datalake_spark.session import get_spark

        spark = get_spark(f"perfbench-{args.workload}")
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        pids = [os.getpid()] + ([jvm.pid] if jvm is not None else [])
        ctx = Ctx(spark, run_dir, args.seed, Tracer())
        wl = workloads.make(args.workload, ctx)
        wl.setup()
        passes = _timed_passes(ctx, wl, args.seconds, trace, pids)
        setup_s = passes[0]["ops"][0]["start"] - T_START
        problems = wl.finish()
        peak_rss_mb = sum(_proc_field(p, "status", "VmHWM:") for p in pids) / 1024.0
        env = _environment(spark)
        _stop(spark, jvm)
        spark = None
        ledger = _ledger(ctx, passes, run_dir) if trace else None
    finally:
        if spark is not None:
            _stop(spark, jvm)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass

    from perfbench.ledger import op_tail

    ops = [o for p in passes for o in p["ops"]]
    attempted = len(ops)
    failed = attempted if problems else sum(1 for o in ops if not o["ok"])
    e2e = _e2e([p for p in passes if not p["traced"]], setup_s, peak_rss_mb)
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "end_to_end": {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()},
        "fail_ratio": {"value": failed / attempted, "failed": failed, "attempted": attempted},
        "passes": len(passes),
        "ops": {name: [round(o["end"] - o["start"], 4) for o in ops if o["name"] == name]
                for name in dict.fromkeys(o["name"] for o in ops)},
        "errors": [f"{o['name']}: {o['error']}" for o in ops if o.get("error")],
        "problems": problems,
        "inputs": ctx.inputs,
        "environment": env,
    }
    tail = op_tail([o["end"] - o["start"] for p in passes if not p["traced"] for o in p["ops"]])
    if tail is not None:  # omitted when too few ops leave ten samples beyond any percentile
        detail["op_tail_s"] = tail
    if ledger is not None:
        detail["per_layer"] = ledger
        detail["spans"] = ctx.tracer.dump()
    print(json.dumps(detail, default=str))
    if trace:
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in ledger.items()}
    else:
        metrics = detail["end_to_end"]
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
