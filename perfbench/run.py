"""Benchmark of the data_webhooks_spark engine: three workloads, one command.

    python3 perfbench/run.py --workload tpch --seed 1 --seconds 16 --trace 0

Workloads (BENCHMARK.json says why each was chosen):

- ``tpch``, ``llm_pipeline``: closed loops over registry keys at sf0.1
  (``batch.py``);
- ``webhook_live``: an open-loop HTTP generator feeding the webhook
  source, with delivered results received back (``webhook_live.py``).

Inputs: seeded synthetic sf0.1 tables built once per checkout under
``perfbench/.work`` (``fixtures.py``); the seed permutes key order per
pass and drives the webhook event stream. Engine files are kept under
``perfbench/.work`` too (``site/sitecustomize.py``).

Output: one stamp line, one line per metric (``metric <name> <value>
<unit>``), and as the last line the JSON result
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones from
a run with spans, the streaming listener and the Spark event log on.
The exit code is 1 when any output fails its check, 2 when the engine
is not in the checkout.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, ".work")
SF = 0.1
WORKLOADS = ("tpch", "llm_pipeline", "webhook_live")
NPROC = len(os.sched_getaffinity(0))  # what nproc prints


def git_commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except OSError:
        return None
    return out.stdout.strip() or None


def configure_env(run_id: str, trace: bool) -> dict[str, str]:
    """Point every file the engine and Spark write into the work dir.

    The engine's confs stay its own defaults (driver memory, cores).
    The one engine setting overridden is the checkpoint base: with a
    local master the engine puts checkpoints under /dev/shm, outside
    the checkout, so here they go to the work dir on disk."""
    dirs = {
        d: os.path.join(WORK, d) for d in ("ckpt", "spark-local", "tmp", "eventlog", "results")
    }
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    site = os.path.join(BENCH_DIR, "site")
    env = {
        "PERFBENCH_WORK": WORK,
        "SPARK_GRAFT_SF_DIR": os.path.join(WORK, "data", f"sf{SF:g}"),
        "SPARK_GRAFT_CKPT_BASE": dirs["ckpt"],
        "SPARK_LOCAL_DIRS": dirs["spark-local"],
        "TMPDIR": dirs["tmp"],
        # every JVM, the spark-submit launcher's too: temp files in the
        # work dir and no hsperfdata file under the system temp dir
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            p for p in (site, ROOT, os.environ.get("PYTHONPATH", "")) if p
        ),
    }
    submit = ["--conf", "spark.ui.showConsoleProgress=false"]
    if trace:
        log_dir = os.path.join(dirs["eventlog"], run_id)
        os.makedirs(log_dir, exist_ok=True)
        env["PERFBENCH_EVENTLOG"] = log_dir
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
            "--conf", f"spark.eventLog.dir=file://{log_dir}",
        ]
    env["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])
    os.environ.update(env)
    sys.path[:0] = [site]
    import sitecustomize  # the engine is imported only after this

    sitecustomize.install(WORK)
    return env


class Context:
    """State of one run, handed to the workload."""

    def __init__(self, args, tracer, excluded_s: float):
        self.args = args
        self.tracer = tracer
        self.excluded_s = excluded_s  # one-time build + canary, not set-up
        self.work = WORK
        self.sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
        self.warm_sf_dir = os.path.join(WORK, "data", "sf0.01")
        self.layer_s: dict[str, float] = {}
        self.passes: list = []  # spans.Pass, in order
        self.counters: list[dict] = []
        self.progress = None
        self.setup_s = None
        self.eventlog_dir = os.environ.get("PERFBENCH_EVENTLOG")

    def timed(self, layer: str, fn, *a):
        with self.tracer.span(layer, layer):
            t0 = time.perf_counter()
            out = fn(*a)
            self.layer_s[layer] = self.layer_s.get(layer, 0.0) + time.perf_counter() - t0
        return out

    def setup_done(self) -> None:
        self.setup_s = time.perf_counter() - T_START - self.excluded_s

    def traced_windows(self) -> list[tuple[float, float]]:
        return [(p.start, p.end) for p in self.passes if p.traced]


def build() -> float:
    """One-time build of a checkout: the fixture tables, then the
    engine's own derivations (its import-time JSON/CSV twins and the
    stream replay chunks), so no run's set-up pays for them."""
    from perfbench.fixtures import SOURCE_HASH, ensure

    marker = os.path.join(WORK, f".built-{SOURCE_HASH}")
    if os.path.exists(marker):
        return 0.0

    t0 = time.perf_counter()
    data = os.path.join(WORK, "data")
    ensure(data, 0.01)  # sources/derived.py derives its oracle twins from sf0.01
    ensure(data, SF)
    import data_webhooks_spark.sources.derived  # noqa: F401 (derives on import)
    from data_webhooks_spark.streaming.core import replay_dir

    for late in (False, True):
        replay_dir(os.environ["SPARK_GRAFT_SF_DIR"], late=late)
    with open(marker, "w") as f:
        f.write("built\n")
    return time.perf_counter() - t0


def start_engine(ctx) -> None:
    """Imports + registry collect, then the session: the set-up layers."""

    def collect():
        from data_webhooks_spark import registry

        return registry.queries(), registry.oracle_sql()

    ctx.queries, ctx.oracle = ctx.timed("registry", collect)

    def session():
        from data_webhooks_spark.session import get_spark

        spark = get_spark(f"perfbench-{ctx.args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    ctx.spark = ctx.timed("session", session)


def stop_engine(spark) -> None:
    """Stop the session, then end the JVM (it exits when its stdin
    closes) and wait for it, so no process outlives the run."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def report(ctx, stamps, result, trace) -> int:
    from perfbench.metrics import end_to_end, per_layer

    failures = result["failures"]
    attempted = max(result["attempted"], 1)
    ok = not failures
    metrics = per_layer(ctx, result) if trace else end_to_end(ctx, result)
    record = {
        "stamps": stamps,
        "failures": failures,
        "counters": ctx.counters,
        "details": result.get("details", {}),
        "metrics": metrics,
    }
    name = f"{ctx.args.workload}-s{ctx.args.seed}-t{int(trace)}-{ctx.tracer.run}.json"
    with open(os.path.join(WORK, "results", name), "w") as f:
        json.dump(record, f, indent=1, default=str)
    for f_ in failures[:20]:
        print(f"FAIL {f_}", file=sys.stderr)
    print("stamp " + json.dumps(stamps))
    for i, c in enumerate(ctx.counters):
        print(f"counters pass {i} " + json.dumps(c))
    for name_, m in metrics.items():
        print(f"metric {name_} {m['value']:.6g} {m['unit']}")
    for name_, (v, unit) in result.get("shown", {}).items():
        if name_ not in metrics:
            print(f"metric {name_} {v:.6g} {unit}")
    print(json.dumps({
        "correct": ok,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": metrics,
    }))
    return 0 if ok else 1


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "data_webhooks_spark", "registry.py")):
        print(f"engine package data_webhooks_spark not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import numpy as np

    from perfbench import host
    from perfbench.spans import Tracer

    load1 = os.getloadavg()[0]
    tracer = Tracer(enabled=bool(args.trace))
    env = configure_env(tracer.run, bool(args.trace))
    build_s = build()
    canary = host.canary_s()
    stamps = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "sf": SF, "nproc": NPROC,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS", "*"),
        "load1_at_start": round(load1, 2), "cpu_canary_s": round(canary, 4),
        "build_s": round(build_s, 3), "commit": git_commit(), "run": tracer.run,
    }
    ctx = Context(args, tracer, excluded_s=build_s + canary)
    rng = np.random.default_rng(args.seed)
    start_engine(ctx)
    conf = ctx.spark.sparkContext.getConf()
    stamps["master"] = conf.get("spark.master")
    stamps["driver_mem"] = conf.get("spark.driver.memory")
    try:
        if args.workload == "webhook_live":
            from perfbench import webhook_live

            result = webhook_live.run(ctx, args.seconds, rng)
        else:
            from perfbench import batch

            result = batch.run(ctx, args.workload, args.seconds, rng)
    finally:
        t_stop = time.perf_counter()
        stop_engine(ctx.spark)
        ctx.layer_s["stop"] = time.perf_counter() - t_stop
    if args.trace:
        tracer.dump(os.path.join(WORK, "results", f"spans-{tracer.run}.json"))
    return report(ctx, stamps, result, bool(args.trace))


def adopt_orphans() -> None:
    """Make this process the child subreaper of everything it starts
    (Linux ``prctl(PR_SET_CHILD_SUBREAPER)``), so a process whose parent
    ends first, such as a Python worker of the stopped JVM, is re-parented
    here rather than to init, and ``stop_descendants`` can end it."""
    import ctypes

    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _children() -> list[int]:
    me, out = os.getpid(), []
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            if ppid == me:
                out.append(int(d))
    return out


def stop_descendants(grace_s: float = 5.0) -> None:
    """Wait up to ``grace_s`` for every process started by this run to
    end by itself, kill the rest, and reap each one, so none outlives
    the run on any path out of it."""
    deadline = time.monotonic() + grace_s
    while time.monotonic() < deadline + 10.0:
        kids = _children()
        if not kids:
            return
        for pid in kids:
            try:
                if os.waitpid(pid, os.WNOHANG)[0]:
                    continue
                if time.monotonic() > deadline:
                    os.kill(pid, signal.SIGKILL)
                    os.waitpid(pid, 0)
            except (ChildProcessError, ProcessLookupError):
                pass
        time.sleep(0.05)


if __name__ == "__main__":
    adopt_orphans()
    # a TERM unwinds like an error, so the session and the JVM stop too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        code = main()
    finally:
        sys.stdout.flush()
        stop_descendants()
    sys.exit(code)
