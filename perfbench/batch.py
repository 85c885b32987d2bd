"""Closed-loop workloads over registry keys: tpch and llm_pipeline.

One client runs passes back to back. A pass executes every key of the
workload once, in an order the seed permutes per pass; each key is
timed from its ``queries()`` call through ``toPandas()``, the engine's
real output path. Every execution is checked after the timed region:
oracled keys against their DuckDB SQL (``oracle.compare_frames``),
rows-only keys for a non-empty result identical to the first one the
checkout recorded.
"""

from __future__ import annotations

import hashlib
import math
import os
import statistics
import time

import pandas as pd

from . import sparkstats
from .fixtures import SOURCE_HASH as FIXTURES_HASH
from .spans import Pass

# Key lists, cut so that a run stays near 30 s on a 4-core host: JVM
# start and shutdown take 9 s of it, and each key costs a cold warm-up
# execution plus its timed passes. CHANGES.md names the keys left out.
WORKLOADS: dict[str, list[str]] = {
    # stream_tumbling_agg is the one file replay (streaming.queries,
    # run_to_table, replay chunks); it is JVM-only like the queries
    "tpch": ["tpch_q1", "tpch_q3", "tpch_q6", "tpch_q9", "stream_tumbling_agg"],
    "llm_pipeline": ["dedup_minhash", "sim_cosine_brute", "text_tfidf", "pipeline_media_prep"],
}

# Seconds of ``--seconds`` per timed pass: a run makes ``--seconds //
# PASS_BUDGET_S`` passes (at least one), three for either list at 16 s.
# A warm pass takes about 5 s of either list on a 4-core host, and a
# median of three passes ignores one disturbed pass. The count is fixed
# rather than timed because passes keep getting faster for several
# passes, so a count that moved with host speed would move the median
# with it.
PASS_BUDGET_S = {"tpch": 5.0, "llm_pipeline": 5.0}

# Workloads whose warm-up pass runs at the measured scale factor rather
# than at sf0.01. The JVM-only tpch keys kept getting faster over the
# first timed passes after a small warm-up (8.1, 6.7, 5.8 s), and an
# sf0.1 warm-up costs about as much as the sf0.01 one; llm_pipeline's
# set-up grew by 8 s with it, for no steadier passes.
WARM_AT_MEASURED_SF = {"tpch"}

# the repo module a key lives in: the layer of its spans
LAYER_PREFIX = {
    "tpch_": "operators.tpch",
    "dedup_": "operators.dedup",
    "sim_": "operators.similarity",
    "text_": "operators.text",
    "pipeline_": "operators.multimodal",
    "stream_": "streaming.queries",
}


def layer_of(key: str) -> str:
    for prefix, layer in LAYER_PREFIX.items():
        if key.startswith(prefix):
            return layer
    raise KeyError(f"no layer for key {key!r}")


def permuted(keys: list[str], rng) -> list[str]:
    """The key order of the next pass, drawn from the seeded generator."""
    return [keys[i] for i in rng.permutation(len(keys))]


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


class Execution:
    __slots__ = ("key", "pass_no", "call_s", "topandas_s", "pdf", "error", "plan_s")

    def __init__(self, key: str, pass_no: int):
        self.key, self.pass_no = key, pass_no
        self.call_s = self.topandas_s = self.plan_s = 0.0
        self.pdf = None
        self.error: str | None = None

    @property
    def wall_s(self) -> float:
        return self.call_s + self.topandas_s


def execute(ctx, key: str, pass_no: int, sf_dir: str) -> Execution:
    """Run one key: operator call, then toPandas, each in its own span."""
    ex = Execution(key, pass_no)
    tr = ctx.tracer
    try:
        with tr.span(layer_of(key), f"op.{key}"):
            t0 = time.perf_counter()
            df = ctx.queries[key](ctx.spark, sf_dir)
            t1 = time.perf_counter()
            ex.call_s = t1 - t0
            with tr.span(layer_of(key), f"op.{key}.topandas"):
                ex.pdf = df.toPandas()
            ex.topandas_s = time.perf_counter() - t1
        if tr.enabled:
            ex.plan_s = sparkstats.planning_s(df)
    except Exception as e:  # a failing key is counted, the loop goes on
        ex.error = f"{type(e).__name__}: {str(e).splitlines()[0][:300] if str(e) else ''}"
    return ex


def warm_up(ctx, keys: list[str], sf_dir: str) -> None:
    """One untimed pass over the tables in ``sf_dir``, so the timed
    passes see warm JIT, codegen and Python workers rather than
    first-execution costs."""
    t0 = time.perf_counter()
    with ctx.tracer.span("warmup", "warmup"):
        for k in keys:
            execute(ctx, k, -1, sf_dir)
    ctx.layer_s["warmup"] = time.perf_counter() - t0


def closed_loop(ctx, keys: list[str], n_passes: int, rng) -> list[list[Execution]]:
    """``n_passes`` timed passes. A traced run adds one pass with spans
    off before them and one after, as the baseline for the tracing
    overhead; passes keep getting faster, and the two sides cancel that
    drift."""
    passes: list[list[Execution]] = []
    tr = ctx.tracer
    traced_run = tr.enabled
    plan = [False, *[True] * n_passes, False] if traced_run else [False] * n_passes
    for i, traced in enumerate(plan):
        tr.enabled = traced
        order = permuted(keys, rng)
        start = time.time()
        with tr.span("unattributed", f"pass.{i}") as sid:
            t0 = time.perf_counter()
            run = [execute(ctx, k, i, ctx.sf_dir) for k in order]
            wall = time.perf_counter() - t0
        ctx.passes.append(Pass(start, time.time(), wall, traced, sid))
        passes.append(run)
        ctx.counters.append(sparkstats.accumulation(ctx))
    tr.enabled = traced_run
    return passes


def batch_spans(ctx) -> None:
    """Turn the traced passes' micro-batches into spans under the key
    whose call was running when the batch started."""
    calls = [s for s in ctx.tracer.spans if s.name.startswith("op.") and s.layer != "warmup"
             and not s.name.endswith(".topandas")]
    for p in ctx.progress.batches(ctx.traced_windows()):
        start = p["_start"]
        end = start + p["durationMs"].get("triggerExecution", 0) / 1000.0
        parent = next((c.id for c in calls if c.start <= start <= c.end), None)
        if parent is not None:
            ctx.tracer.add("streaming.core", "microbatch", start, end, parent)


def _fingerprint(pdf) -> str:
    """Column names plus the order-insensitive value multiset of a result."""
    from data_webhooks_spark.oracle import frame_multiset

    ms = frame_multiset(pdf)
    return hashlib.sha256(repr((sorted(pdf.columns), sorted(ms.items()))).encode()).hexdigest()


def _ref_path(ref_dir: str, key: str, suffix: str, *inputs: str) -> str:
    """A reference file named after what it was computed from: the
    fixture generator and ``inputs`` (an oracle's SQL), so a changed
    query or generator never meets a stale reference."""
    h = hashlib.sha256("\0".join((FIXTURES_HASH, *inputs)).encode()).hexdigest()[:16]
    return os.path.join(ref_dir, f"{key}.{h}.{suffix}")


class _Expected:
    """DuckDB oracle results by key, computed once per checkout and kept
    under ``reference/`` with the fingerprint of their value multiset.
    A Spark result whose fingerprint matches passes; any other goes
    through ``compare_frames``, which also names the difference."""

    def __init__(self, ctx, ref_dir: str):
        self.ctx, self.ref_dir, self.duck, self.frames = ctx, ref_dir, None, {}

    def fingerprint(self, key: str) -> str:
        path = _ref_path(self.ref_dir, key, "oracle.sha256", self.ctx.oracle[key])
        if not os.path.exists(path):
            with open(path, "w") as f:
                f.write(_fingerprint(self[key]))
        with open(path) as f:
            return f.read()

    def __getitem__(self, key: str):
        if key not in self.frames:
            path = _ref_path(self.ref_dir, key, "oracle.pkl", self.ctx.oracle[key])
            if os.path.exists(path):
                self.frames[key] = pd.read_pickle(path)
            else:
                from data_webhooks_spark.oracle import duck_connect

                if self.duck is None:
                    self.duck = duck_connect(self.ctx.sf_dir)
                self.frames[key] = self.duck.execute(self.ctx.oracle[key]).df()
                self.frames[key].to_pickle(path)
        return self.frames[key]

    def close(self) -> None:
        if self.duck is not None:
            self.duck.close()


def check(ctx, passes: list[list[Execution]]) -> list[str]:
    """Correctness gate over every timed execution; returns the failures.
    Oracled keys must match their DuckDB SQL. A rows-only key must give
    a non-empty result identical to the first one this checkout saw
    (kept under ``reference/``), so a change in it shows across passes
    and across runs."""
    from data_webhooks_spark.oracle import compare_frames

    failures: list[str] = []
    ref_dir = os.path.join(ctx.work, "reference")
    os.makedirs(ref_dir, exist_ok=True)
    expected = _Expected(ctx, ref_dir)
    for run in passes:
        for ex in run:
            if ex.error is not None:
                failures.append(f"{ex.key} pass {ex.pass_no}: raised {ex.error}")
                continue
            if ex.key in ctx.oracle:
                if _fingerprint(ex.pdf) != expected.fingerprint(ex.key):
                    problems = compare_frames(ex.pdf, expected[ex.key]) or ["fingerprint differs"]
                    failures.append(f"{ex.key} pass {ex.pass_no}: {problems[0][:300]}")
                continue
            if ex.pdf.empty:
                failures.append(f"{ex.key} pass {ex.pass_no}: empty result")
                continue
            ref = _ref_path(ref_dir, ex.key, "sha256")
            if not os.path.exists(ref):
                with open(ref, "w") as f:
                    f.write(_fingerprint(ex.pdf))
            with open(ref) as f:
                if f.read() != _fingerprint(ex.pdf):
                    failures.append(
                        f"{ex.key} pass {ex.pass_no}: result differs from the reference"
                    )
    expected.close()
    return failures


def run(ctx, workload: str, seconds: float, rng) -> dict:
    keys = WORKLOADS[workload]
    if ctx.tracer.enabled:
        ctx.progress = sparkstats.ProgressLog.attach(ctx.spark)
    if any(layer_of(k) == "streaming.queries" for k in keys):
        from data_webhooks_spark.streaming.core import replay_dir

        ctx.timed("io", lambda: [replay_dir(ctx.sf_dir, late=late) for late in (False, True)])
    warm_up(ctx, keys, ctx.sf_dir if workload in WARM_AT_MEASURED_SF else ctx.warm_sf_dir)
    ctx.setup_done()
    n_passes = max(1, int(seconds // PASS_BUDGET_S[workload]))
    passes = closed_loop(ctx, keys, n_passes, rng)
    t_gate = time.perf_counter()
    failures = check(ctx, passes)
    ctx.layer_s["oracle"] = time.perf_counter() - t_gate
    if ctx.tracer.enabled:
        sparkstats.wait_quiet(ctx.progress)
        batch_spans(ctx)
    per_key: dict[str, list[float]] = {}
    for ex in (ex for run in passes for ex in run):
        per_key.setdefault(ex.key, []).append(ex.wall_s)
    medians = {k: statistics.median(v) for k, v in per_key.items()}
    traced = [run for run, p in zip(passes, ctx.passes) if p.traced]

    def per_pass(attr: str) -> float:
        return statistics.median(sum(getattr(ex, attr) for ex in run) for run in traced)

    return {
        "attempted": sum(len(run) for run in passes),
        "failures": failures,
        "pass_s": statistics.median(p.wall for p in ctx.passes if p.traced == ctx.tracer.enabled),
        "query_geomean_s": geomean(list(medians.values())),
        "key_median_s": medians,
        "op": {a: per_pass(a) for a in ("call_s", "topandas_s", "plan_s")} if traced else {},
        "details": {
            "key_median_s": medians,
            "pass_wall_s": [p.wall for p in ctx.passes],
            "layer_s": ctx.layer_s,
        },
    }
