"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

All but ``test_smoke_run_emits_every_metric`` run without Spark in a
few seconds; that one runs the real command once in its shortest
configuration (one pass of the tpch workload, about half a minute).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from types import SimpleNamespace

import numpy as np
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, ROOT)

from perfbench import batch, fixtures, metrics, webhook_live  # noqa: E402
from perfbench.spans import Pass, Span, Tracer, self_times  # noqa: E402


def _declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_declared_metrics_match_the_emitted_names_and_units():
    bench = _declared()
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == metrics.END_TO_END
    assert [(m["name"], m["unit"]) for m in bench["per_layer"]] == metrics.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == [*batch.WORKLOADS, "webhook_live"]


def _ctx(tracer):
    return SimpleNamespace(
        setup_s=12.5, layer_s={"session": 6.0, "registry": 0.5}, passes=[], counters=[],
        progress=None, eventlog_dir=None, tracer=tracer,
    )


def test_every_declared_metric_is_filled_for_any_workload_result():
    tracer = Tracer(enabled=True)
    ctx = _ctx(tracer)
    with tracer.span("unattributed", "pass.0") as sid:
        with tracer.span("operators.tpch", "op.tpch_q1"):
            time.sleep(0.01)
    ctx.passes.append(Pass(0.0, 1.0, 0.02, True, sid))
    result = {"attempted": 1, "failures": [], "pass_s": 0.02, "query_geomean_s": 0.01,
              "key_median_s": {"tpch_q1": 0.01}}
    e2e = metrics.end_to_end(ctx, result)
    assert [(k, v["unit"]) for k, v in e2e.items()] == metrics.END_TO_END
    assert all(v["value"] > 0 for v in e2e.values())
    layer = metrics.per_layer(ctx, result)
    assert [(k, v["unit"]) for k, v in layer.items()] == metrics.PER_LAYER
    assert layer["self_s.operators.tpch"]["value"] > 0
    assert 0 < layer["trace.coverage"]["value"] <= 1


def test_same_seed_gives_same_event_stream_and_key_order():
    a = webhook_live.schedule(7, 1000, 2.0, 1)
    b = webhook_live.schedule(7, 1000, 2.0, 1)
    c = webhook_live.schedule(8, 1000, 2.0, 1)
    assert np.array_equal(a[0], b[0]) and np.array_equal(a[1], b[1])
    assert not np.array_equal(a[1][:100], c[1][:100])
    assert 1700 < len(a[0]) < 2300 and a[0].max() < 2.0  # Poisson at 1000/s
    keys = batch.WORKLOADS["tpch"]
    r1, r2 = np.random.default_rng(5), np.random.default_rng(5)
    orders = [batch.permuted(keys, r1) for _ in range(3)]
    assert orders == [batch.permuted(keys, r2) for _ in range(3)]
    assert all(sorted(o) == sorted(keys) for o in orders)


class _StallingServer:
    """Answers POSTs at once, except that it holds every answer while
    ``stall`` = (from, to) covers the arrival time."""

    def __init__(self, stall: tuple[float, float]):
        srv = self
        self.stall = stall

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"
            disable_nagle_algorithm = True

            def do_POST(self):  # noqa: N802
                self.rfile.read(int(self.headers.get("Content-Length", 0)))
                lo, hi = srv.stall
                now = time.time()
                if lo <= now < hi:
                    time.sleep(hi - now)
                body = b'{"offset": 0}'
                self.send_response(200)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *args):
                pass

        self.server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.server.daemon_threads = True
        self.port = self.server.server_address[1]
        threading.Thread(target=self.server.serve_forever, daemon=True).start()


def test_generator_is_open_loop_under_a_stalled_receiver():
    offsets, keys = webhook_live.schedule(3, 200, 1.5, 0)
    base = time.time() + 0.1
    stall = (base + 0.4, base + 0.7)
    srv = _StallingServer(stall)
    try:
        out = webhook_live.Sender(srv.port, conns=1).run(base, offsets, keys, 0)
    finally:
        srv.server.shutdown()
        srv.server.server_close()
    # the schedule is the seeded one, untouched by the stall
    assert np.array_equal(out["due"], base + offsets)
    assert (out["status"] == 200).all()
    ack_ms = (out["ack"] - out["due"]) * 1000
    queued = (out["due"] > stall[0]) & (out["due"] < stall[1] - 0.05)
    # events due during the stall are acked late, measured from due time
    assert ack_ms[queued].min() > 40 and ack_ms.max() > 250
    # the sender catches up rather than stretching the schedule
    tail = out["due"] > stall[1] + 0.4
    assert tail.any() and np.median(ack_ms[tail]) < 30
    assert out["send"].max() < base + offsets[-1] + 0.1


def test_delivery_latency_counts_each_event_from_its_due_time():
    # key 1 gets offsets 0, 2, 4; key 2 gets offset 1 and one rejected POST
    r1 = {"key": np.array([1, 2, 1]), "offset": np.array([0, 1, 2]),
          "due": np.array([10.0, 10.1, 10.2])}
    r2 = {"key": np.array([1, 2]), "offset": np.array([4, -1]), "due": np.array([11.0, 11.1])}
    rows = [(10.5, "k001", 1, 0.0), (10.6, "k002", 1, 0.0), (10.9, "k001", 2, 0.0),
            (11.4, "k001", 2, 0.0), (11.5, "k001", 3, 0.0)]
    lat = webhook_live.delivery_latency([r1, r2], rows)
    assert np.allclose(lat[0], [0.5, 0.5, 0.7]) and np.allclose(lat[1], [0.5])


def test_fixture_shapes_follow_the_profiled_fixture_files():
    t = fixtures.tables(0.01)
    for name in ("orders", "lineitem", "events"):
        for field in t[name].schema:
            if str(field.type).startswith("timestamp"):
                assert str(field.type) == "timestamp[us]", (name, field.name)
    assert t["events"].num_rows == 10_000
    assert max(t["events"]["user_id"].to_pylist()) < 150  # 15000 users × sf
    texts = t["documents"]["text"].to_pylist()
    assert len(texts) == 500 and sum(x.endswith(" dup") for x in texts) == 25
    assert all(10 <= len(x.split()) <= 100 for x in texts)
    discount = np.asarray(t["lineitem"]["l_discount"])
    assert 0.4 < (discount == 0.1).sum() / (discount == 0.05).sum() < 0.6  # rounded uniform


def test_self_time_subtracts_covered_children_and_keeps_the_remainder():
    spans = [
        Span(1, None, "r", "unattributed", "pass", 0.0, 10.0),
        Span(2, 1, "r", "operators.tpch", "op", 1.0, 5.0),
        Span(3, 2, "r", "operators.tpch", "topandas", 3.0, 5.0),
        Span(4, 1, "r", "streaming.queries", "op", 4.0, 9.0),  # overlaps span 2
        Span(5, 4, "r", "streaming.core", "microbatch", 6.0, 12.0),  # clipped at 9
    ]
    own = self_times(spans, {1})
    assert own["unattributed"] == pytest.approx(10.0 - 8.0)
    assert own["operators.tpch"] == pytest.approx(2.0 + 2.0)
    assert own["streaming.queries"] == pytest.approx(5.0 - 3.0)
    assert own["streaming.core"] == pytest.approx(6.0)


def test_no_process_started_by_a_run_outlives_it():
    """An orphaned grandchild is adopted, then killed and reaped."""
    code = (
        f"import subprocess, sys; sys.path.insert(0, {BENCH!r}); import run;"
        "run.adopt_orphans();"
        "subprocess.run(['sh', '-c', 'sleep 60 & echo $!'], stdout=sys.stdout);"
        "sys.stdout.flush(); run.stop_descendants(grace_s=0.2); print(run._children())"
    )
    out = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True,
                         timeout=60)
    assert out.returncode == 0, out.stderr
    orphan, left = out.stdout.split()
    assert left == "[]"
    assert not os.path.exists(f"/proc/{orphan}")


def test_engine_paths_are_relocated_into_the_work_dir(tmp_path):
    code = (
        "import sys, sitecustomize;"
        f"sys.path.insert(0, {ROOT!r});"
        "import data_webhooks_spark.streaming.core as c;"
        "print(c.RUNTIME_DIR)"
    )
    env = dict(os.environ, PERFBENCH_WORK=str(tmp_path),
               PYTHONPATH=os.path.join(BENCH, "site"))
    out = subprocess.run([sys.executable, "-c", code], env=env, capture_output=True,
                         text=True, timeout=120)
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == os.path.join(str(tmp_path), "runtime")


def test_smoke_run_emits_every_metric():
    """One real run, shortest configuration: --seconds 0 gives one pass."""
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "tpch", "--seed", "1",
         "--seconds", "0", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    last = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] and last["failed"] == 0
    assert {k: v["unit"] for k, v in last["metrics"].items()} == dict(metrics.END_TO_END)
    shown = [line.split()[1] for line in out.stdout.splitlines() if line.startswith("metric ")]
    assert set(dict(metrics.END_TO_END)) <= set(shown)
