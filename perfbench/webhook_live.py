"""webhook_live: open-loop HTTP ingest through the webhook source and back.

One generator process POSTs seeded JSON events (Zipf-skewed keys, a
creation stamp) on a Poisson schedule over at most ``nproc``
keep-alive connections, rung by rung up a rate ladder. The driver runs
``WebhookDataSource`` -> ``from_json`` -> per-key count and max stamp
(update mode, 100 ms trigger) -> ``foreachBatch`` delivery through
``deliver_partition`` -> a receiver in the generator process, so one
clock stamps events, acks and delivered rows.

Open loop: event i is due at its scheduled time whether or not earlier
POSTs have been answered; its ack latency is measured from when it was
due, so a stall shows in the acks of every event queued behind it.

The end-to-end figures are per-event delivery latencies, from an
event's due time until a delivered row counts it: ``pass_s`` is the
geometric mean over the rungs of their median, ``query_geomean_s`` that
of their p99. Neither depends on how long a rung lasts.
"""

from __future__ import annotations

import http.client
import json
import math
import os
import socket
import statistics
import subprocess
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from multiprocessing.connection import Connection

import numpy as np

from .spans import Pass

RATES = (250, 1000, 2000)
REFERENCE_RATE = 1000  # ack_* and fresh_* are read here
N_KEYS = 300
ZIPF_S = 1.1
WARM_RATE, WARM_S = 200, 1.0  # first batches' codegen, before timing
LIMITS = {"ack_p99_ms": 100.0, "fresh_p99_s": 2.0}
DRAIN_TIMEOUT_S = 20.0
EVENT_SCHEMA = "k string, seq long, stamp double"


# ---------------------------------------------------------------- schedule


def rung_durations(seconds: float) -> list[float]:
    """Half the measured time at the reference rate, a sixth at each
    other rate; the last sixth is left for the drains between rungs."""
    return [seconds / 2 if r == REFERENCE_RATE else seconds / 6 for r in RATES]


def schedule(seed: int, rate: float, duration: float, rung: int) -> tuple[np.ndarray, np.ndarray]:
    """Poisson arrival offsets (s) and Zipf key ids for one rung; a pure
    function of its arguments."""
    rng = np.random.default_rng([seed, rung])
    n = max(int(rate * duration * 1.5) + 16, 16)
    offsets = np.cumsum(rng.exponential(1.0 / rate, n))
    offsets = offsets[offsets < duration]
    w = 1.0 / np.arange(1, N_KEYS + 1) ** ZIPF_S
    keys = rng.choice(N_KEYS, len(offsets), p=w / w.sum())
    return offsets, keys


def percentile(xs, q: float) -> float:
    return float(np.percentile(np.asarray(xs, dtype=float), q)) if len(xs) else 0.0


# --------------------------------------------------------------- generator


class Receiver:
    """Records every delivered row: (receipt time, key, count, stamp)."""

    def __init__(self):
        self.lock = threading.Lock()
        self.rows: list[tuple[float, str, int, float]] = []
        self.best: dict[str, int] = {}
        self.duplicates = 0
        recv = self

        class Handler(BaseHTTPRequestHandler):
            protocol_version = "HTTP/1.1"
            disable_nagle_algorithm = True

            def do_POST(self):  # noqa: N802 (http.server API)
                body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
                t = time.time()
                row = json.loads(body)
                k, n = row["k"], int(row["n"])
                with recv.lock:
                    recv.rows.append((t, k, n, float(row["stamp"])))
                    if recv.best.get(k, 0) >= n:
                        recv.duplicates += 1
                    else:
                        recv.best[k] = n
                self.send_response(200)
                self.send_header("Content-Length", "0")
                self.end_headers()

            def log_message(self, *args):
                pass

        self.server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.server.daemon_threads = True
        self.port = self.server.server_address[1]
        self.thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self.thread.start()

    def covered(self, expected: dict[str, int]) -> bool:
        with self.lock:
            return all(self.best.get(k, 0) >= n for k, n in expected.items())

    def stop(self) -> None:
        self.server.shutdown()
        self.server.server_close()


class Sender:
    """Open-loop POSTs of one rung over ``conns`` keep-alive connections;
    connection j sends events j, j+conns, ... each at its due time."""

    def __init__(self, port: int, conns: int):
        self.port, self.conns = port, conns

    def run(self, base: float, offsets: np.ndarray, keys: np.ndarray, seq0: int) -> dict:
        n = len(offsets)
        out = {
            "due": base + offsets, "send": np.zeros(n), "ack": np.zeros(n),
            "status": np.zeros(n, dtype=np.int32), "offset": np.full(n, -1, dtype=np.int64),
            "key": keys,
        }
        threads = [
            threading.Thread(target=self._conn, args=(j, out, seq0)) for j in range(self.conns)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return out

    def _conn(self, j: int, out: dict, seq0: int) -> None:
        conn = None
        for i in range(j, len(out["due"]), self.conns):
            due = out["due"][i]
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            body = json.dumps({"k": f"k{out['key'][i]:03d}", "seq": seq0 + i, "stamp": due})
            out["send"][i] = time.time()
            try:
                if conn is None:
                    conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=30)
                conn.request("POST", "/", body=body, headers={"Content-Type": "application/json"})
                resp = conn.getresponse()
                data = resp.read()
                out["status"][i] = resp.status
                if resp.status == 200:
                    out["offset"][i] = json.loads(data)["offset"]
            except (OSError, http.client.HTTPException, ValueError):
                out["status"][i] = -1
                if conn is not None:
                    conn.close()
                conn = None
            out["ack"][i] = time.time()
        if conn is not None:
            conn.close()


def wait_for_server(port: int, timeout_s: float = 60.0) -> None:
    """The source binds lazily on the query's first offset call; any
    HTTP answer to a GET (the handler has no GET) means it is up."""
    deadline = time.time() + timeout_s
    while True:
        try:
            conn = http.client.HTTPConnection("127.0.0.1", port, timeout=2)
            conn.request("GET", "/")
            conn.getresponse().read()
            conn.close()
            return
        except (OSError, http.client.HTTPException):
            if time.time() > deadline:
                raise
            time.sleep(0.05)


def rung_stats(sent: dict, recv_rows: list, t_covered: float) -> dict:
    """Ack, lateness and freshness figures of one rung. Freshness samples
    are the delivered rows whose stamp (the key's latest event) falls
    inside the rung."""
    ok = sent["status"] == 200
    ack_ms = (sent["ack"] - sent["due"]) * 1000.0
    late_ms = (sent["send"] - sent["due"]) * 1000.0
    lo, hi = sent["due"][0], sent["due"][-1]
    fr = [t - s for t, _k, _n, s in recv_rows if lo <= s <= hi]
    return {
        "posts": int(len(ok)),
        "accepted": int(ok.sum()),
        "rejected_429": int((sent["status"] == 429).sum()),
        "errors": int((~ok).sum() - (sent["status"] == 429).sum()),
        "ack_p50_ms": percentile(ack_ms, 50),
        "ack_p99_ms": percentile(ack_ms, 99),
        "late_p99_ms": percentile(late_ms, 99),
        "fresh_p50_s": percentile(fr, 50),
        "fresh_p99_s": percentile(fr, 99),
        "fresh_samples": len(fr),
        "first_due": lo,
        "last_due": hi,
        "last_ack": float(sent["ack"].max()),
        "covered_at": t_covered,
        "rate_achieved": int(ok.sum()) / max(float(sent["ack"].max()) - lo, 1e-9),
    }


def delivery_latency(sents: list[dict], rows: list) -> list[np.ndarray]:
    """Per accepted event of each rung, seconds from its due time until
    the receiver got a row of its key whose count includes it (NaN if
    none did). The source counts a key's events in offset order, so an
    event is the r-th of its key in offset order and is covered by the
    first delivered count >= r."""
    keys = np.concatenate([s["key"] for s in sents])
    offs = np.concatenate([s["offset"] for s in sents])
    rank = np.zeros(len(keys), dtype=np.int64)
    seen: dict[int, int] = {}
    for i in np.argsort(np.where(offs >= 0, offs, np.iinfo(np.int64).max), kind="stable"):
        if offs[i] < 0:
            break  # unaccepted events carry no offset and are never counted
        seen[keys[i]] = seen.get(keys[i], 0) + 1
        rank[i] = seen[keys[i]]
    receipts: dict[str, list[tuple[float, int]]] = {}
    for t, k, n, _s in rows:
        receipts.setdefault(k, []).append((t, n))
    done = np.full(len(keys), np.nan)
    for k in np.unique(keys):
        got = sorted(receipts.get(f"k{k:03d}", []))
        if not got:
            continue
        t, n = np.array(got).T
        most = np.maximum.accumulate(n)
        idx = np.flatnonzero((keys == k) & (rank > 0))
        pos = np.searchsorted(most, rank[idx], side="left")
        hit = pos < len(most)
        done[idx[hit]] = t[pos[hit]]
    out, i = [], 0
    for s in sents:
        n = len(s["key"])
        out.append((done[i : i + n] - s["due"])[s["offset"] >= 0])
        i += n
    return out


def generator_main(conn, seed: int, seconds: float, conns: int) -> None:
    """Generator process: receiver first, then warm-up and the ladder."""
    # sender and receiver threads share this interpreter; a short switch
    # interval keeps a thread waiting for the lock from delaying acks
    # and receipts by the default 5 ms
    sys.setswitchinterval(0.0005)
    recv = Receiver()
    conn.send(recv.port)
    ingest_port = conn.recv()
    wait_for_server(ingest_port)
    sender = Sender(ingest_port, conns)
    expected: dict[str, int] = {}
    seq = 0
    ack_log = []  # (ack time, offset) of every accepted POST
    phases = [("warmup", WARM_RATE, WARM_S)] + [
        (f"r{r}", r, d) for r, d in zip(RATES, rung_durations(seconds))
    ]
    stats, sents = {}, []
    for i, (name, rate, dur) in enumerate(phases):
        offsets, keys = schedule(seed, rate, dur, i)
        base = time.time() + 0.05
        sent = sender.run(base, offsets, keys, seq)
        seq += len(offsets)
        sents.append(sent)
        ok = sent["status"] == 200
        for k in keys[ok]:
            expected[f"k{k:03d}"] = expected.get(f"k{k:03d}", 0) + 1
        ack_log.extend(zip(sent["ack"][ok].tolist(), sent["offset"][ok].tolist()))
        deadline = time.time() + DRAIN_TIMEOUT_S
        while not recv.covered(expected) and time.time() < deadline:
            time.sleep(0.01)
        with recv.lock:
            rows = list(recv.rows)
        # on a drain timeout the missing rows are failures; the rung ends then
        t_cov = _covered_at(rows, expected) if recv.covered(expected) else time.time()
        stats[name] = rung_stats(sent, rows, t_cov)
        stats[name]["posts_spans"] = (
            list(zip(sent["send"].tolist(), sent["ack"].tolist())) if name != "warmup" else []
        )
        if name == "warmup":
            conn.send(("ready", None))
    with recv.lock:
        final = dict(recv.best)
        duplicates = recv.duplicates
        rows = list(recv.rows)
    recv.stop()
    for (name, _r, _d), lat in zip(phases, delivery_latency(sents, rows)):
        st = stats[name]
        for q in (50, 90, 99):
            st[f"lat_p{q}_s"] = float(np.nanpercentile(lat, q)) if len(lat) else float("nan")
        st["catchup_s"] = st["covered_at"] - st["last_due"]
    conn.send(("done", {
        "rungs": stats, "expected": expected, "delivered": final,
        "duplicates": duplicates, "ack_log": ack_log, "attempted": seq,
    }))
    conn.close()


def _covered_at(rows: list, expected: dict[str, int]) -> float:
    """Receipt time of the row that completed coverage of ``expected``."""
    need = dict(expected)
    for t, k, n, _s in rows:
        if k in need and n >= need[k]:
            del need[k]
            if not need:
                return t
    return float("nan")


def start_generator(seed: int, seconds: float, conns: int) -> tuple[subprocess.Popen, Connection]:
    """Start the generator as a plain child interpreter joined by a
    socket pair. (A multiprocessing start would also leave its resource
    tracker process running past the benchmark's exit.)"""
    mine, theirs = socket.socketpair()
    code = (
        "import sys; from multiprocessing.connection import Connection;"
        "from perfbench.webhook_live import generator_main;"
        "generator_main(Connection(int(sys.argv[1])), int(sys.argv[2]),"
        " float(sys.argv[3]), int(sys.argv[4]))"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    ))
    try:
        gen = subprocess.Popen(
            [sys.executable, "-c", code, str(theirs.fileno()), str(seed), str(seconds), str(conns)],
            pass_fds=(theirs.fileno(),), env=env,
        )
    except BaseException:
        mine.close()
        raise
    finally:
        theirs.close()
    return gen, Connection(mine.detach())


# ------------------------------------------------------------------ driver


class Deliverer:
    """foreachBatch sink: each partition of the micro-batch is delivered
    by ``deliver_partition`` to the receiver; the wall time per batch is
    kept for ``webhook.deliver_ms``."""

    def __init__(self, port: int):
        self.port = port
        self.batches: list[tuple[float, float]] = []

    def __call__(self, batch_df, epoch_id):
        from data_webhooks_spark.sources.webhook import deliver_partition

        port = self.port
        t0 = time.time()
        batch_df.foreachPartition(lambda rows: deliver_partition(port, rows))
        self.batches.append((t0, time.time()))


def _backlog(ack_log, batches, lo: float, hi: float) -> tuple[float, float]:
    """Max and least-squares slope (per s) of the backlog, the acked
    offsets a micro-batch has not yet processed, sampled when each
    micro-batch inside [lo, hi] ends."""
    acks = np.sort(np.array([a for a, _o in ack_log]))
    pts = []
    for p in batches:
        end = p["_start"] + p["durationMs"].get("triggerExecution", 0) / 1000.0
        if lo <= p["_start"] <= hi:
            pts.append((end, float(np.searchsorted(acks, end, side="right")) - _end_offset(p)))
    if len(pts) < 2:
        return (max((b for _t, b in pts), default=0.0), 0.0)
    t, b = np.array(pts).T
    return float(b.max()), float(np.polyfit(t - t[0], b, 1)[0])


def run(ctx, seconds: float, rng) -> dict:
    from pyspark.sql import functions as F

    from data_webhooks_spark.sources.webhook import WebhookDataSource, free_port
    from data_webhooks_spark.streaming.core import STREAM_STATE_PARTITIONS, checkpoint_dir

    from . import sparkstats

    spark = ctx.spark
    seed = int(rng.integers(2**31))
    ctx.progress = sparkstats.ProgressLog.attach(spark)
    gen, parent = start_generator(seed, seconds, len(os.sched_getaffinity(0)))
    try:
        recv_port = parent.recv()
        spark.dataSource.register(WebhookDataSource)
        ingest_port = free_port()
        events = (
            spark.readStream.format("webhook").option("port", ingest_port).load()
            .select(F.from_json("body", EVENT_SCHEMA).alias("e")).select("e.*")
        )
        agg = events.groupBy("k").agg(F.count(F.lit(1)).alias("n"), F.max("stamp").alias("stamp"))
        deliver = Deliverer(recv_port)
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_STATE_PARTITIONS))
        try:
            q = (
                agg.writeStream.outputMode("update").foreachBatch(deliver)
                .option("checkpointLocation", checkpoint_dir())
                .trigger(processingTime="100 milliseconds").start()
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        parent.send(ingest_port)
        try:
            kind, _ = parent.recv()
            if kind != "ready":
                raise RuntimeError(f"generator sent {kind!r} before its warm-up ended")
            ctx.setup_done()
            kind, res = parent.recv()
            # every acked offset must be processed before the query stops
            n_acked = len(res["ack_log"])
            deadline = time.time() + DRAIN_TIMEOUT_S
            while time.time() < deadline:
                lp = q.lastProgress
                if lp and _end_offset(lp) >= n_acked:
                    break
                time.sleep(0.05)
            processed = _end_offset(q.lastProgress) if q.lastProgress else 0
            ctx.counters.append(sparkstats.accumulation(ctx))
        finally:
            q.stop()
            q.awaitTermination()
    finally:
        parent.close()
        try:
            gen.wait(timeout=30)
        except subprocess.TimeoutExpired:
            gen.kill()
            gen.wait()
    sparkstats.wait_quiet(ctx.progress)
    return summarize(ctx, res, processed, deliver)


def _end_offset(progress) -> int:
    """Processed end offset of the webhook source in one progress record
    (a ``StreamingQueryProgress`` or its parsed JSON)."""
    if hasattr(progress, "json"):
        progress = json.loads(progress.json)
    end = progress["sources"][0]["endOffset"]
    if isinstance(end, str):
        end = json.loads(end)
    return int((end or {}).get("offset", 0))


def summarize(ctx, res: dict, processed: int, deliver: Deliverer) -> dict:
    rungs = res["rungs"]
    failures = []
    for name, st in rungs.items():
        if st["rejected_429"] or st["errors"]:
            failures.append(
                f"{name}: {st['rejected_429']} POSTs answered 429, {st['errors']} failed"
            )
    missing = {
        k: n - res["delivered"].get(k, 0)
        for k, n in res["expected"].items() if res["delivered"].get(k, 0) != n
    }
    failures += [f"key {k}: delivered count off by {d}" for k, d in sorted(missing.items())]
    n_acked = len(res["ack_log"])
    if processed < n_acked:
        failures.append(f"{n_acked - processed} acked offsets never processed")
    batches = ctx.progress.batches()
    ref = rungs[f"r{REFERENCE_RATE}"]
    sustained = 0.0
    for r in RATES:
        st = rungs[f"r{r}"]
        lo, hi = st["first_due"], st["last_ack"]
        st["backlog_max"], st["backlog_slope_per_s"] = _backlog(
            res["ack_log"], batches, lo, st["last_due"]
        )
        ok = (
            st["ack_p99_ms"] <= LIMITS["ack_p99_ms"]
            and st["fresh_p99_s"] <= LIMITS["fresh_p99_s"]
            and st["errors"] == 0 and st["rejected_429"] == 0
            and st["backlog_slope_per_s"] <= 0.05 * r
        )
        if ok:
            sustained = st["rate_achieved"]
        wall = st["covered_at"] - lo
        ctx.passes.append(Pass(lo, st["covered_at"], wall, ctx.tracer.enabled, None))
        if ctx.tracer.enabled:
            _rung_spans(ctx, f"rung.r{r}", st, batches, deliver)
    ref_batches = [p for p in batches if ref["first_due"] <= p["_start"] <= ref["covered_at"]]
    rows_per_batch = [
        sum(op.get("numRowsUpdated", 0) for op in p.get("stateOperators", [])) for p in ref_batches
    ]
    deliver_ms = [
        (b - a) * 1000 for a, b in deliver.batches if ref["first_due"] <= a <= ref["covered_at"]
    ]
    webhook = {
        "webhook.ack_p50_ms": ref["ack_p50_ms"], "webhook.ack_p99_ms": ref["ack_p99_ms"],
        "webhook.fresh_p50_s": ref["fresh_p50_s"], "webhook.fresh_p99_s": ref["fresh_p99_s"],
        "webhook.sustained_posts_per_s": sustained,
        "webhook.ack_p99_ms.r250": rungs["r250"]["ack_p99_ms"],
        "webhook.ack_p99_ms.r2000": rungs["r2000"]["ack_p99_ms"],
        "webhook.fresh_p99_s.r250": rungs["r250"]["fresh_p99_s"],
        "webhook.fresh_p99_s.r2000": rungs["r2000"]["fresh_p99_s"],
        "webhook.accepted": sum(st["accepted"] for st in rungs.values()),
        "webhook.rejected_429": sum(st["rejected_429"] for st in rungs.values()),
        "webhook.errors": sum(st["errors"] for st in rungs.values()),
        "webhook.gen_late_p99_ms": ref["late_p99_ms"],
        "webhook.backlog_max": ref["backlog_max"],
        "webhook.backlog_slope_per_s": ref["backlog_slope_per_s"],
        "webhook.rows_per_batch": statistics.median(rows_per_batch) if rows_per_batch else 0.0,
        "webhook.deliver_ms": statistics.median(deliver_ms) if deliver_ms else 0.0,
        "webhook.deliver_retries": res["duplicates"],
    }
    from .metrics import WEBHOOK

    shown = {name: (webhook[name], unit) for name, unit in WEBHOOK}
    for st in rungs.values():
        st.pop("posts_spans", None)
    return {
        "attempted": res["attempted"],
        "failures": failures,
        # an event's pass through the engine: due -> POST acked -> micro-
        # batch -> delivered back; the median of each rung, so the three
        # rungs average out host hiccups that one rung's median keeps
        "pass_s": math.exp(statistics.fmean(
            math.log(rungs[f"r{r}"]["lat_p50_s"]) for r in RATES
        )),
        # the tail, where ack stalls and slow batches show, with every
        # rung weighing the same, as every key does in a closed loop
        "query_geomean_s": math.exp(statistics.fmean(
            math.log(rungs[f"r{r}"]["lat_p99_s"]) for r in RATES
        )),
        "webhook": webhook,
        "shown": shown,
        "details": {"rungs": rungs, "processed_end_offset": processed, "layer_s": ctx.layer_s},
    }


def _rung_spans(ctx, name: str, st: dict, batches: list, deliver: Deliverer) -> None:
    """Spans of one rung: the rung (unattributed remainder), its
    micro-batches (streaming.core), their deliveries and every POST
    (sources.webhook)."""
    tr = ctx.tracer
    lo, hi = st["first_due"], st["covered_at"]
    root = len(tr.spans)
    tr.add("unattributed", name, lo, hi, None)
    rid = tr.spans[root].id
    ctx.passes[-1].span = rid
    for p in batches:
        t = p["_start"]
        if lo <= t <= hi:
            end = t + p["durationMs"].get("triggerExecution", 0) / 1000.0
            tr.add("streaming.core", "microbatch", t, end, rid)
            bid = tr.spans[-1].id
            for a, b in deliver.batches:
                if t <= a <= end:
                    tr.add("sources.webhook", "deliver", a, b, bid)
    for a, b in st.get("posts_spans", []):
        tr.add("sources.webhook", "post", a, b, rid)
