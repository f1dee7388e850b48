"""The served workloads: ``serve_dash`` and ``serve_ingest``.

Untraced runs boot the real entrypoint (``python -m cowsdb_spark``) on
ephemeral ports with a fresh warehouse. Traced runs host
``make_server(engine)`` and ``NativeServer(engine)`` in this process so
that the layers' entry points can be wrapped. Clients run closed loops:
each sends its next request only after the previous reply.
"""

from __future__ import annotations

import os
import random
import signal
import subprocess
import sys
import threading
import time

from . import fixtures
from .common import RssSampler, median, p95_supported, quantile, reap, spark_env, stop_spark, tree_pids
from .wire import (
    HttpClient,
    NativeClient,
    rows_from_columns,
    rows_from_json_each_row,
    rows_from_tsv,
    rows_match,
)

BOOT_TIMEOUT_S = 150
# Closed-loop warm-up after the explicit warm pass, excluded from every
# metric. The dashboard's latency keeps falling for several seconds of
# load after its warm pass (JIT); the ingest readers re-plan after every
# insert anyway.
WARMUP_S = {"serve_dash": 8.0, "serve_ingest": 4.0}

SIZES = {
    # rows of the dashboard table; rows per insert batch and batches
    "serve_dash": {"full": 300_000, "tiny": 20_000},
    "serve_ingest": {"full": (10_000, 32), "tiny": (500, 8)},
}


class Server:
    """One engine behind both wires, fresh for each run."""

    def __init__(self, run_dir: str, tracer=None):
        self.run_dir = run_dir
        self.tracer = tracer
        self.proc: subprocess.Popen | None = None
        self.engine = self.native = self.httpd = self.http_thread = None

    def __enter__(self) -> "Server":
        try:
            self.start()
        except BaseException:
            self.stop()
            raise
        return self

    def __exit__(self, *exc) -> None:
        self.stop()

    def start(self) -> None:
        if self.tracer is None:
            self._spawn()
        else:
            self._host()
        http = HttpClient(self.http_port)
        deadline = time.monotonic() + BOOT_TIMEOUT_S
        while not http.ping():
            if time.monotonic() > deadline:
                raise RuntimeError("server did not answer /ping")
            time.sleep(0.05)

    def _spawn(self) -> None:
        log = open(os.path.join(self.run_dir, "server.log"), "wb")
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "cowsdb_spark", "--host", "127.0.0.1", "--port", "0", "--native-port", "0"],
            cwd=self.run_dir, env=spark_env(self.run_dir),
            stdout=subprocess.PIPE, stderr=log, text=True,
        )
        log.close()
        self.pid = self.proc.pid
        self.http_port = self.native_port = None
        while self.http_port is None or self.native_port is None:
            line = self.proc.stdout.readline()
            if not line:
                raise RuntimeError(f"server exited during boot (rc={self.proc.wait()})")
            if line.startswith("HTTP API:"):
                self.http_port = int(line.rsplit(":", 1)[1])
            elif line.startswith("Native protocol:"):
                self.native_port = int(line.rsplit(":", 1)[1])

    def _host(self) -> None:
        from cowsdb_spark.engine import Engine
        from cowsdb_spark.server.http_server import make_server
        from cowsdb_spark.server.native_server import NativeServer

        self.pid = os.getpid()
        self.engine = Engine()
        self.native = NativeServer(self.engine, "127.0.0.1", 0).start_background()
        self.native_port = self.native.port
        self.httpd = make_server(self.engine, "127.0.0.1", 0)
        self.http_port = self.httpd.server_address[1]
        self.http_thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self.http_thread.start()

    def stop(self) -> None:
        if self.proc is not None:
            pids = tree_pids(self.proc.pid)
            self.proc.send_signal(signal.SIGTERM)
            try:
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
            self.proc.stdout.close()
            reap(pids[1:])
        elif self.engine is not None:
            if self.http_thread is not None:
                self.httpd.shutdown()
                self.http_thread.join()
            if self.httpd is not None:
                self.httpd.server_close()
            if self.native is not None:
                self.native.stop()
            stop_spark(self.engine.spark)


# ----------------------------------------------------------- clients


class Loop:
    """Closed-loop clients. ``steps`` are callables, one per client,
    each performing one request and returning its record."""

    def __init__(self, steps):
        self.steps = steps
        self.records: list[dict] = []
        self._lock = threading.Lock()
        self._stop = threading.Event()

    def _client(self, step) -> None:
        while not self._stop.is_set():
            rec = step()
            with self._lock:
                self.records.append(rec)

    def run(self, warmup_s: float, window_s: float, at_start=None) -> tuple[float, float]:
        """Run ``warmup_s`` then a measured window of ``window_s``;
        ``at_start`` is called as the window opens."""
        threads = [threading.Thread(target=self._client, args=(s,), daemon=True) for s in self.steps]
        for t in threads:
            t.start()
        try:
            time.sleep(warmup_s)
            w0 = time.perf_counter()
            if at_start is not None:
                at_start()
            time.sleep(max(0.0, window_s - (time.perf_counter() - w0)))
            w1 = time.perf_counter()
        finally:
            self._stop.set()
            for t in threads:
                t.join(timeout=150)
        if any(t.is_alive() for t in threads):
            raise RuntimeError("a client did not finish its last request")
        return w0, w1


def _timed(rec: dict, fn) -> dict:
    rec["start"] = time.perf_counter()
    try:
        rec["result"] = fn()
        rec["ok"] = True
    except Exception as e:  # noqa: BLE001 — a failed request is a measurement
        rec["ok"] = False
        rec["error"] = f"{type(e).__name__}: {e}"[:300]
    rec["end"] = time.perf_counter()
    return rec


class HttpWire:
    wire = "http"

    def __init__(self, port: int, name: str):
        self.client = HttpClient(port)
        self.name = name
        self.n = 0

    def request(self, sql: str, body: bytes | None = None, **rec) -> dict:
        self.n += 1
        rid = f"{self.name}-{self.n}"
        rec.update(wire="http", rid=rid, port=None, sql=sql)
        rec = _timed(rec, lambda: self.client.query(sql, body=body, query_id=rid))
        rec["bytes"] = len(rec.get("result") or b"")
        return rec

    def close(self) -> None:
        self.client.close()


class NativeWire:
    wire = "native"

    def __init__(self, port: int, name: str):
        self.port = port
        self.client = NativeClient(port)
        self.name = name

    def request(self, sql: str, **rec) -> dict:
        rec.update(wire="native", rid=None, port=self.client.local_port, sql=sql, bytes=0)
        rec = _timed(rec, lambda: self.client.query(sql))
        if rec["ok"]:
            cols = rec["result"][1]
            rec["rows"] = len(cols[0]) if cols else 0
        else:
            # the stream may be out of step after an error: reconnect
            self.client.close()
            self.client = NativeClient(self.port)
        return rec

    def close(self) -> None:
        self.client.close()


def _result_rows(rec: dict) -> list[list]:
    if rec["wire"] == "native":
        return rows_from_columns(rec["result"][1])
    if rec.get("export"):
        return rows_from_json_each_row(rec["result"])
    return rows_from_tsv(rec["result"])


# --------------------------------------------------------- workloads


def _window(records, w0, w1):
    return [r for r in records if w0 <= r["start"] and r["end"] <= w1]


def serve_dash(seed: int, seconds: float, size: str, tracer=None, run_dir: str = "") -> dict:
    rows = SIZES["serve_dash"][size]
    path, expected = fixtures.hits(rows)
    t0 = time.perf_counter()
    with Server(run_dir, tracer) as server, RssSampler(server.pid) as rss:
        loader = HttpClient(server.http_port)
        loader.query(fixtures.HITS_DDL)
        loader.query(f"INSERT INTO hits SELECT * FROM file('{os.path.basename(path)}', 'Parquet')")
        loader.close()
        setup_s = time.perf_counter() - t0

        wires = [HttpWire(server.http_port, "h0"), HttpWire(server.http_port, "h1"),
                 NativeWire(server.native_port, "n0"), NativeWire(server.native_port, "n1")]
        pool = fixtures.DASH_QUERIES
        exports = fixtures.EXPORT_QUERIES

        def request(w, sql, export):
            text = sql + " FORMAT JSONEachRow" if export and w.wire == "http" else sql
            return w.request(text, key=sql, export=export)

        # warm pass, the clients in parallel: every text once, so the
        # plan cache holds the whole pool
        texts = pool + exports
        warm = [threading.Thread(target=lambda w=w, k=k: [request(w, q, q in exports) for q in texts[k::4]])
                for k, w in enumerate(wires)]
        for t in warm:
            t.start()
        for t in warm:
            t.join()

        def stepper(cid, w):
            # a seeded shuffle of the pool per cycle; every tenth
            # request is an export
            rng = random.Random(seed * 1009 + cid)
            state = {"order": [], "i": rng.randrange(10)}

            def step():
                state["i"] += 1
                if state["i"] % 10 == 0:
                    return request(w, exports[rng.randrange(len(exports))], True)
                if not state["order"]:
                    state["order"] = rng.sample(pool, len(pool))
                return request(w, state["order"].pop(), False)

            return step

        counters = _Counters(server, tracer)
        loop = Loop([stepper(i, w) for i, w in enumerate(wires)])
        w0, w1 = loop.run(WARMUP_S["serve_dash"], seconds, counters.start)
        exec_delta = counters.delta()
        for w in wires:
            w.close()
        storage = _storage(run_dir, os.path.getsize(path)) if tracer else {}

    reqs = _window(loop.records, w0, w1)
    failed = 0
    for r in reqs:
        if r["ok"]:
            got = _result_rows(r)
            r["rows"] = len(got)
            if not rows_match(expected[r["key"]], got):
                r["ok"] = False
                r["error"] = "result differs from the DuckDB oracle"
        failed += not r["ok"]
    window = w1 - w0
    ok = [r for r in reqs if r["ok"]]
    by_wire = {wn: [(r["end"] - r["start"]) * 1e3 for r in ok if r["wire"] == wn] for wn in ("http", "native")}
    exports = [r for r in ok if r["export"]]
    report = {
        "setup_s": (setup_s, "s"),
        "qps": (len(ok) / window, "1/s"),
        "http_p50_ms": (median(by_wire["http"]), "ms"),
        "http_p95_ms": _p95(by_wire["http"]),
        "native_p50_ms": (median(by_wire["native"]), "ms"),
        "native_p95_ms": _p95(by_wire["native"]),
        "peak_rss_mb": (rss.peak_mb, "MB"),
        "failed_frac": (failed / max(1, len(reqs)), "ratio"),
    }
    return {
        "attempted": len(reqs),
        "failed": failed,
        "errors": sorted({r.get("error", "") for r in reqs if not r["ok"]})[:5],
        "e2e": {
            "setup_s": setup_s,
            # each wire's median weighs the same, whatever the mix of
            # requests the two wires completed
            "latency_p50_ms": (median(by_wire["http"]) + median(by_wire["native"])) / 2,
            "ops_per_s": len(ok) / window,
            # the median export's rows per second
            "rows_per_s": median([r["rows"] / (r["end"] - r["start"]) for r in exports]),
            "peak_rss_mb": rss.peak_mb,
        },
        "report": report,
        "records": reqs,
        "window": (w0, w1),
        "phases": _phases(t0, setup_s, w0, w1),
        "exec_delta": exec_delta,
        "storage": storage,
        "inserted_rows": rows,
    }


INGEST_QUERIES = [
    "SELECT COUNT(*) AS n FROM events",
    "SELECT kind, COUNT(*) AS c, ROUND(SUM(value), 2) AS s FROM events GROUP BY kind ORDER BY kind",
    "SELECT COUNT(DISTINCT user_id) AS u, COUNT(*) AS n FROM events",
    "SELECT user_id, COUNT(*) AS c FROM events GROUP BY user_id ORDER BY c DESC, user_id LIMIT 10",
    "SELECT toStartOfHour(ts) AS h, COUNT(*) AS c FROM events GROUP BY h ORDER BY h DESC LIMIT 5",
    "SELECT COUNT(*) AS n, MAX(value) AS mx FROM events WHERE kind = 'buy'",
]
# DuckDB spelling where the ClickHouse one differs
INGEST_ORACLE = {
    INGEST_QUERIES[4]: "SELECT date_trunc('hour', ts) AS h, COUNT(*) AS c FROM events GROUP BY h ORDER BY h DESC LIMIT 5",
}


def _table_count(sql: str, rows: list[list]) -> int | None:
    """Total rows of ``events`` a reader result reports, if any."""
    if sql == INGEST_QUERIES[0]:
        return int(rows[0][0])
    if sql == INGEST_QUERIES[1]:
        return sum(int(r[1]) for r in rows)
    if sql == INGEST_QUERIES[2]:
        return int(rows[0][1])
    return None


def serve_ingest(seed: int, seconds: float, size: str, tracer=None, run_dir: str = "") -> dict:
    batch_rows, n_batches = SIZES["serve_ingest"][size]
    batches = fixtures.event_batches(seed, n_batches, batch_rows)
    t0 = time.perf_counter()
    with Server(run_dir, tracer) as server, RssSampler(server.pid) as rss:
        admin = HttpClient(server.http_port)
        admin.query(fixtures.EVENTS_DDL)
        setup_s = time.perf_counter() - t0

        writer = HttpWire(server.http_port, "w")
        readers = [HttpWire(server.http_port, f"r{i}") for i in range(3)]
        acked: list[int] = []  # batch indices the server acknowledged
        insert_sql = "INSERT INTO events FORMAT JSONEachRow"

        def write_step():
            i = len(writer_records) % n_batches
            rec = writer.request(insert_sql, body=batches[i], batch=i)
            if rec["ok"]:
                acked.append(i)
            writer_records.append(rec)
            return rec

        writer_records: list[dict] = []
        # warm pass: the first insert, the readers' pool alongside
        warm = [threading.Thread(target=write_step)] + [
            threading.Thread(target=lambda w=w, k=k: [w.request(q, key=q) for q in INGEST_QUERIES[k::3]])
            for k, w in enumerate(readers)
        ]
        for t in warm:
            t.start()
        for t in warm:
            t.join()

        def reader_step(cid, w):
            rng = random.Random(seed * 1009 + cid)
            order: list[str] = []

            def step():
                if not order:
                    order.extend(rng.sample(INGEST_QUERIES, len(INGEST_QUERIES)))
                return w.request(order.pop(), key=None, reader=cid)

            return step

        counters = _Counters(server, tracer)
        loop = Loop([write_step] + [reader_step(i, w) for i, w in enumerate(readers)])
        w0, w1 = loop.run(WARMUP_S["serve_ingest"], seconds, counters.start)
        exec_delta = counters.delta()

        # untimed checks against everything acknowledged
        final = [readers[0].request("SELECT COUNT(*) AS n FROM events", key="final-count")]
        final += [readers[0].request(sql, key=sql) for sql in INGEST_QUERIES]
        writer.close()
        for w in readers:
            w.close()
        admin.close()
        storage = _storage(run_dir, sum(len(batches[i]) for i in acked)) if tracer else {}

    acked_rows = len(acked) * batch_rows
    reads = [r for r in _window(loop.records, w0, w1) if "reader" in r]
    last: dict[int, int] = {}
    for r in sorted((r for r in loop.records if "reader" in r and r["ok"]), key=lambda r: r["end"]):
        # a reader's view of the table never shrinks
        n = _table_count(r["sql"], rows_from_tsv(r["result"]))
        if n is not None:
            if n < last.get(r["reader"], 0):
                r["ok"] = False
                r["error"] = f"reader saw {n} rows after {last.get(r['reader'])}"
            last[r["reader"]] = max(n, last.get(r["reader"], 0))
    failed = sum(not r["ok"] for r in reads) + _check_final(final, batches, acked, acked_rows, run_dir)
    # every insert after the first (cold) one: the closed loop's warm-up
    # and window hold only a handful of 10k-row inserts
    inserts = [r for r in writer_records[1:] if r["ok"]]
    insert_s = sum(r["end"] - r["start"] for r in inserts)
    window = w1 - w0
    ok = [r for r in reads if r["ok"]]
    lat = [(r["end"] - r["start"]) * 1e3 for r in ok]
    rows_per_s = len(inserts) * batch_rows / insert_s if insert_s else 0.0
    attempted = len(reads) + len(final)
    report = {
        "setup_s": (setup_s, "s"),
        "qps": (len(ok) / window, "1/s"),
        "http_p50_ms": (median(lat), "ms"),
        "http_p95_ms": _p95(lat),
        "insert_rows_per_s": (rows_per_s, "rows/s"),
        "peak_rss_mb": (rss.peak_mb, "MB"),
        "failed_frac": (failed / max(1, attempted), "ratio"),
    }
    return {
        "attempted": attempted,
        "failed": failed,
        "errors": sorted({r.get("error", "") for r in reads + final if not r["ok"]})[:5],
        "e2e": {
            "setup_s": setup_s,
            "latency_p50_ms": median(lat) if lat else 0.0,
            "ops_per_s": len(ok) / window,
            "rows_per_s": rows_per_s,
            "peak_rss_mb": rss.peak_mb,
        },
        "report": report,
        "records": _window(loop.records, w0, w1),
        "window": (w0, w1),
        "phases": _phases(t0, setup_s, w0, w1),
        "exec_delta": exec_delta,
        "storage": storage,
        "inserted_rows": acked_rows,
    }


def _check_final(final: list[dict], batches, acked, acked_rows, run_dir) -> int:
    """Final ``count()`` equals the rows acknowledged; every reader
    query matches DuckDB over the acknowledged batches."""
    import duckdb

    path = os.path.join(run_dir, "acked.ndjson")
    with open(path, "wb") as f:
        for i in acked:
            f.write(batches[i])
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE TABLE events AS SELECT * FROM read_json(?, format='newline_delimited', "
            "columns={ts: 'TIMESTAMP', user_id: 'BIGINT', kind: 'VARCHAR', value: 'DOUBLE', url: 'VARCHAR'})",
            [path],
        )
        failed = 0
        for rec in final:
            if not rec["ok"]:
                failed += 1
                continue
            got = rows_from_tsv(rec["result"])
            if rec["key"] == "final-count":
                good = int(got[0][0]) == acked_rows
            else:
                want = con.execute(INGEST_ORACLE.get(rec["key"], rec["key"])).fetchall()
                good = rows_match([[fixtures._plain(v) for v in r] for r in want], got)
            if not good:
                rec["ok"] = False
                rec["error"] = f"final check failed: {rec['key'][:60]}"
                failed += 1
        return failed
    finally:
        con.close()


def _phases(t0, setup_s, w0, w1) -> dict:
    return {"setup": setup_s, "warm-up": w0 - t0 - setup_s, "window": w1 - w0,
            "stop and checks": time.perf_counter() - w1}


def _p95(values: list[float]) -> tuple:
    if p95_supported(len(values)):
        return (quantile(values, 0.95), "ms")
    return (None, f"ms (n={len(values)} < 200)")


class _Counters:
    """Spark counter deltas over the measured window (traced runs)."""

    def __init__(self, server: Server, tracer):
        self.counters = None
        if tracer is not None:
            from .spans import SparkCounters

            self.counters = SparkCounters(server.engine.spark)

    def start(self) -> None:
        if self.counters is not None:
            self.before = self.counters.snapshot()

    def delta(self) -> dict | None:
        return self.counters.delta(self.before) if self.counters is not None else None


def _storage(run_dir: str, input_bytes: int) -> dict:
    from .spans import storage_stats

    return storage_stats(os.path.join(run_dir, "warehouse"), input_bytes)


WORKLOADS = {"serve_dash": serve_dash, "serve_ingest": serve_ingest}
