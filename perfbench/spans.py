"""Tracing for the per-layer run, recorded from the benchmark's own
files: the layers' public entry points are wrapped in place; the engine
itself is not instrumented.

Spans are kept in memory and written to ``.perfbench/traces`` when the
run ends. Each span has a name, start, end, parent, request id and the
thread that ran it. An HTTP request's id is the ``query_id`` URL
parameter its client sends. A native request's id is assigned after
the run: its server spans are those of the connection's thread that
fall inside the client's send/receive interval.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
import urllib.parse

from .common import median, quantile

LAYER_METRICS: list[tuple[str, str]] = [
    ("http.requests", "count"),
    ("http.self_ms_p50", "ms"),
    ("http.self_ms_p95", "ms"),
    ("http.bytes_out", "bytes"),
    ("native.requests", "count"),
    ("native.self_ms_p50", "ms"),
    ("native.self_ms_p95", "ms"),
    ("dialect.translate_calls", "count"),
    ("dialect.translate_ms_p50", "ms"),
    ("dialect.translate_ms_total", "ms"),
    ("engine.plan_ms_p50", "ms"),
    ("engine.plan_ms_total", "ms"),
    ("engine.insert_ms_p50", "ms"),
    ("engine.insert_rows", "rows"),
    ("execute.drain_ms_total", "ms"),
    ("execute.jobs", "count"),
    ("execute.stages", "count"),
    ("execute.tasks", "count"),
    ("execute.input_mb", "MB"),
    ("execute.shuffle_write_mb", "MB"),
    ("execute.shuffle_read_mb", "MB"),
    ("execute.spill_mb", "MB"),
    ("execute.gc_ms", "ms"),
    ("formats.serialize_ms_total", "ms"),
    ("formats.rows_out", "rows"),
    ("formats.bytes_out", "bytes"),
    ("storage.files", "count"),
    ("storage.bytes_per_input_byte", "ratio"),
]

# The llm_pipeline stages, in pipeline order.
OPERATOR_STAGES = [
    "quality_score",
    "lang_id",
    "exact_dedup",
    "minhash_lsh_pairs",
    "connected_components",
    "simhash_pairs",
    "dup_ngram_coverage",
    "bm25_topk",
]
OPERATOR_METRICS = [("s", "s"), ("jobs", "count"), ("shuffle_write_mb", "MB"), ("spill_mb", "MB"), ("worker_rss_mb", "MB")]
for _fn in OPERATOR_STAGES:
    LAYER_METRICS += [(f"op.{_fn}.{m}", u) for m, u in OPERATOR_METRICS]


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self.native_threads: dict[int, int] = {}  # server thread -> client port
        self._undo: list[tuple[object, str, object]] = []

    # -------------------------------------------------------- recording

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def set_request(self, rid: str) -> None:
        self._local.rid = rid

    def record(self, name: str, start: float, end: float, **attrs) -> None:
        stack = self._stack()
        span = {
            "name": name,
            "start": start,
            "end": end,
            "parent": stack[-1] if stack else None,
            "rid": getattr(self._local, "rid", None),
            "thread": threading.get_ident(),
            **attrs,
        }
        with self._lock:
            self.spans.append(span)

    def wrap(self, owner, attr: str, name: str, attrs_of=None) -> None:
        """Replace ``owner.attr`` with a version that records a span;
        ``attrs_of(args, result)`` adds attributes to it."""
        fn = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            stack = tracer._stack()
            stack.append(name)
            start = time.perf_counter()
            result = None
            try:
                result = fn(*args, **kwargs)
                return result
            finally:
                end = time.perf_counter()
                stack.pop()
                tracer.record(name, start, end, **(attrs_of(args, result) if attrs_of else {}))

        setattr(owner, attr, traced)
        self._undo.append((owner, attr, fn))

    def unwrap_all(self) -> None:
        for owner, attr, raw in reversed(self._undo):
            setattr(owner, attr, raw)
        self._undo.clear()

    # ------------------------------------------------------- the layers

    def instrument_server(self) -> None:
        """Wrap the wires, dialect, engine, and formats entry points."""
        import cowsdb_spark.engine as engine_mod
        from cowsdb_spark.engine import Engine
        from cowsdb_spark.formats import QueryResult
        from cowsdb_spark.server import http_server
        from cowsdb_spark.server.native_server import NativeServer

        tracer = self
        handler = http_server._Handler

        for verb in ("do_GET", "do_POST"):
            orig = getattr(handler, verb)

            def entry(h, _orig=orig):
                qs = urllib.parse.parse_qs(urllib.parse.urlparse(h.path).query)
                tracer.set_request((qs.get("query_id") or [None])[0])
                return _orig(h)

            setattr(handler, verb, entry)
            self._undo.append((handler, verb, orig))
            self.wrap(handler, verb, "http.request")

        orig_handle = NativeServer._handle

        def native_conn(server, client):
            tracer.native_threads[threading.get_ident()] = client.getpeername()[1]
            tracer.set_request(None)
            return orig_handle(server, client)

        NativeServer._handle = native_conn
        self._undo.append((NativeServer, "_handle", orig_handle))

        insert_re = re.compile(r"\s*INSERT\s", re.I)

        def query_attrs(args, result):
            return {"insert": bool(insert_re.match(args[1]))}

        self.wrap(Engine, "execute_with_format", "engine.execute_with_format")
        self.wrap(Engine, "execute_to_df", "engine.execute_to_df", query_attrs)
        self.wrap(engine_mod, "translate", "dialect.translate")
        self.wrap(engine_mod, "serialize", "formats.serialize",
                  lambda args, result: {"bytes": len(result or b"")})

        orig_from_df = QueryResult.__dict__["from_dataframe"]

        def from_dataframe(cls, df, elapsed=0.0, stream=True):
            start = time.perf_counter()
            res = orig_from_df.__func__(cls, df, elapsed=elapsed, stream=stream)
            end = time.perf_counter()
            tracer.record("formats.from_dataframe", start, end, stream=stream)
            if stream:
                res.rows = tracer._timed_rows(res.rows)
            return res

        QueryResult.from_dataframe = classmethod(from_dataframe)
        self._undo.append((QueryResult, "from_dataframe", orig_from_df))

    def _timed_rows(self, rows):
        """Time spent inside the result iterator's ``next``: the Spark
        jobs that drain the result."""
        busy = 0.0
        n = 0
        first = time.perf_counter()
        it = iter(rows)
        try:
            while True:
                t = time.perf_counter()
                try:
                    row = next(it)
                except StopIteration:
                    busy += time.perf_counter() - t
                    return
                busy += time.perf_counter() - t
                n += 1
                yield row
        finally:
            self.record("execute.drain", first, time.perf_counter(), busy=busy, rows=n)

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f)


# --------------------------------------------------- Spark counters


class SparkCounters:
    """Cumulative job, stage, task, byte, spill and GC counters of one
    SparkContext, read from its status store (which works with the UI
    off)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = spark._jsparkSession.sparkContext().statusStore()  # noqa: SLF001

    def _stages(self):
        gw = self.sc._gateway  # noqa: SLF001
        return self.store.stageList(
            None, False, False, gw.new_array(gw.jvm.double, 0), self.sc._jvm.java.util.ArrayList()  # noqa: SLF001
        )

    @staticmethod
    def _newest_id(seq, attr: str) -> int:
        # the store lists jobs and stages newest first
        return getattr(seq.head(), attr)() if seq.nonEmpty() else -1

    def snapshot(self) -> dict:
        tasks = inp = srd = swr = gc = 0
        it = self.store.executorList(False).iterator()
        while it.hasNext():
            e = it.next()
            tasks += e.totalTasks()
            inp += e.totalInputBytes()
            srd += e.totalShuffleRead()
            swr += e.totalShuffleWrite()
            gc += e.totalGCTime()
        return {"max_job": self._newest_id(self.store.jobsList(None), "jobId"),
                "max_stage": self._newest_id(self._stages(), "stageId"),
                "tasks": tasks, "input": inp, "shuffle_read": srd, "shuffle_write": swr, "gc_ms": gc}

    def delta(self, before: dict) -> dict:
        after = self.snapshot()
        spill = shuffle_write = 0
        it = self._stages().iterator()
        while it.hasNext():
            s = it.next()
            if s.stageId() <= before["max_stage"]:
                break
            if s.stageId() <= after["max_stage"]:
                spill += s.memoryBytesSpilled() + s.diskBytesSpilled()
                shuffle_write += s.shuffleWriteBytes()
        mb = 1 / (1024 * 1024)
        return {
            "jobs": after["max_job"] - before["max_job"],
            "stages": after["max_stage"] - before["max_stage"],
            "tasks": after["tasks"] - before["tasks"],
            "input_mb": (after["input"] - before["input"]) * mb,
            "shuffle_read_mb": (after["shuffle_read"] - before["shuffle_read"]) * mb,
            "shuffle_write_mb": (after["shuffle_write"] - before["shuffle_write"]) * mb,
            "stage_shuffle_write_mb": shuffle_write * mb,
            "spill_mb": spill * mb,
            "gc_ms": after["gc_ms"] - before["gc_ms"],
        }


# ------------------------------------------------------ server layers


def storage_stats(warehouse: str, input_bytes: int) -> dict:
    """Data files under the warehouse and their bytes per input byte."""
    files = size = 0
    for dirpath, _, names in os.walk(warehouse):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return {"storage.files": files, "storage.bytes_per_input_byte": size / input_bytes if input_bytes else 0.0}


def server_layers(tracer: Tracer, requests: list[dict], window: tuple[float, float],
                  counters: dict, storage: dict, inserted_rows: int) -> dict:
    """Per-layer metrics over the requests completed in ``window``; the
    insert metrics cover the whole run (the dashboard's only insert is
    its table load).

    ``requests`` are the client records: wire, rid, client port, start,
    end, bytes, rows."""
    w0, w1 = window
    in_window = [r for r in requests if r["ok"] and w0 <= r["start"] and r["end"] <= w1]
    spans = [s for s in tracer.spans if w0 <= s["start"] and s["end"] <= w1]
    by_thread: dict[int, list[dict]] = {}
    by_rid: dict[str, list[dict]] = {}
    for s in spans:
        by_thread.setdefault(s["thread"], []).append(s)
        by_rid.setdefault(s["rid"], []).append(s)
    port_thread = {p: t for t, p in tracer.native_threads.items()}

    def within(thread, start, end, name, field=None) -> float:
        """Summed duration (or ``field``) of the ``name`` spans that
        ``thread`` ran inside [start, end]."""
        return sum(s[field] if field else s["end"] - s["start"] for s in by_thread.get(thread, ())
                   if s["name"] == name and start <= s["start"] and s["end"] <= end)

    def named(name):
        return [s for s in spans if s["name"] == name]

    http_self, native_self = [], []
    for r in in_window:
        latency = r["end"] - r["start"]
        if r["wire"] == "http":
            inner = sum(s["end"] - s["start"] for s in by_rid.get(r["rid"], ())
                        if s["name"] == "engine.execute_with_format")
            http_self.append((latency - inner) * 1e3)
        else:
            t = port_thread.get(r["port"])
            inner = (within(t, r["start"], r["end"], "engine.execute_to_df")
                     + within(t, r["start"], r["end"], "formats.from_dataframe"))
            native_self.append((latency - inner) * 1e3)

    translate = [(s["end"] - s["start"]) * 1e3 for s in named("dialect.translate")]
    plan = [(s["end"] - s["start"] - within(s["thread"], s["start"], s["end"], "dialect.translate")) * 1e3
            for s in named("engine.execute_to_df") if not s["insert"]]
    insert = [(s["end"] - s["start"]) * 1e3 for s in tracer.spans
              if s["name"] == "engine.execute_to_df" and s["insert"]]
    drains = named("execute.drain")
    native_collect = [s for s in named("formats.from_dataframe") if not s["stream"]]
    serialize = named("formats.serialize")

    def p50(values):
        return median(values) if values else 0.0

    def p95(values):
        return quantile(values, 0.95) if values else 0.0

    out = {
        "http.requests": len(http_self),
        "http.self_ms_p50": p50(http_self),
        "http.self_ms_p95": p95(http_self),
        "http.bytes_out": sum(r["bytes"] for r in in_window if r["wire"] == "http"),
        "native.requests": len(native_self),
        "native.self_ms_p50": p50(native_self),
        "native.self_ms_p95": p95(native_self),
        "dialect.translate_calls": len(translate),
        "dialect.translate_ms_p50": p50(translate),
        "dialect.translate_ms_total": sum(translate),
        "engine.plan_ms_p50": p50(plan),
        "engine.plan_ms_total": sum(plan),
        "engine.insert_ms_p50": p50(insert),
        "engine.insert_rows": inserted_rows,
        "execute.drain_ms_total": (sum(s["busy"] for s in drains)
                                   + sum(s["end"] - s["start"] for s in native_collect)) * 1e3,
        # serialize self time: the row iterator's time inside it is the drain
        "formats.serialize_ms_total": sum(
            s["end"] - s["start"] - within(s["thread"], s["start"], s["end"], "execute.drain", "busy")
            for s in serialize) * 1e3,
        "formats.rows_out": sum(s["rows"] for s in drains)
        + sum(r.get("rows", 0) for r in in_window if r["wire"] == "native"),
        "formats.bytes_out": sum(s["bytes"] for s in serialize),
    }
    out.update(execute_metrics(counters))
    out.update(storage)
    return out


def execute_metrics(counters: dict) -> dict:
    return {
        "execute.jobs": counters["jobs"],
        "execute.stages": counters["stages"],
        "execute.tasks": counters["tasks"],
        "execute.input_mb": counters["input_mb"],
        "execute.shuffle_write_mb": counters["shuffle_write_mb"],
        "execute.shuffle_read_mb": counters["shuffle_read_mb"],
        "execute.spill_mb": counters["spill_mb"],
        "execute.gc_ms": counters["gc_ms"],
    }


def complete(metrics: dict) -> dict:
    """Every per-layer metric with its unit; a layer that did no work
    on this workload reports zero."""
    return {name: {"value": metrics.get(name, 0), "unit": unit} for name, unit in LAYER_METRICS}
