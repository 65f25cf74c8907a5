"""The traced run: spans around each layer's public entry points, read-outs
of Spark's status store and JVM counters, and the layer table built from
both.

Spans are recorded by wrappers installed from here, never by the program.
A span is (name, start, end, parent, op, attrs); spans stay in memory and
are written out as JSON lines when the run ends. Times are epoch seconds
from ``time.time()`` so that they line up with the JVM's job times.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

CLK_TCK = os.sysconf("SC_CLK_TCK")


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """Records spans for the op in ``self.op`` while installed."""

    def __init__(self):
        self.spans: list[Span] = []
        self.op: int | None = None
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._saved: list[tuple] = []

    # -- recording ---------------------------------------------------------

    def _open(self, name: str) -> Span:
        stack = getattr(self._tls, "stack", None)
        if stack is None:
            stack = self._tls.stack = []
        span = Span(next(self._ids), name, time.time(), parent=stack[-1].id if stack else None, op=self.op)
        stack.append(span)
        return span

    def _close(self, span: Span) -> None:
        span.end = time.time()
        self._tls.stack.remove(span)
        self.spans.append(span)

    def _wrap_call(self, name: str, orig, after=None):
        """A call's span; ``cost_ms`` is the time the wrapper itself spent
        outside the call."""
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            span = tracer._open(name)
            inner = 0.0
            try:
                t1 = time.perf_counter()
                out = orig(*args, **kwargs)
                inner = time.perf_counter() - t1
                if after is not None:
                    after(span, args, out)
                return out
            finally:
                span.attrs["cost_ms"] = (time.perf_counter() - t0 - inner) * 1000.0
                tracer._close(span)

        return wrapper

    def _wrap_stream(self, name: str, orig, on_item=None):
        """A generator's span runs from its first pull to its last; ``cost_ms``
        is the time the wrapper spent on each item."""
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            span = Span(next(tracer._ids), name, time.time(), op=tracer.op)
            span.attrs.update(rows=0, batches=0, bytes=0, cost_ms=0.0)
            try:
                for item in orig(*args, **kwargs):
                    t0 = time.perf_counter()
                    if "first_ms" not in span.attrs:
                        span.attrs["first_ms"] = (time.time() - span.start) * 1000.0
                    span.attrs["rows"] += item.num_rows
                    span.attrs["batches"] += 1
                    if on_item is not None:
                        on_item(span, item)
                    span.attrs["cost_ms"] += (time.perf_counter() - t0) * 1000.0
                    yield item
            finally:
                span.end = time.time()
                tracer.spans.append(span)

        return wrapper

    # -- installing --------------------------------------------------------

    def install(self) -> None:
        import pyarrow as pa
        from pyspark.sql.classic.dataframe import DataFrame

        from micromegas_spark import client as embedded
        from micromegas_spark.client import Client
        from micromegas_spark.engine import Engine
        from micromegas_spark.flightsql.client import FlightSQLClient
        from micromegas_spark.fslayer import WarehouseFS
        from micromegas_spark.materialize.batch import Lakehouse

        tracer = self

        def status(span, args, out):
            span.attrs["status"] = out

        def written(span, args, out):
            fs = args[0]
            url = next(a for a in args[1:] if isinstance(a, str))
            span.attrs["bytes"] = fs.fs.get_file_info(fs.fs_path(url)).size or 0

        def put_bytes(span, args, out):
            span.attrs["bytes"] = sum(
                pa.ipc.get_record_batch_size(rb) for rb in args[2].to_batches()
            )

        def wire_bytes(span, rb):
            span.attrs["bytes"] += pa.ipc.get_record_batch_size(rb)

        orig_view = DataFrame.createOrReplaceTempView

        def count_views(df, name):
            stack = getattr(tracer._tls, "stack", None) or []
            for s in reversed(stack):
                if s.name == "engine.prepare_views":
                    s.attrs["views"] = s.attrs.get("views", 0) + 1
                    break
            return orig_view(df, name)

        patches = [
            (FlightSQLClient, "query_stream", self._wrap_stream("flightsql.do_get", FlightSQLClient.query_stream, wire_bytes)),
            (FlightSQLClient, "bulk_ingest", self._wrap_call("flightsql.do_put", FlightSQLClient.bulk_ingest, put_bytes)),
            (Engine, "resolve", self._wrap_call("engine.resolve", Engine.resolve)),
            (Engine, "prepare_views", self._wrap_call("engine.prepare_views", Engine.prepare_views)),
            (DataFrame, "createOrReplaceTempView", count_views),
            (embedded, "_stream_batches", self._wrap_stream("client.stream", embedded._stream_batches)),
            (Client, "bulk_ingest", self._wrap_call("client.bulk_ingest", Client.bulk_ingest)),
            (Lakehouse, "maintenance_tick", self._wrap_call("materialize.tick", Lakehouse.maintenance_tick)),
            (Lakehouse, "materialize_bucket", self._wrap_call("materialize.bucket", Lakehouse.materialize_bucket, status)),
            (Lakehouse, "merge_partitions", self._wrap_call("materialize.merge", Lakehouse.merge_partitions, status)),
        ]
        for meth in ("write_bytes_atomic", "write_parquet_table_atomic", "claim_parquet_table"):
            patches.append((WarehouseFS, meth, self._wrap_call("fslayer.write", getattr(WarehouseFS, meth), written)))
        self._saved = [(owner, attr, owner.__dict__[attr]) for owner, attr, _ in patches]
        for owner, attr, fn in patches:
            setattr(owner, attr, fn)

    def uninstall(self) -> None:
        for owner, attr, orig in self._saved:
            setattr(owner, attr, orig)
        self._saved = []

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


# -- probes outside the program ----------------------------------------------


def _proc_cpu_s(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / CLK_TCK


def _proc_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


@dataclass
class Job:
    id: int
    submit: float
    end: float
    stages: int
    tasks: int


@dataclass
class Stage:
    id: int
    submit: float
    shuffle_write: int
    output: int


class JvmProbe:
    """Reads Spark's status store, the codegen counters, the GC MXBeans and
    /proc for the Python and JVM processes, all from outside the program
    through the py4j gateway."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        jvm = sc._jvm
        self._jvm = jvm
        self._kv = self._sc.statusStore().store()
        self._codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._gc = list(jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans())
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self._last_job = -1
        self._last_stage = -1

    def counters(self) -> dict:
        return {
            "compiles": int(self._compiles.getCount()),
            "compile_ms": self._codegen.compileTime() / 1e6,
            "gc_ms": float(sum(b.getCollectionTime() for b in self._gc)),
            "cpu_s": _proc_cpu_s(os.getpid()) + _proc_cpu_s(self.jvm_pid),
        }

    def rss_peak_mb(self) -> float:
        return _proc_hwm_mb(os.getpid()) + _proc_hwm_mb(self.jvm_pid)

    def _reverse(self, cls: str):
        return self._kv.view(self._jvm.java.lang.Class.forName(cls)).reverse().closeableIterator()

    def new_jobs_and_stages(self) -> tuple[list[Job], list[Stage]]:
        """Jobs and stages finished since the last call, newest first."""
        self._sc.listenerBus().waitUntilEmpty()
        jobs = []
        it = self._reverse("org.apache.spark.status.JobDataWrapper")
        try:
            while it.hasNext():
                info = it.next().info()
                jid = info.jobId()
                if jid <= self._last_job:
                    break
                if not info.completionTime().isDefined():
                    continue
                jobs.append(
                    Job(
                        jid,
                        info.submissionTime().get().getTime() / 1000.0,
                        info.completionTime().get().getTime() / 1000.0,
                        info.numCompletedStages(),
                        info.numCompletedTasks(),
                    )
                )
        finally:
            it.close()
        stages = []
        it = self._reverse("org.apache.spark.status.StageDataWrapper")
        try:
            while it.hasNext():
                info = it.next().info()
                sid = info.stageId()
                if sid <= self._last_stage:
                    break
                if not info.submissionTime().isDefined():
                    continue  # skipped: its output was reused
                stages.append(
                    Stage(
                        sid,
                        info.submissionTime().get().getTime() / 1000.0,
                        info.shuffleWriteBytes(),
                        info.outputBytes(),
                    )
                )
        finally:
            it.close()
        if jobs:
            self._last_job = max(j.id for j in jobs)
        if stages:
            self._last_stage = max(s.id for s in stages)
        return jobs, stages


# -- the layer table ----------------------------------------------------------


@dataclass
class OpRecord:
    index: int
    start: float  # epoch s
    end: float
    ms: float
    rows: int
    ok: bool
    traced: bool = False
    counters: dict = field(default_factory=dict)  # deltas over the op


def _union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length in ms of the union of intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total * 1000.0


def _p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


# name -> (unit, how it is aggregated, what it is). Per op: summed within
# each traced op, then the median over traced ops. Per call: median over the
# calls. Mean/op: total over traced ops divided by their number. End: read
# once when the run ends.
LAYERS = {
    "engine.resolve_ms": ("ms", "per op", "Engine.resolve, all statements of the op"),
    "engine.prepare_views_ms": ("ms", "per op", "Engine.prepare_views inside resolve"),
    "engine.views_registered": ("count", "mean/op", "temp views (re)registered by prepare_views"),
    "spark.jobs": ("count", "mean/op", "Spark jobs submitted during the op"),
    "spark.stages": ("count", "mean/op", "completed stages of those jobs"),
    "spark.tasks": ("count", "mean/op", "completed tasks of those jobs"),
    "spark.job_ms": ("ms", "per op", "summed job wall time"),
    "spark.shuffle_write_bytes": ("B", "per op", "shuffle bytes written"),
    "spark.codegen_compiles": ("count", "mean/op", "Janino compiles (CodegenMetrics)"),
    "spark.codegen_ms": ("ms", "per op", "Janino compile time (CodeGenerator.compileTime)"),
    "client.stream_ms": ("ms", "per op", "_stream_batches, first pull to last"),
    "client.stream_self_ms": ("ms", "per op", "stream minus the Spark jobs inside it"),
    "client.rows": ("count", "mean/op", "rows streamed by the server"),
    "client.batches": ("count", "mean/op", "record batches streamed by the server"),
    "flightsql.first_batch_ms": ("ms", "per call", "DoGet call to its first batch"),
    "flightsql.wire_bytes": ("B", "per op", "Arrow IPC bytes received and sent"),
    "flightsql.transport_ms": ("ms", "per op", "client calls minus the server spans inside them"),
    "flightsql.do_put_ms": ("ms", "per op", "DoPut calls"),
    "materialize.tick_ms": ("ms", "per op", "Lakehouse.maintenance_tick"),
    "materialize.bucket_ms": ("ms", "per call", "Lakehouse.materialize_bucket"),
    "materialize.buckets_checked": ("count", "mean/op", "materialize_bucket calls"),
    "materialize.buckets_created": ("count", "mean/op", "buckets written"),
    "materialize.created_ratio": ("ratio", "total", "buckets created / checked"),
    "materialize.merges": ("count", "mean/op", "coarse buckets merged"),
    "materialize.merge_ms": ("ms", "per call", "Lakehouse.merge_partitions"),
    "materialize.partitions_live": ("count", "end", "log_stats partitions in the catalog"),
    "fslayer.writes": ("count", "mean/op", "WarehouseFS file writes (manifests)"),
    "fslayer.write_ms": ("ms", "per op", "WarehouseFS file writes"),
    "fslayer.bytes_written": ("B", "per op", "WarehouseFS writes plus Spark output bytes"),
    "fslayer.bytes_per_ingested_byte": ("ratio", "total", "bytes written / Arrow bytes put"),
    "fslayer.ingest_files": ("count", "end", "parquet files under the ingest directory"),
    "jvm.gc_ms": ("ms", "per op", "GC time (GarbageCollectorMXBeans)"),
    "process.driver_cpu_s": ("s", "per op", "CPU of the Python and JVM processes"),
    "process.rss_peak_mb": ("MB", "end", "peak RSS of the Python and JVM processes"),
    "op.traced_p50_ms": ("ms", "per op", "op latency, traced ops"),
    "op.untraced_p50_ms": ("ms", "per op", "op latency, untraced ops of the same run"),
    "trace.overhead_ms": ("ms", "difference", "traced minus untraced op p50 (noisy; ops differ)"),
    "trace.bookkeeping_ms": ("ms", "per op", "time the span wrappers spent outside the calls"),
    "trace.coverage": ("ratio", "total", "share of traced op time inside any span"),
    "trace.layer_coverage": ("ratio", "total", "same, without the client-side flightsql spans"),
    "op.p90_ms": ("ms", "all ops", "op latency tail (see sample count)"),
    "op.drift": ("ratio", "all ops", "median of last quarter of ops / first quarter - 1"),
}

SERVER_SPANS = ("engine.resolve", "client.stream", "client.bulk_ingest")


def layer_metrics(ops: list[OpRecord], tracer: Tracer, jobs: list[Job], stages: list[Stage], end_state: dict) -> dict:
    traced = [o for o in ops if o.traced]
    per_op: dict[str, list[float]] = {k: [] for k in LAYERS}
    per_call: dict[str, list[float]] = {"first": [], "bucket": [], "merge": []}
    created = checked = 0
    written = put = 0.0
    covered = layer_covered = traced_ms = 0.0
    by_op: dict[int, list[Span]] = {}
    for s in tracer.spans:
        by_op.setdefault(s.op, []).append(s)
    for o in traced:
        spans = by_op.get(o.index, [])
        named: dict[str, list[Span]] = {}
        for s in spans:
            named.setdefault(s.name, []).append(s)

        def total_ms(name: str) -> float:
            return sum(s.ms for s in named.get(name, []))

        ojobs = [j for j in jobs if o.start <= j.submit <= o.end]
        ostages = [s for s in stages if o.start <= s.submit <= o.end]
        job_iv = [(j.submit, j.end) for j in ojobs]
        streams = named.get("client.stream", [])
        calls = named.get("flightsql.do_get", []) + named.get("flightsql.do_put", [])
        server_iv = [(s.start, s.end) for n in SERVER_SPANS for s in named.get(n, [])]
        buckets = named.get("materialize.bucket", [])
        merges = named.get("materialize.merge", [])
        fs_writes = named.get("fslayer.write", [])
        fs_bytes = sum(s.attrs.get("bytes", 0) for s in fs_writes) + sum(s.output for s in ostages)
        rec = {
            "engine.resolve_ms": total_ms("engine.resolve"),
            "engine.prepare_views_ms": total_ms("engine.prepare_views"),
            "engine.views_registered": sum(s.attrs.get("views", 0) for s in named.get("engine.prepare_views", [])),
            "spark.jobs": len(ojobs),
            "spark.stages": sum(j.stages for j in ojobs),
            "spark.tasks": sum(j.tasks for j in ojobs),
            "spark.job_ms": sum((j.end - j.submit) * 1000.0 for j in ojobs),
            "spark.shuffle_write_bytes": sum(s.shuffle_write for s in ostages),
            "spark.codegen_compiles": o.counters["compiles"],
            "spark.codegen_ms": o.counters["compile_ms"],
            "client.stream_ms": sum(s.ms for s in streams),
            "client.stream_self_ms": sum(s.ms - _union_ms(job_iv, s.start, s.end) for s in streams),
            "client.rows": sum(s.attrs["rows"] for s in streams),
            "client.batches": sum(s.attrs["batches"] for s in streams),
            "flightsql.wire_bytes": sum(s.attrs.get("bytes", 0) for s in calls),
            "flightsql.transport_ms": sum(s.ms - _union_ms(server_iv, s.start, s.end) for s in calls),
            "flightsql.do_put_ms": total_ms("flightsql.do_put"),
            "materialize.tick_ms": total_ms("materialize.tick"),
            "materialize.buckets_checked": len(buckets),
            "materialize.buckets_created": sum(s.attrs.get("status") == "created" for s in buckets),
            "materialize.merges": sum(s.attrs.get("status") == "merged" for s in merges),
            "fslayer.writes": len(fs_writes),
            "fslayer.write_ms": sum(s.ms for s in fs_writes),
            "fslayer.bytes_written": fs_bytes,
            "jvm.gc_ms": o.counters["gc_ms"],
            "process.driver_cpu_s": o.counters["cpu_s"],
            "trace.bookkeeping_ms": sum(s.attrs.get("cost_ms", 0.0) for s in spans),
        }
        for k, v in rec.items():
            per_op[k].append(float(v))
        per_call["first"] += [s.attrs["first_ms"] for s in named.get("flightsql.do_get", []) if "first_ms" in s.attrs]
        per_call["bucket"] += [s.ms for s in buckets]
        per_call["merge"] += [s.ms for s in merges if s.attrs.get("status") == "merged"]
        created += rec["materialize.buckets_created"]
        checked += rec["materialize.buckets_checked"]
        written += fs_bytes
        put += sum(s.attrs.get("bytes", 0) for s in named.get("flightsql.do_put", []))
        covered += _union_ms([(s.start, s.end) for s in spans], o.start, o.end)
        layer_covered += _union_ms(
            [(s.start, s.end) for s in spans if not s.name.startswith("flightsql.")], o.start, o.end
        )
        traced_ms += (o.end - o.start) * 1000.0

    out = {}
    for name, (_unit, how, _what) in LAYERS.items():
        if how == "per op":
            out[name] = _p50(per_op[name])
        elif how == "mean/op":
            out[name] = _mean(per_op[name])
    out["flightsql.first_batch_ms"] = _p50(per_call["first"])
    out["materialize.bucket_ms"] = _p50(per_call["bucket"])
    out["materialize.merge_ms"] = _p50(per_call["merge"])
    out["materialize.created_ratio"] = created / checked if checked else 0.0
    out["fslayer.bytes_per_ingested_byte"] = written / put if put else 0.0
    traced_lat = [o.ms for o in traced]
    untraced_lat = [o.ms for o in ops if not o.traced]
    out["op.traced_p50_ms"] = _p50(traced_lat)
    out["op.untraced_p50_ms"] = _p50(untraced_lat)
    out["trace.overhead_ms"] = out["op.traced_p50_ms"] - out["op.untraced_p50_ms"]
    out["trace.coverage"] = covered / traced_ms if traced_ms else 0.0
    out["trace.layer_coverage"] = layer_covered / traced_ms if traced_ms else 0.0
    out.update(end_state)
    return out
