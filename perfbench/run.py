"""FlightSQL end-to-end benchmark of micromegas_spark.

    python3 perfbench/run.py --workload dashboard|export|ingest --seed N \\
        --seconds S --trace 0|1

Run from the repository root. A FlightSQL client on loopback drives
``FlightSQLServer(Engine)`` in closed loop with one client. Every op's output
is checked outside the timed region; an op fails when it raises or its check
fails. The last line of stdout is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` runs every other timed op with spans
around each layer and reports the layer table instead (see layers.py).

``setup_s`` runs from process start until the first timed op: the
interpreter, the JVM launch, a Spark session, an Engine with ``events``
registered, a FlightSQL server and the untimed warmup ops. Input generation
is not set-up, because the program never sees the inputs until they are
sent. It is measured once per run: a second set-up in the same process
would reuse the warm JVM and measure something else, and a second process
does not fit the run's time. The traced run writes its spans to
``.perfbench_work/spans-<workload>-<seed>.jsonl``.

``dashboard`` is runnable but not in BENCHMARK.json: three workloads do not
fit the benchmark's time budget once ``ingest`` runs enough ops.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import threading
import time

WORKLOADS = ("dashboard", "export", "ingest")
E2E = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "ops_per_s": "1/s",
    "rows_per_s": "1/s",
}


def process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the machine since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def environment(master: str, since: tuple[int, int] | None = None) -> dict:
    """What else shares the machine: a load or CPU steal that moves between
    runs is noise from other tenants, not a change of the program."""
    env = {
        "nproc": len(os.sched_getaffinity(0)),
        "master": master,
        "loadavg_1m": os.getloadavg()[0],
    }
    if since is not None:
        stolen, total = cpu_ticks()
        env["steal_share"] = (stolen - since[0]) / max(1, total - since[1])
    return env


class Stack:
    """The program under test: a Spark session, an Engine with ``events``
    registered, a FlightSQL server on loopback and one client."""

    def __init__(self, events_dir: str, warehouse: str, cpus: int):
        from micromegas_spark.engine import Engine
        from micromegas_spark.flightsql.client import FlightSQLClient
        from micromegas_spark.flightsql.server import FlightSQLServer
        from micromegas_spark.session import get_spark
        from micromegas_spark.sources.tables import load_table

        self.spark = get_spark("perfbench", cpus)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.engine = Engine(self.spark, warehouse=warehouse)
        self.engine.register_table(
            "events", load_table(self.spark, events_dir, "events"), time_column="ts"
        )
        self.server = FlightSQLServer(self.engine)
        self._thread = threading.Thread(target=self.server.serve, daemon=True)
        self._thread.start()
        self.flight = FlightSQLClient(self.server.uri)

    def close(self) -> None:
        self.flight.close()
        self.server.shutdown()
        self._thread.join(timeout=60)
        self.spark.stop()


def stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _try_op(wl, i: int, stack) -> tuple[int, object, str | None]:
    try:
        rows, out = wl.op(i, stack)
        return rows, out, None
    except Exception as e:  # a failed op is counted, not fatal
        return 0, None, f"{type(e).__name__}: {e}"


def timed_ops(wl, stack, n_ops: int, tracer=None, probe=None):
    """Run the timed ops. With a tracer, every other op is traced; the
    status store and counters are read between ops, outside the timing."""
    import layers

    ops, errors, jobs, stages = [], [], [], []
    for n in range(n_ops):
        i = wl.warmup_ops + n
        traced = tracer is not None and n % 2 == 0
        if traced:
            probe.new_jobs_and_stages()
            before = probe.counters()
            tracer.op = i
            tracer.install()
        # leave no garbage of the previous op or check to be collected
        # inside this op
        gc.collect()
        start = time.time()
        p0 = time.perf_counter()
        rows, out, err = _try_op(wl, i, stack)
        ms = (time.perf_counter() - p0) * 1000.0
        rec = layers.OpRecord(i, start, time.time(), ms, rows, err is None, traced)
        if traced:
            tracer.uninstall()
            tracer.op = None
            after = probe.counters()
            rec.counters = {k: after[k] - before[k] for k in after}
            new_jobs, new_stages = probe.new_jobs_and_stages()
            jobs += new_jobs
            stages += new_stages
        if err is None:
            err = wl.check(i, out, stack)
            rec.ok = err is None
        if err:
            errors.append(f"op {i}: {err}")
        ops.append(rec)
    return ops, errors, jobs, stages


def _drift(lat: list[float]) -> float:
    """Median of the last quarter of ops over that of the first, minus 1."""
    q = max(1, len(lat) // 4)
    return statistics.median(lat[-q:]) / statistics.median(lat[:q]) - 1.0


def _tail(lat: list[float]) -> tuple[float, int]:
    """p90 of the op latencies and the number of samples above it."""
    if len(lat) < 2:
        return (lat[0] if lat else 0.0), 0
    p90 = statistics.quantiles(lat, n=10)[-1]
    return p90, sum(x > p90 for x in lat)


def run(args, work: str) -> dict:
    import numpy  # noqa: F401  imported here so that gen_s times only generation
    import pyarrow.parquet  # noqa: F401

    import layers
    from workloads import Dashboard, Events, Export, Ingest

    t_gen = time.perf_counter()
    events = Events(work, args.seed)
    cls = {"dashboard": Dashboard, "export": Export, "ingest": Ingest}[args.workload]
    n_ops = max(3, round(args.seconds / cls.NOMINAL_OP_S))
    wl = Ingest(args.seed, n_ops) if cls is Ingest else cls(events, args.seed)
    gen_s = time.perf_counter() - t_gen

    cpus = len(os.sched_getaffinity(0))
    master = f"local[{cpus}]"
    res = {"env_start": environment(master)}
    ticks = cpu_ticks()
    stack = None
    try:
        stack = Stack(events.dir, os.path.join(work, "warehouse"), cpus)
        warmup_errors = []
        check_s = 0.0  # the benchmark's own checks are not set-up
        for j in range(wl.warmup_ops):
            _rows, out, err = _try_op(wl, j, stack)
            t_check = time.perf_counter()
            err = err or wl.check(j, out, stack)
            check_s += time.perf_counter() - t_check
            if err:
                warmup_errors.append(f"warmup op {j}: {err}")

        res["setup_s"] = process_age_s() - gen_s - check_s
        tracer = layers.Tracer() if args.trace else None
        probe = layers.JvmProbe(stack.spark) if args.trace else None
        ops, errors, jobs, stages = timed_ops(wl, stack, n_ops, tracer, probe)
        lat = [o.ms for o in ops]
        timed_s = sum(lat) / 1000.0
        res.update(
            ops=ops,
            errors=warmup_errors + errors,
            warmup_failed=bool(warmup_errors),
            tail=_tail(lat),
            drift=_drift(lat),
        )
        res["env_end"] = environment(master, ticks)
        res["e2e"] = {
            "setup_s": res["setup_s"],
            "op_p50_ms": statistics.median(lat),
            "ops_per_s": len(ops) / timed_s,
            "rows_per_s": sum(o.rows for o in ops) / timed_s,
        }
        if args.trace:
            end = end_state(args.workload, stack, probe)
            end.update({"op.p90_ms": res["tail"][0], "op.drift": res["drift"]})
            res["layers"] = layers.layer_metrics(ops, tracer, jobs, stages, end)
            tracer.dump(os.path.join(os.path.dirname(work), f"spans-{args.workload}-{args.seed}.jsonl"))
        return res
    finally:
        wl.close()
        if stack is not None:
            stack.close()


def end_state(workload: str, stack, probe) -> dict:
    """Layer state read once after the timed ops."""
    state = {
        "materialize.partitions_live": 0,
        "fslayer.ingest_files": 0,
        "process.rss_peak_mb": probe.rss_peak_mb(),
    }
    if workload == "ingest":
        state["materialize.partitions_live"] = len(
            stack.engine.lakehouse.list_partitions("log_stats")
        )
        state["fslayer.ingest_files"] = sum(
            f.endswith(".parquet")
            for _d, _s, files in os.walk(os.path.join(stack.engine.warehouse, "ingest"))
            for f in files
        )
    return state


def report(args, res: dict) -> dict:
    import layers

    ops = res["ops"]
    failed = sum(not o.ok for o in ops)
    print(f"# env at start: {json.dumps(res['env_start'])}")
    print(f"# env at end:   {json.dumps(res['env_end'])}")
    print(f"# set-up: {res['setup_s']:.3f} s")
    p90, beyond = res["tail"]
    print(
        f"# {len(ops)} timed ops; drift (last/first quarter median - 1): {res['drift']:+.4f}; "
        f"p90 {p90:.1f} ms with {beyond} samples beyond it"
    )
    print(f"# op ms: {', '.join(f'{o.ms:.1f}' for o in ops)}")
    for e in res["errors"]:
        print(f"# FAILED {e}")
    if args.trace:
        print(f"{'metric':<34} {'value':>14}  {'unit':<6} {'how':<10} what")
        for name, (unit, how, what) in layers.LAYERS.items():
            print(f"{name:<34} {res['layers'][name]:>14.4f}  {unit:<6} {how:<10} {what}")
        metrics = {n: {"value": res["layers"][n], "unit": u} for n, (u, _h, _w) in layers.LAYERS.items()}
    else:
        for name, unit in E2E.items():
            print(f"{args.workload}/{name:<14} {res['e2e'][name]:>14.4f} {unit}")
        print(f"{args.workload}/{'failed_share':<14} {failed / len(ops):>14.4f} ratio")
        metrics = {n: {"value": res["e2e"][n], "unit": u} for n, u in E2E.items()}
    return {
        "correct": failed == 0 and not res["warmup_failed"],
        "attempted": len(ops),
        "failed": failed,
        "metrics": metrics,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "micromegas_spark", "__init__.py")):
        print("perfbench: run from the repository root (micromegas_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    # keep every file the run writes inside the checkout
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
    )
    try:
        out = report(args, run(args, work))
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
