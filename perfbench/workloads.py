"""The three workloads: their seeded inputs, one op each, and the check of
every op's output.

An op is a pure function of (seed, op index), so every run of one seed
sends identical requests in identical order; warmup ops are the first
indices of the same sequence.

- ``dashboard``: one auto-refresh of five panels over ``events``. The
  3-day ``query_range`` advances a minute per refresh, so every refresh
  carries new literals and Spark's codegen cache never hits. Plan and
  execute dominate; each panel returns under 1k rows.
- ``export``: ``SELECT * FROM events`` over a 10-day window streamed to its
  last batch (about 33k rows). The window rotates through three fixed
  windows, a set that fits the codegen cache. Result delivery dominates.
- ``ingest``: a simulated clock advances 5 minutes per op. Each op puts that
  slice of telemetry (``blocks`` and ``log_entries``) over DoPut, reads the
  slice back, and runs one maintenance tick of ``log_stats``. The write
  path and the materialize layer dominate.

A run makes a fixed number of timed ops, ``--seconds`` over the workload's
``NOMINAL_OP_S`` (its op time on 4 cores), so that every run of one seed
samples the same ops and, for ``ingest``, grows the catalog the same way.
"""

from __future__ import annotations

import datetime as dt
import math
import os

EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
EPOCH_US = int(EPOCH.timestamp()) * 10**6
MINUTE_US = 60 * 10**6
DAY_US = 86_400 * 10**6

# the events table at sf0.1 of the repository's synthetic test data
EVENT_ROWS = 100_000
EVENT_DAYS = 30
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["ap", "eu", "sa", "us"]


def _utc(us: int) -> dt.datetime:
    return EPOCH + dt.timedelta(microseconds=us - EPOCH_US)


class Events:
    """The seeded ``events`` table, written once as parquet and kept in
    memory as numpy columns for the checks."""

    def __init__(self, work_dir: str, seed: int):
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        rng = np.random.default_rng(seed)
        n = EVENT_ROWS
        self.ts_us = np.sort(rng.integers(EPOCH_US, EPOCH_US + EVENT_DAYS * DAY_US, n))
        self.event_id = np.arange(n, dtype=np.int64)
        self.user_id = rng.integers(0, 1500, n)
        types = np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]
        self.value_cents = np.round(rng.exponential(5000.0, n)).astype(np.int64)
        ks = rng.integers(0, 100, n)
        regions = np.array(REGIONS)[rng.integers(0, len(REGIONS), n)]
        props = [f'{{"k": {k}, "region": "{r}"}}' for k, r in zip(ks.tolist(), regions.tolist())]
        self.text_len = np.char.str_len(types) + np.array([len(p) for p in props])
        table = pa.table(
            {
                "event_id": self.event_id,
                "ts": pa.array(self.ts_us, pa.timestamp("us")),
                "user_id": self.user_id,
                "event_type": types,
                "value": self.value_cents / 100.0,
                "props": props,
            }
        )
        self.dir = os.path.join(work_dir, "events")
        os.makedirs(self.dir, exist_ok=True)
        self.path = os.path.join(self.dir, "events.parquet")
        pq.write_table(table, self.path)

    def checksum(self, begin_us: int, end_us: int) -> tuple:
        """Order-free content checksum of the rows in [begin, end)."""
        lo, hi = (int(x) for x in self.ts_us.searchsorted([begin_us, end_us]))
        sl = slice(lo, hi)
        return (
            hi - lo,
            int(self.event_id[sl].sum()),
            int(self.ts_us[sl].sum()),
            int(self.user_id[sl].sum()),
            int(self.value_cents[sl].sum()),
            int(self.text_len[sl].sum()),
        )


def fetch(flight, sql: str, begin: dt.datetime | None = None, end: dt.datetime | None = None) -> list:
    """One DoGet through ``query_stream``, drained to its last batch."""
    return list(flight.query_stream(sql, begin, end))


def _rows(batches: list) -> list[tuple]:
    import pyarrow as pa

    if not batches:
        return []
    table = pa.Table.from_batches(batches)
    cols = []
    for col in table.columns:
        if pa.types.is_timestamp(col.type):
            col = col.cast(pa.int64())  # epoch µs, the instant itself
        cols.append(col.to_pylist())
    return list(zip(*cols))


def _same(a: list[tuple], b: list[tuple]) -> str | None:
    if len(a) != len(b):
        return f"{len(a)} rows, oracle has {len(b)}"
    for i, (x, y) in enumerate(zip(a, b)):
        if len(x) != len(y):
            return f"row {i}: {len(x)} columns, oracle has {len(y)}"
        for u, v in zip(x, y):
            if isinstance(u, float) or isinstance(v, float):
                if u is None or v is None or not math.isclose(u, v, rel_tol=1e-9, abs_tol=1e-9):
                    return f"row {i}: {x} != oracle {y}"
            elif u != v:
                return f"row {i}: {x} != oracle {y}"
    return None


# (Spark SQL over FlightSQL, DuckDB oracle over the same parquet). The oracle
# gets the window as {b}/{e} epoch-µs bounds; the server gets it as the
# query_range headers.
PANELS = [
    (
        "SELECT date_bin_s(3600, event_time) AS t, event_type, COUNT(*) AS n, "
        "SUM(value) AS total FROM events GROUP BY 1, 2 ORDER BY 1, 2",
        "SELECT epoch_us(ts) - epoch_us(ts) % 3600000000 AS t, event_type, COUNT(*) AS n, "
        "SUM(value) AS total FROM w GROUP BY 1, 2 ORDER BY 1, 2",
    ),
    (
        "SELECT property_get_json(props, 'region') AS region, event_type, COUNT(*) AS n, "
        "AVG(value) AS mean FROM events GROUP BY 1, 2 ORDER BY 1, 2",
        "SELECT json_extract_string(props, '$.region') AS region, event_type, COUNT(*) AS n, "
        "AVG(value) AS mean FROM w GROUP BY 1, 2 ORDER BY 1, 2",
    ),
    (
        "SELECT jsonb_as_i64(jsonb_get(props, 'k')) AS k, COUNT(*) AS n, MAX(value) AS top "
        "FROM events WHERE event_type = 'error' GROUP BY 1 ORDER BY n DESC, k LIMIT 20",
        "SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k, COUNT(*) AS n, MAX(value) AS top "
        "FROM w WHERE event_type = 'error' GROUP BY 1 ORDER BY n DESC, k LIMIT 20",
    ),
    (
        "SELECT event_type, percentile(value, 0.5) AS p50, percentile(value, 0.9) AS p90, "
        "percentile(value, 0.99) AS p99 FROM events GROUP BY event_type ORDER BY event_type",
        "SELECT event_type, quantile_cont(value, 0.5) AS p50, quantile_cont(value, 0.9) AS p90, "
        "quantile_cont(value, 0.99) AS p99 FROM w GROUP BY event_type ORDER BY event_type",
    ),
    (
        "SELECT user_id, COUNT(*) AS n, SUM(value) AS total FROM events "
        "GROUP BY user_id ORDER BY n DESC, user_id LIMIT 10",
        "SELECT user_id, COUNT(*) AS n, SUM(value) AS total FROM w "
        "GROUP BY user_id ORDER BY n DESC, user_id LIMIT 10",
    ),
]


class Dashboard:
    warmup_ops = 3
    NOMINAL_OP_S = 1.2

    def __init__(self, events: Events, seed: int):
        import random

        self.events = events
        rng = random.Random(seed)
        # whole seconds: the bounds travel as RFC 3339 headers
        self.start_us = EPOCH_US + rng.randrange(0, 26 * 86_400) * 10**6
        self._duck = None

    def window(self, i: int) -> tuple[int, int]:
        b = self.start_us + i * MINUTE_US
        return b, b + 3 * DAY_US

    def op(self, i: int, stack):
        b, e = self.window(i)
        out = [fetch(stack.flight, sql, _utc(b), _utc(e)) for sql, _ in PANELS]
        rows = sum(rb.num_rows for batches in out for rb in batches)
        return rows, out

    def check(self, i: int, out, stack) -> str | None:
        import duckdb

        if self._duck is None:
            self._duck = duckdb.connect()
            self._duck.execute(
                f"CREATE VIEW events AS SELECT * FROM read_parquet('{self.events.path}')"
            )
        b, e = self.window(i)
        self._duck.execute(
            "CREATE OR REPLACE TEMP VIEW w AS SELECT * FROM events "
            f"WHERE epoch_us(ts) >= {b} AND epoch_us(ts) < {e}"
        )
        for p, ((_, oracle), batches) in enumerate(zip(PANELS, out)):
            got = _rows(batches)
            if len(got) >= 1000:
                return f"panel {p}: {len(got)} rows, a panel returns under 1k"
            err = _same(got, self._duck.sql(oracle).fetchall())
            if err:
                return f"panel {p}: {err}"
        return None

    def close(self):
        if self._duck is not None:
            self._duck.close()


class Export:
    # the row path keeps getting faster for about 15 ops after start; with
    # fewer warmups the timed ops sit on that slope
    warmup_ops = 10
    NOMINAL_OP_S = 0.7
    SQL = "SELECT * FROM events"

    def __init__(self, events: Events, seed: int):
        import random

        self.events = events
        rng = random.Random(seed)
        self.windows = [EPOCH_US + h * 3600 * 10**6 for h in rng.sample(range(20 * 24), 3)]

    def window(self, i: int) -> tuple[int, int]:
        b = self.windows[i % len(self.windows)]
        return b, b + 10 * DAY_US

    def op(self, i: int, stack):
        b, e = self.window(i)
        batches = fetch(stack.flight, self.SQL, _utc(b), _utc(e))
        return sum(rb.num_rows for rb in batches), batches

    def check(self, i: int, batches, stack) -> str | None:
        import pyarrow as pa
        import pyarrow.compute as pc

        if not batches:
            return "empty result"
        t = pa.Table.from_batches(batches)
        if t.schema.field("event_time").type != pa.timestamp("us", tz="UTC"):
            return f"event_time arrived as {t.schema.field('event_time').type}, not UTC-aware"
        ts_us = t.column("ts_us")
        if not t.column("event_time").cast(pa.int64()).equals(ts_us):
            return "event_time is not the instant ts_us names"
        if not pc.multiply(ts_us, 1000).equals(t.column("ts")):
            return "ts (ns) disagrees with ts_us"

        def total(col) -> int:
            return int(pc.sum(col).as_py() or 0)

        got = (
            t.num_rows,
            total(t.column("event_id")),
            total(ts_us),
            total(t.column("user_id")),
            total(pc.round(pc.multiply(t.column("value"), 100.0)).cast(pa.int64())),
            total(pc.utf8_length(t.column("event_type"))) + total(pc.utf8_length(t.column("props"))),
        )
        want = self.events.checksum(*self.window(i))
        if got != want:
            return f"checksum (rows, ids, ts, users, cents, text) {got} != {want}"
        return None

    def close(self):
        pass


INGEST_SLICE_NS = 5 * 60 * 10**9
# The program's default 1-minute fine buckets, so each op's slice makes five;
# only the coarse bucket, and with it the recent window every tick checks
# again, is shortened from an hour to 15 minutes, so that from the sixth op
# on every third op merges one within a run.
TICK = {"fine_ns": 60 * 10**9, "coarse_ns": 15 * 60 * 10**9}


class Ingest:
    warmup_ops = 3
    NOMINAL_OP_S = 4.0

    def __init__(self, seed: int, timed_ops: int):
        import pyarrow as pa

        from micromegas_spark.sources.synthetic import EPOCH as T0, generate

        # one log stream per process, a block every ~75 s, ~40 rows each:
        # about 2.4k log rows per 5-minute slice
        data = generate(
            seed=seed,
            n_processes=15,
            streams_per_process=1,
            blocks_per_stream=(self.warmup_ops + timed_ops) * 4 + 8,
            events_per_block=40,
            window_hours=0,
        )
        tags = {s["stream_id"]: s["tags"] for s in data["streams"]}
        blocks = pa.Table.from_pylist(
            [{**b, "tags": tags[b["stream_id"]]} for b in data["blocks"]]
        )
        logs = pa.Table.from_pylist(
            [{k: v for k, v in r.items() if k != "properties"} for r in data["log_entries"]]
        )
        self.t0_ns = int(T0.timestamp()) * 10**9
        self.blocks = blocks.sort_by("insert_time_ns")
        self.logs = logs.sort_by("insert_time_ns")
        self._block_ins = self.blocks.column("insert_time_ns").to_numpy()
        self._log_ins = self.logs.column("insert_time_ns").to_numpy()

    def slice_bounds(self, i: int) -> tuple[int, int]:
        b = self.t0_ns + i * INGEST_SLICE_NS
        return b, b + INGEST_SLICE_NS

    def _slice(self, table, ins, b: int, e: int):
        lo, hi = (int(x) for x in ins.searchsorted([b, e]))
        return table.slice(lo, hi - lo)

    def logs_before(self, end_ns: int) -> int:
        return int(self._log_ins.searchsorted(end_ns))

    def put(self, i: int, stack) -> tuple[int, int]:
        """DoPut slice ``i`` of ``blocks`` and ``log_entries``; returns the
        rows put of each."""
        b, e = self.slice_bounds(i)
        blocks = self._slice(self.blocks, self._block_ins, b, e)
        logs = self._slice(self.logs, self._log_ins, b, e)
        stack.flight.bulk_ingest("blocks", blocks)
        stack.flight.bulk_ingest("log_entries", logs)
        return blocks.num_rows, logs.num_rows

    def tick(self, i: int, stack) -> None:
        from micromegas_spark.materialize import LOG_STATS

        stack.engine.lakehouse.maintenance_tick(LOG_STATS, self.slice_bounds(i)[1], **TICK)

    def op(self, i: int, stack):
        b, e = self.slice_bounds(i)
        n_blocks, n_logs = self.put(i, stack)
        back = fetch(
            stack.flight,
            f"SELECT COUNT(*) AS n FROM log_entries WHERE insert_time_ns >= {b} "
            f"AND insert_time_ns < {e}",
        )
        self.tick(i, stack)
        return n_blocks + n_logs, (n_logs, back)

    @staticmethod
    def log_stats_total(stack) -> int:
        """SUM(count) over every live ``log_stats`` partition."""
        from pyspark.sql import functions as F

        parts = stack.engine.lakehouse.list_partitions("log_stats")
        if not parts:
            return 0
        row = stack.spark.read.parquet(*[p.path for p in parts]).agg(F.sum("count")).first()
        return int(row[0] or 0)

    def check(self, i: int, out, stack) -> str | None:
        put, back = out
        n = back[0].column("n")[0].as_py() if back else None
        if n != put:
            return f"read-back counted {n} log rows of the {put} put"
        now_ns = self.slice_bounds(i)[1]
        horizon = now_ns - now_ns % TICK["fine_ns"]
        total, want = self.log_stats_total(stack), self.logs_before(horizon)
        if total != want:
            return f"log_stats holds {total} rows, {want} were ingested before {horizon}"
        return None

    def close(self):
        pass
