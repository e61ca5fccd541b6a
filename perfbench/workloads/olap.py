"""olap_mix: registry queries and versioned-table operations.

A round runs every registry query in ``QUERIES`` once and every
versioned-table operation in ``VERSIONED`` once, in an order the seed
shuffles.

- A registry operation builds the query's DataFrame (the ``plans``
  layer; ``dsir_select`` and ``streaming_hourly`` run Spark jobs inside
  the build) and collects it (execution).
- The versioned operations work on a versioned copy of ``events`` that
  set-up creates from its first ``BASE_DAYS`` days (the ``sources``
  layer's write path): ``versioned_append`` commits one more day,
  ``versioned_merge`` upserts a seeded batch of changed and new rows,
  ``versioned_read`` aggregates the latest snapshot under a seeded
  data-skipping predicate.

The warm-up runs three groups side by side: the versioned operations
(after creating the table), and the registry queries split in two. The
query groups first load the engine's handle of every source table, one
group at a time, so their queries then only read that memo.

Registry results are checked against each query's DuckDB oracle twin.
The versioned operations are replayed on a DuckDB model of the table
built from the source parquet: each write must leave a snapshot with the
model's row count and digest, each read must match the model's answer.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import threading

import pandas as pd
import pyarrow.parquet as pq

from .. import checks
from . import Context, Done, Op, WarmGroup, Workload, dir_bytes

QUERIES = (
    "star_join_agg", "window_rank", "asof_join", "funnel_conversion",
    "scd2_intervals", "streaming_hourly", "dsir_select",
)
VERSIONED = ("versioned_append", "versioned_merge", "versioned_read")
#: the operations a round runs last (2-5 s each against 0.3-0.8 s)
HEAVY = ("streaming_hourly", "dsir_select", "versioned_merge")
#: the warm-up's two query groups, the costly query first; each runs its
#: cheap queries twice, as op_p50_s falls among them and in their second
#: call they still ran about a third slower than later ones
WARM_QUERIES = (
    ("streaming_hourly", "star_join_agg", "window_rank", "asof_join"),
    ("dsir_select", "funnel_conversion", "scd2_intervals"),
)

#: days of events the versioned table starts with; appends add later days
BASE_DAYS = 10
#: rows per merge batch: existing rows with a new value, and new rows
MERGE_UPDATES = 40
MERGE_INSERTS = 10
#: event ids of merge-inserted rows start here (above every source id)
NEW_ID_BASE = 1_000_000
COLUMNS = ("event_id", "ts", "user_id", "event_type", "value", "props")


def payload_bytes(row: dict) -> int:
    """A row's user payload: 8 bytes per number or timestamp plus the
    UTF-8 text."""
    return 32 + len(row["event_type"].encode()) + len(row["props"].encode())


class OlapMix(Workload):
    name = "olap_mix"
    round_size = len(QUERIES) + len(VERSIONED)
    round_s = 15.0

    def setup(self, ctx: Context, rnd: random.Random) -> None:
        from loan_approval_prediction_data_engineering_ml_pipeline_spark.plans.registry import (
            QUERIES as REGISTRY,
        )
        from loan_approval_prediction_data_engineering_ml_pipeline_spark.sources import (
            versioned as V,
        )
        from loan_approval_prediction_data_engineering_ml_pipeline_spark.sources import loaders
        from pyspark.sql import functions as F

        self.registry, self.V, self.F, self.loaders = REGISTRY, V, F, loaders
        missing = [q for q in QUERIES if q not in REGISTRY or REGISTRY[q].oracle is None]
        if missing:
            raise RuntimeError(f"registry lacks queries or oracles: {missing}")
        self.load_inputs(ctx.data_dir, rnd)
        with ctx.tracer.span("sources.load", phase="build"):
            self.events = loaders.load_table(ctx.spark, ctx.data_dir, "events")
        self.path = os.path.join(ctx.run_dir, "tables", "events_v")
        self.tables_lock = threading.Lock()

    def load_tables(self, ctx: Context) -> None:
        """Memoise the engine's handle of every source table. The two
        query groups call this first and one at a time: the memo is a
        plain dict, and inserting into it while another thread does the
        same is not safe. The versioned operations never touch it."""
        with self.tables_lock:
            self.loaders.load_tables(ctx.spark, ctx.data_dir)

    def create_table(self, ctx: Context) -> None:
        """The versioned table: the first ``BASE_DAYS`` days of events."""
        F = self.F
        self.V.versioned_write(self.events.where(F.dayofmonth("ts") <= BASE_DAYS), self.path)
        self.size = dir_bytes(self.path)

    def load_inputs(self, data_dir: str, rnd: random.Random) -> None:
        """Benchmark-side inputs, read with pyarrow: the source rows merge
        batches copy, and seeded queues of append days and read cut-offs."""
        t = pq.read_table(os.path.join(data_dir, "events.parquet"), columns=list(COLUMNS))
        self.rows = {r["event_id"]: r for r in t.to_pylist()}
        self.base_ids = sorted(i for i, r in self.rows.items() if r["ts"].day <= BASE_DAYS)
        self.day_bytes: dict[int, int] = {}
        for r in self.rows.values():
            self.day_bytes[r["ts"].day] = self.day_bytes.get(r["ts"].day, 0) + payload_bytes(r)
        self.live_bytes = sum(b for d, b in self.day_bytes.items() if d <= BASE_DAYS)
        self.days = self._cycle(rnd, [d for d in sorted(self.day_bytes) if d > BASE_DAYS])
        self.next_new_id = NEW_ID_BASE

    @staticmethod
    def _cycle(rnd: random.Random, items: list):
        """Endless seeded passes over ``items`` (a day appended twice is
        appended again: duplicate rows are legal in an append)."""
        items = list(items)
        while True:
            rnd.shuffle(items)
            yield from items

    # -- operations ------------------------------------------------------
    def _op(self, rnd: random.Random, kind: str) -> Op:
        if kind in QUERIES:
            return Op(kind, kind)
        if kind == "versioned_append":
            return Op(kind, kind, {"day": next(self.days)})
        if kind == "versioned_merge":
            rows = []
            for i in sorted(rnd.sample(self.base_ids, MERGE_UPDATES)):
                rows.append({**self.rows[i], "value": round(rnd.uniform(0, 100), 2)})
            for _ in range(MERGE_INSERTS):
                src = self.rows[rnd.choice(self.base_ids)]
                rows.append({**src, "event_id": self.next_new_id,
                             "value": round(rnd.uniform(0, 100), 2)})
                self.next_new_id += 1
            return Op(kind, kind, {"rows": rows})
        cut = dt.datetime(2024, 1, rnd.randint(2, 28))
        return Op(kind, kind, {"where": [("ts", ">=", cut)]})

    def warm_groups(self, rnd: random.Random) -> list[WarmGroup]:
        """Every operation once and the cheap queries twice, in three
        groups: the versioned table, created first, and the two query
        groups of ``WARM_QUERIES``."""
        def ops(*kinds: str) -> list[Op]:
            return [self._op(rnd, k) for k in kinds]

        versioned = ops("versioned_append", "versioned_merge", "versioned_read")
        return [WarmGroup(versioned, prepare=self.create_table)] + [
            WarmGroup(ops(*group, *group[1:]), prepare=self.load_tables)
            for group in WARM_QUERIES
        ]

    def round_ops(self, rnd: random.Random, r: int) -> list[Op]:
        """The cheap operations, then the ``HEAVY`` ones, each part in a
        seeded order. An operation right after a heavy one tends to run
        slower; run last, the heavy ones leave the cheap operations,
        among which op_p50_s falls, the same in every run."""
        cheap = [k for k in QUERIES + VERSIONED if k not in HEAVY]
        heavy = list(HEAVY)
        rnd.shuffle(cheap)
        rnd.shuffle(heavy)
        return [self._op(rnd, k) for k in cheap + heavy]

    def execute(self, ctx: Context, op: Op):
        spark, tr, V, F = ctx.spark, ctx.tracer, self.V, self.F
        if op.kind in QUERIES:
            fn = self.registry[op.kind].fn
            with tr.span("plans.build", phase="build"):
                df = fn(spark, ctx.data_dir)
            with tr.span("exec", phase="exec"):
                rows = df.collect()
            tr.note("result_rows", len(rows))
            return df.columns, rows
        if op.kind == "versioned_append":
            with tr.span("input", phase="input"):
                batch = self.events.where(F.dayofmonth("ts") == op.args["day"])
            with tr.span("sources.versioned.commit", phase="write"):
                return V.versioned_write(batch, self.path)
        if op.kind == "versioned_merge":
            with tr.span("input", phase="input"):
                src = spark.createDataFrame([tuple(r[c] for c in COLUMNS) for r in op.args["rows"]],
                                            self.events.schema)
            with tr.span("sources.versioned.merge", phase="write"):
                return V.merge_into(spark, self.path, src, ["event_id"])
        with tr.span("sources.versioned.read", phase="build"):
            df = V.read_version(spark, self.path, where=op.args["where"])
        with tr.span("exec", phase="exec"):
            rows = (df.groupBy("event_type")
                    .agg(F.count("*").alias("n"), F.sum("value").alias("value_sum"))
                    .collect())
        tr.note("result_rows", len(rows))
        return ["event_type", "n", "value_sum"], rows

    def after(self, ctx: Context, done: Done) -> None:
        """Track the table's size and live payload after every write and,
        when traced, note the versioned operations' per-layer figures."""
        op, tr = done.op, ctx.tracer
        if op.kind not in VERSIONED or done.error:
            return
        if op.kind == "versioned_read":
            if tr.traced:
                v = self.V.latest_version(self.path)
                tr.note("files_scanned", len(self.V.snapshot_files(self.path, v, op.args["where"])))
                tr.note("files_total", len(self.V.snapshot_files(self.path, v)))
            return
        if op.kind == "versioned_append":
            user = self.day_bytes[op.args["day"]]
            self.live_bytes += user
        else:
            user = sum(payload_bytes(r) for r in op.args["rows"])
            self.live_bytes += sum(payload_bytes(r) for r in op.args["rows"]
                                   if r["event_id"] >= NEW_ID_BASE)
        size = dir_bytes(self.path)
        written, self.size = size - self.size, size
        if tr.traced:
            tr.note("bytes_written", written)
            tr.note("user_bytes", user)
            tr.note("live_bytes", sum(os.path.getsize(f)
                                      for f in self.V.snapshot_files(self.path, done.output)))
            tr.note("live_user_bytes", self.live_bytes)

    # -- checks ----------------------------------------------------------
    def check(self, ctx: Context, done: list[Done]) -> list[str | None]:
        con = checks.duck_connect(ctx.data_dir)
        model = checks.VersionedModel(con, "events", f"day(ts) <= {BASE_DAYS}", "event_id")
        want: dict[str, pd.DataFrame] = {}
        out = []
        for d in done:
            if d.error:
                out.append(d.error)
            elif d.op.kind in QUERIES:
                if d.op.kind not in want:
                    want[d.op.kind] = con.sql(self.registry[d.op.kind].oracle).df()
                cols, rows = d.output
                got = pd.DataFrame([tuple(r) for r in rows], columns=cols)
                out.append(checks.frames_match(got, want[d.op.kind]))
            elif d.op.kind == "versioned_read":
                (col, _, cut), = d.op.args["where"]
                cols, rows = d.output
                got = pd.DataFrame([tuple(r) for r in rows], columns=cols)
                out.append(checks.frames_match(got, model.query(
                    "SELECT event_type, count(*) AS n, sum(value) AS value_sum FROM model "
                    f"WHERE {col} >= TIMESTAMP '{cut.isoformat(sep=' ')}' GROUP BY event_type")))
            else:
                if d.op.kind == "versioned_append":
                    model.append(f"day(ts) = {d.op.args['day']}")
                else:
                    model.upsert(pd.DataFrame(d.op.args["rows"], columns=list(COLUMNS)))
                out.append(model.matches(self.V.snapshot_files(self.path, d.output)))
        return out
