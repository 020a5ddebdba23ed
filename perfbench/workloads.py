"""The three workloads. Each one builds its table from seeded inputs and
yields its ops cycle by cycle; every op carries the result it must
produce, computed outside the engine, so each op is checked.

- scan: a bulk-loaded, month-partitioned `lineitem` table with one
  manifest and no deletes, read by a full-table grouped aggregate. The
  write op overwrites a 6-row summary table with the aggregate, so the
  big table's layout never changes.
- cdc: a merge-on-read `orders` table keyed on o_orderkey, bucket(8);
  seeded merge_delta batches, each followed by a read through
  TableScan.to_df; per cycle one read through the Python DataSource,
  one SQL DELETE range, compaction and snapshot expiry.
- ingest: `events` micro-batches appended into a day(ts) + bucket(8,
  user_id) table, each followed by a zone-map-pruned lookup of one user;
  per cycle compaction, manifest rewrite and snapshot expiry.
"""

from __future__ import annotations

import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from typing import Any, Callable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import inputs as data

LINEITEM_ROWS = 200_000
SCAN_READS_PER_CYCLE = 4
SUMMARY_SCHEMA = "flag string, status string, n long, qty long, cents long"

ORDERS_ROWS = 60_000
ORDERS_HELD_OUT = 0.02      # keys not loaded at build: the re-insert pool
CDC_BATCH = 0.01            # keys touched per merge_delta batch
CDC_DELETE_SHARE = 0.2      # of a batch: deletes (re-inserts match them)
CDC_RANGE_DELETE = 0.005    # keys in the per-cycle SQL DELETE range
CDC_BATCHES_PER_CYCLE = 3

EVENT_USERS = 2_000
EVENT_BATCH = 1_500
EVENT_DAYS = 4              # batches land on one of a fixed set of days
EVENT_HISTORY_BATCHES = 20  # bulk-loaded at build
INGEST_APPENDS_PER_CYCLE = 5


@dataclass
class Op:
    kind: str       # "read", "write", "maint" or "other"
    name: str
    run: Callable[[], Any]
    expected: Any = None
    rows: int = 0
    # checks the result against `expected` (default: equality)
    verify: Callable[[Any, Any], bool] = field(default=lambda r, e: r == e)
    # reads back what a write committed, after the op's clock stopped;
    # its value is what `verify` sees (default: the op's own result)
    observe: Callable[[Any], Any] | None = None
    # the write's input frame, for the traced run's transform job; set
    # only when the op writes the workload's partitioned table
    batch: Any = None

    def check(self, result, wrong: bool = False) -> bool:
        """Whether the op produced its expected result; `wrong=True`
        checks against a deliberately wrong expected value instead."""
        seen = self.observe(result) if self.observe else result
        return self.verify(seen, perturbed(self.expected) if wrong else self.expected)


def perturbed(expected):
    """`expected` with one integer off by one: the gate's self-check."""
    if isinstance(expected, dict):
        k = sorted(expected)[0]
        return {**expected, k: perturbed(expected[k])}
    if isinstance(expected, tuple):
        return (expected[0] + 1,) + expected[1:]
    return expected + 1


def _cents(col):
    from pyspark.sql import functions as F

    return F.sum(F.round(F.col(col) * 100).cast("long"))


class Workload:
    name = ""
    reps = 1    # read/write pairs per cycle, before the cycle's maintenance
    warmup_reps = 1
    cycle_s = 1.0   # a timed cycle's op time on a quiet 4-core host

    def __init__(self, spark, seed: int, work: str):
        self.spark = spark
        self.rng = np.random.default_rng(seed)
        self.work = work
        self.tracer = None  # set by the traced run
        from icelake_spark import StorageCatalog

        self.catalog = StorageCatalog(f"{work}/warehouse")
        self.path = ""

    def span(self, name: str, layer: str):
        return self.tracer.span(name, layer) if self.tracer else nullcontext()

    def load(self):
        from icelake_spark import IcebergTable

        return IcebergTable.load(self.path)

    def _create(self, ident: str, df_schema, parts: list[str],
                identifier: str | None = None, props: dict | None = None):
        from icelake_spark.types import PartitionSpec, Schema
        from icelake_spark.types.metadata import build_partition_fields

        schema = Schema.from_spark(df_schema)
        if identifier:
            schema = schema.with_identifier_fields(identifier)
        fields, _ = build_partition_fields(schema, parts, 999)
        return self.catalog.create_table(ident, schema, spec=PartitionSpec(0, fields),
                                         properties=props)

    def live_rows(self) -> int:
        raise NotImplementedError

    def build(self, i: int) -> None:
        raise NotImplementedError

    def cycle(self, reps: int) -> Iterator[Op]:
        raise NotImplementedError


# ------------------------------------------------------------------ scan


class Scan(Workload):
    name = "scan"
    reps = warmup_reps = SCAN_READS_PER_CYCLE
    cycle_s = 3.0

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        li = data.lineitem(self.rng, LINEITEM_ROWS)
        self.src = f"{self.work}/lineitem.parquet"
        pq.write_table(li, self.src)
        # the gate's reference: Q1-style aggregate computed with numpy
        flag = li["l_returnflag"].to_numpy(zero_copy_only=False)
        status = li["l_linestatus"].to_numpy(zero_copy_only=False)
        qty = li["l_quantity"].to_numpy().astype(np.int64)
        cents = np.round(li["l_extendedprice"].to_numpy() * 100).astype(np.int64)
        self.expected = {}
        for f in data.FLAGS:
            for s in data.STATUSES:
                m = (flag == f) & (status == s)
                if m.any():
                    self.expected[(f, s)] = (int(m.sum()), int(qty[m].sum()),
                                             int(cents[m].sum()))

    def live_rows(self) -> int:
        return LINEITEM_ROWS

    def build(self, i: int) -> None:
        df = self.spark.read.parquet(self.src)
        t = self._create(f"db.lineitem_{i}", df.schema, ["month(l_shipdate)"])
        t.append(df)
        self.path = t.path
        summary = self.spark.createDataFrame([], SUMMARY_SCHEMA).schema
        self.summary_path = self._create(f"db.summary_{i}", summary, []).path

    def _read(self):
        from pyspark.sql import functions as F

        df = self.load().to_df(self.spark)
        with self.span("table.action", "table"):
            rows = (df.groupBy("l_returnflag", "l_linestatus")
                    .agg(F.count("*"), F.sum(F.col("l_quantity").cast("long")),
                         _cents("l_extendedprice"))
                    .collect())
        return {(r[0], r[1]): (r[2], r[3], r[4]) for r in rows}

    def cycle(self, reps: int) -> Iterator[Op]:
        from icelake_spark import IcebergTable

        rows = [(f, s, *v) for (f, s), v in sorted(self.expected.items())]

        def summary():
            return IcebergTable.load(self.summary_path)

        for _ in range(reps):
            yield Op("read", "scan_aggregate", self._read, self.expected,
                     rows=LINEITEM_ROWS)
            df = self.spark.createDataFrame(rows, SUMMARY_SCHEMA)
            yield Op("write", "summary_overwrite",
                     lambda df=df: summary().overwrite_all(df), len(rows),
                     rows=len(rows),
                     observe=lambda _: _summary_of(summary(), "total-records"))
        yield expire_op(summary)


# ------------------------------------------------------------------- cdc


class Cdc(Workload):
    name = "cdc"
    reps = CDC_BATCHES_PER_CYCLE
    cycle_s = 14.0

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        from icelake_spark import datasource

        datasource.register(self.spark)
        n = ORDERS_ROWS
        self.cols = data.orders_rows(self.rng, np.arange(n))
        self.live0 = np.ones(n, bool)
        self.live0[self.rng.choice(n, int(n * ORDERS_HELD_OUT), replace=False)] = False
        self.src = f"{self.work}/orders.parquet"
        pq.write_table(data.orders_table({k: v[self.live0] for k, v in self.cols.items()}),
                       self.src)
        self.target_live = int(self.live0.sum())

    def live_rows(self) -> int:
        return int(self.live.sum())

    def build(self, i: int) -> None:
        # the model restarts with every fresh table
        self.live = self.live0.copy()
        self.status = self.cols["o_orderstatus"].copy()
        self.cents = self.cols["o_totalprice_cents"].copy()
        df = self.spark.read.parquet(self.src)
        t = self._create(f"db.orders_{i}", df.schema, ["bucket[8](o_orderkey)"],
                         identifier="o_orderkey",
                         props={"write.delete.mode": "merge-on-read"})
        t.append(df)
        self.ident, self.path = f"db.orders_{i}", t.path

    def model_aggregate(self) -> dict:
        out = {}
        keys = np.arange(len(self.live))
        for s in data.ORDER_STATUSES:
            m = self.live & (self.status == s)
            if m.any():
                out[s] = (int(m.sum()), int(keys[m].sum()), int(self.cents[m].sum()))
        return out

    def _agg(self, df) -> dict:
        from pyspark.sql import functions as F

        rows = (df.groupBy("o_orderstatus")
                .agg(F.count("*"), F.sum("o_orderkey"), _cents("o_totalprice"))
                .collect())
        return {r[0]: (r[1], r[2], r[3]) for r in rows}

    def _read(self):
        df = self.load().to_df(self.spark)
        with self.span("table.action", "table"):
            return self._agg(df)

    def _read_datasource(self):
        with self.span("datasource.read", "datasource"):
            return self._agg(self.spark.read.format("icelake")
                             .option("path", self.path).load())

    def _batch(self, remaining: int):
        """One merge_delta batch: updates and deletes of live keys plus
        re-inserts of deleted keys, applied to the model. Returns the
        frame, its row count and how many of its rows insert."""
        from icelake_spark.delta import OP_DELETE, OP_INSERT

        n = len(self.live)
        size = int(n * CDC_BATCH)
        deletes = int(size * CDC_DELETE_SHARE)
        live_keys = np.flatnonzero(self.live)
        dead_keys = np.flatnonzero(~self.live)
        # re-insert as many as are deleted, plus this batch's share of
        # what the last SQL DELETE removed, so the live count stays flat
        deficit = max(0, self.target_live - len(live_keys))
        reinserts = min(len(dead_keys), deletes + -(-deficit // remaining))
        updates = max(0, size - deletes - reinserts)
        touched = self.rng.choice(live_keys, deletes + updates, replace=False)
        del_keys, upd_keys = touched[:deletes], touched[deletes:]
        ins_keys = self.rng.choice(dead_keys, reinserts, replace=False)
        up = np.concatenate([upd_keys, ins_keys])
        keys = np.concatenate([up, del_keys])
        vals = data.orders_rows(self.rng, keys)
        ops = np.full(len(keys), OP_INSERT, np.int32)
        ops[len(up):] = OP_DELETE
        self.live[del_keys] = False
        self.live[up] = True
        self.status[up] = vals["o_orderstatus"][: len(up)]
        self.cents[up] = vals["o_totalprice_cents"][: len(up)]
        df = self.spark.createDataFrame(
            data.orders_table(vals, {"_op": pa.array(ops, pa.int32())}))
        return df, len(keys), len(up)

    def cycle(self, reps: int) -> Iterator[Op]:
        from icelake_spark import delta, maintenance, sql

        for j in range(reps):
            df, n, inserts = self._batch(reps - j)
            yield Op("write", "merge_delta",
                     lambda df=df: delta.merge_delta(self.load(), df), inserts,
                     rows=n, batch=df,
                     observe=lambda _: _summary_of(self.load(), "added-records"))
            yield Op("read", "mor_read", self._read, self.model_aggregate())
        # the Python DataSource must agree with the model (and so with
        # TableScan) on the cycle's most delete-laden state
        yield Op("other", "datasource_read", self._read_datasource,
                 self.model_aggregate())
        width = int(len(self.live) * CDC_RANGE_DELETE)
        lo = int(self.rng.integers(0, len(self.live) - width))
        hit = int(self.live[lo:lo + width].sum())
        self.live[lo:lo + width] = False
        stmt = (f"DELETE FROM {self.ident} WHERE o_orderkey >= {lo} "
                f"AND o_orderkey < {lo + width}")
        yield Op("maint", "sql_delete",
                 lambda: sql.execute(self.spark, stmt, catalog=self.catalog), hit,
                 rows=hit,
                 observe=lambda _: _summary_of(self.load(), "added-position-deletes"))
        yield Op("maint", "rewrite_data_files",
                 lambda: maintenance.rewrite_data_files(self.load(), self.spark),
                 self.live_rows(),
                 observe=lambda _: _summary_of(self.load(), "total-records"))
        yield expire_op(self.load)


# ---------------------------------------------------------------- ingest


class Ingest(Workload):
    name = "ingest"
    reps = INGEST_APPENDS_PER_CYCLE
    cycle_s = 9.0

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        hist = [data.events_batch(self.rng, b * EVENT_BATCH, EVENT_BATCH,
                                  b % EVENT_DAYS, EVENT_USERS)
                for b in range(EVENT_HISTORY_BATCHES)]
        self.history = pa.concat_tables(hist)
        self.src = f"{self.work}/events.parquet"
        pq.write_table(self.history, self.src)

    def live_rows(self) -> int:
        return int(self.count.sum())

    def _add(self, t: pa.Table) -> None:
        u = t["user_id"].to_numpy()
        self.count += np.bincount(u, minlength=EVENT_USERS)
        self.idsum += np.bincount(u, weights=t["event_id"].to_numpy(),
                                  minlength=EVENT_USERS).astype(np.int64)
        self.seen_users = np.union1d(self.seen_users, u)

    def build(self, i: int) -> None:
        self.count = np.zeros(EVENT_USERS, np.int64)
        self.idsum = np.zeros(EVENT_USERS, np.int64)
        self.seen_users = np.zeros(0, np.int64)
        self._add(self.history)
        self.next_id = len(self.history)
        df = self.spark.read.parquet(self.src)
        t = self._create(f"db.events_{i}", df.schema, ["day(ts)", "bucket[8](user_id)"])
        t.append(df)
        self.path = t.path

    def _lookup(self, user: int):
        from pyspark.sql import functions as F

        df = self.load().to_df(self.spark, filter=f"user_id = {user}")
        with self.span("table.action", "table"):
            r = df.agg(F.count("*"), F.sum("event_id")).collect()[0]
        return (r[0], r[1] or 0)

    def cycle(self, reps: int) -> Iterator[Op]:
        from icelake_spark import maintenance

        for _ in range(reps):
            b = data.events_batch(self.rng, self.next_id, EVENT_BATCH,
                                  int(self.rng.integers(0, EVENT_DAYS)), EVENT_USERS)
            self.next_id += EVENT_BATCH
            # a user seen before this batch: the lookup reads old files too
            user = int(self.rng.choice(self.seen_users))
            df = self.spark.createDataFrame(b)
            yield Op("write", "append", lambda df=df: self.load().append(df),
                     EVENT_BATCH, rows=EVENT_BATCH, batch=df,
                     observe=lambda _: _summary_of(self.load(), "added-records"))
            self._add(b)
            yield Op("read", "lookup", lambda u=user: self._lookup(u),
                     (int(self.count[user]), int(self.idsum[user])))
        yield Op("maint", "rewrite_data_files",
                 lambda: maintenance.rewrite_data_files(self.load(), self.spark),
                 self.live_rows(),
                 observe=lambda _: _summary_of(self.load(), "total-records"))
        yield Op("maint", "rewrite_manifests",
                 lambda: maintenance.rewrite_manifests(self.load()), 1,
                 observe=lambda _: len(_manifests(self.load())))
        yield expire_op(self.load)


def _summary_of(table, key: str) -> int:
    snap = table.current_snapshot()
    return int(snap.summary.get(key, 0)) if snap else 0


def _manifests(table) -> list:
    from icelake_spark.types.manifest import read_manifest_list

    snap = table.current_snapshot()
    return read_manifest_list(table._resolve(snap.manifest_list)) if snap else []


def expire_op(load) -> Op:
    """Expire every snapshot but the current one; exactly one must remain."""
    from icelake_spark import maintenance

    return Op("maint", "expire_snapshots", lambda: maintenance.expire_snapshots(
        load(), older_than_ms=int(time.time() * 1000) + 1), 1,
        observe=lambda _: len(load().metadata.snapshots))


WORKLOADS = {w.name: w for w in (Scan, Cdc, Ingest)}
