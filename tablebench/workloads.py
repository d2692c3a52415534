"""The three closed-loop, single-client workloads.

Each workload generates its inputs from the seed, builds its table in a
fresh warehouse, yields ops in a fixed cycle of kinds (seeded parameters,
fixed shares, so every seed runs the same mix), runs one op through the
public client API, and verifies all op results against DuckDB after the
timed loop.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import date, timedelta
from typing import Any, Dict, Iterator, List, Optional, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import data

NS = "bench"


@dataclass
class Op:
    index: int
    kind: str
    params: Dict[str, Any]
    ms: float = 0.0
    result: Any = None
    error: Optional[str] = None
    ok: bool = True
    rows: int = 0
    traced: bool = False


@dataclass
class Scale:
    """Input sizes; ``FULL`` is the benchmark, ``SMOKE`` the smoke test."""

    lineitem_rows: int
    n_supp: int
    n_part: int
    supp_buckets: int
    orders_rows: int
    batch_rows: int
    delete_rows: int


# point_lookup: 84 months x 3 buckets = 252 files, so 252 point and 246
# three-month-range file sets: 498 distinct scans against a 256-entry
# read-plan cache. Sizes keep three table builds per run affordable.
FULL = Scale(lineitem_rows=120_000, n_supp=200, n_part=4_000, supp_buckets=3,
             orders_rows=30_000, batch_rows=500, delete_rows=100)
SMOKE = Scale(lineitem_rows=6_000, n_supp=10, n_part=200, supp_buckets=2,
              orders_rows=1_500, batch_rows=50, delete_rows=10)


def _month_start(i: int) -> date:
    return date(1992 + i // 12, i % 12 + 1, 1)


def _shipdate_filter(lo: date, hi: date) -> str:
    return f"l_shipdate >= '{lo.isoformat()}' and l_shipdate < '{hi.isoformat()}'"


class Workload:
    name = ""
    kinds: Tuple[str, ...] = ()
    table = ""
    # kinds of the untimed ops run before the timed ones, enough for op
    # latency to settle after the table build
    warmup: Tuple[str, ...] = ()
    # timed ops run in this many blocks, one after each of the last set-up
    # builds (at most SETUP_REPS)
    measure_blocks = 1

    def __init__(self, scale: Scale, seed: int, work_dir: str, con):
        self.scale = scale
        self.work_dir = work_dir
        self.con = con  # duckdb connection holding the oracle inputs
        self.data_rng = np.random.default_rng([seed, 1])
        self.op_rng = np.random.default_rng([seed, 2])

    def _source(self, name: str, tbl: pa.Table) -> str:
        path = os.path.join(self.work_dir, f"{name}.parquet")
        pq.write_table(tbl, path)
        self.con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        return path

    def make_inputs(self) -> None:
        raise NotImplementedError

    def build(self, spark, catalog) -> None:
        """Create and fill the workload's table (timed as set-up)."""
        raise NotImplementedError

    def next_params(self, kind: str) -> Dict[str, Any]:
        raise NotImplementedError

    def warmup_ops(self) -> List[Op]:
        return [Op(-1, kind, self.next_params(kind)) for kind in self.warmup]

    def ops(self) -> Iterator[Op]:
        i = 0
        while True:
            kind = self.kinds[i % len(self.kinds)]
            yield Op(i, kind, self.next_params(kind))
            i += 1

    def run(self, catalog, op: Op, tracer) -> None:
        raise NotImplementedError

    def verify(self, catalog, done: List[Op]) -> None:
        """Set ``op.ok`` for every op; runs after the timed loop."""
        raise NotImplementedError

    def count_rows(self, catalog, done: List[Op]) -> None:
        """Set ``op.rows`` (the rows an op's throughput counts)."""

    def corrupt(self, catalog, done: List[Op]) -> None:
        """Spoil one result, so a smoke test can check verification."""
        done[0].result = [("corrupted",)]

    def live_bytes_ratio(self, catalog) -> float:
        """Bytes under the table location / bytes of the current
        snapshot's data files."""
        from iceberg_python_spark.io import fileio

        t = catalog.load_table(f"{NS}.{self.table}")
        live = sum(task.data_file["file_size_in_bytes"] for task in t.scan().plan_files())
        root = fileio.to_local(t.location)
        stored = 0
        for dirpath, _dirs, files in os.walk(root):
            stored += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
        return stored / live


def _exec(tracer, action):
    """Run a Spark action under the ``exec`` span (time in the action
    after ``to_df``)."""
    span = tracer.begin("exec") if tracer else None
    try:
        out = action()
    finally:
        if tracer:
            tracer.finish(span)
    if span is not None:
        span.attrs["rows"] = float(len(out))
    return out


class _LineitemReads(Workload):
    table = "lineitem"

    def make_inputs(self) -> None:
        s = self.scale
        self.source = self._source("lineitem_src", data.lineitem(self.data_rng, s.lineitem_rows, s.n_supp, s.n_part))

    def _create(self, spark, catalog, spec_fields, properties):
        from iceberg_python_spark import spec_from_names
        from iceberg_python_spark.schema import schema_from_spark

        df = spark.read.parquet(self.source)
        schema = schema_from_spark(df.schema)
        catalog.create_namespace_if_not_exists(NS)
        t = catalog.create_table(
            f"{NS}.{self.table}", schema, partition_spec=spec_from_names(schema, *spec_fields), properties=properties
        )
        t.append(df)
        return t


class PointLookup(_LineitemReads):
    """Selective lookups on a finely partitioned table: planning is the
    largest controllable share of each op, and the distinct pruned file
    sets outnumber the 256-entry read-plan cache. Each kind walks its file
    sets in a seeded order and repeats none until all are used (252 point
    ops, more than a run makes), so no op of a run hits that cache and the
    hit rate does not drift with the number of ops a run completes."""

    name = "point_lookup"
    kinds = ("point", "point", "point", "point", "range")
    warmup = kinds * 2
    # the three builds take half a run; a timed block after each spreads
    # the timed ops over that time instead of one stretch, so a run's
    # medians average more of the shared host's slow and fast spells
    measure_blocks = 3
    range_months = 3

    def make_inputs(self) -> None:
        super().make_inputs()
        from iceberg_python_spark.transforms import BucketTransform
        from iceberg_python_spark.types import LongType

        n = self.scale.supp_buckets
        bucket = BucketTransform(n).transform(LongType())
        self.supps_by_bucket: List[List[int]] = [[] for _ in range(n)]
        for supp in range(1, self.scale.n_supp + 1):
            self.supps_by_bucket[bucket(supp)].append(supp)
        if not all(self.supps_by_bucket):
            raise ValueError("every supplier bucket needs a supplier")
        self.sets = {
            "point": self._file_sets(84),
            "range": self._file_sets(84 - self.range_months + 1),
        }

    def _file_sets(self, first_months: int) -> Iterator[Tuple[int, int]]:
        """(first month, bucket) pairs, each once per seeded round."""
        pairs = [(m, b) for m in range(first_months) for b in range(self.scale.supp_buckets)]
        while True:
            for i in self.op_rng.permutation(len(pairs)):
                yield pairs[i]

    def build(self, spark, catalog) -> None:
        self._create(
            spark,
            catalog,
            (("l_shipdate", "month"), ("l_suppkey", f"bucket[{self.scale.supp_buckets}]")),
            {"write.parquet.max-records-per-file": "1000"},
        )

    def next_params(self, kind: str) -> Dict[str, Any]:
        m, b = next(self.sets[kind])
        supp = int(self.op_rng.choice(self.supps_by_bucket[b]))
        lo, hi = _month_start(m), _month_start(m + (1 if kind == "point" else self.range_months))
        return {"supp": supp, "lo": lo, "hi": hi, "filter": f"l_suppkey = {supp} and " + _shipdate_filter(lo, hi)}

    def run(self, catalog, op: Op, tracer) -> None:
        t = catalog.load_table(f"{NS}.{self.table}")
        df = t.scan(row_filter=op.params["filter"]).to_df()
        op.result = [tuple(r) for r in _exec(tracer, df.collect)]

    def verify(self, catalog, done: List[Op]) -> None:
        for op in done:
            p = op.params
            want = self.con.execute(
                "SELECT * FROM lineitem_src WHERE l_suppkey = ? AND l_shipdate >= ? AND l_shipdate < ?",
                [p["supp"], p["lo"], p["hi"]],
            ).fetchall()
            op.ok = op.error is None and data.fingerprint(op.result) == data.fingerprint(want)


Q1_SQL = """
SELECT l_returnflag, l_linestatus, sum(l_quantity), sum(l_extendedprice),
       sum(l_extendedprice * (1 - l_discount)), sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)),
       avg(l_quantity), avg(l_extendedprice), avg(l_discount), count(*)
FROM live WHERE l_shipdate <= ? GROUP BY l_returnflag, l_linestatus
"""


class AnalyticScan(_LineitemReads):
    """Scan-and-aggregate queries on a coarsely partitioned table with
    merge-on-read position deletes: Spark's read and the delete anti-join
    do the work, planning is a small share, and the few distinct file
    sets fit the read-plan cache."""

    name = "analytic_scan"
    kinds = ("q6", "q1", "count")
    warmup = kinds

    def build(self, spark, catalog) -> None:
        t = self._create(spark, catalog, (("l_shipdate", "year"),), {})
        keys = ", ".join(str(k) for k in self.deleted_parts)
        t.delete(f"l_partkey in ({keys})", mode="merge-on-read")

    def make_inputs(self) -> None:
        super().make_inputs()
        n_part = self.scale.n_part
        self.deleted_parts = sorted(
            int(k) for k in self.data_rng.choice(np.arange(1, n_part + 1), size=max(1, n_part // 100), replace=False)
        )
        self.con.execute(
            "CREATE OR REPLACE VIEW live AS SELECT * FROM lineitem_src WHERE l_partkey NOT IN ("
            + ", ".join(str(k) for k in self.deleted_parts)
            + ")"
        )

    def count_rows(self, catalog, done: List[Op]) -> None:
        """Record counts of each op's planned files."""
        t = catalog.load_table(f"{NS}.{self.table}")
        cache: Dict[Tuple, int] = {}
        for op in done:
            key = (op.params["filter"], op.params["select"])
            if key not in cache:
                scan = t.scan(row_filter=key[0], selected_fields=key[1])
                cache[key] = sum(task.data_file["record_count"] for task in scan.plan_files())
            op.rows = cache[key]

    def next_params(self, kind: str) -> Dict[str, Any]:
        rng = self.op_rng
        if kind == "q6":
            year = int(rng.integers(1993, 1998))
            disc = int(rng.integers(2, 10))
            qty = int(rng.integers(24, 26))
            lo, hi = (disc - 1.5) / 100, (disc + 1.5) / 100
            return {
                "filter": _shipdate_filter(date(year, 1, 1), date(year + 1, 1, 1))
                + f" and l_discount > {lo:.3f} and l_discount < {hi:.3f} and l_quantity < {qty}",
                "select": ("l_extendedprice", "l_discount"),
                "args": [date(year, 1, 1), date(year + 1, 1, 1), lo, hi, qty],
            }
        if kind == "q1":
            cutoff = date(1998, 12, 1) - timedelta(days=int(rng.integers(60, 121)))
            return {"filter": f"l_shipdate <= '{cutoff.isoformat()}'", "select": ("*",), "args": [cutoff]}
        qty = int(rng.integers(30, 46))
        flag = str(rng.choice(["R", "A", "N"]))
        return {
            "filter": f"l_quantity > {qty} and l_returnflag = '{flag}'",
            "select": ("l_orderkey",),
            "args": [qty, flag],
        }

    def run(self, catalog, op: Op, tracer) -> None:
        from pyspark.sql import functions as F

        t = catalog.load_table(f"{NS}.{self.table}")
        df = t.scan(row_filter=op.params["filter"], selected_fields=op.params["select"]).to_df()
        if op.kind == "q6":
            df = df.agg(F.sum(F.col("l_extendedprice") * F.col("l_discount")))
            op.result = [tuple(r) for r in _exec(tracer, df.collect)]
        elif op.kind == "q1":
            price = F.col("l_extendedprice")
            disc_price = price * (1 - F.col("l_discount"))
            df = df.groupBy("l_returnflag", "l_linestatus").agg(
                F.sum("l_quantity"),
                F.sum(price),
                F.sum(disc_price),
                F.sum(disc_price * (1 + F.col("l_tax"))),
                F.avg("l_quantity"),
                F.avg(price),
                F.avg("l_discount"),
                F.count(F.lit(1)),
            )
            op.result = [tuple(r) for r in _exec(tracer, df.collect)]
        else:
            op.result = [(n,) for n in _exec(tracer, lambda: [df.count()])]

    def verify(self, catalog, done: List[Op]) -> None:
        sql = {
            "q6": "SELECT sum(l_extendedprice * l_discount) FROM live WHERE l_shipdate >= ? AND l_shipdate < ?"
            " AND l_discount > ? AND l_discount < ? AND l_quantity < ?",
            "q1": Q1_SQL,
            "count": "SELECT count(*) FROM live WHERE l_quantity > ? AND l_returnflag = ?",
        }
        cache: Dict[Tuple, List] = {}
        for op in done:
            key = (op.kind, tuple(op.params["args"]))
            if key not in cache:
                cache[key] = self.con.execute(sql[op.kind], op.params["args"]).fetchall()
            op.ok = op.error is None and data.rows_close(op.result, cache[key])


class WriteMix(Workload):
    """Commits on a partitioned orders table: appends of fresh keys,
    upserts (half matched-and-changed, half new), copy-on-write deletes
    of still-live key ranges, and periodic snapshot expiry + compaction.
    Exercises the write path the read workloads never touch."""

    name = "write_mix"
    table = "orders"
    # commits 50% append, 33% upsert, 17% delete; maintenance every 6 commits
    kinds = ("append", "upsert", "append", "delete", "upsert", "append", "maintain")
    # one op of each kind: with C1-only JIT, later ops of a kind run at
    # steady speed after the first
    warmup = ("append", "upsert", "delete", "maintain")

    def make_inputs(self) -> None:
        n = self.scale.orders_rows
        self.base = data.orders(self.data_rng, np.arange(1, n + 1))
        self.source = self._source("orders_src", self.base)
        self.next_key = 10 * n  # fresh keys never collide with the base
        self.appended: List[Tuple[int, int]] = []  # live fresh key ranges [lo, hi)
        self.live_keys = n  # base keys 1..n stay live (deletes only hit fresh ranges)

    def build(self, spark, catalog) -> None:
        from iceberg_python_spark import spec_from_names
        from iceberg_python_spark.schema import schema_from_spark

        df = spark.read.parquet(self.source)
        schema = schema_from_spark(df.schema)
        catalog.create_namespace_if_not_exists(NS)
        t = catalog.create_table(
            f"{NS}.{self.table}", schema, partition_spec=spec_from_names(schema, ("o_orderdate", "year"))
        )
        t.append(df)

    def _fresh(self, n: int) -> np.ndarray:
        keys = np.arange(self.next_key, self.next_key + n, dtype=np.int64)
        self.next_key += n
        return keys

    def next_params(self, kind: str) -> Dict[str, Any]:
        s = self.scale
        rng = self.data_rng
        if kind == "append":
            keys = self._fresh(s.batch_rows)
            self.appended.append((int(keys[0]), int(keys[-1]) + 1))
            return {"batch": data.orders(rng, keys)}
        if kind == "upsert":
            half = s.batch_rows // 2
            matched = np.sort(rng.choice(np.arange(1, self.live_keys + 1), size=half, replace=False))
            changed = data.orders(rng, matched)
            fresh = self._fresh(s.batch_rows - half)
            self.appended.append((int(fresh[0]), int(fresh[-1]) + 1))
            return {"batch": pa.concat_tables([changed, data.orders(rng, fresh)])}
        if kind == "delete":
            # the oldest fresh range still live: every delete removes rows
            lo, hi = self.appended[0]
            cut = min(hi, lo + s.delete_rows)
            if cut == hi:
                self.appended.pop(0)
            else:
                self.appended[0] = (cut, hi)
            return {"lo": lo, "hi": cut, "filter": f"o_orderkey >= {lo} and o_orderkey < {cut}"}
        return {}

    def run(self, catalog, op: Op, tracer) -> None:
        t = catalog.load_table(f"{NS}.{self.table}")
        spark = t.spark
        if op.kind == "append":
            t.append(spark.createDataFrame(op.params["batch"]))
        elif op.kind == "upsert":
            res = t.upsert(spark.createDataFrame(op.params["batch"]), join_cols=["o_orderkey"])
            op.result = (res.rows_updated, res.rows_inserted)
        elif op.kind == "delete":
            t.delete(op.params["filter"], mode="copy-on-write")
        else:
            t.expire_snapshots().expire_older_than(t.current_snapshot().timestamp_ms).commit()
            t.compact()

    def corrupt(self, catalog, done: List[Op]) -> None:
        """Drop one base row behind the op log's back."""
        catalog.load_table(f"{NS}.{self.table}").delete("o_orderkey = 1")

    def count_rows(self, catalog, done: List[Op]) -> None:
        for op in done:
            if "batch" in op.params:
                op.rows = op.params["batch"].num_rows
            elif op.kind == "delete":
                op.rows = op.params["hi"] - op.params["lo"]

    def verify(self, catalog, done: List[Op]) -> None:
        """Replay the op log in DuckDB and compare the final table; a
        mismatch fails every op, because no single op can be blamed."""
        con = self.con
        con.execute("CREATE OR REPLACE TABLE replay AS SELECT * FROM orders_src")
        for op in done:
            if op.error is not None:
                continue
            if op.kind == "append":
                con.register("batch", op.params["batch"])
                con.execute("INSERT INTO replay SELECT * FROM batch")
            elif op.kind == "upsert":
                con.register("batch", op.params["batch"])
                con.execute("DELETE FROM replay WHERE o_orderkey IN (SELECT o_orderkey FROM batch)")
                con.execute("INSERT INTO replay SELECT * FROM batch")
            elif op.kind == "delete":
                con.execute("DELETE FROM replay WHERE o_orderkey >= ? AND o_orderkey < ?", [op.params["lo"], op.params["hi"]])
        want = data.fingerprint(con.execute("SELECT * FROM replay").fetchall())
        t = catalog.load_table(f"{NS}.{self.table}")
        got = data.fingerprint(tuple(r) for r in t.scan().to_df().toLocalIterator())
        half = self.scale.batch_rows // 2
        expected_counts = (half, self.scale.batch_rows - half)
        for op in done:
            counts_ok = op.kind != "upsert" or op.result == expected_counts
            op.ok = op.error is None and got == want and counts_ok


WORKLOADS = {w.name: w for w in (PointLookup, AnalyticScan, WriteMix)}
