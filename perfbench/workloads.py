"""The workloads. Each is a closed loop with one client: ``prepare``
makes the next op's input (untimed), ``run`` is the timed op, ``check``
verifies its output (untimed). Inputs are pure functions of the seed."""

from __future__ import annotations

import os
import random

import numpy as np

from harness import cores, fingerprint
from inputs import write_events, write_raw_slice

TIER_TABLES = {"1m": "tier_1m", "1h": "tier_1h", "1d": "tier_1d"}


class Workload:
    name = ""
    # ops in one round; the loop only stops at the end of a round, so a
    # slow run measures the same mix of ops as a fast one
    round_len = 1
    # streaming queries each op starts and stops
    streams_per_op = 0

    def __init__(self, spark, seed: int, tracer, work: str):
        self.spark, self.seed, self.tr, self.work = spark, seed, tracer, work
        os.makedirs(work, exist_ok=True)

    def setup(self) -> None:
        """Make the inputs and any expected results."""

    def warmup(self) -> None:
        """Run ops until JIT and code generation are warm."""

    def wrap(self) -> None:
        """Wrap the engine functions this workload reaches (traced run)."""

    def prepare(self, i: int):
        return i

    def run(self, state) -> int:
        """The timed op; returns the input rows it processed."""
        raise NotImplementedError

    def check(self, state) -> bool:
        return True

    def final_check(self) -> bool:
        return True


# -- refresh_cycle --------------------------------------------------------

class StreamEdge:
    """Raw files landed with advancing event time and drained into one
    catalog table by the availableNow streaming rollup."""

    N_ROWS = 100_000
    SPAN_SECS = 1800
    WATERMARK_MS = 5 * 60 * 1000
    START_US = 1_735_689_600_000_000  # 2025-01-01 00:00:00 UTC

    def __init__(self, catalog, seed: int, table: str):
        self.catalog, self.seed, self.table = catalog, seed, table
        self.in_dir = os.path.join(catalog.root, "_stream_in")
        self.ckpt = os.path.join(catalog.root, "_stream_ckpt")
        self.bucket_ends: list[np.ndarray] = []
        self.max_ms = 0
        self.checked_snap = 0
        self.counted = 0

    def land(self, i: int) -> None:
        import pyarrow.parquet as pq

        k = i + 1  # the warm-up op is -1
        path = os.path.join(self.in_dir, f"part-{k:05d}.parquet")
        write_raw_slice(path, self.N_ROWS, self.seed * 1000 + k,
                        self.START_US + k * self.SPAN_SECS * 1_000_000,
                        self.SPAN_SECS)
        ts = pq.read_table(path, columns=["ts"])["ts"].to_numpy().astype("int64")
        self.bucket_ends.append((ts // 60_000_000 + 1) * 60_000)
        self.max_ms = max(self.max_ms, int(ts.max() // 1000))

    def drain(self, spark, tracer) -> None:
        from adtk_spark.streaming.rollup_stream import (
            run_into_catalog,
            streaming_rollup_1m,
        )

        tracer.action(
            "streaming.rollup_stream.drain",
            lambda: streaming_rollup_1m(spark, self.in_dir),
            lambda agg: run_into_catalog(agg, self.catalog, self.table, self.ckpt),
            plan=False)

    def check(self, spark) -> bool:
        """Committed 1m buckets count exactly the landed rows whose
        minute closed before the watermark (max event time - 5 min)."""
        from pyspark.sql import functions as F

        wm = self.max_ms - self.WATERMARK_MS
        want = sum(int((e <= wm).sum()) for e in self.bucket_ends)
        new = self.catalog.read_since(spark, self.table, self.checked_snap)
        if new is not None:
            self.counted += new.agg(F.sum("cnt")).collect()[0][0] or 0
            self.checked_snap = self.catalog.last_snapshot(self.table)
        return self.counted == want


class RefreshCycle(Workload):
    """One rollup_job cycle on a catalog that starts empty: commit a raw
    day-slice, refresh the 1m/1h/1d tiers plus lineage, drain one landed
    stream file into the catalog, read a routed 2h query back."""

    name = "refresh_cycle"
    N_SLICE = 20_000
    N_SOURCES = 16
    streams_per_op = 1

    def setup(self):
        from adtk_spark.sources.catalog import TierCatalog

        self.catalog = TierCatalog(os.path.join(self.work, "catalog"))
        self.stream = StreamEdge(self.catalog, self.seed, "stream_1m")
        self.committed = 0

    def warmup(self):
        """The first cycle, on the still empty catalog."""
        self.run(self.prepare(-1))
        self.check(-1)

    def wrap(self):
        from adtk_spark.plans import incremental
        from adtk_spark.sources.catalog import TierCatalog

        def snapshot_bytes(snap_id, args, kwargs, rec):
            cat, table = args[0], args[2] if len(args) > 2 else kwargs["table"]
            path = os.path.join(cat.root, table, f"snap={snap_id}")
            rec["bytes"] = sum(os.path.getsize(os.path.join(d, f))
                               for d, _, fs in os.walk(path) for f in fs)

        def table_of(snap_id, args, kwargs, rec):
            rec["table"] = args[3] if len(args) > 3 else kwargs["table"]

        self.tr.wrap(TierCatalog, "commit", "sources.catalog.commit",
                     after=snapshot_bytes)
        self.tr.wrap(incremental, "commit_with_lineage",
                     "plans.lineage.commit_with_lineage", after=table_of)
        self.tr.listen_streams()

    def prepare(self, i):
        if i >= 30:
            raise ValueError("refresh_cycle runs at most 31 day-slices")
        self.stream.land(i)
        return i

    def run(self, i):
        from adtk_spark.plans.incremental import refresh_tiers
        from adtk_spark.plans.router import route_from_catalog
        from adtk_spark.sources.tokens import token_corpus

        day = f"2025-01-{i + 2:02d} 00:00:00"
        self.tr.action(
            "sources.catalog.ingest",
            lambda: token_corpus(self.spark, self.N_SLICE, n_sources=self.N_SOURCES,
                                 seed=self.seed * 1000 + i + 2, start=day,
                                 span_secs=86_400, partitions=cores()),
            lambda df: self.catalog.commit(df, "raw", {"day": day}))
        self.committed += self.N_SLICE
        with self.tr.span("plans.incremental.refresh"):
            refresh_tiers(self.catalog, self.spark)
        self.stream.drain(self.spark, self.tr)
        _, self.routed = self.tr.action(
            "plans.incremental.read_latest",
            lambda: route_from_catalog(self.spark, self.catalog, TIER_TABLES, 7200),
            lambda df: df.collect())
        return self.N_SLICE + self.stream.N_ROWS

    def check(self, i):
        """The routed 2h rollup counts every raw row committed so far,
        and the stream committed every row its watermark closed."""
        routed_ok = sum(r["cnt"] for r in self.routed) == self.committed
        return routed_ok and self.stream.check(self.spark)

    def final_check(self):
        """Each tier's latest-wins state equals a one-shot rollup of all
        raw rows. All six sides are hashed in one Spark job."""
        from functools import reduce

        from pyspark.sql import DataFrame

        from adtk_spark.plans.incremental import read_tier_latest
        from adtk_spark.plans.tiers import rollup_raw, rollup_up
        from adtk_spark.sources.tokens import token_series

        raw = token_series(self.catalog.read(self.spark, "raw").drop("snap"))
        expect = {"1m": rollup_raw(raw, "1m")}
        expect["1h"] = rollup_up(expect["1m"], "1h")
        expect["1d"] = rollup_up(expect["1h"], "1d")
        sides = []
        for tier, table in TIER_TABLES.items():
            want = expect[tier]
            got = read_tier_latest(self.catalog, self.spark, table)
            sides += [multiset_hash(want, "want " + tier),
                      multiset_hash(got.select(*want.columns), "got " + tier)]
        res = {r["side"]: (r["rows"], r["hash"])
               for r in reduce(DataFrame.unionByName, sides).collect()}
        return all(res["want " + t] == res["got " + t] for t in TIER_TABLES)


def multiset_hash(df, side: str):
    """One row (side, rows, order-insensitive hash) for a DataFrame;
    doubles are compared at six decimals as in ``harness.norm``."""
    from pyspark.sql import functions as F

    cols = [F.round(f.name, 6) if f.dataType.typeName() == "double" else F.col(f.name)
            for f in sorted(df.schema.fields, key=lambda f: f.name)]
    return df.select(F.xxhash64(*cols).alias("h")).agg(
        F.lit(side).alias("side"), F.count("*").alias("rows"),
        F.sum("h").alias("hash"))


# -- query_mix ------------------------------------------------------------

# contract query -> the layer it drives
QUERIES = {
    "persist_ad": "operators.detectors",
    "rolling_median_w7c": "functions.windows",
    "standard_scale": "operators.transformers",
    "to_events": "operators.events",
    "gapfill_ffill": "plans.gapfill",
    "customized_transformer": "operators.custom",
}
ARROW_NODES = ("ArrowEvalPython", "FlatMapGroupsInPandas", "MapInPandas",
               "FlatMapCoGroupsInPandas", "AggregateInPandas", "WindowInPandas")


class QueryMix(Workload):
    """Contract queries over a seeded events table, each collected and
    compared with its DuckDB oracle; one op is one query."""

    name = "query_mix"
    N_EVENTS = 20_000
    # one pass over the queries in a seed-shuffled order
    round_len = len(QUERIES)

    def setup(self):
        import duckdb

        import __spark_entry__ as entry

        self.dir = os.path.join(self.work, "sf")
        os.makedirs(self.dir, exist_ok=True)
        path = os.path.join(self.dir, "events.parquet")
        write_events(path, self.N_EVENTS, self.seed)
        self.queries = entry.queries()
        oracles = entry.oracle_sql()
        con = duckdb.connect()
        con.sql(f"CREATE VIEW events AS SELECT * FROM '{path}'")
        self.expect = {}
        for name in QUERIES:
            res = con.sql(oracles[name])
            self.expect[name] = fingerprint(res.columns, res.fetchall())
        con.close()

    def warmup(self):
        for name in QUERIES:
            self.run(name)

    def prepare(self, i):
        rnd, k = divmod(i, len(QUERIES))
        order = sorted(QUERIES)
        random.Random(self.seed * 7919 + rnd).shuffle(order)
        return order[k]

    def run(self, name):
        df, rows = self.tr.action(
            QUERIES[name] + ".query",
            lambda: self.queries[name](self.spark, self.dir),
            lambda df: df.collect())
        if self.tr.on:
            plan = df._jdf.queryExecution().executedPlan().toString()
            # mark the layer span when the plan crosses the Arrow boundary
            self.tr.spans[-1]["arrow"] = any(n in plan for n in ARROW_NODES)
        self.result = df.columns, rows
        return self.N_EVENTS

    def check(self, name):
        return fingerprint(*self.result) == self.expect[name]


WORKLOADS = {w.name: w for w in (RefreshCycle, QueryMix)}
