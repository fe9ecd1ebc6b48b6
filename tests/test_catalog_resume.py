"""TierCatalog snapshot/commit/read-since + kill-and-resume refresh."""

import pytest
from pyspark.sql import functions as F

from adtk_spark.plans.incremental import (
    WATERMARK_KEY,
    read_tier_latest,
    refresh_tiers,
)
from adtk_spark.sources.catalog import TierCatalog
from adtk_spark.sources.tokens import token_corpus


def test_catalog_commit_read_since(spark, tmp_path):
    cat = TierCatalog(str(tmp_path / "cat"))
    df1 = spark.range(5).select(F.col("id").alias("x"))
    df2 = spark.range(5, 8).select(F.col("id").alias("x"))
    s1 = cat.commit(df1, "t")
    s2 = cat.commit(df2, "t")
    assert (s1, s2) == (1, 2)
    assert cat.read(spark, "t").count() == 8
    assert cat.read_since(spark, "t", s1).count() == 3
    assert cat.read_since(spark, "t", s2) is None
    assert cat.last_snapshot("t") == 2
    assert cat.last_snapshot("missing") is None


def test_incremental_refresh_and_resume(spark, tmp_path):
    cat = TierCatalog(str(tmp_path / "tiers"))
    c1 = token_corpus(spark, 2000, n_sources=8, seed=1, span_secs=3600)
    c2 = token_corpus(spark, 1000, n_sources=8, seed=2, span_secs=3600)

    cat.commit(c1, "raw")
    r1 = refresh_tiers(cat, spark)
    assert r1["processed"] == 1
    full_1m_a = read_tier_latest(cat, spark, "tier_1m")
    n_a = full_1m_a.count()
    assert n_a > 0

    # second ingest + refresh: restated buckets resolve latest-wins
    cat.commit(c2, "raw")
    r2 = refresh_tiers(cat, spark)
    assert r2["processed"] == 1
    merged = read_tier_latest(cat, spark, "tier_1m")
    # tier must equal a from-scratch rollup of all raw data
    from adtk_spark.plans.tiers import rollup_raw
    from adtk_spark.sources.tokens import token_series

    expected = rollup_raw(token_series(cat.read(spark, "raw").drop("snap")), "1m")
    got = {(r["source"], r["bucket_ts"], r["cnt"], r["vsum"]) for r in merged.collect()}
    want = {(r["source"], r["bucket_ts"], r["cnt"], r["vsum"]) for r in expected.collect()}
    assert got == want

    # resume semantics: nothing new -> no-op (watermark caught up)
    r3 = refresh_tiers(cat, spark)
    assert r3["processed"] == 0

    # "kill and restart": a fresh catalog object over the same root sees
    # the committed watermark and does not reprocess
    cat2 = TierCatalog(str(tmp_path / "tiers"))
    assert cat2.get_watermark(WATERMARK_KEY) == cat.get_watermark(WATERMARK_KEY)
    assert refresh_tiers(cat2, spark)["processed"] == 0

    # lineage rows recorded for every tier commit
    lin = cat.read(spark, "_lineage")
    tables = {r["table"] for r in lin.select("table").distinct().collect()}
    assert {"tier_1m", "tier_1h", "tier_1d"} <= tables
    assert lin.where(F.col("n_rows") <= 0).count() == 0


def test_bucketed_compaction_no_exchange(spark, tmp_path):
    """The read-optimized bucketed tier view: (a) same data as the plain
    snapshot read, (b) a per-source window pass over it plans ZERO
    Exchange (the bucketed scan's HashPartitioning satisfies the
    Window's distribution) vs exactly one on the plain parquet read."""
    from pyspark.sql import Window

    from adtk_spark.plans.tiers import rollup_raw
    from adtk_spark.sources.catalog import TierCatalog
    from adtk_spark.sources.tokens import token_corpus, token_series

    cat = TierCatalog(str(tmp_path / "cat"))
    t1m = rollup_raw(
        token_series(token_corpus(spark, 2000, n_sources=8, seed=9)), "1m")
    cat.commit(t1m, "tier_1m")
    name = cat.commit_bucketed(cat.read(spark, "tier_1m").drop("snap"),
                               "tier_1m", buckets=8)
    try:
        bkt = cat.read_bucketed(spark, "tier_1m")
        plain = cat.read(spark, "tier_1m").drop("snap")

        key = lambda r: (r["source"], r["bucket_ts"], r["cnt"], r["vsum"])
        assert {key(r) for r in bkt.collect()} == {key(r) for r in plain.collect()}

        w = Window.partitionBy("source").orderBy("bucket_ts").rowsBetween(-5, -1)
        proj = [F.col("source"), F.col("bucket_ts"),
                F.avg("mean").over(w).alias("r")]
        plan_bkt = bkt.select(*proj)._jdf.queryExecution() \
            .executedPlan().toString()
        plan_plain = plain.select(*proj)._jdf.queryExecution() \
            .executedPlan().toString()
        assert plan_bkt.count("Exchange") == 0
        assert "Bucketed: true" in plan_bkt
        assert plan_plain.count("Exchange") == 1

        # metastore registrations are per-session: a fresh catalog
        # object must self-register the external bucketed table from
        # the manifest (simulated by dropping the session's table)
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        cat2 = TierCatalog(str(tmp_path / "cat"))
        bkt2 = cat2.read_bucketed(spark, "tier_1m")
        plan2 = bkt2.select(*proj)._jdf.queryExecution() \
            .executedPlan().toString()
        assert plan2.count("Exchange") == 0
        assert {key(r) for r in bkt2.collect()} == {key(r) for r in plain.collect()}
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_partitioned_commit_prunes_retention_scan(spark, tmp_path):
    """Day-partitioned tier snapshots: a retention cutoff reaches the
    scan as a PartitionFilter (directories pruned, old files never
    opened) and the kept rows match an unpartitioned filter."""
    from adtk_spark.plans.tiers import retention_filter, rollup_raw
    from adtk_spark.sources.catalog import TierCatalog
    from adtk_spark.sources.tokens import token_corpus, token_series

    cat = TierCatalog(str(tmp_path / "cat"))
    t1m = rollup_raw(
        token_series(token_corpus(spark, 3000, n_sources=4, seed=13,
                                  span_secs=4 * 86400)), "1m"
    ).withColumn("day", F.to_date("bucket_ts"))
    cat.commit(t1m, "tier_1m", partition_by=["day"])

    stored = cat.read(spark, "tier_1m").drop("snap")
    cutoff = t1m.agg(F.max("bucket_ts")).first()[0]
    import datetime as dt

    keep_after = (cutoff - dt.timedelta(days=2)).date()
    kept = stored.where(F.col("day") >= F.lit(keep_after))
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    # the day filter must be IN the partition filters, not a data filter
    pf = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "day" in pf

    want = {(r["source"], r["bucket_ts"]) for r in retention_filter(
        t1m, dt.datetime.combine(keep_after, dt.time())).collect()}
    got = {(r["source"], r["bucket_ts"]) for r in kept.collect()}
    assert got == want and len(got) > 0


def test_manifest_zone_map_pruning(spark, tmp_path):
    """commit records min/max(bucket_ts) in the manifest; read_range
    skips whole snapshot dirs on the driver, and latest-wins restatement
    survives the pruning."""
    import datetime as dt

    from adtk_spark.plans.incremental import read_tier_latest

    cat = TierCatalog(str(tmp_path / "zm"))
    for day in (1, 2, 3):
        df = spark.createDataFrame(
            [("s", dt.datetime(2025, 3, day, h), float(h)) for h in range(4)],
            "source string, bucket_ts timestamp, mean double")
        cat.commit(df, "t")

    lo, hi = dt.datetime(2025, 3, 2), dt.datetime(2025, 3, 3)
    assert cat.snapshots_in_range("t", lo, hi) == [2]
    d2 = cat.read_range(spark, "t", lo, hi)
    files = d2.inputFiles()
    assert files and all("snap=2" in f for f in files)  # dirs 1/3 never read
    assert d2.count() == 4
    assert cat.read(spark, "t").count() == 12  # unbounded read: everything

    # snapshot 4 restates day-2 hour-0: its stats cover the range, so
    # range pruning keeps it and latest-wins returns the restated row
    cat.commit(spark.createDataFrame(
        [("s", dt.datetime(2025, 3, 2, 0), 99.0)],
        "source string, bucket_ts timestamp, mean double"), "t")
    assert cat.snapshots_in_range("t", lo, hi) == [2, 4]
    latest = read_tier_latest(cat, spark, "t", lo, hi)
    got = {r["bucket_ts"]: r["mean"] for r in latest.collect()}
    assert got[dt.datetime(2025, 3, 2, 0)] == 99.0
    assert len(got) == 4


def test_route_from_catalog_prunes_snapshots(spark, tmp_path):
    """A time-bounded routed query only scans manifest-surviving
    snapshot dirs of the serving tier."""
    import datetime as dt

    from adtk_spark.plans.router import route_from_catalog

    cat = TierCatalog(str(tmp_path / "rt"))
    for day in (1, 2):
        df = spark.createDataFrame(
            [("s", dt.datetime(2025, 4, day, 0, m), 1.0 * m, 1, 1.0 * m,
              1.0 * m, 1.0 * m)
             for m in range(30)],
            "source string, bucket_ts timestamp, mean double, cnt long,"
            " vmin double, vmax double, vsum double")
        cat.commit(df, "tier_1m")
    routed = route_from_catalog(
        spark, cat, {"1m": "tier_1m"}, 60,
        start=dt.datetime(2025, 4, 2), end=dt.datetime(2025, 4, 3))
    assert all("snap=2" in f for f in routed.inputFiles())
    assert routed.count() == 30


def test_compact_tier_and_vacuum(spark, tmp_path):
    """Many per-epoch snapshots -> one compacted snapshot: identical
    latest-wins answer, single-dir scan, vacuum removes the old dirs."""
    import datetime as dt
    import os

    from adtk_spark.plans.incremental import compact_tier, read_tier_latest

    cat = TierCatalog(str(tmp_path / "cp"))
    # 5 epochs; epochs 3..5 restate minute 0 with a new value
    for epoch in range(5):
        cat.commit(spark.createDataFrame(
            [("s", dt.datetime(2025, 5, 1, 0, min(epoch, 2)), float(epoch))],
            "source string, bucket_ts timestamp, mean double"), "tier_1m")
    before = {(r["source"], r["bucket_ts"]): r["mean"]
              for r in read_tier_latest(cat, spark, "tier_1m").collect()}
    assert before[("s", dt.datetime(2025, 5, 1, 0, 2))] == 4.0  # latest wins

    new_id = compact_tier(cat, spark, "tier_1m")
    assert new_id == 6 and cat.snapshots("tier_1m") == [6]
    after_df = read_tier_latest(cat, spark, "tier_1m")
    after = {(r["source"], r["bucket_ts"]): r["mean"]
             for r in after_df.collect()}
    assert after == before  # compaction is a pure rewrite
    assert all("snap=6" in f for f in after_df.inputFiles())  # one dir

    # old dirs survive until vacuum (in-flight reader grace), then go
    assert os.path.isdir(os.path.join(cat.root, "tier_1m", "snap=1"))
    removed = cat.vacuum("tier_1m")
    assert len(removed) == 5
    assert not os.path.isdir(os.path.join(cat.root, "tier_1m", "snap=1"))
    assert {(r["source"], r["bucket_ts"]): r["mean"]
            for r in read_tier_latest(cat, spark, "tier_1m").collect()} == before

    # idempotence: nothing left to compact
    assert compact_tier(cat, spark, "tier_1m") is None


def test_range_read_after_compact_vacuum(spark, tmp_path):
    """Regression (r03 ADVICE high): snapshots_in_range must exclude
    superseded snapshot ids like snapshots() does. Before the fix, a
    time-bounded read after compact_tier + vacuum built paths to the
    deleted snap= dirs and the parquet scan failed PATH_NOT_FOUND."""
    import datetime as dt

    from adtk_spark.plans.incremental import compact_tier, read_tier_latest

    cat = TierCatalog(str(tmp_path / "cp"))
    for epoch in range(3):
        cat.commit(spark.createDataFrame(
            [("s", dt.datetime(2025, 5, 1, 0, epoch), float(epoch))],
            "source string, bucket_ts timestamp, mean double"), "tier_1m")
    lo, hi = dt.datetime(2025, 5, 1), dt.datetime(2025, 5, 2)
    # pre-vacuum: range listing must already skip superseded ids
    compact_tier(cat, spark, "tier_1m")
    assert cat.snapshots_in_range("tier_1m", lo, hi) == [4]
    cat.vacuum("tier_1m")
    # post-vacuum: both the bare range read and the latest-wins
    # bounded read plan only against live dirs and return all rows
    ranged = cat.read_range(spark, "tier_1m", lo, hi)
    assert all("snap=4" in f for f in ranged.inputFiles())
    assert ranged.count() == 3
    latest = read_tier_latest(cat, spark, "tier_1m", lo, hi)
    assert {r["mean"] for r in latest.collect()} == {0.0, 1.0, 2.0}


def _jobs_started(spark, fn):
    """(fn(), ids of the Spark jobs fn started), counted under a fresh
    job group. The status store is fed by the listener bus in order, so
    once a later probe job is visible every job fn started is too."""
    import time
    import uuid

    sc = spark.sparkContext
    group, probe = f"reads-{uuid.uuid4()}", f"probe-{uuid.uuid4()}"
    sc.setJobGroup(group, "catalog reads")
    try:
        out = fn()
        sc.setJobGroup(probe, "listener bus probe")
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.time() + 60
    while not sc.statusTracker().getJobIdsForGroup(probe) and time.time() < deadline:
        time.sleep(0.05)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _entry(cat, table, snap):
    return next(s for s in cat._load()["tables"][table]["snapshots"] if s["id"] == snap)


@pytest.mark.parametrize("tz", ["UTC", "America/New_York"])
def test_commit_records_zone_map_rows_and_schema(spark, tmp_path, tz):
    """The manifest's ``rows`` and ``stats`` come from the write itself
    and equal a direct count/min/max of the written snapshot — for a
    plain, a ``partition_by`` and an empty commit, also in a non-UTC
    session across a DST switch. The recorded schema reads back exactly
    what schema inference sees."""
    import datetime as dt

    cat = TierCatalog(str(tmp_path / "zm"))
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", tz)
    try:
        df = spark.createDataFrame(
            [(f"s{i % 3}", dt.datetime(2025, 3, 8, 20) + dt.timedelta(minutes=37 * i),
              float(i)) for i in range(200)],
            "source string, bucket_ts timestamp, mean double")
        plain = cat.commit(df, "t")
        parted = cat.commit(df.withColumn("day", F.to_date("bucket_ts")), "t",
                            partition_by=["day"])
        empty = cat.commit(df.where(F.col("mean") < 0), "t")
        assert (plain, parted, empty) == (1, 2, 3)

        for snap in (plain, parted, empty):
            entry = _entry(cat, "t", snap)
            got = cat.read_snapshot(spark, "t", snap).agg(
                F.count(F.lit(1)).alias("n"), F.min("bucket_ts").alias("lo"),
                F.max("bucket_ts").alias("hi")).collect()[0]
            assert entry["rows"] == got["n"]
            if got["n"] == 0:
                assert "stats" not in entry
            else:
                assert entry["stats"] == {"col": "bucket_ts",
                                          "min": got["lo"].isoformat(),
                                          "max": got["hi"].isoformat()}
        assert _entry(cat, "t", plain)["rows"] == 200

        # partition columns are discovered from the paths, not recorded
        assert "day" not in cat.schema("t", parted).fieldNames()
        for snap in (plain, parted):
            path = str(tmp_path / "zm" / "t" / f"snap={snap}")
            inferred = spark.read.option("basePath", str(tmp_path / "zm" / "t")) \
                .parquet(path)
            recorded = cat.read_snapshot(spark, "t", snap)
            assert recorded.schema == inferred.schema
            assert sorted(recorded.collect()) == sorted(inferred.collect())
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_catalog_reads_start_no_job(spark, tmp_path):
    """With schemas recorded in the manifest, building a read over a
    multi-snapshot table starts no Spark job (no schema inference); the
    first job is the caller's action. Snapshots whose written schemas
    differ only in nullability record the same (nullable) schema."""
    import datetime as dt

    cat = TierCatalog(str(tmp_path / "nj"))
    for day in (1, 2, 3):
        cat.commit(spark.createDataFrame(
            [(f"s{h % 2}", dt.datetime(2025, 6, day, h), float(h)) for h in range(6)],
            f"source string {'NOT NULL' if day == 1 else ''}, bucket_ts timestamp,"
            " mean double"), "tier_1h")
    assert cat.schema("tier_1h", 1) == cat.schema("tier_1h", 3)
    lo, hi = dt.datetime(2025, 6, 2), dt.datetime(2025, 6, 3)
    dfs, jobs = _jobs_started(spark, lambda: [
        cat.read(spark, "tier_1h"),
        cat.read_since(spark, "tier_1h", 1),
        cat.read_snapshot(spark, "tier_1h", 2),
        cat.read_range(spark, "tier_1h", lo, hi),
        read_tier_latest(cat, spark, "tier_1h"),
        read_tier_latest(cat, spark, "tier_1h", lo, hi),
    ])
    assert jobs == []
    assert [d.count() for d in dfs] == [18, 12, 6, 6, 18, 6]


def test_mixed_schema_read_falls_back_to_inference(spark, tmp_path):
    """A tier_1m holding a batch snapshot (with ``vq``) and a streamed
    one (no ``vq``), as ``rollup_job --stream-ingest`` leaves it: the
    snapshots record different schemas, so reads keep Spark's schema
    inference and return the columns and rows inference always gave."""
    import datetime as dt

    from adtk_spark.plans.tiers import rollup_raw

    def series(day):
        return spark.createDataFrame(
            [(f"s{i % 2}", dt.datetime(2025, 7, day, 0, i % 5), float(i))
             for i in range(20)],
            "source string, ts timestamp, value double")

    cat = TierCatalog(str(tmp_path / "mx"))
    cat.commit(rollup_raw(series(1), "1m"), "tier_1m")
    streamed = rollup_raw(series(2), "1m").select(
        "source", "bucket_ts", "cnt", "vmin", "vmax", "vsum", "mean")
    cat.commit(streamed, "tier_1m")
    assert "vq" in cat.schema("tier_1m", 1).fieldNames()
    assert "vq" not in cat.schema("tier_1m", 2).fieldNames()

    df, jobs = _jobs_started(spark, lambda: cat.read(spark, "tier_1m"))
    assert jobs  # the inference job
    assert df.columns == ["source", "bucket_ts", "cnt", "vmin", "vmax", "vsum",
                          "vq", "mean", "snap"]
    rows = {(r["snap"], r["source"], r["bucket_ts"]): (r["cnt"], r["vq"])
            for r in df.collect()}
    assert len(rows) == 20
    assert all(vq is not None for (snap, _, _), (_, vq) in rows.items() if snap == 1)
    assert all(vq is None for (snap, _, _), (_, vq) in rows.items() if snap == 2)
    assert sum(cnt for cnt, _ in rows.values()) == 40


def test_lineage_rows_summarize_each_read_partition(spark, tmp_path):
    """``commit_with_lineage`` records one row per partition of the
    committed snapshot's read: its row count, bucket_ts range and
    distinct sources, exactly as a direct groupBy over that read."""
    import datetime as dt

    from adtk_spark.plans.lineage import commit_with_lineage

    cat = TierCatalog(str(tmp_path / "ln"))
    df = spark.createDataFrame(
        [(f"s{i % (1 + i % 4)}", dt.datetime(2025, 8, 1) + dt.timedelta(minutes=i),
          float(i)) for i in range(400)],
        "source string, bucket_ts timestamp, mean double").repartition(4)
    snap = commit_with_lineage(cat, spark, df, "tier_1m")

    lin = cat.read(spark, "_lineage")
    assert lin.columns == ["table", "snapshot_id", "partition_id", "n_rows", "min_ts",
                           "max_ts", "n_sources", "recorded_at", "snap"]
    got = {tuple(r) for r in lin.drop("recorded_at", "snap").collect()}
    want = {("tier_1m", snap) + tuple(r) for r in
            cat.read_snapshot(spark, "tier_1m", snap)
            .groupBy(F.spark_partition_id().alias("p"))
            .agg(F.count(F.lit(1)), F.min("bucket_ts"), F.max("bucket_ts"),
                 F.countDistinct("source")).collect()}
    assert got == want and len(got) > 1
    assert dict(lin.dtypes)["n_sources"] == "bigint"


def test_refresh_flavor_guards_read_the_manifest_schema(spark, tmp_path):
    """refresh_tiers refuses to mix sketch and sketchless tier
    snapshots. It reads the newest tier_1m schema from the manifest, and
    opens that snapshot instead on a catalog committed before schemas
    were recorded."""
    import json
    import os

    def raw(seed):
        return token_corpus(spark, 300, n_sources=2, seed=seed, span_secs=3600)

    def forget_schemas(cat):
        path = os.path.join(cat.root, "_snapshots.json")
        with open(path) as f:
            m = json.load(f)
        for t in m["tables"].values():
            for s in t["snapshots"]:
                s.pop("schema", None)
        with open(path, "w") as f:
            json.dump(m, f)

    for sketch, match in ((False, "have no vdigest column"),
                          (True, "carry a vdigest column")):
        cat = TierCatalog(str(tmp_path / f"fg{sketch}"))
        cat.commit(raw(1), "raw")
        refresh_tiers(cat, spark, sketch=sketch)
        cat.commit(raw(2), "raw")
        with pytest.raises(ValueError, match=match):
            refresh_tiers(cat, spark, sketch=not sketch)
        forget_schemas(cat)
        assert cat.schema("tier_1m", 1) is None
        with pytest.raises(ValueError, match=match):
            refresh_tiers(cat, spark, sketch=not sketch)
        assert refresh_tiers(cat, spark, sketch=sketch)["processed"] == 1
