"""S9d per-app sink erasure + the app-keyed retention pass.

The claims under test: erasure rewrites ONLY the partitions that hold
victim rows (everything else byte-identical on disk), all-victim
partitions are really deleted (the dynamic-overwrite silent-miss class),
the verification probe closes the loop, and one app frame fans to both
halves of the fact-table lineage (S9 sink + S17 rollup) with the
maintenance slot materializing the rollup's tombstones afterwards.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_history_server_rs_spark.operators import catalog
from spark_history_server_rs_spark.sources import metrics_rollup as mr
from spark_history_server_rs_spark.sources.event_logs import (
    _sink_partitions,
    erase_apps_from_sink,
    write_events_sink,
)
from spark_history_server_rs_spark.sources.generic import load_events
from spark_history_server_rs_spark.sources.maintenance import (
    run_app_retention,
    run_maintenance_slot,
)

SF_SMALL = "/root/testdata/sf0.001"
VICTIM = "3"


def _build_sink(spark, tmp_path):
    """A sink where the victim app owns ONE partition outright (its
    earliest date lands in a dedicated source file → after erasure that
    partition must be DELETED, not rewritten) and shares the rest."""
    ev = load_events(spark, SF_SMALL)
    min_date = ev.filter(F.col("app_id") == VICTIM).agg(
        F.min("event_date")
    ).collect()[0][0]
    ev = ev.withColumn(
        "src_file",
        F.when(
            (F.col("app_id") == VICTIM) & (F.col("event_date") == F.lit(min_date)),
            F.lit("victim_only_file"),
        ).otherwise(F.concat(F.lit("f"), F.pmod(F.col("id"), F.lit(2)).cast("string"))),
    )
    sink = str(tmp_path / "sink")
    write_events_sink(ev, sink)
    return ev, sink, min_date


def _sink_dirs(spark, sink):
    """(event_date, ingest_src) → partition directory, from the sink's
    one listing."""
    return {k: d for k, (d, _, _) in _sink_partitions(spark, sink).items()}


def _fs_listing(spark, path):
    """(file path, length, mtime) tuples under a directory — the
    byte-identity witness for untouched partitions."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    out = []
    it = fs.listFiles(p, True)
    while it.hasNext():
        st = it.next()
        out.append(
            (st.getPath().toString(), st.getLen(), st.getModificationTime())
        )
    return sorted(out)


def test_erase_apps_partition_pruned_with_all_victim_partition(
    spark, tmp_path
):
    ev, sink, min_date = _build_sink(spark, tmp_path)
    df = spark.read.parquet(sink)
    n_total = df.count()
    n_victim = df.filter(F.col("app_id") == VICTIM).count()
    assert n_victim > 0

    # affected = partitions holding victim rows; every other partition
    # must come through byte-identical (same files, sizes, mtimes)
    affected = {
        (r.event_date, r.ingest_src)
        for r in df.filter(F.col("app_id") == VICTIM)
        .select(F.col("event_date").cast("string").alias("event_date"), "ingest_src")
        .distinct()
        .collect()
    }
    dirs_before = _sink_dirs(spark, sink)
    untouched_listing = {
        k: _fs_listing(spark, d)
        for k, d in dirs_before.items()
        if k not in affected
    }
    assert untouched_listing  # non-vacuous: some partitions are clean

    victims = spark.createDataFrame([(VICTIM,)], "app_id string")
    stats = erase_apps_from_sink(spark, sink, victims)

    assert stats["n_rows_erased"] == n_victim
    assert stats["partitions_deleted"] >= 1  # the victim-only partition
    assert (
        stats["partitions_rewritten"] + stats["partitions_deleted"]
        == len(affected)
    )

    after = spark.read.parquet(sink)
    assert after.filter(F.col("app_id") == VICTIM).count() == 0
    assert after.count() == n_total - n_victim
    # the all-victim partition directory is GONE (dynamic overwrite
    # alone would have left it serving the erased app)
    dirs_after = _sink_dirs(spark, sink)
    victim_key_gone = [
        k for k in affected if k not in dirs_after and k in dirs_before
    ]
    assert len(victim_key_gone) == stats["partitions_deleted"]
    # untouched partitions: byte-identical, not merely value-equal
    for k, listing in untouched_listing.items():
        assert _fs_listing(spark, dirs_before[k]) == listing, k

    # idempotent retry: nothing left to erase, nothing touched
    again = erase_apps_from_sink(spark, sink, victims)
    assert again == {
        "n_rows_erased": 0,
        "partitions_rewritten": 0,
        "partitions_deleted": 0,
    }


def test_erase_apps_survivor_rows_intact(spark, tmp_path):
    """Erasure must not bend surviving rows: the post-erasure sink
    equals the pre-erasure sink minus the victim's rows, row-for-row
    (id-keyed set equality, all columns)."""
    ev, sink, _ = _build_sink(spark, tmp_path)
    before = {
        r["id"]: r
        for r in spark.read.parquet(sink)
        .filter(F.col("app_id") != VICTIM)
        .collect()
    }
    erase_apps_from_sink(
        spark, sink, spark.createDataFrame([(VICTIM,)], "app_id string")
    )
    after = {r["id"]: r for r in spark.read.parquet(sink).collect()}
    assert after == before


def test_erase_apps_chunked_beyond_clause_cap(spark, tmp_path, monkeypatch):
    """VERDICT r13 #4: a wide erasure (more affected partitions than
    the OR-disjunction cap) proceeds in clause-capped chunks with the
    SAME contract — victims fully gone, survivors row-identical,
    untouched partitions byte-identical, retry a no-op. Cap patched to
    3 so the standard corpus spans many chunks."""
    from spark_history_server_rs_spark.sources import event_logs as el

    assert el._ERASE_CLAUSE_CAP == 256  # the production cap
    monkeypatch.setattr(el, "_ERASE_CLAUSE_CAP", 3)

    ev, sink, _ = _build_sink(spark, tmp_path)
    df = spark.read.parquet(sink)
    n_total = df.count()
    n_victim = df.filter(F.col("app_id") == VICTIM).count()
    affected = {
        (r.event_date, r.ingest_src)
        for r in df.filter(F.col("app_id") == VICTIM)
        .select(
            F.col("event_date").cast("string").alias("event_date"),
            "ingest_src",
        )
        .distinct()
        .collect()
    }
    assert len(affected) > 3  # the cap genuinely chunks this erasure
    dirs_before = _sink_dirs(spark, sink)
    untouched_listing = {
        k: _fs_listing(spark, d)
        for k, d in dirs_before.items()
        if k not in affected
    }
    survivors_before = {
        r["id"]: r
        for r in df.filter(F.col("app_id") != VICTIM).collect()
    }

    victims = spark.createDataFrame([(VICTIM,)], "app_id string")
    stats = erase_apps_from_sink(spark, sink, victims)
    assert stats["n_rows_erased"] == n_victim
    assert (
        stats["partitions_rewritten"] + stats["partitions_deleted"]
        == len(affected)
    )
    after = spark.read.parquet(sink)
    assert after.filter(F.col("app_id") == VICTIM).count() == 0
    assert after.count() == n_total - n_victim
    assert {r["id"]: r for r in after.collect()} == survivors_before
    for k, listing in untouched_listing.items():
        assert _fs_listing(spark, dirs_before[k]) == listing, k
    assert erase_apps_from_sink(spark, sink, victims) == {
        "n_rows_erased": 0,
        "partitions_rewritten": 0,
        "partitions_deleted": 0,
    }


def test_run_app_retention_fans_sink_and_rollup(spark, tmp_path):
    """One app frame forgets the app in BOTH fact-table artifacts; the
    maintenance slot then materializes the rollup's tombstones and
    leaves attested, validated state."""
    ev, sink, _ = _build_sink(spark, tmp_path)
    rpath = str(tmp_path / "rollup")
    mr.write_metrics_rollup(load_events(spark, SF_SMALL), rpath)

    out = run_app_retention(
        spark,
        spark.createDataFrame([(VICTIM,)], "app_id string"),
        events_sink_dir=sink,
        metrics_rollup_path=rpath,
    )
    assert out["n_apps"] == 1
    assert out["events_sink"]["n_rows_erased"] > 0
    assert out["metrics_rollup_deleted"] == 1

    # both halves forgot the app, consistently
    assert (
        spark.read.parquet(sink).filter(F.col("app_id") == VICTIM).count()
        == 0
    )
    survivors = load_events(spark, SF_SMALL).filter(
        F.col("app_id") != VICTIM
    )
    assert [tuple(r) for r in catalog.performance_trends(survivors).collect()] == [
        tuple(r) for r in mr.performance_trends_from_rollup(spark, rpath).collect()
    ]

    # retry of the whole pass BEFORE the slot: zeros everywhere (the
    # sink has nothing to erase, the tombstone already exists)
    again = run_app_retention(
        spark,
        spark.createDataFrame([(VICTIM,)], "app_id string"),
        events_sink_dir=sink,
        metrics_rollup_path=rpath,
    )
    assert again["events_sink"]["n_rows_erased"] == 0
    assert again["metrics_rollup_deleted"] == 0

    # the slot compacts the rollup: tombstoned cells physically gone,
    # tombstones retired, manifest green — and serving is unchanged
    report = run_maintenance_slot(spark, metrics_rollup_path=rpath)
    [entry] = report
    assert entry["artifact"] == "metrics_rollup" and entry["valid"]
    p = spark.read.parquet(f"{rpath}/partials")
    assert p.filter(F.col("app_id") == VICTIM).count() == 0
    assert spark.read.parquet(f"{rpath}/deleted_apps").count() == 0
    assert [
        tuple(r) for r in catalog.performance_trends(survivors).collect()
    ] == [
        tuple(r)
        for r in mr.performance_trends_from_rollup(spark, rpath).collect()
    ]


def test_run_app_ttl_retention_composition(spark, tmp_path):
    """The predicate-driven arc (VERDICT r12 #4): derive the aged app
    set from the ROLLUP (max event_date < cutoff — a cells-sized
    groupBy, no fact scan), fan it to sink + rollup erasure in one
    call, and re-derive nothing on retry (idempotent zeros)."""
    from spark_history_server_rs_spark.sources.maintenance import (
        aged_app_ids,
        run_app_ttl_retention,
    )

    ev, sink, _ = _build_sink(spark, tmp_path)
    rpath = str(tmp_path / "ttl_rollup")
    full = load_events(spark, SF_SMALL)
    mr.write_metrics_rollup(full, rpath)

    # pick a cutoff that ages out SOME apps but not all: the median
    # app's last event day
    last_days = (
        full.groupBy("app_id")
        .agg(F.date_format(F.max("event_date"), "yyyy-MM-dd").alias("d"))
        .collect()
    )
    days = sorted(r["d"] for r in last_days)
    cutoff = days[len(days) // 2]
    expected = sorted(r["app_id"] for r in last_days if r["d"] < cutoff)
    assert 0 < len(expected) < len(days)

    derived = sorted(
        r["app_id"] for r in aged_app_ids(spark, rpath, cutoff).collect()
    )
    assert derived == expected

    out = run_app_ttl_retention(
        spark, rpath, cutoff, events_sink_dir=sink
    )
    assert out["n_apps"] == len(expected)
    assert out["events_sink"]["n_rows_erased"] > 0

    # both halves forgot exactly the aged apps
    remaining_sink = {
        r["app_id"]
        for r in spark.read.parquet(sink).select("app_id").distinct().collect()
    }
    assert remaining_sink == set(days_keep := [
        r["app_id"] for r in last_days if r["d"] >= cutoff
    ])
    survivors = full.filter(~F.col("app_id").isin(expected))
    assert [
        tuple(r) for r in catalog.performance_trends(survivors).collect()
    ] == [
        tuple(r)
        for r in mr.performance_trends_from_rollup(spark, rpath).collect()
    ]
    # erase intent is the default here: cells physically gone,
    # tombstones retired in the same call
    p = spark.read.parquet(f"{rpath}/partials")
    assert p.filter(F.col("app_id").isin(expected)).count() == 0
    assert spark.read.parquet(f"{rpath}/deleted_apps").count() == 0

    # idempotent retry: the aged set re-derives EMPTY from the erased
    # rollup — zeros everywhere, nothing touched
    again = run_app_ttl_retention(
        spark, rpath, cutoff, events_sink_dir=sink
    )
    assert again["n_apps"] == 0
    assert again["events_sink"]["n_rows_erased"] == 0
    assert again["metrics_rollup_deleted"] == 0
