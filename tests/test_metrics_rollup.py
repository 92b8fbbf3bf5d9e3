"""S17 metrics rollup — lifecycle + exactness suite.

The load-bearing claim: every rollup-served twin is BIT-IDENTICAL to its
raw-scan catalog sibling (two-level algebraic re-aggregation of partial
states, exact because the generic binding pins every metric to an
integer-valued double — the A9 two-level-rewrite argument). The oracle
differential in test_oracle_parity.py re-proves it against DuckDB per
session; here we pin the lifecycle: durable round-trip, streaming
maintenance (incl. at-least-once retries and restarts onto a batch
build), tombstone deletion/revive, compaction, crash orderings, and the
plans (no raw-event scan when serving, day partition pruning).
"""

from __future__ import annotations

import glob
import shutil

import pytest
from pyspark.sql import functions as F

from spark_history_server_rs_spark.operators import catalog
from spark_history_server_rs_spark.plans import inspect as I
from spark_history_server_rs_spark.sources import metrics_rollup as mr
from spark_history_server_rs_spark.sources.generic import (
    load_events,
    normalize_events,
)

SF_SMALL = "/root/testdata/sf0.001"

# the 15 serve≡scan twins, single-sourced from the module (r14): each
# name resolves to catalog.<name> (raw) and mr.<name>_from_rollup /
# mr.<name>_rollup (served)
RAW_TWINS = {name: getattr(catalog, name) for name in mr.ROLLUP_TWINS}


def _rows(df):
    return [tuple(r) for r in df.collect()]


# --------------------------------------------------------------------------
# exactness: partials → twins ≡ raw scans
# --------------------------------------------------------------------------
@pytest.mark.parametrize("name", sorted(RAW_TWINS))
def test_from_partials_bit_identical(spark, name):
    ev = load_events(spark, SF_SMALL)
    raw = _rows(RAW_TWINS[name](ev))
    served = _rows(getattr(mr, f"{name}_rollup")(ev))
    assert raw == served
    assert raw  # non-vacuous


def test_registered_rollup_twins_schema(spark):
    """Registered *_rollup queries carry exactly the raw twins' column
    names and types (the driver compare sorts columns by name before
    hashing). Nullability legitimately differs — COUNT(*) is
    non-nullable while the re-aggregated SUM of counts is nullable in
    the type system (never in the data: every served group merges ≥1
    partial cell) — so the pin is on (name, dataType)."""
    ev = load_events(spark, SF_SMALL)
    for name, raw_fn in RAW_TWINS.items():
        rollup_fn = getattr(mr, f"{name}_rollup")
        assert [(f.name, f.dataType) for f in rollup_fn(ev).schema] == [
            (f.name, f.dataType) for f in raw_fn(ev).schema
        ]


# --------------------------------------------------------------------------
# durable round-trip + plans
# --------------------------------------------------------------------------
def test_rollup_disk_roundtrip_and_plans(spark, tmp_path):
    ev = load_events(spark, SF_SMALL)
    path = str(tmp_path / "rollup")
    mr.write_metrics_rollup(ev, path)
    mr.refresh_rollup_manifest(spark, path)

    for name, raw_fn in RAW_TWINS.items():
        served = getattr(mr, f"{name}_from_rollup")(spark, path)
        assert _rows(raw_fn(ev)) == _rows(served)
        # the serving plan must read ONLY the rollup relation — the
        # entire point of S17 is that no raw-event scan survives. Warm
        # serves ride the fingerprint-keyed materialized cache, so the
        # input shows as an InMemoryTableScan of the partials build
        plan = I.explain_str(served, "formatted")
        assert "events.parquet" not in plan
        assert "partials" in plan or "InMemoryTableScan" in plan

    # day filters prune partitions: the partial relation is partitioned
    # by event_date, so a dashboard's time window reads only its days.
    # Clear the materialized cache first — Spark substitutes the cached
    # serving relation into the matching subplan, which would hide the
    # parquet-level PartitionFilters this gate pins
    from spark_history_server_rs_spark.operators.dedup import (
        clear_materialized_caches,
    )

    clear_materialized_caches()
    one_day = mr.read_rollup_partials(spark, path).filter(
        F.col("event_date") == "2024-01-05"
    )
    plan = I.explain_str(one_day, "formatted")
    assert "PartitionFilters" in plan and "event_date" in plan

    # batch-built rows carry the build marker; the cell count is
    # pre-served (one row, no scans on the status path)
    p = spark.read.parquet(f"{path}/partials")
    assert p.select("ingest_batch").distinct().collect()[0][0] == -1
    n_cells = spark.read.parquet(f"{path}/counts").collect()[0]["n_cells"]
    assert n_cells == p.select(*mr.GRAIN).distinct().count()

    # manifest attests both relations (deleted_apps not yet created)
    bad = mr.validate_metrics_rollup(spark, path).filter(
        "NOT content_ok OR actual_rows IS NULL OR manifest_rows IS NULL"
    )
    assert bad.count() == 0


def test_rollup_partials_single_exchange(spark):
    """The INDEX-phase aggregation is one map-side-combined shuffle:
    partial + final HashAggregate around a single key Exchange — the
    plan that scales (combine before shuffle, cells not rows move)."""
    from spark_history_server_rs_spark.operators.dedup import (
        clear_materialized_caches,
    )

    # an earlier test's session-cached partials would otherwise replace
    # this plan's aggregate with an InMemoryTableScan
    clear_materialized_caches()
    ev = load_events(spark, SF_SMALL)
    plan = I.explain_str(mr.rollup_partials(ev), "simple")
    assert plan.count("Exchange") == 1
    assert plan.count("HashAggregate") == 2


# --------------------------------------------------------------------------
# streaming maintenance
# --------------------------------------------------------------------------
def _stream_dir_from(spark, tmp_path, halves=2):
    """Split the sf0.001 raw events into N parquet files in a flat dir
    (one file per micro-batch under maxFilesPerTrigger=1)."""
    raw = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    src = tmp_path / "ev_stream_src"
    src.mkdir(parents=True, exist_ok=True)
    for i in range(halves):
        part_dir = tmp_path / f"_half{i}"
        raw.filter(F.col("event_id") % halves == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(part_dir))
        [f] = glob.glob(str(part_dir / "part-*.parquet"))
        shutil.copy(f, src / f"batch_{i}.parquet")
    return src


def _events_stream(spark, src):
    raw = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, "
            "event_type string, value double, props string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    return normalize_events(raw)


def test_stream_rollup_maintenance(spark, tmp_path):
    """Blind per-batch partial appends across micro-batches serve the
    same answers as a batch build over everything — and the stale-count
    invariant holds (counts/ dies before the first append and is NOT
    maintained per batch)."""
    src = _stream_dir_from(spark, tmp_path)
    path = str(tmp_path / "stream_rollup")
    q = mr.stream_update_metrics_rollup(
        _events_stream(spark, src), path, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    ev = load_events(spark, SF_SMALL)
    for name, raw_fn in RAW_TWINS.items():
        assert _rows(raw_fn(ev)) == _rows(
            getattr(mr, f"{name}_from_rollup")(spark, path)
        )
    # two batches appended cells for overlapping (day, app, executor)
    # keys — the on-disk relation holds MORE rows than the cell count,
    # and serving merged them (that's the no-read-modify-write design)
    p = spark.read.parquet(f"{path}/partials")
    assert p.count() > p.select(*mr.GRAIN).distinct().count()
    assert sorted(
        r[0] for r in p.select("ingest_batch").distinct().collect()
    ) == [0, 1]
    # stream updater invalidates the pre-count and leaves it absent
    from spark_history_server_rs_spark.sources.index_manifest import (
        path_exists,
    )

    assert not path_exists(spark, f"{path}/counts")


def test_stream_onto_batch_build(spark, tmp_path):
    """Batch-build from the first half, stream the second half on top:
    serving equals the full-corpus raw twins (the incremental-ingest
    composition S9/S10 established, applied to the rollup)."""
    raw = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    ev_half = normalize_events(raw.filter(F.col("event_id") % 2 == 0))
    path = str(tmp_path / "mixed_rollup")
    mr.write_metrics_rollup(ev_half, path)

    src = _stream_dir_from(spark, tmp_path)
    # stream only the second half's file
    (src / "batch_0.parquet").unlink()
    q = mr.stream_update_metrics_rollup(
        _events_stream(spark, src), path, str(tmp_path / "ckpt2")
    )
    q.awaitTermination(120)

    ev = load_events(spark, SF_SMALL)
    assert _rows(catalog.performance_trends(ev)) == _rows(
        mr.performance_trends_from_rollup(spark, path)
    )


def test_stream_retry_idempotent_at_serve(spark, tmp_path):
    """At-least-once simulation: re-append one batch's partial rows
    verbatim (what a foreachBatch retry writes — deterministic partials
    under replayed offsets). Serving de-duplicates on
    (grain, ingest_batch), so every twin's answer is unchanged; a raw
    re-aggregation WITHOUT the key-dedup would double-count, which the
    test also asserts to keep the guard honest."""
    src = _stream_dir_from(spark, tmp_path)
    path = str(tmp_path / "retry_rollup")
    q = mr.stream_update_metrics_rollup(
        _events_stream(spark, src), path, str(tmp_path / "ckpt3")
    )
    q.awaitTermination(120)

    before = _rows(mr.gc_time_trends_from_rollup(spark, path))
    retry = spark.read.parquet(f"{path}/partials").filter(
        F.col("ingest_batch") == 0
    )
    retry.write.mode("append").partitionBy("event_date").parquet(
        f"{path}/partials"
    )
    assert _rows(mr.gc_time_trends_from_rollup(spark, path)) == before
    # the dedup is load-bearing: merging without it would double batch 0
    naive = mr.gc_time_trends_from_partials(
        spark.read.parquet(f"{path}/partials").withColumn(
            "event_date", F.col("event_date").cast("string")
        )
    )
    assert _rows(naive) != before


# --------------------------------------------------------------------------
# deletion / revive / compaction
# --------------------------------------------------------------------------
def test_delete_suppression_and_bounded_retry(spark, tmp_path):
    ev = load_events(spark, SF_SMALL)
    path = str(tmp_path / "del_rollup")
    mr.write_metrics_rollup(ev, path)

    victim = spark.createDataFrame([("3",)], "app_id string")
    assert mr.delete_from_metrics_rollup(spark, path, victim) == 1
    # retried delete appends NOTHING (bounded tombstones, ADVICE r11)
    assert mr.delete_from_metrics_rollup(spark, path, victim) == 0
    assert spark.read.parquet(f"{path}/deleted_apps").count() == 1

    ev_minus = ev.filter(F.col("app_id") != "3")
    for name, raw_fn in RAW_TWINS.items():
        assert _rows(raw_fn(ev_minus)) == _rows(
            getattr(mr, f"{name}_from_rollup")(spark, path)
        )
    # live cell count excludes the suppressed app
    n_cells = spark.read.parquet(f"{path}/counts").collect()[0]["n_cells"]
    assert n_cells == mr.read_rollup_partials(spark, path).select(
        *mr.GRAIN
    ).distinct().count()


def test_revive_on_rearrival(spark, tmp_path):
    """A tombstoned app re-arriving through the stream retires its
    tombstone (latest wins — the S13 revive shape). Not-yet-compacted
    history resurfaces with it: run compaction right after a delete
    when the intent is erasure rather than retention."""
    raw = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    ev = load_events(spark, SF_SMALL)
    path = str(tmp_path / "revive_rollup")
    mr.write_metrics_rollup(ev, path)
    mr.delete_from_metrics_rollup(
        spark, path, spark.createDataFrame([("3",)], "app_id string")
    )

    # stream a batch containing ONLY app 3's rows
    src = tmp_path / "revive_src"
    src.mkdir()
    part_dir = tmp_path / "_app3"
    raw.filter(F.col("user_id") == 3).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(part_dir))
    [f] = glob.glob(str(part_dir / "part-*.parquet"))
    shutil.copy(f, src / "batch_0.parquet")
    q = mr.stream_update_metrics_rollup(
        _events_stream(spark, src), path, str(tmp_path / "ckpt4")
    )
    q.awaitTermination(120)

    assert spark.read.parquet(f"{path}/deleted_apps").count() == 0
    # full history (batch build + streamed duplicate partials) serves;
    # the streamed cells duplicate the batch-built ones at different
    # ingest_batch, so serving MERGES them — compare against the raw
    # twin over the events union (app 3 counted twice)
    ev_doubled = ev.unionByName(
        normalize_events(raw.filter(F.col("user_id") == 3))
    )
    assert _rows(catalog.performance_trends(ev_doubled)) == _rows(
        mr.performance_trends_from_rollup(spark, path)
    )


def test_compaction_folds_and_erases(spark, tmp_path):
    """Compaction: one row per grain cell (ingest_batch=-1), suppressed
    cells physically gone, tombstones retired to an empty attestable
    set, manifest refreshed, serving unchanged."""
    src = _stream_dir_from(spark, tmp_path)
    path = str(tmp_path / "compact_rollup")
    q = mr.stream_update_metrics_rollup(
        _events_stream(spark, src), path, str(tmp_path / "ckpt5")
    )
    q.awaitTermination(120)
    mr.delete_from_metrics_rollup(
        spark, path, spark.createDataFrame([("3",)], "app_id string")
    )
    before = {
        name: _rows(getattr(mr, f"{name}_from_rollup")(spark, path))
        for name in RAW_TWINS
    }

    stats = mr.compact_metrics_rollup(spark, path)
    by_rel = {s["relation"]: s["rows_after"] for s in stats}
    assert by_rel["deleted_apps"] == 0  # tombstones retired

    p = spark.read.parquet(f"{path}/partials")
    assert p.count() == by_rel["partials"]
    assert p.count() == p.select(*mr.GRAIN).distinct().count()  # folded
    assert p.select("ingest_batch").distinct().collect()[0][0] == -1
    assert p.filter(F.col("app_id") == "3").count() == 0  # erased

    for name in RAW_TWINS:
        assert before[name] == _rows(
            getattr(mr, f"{name}_from_rollup")(spark, path)
        )
    bad = mr.validate_metrics_rollup(spark, path).filter(
        "NOT content_ok OR actual_rows IS NULL OR manifest_rows IS NULL"
    )
    assert bad.count() == 0

    # post-compaction revive starts from zero for the erased app: its
    # cells are gone, so the GDPR intent (delete + compact) holds even
    # if the app later re-arrives
    assert (
        mr.read_rollup_partials(spark, path)
        .filter(F.col("app_id") == "3").count() == 0
    )


# --------------------------------------------------------------------------
# crash orderings
# --------------------------------------------------------------------------
def test_rebuild_retires_tombstones_last(spark, tmp_path, monkeypatch):
    """A crash mid-rebuild must never resurrect a deleted app: the
    builder overwrites partials FIRST and retires tombstones LAST, so
    every crash window still serves with suppression applied (the
    ADVICE-r11 ordering, S17 edition)."""
    ev = load_events(spark, SF_SMALL)
    path = str(tmp_path / "crash_rollup")
    mr.write_metrics_rollup(ev, path)
    mr.delete_from_metrics_rollup(
        spark, path, spark.createDataFrame([("3",)], "app_id string")
    )

    calls = {"n": 0}

    def boom(*a, **k):
        calls["n"] += 1
        raise RuntimeError("crash before tombstone retirement")

    import spark_history_server_rs_spark.sources.dedup_index as di

    monkeypatch.setattr(di, "compact_relation_swap", boom)
    with pytest.raises(RuntimeError):
        mr.write_metrics_rollup(ev, path)
    assert calls["n"] == 1
    monkeypatch.undo()

    # the crash window: fresh partials on disk, tombstones still live —
    # app 3 stays suppressed (never resurrected); counts/ absent (died
    # first), so reads fall back to counting
    from spark_history_server_rs_spark.sources.index_manifest import (
        path_exists,
    )

    assert not path_exists(spark, f"{path}/counts")
    assert (
        mr.read_rollup_partials(spark, path)
        .filter(F.col("app_id") == "3").count() == 0
    )
    # the idempotent re-run clears the residual window
    mr.write_metrics_rollup(ev, path)
    assert spark.read.parquet(f"{path}/deleted_apps").count() == 0
    assert _rows(catalog.memory_usage(ev)) == _rows(
        mr.memory_usage_from_rollup(spark, path)
    )


def test_percentiles_not_servable_documented():
    """Guard the scope line: ROLLUP_TWINS holds only the oracle-shared
    algebraic twins — the EXACT percentile op is holistic and must not
    grow a silent partial-served variant. Its scale path is the r14
    DDSketch relation (``task_duration_percentiles_from_rollup``,
    ``DURATION_SKETCH``), which is deliberately OUTSIDE ROLLUP_TWINS:
    sketch estimates are algorithm-specific, so it is tolerance-pinned
    against the exact op instead of sharing a DuckDB oracle (the
    HLL-sibling contract). Every twin has both served forms, and its
    served default ``limit`` is the raw twin's."""
    import inspect

    assert "task_duration_percentiles" not in mr.ROLLUP_TWINS
    assert mr.DURATION_SKETCH not in mr.ROLLUP_TWINS.values()
    assert callable(mr.task_duration_percentiles_from_rollup)
    for name, twin in mr.ROLLUP_TWINS.items():
        assert callable(getattr(mr, f"{name}_from_rollup"))
        assert callable(getattr(mr, f"{name}_rollup"))
        raw = inspect.signature(RAW_TWINS[name]).parameters.get("limit")
        assert twin.limit == (None if raw is None else raw.default), name


# --------------------------------------------------------------------------
# replay-after-compaction (the ADVICE-r12 exactly-once closure)
# --------------------------------------------------------------------------
def test_replay_after_compaction_skipped_by_watermark(spark, tmp_path):
    """The hole the folded-batch high-watermark closes: a batch lands,
    the checkpoint commit is lost, compaction folds the rows into
    ingest_batch=-1, the restarted stream replays the batch — without
    the watermark the replay re-appends rows the serve-time
    (grain, lineage, batch) dedup can no longer recognize and every
    answer double-counts. Simulated the honest way (ADVICE r13): the
    SAME checkpoint with its last commit file deleted — offsets intact,
    commit lost — which is exactly what a crash between the batch's
    writes and the commit leaves behind; the restart replays batch 1
    with the same id in the same lineage."""
    src = _stream_dir_from(spark, tmp_path)
    path = str(tmp_path / "hwm_rollup")
    ckpt = str(tmp_path / "ckpt_a")
    q = mr.stream_update_metrics_rollup(_events_stream(spark, src), path, ckpt)
    q.awaitTermination(120)
    lin = mr._checkpoint_lineage(spark, ckpt)
    mr.compact_metrics_rollup(spark, path)
    assert mr._read_folded_hwm(spark, path) == {
        (rel, lin): 1 for rel in mr._RELATIONS
    }

    # the crash shape: batch 1's commit never landed (drop the local
    # FS's checksum sidecar too, or the re-commit's rename collides)
    (tmp_path / "ckpt_a" / "commits" / "1").unlink()
    crc = tmp_path / "ckpt_a" / "commits" / ".1.crc"
    if crc.exists():
        crc.unlink()
    q = mr.stream_update_metrics_rollup(_events_stream(spark, src), path, ckpt)
    q.awaitTermination(120)

    p = spark.read.parquet(f"{path}/partials")
    assert sorted(
        r[0] for r in p.select("ingest_batch").distinct().collect()
    ) == [-1]  # nothing re-appended
    ev = load_events(spark, SF_SMALL)
    for name in ("performance_trends", "cross_app_summary"):
        assert _rows(RAW_TWINS[name](ev)) == _rows(
            getattr(mr, f"{name}_from_rollup")(spark, path)
        )


def test_fresh_lineage_over_streamed_rollup_refused(spark, tmp_path):
    """The ADVICE-r13 medium finding, pinned: batch ids are only stable
    within one checkpoint, so a FRESH checkpoint over a rollup that
    already holds another stream's folded batches must fail LOUDLY —
    under the r13 lineage-blind skip, files the fresh run packed into
    batch ids at-or-below the watermark were silently dropped
    (permanent loss, no error)."""
    src = _stream_dir_from(spark, tmp_path)
    path = str(tmp_path / "lineage_rollup")
    q = mr.stream_update_metrics_rollup(
        _events_stream(spark, src), path, str(tmp_path / "ckpt_l1")
    )
    q.awaitTermination(120)
    mr.compact_metrics_rollup(spark, path)

    # the source gains a file the original run never saw; a fresh
    # checkpoint packs ALL THREE files into new batch ids starting at 0
    raw = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    extra_dir = tmp_path / "_third"
    raw.filter(F.col("event_id") % 7 == 0).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(extra_dir))
    [f] = glob.glob(str(extra_dir / "part-*.parquet"))
    shutil.copy(f, src / "batch_2.parquet")

    from pyspark.errors import StreamingQueryException

    q = mr.stream_update_metrics_rollup(
        _events_stream(spark, src), path, str(tmp_path / "ckpt_l2")
    )
    with pytest.raises(StreamingQueryException, match="lineage"):
        q.awaitTermination(120)

    # the correct recovery the error message names: resume the ORIGINAL
    # checkpoint — batch 2 delivers exactly the new file, nothing is
    # dropped and nothing double-counts
    q = mr.stream_update_metrics_rollup(
        _events_stream(spark, src), path, str(tmp_path / "ckpt_l1")
    )
    q.awaitTermination(120)
    ev_expected = normalize_events(
        raw.unionByName(raw.filter(F.col("event_id") % 7 == 0))
    )
    assert _rows(catalog.performance_trends(ev_expected)) == _rows(
        mr.performance_trends_from_rollup(spark, path)
    )


def test_accept_new_lineage_disjoint_sources_no_collapse(spark, tmp_path):
    """The opt-in path (disjoint incremental sources) — and the
    cross-lineage dedup fix it rides on: lineage A's batch 0 and
    lineage B's batch 0 share grain cells, so the r13 lineage-blind
    (grain, batch) key would collapse one of them at serve time; the
    (grain, lineage, batch) key keeps both."""
    raw = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    src_a = _stream_dir_from(spark, tmp_path, halves=2)
    # lineage A ingests only the even half (remove the odd file)
    (src_a / "batch_1.parquet").unlink()
    path = str(tmp_path / "disjoint_rollup")
    q = mr.stream_update_metrics_rollup(
        _events_stream(spark, src_a), path, str(tmp_path / "ckpt_da")
    )
    q.awaitTermination(120)

    # lineage B: a DISJOINT source (the odd half) from a fresh
    # checkpoint — its batch 0 collides with A's batch 0 on grain cells
    src_b = tmp_path / "src_b"
    src_b.mkdir()
    part_dir = tmp_path / "_oddhalf"
    raw.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(part_dir))
    [f] = glob.glob(str(part_dir / "part-*.parquet"))
    shutil.copy(f, src_b / "batch_0.parquet")

    import warnings as _w

    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        q = mr.stream_update_metrics_rollup(
            _events_stream(spark, src_b), path, str(tmp_path / "ckpt_db"),
            accept_new_lineage=True,
        )
        q.awaitTermination(120)
    assert any("double-count" in str(w.message) for w in caught)

    # both lineages' batch-0 rows serve — the union corpus, exactly
    ev = load_events(spark, SF_SMALL)
    for name in ("performance_trends", "cross_app_summary"):
        assert _rows(RAW_TWINS[name](ev)) == _rows(
            getattr(mr, f"{name}_from_rollup")(spark, path)
        )
    p = spark.read.parquet(f"{path}/partials")
    assert p.select("ingest_lineage").distinct().count() == 2


def test_pre_r14_layout_fails_loud(spark, tmp_path):
    """ADVICE r13 #3: a stale on-disk layout must raise a CLEAR error
    naming the remediation, not an opaque missing-column
    AnalysisException deep inside dropDuplicates/merge."""
    ev = load_events(spark, SF_SMALL)
    path = str(tmp_path / "legacy_rollup")
    mr.write_metrics_rollup(ev, path)
    # simulate a pre-r14 relation: strip the lineage column on disk
    legacy = spark.read.parquet(f"{path}/partials").drop("ingest_lineage")
    legacy.write.mode("overwrite").partitionBy("event_date").parquet(
        f"{path}/partials_v2"
    )
    shutil.rmtree(tmp_path / "legacy_rollup" / "partials")
    shutil.move(
        str(tmp_path / "legacy_rollup" / "partials_v2"),
        str(tmp_path / "legacy_rollup" / "partials"),
    )
    with pytest.raises(ValueError, match="pre-r14"):
        mr.read_rollup_partials(spark, path).collect()
    # the legacy folded_hwm layout fails the same way
    spark.createDataFrame(
        [("partials", 1)], "relation string, folded_batch bigint"
    ).write.mode("overwrite").parquet(f"{path}/folded_hwm")
    with pytest.raises(ValueError, match="pre-r14"):
        mr._read_folded_hwm(spark, path)


def test_replay_partial_batch_appends_only_missing_relations(spark, tmp_path):
    """The watermark is PER RELATION because a crashed attempt can land
    only some relations: here batch 1's partials landed (the crash
    came after that append), compaction folded them, and the replay
    must skip partials while still appending the relations batch 1
    never wrote — a batch-global skip would lose them forever."""
    src = _stream_dir_from(spark, tmp_path)
    extra = src / "batch_1.parquet"
    held_back = tmp_path / "held_batch_1.parquet"
    shutil.move(str(extra), str(held_back))

    path = str(tmp_path / "partial_rollup")
    ckpt = str(tmp_path / "ckpt_partial")
    q = mr.stream_update_metrics_rollup(_events_stream(spark, src), path, ckpt)
    q.awaitTermination(120)

    # the crashed attempt of batch 1: partials appended, everything
    # else (exec/stage/app relations) never written, checkpoint lost
    raw = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    half1 = normalize_events(raw.filter(F.col("event_id") % 2 == 1))
    lin = mr._checkpoint_lineage(spark, ckpt)
    mr._stamp(mr.rollup_partials(half1), 1, lin).repartition(
        F.col("event_date")
    ).write.mode("append").partitionBy("event_date").parquet(
        f"{path}/partials"
    )

    mr.compact_metrics_rollup(spark, path)
    hwm = mr._read_folded_hwm(spark, path)
    assert hwm[("partials", lin)] == 1 and hwm[("app_events", lin)] == 0

    # restart delivers batch 1 (same checkpoint, file now visible)
    shutil.move(str(held_back), str(extra))
    q = mr.stream_update_metrics_rollup(_events_stream(spark, src), path, ckpt)
    q.awaitTermination(120)

    p = spark.read.parquet(f"{path}/partials")
    assert sorted(
        r[0] for r in p.select("ingest_batch").distinct().collect()
    ) == [-1]  # partials replay skipped — no double count
    a = spark.read.parquet(f"{path}/app_events")
    assert 1 in {
        r[0] for r in a.select("ingest_batch").distinct().collect()
    }  # the missing relation DID land on replay
    ev = load_events(spark, SF_SMALL)
    for name in RAW_TWINS:
        assert _rows(RAW_TWINS[name](ev)) == _rows(
            getattr(mr, f"{name}_from_rollup")(spark, path)
        )


def test_partial_replay_does_not_retire_tombstones(spark, tmp_path):
    """ADVICE r13 #2: a PARTIALLY-folded replay (some relations
    hwm-skipped, others appending the relations the crashed attempt
    never wrote) is late re-delivery of pre-crash rows, NOT new data —
    it must not retire a tombstone laid after the original attempt.
    Under r13, the revive probe ran for this traffic and resurrected
    the suppressed app's not-yet-compacted history."""
    src = _stream_dir_from(spark, tmp_path)
    extra = src / "batch_1.parquet"
    held_back = tmp_path / "held_b1.parquet"
    shutil.move(str(extra), str(held_back))

    path = str(tmp_path / "ghost_rollup")
    ckpt = str(tmp_path / "ckpt_ghost")
    q = mr.stream_update_metrics_rollup(_events_stream(spark, src), path, ckpt)
    q.awaitTermination(120)

    # crashed attempt of batch 1: only partials landed, commit lost
    raw = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    half1 = normalize_events(raw.filter(F.col("event_id") % 2 == 1))
    lin = mr._checkpoint_lineage(spark, ckpt)
    mr._stamp(mr.rollup_partials(half1), 1, lin).repartition(
        F.col("event_date")
    ).write.mode("append").partitionBy("event_date").parquet(
        f"{path}/partials"
    )
    mr.compact_metrics_rollup(spark, path)

    # the delete lands AFTER the crashed attempt
    assert mr.delete_from_metrics_rollup(
        spark, path, spark.createDataFrame([("3",)], "app_id string")
    ) == 1

    # restart replays batch 1: partials skip (folded), the other
    # relations append — and the tombstone must survive
    shutil.move(str(held_back), str(extra))
    q = mr.stream_update_metrics_rollup(_events_stream(spark, src), path, ckpt)
    q.awaitTermination(120)

    assert spark.read.parquet(f"{path}/deleted_apps").count() == 1
    ev_minus = load_events(spark, SF_SMALL).filter(F.col("app_id") != "3")
    for name in ("performance_trends", "applications"):
        assert _rows(RAW_TWINS[name](ev_minus)) == _rows(
            getattr(mr, f"{name}_from_rollup")(spark, path)
        )


# --------------------------------------------------------------------------
# §2.5 scale path — task-duration percentiles from the DDSketch relation
# --------------------------------------------------------------------------
@pytest.mark.parametrize(
    "sf_dir", ["/root/testdata/sf0.001", "/root/testdata/sf0.01",
               "/root/testdata/sf0.1"]
)
def test_duration_percentiles_sketch_within_tolerance(spark, tmp_path, sf_dir):
    """The HLL-sibling contract (VERDICT r13 #5): the DDSketch-served
    percentiles stay within 5% RELATIVE error of the exact holistic op
    — per event type, per quantile — at every test scale including
    sf0.1. (The sketch's design bound is (γ-1)/(γ+1) ≈ 0.99% against
    the underlying values; the extra headroom absorbs the exact op's
    interpolation between neighbors.)"""
    ev = load_events(spark, sf_dir)
    path = str(tmp_path / "pct_rollup")
    mr.write_metrics_rollup(ev, path)
    exact = {
        r["event_type"]: r.asDict()
        for r in catalog.task_duration_percentiles(ev).collect()
    }
    served = {
        r["event_type"]: r.asDict()
        for r in mr.task_duration_percentiles_from_rollup(
            spark, path
        ).collect()
    }
    assert set(exact) == set(served) and exact
    for et, row in exact.items():
        for col in ("p50_ms", "p90_ms", "p95_ms", "p99_ms"):
            e, s = row[col], served[et][col]
            assert s == pytest.approx(e, rel=0.05), (et, col, e, s)


def test_duration_percentiles_sketch_lifecycle(spark, tmp_path):
    """The sketch relation rides the full S17 lifecycle: stream-built
    equals batch-built BIT-IDENTICALLY (counts merge exactly, unlike
    float partials there is no re-association concern at all),
    compaction folds without changing answers, and a deleted app's
    durations leave the percentiles (tombstone suppression is exact
    because app_id is in the sketch grain)."""
    ev = load_events(spark, SF_SMALL)
    batch_path = str(tmp_path / "pct_batch")
    mr.write_metrics_rollup(ev, batch_path)
    expected = _rows(mr.task_duration_percentiles_from_rollup(spark, batch_path))

    src = _stream_dir_from(spark, tmp_path)
    stream_path = str(tmp_path / "pct_stream")
    q = mr.stream_update_metrics_rollup(
        _events_stream(spark, src), stream_path, str(tmp_path / "ckpt_pct")
    )
    q.awaitTermination(120)
    assert _rows(
        mr.task_duration_percentiles_from_rollup(spark, stream_path)
    ) == expected
    mr.compact_metrics_rollup(spark, stream_path)
    assert _rows(
        mr.task_duration_percentiles_from_rollup(spark, stream_path)
    ) == expected
    h = spark.read.parquet(f"{stream_path}/dur_hist")
    assert h.count() == h.select(*mr.DUR_HIST_GRAIN).distinct().count()

    # suppression: percentiles after a delete equal a rebuild without
    # the app (grain-exact, the S13 suppression argument)
    mr.delete_from_metrics_rollup(
        spark, stream_path, spark.createDataFrame([("3",)], "app_id string")
    )
    minus_path = str(tmp_path / "pct_minus")
    mr.write_metrics_rollup(ev.filter(F.col("app_id") != "3"), minus_path)
    assert _rows(
        mr.task_duration_percentiles_from_rollup(spark, stream_path)
    ) == _rows(mr.task_duration_percentiles_from_rollup(spark, minus_path))


def test_duration_percentiles_sketch_plan_raw_scan_free(spark, tmp_path):
    """The point of the relation: the serving plan reads cells, never
    the fact table (same gate as the other rollup twins)."""
    ev = load_events(spark, SF_SMALL)
    path = str(tmp_path / "pct_plan")
    mr.write_metrics_rollup(ev, path)
    from spark_history_server_rs_spark.operators.dedup import (
        clear_materialized_caches,
    )

    clear_materialized_caches()
    plan = I.explain_str(
        mr.task_duration_percentiles_from_rollup(spark, path), "formatted"
    )
    assert "events.parquet" not in plan
    assert "dur_hist" in plan or "InMemoryTableScan" in plan


def test_delete_erase_is_revive_proof(spark, tmp_path):
    """erase=True (the GDPR intent): tombstone + inline compaction in
    one call, so a later re-arrival revives an app whose history is
    already physically gone — only the re-arrived data serves."""
    raw = spark.read.parquet(f"{SF_SMALL}/events.parquet")
    ev = load_events(spark, SF_SMALL)
    path = str(tmp_path / "erase_rollup")
    mr.write_metrics_rollup(ev, path)
    n = mr.delete_from_metrics_rollup(
        spark, path, spark.createDataFrame([("3",)], "app_id string"),
        erase=True,
    )
    assert n == 1
    p = spark.read.parquet(f"{path}/partials")
    assert p.filter(F.col("app_id") == "3").count() == 0  # physically gone
    assert spark.read.parquet(f"{path}/deleted_apps").count() == 0  # retired

    # app 3 re-arrives: the revive serves exactly ONE copy of the
    # streamed data (the erased history stays erased — compare against
    # the full corpus, whose app-3 rows the stream re-delivered once)
    src = tmp_path / "erase_src"
    src.mkdir()
    part_dir = tmp_path / "_app3e"
    raw.filter(F.col("user_id") == 3).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(part_dir))
    [f] = glob.glob(str(part_dir / "part-*.parquet"))
    shutil.copy(f, src / "batch_0.parquet")
    q = mr.stream_update_metrics_rollup(
        _events_stream(spark, src), path, str(tmp_path / "ckpt_e")
    )
    q.awaitTermination(120)
    assert _rows(catalog.performance_trends(ev)) == _rows(
        mr.performance_trends_from_rollup(spark, path)
    )


def test_delete_on_never_built_rollup(spark, tmp_path):
    """Deletion invoked against a path the builder never touched (the
    ADVICE-r12 edge): tombstones land, the cell count writes 0, no
    crash on the absent partials relation — for both intents."""
    path = str(tmp_path / "fresh_rollup")
    n = mr.delete_from_metrics_rollup(
        spark, path, spark.createDataFrame([("9",)], "app_id string")
    )
    assert n == 1
    assert spark.read.parquet(f"{path}/counts").collect()[0]["n_cells"] == 0

    path2 = str(tmp_path / "fresh_rollup2")
    n = mr.delete_from_metrics_rollup(
        spark, path2, spark.createDataFrame([("9",)], "app_id string"),
        erase=True,
    )
    assert n == 1
    assert spark.read.parquet(f"{path2}/counts").collect()[0]["n_cells"] == 0
