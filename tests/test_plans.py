"""Plan-shape gates: the physical-plan properties that keep the engine
fast at 100 TB, pinned as tests (SURVEY.md §4). A plan regression (lost
pushdown, a surprise cartesian, an un-broadcast dim join) fails here even
while results stay correct."""

from __future__ import annotations

import pytest

from spark_history_server_rs_spark.operators import catalog, relational
from spark_history_server_rs_spark.plans import inspect as I
from spark_history_server_rs_spark.sources.generic import load_events
from tests.conftest import SF_ORACLE, SF_SMALL


@pytest.fixture(scope="module")
def ev(spark):
    return load_events(spark, SF_ORACLE)


def test_task_filter_pushed_to_scan(spark, ev):
    """The is_task role flag must collapse into an event_type IN-filter
    pushed into the parquet scan — no post-scan row filtering of the
    dominant predicate."""
    df = catalog.performance_trends(ev)
    pushed = I.pushed_filters(df)
    assert "In(event_type" in pushed


def test_column_pruning_reaches_scan(spark, ev):
    """applications touches only (app_id, ts): the scan must not read
    props/raw JSON. A scan reading all columns for a 2-column query is the
    canonical 100 TB mistake."""
    cols = I.scan_read_schema(catalog.applications(ev))
    assert "props" not in cols
    assert set(cols) <= {"ts", "user_id"}


def test_sink_path_prunes_raw_data(spark, tmp_path_factory):
    """On the real ingest path (event logs → normalized parquet sink) the
    metric columns are materialized, so analytics queries must NOT read
    raw_data at the scan. (The generic test binding necessarily reads
    props — its metrics only exist inside that JSON — so the pruning
    guarantee is asserted where it matters: the sink.)"""
    import json

    d = tmp_path_factory.mktemp("prune-logs")
    with open(d / "events_app-prune", "w") as f:
        for t in range(4):
            f.write(
                json.dumps(
                    {
                        "Event": "SparkListenerTaskEnd",
                        "Stage ID": 0,
                        "Task End Reason": {"Reason": "Success"},
                        "Task Info": {"Task ID": t, "Executor ID": "1",
                                      "Host": "h", "Locality": "ANY"},
                        "Task Metrics": {"Executor Run Time": 100 + t,
                                         "Executor CPU Time": int(8e7),
                                         "Peak Execution Memory": 1 << 20},
                        "Timestamp": 1700486400000 + t,
                    }
                )
                + "\n"
            )
    from spark_history_server_rs_spark.sources.event_logs import (
        read_event_logs,
        write_events_sink,
    )

    sink = str(d / "sink")
    write_events_sink(read_event_logs(spark, str(d / "events_app-prune")), sink)
    sunk = spark.read.parquet(sink)
    for name, fn in [
        ("top_resource_consumers", catalog.top_resource_consumers),
        ("capacity_trends", catalog.capacity_trends),
        ("task_distribution", catalog.task_distribution),
    ]:
        cols = I.scan_read_schema(fn(sunk))
        assert "raw_data" not in cols, f"{name} reads raw_data at the scan"


def test_executor_summary_single_pass(spark, ev):
    """A4/J1: the reference's three sub-aggregates + two FULL OUTER joins
    share one grouping key, so the plan must be ONE scan + ONE aggregation
    — no joins, no extra exchanges."""
    df = catalog.executor_summary(ev)
    plan = I.explain_str(df, "simple")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert not I.has_cartesian(df)


def test_tpch_q3_broadcasts_customer(spark):
    df = relational.QUERIES["tpch_q3_shipping_priority"](spark, SF_ORACLE)
    assert I.has_broadcast_join(df)
    assert not I.has_cartesian(df)


def test_tpch_q5_no_cartesian(spark):
    df = relational.QUERIES["tpch_q5_regional_revenue"](spark, SF_ORACLE)
    assert not I.has_cartesian(df)


def test_semi_anti_join_planned(spark):
    semi = relational.QUERIES["semi_join_urgent_customers"](spark, SF_ORACLE)
    anti = relational.QUERIES["anti_join_no_urgent_customers"](spark, SF_ORACLE)
    assert "LeftSemi" in I.explain_str(semi, "simple")
    assert "LeftAnti" in I.explain_str(anti, "simple")


def test_whole_stage_codegen_present(spark, ev):
    """The aggregation pipeline must run inside whole-stage codegen."""
    assert I.codegen_stage_count(catalog.performance_trends(ev)) >= 1


def test_topk_plans_take_ordered(spark, ev):
    """ORDER BY agg DESC LIMIT n must plan TakeOrderedAndProject — not a
    global sort of the aggregate."""
    df = catalog.top_resource_consumers(ev)
    assert "TakeOrderedAndProject" in I.explain_str(df, "simple")


def test_multimodal_defaults_stay_jvm_side(spark):
    """The fake decode is pure arithmetic — the default multimodal plans
    must contain no Python worker (mapInPandas is the real-codec path only,
    behind use_codec=True)."""
    from spark_history_server_rs_spark.operators import multimodal
    from spark_history_server_rs_spark.sources.generic import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    assert not I.has_python_worker(multimodal.image_decode(docs))
    assert not I.has_python_worker(multimodal.frame_sample(docs))
    # the codec variants DO plan a Python worker (the plumbing is real)
    assert I.has_python_worker(multimodal.frame_sample(docs, use_codec=True))


def test_multimodal_codec_frame_sample_matches_builtin(spark):
    """The mapInPandas codec-path plumbing (batch iteration + row
    expansion) must produce byte-identical frames to the built-in plan."""
    from spark_history_server_rs_spark.operators import multimodal
    from spark_history_server_rs_spark.sources.generic import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    fast = multimodal.frame_sample(docs).collect()
    codec = multimodal.frame_sample(docs, use_codec=True).collect()
    assert fast == codec


def test_multimodal_codec_image_decode_executes_with_standin(spark):
    """The image-decode codec extension point must EXECUTE a decode body
    through the real Arrow plumbing (not just raise through it): the
    deterministic stand-in codec (fake_geometry_decode) is pinned
    byte-identical to the column-expression default plan, and the
    no-codec default still raises its documented NotImplementedError
    through the same path (VERDICT r10 'What's missing #2')."""
    import pytest as _pytest

    from spark_history_server_rs_spark.operators import multimodal
    from spark_history_server_rs_spark.sources.generic import load_table

    docs = load_table(spark, SF_SMALL, "documents")
    fast = multimodal.image_decode(docs).collect()
    codec = multimodal.image_decode(
        docs, use_codec=True, decode_fn=multimodal.fake_geometry_decode()
    )
    assert I.has_python_worker(codec)
    assert codec.collect() == fast
    with _pytest.raises(Exception, match="image codecs"):
        multimodal.image_decode(docs, use_codec=True).collect()


def test_multimodal_codec_real_png_decode_golden(spark):
    """A REAL decoder through the M1 extension point (VERDICT r11 #4):
    the stdlib-only PNG codec (chunk walk + CRC + zlib inflate +
    full None/Sub/Up/Average/Paeth filter reconstruction) decodes the
    checked-in fixture — written with Sub/Paeth/Average filtered rows
    — to its golden dimensions AND golden pixel bytes, runs end-to-end
    through the same Arrow mapInPandas plumbing as the stand-in, and
    fails LOUD on a corrupted payload instead of yielding plausible
    geometry."""
    import hashlib
    import os
    import struct
    import zlib

    import pytest as _pytest

    from spark_history_server_rs_spark.operators import multimodal

    fixture = os.path.join(
        os.path.dirname(__file__), "fixtures", "tiny_rgb.png"
    )
    png = open(fixture, "rb").read()
    assert hashlib.md5(png).hexdigest() == (
        "d2f02a317980cb5baba67307e9e9ab87"
    )  # the fixture itself is pinned

    codec = multimodal.png_decode()
    assert codec(png) == (4, 3)
    w, h, channels, pix = codec.pixels(png)
    golden = (
        bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 0])
        + bytes([10, 20, 30, 40, 50, 60, 70, 80, 90, 100, 110, 120])
        + bytes([0, 0, 0, 128, 128, 128, 255, 255, 255, 1, 2, 3])
    )
    assert (w, h, channels) == (4, 3, 3) and pix == golden

    # the remaining filter types (None=0, Up=2) on a synthetic 2x2
    # grayscale image: decode must invert the reference filter math
    def _chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    rows = [bytes([7, 250]), bytes([9, 4])]
    scan = bytes([0]) + rows[0] + bytes([2]) + bytes(
        (rows[1][i] - rows[0][i]) & 0xFF for i in range(2)
    )
    gray = (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0))
        + _chunk(b"IDAT", zlib.compress(scan))
        + _chunk(b"IEND", b"")
    )
    assert codec.pixels(gray) == (2, 2, 1, rows[0] + rows[1])

    # end-to-end through the Arrow plumbing: real PNG bytes ride the
    # operator's own binary-ingestion codec plan (PNGs are not valid
    # UTF-8, so they arrive as a binary column, never via the text
    # cast the synthetic default uses) and surface their true geometry
    from pyspark.sql import functions as F

    pdf = spark.createDataFrame(
        [(1, png), (2, gray)], "doc_id long, payload binary"
    ).select(
        "doc_id", "payload", F.lit("image/png").alias("format")
    )
    plan = multimodal.image_decode_payloads(pdf, codec)
    assert I.has_python_worker(plan)
    got = [tuple(r) for r in plan.collect()]
    assert got == [
        (1, "image/png", len(png), 4, 3, hashlib.md5(png).hexdigest()),
        (2, "image/png", len(gray), 2, 2, hashlib.md5(gray).hexdigest()),
    ]

    # corruption fails loud: flip one IDAT byte → CRC mismatch
    corrupt = bytearray(png)
    corrupt[60] ^= 0xFF
    with _pytest.raises(ValueError, match="CRC mismatch"):
        codec(bytes(corrupt))
    # truncation fails loud too
    with _pytest.raises(ValueError):
        codec(png[:40])


def test_dedup_clusters_lineage_bounded_on_deep_chain(spark):
    """The CC loop localCheckpoints every iteration, so the final plan's
    lineage is O(1) — an RDD scan — regardless of iteration count (the
    100 TB recompute cliff flagged in r1).

    Chain construction: doc i = tokens[3i .. 3i+10] of one long word
    sequence → adjacent docs share exactly 6 of 12 distinct 3-shingles
    (Jaccard 0.5, an edge at τ=0.5) while doc i±2 shares 3/15 (0.2, no
    edge). A 12-doc path needs ~11 propagation rounds — far past any
    depth a single un-truncated plan should reach."""
    from spark_history_server_rs_spark.operators import corpus

    words = [f"w{i:03d}" for i in range(60)]
    rows = [
        (i, " ".join(words[3 * i : 3 * i + 11]), "en") for i in range(12)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    df = corpus.dedup_clusters(docs)
    out = df.collect()
    # one cluster spanning the whole chain, keeper = doc 0
    assert len(out) == 12
    assert {r.cluster_id for r in out} == {0}
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    # lineage was cut: final plan reads the checkpointed RDD (printed as
    # LogicalRDD, or Scan ExistingRDD once the labels relation is served
    # through the keyed materialized-view cache), and its depth does not
    # scale with the ~11 propagation rounds
    assert "LogicalRDD" in plan or "ExistingRDD" in plan
    depth = len(plan.splitlines())
    assert depth < 40, f"cluster plan lineage too deep ({depth} lines)"


def test_llmprep_plan_shapes(spark):
    """Scale gates for the LLM-prep suite: the k-means centroid side must
    broadcast (8 rows vs the corpus), contamination must not plan a
    cartesian product, and the pure-projection ops must not spawn a
    Python worker."""
    from spark_history_server_rs_spark.operators import llmprep
    from spark_history_server_rs_spark.sources.generic import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    emb = load_table(spark, SF_ORACLE, "embeddings")

    km = llmprep.kmeans_step(emb)
    s = I.explain_str(km, "simple")
    assert "BroadcastNestedLoopJoin" in s or "BroadcastHashJoin" in s
    assert not I.has_python_worker(km)

    # L13: centroid assignment broadcasts; the prune join is an equi-join
    # keyed on centroid_id (per-cluster quadratic, never corpus-wide)
    sd = llmprep.semantic_dedup(emb)
    ssd = I.explain_str(sd, "simple")
    assert "BroadcastNestedLoopJoin" in ssd or "BroadcastHashJoin" in ssd
    assert "centroid_id" in ssd
    assert not I.has_python_worker(sd)

    cont = llmprep.contamination(docs)
    assert not I.has_cartesian(cont)

    for df in (
        llmprep.stem_normalize(docs),
        llmprep.stratified_sample(docs),
        llmprep.pack_sequences(docs),
        llmprep.embedding_dim_stats(emb),
    ):
        assert not I.has_python_worker(df)
        assert not I.has_cartesian(df)


def test_int8_audit_two_scans_dims_reused(spark):
    """L7b reads the corpus exactly TWICE in the executed plan — once to
    build the per-dim maxima, once for the error pass — and every other
    reference to `dims`/`g` rides a ReusedExchange (the tensor-scale
    maximum is derived from `dims`, never from a third corpus scan).
    Without reuse this op would scan 100 TB five times; pin the shape."""
    from spark_history_server_rs_spark.operators import llmprep
    from spark_history_server_rs_spark.sources.generic import load_table

    df = llmprep.embedding_int8_audit(
        load_table(spark, SF_ORACLE, "embeddings")
    )
    assert not I.has_python_worker(df)
    df.collect()  # AQE: reuse decisions land in the final plan
    s = I.explain_str(df, "formatted")
    # AQE formatted explain: tree section holds "== Final Plan ==" then
    # "== Initial Plan ==" — gate on the final (executed) tree only
    final = s.split("\n\n")[0].split("== Initial Plan ==")[0]
    assert final.count("Scan parquet") == 2, final
    assert final.count("ReusedExchange") >= 3, final
    assert "SortMergeJoin" not in final
    assert "CartesianProduct" not in final


def test_novelty_approx_close_to_exact(spark):
    """C16b vs C16 at sf0.01: per-bucket distinct estimates within 5 %,
    the cumulative curve monotone and within 5 % at every bucket, and
    novelty rates within 5 points — the documented lgk=12 error band
    (~1.6 % RSE) with slack for union compounding. This pin is C16b's
    correctness gate: sketch estimates are algorithm-specific, so no
    DuckDB oracle twin can exist."""
    from spark_history_server_rs_spark.operators import corpus
    from spark_history_server_rs_spark.sources.generic import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    exact = {r.bucket: r for r in corpus.novelty_curve(docs).collect()}
    approx = {
        r.bucket: r for r in corpus.novelty_curve_approx(docs).collect()
    }
    assert set(exact) == set(approx)
    prev_cum = 0
    for b in sorted(exact):
        e, a = exact[b], approx[b]
        assert abs(a.n_distinct_est - e.n_distinct_shingles) <= max(
            0.05 * e.n_distinct_shingles, 2
        ), (b, e, a)
        assert abs(a.cumulative_distinct_est - e.cumulative_distinct) <= max(
            0.05 * e.cumulative_distinct, 2
        ), (b, e, a)
        assert a.cumulative_distinct_est >= prev_cum  # union is monotone
        prev_cum = a.cumulative_distinct_est
        assert abs(a.novelty_rate_est - e.novelty_rate) <= 0.05, (b, e, a)


def test_bucketed_sink_eliminates_exchange(spark, tmp_path_factory):
    """The app_id-bucketed table layout must let groupBy(app_id) and
    app_id-joins plan WITHOUT an Exchange — the write-once pre-shuffle
    that turns every dashboard query scan-bound at 100 TB."""
    import json

    from spark_history_server_rs_spark.sources.event_logs import (
        read_event_logs,
        write_bucketed_sink,
    )

    d = tmp_path_factory.mktemp("bucketed-logs")
    for app in ("application_b1", "application_b2"):
        appdir = d / app
        appdir.mkdir()
        with open(appdir / "events_1", "w") as f:
            for t in range(3):
                f.write(json.dumps({
                    "Event": "SparkListenerTaskEnd", "Stage ID": 0,
                    "Task End Reason": {"Reason": "Success"},
                    "Task Info": {"Task ID": t, "Executor ID": "1",
                                  "Host": "h", "Locality": "ANY"},
                    "Task Metrics": {"Executor Run Time": 100 + t,
                                     "Executor CPU Time": int(8e7),
                                     "Peak Execution Memory": 1 << 20},
                    "Timestamp": 1700486400000 + t}) + "\n")
    events = read_event_logs(spark, str(d) + "/*/*")
    write_bucketed_sink(events, "bucketed_events_test", buckets=4)
    try:
        t = spark.table("bucketed_events_test")
        agg = t.groupBy("app_id").count()
        plan = I.explain_str(agg, "simple")
        assert "Exchange" not in plan, plan
        # self-join on the bucket key: both sides pre-partitioned
        j = t.filter("is_task").join(
            t.filter("is_task").groupBy("app_id").count(), "app_id"
        )
        jp = I.explain_str(j, "simple")
        assert "Exchange hashpartitioning" not in jp, jp
    finally:
        spark.sql("DROP TABLE IF EXISTS bucketed_events_test")


def test_salted_join_equivalence_and_shape(spark, ev):
    """salted_join must (a) produce exactly the unsalted join's multiset,
    (b) join on (key, _salt) so a hot key spreads across salt reducers."""
    from spark_history_server_rs_spark.functions.skew import salted_join

    # skewed probe side: per-event rows (one app dominates in any real
    # history); build side: per-app aggregate too big to broadcast in the
    # scenario this models
    left = ev.select("app_id", "id", "event_type")
    right = ev.groupBy("app_id").count()

    plain = left.join(right, "app_id").select("app_id", "id", "count")
    salted = salted_join(left, right, "app_id", salt=4).select(
        "app_id", "id", "count"
    )
    assert sorted(map(tuple, plain.collect())) == sorted(
        map(tuple, salted.collect())
    )
    s = I.explain_str(salted, "simple")
    assert "_salt" in s  # the join key actually includes the salt


def test_approx_percentiles_close_to_exact(spark, ev):
    """The percentile_approx scale path must track the exact variant
    within 5% per percentile per group (the declared swap for 100 TB)."""
    exact = {r.event_type: r for r in catalog.task_duration_percentiles(ev).collect()}
    approx = {
        r.event_type: r
        for r in catalog.task_duration_percentiles_approx(ev).collect()
    }
    assert set(exact) == set(approx)
    for et, e in exact.items():
        a = approx[et]
        for col in ("p50_ms", "p90_ms", "p95_ms", "p99_ms"):
            ev_, av = getattr(e, col), getattr(a, col)
            assert abs(av - ev_) <= 0.05 * max(ev_, 1.0), (et, col, ev_, av)


def test_round2_text_ops_stay_projection_shaped(spark):
    """T5/L11/L12/X4 scale gates: the pure-projection text ops must not
    plan an aggregation/join shuffle (the only Exchange allowed is the
    final presentation sort's range partitioning) nor a Python worker;
    the temperature-sample rate join must broadcast; the recall eval must
    not degrade to a CartesianProduct."""
    from spark_history_server_rs_spark.operators import llmprep, similarity, textprep
    from spark_history_server_rs_spark.sources.generic import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    emb = load_table(spark, SF_ORACLE, "embeddings")

    for df in (textprep.repetition_signals(docs), llmprep.pii_scrub(docs)):
        assert not I.has_python_worker(df)
        assert "Exchange hashpartitioning" not in I.explain_str(df, "simple")

    ts = llmprep.temperature_sample(docs)
    assert I.has_broadcast_join(ts)
    assert not I.has_cartesian(ts)
    assert not I.has_python_worker(ts)

    recall = similarity.ann_recall_eval(emb)
    assert not I.has_cartesian(recall)
    assert not I.has_python_worker(recall)


def test_round2_batch2_plan_gates(spark):
    """Scale gates for the second round-2 batch: X5 Hamming rerank, D6
    repeated passages, W2 skew report, M3 audio windows, C5 OOV rate."""
    from spark_history_server_rs_spark.operators import (
        catalog,
        corpus,
        dedup,
        multimodal,
        similarity,
    )
    from spark_history_server_rs_spark.sources.generic import load_events, load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    emb = load_table(spark, SF_ORACLE, "embeddings")
    ev = load_events(spark, SF_ORACLE)

    # X5: integer popcount prefilter — JVM-only, no cartesian explosion
    ham = similarity.ann_hamming_rerank(emb)
    assert not I.has_python_worker(ham)
    assert not I.has_cartesian(ham)
    assert "bit_count" in I.explain_str(ham, "simple")

    # M3: generator + projection only — no shuffle except the final sort,
    # no Python worker (the codec path is opt-in)
    aw = multimodal.audio_windows(docs)
    assert not I.has_python_worker(aw)
    assert "Exchange hashpartitioning" not in I.explain_str(aw, "simple")

    # D6/C5: hash-keyed exchanges only; window text never shuffles
    for df in (dedup.repeated_passage_coverage(docs), corpus.oov_rate(docs)):
        assert not I.has_python_worker(df)
        assert not I.has_cartesian(df)

    # W2: one aggregation over app_id, no joins at all
    skew = catalog.task_skew_report(ev)
    assert not I.has_python_worker(skew)
    assert "Join" not in I.explain_str(skew, "simple")


def test_tpch_round2_batch3_plan_gates(spark):
    """Planning gates for the 12 adapted TPC-H shapes (R17-R28): the dim
    sides broadcast, the subquery kinds plan as semi/anti joins, and no
    query degenerates into a cartesian product."""
    Q = relational.QUERIES

    # Q8: the 7-table join — every dim broadcast, fact joins shuffled
    q8 = Q["tpch_q8_market_share"](spark, SF_ORACLE)
    assert I.has_broadcast_join(q8)
    assert not I.has_cartesian(q8)

    # Q16: NOT IN subquery on a non-null key — anti join, not a nested loop
    q16 = Q["tpch_q16_supplier_count"](spark, SF_ORACLE)
    s16 = I.explain_str(q16, "simple")
    assert "LeftAnti" in s16 or "NullAwareAntiJoin" in s16
    assert not I.has_cartesian(q16)

    # Q21: EXISTS + NOT EXISTS on the same fact — semi AND anti planned
    q21 = Q["tpch_q21_waiting_supplier"](spark, SF_ORACLE)
    s21 = I.explain_str(q21, "simple")
    assert "LeftSemi" in s21 and "LeftAnti" in s21

    # Q17: correlated scalar AVG decorrelates into an aggregate + join
    # (no per-row re-execution of the subquery)
    q17 = Q["tpch_q17_small_qty_revenue"](spark, SF_ORACLE)
    assert "Subquery" not in I.explain_str(q17, "simple").split("Scan")[0]
    assert not I.has_cartesian(q17)

    # Q15/Q22: scalar subqueries stay scalar (single-row broadcast), and
    # the join-back keys are exact integers — no cartesian anywhere
    for name in ("tpch_q15_top_supplier", "tpch_q22_idle_customers",
                 "tpch_q2_min_price_supplier", "tpch_q19_bracketed_revenue",
                 "tpch_q10_returned_items", "tpch_q12_ship_delay",
                 "tpch_q14_promo_effect", "tpch_q9_product_profit"):
        df = Q[name](spark, SF_ORACLE)
        assert not I.has_cartesian(df), name
        assert not I.has_python_worker(df), name


def test_cosine_dedup_repartition_scales_with_cluster(spark):
    """D5/D5b scale gates. D5 (the exact all-pairs BASELINE_ONLY op):
    pair-loop parallelism must follow the session's defaultParallelism —
    a fixed-width repartition (the old REPARTITION(16)) caps a
    1000-executor cluster at 16 tasks. D5b (the registry default):
    since r09 it rides the block-pair kernel — the plan must show the
    grouped-pandas exchange and NO BroadcastNestedLoopJoin (the old
    form broadcast the whole corpus to every executor); the popcount
    prefilter moved inside the kernel with the same binomial-4σ
    cutoff."""
    from spark_history_server_rs_spark.operators import dedup
    from spark_history_server_rs_spark.sources.generic import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    expected = f"RoundRobinPartitioning({spark.sparkContext.defaultParallelism})"
    df = dedup.embedding_cosine_dups(emb)
    plan = I.explain_str(df, "simple")
    assert expected in plan, f"want {expected}"
    assert "RoundRobinPartitioning(16)" not in plan or expected.endswith("(16)")

    pre = dedup.embedding_cosine_dups_prefiltered(emb)
    pplan = I.explain_str(pre, "formatted")
    assert "BroadcastNestedLoopJoin" not in pplan
    assert "FlatMapGroupsInPandas" in pplan
    assert dedup.hamming_cutoff(0.4) == 23
    assert dedup.hamming_cutoff(0.9) <= 14  # production regime: selective


def test_cosine_dedup_prefilter_matches_all_pairs(spark):
    """D5b must reproduce the exact all-pairs result on the test fixtures
    (the 4σ cutoff has margin 4-5 there; the bound is probabilistic at
    corpus scale — see dedup.hamming_cutoff), pinned against live data,
    not just the oracle harness."""
    from spark_history_server_rs_spark.operators import dedup
    from spark_history_server_rs_spark.sources.generic import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    base = [tuple(r) for r in dedup.embedding_cosine_dups(emb).collect()]
    pre = [tuple(r) for r in dedup.embedding_cosine_dups_prefiltered(emb).collect()]
    assert base == pre and len(base) > 0


def test_round5_plan_gates(spark):
    """Scale gates for the round-5 batch: T6 classifier stays
    projection-shaped (no shuffle, no Python); L14 global shuffle plans
    exactly one hash exchange (the shard partitioning the window sorts
    within); C6/C7/D3b stay JVM-side with no cartesian; X6 kNN graph
    keeps the popcount prefilter inside the join condition and its pair
    loop's parallelism follows the cluster."""
    from spark_history_server_rs_spark.operators import (
        corpus,
        dedup,
        llmprep,
        similarity,
        textprep,
    )
    from spark_history_server_rs_spark.sources.generic import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    emb = load_table(spark, SF_ORACLE, "embeddings")

    qc = textprep.quality_classifier(docs)
    assert not I.has_python_worker(qc)
    assert "Exchange hashpartitioning" not in I.explain_str(qc, "simple")

    gs = llmprep.global_shuffle(docs)
    assert not I.has_python_worker(gs)
    assert not I.has_cartesian(gs)
    assert I.explain_str(gs, "simple").count("Exchange hashpartitioning") == 1

    for df in (
        corpus.unigram_logprob(docs),
        llmprep.bigram_logprob(docs),
        # L7b: the avg-pairwise-cosine audit must never materialize a
        # pair join — aggregates and scalar folds only
        llmprep.embedding_anisotropy(emb),
        llmprep.embedding_abtt_audit(emb),
        # C16: two-level bucket rank + provenance join — no corpus-wide
        # window, no Python, no cartesian
        corpus.curriculum_stages(docs),
        # L3c: lang-partitioned cumsum + one fold, no joins
        llmprep.pack_fragmentation(docs),
        corpus.dedup_keep_canonical(docs),
        dedup.minhash_estimate_eval(docs),
    ):
        assert not I.has_python_worker(df)
        assert not I.has_cartesian(df)

    kg = similarity.ann_knn_graph(emb)
    assert not I.has_python_worker(kg)
    plan = I.explain_str(kg, "simple")
    assert "bit_count" in plan
    expected = f"RoundRobinPartitioning({spark.sparkContext.defaultParallelism})"
    assert expected in plan

    # L15: explode→groupBy passes only — no pairwise join anywhere
    pi = llmprep.embedding_power_iteration(emb)
    assert not I.has_python_worker(pi)
    assert not I.has_cartesian(pi)

    # W3/M4: single bounded-key aggregations, JVM-side end to end
    from spark_history_server_rs_spark.operators import catalog, multimodal
    from spark_history_server_rs_spark.sources.generic import load_events

    jp = catalog.job_parallelism_report(load_events(spark, SF_ORACLE))
    assert not I.has_python_worker(jp)
    assert "Join" not in I.explain_str(jp, "simple")
    ph = multimodal.phash_groups(docs)
    assert not I.has_python_worker(ph)
    assert "Join" not in I.explain_str(ph, "simple")


def test_round6_plan_gates(spark, ev):
    """Scale gates for the funnel / retention / DSIR batch: no cartesian
    products, no Python workers; the funnel's chained step joins keep
    their tiny per-user aggregates on the build side (broadcast-able —
    at minimum not nested-loop); DSIR's 256-row weight table joins back
    to the token relation as a broadcast."""
    from spark_history_server_rs_spark.operators import corpus
    from spark_history_server_rs_spark.sources.generic import load_table

    fc = relational.QUERIES["funnel_conversion"](spark, SF_ORACLE)
    rc = relational.QUERIES["retention_cohorts"](spark, SF_ORACLE)
    tm = relational.QUERIES["event_transition_matrix"](spark, SF_ORACLE)
    for df in (fc, rc, tm):
        assert not I.has_python_worker(df)
        assert not I.has_cartesian(df)
    # R31's LAG must stay partitioned by the user key — a global window
    # here would single-partition the fact table
    tm_plan = I.explain_str(tm, "simple")
    assert "windowspecdefinition(app_id" in tm_plan

    # R32: INTERSECT/EXCEPT must plan as hash semi/anti joins, not sorts
    so = relational.QUERIES["set_ops_user_segments"](spark, SF_ORACLE)
    so_plan = I.explain_str(so, "simple")
    assert "LeftSemi" in so_plan and "LeftAnti" in so_plan
    assert not I.has_cartesian(so)

    docs = load_table(spark, SF_ORACLE, "documents")
    ds = corpus.dsir_select(docs)
    assert not I.has_python_worker(ds)
    assert not I.has_cartesian(ds)
    # the bucket-model weight table (DSIR_BUCKETS rows) must broadcast
    # into the token-scoring join, not shuffle the token relation twice
    assert "BroadcastHashJoin" in I.explain_str(ds, "simple")


def test_cross_app_summary_no_expand(spark, ev):
    """A9 gate: the two COUNT(DISTINCT)s must resolve via the per-app
    pre-aggregation, not Catalyst's Expand (which multiplies the full
    fact table's shuffle rows by the distinct-agg count)."""
    df = catalog.cross_app_summary(ev)
    plan = I.explain_str(df, "simple")
    assert "Expand" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_executor_utilization_and_capacity_trends_no_expand(spark, ev):
    """A11/A15 gate: distinct app counts come from size(collect_set) —
    a countDistinct next to plain aggregates plans an Expand that
    doubles every task row through the exchange (measured: A11 was the
    worst scaler of the 7-query suite at the 100x tier, 5.3 s -> 1.0 s
    at 10 M events from this change alone)."""
    for fn in (catalog.executor_utilization, catalog.capacity_trends):
        plan = I.explain_str(fn(ev), "simple")
        assert "Expand" not in plan, fn.__name__


def test_no_unbounded_single_partition_windows(spark):
    """The 100 TB scale-killer class from round 4 (VERDICT.md "What's
    wrong" #2): an unpartitioned ranking window funnels its entire input
    relation through ONE task. corpus_vocabulary / corpus_bigram_counts
    did this over the full distinct-token relation — fixed by taking
    top-k first (distributed TakeOrderedAndProject) and ranking the <=k
    survivors. Gate the whole registry so the class cannot reappear:
    every Window fed by an Exchange SinglePartition must be on the
    explicit allowlist of provably tiny derived relations."""
    import __spark_entry__ as entrymod
    from spark_history_server_rs_spark.plans import inspect as I

    # query -> (allowed count, why the windowed relation is bounded)
    sanctioned = {
        # running bucket-offset SUM over the coarse-bucket COUNT relation:
        # cardinality = score range in 0.1-nat steps, independent of docs
        "corpus_dsir_select": 1,
        "corpus_perplexity_buckets": 1,
        # SUM() OVER () over the per-source counts relation: one row per
        # distinct `source` value
        "corpus_temperature_sample": 2,
        # LAG over the yearly revenue rollup: one row per calendar year
        "yoy_revenue_growth": 1,
        # running SUM over the bucket relation: NOVELTY_BUCKETS (=10)
        # rows at any corpus size
        "corpus_novelty_curve": 1,
        # C16 rides the same coarse-bucket offset fold as C10/C8
        "corpus_curriculum_stages": 1,
    }
    offenders = {}
    for name, fn in entrymod.queries().items():
        n = I.single_partition_windows(fn(spark, SF_ORACLE))
        if n > sanctioned.get(name, 0):
            offenders[name] = n
    assert offenders == {}


def test_round7_quality_ops_plan_gates(spark):
    """Round-5 batch: Gopher/C4 rule reports must stay shuffle-free
    single projections (their whole value at 100 TB is running as pure
    map work over the scan); zipf/source-overlap/anomaly/outliers must
    stay Python-free with no cartesian products on unbounded relations
    (the kmeans-style 1=1 joins pair against constant-sized sides)."""
    from spark_history_server_rs_spark.operators import (
        corpus,
        llmprep,
        relational,
        textprep,
    )
    from spark_history_server_rs_spark.sources.generic import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    emb = load_table(spark, SF_ORACLE, "embeddings")

    for fn in (textprep.gopher_rules, textprep.c4_filters):
        df = fn(docs)
        plan = I.explain_str(df, "simple")
        assert not I.has_python_worker(df)
        # compute is one projection: the only exchange allowed is the
        # ORDER BY's range partitioning (presentation sort), never a
        # hash shuffle or aggregation
        assert "Exchange hashpartitioning" not in plan
        assert "HashAggregate" not in plan
    for df in (
        corpus.zipf_fit(docs),
        corpus.source_overlap(docs),
        llmprep.embedding_outliers(emb),
        llmprep.chunk_documents(docs),
        relational.QUERIES["events_daily_anomaly"](spark, SF_ORACLE),
    ):
        assert not I.has_python_worker(df)
        assert not I.has_cartesian(df)

    # T10: one scan (text+source only), instr probes folded by ONE
    # source-keyed aggregate — no regex eval, no joins, no Python
    enc = textprep.encoding_artifacts(docs)
    plan = I.explain_str(enc, "simple")
    assert not I.has_python_worker(enc)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan and "RLike" not in plan
    assert sorted(I.scan_read_schema(enc)) == ["source", "text"]

    # C16b: the sketch path must fold shingles into PARTIAL HLL
    # sketches before any exchange — no shuffle may carry a shingle
    # (that is its whole reason to exist next to the exact C16)
    nova = corpus.novelty_curve_approx(docs)
    nplan = I.explain_str(nova, "simple")
    assert "partial_hll_sketch_agg(shingle" in nplan
    assert "Exchange hashpartitioning(shingle" not in nplan
    assert "Exchange hashpartitioning(sh#" not in nplan
    assert not I.has_python_worker(nova)

    # C7b: rank window stays partitioned by cluster_id (never global),
    # joins are equi-joins on doc_id, no Python, no cartesian
    surv = corpus.dedup_survivorship(docs)
    splan = I.explain_str(surv, "simple")
    assert not I.has_python_worker(surv)
    assert not I.has_cartesian(surv)
    assert I.single_partition_windows(surv) == 0
    assert "PartitionBy: [cluster_id" in splan or "windowspecdefinition(cluster_id" in splan


def test_pq_plan_gates(spark):
    """X6/X7 gates: the PQ codebook side must broadcast (PQ_M x PQ_K x
    PQ_SUBDIM rows) into the assignment join; rank windows stay
    partitioned per (vector, subspace) / per query — never global; no
    Python workers, no cartesian products."""
    from spark_history_server_rs_spark.operators import similarity
    from spark_history_server_rs_spark.sources.generic import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    for fn in (similarity.ann_pq_codes, similarity.ann_pq_recall):
        df = fn(emb)
        assert not I.has_python_worker(df)
        assert not I.has_cartesian(df)
        assert I.single_partition_windows(df) == 0
        assert "BroadcastHashJoin" in I.explain_str(df, "simple")


def test_ivfadc_and_passage_index_plan_gates(spark):
    """X8/D7/R39 gates: IVFADC keeps broadcast joins and partitioned rank
    windows (never global); the passage index shuffles only hash keys;
    the EWMA day-pair join is NOT a cartesian on an unbounded relation
    (it equi-bounds on the tiny daily aggregate). No Python anywhere."""
    from spark_history_server_rs_spark.operators import dedup, relational, similarity
    from spark_history_server_rs_spark.sources.generic import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    docs = load_table(spark, SF_ORACLE, "documents")
    ivfadc = similarity.ann_ivf_pq(emb)
    assert not I.has_python_worker(ivfadc)
    assert I.single_partition_windows(ivfadc) == 0
    assert "BroadcastHashJoin" in I.explain_str(ivfadc, "simple")
    res = similarity.ann_ivf_pq_residual(emb)
    assert not I.has_python_worker(res)
    assert I.single_partition_windows(res) == 0
    assert "BroadcastHashJoin" in I.explain_str(res, "simple")
    # X14: the rerank stage joins the bounded shortlist back to the
    # vectors, the rerank window partitions by query, and the default
    # exact-refine scorer is JVM-side end to end; the model extension
    # point's plan carries the Arrow scorer over the same pair relation
    rr = similarity.ann_crossencoder_rerank(emb)
    assert not I.has_python_worker(rr)
    assert I.single_partition_windows(rr) == 0
    assert "BroadcastHashJoin" in I.explain_str(rr, "simple")
    rrs = similarity.ann_crossencoder_rerank(emb, use_scorer=True)
    assert "MapInPandas" in I.explain_str(rrs, "simple")
    # X6 (the graph BUILD) keeps the popcount prefilter inside the pair
    # join — that is where the bit_count belongs. Clear first: a warm
    # topk cache from an earlier test would substitute into X6's plan
    # (the cached relation IS X6's subplan) and hide the loop.
    dedup.clear_materialized_caches()
    knng = similarity.ann_knn_graph(emb)
    assert "bit_count" in I.explain_str(knng, "simple")
    # X12: the expansion rides the materialized in-session graph — its
    # analyzed plan must substitute the cached edge relation for its
    # single topk reference (checked STRUCTURALLY via withCachedData:
    # string probes like "bit_count not in plan" are unreliable because
    # InMemoryRelation RENDERS its cached child, and long plans truncate
    # nondeterministically). Expansion/rerank joins are hash joins,
    # windows partitioned.
    # the cache BUILD itself must ride the block-pair kernel (the r09
    # verdict's last live BNLJ): its persisted plan shows the
    # grouped-pandas kernel exchange and no nested loop anywhere
    topk = similarity.materialized_knn_topk_df(emb)  # warm the cache
    topk_plan = I.explain_str(topk, "formatted")
    assert "BroadcastNestedLoopJoin" not in topk_plan, topk_plan
    assert "FlatMapGroupsInPandas" in topk_plan, topk_plan
    ge = similarity.ann_graph_expand(emb)
    # outside-cache variant: the cached relation RENDERS its build plan
    # (the sanctioned Arrow kernel) inline; X12's own serving work must
    # still be Python-free
    assert not I.has_python_worker_outside_cache(ge)
    assert I.single_partition_windows(ge) == 0
    ge_cached = ge._jdf.queryExecution().withCachedData().toString()
    assert ge_cached.count("InMemoryRelation") == 1, ge_cached[:2000]
    # X13 hops twice through the SAME cached relation: the hop1 tier
    # references it once, and the hop2 tier nests hop1's reference plus
    # its own — three cached-leaf occurrences, zero rebuilt pair loops
    ge2 = similarity.ann_graph_expand2(emb)
    ge2_cached = ge2._jdf.queryExecution().withCachedData().toString()
    assert ge2_cached.count("InMemoryRelation") == 3, ge2_cached[:2000]
    # the theorem the op documents: expanding candidates can only help
    rows = ge.collect()
    assert rows and all(
        r.recall_graph >= r.recall_seed for r in rows
    )
    # X13: the depth curve shares the shape and extends the theorem
    # across the whole curve — and its 1-hop level must agree with X12
    ge2 = similarity.ann_graph_expand2(emb)
    assert not I.has_python_worker_outside_cache(ge2)
    assert I.single_partition_windows(ge2) == 0
    rows2 = ge2.collect()
    assert rows2 and all(
        r.recall_hop2 >= r.recall_hop1 >= r.recall_seed for r in rows2
    )
    hop1_by_q = {r.query_id: r.recall_hop1 for r in rows2}
    assert all(hop1_by_q[r.query_id] == r.recall_graph for r in rows)
    pidx = dedup.duplicate_passage_index(docs)
    assert not I.has_python_worker(pidx)
    assert not I.has_cartesian(pidx)
    # D2d: the sweep must stay ONE candidate scan — the thresholds
    # relation broadcasts into the scored-pair filter (never a shuffle),
    # and no corpus-wide window appears at any sweep width
    sweep = dedup.dedup_threshold_sweep(docs)
    assert not I.has_python_worker(sweep)
    assert I.single_partition_windows(sweep) == 0
    assert "BroadcastHashJoin" in I.explain_str(sweep, "simple") or (
        "BroadcastNestedLoopJoin" in I.explain_str(sweep, "simple")
    )
    ewma = relational.QUERIES["events_volume_ewma"](spark, SF_ORACLE)
    assert not I.has_python_worker(ewma)
    assert I.single_partition_windows(ewma) == 0


def test_bpe_train_plan_gates(spark):
    """L2c gates: the training loop's per-iteration pair ranking is a
    distributed TakeOrderedAndProject (never a single-partition window),
    Python-free; the word table is ONE map-side-combined aggregate over
    the corpus (exactly one Exchange, the groupBy) — at 100 TB the
    corpus is scanned once and every merge iteration touches only the
    vocabulary-sized relation."""
    from spark_history_server_rs_spark.operators import dedup, llmprep
    from spark_history_server_rs_spark.sources.generic import load_table

    # the word-table gate asserts the UNCACHED plan shape; a prior test
    # (the registry-wide window sweep builds bpe_vocab_curve) may have
    # filled the _llm_bpe_wt0 cache, and Spark then substitutes the
    # InMemoryRelation into ANY semantically-equal subplan — clear first
    dedup.clear_materialized_caches()
    docs = load_table(spark, SF_ORACLE, "documents")
    wt = llmprep._bpe_word_table(docs)
    wt_plan = I.explain_str(wt, "simple")
    assert not I.has_python_worker(wt)
    assert wt_plan.count("Exchange") == 1  # the word groupBy, nothing else
    ranking = llmprep._bpe_pair_ranking(wt)
    assert "TakeOrderedAndProject" in I.explain_str(ranking, "simple")
    assert I.single_partition_windows(ranking) == 0
    assert not I.has_python_worker(ranking)
    # L2f: the compression audit inherits the encode shape — Python-free,
    # no cartesian, no corpus-wide window; its wide aggregate keys on
    # (source, lang, word), so the vocab join sees pre-aggregated rows
    comp = llmprep.bpe_compression(docs)
    assert not I.has_python_worker(comp)
    assert not I.has_cartesian(comp)
    assert I.single_partition_windows(comp) == 0
    # L2g: every per-rank branch must scan the CACHED word table, not
    # re-scan the corpus (Spark does not reuse the aggregate exchange
    # across union branches — measured 20 parquet scans uncached)
    curve = llmprep.bpe_vocab_curve(docs)
    assert not I.has_python_worker(curve)
    curve_plan = (
        curve._jdf.queryExecution().executedPlan().toString()
    )
    assert curve_plan.count("InMemoryTableScan") >= (
        llmprep.BPE_TRAIN_MERGES + 1
    )


def test_ann_index_codes_scan_partition_prunes(spark, tmp_path):
    """The served IVFADC query must read the cell-partitioned codes/
    relation with DYNAMIC partition pruning to the probed cells — the
    property that makes a probe O(cells visited), not O(corpus), at
    100 TB. (The narrow max-ingest_seq aggregate deliberately scans all
    cells: it reads two small columns and must see every row.)"""
    from spark_history_server_rs_spark.sources.ann_index import (
        ann_ivf_pq_from_index,
        write_ann_index,
    )
    from spark_history_server_rs_spark.sources.generic import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    path = str(tmp_path / "gate_ann")
    write_ann_index(emb, path)
    plan = (
        ann_ivf_pq_from_index(spark, path, emb)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # codes/ is the only label-partitioned relation in this plan, so a
    # dynamic-pruning partition filter on `label` can only be its scan
    # (FileScan metadata truncates long tmp paths, so don't match paths)
    assert "dynamicpruningexpression(label" in plan, plan[-3000:]

    # the serving-time nprobe knob: pruning survives any width, and a
    # wider probe can only ADD probed cells per query
    plan1 = (
        ann_ivf_pq_from_index(spark, path, emb, nprobe=1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "dynamicpruningexpression(label" in plan1
    cells_1 = {
        (r.query_id, r.probed_label)
        for r in ann_ivf_pq_from_index(spark, path, emb, nprobe=1).collect()
    }
    cells_3 = {
        (r.query_id, r.probed_label)
        for r in ann_ivf_pq_from_index(spark, path, emb, nprobe=3).collect()
    }
    assert {c[1] for c in cells_1} <= {c[1] for c in cells_3}


def test_bpe_train_bounded_lineage_at_k64(spark, monkeypatch):
    """The training loop must survive a realistic merge count: plan size
    is bounded by the localCheckpoint cadence (NOT monotonically growing
    with k), k=64 completes, and greedy determinism makes the k=64
    result prefix-stable with the registered-k operator. Measures the
    optimized plan each iteration through a _bpe_pair_ranking spy — the
    same plan AQE renders, which is what OOM'd at merge ~14 under the
    old persist-per-iteration shape (nested InMemoryRelation strings
    double per merge)."""
    from spark_history_server_rs_spark.operators import llmprep
    from spark_history_server_rs_spark.sources.generic import load_table

    # this test pins the DISTRIBUTED loop's lineage boundedness; force
    # it — the driver-local small-vocabulary fast path (result-identical,
    # pinned by test_bpe_local_trainer_matches_distributed) never builds
    # the checkpoint chain under test here
    monkeypatch.setattr(llmprep, "_BPE_LOCAL_TRAIN_MAX_WORDS", -1)
    docs = load_table(spark, SF_SMALL, "documents")
    sizes: list[int] = []
    orig = llmprep._bpe_pair_ranking

    def spy(wt, *args, **kwargs):
        sizes.append(
            len(wt._jdf.queryExecution().optimizedPlan().toString())
        )
        return orig(wt, *args, **kwargs)

    monkeypatch.setattr(llmprep, "_bpe_pair_ranking", spy)
    k, cad = 64, llmprep.BPE_CHECKPOINT_EVERY
    merges = [tuple(r) for r in llmprep.bpe_train_k(docs, k).collect()]
    assert len(merges) == k and len(sizes) == k
    # bounded: the iteration right after each checkpoint sees the SAME
    # small truncated plan (LogicalRDD + a fresh chain), cycle after
    # cycle — no growth across cycles
    post_ckpt = [sizes[i] for i in range(cad, k, cad)]
    assert len(set(post_ckpt)) <= 2  # identical shape (± literal widths)
    assert max(post_ckpt) < sizes[cad - 1]  # a checkpoint shrinks the plan
    # within-cycle growth is linear (≈ the per-merge projection text),
    # never the doubling of the nested-cache shape
    per_iter = [b - a for a, b in zip(sizes[1:cad - 1], sizes[2:cad])]
    assert max(per_iter) < 3 * max(1, min(p for p in per_iter if p > 0))
    assert max(sizes) < 50_000  # chars; the broken shape hit 23 MB
    # prefix stability vs the registered operator
    monkeypatch.setattr(llmprep, "_bpe_pair_ranking", orig)
    llmprep._clear_bpe_cache()
    m8 = [tuple(r) for r in llmprep.bpe_train(docs).collect()]
    assert merges[: llmprep.BPE_TRAIN_MERGES] == m8
    # retired anchors must FREE their storage now, not at the next JVM
    # GC: Dataset.unpersist() is a no-op for localCheckpoint'ed anchors
    # (blocks belong to the checkpointed RDD, not the CacheManager) —
    # without the explicit release, ~k/cadence dead word tables linger
    llmprep._clear_bpe_cache()
    from spark_history_server_rs_spark.operators import dedup as _dedup

    _dedup.clear_materialized_caches()
    spark.catalog.clearCache()
    # other suite components may legitimately hold localCheckpoint
    # blocks at this moment (catalog.clearCache does not reap RDD-level
    # checkpoints) — the contract under test is that BPE training
    # retires ITS anchors, i.e. zero NET storage growth across a run
    before = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    llmprep._train_merges(docs, 40)  # 2 checkpoints retired + finally
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    assert len(infos) <= before, [i.name() for i in infos]


def test_knn_graph_index_scan_partition_prunes(spark, tmp_path):
    """The served graph expansion must read the src_bucket-partitioned
    edges/ relation pruned to the probed buckets (the IN-subquery over
    seed candidates is a dynamic partition filter) — the property that
    makes a graph hop O(buckets probed), not O(edge list), at 100 TB.
    Also: the serving plan contains NO pair-loop join (the popcount
    prefilter fold belongs to the INDEX build, never the query)."""
    from spark_history_server_rs_spark.sources.generic import load_table
    from spark_history_server_rs_spark.sources.knn_graph import (
        ann_graph_expand_from_index,
        write_knn_graph,
    )

    emb = load_table(spark, SF_ORACLE, "embeddings")
    path = str(tmp_path / "gate_knng")
    write_knn_graph(emb, path)
    df = ann_graph_expand_from_index(spark, path, emb)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the edges scan carries a subquery partition filter on src_bucket
    # (rendered as dynamicpruning/subquery inside PartitionFilters)
    scan_lines = [
        ln for ln in plan.splitlines()
        if "PartitionFilters" in ln and "src_bucket" in ln
    ]
    assert scan_lines, plan[-3000:]
    assert any(
        "dynamicpruning" in ln.lower() or "subquery" in ln.lower()
        for ln in scan_lines
    ), scan_lines
    # no sketch-prefilter pair loop in the serving plan: bit_count is
    # the build-time popcount — its presence here would mean the graph
    # was rebuilt inline after all
    assert "bit_count" not in plan


def test_kmeans_train_bounded_driver_payload_at_k64(spark, monkeypatch):
    """The Lloyd trainer at a non-toy codebook size (k=64): centroids
    must travel as a DataFrame (scoped-view join), NEVER as SQL VALUES
    literals, and the driver must collect only per-step scalars (k rows
    a step, never k × dims values) — the same driver-bottleneck class
    as the BPE plan blowup, pinned the same way. Also: per-step plans
    are bounded (fresh query over cached elems + a LogicalRDD anchor),
    the run is deterministic, and retired anchors free their storage
    (zero net cached-RDD growth)."""
    from spark_history_server_rs_spark.operators import llmprep
    from spark_history_server_rs_spark.sources.generic import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings")
    DataFrame = type(emb)  # the concrete class (classic.DataFrame)
    k, steps = 64, 4

    sql_lens: list[int] = []
    orig_sql = spark.sql

    def sql_spy(query, *a, **kw):
        sql_lens.append(len(query))
        return orig_sql(query, *a, **kw)

    monkeypatch.setattr(spark, "sql", sql_spy)

    collect_sizes: list[int] = []
    orig_collect = DataFrame.collect

    def collect_spy(self):
        out = orig_collect(self)
        collect_sizes.append(len(out))
        return out

    monkeypatch.setattr(DataFrame, "collect", collect_spy)

    ckpt_plans: list[int] = []
    orig_ckpt = DataFrame.localCheckpoint

    def ckpt_spy(self, eager=True):
        ckpt_plans.append(
            len(self._jdf.queryExecution().optimizedPlan().toString())
        )
        return orig_ckpt(self, eager)

    monkeypatch.setattr(DataFrame, "localCheckpoint", ckpt_spy)

    before = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    rows, anchor = llmprep._km_train(emb, steps, k=k)
    llmprep._retire_anchor(anchor)

    # every SQL string is centroid-free: the old VALUES shape at k=64 ×
    # d=64 would be ~4096 integer triples (>> 50 KB); the view-join
    # shape stays template-sized at ANY k
    assert max(sql_lens) < 10_000, max(sql_lens)
    # driver payload per collect is O(k) scalar rows, never k × dims
    assert max(collect_sizes) <= k, collect_sizes
    # one stats collect per step (+ the seed's 1-row emptiness probe,
    # whose take() routes through collect)
    assert len(collect_sizes) <= steps + 1
    # per-step checkpointed plans are flat across steps (entries:
    # seed, step 1..steps — each a fresh query over the same two views)
    step_plans = ckpt_plans[1:]
    assert max(step_plans) < 2 * min(step_plans), ckpt_plans
    assert max(ckpt_plans) < 60_000
    # all 64 seeds produce rows each step (sf0.01: 500 vectors ≥ 64
    # non-empty clusters is not guaranteed — but every step's sizes must
    # sum to the corpus size)
    n_vec = emb.where("embedding IS NOT NULL").count()
    for s in range(1, steps + 1):
        assert sum(r[2] for r in rows if r[0] == s) == n_vec
    # deterministic re-run
    monkeypatch.setattr(DataFrame, "collect", orig_collect)
    rows2, anchor2 = llmprep._km_train(emb, steps, k=k)
    llmprep._retire_anchor(anchor2)
    assert rows == rows2
    # zero net storage growth: anchors + elems all released
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    assert len(infos) <= before, [i.name() for i in infos]


def test_rolling_active_users_approx_close_to_exact(spark):
    """R33b vs R33 at sf0.01: per-day DAU/WAU estimates within 5 % (the
    documented lgk=12 band, ~1.6 % RSE, with union-compounding slack)
    and WAU_est >= DAU_est day-by-day (a union can only grow a sketch).
    This pin is R33b's correctness gate — sketch estimates are
    algorithm-specific, so no DuckDB oracle twin can exist. Also the
    plan gate: the sketch path must have NO distinct-aggregate expand
    of (app, day) pairs — one sketch aggregate, sketch algebra after."""
    from spark_history_server_rs_spark.operators import relational
    from spark_history_server_rs_spark.sources.generic import load_events

    ev = load_events(spark, SF_ORACLE)
    exact = {
        r.epoch_day: r
        for r in relational.QUERIES["rolling_active_users"](
            spark, SF_ORACLE
        ).collect()
    }
    approx_df = relational.rolling_active_users_approx(ev)
    assert not I.has_python_worker(approx_df)
    approx = {r.epoch_day: r for r in approx_df.collect()}
    assert set(exact) == set(approx)
    for day in sorted(exact):
        e, a = exact[day], approx[day]
        assert abs(a.dau_est - e.dau) <= max(0.05 * e.dau, 2), (day, e, a)
        assert abs(a.wau_est - e.wau) <= max(0.05 * e.wau, 2), (day, e, a)
        assert a.wau_est >= a.dau_est, (day, a)


def test_driver_window_invariant():
    """The registry's window rule, mechanically (VERDICT r08 #7): the
    driver checks the FIRST 50 registrations only, so (a) the declared
    window is exactly 50 names and IS the first 50 registrations, (b)
    every query declared changed-this-round (_CHANGED_THIS_ROUND) sits
    inside it — the class of miss r08 flagged (a rewrite shipping
    outside the window) now fails the suite — and (c) every registered
    query has a DuckDB oracle twin (a registered no-oracle op records a
    permanently-red driver row)."""
    import __spark_entry__ as entrymod

    names = list(entrymod.queries())
    window = list(dict.fromkeys(entrymod._SENTINELS))
    assert len(window) == 50, len(window)
    assert names[:50] == window
    missing = set(entrymod._CHANGED_THIS_ROUND) - set(window)
    assert not missing, f"changed-this-round queries outside window: {missing}"
    oracles = entrymod.oracle_sql()
    no_oracle = [n for n in names if n not in oracles]
    assert not no_oracle, no_oracle


def test_rollup_registry_follows_twin_table():
    """The registered ``*_rollup`` queries and their oracle aliases are
    derived from ``metrics_rollup.ROLLUP_TWINS`` — exactly one per twin,
    each alias the raw twin's oracle verbatim."""
    import __spark_entry__ as entrymod

    from spark_history_server_rs_spark.operators.oracles import ORACLE_SQL
    from spark_history_server_rs_spark.sources.metrics_rollup import (
        ROLLUP_TWINS,
    )

    want = {f"{n}_rollup" for n in ROLLUP_TWINS}
    assert {n for n in entrymod.queries() if n.endswith("_rollup")} == want
    assert {n for n in ORACLE_SQL if n.endswith("_rollup")} == want
    for n in ROLLUP_TWINS:
        assert ORACLE_SQL[f"{n}_rollup"] == ORACLE_SQL[n]


def test_knn_graph_build_plan_block_kernel(spark, tmp_path):
    """The S16 build's pair enumeration (VERDICT r08 #1): candidates run
    through balanced block-pair groups feeding the vectorized Arrow
    kernel — the plan must show the grouped-pandas exchange and NO
    BroadcastNestedLoopJoin (the r08 build evaluated O(n²) Catalyst
    folds through one). The node scan feeding it must be pruned to
    (vec_id, nv, sketch) plus the block key — never the raw embeddings.
    Same gates for the stream updater's edge derivation, whose stored
    side must also arrive via a real join (anti-join on the batch ids),
    not a nested loop."""
    from spark_history_server_rs_spark.sources.knn_graph import (
        _stream_edges_df,
        knn_graph_edges_df,
        write_knn_graph,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    path = str(tmp_path / "knng_plan")
    write_knn_graph(emb, path)
    nodes = spark.read.parquet(f"{path}/nodes")

    build = knn_graph_edges_df(nodes)
    s = I.explain_str(build, "formatted")
    assert "BroadcastNestedLoopJoin" not in s, s
    assert "FlatMapGroupsInPandas" in s, s
    # the τ/popcount fold happens in the kernel; JVM-side the only
    # float work is carrying nv through the shuffle
    assert build.count() > 0

    stream = _stream_edges_df(
        nodes.where("vec_id >= 400"), nodes
    )
    ss = I.explain_str(stream, "formatted")
    assert "BroadcastNestedLoopJoin" not in ss, ss
    # batch-internal pairs ride the blocked self kernel...
    assert "FlatMapGroupsInPandas" in ss, ss
    # ...while the batch × stored cross rides the BROADCAST kernel: the
    # stored corpus is consumed by a narrow MapInPandas — no shuffle
    # anywhere on its path (the only exchanges in the stream plan belong
    # to the tiny batch-internal group-by)
    assert "MapInPandas" in ss, ss
    # stored-side exclusion of the arriving ids is a broadcast anti-join
    assert "LeftAnti" in ss, ss

    from spark_history_server_rs_spark.functions.blockpair import (
        pair_edges_broadcast_cross,
    )
    from spark_history_server_rs_spark.operators.dedup import hamming_cutoff
    from spark_history_server_rs_spark.operators.similarity import (
        KNN_GRAPH_TAU,
    )

    cross_only = pair_edges_broadcast_cross(
        nodes.where("vec_id >= 400"),
        nodes.where("vec_id < 400"),
        KNN_GRAPH_TAU,
        hamming_cutoff(KNN_GRAPH_TAU),
    )
    sc = I.explain_str(cross_only, "formatted")
    assert "MapInPandas" in sc, sc
    assert "Exchange" not in sc, sc  # narrow end to end


def test_dedup_index_serving_twins_ride_cached_relations(spark, tmp_path):
    """The S13 serving twins (pairs, probe, sweep) are DataFrame-
    composed so the distinct index relations materialize once per
    index state and every downstream reference reads the cache — the
    WITH spelling disabled InMemoryRelation substitution plan-wide and
    re-scanned the index parquet per CTE reference (measured 6-13
    scans per call). Gate: each twin's executed plan carries
    InMemoryTableScan nodes."""
    from spark_history_server_rs_spark.operators import dedup
    from spark_history_server_rs_spark.sources.dedup_index import (
        dedup_threshold_sweep_from_index,
        minhash_lsh_pairs_from_index,
        minhash_lsh_probe_index,
        write_dedup_index,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    path = str(tmp_path / "twin_cache_idx")
    write_dedup_index(docs.where("doc_id < 450"), path)
    dedup.clear_materialized_caches()
    for df in (
        minhash_lsh_pairs_from_index(spark, path),
        minhash_lsh_probe_index(spark, path, docs.where("doc_id >= 450")),
        dedup_threshold_sweep_from_index(spark, path),
    ):
        ex = I.executed_plan(df)
        assert "InMemoryTableScan" in ex, ex[:1500]
        assert df.count() >= 0
    dedup.clear_materialized_caches()


def test_knn_graph_stream_batch_guard(spark, tmp_path, monkeypatch):
    """The S16 stream's broadcast topology collects the micro-batch onto
    the driver — sound only while the batch is bounded. Above
    STREAM_BROADCAST_MAX_ROWS (availableNow's first trigger over a big
    backlog) the edge derivation must route through the blocked cross
    kernel instead: same edge set (pinned row-for-row against the
    broadcast path), NO MapInPandas (the broadcast path's marker — the
    guarded plan's python stages are all grouped-kernel), and the
    streamed index still equals the batch rebuild end to end."""
    from spark_history_server_rs_spark.operators import similarity
    from spark_history_server_rs_spark.sources import knn_graph as kg

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    path = str(tmp_path / "knng_guard")
    kg.write_knn_graph(emb, path)
    nodes = spark.read.parquet(f"{path}/nodes")
    batch, stored = nodes.where("vec_id >= 400"), nodes

    small = sorted(
        tuple(r) for r in kg._stream_edges_df(batch, stored).collect()
    )
    monkeypatch.setattr(kg, "STREAM_BROADCAST_MAX_ROWS", 0)
    guarded_df = kg._stream_edges_df(batch, stored)
    s = I.explain_str(guarded_df, "formatted")
    assert "MapInPandas" not in s, s
    assert "FlatMapGroupsInPandas" in s, s
    assert "BroadcastNestedLoopJoin" not in s, s
    assert sorted(tuple(r) for r in guarded_df.collect()) == small

    # end to end: an incremental index whose one streamed batch exceeds
    # the guard serves the same graph as the live operator
    path2 = str(tmp_path / "knng_guard_inc")
    kg.write_knn_graph(emb.where("vec_id < 350"), path2)
    src = tmp_path / "knng_guard_arrivals"
    emb.where("vec_id >= 350").coalesce(1).write.parquet(str(src))
    q = kg.stream_update_knn_graph(
        spark.readStream.schema(
            "vec_id long, embedding array<float>, label int"
        ).parquet(str(src)),
        path2,
        str(tmp_path / "knng_guard_ckpt"),
    )
    q.awaitTermination(180)
    assert [
        tuple(r) for r in kg.ann_knn_graph_from_index(spark, path2).collect()
    ] == [tuple(r) for r in similarity.ann_knn_graph(emb).collect()]


def test_blockpair_kernel_modes_agree(spark):
    """The block-pair kernel's four mode combinations state one pair
    set: self+mirror (graph adjacency) is exactly the mirrored closure
    of self+unmirrored (dedup pair reports), and cross mode over a
    split corpus reproduces exactly the cross-split subset — at several
    block sizes, so diagonal/off-diagonal group handling and the
    empty-block guard all get exercised."""
    from spark_history_server_rs_spark.functions.blockpair import (
        pair_edges_blocked,
    )
    from spark_history_server_rs_spark.operators.dedup import (
        _NORM,
        _dedup_sketch_expr,
        hamming_cutoff,
    )
    from spark_history_server_rs_spark.functions.views import scoped_temp_view
    from spark_history_server_rs_spark.sources.generic import load_table

    emb = load_table(spark, SF_ORACLE, "embeddings").where(
        "embedding IS NOT NULL AND vec_id IS NOT NULL"
    )
    with scoped_temp_view(emb, "_bp_emb") as ev:
        nodes = spark.sql(
            """
SELECT vec_id,
       transform(embedding, x -> CASE WHEN {n} = 0 THEN CAST(0.0 AS DOUBLE)
                                 ELSE CAST(x AS DOUBLE) / {n} END) AS nv,
       {s} AS sketch
FROM {src}
""".format(n=_NORM.format(v="embedding"), s=_dedup_sketch_expr("embedding"),
           src=ev)
        ).cache()
        nodes.count()
    tau, hmax = 0.4, hamming_cutoff(0.4)
    base = None
    for rpb in (4096, 97):
        half = sorted(
            tuple(r)
            for r in pair_edges_blocked(
                nodes, tau, hmax, rows_per_block=rpb, mirror=False
            ).collect()
        )
        full = sorted(
            tuple(r)
            for r in pair_edges_blocked(
                nodes, tau, hmax, rows_per_block=rpb
            ).collect()
        )
        assert len(half) > 0
        mirrored = sorted(
            half + [(b, a, c) for (a, b, c) in half]
        )
        assert full == mirrored, rpb
        if base is None:
            base = half
        else:
            assert half == base  # block size cannot change the pair set

        new = nodes.where("vec_id >= 400")
        old = nodes.where("vec_id < 400")
        cross_half = sorted(
            tuple(r)
            for r in pair_edges_blocked(
                new, tau, hmax, right=old, rows_per_block=rpb, mirror=False
            ).collect()
        )
        expected = sorted(
            t for t in base if (t[0] >= 400) != (t[1] >= 400)
        )
        assert cross_half == expected, rpb

    # the streaming topology (small side broadcast, stored side narrow)
    # states the same cross pair set as the blocked form, mirrored
    from spark_history_server_rs_spark.functions.blockpair import (
        pair_edges_broadcast_cross,
    )

    new = nodes.where("vec_id >= 400")
    old = nodes.where("vec_id < 400")
    bcast = sorted(
        tuple(r)
        for r in pair_edges_broadcast_cross(new, old, tau, hmax).collect()
    )
    expected_m = sorted(
        [(a, b, c) for (a, b, c) in expected] +
        [(b, a, c) for (a, b, c) in expected]
    )
    assert bcast == expected_m
    nodes.unpersist()


def test_multimodal_codec_real_wav_decode_golden(spark):
    """A REAL decoder through the M3 extension point (VERDICT r12 #5,
    the PNG pattern verbatim): the stdlib-only RIFF/PCM parser (chunk
    walk + fmt/data validation + first-channel extraction + top-byte
    8-bit mapping) decodes the checked-in 16-bit stereo fixture to its
    golden samples, runs end-to-end through the same Arrow mapInPandas
    plumbing as the stand-in — window values matching a hand-computed
    expectation — and fails LOUD on corrupted or truncated payloads.
    The synthetic-bytes stand-in is separately pinned result-identical
    to the registered column-expression default."""
    import hashlib
    import math
    import os
    import struct

    import pytest as _pytest

    from spark_history_server_rs_spark.operators import multimodal

    fixture = os.path.join(
        os.path.dirname(__file__), "fixtures", "tiny_pcm.wav"
    )
    wav = open(fixture, "rb").read()
    assert hashlib.md5(wav).hexdigest() == (
        "5612cf43d121bbbeacbe56730564e7db"
    )  # the fixture itself is pinned

    codec = multimodal.wav_decode()
    golden = [(i * 5) % 256 for i in range(48)]  # channel 0 of the fixture
    assert codec(wav) == golden
    assert codec.info(wav) == (2, 8000, 16, 48)

    # end-to-end through the Arrow plumbing with a hand-computed pin
    from pyspark.sql import functions as F

    pdf = spark.createDataFrame(
        [(1, wav)], "doc_id long, payload binary"
    ).select("doc_id", "payload", F.lit("audio/wav").alias("format"))
    plan = multimodal.audio_windows_payloads(pdf, codec)
    assert I.has_python_worker(plan)
    got = [tuple(r) for r in plan.collect()]
    w, h = multimodal.AUDIO_WINDOW, multimodal.AUDIO_HOP
    expected = []
    for idx in range((48 - w) // h + 1):
        chunk = golden[idx * h:idx * h + w]
        energy = sum(s * s for s in chunk)
        rms = math.floor(math.sqrt(energy / w) * 10000.0 + 0.5) / 10000.0
        expected.append((1, idx, idx * h, energy, max(chunk), rms))
    assert got == expected and len(got) == 2

    # corruption fails loud: a lying fmt chunk (block_align that
    # contradicts channels x bits), a truncated data chunk, a non-PCM
    # format tag, and a bad signature
    bad_align = bytearray(wav)
    # fmt chunk body starts at byte 20; block_align is bytes 12-13 of it
    assert bad_align[12:16] == b"fmt "
    bad_align[32] ^= 0xFF
    with _pytest.raises(ValueError, match="block_align"):
        codec(bytes(bad_align))
    with _pytest.raises(ValueError, match="RIFF size mismatch"):
        codec(wav[:-10])
    non_pcm = bytearray(wav)
    non_pcm[20] = 3  # IEEE-float format tag
    with _pytest.raises(ValueError, match="integer PCM only"):
        codec(bytes(non_pcm))
    with _pytest.raises(ValueError, match="bad RIFF signature"):
        codec(b"JUNK" + wav[4:])

    # the stand-in decoder through the SAME plumbing reproduces the
    # registered default plan exactly (the fake_geometry_decode pin,
    # M3 edition)
    from spark_history_server_rs_spark.sources.generic import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    default = [tuple(r) for r in multimodal.audio_windows(docs).collect()]
    codec_path = [
        tuple(r)
        for r in multimodal.audio_windows(
            docs, use_codec=True,
            decode_fn=multimodal.synthetic_bytes_decode(),
        ).collect()
    ]
    assert default == codec_path and default


def test_scoped_temp_view_drop_keeps_backing_cache(spark):
    """r14 views fix: dropping a scoped temp view must NOT uncache the
    frame it wrapped. Spark 4's ``spark.catalog.dropTempView`` cascades
    an uncache through every cached plan the view definition matches —
    and a scoped view's definition IS the wrapped DataFrame's plan, so
    the old drop silently unpersisted every ``_materialized_df`` derived
    relation (and caller-persisted corpus frames) the first time an
    operator viewed them; every warm run then recomputed fingerprint
    folds/shingles from the source scan. The helper now drops the NAME
    only (SessionCatalog), so the cache must survive the with-block."""
    from spark_history_server_rs_spark.functions.views import (
        scoped_temp_view,
    )

    df = spark.range(0, 100).selectExpr(
        "id AS doc_id", "id * 7 AS payload"
    ).persist()
    try:
        df.count()
        jcm = spark._jsparkSession.sharedState().cacheManager()
        assert jcm.lookupCachedData(df._jdf).isDefined()
        with scoped_temp_view(df, "_plans_cache_pin") as v:
            assert spark.sql(f"SELECT SUM(payload) FROM {v}").collect()
        # the name is gone ...
        assert [
            t.name for t in spark.catalog.listTables()
            if t.name.startswith("_plans_cache_pin")
        ] == []
        # ... but the storage is not
        assert jcm.lookupCachedData(df._jdf).isDefined(), (
            "scoped_temp_view drop uncached the backing frame — the "
            "derived-relation caches never serve (r14 regression)"
        )
    finally:
        df.unpersist()


def test_simhash_warm_plan_rides_fingerprint_cache(spark):
    """r14: with the views fix in place, the pair query's physical plan
    must read the materialized fingerprint relation
    (InMemoryTableScan), not recompute the 32-bit fold from the source
    scan on both join sides (the shape the r14 optimization round found
    serving every warm call)."""
    from spark_history_server_rs_spark.operators import dedup
    from spark_history_server_rs_spark.sources.generic import load_table

    dedup.clear_materialized_caches()
    docs = load_table(spark, SF_ORACLE, "documents")
    try:
        dedup.simhash_pairs(docs).collect()  # builds + caches fps
        plan = (
            dedup.simhash_pairs(docs)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "InMemoryTableScan" in plan, (
            "warm simhash_pairs recomputes fingerprints — the fps "
            "materialization is not reaching the plan"
        )
    finally:
        dedup.clear_materialized_caches()


def test_bpe_chain_width_scales_with_vocabulary(spark):
    """r14: the BPE training chain's anchors are coalesced to a
    size-derived width (1 partition at test vocabularies), so each of
    the k sequential ranking jobs schedules O(width) tasks instead of a
    full shuffle-width stage of near-empty tasks."""
    from spark_history_server_rs_spark.operators import llmprep
    from spark_history_server_rs_spark.sources.generic import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    wt0 = llmprep._bpe_word_table(docs).persist()
    try:
        n_words = wt0.count()
        width = max(
            1,
            min(
                int(spark.sparkContext.defaultParallelism),
                (n_words + llmprep._BPE_WORDS_PER_PART - 1)
                // llmprep._BPE_WORDS_PER_PART,
            ),
        )
        anchor = wt0.coalesce(width).localCheckpoint(eager=True)
        try:
            assert anchor.rdd.getNumPartitions() == width == 1
            # r14 second pass: at width 1 the per-iteration ranking is a
            # SINGLE stage — coalesce(1) reports SinglePartition, the
            # groupBy's clustered distribution is satisfied, and no
            # Exchange is planned; the exact top-1 stays a
            # TakeOrderedAndProject. At width > 1 the explicit
            # repartition keeps exactly one exchange.
            one = I.explain_str(
                llmprep._bpe_pair_ranking(anchor, 1), "simple"
            )
            assert "Exchange" not in one
            assert "TakeOrderedAndProject" in one
            wide = I.explain_str(
                llmprep._bpe_pair_ranking(anchor, 2), "simple"
            )
            assert wide.count("Exchange") == 1
        finally:
            llmprep._retire_anchor(anchor)
    finally:
        wt0.unpersist()


def test_bpe_local_trainer_matches_distributed(spark, monkeypatch):
    """r14: vocabularies at or below _BPE_LOCAL_TRAIN_MAX_WORDS train
    driver-locally (one bounded collect, k in-memory merges) instead of
    k sequential single-task Spark jobs. The fast path must be
    BIT-IDENTICAL to the distributed loop: same exact integer pair
    counts, same (n DESC, pair ASC) tie-break (Python code-point order
    == UTF8String binary order), same greedy left-to-right
    non-overlapping merge (== the boundary-anchored double-space
    replace). Pinned: real corpus, adversarial corpora (overlap runs,
    exact ties, unicode, merge exhaustion), and seeded fuzz."""
    import random

    from spark_history_server_rs_spark.operators import llmprep
    from spark_history_server_rs_spark.sources.generic import load_table

    # restore the ORIGINAL module value, never a hardcoded copy of it
    # (ADVICE r14: a changed production cap would silently diverge
    # mid-test otherwise)
    _orig_cap = llmprep._BPE_LOCAL_TRAIN_MAX_WORDS

    def distributed(docs, k):
        monkeypatch.setattr(llmprep, "_BPE_LOCAL_TRAIN_MAX_WORDS", -1)
        try:
            return llmprep._train_merges(docs, k)
        finally:
            monkeypatch.setattr(
                llmprep, "_BPE_LOCAL_TRAIN_MAX_WORDS", _orig_cap
            )

    def local(docs, k):
        rows = [
            (r["sym"], r["cnt"])
            for r in llmprep._bpe_word_table(docs).collect()
        ]
        return llmprep._train_merges_local(rows, k)

    # the default path at a test-scale vocabulary must BE the local one
    # (no ranking jobs at all)
    docs = load_table(spark, SF_SMALL, "documents")
    calls: list[int] = []
    orig = llmprep._bpe_pair_ranking

    def spy(wt, *a, **kw):
        calls.append(1)
        return orig(wt, *a, **kw)

    monkeypatch.setattr(llmprep, "_bpe_pair_ranking", spy)
    via_default = llmprep._train_merges(docs, 8)
    assert not calls, "small vocabulary still ran distributed rankings"
    # the symbol-mass guard (ADVICE r14): a table under the word cap
    # but over the char cap must take the DISTRIBUTED path — the local
    # loop's cost is O(symbols), not O(rows)
    _orig_mass = llmprep._BPE_LOCAL_TRAIN_MAX_SYM_CHARS
    monkeypatch.setattr(llmprep, "_BPE_LOCAL_TRAIN_MAX_SYM_CHARS", 1)
    via_mass_gate = llmprep._train_merges(docs, 8)
    assert calls, "symbol-mass gate did not route to the distributed loop"
    monkeypatch.setattr(
        llmprep, "_BPE_LOCAL_TRAIN_MAX_SYM_CHARS", _orig_mass
    )
    monkeypatch.setattr(llmprep, "_bpe_pair_ranking", orig)
    assert via_default == via_mass_gate
    assert via_default == distributed(docs, 8) == local(docs, 8)

    # real corpus at the registered k and a deep k
    assert local(docs, 64) == distributed(docs, 64)

    # adversarial: overlapping same-symbol runs (non-overlapping greedy
    # application), exact count ties (pair-string tie-break), unicode
    # (byte-order vs code-point order), merge exhaustion before k,
    # empty/whitespace docs, merged-token-adjacent-to-its-parts traps
    adversarial = spark.createDataFrame(
        [
            ("aaaa aaa aa a",),
            ("ab ab ab abab ab",),
            ("éé é café 世界 世世界",),
            ("zz zz zz z zzz",),
            ("tie1 tie2 tie1 tie2",),
            ("q",),
            ("",),
            ("  spaced   out  ",),
            ("abc bcd cde abc bcd",),
            ("aa ab ba bb aa ab",),
        ],
        "text string",
    )
    for k in (1, 8, 64):
        assert local(adversarial, k) == distributed(adversarial, k)

    # seeded fuzz: tiny alphabets maximize pair collisions and ties
    rng = random.Random(1729)
    for trial in range(3):
        alpha = "ab" if trial == 0 else "abc"
        rows = [
            (
                " ".join(
                    "".join(
                        rng.choice(alpha)
                        for _ in range(rng.randint(1, 9))
                    )
                    for _ in range(rng.randint(1, 6))
                ),
            )
            for _ in range(40)
        ]
        fuzz = spark.createDataFrame(rows, "text string")
        assert local(fuzz, 16) == distributed(fuzz, 16), (
            "fuzz trial diverged",
            trial,
        )


def test_release_local_checkpoint_frees_blocks(spark):
    """r14: maintenance materializations moved from ``persist()`` to
    ``localCheckpoint()`` so overlapped swaps never share (or cascade-
    rebuild) session-global CacheManager entries — but
    ``Dataset.unpersist`` is a no-op for checkpointed frames, so the
    explicit RDD release in ``release_local_checkpoint`` is what keeps
    a relation-sized block set from leaking per swap until the
    ContextCleaner gets around to it. Pin that the helper frees the
    blocks NOW."""
    from spark_history_server_rs_spark.sources.dedup_index import (
        release_local_checkpoint,
    )

    sc = spark.sparkContext

    def stored_ids():
        return {info.id() for info in sc._jsc.sc().getRDDStorageInfo()}

    base = stored_ids()
    df = spark.range(0, 1000).selectExpr(
        "id AS doc_id"
    ).localCheckpoint(eager=True)
    added = stored_ids() - base
    assert added, "eager localCheckpoint stored no blocks — premise broken"
    assert df.count() == 1000
    release_local_checkpoint(df)
    assert not (stored_ids() & added), (
        "release_local_checkpoint left checkpointed blocks stored — "
        "every overlapped maintenance swap would leak its "
        "materialized relation until JVM GC"
    )


def test_durable_checkpoint_honors_checkpoint_dir(spark, tmp_path):
    """r15 (VERDICT r14 #6): maintenance/training anchors go through
    ``durable_checkpoint`` — a RELIABLE ``Dataset.checkpoint`` when the
    context has a checkpoint dir configured (``SPARK_GRAFT_CHECKPOINT_DIR``
    → ``SparkContext.setCheckpointDir``), else the same executor-local
    ``localCheckpoint`` as before. Results and downstream plan shape
    (LogicalRDD anchor) are identical either way; only durability
    changes. Pin both paths on one session."""
    from spark_history_server_rs_spark.functions.checkpoints import (
        checkpoint_dir,
        durable_checkpoint,
    )

    sc = spark.sparkContext
    src = spark.range(0, 100).selectExpr("id", "id % 7 AS k")
    expected = sorted((r.id, r.k) for r in src.collect())

    # local default: no checkpoint dir configured on the test session
    assert checkpoint_dir(src) is None
    local = durable_checkpoint(src)
    try:
        assert local._jdf.queryExecution().analyzed().getClass() \
            .getSimpleName() == "LogicalRDD"
        assert sorted((r.id, r.k) for r in local.collect()) == expected
    finally:
        local.unpersist(blocking=True)

    # reliable path: configure a dir, anchor again, files must land
    ckdir = str(tmp_path / "reliable_ck")
    sc.setCheckpointDir(ckdir)
    try:
        reliable = durable_checkpoint(src)
        assert reliable._jdf.queryExecution().analyzed().getClass() \
            .getSimpleName() == "LogicalRDD"
        assert sorted((r.id, r.k) for r in reliable.collect()) == expected
        import glob as _glob

        assert _glob.glob(ckdir + "/*/rdd-*"), (
            "no reliable checkpoint files written under the configured dir"
        )
    finally:
        # restore the no-dir default for the rest of the suite
        # (checkpointDir is a plain var on SparkContext; the setter-only
        # public API has no unset, so reach the scala field)
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            sc._jvm.scala.Option.empty()
        )
    assert checkpoint_dir(src) is None


def test_checkpoint_dir_env_turns_on_checkpoint_cleaning(monkeypatch):
    """``SPARK_GRAFT_CHECKPOINT_DIR`` also turns on the ContextCleaner's
    checkpoint-file cleanup, so reliable anchors do not pile up in the
    dir; without it the conf is left alone."""
    from spark_history_server_rs_spark import session

    class _Builder:
        def __init__(self):
            self.conf = {}

        def appName(self, _):  # noqa: N802 (SparkSession.Builder API)
            return self

        def master(self, _):
            return self

        def config(self, k, v):
            self.conf[k] = v
            return self

        def getOrCreate(self):  # noqa: N802
            sc = type("SC", (), {
                "setLogLevel": lambda self, _: None,
                "getCheckpointDir": lambda self: "set",
            })()
            return type("S", (), {"sparkContext": sc})()

    key = "spark.cleaner.referenceTracking.cleanCheckpoints"
    for env, want in ((None, None), ("/ckpt", "true")):
        builder = _Builder()
        monkeypatch.setattr(
            session, "SparkSession", type("SS", (), {"builder": builder})
        )
        if env is None:
            monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR", raising=False)
        else:
            monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", env)
        session.get_spark()
        assert builder.conf.get(key) == want


def test_bpe_distributed_training_never_mutates_shared_aqe(
    spark, monkeypatch
):
    """r15 (VERDICT r14 #7): the distributed BPE training loop plans its
    k ranking jobs AQE-off in a CLONED session — the shared session's
    ``spark.sql.adaptive.enabled`` must never be touched (a concurrent
    REST query planning mid-training used to silently lose AQE). The
    cloned-session path must be the one actually taken on this Spark
    version (the shared-conf toggle remains only as the private-API
    fallback), and the merges must match the driver-local trainer
    bit-for-bit."""
    from spark_history_server_rs_spark.operators import llmprep
    from spark_history_server_rs_spark.sources.generic import load_table

    docs = load_table(spark, SF_SMALL, "documents")

    set_keys: list[str] = []
    orig_set = spark.conf.set

    def spy_set(key, value):
        set_keys.append(key)
        return orig_set(key, value)

    monkeypatch.setattr(spark.conf, "set", spy_set)
    monkeypatch.setattr(llmprep, "_BPE_LOCAL_TRAIN_MAX_WORDS", -1)
    dist = llmprep._train_merges(docs, 8)
    monkeypatch.setattr(
        llmprep, "_BPE_LOCAL_TRAIN_MAX_WORDS", 1 << 60
    )
    assert "spark.sql.adaptive.enabled" not in set_keys, (
        "distributed training fell back to mutating the SHARED session "
        "conf — the cloned-session rebind did not engage"
    )
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert dist == llmprep._train_merges(docs, 8)
