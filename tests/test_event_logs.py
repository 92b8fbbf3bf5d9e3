"""Ingest-path tests: fixture event logs → normalized events → catalog
queries; manifest-driven incremental ingest; streaming availableNow drain.

Mirrors the reference's test strategy (SURVEY.md §5): small hand-reasoned
inline fixture logs (3 contrived apps: memory-hog / cpu-heavy /
spill-heavy — analytics_api_test.rs:24-44) plus incremental-scan behavior
tests (incremental_scan_test.rs: new-file detection, size growth, no
duplicates)."""

from __future__ import annotations

import json
import os

import pytest

from spark_history_server_rs_spark.operators import catalog
from spark_history_server_rs_spark.sources.event_logs import (
    configure_remote_fs,
    incremental_ingest,
    read_event_logs,
    read_events_sink,
    remote_fs_conf,
    write_events_sink,
)

BASE_TS = 1700486400000  # 2023-11-20T12:00:00Z


def _task_end(app, exec_id, task_id, run_ms, cpu_ns, peak, ok=True, ts_off=0):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": task_id % 3,
        "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
        "Task Info": {
            "Task ID": task_id,
            "Executor ID": exec_id,
            "Host": f"host-{exec_id}",
            "Locality": ["PROCESS_LOCAL", "NODE_LOCAL", "RACK_LOCAL", "ANY"][
                task_id % 4
            ],
        },
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": run_ms // 10,
            "Peak Execution Memory": peak,
            "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": peak // 4 if not ok else 0,
            "Input Metrics": {"Bytes Read": 1048576},
            "Output Metrics": {"Bytes Written": 524288},
            "Shuffle Read Metrics": {"Remote Bytes Read": 262144},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 131072},
        },
        "Timestamp": BASE_TS + ts_off,
    }


def _app_events(app, n_tasks, cpu_frac, peak):
    yield {
        "Event": "SparkListenerApplicationStart",
        "App ID": app,
        "App Name": f"name-{app}",
        "User": "tester",
        "Timestamp": BASE_TS,
    }
    yield {
        "Event": "SparkListenerExecutorAdded",
        "Executor ID": "1",
        "Executor Info": {"Host": "host-1", "Total Cores": 4},
        "Timestamp": BASE_TS + 1000,
    }
    for t in range(n_tasks):
        run = 1000 + 100 * t
        yield _task_end(
            app, "1", t, run, int(run * cpu_frac * 1e6), peak, ok=(t % 5 != 4),
            ts_off=2000 + t * 1000,
        )
    yield {
        "Event": "SparkListenerApplicationEnd",
        "Timestamp": BASE_TS + 1000000,
    }


def _write_log(path, events, extra_garbage=True):
    with open(path, "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")
        if extra_garbage:
            f.write("{not valid json\n")  # S6: bad lines skipped, not fatal


@pytest.fixture(scope="module")
def log_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("spark-events")
    apps = [
        ("application_mem_hog", 12, 0.3, 8 << 30),
        ("application_cpu_heavy", 12, 0.95, 1 << 28),
        ("application_spilly", 12, 0.5, 1 << 30),
    ]
    for app, n, cpu, peak in apps:
        appdir = d / app
        appdir.mkdir()
        _write_log(str(appdir / "events_1"), _app_events(app, n, cpu, peak))
    return str(d)


def test_read_event_logs_normalizes(spark, log_dir):
    events, rejects = read_event_logs(spark, log_dir + "/*/*", with_rejects=True)
    rows = events.collect()
    assert len(rows) == 3 * (1 + 1 + 12 + 1)
    assert rejects.count() == 3  # one garbage line per file
    apps = {r.app_id for r in rows}
    assert apps == {"application_mem_hog", "application_cpu_heavy", "application_spilly"}
    te = [r for r in rows if r.event_type == "TaskEnd"]
    assert all(r.is_task for r in te)
    assert all(r.duration_ms is not None and r.cpu_ms is not None for r in te)
    # peak memory in MB
    hog = [r for r in te if r.app_id == "application_mem_hog"][0]
    assert hog.peak_memory_mb == pytest.approx(8192.0)


def test_catalog_runs_on_real_logs(spark, log_dir):
    """The role-flag abstraction means the whole catalog works on real logs."""
    events = read_event_logs(spark, log_dir + "/*/*")
    apps = catalog.applications(events).collect()
    assert len(apps) == 3
    summary = catalog.cross_app_summary(events).collect()[0]
    assert summary.total_applications == 3
    assert summary.failed_tasks > 0
    hogs = catalog.top_resource_consumers(events).collect()
    assert hogs[0].app_id == "application_mem_hog"  # ordered by peak mem desc
    eff = catalog.cpu_utilization(events).collect()
    ratings = {r.app_id: r.utilization_rating for r in eff}
    assert ratings["application_cpu_heavy"] == "High"
    assert ratings["application_mem_hog"] == "Low"


def test_real_log_rollup_serve_equals_scan(spark, log_dir, tmp_path):
    """VERDICT r13 missing #2, closed: build the S17 rollup FROM a
    real-log-ingested frame and differential every serve≡scan twin
    against the raw catalog on that same frame — BIT-identical. This is
    the integration pin the r13 row-level metric snapping
    (event_logs.py `_snap_ms`/`_snap_mb`) exists to support: real-log
    ms/MB metrics land on an IEEE-exact grid, so the two-level
    re-aggregation through durable partial cells reproduces the
    single-pass answers exactly, not merely approximately. The sketch
    percentiles ride the same frame within their tolerance contract."""
    from spark_history_server_rs_spark.sources import metrics_rollup as mr

    events = read_event_logs(spark, log_dir + "/*/*")
    path = str(tmp_path / "real_rollup")
    mr.write_metrics_rollup(events, path)
    for name in mr.ROLLUP_TWINS:
        raw = [tuple(r) for r in getattr(catalog, name)(events).collect()]
        served = [
            tuple(r)
            for r in getattr(mr, f"{name}_from_rollup")(
                spark, path
            ).collect()
        ]
        assert raw == served, name
        assert raw, name  # non-vacuous on the 3-app corpus
    exact = {
        r["event_type"]: r.asDict()
        for r in catalog.task_duration_percentiles(events).collect()
    }
    for r in mr.task_duration_percentiles_from_rollup(spark, path).collect():
        for col in ("p50_ms", "p90_ms", "p95_ms", "p99_ms"):
            e, s = exact[r["event_type"]][col], r[col]
            assert s == pytest.approx(e, rel=0.05), (r["event_type"], col)


def test_sink_roundtrip(spark, log_dir, tmp_path):
    sink = str(tmp_path / "sink")
    events = read_event_logs(spark, log_dir + "/*/*")
    write_events_sink(events, sink)
    back = read_events_sink(spark, sink)
    assert back.count() == events.count()
    # partition pruning path exists
    assert "event_date" in back.columns


def test_compact_sink_inplace(spark, log_dir, tmp_path):
    """S9c: three appends → many small files per partition; one in-place
    compaction → target file counts, identical rows, second run no-op."""
    from spark_history_server_rs_spark.sources.event_logs import (
        _sink_partition_stats,
        compact_sink_inplace,
    )

    sink = str(tmp_path / "sink")
    events = read_event_logs(spark, log_dir + "/*/*")
    for _ in range(3):
        write_events_sink(events, sink)
    before_rows = read_events_sink(spark, sink).count()
    before = _sink_partition_stats(spark, sink)
    assert max(n for n, _ in before.values()) >= 3  # small-file buildup

    plan = compact_sink_inplace(spark, sink, target_file_mb=512)
    assert plan, "compaction should have selected the multi-file partitions"
    after = _sink_partition_stats(spark, sink)
    for p in plan:
        key = (p["event_date"], p["ingest_src"])
        assert after[key][0] == p["files_target"] == 1  # tiny data → 1 file
    # rows survive byte-identically in count and content
    back = read_events_sink(spark, sink)
    assert back.count() == before_rows
    assert back.select("id").distinct().count() == events.select("id").distinct().count()
    # idempotent: nothing left to do
    assert compact_sink_inplace(spark, sink, target_file_mb=512) == []


def test_compact_sink_inplace_escaped_partition_values(spark, tmp_path):
    """Partition values Spark percent-escapes in directory names (':' in
    a URI-ish ingest_src) must still compact: _sink_partition_stats has
    to Hive-unescape the directory segments before joining them against
    the DataFrame's decoded partition columns, or the partition matches
    zero rows — never rewritten, yet re-selected on every run."""
    from pyspark.sql import functions as F

    from spark_history_server_rs_spark.sources.event_logs import (
        _sink_partition_stats,
        compact_sink_inplace,
    )

    sink = str(tmp_path / "sink")
    src = "hdfs://nn:8020 app.log"  # ':' and ' ' both get escaped
    df = spark.createDataFrame(
        [(i, "2024-01-01", src) for i in range(20)],
        "id bigint, event_date string, ingest_src string",
    ).withColumn("event_date", F.col("event_date").cast("date"))
    for _ in range(3):
        df.write.partitionBy("event_date", "ingest_src").mode("append").parquet(
            sink
        )

    before = _sink_partition_stats(spark, sink)
    assert list(before) == [("2024-01-01", src)]  # decoded, not %3A/%20
    assert before[("2024-01-01", src)][0] >= 3

    plan = compact_sink_inplace(spark, sink, target_file_mb=512)
    assert [(p["event_date"], p["ingest_src"]) for p in plan] == [
        ("2024-01-01", src)
    ]
    after = _sink_partition_stats(spark, sink)
    assert after[("2024-01-01", src)][0] == 1
    assert spark.read.parquet(sink).count() == 60  # 3 appends × 20 rows
    # idempotent — and in the buggy version this second run would
    # re-select the never-rewritten partition forever
    assert compact_sink_inplace(spark, sink, target_file_mb=512) == []


def test_incremental_ingest_no_duplicates(spark, tmp_path):
    base = tmp_path / "logs"
    base.mkdir()
    appdir = base / "application_inc"
    appdir.mkdir()
    log = appdir / "events_1.inprogress"
    sink = str(tmp_path / "sink")
    manifest = str(tmp_path / "manifest")

    ev = list(_app_events("application_inc", 4, 0.5, 1 << 28))
    _write_log(str(log), ev[:3], extra_garbage=False)
    n1 = incremental_ingest(spark, str(base), sink, manifest)
    assert n1 == 1
    c1 = read_events_sink(spark, sink).count()
    assert c1 == 3

    # unchanged → nothing to do
    assert incremental_ingest(spark, str(base), sink, manifest) == 0

    # grown .inprogress file → re-read, REPLACED not duplicated
    _write_log(str(log), ev, extra_garbage=False)
    n2 = incremental_ingest(spark, str(base), sink, manifest)
    assert n2 == 1
    sunk = read_events_sink(spark, sink)
    assert sunk.count() == len(ev)
    assert sunk.groupBy("raw_data").count().filter("count > 1").count() == 0

    # new file detected independently
    appdir2 = base / "application_inc2"
    appdir2.mkdir()
    _write_log(
        str(appdir2 / "events_1"),
        _app_events("application_inc2", 2, 0.5, 1 << 28),
        extra_garbage=False,
    )
    assert incremental_ingest(spark, str(base), sink, manifest) == 1
    assert read_events_sink(spark, sink).select("app_id").distinct().count() == 2


def test_remote_fs_uri_discovery_and_ingest(spark, tmp_path):
    """S4/S5: discovery + ingest through an explicit ``file://`` URI —
    the SAME Hadoop-FS resolution path (`Path.getFileSystem`) that
    hdfs:// and s3a:// URIs take, so the remote-reader plumbing is
    exercised end-to-end without a live cluster (the sandboxed stand-in
    the reference covers with MinIO/miniDFS containers,
    tests/s3_integration_test.rs)."""
    base = tmp_path / "remote_logs"
    appdir = base / "application_remote"
    appdir.mkdir(parents=True)
    _write_log(
        str(appdir / "events_1"),
        _app_events("application_remote", 3, 0.5, 1 << 28),
        extra_garbage=False,
    )
    uri = "file://" + str(base)

    # conf passthrough: keys surface exactly as Hadoop expects them
    conf = configure_remote_fs(
        spark,
        s3_endpoint="http://localhost:9000",
        s3_access_key="ak",
        s3_secret_key="sk",
        s3_path_style=True,
        s3_connection_timeout_ms=5000,
        extra={"fs.s3a.connection.maximum": "64"},
    )
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    assert hconf.get("fs.s3a.endpoint") == "http://localhost:9000"
    assert hconf.get("fs.s3a.path.style.access") == "true"
    assert hconf.get("fs.s3a.connection.maximum") == "64"
    assert conf["fs.s3a.connection.timeout"] == "5000"
    assert remote_fs_conf(kerberos_enabled=True)[
        "hadoop.security.authentication"
    ] == "kerberos"

    # full incremental pass against the URI base
    sink = str(tmp_path / "remote_sink")
    manifest = str(tmp_path / "remote_manifest")
    assert incremental_ingest(spark, uri, sink, manifest) == 1
    sunk = read_events_sink(spark, sink)
    assert sunk.count() > 0
    assert sunk.select("app_id").distinct().collect()[0][0] == "application_remote"
    # idempotent second pass through the same URI path
    assert incremental_ingest(spark, uri, sink, manifest) == 0


def test_streaming_available_now(spark, log_dir, tmp_path):
    from spark_history_server_rs_spark.streaming.ingest import stream_ingest

    sink = str(tmp_path / "stream_sink")
    ckpt = str(tmp_path / "ckpt")
    q = stream_ingest(spark, log_dir + "/*/*", sink, ckpt)
    q.awaitTermination(120)
    got = spark.read.parquet(sink)
    assert got.count() == 3 * (1 + 1 + 12 + 1)
    # exactly-once: a second drain with the same checkpoint adds nothing
    q2 = stream_ingest(spark, log_dir + "/*/*", sink, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(sink).count() == 3 * (1 + 1 + 12 + 1)


def test_streaming_windowed_activity(spark, log_dir):
    from spark_history_server_rs_spark.streaming.ingest import stream_app_activity

    events = read_event_logs(spark, log_dir + "/*/*")
    # batch execution of the same windowed plan (streaming semantics on
    # batch data — Spark allows it; watermark is a no-op in batch)
    act = stream_app_activity(events).collect()
    assert len(act) > 0
    by_app = {}
    for r in act:
        by_app[r.app_id] = by_app.get(r.app_id, 0) + r.tasks
    assert by_app["application_mem_hog"] == 12


def test_gzip_compressed_logs(spark, tmp_path):
    """S6 compression parity: the reference decompresses gz logs
    (flate2, Cargo.toml:24-26); Spark's text source reads .gz natively."""
    import gzip

    d = tmp_path / "gzlogs" / "application_gz"
    d.mkdir(parents=True)
    payload = "".join(
        json.dumps(e) + "\n" for e in _app_events("application_gz", 3, 0.5, 1 << 28)
    )
    with gzip.open(d / "events_1.gz", "wt") as f:
        f.write(payload)
    events = read_event_logs(spark, str(tmp_path / "gzlogs") + "/*/*")
    assert events.count() == 6
    assert events.filter("is_task").count() == 3


def test_application_details_fold(spark, log_dir):
    """A17 full fold: name/user/attempt from the first ApplicationStart,
    completion + duration semantics (reference event_log.rs:26-93)."""
    from spark_history_server_rs_spark.sources.event_logs import application_details

    events = read_event_logs(spark, log_dir + "/*/*")
    det = {r.app_id: r for r in application_details(events).collect()}
    assert len(det) == 3
    hog = det["application_mem_hog"]
    assert hog.app_name == "name-application_mem_hog"
    assert hog.user == "tester"
    assert hog.completed
    assert hog.duration_ms == hog.end_ms - hog.start_ms


def test_zip_compressed_logs(spark, tmp_path):
    """S6 zip parity: archives unpack through binaryFile + mapInPandas into
    the same normalized events frame."""
    import zipfile

    from spark_history_server_rs_spark.sources.event_logs import read_zip_event_logs

    d = tmp_path / "ziplogs"
    d.mkdir()
    payload = "".join(
        json.dumps(e) + "\n" for e in _app_events("application_zip", 5, 0.5, 1 << 28)
    )
    with zipfile.ZipFile(d / "application_zip.zip", "w") as zf:
        zf.writestr("events_1_application_zip", payload)
    events = read_zip_event_logs(spark, str(d))
    rows = events.collect()
    assert len(rows) == 8
    assert {r.app_id for r in rows} == {"application_zip"}
    assert events.filter("is_task").count() == 5


def test_lz4_zstd_snappy_compressed_logs(spark, tmp_path):
    """S6 compression parity: ingest event logs compressed the way
    ``spark.eventLog.compress=true`` writes them — lz4-java block stream,
    zstd frame, snappy-java block stream. Fixtures are produced by the
    SAME JVM codec classes Spark uses, so the framing is authentic."""
    from spark_history_server_rs_spark.sources.event_logs import (
        read_compressed_event_logs,
    )

    d = tmp_path / "clogs"
    d.mkdir()
    jvm = spark.sparkContext._jvm
    apps = {}
    for app, ext, mk in [
        ("app-20260813-lz4demo", ".lz4",
         lambda fos: jvm.net.jpountz.lz4.LZ4BlockOutputStream(fos)),
        ("app-20260813-zstdemo", ".zstd",
         lambda fos: jvm.com.github.luben.zstd.ZstdOutputStream(fos)),
        ("app-20260813-snpdemo", ".snappy",
         lambda fos: jvm.org.xerial.snappy.SnappyOutputStream(fos)),
    ]:
        evs = list(_app_events(app, 3, 0.5, 1 << 28))
        # drop the embedded App ID so app_id must come from the file path
        for e in evs:
            e.pop("App ID", None)
        payload = "".join(json.dumps(e) + "\n" for e in evs).encode()
        fos = jvm.java.io.FileOutputStream(str(d / (app + ext)))
        out = mk(fos)
        out.write(bytearray(payload))
        out.close()
        apps[app] = len(evs)

    events = read_compressed_event_logs(spark, str(d))
    rows = events.collect()
    got = {}
    for r in rows:
        got[r.app_id] = got.get(r.app_id, 0) + 1
    assert got == apps
    # catalog runs unchanged on the decoded events
    te = catalog.resource_usage_summary(events).collect()
    assert len(te) > 0


def test_flat_zstd_log_keys_like_its_plain_twin(spark, tmp_path):
    """A flat ``app-<ts>-<n>.zstd`` (or ``.zst``) log and its plain twin
    key every event by the same app id: the compressed reader strips the
    codec extension before the app-id rule sees the path."""
    import pyarrow as pa

    from spark_history_server_rs_spark.sources.event_logs import (
        read_event_logs_auto,
    )

    app = "app-20260813000000-0001"
    evs = list(_app_events(app, 3, 0.5, 1 << 28))
    for e in evs:
        e.pop("App ID", None)  # every event keys by the path
    payload = "".join(json.dumps(e) + "\n" for e in evs).encode()
    ids = {}
    for ext in ("", ".zstd", ".zst"):
        d = tmp_path / (ext.lstrip(".") or "plain")
        d.mkdir()
        path = str(d / (app + ext))
        with pa.output_stream(path, compression="zstd" if ext else None) as f:
            f.write(payload)
        rows = read_event_logs_auto(spark, [path]).select("app_id").collect()
        ids[ext] = sorted(r.app_id for r in rows)
    assert ids[""] == [app] * len(evs)
    assert ids[".zstd"] == ids[".zst"] == ids[""]


def test_flat_layout_app_id_from_file_name(spark, tmp_path):
    """S8 on the default FLAT layout (log files directly under the log
    root): every event — including those without an embedded App ID — must
    get the FILE name as app_id, never the log-root directory name
    (reference main.rs:396-401)."""
    d = tmp_path / "spark-events"
    d.mkdir()
    for app in ("app-20241201-160000-hog", "application_1700000000_0001"):
        evs = list(_app_events(app, 2, 0.5, 1 << 28))
        for e in evs:
            e.pop("App ID", None)  # force the path fallback
        _write_log(str(d / app), evs, extra_garbage=False)

    events = read_event_logs(spark, str(d) + "/*")
    assert set(r.app_id for r in events.collect()) == {
        "app-20241201-160000-hog",
        "application_1700000000_0001",
    }
    # non-app-prefixed flat file → file name (reference uses it verbatim)
    evs = list(_app_events("x", 1, 0.5, 1 << 28))
    for e in evs:
        e.pop("App ID", None)
    _write_log(str(d / "sample_event_log.json"), evs, extra_garbage=False)
    events = read_event_logs(spark, str(d / "sample_event_log.json"))
    assert set(r.app_id for r in events.collect()) == {"sample_event_log.json"}


def test_discovery_skips_decoy_files(spark, tmp_path):
    """S2/S3: a stray README / parquet / tool dropping in the log dir must
    not be ingested (reference hdfs_reader.rs:131-134,183-186 filters
    both the app-dir and event-file names)."""
    base = tmp_path / "logs"
    base.mkdir()
    appdir = base / "application_real"
    appdir.mkdir()
    _write_log(
        str(appdir / "events_1"),
        _app_events("application_real", 2, 0.5, 1 << 28),
        extra_garbage=False,
    )
    # decoys: wrong dir name, wrong file name, stray flat files
    (base / "README.md").write_text("# not an event log\n")
    (base / "data.parquet").write_bytes(b"PAR1 garbage")
    notes = base / "tool-output"
    notes.mkdir()
    (notes / "events_fake").write_text('{"Event":"SparkListenerApplicationStart"}\n')
    (appdir / "summary.txt").write_text("neither\n")

    sink = str(tmp_path / "sink")
    manifest = str(tmp_path / "manifest")
    n = incremental_ingest(spark, str(base), sink, manifest)
    assert n == 1  # only application_real/events_1
    sunk = read_events_sink(spark, sink)
    assert set(r.app_id for r in sunk.select("app_id").distinct().collect()) == {
        "application_real"
    }


REAL_LOGS = "/root/reference/test-data/spark-events"


def test_attempts_model_on_real_rollover_logs(spark):
    """Attempts model (reference models.rs:10-48, storage/event_log.rs:26-93)
    on the reference's own eventlog_v2 rollover fixtures: one attempt per
    log unit, NULL attempt_id (the fixtures carry no App Attempt ID),
    user/version/completed folded per attempt."""
    import os

    if not os.path.isdir(REAL_LOGS):
        pytest.skip("reference fixture logs unavailable")
    from spark_history_server_rs_spark.sources.event_logs import (
        applications_with_attempts,
        read_event_logs,
    )

    events = read_event_logs(spark, REAL_LOGS + "/eventlog_v2_*/*")
    apps = {r.app_id: r for r in applications_with_attempts(events).collect()}
    assert len(apps) == 3
    for app_id, row in apps.items():
        assert app_id.startswith("spark-")
        assert len(row.attempts) == 1
        att = row.attempts[0]
        assert att.attempt_id is None  # fixtures have no App Attempt ID
        assert att.spark_user == "spark"
        assert att.app_spark_version == "3.5.3"
        assert att.start_ms and att.last_updated_ms >= att.start_ms
    assert apps["spark-110be3a8424d4a2789cb88134418217b"].app_name.startswith(
        "NewYorkTaxiData"
    )


def test_attempts_model_multi_attempt_ordering(spark, tmp_path):
    """A yarn-style app with two attempts (two log files, App Attempt ID
    1/2) folds to ONE application row with attempts newest-first."""
    from spark_history_server_rs_spark.sources.event_logs import (
        applications_with_attempts,
        read_event_logs,
    )

    d = tmp_path / "logs"
    d.mkdir()
    app = "application_1700000000_0042"
    for attempt, complete in (("1", False), ("2", True)):
        evs = list(_app_events(app, 2, 0.5, 1 << 28))
        for e in evs:
            if e["Event"] == "SparkListenerApplicationStart":
                e["App Attempt ID"] = attempt
                e["Timestamp"] += int(attempt) * 1000
        if not complete:
            evs = [e for e in evs if e["Event"] != "SparkListenerApplicationEnd"]
        _write_log(str(d / f"{app}_{attempt}"), evs, extra_garbage=False)

    events = read_event_logs(spark, str(d) + "/*")
    rows = applications_with_attempts(events).collect()
    assert len(rows) == 1
    atts = rows[0].attempts
    assert [a.attempt_id for a in atts] == ["2", "1"]  # newest first
    assert atts[0].completed is True
    assert atts[1].completed is False
    assert atts[1].end_ms > atts[1].last_updated_ms  # running → pinned now
    assert atts[0].duration_ms == atts[0].end_ms - atts[0].start_ms


def test_executor_details_maps(spark, tmp_path):
    """Executor metadata columns (reference models.rs:95-112): log-URL and
    attribute maps, remove reason, resource profile, active flag."""
    from spark_history_server_rs_spark.sources.event_logs import (
        executor_details,
        read_event_logs,
    )

    d = tmp_path / "logs"
    d.mkdir()
    app = "application_execmeta"
    evs = [
        {"Event": "SparkListenerApplicationStart", "App ID": app,
         "App Name": "m", "Timestamp": BASE_TS, "User": "u"},
        {"Event": "SparkListenerExecutorAdded", "Timestamp": BASE_TS + 1000,
         "Executor ID": "1",
         "Executor Info": {"Host": "node-a", "Total Cores": 4,
                           "Log Urls": {"stdout": "http://node-a/out",
                                        "stderr": "http://node-a/err"},
                           "Attributes": {"CONTAINER_ID": "c-123"},
                           "Resources": {}, "Resource Profile Id": 2}},
        {"Event": "SparkListenerExecutorAdded", "Timestamp": BASE_TS + 2000,
         "Executor ID": "2",
         "Executor Info": {"Host": "node-b", "Total Cores": 4,
                           "Log Urls": {}, "Attributes": {},
                           "Resource Profile Id": 0}},
        {"Event": "SparkListenerExecutorRemoved", "Timestamp": BASE_TS + 9000,
         "Executor ID": "1", "Removed Reason": "Killed by dynamic allocation"},
        {"Event": "SparkListenerApplicationEnd", "Timestamp": BASE_TS + 10000},
    ]
    appdir = d / app
    appdir.mkdir()
    _write_log(str(appdir / "events_1"), evs, extra_garbage=False)

    events = read_event_logs(spark, str(d) + "/*/*")
    rows = {r.executor_id: r for r in executor_details(events).collect()}
    assert set(rows) == {"1", "2"}
    e1 = rows["1"]
    assert e1.executor_logs == {"stdout": "http://node-a/out",
                                "stderr": "http://node-a/err"}
    assert e1.attributes == {"CONTAINER_ID": "c-123"}
    assert e1.resource_profile_id == 2
    assert e1.host == "node-a"
    assert e1.remove_reason == "Killed by dynamic allocation"
    assert e1.active is False and e1.is_excluded is False
    e2 = rows["2"]
    assert e2.active is True and e2.remove_time_ms is None
    assert e2.executor_logs == {}


def test_executor_details_on_real_logs(spark):
    import os

    if not os.path.isdir(REAL_LOGS):
        pytest.skip("reference fixture logs unavailable")
    from spark_history_server_rs_spark.sources.event_logs import (
        executor_details,
        read_event_logs,
    )

    events = read_event_logs(spark, REAL_LOGS + "/eventlog_v2_*/*")
    rows = executor_details(events).collect()
    assert len(rows) > 0
    for r in rows:
        assert r.executor_logs == {} and r.attributes == {}
        assert r.add_time_ms is not None


def _write_doc_files(d, batches, start=0):
    """Write doc batches as json-lines files (one file per batch);
    ``start`` offsets the file names so later calls ADD files instead of
    overwriting batch 0 (checkpoint-resume tests)."""
    import json as _json

    d.mkdir(parents=True, exist_ok=True)
    for i, rows in enumerate(batches, start=start):
        with open(d / f"docs_{i}.json", "w") as f:
            for r in rows:
                f.write(_json.dumps(r) + "\n")


def test_stream_dedup_documents(spark, tmp_path):
    """Streaming exact-dedup: duplicates across micro-batches emit once."""
    from spark_history_server_rs_spark.streaming.ingest import (
        stream_dedup_documents,
    )

    src = tmp_path / "docs"
    _write_doc_files(
        src,
        [
            [
                {"doc_id": 1, "text": "alpha beta gamma", "lang": "en"},
                {"doc_id": 2, "text": "delta epsilon", "lang": "en"},
                {"doc_id": 3, "text": "alpha beta gamma", "lang": "en"},  # dup of 1
            ]
        ],
    )
    stream = (
        spark.readStream.schema("doc_id long, text string, lang string")
        .json(str(src))
    )
    sink = str(tmp_path / "dedup_sink")
    ckpt = str(tmp_path / "ckpt_d")

    def drain():
        q = (
            stream_dedup_documents(stream)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    got = spark.read.parquet(sink).collect()
    assert len(got) == 2  # the in-batch duplicate collapsed
    assert len({r.text_hash for r in got}) == 2

    # second drop: one duplicate of batch 1 + one new doc -> only the new
    # doc appends (the seen-hash state survived in the checkpoint)
    import json as _json

    with open(src / "docs_1.json", "w") as f:
        f.write(_json.dumps({"doc_id": 4, "text": "alpha beta gamma", "lang": "en"}) + "\n")
        f.write(_json.dumps({"doc_id": 5, "text": "zeta eta", "lang": "en"}) + "\n")
    drain()
    got2 = spark.read.parquet(sink).collect()
    assert len(got2) == 3
    assert 4 not in {r.doc_id for r in got2}  # duplicate dropped cross-batch
    assert 5 in {r.doc_id for r in got2}


def test_stream_running_corpus_stats(spark, tmp_path):
    """applyInPandasWithState custom stateful op: per-lang totals
    accumulate across micro-batches (state survives the batch boundary)."""
    from spark_history_server_rs_spark.streaming.ingest import (
        stream_running_corpus_stats,
    )

    src = tmp_path / "docs"
    _write_doc_files(
        src,
        [
            [
                {"doc_id": 1, "text": "a b c", "lang": "en"},
                {"doc_id": 2, "text": "x y", "lang": "de"},
            ],
            [
                {"doc_id": 3, "text": "d e", "lang": "en"},
            ],
        ],
    )
    stream = (
        spark.readStream.schema("doc_id long, text string, lang string")
        .option("maxFilesPerTrigger", 1)  # force one file per micro-batch
        .json(str(src))
    )
    q = (
        stream_running_corpus_stats(stream)
        .writeStream.format("memory")
        .queryName("running_stats")
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_s"))
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM running_stats").collect()
    # latest row per lang = the running total
    latest = {}
    for r in rows:
        if r.lang not in latest or r.batches > latest[r.lang].batches:
            latest[r.lang] = r
    assert latest["en"].docs_seen == 2
    assert latest["en"].tokens_seen == 5  # "a b c" + "d e"
    assert latest["en"].batches == 2  # state crossed the batch boundary
    assert latest["de"].docs_seen == 1
    assert latest["de"].tokens_seen == 2


def test_stream_transition_counts_matches_batch(spark, tmp_path):
    """Streaming R31 twin: summed per-batch transition deltas over an
    in-order two-chunk replay equal the batch LAG-based counts, with the
    per-user last-event state bridging the chunk boundary."""
    import json as _json
    from collections import Counter

    from spark_history_server_rs_spark.sources.generic import load_events
    from spark_history_server_rs_spark.streaming.ingest import (
        stream_transition_counts,
    )
    from tests.conftest import SF_SMALL

    ev = load_events(spark, SF_SMALL).selectExpr(
        "app_id",
        "id",
        "unix_millis(CAST(event_ts AS TIMESTAMP)) AS ts_ms",
        "event_type",
    )
    rows = sorted(ev.collect(), key=lambda r: (r.ts_ms, r.id))
    expected: Counter = Counter()
    last: dict = {}
    for r in rows:
        if r.app_id in last:
            expected[(last[r.app_id], r.event_type)] += 1
        last[r.app_id] = r.event_type

    src = tmp_path / "ev_stream"
    src.mkdir()
    half = len(rows) // 2
    sink = str(tmp_path / "trans_sink")
    ckpt = str(tmp_path / "ckpt_t")
    stream = (
        spark.readStream.schema(
            "app_id string, id long, ts_ms long, event_type string"
        ).json(str(src))
    )

    def drain():
        q = (
            stream_transition_counts(stream)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    for i, chunk in enumerate([rows[:half], rows[half:]]):
        with open(src / f"chunk_{i}.json", "w") as f:
            for r in chunk:
                f.write(
                    _json.dumps(
                        {
                            "app_id": r.app_id,
                            "id": r.id,
                            "ts_ms": r.ts_ms,
                            "event_type": r.event_type,
                        }
                    )
                    + "\n"
                )
        drain()

    got: Counter = Counter()
    for r in spark.read.parquet(sink).collect():
        got[(r.from_type, r.to_type)] += r.n
    assert got == expected


def test_stream_sessionize_native_session_window(spark, tmp_path):
    """Native session_window sessionization: sessions merge within the
    gap, stay open across micro-batches, and close (append-emit) only
    once the watermark passes their end."""
    import json as _json

    from spark_history_server_rs_spark.streaming.ingest import stream_sessionize

    src = tmp_path / "ev"
    src.mkdir()

    def write(name, rows):
        with open(src / name, "w") as f:
            for app, ts, task in rows:
                f.write(
                    _json.dumps({"app_id": app, "event_ts": ts, "is_task": task})
                    + "\n"
                )

    # batch 0: two A events 30 min apart (one session under the 1 h gap)
    # plus one B event; batch 1/2 advance event time so the watermark
    # (2 h behind max event_ts) closes the earlier sessions.
    write("f0.json", [
        ("A", "2024-01-01 10:00:00", True),
        ("A", "2024-01-01 10:30:00", False),
        ("B", "2024-01-01 10:15:00", False),
    ])
    write("f1.json", [("A", "2024-01-01 16:00:00", True)])
    write("f2.json", [("A", "2024-01-01 23:00:00", False)])

    stream = (
        spark.readStream.schema("app_id string, event_ts timestamp, is_task boolean")
        .option("maxFilesPerTrigger", 1)  # one file per micro-batch
        .json(str(src))
    )
    sink = str(tmp_path / "sessions")
    q = (
        stream_sessionize(stream)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    rows = spark.read.parquet(sink).collect()
    # closed by the final watermark (21:00): A[10:00+gap], B[10:15+gap],
    # A[16:00+gap]; the 23:00 session is still open and must NOT emit
    got = {(r.app_id, r.events, r.tasks) for r in rows}
    assert got == {("A", 2, 1), ("B", 1, 0), ("A", 1, 1)}
    for r in rows:
        # session spans ≥ the gap beyond the last event
        assert (r.session_end - r.session_start).total_seconds() >= 3600


def test_incremental_ingest_mixed_compression(spark, tmp_path):
    """A real history dir mixes plain, gz, lz4, and zip logs; the
    incremental planner must route each file to the right reader instead
    of text-reading compressed bytes."""
    import gzip as _gzip
    import zipfile as _zipfile

    base = tmp_path / "logs"
    base.mkdir()
    jvm = spark.sparkContext._jvm

    def events_for(app):
        evs = list(_app_events(app, 2, 0.5, 1 << 28))
        return "".join(json.dumps(e) + "\n" for e in evs)

    # plain
    appdir = base / "application_plain"
    appdir.mkdir()
    (appdir / "events_1").write_text(events_for("application_plain"))
    # gz (native text source)
    (base / "app-gzip-1").mkdir()
    with _gzip.open(base / "app-gzip-1" / "events_1.gz", "wt") as f:
        f.write(events_for("app-gzip-1"))
    # lz4 (lz4-java block stream)
    fos = jvm.java.io.FileOutputStream(str(base / "application_lz4demo"))
    lz = jvm.net.jpountz.lz4.LZ4BlockOutputStream(fos)
    lz.write(bytearray(events_for("application_lz4demo").encode()))
    lz.close()
    import os
    os.rename(base / "application_lz4demo", base / "application_lz4demo.lz4")
    # zip archive
    with _zipfile.ZipFile(base / "application_ziplog.zip", "w") as zf:
        zf.writestr("events_1_application_ziplog", events_for("application_ziplog"))

    sink = str(tmp_path / "sink")
    manifest = str(tmp_path / "manifest")
    n = incremental_ingest(spark, str(base), sink, manifest)
    assert n == 4
    sunk = read_events_sink(spark, sink)
    apps = {r.app_id for r in sunk.select("app_id").distinct().collect()}
    assert apps == {
        "application_plain",
        "app-gzip-1",
        "application_lz4demo",
        "application_ziplog",
    }
    # idempotent: nothing new on re-run
    assert incremental_ingest(spark, str(base), sink, manifest) == 0


def test_stream_near_dedup_matches_batch_simhash(spark, tmp_path):
    """Streaming SimHash near-dedup: per-doc verdicts must agree with the
    batch pigeonhole pairs on the same corpus (differential, not
    hand-computed), and matches must cross the micro-batch boundary."""
    from spark_history_server_rs_spark.operators import dedup
    from spark_history_server_rs_spark.streaming.ingest import stream_near_dedup

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = {
        1: base,
        2: "one completely different document about spark executors",
        3: base,  # exact dup of 1, same micro-batch
        4: "totally unrelated text mentioning parquet files and shuffles",
        7: base,  # exact dup of 1, NEXT micro-batch (state must cross)
        8: base.replace("kappa", "lambda"),  # near variant
        9: "yet another unrelated document entirely about watermarks",
    }
    src = tmp_path / "near_docs"
    _write_doc_files(
        src,
        [
            [{"doc_id": i, "text": corpus[i], "lang": "en"} for i in (1, 2, 3, 4)],
            [{"doc_id": i, "text": corpus[i], "lang": "en"} for i in (7, 8, 9)],
        ],
    )
    stream = (
        spark.readStream.schema("doc_id long, text string, lang string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        stream_near_dedup(stream)
        .writeStream.format("memory")
        .queryName("near_dedup")
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "near_ckpt"))
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM near_dedup").collect()

    # batch ground truth on the same corpus
    docs = spark.createDataFrame(
        [(i, t, "en") for i, t in corpus.items()],
        "doc_id long, text string, lang string",
    )
    batch_pairs = {
        (r.doc_a, r.doc_b): r.hamming for r in dedup.simhash_pairs(docs).collect()
    }
    batch_dup_docs = {b for (_, b) in batch_pairs}

    stream_matches = {
        (r.matched_doc_id, r.doc_id): r.hamming
        for r in rows
        if r.matched_doc_id is not None
    }
    # every streaming match is a real batch pair with the same hamming
    for pair, h in stream_matches.items():
        assert pair in batch_pairs and batch_pairs[pair] == h, pair
    # every doc the batch flags as a later-duplicate is flagged in-stream
    assert {b for (_, b) in stream_matches} == batch_dup_docs
    # and the cross-batch case specifically: doc 7 matched doc 1 or 3
    assert any(b == 7 for (_, b) in stream_matches)


def test_stream_contamination_guard_matches_batch(spark, tmp_path):
    """Streaming decontamination: flagged doc set must equal the batch
    shingle-overlap computation on the same corpus, including docs whose
    only contaminated arrival is in a later micro-batch."""
    from spark_history_server_rs_spark.streaming.ingest import (
        stream_contamination_guard,
    )

    protected = "alpha beta gamma delta epsilon zeta eta theta"
    corpus = {
        1: protected,  # verbatim leak, batch 1
        2: "one completely different document about spark executors",
        3: "prefix words then alpha beta gamma inside the middle here",  # partial leak
        4: "totally unrelated text mentioning parquet files and shuffles",
        7: "tail leak arrives later with delta epsilon zeta at the end",  # batch 2
        8: "yet another unrelated document entirely about watermarks",
    }
    src = tmp_path / "contam_docs"
    _write_doc_files(
        src,
        [
            [{"doc_id": i, "text": corpus[i], "lang": "en"} for i in (1, 2, 3, 4)],
            [{"doc_id": i, "text": corpus[i], "lang": "en"} for i in (7, 8)],
        ],
    )
    test_docs = spark.createDataFrame(
        [(100, protected, "en")], "doc_id long, text string, lang string"
    )
    stream = (
        spark.readStream.schema("doc_id long, text string, lang string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    sink = str(tmp_path / "contam_sink")
    q = (
        stream_contamination_guard(stream, test_docs)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", str(tmp_path / "contam_ckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    flagged = {r.doc_id for r in spark.read.parquet(sink).collect()}

    # batch ground truth: docs sharing >= 1 word-3-shingle with the
    # protected text (independent spelling: python-side shingling)
    def shingles(text):
        toks = [t for t in text.split(" ") if t]
        return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}

    prot = shingles(protected)
    expected = {i for i, t in corpus.items() if shingles(t) & prot}
    assert flagged == expected
    assert 7 in flagged  # the cross-batch arrival was caught


def test_stream_bpe_encode_matches_batch(spark, tmp_path):
    """Tokenize-at-ingest: documents streamed in two micro-batches,
    encoded under a tokenizer trained ONCE on the full corpus, must
    carry exactly the counts the batch encode computes under the same
    frozen merges — and a doc split across batches cannot exist (a doc
    is wholly contained in its batch), so the per-doc aggregate is
    batch-local by construction."""
    from spark_history_server_rs_spark.operators.llmprep import (
        _learned_merges,
        bpe_encode_frozen,
    )
    from spark_history_server_rs_spark.streaming.ingest import (
        stream_bpe_encode,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).limit(40)
    merges = [m[1] for m in _learned_merges(docs)]

    src = tmp_path / "bpe_docs"
    half = docs.where("doc_id % 2 = 0"), docs.where("doc_id % 2 = 1")
    rows0 = [
        {"doc_id": r.doc_id, "text": r.text} for r in half[0].collect()
    ]
    rows1 = [
        {"doc_id": r.doc_id, "text": r.text} for r in half[1].collect()
    ]
    _write_doc_files(src, [rows0, rows1])
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    out = str(tmp_path / "bpe_out")
    q = stream_bpe_encode(
        stream, merges, out, str(tmp_path / "bpe_ckpt")
    )
    q.awaitTermination(120)
    streamed = {
        r.doc_id: (r.n_words, r.n_bpe_tokens, r.expansion)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        r.doc_id: (r.n_words, r.n_bpe_tokens, r.expansion)
        for r in bpe_encode_frozen(docs, merges).collect()
    }
    assert streamed == want and len(want) > 0


def test_stream_encoding_monitor_matches_batch(spark, tmp_path):
    """Streaming encoding monitor: per-doc artifact flags across
    micro-batches, aggregated by source, must reproduce the batch
    encoding_artifacts numerators on the same corpus — the projection
    shares the batch probes verbatim, so any divergence is a streaming
    bug, not a semantics choice."""
    from spark_history_server_rs_spark.operators.textprep import (
        encoding_artifacts,
    )
    from spark_history_server_rs_spark.streaming.ingest import (
        stream_encoding_monitor,
    )

    rows = [
        {"doc_id": 0, "text": "clean ascii", "source": "web"},
        {"doc_id": 1, "text": "bad \ufffd decode", "source": "web"},
        {"doc_id": 2, "text": "bel\u0007 control", "source": "web"},
        {"doc_id": 3, "text": "n\u00c3\u00a3o mojibake", "source": "crawl"},
        {"doc_id": 4, "text": "zero\u200bwidth", "source": "crawl"},
        {"doc_id": 5, "text": None, "source": "crawl"},
    ]
    src = tmp_path / "enc_docs"
    _write_doc_files(src, [rows[:3], rows[3:]])
    stream = (
        spark.readStream.schema("doc_id long, text string, source string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        stream_encoding_monitor(stream)
        .writeStream.format("memory")
        .queryName("enc_monitor")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "enc_ckpt"))
        .start()
    )
    q.awaitTermination(120)
    streamed = spark.sql("""
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN f_repl THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_replacement,
               CAST(SUM(CASE WHEN f_ctl THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_control,
               CAST(SUM(CASE WHEN f_moj THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_mojibake,
               CAST(SUM(CASE WHEN f_zw THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_zero_width,
               CAST(COALESCE(SUM(mb_excess), 0) AS BIGINT)
                 AS multibyte_excess
        FROM enc_monitor GROUP BY source
    """)
    got = {r.source: tuple(r)[1:] for r in streamed.collect()}

    docs = spark.createDataFrame(
        [(r["doc_id"], r["text"], None, r["source"], 0) for r in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    want = {
        r.source: (
            r.n_docs, r.n_replacement, r.n_control, r.n_mojibake,
            r.n_zero_width, r.multibyte_excess,
        )
        for r in encoding_artifacts(docs).collect()
    }
    assert got == want
    assert want["web"][1] == 1 and want["web"][2] == 1  # planted artifacts
    assert want["crawl"][3] == 1 and want["crawl"][4] == 1


def test_stream_quality_gate_matches_batch(spark, tmp_path):
    """Streaming Gopher gate: per-doc rule report and keep flag across
    micro-batches must equal the batch gopher_rules computation on the
    same corpus (projection-only op — the differential is the whole
    point: streaming legality must not change a single value)."""
    from spark_history_server_rs_spark.operators.textprep import gopher_rules
    from spark_history_server_rs_spark.streaming.ingest import (
        stream_quality_gate,
    )

    good = " ".join(
        ["the quick brown fox jumps over the lazy dog and runs to it with"]
        * 3
    )
    corpus = {
        1: good,                                   # passes everything
        2: "short",                                # word-count floor
        3: "- bullet one\n- bullet two\n- three",  # bullet-line cap
        4: "a a a a a # # # # # # " + good,        # symbol ratio
        5: "same line\nsame line\nsame line\nok",  # dup-line cap
        6: good + " trailing thought goes on...",  # ellipsis line (1/1)
    }
    src = tmp_path / "quality_docs"
    _write_doc_files(
        src,
        [
            [{"doc_id": i, "text": corpus[i], "lang": "en"} for i in (1, 2, 3)],
            [{"doc_id": i, "text": corpus[i], "lang": "en"} for i in (4, 5, 6)],
        ],
    )
    stream = (
        spark.readStream.schema("doc_id long, text string, lang string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    q = (
        stream_quality_gate(stream)
        .writeStream.format("memory")
        .queryName("quality_gate")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "qg_ckpt"))
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        r.doc_id: tuple(r) for r in spark.sql("SELECT * FROM quality_gate").collect()
    }

    docs = spark.createDataFrame(
        [(i, t, "en") for i, t in corpus.items()],
        "doc_id long, text string, lang string",
    )
    batch = {r.doc_id: tuple(r) for r in gopher_rules(docs).collect()}
    assert streamed == batch
    # the corpus exercises both outcomes
    keeps = {r.doc_id: r.keep for r in gopher_rules(docs).collect()}
    assert keeps[1] and not keeps[2]


def test_dedup_index_roundtrip_and_pairs(spark, tmp_path):
    """Durable dedup index: write shingles / band keys (partitioned by
    band_idx) / passage hashes to parquet, then compute D3's near-dup
    pairs ENTIRELY from the index — result-identical to the live
    operator, with no document text read in the query phase."""
    import os

    from spark_history_server_rs_spark.operators import dedup
    from spark_history_server_rs_spark.sources.dedup_index import (
        minhash_lsh_pairs_from_index,
        read_dedup_index,
        write_dedup_index,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    path = str(tmp_path / "dedup_index")
    write_dedup_index(docs, path)
    # layout: band keys are partition-pruned per band
    assert sorted(
        x for x in os.listdir(path + "/band_keys") if x.startswith("band_idx")
    ) == [f"band_idx={i}" for i in range(dedup.BANDS)]
    idx = read_dedup_index(spark, path)
    assert idx["shingles"].columns == ["doc_id", "shingle"]
    assert set(idx["passages"].columns) == {"doc_id", "pos", "phash"}

    dedup.clear_materialized_caches()
    live = {tuple(r) for r in dedup.minhash_lsh_pairs(docs).collect()}
    from_idx = {
        tuple(r) for r in minhash_lsh_pairs_from_index(spark, path).collect()
    }
    assert from_idx == live and len(live) > 0
    # idempotent overwrite
    write_dedup_index(docs, path)
    again = {
        tuple(r) for r in minhash_lsh_pairs_from_index(spark, path).collect()
    }
    assert again == live


def test_stream_dedup_index_maintenance(spark, tmp_path):
    """Streaming index maintenance: documents arriving across
    micro-batches append to the persisted dedup index; a later batch's
    near-duplicate of an earlier batch's doc surfaces as a pair from
    the index with no re-index. Double-appended rows (at-least-once
    retry simulation) must not shift any Jaccard value."""
    from spark_history_server_rs_spark.sources.dedup_index import (
        minhash_lsh_pairs_from_index,
        stream_update_dedup_index,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    corpus = {
        1: base,
        2: "a completely different document about spark shuffles here",
        # batch-2 doc: near-verbatim of doc 1 (crosses the batch boundary)
        7: base + " lambda",
        8: "another unrelated text mentioning parquet row groups",
    }
    src = tmp_path / "idx_docs"
    _write_doc_files(
        src,
        [
            [{"doc_id": i, "text": corpus[i], "lang": "en"} for i in (1, 2)],
            [{"doc_id": i, "text": corpus[i], "lang": "en"} for i in (7, 8)],
        ],
    )
    stream = (
        spark.readStream.schema("doc_id long, text string, lang string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    path = str(tmp_path / "stream_index")
    q = stream_update_dedup_index(stream, path, str(tmp_path / "idx_ckpt"))
    q.awaitTermination(120)

    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in minhash_lsh_pairs_from_index(spark, path).collect()
    }
    assert (1, 7) in pairs  # the cross-batch near-dup
    # at-least-once resilience: double-append one batch's relations and
    # re-query — DISTINCT reads keep every Jaccard identical
    docs_b1 = spark.createDataFrame(
        [(1, corpus[1], "en"), (2, corpus[2], "en")],
        "doc_id long, text string, lang string",
    )
    from spark_history_server_rs_spark.operators.dedup import _SHINGLES_SPARK

    docs_b1.createOrReplaceTempView("_retry_docs")
    spark.sql(_SHINGLES_SPARK.format(src="_retry_docs")).write.mode(
        "append"
    ).parquet(path + "/shingles")
    pairs_after = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in minhash_lsh_pairs_from_index(spark, path).collect()
    }
    assert pairs_after == pairs


def test_training_shards_roundtrip_and_validation(spark, tmp_path):
    """S15 training-shard sink: stable xxhash64 shard membership (same
    doc → same shard across rewrites and partitionings), full coverage,
    a manifest that validates clean, and a validator that FLAGS a
    tampered shard."""
    import os

    from spark_history_server_rs_spark.sources.training_shards import (
        validate_training_shards,
        write_training_shards,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "shards_out")
    write_training_shards(docs, path)

    written = spark.read.parquet(f"{path}/shards")
    assert written.count() == docs.count()  # nothing lost
    # stable membership: rewrite from a differently-partitioned input
    path2 = str(tmp_path / "shards_out2")
    write_training_shards(docs.repartition(7), path2)
    m1 = {(r.shard, r.doc_id) for r in written.select("shard", "doc_id").collect()}
    m2 = {
        (r.shard, r.doc_id)
        for r in spark.read.parquet(f"{path2}/shards")
        .select("shard", "doc_id")
        .collect()
    }
    assert m1 == m2
    # manifests identical too (order-independent content hash)
    mf1 = {tuple(r) for r in spark.read.parquet(f"{path}/manifest").collect()}
    mf2 = {tuple(r) for r in spark.read.parquet(f"{path2}/manifest").collect()}
    assert mf1 == mf2

    assert validate_training_shards(spark, path).count() == 0  # intact

    # tamper: drop one shard directory entirely → flagged with NULL
    # actuals; other shards stay clean
    victim = sorted(
        x for x in os.listdir(f"{path}/shards") if x.startswith("shard=")
    )[0]
    import shutil

    shutil.rmtree(f"{path}/shards/{victim}")
    bad = validate_training_shards(spark, path).collect()
    assert len(bad) == 1
    assert f"shard={bad[0].shard}" == victim
    assert bad[0].actual_docs is None and bad[0].manifest_docs > 0

    # NULL doc_id → a CONCRETE shard (Spark's xxhash64 skips NULL
    # inputs, so the hash is the seed, 42, and the row lands in
    # pmod(42, n)): must validate clean, not surface as a discrepancy
    path3 = str(tmp_path / "shards_null")
    nullable = docs.limit(2).unionByName(
        docs.limit(1).selectExpr(
            "CAST(NULL AS BIGINT) AS doc_id", "text", "lang", "source",
            "n_chars"
        )
    )
    write_training_shards(nullable, path3)
    assert validate_training_shards(spark, path3).count() == 0
    # pin the xxhash64-skips-NULL semantics the docstrings now state
    null_shards = (
        spark.read.parquet(f"{path3}/shards")
        .where("doc_id IS NULL")
        .select("shard")
        .collect()
    )
    assert len(null_shards) == 1 and null_shards[0].shard is not None


def test_compact_training_shards_exactly_once(spark, tmp_path):
    """The full at-least-once → exactly-once S15 arc (the same arc the
    dedup/ANN indexes have): stream-append shards → simulate a retried
    micro-batch (one batch's rows appended twice) → the validator
    correctly FLAGS the drift → compact_training_shards removes the
    duplicates, preserves the shard= layout, refreshes the manifest
    (validator clean with no extra step) → a second compact is a no-op
    rewriting byte-identical shard files."""
    import hashlib
    import os

    from spark_history_server_rs_spark.sources.training_shards import (
        compact_training_shards,
        refresh_shard_manifest,
        stream_append_training_shards,
        validate_training_shards,
    )
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    src = tmp_path / "cshard_src"
    b1 = docs.where("doc_id % 2 = 0")
    b1.coalesce(1).write.parquet(str(src / "b1"))
    docs.where("doc_id % 2 = 1").coalesce(1).write.parquet(str(src / "b2"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    path = str(tmp_path / "cshard_out")
    q = stream_append_training_shards(stream, path, str(tmp_path / "c_ckpt"))
    q.awaitTermination(120)
    refresh_shard_manifest(spark, path)
    assert validate_training_shards(spark, path).count() == 0
    n_total, n_b1 = docs.count(), b1.count()

    # retry simulation: batch 1's rows appended a second time, exactly
    # as the foreachBatch writer would on a post-write retry
    (
        b1.withColumn("shard", F.pmod(F.xxhash64("doc_id"), F.lit(8)))
        .write.mode("append")
        .partitionBy("shard")
        .parquet(f"{path}/shards")
    )
    # the validator flags the drift (docs/tokens/content all moved)...
    assert validate_training_shards(spark, path).count() > 0
    # ...and compaction is the remedy
    stats = compact_training_shards(spark, path)
    assert stats == [
        {"relation": "shards", "rows_before": n_total + n_b1,
         "rows_after": n_total}
    ]
    assert validate_training_shards(spark, path).count() == 0
    shard_dirs = sorted(
        x for x in os.listdir(f"{path}/shards") if x.startswith("shard=")
    )
    assert shard_dirs and all(d.startswith("shard=") for d in shard_dirs)

    def _content_md5s(root: str) -> dict[str, list[str]]:
        out: dict[str, list[str]] = {}
        for d in sorted(os.listdir(root)):
            if not d.startswith("shard="):
                continue
            sums = sorted(
                hashlib.md5(
                    open(os.path.join(root, d, f), "rb").read()
                ).hexdigest()
                for f in os.listdir(os.path.join(root, d))
                if f.endswith(".parquet")
            )
            out[d] = sums
        return out

    before = _content_md5s(f"{path}/shards")
    stats2 = compact_training_shards(spark, path)
    assert stats2 == [
        {"relation": "shards", "rows_before": n_total,
         "rows_after": n_total}
    ]
    assert _content_md5s(f"{path}/shards") == before  # byte-stable
    assert validate_training_shards(spark, path).count() == 0


def test_stream_append_training_shards(spark, tmp_path):
    """Streaming S15: docs arriving across micro-batches land in the
    SAME shard the batch writer would assign (membership independent of
    arrival time), and after a manifest refresh validation is clean."""
    from spark_history_server_rs_spark.sources.training_shards import (
        refresh_shard_manifest,
        stream_append_training_shards,
        validate_training_shards,
        write_training_shards,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # comparator: one batch export of the same corpus
    batch_path = str(tmp_path / "batch_shards")
    write_training_shards(docs, batch_path)

    src = tmp_path / "shard_stream_src"
    docs.where("doc_id % 2 = 0").coalesce(1).write.parquet(str(src / "b1"))
    docs.where("doc_id % 2 = 1").coalesce(1).write.parquet(str(src / "b2"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    path = str(tmp_path / "stream_shards")
    q = stream_append_training_shards(
        stream, path, str(tmp_path / "shard_ckpt")
    )
    q.awaitTermination(120)

    streamed = {
        (r.shard, r.doc_id)
        for r in spark.read.parquet(f"{path}/shards")
        .select("shard", "doc_id")
        .collect()
    }
    batch = {
        (r.shard, r.doc_id)
        for r in spark.read.parquet(f"{batch_path}/shards")
        .select("shard", "doc_id")
        .collect()
    }
    assert streamed == batch  # arrival time never moves a doc's shard
    refresh_shard_manifest(spark, path)
    assert validate_training_shards(spark, path).count() == 0


def test_two_pipelines_one_session_no_cross_registration(spark, tmp_path):
    """Two library pipelines sharing ONE SparkSession over DIFFERENT
    corpora: interleaved and concurrent operator calls each compute over
    their own corpus. This is the scoped-view contract for the library
    surface (the REST surface has its own concurrency test) — with any
    fixed temp-view name left in an operator, pipeline B's registration
    would silently redirect pipeline A's plan. Also pins that no
    operator leaks a view name into the catalog."""
    import threading

    from spark_history_server_rs_spark.operators import corpus, dedup, llmprep, textprep

    docs_a = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # corpus B: disjoint doc_ids, rewritten text — every op result differs
    docs_b = docs_a.selectExpr(
        "doc_id + 5000000 AS doc_id",
        "regexp_replace(text, '(^| )', '$1zq') AS text",
        "lang", "source",
    ).selectExpr("*", "CAST(length(text) AS BIGINT) AS n_chars")

    ops = [
        ("vocabulary", corpus.vocabulary),
        ("minhash", dedup.minhash_lsh_pairs),
        ("quality", textprep.text_quality),
        ("pack", llmprep.pack_sequences),
        ("unigram", corpus.unigram_logprob),
    ]
    # serial baselines (cache cleared so each corpus builds fresh)
    dedup.clear_materialized_caches()
    base_a = {n: [tuple(r) for r in fn(docs_a).collect()] for n, fn in ops}
    dedup.clear_materialized_caches()
    base_b = {n: [tuple(r) for r in fn(docs_b).collect()] for n, fn in ops}
    assert all(base_a[n] != base_b[n] for n, _ in ops)  # honest fixture

    # interleaved: A then B per op, single thread
    dedup.clear_materialized_caches()
    for n, fn in ops:
        assert [tuple(r) for r in fn(docs_a).collect()] == base_a[n], n
        assert [tuple(r) for r in fn(docs_b).collect()] == base_b[n], n

    # concurrent: one thread per pipeline, all ops
    dedup.clear_materialized_caches()
    results: dict[str, dict] = {"a": {}, "b": {}}
    errors: list = []

    def run(tag, docs):
        try:
            for n, fn in ops:
                results[tag][n] = [tuple(r) for r in fn(docs).collect()]
        except Exception as e:  # pragma: no cover - surfaced via assert
            errors.append((tag, e))

    ts = [
        threading.Thread(target=run, args=("a", docs_a)),
        threading.Thread(target=run, args=("b", docs_b)),
    ]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=300)
    assert not errors, errors
    assert results["a"] == base_a
    assert results["b"] == base_b

    # nothing leaked into the catalog: scoped views carry a 32-hex
    # uuid suffix — match the PATTERN, not a prefix list that silently
    # goes stale as operators gain new prefixes (_overlap/_doremi/_mix
    # were missing from the first version of this check)
    import re as _re

    leaked = [
        t.name
        for t in spark.catalog.listTables()
        if _re.fullmatch(r"_.*_[0-9a-f]{32}", t.name)
        or t.name.startswith(("_corpus", "_dedup", "_llm", "_sim",
                              "_text", "_rel", "_idx", "_annidx",
                              "_stream", "_probe", "_sem", "_cc",
                              "_overlap", "_doremi", "_mix"))
    ]
    assert leaked == []


def test_bpe_concurrent_corpora_train_correctly(spark):
    """BPE training no longer holds one global lock across its multi-job
    run: two threads training DIFFERENT corpora concurrently both get
    the same merges a serial run produces (per-key build locks; the
    one-corpus-at-a-time cache eviction stays correct — at worst a
    retrain, never a wrong result)."""
    import threading

    from spark_history_server_rs_spark.operators import llmprep

    docs_a = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    docs_b = docs_a.selectExpr(
        "doc_id", "regexp_replace(text, '(^| )', '$1qq') AS text",
        "lang", "source", "n_chars",
    )
    llmprep._clear_bpe_cache()
    serial_a = [tuple(r) for r in llmprep.bpe_train(docs_a).collect()]
    llmprep._clear_bpe_cache()
    serial_b = [tuple(r) for r in llmprep.bpe_train(docs_b).collect()]
    assert serial_a != serial_b  # honest fixture
    llmprep._clear_bpe_cache()

    results: dict[str, list] = {}
    errors: list = []

    def run(tag, docs):
        try:
            results[tag] = [tuple(r) for r in llmprep.bpe_train(docs).collect()]
        except Exception as e:  # pragma: no cover - surfaced via assert
            errors.append((tag, e))

    ts = [
        threading.Thread(target=run, args=("a", docs_a)),
        threading.Thread(target=run, args=("b", docs_b)),
    ]
    for t in ts:
        t.start()
    for t in ts:
        t.join(timeout=300)
    llmprep._clear_bpe_cache()
    assert not errors, errors
    assert results["a"] == serial_a
    assert results["b"] == serial_b


def test_cache_clear_waits_for_inflight_build(spark):
    """clear_materialized_caches must take the slot build locks: a build
    in flight when clear is called would otherwise insert its
    (stale-input) entry AFTER the clear. Pin the fix: clear blocks until
    the in-flight build finishes, then evicts its result."""
    import threading
    import time

    from spark_history_server_rs_spark.operators import dedup

    dedup.clear_materialized_caches()
    started = threading.Event()
    release = threading.Event()

    def build():
        started.set()
        assert release.wait(30)
        return spark.range(3).selectExpr(
            "id AS doc_id", "CAST(id AS STRING) AS shingle"
        )

    result = {}

    def worker():
        result["df"] = dedup._materialized_df(spark, "_race_slot", 42, build)

    t = threading.Thread(target=worker)
    t.start()
    assert started.wait(30)
    clearer = threading.Thread(target=dedup.clear_materialized_caches)
    clearer.start()
    time.sleep(0.3)
    assert clearer.is_alive()  # blocked on the slot lock, not done early
    release.set()
    t.join(30)
    clearer.join(30)
    assert not clearer.is_alive()
    # the in-flight build's entry was evicted, not resurrected
    assert "_race_slot" not in dedup._SHINGLE_CACHE
    assert result["df"].count() == 3  # the builder still got its frame


def test_minhash_probe_index_incremental(spark, tmp_path):
    """Incremental probe (the S13 production query): near-dup pairs for
    a NEW batch against the indexed corpus must equal the full-rebuild
    pair set restricted to pairs touching a new doc — computed without
    re-indexing, and probe candidates never pair old docs with old
    docs. Also survives duplicate-appended index rows (at-least-once)."""
    from spark_history_server_rs_spark.operators import dedup
    from spark_history_server_rs_spark.sources.dedup_index import (
        minhash_lsh_probe_index,
        write_dedup_index,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    old = docs.where("doc_id < 300")
    new = docs.where("doc_id >= 300")
    path = str(tmp_path / "probe_idx")
    write_dedup_index(old, path)

    dedup.clear_materialized_caches()
    probe = {
        tuple(r) for r in minhash_lsh_probe_index(spark, path, new).collect()
    }
    dedup.clear_materialized_caches()
    full = {tuple(r) for r in dedup.minhash_lsh_pairs(docs).collect()}
    expected = {t for t in full if t[0] >= 300 or t[1] >= 300}
    assert probe == expected and len(expected) > 0
    # at-least-once: double-append the index band keys; probe unchanged
    dup = spark.read.parquet(f"{path}/band_keys").select(
        "doc_id", "band_key", "band_idx"
    ).cache()
    dup.count()
    dup.write.mode("append").partitionBy("band_idx").parquet(
        f"{path}/band_keys"
    )
    dup.unpersist()
    dedup.clear_materialized_caches()
    probe_again = {
        tuple(r) for r in minhash_lsh_probe_index(spark, path, new).collect()
    }
    assert probe_again == expected


def test_index_manifests_validate_and_flag_tampering(spark, tmp_path):
    """S13/S14 integrity manifests (the index twin of the shard sink's
    self-verification): batch index + refreshed manifest validates
    clean; deleting a partition/relation is FLAGGED naming the relation;
    compaction refreshes an existing manifest so validation is clean
    immediately after the maintenance slot."""
    import shutil
    import os

    from spark_history_server_rs_spark.sources.ann_index import (
        refresh_ann_index_manifest,
        validate_ann_index,
        write_ann_index,
    )
    from spark_history_server_rs_spark.sources.dedup_index import (
        compact_dedup_index,
        refresh_dedup_index_manifest,
        validate_dedup_index,
        write_dedup_index,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    dpath = str(tmp_path / "m_dedup")
    write_dedup_index(docs, dpath)
    refresh_dedup_index_manifest(spark, dpath)
    assert validate_dedup_index(spark, dpath).count() == 0

    # at-least-once retry duplicates → manifest drift flagged, then the
    # compactor both repairs AND refreshes the manifest
    dup = spark.read.parquet(f"{dpath}/passages").cache()
    dup.count()
    dup.write.mode("append").parquet(f"{dpath}/passages")
    dup.unpersist()
    bad = validate_dedup_index(spark, dpath).collect()
    assert [r.relation for r in bad] == ["passages"]
    assert bad[0].actual_rows == 2 * bad[0].manifest_rows
    compact_dedup_index(spark, dpath)
    assert validate_dedup_index(spark, dpath).count() == 0

    # hard tampering: a band partition vanishes
    victim = sorted(
        x
        for x in os.listdir(f"{dpath}/band_keys")
        if x.startswith("band_idx=")
    )[0]
    shutil.rmtree(f"{dpath}/band_keys/{victim}")
    bad = validate_dedup_index(spark, dpath).collect()
    assert [r.relation for r in bad] == ["band_keys"]
    assert bad[0].actual_rows < bad[0].manifest_rows

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    apath = str(tmp_path / "m_ann")
    write_ann_index(emb, apath)
    refresh_ann_index_manifest(spark, apath)
    assert validate_ann_index(spark, apath).count() == 0
    # corrupt the codebook (overwrite with a truncated copy)
    cb = spark.read.parquet(f"{apath}/codebook").limit(3).cache()
    cb.count()
    cb.write.mode("overwrite").parquet(f"{apath}/codebook__x")
    shutil.rmtree(f"{apath}/codebook")
    os.rename(f"{apath}/codebook__x", f"{apath}/codebook")
    cb.unpersist()
    bad = validate_ann_index(spark, apath).collect()
    assert [r.relation for r in bad] == ["codebook"]

    # the bluntest corruption: a relation directory VANISHES — the
    # validator must flag it with NULL actuals, not crash on the read
    shutil.rmtree(f"{apath}/codes")
    bad = {r.relation: r for r in validate_ann_index(spark, apath).collect()}
    assert "codes" in bad
    assert bad["codes"].actual_rows is None
    assert bad["codes"].manifest_rows > 0


def test_maintenance_slot_services_all_artifacts(spark, tmp_path):
    """The one-call maintenance slot: all three durable artifacts
    duplicate-appended (at-least-once retry simulation) → one
    run_maintenance_slot → every artifact compacted back to its clean
    row counts, manifests refreshed (created where absent), every
    validator clean; a second slot is a no-op."""
    from pyspark.sql import functions as F

    from spark_history_server_rs_spark.sources.ann_index import write_ann_index
    from spark_history_server_rs_spark.sources.dedup_index import (
        write_dedup_index,
    )
    from spark_history_server_rs_spark.sources.maintenance import (
        run_maintenance_slot,
    )
    from spark_history_server_rs_spark.sources.training_shards import (
        write_training_shards,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    dpath = str(tmp_path / "slot_dedup")
    apath = str(tmp_path / "slot_ann")
    spath = str(tmp_path / "slot_shards")
    write_dedup_index(docs, dpath)
    write_ann_index(emb, apath)
    write_training_shards(docs, spath)

    # retry-duplicate one relation per artifact
    for rel, part in (("shingles", None),):
        dup = spark.read.parquet(f"{dpath}/{rel}").cache()
        dup.count()
        dup.write.mode("append").parquet(f"{dpath}/{rel}")
        dup.unpersist()
    dupc = spark.read.parquet(f"{apath}/codes").cache()
    dupc.count()
    dupc.write.mode("append").partitionBy("label").parquet(f"{apath}/codes")
    dupc.unpersist()
    half = docs.where("doc_id % 2 = 0")
    (
        half.withColumn("shard", F.pmod(F.xxhash64("doc_id"), F.lit(8)))
        .write.mode("append")
        .partitionBy("shard")
        .parquet(f"{spath}/shards")
    )

    report = run_maintenance_slot(
        spark,
        dedup_index_path=dpath,
        ann_index_path=apath,
        training_shards_path=spath,
    )
    by = {r["artifact"]: r for r in report}
    assert set(by) == {"dedup_index", "ann_index", "training_shards"}
    assert all(r["valid"] for r in report), report
    sh = {
        s["relation"]: s for s in by["dedup_index"]["compaction"]
    }["shingles"]
    assert sh["rows_before"] == 2 * sh["rows_after"]
    assert (
        by["ann_index"]["compaction"]["rows_before"]
        == 2 * by["ann_index"]["compaction"]["rows_after"]
    )
    srow = by["training_shards"]["compaction"][0]
    assert srow["rows_before"] == docs.count() + half.count()
    assert srow["rows_after"] == docs.count()

    # idempotent second slot
    report2 = run_maintenance_slot(
        spark,
        dedup_index_path=dpath,
        ann_index_path=apath,
        training_shards_path=spath,
    )
    assert all(r["valid"] for r in report2)
    for r in report2:
        comp = r["compaction"]
        rows = comp if isinstance(comp, list) else [comp]
        assert all(s["rows_before"] == s["rows_after"] for s in rows), r


def test_maintenance_slot_flags_vanished_artifacts(spark, tmp_path):
    """ADVICE r07: a fully-VANISHED artifact (index path wiped, export
    deleted) must surface from the maintenance slot as a validation
    discrepancy — compactors skip the missing relations, the manifest
    refresh keeps the STALE manifest as evidence, and the validator
    flags every attested relation with NULL actuals. The slot reports
    valid=False instead of crashing on a None dereference /
    AnalysisException."""
    import shutil

    from spark_history_server_rs_spark.sources.ann_index import write_ann_index
    from spark_history_server_rs_spark.sources.dedup_index import (
        refresh_dedup_index_manifest,
        write_dedup_index,
    )
    from spark_history_server_rs_spark.sources.index_manifest import (
        refresh_index_manifest,
    )
    from spark_history_server_rs_spark.sources.maintenance import (
        run_maintenance_slot,
    )
    from spark_history_server_rs_spark.sources.training_shards import (
        write_training_shards,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    dpath = str(tmp_path / "van_dedup")
    apath = str(tmp_path / "van_ann")
    spath = str(tmp_path / "van_shards")
    write_dedup_index(docs, dpath)
    refresh_dedup_index_manifest(spark, dpath)
    write_ann_index(emb, apath)
    from spark_history_server_rs_spark.sources.ann_index import (
        refresh_ann_index_manifest,
    )

    refresh_ann_index_manifest(spark, apath)
    write_training_shards(docs, spath)

    # wipe every relation but leave each manifest standing
    for p, rels in (
        (dpath, ("shingles", "band_keys", "passages")),
        (apath, ("centroids", "codebook", "codes", "meta")),
        (spath, ("shards",)),
    ):
        for rel in rels:
            shutil.rmtree(f"{p}/{rel}")

    report = run_maintenance_slot(
        spark,
        dedup_index_path=dpath,
        ann_index_path=apath,
        training_shards_path=spath,
    )
    by = {r["artifact"]: r for r in report}
    assert not any(r["valid"] for r in report), report
    # dedup: all three relations flagged with NULL actuals
    assert {d["relation"] for d in by["dedup_index"]["discrepancies"]} == {
        "shingles", "band_keys", "passages"
    }
    assert all(
        d["actual_rows"] is None for d in by["dedup_index"]["discrepancies"]
    )
    assert {d["relation"] for d in by["ann_index"]["discrepancies"]} >= {
        "centroids", "codebook", "codes"
    }
    assert len(by["training_shards"]["discrepancies"]) > 0
    assert all(
        d["actual_docs"] is None
        for d in by["training_shards"]["discrepancies"]
    )

    # a refresh over a truly EMPTY path (no manifest either) writes an
    # empty manifest rather than crashing; validation is then clean
    empty = str(tmp_path / "van_empty")
    refresh_index_manifest(spark, empty, ("centroids", "codes"))
    from spark_history_server_rs_spark.sources.index_manifest import (
        validate_index,
    )

    assert validate_index(spark, empty, ("centroids", "codes")).count() == 0

    # a manifest that itself vanished: validator flags every on-disk
    # relation with NULL manifest-side values instead of raising
    write_ann_index(emb, apath)  # rebuild relations
    shutil.rmtree(f"{apath}/manifest")
    from spark_history_server_rs_spark.sources.ann_index import (
        validate_ann_index,
    )

    bad = {r.relation: r for r in validate_ann_index(spark, apath).collect()}
    assert set(bad) == {"centroids", "codebook", "codes", "meta"}
    assert all(r.manifest_rows is None for r in bad.values())


def test_bpe_key_locks_pruned_on_clear():
    """ADVICE r07: _clear_bpe_cache must prune the per-corpus lock dict
    too — a long-lived REST session serving many distinct corpora would
    otherwise grow it without bound."""
    import threading

    from spark_history_server_rs_spark.operators import llmprep

    with llmprep._BPE_MERGE_LOCK:
        llmprep._BPE_MERGE_CACHE[111] = [(0, "a", "b", 1)]
        llmprep._BPE_KEY_LOCKS[111] = threading.Lock()
        llmprep._BPE_KEY_LOCKS[222] = threading.Lock()
    llmprep._clear_bpe_cache()
    with llmprep._BPE_MERGE_LOCK:
        assert llmprep._BPE_MERGE_CACHE == {}
        assert llmprep._BPE_KEY_LOCKS == {}


def test_compact_dedup_index_restores_exactly_once(spark, tmp_path):
    """compact_dedup_index: a duplicate-appended index (at-least-once
    retry simulation) compacts back to the DISTINCT key sets, the
    band_idx partition layout survives, pair results are identical
    before/after, and a second compact is a no-op rewriting identical
    content."""
    import os

    from spark_history_server_rs_spark.operators import dedup
    from spark_history_server_rs_spark.sources.dedup_index import (
        _INDEX_RELATIONS,
        compact_dedup_index,
        minhash_lsh_pairs_from_index,
        write_dedup_index,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "cidx")
    write_dedup_index(docs, path)
    clean_counts = {
        rel: spark.read.parquet(f"{path}/{rel}").count()
        for rel, _, _ in _INDEX_RELATIONS
    }
    # simulate a retried micro-batch: every relation appended twice
    for rel, keys, part in _INDEX_RELATIONS:
        dup = spark.read.parquet(f"{path}/{rel}").select(*keys).cache()
        dup.count()  # materialize before appending to the path being read
        writer = dup.write.mode("append")
        if part is not None:
            writer = writer.partitionBy(part)
        writer.parquet(f"{path}/{rel}")
        dup.unpersist()
    dedup.clear_materialized_caches()
    pairs_before = {
        tuple(r) for r in minhash_lsh_pairs_from_index(spark, path).collect()
    }
    assert len(pairs_before) > 0

    stats = {s["relation"]: s for s in compact_dedup_index(spark, path)}
    for rel, _, _ in _INDEX_RELATIONS:
        assert stats[rel]["rows_before"] == 2 * clean_counts[rel]
        assert stats[rel]["rows_after"] == clean_counts[rel]
    # band-probe partition pruning survives compaction
    assert sorted(
        x for x in os.listdir(path + "/band_keys") if x.startswith("band_idx")
    ) == [f"band_idx={i}" for i in range(dedup.BANDS)]
    assert {
        tuple(r) for r in minhash_lsh_pairs_from_index(spark, path).collect()
    } == pairs_before

    # idempotent: compacting an already-compact index changes nothing
    stats2 = {s["relation"]: s for s in compact_dedup_index(spark, path)}
    for rel, keys, _ in _INDEX_RELATIONS:
        assert stats2[rel]["rows_before"] == clean_counts[rel]
        assert stats2[rel]["rows_after"] == clean_counts[rel]
    assert {
        tuple(r) for r in minhash_lsh_pairs_from_index(spark, path).collect()
    } == pairs_before


def test_stream_dedup_index_checkpoint_resume(spark, tmp_path):
    """Streaming index maintenance across RESTARTS: a second availableNow
    run against the same checkpoint processes only files that arrived
    after the first run — no batch re-appended (row counts prove it),
    and the cross-restart near-dup pair surfaces from the index."""
    from spark_history_server_rs_spark.sources.dedup_index import (
        minhash_lsh_pairs_from_index,
        stream_update_dedup_index,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    src = tmp_path / "resume_docs"
    _write_doc_files(
        src,
        [[{"doc_id": 1, "text": base, "lang": "en"},
          {"doc_id": 2, "text": "something completely different here now",
           "lang": "en"}]],
    )
    path = str(tmp_path / "resume_index")
    ckpt = str(tmp_path / "resume_ckpt")

    def run_once():
        stream = (
            spark.readStream.schema("doc_id long, text string, lang string")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        q = stream_update_dedup_index(stream, path, ckpt)
        q.awaitTermination(120)

    run_once()
    rows_after_first = spark.read.parquet(f"{path}/shingles").count()
    # restart with NO new input: nothing reprocessed, nothing re-appended
    run_once()
    assert spark.read.parquet(f"{path}/shingles").count() == rows_after_first
    # a near-dup of doc 1 arrives after the restart boundary
    _write_doc_files(
        src,
        [[{"doc_id": 9, "text": base + " lambda", "lang": "en"}]],
        start=1,
    )
    run_once()
    pairs = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs_from_index(spark, path).collect()
    }
    assert (1, 9) in pairs  # found across the restart, no re-index


def test_ann_index_roundtrip_serves_ivfadc(spark, tmp_path):
    """Durable ANN index: centroids + PQ codebook + cell-partitioned
    codes persisted once; IVFADC answered from the index (only QUERY
    vectors read) must be result-identical to the live one-plan
    operator."""
    import os

    from spark_history_server_rs_spark.operators import similarity
    from spark_history_server_rs_spark.sources.ann_index import (
        ann_ivf_pq_from_index,
        write_ann_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    path = str(tmp_path / "ann_index")
    write_ann_index(emb, path)
    # codes are partitioned by cell → a probe is partition pruning
    assert any(
        x.startswith("label=") for x in os.listdir(path + "/codes")
    )
    live = [tuple(r) for r in similarity.ann_ivf_pq(emb).collect()]
    from_idx = [
        tuple(r) for r in ann_ivf_pq_from_index(spark, path, emb).collect()
    ]
    assert from_idx == live and len(live) > 0


def test_trained_ann_index_beats_label_cells(spark, tmp_path):
    """write_ann_index(train_steps=3): the Lloyd-trained coarse
    quantizer replaces label-mean centroids and cells become
    content-based (cosine-nearest). On this corpus the label column
    carries no geometry, so the label-cell probe's recall is near the
    1/k floor while the trained index's roughly doubles it — measured,
    asserted with margin. Streaming maintenance reads the persisted
    cell rule and assigns arriving vectors to their cosine-nearest
    persisted centroid — stream and batch can never disagree on cells."""
    from spark_history_server_rs_spark.operators.dedup import (
        cosine_expr_spark,
    )
    from spark_history_server_rs_spark.operators.similarity import (
        N_QUERIES,
        TOP_K,
    )
    from spark_history_server_rs_spark.sources.ann_index import (
        _cell_rule,
        ann_ivf_pq_from_index,
        stream_update_ann_index,
        write_ann_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    d_label = str(tmp_path / "label_ann")
    d_train = str(tmp_path / "trained_ann")
    write_ann_index(emb, d_label)
    write_ann_index(emb, d_train, train_steps=3)
    assert _cell_rule(spark, d_label) == "label"
    assert _cell_rule(spark, d_train) == "nearest"

    cos = cosine_expr_spark("q.embedding", "x.embedding")
    emb.createOrReplaceTempView("_trained_gt_emb")
    gt_rows = spark.sql(f"""
        SELECT vec_id AS query_id, xid AS nbr FROM (
          SELECT q.vec_id, x.vec_id AS xid,
                 ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                    ORDER BY {cos} DESC, x.vec_id) AS rnk
          FROM (SELECT * FROM _trained_gt_emb
                WHERE vec_id < {N_QUERIES}) q
          JOIN _trained_gt_emb x ON x.vec_id <> q.vec_id
        ) WHERE rnk <= {TOP_K}
    """).collect()
    spark.catalog.dropTempView("_trained_gt_emb")
    gt: dict[int, set] = {}
    for r in gt_rows:
        gt.setdefault(r.query_id, set()).add(r.nbr)

    def recall(path: str) -> float:
        by: dict[int, set] = {}
        for r in ann_ivf_pq_from_index(spark, path, emb).collect():
            by.setdefault(r.query_id, set()).add(r.neighbor_id)
        return sum(
            len(by.get(q, set()) & gt[q]) for q in gt
        ) / (len(gt) * TOP_K)

    r_label, r_train = recall(d_label), recall(d_train)
    # measured 0.18 vs 0.38 on this corpus; margin absorbs drift
    assert r_train >= r_label + 0.1, (r_label, r_train)

    # streaming append to the TRAINED index: the arriving vector's cell
    # must be its cosine-nearest persisted centroid, not its label
    one = emb.where("vec_id = 499")
    d_grow = str(tmp_path / "grow_ann")
    write_ann_index(emb.where("vec_id < 499"), d_grow, train_steps=3)
    src = tmp_path / "arrive_one"
    one.coalesce(1).write.parquet(str(src))
    stream = (
        spark.readStream.schema(
            "vec_id long, embedding array<float>, label int"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = stream_update_ann_index(
        stream, d_grow, str(tmp_path / "grow_ckpt")
    )
    q.awaitTermination(120)
    got_cell = (
        spark.read.parquet(f"{d_grow}/codes")
        .where("vec_id = 499")
        .select("label")
        .first()
        .label
    )
    one.createOrReplaceTempView("_one_vec")
    spark.read.parquet(f"{d_grow}/centroids").createOrReplaceTempView(
        "_grow_cents"
    )
    ccos = cosine_expr_spark("q.embedding", "ct.centroid")
    want_cell = spark.sql(f"""
        SELECT ct.label FROM _one_vec q JOIN _grow_cents ct ON 1 = 1
        ORDER BY {ccos} DESC, ct.label LIMIT 1
    """).first().label
    spark.catalog.dropTempView("_one_vec")
    spark.catalog.dropTempView("_grow_cents")
    assert got_cell == want_cell
    # and the probe can surface the streamed vector
    found = {
        r.neighbor_id
        for r in ann_ivf_pq_from_index(spark, d_grow, emb).collect()
    }
    assert len(found) > 0  # present in the index scan
    assert (
        spark.read.parquet(f"{d_grow}/codes")
        .where("vec_id = 499")
        .count()
        == 1
    )


def test_stream_ann_index_maintenance(spark, tmp_path):
    """Streaming ANN-index maintenance (S14 parity with S13): embeddings
    arriving across micro-batches are PQ-encoded against the EXISTING
    persisted codebook and appended to codes/ per cell; a query from the
    index finds neighbors ingested in earlier batches with no re-index.
    Differential vs a single-pass batch encode of the same arrivals;
    at-least-once duplicate appends must not shift any distance; compact
    resets the duplicates idempotently."""
    from spark_history_server_rs_spark.operators.similarity import PQ_M
    from spark_history_server_rs_spark.sources.ann_index import (
        _ENCODE_AGAINST_CB,
        _PQ_SCALE,
        PQ_SUBDIM,
        ann_ivf_pq_from_index,
        compact_ann_index,
        stream_update_ann_index,
        write_ann_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    initial = emb.where("vec_id < 100")  # contains codebook ids + queries
    arriving = emb.where("vec_id >= 100")
    path = str(tmp_path / "stream_ann")
    path_batch = str(tmp_path / "batch_ann")
    write_ann_index(initial, path)
    write_ann_index(initial, path_batch)

    # stage the arrivals as two parquet files → two micro-batches
    src = tmp_path / "arriving"
    arriving.where("vec_id < 300").coalesce(1).write.parquet(
        str(src / "b1")
    )
    arriving.where("vec_id >= 300").coalesce(1).write.parquet(
        str(src / "b2")
    )
    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>, label int")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q = stream_update_ann_index(stream, path, str(tmp_path / "ann_ckpt"))
    q.awaitTermination(180)

    res = [tuple(r) for r in ann_ivf_pq_from_index(spark, path, emb).collect()]
    assert len(res) > 0
    # the headline property: a vector ingested by the STREAM (vec_id >=
    # 100) surfaces as a ranked neighbor of a pre-existing query
    assert any(r[2] >= 100 for r in res), "no cross-batch neighbor found"

    # differential: the same arrivals encoded in ONE batch pass against
    # the same persisted codebook must yield an identical index answer
    arriving.createOrReplaceTempView("_batch_arrivals")
    spark.read.parquet(f"{path_batch}/codebook").createOrReplaceTempView(
        "_batch_cb"
    )
    code_cols = ",\n       ".join(
        f"MAX(CASE WHEN subspace = {s} THEN codeword END) AS code_{s}"
        for s in range(PQ_M)
    )
    spark.sql(
        _ENCODE_AGAINST_CB.format(
            src="_batch_arrivals", cb="_batch_cb",
            scale=_PQ_SCALE, subdim=PQ_SUBDIM, code_cols=code_cols, seq=1,
            cells_cte="cells AS (SELECT vec_id, label"
                      " FROM _batch_arrivals)",
        )
    ).write.mode("append").partitionBy("label").parquet(f"{path_batch}/codes")
    res_batch = [
        tuple(r) for r in ann_ivf_pq_from_index(spark, path_batch, emb).collect()
    ]
    assert res_batch == res

    # at-least-once retry: double-append one batch's codes — DISTINCT
    # reads keep every distance identical
    dup = spark.read.parquet(f"{path}/codes").where(
        "vec_id >= 100 AND vec_id < 300"
    ).cache()
    n_dup = dup.count()
    dup.write.mode("append").partitionBy("label").parquet(f"{path}/codes")
    dup.unpersist()
    res_dup = [
        tuple(r) for r in ann_ivf_pq_from_index(spark, path, emb).collect()
    ]
    assert res_dup == res

    # compaction: duplicates rewritten away, answers unchanged, no-op
    # second pass
    stats = compact_ann_index(spark, path)
    assert stats["rows_before"] == stats["rows_after"] + n_dup
    assert [
        tuple(r) for r in ann_ivf_pq_from_index(spark, path, emb).collect()
    ] == res
    stats2 = compact_ann_index(spark, path)
    assert stats2["rows_before"] == stats2["rows_after"] == stats["rows_after"]

    # re-streamed vector with a CHANGED embedding: the higher ingest_seq
    # wins on the read path (stale codes must not double ADC distances),
    # and the answer equals a batch encode of the UPDATED state
    new_vec = emb.where("vec_id = 450").selectExpr(
        "CAST(150 AS BIGINT) AS vec_id", "embedding", "label"
    )
    new_vec.coalesce(1).write.parquet(str(src / "b3"))
    q2 = stream_update_ann_index(
        (
            spark.readStream.schema(
                "vec_id long, embedding array<float>, label int"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*")
        ),
        path,
        str(tmp_path / "ann_ckpt"),
    )
    q2.awaitTermination(180)
    res_updated = [
        tuple(r) for r in ann_ivf_pq_from_index(spark, path, emb).collect()
    ]
    # comparator: fresh initial index + ONE batch encode of the updated
    # arrival set (vec 150 carrying the new embedding)
    path3 = str(tmp_path / "updated_ann")
    write_ann_index(initial, path3)
    updated_arrivals = arriving.where("vec_id <> 150").unionByName(new_vec)
    updated_arrivals.createOrReplaceTempView("_upd_arrivals")
    spark.read.parquet(f"{path3}/codebook").createOrReplaceTempView("_upd_cb")
    spark.sql(
        _ENCODE_AGAINST_CB.format(
            src="_upd_arrivals", cb="_upd_cb",
            scale=_PQ_SCALE, subdim=PQ_SUBDIM, code_cols=code_cols, seq=1,
            cells_cte="cells AS (SELECT vec_id, label"
                      " FROM _upd_arrivals)",
        )
    ).write.mode("append").partitionBy("label").parquet(f"{path3}/codes")
    assert res_updated == [
        tuple(r) for r in ann_ivf_pq_from_index(spark, path3, emb).collect()
    ]
    # compaction materializes latest-wins: the stale vec-150 code row is
    # gone and the answer is unchanged
    compact_ann_index(spark, path)
    codes = spark.read.parquet(f"{path}/codes")
    assert codes.where("vec_id = 150").count() == 1
    assert [
        tuple(r) for r in ann_ivf_pq_from_index(spark, path, emb).collect()
    ] == res_updated


def test_stream_ann_index_checkpoint_reset_keeps_seq_monotonic(spark, tmp_path):
    """ingest_seq must stay monotonic across CHECKPOINT RESETS, not just
    within one checkpoint lineage: batch ids restart at 0 in a fresh
    checkpoint dir, so a seq derived from batch_id would let a
    re-streamed vector with a CHANGED embedding land at a seq equal to
    its existing rows — both code sets would survive latest-wins and
    every ADC distance for that vector would double-count. The seq is
    instead derived from the index's own max, so the reset run lands
    HIGHER, exactly one code set survives, and the answer equals a
    batch encode of the updated state."""
    from spark_history_server_rs_spark.operators.similarity import PQ_M
    from spark_history_server_rs_spark.sources.ann_index import (
        _ENCODE_AGAINST_CB,
        _PQ_SCALE,
        PQ_SUBDIM,
        ann_ivf_pq_from_index,
        stream_update_ann_index,
        write_ann_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    initial = emb.where("vec_id < 100")
    path = str(tmp_path / "reset_ann")
    write_ann_index(initial, path)

    schema = "vec_id long, embedding array<float>, label int"

    def run(src_dir, ckpt):
        q = stream_update_ann_index(
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src_dir}/*"),
            path,
            ckpt,
        )
        q.awaitTermination(180)

    # lineage 1: vector 150 arrives with its original embedding
    old_vec = emb.where("vec_id = 150")
    src1 = tmp_path / "reset_src1"
    old_vec.coalesce(1).write.parquet(str(src1 / "b1"))
    run(src1, str(tmp_path / "reset_ckpt1"))
    codes = spark.read.parquet(f"{path}/codes")
    assert codes.selectExpr("max(ingest_seq) AS m").first().m == 1

    # checkpoint RESET (fresh dir, batch ids restart at 0): the same
    # vector re-streams with a DIFFERENT embedding (vec 450's payload)
    new_vec = emb.where("vec_id = 450").selectExpr(
        "CAST(150 AS BIGINT) AS vec_id", "embedding", "label"
    )
    src2 = tmp_path / "reset_src2"
    new_vec.coalesce(1).write.parquet(str(src2 / "b1"))
    run(src2, str(tmp_path / "reset_ckpt2"))

    codes = spark.read.parquet(f"{path}/codes")
    assert codes.selectExpr("max(ingest_seq) AS m").first().m == 2
    # latest-wins leaves exactly ONE code set for vec 150
    latest = codes.where(
        "vec_id = 150 AND ingest_seq = 2"
    ).drop("ingest_seq").distinct()
    assert latest.count() == 1

    # and the served answer equals a fresh index + one-batch encode of
    # the UPDATED vector (no doubled ADC terms anywhere)
    res = [tuple(r) for r in ann_ivf_pq_from_index(spark, path, emb).collect()]
    path2 = str(tmp_path / "reset_cmp")
    write_ann_index(initial, path2)
    new_vec.createOrReplaceTempView("_reset_arrivals")
    spark.read.parquet(f"{path2}/codebook").createOrReplaceTempView(
        "_reset_cb"
    )
    code_cols = ",\n       ".join(
        f"MAX(CASE WHEN subspace = {s} THEN codeword END) AS code_{s}"
        for s in range(PQ_M)
    )
    spark.sql(
        _ENCODE_AGAINST_CB.format(
            src="_reset_arrivals", cb="_reset_cb",
            scale=_PQ_SCALE, subdim=PQ_SUBDIM, code_cols=code_cols, seq=1,
            cells_cte="cells AS (SELECT vec_id, label"
                      " FROM _reset_arrivals)",
        )
    ).write.mode("append").partitionBy("label").parquet(f"{path2}/codes")
    assert res == [
        tuple(r) for r in ann_ivf_pq_from_index(spark, path2, emb).collect()
    ]


def test_stream_anisotropy_monitor_matches_batch(spark, tmp_path):
    """L7b's streaming twin: embeddings streamed in three micro-batches
    emit exact partial statistics; the merged reader must be
    BIT-IDENTICAL to the batch anisotropy row over the full corpus (the
    sum-vector identity is decomposable — every term is a plain SUM).
    Then simulate an at-least-once retry by re-appending one batch's
    partial rows: the reader's DISTINCT repair must leave the answer
    unchanged."""
    from spark_history_server_rs_spark.operators.llmprep import (
        embedding_anisotropy,
        read_anisotropy_stats,
    )
    from spark_history_server_rs_spark.streaming.ingest import (
        stream_anisotropy_monitor,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).limit(36)
    src = tmp_path / "aniso_emb"
    src.mkdir()
    # three arrival files, FLAT in the watched dir (a nested subdir can
    # list 0 rows — see the streaming-source note in conftest history)
    for i in range(3):
        emb.where(f"vec_id % 3 = {i}").coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
    stream = (
        spark.readStream.schema(
            "vec_id long, embedding array<float>, label int"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = str(tmp_path / "aniso_stats")
    q = stream_anisotropy_monitor(stream, out, str(tmp_path / "aniso_ckpt"))
    q.awaitTermination(120)

    want = [r.asDict() for r in embedding_anisotropy(emb).collect()]
    got = [r.asDict() for r in read_anisotropy_stats(spark, out).collect()]
    assert got == want and want[0]["n_vecs"] == 36

    # at-least-once retry: re-append one batch's byte-identical partials
    dup = spark.read.parquet(out).where("batch_id = 0")
    dup.write.mode("append").parquet(out)
    got_after = [
        r.asDict() for r in read_anisotropy_stats(spark, out).collect()
    ]
    assert got_after == want


def test_knn_graph_index_serves_batch_and_stream(spark, tmp_path):
    """S16 durable kNN graph: the persisted adjacency serves X6 and X12
    result-identically to the live operators — after the batch build,
    after STREAMED appends (the graph grows without a rebuild), after
    at-least-once duplicate appends, and after compaction (idempotent).
    The stream-vs-rebuild identity is the core S16 theorem: edges only
    accumulate, so build-time top-k truncation + read-time rank
    recompute always equals a from-scratch build."""
    from spark_history_server_rs_spark.operators import similarity
    from spark_history_server_rs_spark.sources.knn_graph import (
        ann_graph_expand2_from_index,
        ann_graph_expand_from_index,
        ann_knn_graph_from_index,
        compact_knn_graph,
        refresh_knn_graph_manifest,
        stream_update_knn_graph,
        validate_knn_graph,
        write_knn_graph,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    path = str(tmp_path / "knng")

    # batch build over the full corpus: all three serving twins identical
    write_knn_graph(emb, path)
    live_g = [tuple(r) for r in similarity.ann_knn_graph(emb).collect()]
    assert [
        tuple(r) for r in ann_knn_graph_from_index(spark, path).collect()
    ] == live_g
    live_x = [tuple(r) for r in similarity.ann_graph_expand(emb).collect()]
    idx_x = [
        tuple(r)
        for r in ann_graph_expand_from_index(spark, path, emb).collect()
    ]
    assert idx_x == live_x and len(idx_x) == similarity.N_QUERIES
    live_x2 = [tuple(r) for r in similarity.ann_graph_expand2(emb).collect()]
    assert [
        tuple(r)
        for r in ann_graph_expand2_from_index(spark, path, emb).collect()
    ] == live_x2

    # incremental arc: index a subset, STREAM the rest in two
    # micro-batches, then both twins must equal the live ops on the FULL
    # corpus — edges written batches ago join edges written now
    path2 = str(tmp_path / "knng_inc")
    initial = emb.where("vec_id < 350")
    arriving = emb.where("vec_id >= 350")
    write_knn_graph(initial, path2)
    src = tmp_path / "knng_arrivals"
    arriving.where("vec_id < 420").coalesce(1).write.parquet(str(src / "b1"))
    arriving.where("vec_id >= 420").coalesce(1).write.parquet(str(src / "b2"))

    def run_stream(ckpt):
        q = stream_update_knn_graph(
            spark.readStream.schema(
                "vec_id long, embedding array<float>, label int"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{src}/*"),
            path2,
            str(tmp_path / ckpt),
        )
        q.awaitTermination(180)

    run_stream("knng_ckpt")
    assert [
        tuple(r) for r in ann_knn_graph_from_index(spark, path2).collect()
    ] == live_g
    assert [
        tuple(r)
        for r in ann_graph_expand_from_index(spark, path2, emb).collect()
    ] == live_x
    assert [
        tuple(r)
        for r in ann_graph_expand2_from_index(spark, path2, emb).collect()
    ] == live_x2

    # at-least-once retry: replay BOTH batches under a fresh checkpoint
    # (byte-identical rows re-appended) — answers unchanged
    run_stream("knng_ckpt_retry")
    rows_dup = spark.read.parquet(f"{path2}/edges").count()
    assert [
        tuple(r) for r in ann_knn_graph_from_index(spark, path2).collect()
    ] == live_g

    # compaction: duplicates + displaced-below-k edges materialized away,
    # partition layout preserved, answers unchanged, second pass no-op
    refresh_knn_graph_manifest(spark, path2)
    stats = {s["relation"]: s for s in compact_knn_graph(spark, path2)}
    assert stats["edges"]["rows_before"] == rows_dup
    assert stats["edges"]["rows_after"] < rows_dup
    assert validate_knn_graph(spark, path2).count() == 0
    assert [
        tuple(r) for r in ann_knn_graph_from_index(spark, path2).collect()
    ] == live_g
    assert [
        tuple(r)
        for r in ann_graph_expand_from_index(spark, path2, emb).collect()
    ] == live_x
    stats2 = {s["relation"]: s for s in compact_knn_graph(spark, path2)}
    assert (
        stats2["edges"]["rows_before"]
        == stats2["edges"]["rows_after"]
        == stats["edges"]["rows_after"]
    )

    # compacted edge relation keeps the src_bucket partition layout
    import os

    from spark_history_server_rs_spark.sources.knn_graph import (
        N_GRAPH_BUCKETS,
    )

    parts = {
        x
        for x in os.listdir(f"{path2}/edges")
        if x.startswith("src_bucket=")
    }
    assert parts and all(
        int(p.split("=")[1]) < N_GRAPH_BUCKETS for p in parts
    )


def test_maintenance_slot_services_knn_graph(spark, tmp_path):
    """S16 rides the same one-call maintenance slot as S13/S14/S15:
    duplicate-appended graph → compacted, manifest refreshed (created),
    validator clean; vanished graph → flagged, not crashed."""
    import shutil

    from spark_history_server_rs_spark.sources.knn_graph import (
        write_knn_graph,
    )
    from spark_history_server_rs_spark.sources.maintenance import (
        run_maintenance_slot,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    gpath = str(tmp_path / "slot_knng")
    write_knn_graph(emb, gpath)
    dup = spark.read.parquet(f"{gpath}/edges").cache()
    n = dup.count()
    dup.write.mode("append").partitionBy("src_bucket").parquet(
        f"{gpath}/edges"
    )
    dup.unpersist()

    report = run_maintenance_slot(spark, knn_graph_path=gpath)
    assert [r["artifact"] for r in report] == ["knn_graph"]
    assert report[0]["valid"], report
    edges = {
        s["relation"]: s for s in report[0]["compaction"]
    }["edges"]
    assert edges["rows_before"] == 2 * n and edges["rows_after"] == n

    for rel in ("nodes", "edges", "meta"):
        shutil.rmtree(f"{gpath}/{rel}")
    report2 = run_maintenance_slot(spark, knn_graph_path=gpath)
    assert not report2[0]["valid"]
    assert {d["relation"] for d in report2[0]["discrepancies"]} == {
        "nodes", "edges", "meta"
    }


def _index_quant_err(spark, path: str, emb, residual: bool) -> int:
    """Total quantization error of a persisted S14 index, recomputed
    from its own relations (codes + codebook + centroids): per vector,
    the milli-snapped squared distance between its (residual) subvectors
    and its ASSIGNED codewords — the index-level decode error."""
    from spark_history_server_rs_spark.operators.similarity import (
        PQ_M,
        PQ_SUBDIM,
    )

    code_pairs = ", ".join(f"{s}, code_{s}" for s in range(PQ_M))
    emb.where("embedding IS NOT NULL").createOrReplaceTempView("_err_emb")
    spark.read.parquet(f"{path}/codes").createOrReplaceTempView("_err_codes")
    spark.read.parquet(f"{path}/codebook").createOrReplaceTempView("_err_cb")
    spark.read.parquet(f"{path}/centroids").createOrReplaceTempView(
        "_err_cents"
    )
    if residual:
        base = """
base AS (
  SELECT e.vec_id, e.dim, e.sv - c.csv AS val
  FROM elems e
  JOIN (SELECT DISTINCT vec_id, label FROM _err_codes) vl
    ON vl.vec_id = e.vec_id
  JOIN cdim c ON c.label = vl.label AND c.dim = e.dim
)"""
    else:
        base = "base AS (SELECT vec_id, dim, sv AS val FROM elems)"
    out = spark.sql(f"""
WITH elems AS (
  SELECT vec_id, pos AS dim,
         CAST(FLOOR(CAST(v AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS sv
  FROM _err_emb LATERAL VIEW posexplode(embedding) t AS pos, v
),
cdim AS (
  SELECT label, pos AS dim,
         CAST(FLOOR(c * 1000000.0 + 0.5) AS BIGINT) AS csv
  FROM _err_cents LATERAL VIEW posexplode(centroid) t AS pos, c
),
{base},
sub AS (
  SELECT vec_id, CAST(FLOOR(dim / {PQ_SUBDIM}.0) AS BIGINT) AS subspace,
         dim, val
  FROM base
),
assigned AS (
  SELECT vec_id, s.subspace, s.codeword
  FROM _err_codes LATERAL VIEW stack({PQ_M}, {code_pairs})
       s AS subspace, codeword
)
SELECT CAST(SUM(CAST(FLOOR(CAST(s.val - c.sv AS DOUBLE) / 1000.0) AS BIGINT)
                * CAST(FLOOR(CAST(s.val - c.sv AS DOUBLE) / 1000.0) AS BIGINT))
            AS BIGINT) AS err
FROM sub s
JOIN assigned a ON a.vec_id = s.vec_id AND a.subspace = s.subspace
JOIN _err_cb c ON c.codeword = a.codeword AND c.subspace = s.subspace
              AND c.dim = s.dim
""").first().err
    for v in ("_err_emb", "_err_codes", "_err_cb", "_err_cents"):
        spark.catalog.dropTempView(v)
    return out


def test_residual_ann_index_parity_and_error_win(spark, tmp_path):
    """S14 with residual=True persists the paper-faithful IVFADC codec:
    (a) the serving twin is result-identical to the live
    ann_ivf_pq_residual operator; (b) the persisted residual codes
    decode with STRICTLY lower total quantization error than the raw
    index at identical bytes/vector — the Jégou §IV.A claim re-pinned
    at the INDEX level; (c) encoding mismatches fail loud both ways."""
    import pytest

    from spark_history_server_rs_spark.operators import similarity
    from spark_history_server_rs_spark.sources.ann_index import (
        ann_ivf_pq_from_index,
        ann_ivf_pq_residual_from_index,
        write_ann_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    rpath = str(tmp_path / "res_ann")
    xpath = str(tmp_path / "raw_ann")
    write_ann_index(emb, rpath, residual=True)
    write_ann_index(emb, xpath)

    live = [tuple(r) for r in similarity.ann_ivf_pq_residual(emb).collect()]
    idx = [
        tuple(r)
        for r in ann_ivf_pq_residual_from_index(spark, rpath, emb).collect()
    ]
    assert idx == live and len(idx) > 0

    err_res = _index_quant_err(spark, rpath, emb, residual=True)
    err_raw = _index_quant_err(spark, xpath, emb, residual=False)
    assert err_res < err_raw, (err_res, err_raw)

    with pytest.raises(ValueError):
        ann_ivf_pq_from_index(spark, rpath, emb)
    with pytest.raises(ValueError):
        ann_ivf_pq_residual_from_index(spark, xpath, emb)


def test_stream_residual_ann_index_maintenance(spark, tmp_path):
    """Streaming maintenance on a residual index: arrivals are
    residual-encoded against the FROZEN persisted centroids + residual
    codebook (meta-driven — stream and batch can never disagree on the
    codec), cross-batch neighbors surface, the stream equals a one-pass
    batch encode of the same arrivals, at-least-once duplicates never
    shift a distance, and compaction resets them idempotently."""
    from spark_history_server_rs_spark.operators.similarity import PQ_M
    from spark_history_server_rs_spark.sources.ann_index import (
        _CDIM_CTE,
        _ELEMS_CTE,
        _PQ_SCALE,
        _RESIDUAL_CODE_CTES,
        PQ_SUBDIM,
        ann_ivf_pq_residual_from_index,
        compact_ann_index,
        stream_update_ann_index,
        write_ann_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    initial = emb.where("vec_id < 100")  # contains codebook ids + queries
    arriving = emb.where("vec_id >= 100")
    path = str(tmp_path / "stream_res")
    path_batch = str(tmp_path / "batch_res")
    write_ann_index(initial, path, residual=True)
    write_ann_index(initial, path_batch, residual=True)

    src = tmp_path / "res_arriving"
    arriving.where("vec_id < 300").coalesce(1).write.parquet(str(src / "b1"))
    arriving.where("vec_id >= 300").coalesce(1).write.parquet(str(src / "b2"))
    q = stream_update_ann_index(
        spark.readStream.schema("vec_id long, embedding array<float>, label int")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*"),
        path,
        str(tmp_path / "res_ckpt"),
    )
    q.awaitTermination(180)

    res = [
        tuple(r)
        for r in ann_ivf_pq_residual_from_index(spark, path, emb).collect()
    ]
    assert len(res) > 0
    assert any(r[2] >= 100 for r in res), "no cross-batch neighbor found"

    # differential: one batch encode of the same arrivals against the
    # same persisted artifacts must answer identically
    arriving.createOrReplaceTempView("_res_arrivals")
    spark.read.parquet(f"{path_batch}/codebook").createOrReplaceTempView(
        "_res_cb"
    )
    spark.read.parquet(f"{path_batch}/centroids").createOrReplaceTempView(
        "_res_ct"
    )
    code_cols = ",\n       ".join(
        f"MAX(CASE WHEN subspace = {s} THEN codeword END) AS code_{s}"
        for s in range(PQ_M)
    )
    spark.sql(
        "WITH "
        + _ELEMS_CTE.format(scale=_PQ_SCALE, src="_res_arrivals")
        + ",\n"
        + _CDIM_CTE.format(scale=_PQ_SCALE, cents="_res_ct")
        + ",\ncells AS (SELECT vec_id, label FROM _res_arrivals),"
        + _RESIDUAL_CODE_CTES.format(
            subdim=PQ_SUBDIM,
            rcb="SELECT codeword, subspace, dim, sv FROM _res_cb",
        )
        + f"""
SELECT a.vec_id, c.label,
       {code_cols},
       CAST(1 AS BIGINT) AS ingest_seq
FROM assigned a JOIN cells c ON a.vec_id = c.vec_id
GROUP BY a.vec_id, c.label
"""
    ).write.mode("append").partitionBy("label").parquet(f"{path_batch}/codes")
    assert [
        tuple(r)
        for r in ann_ivf_pq_residual_from_index(
            spark, path_batch, emb
        ).collect()
    ] == res

    # at-least-once + compaction
    dup = spark.read.parquet(f"{path}/codes").where("vec_id >= 100").cache()
    n_dup = dup.count()
    dup.write.mode("append").partitionBy("label").parquet(f"{path}/codes")
    dup.unpersist()
    assert [
        tuple(r)
        for r in ann_ivf_pq_residual_from_index(spark, path, emb).collect()
    ] == res
    stats = compact_ann_index(spark, path)
    assert stats["rows_before"] == stats["rows_after"] + n_dup
    assert [
        tuple(r)
        for r in ann_ivf_pq_residual_from_index(spark, path, emb).collect()
    ] == res
    for v in ("_res_arrivals", "_res_cb", "_res_ct"):
        spark.catalog.dropTempView(v)


def test_stream_dedup_index_crash_artifact_not_legacy(spark, tmp_path):
    """ADVICE r09: the stream updater appends membership BEFORE
    shingles, so the worst crash artifact a retried first batch can see
    on a fresh stream-built index is doc_ids-without-shingles — which
    the legacy probe (shingles-without-doc_ids) correctly treats as
    NON-legacy, so membership keeps being recorded and index-only
    sweeps work. Simulate the artifact and retry."""
    from spark_history_server_rs_spark.operators import dedup
    from spark_history_server_rs_spark.sources.dedup_index import (
        dedup_threshold_sweep_from_index,
        stream_update_dedup_index,
    )

    docs_rows = [
        {"doc_id": 1, "text": "alpha beta gamma delta epsilon zeta",
         "lang": "en"},
        {"doc_id": 2, "text": "one two three four five six seven",
         "lang": "en"},
    ]
    path = str(tmp_path / "crash_index")
    # the crash artifact: batch 1 appended doc_ids, crashed before
    # shingles (the write order the fix guarantees)
    spark.createDataFrame(
        [(r["doc_id"],) for r in docs_rows], "doc_id long"
    ).write.parquet(f"{path}/doc_ids")

    src = tmp_path / "crash_docs"
    _write_doc_files(src, [docs_rows])
    q = stream_update_dedup_index(
        spark.readStream.schema(
            "doc_id long, text string, lang string"
        ).json(str(src)),
        path,
        str(tmp_path / "crash_ckpt"),
    )
    q.awaitTermination(120)

    # the retry recorded membership (duplicate rows absorbed by the
    # DISTINCT read paths) and the index-only sweep works — no
    # permanent legacy classification
    docs_df = spark.createDataFrame(
        [(r["doc_id"], r["text"], r["lang"]) for r in docs_rows],
        "doc_id long, text string, lang string",
    )
    dedup.clear_materialized_caches()
    assert [
        tuple(r)
        for r in dedup_threshold_sweep_from_index(spark, path).collect()
    ] == [tuple(r) for r in dedup.dedup_threshold_sweep(docs_df).collect()]


def test_ann_crossencoder_rerank_from_index(spark, tmp_path):
    """X14 retrieve-then-rerank: the from-index twin over a (label,
    raw) S14 index must equal the live operator row-for-row; a residual
    index reranks ITS shortlist (each query's rerank ranks are a
    permutation of its shortlist, ordered by the exact refine score);
    and the cross-encoder extension point raises its documented
    NotImplementedError through the real Arrow batch plumbing."""
    import pytest as _pytest

    from spark_history_server_rs_spark.operators import similarity
    from spark_history_server_rs_spark.sources.ann_index import (
        ann_crossencoder_rerank_from_index,
        ann_ivf_pq_residual_from_index,
        write_ann_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    live = [
        tuple(r) for r in similarity.ann_crossencoder_rerank(emb).collect()
    ]
    assert live and len({r[0] for r in live}) == similarity.N_QUERIES
    # displacement is rank movement: per query it sums to zero
    by_q = {}
    for r in live:
        by_q.setdefault(r[0], []).append(r)
    for q, rows in by_q.items():
        assert sum(r[5] for r in rows) == 0, q
        assert sorted(r[4] for r in rows) == list(range(1, len(rows) + 1))

    path = str(tmp_path / "rr_idx")
    write_ann_index(emb, path)
    assert [
        tuple(r)
        for r in ann_crossencoder_rerank_from_index(spark, path, emb).collect()
    ] == live

    res = str(tmp_path / "rr_idx_res")
    write_ann_index(emb, res, residual=True)
    shortlist = {
        (r.query_id, r.neighbor_id)
        for r in ann_ivf_pq_residual_from_index(spark, res, emb).collect()
    }
    rr = ann_crossencoder_rerank_from_index(spark, res, emb).collect()
    assert {(r.query_id, r.neighbor_id) for r in rr} == shortlist
    for q in {r.query_id for r in rr}:
        rows = sorted(
            (r for r in rr if r.query_id == q), key=lambda r: r.rerank_rank
        )
        scores = [r.cross_score for r in rows]
        assert scores == sorted(scores, reverse=True)

    # corpus drift fails loud (the inner join would silently drop
    # drifted pairs otherwise) — same refusal family as the sweep
    with _pytest.raises(ValueError, match="corpus frame has"):
        ann_crossencoder_rerank_from_index(
            spark, path, emb.where("vec_id >= 5")
        )

    # extension point: the Arrow scorer's plumbing is real; the body
    # raises until a model ships
    with _pytest.raises(Exception, match="no cross-encoder model"):
        similarity.ann_crossencoder_rerank(emb, use_scorer=True).collect()


def test_ann_index_delete_tombstone_lifecycle(spark, tmp_path):
    """delete_from_ann_index completes the S14 lifecycle (build →
    stream-append → DELETE → compact → re-add): tombstoned vectors
    disappear from every serving twin's candidates; serving the FULL
    corpus frame against a shrunk index is REFUSED (the coverage count
    is live-membership, not raw rows); compaction physically removes
    the dead rows + retires the tombstones with output unchanged; and
    re-streaming the deleted vectors restores the exact pre-delete
    output (adds and deletes share one per-vector sequence order)."""
    import pytest as _pytest

    from spark_history_server_rs_spark.sources import dedup_index as DI
    from spark_history_server_rs_spark.sources.ann_index import (
        ann_ivf_pq_from_index,
        ann_nprobe_recall_from_index,
        compact_ann_index,
        delete_from_ann_index,
        stream_update_ann_index,
        write_ann_index,
    )
    from spark_history_server_rs_spark.sources.index_manifest import (
        CorpusDriftError,
        path_exists,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    path = str(tmp_path / "del_idx")
    write_ann_index(emb, path)
    pre = [tuple(r) for r in ann_ivf_pq_from_index(spark, path, emb).collect()]
    assert pre

    # delete a slice of non-query ids, some of which ARE current
    # neighbors (so suppression is observable)
    deleted = sorted({r[2] for r in pre if r[2] >= 100})[:8]
    assert deleted
    ids = spark.createDataFrame([(i,) for i in deleted], "vec_id bigint")
    assert delete_from_ann_index(spark, path, ids) == len(deleted)

    emb_live = emb.where(
        "vec_id NOT IN (" + ",".join(str(i) for i in deleted) + ")"
    )
    # the full frame no longer matches the live membership → refusal
    with _pytest.raises(CorpusDriftError):
        ann_nprobe_recall_from_index(spark, path, emb)
    # the matching frame serves, and no deleted id survives anywhere
    post = [
        tuple(r)
        for r in ann_ivf_pq_from_index(spark, path, emb_live).collect()
    ]
    assert post and not {r[2] for r in post} & set(deleted)
    # every query keeps a full shortlist: rank-(k+1) candidates promote
    assert {r[0] for r in post} == {r[0] for r in pre}
    sweep_post = ann_nprobe_recall_from_index(spark, path, emb_live)
    assert sweep_post.count() > 0

    # the membership count is meta-served even with tombstones: the
    # counts row exists and matches live membership; and the fallback
    # (counts wiped, cache cleared) agrees — it must count LIVE ids
    n_live = emb_live.count()
    assert DI._read_count_row(spark, path, "n_codes") == n_live
    DI._delete_path(spark, f"{path}/counts")
    with DI._count_cache_lock():
        DI._COUNT_CACHE.clear()
    assert [
        tuple(r)
        for r in ann_ivf_pq_from_index(spark, path, emb_live).collect()
    ] == post

    # compaction: dead rows leave, tombstones retire, output unchanged
    stats = compact_ann_index(spark, path)
    assert stats["rows_after"] == n_live
    assert not path_exists(spark, f"{path}/tombstones")
    assert [
        tuple(r)
        for r in ann_ivf_pq_from_index(spark, path, emb_live).collect()
    ] == post

    # re-add the deleted vectors through streaming maintenance: the
    # index serves the FULL corpus again, byte-identical to pre-delete
    src = tmp_path / "readd_src"
    emb.where(
        "vec_id IN (" + ",".join(str(i) for i in deleted) + ")"
    ).write.parquet(str(src))
    stream = spark.readStream.schema(emb.schema).parquet(str(src))
    q = stream_update_ann_index(
        stream, path, str(tmp_path / "readd_ckpt")
    )
    q.awaitTermination(120)
    assert [
        tuple(r) for r in ann_ivf_pq_from_index(spark, path, emb).collect()
    ] == pre

    # the residual codec's serving path honors tombstones through the
    # same latest-wins subquery
    from spark_history_server_rs_spark.sources.ann_index import (
        ann_ivf_pq_residual_from_index,
    )

    rpath = str(tmp_path / "del_idx_res")
    write_ann_index(emb, rpath, residual=True)
    rpre = ann_ivf_pq_residual_from_index(spark, rpath, emb).collect()
    rdel = sorted({r.neighbor_id for r in rpre if r.neighbor_id >= 100})[:3]
    delete_from_ann_index(
        spark, rpath,
        spark.createDataFrame([(i,) for i in rdel], "vec_id bigint"),
    )
    rlive = emb.where(
        "vec_id NOT IN (" + ",".join(str(i) for i in rdel) + ")"
    )
    rpost = ann_ivf_pq_residual_from_index(spark, rpath, rlive).collect()
    assert rpost and not {r.neighbor_id for r in rpost} & set(rdel)


def test_crossencoder_standin_scorer_executes_arrow_path(spark):
    """The cross-encoder extension point must EXECUTE a scoring body
    end-to-end — Arrow batch transfer, scorer call, schema, rerank
    tail — not just raise through the plumbing (VERDICT r10 'What's
    missing #2'): the deterministic stand-in scorer (the exact
    r6-snapped cosine in numpy, same per-element op sequence as the
    SQL fold) is pinned row-identical to the exact-refine SQL default,
    through the real mapInPandas plan."""
    from spark_history_server_rs_spark.operators import similarity
    from spark_history_server_rs_spark.plans import inspect as I

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    live = [
        tuple(r) for r in similarity.ann_crossencoder_rerank(emb).collect()
    ]
    scored = similarity.ann_crossencoder_rerank(
        emb, use_scorer=True, scorer=similarity.exact_refine_scorer()
    )
    assert I.has_python_worker(scored)
    assert [tuple(r) for r in scored.collect()] == live


def test_dedup_threshold_sweep_from_index(spark, tmp_path):
    """The τ-sweep served from the S13 index must equal the live
    operator over the indexed corpus — no re-tokenization per call —
    and stay identical under at-least-once duplicate appends."""
    from spark_history_server_rs_spark.operators import dedup
    from spark_history_server_rs_spark.sources.dedup_index import (
        dedup_threshold_sweep_from_index,
        write_dedup_index,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    path = str(tmp_path / "sweep_idx")
    write_dedup_index(docs, path)
    dedup.clear_materialized_caches()
    live = [tuple(r) for r in dedup.dedup_threshold_sweep(docs).collect()]
    idx = [
        tuple(r)
        for r in dedup_threshold_sweep_from_index(spark, path, docs).collect()
    ]
    assert idx == live and len(idx) == len(dedup.SWEEP_THRESHOLDS)

    dup = spark.read.parquet(f"{path}/shingles").cache()
    dup.count()
    dup.write.mode("append").parquet(f"{path}/shingles")
    dup.unpersist()
    assert [
        tuple(r)
        for r in dedup_threshold_sweep_from_index(spark, path, docs).collect()
    ] == live

    # the denominator comes from the index's own membership relation:
    # no docs frame needed at all, same answer — and the warm path
    # reads the PRE-COUNTED meta row, not a membership rescan
    from spark_history_server_rs_spark.sources.dedup_index import (
        _meta_n_docs,
        compact_dedup_index,
        stream_update_dedup_index,
    )

    n_docs = docs.select("doc_id").distinct().count()
    assert _meta_n_docs(spark, path) == n_docs
    assert [
        tuple(r)
        for r in dedup_threshold_sweep_from_index(spark, path).collect()
    ] == live
    # and a drifted caller corpus is REFUSED, not silently mixed into
    # the indexed pairs' fractions
    import pytest as _pytest

    with _pytest.raises(ValueError, match="does not match the indexed"):
        dedup_threshold_sweep_from_index(spark, path, docs.limit(10))

    # the default drift check is COUNT-based (documented): an
    # equal-size different-membership corpus passes it — the exact
    # set check is the verify_membership opt-in
    from pyspark.sql import functions as F

    drifted = docs.withColumn(
        "doc_id",
        F.when(F.col("doc_id") == 0, F.lit(-987654)).otherwise(
            F.col("doc_id")
        ),
    )
    assert [
        tuple(r)
        for r in dedup_threshold_sweep_from_index(
            spark, path, drifted
        ).collect()
    ] == live
    with _pytest.raises(ValueError, match="doc_ids differ"):
        dedup_threshold_sweep_from_index(
            spark, path, drifted, verify_membership=True
        )
    assert [
        tuple(r)
        for r in dedup_threshold_sweep_from_index(
            spark, path, docs, verify_membership=True
        ).collect()
    ] == live

    # stream maintenance DELETES the pre-counted denominator before
    # membership grows (a stale count can never serve), the sweep falls
    # back to counting doc_ids and tracks the grown corpus, and
    # compaction restores the meta row
    newdoc = (
        1000001,
        "wholly invented nonce lexemes overlapping nothing indexed",
        "en",
    )
    src = tmp_path / "sweep_stream_docs"
    _write_doc_files(
        src,
        [[{"doc_id": newdoc[0], "text": newdoc[1], "lang": newdoc[2]}]],
    )
    q = stream_update_dedup_index(
        spark.readStream.schema(
            "doc_id long, text string, lang string"
        ).json(str(src)),
        path,
        str(tmp_path / "sweep_stream_ckpt"),
    )
    q.awaitTermination(120)
    assert _meta_n_docs(spark, path) is None  # invalidated, not stale
    full = docs.select("doc_id", "text", "lang").unionByName(
        spark.createDataFrame([newdoc], "doc_id long, text string, lang string")
    )
    dedup.clear_materialized_caches()
    live_full = [
        tuple(r) for r in dedup.dedup_threshold_sweep(full).collect()
    ]
    assert [
        tuple(r)
        for r in dedup_threshold_sweep_from_index(spark, path).collect()
    ] == live_full
    compact_dedup_index(spark, path)
    assert _meta_n_docs(spark, path) == n_docs + 1
    assert [
        tuple(r)
        for r in dedup_threshold_sweep_from_index(spark, path).collect()
    ] == live_full

    # legacy pre-doc_ids layout: caller-supplied denominator still works,
    # membership-less calls fail loud instead of guessing
    import shutil

    shutil.rmtree(f"{path}/doc_ids")
    assert [
        tuple(r)
        for r in dedup_threshold_sweep_from_index(spark, path, full).collect()
    ] == live_full
    with _pytest.raises(ValueError, match="no doc_ids"):
        dedup_threshold_sweep_from_index(spark, path)


def test_knn_graph_meta_mismatch_fails_loud(spark, tmp_path):
    """S16 parameter safety (ADVICE r08): a persisted graph whose meta
    (τ, k) disagree with the module constants is REFUSED by every
    serving/maintenance path — serving it would silently mix parameters
    (the ANN index's encoding check, mirrored). A missing/empty meta is
    the manifest validator's job, not a crash here."""
    import pytest as _pytest

    from spark_history_server_rs_spark.sources import knn_graph as kg

    emb = spark.read.parquet(
        "/root/testdata/sf0.01/embeddings.parquet"
    ).where("vec_id < 120")
    path = str(tmp_path / "knng_meta")
    kg.write_knn_graph(emb, path)
    # sanity: matching meta serves fine
    assert kg.ann_knn_graph_from_index(spark, path).count() >= 0

    # corpus drift refusal (round 10): the expansion twins measure
    # recall over the passed frame, so a graph covering a different
    # corpus fails loud instead of quietly bending the curve
    full = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    assert kg.ann_graph_expand_from_index(spark, path, emb).count() > 0
    with _pytest.raises(ValueError, match="corpus frame has"):
        kg.ann_graph_expand_from_index(spark, path, full)
    with _pytest.raises(ValueError, match="corpus frame has"):
        kg.ann_graph_expand2_from_index(spark, path, full)

    spark.createDataFrame(
        [(float(kg.KNN_GRAPH_TAU) + 0.1, int(kg.KNN_GRAPH_K))],
        "tau double, k int",
    ).write.mode("overwrite").parquet(f"{path}/meta")
    for fn in (
        lambda: kg.ann_knn_graph_from_index(spark, path),
        lambda: kg.ann_graph_expand_from_index(spark, path, emb),
        lambda: kg.ann_graph_expand2_from_index(spark, path, emb),
        lambda: kg.compact_knn_graph(spark, path),
        lambda: kg.stream_update_knn_graph(
            spark.readStream.schema(
                "vec_id long, embedding array<float>, label int"
            ).parquet(str((tmp_path / "meta_src").mkdir() or tmp_path / "meta_src")),
            path,
            str(tmp_path / "meta_ckpt"),
        ),
    ):
        with _pytest.raises(ValueError, match="tau"):
            fn()

    # empty meta (vanished content): not refused here — detection is the
    # manifest validator's contract
    spark.createDataFrame([], "tau double, k int").write.mode(
        "overwrite"
    ).parquet(f"{path}/meta")
    assert kg.ann_knn_graph_from_index(spark, path).count() >= 0


def test_knn_graph_stream_null_vec_id_batch(spark, tmp_path):
    """ADVICE r08: a NULL vec_id in an arriving micro-batch must not
    poison the new-vs-stored edge derivation (the old `NOT IN` form went
    UNKNOWN for every stored node under three-valued logic, silently
    emptying the old side). NULL-id vectors are unaddressable in a graph
    — batch semantics already never edge them (a.vec_id < b.vec_id is
    NULL) — so the streamed graph must equal the live graph over the
    non-NULL corpus."""
    from pyspark.sql import functions as F

    from spark_history_server_rs_spark.operators import similarity
    from spark_history_server_rs_spark.sources import knn_graph as kg

    emb = spark.read.parquet(
        "/root/testdata/sf0.01/embeddings.parquet"
    ).where("vec_id < 200")
    path = str(tmp_path / "knng_null")
    kg.write_knn_graph(emb.where("vec_id < 150"), path)

    # arriving batch: the rest of the corpus PLUS one NULL-id row
    arriving = emb.where("vec_id >= 150").unionByName(
        emb.limit(1).select(
            F.lit(None).cast("long").alias("vec_id"), "embedding", "label"
        )
    )
    src = tmp_path / "knng_null_arrivals"
    arriving.coalesce(1).write.parquet(str(src))
    q = kg.stream_update_knn_graph(
        spark.readStream.schema(
            "vec_id long, embedding array<float>, label int"
        ).parquet(str(src)),
        path,
        str(tmp_path / "knng_null_ckpt"),
    )
    q.awaitTermination(180)

    live = [tuple(r) for r in similarity.ann_knn_graph(emb).collect()]
    assert [
        tuple(r) for r in kg.ann_knn_graph_from_index(spark, path).collect()
    ] == live
    # cross-half edges (new vs stored) exist — the regression this pins
    served = kg.ann_knn_graph_from_index(spark, path)
    assert served.where("src_id < 150 AND dst_id >= 150").count() > 0


def test_knn_graph_compact_between_inflight_appends(spark, tmp_path):
    """VERDICT r08 #6: the maintenance slot's S16 compaction running
    between micro-batches of a STILL-IN-FLIGHT stream (checkpoint live,
    more arrivals pending) must leave the read path result-identical —
    before, between, and after the interleaved appends — and the
    post-compaction appends must keep working against the rewritten
    (swap-renamed) relations. Mirrors the S13/S14 compact-mid-stream
    pins."""
    from spark_history_server_rs_spark.operators import similarity
    from spark_history_server_rs_spark.sources import knn_graph as kg
    from spark_history_server_rs_spark.sources.maintenance import (
        run_maintenance_slot,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    path = str(tmp_path / "knng_ic")
    ckpt = str(tmp_path / "knng_ic_ckpt")
    src = tmp_path / "knng_ic_arrivals"
    kg.write_knn_graph(emb.where("vec_id < 300"), path)
    kg.refresh_knn_graph_manifest(spark, path)

    def run_stream():
        q = kg.stream_update_knn_graph(
            spark.readStream.schema(
                "vec_id long, embedding array<float>, label int"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src)),
            path,
            ckpt,
        )
        q.awaitTermination(180)

    # batch 1 arrives and is applied; the stream has more coming
    emb.where("vec_id >= 300 AND vec_id < 400").coalesce(1).write.parquet(
        str(src)
    )
    run_stream()
    live_mid = [
        tuple(r)
        for r in similarity.ann_knn_graph(
            emb.where("vec_id < 400")
        ).collect()
    ]
    assert [
        tuple(r) for r in kg.ann_knn_graph_from_index(spark, path).collect()
    ] == live_mid

    # the maintenance slot fires BETWEEN the stream's micro-batches
    report = run_maintenance_slot(spark, knn_graph_path=path)
    assert all(r["valid"] for r in report), report
    assert [
        tuple(r) for r in kg.ann_knn_graph_from_index(spark, path).collect()
    ] == live_mid

    # the stream resumes from its live checkpoint onto the compacted
    # (delete+rename-swapped) relations
    emb.where("vec_id >= 400").coalesce(1).write.mode("append").parquet(
        str(src)
    )
    run_stream()
    live_full = [tuple(r) for r in similarity.ann_knn_graph(emb).collect()]
    assert [
        tuple(r) for r in kg.ann_knn_graph_from_index(spark, path).collect()
    ] == live_full
    assert [
        tuple(r)
        for r in kg.ann_graph_expand_from_index(spark, path, emb).collect()
    ] == [tuple(r) for r in similarity.ann_graph_expand(emb).collect()]


def _exact_topk_by_query(emb):
    """Independent numpy oracle for the sweep's exact side: the
    integer-snapped L2 top-k over the full corpus, same snaps and
    (distance, id) tie-break as the SQL — computed OUTSIDE Spark and
    DuckDB, so the three-way lattice gains a third engine."""
    import math

    import numpy as np

    from spark_history_server_rs_spark.operators.similarity import (
        N_QUERIES,
        TOP_K,
    )

    pdf = (
        emb.where("embedding IS NOT NULL")
        .select("vec_id", "embedding")
        .toPandas()
    )
    ids = pdf["vec_id"].to_numpy()
    V = np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    sv = np.floor(V * 1e6 + 0.5)
    out = {}
    for qi in np.nonzero(ids < N_QUERIES)[0]:
        diff = np.floor((sv[qi][None, :] - sv) / 1000.0)
        d = (diff * diff).sum(axis=1)
        order = sorted(
            (int(d[j]), int(ids[j]))
            for j in range(len(ids))
            if ids[j] != ids[qi]
        )
        out[int(ids[qi])] = [c for _, c in order[:TOP_K]]
    return out


def _expected_sweep_rows(exact_k, server_at_np):
    """The sweep rows implied by the already-identity-pinned fixed-np
    serving twins + the numpy exact side."""
    import math

    from spark_history_server_rs_spark.operators.similarity import (
        NPROBE_MAX,
    )

    rows = []
    for np_ in range(1, NPROBE_MAX + 1):
        topk = {}
        for r in server_at_np(np_).collect():
            topk.setdefault(r.query_id, set()).add(r.neighbor_id)
        for q in sorted(exact_k):
            n_exact = len(exact_k[q])
            ov = len(set(exact_k[q]) & topk.get(q, set()))
            rec = math.floor(ov / n_exact * 10000.0 + 0.5) / 10000.0
            rows.append((np_, q, n_exact, ov, rec))
    return rows


def test_ann_nprobe_recall_from_index(spark, tmp_path):
    """The nprobe tuning sweep served from the persisted S14 index:
    for a (label, raw) build it must equal the live operator
    row-for-row (the candidate side reads centroids/codebook/codes
    from parquet; only queries + the exact eval read vectors) and stay
    identical under at-least-once duplicate code appends. Trained and
    residual builds — which have NO live twin — are pinned per-np
    against the fixed-np serving twins (themselves identity-pinned to
    the live operators) plus an independent numpy exact side. A
    corpus-drifted frame is REFUSED, not silently swept."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from spark_history_server_rs_spark.operators import similarity
    from spark_history_server_rs_spark.sources.ann_index import (
        ann_ivf_pq_from_index,
        ann_ivf_pq_residual_from_index,
        ann_nprobe_recall_from_index,
        write_ann_index,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    path = str(tmp_path / "np_idx")
    write_ann_index(emb, path)
    live = [tuple(r) for r in similarity.ann_nprobe_recall(emb).collect()]
    idx = [
        tuple(r)
        for r in ann_nprobe_recall_from_index(spark, path, emb).collect()
    ]
    assert idx == live and len(idx) > 0

    # at-least-once retry: duplicate the code rows — answers unchanged
    dup = spark.read.parquet(f"{path}/codes")
    dup.write.mode("append").partitionBy("label").parquet(f"{path}/codes")
    assert [
        tuple(r)
        for r in ann_nprobe_recall_from_index(spark, path, emb).collect()
    ] == live

    # the raw curve also matches the lattice recomputation (validates
    # the harness the trained/residual pins below rely on)
    exact_k = _exact_topk_by_query(emb)
    assert live == _expected_sweep_rows(
        exact_k, lambda np_: ann_ivf_pq_from_index(spark, path, emb, np_)
    )

    # trained cells and residual codec now SERVE from the index — each
    # curve pinned against its own fixed-np serving twins
    trained = str(tmp_path / "np_idx_tr")
    write_ann_index(emb, trained, train_steps=2)
    assert [
        tuple(r)
        for r in ann_nprobe_recall_from_index(spark, trained, emb).collect()
    ] == _expected_sweep_rows(
        exact_k, lambda np_: ann_ivf_pq_from_index(spark, trained, emb, np_)
    )
    res = str(tmp_path / "np_idx_res")
    write_ann_index(emb, res, residual=True)
    assert [
        tuple(r)
        for r in ann_nprobe_recall_from_index(spark, res, emb).collect()
    ] == _expected_sweep_rows(
        exact_k,
        lambda np_: ann_ivf_pq_residual_from_index(spark, res, emb, np_),
    )

    # corpus drift fails loud in BOTH directions: a frame grown past
    # the indexed codes, and one missing indexed vectors
    grown = emb.unionByName(
        emb.limit(1).withColumn("vec_id", F.col("vec_id") + 1000000)
    )
    with _pytest.raises(ValueError, match="corpus frame has"):
        ann_nprobe_recall_from_index(spark, path, grown)
    with _pytest.raises(ValueError, match="corpus frame has"):
        ann_nprobe_recall_from_index(spark, path, emb.where("vec_id >= 5"))


def test_dedup_index_delete_tombstone_lifecycle(spark, tmp_path):
    """delete_from_dedup_index completes the S13 lifecycle (build →
    DELETE → revive-by-restream → delete again → compact → rebuild):
    tombstoned docs disappear from every serving twin EXACTLY as if the
    index had been built without them (per-doc relations make
    suppression exact — the module-doc taxonomy); the sweep's
    denominator and drift refusals track LIVE membership; compaction
    physically removes dead rows and retires the tombstones to an
    empty (still-attestable) set; a rebuild is ground truth."""
    import pytest as _pytest

    from spark_history_server_rs_spark.operators import dedup
    from spark_history_server_rs_spark.sources import dedup_index as DI
    from spark_history_server_rs_spark.sources.dedup_index import (
        compact_dedup_index,
        dedup_threshold_sweep_from_index,
        delete_from_dedup_index,
        minhash_lsh_pairs_from_index,
        minhash_lsh_probe_index,
        refresh_dedup_index_manifest,
        validate_dedup_index,
        write_dedup_index,
    )
    from spark_history_server_rs_spark.sources.index_manifest import (
        CorpusDriftError,
        path_exists,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    path = str(tmp_path / "del_dedup")
    write_dedup_index(docs, path)
    dedup.clear_materialized_caches()
    pre_pairs = {
        tuple(r) for r in minhash_lsh_pairs_from_index(spark, path).collect()
    }
    assert pre_pairs

    # delete docs that currently PAIR (suppression must be observable)
    deleted = sorted({r[0] for r in pre_pairs})[:3]
    ids = spark.createDataFrame([(i,) for i in deleted], "doc_id bigint")
    assert delete_from_dedup_index(spark, path, ids) == len(deleted)
    not_deleted = "doc_id NOT IN (" + ",".join(map(str, deleted)) + ")"
    docs_live = docs.where(not_deleted)

    # ground truth: an index that never saw the deleted docs
    truth = str(tmp_path / "truth_dedup")
    write_dedup_index(docs_live, truth)
    truth_pairs = {
        tuple(r) for r in minhash_lsh_pairs_from_index(spark, truth).collect()
    }
    post_pairs = {
        tuple(r) for r in minhash_lsh_pairs_from_index(spark, path).collect()
    }
    assert post_pairs == truth_pairs
    assert not {r[0] for r in post_pairs} & set(deleted)
    assert not {r[1] for r in post_pairs} & set(deleted)

    # sweep: live membership is the denominator (meta-served), the live
    # frame passes both drift checks, the full frame is REFUSED by both
    n_live = docs_live.count()
    assert DI._meta_n_docs(spark, path) == n_live
    sweep_post = [
        tuple(r)
        for r in dedup_threshold_sweep_from_index(
            spark, path, docs_live, verify_membership=True
        ).collect()
    ]
    assert sweep_post == [
        tuple(r)
        for r in dedup_threshold_sweep_from_index(spark, truth).collect()
    ]
    with _pytest.raises(CorpusDriftError):
        dedup_threshold_sweep_from_index(spark, path, docs)
    with _pytest.raises(CorpusDriftError):
        dedup_threshold_sweep_from_index(
            spark, path, docs, verify_membership=True
        )
    # the meta-less fallback counts LIVE membership too
    DI._delete_path(spark, f"{path}/meta")
    assert [
        tuple(r)
        for r in dedup_threshold_sweep_from_index(spark, path).collect()
    ] == sweep_post
    DI._write_meta_n_docs(spark, path)

    # incremental probe: a new batch against the tombstoned index pairs
    # exactly as against the ground-truth index — deleted docs are not
    # candidates, not verifiers, not anything
    new_batch = docs.where("doc_id < 5").selectExpr(
        "doc_id + 10000 AS doc_id", "text", "lang", "source", "n_chars"
    )
    probe_t = {
        tuple(r)
        for r in minhash_lsh_probe_index(spark, path, new_batch).collect()
    }
    assert probe_t == {
        tuple(r)
        for r in minhash_lsh_probe_index(spark, truth, new_batch).collect()
    }

    # REVIVE by re-streaming the deleted docs (before any compaction):
    # the stream updater retires their tombstones, and the index serves
    # the full corpus again, identical to pre-delete
    src = tmp_path / "revive_src"
    docs.where(
        "doc_id IN (" + ",".join(map(str, deleted)) + ")"
    ).write.json(str(src))
    q = DI.stream_update_dedup_index(
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string,"
            " n_chars long"
        ).json(str(src)),
        path,
        str(tmp_path / "revive_ckpt"),
    )
    q.awaitTermination(120)
    assert (
        spark.read.parquet(f"{path}/deleted_ids").count() == 0
    )  # retired, relation kept attestable
    assert {
        tuple(r) for r in minhash_lsh_pairs_from_index(spark, path).collect()
    } == pre_pairs
    assert DI._meta_n_docs(spark, path) is None  # stream invalidated it

    # delete again; double-delete is idempotent AND append-free: the
    # retry anti-joins the existing tombstones (ADVICE r11), so it
    # reports 0 newly-tombstoned ids and the relation does not grow
    assert delete_from_dedup_index(spark, path, ids) == len(deleted)
    assert delete_from_dedup_index(spark, path, ids) == 0
    assert (
        spark.read.parquet(f"{path}/deleted_ids").count() == len(deleted)
    )
    assert {
        tuple(r) for r in minhash_lsh_pairs_from_index(spark, path).collect()
    } == post_pairs

    # compact: dead rows physically leave, tombstones retire to an
    # EMPTY attested set, output unchanged, manifest validates green
    refresh_dedup_index_manifest(spark, path)
    stats = {s["relation"]: s for s in compact_dedup_index(spark, path)}
    assert stats["doc_ids"]["rows_after"] == n_live
    assert stats["deleted_ids"]["rows_after"] == 0
    assert path_exists(spark, f"{path}/deleted_ids")
    assert spark.read.parquet(f"{path}/deleted_ids").count() == 0
    assert stats["shingles"]["rows_after"] < stats["shingles"]["rows_before"]
    assert validate_dedup_index(spark, path).count() == 0
    assert {
        tuple(r) for r in minhash_lsh_pairs_from_index(spark, path).collect()
    } == post_pairs
    assert DI._meta_n_docs(spark, path) == n_live

    # a REBUILD over the full corpus is ground truth: stale tombstones
    # from before the rebuild must not suppress re-indexed docs
    delete_from_dedup_index(spark, path, ids)
    write_dedup_index(docs, path)
    assert {
        tuple(r) for r in minhash_lsh_pairs_from_index(spark, path).collect()
    } == pre_pairs

    # legacy layout (no doc_ids/) refuses tombstone deletion
    legacy = str(tmp_path / "legacy_dedup")
    write_dedup_index(docs, legacy)
    DI._delete_path(spark, f"{legacy}/doc_ids")
    with _pytest.raises(ValueError, match="legacy"):
        delete_from_dedup_index(spark, legacy, ids)


def test_knn_graph_delete_eager_repair_lifecycle(spark, tmp_path):
    """delete_from_knn_graph completes the S16 lifecycle with EAGER
    adjacency repair: deleting nodes that sit in other nodes' stored
    top-k must PROMOTE their build-time-truncated replacements — the
    post-delete graph is pinned identical to a from-scratch build over
    the live corpus (the exactness theorem tombstone suppression could
    not give for cross-entity edges). Refusals track live membership,
    double-delete is a no-op, the manifest refreshes, and a deleted
    vector re-streamed through maintenance revives the exact
    pre-delete graph."""
    import pytest as _pytest

    from spark_history_server_rs_spark.operators import similarity
    from spark_history_server_rs_spark.sources import dedup_index as DI
    from spark_history_server_rs_spark.sources.knn_graph import (
        ann_graph_expand2_from_index,
        ann_graph_expand_from_index,
        ann_knn_graph_from_index,
        delete_from_knn_graph,
        refresh_knn_graph_manifest,
        stream_update_knn_graph,
        validate_knn_graph,
        write_knn_graph,
    )
    from spark_history_server_rs_spark.sources.index_manifest import (
        CorpusDriftError,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    path = str(tmp_path / "del_knng")
    write_knn_graph(emb, path)
    refresh_knn_graph_manifest(spark, path)
    pre_g = [
        tuple(r) for r in ann_knn_graph_from_index(spark, path).collect()
    ]
    assert pre_g

    # delete non-query nodes that appear as stored DSTs (so the
    # affected-src repair actually runs)
    deleted = sorted({r[1] for r in pre_g if r[1] >= 100})[:5]
    assert deleted
    ids = spark.createDataFrame([(i,) for i in deleted], "vec_id bigint")
    stats = delete_from_knn_graph(spark, path, ids)
    assert stats["n_deleted"] == len(deleted)
    assert stats["n_affected_srcs"] > 0
    emb_live = emb.where(
        "vec_id NOT IN (" + ",".join(map(str, deleted)) + ")"
    )

    # the exactness theorem: post-delete == from-scratch over live
    truth = str(tmp_path / "truth_knng")
    write_knn_graph(emb_live, truth)
    post_g = [
        tuple(r) for r in ann_knn_graph_from_index(spark, path).collect()
    ]
    assert post_g == [
        tuple(r) for r in ann_knn_graph_from_index(spark, truth).collect()
    ]
    assert post_g == [
        tuple(r) for r in similarity.ann_knn_graph(emb_live).collect()
    ]
    assert not {r[0] for r in post_g} & set(deleted)
    assert not {r[1] for r in post_g} & set(deleted)

    # both expansion twins serve the live frame identically to the
    # live operators; the full frame is REFUSED (live membership)
    assert [
        tuple(r)
        for r in ann_graph_expand_from_index(spark, path, emb_live).collect()
    ] == [tuple(r) for r in similarity.ann_graph_expand(emb_live).collect()]
    assert [
        tuple(r)
        for r in ann_graph_expand2_from_index(
            spark, path, emb_live
        ).collect()
    ] == [tuple(r) for r in similarity.ann_graph_expand2(emb_live).collect()]
    with _pytest.raises(CorpusDriftError):
        ann_graph_expand_from_index(spark, path, emb)
    # the live count is meta-served
    n_live = emb_live.count()
    assert DI._read_count_row(spark, path, "n_nodes") == n_live
    # the delete refreshed the existing manifest — validates green
    assert validate_knn_graph(spark, path).count() == 0

    # double-delete (and deleting never-indexed ids) is a no-op
    assert delete_from_knn_graph(spark, path, ids)["n_deleted"] == 0
    assert delete_from_knn_graph(
        spark, path,
        spark.createDataFrame([(999999,)], "vec_id bigint"),
    )["n_deleted"] == 0
    assert [
        tuple(r) for r in ann_knn_graph_from_index(spark, path).collect()
    ] == post_g

    # revival: re-stream the deleted vectors — the graph serves the
    # full corpus again, identical to pre-delete (edge cosines fold
    # over stored nv, so streamed and built edges are byte-identical)
    src = tmp_path / "knng_revive_src"
    emb.where(
        "vec_id IN (" + ",".join(map(str, deleted)) + ")"
    ).write.parquet(str(src))
    q = stream_update_knn_graph(
        spark.readStream.schema(emb.schema).parquet(str(src)),
        path,
        str(tmp_path / "knng_revive_ckpt"),
    )
    q.awaitTermination(180)
    assert [
        tuple(r) for r in ann_knn_graph_from_index(spark, path).collect()
    ] == pre_g
    assert [
        tuple(r)
        for r in ann_graph_expand_from_index(spark, path, emb).collect()
    ] == [tuple(r) for r in similarity.ann_graph_expand(emb).collect()]


def test_retention_pass_all_indexes_forget_dedup_losers(spark, tmp_path):
    """The dedup-driven retention arc end-to-end — the production story
    the deletion APIs exist for: the C7 keep rule decides which near-dup
    cluster members drop (`dedup_retention_ids`), `run_retention_pass`
    feeds that one frame to all three index deletions, and afterwards
    every durable index serves the SURVIVOR corpus exactly (pinned
    against live operators over the survivors) while refusing the full
    frame; the following maintenance slot materializes the deletions
    and leaves every index attested and valid."""
    import pytest as _pytest

    from spark_history_server_rs_spark.operators import corpus, similarity
    from spark_history_server_rs_spark.operators.corpus import (
        dedup_retention_ids,
    )
    from spark_history_server_rs_spark.sources.ann_index import (
        ann_ivf_pq_from_index,
        refresh_ann_index_manifest,
        write_ann_index,
    )
    from spark_history_server_rs_spark.sources.dedup_index import (
        minhash_lsh_pairs_from_index,
        refresh_dedup_index_manifest,
        write_dedup_index,
    )
    from spark_history_server_rs_spark.sources.index_manifest import (
        CorpusDriftError,
    )
    from spark_history_server_rs_spark.sources.knn_graph import (
        ann_knn_graph_from_index,
        refresh_knn_graph_manifest,
        write_knn_graph,
    )
    from spark_history_server_rs_spark.sources.maintenance import (
        run_maintenance_slot,
        run_retention_pass,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    p13 = str(tmp_path / "ret_s13")
    p14 = str(tmp_path / "ret_s14")
    p16 = str(tmp_path / "ret_s16")
    write_dedup_index(docs, p13)
    write_ann_index(emb, p14)
    write_knn_graph(emb, p16)
    refresh_dedup_index_manifest(spark, p13)
    refresh_ann_index_manifest(spark, p14)
    refresh_knn_graph_manifest(spark, p16)

    losers = dedup_retention_ids(docs)
    loser_ids = sorted(r.doc_id for r in losers.collect())
    assert loser_ids  # the corpus has near-dup clusters by construction
    report = run_retention_pass(
        spark, losers,
        dedup_index_path=p13, ann_index_path=p14, knn_graph_path=p16,
    )
    assert report["n_losers"] == len(loser_ids)
    assert report["dedup_index_deleted"] == len(loser_ids)
    assert report["ann_index_deleted"] == len(loser_ids)
    # only losers that are indexed vectors count as graph deletions
    assert report["knn_graph"]["n_deleted"] == emb.where(
        "vec_id IN (" + ",".join(map(str, loser_ids)) + ")"
    ).count()

    not_lost = "NOT IN (" + ",".join(map(str, loser_ids)) + ")"
    docs_live = docs.where(f"doc_id {not_lost}")
    emb_live = emb.where(f"vec_id {not_lost}")

    # S13 serves the survivor corpus exactly (== live operator over it)
    from spark_history_server_rs_spark.operators.dedup import minhash_lsh_pairs

    assert {
        tuple(r) for r in minhash_lsh_pairs_from_index(spark, p13).collect()
    } == {tuple(r) for r in minhash_lsh_pairs(docs_live).collect()}
    # S16 likewise; S14's serving twin takes the survivor frame and no
    # deleted id surfaces as a neighbor; all three REFUSE the full frame
    assert [
        tuple(r) for r in ann_knn_graph_from_index(spark, p16).collect()
    ] == [tuple(r) for r in similarity.ann_knn_graph(emb_live).collect()]
    ivf_post = ann_ivf_pq_from_index(spark, p14, emb_live).collect()
    assert ivf_post and not {r[2] for r in ivf_post} & set(loser_ids)
    from spark_history_server_rs_spark.sources.ann_index import (
        ann_nprobe_recall_from_index,
    )
    from spark_history_server_rs_spark.sources.knn_graph import (
        ann_graph_expand_from_index,
    )
    from spark_history_server_rs_spark.sources.dedup_index import (
        dedup_threshold_sweep_from_index,
    )

    with _pytest.raises(CorpusDriftError):
        dedup_threshold_sweep_from_index(spark, p13, docs)
    with _pytest.raises(CorpusDriftError):
        ann_nprobe_recall_from_index(spark, p14, emb)
    with _pytest.raises(CorpusDriftError):
        ann_graph_expand_from_index(spark, p16, emb)

    # the maintenance slot materializes the deletions: every artifact
    # compacts, refreshes, and validates green; outputs unchanged
    slot = run_maintenance_slot(
        spark, dedup_index_path=p13, ann_index_path=p14, knn_graph_path=p16
    )
    assert all(e["valid"] for e in slot), slot
    assert {
        tuple(r) for r in minhash_lsh_pairs_from_index(spark, p13).collect()
    } == {tuple(r) for r in minhash_lsh_pairs(docs_live).collect()}
    assert [
        tuple(r) for r in ann_knn_graph_from_index(spark, p16).collect()
    ] == [tuple(r) for r in similarity.ann_knn_graph(emb_live).collect()]


def test_ttl_retention_predicate_rider_all_artifacts(spark, tmp_path):
    """The age/TTL rider (VERDICT r11 #5): a retention decision stated
    as a PREDICATE over the corpus ("older than the cutoff", "expired
    source") derives the loser frame and rides the existing
    run_retention_pass across all four durable artifacts — one pushed-
    down filter, then the same exact deletion contract per family."""
    from spark_history_server_rs_spark.sources import dedup_index as DI
    from spark_history_server_rs_spark.sources.ann_index import (
        _live_vec_ids,
        write_ann_index,
    )
    from spark_history_server_rs_spark.sources.knn_graph import (
        write_knn_graph,
    )
    from spark_history_server_rs_spark.sources.maintenance import (
        retention_losers,
        run_ttl_retention,
    )
    from spark_history_server_rs_spark.sources.training_shards import (
        write_training_shards,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    p13 = str(tmp_path / "ttl_s13")
    p14 = str(tmp_path / "ttl_s14")
    p15 = str(tmp_path / "ttl_s15")
    p16 = str(tmp_path / "ttl_s16")
    DI.write_dedup_index(docs, p13)
    write_ann_index(emb, p14)
    write_training_shards(docs, p15)
    write_knn_graph(emb, p16)

    # the "aged out" population: a plain boolean over corpus columns
    predicate = "n_chars < 200"
    expired = sorted(
        r.doc_id for r in retention_losers(docs, predicate).collect()
    )
    assert 0 < len(expired) < docs.count()  # the predicate splits

    rep = run_ttl_retention(
        spark, docs, predicate,
        dedup_index_path=p13, ann_index_path=p14,
        knn_graph_path=p16, training_shards_path=p15,
    )
    assert rep["n_losers"] == len(expired)
    assert rep["dedup_index_deleted"] == len(expired)

    # every family forgot exactly the expired population
    dead = set(expired)
    assert dead.isdisjoint(
        r.doc_id for r in DI._live_doc_ids(spark, p13).collect()
    )
    assert dead.isdisjoint(
        r.vec_id for r in _live_vec_ids(spark, p14).collect()
    )
    assert dead.isdisjoint(
        r.vec_id
        for r in spark.read.parquet(f"{p16}/nodes")
        .select("vec_id").collect()
    )
    in_list = ",".join(map(str, expired))
    assert spark.read.parquet(f"{p15}/shards").where(
        f"doc_id IN ({in_list})"
    ).count() == 0


def test_training_shards_retract_partition_pruned(spark, tmp_path):
    """retract_from_training_shards completes the S15 erasure arc:
    shard membership is a pure function of doc_id, so a retraction
    rewrites ONLY the shards holding retracted docs — untouched shards
    keep byte-identical manifest rows — and the export validates green
    immediately after (affected manifest rows recomputed from disk).
    Idempotent: retracting already-absent ids rewrites identical
    content. Composes through run_retention_pass."""
    from pyspark.sql import functions as F

    from spark_history_server_rs_spark.sources.maintenance import (
        run_retention_pass,
    )
    from spark_history_server_rs_spark.sources.training_shards import (
        N_SHARDS,
        retract_from_training_shards,
        validate_training_shards,
        write_training_shards,
    )

    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    path = str(tmp_path / "shards_ret")
    write_training_shards(docs, path)
    pre_manifest = {
        r["shard"]: (r["n_docs"], r["n_tokens"], r["content_hash"])
        for r in spark.read.parquet(f"{path}/manifest").collect()
    }

    # retract 4 docs that land in a strict subset of shards
    retracted = [0, 1, 2, 3]
    ids = spark.createDataFrame([(i,) for i in retracted], "doc_id bigint")
    expect_shards = sorted(
        r.s for r in ids.selectExpr(
            f"pmod(xxhash64(doc_id), {N_SHARDS}) AS s"
        ).distinct().collect()
    )
    assert len(expect_shards) < N_SHARDS  # the pruning is observable
    report = retract_from_training_shards(spark, path, ids)
    assert report["n_ids"] == len(retracted)
    assert sorted(s["shard"] for s in report["shards_rewritten"]) == (
        expect_shards
    )

    # the retracted docs are gone; every surviving doc is intact
    on_disk = spark.read.parquet(f"{path}/shards")
    assert on_disk.where(
        "doc_id IN (" + ",".join(map(str, retracted)) + ")"
    ).count() == 0
    assert on_disk.count() == docs.count() - len(retracted)

    # untouched shards carry byte-identical manifest rows; affected
    # rows recomputed; the validator is green with no refresh needed
    post_manifest = {
        r["shard"]: (r["n_docs"], r["n_tokens"], r["content_hash"])
        for r in spark.read.parquet(f"{path}/manifest").collect()
    }
    for s, row in pre_manifest.items():
        if s not in expect_shards:
            assert post_manifest[s] == row
        else:
            assert post_manifest[s] != row
    assert validate_training_shards(spark, path).count() == 0

    # idempotent: same ids again → same shards rewritten, zero change
    again = retract_from_training_shards(spark, path, ids)
    assert sorted(s["shard"] for s in again["shards_rewritten"]) == (
        expect_shards
    )
    assert all(
        s["rows_before"] == s["rows_after"] for s in again["shards_rewritten"]
    )
    assert validate_training_shards(spark, path).count() == 0
    assert {
        r["shard"]: (r["n_docs"], r["n_tokens"], r["content_hash"])
        for r in spark.read.parquet(f"{path}/manifest").collect()
    } == post_manifest

    # composes through the retention pass (S15 attached alongside S13)
    from spark_history_server_rs_spark.sources.dedup_index import (
        write_dedup_index,
    )

    p13 = str(tmp_path / "ret_s13b")
    docs_live = docs.where(
        "doc_id NOT IN (" + ",".join(map(str, retracted)) + ")"
    )
    write_dedup_index(docs_live, p13)
    more = spark.createDataFrame([(10,), (11,)], "doc_id bigint")
    rep = run_retention_pass(
        spark, more, dedup_index_path=p13, training_shards_path=path
    )
    assert rep["n_losers"] == 2
    assert rep["training_shards"]["n_ids"] == 2
    assert spark.read.parquet(f"{path}/shards").where(
        "doc_id IN (10, 11)"
    ).count() == 0
    assert validate_training_shards(spark, path).count() == 0

    # an empty-ids retraction is a no-op that touches nothing
    empty = spark.createDataFrame([], "doc_id bigint")
    none_rep = retract_from_training_shards(spark, path, empty)
    assert none_rep["n_ids"] == 0 and none_rep["shards_rewritten"] == []

    # collateral-free: the retracted export's manifest is IDENTICAL to
    # a fresh export over the survivors (content hashes are
    # order-independent, so this pins every surviving row byte-equal)
    fresh = str(tmp_path / "shards_fresh")
    write_training_shards(
        docs.where("doc_id NOT IN (0, 1, 2, 3, 10, 11)"), fresh
    )
    as_rows = lambda p: {  # noqa: E731
        r["shard"]: (r["n_docs"], r["n_tokens"], r["content_hash"])
        for r in spark.read.parquet(f"{p}/manifest").collect()
    }
    assert as_rows(path) == as_rows(fresh)


def test_training_shards_declared_modulus_survives_empty_top_shard(
    spark, tmp_path
):
    """The ADVICE r11 medium: ``partitionBy`` writes no directory for
    an empty shard, so an export whose TOP shard is empty used to
    under-report the layout-inferred modulus — and a default retraction
    then computed the affected set under the WRONG pmod, silently
    missing its targets with the validator still green. The modulus is
    now declared in ``meta/`` and the retraction reads it back; the
    legacy (meta-less) path verifies after the rewrite and fails LOUD
    instead of reporting a phantom erasure."""
    import pytest as _pytest

    from spark_history_server_rs_spark.sources.dedup_index import (
        _delete_path,
    )
    from spark_history_server_rs_spark.sources.training_shards import (
        _list_shard_ids,
        _read_meta_n_shards,
        retract_from_training_shards,
        validate_training_shards,
        write_training_shards,
    )

    n_shards = 4
    all_docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # keep only docs OUTSIDE the top shard, so shard=3 writes no dir
    docs = all_docs.where(
        f"pmod(xxhash64(doc_id), {n_shards}) <> {n_shards - 1}"
    ).persist()
    assert docs.count() > 0
    path = str(tmp_path / "shards_meta")
    write_training_shards(docs, path, n_shards=n_shards)
    assert _read_meta_n_shards(spark, path) == n_shards
    disk = _list_shard_ids(spark, path)
    assert max(disk) + 1 < n_shards  # the dangerous layout is real

    # pick ONE target the WRONG modulus (max+1 = 3) mis-routes: its
    # shard differs under pmod(·,3) vs pmod(·,4), so the inferred-
    # modulus retraction rewrites a shard the doc is not in (a second
    # target could incidentally cover the real shard and mask the miss)
    targets = [
        r["doc_id"]
        for r in docs.selectExpr(
            "doc_id",
            f"pmod(xxhash64(doc_id), {n_shards}) AS s4",
            f"pmod(xxhash64(doc_id), {max(disk) + 1}) AS s3",
        ).where("s4 <> s3").limit(1).collect()
    ]
    assert targets  # sf0.001 has enough ids for the split to exist
    ids = spark.createDataFrame([(i,) for i in targets], "doc_id bigint")

    # default retraction rides the declared modulus: targets gone,
    # export validates green
    rep = retract_from_training_shards(spark, path, ids)
    assert rep["n_shards"] == n_shards
    in_list = ",".join(map(str, targets))
    assert spark.read.parquet(f"{path}/shards").where(
        f"doc_id IN ({in_list})"
    ).count() == 0
    assert validate_training_shards(spark, path).count() == 0

    # legacy export (no meta/): the layout-inferred modulus is wrong
    # for these targets, and the post-rewrite verification refuses to
    # report success — the silent-miss failure mode is now loud
    legacy = str(tmp_path / "shards_legacy")
    write_training_shards(docs, legacy, n_shards=n_shards)
    _delete_path(spark, f"{legacy}/meta")
    with _pytest.raises(RuntimeError, match="true n_shards differs"):
        retract_from_training_shards(spark, legacy, ids)
    # the explicit escape hatch still completes the erasure
    rep2 = retract_from_training_shards(
        spark, legacy, ids, n_shards=n_shards
    )
    assert rep2["n_shards"] == n_shards
    assert spark.read.parquet(f"{legacy}/shards").where(
        f"doc_id IN ({in_list})"
    ).count() == 0

    # a stream started with a contradicting modulus is refused before
    # any batch lands (membership would fork)
    from spark_history_server_rs_spark.sources.training_shards import (
        stream_append_training_shards,
    )

    src = tmp_path / "stream_src"
    src.mkdir()
    stream = spark.readStream.schema(
        "doc_id long, text string, lang string, source string, n_chars long"
    ).json(str(src))
    with _pytest.raises(ValueError, match="declares n_shards=4"):
        stream_append_training_shards(
            stream, path, str(tmp_path / "ckpt_bad"), n_shards=8
        )
    docs.unpersist()


def test_dedup_rebuild_crash_never_resurrects(spark, tmp_path, monkeypatch):
    """The ADVICE r11 builder-ordering fix, exercised: a rebuild that
    crashes BEFORE its final step (tombstone retirement) leaves every
    relation overwritten but suppression still applied — a previously
    deleted doc can never silently resurrect mid-rebuild; the meta
    count died first so no stale denominator serves either. Re-running
    the idempotent builder completes the arc and revives the
    re-indexed docs."""
    import pytest as _pytest

    from spark_history_server_rs_spark.sources import dedup_index as DI

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "s13_crash")
    DI.write_dedup_index(docs, path)
    deleted = [0, 1]
    ids = spark.createDataFrame([(i,) for i in deleted], "doc_id bigint")
    DI.delete_from_dedup_index(spark, path, ids)
    n_docs = docs.count()
    assert DI._meta_n_docs(spark, path) == n_docs - len(deleted)

    real_swap = DI.compact_relation_swap

    def crash_on_retirement(spark_, df, target, part, **kw):
        if target.endswith("deleted_ids"):
            raise RuntimeError("injected crash before tombstone retirement")
        return real_swap(spark_, df, target, part, **kw)

    monkeypatch.setattr(DI, "compact_relation_swap", crash_on_retirement)
    with _pytest.raises(RuntimeError, match="injected crash"):
        DI.write_dedup_index(docs, path)
    monkeypatch.setattr(DI, "compact_relation_swap", real_swap)

    # the crash window: relations rebuilt, tombstones NOT retired,
    # meta absent → deleted docs stay suppressed (the safe direction)
    assert DI._meta_n_docs(spark, path) is None
    live = {
        r["doc_id"] for r in DI._live_doc_ids(spark, path).collect()
    }
    assert set(deleted).isdisjoint(live)
    assert len(live) == n_docs - len(deleted)

    # repair = re-run the idempotent builder: retirement completes,
    # the re-indexed docs serve, meta is the full count again
    DI.write_dedup_index(docs, path)
    assert DI._meta_n_docs(spark, path) == n_docs
    assert spark.read.parquet(f"{path}/deleted_ids").count() == 0
    live2 = {
        r["doc_id"] for r in DI._live_doc_ids(spark, path).collect()
    }
    assert set(deleted) <= live2 and len(live2) == n_docs


def test_knn_graph_delete_crash_between_swaps_recovers(
    spark, tmp_path, monkeypatch
):
    """The S16 delete's crash contract, exercised: a crash between the
    edges swap and the nodes swap leaves the post-delete graph serving
    CORRECTLY (X6 reads edges only) while the coverage refusal fails
    LOUD against the stale node count — never silently wrong — and
    re-running the same delete (the documented repair; `dead`
    recomputes from what is still stored) converges to exactly the
    clean-delete state."""
    import pytest as _pytest

    from spark_history_server_rs_spark.operators import similarity
    from spark_history_server_rs_spark.sources import dedup_index as DI
    from spark_history_server_rs_spark.sources.knn_graph import (
        ann_graph_expand_from_index,
        ann_knn_graph_from_index,
        delete_from_knn_graph,
        write_knn_graph,
    )
    from spark_history_server_rs_spark.sources.index_manifest import (
        CorpusDriftError,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    path = str(tmp_path / "crash_knng")
    write_knn_graph(emb, path)
    pre_g = [
        tuple(r) for r in ann_knn_graph_from_index(spark, path).collect()
    ]
    deleted = sorted({r[1] for r in pre_g if r[1] >= 100})[:4]
    ids = spark.createDataFrame([(i,) for i in deleted], "vec_id bigint")
    emb_live = emb.where(
        "vec_id NOT IN (" + ",".join(map(str, deleted)) + ")"
    )

    # crash the SECOND swap (nodes) — edges land, nodes don't
    real_swap = DI.compact_relation_swap
    calls = {"n": 0}

    def failing_swap(spark_, df, src, part, sort_cols, tmp=None):
        calls["n"] += 1
        if calls["n"] == 2:
            raise IOError("simulated crash after the edges swap")
        return real_swap(spark_, df, src, part, sort_cols, tmp=tmp)

    monkeypatch.setattr(DI, "compact_relation_swap", failing_swap)
    with _pytest.raises(IOError, match="simulated crash"):
        delete_from_knn_graph(spark, path, ids)
    monkeypatch.setattr(DI, "compact_relation_swap", real_swap)

    # the half-applied state: X6 (edges-only) already serves the
    # post-delete graph; the expansion twin REFUSES the live frame
    # (stale node membership, counts invalidated → fallback counts
    # the un-swapped nodes) — loud, not wrong
    live_g = [tuple(r) for r in similarity.ann_knn_graph(emb_live).collect()]
    assert [
        tuple(r) for r in ann_knn_graph_from_index(spark, path).collect()
    ] == live_g
    with _pytest.raises(CorpusDriftError):
        ann_graph_expand_from_index(spark, path, emb_live)

    # the documented repair: re-run the delete — dead recomputes from
    # the still-stored nodes, converging to the clean-delete state
    stats = delete_from_knn_graph(spark, path, ids)
    assert stats["n_deleted"] == len(deleted)
    assert [
        tuple(r) for r in ann_knn_graph_from_index(spark, path).collect()
    ] == live_g
    assert [
        tuple(r)
        for r in ann_graph_expand_from_index(spark, path, emb_live).collect()
    ] == [tuple(r) for r in similarity.ann_graph_expand(emb_live).collect()]
    assert DI._read_count_row(spark, path, "n_nodes") == emb_live.count()


def test_meta_rows_cache_sees_rewrites_and_deletes(spark, tmp_path):
    """The fingerprint-keyed one-row meta cache (r14: serving-path
    refusals must not pay a Spark job per warm call) must never serve
    stale parameters: a rewrite of ``meta/`` is visible on the next
    read, and a deleted ``meta/`` reads as absent — the same staleness
    contract as the pre-counted membership cache."""
    from spark_history_server_rs_spark.sources.dedup_index import (
        _delete_path,
        read_meta_rows_cached,
    )

    path = str(tmp_path / "meta_cache_idx")
    # absent → None (and the miss itself is cached under the () print)
    assert read_meta_rows_cached(spark, path) is None
    spark.createDataFrame([(7,)], "n_docs bigint").write.mode(
        "overwrite"
    ).parquet(f"{path}/meta")
    assert read_meta_rows_cached(spark, path)[0]["n_docs"] == 7
    # warm repeat serves from the cache (same fingerprint, same rows)
    assert read_meta_rows_cached(spark, path)[0]["n_docs"] == 7
    # rewrite must be seen immediately
    spark.createDataFrame([(9,)], "n_docs bigint").write.mode(
        "overwrite"
    ).parquet(f"{path}/meta")
    assert read_meta_rows_cached(spark, path)[0]["n_docs"] == 9
    # deletion must read as absent again
    _delete_path(spark, f"{path}/meta")
    assert read_meta_rows_cached(spark, path) is None


def test_relation_fingerprint_walks_partition_dirs(spark, tmp_path):
    """The serving caches' freshness key lists with per-directory
    ``listStatus``: the same (path, size, mtime) tuples as the recursive
    ``listFiles`` walk it replaced, and it changes when a file lands in
    an existing partition dir or a file is rewritten in place."""
    import glob

    from spark_history_server_rs_spark.sources.dedup_index import (
        _relation_fingerprint,
    )

    def list_files_fingerprint(target):
        jvm = spark.sparkContext._jvm
        p = jvm.org.apache.hadoop.fs.Path(target)
        fs = p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
        it, out = fs.listFiles(p, True), []
        while it.hasNext():
            st = it.next()
            out.append((st.getPath().toString(), st.getLen(),
                        st.getModificationTime()))
        return tuple(sorted(out))

    rel = str(tmp_path / "rel")
    days = spark.createDataFrame(
        [(d, f"2024-01-0{d % 3 + 1}") for d in range(30)],
        "v int, event_date string",
    )
    days.write.partitionBy("event_date").parquet(rel)
    fp = _relation_fingerprint(spark, rel)
    assert fp == list_files_fingerprint(rel)
    assert {os.path.basename(os.path.dirname(p)) for p, _, _ in fp} >= {
        "event_date=2024-01-01", "event_date=2024-01-03"}
    assert _relation_fingerprint(spark, str(tmp_path / "absent")) == ()

    # an append inside an existing partition dir
    days.filter("event_date = '2024-01-02'").write.mode("append").partitionBy(
        "event_date").parquet(rel)
    fp2 = _relation_fingerprint(spark, rel)
    assert fp2 != fp and len(fp2) > len(fp)
    assert fp2 == list_files_fingerprint(rel)

    # in-place rewrites: a new size, then only a new mtime
    victim = sorted(glob.glob(rel + "/event_date=2024-01-01/*.parquet"))[0]
    with open(victim, "ab") as f:
        f.write(b"\0")
    fp3 = _relation_fingerprint(spark, rel)
    assert fp3 != fp2
    st = os.stat(victim)
    os.utime(victim, ns=(st.st_atime_ns, st.st_mtime_ns + 5_000_000_000))
    fp4 = _relation_fingerprint(spark, rel)
    assert fp4 != fp3 and [s for _, s, _ in fp4] == [s for _, s, _ in fp3]


# --------------------------------------------------------------------------
# S10 planner: the rule as a table, and what one plan costs
# --------------------------------------------------------------------------
#: (case, file name, manifest row as (size delta, complete) or None for
#: "not in the manifest", or "missing" / "unreadable" for the whole
#: manifest, re-read?)
PLANNER_RULE = [
    ("new_file", "events_1", None, True),
    ("grown_inprogress", "events_1.inprogress", (-10, False), True),
    ("grown_complete", "events_1", (-10, True), False),
    ("shrunk", "events_1.inprogress", (10, False), False),
    ("unchanged", "events_1.inprogress", (0, False), False),
    ("missing_manifest", "events_1", "missing", True),
    ("unreadable_manifest", "events_1", "unreadable", True),
    ("null_complete", "events_1", (-10, None), True),
]


@pytest.mark.parametrize(
    "case,name,row,reread", PLANNER_RULE, ids=[c[0] for c in PLANNER_RULE]
)
def test_plan_incremental_rule(spark, tmp_path, case, name, row, reread):
    """One row per case of the S10 rule: a file is (re-)read iff it is
    new, or it grew and its ``complete`` flag is not true (null counts
    as false). The new manifest lists every file with the unchanged
    schema and completion rule."""
    from spark_history_server_rs_spark.sources.event_logs import (
        _list_files,
        plan_incremental,
    )

    base = tmp_path / "logs"
    (base / "application_rule").mkdir(parents=True)
    _write_log(
        str(base / "application_rule" / name),
        _app_events("application_rule", 2, 0.5, 1 << 28),
        extra_garbage=False,
    )
    # a second, unchanged and complete log keeps the manifest non-empty
    _write_log(
        str(base / "application_other.json"),
        _app_events("application_other", 1, 0.5, 1 << 28),
        extra_garbage=False,
    )
    (path, size), (other, other_size) = sorted(
        _list_files(spark, str(base)), key=lambda r: "other" in r[0]
    )
    manifest = str(tmp_path / "manifest")
    if row == "unreadable":
        os.makedirs(manifest)
        with open(os.path.join(manifest, "part-00000.parquet"), "wb") as f:
            f.write(b"PAR1 not a parquet file")
    elif row != "missing":
        rows = [(other, other_size, True)]
        if row is not None:
            rows.append((path, size + row[0], row[1]))
        spark.createDataFrame(
            rows, "path string, size long, complete boolean"
        ).write.parquet(manifest)

    todo, new_manifest = plan_incremental(spark, str(base), manifest)
    expected = [path] if reread else []
    if row in ("missing", "unreadable"):
        expected = [p for p, _ in _list_files(spark, str(base))]
    assert todo == expected
    assert new_manifest.schema.simpleString() == (
        "struct<path:string,size:bigint,complete:boolean>"
    )
    assert sorted(new_manifest.collect()) == sorted(
        [(path, size, not name.endswith(".inprogress")), (other, other_size, True)]
    )


def _jobs_in(spark, fn):
    """Run ``fn`` under a fresh job group; return (result, Spark jobs)."""
    import uuid

    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count jobs")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_plan_incremental_unchanged_dir_one_job(spark, tmp_path):
    """Planning an unchanged history dir costs at most one Spark job
    (the manifest collect): the listing and the diff are driver-side."""
    from spark_history_server_rs_spark.sources.event_logs import plan_incremental

    base = tmp_path / "logs"
    for app in ("application_a", "application_b"):
        (base / app).mkdir(parents=True)
        _write_log(
            str(base / app / "events_1"),
            _app_events(app, 2, 0.5, 1 << 28),
            extra_garbage=False,
        )
    sink, manifest = str(tmp_path / "sink"), str(tmp_path / "manifest")
    assert incremental_ingest(spark, str(base), sink, manifest) == 2
    (todo, _), jobs = _jobs_in(
        spark, lambda: plan_incremental(spark, str(base), manifest)
    )
    assert todo == []
    assert jobs <= 1


def test_list_tree_matches_os_walk(spark, tmp_path):
    """The shared listing walk returns what ``os.walk`` sees (checksum
    files aside, which the local Hadoop filesystem hides), in
    ``listFiles`` order; the discovery filter on top of it drops every
    decoy."""
    from spark_history_server_rs_spark.sources.event_logs import (
        _list_files,
        is_event_log_path,
    )
    from spark_history_server_rs_spark.sources.index_manifest import list_tree

    base = tmp_path / "logs"
    for app in ("application_1", "app-2", "eventlog_v2_app-3"):
        (base / app).mkdir(parents=True)
        _write_log(
            str(base / app / "events_1"),
            _app_events(app, 1, 0.5, 1 << 28),
            extra_garbage=False,
        )
    _write_log(
        str(base / "app-flat.inprogress"),
        _app_events("app-flat", 1, 0.5, 1 << 28),
        extra_garbage=False,
    )
    (base / "README.md").write_text("# not an event log\n")
    (base / "_SUCCESS").write_text("")
    (base / "stray.parquet").write_bytes(b"PAR1 garbage")
    (base / "application_1" / ".events_1.crc").write_bytes(b"crc")
    (base / "application_1" / "_SUCCESS").write_text("")
    (base / "tool-output" / "deep").mkdir(parents=True)
    (base / "tool-output" / "deep" / "events_x").write_text("{}\n")

    walked = sorted(
        ("file:" + os.path.join(d, f), os.path.getsize(os.path.join(d, f)))
        for d, _, fs in os.walk(base)
        for f in fs
    )
    tree = list_tree(spark, str(base))
    assert sorted((p, s) for p, s, _ in tree) == [
        (p, s) for p, s in walked if not p.endswith("/.events_1.crc")
    ]

    jvm = spark.sparkContext._jvm
    root = jvm.org.apache.hadoop.fs.Path(str(base))
    it = root.getFileSystem(
        spark.sparkContext._jsc.hadoopConfiguration()
    ).listFiles(root, True)
    listed = []
    while it.hasNext():
        listed.append(it.next().getPath().toString())
    assert [p for p, _, _ in tree] == listed

    qualified = "file:" + str(base)
    assert sorted(_list_files(spark, str(base))) == [
        (p, s)
        for p, s in walked
        if not os.path.basename(p).startswith((".", "_"))
        and is_event_log_path(qualified, p)
    ]
    assert len(_list_files(spark, str(base))) == 4
    with pytest.raises(Exception):
        list_tree(spark, str(tmp_path / "absent"))


def test_grown_inprogress_overwrite_leaves_session_conf(spark, tmp_path):
    """Dynamic partition overwrite is a per-write option: with the
    session conf at ``static``, a grown ``.inprogress`` re-ingest still
    replaces only its own partition (the other app's rows survive, no
    duplicates), an erasure rewrites only its partitions, and the
    session conf reads ``static`` afterwards."""
    from spark_history_server_rs_spark.sources.event_logs import (
        erase_apps_from_sink,
    )

    key = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(key, "static")
    try:
        base = tmp_path / "logs"
        (base / "application_grow").mkdir(parents=True)
        (base / "application_keep").mkdir(parents=True)
        grow = list(_app_events("application_grow", 4, 0.5, 1 << 28))
        keep = list(_app_events("application_keep", 2, 0.5, 1 << 28))
        log = str(base / "application_grow" / "events_1.inprogress")
        _write_log(log, grow[:3], extra_garbage=False)
        _write_log(
            str(base / "application_keep" / "events_1"), keep, extra_garbage=False
        )
        sink, manifest = str(tmp_path / "sink"), str(tmp_path / "manifest")
        assert incremental_ingest(spark, str(base), sink, manifest) == 2
        _write_log(log, grow, extra_garbage=False)
        assert incremental_ingest(spark, str(base), sink, manifest) == 1
        assert spark.conf.get(key) == "static"
        counts = {
            r.app_id: r["count"]
            for r in read_events_sink(spark, sink).groupBy("app_id").count().collect()
        }
        assert counts == {"application_grow": len(grow), "application_keep": len(keep)}
        assert (
            read_events_sink(spark, sink)
            .groupBy("src_file", "raw_data")
            .count()
            .filter("count > 1")
            .count()
            == 0
        )

        # an erasure whose partitions keep survivors is a dynamic rewrite too
        victims = spark.createDataFrame([("application_grow",)], "app_id string")
        mixed = tmp_path / "mixed"
        (mixed / "application_grow").mkdir(parents=True)
        _write_log(
            str(mixed / "application_grow" / "events_1"),
            list(_app_events("application_grow", 2, 0.5, 1 << 28))
            + list(_app_events("application_keep", 2, 0.5, 1 << 28)),
            extra_garbage=False,
        )
        msink = str(tmp_path / "msink")
        assert incremental_ingest(spark, str(mixed), msink, str(tmp_path / "m2")) == 1
        before = read_events_sink(spark, msink).count()
        res = erase_apps_from_sink(spark, msink, victims)
        assert res["partitions_rewritten"] >= 1
        assert spark.conf.get(key) == "static"
        after = read_events_sink(spark, msink)
        assert after.filter("app_id = 'application_grow'").count() == 0
        assert after.count() == before - res["n_rows_erased"] > 0
    finally:
        spark.conf.unset(key)


def test_event_projection_is_one_shot(spark, log_dir, tmp_path, monkeypatch):
    """The normalised frame is built in two ``withColumns`` stages, not
    a ~28-call ``withColumn`` chain. The optimized plan cannot show a
    regression here (a chain collapses to the same plan), so the test
    counts those calls while building the frames; it runs no job."""
    import pyarrow as pa

    from spark_history_server_rs_spark.sources.event_logs import (
        read_compressed_event_logs,
    )

    cls = type(spark.range(1))
    calls = {"withColumn": 0, "withColumns": 0}
    for name in calls:
        orig = getattr(cls, name)

        def counted(self, *a, _orig=orig, _name=name, **k):
            calls[_name] += 1
            return _orig(self, *a, **k)

        monkeypatch.setattr(cls, name, counted)

    zpath = str(tmp_path / "application_z.zstd")
    with pa.output_stream(zpath, compression="zstd") as f:
        f.write(b'{"Event":"SparkListenerApplicationStart","App ID":"z"}\n')

    def build(fn):
        for name in calls:
            calls[name] = 0
        _, jobs = _jobs_in(spark, fn)
        assert jobs == 0
        return dict(calls)

    # the reader's own src_file column, the from_json column, two stages
    assert build(lambda: read_event_logs(spark, log_dir + "/*/*")) == {
        "withColumn": 2,
        "withColumns": 2,
    }
    assert build(lambda: read_compressed_event_logs(spark, zpath)) == {
        "withColumn": 1,
        "withColumns": 2,
    }
