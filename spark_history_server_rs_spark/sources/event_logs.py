"""Spark event-log ingest: discovery → JSON-lines parse → normalized
events DataFrame → partitioned parquet sink, with manifest-driven
incremental re-ingest.

Reference behavior re-expressed Spark-first (SURVEY.md §2.1):

- S1-S3 discovery: directory/file filters (``application_*``, ``app-*``,
  ``eventlog_v2_*`` dirs; ``events*``, ``*eventLog*``, ``*.inprogress``
  files — reference ``hdfs_reader.rs:131-134,183-186``) become input
  globs + ``pathGlobFilter`` — the listing itself is distributed by Spark.
- S4/S5: HDFS/S3 access is the same ``spark.read`` against ``hdfs://`` /
  ``s3a://`` URIs (Hadoop connector handles auth); nothing engine-side.
- S6 parse: permissive line-at-a-time JSON; bad lines are *counted and
  dropped*, never fatal (reference ``main.rs:403-427``).
- S7 hot fields: every metric any catalog query touches is extracted once
  here into typed columns (reference re-parses JSON at query time from
  ``raw_data`` — ``duckdb_store_backup.rs:331-342``; SURVEY §4 says
  normalize at ingest instead, so Catalyst prunes/pushes into the scan).
- S8 app-id: from the event when present, else from the file path
  (reference ``main.rs:396-401`` uses dir/file name).
- S9 sink: ``partitionBy(event_date)`` zstd parquet — the stand-in for
  the reference's DuckDB indexes (partition pruning + row-group min/max).
- S10 incremental: a manifest table ``(path, size, complete)`` drives
  re-scan; grown ``.inprogress`` files are re-read and their sink
  partitions *replaced* (dynamic partition overwrite keyed by source
  file), which upgrades the reference's at-least-once (duplicates
  possible, ``metadata_store.rs:91-102``) to idempotent exactly-once end
  state. Documented divergence per SURVEY §7 risk register.
- S11 id: ``monotonically_increasing_id()`` — unique and ascending per
  writer, the same guarantee as the reference's timestamp-seeded counter
  (``event_processor.rs:445-459``).
- S12: ``orderBy(timestamp)`` is left to queries (Spark sorts lazily).
"""

from __future__ import annotations

import fnmatch
import posixpath

from py4j.protocol import Py4JJavaError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.catalog import PINNED_NOW_MS
from .index_manifest import list_tree

#: S2/S3 discovery globs (reference hdfs_reader.rs:131-134, :183-186).
APP_DIR_GLOBS = ("application_*", "app-*", "eventlog_v2_*")
EVENT_FILE_GLOBS = ("events*", "*eventLog*", "*.inprogress", "*.json")

_MB = 1048576.0


def _snap_ms(c: F.Column) -> F.Column:
    """Row-level snap to an INTEGER-VALUED double (milliseconds).

    Why snapping exists (ADVICE r12): the S17 rollup's bit-identity
    between serve-from-partials and scan-from-raw rests on every metric
    column summing EXACTLY in IEEE doubles regardless of association —
    true for integer-valued doubles (up to 2^53), false for nanos/1e6
    fractions like 0.123456. ``sources/generic.py`` snaps the synthetic
    corpus the same way; this keeps the invariant for real event logs."""
    return F.floor(c + F.lit(0.5)).cast("double")


def _snap_mb(c: F.Column) -> F.Column:
    """Row-level snap to the 2^-10 grid (KB resolution in MB units).

    Multiples of 2^-10 sum exactly while the running total stays under
    2^43 MB = 8 EB — far past any deployment — where raw bytes/2^20
    values (2^-20 grid) lose exactness three decades earlier. Costs at
    most half a KB of resolution per row; see :func:`_snap_ms` for why
    the grid matters."""
    return F.floor(c * F.lit(1024.0) + F.lit(0.5)) / F.lit(1024.0)


def _get(path: str) -> F.Column:
    return F.get_json_object(F.col("raw_data"), path)


#: Superset schema of every hot field any catalog query touches (S7).
#: ONE ``from_json`` parse per row replaces ~30 ``get_json_object`` calls,
#: each of which re-parses the whole JSON string — measured full-width
#: normalize-and-materialize at 36 K → 57 K events/s (200 K rows) and
#: 122 K events/s steady-state (800 K rows) on local[32]; the reference's
#: appender claim is 20-30 K/s. PERMISSIVE mode nulls absent/mistyped
#: fields, so the variant per-event-type payloads all parse with the same
#: schema (reference spark_events.rs models the same superset).
EVENT_JSON_DDL = (
    "`Event` STRING, `App ID` STRING, `Timestamp` BIGINT,"
    " `Job ID` BIGINT, `Stage ID` BIGINT,"
    " `Stage Info` STRUCT<`Stage ID`: BIGINT>,"
    " `Task Info` STRUCT<`Task ID`: BIGINT, `Executor ID`: STRING,"
    "   `Host`: STRING, `Locality`: STRING>,"
    " `Task End Reason` STRUCT<`Reason`: STRING>,"
    " `Task Metrics` STRUCT<`Executor Run Time`: DOUBLE,"
    "   `Executor CPU Time`: DOUBLE, `JVM GC Time`: DOUBLE,"
    "   `Peak Execution Memory`: DOUBLE, `Memory Bytes Spilled`: DOUBLE,"
    "   `Disk Bytes Spilled`: DOUBLE,"
    "   `Input Metrics`: STRUCT<`Bytes Read`: DOUBLE>,"
    "   `Output Metrics`: STRUCT<`Bytes Written`: DOUBLE>,"
    "   `Shuffle Read Metrics`: STRUCT<`Remote Bytes Read`: DOUBLE>,"
    "   `Shuffle Write Metrics`: STRUCT<`Shuffle Bytes Written`: DOUBLE>>,"
    " `Task Executor Metrics` STRUCT<`JVMHeapMemory`: DOUBLE>,"
    " `Executor Info` STRUCT<`Total Cores`: DOUBLE>,"
    " `Executor ID` STRING"
)


def read_event_logs(
    spark: SparkSession,
    path: str | list[str],
    with_rejects: bool = False,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """S1-S8, S11: read JSON-lines Spark event logs into the normalized
    EVENTS_SCHEMA DataFrame (same canonical columns as the generic test
    binding, so the whole query catalog runs unchanged on real logs).

    ``path`` may be a file, a directory, or a glob; discovery of rollover
    dirs uses :data:`APP_DIR_GLOBS`. Returns ``(events, rejects)`` when
    ``with_rejects`` (S6 requires counting bad lines, not failing).
    """
    raw = (
        spark.read.text(path)
        .withColumnRenamed("value", "raw_data")
        .withColumn("src_file", F.input_file_name())
    )
    events = _project_events(raw)
    if with_rejects:
        rejects = raw.withColumn("event_full", _get("$['Event']")).filter(
            F.col("event_full").isNull() & (F.length(F.trim("raw_data")) > 0)
        ).select("src_file", "raw_data")
        return events, rejects
    return events


def _project_events(raw: DataFrame, streaming: bool = False) -> DataFrame:
    """The pure-projection normalization core (S6-S8, S11). Works on any
    DataFrame with (raw_data, src_file) — batch and streaming share it.

    One ``from_json`` parse per row (see :data:`EVENT_JSON_DDL`); every
    hot field is a struct access on the parsed column."""
    j = F.col("_j")
    parsed = raw.withColumn("_j", F.from_json("raw_data", EVENT_JSON_DDL))
    ok = parsed.filter(j["Event"].isNotNull())

    short = F.regexp_replace(j["Event"], "^SparkListener", "")
    # SQL events arrive as fully-qualified class names
    # (org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart).
    short = F.element_at(F.split(short, "\\."), -1)

    # Two projection stages instead of one ``withColumn`` per column:
    # every ``withColumn`` re-analyses the whole growing plan over the
    # wide ``from_json`` struct, so the ~28-call chain spent 0.16-0.18 s
    # of every frame build in those calls against 0.05-0.10 s for the
    # two stages (4 vCPU). The optimizer collapses both spellings to the
    # same plan, so tests pin the call count instead.
    ev = ok.withColumns(
        {
            "event_type": short,
            # S8 fallback order: app-prefixed path component first (rollover
            # dir or flat file), else the FINAL path component (reference
            # main.rs:396-401 uses the file name). A single alternation with
            # a [^/]+ catch-all is wrong: leftmost-match would bind the
            # parent dir for flat layouts, merging every app into one.
            "app_id": F.coalesce(
                j["App ID"],
                # the writer's `.inprogress` suffix is not part of the
                # id: a flat `local-<ms>.inprogress` log keys the events
                # after ApplicationStart by the same app as its `App ID`.
                # (A codec extension never reaches here: the compressed
                # reader strips it.) The `_<attemptId>` suffix stays: it
                # is ambiguous against YARN ids.
                F.regexp_replace(
                    F.coalesce(
                        # eventlog_v2_<appId> rollover dirs: the app id is
                        # the dir name MINUS the prefix (Spark's
                        # EventLogFileWriter v2 naming), so events before
                        # ApplicationStart coalesce to the same app as
                        # events after it
                        F.nullif(
                            F.regexp_replace(
                                F.regexp_extract(
                                    F.col("src_file"),
                                    r"(application_[\w.-]+|app-[\w.-]+|eventlog_v2_[\w.-]+)(?:/[^/]*)?$",
                                    1,
                                ),
                                r"^eventlog_v2_",
                                "",
                            ),
                            F.lit(""),
                        ),
                        F.regexp_extract(F.col("src_file"), r"([^/]+)$", 1),
                    ),
                    r"\.inprogress$",
                    "",
                ),
            ),
            "event_ts": F.coalesce(
                F.timestamp_millis(j["Timestamp"]),
                # pinned "now" for a missing timestamp (the reference
                # falls back to ``now()``, duckdb_store.rs:726)
                F.timestamp_millis(F.lit(PINNED_NOW_MS)),
            ),
        }
    )

    event_type = F.col("event_type")
    is_task_end = event_type == "TaskEnd"
    metrics = j["Task Metrics"]

    def task_mb(c: F.Column) -> F.Column:
        return F.when(is_task_end, _snap_mb(c / _MB))

    ev = ev.withColumns(
        {
            "event_date": F.to_date("event_ts"),
            "is_task": is_task_end,
            "is_app_start": event_type == "ApplicationStart",
            "is_app_end": event_type == "ApplicationEnd",
            "is_exec_add": event_type == "ExecutorAdded",
            "is_exec_remove": event_type == "ExecutorRemoved",
            "is_success": F.coalesce(
                j["Task End Reason"]["Reason"] == "Success",
                F.lit(True),
            ),
            "job_id": j["Job ID"],
            # TaskEnd carries it top-level; Stage events nest it
            # (spark_events.rs:165-171 handles both — so do we)
            "stage_id": F.coalesce(j["Stage ID"], j["Stage Info"]["Stage ID"]),
            "task_id": j["Task Info"]["Task ID"],
            "duration_ms": F.when(is_task_end, metrics["Executor Run Time"]),
            "cpu_ms": F.when(
                is_task_end, _snap_ms(metrics["Executor CPU Time"] / 1e6)
            ),
            "gc_ms": F.when(is_task_end, metrics["JVM GC Time"]),
            "peak_memory_mb": task_mb(metrics["Peak Execution Memory"]),
            "jvm_heap_mb": task_mb(j["Task Executor Metrics"]["JVMHeapMemory"]),
            "mem_spill_mb": task_mb(metrics["Memory Bytes Spilled"]),
            "disk_spill_mb": task_mb(metrics["Disk Bytes Spilled"]),
            "input_mb": task_mb(metrics["Input Metrics"]["Bytes Read"]),
            "output_mb": task_mb(metrics["Output Metrics"]["Bytes Written"]),
            "shuffle_read_mb": task_mb(
                metrics["Shuffle Read Metrics"]["Remote Bytes Read"]
            ),
            "shuffle_write_mb": task_mb(
                metrics["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            ),
            "total_cores": j["Executor Info"]["Total Cores"],
            "executor_id": F.coalesce(
                j["Task Info"]["Executor ID"], j["Executor ID"]
            ),
            "host": j["Task Info"]["Host"],
            "locality": j["Task Info"]["Locality"],
            # S11: batch gets the monotonic writer counter (reference
            # semantics); streaming plans can't use it — there a stable
            # content hash is the right id anyway (idempotent across
            # micro-batch retries).
            "id": F.monotonically_increasing_id()
            if not streaming
            else F.xxhash64("src_file", "raw_data", "event_ts"),
        }
    )
    cols = [
        "id",
        "app_id",
        "event_type",
        "event_ts",
        "event_date",
        "is_task",
        "is_app_start",
        "is_app_end",
        "is_exec_add",
        "is_exec_remove",
        "is_success",
        "job_id",
        "stage_id",
        "task_id",
        "duration_ms",
        "cpu_ms",
        "gc_ms",
        "peak_memory_mb",
        "jvm_heap_mb",
        "mem_spill_mb",
        "disk_spill_mb",
        "input_mb",
        "output_mb",
        "shuffle_read_mb",
        "shuffle_write_mb",
        "total_cores",
        "executor_id",
        "host",
        "locality",
        "raw_data",
        "src_file",
    ]
    return ev.select(*cols)


# --------------------------------------------------------------------------
# S9 — partitioned sink
# --------------------------------------------------------------------------
def write_events_sink(events: DataFrame, sink_dir: str, mode: str = "append") -> None:
    """S9: append the normalized events to a date-partitioned zstd parquet
    sink. Partitioning on ``event_date`` + parquet min/max stats replace
    the reference's three DuckDB indexes (SURVEY §4): the catalog's
    date-range filters prune partitions, app/event-type filters use
    row-group statistics.

    Clustered by the partition keys before the write (the
    write_metrics_rollup move): WITHOUT it, ``partitionBy`` fans every
    input task across every partition directory — #input_partitions ×
    #partitions files (measured 32 K tiny files at the 10x probe tier,
    where every later sink scan paid the footer walk; the S9d erasure
    read 10x slower from that layout alone). One shuffle buys one file
    per (day, source) per write call; a partition that outgrows one
    healthy file is ``compact_sink_inplace``'s target_file_mb split."""
    out = events.withColumn("ingest_src", F.md5("src_file"))
    (
        out.repartition(F.col("event_date"), F.col("ingest_src"))
        .write.partitionBy("event_date", "ingest_src")
        .mode(mode)
        .parquet(sink_dir)
    )


def read_events_sink(spark: SparkSession, sink_dir: str) -> DataFrame:
    return spark.read.parquet(sink_dir)


# --------------------------------------------------------------------------
# S10 — manifest-driven incremental ingest
# --------------------------------------------------------------------------
def _matches_any(name: str, globs: tuple[str, ...]) -> bool:
    return any(fnmatch.fnmatch(name, g) for g in globs)


def is_event_log_path(base: str, path: str) -> bool:
    """S2/S3 discovery filter (reference hdfs_reader.rs:131-134,183-186):
    app *entries* under the base must match :data:`APP_DIR_GLOBS`; event
    *files* inside an app dir must match :data:`EVENT_FILE_GLOBS`. A flat
    file directly under the base is accepted if it matches either set
    (reference main.rs:396-401 ingests flat app-named files). Everything
    else — a stray README, a .parquet, a tool dropping — is skipped."""
    rel = path[len(base) :].lstrip("/") if path.startswith(base) else path
    parts = [p for p in rel.split("/") if p]
    name = parts[-1] if parts else ""
    if len(parts) <= 1:
        return _matches_any(name, EVENT_FILE_GLOBS) or _matches_any(
            name, APP_DIR_GLOBS
        )
    return _matches_any(parts[0], APP_DIR_GLOBS) and _matches_any(
        name, EVENT_FILE_GLOBS
    )


def _list_files(spark: SparkSession, base: str) -> list[tuple[str, int]]:
    """Recursive (path, size) listing through the Hadoop FileSystem API
    (:func:`list_tree`) — works for file://, hdfs:// and s3a:// alike
    (S1/S4/S5), filtered by the S2/S3 discovery globs so non-log files
    never reach the parser."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    fs_path = jvm.org.apache.hadoop.fs.Path(base)
    fs = fs_path.getFileSystem(conf)
    # resolve the fully-qualified base (scheme + authority) so relative
    # inputs still prefix-match the listed absolute paths
    qualified = fs.makeQualified(fs_path).toString()
    return [
        (p, size)
        for p, size, _ in list_tree(spark, base)
        if not posixpath.basename(p).startswith((".", "_"))
        and is_event_log_path(qualified, p)
    ]


# --------------------------------------------------------------------------
# S4/S5 — remote-filesystem configuration surface
# --------------------------------------------------------------------------
def remote_fs_conf(
    s3_endpoint: str | None = None,
    s3_access_key: str | None = None,
    s3_secret_key: str | None = None,
    s3_path_style: bool | None = None,
    s3_connection_timeout_ms: int | None = None,
    default_fs: str | None = None,
    kerberos_enabled: bool = False,
    extra: dict[str, str] | None = None,
) -> dict[str, str]:
    """Build the Hadoop configuration for the remote readers (S4/S5).

    The reference carries dedicated HDFS/S3 clients with explicit
    credential plumbing (s3_reader.rs:119-334 — endpoint, keys,
    path-style; hdfs_reader.rs:201-235 — timeouts; file_reader.rs:199-253
    — Kerberos principal/keytab). On Spark the same knobs are Hadoop conf
    keys consumed by the ONE shared code path (:func:`_list_files` +
    ``spark.read`` against the URI), so "supporting S3/HDFS" means
    surfacing the keys, not writing clients.

    Kerberos note: the principal/keytab login happens at session start
    (``spark.kerberos.principal`` / ``spark.kerberos.keytab`` submit
    options — the JVM equivalent of the reference's kinit flow at
    file_reader.rs:219-243); this helper only flips the Hadoop-side
    authentication mode that makes the tokens required.

    ``default_fs`` sets ``fs.defaultFS`` for the WHOLE session: every
    schemeless path (sinks, manifests, checkpoints) then resolves against
    it, not the local filesystem — prefer fully-qualified ``hdfs://`` /
    ``s3a://`` URIs per call and leave this unset. An HA nameservice
    additionally needs its ``dfs.nameservices``/``dfs.ha.*`` keys via
    ``extra``.
    """
    conf: dict[str, str] = {}
    if s3_endpoint is not None:
        conf["fs.s3a.endpoint"] = s3_endpoint
    if s3_access_key is not None:
        conf["fs.s3a.access.key"] = s3_access_key
    if s3_secret_key is not None:
        conf["fs.s3a.secret.key"] = s3_secret_key
    if s3_path_style is not None:
        conf["fs.s3a.path.style.access"] = str(s3_path_style).lower()
    if s3_connection_timeout_ms is not None:
        conf["fs.s3a.connection.timeout"] = str(s3_connection_timeout_ms)
    if default_fs is not None:
        conf["fs.defaultFS"] = default_fs
    if kerberos_enabled:
        conf["hadoop.security.authentication"] = "kerberos"
    if extra:
        conf.update(extra)
    return conf


def configure_remote_fs(spark: SparkSession, **kwargs) -> dict[str, str]:
    """Apply :func:`remote_fs_conf` to the live session's Hadoop
    configuration and return what was set. Every reader in this module
    resolves filesystems through ``Path.getFileSystem(hadoopConf)``, so
    the settings take effect for file://, hdfs:// and s3a:// URIs alike
    without reader-specific code."""
    conf = remote_fs_conf(**kwargs)
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    for k, v in conf.items():
        hconf.set(k, v)
    return conf


def read_event_logs_auto(
    spark: SparkSession,
    paths: list[str],
) -> DataFrame:
    """Route an explicit file list to the right reader by extension —
    plain/gz JSON-lines through the text source, ``.zip`` through the
    archive reader, lz4/zstd/snappy through the pyarrow decoder — and
    union the normalized frames (identical schema by construction). This
    is what the incremental planner feeds: a real history dir freely
    mixes compressed and plain logs."""
    zips = [p for p in paths if p.lower().endswith(".zip")]
    comp = [
        p
        for p in paths
        if p.lower().endswith(COMPRESSED_LOG_EXTENSIONS)
    ]
    routed = set(zips) | set(comp)
    plain = [p for p in paths if p not in routed]
    parts: list[DataFrame] = []
    if plain:
        parts.append(read_event_logs(spark, plain))
    if zips:
        parts.append(read_zip_event_logs(spark, zips))
    if comp:
        parts.append(read_compressed_event_logs(spark, comp))
    if not parts:
        raise ValueError("no event-log files to read")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


#: the manifest table: one row per listed log (S10)
_MANIFEST_DDL = "path string, size long, complete boolean"


def plan_incremental(
    spark: SparkSession, base: str, manifest_dir: str
) -> tuple[list[str], DataFrame]:
    """Decide which files need (re-)ingest: new files always; known files
    iff ``current_size > stored_size`` and not yet complete (a null
    ``complete`` counts as not complete; reference
    ``metadata_store.rs:91-102``). Returns (paths_to_ingest, new_manifest),
    the paths in listing order.

    The diff runs on the driver: the manifest has one row per log, so
    one small collect and a dict lookup per listed file replace shipping
    the listing to the JVM for a join. A missing or unreadable manifest
    means every listed file is new."""
    listed = _list_files(spark, base)
    try:
        known = {
            r.path: (r.size, r.complete)
            for r in spark.read.schema(_MANIFEST_DDL).parquet(manifest_dir).collect()
        }
    except (PySparkException, Py4JJavaError):
        known = {}
    todo = []
    for path, size in listed:
        if path not in known:
            todo.append(path)
            continue
        m_size, m_complete = known[path]
        if m_size is not None and size > m_size and not m_complete:
            todo.append(path)
    new_manifest = spark.createDataFrame(
        # completion marker: not *.inprogress ⇒ complete (event_processor.rs:257)
        [(p, size, not p.endswith(".inprogress")) for p, size in listed],
        _MANIFEST_DDL,
    )
    return todo, new_manifest


def incremental_ingest(
    spark: SparkSession,
    base: str,
    sink_dir: str,
    manifest_dir: str,
) -> int:
    """S10: one incremental pass — list, diff against the manifest, re-read
    new/grown files, atomically replace their sink partitions, update the
    manifest. Returns number of files ingested.

    What a pass costs: one listing walk (:func:`list_tree`), one
    manifest read (one small Spark job), one write job for the files to
    read (none when nothing changed) and one manifest rewrite. The
    planning around them is driver-side Python, so a pass that adds one
    small app pays for its events, not for planning.

    Exactly-once end state: the sink is partitioned by
    ``(event_date, ingest_src=md5(file))``; with dynamic partition
    overwrite, re-ingesting a grown file replaces exactly that file's
    previous rows. (Reference semantics are at-least-once with duplicates —
    documented improvement.) The overwrite mode is a per-write option,
    so the session's ``spark.sql.sources.partitionOverwriteMode`` is
    never touched and a concurrent ``mode("overwrite")`` elsewhere in
    the session keeps its own mode.

    Scale note: one pass reads only changed bytes' files and rewrites only
    their partitions. For 100 TB history the per-file partitioning creates
    many small dirs — run :func:`compact_sink_inplace` on closed dates,
    or flip to plain date partitioning once logs are immutable.
    """
    todo, new_manifest = plan_incremental(spark, base, manifest_dir)
    if todo:
        events = read_event_logs_auto(spark, todo)
        _overwrite_partitions(
            events.withColumn("ingest_src", F.md5("src_file")), sink_dir
        )
    # manifest swap (tiny table — rewrite wholesale)
    new_manifest.write.mode("overwrite").parquet(manifest_dir)
    return len(todo)


def _overwrite_partitions(out: DataFrame, sink_dir: str) -> None:
    """Replace exactly the ``(event_date, ingest_src)`` partitions present
    in ``out`` (dynamic partition overwrite as a per-write option: the
    session conf stays as it is)."""
    (
        out.write.partitionBy("event_date", "ingest_src")
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .parquet(sink_dir)
    )


def write_bucketed_sink(
    events: DataFrame, table: str, buckets: int = 32
) -> None:
    """S9 alternative layout: an ``app_id``-bucketed, sorted table.

    Bucketing pre-shuffles the data ONCE at write time: every later
    ``groupBy("app_id")`` / join on ``app_id`` reads co-located buckets and
    plans **no Exchange** — the biggest standing cost in the analytics
    catalog (every A-query shuffles on app_id today). At 100 TB this turns
    each dashboard query from shuffle-bound to scan-bound; the trade is a
    fixed bucket count chosen for the cluster (here 32 = local core
    count; a real deployment sizes it to executors × a small factor).
    Shuffle elimination is plan-gated in ``tests/test_plans.py``.
    """
    (
        events.write.bucketBy(buckets, "app_id")
        .sortBy("app_id")
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(table)
    )


def _sink_partition_files(spark: SparkSession, sink_dir: str):
    """Yield ``((event_date, ingest_src), partition dir, bytes)`` per data
    file of the incremental sink layout, from one :func:`list_tree` walk
    (works for file://, hdfs://, s3a:// alike — same walk as
    :func:`_list_files`).

    Partition values are Hive-UNESCAPED (``%3A`` → ``:`` etc.): Spark
    percent-escapes special characters (space, ':', '%', ...) when it
    writes partition directories, while the DataFrame's decoded
    partition columns carry the raw values. Comparing raw directory
    names against column values would make any ingest_src containing an
    escaped character match zero rows — the partition would be
    re-selected by every compaction run yet never rewritten. The
    directory path is kept raw (escaped form), so callers can delete it
    without re-deriving Spark's escaping rules."""
    from urllib.parse import unquote

    for p, size, _ in list_tree(spark, sink_dir):
        if posixpath.basename(p).startswith(("_", ".")):
            continue
        date = src = None
        keep = []
        for seg in p.split("/"):
            keep.append(seg)
            if seg.startswith("event_date="):
                date = unquote(seg.split("=", 1)[1])
            elif seg.startswith("ingest_src="):
                src = unquote(seg.split("=", 1)[1])
                break  # the partition dir ends here
        if date is not None and src is not None:
            yield (date, src), "/".join(keep), size


def _sink_partition_stats(
    spark: SparkSession, sink_dir: str
) -> dict[tuple[str, str], tuple[int, int]]:
    """(event_date, ingest_src) → (file_count, total_bytes) for the
    incremental sink layout (values unescaped, see
    :func:`_sink_partition_files`)."""
    stats: dict[tuple[str, str], tuple[int, int]] = {}
    for key, _, size in _sink_partition_files(spark, sink_dir):
        n, b = stats.get(key, (0, 0))
        stats[key] = (n + 1, b + size)
    return stats


def compact_sink_inplace(
    spark: SparkSession,
    sink_dir: str,
    target_file_mb: int = 512,
    min_files: int = 2,
) -> list[dict]:
    """S9c: targeted in-place small-file compaction for the incremental
    sink — the maintenance pass a 100 TB deployment runs on closed dates.

    Incremental ingest writes one file batch per (date, source-file)
    partition per pass; over time hot partitions accumulate small files
    that tax every subsequent scan (open/seek cost dominates under ~tens
    of MB per file). This op rewrites ONLY partitions whose file count
    exceeds what their byte size needs (⌈bytes / target⌉, and at least
    ``min_files`` existing files), leaving everything else untouched:

    - the partitions to rewrite join in as a tiny broadcast key set (at
      scan time Spark's dynamic partition pruning keeps unaffected
      partitions unread);
    - rows hash into ⌈bytes/target⌉ slices per partition
      (deterministic ``xxhash64(id)`` — no random()), so oversized
      partitions split into target-sized files instead of one giant one;
    - the rewrite commits via dynamic partition overwrite, replacing
      exactly the selected partition directories. In-place safety comes
      from the repartition barrier: the shuffle fully materializes the
      scan before the first output commit can touch a source file.

    Idempotent: a second run finds every selected partition already at
    its target count and returns an empty plan. Returns the compaction
    plan as dicts: (event_date, ingest_src, files_before, bytes,
    files_target).

    .. warning:: **Durability window.** Read safety is guaranteed (the
       shuffle barrier materializes the scan before any commit), but the
       dynamic-partition-overwrite COMMIT is not atomic: a crash between
       partition-directory deletion and staged-file promotion loses the
       only copy of the selected partitions. Run this only on closed
       dates with the sink backed up or re-derivable from raw event
       logs (the usual case — re-ingest regenerates it); back up a
       sink without a backing source before compacting it.
    """
    target_bytes = target_file_mb * 1024 * 1024
    stats = _sink_partition_stats(spark, sink_dir)
    plan = []
    for (date, src), (n, b) in sorted(stats.items()):
        want = max(1, -(-b // target_bytes))
        if n >= min_files and n > want:
            plan.append(
                {
                    "event_date": date,
                    "ingest_src": src,
                    "files_before": n,
                    "bytes": b,
                    "files_target": int(want),
                }
            )
    if not plan:
        return []
    keys = spark.createDataFrame(
        [(p["event_date"], p["ingest_src"], p["files_target"]) for p in plan],
        "event_date string, ingest_src string, want int",
    )
    df = spark.read.parquet(sink_dir)
    picked = df.withColumn("event_date", F.col("event_date").cast("string")).join(
        F.broadcast(keys), ["event_date", "ingest_src"]
    )
    sliced = picked.withColumn(
        "__slice", F.pmod(F.xxhash64("id"), F.col("want"))
    ).drop("want")
    total_slices = sum(p["files_target"] for p in plan)
    out = (
        sliced.repartition(total_slices, "event_date", "ingest_src", "__slice")
        .drop("__slice")
        .withColumn("event_date", F.col("event_date").cast("date"))
    )
    _overwrite_partitions(out, sink_dir)
    return plan


def _sink_partition_dirs(
    spark: SparkSession, sink_dir: str
) -> dict[tuple[str, str], str]:
    """(event_date, ingest_src) → partition DIRECTORY path (raw on-disk
    form, values unescaped in the key, see :func:`_sink_partition_files`)."""
    return {key: d for key, d, _ in _sink_partition_files(spark, sink_dir)}


#: widest OR-disjunction the erasure rewrite hands Catalyst in one plan —
#: analysis cost is linear in clauses, so very wide erasures are batched
#: into chunks of this many affected-partition clauses (each chunk an
#: independent pruned scan + dynamic overwrite of only its partitions)
_ERASE_CLAUSE_CAP = 256


def erase_apps_from_sink(
    spark: SparkSession,
    sink_dir: str,
    app_ids: DataFrame,
    verify: bool = True,
) -> dict:
    """S9d: per-application erasure from the date-partitioned event sink
    — the fact-table half of a GDPR/retention request (the S17 rollup
    tombstones are the derived half; :func:`maintenance.run_app_retention`
    fans one app frame to both). Reference analog: the metadata store
    pruning applications whose logs vanished (``metadata_store.rs:91-134``),
    here driven by an explicit id frame instead of the filesystem.

    Partition-pruned, like S15's shard retraction: ONE column-pruned
    planning scan (r13 — previously three sink-wide jobs) computes
    per-partition victim/survivor counts, which carry the affected
    set, the erased-row count, and the survivor/all-victim split in a
    #partitions-bounded driver payload; the rewrite then reads ONLY
    the affected directories (a literal disjunction over the native
    partition columns, so Catalyst partition-prunes the scan — batched
    in chunks of ``_ERASE_CLAUSE_CAP`` clauses so planner analysis
    stays bounded at ANY erasure width, VERDICT r13) and replaces them
    via dynamic partition overwrite — everything else is untouched on
    disk, byte-for-byte, not just value-equal.

    The silent-miss class this guards against explicitly: dynamic
    partition overwrite only REPLACES partitions present in the output,
    so a partition whose every row belongs to a victim app produces no
    survivor rows, no output partition — and its old directory would
    silently keep serving the erased app. Those all-victim partitions
    are deleted directly (FS delete of the listed partition dirs), and
    ``verify=True`` (default) closes the loop with one sink-wide
    semi-join probe that RAISES if any victim row survived — the same
    fail-loud contract the S15 retraction verification set. Disable it
    only when the caller audits separately; the probe is a column-
    pruned scan with row-group-stat skipping, not a full read.

    Same durability window as :func:`compact_sink_inplace` (the
    dynamic-overwrite commit is not atomic) — run in the quiesced
    maintenance slot, on a sink that is re-derivable from raw logs.
    Idempotent: a retry finds no victim rows and returns zeros.

    Returns {n_rows_erased, partitions_rewritten, partitions_deleted}.
    """
    victims = app_ids.where("app_id IS NOT NULL").select("app_id").distinct()
    df = spark.read.parquet(sink_dir)
    # ONE column-pruned planning scan (r13, measured: the previous
    # shape paid three sink-wide jobs — affected-set collect, victim
    # count, survivor-key collect — before any rewrite; per-partition
    # victim/survivor counts from a single pass carry all three
    # answers in a #partitions-bounded driver payload)
    stats = (
        df.withColumn("event_date", F.col("event_date").cast("string"))
        .join(
            F.broadcast(victims.withColumn("_victim", F.lit(1))),
            "app_id",
            "left",
        )
        .groupBy("event_date", "ingest_src")
        .agg(
            F.count("_victim").alias("n_victims"),
            F.count(F.when(F.col("_victim").isNull(), 1)).alias(
                "n_survivors"
            ),
        )
        .filter(F.col("n_victims") > 0)
        .collect()
    )
    affected_keys = {(r.event_date, r.ingest_src) for r in stats}
    if not affected_keys:
        return {
            "n_rows_erased": 0,
            "partitions_rewritten": 0,
            "partitions_deleted": 0,
        }
    n_erased = sum(r.n_victims for r in stats)
    survivor_keys = {
        (r.event_date, r.ingest_src) for r in stats if r.n_survivors > 0
    }
    if survivor_keys:
        # literal disjunction over the affected keys: partition PRUNING
        # at the scan (a broadcast key-frame join reads every partition;
        # a literal predicate reads only the affected directories).
        # Applied to the NATIVE partition columns (date-typed) before
        # any cast, so Catalyst prunes. Catalyst's analysis cost grows
        # linearly in OR clauses and turns pathological for very wide
        # erasures (thousands of affected partitions — VERDICT r13), so
        # the rewrite proceeds in chunks of at most _ERASE_CLAUSE_CAP
        # clauses: each chunk is an independent pruned scan + dynamic
        # partition overwrite of only ITS partitions, so correctness is
        # unchanged (partitions are rewritten exactly once, a crash
        # between chunks leaves untouched-or-fully-rewritten partitions
        # — the same non-atomic commit window the docstring documents,
        # and the verify probe still closes the loop).
        ordered = sorted(survivor_keys)
        for i in range(0, len(ordered), _ERASE_CLAUSE_CAP):
            pred = None
            for d, s in ordered[i:i + _ERASE_CLAUSE_CAP]:
                clause = (
                    F.col("event_date") == F.to_date(F.lit(d))
                ) & (F.col("ingest_src") == s)
                pred = clause if pred is None else (pred | clause)
            picked = df.filter(pred).withColumn(
                "event_date", F.col("event_date").cast("string")
            )
            survivors = picked.join(
                F.broadcast(victims), "app_id", "left_anti"
            )
            # repartition barrier, same reasoning as
            # compact_sink_inplace: both joins above are broadcast
            # (narrow, pipelined), so without a shuffle the in-place
            # rewrite's read safety would rest on commit staging
            # alone; the barrier materializes the scan before any
            # output commit can touch a source file — and leaves one
            # file per rewritten partition as a side effect
            _overwrite_partitions(
                survivors.repartition(
                    F.col("event_date"), F.col("ingest_src")
                ).withColumn("event_date", F.col("event_date").cast("date")),
                sink_dir,
            )
    # all-victim partitions: no survivor output replaced them — delete
    # their directories outright or the erased app keeps serving
    empty_keys = affected_keys - survivor_keys
    if empty_keys:
        jvm = spark.sparkContext._jvm
        conf = spark.sparkContext._jsc.hadoopConfiguration()
        dirs = _sink_partition_dirs(spark, sink_dir)
        for k in sorted(empty_keys):
            path = dirs.get(k)
            if path is None:
                continue  # already gone (retry after a partial run)
            p = jvm.org.apache.hadoop.fs.Path(path)
            p.getFileSystem(conf).delete(p, True)
    if verify:
        # an erasure whose victims covered EVERY partition leaves an
        # empty sink — a bare parquet read would fail schema inference
        # there (ADVICE r12); an empty relation trivially verifies
        if not _sink_partition_dirs(spark, sink_dir):
            remaining = 0
        else:
            remaining = (
                spark.read.parquet(sink_dir)
                .join(F.broadcast(victims), "app_id", "left_semi")
                .count()
            )
        if remaining:
            raise RuntimeError(
                f"sink erasure verification failed: {remaining} rows of "
                f"the victim apps remain under {sink_dir} — partial "
                "commit (see the durability note); re-run the erasure"
            )
    return {
        "n_rows_erased": int(n_erased),
        "partitions_rewritten": len(survivor_keys),
        "partitions_deleted": len(empty_keys),
    }


def application_details(events: DataFrame) -> DataFrame:
    """A17 full fold on real logs: first ApplicationStart supplies
    (name, user, attempt); ApplicationEnd closes the app; duration uses the
    pinned "now" for still-running apps (reference event_log.rs:26-93,
    models.rs:183-212 — duration fallback :193-197).

    Only meaningful on the event-log source (the generic binding's
    raw_data has no App Name) — hence not part of the oracle-checked
    catalog; covered by the ingest test suite instead."""
    first_start = F.min(F.when(F.col("is_app_start"), F.col("event_ts")))
    app_name = F.max(
        F.when(F.col("is_app_start"), F.get_json_object("raw_data", "$['App Name']"))
    )
    app_user = F.max(
        F.when(F.col("is_app_start"), F.get_json_object("raw_data", "$['User']"))
    )
    attempt = F.max(
        F.when(
            F.col("is_app_start"),
            F.get_json_object("raw_data", "$['App Attempt ID']"),
        )
    )
    end_ts = F.max(F.when(F.col("is_app_end"), F.col("event_ts")))
    return (
        events.groupBy("app_id")
        .agg(
            app_name.alias("app_name"),
            app_user.alias("user"),
            attempt.alias("attempt_id"),
            F.unix_millis(first_start).alias("start_ms"),
            F.unix_millis(end_ts).alias("end_ms"),
            F.unix_millis(F.max("event_ts")).alias("last_updated_ms"),
            (F.count(F.when(F.col("is_app_end"), 1)) > 0).alias("completed"),
        )
        .withColumn(
            "duration_ms",
            F.when(F.col("completed"), F.col("end_ms") - F.col("start_ms")).otherwise(
                F.lit(PINNED_NOW_MS) - F.col("start_ms")
            ),
        )
        .orderBy("app_id")
    )


#: typed view of the ExecutorAdded/Removed payload (maps need a schema —
#: get_json_object can only return scalars)
_EXEC_INFO_SCHEMA = (
    "struct<`Executor Info`: struct<`Host`: string,"
    " `Log Urls`: map<string,string>, `Attributes`: map<string,string>,"
    " `Resource Profile Id`: bigint>,"
    " `Removed Reason`: string>"
)


def executor_details(events: DataFrame) -> DataFrame:
    """Executor lifecycle detail on real logs — the reference's
    ExecutorSummary metadata columns (models.rs:95-112): add/remove times,
    remove reason, host, the ``executor_logs``/``attributes``
    ``map<string,string>`` columns, resource profile id, and the excluded
    flag. One groupBy over the (tiny) executor-lifecycle event subset.

    Only meaningful on the event-log source (the generic binding's
    raw_data has no Executor Info) — covered by the ingest test suite,
    like :func:`application_details`."""
    x = F.from_json("raw_data", _EXEC_INFO_SCHEMA)
    on_add = lambda c: F.first(F.when(F.col("is_exec_add"), c), ignorenulls=True)  # noqa: E731
    excluded_types = ("ExecutorExcluded", "ExecutorBlacklisted")
    return (
        events.filter(
            F.col("is_exec_add")
            | F.col("is_exec_remove")
            | F.col("event_type").isin(*excluded_types)
        )
        .withColumn("_x", x)
        .groupBy("app_id", "executor_id")
        .agg(
            F.unix_millis(
                F.min(F.when(F.col("is_exec_add"), F.col("event_ts")))
            ).alias("add_time_ms"),
            F.unix_millis(
                F.max(F.when(F.col("is_exec_remove"), F.col("event_ts")))
            ).alias("remove_time_ms"),
            F.max(
                F.when(F.col("is_exec_remove"), F.col("_x")["Removed Reason"])
            ).alias("remove_reason"),
            on_add(F.col("_x")["Executor Info"]["Host"]).alias("host"),
            F.max("total_cores").cast("long").alias("total_cores"),
            on_add(F.col("_x")["Executor Info"]["Log Urls"]).alias("executor_logs"),
            on_add(F.col("_x")["Executor Info"]["Attributes"]).alias("attributes"),
            on_add(F.col("_x")["Executor Info"]["Resource Profile Id"]).alias(
                "resource_profile_id"
            ),
            (
                F.count(F.when(F.col("event_type").isin(*excluded_types), 1)) > 0
            ).alias("is_excluded"),
        )
        .withColumn("active", F.col("remove_time_ms").isNull())
        .orderBy("app_id", "executor_id")
    )


def application_attempts(events: DataFrame) -> DataFrame:
    """Per-(app, attempt) fold — the reference's ApplicationAttemptInfo
    (models.rs:20-40), built the way its per-file parser does
    (storage/event_log.rs:26-93): each log unit (rollover dir or flat
    file) folds to ONE attempt; ``attempt_id`` comes from the start
    event's ``App Attempt ID`` (absent → NULL, e.g. client-mode apps),
    ``spark_version`` from ``SparkListenerLogStart``/``EnvironmentUpdate``,
    ``end_time`` falls back to last_updated when the log has no end event
    (event_log.rs:70-71).

    One groupBy keyed on (app_id, log unit) — the same single shuffle as
    A17 at any history size."""
    # same two-step fallback as the S8 app-id rule: app-prefixed path
    # component (rollover dir / flat file) first, else the file name.
    # Sources without file provenance (the generic binding) fold each app
    # to a single attempt keyed by app_id.
    src = F.col("src_file") if "src_file" in events.columns else F.col("app_id")
    log_unit = F.coalesce(
        F.nullif(
            F.regexp_extract(
                src,
                r"(application_[\w.-]+|app-[\w.-]+|eventlog_v2_[\w.-]+)(?:/[^/]*)?$",
                1,
            ),
            F.lit(""),
        ),
        F.regexp_extract(src, r"([^/]+)$", 1),
    )
    on_start = lambda c: F.max(F.when(F.col("is_app_start"), c))  # noqa: E731
    # Group by the log unit ALONE (one file/dir = one attempt, exactly the
    # reference's per-file fold), then take the unit's app id from its
    # ApplicationStart event — events written before it (LogStart,
    # EnvironmentUpdate) carry only the path-derived id and must not split
    # the attempt.
    att = (
        events.groupBy(log_unit.alias("log_unit"))
        .agg(
            F.coalesce(
                on_start(F.get_json_object("raw_data", "$['App ID']")),
                F.max("app_id"),
            ).alias("app_id"),
            on_start(F.get_json_object("raw_data", "$['App Attempt ID']")).alias(
                "attempt_id"
            ),
            F.coalesce(
                on_start(F.get_json_object("raw_data", "$['User']")),
                F.lit("unknown"),
            ).alias("spark_user"),
            F.coalesce(
                F.max(F.get_json_object("raw_data", "$['Spark Version']")),
                F.lit("unknown"),
            ).alias("app_spark_version"),
            F.unix_millis(
                F.min(F.when(F.col("is_app_start"), F.col("event_ts")))
            ).alias("start_ms"),
            F.unix_millis(F.max(F.when(F.col("is_app_end"), F.col("event_ts")))).alias(
                "app_end_ms"
            ),
            F.unix_millis(F.max("event_ts")).alias("last_updated_ms"),
            (F.count(F.when(F.col("is_app_end"), 1)) > 0).alias("completed"),
        )
        .withColumn(
            "end_ms",
            F.coalesce(
                F.col("app_end_ms"),
                F.when(F.col("completed"), F.col("last_updated_ms")).otherwise(
                    F.lit(PINNED_NOW_MS)
                ),
            ),
        )
        .withColumn("duration_ms", F.col("end_ms") - F.col("start_ms"))
    )
    return att.select(
        "app_id",
        "attempt_id",
        "start_ms",
        "end_ms",
        "last_updated_ms",
        "duration_ms",
        "spark_user",
        "completed",
        "app_spark_version",
    ).orderBy("app_id", F.desc_nulls_last("attempt_id"))


def applications_with_attempts(events: DataFrame) -> DataFrame:
    """The reference's ApplicationInfo shape (models.rs:10-18): one row per
    application carrying its attempt list, newest attempt first (the
    History Server's ordering). ``sort_array`` on a struct whose FIRST
    field is attempt_id gives the descending attempt order without a
    second shuffle."""
    att = application_attempts(events)
    name = F.max(F.when(F.col("is_app_start"), F.get_json_object("raw_data", "$['App Name']")))
    names = events.groupBy("app_id").agg(name.alias("app_name"))
    per_app = att.groupBy("app_id").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    "attempt_id",
                    "start_ms",
                    "end_ms",
                    "last_updated_ms",
                    "duration_ms",
                    "spark_user",
                    "completed",
                    "app_spark_version",
                )
            ),
            asc=False,
        ).alias("attempts"),
    )
    return (
        per_app.join(names, "app_id", "left")
        .select("app_id", "app_name", "attempts")
        .orderBy("app_id")
    )


def read_zip_event_logs(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """S6 compression parity for ``.zip`` archives (the reference bundles a
    zip reader, Cargo.toml:24-26). Spark's text source decompresses gz/bz2
    natively but not zip — so: ``binaryFile`` scan → Arrow-batched
    ``mapInPandas`` unpacks each archive's entries into (raw line,
    synthetic member path) rows → the shared normalization projection.

    Scale: one archive = one input row = decompressed inside one task;
    parallelism comes from the number of archives (zip is not splittable —
    same constraint every engine has).
    """
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.zip")
        .load(path)
        .select("path", "content")
    )

    # Self-contained closure (see operators/multimodal.py note).
    def unzip(batches):
        import io
        import zipfile

        import pandas as _pd

        for pdf in batches:
            out = {"raw_data": [], "src_file": []}
            for apath, content in zip(pdf["path"], pdf["content"]):
                # the archive stands in for the app directory (S8): strip
                # .zip so app-id-from-path sees "<archive-stem>/<member>"
                stem = apath[:-4] if apath.endswith(".zip") else apath
                with zipfile.ZipFile(io.BytesIO(bytes(content))) as zf:
                    for member in zf.namelist():
                        if member.endswith("/"):
                            continue
                        for line in zf.read(member).decode(
                            "utf-8", errors="replace"
                        ).splitlines():
                            out["raw_data"].append(line)
                            out["src_file"].append(f"{stem}/{member}")
            yield _pd.DataFrame(out)

    from pyspark.sql.types import StringType, StructField, StructType

    lines = raw.mapInPandas(
        unzip,
        StructType(
            [
                StructField("raw_data", StringType(), False),
                StructField("src_file", StringType(), False),
            ]
        ),
    )
    return _project_events(lines, streaming=True)


#: Codec extensions Spark's EventLogFileWriter produces (reference declares
#: the same set: Cargo.toml:24-26, config.rs:33). gz is handled natively by
#: spark.read.text; these need the binaryFile + pyarrow path below. Spark's
#: ``.lzf`` is not decoded: such a log goes to the text reader, whose
#: undecodable lines are rejects.
COMPRESSED_LOG_EXTENSIONS = (".lz4", ".zstd", ".zst", ".snappy")
_COMPRESSED_LOG_GLOB = "*.{%s}" % ",".join(
    ext[1:] for ext in COMPRESSED_LOG_EXTENSIONS
)


def read_compressed_event_logs(
    spark: SparkSession, path: str | list[str]
) -> DataFrame:
    """S6 compression parity for lz4/zstd/snappy event logs — the formats
    ``spark.eventLog.compress=true`` actually writes (lz4-java block
    stream, zstd frame, snappy-java block stream; NOT the Hadoop codec
    container formats). Spark's text source can't split or decode them, so:
    ``binaryFile`` scan → Arrow-batched ``mapInPandas`` decodes each file
    with pyarrow's raw codecs → (line, src-path-minus-extension) rows →
    the shared normalization projection.

    Scale: one compressed log = one task (these framings are not
    splittable — the same constraint every engine has); parallelism comes
    from the file count, which is how history dirs grow anyway.
    """
    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", _COMPRESSED_LOG_GLOB)
        .load(path)
        .select("path", "content")
    )

    # Self-contained closure (see operators/multimodal.py note).
    def decode(batches):
        import struct

        import pandas as _pd
        import pyarrow as _pa

        def lz4_block_stream(data: bytes) -> bytes:
            # lz4-java LZ4BlockOutputStream framing: per block —
            # magic "LZ4Block" (8) | token (1) | compressedLen (4 LE) |
            # decompressedLen (4 LE) | checksum (4) | payload. Token high
            # nibble 0x10 = stored raw, 0x20 = lz4-compressed. A
            # decompressedLen of 0 is the end marker.
            codec = _pa.Codec("lz4_raw")
            out = bytearray()
            pos = 0
            while pos + 21 <= len(data):
                if data[pos : pos + 8] != b"LZ4Block":
                    raise ValueError(f"bad LZ4Block magic at offset {pos}")
                token = data[pos + 8]
                clen = struct.unpack("<i", data[pos + 9 : pos + 13])[0]
                dlen = struct.unpack("<i", data[pos + 13 : pos + 17])[0]
                block = data[pos + 21 : pos + 21 + clen]
                if dlen == 0:
                    break
                if (token & 0xF0) == 0x10:
                    out += block
                else:
                    out += bytes(codec.decompress(block, dlen))
                pos += 21 + clen
            return bytes(out)

        def snappy_java_stream(data: bytes) -> bytes:
            # snappy-java SnappyOutputStream framing: header (8-byte magic
            # "\x82SNAPPY\x00" + 2 version ints) then per chunk —
            # compressedLen (4 BE) | raw-snappy payload (which embeds its
            # own uncompressed length varint).
            if data[:8] != b"\x82SNAPPY\x00":
                raise ValueError("bad snappy-java magic")
            codec = _pa.Codec("snappy")
            out = bytearray()
            pos = 16
            while pos + 4 <= len(data):
                clen = struct.unpack(">i", data[pos : pos + 4])[0]
                chunk = data[pos + 4 : pos + 4 + clen]
                # raw snappy leads with the uncompressed length as a varint
                dlen, shift, vp = 0, 0, 0
                while True:
                    b = chunk[vp]
                    dlen |= (b & 0x7F) << shift
                    vp += 1
                    shift += 7
                    if not (b & 0x80):
                        break
                out += bytes(codec.decompress(chunk, dlen))
                pos += 4 + clen
            return bytes(out)

        def zstd_stream(data: bytes) -> bytes:
            # standard zstd frames; streamed because event-log writers
            # don't embed the content size
            with _pa.input_stream(_pa.BufferReader(data), compression="zstd") as f:
                return f.read()

        decoders = {
            ".lz4": lz4_block_stream,
            ".zstd": zstd_stream,
            ".zst": zstd_stream,
            ".snappy": snappy_java_stream,
        }
        for pdf in batches:
            out = {"raw_data": [], "src_file": []}
            for apath, content in zip(pdf["path"], pdf["content"]):
                ext = "." + apath.rsplit(".", 1)[-1].lower()
                # S8: strip the codec extension so app-id-from-path sees
                # the same name an uncompressed log would have
                stem = apath[: -len(ext)] if ext in decoders else apath
                text = decoders[ext](bytes(content)).decode(
                    "utf-8", errors="replace"
                )
                for line in text.splitlines():
                    out["raw_data"].append(line)
                    out["src_file"].append(stem)
            yield _pd.DataFrame(out)

    from pyspark.sql.types import StringType, StructField, StructType

    lines = raw.mapInPandas(
        decode,
        StructType(
            [
                StructField("raw_data", StringType(), False),
                StructField("src_file", StringType(), False),
            ]
        ),
    )
    return _project_events(lines, streaming=True)
