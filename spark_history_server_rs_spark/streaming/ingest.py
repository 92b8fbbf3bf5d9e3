"""Structured Streaming ingest — the idiomatic replacement for the
reference's poll loop (SURVEY.md §2.10).

The reference polls every ``update_interval_seconds`` and re-reads grown
files with at-least-once semantics (``main.rs:292-312``,
``event_processor.rs:239-258``). Structured Streaming's file source +
checkpoint gives exactly-once for immutable files with zero custom state;
the ``availableNow`` trigger is the batch-drain mode (process everything
new, then stop — the cron-friendly equivalent of one poll tick). Growing
``.inprogress`` files are the one case the file source cannot re-read —
those stay on the manifest path (:mod:`..sources.event_logs`).

Also provides a windowed streaming aggregate (per-app activity with
watermarked event-time windows) — the reference has no windowed/stateful
operators at all (SURVEY §2.10: "no watermarks, no event-time windows"),
so this is a beyond-reference capability, exercised by the test suite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..sources import event_logs as el


def stream_ingest(
    spark: SparkSession,
    log_glob: str,
    sink_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Exactly-once streaming ingest of (immutable) event-log files into
    the event sink, in the sink's one layout. ``availableNow`` drains the
    backlog and stops; pass ``available_now=False`` for a continuous
    micro-batch daemon (the reference's poll loop, minus the
    duplicates).

    The batch normalization projection applies verbatim to the
    ``readStream`` text frame (projections + filters only — one code
    path for batch and streaming, the Spark-first property the
    reference's dual ingest pipelines lacked). Each micro-batch commits
    through the batch ingest's dynamic partition overwrite
    (``foreachBatch``), so the sink is partitioned by ``(event_date,
    ingest_src)`` whichever path wrote it and compaction and erasure
    work on it. The id is a content hash (``xxhash64``) and a file never
    spans two micro-batches, so a replayed batch rewrites identical
    partitions."""
    raw = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 64)  # bound micro-batch size at scale
        .load(log_glob)
        .withColumnRenamed("value", "raw_data")
        .withColumn("src_file", F.input_file_name())
    )
    writer = (
        el._project_events(raw, streaming=True)
        .writeStream.foreachBatch(
            lambda batch, _: el._overwrite_partitions(
                batch.withColumn("ingest_src", F.md5("src_file")), sink_dir
            )
        )
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime="10 seconds")
    return writer.start()


def stream_app_activity(
    events: DataFrame,
    window: str = "1 minute",
    watermark: str = "5 minutes",
) -> DataFrame:
    """Beyond-reference: watermarked event-time windowed per-app activity
    (tasks + failures per app per window). Late events beyond the
    watermark are dropped — a declared late-data policy, which the
    reference lacks entirely."""
    return (
        events.withWatermark("event_ts", watermark)
        .groupBy(F.window("event_ts", window).alias("w"), F.col("app_id"))
        .agg(
            F.count("*").alias("events"),
            F.count(F.when(F.col("is_task"), 1)).alias("tasks"),
            F.count(F.when(F.col("is_task") & ~F.col("is_success"), 1)).alias(
                "failed_tasks"
            ),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "app_id",
            "events",
            "tasks",
            "failed_tasks",
        )
    )


def stream_sessionize(
    events: DataFrame,
    gap: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Beyond-reference: native gap-based sessionization via
    ``session_window`` — the streaming twin of the batch R7 sessionizer
    (``operators/relational.py``), which builds sessions with LAG + a
    running flag-sum. In streaming, Spark's session_window maintains and
    MERGES open per-key session state across micro-batches and closes a
    session only once the watermark passes its end — semantics the batch
    window-function formulation cannot express incrementally.

    State per key is the open session bounds only; late events beyond the
    watermark are dropped, so state is bounded by (active keys × gap),
    not stream length.
    """
    return (
        events.withWatermark("event_ts", watermark)
        .groupBy(
            F.session_window("event_ts", gap).alias("s"), F.col("app_id")
        )
        .agg(
            F.count("*").alias("events"),
            F.count(F.when(F.col("is_task"), 1)).alias("tasks"),
        )
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "app_id",
            "events",
            "tasks",
        )
    )


def stream_dedup_documents(
    docs: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """Streaming exact-dedup for incremental corpus ingest: emit only the
    FIRST occurrence of each content hash across all micro-batches
    (state = seen hashes, evicted past the watermark). The streaming twin
    of :func:`..operators.dedup.dedup_exact` — a corpus crawler can drop
    duplicates at ingest time instead of re-scanning the corpus.

    State is keyed on md5(text): uniform, unskewable, and bounded by the
    watermark horizon rather than corpus size.
    """
    return (
        docs.withColumn("text_hash", F.md5("text"))
        .withColumn("ingest_ts", F.current_timestamp())
        .withWatermark("ingest_ts", watermark)
        .dropDuplicates(["text_hash"])
        .select("doc_id", "text_hash", "lang")
    )


#: output schema of :func:`stream_near_dedup`
NEAR_DEDUP_SCHEMA = (
    "doc_id long, fp long, block_idx integer, matched_doc_id long, hamming long"
)
_NEAR_DEDUP_STATE_SCHEMA = "doc_ids array<long>, fps array<long>"


def stream_near_dedup(docs: DataFrame):
    """Beyond-reference: streaming NEAR-duplicate detection — the
    streaming twin of :func:`..operators.dedup.simhash_pairs`.

    Per document the 32-bit SimHash fingerprint is computed as a pure
    projection (:func:`..operators.dedup.simhash_fp_fold_expr` — a
    higher-order fold, no aggregation, so it is streaming-legal), then
    each document registers under its 4 pigeonhole block keys. State
    per (block_idx, block_val) key is the fingerprint index of documents
    seen so far — the pigeonhole guarantee (radius 3 < 4 blocks ⇒ some
    block matches exactly) means any near-duplicate of an earlier
    document is caught in at least one of its block groups, without ever
    comparing across groups.

    Emits one row per (document, block): ``matched_doc_id``/``hamming``
    give the best (lowest-Hamming, then lowest-id) PREVIOUSLY-SEEN match
    within that block bucket, NULL when none. A document's verdict is
    "near-dup" iff ANY of its 4 rows matched. "Previously seen" follows
    ARRIVAL order (ascending doc_id within a micro-batch): when ingest
    order is ascending across batches this equals the batch pigeonhole
    union over (doc_a < doc_b) pairs — the case the differential test
    pins; with out-of-order arrival a duplicate is still flagged, but
    against whichever member arrived first (the operationally correct
    streaming semantics: "have I seen something similar already").

    State size: 4 entries of ~12 bytes per corpus document, spread over
    the uniform md5-derived bucket keys — the streaming index a crawler
    needs to reject boilerplate near-dups AT INGEST, which batch dedup
    only finds on the next full scan.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..operators.dedup import (
        _BLOCK_WIDTH,
        SIMHASH_BLOCKS,
        SIMHASH_RADIUS,
        simhash_fp_fold_expr,
    )

    fp = docs.selectExpr("doc_id", f"({simhash_fp_fold_expr()}) AS fp")
    blocks = fp.selectExpr(
        "doc_id",
        "fp",
        f"explode(sequence(0, {SIMHASH_BLOCKS - 1})) AS block_idx",
    ).selectExpr(
        "doc_id",
        "fp",
        "block_idx",
        f"CAST((fp >> (block_idx * {_BLOCK_WIDTH}))"
        f" & {(1 << _BLOCK_WIDTH) - 1} AS INT) AS block_val",
    )
    radius = SIMHASH_RADIUS

    # Self-contained closure (see operators/multimodal.py note).
    def update(key, pdfs, state):
        import pandas as _pd

        if state.exists:
            seen_ids, seen_fps = list(state.get[0]), list(state.get[1])
        else:
            seen_ids, seen_fps = [], []
        batch: list[tuple[int, int]] = []
        for pdf in pdfs:
            batch.extend(
                zip(pdf["doc_id"].astype(int), pdf["fp"].astype(int))
            )
        batch.sort()  # deterministic: earlier doc_ids become "seen" first
        rows = []
        for doc_id, fpv in batch:
            best = None
            for sid, sfp in zip(seen_ids, seen_fps):
                h = bin(fpv ^ sfp).count("1")
                if h <= radius and (best is None or (h, sid) < best):
                    best = (h, sid)
            rows.append(
                (doc_id, fpv, key[0],
                 best[1] if best else None,
                 best[0] if best else None)
            )
            seen_ids.append(doc_id)
            seen_fps.append(fpv)
        state.update((seen_ids, seen_fps))
        yield _pd.DataFrame(
            rows,
            columns=["doc_id", "fp", "block_idx", "matched_doc_id", "hamming"],
        )

    return blocks.groupBy("block_idx", "block_val").applyInPandasWithState(
        update,
        outputStructType=NEAR_DEDUP_SCHEMA,
        stateStructType=_NEAR_DEDUP_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


#: output schema of :func:`stream_running_corpus_stats`
RUNNING_STATS_SCHEMA = (
    "lang string, docs_seen long, tokens_seen long, batches long"
)
_RUNNING_STATE_SCHEMA = "docs long, tokens long, batches long"


def stream_running_corpus_stats(docs: DataFrame):
    """Beyond-reference custom stateful operator via
    ``applyInPandasWithState``: per-language running corpus totals
    (documents, whitespace tokens, micro-batches contributing) that
    survive across micro-batches — the live "how much data have we
    ingested per language" counter a crawl pipeline shows on its
    dashboard.

    State per key is three longs — O(#languages) total, independent of
    corpus size; each micro-batch ships only its own rows through Arrow.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    # Self-contained closure (see operators/multimodal.py note).
    def update(key, pdfs, state):
        import pandas as _pd

        docs_n = 0
        toks = 0
        for pdf in pdfs:
            docs_n += len(pdf)
            toks += int(
                pdf["text"].map(lambda t: len([w for w in t.split(" ") if w])).sum()
            )
        if state.exists:
            p_docs, p_toks, p_batches = state.get
        else:
            p_docs, p_toks, p_batches = 0, 0, 0
        new = (p_docs + docs_n, p_toks + toks, p_batches + 1)
        state.update(new)
        yield _pd.DataFrame(
            {
                "lang": [key[0]],
                "docs_seen": [new[0]],
                "tokens_seen": [new[1]],
                "batches": [new[2]],
            }
        )

    return (
        docs.groupBy("lang")
        .applyInPandasWithState(
            update,
            outputStructType=RUNNING_STATS_SCHEMA,
            stateStructType=_RUNNING_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


#: output schema of :func:`stream_transition_counts`
TRANSITION_SCHEMA = "from_type string, to_type string, n long"
_TRANSITION_STATE_SCHEMA = "last_ts long, last_id long, last_type string"


def stream_transition_counts(events: DataFrame):
    """Beyond-reference: streaming first-order transition counting — the
    streaming twin of batch R31 (``event_transition_matrix``,
    ``operators/relational.py``). State per user is ONE event (the last
    seen ``(ts_ms, id, event_type)``); each micro-batch sorts its own
    rows per user, prepends the stored last event, and emits that
    batch's (from, to) count DELTAS. Consumers (or a downstream
    aggregation) sum deltas into the running matrix — emitting deltas
    keeps this a single stateful operator per query.

    With in-time-order arrival the summed deltas equal the batch R31
    counts exactly (the differential test pins this); with out-of-order
    arrival, transitions follow arrival order — the operationally honest
    streaming semantics without unbounded event buffering. State is 3
    scalars per active user, independent of stream length.

    Input schema: ``app_id string, id long, ts_ms long, event_type
    string`` (pre-normalized — pair with the ``stream_ingest`` /
    ``load_events`` projections).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    # Self-contained closure (see operators/multimodal.py note).
    def update(key, pdfs, state):
        import pandas as _pd

        rows: list[tuple[int, int, str]] = []
        for pdf in pdfs:
            rows.extend(
                zip(
                    pdf["ts_ms"].astype(int),
                    pdf["id"].astype(int),
                    pdf["event_type"],
                )
            )
        rows.sort()
        if state.exists:
            last_ts, last_id, last_type = state.get
        else:
            last_ts, last_id, last_type = None, None, None
        counts: dict[tuple[str, str], int] = {}
        for ts, rid, etype in rows:
            if last_type is not None:
                k = (last_type, etype)
                counts[k] = counts.get(k, 0) + 1
            last_ts, last_id, last_type = ts, rid, etype
        state.update((last_ts, last_id, last_type))
        yield _pd.DataFrame(
            [(f, t, n) for (f, t), n in sorted(counts.items())],
            columns=["from_type", "to_type", "n"],
        )

    return events.groupBy("app_id").applyInPandasWithState(
        update,
        outputStructType=TRANSITION_SCHEMA,
        stateStructType=_TRANSITION_STATE_SCHEMA,
        # deltas are final once emitted (never revised) — append semantics
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_contamination_guard(
    docs: DataFrame, test_docs: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """Beyond-reference: streaming decontamination — the streaming twin of
    :func:`..operators.llmprep.contamination`. Incoming documents are
    shingled as a pure projection (the same slice-fold build as batch
    D2/D3 — streaming-legal, no aggregation), then STREAM-STATIC inner
    joined against the protected eval set's distinct shingle relation;
    any hit marks the arriving document contaminated. Emits one row per
    flagged document (first hit only — dropDuplicates state keyed on
    doc_id, bounded by the watermark horizon).

    Scale shape: the static side is the eval corpus's shingle set —
    small by definition (eval sets are thousands of docs, not billions)
    — broadcast once and probed per micro-batch; the stream side never
    shuffles (projection → broadcast-hash probe → dedup state on
    doc_id). This is the ingest-time guard that keeps eval text from
    entering the training corpus at all, instead of detecting it in the
    next full batch scan.
    """
    from ..operators.dedup import SHINGLE_K, _TOKENS_SPARK

    shingle_arr = (
        f"array_distinct(CASE WHEN size(toks) >= {SHINGLE_K} "
        f"THEN transform(sequence(1, size(toks) - {SHINGLE_K} + 1), "
        f"i -> concat_ws(' ', slice(toks, i, {SHINGLE_K}))) "
        "ELSE CAST(array() AS ARRAY<STRING>) END)"
    )
    stream_sh = docs.selectExpr(
        "doc_id", f"{_TOKENS_SPARK} AS toks"
    ).selectExpr("doc_id", f"explode({shingle_arr}) AS shingle")
    test_sh = F.broadcast(
        test_docs.selectExpr(f"{_TOKENS_SPARK} AS toks")
        .selectExpr(f"explode({shingle_arr}) AS shingle")
        .distinct()
    )
    return (
        stream_sh.join(test_sh, "shingle")
        .withColumn("ingest_ts", F.current_timestamp())
        .withWatermark("ingest_ts", watermark)
        .dropDuplicates(["doc_id"])
        .select("doc_id")
    )


def stream_quality_gate(docs: DataFrame) -> DataFrame:
    """Beyond-reference: streaming Gopher quality gate — the streaming
    twin of :func:`..operators.textprep.gopher_rules`. The rule report
    (word-count band, mean word length, symbol ratio, line rules, keep
    flag) is a pure projection, so it is streaming-legal as-is; only the
    batch operator's presentation ORDER BY is dropped. This is the
    ingest-time filter that keeps junk documents from ever landing in
    the corpus, instead of scrubbing them in the next batch sweep.

    Scale shape: identical to batch — zero shuffles, zero state, zero
    Python; every micro-batch is map-only work.
    """
    from ..functions.views import scoped_temp_view
    from ..operators.textprep import gopher_spark_sql

    with scoped_temp_view(docs, "_stream_text_docs") as view:
        return docs.sparkSession.sql(gopher_spark_sql(view, ordered=False))


def stream_encoding_monitor(docs: DataFrame) -> DataFrame:
    """Beyond-reference: streaming twin of
    :func:`..operators.textprep.encoding_artifacts` — per-document
    encoding-artifact flags (U+FFFD, C0 controls, cp1252 mojibake,
    zero-width chars, multibyte excess) at ingest time, sharing the
    batch op's probe expressions verbatim. A sink aggregating these by
    (batch, source) is the live drift alarm that catches a newly broken
    decoder in the pipeline's next micro-batch instead of its next
    monthly audit sweep.

    Scale shape: pure projection (stateless, no watermark needed);
    every micro-batch is map-only work, exactly like the batch `flags`
    stage before its fold.
    """
    from ..functions.views import scoped_temp_view
    from ..operators.textprep import encoding_flags_spark_sql

    with scoped_temp_view(docs, "_stream_text_docs") as view:
        return docs.sparkSession.sql(encoding_flags_spark_sql(view))


def stream_anisotropy_monitor(
    emb_stream: DataFrame,
    path: str,
    checkpoint: str,
):
    """Beyond-reference: streaming twin of
    :func:`..operators.llmprep.embedding_anisotropy` — every arriving
    micro-batch of embeddings appends its EXACT partial sufficient
    statistics (the sum-vector identity is decomposable: per-dim sums,
    unit diagonal, counts — all plain SUMs), and
    :func:`..operators.llmprep.read_anisotropy_stats` merges them into
    a corpus anisotropy row BIT-IDENTICAL to the batch op. The
    embedding-health dashboard stays current per ingest batch with
    per-batch cost O(batch x dim), never a corpus rescan.

    Semantics: at-least-once under retries — partials are pure
    functions of the batch, so a re-run appends byte-identical
    (batch_id, ...) rows and the reader's DISTINCT repairs exactly.
    Returns the started StreamingQuery (availableNow-compatible)."""
    from pyspark.sql import functions as F

    from ..operators.llmprep import anisotropy_partials

    def _stats_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            anisotropy_partials(batch_df)
            .withColumn("batch_id", F.lit(batch_id).cast("long"))
            .write.mode("append")
            .parquet(path)
        )

    return (
        emb_stream.writeStream.foreachBatch(_stats_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_bpe_encode(
    docs_stream: DataFrame,
    merges: list[str],
    path: str,
    checkpoint: str,
):
    """Beyond-reference: tokenize-at-ingest — every arriving document's
    subword token count under a FROZEN tokenizer (a merge list trained
    once on a reference corpus, :func:`..operators.llmprep.bpe_train`),
    appended per micro-batch as ``(doc_id, n_words, n_bpe_tokens,
    expansion)``. The same frozen-artifact split as the ANN index's
    codebook: training is a batch job, application is pure per-batch
    map+aggregate work — and the token counts a budget/packing decision
    needs exist the moment a document lands, not at the next corpus
    sweep. A document is wholly contained in its micro-batch, so
    per-doc aggregation needs no cross-batch state.

    Semantics: at-least-once under retries (re-run batches append
    byte-identical rows — counts are pure functions of the document);
    de-duplicate on read or compact with the shared DISTINCT rewrite.
    Returns the started StreamingQuery (availableNow-compatible)."""
    from ..operators.llmprep import bpe_encode_frozen

    def _encode_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            bpe_encode_frozen(batch_df, merges)
            .write.mode("append")
            .parquet(path)
        )

    return (
        docs_stream.writeStream.foreachBatch(_encode_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
