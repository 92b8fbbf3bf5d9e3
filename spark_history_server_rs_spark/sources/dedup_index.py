"""Durable dedup index — persist the derived dedup relations to parquet
and serve pair-finding FROM the index, without the source text.

The in-session materialized-view cache (``operators/dedup.py``) gives
index-once/serve-many within one SparkSession; this module makes the
split durable: a nightly INDEX job writes shingles / MinHash band keys /
passage window-hashes once, and any number of downstream QUERY jobs (in
other sessions, on other clusters) find duplicate pairs by reading only
the index — document text is never re-tokenized, never even read.

At 100 TB this is the production layout: the index is a small multiple
of the doc-id space (hashes + ids, no text), band keys are written
partitioned by ``band_idx`` (selective single-band scans prune to one
partition; the serving twins instead materialize the full distinct
relation once per index state and serve every call from the cache —
see ``_materialized_index_relation``), and every downstream join is
keyed on uniform md5-derived values (unskewable by construction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.checkpoints import durable_checkpoint

from ..operators.dedup import (
    HOT_SHINGLE_CAP,
    JACCARD_THRESHOLD,
    _PASSAGE_WINS_SPARK,
    _BANDKV_SPARK,
    _minhash_bandkv_sql,
    _SHINGLES_SPARK,
)


def write_dedup_index(docs: DataFrame, path: str) -> None:
    """INDEX phase: compute and persist the three derived relations.

    Layout::

        path/shingles/     (doc_id, shingle)             zstd parquet
        path/band_keys/    (doc_id, band_key) PARTITIONED BY band_idx
        path/passages/     (doc_id, pos, phash)
        path/doc_ids/      (doc_id)   the indexed corpus membership
        path/meta/         (n_docs)   pre-counted distinct LIVE membership
        path/deleted_ids/  (doc_id)   tombstones (see
                                      :func:`delete_from_dedup_index`)

    One pass over the text builds shingles; band keys aggregate from the
    shingles plan (Catalyst reuses the projection); passage windows are
    an independent projection. ``doc_ids`` records WHICH corpus the
    index describes — a doc with no qualifying shingles still counts
    toward denominators (removed_frac), so the membership relation
    cannot be recovered from ``shingles`` alone. ``meta`` caches the
    COUNT(DISTINCT doc_id) the sweep's denominator needs, so a warm
    sweep reads ONE row instead of re-counting membership per call;
    it is written here and at compact time, and INVALIDATED (deleted)
    by the stream updater before membership grows AND by this builder
    before it overwrites membership — a stale count can never serve,
    even across a crash mid-rebuild. All writes are append-free
    overwrites — re-running the index job is idempotent.
    """
    from ..functions.views import scoped_temp_view
    from .index_manifest import path_exists

    spark = docs.sparkSession
    with scoped_temp_view(docs, "_dedup_docs") as dv:
        shingles = spark.sql(_SHINGLES_SPARK.format(src=dv))
        passages = spark.sql(_PASSAGE_WINS_SPARK.format(src=dv))
    # the stale-count-can-never-serve invariant must hold across THIS
    # function's own crash windows too (the re-index-after-drift repair
    # runs over an EXISTING index): delete the previous build's meta
    # before overwriting membership, so a crash between the doc_ids
    # rewrite and the meta refresh falls back to counting doc_ids
    # instead of pairing the old count with the new membership
    if path_exists(spark, f"{path}/meta"):
        _delete_path(spark, f"{path}/meta")
    docs.select("doc_id").write.mode("overwrite").parquet(f"{path}/doc_ids")
    shingles.write.mode("overwrite").parquet(f"{path}/shingles")
    bandkv = spark.sql(
        "WITH shingles AS (SELECT doc_id, shingle FROM "
        f"parquet.`{path}/shingles`),\n"
        + _minhash_bandkv_sql(_BANDKV_SPARK).lstrip()
        + "\nSELECT doc_id, band_idx, band_key FROM bandkv"
    )
    bandkv.write.mode("overwrite").partitionBy("band_idx").parquet(
        f"{path}/band_keys"
    )
    passages.write.mode("overwrite").parquet(f"{path}/passages")
    # a rebuild is ground truth: tombstones from the PREVIOUS build
    # retire (to an empty, still-attestable set) — a doc deleted then
    # re-indexed must serve. Retirement runs LAST (ADVICE r11): every
    # crash window before this line serves with suppression still
    # applied, so a previously-deleted doc can never silently
    # resurrect mid-rebuild; the opposite (and safer) residual window
    # — freshly re-indexed docs briefly suppressed — clears when the
    # idempotent builder is re-run. The stale-count-never-serves
    # invariant holds throughout (meta died first, rewritten below
    # only after suppression state is final).
    if _tombstoned_doc_ids(spark, path) is not None:
        compact_relation_swap(
            spark,
            spark.read.parquet(f"{path}/deleted_ids")
            .select("doc_id").limit(0),
            f"{path}/deleted_ids", None, sort_cols=["doc_id"],
        )
    _write_meta_n_docs(spark, path)


def _write_meta_n_docs(spark: SparkSession, path: str) -> None:
    """Persist the one-row denominator cache from the CURRENT LIVE
    membership — ``doc_ids`` minus tombstones (write/compact/delete
    time only; the stream updater deletes this instead of maintaining
    it)."""
    n = _live_doc_ids(spark, path).count()
    spark.createDataFrame([(n,)], "n_docs bigint").write.mode(
        "overwrite"
    ).parquet(f"{path}/meta")


def _tombstoned_doc_ids(spark: SparkSession, path: str) -> DataFrame | None:
    """The S13 tombstone set (``deleted_ids/``), or None when no
    deletion has ever touched this index. An EMPTY relation (what
    compaction retires tombstones to) reads as an empty set — the
    anti-joins below are then identity, and the relation stays
    attestable by the manifest (deleting it outright would read as a
    wipe to the validator)."""
    from .index_manifest import path_exists

    if not path_exists(spark, f"{path}/deleted_ids"):
        return None
    return (
        spark.read.parquet(f"{path}/deleted_ids")
        .select("doc_id").distinct()
    )


def _suppress_deleted(
    spark: SparkSession, path: str, df: DataFrame
) -> DataFrame:
    """Anti-join a ``doc_id``-keyed relation against the tombstone set.
    Every read of a persisted S13 relation goes through this (directly
    or via :func:`_materialized_index_relation`), which is what makes
    tombstone deletion EXACT for the dedup family: shingles, band
    keys, and passages are per-doc independent, so suppressing a doc's
    rows is indistinguishable from never having indexed it — unlike
    the kNN graph, whose cross-entity edges need eager repair (see
    ``knn_graph.delete_from_knn_graph``)."""
    tomb = _tombstoned_doc_ids(spark, path)
    if tomb is None:
        return df
    return df.join(tomb, "doc_id", "left_anti")


def _live_doc_ids(spark: SparkSession, path: str) -> DataFrame:
    """DISTINCT live membership: ``doc_ids`` minus tombstones."""
    return _suppress_deleted(
        spark, path,
        spark.read.parquet(f"{path}/doc_ids").select("doc_id").distinct(),
    )


def delete_from_dedup_index(
    spark: SparkSession, path: str, ids: DataFrame
) -> int:
    """DELETE phase — the S13 index-lifecycle piece (GDPR erasure,
    retention, retracted documents; reference analog: the metadata
    store pruning vanished files, ``metadata_store.rs:91-134``).
    ``ids`` is a ``(doc_id)`` frame; each id lands in the
    ``deleted_ids/`` tombstone set and every serving read anti-joins
    it (see :func:`_suppress_deleted`) — a delete is O(|ids|), no
    relation rewrite. :func:`compact_dedup_index` is where dead rows
    physically leave the relations (tombstones retire to an EMPTY set
    with them). A deleted doc re-arriving through
    :func:`stream_update_dedup_index` REVIVES (the updater retires its
    tombstone before appending — latest wins), with the same
    changed-text caveat as any re-submission: identical content is
    absorbed by set-union, changed content requires a re-index.

    The pre-counted sweep denominator follows the crash-safe ordering
    every membership change uses: ``meta/`` is invalidated BEFORE the
    tombstones land and rewritten (live count) after — a crash between
    the two leaves no count (readers fall back to counting live
    membership), never a stale one. Double-delete is idempotent AND
    append-free: incoming ids anti-join the existing tombstones, so a
    retried delete appends nothing and the relation stays bounded by
    live-membership-ever-deleted (ADVICE r11). Returns the number of
    ids NEWLY tombstoned (0 on a pure retry).

    Requires a membership-bearing index (``doc_ids/``): a legacy
    layout has no denominator to keep honest, and its serving calls
    take the caller's docs frame as truth — delete from the CORPUS and
    re-index instead."""
    from .index_manifest import path_exists

    if not path_exists(spark, f"{path}/doc_ids"):
        raise ValueError(
            f"dedup index at {path} has no doc_ids/ relation (legacy "
            "layout) — tombstone deletion needs persisted membership; "
            "re-run write_dedup_index first"
        )
    if path_exists(spark, f"{path}/meta"):
        _delete_path(spark, f"{path}/meta")
    tomb = ids.where("doc_id IS NOT NULL").select("doc_id").distinct()
    existing = _tombstoned_doc_ids(spark, path)
    if existing is not None:
        # de-duplicate against tombstones already on disk (ADVICE r11):
        # serving is DISTINCT-correct either way, but retried deletes
        # would otherwise grow the relation and overstate the status
        # endpoint's raw count until compaction. One bounded join —
        # the same shape as the stream updater's revive probe.
        tomb = tomb.join(existing, "doc_id", "left_anti")
    # localCheckpoint, not persist: retention runs the four family
    # deletes overlapped, and several families derive SEMANTICALLY
    # EQUAL tombstone plans from the same loser frame — persist would
    # share one CacheManager entry whose concurrent unpersist cascades
    # can corrupt unrelated cached relations (see compact_relation_swap)
    tomb = durable_checkpoint(tomb)
    try:
        n_ids = tomb.count()
        if n_ids:
            tomb.write.mode("append").parquet(f"{path}/deleted_ids")
    finally:
        release_local_checkpoint(tomb)
    _write_meta_n_docs(spark, path)
    return n_ids


def _delete_path(spark: SparkSession, target: str) -> None:
    """FileSystem-level recursive delete (file://, hdfs://, s3a) —
    the meta-invalidation primitive."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(target)
    fs = p.getFileSystem(conf)
    fs.delete(p, True)


def _relation_fingerprint(spark: SparkSession, target: str):
    """Driver-side recursive file-listing fingerprint (path, size,
    mtime) of a persisted relation — the STALENESS key for per-path
    materialized caches. A parquet scan's semanticHash never changes
    when the files under the unchanged path do (stream appends,
    compaction swaps), so plan-keyed caching would silently serve a
    stale index; the listing changes with every append/compact
    (recursive, so files landing inside partition subdirectories —
    band_keys appends — change it too). The walk is
    :func:`index_manifest.list_tree` (one ``listStatus`` per directory;
    its docstring records the local and object-store costs)."""
    from .index_manifest import list_tree, path_exists

    if not path_exists(spark, target):
        return ()
    return tuple(sorted(list_tree(spark, target)))


#: driver-side cache for the S14/S16 drift-refusal counts:
#: (path, rel) -> (file-listing fingerprint, distinct key count). The
#: refusal runs on EVERY serving call, so a warm call must not re-scan
#: the index (VERDICT r10 "What's wrong #1") — and the fingerprint key
#: means a streamed append or compaction swap invalidates the entry
#: where a plan hash would not (same staleness reasoning as
#: ``_relation_fingerprint``).
_COUNT_CACHE: dict = {}
_COUNT_CACHE_LOCK = None  # created lazily to keep import cheap


def _count_cache_lock():
    global _COUNT_CACHE_LOCK
    if _COUNT_CACHE_LOCK is None:
        import threading

        _COUNT_CACHE_LOCK = threading.Lock()
    return _COUNT_CACHE_LOCK


#: driver-side cache for one-row ``meta/`` relations (build parameters,
#: pre-counted denominators): (path) -> (file-listing fingerprint, rows).
#: Serving-path refusals (τ/k drift, encoding checks) read meta on EVERY
#: call; a warm call on an unchanged index must not pay a Spark job for
#: a one-row parquet read (r14, guide §1 — measured ~0.15 s/call at the
#: local job floor). The fingerprint key means a meta rewrite or
#: invalidation is seen immediately — the same staleness contract as
#: ``_COUNT_CACHE``.
_META_CACHE: dict = {}


def read_meta_rows_cached(
    spark: SparkSession, path: str
) -> tuple | None:
    """``{path}/meta``'s rows as a tuple of dicts, served from the
    fingerprint-keyed driver cache when the relation is unchanged.
    Returns ``None`` when no meta relation exists (absent or empty
    directory), ``()`` for an existing-but-row-less one — callers keep
    their own defaulting semantics."""
    fp = _relation_fingerprint(spark, f"{path}/meta")
    with _count_cache_lock():
        hit = _META_CACHE.get(path)
        if hit is not None and hit[0] == fp:
            return hit[1]
    if not fp:
        rows = None
    else:
        try:
            rows = tuple(
                r.asDict()
                for r in spark.read.parquet(f"{path}/meta").collect()
            )
        except Exception:
            # unreadable meta (half-written, wrong format) — the same
            # "treat as absent" contract every caller already had
            rows = None
    with _count_cache_lock():
        _META_CACHE[path] = (fp, rows)
    return rows


def write_count_row(
    spark: SparkSession, path: str, col: str, n: int
) -> None:
    """Persist the one-row pre-counted membership cache for a durable
    index (``counts/`` sibling relation — the S13 ``meta/n_docs``
    pattern generalized; S14/S16 keep their build parameters in
    ``meta/``, so the count lives in its OWN relation and the stream
    updaters can invalidate it without touching the parameters the
    encode path reads).

    The row goes to the JVM as a pandas frame over Arrow: a Python list
    would run a Python-worker job, and the first such job of a fresh
    process pays ~1.5 s of worker start-up (measured as the difference
    in the first rollup build of a perfbench run on 4 vCPU)."""
    import pandas as _pd

    spark.createDataFrame(
        _pd.DataFrame({col: [int(n)]}), f"{col} bigint"
    ).write.mode("overwrite").parquet(f"{path}/counts")


def invalidate_count_row(spark: SparkSession, path: str) -> None:
    """Delete the pre-counted membership BEFORE an append grows it —
    the stream updaters' crash-safe ordering: a crash between the
    delete and the append leaves no count (readers fall back to
    counting the relation), never a stale one."""
    from .index_manifest import path_exists

    if path_exists(spark, f"{path}/counts"):
        _delete_path(spark, f"{path}/counts")


def _read_count_row(spark: SparkSession, path: str, col: str) -> int | None:
    from .index_manifest import path_exists

    if not path_exists(spark, f"{path}/counts"):
        return None
    rows = spark.read.parquet(f"{path}/counts").collect()
    if not rows or col not in rows[0].asDict():
        return None
    return int(rows[0][col])


def indexed_distinct_count(
    spark: SparkSession,
    path: str,
    rel: str,
    key_col: str,
    count_col: str,
    extra_rels: tuple[str, ...] = (),
    fallback=None,
) -> int:
    """The persisted relation's COUNT(DISTINCT non-NULL key) — the
    index side of the S14/S16 drift refusals, served WITHOUT a per-call
    index scan: a warm call hits the fingerprint-keyed driver cache
    (unchanged index = zero Spark jobs), a cold call reads the one-row
    pre-counted ``counts/`` relation when present (written at
    write/compact time, deleted by the stream updaters before
    membership grows), and only a legacy or mid-stream index falls back
    to the distinct-count scan — whose result is then cached under the
    current fingerprint.

    ``extra_rels`` joins further relation subdirectories into the
    fingerprint when membership depends on more than ``rel`` (the ANN
    index's tombstones: a deletion changes the live set without
    touching ``codes/``). ``fallback`` overrides the plain
    distinct-count scan for the same reason (the live count must
    exclude tombstoned keys)."""
    fp = _relation_fingerprint(spark, f"{path}/{rel}")
    for extra in extra_rels:
        fp = fp + _relation_fingerprint(spark, f"{path}/{extra}")
    with _count_cache_lock():
        hit = _COUNT_CACHE.get((path, rel))
        if hit is not None and hit[0] == fp:
            return hit[1]
    n = _read_count_row(spark, path, count_col)
    if n is None:
        if fallback is not None:
            n = fallback()
        else:
            n = (
                spark.read.parquet(f"{path}/{rel}")
                .where(f"{key_col} IS NOT NULL")
                .select(key_col)
                .distinct()
                .count()
            )
    with _count_cache_lock():
        _COUNT_CACHE[(path, rel)] = (fp, n)
    return int(n)


def _materialized_index_relation(
    spark: SparkSession, path: str, rel: str, cols: tuple[str, ...]
) -> DataFrame:
    """A persisted index relation's DISTINCT key set, persisted through
    the dedup module cache (thread-safe, unpersist-on-key-change).
    Spark inlines SQL CTEs — and refuses cache substitution anywhere in
    a WithCTE plan — so the serving twins' repeated references would
    re-run the parquet scan + DISTINCT per reference (measured: the
    sweep made 8 parquet scans per call); the composed serving twins
    read this one cached relation instead. The cache key is the FILE
    LISTING fingerprint, so a streamed append or compaction swap
    invalidates it where a plan hash would not."""
    from ..operators.dedup import _materialized_df

    # the tombstone set joins the staleness key: a deletion changes
    # what this relation SERVES without touching its files (the S14
    # extra_rels reasoning), and the suppression anti-join runs once
    # per index state inside the cached build, not per call
    key = hash((
        path,
        rel,
        _relation_fingerprint(spark, f"{path}/{rel}"),
        _relation_fingerprint(spark, f"{path}/deleted_ids"),
    ))
    return _materialized_df(
        spark,
        f"_idx_{rel}",
        key,
        lambda: _suppress_deleted(
            spark, path,
            spark.read.parquet(f"{path}/{rel}").select(*cols),
        ).distinct(),
    )


def _materialized_index_shingles(spark: SparkSession, path: str) -> DataFrame:
    return _materialized_index_relation(
        spark, path, "shingles", ("doc_id", "shingle")
    )


def _materialized_index_bandkv(spark: SparkSession, path: str) -> DataFrame:
    return _materialized_index_relation(
        spark, path, "band_keys", ("doc_id", "band_idx", "band_key")
    )


#: broadcast a materialized dimension relation into the serving-twin
#: joins when its ACTUAL row count says it fits comfortably (shingle
#: rows ≈ 50 B → the cap is ~400 MB of broadcast). The LIVE operators
#: get the same broadcast plans from Catalyst's optimistic
#: source-plan estimates; the serving twins run on accurate cache
#: stats, which would otherwise flip every verify join to
#: SortMergeJoin at sizes where a broadcast is still the right call
#: on either a 32-core box or a real cluster (measured at the 10x
#: docs tier: sweep 24 s all-SMJ vs 9 s broadcast). Past the cap the
#: twins stay on the shuffle path — the only sound choice when the
#: dimension side is corpus-sized.
DIM_BROADCAST_MAX_ROWS = 8_000_000


def _dim_fits(cached: DataFrame) -> bool:
    """True when a MATERIALIZED (persisted) relation is small enough to
    broadcast — count on a cached frame is metadata-cheap."""
    return cached.count() <= DIM_BROADCAST_MAX_ROWS


def _scored_pairs_composed(sh: DataFrame, candidates: DataFrame) -> DataFrame:
    """The shared exact-Jaccard verification, DataFrame-composed:
    ``(doc_a, doc_b, common_shingles, jaccard)`` over FULL shingle sets
    — the same expressions ``_PAIR_VERIFY_POST`` states in SQL (the
    FLOOR snap is the oracle contract, pinned by the identity tests).
    ``sh`` must be the materialized shingle relation; it (and the
    per-doc sizes derived from it) broadcast into the verify joins
    when the real size fits (see ``DIM_BROADCAST_MAX_ROWS``)."""
    from pyspark.sql import functions as F

    dim = F.broadcast if _dim_fits(sh) else (lambda df: df)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    common = (
        candidates
        .join(dim(sh.selectExpr("doc_id AS doc_a", "shingle")), "doc_a")
        .join(
            dim(sh.selectExpr("doc_id AS doc_b", "shingle")),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("common_shingles"))
    )
    return (
        common
        .join(dim(sizes.selectExpr("doc_id AS doc_a", "n AS na")), "doc_a")
        .join(dim(sizes.selectExpr("doc_id AS doc_b", "n AS nb")), "doc_b")
        .selectExpr(
            "doc_a", "doc_b", "common_shingles",
            "FLOOR((CAST(common_shingles AS DOUBLE)"
            " / (na + nb - common_shingles)) * 10000.0 + 0.5)"
            " / CAST(10000.0 AS DOUBLE) AS jaccard",
        )
    )


def _meta_n_docs(spark: SparkSession, path: str) -> int | None:
    """The pre-counted distinct membership, or None when no (valid)
    meta relation exists. Fingerprint-cached: a warm serving call on an
    unchanged index reads no parquet (see ``read_meta_rows_cached``)."""
    rows = read_meta_rows_cached(spark, path)
    if not rows or "n_docs" not in rows[0]:
        return None
    return int(rows[0]["n_docs"])


def read_dedup_index(spark: SparkSession, path: str) -> dict[str, DataFrame]:
    """Open the three persisted relations — RAW (pre-suppression)
    access for inspection/maintenance; the serving twins read through
    :func:`_materialized_index_relation`, which applies the tombstone
    anti-join (see :func:`delete_from_dedup_index`)."""
    return {
        "shingles": spark.read.parquet(f"{path}/shingles"),
        "band_keys": spark.read.parquet(f"{path}/band_keys"),
        "passages": spark.read.parquet(f"{path}/passages"),
    }


def minhash_lsh_pairs_from_index(spark: SparkSession, path: str) -> DataFrame:
    """QUERY phase: D3's near-dup pairs computed ENTIRELY from the
    persisted index — band-collision candidates from ``band_keys``,
    exact-Jaccard verification from ``shingles``. Result-identical to
    the live operator (pinned by test), but no document text is touched
    in this session.

    DISTINCT on both relations: a streaming index update retried after
    a failure can append a batch's rows twice (at-least-once), and the
    Jaccard verification counts shingles per doc — duplicate rows would
    inflate set sizes and shift every similarity. DataFrame-composed
    (not a WITH query) so both distinct relations materialize ONCE per
    index state and every reference reads the cache — the CTE spelling
    re-scanned the index parquet per reference (see
    :func:`_materialized_index_relation`)."""
    from pyspark.sql import functions as F

    sh = _materialized_index_shingles(spark, path)
    bk = _materialized_index_bandkv(spark, path)
    dim = F.broadcast if _dim_fits(bk) else (lambda df: df)
    candidates = (
        bk.selectExpr("doc_id AS doc_a", "band_idx", "band_key")
        .join(
            dim(bk.selectExpr("doc_id AS doc_b", "band_idx", "band_key")),
            ["band_idx", "band_key"],
        )
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    return (
        _scored_pairs_composed(sh, candidates)
        .where(f"jaccard >= {JACCARD_THRESHOLD}")
        .orderBy("doc_a", "doc_b")
    )


def dedup_threshold_sweep_from_index(
    spark: SparkSession, path: str, docs: DataFrame | None = None,
    cap: int = HOT_SHINGLE_CAP, verify_membership: bool = False,
) -> DataFrame:
    """D2d (the dedup-aggressiveness tuning curve) served from the S13
    index: candidate generation AND exact-Jaccard verification read the
    persisted ``shingles/`` relation (DISTINCT — at-least-once appends
    absorbed), so a warm sweep never re-tokenizes a document. The
    removed_frac denominator is the index's own membership: the
    pre-counted ``meta/n_docs`` row when present (one-row read — the
    warm serving path never rescans ``doc_ids``; write/compact maintain
    the count, the stream updater deletes it before membership grows,
    so a stale count can never serve), else COUNT(DISTINCT) over
    ``doc_ids/`` in-plan. When a ``docs`` frame IS passed, it is a
    drift ASSERTION: by default a COUNT-BASED check (its row count must
    match the indexed membership count — cheap, but an equal-size
    different-membership corpus passes; results remain index-consistent
    either way since the denominator never comes from ``docs``), or an
    exact set-membership check with ``verify_membership=True`` (one
    full-outer anti-probe over the distinct id sets). On drift this
    raises instead of reporting fractions over the wrong corpus (the
    repair is re-indexing or probing the delta —
    ``minhash_lsh_probe_index``). A pre-``doc_ids`` legacy index
    requires ``docs`` and keeps the old caller-supplied denominator.
    Result-identical to the live ``dedup_threshold_sweep`` over the
    indexed corpus (pinned by test).

    Plan shape: DataFrame-composed, NOT a WITH query — Spark's cache
    manager refuses to substitute InMemoryRelations anywhere in a plan
    containing a WithCTE node (the engine finding baked into the
    materialized kNN cache), so the CTE spelling re-ran the parquet
    scan + DISTINCT at each of its ~6 ``shingles`` references; the
    composed form reads the persisted relation once per reference from
    memory (measured 2.9 s → ~1.8 s warm at sf0.1)."""
    from pyspark.sql import functions as F

    from ..operators.dedup import SWEEP_THRESHOLDS
    from .index_manifest import CorpusDriftError, path_exists

    # only the shingle relation serves the sweep — opening band_keys/
    # passages here would add two parquet reader setups per call — and
    # it is materialized once per index state (see
    # _materialized_index_shingles)
    sh = _materialized_index_shingles(spark, path)
    has_membership = path_exists(spark, f"{path}/doc_ids")
    if not has_membership and docs is None:
        raise ValueError(
            f"dedup index at {path} has no doc_ids/ relation (legacy "
            "layout) — pass the indexed docs frame, or re-run "
            "write_dedup_index to persist corpus membership"
        )
    if has_membership:
        n_docs = _meta_n_docs(spark, path)
        if n_docs is None:
            # no pre-counted meta (stream-appended index awaiting its
            # compaction slot): count the LIVE membership once,
            # driver-side (doc_ids minus tombstones)
            n_docs = _live_doc_ids(spark, path).count()
        if docs is not None:
            if verify_membership:
                indexed = _live_doc_ids(spark, path)
                drift = (
                    docs.select("doc_id").distinct()
                    .withColumn("c", F.lit(1))
                    .join(
                        indexed.withColumn("i", F.lit(1)),
                        "doc_id", "full_outer",
                    )
                    .where("c IS NULL OR i IS NULL")
                    .count()
                )
                if drift:
                    raise CorpusDriftError(
                        f"docs frame does not match the indexed corpus "
                        f"at {path} ({drift} doc_ids differ) — re-index "
                        "or probe the delta instead of sweeping a "
                        "drifted corpus"
                    )
            else:
                n_caller = docs.select("doc_id").count()
                if n_caller != n_docs:
                    raise CorpusDriftError(
                        f"docs frame ({n_caller} docs) does not match "
                        f"the indexed corpus ({n_docs} docs) at "
                        f"{path} — re-index or probe the delta instead "
                        "of sweeping a drifted corpus"
                    )
    else:
        n_docs = docs.select("doc_id").count()

    # the same relations the shared SQL fragments state, composed as
    # DataFrames (expressions copied verbatim — the FLOOR snaps and
    # tie rules are the oracle contract, pinned by test); the derived
    # dimension sides broadcast under the same size check as the
    # verify joins (hot and pruned are subsets of sh)
    dim = F.broadcast if _dim_fits(sh) else (lambda df: df)
    hot = (
        sh.groupBy("shingle").agg(F.count("*").alias("c"))
        .where(F.col("c") > cap).select("shingle")
    )
    pruned = sh.join(dim(hot), "shingle", "left_anti")
    cand_a = pruned.selectExpr("doc_id AS doc_a", "shingle")
    cand_b = pruned.selectExpr("doc_id AS doc_b", "shingle")
    candidates = (
        cand_a.join(dim(cand_b), "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    scored = _scored_pairs_composed(sh, candidates).select(
        "doc_a", "doc_b", "jaccard"
    )
    thresholds = spark.createDataFrame(
        [(float(t),) for t in SWEEP_THRESHOLDS], "thr double"
    )
    hits = scored.join(
        F.broadcast(thresholds), F.col("jaccard") >= F.col("thr")
    )
    pair_stats = hits.groupBy("thr").agg(
        F.expr("CAST(COUNT(*) AS BIGINT)").alias("n_pairs"),
        F.expr("CAST(COUNT(DISTINCT doc_b) AS BIGINT)").alias(
            "n_docs_removed"
        ),
    )
    return (
        thresholds.join(pair_stats, "thr", "left")
        .selectExpr(
            "thr AS threshold",
            f"CAST({int(n_docs)} AS BIGINT) AS n_docs",
            "COALESCE(n_pairs, 0) AS n_pairs",
            "COALESCE(n_docs_removed, 0) AS n_docs_removed",
            f"""CASE WHEN {int(n_docs)} = 0 THEN CAST(0.0 AS DOUBLE)
            ELSE FLOOR((CAST(COALESCE(n_docs_removed, 0) AS DOUBLE)
                        / CAST({int(n_docs)} AS DOUBLE)) * 10000.0 + 0.5)
                 / CAST(10000.0 AS DOUBLE) END AS removed_frac""",
        )
        .orderBy("threshold")
    )


def minhash_lsh_probe_index(
    spark: SparkSession, path: str, new_docs: DataFrame
) -> DataFrame:
    """Incremental QUERY phase — the production shape for S13: near-dup
    pairs between a batch of NEW documents and the indexed corpus (plus
    new-new pairs), computed without re-indexing and without reading any
    indexed document's text.

    The new batch is tokenized once (its shingles/band keys derive
    in-session and persist through the module cache); candidates are
    its band keys joined against the persisted ``band_keys`` relation
    plus the batch's internal collisions; exact-Jaccard verification
    reads the persisted shingle sets UNION the batch's. Old-old pairs
    are never even candidates, so probe cost scales with the BATCH,
    not the corpus. Result = the full-rebuild pair set restricted to
    pairs touching a new doc (pinned by test). A doc re-submitted with
    identical content is harmless (set-UNION semantics); DISTINCT on
    the index side keeps at-least-once appends harmless as everywhere.

    DataFrame-composed like the other serving twins: the WITH spelling
    disabled cache substitution plan-wide, so the probe re-tokenized
    the batch AND re-scanned the index parquet per CTE reference
    (measured 13 parquet scans per probe)."""
    from pyspark.sql import functions as F

    from ..functions.views import scoped_temp_view
    from ..operators.dedup import _materialized_df

    # the batch's derived relations go through the module cache (same
    # persist lifetime/invalidation as every dedup derivation)
    key = hash((new_docs.semanticHash(), path))

    def build_sh():
        with scoped_temp_view(new_docs, "_probe_docs") as nv:
            return spark.sql(_SHINGLES_SPARK.format(src=nv))

    new_sh = _materialized_df(spark, "_probe_new_shingles", key, build_sh)

    def build_bk():
        with scoped_temp_view(new_sh, "_probe_sh_src") as sv:
            return spark.sql(
                f"WITH shingles AS (SELECT doc_id, shingle FROM {sv}),\n"
                + _minhash_bandkv_sql(_BANDKV_SPARK).lstrip()
                + "\nSELECT doc_id, band_idx, band_key FROM bandkv"
            )

    new_bk = _materialized_df(spark, "_probe_new_bandkv", key, build_bk)
    idx_sh = _materialized_index_shingles(spark, path)
    idx_bk = _materialized_index_bandkv(spark, path)
    # the verification relation (indexed ∪ batch shingle sets) is
    # referenced three times downstream — materialize it once per
    # (batch, index-state) so the union/distinct shuffle runs once
    sh_union = _materialized_df(
        spark,
        "_probe_union_shingles",
        # tombstones join the key: a deletion changes idx_sh's content
        # without touching shingles/ files
        hash((
            key,
            _relation_fingerprint(spark, f"{path}/shingles"),
            _relation_fingerprint(spark, f"{path}/deleted_ids"),
        )),
        lambda: idx_sh.unionByName(
            new_sh.select("doc_id", "shingle")
        ).distinct(),
    )
    # the BATCH side broadcasts into both candidate joins under the
    # same size check — the probe's whole point is that the arriving
    # batch is the bounded side
    bdim = F.broadcast if _dim_fits(new_bk) else (lambda df: df)
    cross = (
        idx_bk.selectExpr("doc_id AS i_id", "band_idx", "band_key")
        .join(
            bdim(new_bk.selectExpr("doc_id AS n_id", "band_idx", "band_key")),
            ["band_idx", "band_key"],
        )
        .where(F.col("n_id") != F.col("i_id"))
        .selectExpr(
            "LEAST(n_id, i_id) AS doc_a", "GREATEST(n_id, i_id) AS doc_b"
        )
    )
    newnew = (
        new_bk.selectExpr("doc_id AS doc_a", "band_idx", "band_key")
        .join(
            bdim(new_bk.selectExpr("doc_id AS doc_b", "band_idx", "band_key")),
            ["band_idx", "band_key"],
        )
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    candidates = cross.unionByName(newnew).distinct()
    return (
        _scored_pairs_composed(sh_union, candidates)
        .where(f"jaccard >= {JACCARD_THRESHOLD}")
        .orderBy("doc_a", "doc_b")
    )


#: (relation, key columns, partition column) for the three persisted
#: relations — the keys ARE the full schema, so DISTINCT over them is
#: the exactly-once repair for at-least-once append duplicates.
_INDEX_RELATIONS = (
    ("shingles", ("doc_id", "shingle"), None),
    ("band_keys", ("doc_id", "band_idx", "band_key"), "band_idx"),
    ("passages", ("doc_id", "pos", "phash"), None),
    ("doc_ids", ("doc_id",), None),
)


def refresh_dedup_index_manifest(spark: SparkSession, path: str) -> None:
    """Write/refresh the S13 integrity manifest (per-relation row count
    + order-independent content hash — see ``index_manifest``). Run
    after :func:`write_dedup_index` and after each maintenance slot;
    :func:`compact_dedup_index` refreshes it automatically when one
    exists."""
    from .index_manifest import DEDUP_INDEX_RELATIONS, refresh_index_manifest

    refresh_index_manifest(spark, path, DEDUP_INDEX_RELATIONS)


def validate_dedup_index(spark: SparkSession, path: str) -> DataFrame:
    """Diff the on-disk index relations against the manifest — 0 rows =
    intact. Detection only: the index is re-derivable, so the repair for
    a flagged relation is re-running :func:`write_dedup_index`."""
    from .index_manifest import DEDUP_INDEX_RELATIONS, validate_index

    return validate_index(spark, path, DEDUP_INDEX_RELATIONS)


def _manifest_exists(spark: SparkSession, path: str) -> bool:
    from .index_manifest import path_exists

    return path_exists(spark, f"{path}/manifest")


def compact_dedup_index(spark: SparkSession, path: str) -> list[dict]:
    """Periodic DISTINCT compaction of the durable dedup index.

    ``stream_update_dedup_index`` is at-least-once: a micro-batch
    retried after a failure appends its rows twice, and while the read
    path de-duplicates (``SELECT DISTINCT`` in
    :func:`minhash_lsh_pairs_from_index`), the scan cost ratchets up
    with every retried batch. This is the maintenance pass that resets
    it: each relation is rewritten as its DISTINCT key set —
    ``band_keys`` keeps its ``band_idx`` partitioning so band-probe
    partition pruning survives compaction — sorted within partitions so
    repeated compaction of an already-compact index rewrites identical
    content (idempotent, pinned by test).

    The rewrite goes to a ``__compacting`` sibling directory first, then
    swaps via FileSystem delete+rename (file:// and hdfs:// are atomic
    renames; on s3a the rename is a copy). Run it in the same
    closed-date maintenance slot as ``compact_sink_inplace``; the same
    durability note applies — a crash between delete and rename loses
    the relation, but the index is always re-derivable from the
    documents by re-running :func:`write_dedup_index`.

    Returns per-relation stats: (relation, rows_before, rows_after).
    """
    from concurrent.futures import ThreadPoolExecutor

    from .index_manifest import path_exists

    def _compact_rel(args) -> dict:
        rel, keys, part = args
        src = f"{path}/{rel}"
        if not path_exists(spark, src):
            # vanished relation (wiped path, bit rot): nothing to
            # compact — leave the stale manifest in place so the
            # maintenance slot's validator FLAGS the loss instead of
            # this read crashing the whole slot
            return {"relation": rel, "rows_before": None, "rows_after": None}
        raw = spark.read.parquet(src).select(*keys)
        rows_before = raw.count()
        # tombstoned docs physically leave every relation here — the
        # read-path suppression anti-join materialized (all four
        # relations are doc_id-keyed)
        rows_after = compact_relation_swap(
            spark,
            _suppress_deleted(spark, path, raw).distinct(),
            src, part, sort_cols=keys,
        )
        return {
            "relation": rel,
            "rows_before": rows_before,
            "rows_after": rows_after,
        }

    # the four relations are disjoint directories sharing only the
    # (read-only) tombstone set — rewrite them overlapped (r14, guide
    # §2.6; the sequential loop idled the cluster between four chains
    # of small count/write/swap jobs). Report order is preserved by
    # pool.map; the tombstones still retire strictly AFTER every
    # relation rewrote without them (below), so the crash ordering is
    # unchanged in kind — an arbitrary subset (not a prefix) of
    # relations rewritten, repaired by the same idempotent re-run.
    with ThreadPoolExecutor(max_workers=len(_INDEX_RELATIONS)) as pool:
        stats = list(pool.map(_compact_rel, _INDEX_RELATIONS))
    # retire the tombstones the rewrites just materialized: swap in an
    # EMPTY set rather than deleting the relation (stays attestable by
    # the manifest — a vanished relation reads as a wipe). Ordering is
    # crash-safe: tombstones retire only AFTER every relation rewrote
    # without them; a crash before this point leaves tombstones that
    # match nothing (suppression is identity), never a resurrected doc.
    tomb = _tombstoned_doc_ids(spark, path)
    if tomb is not None:
        n_tomb = tomb.count()
        if n_tomb:
            compact_relation_swap(
                spark,
                spark.read.parquet(f"{path}/deleted_ids")
                .select("doc_id").limit(0),
                f"{path}/deleted_ids", None, sort_cols=["doc_id"],
            )
        stats.append(
            {"relation": "deleted_ids", "rows_before": n_tomb,
             "rows_after": 0}
        )
    # restore the pre-counted sweep denominator the stream updater
    # invalidated: the compacted doc_ids relation IS its distinct set,
    # so its rows_after is COUNT(DISTINCT) — no extra job
    n_docs = next(
        s["rows_after"] for s in stats if s["relation"] == "doc_ids"
    )
    if n_docs is not None:
        spark.createDataFrame([(n_docs,)], "n_docs bigint").write.mode(
            "overwrite"
        ).parquet(f"{path}/meta")
    # a compaction that changed the relations must leave an EXISTING
    # manifest attesting the new state (same contract as the shard
    # sink's compactor); manifest-less legacy layouts stay manifest-less
    if _manifest_exists(spark, path):
        refresh_dedup_index_manifest(spark, path)
    return stats


def release_local_checkpoint(df: DataFrame) -> None:
    """Free a localCheckpoint'ed frame's blocks NOW (the
    ``llmprep._retire_anchor`` pattern, shared): ``Dataset.unpersist``
    is a no-op for checkpointed datasets — their blocks belong to the
    checkpointed RDD, not the CacheManager — so without the explicit
    RDD release, every maintenance swap would leave a dead
    relation-sized block set around until JVM GC + ContextCleaner reap
    it. Internal-API reach; failures fall back to the (lazy but
    correct) ContextCleaner path."""
    df.unpersist(blocking=True)  # the plain-persist case, for safety
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(True)
    except Exception:
        pass  # ContextCleaner fallback


def compact_relation_swap(
    spark: SparkSession,
    compacted: DataFrame,
    src: str,
    part_col: str | None,
    sort_cols,
    tmp: str | None = None,
) -> int:
    """The shared compaction commit: persist the compacted relation
    (so the count and the write run it once), write to a
    ``__compacting`` sibling sorted within partitions (repeat
    compaction of an already-compact relation rewrites identical
    content), then swap via FileSystem delete+rename. Returns the
    compacted row count. One copy of the non-atomic delete→rename
    window — see the durability note on :func:`compact_dedup_index`.

    ``tmp`` overrides the staging location for targets whose SIBLING
    must not be polluted: a partition directory inside a Hive-layout
    relation (``shards/shard=3``) cannot stage at
    ``shards/shard=3__compacting`` — a crash would leave a directory
    that breaks partition discovery for every subsequent reader.

    Materialization is a ``localCheckpoint``, NOT ``persist`` (r14):
    maintenance runs swaps OVERLAPPED (retention families, per-shard
    retraction, compactor relations), and every ``Dataset.unpersist``
    walks the session-global CacheManager to rebuild dependent entries
    — concurrent walks can corrupt an unrelated cached relation's
    attribute remap (observed once in the full suite as
    ``InMemoryRelation.withOutput: key not found`` on a later,
    single-threaded query). Checkpoint blocks live in the BlockManager
    under a unique RDD id — no shared cache entry, no rebuild cascade,
    so concurrent swaps cannot interact; the count and write read the
    same materialized blocks exactly as before."""
    if tmp is None:
        tmp = f"{src}__compacting"
    compacted = durable_checkpoint(
        compacted.sortWithinPartitions(*sort_cols)
    )
    try:
        rows_after = compacted.count()
        writer = compacted.write.mode("overwrite")
        if part_col is not None:
            writer = writer.partitionBy(part_col)
        writer.parquet(tmp)
    finally:
        release_local_checkpoint(compacted)
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p_src = jvm.org.apache.hadoop.fs.Path(src)
    p_tmp = jvm.org.apache.hadoop.fs.Path(tmp)
    fs = p_src.getFileSystem(conf)
    fs.delete(p_src, True)
    if not fs.rename(p_tmp, p_src):
        raise IOError(f"compaction rename failed for {src}")
    return rows_after


def stream_update_dedup_index(
    docs_stream: DataFrame, path: str, checkpoint: str
):
    """Streaming INDEX maintenance: as documents arrive, append their
    derived relations (shingles, band keys, passage hashes) to the
    persisted index per micro-batch. Cross-batch duplicate pairs then
    surface from :func:`minhash_lsh_pairs_from_index` with no batch
    re-index — the arriving doc's band keys collide with keys written
    batches (or days) ago.

    Semantics: ``foreachBatch`` + parquet append is at-least-once under
    failures — a retried batch can append its rows twice. The relations
    are SETS (distinct (doc_id, shingle) / (doc_id, band_idx, band_key)
    keys), so downstream candidate generation is idempotent to
    duplicates (``SELECT DISTINCT`` pairs); exact-Jaccard verification
    reads sizes, so the query path de-duplicates the shingle relation
    first. For exactly-once, run :func:`compact_dedup_index`
    periodically (the same closed-date maintenance slot as
    compact_sink_inplace).

    Returns the started StreamingQuery (availableNow-compatible).
    """

    def _index_batch(batch_df: DataFrame, batch_id: int) -> None:
        from ..functions.views import scoped_temp_view

        # persist: three derived relations read this batch, and the
        # shingle frame feeds both its own write and the band-key
        # derivation — without caching, tokenization (the expensive
        # step) would re-run per consumer on every trigger
        from .index_manifest import path_exists

        batch_df = batch_df.persist()
        spark = batch_df.sparkSession
        try:
            if not batch_df.take(1):
                return
            # decide BEFORE this batch's writes: a pre-doc_ids legacy
            # index (shingles exist, membership doesn't) stays legacy —
            # appending a partial membership would be worse than none.
            # A fresh stream-only index starts the relation at batch 1.
            legacy = path_exists(spark, f"{path}/shingles") and not (
                path_exists(spark, f"{path}/doc_ids")
            )
            with scoped_temp_view(batch_df, "_stream_index_docs") as dv:
                shingles = spark.sql(
                    _SHINGLES_SPARK.format(src=dv)
                ).persist()
                passages = spark.sql(_PASSAGE_WINS_SPARK.format(src=dv))
            # membership FIRST (crash-safe ordering for the legacy
            # probe above: a retry after a crash mid-batch must never
            # see shingles-without-doc_ids on a fresh stream-built
            # index, which would permanently classify it legacy), and
            # the pre-counted meta denominator is DELETED before
            # membership grows — a crash between the two leaves no
            # meta (sweeps fall back to counting doc_ids), never a
            # stale count
            if not legacy:
                if path_exists(spark, f"{path}/meta"):
                    _delete_path(spark, f"{path}/meta")
                # a deleted doc re-arriving REVIVES: its tombstone
                # retires BEFORE its rows append (latest wins — the
                # S14 sequence-ordering semantics, expressible here as
                # set subtraction because S13 relations carry no
                # sequence). Probe first: the rewrite only runs when
                # the batch actually intersects the tombstone set
                # (one bounded semi-join against the small set), and a
                # crash between retire and append just re-runs the
                # batch (at-least-once).
                tomb = _tombstoned_doc_ids(spark, path)
                if tomb is not None:
                    batch_ids = batch_df.select("doc_id").distinct()
                    if tomb.join(batch_ids, "doc_id", "left_semi").take(1):
                        compact_relation_swap(
                            spark,
                            spark.read.parquet(f"{path}/deleted_ids")
                            .select("doc_id").distinct()
                            .join(batch_ids, "doc_id", "left_anti"),
                            f"{path}/deleted_ids", None,
                            sort_cols=["doc_id"],
                        )
                batch_df.select("doc_id").write.mode("append").parquet(
                    f"{path}/doc_ids"
                )
            shingles.write.mode("append").parquet(f"{path}/shingles")
            try:
                with scoped_temp_view(
                    shingles, "_stream_index_shingles"
                ) as sv:
                    spark.sql(
                        f"WITH shingles AS (SELECT doc_id, shingle FROM {sv}),\n"
                        + _minhash_bandkv_sql(_BANDKV_SPARK).lstrip()
                        + "\nSELECT doc_id, band_idx, band_key FROM bandkv"
                    ).write.mode("append").partitionBy("band_idx").parquet(
                        f"{path}/band_keys"
                    )
            finally:
                shingles.unpersist()
            passages.write.mode("append").parquet(f"{path}/passages")
        finally:
            batch_df.unpersist()

    return (
        docs_stream.writeStream.foreachBatch(_index_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
