"""Integrity manifests for the durable dedup/ANN indexes — the S13/S14
twin of the training-shard sink's self-verification (S15).

The shard sink already attests its payload with order-independent
content hashes; the derived INDEXES deserved the same: a partial write,
a manual edit, or bit rot in ``shingles/`` silently degrades every
downstream pair query (missing candidates — wrong answers that look
plausible). A manifest row per relation::

    path/manifest/...parquet   (relation, n_rows, content_hash)

``content_hash`` sums per-row ``xxhash64(to_json(struct(*)))`` in
DECIMAL(38,0) — commutative, so file order, partitioning, and task
scheduling cannot change it, and ``to_json`` gives one deterministic
row serialization for any column type (the centroid/codebook relations
carry arrays, which ``xxhash64`` cannot take directly).

Contract mirrors S15: streaming appends leave the manifest stale by
design (a per-batch read-modify-write would race readers and retries);
refresh it in the maintenance slot — after compaction, or standalone —
and validation is meaningful against the refreshed state. The indexes
stay re-derivable from source data, so validation here is DETECTION
(rebuild is the repair), where S15's validator guards an export whose
payload is the product itself.

At 100 TB: one scan per relation with a map-side-combined two-column
aggregate; the manifest is #relations rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: relation subdirectories per index layout
DEDUP_INDEX_RELATIONS = (
    "shingles", "band_keys", "passages", "doc_ids", "deleted_ids"
)
ANN_INDEX_RELATIONS = ("centroids", "codebook", "codes", "meta")


class CorpusDriftError(ValueError):
    """A durable-index serving twin REFUSED to serve: the caller's
    corpus frame (or the build's parameters) has drifted past what the
    persisted index describes, and serving would silently bend results
    instead of crashing. Subclasses ValueError so existing callers'
    handling keeps working; the REST routes catch exactly this type —
    a genuine bug in a twin (any other error) must surface, not be
    silently converted into permanently serving the live operator."""


def path_exists(spark: SparkSession, path: str) -> bool:
    """FileSystem existence check (works for file://, hdfs://, s3a://)."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(conf).exists(p)


def list_tree(spark: SparkSession, path: str) -> list[tuple[str, int, int]]:
    """Every file under ``path`` (a file lists itself) as ``(path, size,
    mtime)``, in ``FileSystem.listFiles(path, True)`` order: depth
    first, each directory's entries in the order the filesystem lists
    them, a subdirectory walked where it is met. Raises when ``path``
    does not exist, like ``listFiles``. Works for file://, hdfs:// and
    s3a:// alike.

    One ``listStatus`` per directory instead of ``listFiles``: on the
    local filesystem ``listFiles`` builds a ``LocatedFileStatus`` per
    file (block locations plus a permission load that forks a process),
    which made a 57-log history cost 0.31 s to list against 0.03-0.05 s
    here. On an object store the trade goes the other way: this walk
    sends one LIST request per directory, where ``listFiles`` pages one
    LIST over the whole prefix, so a deep partition tree on S3 pays a
    request per partition directory."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    out = []
    walk = [iter(fs.listStatus(p))]
    while walk:
        st = next(walk[-1], None)
        if st is None:
            walk.pop()
        elif st.isDirectory():
            walk.append(iter(fs.listStatus(st.getPath())))
        else:
            out.append(
                (st.getPath().toString(), st.getLen(), st.getModificationTime())
            )
    return out


def _relation_stats(spark: SparkSession, path: str, rel: str) -> DataFrame:
    df = spark.read.parquet(f"{path}/{rel}")
    # sort column names: partition columns (band_idx, label) come back
    # at the end of the schema on read, but a rewrite that inlines them
    # must hash identically
    cols = sorted(df.columns)
    row_hash = F.xxhash64(F.to_json(F.struct(*[F.col(c) for c in cols])))
    return df.agg(
        F.count("*").cast("long").alias("n_rows"),
        F.coalesce(
            F.sum(row_hash.cast("decimal(38,0)")),
            F.lit(0).cast("decimal(38,0)"),
        ).cast("decimal(38,0)").alias("content_hash"),
    ).select(F.lit(rel).alias("relation"), "n_rows", "content_hash")


def refresh_index_manifest(
    spark: SparkSession, path: str, relations: tuple[str, ...]
) -> None:
    """Recompute the manifest from what is on disk (one scan per
    relation). Run after the batch index build, and after each
    compaction / maintenance slot that changed the relations.

    Never attest a wipe: a relation the layout expects but the disk no
    longer has keeps its PREVIOUS manifest row — that stale row is
    precisely the evidence the validator needs to flag the loss with
    NULL actuals (the maintenance slot refreshes before validating, so
    re-attesting only the survivors would hide a partial wipe exactly
    the way r08's hardening stopped total wipes from hiding). A
    relation the old manifest never attested (legacy layout predating
    it) simply stays unattested until it exists."""
    stale: dict[str, tuple] = {}
    if path_exists(spark, f"{path}/manifest"):
        for r in spark.read.parquet(f"{path}/manifest").collect():
            stale[r["relation"]] = (r["relation"], r["n_rows"], r["content_hash"])
    out = None
    carried = []
    for rel in relations:
        if not path_exists(spark, f"{path}/{rel}"):
            if rel in stale:
                carried.append(stale[rel])
            continue  # e.g. a pre-`meta/` index: attest what exists
        stats = _relation_stats(spark, path, rel)
        out = stats if out is None else out.unionByName(stats)
    if carried:
        kept = spark.createDataFrame(
            carried, "relation string, n_rows long, content_hash decimal(38,0)"
        )
        out = kept if out is None else out.unionByName(kept)
    if out is None:
        out = spark.createDataFrame(
            [], "relation string, n_rows long, content_hash decimal(38,0)"
        )
    out.write.mode("overwrite").parquet(f"{path}/manifest")


def validate_index(
    spark: SparkSession, path: str, relations: tuple[str, ...]
) -> DataFrame:
    """Diff the on-disk relations against the manifest. Returns the
    discrepancy relation — 0 rows = intact; each row names the relation
    and which of (rows, content) moved. A relation present only on one
    side reports NULLs on the other (same shape as the shard
    validator) — including a relation directory that has VANISHED
    entirely, the bluntest corruption this validator exists to report
    (it must flag that, not crash on the read)."""
    actual = None
    for rel in relations:
        if not path_exists(spark, f"{path}/{rel}"):
            continue  # manifest side reports it with NULL actuals
        stats = _relation_stats(spark, path, rel)
        actual = stats if actual is None else actual.unionByName(stats)
    if actual is None:
        actual = spark.createDataFrame(
            [], "relation string, n_rows long, content_hash decimal(38,0)"
        )
    actual = actual.alias("a")
    if path_exists(spark, f"{path}/manifest"):
        manifest = spark.read.parquet(f"{path}/manifest")
    else:
        # the manifest itself vanished — the same bit-rot class this
        # validator detects. 'Flag, not crash': every on-disk relation
        # comes back as a discrepancy with NULL manifest-side values
        # (a legacy pre-manifest index reads the same way).
        manifest = spark.createDataFrame(
            [], "relation string, n_rows long, content_hash decimal(38,0)"
        )
    manifest = manifest.alias("m")
    joined = actual.join(
        manifest, F.col("a.relation") == F.col("m.relation"), "full_outer"
    )
    return (
        joined.select(
            F.coalesce(F.col("a.relation"), F.col("m.relation")).alias(
                "relation"
            ),
            F.col("a.n_rows").alias("actual_rows"),
            F.col("m.n_rows").alias("manifest_rows"),
            (
                F.col("a.content_hash").eqNullSafe(F.col("m.content_hash"))
            ).alias("content_ok"),
        )
        .where("NOT (content_ok AND actual_rows <=> manifest_rows)")
        .orderBy("relation")
    )
