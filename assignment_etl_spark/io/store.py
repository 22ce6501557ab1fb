"""Native table store: partitioned parquet + bucketed tables.

Bucketing is the co-located-join primitive at 100 TB: two fact tables
bucketed by the same key into the same bucket count join WITHOUT a shuffle
(both sides' partitioning already satisfies the join distribution), and
aggregations on the bucket key skip the exchange too. Pre-shuffle once at
write, amortized over every downstream join — the classic trade for a fact
table joined daily.

Bucketed tables require the session catalog (`saveAsTable`) — Spark's
bucketing metadata lives in the metastore, not in parquet footers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from assignment_etl_spark.caching import released_local_checkpoint


def write_partitioned(
    df: DataFrame, path: str, partition_by: list[str], *, mode: str = "overwrite"
) -> None:
    """Hive-style directory partitioning → partition pruning on read
    (a filter on a partition column never touches pruned directories)."""
    df.write.mode(mode).partitionBy(*partition_by).parquet(path)


def write_bucketed_table(
    df: DataFrame,
    table: str,
    bucket_by: list[str],
    n_buckets: int,
    *,
    sort_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (optionally sorted) managed table."""
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_by)
    if sort_by:
        writer = writer.sortBy(*sort_by)
    writer.format("parquet").saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


def write_orc(
    df: DataFrame,
    path: str,
    *,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """ORC sink (zlib-compressed by default): the columnar alternative for
    warehouses standardized on ORC readers. Same pushdown/pruning story
    as parquet — Spark's OrcScan reports PushedFilters and per-stripe
    min/max skipping; directory partitioning works identically."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.orc(path)


def upsert_parquet(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key: str | list[str],
    *,
    partition_by: list[str] | None = None,
) -> None:
    """Key-based upsert (MERGE) into a plain parquet store: existing rows
    whose key appears in ``updates`` are replaced, new keys appended.
    Plain parquet has no row-level transaction log, so this is the
    copy-on-write merge table formats (Delta/Iceberg/Hudi CoW) perform
    under the hood. With ``partition_by``, dynamic partition overwrite
    rewrites ONLY the partitions present in ``updates`` — the
    partition-pruned merge that makes CoW viable on a 100 TB table.

    The merged frame is locally checkpointed before the overwrite
    (lineage would otherwise read the path being replaced); on a cluster,
    checkpoint to reliable storage instead.
    """
    import os

    from pyspark.sql import functions as F

    keys = [key] if isinstance(key, str) else list(key)
    if not os.path.exists(path):
        writer = updates.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        return

    current = spark.read.parquet(path)
    dedup_updates = updates.dropDuplicates(keys)
    if partition_by:
        update_keys = dedup_updates.select(*keys).distinct()
        # Partitions to rewrite = partitions the updates land in PLUS the
        # partitions currently holding any updated key: when an update moves
        # a key to a new partition value, the old partition must be
        # rewritten too or the stale copy would survive the dynamic
        # overwrite. Finding those partitions costs one semi join against
        # the store — the same key lookup a Delta/Iceberg MERGE performs.
        stale_parts = (
            current.join(F.broadcast(update_keys), on=keys, how="left_semi")
            .select(*partition_by)
            .distinct()
        )
        touched = (
            dedup_updates.select(*partition_by).distinct()
            .unionByName(stale_parts)
            .distinct()
        )
        with released_local_checkpoint(
            current.join(F.broadcast(touched), on=partition_by, how="left_semi")
            .join(update_keys, on=keys, how="left_anti")
            .unionByName(dedup_updates)
        ) as merged:
            # Dynamic overwrite only rewrites partitions PRESENT in
            # `merged` — a partition all of whose keys moved elsewhere has
            # zero merged rows, so its stale files would survive.
            # Partition values are few by definition (they're
            # directories), so compare them on the driver and fall back to
            # a full static rewrite when any touched partition empties out.
            touched_vals = {tuple(r) for r in touched.collect()}
            merged_vals = {
                tuple(r)
                for r in merged.select(*partition_by).distinct().collect()
            }
            if touched_vals - merged_vals:
                with released_local_checkpoint(
                    current.join(update_keys, on=keys, how="left_anti")
                    .unionByName(dedup_updates)
                ) as full:
                    full.write.mode("overwrite").partitionBy(
                        *partition_by
                    ).parquet(path)
                return
            prev = spark.conf.get(
                "spark.sql.sources.partitionOverwriteMode", "static"
            )
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
            try:
                merged.write.mode("overwrite").partitionBy(
                    *partition_by
                ).parquet(path)
            finally:
                spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    else:
        with released_local_checkpoint(
            current.join(
                dedup_updates.select(*keys).distinct(), on=keys, how="left_anti"
            ).unionByName(dedup_updates)
        ) as merged:
            merged.write.mode("overwrite").parquet(path)


def compact_parquet(
    spark: SparkSession,
    path: str,
    *,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_by: list[str] | None = None,
) -> int:
    """Small-file compaction (the OPTIMIZE of table formats): rewrite a
    parquet directory into ceil(total_bytes / target) files and return the
    new file count.

    Streaming sinks and partition-pruned upserts accumulate small files;
    every downstream scan then pays per-file open/footer costs and tiny
    row groups defeat min/max skipping. Sizing comes from filesystem
    metadata (driver-side listing, no Spark job); the rewrite is one
    repartition — range-partitioned when ``sort_by`` is given, so
    compaction can restore clustering at the same time.

    Crash safety: the compacted output is written to a temp sibling
    directory first, then swapped in (old dir renamed aside, new dir
    renamed into place, old dir deleted) — the original files are never
    truncated before the replacement is fully durable, so a failure at
    any step leaves either the old or the new table intact on disk.
    Returns 0 without touching anything when the directory holds no
    parquet files.
    """
    import glob
    import os
    import shutil

    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    if not files:
        return 0
    total = sum(os.path.getsize(f) for f in files)
    n = max(1, -(-total // target_file_bytes))
    df = spark.read.parquet(path)
    if sort_by:
        compacted = df.repartitionByRange(n, *sort_by).sortWithinPartitions(*sort_by)
    else:
        compacted = df.repartition(n)
    atomic_overwrite_parquet(compacted, path)
    return n


def delete_by_keys(
    spark: SparkSession,
    path: str,
    key_col: str,
    keys: list,
) -> dict:
    """Targeted erasure (the GDPR-delete shape): rewrite ONLY the parquet
    files whose footer min/max for ``key_col`` can contain a requested
    key; every other file stays byte-identical. On a clustered table
    (write_zordered / compact_parquet with sort_by) the doomed keys live
    in a handful of files, so erasing a user from 100 TB rewrites
    megabytes, not the table.

    File pruning reads ONLY footers (driver-side pyarrow metadata, no
    Spark job); files lacking statistics are conservatively rewritten.
    Partitioned layouts are handled per directory, since partition
    values live in paths, not file bytes. Replacement files are written
    to a temp sibling and moved in BEFORE the originals are removed — a
    crash mid-swap can leave transient duplicates (re-run the delete to
    converge) but never lose non-deleted rows.

    Returns {"n_files": ..., "n_files_rewritten": ..., "n_rows_deleted":
    ...}. ``keys`` is an in-memory list (erasure requests are small);
    for bulk deletes use an anti-join rewrite instead.
    """
    import glob
    import os
    import shutil
    import uuid

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True))
    affected: list[str] = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        mins, maxs, have_stats = [], [], True
        for rg in range(md.num_row_groups):
            found = False
            for ci in range(md.num_columns):
                col = md.row_group(rg).column(ci)
                if col.path_in_schema == key_col:
                    st = col.statistics
                    if st is not None and st.has_min_max:
                        mins.append(st.min)
                        maxs.append(st.max)
                        found = True
                    break
            if not found:
                have_stats = False
        if not have_stats or not mins:
            affected.append(f)  # no stats → cannot prove absence
        elif any(min(mins) <= k <= max(maxs) for k in keys):
            affected.append(f)

    n_rows_deleted = 0
    by_dir: dict[str, list[str]] = {}
    for f in affected:
        by_dir.setdefault(os.path.dirname(f), []).append(f)
    for d, fs in by_dir.items():
        df = spark.read.parquet(*fs)
        n_rows_deleted += df.filter(F.col(key_col).isin(keys)).count()
        tmp = os.path.join(d, ".__delete_tmp__")
        shutil.rmtree(tmp, ignore_errors=True)
        with released_local_checkpoint(
            df.filter(~F.col(key_col).isin(keys))
        ) as keep:
            keep.write.mode("overwrite").parquet(tmp)
        tag = uuid.uuid4().hex[:8]
        for i, nf in enumerate(
            sorted(glob.glob(os.path.join(tmp, "*.parquet")))
        ):
            os.rename(nf, os.path.join(d, f"part-delete-{tag}-{i:05d}.parquet"))
        for f in fs:
            os.remove(f)
        shutil.rmtree(tmp, ignore_errors=True)

    return {
        "n_files": len(files),
        "n_files_rewritten": len(affected),
        "n_rows_deleted": n_rows_deleted,
    }


def atomic_overwrite_parquet(df: DataFrame, path: str) -> None:
    """Rewrite ``path`` with ``df`` without ever truncating the original
    before the replacement is durable: write to a temp sibling, rename the
    old directory aside, rename the new one into place, delete the old.
    A failure at any step leaves either the old or the new table intact."""
    import os
    import shutil

    norm = path.rstrip("/")
    tmp = norm + ".__compact_tmp__"
    old = norm + ".__compact_old__"
    shutil.rmtree(tmp, ignore_errors=True)
    df.write.mode("overwrite").parquet(tmp)
    os.rename(norm, old)
    os.rename(tmp, norm)
    shutil.rmtree(old)
    # the swap changed the path's contents OUT OF BAND: any cached plan
    # or file listing over the old scan would silently serve stale rows
    # (caught by the band-store tombstone test — a pre-rewrite cached
    # dedup result kept "matching" a deleted keeper)
    df.sparkSession.catalog.refreshByPath(norm)
