"""Sinks (SURVEY §2.1 S3, S5-S11).

Parquet is the default at-rest format (Delta when the runtime has it —
same calls, ``fmt="delta"``). The reference's S3 mirror
(``upload_datalake_s3.py``: driver-side file walk + per-object boto3
upload) collapses into writing directly to ``s3a://`` URIs — committers
handle the object store, no copy step. Its JDBC loads
(``loader_NeonDB.py`` execute_values batches) map to the built-in JDBC
sink with ``batchsize``; upsert parity = dedup-before-write (the engine's
deterministic W1) or Delta MERGE where available.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    **options,
) -> None:
    """Generic sink: parquet/delta/csv/json/orc to any URI (file://, s3a://…).

    ``mode='overwrite'`` with ``overwriteSchema`` mirrors the reference's
    Delta overwrite+schema-overwrite bronze writes
    (extractor_polymarket.py:208-213).
    """
    writer = df.write.format(fmt).mode(mode)
    if fmt == "delta" and mode == "overwrite":
        writer = writer.option("overwriteSchema", "true")
    if fmt == "csv":
        writer = writer.option("header", "true")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.options(**options).save(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed catalog table (co-located join layout).

    Two tables bucketed on the same key with the same bucket count join
    WITHOUT a shuffle — the physical plan shows SortMergeJoin with no
    Exchange on either side. This is the at-rest answer to repeated big
    joins on one key (fact-to-fact joins at 100 TB): pay the shuffle once
    at write time, never again at read time. Requires ``saveAsTable``
    (buckets live in the catalog, not bare parquet paths).
    """
    writer = df.write.format("parquet").mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    batchsize: int = 1000,
    **options,
) -> None:
    """JDBC batch sink (S7): the reference's execute_values page_size
    becomes the writer's batchsize; executors write partitions in
    parallel."""
    (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
        .options(**options)
        .mode(mode)
        .save()
    )


def write_sorted(
    df: DataFrame,
    path: str,
    sort_cols: list[str],
    fmt: str = "parquet",
    mode: str = "overwrite",
    num_files: int | None = None,
) -> None:
    """Layout-optimized write: range-partition on ``sort_cols`` then sort
    within each file, so parquet row-group min/max stats become tight,
    non-overlapping ranges — the poor man's clustering index. A later
    scan with a predicate on the leading sort column skips whole row
    groups / files (data skipping), which at 100 TB is the difference
    between reading a partition and reading a table.
    """
    parted = (
        df.repartitionByRange(num_files, *sort_cols)
        if num_files
        else df.repartitionByRange(*sort_cols)
    )
    parted.sortWithinPartitions(*sort_cols).write.format(fmt).mode(mode).save(path)


def compact(spark, src: str, dest: str, fmt: str = "parquet", target_file_mb: int = 128) -> int:
    """Small-files compaction: rewrite ``src`` into ``dest`` with file
    sizes near ``target_file_mb``. Streaming sinks and per-batch appends
    leave thousands of KB-scale files; at scale that throttles every
    downstream scan on file-open overhead and starves the scheduler with
    tiny splits. File count is derived from the ACTUAL byte size via the
    Hadoop FileSystem API (scheme-agnostic: file://, s3a://, hdfs://),
    not a row-count guess. Returns the output file count.
    """
    import os

    # overwrite-into-self would delete the input mid-scan (the read is
    # lazy): refuse up front rather than destroy the data being compacted
    if os.path.abspath(src.removeprefix("file:")) == os.path.abspath(
        dest.removeprefix("file:")
    ):
        raise ValueError(f"compact: dest must differ from src ({src!r}); stage elsewhere and rename")

    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(src)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    total_bytes = fs.getContentSummary(jpath).getLength()
    n = max(1, -(-total_bytes // (target_file_mb * 1024 * 1024)))
    df = spark.read.format(fmt).load(src)
    # coalesce (no shuffle) when shrinking the file count; repartition
    # only if we must grow it
    out = df.coalesce(int(n)) if df.rdd.getNumPartitions() >= n else df.repartition(int(n))
    out.write.format(fmt).mode("overwrite").save(dest)
    return int(n)


def mirror_table(spark, src: str, dest: str, fmt: str = "parquet") -> int:
    """Object-store mirror (S10): copy a table directory to another URI
    scheme (file:// ↔ s3a:// ↔ hdfs://) through the Hadoop FileSystem
    API — the committer handles the target store, no driver-side file
    walk (the reference walks the local datalake and boto3-uploads each
    object, ``upload_datalake_s3.py:129-184``). Re-written as a read →
    write so the mirror is transactional per Spark's committer rather
    than file-at-a-time. Returns the mirrored row count.
    """
    if src.rstrip("/") == dest.rstrip("/"):
        raise ValueError("mirror_table: dest must differ from src")
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    # the row count piggybacks on the mirroring write itself via an
    # Observation — ONE read of the source total; the previous
    # implementation re-read the entire mirrored table (every object
    # GET twice) just to return this number
    obs = Observation("mirror_rows")
    df = spark.read.format(fmt).load(src).observe(
        obs, F.count(F.lit(1)).alias("n")
    )
    df.write.format(fmt).mode("overwrite").save(dest)
    return int(obs.get["n"])


def probe_connectivity(spark, targets: dict[str, str]) -> list[dict]:
    """Connectivity probe (S12, ``test_connection.py`` parity): one row per
    target with ok/error. Filesystem URIs are checked via the Hadoop
    FileSystem API, ``jdbc:`` URIs via a 1-row JDBC read. Never raises —
    the report IS the contract, exactly like the reference's smoke
    script."""
    out: list[dict] = []
    for name, uri in targets.items():
        try:
            if uri.startswith("jdbc:"):
                (
                    spark.read.format("jdbc")
                    .option("url", uri)
                    .option("query", "SELECT 1 AS ok")
                    .load()
                    .collect()
                )
            else:
                jvm = spark._jvm
                jpath = jvm.org.apache.hadoop.fs.Path(uri)
                fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
                if not fs.exists(jpath):
                    raise FileNotFoundError(uri)
            out.append({"target": name, "uri": uri, "ok": True, "error": None})
        except Exception as exc:  # noqa: BLE001 — probe reports, never raises
            out.append(
                {"target": name, "uri": uri, "ok": False, "error": repr(exc)[:200]}
            )
    return out
