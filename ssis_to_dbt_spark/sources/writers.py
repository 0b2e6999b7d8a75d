"""Sink / materialization operators (SURVEY §2.1 S3, S10 and §2.10 D1-D6).

The reference's sink vocabulary: OLE DB Destination fast-load append
(/root/reference/src/parser/ssis_parser.py:356-376), TRUNCATE+reload
(CustomerDataLoad.dtsx:45-53), DELETE range + INSERT re-aggregate
(SalesFactETL.dtsx:293-306), incremental merge materialization
(src/agents/builder.py:308-326), INSERT INTO VALUES audit append
(InventorySync.dtsx:266-267), UPDATE processed-flag post-process
(InventorySync.dtsx:269), and JSON export (ssis_parser.py:620-639).

Spark-first mapping: append / overwrite / dynamic-partition-overwrite parquet
writes.  Plain parquet has no MERGE or UPDATE; like the reference's own dbt
dodge (dim_customer.sql:22-26 replaces MERGE with a deterministic rebuild),
merge/update are expressed as join-based rewrites + overwrite.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def append(df: DataFrame, path: str) -> None:
    """S3/D5: OLE DB Destination fast-load append (AccessMode 3)."""
    df.write.mode("append").parquet(path)


def overwrite(df: DataFrame, path: str) -> None:
    """D1: TRUNCATE + reload -> atomic full overwrite."""
    df.write.mode("overwrite").parquet(path)


def partition_overwrite(df: DataFrame, path: str, partition_cols: list[str]) -> None:
    """D2: DELETE range + INSERT -> dynamic partition overwrite.

    Only the partitions present in ``df`` are replaced — the scale-safe
    analog of ``DELETE ... WHERE SaleDate BETWEEN @StartDate AND @EndDate;
    INSERT ...`` (SalesFactETL.dtsx:293-306): at 100 TB you rewrite the
    touched date partitions, never the whole table.
    """
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def insert_into(df: DataFrame, table: str) -> None:
    """S3 variant targeting a catalog table: append ``df``'s columns BY
    NAME (``insertInto`` alone matches by position); a bucketed table
    keeps its own bucket spec."""
    cols = df.sparkSession.table(table).columns
    df.select(*cols).write.mode("append").insertInto(table)


def audit_append(spark: SparkSession, path: str, row: dict) -> None:
    """D5: INSERT INTO ... VALUES single-row audit log append
    (InventorySync.dtsx:266-267)."""
    spark.createDataFrame([row]).write.mode("append").parquet(path)
    # invalidate any cached listing of `path` so readers see the new file
    spark.catalog.refreshByPath(path)


def update_flag(
    spark: SparkSession,
    path: str,
    flag_col: str,
    where,
    new_value,
) -> None:
    """D6: UPDATE ... SET flag WHERE pred, as read-rewrite-overwrite.

    Parquet has no in-place UPDATE; the whole dataset is rewritten with the
    flag recomputed (on a partitioned layout, pair with partition_overwrite
    to touch only affected partitions).
    """
    df = spark.read.parquet(path)
    updated = df.withColumn(
        flag_col, F.when(where(df), F.lit(new_value)).otherwise(F.col(flag_col))
    )
    # Parquet can't safely overwrite a path that's being read lazily (cache
    # eviction would recompute from the truncated source) — write to a staging
    # sibling, then atomically swap directories.
    staging = path.rstrip("/") + "__staging"
    updated.write.mode("overwrite").parquet(staging)
    old = path.rstrip("/") + "__old"
    if os.path.exists(old):
        shutil.rmtree(old)
    os.rename(path, old)
    os.rename(staging, path)
    shutil.rmtree(old)
    # the swap replaced every file under `path`; drop any cached file listing
    # so a later read doesn't resolve to the deleted originals
    spark.catalog.refreshByPath(path)


def update_flag_partitioned(
    spark: SparkSession,
    path: str,
    partition_cols: list[str],
    flag_col: str,
    where,
    new_value,
) -> None:
    """D6 at scale: flag flip touching ONLY the partitions that contain
    matching rows.

    The 100 TB answer to ``UPDATE ... WHERE``: find the affected partition
    values (a pruned aggregate), re-read just those partitions, recompute the
    flag, and dynamic-partition-overwrite them back.  Unaffected partitions —
    at scale, almost all of them — are never read or written.
    """
    df = spark.read.parquet(path)
    affected = df.filter(where(df)).select(*partition_cols).distinct()
    hit = df.join(F.broadcast(affected), on=partition_cols, how="left_semi")
    updated = hit.withColumn(
        flag_col, F.when(where(hit), F.lit(new_value)).otherwise(F.col(flag_col))
    )
    staging = path.rstrip("/") + "__flag_staging"
    updated.write.mode("overwrite").parquet(staging)
    (
        spark.read.parquet(staging)
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_cols)
        .parquet(path)
    )
    shutil.rmtree(staging)
    spark.catalog.refreshByPath(path)


def compact(spark: SparkSession, path: str, target_partitions: int) -> int:
    """Small-file compaction: rewrite a parquet dataset into
    ``target_partitions`` files, preserving every row.

    The operational pass a 100 TB lakehouse runs continuously — streaming
    sinks and dynamic partition overwrites accrete thousands of KB-sized
    files whose open/footer costs eventually dominate scans.  Uses the same
    staging-sibling + atomic directory swap as ``update_flag`` (parquet
    cannot safely overwrite a path it is lazily reading), and ``coalesce``
    rather than ``repartition`` when shrinking: coalesce merges existing
    partitions WITHOUT a shuffle.  Returns the number of data files after
    compaction.
    """
    df = spark.read.parquet(path)
    staging = path.rstrip("/") + "__compact_staging"
    df.coalesce(target_partitions).write.mode("overwrite").parquet(staging)
    old = path.rstrip("/") + "__compact_old"
    if os.path.exists(old):
        shutil.rmtree(old)
    os.rename(path, old)
    os.rename(staging, path)
    shutil.rmtree(old)
    spark.catalog.refreshByPath(path)
    return sum(
        1 for f in os.listdir(path)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


# Stored bytes per bucket a persisted index aims for: one
# spark.sql.files.maxPartitionBytes (128 MiB), so a bucket is one scan
# split.  Tests force a multi-bucket index by monkeypatching it.
BUCKET_BYTES = 128 << 20


def bucket_count(spark: SparkSession, est_bytes: float) -> int:
    """Bucket count of a persisted index holding ``est_bytes`` stored
    bytes: the smallest power of two whose buckets hold at most
    :data:`BUCKET_BYTES`, at least 1 and at most
    ``spark.sql.sources.bucketing.maxBuckets`` (past that cap a bucket
    holds more).  Every bucket is a scan task of each probe; appends keep
    the count, so a compaction is where a grown index gets more."""
    cap = int(spark.conf.get("spark.sql.sources.bucketing.maxBuckets"))
    want = est_bytes / BUCKET_BYTES
    n = 1
    while n < want and 2 * n <= cap:
        n *= 2
    return n


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    bucket_cols: list[str],
    num_buckets: int,
    sort_cols: list[str] | None = None,
) -> None:
    """Bucketed table write for co-located joins (SURVEY §7 scale posture).

    Two tables bucketed identically on their join key shuffle ZERO bytes when
    joined — the sort-merge join reads matching buckets directly; with
    ``sort_cols`` the per-bucket sort is also pre-done.  This is the 100 TB
    answer for repeated fact⋈fact joins that broadcast can't handle.

    The rows are first hash-partitioned on ``bucket_cols`` into
    ``num_buckets`` partitions (the hash and modulus of the bucket id), so
    each task writes exactly one bucket: one file per bucket, where a
    write straight from the input tasks leaves one per task per bucket.
    """
    writer = (
        df.repartition(num_buckets, *bucket_cols)
        .write.mode("overwrite")
        .format("parquet")
        .option("path", path)
        .bucketBy(num_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def _table_location(spark: SparkSession, table: str) -> str | None:
    """A catalog table's storage location from DESCRIBE FORMATTED (a
    bounded catalog-metadata collect); None when none is recorded."""
    for r in spark.sql(f"DESCRIBE FORMATTED {table}").collect():
        if (r["col_name"] or "").strip() == "Location":
            return (r["data_type"] or "").strip() or None
    return None


def _swap_in(
    spark: SparkSession, stage: str, live: str, cleanup: bool
) -> None:
    """Replace table ``live`` by the fully written table ``stage``: drop,
    then rename (a crash between the two leaves the stage alone, which
    the index's read-time heal renames in).  With ``cleanup``, delete
    the superseded data directory."""
    from .. import fs

    old = _table_location(spark, live) if cleanup else None
    spark.sql(f"DROP TABLE IF EXISTS {live}")
    spark.sql(f"ALTER TABLE {stage} RENAME TO {live}")
    if old and old != _table_location(spark, live):
        fs.delete(spark, old)


def _next_compact_version(
    spark: SparkSession, path_prefix: str, suffixes: tuple[str, ...]
) -> int:
    """1 + the highest ``k`` of the ``{path_prefix}_{suffix}_compact_v{k}``
    directories on disk (1 when there are none), listed through the
    Hadoop FileSystem API: an index compaction stages a fresh
    generation, never over the files its live tables read."""
    import re

    from .. import fs

    parent, sep, base = path_prefix.rpartition("/")
    pat = re.compile(
        re.escape(base) + f"_(?:{'|'.join(suffixes)})_compact_v(\\d+)$"
    )
    found = [
        int(m.group(1))
        for name in fs.list_dir(spark, parent if sep else ".")
        for m in [pat.match(name)]
        if m
    ]
    return max(found, default=0) + 1


def write_json(df: DataFrame, path: str) -> None:
    """S10: JSON export sink (ssis_parser.py:620-639)."""
    df.write.mode("overwrite").json(path)


def write_csv(df: DataFrame, path: str, header: bool = True) -> None:
    """S4: FlatFileDestination (src/parser/constants.py:36)."""
    df.write.mode("overwrite").option("header", str(header).lower()).csv(path)


def write_orc(df: DataFrame, path: str) -> None:
    """ORC sink — Spark-native columnar alternative to parquet (same
    predicate-pushdown / column-pruning story at the scan; zlib by default).
    Rounds out the destination surface for warehouses standardized on ORC."""
    df.write.mode("overwrite").orc(path)


def write_xlsx(
    header: list[str], rows: list[list], path: str, sheet: str = "Sheet1"
) -> None:
    """S5: ExcelDestination (src/parser/constants.py:38) — dependency-free
    .xlsx writer (stdlib zipfile + hand-built OOXML parts, inline strings),
    the write-side twin of ``readers.read_xlsx_rows``.

    Driver-side by design: Excel's role in the reference is small dimension /
    report sheets, never fact data; at scale the frame is staged to parquet
    and exported out-of-band.  Values render via ``str()`` (None -> empty
    cell) and read back under a declared schema's casts.
    """
    import zipfile
    from xml.sax.saxutils import escape

    def row_xml(r: int, cells: list) -> str:
        parts = [f'<row r="{r}">']
        for i, v in enumerate(cells):
            if v is None:
                continue
            col = ""
            n = i + 1
            while n:
                n, rem = divmod(n - 1, 26)
                col = chr(ord("A") + rem) + col
            parts.append(
                f'<c r="{col}{r}" t="inlineStr"><is><t>'
                f"{escape(str(v))}</t></is></c>"
            )
        parts.append("</row>")
        return "".join(parts)

    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    rel_ns = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    pkg_rel_ns = "http://schemas.openxmlformats.org/package/2006/relationships"
    ct_ns = "http://schemas.openxmlformats.org/package/2006/content-types"
    all_rows = [header] + rows
    sheet_xml = (
        f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<worksheet xmlns="{ns}"><sheetData>'
        + "".join(row_xml(i + 1, r) for i, r in enumerate(all_rows))
        + "</sheetData></worksheet>"
    )
    workbook_xml = (
        f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<workbook xmlns="{ns}" xmlns:r="{rel_ns}"><sheets>'
        f'<sheet name="{escape(sheet)}" sheetId="1" r:id="rId1"/>'
        f"</sheets></workbook>"
    )
    workbook_rels = (
        f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<Relationships xmlns="{pkg_rel_ns}">'
        f'<Relationship Id="rId1" Type="{rel_ns}/worksheet" '
        f'Target="worksheets/sheet1.xml"/></Relationships>'
    )
    root_rels = (
        f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<Relationships xmlns="{pkg_rel_ns}">'
        f'<Relationship Id="rId1" '
        f'Type="{rel_ns}/officeDocument" Target="xl/workbook.xml"/>'
        f"</Relationships>"
    )
    content_types = (
        f'<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        f'<Types xmlns="{ct_ns}">'
        f'<Default Extension="rels" '
        f'ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
        f'<Default Extension="xml" ContentType="application/xml"/>'
        f'<Override PartName="/xl/workbook.xml" ContentType="application/vnd.'
        f'openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
        f'<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application'
        f'/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
        f"</Types>"
    )
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        z.writestr("[Content_Types].xml", content_types)
        z.writestr("_rels/.rels", root_rels)
        z.writestr("xl/workbook.xml", workbook_xml)
        z.writestr("xl/_rels/workbook.xml.rels", workbook_rels)
        z.writestr("xl/worksheets/sheet1.xml", sheet_xml)


MANIFEST_NAME = "_table_manifest.json"


def _content_checksum(df: DataFrame) -> tuple[int, int]:
    """(row_count, order-independent content checksum): SUM over rows of the
    first-60-bits-of-md5 of the '|'-joined rendered row.  A sum is
    partitioning- and order-independent, so the checksum is stable across
    rewrites that preserve content and catches any dropped / duplicated /
    altered row.  One map-side pass + a scalar aggregate."""
    row_hash = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|", *[F.col(c).cast("string") for c in df.columns]
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("long")
        # 60-bit hashes overflow a BIGINT sum within ~16 rows; an exact
        # DECIMAL(38,0) sum holds ~1e20 rows of headroom
        .cast("decimal(38,0)")
    )
    agg = df.agg(
        F.count(F.lit(1)).alias("n"), F.sum(row_hash).alias("chk")
    ).first()
    return int(agg["n"]), int(agg["chk"] or 0)


def write_manifest(spark: SparkSession, path: str) -> dict:
    """Write an integrity manifest next to a parquet table: row count,
    order-independent content checksum, column list, and the parquet part
    inventory (name + size).  The handoff contract for a 100 TB table — a
    downstream consumer can prove the table it reads is the table that was
    written without re-deriving it."""
    import json

    df = spark.read.parquet(path)
    n, chk = _content_checksum(df)
    parts = sorted(
        (name, os.path.getsize(os.path.join(path, name)))
        for name in os.listdir(path)
        if name.endswith(".parquet")
    )
    manifest = {
        "rows": n,
        "checksum": chk,
        "columns": df.columns,
        "files": [{"name": p, "bytes": b} for p, b in parts],
    }
    with open(os.path.join(path, MANIFEST_NAME), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


def verify_manifest(spark: SparkSession, path: str) -> dict:
    """Re-derive the manifest facts and diff them against the stored
    manifest.  Returns {'ok': bool, 'mismatches': [...]} — rows/checksum
    mismatches mean content drift; file-inventory mismatches mean the
    directory was rewritten (e.g. compacted) since the manifest, which is
    only a failure if content ALSO drifted, so files are reported
    separately and do not flip 'ok' on their own."""
    import json

    with open(os.path.join(path, MANIFEST_NAME)) as f:
        stored = json.load(f)
    df = spark.read.parquet(path)
    n, chk = _content_checksum(df)
    mismatches = []
    if n != stored["rows"]:
        mismatches.append(f"rows: stored {stored['rows']} != actual {n}")
    if chk != stored["checksum"]:
        mismatches.append(
            f"checksum: stored {stored['checksum']} != actual {chk}"
        )
    if df.columns != stored["columns"]:
        mismatches.append(
            f"columns: stored {stored['columns']} != actual {df.columns}"
        )
    actual_files = sorted(
        (name, os.path.getsize(os.path.join(path, name)))
        for name in os.listdir(path)
        if name.endswith(".parquet")
    )
    stored_files = sorted(
        (f["name"], f["bytes"]) for f in stored.get("files", [])
    )
    files_changed = actual_files != stored_files
    return {
        "ok": not mismatches,
        "mismatches": mismatches,
        "files_changed": files_changed,
    }
