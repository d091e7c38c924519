"""Resumable extraction job with per-partition lineage + metrics.

North-rule requirements implemented here (BASELINE.json):
- **lineage**: every run appends per-output-file rows (run_id, file,
  row_count, bit_xor checksum, char sum, warc_ts bounds) to a metrics table,
  computed from the COMMITTED output (read-back, no kernel re-run), plus a
  JSON run manifest listing input files and totals;
- **exact resume-from-checkpoint**: a new run left-anti-joins the pages
  table against already-extracted urls, so a crashed/partial run continues
  where it stopped and a completed run is a no-op. Spark's output-commit
  protocol guarantees partial task output never becomes visible, so
  "committed rows" is exactly the resume frontier. With an Iceberg catalog
  the same logic rides snapshot ids (incremental read from the last
  manifest's snapshot); the parquet layout here is the catalog-free
  equivalent keyed on url.
- **no raw-bytes shuffle**: the kernel is a per-row map, so it runs on
  the scan splits (widened only when the scan is narrower than the task
  slots) and a hot host (the corpus plants ~30% on host0,
  corpus.py:76-79) never serializes a task; the frontier anti-join reads
  only the `url` column and broadcasts while the frontier is small.
- **known schemas**: the program's own tables are read with the schema it
  wrote (`EXTRACTED_SCHEMA_DDL` + `run_id string`, `METRICS_SCHEMA_DDL`),
  so no read runs a schema-inference job and a numeric-looking run_id
  stays a string (run "01" never matches partition run_id=1).

The reference's analog is at-least-once SQS redelivery + content dedup
(/root/reference/engine/gen_utils_files/testCase.txt:352-357) and the
update-queue sink (engine/core/utils.py:114-128); here idempotency comes
from the url-keyed anti-join instead of FIFO dedup ids.
"""

from __future__ import annotations

import json
import time
from pathlib import Path
from typing import TYPE_CHECKING

import pyspark.sql.functions as F
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ai_service_ocr_grading_handler_spark.core.partitioning import widen_if_narrow
from ai_service_ocr_grading_handler_spark.operators.extract import (
    EXTRACTED_SCHEMA_DDL,
    extract_pages,
)
from ai_service_ocr_grading_handler_spark.sources.pages import committed_parquet

if TYPE_CHECKING:
    import pyarrow as pa

HOST_RE = r"https?://([^/]+)/"

# one metrics-ledger row per output file of a run (run_id is the partition)
METRICS_SCHEMA_DDL = (
    "out_file string, row_count bigint, checksum bigint, content_chars bigint, "
    "extract_us bigint, min_warc_ts timestamp, max_warc_ts timestamp"
)


def host_col(url_col: str = "url"):
    return F.regexp_extract(F.col(url_col), HOST_RE, 1)


def _extracted_dir(out_root: str) -> Path:
    return Path(out_root) / "extracted"


def _metrics_dir(out_root: str) -> Path:
    return Path(out_root) / "metrics"


def _run_metrics_dir(spark: SparkSession, out_root: str, run_id: str) -> Path:
    """The run's partition of the metrics ledger, named exactly as
    ``partitionBy("run_id")`` would name it (Spark's own path escaping)."""
    esc = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    return _metrics_dir(out_root) / f"run_id={esc.escapePathName(run_id)}"


def _manifest_path(out_root: str, run_id: str) -> Path:
    return Path(out_root) / "runs" / f"{run_id}.json"


def _read_extracted(spark: SparkSession, out_root: str) -> DataFrame:
    schema = EXTRACTED_SCHEMA_DDL + ", run_id string"
    return spark.read.schema(schema).parquet(str(_extracted_dir(out_root)))


def _ledger_totals(metrics: DataFrame) -> dict:
    """rows, files and the xor checksum over metrics-ledger rows. The
    ledger holds one row per output file, so it is collected, not
    aggregated: one small scan, no shuffle. Python's ``^`` on signed ints
    equals Spark's 64-bit ``bit_xor``."""
    rows = metrics.select("row_count", "checksum").collect()
    checksum = 0
    for r in rows:
        checksum ^= r["checksum"]
    return {
        "rows": sum(r["row_count"] for r in rows),
        "files": len(rows),
        "checksum": checksum,
    }


def completed_urls(spark: SparkSession, out_root: str) -> DataFrame | None:
    """The resume frontier: urls already committed to the extracted table
    (column-pruned scan — only `url` is read)."""
    d = _extracted_dir(out_root)
    if not committed_parquet(d):
        return None
    return _read_extracted(spark, out_root).select("url")


def run_extract(
    spark: SparkSession,
    pages: DataFrame,
    out_root: str,
    run_id: str,
) -> dict:
    """One resumable extraction run: anti-join the frontier, extract on the
    scan splits, append, then compute lineage from the committed files.

    Returns the manifest dict (also written to <out_root>/runs/<run_id>.json).
    """
    input_files = pages.inputFiles()

    done = completed_urls(spark, out_root)
    todo = pages.join(done, "url", "left_anti") if done is not None else pages
    # probe the scan, not the join: probing a broadcast join runs it eagerly
    todo = widen_if_narrow(todo, probe=pages)

    extracted = extract_pages(todo).withColumn("run_id", F.lit(run_id))
    (
        extracted.write.mode("append")
        .partitionBy("run_id")
        .parquet(str(_extracted_dir(out_root)))
    )

    # lineage/metrics from COMMITTED data only (no kernel re-run; `html` was
    # dropped by the kernel so this scan is narrow)
    back = (
        _read_extracted(spark, out_root)
        .filter(F.col("run_id") == run_id)
        .withColumn("out_file", F.input_file_name())
    )
    metrics = back.groupBy("out_file").agg(
        F.count(F.lit(1)).alias("row_count"),
        F.bit_xor(F.xxhash64("url", "text")).alias("checksum"),
        F.sum("content_chars").alias("content_chars"),
        F.sum("extract_us").alias("extract_us"),
        F.min("warc_ts").alias("min_warc_ts"),
        F.max("warc_ts").alias("max_warc_ts"),
    )
    # IDEMPOTENT ledger write: overwriting the run's own partition directory
    # REPLACES exactly this run_id's rows, derived from committed data: a
    # re-run of a completed run_id never double-counts, and re-running the
    # same run_id REPAIRS a crash between the data commit and this write
    # (pinned by test).
    run_metrics = str(_run_metrics_dir(spark, out_root, run_id))
    metrics.write.mode("overwrite").parquet(run_metrics)

    m = _ledger_totals(spark.read.schema(METRICS_SCHEMA_DDL).parquet(run_metrics))
    manifest = {
        "run_id": run_id,
        "finished_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "input_files": sorted(input_files),
        "rows_written": m["rows"],
        "output_files": m["files"],
        "checksum": m["checksum"],
    }
    p = _manifest_path(out_root, run_id)
    p.parent.mkdir(parents=True, exist_ok=True)
    p.write_text(json.dumps(manifest, indent=2))
    return manifest


class SimulatedCrash(RuntimeError):
    """Raised by merge_upsert's test-only fault-injection hook: emulates
    the process dying at a named point in the commit sequence. Production
    callers never pass `_crash_after`."""


def _live_version(ledger_dir: str) -> tuple[Path, pa.Schema] | None:
    """(version directory, footer schema of one committed file in it)
    named by the ledger's `current` pointer, or None for an
    empty/uninitialized ledger or a version that is not a committed parquet
    write. The one footer read serves both read_ledger's schema and
    merge_upsert's column check."""
    import pyarrow.parquet as pq

    root = Path(ledger_dir)
    pointer = root / "current"
    if not pointer.exists():
        return None
    vdir = root / pointer.read_text().strip()
    part = committed_parquet(vdir)
    return None if part is None else (vdir, pq.read_schema(part))


def read_ledger(spark: SparkSession, ledger_dir: str) -> DataFrame | None:
    """Reader contract for the versioned ledger: resolve the `current`
    pointer, then read that version ONLY if its directory is a committed
    parquet write (_SUCCESS present). This is exactly how merge_upsert
    resolves its base, so readers and writers can never disagree about
    which version is live — the snapshot-pointer isolation Iceberg gives.
    Returns None for an empty/uninitialized ledger.

    The version is read with the schema Spark wrote into its footer (every
    version is a Spark write by merge_upsert), so no schema-inference job
    runs."""
    live = _live_version(ledger_dir)
    if live is None:
        return None
    vdir, footer = live
    written = json.loads(footer.metadata[b"org.apache.spark.sql.parquet.row.metadata"])
    return spark.read.schema(StructType.fromJson(written)).parquet(str(vdir))


def merge_upsert(
    spark: SparkSession,
    ledger_dir: str,
    updates: DataFrame,
    key: str,
    _crash_after: str | None = None,
) -> DataFrame:
    """S12 keyed write-back: the reference's Mongo
    `update_one({key}, {$set: ...}, upsert=True)` (database_calling.py:26-35)
    as a MERGE INTO emulation over a parquet ledger.

    Semantics: rows in `updates` REPLACE ledger rows with the same key ($set,
    last-write-wins), unmatched keys are inserted (upsert). Applying the same
    update twice is a no-op — the ledger converges, it never double-applies
    (the idempotency the reference gets from SQS content dedup). A NULL key
    is one key like any other: updates with a NULL key replace the ledger's
    NULL-key row, so the ledger holds at most one of them.

    Mechanics: read the committed ledger (if any), union it (tag 0) with the
    updates (tag 1) and keep, per key, the max of struct(tag, *rest) — one
    shuffle on the key, in which an update beats the ledger row. Write the
    result to a NEW versioned directory, then atomically swap a `current`
    pointer file. Readers resolve the pointer first, so a crash mid-write
    leaves the previous version intact — the same reader-isolation Iceberg
    gives via snapshot pointers; with an Iceberg catalog this whole function
    is `MERGE INTO ledger USING updates ON ledger.{key} <=> updates.{key}
    WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *`. At
    100 TB the ledger is bucketed on the key so the shuffle is one-sided.
    """
    def _crash(point: str) -> None:
        if _crash_after == point:
            raise SimulatedCrash(point)

    root = Path(ledger_dir)
    root.mkdir(parents=True, exist_ok=True)
    pointer = root / "current"
    cols = updates.columns
    # The base is read with the schema of `updates`, so no schema-inference
    # job runs. Its columns are checked first against one file footer (no
    # Spark job either; names compared case-insensitively, as Spark
    # resolves them): a ledger with other columns raises, as the
    # unionByName below would on an inferred schema.
    live = _live_version(ledger_dir)
    base = None
    if live is not None:
        ledger_cols = live[1].names
        if sorted(c.lower() for c in ledger_cols) != sorted(c.lower() for c in cols):
            raise AnalysisException(
                message=f"merge_upsert: ledger columns {ledger_cols} differ "
                f"from update columns {cols}"
            )
        base = spark.read.schema(updates.schema).parquet(str(live[0]))
    _crash("read_base")
    # one row per key in the applied update set: MERGE semantics forbid
    # multiple matches for one key (Iceberg errors; Mongo's update_one
    # applies them serially). A batch frame has no arrival order, so the
    # deterministic resolution is max-by-struct over the full row — stable
    # across partitionings, and a caller that needs true last-write-wins
    # orders by a version column it includes in the row (duplicate keys
    # used to be inserted side by side, corrupting the ledger for every
    # later read). The tag in front makes any update beat the ledger row.
    tag = "_upsert_tag"
    rows = updates.withColumn(tag, F.lit(1))
    if base is not None:
        rows = base.withColumn(tag, F.lit(0)).unionByName(rows)
    merged = (
        rows.groupBy(key)
        .agg(F.max(F.struct(tag, *[c for c in cols if c != key])).alias("_r"))
        .select(key, "_r.*")
        .select(*cols)
    )
    version = f"v{int(pointer.read_text().strip()[1:]) + 1}" if pointer.exists() else "v0"
    merged.write.mode("overwrite").parquet(str(root / version))
    _crash("write_version")
    tmp = root / "current.tmp"
    tmp.write_text(version)
    _crash("write_tmp")
    tmp.replace(pointer)  # atomic pointer swap = commit
    _crash("swap")
    # GC superseded snapshots, keeping current + one predecessor (the
    # reader-isolation window): without this every merge retained a full
    # ledger copy forever — disk = ledger size x merge count (found by
    # review; the snapshot-expiry Iceberg calls expireSnapshots)
    import shutil as _sh

    keep = {version, f"v{int(version[1:]) - 1}"}
    for vdir in root.glob("v*"):
        if vdir.is_dir() and vdir.name not in keep:
            _sh.rmtree(vdir, ignore_errors=True)
    _crash("gc")
    return spark.read.schema(merged.schema).parquet(str(root / version))


def verify_table(spark: SparkSession, out_root: str) -> dict:
    """Cross-check the extracted table against the metrics ledger:
    row counts and the global bit_xor checksum must agree."""
    ext = _read_extracted(spark, out_root)
    got = ext.agg(
        F.count(F.lit(1)).alias("rows"),
        F.countDistinct("url").alias("urls"),
        F.bit_xor(F.xxhash64("url", "text")).alias("checksum"),
    ).collect()[0]
    want = _ledger_totals(
        spark.read.schema(METRICS_SCHEMA_DDL + ", run_id string").parquet(
            str(_metrics_dir(out_root))
        )
    )
    rows, urls = int(got["rows"]), int(got["urls"])
    checksum = int(got["checksum"] or 0)  # bit_xor of no rows is NULL
    return {
        "rows": rows,
        "distinct_urls": urls,
        "checksum": checksum,
        "ledger_rows": want["rows"],
        "ledger_checksum": want["checksum"],
        "consistent": rows == want["rows"]
        and checksum == want["checksum"]
        and rows == urls,
    }
