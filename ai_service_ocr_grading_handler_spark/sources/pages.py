"""Pages-table source/sink: schema-enforced reads, day-partitioned writes.

The authoritative input shape (BASELINE.json input_hint):
``(url string, warc_ts timestamp, html binary, text string, lang string)``.
With an Iceberg catalog this module maps to hidden partitioning
``bucket(N, warc_ts)`` / ``days(warc_ts)`` and snapshot-incremental reads;
the parquet layout here is the catalog-free equivalent: an explicit
``warc_day`` partition column so time predicates prune directories (shown
as PartitionFilters in .explain), plus the lineage module's manifests for
snapshot semantics.

Reference analog: the SQS event scan S1/S2
(/root/reference/engine/service_handler.py:153-184) — JSON bodies with
per-producer key spelling become a FIXED StructType at this boundary with
tolerant coalescing applied ONCE (SURVEY.md §1.2), not everywhere.
"""

from __future__ import annotations

from pathlib import Path

import pyspark.sql.functions as F
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

PAGES_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("html", BinaryType(), True),
        StructField("text", StringType(), True),
        StructField("lang", StringType(), True),
    ]
)

PAGES_COLUMNS = [f.name for f in PAGES_SCHEMA.fields]


def committed_parquet(d: Path) -> Path | None:
    """The first COMMITTED parquet file under `d` (or `d` itself when it is
    one), or None. Leftover task files under _temporary/ (driver killed
    before abortJob cleanup) and other _/.-prefixed paths are ignored —
    Spark's reader skips them, so a probe that counted them would make the
    subsequent read fail in exactly the crash scenario resume exists for."""
    if d.is_file():
        return d
    for p in d.rglob("*.parquet"):
        rel = p.relative_to(d)
        if not any(part.startswith(("_", ".")) for part in rel.parts):
            return p
    return None


def _check_columns(path: str) -> None:
    """Raise if the table at `path` lacks a PAGES_SCHEMA column, as a
    select on its inferred schema would. Reads one file footer plus the
    `key=value` directory names above that file (a partition column can
    carry a pages column), so no Spark job runs. Names compare
    case-insensitively, as Spark resolves them."""
    import pyarrow.parquet as pq

    root = Path(path)
    part = committed_parquet(root)
    if part is None:
        raise AnalysisException(message=f"read_pages: no committed parquet file under {path}")
    dirs = part.relative_to(root).parts[:-1]
    have = {n.lower() for n in pq.read_schema(part).names}
    have |= {d.split("=", 1)[0].lower() for d in dirs if "=" in d}
    missing = [c for c in PAGES_COLUMNS if c.lower() not in have]
    if missing:
        raise AnalysisException(
            message=f"read_pages: {path} lacks pages columns {missing} (has {sorted(have)})"
        )


def write_pages_partitioned(pages: DataFrame, path: str) -> None:
    """Day-partitioned pages sink (the Iceberg days(warc_ts) analog).

    Partitions are derived, never stored twice: `warc_day` is dropped on
    read. sortWithinPartitions(warc_day, url) clusters each file for
    url-range skipping WITHOUT a global sort (no extra shuffle beyond the
    partition split — SURVEY.md §7 hard-point (d)). The partition column
    LEADS the sort: partitionBy requires ordering on warc_day, so sorting
    by url alone makes the writer insert its own Sort(warc_day) on top —
    a redundant per-task sort whose spill-merge does not preserve url
    order within equal days, silently losing the promised clustering
    (found by review)."""
    (
        pages.withColumn("warc_day", F.to_date("warc_ts"))
        .sortWithinPartitions("warc_day", "url")
        .write.mode("overwrite")
        .partitionBy("warc_day")
        .parquet(path)
    )


def read_pages(
    spark: SparkSession,
    path: str,
    since: str | None = None,
    until: str | None = None,
    langs: list[str] | None = None,
) -> DataFrame:
    """Schema-enforced pages read with pushdown-friendly predicates.

    The table is read with PAGES_SCHEMA, not an inferred schema, so the
    read runs no Spark job and `warc_ts` is a session-zone timestamp
    whichever writer made the file (pyarrow's naive timestamps infer as
    timestamp_ntz). A table missing a pages column raises.

    Time bounds hit the `warc_day` partition column -> directory pruning
    (PartitionFilters); lang hits parquet row-group stats (PushedFilters).
    Apply any further row predicates BEFORE the extraction kernel — it is
    a pushdown barrier (operators/extract.py)."""
    _check_columns(path)
    df = spark.read.schema(PAGES_SCHEMA).parquet(path)
    if "warc_day" in df.columns:
        if since is not None:
            df = df.filter(F.col("warc_day") >= F.lit(since).cast("date"))
        if until is not None:
            df = df.filter(F.col("warc_day") < F.lit(until).cast("date"))
    else:
        if since is not None:
            df = df.filter(F.col("warc_ts") >= F.lit(since).cast("timestamp"))
        if until is not None:
            df = df.filter(F.col("warc_ts") < F.lit(until).cast("timestamp"))
    if langs:
        df = df.filter(F.col("lang").isin(*langs))
    return df.select(*PAGES_COLUMNS)
