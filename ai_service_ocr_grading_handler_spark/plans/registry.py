"""Query registry: every implemented operator as (spark_fn, oracle_sql) pairs.

The driver contract (/root/repo/__spark_entry__.py) exposes `queries()` and
`oracle_sql()` from this registry. Each Spark callable takes
``(spark, sf_dir)`` and returns a DataFrame whose column NAMES match the
oracle SQL exactly (the driver sorts columns by name before value-hashing).

Conventions:
- aggregates of doubles are rounded identically on both sides (Spark sum
  order != DuckDB sum order; rounding absorbs the float noise).
- oracle SQL runs on DuckDB with views: region nation customer supplier part
  orders lineitem events documents embeddings.
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ai_service_ocr_grading_handler_spark.corpus import (
    DUCKDB_GOLDEN_TEXT_EXPR,
    DUCKDB_HOST_EXPR,
    DUCKDB_GRADING_PROMPT,
    DUCKDB_LEVEL_AT_I,
    DUCKDB_MODEL_NAME,
    DUCKDB_RESP_SCORE,
    DUCKDB_RUBRIC_CRITERIA,
    DUCKDB_RUBRIC_ID,
    DUCKDB_RUBRIC_MAX,
    DUCKDB_URL_EXPR,
    pages_df_from_documents,
    requests_df,
    url_col,
)
from ai_service_ocr_grading_handler_spark.core.partitioning import widen_if_narrow
from ai_service_ocr_grading_handler_spark.core.textops import LLM_NAME_MAPPING
from ai_service_ocr_grading_handler_spark.functions import spans
from ai_service_ocr_grading_handler_spark.operators import ensemble, scoring
from ai_service_ocr_grading_handler_spark.operators.extract import extract_pages

SparkQuery = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, tuple[SparkQuery, str | None]] = {}


def register(name: str, sql: str | None):
    def deco(fn: SparkQuery) -> SparkQuery:
        _REGISTRY[name] = (fn, sql)
        return fn

    return deco


def queries() -> dict[str, SparkQuery]:
    return {k: v[0] for k, v in _REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {k: v[1] for k, v in _REGISTRY.items() if v[1] is not None}


# Library tier: fully-oracled queries OUTSIDE the driver's 50-slot
# correctness window. Same contract as the registry (spark_fn, oracle_sql),
# same pytest parity gate (tests/test_registry_parity.py parametrizes over
# BOTH dicts) — only the external driver's per-round check skips them. Used
# for redundant built-in-family demonstrations whose slots were re-spent on
# the training-data curation tier.
_LIBRARY: dict[str, tuple[SparkQuery, str | None]] = {}


def register_library(name: str, sql: str | None):
    def deco(fn: SparkQuery) -> SparkQuery:
        _LIBRARY[name] = (fn, sql)
        return fn

    return deco


def library_queries() -> dict[str, SparkQuery]:
    return {k: v[0] for k, v in _LIBRARY.items()}


def library_oracle_sql() -> dict[str, str]:
    return {k: v[1] for k, v in _LIBRARY.items() if v[1] is not None}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _tw(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Like _t, but widened to full parallelism when the scan is narrower
    than the executor — for queries whose dominant cost is a compute-heavy
    per-row projection directly on the scan (at bench scale these tables
    are single ~6-16 MB parquet splits, so the kernel otherwise runs in ONE
    task on a 32-core executor; no-op on wide inputs — see
    core.partitioning.widen_if_narrow)."""
    return widen_if_narrow(_t(spark, sf_dir, name))


# ---------------------------------------------------------------------------
# Flagship: main-content extraction (north rule)
# ---------------------------------------------------------------------------

_EXTRACT_ORACLE = f"""
SELECT {DUCKDB_URL_EXPR.format(id='doc_id', src='source')} AS url,
       {DUCKDB_GOLDEN_TEXT_EXPR.format(col='text')} AS text,
       length({DUCKDB_GOLDEN_TEXT_EXPR.format(col='text')}) AS content_chars,
       lang
FROM documents
"""


@register("extract_pages", _EXTRACT_ORACLE)
def q_extract_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule pipeline: synthesize CC-style pages from `documents`, strip
    boilerplate with the Arrow-batched kernel, return per-url extracted text.
    The oracle reconstructs the ground truth directly from `documents.text`,
    so a value-hash match proves byte-identical extraction per url."""
    pages = pages_df_from_documents(spark, sf_dir)
    return extract_pages(pages).select(
        "url", "text", F.col("content_chars").cast("long").alias("content_chars"), "lang"
    )


# ---------------------------------------------------------------------------
# Relational core parity (Spark built-ins vs DuckDB) — SURVEY.md §2.3-§2.6
# ---------------------------------------------------------------------------


@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           round(avg(l_quantity), 4) AS avg_qty,
           round(avg(l_extendedprice), 4) AS avg_price,
           round(avg(l_discount), 4) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2002-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: partial+final hash aggregation, one shuffle on the
    2-column group key; predicate pushed to the parquet scan."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2002-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


@register_library(
    "q3_shipping_priority",
    """
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '2001-03-15'
      AND l_shipdate > TIMESTAMP '2001-03-15'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape. `customer` is tiny relative to lineitem -> broadcast
    both dimension joins so only the final group-by shuffles."""
    cutoff = F.lit("2001-03-15").cast("timestamp")
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(F.broadcast(orders), li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "join_semi_anti",
    """
    SELECT
      (SELECT count(*) FROM part p WHERE EXISTS
         (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)) AS n_parts_used,
      (SELECT count(*) FROM part p WHERE NOT EXISTS
         (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)) AS n_parts_unused
    """,
)
def q_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi/anti-join semantics in ONE pass: left join against the distinct
    key set + conditional aggregation — one lineitem scan and one action
    instead of two separate semi/anti jobs (the `left_semi`/`left_anti`
    operators themselves are exercised by minhash_lsh_neardups and the
    lineage resume anti-join)."""
    part = _t(spark, sf_dir, "part")
    keys = _t(spark, sf_dir, "lineitem").select("l_partkey").distinct()
    joined = part.join(keys, part.p_partkey == keys.l_partkey, "left")
    return joined.agg(
        F.count(F.col("l_partkey")).alias("n_parts_used"),
        F.count(F.when(F.col("l_partkey").isNull(), 1)).alias("n_parts_unused"),
    )


@register(
    "events_hourly_rollup",
    """
    SELECT date_trunc('hour', ts) AS hour_ts, event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value,
           count(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling time-bucket aggregation (batch analog of the streaming
    windowed agg in §2.9)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.date_trunc("hour", "ts").alias("hour_ts"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("hour_ts", "event_type")
    )


@register(
    "events_latest_per_user",
    """
    SELECT user_id, event_id AS last_event_id, event_type AS last_event_type
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    )
    WHERE rn = 1
    ORDER BY user_id
    """,
)
def q_events_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-snapshot dedup via window row_number (§2.5) — the Common-Crawl
    'latest capture per url' pattern (and the SQS FIFO dedup analog)."""
    from pyspark.sql import Window

    # widened BY user_id: the single-split events scan otherwise runs the
    # pre-shuffle Sort+WindowGroupLimit over 1M rows in one task (safe
    # here — the window's (ts, event_id) order is total per user, so the
    # result is partitioning-independent; the float-summing events rollup
    # is NOT widened for exactly that reason). Hash partitioning, not the
    # keyless default: a round-robin repartition first pays a LOCAL SORT
    # of the whole single-split input (sortBeforeRepartition, guide §2.5)
    # — measured as a net 0.3 s regression on this 1M-row table — and the
    # window shuffle is by user_id anyway, so this exchange satisfies the
    # window's requirement and replaces it (one shuffle total).
    ev = widen_if_narrow(
        _t(spark, sf_dir, "events"), by=F.col("user_id")
    )
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_event_type"),
        )
        .orderBy("user_id")
    )


from ai_service_ocr_grading_handler_spark.operators import textquality as _tq


@register(
    "doc_token_stats",
    f"""
    SELECT doc_id,
           len(string_split(trim(text), ' ')) AS n_tokens,
           {_tq.duck_bpe_token_count('text')} AS n_bpe_tokens,
           length(text) AS n_chars_computed,
           round(len(string_split(trim(text), ' ')) / (length(text) / 100.0), 4)
             AS tokens_per_100_chars
    FROM documents
    WHERE length(text) > 0
    ORDER BY doc_id
    """,
)
def q_doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting over `documents` (§'text analysis'): whitespace
    tokens AND tokenizer-style BPE-ish pre-token counts (RE2-safe regex) in
    one projection, all JVM-side — no Python in the plan."""
    docs = _tw(spark, sf_dir, "documents").filter(F.length("text") > 0)
    n_tokens = F.size(F.split(F.trim(F.col("text")), " "))
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        _tq.bpe_token_count("text").alias("n_bpe_tokens"),
        F.length("text").alias("n_chars_computed"),
        F.round(n_tokens / (F.length("text") / F.lit(100.0)), 4).alias(
            "tokens_per_100_chars"
        ),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Grading/scoring parity (SURVEY.md §2.2/§2.3/§2.4: P6-P9, J2, J3, A1, A2, T6)
# ---------------------------------------------------------------------------

_REQ_FROM = "FROM documents d, range(0, 3) t(i) WHERE t.i <= d.doc_id % 3"


@register(
    "grade_requests",
    f"""
    SELECT d.doc_id,
           {DUCKDB_GRADING_PROMPT.replace('doc_id', 'd.doc_id')} AS grading_prompt,
           round(sum({DUCKDB_RESP_SCORE.replace('doc_id', 'd.doc_id')}), 2) AS score,
           round(sum({DUCKDB_RUBRIC_MAX.replace('doc_id', 'd.doc_id')}), 2) AS max_score,
           sum({DUCKDB_RESP_SCORE.replace('doc_id', 'd.doc_id')})
             = sum({DUCKDB_RUBRIC_MAX.replace('doc_id', 'd.doc_id')}) AS is_correct,
           (d.text = '' OR lower(d.text) = 'Empty Response') AS is_blank
    {_REQ_FROM}
    GROUP BY d.doc_id, d.text
    ORDER BY d.doc_id
    """,
)
def q_grade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full grading stage (K10 fuse minus the kernel): positional rubric zip
    J3, array-fold sums A1, flags P8/P9 — all native columns, zero shuffles
    besides none (per-row folds)."""
    req = requests_df(spark, sf_dir)
    g = scoring.grade(req)
    return g.select(
        "doc_id",
        "grading_prompt",
        F.round("score", 2).alias("score"),
        F.round("max_score", 2).alias("max_score"),
        "is_correct",
        "is_blank",
    ).orderBy("doc_id")


@register_library(
    "rubric_zip_exploded",
    f"""
    SELECT d.doc_id, t.i AS pos,
           {DUCKDB_RUBRIC_ID.replace('doc_id', 'd.doc_id')} AS rubricId,
           {DUCKDB_RESP_SCORE.replace('doc_id', 'd.doc_id')} AS rubricWiseScore,
           {DUCKDB_RUBRIC_MAX.replace('doc_id', 'd.doc_id')} AS rubricWiseMaxScore,
           {DUCKDB_RUBRIC_CRITERIA.replace('doc_id', 'd.doc_id')} AS criteria
    {_REQ_FROM}
    ORDER BY d.doc_id, pos
    """,
)
def q_rubric_zip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 positional zip, exploded to scalar rows (posexplode) so the oracle
    checks every grafted field at every position."""
    req = requests_df(spark, sf_dir)
    zipped = req.withColumn(
        "rwr", scoring.rubric_zip(F.col("rubrics"), F.col("responses"))
    )
    return zipped.select(
        "doc_id", F.posexplode("rwr").alias("pos", "r")
    ).select(
        "doc_id",
        F.col("pos").cast("long").alias("pos"),
        F.col("r.rubricId").alias("rubricId"),
        F.col("r.rubricWiseScore").alias("rubricWiseScore"),
        F.col("r.rubricWiseMaxScore").alias("rubricWiseMaxScore"),
        F.col("r.criteria").alias("criteria"),
    ).orderBy("doc_id", "pos")


def _model_case_sql(field: str) -> str:
    whens = " ".join(
        f"WHEN '{alias}' THEN '{v[field]}'" for alias, v in LLM_NAME_MAPPING.items()
    )
    return f"CASE model_alias {whens} ELSE 'model does not found' END"


@register(
    "route_requests",
    f"""
    WITH r AS (
      SELECT doc_id, {DUCKDB_GRADING_PROMPT} AS gp, {DUCKDB_MODEL_NAME} AS mn
      FROM documents
    ), a AS (
      SELECT doc_id,
        CASE WHEN gp = 'expository-essay-ocr' THEN 'claude-vision-ocr'
             WHEN gp IN ('ocr', 'OCR', 'gpt-ocr') THEN 'gpt-ocr-vision'
             WHEN gp = 'gpt-grading-only' THEN 'gpt-4-latest'
             WHEN gp = 'claude-ocr' THEN 'claude-vision-ocr'
             WHEN gp = 'argumentative-essay-ocr' THEN 'shozemi-gpt-latest'
             WHEN gp = 'gemini-number' THEN 'gemini-vision-number'
             WHEN gp = 'whole-page-ocr' THEN 'whole-page-ocr'
             ELSE CASE WHEN mn IS NOT NULL AND mn <> '' THEN mn ELSE 'gpt-4-latest' END
        END AS model_alias
      FROM r
    )
    SELECT doc_id, model_alias,
           {_model_case_sql('modelName')} AS model_name,
           {_model_case_sql('modelClass')} AS model_class
    FROM a ORDER BY doc_id
    """,
)
def q_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 routing chain + J2 broadcast dim join (16-row model table)."""
    req = requests_df(spark, sf_dir)
    routed = req.withColumn(
        "model_alias",
        scoring.route_alias(F.col("grading_prompt"), F.col("model_name_raw")),
    )
    mapped = scoring.with_model_mapping(routed, spark)
    return mapped.select("doc_id", "model_alias", "model_name", "model_class").orderBy(
        "doc_id"
    )


@register_library(
    "rubric_stringify",
    f"""
    SELECT d.doc_id,
           'Rubrics: ' || string_agg(
             {DUCKDB_RUBRIC_MAX.replace('doc_id', 'd.doc_id')}::varchar
               || ' Points: ' || {DUCKDB_RUBRIC_CRITERIA.replace('doc_id', 'd.doc_id')} || ', ',
             '' ORDER BY t.i) AS rubric_string
    {_REQ_FROM}
    GROUP BY d.doc_id
    ORDER BY d.doc_id
    """,
)
def q_rubric_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6 rubric stringification (utils.py:132-140) as a per-row array fold."""
    req = requests_df(spark, sf_dir)
    return req.select(
        "doc_id", scoring.rubric_to_string(F.col("rubrics")).alias("rubric_string")
    ).orderBy("doc_id")


@register_library(
    "level_confidence",
    f"""
    SELECT doc_id,
           round(sum(CASE WHEN lv IN ('Effective','Good','Satisfactory') THEN 1.0
                          WHEN lv IN ('Normal','Fair') THEN 0.5
                          ELSE 0.0 END), 1) AS confidence
    FROM (
      SELECT d.doc_id, {DUCKDB_LEVEL_AT_I.replace('doc_id', 'd.doc_id')} AS lv
      FROM documents d, range(0, 4) t(i) WHERE t.i <= d.doc_id % 4
    )
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def q_level_conf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 level->score aggregation (utils.py:146-162) as aggregate(transform)."""
    req = requests_df(spark, sf_dir)
    return req.select(
        "doc_id", F.round(scoring.level_score(F.col("levels")), 1).alias("confidence")
    ).orderBy("doc_id")


@register_library(
    "empty_short_circuit",
    """
    WITH x AS (
      SELECT doc_id,
             CASE WHEN doc_id % 11 = 0 THEN 'given image is empty' ELSE text END AS ocr,
             0.5 * (doc_id % 7) AS raw_score
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN lower(ocr) = 'given image is empty' THEN 0.0 ELSE raw_score END AS final_score,
           CASE WHEN lower(ocr) = 'given image is empty' THEN 'No answer provided'
                ELSE 'graded' END AS final_feedback
    FROM x ORDER BY doc_id
    """,
)
def q_empty_sc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 empty-document short-circuit (gen_ai_calling.py:298-299,319-320):
    predicate-gated columns, no plan branch."""
    docs = _t(spark, sf_dir, "documents")
    x = docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 11 == 0, F.lit(scoring.EMPTY_DOC_SENTINEL))
        .otherwise(F.col("text"))
        .alias("ocr"),
        (F.lit(0.5) * (F.col("doc_id") % 7)).alias("raw_score"),
    )
    score, feedback = scoring.empty_short_circuit(
        F.col("ocr"), F.col("raw_score"), F.lit("graded")
    )
    return x.select(
        "doc_id", score.alias("final_score"), feedback.alias("final_feedback")
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Span extractors T1-T3 (utils.py:167-203) — pandas-UDF kernels whose oracle
# reconstructs the expected output WITHOUT regex (proves the extractor, not
# just regex-engine agreement).
# ---------------------------------------------------------------------------

_PAYLOAD_SPARK = "array_join(slice(split(text, ' '), 1, 8), ' ')"
_PAYLOAD_DUCK = "array_to_string(list_slice(string_split(text, ' '), 1, 8), ' ')"


@register(
    "span_extract",
    f"""
    SELECT doc_id, (doc_id % 4)::int AS variant,
           {_PAYLOAD_DUCK} AS ocr_extracted,
           CASE WHEN doc_id % 2 = 0
                THEN '{{"score": ' || (doc_id % 10) || '}}'
                ELSE 'plain response ' || {_PAYLOAD_DUCK}
           END AS claude_extracted
    FROM documents ORDER BY doc_id
    """,
)
def q_span_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1+T2 `find_data_in_string` spans in one projection.

    T1 (`ocr`): four raw-model-output shapes (ocr:'...', {{"ocr": "..."}},
    quote-wrapped, plain) must all yield the bare payload. Variant 0 uses
    single quotes: the reference strips leading/trailing DOUBLE quotes
    before matching (utils.py:169), so `ocr: "x"` loses its closing quote
    and falls through — single-quoted payloads are the shape the extractor
    actually recovers.

    T2 (`claude-json`): first minimal {{...}} block, else the whole input."""
    docs = _t(spark, sf_dir, "documents")
    payload = F.expr(_PAYLOAD_SPARK)
    variant = (F.col("doc_id") % 4).cast("int")
    raw_ocr = (
        F.when(variant == 0, F.concat(F.lit("ocr: '"), payload, F.lit("'")))
        .when(variant == 1, F.concat(F.lit('{"ocr": "'), payload, F.lit('"}')))
        .when(variant == 2, F.concat(F.lit('""'), payload, F.lit('""')))
        .otherwise(payload)
    )
    raw_claude = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(
            F.lit('model says {"score": '),
            (F.col("doc_id") % 10).cast("string"),
            F.lit("} trailing text"),
        ),
    ).otherwise(F.concat(F.lit("plain response "), payload))
    return docs.select(
        "doc_id",
        variant.alias("variant"),
        spans.extract_ocr_span(raw_ocr).alias("ocr_extracted"),
        spans.extract_claude_json(raw_claude).alias("claude_extracted"),
    ).orderBy("doc_id")


@register(
    "essay_feedback_parse",
    """
    SELECT d.doc_id,
           string_agg('fp-' || t.i || ' - imp-' || t.i, chr(10) || chr(10)
                      ORDER BY t.i) AS feedback,
           round(sum(CASE
             WHEN (['Effective','Good','Satisfactory','Normal','Fair','Poor']
                   [((d.doc_id + t.i) % 6)::int + 1])
                  IN ('Effective','Good','Satisfactory') THEN 1.0
             WHEN (['Effective','Good','Satisfactory','Normal','Fair','Poor']
                   [((d.doc_id + t.i) % 6)::int + 1])
                  IN ('Normal','Fair') THEN 0.5
             ELSE 0.0 END), 1) AS confidence
    FROM documents d, range(0, 3) t(i) WHERE t.i <= d.doc_id % 3
    GROUP BY d.doc_id ORDER BY d.doc_id
    """,
)
def q_essay_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3+A2 (K11 tail): multi-JSON essay feedback blocks parsed out of raw
    text, formatted, level-scored — the argumentative-essay-ocr pipeline
    (utils.py:190-203 + utils.py:146-162)."""
    docs = _t(spark, sf_dir, "documents")
    lv = (
        "element_at(array('Effective','Good','Satisfactory','Normal','Fair','Poor'),"
        " cast(pmod(doc_id + j, 6) as int) + 1)"
    )
    raw = F.expr(
        "array_join(transform(sequence(0, cast(doc_id % 3 as int)), j -> concat("
        " '{\"FeedbackPointName\": \"fp-', cast(j as string),"
        " '\", \"levelName\": \"', " + lv + ","
        " '\", \"improvement\": \"imp-', cast(j as string), '\"}')), '\n')"
    )
    parsed = spans.parse_essay_feedback(raw)
    return docs.select(
        "doc_id",
        parsed.getField("feedback").alias("feedback"),
        F.round(parsed.getField("confidence"), 1).alias("confidence"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Group-batch ensemble/number kernel (K12/K13/A5/A3/J4/T9)
# ---------------------------------------------------------------------------


@register(
    "ensemble_number_batch",
    """
    WITH r AS (
      SELECT doc_id,
             doc_id // 8 AS batch_id,
             (doc_id % 8)::int AS pos,
             ((doc_id * 7) % 100)::int AS correct_answer,
             1.0 + (doc_id % 3) AS max_score,
             CASE WHEN doc_id % 8 = 0 OR doc_id % 5 <> 1
                  THEN ((doc_id * 7) % 100)::int
                  ELSE ((doc_id * 7 + 3) % 100)::int END AS predicted
      FROM documents
    ), s AS (
      SELECT *, length('PNGFAKE|' || predicted) AS w, 20 + (predicted % 5) AS h
      FROM r
    )
    SELECT doc_id, batch_id, pos, predicted, correct_answer,
           last_value(CASE WHEN predicted = correct_answer THEN max_score END
                      IGNORE NULLS)
             OVER (PARTITION BY batch_id ORDER BY pos) AS score,
           max_score,
           TRUE AS batch_valid,
           (max(w) OVER (PARTITION BY batch_id))::int AS stacked_width,
           (sum(h) OVER (PARTITION BY batch_id)
              + 10 * (count(*) OVER (PARTITION BY batch_id) - 1))::int
             AS stacked_height
    FROM s ORDER BY doc_id
    """,
)
def q_ensemble_numbers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full NumberOCR batch lifecycle in one applyInPandas group kernel:
    stack fold A5, single batched parse K13, count check A3, positional
    exact-match scoring J4 with the reference's stale-score quirk
    (llm_number_prediction.py:185-205). Oracle replays the quirk with
    last_value(... IGNORE NULLS) over the batch window."""
    req = ensemble.number_requests(spark, sf_dir)
    return ensemble.predict_numbers(req).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Deduplication tier (exact / n-gram Jaccard / MinHash-LSH / SimHash)
# ---------------------------------------------------------------------------

from ai_service_ocr_grading_handler_spark.operators import dedup as _dd
from ai_service_ocr_grading_handler_spark.operators import similarity as _sim


@register(
    "exact_dedup",
    f"""
    WITH dup AS ({_dd.DUP_CORPUS_DUCK})
    SELECT md5(text) AS content_md5, min(doc_id) AS canonical_id,
           count(*) AS n_copies
    FROM dup GROUP BY 1 ORDER BY canonical_id
    """,
)
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup = hash-groupBy on md5(text); the 20%-planted exact copies
    collapse onto their canonical (minimum) id. One shuffle on the hash key
    — the SQS MessageDeduplicationId analog, content-keyed."""
    return _dd.exact_dedup(_dd.dup_corpus(spark, sf_dir)).orderBy("canonical_id")


@register_library(
    "ngram_jaccard_pairs",
    f"""
    WITH dup AS ({_dd.DUP_CORPUS_DUCK}),
    sh AS (SELECT doc_id, unnest({_dd.SHINGLES_DUCK}) AS sh FROM dup),
    counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    pairs AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS shared
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT a_id, b_id, shared,
           round(shared / (ca.n + cb.n - shared), 4) AS jaccard
    FROM pairs
    JOIN counts ca ON ca.doc_id = a_id
    JOIN counts cb ON cb.doc_id = b_id
    WHERE shared / (ca.n + cb.n - shared) >= 0.6
    ORDER BY a_id, b_id
    """,
)
def q_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs (threshold 0.6) — the
    correctness baseline the MinHash-LSH tier verifies against."""
    return _dd.jaccard_pairs(_dd.dup_corpus(spark, sf_dir)).orderBy("a_id", "b_id")


@register("minhash_lsh_neardups", _dd.minhash_lsh_duck(_dd.DUP_CORPUS_DUCK, 0.6))
def q_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32) -> 16x2 LSH banding -> bucket-join candidates ->
    candidate-only exact verification (corpus semi-joined to candidate ids
    BEFORE the shingle explode). All hashing is md5-derived, so the DuckDB
    oracle value-checks signatures, band keys and Jaccard; additionally
    tests/test_dedup.py asserts the output EQUALS ngram_jaccard_pairs on
    the planted corpus (recall 1.0)."""
    return _dd.minhash_lsh_neardups(_dd.dup_corpus(spark, sf_dir)).orderBy(
        "a_id", "b_id"
    )


@register_library(
    "exact_substr_dedup",
    _dd.exact_substr_dedup_duck(_dd.DUP_CORPUS_DUCK, 8) + " ORDER BY 1",
)
def q_exact_substr_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr span-level dedup (Lee et al. arXiv:2107.06499) at k=8
    words over the planted-duplicate corpus: every 8-gram occurring at
    more than one (doc, position) is cut from all but its first
    occurrence, so the +1M exact and +2M truncated copies come back
    (near-)empty while originals survive verbatim. Full value oracle: the
    DuckDB twin replays the identical md5-gram window-rank +
    gaps-and-islands pipeline and compares reassembled TEXT, not counts."""
    return _dd.exact_substr_dedup(_dd.dup_corpus(spark, sf_dir), k=8).orderBy(
        "doc_id"
    )


from ai_service_ocr_grading_handler_spark.operators import curation as _curation


def _cdx_ts_duck() -> str:
    return (
        "'20240101'"
        " || lpad(((doc_id % 86400) // 3600)::varchar, 2, '0')"
        " || lpad((((doc_id % 86400) % 3600) // 60)::varchar, 2, '0')"
        " || lpad(((doc_id % 86400) % 60)::varchar, 2, '0')"
    )


def _cdx_url_duck() -> str:
    base = DUCKDB_URL_EXPR.format(id="doc_id", src="source")
    u = f"CASE WHEN doc_id % 5 = 0 THEN regexp_replace({base}, '^(https://[^/]*)/', '\\1:443/') ELSE {base} END"
    u = f"CASE WHEN doc_id % 3 = 0 THEN {u} || '?b=2&a=1&utm_source=x' ELSE {u} END"
    return (
        f"CASE WHEN doc_id % 4 = 0 THEN upper(regexp_replace({u}, '^https://', 'https://www.'))"
        f" ELSE {u} END"
    )


@register_library(
    "cdx_index",
    f"""
    WITH pages AS (
      SELECT {_cdx_url_duck()} AS url, {_cdx_ts_duck()} AS warc_ts, text
      FROM documents
    )
    SELECT {_curation.surt_key_duck('url')} AS surt,
           warc_ts, url, md5(text) AS digest, length(text) AS length
    FROM pages
    ORDER BY surt, warc_ts
    """,
)
def q_cdx_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX(J) capture index — the sharded URL index format every Common
    Crawl release ships: SURT keys (host-reversed, www/port/scheme
    stripped, query params sorted) totally ordered by (surt, timestamp)
    so per-host range scans are contiguous. The synthesized pages plant
    the canonicalization hazards (UPPERCASE www-prefixed hosts, unsorted
    query strings with tracking params, explicit :443 default ports) on
    deterministic doc_id residues, identically in both engines; the
    DuckDB twin value-checks key text, digests and the total order."""
    d = F.col("doc_id")
    u = url_col("doc_id", "source")
    u = F.when(d % 5 == 0, F.regexp_replace(u, "^(https://[^/]*)/", "$1:443/")).otherwise(u)
    u = F.when(d % 3 == 0, F.concat(u, F.lit("?b=2&a=1&utm_source=x"))).otherwise(u)
    u = F.when(
        d % 4 == 0, F.upper(F.regexp_replace(u, "^https://", "https://www."))
    ).otherwise(u)
    s = d % 86400
    ts = F.concat(
        F.lit("20240101"),
        F.lpad((s / 3600).cast("int").cast("string"), 2, "0"),
        F.lpad(((s % 3600) / 60).cast("int").cast("string"), 2, "0"),
        F.lpad((s % 60).cast("string"), 2, "0"),
    )
    pages = _t(spark, sf_dir, "documents").select(
        u.alias("url"), ts.alias("warc_ts"), "text"
    )
    return _curation.cdx_index(pages, content_col="text")


_URL_BASE_DUCK = DUCKDB_URL_EXPR.format(id="doc_id", src="source")


@register_library(
    "url_dedup_latest",
    _curation.url_capture_dedup_duck(
        f"""
        SELECT {_URL_BASE_DUCK} AS url, {_cdx_ts_duck()} AS warc_ts, text
        FROM documents
        UNION ALL
        SELECT upper(regexp_replace({_URL_BASE_DUCK}, '^https://', 'https://www.')) AS url,
               replace({_cdx_ts_duck()}, '20240101', '20240102') AS warc_ts,
               text || ' (recrawl)' AS text
        FROM documents WHERE doc_id % 2 = 0
        """
    )
    + " ORDER BY surt",
)
def q_url_dedup_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level capture dedup — keep the LATEST capture per canonical
    SURT key, the pass every Common-Crawl-derived corpus runs before
    content dedup. The fixture plants a re-crawl for every even doc_id
    (same page behind a www-prefixed UPPERCASED URL, one day later,
    changed body), so half the corpus has a genuine URL-level duplicate
    whose canonical keys collide only through SURT; the survivor must be
    the re-crawl. One hash shuffle; the winner is a map-side-combinable
    max(struct(...)) aggregate, never a per-capture window (hot-URL-skew
    safe). DuckDB twin value-checks surviving url, timestamp AND body."""
    d = F.col("doc_id")
    base = url_col("doc_id", "source")
    s = d % 86400
    hhmmss = F.concat(
        F.lpad((s / 3600).cast("int").cast("string"), 2, "0"),
        F.lpad(((s % 3600) / 60).cast("int").cast("string"), 2, "0"),
        F.lpad((s % 60).cast("string"), 2, "0"),
    )
    docs = _t(spark, sf_dir, "documents")
    first = docs.select(
        base.alias("url"),
        F.concat(F.lit("20240101"), hhmmss).alias("warc_ts"),
        "text",
    )
    recrawl = docs.filter(d % 2 == 0).select(
        F.upper(F.regexp_replace(base, "^https://", "https://www.")).alias("url"),
        F.concat(F.lit("20240102"), hhmmss).alias("warc_ts"),
        F.concat(F.col("text"), F.lit(" (recrawl)")).alias("text"),
    )
    return _curation.url_capture_dedup(first.unionByName(recrawl)).orderBy("surt")


@register_library(
    "domain_cap",
    _curation.domain_cap_duck(
        f"SELECT doc_id, {_URL_BASE_DUCK} AS url FROM documents", k=8
    )
    + " ORDER BY doc_id",
)
def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap (C4/RefinedWeb host balancing): keep at
    most k=8 docs per host, the 8 that sort first by (md5(url), url) — a
    deterministic pseudo-random draw independent of crawl order,
    partitioning and cluster size. The synthetic url table is itself
    skewed (30% of docs on host0), so the fixture exercises exactly the
    viral-host shape the operator exists for. Spark executes as salted
    two-phase top-k over a key-only projection (see
    operators/curation.py:domain_cap for why the salt provably cancels);
    the DuckDB twin is the plain unsalted per-host row_number — a hash
    match proves the salted plan computes the unsalted semantics."""
    pages = _t(spark, sf_dir, "documents").select(
        "doc_id", url_col("doc_id", "source").alias("url")
    )
    return _curation.domain_cap(pages, k=8, salt_buckets=4).orderBy("doc_id")


_UF_BLOCKED = ["host7.example.com", "bad-ads.example.net"]
_UF_WORDS = ["casino", "xxx", "bonus"]
_UF_URL_DUCK = (
    f"CASE WHEN doc_id % 17 = 0 THEN"
    f" 'https://sub.bad-ads.example.net/' || source || '/' || doc_id"
    f" WHEN doc_id % 11 = 0 THEN {_URL_BASE_DUCK} || '/casino-bonus'"
    f" WHEN doc_id % 7 = 3 THEN {_URL_BASE_DUCK} || '/free-xxx-stream'"
    f" ELSE {_URL_BASE_DUCK} END"
)
_UF_HTML_DUCK = (
    "'<html><head>' || CASE"
    " WHEN doc_id % 13 = 0 THEN '<META NAME=\"ROBOTS\" CONTENT=\"NOINDEX,NOFOLLOW\">'"
    " WHEN doc_id % 13 = 1 THEN '<meta content=''noindex,nofollow'' name=robots>'"
    " WHEN doc_id % 13 = 2 THEN '<meta name=\"robots\" content=\"index,follow\">'"
    " ELSE '' END || '</head><body>ok</body></html>'"
)


@register(
    "url_filter",
    _curation.url_quality_filter_duck(
        f"SELECT doc_id, {_UF_URL_DUCK} AS url, {_UF_HTML_DUCK} AS html"
        f" FROM documents",
        _UF_BLOCKED,
        _UF_WORDS,
        select_prefix=(
            f"* EXCLUDE (html), {_curation.meta_robots_noindex_duck('html')} AS noindex"
        ),
    )
    + " ORDER BY doc_id",
)
def q_url_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level pre-extraction gate (RefinedWeb-style): domain-blocklist
    suffix matching (a planted `sub.bad-ads.example.net` host must block
    via its `bad-ads.example.net` suffix, never string-contains), spam
    vocabulary hits with the keep rule at <2 hits (one planted path has
    two words, another one), plus the meta-robots noindex opt-out in both
    attribute orders and mixed case. All native expressions over url and
    a synthesized html head — the html column itself is EXCLUDED from the
    output so the gate's scan-width story (url-only projection) is the
    tested artifact."""
    d = F.col("doc_id")
    base = url_col("doc_id", "source")
    u = (
        F.when(
            d % 17 == 0,
            F.concat(
                F.lit("https://sub.bad-ads.example.net/"),
                F.col("source"),
                F.lit("/"),
                d.cast("string"),
            ),
        )
        .when(d % 11 == 0, F.concat(base, F.lit("/casino-bonus")))
        .when(d % 7 == 3, F.concat(base, F.lit("/free-xxx-stream")))
        .otherwise(base)
    )
    html = F.concat(
        F.lit("<html><head>"),
        F.when(
            d % 13 == 0, F.lit('<META NAME="ROBOTS" CONTENT="NOINDEX,NOFOLLOW">')
        )
        .when(d % 13 == 1, F.lit("<meta content='noindex,nofollow' name=robots>"))
        .when(d % 13 == 2, F.lit('<meta name="robots" content="index,follow">'))
        .otherwise(F.lit("")),
        F.lit("</head><body>ok</body></html>"),
    )
    pages = _t(spark, sf_dir, "documents").select(
        "doc_id", u.alias("url"), html.alias("html")
    )
    out = _curation.url_quality_filter(pages, _UF_BLOCKED, _UF_WORDS)
    return out.select(
        "doc_id",
        _curation.meta_robots_noindex("html").alias("noindex"),
        "url",
        "host",
        "blocked_host",
        "penalty_hits",
        "url_keep",
    ).orderBy("doc_id")


@register(
    "warc_roundtrip",
    f"""
    SELECT {DUCKDB_URL_EXPR.format(id='doc_id', src='source')} AS url,
           '2024-01-02 03:04:05' AS warc_ts_str,
           text AS html_text
    FROM documents ORDER BY url
    """,
)
def q_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WARC ingestion edge value-checked cross-engine: each document
    is wrapped NATIVELY (Spark SQL string concat) into a complete
    WARC/1.0 response record — WARC headers with a correct
    Content-Length, an HTTP/1.1 envelope — and the binary blobs run
    through the real `sources.warc` parsing kernel. A hash match proves
    header parsing, Content-Length slicing, HTTP envelope splitting and
    WARC-Date handling reproduce the original (url, ts, body) exactly."""
    from ai_service_ocr_grading_handler_spark.sources import warc as _warc

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    http = F.concat(
        F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n"),
        F.col("text"),
    )
    record = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: response\r\n"),
        F.lit("WARC-Date: 2024-01-02T03:04:05Z\r\nWARC-Target-URI: "),
        url_col("doc_id", "source"),
        F.lit("\r\nContent-Length: "),
        F.length(F.encode(http, "utf-8")).cast("string"),
        F.lit("\r\n\r\n"),
        http,
        F.lit("\r\n\r\n"),
    )
    blobs = docs.select(F.encode(record, "utf-8").alias("content"))
    pages = _warc.warc_pages(blobs)
    return pages.select(
        "url",
        F.date_format("warc_ts", "yyyy-MM-dd HH:mm:ss").alias("warc_ts_str"),
        F.decode("html", "utf-8").alias("html_text"),
    ).orderBy("url")


@register_library(
    "warc_drop_counts_audit",
    """
    WITH reasons AS (
      SELECT CASE doc_id % 7
               WHEN 0 THEN 'non_response_record'
               WHEN 1 THEN 'non_200_status'
               WHEN 2 THEN 'non_html_content_type'
               WHEN 3 THEN 'unsniffable_missing_content_type'
             END AS reason
      FROM documents)
    SELECT reason, count(*) AS n FROM reasons
    WHERE reason IS NOT NULL GROUP BY reason ORDER BY reason
    """,
)
def q_warc_drop_counts_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-plane WARC loss accounting value-checked cross-engine: pages
    are wrapped natively into WARC records planting one drop reason per
    doc_id residue (request record, 404 status, image/png Content-Type,
    missing Content-Type with a non-markup body — plus two KEPT shapes,
    declared html and sniffed html), and `warc_drop_counts` must report
    exactly the planted per-reason totals. This is the accounting a
    100 TB ingestion publishes with its lineage: the counts are rows of
    this very query, exact under any consumption pattern (unlike the
    best-effort accumulator channel — see sources/warc.py)."""
    from ai_service_ocr_grading_handler_spark.sources import warc as _warc

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    r = F.col("doc_id") % 7
    wtype = F.when(r == 0, F.lit("request")).otherwise(F.lit("response"))
    status = F.when(r == 1, F.lit("HTTP/1.1 404 Not Found")).otherwise(
        F.lit("HTTP/1.1 200 OK")
    )
    ctype = (
        F.when(r == 2, F.lit("Content-Type: image/png\r\n"))
        .when(r.isin(3, 4), F.lit(""))
        .otherwise(F.lit("Content-Type: text/html; charset=utf-8\r\n"))
    )
    body = (
        F.when(r == 0, F.lit("GET / HTTP/1.1\r\n\r\n"))
        .when(r == 3, F.concat(F.lit("BINARY"), F.col("text")))
        .when(r == 4, F.concat(F.lit("<p>"), F.col("text")))
        .otherwise(F.col("text"))
    )
    http = F.concat(status, F.lit("\r\n"), ctype, F.lit("\r\n"), body)
    record = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: "),
        wtype,
        F.lit("\r\nWARC-Date: 2024-01-02T03:04:05Z\r\nWARC-Target-URI: "),
        url_col("doc_id", "source"),
        F.lit("\r\nContent-Length: "),
        F.length(F.encode(http, "utf-8")).cast("string"),
        F.lit("\r\n\r\n"),
        http,
        F.lit("\r\n\r\n"),
    )
    blobs = docs.select(F.encode(record, "utf-8").alias("content"))
    return _warc.warc_drop_counts(blobs).orderBy("reason")


# Frontier split for the incremental-dedup tier: the planted dup corpus is
# base docs (doc_id < 1M, "committed by a prior run") plus +1M exact and
# +2M near copies (the "new" slice) — monotone ids, the append-only lake
# contract the incremental operators document.
_COMMITTED_FRONTIER = 1000000


@register_library(
    "exact_dedup_incremental",
    f"""
    WITH dup AS ({_dd.DUP_CORPUS_DUCK}),
    committed AS (SELECT * FROM dup WHERE doc_id < {_COMMITTED_FRONTIER}),
    new AS (SELECT * FROM dup WHERE doc_id >= {_COMMITTED_FRONTIER})
    SELECT md5(text) AS content_md5, min(doc_id) AS canonical_id,
           count(*) AS n_copies
    FROM new
    WHERE md5(text) NOT IN (SELECT md5(text) FROM committed)
    GROUP BY 1 ORDER BY content_md5
    """,
)
def q_exact_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run exact dedup: only the NEW slice is hashed; content the
    committed ledger already holds is dropped by hash anti-join (the +1M
    exact copies all vanish; the +2M last-word-dropped near copies are new
    content and survive). run(A)+run(B|A) ≡ run(A∪B) is pinned by
    tests/test_dedup.py."""
    corpus = _dd.dup_corpus(spark, sf_dir)
    committed = corpus.filter(F.col("doc_id") < _COMMITTED_FRONTIER)
    new = corpus.filter(F.col("doc_id") >= _COMMITTED_FRONTIER)
    return _dd.exact_dedup_incremental(new, _dd.exact_dedup(committed)).orderBy(
        "content_md5"
    )


@register(
    "minhash_incremental",
    f"""
    SELECT * FROM ({_dd.minhash_lsh_duck(_dd.DUP_CORPUS_DUCK, 0.6)})
    WHERE b_id >= {_COMMITTED_FRONTIER} ORDER BY a_id, b_id
    """,
)
def q_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run MinHash near-dup detection: the committed corpus
    contributes only its STORED band keys (minhash_bands_df output — the
    signature store); only new docs are shingled/signed, and committed
    text is read just for verify-stage candidates. The oracle is the full
    corpus's pair oracle restricted to pairs involving a new id (b_id past
    the frontier — ids are monotone), which is exactly the incremental
    contract."""
    corpus = _dd.dup_corpus(spark, sf_dir)
    committed = corpus.filter(F.col("doc_id") < _COMMITTED_FRONTIER)
    new = corpus.filter(F.col("doc_id") >= _COMMITTED_FRONTIER)
    return _dd.minhash_incremental(
        new, committed, _dd.minhash_bands_df(committed)
    ).orderBy("a_id", "b_id")


@register(
    "neardup_clusters",
    f"""
    WITH RECURSIVE pairs AS ({_dd.minhash_lsh_duck(_dd.DUP_CORPUS_DUCK)}),
    edges AS (
      SELECT a_id AS src, b_id AS dst FROM pairs
      UNION
      SELECT b_id, a_id FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS id FROM edges),
    reach(id, r) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT reach.id, edges.dst FROM reach JOIN edges ON edges.src = reach.r
    )
    SELECT id AS doc_id, min(r) AS component, (min(r) = id) AS is_rep
    FROM reach GROUP BY id ORDER BY doc_id
    """,
)
def q_neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER formation over the MinHash pair output: hash-min
    label propagation with pointer jumping (Rastogi et al. / Kiveris et
    al. star-contraction family) turns the pair list into connected
    components so exactly one doc per transitive duplicate group survives
    — the post-LSH step every published dedup pipeline (RefinedWeb 5.2,
    Dolma, SlimPajama) runs. NOTE: unlike every other registry entry,
    CONSTRUCTING this frame runs the driver-coordinated fixpoint rounds
    (the GraphX Pregel pattern — iterative algorithms cannot be a single
    lazy plan); it is explicitly exempted from the laziness lint as
    _ITERATIVE_OK. The oracle recomputes the full MinHash pair oracle
    and closes it transitively with a recursive CTE; on this corpus the
    +2M near-copy chains {id, id+2M} are the components."""
    pairs = _dd.minhash_lsh_neardups(_dd.dup_corpus(spark, sf_dir))
    cc = _dd.connected_components(pairs)
    return cc.select(
        F.col("id").alias("doc_id"),
        F.col("comp").alias("component"),
        (F.col("comp") == F.col("id")).alias("is_rep"),
    ).orderBy("doc_id")


_SIMHASH_DUCK = _dd.simhash_duck_expr("wh")


# ---------------------------------------------------------------------------
# Similarity search over embeddings (brute-force exact + sign-LSH ANN)
# ---------------------------------------------------------------------------


@register(
    "cosine_topk",
    f"""
    WITH scored AS (
      SELECT q.vec_id AS q_id, c.vec_id AS n_id,
             round({_sim.duck_cosine('q.embedding', 'c.embedding')}, 4) AS cos
      FROM embeddings q JOIN embeddings c ON q.vec_id < 20 AND c.vec_id <> q.vec_id
    )
    SELECT q_id, rank, n_id, cos FROM (
      SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
      FROM scored
    ) WHERE rank <= 5 ORDER BY q_id, rank
    """,
)
def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-5 for 20 query vectors: broadcast
    cross-join + native float64 array folds + per-query window top-k."""
    return _sim.cosine_topk(spark, sf_dir, k=5, n_queries=20).orderBy("q_id", "rank")


@register(
    "lsh_ann_neardups",
    f"""
    WITH corpus AS ({_sim.NEARDUP_CORPUS_DUCK}),
    sigs AS (
      SELECT vec_id, embedding, {_sim.lsh_bucket_duck('embedding')} AS bucket
      FROM corpus
    )
    SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.bucket AS bucket,
           round({_sim.duck_cosine('a.embedding', 'b.embedding')}, 4) AS cos
    FROM sigs a JOIN sigs b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE round({_sim.duck_cosine('a.embedding', 'b.embedding')}, 4) >= 0.9
    ORDER BY a_id, b_id
    """,
)
def q_lsh_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup detection, LSH-bucketed: candidates from bucket
    equality, cosine verified (>= 0.9). The planted exact copies are found
    without any all-pairs product. The output's `bucket` column IS the
    16-plane sign-LSH signature (deterministic Rademacher hyperplanes), so
    the bucketing stage is value-checked here too."""
    # exchange the (small) pair result on the sort key before the global
    # sort: the range partitioner's sampling pass re-executes the sort's
    # child from the last materialized shuffle, which would otherwise be
    # the whole 5.9M-candidate cosine verify — measured +2.2 s at sf1.0
    # for a 3k-row output.
    out = _sim.lsh_neardups(_sim.neardup_corpus(spark, sf_dir))
    return out.repartition("a_id", "b_id").orderBy("a_id", "b_id")


@register(
    "semantic_dedup",
    f"""
    WITH corpus AS ({_sim.NEARDUP_CORPUS_DUCK}),
    cells AS (
      SELECT vec_id, embedding,
             list_position(d.dots, list_max(d.dots))::int AS cell
      FROM (SELECT vec_id, embedding, {_sim.ivf_dots_duck('embedding')} AS dots
            FROM corpus) d(vec_id, embedding, dots)
    ),
    dropped AS (
      -- (join form, not correlated NOT EXISTS: DuckDB cannot bind outer
      -- columns inside list_transform lambdas in a correlated subquery)
      SELECT DISTINCT b.vec_id
      FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE {_sim.duck_cosine('a.embedding', 'b.embedding')} > 0.92
    )
    SELECT c.vec_id, c.cell FROM cells c
    WHERE c.vec_id NOT IN (SELECT vec_id FROM dropped)
    ORDER BY vec_id
    """,
)
def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style embedding-space pruning over the planted near-dup
    corpus: coarse-quantize to IVF cells, drop every vector with a
    lower-id in-cell neighbor above cosine 0.92 (the planted +10000 exact
    copies all vanish; their originals all survive). The oracle states the
    keep rule as ONE NOT EXISTS — the whole survivor set is value-checked,
    not just counts."""
    return _sim.semantic_dedup(_sim.neardup_corpus(spark, sf_dir)).orderBy("vec_id")


# ---------------------------------------------------------------------------
# Text analysis: language ID, quality, BPE-ish tokens, fingerprints
# ---------------------------------------------------------------------------


_QD = _tq.duck_quality_exprs("text")


@register(
    "doc_quality",
    f"""
    SELECT doc_id, {_tq.duck_lang_id('text')} AS lang_pred,
           {_QD['n_words']} AS n_words,
           {_QD['mean_word_len']} AS mean_word_len,
           {_QD['punct_ratio']} AS punct_ratio,
           {_QD['stopword_ratio']} AS stopword_ratio,
           {_tq.duck_top_word_ratio('text')} AS top_word_ratio,
           {_tq.duck_top_bigram_ratio('text')} AS top_bigram_ratio,
           {_QD['quality']} AS quality
    FROM documents ORDER BY doc_id
    """,
)
def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style quality gates PLUS heuristic language ID (CJK script
    regex, then stopword-hit argmax) PLUS the Gopher repetition gate inputs
    (most-common word / 2-gram fractions, longest-run folds over sorted
    n-gram arrays) — one single-pass struct through inline() (the
    column-per-feature form evaluated split() 49x per row; see
    textquality.quality_row), runs at scan speed."""
    docs = _tw(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.inline(F.array(_tq.quality_row("text")))
    ).orderBy("doc_id")


@register(
    "doc_fingerprints",
    f"""
    SELECT doc_id,
           md5(text) AS content_md5,
           list_min(list_transform({_dd.SHINGLES_DUCK}, s -> md5(s))) AS min_shingle_md5,
           {_tq.duck_rolling_fingerprint('text')} AS rolling_fp
    FROM documents ORDER BY doc_id
    """,
)
def q_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three content fingerprints per doc: exact (md5), locality-sensitive
    (min shingle md5 — MinHash with the identity permutation), and
    order-sensitive (Karp-Rabin rolling hash over the word sequence)."""
    docs = _tw(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.md5("text").alias("content_md5"),
        F.array_min(F.transform(_dd.shingles_col(), lambda s: F.md5(s))).alias(
            "min_shingle_md5"
        ),
        _tq.rolling_fingerprint("text").alias("rolling_fp"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Multimodal binary columns + host-skew audit
# ---------------------------------------------------------------------------

from ai_service_ocr_grading_handler_spark.operators import multimodal as _mm
from ai_service_ocr_grading_handler_spark.plans import lineage as _lin


@register(
    "audio_wav_features",
    """
    WITH a AS (
      SELECT doc_id,
             8000 + (doc_id % 4) * 4000 AS sample_rate,
             (400 + (doc_id % 50) * 8)::int AS n_frames
      FROM documents
    )
    SELECT doc_id, 1::int AS n_channels, sample_rate::int AS sample_rate,
           n_frames, ((n_frames * 1000) // sample_rate)::int AS duration_ms
    FROM a ORDER BY doc_id
    """,
)
def q_audio_wav_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio path (the multimodal brief's audio modality): per-doc
    WAV synthesis (integer sawtooth, platform-identical bytes) -> stdlib
    RIFF/WAV container parse -> PCM signal features, Arrow-batched. The
    container fields are closed-form in doc_id and value-checked in SQL;
    RMS/zero-crossings are pinned by pytest against the synth formula."""
    return (
        _mm.audio_features_df(spark, sf_dir)
        .select("doc_id", "n_channels", "sample_rate", "n_frames", "duration_ms")
        .orderBy("doc_id")
    )


@register(
    "stack_number_crops",
    f"""
    WITH crops AS (
      SELECT (doc_id % 50)::int AS batch_id,
             280 + (doc_id % 5) * 16 AS w,
             20 + (doc_id % 7) AS h,
             row_number() OVER (PARTITION BY doc_id % 50 ORDER BY doc_id) AS rn
      FROM documents
    )
    SELECT batch_id,
           count(*)::int AS n_images,
           greatest(max(w) + 2 * {_mm.STACK_BORDER}, {_mm.STACK_MIN_WIDTH})::int
             AS stacked_w,
           (sum(h) + (count(*) - 1) * {_mm.STACK_SPACING}
             + count(*) * 2 * {_mm.STACK_BORDER})::int AS stacked_h
    FROM crops WHERE rn <= {_mm.STACK_MAX_CROPS} GROUP BY batch_id ORDER BY batch_id
    """,
)
def q_stack_number_crops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's stacked-crop geometry (K7,
    llm_number_prediction.py:83-99) run FOR REAL: per-batch synthetic RGB
    crops are stacked (5px black borders, 10px spacing, white canvas,
    min-width 300 — widths straddle the min so both max() branches fire),
    round-tripped through the stdlib PNG codec, and the decoded canvas
    dimensions are value-checked against the closed-form geometry in SQL.
    Pixel-exact canvas content is pinned by pytest."""
    return _mm.stacked_crops_df(spark, sf_dir, group=50).orderBy("batch_id")




@register(
    "media_metadata",
    """
    SELECT doc_id,
           ['image','audio','video'][(doc_id % 3)::int + 1] AS kind,
           (320 + (doc_id % 5) * 16)::int AS width,
           (240 + (doc_id % 3) * 16)::int AS height,
           octet_length(encode(text))::int AS payload_len,
           (21 + octet_length(encode(text)))::int AS n_bytes,
           md5(text) AS payload_md5
    FROM documents ORDER BY doc_id
    """,
)
def q_media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary media columns round-tripped through the metadata
    kernel: pack (synthesis) -> Arrow batch -> header unpack + payload hash.
    The oracle recomputes every field from doc_id/text formulas, proving the
    binary container plumbing end-to-end."""
    media = _mm.media_df(spark, sf_dir)
    return _mm.media_metadata(media).orderBy("doc_id")


@register_library(
    "media_frame_sample",
    """
    SELECT d.doc_id, (t.i * 3)::int AS frame_idx,
           substr(hex(encode(text)), t.i * 3 * 64 * 2 + 1, 128) AS frame_hex
    -- range bound 4096 is a generator ceiling only (= 256 KiB more payload
    -- than any synthetic document; corpus text tops out well under 1 KiB);
    -- the t.i * 3 < n_frames predicate is the real stop condition, so the
    -- oracle cannot silently under-enumerate frames (review finding: the
    -- old bound of 64 had only ~5x headroom and no note)
    FROM documents d, range(0, 4096) t(i)
    WHERE d.doc_id % 3 = 2
      AND t.i * 3 < ceil(octet_length(encode(text)) / 64.0)
    ORDER BY d.doc_id, frame_idx
    """,
)
def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling: every 3rd 64-byte payload slice as hex —
    the frame-extraction kernel shape over binary columns. Hex (not md5)
    so the DuckDB oracle models BYTES (substr over hex(encode(text))),
    keeping the value check valid for non-ASCII corpora (blob slicing is
    not expressible in DuckDB SQL)."""
    media = _mm.media_df(spark, sf_dir)
    return _mm.sample_frames(media, every_k=3).orderBy("doc_id", "frame_idx")


@register_library(
    "host_skew_topk",
    f"""
    SELECT {DUCKDB_HOST_EXPR.format(id='doc_id')} AS host, count(*) AS n_pages
    FROM documents
    GROUP BY 1 ORDER BY n_pages DESC, host LIMIT 5
    """,
)
def q_host_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k hottest hosts (the salting decision input, SURVEY.md §2.5):
    host parsed from real urls of the synthesized pages corpus — the planted
    hot host carries ~30% of pages."""
    pages = pages_df_from_documents(spark, sf_dir)
    return (
        pages.groupBy(_lin.host_col().alias("host"))
        .agg(F.count(F.lit(1)).alias("n_pages"))
        .orderBy(F.desc("n_pages"), F.asc("host"))
        .limit(5)
    )


# ---------------------------------------------------------------------------
# Remaining reference-operator parity: J1/J5/A4, T7/T8/T11-T13/T17, P10/P11,
# window frames, set ops, grouping sets (SURVEY.md §2.2-§2.7)
# ---------------------------------------------------------------------------


@register(
    "credit_decrement",
    """
    SELECT c.c_custkey AS user_id,
           round(c.c_acctbal, 2) AS credits_before,
           count(o.o_orderkey) AS n_requests,
           round(c.c_acctbal - count(o.o_orderkey) / 10.0, 2) AS credits_after
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_acctbal
    ORDER BY user_id
    """,
)
def q_credit_decrement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5+A4 user-credit accounting (database_calling.py:23-46,
    question_generation_handler.py:460-469): keyed lookup + credits -= n/10.
    The reference's Mongo point-read/upsert becomes a keyed aggregation; the
    write-back at scale is an Iceberg MERGE INTO keyed on user_id."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, orders.o_custkey == cust.c_custkey, "left")
        .groupBy("c_custkey", "c_acctbal")
        .agg(F.count("o_orderkey").alias("n_requests"))
        .select(
            F.col("c_custkey").alias("user_id"),
            F.round("c_acctbal", 2).alias("credits_before"),
            "n_requests",
            F.round(F.col("c_acctbal") - F.col("n_requests") / 10.0, 2).alias(
                "credits_after"
            ),
        )
        .orderBy("user_id")
    )


@register(
    "credit_writeback",
    """
    SELECT c.c_custkey AS user_id,
           round(c.c_acctbal - count(o.o_orderkey) / 10.0, 2) AS credits,
           'AI_PROCESSED' AS status
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_acctbal
    UNION ALL
    SELECT -1 AS user_id, 999.0 AS credits, 'SEED' AS status
    ORDER BY user_id
    """,
)
def q_credit_writeback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12 keyed write-back, END TO END: the reference's Mongo
    `update_one($set, upsert=True)` (database_calling.py:26-35) emulated as
    MERGE INTO over a versioned parquet ledger (plans/lineage.merge_upsert).

    The ledger is seeded with half the users at their PRE-decrement balance
    plus a sentinel user the updates never touch; the credit updates are
    then merge-upserted TWICE. The oracle is the single-application result:
    a hash match proves (a) matched keys were $set-overwritten, (b)
    unmatched keys were inserted, (c) untouched rows survived, and (d) the
    second application was a no-op — re-runs never double-decrement."""
    import hashlib
    import os
    import shutil
    import tempfile
    from pathlib import Path

    from ai_service_ocr_grading_handler_spark.plans import lineage as _l

    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    seed = cust.filter(F.col("c_custkey") % 2 == 0).select(
        F.col("c_custkey").alias("user_id"),
        F.round("c_acctbal", 2).alias("credits"),
        F.lit("SEED").alias("status"),
    ).unionAll(
        spark.createDataFrame(
            [(-1, 999.0, "SEED")], "user_id bigint, credits double, status string"
        )
    )
    updates = (
        cust.join(orders, orders.o_custkey == cust.c_custkey, "left")
        .groupBy("c_custkey", "c_acctbal")
        .agg(F.count("o_orderkey").alias("n_requests"))
        .select(
            F.col("c_custkey").alias("user_id"),
            F.round(F.col("c_acctbal") - F.col("n_requests") / 10.0, 2).alias(
                "credits"
            ),
            F.lit("AI_PROCESSED").alias("status"),
        )
    )
    # deterministic per-(corpus, process) dir, WIPED on entry: a fresh
    # mkdtemp per build leaked /tmp linearly across driver correctness runs
    # (found by review); overwrite-in-place keeps disk bounded and the
    # query build-idempotent. The pid component isolates concurrent
    # sessions (e.g. driver check + pytest worker on the same sf_dir) —
    # without it one process's rmtree could race another's merge sequence
    # mid-write (review finding).
    ledger = str(
        Path(tempfile.gettempdir())
        / (
            f"credit-ledger-{hashlib.md5(sf_dir.encode()).hexdigest()[:12]}"
            f"-{os.getpid()}"
        )
    )
    shutil.rmtree(ledger, ignore_errors=True)
    _l.merge_upsert(spark, ledger, seed, "user_id")
    _l.merge_upsert(spark, ledger, updates, "user_id")
    final = _l.merge_upsert(spark, ledger, updates, "user_id")  # idempotent re-run
    return final.select("user_id", "credits", "status").orderBy("user_id")


_PROMPT_DIM = [
    ("grading", "math", "Grade stepwise; award partial marks per rubric."),
    ("grading", "science", "Check claims against the rubric evidence."),
    ("grading", "english", "Grade structure, grammar, and argument."),
    ("question_generation", "math", "Generate numeric problems with worked answers."),
    ("question_generation", "science", "Generate concept questions with distractors."),
    ("question_generation", "english", "Generate passage-comprehension questions."),
]
_PROMPT_DEFAULT = "You are a helpful grading assistant."
_SUBJECTS = ["math", "science", "english", "history"]


# --- shared synthetic-question formulas -------------------------------------
# Used by BOTH prompt_assembly and question_format (Spark AND oracle sides):
# one source each, so editing the formula cannot desynchronize the four
# hand-copies that used to exist (review finding — the url_col lesson).


def _question_col(d: F.Column) -> F.Column:
    return F.when(
        d % 3 == 0,
        F.concat(F.lit("Solve `x+"), (d % 9).cast("string"), F.lit("` now")),
    ).otherwise(F.concat(F.lit("Explain topic "), (d % 9).cast("string")))


_QUESTION_DUCK = (
    "CASE WHEN doc_id % 3 = 0 THEN 'Solve `x+' || (doc_id % 9) || '` now'"
    " ELSE 'Explain topic ' || (doc_id % 9) END"
)


def _markup_col(question: F.Column, is_stem: F.Column) -> F.Column:
    """markupFormat (reference :391-400): asciiMath only for STEM subjects
    with a backtick in the question."""
    return F.when(is_stem & question.contains("`"), F.lit("asciiMath")).otherwise(
        F.lit("text")
    )


def _question_clean_col(question: F.Column, is_stem: F.Column) -> F.Column:
    """backtick -> apostrophe strip for non-STEM (reference :397)."""
    return F.when(is_stem, question).otherwise(F.translate(question, "`", "'"))


def _markup_duck(stem_sql: str, q_sql: str = "question") -> str:
    return (
        f"CASE WHEN {stem_sql} AND contains({q_sql}, chr(96))"
        " THEN 'asciiMath' ELSE 'text' END"
    )


def _question_clean_duck(stem_sql: str, q_sql: str = "question") -> str:
    return (
        f"CASE WHEN {stem_sql} THEN {q_sql}"
        f" ELSE replace({q_sql}, chr(96), chr(39)) END"
    )


# prompt_assembly's STEM set (question_format uses the wider 5-subject set)
_STEM_PROMPT_DUCK = "subject IN ('math','science')"


def _prompt_case_duck() -> str:
    whens = " ".join(
        f"WHEN task = '{t}' AND subject = '{s}' THEN '{p}'"
        for t, s, p in _PROMPT_DIM
    )
    return f"CASE {whens} ELSE '{_PROMPT_DEFAULT}' END"


@register(
    "prompt_assembly",
    f"""
    WITH req AS (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN 'grading' ELSE 'question_generation' END AS task,
             'Grade ' || ((doc_id % 12) + 1) AS grade_level,
             ((doc_id % 4) + 1)::int AS marks,
             (['math','science','english','history'][(doc_id % 4)::int + 1]) AS subject,
             {_QUESTION_DUCK} AS question
      FROM documents
    ), g AS (
      SELECT *, regexp_extract(grade_level, '[0-9]+')::int AS grade_num FROM req
    )
    SELECT doc_id,
           task,
           {_prompt_case_duck()} AS prompt,
           grade_num,
           (grade_num + 5) || '-' || (grade_num + 8) AS age_range,
           (CASE marks WHEN 1 THEN 2 WHEN 2 THEN 5 WHEN 3 THEN 7 ELSE 10 END)::int AS n_lines,
           {_markup_duck(_STEM_PROMPT_DUCK)} AS markup,
           {_question_clean_duck(_STEM_PROMPT_DUCK)} AS question_clean,
           'You are grading a ' || subject || ' question for grade ' || grade_num
             || ' (ages ' || (grade_num + 5) || '-' || (grade_num + 8)
             || '). Answer in '
             || (CASE marks WHEN 1 THEN 2 WHEN 2 THEN 5 WHEN 3 THEN 7 ELSE 10 END)
             || ' lines. Use \\n between lines.' AS system_prompt
    FROM g ORDER BY doc_id
    """,
)
def q_prompt_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prompt-assembly scalar chain + the J1 prompt-dimension lookup.

    J1 (utils.py:23-29 over subject_wise_prompt): broadcast left join
    against the tiny (task, subject) dim + coalesce to the default on miss
    ('history' has no dim row, exercising the miss path). The reference
    re-reads this dim from disk per request (gen_ai_calling.py:200-201);
    here it is read once and broadcast.

    Scalar chain: grade-number extract T11
    (question_generation_handler.py:24-42), age range T12 (:44-57),
    marks->lines bucketing T13 (:326-338), markup predicate P11 (:391-398),
    backtick strip T8 (:397), backslash normalize T7 (gen_ai_calling.py:203)
    and f-string template fill T17 — one native projection, zero Python."""
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    task = (
        F.when(d % 2 == 0, F.lit("grading"))
        .otherwise(F.lit("question_generation"))
    )
    dim = spark.createDataFrame(
        _PROMPT_DIM, "task string, subject string, prompt string"
    )
    grade_level = F.concat(F.lit("Grade "), ((d % 12) + 1).cast("string"))
    marks = ((d % 4) + 1).cast("int")
    subject = F.element_at(
        F.array(*[F.lit(s) for s in _SUBJECTS]), (d % 4).cast("int") + 1
    )
    question = _question_col(d)
    grade_num = F.regexp_extract(grade_level, r"\d+", 0).cast("int")
    age_range = F.concat(
        (grade_num + 5).cast("string"), F.lit("-"), (grade_num + 8).cast("string")
    )
    n_lines = (
        F.when(marks == 1, 2).when(marks == 2, 5).when(marks == 3, 7).otherwise(10)
    ).cast("int")
    is_stem = subject.isin("math", "science")
    markup = _markup_col(question, is_stem)
    question_clean = _question_clean_col(question, is_stem)
    # T7: the template arrives with escaped backslashes; normalize \\n -> \n
    raw_template = (
        "You are grading a %s question for grade %s (ages %s)."
        " Answer in %s lines. Use \\\\n between lines."
    )
    system_prompt = F.regexp_replace(
        F.format_string(
            raw_template,
            subject,
            grade_num.cast("string"),
            age_range,
            n_lines.cast("string"),
        ),
        r"\\\\",
        r"\\",
    )
    req = docs.select(
        "doc_id",
        task.alias("task"),
        subject.alias("subject"),
        grade_num.alias("grade_num"),
        age_range.alias("age_range"),
        n_lines.alias("n_lines"),
        markup.alias("markup"),
        question_clean.alias("question_clean"),
        system_prompt.alias("system_prompt"),
    )
    return (
        req.join(F.broadcast(dim), ["task", "subject"], "left")
        .select(
            "doc_id",
            "task",
            F.coalesce("prompt", F.lit(_PROMPT_DEFAULT)).alias("prompt"),
            "grade_num",
            "age_range",
            "n_lines",
            "markup",
            "question_clean",
            "system_prompt",
        )
        .orderBy("doc_id")
    )


@register_library(
    "events_lag_frames",
    """
    SELECT event_id, user_id,
           round(lag(value) OVER w, 2) AS prev_value,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_value,
           rank() OVER w AS rk
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ORDER BY user_id, rk
    """,
)
def q_events_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic windows (§2.5): lag, rank, and an explicit running-sum frame
    (rowsBetween) per user ordered by event time."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.lag("value").over(w), 2).alias("prev_value"),
        F.round(F.sum("value").over(wsum), 2).alias("running_value"),
        F.rank().over(w).alias("rk"),
    ).orderBy("user_id", "rk")


@register(
    "set_ops_audit",
    """
    SELECT
      (SELECT count(*) FROM (
         SELECT doc_id FROM documents WHERE doc_id % 2 = 0
         UNION SELECT doc_id FROM documents WHERE doc_id % 3 = 0)) AS n_union,
      (SELECT count(*) FROM (
         SELECT doc_id FROM documents WHERE doc_id % 2 = 0
         INTERSECT SELECT doc_id FROM documents WHERE doc_id % 3 = 0)) AS n_intersect,
      (SELECT count(*) FROM (
         SELECT doc_id FROM documents WHERE doc_id % 2 = 0
         EXCEPT SELECT doc_id FROM documents WHERE doc_id % 3 = 0)) AS n_except
    """,
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (§2.6): union/intersect/except between two keyed
    subsets — resume logic's algebra (the pipeline itself uses the
    anti-join form in plans/lineage.py).

    ONE lazy plan (no driver-side actions inside the registry): the two
    tagged subsets are unioned, membership is folded per key, and all three
    set cardinalities come out of a single conditional aggregate — the same
    shape as join_semi_anti. At 100 TB this is one shuffle on the key, vs
    three full jobs for the eager count()-per-operator form."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    a = docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id", F.lit(1).alias("in_a"), F.lit(0).alias("in_b")
    )
    b = docs.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id", F.lit(0).alias("in_a"), F.lit(1).alias("in_b")
    )
    membership = (
        a.unionAll(b)
        .groupBy("doc_id")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    return membership.agg(
        F.count(F.lit(1)).alias("n_union"),
        F.count(F.when((F.col("in_a") == 1) & (F.col("in_b") == 1), 1)).alias(
            "n_intersect"
        ),
        F.count(F.when((F.col("in_a") == 1) & (F.col("in_b") == 0), 1)).alias(
            "n_except"
        ),
    )


@register(
    "events_grouping_sets",
    """
    SELECT date_trunc('day', ts) AS day_ts, event_type,
           2 * grouping(date_trunc('day', ts)) + grouping(event_type) AS gid,
           count(*) AS n_events, round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY CUBE(date_trunc('day', ts), event_type)
    ORDER BY gid, day_ts NULLS FIRST, event_type NULLS FIRST
    """,
)
def q_events_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping sets (§2.4 built-ins): CUBE(day, type) computes all four
    aggregation levels — (day,type), (day), (type), grand total — in ONE
    shuffle (partial aggregation expands grouping ids map-side). ROLLUP is
    the gid ∈ {0,1,3} subset of the same output, so one query value-checks
    both operators; `gid` is the explicit grouping_id bitmask
    disambiguating genuine NULL keys from subtotal rows."""
    ev = _t(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts")
    return (
        ev.cube(day.alias("day_ts"), "event_type")
        .agg(
            F.grouping_id().cast("int").alias("gid"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select("day_ts", "event_type", "gid", "n_events", "sum_value")
        .orderBy(
            "gid", F.asc_nulls_first("day_ts"), F.asc_nulls_first("event_type")
        )
    )


# ---------------------------------------------------------------------------
# Ingest normalization (P1-P5/S3), essay fan-out (K11/T14), question reshape
# (P10/T16) — the remaining §2 rows
# ---------------------------------------------------------------------------


@register(
    "ingest_normalize",
    f"""
    WITH raw AS (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN 'S' || doc_id ELSE NULL END AS "studentId",
             CASE WHEN doc_id % 2 = 0 THEN NULL ELSE 's_' || doc_id END AS student_id,
             CASE WHEN doc_id % 4 = 1 THEN '' ELSE text END AS answer,
             {DUCKDB_URL_EXPR.format(id='doc_id', src='source')} AS answer_url,
             CASE WHEN doc_id % 7 = 0 THEN NULL ELSE 0.5 * (1 + doc_id % 8) END AS max_score_raw,
             (['1','true','T','no','0','false'][(doc_id % 6)::int + 1]) AS flag_str
      FROM documents
    )
    SELECT doc_id,
           coalesce("studentId", student_id, '') AS student_key,
           CASE WHEN length(answer) = 0 THEN answer_url ELSE answer END AS answer_resolved,
           coalesce(max_score_raw, 1.0) AS max_score,
           flag_str IN ('1','true','True','t','T') AS flag_bool
    FROM raw ORDER BY doc_id
    """,
)
def q_ingest_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest normalization applied ONCE at the boundary (SURVEY.md §1.2):
    P2 key-coalesce across spelling variants (utils.py:80-84), P3 empty-
    answer -> url fallback (gen_ai_calling.py:174-182), P1 default-on-null
    projection (gen_ai_calling.py:169-183), P5 truthy-string predicate
    (service_handler.py:155-163)."""
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    camel = F.when(d % 2 == 0, F.concat(F.lit("S"), d.cast("string")))
    snake = F.when(d % 2 != 0, F.concat(F.lit("s_"), d.cast("string")))
    answer = F.when(d % 4 == 1, F.lit("")).otherwise(F.col("text"))
    answer_url = url_col(d, F.col("source"))  # single source of truth
    max_raw = F.when(d % 7 != 0, 0.5 * (1 + d % 8))
    flag = F.element_at(
        F.array(*[F.lit(x) for x in ["1", "true", "T", "no", "0", "false"]]),
        (d % 6).cast("int") + 1,
    )
    return docs.select(
        "doc_id",
        F.coalesce(camel, snake, F.lit("")).alias("student_key"),
        F.when(F.length(answer) == 0, answer_url).otherwise(answer).alias(
            "answer_resolved"
        ),
        F.coalesce(max_raw, F.lit(1.0)).alias("max_score"),
        flag.isin("1", "true", "True", "t", "T").alias("flag_bool"),
    ).orderBy("doc_id")


@register(
    "essay_fanout_concat",
    """
    SELECT d.doc_id,
           string_agg('FP' || t.i || ' - improve part ' || t.i, chr(10) || chr(10)
                      ORDER BY t.i) AS feedback,
           round(sum(CASE
             WHEN (['Effective','Good','Satisfactory','Normal','Fair','Poor']
                   [((d.doc_id * 3 + t.i) % 6)::int + 1])
                  IN ('Effective','Good','Satisfactory') THEN 1.0
             WHEN (['Effective','Good','Satisfactory','Normal','Fair','Poor']
                   [((d.doc_id * 3 + t.i) % 6)::int + 1])
                  IN ('Normal','Fair') THEN 0.5
             ELSE 0.0 END), 1) AS confidence,
           15.0 AS max_score
    FROM documents d, range(0, 3) t(i)
    GROUP BY d.doc_id ORDER BY d.doc_id
    """,
)
def q_essay_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K11 3-call essay fan-out + T14 concat (gen_ai_calling.py:394-415):
    three kernel column applications over the SAME row, concatenated, then
    span-parsed (T3) with the fixed maxScore 15 — three projections fused
    into one codegen stage, one Arrow hop for the parse."""
    docs = _t(spark, sf_dir, "documents")
    lv = (
        "element_at(array('Effective','Good','Satisfactory','Normal','Fair','Poor'),"
        " cast(pmod(doc_id * 3 + {i}, 6) as int) + 1)"
    )
    call = (
        "concat('{{\"FeedbackPointName\": \"FP{i}\", \"levelName\": \"', "
        + lv
        + ", '\", \"improvement\": \"improve part {i}\"}}')"
    )
    calls = [F.expr(call.format(i=i)) for i in range(3)]
    combined = F.concat_ws("\n", *calls)
    parsed = spans.parse_essay_feedback(combined)
    return docs.select(
        "doc_id",
        parsed.getField("feedback").alias("feedback"),
        F.round(parsed.getField("confidence"), 1).alias("confidence"),
        F.lit(15.0).alias("max_score"),
    ).orderBy("doc_id")


@register(
    "question_format",
    f"""
    WITH q AS (
      SELECT doc_id,
             (['Multiple Choice','multiple choice','MCQ','mcq','short answer',
               'multiple choice question'][(doc_id % 6)::int + 1]) AS qtype_raw,
             (['mathematics','science','english','history'][(doc_id % 4)::int + 1]) AS subject,
             {_QUESTION_DUCK} AS question,
             (doc_id % 4)::int AS correct_idx,
             0.5 * (1 + doc_id % 4) AS m0, 0.5 * (1 + (doc_id + 1) % 4) AS m1,
             (doc_id % 7) AS c0, ((doc_id + 1) % 7) AS c1
      FROM documents
    ), e AS (
      SELECT *,
        qtype_raw IN ('mcq','multipleChoice','multiplechoice','multiple choice',
                      'multiple choice question','Multiple Choice') AS is_mcq,
        subject IN ('mathematics','science','physics','chemistry','biology') AS is_stem
      FROM q
    )
    SELECT doc_id,
           substr(sha256('q' || doc_id), 1, 12) AS question_id,
           is_mcq,
           CASE WHEN is_mcq THEN 'multipleChoice' ELSE 'openEnded' END AS content_sub_type,
           CASE WHEN is_mcq THEN 'tickmark' ELSE 'shortAnswer' END AS content_sub_sub_type,
           {_markup_duck("is_stem")} AS markup_format,
           {_question_clean_duck("is_stem")} AS question_text,
           'v' || ((doc_id + 1) % 7) AS opt1,
           'v' || ((doc_id + 2) % 7) AS opt2,
           'v' || ((doc_id + 3) % 7) AS opt3,
           'v' || ((doc_id + 4) % 7) AS opt4,
           CASE WHEN is_mcq THEN correct_idx::varchar END AS correct_option,
           CASE WHEN is_mcq THEN
             CASE WHEN doc_id % 2 = 0 THEN 'v' || ((doc_id + correct_idx + 1) % 7)
                  ELSE 'opt' || (correct_idx + 1) END
           END AS ans,
           CASE WHEN is_mcq THEN
             '[{{"marks":' || m0 || ',"rubricText":"criteria-' || c0 || '"}},' ||
             '{{"marks":' || m1 || ',"rubricText":"criteria-' || c1 || '"}}]'
           ELSE
             '[{{"score":' || m0 || ',"criteria":"criteria-' || c0 || '","rubricId":"'
               || substr(sha256('q' || doc_id || '-r0'), 1, 12) || '"}},' ||
             '{{"score":' || m1 || ',"criteria":"criteria-' || c1 || '","rubricId":"'
               || substr(sha256('q' || doc_id || '-r1'), 1, 12) || '"}}]'
           END AS rubrics_json
    FROM e ORDER BY doc_id
    """,
)
def q_question_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL convert_question_format reshape (K9,
    question_generation_handler.py:340-453) with the reference's quirks:

    - MCQ detection is EXACT-string membership against the six spellings at
      :381-385 — 'MCQ' (uppercase) is NOT in the list, so it falls to the
      openEnded branch (modeled faithfully, qtype pool includes it);
    - option-index resolution (:402-421): the answer matches an option
      VALUE or (elif) a KEY; the resolved index is emitted as a STRING on
      every option row ('correctOption': str(idx), :437-442 loop quirk);
    - contentSubType/contentSubSubType tagging (:386-387, :443-444);
    - markupFormat (:391-400): asciiMath only for STEM subjects with a
      backtick in the question; otherwise the backtick->apostrophe strip;
    - rubric reshape (:437-442): non-MCQ rubrics become
      [{score: marks, criteria: rubricText, rubricId}]; MCQ rubrics pass
      through untouched;
    - T16 ids: nanoid.generate() replaced by CONTENT-DERIVED sha2 so
      resume/retry re-emits identical rows (SURVEY.md §7 hard-point (c))."""
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    qtype = F.element_at(
        F.array(
            *[
                F.lit(x)
                for x in [
                    "Multiple Choice",
                    "multiple choice",
                    "MCQ",
                    "mcq",
                    "short answer",
                    "multiple choice question",
                ]
            ]
        ),
        (d % 6).cast("int") + 1,
    )
    subject = F.element_at(
        F.array(*[F.lit(s) for s in ["mathematics", "science", "english", "history"]]),
        (d % 4).cast("int") + 1,
    )
    question = _question_col(d)
    # exact-string membership, NOT lowercased: 'MCQ' deliberately misses
    is_mcq = qtype.isin(
        "mcq", "multipleChoice", "multiplechoice", "multiple choice",
        "multiple choice question", "Multiple Choice",
    )
    is_stem = subject.isin(
        "mathematics", "science", "physics", "chemistry", "biology"
    )
    correct_idx = (d % 4).cast("int")
    opts = [F.concat(F.lit("v"), ((d + k) % 7).cast("string")) for k in (1, 2, 3, 4)]
    # the answer is sometimes an option VALUE, sometimes a KEY — the
    # resolution loop must find it either way (value first, elif key)
    ans = F.when(
        d % 2 == 0, F.element_at(F.array(*opts), correct_idx + 1)
    ).otherwise(F.concat(F.lit("opt"), (correct_idx + 1).cast("string")))
    keys = F.array(*[F.lit(f"opt{k}") for k in (1, 2, 3, 4)])
    values = F.array(*opts)
    # option_index resolution: last index where value==answer or key==answer
    resolved = F.aggregate(
        F.sequence(F.lit(0), F.lit(3)),
        F.lit(-1),
        lambda acc, i: F.when(
            (F.element_at(values, i + 1) == ans)
            | (F.element_at(keys, i + 1) == ans),
            i,
        ).otherwise(acc),
    )
    m0 = 0.5 * (1 + d % 4)
    m1 = 0.5 * (1 + (d + 1) % 4)
    c0 = (d % 7).cast("string")
    c1 = ((d + 1) % 7).cast("string")
    rid = lambda tag: F.substring(
        F.sha2(F.concat(F.lit("q"), d.cast("string"), F.lit(tag)), 256), 1, 12
    )
    mcq_rubrics = F.concat(
        F.lit('[{"marks":'), m0.cast("string"),
        F.lit(',"rubricText":"criteria-'), c0,
        F.lit('"},{"marks":'), m1.cast("string"),
        F.lit(',"rubricText":"criteria-'), c1, F.lit('"}]'),
    )
    open_rubrics = F.concat(
        F.lit('[{"score":'), m0.cast("string"),
        F.lit(',"criteria":"criteria-'), c0,
        F.lit('","rubricId":"'), rid("-r0"),
        F.lit('"},{"score":'), m1.cast("string"),
        F.lit(',"criteria":"criteria-'), c1,
        F.lit('","rubricId":"'), rid("-r1"), F.lit('"}]'),
    )
    return docs.select(
        "doc_id",
        rid("").alias("question_id"),
        is_mcq.alias("is_mcq"),
        F.when(is_mcq, F.lit("multipleChoice")).otherwise(F.lit("openEnded")).alias(
            "content_sub_type"
        ),
        F.when(is_mcq, F.lit("tickmark")).otherwise(F.lit("shortAnswer")).alias(
            "content_sub_sub_type"
        ),
        _markup_col(question, is_stem).alias("markup_format"),
        _question_clean_col(question, is_stem).alias("question_text"),
        opts[0].alias("opt1"),
        opts[1].alias("opt2"),
        opts[2].alias("opt3"),
        opts[3].alias("opt4"),
        F.when(is_mcq, resolved.cast("string")).alias("correct_option"),
        F.when(is_mcq, ans).alias("ans"),
        F.when(is_mcq, mcq_rubrics).otherwise(open_rubrics).alias("rubrics_json"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# OLAP pattern coverage: sessionization, as-of join, pivot, percentiles
# ---------------------------------------------------------------------------


@register_library(
    "asof_latest_value",
    """
    WITH marks AS (
      SELECT event_id AS mark_id, user_id, ts AS mark_ts
      FROM events WHERE event_id % 100 = 0
    ), ticks AS (
      -- one tick per (user, ts): ASOF on duplicate timestamps is
      -- ambiguous in BOTH engines, so the tie is resolved deterministically
      -- (max value) before the join on BOTH sides
      SELECT user_id, ts, max(value) AS value
      FROM events WHERE event_id % 100 <> 0 GROUP BY user_id, ts
    )
    SELECT m.mark_id, m.user_id,
           round(t.value, 2) AS asof_value,
           t.ts AS asof_ts
    FROM marks m ASOF LEFT JOIN ticks t
      ON m.user_id = t.user_id AND t.ts <= m.mark_ts
    ORDER BY mark_id
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (Spark lacks a native one; DuckDB's ASOF JOIN is the
    oracle): composed as union(marks, ticks) + last_value(IGNORE NULLS)
    over (user, time) — one shuffle on user_id, no range explosion.
    Ties on ts resolve tick-before-mark via the is_mark sort key."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    marks = ev.filter(F.col("event_id") % 100 == 0).select(
        F.col("event_id").alias("mark_id"),
        "user_id",
        F.col("ts"),
        F.lit(None).cast("double").alias("tick_value"),
        F.lit(None).cast("timestamp").alias("tick_ts"),
        F.lit(1).alias("is_mark"),
    )
    # one tick per (user, ts), max value — without this, equal-ts ticks
    # make last() over an (ts, is_mark)-ordered window pick an arbitrary
    # winner that varies across partitionings AND can disagree with the
    # (equally ambiguous) DuckDB ASOF; the dedupe pins both engines to the
    # same deterministic answer (found by review)
    ticks = (
        ev.filter(F.col("event_id") % 100 != 0)
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("tick_value"))
        .select(
            F.lit(None).cast("bigint").alias("mark_id"),
            "user_id",
            F.col("ts"),
            "tick_value",
            F.col("ts").alias("tick_ts"),
            F.lit(0).alias("is_mark"),
        )
    )
    merged = ticks.unionAll(marks)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "is_mark")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = merged.withColumn(
        "asof_value", F.last("tick_value", ignorenulls=True).over(w)
    ).withColumn("asof_ts", F.last("tick_ts", ignorenulls=True).over(w))
    return (
        filled.filter(F.col("is_mark") == 1)
        .select(
            "mark_id",
            "user_id",
            F.round("asof_value", 2).alias("asof_value"),
            "asof_ts",
        )
        .orderBy("mark_id")
    )


@register_library(
    "pivot_event_counts",
    """
    SELECT date_trunc('day', ts) AS day_ts,
           count(*) FILTER (event_type = 'click') AS n_click,
           count(*) FILTER (event_type = 'view') AS n_view,
           count(*) FILTER (event_type = 'purchase') AS n_purchase,
           count(*) FILTER (event_type NOT IN ('click','view','purchase')) AS n_other
    FROM events GROUP BY 1 ORDER BY 1
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: event_type -> columns with an explicit value list (explicit
    lists skip the extra distinct-discovery job) + an 'other' bucket."""
    ev = _t(spark, sf_dir, "events")
    known = ["click", "view", "purchase"]
    return (
        ev.groupBy(F.date_trunc("day", "ts").alias("day_ts"))
        .agg(
            *[
                F.count(F.when(F.col("event_type") == k, 1)).alias(f"n_{k}")
                for k in known
            ],
            F.count(F.when(~F.col("event_type").isin(known), 1)).alias("n_other"),
        )
        .orderBy("day_ts")
    )


@register_library(
    "events_percentiles",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS p50,
           round(quantile_cont(value, 0.9), 4) AS p90,
           round(quantile_cont(value, 0.99), 4) AS p99,
           count(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact continuous percentiles per group (Spark `percentile` ==
    DuckDB `quantile_cont`). At 100 TB swap in percentile_approx /
    approx_count_distinct — same plan shape, sketch-mergeable partials."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.percentile("value", 0.5), 4).alias("p50"),
            F.round(F.percentile("value", 0.9), 4).alias("p90"),
            F.round(F.percentile("value", 0.99), 4).alias("p99"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


@register(
    "simhash_neardup_pairs",
    f"""
    WITH dup AS ({_dd.DUP_CORPUS_DUCK}),
    h AS (SELECT doc_id, {_dd.WORD_HASHES_DUCK.format(col='text')} AS wh FROM dup),
    sig AS (SELECT doc_id, {_SIMHASH_DUCK} AS simhash FROM h),
    bands AS (
      SELECT doc_id, simhash, t.i AS band_idx,
             (simhash >> (t.i * 15)) % 32768 AS band_key
      FROM sig, range(0, 4) t(i)
    )
    SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_key = b.band_key
     AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 8
    ORDER BY a_id, b_id
    """,
)
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: 4x15-bit band-bucket join (pigeonhole:
    complete for Hamming < 4) + exact bit_count(xor) verification <= 8.
    Planted exact copies land at Hamming 0; drop-last-word copies within a
    few bits. The oracle recomputes the 60-bit signatures from scratch, so
    the per-doc SimHash fold is value-checked through the hamming column."""
    return _dd.simhash_neardup_pairs(_dd.dup_corpus(spark, sf_dir)).orderBy(
        "a_id", "b_id"
    )


_IVF_DOTS_Q = _sim.ivf_dots_duck("q.embedding")
_IVF_DOTS_C = _sim.ivf_dots_duck("c.embedding")


@register(
    "ivf_ann_topk",
    f"""
    WITH cells AS (
      SELECT vec_id AS n_id, embedding AS n_emb,
             list_position(d.dots, list_max(d.dots))::int AS cell
      FROM (SELECT vec_id, embedding, {_sim.ivf_dots_duck('embedding')} AS dots
            FROM embeddings) d(vec_id, embedding, dots)
    ), qs AS (
      SELECT vec_id AS q_id, embedding AS q_emb,
             list_filter(range(1, {_sim.IVF_CELLS} + 1),
                         i -> d.dots[i] >= list_sort(d.dots)[{_sim.IVF_CELLS - _sim.IVF_NPROBE + 1}]) AS probes
      FROM (SELECT vec_id, embedding, {_sim.ivf_dots_duck('embedding')} AS dots
            FROM embeddings WHERE vec_id < 10) d(vec_id, embedding, dots)
    ), scored AS (
      SELECT q.q_id, c.n_id, c.cell,
             round({_sim.duck_cosine('q.q_emb', 'c.n_emb')}, 4) AS cos
      FROM qs q JOIN cells c
        ON list_contains(q.probes, c.cell) AND c.n_id <> q.q_id
    )
    SELECT q_id, rank, n_id, cell, cos FROM (
      SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
      FROM scored
    ) WHERE rank <= 3 ORDER BY q_id, rank
    """,
)
def q_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN (the second similarity scale path next to sign-LSH):
    deterministic coarse quantizer -> cell-bucketed corpus -> multi-probe
    exact search within NPROBE inverted lists. At 100 TB `cell` is the
    bucketing/partition key, so each probe is a pruned scan."""
    return _sim.ivf_topk(spark, sf_dir, k=3, n_queries=10).orderBy("q_id", "rank")


@register(
    "events_session_window",
    """
    WITH g AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                  OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
      SELECT *, sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM g
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL 30 MINUTE AS session_end,
           count(*) AS n_events,
           round(sum(value), 2) AS session_value
    FROM s GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
)
def q_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (30-min inactivity gap) via F.session_window — the
    native gap-merge operator, also the streaming session operator:
    window.end = last event + gap. The oracle reconstructs sessions with
    the lag + cumulative-sum gaps-and-islands form, so BOTH formulations
    are value-checked against each other here. One shuffle on user_id
    shared by the window and the aggregation."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
            "session_value",
        )
        .orderBy("user_id", "session_start")
    )


@register_library(
    "events_sliding_window",
    """
    WITH buckets AS (
      SELECT time_bucket(INTERVAL 30 MINUTE, ts)
               - (t.i * INTERVAL 30 MINUTE) AS win_start,
             value
      FROM events, range(0, 2) t(i)
    )
    SELECT win_start, win_start + INTERVAL 1 HOUR AS win_end,
           count(*) AS n_events, round(sum(value), 2) AS sum_value
    FROM buckets
    GROUP BY win_start ORDER BY win_start
    """,
)
def q_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding event-time windows (1h length, 30m slide): every event lands
    in exactly 2 windows; the oracle reconstructs the assignment with a
    bucket - i*slide unnest."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "n_events",
            "sum_value",
        )
        .orderBy("win_start")
    )


@register_library(
    "lineitem_unpivot",
    """
    SELECT measure, round(sum(amount), 2) AS total
    FROM (
      SELECT 'quantity' AS measure, l_quantity AS amount FROM lineitem
      UNION ALL SELECT 'extendedprice', l_extendedprice FROM lineitem
      UNION ALL SELECT 'discount', l_discount FROM lineitem
    ) GROUP BY measure ORDER BY measure
    """,
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot via stack(): wide measures -> (measure, amount) rows without
    N scans (the UNION-ALL oracle reads lineitem three times; stack reads
    it once)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.selectExpr(
            "stack(3, 'quantity', l_quantity, 'extendedprice', l_extendedprice,"
            " 'discount', l_discount) AS (measure, amount)"
        )
        .groupBy("measure")
        .agg(F.round(F.sum("amount"), 2).alias("total"))
        .orderBy("measure")
    )


@register_library(
    "label_centroids",
    f"""
    WITH per_dim AS (
      SELECT label, t.i AS dim, avg(embedding[t.i]::double) AS v
      FROM embeddings, range(1, {_sim.EMB_DIM} + 1) t(i)
      GROUP BY label, t.i
    ), centroids AS (
      SELECT label, list(v ORDER BY dim) AS centroid FROM per_dim GROUP BY label
    )
    SELECT e.label, count(*) AS n_vecs,
           round(sqrt({_sim.DUCK_DOT.format(a='c.centroid', b='c.centroid', dim=_sim.EMB_DIM)}), 4) AS centroid_norm,
           round(avg({_sim.duck_cosine('e.embedding', 'c.centroid')}), 4) AS mean_cos_to_centroid
    FROM embeddings e JOIN centroids c ON e.label = c.label
    GROUP BY e.label, c.centroid
    ORDER BY e.label
    """,
)
def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector aggregation: per-label centroid (64 per-dim avgs in ONE
    shuffle — no unnest explosion on the Spark side) + mean cosine of
    members to their centroid via a broadcast join back."""
    emb = _t(spark, sf_dir, "embeddings")
    dim_avgs = [
        F.avg(F.col("embedding").getItem(d).cast("double")).alias(f"d{d}")
        for d in range(_sim.EMB_DIM)
    ]
    centroids = (
        emb.groupBy("label")
        .agg(*dim_avgs)
        .select(
            "label",
            F.array(*[F.col(f"d{d}") for d in range(_sim.EMB_DIM)]).alias("centroid"),
        )
    )
    joined = emb.join(F.broadcast(centroids), "label")
    return (
        joined.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(
                F.sqrt(F.first(_sim._dot(F.col("centroid"), F.col("centroid")))), 4
            ).alias("centroid_norm"),
            F.round(
                F.avg(_sim.cosine(F.col("embedding"), F.col("centroid"))), 4
            ).alias("mean_cos_to_centroid"),
        )
        .orderBy("label")
    )


from ai_service_ocr_grading_handler_spark.functions import dialects as _dlx

_SP_LIT = "You are a strict grader."
_Q6_DUCK = "array_to_string(list_slice(string_split(text, ' '), 1, 6), ' ')"
_A8_DUCK = (
    "(CASE WHEN doc_id % 4 = 1 THEN ''"
    " ELSE array_to_string(list_slice(string_split(text, ' '), 1, 8), ' ') END)"
)
_RUBRIC_DUCK = (
    "('Rubrics: ' || (0.5 * (1 + doc_id % 4)) || ' Points: criteria-'"
    " || (doc_id % 7) || ', ')"
)
_USER_DUCK = (
    f"(CASE WHEN {_A8_DUCK} = '' THEN 'No Answer'"
    f" ELSE 'studentAnswer: ' || {_A8_DUCK} END)"
)
# JSON-escaped system fold: trim() drops the rubric's trailing space
_SYSF_DUCK = (
    f"('{_SP_LIT}' || '\\n\\n' || rtrim({_RUBRIC_DUCK}) || '\\n\\n'"
    f" || 'question: ' || {_Q6_DUCK})"
)


@register(
    "message_dialects",
    f"""
    SELECT doc_id,
      '[{{"role":"system","content":"{_SP_LIT}"}},'
        || '{{"role":"system","content":"' || {_RUBRIC_DUCK} || '"}},'
        || '{{"role":"system","content":"question: ' || {_Q6_DUCK} || '"}},'
        || '{{"role":"user","content":"' || {_USER_DUCK} || '"}}]' AS gpt_json,
      '{{"system":"' || {_SYSF_DUCK}
        || '","messages":[{{"role":"user","content":[{{"text":"'
        || {_USER_DUCK} || ',","type":"text"}}]}}]}}' AS claude_json,
      '{{"system":"' || {_SYSF_DUCK}
        || '","messages":[{{"role":"user","parts":["'
        || {_USER_DUCK} || ',"]}}]}}' AS gemini_json,
      '{{"system":"' || {_SYSF_DUCK}
        || '","prompt":"' || {_USER_DUCK} || ',"}}' AS llama_json
    FROM documents ORDER BY doc_id
    """,
)
def q_message_dialects(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provider dialect conversion (§3.1 step 6, llm_format_convertion.py):
    normalized message -> gpt message list -> claude/gemini/llama request
    shapes, all as native struct transforms serialized with to_json. The
    oracle reconstructs the exact JSON text (quirks included: trailing
    user comma, trimmed system fold, 'No Answer' fallback, the live SECOND
    convert_gpt_to_gemini definition)."""
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    sp = F.lit(_SP_LIT)
    rubric = F.concat(
        F.lit("Rubrics: "),
        (0.5 * (1 + d % 4)).cast("string"),
        F.lit(" Points: criteria-"),
        (d % 7).cast("string"),
        F.lit(", "),
    )
    q6 = F.array_join(F.slice(F.split("text", " "), 1, 6), " ")
    a8 = F.when(d % 4 == 1, F.lit("")).otherwise(
        F.array_join(F.slice(F.split("text", " "), 1, 8), " ")
    )
    gpt = _dlx.gpt_messages(sp, rubric, q6, a8)
    # bind the gpt message array ONCE per row (lambda hoist + one inline()
    # generator): referenced directly in four to_json conversions,
    # CollapseProject re-inlines its splits into each — 21 split() per row
    # in the executed plan (see doc_quality for the same disease)
    row = F.element_at(
        F.transform(
            F.array(gpt),
            lambda g: F.struct(
                F.to_json(g).alias("gpt_json"),
                F.to_json(_dlx.to_claude(g)).alias("claude_json"),
                F.to_json(_dlx.to_gemini(g)).alias("gemini_json"),
                F.to_json(_dlx.to_llama(g)).alias("llama_json"),
            ),
        ),
        1,
    )
    return docs.select("doc_id", F.inline(F.array(row))).orderBy("doc_id")


_B64_DUCK = "to_base64(encode(substr(text, 1, 96)))"
_VFOLD_DUCK = f"'{_SP_LIT}' || ', Question: ' || {_Q6_DUCK} || ' ,' || {_RUBRIC_DUCK}"


@register(
    "message_dialects_vision",
    f"""
    SELECT doc_id,
      '[{{"role":"user","content":[{{"type":"text","text":"{_SP_LIT}"}},'
        || '{{"type":"image_url","image_url":{{"url":"data:image/webp;base64,'
        || {_B64_DUCK} || '"}}}}]}}]' AS gpt_vision_json,
      '[{{"role":"user","content":[{{"type":"text","text":"' || {_VFOLD_DUCK}
        || '"}},{{"type":"image_url","image_url":{{"url":"https://img.example.com/'
        || doc_id || '.webp"}}}}]}}]' AS gpt_vision_url_json,
      '[{{"role":"user","content":[{{"type":"text","text":"{_SP_LIT}"}},'
        || '{{"type":"image","source":{{"type":"base64","media_type":"image/webp","data":"'
        || {_B64_DUCK} || '"}}}}]}}]' AS claude_vision_json,
      '{{"base64_image":"' || {_B64_DUCK} || '","batch_size":'
        || ((doc_id % 5) + 1) || '}}' AS gemini_number_json,
      md5(substr(text, 1, 96)) AS roundtrip_md5,
      md5(substr(text, 1, 96)) AS source_md5
    FROM documents ORDER BY doc_id
    """,
)
def q_message_dialects_vision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vision provider dialects (§3.1 step 6, llm_format_convertion.py:
    108-193): the answer image is an opaque BINARY column; its base64
    transport encoding (T15) is JVM-side, and the three vision request
    shapes (gpt data-url block, gpt raw-answerUrl block, claude base64
    source block) plus the gemini number payload are native struct
    transforms serialized with to_json. roundtrip_md5 = md5(unbase64(b64))
    vs source_md5 proves the T15 round-trip byte-exactly."""
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    sp = F.lit(_SP_LIT)
    rubric = F.concat(
        F.lit("Rubrics: "),
        (0.5 * (1 + d % 4)).cast("string"),
        F.lit(" Points: criteria-"),
        (d % 7).cast("string"),
        F.lit(", "),
    )
    q6 = F.array_join(F.slice(F.split("text", " "), 1, 6), " ")
    payload = F.encode(F.expr("substring(text, 1, 96)"), "utf-8")
    b64 = _dlx.b64_canonical(payload)
    answer_url = F.concat(
        F.lit("https://img.example.com/"), d.cast("string"), F.lit(".webp")
    )
    batch = ((d % 5) + 1).cast("int")
    return docs.select(
        "doc_id",
        F.to_json(_dlx.gpt_vision_messages(sp, b64)).alias("gpt_vision_json"),
        F.to_json(_dlx.gpt_vision_url_messages(sp, q6, rubric, answer_url)).alias(
            "gpt_vision_url_json"
        ),
        F.to_json(_dlx.claude_vision_messages(sp, b64)).alias("claude_vision_json"),
        F.to_json(_dlx.gemini_number_payload(b64, batch)).alias(
            "gemini_number_json"
        ),
        F.md5(F.unbase64(b64)).alias("roundtrip_md5"),
        F.md5(payload).alias("source_md5"),
    ).orderBy("doc_id")


_GOLD = DUCKDB_GOLDEN_TEXT_EXPR.format(col="d.text")


@register(
    "generate_update_records",
    f"""
    SELECT {DUCKDB_URL_EXPR.format(id='d.doc_id', src='d.source')} AS url,
           {_GOLD} AS student_answer,
           round(sum({DUCKDB_RESP_SCORE.replace('doc_id', 'd.doc_id')}), 2) AS score,
           round(sum({DUCKDB_RUBRIC_MAX.replace('doc_id', 'd.doc_id')}), 2) AS max_score,
           sum({DUCKDB_RESP_SCORE.replace('doc_id', 'd.doc_id')})
             = sum({DUCKDB_RUBRIC_MAX.replace('doc_id', 'd.doc_id')}) AS is_correct,
           ({_GOLD} = '' OR lower({_GOLD}) = 'Empty Response') AS is_blank,
           'AI_PROCESSED' AS status
    FROM documents d, range(0, 3) t(i) WHERE t.i <= d.doc_id % 3
    GROUP BY d.doc_id, d.text, d.source
    ORDER BY url
    """,
)
def q_generate_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL /generate lifecycle (SURVEY.md §3.1) as one plan: pages
    scan -> Arrow extraction kernel (the only Python hop) -> join grading
    requests -> rubric-fold scoring + flags -> the reference's DB-update
    record shape (utils.py:114-125). The extracted text IS the graded
    student answer, so the oracle's value-hash proves byte-identical
    extraction AND grading in a single end-to-end artifact.

    Plan shape: narrow kernel, one shuffle for the doc_id equi-join
    (requests side is same-cardinality, not broadcastable at 100 TB),
    per-row folds, no other exchange."""
    pages = pages_df_from_documents(spark, sf_dir)
    extracted = extract_pages(pages).select(
        "url",
        F.regexp_extract("url", r"/(\d+)$", 1).cast("bigint").alias("doc_id"),
        F.col("text").alias("student_answer"),
    )
    req = requests_df(spark, sf_dir).select("doc_id", "rubrics", "responses")
    joined = extracted.join(req, "doc_id")
    graded = scoring.grade(
        joined, rubrics_col="rubrics", responses_col="responses",
        text_col="student_answer",
    )
    return graded.select(
        "url",
        "student_answer",
        F.round("score", 2).alias("score"),
        F.round("max_score", 2).alias("max_score"),
        "is_correct",
        F.col("is_blank"),
        F.lit("AI_PROCESSED").alias("status"),
    ).orderBy("url")


from ai_service_ocr_grading_handler_spark.operators import layout_extract as _lay


@register(
    "extract_layout_docs",
    f"""
    WITH g AS (
      SELECT doc_id,
             {DUCKDB_GOLDEN_TEXT_EXPR.format(col='text')} AS gold,
             len(list_filter(string_split({DUCKDB_GOLDEN_TEXT_EXPR.format(col='text')},
                 chr(10) || chr(10)), c -> c <> '')) AS n_chunks
      FROM documents
    )
    SELECT doc_id,
           ('Section ' || doc_id || chr(10) || chr(10) || gold) AS text,
           greatest(2, ceil(n_chunks / 8.0))::int AS n_pages,
           (n_chunks + 1 + 2 * greatest(2, ceil(n_chunks / 8.0)))::int AS n_boxes,
           1 AS n_headings,
           (2 * greatest(2, ceil(n_chunks / 8.0)))::int AS n_furniture,
           length('Section ' || doc_id || chr(10) || chr(10) || gold) AS content_chars
    FROM g ORDER BY doc_id
    """,
)
def q_extract_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Layout-aware extraction (the PDF half of the north star): paginated
    two-column docs with running heads/page numbers -> XY-cut reading-order
    text + furniture removal + font-based heading labels, byte-checked by
    the oracle's golden reconstruction."""
    layout = _lay.layout_df_from_documents(spark, sf_dir)
    return _lay.extract_layout_docs(layout).orderBy("doc_id")


from ai_service_ocr_grading_handler_spark.operators.extract import extract_blocks as _xblocks


@register(
    "content_block_spans",
    f"""
    WITH g AS (
      SELECT doc_id, source,
             string_split({DUCKDB_GOLDEN_TEXT_EXPR.format(col='text')},
                          chr(10) || chr(10)) AS chunks
      FROM documents
    )
    SELECT {DUCKDB_URL_EXPR.format(id='doc_id', src='source')} AS url,
           t.i::int AS content_rank,
           chunks[t.i + 1] AS block_text
    -- range bound 1024 is a generator ceiling only (docs are <= 100 words,
    -- so golden chunks number far below it); the t.i < len(chunks)
    -- predicate is the real stop condition (review finding: the old bound
    -- of 16 assumed <= 160-word docs with only 1.6x headroom, silently)
    FROM g, range(0, 1024) t(i)
    WHERE t.i < len(chunks) AND chunks[t.i + 1] <> ''
    ORDER BY url, content_rank
    """,
)
def q_content_block_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-BLOCK span fidelity (finer than whole-text identity): each
    content-classified block of the exploded block table must equal the
    corresponding golden chunk, in order. Block-level confidence and
    density features ride along in `extract_blocks` (pytest-checked; they
    depend on the boilerplate, which the oracle cannot see)."""
    from pyspark.sql import Window

    pages = pages_df_from_documents(spark, sf_dir)
    blocks = _xblocks(pages).filter(F.col("is_content"))
    w = Window.partitionBy("url").orderBy("block_id")
    return (
        blocks.withColumn("content_rank", F.row_number().over(w) - 1)
        .select(
            "url",
            F.col("content_rank").cast("int").alias("content_rank"),
            F.col("text").alias("block_text"),
        )
        .orderBy("url", "content_rank")
    )


@register(
    "corpus_top_ngrams",
    f"""
    WITH sh AS (
      SELECT unnest({_dd.SHINGLES_DUCK}) AS ngram FROM documents
    )
    SELECT ngram, count(*) AS n_docs
    FROM sh GROUP BY ngram
    ORDER BY n_docs DESC, ngram LIMIT 20
    """,
)
def q_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-k n-gram frequencies (the vocabulary/contamination
    audit every training-data pipeline runs): explode distinct per-doc
    shingles -> count -> top-k. Partial aggregation combines map-side, so
    the shuffle carries (ngram, partial count), not rows."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(_dd.shingles_col()).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.asc("ngram"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Training-data curation tier (driver-checked): paragraph dedup, the
# end-to-end curation composite, sequence packing, long-doc chunking,
# deterministic split+mix, and benchmark decontamination. Inputs derive
# deterministically from `documents` (para_corpus plants paragraph
# structure, shared boilerplate, PII and exact copies — identically
# expressed in Spark and DuckDB, same pattern as dup_corpus).
# ---------------------------------------------------------------------------

from ai_service_ocr_grading_handler_spark.operators import curation as _cur
from ai_service_ocr_grading_handler_spark.operators import packing as _pk
from ai_service_ocr_grading_handler_spark.operators import sampling as _samp

_PARA_SQL_STAGES = """
    paras AS (
      SELECT doc_id, u.idx, u.para FROM {src},
        LATERAL (SELECT unnest(string_split(text, chr(10)||chr(10))) AS para,
                        generate_subscripts(string_split(text, chr(10)||chr(10)), 1) AS idx) u
      WHERE trim(u.para) <> ''
    ),
    keepers AS (
      SELECT doc_id, idx, para FROM (
        SELECT doc_id, idx, para,
               row_number() OVER (PARTITION BY md5(para) ORDER BY doc_id, idx) AS rn
        FROM paras
      ) WHERE rn = 1
    ),
    rebuilt AS (
      SELECT s.doc_id,
             coalesce(string_agg(k.para, chr(10)||chr(10) ORDER BY k.idx), '')
               AS dedup_text
      FROM {src} s LEFT JOIN keepers k USING (doc_id)
      GROUP BY s.doc_id
    )
"""


@register(
    "paragraph_dedup",
    f"""
    WITH corpus AS ({_dd.PARA_CORPUS_DUCK}),
    {_PARA_SQL_STAGES.format(src='corpus')}
    SELECT doc_id, dedup_text FROM rebuilt
    """,
)
def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dolma/CCNet-style paragraph-level exact dedup over the
    paragraph-structured corpus: every repeated paragraph (the planted
    boilerplate, the PII paragraph post-hoc, the +1M exact copies'
    paragraphs) survives only at its first (doc_id, idx) occurrence; the
    oracle derives the same result via an independent window-function
    formulation. One shuffle on the paragraph hash + one reassembly
    groupBy — paragraph text crosses the shuffle once."""
    return _dd.paragraph_dedup(_dd.para_corpus(spark, sf_dir))


# regexp strip, not trim(): DuckDB trim also removes only spaces, and the
# Spark gate strips ALL whitespace ends — the twins must agree on tabs/
# newlines at the edges (review finding)
_CURATE_STRIP_DUCK = "regexp_replace(text, '^\\s+|\\s+$', '', 'g')"
# ONE source for the gate bounds, interpolated into the oracle AND passed
# to the Spark call — hand-copied bounds could silently desynchronize the
# twins (review finding; same lesson as _question_col)
_CURATE_MIN_WORDS, _CURATE_MAX_WORDS = 5, 10000
_CURATE_GATE_DUCK = (
    f"CASE WHEN {_CURATE_STRIP_DUCK} = '' THEN 0"
    f" ELSE len(regexp_split_to_array({_CURATE_STRIP_DUCK}, '\\s+')) END"
    f" BETWEEN {_CURATE_MIN_WORDS} AND {_CURATE_MAX_WORDS}"
)


@register(
    "curate_corpus",
    f"""
    WITH corpus AS ({_dd.PARA_CORPUS_DUCK}),
    scrubbed AS (
      SELECT doc_id,
             {_cur.line_dedup_duck(_dd.pii_redact_duck('text'))} AS text
      FROM corpus
      WHERE {_CURATE_GATE_DUCK}
    ),
    uniq AS (
      SELECT doc_id, text FROM (
        SELECT doc_id, text,
               row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM scrubbed
      ) WHERE rn = 1
    ),
    {_PARA_SQL_STAGES.format(src='uniq')}
    SELECT doc_id, dedup_text AS text FROM rebuilt WHERE dedup_text <> ''
    """,
)
def q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation composite (C4/Gopher/Dolma stage order): length
    gate -> PII scrub -> intra-doc line dedup -> exact dedup (window over
    md5(text)) -> paragraph-level dedup -> drop emptied docs. The oracle
    chains the independently-verified DuckDB stage twins, so a value match
    certifies the whole pipeline's composition, not just its parts."""
    return _cur.curate_corpus(
        _dd.para_corpus(spark, sf_dir),
        min_words=_CURATE_MIN_WORDS,
        max_words=_CURATE_MAX_WORDS,
    )


_PACK_MAX = 256
_PACK_GROUPS = 16


@register(
    "pack_sequences",
    f"""
    WITH RECURSIVE counted AS (
      SELECT doc_id, {_tq.duck_bpe_token_count('text')}::int AS n_tokens,
             {_pk.md5_group_id_duck('doc_id', _PACK_GROUPS)} AS group_id
      FROM documents
    ),
    ordered AS (
      SELECT *, row_number() OVER (PARTITION BY group_id ORDER BY doc_id) AS rn
      FROM counted
    ),
    rec AS (
      SELECT group_id, doc_id, n_tokens, rn,
             0::bigint AS pack_id,
             n_tokens::bigint AS ct1,
             (CASE WHEN n_tokens >= {_PACK_MAX} THEN 1 ELSE 0 END)::bigint AS cp_post,
             (CASE WHEN n_tokens >= {_PACK_MAX} THEN 0 ELSE n_tokens END)::bigint AS ct_post
      FROM ordered WHERE rn = 1
      UNION ALL
      -- lateral aliases must NOT reuse rec's column names (pack_id/ct1):
      -- the recursive table's columns shadow same-named lateral aliases,
      -- silently reading the PREVIOUS row's state (found by value oracle)
      SELECT o.group_id, o.doc_id, o.n_tokens, o.rn,
             CASE WHEN r.ct_post > 0 AND r.ct_post + o.n_tokens > {_PACK_MAX}
                  THEN r.cp_post + 1 ELSE r.cp_post END AS new_pack,
             CASE WHEN r.ct_post > 0 AND r.ct_post + o.n_tokens > {_PACK_MAX}
                  THEN o.n_tokens ELSE r.ct_post + o.n_tokens END AS new_ct,
             CASE WHEN new_ct >= {_PACK_MAX} THEN new_pack + 1 ELSE new_pack END,
             CASE WHEN new_ct >= {_PACK_MAX} THEN 0 ELSE new_ct END
      FROM rec r JOIN ordered o ON o.group_id = r.group_id AND o.rn = r.rn + 1
    )
    SELECT group_id, pack_id, doc_id, n_tokens,
           n_tokens > {_PACK_MAX} AS oversize
    FROM rec
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy first-fit sequence packing (the GPT-style pretraining step):
    native BPE-ish token counting -> ONE shuffle on an md5-derived group
    key -> per-group Arrow-batched greedy pass. The oracle replays the
    greedy recurrence with a recursive CTE, value-checking every (group,
    pack, doc) assignment — the applyInPandas kernel is held to exact
    cross-engine parity, not just row counts."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return _pk.pack_sequences(
        docs,
        max_tokens=_PACK_MAX,
        n_groups=_PACK_GROUPS,
        group_col=_pk.md5_group_id("doc_id", _PACK_GROUPS),
    )


@register(
    "chunk_documents",
    f"""
    SELECT doc_id, chunk_idx::int AS chunk_idx, chunk_text,
           len(string_split(chunk_text, ' '))::int AS n_words
    FROM ({_pk.chunk_documents_duck(window=40, stride=30)})
    """,
)
def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-document word-window chunking with overlap (window 40, stride
    30): pure per-row expressions + one posexplode — zero shuffle, zero
    Python; how oversize documents from pack_sequences become trainable
    pieces without silent truncation."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return _pk.chunk_documents(docs, window=40, stride=30)


_SPLIT_W = {"train": 0.8, "val": 0.1, "test": 0.1}
_MIX_RATES = {"src0": 0.5, "src1": 2.5, "src2": 0.0}


@register(
    "split_and_mix",
    f"""
    WITH assigned AS (
      SELECT doc_id, source,
             CASE WHEN {_samp.hash_frac_duck('doc_id', 'split')} < 0.8 THEN 'train'
                  WHEN {_samp.hash_frac_duck('doc_id', 'split')} < 0.9 THEN 'val'
                  ELSE 'test' END AS split,
             {_samp.mix_sources_duck_n_copies(_MIX_RATES)} AS n_copies
      FROM documents
    )
    SELECT doc_id, source, split, c.copy::int AS copy
    FROM assigned, LATERAL (SELECT unnest(range(0, n_copies)) AS copy) c
    """,
)
def q_split_and_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (md5-fraction thresholds — a
    document's split never changes across runs or corpus growth) composed
    with Pile/Dolma-style source mixture weighting (downsample src0 0.5x,
    upsample src1 2.5x, drop src2). Scan-speed expressions + one
    posexplode; the oracle value-checks every assignment and copy."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    mixed = _samp.mix_sources(
        _samp.deterministic_split(docs, _SPLIT_W), _MIX_RATES
    )
    return mixed.select("doc_id", "source", "split", "copy")


@register(
    "decontaminate",
    f"""
    WITH bench AS (
      SELECT DISTINCT unnest({_dd._ngram_h60_duck('text', 13)}) AS g
      FROM documents WHERE doc_id % 97 = 0
    ),
    train_grams AS (
      SELECT doc_id, unnest({_dd._ngram_h60_duck('text', 13)}) AS g
      FROM documents
    ),
    dirty AS (
      SELECT DISTINCT t.doc_id FROM train_grams t JOIN bench b ON t.g = b.g
    )
    SELECT doc_id, lang FROM documents
    WHERE doc_id NOT IN (SELECT doc_id FROM dirty)
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3/C4 recipe): every training document
    sharing ANY whitespace-normalized word 13-gram with the benchmark set
    (here: the doc_id %97 sample standing in for an eval suite) is dropped
    via a broadcast anti-join — zero corpus shuffle; hashes are md5-derived
    so the oracle value-checks the surviving id set."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    return _dd.decontaminate(docs, bench).select("doc_id", "lang")


# ---------------------------------------------------------------------------
# Priority ordering: the driver correctness-checks queries() in dict order
# (round 1 checked exactly the first 50 of 57, leaving the flagship
# generate_update_records unchecked). The registry is capped at 50 entries
# AND reordered so that if a future driver checks fewer, the north-rule
# flagships and newest operators are checked first.
# ---------------------------------------------------------------------------

@register_library(
    "dsir_select",
    _samp.dsir_select_duck(
        "SELECT doc_id, text FROM documents",
        "SELECT text FROM documents WHERE source IN ('src0', 'src1')",
        k=100,
    ),
)
def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (Xie et al., arXiv:2302.03169): hashed
    unigram+bigram multinomials fit over a trusted target slice (sources
    src0/src1) and the raw pool, per-doc target/raw log-likelihood-ratio
    weights, Gumbel-top-k selection with the noise derived from the
    deterministic md5 draw so the sample is reproducible and
    value-oracled. Distribution fits are bounded-cardinality groupBys
    (<= buckets rows), the weight table is a broadcast hash join, and the
    top-k is a TakeOrdered — no global sort. The DuckDB twin recomputes
    every bucket count, smoothed ratio, and the selected set."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    target = docs.filter(F.col("source").isin("src0", "src1")).select("text")
    return _samp.dsir_select(docs.select("doc_id", "text"), target, k=100)


@register(
    "quality_filter",
    _samp.quality_classifier_duck(
        "SELECT doc_id, text FROM documents",
        "SELECT text FROM documents WHERE source IN ('src0', 'src1')",
    )
    + " ORDER BY doc_id",
)
def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3-style quality-classifier filtering (Brown et al. 2020
    Appendix A): Naive-Bayes posterior over hashed unigram+bigram
    multinomials fit on a trusted reference slice vs the raw pool, then
    the published Pareto keep rule (score > 1 - pareto(9) draw) with the
    draw derived from the deterministic md5 uniform. Same scale shape as
    dsir_select (they share the fit): bounded-cardinality groupBys, a
    broadcast ratio join, one per-doc aggregate. The DuckDB twin
    recomputes every count, the sigmoid, the Pareto threshold and the
    keep decision."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    ref = docs.filter(F.col("source").isin("src0", "src1")).select("text")
    return _samp.quality_classifier(docs.select("doc_id", "text"), ref).orderBy(
        "doc_id"
    )


@register_library(
    "perplexity_buckets",
    _tq.perplexity_buckets_duck(
        "SELECT doc_id, text FROM documents",
        "SELECT text FROM documents WHERE doc_id % 10 = 0",
    )
    + " ORDER BY doc_id",
)
def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style quality selection (arXiv:1911.00359): score every doc
    by mean bigram logprob under an add-alpha LM counted from a trusted
    reference slice (doc_id % 10 — CCNet's Wikipedia stand-in), then cut
    the score distribution into head/middle/tail tertiles. Training is
    two map-side-combined groupBys over the small reference; scoring is
    count-table joins plus one per-doc avg; cutoffs are a 1-row broadcast
    — no global sort anywhere. The DuckDB twin value-checks every count,
    the smoothed logprob and the bucket assignment."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ref = docs.filter(F.col("doc_id") % 10 == 0).select("text")
    return _tq.perplexity_buckets(docs, ref).orderBy("doc_id")


@register_library(
    "perplexity_buckets_pruned",
    _tq.perplexity_buckets_duck(
        "SELECT doc_id, text FROM documents",
        "SELECT text FROM documents WHERE doc_id % 10 = 0",
        top_k_bigrams=500,
    )
    + " ORDER BY doc_id",
)
def q_perplexity_buckets_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB shape of CCNet scoring: the bigram table pruned to its
    top-500 counts (KenLM-style; deterministic (count desc, w1, w2)
    selection via TakeOrdered) with the smoothing floor absorbing pruned
    mass, so the count-table join BROADCASTS — the corpus bigram stream
    never shuffles for it. The DuckDB twin applies the identical pruned
    model, value-checking scores and bucket assignment."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ref = docs.filter(F.col("doc_id") % 10 == 0).select("text")
    return _tq.perplexity_buckets(docs, ref, top_k_bigrams=500).orderBy("doc_id")


# planted page structure for the duplicate-segment gates: every third doc
# gets a repeated nav line AND a verbatim repeat of its own body as a
# second paragraph block (the scraped-boilerplate shape Gopher A1.1 cuts);
# every fifth doc gets a repeated short line only. Identical construction
# in both engines, so the gate values are fully value-checked.
_REP_TEXT_DUCK = (
    "CASE WHEN doc_id % 3 = 0 THEN"
    " 'nav menu' || chr(10) || text || chr(10) || 'nav menu'"
    " || chr(10) || chr(10) || text"
    " WHEN doc_id % 5 = 0 THEN"
    " substr(text, 1, 24) || chr(10) || text || chr(10) || substr(text, 1, 24)"
    " ELSE text END"
)


@register_library(
    "repetition_gates",
    f"""
    WITH pages AS (SELECT doc_id, {_REP_TEXT_DUCK} AS text FROM documents)
    SELECT doc_id,
           {_tq.duck_top_word_ratio('text')} AS top_word_ratio,
           {_tq.duck_top_bigram_ratio('text')} AS top_bigram_ratio,
           {_tq.duck_dup_line_fraction('text')} AS dup_line_frac,
           {_tq.duck_dup_line_char_fraction('text')} AS dup_line_char_frac,
           {_tq.duck_dup_paragraph_fraction('text')} AS dup_para_frac,
           {_tq.duck_dup_paragraph_char_fraction('text')} AS dup_para_char_frac
    FROM pages ORDER BY doc_id
    """,
)
def q_repetition_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full Gopher A1.1 repetition gate set: most-common word/2-gram
    ratios plus duplicate line/paragraph fractions (count- and
    char-weighted) — all single-row native expressions at scan speed,
    zero shuffle. The fixture plants repeated nav lines and a verbatim
    body re-paste on deterministic doc_id residues; the DuckDB twin
    recomputes every gate with an independent derivation (distinct-count
    arithmetic vs Spark's first-occurrence flags) and value-checks all
    six."""
    d = F.col("doc_id")
    nl = F.lit("\n")
    planted = (
        F.when(
            d % 3 == 0,
            F.concat(
                F.lit("nav menu"), nl, F.col("text"), nl, F.lit("nav menu"),
                nl, nl, F.col("text"),
            ),
        )
        .when(
            d % 5 == 0,
            F.concat(
                F.substring("text", 1, 24), nl, F.col("text"), nl,
                F.substring("text", 1, 24),
            ),
        )
        .otherwise(F.col("text"))
    )
    pages = _t(spark, sf_dir, "documents").select("doc_id", planted.alias("text"))
    return pages.select(
        "doc_id",
        _tq.top_word_ratio().alias("top_word_ratio"),
        _tq.top_bigram_ratio().alias("top_bigram_ratio"),
        _tq.dup_line_fraction().alias("dup_line_frac"),
        _tq.dup_line_char_fraction().alias("dup_line_char_frac"),
        _tq.dup_paragraph_fraction().alias("dup_para_frac"),
        _tq.dup_paragraph_char_fraction().alias("dup_para_char_frac"),
    ).orderBy("doc_id")


# planted hazards for the C4 cleaning row: the raw docs table is one line
# of unpunctuated word soup (line-dropped whole), so each doc gains
# 3 + doc_id % 4 prose sentence lines (exercising BOTH sides of the
# 5-sentence page minimum), a nav line (no terminal punctuation), a
# javascript-boilerplate line and a 2-word line (all three line-dropped);
# deterministic residues plant a lorem-ipsum line, a code line with '{'
# and a blocklist word (kept or dropped at line level per the line rule,
# but gating the PAGE).
_C4_PROSE_DUCK = " || ".join(
    f"CASE WHEN {k} <= 3 + doc_id % 4 THEN"
    f" 'Prose line {k} reads ' || substr(text, {1 + 7 * k}, 12) || ' end.'"
    " || chr(10) ELSE '' END"
    for k in range(1, 7)
)
_C4_TEXT_DUCK = (
    f"{_C4_PROSE_DUCK} || text || chr(10) || 'Header Menu'"
    " || chr(10) || 'Enable javascript to view this page.'"
    " || chr(10) || 'Too short.'"
    " || CASE WHEN doc_id % 13 = 0 THEN chr(10) ||"
    " 'We add lorem ipsum dolor sit amet here.' ELSE '' END"
    " || CASE WHEN doc_id % 17 = 0 THEN chr(10) ||"
    " 'function() { return 1; }' ELSE '' END"
    " || CASE WHEN doc_id % 19 = 0 THEN chr(10) ||"
    " 'This line mentions badword in running prose.' ELSE '' END"
)


@register_library(
    "c4_line_clean",
    _curation.c4_line_clean_duck(
        f"SELECT doc_id, {_C4_TEXT_DUCK} AS text FROM documents",
        bad_words=["badword"],
    )
    + " ORDER BY doc_id",
)
def q_c4_line_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 §2.2 line + page cleaning (Raffel et al. 2020): terminal-
    punctuation line filter with a 3-word minimum and the javascript
    drop, then page gates — '{' (code), 'lorem ipsum' (placeholder), a
    word blocklist (word-boundary via alnum tokenization, never
    substring), and >= 5 sentences over the CLEANED text. All native
    expressions, zero shuffle. The fixture plants every hazard class on
    deterministic residues; the DuckDB twin recomputes cleaned text,
    line/sentence counts and the page verdict, all value-checked."""
    d = F.col("doc_id")
    nl = F.lit("\n")
    prose = [
        F.when(
            F.lit(k) <= 3 + d % 4,
            F.concat(
                F.lit(f"Prose line {k} reads "),
                F.substring("text", 1 + 7 * k, 12),
                F.lit(" end."),
                nl,
            ),
        ).otherwise(F.lit(""))
        for k in range(1, 7)
    ]
    planted = F.concat(
        *prose,
        F.col("text"), nl,
        F.lit("Header Menu"), nl,
        F.lit("Enable javascript to view this page."), nl,
        F.lit("Too short."),
        F.when(
            d % 13 == 0,
            F.concat(nl, F.lit("We add lorem ipsum dolor sit amet here.")),
        ).otherwise(F.lit("")),
        F.when(
            d % 17 == 0, F.concat(nl, F.lit("function() { return 1; }"))
        ).otherwise(F.lit("")),
        F.when(
            d % 19 == 0,
            F.concat(nl, F.lit("This line mentions badword in running prose.")),
        ).otherwise(F.lit("")),
    )
    pages = _t(spark, sf_dir, "documents").select("doc_id", planted.alias("text"))
    return _curation.c4_line_clean(pages, bad_words=["badword"]).orderBy("doc_id")


@register(
    "normalize_text",
    """
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0
                THEN text || ' ' || chr(8212) || ' caf' || chr(233)
                ELSE text END AS fixed,
           doc_id % 2 = 0 AS was_mojibake,
           nfc_normalize(text || ' cafe' || chr(769)) AS nfc
    FROM documents ORDER BY doc_id
    """,
)
def q_normalize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization tier, value-checked two ways. (1) Mojibake
    repair BY CONSTRUCTION: even doc_ids are corrupted natively
    (encode UTF-8, decode Latin-1 — the exact double-encode web
    pipelines commit) after appending an em-dash + 'café' suffix, and
    `fix_mojibake` must reproduce the original string byte-exactly while
    leaving clean odd rows untouched (no false positives — the is_mojibake
    flag is part of the hash). (2) NFC via a CROSS-ENGINE normalizer: the
    Spark side composes a planted decomposed 'e'+U+0301 with the Arrow
    kernel, DuckDB with its own independent `nfc_normalize`."""
    from ai_service_ocr_grading_handler_spark.operators import normalize as _nz

    d = F.col("doc_id")
    suffixed = F.concat(F.col("text"), F.lit(" — café"))
    corrupted = F.when(
        d % 2 == 0, F.decode(F.encode(suffixed, "UTF-8"), "ISO-8859-1")
    ).otherwise(F.col("text"))
    pages = _t(spark, sf_dir, "documents").select(
        "doc_id",
        _nz.fix_mojibake(corrupted).alias("fixed"),
        _nz.is_mojibake(corrupted).alias("was_mojibake"),
        F.concat(F.col("text"), F.lit(" cafe\u0301")).alias("nfc"),
    )
    return _nz.nfc_normalize(pages, cols=("nfc",)).orderBy("doc_id")


_PRIORITY = [
    "extract_pages",
    "generate_update_records",
    "extract_layout_docs",
    "content_block_spans",
    "minhash_lsh_neardups",
    "semantic_dedup",
    "curate_corpus",
    "url_filter",
    "normalize_text",
    "quality_filter",
    "paragraph_dedup",
    "pack_sequences",
    "chunk_documents",
    "split_and_mix",
    "decontaminate",
    "stack_number_crops",
    "audio_wav_features",
    "message_dialects",
    "message_dialects_vision",
    "credit_writeback",
    "question_format",
    "corpus_top_ngrams",
    "grade_requests",
    "ensemble_number_batch",
    "essay_fanout_concat",
]


def _reorder_registry() -> None:
    ordered = {k: _REGISTRY[k] for k in _PRIORITY if k in _REGISTRY}
    ordered.update({k: v for k, v in _REGISTRY.items() if k not in ordered})
    _REGISTRY.clear()
    _REGISTRY.update(ordered)


_reorder_registry()
# Hard check, not `assert`: python -O strips asserts, and a 51st
# registration must fail fast rather than silently fall past the driver's
# 50-query correctness window.
if len(_REGISTRY) > 50:
    raise RuntimeError(
        f"registry holds {len(_REGISTRY)} queries; the driver checks at most"
        " 50 — merge or fold an existing entry before adding one"
    )
