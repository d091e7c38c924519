"""Deduplication operators for web-scale training-data pipelines.

Four tiers, each the idiomatic Spark shape for its scale:

- **Exact dedup** — content-hash groupBy (one shuffle on the hash key).
- **N-gram Jaccard** — exact pairwise similarity via shingle explode +
  self-equi-join; correct but quadratic in shared-shingle candidates, the
  baseline the LSH tier is verified against.
- **MinHash + LSH** — signature -> banding -> bucket join: candidates are
  generated by equality on band hashes (shuffle on small band keys, never
  all-pairs), then EXACTLY verified with the Jaccard join restricted to
  candidates. This is the 100 TB path: cost ~ (docs x bands) + verified
  candidates, not docs².
- **SimHash** — 60-bit signatures from md5-derived word hashes as a pure
  per-row array fold (zero shuffle); Hamming-close docs share band keys.
- **Benchmark decontamination** — drop training docs sharing any word
  13-gram with a benchmark suite (GPT-3/C4 recipe): benchmark n-gram set
  broadcast, corpus streams through a broadcast anti-join — zero corpus
  shuffle.
- **Paragraph-level dedup** — Dolma/CCNet-style: repeated paragraphs
  survive only at their first (doc, position) occurrence; one shuffle on
  the paragraph hash, documents reassembled in order.
- **PII redaction** — C4/Dolma email/IP/phone scrub as a RE2-safe
  regexp_replace chain (scan-speed, zero shuffle).

The reference has no dedup (single-request scope); its closest analog is
SQS content-based dedup (`MessageDeduplicationId`,
/root/reference/engine/gen_utils_files/testCase.txt:355-357) — exact dedup
is that, keyed on content hash instead of message hash.

Every tier — including the MinHash permutations — hashes via md5 (identical
in Spark and DuckDB), so the DuckDB oracle checks VALUES for all four tiers,
not just row counts. All hashing is deterministic -> results are stable
across partitionings and resumable runs.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Observation, SparkSession

from ai_service_ocr_grading_handler_spark.core.partitioning import (
    shared_by,
    widen_if_narrow,
)
from ai_service_ocr_grading_handler_spark.core.telemetry import Recent, observed

# --- corpus with planted duplicates ------------------------------------------
# 20% of documents get an exact copy (+1M id) and a near copy (+2M id, last
# word dropped). SQL-expressible in DuckDB (see DUP_CORPUS_DUCK).

_DROP_LAST_SPARK = (
    "array_join(slice(split(text, ' '), 1, size(split(text, ' ')) - 1), ' ')"
)
_DROP_LAST_DUCK = (
    "array_to_string(list_slice(string_split(text, ' '), 1,"
    " len(string_split(text, ' ')) - 1), ' ')"
)

DUP_CORPUS_DUCK = f"""
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 5 = 0
    UNION ALL
    SELECT doc_id + 2000000, {_DROP_LAST_DUCK} FROM documents WHERE doc_id % 5 = 0
"""


def dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    copies = docs.filter(F.col("doc_id") % 5 == 0)
    exact = copies.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    near = copies.select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.expr(_DROP_LAST_SPARK).alias("text"),
    )
    return docs.unionAll(exact).unionAll(near)


# --- paragraph-structured fixture corpus ----------------------------------------
# `documents.text` is a single-line word stream, so the paragraph-tier
# operators (paragraph_dedup, curate_corpus) get a deterministic rewrite of
# it with planted structure, expressible identically in Spark and DuckDB:
# - every doc becomes 2-3 paragraphs (word slices 1-5 / 6-10 / 11+);
# - doc_id % 3 == 0 docs share one verbatim boilerplate paragraph
#   (cross-document paragraph dedup has something to find);
# - doc_id % 7 == 0 docs get a leading PII-bearing paragraph (the scrub
#   rewrites it to the same <EMAIL> form in every such doc, which then
#   paragraph-dedups across docs);
# - doc_id % 5 == 0 docs get an exact +1M-id copy (exact dedup removes it).

_PARA_BOILER = "every page of this site carries this same navigation boilerplate"

_PARA_TEXT_SPARK = (
    "concat("
    " CASE WHEN doc_id % 7 = 0 THEN concat('contact user@example.com for access', chr(10), chr(10)) ELSE '' END,"
    " array_join(slice(split(text, ' '), 1, 5), ' '),"
    " chr(10), chr(10),"
    f" CASE WHEN doc_id % 3 = 0 THEN '{_PARA_BOILER}'"
    " ELSE array_join(slice(split(text, ' '), 6, 5), ' ') END,"
    " CASE WHEN size(split(text, ' ')) > 10"
    " THEN concat(chr(10), chr(10), array_join(slice(split(text, ' '), 11, 1000000), ' '))"
    " ELSE '' END)"
)

_PARA_TEXT_DUCK = (
    "concat("
    " CASE WHEN doc_id % 7 = 0 THEN 'contact user@example.com for access' || chr(10) || chr(10) ELSE '' END,"
    " array_to_string(list_slice(string_split(text, ' '), 1, 5), ' '),"
    " chr(10) || chr(10),"
    f" CASE WHEN doc_id % 3 = 0 THEN '{_PARA_BOILER}'"
    " ELSE array_to_string(list_slice(string_split(text, ' '), 6, 10), ' ') END,"
    " CASE WHEN len(string_split(text, ' ')) > 10"
    " THEN chr(10) || chr(10) || array_to_string(list_slice(string_split(text, ' '), 11, 1000000), ' ')"
    " ELSE '' END)"
)

PARA_CORPUS_DUCK = f"""
    SELECT doc_id, {_PARA_TEXT_DUCK} AS text FROM documents
    UNION ALL
    SELECT doc_id + 1000000, {_PARA_TEXT_DUCK} FROM documents WHERE doc_id % 5 = 0
"""


def para_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", F.expr(_PARA_TEXT_SPARK).alias("text")
    )
    copies = docs.filter(F.col("doc_id") % 5 == 0)
    exact = copies.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    return docs.unionAll(exact)


# --- exact dedup ---------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Hash-groupBy exact dedup: one shuffle on md5(text); the canonical row
    is the minimum id (deterministic, resume-safe)."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_md5"))
        .agg(
            F.min(id_col).alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# --- shingling + exact n-gram Jaccard ------------------------------------------

SHINGLE_N = 3

# Two load-bearing details in this expression:
#
# 1. SHORT-DOC GUARD — docs shorter than SHINGLE_N words yield an EMPTY
#    shingle array. An unguarded sequence(0, size - n) is DESCENDING for
#    short docs and slice(..., 0, n) then throws
#    INVALID_PARAMETER_VALUE.START, killing the task — violating the "one
#    poisoned row never kills a task" contract. The DuckDB range(0, n - 2)
#    form is already total (empty list for short docs).
#
# 2. SPLIT HOIST — `split(text)` is bound to the lambda variable `ws` of a
#    single-element transform instead of being referenced inside the inner
#    lambda. Higher-order-function lambdas are interpreted per element, so
#    an inner reference to split(text) RE-TOKENIZES the document once per
#    shingle (O(words²) per row — measured 5x slower at sf0.1). A lambda
#    variable is evaluated once per row and cannot be inlined away by
#    CollapseProject.
_SHINGLES_SPARK = (
    "flatten(transform(array(split(text, ' ')), ws ->"
    " CASE WHEN size(ws) < {n} THEN cast(array() as array<string>)"
    " ELSE array_distinct(transform(sequence(1, size(ws) - {n} + 1),"
    " i -> concat_ws(' ', slice(ws, i, {n})))) END))"
).format(n=SHINGLE_N)

SHINGLES_DUCK = (
    "list_distinct(list_transform(range(0, len(string_split(text, ' ')) - {n} + 1),"
    " i -> array_to_string(list_slice(string_split(text, ' '), i + 1, i + {n}), ' ')))"
).format(n=SHINGLE_N)

# 60-bit shingle hash from md5 (15 hex chars fit a signed 64-bit long) —
# IDENTICAL in Spark and DuckDB, so every downstream value is oracle-checkable.
_SHINGLE_H60_SPARK = (
    f"transform({_SHINGLES_SPARK},"
    " s -> cast(conv(substring(md5(s), 1, 15), 16, 10) as bigint))"
)
SHINGLE_H60_DUCK = (
    f"list_transform({SHINGLES_DUCK}, s -> ('0x' || substr(md5(s), 1, 15))::bigint)"
)


def shingles_col() -> Column:
    """Distinct word {SHINGLE_N}-gram shingles of `text` (native, per-row)."""
    return F.expr(_SHINGLES_SPARK)


def shingle_rows(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    return df.select(F.col(id_col), F.explode(shingles_col()).alias("sh"))


def jaccard_pairs(
    df: DataFrame, threshold: float = 0.6, id_col: str = "doc_id"
) -> DataFrame:
    """Exact n-gram Jaccard over all pairs sharing >= 1 shingle.

    Plan: explode -> self-equi-join on shingle (a.id < b.id) -> pair-count
    agg -> join per-doc shingle counts -> filter. Quadratic only in
    co-shingled pairs; the MinHash tier bounds this at scale.
    """
    sh = shingle_rows(df, id_col)
    counts = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a, b = sh.alias("a"), sh.alias("b")
    shared = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(
            F.col(f"a.{id_col}").alias("a_id"), F.col(f"b.{id_col}").alias("b_id")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        shared.join(counts.withColumnRenamed(id_col, "a_id").withColumnRenamed("n_sh", "n_a"), "a_id")
        .join(counts.withColumnRenamed(id_col, "b_id").withColumnRenamed("n_sh", "n_b"), "b_id")
        .withColumn(
            "jaccard",
            F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "shared", F.round("jaccard", 4).alias("jaccard"))
    )


# --- MinHash + LSH ---------------------------------------------------------------

MINHASH_PERMS = 32
LSH_BANDS = 16
LSH_ROWS = MINHASH_PERMS // LSH_BANDS
_MERSENNE31 = (1 << 31) - 1

# deterministic permutation constants (< 2^31 so a*h31 + b stays < 2^63 —
# Spark 4 runs ANSI mode and errors on long overflow instead of wrapping);
# fixed, so signatures are stable across runs/partitionings
_PERM_A = [(2 * i * 0x9E3779B1 + 1) % _MERSENNE31 for i in range(1, MINHASH_PERMS + 1)]
_PERM_B = [(i * 0x85EBCA77 + 13) % _MERSENNE31 for i in range(1, MINHASH_PERMS + 1)]


def _shingle_h31_expr() -> str:
    """SQL text of the shingle -> 31-bit hash array, computed ONCE per
    row; permutations fold over this array instead of re-hashing strings.
    md5-derived (not xxhash64) so the DuckDB oracle reproduces every
    signature bit."""
    return f"transform({_SHINGLE_H60_SPARK}, h -> h % {_MERSENNE31})"


SHINGLE_H31_DUCK = (
    f"list_transform({SHINGLE_H60_DUCK}, h -> h % {_MERSENNE31})"
)


def _sig_duck(hashes_col: str, k: int) -> str:
    """DuckDB k-th signature fold — byte-identical to the one-pass
    zip_with aggregate in minhash_bands_df (the Spark-side per-permutation
    SQL generator it used to twin was dead code and removed: only one
    Spark form must exist or the two drift silently)."""
    a, b = _PERM_A[k], _PERM_B[k]
    return f"list_min(list_transform({hashes_col}, h -> ({a} * h + {b}) % {_MERSENNE31}))"


def minhash_bands_df(
    df: DataFrame, id_col: str = "doc_id", hashes_col: str | None = None
) -> DataFrame:
    """(id, band_idx, band_hash) rows: equal band-hash => candidate pair.

    ``hashes_col``: name of a precomputed 60-bit shingle-hash ARRAY column
    on `df` (the round-6 one-md5-pass path: minhash_lsh_neardups computes
    (id, h60) once, behind an exchange that both the banding below and
    the candidate verification reuse — the shingle+md5 chain used to run
    twice, once here and once re-shingling candidates in the verify).
    When None, `df` must carry `text` and the chain is computed inline.

    ONE projection computes shingle-hash -> 32-permutation signature -> 16
    band keys per row, with every intermediate bound ONCE via the
    array()/lambda-variable hoist (the same CollapseProject discipline as
    _SHINGLES_SPARK: a lambda variable is evaluated once per row and cannot
    be inlined per consumer). This replaces the round-5 form, which paid
    (a) a separate Filter(size(h31) > 0) whose pushed-down condition
    re-evaluated the whole shingle+md5 chain a second time, and (b) two
    repartition exchanges used purely as CollapseProject barriers — while
    still leaving the expensive md5 work BELOW the first exchange, i.e. in
    the scan stage, which at bench scale is a single ~6 MB parquet split:
    the dominant cost ran single-threaded (guide §2.5 input skew). Docs
    with no shingles yield an EMPTY band array (CASE inside the hoist), so
    posexplode drops them — same semantics as the old filter without a
    second evaluation.

    The input is widened to full parallelism BEFORE the hashing projection
    when (and only when) the scan is narrower than the executor
    (widen_if_narrow — a no-op at production scale, where the scan already
    has thousands of splits and the kernel runs where the data is)."""
    # all 32 permutations in ONE pass over the hash array (one small
    # expression instead of 32 inlined folds — Catalyst analysis/codegen of
    # the 32-fold form cost seconds of driver time per run)
    a_arr = ", ".join(f"{a}L" for a in _PERM_A)
    b_arr = ", ".join(f"{b}L" for b in _PERM_B)
    sig = (
        f"aggregate(hs, array_repeat({_MERSENNE31}L, {MINHASH_PERMS}),"
        f" (acc, h) -> zip_with(acc,"
        f" zip_with(array({a_arr}), array({b_arr}), (a, b) -> (a * h + b) % {_MERSENNE31}),"
        f" (m, v) -> least(m, v)))"
    )
    # band hash = md5 over 'band_idx|sig..|sig' folded to 60 bits — identical
    # in DuckDB, so the oracle reproduces the candidate generation exactly
    bands = ", ".join(
        "cast(conv(substring(md5(concat_ws('|', {parts})), 1, 15), 16, 10)"
        " as bigint)".format(
            parts=", ".join(
                [f"'{i}'"]
                + [
                    f"cast(element_at(sg, {i * LSH_ROWS + r + 1}) as string)"
                    for r in range(LSH_ROWS)
                ]
            )
        )
        for i in range(LSH_BANDS)
    )
    if hashes_col is None:
        h31_src = _shingle_h31_expr()
        rep = widen_if_narrow(df.select(F.col(id_col), "text"), by=F.col(id_col))
    else:
        h31_src = f"transform({hashes_col}, x -> x % {_MERSENNE31})"
        rep = df  # caller already widened and exchanged the hash frame
    fused = (
        f"element_at(transform(array({h31_src}), hs ->"
        f" CASE WHEN size(hs) = 0 THEN cast(array() as array<bigint>)"
        f" ELSE element_at(transform(array({sig}), sg -> array({bands})), 1)"
        f" END), 1)"
    )
    return rep.select(
        F.col(id_col), F.posexplode(F.expr(fused)).alias("band_idx", "band_hash")
    )


def in_bucket_pairs_expr(
    arr: str, body: str = "struct(x AS a, y AS b)", keep: str | None = None
) -> str:
    """i<j pair generation INSIDE one bucket row: sorted member array ->
    flat pair array, `body` constructs the pair from lambda vars x (the
    earlier member) and y (the later). ONE definition shared by minhash,
    simhash, sign-LSH and semantic dedup — the subtle slice arithmetic
    (i + 2 start, size - i - 1 length) must never drift between tiers
    (review finding).

    ``keep``: optional per-pair predicate over (x, y) applied BEFORE the
    pair struct is built. A dense bucket of k members yields k(k-1)/2
    candidate structs; when the caller filters them right after the explode
    anyway (SimHash's hamming gate), building the struct first materializes
    tens of millions of short-lived rows per run — filtering inside the
    lambda allocates structs only for survivors (a pure push-down: filter
    then distinct == distinct then filter for a deterministic per-pair
    predicate)."""
    inner = f"slice({arr}, i + 2, size({arr}) - i - 1)"
    if keep is not None:
        inner = f"filter({inner}, y -> {keep})"
    return f"flatten(transform({arr}, (x, i) -> transform({inner}, y -> {body})))"


def capped_buckets(
    rows: DataFrame,
    keys: list[str],
    members: Column,
    max_bucket: int,
    unit: str,
    registry: Recent,
) -> DataFrame:
    """Group `rows` by `keys` and return (keys..., members) rows, one per
    bucket with at least two members: the `members` aggregate (collect_set
    or collect_list of ids or structs) sorted, then sliced to its first
    `max_bucket` entries. ONE definition of the hot-bucket cap for every
    bucketed near-dup tier; the `members` column feeds
    in_bucket_pairs_expr.

    The cap exists because in-bucket pair generation builds the O(k²)
    pair array in ONE row's memory before the explode, so a degenerate
    bucket (100k near-identical docs in one band) would OOM an executor
    where a self-join streamed. A bucket that large is an exact-duplicate
    mass that belongs to exact_dedup (run it first; curate_corpus does),
    and every standard LSH deployment caps or salts hot buckets the same
    way. The cap never triggers on the registry fixtures, so the join-form
    DuckDB oracles (no cap) stay value-exact.

    The cap is never silent: an Observation on the full bucket frame,
    registered in `registry`, reports `capped_{unit}s` (buckets sliced),
    `max_{unit}_size` and `n_{unit}s` once the result has executed."""
    obs = Observation()
    registry.add(obs)
    return (
        rows.groupBy(*keys)
        .agg(F.array_sort(members).alias("full"))
        .observe(
            obs,
            F.sum((F.size("full") > max_bucket).cast("long")).alias(f"capped_{unit}s"),
            F.max(F.size("full")).alias(f"max_{unit}_size"),
            F.count(F.lit(1)).alias(f"n_{unit}s"),
        )
        .select(*keys, F.slice("full", 1, max_bucket).alias("members"))
        .filter(F.size("members") > 1)
    )


# Telemetry of recent invocations, one registry per operator (see
# core.telemetry.Recent): hot-bucket caps of minhash_lsh_neardups and
# minhash_incremental, of simhash_neardup_pairs, and the hot-gram skew of
# exact_substr_dedup's k-gram aggregate.
_MINHASH = Recent(observed, "no executed minhash_lsh_neardups invocation to report on")
_SIMHASH = Recent(observed, "no executed simhash_neardup_pairs invocation to report on")
_EXACT_SUBSTR = Recent(observed, "no executed exact_substr_dedup invocation to report on")


def last_minhash_metrics() -> dict:
    """Hot-bucket telemetry for the newest `minhash_lsh_neardups` (or
    `minhash_incremental`) invocation with COMPLETED metrics:
    `capped_buckets` (buckets whose member list was sliced to max_bucket —
    each one a place where candidate recall was deliberately traded for
    bounded executor memory), `max_bucket_size`, `n_buckets`, and
    `invocation` (monotonic build id — compare against consecutive calls to
    detect that a newer run's metrics were optimizer-eliminated or not yet
    executed). Never blocks on a plan that was built but not executed."""
    return _MINHASH.newest()


def last_simhash_metrics() -> dict:
    """Hot-bucket telemetry for the newest `simhash_neardup_pairs`
    invocation with COMPLETED metrics; same keys as
    `last_minhash_metrics`. Never blocks."""
    return _SIMHASH.newest()


def last_exact_substr_metrics() -> dict:
    """Hot-gram telemetry for the newest `exact_substr_dedup` invocation
    with COMPLETED metrics: `max_gram_occurrences` (corpus-wide occurrence
    count of the most viral k-gram — the skew a window-rank formulation
    would have single-partitioned), `dup_grams` (hashes occurring more than
    once), `n_grams` (distinct hashes), and `invocation` (monotonic build
    id, as in `last_minhash_metrics`). Never blocks."""
    return _EXACT_SUBSTR.newest()


def minhash_lsh_neardups(
    df: DataFrame,
    threshold: float = 0.6,
    id_col: str = "doc_id",
    max_bucket: int = 1000,
) -> DataFrame:
    """Scale-path near-dup detection: LSH candidates, then exact verification
    of ONLY the candidates.

    1. per-doc band keys (narrow, no shuffle);
    2. one groupBy on (band_idx, band_hash), pairs generated INSIDE each
       bucket (sorted ids, capped at max_bucket -> i<j struct explode):
       the signature pipeline runs once and there is no band self-join —
       one shuffle on band keys, cost ~ docs x bands + sum(bucket²);
    3. exact-Jaccard verify restricted to candidate pairs: the shared
       shingle-hash frame is narrowed to the candidate id set (a join on
       the distinct ids), and the verification is a per-pair
       array_intersect over md5-derived 60-bit shingle-hash arrays — no
       explode, no shingle self-join (the quadratic baseline
       `jaccard_pairs` exists only as the correctness oracle). At 100 TB
       candidates are ~the duplicate mass, orders of magnitude below the
       corpus; this narrowing keeps the verify joins sublinear.
    Output == `jaccard_pairs` restricted to LSH candidates; on corpora where
    LSH recall is 1 (tested), equal to the exact result.

    Hash-choice perf note (measured round 4, sf0.1 local[32]): swapping
    every md5-derived hash for native xxhash64 (the choice a deployment
    without the cross-engine value oracle would make) yields the identical
    pair set ~16% faster (5.06 -> 4.25 s) — md5 is no longer the dominant
    cost (the round-2 2.6 s shingle-md5 floor shrank with the corpus
    semi-join); the banding/verify joins are. md5 is kept because it is
    what makes every signature bit value-checkable in DuckDB.
    """
    # ONE shingle+md5 pass for the whole query (round 6): the 60-bit
    # shingle-hash frame is read by BOTH the banding (h31 = h60 % M) and
    # the candidate verification. It ends in an exchange on the id the
    # verify joins on, which every branch plans identically, so AQE runs
    # the hashing once per action and reuses the exchange (see
    # shared_by for what keeps the branches identical).
    corpus_h = shared_by(
        df.select(F.col(id_col), "text"),
        id_col,
        lambda d: d.select(F.col(id_col), F.expr(_SHINGLE_H60_SPARK).alias("h")),
    )
    bands = minhash_bands_df(corpus_h, id_col, hashes_col="h")
    # capped buckets report through last_minhash_metrics()
    pairs = in_bucket_pairs_expr("members", "struct(x AS a_id, y AS b_id)")
    cand = (
        capped_buckets(
            bands, ["band_idx", "band_hash"], F.collect_set(id_col),
            max_bucket, "bucket", _MINHASH,
        )
        .select(F.explode(F.expr(pairs)).alias("p"))
        .select(F.col("p.a_id"), F.col("p.b_id"))
        .distinct()
    )
    return _verify_candidate_pairs(cand, df, threshold, id_col, harr_all=corpus_h)


def _verify_candidate_pairs(
    cand: DataFrame,
    corpus: DataFrame,
    threshold: float,
    id_col: str,
    harr_all: DataFrame | None = None,
) -> DataFrame:
    """Exact-Jaccard verification of (a_id, b_id) candidate pairs against
    `corpus` — ONE implementation shared by the full and incremental
    MinHash operators, whose tested run(A)+run(B|A) ≡ run(A∪B) equivalence
    requires the two verify stages to stay value-identical (review
    finding: this block was duplicated).

    Without precomputed hashes (`harr_all`) the corpus is joined to the
    distinct candidate ids BEFORE shingling (only candidate docs are ever
    shingled). Per-doc
    DISTINCT shingle-hash arrays (shingles_col is array_distinct'd; h60 is
    collision-free at these cardinalities) are kept AS ARRAYS: the verify
    is a per-pair array_intersect fold, so the shuffle carries one array
    per candidate doc and nothing is exploded."""
    # `cand` is read by the candidate-id frontier and by the verify. The
    # signature pipeline sits below its bucket aggregate's exchange, which
    # every reader plans identically (filters the joins infer stop at the
    # pair explode above it), so AQE runs it once per action.
    cand_ids = (
        cand.select(F.col("a_id").alias(id_col))
        .union(cand.select(F.col("b_id").alias(id_col)))
        .distinct()
    )
    # Narrowing to the candidates is an inner join on the distinct ids,
    # not a left_semi: Catalyst pushes a semi-join below exchanges and into
    # union branches, and the filters it infers there give the readers of
    # `cand` (and of the hash frame) different, unshared exchanges.
    if harr_all is not None:
        # hashes precomputed by the caller behind a shared exchange — no
        # re-shingling
        harr = harr_all.join(cand_ids, id_col)
    else:
        # the shingle+md5 of candidate docs is the expensive part of the
        # verify: widen it off the (single-split at bench scale) scan
        # stage — probe the corpus scan, never the broadcast-join plan
        # (see widen_if_narrow) — and share it between both join sides
        harr = shared_by(
            corpus.join(cand_ids, id_col),
            id_col,
            lambda d: d.select(F.col(id_col), F.expr(_SHINGLE_H60_SPARK).alias("h")),
            probe=corpus,
        )
    return (
        cand.join(
            harr.select(F.col(id_col).alias("a_id"), F.col("h").alias("h_a")), "a_id"
        )
        .join(
            harr.select(F.col(id_col).alias("b_id"), F.col("h").alias("h_b")), "b_id"
        )
        .select(
            "a_id",
            "b_id",
            F.size(F.array_intersect("h_a", "h_b")).alias("shared"),
            F.size("h_a").alias("n_a"),
            F.size("h_b").alias("n_b"),
        )
        .withColumn(
            "jaccard",
            F.col("shared") / (F.col("n_a") + F.col("n_b") - F.col("shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a_id", "b_id", "shared", F.round("jaccard", 4).alias("jaccard"))
    )


def minhash_lsh_duck(corpus_sql: str, threshold: float = 0.6) -> str:
    """DuckDB oracle for minhash_lsh_neardups: reproduces signatures, band
    hashes, candidate generation AND the exact-Jaccard verification value
    for value, not just row-count, checking (possible because every hash is
    md5-derived on both engines)."""
    sig_cols = ",\n             ".join(
        f"{_sig_duck('h31', k)} AS s{k}" for k in range(MINHASH_PERMS)
    )
    band_rows = "\n      UNION ALL ".join(
        "SELECT doc_id, {i} AS band_idx,"
        " ('0x' || substr(md5(concat_ws('|', '{i}', {parts})), 1, 15))::bigint"
        " AS band_hash FROM sigs".format(
            i=i,
            parts=", ".join(f"s{i * LSH_ROWS + r}" for r in range(LSH_ROWS)),
        )
        for i in range(LSH_BANDS)
    )
    return f"""
    WITH dup AS ({corpus_sql}),
    hashed AS (SELECT doc_id, {SHINGLE_H31_DUCK} AS h31 FROM dup),
    sigs AS (SELECT doc_id, {sig_cols}
             FROM hashed WHERE len(h31) > 0),
    bands AS ({band_rows}),
    cand AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
       AND a.doc_id < b.doc_id),
    sh AS (SELECT doc_id, unnest({SHINGLE_H60_DUCK}) AS sh FROM dup),
    counts AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    shared AS (
      SELECT c.a_id, c.b_id, count(*) AS shared
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.a_id
      JOIN sh sb ON sb.doc_id = c.b_id AND sb.sh = sa.sh
      GROUP BY 1, 2)
    SELECT s.a_id, s.b_id, s.shared,
           round(s.shared / (ca.n + cb.n - s.shared), 4) AS jaccard
    FROM shared s
    JOIN counts ca ON ca.doc_id = s.a_id
    JOIN counts cb ON cb.doc_id = s.b_id
    WHERE s.shared / (ca.n + cb.n - s.shared) >= {threshold}
    ORDER BY a_id, b_id
    """


# --- cross-run incremental dedup -------------------------------------------------
# At 100 TB the corpus is append-only and dedup must not re-process the
# committed mass every run (the extraction path already resumes via an
# anti-join frontier, plans/lineage.py:80 — this is the same idea for the
# dedup tier; reference analog: SQS at-least-once redelivery dedup,
# /root/reference/engine/gen_utils_files/testCase.txt:352-357). The state a
# prior run persists is tiny relative to the corpus: the content-hash
# ledger (exact tier) and the band-key table (MinHash tier — the
# "signature store" a production lake keeps next to the corpus).
#
# Equivalence contract (tested: run(A) + run(B | A) ≡ run(A ∪ B)): holds
# under an APPEND-ONLY ID FRONTIER — every committed id sorts before every
# new id. That is the realistic lake contract (monotone ingest ids); with
# arbitrary ids the pair/survivor SETS still match but canonical-id choice
# could differ (the full run may elect a new id as canonical where the
# incremental run already committed an old one).


def exact_dedup_incremental(
    new_df: DataFrame,
    committed_hashes: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact dedup of a NEW document slice against itself and the committed
    corpus's content-hash ledger.

    `committed_hashes`: any frame with a `content_md5` column — the output
    of a prior `exact_dedup` run (or the ledger it committed).

    Plan: hash-groupBy the new slice (one shuffle on md5, new docs only),
    then drop already-committed hashes with a LEFT-ANTI join on
    `content_md5`. The ledger holds one row per distinct committed document
    — far too large to broadcast at 100 TB — so the anti-join shuffles on
    the same hash key the groupBy just produced, and only (hash, id, count)
    rows move; the committed TEXT is never read at all.

    Output = `exact_dedup` rows for content the corpus has never seen;
    `n_copies` counts new copies only (copies of already-committed content
    are simply dropped — their count lives with the committed row).
    """
    return exact_dedup(new_df, text_col, id_col).join(
        committed_hashes.select("content_md5"), "content_md5", "left_anti"
    )


def minhash_incremental(
    new_df: DataFrame,
    committed_df: DataFrame,
    committed_bands: DataFrame | None = None,
    threshold: float = 0.6,
    id_col: str = "doc_id",
    max_bucket: int = 1000,
) -> DataFrame:
    """Near-dup pairs INVOLVING at least one new document, without
    re-banding the committed corpus.

    `committed_bands` is the (id, band_idx, band_hash) frame a prior run
    persisted (`minhash_bands_df` output — the signature store). Only the
    NEW slice is shingled/signed here; the committed side contributes its
    stored band keys, and its text is touched only for the candidate ids
    the verify stage actually needs (an inner join on the distinct
    candidate ids, same as the base operator). Pass `committed_bands=None` to derive them in-place
    (correct, but that re-signs the corpus — the thing this form avoids).

    Candidate generation: band rows are tagged `is_new`, bucketed together
    with the stored committed bands, and in-bucket i<j pairs are kept only
    when at least one member is new — committed-vs-committed pairs were
    already found by the run that committed them. The hot-bucket cap is
    the shared `capped_buckets`, reporting through `last_minhash_metrics`
    like `minhash_lsh_neardups` (no silent caps); the cap slices the same
    sorted-id prefix the full run would, so cap behavior cannot differ
    between the full and incremental plans.

    Equivalence (tested): with monotone ids,
      minhash_lsh_neardups(A ∪ B) ≡ minhash_lsh_neardups(A)
                                     ∪ minhash_incremental(B, A, bands(A))
    because band keys are deterministic per document and bucket membership
    of A ∪ B equals the union of stored and new band rows.
    """
    if committed_bands is None:
        committed_bands = minhash_bands_df(committed_df, id_col)
    bands = committed_bands.select(
        F.col(id_col), "band_idx", "band_hash", F.lit(0).alias("is_new")
    ).unionByName(
        minhash_bands_df(new_df, id_col).select(
            F.col(id_col), "band_idx", "band_hash", F.lit(1).alias("is_new")
        )
    )
    # sorted (id, is_new) structs: array_sort on structs orders by the
    # first field, so the sliced prefix is the same id prefix the full run
    # caps to, independent of which side a member came from
    pairs = in_bucket_pairs_expr(
        "members",
        "struct(x.{id} AS a_id, y.{id} AS b_id,"
        " greatest(x.is_new, y.is_new) AS has_new)".format(id=id_col),
    )
    cand = (
        capped_buckets(
            bands, ["band_idx", "band_hash"],
            F.collect_set(F.struct(F.col(id_col), F.col("is_new"))),
            max_bucket, "bucket", _MINHASH,
        )
        .select(F.explode(F.expr(pairs)).alias("p"))
        .filter(F.col("p.has_new") == 1)
        # guard the documented append-only contract: an id present in BOTH
        # committed_df and new_df would otherwise carry two (id, is_new)
        # structs through one bucket and mint a degenerate self-pair
        # (a_id == b_id, jaccard 1) instead of surfacing the violation
        .filter(F.col("p.a_id") != F.col("p.b_id"))
        .select(F.col("p.a_id"), F.col("p.b_id"))
        .distinct()
    )
    corpus = committed_df.select(F.col(id_col), "text").unionByName(
        new_df.select(F.col(id_col), "text")
    )
    return _verify_candidate_pairs(cand, corpus, threshold, id_col)


# --- SimHash ---------------------------------------------------------------------

SIMHASH_BITS = 60  # 15 hex chars of md5 -> fits a signed 64-bit long

# word -> 60-bit hash, identical in Spark and DuckDB:
_WORD_HASH_SPARK = "cast(conv(substring(md5({w}), 1, 15), 16, 10) as bigint)"
WORD_HASH_DUCK = "(('0x' || substr(md5({w}), 1, 15))::bigint)"


def word_hashes_col(text_col: str = "text") -> Column:
    """Per-word 60-bit md5 hashes (native transform); compute ONCE per row,
    then fold 60 bit votes over it (the fold re-reads the array, not md5)."""
    return F.expr(
        f"transform(split({text_col}, ' '), w -> {_WORD_HASH_SPARK.format(w='w')})"
    )


def _simhash_terms(hashes_col: str) -> str:
    """SQL text of the 60-bit SimHash vote sum over a hash-array expression
    (shared by simhash_col and the fused simhash_bands_df projection)."""
    return " + ".join(
        (
            "(CASE WHEN aggregate({h}, 0L, (acc, h) -> acc +"
            " CASE WHEN shiftright(h, {b}) % 2 = 1 THEN 1 ELSE -1 END) > 0"
            " THEN shiftleft(1L, {b}) ELSE 0L END)"
        ).format(h=hashes_col, b=b)
        for b in range(SIMHASH_BITS)
    )


def simhash_col(hashes_col: str = "word_hashes") -> Column:
    """60-bit SimHash over a precomputed hash-array column — one weighted
    vote per bit position, all native per-row folds, zero shuffle.

    Deliberately the 60-separate-folds form: a single-pass variant
    (per-bit ones-counts via zip_with accumulator, then bit assembly) wins
    in ISOLATION (~15% and much cheaper to analyze) but measured 4x SLOWER
    inside the full neardup-pairs pipeline (19s vs 5s at sf0.1, identical
    output; measured under the round-1 bands-self-join pipeline — the
    pipeline is now in-bucket pair generation at ~3.7s, where the
    separate-folds form remains the measured winner) — the per-element
    array allocations interact badly with the downstream explode/join
    stages. Benchmark the whole query, not the stage, before touching
    this."""
    return F.expr(_simhash_terms(hashes_col))


def simhash_duck_expr(hashes_expr: str) -> str:
    """DuckDB equivalent of simhash_col over a hash-list expression (use a
    CTE column so the list is computed once, mirroring the Spark side)."""
    terms = " + ".join(
        "(CASE WHEN list_sum(list_transform({h}, h -> CASE WHEN (h >> {b}) % 2 = 1"
        " THEN 1 ELSE -1 END)) > 0 THEN (1::bigint << {b}) ELSE 0 END)".format(
            h=hashes_expr, b=b
        )
        for b in range(SIMHASH_BITS)
    )
    return f"({terms})"


WORD_HASHES_DUCK = (
    "list_transform(string_split({col}, ' '), w -> " + WORD_HASH_DUCK.format(w="w") + ")"
)


SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS  # 15


def simhash_bands_df(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, simhash, band_idx, band_key) rows for Hamming-near candidate
    generation: docs within Hamming distance d < SIMHASH_BANDS share at
    least one intact 15-bit band (pigeonhole), so a bucket join on band
    keys finds all close pairs without an all-pairs product.

    Same CollapseProject discipline as MinHash (round-6 fused form): ONE
    projection computes word-hashes -> 60-vote simhash -> 4 band structs
    per row, with `wh` and `sh` each bound once via the array()/lambda
    hoist — and it runs ABOVE a widen_if_narrow exchange, so the per-word
    md5 no longer executes inside the (single-split at bench scale) scan
    stage. The simhash value rides inside each band struct (8 bytes x 4)
    so the whole pipeline is a single Generate consumer — no second
    barrier needed."""
    band_structs = ", ".join(
        f"named_struct('band_idx', {i}, 'band_key',"
        f" shiftright(sh, {i * SIMHASH_BAND_BITS}) % {1 << SIMHASH_BAND_BITS},"
        f" 'simhash', sh)"
        for i in range(SIMHASH_BANDS)
    )
    wh = f"transform(split(text, ' '), w -> {_WORD_HASH_SPARK.format(w='w')})"
    fused = (
        f"element_at(transform(array({wh}), wh ->"
        f" element_at(transform(array({_simhash_terms('wh')}), sh ->"
        f" array({band_structs})), 1)), 1)"
    )
    rep = widen_if_narrow(df.select(F.col(id_col), "text"), by=F.col(id_col))
    return rep.select(F.col(id_col), F.explode(F.expr(fused)).alias("b")).select(
        id_col,
        F.col("b.simhash").alias("simhash"),
        F.col("b.band_idx").alias("band_idx"),
        F.col("b.band_key").alias("band_key"),
    )


def simhash_neardup_pairs(
    df: DataFrame,
    max_hamming: int = 8,
    id_col: str = "doc_id",
    max_bucket: int = 1000,
) -> DataFrame:
    """Hamming-near pairs: band-bucket candidates -> exact bit_count(xor)
    verify. Guaranteed complete for distance < SIMHASH_BANDS; the threshold
    above that trades recall for candidate volume like every SimHash
    deployment.

    Pairs are generated INSIDE each band bucket (groupBy -> sorted
    (id, simhash) structs -> i<j explode), not via a bands-self-join: the
    self-join form plans ZERO ReusedExchange here (measured), so the
    per-word-md5 + 60-vote signature pipeline — the dominant cost — ran
    once PER JOIN SIDE. One groupBy on the band key keeps it to a single
    pass and a single shuffle. Buckets are capped at max_bucket sorted
    members before the O(k²) in-row pair array is built (`capped_buckets`);
    capped buckets report through `last_simhash_metrics()`."""
    bands = simhash_bands_df(df, id_col)
    # the hamming gate is applied INSIDE the pair lambda (keep=), before
    # any pair struct exists: at sf1.0 the buckets hold 54.6M raw i<j
    # candidates of which only the <= max_hamming survivors (a few 100k)
    # ever materialize — the struct-then-filter form spent ~7 s and peak
    # memory allocating the 54.6M doomed structs (measured round 6)
    pairs = in_bucket_pairs_expr(
        "members",
        "struct(x.id AS a_id, y.id AS b_id, bit_count(x.sh ^ y.sh) AS hamming)",
        keep=f"bit_count(x.sh ^ y.sh) <= {int(max_hamming)}",
    )
    # explicit-N repartition before the explode: the bucket aggregate's
    # output is a few thousand tiny rows, which AQE's byte-based
    # coalescing collapses to ~1 partition — but each row fans out to k²
    # bit_count probes, so the 54.6M-candidate scan ran single-task
    # (measured; same disease and fix as lsh_neardups)
    par = bands.sparkSession.sparkContext.defaultParallelism
    return (
        capped_buckets(
            bands, ["band_idx", "band_key"],
            F.collect_set(F.struct(F.col(id_col).alias("id"), F.col("simhash").alias("sh"))),
            max_bucket, "bucket", _SIMHASH,
        )
        .repartition(par, F.col("band_idx"), F.col("band_key"))
        .select(F.explode(F.expr(pairs)).alias("p"))
        .select("p.a_id", "p.b_id", "p.hamming")
        .distinct()
    )


# --- benchmark decontamination --------------------------------------------------


DECONTAM_N = 13  # the standard GPT-3/C4 contamination n-gram length


def _ngram_h60(text_col: str, n: int) -> str:
    """Word n-gram -> md5-derived 60-bit hashes, split hoisted (see
    _SHINGLES_SPARK for why the lambda variable matters).

    Tokenization splits on ANY whitespace run (after trim), not a literal
    space: the GPT-3/C4 contamination recipe normalizes whitespace before
    n-gramming, and upstream curation stages rejoin text with '\\n' /
    '\\n\\n' — a contaminated passage crossing a line or paragraph boundary
    must still match the benchmark's space-separated n-grams. The strip is
    a regexp (SQL trim() removes only spaces): a leading tab/newline must
    not mint a phantom empty token, which would both lower the effective
    gram length and create hashes outside the normalized gram space
    (review finding)."""
    return (
        "flatten(transform(array(split(regexp_replace({t},"
        " '^\\\\s+|\\\\s+$', ''), '\\\\s+')), ws ->"
        " CASE WHEN size(ws) < {n} THEN cast(array() as array<bigint>)"
        " ELSE array_distinct(transform(sequence(1, size(ws) - {n} + 1),"
        " i -> cast(conv(substring(md5(concat_ws(' ', slice(ws, i, {n}))), 1, 15),"
        " 16, 10) as bigint))) END))"
    ).format(t=text_col, n=n)


def _ngram_h60_duck(text_col: str, n: int) -> str:
    """DuckDB twin of _ngram_h60: identical whitespace normalization,
    identical md5-derived 60-bit hash, so decontaminate() can carry a
    cross-engine value oracle."""
    ws = (
        f"regexp_split_to_array(regexp_replace({text_col},"
        f" '^\\s+|\\s+$', '', 'g'), '\\s+')"
    )
    gram = f"array_to_string(list_slice({ws}, i, i + {n} - 1), ' ')"
    return (
        f"CASE WHEN len({ws}) < {n} THEN []::BIGINT[]"
        f" ELSE list_distinct(list_transform(range(1, len({ws}) - {n} + 2),"
        f" i -> ('0x' || substr(md5({gram}), 1, 15))::bigint)) END"
    )


def decontaminate(
    train: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = DECONTAM_N,
) -> DataFrame:
    """Benchmark decontamination: drop training documents sharing ANY word
    {n}-gram with the benchmark set (the GPT-3 appendix-C / C4 recipe).

    Plan shape for 100 TB of train vs a small benchmark suite:
    benchmark n-gram hashes are DISTINCT'd and BROADCAST (a benchmark is
    MBs, its n-gram set fits comfortably); the training side streams
    through one explode + broadcast LEFT-ANTI join — no shuffle of the
    corpus at all. Documents too short to contain an n-gram are
    trivially clean and kept. Deterministic (md5-derived hashes), so
    resume re-drops exactly the same documents.
    """
    bench_grams = (
        benchmark.select(
            F.explode(F.expr(_ngram_h60(text_col, n))).alias("g")
        ).distinct()
    )
    train_grams = train.select(
        F.col(id_col), F.explode(F.expr(_ngram_h60(text_col, n))).alias("g")
    )
    dirty_ids = (
        train_grams.join(F.broadcast(bench_grams), "g", "left_semi")
        .select(id_col)
        .distinct()
    )
    return train.join(dirty_ids, id_col, "left_anti")


# --- paragraph-level dedup ------------------------------------------------------


def paragraph_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Dolma/CCNet-style paragraph-level exact dedup: drop every paragraph
    whose md5 already appeared at an earlier (id, position), keep the rest,
    and reassemble each document in original paragraph order (documents
    whose every paragraph was seen elsewhere come back as empty text, like
    Dolma's paragraph deduper — the downstream length gate drops them).

    Plan shape for 100 TB: explode to (id, idx, para) -> ONE shuffle on the
    paragraph hash to elect the keeper occurrence (min (id, idx) struct —
    deterministic, resume-safe) -> join survivors back -> one groupBy on id
    to reassemble. Paragraph texts cross the shuffle once; a degenerate
    ubiquitous paragraph ("", boilerplate) is a hot key — the empty/blank
    paragraph is filtered before the shuffle for exactly that reason, and
    the keeper agg is a partial-aggregatable min, so skew combines
    map-side.
    """
    # widen off a single-split scan before the explode+md5 chain (no-op on
    # wide inputs; every stage is deterministic in (id, idx))
    df = widen_if_narrow(df, by=F.col(id_col))
    paras = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n\n")).alias("idx", "para"),
    ).filter(F.trim("para") != "")
    hashed = paras.select(
        id_col, "idx", "para", F.md5(F.col("para")).alias("ph")
    )
    # keeper occurrences, identified by (id, idx) — min over the struct is
    # the lexicographically-first occurrence per paragraph hash. The join
    # back is a LEFT SEMI on (id, idx) only: the ph equality is implied
    # (each keeper row IS an occurrence of its hash), and including it from
    # a self-derived frame resolves to a trivially-true same-attribute
    # predicate anyway.
    keeper = (
        hashed.groupBy("ph")
        .agg(
            F.min(
                F.struct(F.col(id_col).alias("kid"), F.col("idx").alias("kidx"))
            ).alias("k")
        )
        .select(F.col("k.kid").alias(id_col), F.col("k.kidx").alias("idx"))
    )
    kept = hashed.join(keeper, [id_col, "idx"], "left_semi").select(
        id_col, "idx", "para"
    )
    rebuilt = (
        kept.groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(F.col("idx"), F.col("para"))
                        )
                    ),
                    lambda s: s["para"],
                ),
                "\n\n",
            ).alias("dedup_text")
        )
    )
    return (
        df.join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce("dedup_text", F.lit("")).alias("dedup_text"),
        )
    )


# --- exact-substring (span-level) dedup -----------------------------------------


def exact_substr_dedup(
    df: DataFrame, k: int = 50, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """ExactSubstr-style span-level dedup (Lee et al., "Deduplicating
    Training Data Makes Language Models Better", arXiv:2107.06499): every
    verbatim k-word span that occurs at more than one (doc, position) in
    the corpus is removed from every occurrence EXCEPT the lexicographically
    first (min (doc_id, pos) — deterministic, resume/partitioning-safe).
    Overlapping/adjacent removed spans are merged before cutting, and each
    document is reassembled from its surviving words in order; a document
    whose every word is covered comes back as empty text (the downstream
    length gate drops it, as with paragraph_dedup).

    The suffix-array pass of the paper is a single-machine construct; the
    distributed re-expression is stride-1 k-gram fingerprinting:

    1. grams: per doc, md5 of each of the n-k+1 consecutive k-word windows,
       built NATIVELY from the word array (transform over a start-index
       sequence + slice) — zero shuffle, no explode of the words themselves.
    2. the gram triples are shuffled ONCE on the gram hash, carrying only
       (id, pos, gh) (the gram text never crosses the wire). Both the
       occurrence aggregate and the join-back read that one exchange, so
       AQE computes the gram stream once per action and reuses it:
       `groupBy(gh)` yields per-hash occurrence count and the keeper
       `min(struct(id, pos))` with no further shuffle; occurrences join
       back on gh and every row that is not the keeper of a cnt>1 hash is
       a removal. This shuffle is the inherent ExactSubstr cost — O(total
       words) fixed-width rows, the same volume MinHash shuffles per band.
       Deliberately NOT a `Window.partitionBy(gh)` rank: a viral
       boilerplate k-gram (exactly the workload this operator exists for)
       would put millions of occurrences of one hash into a single window
       partition for the sort. The hash aggregate streams the hot key
       without sorting it, and when the duplicated-gram table is small
       AQE broadcasts it to the join. Telemetry: an Observation on the
       aggregate reports `max_gram_occurrences` / `dup_grams` / `n_grams`
       (`last_exact_substr_metrics()`), so a 100 TB run can see its
       boilerplate skew instead of discovering it as a straggler.
    3. removal intervals [pos, pos+k-1] merge per doc via gaps-and-islands
       (tiny data — duplicated occurrences only; shuffle on doc id).
    4. reassembly: merged intervals are collected per doc and joined back
       (removal side is sparse in a healthy corpus -> AQE broadcasts it;
       worst case a sort-merge on id), then surviving words are selected
       with native higher-order functions (filter/exists over the split
       array) — the document text is never exploded row-per-word.

    Hashing is md5 end-to-end, so the DuckDB oracle value-checks spans and
    reassembled text, not just counts (registry `exact_substr_dedup`).
    """
    from pyspark.sql import Window

    ws = F.split(F.col(text_col), " ")
    n = F.size(ws)
    # sequence(1, 0) would be DESCENDING [1, 0] in Spark — guard short docs
    starts = F.when(n >= k, F.sequence(F.lit(1), n - F.lit(k - 1))).otherwise(
        F.expr("array()").cast("array<int>")
    )
    grams = (
        df.select(F.col(id_col), ws.alias("ws"), starts.alias("starts"))
        .select(id_col, "ws", F.explode("starts").alias("pos"))
        .select(
            id_col,
            "pos",
            F.md5(F.concat_ws(" ", F.slice("ws", F.col("pos"), k))).alias("gh"),
        )
    )
    # grams feeds BOTH the occurrence aggregate and the join probe side:
    # end it in the exchange on gh they both need, so the explode +
    # per-window slice + md5 over every corpus word executes once, not
    # once per branch (without a shared exchange it doubled the dominant
    # stage). NULL-id rows go first: the reassembly join infers
    # isnotnull(id), which would otherwise reach below the exchange in
    # the probe branch only and split it in two.
    grams = grams.filter(F.col(id_col).isNotNull()).repartition(
        df.sparkSession.sparkContext.defaultParallelism, F.col("gh")
    )
    obs = Observation()
    _EXACT_SUBSTR.add(obs)
    dup_grams = (
        grams.groupBy("gh")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.min(F.struct(F.col(id_col), F.col("pos"))).alias("keeper"),
        )
        .observe(
            obs,
            F.max("cnt").alias("max_gram_occurrences"),
            F.sum((F.col("cnt") > 1).cast("long")).alias("dup_grams"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .filter(F.col("cnt") > 1)
        .select("gh", "keeper")
    )
    removals = (
        grams.join(dup_grams, "gh")
        .filter(F.struct(F.col(id_col), F.col("pos")) != F.col("keeper"))
        .select(
            id_col, F.col("pos").alias("s"), (F.col("pos") + F.lit(k - 1)).alias("e")
        )
    )
    wdoc = Window.partitionBy(id_col).orderBy("s", "e")
    prev_max = F.max("e").over(wdoc.rowsBetween(Window.unboundedPreceding, -1))
    merged = (
        removals.withColumn(
            "brk",
            F.when(prev_max.isNull() | (F.col("s") > prev_max + 1), 1).otherwise(0),
        )
        .withColumn(
            "island", F.sum("brk").over(wdoc.rowsBetween(Window.unboundedPreceding, 0))
        )
        .groupBy(id_col, "island")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
    )
    ivs = merged.groupBy(id_col).agg(
        F.array_sort(F.collect_list(F.struct("s", "e"))).alias("ivs")
    )
    out = df.join(ivs, id_col, "left")
    toks = F.transform(
        F.split(F.col(text_col), " "),
        lambda w, i: F.struct(w.alias("w"), (i + 1).alias("p")),
    )
    kept = F.filter(
        toks,
        lambda t: ~F.exists(
            F.col("ivs"), lambda iv: (t["p"] >= iv["s"]) & (t["p"] <= iv["e"])
        ),
    )
    clean = F.when(F.col("ivs").isNull(), F.col(text_col)).otherwise(
        F.concat_ws(" ", F.transform(kept, lambda t: t["w"]))
    )
    return out.select(
        F.col(id_col),
        clean.alias("text"),
        F.coalesce(F.size("ivs"), F.lit(0)).alias("n_spans_removed"),
        F.coalesce(
            F.aggregate(
                "ivs",
                F.lit(0),
                lambda acc, iv: acc + iv["e"] - iv["s"] + F.lit(1),
            ),
            F.lit(0),
        ).alias("n_tokens_removed"),
    )


def exact_substr_dedup_duck(corpus_sql: str, k: int) -> str:
    """DuckDB value oracle for exact_substr_dedup: the same stride-1 k-gram
    md5 pipeline (window rank per hash, gaps-and-islands merge, NOT-EXISTS
    word survival) over an identical corpus CTE."""
    return f"""
    WITH dup AS ({corpus_sql}),
    words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM dup),
    positions AS (
      SELECT doc_id, ws,
             unnest(generate_series(1, greatest(len(ws) - {k - 1}, 0))) AS pos
      FROM words
    ),
    grams AS (
      SELECT doc_id, pos,
             md5(array_to_string(list_slice(ws, pos, pos + {k - 1}), ' ')) AS gh
      FROM positions
    ),
    marked AS (
      SELECT doc_id, pos,
             row_number() OVER (PARTITION BY gh ORDER BY doc_id, pos) AS rn,
             count(*) OVER (PARTITION BY gh) AS cnt
      FROM grams
    ),
    removals AS (
      SELECT doc_id, pos AS s, pos + {k - 1} AS e
      FROM marked WHERE cnt > 1 AND rn > 1
    ),
    flagged AS (
      SELECT doc_id, s, e,
             CASE WHEN s > coalesce(max(e) OVER (
                    PARTITION BY doc_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
                  THEN 1 ELSE 0 END AS brk
      FROM removals
    ),
    islands AS (
      SELECT doc_id, s, e,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY s, e
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM flagged
    ),
    merged AS (
      SELECT doc_id, island, min(s) AS s, max(e) AS e
      FROM islands GROUP BY 1, 2
    ),
    toks AS (
      SELECT doc_id, unnest(generate_series(1, len(ws))) AS pos, ws
      FROM words
    ),
    kept AS (
      SELECT t.doc_id, t.pos, t.ws[t.pos] AS w
      FROM toks t
      WHERE NOT EXISTS (
        SELECT 1 FROM merged m
        WHERE m.doc_id = t.doc_id AND t.pos BETWEEN m.s AND m.e
      )
    ),
    rebuilt AS (
      SELECT doc_id, coalesce(string_agg(w, ' ' ORDER BY pos), '') AS text
      FROM kept GROUP BY doc_id
    ),
    stats AS (
      SELECT doc_id, count(*) AS n_spans_removed,
             sum(e - s + 1) AS n_tokens_removed
      FROM merged GROUP BY doc_id
    )
    SELECT d.doc_id,
           -- untouched docs return their text VERBATIM (the Spark side
           -- never re-joins them, so neither may the oracle)
           CASE WHEN s.doc_id IS NULL THEN d.text
                ELSE coalesce(r.text, '') END AS text,
           coalesce(s.n_spans_removed, 0)::INT AS n_spans_removed,
           coalesce(s.n_tokens_removed, 0)::INT AS n_tokens_removed
    FROM dup d
    LEFT JOIN rebuilt r ON r.doc_id = d.doc_id
    LEFT JOIN stats s ON s.doc_id = d.doc_id
    """


# --- PII redaction --------------------------------------------------------------

# RE2-safe (no lookarounds/backrefs) so Spark's Java regex and DuckDB's RE2
# agree byte-for-byte; ordered so emails are rewritten before the phone
# pattern can nibble their digit runs.
PII_PATTERNS = [
    ("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    ("[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}", "<IP>"),
    ("\\+?[0-9][0-9()\\- ]{7,}[0-9]", "<PHONE>"),
]


def pii_redact(text_col: str = "text") -> Column:
    """C4/Dolma-style PII scrub: emails, IPv4 addresses and phone-shaped
    digit runs replaced with typed placeholder tokens — pure
    regexp_replace chain, scan-speed, zero shuffle."""
    col = F.col(text_col)
    for pat, token in PII_PATTERNS:
        col = F.regexp_replace(col, pat, token)
    return col


def pii_redact_duck(col: str = "text") -> str:
    """DuckDB twin of pii_redact (regexp_replace with 'g')."""
    expr = col
    for pat, token in PII_PATTERNS:
        expr = f"regexp_replace({expr}, '{pat}', '{token}', 'g')"
    return expr


# --- near-dup cluster formation (connected components) ---------------------------
# LSH/SimHash emit PAIRS; a pipeline dedups by CLUSTERS: transitively
# connected docs form one group and exactly one representative survives
# (A~B and B~C must not keep both A and C because the pair list never
# compared them). This is the standard post-LSH step in every published
# dedup pipeline (RefinedWeb 5.2, Dolma, SlimPajama), and the distributed
# algorithm is the MapReduce connected-components family (Rastogi et al.
# hash-min propagation; Kiveris et al. "Connected Components in MapReduce
# and Beyond" star contraction). Implemented here as hash-min label
# propagation WITH pointer jumping (label := label of label), which cuts
# the round count from O(diameter) to O(log diameter).
#
# 100 TB shape: every round is two shuffles over the LABEL frame only —
# nodes appearing in pairs, i.e. the duplicate mass, orders of magnitude
# below the corpus — never over the corpus. Each round materializes via
# localCheckpoint so the plan stays constant-size across iterations
# (iterative lineage otherwise grows unboundedly and re-executes every
# prior round at each action). Labels are min-ids, so the fixpoint is
# deterministic and independent of partitioning/resume order.


def _bounded_checkpoint(df: DataFrame) -> DataFrame:
    """Truncate an iterative plan: reliable `checkpoint()` when the
    session has a checkpoint directory configured, else
    `localCheckpoint()`. localCheckpoint stores blocks on executors —
    correct and cheap in local mode, but on a real cluster a lost
    executor forces a full lineage recompute that the truncated plan can
    no longer serve (round-4 verdict). A cluster run sets
    `sc.setCheckpointDir(...)` (HDFS/S3) and every round's cut becomes
    durable; the fallback keeps local runs zero-config."""
    try:
        has_dir = df.sparkSession.sparkContext.getCheckpointDir() is not None
    except Exception:  # pragma: no cover - Connect: no sparkContext
        has_dir = False
    return df.checkpoint() if has_dir else df.localCheckpoint()


def connected_components(
    pairs: DataFrame,
    a_col: str = "a_id",
    b_col: str = "b_id",
    max_iter: int = 50,
) -> DataFrame:
    """(id, comp) for every id appearing in `pairs`; comp = min id of the
    connected component. Converges in O(log diameter) rounds via hash-min
    + pointer jumping; raises if max_iter rounds don't reach a fixpoint
    (duplicate-cluster graphs have tiny diameter — 50 rounds covers a
    diameter-2^50 chain). Ids keep their own type — any orderable,
    non-null id column works (string/UUID ids label to the lexicographic
    minimum); no cast that could silently NULL non-numeric ids.

    Measured (round 4, sf0.1, local[32], min-of-3): the full
    neardup_clusters pipeline — MinHash pairs + components — runs 9.4 s
    over the 7k-doc dup corpus / 3,376 clustered ids; the MinHash stage
    dominates
    (~5 s alone) and the duplicate-triangle graph converges in 2
    rounds."""
    sym = (
        pairs.select(
            F.col(a_col).alias("src"),
            F.col(b_col).alias("dst"),
        )
        .union(
            pairs.select(
                F.col(b_col).alias("src"),
                F.col(a_col).alias("dst"),
            )
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    sym = _bounded_checkpoint(sym)
    # both directions are present, so src alone enumerates every node
    labels = (
        sym.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("comp"))
    )
    labels = _bounded_checkpoint(labels)
    for _ in range(max_iter):
        nbr_min = sym.join(
            labels.select(F.col("id").alias("dst"), "comp"), "dst"
        ).select(F.col("src").alias("id"), "comp")
        relab = (
            labels.union(nbr_min).groupBy("id").agg(F.min("comp").alias("comp"))
        )
        # pointer jump: comp values are always node ids, so every comp has
        # a row in relab and the inner join is total; pcomp <= comp because
        # labels only ever decrease toward the component minimum
        parent = relab.select(
            F.col("id").alias("comp"), F.col("comp").alias("pcomp")
        )
        jumped = (
            relab.join(parent, "comp")
            .select("id", F.col("pcomp").alias("comp"))
        )
        jumped = _bounded_checkpoint(jumped)
        changed = (
            jumped.join(labels.select("id", F.col("comp").alias("prev")), "id")
            .filter(F.col("comp") != F.col("prev"))
            .limit(1)
            .count()
        )
        labels = jumped
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds"
    )


def cluster_dedup(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "a_id",
    b_col: str = "b_id",
) -> DataFrame:
    """One survivor per near-dup cluster: the min-id member of each
    connected component of `pairs` survives; every other member is
    anti-joined out. Docs in no pair never enter the label frame and pass
    through untouched — the anti-join is the only corpus-side work."""
    labels = connected_components(pairs, a_col=a_col, b_col=b_col)
    drop = labels.filter(F.col("id") != F.col("comp")).select(
        F.col("id").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")
