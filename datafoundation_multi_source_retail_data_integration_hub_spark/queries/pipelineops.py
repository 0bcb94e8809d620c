"""Training-pipeline governance + planning queries (round 7).

Nine operator families a 100 TB curation pipeline needs beyond document-
level dedup, each with an exact DuckDB oracle twin:

- substring-level exact dedup — report, actionable keep-first trim, and
  ingest-time incremental form against a persisted window-hash store
  (``doc_substring_dup_spans`` / ``doc_substring_dedup_trim`` /
  ``doc_substring_dedup_ingest``): the ExactSubstr pass of Lee et al.
  2022, as relational algebra (``operators/spans.py``);
- temperature-balanced multilingual sampling
  (``doc_language_balanced_sample``): sqrt(n)-weighted Hamilton quotas —
  the tau=0.5 rebalancing multilingual corpora train with;
- scan/partition sizing probe (``scan_partition_planner``): exact
  logical bytes per table and the split count that hits the target
  partition size — run before setting maxPartitionBytes at 100 TB;
- unicode normalization cleaning (``doc_unicode_clean``): NFC +
  control-char strip + whitespace collapse — the canonicalization stage
  every multilingual corpus runs before hashing/dedup. NFC is ICU4J's
  composer, called on the executor JVM through ``reflect``; the regex
  strip/collapse around it stays codegen'd, and no Python worker runs;
- quality-classifier inference (``doc_classifier_quality_score``): a
  hashed-bigram linear model evaluated as a pure-expression map — the
  fasttext-style keep/drop scorer shape. Weights are a deterministic
  integer formula so the scorer is engine-exact: the real-model swap
  changes one weight lookup, none of the plumbing;
- join-size estimation (``orders_join_cardinality``): per-key count
  products over a deterministic 1/8 key-hash sample vs the exact join
  cardinality — the planner-style estimate you run BEFORE committing a
  100 TB shuffle to size partitions / pick strategy;
- k-anonymity audit (``customer_k_anonymity``): equivalence-class size
  histogram over quasi-identifiers — the privacy gate run before a
  table leaves the governed zone.

Reference parity: none of these exist in the reference (its governance
surface is drop_duplicates + fillna, reference ``etl/transform.py``);
they extend the training-data surface mandated by the build brief.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as TX
from ..operators import spans as SP
from ..sources.tables import load_table_spread, load_tables

SUBSTR_W = 8  # duplicated-run threshold, in tokens (ExactSubstr length)
CLS_BUCKETS = 4096  # hashed-feature dimensionality
CLS_MIX = 2654435761  # Knuth multiplicative-hash constant
SAMPLE_MOD = 8  # 1/8 deterministic key sample for the join estimate
K_ANON = 5  # classes smaller than this are re-identification risks


# ---------------------------------------------------------------------------
# Substring-level exact dedup
# ---------------------------------------------------------------------------


def doc_substring_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents carrying duplicated runs of >= SUBSTR_W consecutive
    tokens, with maximal-span merge and duplicated-token fraction. See
    ``operators/spans.py`` for the shuffle-shape analysis."""
    # scan-fanout spread (see sources.tables.load_table_spread): the
    # tokenize+window-hash pass dominates and otherwise runs inside a
    # single-task scan stage (measured win at sf0.1; interleaved A/B)
    docs = load_table_spread(spark, sf_dir, "documents")
    return SP.substring_dup_report(docs, "text", "doc_id", SUBSTR_W)


DOC_SUBSTRING_DUP_SPANS_ORACLE = SP.sql_substring_dup_report(SUBSTR_W)


# ---------------------------------------------------------------------------
# Unicode normalization cleaning
# ---------------------------------------------------------------------------

# Combining-mark probe: the corpus is ASCII, where NFC is the identity —
# the suffix (two decomposed accents, U+0301) makes the normalization
# path *observable*, so the oracle hash actually pins ICU4J NFC ==
# DuckDB (utf8proc) NFC on composed output. The probe feeds ONLY the
# ``nfc_delta`` gate column: ``clean_text`` is the real artifact,
# cleaned from the document's own text, consumable downstream (the r07
# form appended the probe to the emitted text itself).
_NFC_PROBE = " cafe\u0301 deja\u0301"  # decomposed: e + COMBINING ACUTE
_CTRL_CLASS = r"[\x00-\x1F\x7F]"


def nfc(col: Column) -> Column:
    """Canonical composition (NFC) on the executor JVM: ICU4J's
    ``Normalizer.compose(str, false)``, which ships on Spark's classpath
    for collations, called through the ``reflect`` builtin. Spark has no
    NFC builtin, and ``java.text.Normalizer`` needs an enum argument
    ``reflect`` cannot pass. ``compose`` is deprecated since ICU 56 but
    present; ``reflect`` resolves it when the plan is analysed, so a
    removal fails loudly. ICU throws on a NULL argument, hence the guard:
    NULL in, NULL out."""
    return F.when(
        col.isNotNull(),
        F.reflect(
            F.lit("com.ibm.icu.text.Normalizer"),
            F.lit("compose"),
            col,
            F.lit(False),
        ),
    )


def doc_unicode_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    staged = docs.select(
        "doc_id",
        F.length("text").alias("n_raw_chars"),
        nfc(F.col("text")).alias("__nfc"),
        # gate-only probe, evaluated on the CONSTANT probe text: NFC
        # factorizes across the probe's leading-starter boundary (a
        # space composes/reorders with nothing before it), so
        # delta(text || probe) == delta(text) + delta(probe). The r09
        # form re-normalized the ENTIRE corpus text a second time just
        # to learn this per-row sum; the probe still runs through the
        # same executor-side ICU call (``reflect`` is nondeterministic,
        # so it is not folded away at planning), so a broken NFC path
        # still reddens the oracle gate.
        (
            F.lit(len(_NFC_PROBE)) - F.length(nfc(F.lit(_NFC_PROBE)))
        ).alias("__probe_delta"),
    )
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.col("__nfc"), _CTRL_CLASS, " "), r"\s+", " "
        )
    )
    return staged.select(
        "doc_id",
        "n_raw_chars",
        clean.alias("clean_text"),
        F.length(clean).alias("n_clean_chars"),
        (
            F.col("n_raw_chars") - F.length("__nfc") + F.col("__probe_delta")
        ).alias("nfc_delta"),
    )


DOC_UNICODE_CLEAN_ORACLE = f"""
WITH __u AS MATERIALIZED (
  SELECT doc_id,
         length(text) AS n_raw_chars,
         nfc_normalize(text) AS nfc,
         length(text || ' cafe' || chr(769) || ' deja' || chr(769))
           - length(nfc_normalize(
               text || ' cafe' || chr(769) || ' deja' || chr(769)))
           AS nfc_delta
  FROM documents
)
SELECT doc_id,
       n_raw_chars,
       trim(regexp_replace(regexp_replace(nfc, '{_CTRL_CLASS}', ' ', 'g'),
                           '\\s+', ' ', 'g')) AS clean_text,
       length(trim(regexp_replace(regexp_replace(nfc, '{_CTRL_CLASS}', ' ', 'g'),
                                  '\\s+', ' ', 'g'))) AS n_clean_chars,
       nfc_delta
FROM __u
"""


# ---------------------------------------------------------------------------
# Hashed-feature linear quality classifier
# ---------------------------------------------------------------------------


def doc_classifier_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear keep/drop scorer over hashed bigram features. The per-doc
    logit is an INTEGER sum (milli-units), so it is associativity-free —
    bit-identical under any aggregation order on any engine; the single
    final division produces the float score. Pure-expression map: no
    shuffle, no UDF, scan-parallel at any corpus size."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    staged = docs.select(
        "doc_id",
        TX.ws_tokens(TX.normalized_text(F.col("text"))).alias("__tl"),
    ).select(
        "doc_id",
        TX.positional_hashes_from_tokens(F.col("__tl"), 2).alias("__hl"),
    )
    mixed = lambda h: (  # noqa: E731 — shared weight formula
        ((h % F.lit(CLS_BUCKETS)) * F.lit(CLS_MIX)) % F.lit(2001) - F.lit(1000)
    )
    logit = F.aggregate(
        F.col("__hl"),
        F.lit(0).cast("long"),
        lambda acc, h: acc + mixed(h),
    )
    out = staged.select(
        "doc_id",
        F.size("__hl").alias("n_grams"),
        logit.alias("logit_milli"),
    )
    score = F.when(F.col("n_grams") == 0, F.lit(0.0)).otherwise(
        F.col("logit_milli").cast("double") / (1000.0 * F.col("n_grams"))
    )
    return out.select(
        "doc_id",
        "n_grams",
        "logit_milli",
        score.alias("quality_logit"),
        (score > 0.0).alias("keep"),
    )


_CLS_GRAM_HASH = TX.sql_md5_long("array_to_string(tl[i:i+1], ' ')")
_CLS_HL = (
    "list_transform(generate_series(1, greatest(len(tl) - 1, 0)), "
    f"i -> {_CLS_GRAM_HASH})"
)
_CLS_W = f"((h % {CLS_BUCKETS}) * {CLS_MIX}) % 2001 - 1000"

DOC_CLASSIFIER_QUALITY_ORACLE = f"""
WITH __ctoks AS MATERIALIZED (
  SELECT doc_id, string_split_regex({TX.sql_normalized("text")}, '\\s+') AS tl
  FROM documents
),
__feat AS MATERIALIZED (
  SELECT doc_id, {_CLS_HL} AS hl FROM __ctoks
),
__lg AS (
  SELECT doc_id, len(hl) AS n_grams,
         COALESCE(CAST(list_sum(list_transform(hl, h -> {_CLS_W})) AS BIGINT),
                  0) AS logit_milli
  FROM __feat
)
SELECT doc_id, n_grams, logit_milli,
       CASE WHEN n_grams = 0 THEN 0.0
            ELSE CAST(logit_milli AS DOUBLE) / (1000.0 * n_grams)
       END AS quality_logit,
       (CASE WHEN n_grams = 0 THEN 0.0
             ELSE CAST(logit_milli AS DOUBLE) / (1000.0 * n_grams)
        END) > 0.0 AS keep
FROM __lg
"""


# ---------------------------------------------------------------------------
# Join-cardinality estimation
# ---------------------------------------------------------------------------


def _key_sampled(key: F.Column) -> F.Column:
    """Deterministic 1/SAMPLE_MOD key-hash sample — the same keys are
    sampled on both join sides (sampling must be key-coordinated: row
    sampling would bias |join| down by the sample rate squared)."""
    return TX.md5_long(key.cast("string")) % SAMPLE_MOD == 0


def orders_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predict |orders JOIN lineitem ON orderkey| from per-key count
    products over a 1/8 key sample, beside the exact cardinality.

    At 100 TB only the sampled branch runs: the key-hash filter pushes to
    both scans (1/8 of key groups survive), the per-key counts combine
    map-side, and the estimate costs ~1/8 of a counting pass — versus
    materializing the join. The exact branch here is the oracle twin that
    gates the estimator's math; ``within_20pct`` is the planner contract
    (uniform key sampling concentrates: the estimator is unbiased and
    this corpus' per-key fanout is bounded)."""
    t = load_tables(spark, sf_dir, "orders", "lineitem")
    oc = t["orders"].groupBy("o_orderkey").agg(F.count(F.lit(1)).alias("__oc"))
    lc = (
        t["lineitem"]
        .groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(F.count(F.lit(1)).alias("__lc"))
    )
    exact = (
        oc.join(lc, "o_orderkey")
        .agg(F.sum(F.col("__oc") * F.col("__lc")).alias("exact_join_rows"))
    )

    so = (
        t["orders"]
        .where(_key_sampled(F.col("o_orderkey")))
        .groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("__oc"))
    )
    sl = (
        t["lineitem"]
        .where(_key_sampled(F.col("l_orderkey")))
        .groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(F.count(F.lit(1)).alias("__lc"))
    )
    est = so.join(sl, "o_orderkey").agg(
        F.count(F.lit(1)).alias("sampled_keys"),
        (F.sum(F.col("__oc") * F.col("__lc")) * SAMPLE_MOD).alias(
            "estimated_join_rows"
        ),
    )
    rel_err = (
        F.abs(F.col("estimated_join_rows") - F.col("exact_join_rows")).cast(
            "double"
        )
        / F.col("exact_join_rows")
    )
    # both frames are single-row aggregates — constant-size crossJoin
    return exact.crossJoin(est).select(
        "exact_join_rows",
        "sampled_keys",
        "estimated_join_rows",
        rel_err.alias("rel_err"),
        (rel_err <= 0.2).alias("within_20pct"),
    )


_SAMPLED = (
    lambda col: f"{TX.sql_md5_long(f'CAST({col} AS VARCHAR)')} % {SAMPLE_MOD} = 0"
)

ORDERS_JOIN_CARDINALITY_ORACLE = f"""
WITH __oc AS (SELECT o_orderkey, count(*) AS oc FROM orders GROUP BY 1),
__lc AS (SELECT l_orderkey AS o_orderkey, count(*) AS lc FROM lineitem GROUP BY 1),
__exact AS (
  SELECT CAST(sum(oc * lc) AS BIGINT) AS exact_join_rows
  FROM __oc JOIN __lc USING (o_orderkey)
),
__so AS (SELECT o_orderkey, count(*) AS oc FROM orders
         WHERE {_SAMPLED("o_orderkey")} GROUP BY 1),
__sl AS (SELECT l_orderkey AS o_orderkey, count(*) AS lc FROM lineitem
         WHERE {_SAMPLED("l_orderkey")} GROUP BY 1),
__est AS (
  SELECT count(*) AS sampled_keys,
         CAST(sum(oc * lc) * {SAMPLE_MOD} AS BIGINT) AS estimated_join_rows
  FROM __so JOIN __sl USING (o_orderkey)
)
SELECT exact_join_rows, sampled_keys, estimated_join_rows,
       CAST(abs(estimated_join_rows - exact_join_rows) AS DOUBLE)
         / exact_join_rows AS rel_err,
       (CAST(abs(estimated_join_rows - exact_join_rows) AS DOUBLE)
         / exact_join_rows) <= 0.2 AS within_20pct
FROM __exact, __est
"""


# ---------------------------------------------------------------------------
# k-anonymity audit
# ---------------------------------------------------------------------------


def customer_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equivalence-class size histogram over the quasi-identifier tuple
    (nation, market segment, balance-per-1000 bucket): how many classes
    of each size exist, how many rows they hold, and whether the size is
    below the K_ANON re-identification threshold. Two map-side-combining
    aggregations; the second input is one row per class — at any scale
    the histogram is tiny."""
    c = load_tables(spark, sf_dir, "customer")["customer"]
    qi = c.select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / F.lit(1000.0)).alias("__bal_bucket"),
    )
    classes = qi.groupBy(
        "c_nationkey", "c_mktsegment", "__bal_bucket"
    ).agg(F.count(F.lit(1)).alias("class_size"))
    return (
        classes.groupBy("class_size")
        .agg(F.count(F.lit(1)).alias("n_classes"))
        .select(
            "class_size",
            "n_classes",
            (F.col("class_size") * F.col("n_classes")).alias("n_rows"),
            (F.col("class_size") < K_ANON).alias("at_risk"),
        )
    )


CUSTOMER_K_ANONYMITY_ORACLE = f"""
WITH __cls AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_bucket,
         count(*) AS class_size
  FROM customer GROUP BY 1, 2, 3
)
SELECT class_size,
       count(*) AS n_classes,
       class_size * count(*) AS n_rows,
       class_size < {K_ANON} AS at_risk
FROM __cls GROUP BY class_size
"""


# ---------------------------------------------------------------------------
# Keep-first substring dedup (the actionable trim)
# ---------------------------------------------------------------------------


def doc_substring_dedup_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actionable counterpart of ``doc_substring_dup_spans``: remove
    every token covered by a non-first occurrence of a duplicated
    SUBSTR_W-token window (global keep-first by (doc_id, position)) and
    emit the trimmed corpus. One row per document."""
    # scan-fanout spread (see sources.tables.load_table_spread): the
    # tokenize+window-hash pass dominates and otherwise runs inside a
    # single-task scan stage (measured win at sf0.1; interleaved A/B)
    docs = load_table_spread(spark, sf_dir, "documents")
    return SP.trim_duplicated_spans(docs, "text", "doc_id", SUBSTR_W)


DOC_SUBSTRING_DEDUP_TRIM_ORACLE = SP.sql_trim_duplicated_spans(SUBSTR_W)


def doc_substring_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time substring dedup against a persisted window-hash store:
    even doc_ids play the established corpus (whose DISTINCT window
    hashes are the 8-byte-per-window store a pipeline keeps between
    ingests), odd doc_ids the incoming batch. Flags store hits and
    within-batch keep-first duplicates separately; coverage is
    islands-merged. See ``operators/spans.py``. Both halves live in ONE
    source table, so this uses the fused one-scan form — the two-frame
    ``incremental_substring_report`` read the documents scan twice (the
    parity predicate cannot push into parquet) and ran two separate
    tokenize+hash map subtrees into the shared hv shuffle."""
    # scan-fanout spread (see sources.tables.load_table_spread): the
    # tokenize+window-hash pass dominates and otherwise runs inside a
    # single-task scan stage (measured win at sf0.1; interleaved A/B)
    docs = load_table_spread(spark, sf_dir, "documents")
    return SP.fused_incremental_substring_report(
        docs, F.col("doc_id") % 2 == 1, "text", "doc_id", SUBSTR_W
    )


DOC_SUBSTRING_DEDUP_INGEST_ORACLE = SP.sql_incremental_substring_report(SUBSTR_W)


# ---------------------------------------------------------------------------
# Temperature-balanced multilingual sampling
# ---------------------------------------------------------------------------

LANG_QUOTA = 200  # total docs the balanced sample takes
LANG_TEMP_SCALE = 1000  # milli-precision integer weights from sqrt(n)


def doc_language_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multilingual rebalancing: per-language quotas proportional to
    sqrt(n_lang) (temperature tau=0.5 — upsamples the tail languages an
    n-proportional mix would starve), apportioned with largest-remainder
    (Hamilton) in INTEGER math, then a deterministic id-hash-ranked take
    per language. sqrt is IEEE-correctly-rounded, so floor(sqrt(n)*1000)
    is engine-exact; everything after is integer arithmetic.

    The apportionment is the SAME Hamilton algorithm as
    ``llmops.mixture_quotas`` (driver-side integer form there; window
    expressions over the |languages|-row aggregate here) — a semantic
    change to either (tie-break, floor form) must be mirrored in the
    other and in both SQL oracles.

    Scale shape: the quota table derives from language COUNTS (a
    vocabulary-sized aggregate; the global windows below run over
    |languages| rows, not the corpus); the take is one per-language
    shuffle+sort of (id, hash) pairs — the text never moves."""
    docs = load_tables(spark, sf_dir, "documents")["documents"]
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    wl = F.floor(
        F.sqrt(F.col("n_docs").cast("double")) * LANG_TEMP_SCALE
    ).alias("w")
    glob = Window.partitionBy()  # |languages| rows — global window is fine
    weighted = counts.select("lang", "n_docs", wl).select(
        "lang",
        "n_docs",
        "w",
        (F.lit(LANG_QUOTA) * F.col("w")).alias("__x"),
        F.sum("w").over(glob).alias("__tot"),
    )
    apportioned = weighted.select(
        "lang",
        "n_docs",
        (
            (F.col("__x") - F.col("__x") % F.col("__tot")) / F.col("__tot")
        ).cast("long").alias("__base"),
        (F.col("__x") % F.col("__tot")).alias("__rem"),
    )
    ranked = apportioned.select(
        "lang",
        "n_docs",
        "__base",
        F.row_number()
        .over(Window.partitionBy().orderBy(F.desc("__rem"), F.asc("lang")))
        .alias("__rr"),
        (F.lit(LANG_QUOTA) - F.sum("__base").over(glob)).alias("__left"),
    )
    quotas = ranked.select(
        "lang",
        "n_docs",
        (
            F.col("__base")
            + F.when(F.col("__rr") <= F.col("__left"), 1).otherwise(0)
        ).alias("lang_quota"),
    )
    take = Window.partitionBy("lang").orderBy(
        TX.md5_long(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select(
            "doc_id", "lang", F.row_number().over(take).alias("sample_rank")
        )
        # |languages|-row quota table: broadcast equi-join
        .join(F.broadcast(quotas.select("lang", "lang_quota")), "lang")
        .where(F.col("sample_rank") <= F.col("lang_quota"))
        .select("doc_id", "lang", "sample_rank", "lang_quota")
    )


_LB_HASH = TX.sql_md5_long("CAST(doc_id AS VARCHAR)")

DOC_LANGUAGE_BALANCED_ORACLE = f"""
WITH __lc AS (
  SELECT lang, count(*) AS n_docs,
         CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * {LANG_TEMP_SCALE}) AS BIGINT) AS w
  FROM documents GROUP BY lang
),
__ap AS (
  SELECT lang, n_docs,
         ({LANG_QUOTA} * w) // sum(w) OVER () AS base,
         ({LANG_QUOTA} * w) % sum(w) OVER () AS rem
  FROM __lc
),
__qt AS (
  SELECT lang, n_docs,
         base + CASE WHEN row_number() OVER (ORDER BY rem DESC, lang ASC)
                       <= {LANG_QUOTA} - sum(base) OVER () THEN 1 ELSE 0 END
           AS lang_quota
  FROM __ap
)
SELECT d.doc_id, d.lang, d.sample_rank,
       -- lang_quota descends from sum(BIGINT) (HUGEINT in DuckDB);
       -- pandas canonicalizes HUGEINT to float64, breaking the
       -- raw-value hash vs Spark's int64 — pin the dtype here.
       CAST(q.lang_quota AS BIGINT) AS lang_quota
FROM (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang ORDER BY {_LB_HASH}, doc_id) AS sample_rank
  FROM documents
) d JOIN __qt q USING (lang)
WHERE d.sample_rank <= q.lang_quota
"""


# ---------------------------------------------------------------------------
# Scan/partition sizing planner
# ---------------------------------------------------------------------------

# bench-scale target so the ceiling math is exercised on the test corpus;
# production sets this to the classic 128 MiB split size
SCAN_TARGET_BYTES = 1 << 20


def _width_bytes(dtypes: list[tuple[str, str]]) -> F.Column:
    """Per-row logical byte width: 8 per fixed-width column + the actual
    character length of every string column (NULL -> 0). The same
    expression is hand-written per table in the oracle."""
    total = F.lit(0).cast("long")
    for name, dt in dtypes:
        if dt == "string":
            total = total + F.coalesce(F.length(F.col(name)), F.lit(0))
        else:
            total = total + F.lit(8)
    return total


def scan_partition_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sizing probe a job runs BEFORE setting
    ``spark.sql.files.maxPartitionBytes`` / ``spark.sql.shuffle.partitions``:
    exact row counts and logical data bytes per table (8 B per fixed-width
    column + measured string lengths), and the partition count that hits
    SCAN_TARGET_BYTES. One map-side-combining aggregation per table —
    integer math end-to-end, so the recommendation is engine-exact."""
    t = load_tables(spark, sf_dir, "orders", "lineitem")
    outs = []
    for name in ("orders", "lineitem"):
        df = t[name]
        agg = df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(_width_bytes(df.dtypes)).alias("est_bytes"),
        )
        outs.append(
            agg.select(
                F.lit(name).alias("table_name"),
                "n_rows",
                "est_bytes",
                F.greatest(
                    F.lit(1).cast("long"),
                    # ceiling via long `div` — true integer division, so
                    # the arithmetic matches DuckDB's `//` at ANY
                    # magnitude (a double-division form is only exact
                    # while the numerator stays under 2^53 ~ 9 PB)
                    F.expr(
                        f"(est_bytes + {SCAN_TARGET_BYTES - 1})"
                        f" div {SCAN_TARGET_BYTES}"
                    ),
                ).alias("recommended_partitions"),
            )
        )
    return outs[0].unionByName(outs[1])


_PLAN_ORD_W = (
    "8 + 8 + COALESCE(length(o_orderstatus), 0) + 8 + 8 "
    "+ COALESCE(length(o_orderpriority), 0)"
)
_PLAN_LI_W = (
    "8 * 9 + COALESCE(length(l_returnflag), 0) "
    "+ COALESCE(length(l_linestatus), 0)"
)

SCAN_PARTITION_PLANNER_ORACLE = f"""
WITH __po AS (
  SELECT 'orders' AS table_name, count(*) AS n_rows,
         CAST(sum({_PLAN_ORD_W}) AS BIGINT) AS est_bytes
  FROM orders
),
__pl AS (
  SELECT 'lineitem' AS table_name, count(*) AS n_rows,
         CAST(sum({_PLAN_LI_W}) AS BIGINT) AS est_bytes
  FROM lineitem
),
__pu AS (SELECT * FROM __po UNION ALL SELECT * FROM __pl)
SELECT table_name, n_rows, est_bytes,
       greatest(1, (est_bytes + {SCAN_TARGET_BYTES - 1}) // {SCAN_TARGET_BYTES})
         AS recommended_partitions
FROM __pu
"""


QUERIES = {
    "doc_substring_dup_spans": doc_substring_dup_spans,
    "doc_substring_dedup_trim": doc_substring_dedup_trim,
    "doc_substring_dedup_ingest": doc_substring_dedup_ingest,
    "doc_language_balanced_sample": doc_language_balanced_sample,
    "scan_partition_planner": scan_partition_planner,
    "doc_unicode_clean": doc_unicode_clean,
    "doc_classifier_quality_score": doc_classifier_quality_score,
    "orders_join_cardinality": orders_join_cardinality,
    "customer_k_anonymity": customer_k_anonymity,
}

ORACLES = {
    "doc_substring_dup_spans": DOC_SUBSTRING_DUP_SPANS_ORACLE,
    "doc_substring_dedup_trim": DOC_SUBSTRING_DEDUP_TRIM_ORACLE,
    "doc_substring_dedup_ingest": DOC_SUBSTRING_DEDUP_INGEST_ORACLE,
    "doc_language_balanced_sample": DOC_LANGUAGE_BALANCED_ORACLE,
    "scan_partition_planner": SCAN_PARTITION_PLANNER_ORACLE,
    "doc_unicode_clean": DOC_UNICODE_CLEAN_ORACLE,
    "doc_classifier_quality_score": DOC_CLASSIFIER_QUALITY_ORACLE,
    "orders_join_cardinality": ORDERS_JOIN_CARDINALITY_ORACLE,
    "customer_k_anonymity": CUSTOMER_K_ANONYMITY_ORACLE,
}
