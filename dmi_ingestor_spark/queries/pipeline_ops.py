"""Training-data pipeline operators beyond dedup/similarity (brief §LLM):
corpus sampling, profiling, PII scrubbing, benchmark decontamination.

These are the remaining stages of a production pretraining-data pipeline
(sample → profile → scrub → decontaminate), each expressed as pure
Catalyst built-ins (no Python in the row path) with DuckDB oracle twins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dmi_ingestor_spark.catalog import table
from dmi_ingestor_spark.functions.exact import sql_sum_exact
from dmi_ingestor_spark.registry import register

# ---------------------------------------------------------------------------
# Stratified deterministic sampling
# ---------------------------------------------------------------------------

# md5-hex lexicographic thresholds per language stratum: 'c' ≈ 75%,
# '8' ≈ 50%, '4' ≈ 25% of the hash space. Deterministic (no RNG state),
# embarrassingly parallel, and reproducible across engines and runs —
# the property that matters when a 100 TB corpus is resampled
# incrementally: membership is a pure function of the row key.
_STRATUM_RATES = {"en": "c", "da": "8"}
_DEFAULT_RATE = "4"


@register(
    "sample_stratified_hash",
    oracle=f"""
    SELECT doc_id, lang
    FROM documents
    WHERE md5(CAST(doc_id AS VARCHAR)) <
      CASE lang
        WHEN 'en' THEN '{_STRATUM_RATES["en"]}'
        WHEN 'da' THEN '{_STRATUM_RATES["da"]}'
        ELSE '{_DEFAULT_RATE}'
      END
    """,
    doc=(
        "Per-stratum deterministic corpus sampling: keep-fraction varies "
        "by language (75% en, 50% da, 25% rest) via md5-hex range "
        "membership — a narrow projection + filter, no shuffle, no RNG "
        "state, stable under re-runs and incremental appends."
    ),
    tags=("sampling", "training-pipeline", "documents"),
)
def sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select("doc_id", "lang")
    h = F.md5(F.col("doc_id").cast("string"))
    threshold = F.when(F.col("lang") == "en", _STRATUM_RATES["en"]).when(
        F.col("lang") == "da", _STRATUM_RATES["da"]
    ).otherwise(_DEFAULT_RATE)
    return d.filter(h < threshold)


# ---------------------------------------------------------------------------
# Table profiling
# ---------------------------------------------------------------------------


@register(
    "profile_table_stats",
    oracle="""
    WITH per_col AS (
      SELECT 'o_totalprice' AS col_name,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(*) - COUNT(o_totalprice) AS BIGINT) AS n_nulls,
             CAST(COUNT(DISTINCT o_totalprice) AS BIGINT) AS n_distinct,
             CAST(MIN(o_totalprice) AS DOUBLE) AS min_val,
             CAST(MAX(o_totalprice) AS DOUBLE) AS max_val
      FROM orders
      UNION ALL
      SELECT 'o_custkey',
             CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT),
             CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
             CAST(MIN(o_custkey) AS DOUBLE),
             CAST(MAX(o_custkey) AS DOUBLE)
      FROM orders
      UNION ALL
      SELECT 'o_orderkey',
             CAST(COUNT(*) AS BIGINT),
             CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT),
             CAST(COUNT(DISTINCT o_orderkey) AS BIGINT),
             CAST(MIN(o_orderkey) AS DOUBLE),
             CAST(MAX(o_orderkey) AS DOUBLE)
      FROM orders
    )
    SELECT * FROM per_col ORDER BY col_name
    """,
    doc=(
        "Data-profiling stage: per-column null/distinct/min/max summary "
        "in long form. ONE pass over the table — all columns' aggregates "
        "run in a single aggregate node, then explode(array(struct...)) "
        "reshapes wide→long (measured: union-of-selects re-runs the scan "
        "per column; the explode form does not)."
    ),
    tags=("profiling", "training-pipeline", "orders"),
)
def profile_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    cols = ["o_totalprice", "o_custkey", "o_orderkey"]
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            (F.count(F.lit(1)) - F.count(c)).alias(f"{c}__nulls"),
            F.count_distinct(F.col(c)).alias(f"{c}__distinct"),
            F.min(c).cast("double").alias(f"{c}__min"),
            F.max(c).cast("double").alias(f"{c}__max"),
        ]
    wide = o.agg(*aggs)
    structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col(f"{c}__n").cast("long").alias("n_rows"),
                F.col(f"{c}__nulls").cast("long").alias("n_nulls"),
                F.col(f"{c}__distinct").cast("long").alias("n_distinct"),
                F.col(f"{c}__min").alias("min_val"),
                F.col(f"{c}__max").alias("max_val"),
            )
            for c in cols
        ]
    )
    return (
        wide.select(F.explode(structs).alias("p"))
        .select("p.*")
        .orderBy("col_name")
    )


# ---------------------------------------------------------------------------
# PII-style scrubbing
# ---------------------------------------------------------------------------

_DIGIT_RUN = "[0-9]{3,}"


@register(
    "text_pii_scrub",
    oracle=f"""
    SELECT
      event_id,
      CAST(len(regexp_extract_all(props, '{_DIGIT_RUN}')) AS BIGINT)
        AS n_redacted,
      regexp_replace(props, '{_DIGIT_RUN}', '#', 'g') AS scrubbed,
      sha256(regexp_replace(props, '{_DIGIT_RUN}', '#', 'g'))
        AS scrubbed_sha
    FROM events
    """,
    doc=(
        "Rule-based content scrubbing (the PII-filter stage of a "
        "training pipeline): redact digit runs >= 3 in the event props "
        "payload, report the redaction count and the checksum of the "
        "scrubbed text. Pure JVM regexp — the pattern is shared verbatim "
        "with the oracle (RE2/Java-compatible subset)."
    ),
    tags=("scrubbing", "training-pipeline", "events"),
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events").select("event_id", "props")
    scrubbed = F.regexp_replace(F.col("props"), _DIGIT_RUN, "#")
    return e.select(
        "event_id",
        F.size(F.regexp_extract_all(F.col("props"), F.lit(_DIGIT_RUN), 0))
        .cast("long")
        .alias("n_redacted"),
        scrubbed.alias("scrubbed"),
        F.sha2(F.encode(scrubbed, "utf-8"), 256).alias("scrubbed_sha"),
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------

_BENCH_MAX_ID = 20  # doc_id < 20 plays the held-out benchmark set
_CONTAM_N = 5  # 5-gram overlap

_SQL_5GRAMS = """
      SELECT DISTINCT doc_id,
        t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]
          AS gram
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           UNNEST(generate_series(1, len(t) - 4)) AS u(i)
"""


@register(
    "decontaminate_ngram_overlap",
    oracle=f"""
    WITH grams AS ({_SQL_5GRAMS})
    SELECT
      c.doc_id AS corpus_doc_id,
      CAST(COUNT(*) AS BIGINT) AS n_shared_grams,
      CAST(COUNT(DISTINCT b.doc_id) AS BIGINT) AS n_bench_docs_hit
    FROM grams c
    JOIN grams b ON c.gram = b.gram
    WHERE c.doc_id >= {_BENCH_MAX_ID} AND b.doc_id < {_BENCH_MAX_ID}
    GROUP BY c.doc_id
    """,
    doc=(
        "Decontamination stage: flag corpus documents sharing 5-grams "
        "with a held-out benchmark set (docs 0..19 stand in). The "
        "benchmark gram set is tiny by construction (benchmarks are "
        "small) and broadcast — the corpus side never shuffles, so the "
        "check is a map-side join at 100 TB. Per-doc shingle sets are "
        "built with the same no-shuffle array machinery as dedup "
        "(queries/dedup.py:_shingle_arrays)."
    ),
    tags=("decontamination", "training-pipeline", "documents"),
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dmi_ingestor_spark.queries.dedup import _shingles

    grams = _shingles(table(spark, sf_dir, "documents"), n=_CONTAM_N)
    corpus = grams.filter(F.col("doc_id") >= _BENCH_MAX_ID).select(
        F.col("doc_id").alias("corpus_doc_id"), F.col("shingle").alias("gram")
    )
    bench = grams.filter(F.col("doc_id") < _BENCH_MAX_ID).select(
        F.col("doc_id").alias("bench_doc_id"), F.col("shingle").alias("gram")
    )
    return (
        corpus.join(F.broadcast(bench), ["gram"])
        .groupBy("corpus_doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shared_grams"),
            F.count_distinct("bench_doc_id").cast("long").alias("n_bench_docs_hit"),
        )
    )


# ---------------------------------------------------------------------------
# Training-sequence packing
# ---------------------------------------------------------------------------

_PACK_BUDGET = 512  # tokens per training sequence
_PACK_SHARDS = 16  # deterministic shards bounding window-partition size


@register(
    "pack_sequences_cumsum",
    oracle=f"""
    WITH toks AS (
      SELECT lang, doc_id % {_PACK_SHARDS} AS shard, doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ), cum AS (
      SELECT lang, shard, n_tokens,
             SUM(n_tokens) OVER (
               PARTITION BY lang, shard ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM toks
    )
    SELECT lang, shard,
           CAST(FLOOR((cum_tokens - n_tokens) / {_PACK_BUDGET}.0) AS BIGINT)
             AS seq_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
    FROM cum
    GROUP BY lang, shard, seq_id
    """,
    doc=(
        "Sequence packing for LLM training: assign each document to a "
        "fixed-token-budget training sequence by its starting offset in a "
        "deterministic (lang, shard, doc_id) order — the streaming-"
        "concatenation packing used by pretraining loaders. The window "
        "partitions on (lang, shard) where shard = doc_id % "
        f"{_PACK_SHARDS}, so no single ordered partition ever exceeds "
        "1/N of the corpus — a window partitioned by lang alone would "
        "serialize ~all of a 100 TB corpus through a handful of tasks. "
        "Token counts stay JVM-side (split + size); one shuffle for the "
        "window, map-side combinable count/sum after it."
    ),
    tags=("packing", "training-pipeline", "documents", "window"),
)
def pack_sequences_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = table(spark, sf_dir, "documents").select(
        "lang",
        (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = d.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    seq = F.floor(
        (F.col("cum_tokens") - F.col("n_tokens")) / float(_PACK_BUDGET)
    ).alias("seq_id")
    return (
        cum.select("lang", "shard", seq, "n_tokens")
        .groupBy("lang", "shard", "seq_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Within-document repetition filter
# ---------------------------------------------------------------------------

# A doc is "repetitive" when fewer than 80% of its 3-grams are distinct.
# The flag is the pure-integer comparison 10*distinct < 8*total, so no
# float enters the predicate and both engines agree exactly.
_REP_N = 3


@register(
    "text_repetition_filter",
    oracle="""
    WITH grams AS (
      SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           UNNEST(generate_series(1, len(t) - 2)) AS u(i)
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(COUNT(DISTINCT gram) AS BIGINT) AS n_distinct_grams,
           10 * COUNT(DISTINCT gram) < 8 * COUNT(*) AS is_repetitive
    FROM grams
    GROUP BY doc_id
    """,
    doc=(
        "Gopher-style repetition removal signal: per-document duplicate "
        "3-gram fraction, flagging docs whose distinct-gram ratio falls "
        "below 0.8. Grams are built and counted per row with array HOFs "
        "(transform over sequence + array_distinct) — ZERO shuffle, no "
        "explode: at 100 TB this is a pure map stage, unlike the "
        "explode-then-groupBy shape which would shuffle every gram."
    ),
    tags=("quality", "training-pipeline", "documents"),
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # split() is materialized ONCE as a column before the lambda: Spark
    # does no CSE inside HOF lambdas, so inlining it would re-split the
    # text 3x per gram (measured 6.5x slower on textops).
    d = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.split(F.col("text"), " ").alias("toks"))
        .filter(F.size("toks") >= _REP_N)
    )
    grams = F.expr(
        "transform(sequence(0, size(toks) - 3),"
        " i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"
    )
    g = d.select("doc_id", grams.alias("grams"))
    n_total = F.size("grams").cast("long")
    n_uniq = F.size(F.array_distinct("grams")).cast("long")
    return g.select(
        "doc_id",
        n_total.alias("n_grams"),
        n_uniq.alias("n_distinct_grams"),
        (n_uniq * 10 < n_total * 8).alias("is_repetitive"),
    )


# ---------------------------------------------------------------------------
# Domain / language mixing
# ---------------------------------------------------------------------------

# Epoch-style corpus mixing: upsample high-value strata by an integer
# replication factor (en x3, zh x2, rest x1), emitting an epoch index
# per copy so downstream shuffles can salt on it.
_MIX_WEIGHTS = {"en": 3, "zh": 2}


@register(
    "mix_strata_weighted",
    oracle=f"""
    SELECT doc_id, lang, CAST(u.epoch AS BIGINT) AS epoch
    FROM documents
    CROSS JOIN UNNEST(generate_series(1,
      CASE lang WHEN 'en' THEN {_MIX_WEIGHTS["en"]}
                WHEN 'zh' THEN {_MIX_WEIGHTS["zh"]}
                ELSE 1 END)) AS u(epoch)
    """,
    doc=(
        "Weighted corpus mixing: integer-factor upsampling per language "
        "stratum (en x3, zh x2) with an explicit epoch index — the "
        "DoReMi/data-mixture replication stage of a pretraining "
        "pipeline. explode(sequence(1, w)) is a narrow map-side "
        "operation: no shuffle, output partitions grow in place, and "
        "the epoch column gives downstream dedup-aware shuffles a salt "
        "key so replication never concentrates a key."
    ),
    tags=("mixing", "training-pipeline", "documents"),
)
def mix_strata_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select("doc_id", "lang")
    w = (
        F.when(F.col("lang") == "en", F.lit(_MIX_WEIGHTS["en"]))
        .when(F.col("lang") == "zh", F.lit(_MIX_WEIGHTS["zh"]))
        .otherwise(F.lit(1))
    )
    return d.select(
        "doc_id", "lang", F.explode(F.sequence(F.lit(1), w)).alias("e")
    ).select("doc_id", "lang", F.col("e").cast("long").alias("epoch"))


# ---------------------------------------------------------------------------
# Data-quality expectations (Deequ/dbt-test style constraint suite)
# ---------------------------------------------------------------------------


@register(
    "dq_expectations_summary",
    oracle="""
    WITH o AS (
      SELECT COUNT(*) AS n,
             COUNT(*) FILTER (WHERE o_custkey IS NULL) AS v_null,
             COUNT(*) - COUNT(DISTINCT o_orderkey) AS v_dup
      FROM orders
    ),
    r AS (
      SELECT COUNT(*) AS n,
             COUNT(*) FILTER (WHERE c.c_custkey IS NULL) AS v_ref
      FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    l AS (
      SELECT COUNT(*) AS n,
             COUNT(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50)
               AS v_range,
             COUNT(*) FILTER (WHERE l_shipdate >= TIMESTAMP '1999-01-01')
               AS v_future
      FROM lineitem
    ),
    c AS (
      SELECT COUNT(*) AS n,
             COUNT(*) FILTER (WHERE c_acctbal < -1000 OR c_acctbal > 10000)
               AS v_bal
      FROM customer
    )
    SELECT check_name, n_checked, n_violations,
           n_violations = 0 AS passed
    FROM (
      SELECT 'orders.o_custkey_not_null' AS check_name,
             n AS n_checked, v_null AS n_violations FROM o
      UNION ALL
      SELECT 'orders.o_orderkey_unique', n, v_dup FROM o
      UNION ALL
      SELECT 'orders.o_custkey_ref_customer', n, v_ref FROM r
      UNION ALL
      SELECT 'lineitem.l_quantity_in_1_50', n, v_range FROM l
      UNION ALL
      SELECT 'lineitem.l_shipdate_not_future', n, v_future FROM l
      UNION ALL
      SELECT 'customer.c_acctbal_in_range', n, v_bal FROM c
    )
    """,
    doc=(
        "[ext] Data-quality expectation suite (Deequ / dbt-test shape): "
        "six constraints — null check, key uniqueness, referential "
        "integrity orders→customer, two range checks, staleness — "
        "evaluated as conditional aggregates, ONE pass per fact table "
        "(count + all violation counters in the same partial agg, "
        "map-side combined), referential integrity as a left-join miss "
        "count on the join key. The per-check rows come from "
        "explode(array(struct...)) over each 1-row aggregate — no "
        "re-scan per check, which is the difference between 6 table "
        "scans and 3 at 100 TB. [ext — the reference, dmi_ingestor/"
        "ingestor.py, validates nothing]"
    ),
    tags=("quality", "expectations", "scale"),
)
def dq_expectations_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    def stack(agg: DataFrame, checks: list[tuple[str, str]]) -> DataFrame:
        pairs = F.array(
            *[
                F.struct(
                    F.lit(name).alias("check_name"),
                    F.col("n").alias("n_checked"),
                    F.col(vcol).alias("n_violations"),
                )
                for name, vcol in checks
            ]
        )
        return agg.select(F.explode(pairs).alias("s")).select("s.*")

    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    li = table(spark, sf_dir, "lineitem")

    o_agg = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("o_custkey").isNull()).alias("v_null"),
        (F.count(F.lit(1)) - F.count_distinct("o_orderkey")).alias("v_dup"),
    )
    r_agg = (
        o.select("o_custkey")
        .join(c.select("c_custkey"), o.o_custkey == c.c_custkey, "left")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count_if(F.col("c_custkey").isNull()).alias("v_ref"),
        )
    )
    l_agg = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(
            (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)
        ).alias("v_range"),
        F.count_if(F.col("l_shipdate") >= F.lit("1999-01-01").cast("timestamp")).alias(
            "v_future"
        ),
    )
    c_agg = c.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(
            (F.col("c_acctbal") < -1000) | (F.col("c_acctbal") > 10000)
        ).alias("v_bal"),
    )

    out = (
        stack(o_agg, [("orders.o_custkey_not_null", "v_null"),
                      ("orders.o_orderkey_unique", "v_dup")])
        .unionAll(stack(r_agg, [("orders.o_custkey_ref_customer", "v_ref")]))
        .unionAll(stack(l_agg, [("lineitem.l_quantity_in_1_50", "v_range"),
                                ("lineitem.l_shipdate_not_future", "v_future")]))
        .unionAll(stack(c_agg, [("customer.c_acctbal_in_range", "v_bal")]))
    )
    return out.select(
        "check_name",
        F.col("n_checked").cast("long").alias("n_checked"),
        F.col("n_violations").cast("long").alias("n_violations"),
        (F.col("n_violations") == 0).alias("passed"),
    )


# ---------------------------------------------------------------------------
# Snapshot diff by row hash (anti-entropy / CDC shape)
# ---------------------------------------------------------------------------

_DIFF_HASH = (
    "md5(concat_ws('|', o_custkey, o_orderstatus, price_int, "
    "epoch_us, o_orderpriority))"
)


@register(
    "table_diff_rowhash",
    oracle="""
    WITH base AS (
      SELECT
        o_orderkey,
        o_custkey,
        o_orderstatus,
        CAST(round(o_totalprice * 100) AS BIGINT) AS price_int,
        epoch_us(o_orderdate) AS epoch_us,
        o_orderpriority
      FROM orders
    ), old AS (
      SELECT o_orderkey,
             md5(concat_ws('|', o_custkey, o_orderstatus, price_int,
                 epoch_us, o_orderpriority)) AS row_hash
      FROM base
    ), new AS (
      SELECT o_orderkey,
             md5(concat_ws('|', o_custkey, o_orderstatus,
                 price_int + CASE WHEN o_orderkey % 101 = 0 THEN 7 ELSE 0 END,
                 epoch_us, o_orderpriority)) AS row_hash
      FROM base WHERE o_orderkey % 97 <> 0
      UNION ALL
      SELECT o_orderkey + 10000000,
             md5(concat_ws('|', o_custkey, o_orderstatus, price_int,
                 epoch_us, o_orderpriority)) AS row_hash
      FROM base WHERE o_orderkey % 103 = 0
    )
    SELECT
      COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
      CASE
        WHEN o.o_orderkey IS NULL THEN 'added'
        WHEN n.o_orderkey IS NULL THEN 'removed'
        ELSE 'changed'
      END AS status
    FROM old o
    FULL OUTER JOIN new n USING (o_orderkey)
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR o.row_hash <> n.row_hash
    """,
    doc=(
        "Warehouse anti-entropy: diff two table snapshots by per-row "
        "md5 over a canonical column encoding (doubles integer-scaled, "
        "timestamps as epoch micros — never string-cast floats, whose "
        "formatting is engine-specific). One full-outer shuffle on the "
        "key classifies every row as added/removed/changed; unchanged "
        "rows (equal hashes) drop out so the output is the delta, not "
        "the table. The 'new' snapshot is derived in-query from orders "
        "with deterministic mutations (drop %97, bump price %101, "
        "re-key %103 as inserts) so both engines diff identical inputs. "
        "At 100 TB the same plan runs partition-parallel, and the "
        "row-hash can be pre-aggregated per partition (integrity_"
        "table_fingerprint) to skip untouched partitions first."
    ),
    tags=("pipeline", "diff", "cdc"),
)
def table_diff_rowhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_int"),
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("epoch_us"),
        "o_orderpriority",
    )

    def row_hash(df, price):
        return F.md5(
            F.concat_ws(
                "|",
                F.col("o_custkey"),
                F.col("o_orderstatus"),
                price,
                F.col("epoch_us"),
                F.col("o_orderpriority"),
            )
        )

    old = base.select("o_orderkey", row_hash(base, F.col("price_int")).alias("row_hash"))
    bumped = F.col("price_int") + F.when(F.col("o_orderkey") % 101 == 0, 7).otherwise(0)
    new = (
        base.filter(F.col("o_orderkey") % 97 != 0)
        .select("o_orderkey", row_hash(base, bumped).alias("row_hash"))
        .unionAll(
            base.filter(F.col("o_orderkey") % 103 == 0).select(
                (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
                row_hash(base, F.col("price_int")).alias("row_hash"),
            )
        )
    )
    oldr = old.select(
        F.col("o_orderkey").alias("k_old"), F.col("row_hash").alias("h_old")
    )
    newr = new.select(
        F.col("o_orderkey").alias("k_new"), F.col("row_hash").alias("h_new")
    )
    joined = oldr.join(newr, oldr.k_old == newr.k_new, "full_outer")
    return joined.filter(
        F.col("k_old").isNull()
        | F.col("k_new").isNull()
        | (F.col("h_old") != F.col("h_new"))
    ).select(
        F.coalesce(F.col("k_old"), F.col("k_new")).alias("o_orderkey"),
        F.when(F.col("k_old").isNull(), "added")
        .when(F.col("k_new").isNull(), "removed")
        .otherwise("changed")
        .alias("status"),
    )


# ---------------------------------------------------------------------------
# Deterministic corpus shuffle (training-order assignment)
# ---------------------------------------------------------------------------


@register(
    "shuffle_deterministic_hash",
    oracle="""
    WITH h AS (
      SELECT doc_id, md5(concat('shuf-', doc_id)) AS hkey
      FROM documents
    )
    SELECT doc_id,
           CAST(CAST(concat('0x', substr(hkey, 1, 4)) AS BIGINT) % 8 AS INTEGER) AS shard,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY CAST(concat('0x', substr(hkey, 1, 4)) AS BIGINT) % 8
             ORDER BY hkey, doc_id) AS BIGINT) AS pos_in_shard
    FROM h
    """,
    doc=(
        "Training-order shuffle: every epoch pipeline needs a "
        "reproducible pseudorandom permutation of the corpus. Keyed "
        "md5 gives the randomness, the first 16 bits pick 1-of-8 "
        "shards, and rank-by-hash within the shard gives the in-shard "
        "order — so the 'shuffle' is ONE hash partition + per-shard "
        "sort (embarrassingly parallel), never a global sort. Seed "
        "change = salt change; same seed = byte-identical order on "
        "any cluster size."
    ),
    tags=("pipeline", "shuffle", "documents"),
)
def shuffle_deterministic_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    h = d.select(
        "doc_id", F.md5(F.concat(F.lit("shuf-"), F.col("doc_id"))).alias("hkey")
    ).withColumn("shard", F.conv(F.substring("hkey", 1, 4), 16, 10).cast("long") % 8)
    w = Window.partitionBy("shard").orderBy("hkey", "doc_id")
    return h.select(
        "doc_id",
        F.col("shard").cast("int").alias("shard"),
        F.row_number().over(w).cast("long").alias("pos_in_shard"),
    )


@register(
    "layout_partition_prune_count",
    oracle=f"""
    SELECT
      event_type,
      CAST(COUNT(*) AS BIGINT) AS n,
      {sql_sum_exact("value", "sum_value")}
    FROM events
    WHERE event_type IN ('click', 'purchase')
    GROUP BY event_type
    """,
    doc=(
        "S5/S7 as a driver-checked query: events re-written "
        "partitionBy(event_type) (one directory per type — the engine "
        "twin of the reference's one-object-per-timestep layout, "
        "ingestor.py:159-161), then read back with an IN filter that "
        "Catalyst turns into PartitionFilters — only 2 of 5 "
        "directories are listed or scanned (asserted in "
        "tests/test_storage_layout.py). The aggregate over the "
        "round-tripped data hash-matches the direct oracle, proving "
        "the layout is lossless."
    ),
    tags=("layout", "partitioning", "events"),
)
def layout_partition_prune_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from dmi_ingestor_spark.functions.exact import sum_exact

    out = tempfile.mkdtemp(prefix="prune-") + "/events_by_type"
    src = table(spark, sf_dir, "events").select("event_id", "value", "event_type")
    src.write.mode("overwrite").partitionBy("event_type").parquet(out)
    # explicit schema: an all-empty write leaves no footers to infer from
    back = spark.read.schema(src.schema).parquet(out).filter(
        F.col("event_type").isin("click", "purchase")
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        sum_exact("value", "sum_value"),
    )


@register(
    "pipeline_e2e_corpus",
    oracle="""
    WITH filtered AS (
      SELECT doc_id, text,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
      WHERE lang = 'en' AND n_chars >= 50
    ), deduped AS (
      SELECT MIN(doc_id) AS doc_id,
             arg_min(n_tokens, doc_id) AS n_tokens
      FROM filtered GROUP BY md5(text)
    ), packed AS (
      SELECT doc_id, n_tokens,
             CAST(doc_id % 4 AS INTEGER) AS shard,
             SUM(n_tokens) OVER (
               PARTITION BY doc_id % 4 ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM deduped
    )
    SELECT doc_id, n_tokens, shard,
           CAST((cum_tokens - n_tokens) // 256 AS BIGINT) AS seq_id
    FROM packed
    """,
    doc=(
        "The LLM-corpus pipeline end-to-end as ONE lazy plan: language "
        "+ length filter -> exact dedup (md5 group, min-id winner) -> "
        "token count -> shard -> greedy 256-token sequence packing "
        "(cumsum // budget). Each stage is an operator the engine "
        "ships standalone (text_quality_score, dedup_exact, "
        "pack_sequences_cumsum); this query pins that they COMPOSE — "
        "filters push into the scan, the dedup shuffle is the only "
        "wide stage, and packing reuses the shard partitioning. The "
        "oracle mirrors all four stages in one SQL chain."
    ),
    tags=("pipeline", "e2e", "documents", "flagship"),
)
def pipeline_e2e_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents")
    filtered = d.filter((F.col("lang") == "en") & (F.col("n_chars") >= 50)).select(
        "doc_id",
        "text",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    deduped = filtered.groupBy(F.md5(F.col("text").cast("binary")).alias("h")).agg(
        F.min("doc_id").alias("doc_id"),
        F.min_by("n_tokens", F.col("doc_id")).alias("n_tokens"),
    )
    sharded = deduped.select(
        "doc_id", "n_tokens", (F.col("doc_id") % 4).cast("int").alias("shard")
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = sharded.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    return packed.select(
        "doc_id",
        "n_tokens",
        "shard",
        F.expr("(cum_tokens - n_tokens) div 256").alias("seq_id"),
    )


_BERN_THRESHOLD = 858_993_459  # floor(0.2 * 2^32): 20% keep rate


@register(
    "sample_bernoulli_hash",
    oracle=f"""
    SELECT doc_id, source, n_chars
    FROM documents
    WHERE CAST(concat('0x', substr(md5(concat('bern-', doc_id)), 1, 8))
               AS BIGINT) < {_BERN_THRESHOLD}
    """,
    doc=(
        "Row-level Bernoulli sampling, reproducible: keep a row iff "
        "the first 32 bits of a keyed md5 fall under floor(p * 2^32) — "
        "pure integer compare, no RNG state, no float threshold. "
        "Unlike TABLESAMPLE/df.sample the decision is a property of "
        "the ROW, so re-runs, retries and different partitionings all "
        "keep the identical sample — the only sampling that's safe to "
        "use inside a retried 100 TB job. Complements the per-stratum "
        "variant (sample_stratified_hash)."
    ),
    tags=("pipeline", "sampling", "documents"),
)
def sample_bernoulli_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    h32 = F.conv(
        F.substring(F.md5(F.concat(F.lit("bern-"), F.col("doc_id"))), 1, 8), 16, 10
    ).cast("long")
    return d.filter(h32 < _BERN_THRESHOLD).select("doc_id", "source", "n_chars")


# ---------------------------------------------------------------------------
# Sliding-window document chunking
# ---------------------------------------------------------------------------

_CHUNK_WINDOW = 32  # tokens per chunk
_CHUNK_STRIDE = 24  # tokens between chunk starts (8-token overlap)


@register(
    "text_chunk_sliding",
    oracle=f"""
    SELECT doc_id,
           k AS chunk_idx,
           CAST(len(list_slice(toks, CAST(k * {_CHUNK_STRIDE} + 1 AS BIGINT),
                               CAST(k * {_CHUNK_STRIDE} + {_CHUNK_WINDOW} AS BIGINT)))
                AS BIGINT) AS chunk_n_tokens,
           array_to_string(
             list_slice(toks, CAST(k * {_CHUNK_STRIDE} + 1 AS BIGINT),
                        CAST(k * {_CHUNK_STRIDE} + {_CHUNK_WINDOW} AS BIGINT)), ' ')
             AS chunk_text
    FROM (
      SELECT doc_id, toks,
             unnest(generate_series(0, (len(toks) + {_CHUNK_STRIDE - 1}) // {_CHUNK_STRIDE} - 1)) AS k
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
    )
    """,
    doc=(
        "Sliding-window document chunking — the context-window prep stage "
        "of an LLM pipeline: each document becomes ceil(n/stride) chunks "
        f"of up to {_CHUNK_WINDOW} tokens starting every {_CHUNK_STRIDE} "
        "tokens (8-token overlap so no span falls on a boundary). "
        "Pure map-side fan-out: split -> sequence -> explode -> slice, "
        "ZERO shuffles — at 100 TB the chunker is embarrassingly "
        "parallel and its output partitioning inherits the input's. "
        "Chunk membership is a pure function of (doc_id, k), so re-runs "
        "and incremental appends chunk identically."
    ),
    tags=("pipeline", "chunking", "documents"),
)
def text_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    )
    n_chunks = F.expr(f"(size(toks) + {_CHUNK_STRIDE - 1}) div {_CHUNK_STRIDE}")
    exploded = d.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("k"),
    )
    chunk = F.slice(
        F.col("toks"), F.col("k") * _CHUNK_STRIDE + 1, F.lit(_CHUNK_WINDOW)
    )
    return exploded.select(
        "doc_id",
        F.col("k").cast("long").alias("chunk_idx"),
        F.size(chunk).cast("long").alias("chunk_n_tokens"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
    )


# ---------------------------------------------------------------------------
# Per-domain document cap
# ---------------------------------------------------------------------------

_DOMAIN_CAP = 15


@register(
    "sample_cap_per_domain",
    oracle=f"""
    SELECT doc_id, source, CAST(rn AS BIGINT) AS rn
    FROM (
      SELECT doc_id, source,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM documents
    )
    WHERE rn <= {_DOMAIN_CAP}
    """,
    doc=(
        "Per-domain document cap — the anti-domination stage of corpus "
        f"curation: keep at most {_DOMAIN_CAP} documents per source, "
        "chosen by md5(doc_id) order so the survivors are a stable "
        "pseudo-random subset (no RNG state, identical under re-runs "
        "and engine changes). The rank<=cap filter lets Spark plan a "
        "PARTIAL WindowGroupLimit below the Exchange (plan-asserted): "
        "each map task forwards at most cap rows per domain it sees, "
        "so at 100 TB a giant domain ships O(cap x map_tasks) rows "
        "into the window stage, not its entire contents — the heavy "
        "tail this op exists to bound never dominates the shuffle."
    ),
    tags=("pipeline", "sampling", "documents"),
)
def sample_cap_per_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents").select("doc_id", "source")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        d.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= _DOMAIN_CAP)
        .select("doc_id", "source", "rn")
    )


@register(
    "sample_exact_stratified",
    oracle="""
    WITH r AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS rn,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN rn * 10 <= n * 8 THEN 'train'
                WHEN rn * 10 <= n * 9 THEN 'val'
                ELSE 'test' END AS split
    FROM r
    """,
    doc=(
        "Exact-count stratified corpus split: within each lang stratum, "
        "rows ranked by md5(doc_id) take the first ⌊0.8n⌋ as train, "
        "next ⌊0.1n⌋ as val, rest test — integer boundary compares "
        "(rn·10 ≤ n·8), so per-stratum proportions are GUARANTEED, not "
        "just expected (the complement to text_hash_split's Bernoulli "
        "thresholding, whose realized fractions drift ±O(1/√n)). One "
        "shuffle on the stratum key; the rank window and the count "
        "window share it. At extreme per-stratum cardinalities the "
        "single-partition-per-stratum sort is the bound — then you "
        "pre-aggregate stratum sizes and fall back to hash "
        "thresholding, trading exactness for parallelism."
    ),
    tags=("pipeline", "sampling", "documents"),
)
def sample_exact_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents").select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    wn = Window.partitionBy("lang")
    r = d.select(
        "doc_id",
        "lang",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    return r.select(
        "doc_id",
        "lang",
        F.when(F.col("rn") * 10 <= F.col("n") * 8, "train")
        .when(F.col("rn") * 10 <= F.col("n") * 9, "val")
        .otherwise("test")
        .alias("split"),
    )


# --------------------------------------------------------------------------
# Privacy / data-governance operators
# --------------------------------------------------------------------------

K_ANON = 5

_K_ANON_SQL = f"""
WITH classes AS (
  SELECT c_nationkey, c_mktsegment,
         COUNT(*) AS n,
         GROUPING(c_mktsegment) AS lvl
  FROM customer
  GROUP BY GROUPING SETS ((c_nationkey, c_mktsegment), (c_nationkey))
)
SELECT CAST(lvl AS BIGINT) AS lvl,
       CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(COUNT(*) FILTER (WHERE n < {K_ANON}) AS BIGINT) AS n_small_classes,
       CAST(COALESCE(SUM(n) FILTER (WHERE n < {K_ANON}), 0) AS BIGINT)
         AS n_suppressed_rows
FROM classes
GROUP BY lvl
"""


@register(
    "privacy_k_anonymity",
    oracle=_K_ANON_SQL,
    doc=(
        f"k-anonymity audit (k={K_ANON}) over the quasi-identifier pair "
        "(nationkey, mktsegment) at TWO generalization levels in one "
        "scan — GROUPING SETS emits both the full-QI classes and the "
        "nation-only generalization; per level: equivalence-class "
        "count, classes under k, and rows needing suppression. The "
        "release-gate query every privacy-reviewed 100 TB export runs "
        "first: one Expand + partial/final aggregate, output is "
        "O(classes), and the generalization ladder extends by adding "
        "grouping sets, not passes. ONE shared SQL string runs on both "
        "engines (GROUPING SETS + FILTER are ANSI)."
    ),
    tags=("pipeline", "privacy", "customer", "sql-api"),
)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dmi_ingestor_spark.catalog import register_temp_views

    register_temp_views(spark, sf_dir)
    return spark.sql(_K_ANON_SQL)


@register(
    "profile_skew_keys",
    oracle="""
    WITH counts AS (
      SELECT l_suppkey, COUNT(*) AS n FROM lineitem GROUP BY l_suppkey
    ),
    tot AS (SELECT SUM(n) AS total, COUNT(*) AS n_keys FROM counts)
    SELECT c.l_suppkey, c.n,
           CAST(c.n * 1000 // t.total AS BIGINT) AS permille,
           CAST(t.n_keys AS BIGINT) AS n_keys
    FROM counts c, tot t
    ORDER BY c.n DESC, c.l_suppkey
    LIMIT 20
    """,
    doc=(
        "Skew diagnostic: per-key cardinality profile for a join/agg "
        "key — top-20 heaviest keys with their integer permille of all "
        "rows and the total key count, deterministic tie-break. This is "
        "the query you run BEFORE choosing salting vs AQE skew-join on "
        "a 100 TB fact table: one partial+final count on the key, a "
        "1-row broadcast total (crossJoin, no shuffle), TakeOrdered "
        "top-k — the profile costs one scan. Integer permille keeps it "
        "hash-exact."
    ),
    tags=("pipeline", "profiling", "lineitem"),
)
def profile_skew_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    counts = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("n"))
    tot = counts.agg(
        F.sum("n").alias("total"), F.count(F.lit(1)).alias("n_keys")
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "l_suppkey",
            "n",
            (F.col("n") * 1000 / F.col("total")).cast("long").alias("permille"),
            F.col("n_keys").cast("long").alias("n_keys"),
        )
        .orderBy(F.desc("n"), "l_suppkey")
        .limit(20)
    )


# --------------------------------------------------------------------------
# Write-Audit-Publish (WAP): stage → audit gate → atomic rename publish
# --------------------------------------------------------------------------

WAP_MIN_ROWS = 100


@register(
    "pipeline_write_audit_publish",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum,
           CAST(COUNT(*) >= {WAP_MIN_ROWS} AS INT) AS audit_passed,
           CAST(1 AS INT) AS published
    FROM orders WHERE o_orderstatus = 'F'
    """,
    doc=(
        "Write-Audit-Publish: the export is written to a STAGING prefix, "
        "audited there (row floor + order-key checksum — the dq gate), "
        "and only then atomically renamed to the publish prefix through "
        "the Hadoop FileSystem API (ingest/fs.py fs_rename — identical "
        "code for file://, hdfs://, s3a://); consumers can never observe "
        "a half-written or audit-failed export. The returned row is the "
        "audit RE-COMPUTED FROM THE PUBLISHED FILES, so driver-green "
        "means stage→audit→publish→readback was lossless end-to-end. "
        "At 100 TB the audit is one aggregate over the staged parquet "
        "and publish is one metadata rename — cost is the write itself. "
        "Spark-native WAP (the Iceberg/Delta branch-commit pattern, "
        "without a table format)."
    ),
    tags=("pipeline", "sink", "orders"),
)
def pipeline_write_audit_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile as _tf

    from dmi_ingestor_spark.ingest.fs import fs_delete, fs_exists, fs_rename

    root = _tf.mkdtemp(prefix="dmi-wap-")
    staged, published = f"{root}/_staging/export", f"{root}/export"
    src = table(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    src.write.mode("overwrite").parquet(staged)

    audit = (
        spark.read.parquet(staged)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("key_checksum"),
        )
        .collect()[0]  # 1-row audit gate: driver decides publish/abort
    )
    ok = audit["n_rows"] >= WAP_MIN_ROWS
    if ok:
        assert fs_rename(spark, staged, published)
        fs_delete(spark, f"{root}/_staging")
    out_path = published if ok else staged
    assert fs_exists(spark, out_path)
    return spark.read.parquet(out_path).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_checksum"),
        (F.count(F.lit(1)) >= WAP_MIN_ROWS).cast("int").alias("audit_passed"),
        F.lit(1 if ok else 0).cast("int").alias("published"),
    )


# ---------------------------------------------------------------------------
# Scalable global enumeration (sample-id assignment)
# ---------------------------------------------------------------------------

_GRN_PARTS = 8  # range partitions for the enumeration (tune to cluster)


@register(
    "transform_global_row_number",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn
    FROM orders
    """,
    doc=(
        "Global contiguous row numbering WITHOUT a single-partition "
        "sort — the sample-id assignment step every training-data "
        "pipeline needs. `row_number() OVER (ORDER BY k)` plans an "
        "Exchange SinglePartition: one task sorts the whole table, a "
        "non-starter at 100 TB. This builder instead (1) "
        "repartitionByRange on the key — partitions are key-disjoint "
        "and ordered by partition id, (2) sortWithinPartitions — "
        "parallel local sorts, (3) counts rows per partition (a "
        "partitions-sized aggregate collected to the driver), (4) "
        "derives the per-partition local index JVM-side from "
        "monotonically_increasing_id's (pid << 33) + row-number "
        "layout (round 9 removed the Arrow enumeration pass; round 10 "
        "added the 2^33 rows-per-partition guard — see "
        "operators/ranks.py), and (5) adds the prefix-sum offset "
        "from a broadcast literal map. Output == ROW_NUMBER() exactly, "
        "plan has NO SinglePartition exchange (asserted in "
        "test_plan_quality). The cached ranged relation pins the range "
        "boundaries so the count job and the output job see identical "
        "partitioning. This is the DataFrame form of RDD zipWithIndex; "
        "since round 10 the pioneer site delegates to the shared "
        "operators/ranks.py implementation."
    ),
    tags=("training-pipeline", "enumeration", "orders", "scale"),
)
def transform_global_row_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dmi_ingestor_spark.operators.ranks import sharded_row_number

    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    # round-10: delegate to the shared operator — identical plan shape
    # (range shuffle + local sort + JVM bitmask index + broadcast
    # offsets) plus the 2^33 rows-per-partition re-shard guard the
    # inline pioneer form lacked (VERDICT r9 item 2)
    ranked, _n = sharded_row_number(o, ["o_orderkey"], out="rn", parts=_GRN_PARTS)
    return ranked.select("o_orderkey", "o_totalprice", "rn")


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis–Spirakis A-ES)
# ---------------------------------------------------------------------------

_WRS_K = 100
_TWO_60 = float(1 << 60)


@register(
    "sample_weighted_reservoir",
    oracle=f"""
    SELECT doc_id, n_chars
    FROM (
      SELECT doc_id, n_chars,
             POWER(
               CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                    AS BIGINT) / {_TWO_60!r},
               1.0 / n_chars
             ) AS wkey
      FROM documents
      WHERE n_chars > 0
    )
    ORDER BY wkey DESC, doc_id
    LIMIT {_WRS_K}
    """,
    doc=(
        "Weighted sampling WITHOUT replacement (Efraimidis–Spirakis "
        "A-ES): each doc gets key u^(1/w) with u a deterministic "
        "md5-derived uniform and w = n_chars; the top-k keys ARE a "
        "weighted sample without replacement — the size-biased pick "
        "used for quality- or length-weighted corpus subsetting. "
        "Deterministic (no RNG state, reproducible across engines and "
        "re-runs) and embarrassingly parallel: the plan is a narrow "
        "projection + TakeOrderedAndProject (per-partition top-k, "
        "merge of k-sized heads — no global sort, no shuffle of the "
        "corpus). The u64→double and the divide are correctly rounded "
        "in both engines, so even the pow boundary is stable at any "
        "realistic spacing of keys."
    ),
    tags=("sampling", "training-pipeline", "documents", "scale"),
)
def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
        ).cast("double")
        / F.lit(_TWO_60)
    )
    wkey = F.pow(u, F.lit(1.0) / F.col("n_chars"))
    return (
        d.select("doc_id", "n_chars", wkey.alias("wkey"))
        .orderBy(F.col("wkey").desc(), "doc_id")
        .limit(_WRS_K)
        .select("doc_id", "n_chars")
    )


# ---------------------------------------------------------------------------
# Referential-integrity audit (FK orphan detection)
# ---------------------------------------------------------------------------


@register(
    "dq_referential_integrity",
    oracle="""
    SELECT 'lineitem->orders' AS fk, CAST(COUNT(*) AS BIGINT) AS n_checked,
           CAST(COUNT(*) FILTER (WHERE o.o_orderkey IS NULL) AS BIGINT)
             AS n_orphans
    FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
    UNION ALL
    SELECT 'orders->customer', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) FILTER (WHERE c.c_custkey IS NULL) AS BIGINT)
    FROM orders ord LEFT JOIN customer c ON ord.o_custkey = c.c_custkey
    UNION ALL
    SELECT 'customer->nation', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) FILTER (WHERE n.n_nationkey IS NULL) AS BIGINT)
    FROM customer cu LEFT JOIN nation n ON cu.c_nationkey = n.n_nationkey
    ORDER BY fk
    """,
    doc=(
        "Referential-integrity audit across the star schema: orphan "
        "counts for each foreign key (lineitem->orders, "
        "orders->customer, customer->nation) — the data-quality gate "
        "that catches broken upstream extracts before they silently "
        "drop rows in inner joins. Each check is a left join counted "
        "on the null side; dims broadcast, so only lineitem->orders "
        "shuffles at scale. Complements dq_expectations_summary "
        "(column-level) with relationship-level checks."
    ),
    tags=("dq", "quality", "lineitem", "orders"),
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select("l_orderkey")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = table(spark, sf_dir, "nation").select("n_nationkey")

    def check(left, right, lk, rk, name, bcast):
        r = F.broadcast(right) if bcast else right
        j = left.join(r, F.col(lk) == F.col(rk), "left")
        return j.agg(
            F.lit(name).alias("fk"),
            F.count(F.lit(1)).cast("long").alias("n_checked"),
            F.count(F.when(F.col(rk).isNull(), 1))
            .cast("long")
            .alias("n_orphans"),
        ).select("fk", "n_checked", "n_orphans")

    return (
        check(li, o, "l_orderkey", "o_orderkey", "lineitem->orders", False)
        .unionAll(
            check(o, c, "o_custkey", "c_custkey", "orders->customer", True)
        )
        .unionAll(
            check(c, n, "c_nationkey", "n_nationkey", "customer->nation", True)
        )
        .orderBy("fk")
    )


# ---------------------------------------------------------------------------
# Incremental batch processing with high-watermark bookkeeping
# ---------------------------------------------------------------------------

_WM_CUTOFF = "1996-01-01 00:00:00"


@register(
    "pipeline_incremental_watermark",
    oracle=f"""
    WITH run1 AS (
      SELECT event_id, ts FROM events
      WHERE ts < TIMESTAMP '{_WM_CUTOFF}'
    ),
    wm AS (SELECT MAX(ts) AS w FROM run1),
    run2 AS (
      SELECT e.event_id FROM events e CROSS JOIN wm WHERE e.ts > wm.w
    )
    SELECT 1 AS run, CAST(COUNT(*) AS BIGINT) AS n_processed,
           CAST(SUM(event_id) AS BIGINT) AS id_checksum
    FROM run1
    UNION ALL
    SELECT 2, CAST(COUNT(*) AS BIGINT), CAST(SUM(event_id) AS BIGINT)
    FROM run2
    ORDER BY run
    """,
    doc=(
        "Incremental batch processing with a persisted high watermark "
        "— the dbt/Airflow incremental-model contract: run 1 sees the "
        "backlog (everything before the cutoff) and records "
        "max(event_time) as its watermark; run 2 processes ONLY rows "
        "strictly newer than that watermark, so re-runs never "
        "reprocess and nothing is double-counted (the two runs' "
        "checksums partition the input exactly). The watermark is a "
        "1-row driver-side gate like the WAP audit; each run is one "
        "pushdown-filtered scan — at 100 TB with time-partitioned "
        "layout the filter prunes to the new partitions only."
    ),
    tags=("pipeline", "incremental", "events"),
)
def pipeline_incremental_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("event_id", "ts")
    run1 = ev.where(F.col("ts") < F.lit(_WM_CUTOFF).cast("timestamp"))
    wm_row = run1.agg(F.max("ts").alias("w")).collect()[0]
    wm = wm_row["w"]
    if wm is None:  # empty backlog: nothing is "newer than the watermark"
        run2 = ev.where(F.lit(False))
    else:
        run2 = ev.where(F.col("ts") > F.lit(wm))
    r1 = run1.agg(
        F.lit(1).alias("run"),
        F.count(F.lit(1)).cast("long").alias("n_processed"),
        F.sum("event_id").cast("long").alias("id_checksum"),
    ).select("run", "n_processed", "id_checksum")
    r2 = run2.agg(
        F.lit(2).alias("run"),
        F.count(F.lit(1)).cast("long").alias("n_processed"),
        F.sum("event_id").cast("long").alias("id_checksum"),
    ).select("run", "n_processed", "id_checksum")
    return r1.unionAll(r2).orderBy("run")


# ---------------------------------------------------------------------------
# Versioned-table time travel (transaction log)
# ---------------------------------------------------------------------------


@register(
    "lake_time_travel_read",
    oracle="""
    WITH f AS (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'),
         o AS (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'O')
    SELECT 0 AS version, CAST((SELECT COUNT(*) FROM f) AS BIGINT) AS n_rows,
           CAST((SELECT SUM(o_orderkey) FROM f) AS BIGINT) AS key_checksum
    UNION ALL
    SELECT 1, CAST((SELECT COUNT(*) FROM f) + (SELECT COUNT(*) FROM o)
                   AS BIGINT),
           CAST((SELECT SUM(o_orderkey) FROM f)
                + (SELECT SUM(o_orderkey) FROM o) AS BIGINT)
    UNION ALL
    SELECT 2, CAST((SELECT COUNT(*) FROM o) AS BIGINT),
           CAST((SELECT SUM(o_orderkey) FROM o) AS BIGINT)
    ORDER BY version
    """,
    doc=(
        "Versioned-table TIME TRAVEL through the engine's transaction "
        "log (ingest/txlog.py — atomic rename commits, optimistic "
        "concurrency, snapshot isolation; the lakehouse commit "
        "pattern built from scratch on the Hadoop FileSystem API): "
        "v0 appends the F orders, v1 appends the O orders, v2 "
        "logically deletes the F batch — then every version is read "
        "back BY VERSION NUMBER and checksummed. The oracle states "
        "what each snapshot must contain from the base table alone, "
        "so a green row proves append/remove/replay resolve exactly "
        "the right files at every version. Commits are metadata "
        "renames; data files never move."
    ),
    tags=("pipeline", "lakehouse", "time-travel", "orders"),
)
def lake_time_travel_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile as _tf

    from dmi_ingestor_spark.ingest.txlog import TxLog

    tx = TxLog(spark, _tf.mkdtemp(prefix="dmi-lake-"))
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    tx.append(o.where(F.col("o_orderstatus") == "F"), "f-batch")
    tx.append(o.where(F.col("o_orderstatus") == "O"), "o-batch")
    tx.remove_units(["data/f-batch"])
    parts = []
    for v in (0, 1, 2):
        parts.append(
            tx.read(version=v).agg(
                F.lit(v).alias("version"),
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("o_orderkey").cast("long").alias("key_checksum"),
            ).select("version", "n_rows", "key_checksum")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("version")


@register(
    "lake_stats_pruned_read",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum
    FROM orders WHERE o_orderkey < 500
    """,
    doc=(
        "Metadata data-skipping end-to-end: the table is committed as "
        "two key-disjoint units with per-unit [min,max] stats in the "
        "transaction log; the range read resolves ONLY the "
        "intersecting unit from the log (no parquet footer is even "
        "opened for the other) and the row filter runs on what "
        "remains. The builder asserts the pruning (every input file "
        "comes from the low unit) before returning the audited "
        "counts, so a green row proves stats-skipping returned "
        "exactly the right data — the unit-level analogue of "
        "partition pruning, and the mechanism that turns a 100 TB "
        "range query into a touched-files query."
    ),
    tags=("pipeline", "lakehouse", "data-skipping", "orders"),
)
def lake_stats_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile as _tf

    from dmi_ingestor_spark.ingest.txlog import (
        TxLog,
        append_with_stats,
        read_pruned,
    )

    tx = TxLog(spark, _tf.mkdtemp(prefix="dmi-skip-"))
    o = table(spark, sf_dir, "orders").select("o_orderkey")
    append_with_stats(tx, o.where(F.col("o_orderkey") < 500), "low", "o_orderkey")
    append_with_stats(
        tx, o.where(F.col("o_orderkey") >= 500), "high", "o_orderkey"
    )
    pruned = read_pruned(tx, 0, 499)
    assert all("/data/low/" in f for f in pruned.inputFiles())
    return pruned.where(F.col("o_orderkey") < 500).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_checksum"),
    )


# ---------------------------------------------------------------------------
# Freshness + schema-contract data-quality checks
# ---------------------------------------------------------------------------

_FRESH_ASOF = "2024-01-20 00:00:00"  # audit reference instant (literal:
# wall-clock now() would be nondeterministic across engines and runs)
_FRESH_SLA_MIN = 24 * 60


@register(
    "dq_freshness_lag",
    oracle=f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MAX(ts) AS last_seen,
           CAST((CAST(epoch(TIMESTAMP '{_FRESH_ASOF}') AS BIGINT)
                 - CAST(FLOOR(epoch(MAX(ts))) AS BIGINT)) // 60
                AS BIGINT) AS lag_minutes,
           CAST(CASE WHEN epoch(TIMESTAMP '{_FRESH_ASOF}') - FLOOR(epoch(MAX(ts)))
                          > {_FRESH_SLA_MIN} * 60
                THEN 1 ELSE 0 END AS BIGINT) AS stale
    FROM events
    WHERE ts <= TIMESTAMP '{_FRESH_ASOF}'
    GROUP BY event_type ORDER BY event_type
    """,
    doc=(
        "Freshness check — the most-fired data-quality alarm in any "
        "warehouse: per feed (event_type), last-seen timestamp, lag "
        "minutes against the audit instant, and an SLA-breach flag "
        "(24h). The reference instant is a literal, not now(), so the "
        "check is reproducible and engine-portable; in production the "
        "orchestrator injects the run timestamp the same way. One "
        "bounded-key aggregate over the pushdown-filtered scan."
    ),
    tags=("dq", "quality", "freshness", "events"),
)
def dq_freshness_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").where(
        F.col("ts") <= F.lit(_FRESH_ASOF).cast("timestamp")
    )
    asof_s = F.unix_timestamp(F.lit(_FRESH_ASOF).cast("timestamp"))
    lag_s = asof_s - F.unix_timestamp(F.max("ts"))
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.max("ts").alias("last_seen"),
            F.floor(
                (asof_s - F.unix_timestamp(F.max("ts"))) / 60
            )
            .cast("long")
            .alias("lag_minutes"),
            F.when(
                asof_s - F.unix_timestamp(F.max("ts")) > _FRESH_SLA_MIN * 60,
                1,
            )
            .otherwise(0)
            .cast("long")
            .alias("stale"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Run-provenance manifest (input lineage for every pipeline run)
# ---------------------------------------------------------------------------


@register(
    "pipeline_run_manifest",
    oracle="""
    SELECT 'customer' AS input_table, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(c_custkey) AS BIGINT) AS key_checksum,
           CAST(COUNT(DISTINCT c_custkey) AS BIGINT) AS n_keys
    FROM customer
    UNION ALL
    SELECT 'events', CAST(COUNT(*) AS BIGINT), CAST(SUM(event_id) AS BIGINT),
           CAST(COUNT(DISTINCT event_id) AS BIGINT)
    FROM events
    UNION ALL
    SELECT 'lineitem', CAST(COUNT(*) AS BIGINT), CAST(SUM(l_orderkey) AS BIGINT),
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'orders', CAST(COUNT(*) AS BIGINT), CAST(SUM(o_orderkey) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT)
    FROM orders
    ORDER BY input_table
    """,
    doc=(
        "Run-provenance manifest: one row per input table with row "
        "count, key checksum and distinct-key count — the lineage "
        "record a pipeline run stores beside its outputs so any "
        "downstream question ('which inputs produced model v7?') is "
        "a lookup, not an investigation. Each leg is one aggregate "
        "over its table; at 100 TB the counts ride along observe()-"
        "style (tests/test_observe.py) instead of re-scanning. "
        "Complements manifest_collect (output files) with the INPUT "
        "side, and the checksums are the same audit currency as "
        "write-audit-publish."
    ),
    tags=("pipeline", "lineage", "provenance"),
)
def pipeline_run_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    def leg(t, key):
        return (
            table(spark, sf_dir, t)
            .agg(
                F.lit(t).alias("input_table"),
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum(key).cast("long").alias("key_checksum"),
                F.count_distinct(key).cast("long").alias("n_keys"),
            )
            .select("input_table", "n_rows", "key_checksum", "n_keys")
        )

    return (
        leg("customer", "c_custkey")
        .unionAll(leg("events", "event_id"))
        .unionAll(leg("lineitem", "l_orderkey"))
        .unionAll(leg("orders", "o_orderkey"))
        .orderBy("input_table")
    )


# --------------------------------------------------------------------------
# l-diversity (the k-anonymity companion gate)
# --------------------------------------------------------------------------


@register(
    "privacy_l_diversity",
    oracle="""
    WITH classes AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(COUNT(*) AS BIGINT) AS class_size,
             CAST(COUNT(DISTINCT
                    CAST(round(c_acctbal) AS BIGINT) // 1000) AS BIGINT)
               AS l_distinct
      FROM customer
      GROUP BY c_nationkey, c_mktsegment
    )
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_classes,
      CAST(SUM(CASE WHEN l_distinct < 3 THEN 1 ELSE 0 END) AS BIGINT)
        AS classes_under_l,
      CAST(SUM(CASE WHEN l_distinct < 3 THEN class_size ELSE 0 END) AS BIGINT)
        AS rows_at_risk,
      CAST(MIN(l_distinct) AS BIGINT) AS min_l
    FROM classes
    """,
    doc=(
        "l-diversity audit (l=3) — k-anonymity's companion release "
        "gate: within each quasi-identifier class (nationkey, "
        "mktsegment) the SENSITIVE attribute (account-balance band, "
        "1000-unit buckets) must take at least l distinct values, or "
        "an attacker who locates a class learns the sensitive value "
        "even though the class is k-large. One partial+final aggregate "
        "to class grain with a count-distinct (Expand), then a bounded "
        "summary: class count, under-l classes, rows at risk, worst "
        "class. Complements privacy_k_anonymity — the two run together "
        "before any privacy-reviewed export."
    ),
    tags=("pipeline", "privacy", "customer"),
)
def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    band = (
        (
            F.round(F.col("c_acctbal")).cast("long")
            - F.round(F.col("c_acctbal")).cast("long") % 1000
        )
        / 1000
    ).cast("long")
    classes = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("class_size"),
        F.count_distinct(band).cast("long").alias("l_distinct"),
    )
    return classes.agg(
        F.count(F.lit(1)).cast("long").alias("n_classes"),
        F.sum((F.col("l_distinct") < 3).cast("long")).alias("classes_under_l"),
        F.sum(
            F.when(F.col("l_distinct") < 3, F.col("class_size")).otherwise(0)
        )
        .cast("long")
        .alias("rows_at_risk"),
        F.min("l_distinct").alias("min_l"),
    )


# --------------------------------------------------------------------------
# Curriculum ordering (difficulty-ranked training order)
# --------------------------------------------------------------------------


@register(
    "pipeline_curriculum_order",
    oracle="""
    WITH scored AS (
      SELECT doc_id, n_chars,
             CAST(n_chars AS BIGINT)
               + CAST(len(string_split(text, ' ')) AS BIGINT) AS difficulty
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, difficulty,
             ROW_NUMBER() OVER (ORDER BY difficulty, doc_id) AS rn,
             COUNT(*) OVER () AS n
      FROM scored
    )
    SELECT doc_id, difficulty, rn AS curriculum_rank,
           CAST(((rn - 1) * 4) // n + 1 AS BIGINT) AS phase
    FROM ranked
    """,
    doc=(
        "Curriculum ordering for training: score every document's "
        "difficulty (chars + token count — the cheap proxy curricula "
        "start from), assign the EXACT global curriculum rank and a "
        "4-phase schedule bucket. The rank comes from the sharded "
        "enumeration operator (operators/ranks.py: range shuffle + "
        "local sorts + broadcast prefix offsets), so ordering a 100 TB "
        "corpus never funnels through one task — the same discipline "
        "as transform_global_row_number, applied to the "
        "curriculum-learning shape (Bengio et al. 2009). Phase is the "
        "closed-form quartile of the rank."
    ),
    tags=("training-pipeline", "documents", "scale"),
)
def pipeline_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dmi_ingestor_spark.operators.ranks import sharded_row_number

    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        (
            F.col("n_chars").cast("long")
            + F.size(F.split("text", " ")).cast("long")
        ).alias("difficulty"),
    )
    ranked, n = sharded_row_number(
        d, ["difficulty", "doc_id"], out="curriculum_rank"
    )
    phase = ((F.col("curriculum_rank") - 1) * 4 - ((F.col("curriculum_rank") - 1) * 4) % F.lit(max(n, 1))) / F.lit(max(n, 1)) + 1
    return ranked.select(
        "doc_id",
        "difficulty",
        "curriculum_rank",
        phase.cast("long").alias("phase"),
    )


# ---------------------------------------------------------------------------
# Temperature-scaled source mixing (sqrt-smoothed sampling rates)
# ---------------------------------------------------------------------------


@register(
    "mix_temperature_sampling",
    oracle="""
    WITH counts AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s,
             CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT) AS w_s
      FROM documents GROUP BY source
    ),
    ref AS (
      SELECT n_s AS n_m, w_s AS w_m FROM counts
      ORDER BY n_s, source LIMIT 1
    ),
    scored AS (
      SELECT d.doc_id, d.source, c.n_s, c.w_s, r.n_m, r.w_m,
             CAST('0x' || substr(md5('mix-' || CAST(d.doc_id AS VARCHAR)), 1, 8)
                  AS BIGINT) % 1000000 AS h_micro
      FROM documents d JOIN counts c ON c.source = d.source CROSS JOIN ref r
    )
    SELECT source,
           CAST(MAX(n_s) AS BIGINT) AS n_source,
           CAST(MAX(w_s) AS BIGINT) AS sqrt_weight,
           CAST(SUM(CASE WHEN h_micro * n_s * w_m < w_s * n_m * 1000000
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM scored
    GROUP BY source
    """,
    doc=(
        "Temperature-scaled data mixing (T=2, i.e. sqrt smoothing — the "
        "multilingual/multi-source rebalancing rule of mBERT/XLM-R and "
        "Pile-style mixtures): target share proportional to n^(1/T), "
        "realized as per-source DETERMINISTIC hash subsampling with "
        "acceptance a_s = (sqrt(n_s)/n_s)/(sqrt(n_m)/n_m) (the "
        "smallest source keeps 100%). Acceptance tests are pure "
        "integer cross-multiplications — no floating ratios — against "
        "an md5-derived per-doc uniform, so the sampled set is "
        "identical on every engine and every rerun (reproducible "
        "mixtures are an auditability requirement). Source counts are "
        "a bounded broadcast; the pass is one scan + one summary "
        "aggregate."
    ),
    tags=("mixing", "training-pipeline", "documents", "scale"),
)
def mix_temperature_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select("doc_id", "source")
    counts = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_s")
    ).select(
        "source",
        "n_s",
        F.floor(F.sqrt(F.col("n_s"))).cast("long").alias("w_s"),
    )
    ref = (
        counts.orderBy("n_s", "source")
        .limit(1)
        .select(F.col("n_s").alias("n_m"), F.col("w_s").alias("w_m"))
    )
    h_micro = (
        F.conv(F.substring(F.md5(F.concat(F.lit("mix-"), F.col("doc_id").cast("string"))), 1, 8), 16, 10)
        .cast("long")
        % 1000000
    )
    scored = (
        d.join(F.broadcast(counts), "source")
        .crossJoin(F.broadcast(ref))
        .withColumn("h_micro", h_micro)
    )
    keep = (
        F.col("h_micro") * F.col("n_s") * F.col("w_m")
        < F.col("w_s") * F.col("n_m") * 1000000
    )
    return scored.groupBy("source").agg(
        F.max("n_s").alias("n_source"),
        F.max("w_s").alias("sqrt_weight"),
        F.sum(keep.cast("long")).cast("long").alias("n_kept"),
    )


# ---------------------------------------------------------------------------
# Change data feed: row-level diff between two table versions
# ---------------------------------------------------------------------------


def _cdf_versions(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Shared CDF fixture: commit v1 = F+O orders, then MERGE (every
    10th F row's status -> X, P batch appended) to make v2; return the
    two version snapshots read back from the transaction log."""
    import tempfile as _tf

    from dmi_ingestor_spark.ingest.txlog import TxLog, merge_upsert

    tx = TxLog(spark, _tf.mkdtemp(prefix="dmi-cdf-"))
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    tx.append(o.where(F.col("o_orderstatus").isin("F", "O")), "base")
    v1 = tx.latest_version()
    updates = (
        o.where(F.col("o_orderstatus").isin("F", "O", "P"))
        .select(
            "o_orderkey",
            F.when(
                (F.col("o_orderstatus") == "F")
                & (F.col("o_orderkey") % 10 == 0),
                "X",
            )
            .otherwise(F.col("o_orderstatus"))
            .alias("o_orderstatus"),
        )
    )
    merge_upsert(tx, updates, "o_orderkey", "merged")
    v2 = tx.latest_version()
    return tx.read(version=v1), tx.read(version=v2)


@register(
    "lake_change_data_feed",
    oracle="""
    WITH v1 AS (
      SELECT o_orderkey, o_orderstatus FROM orders
      WHERE o_orderstatus IN ('F', 'O')
    ),
    v2 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderstatus = 'F' AND o_orderkey % 10 = 0
                  THEN 'X' ELSE o_orderstatus END AS o_orderstatus
      FROM orders WHERE o_orderstatus IN ('F', 'O', 'P')
    ),
    ins AS (SELECT * FROM v2 EXCEPT ALL SELECT * FROM v1),
    del AS (SELECT * FROM v1 EXCEPT ALL SELECT * FROM v2)
    SELECT '+' AS change_type, o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum
    FROM ins GROUP BY o_orderstatus
    UNION ALL
    SELECT '-', o_orderstatus, CAST(COUNT(*) AS BIGINT),
           CAST(SUM(o_orderkey) AS BIGINT)
    FROM del GROUP BY o_orderstatus
    """,
    doc=(
        "Change data feed between two transaction-log versions (the "
        "Delta CDF / Iceberg changelog shape): version 1 holds the F+O "
        "orders, a MERGE rewrites every 10th F row's status and adds "
        "the P batch at version 2; the feed is the row-level diff "
        "snapshot(v2) EXCEPT ALL snapshot(v1) (inserts) and the "
        "reverse (deletes) — an update appears as paired -/+ rows, "
        "exactly how downstream incremental consumers replay it. "
        "EXCEPT ALL is two shuffles on the full row; at 100 TB a "
        "production CDF narrows this by commit metadata (only touched "
        "units diff — the txlog records them), which "
        "merge_upsert_pruned already demonstrates. Summarized per "
        "(change, status) with key checksums so the oracle pins every "
        "row of the diff."
    ),
    tags=("pipeline", "lakehouse", "cdc", "orders"),
)
def lake_change_data_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    s1, s2 = _cdf_versions(spark, sf_dir)
    ins = s2.exceptAll(s1)
    dele = s1.exceptAll(s2)

    def _summ(df: DataFrame, tag: str) -> DataFrame:
        return df.groupBy("o_orderstatus").agg(
            F.lit(tag).alias("change_type"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("key_checksum"),
        ).select("change_type", "o_orderstatus", "n_rows", "key_checksum")

    return _summ(ins, "+").unionAll(_summ(dele, "-"))


@register(
    "lake_incremental_view_maintenance",
    oracle="""
    WITH v2 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderstatus = 'F' AND o_orderkey % 10 = 0
                  THEN 'X' ELSE o_orderstatus END AS o_orderstatus
      FROM orders WHERE o_orderstatus IN ('F', 'O', 'P')
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum
    FROM v2 GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
    doc=(
        "Incremental view maintenance: a per-status (COUNT, SUM) "
        "materialized aggregate built at version 1 is brought to "
        "version 2 WITHOUT rescanning the v2 table — only the change "
        "feed's row-level deltas are aggregated (+count/+sum for "
        "inserts, -count/-sum for deletes; an update is its -/+ pair) "
        "and merged into the stored view state by a full-outer join on "
        "the group key, dropping groups whose maintained count reaches "
        "zero. COUNT/SUM are self-maintainable aggregates, so the "
        "algebra is exact; the oracle recomputes the view from the v2 "
        "state directly, and the green hash proves maintained == "
        "recomputed. At 100 TB this is the difference between "
        "re-aggregating the table and aggregating yesterday's delta: "
        "the view state is O(groups), the delta is O(changes), and "
        "neither touches the base relation."
    ),
    tags=("pipeline", "lakehouse", "ivm", "cdc", "orders"),
)
def lake_incremental_view_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    s1, s2 = _cdf_versions(spark, sf_dir)
    view1 = s1.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("long").alias("v_n"),
        F.sum("o_orderkey").cast("long").alias("v_sum"),
    )
    d_ins = (
        s2.exceptAll(s1)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("i_n"),
            F.sum("o_orderkey").cast("long").alias("i_sum"),
        )
        .withColumnRenamed("o_orderstatus", "i_status")
    )
    d_del = (
        s1.exceptAll(s2)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).cast("long").alias("d_n"),
            F.sum("o_orderkey").cast("long").alias("d_sum"),
        )
        .withColumnRenamed("o_orderstatus", "d_status")
    )
    merged = view1.join(
        d_ins, view1.o_orderstatus == d_ins.i_status, "full_outer"
    ).select(
        F.coalesce("o_orderstatus", "i_status").alias("o_orderstatus"),
        "v_n",
        "v_sum",
        "i_n",
        "i_sum",
    )
    merged = merged.join(
        d_del, merged.o_orderstatus == d_del.d_status, "full_outer"
    ).select(
        F.coalesce("o_orderstatus", "d_status").alias("o_orderstatus"),
        (
            F.coalesce("v_n", F.lit(0))
            + F.coalesce("i_n", F.lit(0))
            - F.coalesce("d_n", F.lit(0))
        ).alias("n_rows"),
        (
            F.coalesce("v_sum", F.lit(0))
            + F.coalesce("i_sum", F.lit(0))
            - F.coalesce("d_sum", F.lit(0))
        ).alias("key_checksum"),
    )
    return (
        merged.where(F.col("n_rows") > 0)
        .select("o_orderstatus", "n_rows", "key_checksum")
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Materialized-view rollup rewrite (answer coarse queries from a finer MV)
# ---------------------------------------------------------------------------


@register(
    "lake_mv_rollup_rewrite",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS price_c
    FROM lineitem
    WHERE l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc=(
        "Materialized-view rewrite: a (returnflag, linestatus, "
        "ship-month) pre-aggregate is materialized ONCE per sf_dir "
        "(parquet, reused across runs), and the user's coarser query — "
        "per-returnflag totals before a cutoff — is answered by "
        "ROLLING UP THE MV, never rescanning the fact: counts sum, "
        "sums sum, and the month grain lets the cutoff predicate prune "
        "MV rows exactly (cutoff on a month boundary). The oracle "
        "computes the same answer from the raw fact, so the green hash "
        "proves the rewrite's algebra. At 100 TB this is the "
        "thousandfold-smaller scan every BI layer relies on; the "
        "engine's txlog (lake_* family) supplies the freshness/"
        "invalidation signal a production MV needs."
    ),
    tags=("pipeline", "lakehouse", "mv", "lineitem", "scale"),
)
def lake_mv_rollup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib
    import os
    import tempfile

    suffix = hashlib.md5(f"{sf_dir}|mv1".encode()).hexdigest()[:8]
    mv_path = os.path.join(tempfile.gettempdir(), f"dmi-mv-pricing-{suffix}")
    if not os.path.exists(os.path.join(mv_path, "_SUCCESS")):
        li = table(spark, sf_dir, "lineitem")
        (
            li.groupBy(
                "l_returnflag",
                "l_linestatus",
                F.date_trunc("month", "l_shipdate").alias("ship_month"),
            )
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_lines"),
                F.sum(
                    F.round(F.col("l_extendedprice") * 100).cast("long")
                )
                .cast("long")
                .alias("price_c"),
            )
            .write.mode("overwrite")
            .parquet(mv_path)
        )
    mv = spark.read.parquet(mv_path)
    return (
        mv.filter(F.col("ship_month") < F.lit("1997-01-01").cast("timestamp"))
        .groupBy("l_returnflag")
        .agg(
            F.sum("n_lines").cast("long").alias("n_lines"),
            F.sum("price_c").cast("long").alias("price_c"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Balanced training-shard assignment (token-weighted round robin)
# ---------------------------------------------------------------------------

_SHARD_N = 8


@register(
    "pipeline_shard_balanced",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, n_tokens,
             ROW_NUMBER() OVER (ORDER BY n_tokens DESC, doc_id) AS rn
      FROM scored
    )
    SELECT CAST((rn - 1) % {_SHARD_N} AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens,
           CAST(MIN(n_tokens) AS BIGINT) AS min_doc_tokens,
           CAST(MAX(n_tokens) AS BIGINT) AS max_doc_tokens
    FROM ranked
    GROUP BY 1
    """,
    doc=(
        "Balanced training-shard assignment: documents rank by token "
        "count (size-descending, deterministic tiebreak) via the "
        "sharded-rank operator, then deal round-robin into 8 shards — "
        "the sorted-greedy guarantee that shard token totals differ by "
        "at most one max-document, which is what keeps 1000 data-"
        "loader workers finishing together instead of straggling on a "
        "fat shard. The exact rank never funnels through one task "
        "(operators/ranks.py), the deal is map-side modulo arithmetic, "
        "and the per-shard summary is one bounded aggregate."
    ),
    tags=("training-pipeline", "documents", "scale"),
)
def pipeline_shard_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dmi_ingestor_spark.operators.ranks import sharded_row_number

    d = table(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    ranked, _n = sharded_row_number(
        d, [F.col("n_tokens").desc(), F.col("doc_id")], out="rn"
    )
    return (
        ranked.withColumn(
            "shard", ((F.col("rn") - 1) % _SHARD_N).cast("long")
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("shard_tokens"),
            F.min("n_tokens").alias("min_doc_tokens"),
            F.max("n_tokens").alias("max_doc_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# Cross-table reconciliation (header vs detail rollup)
# ---------------------------------------------------------------------------


@register(
    "dq_cross_table_reconciliation",
    oracle="""
    WITH detail AS (
      SELECT l_orderkey,
             CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS line_total_c
      FROM lineitem GROUP BY l_orderkey
    ),
    joined AS (
      SELECT o.o_orderkey,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS header_c,
             COALESCE(d.line_total_c, 0) AS detail_c
      FROM orders o LEFT JOIN detail d ON d.l_orderkey = o.o_orderkey
    ),
    bucketed AS (
      SELECT *,
             CASE
               WHEN detail_c = 0 THEN 'no_detail'
               WHEN header_c = detail_c THEN 'exact'
               WHEN ABS(header_c - detail_c) * 100 <= header_c THEN 'within_1pct'
               ELSE 'mismatch'
             END AS recon_class
      FROM joined
    )
    SELECT recon_class,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(header_c) AS BIGINT) AS header_total_c,
           CAST(SUM(detail_c) AS BIGINT) AS detail_total_c,
           CAST(SUM(ABS(header_c - detail_c)) AS BIGINT) AS abs_gap_c
    FROM bucketed
    GROUP BY recon_class
    """,
    doc=(
        "Header-vs-detail reconciliation — the finance/DQ control that "
        "runs nightly on every order-management warehouse: roll the "
        "line items up per order, join against the header amount, and "
        "bucket each order as exact / within-1% / mismatch / "
        "no-detail, with integer-cent gap totals per class. One detail "
        "aggregate + one left join + one bounded summary; at 100 TB "
        "both sides shuffle on the order key exactly once. The "
        "companion to dq_referential_integrity (existence) — this one "
        "reconciles AMOUNTS."
    ),
    tags=("pipeline", "dq", "orders", "lineitem"),
)
def dq_cross_table_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    detail = li.groupBy("l_orderkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
        .cast("long")
        .alias("line_total_c")
    )
    joined = o.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("header_c"),
    ).join(detail, o["o_orderkey"] == detail["l_orderkey"], "left").select(
        "o_orderkey",
        "header_c",
        F.coalesce(F.col("line_total_c"), F.lit(0)).alias("detail_c"),
    )
    recon = (
        F.when(F.col("detail_c") == 0, "no_detail")
        .when(F.col("header_c") == F.col("detail_c"), "exact")
        .when(
            F.abs(F.col("header_c") - F.col("detail_c")) * 100
            <= F.col("header_c"),
            "within_1pct",
        )
        .otherwise("mismatch")
    )
    return (
        joined.withColumn("recon_class", recon)
        .groupBy("recon_class")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("header_c").cast("long").alias("header_total_c"),
            F.sum("detail_c").cast("long").alias("detail_total_c"),
            F.sum(F.abs(F.col("header_c") - F.col("detail_c")))
            .cast("long")
            .alias("abs_gap_c"),
        )
    )


@register(
    "lake_deletion_vector_read",
    oracle="""
    SELECT 0 AS phase,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum
    FROM orders
    UNION ALL
    SELECT 1,
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(o_orderkey) AS BIGINT)
    FROM orders WHERE o_orderkey % 7 <> 0
    ORDER BY phase
    """,
    doc=(
        "Deletion vectors (Delta Lake DV / Iceberg position-delete "
        "shape) through the transaction log: the table commits as ONE "
        "sorted unit, a soft delete then writes only a parquet of row "
        "POSITIONS (O(deleted) bytes — no unit rewrite), and the "
        "reader subtracts positions at scan time via the file "
        "row-index metadata column + a broadcast anti-join. Phase 0 "
        "reads the pre-delete version (time travel past the DV), "
        "phase 1 the post-delete snapshot; the oracle pins both "
        "against the base table, so a green row proves position "
        "arithmetic, DV replay order, and version scoping all "
        "resolve exactly. The mechanism that makes GDPR-style row "
        "deletes affordable on 100 TB immutable storage."
    ),
    tags=("pipeline", "lakehouse", "deletion-vectors", "orders"),
)
def lake_deletion_vector_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile as _tf

    from pyspark.sql import Window

    from dmi_ingestor_spark.ingest.txlog import (
        TxLog,
        add_deletion_vector,
        read_with_dv,
    )

    tx = TxLog(spark, _tf.mkdtemp(prefix="dmi-dv-"))
    o = table(spark, sf_dir, "orders").select("o_orderkey")
    # one deterministic-ordered file => row position == key rank
    base = o.repartition(1).sortWithinPartitions("o_orderkey")
    v0 = tx.append(base, "base")
    pos = (
        o.select(
            "o_orderkey",
            (F.row_number().over(Window.orderBy("o_orderkey")) - 1).alias("pos"),
        )
        .filter(F.col("o_orderkey") % 7 == 0)
        .select("pos")
    )
    add_deletion_vector(tx, "data/base", pos, "base-dv0")
    pre = tx.read(version=v0).agg(
        F.lit(0).alias("phase"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_checksum"),
    ).select("phase", "n_rows", "key_checksum")
    post = read_with_dv(tx).agg(
        F.lit(1).alias("phase"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("o_orderkey").cast("long").alias("key_checksum"),
    ).select("phase", "n_rows", "key_checksum")
    return pre.unionAll(post).orderBy("phase")


_TCLOSE_S = 10**8  # |c_cb*n_g - c_gb*n_c| <= n_c*n_g ~ 9e8 at sf0.1; x1e8 fits


@register(
    "privacy_t_closeness",
    oracle=f"""
    WITH rows_b AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(round(c_acctbal) AS BIGINT) // 2000 AS band
      FROM customer
    ),
    cls AS (
      SELECT c_nationkey, c_mktsegment, band, COUNT(*) AS c_cb
      FROM rows_b GROUP BY 1, 2, 3
    ),
    class_n AS (
      SELECT c_nationkey, c_mktsegment, SUM(c_cb) AS n_c
      FROM cls GROUP BY 1, 2
    ),
    gdist AS (SELECT band, COUNT(*) AS c_gb FROM rows_b GROUP BY band),
    gdist_n AS (SELECT SUM(c_gb) AS n_g FROM gdist),
    grid AS (
      SELECT cn.c_nationkey, cn.c_mktsegment, g.band, cn.n_c,
             gn.n_g, g.c_gb, COALESCE(c.c_cb, 0) AS c_cb
      FROM class_n cn
      CROSS JOIN gdist g CROSS JOIN gdist_n gn
      LEFT JOIN cls c
        ON c.c_nationkey = cn.c_nationkey
       AND c.c_mktsegment = cn.c_mktsegment
       AND c.band = g.band
    ),
    tvd AS (
      SELECT c_nationkey, c_mktsegment,
             MAX(n_c) AS class_size,
             (SUM(abs(c_cb * n_g - c_gb * n_c)) * {_TCLOSE_S})
               // (2 * MAX(n_c) * MAX(n_g)) AS tvd_scaled
      FROM grid GROUP BY 1, 2
    )
    SELECT c_nationkey, c_mktsegment,
           CAST(class_size AS BIGINT) AS class_size,
           CAST(tvd_scaled AS BIGINT) AS tvd_scaled,
           CAST(CASE WHEN tvd_scaled > {_TCLOSE_S} // 5 THEN 1 ELSE 0 END
                AS BIGINT) AS breaches_t
    FROM tvd
    ORDER BY c_nationkey, c_mktsegment
    """,
    doc=(
        "t-closeness audit (t=0.2) — the third rung of the "
        "k-anonymity / l-diversity release-gate ladder: within each "
        "quasi-identifier class, the SENSITIVE-attribute distribution "
        "(balance band) must stay within distance t of the global "
        "distribution, or the class itself leaks information even "
        "when k-large and l-diverse. Distance is total variation "
        "(the discrete special case of t-closeness' EMD), computed "
        "ALL-INTEGER with the common-denominator trick: "
        "|c_cb*n_g - c_gb*n_c| summed over the band grid, scaled by "
        "1e8 and floor-divided by 2*n_c*n_g — bit-exact, no doubles. "
        "Scale shape: class-band counts are one partial+final "
        "aggregate; the band grid joins against two broadcast "
        "aggregates (bands x classes is release-audit-sized)."
    ),
    tags=("pipeline", "privacy", "customer"),
)
def privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    band = F.expr("CAST(round(c_acctbal) AS BIGINT) div 2000")
    rows_b = c.select("c_nationkey", "c_mktsegment", band.alias("band"))
    cls = rows_b.groupBy("c_nationkey", "c_mktsegment", "band").agg(
        F.count(F.lit(1)).alias("c_cb")
    )
    class_n = cls.groupBy("c_nationkey", "c_mktsegment").agg(
        F.sum("c_cb").alias("n_c")
    )
    glob = rows_b.groupBy("band").agg(F.count(F.lit(1)).alias("c_gb"))
    glob_n = glob.agg(F.sum("c_gb").alias("n_g"))
    grid = (
        class_n.crossJoin(F.broadcast(glob))
        .crossJoin(F.broadcast(glob_n))
        .join(cls, ["c_nationkey", "c_mktsegment", "band"], "left")
        .select(
            "c_nationkey",
            "c_mktsegment",
            "band",
            "n_c",
            "n_g",
            "c_gb",
            F.coalesce(F.col("c_cb"), F.lit(0)).alias("c_cb"),
        )
    )
    tvd = grid.groupBy("c_nationkey", "c_mktsegment").agg(
        F.max("n_c").alias("class_size"),
        F.expr(
            f"(SUM(abs(c_cb * n_g - c_gb * n_c)) * {_TCLOSE_S})"
            f" div (2 * MAX(n_c) * MAX(n_g))"
        ).alias("tvd_scaled"),
    )
    return tvd.select(
        "c_nationkey",
        "c_mktsegment",
        F.col("class_size").cast("long").alias("class_size"),
        F.col("tvd_scaled").cast("long").alias("tvd_scaled"),
        (F.col("tvd_scaled") > _TCLOSE_S // 5).cast("long").alias("breaches_t"),
    ).orderBy("c_nationkey", "c_mktsegment")


@register(
    "pipeline_backfill_partitions",
    oracle="""
    WITH dated AS (
      SELECT CAST(ts AS DATE) AS event_date, event_type,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events
    )
    SELECT CAST(event_date AS VARCHAR) AS event_date,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS cents_checksum
    FROM dated
    WHERE NOT (day(event_date) <= 2 AND event_type = 'error')
    GROUP BY event_date
    ORDER BY event_date
    """,
    doc=(
        "Idempotent partition BACKFILL via dynamic partition "
        "overwrite: the events table lands date-partitioned; a "
        "reprocessing run then rewrites ONLY the partitions for "
        "days 1-2 of each month (with errors scrubbed) using "
        "partitionOverwriteMode=dynamic — Spark replaces exactly the "
        "partitions present in the incoming frame and leaves every "
        "other date's files untouched, which is what makes re-running "
        "a backfill safe. The read-back per-date counts/checksums are "
        "pinned against the base table (backfilled dates: non-error "
        "rows; untouched dates: all rows), so a green row proves the "
        "overwrite touched exactly the intended partitions. The "
        "everyday 'fix yesterday's bad load without rewriting the "
        "table' operation at 100 TB."
    ),
    tags=("pipeline", "backfill", "events"),
)
def pipeline_backfill_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile as _tf

    root = _tf.mkdtemp(prefix="dmi-backfill-")
    ev = table(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("event_date"),
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    ev.write.mode("overwrite").partitionBy("event_date").parquet(root)
    backfill = ev.filter(
        (F.dayofmonth("event_date") <= 2) & (F.col("event_type") != "error")
    )
    (
        backfill.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("event_date")
        .parquet(root)
    )
    # Dynamic overwrite only rewrites partitions PRESENT in the
    # incoming frame — a target date whose rows are ALL scrubbed
    # produces no incoming partition and would leave its stale
    # files behind (ADVICE r3). The target list must come from the
    # date PREDICATE, not from surviving rows: diff the predicate's
    # dates against the backfill's and delete the stale remainder.
    # O(#partitions) driver-side; the delete goes through the same
    # Hadoop FileSystem API as retention (s3a-safe).
    from dmi_ingestor_spark.ingest.fs import fs_delete

    target_dates = {
        r[0]
        for r in ev.filter(F.dayofmonth("event_date") <= 2)
        .select(F.col("event_date").cast("string"))
        .distinct()
        .collect()
    }
    written_dates = {
        r[0]
        for r in backfill.select(F.col("event_date").cast("string"))
        .distinct()
        .collect()
    }
    for d in sorted(target_dates - written_dates):
        fs_delete(spark, f"{root}/event_date={d}")
    return (
        spark.read.parquet(root)
        .groupBy(F.col("event_date").cast("string").alias("event_date"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("cents").cast("long").alias("cents_checksum"),
        )
        .orderBy("event_date")
    )


_STICKY_S = 10**6


@register(
    "analytics_dau_mau_stickiness",
    oracle=f"""
    WITH daily AS (
      SELECT DATE_TRUNC('month', ts) AS month_start,
             CAST(ts AS DATE) AS d,
             COUNT(DISTINCT user_id) AS dau
      FROM events GROUP BY 1, 2
    ),
    monthly AS (
      SELECT DATE_TRUNC('month', ts) AS month_start,
             COUNT(DISTINCT user_id) AS mau
      FROM events GROUP BY 1
    ),
    avg_dau AS (
      SELECT month_start,
             SUM(dau) AS dau_total, COUNT(*) AS n_days
      FROM daily GROUP BY month_start
    )
    SELECT CAST(a.month_start AS TIMESTAMP) AS month_start,
           CAST(a.dau_total AS BIGINT) AS dau_total,
           CAST(a.n_days AS BIGINT) AS n_active_days,
           CAST(m.mau AS BIGINT) AS mau,
           CAST((a.dau_total * {_STICKY_S}) // (a.n_days * m.mau) AS BIGINT)
             AS stickiness_scaled
    FROM avg_dau a JOIN monthly m ON a.month_start = m.month_start
    ORDER BY a.month_start
    """,
    doc=(
        "DAU/MAU stickiness per month — the product-health headline: "
        "average daily actives over monthly actives, as the "
        "1e6-scaled integer ratio (avg-DAU kept as the exact "
        "dau_total/n_days pair so no doubles appear anywhere). Two "
        "count-distinct aggregates at different time grains over one "
        "scan pattern; both are partial+final hash aggregates keyed "
        "on bounded (month, day) domains."
    ),
    tags=("analytics", "engagement", "events"),
)
def analytics_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("month", "ts").alias("month_start"),
        F.col("ts").cast("date").alias("d"),
    ).agg(F.countDistinct("user_id").alias("dau"))
    monthly = ev.groupBy(
        F.date_trunc("month", "ts").alias("month_start")
    ).agg(F.countDistinct("user_id").alias("mau"))
    avg_dau = daily.groupBy("month_start").agg(
        F.sum("dau").alias("dau_total"), F.count(F.lit(1)).alias("n_days")
    )
    return (
        avg_dau.join(monthly, "month_start")
        .select(
            "month_start",
            F.col("dau_total").cast("long").alias("dau_total"),
            F.col("n_days").cast("long").alias("n_active_days"),
            F.col("mau").cast("long").alias("mau"),
            F.expr(f"(dau_total * {_STICKY_S}) div (n_days * mau)")
            .cast("long")
            .alias("stickiness_scaled"),
        )
        .orderBy("month_start")
    )


@register(
    "pipeline_data_contract_check",
    oracle="""
    SELECT 'orderkey_positive' AS rule,
           CAST(COUNT(*) AS BIGINT) AS n_checked,
           CAST(SUM(CASE WHEN o_orderkey > 0 THEN 0 ELSE 1 END) AS BIGINT)
             AS n_violations
    FROM orders
    UNION ALL
    SELECT 'status_enum',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN o_orderstatus IN ('F', 'O', 'P') THEN 0 ELSE 1
                END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'priority_format',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN regexp_matches(o_orderpriority,
                '^[1-5]-[A-Z ]+$') THEN 0 ELSE 1 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'price_range',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN o_totalprice > 0 AND o_totalprice < 1000000
                THEN 0 ELSE 1 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'date_bounds',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '1992-01-01 00:00:00'
                     AND o_orderdate < TIMESTAMP '2000-01-01 00:00:00'
                THEN 0 ELSE 1 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'custkey_not_null',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN o_custkey IS NOT NULL THEN 0 ELSE 1 END)
                AS BIGINT)
    FROM orders
    ORDER BY rule
    """,
    doc=(
        "Declarative data-contract validation — the schema-and-"
        "semantics gate a producer table must pass before consumers "
        "see it (the dbt-test / Great-Expectations / data-contract "
        "pattern): positivity, enum membership, regex format, value "
        "range, date bounds, required fields. All six rules evaluate "
        "in ONE scan as conditional aggregates (the UNION ALL is "
        "over 1-row summaries, not data); at 100 TB this is the "
        "cheapest possible full-table audit — no shuffle wider than "
        "6 rows. Complements dq_expectations_summary (percentile "
        "expectations) with exact rule counts."
    ),
    tags=("pipeline", "quality", "contract", "orders"),
)
def pipeline_data_contract_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")

    def rule(name: str, ok: F.Column):
        return o.agg(
            F.lit(name).alias("rule"),
            F.count(F.lit(1)).cast("long").alias("n_checked"),
            F.sum(F.when(ok, 0).otherwise(1)).cast("long").alias("n_violations"),
        ).select("rule", "n_checked", "n_violations")

    checks = [
        rule("orderkey_positive", F.col("o_orderkey") > 0),
        rule("status_enum", F.col("o_orderstatus").isin("F", "O", "P")),
        rule(
            "priority_format",
            F.col("o_orderpriority").rlike("^[1-5]-[A-Z ]+$"),
        ),
        rule(
            "price_range",
            (F.col("o_totalprice") > 0) & (F.col("o_totalprice") < 1000000),
        ),
        rule(
            "date_bounds",
            (F.col("o_orderdate") >= F.lit("1992-01-01"))
            & (F.col("o_orderdate") < F.lit("2000-01-01")),
        ),
        rule("custkey_not_null", F.col("o_custkey").isNotNull()),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionAll(c)
    return out.orderBy("rule")


@register(
    "dq_duplicate_key_audit",
    oracle="""
    WITH key_counts AS (
      SELECT l_orderkey, l_linenumber, COUNT(*) AS c
      FROM lineitem GROUP BY l_orderkey, l_linenumber
    )
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_keys,
      CAST(SUM(c) AS BIGINT) AS n_rows,
      CAST(SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_keys,
      CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS n_dup_rows,
      CAST(MAX(c) AS BIGINT) AS max_multiplicity
    FROM key_counts
    """,
    doc=(
        "Primary-key uniqueness audit — the first data-quality gate "
        "on any ingested table: group by the declared key, summarize "
        "duplicate keys / duplicate rows / worst multiplicity in one "
        "partial+final aggregate plus a 1-row rollup. Green here "
        "means every downstream MERGE/join can assume key semantics; "
        "red localizes how bad the violation is without a second "
        "scan. Complements dedup_exact (which removes) with the "
        "audit-only readout a contract check wants."
    ),
    tags=("pipeline", "quality", "lineitem"),
)
def dq_duplicate_key_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    key_counts = li.groupBy("l_orderkey", "l_linenumber").agg(
        F.count(F.lit(1)).alias("c")
    )
    return key_counts.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("c").cast("long").alias("n_rows"),
        F.sum((F.col("c") > 1).cast("long")).cast("long").alias("n_dup_keys"),
        F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0))
        .cast("long")
        .alias("n_dup_rows"),
        F.max("c").cast("long").alias("max_multiplicity"),
    )


@register(
    "pipeline_quality_filter_cascade",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             length(text) AS n_chars,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_distinct(string_split(text, ' '))) AS n_distinct
      FROM documents
    ),
    gated AS (
      SELECT doc_id,
             CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END AS g1,
             CASE WHEN n_tokens >= 20 THEN 1 ELSE 0 END AS g2,
             CASE WHEN 10 * n_distinct >= 3 * n_tokens THEN 1 ELSE 0 END AS g3,
             CASE WHEN 2 * n_distinct <= n_tokens + n_distinct THEN 1 ELSE 0
               END AS g4
      FROM toks
    ),
    funnel AS (
      SELECT doc_id, g1,
             g1 * g2 AS s2,
             g1 * g2 * g3 AS s3,
             g1 * g2 * g3 * g4 AS s4
      FROM gated
    )
    SELECT stage, n_in, n_pass, n_in - n_pass AS n_fail
    FROM (
      SELECT 'stage1_min_chars' AS stage,
             CAST(COUNT(*) AS BIGINT) AS n_in,
             CAST(SUM(g1) AS BIGINT) AS n_pass FROM funnel
      UNION ALL
      SELECT 'stage2_min_tokens', CAST(SUM(g1) AS BIGINT),
             CAST(SUM(s2) AS BIGINT) FROM funnel
      UNION ALL
      SELECT 'stage3_diversity', CAST(SUM(s2) AS BIGINT),
             CAST(SUM(s3) AS BIGINT) FROM funnel
      UNION ALL
      SELECT 'stage4_repetition', CAST(SUM(s3) AS BIGINT),
             CAST(SUM(s4) AS BIGINT) FROM funnel
    )
    ORDER BY stage
    """,
    doc=(
        "The C4/RefinedWeb-style quality-filter CASCADE with "
        "per-stage attrition accounting: min-length, min-tokens, "
        "lexical diversity (distinct/total >= 0.3, integer "
        "cross-compare), and a repetition gate, applied sequentially "
        "so each stage's n_in is the previous stage's survivors — "
        "the funnel readout a corpus-cleaning run publishes next to "
        "its output. All four gates and the funnel compose in ONE "
        "scan as boolean products inside a single partial+final "
        "aggregate (the UNION ALL is over 1-row summaries) — at "
        "100 TB the whole report costs one pass, no materialized "
        "intermediate corpus per stage."
    ),
    tags=("pipeline", "quality", "training-pipeline", "documents"),
)
def pipeline_quality_filter_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
        F.size(F.array_distinct(F.split(F.col("text"), " "))).alias("n_distinct"),
    )
    gated = toks.select(
        "doc_id",
        (F.col("n_chars") >= 100).cast("long").alias("g1"),
        (F.col("n_tokens") >= 20).cast("long").alias("g2"),
        (10 * F.col("n_distinct") >= 3 * F.col("n_tokens"))
        .cast("long")
        .alias("g3"),
        (2 * F.col("n_distinct") <= F.col("n_tokens") + F.col("n_distinct"))
        .cast("long")
        .alias("g4"),
    )
    funnel = gated.select(
        "g1",
        (F.col("g1") * F.col("g2")).alias("s2"),
        (F.col("g1") * F.col("g2") * F.col("g3")).alias("s3"),
        (F.col("g1") * F.col("g2") * F.col("g3") * F.col("g4")).alias("s4"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_all"),
        F.sum("g1").cast("long").alias("p1"),
        F.sum("s2").cast("long").alias("p2"),
        F.sum("s3").cast("long").alias("p3"),
        F.sum("s4").cast("long").alias("p4"),
    )
    rows = funnel.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("stage1_min_chars").alias("stage"),
                    F.col("n_all").alias("n_in"),
                    F.col("p1").alias("n_pass"),
                ),
                F.struct(
                    F.lit("stage2_min_tokens").alias("stage"),
                    F.col("p1").alias("n_in"),
                    F.col("p2").alias("n_pass"),
                ),
                F.struct(
                    F.lit("stage3_diversity").alias("stage"),
                    F.col("p2").alias("n_in"),
                    F.col("p3").alias("n_pass"),
                ),
                F.struct(
                    F.lit("stage4_repetition").alias("stage"),
                    F.col("p3").alias("n_in"),
                    F.col("p4").alias("n_pass"),
                ),
            )
        ).alias("s")
    ).select(
        F.col("s.stage").alias("stage"),
        F.col("s.n_in").alias("n_in"),
        F.col("s.n_pass").alias("n_pass"),
        (F.col("s.n_in") - F.col("s.n_pass")).alias("n_fail"),
    )
    return rows.orderBy("stage")


@register(
    "lake_optimize_recluster",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderkey % 4 AS scatter,
             NTILE(4) OVER (ORDER BY o_orderkey) AS rng
      FROM orders
    ),
    pre AS (
      SELECT scatter AS unit_id, COUNT(*) AS n,
             MIN(o_orderkey) AS lo, MAX(o_orderkey) AS hi,
             SUM(o_orderkey) AS ck
      FROM base GROUP BY scatter
    ),
    post AS (
      SELECT rng - 1 AS unit_id, COUNT(*) AS n,
             MIN(o_orderkey) AS lo, MAX(o_orderkey) AS hi,
             SUM(o_orderkey) AS ck
      FROM base GROUP BY rng
    )
    SELECT 'pre' AS phase, CAST(unit_id AS BIGINT) AS unit_id,
           CAST(n AS BIGINT) AS n_rows,
           CAST(lo AS BIGINT) AS key_min, CAST(hi AS BIGINT) AS key_max,
           CAST(ck AS BIGINT) AS key_checksum
    FROM pre
    UNION ALL
    SELECT 'post', CAST(unit_id AS BIGINT), CAST(n AS BIGINT),
           CAST(lo AS BIGINT), CAST(hi AS BIGINT), CAST(ck AS BIGINT)
    FROM post
    ORDER BY phase DESC, unit_id
    """,
    doc=(
        "OPTIMIZE / re-clustering through the transaction log: the "
        "table lands as four mod-scattered units (every unit spans "
        "the whole key domain — the worst case for stats skipping), "
        "then one commit atomically replaces them with four "
        "RANGE-clustered units (sharded exact NTILE, so unit "
        "boundaries are deterministic — no RangePartitioner "
        "sampling). The oracle pins per-unit (rows, min, max, "
        "checksum) for BOTH layouts from the base table: identical "
        "checksums prove OPTIMIZE moved every row and lost none, and "
        "the post min/max spans collapse from full-domain to "
        "disjoint quartiles — the measurable claim behind 'OPTIMIZE "
        "makes range reads prune'. Old snapshots still read the "
        "scattered layout (time travel across OPTIMIZE)."
    ),
    tags=("pipeline", "lakehouse", "optimize", "orders"),
)
def lake_optimize_recluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile as _tf

    from dmi_ingestor_spark.ingest.txlog import TxLog, append_with_stats
    from dmi_ingestor_spark.operators.ranks import sharded_row_number

    tx = TxLog(spark, _tf.mkdtemp(prefix="dmi-opt-"))
    o = table(spark, sf_dir, "orders").select("o_orderkey")
    # land scattered: 4 units, each spanning the full key domain
    for i in range(4):
        append_with_stats(
            tx,
            o.filter(F.col("o_orderkey") % 4 == i),
            f"scatter-{i}",
            "o_orderkey",
        )
    pre_snap = tx.snapshot()
    # OPTIMIZE: one atomic commit swaps in 4 range-clustered units
    # (deterministic quartiles via sharded exact row numbering)
    ranked, n_total = sharded_row_number(o, ["o_orderkey"], out="rn")
    adds = []
    # Quartile boundaries computed exactly as NTILE(4) does: the first
    # n_total % 4 buckets take one extra row (front-loaded remainder),
    # not floor(n*i/4)..floor(n*(i+1)/4) which trail-loads it — the two
    # disagree whenever n_total % 4 != 0 (ADVICE r3).
    q, rem = divmod(n_total, 4)
    for i in range(4):
        lo_n = i * q + min(i, rem)
        hi_n = lo_n + q + (1 if i < rem else 0)
        part = ranked.filter(
            (F.col("rn") > lo_n) & (F.col("rn") <= hi_n)
        ).select("o_orderkey")
        adds.append(tx._write_unit(part, f"clustered-{i}"))
    tx.commit(adds=adds, removes=list(pre_snap.add_units), tag="o")

    def phase_stats(units, phase):
        parts = []
        for idx, u in enumerate(sorted(units)):
            df = spark.read.parquet(f"{tx.root}/{u}")
            parts.append(
                df.agg(
                    F.lit(phase).alias("phase"),
                    F.lit(idx).cast("long").alias("unit_id"),
                    F.count(F.lit(1)).cast("long").alias("n_rows"),
                    F.min("o_orderkey").cast("long").alias("key_min"),
                    F.max("o_orderkey").cast("long").alias("key_max"),
                    F.sum("o_orderkey").cast("long").alias("key_checksum"),
                ).select(
                    "phase", "unit_id", "n_rows", "key_min", "key_max",
                    "key_checksum",
                )
            )
        return parts

    rows = phase_stats(pre_snap.add_units, "pre") + phase_stats(
        tx.snapshot().add_units, "post"
    )
    out = rows[0]
    for p in rows[1:]:
        out = out.unionAll(p)
    return out.orderBy(F.col("phase").desc(), "unit_id")


@register(
    "privacy_generalization_ladder",
    oracle="""
    WITH widths(w) AS (VALUES (500), (1000), (2000), (4000)),
    classes AS (
      SELECT w.w, c.c_nationkey, c.c_mktsegment,
             CAST(round(c.c_acctbal) AS BIGINT) // w.w AS band,
             COUNT(*) AS k
      FROM customer c CROSS JOIN widths w
      GROUP BY w.w, c.c_nationkey, c.c_mktsegment, band
    )
    SELECT CAST(w AS BIGINT) AS band_width,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(MIN(k) AS BIGINT) AS min_k,
           CAST(SUM(CASE WHEN k < 5 THEN 1 ELSE 0 END) AS BIGINT)
             AS classes_under_k5,
           CAST(SUM(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT)
             AS rows_at_risk
    FROM classes
    GROUP BY w
    ORDER BY band_width
    """,
    doc=(
        "The GENERALIZATION LADDER — the search step of k-anonymous "
        "release (Samarati/Sweeney): sweep the sensitive-attribute "
        "band width 500 -> 4000 and report, per generalization level, "
        "how many quasi-identifier classes fall below k=5 and how "
        "many rows they expose. The curve tells the releaser the "
        "coarsest banding that reaches the k target — i.e. how much "
        "utility the privacy budget costs. One scan crossed with the "
        "4-row width table, one partial+final aggregate per level; "
        "completes privacy_{{k_anonymity,l_diversity,t_closeness}} "
        "with the remediation search they feed."
    ),
    tags=("pipeline", "privacy", "customer"),
)
def privacy_generalization_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    widths = c.sparkSession.createDataFrame([(500,), (1000,), (2000,), (4000,)], "w int")
    classes = (
        c.crossJoin(F.broadcast(widths))
        .groupBy(
            "w",
            "c_nationkey",
            "c_mktsegment",
            F.expr("CAST(round(c_acctbal) AS BIGINT) div w").alias("band"),
        )
        .agg(F.count(F.lit(1)).alias("k"))
    )
    return (
        classes.groupBy(F.col("w").cast("long").alias("band_width"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            F.min("k").cast("long").alias("min_k"),
            F.sum((F.col("k") < 5).cast("long")).cast("long").alias(
                "classes_under_k5"
            ),
            F.sum(F.when(F.col("k") < 5, F.col("k")).otherwise(0))
            .cast("long")
            .alias("rows_at_risk"),
        )
        .orderBy("band_width")
    )


_E2E_S = 10**6


@register(
    "pipeline_featurize_infer_eval_e2e",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
      FROM documents
    ),
    feat AS (
      SELECT doc_id, lang, token, COUNT(*) AS c
      FROM toks GROUP BY doc_id, lang, token
    ),
    scored AS (
      SELECT doc_id,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS label,
             SUM(c * (CASE WHEN CAST(concat('0x',
                   substr(md5(concat('w-', token)), 1, 8)) AS BIGINT) % 2 = 0
                 THEN 1 ELSE -1 END)) AS score
      FROM feat GROUP BY doc_id, lang
    ),
    pred AS (
      SELECT label, CASE WHEN score > 0 THEN 1 ELSE 0 END AS p FROM scored
    )
    SELECT
      CAST(SUM(CASE WHEN p = 1 AND label = 1 THEN 1 ELSE 0 END) AS BIGINT)
        AS tp,
      CAST(SUM(CASE WHEN p = 1 AND label = 0 THEN 1 ELSE 0 END) AS BIGINT)
        AS fp,
      CAST(SUM(CASE WHEN p = 0 AND label = 1 THEN 1 ELSE 0 END) AS BIGINT)
        AS fn,
      CAST(SUM(CASE WHEN p = 0 AND label = 0 THEN 1 ELSE 0 END) AS BIGINT)
        AS tn,
      CAST((SUM(CASE WHEN p = label THEN 1 ELSE 0 END) * {_E2E_S})
           // COUNT(*) AS BIGINT) AS accuracy_scaled
    FROM pred
    """,
    doc=(
        "Featurize -> infer -> evaluate as ONE plan, nothing "
        "materialized between stages: per-doc token-count features, "
        "a hashed-sign linear scorer (the feature-hashing trick with "
        "md5-derived +-1 weights — vocabulary-free, so the 'model' "
        "ships as an expression), threshold inference, and the "
        "confusion matrix, fused into two grouped aggregates over "
        "one scan. The shape that matters operationally: batch "
        "inference over 100 TB is exactly this plan with real "
        "weights broadcast in, and Catalyst pipelines it without "
        "ever writing features to storage. Everything integer, "
        "hash-exact."
    ),
    tags=("pipeline", "training-pipeline", "documents", "scale"),
)
def pipeline_featurize_infer_eval_e2e(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.col("text"), " ")).alias("token"),
    )
    feat = toks.groupBy("doc_id", "lang", "token").agg(
        F.count(F.lit(1)).alias("c")
    )
    sign = F.when(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("w-"), F.col("token")).cast("binary")),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 2
        == 0,
        1,
    ).otherwise(-1)
    scored = feat.groupBy("doc_id", "lang").agg(
        F.sum(F.col("c") * sign).alias("score")
    )
    pred = scored.select(
        (F.col("lang") == "en").cast("long").alias("label"),
        (F.col("score") > 0).cast("long").alias("p"),
    )
    return pred.agg(
        F.sum(((F.col("p") == 1) & (F.col("label") == 1)).cast("long"))
        .cast("long")
        .alias("tp"),
        F.sum(((F.col("p") == 1) & (F.col("label") == 0)).cast("long"))
        .cast("long")
        .alias("fp"),
        F.sum(((F.col("p") == 0) & (F.col("label") == 1)).cast("long"))
        .cast("long")
        .alias("fn"),
        F.sum(((F.col("p") == 0) & (F.col("label") == 0)).cast("long"))
        .cast("long")
        .alias("tn"),
        F.expr(
            f"(SUM(CAST(p = label AS BIGINT)) * {_E2E_S}) div COUNT(*)"
        )
        .cast("long")
        .alias("accuracy_scaled"),
    )


@register(
    "lake_vacuum_audit",
    oracle="""
    WITH f AS (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'),
         o AS (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'O'),
         p AS (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'P')
    SELECT 'pre_vacuum' AS phase,
           CAST(3 AS BIGINT) AS n_units_on_disk,
           CAST(2 AS BIGINT) AS n_units_live,
           CAST((SELECT COUNT(*) FROM o) + (SELECT COUNT(*) FROM p)
                AS BIGINT) AS n_rows_latest,
           CAST((SELECT SUM(o_orderkey) FROM o)
                + (SELECT SUM(o_orderkey) FROM p) AS BIGINT) AS key_checksum
    UNION ALL
    SELECT 'post_vacuum', CAST(2 AS BIGINT), CAST(2 AS BIGINT),
           CAST((SELECT COUNT(*) FROM o) + (SELECT COUNT(*) FROM p)
                AS BIGINT),
           CAST((SELECT SUM(o_orderkey) FROM o)
                + (SELECT SUM(o_orderkey) FROM p) AS BIGINT)
    UNION ALL
    SELECT 'vacuumed_units', CAST(1 AS BIGINT), CAST(0 AS BIGINT),
           CAST((SELECT COUNT(*) FROM f) AS BIGINT),
           CAST((SELECT SUM(o_orderkey) FROM f) AS BIGINT)
    ORDER BY phase
    """,
    doc=(
        "VACUUM lifecycle audit — the storage-reclaim step that "
        "completes the lakehouse loop (write -> audit -> publish -> "
        "OPTIMIZE -> vacuum): three status-sliced units land as "
        "commits, one is logically deleted, and vacuum() physically "
        "removes exactly the units invisible to the LATEST snapshot "
        "— no more (live data untouched, checksummed before and "
        "after) and no less (the dropped unit's file really leaves "
        "the filesystem; its row count is pinned from the base "
        "table). Physical file listing goes through the same Hadoop "
        "FileSystem API as retention, so the audit is identical on "
        "file:// and s3a://. Time travel to pre-delete versions "
        "breaks by design after vacuum — the retention contract "
        "every lakehouse documents."
    ),
    tags=("pipeline", "lakehouse", "vacuum", "orders"),
)
def lake_vacuum_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile as _tf

    from dmi_ingestor_spark.ingest.fs import _fs_and_path
    from dmi_ingestor_spark.ingest.txlog import TxLog

    tx = TxLog(spark, _tf.mkdtemp(prefix="dmi-vac-"))
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    for st in ("F", "O", "P"):
        tx.append(
            o.filter(F.col("o_orderstatus") == st).select("o_orderkey"),
            f"status-{st}",
        )
    tx.remove_units(["data/status-F"])

    def disk_units() -> list[str]:
        fs, jdata = _fs_and_path(spark, f"{tx.root}/data")
        if not fs.exists(jdata):
            return []
        return sorted(st.getPath().getName() for st in fs.listStatus(jdata))

    def latest_stats(phase: str, n_disk: int):
        return (
            tx.read()
            .agg(
                F.lit(phase).alias("phase"),
                F.lit(n_disk).cast("long").alias("n_units_on_disk"),
                F.lit(len(tx.snapshot().add_units))
                .cast("long")
                .alias("n_units_live"),
                F.count(F.lit(1)).cast("long").alias("n_rows_latest"),
                F.sum("o_orderkey").cast("long").alias("key_checksum"),
            )
            .select(
                "phase",
                "n_units_on_disk",
                "n_units_live",
                "n_rows_latest",
                "key_checksum",
            )
        )

    pre = latest_stats("pre_vacuum", len(disk_units()))
    pre = pre.localCheckpoint(eager=True)  # pin BEFORE files are deleted
    removed = tx.vacuum()
    post = latest_stats("post_vacuum", len(disk_units()))
    # the vacuumed unit's contents, pinned from the base table: vacuum
    # must have removed exactly the logically-deleted F unit
    vac = (
        o.filter(F.col("o_orderstatus") == "F")
        .agg(
            F.lit("vacuumed_units").alias("phase"),
            F.lit(len(removed)).cast("long").alias("n_units_on_disk"),
            F.lit(0).cast("long").alias("n_units_live"),
            F.count(F.lit(1)).cast("long").alias("n_rows_latest"),
            F.sum("o_orderkey").cast("long").alias("key_checksum"),
        )
        .select(
            "phase",
            "n_units_on_disk",
            "n_units_live",
            "n_rows_latest",
            "key_checksum",
        )
    )
    return pre.unionAll(post).unionAll(vac).orderBy("phase")


@register(
    "lake_merge_full_matrix",
    oracle="""
    WITH target AS (
      SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderpriority AS pri, o_orderstatus AS st
      FROM orders WHERE o_orderkey % 4 IN (0, 1, 2)
    ),
    source AS (
      SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderpriority AS pri
      FROM orders WHERE o_orderkey % 4 IN (1, 2, 3)
    ),
    merged AS (
      -- WHEN MATCHED AND urgent THEN DELETE (absent);
      -- WHEN MATCHED THEN UPDATE cents += 100
      SELECT t.k, t.cents + 100 AS cents
      FROM target t JOIN source s ON t.k = s.k
      WHERE s.pri <> '1-URGENT'
      UNION ALL
      -- WHEN NOT MATCHED THEN INSERT
      SELECT s.k, s.cents
      FROM source s LEFT JOIN target t ON t.k = s.k WHERE t.k IS NULL
      UNION ALL
      -- WHEN NOT MATCHED BY SOURCE AND st = 'F' THEN DELETE (absent);
      -- else keep unchanged
      SELECT t.k, t.cents
      FROM target t LEFT JOIN source s ON t.k = s.k
      WHERE s.k IS NULL AND t.st <> 'F'
    ),
    actions AS (
      SELECT 'updated' AS action, COUNT(*) AS n FROM target t
        JOIN source s ON t.k = s.k WHERE s.pri <> '1-URGENT'
      UNION ALL
      SELECT 'deleted_matched', COUNT(*) FROM target t
        JOIN source s ON t.k = s.k WHERE s.pri = '1-URGENT'
      UNION ALL
      SELECT 'inserted', COUNT(*) FROM source s
        LEFT JOIN target t ON t.k = s.k WHERE t.k IS NULL
      UNION ALL
      SELECT 'deleted_by_source', COUNT(*) FROM target t
        LEFT JOIN source s ON t.k = s.k WHERE s.k IS NULL AND t.st = 'F'
      UNION ALL
      SELECT 'final_table', COUNT(*) FROM merged
    )
    SELECT action, CAST(n AS BIGINT) AS n_rows,
           CAST(CASE WHEN action = 'final_table'
                THEN (SELECT SUM(k) + SUM(cents) FROM merged)
                ELSE 0 END AS BIGINT) AS checksum
    FROM actions
    ORDER BY action
    """,
    doc=(
        "The FULL MERGE clause matrix — WHEN MATCHED [AND cond] "
        "UPDATE / WHEN MATCHED DELETE / WHEN NOT MATCHED INSERT / "
        "WHEN NOT MATCHED BY SOURCE DELETE — executed through the "
        "transaction log as one atomic commit (the Delta/Iceberg "
        "MERGE INTO surface, built from a full-outer join + clause "
        "routing + unit replacement): urgent matches are deleted, "
        "other matches upsert cents+100, source-only keys insert, "
        "target-only F rows are retired by the BY SOURCE clause. "
        "Per-clause row counts and the final table checksum are "
        "pinned from the base table, so a green row proves every "
        "clause routed exactly the right rows. Scale: ONE shuffle on "
        "the merge key for the full-outer join; clause routing is "
        "row-local CASE logic; the commit is metadata-only."
    ),
    tags=("pipeline", "lakehouse", "merge", "orders"),
)
def lake_merge_full_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile as _tf

    from dmi_ingestor_spark.ingest.txlog import TxLog

    o = table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        F.col("o_orderpriority").alias("pri"),
        F.col("o_orderstatus").alias("st"),
    )
    target = o.filter(F.col("k") % 4 < 3).select("k", "cents", "st")
    source = o.filter(F.col("k") % 4 >= 1).select(
        "k", F.col("cents").alias("s_cents"), "pri"
    )
    tx = TxLog(spark, _tf.mkdtemp(prefix="dmi-merge-"))
    tx.append(target, "target-v0")

    t = tx.read().alias("t")
    joined = t.join(source.alias("s"), "k", "full_outer").select(
        "k",
        F.col("t.cents").alias("cents"),
        F.col("t.st").alias("st"),
        F.col("s.s_cents").alias("s_cents"),
        F.col("s.pri").alias("pri"),
        F.col("t.cents").isNotNull().alias("in_t"),
        F.col("s.s_cents").isNotNull().alias("in_s"),
    )
    action = (
        F.when(
            F.col("in_t") & F.col("in_s") & (F.col("pri") == "1-URGENT"),
            F.lit("deleted_matched"),
        )
        .when(F.col("in_t") & F.col("in_s"), F.lit("updated"))
        .when(~F.col("in_t"), F.lit("inserted"))
        .when(F.col("st") == "F", F.lit("deleted_by_source"))
        .otherwise(F.lit("kept"))
    )
    routed = joined.withColumn("action", action).localCheckpoint(eager=True)
    merged = routed.filter(
        F.col("action").isin("updated", "inserted", "kept")
    ).select(
        "k",
        F.when(F.col("action") == "updated", F.col("cents") + 100)
        .when(F.col("action") == "inserted", F.col("s_cents"))
        .otherwise(F.col("cents"))
        .cast("long")
        .alias("cents"),
    )
    unit = tx._write_unit(merged, "target-v1")
    tx.commit(adds=[unit], removes=list(tx.snapshot().add_units), tag="m")

    final = tx.read()
    counts = routed.groupBy("action").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    ).filter(F.col("action") != "kept")
    fin = final.agg(
        F.lit("final_table").alias("action"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    ).select("action", "n_rows")
    base = counts.select("action", "n_rows").unionAll(fin)
    ck = final.agg(
        (F.sum("k") + F.sum("cents")).cast("long").alias("ck")
    )
    return (
        base.crossJoin(F.broadcast(ck))
        .select(
            "action",
            "n_rows",
            F.when(F.col("action") == "final_table", F.col("ck"))
            .otherwise(0)
            .cast("long")
            .alias("checksum"),
        )
        .orderBy("action")
    )


_CARD_S = 10**6


@register(
    "pipeline_dataset_card",
    oracle=f"""
    WITH per_doc AS (
      SELECT source, lang, n_chars, md5(text) AS h
      FROM documents
    ),
    by_source AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             CAST((SUM(n_chars) * {_CARD_S}) // COUNT(*) AS BIGINT)
               AS mean_chars_scaled,
             CAST(quantile_disc(n_chars, 0.5) AS BIGINT) AS p50_chars,
             CAST(quantile_disc(n_chars, 0.95) AS BIGINT) AS p95_chars,
             CAST(COUNT(*) - COUNT(DISTINCT h) AS BIGINT) AS n_exact_dups
      FROM per_doc GROUP BY source
    ),
    langs AS (
      SELECT source,
             string_agg(lang || ':' || cnt, ',' ORDER BY lang) AS lang_dist
      FROM (SELECT source, lang, COUNT(*) AS cnt FROM per_doc
            GROUP BY source, lang)
      GROUP BY source
    )
    SELECT b.source, b.n_docs, b.total_chars, b.mean_chars_scaled,
           b.p50_chars, b.p95_chars, b.n_exact_dups,
           CAST((b.n_exact_dups * {_CARD_S}) // b.n_docs AS BIGINT)
             AS dup_rate_scaled,
           l.lang_dist
    FROM by_source b JOIN langs l USING (source)
    ORDER BY b.source
    """,
    doc=(
        "The DATASET CARD — the per-source datasheet every corpus "
        "release ships (Datasheets for Datasets / Dolma-style "
        "reporting), fused into one pass: document counts, exact "
        "size totals, scaled mean and exact discrete p50/p95 length, "
        "exact-duplicate count via content hash, duplicate rate, and "
        "the language distribution serialized as a deterministic "
        "ordered lang:count string. Everything exact-integer or "
        "exact-string so the card is hash-pinned. Scale: one corpus "
        "scan feeding two grouped aggregates (source-grain and "
        "(source,lang)-grain) plus a distinct-hash count — "
        "partial+final all the way; the card a 100 TB release "
        "regenerates nightly as its data-quality heartbeat."
    ),
    tags=("pipeline", "dataset-card", "reporting", "documents"),
)
def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select(
        "source", "lang", "n_chars", F.md5(F.col("text").cast("binary")).alias("h")
    )
    by_source = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.expr(f"CAST((SUM(n_chars) * {_CARD_S}) div COUNT(*) AS BIGINT)")
        .alias("mean_chars_scaled"),
        F.expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY n_chars)")
        .cast("long")
        .alias("p50_chars"),
        F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY n_chars)")
        .cast("long")
        .alias("p95_chars"),
        (F.count(F.lit(1)) - F.countDistinct("h"))
        .cast("long")
        .alias("n_exact_dups"),
    )
    langs = (
        d.groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("source")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                "lang",
                                F.concat_ws(
                                    ":", "lang", F.col("cnt").cast("string")
                                ).alias("kv"),
                            )
                        )
                    ),
                    lambda x: x["kv"],
                ),
                ",",
            ).alias("lang_dist")
        )
    )
    return (
        by_source.join(langs, "source")
        .select(
            "source", "n_docs", "total_chars", "mean_chars_scaled",
            "p50_chars", "p95_chars", "n_exact_dups",
            F.expr(
                f"CAST((n_exact_dups * {_CARD_S}) div n_docs AS BIGINT)"
            ).alias("dup_rate_scaled"),
            "lang_dist",
        )
        .orderBy("source")
    )

# ---------------------------------------------------------------------------
# Rolling z-score anomaly flags, sqrt-free (exact integer inequality)
# ---------------------------------------------------------------------------


@register(
    "dq_anomaly_rolling_zscore",
    oracle="""
    WITH spine AS (SELECT unnest(generate_series(1, 30)) AS day),
    daily AS (
      SELECT CAST(EXTRACT(DAY FROM ts) AS BIGINT) AS day,
             CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1
    ),
    filled AS (
      SELECT s.day, COALESCE(d.cents, 0) AS cents
      FROM spine s LEFT JOIN daily d ON s.day = d.day
    ),
    rolled AS (
      SELECT day, cents,
             CAST(COUNT(*) OVER w AS BIGINT) AS n,
             CAST(SUM(cents) OVER w AS BIGINT) AS s,
             CAST(SUM(cents * cents) OVER w AS BIGINT) AS ss
      FROM filled
      WINDOW w AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
    )
    SELECT day, cents,
           CAST(n * cents - s AS BIGINT) AS dev_n,
           CAST(n * ss - s * s AS BIGINT) AS var_n2,
           CAST(n * cents - s AS DECIMAL(38,0))
             * CAST(n * cents - s AS DECIMAL(38,0))
             > 9 * CAST(n * ss - s * s AS DECIMAL(38,0)) AS is_anomaly
    FROM rolled
    WHERE n = 7
    ORDER BY day
    """,
    doc=(
        "Rolling z-score anomaly flags over the daily event-revenue "
        "series, SQRT-FREE: |x - mean| > 3*sigma over the trailing "
        "7-day window is tested as the exact integer inequality "
        "(n*x - s)^2 > 9*(n*ss - s^2) — multiply both sides by n^2 "
        "and square, so no float, no libm, and the flags are "
        "hash-exact (the squared comparison widens to DECIMAL(38,0) "
        "internally; outputs stay BIGINT/BOOL). This is the standard "
        "production trick for drift monitors where float sigma "
        "thresholds flap across engines. Scale: one corpus "
        "groupBy(day); the window runs on the O(days) summary "
        "(per-metric monitors at 100 TB nest it under "
        "partitionBy(metric))."
    ),
    tags=("dq", "events", "anomaly", "timeseries"),
)
def dq_anomaly_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    daily = e.groupBy(F.dayofmonth("ts").cast("long").alias("day")).agg(
        F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("cents")
    )
    spine = spark.range(1, 31).select(F.col("id").alias("day"))
    filled = spine.join(daily, "day", "left").fillna(0, ["cents"])
    w = Window.orderBy("day").rowsBetween(-7, -1)
    rolled = filled.select(
        "day",
        "cents",
        F.count(F.lit(1)).over(w).cast("long").alias("n"),
        F.sum("cents").over(w).cast("long").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).over(w).cast("long").alias("ss"),
    )
    dev_n = (F.col("n") * F.col("cents") - F.col("s")).cast("long")
    var_n2 = (F.col("n") * F.col("ss") - F.col("s") * F.col("s")).cast("long")
    dec = "decimal(38,0)"
    return (
        rolled.where(F.col("n") == 7)
        .select(
            "day",
            "cents",
            dev_n.alias("dev_n"),
            var_n2.alias("var_n2"),
            (
                dev_n.cast(dec) * dev_n.cast(dec)
                > F.lit(9).cast(dec) * var_n2.cast(dec)
            ).alias("is_anomaly"),
        )
        .orderBy("day")
    )

# ---------------------------------------------------------------------------
# Delta + zigzag + varint encoding audit (timestamp-column storage planning)
# ---------------------------------------------------------------------------

_VARINT_CASE = """CASE
             WHEN z < 128 THEN 1
             WHEN z < 16384 THEN 2
             WHEN z < 2097152 THEN 3
             WHEN z < 268435456 THEN 4
             WHEN z < 34359738368 THEN 5
             WHEN z < 4398046511104 THEN 6
             WHEN z < 562949953421312 THEN 7
             WHEN z < 72057594037927936 THEN 8
             ELSE 9 END"""


@register(
    "transform_delta_varint_audit",
    oracle=f"""
    WITH d AS (
      SELECT event_type,
             epoch_us(ts)
               - LAG(epoch_us(ts)) OVER
                 (PARTITION BY event_type ORDER BY ts, event_id) AS dt
      FROM events
    ),
    z AS (
      SELECT event_type,
             CASE WHEN dt IS NULL THEN NULL
                  WHEN dt >= 0 THEN 2 * dt
                  ELSE -2 * dt - 1 END AS z
      FROM d
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(8 * COUNT(*) AS BIGINT) AS raw_bytes,
           CAST(8 + SUM(CASE WHEN z IS NULL THEN 0
                        ELSE {_VARINT_CASE} END) AS BIGINT) AS encoded_bytes,
           CAST((8 + SUM(CASE WHEN z IS NULL THEN 0
                         ELSE {_VARINT_CASE} END)) * 1000
                // (8 * COUNT(*)) AS BIGINT) AS ratio_permille
    FROM z
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc=(
        "Storage-layout audit for the timestamp column: per event "
        "type, sort by (ts, event_id), DELTA-encode epoch-microsecond "
        "values, ZIGZAG-map the deltas, and price each as a protobuf-"
        "style VARINT (7 bits per byte) — emitting raw vs encoded "
        "bytes and the permille compression ratio. This is the "
        "estimator a 100 TB ingest runs BEFORE choosing an encoding: "
        "sorted-by-time event streams delta-compress ~5-8x, and the "
        "audit is one partitioned window (lag) plus one aggregate — "
        "no UDF, no second scan, byte math as exact integer CASE "
        "ladders on both engines. The same shape prices "
        "dictionary/RLE candidates (see udtf_rle_tokens for the RLE "
        "twin on token streams)."
    ),
    tags=("transform", "storage", "events"),
)
def transform_delta_varint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    micros = F.unix_micros(F.col("ts").cast("timestamp"))
    d = e.select(
        "event_type", (micros - F.lag(micros).over(w)).alias("dt")
    )
    z = d.select(
        "event_type",
        F.when(F.col("dt").isNull(), None)
        .when(F.col("dt") >= 0, 2 * F.col("dt"))
        .otherwise(-2 * F.col("dt") - 1)
        .alias("z"),
    )
    vb = F.expr(
        f"CASE WHEN z IS NULL THEN 0 ELSE {_VARINT_CASE} END"
    )
    return (
        z.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            (8 * F.count(F.lit(1))).cast("long").alias("raw_bytes"),
            (8 + F.sum(vb)).cast("long").alias("encoded_bytes"),
        )
        .select(
            "event_type",
            "n_rows",
            "raw_bytes",
            "encoded_bytes",
            F.expr("encoded_bytes * 1000 div raw_bytes").alias(
                "ratio_permille"
            ),
        )
        .orderBy("event_type")
    )

# ---------------------------------------------------------------------------
# Partition-layout evolution: coarse -> fine units under one log, one read
# ---------------------------------------------------------------------------


@register(
    "lake_partition_evolution_read",
    oracle="""
    SELECT CAST(day(ts) AS BIGINT) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
             AS cents_checksum
    FROM events
    WHERE day(ts) BETWEEN 12 AND 17
    GROUP BY 1
    ORDER BY day
    """,
    doc=(
        "Partition-layout EVOLUTION under one transaction log: the "
        "events table is first committed as WEEK-grain units "
        "(days 1-7, 8-14, ...), then the hot tail (days 15-30) is "
        "atomically re-laid-out as DAY-grain units — remove-units + "
        "day appends, old snapshots untouched — so one table carries "
        "two partition layouts at once, the thing static Hive-style "
        "partitioning cannot do. A day-range read (12..17) spanning "
        "the layout boundary stats-prunes to exactly week-2 + "
        "day-15..17 units (the builder asserts no other file is "
        "opened, and that the pre-evolution snapshot still reads the "
        "original week units) before returning per-day audited "
        "counts. At 100 TB this is how ingest tightens partition "
        "grain as traffic grows without rewriting history: layout "
        "lives in the LOG, readers prune by unit stats, and "
        "evolution is O(re-laid-out data), not O(table)."
    ),
    tags=("pipeline", "lakehouse", "partitioning", "events"),
)
def lake_partition_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile as _tf

    from dmi_ingestor_spark.ingest.txlog import (
        TxLog,
        append_partitioned_with_stats,
        append_with_stats,
        read_pruned,
    )

    tx = TxLog(spark, _tf.mkdtemp(prefix="dmi-evolve-"))
    # every unit write below filters this projection — cache it so the
    # parquet scan + cents arithmetic run once, not per unit
    e = table(spark, sf_dir, "events").select(
        F.dayofmonth("ts").cast("long").alias("day"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    ).cache()
    # epoch 1: week-grain layout
    for wk in range(5):
        lo, hi = 7 * wk + 1, min(7 * wk + 7, 30)
        append_with_stats(
            tx, e.where(F.col("day").between(lo, hi)), f"w{wk + 1}", "day"
        )
    v_coarse = tx.latest_version()
    # epoch 2: evolve the tail (days 15-30) to day-grain units — ONE
    # partitioned write + ONE multi-unit atomic commit with per-day
    # stats (r5: replaces 16 sequential append_with_stats commits,
    # 32 Spark jobs -> 2; the real-lakehouse multi-add-file shape)
    tx.remove_units(["data/w3", "data/w4", "data/w5"])
    append_partitioned_with_stats(
        tx, e.where(F.col("day").between(15, 30)), "day", "d"
    )
    # pre-evolution snapshot still reads the ORIGINAL week layout
    assert {f.split("/data/")[1].split("/")[0]
            for f in tx.read(v_coarse).inputFiles()} == {
        "w1", "w2", "w3", "w4", "w5"
    }
    pruned = read_pruned(tx, 12, 17)
    touched = {f.split("/data/")[1].split("/")[0] for f in pruned.inputFiles()}
    assert touched == {"w2", "d15", "d16", "d17"}, touched
    return (
        pruned.where(F.col("day").between(12, 17))
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("cents").cast("long").alias("cents_checksum"),
        )
        .orderBy("day")
    )

# ---------------------------------------------------------------------------
# Neyman-allocation stratified sampling design (exact largest-remainder)
# ---------------------------------------------------------------------------

_NEYMAN_TOTAL = 10_000  # samples to allocate across strata


@register(
    "sample_neyman_allocation",
    oracle=f"""
    WITH g AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_h,
             CAST(SUM(CAST(round(value * 100) AS HUGEINT)) AS HUGEINT) AS s1,
             CAST(SUM(CAST(round(value * 100) AS HUGEINT)
                      * CAST(round(value * 100) AS HUGEINT)) AS HUGEINT) AS s2
      FROM events GROUP BY event_type
    ),
    w AS (
      SELECT event_type, n_h,
             CAST(FLOOR(SQRT(
               CAST(FLOOR((CAST(n_h AS HUGEINT) * s2 - s1 * s1)
                          / 1000000) AS DOUBLE)
             )) AS BIGINT) AS w_h
      FROM g
    ),
    tot AS (SELECT CAST(SUM(w_h) AS BIGINT) AS big_w FROM w),
    base AS (
      SELECT w.event_type, w.n_h, w.w_h,
             CAST({_NEYMAN_TOTAL} * w.w_h // tot.big_w AS BIGINT) AS base_n,
             CAST({_NEYMAN_TOTAL} * w.w_h % tot.big_w AS BIGINT) AS rem
      FROM w CROSS JOIN tot
    ),
    ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (ORDER BY rem DESC, event_type) AS rk,
             CAST({_NEYMAN_TOTAL} AS BIGINT)
               - SUM(base_n) OVER () AS leftover
      FROM base
    )
    SELECT event_type, n_h, w_h, base_n,
           CAST(base_n + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS alloc_n
    FROM ranked
    ORDER BY event_type
    """,
    doc=(
        "Neyman-optimal stratified sample allocation (Neyman 1934): "
        f"distribute {_NEYMAN_TOTAL} samples across the event-type "
        "strata proportionally to N_h*sigma_h — with strata sampled "
        "from themselves, N_h*sigma_h = sqrt(n_h*S2 - S1^2), computed "
        "from exact decimal-128 power sums (pre-scaled by 1e6 = cents"
        "-squared to keep the value inside double's exact-integer "
        "range before the IEEE-correctly-rounded sqrt; floor makes it "
        "an integer weight). Fractional seats resolve by the LARGEST-"
        "REMAINDER method in pure integer arithmetic (rank "
        "TOTAL*w % W descending, ties by stratum name), so the "
        "allocations sum to exactly the budget on both engines — no "
        "float apportionment drift. This is the sampling-design pass "
        "a 100 TB eval pipeline runs before drawing: one sufficient-"
        "statistics aggregate over the corpus, then all apportionment "
        "math on the k-row stratum summary."
    ),
    tags=("pipeline", "sampling", "statistics", "events"),
)
def sample_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    d38 = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    v = F.round(F.col("value") * 100).cast("long")
    g = e.select(F.col("event_type"), v.alias("v")).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_h"),
        F.sum(d38(F.col("v"))).cast("decimal(38,0)").alias("s1"),
        F.sum(d38(F.col("v")) * F.col("v")).cast("decimal(38,0)").alias("s2"),
    )
    # var numerator scaled down by 1e6 BEFORE the double conversion so
    # the sqrt argument stays exactly representable (< 2^53) far past
    # sf100; floor() of the scaled decimal is exact integer arithmetic.
    w = g.select(
        "event_type",
        "n_h",
        F.floor(
            F.sqrt(
                F.floor(
                    (d38(F.col("n_h")) * F.col("s2") - F.col("s1") * F.col("s1"))
                    / F.lit(1_000_000)
                ).cast("double")
            )
        )
        .cast("long")
        .alias("w_h"),
    )
    tot = w.agg(F.sum("w_h").cast("long").alias("big_w"))
    base = w.crossJoin(F.broadcast(tot)).select(
        "event_type",
        "n_h",
        "w_h",
        F.expr(f"{_NEYMAN_TOTAL} * w_h div big_w").alias("base_n"),
        (F.lit(_NEYMAN_TOTAL) * F.col("w_h") % F.col("big_w")).alias("rem"),
    )
    wr = Window.orderBy(F.col("rem").desc(), "event_type")
    ranked = base.select(
        "event_type",
        "n_h",
        "w_h",
        "base_n",
        F.row_number().over(wr).alias("rk"),
        (F.lit(_NEYMAN_TOTAL) - F.sum("base_n").over(
            Window.partitionBy()
        )).alias("leftover"),
    )
    return ranked.select(
        "event_type",
        "n_h",
        "w_h",
        "base_n",
        (
            F.col("base_n")
            + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
        )
        .cast("long")
        .alias("alloc_n"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# DP-prep contribution bounding (per-user caps + clipped-mass audit)
# --------------------------------------------------------------------------

_CB_C = 20  # max contributions per (user, partition)
_CB_V = 1500  # per-event value clamp, cents


@register(
    "privacy_contribution_bounding",
    oracle=f"""
    WITH ranked AS (
      SELECT event_type, user_id,
             LEAST(CAST(ROUND(value * 100) AS BIGINT), {_CB_V}) AS v_cents,
             ROW_NUMBER() OVER (
               PARTITION BY user_id, event_type ORDER BY event_id
             ) AS rk
      FROM events
    ),
    per_user AS (
      SELECT event_type, user_id,
             COUNT(*) AS n_raw,
             SUM(v_cents) AS raw_cents,
             SUM(CASE WHEN rk <= {_CB_C} THEN 1 ELSE 0 END) AS n_kept,
             SUM(CASE WHEN rk <= {_CB_C} THEN v_cents ELSE 0 END) AS kept_cents
      FROM ranked GROUP BY event_type, user_id
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(n_raw) AS BIGINT) AS raw_events,
           CAST(SUM(n_kept) AS BIGINT) AS bounded_events,
           CAST(SUM(n_raw - n_kept) AS BIGINT) AS clipped_events,
           CAST(SUM(raw_cents) AS BIGINT) AS raw_value_cents,
           CAST(SUM(kept_cents) AS BIGINT) AS bounded_value_cents,
           CAST(SUM(CASE WHEN n_raw > {_CB_C} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_users_clipped,
           CAST({_CB_C} * {_CB_V} AS BIGINT) AS l1_sensitivity_cents
    FROM per_user
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc=(
        "Differential-privacy aggregation prep — the contribution-"
        "bounding pass every DP release pipeline (PipelineDP / "
        "google-dp style) runs BEFORE adding noise: each event value "
        f"is clamped to {_CB_V} cents, each user keeps at most "
        f"{_CB_C} deterministically-chosen contributions per "
        "(user, event_type) partition (smallest event_id — the "
        "order-stable equivalent of contribution sampling), and the "
        "release's L1 sensitivity becomes the CERTIFIED constant "
        "C x V instead of unbounded. Output per partition audits "
        "exactly what bounding cost: raw vs bounded event and value "
        "mass, and how many users were clipped — the utility-loss "
        "report a privacy review reads. 100 TB shape: one fact-scale "
        "window PARTITIONED by (user, type) (parallel, never a "
        "global funnel) feeding two partial+final aggregates; noise "
        "addition itself is out of scope (nondeterministic by "
        "definition), the sensitivity certificate is the point."
    ),
    tags=("pipeline", "privacy", "events"),
)
def privacy_contribution_bounding(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = table(spark, sf_dir, "events")
    v_cents = F.least(
        F.round(F.col("value") * 100).cast("long"), F.lit(_CB_V)
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("event_id")
    ranked = e.select(
        "event_type",
        "user_id",
        v_cents.alias("v_cents"),
        F.row_number().over(w).alias("rk"),
    )
    kept = F.col("rk") <= _CB_C
    per_user = ranked.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.sum("v_cents").alias("raw_cents"),
        F.sum(kept.cast("long")).alias("n_kept"),
        F.sum(F.when(kept, F.col("v_cents")).otherwise(0)).alias("kept_cents"),
    )
    return (
        per_user.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.sum("n_raw").cast("long").alias("raw_events"),
            F.sum("n_kept").cast("long").alias("bounded_events"),
            F.sum(F.col("n_raw") - F.col("n_kept"))
            .cast("long")
            .alias("clipped_events"),
            F.sum("raw_cents").cast("long").alias("raw_value_cents"),
            F.sum("kept_cents").cast("long").alias("bounded_value_cents"),
            F.sum((F.col("n_raw") > _CB_C).cast("long"))
            .cast("long")
            .alias("n_users_clipped"),
        )
        .withColumn(
            "l1_sensitivity_cents", F.lit(_CB_C * _CB_V).cast("long")
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Shallow clone (zero-copy CLONE + independent divergence)
# --------------------------------------------------------------------------


@register(
    "lake_clone_shallow",
    oracle="""
    WITH s AS (
      SELECT o_orderstatus AS st, COUNT(*) AS n, SUM(o_orderkey) AS ck
      FROM orders GROUP BY st
    ),
    of AS (SELECT SUM(n) AS n, SUM(ck) AS ck FROM s WHERE st IN ('O', 'F')),
    allst AS (SELECT SUM(n) AS n, SUM(ck) AS ck FROM s),
    oonly AS (SELECT SUM(n) AS n, SUM(ck) AS ck FROM s WHERE st = 'O')
    SELECT * FROM (
      SELECT 'at_clone' AS stage, 'clone' AS side,
             CAST(of.n AS BIGINT) AS n_rows, CAST(of.ck AS BIGINT)
               AS key_checksum FROM of
      UNION ALL
      SELECT 'at_clone', 'source', CAST(of.n AS BIGINT),
             CAST(of.ck AS BIGINT) FROM of
      UNION ALL
      SELECT 'final', 'clone', CAST(oonly.n AS BIGINT),
             CAST(oonly.ck AS BIGINT) FROM oonly
      UNION ALL
      SELECT 'final', 'source', CAST(allst.n AS BIGINT),
             CAST(allst.ck AS BIGINT) FROM allst
    )
    ORDER BY stage, side
    """,
    doc=(
        "Zero-copy shallow CLONE (Delta's CLONE / Iceberg snapshot "
        "ref): the clone's single metadata commit references the "
        "source's live units as external absolute paths — no data "
        "byte moves, clone cost is O(metadata) regardless of table "
        "size (the 100 TB point: cloning a petabyte table for a "
        "dev/test branch is one JSON write). The two logs then "
        "diverge independently — source appends the 'P' unit, clone "
        "logically removes 'F' — and the clone's vacuum provably "
        "cannot touch source files (it only scans its own data/ "
        "listing; txlog.py:_unit_path). Output pins both sides at "
        "clone time (identical) and after divergence (different), "
        "via count + key checksum, with the at-clone state read "
        "through the clone's TIME TRAVEL after it diverged."
    ),
    tags=("pipeline", "lakehouse", "clone", "orders"),
)
def lake_clone_shallow(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile as _tf

    from dmi_ingestor_spark.ingest.txlog import TxLog, clone_shallow

    base = _tf.mkdtemp(prefix="dmi-clone-")
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    src = TxLog(spark, f"{base}/src")
    src.append(o.where(F.col("o_orderstatus") == "O"), "o")
    src.append(o.where(F.col("o_orderstatus") == "F"), "f")

    clone = clone_shallow(src, f"{base}/clone")
    v_at_clone = clone.latest_version()
    v_src_at_clone = src.latest_version()

    # divergence
    src.append(o.where(F.col("o_orderstatus") == "P"), "p")
    clone.remove_units([src._unit_path("data/f")])

    def _audit(df: DataFrame, stage: str, side: str) -> DataFrame:
        return df.agg(
            F.lit(stage).alias("stage"),
            F.lit(side).alias("side"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("key_checksum"),
        ).select("stage", "side", "n_rows", "key_checksum")

    parts = [
        _audit(clone.read(version=v_at_clone), "at_clone", "clone"),
        _audit(src.read(version=v_src_at_clone), "at_clone", "source"),
        _audit(clone.read(), "final", "clone"),
        _audit(src.read(), "final", "source"),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out.orderBy("stage", "side")


# --------------------------------------------------------------------------
# Incremental maintenance of a JOIN view (delta-join algebra)
# --------------------------------------------------------------------------


@register(
    "lake_ivm_join_view",
    oracle="""
    WITH a_new AS (
      SELECT o_orderkey, o_custkey FROM orders
      WHERE o_orderkey % 7 = 0
         OR (o_orderkey % 7 <> 0 AND o_orderkey % 11 <> 0)
    ),
    b_new AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 13 = 0
                  THEN (c_nationkey + 1) % 25 ELSE c_nationkey END
               AS c_nationkey
      FROM customer
    )
    SELECT b.c_nationkey AS nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(a.o_orderkey) AS BIGINT) AS key_checksum
    FROM a_new a JOIN b_new b ON a.o_custkey = b.c_custkey
    GROUP BY b.c_nationkey
    ORDER BY nationkey
    """,
    doc=(
        "Incremental maintenance of a JOIN view — the delta-join "
        "algebra (Blakeley/Larson/Tompa; what every streaming "
        "materialized-view engine implements): for V = gamma(A join "
        "B), the update is dV = dA join B_old + A_new join dB with "
        "SIGNED multiplicities (delete = -1, update = its -/+ pair), "
        "merged into the stored O(groups) view state; groups whose "
        "maintained count hits zero are dropped. Here A (orders) "
        "takes inserts and deletes, B (customer) takes nation "
        "reassignments (a -/+ pair through the join), and the "
        "maintained view is returned — the oracle recomputes from "
        "the final base states, so hash-green proves maintained == "
        "recomputed through BOTH delta paths. 100 TB shape: dA join "
        "B is delta-sized with the dim broadcast; A_new join dB "
        "prunes A to the changed keys by a broadcast semi-probe "
        "before joining; the base tables are never re-aggregated."
    ),
    tags=("pipeline", "lakehouse", "ivm", "orders"),
)
def lake_ivm_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")

    is_ins_a = F.col("o_orderkey") % 7 == 0
    is_del_a = (F.col("o_orderkey") % 7 != 0) & (F.col("o_orderkey") % 11 == 0)
    a_old = o.filter(~is_ins_a)
    a_new = o.filter(is_ins_a | ~is_del_a)
    da = (
        o.filter(is_ins_a)
        .withColumn("sign", F.lit(1))
        .unionAll(o.filter(is_del_a).withColumn("sign", F.lit(-1)))
    )

    moved = F.col("c_custkey") % 13 == 0
    b_old = c
    b_new = c.select(
        "c_custkey",
        F.when(moved, (F.col("c_nationkey") + 1) % 25)
        .otherwise(F.col("c_nationkey"))
        .alias("c_nationkey"),
    )
    db = (
        c.filter(moved)
        .select("c_custkey", "c_nationkey")
        .withColumn("sign_b", F.lit(-1))
        .unionAll(
            c.filter(moved)
            .select("c_custkey", ((F.col("c_nationkey") + 1) % 25).alias("c_nationkey"))
            .withColumn("sign_b", F.lit(1))
        )
    )

    def _view(a: DataFrame, b: DataFrame) -> DataFrame:
        return (
            a.join(F.broadcast(b), a.o_custkey == b.c_custkey)
            .groupBy(F.col("c_nationkey").alias("nationkey"))
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.sum("o_orderkey").cast("long").alias("key_checksum"),
            )
        )

    v_old = _view(a_old, b_old)

    # dV term 1: dA join B_old (delta-sized; dim broadcast)
    t1 = (
        da.join(F.broadcast(b_old), da.o_custkey == b_old.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.sum("sign").alias("dn"),
            F.sum(F.col("sign") * F.col("o_orderkey")).alias("dsum"),
        )
    )
    # dV term 2: A_new join dB — A pruned to changed keys by a
    # broadcast semi-probe first, so the fact side moves O(affected)
    a_touch = a_new.join(
        F.broadcast(db.select("c_custkey").distinct()),
        a_new.o_custkey == F.col("c_custkey"),
        "left_semi",
    )
    t2 = (
        a_touch.join(F.broadcast(db), a_touch.o_custkey == db.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.sum("sign_b").alias("dn"),
            F.sum(F.col("sign_b") * F.col("o_orderkey")).alias("dsum"),
        )
    )
    dv = (
        t1.unionAll(t2)
        .groupBy("nationkey")
        .agg(F.sum("dn").alias("dn"), F.sum("dsum").alias("dsum"))
    )
    maintained = (
        v_old.join(dv, "nationkey", "full_outer")
        .select(
            "nationkey",
            (F.coalesce("n_rows", F.lit(0)) + F.coalesce("dn", F.lit(0)))
            .cast("long")
            .alias("n_rows"),
            (
                F.coalesce("key_checksum", F.lit(0))
                + F.coalesce("dsum", F.lit(0))
            )
            .cast("long")
            .alias("key_checksum"),
        )
        .filter(F.col("n_rows") > 0)
    )
    return maintained.orderBy("nationkey")


@register(
    "lake_column_mapping_rename",
    oracle=f"""
    SELECT o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {sql_sum_exact('o_totalprice', 'sum_value')}
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY priority
    """,
    doc=(
        "Column-mapping rename (Delta Lake's metadata-only RENAME "
        "COLUMN, re-built on the repo txlog): half the orders are "
        "committed, the money column is renamed o_totalprice -> "
        "order_value WITHOUT touching a data file (the commit records "
        "only a logical->physical mapping), and the other half is then "
        "appended USING THE NEW LOGICAL NAME (the writer translates it "
        "back to the physical name the files share). The builder "
        "asserts the rename was metadata-only (unchanged unit set), "
        "that time travel to v0 still shows the old name, and that the "
        "post-rename unit's parquet footer carries the PHYSICAL name — "
        "then aggregates the logical read. A green row proves both "
        "halves resolve into one consistent logical schema. At 100 TB "
        "this is the difference between an O(1) metadata commit and "
        "rewriting every file to rename a column."
    ),
    tags=("pipeline", "lakehouse", "column-mapping", "orders"),
)
def lake_column_mapping_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile as _tf

    from dmi_ingestor_spark.functions.exact import sum_exact
    from dmi_ingestor_spark.ingest.txlog import TxLog

    tx = TxLog(spark, _tf.mkdtemp(prefix="dmi-colmap-"))
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    tx.append(o.where(F.col("o_orderkey") % 2 == 0), "even")
    v_rename = tx.rename_column("o_totalprice", "order_value")
    tx.append(
        o.where(F.col("o_orderkey") % 2 == 1).withColumnRenamed(
            "o_totalprice", "order_value"
        ),
        "odd",
    )
    # metadata-only + time-travel + physical-schema invariants
    assert "o_totalprice" in tx.read(version=v_rename - 1).columns
    assert "order_value" in tx.read().columns
    raw_odd = spark.read.parquet(f"{tx.root}/data/odd")
    assert "o_totalprice" in raw_odd.columns
    return (
        tx.read()
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            sum_exact("order_value", "sum_value"),
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# Coreset construction: sensitivity-proportional deterministic sampling
# ---------------------------------------------------------------------------

_CS_DIM = 8
_CS_Q = 10_000          # embedding quantization grid
_CS_M = 64              # target coreset size
_CS_H = 4_294_967_296   # 2^32 — md5-hash range
_CS_W = 10_000          # weight output scale
_CS_PPB = 10**9         # sensitivity output scale

_CS_QS_SQL = ", ".join(
    f"CAST(FLOOR(CAST(embedding[{i + 1}] AS DOUBLE) * {_CS_Q}) AS BIGINT) AS q{i}"
    for i in range(_CS_DIM)
)
_CS_SUMS_SQL = ", ".join(f"SUM(q{i}) AS s{i}" for i in range(_CS_DIM))
_CS_DD_SQL = " + ".join(
    f"(CAST(n * q{i} - s{i} AS HUGEINT) * CAST(n * q{i} - s{i} AS HUGEINT))"
    for i in range(_CS_DIM)
)


@register(
    "sample_coreset_sensitivity",
    oracle=f"""
    WITH q AS (SELECT vec_id, {_CS_QS_SQL} FROM embeddings),
    s AS (SELECT COUNT(*) AS n, {_CS_SUMS_SQL} FROM q),
    d AS (
      SELECT vec_id, n, ({_CS_DD_SQL}) AS dd
      FROM q CROSS JOIN s
    ),
    t AS (SELECT SUM(dd) AS tt FROM d),
    scored AS (
      SELECT vec_id, n, dd, tt,
             CAST(concat('0x', substr(md5(concat('coreset-', vec_id)), 1, 8))
                  AS BIGINT) AS h32
      FROM d CROSS JOIN t
    )
    SELECT vec_id,
           CAST(({_CS_PPB} * (tt + n * dd)) // (2 * n * tt) AS BIGINT)
             AS sens_ppb,
           CAST(({_CS_W} * 2 * n * tt) // ({_CS_M} * (tt + n * dd))
                AS BIGINT) AS weight_scaled
    FROM scored
    WHERE h32 < ({_CS_H} * {_CS_M} * (tt + n * dd)) // (2 * n * tt)
    ORDER BY vec_id
    """,
    doc=(
        "Lightweight-coreset construction (Bachem/Lucic/Krause '18): "
        "per-point k-means sensitivity bound q(x) = 1/(2n) + "
        "d(x,mean)^2 / (2*sum d^2), kept EXACT by clearing every "
        "denominator — the quantized grid makes d(x,mean)^2 the "
        "integer sum((n*x_i - S_i)^2)/n^2, so inclusion tests and "
        "weights are pure 128-bit integer compares. 'Sampling' is the "
        "keyed-md5 uniform u(x) < m*q(x) (Poisson importance sampling "
        "with inclusion prob proportional to sensitivity), so the "
        "coreset is a property of the DATA — re-runs, retries and "
        "repartitions reproduce it bit-identically. Selected points "
        "carry the 1/(m q) inverse-probability weight that makes "
        "weighted k-means cost on the coreset an unbiased estimate of "
        "the full cost. Plan: two scans + two 1-row broadcast "
        "aggregates — no shuffle of the corpus, which is what lets a "
        "100 TB embedding table shrink to an m-point coreset in one "
        "pass chain."
    ),
    tags=("pipeline", "sampling", "coreset", "embeddings"),
)
def sample_coreset_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    q = e.select(
        "vec_id",
        *[
            F.floor(F.col("embedding")[i].cast("double") * _CS_Q)
            .cast("long")
            .alias(f"q{i}")
            for i in range(_CS_DIM)
        ],
    )
    s = q.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(f"q{i}").alias(f"s{i}") for i in range(_CS_DIM)],
    )
    dd = " + ".join(
        f"(CAST(n * q{i} - s{i} AS DECIMAL(38,0))"
        f" * CAST(n * q{i} - s{i} AS DECIMAL(38,0)))"
        for i in range(_CS_DIM)
    )
    d = q.crossJoin(F.broadcast(s)).select(
        "vec_id", "n", F.expr(f"({dd})").alias("dd")
    )
    t = d.agg(F.sum("dd").alias("tt"))
    h32 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("coreset-"), F.col("vec_id"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    scored = d.crossJoin(F.broadcast(t)).withColumn("h32", h32)
    return (
        scored.filter(
            F.col("h32")
            < F.expr(
                f"(CAST({_CS_H} AS DECIMAL(38,0)) * {_CS_M} * (tt + n * dd))"
                f" div (2 * n * tt)"
            )
        )
        .select(
            "vec_id",
            F.expr(
                f"CAST((CAST({_CS_PPB} AS DECIMAL(38,0)) * (tt + n * dd))"
                f" div (2 * n * tt) AS BIGINT)"
            ).alias("sens_ppb"),
            F.expr(
                f"CAST((CAST({_CS_W} AS DECIMAL(38,0)) * 2 * n * tt)"
                f" div ({_CS_M} * (tt + n * dd)) AS BIGINT)"
            ).alias("weight_scaled"),
        )
        .orderBy("vec_id")
    )


@register(
    "lake_check_constraint_gate",
    oracle="""
    WITH committed AS (
      SELECT o_orderkey FROM orders WHERE o_orderstatus IN ('F', 'O')
    ),
    rejected AS (
      SELECT o_orderkey FROM orders WHERE o_orderstatus = 'P'
    )
    SELECT CAST((SELECT COUNT(*) FROM committed) AS BIGINT) AS n_rows,
           CAST((SELECT SUM(o_orderkey) FROM committed) AS BIGINT)
             AS key_checksum,
           CAST((SELECT COUNT(*) FROM rejected) AS BIGINT) AS n_rejected,
           CAST((SELECT COUNT(*) FROM rejected WHERE o_orderkey % 3 = 0)
                AS BIGINT) AS n_violations
    """,
    doc=(
        "CHECK-constraint enforcement on the transaction log (Delta's "
        "ADD CONSTRAINT ... CHECK): the table takes a base append, "
        "gains two constraints (non-negative price, priority NOT "
        "NULL), accepts a conforming batch, and ATOMICALLY rejects a "
        "batch where every 3rd row carries a negated price — no file "
        "written, no version published, later snapshots identical to "
        "pre-attempt (builder-asserted). The committed stats and the "
        "rejected batch's violation count are both derivable from the "
        "base table, so a green row proves the gate admits exactly "
        "the conforming rows. Validation is one distributed "
        "filter-count BEFORE any write — at 100 TB the failed batch "
        "costs a scan, never a cleanup."
    ),
    tags=("pipeline", "lakehouse", "constraints", "orders"),
)
def lake_check_constraint_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile as _tf

    from dmi_ingestor_spark.ingest.txlog import ConstraintViolation, TxLog

    tx = TxLog(spark, _tf.mkdtemp(prefix="dmi-check-"))
    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
    )
    tx.append(o.where(F.col("o_orderstatus") == "F"), "f-batch")
    tx.add_constraint("nonneg_price", "o_totalprice >= 0")
    tx.add_constraint("priority_known", "o_orderpriority IS NOT NULL")
    tx.append(o.where(F.col("o_orderstatus") == "O"), "o-batch")

    bad = o.where(F.col("o_orderstatus") == "P").withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 3 == 0, -F.col("o_totalprice")
        ).otherwise(F.col("o_totalprice")),
    )
    v_before = tx.latest_version()
    n_violations = 0
    try:
        tx.append(bad, "p-batch")
    except ConstraintViolation as exc:
        n_violations = int(str(exc).rsplit(":", 1)[1].split()[0])
    assert tx.latest_version() == v_before  # atomic rejection

    return (
        tx.read()
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("key_checksum"),
        )
        .crossJoin(
            F.broadcast(
                bad.agg(F.count(F.lit(1)).cast("long").alias("n_rejected"))
            )
        )
        .select(
            "n_rows",
            "key_checksum",
            "n_rejected",
            F.lit(n_violations).cast("long").alias("n_violations"),
        )
    )


# ---------------------------------------------------------------------------
# Rendezvous (HRW) consistent hashing: resharding movement audit
# ---------------------------------------------------------------------------

_HRW_OLD = 8
_HRW_NEW = 10


@register(
    "pipeline_rendezvous_reshard_audit",
    oracle=f"""
    WITH cand AS (
      SELECT d.doc_id, s.s,
             CAST(concat('0x', substr(md5(concat('hrw-', d.doc_id, '-', s.s)),
                  1, 8)) AS BIGINT) AS h
      FROM documents d CROSS JOIN
        (SELECT unnest(generate_series(0, {_HRW_NEW - 1})) AS s) s
    ),
    new_pick AS (
      SELECT doc_id, s AS shard_new FROM (
        SELECT doc_id, s,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY h DESC, s)
                 AS rk
        FROM cand
      ) WHERE rk = 1
    ),
    old_pick AS (
      SELECT doc_id, s AS shard_old FROM (
        SELECT doc_id, s,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY h DESC, s)
                 AS rk
        FROM cand WHERE s < {_HRW_OLD}
      ) WHERE rk = 1
    )
    SELECT n.shard_new,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n.shard_new = o.shard_old
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_stayed,
           CAST(SUM(CASE WHEN n.shard_new <> o.shard_old
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_moved_in
    FROM new_pick n JOIN old_pick o USING (doc_id)
    GROUP BY n.shard_new
    ORDER BY n.shard_new
    """,
    doc=(
        "Rendezvous / highest-random-weight hashing (Thaler-Ravishankar "
        "1996) — the consistent-hashing scheme behind cache rings and "
        "shard maps: every doc scores each shard with a keyed hash and "
        "lands on the argmax. The audit grows the cluster "
        f"{_HRW_OLD}->{_HRW_NEW} shards and proves HRW's minimal-"
        "movement property BY CONSTRUCTION: a doc moves iff one of the "
        "two NEW shards wins its argmax (expected 2/10 of docs), and "
        "NOTHING rebalances among surviving shards — the audit's "
        "n_moved_in must be 0 for every old shard (test-asserted), vs "
        "mod-N hashing where ~80% of keys would move. Per-doc work is "
        "|shards| hash evaluations map-side + one keyed argmax window; "
        "at 100 TB this is how you grow a shard map without a "
        "full-corpus reshuffle."
    ),
    tags=("pipeline", "sharding", "consistent-hashing", "documents"),
)
def pipeline_rendezvous_reshard_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from pyspark.sql import Window

    d = table(spark, sf_dir, "documents").select("doc_id")
    cand = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(_HRW_NEW - 1))).alias("s"),
    ).select(
        "doc_id",
        "s",
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("hrw-"),
                        F.col("doc_id").cast("string"),
                        F.lit("-"),
                        F.col("s").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("h"),
    )
    wpick = Window.partitionBy("doc_id").orderBy(F.desc("h"), F.asc("s"))
    new_pick = (
        cand.withColumn("rk", F.row_number().over(wpick))
        .filter(F.col("rk") == 1)
        .select("doc_id", F.col("s").alias("shard_new"))
    )
    old_pick = (
        cand.filter(F.col("s") < _HRW_OLD)
        .withColumn("rk", F.row_number().over(wpick))
        .filter(F.col("rk") == 1)
        .select("doc_id", F.col("s").alias("shard_old"))
    )
    return (
        new_pick.join(old_pick, "doc_id")
        .groupBy("shard_new")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(
                (F.col("shard_new") == F.col("shard_old")).cast("long")
            )
            .cast("long")
            .alias("n_stayed"),
            F.sum(
                (F.col("shard_new") != F.col("shard_old")).cast("long")
            )
            .cast("long")
            .alias("n_moved_in"),
        )
        .orderBy("shard_new")
    )


@register(
    "privacy_tokenize_referential",
    oracle="""
    WITH c_tok AS (
      SELECT substr(md5(concat('tok-', c_custkey)), 1, 16) AS token,
             c_nationkey
      FROM customer
    ),
    o_tok AS (
      SELECT substr(md5(concat('tok-', o_custkey)), 1, 16) AS token,
             o_orderkey
      FROM orders
    ),
    token_join AS (
      SELECT c.c_nationkey AS nationkey, COUNT(*) AS n_tok
      FROM o_tok o JOIN c_tok c ON o.token = c.token
      GROUP BY c.c_nationkey
    ),
    plain_join AS (
      SELECT c_nationkey AS nationkey, COUNT(*) AS n_plain
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_nationkey
    ),
    inj AS (
      SELECT COUNT(*) AS n_cust, COUNT(DISTINCT token) AS n_tokens
      FROM c_tok
    )
    SELECT t.nationkey,
           CAST(t.n_tok AS BIGINT) AS n_orders_token_join,
           CAST(p.n_plain AS BIGINT) AS n_orders_plain_join,
           CAST(i.n_cust AS BIGINT) AS n_customers,
           CAST(i.n_tokens AS BIGINT) AS n_distinct_tokens
    FROM token_join t
    JOIN plain_join p USING (nationkey)
    CROSS JOIN inj i
    ORDER BY t.nationkey
    """,
    doc=(
        "Consistent pseudonymization with referential integrity: the "
        "customer key is replaced by a keyed-digest surrogate token in "
        "BOTH the dimension and the fact, and the audit proves (a) "
        "injectivity on this corpus — distinct tokens == customers — "
        "and (b) the token-space join reproduces the plaintext join "
        "EXACTLY, per nation (the two counts ride side by side and a "
        "green row pins them equal). This is the de-identification "
        "pattern that keeps analytics joins working after PII removal "
        "— tokenize once at ingest with the same key everywhere, and "
        "every downstream equi-join is oblivious to the swap. Token "
        "derivation is map-side; the audit costs the same two "
        "hash-join aggregates the plaintext pipeline already runs."
    ),
    tags=("privacy", "pseudonymization", "customer", "orders"),
)
def privacy_tokenize_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    o = table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")

    def tok(col):
        return F.substring(
            F.md5(F.concat(F.lit("tok-"), F.col(col).cast("string"))), 1, 16
        )

    c_tok = c.select(tok("c_custkey").alias("token"), "c_nationkey")
    o_tok = o.select(tok("o_custkey").alias("token"))
    token_join = (
        o_tok.join(F.broadcast(c_tok), "token")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_tok"))
    )
    plain_join = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_plain"))
    )
    inj = c_tok.agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.countDistinct("token").alias("n_tokens"),
    )
    return (
        token_join.join(plain_join, "nationkey")
        .crossJoin(F.broadcast(inj))
        .select(
            "nationkey",
            F.col("n_tok").cast("long").alias("n_orders_token_join"),
            F.col("n_plain").cast("long").alias("n_orders_plain_join"),
            F.col("n_cust").cast("long").alias("n_customers"),
            F.col("n_tokens").cast("long").alias("n_distinct_tokens"),
        )
        .orderBy("nationkey")
    )


@register(
    "lake_mor_flush_compaction",
    oracle="""
    WITH kept AS (
      SELECT o_orderkey FROM orders WHERE o_orderkey % 7 <> 0
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum
      FROM kept
    )
    SELECT p.phase, s.n_rows, s.key_checksum, p.n_dvs
    FROM (VALUES (0, CAST(1 AS BIGINT)), (1, CAST(0 AS BIGINT)),
                 (2, CAST(1 AS BIGINT))) p(phase, n_dvs)
    CROSS JOIN s
    ORDER BY p.phase
    """,
    doc=(
        "Merge-on-read -> copy-on-write flush (Delta REORG ... APPLY "
        "(PURGE) / Iceberg position-delete rewrite): rows are "
        "soft-deleted via a deletion vector (phase 0 — the MOR read "
        "pays a scan-side anti-join, 1 DV live), then "
        "flush_deletion_vectors rewrites ONLY the DV-carrying unit "
        "without its dead rows in one atomic commit (phase 1 — a "
        "plain scan with 0 DVs returns the identical rows), while "
        "time travel to the pre-flush version still resolves the "
        "original unit + DV (phase 2). All three phases must hash to "
        "the same surviving-row stats, and the DV counts ride in the "
        "output. At 100 TB this is the background job that keeps "
        "read amplification bounded: deletes stay O(deleted bytes) "
        "online, and the rewrite cost is paid once, off the query "
        "path, only for units that actually carry deletes."
    ),
    tags=("pipeline", "lakehouse", "deletion-vectors", "compaction", "orders"),
)
def lake_mor_flush_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile as _tf

    from pyspark.sql import Window

    from dmi_ingestor_spark.ingest.txlog import (
        TxLog,
        _unit_dvs,
        add_deletion_vector,
        flush_deletion_vectors,
        read_with_dv,
    )

    tx = TxLog(spark, _tf.mkdtemp(prefix="dmi-morflush-"))
    o = table(spark, sf_dir, "orders").select("o_orderkey")
    base = o.repartition(1).sortWithinPartitions("o_orderkey")
    tx.append(base, "base")
    pos = (
        o.select(
            "o_orderkey",
            (F.row_number().over(Window.orderBy("o_orderkey")) - 1).alias(
                "pos"
            ),
        )
        .filter(F.col("o_orderkey") % 7 == 0)
        .select("pos")
    )
    v_dv = add_deletion_vector(tx, "data/base", pos, "base-dv0")

    def stats(df, phase, n_dvs):
        return df.agg(
            F.lit(phase).cast("int").alias("phase"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("key_checksum"),
            F.lit(n_dvs).cast("long").alias("n_dvs"),
        ).select("phase", "n_rows", "key_checksum", "n_dvs")

    mor = stats(read_with_dv(tx), 0, len(_unit_dvs(tx)))
    v_flush = flush_deletion_vectors(tx)
    assert v_flush == v_dv + 1
    # post-flush: a PLAIN read (no DV machinery) must see the same rows
    live_dvs = {
        u: p for u, p in _unit_dvs(tx).items()
        if u in tx.snapshot().add_units
    }
    flushed = stats(tx.read(), 1, len(live_dvs))
    # time travel: the pre-flush snapshot still resolves unit + DV
    tt = stats(read_with_dv(tx, version=v_dv), 2, 1)
    return mor.unionAll(flushed).unionAll(tt).orderBy("phase")


# ---------------------------------------------------------------------------
# Systematic (every-k-th) sampling on the sharded global order
# ---------------------------------------------------------------------------

_SYS_K = 7  # keep every 7th row of the key order


@register(
    "sample_systematic_every_k",
    oracle=f"""
    WITH ranked AS (
      SELECT o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn
      FROM orders
    ),
    kept AS (
      SELECT * FROM ranked WHERE rn % {_SYS_K} = 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sampled,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_checksum,
           CAST(MIN(o_orderkey) AS BIGINT) AS first_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS last_key,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS price_cents_sum
    FROM kept
    """,
    doc=(
        "Systematic sampling (every k-th element of a total order) — "
        "the survey-statistics design that guarantees even coverage of "
        "the key range, unlike Bernoulli draws: rank every row by "
        "o_orderkey with the SHARDED global row number "
        "(operators/ranks.py: repartitionByRange + local sort + "
        "broadcast prefix offsets — no Exchange SinglePartition, the "
        "zipWithIndex shape), keep rn % k = 1, and audit the kept set "
        "(count, key checksum, range ends, exact price-cents sum). At "
        "100 TB the plan is one range shuffle + one map-side filter — "
        "systematic sampling is exactly as cheap as a scan once the "
        "global order is sharded."
    ),
    tags=("sample", "pipeline", "orders"),
)
def sample_systematic_every_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dmi_ingestor_spark.operators.ranks import sharded_row_number

    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    ranked, _n = sharded_row_number(o, [F.col("o_orderkey").asc()], out="rn")
    kept = ranked.filter(F.col("rn") % _SYS_K == 1)
    return kept.agg(
        F.count(F.lit(1)).cast("long").alias("n_sampled"),
        F.sum("o_orderkey").cast("long").alias("key_checksum"),
        F.min("o_orderkey").cast("long").alias("first_key"),
        F.max("o_orderkey").cast("long").alias("last_key"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("price_cents_sum"),
    )


# ---------------------------------------------------------------------------
# DQ: field-validity drift between time periods
# ---------------------------------------------------------------------------

_DRIFT_SPLIT_DAY = 15      # days 1-15 = baseline, 16+ = current
_DRIFT_VALID_MAX = 90      # props.k < 90 is "valid"
_DRIFT_ALERT_PERMILLE = 20  # |rate delta| > 2.0pp flags the type


@register(
    "dq_invalid_rate_drift",
    oracle=f"""
    WITH parsed AS (
      SELECT event_type,
             CASE WHEN dayofmonth(ts) <= {_DRIFT_SPLIT_DAY}
                  THEN 'baseline' ELSE 'current' END AS period,
             CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT)
                       < {_DRIFT_VALID_MAX}
                  THEN 0 ELSE 1 END AS invalid
      FROM events
    ),
    rates AS (
      SELECT event_type, period,
             COUNT(*) AS n,
             SUM(invalid) AS n_invalid,
             (1000 * SUM(invalid)) // COUNT(*) AS permille
      FROM parsed GROUP BY event_type, period
    ),
    wide AS (
      SELECT event_type,
             MAX(CASE WHEN period = 'baseline' THEN n END) AS n_base,
             MAX(CASE WHEN period = 'baseline' THEN permille END) AS base_permille,
             MAX(CASE WHEN period = 'current' THEN n END) AS n_cur,
             MAX(CASE WHEN period = 'current' THEN permille END) AS cur_permille
      FROM rates GROUP BY event_type
    )
    SELECT event_type,
           CAST(n_base AS BIGINT) AS n_base,
           CAST(base_permille AS BIGINT) AS base_permille,
           CAST(n_cur AS BIGINT) AS n_cur,
           CAST(cur_permille AS BIGINT) AS cur_permille,
           CAST(cur_permille - base_permille AS BIGINT) AS drift_permille,
           CAST(CASE WHEN abs(cur_permille - base_permille)
                          > {_DRIFT_ALERT_PERMILLE}
                THEN 1 ELSE 0 END AS BIGINT) AS alert
    FROM wide
    ORDER BY event_type
    """,
    doc=(
        "Data-quality drift monitor — the schema-on-read failure mode "
        "where an upstream producer starts emitting out-of-contract "
        "values and nothing crashes: per event type, the "
        "out-of-range rate of a JSON payload field (props.k) is "
        "compared between a baseline period and the current period, "
        "and types whose rate moved more than the alert threshold are "
        "flagged. Rates are integer permille (floored scaled division "
        "of exact counts) so the comparison is hash-exact; both "
        "periods come out of ONE pass (conditional aggregation over "
        "the period tag), i.e. one scan + one keyed agg at any scale. "
        "This is the drift gate a 100 TB daily ingest runs before "
        "publishing a partition (compare dq_freshness_lag, "
        "ml_psi_drift: same family, different statistic)."
    ),
    tags=("dq", "drift", "events"),
)
def dq_invalid_rate_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        "event_type",
        F.when(F.dayofmonth("ts") <= _DRIFT_SPLIT_DAY, "baseline")
        .otherwise("current")
        .alias("period"),
        F.when(
            F.get_json_object("props", "$.k").cast("long") < _DRIFT_VALID_MAX,
            F.lit(0),
        )
        .otherwise(F.lit(1))
        .alias("invalid"),
    )
    rates = ev.groupBy("event_type", "period").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("invalid").alias("n_invalid"),
        F.expr("(1000 * sum(invalid)) div count(*)").alias("permille"),
    )
    wide = rates.groupBy("event_type").agg(
        F.max(F.when(F.col("period") == "baseline", F.col("n")))
        .cast("long")
        .alias("n_base"),
        F.max(F.when(F.col("period") == "baseline", F.col("permille")))
        .cast("long")
        .alias("base_permille"),
        F.max(F.when(F.col("period") == "current", F.col("n")))
        .cast("long")
        .alias("n_cur"),
        F.max(F.when(F.col("period") == "current", F.col("permille")))
        .cast("long")
        .alias("cur_permille"),
    )
    return wide.select(
        "event_type",
        "n_base",
        "base_permille",
        "n_cur",
        "cur_permille",
        (F.col("cur_permille") - F.col("base_permille"))
        .cast("long")
        .alias("drift_permille"),
        (
            F.abs(F.col("cur_permille") - F.col("base_permille"))
            > _DRIFT_ALERT_PERMILLE
        )
        .cast("long")
        .alias("alert"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# DQ: key-sequence gap audit (sharded, no global window)
# ---------------------------------------------------------------------------

_GAP_BUCKET = 1024  # orderkey range per audit bucket


@register(
    "dq_sequence_gap_audit",
    oracle="""
    WITH k AS (
      SELECT o_orderkey AS key FROM orders WHERE o_orderstatus = 'F'
    ),
    gaps AS (
      SELECT key - LAG(key) OVER (ORDER BY key) - 1 AS missing
      FROM k
    ),
    g AS (SELECT missing FROM gaps WHERE missing IS NOT NULL)
    SELECT CAST((SELECT COUNT(*) FROM k) AS BIGINT) AS n_keys,
           CAST(SUM(CASE WHEN missing > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_gaps,
           CAST(SUM(missing) AS BIGINT) AS n_missing,
           CAST(MAX(missing) AS BIGINT) AS max_gap
    FROM g
    """,
    doc=(
        "Sequence-completeness audit — 'which orderkeys went missing "
        "from the F-status stream' (the CDC/event-log integrity check: "
        "a monotone producer sequence with holes means dropped "
        "records). The naive form is LAG over a GLOBAL key order — an "
        "Exchange SinglePartition scale cliff. Here gaps are counted "
        "per key-range bucket (key div 1024: within-bucket LAG is a "
        "PARTITIONED window after one hash shuffle) and the "
        "cross-bucket boundary gaps are recovered from the per-bucket "
        "(min, max) summary — per-bucket extrema join to the NEXT "
        "non-empty bucket's head on the O(buckets) summary, the same "
        "shard-then-stitch shape as the sharded row number. Totals "
        "(gap count, total missing keys, widest gap) are exact "
        "integers. At 100 TB: one hash shuffle + an O(buckets) "
        "stitch, no single-task funnel."
    ),
    tags=("dq", "integrity", "orders"),
)
def dq_sequence_gap_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    k = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_orderkey").alias("key"))
    )
    b = k.withColumn("bucket", F.expr(f"key div {_GAP_BUCKET}"))
    w = Window.partitionBy("bucket").orderBy("key")
    inner = b.select(
        "bucket", (F.col("key") - F.lag("key").over(w) - 1).alias("missing")
    ).filter(F.col("missing").isNotNull())
    # O(buckets) summary: stitch each bucket's max key to the next
    # non-empty bucket's min key (lead over the bucket-grain summary —
    # a tiny partitioned-by-nothing window over ~n/1024 rows is still
    # bounded; buckets are the audit grain, not the row grain)
    span = b.groupBy("bucket").agg(
        F.min("key").alias("head"), F.max("key").alias("tail")
    )
    wb = Window.orderBy("bucket")
    boundary = span.select(
        (F.lead("head").over(wb) - F.col("tail") - 1).alias("missing")
    ).filter(F.col("missing").isNotNull())
    gaps = inner.select("missing").unionByName(boundary)
    n_keys = k.agg(F.count(F.lit(1)).alias("n_keys"))
    return (
        gaps.agg(
            F.sum((F.col("missing") > 0).cast("long"))
            .cast("long")
            .alias("n_gaps"),
            F.sum("missing").cast("long").alias("n_missing"),
            F.max("missing").cast("long").alias("max_gap"),
        )
        .crossJoin(F.broadcast(n_keys))
        .select(
            F.col("n_keys").cast("long").alias("n_keys"),
            "n_gaps",
            "n_missing",
            "max_gap",
        )
    )


# ---------------------------------------------------------------------------
# Temporal interval coalescing (the temporal-DB "coalesce" operator)
# ---------------------------------------------------------------------------


@register(
    "transform_interval_coalesce",
    oracle="""
    WITH iv AS (
      SELECT o_custkey AS custkey,
             CAST(o_orderdate AS DATE) AS s,
             CAST(o_orderdate AS DATE)
               + CAST((o_orderkey % 30 + 5) AS INTEGER) AS e
      FROM orders
    ),
    marked AS (
      SELECT custkey, s, e,
             CASE WHEN s > MAX(e) OVER (
               PARTITION BY custkey ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) OR MAX(e) OVER (
               PARTITION BY custkey ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) IS NULL THEN 1 ELSE 0 END AS new_island
      FROM iv
    ),
    islands AS (
      SELECT custkey, s, e,
             SUM(new_island) OVER (
               PARTITION BY custkey ORDER BY s, e
             ) AS island
      FROM marked
    ),
    merged AS (
      SELECT custkey, island, MIN(s) AS ms, MAX(e) AS me
      FROM islands GROUP BY custkey, island
    )
    SELECT custkey,
           CAST((SELECT COUNT(*) FROM iv i WHERE i.custkey = m.custkey)
                AS BIGINT) AS n_intervals,
           CAST(COUNT(*) AS BIGINT) AS n_merged_periods,
           CAST(SUM(me - ms) AS BIGINT) AS covered_days,
           CAST(MAX(me - ms) AS BIGINT) AS longest_days
    FROM merged m
    GROUP BY custkey
    ORDER BY custkey
    """,
    doc=(
        "Temporal interval coalescing — the temporal-database COALESCE "
        "operator (merge overlapping/adjacent validity periods per "
        "key), the step every SCD/contract/subscription pipeline runs "
        "before computing coverage: per customer, service periods "
        "[orderdate, orderdate + 5..34 days] merge via the cumulative-"
        "max island trick (a new period starts exactly when its start "
        "exceeds the running max end — one partitioned window, no "
        "self-join), then per-island min/max gives the merged periods "
        "and exact covered-day arithmetic on DATE integers. Plan: one "
        "hash shuffle on custkey + partitioned windows + one keyed "
        "agg; at 100 TB identical, with hot keys taking the usual "
        "salting treatment."
    ),
    tags=("transform", "temporal", "orders"),
)
def transform_interval_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    iv = table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderdate").cast("date").alias("s"),
        F.date_add(
            F.col("o_orderdate").cast("date"),
            (F.col("o_orderkey") % 30 + 5).cast("int"),
        ).alias("e"),
    )
    wprev = (
        Window.partitionBy("custkey")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = iv.select(
        "custkey",
        "s",
        "e",
        F.when(
            F.max("e").over(wprev).isNull()
            | (F.col("s") > F.max("e").over(wprev)),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("new_island"),
    )
    wcum = Window.partitionBy("custkey").orderBy("s", "e")
    islands = marked.withColumn("island", F.sum("new_island").over(wcum))
    merged = islands.groupBy("custkey", "island").agg(
        F.min("s").alias("ms"), F.max("e").alias("me")
    )
    n_iv = iv.groupBy("custkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_intervals")
    )
    return (
        merged.groupBy("custkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_merged_periods"),
            F.sum(F.datediff("me", "ms")).cast("long").alias("covered_days"),
            F.max(F.datediff("me", "ms")).cast("long").alias("longest_days"),
        )
        .join(n_iv, "custkey")
        .select(
            "custkey",
            "n_intervals",
            "n_merged_periods",
            "covered_days",
            "longest_days",
        )
        .orderBy("custkey")
    )
