"""MLlib LSH surface (SURVEY.md §2.10 U5/U6 "maps to" column).

The engine's primary dedup/ANN path is the custom md5-based machinery
in ``queries/dedup.py`` / ``queries/similarity.py`` — built-in
expressions chosen precisely so the DuckDB oracle can hash-check the
whole pipeline. These two queries cover the OTHER route SURVEY §2.10
names: ``pyspark.ml.feature`` MinHashLSH / BucketedRandomProjectionLSH,
the library implementations a Spark user would reach for first. The
seeded hash families have no SQL-reproducible form, so (since round 3)
each query emits an invariant SUMMARY the oracle can pin exactly: the
reported distances are recomputed in-plan from raw data (0 mismatches
allowed), threshold/contract violations are counted (must be 0), and
the exact truth quantity (token-Jaccard pair count) is derived with
plain array ops on both engines. Pair-level behavior stays covered in
tests/test_dedup_similarity.py.

The tree learners (decision stump, random forest, OOB error, depth-2
tree, AdaBoost) share one exact split sweep: ``_gini_sweep`` groups a
histogram, takes running sums and node totals from one ``_prefix_sums``
window and scores each threshold with ``_GINI_SPARK``; ``_best_split``
picks the min-(gini, ...) row per node. GBDT's gain sweep uses
``_prefix_sums`` too. The bootstrap queries draw their bags with
``_bags`` and ``_poisson_weight``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from dmi_ingestor_spark.catalog import table
from dmi_ingestor_spark.operators.rowmap import fold_series
from dmi_ingestor_spark.registry import register


@register(
    "ml_minhash_lsh_join",
    oracle="""
    -- 3-gram shingle SETS, counted inverted-index style (J >= 0.5
    -- implies a shared shingle, so the shingle equi-join is complete
    -- by construction). r7: the earlier unigram-token-set form is
    -- DEGENERATE on the fixtures' closed 31-word vocabulary — by
    -- sf0.5 most doc pairs share most tokens, the true-pair count is
    -- itself O(n^2) and both engines ground forever. Shingle space is
    -- 31^3, so overlap stays sparse at every sf.
    WITH sh AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           UNNEST(generate_series(1, len(t) - 2)) AS u(i)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    -- per-doc sizes carried through the count-join so the J >= 0.5
    -- test applies in the HAVING — the shared-pairs relation (~60M
    -- rows in the closed-vocab regime at sf0.75) is never
    -- materialized or re-joined (r8)
    she AS (
      SELECT sh.doc_id, sh.shingle, s.n
      FROM sh JOIN sizes s USING (doc_id)
    ),
    truth AS MATERIALIZED (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id
      FROM she a JOIN she b ON a.shingle = b.shingle
       AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id, a.n, b.n
      HAVING COUNT(*) * 2 >= a.n + b.n - COUNT(*)
    )
    SELECT
      CAST((SELECT COUNT(*) FROM truth) AS BIGINT)
        AS n_true_pairs,
      CAST(0 AS BIGINT) AS n_dist_out_of_range,
      CAST((SELECT COALESCE(SUM(k * (k - 1) // 2), 0) FROM (
              SELECT COUNT(*) AS k FROM documents
              WHERE len(string_split(text, ' ')) >= 3
              GROUP BY text
            )) AS BIGINT) AS n_dup_pairs
    """,
    doc=(
        "U5 via pyspark.ml: HashingTF 3-gram-shingle-set vectors → MinHashLSH "
        "(3 tables) → approxSimilarityJoin(0.5) — the library twin of "
        "dedup_minhash_lsh. Promoted from rows-only in round 3 the way "
        "sim_ann_recall_eval was: the output is an invariant summary "
        "whose every value is computable by the oracle. n_true_pairs "
        "re-derives the EXACT shingle-set Jaccard >= 0.5 pair count with "
        "plain array ops on both engines (real data computation, no "
        "MLlib); n_dist_out_of_range counts emitted pairs whose "
        "reported distance violates the 0.5 threshold (must be 0); "
        "n_dup_pairs counts emitted distance-0 pairs, hash-checked "
        "against the oracle's independent identical-text group count — MinHash recall on the J=1 stratum "
        "is guaranteed, so the two counts must agree exactly. The emitted pair list itself stays "
        "seeded-hash-dependent and is exercised in "
        "tests/test_dedup_similarity.py."
    ),
    tags=("dedup", "mllib", "invariant-anchored"),
)
def ml_minhash_lsh_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.feature import HashingTF, MinHashLSH

    # 3-gram shingles, not unigram tokens (see oracle note: token SETS
    # over the 31-word fixture vocabulary degenerate to near-complete
    # overlap as n grows). Docs under 3 tokens have no shingle and are
    # excluded on both engines (MinHashLSH also requires >=1 nonzero).
    d = (
        table(spark, sf_dir, "documents")
        .select("doc_id", F.split(F.col("text"), " ").alias("w"))
        .filter(F.size("w") >= 3)
        .select(
            "doc_id",
            F.expr(
                "transform(sequence(1, size(w) - 2),"
                " i -> concat_ws(' ', slice(w, i, 3)))"
            ).alias("tokens"),
        )
    )
    tf = HashingTF(
        inputCol="tokens", outputCol="features", numFeatures=1 << 14, binary=True
    )
    vecs = tf.transform(d).filter(F.col("doc_id").isNotNull())
    model = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=3, seed=42
    ).fit(vecs)
    pairs = (
        model.approxSimilarityJoin(vecs, vecs, 0.5, distCol="jaccard_dist")
        .select(
            F.col("datasetA.doc_id").alias("a_id"),
            F.col("datasetB.doc_id").alias("b_id"),
            F.col("jaccard_dist"),
        )
        .filter(F.col("a_id") < F.col("b_id"))
    )
    # invariant 1: the join's own threshold actually held
    bad_range = pairs.agg(
        F.coalesce(
            F.sum((F.col("jaccard_dist") > 0.5).cast("long")), F.lit(0)
        ).alias("v")
    )
    # invariant 2 (r7): the LSH join must emit EVERY identical-
    # shingle-set pair at distance exactly 0 — MinHash of equal sets is
    # equal in every table, so recall on the J=1 stratum is guaranteed
    # 1.0 and the count is hash-checkable against the oracle's
    # independent signature-group count. (The previous form re-derived
    # the reported distance from F.hash buckets; that was never
    # hash-faithful — ML HashingTF uses murmur3 hashUnsafeBytes2, SQL
    # hash() the hashUnsafeBytes variant — and only passed while the
    # 31-token unigram space was collision-free.)
    # compare on TEXT equality, not dist==0 alone: hashed-bucket sets
    # can collide equal for docs with different shingle sets, so the
    # dist-0 stratum is a superset of the text-dup stratum
    txt = table(spark, sf_dir, "documents").select("doc_id", "text")
    ta = txt.select(F.col("doc_id").alias("a_id"), F.col("text").alias("a_text"))
    tb = txt.select(F.col("doc_id").alias("b_id"), F.col("text").alias("b_text"))
    dup_pairs = (
        pairs.join(ta, "a_id")
        .join(tb, "b_id")
        .agg(
            F.coalesce(
                F.sum(
                    (
                        (F.col("a_text") == F.col("b_text"))
                        & (F.col("jaccard_dist") == 0.0)
                    ).cast("long")
                ),
                F.lit(0),
            ).alias("v")
        )
    )
    # the hash-checked data number: exact token-set Jaccard >= 0.5 pairs,
    # built inverted-index style (J >= 0.5 implies a shared token, so the
    # token self-join is complete by construction — never an n^2 cross).
    # Per-doc sizes ride the explode so the J test applies inside the
    # aggregation — the shared-pairs relation is never materialized or
    # size-joined (r8 sf0.75: the post-join form was the hash-agg that
    # OOMed the vanilla 1g JVM)
    toks = d.select("doc_id", F.array_distinct("tokens").alias("ts")).cache()
    she = toks.select(
        "doc_id", F.size("ts").alias("n_tok"), F.explode("ts").alias("tok")
    )
    true_pairs = (
        she.select(
            F.col("doc_id").alias("a_id"), F.col("n_tok").alias("na"), "tok"
        )
        .join(
            she.select(
                F.col("doc_id").alias("b_id"), F.col("n_tok").alias("nb"), "tok"
            ),
            "tok",
        )
        .filter(F.col("a_id") < F.col("b_id"))
        .groupBy("a_id", "b_id", "na", "nb")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(
            F.col("n_common") * 2 >= F.col("na") + F.col("nb") - F.col("n_common")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("v"))
    )
    return (
        true_pairs.select(F.col("v").alias("n_true_pairs"))
        .crossJoin(bad_range.select(F.col("v").alias("n_dist_out_of_range")))
        .crossJoin(dup_pairs.select(F.col("v").alias("n_dup_pairs")))
    )


@register(
    "ml_brp_lsh_ann",
    oracle="""
    SELECT
      CAST(5 AS BIGINT) AS n_neighbors,
      CAST(1 AS BIGINT) AS self_included,
      CAST(0 AS BIGINT) AS self_dist_nano,
      CAST(0 AS BIGINT) AS n_dist_mismatch
    """,
    doc=(
        "U6 via pyspark.ml: embeddings → BucketedRandomProjectionLSH "
        "approxNearestNeighbors(k=5) around vec_id 0 — the library ANN "
        "twin of sim_ann_lsh_buckets/sim_ann_ivf. Promoted from "
        "rows-only in round 3: the output is the invariant summary "
        "(k rows returned; the query vector present at distance 0; "
        "every reported distance equals the exact Euclidean distance "
        "recomputed in-plan from the raw embedding arrays — 0 "
        "mismatches) so the driver hash-checks the index's contract "
        "even though the seeded projection family has no cross-engine "
        "form. The raw neighbor list stays covered in "
        "tests/test_dedup_similarity.py."
    ),
    tags=("similarity", "mllib", "invariant-anchored"),
)
def ml_brp_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("arr")
    )
    e = emb.select(
        "vec_id", array_to_vector(F.col("arr")).alias("features")
    )
    model = BucketedRandomProjectionLSH(
        inputCol="features", outputCol="hashes", bucketLength=1.0, seed=42
    ).fit(e)
    query = e.filter(F.col("vec_id") == 0).head()
    ann = model.approxNearestNeighbors(e, query.features, 5, distCol="dist")
    q_arr = emb.filter(F.col("vec_id") == 0).select(
        F.col("arr").alias("q_arr")
    )
    exact = (
        ann.select("vec_id", "dist")
        .join(emb, "vec_id")
        .crossJoin(F.broadcast(q_arr))
        .withColumn(
            "exact_dist",
            F.sqrt(
                F.aggregate(
                    F.zip_with(
                        "arr", "q_arr", lambda a, b: (a - b) * (a - b)
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ),
        )
    )
    return exact.agg(
        F.count(F.lit(1)).cast("long").alias("n_neighbors"),
        F.sum((F.col("vec_id") == 0).cast("long")).alias("self_included"),
        F.sum(
            F.when(F.col("vec_id") == 0, F.round(F.col("dist") * 1e9))
            .otherwise(0)
            .cast("long")
        ).alias("self_dist_nano"),
        F.sum(
            (F.abs(F.col("dist") - F.col("exact_dist")) > 1e-9).cast("long")
        ).alias("n_dist_mismatch"),
    )


# --------------------------------------------------------------------------
# Feature hashing (the "hashing trick")
# --------------------------------------------------------------------------

FH_DIM = 16  # feature-vector dimensionality (buckets)


@register(
    "ml_feature_hashing",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    hashed AS (
      SELECT doc_id,
             CAST(concat('0x', substr(md5(concat('fh-', tok)), 1, 8)) AS BIGINT)
               % {FH_DIM} AS bucket,
             CASE WHEN CAST(concat('0x', substr(md5(concat('fh-', tok)), 9, 1))
                        AS INT) % 2 = 0
                  THEN 1 ELSE -1 END AS sgn
      FROM toks
    ),
    agg AS (
      SELECT doc_id, bucket, CAST(SUM(sgn) AS BIGINT) AS w
      FROM hashed GROUP BY doc_id, bucket HAVING SUM(sgn) <> 0
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_nonzero,
           string_agg(bucket || ':' || w, ',' ORDER BY bucket) AS fvec
    FROM agg GROUP BY doc_id
    """,
    doc=(
        "Hashing-trick featurization (Weinberger et al. 2009): every "
        f"token hashes to one of {FH_DIM} buckets via md5, with a signed "
        "±1 contribution from a second hash digit (sign hashing keeps the "
        "estimator unbiased); per-document sparse vectors come back as "
        "deterministic 'bucket:weight' strings. Vocabulary-free — no "
        "dictionary build, no OOV, fixed output dim — so the 100 TB plan "
        "is two partial+final aggregates on small integer keys: "
        "(doc_id, bucket) → weight, then doc_id → ordered sparse string. "
        "No joins, no broadcast state, nothing driver-side."
    ),
    tags=("ml", "text", "training-pipeline"),
)
def ml_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok"))
    h = F.md5(F.concat(F.lit("fh-"), F.col("tok")).cast("binary"))
    bucket = (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % FH_DIM).alias("bucket")
    sgn = (
        F.when(F.conv(F.substring(h, 9, 1), 16, 10).cast("int") % 2 == 0, F.lit(1))
        .otherwise(F.lit(-1))
        .alias("sgn")
    )
    agg = (
        toks.select("doc_id", bucket, sgn)
        .groupBy("doc_id", "bucket")
        .agg(F.sum("sgn").cast("long").alias("w"))
        .where(F.col("w") != 0)
    )
    return agg.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_nonzero"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("bucket", "w"))),
                lambda s: F.concat_ws(":", s.bucket.cast("string"), s.w.cast("string")),
            ),
            ",",
        ).alias("fvec"),
    )


# ---------------------------------------------------------------------------
# Chi-square feature selection (token vs language class)
# ---------------------------------------------------------------------------

CHI2_TOP_K = 20


@register(
    "ml_chi2_feature_selection",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id, lang = 'en' AS is_en,
             unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
      FROM documents
    ),
    tok AS (
      SELECT DISTINCT doc_id, is_en, token FROM raw WHERE len(token) >= 2
    ),
    tot AS (
      SELECT COUNT(DISTINCT CASE WHEN lang = 'en' THEN doc_id END) AS n_en,
             COUNT(DISTINCT CASE WHEN lang <> 'en' THEN doc_id END) AS n_other
      FROM documents
    ),
    cnt AS (
      SELECT token,
             CAST(COUNT(CASE WHEN is_en THEN 1 END) AS BIGINT) AS n_en_docs,
             CAST(COUNT(CASE WHEN NOT is_en THEN 1 END) AS BIGINT)
               AS n_other_docs
      FROM tok GROUP BY token
    ),
    chi AS (
      SELECT token, n_en_docs, n_other_docs,
             CAST(CAST(n_en + n_other AS HUGEINT)
                  * CAST(n_en_docs * n_other - n_other_docs * n_en AS HUGEINT)
                  * CAST(n_en_docs * n_other - n_other_docs * n_en AS HUGEINT)
                  AS DOUBLE)
             / CAST(CAST(n_en_docs + n_other_docs AS HUGEINT)
                    * CAST(n_en + n_other - n_en_docs - n_other_docs AS HUGEINT)
                    * CAST(n_en AS HUGEINT) * CAST(n_other AS HUGEINT)
                    AS DOUBLE) AS chi2
      FROM cnt, tot
      WHERE n_en_docs + n_other_docs < n_en + n_other
        AND n_en > 0 AND n_other > 0
    )
    SELECT token, n_en_docs, n_other_docs, chi2
    FROM chi ORDER BY chi2 DESC, token LIMIT {CHI2_TOP_K}
    """,
    doc=(
        "Chi-square feature selection over the corpus: which tokens "
        "are most associated with the 'en' class — the classic filter "
        "step before training a lightweight classifier (quality "
        "filters, lang-id features). Contingency cells come from ONE "
        "distinct doc-token aggregate (a+b per token; c,d derived "
        "from the broadcast 1-row class totals, never recounted); "
        "chi2 = N(ad-bc)^2 / ((a+b)(c+d)(a+c)(b+d)) with (a+c)=N_en "
        "fixed by class. Numerator/denominator are exact "
        "decimal(38,0)/HUGEINT integers (ad-bc simplifies to "
        "a*N_other - b*N_en), the final division is one IEEE op on "
        "identical operands — hash-green. Scale: explode -> distinct "
        "-> token-key aggregate (two shuffles on bounded keys), "
        "class totals broadcast, TakeOrdered top-k — no quadratic "
        "stage, corpus never self-joins."
    ),
    tags=("ml", "text", "feature-selection", "documents"),
)
def ml_chi2_feature_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    raw = d.select(
        "doc_id",
        (F.col("lang") == "en").alias("is_en"),
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
        ).alias("token"),
    )
    tok = raw.where(F.length("token") >= 2).distinct()
    tot = d.agg(
        F.count_distinct(
            F.when(F.col("lang") == "en", F.col("doc_id"))
        ).alias("n_en"),
        F.count_distinct(
            F.when(F.col("lang") != "en", F.col("doc_id"))
        ).alias("n_other"),
    )
    cnt = tok.groupBy("token").agg(
        F.count(F.when(F.col("is_en"), 1)).cast("long").alias("n_en_docs"),
        F.count(F.when(~F.col("is_en"), 1)).cast("long").alias("n_other_docs"),
    )
    j = cnt.crossJoin(F.broadcast(tot))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    ad_bc = dec(
        F.col("n_en_docs") * F.col("n_other")
        - F.col("n_other_docs") * F.col("n_en")
    )
    num = dec(F.col("n_en") + F.col("n_other")) * ad_bc * ad_bc
    den = (
        dec(F.col("n_en_docs") + F.col("n_other_docs"))
        * dec(
            F.col("n_en") + F.col("n_other")
            - F.col("n_en_docs") - F.col("n_other_docs")
        )
        * dec(F.col("n_en"))
        * dec(F.col("n_other"))
    )
    chi = (
        j.where(
            (F.col("n_en_docs") + F.col("n_other_docs")
             < F.col("n_en") + F.col("n_other"))
            & (F.col("n_en") > 0)
            & (F.col("n_other") > 0)
        )
        .select(
            "token",
            "n_en_docs",
            "n_other_docs",
            (num.cast("double") / den.cast("double")).alias("chi2"),
        )
    )
    return chi.orderBy(F.col("chi2").desc(), "token").limit(CHI2_TOP_K)


# ---------------------------------------------------------------------------
# Leave-one-out target encoding with smoothing (feature engineering)
# ---------------------------------------------------------------------------

TE_SMOOTH = 10.0  # pseudo-observations pulled toward the global prior


@register(
    "ml_target_encoding",
    oracle=f"""
    WITH y AS (
      SELECT o_orderkey, o_orderpriority,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    ),
    g AS (
      SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_g,
             CAST(SUM(y) AS BIGINT) AS s_g
      FROM y GROUP BY o_orderpriority
    ),
    t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS s FROM y
    )
    SELECT y.o_orderkey,
           (CAST(g.s_g - y.y AS DOUBLE)
            + {TE_SMOOTH!r} * (CAST(t.s AS DOUBLE) / CAST(t.n AS DOUBLE)))
           / (CAST(g.n_g - 1 AS DOUBLE) + {TE_SMOOTH!r}) AS target_enc
    FROM y JOIN g USING (o_orderpriority) CROSS JOIN t
    WHERE g.n_g > 1
    """,
    doc=(
        "Leave-one-out target encoding with additive smoothing — the "
        "standard high-cardinality categorical feature for gradient "
        "boosting, computed leakage-free: each row's own label is "
        "subtracted from its group sum, and the global prior "
        "contributes m pseudo-observations. ONE group-grain aggregate "
        "+ one 1-row global aggregate, both broadcast back into the "
        "row stream — per-row cost is pure arithmetic, no window, no "
        "self-join, so the plan is scan + two broadcast joins at any "
        "scale. The encoding double hash-matches (identical IEEE "
        "tree over exact integers)."
    ),
    tags=("ml", "feature-engineering", "orders"),
)
def ml_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    y = o.select(
        "o_orderkey",
        "o_orderpriority",
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    g = y.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("y").cast("long").alias("s_g"),
    )
    t = y.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
    )
    prior = F.col("s").cast("double") / F.col("n").cast("double")
    enc = (
        (F.col("s_g") - F.col("y")).cast("double") + F.lit(TE_SMOOTH) * prior
    ) / ((F.col("n_g") - 1).cast("double") + F.lit(TE_SMOOTH))
    return (
        y.join(F.broadcast(g), "o_orderpriority")
        .crossJoin(F.broadcast(t))
        .where(F.col("n_g") > 1)
        .select("o_orderkey", enc.alias("target_enc"))
    )


# ---------------------------------------------------------------------------
# Population-stability-index drift monitor (feature distribution shift)
# ---------------------------------------------------------------------------

PSI_BUCKETS = 10
PSI_SPLIT_YEAR = 1996


@register(
    "ml_psi_drift",
    oracle=f"""
    WITH rng AS (
      SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi FROM orders
    ),
    b AS (
      SELECT LEAST(GREATEST(CAST(FLOOR((o_totalprice - rng.lo)
                                        * {PSI_BUCKETS}
                                        / (rng.hi - rng.lo)) AS BIGINT),
                            0), {PSI_BUCKETS - 1}) AS bucket,
             CASE WHEN EXTRACT(YEAR FROM o_orderdate) < {PSI_SPLIT_YEAR}
                  THEN 0 ELSE 1 END AS slice
      FROM orders CROSS JOIN rng
    ),
    c AS (
      SELECT bucket,
             CAST(COUNT(CASE WHEN slice = 0 THEN 1 END) AS BIGINT) AS n_a,
             CAST(COUNT(CASE WHEN slice = 1 THEN 1 END) AS BIGINT) AS n_b
      FROM b GROUP BY bucket
    ),
    tot AS (
      SELECT CAST(SUM(n_a) AS BIGINT) AS ta, CAST(SUM(n_b) AS BIGINT) AS tb
      FROM c
    )
    SELECT bucket, n_a, n_b,
           ROUND(
             ((CAST(n_a + 1 AS DOUBLE) / CAST(ta + {PSI_BUCKETS} AS DOUBLE))
              - (CAST(n_b + 1 AS DOUBLE) / CAST(tb + {PSI_BUCKETS} AS DOUBLE)))
             * ln((CAST(n_a + 1 AS DOUBLE) / CAST(ta + {PSI_BUCKETS} AS DOUBLE))
                  / (CAST(n_b + 1 AS DOUBLE)
                     / CAST(tb + {PSI_BUCKETS} AS DOUBLE))),
             6) AS psi_term
    FROM c CROSS JOIN tot
    ORDER BY bucket
    """,
    doc=(
        "Population Stability Index drift monitor: o_totalprice "
        "bucketed into 10 equi-width bins over the broadcast global "
        "[min,max], early vs late order years as the two populations, "
        "per-bucket PSI terms (p-q)*ln(p/q) with Laplace smoothing — "
        "the production check that a feature's serving distribution "
        "still matches training. One scan + one bucket-grain "
        "aggregate; the 1-row range and totals broadcast. psi_term "
        "is rounded to 6dp because ln() is not an IEEE "
        "correctly-rounded op (same guard as scalar_math_pack's "
        "log_price); counts stay exact BIGINT."
    ),
    tags=("ml", "monitoring", "drift", "orders"),
)
def ml_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    rng = o.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    b = o.crossJoin(F.broadcast(rng)).select(
        F.least(
            F.greatest(
                F.floor(
                    (F.col("o_totalprice") - F.col("lo"))
                    * PSI_BUCKETS
                    / (F.col("hi") - F.col("lo"))
                ).cast("long"),
                F.lit(0),
            ),
            F.lit(PSI_BUCKETS - 1),
        ).alias("bucket"),
        F.when(F.year("o_orderdate") < PSI_SPLIT_YEAR, 0)
        .otherwise(1)
        .alias("slice"),
    )
    c = b.groupBy("bucket").agg(
        F.count(F.when(F.col("slice") == 0, 1)).cast("long").alias("n_a"),
        F.count(F.when(F.col("slice") == 1, 1)).cast("long").alias("n_b"),
    )
    tot = c.agg(
        F.sum("n_a").cast("long").alias("ta"),
        F.sum("n_b").cast("long").alias("tb"),
    )
    p = (F.col("n_a") + 1).cast("double") / (
        F.col("ta") + PSI_BUCKETS
    ).cast("double")
    q = (F.col("n_b") + 1).cast("double") / (
        F.col("tb") + PSI_BUCKETS
    ).cast("double")
    return (
        c.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            "n_a",
            "n_b",
            F.round((p - q) * F.log(p / q), 6).alias("psi_term"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Calibration reliability diagram (evaluate the target encoder as a model)
# ---------------------------------------------------------------------------

CAL_BINS = 10


@register(
    "ml_calibration_reliability",
    oracle=f"""
    WITH y AS (
      SELECT o_orderkey, o_orderpriority,
             EXTRACT(YEAR FROM o_orderdate) AS yr,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    ),
    g AS (
      SELECT o_orderpriority, yr, CAST(COUNT(*) AS BIGINT) AS n_g,
             CAST(SUM(y) AS BIGINT) AS s_g
      FROM y GROUP BY o_orderpriority, yr
    ),
    t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS s FROM y
    ),
    scored AS (
      SELECT y.o_orderkey, y.y,
             CAST(ROUND(
               ((CAST(g.s_g AS DOUBLE)
                 + 10.0 * (CAST(t.s AS DOUBLE) / CAST(t.n AS DOUBLE)))
                / (CAST(g.n_g AS DOUBLE) + 10.0)) * 1000000
             ) AS BIGINT) AS score_micro
      FROM y JOIN g USING (o_orderpriority, yr) CROSS JOIN t
    )
    SELECT LEAST(score_micro * {CAL_BINS} // 1000000,
                 {CAL_BINS - 1}) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(score_micro) AS DOUBLE) / COUNT(*) / 1000000
             AS mean_pred,
           CAST(SUM(y) AS DOUBLE) / COUNT(*) AS frac_pos
    FROM scored GROUP BY 1 ORDER BY 1
    """,
    doc=(
        "Reliability diagram for the smoothed group-rate predictor "
        "(the eval half of ml_target_encoding): predictions binned "
        "into deciles, per-bin mean predicted probability vs observed "
        "positive rate — the calibration check any production scorer "
        "ships with. Predictions quantize to integer micro-units "
        "before binning and averaging, so every aggregate is exact "
        "integer arithmetic and only the final divisions are doubles "
        "— hash-green despite the model being float-valued. Shape: "
        "two bounded-key aggregates broadcast into the row stream, "
        "one decile-grain aggregate."
    ),
    tags=("ml", "evaluation", "calibration", "orders"),
)
def ml_calibration_reliability(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    y = o.select(
        "o_orderkey",
        "o_orderpriority",
        F.year("o_orderdate").alias("yr"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    g = y.groupBy("o_orderpriority", "yr").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("y").cast("long").alias("s_g"),
    )
    t = y.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("s"),
    )
    prior = F.col("s").cast("double") / F.col("n").cast("double")
    score = (
        F.col("s_g").cast("double") + F.lit(10.0) * prior
    ) / (F.col("n_g").cast("double") + F.lit(10.0))
    scored = (
        y.join(F.broadcast(g), ["o_orderpriority", "yr"])
        .crossJoin(F.broadcast(t))
        .select(
            "o_orderkey",
            "y",
            F.round(score * 1000000).cast("long").alias("score_micro"),
        )
    )
    return (
        scored.groupBy(
            F.least(
                F.floor(F.col("score_micro") * CAL_BINS / 1000000).cast("long"),
                F.lit(CAL_BINS - 1),
            ).alias("bin")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            (
                F.sum("score_micro").cast("double")
                / F.count(F.lit(1))
                / F.lit(1000000.0)
            ).alias("mean_pred"),
            (F.sum("y").cast("double") / F.count(F.lit(1))).alias("frac_pos"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# Exact ROC-AUC via the rank-sum (Mann–Whitney) identity
# ---------------------------------------------------------------------------


@register(
    "ml_auc_exact",
    oracle="""
    WITH y AS (
      SELECT o_orderpriority, EXTRACT(YEAR FROM o_orderdate) AS yr,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    ),
    g AS (
      SELECT o_orderpriority, yr, CAST(COUNT(*) AS BIGINT) AS n_g,
             CAST(SUM(y) AS BIGINT) AS s_g
      FROM y GROUP BY o_orderpriority, yr
    ),
    scored AS (
      SELECT y.y,
             CAST(ROUND(CAST(g.s_g AS DOUBLE) / g.n_g * 1000000) AS BIGINT)
               AS score
      FROM y JOIN g USING (o_orderpriority, yr)
    ),
    per_score AS (
      SELECT score,
             CAST(COUNT(CASE WHEN y = 1 THEN 1 END) AS BIGINT) AS n_pos,
             CAST(COUNT(CASE WHEN y = 0 THEN 1 END) AS BIGINT) AS n_neg
      FROM scored GROUP BY score
    ),
    cum AS (
      SELECT score, n_pos, n_neg,
             COALESCE(SUM(n_neg) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS neg_below
      FROM per_score
    ),
    agg AS (
      SELECT CAST(SUM(n_pos * (2 * neg_below + n_neg)) AS BIGINT) AS numer2,
             CAST(SUM(n_pos) AS BIGINT) AS tot_pos,
             CAST(SUM(n_neg) AS BIGINT) AS tot_neg
      FROM cum
    )
    SELECT numer2, tot_pos, tot_neg,
           CAST(numer2 AS DOUBLE) / (2.0 * tot_pos * tot_neg) AS auc
    FROM agg
    """,
    doc=(
        "EXACT ROC-AUC of the group-rate scorer via the Mann-Whitney "
        "rank-sum identity: AUC = P(score_pos > score_neg) + "
        "0.5 P(tie), computed as integer pair counts over the "
        "SCORE-GRAIN relation — per distinct score, positives x "
        "(2 x negatives-below + negatives-tied), doubled to stay "
        "integral. No per-row ranking of the full table: the window "
        "runs over O(distinct scores) rows, so at 100 TB the cost is "
        "one score-grain aggregate — the same collapse trick as the "
        "calibration diagram. The final division is the only double."
    ),
    tags=("ml", "evaluation", "auc", "orders"),
)
def ml_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    y = o.select(
        "o_orderpriority",
        F.year("o_orderdate").alias("yr"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    g = y.groupBy("o_orderpriority", "yr").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("y").cast("long").alias("s_g"),
    )
    scored = y.join(F.broadcast(g), ["o_orderpriority", "yr"]).select(
        "y",
        F.round(F.col("s_g").cast("double") / F.col("n_g") * 1000000)
        .cast("long")
        .alias("score"),
    )
    per_score = scored.groupBy("score").agg(
        F.count(F.when(F.col("y") == 1, 1)).cast("long").alias("n_pos"),
        F.count(F.when(F.col("y") == 0, 1)).cast("long").alias("n_neg"),
    )
    w = Window.orderBy("score").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = per_score.select(
        "n_pos",
        "n_neg",
        F.coalesce(F.sum("n_neg").over(w), F.lit(0)).alias("neg_below"),
    )
    agg = cum.agg(
        F.sum(
            F.col("n_pos") * (2 * F.col("neg_below") + F.col("n_neg"))
        )
        .cast("long")
        .alias("numer2"),
        F.sum("n_pos").cast("long").alias("tot_pos"),
        F.sum("n_neg").cast("long").alias("tot_neg"),
    )
    return agg.select(
        "numer2",
        "tot_pos",
        "tot_neg",
        (
            F.col("numer2").cast("double")
            / (F.lit(2.0) * F.col("tot_pos") * F.col("tot_neg"))
        ).alias("auc"),
    )


# ---------------------------------------------------------------------------
# Deterministic k-fold cross-validation assignment
# ---------------------------------------------------------------------------

KFOLDS = 5


@register(
    "ml_kfold_assignment",
    oracle=f"""
    WITH f AS (
      SELECT doc_id,
             CAST('0x' || substr(md5('fold-' || CAST(doc_id AS VARCHAR)), 1, 15)
                  AS BIGINT) % {KFOLDS} AS fold
      FROM documents
    )
    SELECT fold, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id,
           CAST(SUM(doc_id) AS BIGINT) AS id_checksum
    FROM f GROUP BY fold ORDER BY fold
    """,
    doc=(
        "Deterministic k-fold cross-validation assignment: fold = "
        "salted-md5(doc_id) mod k — a pure row-local function of the "
        "key, so folds are reproducible across engines, runs and "
        "incremental appends (new docs join folds without "
        "reshuffling old ones), and fold disjointness/coverage is "
        "structural. The per-fold checksum rollup is the audit a "
        "training pipeline stores next to the model. Complements "
        "text_hash_split (Bernoulli) and sample_exact_stratified "
        "(exact counts) as the eval-protocol member of the split "
        "family."
    ),
    tags=("ml", "evaluation", "split", "documents"),
)
def ml_kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").select("doc_id")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("fold-"), F.col("doc_id").cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    return (
        d.select("doc_id", (h % KFOLDS).alias("fold"))
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("min_doc_id"),
            F.sum("doc_id").cast("long").alias("id_checksum"),
        )
        .orderBy("fold")
    )


# ---------------------------------------------------------------------------
# Embedding covariance matrix (the PCA / whitening sufficient statistic)
# ---------------------------------------------------------------------------


@register(
    "ml_embedding_covariance_matrix",
    oracle="""
    WITH e AS (
      SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim,
             CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT)
               AS v
      FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)
    ),
    pairs AS (
      SELECT a.vec_id, a.dim AS di, b.dim AS dj,
             a.v * b.v AS vij
      FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.dim <= b.dim
    )
    SELECT di, dj,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(vij) AS BIGINT) AS sum_xixj_micro2
    FROM pairs GROUP BY di, dj ORDER BY di, dj
    """,
    doc=(
        "Second-moment (Gram) matrix of the embedding table in exact "
        "integer micro-units — THE sufficient statistic for PCA, "
        "whitening and linear probes: everything downstream "
        "(eigendecomposition, projection) runs on this d x d summary, "
        "never on the corpus again. Upper triangle only (symmetric), "
        "one self-join per vector on the exploded dims — at 100 TB "
        "the cost is one d^2-key aggregate; d x d output is "
        "driver-sized for any real embedding width. The power-"
        "iteration invariant test (test_invariants.py) "
        "eigendecomposes the collected matrix and checks A v = "
        "lambda v, closing the distributed-stats -> local-solve PCA "
        "loop."
    ),
    tags=("ml", "embeddings", "pca", "statistics"),
)
def ml_embedding_covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (
        table(spark, sf_dir, "embeddings")
        .select("vec_id", F.posexplode("embedding").alias("dim", "x"))
        .select(
            "vec_id",
            F.col("dim").cast("long").alias("dim"),
            F.round(F.col("x").cast("double") * 1000000)
            .cast("long")
            .alias("v"),
        )
    )
    a = e.select("vec_id", F.col("dim").alias("di"), F.col("v").alias("vi"))
    b = e.select("vec_id", F.col("dim").alias("dj"), F.col("v").alias("vj"))
    pairs = a.join(b, "vec_id").where(F.col("di") <= F.col("dj"))
    return (
        pairs.groupBy("di", "dj")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("vi") * F.col("vj")).cast("long").alias(
                "sum_xixj_micro2"
            ),
        )
        .orderBy("di", "dj")
    )


# ---------------------------------------------------------------------------
# Distributed logistic-regression gradient step (the allreduce shape)
# ---------------------------------------------------------------------------

_LR_NUM, _LR_DEN = 1, 1000  # learning rate 0.001 as an exact ratio


@register(
    "ml_logreg_gradient_step",
    oracle=f"""
    WITH x AS (
      SELECT CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y,
             CAST(1 AS BIGINT) AS x0,
             CAST(ROUND(o_totalprice) AS BIGINT) AS x1,
             EXTRACT(MONTH FROM o_orderdate) AS x2
      FROM orders
    ),
    g AS (
      -- at w = 0 the sigmoid is EXACTLY 1/2, so the gradient
      -- sum_i x_ij * (sigma(w.x_i) - y_i) = sum x_ij * (1 - 2*y_i) / 2
      -- is exact integer arithmetic (doubled to stay integral)
      SELECT CAST(SUM(x0 * (1 - 2 * y)) AS BIGINT) AS g0_x2,
             CAST(SUM(x1 * (1 - 2 * y)) AS BIGINT) AS g1_x2,
             CAST(SUM(x2 * (1 - 2 * y)) AS BIGINT) AS g2_x2,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM x
    )
    SELECT n, g0_x2, g1_x2, g2_x2,
           -- w_new = -lr/n * grad, emitted in exact nano units:
           -- w_j_nano = -(g_j/2) * 1e9 * {_LR_NUM} // ({_LR_DEN} * n)
           -- HUGEINT: g1_x2 * 5e8 passes 2^63 once |g1| > 1.8e10
           -- (r7 sf0.5 sweep catch; n=750k orders puts g1 ~ 6e10)
           CAST(-(CAST(g0_x2 AS HUGEINT) * 500000000 * {_LR_NUM})
                // ({_LR_DEN} * n) AS BIGINT) AS w0_nano,
           CAST(-(CAST(g1_x2 AS HUGEINT) * 500000000 * {_LR_NUM})
                // ({_LR_DEN} * n) AS BIGINT) AS w1_nano,
           CAST(-(CAST(g2_x2 AS HUGEINT) * 500000000 * {_LR_NUM})
                // ({_LR_DEN} * n) AS BIGINT) AS w2_nano
    FROM g
    """,
    doc=(
        "One synchronous gradient-descent step of logistic regression "
        "computed DISTRIBUTIVELY — the allreduce shape every "
        "data-parallel trainer uses: per-row gradient contributions "
        "reduce in one partial+final aggregate (d+1 numbers of state), "
        "the driver applies the update. Starting at w=0 makes the "
        "sigmoid exactly 1/2, so this step is EXACT integer "
        "arithmetic end to end (gradients doubled, weights in floored "
        "nano-units with an exact-ratio learning rate) — hash-green "
        "proof of the distributed-gradient machinery; subsequent "
        "steps are float sigmoid evaluations over the same plan "
        "shape (cf. cluster_kmeans_embeddings for the float-iterate "
        "regime)."
    ),
    tags=("ml", "training", "gradient", "orders"),
)
def ml_logreg_gradient_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    x = o.select(
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
        F.lit(1).cast("long").alias("x0"),
        F.round("o_totalprice").cast("long").alias("x1"),
        F.month("o_orderdate").cast("long").alias("x2"),
    )
    s = F.lit(1) - 2 * F.col("y")
    g = x.agg(
        F.sum(F.col("x0") * s).cast("long").alias("g0_x2"),
        F.sum(F.col("x1") * s).cast("long").alias("g1_x2"),
        F.sum(F.col("x2") * s).cast("long").alias("g2_x2"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    def w(gc):
        # DuckDB `//` and Spark div() both TRUNCATE toward zero for
        # integers (pinned: SELECT (-7)//2 = -3), so plain div matches
        # DECIMAL(38,0): the g*5e8 product passes 2^63 at sf>=0.5
        # (r7 sweep catch); the quotient itself fits BIGINT
        return F.expr(
            f"div(-(CAST({gc} AS DECIMAL(38,0)) * 500000000 * {_LR_NUM}),"
            f" CAST({_LR_DEN} * n AS DECIMAL(38,0)))"
        ).cast("long")
    return g.select(
        "n",
        "g0_x2",
        "g1_x2",
        "g2_x2",
        w("g0_x2").alias("w0_nano"),
        w("g1_x2").alias("w1_nano"),
        w("g2_x2").alias("w2_nano"),
    )


# ---------------------------------------------------------------------------
# Precision-recall sweep (thresholded classifier readout)
# ---------------------------------------------------------------------------


@register(
    "ml_pr_curve_sweep",
    oracle="""
    WITH y AS (
      SELECT o_orderpriority, EXTRACT(YEAR FROM o_orderdate) AS yr,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    ),
    g AS (
      SELECT o_orderpriority, yr, CAST(COUNT(*) AS BIGINT) AS n_g,
             CAST(SUM(y) AS BIGINT) AS s_g
      FROM y GROUP BY o_orderpriority, yr
    ),
    scored AS (
      SELECT y.y,
             CAST(ROUND(CAST(g.s_g AS DOUBLE) / g.n_g * 1000000) AS BIGINT)
               AS score
      FROM y JOIN g USING (o_orderpriority, yr)
    ),
    tot AS (
      SELECT CAST(SUM(y) AS BIGINT) AS tot_pos,
             CAST(COUNT(*) AS BIGINT) AS tot
      FROM scored
    ),
    thresholds(t) AS (
      VALUES (100000), (200000), (300000), (400000), (500000),
             (600000), (700000), (800000), (900000)
    )
    SELECT t AS threshold_micro,
           CAST(COUNT(CASE WHEN s.score >= t AND s.y = 1 THEN 1 END)
                AS BIGINT) AS tp,
           CAST(COUNT(CASE WHEN s.score >= t AND s.y = 0 THEN 1 END)
                AS BIGINT) AS fp,
           CAST(MIN(tot.tot_pos)
                - COUNT(CASE WHEN s.score >= t AND s.y = 1 THEN 1 END)
                AS BIGINT) AS fn
    FROM scored s CROSS JOIN tot CROSS JOIN thresholds
    GROUP BY t ORDER BY t
    """,
    doc=(
        "Precision-recall sweep of the group-rate scorer at nine "
        "thresholds — with ml_auc_exact and "
        "ml_calibration_reliability this completes the classifier-"
        "eval triptych (ranking, calibration, operating points). "
        "Thresholds explode as a 9-row literal against the scored "
        "stream (one scan; the scored relation is the same broadcast-"
        "join shape as the other evals), counts are exact integers — "
        "precision/recall are left as tp/fp/fn so the consumer picks "
        "the division. At 100 TB: one aggregate at (threshold)-grain "
        "after a 9x fanout of the already-thin scored projection."
    ),
    tags=("ml", "evaluation", "pr-curve", "orders"),
)
def ml_pr_curve_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    y = o.select(
        "o_orderpriority",
        F.year("o_orderdate").alias("yr"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    g = y.groupBy("o_orderpriority", "yr").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("y").cast("long").alias("s_g"),
    )
    scored = y.join(F.broadcast(g), ["o_orderpriority", "yr"]).select(
        "y",
        F.round(F.col("s_g").cast("double") / F.col("n_g") * 1000000)
        .cast("long")
        .alias("score"),
    )
    tot = scored.agg(
        F.sum("y").cast("long").alias("tot_pos"),
        F.count(F.lit(1)).cast("long").alias("tot"),
    )
    thresholds = F.explode(
        F.array(*[F.lit(t * 100000) for t in range(1, 10)])
    ).alias("t")
    fanned = scored.crossJoin(F.broadcast(tot)).select(
        "y", "score", "tot_pos", thresholds
    )
    tp = F.count(F.when((F.col("score") >= F.col("t")) & (F.col("y") == 1), 1))
    fp = F.count(F.when((F.col("score") >= F.col("t")) & (F.col("y") == 0), 1))
    return (
        fanned.groupBy(F.col("t").alias("threshold_micro"))
        .agg(
            tp.cast("long").alias("tp"),
            fp.cast("long").alias("fp"),
            (F.min("tot_pos") - tp).cast("long").alias("fn"),
        )
        .orderBy("threshold_micro")
    )


# ---------------------------------------------------------------------------
# Poisson bootstrap confidence interval (deterministic hash resampling)
# ---------------------------------------------------------------------------

_BOOT_B = 20
# cumulative Poisson(1) thresholds in micro units: weight w is the
# smallest k with u < P(X <= k); plan-time literals, identical engines
_POIS_CUM_MICRO = (367879, 735759, 919699, 981012, 996340)


def _boot_weight_sql(u: str) -> str:
    whens = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_POIS_CUM_MICRO)
    )
    return f"CASE {whens} ELSE 5 END"


def _bags(n: int):
    """Bag ids 1..n as column ``b``: a narrow explode, no shuffle."""
    return F.explode(F.array(*[F.lit(b) for b in range(1, n + 1)])).alias("b")


def _poisson_weight(key: str):
    """Spark twin of ``_boot_weight_sql``: the Poisson(1) weight of row
    ``key`` in bag ``b``, drawn from u = md5(key-b) mod 1e6."""
    tag = F.concat(F.col(key).cast("string"), F.lit("-"), F.col("b").cast("string"))
    u = F.conv(F.substring(F.md5(tag), 1, 15), 16, 10).cast("long") % 1000000
    return F.coalesce(
        *[F.when(u < t, F.lit(k)) for k, t in enumerate(_POIS_CUM_MICRO)],
        F.lit(5),
    )


@register(
    "ml_poisson_bootstrap_ci",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    fanned AS (
      SELECT b.b, base.cents,
             CAST('0x' || substr(md5(CAST(base.o_orderkey AS VARCHAR)
                                     || '-' || CAST(b.b AS VARCHAR)), 1, 15)
                  AS BIGINT) % 1000000 AS u
      FROM base CROSS JOIN UNNEST(generate_series(1, {_BOOT_B})) AS b(b)
    ),
    reps AS (
      SELECT b,
             CAST(SUM(({_boot_weight_sql("u")}) * cents) AS BIGINT) AS ws,
             CAST(SUM({_boot_weight_sql("u")}) AS BIGINT) AS wn
      FROM fanned GROUP BY b
    ),
    means AS (
      SELECT b, CAST(ws // wn AS BIGINT) AS mean_cents,
             ROW_NUMBER() OVER (ORDER BY ws // wn, b) AS r
      FROM reps
    ),
    point AS (
      SELECT CAST(SUM(cents) // COUNT(*) AS BIGINT) AS point_mean_cents
      FROM base
    )
    SELECT point.point_mean_cents,
           CAST(MIN(CASE WHEN r = 2 THEN mean_cents END) AS BIGINT)
             AS ci_lo_cents,
           CAST(MIN(CASE WHEN r = {_BOOT_B - 1} THEN mean_cents END)
                AS BIGINT) AS ci_hi_cents,
           CAST(COUNT(*) AS BIGINT) AS n_replicates
    FROM means CROSS JOIN point
    GROUP BY point.point_mean_cents
    """,
    doc=(
        "Poisson bootstrap (Chamandy et al., the distributed "
        "bootstrap): each of 20 replicates re-weights every row by a "
        "Poisson(1) draw — no global resample, one fanout + one "
        "replicate-grain aggregate — and the replicate-mean spread "
        "gives the confidence interval (2nd/19th order statistics). "
        "Every draw is DETERMINISTIC: md5(key, replicate) maps to a "
        "uniform micro-int compared against plan-time cumulative-"
        "Poisson literals, so the whole resampling experiment is "
        "exact integer arithmetic and hash-green — reproducible "
        "error bars, the property production experimentation "
        "platforms need. 20x fanout of a 2-column projection is the "
        "entire cost at any scale."
    ),
    tags=("ml", "bootstrap", "statistics", "orders"),
)
def ml_poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    fanned = base.select("o_orderkey", "cents", _bags(_BOOT_B))
    wgt = _poisson_weight("o_orderkey")
    reps = fanned.groupBy("b").agg(
        F.sum(wgt * F.col("cents")).cast("long").alias("ws"),
        F.sum(wgt).cast("long").alias("wn"),
    )
    wr = Window.orderBy(F.expr("div(ws, wn)"), "b")
    means = reps.select(
        "b",
        F.expr("CAST(div(ws, wn) AS BIGINT)").alias("mean_cents"),
        F.row_number().over(wr).alias("r"),
    )
    point = base.agg(
        F.expr(
            "CAST(div(SUM(cents), COUNT(*)) AS BIGINT)"
        ).alias("point_mean_cents")
    )
    return (
        means.crossJoin(F.broadcast(point))
        .groupBy("point_mean_cents")
        .agg(
            F.min(F.when(F.col("r") == 2, F.col("mean_cents")))
            .cast("long")
            .alias("ci_lo_cents"),
            F.min(
                F.when(F.col("r") == _BOOT_B - 1, F.col("mean_cents"))
            )
            .cast("long")
            .alias("ci_hi_cents"),
            F.count(F.lit(1)).cast("long").alias("n_replicates"),
        )
        .select(
            "point_mean_cents", "ci_lo_cents", "ci_hi_cents", "n_replicates"
        )
    )


# --------------------------------------------------------------------------
# GBDT histogram building (approximate split finding, XGBoost-style)
# --------------------------------------------------------------------------


@register(
    "ml_gbdt_histogram_build",
    oracle="""
    WITH base AS (
      SELECT
        CAST(l_quantity AS BIGINT) AS qty,
        CAST(round(l_discount * 100) AS BIGINT) AS disc_pct,
        CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS g
      FROM lineitem
    ),
    binned AS (
      SELECT 'quantity' AS feature, qty // 5 AS bin, g FROM base
      UNION ALL
      SELECT 'discount' AS feature, disc_pct AS bin, g FROM base
    )
    SELECT feature, CAST(bin AS BIGINT) AS bin,
           CAST(SUM(g) AS BIGINT) AS sum_grad,
           CAST(COUNT(*) AS BIGINT) AS sum_hess,
           CAST(MIN(g) AS BIGINT) AS min_grad,
           CAST(MAX(g) AS BIGINT) AS max_grad
    FROM binned
    GROUP BY feature, bin
    """,
    doc=(
        "GBDT histogram building — the distributed primitive behind "
        "XGBoost/LightGBM approximate split finding (Chen & Guestrin "
        "2016 §3.3): bin every feature value, accumulate per-(feature, "
        "bin) gradient/hessian sufficient statistics, and the split "
        "scorer then scans O(bins) histograms instead of O(n) rows. "
        "One pass over the fact: the two feature columns unpivot via "
        "an inline stack (Expand — no second scan), then ONE "
        "partial+final aggregate on the (feature, bin) grain. At "
        "100 TB this is a linear scan with a bins-sized shuffle — the "
        "same plan a 1000-worker histogram build wants. Squared-error "
        "gradients stay integer cents, so the statistics are "
        "hash-exact."
    ),
    tags=("mllib", "training-pipeline", "lineitem", "scale"),
)
def ml_gbdt_histogram_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("qty"),
        F.round(F.col("l_discount") * 100).cast("long").alias("disc_pct"),
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
        .cast("long")
        .alias("g"),
    )
    binned = li.select(
        F.expr(
            "stack(2, 'quantity', qty div 5, g, 'discount', disc_pct, g)"
            " AS (feature, bin, g)"
        )
    )
    return binned.groupBy("feature", "bin").agg(
        F.sum("g").cast("long").alias("sum_grad"),
        F.count(F.lit(1)).cast("long").alias("sum_hess"),
        F.min("g").alias("min_grad"),
        F.max("g").alias("max_grad"),
    )


# --------------------------------------------------------------------------
# Batch classifier inference in logit space (quality-filter scoring)
# --------------------------------------------------------------------------

# "trained" weights in nano-units (e.g. one ml_logreg_gradient_step
# checkpoint) — literals so both engines score identically
_INF_W0 = -2_000_000_000  # bias
_INF_W1 = 11_000          # per rounded price unit
_INF_W2 = 95_000_000      # per order month


@register(
    "ml_logreg_inference_batch",
    oracle=f"""
    SELECT o_orderkey,
           CAST({_INF_W0}
                + {_INF_W1} * CAST(round(o_totalprice) AS BIGINT)
                + {_INF_W2} * CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT)
             AS BIGINT) AS z_nano,
           CASE WHEN {_INF_W0}
                     + {_INF_W1} * CAST(round(o_totalprice) AS BIGINT)
                     + {_INF_W2} * CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT)
                     > 0
                THEN 1 ELSE 0 END AS pred,
           CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS label
    FROM orders
    """,
    doc=(
        "Batch classifier inference — the scoring half of the "
        "quality-filter loop (ml_logreg_gradient_step trains, this "
        "applies): fixed nano-unit integer weights, the linear logit "
        "per row, and the decision sigmoid(z) > 0.5 taken EXACTLY as "
        "z > 0 (sigmoid is monotone, so thresholding in logit space "
        "avoids exp() and keeps the whole pass hash-exact). Pure "
        "whole-stage-codegen expressions over one scan — at 100 TB "
        "inference is a map-only pass at parquet scan speed, the "
        "throughput a fasttext-style corpus quality filter needs."
    ),
    tags=("mllib", "training-pipeline", "orders", "scale"),
)
def ml_logreg_inference_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    z = (
        F.lit(_INF_W0)
        + F.lit(_INF_W1) * F.round("o_totalprice").cast("long")
        + F.lit(_INF_W2) * F.month("o_orderdate").cast("long")
    ).cast("long")
    return o.select(
        "o_orderkey",
        z.alias("z_nano"),
        (z > 0).cast("int").alias("pred"),
        (F.col("o_orderstatus") == "F").cast("int").alias("label"),
    )


# --------------------------------------------------------------------------
# Mean reciprocal rank (search / recommender ranking eval)
# --------------------------------------------------------------------------


@register(
    "ml_mrr_ranking_eval",
    oracle="""
    WITH ranked AS (
      SELECT user_id, event_id, event_type,
             ROW_NUMBER() OVER (
               PARTITION BY user_id
               ORDER BY CAST(round(value * 100) AS BIGINT) DESC, event_id
             ) AS rk
      FROM events
    ),
    first_hit AS (
      SELECT user_id, MIN(rk) AS hit_rank
      FROM ranked WHERE event_type = 'purchase'
      GROUP BY user_id
    ),
    users AS (SELECT DISTINCT user_id FROM events)
    SELECT
      CAST(COUNT(*) AS BIGINT) AS n_users,
      CAST(COUNT(f.hit_rank) AS BIGINT) AS n_with_hit,
      CAST(SUM(COALESCE(1000000 // f.hit_rank, 0)) AS BIGINT)
        AS sum_rr_micro,
      CAST(SUM(CASE WHEN f.hit_rank <= 5 THEN 1 ELSE 0 END) AS BIGINT)
        AS hits_at_5
    FROM users u LEFT JOIN first_hit f ON f.user_id = u.user_id
    """,
    doc=(
        "Mean-reciprocal-rank / hit-rate ranking evaluation: per user, "
        "events rank by engagement value (deterministic tiebreak) as "
        "the 'retrieved list', the first purchase is the relevant hit, "
        "and the metrics are the exact integer micro reciprocal ranks "
        "plus hits@5 — MRR kept as a truncating rational (1e6 // rank) "
        "so no logs/floats enter (the NDCG discount's log2 would "
        "diverge cross-engine in the last ulp; RR carries the same "
        "signal exactly). Per-user windows partition by user — "
        "embarrassingly parallel — and the readout is one bounded "
        "summary row. The offline eval every retrieval/recsys change "
        "ships with."
    ),
    tags=("mllib", "ranking", "events"),
)
def ml_mrr_ranking_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.round(F.col("value") * 100).cast("long").desc(), "event_id"
    )
    ranked = ev.withColumn("rk", F.row_number().over(w))
    # round 10 (guide §2.4): every user appears in ranked, so the
    # distinct-users branch (a second scan + exchange) and its left
    # join are redundant — one conditional MIN per user over the SAME
    # window partitioning (no extra exchange) yields the identical
    # hit_rank, NULL for purchase-less users exactly like the join miss
    j = ranked.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("rk"))
        ).alias("hit_rank")
    )
    rr = F.when(
        F.col("hit_rank").isNotNull(),
        (
            (F.lit(1000000) - F.lit(1000000) % F.col("hit_rank"))
            / F.col("hit_rank")
        ).cast("long"),
    ).otherwise(0)
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.count("hit_rank").cast("long").alias("n_with_hit"),
        F.sum(rr).cast("long").alias("sum_rr_micro"),
        F.sum((F.col("hit_rank") <= 5).cast("long"))
        .cast("long")
        .alias("hits_at_5"),
    )


# --------------------------------------------------------------------------
# Linear-model feature contributions (explainability as a query)
# --------------------------------------------------------------------------


@register(
    "ml_linear_contributions",
    oracle=f"""
    WITH scored AS (
      SELECT o_orderkey,
             CAST({_INF_W1} * CAST(round(o_totalprice) AS BIGINT) AS BIGINT)
               AS c_price,
             CAST({_INF_W2} * CAST(EXTRACT(MONTH FROM o_orderdate) AS BIGINT)
                  AS BIGINT) AS c_month,
             CAST({_INF_W0} AS BIGINT) AS c_bias
      FROM orders
    )
    SELECT o_orderkey, c_bias, c_price, c_month,
           CAST(c_bias + c_price + c_month AS BIGINT) AS z_nano,
           CASE WHEN ABS(c_price) >= ABS(c_month) THEN 'price'
                ELSE 'month' END AS top_feature
    FROM scored
    """,
    doc=(
        "Per-row feature contributions for the linear quality filter — "
        "for a linear model the exact (Shapley-consistent) attribution "
        "of the score IS w_i * x_i, so explainability is pure codegen "
        "arithmetic: each row carries its bias/price/month nano-unit "
        "contributions, their sum (the logit "
        "ml_logreg_inference_batch thresholds), and the dominant "
        "feature. The audit surface a filtered-corpus review needs — "
        "'WHY was this document dropped' — at scan speed, no model "
        "server."
    ),
    tags=("mllib", "explainability", "orders", "scale"),
)
def ml_linear_contributions(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    c_price = (F.lit(_INF_W1) * F.round("o_totalprice").cast("long")).cast(
        "long"
    )
    c_month = (F.lit(_INF_W2) * F.month("o_orderdate").cast("long")).cast(
        "long"
    )
    return o.select(
        "o_orderkey",
        F.lit(_INF_W0).cast("long").alias("c_bias"),
        c_price.alias("c_price"),
        c_month.alias("c_month"),
        (F.lit(_INF_W0) + c_price + c_month).cast("long").alias("z_nano"),
        F.when(F.abs(c_price) >= F.abs(c_month), "price")
        .otherwise("month")
        .alias("top_feature"),
    )


# --------------------------------------------------------------------------
# Learning-curve subsampling (deterministic nested fractions)
# --------------------------------------------------------------------------


@register(
    "ml_learning_curve_subsample",
    oracle=f"""
    WITH h AS (
      SELECT o_orderkey,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS label,
             CASE WHEN {_INF_W0}
                       + {_INF_W1} * CAST(round(o_totalprice) AS BIGINT)
                       + {_INF_W2} * CAST(EXTRACT(MONTH FROM o_orderdate)
                                          AS BIGINT) > 0
                  THEN 1 ELSE 0 END AS pred,
             CAST('0x' || substr(md5('lc-' || CAST(o_orderkey AS VARCHAR)),
                                 1, 8) AS BIGINT) % 100 AS h_pct
      FROM orders
    ),
    fr(pct) AS (VALUES (10), (25), (50), (100))
    SELECT CAST(fr.pct AS BIGINT) AS pct,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(h.label) AS BIGINT) AS n_pos,
           CAST(SUM(CASE WHEN h.pred = h.label THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct
    FROM fr JOIN h ON h.h_pct < fr.pct
    GROUP BY fr.pct
    """,
    doc=(
        "Learning-curve evaluation over NESTED deterministic "
        "subsamples: the md5-hash percentile makes the 10% sample a "
        "strict subset of the 25%, of the 50%, of the full set (the "
        "property a curve needs — each point adds data, never swaps "
        "it), and per fraction the fixed classifier's accuracy counts "
        "reduce exactly. The 'is more data still buying accuracy' "
        "readout that sizes both corpus-collection budgets and "
        "training-token budgets; one scan joined to a 4-row literal "
        "fraction table, everything integer."
    ),
    tags=("mllib", "training-pipeline", "orders", "scale"),
)
def ml_learning_curve_subsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    z = (
        F.lit(_INF_W0)
        + F.lit(_INF_W1) * F.round("o_totalprice").cast("long")
        + F.lit(_INF_W2) * F.month("o_orderdate").cast("long")
    )
    h_pct = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("lc-"), F.col("o_orderkey").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    h = o.select(
        (F.col("o_orderstatus") == "F").cast("int").alias("label"),
        (z > 0).cast("int").alias("pred"),
        h_pct.alias("h_pct"),
    )
    fr = o.sparkSession.createDataFrame([(10,), (25,), (50,), (100,)], "pct int")
    return (
        h.join(F.broadcast(fr), F.col("h_pct") < F.col("pct"))
        .groupBy(F.col("pct").cast("long").alias("pct"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum("label").cast("long").alias("n_pos"),
            F.sum((F.col("pred") == F.col("label")).cast("long"))
            .cast("long")
            .alias("n_correct"),
        )
    )


# --------------------------------------------------------------------------
# Ranking eval: NDCG with harmonic (1/rank) discount, all-integer
# --------------------------------------------------------------------------

_NDCG_SCALE = 10**12
_NDCG_RATIO_SCALE = 10**5  # dcg_scaled tops out ~9e12; x1e5 stays in int64
_NDCG_K = 10


@register(
    "ml_ndcg_ranking_eval",
    oracle=f"""
    WITH ranked AS (
      SELECT user_id,
             CASE event_type WHEN 'purchase' THEN 3 WHEN 'signup' THEN 2
                  WHEN 'click' THEN 1 ELSE 0 END AS rel,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY value DESC, event_id
             ) AS pos
      FROM events
    ),
    topk AS (SELECT * FROM ranked WHERE pos <= {_NDCG_K}),
    ideal AS (
      SELECT user_id, rel,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY rel DESC, pos
             ) AS ipos
      FROM ranked
    ),
    dcg AS (
      SELECT user_id,
             SUM((rel * {_NDCG_SCALE}) // pos) AS dcg_scaled
      FROM topk GROUP BY user_id
    ),
    idcg AS (
      SELECT user_id,
             SUM((rel * {_NDCG_SCALE}) // ipos) AS idcg_scaled
      FROM ideal WHERE ipos <= {_NDCG_K} GROUP BY user_id
    )
    SELECT d.user_id,
           CAST(d.dcg_scaled AS BIGINT) AS dcg_scaled,
           CAST(i.idcg_scaled AS BIGINT) AS idcg_scaled,
           CAST(CASE WHEN i.idcg_scaled > 0
                THEN (d.dcg_scaled * {_NDCG_RATIO_SCALE}) // i.idcg_scaled
                ELSE 0 END AS BIGINT) AS ndcg_scaled
    FROM dcg d JOIN idcg i USING (user_id)
    ORDER BY user_id
    """,
    doc=(
        "Ranking-quality eval for a retrieval/recommender pipeline: "
        "NDCG@10 per user with the harmonic 1/rank discount variant, "
        "graded relevance from the event taxonomy (purchase=3, "
        "signup=2, click=1). Kept ALL-INTEGER (gains scaled by 1e12, "
        "floor-divided by rank, integer-summed) so the iterative-free "
        "metric is bit-exact across engines — the same scaled-integer "
        "discipline as graph_pagerank_trade. The ideal ranking "
        "re-ranks the user's own candidate set by relevance, so "
        "ndcg=SCALE means 'value ordering agrees with relevance "
        "ordering'. Scale shape: two windows over the same "
        "user-partitioned shuffle + one per-user aggregate; no "
        "cross-user state, embarrassingly parallel at 100 TB."
    ),
    tags=("mllib", "ranking", "events"),
)
def ml_ndcg_ranking_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    rel = (
        F.when(F.col("event_type") == "purchase", 3)
        .when(F.col("event_type") == "signup", 2)
        .when(F.col("event_type") == "click", 1)
        .otherwise(0)
        .cast("long")
    )
    ranked = ev.select(
        "user_id",
        rel.alias("rel"),
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id")))
        .alias("pos"),
    )
    # round 10 (guide §2.4): the dcg and idcg branches each re-ran the
    # scan + user_id window (subtrees are not CSE'd) and met again in a
    # join — but ipos is a second window over the SAME partitioning, so
    # one relation carrying (pos, ipos) feeds BOTH sums as conditional
    # aggregates: 2 scans + 4 Exchange + join → 1 scan + 1 Exchange +
    # 1 aggregate, no join. Equivalence: pos starts at 1 ≤ K for every
    # user, so both filtered sums were non-empty for every user (the
    # inner join kept all users) and sum(when(cond, x)) ≡ the filtered
    # sum exactly.
    both = ranked.select(
        "user_id",
        "rel",
        "pos",
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy(F.desc("rel"), F.asc("pos")))
        .alias("ipos"),
    )
    return (
        both.groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.col("pos") <= _NDCG_K,
                    F.expr(f"(rel * {_NDCG_SCALE}) div pos"),
                )
            )
            .cast("long")
            .alias("dcg_scaled"),
            F.sum(
                F.when(
                    F.col("ipos") <= _NDCG_K,
                    F.expr(f"(rel * {_NDCG_SCALE}) div ipos"),
                )
            )
            .cast("long")
            .alias("idcg_scaled"),
        )
        .select(
            "user_id",
            "dcg_scaled",
            "idcg_scaled",
            F.when(
                F.col("idcg_scaled") > 0,
                F.expr(f"(dcg_scaled * {_NDCG_RATIO_SCALE}) div idcg_scaled"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("ndcg_scaled"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# Multinomial Naive Bayes training (exact sufficient statistics)
# --------------------------------------------------------------------------

_NB_SCALE = 10**12


@register(
    "ml_naive_bayes_train",
    oracle=f"""
    WITH toks AS (
      SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    vocab AS (SELECT COUNT(DISTINCT token) AS v FROM toks),
    by_lang AS (SELECT lang, COUNT(*) AS lang_total FROM toks GROUP BY lang),
    counts AS (
      SELECT lang, token, COUNT(*) AS c FROM toks GROUP BY lang, token
    ),
    grid AS (
      SELECT l.lang, t.token, l.lang_total, v.v,
             COALESCE(c.c, 0) AS c
      FROM by_lang l
      CROSS JOIN (SELECT DISTINCT token FROM toks) t
      CROSS JOIN vocab v
      LEFT JOIN counts c ON c.lang = l.lang AND c.token = t.token
    )
    SELECT lang, token,
           CAST(c AS BIGINT) AS token_count,
           CAST(((c + 1) * {_NB_SCALE}) // (lang_total + v) AS BIGINT)
             AS prob_scaled,
           round(ln(CAST(c + 1 AS DOUBLE) / (lang_total + v)), 6) AS loglik
    FROM grid
    ORDER BY lang, token
    """,
    doc=(
        "Multinomial Naive Bayes TRAINING as a pure aggregation: "
        "token-given-language likelihoods with Laplace add-one "
        "smoothing over the full (lang x vocabulary) grid, so the "
        "model includes the zero-count cells a classifier needs at "
        "inference. Sufficient statistics are exact integer counts; "
        "the smoothed probability is pinned as a 1e12-scaled integer "
        "(pure int arithmetic, bit-exact) alongside the conventional "
        "log-likelihood (round 6). Scale: one explode + two grouped "
        "counts; the grid is |langs| x |V| — classifier-sized, not "
        "corpus-sized — built by crossing two broadcast-able "
        "aggregates. The NB trainer every spam/lang/quality filter "
        "pipeline starts from."
    ),
    tags=("mllib", "training-pipeline", "documents"),
)
def ml_naive_bayes_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents")
    toks = d.select(
        "lang", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    vocab = toks.agg(F.countDistinct("token").alias("v"))
    by_lang = toks.groupBy("lang").agg(F.count(F.lit(1)).alias("lang_total"))
    counts = toks.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("c"))
    tokens = toks.select("token").distinct()
    grid = (
        by_lang.crossJoin(F.broadcast(tokens))
        .crossJoin(F.broadcast(vocab))
        .join(counts, ["lang", "token"], "left")
        .select(
            "lang",
            "token",
            "lang_total",
            "v",
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
        )
    )
    return grid.select(
        "lang",
        "token",
        F.col("c").cast("long").alias("token_count"),
        F.expr(f"((c + 1) * {_NB_SCALE}) div (lang_total + v)")
        .cast("long")
        .alias("prob_scaled"),
        F.round(
            F.log((F.col("c") + 1).cast("double") / (F.col("lang_total") + F.col("v"))),
            6,
        ).alias("loglik"),
    ).orderBy("lang", "token")


# --------------------------------------------------------------------------
# Decision stump: exact best-split search via cumulative counts
# --------------------------------------------------------------------------

_GINI_SCALE = 10**8

# label sums of the split sweep: column -> (running sum up to the
# threshold, total of the node)
_SPLIT_SUMS = {"n": ("ln", "n_all"), "pos": ("lpos", "pos_all")}

# Weighted Gini of the split "value <= threshold", scaled by _GINI_SCALE,
# from the prefix sums (ln, lpos) and the node totals (n_all, pos_all).
# Every product runs in DECIMAL(38,0) (the oracles' HUGEINT; identical
# truncating div): the numerator 2*lpos*(ln-lpos)*SCALE leaves int64 once
# a side holds ~3e5 rows, and the window SUMs are LONG, so LONG ln*ln
# denominators raised ARITHMETIC_OVERFLOW once a side held ~3.04e9
# (weighted) rows — AdaBoost round-2 weights pushed n_all to ~1e10 at
# sf0.5. Only the result, at most SCALE, is cast back to BIGINT. A
# Poisson weight of 0 can leave the first threshold empty (ln = 0): its
# left term is 0, not a division by zero.
_GINI_SPARK = f"""CAST(
      (CASE WHEN ln = 0 THEN 0
            ELSE CAST(ln AS DECIMAL(38,0))
                 * ((CAST(2 AS DECIMAL(38,0)) * lpos * (ln - lpos)
                     * {_GINI_SCALE}) div (CAST(ln AS DECIMAL(38,0)) * ln)) END
       + CAST(n_all - ln AS DECIMAL(38,0)) *
         CASE WHEN n_all - ln = 0 THEN 0
              ELSE (CAST(2 AS DECIMAL(38,0)) * (pos_all - lpos)
                    * ((n_all - ln) - (pos_all - lpos)) * {_GINI_SCALE})
                   div (CAST(n_all - ln AS DECIMAL(38,0)) * (n_all - ln)) END
      ) div n_all AS BIGINT)"""


def _prefix_sums(
    df: DataFrame, keys: list[str], order: str, cols: dict[str, tuple[str, str]]
) -> DataFrame:
    """Add, for each ``cols`` entry ``c: (run, total)``, the running sum
    of ``c`` over ``keys`` ordered by ``order`` and its total over
    ``keys``. Both come from one window partition: the totals need no
    aggregate and no join of their own. ``order`` is unique within
    ``keys`` (the callers sum histograms)."""
    w = Window.partitionBy(*keys).orderBy(order)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    whole = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return df.select(
        "*",
        *[F.sum(c).over(run).alias(r) for c, (r, _) in cols.items()],
        *[F.sum(c).over(whole).alias(t) for c, (_, t) in cols.items()],
    )


def _gini_sweep(df: DataFrame, keys: list[str], order: str, w) -> DataFrame:
    """The exact sort-and-scan split finder: per ``keys``, the histogram
    of row weight ``w`` (n) and positive weight ``w * y`` (pos) over
    ``order``, its prefix sums, and ``gini_scaled`` of every threshold
    that leaves weight on the right."""
    hist = df.groupBy(*keys, order).agg(
        F.sum(w).alias("n"), F.sum(w * F.col("y")).alias("pos")
    )
    return (
        _prefix_sums(hist, keys, order, _SPLIT_SUMS)
        .filter(F.col("ln") < F.col("n_all"))
        .withColumn("gini_scaled", F.expr(_GINI_SPARK))
    )


def _best_split(scored: DataFrame, keys: list[str], *cols: str) -> DataFrame:
    """Per ``keys``, the row of ``scored`` least in (gini_scaled, *cols):
    ``keys``, ``gini_scaled`` and ``cols``."""
    best = F.min(F.struct("gini_scaled", *cols)).alias("best")
    return scored.groupBy(*keys).agg(best).select(*keys, "best.*")


@register(
    "ml_decision_stump_exact",
    oracle=f"""
    WITH labeled AS (
      SELECT p_size, CASE WHEN p_retailprice > 950 THEN 1 ELSE 0 END AS y
      FROM part
    ),
    per_size AS (
      SELECT p_size, COUNT(*) AS n, SUM(y) AS pos
      FROM labeled GROUP BY p_size
    ),
    tot AS (SELECT SUM(n) AS n_all, SUM(pos) AS pos_all FROM per_size),
    cum AS (
      SELECT p_size,
             SUM(n) OVER (ORDER BY p_size) AS ln,
             SUM(pos) OVER (ORDER BY p_size) AS lpos
      FROM per_size
    ),
    scored AS (
      SELECT c.p_size AS threshold,
             CAST(c.ln AS BIGINT) AS n_left,
             CAST(c.lpos AS BIGINT) AS pos_left,
             CAST(
               (c.ln * ((CAST(2 AS HUGEINT) * c.lpos * (c.ln - c.lpos)
                         * {_GINI_SCALE}) // (c.ln * c.ln))
                + (t.n_all - c.ln) *
                  CASE WHEN t.n_all - c.ln = 0 THEN 0
                       ELSE (CAST(2 AS HUGEINT) * (t.pos_all - c.lpos)
                             * ((t.n_all - c.ln) - (t.pos_all - c.lpos))
                             * {_GINI_SCALE})
                            // ((t.n_all - c.ln) * (t.n_all - c.ln)) END
               ) // t.n_all AS BIGINT) AS gini_scaled
      FROM cum c CROSS JOIN tot t
      WHERE c.ln < t.n_all
    ),
    best AS (
      SELECT gini_scaled AS bg, threshold AS bt
      FROM scored ORDER BY gini_scaled, threshold LIMIT 1
    )
    SELECT threshold, n_left, pos_left, gini_scaled,
           CAST(CASE WHEN gini_scaled = b.bg AND threshold = b.bt
                THEN 1 ELSE 0 END AS BIGINT) AS is_best
    FROM scored CROSS JOIN best b
    ORDER BY threshold
    """,
    doc=(
        "Exact decision-stump training: the full candidate-split "
        "sweep over a feature, computed from ONE grouped count + one "
        "cumulative window — the classic 'sort-and-scan' exact split "
        "finder, expressed relationally so no per-threshold rescan "
        "happens (the naive form is O(|thresholds| x |rows|); this is "
        "O(|rows|) + O(|thresholds|) window). Weighted Gini impurity "
        "is kept as a 1e8-scaled integer (pure int multiply/floor-div "
        "from exact counts -> bit-exact parity); is_best marks the "
        "argmin with a deterministic (gini, threshold) tiebreak. "
        "Companion to ml_gbdt_histogram_build: that builds the "
        "histograms, this finds the split."
    ),
    tags=("mllib", "training-pipeline", "part"),
)
def ml_decision_stump_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    labeled = table(spark, sf_dir, "part").select(
        "p_size", (F.col("p_retailprice") > 950).cast("long").alias("y")
    )
    scored = _gini_sweep(labeled, [], "p_size", F.lit(1))
    best = _best_split(scored, [], "p_size").select(
        F.col("gini_scaled").alias("bg"), F.col("p_size").alias("bt")
    )
    return (
        scored.crossJoin(F.broadcast(best))
        .select(
            F.col("p_size").alias("threshold"),
            F.col("ln").cast("long").alias("n_left"),
            F.col("lpos").cast("long").alias("pos_left"),
            "gini_scaled",
            ((F.col("gini_scaled") == F.col("bg")) & (F.col("p_size") == F.col("bt")))
            .cast("long")
            .alias("is_best"),
        )
        .orderBy("threshold")
    )


# --------------------------------------------------------------------------
# Mean Average Precision @ k, all-integer
# --------------------------------------------------------------------------

_MAP_SCALE = 10**12
_MAP_K = 10


@register(
    "ml_map_at_k_eval",
    oracle=f"""
    WITH ranked AS (
      SELECT user_id,
             CASE WHEN event_type IN ('purchase', 'signup') THEN 1 ELSE 0 END
               AS rel,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY value DESC, event_id
             ) AS pos
      FROM events
    ),
    topk AS (
      SELECT user_id, rel, pos,
             SUM(rel) OVER (
               PARTITION BY user_id ORDER BY pos
             ) AS cum_rel
      FROM ranked WHERE pos <= {_MAP_K}
    ),
    ap AS (
      SELECT user_id,
             SUM(CASE WHEN rel = 1
                 THEN (cum_rel * {_MAP_SCALE}) // pos ELSE 0 END) AS ap_num,
             SUM(rel) AS r_hits
      FROM topk GROUP BY user_id
    ),
    rtot AS (
      SELECT user_id, SUM(rel) AS n_rel FROM ranked GROUP BY user_id
    )
    SELECT a.user_id,
           CAST(a.r_hits AS BIGINT) AS hits_at_k,
           CAST(r.n_rel AS BIGINT) AS n_relevant,
           CAST(CASE WHEN LEAST(r.n_rel, {_MAP_K}) > 0
                THEN a.ap_num // LEAST(r.n_rel, {_MAP_K}) ELSE 0 END
                AS BIGINT) AS ap_scaled
    FROM ap a JOIN rtot r ON a.user_id = r.user_id
    ORDER BY a.user_id
    """,
    doc=(
        "Average Precision @ 10 per user — with ml_mrr_ranking_eval "
        "and ml_ndcg_ranking_eval this completes the standard "
        "retrieval-eval triple. Binary relevance from the event "
        "taxonomy; precision@k accumulates as a running-relevant "
        "window count, AP sums precision at each hit position and "
        "normalizes by min(R, k). All-integer (1e12-scaled floor "
        "division of exact counts) = bit-exact parity. One "
        "user-partitioned window pass + two per-user aggregates; "
        "embarrassingly parallel."
    ),
    tags=("mllib", "ranking", "events"),
)
def ml_map_at_k_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    rel = F.col("event_type").isin("purchase", "signup").cast("long")
    ranked = ev.select(
        "user_id",
        rel.alias("rel"),
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id")))
        .alias("pos"),
    )
    # round 10 (guide §2.4): the ap and rtot branches each re-ran the
    # scan + pos window and met in a join. cum_rel over the UNFILTERED
    # relation equals the filtered running sum for every pos ≤ K row
    # (it only looks backward, and all lower pos are in the top-k), so
    # one relation carrying (pos, cum_rel) feeds ap_num, r_hits AND
    # n_rel as conditional aggregates over the same window
    # partitioning: 2 scans + 4 Exchange + join → 1 scan + 2 Exchange,
    # no join.
    both = ranked.select(
        "user_id",
        "rel",
        "pos",
        F.sum("rel")
        .over(
            Window.partitionBy("user_id")
            .orderBy("pos")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .alias("cum_rel"),
    )
    ap = both.groupBy("user_id").agg(
        F.sum(
            F.when(
                (F.col("pos") <= _MAP_K) & (F.col("rel") == 1),
                F.expr(f"(cum_rel * {_MAP_SCALE}) div pos"),
            ).otherwise(0)
        ).alias("ap_num"),
        F.sum(
            F.when(F.col("pos") <= _MAP_K, F.col("rel")).otherwise(0)
        ).alias("r_hits"),
        F.sum("rel").alias("n_rel"),
    )
    return (
        ap
        .select(
            "user_id",
            F.col("r_hits").cast("long").alias("hits_at_k"),
            F.col("n_rel").cast("long").alias("n_relevant"),
            F.when(
                F.least(F.col("n_rel"), F.lit(_MAP_K)) > 0,
                F.expr(f"ap_num div LEAST(n_rel, {_MAP_K})"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("ap_scaled"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# Weight-of-evidence feature encoding (credit-scoring standard)
# --------------------------------------------------------------------------

_WOE_S = 10**12


@register(
    "ml_woe_encoding",
    oracle=f"""
    WITH labeled AS (
      SELECT o_orderpriority AS bin,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    ),
    per_bin AS (
      SELECT bin, SUM(y) AS pos, COUNT(*) - SUM(y) AS neg
      FROM labeled GROUP BY bin
    ),
    tot AS (SELECT SUM(pos) AS pos_t, SUM(neg) AS neg_t FROM per_bin)
    SELECT b.bin,
           CAST(b.pos AS BIGINT) AS n_pos,
           CAST(b.neg AS BIGINT) AS n_neg,
           CAST((b.pos * {_WOE_S}) // t.pos_t AS BIGINT) AS pos_share_scaled,
           CAST((b.neg * {_WOE_S}) // t.neg_t AS BIGINT) AS neg_share_scaled,
           round(ln((CAST(b.pos AS DOUBLE) * t.neg_t)
                    / (CAST(b.neg AS DOUBLE) * t.pos_t)), 6) AS woe
    FROM per_bin b CROSS JOIN tot t
    ORDER BY bin
    """,
    doc=(
        "Weight-of-evidence encoding of a categorical feature against "
        "a binary target — the credit-scoring/risk standard that "
        "target-encodes with the log-odds RATIO (robust to base-rate "
        "shift, unlike the raw mean ml_target_encoding pins): "
        "woe_b = ln((pos_b/pos_tot)/(neg_b/neg_tot)). Bin counts and "
        "1e12-scaled shares are exact integers; the log-odds is "
        "computed from exact integer cross-products (pos_b*neg_tot / "
        "neg_b*pos_tot — one division, not four) and pinned at 6 "
        "decimals. One partial+final aggregate to bin grain + a "
        "broadcast 1-row total; encoder-table-sized output."
    ),
    tags=("mllib", "training-pipeline", "orders"),
)
def ml_woe_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    labeled = o.select(
        F.col("o_orderpriority").alias("bin"),
        (F.col("o_orderstatus") == "F").cast("long").alias("y"),
    )
    per_bin = labeled.groupBy("bin").agg(
        F.sum("y").alias("pos"),
        (F.count(F.lit(1)) - F.sum("y")).alias("neg"),
    )
    tot = per_bin.agg(F.sum("pos").alias("pos_t"), F.sum("neg").alias("neg_t"))
    return (
        per_bin.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            F.col("pos").cast("long").alias("n_pos"),
            F.col("neg").cast("long").alias("n_neg"),
            F.expr(f"(pos * {_WOE_S}) div pos_t").cast("long").alias(
                "pos_share_scaled"
            ),
            F.expr(f"(neg * {_WOE_S}) div neg_t").cast("long").alias(
                "neg_share_scaled"
            ),
            F.round(
                F.log(
                    (F.col("pos").cast("double") * F.col("neg_t"))
                    / (F.col("neg").cast("double") * F.col("pos_t"))
                ),
                6,
            ).alias("woe"),
        )
        .orderBy("bin")
    )


# --------------------------------------------------------------------------
# Active learning: uncertainty-sampling labeling queue
# --------------------------------------------------------------------------

_AL_BATCH = 25


@register(
    "ml_uncertainty_sampling_rank",
    oracle=f"""
    WITH scored AS (
      SELECT o_orderkey,
             CAST({_INF_W0}
                  + {_INF_W1} * CAST(round(o_totalprice) AS BIGINT)
                  + {_INF_W2} * CAST(month(o_orderdate) AS BIGINT)
               AS BIGINT) AS z_nano
      FROM orders
    ),
    ranked AS (
      SELECT o_orderkey, z_nano, abs(z_nano) AS margin_nano,
             ROW_NUMBER() OVER (
               ORDER BY abs(z_nano), o_orderkey
             ) AS queue_pos
      FROM scored
    )
    SELECT o_orderkey, z_nano,
           CAST(margin_nano AS BIGINT) AS margin_nano,
           CAST(queue_pos AS BIGINT) AS queue_pos
    FROM ranked WHERE queue_pos <= {_AL_BATCH}
    ORDER BY queue_pos
    """,
    doc=(
        "Active-learning labeling queue by UNCERTAINTY SAMPLING: "
        "score the unlabeled pool with the fixed linear model "
        "(ml_logreg_inference_batch's exact integer decision "
        "function), rank by |margin| ascending — the rows the model "
        "is least sure about are exactly the rows worth human labels "
        "— and emit the next annotation batch. The data-flywheel "
        "selection step between inference and retraining. The global "
        "bottom-k is a TakeOrderedAndProject (per-partition top-k + "
        "driver merge of k*partitions rows), never a full sort."
    ),
    tags=("mllib", "training-pipeline", "orders"),
)
def ml_uncertainty_sampling_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    z = (
        F.lit(_INF_W0)
        + F.lit(_INF_W1) * F.round("o_totalprice").cast("long")
        + F.lit(_INF_W2) * F.month("o_orderdate").cast("long")
    ).cast("long")
    scored = o.select("o_orderkey", z.alias("z_nano")).withColumn(
        "margin_nano", F.abs(F.col("z_nano"))
    )
    # bottom-k via orderBy+limit => TakeOrderedAndProject, then the
    # queue position is re-derived on the k collected rows only
    batch = scored.orderBy("margin_nano", "o_orderkey").limit(_AL_BATCH)
    w = Window.orderBy("margin_nano", "o_orderkey")
    return batch.select(
        "o_orderkey",
        "z_nano",
        F.col("margin_nano").cast("long").alias("margin_nano"),
        F.row_number().over(w).cast("long").alias("queue_pos"),
    ).orderBy("queue_pos")


# --------------------------------------------------------------------------
# Grouped multi-feature OLS: distributed sufficient stats -> in-plan solve
# --------------------------------------------------------------------------


@register(
    "ml_grouped_ols_multifeature",
    oracle="""
    WITH stats AS (
      SELECT l_returnflag AS grp,
             COUNT(*) AS n,
             (CAST(FLOOR(SUM(CAST(l_quantity AS DECIMAL(22,8)))) AS DOUBLE)
              + CAST(SUM(CAST(l_quantity AS DECIMAL(22,8)))
                     - FLOOR(SUM(CAST(l_quantity AS DECIMAL(22,8)))) AS DOUBLE))
               AS s1,
             (CAST(FLOOR(SUM(CAST(l_discount AS DECIMAL(22,8)))) AS DOUBLE)
              + CAST(SUM(CAST(l_discount AS DECIMAL(22,8)))
                     - FLOOR(SUM(CAST(l_discount AS DECIMAL(22,8)))) AS DOUBLE))
               AS s2,
             (CAST(FLOOR(SUM(CAST(l_extendedprice AS DECIMAL(22,8)))) AS DOUBLE)
              + CAST(SUM(CAST(l_extendedprice AS DECIMAL(22,8)))
                     - FLOOR(SUM(CAST(l_extendedprice AS DECIMAL(22,8)))) AS DOUBLE))
               AS sy,
             (CAST(FLOOR(SUM(CAST(l_quantity AS DECIMAL(22,8))
                             * CAST(l_quantity AS DECIMAL(22,8)))) AS DOUBLE)
              + CAST(SUM(CAST(l_quantity AS DECIMAL(22,8))
                         * CAST(l_quantity AS DECIMAL(22,8)))
                     - FLOOR(SUM(CAST(l_quantity AS DECIMAL(22,8))
                                 * CAST(l_quantity AS DECIMAL(22,8)))) AS DOUBLE))
               AS s11,
             (CAST(FLOOR(SUM(CAST(l_quantity AS DECIMAL(22,8))
                             * CAST(l_discount AS DECIMAL(22,8)))) AS DOUBLE)
              + CAST(SUM(CAST(l_quantity AS DECIMAL(22,8))
                         * CAST(l_discount AS DECIMAL(22,8)))
                     - FLOOR(SUM(CAST(l_quantity AS DECIMAL(22,8))
                                 * CAST(l_discount AS DECIMAL(22,8)))) AS DOUBLE))
               AS s12,
             (CAST(FLOOR(SUM(CAST(l_discount AS DECIMAL(22,8))
                             * CAST(l_discount AS DECIMAL(22,8)))) AS DOUBLE)
              + CAST(SUM(CAST(l_discount AS DECIMAL(22,8))
                         * CAST(l_discount AS DECIMAL(22,8)))
                     - FLOOR(SUM(CAST(l_discount AS DECIMAL(22,8))
                                 * CAST(l_discount AS DECIMAL(22,8)))) AS DOUBLE))
               AS s22,
             (CAST(FLOOR(SUM(CAST(l_quantity AS DECIMAL(22,8))
                             * CAST(l_extendedprice AS DECIMAL(22,8)))) AS DOUBLE)
              + CAST(SUM(CAST(l_quantity AS DECIMAL(22,8))
                         * CAST(l_extendedprice AS DECIMAL(22,8)))
                     - FLOOR(SUM(CAST(l_quantity AS DECIMAL(22,8))
                                 * CAST(l_extendedprice AS DECIMAL(22,8)))) AS DOUBLE))
               AS s1y,
             (CAST(FLOOR(SUM(CAST(l_discount AS DECIMAL(22,8))
                             * CAST(l_extendedprice AS DECIMAL(22,8)))) AS DOUBLE)
              + CAST(SUM(CAST(l_discount AS DECIMAL(22,8))
                         * CAST(l_extendedprice AS DECIMAL(22,8)))
                     - FLOOR(SUM(CAST(l_discount AS DECIMAL(22,8))
                                 * CAST(l_extendedprice AS DECIMAL(22,8)))) AS DOUBLE))
               AS s2y
      FROM lineitem GROUP BY l_returnflag
    ),
    centered AS (
      SELECT grp, n,
             s11 - s1 * s1 / n AS a11,
             s12 - s1 * s2 / n AS a12,
             s22 - s2 * s2 / n AS a22,
             s1y - s1 * sy / n AS b1,
             s2y - s2 * sy / n AS b2,
             s1, s2, sy
      FROM stats
    )
    SELECT grp,
           CAST(n AS BIGINT) AS n,
           round((b1 * a22 - b2 * a12) / (a11 * a22 - a12 * a12), 6)
             AS beta_quantity,
           round((b2 * a11 - b1 * a12) / (a11 * a22 - a12 * a12), 6)
             AS beta_discount,
           round(sy / n
                 - ((b1 * a22 - b2 * a12) / (a11 * a22 - a12 * a12)) * (s1 / n)
                 - ((b2 * a11 - b1 * a12) / (a11 * a22 - a12 * a12)) * (s2 / n),
                 6) AS intercept
    FROM centered
    ORDER BY grp
    """,
    doc=(
        "Per-group TWO-feature OLS (price ~ quantity + discount) "
        "solved IN-PLAN by Cramer's rule on the centered normal "
        "equations — the general 'distributed sufficient statistics "
        "-> closed-form solve' pattern that price_trend_ols shows for "
        "one feature and ml_embedding_covariance_matrix feeds for d "
        "features. All nine power sums accumulate as exact decimals "
        "(order-independent); the 2x2 solve is one identical IEEE "
        "double tree on the per-group row, so coefficients match the "
        "oracle bit-for-bit before the 6-decimal pin. One "
        "partial+final aggregate; no second pass, no driver math."
    ),
    tags=("mllib", "regression", "lineitem", "scale"),
)
def ml_grouped_ols_multifeature(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dmi_ingestor_spark.functions.exact import DEC, dec_to_double

    li = table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast(DEC)
    d = F.col("l_discount").cast(DEC)
    y = F.col("l_extendedprice").cast(DEC)
    stats = li.groupBy(F.col("l_returnflag").alias("grp")).agg(
        F.count(F.lit(1)).alias("n"),
        dec_to_double(F.sum(q)).alias("s1"),
        dec_to_double(F.sum(d)).alias("s2"),
        dec_to_double(F.sum(y)).alias("sy"),
        dec_to_double(F.sum(q * q)).alias("s11"),
        dec_to_double(F.sum(q * d)).alias("s12"),
        dec_to_double(F.sum(d * d)).alias("s22"),
        dec_to_double(F.sum(q * y)).alias("s1y"),
        dec_to_double(F.sum(d * y)).alias("s2y"),
    )
    centered = stats.select(
        "grp",
        "n",
        (F.col("s11") - F.col("s1") * F.col("s1") / F.col("n")).alias("a11"),
        (F.col("s12") - F.col("s1") * F.col("s2") / F.col("n")).alias("a12"),
        (F.col("s22") - F.col("s2") * F.col("s2") / F.col("n")).alias("a22"),
        (F.col("s1y") - F.col("s1") * F.col("sy") / F.col("n")).alias("b1"),
        (F.col("s2y") - F.col("s2") * F.col("sy") / F.col("n")).alias("b2"),
        "s1",
        "s2",
        "sy",
    )
    det = F.col("a11") * F.col("a22") - F.col("a12") * F.col("a12")
    beta1 = (F.col("b1") * F.col("a22") - F.col("b2") * F.col("a12")) / det
    beta2 = (F.col("b2") * F.col("a11") - F.col("b1") * F.col("a12")) / det
    return centered.select(
        "grp",
        F.col("n").cast("long").alias("n"),
        F.round(beta1, 6).alias("beta_quantity"),
        F.round(beta2, 6).alias("beta_discount"),
        F.round(
            F.col("sy") / F.col("n")
            - beta1 * (F.col("s1") / F.col("n"))
            - beta2 * (F.col("s2") / F.col("n")),
            6,
        ).alias("intercept"),
    ).orderBy("grp")


# --------------------------------------------------------------------------
# Split-conformal prediction interval (distribution-free coverage)
# --------------------------------------------------------------------------

_CONF_ALPHA_NUM, _CONF_ALPHA_DEN = 1, 10  # alpha = 0.1 -> 90% target
_CONF_W0 = 120_000
_CONF_W1 = 4_000  # pred = W0 + W1 * month  (fixed toy regressor, dollars)
_CONF_S = 10**6


@register(
    "ml_conformal_prediction_interval",
    oracle=f"""
    WITH scored AS (
      SELECT o_orderkey,
             CAST(concat('0x', substr(md5(concat('cp-',
                    CAST(o_orderkey AS VARCHAR))), 1, 8)) AS BIGINT) % 10
               AS fold,
             abs(CAST(round(o_totalprice) AS BIGINT)
                 - ({_CONF_W0} + {_CONF_W1} * month(o_orderdate))) AS r
      FROM orders
    ),
    cal AS (SELECT r FROM scored WHERE fold = 8),
    tst AS (SELECT r FROM scored WHERE fold = 9),
    n AS (SELECT COUNT(*) AS n_cal FROM cal),
    k AS (
      SELECT n_cal,
             CAST(LEAST(
               ceil((n_cal + 1) * ({_CONF_ALPHA_DEN} - {_CONF_ALPHA_NUM})
                    / {_CONF_ALPHA_DEN}.0),
               n_cal) AS BIGINT) AS k_stat
      FROM n
    ),
    qhat AS (
      SELECT k.n_cal, k.k_stat,
             (SELECT r FROM cal ORDER BY r
              LIMIT 1 OFFSET (SELECT LEAST(k_stat, n_cal) - 1 FROM k))
               AS q_hat
      FROM k
    )
    SELECT CAST(q.n_cal AS BIGINT) AS n_cal,
           CAST(q.k_stat AS BIGINT) AS k_stat,
           CAST(q.q_hat AS BIGINT) AS q_hat,
           CAST((SELECT COUNT(*) FROM tst) AS BIGINT) AS n_test,
           CAST((SELECT COUNT(*) FROM tst WHERE r <= q.q_hat) AS BIGINT)
             AS n_covered,
           CAST(((SELECT COUNT(*) FROM tst WHERE r <= q.q_hat) * {_CONF_S})
                // (SELECT COUNT(*) FROM tst) AS BIGINT) AS coverage_scaled
    FROM qhat q
    """,
    doc=(
        "SPLIT-CONFORMAL prediction interval — the distribution-free "
        "uncertainty wrapper (Vovk; Angelopoulos & Bates) modern ML "
        "serving puts around any point model: q_hat is the "
        "ceil((n+1)(1-alpha))-th order statistic of calibration-fold "
        "absolute residuals, and the guarantee is test coverage >= "
        "90% regardless of the model or distribution. Folds come "
        "from the deterministic md5 split; the order statistic is "
        "selected by EXACT sharded global rank (no SinglePartition "
        "sort, no approx percentile — the guarantee is exact, so the "
        "quantile must be); coverage is audited on the held-out fold "
        "as scaled integers. One scan + one rank + two 1-row "
        "aggregates."
    ),
    tags=("mllib", "uncertainty", "orders", "scale"),
)
def ml_conformal_prediction_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math as _m

    from dmi_ingestor_spark.operators.ranks import sharded_row_number

    o = table(spark, sf_dir, "orders")
    fold = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("cp-"), F.col("o_orderkey").cast("string")
                    ).cast("binary")
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 10
    )
    r = F.abs(
        F.round("o_totalprice").cast("long")
        - (F.lit(_CONF_W0) + F.lit(_CONF_W1) * F.month("o_orderdate"))
    )
    scored = o.select(fold.alias("fold"), r.alias("r"), "o_orderkey")
    cal = scored.filter(F.col("fold") == 8).select("r", "o_orderkey")
    tst = scored.filter(F.col("fold") == 9).select("r")
    ranked, n_cal = sharded_row_number(cal, ["r", "o_orderkey"], out="rk")
    k_stat = min(
        _m.ceil(
            (n_cal + 1) * (_CONF_ALPHA_DEN - _CONF_ALPHA_NUM) / _CONF_ALPHA_DEN
        ),
        n_cal,
    )
    qhat = ranked.filter(F.col("rk") == k_stat).select(
        F.col("r").alias("q_hat")
    )
    cov = (
        tst.crossJoin(F.broadcast(qhat))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum((F.col("r") <= F.col("q_hat")).cast("long"))
            .cast("long")
            .alias("n_covered"),
            F.max("q_hat").cast("long").alias("q_hat"),
        )
    )
    return cov.select(
        F.lit(n_cal).cast("long").alias("n_cal"),
        F.lit(k_stat).cast("long").alias("k_stat"),
        "q_hat",
        "n_test",
        "n_covered",
        F.expr(f"(n_covered * {_CONF_S}) div n_test")
        .cast("long")
        .alias("coverage_scaled"),
    )


# --------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov drift statistic (binned, all-integer)
# --------------------------------------------------------------------------

_KS_S = 10**9
_KS_BIN = 100  # dollars per bin


@register(
    "ml_ks_drift_binned",
    oracle=f"""
    WITH binned AS (
      SELECT CAST(round(o_totalprice) AS BIGINT) // {_KS_BIN} AS b,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS s1,
             CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END AS s2
      FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
    ),
    per_bin AS (
      SELECT b, SUM(s1) AS c1, SUM(s2) AS c2 FROM binned GROUP BY b
    ),
    tot AS (SELECT SUM(c1) AS n1, SUM(c2) AS n2 FROM per_bin),
    cum AS (
      SELECT b,
             SUM(c1) OVER (ORDER BY b) AS f1,
             SUM(c2) OVER (ORDER BY b) AS f2
      FROM per_bin
    ),
    d AS (
      SELECT MAX(abs(f1 * t.n2 - f2 * t.n1)) AS d_num,
             MIN(CASE WHEN abs(f1 * t.n2 - f2 * t.n1) = (
                   SELECT MAX(abs(f1 * t2.n2 - f2 * t2.n1))
                   FROM cum CROSS JOIN tot t2)
                 THEN b END) AS d_bin
      FROM cum CROSS JOIN tot t
    )
    SELECT CAST(t.n1 AS BIGINT) AS n1,
           CAST(t.n2 AS BIGINT) AS n2,
           CAST(d.d_num AS BIGINT) AS d_num,
           CAST(d.d_bin AS BIGINT) AS d_argmax_bin,
           CAST((d.d_num * {_KS_S}) // (t.n1 * t.n2) AS BIGINT) AS d_scaled
    FROM d CROSS JOIN tot t
    """,
    doc=(
        "Two-sample Kolmogorov-Smirnov drift statistic between the "
        "urgent and low-priority price distributions, on a fixed "
        f"{_KS_BIN}-dollar binning: D = max |F1 - F2| over the merged "
        "support, kept ALL-INTEGER with the common-denominator trick "
        "(|f1*n2 - f2*n1|, scaled by 1e9 only at the end) plus the "
        "argmax bin — WHERE the distributions diverge most, which is "
        "what a drift investigation actually asks. Completes the "
        "drift toolkit: PSI (binned likelihood ratio), chi-squared "
        "(counts), KS (CDF distance). The cumulative window runs "
        "over the O(price-domain / bin) summary — bounded by "
        "construction, stated in the allowlist."
    ),
    tags=("mllib", "drift", "orders"),
)
def ml_ks_drift_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority").isin("1-URGENT", "5-LOW")
    )
    binned = o.select(
        F.expr(f"CAST(round(o_totalprice) AS BIGINT) div {_KS_BIN}").alias("b"),
        (F.col("o_orderpriority") == "1-URGENT").cast("long").alias("s1"),
        (F.col("o_orderpriority") == "5-LOW").cast("long").alias("s2"),
    )
    per_bin = binned.groupBy("b").agg(
        F.sum("s1").alias("c1"), F.sum("s2").alias("c2")
    )
    tot = per_bin.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    w = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_bin.select(
        "b",
        F.sum("c1").over(w).alias("f1"),
        F.sum("c2").over(w).alias("f2"),
    )
    diffs = cum.crossJoin(F.broadcast(tot)).select(
        "b",
        F.abs(F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1")).alias(
            "dv"
        ),
    )
    dmax = diffs.agg(F.max("dv").alias("d_num"))
    dbin = (
        diffs.crossJoin(F.broadcast(dmax))
        .filter(F.col("dv") == F.col("d_num"))
        .agg(F.min("b").alias("d_bin"))
    )
    return (
        tot.crossJoin(F.broadcast(dmax))
        .crossJoin(F.broadcast(dbin))
        .select(
            F.col("n1").cast("long").alias("n1"),
            F.col("n2").cast("long").alias("n2"),
            F.col("d_num").cast("long").alias("d_num"),
            F.col("d_bin").cast("long").alias("d_argmax_bin"),
            F.expr(f"(d_num * {_KS_S}) div (n1 * n2)")
            .cast("long")
            .alias("d_scaled"),
        )
    )


# --------------------------------------------------------------------------
# BLEU-2 corpus evaluation, all-integer (clipped n-gram precision)
# --------------------------------------------------------------------------

_BLEU_S = 10**6
_BLEU_NCAND = 100  # candidates = doc_id < 100, references = doc_id + 100


@register(
    "ml_bleu_ngram_eval",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
      WHERE doc_id < {2 * _BLEU_NCAND}
    ),
    uni AS (
      SELECT doc_id, t[i] AS g, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM toks, UNNEST(generate_series(1, len(t))) AS u(i)
      WHERE t[i] <> '' GROUP BY doc_id, g
    ),
    bi AS (
      SELECT doc_id, t[i] || ' ' || t[i+1] AS g,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS u(i)
      GROUP BY doc_id, g
    ),
    lens AS (
      SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tok FROM uni GROUP BY doc_id
    ),
    m1 AS (
      SELECT c.doc_id AS cid,
             CAST(SUM(LEAST(c.cnt, r.cnt)) AS BIGINT) AS n1_match
      FROM uni c JOIN uni r
        ON r.doc_id = c.doc_id + {_BLEU_NCAND} AND r.g = c.g
      WHERE c.doc_id < {_BLEU_NCAND}
      GROUP BY c.doc_id
    ),
    m2 AS (
      SELECT c.doc_id AS cid,
             CAST(SUM(LEAST(c.cnt, r.cnt)) AS BIGINT) AS n2_match
      FROM bi c JOIN bi r
        ON r.doc_id = c.doc_id + {_BLEU_NCAND} AND r.g = c.g
      WHERE c.doc_id < {_BLEU_NCAND}
      GROUP BY c.doc_id
    )
    SELECT lc.doc_id,
           COALESCE(m1.n1_match, 0) AS n1_match,
           lc.n_tok AS n1_total,
           COALESCE(m2.n2_match, 0) AS n2_match,
           lc.n_tok - 1 AS n2_total,
           (COALESCE(m1.n1_match, 0) * {_BLEU_S}) // lc.n_tok AS p1_scaled,
           (COALESCE(m2.n2_match, 0) * {_BLEU_S})
             // GREATEST(lc.n_tok - 1, 1) AS p2_scaled,
           ((COALESCE(m1.n1_match, 0) * {_BLEU_S}) // lc.n_tok)
             * ((COALESCE(m2.n2_match, 0) * {_BLEU_S})
                // GREATEST(lc.n_tok - 1, 1)) // {_BLEU_S}
             AS bleu2_prod_scaled,
           CAST(lc.n_tok < lr.n_tok AS BIGINT) AS brevity_penalized
    FROM lens lc
    JOIN lens lr ON lr.doc_id = lc.doc_id + {_BLEU_NCAND}
    LEFT JOIN m1 ON m1.cid = lc.doc_id
    LEFT JOIN m2 ON m2.cid = lc.doc_id
    WHERE lc.doc_id < {_BLEU_NCAND}
    ORDER BY lc.doc_id
    """,
    doc=(
        "BLEU-2 evaluation between candidate/reference document pairs "
        "(doc d scored against doc d+100) with the exact mechanics of "
        "the metric kept ALL-INTEGER: clipped modified n-gram "
        "precision (match = sum of min(cand_count, ref_count) per "
        "gram — the clipping that stops 'the the the' gaming), "
        "per-order precisions as 1e6-scaled floor ratios, their "
        "product as the log-free stand-in for the geometric mean, and "
        "the brevity-penalty condition (c < r) as a pinned flag — "
        "the generation-eval loop every instruction-tuning pipeline "
        "runs, minus only the final exp(). Scale: n-gram counts are "
        "token-count shuffles keyed on (doc, gram); the cand/ref join "
        "is keyed on (pair id, gram) so it's equi-join sized by "
        "shared vocabulary, never cross-doc."
    ),
    tags=("mllib", "eval", "bleu", "documents"),
)
def ml_bleu_ngram_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 2 * _BLEU_NCAND
    )
    t = d.select("doc_id", F.split(F.col("text"), " ").alias("t"))
    uni = (
        t.select("doc_id", F.explode("t").alias("g"))
        .filter(F.col("g") != "")
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .cache()
    )
    bi = (
        t.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 1),"
                    " i -> concat(t[i-1], ' ', t[i]))"
                )
            ).alias("g"),
        )
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    lens = uni.groupBy("doc_id").agg(F.sum("cnt").cast("long").alias("n_tok"))

    def matches(grams, out):
        c = grams.filter(F.col("doc_id") < _BLEU_NCAND).select(
            F.col("doc_id").alias("cid"), "g", F.col("cnt").alias("c_cnt")
        )
        r = grams.filter(F.col("doc_id") >= _BLEU_NCAND).select(
            (F.col("doc_id") - _BLEU_NCAND).alias("cid"),
            "g",
            F.col("cnt").alias("r_cnt"),
        )
        return c.join(r, ["cid", "g"]).groupBy("cid").agg(
            F.sum(F.least("c_cnt", "r_cnt")).cast("long").alias(out)
        )

    lc = lens.filter(F.col("doc_id") < _BLEU_NCAND)
    lr = lens.filter(F.col("doc_id") >= _BLEU_NCAND).select(
        (F.col("doc_id") - _BLEU_NCAND).alias("cid"),
        F.col("n_tok").alias("r_tok"),
    )
    out = (
        lc.join(lr, lc.doc_id == lr.cid)
        .join(matches(uni, "n1_match").withColumnRenamed("cid", "m1id"),
              F.col("doc_id") == F.col("m1id"), "left")
        .join(matches(bi, "n2_match").withColumnRenamed("cid", "m2id"),
              F.col("doc_id") == F.col("m2id"), "left")
        .select(
            "doc_id",
            F.coalesce("n1_match", F.lit(0)).cast("long").alias("n1_match"),
            F.col("n_tok").alias("n1_total"),
            F.coalesce("n2_match", F.lit(0)).cast("long").alias("n2_match"),
            (F.col("n_tok") - 1).cast("long").alias("n2_total"),
            "r_tok",
        )
        .select(
            "doc_id",
            "n1_match",
            "n1_total",
            "n2_match",
            "n2_total",
            F.expr(f"(n1_match * {_BLEU_S}) div n1_total").alias("p1_scaled"),
            F.expr(
                f"(n2_match * {_BLEU_S}) div greatest(n2_total, 1)"
            ).alias("p2_scaled"),
            (F.col("n1_total") < F.col("r_tok"))
            .cast("long")
            .alias("brevity_penalized"),
        )
        .select(
            "doc_id",
            "n1_match",
            "n1_total",
            "n2_match",
            "n2_total",
            "p1_scaled",
            "p2_scaled",
            F.expr(f"(p1_scaled * p2_scaled) div {_BLEU_S}").alias(
                "bleu2_prod_scaled"
            ),
            "brevity_penalized",
        )
        .orderBy("doc_id")
    )
    return out


# --------------------------------------------------------------------------
# Isotonic (PAV) calibration via the minimax characterization
# --------------------------------------------------------------------------

_ISO_S = 10**6
_ISO_BIN = 10**6  # cents per bin -> 10k-dollar price bins (~50 bins)


@register(
    "ml_isotonic_calibration",
    oracle=f"""
    WITH bins AS MATERIALIZED (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) // {_ISO_BIN} AS b,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                  AS BIGINT) AS pos
      FROM orders GROUP BY b
    ),
    pre AS MATERIALIZED (
      SELECT b, n, pos,
             SUM(n) OVER w AS cn, SUM(pos) OVER w AS cp
      FROM bins WINDOW w AS (ORDER BY b ROWS UNBOUNDED PRECEDING)
    ),
    intervals AS MATERIALIZED (
      SELECT j.b AS jb, k.b AS kb,
             ((k.cp - j.cp + j.pos) * {_ISO_S}) // (k.cn - j.cn + j.n)
               AS mean_scaled
      FROM pre j JOIN pre k ON j.b <= k.b
    ),
    tmin AS MATERIALIZED (
      SELECT jb, kb AS i,
             MIN(mean_scaled) OVER (
               PARTITION BY jb ORDER BY kb DESC ROWS UNBOUNDED PRECEDING
             ) AS t
      FROM intervals
    ),
    fit AS (
      SELECT i AS b,
             MAX(t) OVER (
               PARTITION BY i ORDER BY jb ROWS UNBOUNDED PRECEDING
             ) AS fitted,
             jb
      FROM tmin WHERE jb <= i
    )
    SELECT bins.b, bins.n, bins.pos,
           (bins.pos * {_ISO_S}) // bins.n AS raw_rate_scaled,
           CAST(f.fitted AS BIGINT) AS isotonic_scaled
    FROM bins JOIN (SELECT b, fitted FROM fit WHERE jb = b) f USING (b)
    ORDER BY bins.b
    """,
    doc=(
        "Isotonic-regression calibration (the PAV fit every "
        "well-calibrated classifier pipeline applies to its scores) "
        "over the price->P(status=F) curve, computed through the "
        "MINIMAX characterization fitted[i] = max_(j<=i) min_(k>=i) "
        "mean(y_j..y_k) — mathematically identical to the "
        "pool-adjacent-violators fit but expressible as two window "
        "scans over the interval means of the BINNED summary (O(B^2) "
        "rows for B~50 bins, summary-sized), with means as "
        "1e6-scaled floor ratios from exact prefix sums. No "
        "sequential pooling loop, no Python: corpus work is one "
        "grouped count, the fit runs on the reduced relation. "
        "Emits raw vs isotonic rate per bin — the calibration curve "
        "and its monotone envelope, hash-pinned."
    ),
    tags=("mllib", "calibration", "isotonic", "orders"),
)
def ml_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders")
    bins = o.groupBy(
        (F.round(F.col("o_totalprice") * 100).cast("long") / _ISO_BIN)
        .cast("long")
        .alias("b")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("o_orderstatus") == "F").cast("long"))
        .cast("long")
        .alias("pos"),
    )
    wc = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    pre = bins.select(
        "b", "n", "pos",
        F.sum("n").over(wc).alias("cn"),
        F.sum("pos").over(wc).alias("cp"),
    )
    j = pre.select(
        F.col("b").alias("jb"), F.col("n").alias("jn"),
        F.col("pos").alias("jpos"), F.col("cn").alias("jcn"),
        F.col("cp").alias("jcp"),
    )
    k = pre.select(
        F.col("b").alias("kb"), F.col("cn").alias("kcn"),
        F.col("cp").alias("kcp"),
    )
    intervals = (
        j.join(F.broadcast(k), F.col("jb") <= F.col("kb"))
        .select(
            "jb", "kb",
            F.expr(
                f"((kcp - jcp + jpos) * {_ISO_S}) div (kcn - jcn + jn)"
            ).alias("mean_scaled"),
        )
    )
    wmin = (
        Window.partitionBy("jb")
        .orderBy(F.desc("kb"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    tmin = intervals.select(
        "jb", F.col("kb").alias("i"),
        F.min("mean_scaled").over(wmin).alias("t"),
    )
    wmax = (
        Window.partitionBy("i")
        .orderBy("jb")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    fit = (
        tmin.filter(F.col("jb") <= F.col("i"))
        .select("i", "jb", F.max("t").over(wmax).alias("fitted"))
        .filter(F.col("jb") == F.col("i"))
        .select(F.col("i").alias("b"), F.col("fitted").cast("long").alias("isotonic_scaled"))
    )
    return (
        bins.join(F.broadcast(fit), "b")
        .select(
            "b", "n", "pos",
            F.expr(f"(pos * {_ISO_S}) div n").alias("raw_rate_scaled"),
            "isotonic_scaled",
        )
        .orderBy("b")
    )


# --------------------------------------------------------------------------
# ALS half-step: per-user least-squares solve against fixed item factors
# --------------------------------------------------------------------------

_ALS_S = 10**6
_ALS_LAMBDA = 1
_ALS_NUSER = 100


@register(
    "ml_als_half_step",
    oracle=f"""
    WITH ratings AS (
      SELECT c.c_custkey AS u, l.l_partkey AS i,
             CAST(SUM(l.l_quantity) AS BIGINT) AS r
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_custkey < {_ALS_NUSER}
      GROUP BY u, i
    ),
    feat AS (
      SELECT u, i, r,
             CAST(i % 7 - 3 AS BIGINT) AS x1,
             CAST((i * 3) % 5 - 2 AS BIGINT) AS x2
      FROM ratings
    ),
    stats AS (
      SELECT u,
             CAST(COUNT(*) AS BIGINT) AS n_items,
             CAST(SUM(x1 * x1) + {_ALS_LAMBDA} AS BIGINT) AS a11,
             CAST(SUM(x1 * x2) AS BIGINT) AS a12,
             CAST(SUM(x2 * x2) + {_ALS_LAMBDA} AS BIGINT) AS a22,
             CAST(SUM(x1 * r) AS BIGINT) AS b1,
             CAST(SUM(x2 * r) AS BIGINT) AS b2
      FROM feat GROUP BY u
    )
    SELECT u AS custkey, n_items,
           CAST(a11 * a22 - a12 * a12 AS BIGINT) AS det,
           CAST((b1 * a22 - b2 * a12) * {_ALS_S}
                // (a11 * a22 - a12 * a12) AS BIGINT) AS w1_scaled,
           CAST((a11 * b2 - a12 * b1) * {_ALS_S}
                // (a11 * a22 - a12 * a12) AS BIGINT) AS w2_scaled
    FROM stats
    ORDER BY custkey
    """,
    doc=(
        "One ALS half-step — the alternating-least-squares update "
        "behind every matrix-factorization recommender: with the "
        "2-dim ITEM factors fixed (derived deterministically from "
        "the item key, standing in for the broadcast factor matrix), "
        "each user's factor vector solves its ridge-regularized "
        "2x2 normal equations (X'X + lambda*I) w = X'y by Cramer's "
        "rule on EXACT integer sufficient statistics (quantities are "
        "integral; factors are small ints), the solution pinned as "
        "1e6-scaled rationals. Scale: the ratings build is the one "
        "corpus shuffle; per-user sufficient stats are a partial+ "
        "final aggregate (6 sums), the solve is row-local arithmetic "
        "— exactly how distributed ALS distributes: never a matrix "
        "library, just grouped sums against broadcast factors. det "
        "> 0 is guaranteed by the ridge term."
    ),
    tags=("mllib", "recommender", "als", "lineitem"),
)
def ml_als_half_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    o = table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") < _ALS_NUSER)
        .select("c_custkey")
    )
    ratings = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.col("c_custkey").alias("u"), F.col("l_partkey").alias("i")
        )
        .agg(F.sum("l_quantity").cast("long").alias("r"))
    )
    feat = ratings.select(
        "u", "r",
        (F.col("i") % 7 - 3).cast("long").alias("x1"),
        ((F.col("i") * 3) % 5 - 2).cast("long").alias("x2"),
    )
    stats = feat.groupBy("u").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        (F.sum(F.col("x1") * F.col("x1")) + _ALS_LAMBDA)
        .cast("long")
        .alias("a11"),
        F.sum(F.col("x1") * F.col("x2")).cast("long").alias("a12"),
        (F.sum(F.col("x2") * F.col("x2")) + _ALS_LAMBDA)
        .cast("long")
        .alias("a22"),
        F.sum(F.col("x1") * F.col("r")).cast("long").alias("b1"),
        F.sum(F.col("x2") * F.col("r")).cast("long").alias("b2"),
    )
    return stats.select(
        F.col("u").alias("custkey"),
        "n_items",
        (F.col("a11") * F.col("a22") - F.col("a12") * F.col("a12"))
        .cast("long")
        .alias("det"),
        F.expr(
            f"CAST((b1 * a22 - b2 * a12) * {_ALS_S}"
            f" div (a11 * a22 - a12 * a12) AS BIGINT)"
        ).alias("w1_scaled"),
        F.expr(
            f"CAST((a11 * b2 - a12 * b1) * {_ALS_S}"
            f" div (a11 * a22 - a12 * a12) AS BIGINT)"
        ).alias("w2_scaled"),
    ).orderBy("custkey")


# --------------------------------------------------------------------------
# Permutation feature importance via deterministic hash derangement
# --------------------------------------------------------------------------

_PI_S = 10**6
_PI_THRESH = 30_000_000  # label: cents > 300k dollars
_PI_S0 = 40  # decision threshold on the integer score


def _pi_score(f1: str, f2: str) -> str:
    return f"2 * {f1} + {f2}"


@register(
    "ml_permutation_importance",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey AS k,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             CAST(round(o_totalprice * 100) AS BIGINT) // 2000000 AS f1,
             CAST(month(o_orderdate) AS BIGINT) AS f2,
             CAST(round(o_totalprice * 100) > {_PI_THRESH} AS BIGINT) AS y,
             md5('pi-' || o_orderkey) AS h
      FROM orders
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY h, k) AS rn,
             COUNT(*) OVER () AS n
      FROM base
    ),
    perm AS (
      -- cyclic shift in hash order = a deterministic derangement
      SELECT a.k, a.f1, a.f2, a.y,
             b.f1 AS f1_perm, b.f2 AS f2_perm
      FROM ranked a JOIN ranked b ON b.rn = a.rn % a.n + 1
    ),
    acc AS (
      SELECT
        CAST(SUM(CAST(({_pi_score('f1', 'f2')} > {_PI_S0}) = (y = 1)
                 AS BIGINT)) AS BIGINT) AS acc_base,
        CAST(SUM(CAST(({_pi_score('f1_perm', 'f2')} > {_PI_S0}) = (y = 1)
                 AS BIGINT)) AS BIGINT) AS acc_f1p,
        CAST(SUM(CAST(({_pi_score('f1', 'f2_perm')} > {_PI_S0}) = (y = 1)
                 AS BIGINT)) AS BIGINT) AS acc_f2p,
        CAST(COUNT(*) AS BIGINT) AS n
      FROM perm
    )
    SELECT f.feature,
           CAST(f.correct AS BIGINT) AS n_correct,
           acc.n AS n_rows,
           CAST((f.correct * {_PI_S}) // acc.n AS BIGINT) AS acc_scaled,
           CAST(((acc.acc_base - f.correct) * {_PI_S}) // acc.n AS BIGINT)
             AS importance_scaled
    FROM acc,
         (SELECT 'baseline' AS feature, acc_base AS correct FROM acc
          UNION ALL SELECT 'f1_price_band', acc_f1p FROM acc
          UNION ALL SELECT 'f2_month', acc_f2p FROM acc) f
    ORDER BY f.feature
    """,
    doc=(
        "Permutation feature importance — the model-agnostic 'what "
        "breaks when this column is scrambled' eval — made "
        "DISTRIBUTED-DETERMINISTIC: the permutation is a cyclic shift "
        "in md5-hash order (rank by hash via the sharded exact "
        "global-rank operator, join rank -> rank+1 mod n), a "
        "derangement that is reproducible across engines, runs and "
        "retries, where numpy.shuffle on a driver would not scale and "
        "per-worker RNG would not reproduce. Scored with a fixed "
        "integer linear classifier; importance = accuracy drop, "
        "1e6-scaled. The strongly-predictive price-band feature "
        "shows a large drop, the weak month feature a near-zero one "
        "— the output ranks features exactly as the real eval would. "
        "Scale: two rank exchanges from sharded_row_number + one "
        "rank-equi self-join; no SinglePartition funnel, no driver "
        "collect of data."
    ),
    tags=("mllib", "eval", "permutation-importance", "orders"),
)
def ml_permutation_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dmi_ingestor_spark.operators.ranks import sharded_row_number

    o = table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderkey").alias("k"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        (F.round(F.col("o_totalprice") * 100).cast("long") / 2000000)
        .cast("long")
        .alias("f1"),
        F.month("o_orderdate").cast("long").alias("f2"),
        (F.round(F.col("o_totalprice") * 100).cast("long") > _PI_THRESH)
        .cast("long")
        .alias("y"),
        F.md5(
            F.concat(F.lit("pi-"), F.col("o_orderkey").cast("string")).cast(
                "binary"
            )
        ).alias("h"),
    )
    ranked, n = sharded_row_number(base, ["h", "k"], out="rn")
    donor = ranked.select(
        F.col("rn").alias("rn_d"),
        F.col("f1").alias("f1_perm"),
        F.col("f2").alias("f2_perm"),
    )
    perm = ranked.withColumn("rn_d", F.col("rn") % n + 1).join(
        donor, "rn_d"
    )
    sc = lambda f1, f2: 2 * F.col(f1) + F.col(f2)
    acc = perm.agg(
        F.sum(((sc("f1", "f2") > _PI_S0) == (F.col("y") == 1)).cast("long"))
        .cast("long")
        .alias("acc_base"),
        F.sum(
            ((sc("f1_perm", "f2") > _PI_S0) == (F.col("y") == 1)).cast("long")
        )
        .cast("long")
        .alias("acc_f1p"),
        F.sum(
            ((sc("f1", "f2_perm") > _PI_S0) == (F.col("y") == 1)).cast("long")
        )
        .cast("long")
        .alias("acc_f2p"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    rows = None
    for feat, col in (
        ("baseline", "acc_base"),
        ("f1_price_band", "acc_f1p"),
        ("f2_month", "acc_f2p"),
    ):
        part = acc.select(
            F.lit(feat).alias("feature"),
            F.col(col).cast("long").alias("n_correct"),
            F.col("n").cast("long").alias("n_rows"),
            F.expr(f"CAST(({col} * {_PI_S}) div n AS BIGINT)").alias(
                "acc_scaled"
            ),
            F.expr(
                f"CAST(((acc_base - {col}) * {_PI_S}) div n AS BIGINT)"
            ).alias("importance_scaled"),
        )
        rows = part if rows is None else rows.unionAll(part)
    return rows.orderBy("feature")


# ---------------------------------------------------------------------------
# Gains table / decile lift — the classic marketing-model evaluation.
# ---------------------------------------------------------------------------


@register(
    "ml_lift_gain_deciles",
    oracle="""
    WITH scored AS (
      SELECT o_orderkey,
             o_totalprice AS score,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS y,
             ntile(10) OVER (ORDER BY o_totalprice DESC, o_orderkey) AS decile
      FROM orders
    ),
    per AS (
      SELECT decile,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(y) AS BIGINT) AS n_pos
      FROM scored GROUP BY decile
    )
    SELECT CAST(decile AS BIGINT) AS decile, n_rows, n_pos,
           CAST(SUM(n_pos) OVER (ORDER BY decile) AS BIGINT) AS cum_pos,
           CAST(round(CAST(SUM(n_pos) OVER (ORDER BY decile) AS DOUBLE)
                      / SUM(n_pos) OVER (), 9) AS DOUBLE) AS gain,
           CAST(round((CAST(SUM(n_pos) OVER (ORDER BY decile) AS DOUBLE)
                       / SUM(n_pos) OVER ())
                      / (CAST(decile AS DOUBLE) / 10.0), 9) AS DOUBLE) AS lift
    FROM per
    ORDER BY decile
    """,
    doc=(
        "Decile gains table: rank orders by predicted score (price as "
        "the stand-in model output), NTILE into 10 equal buckets, and "
        "report per-decile positives, cumulative capture rate (gain) "
        "and lift over random targeting. The decile assignment is NOT "
        "a global single-partition window: sharded_row_number assigns "
        "exact global ranks via range-partitioned local sorts (range + "
        "hash exchanges only), and the NTILE bucket is then computed "
        "arithmetically from (rank, n) with NTILE's front-loaded "
        "remainder rule — first n%10 buckets take ceil(n/10) rows — so "
        "it matches the oracle's ntile(10) bit-for-bit while scaling "
        "to any corpus size. Everything after is O(deciles); the two "
        "divisions run on exact BIGINTs and round to 9 dp, hash-safe."
    ),
    tags=("ml", "eval", "lift"),
)
def ml_lift_gain_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from dmi_ingestor_spark.operators.ranks import sharded_row_number

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("y"),
    )
    ranked, n = sharded_row_number(
        o, [F.col("o_totalprice").desc(), F.col("o_orderkey")], out="rk"
    )
    # NTILE(10) arithmetic twin: q = n // 10 rows per bucket, with the
    # first r = n % 10 buckets taking one extra row (front-loaded).
    q, r = divmod(n, 10)
    head = r * (q + 1)  # rows covered by the (q+1)-sized buckets
    if q == 0:  # degenerate tiny-table case: rank IS the bucket
        decile = F.col("rk")
    else:
        decile = F.when(
            F.col("rk") <= head, -F.floor(-F.col("rk") / F.lit(q + 1))
        ).otherwise(F.lit(r) - F.floor((F.lit(head) - F.col("rk")) / F.lit(q)))
    scored = ranked.select("y", decile.cast("long").alias("decile"))
    per = scored.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("y").cast("long").alias("n_pos"),
    )
    wcum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        per.select(
            F.col("decile").cast("long").alias("decile"),
            "n_rows",
            "n_pos",
            F.sum("n_pos").over(wcum).cast("long").alias("cum_pos"),
            F.sum("n_pos").over(wcum).alias("_c"),
            F.sum("n_pos").over(wall).alias("_t"),
        )
        .select(
            "decile",
            "n_rows",
            "n_pos",
            "cum_pos",
            F.round(F.col("_c").cast("double") / F.col("_t"), 9)
            .cast("double")
            .alias("gain"),
            F.round(
                (F.col("_c").cast("double") / F.col("_t"))
                / (F.col("decile").cast("double") / F.lit(10.0)),
                9,
            )
            .cast("double")
            .alias("lift"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation (grouped), tie-free via keyed row_number.
# ---------------------------------------------------------------------------


@register(
    "ml_spearman_rank_corr",
    oracle="""
    WITH joined AS (
      SELECT o.o_orderkey, o.o_orderpriority AS priority,
             o.o_totalprice AS x, q.qty AS y
      FROM orders o
      JOIN (SELECT l_orderkey, SUM(l_quantity) AS qty
            FROM lineitem GROUP BY l_orderkey) q
        ON q.l_orderkey = o.o_orderkey
    ),
    ranked AS (
      SELECT priority,
             row_number() OVER (PARTITION BY priority
                                ORDER BY x, o_orderkey) AS rx,
             row_number() OVER (PARTITION BY priority
                                ORDER BY y, o_orderkey) AS ry
      FROM joined
    )
    SELECT priority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM((rx - ry) * (rx - ry)) AS BIGINT) AS sum_d2,
           CAST(round(1.0 - (6.0 * CAST(SUM((rx - ry) * (rx - ry)) AS DOUBLE))
                      / (CAST(COUNT(*) AS DOUBLE)
                         * (CAST(COUNT(*) AS DOUBLE) * CAST(COUNT(*) AS DOUBLE)
                            - 1.0)), 9) AS DOUBLE) AS rho
    FROM ranked
    GROUP BY priority
    ORDER BY priority
    """,
    doc=(
        "Grouped Spearman rank correlation between order price and total "
        "ordered quantity, per priority class: rho = 1 - 6*sum(d^2)/"
        "(n(n^2-1)) with ranks assigned by keyed row_number (orderkey "
        "tie-break), so there are no tied ranks and the classic formula "
        "is exact. sum(d^2) stays BIGINT (order-independent); only the "
        "final rho is a double, computed n-as-double to dodge the "
        "n^3 int64 overflow at large SF, and rounded to 9 dp. Cost: "
        "one fact-fact join + two partitioned window sorts."
    ),
    tags=("ml", "eval", "correlation"),
)
def ml_spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    q = (
        table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    joined = o.join(q, o.o_orderkey == q.l_orderkey).select(
        "o_orderkey",
        F.col("o_orderpriority").alias("priority"),
        F.col("o_totalprice").alias("x"),
        F.col("qty").alias("y"),
    )
    ranked = joined.select(
        "priority",
        F.row_number()
        .over(Window.partitionBy("priority").orderBy("x", "o_orderkey"))
        .alias("rx"),
        F.row_number()
        .over(Window.partitionBy("priority").orderBy("y", "o_orderkey"))
        .alias("ry"),
    )
    # long ranks: row_number() is INT, and d^2 passes 2^31 once ranks
    # exceed ~46k per group (sf>=0.25; r7 sf0.5 sweep catch)
    d = F.col("rx").cast("long") - F.col("ry").cast("long")
    d2 = d * d
    return (
        ranked.groupBy("priority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(d2).cast("long").alias("sum_d2"),
        )
        .select(
            "priority",
            "n",
            "sum_d2",
            F.round(
                F.lit(1.0)
                - (F.lit(6.0) * F.col("sum_d2").cast("double"))
                / (
                    F.col("n").cast("double")
                    * (
                        F.col("n").cast("double") * F.col("n").cast("double")
                        - F.lit(1.0)
                    )
                ),
                9,
            )
            .cast("double")
            .alias("rho"),
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# Mann–Whitney U: rank-sum two-sample test on sharded global ranks
# ---------------------------------------------------------------------------


@register(
    "ml_mann_whitney_u",
    oracle="""
    WITH labeled AS (
      SELECT o_totalprice,
             o_orderkey,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS grp
      FROM orders
    ),
    ranked AS (
      SELECT grp,
             CAST(row_number() OVER (ORDER BY o_totalprice, o_orderkey)
                  AS BIGINT) AS rk
      FROM labeled
    ),
    s AS (
      SELECT CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(SUM(CASE WHEN grp = 1 THEN rk ELSE 0 END) AS BIGINT) AS r1
      FROM ranked
    )
    SELECT n1, n2, r1,
           CAST(r1 - n1 * (n1 + 1) / 2 AS BIGINT) AS u1,
           CAST(n1 * n2 - (r1 - n1 * (n1 + 1) / 2) AS BIGINT) AS u2,
           CAST(least(r1 - n1 * (n1 + 1) / 2,
                      n1 * n2 - (r1 - n1 * (n1 + 1) / 2)) AS BIGINT) AS u_stat,
           (CAST(r1 - n1 * (n1 + 1) / 2 AS DOUBLE)
            - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 2.0)
           / sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                  * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) + 1.0) / 12.0)
             AS z_score
    FROM s
    """,
    doc=(
        "Mann–Whitney U (Wilcoxon rank-sum) test: is the price "
        "distribution of urgent/high-priority orders stochastically "
        "larger than the rest? Ranks are exact GLOBAL ranks assigned "
        "by sharded_row_number (range + hash exchanges only — never a "
        "single-partition window over the fact table), tie-broken by "
        "orderkey so both engines rank identically; U and the rank "
        "sums stay BIGINT, and the normal-approximation z-score is "
        "one identical IEEE tree with every operand cast to double "
        "BEFORE multiplication (n1*n2*(n+1) would leave int64 around "
        "SF~50). At 100 TB: one range-shuffle sort + one scalar "
        "aggregate; no driver funnel."
    ),
    tags=("ml", "statistics", "hypothesis-test"),
)
def ml_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    from dmi_ingestor_spark.operators.ranks import sharded_row_number

    o = table(spark, sf_dir, "orders").select(
        "o_totalprice",
        "o_orderkey",
        F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1)
        .otherwise(0)
        .alias("grp"),
    )
    ranked, _n = sharded_row_number(
        o, ["o_totalprice", "o_orderkey"], out="rk"
    )
    s = ranked.agg(
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n2"),
        F.sum(F.when(F.col("grp") == 1, F.col("rk")).otherwise(0))
        .cast("long")
        .alias("r1"),
    )
    u1 = F.col("r1") - F.col("n1") * (F.col("n1") + 1) / 2
    u2 = F.col("n1") * F.col("n2") - u1
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    return s.select(
        "n1",
        "n2",
        "r1",
        u1.cast("long").alias("u1"),
        u2.cast("long").alias("u2"),
        F.least(u1, u2).cast("long").alias("u_stat"),
        (
            (u1.cast("double") - n1d * n2d / F.lit(2.0))
            / F.sqrt(n1d * n2d * (n1d + n2d + F.lit(1.0)) / F.lit(12.0))
        ).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Kendall tau-b on the month-grain series (exact concordance counts)
# ---------------------------------------------------------------------------


@register(
    "ml_kendall_tau",
    oracle="""
    WITH m AS (
      SELECT o_orderpriority AS priority,
             EXTRACT(YEAR FROM o_orderdate) * 12
             + EXTRACT(MONTH FROM o_orderdate) AS mnum,
             CAST(COUNT(*) AS BIGINT) AS x,
             CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS y
      FROM orders GROUP BY priority, mnum
    ),
    pairs AS (
      SELECT a.priority,
             CASE WHEN (b.x - a.x) * (b.y - a.y) > 0 THEN 1 ELSE 0 END AS c,
             CASE WHEN (b.x - a.x) * (b.y - a.y) < 0 THEN 1 ELSE 0 END AS d,
             CASE WHEN b.x = a.x THEN 1 ELSE 0 END AS tx,
             CASE WHEN b.y = a.y THEN 1 ELSE 0 END AS ty
      FROM m a JOIN m b
        ON b.priority = a.priority AND b.mnum > a.mnum
    ),
    s AS (
      SELECT priority,
             CAST(COUNT(*) AS BIGINT) AS n0,
             CAST(SUM(c) AS BIGINT) AS concordant,
             CAST(SUM(d) AS BIGINT) AS discordant,
             CAST(SUM(tx) AS BIGINT) AS tied_x,
             CAST(SUM(ty) AS BIGINT) AS tied_y
      FROM pairs GROUP BY priority
    )
    SELECT priority, n0, concordant, discordant, tied_x, tied_y,
           CAST(concordant - discordant AS DOUBLE)
           / sqrt(CAST((n0 - tied_x) * (n0 - tied_y) AS DOUBLE)) AS tau_b
    FROM s ORDER BY priority
    """,
    doc=(
        "Kendall tau-b rank correlation between monthly order volume "
        "and monthly distinct-customer count, per priority class — "
        "the tie-aware concordance statistic. The corpus-sized work "
        "is one month-grain rollup (partial+final, with one "
        "distinct-expand for the customer count); the O(months^2) "
        "pairwise concordance join runs on ~84 rows per group and "
        "does not grow with SF. All counts are exact BIGINT; tau_b's "
        "denominator product (n0-tx)(n0-ty) <= n0^2 ~ 1.2e7 stays "
        "far inside both int64 and the double's 2^53 mantissa, and "
        "the final expression is one identical IEEE tree."
    ),
    tags=("ml", "statistics", "correlation"),
)
def ml_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = (
        table(spark, sf_dir, "orders")
        .groupBy(
            F.col("o_orderpriority").alias("priority"),
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias(
                "mnum"
            ),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("x"),
            F.countDistinct("o_custkey").cast("long").alias("y"),
        )
    )
    a = m.select(
        "priority",
        F.col("mnum").alias("m1"),
        F.col("x").alias("x1"),
        F.col("y").alias("y1"),
    )
    b = m.select(
        F.col("priority").alias("p2"),
        F.col("mnum").alias("m2"),
        F.col("x").alias("x2"),
        F.col("y").alias("y2"),
    )
    prod = (F.col("x2") - F.col("x1")) * (F.col("y2") - F.col("y1"))
    s = (
        a.join(
            b,
            (F.col("p2") == F.col("priority")) & (F.col("m2") > F.col("m1")),
        )
        .groupBy("priority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n0"),
            F.sum(F.when(prod > 0, 1).otherwise(0))
            .cast("long")
            .alias("concordant"),
            F.sum(F.when(prod < 0, 1).otherwise(0))
            .cast("long")
            .alias("discordant"),
            F.sum(F.when(F.col("x2") == F.col("x1"), 1).otherwise(0))
            .cast("long")
            .alias("tied_x"),
            F.sum(F.when(F.col("y2") == F.col("y1"), 1).otherwise(0))
            .cast("long")
            .alias("tied_y"),
        )
    )
    return s.select(
        "priority",
        "n0",
        "concordant",
        "discordant",
        "tied_x",
        "tied_y",
        (
            (F.col("concordant") - F.col("discordant")).cast("double")
            / F.sqrt(
                (
                    (F.col("n0") - F.col("tied_x"))
                    * (F.col("n0") - F.col("tied_y"))
                ).cast("double")
            )
        ).alias("tau_b"),
    ).orderBy("priority")

# ---------------------------------------------------------------------------
# PCA top component via power iteration on the distributed Gram summary
# ---------------------------------------------------------------------------

_PCA_ROUNDS = 8


def _pca_oracle() -> str:
    head = """
    WITH e AS (
      SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim,
             CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS v
      FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)
    ),
    nrows AS (SELECT CAST(COUNT(DISTINCT vec_id) AS DOUBLE) AS n FROM e),
    gram AS (
      SELECT a.dim AS di, b.dim AS dj,
             CAST(SUM(a.v * b.v) AS DOUBLE) AS s
      FROM e a JOIN e b ON a.vec_id = b.vec_id
      GROUP BY a.dim, b.dim
    ),
    mat AS (
      SELECT list(g.s / nrows.n ORDER BY g.di, g.dj) AS flat,
             CAST(MAX(g.di) + 1 AS BIGINT) AS d
      FROM gram g, nrows GROUP BY nrows.n
    ),
    x0 AS (
      SELECT flat, d,
             list_transform(generate_series(1, d), i -> 1.0) AS x,
             0.0 AS lam
      FROM mat
    )"""
    parts = [head]
    for k in range(1, _PCA_ROUNDS + 1):
        parts.append(f""",
    y{k} AS (
      SELECT flat, d,
             list_transform(generate_series(0, d - 1), i ->
               list_reduce(
                 list_transform(generate_series(0, d - 1), j ->
                   flat[i * d + j + 1] * x[j + 1]),
                 (a, b) -> a + b)) AS y
      FROM x{k - 1}
    ),
    x{k} AS (
      SELECT flat, d,
             list_transform(y, v ->
               v / list_max(list_transform(y, u -> abs(u)))) AS x,
             list_max(list_transform(y, u -> abs(u))) AS lam
      FROM y{k}
    )""")
    parts.append(f"""
    SELECT CAST(u.i - 1 AS BIGINT) AS dim,
           x[u.i] AS loading,
           lam AS lambda_micro2
    FROM x{_PCA_ROUNDS}, UNNEST(generate_series(1, len(x))) AS u(i)
    ORDER BY dim""")
    return "".join(parts)


@register(
    "ml_pca_power_iteration",
    oracle=_pca_oracle(),
    doc=(
        "Top principal direction of the embedding table via power "
        f"iteration ({_PCA_ROUNDS} rounds, infinity-norm rescale) on "
        "the SECOND-MOMENT summary — the distributed-stats -> "
        "local-iterate PCA recipe: the corpus is touched exactly once "
        "to build the d x d Gram matrix in exact integer micro-units "
        "(same sufficient statistic as ml_embedding_covariance_matrix, "
        "here the full square scaled by 1/n), and every iteration is "
        "higher-order-function arithmetic on that 1-row summary — "
        "ordered inner-product folds, so each y = A·x accumulates in "
        "identical IEEE order on both engines and the loadings are "
        "bit-exact. Rounds localCheckpoint so the unrolled plan stays "
        "O(1) (the components.py lineage-cut pattern). The Gram matrix "
        "is PSD so the inf-norm rescale converges without sign "
        "oscillation; lambda_micro2 is the dominant-eigenvalue "
        "estimate in micro^2 units. At 100 TB nothing changes: the "
        "iteration cost is O(d^2) on one row regardless of corpus "
        "size. Cites dmi_ingestor/ingestor.py:1-233 (no ML surface in "
        "the reference; this is pipeline-mandated)."
    ),
    tags=("ml", "embeddings", "pca", "iterative", "scale"),
)
def ml_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "xv")
    ).select(
        "vec_id",
        F.col("dim").cast("long").alias("dim"),
        F.round(F.col("xv").cast("double") * 1000000).cast("long").alias("v"),
    )
    nrows = emb.agg(F.countDistinct("vec_id").cast("double").alias("n"))
    b = e.select(
        F.col("vec_id").alias("b_vid"),
        F.col("dim").alias("dj"),
        F.col("v").alias("bv"),
    )
    gram = (
        e.join(b, e.vec_id == b.b_vid)
        .groupBy(F.col("dim").alias("di"), "dj")
        .agg(F.sum(F.col("v") * F.col("bv")).cast("double").alias("s"))
    )
    mat = (
        gram.crossJoin(F.broadcast(nrows))
        .groupBy("n")
        .agg(
            F.array_sort(F.collect_list(F.struct("di", "dj", "s"))).alias("p"),
            (F.max("di") + 1).alias("d"),
        )
        .select(
            F.transform(F.col("p"), lambda t: t["s"] / F.col("n")).alias("flat"),
            "d",
        )
    )
    df = mat.select(
        "flat",
        "d",
        F.transform(
            F.sequence(F.lit(1), F.col("d")), lambda i: F.lit(1.0)
        ).alias("x"),
        F.lit(0.0).alias("lam"),
    )
    for _ in range(_PCA_ROUNDS):
        y = F.transform(
            F.sequence(F.lit(0), F.col("d") - 1),
            lambda i: F.aggregate(
                F.sequence(F.lit(0), F.col("d") - 1),
                F.lit(0.0),
                lambda acc, j: acc
                + F.element_at(F.col("flat"), (i * F.col("d") + j + 1).cast("int"))
                * F.element_at(F.col("x"), (j + 1).cast("int")),
            ),
        )
        df = df.select("flat", "d", y.alias("y"))
        m = F.array_max(F.transform(F.col("y"), lambda v: F.abs(v)))
        df = df.select(
            "flat",
            "d",
            F.transform(F.col("y"), lambda v: v / m).alias("x"),
            m.alias("lam"),
        ).localCheckpoint(eager=False)
    return df.select(
        F.posexplode("x").alias("dim0", "loading"), F.col("lam")
    ).select(
        F.col("dim0").cast("long").alias("dim"),
        "loading",
        F.col("lam").alias("lambda_micro2"),
    ).orderBy("dim")


# --------------------------------------------------------------------------
# Viterbi sequence decoding (max-sum DP with backpointers, all-integer)
# --------------------------------------------------------------------------

_VIT_STATES = ("click", "error", "purchase", "signup", "view")
_VIT_K = len(_VIT_STATES)
_VIT_DAYS = 30
_VIT_SWITCH = 50  # transition penalty for changing state (stay = 0)


def _vit_oracle() -> str:
    vals = ", ".join(
        f"({i + 1}, '{s}')" for i, s in enumerate(_VIT_STATES)
    )
    parts = [f"""
    WITH d AS MATERIALIZED (
      SELECT CAST(day(ts) AS BIGINT) AS day, event_type,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    st(i, name) AS (VALUES {vals}),
    em AS MATERIALIZED (
      SELECT sp.day, st.i, st.name, CAST(COALESCE(d.c, 0) AS BIGINT) AS e
      FROM (SELECT unnest(generate_series(1, {_VIT_DAYS})) AS day) sp
      CROSS JOIN st
      LEFT JOIN d ON d.day = sp.day AND d.event_type = st.name
    ),
    v1 AS MATERIALIZED (
      SELECT i, e AS sc, CAST(0 AS BIGINT) AS bp FROM em WHERE day = 1
    )"""]
    for t in range(2, _VIT_DAYS + 1):
        p = t - 1
        parts.append(f""",
    m{t} AS MATERIALIZED (SELECT MAX(sc) AS best FROM v{p}),
    a{t} AS MATERIALIZED (SELECT MIN(i) AS arg FROM v{p}, m{t} WHERE sc = best),
    v{t} AS MATERIALIZED (
      SELECT em.i,
             em.e + GREATEST(p.sc, m{t}.best - {_VIT_SWITCH}) AS sc,
             CAST(CASE WHEN p.sc >= m{t}.best - {_VIT_SWITCH}
                       THEN em.i ELSE a{t}.arg END AS BIGINT) AS bp
      FROM em JOIN v{p} p ON p.i = em.i
      CROSS JOIN m{t} CROSS JOIN a{t}
      WHERE em.day = {t}
    )""")
    unions = "\n      UNION ALL ".join(
        f"SELECT CAST({t} AS BIGINT) AS day, i, sc, bp FROM v{t}"
        for t in range(1, _VIT_DAYS + 1)
    )
    parts.append(f"""
    SELECT u.day, st.name AS state, u.sc AS score, u.bp AS came_from
    FROM ({unions}) u
    JOIN st ON st.i = u.i
    ORDER BY u.day, state""")
    return "".join(parts)


@register(
    "ml_viterbi_decode",
    oracle=_vit_oracle(),
    doc=(
        "Viterbi decoding of the most likely daily activity-regime "
        "sequence: states = the 5 event types, emission score for "
        "state s on day t = that day's count of s-events, transition "
        f"score = 0 for staying and -{_VIT_SWITCH} for switching. The "
        "max-sum dynamic program emits the FULL DP table — per (day, "
        "state): best path score ending there plus the backpointer "
        "(ties: staying beats switching, then lowest state index), so "
        "the optimal path is read off by following came_from from the "
        "day-30 argmax without a separate backtrace pass. All-integer "
        "scores, hash-exact. Spark runs the recursion as one "
        "fold_series loop over the sorted (day, state) counts, one "
        "Python step per day that keeps only the previous layer and "
        "emits the new one (O(K*T)); the oracle unrolls the identical "
        "update as 3 CTEs per step. Scale: the corpus contributes one "
        "groupBy(day, state) aggregate; per-entity decoding passes "
        "the entity key to fold_series — the standard "
        "sessionized-HMM shape, O(K) state per entity."
    ),
    tags=("ml", "sequence", "events", "iterative"),
)
def ml_viterbi_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.dayofmonth("ts").cast("long").alias("day"),
        F.col("event_type").alias("name"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    states = spark.range(1).select(
        F.posexplode(
            F.array(*[F.lit(s) for s in _VIT_STATES])
        ).alias("i0", "name")
    ).select((F.col("i0") + 1).cast("long").alias("i"), "name")
    spine = spark.range(1, _VIT_DAYS + 1).select(F.col("id").alias("day"))
    filled = (
        spine.crossJoin(F.broadcast(states))
        .join(daily, ["day", "name"], "left")
        .fillna(0, ["c"])
    )

    def viterbi(_key, rows):
        # rows are (day, state, count), sorted: one K-row layer per day
        out, scores = [], []
        for t in range(0, len(rows), _VIT_K):
            ems = [c for _, _, c in rows[t:t + _VIT_K]]
            if not scores:  # day 1: the emissions, no backpointer
                layer = [(e, 0) for e in ems]
            else:
                best = max(scores)
                arg = scores.index(best) + 1  # first argmax, 1-based
                layer = [
                    (e + max(sc, best - _VIT_SWITCH),
                     i if sc >= best - _VIT_SWITCH else arg)
                    for i, (e, sc) in enumerate(zip(ems, scores), 1)
                ]
            day = rows[t][0]
            out += [(day, st, sc, bp) for st, (sc, bp) in zip(_VIT_STATES, layer)]
            scores = [sc for sc, _ in layer]
        return out

    return fold_series(
        filled, [], ["day", "i"], ["c"],
        "day long, state string, score long, came_from long", viterbi,
    ).orderBy("day", "state")


# --------------------------------------------------------------------------
# Second-order (XGBoost-style) split gain with exact integer arithmetic
# --------------------------------------------------------------------------

_GB2_S = 10**6  # probability / hessian scale
_GB2_LAM = 10**6  # lambda regularizer, = 1.0 in h-scale
_GB2_BIN = 25000.0  # o_totalprice histogram bin width


@register(
    "ml_gbdt_second_order_gain",
    oracle=f"""
    WITH labeled AS (
      SELECT CAST(FLOOR(o_totalprice / {_GB2_BIN}) AS BIGINT) AS bin,
             year(o_orderdate) * 100 + month(o_orderdate) AS m,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
      FROM orders
    ),
    leaf AS (
      SELECT m, ({_GB2_S} * SUM(y)) // COUNT(*) AS p_scaled
      FROM labeled GROUP BY m
    ),
    gh AS (
      SELECT l.bin,
             SUM(f.p_scaled - {_GB2_S} * l.y) AS g,
             SUM((f.p_scaled * ({_GB2_S} - f.p_scaled)) // {_GB2_S}) AS h,
             COUNT(*) AS n
      FROM labeled l JOIN leaf f ON l.m = f.m
      GROUP BY l.bin
    ),
    tot AS (SELECT SUM(g) AS gt, SUM(h) AS ht FROM gh),
    cum AS (
      SELECT bin, n, g, h,
             SUM(g) OVER (ORDER BY bin) AS gl,
             SUM(h) OVER (ORDER BY bin) AS hl
      FROM gh
    ),
    scored AS (
      SELECT c.bin AS threshold_bin,
             CAST(c.n AS BIGINT) AS n_bin,
             CAST(c.g AS BIGINT) AS g_bin,
             CAST(c.h AS BIGINT) AS h_bin,
             CAST(
               (CAST(c.gl AS HUGEINT) * c.gl) // (c.hl + {_GB2_LAM})
               + (CAST(t.gt - c.gl AS HUGEINT) * (t.gt - c.gl))
                 // (t.ht - c.hl + {_GB2_LAM})
               - (CAST(t.gt AS HUGEINT) * t.gt) // (t.ht + {_GB2_LAM})
               AS BIGINT) AS gain_scaled
      FROM cum c CROSS JOIN tot t
    ),
    best AS (
      SELECT gain_scaled AS bg, threshold_bin AS bt
      FROM scored ORDER BY gain_scaled DESC, threshold_bin LIMIT 1
    )
    SELECT threshold_bin, n_bin, g_bin, h_bin, gain_scaled,
           CAST(CASE WHEN gain_scaled = b.bg AND threshold_bin = b.bt
                THEN 1 ELSE 0 END AS BIGINT) AS is_best
    FROM scored CROSS JOIN best b
    ORDER BY threshold_bin
    """,
    doc=(
        "Second-order (XGBoost-style) split finding: per-row gradients "
        "g = p - y and hessians h = p(1-p) of logistic loss against a "
        "PRIOR model (the per-month base-rate leaf — i.e. round-2 "
        "boosting, so the hessians genuinely vary by row, unlike the "
        "constant-hessian round 0), histogram-accumulated per feature "
        "bin, then the split sweep gain_t = GL²/(HL+λ) + GR²/(HR+λ) - "
        "G²/(H+λ) from ONE cumulative window over the O(bins) summary. "
        "All quantities are 1e6-scaled integers (squares lifted to "
        "DECIMAL(38,0)/HUGEINT; every floor-div has a non-negative "
        "numerator, so Spark div and DuckDB // agree) — bit-exact "
        "parity for the full gain curve, argmax marked with a "
        "deterministic (gain desc, bin) tiebreak. 100 TB shape: two "
        "partial+final aggregates over facts (leaf rates, then g/h "
        "histograms with the leaf broadcast) and an O(bins) window — "
        "exactly how distributed GBDT implementations (XGBoost/"
        "LightGBM hist mode) structure the pass."
    ),
    tags=("mllib", "training-pipeline", "orders"),
)
def ml_gbdt_second_order_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    labeled = o.select(
        F.floor(F.col("o_totalprice") / F.lit(_GB2_BIN)).cast("long").alias("bin"),
        (F.year("o_orderdate") * 100 + F.month("o_orderdate")).alias("m"),
        (F.col("o_orderpriority") == "1-URGENT").cast("long").alias("y"),
    )
    leaf = labeled.groupBy("m").agg(
        F.expr(f"({_GB2_S} * SUM(y)) div COUNT(*)").alias("p_scaled")
    )
    gh = (
        labeled.join(F.broadcast(leaf), "m")
        .groupBy("bin")
        .agg(
            F.sum(F.col("p_scaled") - _GB2_S * F.col("y")).alias("g"),
            F.sum(
                F.expr(f"(p_scaled * ({_GB2_S} - p_scaled)) div {_GB2_S}")
            ).alias("h"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    gains = {"g": ("gl", "gt"), "h": ("hl", "ht")}
    scored = _prefix_sums(gh, [], "bin", gains).select(
        F.col("bin").alias("threshold_bin"),
        F.col("n").cast("long").alias("n_bin"),
        F.col("g").cast("long").alias("g_bin"),
        F.col("h").cast("long").alias("h_bin"),
        F.expr(
            f"""CAST(
              (CAST(gl AS DECIMAL(38,0)) * gl) div (hl + {_GB2_LAM})
              + (CAST(gt - gl AS DECIMAL(38,0)) * (gt - gl))
                div (ht - hl + {_GB2_LAM})
              - (CAST(gt AS DECIMAL(38,0)) * gt) div (ht + {_GB2_LAM})
              AS BIGINT)"""
        ).alias("gain_scaled"),
    )
    best = (
        scored.orderBy(F.col("gain_scaled").desc(), "threshold_bin")
        .limit(1)
        .select(
            F.col("gain_scaled").alias("bg"), F.col("threshold_bin").alias("bt")
        )
    )
    return (
        scored.crossJoin(F.broadcast(best))
        .select(
            "threshold_bin",
            "n_bin",
            "g_bin",
            "h_bin",
            "gain_scaled",
            F.when(
                (F.col("gain_scaled") == F.col("bg"))
                & (F.col("threshold_bin") == F.col("bt")),
                1,
            )
            .otherwise(0)
            .cast("long")
            .alias("is_best"),
        )
        .orderBy("threshold_bin")
    )


# --------------------------------------------------------------------------
# Bagged decision stumps (random-forest round with deterministic bootstrap)
# --------------------------------------------------------------------------

_RF_B = 5  # bags


@register(
    "ml_random_forest_stumps",
    oracle=f"""
    WITH labeled AS (
      SELECT p_partkey, p_size,
             CASE WHEN p_retailprice > 950 THEN 1 ELSE 0 END AS y
      FROM part
    ),
    fanned AS (
      SELECT b.b, l.p_size, l.y,
             CAST('0x' || substr(md5(CAST(l.p_partkey AS VARCHAR)
                                     || '-' || CAST(b.b AS VARCHAR)), 1, 15)
                  AS BIGINT) % 1000000 AS u
      FROM labeled l CROSS JOIN UNNEST(generate_series(1, {_RF_B})) AS b(b)
    ),
    per_size AS (
      SELECT b, p_size,
             SUM({_boot_weight_sql("u")}) AS n,
             SUM(({_boot_weight_sql("u")}) * y) AS pos
      FROM fanned GROUP BY b, p_size
    ),
    tot AS (
      SELECT b, SUM(n) AS n_all, SUM(pos) AS pos_all FROM per_size GROUP BY b
    ),
    cum AS (
      SELECT b, p_size,
             SUM(n) OVER (PARTITION BY b ORDER BY p_size) AS ln,
             SUM(pos) OVER (PARTITION BY b ORDER BY p_size) AS lpos
      FROM per_size
    ),
    scored AS (
      SELECT c.b, c.p_size AS threshold,
             CAST(c.ln AS BIGINT) AS w_left,
             CAST(
               (CASE WHEN c.ln = 0 THEN 0
                     ELSE c.ln * ((CAST(2 AS HUGEINT) * c.lpos
                                   * (c.ln - c.lpos) * {_GINI_SCALE})
                                  // (c.ln * c.ln)) END
                + (t.n_all - c.ln) *
                  CASE WHEN t.n_all - c.ln = 0 THEN 0
                       ELSE (CAST(2 AS HUGEINT) * (t.pos_all - c.lpos)
                             * ((t.n_all - c.ln) - (t.pos_all - c.lpos))
                             * {_GINI_SCALE})
                            // ((t.n_all - c.ln) * (t.n_all - c.ln)) END
               ) // t.n_all AS BIGINT) AS gini_scaled
      FROM cum c JOIN tot t ON c.b = t.b
      WHERE c.ln < t.n_all
    ),
    best AS (
      SELECT b, threshold, w_left, gini_scaled,
             ROW_NUMBER() OVER (PARTITION BY b
                                ORDER BY gini_scaled, threshold) AS rk
      FROM scored
    ),
    winners AS (
      SELECT b, threshold, w_left, gini_scaled FROM best WHERE rk = 1
    ),
    modal AS (
      SELECT threshold FROM (
        SELECT threshold, COUNT(*) AS votes FROM winners GROUP BY threshold
      ) ORDER BY votes DESC, threshold LIMIT 1
    )
    SELECT w.b AS bag, w.threshold AS best_threshold, w.w_left,
           w.gini_scaled,
           CAST(CASE WHEN w.threshold = m.threshold THEN 1 ELSE 0 END
                AS BIGINT) AS is_modal
    FROM winners w CROSS JOIN modal m
    ORDER BY bag
    """,
    doc=(
        f"A random-forest training round as relations: {_RF_B} bagged "
        "decision stumps, each trained on a DETERMINISTIC Poisson "
        "bootstrap (per-(row,bag) md5 hash -> Poisson(1) weight via "
        "inverse CDF — the same reproducible resample as "
        "ml_poisson_bootstrap_ci, so the whole ensemble is "
        "hash-checkable), each finding its exact best split by the "
        "weighted-Gini cumulative sweep of ml_decision_stump_exact, "
        "then the forest's modal split marked with a deterministic "
        "tie-break. Per-bag windows PARTITION BY bag (parallel, no "
        "global funnel); the fan-out is a narrow explode (x5 rows, "
        "no shuffle) feeding one grouped aggregate, so facts are "
        "touched once. This is the bagging shape (Breiman): at 100 TB "
        "the per-bag summaries are O(bags x feature values) and "
        "everything downstream of the one fact-scale aggregate is "
        "broadcast-tiny."
    ),
    tags=("mllib", "training-pipeline", "ensemble", "part"),
)
def ml_random_forest_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    labeled = table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_size",
        (F.col("p_retailprice") > 950).cast("long").alias("y"),
    )
    fanned = labeled.select("p_partkey", "p_size", "y", _bags(_RF_B))
    scored = _gini_sweep(fanned, ["b"], "p_size", _poisson_weight("p_partkey"))
    winners = _best_split(scored, ["b"], "p_size", "ln")
    modal = (
        winners.groupBy("p_size")
        .agg(F.count(F.lit(1)).alias("votes"))
        .orderBy(F.col("votes").desc(), "p_size")
        .limit(1)
        .select(F.col("p_size").alias("modal_threshold"))
    )
    return (
        winners.crossJoin(F.broadcast(modal))
        .select(
            F.col("b").alias("bag"),
            F.col("p_size").alias("best_threshold"),
            F.col("ln").cast("long").alias("w_left"),
            "gini_scaled",
            (F.col("p_size") == F.col("modal_threshold"))
            .cast("long")
            .alias("is_modal"),
        )
        .orderBy("bag")
    )


# --------------------------------------------------------------------------
# Pinball (quantile) loss evaluation
# --------------------------------------------------------------------------

_PIN_QS = (10, 50, 90)  # evaluated quantiles, in percent


@register(
    "ml_quantile_pinball_eval",
    oracle=f"""
    WITH base AS (
      SELECT o_orderpriority AS grp,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    pred AS (
      SELECT grp, SUM(cents) // COUNT(*) AS pred_cents FROM base GROUP BY grp
    ),
    fanned AS (
      SELECT b.grp, b.cents, p.pred_cents, q.q
      FROM base b
      JOIN pred p ON b.grp = p.grp
      CROSS JOIN (VALUES {", ".join(f"({q})" for q in _PIN_QS)}) q(q)
    )
    SELECT grp, CAST(q AS BIGINT) AS q_pct,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(pred_cents) AS BIGINT) AS pred_cents,
           CAST(SUM(CASE WHEN cents >= pred_cents
                    THEN q * (cents - pred_cents)
                    ELSE (100 - q) * (pred_cents - cents) END) AS BIGINT)
             AS pinball_sum_scaled
    FROM fanned
    GROUP BY grp, q
    ORDER BY grp, q_pct
    """,
    doc=(
        "Pinball (quantile) loss evaluation — THE metric for quantile "
        "regression and probabilistic forecasts (it elicits the "
        "q-quantile, and is what M5/GEFCom-style forecast evals "
        "score): rho_q(y, yhat) = q(y-yhat) if y>=yhat else "
        "(1-q)(yhat-y), here x100 so every contribution is an exact "
        "integer in cents. Evaluated for a per-group integer-mean "
        "predictor at q=0.1/0.5/0.9 (an asymmetric-loss readout that "
        "shows WHERE a central predictor fails as a tail predictor). "
        "100 TB shape: one broadcast of the O(groups) predictor "
        "relation, a x3 literal quantile fanout (no shuffle), one "
        "partial+final aggregate."
    ),
    tags=("mllib", "eval", "orders"),
)
def ml_quantile_pinball_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    base = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    pred = base.groupBy("grp").agg(
        F.expr("SUM(cents) div COUNT(*)").alias("pred_cents")
    )
    qcol = F.explode(F.array(*[F.lit(q) for q in _PIN_QS])).alias("q")
    fanned = base.join(F.broadcast(pred), "grp").select(
        "grp", "cents", "pred_cents", qcol
    )
    loss = F.when(
        F.col("cents") >= F.col("pred_cents"),
        F.col("q") * (F.col("cents") - F.col("pred_cents")),
    ).otherwise((100 - F.col("q")) * (F.col("pred_cents") - F.col("cents")))
    return (
        fanned.groupBy("grp", F.col("q").cast("long").alias("q_pct"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("pred_cents").cast("long").alias("pred_cents"),
            F.sum(loss).cast("long").alias("pinball_sum_scaled"),
        )
        .orderBy("grp", "q_pct")
    )


@register(
    "ml_oob_error_estimate",
    oracle=f"""
    WITH labeled AS (
      SELECT p_partkey, p_size,
             CASE WHEN p_retailprice > 950 THEN 1 ELSE 0 END AS y
      FROM part
    ),
    fanned AS (
      SELECT b.b, l.p_partkey, l.p_size, l.y,
             CAST('0x' || substr(md5(CAST(l.p_partkey AS VARCHAR)
                                     || '-' || CAST(b.b AS VARCHAR)), 1, 15)
                  AS BIGINT) % 1000000 AS u
      FROM labeled l CROSS JOIN UNNEST(generate_series(1, {_RF_B})) AS b(b)
    ),
    per_size AS (
      SELECT b, p_size,
             SUM({_boot_weight_sql("u")}) AS n,
             SUM(({_boot_weight_sql("u")}) * y) AS pos
      FROM fanned GROUP BY b, p_size
    ),
    tot AS (
      SELECT b, SUM(n) AS n_all, SUM(pos) AS pos_all FROM per_size GROUP BY b
    ),
    cum AS (
      SELECT b, p_size,
             SUM(n) OVER (PARTITION BY b ORDER BY p_size) AS ln,
             SUM(pos) OVER (PARTITION BY b ORDER BY p_size) AS lpos
      FROM per_size
    ),
    scored AS (
      SELECT c.b, c.p_size AS threshold, c.ln, c.lpos, t.n_all, t.pos_all,
             CAST(
               (CASE WHEN c.ln = 0 THEN 0
                     ELSE c.ln * ((CAST(2 AS HUGEINT) * c.lpos
                                   * (c.ln - c.lpos) * {_GINI_SCALE})
                                  // (c.ln * c.ln)) END
                + (t.n_all - c.ln) *
                  CASE WHEN t.n_all - c.ln = 0 THEN 0
                       ELSE (CAST(2 AS HUGEINT) * (t.pos_all - c.lpos)
                             * ((t.n_all - c.ln) - (t.pos_all - c.lpos))
                             * {_GINI_SCALE})
                            // ((t.n_all - c.ln) * (t.n_all - c.ln)) END
               ) // t.n_all AS BIGINT) AS gini_scaled
      FROM cum c JOIN tot t ON c.b = t.b
      WHERE c.ln < t.n_all
    ),
    winners AS (
      SELECT b, threshold,
             CASE WHEN 2 * lpos >= ln THEN 1 ELSE 0 END AS label_left,
             CASE WHEN 2 * (pos_all - lpos) >= (n_all - ln) THEN 1 ELSE 0 END
               AS label_right
      FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY b
                                     ORDER BY gini_scaled, threshold) AS rk
        FROM scored
      ) WHERE rk = 1
    ),
    oob AS (
      SELECT f.b, f.p_size, f.y
      FROM fanned f
      WHERE f.u < {_POIS_CUM_MICRO[0]}
    )
    SELECT o.b AS bag,
           CAST(COUNT(*) AS BIGINT) AS n_oob,
           CAST(SUM(CASE WHEN (CASE WHEN o.p_size <= w.threshold
                               THEN w.label_left ELSE w.label_right END)
                          <> o.y THEN 1 ELSE 0 END) AS BIGINT) AS n_err,
           CAST((1000 * SUM(CASE WHEN (CASE WHEN o.p_size <= w.threshold
                                       THEN w.label_left
                                       ELSE w.label_right END)
                                 <> o.y THEN 1 ELSE 0 END))
                // COUNT(*) AS BIGINT) AS err_permille
    FROM oob o JOIN winners w ON o.b = w.b
    GROUP BY o.b
    ORDER BY bag
    """,
    doc=(
        "Out-of-bag error — the free generalization estimate bagging "
        "provides (Breiman: rows with bootstrap weight 0 in bag b "
        "are a held-out set for bag b's model, no extra split "
        "needed): each bag's exact-Gini stump (same deterministic "
        "md5-Poisson resample and split sweep as "
        "ml_random_forest_stumps, extended with integer "
        "majority-vote leaf labels, ties to 1) is evaluated on "
        "exactly the rows it never trained on. Per-bag OOB error in "
        "integer permille; the ~e^-1 OOB fraction is visible in "
        "n_oob. 100 TB shape: the OOB evaluation is a broadcast join "
        "of the 5-row winners relation against the fan-out — facts "
        "are touched once for training stats and once for eval."
    ),
    tags=("mllib", "training-pipeline", "ensemble", "part"),
)
def ml_oob_error_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    labeled = table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_size",
        (F.col("p_retailprice") > 950).cast("long").alias("y"),
    )
    fanned = labeled.select("p_partkey", "p_size", "y", _bags(_RF_B)).withColumn(
        "w", _poisson_weight("p_partkey")
    )
    scored = _gini_sweep(fanned, ["b"], "p_size", F.col("w"))
    winners = _best_split(
        scored, ["b"], "p_size", "ln", "lpos", "n_all", "pos_all"
    ).select(
        "b",
        F.col("p_size").alias("threshold"),
        F.expr("CASE WHEN 2 * lpos >= ln THEN 1 ELSE 0 END").alias(
            "label_left"
        ),
        F.expr(
            "CASE WHEN 2 * (pos_all - lpos) >= (n_all - ln) "
            "THEN 1 ELSE 0 END"
        ).alias("label_right"),
    )
    # out of bag = weight 0, i.e. u < _POIS_CUM_MICRO[0]
    oob = fanned.filter(F.col("w") == 0).select("b", "p_size", "y")
    pred = F.when(
        F.col("p_size") <= F.col("threshold"), F.col("label_left")
    ).otherwise(F.col("label_right"))
    err = (pred != F.col("y")).cast("long")
    return (
        oob.join(F.broadcast(winners), "b")
        .groupBy(F.col("b").cast("long").alias("bag"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_oob"),
            F.sum(err).cast("long").alias("n_err"),
            F.expr(
                "CAST((1000 * SUM(CASE WHEN (CASE WHEN p_size <= threshold "
                "THEN label_left ELSE label_right END) <> y "
                "THEN 1 ELSE 0 END)) div COUNT(*) AS BIGINT)"
            ).alias("err_permille"),
        )
        .orderBy("bag")
    )


# --------------------------------------------------------------------------
# Group fairness metrics (demographic parity / equalized odds gaps)
# --------------------------------------------------------------------------


@register(
    "ml_fairness_group_metrics",
    oracle="""
    WITH scored AS (
      SELECT c.c_mktsegment AS grp,
             CASE WHEN o.o_totalprice > 150000 THEN 1 ELSE 0 END AS yhat,
             CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS y
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    per_grp AS (
      SELECT grp,
             COUNT(*) AS n,
             SUM(yhat) AS n_pos_pred,
             SUM(CASE WHEN y = 1 AND yhat = 1 THEN 1 ELSE 0 END) AS tp,
             SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS np,
             SUM(CASE WHEN y = 0 AND yhat = 1 THEN 1 ELSE 0 END) AS fp,
             SUM(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS nn
      FROM scored GROUP BY grp
    ),
    overall AS (
      SELECT (1000 * SUM(n_pos_pred)) // SUM(n) AS sel_all,
             (1000 * SUM(tp)) // SUM(np) AS tpr_all,
             (1000 * SUM(fp)) // SUM(nn) AS fpr_all
      FROM per_grp
    )
    SELECT g.grp,
           CAST(g.n AS BIGINT) AS n,
           CAST((1000 * g.n_pos_pred) // g.n AS BIGINT)
             AS selection_permille,
           CAST((1000 * g.tp) // g.np AS BIGINT) AS tpr_permille,
           CAST((1000 * g.fp) // g.nn AS BIGINT) AS fpr_permille,
           CAST((1000 * g.n_pos_pred) // g.n - o.sel_all AS BIGINT)
             AS parity_gap_permille,
           CAST((1000 * g.tp) // g.np - o.tpr_all AS BIGINT)
             AS tpr_gap_permille,
           CAST((1000 * g.fp) // g.nn - o.fpr_all AS BIGINT)
             AS fpr_gap_permille
    FROM per_grp g CROSS JOIN overall o
    ORDER BY g.grp
    """,
    doc=(
        "Group fairness audit — the responsible-AI readout every "
        "model release gate computes: per protected group (market "
        "segment as the stand-in attribute), SELECTION RATE "
        "(demographic parity), TPR and FPR (the two halves of "
        "equalized odds), each with its gap against the pooled rate, "
        "all in exact integer permille so the audit table is "
        "hash-stable run over run. The classifier under audit is a "
        "deterministic price-threshold rule; the metrics machinery — "
        "one fact scan with the dim broadcast, one group-grain "
        "aggregate, one 1-row pooled broadcast — is the part that "
        "runs at 100 TB and the part this query pins."
    ),
    tags=("mllib", "eval", "fairness", "orders"),
)
def ml_fairness_group_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", "o_orderpriority"
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    scored = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("grp"),
        (F.col("o_totalprice") > 150000).cast("long").alias("yhat"),
        (F.col("o_orderpriority") == "1-URGENT").cast("long").alias("y"),
    )
    per_grp = scored.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("yhat").alias("n_pos_pred"),
        F.sum(((F.col("y") == 1) & (F.col("yhat") == 1)).cast("long")).alias("tp"),
        F.sum((F.col("y") == 1).cast("long")).alias("np"),
        F.sum(((F.col("y") == 0) & (F.col("yhat") == 1)).cast("long")).alias("fp"),
        F.sum((F.col("y") == 0).cast("long")).alias("nn"),
    )
    overall = per_grp.agg(
        F.expr("(1000 * SUM(n_pos_pred)) div SUM(n)").alias("sel_all"),
        F.expr("(1000 * SUM(tp)) div SUM(np)").alias("tpr_all"),
        F.expr("(1000 * SUM(fp)) div SUM(nn)").alias("fpr_all"),
    )
    return (
        per_grp.crossJoin(F.broadcast(overall))
        .select(
            "grp",
            F.col("n").cast("long").alias("n"),
            F.expr("CAST((1000 * n_pos_pred) div n AS BIGINT)").alias(
                "selection_permille"
            ),
            F.expr("CAST((1000 * tp) div np AS BIGINT)").alias("tpr_permille"),
            F.expr("CAST((1000 * fp) div nn AS BIGINT)").alias("fpr_permille"),
            F.expr(
                "CAST((1000 * n_pos_pred) div n - sel_all AS BIGINT)"
            ).alias("parity_gap_permille"),
            F.expr("CAST((1000 * tp) div np - tpr_all AS BIGINT)").alias(
                "tpr_gap_permille"
            ),
            F.expr("CAST((1000 * fp) div nn - fpr_all AS BIGINT)").alias(
                "fpr_gap_permille"
            ),
        )
        .orderBy("grp")
    )


# --------------------------------------------------------------------------
# Cohen's kappa (inter-annotator / model agreement beyond chance)
# --------------------------------------------------------------------------


@register(
    "ml_cohen_kappa_agreement",
    oracle="""
    WITH rated AS (
      SELECT c.c_mktsegment AS segment,
             CASE WHEN o.o_totalprice > 150000 THEN 1 ELSE 0 END AS r1,
             CASE WHEN EXTRACT(MONTH FROM o.o_orderdate) <= 6
                  THEN 1 ELSE 0 END AS r2
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    per_seg AS (
      SELECT segment,
             COUNT(*) AS n,
             SUM(CASE WHEN r1 = r2 THEN 1 ELSE 0 END) AS agree,
             SUM(r1) AS m1_pos, SUM(r2) AS m2_pos
      FROM rated GROUP BY segment
    )
    SELECT segment,
           CAST(n AS BIGINT) AS n,
           CAST((1000 * agree) // n AS BIGINT) AS po_permille,
           CAST((1000 * (m1_pos * m2_pos + (n - m1_pos) * (n - m2_pos)))
                // (n * n) AS BIGINT) AS pe_permille,
           CAST((1000000 * (n * agree
                            - (m1_pos * m2_pos
                               + (n - m1_pos) * (n - m2_pos))))
                // (n * n - (m1_pos * m2_pos
                             + (n - m1_pos) * (n - m2_pos)))
                AS BIGINT) AS kappa_ppm
    FROM per_seg
    ORDER BY segment
    """,
    doc=(
        "Cohen's kappa — chance-corrected agreement, THE quality "
        "metric for annotation pipelines (two labelers, or "
        "model-vs-human audit): kappa = (p_o - p_e)/(1 - p_e) "
        "computed ENTIRELY in integers by clearing denominators — "
        "p_o = agree/n and p_e = (m1·m2 + m1'·m2')/n² give kappa = "
        "(n·agree - Σmm) / (n² - Σmm), emitted ppm-scaled (kappa "
        "can be negative: worse-than-chance agreement survives the "
        "truncating div identically on both engines). Raters here "
        "are two deterministic rules (price threshold vs order "
        "half-year) so the metric machinery is what's hash-checked, "
        "per segment. One fact scan, dim broadcast, segment-grain "
        "sufficient statistics — the 100 TB annotation-QA shape."
    ),
    tags=("mllib", "eval", "annotation", "orders"),
)
def ml_cohen_kappa_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", "o_orderdate"
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    rated = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        (F.col("o_totalprice") > 150000).cast("long").alias("r1"),
        (F.month("o_orderdate") <= 6).cast("long").alias("r2"),
    )
    per_seg = rated.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("r1") == F.col("r2")).cast("long")).alias("agree"),
        F.sum("r1").alias("m1_pos"),
        F.sum("r2").alias("m2_pos"),
    )
    return per_seg.select(
        "segment",
        F.col("n").cast("long").alias("n"),
        F.expr("CAST((1000 * agree) div n AS BIGINT)").alias("po_permille"),
        F.expr(
            "CAST((1000 * (m1_pos * m2_pos + (n - m1_pos) * (n - m2_pos)))"
            " div (n * n) AS BIGINT)"
        ).alias("pe_permille"),
        F.expr(
            "CAST((1000000 * (n * agree - (m1_pos * m2_pos"
            " + (n - m1_pos) * (n - m2_pos))))"
            " div (n * n - (m1_pos * m2_pos + (n - m1_pos) * (n - m2_pos)))"
            " AS BIGINT)"
        ).alias("kappa_ppm"),
    ).orderBy("segment")


# --------------------------------------------------------------------------
# Error-slice finder (worst-performing cohorts with support floor)
# --------------------------------------------------------------------------

_SLICE_MIN_N = 50
_SLICE_TOPK = 5


@register(
    "ml_error_slice_finder",
    oracle=f"""
    WITH scored AS (
      SELECT c.c_mktsegment AS segment,
             EXTRACT(YEAR FROM o.o_orderdate) AS yr,
             CASE WHEN (CASE WHEN o.o_totalprice > 150000 THEN 1 ELSE 0 END)
                       <> (CASE WHEN o.o_orderpriority = '1-URGENT'
                                THEN 1 ELSE 0 END)
                  THEN 1 ELSE 0 END AS err
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    cells AS (
      SELECT segment, yr, COUNT(*) AS n, SUM(err) AS n_err,
             (1000 * SUM(err)) // COUNT(*) AS err_permille
      FROM scored GROUP BY segment, yr
      HAVING COUNT(*) >= {_SLICE_MIN_N}
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        ORDER BY err_permille DESC, segment, yr) AS rk
      FROM cells
    )
    SELECT segment, CAST(yr AS BIGINT) AS yr, CAST(n AS BIGINT) AS n,
           CAST(n_err AS BIGINT) AS n_err,
           CAST(err_permille AS BIGINT) AS err_permille,
           CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= {_SLICE_TOPK}
    ORDER BY rk
    """,
    doc=(
        "Error-slice finder — the model-debugging pass (SliceFinder/"
        "SliceLine lite) that answers 'WHERE does the model fail': "
        "the classifier's disagreement rate is computed over every "
        f"(segment x year) cohort, cohorts under {_SLICE_MIN_N} rows "
        "are dropped (a support floor, so noise cells can't top the "
        "list), and the worst slices surface with a "
        "deterministic (rate desc, segment, yr) order. Exact integer "
        "permille keeps the ranking hash-stable. The top-k sort runs "
        "over the already-aggregated O(segments x years) cell "
        "relation — at 100 TB only the cell rollup touches facts, "
        "and richer slice grammars (feature crossings) just widen "
        "the grouping set."
    ),
    tags=("mllib", "eval", "debugging", "orders"),
)
def ml_error_slice_finder(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    o = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice", "o_orderdate", "o_orderpriority"
    )
    c = table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    yhat = (F.col("o_totalprice") > 150000).cast("long")
    y = (F.col("o_orderpriority") == "1-URGENT").cast("long")
    scored = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        F.col("c_mktsegment").alias("segment"),
        F.year("o_orderdate").alias("yr"),
        (yhat != y).cast("long").alias("err"),
    )
    cells = (
        scored.groupBy("segment", "yr")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("err").alias("n_err"),
            F.expr("(1000 * SUM(err)) div COUNT(*)").alias("err_permille"),
        )
        .filter(F.col("n") >= _SLICE_MIN_N)
    )
    w = Window.orderBy(F.col("err_permille").desc(), "segment", "yr")
    return (
        cells.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _SLICE_TOPK)
        .select(
            "segment",
            F.col("yr").cast("long").alias("yr"),
            F.col("n").cast("long").alias("n"),
            F.col("n_err").cast("long").alias("n_err"),
            F.col("err_permille").cast("long").alias("err_permille"),
            F.col("rk").cast("long").alias("rk"),
        )
        .orderBy("rk")
    )


# --------------------------------------------------------------------------
# Depth-2 greedy tree: two levels of exact split finding
# --------------------------------------------------------------------------

# the tree and AdaBoost oracles' Gini: _GINI_SPARK's products in
# HUGEINT, without the ln = 0 guard (unweighted and AdaBoost weights are
# >= 1)
_T2_GINI_SQL = f"""
      (CAST(ln AS HUGEINT) * ((CAST(2 AS HUGEINT) * lpos * (ln - lpos)
              * {_GINI_SCALE}) // (CAST(ln AS HUGEINT) * ln))
       + CAST(n_all - ln AS HUGEINT) *
         CASE WHEN n_all - ln = 0 THEN 0
              ELSE (CAST(2 AS HUGEINT) * (pos_all - lpos)
                    * ((n_all - ln) - (pos_all - lpos))
                    * {_GINI_SCALE})
                   // (CAST(n_all - ln AS HUGEINT)
                            * (n_all - ln)) END
      ) // n_all"""


def _tree_labeled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts with the tree learners' label ``y`` and two features."""
    return table(spark, sf_dir, "part").select(
        (F.col("p_retailprice") > 950).cast("long").alias("y"),
        F.col("p_size").cast("long").alias("f_size"),
        F.length("p_name").cast("long").alias("f_namelen"),
    )


def _unpivot(df: DataFrame, extra: list[str]) -> DataFrame:
    """One (``extra``, y, feature, val) row per row and feature: an
    explode in one scan, not a self-union that reads the table twice."""
    pairs = F.array(
        F.struct(F.lit("p_size").alias("feature"), F.col("f_size").alias("val")),
        F.struct(F.lit("name_len").alias("feature"), F.col("f_namelen").alias("val")),
    )
    return df.select(*extra, "y", F.explode(pairs).alias("fv")).select(
        *extra, "y", "fv.feature", "fv.val"
    )


def _feature_val(feature: str):
    """The row's value of the feature named by column ``feature``."""
    return F.when(F.col(feature) == "p_size", F.col("f_size")).otherwise(
        F.col("f_namelen")
    )


@register(
    "ml_tree_depth2_exact",
    oracle=f"""
    WITH labeled AS (
      SELECT CASE WHEN p_retailprice > 950 THEN 1 ELSE 0 END AS y,
             CAST(p_size AS BIGINT) AS f_size,
             CAST(LENGTH(p_name) AS BIGINT) AS f_namelen
      FROM part
    ),
    feats AS (
      SELECT y, 'p_size' AS feature, f_size AS val FROM labeled
      UNION ALL
      SELECT y, 'name_len' AS feature, f_namelen AS val FROM labeled
    ),
    g AS (
      SELECT feature, val, COUNT(*) AS n, SUM(y) AS pos
      FROM feats GROUP BY feature, val
    ),
    tot AS (SELECT COUNT(*) AS n_all, SUM(y) AS pos_all FROM labeled),
    cum AS (
      SELECT feature, val,
             SUM(n) OVER (PARTITION BY feature ORDER BY val) AS ln,
             SUM(pos) OVER (PARTITION BY feature ORDER BY val) AS lpos
      FROM g
    ),
    scored AS (
      SELECT feature, val,
             CAST({_T2_GINI_SQL} AS BIGINT) AS gini_scaled
      FROM cum CROSS JOIN tot WHERE ln < n_all
    ),
    root AS (
      SELECT feature, val AS thr, gini_scaled
      FROM scored ORDER BY gini_scaled, feature, val LIMIT 1
    ),
    assigned AS (
      SELECT l.y, l.f_size, l.f_namelen,
             CASE WHEN (CASE WHEN r.feature = 'p_size' THEN l.f_size
                        ELSE l.f_namelen END) <= r.thr
                  THEN 'L' ELSE 'R' END AS node
      FROM labeled l CROSS JOIN root r
    ),
    feats2 AS (
      SELECT node, y, 'p_size' AS feature, f_size AS val FROM assigned
      UNION ALL
      SELECT node, y, 'name_len' AS feature, f_namelen AS val FROM assigned
    ),
    g2 AS (
      SELECT node, feature, val, COUNT(*) AS n, SUM(y) AS pos
      FROM feats2 GROUP BY node, feature, val
    ),
    tot2 AS (
      SELECT node, COUNT(*) AS n_all, SUM(y) AS pos_all
      FROM assigned GROUP BY node
    ),
    cum2 AS (
      SELECT node, feature, val,
             SUM(n) OVER (PARTITION BY node, feature ORDER BY val) AS ln,
             SUM(pos) OVER (PARTITION BY node, feature ORDER BY val) AS lpos
      FROM g2
    ),
    scored2 AS (
      SELECT c.node, c.feature, c.val,
             CAST({_T2_GINI_SQL} AS BIGINT) AS gini_scaled
      FROM cum2 c JOIN tot2 USING (node) WHERE ln < n_all
    ),
    child AS (
      SELECT node, feature, val AS thr, gini_scaled,
             ROW_NUMBER() OVER (
               PARTITION BY node ORDER BY gini_scaled, feature, val
             ) AS rk
      FROM scored2
    )
    SELECT 'root' AS node, r.feature, CAST(r.thr AS BIGINT) AS threshold,
           CAST(t.n_all AS BIGINT) AS n_node,
           CAST(t.pos_all AS BIGINT) AS pos_node, r.gini_scaled
    FROM root r CROSS JOIN tot t
    UNION ALL
    SELECT c.node, c.feature, CAST(c.thr AS BIGINT) AS threshold,
           CAST(t2.n_all AS BIGINT) AS n_node,
           CAST(t2.pos_all AS BIGINT) AS pos_node, c.gini_scaled
    FROM child c JOIN tot2 t2 USING (node)
    WHERE c.rk = 1
    ORDER BY node
    """,
    doc=(
        "Greedy depth-2 CART: level 1 sweeps BOTH candidate features "
        "(p_size and name length) with the exact sort-and-scan split "
        "finder of ml_decision_stump_exact, picks the (gini, feature, "
        "threshold)-min root, partitions the rows into L/R, and level "
        "2 repeats the sweep PER NODE to pick each child's split — the "
        "recursion step that turns stumps into trees, expressed as two "
        "rounds of grouped-count + cumulative-window (no per-threshold "
        "rescan, no per-row Python). Weighted Gini stays a 1e8-scaled "
        "integer (DECIMAL(38,0) / HUGEINT intermediates -> bit-exact "
        "parity). Output: one row per tree node with its chosen split. "
        "At 100 TB each level is one grouped aggregate over (node, "
        "feature, value) histograms — the XGBoost/LightGBM histogram "
        "pattern — never a resort of the raw rows."
    ),
    tags=("mllib", "training-pipeline", "part"),
)
def ml_tree_depth2_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    labeled = _tree_labeled(spark, sf_dir)
    keep = ("feature", "val", "n_all", "pos_all")
    root = _best_split(
        _gini_sweep(_unpivot(labeled, []), ["feature"], "val", F.lit(1)), [], *keep
    )
    assigned = labeled.crossJoin(F.broadcast(root)).withColumn(
        "node",
        F.when(_feature_val("feature") <= F.col("val"), F.lit("L")).otherwise(
            F.lit("R")
        ),
    )
    children = _best_split(
        _gini_sweep(_unpivot(assigned, ["node"]), ["node", "feature"], "val", F.lit(1)),
        ["node"],
        *keep,
    )
    return (
        root.withColumn("node", F.lit("root"))
        .unionByName(children)
        .select(
            "node",
            "feature",
            F.col("val").cast("long").alias("threshold"),
            F.col("n_all").cast("long").alias("n_node"),
            F.col("pos_all").cast("long").alias("pos_node"),
            "gini_scaled",
        )
        .orderBy("node")
    )


# --------------------------------------------------------------------------
# AdaBoost round, exact integer weights
# --------------------------------------------------------------------------

_AB_ERR_SQL = (
    "LEAST(lpos, ln - lpos)"
    " + LEAST(pos_all - lpos, (n_all - ln) - (pos_all - lpos))"
)


@register(
    "ml_adaboost_round_exact",
    oracle=f"""
    WITH labeled AS (
      SELECT CASE WHEN p_retailprice > 950 THEN 1 ELSE 0 END AS y,
             CAST(p_size AS BIGINT) AS f_size,
             CAST(LENGTH(p_name) AS BIGINT) AS f_namelen
      FROM part
    ),
    feats AS (
      SELECT y, 'p_size' AS feature, f_size AS val FROM labeled
      UNION ALL
      SELECT y, 'name_len' AS feature, f_namelen AS val FROM labeled
    ),
    g AS (
      SELECT feature, val, COUNT(*) AS n, SUM(y) AS pos
      FROM feats GROUP BY feature, val
    ),
    tot AS (SELECT COUNT(*) AS n_all, SUM(y) AS pos_all FROM labeled),
    cum AS (
      SELECT feature, val,
             SUM(n) OVER (PARTITION BY feature ORDER BY val) AS ln,
             SUM(pos) OVER (PARTITION BY feature ORDER BY val) AS lpos
      FROM g
    ),
    scored AS (
      SELECT feature, val, ln, lpos, n_all, pos_all,
             CAST({_T2_GINI_SQL} AS BIGINT) AS gini_scaled,
             {_AB_ERR_SQL} AS err
      FROM cum CROSS JOIN tot WHERE ln < n_all
    ),
    best1 AS (
      SELECT * FROM scored ORDER BY gini_scaled, feature, val LIMIT 1
    ),
    weighted AS (
      SELECT l.y, l.f_size, l.f_namelen,
             CASE WHEN (CASE WHEN (CASE WHEN b.feature = 'p_size'
                                   THEN l.f_size ELSE l.f_namelen END) <= b.val
                        THEN CASE WHEN 2 * b.lpos > b.ln THEN 1 ELSE 0 END
                        ELSE CASE WHEN 2 * (b.pos_all - b.lpos)
                                       > (b.n_all - b.ln)
                             THEN 1 ELSE 0 END END) <> l.y
                  THEN b.n_all - b.err
                  ELSE CASE WHEN b.err = 0 THEN 1 ELSE b.err END
             END AS w
      FROM labeled l CROSS JOIN best1 b
    ),
    feats2 AS (
      SELECT y, w, 'p_size' AS feature, f_size AS val FROM weighted
      UNION ALL
      SELECT y, w, 'name_len' AS feature, f_namelen AS val FROM weighted
    ),
    g2 AS (
      SELECT feature, val, SUM(w) AS n, SUM(w * y) AS pos
      FROM feats2 GROUP BY feature, val
    ),
    tot2 AS (
      SELECT SUM(w) AS n_all, SUM(w * y) AS pos_all FROM weighted
    ),
    cum2 AS (
      SELECT feature, val,
             SUM(n) OVER (PARTITION BY feature ORDER BY val) AS ln,
             SUM(pos) OVER (PARTITION BY feature ORDER BY val) AS lpos
      FROM g2
    ),
    scored2 AS (
      SELECT feature, val, ln, lpos, n_all, pos_all,
             CAST({_T2_GINI_SQL} AS BIGINT) AS gini_scaled,
             {_AB_ERR_SQL} AS err
      FROM cum2 CROSS JOIN tot2 WHERE ln < n_all
    ),
    best2 AS (
      SELECT * FROM scored2 ORDER BY gini_scaled, feature, val LIMIT 1
    )
    SELECT CAST(1 AS BIGINT) AS round, feature,
           CAST(val AS BIGINT) AS threshold, gini_scaled,
           CAST(err AS BIGINT) AS err_w, CAST(n_all AS BIGINT) AS tot_w
    FROM best1
    UNION ALL
    SELECT CAST(2 AS BIGINT) AS round, feature,
           CAST(val AS BIGINT) AS threshold, gini_scaled,
           CAST(err AS BIGINT) AS err_w, CAST(n_all AS BIGINT) AS tot_w
    FROM best2
    ORDER BY round
    """,
    doc=(
        "One exact AdaBoost round: train the min-Gini stump over both "
        "features (round 1), classify each side by its majority class, "
        "then reweight — misclassified rows get weight N-M, correct "
        "rows M (the standard multiplicative exp(2*alpha) = (1-eps)/eps "
        "update with denominators cleared, so weights stay INTEGERS "
        "and the round-2 weighted stump is bit-exactly comparable). "
        "Round 2 re-sweeps both features under the new weights. Output "
        "is the two chosen weak learners with scaled weighted Gini, "
        "weighted error and total weight. Same histogram-sweep shape "
        "as the depth-2 tree: each round is one grouped aggregate + "
        "one bounded window — boosting at 100 TB is T sequential "
        "passes, never a per-row Python loop."
    ),
    tags=("mllib", "training-pipeline", "part"),
)
def ml_adaboost_round_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    labeled = _tree_labeled(spark, sf_dir)
    keep = ("feature", "val", "ln", "lpos", "n_all", "pos_all")
    err = F.expr(_AB_ERR_SQL)
    scored1 = _gini_sweep(_unpivot(labeled, []), ["feature"], "val", F.lit(1))
    best1 = _best_split(scored1, [], *keep).withColumn("err", err)
    pred = F.when(
        _feature_val("feature") <= F.col("val"),
        (2 * F.col("lpos") > F.col("ln")).cast("long"),
    ).otherwise(
        (2 * (F.col("pos_all") - F.col("lpos"))
         > (F.col("n_all") - F.col("ln"))).cast("long")
    )
    weighted = labeled.crossJoin(F.broadcast(best1)).select(
        "y",
        "f_size",
        "f_namelen",
        F.when(pred != F.col("y"), F.col("n_all") - F.col("err"))
        .otherwise(F.when(F.col("err") == 0, F.lit(1)).otherwise(F.col("err")))
        .alias("w"),
    )
    scored2 = _gini_sweep(_unpivot(weighted, ["w"]), ["feature"], "val", F.col("w"))
    best2 = _best_split(scored2, [], *keep).withColumn("err", err)

    def row(best, r):
        return best.select(
            F.lit(r).cast("long").alias("round"),
            "feature",
            F.col("val").cast("long").alias("threshold"),
            "gini_scaled",
            F.col("err").cast("long").alias("err_w"),
            F.col("n_all").cast("long").alias("tot_w"),
        )

    return row(best1, 1).unionAll(row(best2, 2)).orderBy("round")


# --------------------------------------------------------------------------
# Off-policy evaluation: inverse propensity scoring (IPS + SNIPS)
# --------------------------------------------------------------------------

_IPS_S = 10**6


@register(
    "ml_offpolicy_ips_eval",
    oracle=f"""
    WITH ref AS (
      SELECT user_id % 4 AS segment, event_type AS action
      FROM events WHERE event_id % 2 = 0
    ),
    logged AS (
      SELECT user_id % 4 AS segment, event_type AS action,
             CAST(ROUND(value * 100) AS BIGINT) AS r_cents
      FROM events WHERE event_id % 2 = 1
    ),
    ref_seg AS (SELECT segment, COUNT(*) AS n0_s FROM ref GROUP BY segment),
    ref_act AS (
      SELECT segment, action, COUNT(*) AS n0_as
      FROM ref GROUP BY segment, action
    ),
    seg AS (SELECT segment, COUNT(*) AS n_s FROM logged GROUP BY segment),
    target AS (
      SELECT segment,
             CASE WHEN segment % 2 = 0 THEN 'click' ELSE 'view' END
               AS pi_action
      FROM seg
    ),
    matched AS (
      SELECT l.segment, COUNT(*) AS n_match, SUM(l.r_cents) AS r_match
      FROM logged l JOIN target t
        ON l.segment = t.segment AND l.action = t.pi_action
      GROUP BY l.segment
    )
    SELECT s.segment,
           CAST(s.n_s AS BIGINT) AS n_rows,
           CAST(COALESCE(m.n_match, 0) AS BIGINT) AS n_matched,
           CAST(({_IPS_S} * COALESCE(ra.n0_as, 0)) // rs.n0_s AS BIGINT)
             AS propensity_scaled,
           CAST(CASE WHEN COALESCE(ra.n0_as, 0) = 0 THEN 0
                ELSE ({_IPS_S} * COALESCE(m.r_match, 0) * rs.n0_s)
                     // (ra.n0_as * s.n_s) END
                AS BIGINT) AS ips_value_scaled,
           CAST(CASE WHEN COALESCE(m.n_match, 0) = 0 THEN 0
                ELSE ({_IPS_S} * m.r_match) // m.n_match END
                AS BIGINT) AS snips_value_scaled
    FROM seg s
    JOIN target t ON s.segment = t.segment
    JOIN ref_seg rs ON rs.segment = s.segment
    LEFT JOIN ref_act ra
      ON ra.segment = s.segment AND ra.action = t.pi_action
    LEFT JOIN matched m ON m.segment = s.segment
    ORDER BY s.segment
    """,
    doc=(
        "Off-policy evaluation of a deterministic target policy from "
        "logged bandit feedback, with propensities estimated on a "
        "HELD-OUT reference split (even event ids) and the value "
        "evaluated on the disjoint logging split (odd ids) — the "
        "production shape, where the logging policy's propensity "
        "model never sees the evaluation traffic. IPS "
        "(Horvitz-Thompson): (1/n_s) sum r * 1[a=pi(s)] / p_hat(a|s) "
        "collapses to the exact rational r_match*n0_s/(n0_as*n_s); "
        "SNIPS (self-normalized, Swaminathan-Joachims) to "
        "r_match/n_match. Both floored scaled integers; the two "
        "genuinely diverge exactly when the reference propensity "
        "disagrees with the evaluation split's empirical rate — the "
        "variance/bias tradeoff the pair exists to expose. Negative "
        "rewards flow signed. Plan: three grouped aggregates over two "
        "disjoint scans; all joins |segments|-bounded and broadcast."
    ),
    tags=("mllib", "off-policy", "evaluation", "events"),
)
def ml_offpolicy_ips_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    ref = e.filter(F.col("event_id") % 2 == 0).select(
        (F.col("user_id") % 4).alias("segment"),
        F.col("event_type").alias("action"),
    )
    logged = e.filter(F.col("event_id") % 2 == 1).select(
        (F.col("user_id") % 4).alias("segment"),
        F.col("event_type").alias("action"),
        F.round(F.col("value") * 100).cast("long").alias("r_cents"),
    )
    ref_seg = ref.groupBy("segment").agg(F.count(F.lit(1)).alias("n0_s"))
    ref_act = ref.groupBy("segment", "action").agg(
        F.count(F.lit(1)).alias("n0_as")
    )
    seg = logged.groupBy("segment").agg(F.count(F.lit(1)).alias("n_s"))
    target = seg.select(
        "segment",
        F.when(F.col("segment") % 2 == 0, F.lit("click"))
        .otherwise(F.lit("view"))
        .alias("pi_action"),
    )
    tgt = target.select(F.col("segment").alias("t_seg"), "pi_action")
    matched = (
        logged.join(
            F.broadcast(tgt),
            (logged.segment == F.col("t_seg"))
            & (logged.action == F.col("pi_action")),
        )
        .groupBy(F.col("t_seg").alias("m_seg"))
        .agg(
            F.count(F.lit(1)).alias("n_match"),
            F.sum("r_cents").alias("r_match"),
        )
    )
    ref_seg2 = ref_seg.select(F.col("segment").alias("rs_seg"), "n0_s")
    ref_act2 = ref_act.select(
        F.col("segment").alias("ra_seg"),
        F.col("action").alias("ra_act"),
        "n0_as",
    )
    return (
        seg.join(target, "segment")
        .join(F.broadcast(ref_seg2), F.col("rs_seg") == F.col("segment"))
        .join(
            F.broadcast(ref_act2),
            (F.col("ra_seg") == F.col("segment"))
            & (F.col("ra_act") == F.col("pi_action")),
            "left",
        )
        .join(
            F.broadcast(matched),
            F.col("m_seg") == F.col("segment"),
            "left",
        )
        .select(
            "segment",
            F.col("n_s").cast("long").alias("n_rows"),
            F.coalesce("n_match", F.lit(0)).cast("long").alias("n_matched"),
            F.expr(
                f"CAST(({_IPS_S} * coalesce(n0_as, 0)) div n0_s AS BIGINT)"
            ).alias("propensity_scaled"),
            F.expr(
                f"CAST(CASE WHEN coalesce(n0_as, 0) = 0 THEN 0"
                f" ELSE (CAST({_IPS_S} AS DECIMAL(38,0))"
                f" * coalesce(r_match, 0) * n0_s)"
                f" div (n0_as * n_s) END AS BIGINT)"
            ).alias("ips_value_scaled"),
            F.expr(
                f"CAST(CASE WHEN coalesce(n_match, 0) = 0 THEN 0"
                f" ELSE ({_IPS_S} * r_match) div n_match END AS BIGINT)"
            ).alias("snips_value_scaled"),
        )
        .orderBy("segment")
    )


# --------------------------------------------------------------------------
# Instrumental variables: exact one-regressor 2SLS
# --------------------------------------------------------------------------

_IV_S = 10**6


@register(
    "ml_iv_two_stage_least_squares",
    oracle=f"""
    WITH d AS (
      SELECT CAST(l_quantity AS BIGINT) AS x,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS y,
             CAST(month(l_shipdate) AS BIGINT) AS z
      FROM lineitem
    ),
    s AS (
      SELECT COUNT(*) AS n,
             SUM(x) AS sx, SUM(y) AS sy, SUM(z) AS sz,
             SUM(z * y) AS szy, SUM(z * x) AS szx, SUM(z * z) AS szz,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx
      FROM d
    )
    SELECT CAST(n AS BIGINT) AS n_rows,
           CAST(CASE WHEN (n * szx - sz * sx) = 0 THEN 0 ELSE (CASE WHEN ((n * szy - sz * sy) > 0) = ((n * szx - sz * sx) > 0) THEN 1 ELSE -1 END) * ((CAST(1000000 AS HUGEINT) * ABS(n * szy - sz * sy)) // ABS(n * szx - sz * sx)) END AS BIGINT) AS beta_iv_scaled,
           CAST(CASE WHEN (n * szz - sz * sz) = 0 THEN 0 ELSE (CASE WHEN ((n * szx - sz * sx) > 0) = ((n * szz - sz * sz) > 0) THEN 1 ELSE -1 END) * ((CAST(1000000 AS HUGEINT) * ABS(n * szx - sz * sx)) // ABS(n * szz - sz * sz)) END AS BIGINT) AS first_stage_scaled,
           CAST(CASE WHEN (n * sxx - sx * sx) = 0 THEN 0 ELSE (CASE WHEN ((n * sxy - sx * sy) > 0) = ((n * sxx - sx * sx) > 0) THEN 1 ELSE -1 END) * ((CAST(1000000 AS HUGEINT) * ABS(n * sxy - sx * sy)) // ABS(n * sxx - sx * sx)) END AS BIGINT) AS beta_ols_scaled
    FROM s
    """,
    doc=(
        "One-regressor two-stage least squares: the instrumental-"
        "variable slope beta_IV = Cov(z,y)/Cov(z,x) computed as the "
        "EXACT integer ratio (n*Szy - Sz*Sy)/(n*Szx - Sz*Sx) — "
        "denominators cleared; the one scaled division is written "
        "sign-safely (divide absolute values, reapply the sign) so "
        "round-toward-zero semantics match across engines on signed "
        "covariances. 128-bit intermediates. Ship-month instruments quantity "
        "against revenue; the first-stage coefficient Cov(z,x)/Var(z) "
        "is emitted (the weak-instrument diagnostic every IV readout "
        "must carry) beside the plain OLS slope, so the "
        "endogeneity-corrected and naive estimates sit side by side. "
        "One pass of integer sufficient statistics (9 sums, "
        "map-combinable) is the entire corpus contact — the same "
        "partial+final shape as every exact regression in this "
        "engine, at any scale."
    ),
    tags=("mllib", "econometrics", "lineitem"),
)
def ml_iv_two_stage_least_squares(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    d = li.select(
        F.col("l_quantity").cast("long").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("y"),
        F.month("l_shipdate").cast("long").alias("z"),
    )
    # DuckDB's SUM(BIGINT) auto-widens to HUGEINT, so its n*S products
    # are 128-bit for free; Spark's stays LONG and n*szy overflows int64
    # from sf0.1 up (~2e19) — widen every sufficient statistic to
    # DECIMAL(38,0) so both engines run the cleared-denominator algebra
    # in 128-bit (caught by the round-7 full sf0.1 sweep)
    dec = "decimal(38,0)"
    s = d.agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("x").cast(dec).alias("sx"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum("z").cast(dec).alias("sz"),
        F.sum(F.col("z") * F.col("y")).cast(dec).alias("szy"),
        F.sum(F.col("z") * F.col("x")).cast(dec).alias("szx"),
        F.sum(F.col("z") * F.col("z")).cast(dec).alias("szz"),
        F.sum(F.col("x") * F.col("y")).cast(dec).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast(dec).alias("sxx"),
    )
    return s.select(
        F.col("n").cast("long").alias("n_rows"),
        F.expr(
            """CAST(CASE WHEN (n * szx - sz * sx) = 0 THEN 0 ELSE (CASE WHEN ((n * szy - sz * sy) > 0) = ((n * szx - sz * sx) > 0) THEN 1 ELSE -1 END) * ((CAST(1000000 AS DECIMAL(38,0)) * ABS(n * szy - sz * sy)) div ABS(n * szx - sz * sx)) END AS BIGINT)"""
        ).alias("beta_iv_scaled"),
        F.expr(
            """CAST(CASE WHEN (n * szz - sz * sz) = 0 THEN 0 ELSE (CASE WHEN ((n * szx - sz * sx) > 0) = ((n * szz - sz * sz) > 0) THEN 1 ELSE -1 END) * ((CAST(1000000 AS DECIMAL(38,0)) * ABS(n * szx - sz * sx)) div ABS(n * szz - sz * sz)) END AS BIGINT)"""
        ).alias("first_stage_scaled"),
        F.expr(
            """CAST(CASE WHEN (n * sxx - sx * sx) = 0 THEN 0 ELSE (CASE WHEN ((n * sxy - sx * sy) > 0) = ((n * sxx - sx * sx) > 0) THEN 1 ELSE -1 END) * ((CAST(1000000 AS DECIMAL(38,0)) * ABS(n * sxy - sx * sy)) div ABS(n * sxx - sx * sx)) END AS BIGINT)"""
        ).alias("beta_ols_scaled"),
    )


# --------------------------------------------------------------------------
# Chatterjee's xi correlation (2020), exact integer ranks
# --------------------------------------------------------------------------

_XI_S = 10**6


@register(
    "ml_xicor_correlation",
    oracle=f"""
    WITH d AS (
      SELECT o_orderkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS x,
             CAST(o_custkey AS BIGINT) AS y
      FROM orders
    ),
    nn AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM d),
    xr AS (
      SELECT y, ROW_NUMBER() OVER (ORDER BY x, o_orderkey) AS xpos
      FROM d
    ),
    hist AS (SELECT y, CAST(COUNT(*) AS HUGEINT) AS c FROM d GROUP BY y),
    hr AS (SELECT y, c, SUM(c) OVER (ORDER BY y) AS r FROM hist),
    yr AS (SELECT a.xpos, h.r FROM xr a JOIN hr h ON h.y = a.y),
    pairs AS (
      SELECT r, LEAD(r) OVER (ORDER BY xpos) AS rn FROM yr
    ),
    s AS (
      SELECT SUM(ABS(rn - r)) AS sdiff FROM pairs WHERE rn IS NOT NULL
    ),
    den AS (
      SELECT SUM(c * (nn.n - r + c) * (r - c)) AS dsum FROM hr, nn
    )
    SELECT CAST(nn.n AS BIGINT) AS n_rows,
           CAST(s.sdiff AS BIGINT) AS rank_jump_sum,
           CAST({_XI_S} - (CAST({_XI_S} AS HUGEINT) * nn.n * s.sdiff)
                // (CAST(2 AS HUGEINT) * den.dsum) AS BIGINT) AS xi_scaled
    FROM s, den, nn
    """,
    doc=(
        "Chatterjee's xi correlation (JASA 2020) between order price "
        "and customer key, with the paper's TIE-CORRECTED denominator: "
        "sort by x, take the y-ranks r_i = #{{y_j <= y_i}}, and "
        "xi = 1 - n*sum|r_(i+1) - r_i| / (2*sum l_i(n-l_i)) where "
        "l_i = #{{y_j >= y_i}} — required here because y = o_custkey "
        "is heavily tied (~10 orders/customer), where the no-ties "
        "3S/(n^2-1) form is biased (ADVICE r5). Both sums come off the "
        "distinct-y histogram: l = n - r + c per distinct value, so "
        "sum l(n-l) = sum_dist c*(n-r+c)*(r-c) — no per-row pass. "
        "All-integer: ranks exact (sharded-rank operator, no "
        "SinglePartition sort; y-ranks via the domain histogram "
        "cumsum), jump sum integer, final xi one floored scaled "
        "division of positive integers (floor == truncate, so DuckDB "
        "// and Spark div agree). The consecutive-jump statistic keeps "
        "it O(n log n), not O(n^2), at 100 TB."
    ),
    tags=("mllib", "statistics", "orders"),
)
def ml_xicor_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from dmi_ingestor_spark.operators.ranks import sharded_row_number

    o = table(spark, sf_dir, "orders")
    d = o.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("x"),
        F.col("o_custkey").cast("long").alias("y"),
    )
    xr, _n = sharded_row_number(
        d, [F.col("x").asc(), F.col("o_orderkey").asc()], out="xpos"
    )
    # y-rank r_i = #{j : y_j <= y_i}, computed on the DISTINCT-y
    # histogram (domain-bounded), never an n^2 pairwise count: range-
    # partition the domain by y, local cumsum per partition, broadcast
    # prefix offsets — the same sharded shape as the rank operator
    yhist = d.groupBy("y").agg(F.count(F.lit(1)).alias("cnt"))
    ranged = (
        yhist.repartitionByRange(16, "y")
        .sortWithinPartitions("y")
        .withColumn("_pid", F.spark_partition_id())
        .cache()
    )
    offs = {
        r["_pid"]: r["s"]
        for r in ranged.groupBy("_pid").agg(F.sum("cnt").alias("s")).collect()
    }
    acc = 0
    run: dict[int, int] = {}
    for pid in sorted(offs):
        run[pid] = acc
        acc += offs[pid]

    def _local_cum(batches):
        base = 0
        for pdf in batches:
            c = pdf["cnt"].to_numpy(dtype="int64").cumsum() + base
            base = int(c[-1]) if len(c) else base
            yield pdf.assign(_local=c)

    enumerated = ranged.mapInPandas(
        _local_cum, schema="y long, cnt long, _pid int, _local long"
    )
    if run:
        off_map = F.create_map(*[F.lit(v) for kv in run.items() for v in kv])
        off = F.coalesce(off_map[F.col("_pid")], F.lit(0))
    else:
        off = F.lit(0)
    yrank = enumerated.select(
        "y", "cnt", (off + F.col("_local")).alias("r")
    ).cache()  # two consumers: the x-order join and the tie denominator
    seq = xr.join(F.broadcast(yrank.select("y", "r")), "y").select("xpos", "r")
    wlead = Window.orderBy("xpos")
    # the lead window needs a global order; the jump terms are
    # position-local, so shard it: |r_(i+1) - r_i| summed per xpos
    # shard + the boundary terms joined across shard edges
    shard = seq.withColumn("shard", (F.col("xpos") / 65536).cast("long"))
    wlocal = (
        Window.partitionBy("shard").orderBy("xpos")
    )
    local = shard.select(
        "shard",
        "xpos",
        "r",
        F.lead("r").over(wlocal).alias("rn"),
    )
    local_sum = local.filter(F.col("rn").isNotNull()).agg(
        F.sum(F.abs(F.col("rn") - F.col("r"))).alias("s_local")
    )
    # boundary terms: last row of shard k -> first row of shard k+1
    lasts = local.filter(F.col("rn").isNull()).select(
        F.col("shard"), F.col("r").alias("r_last")
    )
    firsts = (
        shard.groupBy("shard")
        .agg(F.min(F.struct("xpos", "r")).alias("f"))
        .select((F.col("shard") - 1).alias("shard"), F.col("f.r").alias("r_first"))
    )
    boundary = lasts.join(firsts, "shard").agg(
        F.coalesce(F.sum(F.abs(F.col("r_first") - F.col("r_last"))), F.lit(0))
        .alias("s_bound")
    )
    n_total = d.agg(F.count(F.lit(1)).alias("n"))
    # tie denominator sum l_i(n-l_i) off the distinct-y histogram:
    # l = n - r + c, n - l = r - c, each distinct value contributes
    # c * l * (n - l); exact DECIMAL(38,0) accumulation (bounded by
    # n^3/4, past int64 beyond ~sf5)
    den = (
        yrank.crossJoin(F.broadcast(n_total))
        .agg(
            F.sum(
                F.expr(
                    "CAST(cnt AS DECIMAL(38,0)) * (n - r + cnt) * (r - cnt)"
                )
            ).alias("dsum")
        )
    )
    return (
        local_sum.crossJoin(F.broadcast(boundary))
        .crossJoin(F.broadcast(den))
        .crossJoin(F.broadcast(n_total))
        .select(
            F.col("n").cast("long").alias("n_rows"),
            (F.col("s_local") + F.col("s_bound"))
            .cast("long")
            .alias("rank_jump_sum"),
            F.expr(
                f"CAST({_XI_S} - (CAST({_XI_S} AS DECIMAL(38,0)) * n"
                f" * (s_local + s_bound))"
                f" div (CAST(2 AS DECIMAL(38,0)) * dsum) AS BIGINT)"
            ).alias("xi_scaled"),
        )
    )


# ---------------------------------------------------------------------------
# Propensity-score nearest-neighbor matching with caliper (causal inference)
# ---------------------------------------------------------------------------

_PSM_CALIPER = 5_000   # cents: max |score gap| for a valid match


@register(
    "ml_propensity_caliper_matching",
    oracle=f"""
    WITH outc AS (
      SELECT o_custkey,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS spend_cents
      FROM orders GROUP BY o_custkey
    ),
    units AS (
      SELECT c.c_custkey AS uid,
             CAST(concat('0x', substr(md5(concat('psm-',
                  CAST(c.c_custkey AS VARCHAR))), 1, 8)) AS BIGINT) % 2
               AS treated,
             CAST(ROUND(c.c_acctbal * 100) AS BIGINT) AS score,
             COALESCE(o.spend_cents, 0) AS outcome
      FROM customer c LEFT JOIN outc o ON o.o_custkey = c.c_custkey
    ),
    pairs AS (
      SELECT t.uid AS t_uid, t.outcome AS t_out,
             c.uid AS c_uid, c.outcome AS c_out,
             abs(t.score - c.score) AS gap,
             ROW_NUMBER() OVER (
               PARTITION BY t.uid ORDER BY abs(t.score - c.score), c.uid
             ) AS rk
      FROM units t JOIN units c
        ON c.treated = 0 AND abs(t.score - c.score) <= {_PSM_CALIPER}
      WHERE t.treated = 1
    ),
    matched AS (SELECT * FROM pairs WHERE rk = 1),
    nt AS (SELECT COUNT(*) AS n_treated FROM units WHERE treated = 1)
    SELECT CAST(nt.n_treated AS BIGINT) AS n_treated,
           CAST(COUNT(*) AS BIGINT) AS n_matched,
           CAST((1000 * COUNT(*)) // nt.n_treated AS BIGINT)
             AS match_permille,
           CAST(SUM(gap) AS BIGINT) AS total_gap,
           CAST(SUM(t_out - c_out) AS BIGINT) AS att_cents_sum
    FROM matched, nt
    GROUP BY nt.n_treated
    """,
    doc=(
        "Propensity-score matching with a caliper (Rosenbaum & Rubin "
        "1983; the workhorse of observational causal studies): each "
        "TREATED unit (deterministic hash split) is matched to its "
        "nearest CONTROL by score distance, with replacement, only if "
        "the gap is within the caliper; the output is the matching "
        "audit (match rate, total gap) and the matched-pair ATT sum "
        "in exact cents. Scale shape (r8 rewrite — the r7 bucketed "
        "pair-explode was the repo's one measured scale-killer, "
        "slope/decade 1.79, because candidate pairs grow O(n x local "
        "density)): SORTED nearest-neighbor. Controls reduce to one "
        "representative per DISTINCT cent score (the (gap, uid) "
        "tie-break can only ever pick the min-uid control of a score, "
        "so per-score min(struct(uid, outcome)) is lossless); prev/"
        "next control per treated score come from last/first-ignore-"
        "nulls windows over the SCORE-GRAIN relation, whose size is "
        "bounded by the acctbal cent domain (~1.1e6 values) — "
        "CONSTANT in corpus size, the same bounded-funnel pattern as "
        "ml_auc_exact; treated rows then equi-join the lookup on "
        "score. O(n log n) total, output O(treated). The oracle keeps "
        "the UNBLOCKED quadratic form — hash-green proves the sorted "
        "formulation equivalent. All quantities integer cents."
    ),
    tags=("mllib", "causal", "customer", "orders"),
)
def ml_propensity_caliper_matching(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    outc = (
        table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("spend_cents")
        )
    )
    units = (
        table(spark, sf_dir, "customer")
        .join(outc, F.col("c_custkey") == F.col("o_custkey"), "left")
        .select(
            F.col("c_custkey").alias("uid"),
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit("psm-"),
                                F.col("c_custkey").cast("string"),
                            ).cast("binary")
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % 2
            ).alias("treated"),
            F.round(F.col("c_acctbal") * 100).cast("long").alias("score"),
            F.coalesce("spend_cents", F.lit(0)).alias("outcome"),
        )
    )
    units = units.cache()
    cval_t = "struct<c_score:bigint,c_uid:bigint,c_out:bigint>"
    # one representative control per DISTINCT score: the (gap, c_uid)
    # tie-break can only ever select the min-uid control of a score,
    # so min(struct(uid, outcome)) per score is lossless
    crep = (
        units.filter(F.col("treated") == 0)
        .groupBy("score")
        .agg(F.min(F.struct(F.col("uid"), F.col("outcome"))).alias("c"))
        .select(
            "score",
            F.lit(0).alias("src"),
            F.struct(
                F.col("score").alias("c_score"),
                F.col("c.uid").alias("c_uid"),
                F.col("c.outcome").alias("c_out"),
            ).alias("cval"),
        )
    )
    tsc = (
        units.filter(F.col("treated") == 1)
        .select("score")
        .distinct()
        .select("score", F.lit(1).alias("src"), F.lit(None).cast(cval_t).alias("cval"))
    )
    # prev = largest control score <= t (src 0 sorts before src 1, so a
    # control AT the treated score lands in the backward window); next =
    # smallest control score strictly > t. Global windows are over the
    # SCORE-GRAIN union — bounded by the cent-score domain, not n.
    # BOTH directions are RUNNING frames (unboundedPreceding..current):
    # next uses a descending sort + last(ignorenulls) instead of a
    # (current..unboundedFollowing) frame, because Spark evaluates
    # shrinking frames by rescanning the tail per row — O(rows^2)
    # (measured: 182 s at sf0.5 vs ~2 s for the two running frames).
    merged = crep.unionByName(tsc)
    wprev = Window.orderBy("score", "src").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wnext = Window.orderBy(F.desc("score"), F.desc("src")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    look = (
        merged.withColumn("prev", F.last("cval", ignorenulls=True).over(wprev))
        .withColumn("nxt", F.last("cval", ignorenulls=True).over(wnext))
        .filter(F.col("src") == 1)
        .select("score", "prev", "nxt")
    )
    t = units.filter(F.col("treated") == 1).select(
        F.col("uid").alias("t_uid"), "score", F.col("outcome").alias("t_out")
    )
    gp = F.col("score") - F.col("prev.c_score")
    gn = F.col("nxt.c_score") - F.col("score")
    prev_ok = F.col("prev").isNotNull() & (gp <= _PSM_CALIPER)
    next_ok = F.col("nxt").isNotNull() & (gn <= _PSM_CALIPER)
    pick_prev = prev_ok & (
        ~F.coalesce(next_ok, F.lit(False))
        | (gp < gn)
        | ((gp == gn) & (F.col("prev.c_uid") < F.col("nxt.c_uid")))
    )
    matched = (
        t.join(look, "score")
        .select(
            "t_uid",
            "t_out",
            "score",
            F.when(pick_prev, F.col("prev"))
            .when(next_ok, F.col("nxt"))
            .alias("m"),
        )
        .filter(F.col("m").isNotNull())
        .withColumn("gap", F.abs(F.col("score") - F.col("m.c_score")))
    )
    nt = units.filter(F.col("treated") == 1).agg(
        F.count(F.lit(1)).alias("n_treated")
    )
    return (
        matched.agg(
            F.count(F.lit(1)).cast("long").alias("n_matched"),
            F.sum("gap").cast("long").alias("total_gap"),
            F.sum(F.col("t_out") - F.col("m.c_out"))
            .cast("long")
            .alias("att_cents_sum"),
        )
        .crossJoin(F.broadcast(nt))
        .select(
            F.col("n_treated").cast("long").alias("n_treated"),
            "n_matched",
            F.expr("CAST((1000 * n_matched) div n_treated AS BIGINT)").alias(
                "match_permille"
            ),
            "total_gap",
            "att_cents_sum",
        )
    )


# ---------------------------------------------------------------------------
# Doubly-robust off-policy evaluation (direct model + IPS correction)
# ---------------------------------------------------------------------------


@register(
    "ml_offpolicy_doubly_robust",
    oracle=f"""
    WITH ref AS (
      SELECT user_id % 4 AS segment, event_type AS action,
             CAST(ROUND(value * 100) AS BIGINT) AS r_cents
      FROM events WHERE event_id % 2 = 0
    ),
    logged AS (
      SELECT user_id % 4 AS segment, event_type AS action,
             CAST(ROUND(value * 100) AS BIGINT) AS r_cents
      FROM events WHERE event_id % 2 = 1
    ),
    ref_seg AS (SELECT segment, COUNT(*) AS n0_s FROM ref GROUP BY segment),
    qhat AS (
      SELECT segment, action,
             CAST(SUM(r_cents) AS HUGEINT) AS qn,
             CAST(COUNT(*) AS HUGEINT) AS qd
      FROM ref GROUP BY segment, action
    ),
    seg AS (SELECT segment, COUNT(*) AS n_s FROM logged GROUP BY segment),
    target AS (
      SELECT segment,
             CASE WHEN segment % 2 = 0 THEN 'click' ELSE 'view' END
               AS pi_action
      FROM seg
    ),
    matched AS (
      SELECT l.segment, COUNT(*) AS n_match, SUM(l.r_cents) AS r_match
      FROM logged l JOIN target t
        ON l.segment = t.segment AND l.action = t.pi_action
      GROUP BY l.segment
    ),
    parts AS (
      SELECT s.segment, s.n_s,
             COALESCE(m.n_match, 0) AS n_match,
             COALESCE(m.r_match, 0) AS r_match,
             rs.n0_s,
             COALESCE(ra.n0_as, 0) AS n0_as,
             q.qn, q.qd
      FROM seg s
      JOIN target t ON t.segment = s.segment
      JOIN ref_seg rs ON rs.segment = s.segment
      LEFT JOIN (
        SELECT segment, action, COUNT(*) AS n0_as FROM ref
        GROUP BY segment, action
      ) ra ON ra.segment = s.segment AND ra.action = t.pi_action
      JOIN qhat q ON q.segment = s.segment AND q.action = t.pi_action
      LEFT JOIN matched m ON m.segment = s.segment
    ),
    dr AS (
      SELECT segment, n_s, n_match,
             -- V_DR = qhat + n0_s*(r_match - n_match*qhat)/(n0_as*n_s)
             -- cleared to one signed rational num/den
             CAST(qn AS HUGEINT) * n0_as * n_s
               + CAST(n0_s AS HUGEINT)
                 * (CAST(r_match AS HUGEINT) * qd
                    - CAST(n_match AS HUGEINT) * qn) AS num,
             CAST(qd AS HUGEINT) * n0_as * n_s AS den
      FROM parts
    )
    SELECT segment,
           CAST(n_s AS BIGINT) AS n_rows,
           CAST(n_match AS BIGINT) AS n_matched,
           CAST(CASE WHEN den = 0 THEN 0
                ELSE (CASE WHEN num < 0 THEN -1 ELSE 1 END)
                     * (({_IPS_S} * abs(num)) // den) END AS BIGINT)
             AS dr_value_scaled
    FROM dr
    ORDER BY segment
    """,
    doc=(
        "Doubly-robust off-policy value (Dudik, Langford & Li, ICML "
        "2011): V_DR = qhat(s, pi(s)) + 1[a = pi(s)]*(r - qhat)/p_hat, "
        "combining the direct-model estimate with the IPS correction — "
        "unbiased if EITHER the reward model or the propensity model "
        "is right, the estimator production bandit evaluation actually "
        "ships. Same held-out discipline as ml_offpolicy_ips_eval: "
        "both q_hat (per-(segment,action) mean reward, kept as an "
        "exact integer rational) and propensities come from the even-"
        "id reference split; the value is evaluated on the odd-id "
        "logging split. The whole estimator is cleared to ONE signed "
        "integer rational per segment and emitted as a sign-safe "
        "floored scaled division (abs-divide, reapply sign — floor and "
        "truncate agree), exact in HUGEINT/DECIMAL(38,0). Plan: three "
        "keyed aggregates + broadcast joins on the O(segments) "
        "summary; the corpus is scanned twice (ref/logged), never "
        "shuffled beyond the segment aggs."
    ),
    tags=("mllib", "bandit", "events"),
)
def ml_offpolicy_doubly_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select(
        (F.col("user_id") % 4).alias("segment"),
        F.col("event_type").alias("action"),
        F.round(F.col("value") * 100).cast("long").alias("r_cents"),
        (F.col("event_id") % 2).alias("half"),
    )
    ref = ev.filter(F.col("half") == 0)
    logged = ev.filter(F.col("half") == 1)
    ref_seg = ref.groupBy("segment").agg(F.count(F.lit(1)).alias("n0_s"))
    ref_act = ref.groupBy("segment", "action").agg(
        F.count(F.lit(1)).alias("n0_as"),
        F.sum("r_cents").alias("qn"),
    )
    seg = logged.groupBy("segment").agg(F.count(F.lit(1)).alias("n_s"))
    target = seg.select(
        "segment",
        F.when(F.col("segment") % 2 == 0, F.lit("click"))
        .otherwise(F.lit("view"))
        .alias("pi_action"),
    )
    tgt = target.select(F.col("segment").alias("t_seg"), "pi_action")
    matched = (
        logged.join(
            F.broadcast(tgt),
            (logged.segment == F.col("t_seg"))
            & (logged.action == F.col("pi_action")),
        )
        .groupBy(F.col("t_seg").alias("m_seg"))
        .agg(
            F.count(F.lit(1)).alias("n_match"),
            F.sum("r_cents").alias("r_match"),
        )
    )
    ref_seg2 = ref_seg.select(F.col("segment").alias("rs_seg"), "n0_s")
    qhat = ref_act.select(
        F.col("segment").alias("q_seg"),
        F.col("action").alias("q_act"),
        "qn",
        F.col("n0_as").alias("qd"),
        "n0_as",
    )
    # build the summary row explicitly (all O(segments) relations)
    parts = (
        seg.join(target, "segment")
        .join(F.broadcast(ref_seg2), F.col("rs_seg") == F.col("segment"))
        .join(
            F.broadcast(qhat),
            (F.col("q_seg") == F.col("segment"))
            & (F.col("q_act") == F.col("pi_action")),
        )
        .join(
            F.broadcast(matched),
            F.col("m_seg") == F.col("segment"),
            "left",
        )
        .fillna(0, ["n_match", "r_match"])
    )
    dr = parts.select(
        "segment",
        "n_s",
        "n_match",
        F.expr(
            "CAST(qn AS DECIMAL(38,0)) * n0_as * n_s"
            " + CAST(n0_s AS DECIMAL(38,0))"
            "   * (CAST(r_match AS DECIMAL(38,0)) * qd"
            "      - CAST(n_match AS DECIMAL(38,0)) * qn)"
        ).alias("num"),
        F.expr("CAST(qd AS DECIMAL(38,0)) * n0_as * n_s").alias("den"),
    )
    return dr.select(
        "segment",
        F.col("n_s").cast("long").alias("n_rows"),
        F.col("n_match").cast("long").alias("n_matched"),
        F.expr(
            f"CAST(CASE WHEN den = 0 THEN 0"
            f" ELSE (CASE WHEN num < 0 THEN -1 ELSE 1 END)"
            f"      * (({_IPS_S} * abs(num)) div den) END AS BIGINT)"
        ).alias("dr_value_scaled"),
    ).orderBy("segment")


# ---------------------------------------------------------------------------
# Exact 1-D Wasserstein (earth-mover) drift on binned integer mass
# ---------------------------------------------------------------------------

_WS_BIN = 10_000  # cents per bin
_WS_S = 10**6


@register(
    "ml_wasserstein_drift_binned",
    oracle=f"""
    WITH b AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) // {_WS_BIN} AS bin,
             CASE WHEN o_orderkey % 2 = 0 THEN 0 ELSE 1 END AS half
      FROM orders
    ),
    h AS (
      SELECT bin,
             SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS n0,
             SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS n1
      FROM b GROUP BY bin
    ),
    t AS (SELECT SUM(n0) AS t0, SUM(n1) AS t1 FROM h),
    c AS (
      SELECT bin, n0, n1,
             SUM(n0) OVER (ORDER BY bin) AS c0,
             SUM(n1) OVER (ORDER BY bin) AS c1
      FROM h
    )
    SELECT CAST(t.t0 AS BIGINT) AS n_ref,
           CAST(t.t1 AS BIGINT) AS n_cur,
           CAST(SUM(abs(c.c0 * t.t1 - c.c1 * t.t0)) AS BIGINT)
             AS emd_mass_crossnorm,
           CAST(({_WS_S} * SUM(abs(c.c0 * t.t1 - c.c1 * t.t0)))
                // (CAST(t.t0 AS HUGEINT) * t.t1
                    * (SELECT COUNT(*) FROM h)) AS BIGINT)
             AS emd_scaled
    FROM c, t
    GROUP BY t.t0, t.t1
    """,
    doc=(
        "Exact 1-D Wasserstein-1 (earth mover's) distance between the "
        "even/odd order-key halves of the price distribution, on "
        "binned integer mass: in 1-D, W1 = sum over bins of "
        "|CDF_ref - CDF_cur| x bin width, and with counts "
        "cross-normalized (c0*t1 - c1*t0 instead of c0/t0 - c1/t1) "
        "every term is an exact integer — no float CDFs, hash-exact. "
        "Complements ml_psi_drift (ratio-based, unstable on empty "
        "bins) and ml_ks_drift_binned (max-statistic, ignores how far "
        "mass moved): EMD is the drift metric that weights "
        "displacement, the standard choice for detecting gradual "
        "price/feature shift. Plan: one binned conditional agg + a "
        "prefix window over the O(bins) summary + a 1-row reduce."
    ),
    tags=("mllib", "drift", "orders"),
)
def ml_wasserstein_drift_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    b = table(spark, sf_dir, "orders").select(
        F.expr(f"CAST(ROUND(o_totalprice * 100) AS BIGINT) div {_WS_BIN}").alias(
            "bin"
        ),
        (F.col("o_orderkey") % 2).alias("half"),
    )
    h = b.groupBy("bin").agg(
        F.sum((F.col("half") == 0).cast("long")).alias("n0"),
        F.sum((F.col("half") == 1).cast("long")).alias("n1"),
    )
    t = h.agg(
        F.sum("n0").alias("t0"),
        F.sum("n1").alias("t1"),
        F.count(F.lit(1)).alias("n_bins"),
    )
    w = Window.orderBy("bin")
    c = h.select(
        "bin",
        F.sum("n0").over(w).alias("c0"),
        F.sum("n1").over(w).alias("c1"),
    )
    return (
        c.crossJoin(F.broadcast(t))
        .agg(
            F.max("t0").cast("long").alias("n_ref"),
            F.max("t1").cast("long").alias("n_cur"),
            F.sum(F.abs(F.col("c0") * F.col("t1") - F.col("c1") * F.col("t0")))
            .cast("long")
            .alias("emd_mass_crossnorm"),
            F.expr(
                f"CAST(({_WS_S} * sum(abs(c0 * t1 - c1 * t0)))"
                f" div (CAST(max(t0) AS DECIMAL(38,0)) * max(t1)"
                f" * max(n_bins)) AS BIGINT)"
            ).alias("emd_scaled"),
        )
    )
