"""Invariants for dedup / similarity operators, incl. planted duplicates.

The synthetic corpus has no true near-duplicates (max pairwise cosine
≈0.48, no repeated texts), so recall-style properties are exercised on
small planted fixtures built inline.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dmi_ingestor_spark.registry import load_all

REGISTRY = load_all()


@pytest.fixture(scope="module")
def planted_docs(spark, sf_dir, tmp_path_factory):
    """A tiny corpus with exact dups and near-dups written as parquet,
    laid out like the driver's sf dirs so builders can run on it."""
    base = "the quick brown fox jumps over the lazy dog again and again " * 5
    near = base.replace("lazy", "sleepy", 1)  # one token differs
    other = "completely different content about spark query engines " * 6
    rows = [
        (0, base, "en", "src0", len(base)),
        (1, base, "en", "src1", len(base)),      # exact dup of 0
        (2, near, "en", "src2", len(near)),      # near dup of 0
        (3, other, "en", "src3", len(other)),
        (4, other + "extra tail tokens", "en", "src4", len(other) + 17),
    ]
    df = spark.createDataFrame(
        rows, schema="doc_id long, text string, lang string, source string, n_chars long"
    )
    d = tmp_path_factory.mktemp("planted")
    df.write.mode("overwrite").parquet(str(d / "documents.parquet"))
    return str(d)


def test_minhash_finds_planted_dups(spark, planted_docs):
    pairs = {
        (r.a_id, r.b_id): r.jaccard
        for r in REGISTRY["dedup_minhash_lsh"].builder(spark, planted_docs).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0  # exact dup
    assert (2, 0) in pairs or (0, 2) in pairs  # near dup (1 token diff)
    assert not any({a, b} == {0, 3} for a, b in pairs)  # unrelated pair absent


def test_simhash_finds_planted_dups(spark, planted_docs):
    pairs = {
        (r.a_id, r.b_id)
        for r in REGISTRY["dedup_simhash"].builder(spark, planted_docs).collect()
    }
    assert (0, 1) in pairs
    assert not any({a, b} == {0, 3} for a, b in pairs)


def test_exact_dedup_groups_planted(spark, planted_docs):
    rows = REGISTRY["dedup_exact"].builder(spark, planted_docs).collect()
    by_keep = {r.keep_doc_id: r.n_copies for r in rows}
    assert by_keep[0] == 2  # docs 0 and 1 collapse, representative = min id
    assert len(rows) == 4


def test_ann_lsh_pairs_are_truly_similar(spark, sf_dir):
    rows = REGISTRY["sim_ann_lsh_buckets"].builder(spark, sf_dir).collect()
    assert rows, "8-bit buckets over 500 vectors must yield some candidate pairs"
    # every reported pair passed the exact-cosine re-rank threshold
    for r in rows:
        assert r.sim >= 0.25
        assert r.a_id < r.b_id


def test_embedding_selfsim_is_one(spark, sf_dir):
    from dmi_ingestor_spark.catalog import table
    from dmi_ingestor_spark.functions.vector import cosine

    emb = table(spark, sf_dir, "embeddings").limit(20).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    rows = emb.select(cosine(F.col("v"), F.col("v")).alias("s")).collect()
    assert all(abs(r.s - 1.0) < 1e-12 for r in rows)


def test_ivf_self_match_and_shape(spark, sf_dir):
    """IVF invariants: each query returns TOP_K ranked rows from its
    probed cells, and finds itself at sim≈1 (its own cell is probe #1)."""
    from dmi_ingestor_spark.queries.similarity import N_QUERY, TOP_K

    rows = REGISTRY["sim_ann_ivf"].builder(spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == set(range(N_QUERY))
    for q, rs in by_q.items():
        assert len(rs) == TOP_K
        assert sorted(r.rk for r in rs) == list(range(1, TOP_K + 1))
        self_hits = [r for r in rs if r.neighbor_id == q]
        assert self_hits and self_hits[0].sim > 0.999999, q


def test_pq_adc_shape_and_quality(spark, sf_dir):
    """PQ invariants: full top-k shape per query, and the ADC-selected
    neighbors are genuinely closer than the corpus average in TRUE
    (uncompressed) integer L2 — i.e. the compressed index is
    informative, not noise."""
    import numpy as np

    from dmi_ingestor_spark.catalog import table
    from dmi_ingestor_spark.queries.similarity import N_QUERY, TOP_K

    rows = REGISTRY["sim_pq_adc"].builder(spark, sf_dir).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == set(range(N_QUERY))

    emb = {
        r.vec_id: np.round(np.array(r.embedding, dtype=np.float64) * 1000)
        for r in table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .collect()
    }
    for q, rs in by_q.items():
        assert len(rs) == TOP_K
        assert sorted(r.rk for r in rs) == list(range(1, TOP_K + 1))
        qv = emb[q]
        true = {i: float(((qv - v) ** 2).sum()) for i, v in emb.items() if i != q}
        picked = sum(true[r.neighbor_id] for r in rs) / TOP_K
        corpus_avg = sum(true.values()) / len(true)
        assert picked < corpus_avg, (q, picked, corpus_avg)


def test_connected_components_known_graph(spark):
    """Chain 1-2-3, triangle 10-11-12 (+edge 12-10), isolated pair 20-21:
    min-label propagation must find exactly these three components."""
    from dmi_ingestor_spark.operators.components import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12), (12, 10), (20, 21)],
        "a long, b long",
    ).repartition(3)
    got = {
        r.node: r.component for r in connected_components(edges, "a", "b").collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_connected_components_long_chain(spark):
    """A 60-node path graph has diameter 59: plain min-label propagation
    would need 59 rounds; pointer doubling (label-of-label shortcutting)
    converges in ~log2(59) rounds, so every node must reach component 0
    well within the round cap."""
    from dmi_ingestor_spark.operators.components import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(59)], "a long, b long"
    ).repartition(4)
    got = {
        r.node: r.component
        for r in connected_components(edges, "a", "b").collect()
    }
    assert got == {i: 0 for i in range(60)}


@pytest.mark.parametrize("order", ["path", "permuted"])
def test_connected_components_path_converges_in_log_rounds(spark, monkeypatch, order):
    """A 10⁴-node path labels every node with the minimum id within
    2·log2(n) rounds, whether ids run in path order or are randomly
    permuted along the path (where a local-minimum label must not
    spread only one hop per round)."""
    import math
    import random

    from dmi_ingestor_spark.operators import components

    n = 10_000
    ids = list(range(n))
    if order == "permuted":
        random.Random(7).shuffle(ids)
    monkeypatch.setattr(components, "MAX_ROUNDS", math.ceil(2 * math.log2(n)))
    edges = spark.createDataFrame(list(zip(ids, ids[1:])), "a long, b long").repartition(4)
    got = components.connected_components(edges, "a", "b")
    assert got.where(F.col("component") != 0).count() == 0
    assert got.count() == n


def test_connected_components_round_cap_raises(spark, monkeypatch):
    """Reaching the round cap raises instead of returning unconverged
    labels: a 3-node chain needs more than one round."""
    from dmi_ingestor_spark.operators import components

    monkeypatch.setattr(components, "MAX_ROUNDS", 1)
    edges = spark.createDataFrame([(1, 2), (2, 3)], "a long, b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        components.connected_components(edges, "a", "b")


def test_connected_components_one_action_per_round(spark, monkeypatch):
    """Each round materializes once: its eager localCheckpoint carries
    the convergence Observation, and no other action runs (one more
    checkpoint holds the symmetric edge set)."""
    from pyspark.sql import Observation

    from dmi_ingestor_spark.operators import components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "a long, b long"
    ).repartition(3)
    frame = type(edges)
    calls = {"checkpoint": 0, "observation": 0}
    checkpoint = frame.localCheckpoint

    def counted_checkpoint(self, *args, **kwargs):
        calls["checkpoint"] += 1
        return checkpoint(self, *args, **kwargs)

    class CountedObservation(Observation):
        def __init__(self, *args):
            calls["observation"] += 1
            super().__init__(*args)

    def no_action(self, *args, **kwargs):
        raise AssertionError("connected_components ran an extra action")

    monkeypatch.setattr(frame, "localCheckpoint", counted_checkpoint)
    monkeypatch.setattr(components, "Observation", CountedObservation)
    for action in ("count", "collect", "first", "head", "take", "toPandas", "cache", "persist"):
        monkeypatch.setattr(frame, action, no_action)
    components.connected_components(edges, "a", "b")
    assert calls["observation"] >= 2
    assert calls["checkpoint"] == calls["observation"] + 1


def test_ml_minhash_invariant_summary(spark, sf_dir):
    """The invariant summary the query emits (round-3 promotion, r7
    shingle rework): no emitted pair violates the 0.5 threshold, the
    LSH join recovers every identical-text pair at distance exactly 0
    (guaranteed J=1 recall), and the exact shingle-Jaccard truth count
    is nonzero on this data."""
    from dmi_ingestor_spark.registry import load_all

    import pandas as pd

    row = load_all()["ml_minhash_lsh_join"].builder(spark, sf_dir).collect()[0]
    assert row.n_dist_out_of_range == 0
    # J=1-recall invariant, validated locally (ADVICE r8: `>= 0` was
    # vacuous): the LSH join must emit EVERY identical-text pair among
    # docs with >= 3 tokens (3-gram shingles), so n_dup_pairs equals
    # the fixture's own identical-text group pair count.
    docs = pd.read_parquet(f"{sf_dir}/documents.parquet", columns=["text"])
    k = docs[docs["text"].str.split(" ").str.len() >= 3].groupby("text").size()
    expected_dup_pairs = int((k * (k - 1) // 2).sum())
    assert row.n_dup_pairs == expected_dup_pairs
    assert row.n_true_pairs > 0


def test_ml_brp_ann_invariant_summary(spark, sf_dir):
    """k neighbors back, the query vector among them at distance 0, and
    every reported distance equal to the exact Euclidean recomputation."""
    from dmi_ingestor_spark.registry import load_all

    row = load_all()["ml_brp_lsh_ann"].builder(spark, sf_dir).collect()[0]
    assert row.n_neighbors == 5
    assert row.self_included == 1
    assert row.self_dist_nano == 0
    assert row.n_dist_mismatch == 0


# ---------------------------------------------------------------------------
# DF-cap candidacy invariant (VERDICT r8 item 3 / ADVICE r8)
# ---------------------------------------------------------------------------


def _py_shingles(text: str) -> set:
    """Python twin of ``_shingle_arrays``: distinct 3-gram shingles over a
    single-space token split (same semantics as ``F.split(text, ' ')``)."""
    toks = text.split(" ")
    return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}


@pytest.fixture(scope="module")
def hot_only_corpus(spark, tmp_path_factory):
    """Adversarial corpus for the DF-cap candidacy invariant.

    A 4-token boilerplate phrase opens 110 documents — strictly more
    than MAX_SHINGLE_DF=100 — so its two internal 3-gram shingles are
    HOT and every boilerplate-only pair (110*109/2 = 5,995 of them) is
    a candidate the r8 DF-capped candidacy DROPS. Each such doc carries
    20 unique filler tokens, so every hot-only pair is provably
    sub-threshold: J = 2/(22+22-2) ~= 0.048 < 0.20 < 0.5. Planted on
    top: one true near-dup pair (200, 201) sharing only RARE shingles
    (J = 7/9), and one MIXED pair (210, 211) that shares the hot
    boilerplate AND a rare segment (J = 11/13) — the cap must keep both.
    """
    rows = []
    boiler = "please subscribe to newsletter"
    for i in range(110):
        filler = " ".join(f"u{i}t{k}" for k in range(20))
        text = f"{boiler} {filler}"
        rows.append((i, text, "en", f"src{i}", len(text)))
    d1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    d2 = "alpha beta gamma delta epsilon zeta eta theta iota lambda"
    rows.append((200, d1, "en", "src200", len(d1)))
    rows.append((201, d2, "en", "src201", len(d2)))
    m1 = f"{boiler} shared one two three four five six seven eight m1x"
    m2 = f"{boiler} shared one two three four five six seven eight m2x"
    rows.append((210, m1, "en", "src210", len(m1)))
    rows.append((211, m2, "en", "src211", len(m2)))
    df = spark.createDataFrame(
        rows,
        schema="doc_id long, text string, lang string, source string, n_chars long",
    )
    d = tmp_path_factory.mktemp("hotonly")
    df.coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    # Python brute-force reference state shared by both tests
    sets = {doc_id: _py_shingles(text) for doc_id, text, *_ in rows}
    df_count: dict = {}
    for s in sets.values():
        for g in s:
            df_count[g] = df_count.get(g, 0) + 1
    return str(d), sets, df_count


def test_df_cap_candidacy_lossless(spark, hot_only_corpus):
    """The DF-capped candidacy of dedup_ngram_jaccard never drops a
    pair at or above JACCARD_THRESHOLD: the capped query output equals
    the UNCAPPED all-pairs brute force at the threshold, on a fixture
    where the cap demonstrably bites (thousands of hot-only candidate
    pairs exist and are all sub-threshold by construction)."""
    from dmi_ingestor_spark.queries.dedup import (
        JACCARD_THRESHOLD,
        MAX_SHINGLE_DF,
    )

    sf_dir, sets, df_count = hot_only_corpus
    ids = sorted(sets)
    expected = {}
    n_hot_only_cands = 0
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            inter = sets[a] & sets[b]
            if not inter:
                continue
            if all(df_count[g] > MAX_SHINGLE_DF for g in inter):
                n_hot_only_cands += 1
                hot_j = len(inter) / (len(sets[a]) + len(sets[b]) - len(inter))
                # fixture property that makes the cap lossless here:
                # every hot-only pair is far below the threshold
                assert hot_j < JACCARD_THRESHOLD
            j = len(inter) / (len(sets[a]) + len(sets[b]) - len(inter))
            if j >= JACCARD_THRESHOLD:
                expected[(a, b)] = j
    # the adversarial premise is non-vacuous: the cap bites on this
    # fixture (every boilerplate pair is a hot-only candidate)
    assert n_hot_only_cands >= 5995
    assert (200, 201) in expected and (210, 211) in expected

    got = {
        (r.a_id, r.b_id): r.jaccard
        for r in REGISTRY["dedup_ngram_jaccard"].builder(spark, sf_dir).collect()
    }
    assert set(got) == set(expected)
    for pair, j in expected.items():
        assert got[pair] == pytest.approx(j)


def test_df_cap_candidacy_bbit_contract(spark, hot_only_corpus):
    """dedup_minhash_b_bit's r8 candidacy narrowing (>=1 shared rare
    AND >=2 shared total, vs the pre-r8 '>=2 shared (any)') is a
    documented contract change: the pairs it drops are exactly the
    hot-only ones, and on this fixture every dropped pair is far below
    J=0.5 — so the narrowing never loses a J>=0.5 pair. Emitted
    exact_permille values are pinned against the brute force."""
    from dmi_ingestor_spark.queries.dedup import MAX_SHINGLE_DF

    sf_dir, sets, df_count = hot_only_corpus
    ids = sorted(sets)
    uncapped = {}   # pre-r8 candidacy: >=2 shared shingles of any df
    capped_ref = {}  # r8 candidacy: >=1 shared rare AND >=2 shared total
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            inter = sets[a] & sets[b]
            if len(inter) < 2:
                continue
            j = len(inter) / (len(sets[a]) + len(sets[b]) - len(inter))
            uncapped[(a, b)] = j
            if any(df_count[g] <= MAX_SHINGLE_DF for g in inter):
                capped_ref[(a, b)] = j

    got = {
        (r.a_id, r.b_id): r.exact_permille
        for r in REGISTRY["dedup_minhash_b_bit"].builder(spark, sf_dir).collect()
    }
    # capped query output == the capped-candidacy brute force
    assert set(got) == set(capped_ref)
    for (a, b), j in capped_ref.items():
        assert got[(a, b)] == int(1000 * len(sets[a] & sets[b])) // (
            len(sets[a]) + len(sets[b]) - len(sets[a] & sets[b])
        )
    # the narrowing's loss set is exactly the hot-only pairs...
    dropped = set(uncapped) - set(capped_ref)
    assert len(dropped) >= 5995  # the cap bites: every boilerplate pair
    # ...and NO dropped pair reaches J=0.5 — the contract's rationale,
    # pinned (this is the assertion that fails if candidacy narrowing
    # ever drops a qualifying pair on a fixture)
    for pair in dropped:
        assert uncapped[pair] < 0.5
    # every J>=0.5 uncapped candidate survives the cap
    for pair, j in uncapped.items():
        if j >= 0.5:
            assert pair in got


@pytest.fixture(scope="module")
def null_label_dir(sf_dir, tmp_path_factory):
    """``every`` -> the sf fixture with ``label`` NULL where
    vec_id % every == every // 2; the other nine tables are symlinked."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from dmi_ingestor_spark.catalog import TABLES

    def make(every: int) -> str:
        d = tmp_path_factory.mktemp(f"null_labels_{every}")
        for t in TABLES:
            if t != "embeddings":
                os.symlink(os.path.join(sf_dir, f"{t}.parquet"), d / f"{t}.parquet")
        emb = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
        labels = [
            None if i % every == every // 2 else lab
            for i, lab in zip(
                emb.column("vec_id").to_pylist(), emb.column("label").to_pylist()
            )
        ]
        field = emb.schema.field("label")
        emb = emb.set_column(
            emb.schema.get_field_index("label"), field, pa.array(labels, field.type)
        )
        pq.write_table(emb, d / "embeddings.parquet")
        return str(d)

    return make


@pytest.mark.parametrize(
    "name, every",
    [
        ("dedup_embedding_cosine", 7),
        ("sim_maxsim_late_interaction", 7),
        ("ml_negative_sampling", 7),
        ("ml_knn_classifier_eval", 7),
        # every other label NULL: some 3-NN votes tie 1-1-1 with a NULL
        # label, so the vote tiebreak's NULL placement shows
        ("ml_knn_classifier_eval", 2),
    ],
)
def test_label_queries_match_oracle_on_null_labels(
    spark, null_label_dir, name, every
):
    from tools.oracle_check import compare, duck_connection, normalize

    d = null_label_dir(every)
    spec = REGISTRY[name]
    got = spec.builder(spark, d).toArrow().to_pandas()
    want = duck_connection(d).execute(spec.oracle).fetch_arrow_table().to_pandas()
    assert compare(name, normalize(got), normalize(want)) == []
