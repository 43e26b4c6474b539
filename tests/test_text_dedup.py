"""Training-data operators: text analysis, dedup families, similarity
search, multimodal plumbing. Self-consistency plus brute-force oracles."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from redo_log_parser_spark.functions import text as T
from redo_log_parser_spark.functions.multimodal import decode_media
from redo_log_parser_spark.operators import dedup as D
from redo_log_parser_spark.operators import similarity as S

DOCS = [
    (0, "the cat sat on the mat and it is that"),
    (1, "the cat sat on the mat and it is that"),          # exact dup of 0
    (2, "the cat sat on the mat and it was that thing"),   # near dup
    (3, "der hund ist nicht ein und das der die"),
    (4, "completely different text about spark engines!!!"),
    (5, "THE CAT  SAT on the mat and it is that"),          # norm dup of 0
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(pd.DataFrame(DOCS, columns=["doc_id", "text"]))


def test_token_count_and_quality(docs):
    rows = {r["doc_id"]: r for r in docs.select(
        "doc_id",
        T.token_count(F.col("text")).alias("n_tok"),
        T.quality_score(F.col("text")).alias("q"),
        T.lang_id(F.col("text")).alias("lang"),
        T.doc_fingerprint(F.col("text")).alias("fp"),
    ).collect()}
    assert rows[0]["n_tok"] == 10
    assert rows[0]["lang"] == "en"
    assert rows[3]["lang"] == "de"
    assert rows[4]["lang"] == "und"
    assert 0.0 <= rows[4]["q"] <= 1.0
    # normalization: case/extra-space dup shares the fingerprint
    assert rows[0]["fp"] == rows[5]["fp"] == rows[1]["fp"]
    # so does the SimHash of identical token multisets
    vals = {r["doc_id"]: r["simhash"] for r in D.simhash(docs).collect()}
    assert vals[0] == vals[1] == vals[5]


def test_exact_dedup(docs):
    kept = D.exact_dedup(docs)
    ids = {r["doc_id"] for r in kept.collect()}
    # 0,1,5 collapse to 0; 2,3,4 unique
    assert ids == {0, 2, 3, 4}


def _py_shingles(text, n=3):
    toks = text.lower().split()
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


# a pair at Jaccard exactly 7/25: 25 shingles vs a 7-shingle subset.
# In doubles 25 * 0.28 rounds UP past 7, so the exact length filters must
# carry slack; the larger doc gets the smaller id so that both filters
# (the join's max/min and the n_common >= n_a * t prune) see the boundary.
ON_THRESHOLD = [
    (10, " ".join(f"w{k}" for k in range(27))),
    (11, " ".join(f"w{k}" for k in range(9))),
]


def _py_jaccard_pairs(rows, threshold):
    """Exact Python Jaccard over the shingle strings, per pair at or
    above `threshold`."""
    want = {}
    for i, ta in rows:
        for j, tb in rows:
            if i >= j:
                continue
            sa, sb = _py_shingles(ta), _py_shingles(tb)
            if not sa or not sb:
                continue
            jac = len(sa & sb) / len(sa | sb)
            if jac >= threshold:
                want[(i, j)] = round(jac, 6)
    return want


def _assert_matches_py_jaccard(frame, rows, threshold):
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in D.ngram_jaccard_pairs(
            frame, n=3, threshold=threshold).collect()
    }
    want = _py_jaccard_pairs(rows, threshold)
    assert want and set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-6
    return want


def test_ngram_jaccard_matches_bruteforce(spark):
    for rows, threshold in ((DOCS, 0.3), (DOCS + ON_THRESHOLD, 0.28)):
        frame = spark.createDataFrame(
            pd.DataFrame(rows, columns=["doc_id", "text"]))
        want = _assert_matches_py_jaccard(frame, rows, threshold)
    assert (10, 11) in want  # the on-threshold pair qualifies


def test_ngram_jaccard_hash_index_parity(docs):
    """The xxhash64-keyed inverted index gives the pairs and values of
    exact Python Jaccard over the shingle strings: a 64-bit collision
    is the only way they could differ (p ≈ m²/2^65)."""
    _assert_matches_py_jaccard(docs, DOCS, 0.3)


def test_minhash_lsh_finds_exact_and_near_dups(docs):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_dedup_pairs(
            docs, num_hashes=64, bands=16, threshold=0.5).collect()
    }
    assert (0, 1) in pairs and (0, 5) in pairs and (1, 5) in pairs
    assert all(a < b for a, b in pairs)
    # jaccard verification keeps unrelated docs out
    assert not any(4 in p for p in pairs)


@pytest.mark.parametrize("num_hashes, bands", [(32, 5), (32, 0), (4, 8)])
def test_minhash_bad_band_config_fails_before_any_job(
        docs, jobs_in_group, num_hashes, bands):
    """A signature that does not slice evenly into `bands` (a remainder,
    no band, or fewer hashes than bands) is a ValueError naming both
    numbers, raised while the plan is built: no Spark job starts."""
    def build():
        with pytest.raises(ValueError) as exc:
            D.minhash_dedup_pairs(docs, num_hashes=num_hashes, bands=bands)
        return str(exc.value)

    msg, n_jobs = jobs_in_group("bad-bands", build)
    assert f"num_hashes={num_hashes}" in msg and f"bands={bands}" in msg
    assert n_jobs == 0


@pytest.fixture(scope="module")
def emb(spark):
    rng = np.random.RandomState(7)
    base = rng.randn(20, 8).astype(float)
    base[7] = base[3] * 1.001 + 1e-4  # near-dup pair (3, 7)
    pdf = pd.DataFrame(
        {"vec_id": range(20), "embedding": [list(v) for v in base]}
    )
    return spark.createDataFrame(pdf)


def test_cosine_topk_matches_numpy(emb):
    q = [1.0, 0.5, -0.25, 2.0, 0.0, 1.0, -1.0, 0.5]
    got = [(r["vec_id"], r["score"]) for r in S.cosine_topk(emb, q, k=5).collect()]
    vecs = {r["vec_id"]: np.array(r["embedding"]) for r in emb.collect()}
    qv = np.array(q)
    want = sorted(
        (
            (vid, round(float(v @ qv / (np.linalg.norm(v) * np.linalg.norm(qv))), 6))
            for vid, v in vecs.items()
        ),
        key=lambda t: (-t[1], t[0]),
    )[:5]
    assert [g[0] for g in got] == [w[0] for w in want]
    for g, w in zip(got, want):
        assert abs(g[1] - w[1]) < 1e-5


def test_embedding_near_dup_pairs(emb):
    pairs = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in S.embedding_near_dup_pairs(emb, threshold=0.99, n_planes=6).collect()
    }
    assert (3, 7) in pairs and pairs[(3, 7)] > 0.999


def test_multimodal_decode_plumbing(spark, mini_docs):
    meta = decode_media(mini_docs.limit(20), kind="image")
    rows = meta.collect()
    assert len(rows) == 20
    r0 = rows[0]
    assert r0["kind"] == "image" and len(r0["feature"]) == 16
    assert r0["n_bytes"] > 0 and r0["width"] >= 64
    # deterministic: same input -> same features
    again = decode_media(mini_docs.limit(20), kind="image").collect()
    assert {r["media_id"]: r["feature"] for r in rows} == {
        r["media_id"]: r["feature"] for r in again}


def test_lsh_bucket_matches_driver_twin_and_plan_bounded(spark):
    """Plan-size hygiene (VERDICT r1 #9): hyperplanes ride a broadcast
    column, so the optimized plan must stay O(1) in dim — checked at
    dim=512 — and the JVM signature must equal the driver-side
    py_lsh_signature twin on every row."""
    rng = np.random.RandomState(11)
    dim, n_planes = 512, 8
    vecs = rng.randn(12, dim)
    pdf = pd.DataFrame({"vec_id": range(12), "embedding": [list(v) for v in vecs]})
    emb = spark.createDataFrame(pdf)
    bucketed = S.with_lsh_bucket(emb, dim=dim, n_planes=n_planes, seed=42)
    plan = bucketed._jdf.queryExecution().optimizedPlan().toString()
    assert len(plan) < 20_000, f"plan blew up: {len(plan)} chars"
    planes = S._hyperplanes(dim, n_planes, seed=42)
    got = {r["vec_id"]: r["lsh_bucket"] for r in bucketed.collect()}
    for vid, v in zip(pdf["vec_id"], vecs):
        assert got[vid] == S.py_lsh_signature(v, planes), vid


def test_ivf_bucket_plan_bounded_high_dim(spark):
    rng = np.random.RandomState(13)
    dim = 512
    vecs = rng.randn(10, dim)
    pdf = pd.DataFrame({"vec_id": range(10), "embedding": [list(v) for v in vecs]})
    emb = spark.createDataFrame(pdf)
    cents = [list(map(float, vecs[0])), list(map(float, vecs[1]))]
    bucketed = S.with_ivf_bucket(emb, cents)
    plan = bucketed._jdf.queryExecution().optimizedPlan().toString()
    assert len(plan) < 20_000, f"plan blew up: {len(plan)} chars"
    rows = {r["vec_id"]: r["ivf_bucket"] for r in bucketed.collect()}
    import numpy as _np
    for vid, v in zip(pdf["vec_id"], vecs):
        d = [float(((v - _np.asarray(c)) ** 2).sum()) for c in cents]
        assert rows[vid] == int(_np.argmin(d)), vid


def test_shingles_short_and_empty_docs(spark):
    """Docs with fewer than n tokens (incl. empty) yield no shingles —
    regression pin for the Spark descending-sequence gotcha
    (sequence(0,-1) = [0,-1])."""
    rows = [(0, ""), (1, "one"), (2, "one two"), (3, "one two three")]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    got = {(r["doc_id"], r["shingle"]) for r in D.shingles(docs, n=3).collect()}
    assert got == {(3, "one two three")}


def test_row_minhash_sig_matches_aggregated(docs):
    """with_minhash_sig (per-row, no aggregation) must produce the exact
    signature minhash_signatures aggregates — same hash family, same
    shingling; docs with fewer than n tokens get an empty sig where the
    aggregate emits no row."""
    agg = {r["doc_id"]: list(r["sig"])
           for r in D.minhash_signatures(docs, num_hashes=16).collect()}
    row = {r["doc_id"]: list(r["sig"])
           for r in D.with_minhash_sig(docs, num_hashes=16)
                     .select("doc_id", "sig").collect()}
    for did, sig in row.items():
        if did in agg:
            assert sig == agg[did], did
        else:
            assert sig == []  # sub-n-token doc
    assert set(agg) <= set(row)


def test_shingle_paths_have_no_distinct_exchange(docs):
    """Pin the round-3 restructures: per-doc shingle dedup and sizes are
    ROW-SIDE, so (a) shingles() plans no Exchange at all (projection +
    generate), and (b) the exact-Jaccard inverted index plans exactly
    the self-join, pair-agg and size-join exchanges — no
    explode-then-DISTINCT, no sizes groupBy."""
    sh_plan = D.shingles(docs, 3)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in sh_plan, sh_plan

    jac = D.ngram_jaccard_pairs(docs, n=3, threshold=0.5)
    jac_plan = jac._jdf.queryExecution().optimizedPlan().toString()
    # the optimized plan must contain no Deduplicate/Aggregate computing
    # per-doc distinct shingles: the only aggregate is the pair count
    n_aggs = jac_plan.count("Aggregate [")
    assert n_aggs == 1, jac_plan


def test_minhash_per_doc_frame_is_projection_only(docs):
    """The minhash per-doc (sig, shs, n_sh) frame plans zero exchanges —
    signature and shingle set are row-wise."""
    per_doc = (
        D.with_minhash_sig(docs, 16, keep_shingles="shs")
        .select("doc_id", "sig", "shs")
    )
    plan = per_doc._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
