"""Corpus-prep operators: connected-components dedup clustering,
deterministic sampling, token packing."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from redo_log_parser_spark.operators import dedup as D
from redo_log_parser_spark.operators.corpus import (
    hash_sample, stratified_sample, token_pack)


def _docs(spark, rows, cols=("doc_id", "text")):
    return spark.createDataFrame(pd.DataFrame(rows, columns=list(cols)))


def test_components_transitive_chain(spark):
    """(1,2)+(2,3) must merge into ONE component labeled 1 even though
    (1,3) was never a pair — label propagation crosses hops."""
    docs = _docs(spark, [(i, f"t{i}") for i in range(6)])
    pairs = _docs(spark, [(1, 2), (2, 3), (4, 5)], cols=("id_a", "id_b"))
    got = {r["doc_id"]: r["component_id"]
           for r in D.dedup_components(docs, pairs).collect()}
    assert got == {0: 0, 1: 1, 2: 1, 3: 1, 4: 4, 5: 4}


def test_components_singletons_and_star(spark):
    docs = _docs(spark, [(i, f"t{i}") for i in range(10)])
    pairs = _docs(spark, [(0, i) for i in range(1, 5)], cols=("id_a", "id_b"))
    got = {r["doc_id"]: r["component_id"]
           for r in D.dedup_components(docs, pairs).collect()}
    assert all(got[i] == 0 for i in range(5))
    assert all(got[i] == i for i in range(5, 10))


def test_components_no_pairs_all_singletons(spark):
    """Empty pair frame: the touched-vertex iteration has zero vertices
    and must converge immediately, with every doc its own component."""
    docs = _docs(spark, [(i, f"t{i}") for i in range(5)])
    pairs = _docs(spark, [(0, 1)], cols=("id_a", "id_b")).filter("id_a < 0")
    got = {r["doc_id"]: r["component_id"]
           for r in D.dedup_components(docs, pairs).collect()}
    assert got == {i: i for i in range(5)}


def test_components_nonconvergence_raises(spark):
    # local_edges_threshold=0 pins the DISTRIBUTED loop (the round-6
    # size gate would otherwise solve 7 edges on the driver)
    docs = _docs(spark, [(i, f"t{i}") for i in range(8)])
    pairs = _docs(spark, [(i, i + 1) for i in range(7)], cols=("id_a", "id_b"))
    with pytest.raises(RuntimeError, match="converge"):
        D.dedup_components(docs, pairs, max_iters=2, local_edges_threshold=0)
    got = {r["doc_id"]: r["component_id"]
           for r in D.dedup_components(
               docs, pairs, max_iters=10, local_edges_threshold=0
           ).collect()}
    assert set(got.values()) == {0}


def test_select_representatives_best_quality_wins(spark):
    """Per near-dup cluster, the kept doc is the highest-scored one
    (tie → smallest id); singletons keep themselves."""
    docs = _docs(spark, [(i, f"t{i}", s) for i, s in
                         enumerate([0.1, 0.9, 0.5, 0.9, 0.2, 0.7])],
                 cols=("doc_id", "text", "quality"))
    pairs = _docs(spark, [(0, 1), (1, 2), (3, 4)], cols=("id_a", "id_b"))
    comps = D.dedup_components(docs, pairs)
    got = {r["component_id"]: r["doc_id"]
           for r in D.select_representatives(docs, comps, "quality").collect()}
    # cluster {0,1,2}: doc 1 has max quality 0.9; cluster {3,4}: doc 3;
    # singleton {5}: itself
    assert got == {0: 1, 3: 3, 5: 5}
    # tie-break: equal scores -> smallest id
    docs2 = _docs(spark, [(7, "a", 1.0), (8, "b", 1.0)],
                  cols=("doc_id", "text", "quality"))
    comps2 = _docs(spark, [(7, 7), (8, 7)], cols=("doc_id", "component_id"))
    kept = D.select_representatives(docs2, comps2, "quality").collect()
    assert [(r["doc_id"], r["component_id"]) for r in kept] == [(7, 7)]


def test_select_representatives_integral_and_double_scores_agree(spark):
    """One regime: a max_by aggregation ordered by (score, ~id). An
    integral score and a double score on the same graph must pick
    identical representatives, including score ties → smallest id and
    negative ids (the bitwise-NOT desc ordering). The id must be
    integral; a string id is rejected up front."""
    rows = [(-3, "a", 5), (-1, "b", 5), (2, "c", 4),   # tie at 5 → -3
            (10, "d", 7), (11, "e", 9),                # clear max → 11
            (20, "f", 0)]                              # singleton
    docs_int = _docs(spark, rows, cols=("doc_id", "text", "score"))
    comps = _docs(spark, [(-3, -3), (-1, -3), (2, -3), (10, 10), (11, 10),
                          (20, 20)], cols=("doc_id", "component_id"))
    by_int = {(r["component_id"], r["doc_id"], r["score"])
              for r in D.select_representatives(
                  docs_int, comps, "score").collect()}
    docs_f = docs_int.withColumn("score", F.col("score").cast("double"))
    by_double = {(r["component_id"], r["doc_id"], int(r["score"]))
                 for r in D.select_representatives(
                     docs_f, comps, "score").collect()}
    assert by_int == by_double == {(-3, -3, 5), (10, 11, 9), (20, 20, 0)}
    as_str = F.col("doc_id").cast("string")
    with pytest.raises(TypeError, match="must be integral"):
        D.select_representatives(docs_int.withColumn("doc_id", as_str),
                                 comps.withColumn("doc_id", as_str), "score")


def test_hash_sample_deterministic_and_content_keyed(spark):
    rows = [(i, f"document number {i} with words") for i in range(200)]
    rows += [(1000, rows[0][1])]  # exact dup of doc 0's content
    docs = _docs(spark, rows)
    s1 = {r["doc_id"] for r in hash_sample(docs, pct=20).collect()}
    s2 = {r["doc_id"] for r in hash_sample(docs, pct=20).collect()}
    assert s1 == s2 and 0 < len(s1) < 201
    # identical content => identical fate
    assert (0 in s1) == (1000 in s1)


def test_stratified_sample_quota(spark):
    rows = [(i, f"text {i}", "en" if i % 3 else "de") for i in range(60)]
    docs = _docs(spark, rows, cols=("doc_id", "text", "lang"))
    out = stratified_sample(docs, per_stratum=5).collect()
    per = {}
    for r in out:
        per.setdefault(r["stratum"], []).append(r["rk"])
    assert set(per) == {"en", "de"}
    assert all(sorted(v) == list(range(1, 6)) for v in per.values())


def test_token_pack_budget_respected(spark):
    rows = [(i, " ".join(["w"] * (100 + i)), "s0") for i in range(20)]
    docs = _docs(spark, rows, cols=("doc_id", "text", "source"))
    out = sorted(token_pack(docs, budget=300).collect(), key=lambda r: r["doc_id"])
    # next-fit by cumsum: bin boundaries at floor(prefix/budget)
    cum = 0
    for r in out:
        assert r["bin_id"] == cum // 300
        cum += r["n_tok"]
    # bins are contiguous in doc order and non-decreasing
    bins = [r["bin_id"] for r in out]
    assert bins == sorted(bins)


# ---- property-based pins (hypothesis): packing & sampling invariants

from hypothesis import given, settings, strategies as st


@st.composite
def _random_graph(draw):
    n = draw(st.integers(min_value=1, max_value=18))
    n_edges = draw(st.integers(min_value=0, max_value=2 * n))
    edges = [
        tuple(sorted(draw(st.tuples(
            st.integers(min_value=0, max_value=n - 1),
            st.integers(min_value=0, max_value=n - 1)))))
        for _ in range(n_edges)
    ]
    return n, [(a, b) for a, b in edges if a != b]


@settings(max_examples=8, deadline=None)
@given(_random_graph())
def test_components_match_union_find(spark, graph):
    """Distributed min-label propagation + pointer jumping ≡ plain
    union-find on arbitrary random graphs (duplicate edges, any shape —
    the pointer-jump shortcut must never cross components or miss a
    merge)."""
    n, edges = graph
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {v: find(v) for v in range(n)}

    docs = _docs(spark, [(i, f"t{i}") for i in range(n)])
    pairs = (
        _docs(spark, edges, cols=("id_a", "id_b"))
        if edges
        else _docs(spark, [(0, 1)], cols=("id_a", "id_b")).filter("id_a < 0")
    )
    # BOTH regimes must match the reference union-find: the round-6
    # driver-local gate (default threshold takes it here) and the
    # distributed loop (forced via threshold=0)
    got_local = {r["doc_id"]: r["component_id"]
                 for r in D.dedup_components(docs, pairs).collect()}
    got_dist = {r["doc_id"]: r["component_id"]
                for r in D.dedup_components(
                    docs, pairs, local_edges_threshold=0
                ).collect()}
    assert got_local == want
    assert got_dist == want


@st.composite
def _doc_corpus(draw):
    n = draw(st.integers(min_value=1, max_value=25))
    return [
        (
            i,
            " ".join(["tok"] * draw(st.integers(min_value=0, max_value=40))),
            draw(st.sampled_from(["a", "b"])),
        )
        for i in range(n)
    ]


@settings(max_examples=12, deadline=None)
@given(_doc_corpus())
def test_token_pack_matches_python_reference(spark, rows):
    """next-fit-by-cumsum invariants vs a row-at-a-time reference:
    identical bin ids; bins non-decreasing in order; a bin's total only
    exceeds the budget via its LAST (straddling) doc."""
    budget = 37
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text", "source"])
    )
    got = {
        r["doc_id"]: (r["n_tok"], r["bin_id"])
        for r in token_pack(docs, budget=budget).collect()
    }
    for src in ("a", "b"):
        cum = 0
        for i, text, s in rows:
            if s != src:
                continue
            n_tok = len(text.split())
            assert got[i] == (n_tok, cum // budget), (i, got[i])
            cum += n_tok


@settings(max_examples=12, deadline=None)
@given(st.lists(st.text(alphabet="abc xyz", min_size=0, max_size=30),
                min_size=1, max_size=30, unique=True))
def test_hash_sample_is_pure_function_of_content(spark, texts):
    """Same text → same bucket, independent of doc_id, row order, or
    partitioning; bucket matches the md5 arithmetic exactly."""
    import hashlib

    rows = [(i, t) for i, t in enumerate(texts)]
    docs = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "text"])
    ).repartition(7)
    got = {r["doc_id"]: r["h_bucket"] for r in hash_sample(docs, pct=100).collect()}
    for i, t in rows:
        want = int(hashlib.md5(t.encode()).hexdigest()[:6], 16) % 100
        assert got[i] == want, (t, got[i], want)


def test_strip_boilerplate_lines(spark):
    from redo_log_parser_spark.operators.corpus import strip_boilerplate_lines

    rows = [
        (0, "unique zero\nSHARED FOOTER\nmiddle zero"),
        (1, "unique one\nshared footer"),          # normalized match of 0's
        (2, "  Shared Footer  \nunique two"),      # trim+lower match
        (3, "SHARED FOOTER"),                      # loses everything
    ]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    got = {
        r["doc_id"]: (r["clean_text"], r["n_lines_kept"])
        for r in strip_boilerplate_lines(docs, max_df=1).collect()
    }
    assert got[0] == ("unique zero\nmiddle zero", 2)
    assert got[1] == ("unique one", 1)
    assert got[2] == ("unique two", 1)
    assert got[3] == ("", 0)   # fully-boilerplate doc survives as empty


def test_pii_redaction_and_counts(spark):
    from redo_log_parser_spark.functions.text import pii_counts, redact_pii

    rows = [
        (0, "mail me at jane.doe+x@sub.example.org or call 12345678901 now"),
        (1, "no pii here, short num 12345678 stays"),
    ]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    ne, nn = pii_counts(F.col("text"))
    got = {
        r["doc_id"]: (r["t"], r["ne"], r["nn"])
        for r in docs.select(
            "doc_id", redact_pii(F.col("text")).alias("t"),
            ne.alias("ne"), nn.alias("nn"),
        ).collect()
    }
    assert got[0] == ("mail me at <EMAIL> or call <NUM> now", 1, 1)
    assert got[1] == ("no pii here, short num 12345678 stays", 0, 0)


def test_repetition_stats_values(spark):
    from redo_log_parser_spark.operators.corpus import repetition_stats

    rows = [
        (0, "spam spam spam spam"),          # 2-grams: 3x "spam spam" -> 2/3 dup
        (1, "all words unique here now"),
        (2, ""),                             # no tokens at all
    ]
    docs = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text"]))
    got = {
        r["doc_id"]: (
            r["dup_2gram_frac"], r["dup_3gram_frac"], r["top_token_frac"]
        )
        for r in repetition_stats(docs).collect()
    }
    assert got[0] == (round(1 - 1 / 3, 6), round(1 - 1 / 2, 6), 1.0)
    assert got[1] == (0.0, 0.0, 0.2)  # 5 unique tokens -> top mass 1/5
    assert got[2] == (0.0, 0.0, 0.0)


def test_components_long_chain_converges_via_pointer_jump(spark):
    """A 200-node chain is the worst case for plain min-label propagation
    (O(n) rounds — round-1 code aborted at 25); pointer jumping makes
    reach ~double per round, so it must converge inside the default 25
    (≈ O(log n)) with every node labeled 0."""
    docs = _docs(spark, [(i, f"t{i}") for i in range(200)])
    pairs = _docs(spark, [(i, i + 1) for i in range(199)], cols=("id_a", "id_b"))
    got = {r["doc_id"]: r["component_id"]
           for r in D.dedup_components(
               docs, pairs, local_edges_threshold=0
           ).collect()}
    assert len(got) == 200 and set(got.values()) == {0}


def test_decontaminate_planted_overlap(spark):
    """A doc sharing one 13-gram with the benchmark is dropped; docs
    with only shorter overlaps (12 shared tokens) or no overlap
    survive; docs shorter than n can never be contaminated."""
    from redo_log_parser_spark.operators.corpus import decontaminate

    gram13 = " ".join(f"w{i}" for i in range(13))
    docs = _docs(spark, [
        (0, f"prefix {gram13} suffix"),            # exact 13-gram: drop
        (1, " ".join(f"w{i}" for i in range(12)) + " other tail pad x y"),
        (2, "totally unrelated text " * 10),
        (3, gram13),                               # the gram alone: drop
        (4, "w0 w1"),                              # shorter than n
    ])
    bench = _docs(spark, [(100, f"bench head {gram13} bench tail")])
    clean, contaminated = decontaminate(docs, bench, n=13)
    assert sorted(r["doc_id"] for r in contaminated.collect()) == [0, 3]
    assert sorted(r["doc_id"] for r in clean.collect()) == [1, 2, 4]


def test_decontaminate_broadcast_no_corpus_shuffle(spark):
    """The benchmark gram set must reach the corpus side as a broadcast:
    the contaminated-id plan contains a BroadcastHashJoin and no
    SortMergeJoin (corpus gram frame is never exchanged for the join)."""
    from redo_log_parser_spark.operators.corpus import decontaminate

    docs = _docs(spark, [(i, f"d{i} " + " ".join(f"w{j}" for j in range(20)))
                         for i in range(30)])
    bench = _docs(spark, [(0, " ".join(f"w{j}" for j in range(20)))])
    _, contaminated = decontaminate(docs, bench, n=13)
    plan = contaminated._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
