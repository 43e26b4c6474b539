"""Deduplication operators for training-data pipelines at corpus scale.

Five families, each picked for a different scale/recall trade-off:

  exact_dedup        hash-groupBy on a normalized fingerprint; one
                     shuffle, no pairs materialized. The 100 TB default.
  ngram_jaccard      exact pairwise Jaccard over word n-gram shingles,
                     via an inverted-index self-join (only docs sharing
                     a shingle ever meet — never a cross join).
  minhash_lsh        MinHash signatures + banded LSH: candidate pairs
                     come from band-bucket joins, verified with true
                     Jaccard. Sub-quadratic; the web-scale near-dup path.
  simhash            64-bit SimHash fingerprints.
  embedding_cosine   near-dup by cosine of an embedding column (see
                     operators/similarity.py for the ANN machinery).

All hashing is xxhash64 with integer seeds — deterministic across runs,
partitions and cluster sizes (required for checkpoint-resume idempotence).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..caching import register
from ..functions.text import doc_fingerprint, tokens


def exact_dedup(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Keep the smallest id per normalized-content fingerprint.
    min-aggregation, not a window: one partial+final agg, no sort."""
    fp = docs.select(
        F.col(id_col), doc_fingerprint(F.col(text_col)).alias("fingerprint")
    )
    keep = fp.groupBy("fingerprint").agg(F.min(id_col).alias(id_col))
    return keep.select(id_col, "fingerprint")


def with_shingle_set(
    docs: DataFrame, n: int = 3, text_col: str = "text",
    out_col: str = "shs",
) -> DataFrame:
    """docs + `out_col`: the DISTINCT word n-gram shingle set per row,
    as an array — a pure projection (array_distinct does the per-doc
    dedup row-side, so no global distinct shuffle is ever needed).
    Built with array expressions (no UDF): slide a window of n over the
    token array."""
    # tokens materialized as a NAMED column first: higher-order lambdas
    # are interpreted, and an inline tokenize referenced inside the
    # slice lambda would re-split the text at every window position
    # (same 9x trap measured in corpus.ngram_keys)
    base = docs.withColumn("__tk", tokens(F.lower(F.col(text_col))))
    toks = F.col("__tk")
    # guard: sequence(0, -1) DESCENDS in Spark — a doc with fewer than n
    # tokens must yield an empty shingle list, not invalid slice starts.
    # n is a Python int, so the window unrolls to n element_at calls —
    # identical strings to array_join(slice(...)) (concat_ws joins the
    # same non-null tokens with the same separator) without the
    # per-shingle slice array allocation (round 6; same A/B family as
    # corpus.ngram_keys: ~40% off the interpreted transform).
    sh = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + k + 1) for k in range(n)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return base.withColumn(out_col, F.array_distinct(sh)).drop("__tk")


def shingles(docs: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Distinct word n-gram shingles per doc: (doc_id, shingle).
    The dedup happens row-side (array_distinct before the explode), so
    this is projection+generate only — the old explode-then-DISTINCT
    shape shuffled the whole shingle frame for a dedup every row can do
    locally."""
    return with_shingle_set(docs, n, text_col).select(
        F.col(id_col), F.explode("shs").alias("shingle")
    )


def validate_bands(num_hashes: int, bands: int) -> None:
    """Fail fast on LSH configs banded_keys cannot band: signatures
    must slice evenly and non-emptily into `bands` (num_hashes < bands
    truncates rows_per_band to 0 — every band would hash the empty
    slice and every doc would collide with every doc; a remainder would
    silently ignore trailing hashes)."""
    if bands <= 0 or num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes={num_hashes} must be a positive multiple of "
            f"bands={bands} (rows_per_band = num_hashes // bands)"
        )


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact Jaccard over n-gram shingle sets via inverted index:
    (id_a, id_b, jaccard) for unordered pairs ≥ threshold.

    Shuffle profile: one self-equi-join on shingle (docs that share no
    shingle never pair), one pair-count agg, two size joins. The
    per-doc dedup and set sizes are ROW-SIDE (array_distinct + size on
    the cached array frame) — no distinct shuffle, no sizes groupBy.

    The inverted index joins on xxhash64(shingle), not the shingle
    string: same exchanges, ~40% less wall (round-4 sf1 A/B: 6.1-7.4 s
    → 3.7-4.8 s, identical 2,560 pairs; fixed-width bigint keys
    shuffle, sort and compare cheaper than ~25-byte UTF8 shingles). Two
    distinct shingles colliding would inflate one pair's n_common by 1
    — probability ≈ m²/2^65 for m distinct shingles (1.8e-7 at sf1's
    2.6M; the minhash/simhash paths accept the same hash).
    tests/test_text_dedup.py checks the pairs against exact Python
    Jaccard over the shingle strings.

    Cache lifecycle: the per-doc shingle frame is cache()d because the
    plan reads it twice WITHIN one action; it cannot be unpersisted
    here (the return value is lazy — dropping the mark before the
    caller's action would disable the reuse). Long-lived sessions
    should take ownership via caching.operator_caches():

        with operator_caches():
            pairs = ngram_jaccard_pairs(docs).collect()  # materialize

    which unpersists every frame cached inside the block on exit.
    Without it, the historical hygiene applies: clearCache() between
    invocations (bench.py does) or ContextCleaner GC reclaim."""
    # read twice: the index explode and sizes
    base = register(
        with_shingle_set(docs, n, text_col).select(id_col, "shs").cache())
    # n_sh rides ON the index rows (one long per row) so the join below
    # can length-filter candidates BEFORE they reach the pair
    # aggregation — see the filter derivation there. The shingle is
    # hashed AFTER the explode: a plain codegen'd projection, not an
    # interpreted transform() inside the array
    sh = base.select(
        F.col(id_col),
        F.size("shs").alias("n_sh"),
        F.explode("shs").alias("shingle"),
    ).select(id_col, "n_sh", F.xxhash64("shingle").alias("shingle"))
    sizes = base.select(id_col, F.size("shs").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    t = float(threshold)
    # EXACT candidate pruning (round 6, guide §2.3 "shuffle fewer
    # bytes" / §1.2 "the distributed algorithm"):
    #   jaccard = c/(n_a+n_b-c) >= t  and  c <= min(n_a, n_b)
    #   =>  t*max(n_a, n_b) <= min(n_a, n_b)        (length filter)
    # so size-incompatible candidates are dropped INSIDE the join,
    # before the pair aggregation ever sees them (~24% of candidate
    # events on the bench corpus at t=0.5). The slack guards the
    # boundary against float rounding of t*max (e.g. 25*0.28 rounds to
    # 7.000000000000001 for a pair at exactly 7/25). It is relative —
    # rounding error grows with the operands, so an absolute epsilon
    # stops covering it once n_sh reaches the millions — and can only
    # let a non-qualifying pair THROUGH to the exact final filter,
    # never drop a qualifying one.
    common = (
        a.join(b, "shingle")
        .filter(
            (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            & (
                F.greatest(F.col("a.n_sh"), F.col("b.n_sh")) * F.lit(t)
                <= F.least(F.col("a.n_sh"), F.col("b.n_sh"))
                + F.greatest(F.col("a.n_sh"), F.col("b.n_sh")) * F.lit(1e-12)
            )
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    sz_a = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sz_b = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    # Second exact-necessary prune between the size joins: c <= n_b
    # always, so c(1+t) >= t(n_a+n_b) requires c >= t*n_a. On the bench
    # corpus this collapses the second size join's input from ~10^8
    # aggregated pairs (most share ONE shingle) to <10^6. Same relative
    # slack as the length filter (c <= n_a bounds the rounding error).
    return (
        common.join(sz_a, "id_a")
        .filter(
            F.col("n_common") + F.col("n_a") * F.lit(1e-12)
            >= F.col("n_a") * F.lit(t)
        )
        .join(sz_b, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def minhash_signatures(
    docs: DataFrame, num_hashes: int = 64, n: int = 3,
    id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """(doc_id, sig: array<bigint>) — MinHash over n-gram shingles,
    as a per-doc AGGREGATE over the exploded shingle frame. Each hash k
    is xxhash64(seed=k) of the shingle; min per doc, all K minima in
    one groupBy pass. Kept as the independently-derived parity baseline
    for with_minhash_sig (the per-row form every production path now
    uses — tests/test_text_dedup.py pins the two equal)."""
    sh = shingles(docs, n, id_col, text_col)
    hashed = sh.select(
        id_col,
        F.array(
            *[F.xxhash64(F.lit(k), F.col("shingle")) for k in range(num_hashes)]
        ).alias("hs"),
    )
    mins = hashed.groupBy(id_col).agg(
        F.array(
            *[F.min(F.col("hs")[k]) for k in range(num_hashes)]
        ).alias("sig")
    )
    return mins


def with_minhash_sig(
    docs: DataFrame, num_hashes: int = 64, n: int = 3,
    text_col: str = "text", out_col: str = "sig",
    keep_shingles: str | None = None,
) -> DataFrame:
    """Per-ROW MinHash signature — the aggregation-free twin of
    minhash_signatures (identical hash family xxhash64(seed k, shingle),
    identical signature for identical text; parity-pinned in
    tests/test_text_dedup.py). No groupBy, so the pair path skips the
    shingle explode+distinct and per-doc agg shuffles entirely. Docs
    with fewer than n tokens get an EMPTY signature (minhash_signatures
    likewise emits no row for them). `keep_shingles` additionally emits the
    DISTINCT shingle set under that name (for exact-Jaccard verify).

    Shingle construction is with_shingle_set — ONE definition of the
    tokenize→window→array_distinct expression shared with shingles()/
    ngram_jaccard_pairs, so the batch index and the per-row paths
    cannot silently diverge. Hashing runs over the distinct set (min is
    unaffected, fewer evals); the set is staged as a named column
    (PLANS.md §10 — no CSE in interpreted lambdas)."""
    base = with_shingle_set(docs, n, text_col, out_col="__shd")
    sig = F.when(
        F.size("__shd") > 0,
        F.transform(
            F.sequence(F.lit(0), F.lit(num_hashes - 1)),
            lambda k: F.array_min(
                F.transform(F.col("__shd"), lambda s: F.xxhash64(k, s))
            ),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    out = base.withColumn(out_col, sig)
    if keep_shingles is not None:
        out = out.withColumn(keep_shingles, F.col("__shd"))
    return out.drop("__shd")


def banded_keys(
    sigs: DataFrame, bands: int, sig_col: str = "sig",
    keep_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """Explode a signature column into its LSH band keys:
    (*keep_cols, band, bucket) with bucket = xxhash64 of the
    comma-joined band slice. Empty signatures yield no rows (explode of
    an empty struct array — NOT `bands` keys over an empty slice, which
    would make every empty doc collide on xxhash64('')).

    Signatures must slice evenly into `bands`: callers that build the
    signature validate num_hashes % bands == 0 up front, and a
    row-level assert enforces the same invariant at action time for
    direct callers (a truncated-to-zero rows_per_band would make EVERY
    band hash the empty slice and every doc collide with every doc)."""
    rows_per_band = (F.size(sig_col) / bands).cast("int")
    # runtime banding guard: evaluated once per non-empty-sig row (a
    # cheap modulo) — assert_true returns NULL on success, so the
    # when(...isNull()) wrapper is an always-true gate that cannot be
    # constant-folded away
    sig_ok = F.assert_true(
        (F.size(sig_col) % bands == 0) & (F.size(sig_col) >= bands),
        F.concat(
            F.lit("banded_keys: size(sig)="),
            F.size(sig_col).cast("string"),
            F.lit(f" is not a positive multiple of bands={bands}"),
        ),
    )
    band_structs = F.when(
        F.size(sig_col) > 0,
        F.when(
            sig_ok.isNull(),
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(
                                    sig_col, b * rows_per_band + 1, rows_per_band
                                ),
                                lambda x: x.cast("string"),
                            ),
                        )
                    ).alias("bucket"),
                ),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<band:int,bucket:bigint>>"))
    return (
        sigs.select(*keep_cols, F.explode(band_structs).alias("bb"))
        .select(*keep_cols, "bb.band", "bb.bucket")
    )


def minhash_lsh_candidates(
    sigs: DataFrame, bands: int = 16, id_col: str = "doc_id",
) -> DataFrame:
    """Band the signature and bucket-join: docs agreeing on any full band
    become candidate pairs (id_a < id_b, distinct). Signatures that do
    not slice evenly into `bands` fail at action time, in banded_keys'
    row-level assert; minhash_dedup_pairs also checks its config with
    validate_bands before it builds the plan."""
    banded = banded_keys(sigs, bands, sig_col="sig", keep_cols=(id_col,))
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .distinct()
    )


def minhash_dedup_pairs(
    docs: DataFrame, num_hashes: int = 64, bands: int = 16, n: int = 3,
    threshold: float = 0.8, id_col: str = "doc_id", text_col: str = "text",
) -> DataFrame:
    """LSH candidates verified with exact Jaccard.

    The per-doc frame (MinHash signature, distinct shingle SET, size)
    is a pure PROJECTION (with_minhash_sig — round-3 session-4
    restructure): signature and set are computed row-wise from the
    token array, so the old shingle explode+distinct and per-doc
    groupBy shuffles are gone entirely. (History: round 3 first fused
    those into one aggregate after the round-2 shape's 6-join cascade
    measured 12 s; the projection form removes the remaining two
    exchanges.) Verification is doc-level: candidate pairs join the
    per-doc shingle arrays and Jaccard is |array_intersect| / union —
    exact, since the kept set is distinct per doc. Shuffle profile:
    band self-join, pair distinct, two verify joins — four exchanges
    total, none carrying more than the corpus once. At 100 TB the
    verify joins move shingle arrays only for docs that appear in
    candidate pairs (inner joins on cand). A ValueError names both
    numbers when `num_hashes` does not slice evenly into `bands`
    (validate_bands), before any Spark job starts.

    Cache lifecycle: per_doc stays cache()d after return — the lazy
    result reads it three times in one action, so it cannot be
    unpersisted here; wrap materialization in caching.operator_caches()
    to own it (see ngram_jaccard_pairs)."""
    validate_bands(num_hashes, bands)
    # NO filter on the projected columns: a predicate like
    # size(shs) > 0 would be alias-substituted below the Project by
    # predicate pushdown and re-evaluate the whole shingle tree per row
    # (measured 10x — the Filter cousin of the PLANS §10 no-CSE rule).
    # Empty-sig docs are inert anyway: banded_keys emits no keys for
    # them, and the verify joins are inner joins against the candidates.
    per_doc = (
        with_minhash_sig(
            docs, num_hashes=num_hashes, n=n, text_col=text_col,
            keep_shingles="shs",
        )
        .select(id_col, "sig", "shs", F.size("shs").alias("n_sh"))
        .cache()
    )
    per_doc = register(per_doc)
    cand = minhash_lsh_candidates(per_doc.select(id_col, "sig"), bands, id_col)
    a = per_doc.select(
        F.col(id_col).alias("id_a"), F.col("shs").alias("shs_a"),
        F.col("n_sh").alias("n_a"),
    )
    b = per_doc.select(
        F.col(id_col).alias("id_b"), F.col("shs").alias("shs_b"),
        F.col("n_sh").alias("n_b"),
    )
    return (
        cand.join(a, "id_a").join(b, "id_b")
        .withColumn("n_common", F.size(F.array_intersect("shs_a", "shs_b")))
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def md5_hash60(c):
    """Engine-portable 60-bit token hash: first 15 hex chars of md5 as a
    bigint (positive, no sign games). Slower than xxhash64 (string md5 +
    base conversion) but restatable verbatim in any SQL engine — used by
    the driver-contract simhash query so the vote/fingerprint LOGIC gets
    a full cross-engine value oracle."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def simhash(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    token_hash=None,
) -> DataFrame:
    """64-bit SimHash: per token a 64-bit hash votes ±1 on each bit;
    fingerprint bit i is the sign of the vote sum. Computed with array
    expressions over the exploded token frame — one groupBy, no UDF.

    token_hash: Column→Column token hash; default xxhash64 (JVM-fast,
    the production path). Pass md5_hash60 for the SQL-portable variant
    (top 4 bits constant-zero votes — fingerprints differ from the
    default, blocking/verification semantics identical).

    (doc_id, simhash: bigint)"""
    hash_fn = token_hash if token_hash is not None else F.xxhash64
    tok = docs.select(
        F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("tok")
    )
    h = tok.withColumn("h", hash_fn(F.col("tok")))
    # 64 per-bit ±1 vote columns (bit index is compile-time constant, so
    # plain Python loops build the projection; codegen fuses it all)
    votes = h.select(
        id_col,
        *[
            F.when(F.shiftright("h", i).bitwiseAND(F.lit(1)) == 1, 1)
            .otherwise(-1)
            .alias(f"b{i}")
            for i in range(64)
        ],
    )
    summed = votes.groupBy(id_col).agg(
        *[F.sum(f"b{i}").alias(f"v{i}") for i in range(64)]
    )
    fp_col = None
    for i in range(64):
        # shiftleft keeps i=63 in signed-long range (sign bit)
        bit = F.when(
            F.col(f"v{i}") > 0, F.shiftleft(F.lit(1).cast("bigint"), i)
        ).otherwise(F.lit(0).cast("bigint"))
        fp_col = bit if fp_col is None else fp_col + bit
    return summed.select(id_col, fp_col.alias("simhash"))


# dedup_components' first pointer-jump round (see its docstring)
_JUMP_FROM = 2


def dedup_components(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 25,
    local_edges_threshold: int = 1_000_000,
) -> DataFrame:
    """Fuzzy-dedup clustering: connected components over a near-dup pair
    frame → (doc_id, component_id), component_id = min doc id in the
    component (the canonical representative). Docs in no pair are their
    own singleton component.

    Two regimes, identical output (tests/test_corpus.py pins both
    against a Python union-find on random graphs); the symmetrized
    edge count, counted first, picks one. At or below
    `local_edges_threshold` edges, the edges are collected and solved
    with one driver union-find — the near-dup subgraph is typically
    vanishingly small next to the corpus, and each distributed round
    is a full job. Above it, distributed min-label propagation runs.

    Distributed min-label propagation WITH pointer jumping: each round
    (1) joins labels onto the (symmetrized) edge list and takes the min
    over {self} ∪ neighbors — one shuffle join + one partial+final agg —
    and, from round _JUMP_FROM (2) on, (2) shortcuts label(v) ←
    label(label(v)) with one more self-join (labels are vertex ids and
    min-propagation keeps label(v) ≤ v, so the jump is a pure
    improvement). Neighbor propagation alone needs O(component diameter)
    rounds — a chain-shaped duplicate graph (each doc near-dups only its
    neighbors) is O(n); the jump makes reach roughly double per round,
    so even pathological chains converge in O(log n) rounds (round-2
    VERDICT item 8; pinned by the 200-node chain test). Real near-dup
    graphs are low-diameter and converge within the first 2-3 rounds —
    starting the jump at round 2 keeps those rounds at one join each
    and spends the jump join only on graphs that actually have depth (a
    jump on every round measured 2× the bench cost for zero round
    savings on the sf corpus). Label frame is localCheckpoint'ed so
    lineage stays flat. Raises if max_iters rounds don't converge
    rather than returning a partial clustering.

    Both regimes label ONLY the vertices that appear in some pair:
    singletons (the overwhelming majority of a near-dup corpus — their
    label never moves off their own id) are attached by one final left
    join (`_with_singletons`) instead of riding every round's shuffle.
    At web scale this is the difference between propagating labels for
    billions of untouched docs per round and propagating only the
    near-dup subgraph."""
    # symmetrize ROW-SIDE (one explode), not union(half, half.swapped):
    # a self-referencing union evaluates the pair tree once PER BRANCH
    # while the cache above it builds (PLANS §13 — no exchange reuse
    # across subplan twins), and the near-dup pair tree is the most
    # expensive input this operator ever receives (measured ~2x the
    # whole pair stage at sf10, invisible in sf1 noise)
    edges = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
                    ),
                    F.struct(
                        F.col("id_b").alias("src"), F.col("id_a").alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .cache()
    )
    def _with_singletons(converged: DataFrame) -> DataFrame:
        comp = converged.select(
            F.col("v").alias(id_col), F.col("label").alias("__comp")
        )
        return (
            docs.select(id_col)
            .distinct()
            .join(comp, id_col, "left")
            .select(
                id_col,
                F.coalesce(F.col("__comp"), F.col(id_col)).alias("component_id"),
            )
        )

    # SIZE-GATED LOCAL SOLVE (round 6): the near-dup subgraph is usually
    # MINUSCULE next to the corpus (sf1: 2,560 pairs over 50k docs), yet
    # each distributed round costs a full join+agg+checkpoint job — the
    # fixed per-round scheduling dominates end-to-end. Below the
    # threshold (default 1M edges ≈ 32 MB on the driver — same class as
    # the k×dim k-means collect) the component labels come from one
    # driver-side union-find over the already-materialized edge cache;
    # the distributed loop below is unchanged and takes over past the
    # threshold, so 100 TB posture is unaffected. Semantics identical:
    # connected components with min-id labels either way.
    n_edges = edges.count()  # also materializes the cache the loop needs
    if n_edges <= local_edges_threshold:
        edge_rows = edges.collect()
        edges.unpersist()
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:
                parent[x], x = r, parent[x]
            return r

        for row in edge_rows:
            a, b = find(row[0]), find(row[1])
            if a != b:
                # union by MIN root so the representative is the min id
                lo, hi = (a, b) if a < b else (b, a)
                parent[hi] = lo
        verts = {v for row in edge_rows for v in row}
        from pyspark.sql.types import StructField, StructType

        vtype = edges.schema["src"].dataType
        labels = docs.sparkSession.createDataFrame(
            [(v, find(v)) for v in sorted(verts)],
            StructType([StructField("v", vtype), StructField("label", vtype)]),
        )
        return _with_singletons(labels)

    # symmetrized, so `src` alone covers every vertex touched by a pair
    labels = (
        edges.select(F.col("src").alias("v"))
        .distinct()
        .select("v", F.col("v").alias("label"))
        .localCheckpoint()
    )
    for it in range(max_iters):
        nb = edges.join(labels, edges["src"] == labels["v"]).select(
            F.col("dst").alias("v"),
            "label",
            F.lit(None).cast(labels.schema["label"].dataType).alias("old"),
        )
        # the previous label rides through as `old`, so the convergence
        # check below is a scan of the checkpointed frame — NOT a
        # new-vs-old join (one less full-label shuffle per round)
        propagated = (
            labels.select("v", "label", F.col("label").alias("old"))
            .unionByName(nb)
            .groupBy("v")
            .agg(F.min("label").alias("label"),
                 F.max("old").alias("old"))
        )
        if it >= _JUMP_FROM:
            # pointer jump: every label IS a vertex id, so label(label(v))
            # exists in the same frame; left join guards the invariant
            # rather than silently dropping rows if it were ever violated
            jump = propagated.select(
                F.col("v").alias("jv"), F.col("label").alias("jlabel")
            )
            propagated = propagated.join(
                jump, propagated["label"] == jump["jv"], "left"
            ).select(
                "v",
                F.least(
                    F.col("label"), F.coalesce(F.col("jlabel"), F.col("label"))
                ).alias("label"),
                "old",
            )
        # lazy checkpoint: the convergence count below is the action that
        # materializes it — one job per round instead of two (eager
        # checkpoint + count), lineage still truncated after the action
        new_labels = propagated.localCheckpoint(eager=False)
        changed = new_labels.filter(F.col("label") != F.col("old")).count()
        labels = new_labels.select("v", "label")
        if changed == 0:
            edges.unpersist()
            return _with_singletons(new_labels)
    edges.unpersist()
    raise RuntimeError(
        f"dedup_components did not converge in {max_iters} rounds "
        f"(disconnected label cycle? diameter beyond 2^{max_iters}?)"
    )


def select_representatives(
    docs: DataFrame,
    components: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Pick ONE doc per duplicate cluster: the highest `score_col`
    (ties → smallest id, fully deterministic). The production policy
    after fuzzy-dedup clustering — keeping the min id (what
    dedup_components labels with) throws away the best-written copy of
    a near-dup group; keeping the best-scored one is the standard
    corpus-quality move. Returns (id_col, component_id, score_col) of
    the kept docs — anti-join the rest away or semi-join to filter.

    Shuffle shape (round 6, guide §2.3 "aggregate before you shuffle"):
    the pick is a max_by aggregation ordered by (score, ~id) — bitwise
    NOT is a total, strictly decreasing bigint map (no MIN_VALUE
    negation overflow), so max score wins with ties to the SMALLEST id.
    A partial+final agg ships one candidate row per component per map
    task. The score may be any orderable type; the id must be integral
    (the tie-break negates it bitwise), else TypeError. Singleton
    components pass through unchanged."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    scored = docs.select(id_col, score_col).join(components, id_col)
    id_type = scored.schema[id_col].dataType
    if not isinstance(id_type, (ByteType, ShortType, IntegerType, LongType)):
        raise TypeError(
            f"select_representatives: {id_col} must be integral, "
            f"got {id_type.simpleString()}"
        )
    picked = scored.groupBy("component_id").agg(
        F.max_by(
            F.struct(F.col(id_col), F.col(score_col)),
            F.struct(
                F.col(score_col),
                F.bitwise_not(F.col(id_col).cast("long")),
            ),
        ).alias("__best")
    )
    return picked.select(
        F.col(f"__best.{id_col}").alias(id_col),
        "component_id",
        F.col(f"__best.{score_col}").alias(score_col),
    )
