"""Training-data operator tests: dedup / similarity / text / multimodal.

Correctness strategy: inject deterministic positives (perturbed
corpora), verify recall against brute force, and cross-check against
DuckDB where entry_queries already wires an oracle (those run in
scratch/check_oracles.py + the driver; here we assert semantics)."""

import numpy as np
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from spatula_spark.functions import dedup as dd
from spatula_spark.functions import multimodal as mm
from spatula_spark.functions import similarity as sim
from spatula_spark.functions import text as tx

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .withColumn("embedding", F.col("embedding").cast("array<double>"))
    )


def test_exact_dedup_finds_injected_copies(docs):
    base = docs.select("doc_id", "text")
    corpus = base.unionByName(
        base.select((F.col("doc_id") + 10_000).alias("doc_id"), "text")
    )
    out = dd.exact_dedup(corpus).collect()
    assert all(r["n_dups"] == 2 for r in out)
    assert all(r["keep_doc_id"] < 10_000 for r in out)


def test_minhash_lsh_recall_on_near_copies(docs):
    corpus = dd.perturbed_corpus(docs.limit(100))
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in dd.minhash_dedup_pairs(corpus, threshold=0.8).collect()
    }
    # every (doc, doc+1M) near-copy pair whose true jaccard >= 0.8
    # must be found (banded LSH w/ 4 bands of 2 rows has >99.9%
    # probability at j>=0.9; dropped-last-word copies are j ~ 0.95+)
    expected = {
        (r["doc_a"], r["doc_b"])
        for r in dd.jaccard_pairs(
            corpus,
            corpus.select(F.col("doc_id").alias("doc_a")).crossJoin(
                corpus.select(F.col("doc_id").alias("doc_b"))
            ).filter(
                (F.col("doc_b") == F.col("doc_a") + 1_000_000)
            ),
            threshold=0.8,
        ).collect()
    }
    assert expected  # fixture actually has positives
    recall = len(pairs & expected) / len(expected)
    assert recall >= 0.95, (recall, len(expected))


def test_incremental_near_dups_delta_vs_base_only(docs, spark):
    """incremental_near_dups: exact re-crawls resolve to their base
    doc at jaccard 1.0, near-copies to their base original, and pairs
    WITHIN the delta are never minted (the delta×delta twin pair must
    be absent — that's the contract that makes per-ingest cost scale
    with |delta|, not |corpus|)."""
    base = docs.limit(60).select("doc_id", "text")
    w = dd.normalized_words(F.col("text"))
    near = base.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.array_join(
            F.slice(w, 1, F.greatest(F.size(w) - 1, F.lit(1))), " "
        ).alias("text"),
    )
    exact = base.filter(F.col("doc_id") % 3 == 1).select(
        (F.col("doc_id") + 20_000_000).alias("doc_id"), "text"
    )
    twin_text = "alpha beta gamma delta epsilon zeta eta theta iota"
    twins = spark.createDataFrame(
        [
            (40_000_000, twin_text),
            (40_000_001, twin_text.rsplit(" ", 1)[0]),
        ],
        "doc_id long, text string",
    )
    delta = near.unionByName(exact).unionByName(twins)
    out = {
        r["delta_id"]: (r["base_id"], r["jaccard"])
        for r in dd.incremental_near_dups(base, delta).collect()
    }
    texts = {r["doc_id"]: r["text"] for r in base.collect()}
    exact_ids = [r["doc_id"] for r in exact.collect()]
    assert exact_ids, "fixture must contain exact re-crawls"
    for did in exact_ids:
        bid, jac = out[did]
        # an exact re-crawl resolves at jaccard 1.0; the winning base
        # doc must carry the same shingle set (the synthetic corpus
        # contains its own near-dup twins, so the argmax may land on a
        # twin of the original rather than the original itself)
        assert jac == 1.0
        assert dd._shingle_set(texts[bid], 3) == dd._shingle_set(
            texts[did - 20_000_000], 3
        )
    near_ids = {r["doc_id"] for r in near.collect()}
    for did, (bid, jac) in out.items():
        if 10_000_000 <= did < 20_000_000:
            assert did in near_ids and jac >= 0.8
    # the delta-only twin pair must NOT appear: neither twin has a
    # base near-dup, and delta×delta pairs are out of contract
    assert 40_000_000 not in out and 40_000_001 not in out


def test_hll_distinct_accuracy(spark):
    """HLL raw-regime estimate lands within ~3 stderr (1.04/sqrt(64)
    ~= 13%) of the exact distinct count, buckets never exceed m, and
    the register arithmetic is pure integer (no libm in the plan)."""
    from spatula_spark.functions import sketches as sk

    n = 5_000
    df = spark.range(n).select(
        F.concat(F.lit("u"), (F.col("id") % 1777).cast("string")).alias("u")
    )
    row = sk.hll_distinct(df, "u", p=6).collect()[0]
    assert row["m"] == 64 and row["n_buckets_seen"] <= 64
    exact = 1777
    assert abs(row["hll_estimate"] / exact - 1) < 0.39


def test_hll_registers_merge(spark):
    """The distributed-correctness property: registers computed on two
    disjoint corpus slices, unioned and re-max'd per bucket, must
    yield the IDENTICAL one-row estimate as the whole-corpus sketch —
    per-bucket max is associative/commutative/idempotent, so any
    partitioning (any cluster size) produces the same sketch."""
    from spatula_spark.functions import sketches as sk

    df = spark.range(3_000).select(
        F.concat(F.lit("u"), (F.col("id") % 911).cast("string")).alias("u")
    )
    whole = sk.hll_distinct(df, "u", p=6).collect()[0]
    a = sk.hll_registers(df.filter(F.col("u").substr(2, 1) < "5"), "u", p=6)
    b = sk.hll_registers(df.filter(F.col("u").substr(2, 1) >= "5"), "u", p=6)
    merged = (
        a.unionByName(b)
        .groupBy("bucket")
        .agg(F.max("r").alias("r"))
    )
    got = sk.hll_estimate(merged, p=6).collect()[0]
    assert got == whole


def test_integer_pagerank_ring_invariants(spark):
    """On a symmetric ring every node must end at EXACTLY the initial
    scaled rank (0.15*S + 0.85*S = S, and S is divisible by 100 so no
    floor loss) — pins both the damping arithmetic and the claim that
    integer PageRank is drift-free when divisions are exact. A hub
    star then pins direction: the pointed-at node outranks the
    leaves."""
    from spatula_spark.functions import graph as gr

    nodes = spark.createDataFrame([(i,) for i in range(4)], "node long")
    ring = spark.createDataFrame(
        [(i, (i + 1) % 4) for i in range(4)], "src long, dst long"
    )
    out = {
        r["node"]: r["rank_scaled"]
        for r in gr.integer_pagerank(nodes, ring, n_iter=5).collect()
    }
    assert set(out.values()) == {gr.SCALE}
    star = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0), (0, 1)], "src long, dst long"
    )
    s = {
        r["node"]: r["rank_scaled"]
        for r in gr.integer_pagerank(nodes, star, n_iter=5).collect()
    }
    assert s[0] > s[1] > s[2] == s[3]


def test_cms_overestimates_only(spark):
    """CMS point estimates are biased up ONLY (min over d counters >=
    true count); a deliberately tiny sketch (w=32) over 500 distinct
    tokens forces collisions, so some estimate must strictly exceed
    its true count while none may undershoot."""
    from spatula_spark.functions import sketches as sk

    tok = spark.range(5_000).select(
        F.concat(F.lit("w"), (F.col("id") % 500).cast("string"))
        .alias("word")
    )
    cms = sk.cms_table(tok, w=32, d=2)
    probes = tok.select("word").distinct()
    est = {
        r["word"]: r["cms_est"]
        for r in sk.cms_estimate(cms, probes, w=32, d=2).collect()
    }
    exact = {
        r["word"]: r["c"]
        for r in tok.groupBy("word").agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert set(est) == set(exact)
    assert all(est[w] >= exact[w] for w in exact)
    assert any(est[w] > exact[w] for w in exact)


def test_incremental_near_dups_base_bucket_cap(spark):
    """A boilerplate clique in the BASE corpus must not mint O(clique)
    candidates per probing delta doc: with max_bucket set, the capped
    bucket collapses to its min-id representative, every delta copy
    still resolves as a dup (jaccard 1.0 to the representative), and
    the stats record the capped bucket."""
    boiler = "terms of service apply to all pages of this site forever"
    base = spark.createDataFrame(
        [(i, boiler) for i in range(50)]
        + [(100 + i, f"unique document number {i} with its own words "
                     f"alpha{i} beta{i} gamma{i}") for i in range(5)],
        "doc_id long, text string",
    )
    delta = spark.createDataFrame(
        [(10_000_000 + i, boiler) for i in range(4)],
        "doc_id long, text string",
    )
    stats: dict = {}
    out = dd.incremental_near_dups(
        base, delta, max_bucket=16, stats=stats
    ).collect()
    assert stats["capped_buckets"] >= 1
    assert stats["max_bucket_size"] == 50
    assert len(out) == 4
    for r in out:
        # every clique bucket collapses to its min doc_id (0)
        assert r["base_id"] == 0 and r["jaccard"] == 1.0


def _jaccard_pairs_ref(df, pairs, n=3, threshold=0.8):
    """Pure-Catalyst reference form of dd.jaccard_pairs (what the
    DuckDB oracle mirrors): shingle arrays and their
    size(array_intersect) / size(array_union)."""
    sh = dd._spread(df).select(
        "doc_id", dd.word_shingles(F.col("text"), n).alias("sh")
    ).localCheckpoint()
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    return (
        pairs.join(a, "doc_a").join(b, "doc_b")
        .select("doc_a", "doc_b", F.round(inter / union, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def _minhash_signatures_ref(df, num_perms=8, n=3):
    """Pure-Catalyst reference form of dd.minhash_signatures (what the
    DuckDB oracle mirrors): permutation ``i`` is the minimum over the
    doc's shingles of hex chunk ``i % 4`` of ``md5(shingle || ':' ||
    i // 4)``, as a 32-bit value."""
    sh = dd.word_shingles(F.col("text"), n)

    # factories, not default-arg lambdas: pyspark reads a 2-arg
    # higher-order-function lambda as (element, index)
    def _salted(j):
        return lambda s: F.md5(F.concat(s, F.lit(f":{j}")))

    def _chunk(k):
        return lambda x: F.conv(
            F.substring(x, 1 + 8 * k, 8), 16, 10).cast("long")

    hashed = [F.transform(sh, _salted(j))
              for j in range((num_perms + 3) // 4)]
    return dd._spread(df).select("doc_id", *[
        F.array_min(F.transform(hashed[i // 4], _chunk(i % 4)))
        .alias(f"mh_{i}") for i in range(num_perms)])


def test_minhash_fast_path_bit_identical(docs, spark):
    """The Arrow signature/jaccard fast paths must equal the
    pure-Catalyst reference forms (which the DuckDB oracles mirror)
    on the real corpus — including whitespace-edge and null rows."""
    edge = spark.createDataFrame(
        [(9001, "  one\ttwo\nthree  four one two three "),
         (9002, "short"), (9003, ""), (9004, None)],
        "doc_id long, text string",
    )
    corpus = dd.perturbed_corpus(docs.limit(150)).unionByName(edge)
    cols = [f"mh_{i}" for i in range(8)]
    fast = dd.minhash_signatures(corpus).alias("f")
    ref = _minhash_signatures_ref(corpus).alias("r")
    neq = fast.join(ref, "doc_id").filter(" OR ".join(
        f"f.{c} IS DISTINCT FROM r.{c}" for c in cols
    )).count()
    assert neq == 0
    pairs = dd.lsh_candidate_pairs(corpus)
    got = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in dd.jaccard_pairs(corpus, pairs, threshold=0.8).collect()
    }
    want = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in _jaccard_pairs_ref(corpus, pairs, threshold=0.8).collect()
    }
    assert got == want and got


def test_simhash_quarter_keys_complete(docs, spark):
    """Candidate scheme completeness: quarter-key join == brute force
    for hamming <= 3."""
    corpus = dd.perturbed_corpus(docs.limit(80))
    fast = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in dd.simhash_near_dups(corpus, max_hamming=3).collect()
    }
    sh = corpus.select("doc_id", dd.simhash(F.col("text")).alias("sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sa"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sb"))
    brute = {
        (r["doc_a"], r["doc_b"], r["h"])
        for r in a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a", "doc_b",
            F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
            .cast("int").alias("h"),
        )
        .filter(F.col("h") <= 3)
        .collect()
    }
    assert fast == brute
    assert brute  # positives exist


def test_simhash_bucket_load_factor(docs):
    """16-bit quarter keys must spread candidates: the max bucket
    (band, key) population stays far below the corpus size (round-1
    8-bit keys had 256 buckets/band => near-degenerate)."""
    corpus = dd.perturbed_corpus(docs)  # 1000 docs
    n = corpus.count()
    sh = corpus.select("doc_id", dd.simhash(F.col("text")).alias("sh"))
    loads = (
        sh.select(
            F.explode(F.array(*[
                F.struct(
                    F.lit(qi).alias("q"),
                    F.shiftright("sh", 16 * qi).bitwiseAND(F.lit(0xFFFF))
                    .alias("key"),
                )
                for qi in range(4)
            ])).alias("qk")
        )
        .groupBy("qk.q", "qk.key")
        .count()
    )
    max_load = loads.agg(F.max("count")).collect()[0][0]
    # similar docs legitimately cluster (that is simhash's job), but
    # the hot bucket must stay far below corpus size — and far below
    # what the round-1 8-bit keys produce on the same corpus
    loads8 = (
        sh.select(
            F.explode(F.array(*[
                F.struct(
                    F.lit(qi).alias("q"),
                    F.shiftright("sh", 8 * qi).bitwiseAND(F.lit(255))
                    .alias("key"),
                )
                for qi in range(4)
            ])).alias("qk")
        )
        .groupBy("qk.q", "qk.key")
        .count()
    )
    max_load8 = loads8.agg(F.max("count")).collect()[0][0]
    assert max_load <= n // 10, (max_load, n)
    assert max_load < max_load8 / 2, (max_load, max_load8)


def test_embedding_near_dups_finds_planted(emb):
    """Planted ε-perturbed copies must be recovered: recall >= 0.9 vs
    the known positives, and every reported pair is exact-verified
    (cos >= threshold by construction of the verify stage)."""
    base = emb.limit(200)
    corpus = sim.perturbed_embeddings(base)
    out = sim.embedding_near_dups(corpus, threshold=0.95).collect()
    pairs = {(r["vec_a"], r["vec_b"]) for r in out}
    planted = {
        (r["vec_id"], r["vec_id"] + 1_000_000)
        for r in base.select("vec_id").collect()
    }
    recall = len(pairs & planted) / len(planted)
    assert recall >= 0.9, recall
    assert all(r["cos"] >= 0.95 for r in out)


def test_vectorized_udfs_propagate_nulls(spark):
    """The Arrow fast paths must propagate nulls like their native
    reference forms instead of crashing the batch (null text / null
    embedding rows are routine in crawled corpora)."""
    emb = spark.createDataFrame(
        [(1, [1.0] * 64), (2, None)], "vec_id long, embedding array<double>"
    )
    rows = emb.select(
        "vec_id", sim.lsh_buckets_fast("embedding", 2, 4, 64).alias("b")
    ).collect()
    assert {r["vec_id"]: r["b"] is None for r in rows} == {1: False, 2: True}
    cos = emb.alias("a").crossJoin(emb.alias("c")).select(
        sim.cosine_fast(F.col("a.embedding"), F.col("c.embedding")).alias("x")
    ).collect()
    assert sum(r["x"] is None for r in cos) == 3  # any null side -> null
    docs = spark.createDataFrame(
        [(1, "hello world"), (2, None)], "doc_id long, text string"
    )
    sh = docs.select("doc_id", dd.simhash(F.col("text")).alias("s")).collect()
    assert {r["doc_id"]: r["s"] is None for r in sh} == {1: False, 2: True}


def test_simhash_fast_bit_identical(docs):
    """The Arrow-vectorized SimHash bit-fold must equal the Catalyst
    reference on every row — integer arithmetic both sides, so exact
    equality, which keeps the DuckDB oracles valid for the fast path."""
    m = docs.select(
        dd.simhash(F.col("text")).alias("a"),
        dd.simhash_ref(F.col("text")).alias("b"),
    ).filter("a != b OR a IS NULL").count()
    assert m == 0


def _lsh_buckets(vec, n_tables, n_planes, dim):
    """Pure-Catalyst reference form of sim.lsh_buckets_fast (what the
    DuckDB oracles mirror): table t's bucket id sums 2^p over its
    planes p whose signed dot <vec, plane_signs(t*n_planes + p)>,
    a left fold in dimension order, is positive."""
    def bit(plane):
        signs = F.array(*[F.lit(s) for s in sim.plane_signs(plane, dim)])
        dot = F.aggregate(F.zip_with(vec, signs, lambda x, s: x * s),
                          F.lit(0.0), lambda acc, v: acc + v)
        return (dot > 0).cast("int")

    def table(first):
        acc = F.lit(0)
        for p in range(n_planes):
            acc = acc + bit(first + p) * F.lit(1 << p)
        return acc

    return F.array(*[table(t * n_planes) for t in range(n_tables)])


def _cosine_topk(corpus, queries, k=5, id_col="vec_id",
                 vec_col="embedding"):
    """Exact top-k neighbors per query vector (excluding self): the
    brute-force reference the ANN recall tests measure against. The
    small query side is broadcast; ties break by neighbor id."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(sim.cosine(F.col("qv"), F.col("cv")), 6).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def test_lsh_buckets_fast_bit_identical(emb):
    """The Arrow-vectorized bucketing must equal the pure-Catalyst
    reference form on EVERY row (same left-fold association) — this is
    what keeps the DuckDB oracles, which mirror the reference form,
    valid for the fast path."""
    mismatches = emb.select(
        sim.lsh_buckets_fast("embedding", 4, 8, 64).alias("fast"),
        _lsh_buckets(F.col("embedding"), 4, 8, 64).alias("ref"),
    ).filter("fast != ref").count()
    assert mismatches == 0


def test_ann_lsh_recall(emb):
    queries = emb.filter(F.col("vec_id") < 20)
    exact = _cosine_topk(emb, queries, k=5).collect()
    approx = sim.ann_lsh_topk(emb, queries, k=5).collect()
    exact_pairs = {(r["query_id"], r["neighbor_id"]) for r in exact}
    approx_pairs = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    # 6 hyperplanes -> 64 buckets over 500 vectors; bucketed search is
    # approximate but must beat random (5/499 ~ 1%) by a wide margin
    assert recall >= 0.2, recall
    # and every approx neighbor must share the query's bucket scoring
    # path, i.e. scores are true cosines: spot-check monotone ranks
    by_q = {}
    for r in approx:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["cos"]))
    for q, rows in by_q.items():
        rows.sort()
        cosines = [c for _, c in rows]
        assert cosines == sorted(cosines, reverse=True), (q, rows)


def test_ivf_topk_recall_and_exhaustive_equality(emb):
    queries = emb.filter(F.col("vec_id") < 20)
    exact = _cosine_topk(emb, queries, k=5).collect()
    exact_pairs = {(r["query_id"], r["neighbor_id"]) for r in exact}
    # probing EVERY list must equal brute force exactly (nprobe covers
    # all 32 centroids -> the whole corpus)
    full = sim.ivf_topk(emb, queries, k=5, n_centroids=32,
                        nprobe=32).collect()
    assert {(r["query_id"], r["neighbor_id"]) for r in full} == exact_pairs
    # partial probing is approximate but must beat random by far
    approx = sim.ivf_topk(emb, queries, k=5, n_centroids=32,
                          nprobe=8).collect()
    approx_pairs = {(r["query_id"], r["neighbor_id"]) for r in approx}
    recall = len(exact_pairs & approx_pairs) / len(exact_pairs)
    assert recall >= 0.3, recall


def test_ivf_lloyd_refinement(emb):
    """k-means refinement invariants: nprobe=all equality with brute
    force holds at ANY centroid quality (every list is probed), ids
    stay stable through the pass, empty clusters keep their previous
    vector (no NaN centroids), and planted-positive recall at the
    default probe count doesn't regress vs the unrefined sample."""
    queries = emb.filter(F.col("vec_id") < 20)
    exact = {(r["query_id"], r["neighbor_id"]) for r in
             _cosine_topk(emb, queries, k=5).collect()}
    refined = sim.ivf_topk(emb, queries, k=5, n_centroids=32, nprobe=32,
                           lloyd_iters=2).collect()
    assert {(r["query_id"], r["neighbor_id"]) for r in refined} == exact

    c = emb.select(F.col("vec_id").alias("cid"),
                   F.col("embedding").alias("cv"))
    ids, mat0 = sim.ivf_centroids(c, 16)
    mat1 = sim.lloyd_pass(c, ids, mat0)
    assert mat1.shape == mat0.shape
    assert np.isfinite(mat1).all()
    # refinement actually moves centroids toward cluster means
    assert not np.allclose(mat0, mat1)

    base = emb.limit(100)
    corpus = sim.perturbed_embeddings(base)
    pq = corpus.filter(F.col("vec_id") >= 1_000_000)
    base_ids = {r["vec_id"] for r in base.select("vec_id").collect()}
    r_plain = _planted_recall(
        sim.ivf_topk(corpus, pq, k=5, n_centroids=14, nprobe=4).collect(),
        base_ids)
    r_lloyd = _planted_recall(
        sim.ivf_topk(corpus, pq, k=5, n_centroids=14, nprobe=4,
                     lloyd_iters=1).collect(), base_ids)
    assert r_lloyd >= max(0.8, r_plain - 0.05), (r_plain, r_lloyd)


def test_ivf_centroid_count_is_corpus_size_independent(emb):
    """The round-2 stride selection collected |corpus|/stride rows on
    the driver — O(corpus). Fixed-n selection must return EXACTLY
    n_centroids rows whatever the corpus size (and min(n, |corpus|)
    when the corpus is smaller)."""
    small = emb.limit(100).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"))
    big = emb.select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"))
    ids_s, mat_s = sim.ivf_centroids(small, 16)
    ids_b, mat_b = sim.ivf_centroids(big, 16)
    assert len(ids_s) == len(ids_b) == 16
    assert mat_s.shape == mat_b.shape == (16, 64)
    # deterministic: same corpus -> same pick
    ids_b2, _ = sim.ivf_centroids(big, 16)
    assert list(ids_b) == list(ids_b2)
    # corpus smaller than n -> every row is a centroid, no crash
    ids_t, _ = sim.ivf_centroids(big.limit(5), 16)
    assert len(ids_t) == 5


def test_ivf_assign_survives_null_and_zero_norm(spark, emb):
    """Dirty rows (null / all-zero embeddings) must get a null cent_id
    and fall out of candidate lists — not crash the Arrow batch
    (np.vstack of None) or produce NaN buckets."""
    dirty = emb.select("vec_id", "embedding").limit(50).unionByName(
        spark.createDataFrame(
            [(900001, None), (900002, [0.0] * 64)],
            "vec_id long, embedding array<double>",
        ))
    queries = emb.filter(F.col("vec_id") < 3)
    out = sim.ivf_topk(dirty, queries, k=5, n_centroids=8, nprobe=8).collect()
    assert len(out) == 15
    assert all(r["neighbor_id"] not in (900001, 900002) for r in out)


def _planted_recall(topk_rows, base_ids):
    """Fraction of perturbed queries whose known nearest neighbor (the
    unperturbed original, cos ~0.9996) appears in the returned top-k."""
    found = {
        r["query_id"] - 1_000_000
        for r in topk_rows
        if r["neighbor_id"] == r["query_id"] - 1_000_000
    }
    return len(found & base_ids) / len(base_ids)


def test_ann_recall_at_documented_settings(emb):
    """The operating-point guarantee (round-2 verdict: 0.2/0.3 floors
    prove 'beats random', not 'usable ANN'): at the DOCUMENTED default
    settings, both ANN paths must recover >= 0.8 of planted
    near-duplicate nearest neighbors. The sweep table these defaults
    came from is in README.md (settings-vs-recall)."""
    base = emb.limit(100)
    corpus = sim.perturbed_embeddings(base)
    queries = corpus.filter(F.col("vec_id") >= 1_000_000)
    base_ids = {r["vec_id"] for r in base.select("vec_id").collect()}

    # LSH at the documented default (n_tables=4, n_planes=5)
    lsh = sim.ann_lsh_topk(corpus, queries, k=5).collect()
    r_lsh = _planted_recall(lsh, base_ids)
    assert r_lsh >= 0.8, r_lsh

    # IVF at the documented default shape (n_centroids ~ sqrt(N)=14,
    # nprobe=4)
    ivf = sim.ivf_topk(corpus, queries, k=5, n_centroids=14,
                       nprobe=4).collect()
    r_ivf = _planted_recall(ivf, base_ids)
    assert r_ivf >= 0.8, r_ivf


def test_cosine_topk_self_excluded_and_ordered(emb):
    out = _cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=3).collect()
    assert len(out) == 3
    assert all(r["neighbor_id"] != 0 for r in out)
    assert [r["rank"] for r in sorted(out, key=lambda r: -r["cos"])] == [1, 2, 3]


def test_text_profile_shapes(docs):
    out = tx.text_profile(docs.limit(20)).collect()
    for r in out:
        assert r["n_tokens"] > 0
        assert 0 <= r["quality"] <= 1.0
        assert len(r["fp"]) == 32


def test_wav_decode_real(spark):
    """REAL PCM WAV path (stdlib wave): a 440 Hz sine decodes to the
    right sample count/rate, RMS ~ A/sqrt(2), and ~2*f*dur zero
    crossings."""
    import numpy as np

    # 433 Hz (prime vs the 16 kHz rate) so no sample lands on an exact
    # PCM zero — the strict sign-product crossing counter skips those
    rate, dur, freq, amp = 16000, 0.5, 433.0, 0.8
    t = np.arange(int(rate * dur)) / rate
    wav_bytes = mm.wav_encode(amp * np.sin(2 * np.pi * freq * t), rate)
    assert wav_bytes[:4] == b"RIFF"
    clips = spark.createDataFrame(
        [("sine", wav_bytes)], "clip_id string, bytes binary"
    )
    r = mm.audio_features(clips).collect()[0]
    assert r["n_samples"] == int(rate * dur)
    assert r["sample_rate"] == rate
    assert abs(r["rms"] - amp / np.sqrt(2)) < 0.01
    assert abs(r["zero_crossings"] - 2 * freq * dur) <= 2


def test_image_near_dups_via_hamming_join(spark):
    """The image-dedup close of the media pipeline: DCT pHashes of
    originals and their real-JPEG recompressions joined by the generic
    banded hamming operator. Equality with brute force proves
    pigeonhole completeness at the radius; the planted recompression
    pairs within the radius must all be found."""
    from spatula_spark.functions.images import synth_pixels, dct_phash
    from spatula_spark.functions.jpeg import jpeg_decode, jpeg_encode

    rows = []
    for i in range(30):
        px = synth_pixels(i, 48, 32)
        rows.append((i, dct_phash(px)))
        rows.append(
            (i + 1000, dct_phash(jpeg_decode(jpeg_encode(px, quality=95))))
        )
    df = spark.createDataFrame(rows, "image_id long, fp long")
    out = dd.hamming_near_dups(
        df, "image_id", "fp", max_hamming=7, n_bands=8
    ).collect()
    got = {(r["image_id_a"], r["image_id_b"]) for r in out}
    # brute force reference (all pairs, 60 rows — fine here)
    a = df.select(F.col("image_id").alias("x"), F.col("fp").alias("fa"))
    b = df.select(F.col("image_id").alias("y"), F.col("fp").alias("fb"))
    brute = {
        (r["x"], r["y"]) for r in a.join(b, F.col("x") < F.col("y"))
        .filter(F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))) <= 7)
        .collect()
    }
    assert got == brute
    planted_found = {(i, i + 1000) for i, _ in enumerate(range(30))} & got
    assert len(planted_found) >= 20  # most recompressions within h<=7


def test_asof_join_semantics(spark):
    """Hand-built edge cases: inclusive boundary (right row AT the left
    ts matches), strictly-later right rows don't, no-match rows keep
    nulls, keys are isolated."""
    from spatula_spark.functions.temporal import asof_join

    left = spark.createDataFrame(
        [(1, 100, "a"), (1, 205, "b"), (2, 50, "c")],
        "user_id long, ts long, tag string",
    )
    right = spark.createDataFrame(
        [(1, 100, 1.0), (1, 200, 2.0), (1, 300, 3.0), (2, 60, 9.0)],
        "user_id long, ts long, value double",
    )
    got = {
        r["tag"]: (r["ts_r"], r["value_r"])
        for r in asof_join(left, right, on="user_id").collect()
    }
    assert got == {
        "a": (100, 1.0),   # inclusive: right at ts==100 matches
        "b": (200, 2.0),   # 300 is later, ignored
        "c": (None, None),  # only right row for user 2 is later
    }


def test_asof_join_carries_latest_rows_null_atomically(spark):
    """ASOF semantics: every carried column comes from the SAME
    (latest) right row. When that row's value is NULL, value_r must be
    NULL — not spliced in from an older right row (the round-2
    per-column last(..., ignorenulls) bug). Multi-column carry must be
    atomic too."""
    from spatula_spark.functions.temporal import asof_join

    left = spark.createDataFrame(
        [(1, 250, "x")], "user_id long, ts long, tag string"
    )
    right = spark.createDataFrame(
        [(1, 100, 1.0, "old"), (1, 200, None, "new")],
        "user_id long, ts long, value double, src string",
    )
    [r] = asof_join(left, right, on="user_id").collect()
    # latest right row at-or-before 250 is ts=200 with a NULL value:
    # (ts_r, value_r, src_r) must all come from that row
    assert (r["ts_r"], r["value_r"], r["src_r"]) == (200, None, "new")


def test_range_join_buckets_boundaries(spark):
    """Bucketized containment join equals the naive BETWEEN join,
    including points exactly on interval and bucket boundaries and
    intervals spanning multiple buckets."""
    from spatula_spark.functions.temporal import range_join_buckets

    pts = spark.createDataFrame(
        [(i, f"2024-01-01 0{h}:{m:02d}:00") for i, (h, m) in enumerate(
            [(0, 59), (1, 0), (1, 30), (2, 0), (2, 1), (5, 0)]
        )],
        "pid long, ts string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    iv = spark.createDataFrame(
        [("2024-01-01 01:00:00", "2024-01-01 02:00:00"),   # 2 buckets
         ("2024-01-01 00:30:00", "2024-01-01 03:30:00")],  # 4 buckets
        "start string, end string",
    ).select(F.col("start").cast("timestamp").alias("start"),
             F.col("end").cast("timestamp").alias("end"))
    got = {(r["pid"], str(r["start"])) for r in
           range_join_buckets(pts, iv, bucket_seconds=3600).collect()}
    naive = {(r["pid"], str(r["start"])) for r in
             pts.crossJoin(iv).filter(
                 F.col("ts").between(F.col("start"), F.col("end"))
             ).collect()}
    assert got == naive and len(got) == 8


def test_stream_sessionize_matches_batch_closed_sessions(spark):
    """The stateful streaming sessionizer (applyInPandasWithState +
    event-time timeout) must emit exactly the batch sessions that are
    provably closed at end-of-stream, with identical ids/counts/starts;
    open sessions must NOT be emitted."""
    import spatula_spark.entry_queries as eq
    from spatula_spark.streaming.sessions import stream_sessionize

    sf = "/root/testdata/sf0.001"
    batch = {
        (r["user_id"], r["session_id"]): (r["n_events"], r["session_start"])
        for r in eq.QUERIES["sessionize"](spark, sf).collect()
    }
    streamed = stream_sessionize(spark, f"{sf}/events.parquet").collect()
    assert streamed  # must actually close sessions
    for r in streamed:
        key = (r["user_id"], r["session_id"])
        assert batch[key] == (r["n_events"], r["session_start"]), key
    # strictly fewer than batch: the per-user final sessions that are
    # still inside the gap+watermark horizon stay open
    assert len(streamed) < len(batch)


def test_audio_video_stub_plumbing(spark, monkeypatch):
    """Bytes that are neither RIFF/WAVE nor decodable by soundfile
    raise, directly and through the audio_features stage, instead of
    becoming a fake waveform whose features are noise."""
    have_soundfile = mm._HAVE_AUDIO
    monkeypatch.setattr(mm, "_HAVE_AUDIO", False)
    with pytest.raises(ValueError, match="not RIFF/WAVE"):
        mm.decode_audio(bytes(range(256)) * 4)
    clips = spark.createDataFrame(
        [("ok", mm.wav_encode(np.zeros(16))), ("bad", b"\x80" * 100)],
        "clip_id string, bytes binary",
    )
    # the Python workers import the module afresh: their probe is real
    with pytest.raises(
        Exception, match=None if have_soundfile else "not RIFF/WAVE"
    ):
        mm.audio_features(clips).collect()


def test_optional_codec_dispatch(monkeypatch):
    """Routing contract for the optional audio codec: when soundfile
    is importable, non-WAV audio goes through it; the stdlib WAV codec
    ALWAYS wins for its magic bytes. Exercised with a fake module so
    the contract is tested where soundfile is not installed."""
    import sys
    import types

    import numpy as np

    fake_sf = types.ModuleType("soundfile")
    fake_sf.read = lambda buf: (np.ones(8), 22050)
    monkeypatch.setitem(sys.modules, "soundfile", fake_sf)
    monkeypatch.setattr(mm, "_HAVE_AUDIO", True)
    wav, rate = mm.decode_audio(b"OggS not-actually-audio")
    assert (rate, len(wav)) == (22050, 8)  # routed to soundfile
    real = mm.wav_encode(np.zeros(16), rate=8000)
    wav2, rate2 = mm.decode_audio(real)
    assert (rate2, len(wav2)) == (8000, 16)  # WAV magic beats soundfile


@pytest.mark.skipif(not mm._HAVE_AUDIO, reason="soundfile not installed")
def test_soundfile_real_roundtrip():  # pragma: no cover - optional dep
    import io

    import numpy as np
    import soundfile as sf

    buf = io.BytesIO()
    sf.write(buf, np.linspace(-0.5, 0.5, 800), 8000, format="FLAC")
    wav, rate = mm.decode_audio(buf.getvalue())
    assert rate == 8000 and len(wav) == 800


def test_image_near_dup_phash_query(spark):
    """Battery entry: planted (i, i+10^6) recompression pairs dominate
    the result and distinct originals are not spuriously merged."""
    from spatula_spark.entry_queries import QUERIES

    out = QUERIES["image_near_dup_phash"](spark, SF).collect()
    got = {(r["image_id_a"], r["image_id_b"]) for r in out}
    assert got, "no near-dup pairs found"
    planted = {p for p in got if p[1] - p[0] == 1_000_000}
    # most q95 recompressions stay within hamming<=7 of their original
    assert len(planted) >= 0.6 * 400
    # cross-pairs exist (smooth-gradient corpus => genuinely similar
    # images) but must not drown the planted ones
    assert len(got - planted) <= len(planted)
    assert all(0 <= r["hamming"] <= 7 for r in out)


def test_mih_hamming_join_complete_and_leaner(spark):
    """Multi-index hamming join (auto for radius 4-11): (a) exactly
    equal to brute force AND to the banded spelling at several radii;
    (b) measured candidate volume on a uniform corpus is several times
    below the 8-bit banded scheme's (the scale reason it exists)."""
    import random

    random.seed(11)
    rows = []
    for i in range(400):
        h = random.getrandbits(64)
        rows.append((i, h - (1 << 63)))
        h2 = h
        for b in random.sample(range(64), random.randint(0, 9)):
            h2 ^= 1 << b
        rows.append((i + 10000, h2 - (1 << 63)))
    df = spark.createDataFrame(rows, "id long, fp long")
    a = df.select(F.col("id").alias("x"), F.col("fp").alias("fa"))
    b = df.select(F.col("id").alias("y"), F.col("fp").alias("fb"))
    for r, nb in ((5, 8), (7, 8), (11, 16)):
        mih = {(q["id_a"], q["id_b"]) for q in
               dd.hamming_near_dups(df, "id", "fp", max_hamming=r).collect()}
        banded = {(q["id_a"], q["id_b"]) for q in
                  dd.hamming_near_dups(df, "id", "fp", max_hamming=r,
                                       n_bands=nb).collect()}
        brute = {(q["x"], q["y"]) for q in
                 a.join(b, F.col("x") < F.col("y"))
                 .filter(F.bit_count(F.col("fa").bitwiseXOR(F.col("fb")))
                         <= r).collect()}
        assert mih == brute == banded, f"radius {r}"

    # candidate-volume comparison at radius 7 on a uniform corpus:
    # banded = 8 bands x 8-bit keys; mih = 4 blocks x 16-bit keys with
    # 17 probe variants. Buckets computed directly from the bit layout.
    u = spark.range(20000).select(
        F.xxhash64(F.col("id")).alias("fp"))
    band8 = u.select(F.explode(F.array(*[
        F.struct(F.lit(bb).alias("b"),
                 F.shiftright("fp", 8 * bb).bitwiseAND(F.lit(255))
                 .alias("k")) for bb in range(8)])).alias("e")
    ).groupBy("e.b", "e.k").count()
    n_banded = band8.select(
        F.sum(F.col("count") * (F.col("count") - 1) / 2)).first()[0]
    blk16 = u.select(F.explode(F.array(*[
        F.struct(F.lit(bb).alias("b"),
                 F.shiftright("fp", 16 * bb).bitwiseAND(F.lit(65535))
                 .alias("k")) for bb in range(4)])).alias("e")
    ).groupBy("e.b", "e.k").count()
    n_mih = blk16.select(
        F.sum(F.col("count") * (F.col("count") - 1) / 2) * 17).first()[0]
    assert n_mih * 5 < n_banded, (n_mih, n_banded)


def test_pq_topk_recall_and_oracle_shape(spark):
    """PQ/ADC: every planted ε-perturbed positive is the top ADC
    neighbor of its query (recall@5 == 1.0 on 20 planted pairs), and
    ADC top-k overlaps heavily with brute-force cosine top-k."""
    from spatula_spark.functions import similarity as sim

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>"))
    pert = sim.perturbed_embeddings(emb)
    qs = pert.filter(F.col("vec_id") < 20)
    pq = sim.pq_topk(pert, qs, k=5)
    hits = pq.filter(
        F.col("neighbor_id") == F.col("query_id") + 1_000_000).count()
    assert hits == 20
    # calibration: ADC distance must correlate with the true squared
    # L2 across the whole corpus. (Top-k OVERLAP is not a meaningful
    # bar on THIS data: uniform random 64-d vectors concentrate all
    # pairwise distances into a narrow band, so any approximation
    # reshuffles the top ranks — real embeddings cluster and compress
    # far better; n_codes / k-means codebooks are the quality dials.)
    import numpy as np

    rows = emb.collect()
    ids = np.array([r["vec_id"] for r in rows])
    X = np.vstack([r["embedding"] for r in rows])
    full = sim.pq_topk(emb, emb.filter(F.col("vec_id") < 1),
                       k=10 ** 9).collect()
    q = X[ids == 0][0]
    true = {int(i): float(((X[j] - q) ** 2).sum())
            for j, i in enumerate(ids) if i != 0}
    a = np.array([(r["adist"], true[r["neighbor_id"]]) for r in full])
    r = np.corrcoef(a[:, 0], a[:, 1])[0, 1]
    assert r > 0.4, r


def test_ivfpq_topk_recall_scan_fraction_and_exactness(spark):
    """IVF-PQ composition invariants: (1) every planted ε-perturbed
    twin is found AND ranks first after the exact re-rank
    (recall@5 = 1.0 on 20 planted pairs), (2) probing every list with
    a corpus-sized shortlist equals brute force exactly, (3) the ADC
    stage scans only the probed fraction of the corpus — the IVF
    pruning bound that makes the composition the 10^9-vector shape."""
    import numpy as np

    from spatula_spark.functions import similarity as sim

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").withColumn(
        "embedding", F.col("embedding").cast("array<double>"))
    pert = sim.perturbed_embeddings(emb)
    qs = pert.filter(F.col("vec_id") < 20)
    out = sim.ivfpq_topk(
        pert, qs, k=5, n_centroids=32, nprobe=4, shortlist=20
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(
            (r["rank"], r["neighbor_id"]))
    assert len(by_q) == 20
    for q, lst in by_q.items():
        assert any(n == q + 1_000_000 for _, n in lst), (q, lst)
        assert sorted(lst)[0][1] == q + 1_000_000, (q, lst)
    # full probe + corpus-wide shortlist == brute force, bit for bit
    full = sorted(
        tuple(r)
        for r in sim.ivfpq_topk(
            pert, qs, k=5, n_centroids=8, nprobe=8, shortlist=10 ** 9
        ).collect()
    )
    bf = sorted(tuple(r) for r in _cosine_topk(pert, qs, k=5).collect())
    assert full == bf
    # scanned fraction: sum of probed list sizes vs nprobe/n_centroids
    c = pert.select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"))
    cent_ids, cmat = sim.ivf_centroids(c, 32)
    assigned = c.withColumn(
        "cent_id", sim._assign_udf(cent_ids, cmat)("cv"))
    sizes = {
        r["cent_id"]: r["n"]
        for r in assigned.groupBy("cent_id").count()
        .withColumnRenamed("count", "n").collect()
    }
    corpus_n = sum(sizes.values())
    qv = {r["vec_id"]: np.asarray(r["embedding"])
          for r in qs.filter(F.col("vec_id") < 20).collect()}
    cn = cmat / np.sqrt((cmat ** 2).sum(axis=1))[:, None]
    fracs = []
    for q, v in qv.items():
        sims = np.round((v / np.linalg.norm(v)) @ cn.T, 6)
        order = sorted(zip(-sims, cent_ids))[:4]
        scanned = sum(sizes.get(int(cid), 0) for _, cid in order)
        fracs.append(scanned / corpus_n)
    mean_frac = sum(fracs) / len(fracs)
    # 4/32 lists probed; allow 2x imbalance headroom
    assert mean_frac <= 0.25, mean_frac


def test_media_phash_near_dups_query(spark):
    """Battery entry: the derived-fingerprint hamming join equals a
    Spark brute-force all-pairs join (the DuckDB oracle is the
    cross-engine twin of this check), and every planted in-group pair
    (same g%97 base, <=6 bits apart) is present."""
    from pyspark.sql import functions as F

    from spatula_spark.entry_queries import QUERIES, _derived_fp

    out = QUERIES["media_phash_near_dups"](spark, SF).collect()
    got = {(r["image_a"], r["image_b"], r["hamming"]) for r in out}
    assert got, "no near-dup pairs found"

    ids = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("doc_id").cast("long").alias("g")
    )
    c = ids.select("g", _derived_fp("g").alias("fp"))
    a, b = c.alias("a"), c.alias("b")
    brute = (
        a.join(b, F.col("a.g") < F.col("b.g"))
        .select(
            F.col("a.g").alias("image_a"),
            F.col("b.g").alias("image_b"),
            F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp")))
            .cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= 7)
        .collect()
    )
    want = {(r["image_a"], r["image_b"], r["hamming"]) for r in brute}
    assert got == want
    # planted structure: every same-group pair is within radius
    groups = {}
    for (g,) in ids.collect():
        groups.setdefault(g % 97, []).append(g)
    planted = {
        (x, y)
        for mem in groups.values()
        for i, x in enumerate(mem)
        for y in mem[i + 1:]
    }
    pair_ids = {(x, y) for x, y, _ in got}
    assert planted <= pair_ids


def test_media_clean_stages(spark):
    """Battery entry: each stage of the image+caption cleaning pipeline
    does real work (filter drops rows, caption dedup drops rows, image
    near-dup drops rows), survivors have unique caption phrases, and no
    two survivors sit within hamming<=7 of each other."""
    from pyspark.sql import functions as F

    from spatula_spark.entry_queries import QUERIES, _derived_fp

    rows = QUERIES["media_clean"](spark, SF).collect()
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert 0 < len(rows) < n_docs

    # metadata filter honored
    for r in rows:
        assert min(r["w"], r["h"]) >= 24
        assert max(r["w"], r["h"]) <= 2 * min(r["w"], r["h"])
        assert r["caption"] == f"image {r['image_id']}: {r['phrase']}"
        assert r["fmt"] == ("png" if r["image_id"] % 2 == 0 else "jpeg")

    # caption dedup: phrases unique among survivors
    phrases = [r["phrase"] for r in rows]
    assert len(phrases) == len(set(phrases))

    # image near-dup: no surviving pair within radius (greedy keep-min
    # semantics allow a pair's DROPPED member to "shield" others, but
    # keep-if-no-smaller-survivor means survivors are pairwise far
    # w.r.t. the kept set ordering)
    surv = spark.createDataFrame(
        [(r["image_id"],) for r in rows], "g long"
    ).select("g", _derived_fp("g").alias("fp"))
    a, b = surv.alias("a"), surv.alias("b")
    close = (
        a.join(b, F.col("a.g") < F.col("b.g"))
        .filter(
            F.bit_count(F.col("a.fp").bitwiseXOR(F.col("b.fp"))) <= 7
        )
        .count()
    )
    assert close == 0


def test_connected_components_adversarial_shapes(spark):
    """Increasing-id chain (the incremental-crawl worst case for plain
    hash-min propagation), clique, star, reversed chain — all resolve
    to the component-min label within the logarithmic round budget."""
    from spatula_spark.functions.dedup import connected_components

    pairs = [(i, i + 1) for i in range(40)]
    pairs += [(100 + i, 100 + j) for i in range(5) for j in range(i + 1, 5)]
    pairs += [(200, 200 + i) for i in range(1, 6)]
    df = spark.createDataFrame(pairs, "a long, b long")
    out = {
        r["node"]: r["component"]
        for r in connected_components(df, "a", "b", max_iter=10).collect()
    }
    assert all(out[i] == 0 for i in range(41))
    assert all(out[100 + i] == 100 for i in range(5))
    assert all(out[200 + i] == 200 for i in range(6))

    rev = spark.createDataFrame(
        [(50 - i, 49 - i) for i in range(40)], "a long, b long"
    )
    labs = {
        r["component"]
        for r in connected_components(rev, "a", "b", max_iter=10).collect()
    }
    assert labs == {10}


def test_media_dedup_cc_matches_union_find(spark):
    """Battery entry: the distributed contraction equals a driver-side
    union-find over the same pair set, and component ids are the
    member minima."""
    from spatula_spark.entry_queries import QUERIES, _derived_fp
    from spatula_spark.functions import dedup as dd
    from pyspark.sql import functions as F

    out = {
        r["image_id"]: r["component"]
        for r in QUERIES["media_dedup_cc"](spark, SF).collect()
    }
    ids = spark.read.parquet(f"{SF}/documents.parquet").select(
        F.col("doc_id").cast("long").alias("g")
    )
    corpus = ids.select(F.col("g").alias("image"), _derived_fp("g").alias("fp"))
    pairs = dd.hamming_near_dups(corpus, "image", "fp", max_hamming=7)

    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs.collect():
        a, b = find(r["image_a"]), find(r["image_b"])
        if a != b:
            parent[max(a, b)] = min(a, b)
    want = {g: find(g) if g in parent else g for (g,) in ids.collect()}
    assert out == want
    assert len(set(out.values())) > 1
    for g, c in out.items():
        assert c <= g


def test_hash_split_deterministic_and_stratified(spark):
    """Split assignment is a pure function of the id (identical under
    any partitioning — the property randomSplit lacks), proportions
    track the weights, and the battery query covers every (lang,
    split) cell consistently."""
    import pytest
    from pyspark.sql import functions as F

    from spatula_spark.entry_queries import QUERIES
    from spatula_spark.functions.sampling import hash_split

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    a = hash_split(docs.repartition(1), "doc_id").select("doc_id", "split")
    b = hash_split(docs.repartition(16), "doc_id").select("doc_id", "split")
    assert {tuple(r) for r in a.collect()} == {tuple(r) for r in b.collect()}

    n = docs.count()
    counts = dict(
        hash_split(docs, "doc_id").groupBy("split").count().collect()
    )
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] / n - 0.90) < 0.05
    assert abs(counts["val"] / n - 0.05) < 0.04
    assert abs(counts["test"] / n - 0.05) < 0.04

    cells = QUERIES["corpus_split"](spark, SF).collect()
    assert sum(r["n_docs"] for r in cells) == n
    assert all(r["total_tokens"] > 0 for r in cells)

    with pytest.raises(ValueError):
        hash_split(docs, "doc_id", weights={"train": 50, "test": 49})


def test_seeded_shuffle_deterministic_order(spark):
    """(shard, sort_key) is a pure function of (seed, id): identical
    under any partitioning, shards in range, a new seed permutes the
    order but never the shard assignment (epochs re-shuffle in place),
    and the ordering differs between seeds."""
    from spatula_spark.functions.sampling import seeded_shuffle

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id")
    a = seeded_shuffle(docs.repartition(1), "doc_id", "epoch0", 16)
    b = seeded_shuffle(docs.repartition(16), "doc_id", "epoch0", 16)
    rows_a = {r["doc_id"]: (r["shard"], r["sort_key"]) for r in a.collect()}
    rows_b = {r["doc_id"]: (r["shard"], r["sort_key"]) for r in b.collect()}
    assert rows_a == rows_b
    assert all(0 <= s < 16 for s, _ in rows_a.values())

    c = seeded_shuffle(docs, "doc_id", "epoch1", 16)
    rows_c = {r["doc_id"]: (r["shard"], r["sort_key"]) for r in c.collect()}
    assert {k: v[0] for k, v in rows_c.items()} == {
        k: v[0] for k, v in rows_a.items()
    }  # shard unchanged across epochs
    order_a = sorted(rows_a, key=lambda k: rows_a[k][1])
    order_c = sorted(rows_c, key=lambda k: rows_c[k][1])
    assert order_a != order_c  # a new seed is a new order


def test_mixture_plan_exact_integer_arithmetic(spark):
    """ppm columns replay the floor-division arithmetic exactly on a
    hand-computed corpus: over-represented sources get sample_rate
    < 1e6, under-represented ones epochs > 1e6, and the capped rate
    never exceeds 1e6."""
    from spatula_spark.functions.sampling import mixture_plan

    rows = [("big", 700), ("big", 700), ("small", 100), ("tiny", 40)]
    df = spark.createDataFrame(rows, "source string, ntok long")
    out = {
        r["source"]: r
        for r in mixture_plan(df, "source", "ntok").collect()
    }
    tot, n = 1540, 3
    per_src_budget = tot // 2 * 1 // n  # 256
    for src, tokens in (("big", 1400), ("small", 100), ("tiny", 40)):
        r = out[src]
        assert r["tokens"] == tokens
        assert r["natural_share_ppm"] == tokens * 1_000_000 // tot
        assert r["target_share_ppm"] == 1_000_000 // n
        want = per_src_budget * 1_000_000 // tokens
        assert r["epochs_ppm"] == want
        assert r["sample_rate_ppm"] == min(1_000_000, want)
    assert out["big"]["sample_rate_ppm"] < 1_000_000   # downsampled
    assert out["tiny"]["epochs_ppm"] > 1_000_000       # must repeat


# ------------------------------------------------- mega-bucket capping
def test_hamming_bucket_cap_star_semantics(spark):
    """max_bucket on the hamming join (both the banded and the
    multi-index scheme): a planted boilerplate clique of 120 identical
    fingerprints emits 119 star edges to the bucket-min hub instead of
    7,140 pairs, connected components are UNCHANGED, pairs outside the
    capped buckets are bit-identical to the uncapped join, and the
    stats telemetry reports the capped buckets."""
    import random

    random.seed(7)
    rows = [(i, 4242424242424242) for i in range(120)]  # the clique
    for i in range(100):  # background near-dup pairs, distinct buckets
        h = random.getrandbits(63)
        rows.append((1000 + 2 * i, h))
        rows.append((1001 + 2 * i, h ^ (1 << random.randrange(63))))
    df = spark.createDataFrame(rows, "id long, fp long")

    for r in (3, 7):  # r=3 -> banded path, r=7 -> multi-index path
        stats: dict = {}
        capped = dd.hamming_near_dups(
            df, "id", "fp", max_hamming=r, max_bucket=16, stats=stats
        )
        full = dd.hamming_near_dups(df, "id", "fp", max_hamming=r)
        cset = {(q["id_a"], q["id_b"]) for q in capped.collect()}
        fset = {(q["id_a"], q["id_b"]) for q in full.collect()}

        cl_c = {p for p in cset if p[1] < 1000}
        cl_f = {p for p in fset if p[1] < 1000}
        assert len(cl_f) == 120 * 119 // 2, f"radius {r}"
        assert cl_c == {(0, i) for i in range(1, 120)}, f"radius {r}"
        # sub-cap buckets: identical pair output
        assert ({p for p in cset if p[0] >= 1000}
                == {p for p in fset if p[0] >= 1000}), f"radius {r}"
        # clustering consumer sees the same components
        cc_c = {tuple(q) for q in dd.connected_components(
            capped, "id_a", "id_b").collect()}
        cc_f = {tuple(q) for q in dd.connected_components(
            full, "id_a", "id_b").collect()}
        assert cc_c == cc_f, f"radius {r}"
        assert stats["capped_buckets"] == 4, f"radius {r}"  # 4 bands/blocks
        assert stats["max_bucket_size"] == 120, f"radius {r}"
        assert stats["starred_pairs"] == 4 * (120 * 119 // 2 - 119)

    # cap above every bucket size == uncapped, bit for bit
    loose = dd.hamming_near_dups(
        df, "id", "fp", max_hamming=7, max_bucket=1000
    )
    full7 = dd.hamming_near_dups(df, "id", "fp", max_hamming=7)
    assert sorted(map(tuple, loose.collect())) == sorted(
        map(tuple, full7.collect())
    )


def test_lsh_bucket_cap_star_semantics(spark, docs):
    """max_bucket on the MinHash-LSH candidate join: 80 identical
    boilerplate texts collapse to one hub star per band; the verify
    stage (jaccard=1.0 for identical texts) keeps every star edge, so
    the dedup pipeline's clusters are unchanged while candidates drop
    from O(m^2) to O(m)."""
    boiler = spark.range(80).select(
        F.col("id").alias("doc_id"),
        F.lit("same boilerplate navigation text repeated on every page "
              "of this site footer copyright terms privacy").alias("text"),
    )
    normal = docs.limit(50).select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text"
    )
    corpus = boiler.unionByName(normal)

    stats: dict = {}
    cands = dd.lsh_candidate_pairs(corpus, max_bucket=10, stats=stats)
    cset = {(q["doc_a"], q["doc_b"]) for q in cands.collect()}
    assert {p for p in cset if p[1] < 80} == {(0, i) for i in range(1, 80)}
    assert stats["capped_buckets"] == 4 and stats["max_bucket_size"] == 80

    # end-to-end: star edges verify at jaccard 1.0; components match
    capped = dd.minhash_dedup_pairs(corpus, max_bucket=10)
    full = dd.minhash_dedup_pairs(corpus)
    cc_c = {tuple(q) for q in dd.connected_components(
        capped, "doc_a", "doc_b").collect()}
    cc_f = {tuple(q) for q in dd.connected_components(
        full, "doc_a", "doc_b").collect()}
    assert cc_c == cc_f
    assert {p for p in cc_c if p[0] < 80} == {(i, 0) for i in range(80)}


@pytest.mark.parametrize("band_rows", [3, 0, 16])
def test_lsh_band_rows_must_divide_num_perms(docs, band_rows):
    """band_rows that do not divide num_perms would hash permutations
    no band uses (8 // 3 = 2 bands of 3 leave two unused): refused, not
    silently dropped."""
    with pytest.raises(ValueError, match="positive divisor"):
        dd.lsh_candidate_pairs(docs.limit(5), num_perms=8,
                               band_rows=band_rows)


def test_simhash_bucket_cap(spark):
    """max_bucket threads through simhash_near_dups (which shares the
    banded hamming join): identical texts -> identical simhash ->
    capped star edges at hamming 0, same components."""
    corpus = spark.range(64).select(
        F.col("id").alias("doc_id"),
        F.lit("identical page chrome text for the cap test").alias("text"),
    )
    stats: dict = {}
    capped = dd.simhash_near_dups(corpus, max_bucket=8, stats=stats)
    rows = capped.collect()
    assert {(q["doc_a"], q["doc_b"]) for q in rows} == {
        (0, i) for i in range(1, 64)
    }
    assert all(q["hamming"] == 0 for q in rows)
    assert stats["capped_buckets"] == 4


def _winnow_fingerprints(text, k=3, w=4):
    """Pure-Catalyst reference form of tx.winnow_fingerprints_fast (the
    arithmetic the DuckDB oracle replays): portable_hash64 of every
    k-word gram of the normalized text, each w-hash window's minimum,
    distinct and sorted. Short docs (< k words) hash the whole text;
    <= w grams yield one global minimum."""
    from spatula_spark.urls import portable_hash64

    ws = F.split(F.lower(F.regexp_replace(F.trim(text), "\\s+", " ")), " ")
    n = F.size(ws)
    gm = n - (k - 1)
    gacc = F.slice(ws, 1, gm)
    for j in range(1, k):
        gacc = F.zip_with(gacc, F.slice(ws, j + 1, gm),
                          lambda a, b: F.concat_ws(" ", a, b))
    grams = F.when(n >= k, gacc).otherwise(F.array(F.array_join(ws, " ")))
    hs = F.transform(grams, lambda g: portable_hash64(g))
    m = F.size(hs)
    sm = m - (w - 1)
    sacc = F.slice(hs, 1, sm)
    for j in range(1, w):
        sacc = F.zip_with(sacc, F.slice(hs, j + 1, sm),
                          lambda a, b: F.least(a, b))
    sel = F.when(m > w, sacc).otherwise(F.array(F.array_min(hs)))
    return F.array_sort(F.array_distinct(sel))


def test_winnow_fingerprints_guarantee(spark):
    """Winnowing invariants (Schleimer et al.): (a) selected
    fingerprints are a subset of the doc's gram hashes at roughly
    2/(w+1) density; (b) two docs sharing a >= w+k-1 = 6-word run
    share at least one fingerprint; (c) short docs yield exactly one;
    (d) disjoint-vocabulary docs share none."""
    from spatula_spark.urls import portable_hash64

    run = "alpha beta gamma delta epsilon zeta"  # the shared 6-word run
    rows = [
        (1, "one two three " + run + " four five six seven eight nine"),
        (2, run + " ten eleven twelve thirteen fourteen fifteen sixteen"),
        (3, "totally different words everywhere here now again more"),
        (4, "tiny doc"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {
        r["doc_id"]: set(r["fps"])
        for r in df.select(
            "doc_id", _winnow_fingerprints(F.col("text")).alias("fps")
        ).collect()
    }
    assert out[1] & out[2], "shared 6-word run must share a fingerprint"
    assert not (out[1] & out[3]) and not (out[2] & out[3])
    assert len(out[4]) == 1

    # subset-of-gram-hashes + density on a longer doc
    words = " ".join(f"w{(i * 7) % 101}" for i in range(200))
    long_doc = spark.createDataFrame([(9, words)], "doc_id int, text string")
    grams = long_doc.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.lit(198)),
                lambda i: portable_hash64(
                    F.concat_ws(
                        " ",
                        *[
                            F.element_at(
                                F.split(F.col("text"), " "), i + j
                            )
                            for j in range(3)
                        ],
                    )
                ),
            )
        ).alias("h")
    )
    all_hashes = {r["h"] for r in grams.collect()}
    fps = set(
        long_doc.select(
            F.explode(_winnow_fingerprints(F.col("text"))).alias("f")
        ).toPandas()["f"]
    )
    assert fps <= all_hashes
    # expected density 2/(w+1) = 0.4; allow a wide band
    assert 0.15 <= len(fps) / 198 <= 0.6


def test_winnow_fast_path_bit_identical(spark, docs):
    """The Arrow winnowing fast path must equal the pure-Catalyst
    reference form on the real corpus plus whitespace/short/null
    edges (the form the DuckDB oracle mirrors)."""
    edge = spark.createDataFrame(
        [(9001, "  one\ttwo\nthree  four one two three "),
         (9002, "short doc"), (9003, ""), (9004, None)],
        "doc_id long, text string",
    )
    corpus = docs.limit(120).select("doc_id", "text").unionByName(edge)
    fast = corpus.select(
        "doc_id", tx.winnow_fingerprints_fast(F.col("text")).alias("f")
    )
    ref = corpus.select(
        "doc_id", _winnow_fingerprints(F.col("text")).alias("f")
    )
    got = {r["doc_id"]: r["f"] for r in fast.collect()}
    want = {r["doc_id"]: r["f"] for r in ref.collect()}
    assert got == want
    assert got[9004] == [None]


def test_containment_pairs_python_twin(spark):
    """dd.containment_pairs vs an independent pure-Python twin of the
    full semantics (shingle -> df-cap prune -> asymmetric ratio),
    including: a planted prefix fragment (containment 1.0 toward its
    source at low Jaccard), boilerplate grams pruned by the df cap,
    and a pure-boilerplate doc dropping out entirely."""
    from collections import Counter

    boiler = "legal notice all rights reserved"
    body_a = " ".join(f"alpha{i}" for i in range(40))
    body_b = " ".join(f"beta{i}" for i in range(40))
    body_c = " ".join(f"gamma{i}" for i in range(40))
    texts = {
        1: body_a + " " + boiler,
        2: body_b + " " + boiler,
        3: body_c + " " + boiler,
        4: " ".join(body_a.split()[:10]),  # prefix fragment of 1
        5: boiler,                          # pure boilerplate
    }
    max_df, thr = 2, 0.3

    sh = {d: dd._shingle_set(t, 3) for d, t in texts.items()}
    dfc = Counter(g for s in sh.values() for g in s)
    pruned = {d: {g for g in s if dfc[g] <= max_df} for d, s in sh.items()}
    expected = {}
    for a in pruned:
        if not pruned[a]:
            continue
        for b in pruned:
            if a == b:
                continue
            c = len(pruned[a] & pruned[b]) / len(pruned[a])
            if c >= thr:
                expected[(a, b)] = round(c, 6)

    df = spark.createDataFrame(
        [(d, t) for d, t in texts.items()], "doc_id long, text string"
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in dd.containment_pairs(
            df, max_df=max_df, threshold=thr
        ).collect()
    }
    assert got == expected
    # the planted fragment is fully contained in its source...
    assert got[(4, 1)] == 1.0
    # ...while the reverse direction and the Jaccard view are small
    assert got.get((1, 4), 0.0) < 0.3
    # the pure-boilerplate doc (all grams hot) appears in no pair
    assert not any(5 in pair for pair in got)


def test_duplicate_spans_python_twin(spark):
    """dd.duplicate_spans + dd.duplicate_token_ratio vs a pure-Python
    twin of the full semantics (positioned grams -> corpus-wide
    occurrence count -> island merge -> distinct coverage), plus
    hand-checkable plants: an exact shared sentence between two docs,
    a WITHIN-doc repeat (occurrence count, not distinct docs), and a
    min_len filter dropping a single-position span."""
    shared = "the quick brown fox jumps over the lazy dog tonight"
    texts = {
        1: "intro words here " + shared + " unique tail one",
        2: shared + " completely different ending stanza two",
        # within-doc repetition: 'ha ha ha ha ha' repeats gram 'ha ha ha'
        3: "solo body text with ha ha ha ha ha inside it",
        4: "no overlap at all in this document body",
    }
    n, min_count = 3, 2

    def words(t):
        return t.lower().split()

    grams = {
        d: [
            " ".join(ws[p : p + n])
            for p in range(len(ws) - n + 1)
        ]
        for d, t in texts.items()
        if len(ws := words(t)) >= n
    }
    from collections import Counter

    cnt = Counter(g for gs in grams.values() for g in gs)
    dup = {
        d: sorted(p for p, g in enumerate(gs) if cnt[g] >= min_count)
        for d, gs in grams.items()
    }
    spans = set()
    for d, ps in dup.items():
        run = []
        for p in ps + [None]:
            if run and (p is None or p != run[-1] + 1):
                spans.add((d, run[0], run[-1] - run[0] + n))
                run = []
            if p is not None:
                run.append(p)
    ratios = {}
    for d, ps in dup.items():
        cov = {t for p in ps for t in range(p, p + n)}
        if cov:
            ratios[d] = (
                len(words(texts[d])),
                len(cov),
                round(len(cov) / len(words(texts[d])), 6),
            )

    df = spark.createDataFrame(
        [(d, t) for d, t in texts.items()], "doc_id long, text string"
    )
    got_spans = {
        (r["doc_id"], r["span_start"], r["span_len"])
        for r in dd.duplicate_spans(df, min_count=min_count).collect()
    }
    assert got_spans == spans
    # the shared sentence is one maximal span in each doc: 10 words
    assert (1, 3, 10) in got_spans and (2, 0, 10) in got_spans
    # the within-doc 'ha ha ha ha ha' repeat spans all 5 ha's
    assert (3, 4, 5) in got_spans
    # doc 4 shares nothing
    assert not any(s[0] == 4 for s in got_spans)

    got_ratios = {
        r["doc_id"]: (r["n_tokens"], r["dup_tokens"], r["dup_ratio"])
        for r in dd.duplicate_token_ratio(df, min_count=min_count).collect()
    }
    assert got_ratios == ratios

    # min_len filter: the 5-word within-doc span survives min_len=6
    # in neither doc 3 nor anywhere shorter than the shared sentence
    long_only = {
        (r["doc_id"], r["span_start"], r["span_len"])
        for r in dd.duplicate_spans(
            df, min_count=min_count, min_len=6
        ).collect()
    }
    assert long_only == {s for s in spans if s[2] >= 6}
    assert not any(s[0] == 3 for s in long_only)


def test_boilerplate_clean_planted(spark):
    from spatula_spark.functions import text as tx

    # 12 pages share a nav + footer; each body line is unique per page
    rows = [
        (i, "NAV  Home | About\n" + f"body line {i} alpha\n"
            f"body line {i} beta\n" + "(c) 2026 Example Corp")
        for i in range(12)
    ]
    # one page with NO boilerplate at all
    rows.append((99, "solitary content line\nsecond unique line"))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in
           tx.boilerplate_clean(df, min_df=10).collect()}
    for i in range(12):
        r = got[i]
        assert (r["n_lines"], r["n_kept"]) == (4, 2)
        assert r["content"] == f"body line {i} alpha\nbody line {i} beta"
        assert abs(r["boiler_ratio"] - 0.5) < 1e-9
    r99 = got[99]
    assert (r99["n_lines"], r99["n_kept"]) == (2, 2)
    assert r99["boiler_ratio"] == 0.0

    # whitespace-normalized matching: "NAV   Home |   About" (different
    # spacing) still counts toward the same boilerplate line
    df2 = spark.createDataFrame(
        [(i, "NAV    Home |  About\nunique %d" % i) for i in range(10)],
        ["doc_id", "text"],
    )
    got2 = tx.boilerplate_clean(df2, min_df=10).collect()
    assert all(r["n_kept"] == 1 and r["content"].startswith("unique")
               for r in got2)

    # all-boilerplate page -> empty content, ratio 1.0 (left-join path)
    df3 = spark.createDataFrame(
        [(i, "same line") for i in range(10)], ["doc_id", "text"]
    )
    got3 = tx.boilerplate_clean(df3, min_df=10).collect()
    assert all(r["content"] == "" and r["boiler_ratio"] == 1.0
               for r in got3)


def test_logfreq_score_planted(spark):
    from spatula_spark.functions import text as tx

    lm = spark.createDataFrame(
        [(i, "the cat sat on the mat") for i in range(8)],
        ["doc_id", "text"],
    )
    # 'the' count = 16 -> ilog2 4; others count 8 -> ilog2 3
    cands = spark.createDataFrame(
        [
            (0, "the cat sat on the mat"),   # (4+3+3+3+4+3)/6 = 10/3
            (1, "zzq qqz xylo"),             # all unseen -> 0
            (2, "the the the the"),          # 4.0 exactly
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in
           tx.logfreq_score(cands, lm_docs=lm, keep_min=4).collect()}
    assert got[0]["sum_ilog2"] == 20 and got[0]["n_tokens"] == 6
    assert got[0]["mean_ilog2"] == round(20 / 6, 6) and not got[0]["kept"]
    assert got[1]["sum_ilog2"] == 0 and not got[1]["kept"]
    assert got[2]["mean_ilog2"] == 4.0 and got[2]["kept"]


def test_semdedup_planted_twins(spark):
    import math

    from spatula_spark.functions import similarity as sim

    # 3 orthogonal direction groups x 20 vectors each; group members
    # are COLINEAR (magnitude-only spread), so cosine — and therefore
    # centroid assignment — is identical across a group no matter
    # which rows the hash sample picks as centroids: each group lands
    # whole in one cluster, and SemDeDup must keep exactly one member.
    # (A direction-epsilon spread can legitimately split a group
    # across two sampled centroids — real SemDeDup behavior, but not
    # a deterministic test.)
    rows = []
    for g in range(3):
        for j in range(20):
            v = [0.0] * 64
            v[g * 20] = 1.0 + 0.01 * j
            rows.append((g * 100 + j, v))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    dropped = sim.semdedup(df, n_centroids=8, eps=0.999).collect()
    dropped_ids = {r["vec_id"] for r in dropped}
    # every group's minimum id survives; the other 19 drop against it
    assert len(dropped) == 57 and all(
        r["dup_of"] == (r["vec_id"] // 100) * 100 for r in dropped
    )
    assert dropped_ids == {g * 100 + j for g in range(3) for j in range(1, 20)}
    # colinear pairs read cos exactly 1.0
    assert all(math.isclose(r["cos"], 1.0, abs_tol=1e-9) for r in dropped)
    # orthogonal groups never cross-match
    assert not any(r["dup_of"] // 100 != r["vec_id"] // 100 for r in dropped)


def test_image_stats_filter_verdicts(spark):
    from spatula_spark.entry_queries import QUERIES

    rows = QUERIES["image_stats_filter"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    by_id = {r["image_id"]: r for r in rows}
    assert len(rows) == 350
    for i in range(50):
        assert by_id[i + 2_000_000]["verdict"] == "dark"
        assert by_id[i + 3_000_000]["verdict"] == "flat"
        assert by_id[i + 4_000_000]["verdict"] == "blown"
        assert by_id[i]["verdict"] == "ok"
        # exact-integer invariants: flat variant is constant 128
        flat = by_id[i + 3_000_000]
        assert flat["min_y"] == flat["max_y"] == 128
        assert flat["ivar"] == 0 and flat["sum_y"] == 128 * flat["n_px"]
        # dark/blown bracket the planted transforms
        assert by_id[i + 2_000_000]["max_y"] <= 31
        assert by_id[i + 4_000_000]["min_y"] >= 224
    # stats are exact: n*var identity holds (recompute from sums)
    r0 = by_id[0]
    assert r0["ivar"] == r0["n_px"] * r0["sum_y2"] - r0["sum_y"] ** 2


def test_semdedup_cluster_cap(spark):
    from spatula_spark.functions import similarity as sim

    # one colinear mega-group (100 members -> one cluster, a clique
    # the cap must linearize) + one small group (full pairs path)
    rows = []
    for j in range(100):
        v = [0.0] * 64
        v[0] = 1.0 + 0.001 * j
        rows.append((j, v))
    for j in range(5):
        v = [0.0] * 64
        v[32] = 1.0 + 0.001 * j
        rows.append((500 + j, v))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    # n_centroids >= corpus: every point is a centroid, so each group
    # deterministically collapses onto its min-id member (cos ties ->
    # smallest cent_id) — two clean clusters regardless of hash order.
    # (With a small sample all centroids can land in the mega group,
    # merging both groups into one cluster — the documented cap caveat
    # then hides cross-ball pairs; that's behavior, not a test.)
    capped = sim.semdedup(df, n_centroids=105, eps=0.999, max_cluster=16)
    full = sim.semdedup(df, n_centroids=105, eps=0.999)
    got_c = {r["vec_id"]: r for r in capped.collect()}
    got_f = {r["vec_id"]: r for r in full.collect()}
    # uncapped: every cluster is under the default cap of 4096, so the
    # default is inert and lifting it changes no row
    uncapped = sim.semdedup(df, n_centroids=105, eps=0.999, max_cluster=None)
    assert sorted(map(tuple, uncapped.collect())) == sorted(
        map(tuple, got_f.values())
    )
    # colinear balls: hub-star finds the identical dropped set with the
    # identical dup_of (hub == group min == full path's min anchor)
    assert set(got_c) == set(got_f)
    assert all(
        got_c[k]["dup_of"] == got_f[k]["dup_of"]
        and got_c[k]["cent_id"] == got_f[k]["cent_id"]
        for k in got_c
    )
    assert {k for k in got_c if k < 500} == set(range(1, 100))
    assert all(got_c[k]["dup_of"] == 0 for k in got_c if k < 500)
    assert {k for k in got_c if k >= 500} == {501, 502, 503, 504}


def test_box_downsample_exact():
    import numpy as np
    import pytest

    from spatula_spark.functions.images import box_downsample, synth_pixels

    px = synth_pixels(13, 48, 32)
    th = box_downsample(px, 8)
    assert th.shape == (4, 6, 3)
    for by in range(4):
        for bx in range(6):
            for c in range(3):
                blk = px[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8, c]
                assert th[by, bx, c] == int(blk.astype(np.int64).sum()) // 64
    # factor 1 is the identity; non-divisible dims refuse loudly
    assert (box_downsample(px, 1) == px).all()
    with pytest.raises(ValueError):
        box_downsample(px, 5)


def test_bpe_pair_counts_golden(spark):
    from spatula_spark.functions import text as tx

    # corpus: 'ab ab cd a' -> freq {ab:2, cd:1, a:1}
    # pairs: ab -> {'ab':2, 'b</w>':2}; cd -> {'cd':1, 'd</w>':1};
    #        a -> {'a</w>':1}
    df = spark.createDataFrame([(0, "ab ab cd"), (1, "a")],
                               ["doc_id", "text"])
    got = {r["pair"]: (r["n"], r["rank"])
           for r in tx.bpe_pair_counts(df, k=10).collect()}
    assert got == {
        "ab": (2, 1), "b</w>": (2, 2),
        "a</w>": (1, 3), "cd": (1, 4), "d</w>": (1, 5),
    }


def _spans_python_twin(texts, n, min_count, min_len):
    """Independent positioned-gram span finder (dict counters + linear
    scan) — the n=50 production-shape twin for dd.duplicate_spans."""
    import re as _re
    from collections import Counter

    words = {}
    for doc_id, t in texts:
        norm = _re.sub(r"\s+", " ", t.strip()).lower()
        words[doc_id] = norm.split(" ")
    grams = Counter()
    pos_grams = {}
    for doc_id, ws in words.items():
        pg = [
            " ".join(ws[p:p + n]) for p in range(len(ws) - n + 1)
        ] if len(ws) >= n else []
        pos_grams[doc_id] = pg
        grams.update(pg)
    out = []
    for doc_id, pg in pos_grams.items():
        dup = [p for p, g in enumerate(pg) if grams[g] >= min_count]
        runs = []
        for p in dup:
            if runs and p == runs[-1][1] + 1:
                runs[-1][1] = p
            else:
                runs.append([p, p])
        for s, e in runs:
            ln = e - s + n
            if ln >= min_len:
                out.append((doc_id, s, ln))
    return sorted(out)


def test_duplicate_spans_n50_hashed_matches_twin(spark):
    """The Lee et al. 2022 production shape: 50-word spans over
    xxhash64'd gram keys. Corpus plants an 80-word run shared by two
    docs, a 60-word run repeated inside one doc, and unique filler —
    the hashed path must find exactly the twin's spans."""
    import random

    from spatula_spark.functions.dedup import duplicate_spans

    rng = random.Random(7)

    def soup(k):
        return [f"w{rng.randrange(100000)}" for _ in range(k)]

    shared = [f"s{i}" for i in range(80)]
    rep = [f"r{i}" for i in range(60)]
    texts = [
        (0, " ".join(soup(30) + shared + soup(40))),
        (1, " ".join(soup(25) + shared + soup(35))),
        (2, " ".join(soup(10) + rep + soup(15) + rep + soup(5))),
        (3, " ".join(soup(200))),
        (4, " ".join(soup(20))),  # shorter than n: no grams
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = sorted(
        tuple(r)
        for r in duplicate_spans(
            df, n=50, min_count=2, min_len=50, hash_grams=True
        ).collect()
    )
    want = _spans_python_twin(texts, n=50, min_count=2, min_len=50)
    assert got == want
    assert {d for d, *_ in got} == {0, 1, 2}
    # string-key path agrees with the hashed path on the same corpus
    got_str = sorted(
        tuple(r)
        for r in duplicate_spans(
            df, n=50, min_count=2, min_len=50, hash_grams=False
        ).collect()
    )
    assert got_str == got


def _spy_ranked_pairs(monkeypatch):
    """Record each ranked-pair round of the Spark merge loop."""
    from spatula_spark.functions import text as tx

    rounds = []
    real = tx._bpe_ranked_pairs

    def spy(state, k):
        rounds.append(k)
        return real(state, k)

    monkeypatch.setattr(tx, "_bpe_ranked_pairs", spy)
    return rounds


def test_bpe_encode_counts_matches_python_twin(spark, monkeypatch):
    """Train-then-tokenize agrees with the independent scan-replay
    twin per document on both training routes (the Spark loop at
    vocabulary cap 0), and merged symbols actually compress: a word
    made of trained merges costs fewer tokens than chars+1."""
    from spatula_spark.functions import text as tx

    texts = [
        (0, "the cat sat on the mat"),
        (1, "the cats eat the rats"),
        (2, "aaaa aaaa aa a"),
        (3, "mixed.punct and $dollar\\back"),
        (4, ""),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    twin = tx.bpe_encode_python_twin(texts, 12)
    rounds = _spy_ranked_pairs(monkeypatch)
    for route in ("driver", "spark"):
        if route == "spark":
            monkeypatch.setattr(
                tx, "_bpe_driver_vocab_max", lambda spark: 0
            )
        got = {
            r["doc_id"]: (r["n_words"], r["n_tokens"])
            for r in tx.bpe_encode_counts(df, n_merges=12).collect()
        }
        assert bool(rounds) == (route == "spark")
        assert got == twin["per_doc"], route
    assert 4 not in got  # empty doc omitted on both sides
    for doc, (nw, nt) in got.items():
        assert nt >= nw  # at least one token per word
    # 'the' appears 4x -> its chars+</w> merge; token count must be
    # below the unmerged chars+1 ceiling for doc 0
    n_chars0 = sum(len(w) for w in texts[0][1].split())
    assert got[0][1] < n_chars0 + got[0][0]


# step 5 merges ('<', '/w>') into the end marker '</w>', which raises
# the count of ('<', '</w>') from 3 to 4 within the same round
BPE_END_MARKER_CORPUS = [
    "w/>>// <w/ < w/>",
    ">a a><a>/ w< waa/aa >/>>wa<",
    "a</w>b </w> <</w>>",
]
# ('a', 'a') ranks first and ('x', 'y') second with nothing overlapping
# it, yet ('aa', 'a'), created by the self-pair, beats ('x', 'y')
BPE_SELF_PAIR_CORPUS = ["aaab aaac aaad xyq xyr"]


BPE_TWIN_CASES = {
    "adversarial": (
        [
            "the cat sat on the mat",
            "the cats eat the rats",
            "low lower lowest newer newest",
            "  Mixed   CASE   text  with.punct, and $dollar\\back ",
            "aaaa aaaa aa a",
            "x.y x.y (par) (par) [br] c++ c++",
            "",
        ],
        15,
    ),
    "end_marker": (BPE_END_MARKER_CORPUS, 15),
    "self_pair": (BPE_SELF_PAIR_CORPUS, 5),
}


# the driver route keeps the bare case ids; "-spark" forces the loop
@pytest.mark.parametrize(
    "case, route",
    [(c, "driver") for c in BPE_TWIN_CASES]
    + [(c, "spark") for c in BPE_TWIN_CASES],
    ids=list(BPE_TWIN_CASES) + [f"{c}-spark" for c in BPE_TWIN_CASES],
)
def test_bpe_train_merges_matches_python_twin(
    spark, monkeypatch, case, route
):
    """Both training routes replay the independent dict-based trainer
    bit-for-bit: the driver trainer at the default vocabulary cap and
    the distributed merge loop at cap 0. The corpora hold regex
    metachars and Java-replacement specials ($, backslash) inside
    symbols, overlapping merge runs (aaaa -> aa aa, not aa a a), count
    ties broken (left ASC, right ASC), an empty document, a merge
    re-creating the live end marker, and a self-pair whose merge
    creates a pair that outranks the next disjoint one."""
    from spatula_spark.functions import text as tx

    texts, n_merges = BPE_TWIN_CASES[case]
    rounds = _spy_ranked_pairs(monkeypatch)
    if route == "spark":
        monkeypatch.setattr(tx, "_bpe_driver_vocab_max", lambda spark: 0)
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = [
        tuple(r)
        for r in tx.bpe_train_merges(df, n_merges=n_merges).collect()
    ]
    want = tx.bpe_python_twin(texts, n_merges)
    # the route under test is the one that ran
    assert bool(rounds) == (route == "spark")
    assert len(got) == n_merges
    assert got == want
    # training order: steps sequential; a count rises only right after
    # a merge that re-creates a live symbol (here the end marker)
    assert [s for s, *_ in got] == list(range(1, n_merges + 1))
    assert all(
        a[4] >= b[4] or a[3] == "</w>" for a, b in zip(got, got[1:])
    )


def _merge_scan(syms, left, right):
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and (syms[i], syms[i + 1]) == (left, right):
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def _word_freq(texts):
    """Word -> count of whitespace-normalized, lower-cased ``texts``."""
    import re
    from collections import Counter

    return Counter(
        w
        for t in texts
        for w in re.sub(r"\s+", " ", t.strip()).lower().split(" ")
        if w
    )


def _batched_bpe(texts, n_merges, rule):
    """Plain-Python BPE trainer that accepts each round's merges through
    ``rule`` (the batch rule's signature): returns (merges, rounds)."""
    from collections import Counter

    wf = _word_freq(texts)
    segs = {w: list(w) + ["</w>"] for w in wf}
    made, merges, rounds = set(), [], 0
    while len(merges) < n_merges:
        room = n_merges - len(merges)
        pc = Counter()
        for w, syms in segs.items():
            for pair in zip(syms, syms[1:]):
                pc[pair] += wf[w]
        ranked = sorted(
            ((left, right, n) for (left, right), n in pc.items()),
            key=lambda t: (-t[2], t[0], t[1]),
        )[: room + 1]
        batch = rule(ranked, made, room)
        if not batch:
            break
        rounds += 1
        for left, right, n in batch:
            merges.append((len(merges) + 1, left, right, left + right, n))
            made.add(left + right)
            segs = {w: _merge_scan(s, left, right) for w, s in segs.items()}
    return merges, rounds


def _candidate_only_rule(ranked, made, room):
    """A wrong batch rule: it tests each CANDIDATE's merged string
    against the live set instead of the earlier members' strings."""
    batch = []
    for left, right, n in ranked[:room]:
        if batch and (
            batch[-1][0] == batch[-1][1]
            or left in {r for _, r, _ in batch}
            or right in {lt for lt, _, _ in batch}
            or left + right in made | {"</w>"}
            or left + right in {lt + r for lt, r, _ in batch}
        ):
            break
        batch.append((left, right, n))
    while (
        len(batch) > 1
        and len(ranked) > len(batch)
        and ranked[len(batch)][2] == batch[-1][2]
    ):
        batch.pop()
    return batch


def test_bpe_merge_batch_replays_sequential_twin():
    """The batch rule, driven by a plain pair counter, and the driver
    trainer, fed the word counts in a shuffled order, each reproduce
    the one-merge-per-round twin's merge list exactly on seeded random
    corpora over alphabets holding the end-marker characters and the
    regex/replacement specials, plus the two pinned corpora."""
    import random

    from spatula_spark.functions.text import (
        _bpe_merge_batch,
        _bpe_train_local,
        bpe_python_twin,
    )

    rng = random.Random(20160)
    alphabets = ["ab", "abc", "aw/<>", "</w>$\\.", "a<w/>$\\.", "abcdefg"]
    cases = [(BPE_END_MARKER_CORPUS, 15), (BPE_SELF_PAIR_CORPUS, 5)]
    for _ in range(3000):
        chars = rng.choice(alphabets) + "  "
        texts = [
            "".join(rng.choice(chars) for _ in range(rng.randint(0, 30)))
            for _ in range(rng.randint(1, 4))
        ]
        cases.append((texts, rng.randint(1, 30)))
    for texts, n_merges in cases:
        want = bpe_python_twin(texts, n_merges)
        got, _ = _batched_bpe(texts, n_merges, _bpe_merge_batch)
        assert got == want, (texts, n_merges)
        vocab = list(_word_freq(texts).items())
        rng.shuffle(vocab)
        local = [
            (step, left, right, left + right, n)
            for step, (left, right, n) in enumerate(
                _bpe_train_local(vocab, n_merges), 1
            )
        ]
        assert local == want, (texts, n_merges)


def test_bpe_end_marker_corpus_rejects_candidate_only_rule():
    """The pinned end-marker corpus tells the rule apart from one that
    checks only the candidate's merged string: that rule batches
    ('<', '</w>') behind ('<', '/w>') and records its stale count."""
    from spatula_spark.functions.text import _bpe_merge_batch, bpe_python_twin

    want = bpe_python_twin(BPE_END_MARKER_CORPUS, 15)
    got, _ = _batched_bpe(BPE_END_MARKER_CORPUS, 15, _bpe_merge_batch)
    wrong, _ = _batched_bpe(BPE_END_MARKER_CORPUS, 15, _candidate_only_rule)
    assert got == want
    assert wrong != want


def _bench_shaped_texts():
    """60 documents of 8-90 words drawn from a 31-word vocabulary, the
    shape of the benchmark's ``documents`` table."""
    import random

    rng = random.Random(3)
    vocab = (
        "join hash row batch scan customer column filter small slow merge "
        "order vector line data table agg value key stream window spark a "
        "group part big sort query fast the"
    ).split()
    return [
        " ".join(rng.choice(vocab) for _ in range(rng.randint(8, 90)))
        for _ in range(60)
    ]


def test_bpe_train_merges_collects_once_per_batched_round(
    spark, monkeypatch
):
    """Forced onto the Spark merge loop (vocabulary cap 0), training on
    a corpus shaped like the benchmark's documents collects its ranked
    pairs once per round the batch rule needs — fewer rounds than
    merges — and still matches the twin."""
    from spatula_spark.functions import text as tx

    texts = _bench_shaped_texts()
    want, rounds = _batched_bpe(texts, 10, tx._bpe_merge_batch)
    assert want == tx.bpe_python_twin(texts, 10)
    assert 0 < rounds < 10
    monkeypatch.setattr(tx, "_bpe_driver_vocab_max", lambda spark: 0)
    ranked = _spy_ranked_pairs(monkeypatch)
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    calls = []
    real_collect = type(df).collect

    def spy(self):
        calls.append(1)
        return real_collect(self)

    monkeypatch.setattr(type(df), "collect", spy)
    out = tx.bpe_train_merges(df, n_merges=10)
    assert len(ranked) == rounds
    assert len(calls) == rounds
    monkeypatch.undo()
    assert [tuple(r) for r in out.collect()] == want


def test_bpe_train_merges_trains_on_the_driver_in_one_action(
    spark, monkeypatch
):
    """At the default vocabulary cap, training the benchmark-shaped
    corpus takes one DataFrame action, the vocabulary's ``toArrow``,
    which runs as one Spark job, and no ranked-pair round."""
    from spatula_spark.functions import text as tx

    texts = _bench_shaped_texts()
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    ranked = _spy_ranked_pairs(monkeypatch)
    actions = []
    cls = type(df)
    for name in ("collect", "toArrow", "toPandas", "count", "take",
                 "head", "first", "toLocalIterator", "foreach",
                 "foreachPartition"):
        def spy(self, *a, _name=name, _real=getattr(cls, name), **k):
            actions.append(_name)
            return _real(self, *a, **k)

        monkeypatch.setattr(cls, name, spy)
    sc = spark.sparkContext
    sc.setJobGroup("bpe-train", "bpe_train_merges")
    try:
        out = tx.bpe_train_merges(df, n_merges=10)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert actions == ["toArrow"]
    assert not ranked
    monkeypatch.undo()
    # read once the training's jobs have been posted
    spark.range(1).collect()
    assert len(sc.statusTracker().getJobIdsForGroup("bpe-train")) == 1
    assert [tuple(r) for r in out.collect()] == tx.bpe_python_twin(
        texts, 10
    )


def test_zorder_key_and_locality(spark):
    from pyspark.sql import functions as F

    from spatula_spark.entry_queries import QUERIES
    from spatula_spark.functions.layout import zorder_key

    # known interleave: a=3 (bits 0,1), b=5 (bits 0,2)
    # -> 1 + 2 + 4 + 32 = 39; and a full round trip property
    rows = [(3, 5), (0, 0), (65535, 65535), (1, 0), (0, 1), (1234, 4321)]
    df = spark.createDataFrame(rows, ["a", "b"]).withColumn(
        "z", zorder_key(F.col("a"), F.col("b"))
    )
    got = {(r["a"], r["b"]): r["z"] for r in df.collect()}
    assert got[(3, 5)] == 39
    assert got[(0, 0)] == 0 and got[(1, 0)] == 1 and got[(0, 1)] == 2
    assert got[(65535, 65535)] == (1 << 32) - 1

    def interleave(a, b):
        return sum(
            (((a >> i) & 1) << (2 * i)) | (((b >> i) & 1) << (2 * i + 1))
            for i in range(16)
        )

    assert all(got[(a, b)] == interleave(a, b) for a, b in rows)

    # 2-D locality: fixing the zkey prefix (>> 20) bounds BOTH source
    # dimensions — minute bits 0..9 and user bits 0..9 are the only
    # free ones, so every bucket spans < 1024 minutes AND < 1024 users
    buckets = QUERIES["zorder_layout"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(buckets) > 1
    for r in buckets:
        assert r["mmax"] - r["mmin"] < 1024
        assert r["umax"] - r["umin"] < 1024


def test_degree_histogram_hub_bucket(spark):
    from pyspark.sql import functions as F

    from spatula_spark.functions import graph as gr

    # 100 nodes each linking to node 0 (hub, deg 100) + a self-ring
    # (deg 1 each)
    edges = spark.range(100).select(
        F.col("id").alias("src"),
        F.explode(F.array(F.lit(0), (F.col("id") + 1) % 100)).alias("dst"),
    )
    got = {r["bucket"]: r for r in gr.degree_histogram(edges).collect()}
    # ring gives deg 1 (bucket 0) to nodes 1..99; node 0 has 100+1=101
    # in-edges -> bucket 6 (2^6 <= 101 < 2^7)
    assert got[0]["n_nodes"] == 99 and got[0]["max_deg"] == 1
    assert got[6]["n_nodes"] == 1
    assert got[6]["min_deg"] == got[6]["max_deg"] == 101


def test_url_templates_flags(spark):
    from spatula_spark.urls import url_templates

    rows = [("hx", f"https://hx/cal/{i}/{i*7%97}") for i in range(60)]
    rows += [("hx", f"https://hx/about/page/{i % 3}") for i in range(60)]
    df = spark.createDataFrame(rows, ["host", "url"])
    got = {r["template"]: r for r in
           url_templates(df, threshold=50).collect()}
    cal = got["https://hx/cal/{n}/{n}"]
    about = got["https://hx/about/page/{n}"]
    assert cal["flagged"] and cal["n_urls"] == 60
    assert not about["flagged"] and about["n_urls"] == 3


def test_integer_hits_bipartite_and_partition_invariance(spark):
    from pyspark.sql import functions as F

    from spatula_spark.functions import hits as ht

    # bipartite: hubs 10-12 each point at authorities 0-2; node 99
    # is isolated. Mutual reinforcement must give all three
    # authorities the max auth score (SCALE), all three hubs the max
    # hub score, zero cross-talk, and zeros on the isolate.
    nodes = spark.range(0, 3).union(spark.range(10, 13)).union(
        spark.range(99, 100)
    ).select(F.col("id").alias("node"))
    edges = (
        spark.range(10, 13)
        .select(F.col("id").alias("src"))
        .crossJoin(
            spark.range(0, 3).select(F.col("id").alias("dst"))
        )
    )
    got = {
        r["node"]: (r["auth_scaled"], r["hub_scaled"])
        for r in ht.integer_hits(nodes, edges, n_iter=3).collect()
    }
    for a in (0, 1, 2):
        assert got[a] == (ht.SCALE, 0)
    for h in (10, 11, 12):
        assert got[h] == (0, ht.SCALE)
    assert got[99] == (0, 0)

    # integer arithmetic => bit-identical under any partitioning
    got2 = {
        r["node"]: (r["auth_scaled"], r["hub_scaled"])
        for r in ht.integer_hits(
            nodes.repartition(7), edges.repartition(5), n_iter=3
        ).collect()
    }
    assert got == got2


def test_bigram_lm_reversed_docs_cost_more(spark):
    from pyspark.sql import functions as F

    from spatula_spark.functions import lm

    # fluent corpus: one dominant word order. The reversed twin has
    # the IDENTICAL unigram profile but corpus-rare bigrams, so its
    # conditional cost must exceed the fluent doc's.
    sent = "the cat sat on the mat and the dog sat on the rug"
    train = spark.createDataFrame(
        [(i, "en", sent) for i in range(20)],
        ["doc_id", "lang", "text"],
    )
    cands = spark.createDataFrame(
        [
            (100, "en", sent),
            (101, "en", " ".join(reversed(sent.split()))),
        ],
        ["doc_id", "lang", "text"],
    )
    got = {
        r["doc_id"]: r
        for r in lm.bigram_lm_score(cands, lm_docs=train).collect()
    }
    assert got[100]["n_bigrams"] == got[101]["n_bigrams"] == 12
    assert got[101]["sum_cost"] > got[100]["sum_cost"]
    assert got[100]["bucket"] == "head"
    assert got[101]["bucket"] == "tail"

    # one-word doc: no bigram, cost 0, still present in the output
    single = spark.createDataFrame(
        [(7, "en", "the")], ["doc_id", "lang", "text"]
    )
    row = lm.bigram_lm_score(single, lm_docs=train).collect()[0]
    assert row["n_bigrams"] == 0 and row["sum_cost"] == 0


def test_fetch_schedule_slots_and_makespan(spark):
    from spatula_spark.operators.schedule import fetch_schedule

    rows = [
        # host a: delay 100, priorities 5 > 3 > 3 (tie -> url_id asc)
        (1, "a", 100, 3),
        (2, "a", 100, 5),
        (3, "a", 100, 3),
        # host b: delay 1000, one URL
        (4, "b", 1000, 9),
    ]
    f = spark.createDataFrame(
        rows, ["url_id", "host", "crawl_delay_ms", "priority"]
    )
    sched = fetch_schedule(f)
    got = {r["url_id"]: r for r in sched.collect()}
    assert got[2]["slot"] == 0 and got[2]["fetch_at_ms"] == 0
    assert got[1]["slot"] == 1 and got[1]["fetch_at_ms"] == 100
    assert got[3]["slot"] == 2 and got[3]["fetch_at_ms"] == 200
    assert got[4]["slot"] == 0 and got[4]["sec_bucket"] == 0


def test_colorhist_near_dups_planted_recall(spark):
    from spatula_spark.entry_queries import QUERIES

    got = QUERIES["colorhist_near_dups"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    pairs = {(r["id_a"], r["id_b"]): r["l1"] for r in got}
    # every rotated twin is recovered at exactly L1 = 0 (histogram is
    # a pixel-multiset statistic, invariant to the 180-deg rotation)
    for i in range(50):
        assert pairs[(i, i + 5_000_000)] == 0
    # the 10 all-dark frames form the known low-information collision
    # clique: all 45 pairs, all identical histograms
    dark = [
        (a, b) for (a, b) in pairs
        if a >= 2_000_000 and b < 5_000_000
    ]
    assert len(dark) == 45
    assert all(pairs[p] == 0 for p in dark)


def test_histogram_quantiles_exact_rule(spark):
    from spatula_spark.functions import sketches as sk

    # host a: values 1..100 once each -> q50=50, q95=95, q99=99
    # host b: 990 zeros + 10 nines -> ceil(.99*1000)=990 is still a
    # zero, so q50=q95=q99=0 (lower-quantile rule; max_v shows the 9s)
    rows = [("a", v) for v in range(1, 101)]
    rows += [("b", 0)] * 990 + [("b", 9)] * 10
    df = spark.createDataFrame(rows, ["host", "lat"])
    got = {
        r["host"]: r
        for r in sk.histogram_quantiles(df, "host", "lat").collect()
    }
    a, b = got["a"], got["b"]
    assert (a["n"], a["q50"], a["q95"], a["q99"]) == (100, 50, 95, 99)
    assert (b["n"], b["q50"], b["q95"], b["q99"]) == (1000, 0, 0, 0)
    assert b["min_v"] == 0 and b["max_v"] == 9

    # cross-check the rule against the sorted-list definition on the
    # skewed host: smallest v with cum >= ceil(q/100 * n)
    vals = sorted([0] * 990 + [9] * 10)
    import math
    for q in (50, 95, 99):
        assert got["b"][f"q{q}"] == vals[math.ceil(q / 100 * 1000) - 1]


def test_oov_rate_planted_flags(spark):
    from spatula_spark.entry_queries import QUERIES

    got = {
        r["doc_id"]: r
        for r in QUERIES["oov_rate"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    planted = [r for i, r in got.items() if i >= 4_000_000]
    clean = [r for i, r in got.items() if i < 4_000_000]
    assert planted and all(
        r["flagged"] and r["n_oov"] == r["n_tokens"] for r in planted
    )
    # clean docs draw from the corpus's own head words: none flagged
    assert all(not r["flagged"] for r in clean)


def test_c4_clean_rules_and_plants(spark):
    from pyspark.sql import functions as F

    from spatula_spark.functions import quality as q

    rows = [
        # ok page: 3 punctuated >=5-word lines
        (1, ["one two three four five.", "a b c d e!", 'v w x y z?']),
        # line filter: no terminal punct / too short -> too few kept
        (2, ["one two three four five", "short line.", "ok a b c d."]),
        # page drops, in C4's order
        (3, ["int main() { return 0; }", "fine line here today ok."]),
        (4, ["Lorem Ipsum dolor sit amet."]),
        (5, ["win at the casino tonight.", "a b c d e.",
             "f g h i j.", "k l m n o."]),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "lines"])
    got = {r["doc_id"]: r for r in q.c4_clean(df).collect()}
    assert got[1]["verdict"] == "ok" and got[1]["n_kept"] == 3
    assert got[1]["clean_chars"] == sum(len(x) for x in rows[0][1])
    assert got[2]["verdict"] == "too_few_sentences"
    assert got[2]["n_kept"] == 1  # only the >=5-word punctuated line
    assert got[3]["verdict"] == "brace"
    assert got[4]["verdict"] == "lorem"  # case-insensitive phrase
    assert got[5]["verdict"] == "badword"  # despite 4 kept lines

    # battery query: all three planted violation classes fire at
    # sf0.001 and every verdict value appears
    from spatula_spark.entry_queries import QUERIES

    out = QUERIES["c4_clean"](spark, "/root/testdata/sf0.001").collect()
    verdicts = {r["verdict"] for r in out}
    assert {"brace", "lorem", "badword", "ok"} <= verdicts
    by_id = {r["doc_id"]: r["verdict"] for r in out}
    assert by_id[0] == "brace"  # 0 hits every plant; brace wins order
    assert by_id[37] == "lorem" and by_id[41] == "badword"


def test_gopher_quality_rule_order_and_plants(spark):
    from spatula_spark.entry_queries import QUERIES
    from spatula_spark.functions import quality as q

    # operator defaults carry the paper's 50-word floor
    df = spark.createDataFrame(
        [(1, "the cat sat of and that have with here now")],
        ["doc_id", "text"],
    )
    assert (
        q.gopher_quality(df).collect()[0]["verdict"] == "word_count"
    )

    out = QUERIES["gopher_quality"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    by_id = {r["doc_id"]: r for r in out}
    planted = {
        i - 7_000_000: r["verdict"]
        for i, r in by_id.items()
        if i >= 7_000_000
    }
    assert all(v == "word_count" for k, v in planted.items() if k < 25)
    # twenty 1-char '#' words also drag short docs' mean word length
    # under 3, which outranks symbol_ratio in the paper's rule order
    sym = [v for k, v in planted.items() if 25 <= k < 50]
    assert set(sym) <= {"symbol_ratio", "mean_word_len"}
    assert sym.count("symbol_ratio") > len(sym) // 2
    assert all(
        v == "alpha_frac" for k, v in planted.items() if 50 <= k < 75
    )
    assert all(
        v == "stopwords" for k, v in planted.items() if 75 <= k < 100
    )
    # clean docs fail only (if at all) the 2-stopword floor: the
    # synthetic vocabulary is stopword-poor, so Gopher's rule splits
    # the clean corpus into a real ok/stopwords mix — no other rule
    # ever fires on an unplanted doc
    clean = [r["verdict"] for i, r in by_id.items() if i < 7_000_000]
    assert set(clean) == {"ok", "stopwords"}
    assert clean.count("ok") > len(clean) * 0.4


def test_caption_pixel_mismatch_classes(spark):
    from spatula_spark.entry_queries import QUERIES

    out = QUERIES["caption_pixel_mismatch"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    rows = {(r["rep_id"], r["image_id"]): r for r in out}
    # linear star shape: exactly one row per non-representative image
    assert len(rows) == len(out)
    # every planted twin sits 1 bit from its own original (which is
    # its caption group's representative) -> NOT a mismatch
    for i in range(30):
        r = rows[(i, i + 8_000_000)]
        assert r["hd"] == 1 and not r["mismatch"]
    # caption collisions across unrelated fingerprint groups DO get
    # flagged: organic (non-twin) rows are dominated by mismatches
    organic = [
        r for (a, b), r in rows.items() if b < 8_000_000
    ]
    assert organic and sum(r["mismatch"] for r in organic) > len(
        organic
    ) * 0.9


def test_dsir_select_planted_and_enrichment(spark):
    from spatula_spark.entry_queries import QUERIES

    out = QUERIES["dsir_select"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    planted = [r for r in out if r["doc_id"] >= 9_000_000]
    clean = [r for r in out if r["doc_id"] < 9_000_000]
    # every marker-suffixed plant is target-like and kept
    assert planted and all(r["kept"] for r in planted)
    # organic positives are enriched in target members (docs 0-99):
    # their base text IS the target's, so distribution matching must
    # prefer them over the 100/550 base rate
    pos = [r["doc_id"] for r in clean if r["kept"]]
    assert pos
    frac_target = sum(1 for i in pos if i < 100) / len(pos)
    assert frac_target > 0.4
    # plants dominate the clean score distribution
    import statistics

    assert min(r["sum_w"] for r in planted) > statistics.median(
        [r["sum_w"] for r in clean]
    )


def test_histogram_quantiles_random_vs_sorted_definition(spark):
    import math
    import random

    from spatula_spark.functions import sketches as sk

    rng = random.Random(4242)
    rows = []
    truth = {}
    for k in ("ha", "hb", "hc"):
        vals = [rng.randrange(0, 50) for _ in range(rng.randrange(1, 300))]
        rows += [(k, v) for v in vals]
        s = sorted(vals)
        truth[k] = {
            q: s[math.ceil(q / 100 * len(s)) - 1] for q in (50, 95, 99)
        }
    df = spark.createDataFrame(rows, ["host", "lat"])
    got = {
        r["host"]: r
        for r in sk.histogram_quantiles(df, "host", "lat").collect()
    }
    for k, t in truth.items():
        for q in (50, 95, 99):
            assert got[k][f"q{q}"] == t[q], (k, q)


def test_revalidation_plan_partitions_and_savings(spark):
    from spatula_spark.entry_queries import QUERIES

    out = QUERIES["revalidation_plan"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    plans = {r["plan"] for r in out}
    assert plans == {
        "conditional_etag", "conditional_lastmod", "full_fetch"
    }
    for r in out:
        # a full fetch can never save bytes; conditional fetches save
        # at most what they would have transferred
        if r["plan"] == "full_fetch":
            assert r["bytes_saved"] == 0
        assert 0 <= r["bytes_saved"] <= r["bytes_total"]
    # the ETag/Last-Modified/none split follows the synthesized
    # metadata rates (1/3 etag; of the rest, ~2/5 last-modified)
    n = {p: sum(r["n_urls"] for r in out if r["plan"] == p)
         for p in plans}
    total = sum(n.values())
    assert abs(n["conditional_etag"] / total - 1 / 3) < 0.05
    assert n["full_fetch"] > 0


def test_corpus_datacard_census_consistency(spark):
    import duckdb

    from spatula_spark.entry_queries import QUERIES

    out = QUERIES["corpus_datacard"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    n_docs_total = duckdb.connect().execute(
        "SELECT count(*) FROM "
        "'/root/testdata/sf0.001/documents.parquet'"
    ).fetchone()[0]
    assert sum(r["n_docs"] for r in out) == n_docs_total
    for r in out:
        assert 0 <= r["n_words_kept"] <= r["n_words"]
        if r["lm_bucket"] == "tail" or r["gopher_verdict"] != "ok":
            assert r["n_words_kept"] == 0
        else:
            assert r["n_words_kept"] == r["n_words"]
    # the combined cut keeps a nonzero but proper subset of tokens
    kept = sum(r["n_words_kept"] for r in out)
    total = sum(r["n_words"] for r in out)
    assert 0 < kept < total


def test_anchor_spam_hosts_classes(spark):
    from spatula_spark.entry_queries import QUERIES

    out = QUERIES["anchor_spam_hosts"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    by = {r["dst"]: r for r in out}
    # the three farm targets flag: one phrase > half the links, heavy
    # per-host concentration
    for t in (9_000_000, 9_000_001, 9_000_002):
        r = by[t]
        assert r["spam"] and r["n_phrases"] == 1 and r["n_src_hosts"] == 1
    # popular-but-organic targets have the volume but varied anchors
    # and spread linkers: never flagged
    for t in (8_000_000, 8_000_001):
        r = by[t]
        assert r["n_links"] >= 20 and not r["spam"]
    # the long-tail organic graph stays unflagged entirely
    assert not any(
        r["spam"] for d, r in by.items() if d < 8_000_000
    )


def test_shingle_and_bigram_builders_match_python_twin(spark):
    """Property armor for the zip_with n-gram builders (the
    lambda-CSE rewrite): Spark word_shingles / bigrams_from_words must
    equal the pure-Python twin on adversarial texts — leading/
    trailing/multiple spaces, tabs/newlines (Java \\s class), unicode
    words, empties, and lengths straddling every n boundary."""
    import random

    from spatula_spark.functions import lm
    from spatula_spark.functions import dedup as dd
    from spatula_spark.functions.dedup import _shingle_set

    rng = random.Random(99)
    vocab = ["alpha", "beta", "Gamma", "d", "ee", "été", "x9"]
    texts = ["", " ", "one", "one two", "a  b   c", "\tlead", "trail \n"]
    for _ in range(40):
        k = rng.randrange(0, 8)
        sep = rng.choice([" ", "  ", " \t ", "\n"])
        texts.append(sep.join(rng.choice(vocab) for _ in range(k)))
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["i", "text"]
    )
    # bigrams_from_words takes a projected words column (its
    # lambda-CSE rule), so project normalized_words first
    rows = df.withColumn("w", dd.normalized_words(F.col("text"))).select(
        "i",
        dd.word_shingles(F.col("text")).alias("sh"),
        lm.bigrams_from_words(F.col("w")).alias("bg"),
    ).collect()
    import re
    ws = re.compile(r"\s+")
    for r in rows:
        t = texts[r["i"]]
        assert set(r["sh"]) == _shingle_set(t, 3), (t, r["sh"])
        words = ws.sub(" ", t.strip(" ")).lower().split(" ")
        want_bg = (
            [f"{a} {b}" for a, b in zip(words, words[1:])]
            if len(words) >= 2 else []
        )
        assert list(r["bg"]) == want_bg, (t, r["bg"])
