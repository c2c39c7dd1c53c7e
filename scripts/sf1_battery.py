"""sf1-scale battery evidence (round-2 verdict item 6).

Synthesizes an sf1-equivalent corpus (10x the sf0.1 row counts:
50k documents, 20k embeddings, 1M events) ENTIRELY with deterministic
hash arithmetic inside Spark — no driver-side generation, no RNG — and
runs the dedup / ANN / temporal battery at BOTH scales with the same
generator. The point is the GROWTH FACTORS: banded-LSH candidate
pairs must grow ~linearly with the corpus (the bucket join working),
not quadratically (all-pairs in disguise); simhash bucket load factors
must stay bounded. Writes BENCH/SF1.md.

Run: python -u scripts/sf1_battery.py
"""

import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from spatula_spark.functions import dedup as dd  # noqa: E402
from spatula_spark.functions import similarity as sim  # noqa: E402
from spatula_spark.functions import temporal as tp  # noqa: E402
from spatula_spark.session import get_spark  # noqa: E402

WORDS = (
    "batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query join shuffle stage task executor driver "
    "plan codegen arrow pandas bucket skew salt probe build stream state"
).split()  # 33 distinct words, like the testdata word-soup docs


def synth_documents(spark, n_docs: int):
    """Web-shaped word-soup: 20-199 words per doc, 1/4 from a small
    common pool (stopword head) and 3/4 long-tail tokens from a
    vocabulary that grows with the corpus (Heaps' law — real corpora
    add vocabulary as they grow; a FIXED tiny pool makes every doc
    pair share shingles and candidate counts quadratic no matter what
    the LSH does)."""
    vocab = max(1000, n_docs)
    words_arr = F.array(*[F.lit(w) for w in WORDS])
    n_words = (F.pmod(F.xxhash64(F.col("doc_id"), F.lit(1)), F.lit(180))
               + F.lit(20))

    def pick_word(i):
        h = F.xxhash64(F.col("doc_id"), i)
        common = F.element_at(
            words_arr,
            (F.pmod(h, F.lit(len(WORDS))) + F.lit(1)).cast("int"),
        )
        tail = F.concat(
            F.lit("t"),
            F.pmod(F.xxhash64(F.col("doc_id"), i, F.lit(2)),
                   F.lit(vocab)).cast("string"),
        )
        return F.when(F.pmod(h, F.lit(4)) == 0, common).otherwise(tail)

    pick = F.transform(F.sequence(F.lit(1), n_words), pick_word)
    return (
        spark.range(n_docs).withColumnRenamed("id", "doc_id")
        .select("doc_id", F.array_join(pick, " ").alias("text"))
    )


def synth_embeddings(spark, n_vecs: int, dim: int = 64):
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda d: (
            F.pmod(F.xxhash64(F.col("vec_id"), d), F.lit(2001)) - F.lit(1000)
        ).cast("double") / F.lit(1000.0),
    )
    return (
        spark.range(n_vecs).withColumnRenamed("id", "vec_id")
        .select("vec_id", vec.alias("embedding"))
    )


def synth_events(spark, n: int):
    return spark.range(n).select(
        F.pmod(F.xxhash64("id"), F.lit(max(1, n // 100))).alias("user_id"),
        F.timestamp_seconds(
            F.lit(1_700_000_000)
            + F.pmod(F.xxhash64("id", F.lit(7)), F.lit(86_400 * 30))
        ).alias("ts"),
        (F.pmod(F.xxhash64("id", F.lit(9)), F.lit(1000)).cast("double")
         / F.lit(10.0)).alias("value"),
    )


def run_scale(spark, tag: str, n_docs: int, n_vecs: int, n_events: int,
              emb_planes: int):
    """``emb_planes`` follows the documented scaling rule (README /
    similarity.py): buckets per table = 2^planes must grow with the
    corpus to keep per-bucket candidate pairs ~linear overall."""
    out = {"tag": tag, "n_docs": n_docs, "n_vecs": n_vecs,
           "n_events": n_events, "emb_planes": emb_planes}
    docs = synth_documents(spark, n_docs).persist()
    docs.count()
    corpus = dd.perturbed_corpus(docs).persist()
    corpus.count()

    t = time.time()
    out["exact_groups"] = dd.exact_dedup(corpus).count()
    out["exact_s"] = round(time.time() - t, 2)

    t = time.time()
    cands = dd.lsh_candidate_pairs(corpus)
    out["minhash_cands"] = cands.count()
    out["minhash_cand_s"] = round(time.time() - t, 2)
    t = time.time()
    out["minhash_pairs"] = dd.jaccard_pairs(corpus, cands,
                                            threshold=0.8).count()
    out["minhash_verify_s"] = round(time.time() - t, 2)

    # incremental delta-vs-corpus probe: base = the original docs,
    # delta = the perturbed near-copies (doc_id >= 1M). The claim:
    # probe candidates scale with |delta| (~n_docs), never |corpus|^2
    # — the band buckets stay Heaps-bounded like the self-join's.
    t = time.time()
    base_docs = docs.select("doc_id", "text")
    delta_docs = corpus.filter(F.col("doc_id") >= 1_000_000)
    bb = dd._band_table(dd.minhash_signatures(base_docs), 8, 2)
    bd = dd._band_table(dd.minhash_signatures(delta_docs), 8, 2)
    icands = (
        bd.alias("d").join(
            bb.alias("b"),
            (F.col("d.band") == F.col("b.band"))
            & (F.col("d.bsig") == F.col("b.bsig")),
        ).select(
            F.col("d.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        ).distinct()
    )
    out["inc_cands"] = icands.count()
    out["inc_cand_s"] = round(time.time() - t, 2)
    t = time.time()
    out["inc_dups"] = dd.incremental_near_dups(base_docs, delta_docs).count()
    out["inc_s"] = round(time.time() - t, 2)

    t = time.time()
    sh = corpus.select("doc_id", dd.simhash(F.col("text")).alias("sh"))
    # quarter-key bucket load: max rows sharing any (quarter, key16)
    loads = (
        sh.select(F.explode(F.array(*[
            F.struct(F.lit(q).alias("q"),
                     F.shiftright("sh", 16 * q)
                     .bitwiseAND(F.lit(0xFFFF)).alias("key"))
            for q in range(4)
        ])).alias("qk"))
        .groupBy("qk.q", "qk.key").count()
    )
    out["simhash_max_bucket"] = loads.agg(F.max("count")).collect()[0][0]
    out["simhash_neardups"] = dd.simhash_near_dups(corpus).count()
    out["simhash_s"] = round(time.time() - t, 2)

    emb = synth_embeddings(spark, n_vecs).persist()
    emb.count()
    pert = sim.perturbed_embeddings(emb).persist()
    pert.count()
    t = time.time()
    b = pert.select(
        F.col("vec_id").alias("vid"),
        F.posexplode(sim.lsh_buckets_fast("embedding", 4, emb_planes, 64))
        .alias("table", "bucket"),
    ).localCheckpoint()
    ecands = (
        b.alias("l").join(
            b.alias("r"),
            (F.col("l.table") == F.col("r.table"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col("l.vid") < F.col("r.vid")),
        ).select("l.vid", "r.vid").distinct()
    )
    out["emb_cands"] = ecands.count()
    out["emb_cand_s"] = round(time.time() - t, 2)
    t = time.time()
    out["emb_neardups"] = sim.embedding_near_dups(
        pert, threshold=0.95, n_planes=emb_planes).count()
    out["emb_nd_s"] = round(time.time() - t, 2)

    queries = emb.filter(F.col("vec_id") < 20)
    t = time.time()
    out["ann_lsh_rows"] = sim.ann_lsh_topk(emb, queries, k=5).count()
    out["ann_lsh_s"] = round(time.time() - t, 2)
    t = time.time()
    out["ann_ivf_rows"] = sim.ivf_topk(
        emb, queries, k=5, n_centroids=int(max(8, n_vecs ** 0.5)), nprobe=4
    ).count()
    out["ann_ivf_s"] = round(time.time() - t, 2)

    # SemDeDup mega-cluster adversarial leg: n_centroids held FIXED at
    # 32 while the corpus grows 10x, so mean cluster size grows 10x —
    # the uncapped within-cluster pair count would grow ~100x. The
    # max_cluster hub-star cap must hold the emitted candidate volume
    # ~linear (sem_cands). sem_dropped documents the cap's RECALL
    # price in this deliberately-undersized configuration: with every
    # cluster over the cap, only hub comparisons remain, so the
    # dropped count collapses to ~one per cluster (~flat at 10x).
    # The deployment rule (semdedup docstring) is n_centroids ∝
    # corpus so cluster sizes stay bounded and the cap is inert;
    # this leg pins the cost bound, not the recall, of the cap.
    t = time.time()
    sem_c = pert.select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"))
    s_ids, s_mat = sim.ivf_centroids(sem_c, 32)
    s_asg = (
        sem_c.withColumn("cent_id", sim._assign_udf(s_ids, s_mat)("cv"))
        .filter(F.col("cent_id").isNotNull())
        .localCheckpoint()
    )
    out["sem_cands"] = dd._bucket_pairs(
        s_asg, ["cent_id"], "cid", 64, payload_c="cv").count()
    out["sem_cand_s"] = round(time.time() - t, 2)
    t = time.time()
    out["sem_dropped"] = sim.semdedup(
        pert, n_centroids=32, eps=0.999, max_cluster=64).count()
    out["sem_s"] = round(time.time() - t, 2)

    # 64-bit fingerprint near-dup (the image-pHash shape) via the
    # multi-index hamming join: originals = xxhash64(id), planted
    # copies = <=7 deterministic bit flips. Also measure the
    # candidate-VOLUME ratio of the auto-selected multi-index scheme
    # vs the naive 8-bit banded spelling from the bucket arithmetic.
    fps = spark.range(n_docs).select(
        F.col("id").alias("img_id"), F.xxhash64("id").alias("fp"))
    # pyspark's shiftleft() takes a python-int bit count only; the SQL
    # form accepts a column expression
    flips = F.expr(
        "aggregate("
        "  transform(sequence(1, int(pmod(img_id, 7)) + 1),"
        "            j -> shiftleft(1L, int(pmod(xxhash64(img_id, j), 64)))),"
        "  0L, (acc, m) -> acc ^ m)"
    )
    pfps = fps.select(
        (F.col("img_id") + 10_000_000).alias("img_id"),
        F.col("fp").bitwiseXOR(flips).alias("fp"))
    allfp = fps.unionByName(pfps).persist()
    allfp.count()
    t = time.time()
    out["mih_pairs"] = dd.hamming_near_dups(
        allfp, "img_id", "fp", max_hamming=7).count()
    out["mih_s"] = round(time.time() - t, 2)

    def _cand_volume(width, n_chunks, probe_mult):
        load = allfp.select(F.explode(F.array(*[
            F.struct(F.lit(b).alias("b"),
                     F.shiftright("fp", width * b)
                     .bitwiseAND(F.lit((1 << width) - 1)).alias("k"))
            for b in range(n_chunks)])).alias("e")
        ).groupBy("e.b", "e.k").count()
        v = load.select(
            F.sum(F.col("count") * (F.col("count") - 1) / 2)).first()[0]
        return int(v * probe_mult)

    out["banded8_cand_volume"] = _cand_volume(8, 8, 1)
    out["mih_cand_volume"] = _cand_volume(16, 4, 17)

    # connected-components dedup over the planted fingerprint pair
    # graph: the scale claim is that Boruvka contraction rounds stay
    # ~CONSTANT as the corpus grows (rounds track component diameter,
    # not corpus size), so the shuffle count is scale-invariant
    t = time.time()
    cc_stats = {}
    cc = dd.connected_components(
        dd.hamming_near_dups(allfp, "img_id", "fp", max_hamming=7),
        "img_id_a", "img_id_b", stats=cc_stats)
    out["cc_nodes"] = cc.count()
    out["cc_components"] = cc.select("component").distinct().count()
    out["cc_rounds"] = cc_stats["rounds"]
    out["cc_jumps"] = cc_stats["jumps"]
    out["cc_s"] = round(time.time() - t, 2)
    allfp.unpersist()

    # mega-bucket cap (round-4): a planted boilerplate clique of
    # m = n_docs/5 IDENTICAL fingerprints (10^4 at the sf1 scale) over
    # the uniform background — the shape that made the uncapped banded
    # candidate volume grow 98.7x at 10x rows in round 3. With
    # max_bucket=256 the capped join emits m-1 hub stars instead of
    # ~m^2/2 pairs, so emitted candidates must grow ~linearly while the
    # AVOIDED volume (starred_pairs telemetry) grows ~quadratically.
    t = time.time()
    m = n_docs // 5
    clique = spark.range(m).select(
        (F.col("id") + 50_000_000).alias("img_id"),
        F.lit(4242424242424242).alias("fp"))
    cap_corpus = fps.unionByName(clique).persist()
    cap_corpus.count()
    cap_stats = {}
    out["capped_pairs"] = dd.hamming_near_dups(
        cap_corpus, "img_id", "fp", max_hamming=7, max_bucket=256,
        stats=cap_stats).count()
    out["capped_starred"] = cap_stats["starred_pairs"]
    out["capped_max_bucket"] = cap_stats["max_bucket_size"]
    out["capped_buckets"] = cap_stats["capped_buckets"]
    out["capped_s"] = round(time.time() - t, 2)
    cap_corpus.unpersist()

    # corpus hygiene / packing / multimodal CC (round-3 additions)
    from spatula_spark import entry_queries as eq
    from spatula_spark.functions import packing as pk
    from spatula_spark.functions import quality as ql
    from spatula_spark.functions import text as tx

    t = time.time()
    out["rep_keep"] = ql.repetition_profile(docs).filter("keep").count()
    out["rep_s"] = round(time.time() - t, 2)

    t = time.time()
    dec = ql.decontaminate(docs).persist()
    out["decon_rows"] = dec.count()
    out["decon_flagged"] = dec.filter("contaminated").count()
    out["decon_s"] = round(time.time() - t, 2)
    dec.unpersist()
    # the two gram sets whose growth IS the scale property: corpus-side
    # explode rows (must be ~linear in corpus tokens) and the broadcast
    # benchmark gram set (linear in the benchmark subset)
    from spatula_spark.functions.dedup import word_shingles
    is_b = ql.benchmark_member(F.col("doc_id"))
    out["decon_bench_grams"] = (
        docs.filter(is_b)
        .select(F.explode(word_shingles(F.col("text"), 3)).alias("g"))
        .distinct().count()
    )

    t = time.time()
    toks = docs.select(
        "doc_id", tx.token_count(F.col("text")).alias("n_tokens"))
    out["pack_packs"] = (
        pk.pack_sequences(toks, "doc_id", "n_tokens")
        .select("stream", "pack_id").distinct().count()
    )
    out["pack_s"] = round(time.time() - t, 2)

    t = time.time()
    mm_stats = {}
    mm = spark.range(n_docs).select(
        F.col("id").alias("g"),
        eq._mm_fp_spark("g").alias("fp"),
        eq._MM_SPARK_PHRASE().alias("phrase"),
    ).localCheckpoint()
    img = dd.hamming_near_dups(
        mm.select(F.col("g").alias("image"), "fp"), "image", "fp",
        max_hamming=7,
    ).select(F.col("image_a").alias("u"), F.col("image_b").alias("v"))
    first = mm.groupBy("phrase").agg(F.min("g").alias("v"))
    cap = (mm.join(first, "phrase").filter(F.col("g") != F.col("v"))
           .select(F.col("g").alias("u"), "v"))
    edges = img.unionByName(cap).persist()
    out["mm_edges"] = edges.count()
    mmcc = dd.connected_components(edges, "u", "v", stats=mm_stats)
    out["mm_components"] = mmcc.select("component").distinct().count()
    out["mm_rounds"] = mm_stats["rounds"]
    out["mm_s"] = round(time.time() - t, 2)
    edges.unpersist()

    ev = synth_events(spark, n_events).persist()
    ev.count()
    left = ev.filter(F.pmod(F.xxhash64("user_id", "ts"), F.lit(10)) == 0)
    t = time.time()
    out["asof_rows"] = tp.asof_join(
        left.select("user_id", "ts"), ev, on="user_id").count()
    out["asof_s"] = round(time.time() - t, 2)
    iv = ev.limit(n_events // 100).select(
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("end"),
    )
    t = time.time()
    out["range_rows"] = tp.range_join_buckets(
        ev.select("ts"), iv, bucket_seconds=1800).count()
    out["range_s"] = round(time.time() - t, 2)

    # session-5 crawl ops: trap flags / recrawl schedules / sitemap
    # entries must track their planted inputs linearly (hosts and
    # corpus rows), never a pair space; alignment keep-rate must stay
    # ~constant (a pure hash-driven per-row gate)
    from spatula_spark.operators import politeness as P
    from spatula_spark.operators import recrawl as rc
    from spatula_spark.operators import sitemaps as sm

    n_hosts = max(10, n_docs // 1000)
    t = time.time()
    hd = spark.range(n_hosts).select(
        F.col("id").alias("host"),
        F.explode(F.sequence(F.lit(1), F.lit(4))).alias("depth"))
    trapc = F.when(
        F.col("host") % 5 == 0,
        F.element_at(F.array(F.lit(5), F.lit(20), F.lit(80), F.lit(320)),
                     F.col("depth").cast("int")),
    ).otherwise(F.col("depth") * 5)
    log = hd.select(
        "host", "depth",
        F.explode(F.sequence(F.lit(1), trapc.cast("int"))).alias("i"),
    ).select(
        "host", "depth",
        F.concat_ws("/", "host", "depth", "i").alias("url"),
        F.when(F.col("host") % 5 == 0,
               F.concat(F.lit("d"), F.col("host").cast("string")))
        .otherwise(F.concat_ws(":", "host", "depth", "i"))
        .alias("content_fp"),
    )
    out["trap_flags"] = P.trap_hosts(log).count()
    out["trap_s"] = round(time.time() - t, 2)

    t = time.time()
    hist = ev.select(
        F.concat(F.lit("u/"), F.col("user_id").cast("string")).alias("url"),
        (F.col("user_id") % max(2, (n_events // 100) // 10)).alias("host"),
        F.col("ts").alias("fetch_ts"),
        F.pmod(F.xxhash64("user_id", "ts"), F.lit(5)).cast("string")
        .alias("content_fp"),
    )
    out["recrawl_rows"] = rc.recrawl_priority(hist).count()
    out["recrawl_s"] = round(time.time() - t, 2)

    t = time.time()
    sm_entry = F.concat(
        F.lit("<url><loc>https://h"), (F.col("id") % n_hosts).cast("string"),
        F.lit(".ex/p/"), F.col("id").cast("string"), F.lit("</loc></url>"))
    smx = (
        spark.range(n_docs)
        .select((F.col("id") % n_hosts).alias("host"),
                F.struct(F.col("id").alias("g"), sm_entry.alias("e"))
                .alias("s"))
        .groupBy("host")
        .agg(F.concat(
            F.lit("<urlset>"),
            F.array_join(
                F.transform(F.array_sort(F.collect_list("s")),
                            lambda s: s["e"]), ""),
            F.lit("</urlset>")).alias("xml"))
    )
    out["sitemap_locs"] = sm.sitemap_entries(smx, "xml").count()
    out["sitemap_s"] = round(time.time() - t, 2)

    t = time.time()
    fpc = F.xxhash64("doc_id")
    iv = F.array(*[
        (F.shiftright(fpc, 4 * d).bitwiseAND(F.lit(15)).cast("double")
         - F.lit(7.5)) for d in range(16)
    ])
    al = docs.select(
        tx.feature_hash_embedding(tx.tokens(F.col("text")), 16).alias("cv"),
        iv.alias("iv"),
    )
    dotc = F.aggregate(
        F.zip_with(F.col("cv"), F.col("iv"), lambda x, y: x * y),
        F.lit(0.0), lambda a, x: a + x)
    out["align_keep"] = al.select((dotc >= 0).alias("k")).filter("k").count()
    out["align_s"] = round(time.time() - t, 2)

    # round-4 session-2: bigram-LM + DSIR model-size legs. The scale
    # claims: the bigram MODEL (Heaps-law vocab of the growing-
    # vocabulary corpus) grows at most ~linearly in the corpus — never
    # token-quadratically — and DSIR's hashed feature table is pinned
    # at 1024 buckets, so its model rows must be ~CONSTANT at 10x.
    from spatula_spark.functions import lm as lmf
    from spatula_spark.urls import portable_hash64

    t = time.time()
    ldocs = docs.select("doc_id", F.lit("en").alias("lang"), "text")
    scored = lmf.bigram_lm_score(ldocs)
    # agg over sum_cost defeats count-pruning: the whole score
    # pipeline (model build + joins + window) actually runs
    out["lm_cost_total"] = int(
        scored.agg(F.sum("sum_cost")).collect()[0][0]
    )
    out["lm_s"] = round(time.time() - t, 2)
    bg_occ = docs.withColumn(
        "__w", dd.normalized_words(F.col("text"))
    ).select(F.explode(lmf.bigrams_from_words(F.col("__w"))).alias("bg"))
    out["lm_bigram_vocab"] = bg_occ.distinct().count()

    t = time.time()
    sel = lmf.dsir_importance(
        docs.select("doc_id", "text"),
        docs.select("doc_id", "text").filter(F.col("doc_id") % 10 == 0),
    )
    out["dsir_kept"] = sel.filter("kept").count()
    out["dsir_s"] = round(time.time() - t, 2)
    out["dsir_model_rows"] = (
        bg_occ.select(
            F.pmod(portable_hash64(F.col("bg")), F.lit(1024)).alias("b")
        ).distinct().count()
    )

    for d in (docs, corpus, emb, pert, ev):
        d.unpersist()
    return out


def main():
    spark = get_spark(app_name="sf1_battery")
    # emb_planes follows the documented rule (~log2 of per-table
    # bucket budget): 8 planes = 256 buckets/table for 4k vectors,
    # 11 planes = 2048 for 40k
    r1 = run_scale(spark, "sf0.1-eq", 5_000, 2_000, 100_000, emb_planes=8)
    r10 = run_scale(spark, "sf1-eq", 50_000, 20_000, 1_000_000,
                    emb_planes=11)

    def ratio(k):
        return round(r10[k] / max(1, r1[k]), 2)

    # the scale assertions: candidate growth ~linear (allow 2x slack on
    # a 10x corpus; quadratic-with-fixed-params would be ~100x), and
    # the simhash max bucket LOAD FRACTION stays ~constant across the
    # 10x scale-up (quarter keys are 16-bit: 65,536 buckets/band)
    frac1 = r1["simhash_max_bucket"] / (2 * r1["n_docs"])
    frac10 = r10["simhash_max_bucket"] / (2 * r10["n_docs"])
    checks = {
        "minhash_cands_growth": (ratio("minhash_cands"), 20.0),
        # incremental probe: delta-vs-base candidates linear in |delta|
        "inc_cands_growth": (ratio("inc_cands"), 20.0),
        "inc_dups_growth": (ratio("inc_dups"), 20.0),
        "emb_cands_growth": (ratio("emb_cands"), 20.0),
        # fixed-k SemDeDup: uncapped would be ~100x; the hub-star cap
        # must keep emitted pair volume ~linear
        "sem_cands_growth": (ratio("sem_cands"), 20.0),
        "sem_dropped_growth": (ratio("sem_dropped"), 20.0),
        "simhash_bucket_frac_ratio": (round(frac10 / max(frac1, 1e-9), 2),
                                      1.5),
        # multi-index hamming: planted pairs dominate => ~linear growth
        "mih_pairs_growth": (ratio("mih_pairs"), 20.0),
        # contraction rounds must NOT grow with the corpus
        "cc_rounds_growth": (ratio("cc_rounds"), 1.0),
        # mega-bucket cap: emitted candidates linear on a 10x clique
        # (uncapped would grow ~100x — that's what starred_pairs shows)
        "capped_pairs_growth": (ratio("capped_pairs"), 20.0),
        # round-3 ops: packing output and decontamination explode rows
        # track corpus tokens (~linear); multimodal contraction rounds
        # stay constant like the unimodal CC
        "pack_packs_growth": (ratio("pack_packs"), 20.0),
        "decon_rows_growth": (ratio("decon_rows"), 20.0),
        "mm_rounds_growth": (ratio("mm_rounds"), 1.0),
        # session-5 crawl ops: flags/schedules/entries linear in hosts
        # and corpus rows; alignment keep-rate scale-invariant
        "trap_flags_growth": (ratio("trap_flags"), 20.0),
        "recrawl_rows_growth": (ratio("recrawl_rows"), 20.0),
        "sitemap_locs_growth": (ratio("sitemap_locs"), 20.0),
        # bigram model Heaps growth: at most ~linear in the corpus
        "lm_bigram_vocab_growth": (ratio("lm_bigram_vocab"), 12.0),
        # DSIR's 1024-bucket hashed model: ~constant rows at 10x
        "dsir_model_rows_growth": (ratio("dsir_model_rows"), 1.05),
        "align_keep_frac_ratio": (
            round(max(
                (r10["align_keep"] / r10["n_docs"])
                / max(r1["align_keep"] / r1["n_docs"], 1e-9),
                (r1["align_keep"] / r1["n_docs"])
                / max(r10["align_keep"] / r10["n_docs"], 1e-9),
            ), 2),
            1.3,
        ),
    }
    # candidate-volume advantage of multi-index over 8-bit bands must
    # hold at the bigger scale too (background is n^2-shaped for BOTH
    # complete schemes on a uniform corpus; multi-index buys the
    # constant factor and composes with prefix sharding beyond)
    mih_adv = round(
        r10["banded8_cand_volume"] / max(1, r10["mih_cand_volume"]), 1)
    checks["mih_vs_banded_volume_advantage_inv"] = (
        round(1.0 / mih_adv, 3), 0.2)  # advantage >= 5x
    failures = {k: v for k, (v, lim) in checks.items() if v > lim}
    lines = [
        "# SF1 battery — scale-growth evidence",
        "",
        "Same deterministic Spark-side generator at 1x (sf0.1-equivalent)",
        "and 10x (sf1-equivalent) row counts; wall-clock on "
        f"local[{spark.sparkContext.defaultParallelism}]. The claim under",
        "test: candidate generation is bucket-joined, so candidate pairs",
        "grow ~linearly in corpus size (quadratic = all-pairs in",
        "disguise), and simhash quarter-key buckets stay bounded.",
        "",
        "| metric | sf0.1-eq | sf1-eq | growth (10x rows) |",
        "| --- | --- | --- | --- |",
    ]
    for k in ("n_docs", "minhash_cands", "minhash_pairs", "simhash_neardups",
              "simhash_max_bucket", "n_vecs", "emb_cands", "emb_neardups",
              "sem_cands", "sem_dropped",
              "mih_pairs", "banded8_cand_volume", "mih_cand_volume",
              "cc_nodes", "cc_components", "cc_rounds", "cc_jumps",
              "capped_pairs", "capped_starred", "capped_max_bucket",
              "capped_buckets",
              "rep_keep", "decon_rows", "decon_flagged",
              "decon_bench_grams", "pack_packs", "mm_edges",
              "mm_components", "mm_rounds",
              "asof_rows", "range_rows",
              "trap_flags", "recrawl_rows", "sitemap_locs", "align_keep",
              "lm_cost_total", "lm_bigram_vocab", "dsir_kept",
              "dsir_model_rows"):
        lines.append(f"| {k} | {r1[k]:,} | {r10[k]:,} | {ratio(k)}x |")
    lines += [
        "",
        "| wall (s) | sf0.1-eq | sf1-eq |",
        "| --- | --- | --- |",
    ]
    for k in ("exact_s", "minhash_cand_s", "minhash_verify_s", "simhash_s",
              "emb_cand_s", "emb_nd_s", "ann_lsh_s", "ann_ivf_s", "mih_s",
              "cc_s", "capped_s", "rep_s", "decon_s", "pack_s", "mm_s",
              "asof_s", "range_s",
              "trap_s", "recrawl_s", "sitemap_s", "align_s", "lm_s",
              "dsir_s"):
        lines.append(f"| {k[:-2]} | {r1[k]} | {r10[k]} |")
    lines += [
        "",
        "`decon_flagged` grows superlinearly BY CONSTRUCTION: the "
        "benchmark subset is 5% of the corpus, so its gram set grows "
        "10x too and each doc faces 10x the contamination surface "
        "(production benchmark suites are fixed-size; the linear "
        "check is `decon_rows`/`decon_bench_grams`). `mm_components` "
        "COLLAPSES at 10x because the 3-word phrase space (20^3 = 8k) "
        "saturates under 50k docs — accidental caption collisions "
        "chain blocks into giant components; the evidence is that "
        "`mm_rounds` stays 3 anyway (contraction rounds track "
        "component diameter, not size). "
        "`range_rows` grows ~100x by design: BOTH join sides scale 10x "
        "and the containment join's OUTPUT is the cross product of "
        "overlapping (point, interval) pairs — that's result size, not "
        "candidate overhead (the bucket equi-join's probe cost stays "
        "linear per side). `minhash_pairs`/`emb_neardups` pin the "
        "planted-duplicate count exactly (one per doc/vector). "
        "`capped_starred` grows ~100x BY CONSTRUCTION — it counts the "
        "within-clique pairs the max_bucket cap REPLACED with hub "
        "stars; the engine-emitted `capped_pairs` staying ~linear on "
        "the same clique is the round-4 fix for the round-3 "
        "98.7x-banded-volume watch item.",
        "",
        "Checks (value vs limit): "
        + ", ".join(f"{k}={v} (<= {lim})" for k, (v, lim) in checks.items()),
        "",
        "Result: " + ("**PASS**" if not failures else f"**FAIL** {failures}"),
    ]
    with open("/root/repo/BENCH/SF1.md", "w") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(lines))
    if failures:
        sys.exit(1)


if __name__ == "__main__":
    main()
