"""Operator-level tests: dedup, similarity, text stats, multimodal plumbing."""

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from sitecheck_spark.operators import dedup, similarity
from sitecheck_spark.functions import textstats
from sitecheck_spark import multimodal


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en"),
        (1, "the quick brown fox jumps over the lazy dog", "en"),      # exact dup of 0
        (2, "the quick brown fox leaps over the lazy dog", "en"),      # near dup of 0
        (3, "completely different text about spark engines and shuffles", "en"),
        (4, "der schnelle braune fuchs und die faule katze", "de"),
        (5, "le renard brun rapide et le chien paresseux", "fr"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def test_exact_dedup(docs):
    out = {r["fingerprint"]: (r["doc_id"], r["n_copies"]) for r in dedup.exact_dedup(docs).collect()}
    assert len(out) == 5  # 6 docs, one exact pair
    assert (0, 2) in out.values()


def test_jaccard_pairs(docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
             dedup.jaccard_pairs(docs, threshold=0.5).collect()}
    assert pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and pairs[(0, 2)] > 0.7
    assert (0, 3) not in pairs


def test_minhash_lsh_finds_dups(docs):
    pairs = {(r["doc_a"], r["doc_b"]) for r in dedup.minhash_lsh_pairs(docs).collect()}
    assert (0, 1) in pairs          # identical docs always collide
    assert (0, 4) not in pairs and (0, 5) not in pairs


def test_minhash_wide_equals_seed_explode_long_form(docs):
    """The one-pass wide signature path (all minima from sliced digests,
    single groupBy) must reproduce the naive seed-exploded computation of
    the same hash family exactly."""
    got = {(r["doc_id"], r["seed"]): r["sig"]
           for r in dedup.minhash_signatures(docs).collect()}
    toks = dedup.doc_shingles(docs, 3)
    digest = F.concat(
        F.md5(F.concat_ws(":", F.lit(0), F.col("token"))),
        F.md5(F.concat_ws(":", F.lit(1), F.col("token"))),
    )
    want = {
        (r["doc_id"], r["seed"]): r["sig"]
        for r in (
            toks.select(
                "doc_id", digest.alias("d"),
                F.explode(F.sequence(F.lit(0), F.lit(dedup.N_MINHASH - 1))).alias("seed"),
            )
            .groupBy("doc_id", "seed")
            .agg(F.min(F.expr("substring(d, 1 + 8 * seed, 8)")).alias("sig"))
            .collect()
        )
    }
    assert got == want


def test_jaccard_stop_token_guard(spark):
    """max_token_freq prunes ubiquitous tokens BEFORE the self-join: a token
    in every doc otherwise manufactures pairs (and quadratic join rows)."""
    rows = [
        (0, "common alpha beta"),
        (1, "common alpha beta"),
        (2, "common gamma delta"),
        (3, "common epsilon zeta"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    unguarded = {(r["doc_a"], r["doc_b"]) for r in
                 dedup.jaccard_pairs(docs, threshold=0.2).collect()}
    guarded = {(r["doc_a"], r["doc_b"]) for r in
               dedup.jaccard_pairs(docs, threshold=0.2, max_token_freq=3).collect()}
    assert (0, 1) in guarded                      # real near-dups survive
    assert (2, 3) in unguarded and (2, 3) not in guarded  # 'common'-only pair dies
    assert guarded < unguarded


def test_simhash_properties(docs):
    sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
    assert sh[0] == sh[1]  # identical text -> identical simhash
    ham_near = bin(sh[0] ^ sh[2]).count("1")
    ham_far = bin(sh[0] ^ sh[4]).count("1")
    assert ham_near < ham_far


def test_simhash_near_pairs_exactness(spark):
    """q_dedup_simhash has no DuckDB twin (xxhash64) — pin its semantics in
    pytest instead: the operator's output must EQUAL the from-first-
    principles recomputation (same-band candidates filtered by exact
    hamming) over the collected simhash values."""
    rows = [(i, f"sentence number {i % 7} about topic {i % 5} repeated words here",)
            for i in range(40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}

    def bands(v):
        return {(i, (v >> (16 * i)) & 0xFFFF) for i in range(4)}

    want = set()
    ids = sorted(sh)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            if bands(sh[a]) & bands(sh[b]) and bin(sh[a] ^ sh[b]).count("1") <= 8:
                want.add((a, b))
    got = {(r["doc_a"], r["doc_b"]) for r in
           dedup.simhash_near_pairs(docs, max_hamming=8).collect()}
    assert got == want and want  # non-vacuous: the corpus must produce pairs


def test_approx_distinct_within_5pct(spark):
    """q_approx_distinct is rows-only (sketches differ across engines) —
    bound the estimate against the exact distinct count instead."""
    df = spark.range(0, 20000).select((F.col("id") % 3).alias("g"),
                                      (F.col("id") * 7919 % 4999).alias("v"))
    got = {r["g"]: r["approx"] for r in
           df.groupBy("g").agg(F.approx_count_distinct("v", 0.01).alias("approx")).collect()}
    exact = {r["g"]: r["n"] for r in
             df.groupBy("g").agg(F.countDistinct("v").alias("n")).collect()}
    for g in exact:
        assert abs(got[g] - exact[g]) / exact[g] < 0.05


def _recall_vs_brute_force(spark, multi_probe, seed=7, n=300, dim=16, k=3, nq=8):
    rng = np.random.default_rng(seed)
    # clustered corpus: ANN recall on pure-noise data is meaningless
    centers = rng.normal(size=(12, dim))
    vecs = (centers[rng.integers(0, 12, n)] +
            rng.normal(scale=0.15, size=(n, dim))).astype("float32")
    pdf = pd.DataFrame({"vec_id": range(n), "embedding": [v.tolist() for v in vecs]})
    emb = spark.createDataFrame(pdf, "vec_id long, embedding array<float>")
    q = emb.filter(f"vec_id < {nq}")
    exact = {(r["query_id"], r["neighbor_id"]) for r in
             similarity.brute_force_topk(emb, q, k=k).collect()}
    approx = {(r["query_id"], r["neighbor_id"]) for r in
              similarity.lsh_topk(emb, q, k=k, dim=dim, multi_probe=multi_probe).collect()}
    return len(exact & approx) / len(exact)


def test_lsh_multi_probe_recall(spark):
    """Recall@k of the LSH ANN vs the brute-force baseline; multi-probe must
    not lose recall and the exact-bucket floor must be meaningful."""
    r0 = _recall_vs_brute_force(spark, multi_probe=False)
    r1 = _recall_vs_brute_force(spark, multi_probe=True)
    assert r1 >= r0
    assert r0 >= 0.5
    assert r1 >= 0.8


def test_embedding_near_dup_recall(spark):
    """LSH-bucketed near-dup pairs vs exact all-pairs cosine at the same
    threshold: no false positives (cosine recomputed in-operator), and
    recall over planted duplicates must be high."""
    rng = np.random.default_rng(3)
    base = rng.normal(size=(60, 16)).astype("float32")
    dup = base[:20] + rng.normal(scale=0.01, size=(20, 16)).astype("float32")
    vecs = np.vstack([base, dup])
    pdf = pd.DataFrame({"vec_id": range(80), "embedding": [v.tolist() for v in vecs]})
    emb = spark.createDataFrame(pdf, "vec_id long, embedding array<float>")
    got = {(r["vec_a"], r["vec_b"]) for r in
           similarity.embedding_near_dup_pairs(emb, threshold=0.95, n_planes=6).collect()}
    norm = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = norm @ norm.T
    want = {(a, b) for a in range(80) for b in range(a + 1, 80) if sims[a, b] >= 0.95}
    assert got <= want                      # bucketing never invents pairs
    planted = {(i, 60 + i) for i in range(20)} & want
    found = got & planted
    assert len(found) / len(planted) >= 0.7  # recall over planted dups


def _clustered_emb(spark, seed=7, n=300, dim=16, n_centers=12, scale=0.15):
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_centers, dim))
    vecs = (centers[rng.integers(0, n_centers, n)] +
            rng.normal(scale=scale, size=(n, dim))).astype("float32")
    pdf = pd.DataFrame({"vec_id": range(n), "embedding": [v.tolist() for v in vecs]})
    return spark.createDataFrame(pdf, "vec_id long, embedding array<float>")


def test_ivf_topk_recall(spark):
    """IVF-flat ANN vs the brute-force baseline on a clustered corpus:
    recall must clear a floor at nprobe=2, and growing nprobe under the
    SAME trained quantizer probes a superset of lists, so recall is
    monotone in nprobe by construction."""
    emb = _clustered_emb(spark)
    q = emb.filter("vec_id < 8")
    exact = {(r["query_id"], r["neighbor_id"]) for r in
             similarity.brute_force_topk(emb, q, k=3).collect()}
    cents = similarity.ivf_fit(emb, n_vectors=300)

    def recall(nprobe):
        got = {(r["query_id"], r["neighbor_id"]) for r in
               similarity.ivf_topk(emb, q, k=3, nprobe=nprobe,
                                   centroids=cents).collect()}
        return len(exact & got) / len(exact)

    r1, r2, r4 = recall(1), recall(2), recall(4)
    assert r1 <= r2 <= r4       # superset probes never lose neighbors
    assert r2 >= 0.6            # clustered-data floor (measured 1.0)


def test_ivf_gemm_assignment_matches_jvm(spark):
    """The mapInPandas GEMM assignment (the >10^3-centroid scale path) must
    agree with the JVM broadcast-join path on well-separated clusters."""
    emb = _clustered_emb(spark, seed=11, n=120, dim=8, n_centers=5, scale=0.05)
    cents = similarity.ivf_fit(emb, n_centroids=5, iters=2, n_vectors=120)
    jvm = {(r["vec_id"], r["centroid_id"]) for r in
           similarity._assign_nearest(emb, cents).collect()}
    gemm = {(r["vec_id"], r["centroid_id"]) for r in
            similarity._assign_nearest_gemm(emb, cents).collect()}
    assert jvm == gemm and len(jvm) == 120


def test_ivf_gemm_tie_and_zero_norm_parity(spark):
    """Adversarial parity: exact-score ties (duplicate centroids) must
    resolve to the smallest centroid_id on BOTH assignment paths, and
    zero-norm vectors/centroids (clamped to score exactly 0.0 — plain
    cosine would raise DIVIDE_BY_ZERO under ANSI) must route identically —
    the edge cases where the GEMM path could silently diverge from the JVM
    path it stands in for."""
    emb = spark.createDataFrame(
        [(1, [1.0, 0.0]),    # ties centroids 0 and 2 exactly at score 1
         (2, [0.0, 0.0]),    # zero-norm vector: every score 0 -> min id
         (3, [0.0, 1.0]),    # orthogonal to all: every score 0 -> min id
         (4, [-1.0, 0.0])],  # zero-norm centroid's 0 beats the -1 scores
        "vec_id long, embedding array<float>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 0.0]), (2, [1.0, 0.0])],
        "centroid_id long, centroid array<double>",
    )
    jvm = {(r["vec_id"], r["centroid_id"]) for r in
           similarity._assign_nearest(emb, cents).collect()}
    gemm = {(r["vec_id"], r["centroid_id"]) for r in
            similarity._assign_nearest_gemm(emb, cents).collect()}
    assert jvm == gemm
    assert jvm == {(1, 0), (2, 0), (3, 0), (4, 1)}


def test_ivf_fit_deterministic_and_complete(spark):
    """Training twice on the same input yields the same quantizer, every
    vector lands in exactly one inverted list, and centroid dim matches."""
    emb = _clustered_emb(spark, seed=3, n=90, dim=8, n_centers=4)
    c1 = {r["centroid_id"]: r["centroid"] for r in
          similarity.ivf_fit(emb, n_centroids=6, n_vectors=90).collect()}
    c2 = {r["centroid_id"]: r["centroid"] for r in
          similarity.ivf_fit(emb, n_centroids=6, n_vectors=90).collect()}
    assert c1 == c2
    assert all(len(v) == 8 for v in c1.values())
    lists = similarity._assign_nearest(
        emb, similarity.ivf_fit(emb, n_centroids=6, n_vectors=90)).collect()
    assert len(lists) == 90 and len({r["vec_id"] for r in lists}) == 90
    assert {r["centroid_id"] for r in lists} <= set(c1)


def test_brute_force_topk_vs_numpy(spark):
    rng = np.random.default_rng(11)
    vecs = rng.normal(size=(30, 8)).astype("float32")
    pdf = pd.DataFrame({"vec_id": range(30), "embedding": [v.tolist() for v in vecs]})
    emb = spark.createDataFrame(pdf, "vec_id long, embedding array<float>")
    got = similarity.brute_force_topk(emb, emb.filter("vec_id < 3"), k=2).collect()

    norm = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    sims = norm @ norm.T
    np.fill_diagonal(sims, -np.inf)
    for q in range(3):
        want = list(np.argsort(-sims[q])[:2])
        got_q = [r["neighbor_id"] for r in sorted(
            (r for r in got if r["query_id"] == q), key=lambda r: r["rank"])]
        assert got_q == want


def test_lsh_topk_recall(spark):
    rng = np.random.default_rng(5)
    vecs = rng.normal(size=(100, 16)).astype("float32")
    vecs[50] = vecs[0] + rng.normal(scale=0.01, size=16).astype("float32")  # planted near-dup
    pdf = pd.DataFrame({"vec_id": range(100), "embedding": [v.tolist() for v in vecs]})
    emb = spark.createDataFrame(pdf, "vec_id long, embedding array<float>")
    got = similarity.lsh_topk(emb, emb.filter("vec_id = 0"), k=1, dim=16).collect()
    assert got and got[0]["neighbor_id"] == 50  # near-identical vector shares the bucket


def test_spelling_context_jvm_matches_python(spark):
    """check_spelling's JVM locate+substring context must be byte-identical
    to the pure-Python spelling_context used by golden — including windows
    clipped at the string start and words at the very end."""
    from sitecheck_spark import checkers

    texts = [
        "xqzt right at the start of this text then more words",
        "some words before the wrongg word and more after it",
        "a long sentence that ends with the token zzyzx",
        "Mixed CASE Wrongg with punctuation, wrongg repeated twice!",
    ]
    known = {"some", "words", "before", "word", "and", "more", "after",
             "right", "the", "start", "this", "text", "then", "long",
             "sentence", "that", "ends", "with", "token", "mixed", "case",
             "punctuation", "repeated", "twice"}
    parsed = spark.createDataFrame(
        [(f"u{i}", 0, t) for i, t in enumerate(texts)],
        "url string, wave int, extracted_text string",
    )
    dictionary = spark.createDataFrame([(w,) for w in sorted(known)], "word string")
    got = {}
    for r in checkers.check_spelling(parsed, dictionary).collect():
        got.setdefault(r["url"], []).append(r["detail"])
    for i, t in enumerate(texts):
        want = checkers.misspelling_details(t, known)
        assert sorted(got.get(f"u{i}", [])) == sorted(want), t


def test_except_distinct_with_duplicates(spark):
    """q_except regression: with duplicates in `a` of a value also in `b`,
    exceptAll().distinct() resurrects the value (it subtracts COUNTS);
    subtract() is true EXCEPT DISTINCT and must drop it entirely."""
    a = spark.createDataFrame([(1,), (1,), (2,)], "id long")
    b = spark.createDataFrame([(1,)], "id long")
    assert {r["id"] for r in a.subtract(b).collect()} == {2}
    # the old implementation would have produced {1, 2} — pin the difference
    wrong = {r["id"] for r in a.exceptAll(b).distinct().collect()}
    assert wrong == {1, 2}


def test_lang_id(docs):
    preds = {r["doc_id"]: r["pred_lang"] for r in textstats.lang_id(docs).collect()}
    assert preds[0] == "en" and preds[4] == "de" and preds[5] == "fr"


def test_multimodal_features_schema_and_determinism(spark, docs):
    media = docs.select(F.col("doc_id").alias("media_id"),
                        F.encode("text", "utf-8").alias("payload"))
    out1 = multimodal.extract_image_features(media).orderBy("media_id").collect()
    out2 = multimodal.extract_image_features(media).orderBy("media_id").collect()
    assert out1 == out2
    assert all(r["decode_ok"] for r in out1)
    assert all(r["n_bytes"] > 0 and len(r["sha256"]) == 64 for r in out1)


def test_multimodal_real_codec_stub_degrades_gracefully(spark, docs):
    media = docs.select(F.col("doc_id").alias("media_id"),
                        F.encode("text", "utf-8").alias("payload"))
    out = multimodal.extract_image_features(media, use_real_codec=True).collect()
    assert all(not r["decode_ok"] and r["width"] is None for r in out)


def test_frame_sampling_fanout(spark):
    media = spark.createDataFrame(
        [(1, b"x" * 1000, 4000), (2, b"y" * 50, 400)],
        "media_id long, payload binary, duration_ms int",
    )
    out = multimodal.sample_frames(media).collect()
    per = {}
    for r in out:
        per.setdefault(r["media_id"], []).append(r["frame_idx"])
    assert len(per[1]) == 10  # 4000ms / (40ms*10)
    assert len(per[2]) == 1


def test_pagerank_hub_overflow_safe(spark):
    """A hub with ~1e5x-average in-rank: the naive (85*s) div 100 damping
    would push 85*s past Long.MAX (silent wrap in non-ANSI Spark); the
    decomposed 85*(s div 100) + (85*(s mod 100)) div 100 must equal the
    exact big-int result."""
    from sitecheck_spark.operators.graph import R0, pagerank

    n = 120_000  # spokes, all pointing at node 0
    nodes = spark.range(n + 1).select(F.col("id").alias("node"))
    edges = spark.range(1, n + 1).select(
        F.col("id").alias("src"), F.lit(0).cast("long").alias("dst")
    )
    pr = {r["node"]: r["pr"]
          for r in pagerank(nodes, edges, iterations=1).collect()}
    s = n * R0  # every spoke has outdeg 1 and initial rank R0
    assert 85 * s > 2**63 - 1  # the naive product would have wrapped
    expected_hub = 15 * R0 // 100 + (85 * s) // 100  # Python big-int exact
    assert pr[0] == expected_hub
    assert pr[1] == 15 * R0 // 100  # spokes get no in-links


def test_pagerank_50_iterations_lineage_bounded(spark):
    """Production iteration counts must not balloon plan depth: with
    checkpoint_every=10 the final plan covers at most 10 iterations of
    lineage, so its join count stays bounded regardless of total
    iterations."""
    from sitecheck_spark.operators.graph import pagerank

    nodes = spark.range(8).select(F.col("id").alias("node"))
    edges = spark.range(8).select(
        F.col("id").alias("src"), ((F.col("id") + 1) % 8).alias("dst")
    )
    ranks = pagerank(nodes, edges, iterations=50, checkpoint_every=10)
    plan = ranks._jdf.queryExecution().optimizedPlan().toString()
    # 3 joins per un-checkpointed iteration; 50 iters with ckpt@10 leaves
    # <= 10 live iterations in the final plan
    assert plan.count("Join") <= 3 * 10 + 2, plan.count("Join")
    out = {r["node"]: r["pr"] for r in ranks.collect()}
    assert len(out) == 8 and all(v > 0 for v in out.values())
    # ring graph, uniform degree: ranks converge to exactly R0 each
    vals = set(out.values())
    assert len(vals) == 1


def test_pagerank_noop_scope_stays_lazy(spark):
    """With n_nodes set but a scope that leaves the shuffle width as it is
    (8 nodes against the session's 4 partitions), pagerank() has nothing to
    materialize inside the scope: the call itself launches no Spark job,
    and its ranks equal the unscoped ones."""
    from sitecheck_spark.functions.tuning import sized_partitions
    from sitecheck_spark.operators.graph import (
        _ROUND_ROWS_PER_PARTITION,
        pagerank,
    )

    from conftest import jobs_launched_by

    nodes = spark.range(8).select(F.col("id").alias("node"))
    edges = spark.range(8).select(
        F.col("id").alias("src"), ((F.col("id") * 3 + 1) % 8).alias("dst")
    )
    assert sized_partitions(spark, 8, _ROUND_ROWS_PER_PARTITION) == int(
        spark.conf.get("spark.sql.shuffle.partitions"))  # the scope is a no-op
    ranks, jobs = jobs_launched_by(
        spark, lambda: pagerank(nodes, edges, iterations=5, n_nodes=8))
    assert jobs == []
    assert sorted(ranks.collect()) == sorted(
        pagerank(nodes, edges, iterations=5).collect())


def test_connected_components_vs_union_find(spark):
    """Seeded random graph (with self-loops, duplicate and reversed edges)
    against a pure-Python union-find: labels must equal the exact
    min-member-per-component, including isolated nodes."""
    import random

    from sitecheck_spark.operators.graph import connected_components

    rng = random.Random(421)
    n = 300
    raw = [(rng.randrange(n), rng.randrange(n)) for _ in range(260)]
    raw += [(i, i) for i in range(0, n, 37)]  # self-loops
    raw += [(b, a) for a, b in raw[:30]]  # reversed duplicates

    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in raw:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {x: find(x) for x in range(n)}
    # union-find roots are min ids: unions always hang max under min
    nodes = spark.range(n).select(F.col("id").alias("node"))
    edges = spark.createDataFrame(raw, "src long, dst long")
    got = {
        r["node"]: r["component"]
        for r in connected_components(nodes, edges).collect()
    }
    assert got == expected


def test_connected_components_path_graph_converges_logarithmically(spark):
    """A 200-node path is the propagation worst case (diameter 199):
    pointer jumping must converge far below diameter rounds — and
    max_rounds=2 must raise rather than return a partial labeling."""
    import pytest as _pytest

    from sitecheck_spark.operators.graph import connected_components

    n = 200
    nodes = spark.range(n + 1).select(F.col("id").alias("node"))  # +isolate
    edges = spark.range(n - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    out = {
        r["node"]: r["component"]
        for r in connected_components(nodes, edges, max_rounds=14).collect()
    }
    assert all(out[i] == 0 for i in range(n))
    assert out[n] == n  # isolated node labels itself
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(nodes, edges, max_rounds=2).collect()


def test_lsh_sizing_hint_skips_count_job(spark):
    """The planes_for auto-sizing probe (embeddings.count()) must not run
    when the caller threads an n_vectors hint, and the single-probe
    lsh_topk default (fixed 8 planes) must not need the corpus size at
    all — a derived (non-scan) input would otherwise execute fully just
    to size the signature."""
    rng = np.random.default_rng(9)
    vecs = rng.normal(size=(40, 8)).astype("float32")
    pdf = pd.DataFrame({"vec_id": range(40), "embedding": [v.tolist() for v in vecs]})
    emb = spark.createDataFrame(pdf, "vec_id long, embedding array<float>")
    q = emb.filter("vec_id < 2")

    def _boom():
        raise AssertionError("sizing probe ran embeddings.count()")

    emb.count = _boom  # shadow the method on this instance
    # hinted auto-sizing paths: plan builds without a count job
    similarity.embedding_near_dup_pairs(emb, threshold=0.9, n_vectors=40)
    similarity.lsh_topk(emb, q, k=1, dim=8, multi_probe=True, n_vectors=40)
    # single-probe default: fixed planes, corpus size never consulted
    similarity.lsh_topk(emb, q, k=1, dim=8)
    # unhinted auto-sizing still probes (documented parquet-only cheapness)
    with pytest.raises(AssertionError, match="sizing probe"):
        similarity.embedding_near_dup_pairs(emb, threshold=0.9)


def test_findings_pass_equals_separate_checkers(spark):
    """The fused single-scan findings builder (crawl's hot path) must emit
    the exact multiset of rows the three separate checker builders union
    to."""
    from sitecheck_spark import checkers
    from sitecheck_spark.extract import PARSED_SCHEMA, parse_pages_batch
    from sitecheck_spark.sources.corpus import make_pages_pdf

    pages = spark.createDataFrame(
        make_pages_pdf(40),
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    parsed = (
        pages.groupBy("url")
        .agg(F.max_by("html", "warc_ts").alias("html"))
        .select(
            "url", F.lit("h").alias("netloc"), F.lit(0).alias("wave"),
            F.lit(0).alias("depth"), F.lit(0.0).alias("priority"),
            F.lit("").alias("referrer"), F.lit(0).alias("redirects"),
            F.lit("GET").alias("verb"), F.lit("").alias("post_data"), "html",
        )
        .mapInPandas(parse_pages_batch, PARSED_SCHEMA)
    )
    fused = [
        (r["module"], r["url"], r["wave"], r["detail"])
        for r in checkers.findings_pass(parsed).collect()
    ]
    want = []
    for r in checkers.check_regex(parsed).collect():
        want.append(("regex", r["url"], r["wave"], r["match"]))
    for r in checkers.check_comments(parsed).collect():
        want.append(("comments", r["url"], r["wave"], r["comment"]))
    for r in checkers.check_metadata(parsed).collect():
        want.append(("metadata", r["url"], r["wave"], r["issue"]))
    assert sorted(fused) == sorted(want)
    assert len(fused) > 0  # corpus must actually exercise all three
    assert {m for m, *_ in fused} == {"regex", "comments", "metadata"}


def test_check_readability_equals_pure_readability(spark):
    """C7's column builder (checkers.with_flesch, also behind
    q_readability) must equal the pure readability() row by row, exactly:
    the parsed corpus texts plus edge cases (no words, no sentence mark,
    mixed case, non-ASCII letters, digits only)."""
    from sitecheck_spark import checkers
    from sitecheck_spark.extract import PARSED_SCHEMA, parse_pages_batch
    from sitecheck_spark.sources.corpus import make_pages_pdf

    pages = spark.createDataFrame(
        make_pages_pdf(40),
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    corpus = (
        pages.select(
            "url", F.lit("h").alias("netloc"), F.lit(0).alias("wave"),
            F.lit(0).alias("depth"), F.lit(0.0).alias("priority"),
            F.lit("").alias("referrer"), F.lit(0).alias("redirects"),
            F.lit("GET").alias("verb"), F.lit("").alias("post_data"), "html",
        )
        .mapInPandas(parse_pages_batch, PARSED_SCHEMA)
    )
    texts = [r["extracted_text"] for r in corpus.collect()]
    texts += ["", "   ", "1234 5678.", "no sentence mark here",
              "Hello World. SHOUTING?! yes", "Crème brûlée, naïve café.",
              "a e i o u y. rhythm."]
    rows = [(f"u{i}", 0, t) for i, t in enumerate(texts)]
    parsed = spark.createDataFrame(rows, "url string, wave int, extracted_text string")
    got = {r["url"]: r["flesch_score"]
           for r in checkers.check_readability(parsed).collect()}
    assert len(got) == len(rows)
    for url, _, text in rows:
        assert got[url] == checkers.readability(text), (url, text)
    # both branches exercised: scored texts (most) and wordless ones
    scores = list(got.values())
    assert None in scores
    assert sum(s is not None for s in scores) > len(scores) // 2


def test_wave_findings_pass_single_scan_equality(spark):
    """The crawl's one-scan wave findings builder must equal the separate
    builders' union: broken_link for status=404 rows, over-cap redirects,
    C2/C3/C5 (+C4 with dictionary) for status=200 rows ONLY — a 404
    passthrough row has empty parse fields and must not surface
    missing_title/metadata findings."""
    from sitecheck_spark import checkers
    from sitecheck_spark.extract import PARSED_SCHEMA, parse_pages_batch
    from sitecheck_spark.sources.corpus import make_dictionary_pdf, make_pages_pdf

    pages = spark.createDataFrame(
        make_pages_pdf(50),
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    dictionary = spark.createDataFrame(make_dictionary_pdf())
    latest = pages.groupBy("url").agg(F.max_by("html", "warc_ts").alias("html"))
    # null-html rows emulate fetch misses; redirects=4 pushes every
    # meta-refresh page over the max_redirects=4 cap below
    fetched = latest.select(
        "url", F.lit("h").alias("netloc"), F.lit(2).alias("wave"),
        F.lit(1).alias("depth"), F.lit(0.0).alias("priority"),
        F.lit("ref").alias("referrer"), F.lit(4).alias("redirects"),
        F.lit("GET").alias("verb"), F.lit("").alias("post_data"),
        F.when(F.xxhash64("url") % 5 == 0, F.lit(None)).otherwise(F.col("html")).alias("html"),
    )
    parsed = fetched.mapInPandas(parse_pages_batch, PARSED_SCHEMA)
    got_df = checkers.wave_findings_pass(parsed, 4, dictionary)
    got = [(r["module"], r["url"], r["wave"], r["detail"], r["referrer"])
           for r in got_df.collect()]
    ok = parsed.filter(F.col("status") == 200)
    want = []
    for r in parsed.filter(F.col("status") == 404).collect():
        want.append(("broken_link", r["url"], r["wave"], "404", r["referrer"]))
    for r in ok.filter(F.col("redirect").isNotNull()).collect():
        want.append(("redirect", r["url"], r["wave"],
                     "max_redirects_exceeded " + r["redirect"], r["referrer"]))
    for r in checkers.findings_pass(ok).collect():
        want.append((r["module"], r["url"], r["wave"], r["detail"], ""))
    for r in checkers.check_spelling(ok, dictionary).collect():
        want.append(("spelling", r["url"], r["wave"], r["detail"], ""))
    assert sorted(got) == sorted(want)
    mods = {m for m, *_ in got}
    assert {"broken_link", "redirect", "metadata", "spelling"} <= mods


def test_snapshot_diff_classification(spark):
    """added / removed / changed / unchanged-dropped, incl. null values as
    real states (null -> 7.0 is 'changed'; null -> null is unchanged)."""
    from sitecheck_spark.operators.diff import snapshot_diff

    old = spark.createDataFrame(
        [(1, 5.0), (2, 3.0), (3, None), (4, None), (5, 9.0)],
        "k long, v double",
    )
    new = spark.createDataFrame(
        [(1, 5.0), (2, 4.0), (3, 7.0), (4, None), (6, 1.0)],
        "k long, v double",
    )
    got = {(r["k"], r["change"], r["old_value"], r["new_value"])
           for r in snapshot_diff(old, new, ["k"], "v").collect()}
    assert got == {
        (2, "changed", 3.0, 4.0),
        (3, "changed", None, 7.0),
        (5, "removed", 9.0, None),
        (6, "added", None, 1.0),
    }


def test_stratified_sample_deterministic_and_rate_bound(spark):
    """Membership is a pure key predicate: identical across reruns and
    repartitions, 100%% strata keep everything, 0%% (absent) strata keep
    nothing, and realized rates land near the target."""
    from pyspark.sql import functions as F
    from sitecheck_spark.operators.sampling import stratified_sample

    df = spark.range(2000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 4 == 0, "en")
        .when(F.col("id") % 4 == 1, "fr")
        .when(F.col("id") % 4 == 2, "de")
        .otherwise("zh").alias("lang"),
    )
    rates = {"en": 30, "fr": 100, "de": 0}
    s1 = stratified_sample(df, "lang", rates, "doc_id")
    s2 = stratified_sample(df.repartition(7), "lang", rates, "doc_id")
    ids1 = {r["doc_id"] for r in s1.collect()}
    ids2 = {r["doc_id"] for r in s2.collect()}
    assert ids1 == ids2  # partition-layout independent
    by_lang = {r["lang"]: r["n"] for r in
               s1.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert by_lang.get("fr") == 500          # 100%: every fr row
    assert "de" not in by_lang               # 0%: none
    assert "zh" not in by_lang               # default_rate=0: none
    assert 0.2 <= by_lang["en"] / 500 <= 0.4  # 30% +- sampling noise


def test_repetition_features_exact_small(spark):
    """Hand-checkable ratios, smallest-token argmax tie-break, and the
    degenerate empty / single-word documents."""
    from sitecheck_spark.functions.textstats import repetition_features

    docs = spark.createDataFrame(
        [
            # 'b b a a c' -> a and b tie at 2; tie-break -> 'a'
            (1, "b b a a c"),
            (2, ""),        # no words at all
            (3, "solo"),    # one word, no bigrams
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in repetition_features(docs).collect()}
    r1 = rows[1]
    assert (r1["n_words"], r1["n_distinct"]) == (5, 3)
    assert r1["top_word"] == "a" and r1["top_word_ratio"] == 2 / 5
    # bigrams: 'b b','b a','a a','a c' all unique -> tie-break 'a a'
    assert r1["top_bigram"] == "a a" and r1["top_bigram_ratio"] == 1 / 4
    assert r1["dup_word_ratio"] == 1 - 3 / 5
    assert r1["keep"] is False  # below the 10-word floor
    r2 = rows[2]
    assert r2["n_words"] == 0 and r2["top_word"] is None
    assert r2["top_bigram"] is None and r2["keep"] is False
    r3 = rows[3]
    assert (r3["n_words"], r3["top_word"]) == (1, "solo")
    assert r3["top_bigram"] is None and r3["keep"] is False


def test_pack_sequences_invariants(spark):
    """Every bin except a stream's last holds exactly max_len tokens with
    no gaps or overlaps; each doc's slices tile [0, n_tokens); zero-token
    docs vanish."""
    from sitecheck_spark.operators.packing import pack_sequences

    rows = [(i % 2, i, [0, 5, 130, 128, 1, 64, 200, 17, 0, 99][i])
            for i in range(10)]
    df = spark.createDataFrame(rows, "stream long, ord long, n long")
    out = pack_sequences(df, "stream", "ord", "n", 64).collect()
    assert all(r["doc_tok_end"] > r["doc_tok_start"] for r in out)
    # doc slices tile the doc exactly
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["order"], []).append(
            (r["doc_tok_start"], r["doc_tok_end"]))
    n_of = {i: rows[i][2] for i in range(10)}
    assert set(by_doc) == {i for i in range(10) if n_of[i] > 0}
    for ordv, slices in by_doc.items():
        slices.sort()
        assert slices[0][0] == 0 and slices[-1][1] == n_of[ordv]
        assert all(a[1] == b[0] for a, b in zip(slices, slices[1:]))
    # bins are full (== max_len) except each stream's last
    fill = {}
    for r in out:
        key = (r["stream"], r["bin"])
        fill[key] = fill.get(key, 0) + r["doc_tok_end"] - r["doc_tok_start"]
    for stream in {r["stream"] for r in out}:
        bins = sorted(b for (s, b) in fill if s == stream)
        assert bins == list(range(len(bins)))  # contiguous from 0
        for b in bins[:-1]:
            assert fill[(stream, b)] == 64
        assert 0 < fill[(stream, bins[-1])] <= 64
    # bin_tok_start is consistent with cumulative placement
    by_bin = {}
    for r in out:
        by_bin.setdefault((r["stream"], r["bin"]), []).append(r)
    for parts in by_bin.values():
        parts.sort(key=lambda r: r["bin_tok_start"])
        pos = parts[0]["bin_tok_start"]
        for r in parts:
            assert r["bin_tok_start"] == pos
            pos += r["doc_tok_end"] - r["doc_tok_start"]


def test_over_cap_dictionary_raises(spark):
    """The spelling dictionary is collected into a plan literal by both
    crawl() and wave_findings_pass; one row over checkers.DICT_WORDS_CAP
    must raise with the row count and the cap, not collect it."""
    from sitecheck_spark import checkers
    from sitecheck_spark.crawl import CrawlConfig, crawl
    from sitecheck_spark.sources.corpus import make_pages_pdf, make_seeds_pdf

    cap = checkers.DICT_WORDS_CAP
    words = lambda n: spark.range(n).select(
        F.concat(F.lit("w"), F.col("id").cast("string")).alias("word"))
    assert len(checkers.collect_dictionary(words(cap))) == cap
    over = words(cap + 1)
    msg = f"{cap + 1} rows, over the cap of {cap}"
    with pytest.raises(ValueError, match=msg):
        checkers.collect_dictionary(over)
    parsed = spark.createDataFrame([], "url string, wave int")
    with pytest.raises(ValueError, match=msg):
        checkers.wave_findings_pass(parsed, 4, over)
    pages = spark.createDataFrame(
        make_pages_pdf(4),
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    with pytest.raises(ValueError, match=msg):
        crawl(spark, pages, make_seeds_pdf().url.tolist(),
              CrawlConfig(max_waves=1), dictionary=over)


def test_knuth_bucket_honors_mod_2_32_for_huge_keys(spark):
    """keys >= ~3.47e9 overflow bigint in key*2654435761; the decimal(38,0)
    arithmetic must keep the documented (key * K) mod 2^32 contract over
    the whole bigint key range, stay bit-identical to the old bigint path
    for in-range keys, and keep the bigint column type."""
    from pyspark.sql import functions as F
    from sitecheck_spark.operators.sampling import KNUTH, MOD, knuth_bucket

    keys = [0, 1, 12345, 3_469_000_000, 2**40 + 7, 2**62 + 123]
    df = spark.createDataFrame([(k,) for k in keys], "k long")
    out = df.select("k", knuth_bucket(F.col("k")).alias("b"))
    assert dict(out.dtypes)["b"] == "bigint"
    got = {r["k"]: r["b"] for r in out.collect()}
    for k in keys:
        assert got[k] == (k * KNUTH) % MOD % 100, k
