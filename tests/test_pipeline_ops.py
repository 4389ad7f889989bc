"""Behavioral tests for the training-data pipeline operators: planted
near-duplicates must be caught (dedup recall), LSH ANN must agree with
brute force on shared candidates, fingerprints must be order-sensitive."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ddsketch_spark.operators import dedup as dd
from ddsketch_spark.operators import similarity as sim
from ddsketch_spark.operators import text_ops


@pytest.fixture(scope="module")
def docs(spark, sf_correct):
    return spark.read.parquet(f"{sf_correct}/documents.parquet").cache()


@pytest.fixture(scope="module")
def toks(docs):
    vocab = text_ops.build_vocab(docs)
    return (
        docs.select("doc_id", "source", text_ops.tokens_col("text", vocab).alias("tokens")),
        len(vocab),
    )


def test_exact_dedup_finds_planted_duplicates(spark, docs):
    twins = docs.limit(20).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    out = dd.exact_dedup(docs.unionByName(twins)).cache()
    dup_groups = out.where(F.col("n_dupes") > 0)
    assert dup_groups.count() == 20
    # keeper is always the original (minimum) id
    assert dup_groups.where(F.col("keeper") >= 1_000_000).count() == 0
    # non-duplicated docs survive as singleton groups
    assert out.count() == docs.count()


def test_minhash_lsh_recall_on_planted_neardups(spark, docs, toks):
    toks_df, vsize = toks
    # perturb: drop the first token -> bigram-shingle Jaccard stays ~0.95
    twins = toks_df.limit(10).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        "source",
        F.slice("tokens", 2, F.size("tokens")).alias("tokens"),
    )
    all_docs = toks_df.unionByName(twins)
    sh = dd.doc_shingles(all_docs, "tokens", 2, vsize)
    pairs = dd.lsh_candidate_pairs(dd.lsh_buckets(dd.minhash_signatures(sh)))
    verified = dd.jaccard_pairs(sh, pairs=pairs, threshold=0.5)
    found = {
        (r["doc_a"], r["doc_b"]) for r in verified.collect()
    }
    planted = {
        (r["doc_id"], r["doc_id"] + 1_000_000)
        for r in toks_df.limit(10).select("doc_id").collect()
        # docs must have > ~8 shingles for banding to see them; all do (>=10 words)
    }
    missed = planted - found
    # 16 minhashes, 4x4 banding, j ~= 0.9+: P(miss one) < 1e-2
    assert len(missed) <= 1, f"LSH missed planted near-dups: {missed}"


def test_simhash_similar_docs_close(spark, toks):
    toks_df, _ = toks
    twins = toks_df.limit(5).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        "source",
        F.slice("tokens", 2, F.size("tokens")).alias("tokens"),
    )
    fps = {r["doc_id"]: r["simhash"] for r in dd.simhash(toks_df.unionByName(twins)).collect()}
    for r in toks_df.limit(5).collect():
        a, b = fps[r["doc_id"]], fps[r["doc_id"] + 1_000_000]
        hamming = bin(a ^ b).count("1")
        assert hamming <= 4, (r["doc_id"], hamming)


def test_lsh_ann_agrees_with_brute_force(spark, sf_correct):
    emb = spark.read.parquet(f"{sf_correct}/embeddings.parquet")
    probes = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    brute = {
        (r["probe_id"], r["neighbor"]): r["cosine"]
        for r in sim.cosine_topk(emb, probes, 50).collect()
    }
    approx = sim.lsh_ann(emb, probes, 5).collect()
    assert len(approx) > 0
    for r in approx:
        key = (r["probe_id"], r["neighbor"])
        if key in brute:  # same pair scored identically by both paths
            assert r["cosine"] == pytest.approx(brute[key], abs=0.0)



def test_registered_lsh_row_fills_every_probe(spark, sf_correct):
    """The registered LSH ANN row returns a full top-k for each probe: its
    bucket count stays small enough that every probe's bucket holds k
    other vectors."""
    from collections import Counter

    import __spark_entry__ as entry

    rows = entry.queries()["ann_lsh_bucketed"](spark, sf_correct).collect()
    assert Counter(r["probe_id"] for r in rows) == {p: 5 for p in range(10)}  # k = 5, 10 probes

def test_fingerprint_order_sensitive(spark):
    df = spark.createDataFrame(
        [(1, [1, 2, 3]), (2, [3, 2, 1]), (3, [1, 2, 3])], "doc_id long, tokens array<int>"
    )
    fps = {
        r["doc_id"]: r["fp"]
        for r in df.select("doc_id", text_ops.fingerprint_col(F.col("tokens")).alias("fp")).collect()
    }
    assert fps[1] == fps[3] != fps[2]


def test_text_stats_sane(docs):
    row = text_ops.text_stats(docs).orderBy("doc_id").first()
    assert row["n_words"] >= 10
    assert 0.0 <= row["stopword_ratio"] <= 1.0
    assert row["avg_word_len"] > 1.0


def test_multimodal_decode_stub_and_real_gate(spark, docs):
    from ddsketch_spark.operators import multimodal as mm

    payload = mm.attach_binary_payload(docs.limit(10))
    feats = mm.decode_features(payload).collect()
    assert len(feats) == 10
    for r in feats:
        assert 1 <= r["width"] <= mm.FAKE_W and 1 <= r["height"] <= mm.FAKE_H
    frames = mm.frame_sample(payload, n_frames=4).collect()
    assert len(frames) == 40
    with pytest.raises(NotImplementedError):
        mm.decode_image_real(payload)


def test_ivf_ann_recall_and_exactness(spark, sf_correct):
    emb = spark.read.parquet(f"{sf_correct}/embeddings.parquet")
    probes = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    brute = {}
    for r in sim.cosine_topk(emb, probes, 5).collect():
        brute.setdefault(r["probe_id"], {})[r["neighbor"]] = r["cosine"]
    ivf = sim.ivf_ann(emb, probes, 5, n_cells=16, n_probe_cells=8)
    rows = ivf.collect()
    assert len(rows) > 0
    hits = total = 0
    for r in rows:
        if r["neighbor"] in brute.get(r["probe_id"], {}):
            # the candidate path must score the same pair identically
            assert r["cosine"] == pytest.approx(brute[r["probe_id"]][r["neighbor"]], abs=0.0)
            hits += 1
        total += 1
    # probing half the cells should recover most of the true top-5
    assert hits / (len(brute) * 5) >= 0.5, (hits, total)


def test_cosine_topk_fast_matches_fold(spark, sf_correct):
    """The Arrow-matmul brute-force path (sim.cosine_topk_fast, the scale
    tier) must rank identically to its reference, the fold-based
    sim.cosine_topk.  Cosines agree to ~1e-12 rel (numpy's blocked matmul
    summation vs the sequential fold differs in the last ulp, which is why
    the registered ann_cosine_topk row, which runs the fast path, is graded
    on (probe_id, rank, neighbor) alone)."""
    emb = spark.read.parquet(f"{sf_correct}/embeddings.parquet")
    probes = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    key = lambda r: (r["probe_id"], r["rank"])
    a = sorted(sim.cosine_topk(emb, probes, 10).collect(), key=key)
    b = sorted(sim.cosine_topk_fast(emb, probes, 10).collect(), key=key)
    assert len(a) == len(b) > 0
    for ra, rb in zip(a, b):
        assert (ra["probe_id"], ra["rank"], ra["neighbor"]) == (
            rb["probe_id"], rb["rank"], rb["neighbor"]
        )
        assert ra["cosine"] == pytest.approx(rb["cosine"], rel=1e-12)


def test_cosine_topk_fast_tied_scores_deterministic(spark):
    """Exact-duplicate embeddings (ties at the k-th cosine) must resolve to
    the smallest neighbor id regardless of partition layout -- matching the
    fold path's window order (ADVICE r3, medium).  8 clones of one vector
    tie at cosine=1; with k=5 the fast path must keep the 5 smallest ids."""
    dim = sim.EMB_DIM
    base = [float((j % 11) - 5) for j in range(dim)]
    clones = [(i, base) for i in range(100, 108)]  # ids 100..107, identical
    probe_rows = [(0, base)]
    far = [(200 + i, [float((j * (i + 3)) % 7 - 3) for j in range(dim)]) for i in range(4)]
    emb = spark.createDataFrame(
        probe_rows + clones + far, "vec_id long, embedding array<float>"
    )
    probes = emb.where(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    key = lambda r: (r["probe_id"], r["rank"])
    want = [
        (r["probe_id"], r["rank"], r["neighbor"])
        for r in sorted(sim.cosine_topk(emb, probes, 5).collect(), key=key)
    ]
    for n_parts in (1, 3, 7):
        got = [
            (r["probe_id"], r["rank"], r["neighbor"])
            for r in sorted(
                sim.cosine_topk_fast(emb.repartition(n_parts), probes, 5).collect(),
                key=key,
            )
        ]
        assert got == want == [(0, r, 100 + r - 1) for r in range(1, 6)]


def test_cosine_topk_fast_probe_cap_raises(spark, sf_correct):
    """Driver-side probe collection is bounded: exceeding max_probes raises
    instead of silently collecting an unbounded probe table (VERDICT r3
    item 6)."""
    emb = spark.read.parquet(f"{sf_correct}/embeddings.parquet")
    probes = emb.select(F.col("vec_id").alias("probe_id"), "embedding")
    with pytest.raises(ValueError, match="max_probes"):
        sim.cosine_topk_fast(emb, probes, 5, max_probes=10)


def test_cosine_topk_fast_ragged_rows_raise(spark):
    """Rows of lengths dim - 1 and dim + 1 in one batch flatten to exactly
    rows x dim values; the per-row length check must still refuse them
    rather than score vectors shifted across row boundaries."""
    from pyspark.errors import PythonException

    dim = sim.EMB_DIM
    corpus = spark.createDataFrame(
        [(1, [1.0] * (dim - 1)), (2, [1.0] * (dim + 1))], "vec_id long, embedding array<float>"
    ).coalesce(1)
    probes = spark.createDataFrame([(0, [1.0] * dim)], "probe_id long, embedding array<float>")
    with pytest.raises(PythonException, match=r"ValueError: cosine_topk_fast requires .* dim"):
        sim.cosine_topk_fast(corpus, probes, 2).collect()


def test_ivf_centroids_deterministic(spark, sf_correct):
    emb = spark.read.parquet(f"{sf_correct}/embeddings.parquet")
    import numpy as np

    c1 = sim.ivf_centroids(emb, 8)
    c2 = sim.ivf_centroids(emb, 8)
    assert np.array_equal(c1, c2)


def test_shingle_short_docs_no_crash(spark):
    """Docs shorter than n tokens produce EMPTY shingle arrays (and vanish
    after explode) instead of crashing element_at on the descending
    sequence(1,0) range (ADVICE r1, high)."""
    from ddsketch_spark.operators import dedup as dd

    df = spark.createDataFrame(
        [("d1", [5]), ("d2", [1, 2]), ("d3", []), ("d4", [1, 2, 3, 4])],
        "doc_id string, tokens array<int>",
    )
    for n in (2, 3):
        arrs = {
            r["doc_id"]: r["sh"]
            for r in df.select(
                "doc_id", dd.shingle_col(F.col("tokens"), n, 31).alias("sh")
            ).collect()
        }
        assert arrs["d1"] == [] and arrs["d3"] == []
        assert len(arrs["d4"]) == 5 - n
        exploded = dd.doc_shingles(df, "tokens", n, 31)
        docs_left = {r["doc_id"] for r in exploded.select("doc_id").distinct().collect()}
        assert "d3" not in docs_left and "d1" not in docs_left


def test_lsh_bucket_cap_drops_mega_bucket(spark):
    """A planted degenerate bucket above the cap contributes NO pairs (its
    members stay candidates through other bands); pair count stays linear,
    not quadratic (VERDICT r1 item 7)."""
    from ddsketch_spark.operators import dedup as dd

    mega = [(f"m{i}", 0, 7) for i in range(200)]  # 200 docs, one bucket
    small = [(f"s{i}", 1, i % 5) for i in range(10)]
    buckets = spark.createDataFrame(
        mega + small, "doc_id string, band int, bucket long"
    )
    capped = dd.lsh_candidate_pairs(buckets, max_bucket_size=50)
    pairs = capped.collect()
    assert all(r["doc_a"].startswith("s") for r in pairs), pairs[:5]
    # uncapped control: the mega bucket alone would emit C(200,2) pairs
    uncapped = dd.lsh_candidate_pairs(buckets, max_bucket_size=None)
    assert uncapped.count() == 199 * 100 + len(pairs)


def test_lsh_cosine_pairs_subset_of_exact_with_recall(spark, sf_correct):
    """lsh_cosine_pairs emits a SUBSET of the exact all-pairs result (same
    threshold), with recall above the banding bound on this corpus."""
    from ddsketch_spark.operators import similarity as sim

    emb = spark.read.parquet(f"{sf_correct}/embeddings.parquet")
    exact = {
        (r["vec_a"], r["vec_b"]) for r in sim.cosine_pairs(emb, 0.4).collect()
    }
    blocked = {
        (r["vec_a"], r["vec_b"])
        for r in sim.lsh_cosine_pairs(emb, 0.4, n_planes=16, bands=4).collect()
    }
    assert blocked <= exact
    assert len(blocked) >= 0.3 * len(exact), (len(blocked), len(exact))


def test_emb_lsh_bucket_cap_drops_mega_cluster(spark):
    """A planted mega-cluster of identical embeddings (same bucket in EVERY
    band) contributes no pairs under the cap -- completes linearly instead
    of emitting C(n,2) rows in one task (VERDICT r2 item 4)."""
    dim = sim.EMB_DIM
    clones = [(i, [1.0] * dim) for i in range(120)]
    others = [(1000 + i, [float(j % 7 - 3) * (i + 1) for j in range(dim)]) for i in range(6)]
    emb = spark.createDataFrame(clones + others, "vec_id long, embedding array<float>")
    capped = sim.lsh_cosine_pairs(emb, 0.9, max_bucket_size=50).collect()
    assert all(r["vec_a"] >= 1000 for r in capped), capped[:5]
    uncapped = sim.lsh_cosine_pairs(emb, 0.9, max_bucket_size=None)
    assert uncapped.where((F.col("vec_a") < 1000) & (F.col("vec_b") < 1000)).count() == 120 * 119 // 2


def test_lsh_band_buckets_divisibility_raises(spark):
    emb = spark.createDataFrame([(1, [1.0] * sim.EMB_DIM)], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="divide evenly"):
        sim.lsh_cosine_pairs(emb, 0.5, n_planes=15, bands=4)


def test_minhash_lsh_buckets_divisibility_raises(spark):
    """16 hashes in 5 bands of 3 would never read m15: refuse it, as the
    embedding banding does."""
    sig = spark.createDataFrame([("d", *range(16))], ", ".join(
        ["doc_id string"] + [f"m{j} long" for j in range(16)]))
    with pytest.raises(ValueError, match="divide evenly"):
        dd.lsh_buckets(sig, num_hashes=16, bands=5)
    assert dd.lsh_buckets(sig, num_hashes=16, bands=4).count() == 4


def test_lsh_dim_mismatch_raises(spark):
    """A vector whose length differs from the configured dim fails LOUDLY at
    execution (ADVICE r2: zip_with null-padding used to send every vector to
    bucket 0 silently)."""
    emb = spark.createDataFrame(
        [(1, [1.0] * 32), (2, [2.0] * 32)], "vec_id long, embedding array<float>"
    )
    probes = emb.select(F.col("vec_id").alias("probe_id"), "embedding")
    with pytest.raises(Exception) as ei:
        sim.lsh_ann(emb, probes, 3).collect()
    assert "dimension mismatch" in str(ei.value)


def test_tokenize_autoswitch_join_path_matches_literal(spark, docs):
    """Over-cap vocabularies take the broadcast-join path with tokens
    IDENTICAL to the literal-map path (VERDICT r2 item 3: the driver never
    collects an unbounded vocabulary)."""
    lit_df, v_lit = text_ops.tokenize(docs)
    join_df, v_join = text_ops.tokenize(docs, max_literal_vocab=4)  # forces join
    assert v_lit == v_join and v_lit > 4
    a = {r["doc_id"]: r["tokens"] for r in lit_df.select("doc_id", "tokens").collect()}
    b = {r["doc_id"]: r["tokens"] for r in join_df.select("doc_id", "tokens").collect()}
    assert a == b


def test_minhash_lsh_full_path_mega_cluster_subquadratic(spark):
    """End-to-end degenerate-input property for the MinHash path (VERDICT r3
    item 8): a planted mega-cluster of IDENTICAL token docs (same signature
    -> same bucket in every band) contributes zero pairs under the
    per-band cap, so total candidate-pair count stays sub-quadratic; the
    uncapped control emits the full C(n,2). (The synthetic-buckets test
    above pins the cap operator; this one drives shingles -> signatures ->
    banding -> pairs.)"""
    from ddsketch_spark.operators import dedup as dd

    n_clones = 150
    clone_toks = list(range(1, 40))
    clones = [(f"c{i:03d}", clone_toks) for i in range(n_clones)]
    # distinct docs: disjoint token ranges -> no shared shingles
    others = [
        (f"u{i}", list(range(1000 * (i + 1), 1000 * (i + 1) + 30))) for i in range(8)
    ]
    df = spark.createDataFrame(clones + others, "doc_id string, tokens array<int>")
    sh = dd.doc_shingles(df, "tokens", 3, 1 << 20)
    sig = dd.minhash_signatures(sh)
    buckets = dd.lsh_buckets(sig)
    capped = dd.lsh_candidate_pairs(buckets, max_bucket_size=50).collect()
    assert all(
        not (r["doc_a"].startswith("c") and r["doc_b"].startswith("c"))
        for r in capped
    ), capped[:5]
    assert len(capped) <= n_clones + 8  # sub-quadratic: linear bound
    uncapped = dd.lsh_candidate_pairs(buckets, max_bucket_size=None)
    clone_pairs = uncapped.where(
        F.col("doc_a").startswith("c") & F.col("doc_b").startswith("c")
    )
    assert clone_pairs.count() == n_clones * (n_clones - 1) // 2


def test_decontaminate_flags_planted_overlap(spark):
    """A corpus doc sharing a trigram with the eval set is flagged with the
    exact distinct-overlap count; clean docs are not emitted."""
    corpus = spark.createDataFrame(
        [
            (1, [5, 6, 7, 8, 9]),       # contains eval trigram (6,7,8) & (7,8,9)
            (2, [20, 21, 22, 23]),      # clean
            (3, [6, 7, 8, 6, 7, 8]),    # repeated eval trigram -> 1 DISTINCT hit
        ],
        "doc_id long, tokens array<int>",
    )
    eval_docs = spark.createDataFrame(
        [(100, [6, 7, 8, 9, 10])], "doc_id long, tokens array<int>"
    )
    vsize = 30
    c_sh = dd.doc_shingles(corpus, "tokens", 3, vsize)
    e_sh = dd.doc_shingles(eval_docs, "tokens", 3, vsize)
    out = {
        r["doc_id"]: (r["n_hits"], r["contaminated"])
        for r in dd.decontaminate(c_sh, e_sh).collect()
    }
    assert out == {1: (2, True), 3: (1, True)}


def test_jaccard_hot_shingle_guard(spark):
    """A boilerplate shingle shared by every doc would contribute O(f^2)
    rows in one join task; the document-frequency cap drops it from the
    intersection join (VERDICT r4 item 3). Pairs that share ONLY the hot
    shingle vanish; pairs with other overlap keep exact sizes and lose
    exactly the hot shingle from inter (jaccard underestimates, never
    overestimates). A cap at or above the max df reproduces the uncapped
    output exactly."""
    rows = []
    for d in range(12):
        rows.append((d, 999))            # boilerplate: df = 12
        rows.append((d, 1000 + d // 2))  # shared with the partner doc only
        rows.append((d, 2000 + d))       # unique
    sh = spark.createDataFrame(rows, "doc_id long, shingle long")

    capped = dd.jaccard_pairs(sh, max_shingle_df=4)
    got = {(r["doc_a"], r["doc_b"]): r for r in capped.collect()}
    assert set(got) == {(2 * i, 2 * i + 1) for i in range(6)}
    for r in got.values():
        assert (r["inter"], r["size_a"], r["size_b"]) == (1, 3, 3)
        assert r["jaccard"] == pytest.approx(1 / 5)

    uncapped = dd.jaccard_pairs(sh, max_shingle_df=None)
    assert uncapped.count() == 12 * 11 // 2  # every pair shares 999
    wide = dd.jaccard_pairs(sh, max_shingle_df=12)
    assert sorted(tuple(r) for r in wide.collect()) == sorted(
        tuple(r) for r in uncapped.collect()
    )


def test_jaccard_pairs_exact_by_default(spark):
    """The hot-shingle cap is opt-in: with default arguments a pair that
    overlaps only in a shingle whose document frequency exceeds
    DEFAULT_MAX_SHINGLE_DF keeps its exact ``inter``.  Every candidate
    pair (i, n) has doc i on one side and doc n on the other, so the
    shared shingle's frequency is n on the first side and the join stays
    n rows."""
    n = dd.DEFAULT_MAX_SHINGLE_DF + 1
    sh = spark.range(n + 1).select(F.col("id").alias("doc_id"), F.lit(7).cast("long").alias("shingle"))
    pairs = spark.range(n).select(F.col("id").alias("doc_a"), F.lit(n).cast("long").alias("doc_b"))
    got = dd.jaccard_pairs(sh, pairs=pairs).where(F.col("doc_a") < 3).collect()
    assert sorted((r["doc_a"], r["inter"], r["jaccard"]) for r in got) == [
        (0, 1, 1.0), (1, 1, 1.0), (2, 1, 1.0)
    ]


def test_jaccard_hot_shingle_guard_candidate_branch(spark):
    """Same guard on the candidate-bounded branch: the cap applies to the
    document frequency within the candidate-filtered streams."""
    rows = []
    for d in range(8):
        rows.append((d, 999))
        rows.append((d, 3000 + d % 4))  # d and d+4 share one real shingle
    sh = spark.createDataFrame(rows, "doc_id long, shingle long")
    pairs = spark.createDataFrame(
        [(d, d + 4) for d in range(4)], "doc_a long, doc_b long"
    )
    capped = dd.jaccard_pairs(sh, pairs=pairs, max_shingle_df=3)
    got = {(r["doc_a"], r["doc_b"]): r["inter"] for r in capped.collect()}
    assert got == {(d, d + 4): 1 for d in range(4)}
    full = dd.jaccard_pairs(sh, pairs=pairs, max_shingle_df=None)
    assert {(r["doc_a"], r["doc_b"]): r["inter"] for r in full.collect()} == {
        (d, d + 4): 2 for d in range(4)
    }
