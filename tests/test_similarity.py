"""ANN quality: the trained IVF quantizer must not be worse than the
seeded one (VERDICT r1 item 7 — demonstrates "a trained quantizer drops
in by swapping the centroid frame")."""

from __future__ import annotations

from engineering_school_bigdata_project_f1_weather_spark.operators import similarity


def _recall_at_k(spark, sf_dir, ivf_df, truth_pairs):
    got = {
        (r.query_id, r.neighbor_id) for r in ivf_df.collect()
    }
    return len(got & truth_pairs) / len(truth_pairs)


def test_trained_ivf_recall_not_worse_than_seeded(spark, sf_dir):
    truth = {
        (r.query_id, r.neighbor_id)
        for r in similarity.sim_topk(spark, sf_dir).collect()
    }
    assert truth

    seeded = _recall_at_k(
        spark, sf_dir, similarity.sim_ivf(spark, sf_dir), truth
    )
    trained = _recall_at_k(
        spark, sf_dir, similarity.sim_ivf_trained(spark, sf_dir), truth
    )
    # deterministic pipeline → these are fixed numbers for a fixed dataset
    assert trained >= seeded, f"trained recall {trained} < seeded {seeded}"
    assert trained > 0.5, f"trained recall suspiciously low: {trained}"


def _lsh_pair_recall(lsh_df, truth_pairs):
    """Fraction of ground-truth (query, neighbor) pairs the LSH candidate
    set surfaces (as unordered pairs — LSH emits vec_a < vec_b)."""
    got = set()
    for r in lsh_df.collect():
        got.add((r.vec_a, r.vec_b))
        got.add((r.vec_b, r.vec_a))
    return len(got & truth_pairs) / len(truth_pairs)


def test_banded_lsh_recall_not_worse_than_single_table(spark, sf_dir):
    """VERDICT r2 item 2: the 4×8-bit banded LSH must recall at least as
    many true top-k neighbor pairs as the single 16-bit table — the
    OR-of-ANDs collision curve (1-(1-p^8)^4) dominates p^16 for similar
    pairs, and banding is what keeps per-table bucket populations bounded
    at 10^9+ vectors."""
    truth = {
        (r.query_id, r.neighbor_id)
        for r in similarity.sim_topk(spark, sf_dir).collect()
    }
    assert truth

    single = _lsh_pair_recall(similarity.sim_lsh(spark, sf_dir), truth)
    banded = _lsh_pair_recall(
        similarity.sim_lsh_banded(spark, sf_dir), truth
    )
    # deterministic plans → fixed numbers for a fixed dataset
    assert banded >= single, f"banded recall {banded} < single {single}"
    assert banded > 0.2, f"banded recall suspiciously low: {banded}"


def test_pq_rerank_recall_vs_exact_l2(spark, sf_dir):
    """sim_pq's ADC-shortlist + exact-re-rank must recover the exact L2
    top-k with high recall (the docstring's measured 1.0 at sf0.01 /
    top-100 shortlist; pinned conservatively at 0.9), and its emitted
    distances must be the EXACT integer L2 — not approximations."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from engineering_school_bigdata_project_f1_weather_spark.functions import vectors

    base = similarity._quantized(spark, sf_dir).cache()
    q = base.where(F.col("vec_id") % similarity.QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("q").alias("qq"),
        F.col("n2").alias("qn2"),
    )
    d2 = (
        F.col("qn2") - 2 * vectors.dot(F.col("qq"), F.col("q")) + F.col("n2")
    ).cast("long")
    w = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("vec_id"))
    exact = (
        base.join(F.broadcast(q), F.lit(True))
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", d2.alias("d2"))
        .withColumn("r", F.row_number().over(w))
        .where(F.col("r") <= similarity.TOPK)
        .collect()
    )
    truth = {(r["query_id"], r["vec_id"]) for r in exact}
    truth_d2 = {(r["query_id"], r["vec_id"]): r["d2"] for r in exact}
    got = similarity.sim_pq(spark, sf_dir).collect()
    got_pairs = {(r["query_id"], r["neighbor_id"]) for r in got}
    recall = len(truth & got_pairs) / len(truth)
    assert recall >= 0.9, f"PQ re-rank recall {recall} < 0.9"
    for r in got:
        key = (r["query_id"], r["neighbor_id"])
        if key in truth_d2:
            assert r["d2"] == truth_d2[key]  # re-rank emits exact distances


def test_pq_trained_codebook_reduces_quantization_error(spark, sf_dir):
    """Lloyd's iterations can only lower the k-means objective; the
    trained PQ codebook must have strictly lower total quantization
    error (Σ over vectors and subspaces of L2² to the assigned code)
    than the seeded one, and training must be deterministic (two runs →
    identical codebooks — the property the unrolled oracle depends on)."""
    import pyspark.sql.functions as F

    from engineering_school_bigdata_project_f1_weather_spark.functions import vectors

    def total_error(cb):
        sub = similarity._pq_subvectors(similarity._quantized(spark, sf_dir))
        d2 = (
            F.col("sn2")
            - 2 * vectors.dot(F.col("sq"), F.col("cq"))
            + F.col("cn2")
        ).cast("long")
        per = (
            sub.join(F.broadcast(cb), "m")
            .groupBy("vec_id", "m")
            .agg(F.min(d2).alias("best_d2"))
        )
        return per.agg(F.sum("best_d2")).collect()[0][0]

    sub = similarity._pq_subvectors(similarity._quantized(spark, sf_dir))
    seeded_err = total_error(similarity._pq_seed_codebook(sub))
    trained = similarity.pq_train_codebooks(spark, sf_dir)
    trained_err = total_error(trained)
    assert trained_err < seeded_err, (trained_err, seeded_err)

    again = similarity.pq_train_codebooks(spark, sf_dir)
    a = sorted(map(tuple, trained.select("m", "code_id", "cq").collect()))
    b = sorted(map(tuple, again.select("m", "code_id", "cq").collect()))
    assert a == b


def test_trained_centroids_deterministic_and_on_grid(spark, sf_dir):
    c1 = similarity.kmeans_centroids(spark, sf_dir, iters=2)
    c2 = similarity.kmeans_centroids(spark, sf_dir, iters=2)
    rows1 = {r.centroid_id: (tuple(r.cq), r.cn2) for r in c1.collect()}
    rows2 = {r.centroid_id: (tuple(r.cq), r.cn2) for r in c2.collect()}
    assert rows1 == rows2
    assert len(rows1) == similarity.K_CENTROIDS
    # centroids live on the same integer grid as the quantized vectors
    assert all(
        isinstance(x, int) for vec, _ in rows1.values() for x in vec[:4]
    )


def test_embedding_ann_recall_vs_exact_quadratic(spark, sf_dir):
    """The IVF multi-assignment near-dup path (dedup_embedding_ann) must
    recover ≥95% of the exact quadratic pair set (dedup_embedding) at the
    same threshold — the property that justifies replacing the O(n²)
    baseline with candidate generation. Deterministic plans → a fixed
    number for a fixed dataset."""
    from engineering_school_bigdata_project_f1_weather_spark.operators import dedup

    truth = {
        (r.vec_a, r.vec_b)
        for r in dedup.dedup_embedding(
            spark, sf_dir, allow_quadratic=True
        ).collect()
    }
    assert truth
    got = {
        (r.vec_a, r.vec_b)
        for r in similarity.dedup_embedding_ann(spark, sf_dir).collect()
    }
    recall = len(got & truth) / len(truth)
    assert recall >= 0.95, f"ANN recall too low: {recall}"
    # every reported pair is verified exact — no false positives possible
    assert got <= truth


def test_embedding_ann_scaled_config_recall(spark):
    """VERDICT r3 item 3: pin the recall of the DEPLOYMENT configuration
    (scaled_ann_params — what bench.py times) at the bench scale factor,
    so the benched numbers always belong to a configuration whose
    quality is known. Measured 0.981 on the round-4 sf0.1 corpus
    (k=25, assign=6)."""
    import os

    from engineering_school_bigdata_project_f1_weather_spark.operators import dedup

    sf_dir = "/root/testdata/sf0.1"
    if not os.path.isdir(sf_dir):  # bench-scale fixture not present
        import pytest

        pytest.skip("sf0.1 testdata not available")
    n = similarity._quantized(spark, sf_dir).count()
    k, assign = similarity.scaled_ann_params(n)
    truth = {
        (r.vec_a, r.vec_b)
        for r in dedup.dedup_embedding(
            spark, sf_dir, allow_quadratic=True
        ).collect()
    }
    assert truth
    got = {
        (r.vec_a, r.vec_b)
        for r in similarity.dedup_embedding_ann(
            spark, sf_dir, k=k, assign=assign
        ).collect()
    }
    recall = len(got & truth) / len(truth)
    assert recall >= 0.95, f"scaled ANN recall too low: {recall} (k={k})"
    assert got <= truth


def test_hash_embed_feeds_similarity_stack(spark, sf_dir):
    """The featurization bridge: long-form hashed embeddings reassemble
    into dense integer vectors the cosine machinery accepts — every doc
    gets a vector with positive norm and at most EMBED_DIM dimensions."""
    import pyspark.sql.functions as F

    from engineering_school_bigdata_project_f1_weather_spark.functions import vectors
    from engineering_school_bigdata_project_f1_weather_spark.operators.search import (
        EMBED_DIM,
        text_hash_embed,
    )

    long_form = text_hash_embed(spark, sf_dir)
    assert long_form.groupBy("doc_id").count().where(
        F.col("count") > EMBED_DIM
    ).count() == 0

    dense = (
        long_form.groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "val"))).alias("pv")
        )
        .select(
            "doc_id", F.transform("pv", lambda s: s["val"]).alias("sparse_q")
        )
        .withColumn("n2", vectors.norm2(F.col("sparse_q")))
    )
    assert dense.where(F.col("n2") <= 0).count() == 0


def test_ann_index_incremental_update(spark, sf_dir, tmp_path):
    """Incremental embedding-dedup index (round 4 — the IVF twin of the
    minhash index): init on half the corpus, update with the other half.
    Every returned pair involves a new vector, is exact-verified (subset
    of the quadratic truth — false positives impossible), and a retried
    batch is a no-op on both the result and the index."""
    import pyspark.sql.functions as F

    from engineering_school_bigdata_project_f1_weather_spark.operators import dedup
    from engineering_school_bigdata_project_f1_weather_spark.sources.tables import (
        load_table_spread,
    )

    emb = load_table_spread(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    first = emb.where(F.col("vec_id") % 2 == 0)
    second = emb.where(F.col("vec_id") % 2 == 1)
    idx = str(tmp_path / "ann_index")

    similarity.ann_index_init(spark, first, idx)
    got = {
        (r.vec_a, r.vec_b)
        for r in similarity.ann_index_update(spark, second, idx).collect()
    }
    assert got
    new_ids = {r.vec_id for r in second.select("vec_id").collect()}
    assert all(a in new_ids or b in new_ids for a, b in got)

    truth = {
        (r.vec_a, r.vec_b)
        for r in dedup.dedup_embedding(
            spark, sf_dir, allow_quadratic=True
        ).collect()
    }
    assert got <= truth  # exact-verified: no false positives
    touch_new = {p for p in truth if p[0] in new_ids or p[1] in new_ids}
    recall = len(got & touch_new) / len(touch_new)
    assert recall >= 0.9, f"incremental ANN recall too low: {recall}"

    # retry: same batch again → no pairs, no index growth
    assert similarity.ann_index_update(spark, second, idx).count() == 0
    from engineering_school_bigdata_project_f1_weather_spark.functions import (
        snapshots,
    )

    live = snapshots.snap_live(idx)
    assert spark.read.parquet(f"{idx}/{live}/vectors").count() == emb.count()


def test_ann_index_snapshot_durability(spark, sf_dir, tmp_path):
    """Round 8 (VERDICT r7 item 1): the ANN index's mutable state
    (vectors + assign) commits as ONE versioned snapshot under an atomic
    CURRENT swap — no window where only one of the two tables reflects a
    batch.  Pins: (a) exactly one state_v* dir is live after each
    update; (b) crash debris (a half-written next version, worst-case
    name collision included) is cleared by the next successful commit
    and never affects results; (c) vectors and assign stay consistent:
    every vector has exactly ASSIGN_LISTS assign rows (or k, if
    smaller)."""
    import os

    import pyspark.sql.functions as F

    from engineering_school_bigdata_project_f1_weather_spark.functions import (
        snapshots,
    )
    from engineering_school_bigdata_project_f1_weather_spark.sources.tables import (
        load_table_spread,
    )

    emb = load_table_spread(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    first = emb.where(F.col("vec_id") % 2 == 0)
    second = emb.where(F.col("vec_id") % 2 == 1)
    idx = str(tmp_path / "ann_index_snap")

    similarity.ann_index_init(spark, first, idx)
    assert snapshots.snap_live(idx) == "state_v0"
    # simulated crash debris, including the name the next commit reuses
    os.makedirs(os.path.join(idx, "state_v1", "vectors"))
    open(os.path.join(idx, "state_v1", "vectors", "part-junk"), "w").write("x")
    os.makedirs(os.path.join(idx, "state_v99"))

    assert similarity.ann_index_update(spark, second, idx).count() >= 0
    live = snapshots.snap_live(idx)
    assert live == "state_v1"
    snaps = [d for d in os.listdir(idx) if d.startswith("state_v")]
    assert snaps == [live]

    vecs = spark.read.parquet(f"{idx}/{live}/vectors")
    assign = spark.read.parquet(f"{idx}/{live}/assign")
    n = emb.count()
    assert vecs.count() == n
    assert vecs.select("vec_id").distinct().count() == n
    k = int(spark.read.parquet(f"{idx}/meta").first()["k"])
    per_vec = min(similarity.ASSIGN_LISTS, k)
    counts = assign.groupBy("vec_id").count().select("count").distinct().collect()
    assert [r["count"] for r in counts] == [per_vec]
    assert assign.select("vec_id").distinct().count() == n


def test_ivf_pq_recall_and_exact_rerank(spark, sf_dir):
    """IVF-PQ: re-ranked distances are the EXACT L2 of the emitted pairs,
    and recall of the true top-5 is >= 0.4 at NPROBE=4/16 (the docstring's
    measured 0.46 on the sf0.01 fixture; the probe bound is the trade)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from engineering_school_bigdata_project_f1_weather_spark.functions import vectors
    from engineering_school_bigdata_project_f1_weather_spark.operators import similarity

    got = similarity.sim_ivf_pq(spark, sf_dir).collect()
    assert got
    base = similarity._quantized(spark, sf_dir).cache()
    qs = base.where(F.col("vec_id") % similarity.QUERY_STRIDE == 0).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qq"), F.col("n2").alias("qn2")
    )
    nb = base.select(
        F.col("vec_id").alias("neighbor_id"), F.col("q").alias("nq"), F.col("n2").alias("nn2")
    )
    d2 = (F.col("qn2") - 2 * vectors.dot(F.col("qq"), F.col("nq")) + F.col("nn2")).cast("long")
    w = Window.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("neighbor_id"))
    truth = (
        qs.join(nb, F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", d2.alias("d2"))
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= similarity.TOPK)
    )
    tmap = {(r.query_id, r.neighbor_id): r.d2 for r in truth.collect()}
    gset = {(r.query_id, r.neighbor_id) for r in got}
    recall = len(set(tmap) & gset) / len(tmap)
    assert recall >= 0.4
    # every emitted distance equals the exact pair distance (re-rank is exact)
    exact = {
        (r.query_id, r.neighbor_id): r.d2
        for r in qs.join(nb, F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", d2.alias("d2"))
        .collect()
    }
    for r in got:
        assert r.d2 == exact[(r.query_id, r.neighbor_id)]


def test_mmr_diversifies_and_respects_pool(spark, sf_dir):
    """sim_mmr (round 7): (a) pick 1 is the pure-relevance argmax;
    (b) every query yields exactly MMR_K picks drawn from its
    relevance pool; (c) DIVERSIFICATION is real — summed over queries,
    the MMR pick set's max intra-set cosine is strictly below the
    pure-top-k set's (the redundancy penalty must change something);
    (d) scores are the exact integer form 7·rel − 3·maxsim."""
    import pyspark.sql.functions as F  # noqa: F811

    from engineering_school_bigdata_project_f1_weather_spark.operators import (
        similarity as sim,
    )

    rows = sim.sim_mmr(spark, sf_dir).collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)

    # The relevance reference is the served retrieve leg itself (round
    # 8: _mmr_ivf_pool — rank candidates by (rel DESC, cand ASC), the
    # same order the pool's rk already encodes).
    topk = {}
    for r in sim._mmr_ivf_pool(sim._quantized(spark, sf_dir)).collect():
        topk.setdefault(r.query_id, []).append((-r.rel_e6, r.cand))
    for q in topk:
        topk[q] = [
            (i + 1, c, -negrel)
            for i, (negrel, c) in enumerate(sorted(topk[q]))
        ]
    assert set(by_q) == set(topk)

    # pairwise sims among all corpus vectors for the diversity audit
    base = sim._quantized(spark, sf_dir)
    from engineering_school_bigdata_project_f1_weather_spark.functions import vectors

    pair_rows = (
        base.alias("a")
        .join(base.alias("b"), F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("va"),
            F.col("b.vec_id").alias("vb"),
            vectors.sim_e6(
                vectors.dot(F.col("a.q"), F.col("b.q")),
                F.col("a.n2"),
                F.col("b.n2"),
            ).alias("s"),
        )
        .collect()
    )
    s_of = {(r.va, r.vb): r.s for r in pair_rows}

    def max_intra(ids):
        ids = sorted(ids)
        return max(
            s_of[(a, b)] for i, a in enumerate(ids) for b in ids[i + 1:]
        )

    mmr_spread = 0
    rel_spread = 0
    for q, picks in by_q.items():
        picks.sort(key=lambda r: r.rank)
        assert len(picks) == sim.MMR_K
        # pick 1 = pure relevance argmax (topk rank 1)
        top1 = min(topk[q])[1]
        assert picks[0].neighbor_id == top1
        # exact integer score form, pick 1 has no penalty
        assert picks[0].mmr_score10 == sim.MMR_LAMBDA_NUM * picks[0].rel_e6
        mmr_spread += max_intra([p.neighbor_id for p in picks])
        rel_ids = [n for _, n, _ in sorted(topk[q])[: sim.MMR_K]]
        # top-k only yields TOPK=5 ids; extend with the relevance pool order
        if len(rel_ids) < sim.MMR_K:
            pool = {p.neighbor_id: p.rel_e6 for p in picks}
            extra = sorted(pool, key=lambda n: (-pool[n], n))
            for n in extra:
                if n not in rel_ids:
                    rel_ids.append(n)
                if len(rel_ids) == sim.MMR_K:
                    break
        rel_spread += max_intra(rel_ids)
    # summed over queries the MMR sets must be strictly more diverse
    assert mmr_spread < rel_spread, (mmr_spread, rel_spread)


def test_mmr_pool_injection_equivalence(spark, sf_dir):
    """The re-rank is independent of where the shortlist came from:
    injecting the served IVF pool explicitly reproduces the default
    entry bit-for-bit (the seam where a deployment plugs its ANN
    serving frame in front of the greedy)."""
    from engineering_school_bigdata_project_f1_weather_spark.operators import (
        similarity as sim,
    )

    base = sim._quantized(spark, sf_dir)
    pool = sim._mmr_ivf_pool(base)
    got = {
        tuple(r)
        for r in sim.sim_mmr(spark, sf_dir, pool=pool).collect()
    }
    want = {tuple(r) for r in sim.sim_mmr(spark, sf_dir).collect()}
    assert got == want and len(got) > 0


def test_mmr_ivf_pool_recall_vs_exact(spark, sf_dir):
    """The served IVF retrieve leg is an APPROXIMATION of the exact
    brute-force shortlist — pin its recall so quantizer/probe changes
    that silently crater retrieval quality fail loudly.  Measured on
    the round-8 corpus: identical pools at sf0.001/sf0.01; the pin is
    set below that with headroom for regenerated testdata."""
    from engineering_school_bigdata_project_f1_weather_spark.operators import (
        similarity as sim,
    )

    base = sim._quantized(spark, sf_dir)
    exact = {
        (r.query_id, r.cand) for r in sim._mmr_exact_pool(base).collect()
    }
    served = {
        (r.query_id, r.cand) for r in sim._mmr_ivf_pool(base).collect()
    }
    assert exact
    recall = len(exact & served) / len(exact)
    assert recall >= 0.85, recall


def test_mmr_singleton_pool_emits_rank1(spark, sf_dir):
    """ADVICE r7: a query whose pool holds exactly ONE candidate has no
    pair rows — the left-joined pair frame must still deliver it to the
    greedy stage so rank 1 is emitted (matching the oracle, whose sel_1
    draws from the rel frame directly)."""
    from engineering_school_bigdata_project_f1_weather_spark.operators import (
        similarity as sim,
    )

    base = sim._quantized(spark, sf_dir)
    ids = [r.vec_id for r in base.select("vec_id").orderBy("vec_id").limit(3).collect()]
    qid, cand = ids[0], ids[1]
    pool = spark.createDataFrame(
        [(int(qid), int(cand), 777_000)],
        "query_id long, cand long, rel_e6 long",
    )
    rows = sim.sim_mmr(spark, sf_dir, pool=pool).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r.query_id, r.rank, r.neighbor_id, r.rel_e6) == (qid, 1, cand, 777_000)
    assert r.mmr_score10 == sim.MMR_LAMBDA_NUM * 777_000


def test_semdedup_keeper_policy_matches_bruteforce(spark, sf_dir):
    """dedup_semantic's dominance set must equal the one recomputed from
    the exact BRUTE-FORCE pair truth (dedup.dedup_embedding, a different
    candidate path: all-pairs vs within-cluster), with the paper's keeper
    rule (lowest centroid-similarity survives, ties to the lower vec_id);
    and the per-cluster minimum can never be dropped."""
    from engineering_school_bigdata_project_f1_weather_spark.operators import dedup

    out = similarity.dedup_semantic(spark, sf_dir).collect()
    rows = {r.vec_id: r for r in out}
    n_vecs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert len(rows) == n_vecs
    dropped = {v for v, r in rows.items() if not r.keep}
    assert dropped and len(dropped) < n_vecs  # non-vacuous both ways

    # the cluster-global minimum (cent_sim, vec_id) has no dominator
    best = {}
    for r in out:
        key = (r.cent_sim_e6, r.vec_id)
        if r.cluster_id not in best or key < best[r.cluster_id]:
            best[r.cluster_id] = key
    for _, vid in best.values():
        assert rows[vid].keep

    # exact equivalence vs brute-force same-cluster edges at tau
    edges = [
        (p.vec_a, p.vec_b)
        for p in dedup.dedup_embedding(spark, sf_dir).collect()
        if p.sim_e6 >= similarity.SEMDEDUP_TAU_E6
    ]
    assert edges
    expected = set()
    for a, b in edges:
        ra, rb = rows[a], rows[b]
        if ra.cluster_id != rb.cluster_id:
            continue
        ka, kb = (ra.cent_sim_e6, a), (rb.cent_sim_e6, b)
        expected.add(b if ka < kb else a)
    assert dropped == expected


def test_embedding_drift_detects_injected_shift(spark, sf_dir, tmp_path):
    """Conservation on the fixture, exact behavior on a synthetic
    corpus: an unchanged label reports cosine 1.0, a rotated label
    cosine 0, a label present only in the current cohort a positive
    share delta with zero centroid similarity."""
    out = similarity.embedding_drift(spark, sf_dir).collect()
    n = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    assert sum(r.n_ref + r.n_cur for r in out) == n
    # shares are floor-divided e6 integers: deltas sum to ~0 up to one
    # rounding unit per label per side
    assert abs(sum(r.share_delta_e6 for r in out)) <= 2 * len(out)

    rows = [
        (2, [1.0, 0.0, 0.0, 0.0], 0),
        (3, [1.0, 0.0, 0.0, 0.0], 0),
        (4, [1.0, 0.0, 0.0, 0.0], 1),
        (5, [0.0, 1.0, 0.0, 0.0], 1),
        (7, [0.0, 0.0, 1.0, 0.0], 2),
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    got = {
        r.label: r
        for r in similarity.embedding_drift(spark, str(tmp_path)).collect()
    }
    assert got[0].cent_sim_e6 == 1_000_000  # identical centroids
    assert got[1].cent_sim_e6 == 0  # orthogonal rotation
    assert got[2].n_ref == 0 and got[2].cent_sim_e6 == 0
    # ref totals 2, cur totals 3: label 2 gains 1/3 of cur share
    assert got[2].share_delta_e6 == 1_000_000 // 3
    assert got[0].share_delta_e6 == 1_000_000 // 3 - 1_000_000 // 2


def test_embedding_drift_empty_cohort_keeps_rows(spark, tmp_path):
    """An empty cohort (all vec_ids share parity) must NOT collapse the
    report to 0 rows (ADVICE r10): every label still reports, counts on
    the empty side are 0, and share terms involving the empty cohort's
    total are NULL (matching the oracle's div-by-NULL)."""
    rows = [  # all even vec_ids → ref only, cur cohort empty
        (2, [1.0, 0.0, 0.0, 0.0], 0),
        (4, [0.0, 1.0, 0.0, 0.0], 1),
    ]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    got = {
        r.label: r
        for r in similarity.embedding_drift(spark, str(tmp_path)).collect()
    }
    assert set(got) == {0, 1}
    for r in got.values():
        assert r.n_cur == 0 and r.n_ref == 1
        assert r.share_delta_e6 is None  # cur total is NULL
        assert r.cent_sim_e6 == 0  # one side empty → defined 0


def test_semdedup_index_matches_frozen_batch_and_is_idempotent(
    spark, sf_dir, tmp_path
):
    """semdedup_index (round 11): init on the first half + one update
    batch must serve exactly the batch SemDeDup under the SAME frozen
    quantizer; a retried batch is a no-op (returns nothing, serving
    unchanged, one live snapshot)."""
    import os

    import pyspark.sql.functions as F  # noqa: F811

    from engineering_school_bigdata_project_f1_weather_spark.functions import (
        snapshots,
    )

    vecs = similarity.load_table_spread(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    half = vecs.agg(F.expr("div(max(vec_id), 2)").alias("h")).first()["h"]
    first = vecs.where(F.col("vec_id") <= half)
    second = vecs.where(F.col("vec_id") > half)
    idx = str(tmp_path / "sem_idx")
    similarity.semdedup_index_init(spark, first, idx)
    out1 = similarity.semdedup_index_update(spark, second, idx)
    assert out1.count() > 0  # the second half dominates/loses something
    got = {tuple(r) for r in similarity.semdedup_resolve(spark, idx).collect()}

    # batch twin under the SAME frozen quantizer (trained on `first`)
    base = similarity._quantize_vectors(vecs)
    cents = similarity._train_centroids(
        spark, similarity._quantize_vectors(first).cache()
    )
    withcs = similarity._semantic_withcs(base, cents).localCheckpoint()
    cand = (
        withcs.select(F.col("vec_id").alias("vec_a"), "cluster_id")
        .join(
            withcs.select(F.col("vec_id").alias("vec_b"), "cluster_id"),
            "cluster_id",
        )
        .where(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
    )
    dom = similarity._semantic_dominated(cand, withcs)
    want = {
        tuple(r)
        for r in withcs.select("vec_id", "cluster_id", "cent_sim_e6")
        .join(dom.withColumn("_d", F.lit(True)), "vec_id", "left")
        .select(
            "vec_id", "cluster_id", "cent_sim_e6",
            F.col("_d").isNull().alias("keep"),
        )
        .collect()
    }
    assert got == want and len(got) > 0
    assert any(not r[3] for r in got)  # some vector is actually dropped

    # retry: no-op, serving unchanged, exactly one live snapshot
    assert similarity.semdedup_index_update(spark, second, idx).count() == 0
    assert {
        tuple(r) for r in similarity.semdedup_resolve(spark, idx).collect()
    } == got
    live = snapshots.snap_live(idx)
    assert [d for d in os.listdir(idx) if d.startswith("sem_v")] == [live]


def test_semdedup_update_dethrones_stored_keeper(spark, tmp_path):
    """A stored keeper must flip keep -> False when a new batch lands a
    duplicate that is FARTHER from the centroid (SemDeDup keeps the
    outlier)."""
    import pyspark.sql.functions as F  # noqa: F811

    def frame(rows):
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )

    # seeds need vec_id 1..K; give every seed its own direction so the
    # trained centroids stay distinct, then work inside cluster of dim 0
    dim = 20
    def unit(i, scale=1.0):
        v = [0.0] * dim
        v[i % dim] = float(scale)
        return v

    init = [(i, unit(i)) for i in range(1, similarity.K_CENTROIDS + 1)]
    idx = str(tmp_path / "sem_idx2")
    similarity.semdedup_index_init(spark, frame(init), idx)
    before = {
        r.vec_id: r.keep
        for r in similarity.semdedup_resolve(spark, idx).collect()
    }
    assert all(before.values())  # orthogonal directions: all kept
    # new vector: same direction as vec 1 (dim 1) but slightly rotated —
    # a near-duplicate farther from the centroid than vec 1 itself
    rot = [0.0] * dim
    rot[1], rot[2] = 0.98, 0.19
    out = similarity.semdedup_index_update(spark, frame([(100, rot)]), idx)
    dethroned = {r.vec_id for r in out.collect()}
    after = {
        r.vec_id: r.keep
        for r in similarity.semdedup_resolve(spark, idx).collect()
    }
    assert 1 in dethroned  # the STORED keeper lost to the new outlier
    assert after[1] is False and after[100] is True


def test_semdedup_index_compact_preserves_serving(spark, sf_dir, tmp_path):
    """semdedup_index_compact: fewer vector data files, identical
    serving view, updates still work afterwards (the LSM compaction
    contract shared with the substring index)."""
    import glob
    import os

    import pyspark.sql.functions as F  # noqa: F811

    from engineering_school_bigdata_project_f1_weather_spark.functions import (
        snapshots,
    )

    vecs = similarity.load_table_spread(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    idx = str(tmp_path / "sem_idx3")
    similarity.semdedup_index_init(
        spark, vecs.where(F.col("vec_id") % 3 != 2), idx
    )
    similarity.semdedup_index_update(
        spark, vecs.where((F.col("vec_id") % 3 == 2) & (F.col("vec_id") % 2 == 0)), idx
    )

    def n_vec_files():
        live = snapshots.snap_live(idx)
        return len(
            glob.glob(
                os.path.join(idx, live, "vectors", "**", "part-*"),
                recursive=True,
            )
        )

    before_files = n_vec_files()
    before = {
        tuple(r) for r in similarity.semdedup_resolve(spark, idx).collect()
    }
    similarity.semdedup_index_compact(spark, idx)
    assert n_vec_files() < before_files
    assert {
        tuple(r) for r in similarity.semdedup_resolve(spark, idx).collect()
    } == before
    # post-compaction ingest still works and extends serving
    out = similarity.semdedup_index_update(
        spark, vecs.where((F.col("vec_id") % 3 == 2) & (F.col("vec_id") % 2 == 1)), idx
    )
    after = {
        r.vec_id for r in similarity.semdedup_resolve(spark, idx).collect()
    }
    total = vecs.count()
    assert len(after) == total  # every vector indexed across the 3 batches


# ------------------------------------------------- _nearest contract
def _nearest_reference(rows, cents, n, metric, key=()):
    """The expression form ``_nearest`` replaced: a broadcast cross join
    (an equi-join on ``key``) scored by ``vectors.sim_e6`` or the exact
    squared L2, ranked by ``row_number`` over (sim desc, id asc) or
    (d2 asc, id asc)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from engineering_school_bigdata_project_f1_weather_spark.functions import vectors

    dot = vectors.dot(F.col("q"), F.col("cq"))
    if metric == "cos":
        score = vectors.sim_e6(dot, F.col("n2"), F.col("cn2"))
        order = [F.desc("score"), F.asc("centroid_id")]
    else:
        score = (F.col("n2") - 2 * dot + F.col("cn2")).cast("long")
        order = [F.asc("score"), F.asc("centroid_id")]
    ids = ["vec_id", *key]
    on = list(key) if key else F.lit(True)
    w = Window.partitionBy(*ids).orderBy(*order)
    return (
        rows.join(F.broadcast(cents), on)
        .select(*ids, "centroid_id", score.alias("score"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= n)
        .drop("rk")
    )


def _argbest_reference(rows, cents, metric):
    """The n=1 form ``_nearest`` replaced: ``max_by`` over the injective
    key ``sim·ORD_MULT − id`` (cosine) or ``min_by`` over
    ``d2·PQ_K + id`` (L2, ids below PQ_K)."""
    import pyspark.sql.functions as F

    from engineering_school_bigdata_project_f1_weather_spark.functions import vectors

    dot = vectors.dot(F.col("q"), F.col("cq"))
    scored = rows.join(F.broadcast(cents), F.lit(True))
    if metric == "cos":
        sim = vectors.sim_e6(dot, F.col("n2"), F.col("cn2"))
        best = F.max_by(
            "centroid_id", sim * F.lit(similarity.ORD_MULT) - F.col("centroid_id")
        )
    else:
        d2 = (F.col("n2") - 2 * dot + F.col("cn2")).cast("long")
        best = F.min_by("centroid_id", d2 * similarity.PQ_K + F.col("centroid_id"))
    return scored.groupBy("vec_id").agg(best.alias("centroid_id"))


def test_nearest_matches_the_expression_form(spark):
    """``_nearest`` against the expression form it replaced, on rows
    built to hit its edges: exact score ties for cosine (parallel
    centroids) and L2 (equidistant centroids), a zero-norm row, n larger
    than the table, an empty table, and a per-subspace ``key=("m",)``
    table with a subspace that has no codes."""
    import random

    import pyspark.sql.functions as F

    from engineering_school_bigdata_project_f1_weather_spark.functions import vectors

    rng = random.Random(7)
    vecs = [[3, 0, 0, 0], [0, 0, 0, 0], [1, 1, 0, 0], [-2, 1, 3, 0]]
    vecs += [[rng.randint(-2, 2) for _ in range(4)] for _ in range(24)]
    rows = spark.createDataFrame(
        [(i + 1, f"r{i + 1}", v) for i, v in enumerate(vecs)],
        "vec_id long, tag string, q array<long>",
    ).withColumn("n2", vectors.norm2(F.col("q")))
    cents = spark.createDataFrame(
        [
            (7, [1, 0, 0, 0]),
            (3, [2, 0, 0, 0]),  # parallel to 7: every cosine ties
            (5, [0, 1, 0, 0]),
            (9, [0, -1, 0, 0]),  # 5, 7, 9 are equidistant from the origin
            (11, [1, 1, 0, 0]),
        ],
        "centroid_id long, cq array<long>",
    ).withColumn("cn2", vectors.norm2(F.col("cq")))

    def got(df, cols):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    cols = ["vec_id", "centroid_id", "score"]
    for metric in ("cos", "l2"):
        for n in (1, 2, 10):
            out = similarity._nearest(rows, cents, n, metric)
            assert out.columns == ["vec_id", "tag", "centroid_id", "score"]
            want = got(_nearest_reference(rows, cents, n, metric), cols)
            assert got(out, cols) == want, (metric, n)
            assert len(want) == len(vecs) * min(n, 5)
            tags = {f"r{i + 1}" for i in range(len(vecs))}
            assert {r.tag for r in out.collect()} == tags
        ids = ["vec_id", "centroid_id"]
        best = got(similarity._nearest(rows, cents, 1, metric), ids)
        assert best == got(_argbest_reference(rows, cents, metric), ids)
    # the ties resolve to the lower id: row 1 is parallel to 3 and 7,
    # the zero row 2 scores 0 against all (cosine) and 1 against 5/7/9
    first = dict(got(similarity._nearest(rows, cents, 1, "cos"), ids))
    assert first[1] == 3 and first[2] == 3
    first = dict(got(similarity._nearest(rows, cents, 1, "l2"), ids))
    assert first[2] == 5

    assert similarity._nearest(rows, cents.where(F.lit(False)), 3, "cos").count() == 0

    sub = rows.select(
        "vec_id", F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("m"), "q", "n2"
    )
    kcents = cents.select(F.explode(F.array(F.lit(0), F.lit(1))).alias("m"), "*").where(
        (F.col("m") == 0) | (F.col("centroid_id") != 3)
    )
    kcols = ["vec_id", "m", "centroid_id", "score"]
    for metric in ("cos", "l2"):
        out = similarity._nearest(sub, kcents, 2, metric, ("m",))
        want = got(_nearest_reference(sub, kcents, 2, metric, ("m",)), kcols)
        assert got(out, kcols) == want, metric
        assert {r[1] for r in want} == {0, 1}  # m=2 has no codes


def test_serving_build_collects_each_centroid_table_once(spark, sf_dir):
    """Building a served IVF / IVF-PQ / MMR frame collects each
    centroid or codebook table with at most one Spark job: the table is
    collected once into a local relation, and every assignment, probe
    and broadcast reads that relation.  Before, each ``_nearest`` call
    re-collected the same table with its own job.  The first build
    also materializes the entry's cached corpus frame, so the jobs are
    counted on the second build, where only the table collects run."""
    tables = {
        "sim_ivf": 1,  # the seeded coarse centroids
        # the coarse centroids and the residual codebook, plus one job:
        # the codebook's residuals broadcast the collected centroid
        # table, and Spark runs a one-task job to broadcast a local
        # relation
        "sim_ivf_pq": 2 + 1,
        "sim_mmr": 1,  # the seeded lists of the IVF pool
    }
    sc = spark.sparkContext
    for name, n_tables in tables.items():
        similarity.QUERIES[name](spark, sf_dir)
        group = f"collect_once_{name}"
        sc.setJobGroup(group, group)
        try:
            similarity.QUERIES[name](spark, sf_dir)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()  # job starts are async
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        assert jobs <= n_tables, (name, jobs)
