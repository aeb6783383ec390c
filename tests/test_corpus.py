"""Semantic pins for the corpus-preparation operators (oracle parity is
covered by the driver/selfcheck; these pin the properties the oracle
can't express)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from engineering_school_bigdata_project_f1_weather_spark.operators import corpus, dedup


def test_chunks_cover_every_token_with_overlap(spark, sf_dir):
    """Every token index of every doc is inside >= 1 chunk; consecutive
    chunks overlap by CHUNK_TOKENS - CHUNK_STRIDE; no chunk is empty."""
    chunks = corpus.text_chunk(spark, sf_dir).cache()
    docs = corpus._docs_tokens(spark, sf_dir).select(
        "doc_id", F.size("toks").cast("long").alias("n_tokens")
    )
    per_doc = (
        chunks.groupBy("doc_id")
        .agg(
            F.max(
                F.col("chunk_id") * corpus.CHUNK_STRIDE + F.col("n_chunk_tokens")
            ).alias("covered"),
            F.count(F.lit(1)).alias("n_chunks"),
            F.min("n_chunk_tokens").alias("min_chunk"),
        )
        .join(docs, "doc_id")
    )
    bad = per_doc.where(
        (F.col("covered") != F.col("n_tokens")) | (F.col("min_chunk") <= 0)
    )
    assert bad.count() == 0, bad.limit(5).collect()
    # docs longer than one window really are split
    assert (
        per_doc.where(
            (F.col("n_tokens") > corpus.CHUNK_TOKENS) & (F.col("n_chunks") < 2)
        ).count()
        == 0
    )


def test_chunk_text_roundtrip_matches_tokens(spark, sf_dir):
    """Re-splitting chunk_text yields exactly the sliced token window."""
    sample = (
        corpus.text_chunk(spark, sf_dir)
        .where(F.col("doc_id") < 20)
        .select(
            "doc_id",
            "chunk_id",
            F.size(F.split("chunk_text", " ")).alias("n_resplit"),
            "n_chunk_tokens",
        )
    )
    assert sample.where(F.col("n_resplit") != F.col("n_chunk_tokens")).count() == 0


def test_sample_split_deterministic_and_partitions_docs(spark, sf_dir):
    r1 = {tuple(r) for r in corpus.sample_split(spark, sf_dir).collect()}
    r2 = {tuple(r) for r in corpus.sample_split(spark, sf_dir).collect()}
    assert r1 == r2
    total = sum(r[2] for r in r1)
    n_docs = corpus._docs_tokens(spark, sf_dir).count()
    assert total == n_docs  # every doc in exactly one (lang, split) cell
    splits = {r[1] for r in r1}
    assert splits == {"train", "val", "test"}
    # train dominates (~90%)
    train = sum(r[2] for r in r1 if r[1] == "train")
    assert 0.8 < train / n_docs < 0.98


def test_contamination_excludes_eval_docs(spark, sf_dir):
    out = corpus.text_contamination(spark, sf_dir)
    assert out.where(F.col("doc_id") % corpus.EVAL_STRIDE == 0).count() == 0
    assert out.where(
        (F.col("contamination_e6") < 0) | (F.col("contamination_e6") > 1_000_000)
    ).count() == 0


def test_quadratic_baselines_guarded(spark, sf_dir, monkeypatch):
    """The deliberately-quadratic baselines refuse oversized inputs unless
    explicitly forced (they exist to oracle-check the scale paths)."""
    import pytest as _pytest

    from engineering_school_bigdata_project_f1_weather_spark.operators import dedup

    monkeypatch.setattr(dedup, "QUADRATIC_GUARD_MAX_ROWS", 10)
    with _pytest.raises(ValueError, match="dedup_minhash_lsh"):
        dedup.dedup_ngram_jaccard(spark, sf_dir)
    with _pytest.raises(ValueError, match="dedup_embedding_ann"):
        dedup.dedup_embedding(spark, sf_dir)
    # forcing still works
    assert dedup.dedup_ngram_jaccard(spark, sf_dir, allow_quadratic=True).count() > 0


def test_propagate_components_raises_on_nonconvergence(spark):
    """A chain graph with diameter > max_iters must fail loudly, not
    return partially propagated labels (ADVICE r1)."""
    import pytest as _pytest

    from engineering_school_bigdata_project_f1_weather_spark.operators.dedup import (
        propagate_components,
    )

    # path graph 0-1-2-...-30: diameter 30, far beyond max_iters=2
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], ["a", "b"]
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        propagate_components(spark, pairs, "a", "b", max_iters=2)
    # and with enough rounds it converges to one component
    out = propagate_components(spark, pairs, "a", "b", max_iters=20)
    comps = {r.component for r in out.collect()}
    assert comps == {0}


def test_curate_pipeline_end_to_end(spark, sf_dir, tmp_path):
    """documents -> gated -> split -> chunked shards + manifest. Pins the
    funnel's internal consistency and the (split, lang) lake layout."""
    import os

    from engineering_school_bigdata_project_f1_weather_spark import curate_pipeline

    out = str(tmp_path / "curated")
    res = curate_pipeline.run(spark, sf_dir, out)

    assert res.n_docs == corpus._docs_tokens(spark, sf_dir).count()
    assert 0 < res.n_kept < res.n_docs
    assert res.n_chunks >= res.n_kept  # every kept doc has >= 1 chunk

    # manifest sums equal the written data
    assert sum(m["n_chunks"] for m in res.manifest) == res.n_chunks
    kept_docs_from_manifest = sum(m["n_docs"] for m in res.manifest)
    assert kept_docs_from_manifest == res.n_kept
    assert {m["split"] for m in res.manifest} <= {"train", "val", "test"}

    # lake layout: split=... / lang=... partition dirs (pruning-friendly)
    splits = [d for d in os.listdir(res.chunks_path) if d.startswith("split=")]
    assert splits
    langs = os.listdir(os.path.join(res.chunks_path, splits[0]))
    assert any(d.startswith("lang=") for d in langs)

    # chunked corpus matches the gate: chunk doc_ids == kept doc_ids
    written = spark.read.parquet(res.chunks_path)
    kept = curate_pipeline.kept_docs(spark, sf_dir).where("kept")
    assert {r.doc_id for r in written.select("doc_id").distinct().collect()} == {
        r.doc_id for r in kept.select("doc_id").collect()
    }

    # idempotent re-run (dynamic partition overwrite, not append)
    res2 = curate_pipeline.run(spark, sf_dir, out)
    assert res2.n_chunks == res.n_chunks


def test_operators_handle_empty_corpus(spark, tmp_path):
    """An empty documents/embeddings/events lake yields empty results —
    no crashes in shingling, LSH, CC, chunking, or windowed plans."""
    import pyspark.sql.functions as F  # noqa: F811

    from engineering_school_bigdata_project_f1_weather_spark.operators import (
        dedup,
        events,
        similarity,
        text,
    )
    from engineering_school_bigdata_project_f1_weather_spark.schemas import TESTDATA_SCHEMAS
    from engineering_school_bigdata_project_f1_weather_spark.sources.tables import load_table

    sf = str(tmp_path / "empty_lake")
    for t in ["documents", "embeddings", "events", "lineitem", "orders", "customer"]:
        src = load_table(spark, "/root/testdata/sf0.001", t)
        src.limit(0).write.parquet(f"{sf}/{t}.parquet")

    from engineering_school_bigdata_project_f1_weather_spark.operators import quality, search

    checks = [
        corpus.text_chunk, corpus.text_contamination, corpus.sample_split,
        corpus.text_repetition, text.text_quality, text.text_langid_ngram,
        dedup.dedup_exact, dedup.dedup_minhash_lsh, dedup.dedup_winnow,
        dedup.winnow_matches, dedup.dedup_components, dedup.doc_pagerank,
        similarity.sim_lsh, similarity.sim_clusters,
        events.events_sessionize, events.events_anomaly,
        events.events_retention,
        # round-3 additions: sampling/mix/forget, scoring, search,
        # resample, salted join, snapshot diff — all empty-in/empty-out
        corpus.sample_stratified, corpus.corpus_mix, corpus.corpus_forget,
        quality.quality_score, quality.lineitem_snapshot_diff,
        search.text_postings, search.text_search,
        events.events_resample, events.events_user_spend_salted,
        events.events_hourly_incremental,
        similarity.dedup_embedding_ann,
    ]
    # round-6 additions: prefix-filter join, sparse cosine, sketches,
    # Z-order layout — all empty-in/empty-out
    from engineering_school_bigdata_project_f1_weather_spark.operators import sketch

    checks += [
        dedup.dedup_prefix_join, search.text_sparse_sim,
        sketch.events_dau_hll, sketch.events_mau_hll,
        sketch.events_user_cms, quality.lineitem_zorder_layout,
        dedup.dedup_edit_distance,
    ]
    for fn in checks:
        assert fn(spark, sf).count() == 0, fn.__name__

    # the funnel report keeps its 3 step rows, zeroed, with NULL (guarded)
    # conversion — a report shape, not a per-row projection
    funnel = events.events_funnel(spark, sf).collect()
    assert [(r.step, r.n_users, r.conversion_e6) for r in funnel] == [
        (1, 0, None), (2, 0, None), (3, 0, None)
    ]


def test_incremental_minhash_index_matches_full_recompute(spark, sf_dir, tmp_path):
    """Continuous-dedup shape: init the index on half the corpus, update
    with the other half — the union of pairs reported by the two steps
    must equal the batch dedup_minhash_lsh over the full corpus."""
    from engineering_school_bigdata_project_f1_weather_spark.operators import dedup

    docs = dedup._docs(spark, sf_dir).select("doc_id", "text")
    first = docs.where(F.col("doc_id") % 2 == 0)
    second = docs.where(F.col("doc_id") % 2 == 1)
    idx = str(tmp_path / "mh_index")

    dedup.minhash_index_init(spark, first, idx)
    inc_pairs = {
        (r.doc_a, r.doc_b, r.inter, r.un, r.jaccard_e6)
        for r in dedup.minhash_index_update(spark, second, idx).collect()
    }
    batch_all = {
        (r.doc_a, r.doc_b, r.inter, r.un, r.jaccard_e6)
        for r in dedup.dedup_minhash_lsh(spark, sf_dir).collect()
    }
    batch_first_only = {
        p for p in batch_all if p[0] % 2 == 0 and p[1] % 2 == 0
    }
    # incremental step reports exactly the pairs with >= 1 new (odd) member
    assert inc_pairs == batch_all - batch_first_only
    assert inc_pairs, "expected cross-half near-dup pairs"
    # the index now holds every signature once
    n_idx = spark.read.parquet(dedup._minhash_live_dir(idx)).count()
    assert n_idx == docs.count()


def test_minhash_index_update_retry_is_idempotent(spark, sf_dir, tmp_path):
    """Orchestrator-retry safety (ADVICE r2): re-running a batch whose
    signatures were already appended must not duplicate index rows — the
    anti-join drops already-present doc_ids, so the retry is a no-op on
    the index and reports no stale pairs."""
    from engineering_school_bigdata_project_f1_weather_spark.operators import dedup

    docs = dedup._docs(spark, sf_dir).select("doc_id", "text")
    first = docs.where(F.col("doc_id") % 2 == 0)
    second = docs.where(F.col("doc_id") % 2 == 1)
    idx = str(tmp_path / "mh_index_retry")

    dedup.minhash_index_init(spark, first, idx)
    assert dedup.minhash_index_update(spark, second, idx).count() > 0

    n_docs = docs.count()
    # retry the SAME batch: no new pairs, no duplicate signatures
    assert dedup.minhash_index_update(spark, second, idx).count() == 0
    idx_df = spark.read.parquet(dedup._minhash_live_dir(idx))
    assert idx_df.count() == n_docs
    assert idx_df.select("doc_id").distinct().count() == n_docs

    # mixed batch (some already indexed, none new): still a no-op
    mixed = docs.where(F.col("doc_id") % 4 == 1)
    assert dedup.minhash_index_update(spark, mixed, idx).count() == 0
    assert spark.read.parquet(dedup._minhash_live_dir(idx)).count() == n_docs


def test_minhash_index_snapshot_durability(spark, sf_dir, tmp_path):
    """Round 8 (VERDICT r7 item 1): the minhash index rides the shared
    versioned-snapshot convention.  Pins: (a) CURRENT always names a
    complete snapshot and exactly one sig_v* dir is live after each
    update; (b) crash debris — a half-written version directory left by
    a failed update — is GC'd by the next successful commit and never
    affects results; (c) the live snapshot after split init+update holds
    exactly the full corpus signatures (bit-equality with a fresh
    full-corpus init)."""
    import os

    from engineering_school_bigdata_project_f1_weather_spark.functions import (
        snapshots,
    )
    from engineering_school_bigdata_project_f1_weather_spark.operators import dedup

    docs = dedup._docs(spark, sf_dir).select("doc_id", "text")
    first = docs.where(F.col("doc_id") % 2 == 0)
    second = docs.where(F.col("doc_id") % 2 == 1)
    idx = str(tmp_path / "mh_index_snap")

    dedup.minhash_index_init(spark, first, idx)
    assert snapshots.snap_live(idx) == "sig_v0"
    # simulated crash debris: a half-written NEXT version (worst case —
    # the name the next update will reuse) plus an unrelated orphan
    os.makedirs(os.path.join(idx, "sig_v1"))
    open(os.path.join(idx, "sig_v1", "part-junk"), "w").write("junk")
    os.makedirs(os.path.join(idx, "sig_v99"))

    assert dedup.minhash_index_update(spark, second, idx).count() > 0
    live = snapshots.snap_live(idx)
    assert live == "sig_v1"
    snaps = [d for d in os.listdir(idx) if d.startswith("sig_v")]
    assert snaps == [live]

    # split init+update state == fresh full-corpus init, row-for-row
    idx_full = str(tmp_path / "mh_index_full")
    dedup.minhash_index_init(spark, docs, idx_full)
    split_rows = {
        (r.doc_id, r.n, tuple(sorted(r.xs)), r.mh0)
        for r in spark.read.parquet(dedup._minhash_live_dir(idx)).collect()
    }
    full_rows = {
        (r.doc_id, r.n, tuple(sorted(r.xs)), r.mh0)
        for r in spark.read.parquet(
            dedup._minhash_live_dir(idx_full)
        ).collect()
    }
    assert split_rows == full_rows and split_rows


def test_quadratic_guard_refuses_large_inputs(spark, sf_dir, monkeypatch):
    """_guard_quadratic (VERDICT r2 item 6): a > QUADRATIC_GUARD_MAX_ROWS
    input raises unless allow_quadratic=True, both directly and through
    the public quadratic-baseline entry points."""
    import pytest

    from engineering_school_bigdata_project_f1_weather_spark.operators import dedup

    big = spark.range(dedup.QUADRATIC_GUARD_MAX_ROWS + 1)
    with pytest.raises(ValueError, match="quadratic"):
        dedup._guard_quadratic(big, "op_x", "scale_y", allow=False)
    dedup._guard_quadratic(big, "op_x", "scale_y", allow=True)  # no raise

    # through the public ops, with the threshold lowered below the test
    # corpus size so the real input trips the guard
    monkeypatch.setattr(dedup, "QUADRATIC_GUARD_MAX_ROWS", 10)
    with pytest.raises(ValueError, match="dedup_ngram_jaccard"):
        dedup.dedup_ngram_jaccard(spark, sf_dir)
    with pytest.raises(ValueError, match="dedup_embedding"):
        dedup.dedup_embedding(spark, sf_dir)
    assert dedup.dedup_ngram_jaccard(spark, sf_dir, allow_quadratic=True).count() >= 0


def test_quadratic_guard_recall_reports_and_sampling_fallback(
    spark, sf_dir, monkeypatch
):
    """VERDICT r4 item 6: the two recall-audit entries trip the guard
    end-to-end at an input just past the threshold, and the documented
    at-scale fallback — a deterministic md5-bucket ``sample_ppm`` slice —
    runs WITHOUT the allow_quadratic override once the sample fits under
    the guard, returning the same one-row report schema."""
    import pytest

    from engineering_school_bigdata_project_f1_weather_spark.operators import (
        dedup,
        similarity,
    )

    # threshold just below the corpus (500 docs / 500 vectors at sf0.01)
    monkeypatch.setattr(dedup, "QUADRATIC_GUARD_MAX_ROWS", 499)
    with pytest.raises(ValueError, match="dedup_recall_report"):
        dedup.dedup_recall_report(spark, sf_dir)
    with pytest.raises(ValueError, match="sim_recall_report"):
        similarity.sim_recall_report(spark, sf_dir)

    # the sampled slice fits under the guard -> runs without the override
    row = dedup.dedup_recall_report(spark, sf_dir, sample_ppm=500_000).head()
    assert {"n_true", "n_cand", "n_hit"} <= set(row.asDict())
    assert 0 < row["n_cand"] < dedup.dedup_recall_report(
        spark, sf_dir, allow_quadratic=True
    ).head()["n_cand"]

    srow = similarity.sim_recall_report(
        spark, sf_dir, sample_ppm=500_000
    ).head()
    assert srow["n_cand"] >= srow["n_hit"] >= 0

    # a sample that still exceeds the guard must still refuse
    monkeypatch.setattr(dedup, "QUADRATIC_GUARD_MAX_ROWS", 10)
    with pytest.raises(ValueError, match="sample_ppm"):
        dedup.dedup_recall_report(spark, sf_dir, sample_ppm=500_000)


def test_pii_redaction_is_complete_and_counted(spark, sf_dir):
    """After redaction no pattern matches remain; counts equal the
    deterministic decoration cardinality (every 7th/11th/13th doc)."""
    out = corpus.text_pii(spark, sf_dir).cache()
    residue = out.where(
        (F.regexp_count("redacted", F.lit(corpus.PII_EMAIL)) > 0)
        | (F.regexp_count("redacted", F.lit(corpus.PII_PHONE)) > 0)
        | (F.regexp_count("redacted", F.lit(corpus.PII_IP)) > 0)
    )
    assert residue.count() == 0, residue.limit(5).collect()
    # every planted item is found: doc_id % 7 == 0 -> exactly one email, etc.
    wrong = out.where(
        (F.col("n_emails") != F.when(F.col("doc_id") % 7 == 0, 1).otherwise(0))
        | (F.col("n_phones") != F.when(F.col("doc_id") % 11 == 0, 1).otherwise(0))
        | (F.col("n_ips") != F.when(F.col("doc_id") % 13 == 0, 1).otherwise(0))
    )
    assert wrong.count() == 0, wrong.limit(5).collect()
    # anchors present where something was redacted
    anchored = out.where(
        (F.col("n_pii") > 0)
        & ~(
            F.col("redacted").contains("<EMAIL>")
            | F.col("redacted").contains("<PHONE>")
            | F.col("redacted").contains("<IP>")
        )
    )
    assert anchored.count() == 0


def test_pack_sequences_respect_budget_arithmetic(spark, sf_dir):
    """seq_offset < BUDGET always; within a language, seq_id is
    non-decreasing in doc_id and reconstructs the running token total
    (seq_id * BUDGET + seq_offset == sum of earlier docs' tokens)."""
    from pyspark.sql import Window

    out = corpus.corpus_pack(spark, sf_dir).cache()
    assert out.where(F.col("seq_offset") >= corpus.PACK_BUDGET).count() == 0
    assert out.where(F.col("seq_offset") < 0).count() == 0

    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    recon = out.withColumn(
        "before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    ).where(
        F.col("seq_id") * corpus.PACK_BUDGET + F.col("seq_offset")
        != F.col("before")
    )
    assert recon.count() == 0, recon.limit(5).collect()
    # first doc of every language starts sequence 0 at offset 0
    first = out.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("lang").orderBy("doc_id")),
    ).where((F.col("rn") == 1) & ((F.col("seq_id") != 0) | (F.col("seq_offset") != 0)))
    assert first.count() == 0


def test_shuffle_is_deterministic_permutation(spark, sf_dir):
    """Each shard's pos column is a dense permutation 0..n_shard-1; the
    whole assignment is identical across independent runs (retry safety)
    and every doc appears exactly once."""
    a = corpus.corpus_shuffle(spark, sf_dir).cache()
    n_docs = a.count()
    assert a.select("doc_id").distinct().count() == n_docs
    per_shard = a.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("pos").alias("lo"),
        F.max("pos").alias("hi"),
        F.countDistinct("pos").alias("npos"),
    )
    bad = per_shard.where(
        (F.col("lo") != 0)
        | (F.col("hi") != F.col("n") - 1)
        | (F.col("npos") != F.col("n"))
    )
    assert bad.count() == 0, bad.collect()
    assert per_shard.count() == corpus.N_SHARDS  # no empty shard at this SF

    b = corpus.corpus_shuffle(spark, sf_dir)
    assert (
        a.join(b, "doc_id")
        .where(
            (a["shard"] != b["shard"])
            | (a["sort_key"] != b["sort_key"])
            | (a["pos"] != b["pos"])
        )
        .count()
        == 0
    )


def test_sample_stratified_rates_and_determinism(spark, sf_dir):
    """Per-language keep fraction must track the configured permille rate
    (hash buckets are uniform), and the sample must be bit-stable across
    runs (no rand() anywhere)."""
    from engineering_school_bigdata_project_f1_weather_spark.operators.corpus import (
        STRATUM_DEFAULT_PERMILLE,
        STRATUM_RATE_PERMILLE,
        sample_stratified,
    )
    from engineering_school_bigdata_project_f1_weather_spark.sources.tables import load_table

    kept = sample_stratified(spark, sf_dir)
    rows1 = {(r.doc_id, r.lang) for r in kept.collect()}
    rows2 = {(r.doc_id, r.lang) for r in sample_stratified(spark, sf_dir).collect()}
    assert rows1 == rows2  # deterministic

    totals = {
        r.lang: r.n
        for r in load_table(spark, sf_dir, "documents")
        .groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    kept_by_lang = {}
    for _, lang in rows1:
        kept_by_lang[lang] = kept_by_lang.get(lang, 0) + 1
    for lang, total in totals.items():
        rate = STRATUM_RATE_PERMILLE.get(lang, STRATUM_DEFAULT_PERMILLE) / 1000
        frac = kept_by_lang.get(lang, 0) / total
        assert abs(frac - rate) < 0.25, (lang, frac, rate)


def test_corpus_mix_budgets_respected(spark, sf_dir):
    """No source may exceed its token budget by more than one document
    (the straddling doc is admitted whole), and every non-empty source
    contributes at least one document (tokens_before of the hash-first
    doc is 0 < budget)."""
    from engineering_school_bigdata_project_f1_weather_spark.operators.corpus import corpus_mix
    from engineering_school_bigdata_project_f1_weather_spark.sources.tables import load_table

    rows = corpus_mix(spark, sf_dir).collect()
    assert rows
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    n_sources = (
        load_table(spark, sf_dir, "documents").select("source").distinct().count()
    )
    assert len(by_src) == n_sources
    for src, rs in by_src.items():
        budget = rs[0].budget_tokens
        total = sum(r.n_tokens for r in rs)
        max_doc = max(r.n_tokens for r in rs)
        assert total < budget + max_doc, (src, total, budget)
        assert all(r.tokens_before < budget for r in rs)


def test_corpus_forget_propagates_to_all_copies(spark, sf_dir):
    """Erasure completeness: every digest in the removal set must bring
    ALL corpus documents carrying that digest (no partial erasure), and
    every requested doc_id is present."""
    from engineering_school_bigdata_project_f1_weather_spark.operators.corpus import (
        FORGET_STRIDE,
        corpus_forget,
    )
    from engineering_school_bigdata_project_f1_weather_spark.sources.tables import load_table

    removed = corpus_forget(spark, sf_dir).collect()
    assert removed
    removed_ids = {r.doc_id for r in removed}
    removed_digests = {r.digest for r in removed}

    full = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", F.md5("text").alias("digest"))
        .collect()
    )
    for r in full:
        if r.doc_id % FORGET_STRIDE == 0:
            assert r.doc_id in removed_ids  # every request honored
        if r.digest in removed_digests:
            assert r.doc_id in removed_ids  # propagation complete


def test_quality_score_bands_partition(spark, sf_dir):
    from engineering_school_bigdata_project_f1_weather_spark.operators.quality import quality_score

    rows = quality_score(spark, sf_dir).collect()
    assert rows
    assert {r.band for r in rows} <= {"high", "mid", "low"}
    for r in rows:
        assert r.keep == (r.band != "low")


def test_sample_balanced_exact_k_and_nested_stability(spark, sf_dir):
    """Every language yields exactly min(K, stratum size) docs; the kept
    set is a pure function of doc_id (re-run identical)."""
    import pyspark.sql.functions as F

    from engineering_school_bigdata_project_f1_weather_spark.operators import corpus

    out = corpus.sample_balanced(spark, sf_dir)
    per = {r.lang: r.n for r in out.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
    sizes = {
        r.lang: r.n
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert per
    for lang, n in per.items():
        assert n == min(corpus.BALANCED_K, sizes[lang])
    a = sorted(r.doc_id for r in out.collect())
    b = sorted(r.doc_id for r in corpus.sample_balanced(spark, sf_dir).collect())
    assert a == b


def test_corpus_card_accounting(spark, sf_dir):
    """Card facts reconcile: dup count = docs − unique texts; mean length
    within [min, max]; ppm recomputable."""
    from engineering_school_bigdata_project_f1_weather_spark.operators import corpus

    r = corpus.corpus_card(spark, sf_dir).collect()[0]
    assert r.n_docs == r.n_unique_texts + r.n_exact_dups
    assert r.min_doc_tokens <= r.mean_doc_tokens <= r.max_doc_tokens
    assert r.dup_ppm == r.n_exact_dups * 1_000_000 // r.n_docs
    assert r.n_langs >= 1 and r.n_sources >= 1


def test_prefix_join_complete_and_pruning(spark, sf_dir):
    """dedup_prefix_join (round 5): (a) COMPLETENESS — the prefix-filter
    join returns exactly the pairs the share-any-shingle baseline finds
    at the same threshold (prefix filtering must have no false
    negatives); (b) PRUNING — its candidate pair volume is a small
    fraction of the share-any candidate volume, which is the reason the
    operator exists."""
    import pyspark.sql.functions as F  # noqa: F811

    from engineering_school_bigdata_project_f1_weather_spark.operators import dedup

    got = {
        (r.doc_a, r.doc_b, r.inter, r.jaccard_e6)
        for r in dedup.dedup_prefix_join(spark, sf_dir).collect()
    }
    want = {
        (r.doc_a, r.doc_b, r.inter, r.jaccard_e6)
        for r in dedup.dedup_ngram_jaccard(spark, sf_dir)
        .where(F.col("jaccard_e6") >= dedup.PREFIX_TAU_E6)
        .collect()
    }
    assert got == want and len(got) > 0

    # candidate-volume comparison: prefix-token join vs any-token join
    sh = dedup._shingle_hashes(spark, sf_dir).distinct()
    any_cand = (
        sh.alias("a")
        .join(sh.alias("b"), "x")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select("a.doc_id", "b.doc_id")
        .distinct()
        .count()
    )
    dfreq = sh.groupBy("x").agg(F.count(F.lit(1)).alias("df"))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    from pyspark.sql import Window

    ranked = (
        sh.join(dfreq, "x")
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("x"))
            ),
        )
        .join(sizes, "doc_id")
        .where(F.col("rk") <= F.col("n") - F.expr("div(3*n + 9, 10)") + 1)
    )
    base = (
        ranked.alias("a")
        .join(ranked.alias("b"), "x")
        .where(
            (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.greatest(F.col("a.n"), F.col("b.n")) * 3
                <= F.least(F.col("a.n"), F.col("b.n")) * 10
            )
        )
    )
    prefix_cand = base.select("a.doc_id", "b.doc_id").distinct().count()
    assert prefix_cand < 0.7 * any_cand, (prefix_cand, any_cand)
    # (c) POSITIONAL filter (round 6): the first-shared-token overlap
    # bound must prune further on top of prefix+length — this is the
    # candidate set the operator actually verifies.
    pos_cand = (
        base.where(
            13
            * (
                1
                + F.least(
                    F.col("a.n") - F.col("a.rk"),
                    F.col("b.n") - F.col("b.rk"),
                )
            )
            >= 3 * (F.col("a.n") + F.col("b.n"))
        )
        .select("a.doc_id", "b.doc_id")
        .distinct()
        .count()
    )
    assert pos_cand < prefix_cand, (pos_cand, prefix_cand)
    # completeness of the positionally-filtered set is already pinned by
    # `got == want` above (the operator applies all three filters).


def test_weighted_reservoir_merge_law_and_weighting(spark, sf_dir):
    """sample_weighted_reservoir (round 7): (a) exactly k distinct docs;
    (b) MERGE LAW — bottom-k keys are a mergeable sketch: taking the
    bottom-k of the union of two halves' bottom-k sets equals sampling
    the whole corpus in one pass (so the reservoir folds over ingest
    batches / partitions / clusters); (c) WEIGHTING — the high band is
    overrepresented and the low band underrepresented vs corpus shares
    (w = 4 vs 1)."""
    import pyspark.sql.functions as F  # noqa: F811

    from engineering_school_bigdata_project_f1_weather_spark.operators import corpus
    from engineering_school_bigdata_project_f1_weather_spark.operators.quality import (
        quality_score,
    )

    full = corpus.sample_weighted_reservoir(spark, sf_dir).collect()
    assert len(full) == corpus.RESERVOIR_K
    assert len({r.doc_id for r in full}) == corpus.RESERVOIR_K

    # (b) split by doc parity, bottom-k each half on the SAME keys, merge
    from engineering_school_bigdata_project_f1_weather_spark.functions import texts

    q = quality_score(spark, sf_dir)
    w = F.lit(1)
    for band, wt in corpus.RESERVOIR_BAND_WEIGHT.items():
        w = F.when(F.col("band") == band, F.lit(wt)).otherwise(w)
    keyed = (
        q.select("doc_id", "band", "score", w.alias("w"))
        .select(
            "doc_id", "band", "score", "w",
            F.explode(F.sequence(F.lit(1), F.col("w"))).alias("r"),
        )
        .select(
            "doc_id", "band", "score", "w",
            texts.hash32(
                F.concat(
                    F.lit("res:"), F.col("r").cast("string"),
                    F.lit(":"), F.col("doc_id").cast("string"),
                )
            ).alias("rk"),
        )
        .groupBy("doc_id", "band", "score", "w")
        .agg(F.min("rk").alias("res_key"))
    )
    halves = [
        keyed.where(F.col("doc_id") % 2 == i)
        .orderBy(F.asc("res_key"), F.asc("doc_id"))
        .limit(corpus.RESERVOIR_K)
        for i in (0, 1)
    ]
    merged = (
        halves[0].unionByName(halves[1])
        .orderBy(F.asc("res_key"), F.asc("doc_id"))
        .limit(corpus.RESERVOIR_K)
        .collect()
    )
    assert {(r.doc_id, r.res_key) for r in merged} == {
        (r.doc_id, r.res_key) for r in full
    }

    # (c) band weighting shifts the mix in the weighted direction
    corpus_shares = {
        r.band: r.cnt
        for r in q.groupBy("band").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    n_corpus = sum(corpus_shares.values())
    sampled = {b: 0 for b in corpus_shares}
    for r in full:
        sampled[r.band] += 1
    assert sampled["high"] / len(full) > corpus_shares["high"] / n_corpus
    assert sampled["low"] / len(full) < corpus_shares["low"] / n_corpus


def test_edit_distance_join_complete_and_pruning(spark, sf_dir):
    """dedup_edit_distance (round 7): (a) COMPLETENESS — the q-gram
    prefix-filter join returns exactly the pairs a quadratic
    length-filtered levenshtein sweep finds at the same threshold (the
    q·τ distinct-gram erasure bound must have no false negatives);
    (b) PRUNING — its candidate volume is a small fraction of the
    length-filter-only pair volume, which is why the operator scales."""
    import pyspark.sql.functions as F  # noqa: F811

    from engineering_school_bigdata_project_f1_weather_spark.operators import dedup
    from engineering_school_bigdata_project_f1_weather_spark.sources.tables import load_table

    got = {
        (r.doc_a, r.doc_b, r.edit_dist)
        for r in dedup.dedup_edit_distance(spark, sf_dir).collect()
    }
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", F.length("text").alias("len")
    )
    want = {
        (r.doc_a, r.doc_b, r.edit_dist)
        for r in (
            d.alias("a")
            .join(
                d.alias("b"),
                (F.col("a.doc_id") < F.col("b.doc_id"))
                & (F.abs(F.col("a.len") - F.col("b.len")) <= dedup.EDIT_TAU),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.levenshtein("a.text", "b.text", dedup.EDIT_TAU)
                .cast("long")
                .alias("edit_dist"),
            )
            .where(F.col("edit_dist") >= 0)
            .collect()
        )
    }
    assert got == want and len(got) > 0

    # pruning: candidate pairs from the q-gram prefix join vs the
    # length-filter-only quadratic pair count
    len_pairs = (
        d.alias("a")
        .join(
            d.alias("b"),
            (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.abs(F.col("a.len") - F.col("b.len")) <= dedup.EDIT_TAU),
        )
        .count()
    )
    qg = (
        d.where(F.col("len") >= dedup.EDIT_Q)
        .select(
            "doc_id",
            "text",
            F.explode(
                F.sequence(F.lit(1), F.col("len") - (dedup.EDIT_Q - 1))
            ).alias("pos"),
        )
        .select(
            "doc_id",
            F.expr(f"substring(text, pos, {dedup.EDIT_Q})").alias("g"),
        )
        .distinct()
    )
    from pyspark.sql import Window

    dfreq = qg.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    ranked = (
        qg.join(dfreq, "g")
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("g"))
            ),
        )
        .where(F.col("rk") <= dedup.EDIT_Q * dedup.EDIT_TAU + 1)
        .join(d.select("doc_id", "len"), "doc_id")
    )
    cand = (
        ranked.alias("a")
        .join(ranked.alias("b"), "g")
        .where(
            (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.abs(F.col("a.len") - F.col("b.len")) <= dedup.EDIT_TAU)
        )
        .select("a.doc_id", "b.doc_id")
        .distinct()
        .count()
    )
    assert cand < 0.2 * len_pairs, (cand, len_pairs)


# Eight hand-built rows: doc 2 has two, so self-pairs can repeat.
_PAIR_ROWS = [
    (1, 0, 10, 100, 20), (2, 0, 10, 100, 22), (3, 1, 20, 100, 30),
    (4, 1, 20, 200, 9), (5, 0, 10, 200, 7), (6, 2, 30, 300, 5),
    (2, 1, 20, 200, 22), (7, 2, 30, 300, 11),
]


def _len_close():
    return F.abs(F.col("a.len") - F.col("b.len")) <= dedup.EDIT_TAU


@pytest.mark.parametrize(
    "on, cond",
    [
        (("h", "v"), None),  # minhash band key
        (("x",), "len"),  # prefix-gram key + length residual
        ((), "rescue"),  # tiny-doc rescue: residual only
    ],
    ids=["band", "prefix_gram", "rescue"],
)
def test_pair_join_self_form_equals_probe_form(spark, on, cond):
    """The all-pairs form of ``_pair_join`` (probe=None, ``<``) gives the
    same pair set as the probe form with probe = rows, and a probe
    subset gives exactly the self-form pairs that touch it — what lets
    the index bootstraps use the self form and the updates the probe
    form."""
    from engineering_school_bigdata_project_f1_weather_spark.functions.localrel import (
        local_rows,
    )

    rows = local_rows(
        spark, _PAIR_ROWS, "doc_id long, h int, v long, x long, len long"
    )
    residual = {
        None: None,
        "len": _len_close(),
        "rescue": _len_close()
        & (F.least(F.col("a.len"), F.col("b.len")) < dedup.EDIT_Q),
    }[cond]

    def pairs(probe=None):
        out = dedup._pair_join(rows, on, residual, probe=probe).collect()
        assert all(a < b for a, b in out)
        return set(out)

    self_pairs = pairs()
    assert self_pairs, "the fixture must produce pairs for every key"
    assert pairs(probe=rows) == self_pairs
    probe_ids = {2, 5}
    assert pairs(probe=rows.where(F.col("doc_id").isin(*probe_ids))) == {
        p for p in self_pairs if probe_ids & set(p)
    }


def test_edit_distance_rescues_sub_qgram_docs(spark, tmp_path):
    """Docs shorter than EDIT_Q chars have no q-grams and can never meet
    the candidate join — the degenerate-regime rescue branch must still
    pair them (here: 'ab' vs 'abc' at distance 1, plus a tiny-vs-long
    non-pair that the length theorem excludes)."""
    import pyspark.sql.functions as F  # noqa: F811

    from engineering_school_bigdata_project_f1_weather_spark.operators import dedup
    from engineering_school_bigdata_project_f1_weather_spark.sources.tables import load_table

    sf = str(tmp_path / "tiny_lake")
    rows = [
        (1, "ab", "en", "src1", 2),
        (2, "abc", "en", "src1", 3),
        (3, "a completely different long document body " * 3, "en", "src1", 129),
    ]
    base = load_table(spark, "/root/testdata/sf0.001", "documents").limit(0)
    spark.createDataFrame(rows, base.schema).write.parquet(f"{sf}/documents.parquet")
    got = {
        (r.doc_a, r.doc_b, r.edit_dist)
        for r in dedup.dedup_edit_distance(spark, sf).collect()
    }
    assert got == {(1, 2, 1)}


def test_shingle_frame_matches_per_row_transform(spark):
    """texts.shingle_frame (round 6, the codegen window form) must
    produce exactly the per-row `shingles_of_tokens` set for every doc —
    including <k-token docs (no rows), exact-k docs (one shingle), and
    repeated shingles (collapsed when dedup=True, positional occurrences
    kept when dedup=False)."""
    import pyspark.sql.functions as F  # noqa: F811

    from engineering_school_bigdata_project_f1_weather_spark.functions import texts

    docs = spark.createDataFrame(
        [
            (1, "a b c d"),          # 2 shingles
            (2, "a b"),              # < k tokens: none
            (3, "x y z"),            # exactly k: one
            (4, "a b a b a b a"),    # repeats: dup shingles collapse
            (5, ""),                 # empty text
        ],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.g)
        for r in texts.shingle_frame(docs).collect()
    }
    want = {
        (r.doc_id, r.g)
        for r in docs.select(
            "doc_id",
            F.explode(
                texts.shingles_of_tokens(texts.tokens(F.col("text")))
            ).alias("g"),
        ).collect()
    }
    assert got == want and (2, "a b") not in {(d, g) for d, g in got}
    assert (3, "x y z") in got
    # dedup=False keeps positional occurrences: doc 4 has 5 shingle
    # positions but only 2 distinct shingles
    raw = [
        r.g
        for r in texts.shingle_frame(docs, dedup=False)
        .where(F.col("doc_id") == 4)
        .collect()
    ]
    assert len(raw) == 5 and len(set(raw)) == 2
    # k parameter: bigrams of doc 1
    bi = {
        r.g
        for r in texts.shingle_frame(docs, k=2)
        .where(F.col("doc_id") == 1)
        .collect()
    }
    assert bi == {"a b", "b c", "c d"}


def test_entity_resolution_composes_all_three_signals(spark, sf_dir):
    """dedup_entity_resolution (round 7): every doc appears exactly once
    with one canonical per entity; entity = min member id (Hash-Min
    closure invariant); and each evidence signal's pairs land inside one
    entity — exact dups, verified near-dups at the component threshold,
    and edit-distance pairs all agree with the closure."""
    import pyspark.sql.functions as F  # noqa: F811

    from engineering_school_bigdata_project_f1_weather_spark.operators import dedup
    from engineering_school_bigdata_project_f1_weather_spark.sources.tables import load_table

    rows = dedup.dedup_entity_resolution(spark, sf_dir).collect()
    ent_of = {r.doc_id: r.entity for r in rows}
    assert len(rows) == len(ent_of)  # one row per doc

    members: dict = {}
    canon: dict = {}
    for r in rows:
        members.setdefault(r.entity, []).append(r.doc_id)
        if r.canonical:
            canon[r.entity] = canon.get(r.entity, 0) + 1
        assert r.n_members >= 1
    for e, ms in members.items():
        assert e == min(ms), (e, ms)  # entity label = min member id
        assert canon.get(e) == 1  # exactly one canonical
    n_members_of = {r.entity: r.n_members for r in rows}
    for e, ms in members.items():
        assert n_members_of[e] == len(ms)

    # signal consistency: every evidence pair shares an entity
    d = load_table(spark, sf_dir, "documents")
    exact_pairs = (
        d.alias("a")
        .join(
            d.alias("b"),
            (F.md5("a.text") == F.md5("b.text"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("x"), F.col("b.doc_id").alias("y"))
        .collect()
    )
    near_pairs = (
        dedup.dedup_minhash_lsh(spark, sf_dir)
        .where(F.col("jaccard_e6") >= dedup.COMPONENT_MIN_JACCARD_E6)
        .collect()
    )
    typo_pairs = dedup.dedup_edit_distance(spark, sf_dir).collect()
    # the synthetic corpus has no byte-identical dups at sf0.001 — the
    # exact signal's consistency still holds vacuously; the two fuzzy
    # signals must actually fire
    assert near_pairs and typo_pairs
    for p in exact_pairs:
        assert ent_of[p.x] == ent_of[p.y]
    for p in near_pairs:
        assert ent_of[p.doc_a] == ent_of[p.doc_b]
    for p in typo_pairs:
        assert ent_of[p.doc_a] == ent_of[p.doc_b]


def test_er_index_update_retry_is_idempotent(spark, sf_dir, tmp_path):
    """er_index_update (round 8): a retried batch is a no-op — no edges
    returned, identical resolved view, exactly one live snapshot."""
    import os

    from engineering_school_bigdata_project_f1_weather_spark.functions import (
        snapshots,
    )
    from engineering_school_bigdata_project_f1_weather_spark.operators import dedup

    docs = dedup._docs(spark, sf_dir).select("doc_id", "lang", "text")
    idx = str(tmp_path / "er_idx_retry")
    dedup.er_index_init(spark, docs.where(F.col("doc_id") % 2 == 0), idx)
    odd = docs.where(F.col("doc_id") % 2 == 1)
    assert dedup.er_index_update(spark, odd, idx).count() > 0
    before = {tuple(r) for r in dedup.er_resolve(spark, idx).collect()}
    assert dedup.er_index_update(spark, odd, idx).count() == 0
    after = {tuple(r) for r in dedup.er_resolve(spark, idx).collect()}
    assert before == after and len(before) == docs.count()
    live = snapshots.snap_live(idx)
    assert [d for d in os.listdir(idx) if d.startswith("er_v")] == [live]


def test_er_index_affected_only_closure(spark, sf_dir, tmp_path):
    """The update's closure runs on the CONTRACTED affected subgraph:
    every remap entry retires an entity that one of the batch's edges
    actually touched — untouched entities are never relabeled."""
    from engineering_school_bigdata_project_f1_weather_spark.functions import (
        snapshots,
    )
    from engineering_school_bigdata_project_f1_weather_spark.operators import dedup

    docs = dedup._docs(spark, sf_dir).select("doc_id", "lang", "text")
    idx = str(tmp_path / "er_idx_affected")
    dedup.er_index_init(spark, docs.where(F.col("doc_id") % 2 == 0), idx)
    old_labels = {
        r.doc_id: r.entity
        for r in dedup.er_resolve(spark, idx).select("doc_id", "entity").collect()
    }
    edges = dedup.er_index_update(
        spark, docs.where(F.col("doc_id") % 2 == 1), idx
    ).collect()
    touched_entities = set()
    for r in edges:
        for d in (r.doc_a, r.doc_b):
            if d in old_labels:
                touched_entities.add(old_labels[d])
    live = snapshots.snap_live(idx)
    remap = spark.read.parquet(f"{idx}/{live}/remap").collect()
    assert remap, "expected at least one old-entity merge at this SF"
    assert {r.old_label for r in remap} <= touched_entities
    # untouched old docs keep their labels verbatim
    resolved = {
        r.doc_id: r.entity
        for r in dedup.er_resolve(spark, idx).select("doc_id", "entity").collect()
    }
    retired = {r.old_label for r in remap}
    for d, ent in old_labels.items():
        if ent not in retired:
            assert resolved[d] == ent, (d, ent, resolved[d])


def test_er_index_three_batches_equal_batch_capstone(spark, sf_dir, tmp_path):
    """Remap COMPOSITION across multiple updates: init + two ingest
    batches must serve exactly the batch dedup_entity_resolution over
    the full corpus (the registry entry pins one update; this pins the
    chained case where a label retired in batch 2 is retired again —
    i.e. the composed remap stays single-hop)."""
    from engineering_school_bigdata_project_f1_weather_spark.operators import dedup

    docs = dedup._docs(spark, sf_dir).select("doc_id", "lang", "text")
    idx = str(tmp_path / "er_idx_3b")
    dedup.er_index_init(spark, docs.where(F.col("doc_id") % 3 == 0), idx)
    dedup.er_index_update(spark, docs.where(F.col("doc_id") % 3 == 1), idx)
    dedup.er_index_update(spark, docs.where(F.col("doc_id") % 3 == 2), idx)
    got = {tuple(r) for r in dedup.er_resolve(spark, idx).collect()}
    want = {
        tuple(r) for r in dedup.dedup_entity_resolution(spark, sf_dir).collect()
    }
    assert got == want and len(got) > 0


def test_er_index_chain_remap_retired_label(spark, tmp_path):
    """ADVICE r8 (high): a label RETIRED in batch N, still stored by a
    doc touched in batch N+1, must contract onto its CURRENT label — not
    the retired one.  Synthetic chain: init {3,5,7} all distinct
    entities; batch 1 bridges 3–5 (remap 5→3); batch 2 bridges 5–7.
    Before the fix, doc 7 contracted onto retired label 5 and served
    entity 5; the batch closure over the full graph says 3.

    Texts are single 7-char tokens: too short for word 3-shingles (no
    NEAR edges) and shorter than EDIT_Q (the TYPO tiny-string rescue
    path carries the bridges at levenshtein ≤ EDIT_TAU)."""
    from engineering_school_bigdata_project_f1_weather_spark.operators import dedup

    def frame(rows):
        return spark.createDataFrame(
            [(i, "en", t) for i, t in rows], "doc_id long, lang string, text string"
        )

    # pairwise distance 7 (> EDIT_TAU=4): three distinct init entities
    init = frame([(3, "aaaaaaa"), (5, "bbbbbbb"), (7, "ccccccc")])
    bridge_35 = frame([(4, "aaabbbb")])  # dist 4 to T3, 3 to T5
    bridge_57 = frame([(6, "bbbcccc")])  # dist 4 to T5, 3 to T7
    idx = str(tmp_path / "er_idx_chain")
    dedup.er_index_init(spark, init, idx)
    assert dedup.er_index_update(spark, bridge_35, idx).count() == 2
    mid = {r.doc_id: r.entity for r in dedup.er_resolve(spark, idx).collect()}
    assert mid == {3: 3, 4: 3, 5: 3, 7: 7}
    assert dedup.er_index_update(spark, bridge_57, idx).count() == 2
    out = dedup.er_resolve(spark, idx).collect()
    assert len(out) == 5  # no remap fan-out duplicates
    assert {r.doc_id: r.entity for r in out} == {i: 3 for i in (3, 4, 5, 6, 7)}
    assert all(r.n_members == 5 for r in out)
    # the composed remap is single-hop: no new_label is itself retired
    from engineering_school_bigdata_project_f1_weather_spark.functions import (
        snapshots,
    )

    live = snapshots.snap_live(idx)
    remap = spark.read.parquet(f"{idx}/{live}/remap").collect()
    olds = [r.old_label for r in remap]
    assert len(olds) == len(set(olds))
    assert not (set(olds) & {r.new_label for r in remap})


def test_substring_dedup_removal_conservation(spark, sf_dir):
    """dedup_substring (round 9, Lee et al. 2022 shape): the span list is
    exactly the merged cover of the duplicate-window seeds —

    - CONSERVATION: every W-window occurring ≥2 times in the corpus lies
      entirely inside some emitted span (removing the spans removes ALL
      cross-corpus repeated W-grams);
    - MAXIMALITY: spans are disjoint, separated by > W tokens between a
      span's last seed and the next span's first (they could not merge),
      and both ends are seed-anchored (no over-removal: a span never
      extends past what a duplicate window justifies);
    - BOUNDS: spans stay inside the doc's token range.
    """
    from collections import Counter

    from engineering_school_bigdata_project_f1_weather_spark.operators import dedup

    W = dedup.SUBSTR_W
    docs = {
        r.doc_id: r.text.split(" ")
        for r in dedup._docs(spark, sf_dir).select("doc_id", "text").collect()
    }
    counts = Counter()
    for toks in docs.values():
        for p in range(len(toks) - W + 1):
            counts[" ".join(toks[p : p + W])] += 1
    seeds = {
        d: [
            p + 1
            for p in range(len(toks) - W + 1)
            if counts[" ".join(toks[p : p + W])] >= 2
        ]
        for d, toks in docs.items()
    }
    spans = {}
    for r in dedup.dedup_substring(spark, sf_dir).collect():
        spans.setdefault(r.doc_id, []).append((r.span_start, r.span_end))
        assert r.span_tokens == r.span_end - r.span_start + 1
        assert 1 <= r.span_start and r.span_end <= len(docs[r.doc_id])
    assert spans, "expected duplicate spans at this SF"
    for d, ps in seeds.items():
        got = sorted(spans.get(d, []))
        # conservation: every seed window inside one span
        for p in ps:
            assert any(s <= p and p + W - 1 <= e for s, e in got), (d, p)
        # maximality: ends seed-anchored, disjoint, non-mergeable
        seedset = set(ps)
        for i, (s, e) in enumerate(got):
            assert s in seedset and (e - W + 1) in seedset, (d, s, e)
            if i:
                prev_e = got[i - 1][1]
                assert s > prev_e - W + 1 + W, (d, got[i - 1], (s, e))
        if not ps:
            assert got == []


def test_substring_apply_excises_exactly_the_spans(spark, sf_dir):
    """dedup_substring_apply: clean_text is the original token sequence
    minus exactly the span positions (order preserved); n_removed sums
    the disjoint span lengths; untouched docs pass through verbatim."""
    from engineering_school_bigdata_project_f1_weather_spark.operators import dedup

    texts_by_id = {
        r.doc_id: r.text
        for r in dedup._docs(spark, sf_dir).select("doc_id", "text").collect()
    }
    spans = {}
    for r in dedup.dedup_substring(spark, sf_dir).collect():
        spans.setdefault(r.doc_id, []).append((r.span_start, r.span_end))
    out = {r.doc_id: r for r in dedup.dedup_substring_apply(spark, sf_dir).collect()}
    assert set(out) == set(texts_by_id)
    touched = 0
    for d, text in texts_by_id.items():
        toks = text.split(" ")
        ss = sorted(spans.get(d, []))
        keep = [
            t
            for i, t in enumerate(toks, start=1)
            if not any(s <= i <= e for s, e in ss)
        ]
        assert out[d].clean_text == " ".join(keep), d
        assert out[d].n_tokens == len(toks)
        assert out[d].n_removed_tokens == sum(e - s + 1 for s, e in ss)
        if ss:
            touched += 1
        else:
            assert out[d].clean_text == text
    assert touched > 0


def test_substr_index_update_retry_and_three_batches(spark, sf_dir, tmp_path):
    """substr_index (round 9): a retried batch is a no-op (no affected
    spans, identical serve, one live snapshot); init + two batches
    serve exactly the batch dedup_substring over the full corpus."""
    import os

    from engineering_school_bigdata_project_f1_weather_spark.functions import (
        snapshots,
    )
    from engineering_school_bigdata_project_f1_weather_spark.operators import dedup

    docs = dedup._docs(spark, sf_dir).select("doc_id", "text")
    idx = str(tmp_path / "sub_idx")
    dedup.substr_index_init(spark, docs.where(F.col("doc_id") % 3 == 0), idx)
    b1 = docs.where(F.col("doc_id") % 3 == 1)
    assert dedup.substr_index_update(spark, b1, idx).count() > 0
    before = {tuple(r) for r in dedup.substr_resolve(spark, idx).collect()}
    assert dedup.substr_index_update(spark, b1, idx).count() == 0
    assert {tuple(r) for r in dedup.substr_resolve(spark, idx).collect()} == before
    dedup.substr_index_update(spark, docs.where(F.col("doc_id") % 3 == 2), idx)
    got = {tuple(r) for r in dedup.substr_resolve(spark, idx).collect()}
    want = {tuple(r) for r in dedup.dedup_substring(spark, sf_dir).collect()}
    assert got == want and len(got) > 0
    live = snapshots.snap_live(idx)
    assert [d for d in os.listdir(idx) if d.startswith("sub_v")] == [live]


def test_substr_index_promotes_stored_singleton(spark, tmp_path):
    """The promotion path in isolation: a W-token sequence present ONCE
    in the indexed corpus gains a span only when a batch brings its
    duplicate — and the STORED doc's span appears too (the affected-doc
    recompute reaches back into the log)."""
    from engineering_school_bigdata_project_f1_weather_spark.operators import dedup

    W = dedup.SUBSTR_W
    seq = " ".join(f"w{i}" for i in range(W))
    other = " ".join(f"x{i}" for i in range(W))
    frame = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    idx = str(tmp_path / "sub_idx_promo")
    dedup.substr_index_init(spark, frame([(1, seq), (2, other)]), idx)
    assert dedup.substr_resolve(spark, idx).count() == 0  # all singletons
    out = dedup.substr_index_update(spark, frame([(3, seq)]), idx)
    got = {(r.doc_id, r.span_start, r.span_end) for r in out.collect()}
    assert got == {(1, 1, W), (3, 1, W)}  # stored doc 1 gained its span
    assert {(r.doc_id,) for r in dedup.substr_resolve(spark, idx).collect()} == {
        (1,),
        (3,),
    }


def test_substr_index_bucket_width_persisted(spark, tmp_path, monkeypatch):
    """Changing OCC_BUCKET_CHARS mid-index-life must not
    desync the probe from the stored partition layout (ADVICE r10):
    the snapshot records its occ-log bucket width, updates probe AND
    write deltas at that recorded width (a stored singleton is still
    promoted after the knob changes), and compaction is the sanctioned
    migration point that re-buckets at the new width."""
    import glob
    import os

    from engineering_school_bigdata_project_f1_weather_spark.functions import (
        snapshots,
    )
    from engineering_school_bigdata_project_f1_weather_spark.operators import dedup

    W = dedup.SUBSTR_W
    seq = " ".join(f"w{i}" for i in range(W))
    other = " ".join(f"x{i}" for i in range(W))
    frame = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    idx = str(tmp_path / "sub_idx_width")
    monkeypatch.setattr(dedup, "OCC_BUCKET_CHARS", 1)
    dedup.substr_index_init(spark, frame([(1, seq), (2, other)]), idx)
    live = snapshots.snap_live(idx)
    assert dedup._occ_width(os.path.join(idx, live)) == 1

    def hb_widths():
        live = snapshots.snap_live(idx)
        return {
            len(os.path.basename(d).split("=", 1)[1]) - 1  # strip 'b'
            for d in glob.glob(os.path.join(idx, live, "occ", "hb=*"))
        }

    assert hb_widths() == {1}
    # knob flips mid-life: the update must still promote the stored
    # singleton (probe at the RECORDED width, not the env's)
    monkeypatch.setattr(dedup, "OCC_BUCKET_CHARS", 2)
    out = dedup.substr_index_update(spark, frame([(3, seq)]), idx)
    got = {(r.doc_id, r.span_start, r.span_end) for r in out.collect()}
    assert got == {(1, 1, W), (3, 1, W)}
    assert hb_widths() == {1}  # delta written at the stored width too
    # compaction migrates the layout and stamps the new width
    dedup.substr_index_compact(spark, idx)
    assert hb_widths() == {2}
    assert dedup._occ_width(os.path.join(idx, snapshots.snap_live(idx))) == 2
    # post-migration ingest probes the new layout correctly
    out2 = dedup.substr_index_update(spark, frame([(4, other)]), idx)
    got2 = {(r.doc_id, r.span_start, r.span_end) for r in out2.collect()}
    assert got2 == {(2, 1, W), (4, 1, W)}


def test_occ_width_legacy_snapshot_derived_from_layout(
    spark, tmp_path, monkeypatch
):
    """Pre-round-11 snapshots carry no OCC_WIDTH file; their width must
    come from the on-disk 'hb=b…' layout, NOT the current constant
    (ADVICE r11: that fallback silently desyncs the probe if the
    knob changed since the legacy snapshot was written — the wrong-spans
    failure the width file prevents for new snapshots)."""
    import os

    from engineering_school_bigdata_project_f1_weather_spark.functions import (
        snapshots,
    )
    from engineering_school_bigdata_project_f1_weather_spark.operators import dedup

    W = dedup.SUBSTR_W
    seq = " ".join(f"w{i}" for i in range(W))
    frame = lambda rows: spark.createDataFrame(rows, "doc_id long, text string")
    idx = str(tmp_path / "sub_idx_legacy")
    monkeypatch.setattr(dedup, "OCC_BUCKET_CHARS", 1)
    dedup.substr_index_init(spark, frame([(1, seq)]), idx)
    base = os.path.join(idx, snapshots.snap_live(idx))
    os.remove(os.path.join(base, "OCC_WIDTH"))  # simulate a legacy snapshot
    monkeypatch.setattr(dedup, "OCC_BUCKET_CHARS", 3)  # knob changed since
    assert dedup._occ_width(base) == 1  # layout wins over env
    # and the update path (which routes through _occ_width) still
    # promotes the stored singleton at the layout's width
    out = dedup.substr_index_update(spark, frame([(2, seq)]), idx)
    got = {(r.doc_id, r.span_start, r.span_end) for r in out.collect()}
    assert got == {(1, 1, W), (2, 1, W)}


def test_substr_index_compact_preserves_serving(spark, sf_dir, tmp_path):
    """substr_index_compact: fewer data files, identical serving view,
    updates still work afterwards (the LSM compaction contract)."""
    import glob
    import os

    from engineering_school_bigdata_project_f1_weather_spark.functions import (
        snapshots,
    )
    from engineering_school_bigdata_project_f1_weather_spark.operators import dedup

    docs = dedup._docs(spark, sf_dir).select("doc_id", "text")
    idx = str(tmp_path / "sub_idx_compact")
    dedup.substr_index_init(spark, docs.where(F.col("doc_id") % 3 == 0), idx)
    dedup.substr_index_update(spark, docs.where(F.col("doc_id") % 3 == 1), idx)

    def n_occ_files():
        # hb-bucketed layout (round 10): data files live under hb=*/
        live = snapshots.snap_live(idx)
        return len(
            glob.glob(
                os.path.join(idx, live, "occ", "**", "part-*"), recursive=True
            )
        )

    before_files = n_occ_files()
    before = {tuple(r) for r in dedup.substr_resolve(spark, idx).collect()}
    dedup.substr_index_compact(spark, idx)
    assert n_occ_files() < before_files
    assert {tuple(r) for r in dedup.substr_resolve(spark, idx).collect()} == before
    # post-compaction ingest still reaches batch parity
    dedup.substr_index_update(spark, docs.where(F.col("doc_id") % 3 == 2), idx)
    got = {tuple(r) for r in dedup.substr_resolve(spark, idx).collect()}
    want = {tuple(r) for r in dedup.dedup_substring(spark, sf_dir).collect()}
    assert got == want


def test_dsir_weights_favor_target_distribution(spark, tmp_path):
    """sample_dsir (Xie et al. 2023 shape): raw docs made of the target
    corpus's own n-grams outweigh novel-vocabulary docs, and exactly the
    top keep-fraction is selected deterministically."""
    from engineering_school_bigdata_project_f1_weather_spark.operators import corpus

    target_text = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [(i, target_text) for i in (0, 3, 6, 9)] + [
        (1, target_text),  # pure target n-grams → top weight
        (2, "nope1 nope2 nope3 nope4 nope5 nope6 nope7 nope8"),
        (4, "alpha beta nope1 nope2 gamma delta nope3 nope4"),  # mixed
        (5, "xx1 xx2 xx3 xx4 xx5 xx6 xx7 xx8"),
    ]
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {r.doc_id: r for r in corpus.sample_dsir(spark, str(tmp_path)).collect()}
    assert set(out) == {1, 2, 4, 5}
    assert out[1].dsir_weight_e6 > out[4].dsir_weight_e6
    assert out[4].dsir_weight_e6 > max(out[2].dsir_weight_e6, out[5].dsir_weight_e6)
    # keep fraction 1/4 of a 4-doc pool → exactly the target-like doc
    assert out[1].selected
    assert not any(out[i].selected for i in (2, 4, 5))


def test_substr_index_snapshot_durability(spark, sf_dir, tmp_path):
    """The substring index rides the shared versioned-snapshot
    convention: crash debris (a half-written next-version dir, an
    orphan) never affects results and is GC'd by the next commit;
    exactly one sub_v* dir is live afterwards."""
    import os

    from engineering_school_bigdata_project_f1_weather_spark.functions import (
        snapshots,
    )
    from engineering_school_bigdata_project_f1_weather_spark.operators import dedup

    docs = dedup._docs(spark, sf_dir).select("doc_id", "text")
    idx = str(tmp_path / "sub_idx_snap")
    dedup.substr_index_init(spark, docs.where(F.col("doc_id") % 2 == 0), idx)
    assert snapshots.snap_live(idx) == "sub_v0"
    os.makedirs(os.path.join(idx, "sub_v1"))
    open(os.path.join(idx, "sub_v1", "part-junk"), "w").write("junk")
    os.makedirs(os.path.join(idx, "sub_v99"))

    dedup.substr_index_update(spark, docs.where(F.col("doc_id") % 2 == 1), idx)
    live = snapshots.snap_live(idx)
    assert live == "sub_v1"
    assert [d for d in os.listdir(idx) if d.startswith("sub_v")] == [live]
    got = {tuple(r) for r in dedup.substr_resolve(spark, idx).collect()}
    want = {tuple(r) for r in dedup.dedup_substring(spark, sf_dir).collect()}
    assert got == want and got


def test_decontaminate_flags_exact_13gram_not_12(spark, tmp_path):
    """text_decontaminate (GPT-3 Appendix C shape): a raw doc embedding
    an eval doc's 13-gram verbatim gets exactly that span; a 12-token
    overlap (below the window) is NOT flagged; eval docs never appear."""
    from engineering_school_bigdata_project_f1_weather_spark.operators import dedup

    W = dedup.DECON_W
    bench = " ".join(f"ev{i}" for i in range(W))  # the eval 13-gram
    filler = lambda tag, n: " ".join(f"{tag}{i}" for i in range(n))
    rows = [
        (100, bench + " " + filler("tail", 5)),  # eval doc (id % 100 == 0)
        # raw doc: 4 filler tokens, then the full 13-gram at pos 5..17
        (7, filler("a", 4) + " " + bench + " " + filler("b", 3)),
        # raw doc with only the first 12 tokens of the benchmark
        (8, filler("c", 4) + " " + " ".join(f"ev{i}" for i in range(W - 1))),
    ]
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = dedup.text_decontaminate(spark, str(tmp_path)).collect()
    assert {(r.doc_id, r.span_start, r.span_end, r.span_tokens) for r in out} == {
        (7, 5, 4 + W, W)
    }


def test_dsir_selected_matches_window_twin(spark, sf_dir):
    """sample_dsir_selected (exact two-pass distributed rank, round 10,
    VERDICT r9 item 1) must equal the window-twin sample_dsir
    bit-for-bit, and its plan must carry no SinglePartition exchange
    (the twin's global row_number/count windows need one)."""
    from engineering_school_bigdata_project_f1_weather_spark.operators import (
        corpus as c,
    )

    def plan(df):
        return df._jdf.queryExecution().explainString(
            df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )

    twin = sorted(map(tuple, c.sample_dsir(spark, sf_dir).collect()))
    sel = sorted(map(tuple, c.sample_dsir_selected(spark, sf_dir).collect()))
    assert sel == twin and len(twin) > 0
    assert sum(1 for r in twin if r[-1]) > 0  # someone is selected
    assert "SinglePartition" in plan(c.sample_dsir(spark, sf_dir))
    assert "SinglePartition" not in plan(c.sample_dsir_selected(spark, sf_dir))


def test_substring_keep_one_conservation(spark, sf_dir, tmp_path):
    """dedup_substring_keep_one (Lee et al. §3 keeper policy, round 10):
    (a) token conservation — it removes strictly fewer tokens than the
    remove-everything policy and its covered positions are a subset;
    (b) on two identical docs + one unique doc, the first copy survives
    with NO span, the second is fully spanned, the unique doc untouched."""
    from engineering_school_bigdata_project_f1_weather_spark.operators import dedup

    all_sp = dedup.dedup_substring(spark, sf_dir).collect()
    one_sp = dedup.dedup_substring_keep_one(spark, sf_dir).collect()

    def tok(rows):
        return sum(r.span_tokens for r in rows)

    def cov(rows):
        s = set()
        for r in rows:
            s.update((r.doc_id, p) for p in range(r.span_start, r.span_end + 1))
        return s

    assert 0 < tok(one_sp) < tok(all_sp)
    assert cov(one_sp) <= cov(all_sp)

    txt = " ".join(f"w{i}" for i in range(24))
    uniq = " ".join(f"u{i}" for i in range(24))
    spark.createDataFrame(
        [(1, txt, "en", "s", 1), (2, txt, "en", "s", 1), (3, uniq, "en", "s", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    spans = dedup.dedup_substring_keep_one(spark, str(tmp_path)).collect()
    assert {r.doc_id for r in spans} == {2}
    assert spans[0].span_start == 1 and spans[0].span_end == 24
    # the remove-everything policy, by contrast, spans BOTH copies
    both = dedup.dedup_substring(spark, str(tmp_path)).collect()
    assert {r.doc_id for r in both} == {1, 2}


def test_split_safe_no_near_dup_leakage(spark, sf_dir):
    """sample_split_safe's whole point: no verified near-dup pair may
    straddle a split boundary (component-keyed hashing), while the
    doc-keyed policy demonstrably leaks on the same fixture — the
    Lee et al. 2022 §6.2 train/test contamination this entry exists to
    prevent."""
    from engineering_school_bigdata_project_f1_weather_spark.functions import texts
    from engineering_school_bigdata_project_f1_weather_spark.operators import dedup

    pairs = dedup.dedup_minhash_lsh(spark, sf_dir).where(
        F.col("jaccard_e6") >= dedup.COMPONENT_MIN_JACCARD_E6
    )

    def crossing(asg):
        return (
            pairs.join(
                asg.select(
                    F.col("doc_id").alias("doc_a"), F.col("split").alias("sa")
                ),
                "doc_a",
            )
            .join(
                asg.select(
                    F.col("doc_id").alias("doc_b"), F.col("split").alias("sb")
                ),
                "doc_b",
            )
            .where(F.col("sa") != F.col("sb"))
            .count()
        )

    def split_of(key):
        b = texts.hash32(key.cast("string")) % corpus.SPLIT_BUCKETS
        return (
            F.when(b < corpus.TRAIN_LT, F.lit("train"))
            .when(b < corpus.VAL_LT, F.lit("val"))
            .otherwise(F.lit("test"))
        )

    comp = dedup.dedup_components(spark, sf_dir)
    safe = comp.select("doc_id", split_of(F.col("component")).alias("split"))
    doc_level = comp.select("doc_id", split_of(F.col("doc_id")).alias("split"))

    assert crossing(safe) == 0
    assert crossing(doc_level) > 0  # the failure mode being prevented

    # same documents, same totals — only the boundary placement differs
    tot = lambda df: tuple(  # noqa: E731
        df.agg(F.sum("n_docs"), F.sum("n_tokens")).collect()[0]
    )
    assert tot(corpus.sample_split_safe(spark, sf_dir)) == tot(
        corpus.sample_split(spark, sf_dir)
    )


def test_source_overlap_conserves_pairs(spark, sf_dir):
    """The leakage matrix is a partition of the verified pair set: cell
    counts sum to the pair total, keys are normalized (lo <= hi), and the
    fixture's cross-source redundancy makes the matrix non-vacuous."""
    from engineering_school_bigdata_project_f1_weather_spark.operators import dedup

    cells = dedup.dedup_source_overlap(spark, sf_dir).collect()
    assert cells
    assert all(r.source_lo <= r.source_hi for r in cells)
    n_pairs = dedup.dedup_minhash_lsh(spark, sf_dir).count()
    assert sum(r.n_pairs for r in cells) == n_pairs > 0


def test_corpus_shard_minimal_movement(spark, sf_dir):
    """Rendezvous hashing's reason to exist: rescaling 8 → 9 shards
    moves ≈ 1/9 of documents (we assert < 2× that), while modulo
    hashing reshuffles most of the corpus on the same rescale."""
    from engineering_school_bigdata_project_f1_weather_spark.functions import texts

    out = corpus.corpus_shard(spark, sf_dir).collect()
    docs = corpus._docs_tokens(spark, sf_dir).select("doc_id")
    n = docs.count()
    assert sum(r.n_docs for r in out) == n
    assert {r.shard for r in out} <= set(range(corpus.SHARDS_FROM))
    moved = sum(r.n_moved for r in out)
    assert 0 < moved / n < 2 / corpus.SHARDS_TO

    h = texts.hash32(F.col("doc_id").cast("string"))
    mod_moved = docs.where(
        h % corpus.SHARDS_FROM != h % corpus.SHARDS_TO
    ).count()
    assert mod_moved / n > 0.5  # the failure mode rendezvous avoids


def test_corpus_shard_wide_past_old_cap(spark, sf_dir):
    """The widened rendezvous encoding at fleet scale (64 → 65 shards,
    past the old 16-shard cap): the census covers all 64 shards,
    movement stays ≈ 1/65, and — the defining rendezvous property —
    every doc that moves on grow-by-one moves TO the new shard (its old
    winner's weight is unchanged; only shard 64's weight is new)."""
    out = corpus.corpus_shard_wide(spark, sf_dir).collect()
    docs = corpus._docs_tokens(spark, sf_dir).select("doc_id")
    n = docs.count()
    assert sum(r.n_docs for r in out) == n
    assert {r.shard for r in out} <= set(range(corpus.SHARDS_WIDE_FROM))
    moved = sum(r.n_moved for r in out)
    assert 0 < moved / n < 3 / corpus.SHARDS_WIDE_TO

    a = corpus._rendezvous_shard(corpus.SHARDS_WIDE_FROM)
    b = corpus._rendezvous_shard(corpus.SHARDS_WIDE_TO)
    movers = docs.select(a.alias("s_a"), b.alias("s_b")).where(
        F.col("s_a") != F.col("s_b")
    )
    assert movers.count() == moved
    assert movers.where(
        F.col("s_b") != corpus.SHARDS_WIDE_FROM
    ).count() == 0


def test_rendezvous_shard_domain_is_checked_without_spark():
    """The shard-domain guard is a raise, not an ``assert`` that ``-O``
    strips: past 2¹⁶ shards the ``w·2¹⁶ − s`` key stops being injective.
    It fails before any column is built, so no session is needed."""
    with pytest.raises(ValueError, match="65537 shards"):
        corpus._rendezvous_shard(65_537)


def test_dedup_lines_conservation_and_first_keeper(spark, sf_dir):
    """dedup_lines (CCNet line dedup): every token of the corpus is in
    exactly one line row (conservation); within each duplicated line
    group exactly the min-(doc_id, line_no) occurrence is kept; unique
    lines are never removed."""
    from collections import defaultdict

    from engineering_school_bigdata_project_f1_weather_spark.operators import dedup

    rows = dedup.dedup_lines(spark, sf_dir).collect()
    docs = {
        r.doc_id: r.text
        for r in dedup._docs(spark, sf_dir).select("doc_id", "text").collect()
    }
    per_doc = defaultdict(int)
    for r in rows:
        per_doc[r.doc_id] += r.n_line_toks
    assert set(per_doc) == set(docs)
    for d, text in docs.items():
        assert per_doc[d] == len(text.split(" ")), d
    # group lines by reconstructed text: keeper is the min (doc, line)
    groups = defaultdict(list)
    for r in rows:
        w = dedup.LINE_W
        toks = docs[r.doc_id].split(" ")
        line = " ".join(toks[r.line_no * w : r.line_no * w + w])
        groups[line].append(r)
    n_removed = 0
    for line, g in groups.items():
        assert all(r.dup_count == len(g) for r in g)
        if len(g) == 1:
            assert not g[0].removed
            continue
        keeper = min(g, key=lambda r: (r.doc_id, r.line_no))
        for r in g:
            assert r.removed == (
                (r.doc_id, r.line_no) != (keeper.doc_id, keeper.line_no)
            )
            n_removed += r.removed
    assert n_removed > 0  # the fixture exercises the removal path


def test_dedup_lines_newline_delimiter(spark):
    """Production mode: real '\\n'-delimited lines; a line shared by
    three docs keeps only its first occurrence, per-doc unique lines
    survive."""
    from engineering_school_bigdata_project_f1_weather_spark.operators import dedup

    docs = spark.createDataFrame(
        [
            (1, "unique alpha\nshared line text\nunique beta"),
            (2, "shared line text\nunique gamma"),
            (3, "unique delta\nshared line text"),
        ],
        "doc_id long, text string",
    )
    out = {
        (r.doc_id, r.line_no): r
        for r in dedup.dedup_lines_of(docs, delim="\n").collect()
    }
    assert len(out) == 7
    shared = [(1, 1), (2, 0), (3, 1)]
    for key in shared:
        assert out[key].dup_count == 3
    assert not out[(1, 1)].removed  # first occurrence kept
    assert out[(2, 0)].removed and out[(3, 1)].removed
    for key, r in out.items():
        if key not in shared:
            assert r.dup_count == 1 and not r.removed


def test_edit_distance_filter_setting_is_output_invariant(
    spark, sf_dir, monkeypatch
):
    """The EDjoin location filter is output-preserving by construction
    (it only rejects pairs the verify would reject): forcing it ON must
    produce exactly the direct path's pairs on the fixture corpus, and
    the auto decision keeps it OFF for this short-doc corpus while a
    long-doc frame flips it on."""
    from engineering_school_bigdata_project_f1_weather_spark.operators import dedup

    monkeypatch.setattr(dedup, "EDIT_FILTER_MIN_AVG_CHARS", float("inf"))
    direct = {
        tuple(r) for r in dedup.dedup_edit_distance(spark, sf_dir).collect()
    }
    monkeypatch.setattr(dedup, "EDIT_FILTER_MIN_AVG_CHARS", 0)
    filtered = {
        tuple(r) for r in dedup.dedup_edit_distance(spark, sf_dir).collect()
    }
    assert direct == filtered and len(direct) > 0

    monkeypatch.undo()  # the real threshold decides from here on
    d = dedup._edit_docs(spark, sf_dir)
    assert not dedup._edit_filter_enabled(d)  # ~300-char docs: stay off
    long_docs = spark.createDataFrame(
        [(1, "x" * (2 * dedup.EDIT_FILTER_MIN_AVG_CHARS))],
        "doc_id long, text string",
    ).select("doc_id", "text", F.length("text").alias("len"))
    assert dedup._edit_filter_enabled(long_docs)


def test_dedup_lines_apply_reconstructs_kept_text(spark, sf_dir):
    """dedup_lines_apply: clean_text is exactly the kept lines in line
    order; token accounting is conserved against the flag entry; every
    document appears even if fully removed."""
    from collections import defaultdict

    from engineering_school_bigdata_project_f1_weather_spark.operators import dedup

    flags = defaultdict(dict)
    for r in dedup.dedup_lines(spark, sf_dir).collect():
        flags[r.doc_id][r.line_no] = r
    docs = {
        r.doc_id: r.text
        for r in dedup._docs(spark, sf_dir).select("doc_id", "text").collect()
    }
    out = {r.doc_id: r for r in dedup.dedup_lines_apply(spark, sf_dir).collect()}
    assert set(out) == set(docs)
    w = dedup.LINE_W
    for d, text in docs.items():
        toks = text.split(" ")
        kept = []
        for ln in sorted(flags[d]):
            if not flags[d][ln].removed:
                kept.extend(toks[ln * w : ln * w + w])
        r = out[d]
        assert r.clean_text == " ".join(kept), d
        assert r.n_lines == len(flags[d])
        assert r.n_removed_lines == sum(
            1 for x in flags[d].values() if x.removed
        )
        assert r.n_tokens == len(toks)
        assert r.n_tokens - r.n_removed_tokens == len(kept)


def test_fellegi_sunter_em_separates_and_scores(spark, sf_dir):
    """er_fellegi_sunter (round 12): EM contract on a synthetic
    two-component mixture (100 all-agree pairs in a sea of 900
    all-disagree pairs): the all-agree pattern lands above the λ=½
    decision line, all-disagree below.  Corpus entry: every candidate
    pair carries ≥1 agreeing signal by construction (it came from a
    generator), the decision column is exactly the posterior
    threshold, and posteriors respect component-wise pattern dominance
    (EM learns m > u per signal on this corpus, so more agreement
    never lowers the posterior)."""
    from engineering_school_bigdata_project_f1_weather_spark.operators import dedup

    posts = dedup._fs_posts([(1, 1, 1, 100), (0, 0, 0, 900)])
    assert posts[(1, 1, 1)] >= 32768 > posts[(0, 0, 0)]

    rows = dedup.er_fellegi_sunter(spark, sf_dir).collect()
    assert rows
    byp = {}
    for r in rows:
        p = (r["g_exact"], r["g_near"], r["g_typo"])
        assert sum(p) >= 1
        assert r["is_match"] == (r["post_q16"] >= 32768)
        byp[p] = r["post_q16"]
    for a in byp:
        for b in byp:
            if a != b and all(x >= y for x, y in zip(a, b)):
                assert byp[a] >= byp[b], (a, b, byp)


def test_probabilistic_entities_split_weak_evidence_merges(spark, sf_dir):
    """er_probabilistic_entities (round 12): the learned decision's
    edges are a SUBSET of the hard capstone's (is_match pairs ⊆ the
    generator union), so its partition is never coarser — and on this
    corpus, where near-only pairs carry a learned posterior below ½
    (see the FS test), dropping them SPLITS over-merged components:
    strictly more entities than dedup_entity_resolution.  Shape
    invariants: every doc exactly once, exactly one canonical per
    entity."""
    from engineering_school_bigdata_project_f1_weather_spark.operators import dedup

    hard = dedup.dedup_entity_resolution(spark, sf_dir).collect()
    prob = dedup.er_probabilistic_entities(spark, sf_dir).collect()
    assert len(prob) == len(hard)  # every doc appears in both
    assert len({r["doc_id"] for r in prob}) == len(prob)
    ents = {}
    for r in prob:
        ents.setdefault(r["entity"], []).append(r["canonical"])
    assert all(sum(cs) == 1 for cs in ents.values())
    n_hard = len({r["entity"] for r in hard})
    n_prob = len(ents)
    assert n_prob >= n_hard  # edge subset ⇒ never coarser
    dropped = dedup._fs_scored(spark, sf_dir).where(~F.col("is_match"))
    if dropped.limit(1).count() > 0:
        assert n_prob > n_hard, (
            "EM rejected some candidate pairs but no component split — "
            "the learned gate changed nothing on this corpus"
        )
