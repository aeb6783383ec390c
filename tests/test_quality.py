"""Data-quality expectations + observe() metrics plumbing."""

from __future__ import annotations

import pyspark.sql.functions as F

from engineering_school_bigdata_project_f1_weather_spark.operators import quality
from engineering_school_bigdata_project_f1_weather_spark.sources.tables import load_table


def test_dq_lineitem_all_checks_pass_on_clean_lake(spark, sf_dir):
    out = {r.check_name: r for r in quality.dq_lineitem(spark, sf_dir).collect()}
    assert set(out) == {
        "orderkey_not_null", "partkey_not_null", "qty_in_domain",
        "discount_in_domain", "shipdate_in_range", "row_key_unique",
    }
    assert all(r.passed for r in out.values()), {
        k: v.n_violations for k, v in out.items() if not v.passed
    }


def test_dq_detects_injected_violations(spark, sf_dir):
    """Corrupt a copy of lineitem; the same counters must light up."""
    l = load_table(spark, sf_dir, "lineitem").limit(100)
    bad = l.withColumn(
        "l_quantity",
        F.when(F.col("l_linenumber") == 1, F.lit(999.0)).otherwise(F.col("l_quantity")),
    )
    observed, obs = quality.observe_counts(bad)
    n = observed.count()  # the action that materializes the metrics
    m = obs.get
    assert m["n_rows"] == n == 100
    assert m["qty_in_domain"] > 0  # injected violations visible
    assert m["orderkey_not_null"] == 0


def test_observe_adds_no_extra_scan(spark, sf_dir):
    """observe() must not change the plan's scan count."""
    l = load_table(spark, sf_dir, "lineitem")
    observed, _obs = quality.observe_counts(l)
    plan = observed._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1


def test_events_concurrency_matches_bruteforce(spark, sf_dir):
    """The day-partitioned +1/-1 sweep with carry-in must equal the
    brute-force definition: for each day, the max over {day-start} ∪
    {boundary instants in the day} of the number of sessions whose
    closed interval covers the instant."""
    from engineering_school_bigdata_project_f1_weather_spark.operators.events import (
        DAY_US,
        events_concurrency,
        events_sessionize,
    )

    sess = [
        (r.session_start_us, r.session_end_us)
        for r in events_sessionize(spark, sf_dir).collect()
    ]
    got = {r.day_us: r.peak_concurrent for r in events_concurrency(spark, sf_dir).collect()}
    assert got

    def active(t):
        return sum(1 for s, e in sess if s <= t <= e)

    for day, peak in got.items():
        instants = {day}
        for s, e in sess:
            for t in (s, e):
                if day <= t < day + DAY_US:
                    instants.add(t)
        expect = max(active(t) for t in instants)
        assert peak == expect, (day, peak, expect)


def test_zorder_files_prune_better_than_single_column_sort(spark, sf_dir):
    """lineitem_zorder_layout (round 6): the point of Z-ordering is that
    per-file min/max ranges are tight on BOTH clustered columns at once.
    Compare against the same ntile layout ordered by l_partkey alone:
    (a) the partkey-sorted layout is near-optimal on partkey but its
    per-file suppkey ranges span ~the whole domain; the Z-order layout's
    COMBINED normalized span must beat it; (b) a point-range predicate
    on (partkey, suppkey) must prune more Z-order files than
    single-sort files."""
    import pyspark.sql.functions as F  # noqa: F811
    from pyspark.sql import Window

    from engineering_school_bigdata_project_f1_weather_spark.operators import quality
    from engineering_school_bigdata_project_f1_weather_spark.sources.tables import (
        load_table,
    )

    zfiles = quality.lineitem_zorder_layout(spark, sf_dir).collect()
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    w = Window.orderBy("l_partkey", "l_orderkey", "l_linenumber")
    sfiles = (
        li.withColumn("file_id", F.ntile(quality.ZORDER_FILES).over(w))
        .groupBy("file_id")
        .agg(
            F.min("l_partkey").alias("p_min"),
            F.max("l_partkey").alias("p_max"),
            F.min("l_suppkey").alias("s_min"),
            F.max("l_suppkey").alias("s_max"),
        )
        .collect()
    )
    rng = li.agg(
        (F.max("l_partkey") - F.min("l_partkey")).alias("p_span"),
        (F.max("l_suppkey") - F.min("l_suppkey")).alias("s_span"),
    ).collect()[0]

    def combined_span(files):
        return sum(
            (r.p_max - r.p_min) / rng.p_span + (r.s_max - r.s_min) / rng.s_span
            for r in files
        ) / len(files)

    z_span, s_span = combined_span(zfiles), combined_span(sfiles)
    assert z_span < s_span, (z_span, s_span)

    # (b) pruning for a 10%x10% point-range predicate: count files whose
    # stats intersect the box (those a skipping scan must read)
    p_lo = min(r.p_min for r in zfiles)
    s_lo = min(r.s_min for r in zfiles)
    box_p = (p_lo, p_lo + rng.p_span // 10)
    box_s = (s_lo, s_lo + rng.s_span // 10)

    def files_read(files):
        return sum(
            1
            for r in files
            if not (r.p_max < box_p[0] or r.p_min > box_p[1])
            and not (r.s_max < box_s[0] or r.s_min > box_s[1])
        )

    assert files_read(zfiles) < files_read(sfiles), (
        files_read(zfiles),
        files_read(sfiles),
    )


def test_zorder_writer_matches_ntile_contract(spark, sf_dir):
    """zorder_write_layout (round 7, VERDICT r6 item 1): the scale-safe
    repartitionByRange writer must deliver the SAME stats/skip contract
    as the hash-gated ntile layout — (a) same file count and total rows,
    (b) combined normalized per-file span within tolerance of the exact
    equal-height layout (boundary sampling error only), (c) a point-range
    predicate still prunes more writer files than single-column-sort
    files."""
    import pyspark.sql.functions as F  # noqa: F811
    from pyspark.sql import Window

    from engineering_school_bigdata_project_f1_weather_spark.operators import quality
    from engineering_school_bigdata_project_f1_weather_spark.sources.tables import (
        load_table,
    )

    zfiles = quality.lineitem_zorder_layout(spark, sf_dir).collect()
    wfiles = quality.zorder_write_layout(spark, sf_dir).collect()
    assert len(wfiles) == len(zfiles) == quality.ZORDER_FILES
    assert sum(r.n_rows for r in wfiles) == sum(r.n_rows for r in zfiles)

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    w = Window.orderBy("l_partkey", "l_orderkey", "l_linenumber")
    sfiles = (
        li.withColumn("file_id", F.ntile(quality.ZORDER_FILES).over(w))
        .groupBy("file_id")
        .agg(
            F.min("l_partkey").alias("p_min"),
            F.max("l_partkey").alias("p_max"),
            F.min("l_suppkey").alias("s_min"),
            F.max("l_suppkey").alias("s_max"),
        )
        .collect()
    )
    rng = li.agg(
        (F.max("l_partkey") - F.min("l_partkey")).alias("p_span"),
        (F.max("l_suppkey") - F.min("l_suppkey")).alias("s_span"),
    ).collect()[0]

    def combined_span(files):
        return sum(
            (r.p_max - r.p_min) / rng.p_span + (r.s_max - r.s_min) / rng.s_span
            for r in files
        ) / len(files)

    z_span, w_span, s_span = (
        combined_span(zfiles),
        combined_span(wfiles),
        combined_span(sfiles),
    )
    # (b) sampled boundaries cost at most 25% clustering quality vs the
    # exact equal-height cut, and the writer still beats the
    # single-column sort outright
    assert w_span <= z_span * 1.25, (w_span, z_span)
    assert w_span < s_span, (w_span, s_span)

    # (c) same 10%x10% point-range box as the ntile test
    p_lo = min(r.p_min for r in zfiles)
    s_lo = min(r.s_min for r in zfiles)
    box_p = (p_lo, p_lo + rng.p_span // 10)
    box_s = (s_lo, s_lo + rng.s_span // 10)

    def files_read(files):
        return sum(
            1
            for r in files
            if not (r.p_max < box_p[0] or r.p_min > box_p[1])
            and not (r.s_max < box_s[0] or r.s_min > box_s[1])
        )

    assert files_read(wfiles) < files_read(sfiles), (
        files_read(wfiles),
        files_read(sfiles),
    )


def test_perplexity_band_shift_fluent_vs_gibberish(spark, tmp_path):
    """quality_perplexity (round 9, CCNet shape): a document made of the
    training corpus's own frequent bigrams must score lower pseudo-
    perplexity (head band) than one of never-seen tokens (tail band,
    keep=False); an intermediate doc sits between. Pins the property the
    hash gate can't: the score MOVES the right way when fluency does."""
    fluent = "the cat sat on the mat and the dog ran to the house"
    train_rows = [(i, fluent, "en", "src", 1) for i in (0, 3, 6, 9, 12)]
    scored_rows = [
        (1, fluent, "en", "src", 1),  # pure training bigrams
        (2, "zz qq ww rr tt yy uu oo pp ll kk jj hh gg", "en", "src", 1),
        (4, "the cat zz qq on the mat ww rr and the dog tt", "en", "src", 1),
    ]
    spark.createDataFrame(
        train_rows + scored_rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    out = {r.doc_id: r for r in quality.quality_perplexity(spark, str(tmp_path)).collect()}
    assert set(out) == {1, 2, 4}
    assert out[1].pplx_e6 < out[4].pplx_e6 < out[2].pplx_e6
    assert out[1].band == "head" and out[1].keep
    assert out[4].band == "middle" and out[4].keep
    assert out[2].band == "tail" and not out[2].keep


def test_gopher_rules_trip_on_targeted_violations(spark, tmp_path):
    """quality_gopher_rules: each rule trips on a doc built to violate
    exactly it (and a clean doc passes all) — pins rule semantics the
    hash gate can't distinguish from constants."""
    clean = " ".join(
        ["the", "be", "to", "of", "and"] + [f"word{i}" for i in range(60)]
    )
    rows = [
        (1, clean),  # passes everything
        (2, "the be " + " ".join(f"w{i}" for i in range(10))),  # < 50 words
        (3, "the be " + " ".join("ab" for _ in range(60))),  # mean len < 3
        (4, "the be " + " ".join("#" for _ in range(60))),  # symbols + alpha
        (5, "\n".join("- item the be" for _ in range(5))),  # 100% bullets
        (6, clean.replace("the be to of and", "x1 x2 x3 x4 x5")),  # no stopwords
    ]
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {r.doc_id: r for r in quality.quality_gopher_rules(spark, str(tmp_path)).collect()}
    assert out[1].keep, out[1]
    assert not out[2].r_word_count and not out[2].keep
    assert not out[3].r_mean_word_len and not out[3].keep
    assert not out[4].r_symbol_ratio and not out[4].r_alpha and not out[4].keep
    assert not out[5].r_bullets and not out[5].keep
    assert not out[6].r_stopwords and not out[6].keep


def test_stupid_backoff_levels_order_fluency(spark, tmp_path):
    """quality_stupid_backoff: trigram hits outrank bigram-backoff docs,
    which outrank fully-unseen gibberish (score exactly 0) — pins the
    three backoff levels actually firing in order."""
    pattern = "a b c d e f g h"
    train_rows = [(i, pattern, "en", "s", 1) for i in (0, 3, 6, 9)]
    scored_rows = [
        (1, pattern, "en", "s", 1),  # pure training trigrams
        (4, "c d x f g x c d x f g x", "en", "s", 1),  # bigram backoff
        (2, "zz qq ww rr tt yy uu ii", "en", "s", 1),  # unseen everywhere
    ]
    spark.createDataFrame(
        train_rows + scored_rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {
        r.doc_id: r
        for r in quality.quality_stupid_backoff(spark, str(tmp_path)).collect()
    }
    assert set(out) == {1, 2, 4}
    assert out[1].fluency_e6 > out[4].fluency_e6 > out[2].fluency_e6
    assert out[2].fluency_e6 == 0  # every backoff level missed
    assert out[1].band == "head" and out[1].keep
    assert out[4].band == "middle" and out[4].keep
    assert out[2].band == "tail" and not out[2].keep


# --- scale-safe banding twins (round 10, VERDICT r9 item 1) ---------------


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_perplexity_banded_matches_ntile_twin(spark, sf_dir):
    """quality_perplexity_banded (exact two-pass distributed rank) must
    equal the ntile oracle twin BIT-FOR-BIT — stronger than the zorder
    writer's tolerance contract because the rank here is exact, not
    sampled.  Plan shape: the twin needs a SinglePartition exchange for
    its global window; the banded path must have none."""
    from engineering_school_bigdata_project_f1_weather_spark.operators import (
        quality as q,
    )

    twin = sorted(map(tuple, q.quality_perplexity(spark, sf_dir).collect()))
    banded = sorted(
        map(tuple, q.quality_perplexity_banded(spark, sf_dir).collect())
    )
    assert banded == twin and len(twin) > 0
    assert "SinglePartition" in _plan(q.quality_perplexity(spark, sf_dir))
    assert "SinglePartition" not in _plan(
        q.quality_perplexity_banded(spark, sf_dir)
    )


def test_backoff_banded_matches_ntile_twin(spark, sf_dir):
    from engineering_school_bigdata_project_f1_weather_spark.operators import (
        quality as q,
    )

    twin = sorted(map(tuple, q.quality_stupid_backoff(spark, sf_dir).collect()))
    banded = sorted(
        map(tuple, q.quality_backoff_banded(spark, sf_dir).collect())
    )
    assert banded == twin and len(twin) > 0
    assert "SinglePartition" not in _plan(
        q.quality_backoff_banded(spark, sf_dir)
    )


def test_global_rank_exact_vs_window_ntile(spark):
    """functions/ranks.py property check on a synthetic frame WITH
    duplicate sort values (ties broken by id): the two-pass rank and
    the per-row ntile arithmetic must match row_number()/ntile() over a
    global window exactly, for several tile counts including n % k != 0
    and k > n."""
    import pyspark.sql.functions as F  # noqa: F811
    from pyspark.sql import Window

    from engineering_school_bigdata_project_f1_weather_spark.functions import ranks

    df = spark.range(997).select(
        F.col("id").cast("long").alias("id"),
        ((F.col("id") * 2654435761) % 101).cast("long").alias("v"),
    )
    ranked, n = ranks.global_ranked(df, [F.asc("v"), F.asc("id")])
    assert n == 997
    w = Window.orderBy("v", "id")
    expected = {
        (r.v, r.id): r.rk
        for r in df.withColumn("rk", F.row_number().over(w)).collect()
    }
    got = {(r.v, r.id): r._rank for r in ranked.collect()}
    assert got == expected
    for k in (3, 4, 7, 1000):
        exp_nt = {
            r.id: r.nt
            for r in df.withColumn("nt", F.ntile(k).over(w)).collect()
        }
        got_nt = {
            r.id: r.nt
            for r in ranked.withColumn(
                "nt", ranks.ntile_expr(n, k)
            ).collect()
        }
        assert got_nt == exp_nt, f"k={k}"


def test_global_rank_empty_frame(spark):
    from engineering_school_bigdata_project_f1_weather_spark.functions import ranks
    import pyspark.sql.functions as F  # noqa: F811

    df = spark.range(10).where(F.col("id") < 0)
    ranked, n = ranks.global_ranked(df, [F.asc("id")])
    assert n == 0 and ranked.count() == 0


def test_quality_classifier_generalizes_to_holdout(spark, sf_dir):
    """The trained Bernoulli-NB classifier must beat the majority-class
    baseline on docs it NEVER saw (odd doc_ids are excluded from
    training): its held-out predictions are compared to the heuristic
    bands it was weakly supervised from."""
    pred = {
        r.doc_id: r
        for r in quality.quality_classifier_scored(spark, sf_dir).collect()
    }
    band = {
        r.doc_id: r.band for r in quality.quality_score(spark, sf_dir).collect()
    }
    assert set(pred) == set(band)  # one row per document, always
    # trainers carry their label; held-out and mid docs don't
    for d, r in pred.items():
        if r.train_label is not None:
            assert d % quality.QC_TRAIN_STRIDE == 0
            assert band[d] == ("high" if r.train_label == "pos" else "low")
    holdout = [
        d for d in pred
        if d % quality.QC_TRAIN_STRIDE != 0 and band[d] in ("high", "low")
    ]
    assert len(holdout) > 20
    correct = sum(
        1 for d in holdout if pred[d].predicted_high == (band[d] == "high")
    )
    majority = max(
        sum(1 for d in holdout if band[d] == "high"),
        sum(1 for d in holdout if band[d] == "low"),
    )
    assert correct > majority, (correct, majority, len(holdout))
    assert correct >= int(0.9 * len(holdout))


def test_quality_lr_beats_nb_on_holdout(spark, sf_dir):
    """The discriminative LR twin (round 12, VERDICT r11 item 6) must
    match or beat the Bernoulli-NB entry on the SAME held-out protocol:
    odd doc_ids, heuristic band as truth (measured at build time: 99.4%
    vs NB's 97% at sf0.01)."""
    lr = {
        r.doc_id: r for r in quality.quality_lr_scored(spark, sf_dir).collect()
    }
    nb = {
        r.doc_id: r
        for r in quality.quality_classifier_scored(spark, sf_dir).collect()
    }
    band = {
        r.doc_id: r.band for r in quality.quality_score(spark, sf_dir).collect()
    }
    assert set(lr) == set(nb) == set(band)
    # identical training cohort and labels as the NB entry
    for d, r in lr.items():
        assert r.train_label == nb[d].train_label
        assert r.n_feats == nb[d].n_feats  # same featurization
    holdout = [
        d for d in lr
        if d % quality.QC_TRAIN_STRIDE != 0 and band[d] in ("high", "low")
    ]
    assert len(holdout) > 20
    lr_correct = sum(
        1 for d in holdout if lr[d].predicted_high == (band[d] == "high")
    )
    nb_correct = sum(
        1 for d in holdout if nb[d].predicted_high == (band[d] == "high")
    )
    assert lr_correct >= nb_correct, (lr_correct, nb_correct, len(holdout))
    assert lr_correct >= int(0.9 * len(holdout))


def test_quality_classifier_learns_token_signal(spark, tmp_path):
    """Distribution-shift shape (the sample_dsir test model): on a
    corpus where vocabulary correlates with the band labels, held-out
    docs are classified by their TOKENS — two mid-band held-out docs
    with identical engineered stats but disjoint vocab get opposite
    predictions."""
    good_vocab = "wisdom insight clarity depth nuance rigor".split()
    bad_vocab = "spam0 spam1 spam2 spam3 spam4 spam5".split()
    stop_pad = ["the", "of", "and", "to", "in", "is"]

    def doc(vocab, n):
        # cycle vocab + stopwords to length n (no digits)
        words = [vocab[i % len(vocab)] for i in range(n - n // 3)]
        words += [stop_pad[i % len(stop_pad)] for i in range(n // 3)]
        return " ".join(words[:n])

    rows = []
    for i in range(40):
        # trainers (even ids): long good-vocab docs band high,
        # short bad-vocab docs band low
        rows.append((2 * i, doc(good_vocab, 80), "en", "s", 1))
        rows.append((2 * i + 1000, doc(bad_vocab, 12), "en", "s", 1))
    # held-out odd ids, BOTH mid-band length (~40 tokens): identical
    # engineered stats, opposite vocabulary
    rows.append((9001, doc(good_vocab, 40), "en", "s", 1))
    rows.append((9003, doc(bad_vocab, 40), "en", "s", 1))
    spark.createDataFrame(
        [(i, t, lg, s, len(t)) for i, t, lg, s, _ in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    out = {
        r.doc_id: r
        for r in quality.quality_classifier_scored(
            spark, str(tmp_path)
        ).collect()
    }
    # both held-out docs were unlabeled (odd id) and mid-band
    assert out[9001].train_label is None and out[9003].train_label is None
    assert out[9001].predicted_high and not out[9003].predicted_high
    assert out[9001].qc_llr_q16 > out[9003].qc_llr_q16


def test_pr_sweep_confusion_exact_and_monotone(spark, sf_dir):
    """The sweep's contracts: (a) every row's confusion is exactly the
    direct filter's confusion at that threshold (checked at the best-F1
    row and the endpoints); (b) recall is non-decreasing as the
    threshold drops and reaches 100% at the lowest threshold (fn = 0 —
    every eval positive is predicted positive); (c) at least one row
    carries the best-F1 marker and no row beats it."""
    from engineering_school_bigdata_project_f1_weather_spark.sources.tables import (
        load_table_spread,
    )

    rows = quality.quality_pr_sweep(spark, sf_dir).collect()
    assert rows, "sweep produced no thresholds"
    # (b) thresholds strictly descending, recall non-decreasing, fn -> 0
    thrs = [r["thr_q16"] for r in rows]
    assert thrs == sorted(set(thrs), reverse=True)
    recalls = [r["recall_q16"] for r in rows]
    assert recalls == sorted(recalls)
    assert rows[-1]["fn"] == 0 and rows[-1]["recall_q16"] == 65536
    # (c) best-F1 marker
    best = [r for r in rows if r["is_best_f1"]]
    assert best and max(r["f1_q16"] for r in rows) == best[0]["f1_q16"]
    # (a) recompute the confusion directly at the best threshold from
    # the scored frame + held-out band labels
    scored = quality.quality_lr_scored(spark, sf_dir)
    wide = quality._quality_scored_wide(
        load_table_spread(spark, sf_dir, "documents").select(
            "doc_id", "lang", "text"
        )
    )
    ev = (
        wide.where(F.col("doc_id") % quality.QC_TRAIN_STRIDE != 0)
        .select(
            "doc_id",
            F.when(F.col("score") >= quality.QS_HIGH, F.lit(1))
            .when(F.col("score") < quality.QS_LOW, F.lit(0))
            .alias("y"),
        )
        .where(F.col("y").isNotNull())
    )
    pts = {
        r["doc_id"]: (r["y"], None)
        for r in ev.collect()
    }
    for r in scored.collect():
        if r["doc_id"] in pts:
            pts[r["doc_id"]] = (pts[r["doc_id"]][0], r["lr_margin_q16"])
    for probe in (rows[0], best[0], rows[-1]):
        t = probe["thr_q16"]
        tp = sum(1 for y, m in pts.values() if y == 1 and m >= t)
        fp = sum(1 for y, m in pts.values() if y == 0 and m >= t)
        fn = sum(1 for y, m in pts.values() if y == 1 and m < t)
        assert (probe["tp"], probe["fp"], probe["fn"]) == (tp, fp, fn)
