"""Data-quality expectations over the lake — the dbt-test /
great-expectations shape as ONE declarative plan: each check is a
conditional aggregate over a single scan of the table (no per-check
scans), emitting (check, n_rows, n_violations, passed).

Checks on ``lineitem`` (the contract a downstream consumer relies on):
- key columns non-null,
- ``l_quantity`` within its domain [1, 50],
- discount within [0, 0.1] (domain rule),
- ship date within the lake's documented range,
- uniqueness of the row key (the ONE check that needs its own aggregate —
  a distinct-count can't ride along as a conditional sum).

Also the VariantType twin of events_json: ``parse_json`` +
``try_variant_get`` (Spark 4's semi-structured type) must agree with the
string-path ``get_json_object`` extraction — pinned by a shared oracle.

Scale: the expectations query is one partial+final aggregate over one
scan; the uniqueness check is one groupBy on the key. ``observe_counts``
attaches the same conditional counters to ANY DataFrame via
``df.observe`` — zero extra scans, metrics ride the action that runs the
plan anyway (the production data-quality monitor shape).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Observation, SparkSession

from ..functions import localrel, texts
from ..functions.localrel import local_rows
from ..sources.tables import load_table

QTY_MIN, QTY_MAX = 1, 50
DISC_MIN, DISC_MAX = 0.0, 0.10
SHIP_MIN, SHIP_MAX = "1995-01-01", "2002-01-01"

# (l_orderkey, l_linenumber) alone is NOT unique in this synthetic lake —
# the documented row key (see plans/f1_model.py RK).
ROW_KEY = ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_linestatus"]


def _violation_counters() -> dict[str, F.Column]:
    v = lambda cond: F.sum(F.when(cond, 1).otherwise(0)).cast("long")  # noqa: E731
    return {
        "orderkey_not_null": v(F.col("l_orderkey").isNull()),
        "partkey_not_null": v(F.col("l_partkey").isNull()),
        "qty_in_domain": v(
            (F.col("l_quantity") < QTY_MIN) | (F.col("l_quantity") > QTY_MAX)
        ),
        "discount_in_domain": v(
            (F.col("l_discount") < DISC_MIN) | (F.col("l_discount") > DISC_MAX)
        ),
        "shipdate_in_range": v(
            (F.col("l_shipdate") < SHIP_MIN) | (F.col("l_shipdate") >= SHIP_MAX)
        ),
    }


def dq_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All expectations in one scan + the key-uniqueness aggregate."""
    l = load_table(spark, sf_dir, "lineitem")
    counters = _violation_counters()
    agg = l.agg(
        F.count(F.lit(1)).alias("n_rows"),
        *[c.alias(k) for k, c in counters.items()],
    )
    rows = [
        agg.select(
            F.lit(name).alias("check_name"),
            F.col("n_rows"),
            F.col(name).alias("n_violations"),
            (F.col(name) == 0).alias("passed"),
        )
        for name in counters
    ]
    dup_rows = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy(*ROW_KEY)
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(
            F.lit("row_key_unique").alias("check_name"),
            F.sum("c").cast("long").alias("n_rows"),
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0))
            .cast("long")
            .alias("n_violations"),
        )
        .withColumn("passed", F.col("n_violations") == 0)
    )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.unionByName(dup_rows).orderBy("check_name")


def _dq_oracle_sql() -> str:
    checks = {
        "orderkey_not_null": "l_orderkey IS NULL",
        "partkey_not_null": "l_partkey IS NULL",
        "qty_in_domain": f"l_quantity < {QTY_MIN} OR l_quantity > {QTY_MAX}",
        "discount_in_domain": f"l_discount < {DISC_MIN} OR l_discount > {DISC_MAX}",
        "shipdate_in_range": (
            f"l_shipdate < DATE '{SHIP_MIN}' OR l_shipdate >= DATE '{SHIP_MAX}'"
        ),
    }
    arms = " UNION ALL ".join(
        f"SELECT '{name}' AS check_name, COUNT(*) AS n_rows, "
        f"CAST(SUM(CASE WHEN {cond} THEN 1 ELSE 0 END) AS BIGINT) AS n_violations, "
        f"SUM(CASE WHEN {cond} THEN 1 ELSE 0 END) = 0 AS passed FROM lineitem"
        for name, cond in checks.items()
    )
    key = ", ".join(ROW_KEY)
    return f"""
    SELECT * FROM (
        {arms}
        UNION ALL
        SELECT 'row_key_unique', CAST(SUM(c) AS BIGINT),
               CAST(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT),
               SUM(CASE WHEN c > 1 THEN c ELSE 0 END) = 0
        FROM (SELECT COUNT(*) AS c FROM lineitem GROUP BY {key})
    ) ORDER BY check_name
    """


def events_json_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events_json's aggregation via Spark 4's VariantType path
    (``parse_json`` → ``try_variant_get``) instead of string-path
    ``get_json_object`` — same oracle, proving the two extraction APIs
    agree. At scale variant wins: the JSON parses ONCE into a binary
    columnar encoding instead of re-parsing per extracted path."""
    from .events import load_events

    e = load_events(spark, sf_dir)
    k = F.try_variant_get(F.parse_json(F.col("props")), "$.k", "long")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("k_sum"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
    )


def observe_counts(df: DataFrame, name: str = "dq") -> tuple[DataFrame, Observation]:
    """Attach violation counters to any lineitem-shaped frame via
    ``df.observe`` — metrics materialize with whatever action runs the
    plan (no extra scan). Returns (df, observation); read
    ``observation.get`` after an action."""
    obs = Observation(name)
    counters = _violation_counters()
    return (
        df.observe(
            obs,
            F.count(F.lit(1)).alias("n_rows"),
            *[c.alias(k) for k, c in counters.items()],
        ),
        obs,
    )


# --- snapshot reconciliation (CDC-style diff) ------------------------------

DIFF_DELETE_MOD = 19  # rows "added since the old snapshot" (absent in old)
DIFF_UPDATE_MOD = 17  # rows whose quantity was bumped in the new snapshot
DIFF_REMOVE_MOD = 23  # old-only phantom rows (shifted key) → "removed"


def _li_keyed(df: DataFrame) -> DataFrame:
    """lineitem with the documented row key concatenated + an integer-exact
    value digest (quantity is integral; price is cents-quantized — no
    float-to-string formatting anywhere near the hash)."""
    key = F.concat_ws(
        "|", *[F.col(c).cast("string") for c in ROW_KEY]
    )
    digest = F.md5(
        F.concat_ws(
            "|",
            F.col("l_quantity").cast("long").cast("string"),
            F.floor(F.col("l_extendedprice") * 100.0 + F.lit(0.5))
            .cast("long")
            .cast("string"),
            F.col("l_returnflag"),
        )
    )
    return df.select(key.alias("row_key"), digest.alias("digest"))


def _li_old_snapshot(cur: DataFrame) -> DataFrame:
    """The deterministically-derived 'old' snapshot both reconciliation
    entries share (drop every DELETE_MODth key hash → registers as
    *added*; bump l_quantity on every UPDATE_MODth → *changed*; add a
    shifted-key phantom copy of every REMOVE_MODth → *removed*)."""
    h = texts.hash32(
        F.concat_ws("|", *[F.col(c).cast("string") for c in ROW_KEY])
    )
    old_src = cur.withColumn("_h", h).where(
        F.col("_h") % DIFF_DELETE_MOD != 0
    )
    old_src = old_src.withColumn(
        "l_quantity",
        F.when(
            F.col("_h") % DIFF_UPDATE_MOD == 0, F.col("l_quantity") + 1
        ).otherwise(F.col("l_quantity")),
    ).drop("_h")
    phantom = cur.withColumn("_h", h).where(
        F.col("_h") % DIFF_REMOVE_MOD == 0
    ).withColumn(
        "l_linenumber", F.col("l_linenumber") + F.lit(100)
    ).drop("_h")
    return old_src.unionByName(phantom)


def lineitem_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot RECONCILIATION: diff two versions of a table into
    added / removed / changed / unchanged counts — the CDC-audit /
    backfill-verification primitive (does the new lake state differ from
    the old where, and only where, it should?).

    The "old" snapshot is derived deterministically from the current one
    (drop every 19th row-key-hash → those register as *added*; bump
    l_quantity on every 17th → *changed*; add a shifted-key phantom copy
    of every 23rd → *removed*), so the expected census is checkable and
    all four ops occur. Plan: ONE full-outer join on the row key comparing value
    digests, then a single census aggregate — at 100 TB both sides
    shuffle once on the key (or zero times if both snapshots are
    bucketed on it, the layout ``SCALE.md §Joins`` pins), and the
    row-level diff (op != 'unchanged') is the CDC stream a downstream
    consumer would ingest.
    """
    cur = load_table(spark, sf_dir, "lineitem")
    old_src = _li_old_snapshot(cur)
    new_k = _li_keyed(cur).alias("n")
    old_k = _li_keyed(old_src).alias("o")
    joined = new_k.join(old_k, F.col("n.row_key") == F.col("o.row_key"), "full_outer")
    op = (
        F.when(F.col("o.row_key").isNull(), F.lit("added"))
        .when(F.col("n.row_key").isNull(), F.lit("removed"))
        .when(F.col("n.digest") != F.col("o.digest"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        joined.select(op.alias("op"))
        .groupBy("op")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy("op")
    )


def _snapshot_diff_oracle_sql() -> str:
    key = " || '|' || ".join(f"CAST({c} AS VARCHAR)" for c in ROW_KEY)
    key_phantom = " || '|' || ".join(
        f"CAST({c} + 100 AS VARCHAR)" if c == "l_linenumber" else f"CAST({c} AS VARCHAR)"
        for c in ROW_KEY
    )
    h = texts.hash32_sql(key)
    digest = (
        "md5(CAST(CAST(l_quantity AS BIGINT) AS VARCHAR) || '|' || "
        "CAST(CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS VARCHAR)"
        " || '|' || l_returnflag)"
    )
    digest_bumped = (
        "md5(CAST(CAST(l_quantity + 1 AS BIGINT) AS VARCHAR) || '|' || "
        "CAST(CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS VARCHAR)"
        " || '|' || l_returnflag)"
    )
    return f"""
WITH cur AS (
    SELECT {key} AS row_key, {digest} AS digest FROM lineitem
),
old AS (
    SELECT {key} AS row_key,
           CASE WHEN {h} % {DIFF_UPDATE_MOD} = 0 THEN {digest_bumped}
                ELSE {digest} END AS digest
    FROM lineitem
    WHERE {h} % {DIFF_DELETE_MOD} <> 0
    UNION ALL
    SELECT {key_phantom} AS row_key, {digest} AS digest
    FROM lineitem
    WHERE {h} % {DIFF_REMOVE_MOD} = 0
),
j AS (
    SELECT CASE WHEN o.row_key IS NULL THEN 'added'
                WHEN n.row_key IS NULL THEN 'removed'
                WHEN n.digest <> o.digest THEN 'changed'
                ELSE 'unchanged' END AS op
    FROM cur n FULL OUTER JOIN old o ON n.row_key = o.row_key
)
SELECT op, COUNT(*) AS n_rows FROM j GROUP BY op ORDER BY op
"""


def _li_proj(df: DataFrame) -> DataFrame:
    """The integer-safe projection both sides of the apply identity are
    compared on: the documented row key + the mutated quantity (integral
    by contract) + cents-quantized price — no float-to-string formatting
    anywhere near the cross-engine hash (same contract as _li_keyed)."""
    return df.select(
        *ROW_KEY,
        F.col("l_quantity").cast("long").alias("quantity"),
        F.floor(F.col("l_extendedprice") * 100.0 + F.lit(0.5))
        .cast("long")
        .alias("price_cents"),
    )


def _li_cdc_stream(cur: DataFrame) -> tuple:
    """(old_keyed, cdc) — the keyed old snapshot and the row-level
    insert/update/delete change stream old→cur that the apply entry
    consumes (and whose op counts must equal the diff entry's census —
    pinned in tests/test_snapshot_apply.py)."""
    key = F.concat_ws(
        "|", *[F.col(c).cast("string") for c in ROW_KEY]
    )
    curk = _li_proj(cur).withColumn("row_key", key).withColumn(
        "_n", F.lit(1)
    )
    oldk = _li_proj(_li_old_snapshot(cur)).withColumn(
        "row_key", key
    ).withColumn("_o", F.lit(1))
    j = curk.alias("n").join(oldk.alias("o"), "row_key", "full_outer")
    op = (
        F.when(F.col("o._o").isNull(), F.lit("insert"))
        .when(F.col("n._n").isNull(), F.lit("delete"))
        .when(
            (F.col("n.quantity") != F.col("o.quantity"))
            | (F.col("n.price_cents") != F.col("o.price_cents")),
            F.lit("update"),
        )
        .otherwise(F.lit("unchanged"))
    )
    cdc = j.select(
        "row_key",
        op.alias("op"),
        *[F.col(f"n.{c}").alias(c) for c in ROW_KEY],
        F.col("n.quantity").alias("quantity"),
        F.col("n.price_cents").alias("price_cents"),
    ).where(F.col("op") != "unchanged")
    return oldk, cdc


def lineitem_snapshot_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC APPLY — the MERGE INTO shape, and the inverse of
    ``lineitem_snapshot_diff``: compute the row-level change stream
    old→current (insert / update / delete, the rows the diff entry only
    censuses), then apply it back onto the old snapshot —
    delete+update keys anti-join out of the base, insert+update
    payloads union in.  The ORACLE is simply the CURRENT snapshot's
    projection read directly, so the hash gate proves the round-trip
    law ``apply(old, diff(old, cur)) = cur`` — the property that makes
    incremental lake maintenance (ingest a changeset instead of
    rewriting the table) correct.

    Plan: both the diff and the apply are keyed full-outer / anti joins
    on the SAME row key — at 100 TB the base and the changeset shuffle
    once each on that key (zero times if the lake layout buckets by it,
    the layout SCALE.md §Joins pins), and the changeset side is
    typically a tiny fraction of the base, which AQE broadcasts."""
    cur = load_table(spark, sf_dir, "lineitem")
    oldk, cdc = _li_cdc_stream(cur)
    tombstones = cdc.where(
        F.col("op").isin("delete", "update")
    ).select("row_key")
    kept = oldk.join(tombstones, "row_key", "left_anti").select(
        *ROW_KEY, "quantity", "price_cents"
    )
    upserts = cdc.where(F.col("op").isin("insert", "update")).select(
        *ROW_KEY, "quantity", "price_cents"
    )
    return kept.unionByName(upserts)


def _snapshot_apply_oracle_sql() -> str:
    cols = ", ".join(ROW_KEY)
    return f"""
SELECT {cols},
       CAST(l_quantity AS BIGINT) AS quantity,
       CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS price_cents
FROM lineitem
"""


# --- model-based quality scoring over documents ---------------------------

# Fixed-point linear model: a fasttext-style quality classifier's serving
# path. The weights/thresholds here stand in for offline-trained ones (the
# synthetic corpus has no labels to train on); what the operator pins is
# the SERVING shape — engineered features + integer dot product + banding
# in one narrow scan, exact across engines.
QS_HIGH = 55_000
QS_LOW = 25_000


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based document quality score + band (high/mid/low).

    Features (all exact integers, per row): token count, stopword ratio
    (e6), digit-character ratio (e6). Score = integer-weighted sum;
    bands by fixed thresholds; ``keep`` = not low. Everything is
    built-in JVM expressions over ONE scan — no shuffle, no UDF: at
    100 TB a quality classifier runs as a scan-bound map exactly like
    this, with the learned weights broadcast as literals."""
    from ..sources.tables import load_table_spread

    return quality_score_of(
        load_table_spread(spark, sf_dir, "documents").select(
            "doc_id", "lang", "text"
        )
    )


def quality_score_of(docs: DataFrame) -> DataFrame:
    """Frame-level core of :func:`quality_score` over an arbitrary
    (doc_id, lang, text) frame — factored (round 8) so the incremental
    entity-resolution index scores each ingest batch with the exact
    expressions the batch entry and its oracle pin."""
    return _quality_scored_wide(docs).select(
        "doc_id", "lang", "n_toks", "stop_e6", "digit_e6",
        "score", "band", "keep",
    )


def _quality_scored_wide(docs: DataFrame) -> DataFrame:
    """:func:`quality_score_of` plus the ``text`` column — factored
    (round 11) so the trained classifier derives its weak-supervision
    labels and engineered features from the SAME scan and expressions
    the heuristic entry pins, without a doc_id self-join."""
    from ..functions import texts

    d = docs.select(
        "doc_id", "lang", texts.tokens(F.col("text")).alias("toks"), "text"
    )
    n_toks = F.size("toks").cast("long")
    n_chars = F.length("text").cast("long")
    n_stop = F.size(
        F.filter(
            F.col("toks"), lambda t: F.lower(t).isin(*texts.STOPWORDS)
        )
    ).cast("long")
    n_digit = F.regexp_count(F.col("text"), F.lit("[0-9]")).cast("long")
    # Zero-denominator guard (ADVICE r3): an empty text has n_chars = 0
    # (and a defensive n_toks = 0 guard to match) — the ratio is defined
    # as 0 in BOTH engines, so score/band/keep are never NULL and the
    # ANSI-mode driver session can't hit a divide-by-zero error.
    stop_e6 = F.expr("if(n_toks = 0, 0L, div(n_stop * 1000000, n_toks))")
    digit_e6 = F.expr("if(n_chars = 0, 0L, div(n_digit * 1000000, n_chars))")
    score = (
        F.least(F.col("n_toks"), F.lit(64)) * 1000
        + F.expr("div(stop_e6, 50)")
        - F.expr("div(digit_e6, 50)")
    ).cast("long")
    band = (
        F.when(F.col("score") >= QS_HIGH, F.lit("high"))
        .when(F.col("score") >= QS_LOW, F.lit("mid"))
        .otherwise(F.lit("low"))
    )
    return (
        d.select(
            "doc_id",
            "lang",
            "text",
            n_toks.alias("n_toks"),
            n_stop.alias("n_stop"),
            n_digit.alias("n_digit"),
            n_chars.alias("n_chars"),
        )
        .withColumn("stop_e6", stop_e6)
        .withColumn("digit_e6", digit_e6)
        .withColumn("score", score)
        .withColumn("band", band)
        # keep is defined as score >= QS_LOW in BOTH engines (ADVICE r3:
        # `band != 'low'` diverged from the oracle for NULL scores; with
        # the guards above score is never NULL, and this form is textually
        # identical to the oracle's predicate).
        .withColumn("keep", F.col("score") >= QS_LOW)
        .select(
            "doc_id", "lang", "text", "n_toks", "stop_e6", "digit_e6",
            "score", "band", "keep",
        )
    )


def _quality_score_oracle_sql() -> str:
    stop_list = ", ".join(f"'{w}'" for w in texts.STOPWORDS)
    return f"""
WITH f AS (
    SELECT doc_id, lang,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
           CAST(len(list_filter(string_split(text, ' '),
                                t -> lower(t) IN ({stop_list}))) AS BIGINT)
               AS n_stop,
           CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digit,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM documents
),
r AS (
    SELECT doc_id, lang, n_toks,
           CASE WHEN n_toks = 0 THEN 0
                ELSE (n_stop * 1000000) // n_toks END AS stop_e6,
           CASE WHEN n_chars = 0 THEN 0
                ELSE (n_digit * 1000000) // n_chars END AS digit_e6
    FROM f
),
s AS (
    SELECT doc_id, lang, n_toks, stop_e6, digit_e6,
           CAST(least(n_toks, 64) * 1000
                + stop_e6 // 50 - digit_e6 // 50 AS BIGINT) AS score
    FROM r
)
SELECT doc_id, lang, n_toks, stop_e6, digit_e6, score,
       CASE WHEN score >= {QS_HIGH} THEN 'high'
            WHEN score >= {QS_LOW} THEN 'mid'
            ELSE 'low' END AS band,
       score >= {QS_LOW} AS keep
FROM s
"""


# ---------------- trained quality classifier (round 11, VERDICT r10 #1)
# The discriminative half of the CCNet / GPT-3-Appendix-A filtering
# pipeline: where quality_score serves HAND-FIXED weights, this entry
# TRAINS a Bernoulli Naive Bayes text classifier in-engine and serves
# it as one broadcast-weights scan.
#
# - Features per doc: DISTINCT hashed buckets of its unigram tokens
#   plus three engineered features (bucketed token count, stopword
#   ratio, digit ratio) — the mixed token+engineered bag real quality
#   classifiers consume.  Bernoulli (presence/absence, absent-feature
#   terms folded into a per-corpus constant) rather than multinomial:
#   measured on the fixture, the multinomial form's length term n*mu
#   drowns every other signal and the model degenerates to
#   predict-majority; the Bernoulli form reaches 97% held-out accuracy
#   (83% majority baseline).
# - Labels: weak supervision from the heuristic's own bands (pos =
#   'high', neg = 'low', mid unlabeled) on the doc_id % 2 == 0 half;
#   odd doc_ids are held OUT of training entirely, so the entry's
#   predictions on them are genuine generalization, not memorization
#   (the CCNet bootstrap: heuristic/reference labels, learned
#   generalizer).
# - Exact arithmetic: NB is a LOG-domain model, and floating log is
#   banned by the determinism contract — weights are Q16 fixed-point
#   log2 values from functions/intlog.py's shift-and-square kernel
#   (pure int64 ops, bit-identical across engines).  Counting is
#   distributed; model finalization collects the <= QC_B-row count
#   table and runs the exact kernel driver-side (the bounded-collect
#   precedent of the kmeans/PQ/BPE trainers), then broadcasts QC_B
#   weight rows back.
#
# 100 TB shape: one scan for stats+labels, one (doc, bucket) distinct
# shuffle (map-side combinable), one QC_B-row count agg, a QC_B-row
# collect+broadcast, and one broadcast-join scoring scan — the scans
# dominate; nothing but the bounded model crosses the driver.
# int64 headroom: ilog2 inputs are doc COUNTS (+2), fine to ~9.2e18
# docs; sw sums |n_feats| terms of |w| <= 63*2^16 — ~2e12 features/doc
# before overflow, far beyond any document.
QC_B = 1024  # hashed feature buckets (capacity knob; vocab here is tiny)
QC_TRAIN_STRIDE = 2  # train on even doc_ids; odd are the held-out half


def _qc_label_col():
    """Weak-supervision training label: heuristic band on the training
    parity half; NULL for held-out docs and mid-band docs."""
    return (
        F.when(
            F.col("doc_id") % QC_TRAIN_STRIDE != 0,
            F.lit(None).cast("string"),
        )
        .when(F.col("score") >= QS_HIGH, F.lit("pos"))
        .when(F.col("score") < QS_LOW, F.lit("neg"))
        .otherwise(F.lit(None).cast("string"))
    )


def _qc_featbuckets(wide: DataFrame) -> DataFrame:
    """(doc_id, b): DISTINCT hashed feature buckets per document —
    distinct unigram tokens plus the three engineered features, hashed
    into QC_B buckets. Presence-set semantics (Bernoulli NB): the
    per-doc distinct collapses hash collisions identically on both
    engines."""
    from ..functions import texts

    ftoks = wide.select(
        "doc_id",
        F.explode(F.array_distinct(texts.tokens(F.col("text")))).alias("g"),
    )
    feng = wide.select(
        "doc_id",
        F.explode(
            F.array(
                F.concat(
                    F.lit("F:len:"),
                    F.expr("cast(div(n_toks, 8) as string)"),
                ),
                F.concat(
                    F.lit("F:stop:"),
                    F.expr("cast(div(stop_e6, 100000) as string)"),
                ),
                F.concat(
                    F.lit("F:digit:"),
                    F.expr("cast(div(digit_e6, 100000) as string)"),
                ),
            )
        ).alias("g"),
    )
    return (
        ftoks.unionByName(feng)
        .select("doc_id", (texts.hash32(F.col("g")) % QC_B).alias("b"))
        .distinct()
    )


def quality_classifier_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the Bernoulli-NB quality classifier on the labeled half of
    the corpus and score EVERY document with the learned log-odds.

    Output per doc: (doc_id, train_label pos/neg/NULL — the label used
    in training, NULL for held-out and mid-band docs —, n_feats =
    distinct feature buckets, qc_llr_q16 = posterior log2-odds in Q16
    fixed point including the class prior and the absent-feature
    constant, predicted_high = qc_llr_q16 > 0).

    Bernoulli NB decision, exactly: for doc feature set S,
      score = log2(Np/Nn)
            + sum_{b in S} [l(dp_b+1) + l(Nn-dn_b+1)
                            - l(dn_b+1) - l(Np-dp_b+1)]
            + sum_{all b} [l(Np-dp_b+1) + l(Nn+2)
                           - l(Nn-dn_b+1) - l(Np+2)]
    with l = functions.intlog.ilog2_q16 (exact Q16 log2) and dp/dn the
    per-bucket pos/neg document frequencies; the second sum is
    doc-independent and folded into the broadcast constant."""
    from ..sources.tables import load_table_spread

    wide = _quality_scored_wide(
        load_table_spread(spark, sf_dir, "documents").select(
            "doc_id", "lang", "text"
        )
    )
    # lab is doc-count-sized (two narrow columns) and feeds the training
    # counts, the prior agg, and the final output join — checkpoint so the
    # featurize scan behind the label expression runs once, not three
    # times (round 12 opt; same contract as fb below).
    lab = wide.select(
        "doc_id", _qc_label_col().alias("train_label")
    ).localCheckpoint()
    # fb feeds BOTH the training counts and the scoring join; checkpoint
    # so the scan + per-doc distinct run once, not twice (a deployment
    # persists the featurized corpus between the two passes the same way)
    fb = _qc_featbuckets(wide).localCheckpoint()
    model, c_q16 = qc_train_model(spark, fb, lab)
    return (
        qc_score(lab.select("doc_id"), fb, model, c_q16)
        .join(lab, "doc_id", "left")
        .select(
            "doc_id", "train_label", "n_feats", "qc_llr_q16",
            "predicted_high",
        )
    )


def qc_train_model(
    spark: SparkSession, fb: DataFrame, lab: DataFrame
) -> tuple[DataFrame, int]:
    """Train the Bernoulli-NB model from featurized docs ``fb``
    (doc_id, b) and weak labels ``lab`` (doc_id, train_label) —
    factored out of :func:`quality_classifier_scored` (round 12) so
    the continuous-curation index can train once at bootstrap and
    freeze the model, the same init-time-frozen contract as the
    SemDeDup quantizer.  Returns (per-bucket weight frame (b, w),
    the doc-independent constant c_q16); counts are distributed, the
    model itself is a bounded ≤QC_B-row collect."""
    from ..functions import intlog

    tl = fb.join(lab.where(F.col("train_label").isNotNull()), "doc_id")
    cnt_rows = (
        tl.groupBy("b")
        .agg(
            F.sum(F.when(F.col("train_label") == "pos", 1).otherwise(0))
            .cast("long")
            .alias("dp"),
            F.sum(F.when(F.col("train_label") == "neg", 1).otherwise(0))
            .cast("long")
            .alias("dn"),
        )
        .collect()  # bounded: <= QC_B rows (the model, not the corpus)
    )
    nrow = lab.agg(
        F.coalesce(
            F.sum(F.when(F.col("train_label") == "pos", 1).otherwise(0)),
            F.lit(0),
        )
        .cast("long")
        .alias("np"),
        F.coalesce(
            F.sum(F.when(F.col("train_label") == "neg", 1).otherwise(0)),
            F.lit(0),
        )
        .cast("long")
        .alias("nn"),
    ).collect()[0]
    np_, nn_ = nrow["np"], nrow["nn"]

    l = intlog.ilog2_q16
    cnts = {r["b"]: (r["dp"], r["dn"]) for r in cnt_rows}
    w_rows, csum = [], 0
    for b in range(QC_B):
        dp, dn = cnts.get(b, (0, 0))
        w_rows.append(
            (b, l(dp + 1) + l(nn_ - dn + 1) - l(dn + 1) - l(np_ - dp + 1))
        )
        csum += l(np_ - dp + 1) + l(nn_ + 2) - l(nn_ - dn + 1) - l(np_ + 2)
    c_q16 = l(np_) - l(nn_) + csum
    return local_rows(spark, w_rows, "b long, w long"), c_q16


def qc_score(
    doc_ids: DataFrame, fb: DataFrame, model: DataFrame, c_q16: int
) -> DataFrame:
    """Score ``doc_ids`` (doc_id) with a trained model: one broadcast
    join of the featurized docs against the ≤QC_B-row weight frame +
    a per-doc sum — the scan-bound shape a frozen classifier runs at
    ingest time.  Output (doc_id, n_feats, qc_llr_q16,
    predicted_high), bit-identical to the training-time scorer."""
    per_doc = (
        fb.join(F.broadcast(model), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_feats"),
            F.sum("w").cast("long").alias("sw"),
        )
    )
    llr = F.lit(c_q16) + F.coalesce("sw", F.lit(0))
    return doc_ids.join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_feats", F.lit(0)).cast("long").alias("n_feats"),
        llr.cast("long").alias("qc_llr_q16"),
        (llr > 0).alias("predicted_high"),
    )


# ------------------- logistic-regression twin (round 12, VERDICT item 6)
# Bernoulli NB is the generative half; the CCNet/fastText production
# shape is DISCRIMINATIVE — full-batch gradient descent on the same
# hashed feature buckets and weak labels.  Everything is exact integer
# arithmetic so the oracle is bit-identical: Q16 weights, a hard-sigmoid
# link σ̃(x) = clamp(1/2 + x/8, 0, 1) in Q16 (the piecewise-linear
# logistic used by quantized trainers — plain integer ops, no transcend-
# ental to approximate cross-engine), and TRUNCATING division, which
# Spark's div, DuckDB's //, and the driver-side _tdiv all share for
# negative operands (probed round 12; Python's // floors and is NOT
# used).  Per iteration: one broadcast-model join + per-doc aggregate
# over the labeled feature rows, then a ≤(QC_B+1)-row gradient collect —
# the same distributed-counts / model-sized-collect split as NB.
# 16 iterations at lr 4 measured 99.4% held-out accuracy at sf0.001 AND
# sf0.01 vs NB's 94.6%/97% (12 iters at lr 2 underfit the smaller
# cohort: 92.8% at sf0.001); pinned >= NB in tests/test_quality.py.
LR_ITERS = 16
LR_NUM, LR_DEN = 4, 1  # learning rate as an exact rational
_Q16 = 65536
_BIAS_B = -1  # sentinel bucket carrying the bias gradient
# Gradient-loop size dispatch (round 12, the KM_DRIVER_MAX precedent):
# at or below this many LABELED docs the 16 gradient steps run on the
# driver over one bounded localrel.pull of (label, bucket-array) rows —
# every step is exact integer arithmetic, so driver and distributed
# loops agree bit-for-bit.
LR_DRIVER_MAX = 65_536


def _tdiv(a: int, b: int) -> int:
    """Truncating integer division — matches Spark div and DuckDB //
    on negatives (Python's // floors)."""
    q = abs(a) // abs(b)
    return q if (a < 0) == (b < 0) else -q


def _hard_sig(x):
    """Q16 hard sigmoid as a Spark column expression (div truncates)."""
    return F.expr(f"least(greatest(32768 + div({x}, 8), 0L), 65536L)")


def _hard_sig_col(x):
    """Q16 hard sigmoid over a column, with TRUNCATING /8 built from
    Spark's remainder (sign of dividend): trunc(x/8) = (x - x%8)/8 —
    x - x%8 is an exact multiple of 8 and |x| << 2^50, so the double
    division is exact before the cast."""
    t = ((x - x % F.lit(8)) / F.lit(8)).cast("long")
    return F.least(F.greatest(F.lit(32768) + t, F.lit(0)), F.lit(_Q16))


def lr_train_model(
    spark: SparkSession, fb: DataFrame, lab: DataFrame
) -> tuple[DataFrame, int]:
    """Train the hard-sigmoid LR model; returns (weight frame (b, w),
    bias) — the discriminative sibling of :func:`qc_train_model`, same
    I/O contract so :func:`qc_score`-style serving composes.

    Loop shape (round 12, after two measured iterations): the labeled
    cohort is staged ONCE as (doc_id, label, bucket-array) rows; each
    iteration evaluates margins with the current weights as a LITERAL
    array (element_at lookups — no model join, no broadcast, no
    doc-keyed shuffle), then scatters residuals through one explode into
    a ≤(QC_B+1)-key partial aggregate.  Per-iteration distributed work
    is one narrow scan of the checkpointed cohort; driver traffic is
    the bounded gradient collect.  (A per-iteration broadcast-join form
    measured 0.7-0.8 s/iter at sf0.1 from join+shuffle overhead; this
    form runs the same iteration in ~0.2 s.  A broadcast of the
    residual frame was rejected outright — the cohort is corpus-
    proportional, so broadcasting it is not a 100 TB plan.)"""
    docs_bs = (
        fb.join(lab.where(F.col("train_label").isNotNull()), "doc_id")
        .groupBy("doc_id", "train_label")
        .agg(F.collect_list("b").alias("bs"))
        .localCheckpoint()
    )
    n_rows, tbl = localrel.pull(docs_bs, LR_DRIVER_MAX)
    n_lab = max(n_rows, 1)
    if tbl is not None:
        return _lr_train_driver(spark, tbl, n_lab)
    w = {b: 0 for b in range(QC_B)}
    bias = 0
    y = F.when(F.col("train_label") == "pos", F.lit(_Q16)).otherwise(F.lit(0))
    # gradient scatter target: each doc's buckets plus the bias sentinel
    gb = F.explode(
        F.concat(F.col("bs"), F.array(F.lit(_BIAS_B).cast("long")))
    )
    for _ in range(LR_ITERS):
        warr = F.array(*[F.lit(int(w[b])) for b in range(QC_B)])
        margin = F.lit(bias) + F.aggregate(
            F.col("bs"),
            F.lit(0).cast("long"),
            lambda acc, b: acc
            + F.element_at(warr, (b + 1).cast("int")).cast("long"),
        )
        r = (y - _hard_sig_col(margin)).cast("long")
        grads = (
            docs_bs.select(r.alias("r"), "bs")
            .select(gb.alias("b"), "r")
            .groupBy("b")
            .agg(F.sum("r").cast("long").alias("g"))
            .collect()  # bounded: <= QC_B + 1 rows (the gradient)
        )
        for row in grads:
            step = _tdiv(LR_NUM * row["g"], n_lab * LR_DEN)
            if row["b"] == _BIAS_B:
                bias += step
            else:
                w[row["b"]] += step
    model = local_rows(
        spark, [(int(b), int(v)) for b, v in w.items()], "b long, w long"
    )
    return model, bias


def _lr_train_driver(
    spark: SparkSession, tbl, n_lab: int
) -> tuple[DataFrame, int]:
    """Driver twin of the distributed gradient loop over the pulled
    (≤ LR_DRIVER_MAX rows) labeled cohort — the identical 16 steps
    in exact Python integers: margin = bias + Σw[b] (duplicates in the
    bucket array count, as in the Spark fold), the Q16 hard sigmoid
    with TRUNCATING /8 (``_tdiv`` — Spark's ``x - x%8`` then exact
    double division), per-bucket residual sums restricted to buckets
    PRESENT in the cohort (absent buckets get no gradient row in either
    engine), and the truncating-division weight step.  Bit-identical to
    the distributed loop (tests/test_functions.py's driver-twin parity
    test); the distributed path pays one cohort scan + one gradient
    collect of scheduler latency per step (~0.25 s × 16 at sf0.1) for
    arithmetic the driver does in milliseconds."""
    data = [
        (_Q16 if r["train_label"] == "pos" else 0, r["bs"])
        for r in tbl.to_pylist()
    ]
    w = {b: 0 for b in range(QC_B)}
    bias = 0
    for _ in range(LR_ITERS):
        g: dict[int, int] = {}
        gbias = 0
        for yv, bs in data:
            margin = bias + sum(w[b] for b in bs)
            hs = min(max(32768 + _tdiv(margin, 8), 0), _Q16)
            r = yv - hs
            for b in bs:
                g[b] = g.get(b, 0) + r
            gbias += r
        for b, gv in g.items():
            w[b] += _tdiv(LR_NUM * gv, n_lab * LR_DEN)
        if data:  # the bias sentinel row exists iff the cohort does
            bias += _tdiv(LR_NUM * gbias, n_lab * LR_DEN)
    model = local_rows(
        spark, [(int(b), int(v)) for b, v in w.items()], "b long, w long"
    )
    return model, bias


def quality_lr_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: train the LR quality classifier on the labeled
    half (same weak supervision, features, and cohort as the NB entry)
    and score every document.  Output (doc_id, train_label, n_feats,
    lr_margin_q16, predicted_high) — the NB entry's shape with the
    posterior log-odds replaced by the learned margin."""
    from ..sources.tables import load_table_spread

    wide = _quality_scored_wide(
        load_table_spread(spark, sf_dir, "documents").select(
            "doc_id", "lang", "text"
        )
    )
    # Stage the two-column label frame once: it feeds the cohort staging
    # join AND the output join, and every evaluation re-runs the featurize
    # scan behind the score expression (round 12 opt — measured one full
    # tokenize+regexp pass saved at sf0.1).
    lab = wide.select(
        "doc_id", _qc_label_col().alias("train_label")
    ).localCheckpoint()
    fb = _qc_featbuckets(wide).localCheckpoint()
    model, bias = lr_train_model(spark, fb, lab)
    per_doc = (
        fb.join(F.broadcast(model), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_feats"),
            F.sum("w").cast("long").alias("sw"),
        )
    )
    margin = F.lit(bias) + F.coalesce("sw", F.lit(0))
    return (
        lab.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .join(lab, "doc_id", "left")
        .select(
            "doc_id",
            "train_label",
            F.coalesce("n_feats", F.lit(0)).cast("long").alias("n_feats"),
            margin.cast("long").alias("lr_margin_q16"),
            (margin > 0).alias("predicted_high"),
        )
    )


def _lr_scored_ctes(train_pred: str = "TRUE") -> str:
    """The full LR training loop unrolled as chained CTEs (the kmeans /
    PQ iteration-unroll precedent): per iteration, per-labeled-doc
    margins and hard-sigmoid residuals, per-bucket gradient sums, then
    the truncating-division weight update — every step exact BIGINT.
    Ends with ``per_doc`` (doc_id, n_feats, sw); the trained bias lives
    in ``b{LR_ITERS}``.  Factored round 12 so the scored entry and the
    PR-sweep entry build on the SAME training chain and cannot drift.

    Every chained CTE is AS MATERIALIZED: DuckDB inlines plain CTEs per
    reference, and each unrolled level references its predecessor twice
    (w{{k}} feeds both m{{k}} and w{{k+1}}; r{{k}} feeds g{{k}} and
    b{{k+1}}), so the inlined plan doubles per level — 2^12 scan
    instances of the parquet-backed feature CTEs, which exhausts file
    handles before it exhausts CPU.  Materialization makes the plan
    linear in LR_ITERS, the same shape the Spark loop executes."""
    nd = f"(GREATEST((SELECT COUNT(*) FROM ldocs), 1) * {LR_DEN})"
    iters = []
    for k in range(LR_ITERS):
        iters.append(f"""m{k} AS MATERIALIZED (
    SELECT t.doc_id, t.train_label,
           (SELECT bias FROM b{k}) + COALESCE(SUM(w.w), 0) AS marg
    FROM tl t JOIN w{k} w USING (b)
    GROUP BY t.doc_id, t.train_label
),
r{k} AS MATERIALIZED (
    SELECT doc_id,
           CAST((CASE WHEN train_label = 'pos' THEN 65536 ELSE 0 END)
                - least(greatest(32768 + marg // 8, 0), 65536)
                AS BIGINT) AS r
    FROM m{k}
),
g{k} AS MATERIALIZED (
    SELECT t.b, CAST(SUM(r.r) AS BIGINT) AS g
    FROM tl t JOIN r{k} r USING (doc_id) GROUP BY t.b
),
w{k + 1} AS MATERIALIZED (
    SELECT w.b,
           CAST(w.w + COALESCE(({LR_NUM} * g.g) // {nd}, 0) AS BIGINT) AS w
    FROM w{k} w LEFT JOIN g{k} g USING (b)
),
b{k + 1} AS MATERIALIZED (
    SELECT CAST(bias + ({LR_NUM} * (SELECT CAST(COALESCE(SUM(r), 0)
                                         AS BIGINT) FROM r{k})) // {nd}
                AS BIGINT) AS bias
    FROM b{k}
)""")
    chain = ",\n".join(iters)
    kf = LR_ITERS
    return f"""{_qc_feature_ctes(train_pred)},
tl AS MATERIALIZED (
    SELECT fb.doc_id, fb.b, lab.train_label
    FROM fb JOIN lab USING (doc_id)
    WHERE lab.train_label IS NOT NULL
),
ldocs AS MATERIALIZED (SELECT DISTINCT doc_id FROM tl),
w0 AS MATERIALIZED (
    SELECT CAST(unnest(range(0, {QC_B})) AS BIGINT) AS b,
           CAST(0 AS BIGINT) AS w
),
b0 AS MATERIALIZED (SELECT CAST(0 AS BIGINT) AS bias),
{chain},
per_doc AS (
    SELECT fb.doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
           CAST(SUM(w.w) AS BIGINT) AS sw
    FROM fb JOIN w{kf} w USING (b) GROUP BY fb.doc_id
)"""


def _lr_oracle_sql(train_pred: str = "TRUE") -> str:
    """Scored-entry oracle: the shared training chain + the per-doc
    margin projection (every document, model applied as bias + Σw)."""
    kf = LR_ITERS
    return f"""
WITH {_lr_scored_ctes(train_pred)}
SELECT d.doc_id, lab.train_label,
       CAST(COALESCE(n_feats, 0) AS BIGINT) AS n_feats,
       CAST((SELECT bias FROM b{kf}) + COALESCE(sw, 0) AS BIGINT)
           AS lr_margin_q16,
       ((SELECT bias FROM b{kf}) + COALESCE(sw, 0)) > 0 AS predicted_high
FROM documents d
LEFT JOIN per_doc USING (doc_id)
LEFT JOIN lab USING (doc_id)
"""


def quality_pr_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operating-point selection for the trained LR quality classifier:
    the exact precision/recall/F1 sweep a pipeline runs BEFORE
    committing to a filter threshold — the step between "the classifier
    scores documents" and "the curation gate drops documents".

    Evaluation cohort: the HELD-OUT parity half (never seen in
    training), with the same heuristic band as reference labels
    (pos = score ≥ QS_HIGH, neg = score < QS_LOW, mid-band excluded) —
    the CCNet evaluation shape: weak reference labels on a disjoint
    split.  One output row per distinct margin value among the eval
    points, each the confusion at threshold "predict pos iff margin ≥
    thr": exact-integer tp/fp/fn plus Q16 precision/recall/F1
    (truncating division — identical in both engines) and the best-F1
    marker.

    100 TB shape: scoring is the broadcast-model scan
    ``quality_lr_scored`` already runs; the sweep input aggregates
    map-side to ≤ |distinct margins| rows (bounded by the labeled eval
    cohort, NOT the corpus) before the cumulative window, so the
    single-partition window pass is over a sketch-sized frame — the
    same by-design shape as the sketch estimators' final reduce."""
    from pyspark.sql import Window

    from ..sources.tables import load_table_spread

    wide = _quality_scored_wide(
        load_table_spread(spark, sf_dir, "documents").select(
            "doc_id", "lang", "text"
        )
    )
    # Stage the two-column (doc_id, score) frame once: the training label
    # AND the eval-cohort reference label both derive from the heuristic
    # score, and each un-staged use re-ran the featurize scan behind it
    # (round 12 opt — same move as quality_lr_scored's lab checkpoint).
    ds = wide.select("doc_id", "score").localCheckpoint()
    lab = ds.select("doc_id", _qc_label_col().alias("train_label"))
    fb = _qc_featbuckets(wide).localCheckpoint()
    model, bias = lr_train_model(spark, fb, lab)
    per_doc = (
        fb.join(F.broadcast(model), "b")
        .groupBy("doc_id")
        .agg(F.sum("w").cast("long").alias("sw"))
    )
    ev = (
        ds.where(F.col("doc_id") % QC_TRAIN_STRIDE != 0)
        .select(
            "doc_id",
            F.when(F.col("score") >= QS_HIGH, F.lit(1))
            .when(F.col("score") < QS_LOW, F.lit(0))
            .cast("long")
            .alias("y"),
        )
        .where(F.col("y").isNotNull())
    )
    pts = ev.join(per_doc, "doc_id", "left").select(
        (F.lit(bias) + F.coalesce("sw", F.lit(0)))
        .cast("long")
        .alias("thr_q16"),
        "y",
    )
    by_m = pts.groupBy("thr_q16").agg(
        F.sum("y").cast("long").alias("pos_m"),
        (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("neg_m"),
    )
    wcum = Window.orderBy(F.desc("thr_q16")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wall = Window.partitionBy()
    cum = by_m.select(
        "thr_q16",
        F.sum("pos_m").over(wcum).cast("long").alias("tp"),
        F.sum("neg_m").over(wcum).cast("long").alias("fp"),
        (F.sum("pos_m").over(wall) - F.sum("pos_m").over(wcum))
        .cast("long")
        .alias("fn"),
    )
    out = cum.select(
        "thr_q16",
        "tp",
        "fp",
        "fn",
        F.expr("div(tp * 65536, tp + fp)").alias("precision_q16"),
        F.expr("div(tp * 65536, tp + fn)").alias("recall_q16"),
        F.expr("div(2 * tp * 65536, 2 * tp + fp + fn)").alias("f1_q16"),
    )
    return out.withColumn(
        "is_best_f1",
        F.col("f1_q16") == F.max("f1_q16").over(Window.partitionBy()),
    ).orderBy(F.desc("thr_q16"))


def _pr_sweep_oracle_sql() -> str:
    kf = LR_ITERS
    f1 = "CAST((2 * tp * 65536) // (2 * tp + fp + fn) AS BIGINT)"
    return f"""
WITH {_lr_scored_ctes()},
marg AS (
    SELECT d.doc_id,
           CAST((SELECT bias FROM b{kf}) + COALESCE(sw, 0) AS BIGINT)
               AS thr_q16
    FROM documents d LEFT JOIN per_doc USING (doc_id)
),
ev AS (
    SELECT doc_id,
           CASE WHEN score >= {QS_HIGH} THEN 1
                WHEN score < {QS_LOW} THEN 0 END AS y
    FROM s WHERE doc_id % {QC_TRAIN_STRIDE} <> 0
),
pts AS (
    SELECT m.thr_q16, CAST(ev.y AS BIGINT) AS y
    FROM ev JOIN marg m USING (doc_id) WHERE ev.y IS NOT NULL
),
by_m AS (
    SELECT thr_q16, CAST(SUM(y) AS BIGINT) AS pos_m,
           CAST(COUNT(*) - SUM(y) AS BIGINT) AS neg_m
    FROM pts GROUP BY 1
),
cum AS (
    SELECT thr_q16,
           CAST(SUM(pos_m) OVER w AS BIGINT) AS tp,
           CAST(SUM(neg_m) OVER w AS BIGINT) AS fp,
           CAST((SELECT SUM(pos_m) FROM by_m) - SUM(pos_m) OVER w
                AS BIGINT) AS fn
    FROM by_m
    WINDOW w AS (ORDER BY thr_q16 DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT thr_q16, tp, fp, fn,
       CAST((tp * 65536) // (tp + fp) AS BIGINT) AS precision_q16,
       CAST((tp * 65536) // (tp + fn) AS BIGINT) AS recall_q16,
       {f1} AS f1_q16,
       {f1} = MAX({f1}) OVER () AS is_best_f1
FROM cum
ORDER BY thr_q16 DESC
"""


def _qc_feature_ctes(train_pred: str = "TRUE") -> str:
    """The shared featurize/label CTE prefix (f, s, lab, fstr, fb) both
    trained-classifier oracles build on — factored round 12 so the LR
    twin can't drift from the NB entry's feature definition."""
    from ..functions import texts

    h = texts.hash32_sql("g")
    stop_list = ", ".join(f"'{w}'" for w in texts.STOPWORDS)
    return f"""f AS (
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
           CAST(len(list_filter(string_split(text, ' '),
                                t -> lower(t) IN ({stop_list}))) AS BIGINT)
               AS n_stop,
           CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT) AS n_digit,
           CAST(length(text) AS BIGINT) AS n_chars
    FROM documents
),
s AS (
    SELECT doc_id, n_toks,
           CASE WHEN n_toks = 0 THEN 0
                ELSE (n_stop * 1000000) // n_toks END AS stop_e6,
           CASE WHEN n_chars = 0 THEN 0
                ELSE (n_digit * 1000000) // n_chars END AS digit_e6,
           CAST(least(n_toks, 64) * 1000
                + (CASE WHEN n_toks = 0 THEN 0
                        ELSE (n_stop * 1000000) // n_toks END) // 50
                - (CASE WHEN n_chars = 0 THEN 0
                        ELSE (n_digit * 1000000) // n_chars END) // 50
                AS BIGINT) AS score
    FROM f
),
lab AS (
    -- train_pred restricts the training COHORT (round 12: the curation
    -- index trains at bootstrap on the init corpus only — default TRUE
    -- reproduces the full-corpus entry verbatim); scoring always covers
    -- every document.
    SELECT doc_id,
           CASE WHEN doc_id % {QC_TRAIN_STRIDE} <> 0
                     OR NOT ({train_pred}) THEN NULL
                WHEN score >= {QS_HIGH} THEN 'pos'
                WHEN score < {QS_LOW} THEN 'neg' END AS train_label
    FROM s
),
fstr AS (
    SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS g
    FROM documents
    UNION ALL
    SELECT doc_id, 'F:len:' || CAST(n_toks // 8 AS VARCHAR) FROM s
    UNION ALL
    SELECT doc_id, 'F:stop:' || CAST(stop_e6 // 100000 AS VARCHAR) FROM s
    UNION ALL
    SELECT doc_id, 'F:digit:' || CAST(digit_e6 // 100000 AS VARCHAR) FROM s
),
fb AS (SELECT DISTINCT doc_id, {h} % {QC_B} AS b FROM fstr)"""


def _classifier_oracle_sql(train_pred: str = "TRUE") -> str:
    from ..functions import intlog

    tot_logs = intlog.ilog2_steps_sql(
        "tots",
        {"l_np": "np", "l_nn": "nn", "l_np2": "np + 2", "l_nn2": "nn + 2"},
        [],
    )
    mdl_logs = intlog.ilog2_steps_sql(
        "mdl0",
        {
            "l_dp1": "dp + 1",
            "l_nndn1": "nn - dn + 1",
            "l_dn1": "dn + 1",
            "l_npdp1": "np - dp + 1",
        },
        ["b"],
    )
    return f"""
WITH {_qc_feature_ctes(train_pred)},
tl AS (
    SELECT b, train_label FROM fb JOIN lab USING (doc_id)
    WHERE train_label IS NOT NULL
),
cnts AS (
    SELECT b,
           CAST(SUM(CASE WHEN train_label = 'pos' THEN 1 ELSE 0 END)
                AS BIGINT) AS dp,
           CAST(SUM(CASE WHEN train_label = 'neg' THEN 1 ELSE 0 END)
                AS BIGINT) AS dn
    FROM tl GROUP BY b
),
tots AS (
    SELECT CAST(COALESCE(SUM(CASE WHEN train_label = 'pos' THEN 1 ELSE 0
                             END), 0) AS BIGINT) AS np,
           CAST(COALESCE(SUM(CASE WHEN train_label = 'neg' THEN 1 ELSE 0
                             END), 0) AS BIGINT) AS nn
    FROM lab
),
totlogs AS (SELECT * FROM {tot_logs} _tl),
mdl0 AS (
    SELECT g.b, COALESCE(dp, 0) AS dp, COALESCE(dn, 0) AS dn, np, nn
    FROM (SELECT unnest(range(0, {QC_B})) AS b) g
    LEFT JOIN cnts USING (b)
    CROSS JOIN tots
),
mdl AS (
    SELECT b, l_dp1 + l_nndn1 - l_dn1 - l_npdp1 AS w,
           l_npdp1 + l_nn2 - l_nndn1 - l_np2 AS cterm
    FROM {mdl_logs} _ml CROSS JOIN totlogs
),
cconst AS (
    SELECT (SELECT l_np - l_nn FROM totlogs)
           + CAST(COALESCE(SUM(cterm), 0) AS BIGINT) AS c
    FROM mdl
),
per_doc AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
           CAST(SUM(w) AS BIGINT) AS sw
    FROM fb JOIN mdl USING (b) GROUP BY doc_id
)
SELECT d.doc_id, lab.train_label,
       CAST(COALESCE(n_feats, 0) AS BIGINT) AS n_feats,
       CAST(c + COALESCE(sw, 0) AS BIGINT) AS qc_llr_q16,
       (c + COALESCE(sw, 0)) > 0 AS predicted_high
FROM documents d
LEFT JOIN per_doc USING (doc_id)
LEFT JOIN lab USING (doc_id)
CROSS JOIN cconst
"""


# ------------------------------------------- Z-order layout (round 6)
ZORDER_BITS = 16  # per-dimension resolution of the Z-curve
ZORDER_FILES = 64  # target file count for the layout


def _zorder_interleave(bp: str, bs: str, div) -> str:
    """Bit-interleave two ZORDER_BITS-wide non-negative ints into one
    Z-value, as pure integer arithmetic (no engine-specific bit ops):
    bit i of ``bp`` lands at position 2i, of ``bs`` at 2i+1.  ``div``
    formats integer division for the target engine."""
    terms = []
    for i in range(ZORDER_BITS):
        terms.append(f"({div(bp, 1 << i)} % 2) * {1 << (2 * i)}")
        terms.append(f"({div(bs, 1 << i)} % 2) * {1 << (2 * i + 1)}")
    return " + ".join(terms)


def _zvalued(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem keys with their Morton z-value attached: min-max
    normalize each key to ZORDER_BITS bits against a broadcast one-row
    range aggregate, then interleave the bit planes with pure integer
    arithmetic — shared by the oracle-form ntile entry and the
    scale-safe range-partitioned writer, so the two layouts cluster on
    the IDENTICAL z-value."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    rng = li.agg(
        F.min("l_partkey").alias("p_lo"),
        F.max("l_partkey").alias("p_hi"),
        F.min("l_suppkey").alias("s_lo"),
        F.max("l_suppkey").alias("s_hi"),
    )
    top = (1 << ZORDER_BITS) - 1
    # greatest(span, 1): a degenerate single-value column maps everything
    # to bit-plane 0 instead of dividing by zero (ANSI throws on div/0)
    bp = f"div((l_partkey - p_lo) * {top}, greatest(p_hi - p_lo, 1))"
    bs = f"div((l_suppkey - s_lo) * {top}, greatest(s_hi - s_lo, 1))"
    zexpr = _zorder_interleave(bp, bs, lambda a, b: f"div({a}, {b})")
    return (
        li.join(F.broadcast(rng))
        .withColumn("zval", F.expr(zexpr))
        .drop("p_lo", "p_hi", "s_lo", "s_hi")
    )


def lineitem_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER layout optimization (the lakehouse ``OPTIMIZE ZORDER BY``
    primitive): cluster lineitem on the interleaved-bit Morton code of
    (l_partkey, l_suppkey) and emit the per-file min/max pruning stats a
    data-skipping scan would consult.  Output: one row per target file —
    (file_id, n_rows, p_min, p_max, s_min, s_max), the footer/manifest
    stats; tight per-file ranges on BOTH columns simultaneously is what
    Z-ordering buys (a single-column sort gives tight ranges on one
    column and full-domain ranges on the other — the clustering-gain
    pytest pins the comparison).

    Mechanics, identical in the oracle: each key is min-max normalized
    to ZORDER_BITS bits (exact integer ``div((k−min)·(2^b−1), max−min)``
    against a broadcast one-row range aggregate), the Z-value
    interleaves the bit planes via pure integer arithmetic (generated
    once, rendered for each engine's division operator — no engine
    bit-op intrinsics), and rows land in ZORDER_FILES equal-height
    buckets by ``ntile`` over the total (zval, l_orderkey,
    l_linenumber) order.

    Scale note: the exact global ntile is the ORACLE-reproducible
    stand-in — its window sorts the whole table in ONE task, which is a
    non-starter at 100 TB.  The writer a deployment runs is
    :func:`zorder_write_layout` (round 7, VERDICT r6 item 1):
    ``repartitionByRange(ZORDER_FILES, zval, …).sortWithinPartitions`` —
    sampled range boundaries instead of a single-partition window, same
    layout up to boundary sampling error; the stats aggregation and the
    skipping contract are unchanged and pinned against this entry by
    tests/test_quality.py::test_zorder_writer_matches_ntile_contract.
    Cited shape: Delta/Iceberg OPTIMIZE ZORDER; the reference pipeline
    has no layout maintenance at all (its marts are coalesce(1) parquet
    — SURVEY §2 S6)."""
    from pyspark.sql import Window

    # The tie-break must make the order TOTAL over every column the
    # stats aggregate: (l_orderkey, l_linenumber) is NOT unique in this
    # lake (see ROW_KEY), and two equal-zval rows with different keys
    # could otherwise swap files between engines. With (zval, orderkey,
    # linenumber, partkey, suppkey), any remaining ties are rows
    # identical in all aggregated columns — interchangeable for the
    # per-file min/max/count output, so ntile stays deterministic.
    w = Window.orderBy(
        "zval", "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    return (
        _zvalued(spark, sf_dir)
        .withColumn("file_id", F.ntile(ZORDER_FILES).over(w).cast("long"))
        .groupBy("file_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_partkey").alias("p_min"),
            F.max("l_partkey").alias("p_max"),
            F.min("l_suppkey").alias("s_min"),
            F.max("l_suppkey").alias("s_max"),
        )
        .orderBy("file_id")
    )


_ZORDER_SORT_COLS = [
    "zval", "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
]


def zorder_write_layout(
    spark: SparkSession, sf_dir: str, n_files: int = ZORDER_FILES
) -> DataFrame:
    """The SCALE-SAFE Z-order writer (round 7, VERDICT r6 item 1): the
    path a 100 TB OPTIMIZE job actually executes —
    ``repartitionByRange(n_files, zval, …)`` (one reservoir-sample pass
    picks the range boundaries; every task then receives and sorts only
    ITS file's rows) followed by ``sortWithinPartitions`` (rows inside
    each file land in z-order, so parquet row-group stats prune within
    files too).  No single-partition window anywhere: the plan is
    sample → shuffle → per-task sort, each stage fully parallel.

    Emits the identical per-file stats contract as the hash-gated ntile
    entry (file_id, n_rows, p_min, p_max, s_min, s_max; file_id = the
    range-partition id).  File BOUNDARIES differ from the exact
    equal-height ntile cut only by boundary-sampling error — the parity
    pytest pins the contract that matters for skipping: same file
    count, combined per-file span within tolerance of the ntile
    layout's, and point-range files-read still beating a single-column
    sort.  (Not a registry entry: sampled boundaries are
    Spark-internal, so there is no bit-exact cross-engine oracle — the
    ntile entry stays the oracle twin.)"""
    z = _zvalued(spark, sf_dir)
    return (
        z.repartitionByRange(n_files, *[F.col(c) for c in _ZORDER_SORT_COLS])
        .sortWithinPartitions(*_ZORDER_SORT_COLS)
        .select(
            F.spark_partition_id().cast("long").alias("file_id"),
            "l_partkey",
            "l_suppkey",
        )
        .groupBy("file_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_partkey").alias("p_min"),
            F.max("l_partkey").alias("p_max"),
            F.min("l_suppkey").alias("s_min"),
            F.max("l_suppkey").alias("s_max"),
        )
        .orderBy("file_id")
    )


def _zorder_oracle_sql() -> str:
    top = (1 << ZORDER_BITS) - 1
    bp = f"((l_partkey - p_lo) * {top} // GREATEST(p_hi - p_lo, 1))"
    bs = f"((l_suppkey - s_lo) * {top} // GREATEST(s_hi - s_lo, 1))"
    zexpr = _zorder_interleave(bp, bs, lambda a, b: f"({a} // {b})")
    return f"""
WITH rng AS (
    SELECT MIN(l_partkey) AS p_lo, MAX(l_partkey) AS p_hi,
           MIN(l_suppkey) AS s_lo, MAX(l_suppkey) AS s_hi
    FROM lineitem
),
z AS (
    SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
           {zexpr} AS zval
    FROM lineitem, rng
),
f AS (
    SELECT l_partkey, l_suppkey,
           CAST(NTILE({ZORDER_FILES}) OVER (
               ORDER BY zval, l_orderkey, l_linenumber, l_partkey, l_suppkey
           ) AS BIGINT) AS file_id
    FROM z
)
SELECT file_id, COUNT(*) AS n_rows,
       MIN(l_partkey) AS p_min, MAX(l_partkey) AS p_max,
       MIN(l_suppkey) AS s_min, MAX(l_suppkey) AS s_max
FROM f GROUP BY file_id ORDER BY file_id
"""


# --- Gopher quality rules (Rae et al. 2021, MassiveText filtering) --------

# The named heuristic ruleset real pipelines apply before any model-based
# filter (Gopher Appendix A; reused by MassiveText/RefinedWeb): word-count
# bounds, mean-word-length band, symbol-to-word ratio, bullet/ellipsis
# line fractions, alphabetic-word fraction, and required-stopword
# presence.  All thresholds are the paper's; every test is an exact
# integer cross-multiplication (no float ratios), so the hash gate is
# bit-stable.  One narrow scan, no shuffle — at 100 TB this runs as a
# scan-bound map exactly like quality_score.
GOPHER_REQ_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def quality_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Gopher rule evaluation: the measured features, one
    boolean per rule, and ``keep`` = all rules pass."""
    from ..sources.tables import load_table_spread

    req = ", ".join(f"'{w}'" for w in GOPHER_REQ_STOPWORDS)
    d = load_table_spread(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        "split(text, ' ') AS toks",
        "split(text, '\n') AS lines",
        "CAST(length(text) AS BIGINT) AS n_chars",
        "CAST(regexp_count(text, '#') + regexp_count(text, '\\\\.\\\\.\\\\.')"
        " + regexp_count(text, '…') AS BIGINT) AS n_sym",
    )
    f = d.selectExpr(
        "doc_id",
        "CAST(size(toks) AS BIGINT) AS n_words",
        # single-space separated: word chars = chars - (n_words - 1)
        "CAST(n_chars - (size(toks) - 1) AS BIGINT) AS n_word_chars",
        "CAST(size(filter(toks, t -> t rlike '[A-Za-z]')) AS BIGINT) AS n_alpha",
        f"CAST(size(array_intersect(array_distinct(transform(toks, "
        f"t -> lower(t))), array({req}))) AS BIGINT) AS n_req_stop",
        "CAST(size(lines) AS BIGINT) AS n_lines",
        "CAST(size(filter(lines, l -> l LIKE '- %' OR l LIKE '* %' OR "
        "l LIKE '•%')) AS BIGINT) AS n_bullet_lines",
        "CAST(size(filter(lines, l -> l LIKE '%...' OR l LIKE '%…')) "
        "AS BIGINT) AS n_ellipsis_lines",
        "n_sym",
    )
    return f.selectExpr(
        "doc_id",
        "n_words",
        "IF(n_words = 0, 0L, div(n_word_chars * 100, n_words)) AS mean_word_len_e2",
        "n_sym",
        "n_alpha",
        "n_req_stop",
        "n_words BETWEEN 50 AND 100000 AS r_word_count",
        "IF(n_words = 0, false, n_word_chars * 100 >= n_words * 300 AND "
        "n_word_chars * 100 <= n_words * 1000) AS r_mean_word_len",
        "n_sym * 10 <= n_words AS r_symbol_ratio",
        "n_bullet_lines * 10 < n_lines * 9 AS r_bullets",
        "n_ellipsis_lines * 10 < n_lines * 3 AS r_ellipsis",
        "n_alpha * 10 >= n_words * 8 AS r_alpha",
        "n_req_stop >= 2 AS r_stopwords",
    ).selectExpr(
        "*",
        "r_word_count AND r_mean_word_len AND r_symbol_ratio AND r_bullets "
        "AND r_ellipsis AND r_alpha AND r_stopwords AS keep",
    )


def _gopher_oracle_sql() -> str:
    req = ", ".join(f"'{w}'" for w in GOPHER_REQ_STOPWORDS)
    return f"""
WITH f AS (
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
           CAST(length(text) - (len(string_split(text, ' ')) - 1) AS BIGINT)
               AS n_word_chars,
           CAST(len(list_filter(string_split(text, ' '),
                t -> regexp_matches(t, '[A-Za-z]'))) AS BIGINT) AS n_alpha,
           CAST(len(list_intersect(list_distinct(list_transform(
                string_split(text, ' '), t -> lower(t))),
                [{req}])) AS BIGINT) AS n_req_stop,
           CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines,
           CAST(len(list_filter(string_split(text, chr(10)),
                l -> l LIKE '- %' OR l LIKE '* %' OR l LIKE '•%'))
                AS BIGINT) AS n_bullet_lines,
           CAST(len(list_filter(string_split(text, chr(10)),
                l -> l LIKE '%...' OR l LIKE '%…')) AS BIGINT)
                AS n_ellipsis_lines,
           CAST(len(regexp_extract_all(text, '#'))
                + len(regexp_extract_all(text, '\\.\\.\\.'))
                + len(regexp_extract_all(text, '…')) AS BIGINT) AS n_sym
    FROM documents
),
r AS (
    SELECT doc_id, n_words,
           CASE WHEN n_words = 0 THEN 0
                ELSE (n_word_chars * 100) // n_words END AS mean_word_len_e2,
           n_sym, n_alpha, n_req_stop,
           n_words BETWEEN 50 AND 100000 AS r_word_count,
           CASE WHEN n_words = 0 THEN false
                ELSE n_word_chars * 100 >= n_words * 300
                     AND n_word_chars * 100 <= n_words * 1000
           END AS r_mean_word_len,
           n_sym * 10 <= n_words AS r_symbol_ratio,
           n_bullet_lines * 10 < n_lines * 9 AS r_bullets,
           n_ellipsis_lines * 10 < n_lines * 3 AS r_ellipsis,
           n_alpha * 10 >= n_words * 8 AS r_alpha,
           n_req_stop >= 2 AS r_stopwords
    FROM f
)
SELECT *, r_word_count AND r_mean_word_len AND r_symbol_ratio AND r_bullets
          AND r_ellipsis AND r_alpha AND r_stopwords AS keep
FROM r
"""


# --- n-gram LM perplexity filter (CCNet / RedPajama shape) ----------------

# Real training-data pipelines (CCNet: Wenzek et al. 2020; RedPajama)
# filter documents on the perplexity of an n-gram LM trained on a
# reference corpus, then bucket into head/middle/tail by perplexity
# terciles.  This is that shape in hash-gatable exact-integer form: a
# word-bigram model with Laplace smoothing, trained on the stride-0
# subset, scoring every other document by its MEAN INVERSE smoothed
# bigram probability in e6 fixed point — the log-free rational surrogate
# of perplexity (perplexity is the GEOMETRIC mean of 1/p; the arithmetic
# mean is its exact-integer order-preserving stand-in for banding — a
# float log/exp would diverge between engines in the last ulp and break
# the hash gate; a deployment swaps the scoring expression for log-space
# floats and keeps the identical plan shape).
PPLX_TRAIN_STRIDE = 3  # doc_id % 3 == 0 trains the LM; the rest are scored
PPLX_BANDS = 3  # head / middle / tail


def _lm_scored(
    spark: SparkSession, sf_dir: str, terms, n_col: str, score_col: str
) -> DataFrame:
    """The train/scored split and per-doc tail the two LM families
    share: ``terms(train, scored)`` fits the model on the stride-0
    documents and returns one ``(doc_id, term_e6)`` row per scored
    n-gram; the result is ``(doc_id, n_col, score_col)``, the n-gram
    count and the floored mean term per non-training document."""
    from ..sources.tables import load_table_spread

    d = load_table_spread(spark, sf_dir, "documents").select("doc_id", "text")
    train = d.where(F.col("doc_id") % PPLX_TRAIN_STRIDE == 0)
    scored = d.where(F.col("doc_id") % PPLX_TRAIN_STRIDE != 0)
    per_doc = terms(train, scored).groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias(n_col),
        F.sum("term_e6").alias("_sum"),
    )
    return per_doc.select(
        "doc_id",
        n_col,
        F.expr(f"div(_sum, {n_col})").alias(score_col),
    )


def _perplexity_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared scoring pipeline of the two perplexity entries: (doc_id,
    n_bigrams, pplx_e6) over the non-training documents.

    Plan: two training-side aggregations (bigram counts keyed on the
    pair, unigram counts keyed on the token — both hash-partitioned
    with map-side partial agg), the scored corpus's bigram occurrence
    rows through two equi-joins on those keys (strategy left to AQE —
    at 100 TB the model tables are corpus-vocabulary-sized and the
    joins stay hash-partitioned; on small reference corpora AQE
    broadcasts them), and one (doc_id) partial-agg.

    Per-term arithmetic: ``term_e6 = ((c1 + V) * 1e6) // (c12 + 1)``
    — the inverse Laplace-smoothed probability of the observed bigram;
    unseen contexts score V·1e6 (maximal surprise).  int64 headroom:
    terms are bounded by (|train tokens| + V)·1e6; at corpora where
    that nears 2^63/doc_len, drop the e6 scale or widen to decimal."""
    from ..functions import texts

    def terms(train: DataFrame, scored: DataFrame) -> DataFrame:
        big_counts = (
            texts.shingle_frame(train, 2, dedup=False)
            .groupBy("g")
            .agg(F.count(F.lit(1)).alias("c12"))
        )
        uni_counts = (
            train.select(F.explode(texts.tokens(F.col("text"))).alias("w1"))
            .groupBy("w1")
            .agg(F.count(F.lit(1)).alias("c1"))
        )
        vocab = uni_counts.agg(F.count(F.lit(1)).cast("long").alias("v"))

        occ = texts.shingle_frame(scored, 2, dedup=False).select(
            "doc_id", "g", F.split("g", " ").getItem(0).alias("w1")
        )
        return (
            occ.join(big_counts, "g", "left")
            .join(uni_counts, "w1", "left")
            .crossJoin(F.broadcast(vocab))
            .select(
                "doc_id",
                F.expr(
                    "div((coalesce(c1, 0L) + v) * 1000000, coalesce(c12, 0L) + 1)"
                ).alias("term_e6"),
            )
        )

    return _lm_scored(spark, sf_dir, terms, "n_bigrams", "pplx_e6")


def _band_cols(nt: Column) -> list[Column]:
    """The shared (band, keep) projection of a tercile number."""
    return [
        F.when(nt == 1, F.lit("head"))
        .when(nt == 2, F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("band"),
        (nt < PPLX_BANDS).alias("keep"),
    ]


def _ntile_banded(scored: DataFrame, *order: Column) -> DataFrame:
    """The oracle-twin tercile banding of a scored LM frame: one global
    ``ntile`` window in ``order`` (every row in one window partition —
    cross-engine reproducible, not the shape to run at scale)."""
    from pyspark.sql import Window

    return scored.withColumn(
        "_nt", F.ntile(PPLX_BANDS).over(Window.orderBy(*order))
    ).select(*scored.columns, *_band_cols(F.col("_nt")))


def _rank_banded(scored: DataFrame, *order: Column) -> DataFrame:
    """The scale-safe twin of :func:`_ntile_banded`: the same terciles
    from the exact two-pass distributed rank (``ranks.global_ranked``)
    and per-row ntile arithmetic, with no empty-partitionBy window."""
    from ..functions import ranks

    ranked, n = ranks.global_ranked(scored, list(order))
    return ranked.select(
        *scored.columns, *_band_cols(ranks.ntile_expr(n, PPLX_BANDS))
    )


def quality_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM fluency filter: (doc_id, n_bigrams, pplx_e6, band,
    keep) over the non-training documents — the ORACLE-TWIN form whose
    tercile banding is a literal global ntile (rows = |scored docs| in
    one window partition; cross-engine reproducible but NOT the shape
    to run at scale — :func:`quality_perplexity_banded` is, and its
    parity with this entry is pinned by
    tests/test_quality.py::test_perplexity_banded_matches_ntile_twin)."""
    return _ntile_banded(
        _perplexity_scored(spark, sf_dir), F.asc("pplx_e6"), F.asc("doc_id")
    )


def quality_perplexity_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE-SAFE perplexity banding (round 10, VERDICT r9 item 1):
    identical output contract (and DuckDB oracle) as
    :func:`quality_perplexity`, but the terciles come from an exact
    two-pass distributed global rank (``functions/ranks.py``: range
    exchange + bounded per-slice-count collect + per-slice row_number)
    and per-row ntile arithmetic evaluated in the scan — NO
    empty-partitionBy window, so no task ever sorts more than one range
    slice.  At 100 TB this is the plan you run; the ntile entry stays
    as the oracle twin, the same split :func:`zorder_write_layout` /
    :func:`lineitem_zorder_layout` use."""
    return _rank_banded(
        _perplexity_scored(spark, sf_dir), F.asc("pplx_e6"), F.asc("doc_id")
    )


def _perplexity_oracle_sql() -> str:
    return f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
train_big AS (
    SELECT t[i] || ' ' || t[i+1] AS g, COUNT(*) AS c12
    FROM toks, unnest(range(1, len(t))) AS u(i)
    WHERE doc_id % {PPLX_TRAIN_STRIDE} = 0
    GROUP BY 1
),
train_uni AS (
    SELECT w1, COUNT(*) AS c1 FROM (
        SELECT unnest(t) AS w1 FROM toks
        WHERE doc_id % {PPLX_TRAIN_STRIDE} = 0
    ) GROUP BY w1
),
vocab AS (SELECT COUNT(*) AS v FROM train_uni),
occ AS (
    SELECT doc_id, t[i] || ' ' || t[i+1] AS g, t[i] AS w1
    FROM toks, unnest(range(1, len(t))) AS u(i)
    WHERE doc_id % {PPLX_TRAIN_STRIDE} <> 0
),
per_doc AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           SUM(((COALESCE(c1, 0) + v) * 1000000) // (COALESCE(c12, 0) + 1))
               AS _sum
    FROM occ
    LEFT JOIN train_big USING (g)
    LEFT JOIN train_uni USING (w1)
    CROSS JOIN vocab
    GROUP BY doc_id
),
banded AS (
    SELECT doc_id, n_bigrams, _sum // n_bigrams AS pplx_e6,
           ntile({PPLX_BANDS}) OVER (ORDER BY _sum // n_bigrams, doc_id) AS nt
    FROM per_doc
)
SELECT doc_id, n_bigrams, CAST(pplx_e6 AS BIGINT) AS pplx_e6,
       CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS band,
       nt < {PPLX_BANDS} AS keep
FROM banded
"""


# --- stupid-backoff trigram LM (Brants et al. 2007) -----------------------

# "Large Language Models in Machine Translation" — the distributed
# n-gram LM: no discounting, no normalization, just relative frequency
# with a fixed backoff factor α = 0.4 per level.  α is rational, so the
# whole score stays in exact e6 fixed point: trigram hit → c123·1e6/c12;
# bigram backoff → c23·400000/c2; unigram backoff → c3·160000/N (0.4²).
# The paper's point — scores need not be probabilities to rank well —
# is exactly what makes the shape hash-gatable where Kneser-Ney's
# float discounts are not.
SB_ALPHA_E6 = 400_000  # α = 0.4
SB_ALPHA2_E6 = 160_000  # α² = 0.16


def _backoff_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared scoring pipeline of the two stupid-backoff entries:
    (doc_id, n_trigrams, fluency_e6) over the non-training documents.

    Plan: three training-side aggregations (trigram / bigram / unigram
    counts, all hash-partitioned with partial agg, plus the 1-row token
    total), the scored corpus's trigram occurrence rows through five
    equi-joins on those keys (model tables are train-vocabulary-sized;
    AQE broadcasts them on small reference corpora, hash elsewhere),
    and one doc_id partial-agg."""
    from ..functions import texts

    def grams(frame, k, out):
        return texts.shingle_frame(frame, k, out=out, dedup=False)

    def terms(train: DataFrame, scored: DataFrame) -> DataFrame:
        tri = grams(train, 3, "g3").groupBy("g3").agg(
            F.count(F.lit(1)).alias("c123")
        )
        big = grams(train, 2, "g2").groupBy("g2").agg(
            F.count(F.lit(1)).alias("cb")
        )
        uni = (
            train.select(F.explode(texts.tokens(F.col("text"))).alias("w"))
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("cu"))
        )
        totals = uni.agg(F.sum("cu").cast("long").alias("n_train"))

        occ = grams(scored, 3, "g3").select(
            "doc_id",
            "g3",
            F.concat_ws(
                " ",
                F.split("g3", " ").getItem(0),
                F.split("g3", " ").getItem(1),
            ).alias("g12"),
            F.concat_ws(
                " ",
                F.split("g3", " ").getItem(1),
                F.split("g3", " ").getItem(2),
            ).alias("g23"),
            F.split("g3", " ").getItem(1).alias("w2"),
            F.split("g3", " ").getItem(2).alias("w3"),
        )
        return (
            occ.join(tri, "g3", "left")
            .join(big.select(F.col("g2").alias("g12"), F.col("cb").alias("c12")), "g12", "left")
            .join(big.select(F.col("g2").alias("g23"), F.col("cb").alias("c23")), "g23", "left")
            .join(uni.select(F.col("w").alias("w2"), F.col("cu").alias("c2")), "w2", "left")
            .join(uni.select(F.col("w").alias("w3"), F.col("cu").alias("c3")), "w3", "left")
            .crossJoin(F.broadcast(totals))
            .select(
                "doc_id",
                F.expr(
                    "CASE WHEN coalesce(c123, 0L) > 0"
                    " THEN div(c123 * 1000000, c12)"
                    f" WHEN coalesce(c23, 0L) > 0 THEN div(c23 * {SB_ALPHA_E6}, c2)"
                    f" ELSE div(coalesce(c3, 0L) * {SB_ALPHA2_E6}, n_train) END"
                ).alias("term_e6"),
            )
        )

    return _lm_scored(spark, sf_dir, terms, "n_trigrams", "fluency_e6")


def quality_stupid_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigram stupid-backoff fluency: (doc_id, n_trigrams, fluency_e6,
    band, keep) over the non-training documents — the trigram
    complement of :func:`quality_perplexity` (same stride split, same
    tercile banding; here HIGH score = fluent, so the tail band is the
    LOWEST tercile).  Like that entry this is the ORACLE-TWIN form (one
    global ntile window); the scale path is
    :func:`quality_backoff_banded`, parity-pinned by
    tests/test_quality.py::test_backoff_banded_matches_ntile_twin."""
    return _ntile_banded(
        _backoff_scored(spark, sf_dir), F.desc("fluency_e6"), F.asc("doc_id")
    )


def quality_backoff_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCALE-SAFE stupid-backoff banding (round 10, VERDICT r9
    item 1): same output contract and DuckDB oracle as
    :func:`quality_stupid_backoff`, terciles from the exact two-pass
    distributed rank (``functions/ranks.py``) instead of the
    single-partition ntile window — see
    :func:`quality_perplexity_banded` for the plan argument."""
    return _rank_banded(
        _backoff_scored(spark, sf_dir), F.desc("fluency_e6"), F.asc("doc_id")
    )


def _stupid_backoff_oracle_sql() -> str:
    return f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
tri AS (
    SELECT t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g3, COUNT(*) AS c123
    FROM toks, unnest(range(1, len(t) - 1)) AS u(i)
    WHERE doc_id % {PPLX_TRAIN_STRIDE} = 0
    GROUP BY 1
),
big AS (
    SELECT t[i] || ' ' || t[i+1] AS g2, COUNT(*) AS cb
    FROM toks, unnest(range(1, len(t))) AS u(i)
    WHERE doc_id % {PPLX_TRAIN_STRIDE} = 0
    GROUP BY 1
),
uni AS (
    SELECT w, COUNT(*) AS cu FROM (
        SELECT unnest(t) AS w FROM toks
        WHERE doc_id % {PPLX_TRAIN_STRIDE} = 0
    ) GROUP BY w
),
totals AS (SELECT CAST(SUM(cu) AS BIGINT) AS n_train FROM uni),
occ AS (
    SELECT doc_id,
           t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g3,
           t[i] || ' ' || t[i+1] AS g12,
           t[i+1] || ' ' || t[i+2] AS g23,
           t[i+1] AS w2, t[i+2] AS w3
    FROM toks, unnest(range(1, len(t) - 1)) AS u(i)
    WHERE doc_id % {PPLX_TRAIN_STRIDE} <> 0
),
terms AS (
    SELECT o.doc_id,
           CASE WHEN COALESCE(tr.c123, 0) > 0
                THEN (tr.c123 * 1000000) // b12.cb
                WHEN COALESCE(b23.cb, 0) > 0
                THEN (b23.cb * {SB_ALPHA_E6}) // u2.cu
                ELSE (COALESCE(u3.cu, 0) * {SB_ALPHA2_E6}) // n_train
           END AS term_e6
    FROM occ o
    LEFT JOIN tri tr ON tr.g3 = o.g3
    LEFT JOIN big b12 ON b12.g2 = o.g12
    LEFT JOIN big b23 ON b23.g2 = o.g23
    LEFT JOIN uni u2 ON u2.w = o.w2
    LEFT JOIN uni u3 ON u3.w = o.w3
    CROSS JOIN totals
),
per_doc AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_trigrams,
           SUM(term_e6) AS _sum
    FROM terms GROUP BY doc_id
),
banded AS (
    SELECT doc_id, n_trigrams, _sum // n_trigrams AS fluency_e6,
           ntile({PPLX_BANDS}) OVER (
               ORDER BY _sum // n_trigrams DESC, doc_id ASC) AS nt
    FROM per_doc
)
SELECT doc_id, n_trigrams, CAST(fluency_e6 AS BIGINT) AS fluency_e6,
       CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS band,
       nt < {PPLX_BANDS} AS keep
FROM banded
"""


QUERIES = {
    "dq_lineitem": dq_lineitem,
    "events_json_variant": events_json_variant,
    "quality_score": quality_score,
    "quality_classifier_scored": quality_classifier_scored,
    "quality_lr_scored": quality_lr_scored,
    "quality_pr_sweep": quality_pr_sweep,
    "quality_perplexity": quality_perplexity,
    "quality_perplexity_banded": quality_perplexity_banded,
    "quality_gopher_rules": quality_gopher_rules,
    "quality_stupid_backoff": quality_stupid_backoff,
    "quality_backoff_banded": quality_backoff_banded,
    "lineitem_snapshot_diff": lineitem_snapshot_diff,
    "lineitem_snapshot_apply": lineitem_snapshot_apply,
    "lineitem_zorder_layout": lineitem_zorder_layout,
}

ORACLE_SQL = {
    "dq_lineitem": _dq_oracle_sql(),
    # identical oracle to events_json — the APIs must agree.
    "events_json_variant": """
        SELECT event_type, COUNT(*) AS n_events,
               CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
               MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_min,
               MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max
        FROM events GROUP BY event_type
    """,
    "quality_score": _quality_score_oracle_sql(),
    "quality_classifier_scored": _classifier_oracle_sql(),
    "quality_lr_scored": _lr_oracle_sql(),
    "quality_pr_sweep": _pr_sweep_oracle_sql(),
    "quality_perplexity": _perplexity_oracle_sql(),
    # bit-identical by construction (exact rank = exact ntile): the
    # banded scale path shares the ntile twin's oracle verbatim.
    "quality_perplexity_banded": _perplexity_oracle_sql(),
    "quality_gopher_rules": _gopher_oracle_sql(),
    "quality_stupid_backoff": _stupid_backoff_oracle_sql(),
    "quality_backoff_banded": _stupid_backoff_oracle_sql(),
    "lineitem_snapshot_diff": _snapshot_diff_oracle_sql(),
    "lineitem_snapshot_apply": _snapshot_apply_oracle_sql(),
    "lineitem_zorder_layout": _zorder_oracle_sql(),
}
