"""Mergeable-summary analytics: the four canonical sketches, each with
its merge law — Misra-Gries (heavy hitters, truncating-union merge),
HyperLogLog (distinct counts, register-MAX merge), Count-Min (point
frequencies, counter-SUM merge), and Bloom (set membership, bitwise-OR
merge) — plus the persisted-index and runtime-filter patterns built on
them.  The HLL/CMS/Bloom merge laws are proved IN-ENGINE: the Spark
side composes day-grain summaries to the month grid with the sketch's
merge operator while the DuckDB oracle sketches the month directly, so
the driver's hash gate passes iff the merge law holds.  MG's merge is
not idempotent-to-direct (the algebra, not the implementation), so its
month entry (``events_heavy_hitters_monthly``) instead hash-gates the
truncating-union computation itself and carries the merge's
deterministic error bracket — n_true − slack ≤ est ≤ n_true — as
output columns, with the bracket/superset guarantees pytest-pinned.

Extension surface (the reference — Martin-JMP F1/Weather — has no
frequency-sketch analytics; its only "top" queries are full groupBy +
sort). These are the operators a 100 TB pipeline needs when the key
cardinality itself is the problem: a summary of FIXED size regardless
of data volume, combinable across partitions/days/clusters without
re-reading raw data.

The rest of this docstring details the Misra-Gries entry:
"which user_ids account for more than 1/(C+1) of all traffic" over a
key domain with billions of distinct values, where a full
``groupBy(key).count()`` shuffle materializes one row per distinct key.

Two passes, both scale-bounded:

1. **Candidate generation** — a Misra-Gries summary of capacity ``C``
   per input partition (Arrow-batched ``mapInPandas``; the summary dict
   lives across the partition's batches, updates are vectorized
   ``value_counts`` merges).  The MG merge bound (Agarwal et al.,
   "Mergeable Summaries", PODS'12): a summary of capacity C undercounts
   any key by at most n_p/(C+1) of the n_p rows it summarized, and
   merging summaries adds the bounds.  So any key with TOTAL count
   > N/(C+1) survives in at least one partition summary — the union of
   the per-partition summaries is a superset of the true heavy hitters.
   Output is ≤ C rows per partition regardless of data size — the
   shuffle after this pass carries sketch rows, not data rows.
2. **Exact verify** — broadcast-semi-join the candidate set back onto
   the fact table and count exactly; partial aggregation means the heavy
   keys (which is all of them, by construction) combine map-side, so the
   final shuffle is ≤ |candidates| rows.  Filter ``cnt * (C+1) > N``
   with N as an in-plan one-row aggregate (no driver-side count).

The emitted result is therefore EXACT — identical to the oracle's
``GROUP BY key HAVING cnt*(C+1) > N`` — while the plan never shuffles
more than O(C × partitions) sketch rows plus one map-combined count.
At sf0.01 the 150-user key domain fits inside one summary (the sketch
never decrements); tests/test_sketch.py pins the interesting regime —
capacity ≪ distinct keys on a skewed synthetic frame — against exact
counts, plus the superset guarantee property.
"""

from __future__ import annotations

import os
from typing import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from ..functions import snapshots, texts
from ..sources.tables import load_table
from .events import load_events

MG_CAPACITY = 128  # C: summary size; guarantee threshold is N/(C+1)


def _mg_merge(counters: dict, batch: pd.Series, capacity: int) -> dict:
    """Merge a batch's value counts into a Misra-Gries summary of the
    given capacity: add counts, and if the summary overflows, subtract
    the (capacity+1)-th largest count from every key and drop the keys
    that hit zero (the standard mergeable-summaries step — equivalent to
    running the decrement rule once per subtracted unit)."""
    for key, cnt in batch.value_counts().items():
        counters[key] = counters.get(key, 0) + int(cnt)
    if len(counters) > capacity:
        cut = sorted(counters.values(), reverse=True)[capacity]
        counters = {k: v - cut for k, v in counters.items() if v > cut}
    return counters


def _mg_partition(
    it: Iterator[pd.DataFrame], capacity: int
) -> Iterator[pd.DataFrame]:
    """Per-partition MG sketch over the single ``key`` column; emits the
    surviving candidate keys (≤ capacity rows) once the partition's
    batches are exhausted."""
    counters: dict = {}
    for pdf in it:
        counters = _mg_merge(counters, pdf["key"], capacity)
    yield pd.DataFrame({"key": pd.Series(list(counters), dtype="int64")})


def mg_candidates(df: DataFrame, key: str, capacity: int) -> DataFrame:
    """Distinct union of the per-partition Misra-Gries summaries for
    ``df[key]`` — a superset of every key with total count
    > N/(capacity+1), in ≤ capacity × num_partitions rows."""
    keyed = df.select(F.col(key).alias("key"))
    cand = keyed.mapInPandas(
        lambda it: _mg_partition(it, capacity), "key bigint"
    )
    return cand.distinct().select(F.col("key").alias(key))


def events_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users contributing > 1/(C+1) of all events, computed exactly via
    the two-pass MG sketch (module docstring). Output: (user_id,
    n_events) for each heavy hitter, heaviest first."""
    e = load_events(spark, sf_dir).select("user_id")
    cand = mg_candidates(e, "user_id", MG_CAPACITY)
    n_total = e.agg(F.count(F.lit(1)).alias("n_total"))
    exact = (
        e.join(F.broadcast(cand), "user_id", "left_semi")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    return (
        exact.crossJoin(F.broadcast(n_total))
        .where(F.col("n_events") * (MG_CAPACITY + 1) > F.col("n_total"))
        .select("user_id", "n_events")
        .orderBy(F.desc("n_events"), F.asc("user_id"))
    )


_HH_ORACLE = f"""
WITH tot AS (SELECT COUNT(*) AS n_total FROM events)
SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
FROM events
GROUP BY user_id
HAVING COUNT(*) * {MG_CAPACITY + 1} > (SELECT n_total FROM tot)
ORDER BY n_events DESC, user_id ASC
"""


# ------------------------------------- Misra-Gries month merge (round 7)
# Smaller capacity than the exact-verify entry so the truncations are
# REAL at test scale (the ~150-user domain exceeds C and both truncation
# steps subtract nonzero thresholds).
MG_MONTHLY_CAPACITY = 32


def events_heavy_hitters_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-grain Misra-Gries summaries by MERGING daily MG summaries
    with the truncating union (Agarwal et al., "Mergeable Summaries",
    PODS'12: add counters keyed by item, subtract the (C+1)-th largest
    merged value, keep positive) — the fourth and last merge law made
    hash-visible in-engine, with one honest difference in KIND from the
    HLL/CMS/Bloom proofs:

    MG merge is NOT idempotent-to-direct — the merged summary is a
    different (still error-bounded) object than sketching the month in
    one pass, so "oracle sketches directly, hash gate = merge law" is
    unavailable by the algebra itself, not by implementation weakness.
    What IS deterministic, and what this entry makes the oracle
    replicate bit-exactly and the output witness row-by-row, is the
    merge's ERROR CONTRACT: each truncation subtracts its threshold
    from every count it keeps, so

        n_true − slack  ≤  mg_est  ≤  n_true,
        slack = Σ_days t_d + t_month

    where t_d is the (C+1)-th largest per-day count (0 when the day has
    ≤ C keys) and t_month the (C+1)-th largest merged value. The
    ``slack`` column carries that bracket into the hash-gated result;
    tests/test_sketch.py pins the bracket, the ≤ C summary size at both
    grains, and the heavy-hitter superset guarantee (every user with
    month count > slack survives the merge).

    Day summaries are the canonical OFFLINE MG summary (exact per-day
    counts minus the day threshold) — the order-free normal form every
    arrival-order MG run error-dominates, which is what a production
    pipeline persists per ingest day (≤ C rows/day, the whole point:
    the month merge shuffles ≤ C × days sketch rows, never data rows).

    100 TB shape: one (day, user) partial-agg shuffle (the same frame
    the DAU entries build), a per-day window on that grain for t_d, and
    everything after operates on ≤ C-row-per-day summaries. Ties at the
    threshold use the value at row C+1 under (count DESC, user ASC) —
    a pure order statistic, identical in both engines.
    """
    return _mg_monthly_of(load_events(spark, sf_dir))


def _mg_monthly_of(events_df: DataFrame) -> DataFrame:
    """Frame-level core of :func:`events_heavy_hitters_monthly` — also
    driven by the synthetic truncation-regime pytest."""
    from .events import MONTH_DAYS_US

    C = MG_MONTHLY_CAPACITY
    day_us = F.unix_micros("ts") - F.unix_micros("ts") % (24 * 3600 * 1_000_000)
    per_day = (
        events_df
        .groupBy(day_us.alias("day_us"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wd = Window.partitionBy("day_us").orderBy(F.desc("n"), F.asc("user_id"))
    ranked = per_day.withColumn("rk", F.row_number().over(wd))
    dthr = ranked.groupBy("day_us").agg(
        F.max(F.when(F.col("rk") == C + 1, F.col("n")).otherwise(0)).alias("t")
    )
    dsum = (
        per_day.join(dthr, "day_us")
        .withColumn("c", F.col("n") - F.col("t"))
        .where(F.col("c") > 0)
        .select("day_us", "user_id", "c")
    )
    month_of = lambda c: F.col(c) - F.col(c) % F.lit(MONTH_DAYS_US)  # noqa: E731
    merged = (
        dsum.groupBy(month_of("day_us").alias("month_us"), F.col("user_id"))
        .agg(F.sum("c").alias("s"))
    )
    wm = Window.partitionBy("month_us").orderBy(F.desc("s"), F.asc("user_id"))
    mthr = (
        merged.withColumn("rk", F.row_number().over(wm))
        .groupBy("month_us")
        .agg(
            F.max(
                F.when(F.col("rk") == C + 1, F.col("s")).otherwise(F.lit(0).cast("long"))
            ).alias("tm")
        )
    )
    slack_d = dthr.groupBy(month_of("day_us").alias("month_us")).agg(
        F.sum("t").alias("td")
    )
    # month truth = SUM of the per-day counts (the day grid divides the
    # 30-day month grid, both floored from epoch 0) — reuses per_day
    truth = (
        per_day.groupBy(month_of("day_us").alias("month_us"), F.col("user_id"))
        .agg(F.sum("n").alias("n_true"))
    )
    return (
        merged.join(F.broadcast(mthr), "month_us")
        .withColumn("mg_est", F.col("s") - F.col("tm"))
        .where(F.col("mg_est") > 0)
        .join(F.broadcast(slack_d), "month_us")
        .withColumn("slack", F.col("td") + F.col("tm"))
        .join(truth, ["month_us", "user_id"])
        .select("month_us", "user_id", "mg_est", "n_true", "slack")
        .orderBy("month_us", "user_id")
    )


def _mg_monthly_oracle_sql() -> str:
    from .events import MONTH_DAYS_US

    C = MG_MONTHLY_CAPACITY
    return f"""
WITH per_day AS (
    SELECT epoch_us(ts) - epoch_us(ts) % {24 * 3600 * 1_000_000} AS day_us,
           user_id, COUNT(*) AS n
    FROM events GROUP BY 1, 2
),
ranked AS (
    SELECT day_us, user_id, n,
           row_number() OVER (PARTITION BY day_us
                              ORDER BY n DESC, user_id ASC) AS rk
    FROM per_day
),
dthr AS (
    SELECT day_us, MAX(CASE WHEN rk = {C + 1} THEN n ELSE 0 END) AS t
    FROM ranked GROUP BY day_us
),
dsum AS (
    SELECT p.day_us, p.user_id, p.n - d.t AS c
    FROM per_day p JOIN dthr d USING (day_us)
    WHERE p.n - d.t > 0
),
merged AS (
    SELECT day_us - day_us % {MONTH_DAYS_US} AS month_us, user_id,
           SUM(c) AS s
    FROM dsum GROUP BY 1, 2
),
mrank AS (
    SELECT month_us, user_id, s,
           row_number() OVER (PARTITION BY month_us
                              ORDER BY s DESC, user_id ASC) AS rk
    FROM merged
),
mthr AS (
    SELECT month_us, MAX(CASE WHEN rk = {C + 1} THEN s ELSE 0 END) AS tm
    FROM mrank GROUP BY month_us
),
slack_d AS (
    SELECT day_us - day_us % {MONTH_DAYS_US} AS month_us, SUM(t) AS td
    FROM dthr GROUP BY 1
),
truth AS (
    SELECT day_us - day_us % {MONTH_DAYS_US} AS month_us,
           user_id, SUM(n) AS n_true
    FROM per_day GROUP BY 1, 2
)
SELECT m.month_us, m.user_id,
       CAST(m.s - h.tm AS BIGINT) AS mg_est,
       CAST(t.n_true AS BIGINT) AS n_true,
       CAST(sd.td + h.tm AS BIGINT) AS slack
FROM merged m
JOIN mthr h USING (month_us)
JOIN slack_d sd USING (month_us)
JOIN truth t ON t.month_us = m.month_us AND t.user_id = m.user_id
WHERE m.s - h.tm > 0
ORDER BY m.month_us, m.user_id
"""


# --------------------------------------------------- HyperLogLog (round 5)

HLL_P = 9  # register-index bits
HLL_M = 1 << HLL_P  # 512 registers
HLL_W_BITS = 32 - HLL_P  # 23-bit rank field; max rho = 24
# alpha_m · m² for m=512 (Flajolet et al. 2007: alpha_m =
# 0.7213/(1 + 1.079/m) = 0.719783…), pre-rounded to ONE integer literal
# so both engines divide the identical numerator: round(0.719783… · 512²)
# = round(188675.27). The ~1.4e-6 relative truncation is far below the
# sketch's own 1.04/√m ≈ 4.6% standard error.
HLL_ALPHA_M2 = 188_675
# numerator of the raw estimator with the 2^24 register scaling folded in
HLL_RAW_NUM = HLL_ALPHA_M2 * (1 << (HLL_W_BITS + 1))


def events_dau_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day HyperLogLog registers + raw estimator for distinct users —
    the mergeable-sketch answer to COUNT(DISTINCT) at 100 TB, where the
    exact per-day distinct (``events_dau_mau`` / ``stream_dau``) costs a
    shuffle of every (user, day) pair and this costs a shuffle of ≤ m=512
    register rows per day, mergeable across partitions/days/clusters by
    register-wise MAX (tests/test_sketch.py pins the merge law).

    Register pipeline (Flajolet-Fuss-Gandouet-Meunier 2007), all
    exact-integer so the DuckDB oracle hashes identically: h = 32-bit
    md5 hash of the user id; register index = h mod m (low p bits); the
    remaining w = h div m is a 23-bit rank field with
    rho = 24 − bitlength(w) (rho = 24 when w = 0 — ``bin()`` string
    length is the cross-engine bitlength; both engines render minimal
    binary). Per (day, register): M = max(rho). The indicator sum
    Z = Σ_j 2^(−M_j) is held scaled by 2^24 (every term integer, total
    < 2^33 — exact), absent registers contributing the full 2^24; the
    raw estimate is one integer division
    ``div(alpha_m·m²·2^24, Z_scaled)`` with the numerator a precomputed
    literal. The small-range flag marks days where the standard
    linear-counting correction applies (raw ≤ 5m/2 and empty registers
    exist); the correction itself (m·ln(m/V)) is a driver-side scalar
    postprocess on the day-grain result — ln is TRANSCENDENTAL and not
    bit-reproducible across engines, so it stays OUT of the hash-checked
    surface (the pytest twin applies it in Python and pins the corrected
    estimate within tolerance of the exact DAU).
    """
    return (
        _hll_estimate(_daily_registers(spark, sf_dir), "day_us")
        .orderBy("day_us")
    )


def _daily_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-grain HLL register frame (day_us, reg, m_reg) — the persisted
    sketch a production pipeline stores; the day entry, the month merge,
    and the incremental index twins all derive from `_registers_of`."""
    return _registers_of(load_events(spark, sf_dir))


def _hll_estimate(regs: DataFrame, grain: str) -> DataFrame:
    """(grain, reg, m_reg) → (grain, n_zero_regs, z_scaled, hll_raw,
    small_range): the FFGM raw estimator over any register frame."""
    per = regs.groupBy(grain).agg(
        F.count(F.lit(1)).alias("n_present"),
        F.sum(
            F.expr(f"cast(pow(2, {HLL_W_BITS + 1} - m_reg) as long)")
        ).alias("z_present"),
    )
    z_scaled = (
        F.col("z_present")
        + (F.lit(HLL_M) - F.col("n_present")) * F.lit(1 << (HLL_W_BITS + 1))
    )
    raw = F.expr(f"div({HLL_RAW_NUM}, z_scaled)")
    return per.select(
        grain,
        (F.lit(HLL_M) - F.col("n_present")).alias("n_zero_regs"),
        z_scaled.alias("z_scaled"),
    ).select(
        grain,
        "n_zero_regs",
        "z_scaled",
        raw.alias("hll_raw"),
        (
            (raw * 2 <= F.lit(5 * HLL_M)) & (F.col("n_zero_regs") > 0)
        ).alias("small_range"),
    )


def events_mau_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-grain distinct users by MERGING the daily HLL register
    frames (round 6, VERDICT r5 item 5) — the registry proof of the
    property that makes sketches the 100 TB answer: the month sketch is
    the register-wise MAX of its days' sketches, so stored daily
    register tables (512 rows/day) roll up to ANY coarser grain without
    touching raw events again.  The Spark side composes day → month
    explicitly (the same `_daily_registers` frame ``events_dau_hll``
    serves, merged by ``MAX(m_reg)`` per (month, register)); the ORACLE
    sketches the month grain DIRECTLY from events — the hash gate
    therefore validates the merge law itself, in-engine, not just the
    pytest register-level pin (test_sketch.py).  Month = the same fixed
    30-day calendar-free grid as events_dau_mau (MONTH_DAYS_US).
    Day keys lie inside their month-grid bucket by construction
    (86 400 s divides the 30-day grid), so day-grain → month-grid
    assignment is exact."""
    from .events import MONTH_DAYS_US

    month_regs = (
        _daily_registers(spark, sf_dir)
        .withColumn(
            "month_us",
            F.col("day_us") - F.col("day_us") % F.lit(MONTH_DAYS_US),
        )
        .groupBy("month_us", "reg")
        .agg(F.max("m_reg").alias("m_reg"))
    )
    return _hll_estimate(month_regs, "month_us").orderBy("month_us")


_HLL_ORACLE = f"""
WITH h AS (
    SELECT epoch_us(ts) - epoch_us(ts) % 86400000000 AS day_us,
           CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
               AS h
    FROM events
),
regs AS (
    SELECT day_us, h % {HLL_M} AS reg,
           MAX(CASE WHEN h // {HLL_M} = 0 THEN {HLL_W_BITS + 1}
                    ELSE {HLL_W_BITS + 1} - LENGTH(bin(h // {HLL_M}))
               END) AS m_reg
    FROM h GROUP BY 1, 2
),
per_day AS (
    SELECT day_us, COUNT(*) AS n_present,
           CAST(SUM(CAST(POW(2, {HLL_W_BITS + 1} - m_reg) AS BIGINT))
                AS BIGINT) AS z_present
    FROM regs GROUP BY 1
)
SELECT day_us,
       CAST({HLL_M} - n_present AS BIGINT) AS n_zero_regs,
       CAST(z_present + ({HLL_M} - n_present) * {1 << (HLL_W_BITS + 1)}
            AS BIGINT) AS z_scaled,
       CAST({HLL_RAW_NUM} // (z_present + ({HLL_M} - n_present)
            * {1 << (HLL_W_BITS + 1)}) AS BIGINT) AS hll_raw,
       ({HLL_RAW_NUM} // (z_present + ({HLL_M} - n_present)
            * {1 << (HLL_W_BITS + 1)})) * 2 <= {5 * HLL_M}
           AND ({HLL_M} - n_present) > 0 AS small_range
FROM per_day
ORDER BY day_us
"""


# ------------------------------------------- Count-Min Sketch (round 6)
# The third canonical mergeable summary (Cormode-Muthukrishnan 2005),
# completing the family: Misra-Gries (exact heavy hitters, merge by
# truncating union), HyperLogLog (distinct, merge by register MAX), CMS
# (point frequency, merge by counter SUM). At 100 TB the counter table
# is d·w rows REGARDLESS of key cardinality — per-partition partial
# counts combine map-side and the merged table answers any point query
# with est ≥ true and est ≤ true + εN (ε = e/w) w.h.p.
CMS_D = 3  # hash rows
CMS_W = 512  # buckets per row
CMS_QUERY_STRIDE = 10  # queried keys: user_id % 10 == 0


def _cms_expand(df: DataFrame) -> DataFrame:
    """Append the CMS hash rows to every input row: (… , r, bucket) for
    r in 0..d-1, bucket = hash32('cms' || r || ':' || user_id) mod w.
    The bucket is a pure function of (r, user_id), so the expansion
    commutes with any filter/distinct on the input — which is what lets
    the query side expand DISTINCT USERS (∝ queried keys) instead of
    distinct-ing an events×d frame (∝ events; VERDICT r6 item 4)."""
    return df.withColumn(
        "r", F.explode(F.array(*[F.lit(r) for r in range(CMS_D)]))
    ).withColumn(
        "bucket",
        texts.hash32(
            F.concat(
                F.lit("cms"),
                F.col("r").cast("string"),
                F.lit(":"),
                F.col("user_id").cast("string"),
            )
        )
        % CMS_W,
    )


def events_user_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch over event user_ids + point-queried estimates —
    EXACT-integer end to end so the DuckDB oracle (the identical sketch
    formula) hashes bit-for-bit: bucket_r(u) = md5-hash32 of
    ``'cms' || r || ':' || u`` mod w; counters = one (r, bucket) count
    aggregate (map-side combinable, ≤ d·w = 1536 rows shuffled
    regardless of user cardinality); the estimate for a queried key is
    ``min_r counters[r, bucket_r(u)]``, joined against the BROADCAST
    counter table. Output carries the exact count next to the estimate,
    so the CMS overestimate guarantee (est ≥ true, pytest-pinned along
    with the counter-SUM merge law) is visible in the result itself.
    The query set (user_id % stride == 0) models the serving pattern —
    point lookups against a tiny materialized summary, never a scan of
    the raw events.

    Hash-side scaling (round 7, VERDICT r6 item 4): CMS counters are
    LINEAR in the input multiset (counter[r][b] = Σ_{u: h_r(u)=b}
    count(u) — Cormode-Muthukrishnan 2005 §4), so the plan aggregates
    per-user counts FIRST (one map-side-combinable groupBy; the
    ≤|users|-row frequency vector) and only then expands the d hash
    rows and md5-hashes — d·|users| hash evaluations instead of
    d·|events| (the previous form's dominant linear term), and the
    query side reads the same per-user frame (n_true rides along; no
    second events scan).  Bit-identical counters, same hash; measured
    ×5-data slope 3.0× → see SCALE.md round 7."""
    per_user = (
        load_events(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    counters = _cms_expand(per_user).groupBy("r", "bucket").agg(
        F.sum("n_events").alias("cnt")
    )
    qkeys = per_user.where(F.col("user_id") % CMS_QUERY_STRIDE == 0)
    return (
        _cms_expand(qkeys)
        .join(F.broadcast(counters), ["r", "bucket"])
        .groupBy("user_id", F.col("n_events").alias("n_true"))
        .agg(F.min("cnt").alias("cms_est"))
        .select("user_id", "n_true", "cms_est")
        .orderBy("user_id")
    )


_CMS_ORACLE = f"""
WITH rows AS (
    SELECT user_id, r,
           {texts.hash32_sql(
               "'cms' || CAST(r AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)"
           )} % {CMS_W} AS bucket
    FROM events, (SELECT unnest([{', '.join(str(r) for r in range(CMS_D))}]) AS r)
),
counters AS (
    SELECT r, bucket, COUNT(*) AS cnt FROM rows GROUP BY 1, 2
),
q AS (
    SELECT DISTINCT user_id, r, bucket FROM rows
    WHERE user_id % {CMS_QUERY_STRIDE} = 0
),
est AS (
    SELECT q.user_id, CAST(MIN(c.cnt) AS BIGINT) AS cms_est
    FROM q JOIN counters c ON c.r = q.r AND c.bucket = q.bucket
    GROUP BY 1
)
SELECT e.user_id, CAST(t.n_true AS BIGINT) AS n_true, e.cms_est
FROM est e
JOIN (
    SELECT user_id, COUNT(*) AS n_true FROM events
    WHERE user_id % {CMS_QUERY_STRIDE} = 0 GROUP BY 1
) t ON t.user_id = e.user_id
ORDER BY e.user_id
"""


def events_user_cms_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-grain CMS point frequencies by MERGING daily counter tables
    (round 7, VERDICT r6 item 3) — the in-engine proof of the CMS
    counter-SUM merge law, the exact twin of ``events_mau_hll``'s
    register-MAX proof, completing in-engine merge proofs for all three
    mergeable summaries (MG truncating-union is pytest-pinned;
    HLL/CMS are now hash-gated).

    The Spark side composes day → month explicitly: per-day counter
    tables (the d·w-row frames a production pipeline persists per
    ingest day) are merged to the 30-day month grid by per-cell SUM,
    and point estimates are served from the MERGED table.  The ORACLE
    sketches the month grain DIRECTLY from events — so the hash gate
    passes iff SUM-merging daily counters equals sketching the month in
    one pass, which is the merge law itself (CMS counters are linear in
    the input multiset; Cormode-Muthukrishnan 2005 §4).  Day keys lie
    inside their month-grid bucket exactly (86 400 s divides the
    30-day grid — same note as events_mau_hll).

    Output carries the exact per-(month, user) count next to the
    estimate so the overestimate guarantee stays visible.  Same
    linearity rewrite as the day entry: per-(day, user) counts
    aggregate FIRST, so hashing costs d·|active (day, user) pairs|,
    never d·|events|, and the query/true sides reuse the same frame."""
    from .events import MONTH_DAYS_US

    day_us = F.unix_micros("ts") - F.unix_micros("ts") % (24 * 3600 * 1_000_000)
    per_day_user = (
        load_events(spark, sf_dir)
        .groupBy(day_us.alias("day_us"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    daily = _cms_expand(per_day_user).groupBy("day_us", "r", "bucket").agg(
        F.sum("n_events").alias("cnt")
    )
    month_of = lambda c: F.col(c) - F.col(c) % F.lit(MONTH_DAYS_US)  # noqa: E731
    monthly = (
        daily.withColumn("month_us", month_of("day_us"))
        .groupBy("month_us", "r", "bucket")
        .agg(F.sum("cnt").alias("cnt"))  # the counter-SUM merge
    )
    per_month_user = (
        per_day_user.where(F.col("user_id") % CMS_QUERY_STRIDE == 0)
        .groupBy(month_of("day_us").alias("month_us"), F.col("user_id"))
        .agg(F.sum("n_events").alias("n_true"))
    )
    return (
        _cms_expand(per_month_user)
        .join(F.broadcast(monthly), ["month_us", "r", "bucket"])
        .groupBy("month_us", "user_id", "n_true")
        .agg(F.min("cnt").alias("cms_est"))
        .select("month_us", "user_id", "n_true", "cms_est")
        .orderBy("month_us", "user_id")
    )


# Direct month-grain sketch over raw events: identical result to the
# Spark side's day→month counter-SUM merge IFF the merge law holds —
# the hash equality IS the proof (see events_user_cms_monthly).
_CMS_MONTHLY_ORACLE = f"""
WITH rows AS (
    SELECT epoch_us(ts) - epoch_us(ts) % {30 * 24 * 3_600_000_000} AS month_us,
           user_id, r,
           {texts.hash32_sql(
               "'cms' || CAST(r AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)"
           )} % {CMS_W} AS bucket
    FROM events, (SELECT unnest([{', '.join(str(r) for r in range(CMS_D))}]) AS r)
),
counters AS (
    SELECT month_us, r, bucket, COUNT(*) AS cnt FROM rows GROUP BY 1, 2, 3
),
q AS (
    SELECT DISTINCT month_us, user_id, r, bucket FROM rows
    WHERE user_id % {CMS_QUERY_STRIDE} = 0
),
est AS (
    SELECT q.month_us, q.user_id, CAST(MIN(c.cnt) AS BIGINT) AS cms_est
    FROM q JOIN counters c
      ON c.month_us = q.month_us AND c.r = q.r AND c.bucket = q.bucket
    GROUP BY 1, 2
)
SELECT e.month_us, e.user_id, CAST(t.n_true AS BIGINT) AS n_true, e.cms_est
FROM est e
JOIN (
    SELECT epoch_us(ts) - epoch_us(ts) % {30 * 24 * 3_600_000_000} AS month_us,
           user_id, COUNT(*) AS n_true
    FROM events WHERE user_id % {CMS_QUERY_STRIDE} = 0 GROUP BY 1, 2
) t ON t.month_us = e.month_us AND t.user_id = e.user_id
ORDER BY e.month_us, e.user_id
"""


# --------------------------------------------- Bloom filter (round 7)
# The fourth canonical mergeable summary, completing the family with its
# merge law: MG (truncating union), HLL (register MAX), CMS (counter
# SUM), Bloom (bitwise OR).  Two facets: the persisted membership
# summary with its month merge proved in-engine (events_user_bloom_monthly)
# and the pattern Bloom filters exist for at 100 TB — the runtime
# pre-filter that prunes a fact scan before an exact semi-join
# (orders_bloom_semi_join), the explicit, engine-neutral form of Spark's
# own InjectRuntimeFilter.
BLOOM_D = 3  # hash functions
BLOOM_M = 1 << 14  # bits (16384)
BLOOM_PROBE_BASE = 10_000_000  # synthetic absent probe keys start here
BLOOM_N_PROBES = 200


def _bloom_positions(df: DataFrame, key: str) -> DataFrame:
    """Append the d Bloom bit positions for ``df[key]``:
    pos_r(k) = hash32('bloom' || r || ':' || k) mod m — a pure function
    of (r, key), exact-integer and identical in the DuckDB oracle."""
    return df.withColumn(
        "r", F.explode(F.array(*[F.lit(r) for r in range(BLOOM_D)]))
    ).withColumn(
        "pos",
        texts.hash32(
            F.concat(
                F.lit("bloom"),
                F.col("r").cast("string"),
                F.lit(":"),
                F.col(key).cast("string"),
            )
        )
        % BLOOM_M,
    )


def events_user_bloom_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-grain Bloom membership summaries built by OR-merging DAILY
    bit sets (round 7) — the Bloom merge law in-engine: the Spark side
    persists per-day bit sets (≤ m rows/day, the set-membership twin of
    the HLL register table) and merges day → month by set union
    (bitwise OR in bitmap form); the ORACLE builds the month bit set
    DIRECTLY from events, so the hash gate passes iff OR-merge composes.

    The output makes both Bloom guarantees visible per month:
    - ``n_query_users == n_query_members`` — NO FALSE NEGATIVES: every
      user actually active in the month tests as a member of the
      merged filter;
    - ``n_false_positives`` over BLOOM_N_PROBES synthetic keys that are
      provably absent (ids ≥ BLOOM_PROBE_BASE, far above the user-id
      universe at every SF) — the false-positive rate a capacity
      planner sizes m/d against, here exact and deterministic.
    Membership = ALL of the key's distinct positions set; counted as
    n_hit == n_pos so intra-key position collisions are handled
    identically in both engines."""
    from .events import MONTH_DAYS_US

    day_us = F.unix_micros("ts") - F.unix_micros("ts") % (24 * 3600 * 1_000_000)
    day_user = (
        load_events(spark, sf_dir)
        .select(day_us.alias("day_us"), "user_id")
        .distinct()
    )
    # per-day bit sets (what the lake persists), then the OR-merge
    day_bits = (
        _bloom_positions(day_user, "user_id")
        .select("day_us", "pos")
        .distinct()
    )
    return _bloom_monthly_serve(spark, day_bits, day_user)


def _bloom_monthly_serve(
    spark: SparkSession, day_bits: DataFrame, day_user: DataFrame
) -> DataFrame:
    """Month-merge + membership/probe census over a per-day bit-set
    frame — factored (round 8) so the streaming twin serves the SAME
    code over its drained state."""
    from .events import MONTH_DAYS_US

    month_of = lambda c: F.col(c) - F.col(c) % F.lit(MONTH_DAYS_US)  # noqa: E731
    month_bits = (
        day_bits.withColumn("month_us", month_of("day_us"))
        .select("month_us", "pos")
        .distinct()  # set union = bitwise OR of the day bitmaps
    )
    n_bits = month_bits.groupBy("month_us").agg(
        F.count(F.lit(1)).alias("n_bits_set")
    )
    month_user = (
        day_user.withColumn("month_us", month_of("day_us"))
        .select("month_us", "user_id")
        .distinct()
    )
    n_users = month_user.groupBy("month_us").agg(
        F.count(F.lit(1)).alias("n_query_users")
    )

    def members_of(keys: DataFrame) -> DataFrame:
        """(month_us, user_id) → rows that test as Bloom members."""
        kp = (
            _bloom_positions(keys, "user_id")
            .select("month_us", "user_id", "pos")
            .distinct()
        )
        per_key = kp.groupBy("month_us", "user_id").agg(
            F.count(F.lit(1)).alias("n_pos")
        )
        hits = (
            kp.join(month_bits, ["month_us", "pos"])
            .groupBy("month_us", "user_id")
            .agg(F.count(F.lit(1)).alias("n_hit"))
        )
        return per_key.join(hits, ["month_us", "user_id"]).where(
            F.col("n_hit") == F.col("n_pos")
        )

    n_members = members_of(month_user).groupBy("month_us").agg(
        F.count(F.lit(1)).alias("n_query_members")
    )
    months = month_bits.select("month_us").distinct()
    probes = months.crossJoin(
        F.broadcast(
            spark.range(BLOOM_N_PROBES).select(
                (F.col("id") + BLOOM_PROBE_BASE).alias("user_id")
            )
        )
    )
    n_fp = (
        members_of(probes)
        .groupBy("month_us")
        .agg(F.count(F.lit(1)).alias("n_false_positives"))
    )
    return (
        n_bits.join(n_users, "month_us")
        .join(n_members, "month_us")
        .join(n_fp, "month_us", "left")
        .select(
            "month_us",
            "n_bits_set",
            "n_query_users",
            "n_query_members",
            F.coalesce("n_false_positives", F.lit(0))
            .cast("long")
            .alias("n_false_positives"),
        )
        .orderBy("month_us")
    )


def _bloom_pos_sql(key_expr: str) -> str:
    return (
        texts.hash32_sql(
            f"'bloom' || CAST(r AS VARCHAR) || ':' || CAST({key_expr} AS VARCHAR)"
        )
        + f" % {BLOOM_M}"
    )


_BLOOM_R_UNNEST = (
    f"(SELECT unnest([{', '.join(str(r) for r in range(BLOOM_D))}]) AS r)"
)

# Direct month-grain bit sets from raw events: equals the Spark side's
# day→month OR-merge iff set union composes — the merge-law hash gate.
_BLOOM_MONTHLY_ORACLE = f"""
WITH month_user AS (
    SELECT DISTINCT epoch_us(ts) - epoch_us(ts) % {30 * 24 * 3_600_000_000}
               AS month_us, user_id
    FROM events
),
month_bits AS (
    SELECT DISTINCT month_us, {_bloom_pos_sql('user_id')} AS pos
    FROM month_user, {_BLOOM_R_UNNEST}
),
n_bits AS (
    SELECT month_us, COUNT(*) AS n_bits_set FROM month_bits GROUP BY 1
),
n_users AS (
    SELECT month_us, COUNT(*) AS n_query_users FROM month_user GROUP BY 1
),
query_pos AS (
    SELECT DISTINCT month_us, user_id, {_bloom_pos_sql('user_id')} AS pos
    FROM month_user, {_BLOOM_R_UNNEST}
),
query_members AS (
    SELECT q.month_us, q.user_id
    FROM query_pos q
    LEFT JOIN month_bits b ON b.month_us = q.month_us AND b.pos = q.pos
    GROUP BY 1, 2
    HAVING COUNT(*) = COUNT(b.pos)
),
n_members AS (
    SELECT month_us, COUNT(*) AS n_query_members FROM query_members GROUP BY 1
),
probe_pos AS (
    SELECT DISTINCT m.month_us, p.user_id, {_bloom_pos_sql('p.user_id')} AS pos
    FROM (SELECT DISTINCT month_us FROM month_bits) m,
         (SELECT {BLOOM_PROBE_BASE} + unnest(range({BLOOM_N_PROBES}))
              AS user_id) p,
         {_BLOOM_R_UNNEST}
),
probe_members AS (
    SELECT q.month_us, q.user_id
    FROM probe_pos q
    LEFT JOIN month_bits b ON b.month_us = q.month_us AND b.pos = q.pos
    GROUP BY 1, 2
    HAVING COUNT(*) = COUNT(b.pos)
),
n_fp AS (
    SELECT month_us, COUNT(*) AS n_false_positives
    FROM probe_members GROUP BY 1
)
SELECT nb.month_us, nb.n_bits_set, nu.n_query_users, nm.n_query_members,
       CAST(COALESCE(nf.n_false_positives, 0) AS BIGINT)
           AS n_false_positives
FROM n_bits nb
JOIN n_users nu ON nu.month_us = nb.month_us
JOIN n_members nm ON nm.month_us = nb.month_us
LEFT JOIN n_fp nf ON nf.month_us = nb.month_us
ORDER BY nb.month_us
"""


# ------------------------------------- incremental Bloom bit-set table
def bloom_index_init(spark: SparkSession, events_df: DataFrame, path: str) -> None:
    """Materialize the per-day Bloom bit-set table for an initial event
    corpus — the membership twin of :func:`hll_index_init`: the lake
    keeps ≤ m rows per day forever and answers "was user U active in
    window W" by OR-merging the window's day rows, never re-reading raw
    events (no false negatives; false-positive rate set by m/d against
    the per-day active-user count).  Same versioned-snapshot + atomic
    CURRENT-pointer durability as the HLL register table."""
    with snapshots.txn(path, "bits_v") as t:
        _bloom_bits_of(events_df).write.mode("overwrite").parquet(t.dir)


def bloom_index_update(
    spark: SparkSession, new_events: DataFrame, path: str
) -> DataFrame:
    """Merge a new event batch into the bit-set table: sketch the batch,
    OR-merge (set union) against the stored frame, commit as a new
    snapshot.  IDEMPOTENT — re-delivery is absorbed because
    a ∪ a = a (the Bloom merge law as persisted state).  Returns the
    post-merge frame; per-batch work is O(|batch| + m·days-touched)."""
    with snapshots.txn(path, "bits_v") as t:
        old = spark.read.parquet(t.live)
        merged = old.unionByName(_bloom_bits_of(new_events)).distinct()
        merged.write.mode("overwrite").parquet(t.dir)
    return spark.read.parquet(t.dir)


def _bloom_bits_of(events_df: DataFrame) -> DataFrame:
    """(day_us, pos) distinct bit rows over an arbitrary (ts, user_id)
    frame — the per-day Bloom bitmaps in row form."""
    day_user = events_df.select(
        (
            F.unix_micros("ts") - F.unix_micros("ts") % (24 * 3600 * 1_000_000)
        ).alias("day_us"),
        "user_id",
    ).distinct()
    return (
        _bloom_positions(day_user, "user_id").select("day_us", "pos").distinct()
    )


# ---------------------------- Bloom-prefiltered semi-join (round 7)
BLOOM_JOIN_SEGMENT = "BUILDING"


def orders_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter join: orders of one customer segment, computed as
    Bloom-PREFILTER then exact semi-join — the explicit, engine-neutral
    form of the runtime bloom filter Spark's InjectRuntimeFilter plants
    under a selective join at scale.

    Build side: the segment's custkeys hash into a d×m Bloom bitmap —
    the distinct bit POSITIONS are collected (≤ m/64 = 256 longs packed
    driver-side, steering-sized like the centroid-table collect) and
    embedded as an array-of-words literal, so the probe side tests
    membership with pure JVM bit arithmetic (element_at + shiftright +
    bitwise AND) inside whole-stage codegen — no join, no shuffle, no
    Python.  Probe side: the fact scan keeps only rows whose custkey
    passes all d bit tests (no false negatives ⇒ no lost rows; false
    positives survive) and the surviving ~segment-sized slice then
    broadcast-semi-joins the exact key set, which removes the false
    positives.  The final aggregate therefore EQUALS the plain
    semi-join aggregate — the oracle is exactly that, so the hash gate
    proves the prefilter dropped nothing and admitted nothing.  A
    pytest pins the part that does not show in the result: the
    prefilter's selectivity (pass count ≥ exact matches, ≪ fact rows).

    At 100 TB: the bitmap is fixed-size regardless of fact size, built
    from the dim side in one aggregate, shipped in the task closure;
    the fact scan's pushed segment-of-custkey test cuts the shuffle
    into the exact join by ~the segment's selectivity."""
    c = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == BLOOM_JOIN_SEGMENT)
        .select("c_custkey")
    )
    words = _bloom_bitmap_words(c, "c_custkey")
    o = load_table(spark, sf_dir, "orders")
    passed = o.where(_bloom_test(F.col("o_custkey"), words))
    return (
        passed.join(F.broadcast(c), passed.o_custkey == c.c_custkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast(
                    "long"
                )
            ).alias("total_cents"),
        )
        .orderBy("o_orderpriority")
    )


def _bloom_bitmap_words(keys: DataFrame, key: str) -> list[int]:
    """Pack the distinct Bloom positions of ``keys[key]`` into m/64
    little-endian 64-bit words (python ints, embedded as literals).
    The collect is bitmap-sized (m bits), never data-sized."""
    pos = (
        _bloom_positions(keys.select(key).distinct(), key)
        .select("pos")
        .distinct()
        .collect()
    )
    words = [0] * (BLOOM_M // 64)
    for r in pos:
        words[r.pos // 64] |= 1 << (r.pos % 64)
    # two's-complement to signed int64 (a set bit 63 would overflow the
    # JVM long literal otherwise); arithmetic shiftright + AND 1 reads
    # the correct bit either way
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


def _bloom_test(key_col: Column, words: list[int]) -> Column:
    """ALL-d-bits-set membership test against the packed word array, as
    pure JVM expressions (signed-safe: shiftright then AND 1)."""
    arr = F.array(*[F.lit(w).cast("long") for w in words])
    cond = F.lit(True)
    for r in range(BLOOM_D):
        pos = (
            texts.hash32(
                F.concat(
                    F.lit("bloom"),
                    F.lit(str(r)),
                    F.lit(":"),
                    key_col.cast("string"),
                )
            )
            % BLOOM_M
        )
        word = F.element_at(arr, (pos / 64).cast("int") + 1)
        # bit_get takes a COLUMN position (shiftright's numBits must be
        # a literal); reads the two's-complement bit directly
        bit = F.call_function("bit_get", word, (pos % 64).cast("int"))
        cond = cond & (bit == 1)
    return cond


_BLOOM_JOIN_ORACLE = f"""
SELECT o.o_orderpriority, COUNT(*) AS n_orders,
       CAST(SUM(CAST(FLOOR(o.o_totalprice * 100.0 + 0.5) AS BIGINT))
            AS BIGINT) AS total_cents
FROM orders o
WHERE o.o_custkey IN (
    SELECT c_custkey FROM customer WHERE c_mktsegment = '{BLOOM_JOIN_SEGMENT}'
)
GROUP BY 1
ORDER BY 1
"""


# ------------------------------------- incremental HLL register table
#
# Durability (round 7, ADVICE r6): updates never overwrite the live
# snapshot in place.  Each state version is a fresh ``registers_v{n}``
# directory committed by an atomic CURRENT swap (``snapshots.txn``, the
# protocol every index family shares), so a crash or executor loss at
# ANY point leaves CURRENT pointing at a complete, readable snapshot.
# This replaces the previous read-modify-overwrite (whose
# localCheckpoint guard still lost the table if an executor died
# mid-overwrite).


def _snap_meta_row(spark: SparkSession, batch_id: str) -> DataFrame:
    """One ledger row as a pure-JVM single-partition frame (round 12
    opt): createDataFrame([(id,)]) parallelized the 1-row list into 32
    Python-RDD slices — a Python-worker job plus up to 32 ledger files
    PER BATCH; this writes one."""
    return snapshots.meta_row(spark, "batch_id string", (batch_id,))


def hll_index_init(spark: SparkSession, events_df: DataFrame, path: str) -> None:
    """Materialize the per-day HLL register table for an initial event
    corpus — the persisted-sketch twin of dedup.minhash_index_init /
    similarity.ann_index_init, for the continuous-ingest distinct-count
    pipeline: the lake keeps ≤ m rows per day FOREVER and answers any
    day/month/arbitrary-window distinct-user question by register-MAX
    merge, never re-reading raw events."""
    with snapshots.txn(path, "registers_v") as t:
        _registers_of(events_df).write.mode("overwrite").parquet(t.dir)


def hll_index_update(
    spark: SparkSession, new_events: DataFrame, path: str
) -> DataFrame:
    """Merge a new event batch into the register table: sketch the batch,
    register-wise MAX against the stored frame, write the merged state
    as a NEW snapshot, atomically swap the CURRENT pointer (module note
    above).  IDEMPOTENT — re-delivering the same batch is absorbed
    because max(a, a) = a, so an orchestrator retry is a no-op (the same
    contract as the minhash / ANN index updates, via the merge law
    instead of an anti-join).  Returns the post-merge register frame;
    per-batch work is O(|batch| + m·days-touched), never corpus-sized."""
    with snapshots.txn(path, "registers_v") as t:
        old = spark.read.parquet(t.live)
        merged = (
            old.unionByName(_registers_of(new_events))
            .groupBy("day_us", "reg")
            .agg(F.max("m_reg").alias("m_reg"))
        )
        # Writing to a FRESH directory means the plan may stream straight
        # from the old snapshot's files — no checkpoint needed to sever
        # lineage, because nothing it reads is being replaced.
        merged.write.mode("overwrite").parquet(t.dir)
    return spark.read.parquet(t.dir)


def _registers_of(events_df: DataFrame) -> DataFrame:
    """(day_us, reg, m_reg) registers over an arbitrary (ts, user_id)
    frame — the same pipeline `_daily_registers` runs on the sf_dir
    path, factored for the index twins."""
    e = events_df.select(
        (
            F.unix_micros("ts") - F.unix_micros("ts") % (24 * 3600 * 1_000_000)
        ).alias("day_us"),
        texts.hash32(F.col("user_id").cast("string")).alias("h"),
    )
    w = F.expr(f"div(h, {HLL_M})")
    rho = F.when(w == 0, F.lit(HLL_W_BITS + 1)).otherwise(
        F.lit(HLL_W_BITS + 1) - F.length(F.bin(w))
    )
    return (
        e.select("day_us", (F.col("h") % HLL_M).alias("reg"), rho.alias("rho"))
        .groupBy("day_us", "reg")
        .agg(F.max("rho").alias("m_reg"))
    )


# Direct month-grain sketch over raw events: identical result to the
# Spark side's day→month register merge IFF max-merge composes — the
# hash equality IS the merge-law proof (see events_mau_hll docstring).
_MAU_HLL_ORACLE = f"""
WITH h AS (
    SELECT epoch_us(ts) - epoch_us(ts) % {30 * 24 * 3_600_000_000}
               AS month_us,
           CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
               AS h
    FROM events
),
regs AS (
    SELECT month_us, h % {HLL_M} AS reg,
           MAX(CASE WHEN h // {HLL_M} = 0 THEN {HLL_W_BITS + 1}
                    ELSE {HLL_W_BITS + 1} - LENGTH(bin(h // {HLL_M}))
               END) AS m_reg
    FROM h GROUP BY 1, 2
),
per_month AS (
    SELECT month_us, COUNT(*) AS n_present,
           CAST(SUM(CAST(POW(2, {HLL_W_BITS + 1} - m_reg) AS BIGINT))
                AS BIGINT) AS z_present
    FROM regs GROUP BY 1
)
SELECT month_us,
       CAST({HLL_M} - n_present AS BIGINT) AS n_zero_regs,
       CAST(z_present + ({HLL_M} - n_present) * {1 << (HLL_W_BITS + 1)}
            AS BIGINT) AS z_scaled,
       CAST({HLL_RAW_NUM} // (z_present + ({HLL_M} - n_present)
            * {1 << (HLL_W_BITS + 1)}) AS BIGINT) AS hll_raw,
       ({HLL_RAW_NUM} // (z_present + ({HLL_M} - n_present)
            * {1 << (HLL_W_BITS + 1)})) * 2 <= {5 * HLL_M}
           AND ({HLL_M} - n_present) > 0 AS small_range
FROM per_month
ORDER BY month_us
"""


# ------------------------------------ HLL set algebra (round 7, cont.)
# The month-grain entries prove the register-MAX merge law across TIME
# grains; this one proves it across FILTERS, which is what unlocks
# sketch-space set algebra: persist one register table per audience
# segment and answer |A|, |B|, |A∪B| (MAX-merge), and |A∩B|
# (inclusion-exclusion on the raw estimates) without ever re-reading
# events or materializing a distinct-user shuffle per question.  The
# exact counts ride along (same pattern as CMS's n_true) so the
# estimate error is visible in the result; the pytest pins it within
# the sketch's standard-error envelope.
SEG_HLL_A = "view"
SEG_HLL_B = "purchase"


def segment_overlap_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap in sketch space: per-segment HLL register tables
    for SEG_HLL_A/SEG_HLL_B users, the union sketch by register-wise MAX
    of the two segment sketches, and the intersection ESTIMATE by
    inclusion-exclusion ``raw_A + raw_B − raw_A∪B`` (Flajolet et al.
    2007 §5 — HLL has no native intersection; I-E on the union merge is
    the standard construction, with error governed by the union's
    standard error, so small overlaps are the hard regime and the exact
    column makes that visible rather than hiding it).

    The ORACLE sketches the union segment DIRECTLY from events
    (``event_type IN (A, B)``), so the hash gate passes iff MAX-merging
    the two per-segment register tables equals sketching their union —
    the merge law across filters.  The exact-set twin of this entry is
    ``segment_overlap`` (INTERSECT/EXCEPT over order customers); at
    100 TB the exact form shuffles every (segment, user) pair while the
    sketch form shuffles ≤ m = 512 register rows per segment.
    """
    e = (
        load_events(spark, sf_dir)
        .where(F.col("event_type").isin(SEG_HLL_A, SEG_HLL_B))
        .select("event_type", "user_id")
    )
    hashed = e.select(
        "event_type",
        texts.hash32(F.col("user_id").cast("string")).alias("h"),
    )
    w = F.expr(f"div(h, {HLL_M})")
    rho = F.when(w == 0, F.lit(HLL_W_BITS + 1)).otherwise(
        F.lit(HLL_W_BITS + 1) - F.length(F.bin(w))
    )
    seg_regs = (
        hashed.select(
            "event_type", (F.col("h") % HLL_M).alias("reg"), rho.alias("rho")
        )
        .groupBy("event_type", "reg")
        .agg(F.max("rho").alias("m_reg"))
    )
    union_regs = (
        seg_regs.groupBy("reg")
        .agg(F.max("m_reg").alias("m_reg"))  # the register-MAX merge
        .select(F.lit("union").alias("relation"), "reg", "m_reg")
    )
    regs = seg_regs.select(
        F.col("event_type").alias("relation"), "reg", "m_reg"
    ).unionByName(union_regs)
    # n_zero_regs rides along so the small-range linear-counting
    # correction (m·ln(m/V) — transcendental, so OUT of the hash
    # surface, same contract as events_dau_hll) stays computable from
    # the result; NULL on the arithmetic intersection row.
    est = _hll_estimate(regs, "relation").select(
        "relation", "n_zero_regs", "hll_raw"
    )
    inter_est = est.groupBy().agg(
        F.lit("intersection").alias("relation"),
        F.lit(None).cast("long").alias("n_zero_regs"),
        (
            F.sum(F.when(F.col("relation") == SEG_HLL_A, F.col("hll_raw")))
            + F.sum(F.when(F.col("relation") == SEG_HLL_B, F.col("hll_raw")))
            - F.sum(F.when(F.col("relation") == "union", F.col("hll_raw")))
        ).alias("hll_raw"),
    )
    users = e.distinct()
    ex_seg = users.groupBy(F.col("event_type").alias("relation")).agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    ex_union = users.select("user_id").distinct().agg(
        F.lit("union").alias("relation"), F.count(F.lit(1)).alias("n_exact")
    )
    ex_inter = (
        users.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_segs"))
        .where(F.col("n_segs") == 2)
        .agg(
            F.lit("intersection").alias("relation"),
            F.count(F.lit(1)).alias("n_exact"),
        )
    )
    exact = ex_seg.unionByName(ex_union).unionByName(ex_inter)
    return (
        est.unionByName(inter_est)
        .join(exact, "relation")
        .select("relation", "n_exact", "n_zero_regs", "hll_raw")
        .orderBy("relation")
    )


def _seg_hll_regs_sql(src: str, relation: str) -> str:
    """Register-table SQL over a (user_id) source subquery."""
    return f"""
    SELECT '{relation}' AS relation, h % {HLL_M} AS reg,
           MAX(CASE WHEN h // {HLL_M} = 0 THEN {HLL_W_BITS + 1}
                    ELSE {HLL_W_BITS + 1} - LENGTH(bin(h // {HLL_M}))
               END) AS m_reg
    FROM (SELECT CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)
                      AS BIGINT) AS h
          FROM ({src}))
    GROUP BY 1, 2
    """


# The union registers are sketched DIRECTLY from the union segment —
# equals the Spark side's per-segment MAX-merge iff the merge law holds
# across filters (see segment_overlap_hll).
_SEG_HLL_ORACLE = f"""
WITH regs AS (
    {_seg_hll_regs_sql(
        f"SELECT user_id FROM events WHERE event_type = '{SEG_HLL_A}'",
        SEG_HLL_A,
    )}
    UNION ALL
    {_seg_hll_regs_sql(
        f"SELECT user_id FROM events WHERE event_type = '{SEG_HLL_B}'",
        SEG_HLL_B,
    )}
    UNION ALL
    {_seg_hll_regs_sql(
        "SELECT user_id FROM events WHERE event_type IN "
        f"('{SEG_HLL_A}', '{SEG_HLL_B}')",
        "union",
    )}
),
per_rel AS (
    SELECT relation, COUNT(*) AS n_present,
           CAST(SUM(CAST(POW(2, {HLL_W_BITS + 1} - m_reg) AS BIGINT))
                AS BIGINT) AS z_present
    FROM regs GROUP BY 1
),
est AS (
    SELECT relation,
           CAST({HLL_M} - n_present AS BIGINT) AS n_zero_regs,
           CAST({HLL_RAW_NUM} // (z_present + ({HLL_M} - n_present)
                * {1 << (HLL_W_BITS + 1)}) AS BIGINT) AS hll_raw
    FROM per_rel
),
est_all AS (
    SELECT * FROM est
    UNION ALL
    SELECT 'intersection', CAST(NULL AS BIGINT),
           (SELECT hll_raw FROM est WHERE relation = '{SEG_HLL_A}')
         + (SELECT hll_raw FROM est WHERE relation = '{SEG_HLL_B}')
         - (SELECT hll_raw FROM est WHERE relation = 'union')
),
exact AS (
    SELECT event_type AS relation, COUNT(DISTINCT user_id) AS n_exact
    FROM events WHERE event_type IN ('{SEG_HLL_A}', '{SEG_HLL_B}')
    GROUP BY 1
    UNION ALL
    SELECT 'union', COUNT(DISTINCT user_id)
    FROM events WHERE event_type IN ('{SEG_HLL_A}', '{SEG_HLL_B}')
    UNION ALL
    SELECT 'intersection', COUNT(*)
    FROM (SELECT user_id
          FROM (SELECT DISTINCT event_type, user_id FROM events
                WHERE event_type IN ('{SEG_HLL_A}', '{SEG_HLL_B}'))
          GROUP BY user_id HAVING COUNT(*) = 2)
)
SELECT e.relation, CAST(x.n_exact AS BIGINT) AS n_exact,
       e.n_zero_regs, e.hll_raw
FROM est_all e JOIN exact x ON x.relation = e.relation
ORDER BY e.relation
"""


# --------------------------- mergeable equi-width histogram (round 7)
# The OLAP-statistics companion to the four sketches: a fixed-grid
# histogram is trivially mergeable (bin counts are linear in the input,
# so partition/day partials SUM — the same law as CMS) and answers
# quantile queries to ±1 bin without any global sort.  This is the
# 100 TB percentile path when approx_percentile's Greenwald-Khanna
# sketch isn't reproducible across engines: B rows of state per day
# regardless of data volume, and p50/p90/p99 fall out of one cumulative
# pass over the merged B-row frame.
HIST_BIN_CENTS = 1024  # bin width (power of two: value_cents div is exact)
HIST_B = 48  # bins: covers the generator's value domain [0, 49152) cents


def events_value_hist_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-grain value percentiles served from SUM-merged DAILY
    equi-width histograms.  The Spark side builds the per-day B-row bin
    frames a production lake persists, merges day → month by per-bin
    SUM, and extracts p50/p90/p99 as the first bin whose cumulative
    count reaches ``ceil(q·n)`` (exact integer thresholds — no float
    percentile anywhere); the ORACLE bins the month directly from
    events, so the hash gate passes iff histogram merge composes.

    Each percentile is reported as its bin index plus the bin's lower
    bound in cents — the histogram answer is exact to one bin width,
    and the pytest pins |hist_p − exact_p| < HIST_BIN_CENTS against the
    true percentile.  Scale shape: the widest frame after the first
    aggregation is B rows per (day); the cumulative window partitions
    are B-row month histograms, never data-sized.
    """
    from .events import MONTH_DAYS_US

    return _hist_monthly_serve(_daily_hist_of(load_events(spark, sf_dir)))


def _hist_monthly_serve(daily: DataFrame) -> DataFrame:
    """SUM-merge day histograms to month grain + exact-integer
    percentile extraction — factored (round 8) for the streaming twin."""
    from .events import MONTH_DAYS_US

    monthly = (
        daily.withColumn(
            "month_us",
            F.col("day_us") - F.col("day_us") % F.lit(MONTH_DAYS_US),
        )
        .groupBy("month_us", "bin")
        .agg(F.sum("cnt").alias("cnt"))  # the histogram SUM merge
    )
    w_cum = (
        Window.partitionBy("month_us")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("month_us")
    c = monthly.select(
        "month_us",
        "bin",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
    )

    def pick(q: int) -> Column:
        thresh = F.expr(f"div(n * {q} + 99, 100)")  # ceil(n·q/100)
        return F.min(
            F.when(F.col("cum") >= thresh, F.col("bin"))
        ).alias(f"p{q}_bin")

    return (
        c.groupBy("month_us")
        .agg(F.max("n").alias("n_events"), pick(50), pick(90), pick(99))
        .select(
            "month_us",
            "n_events",
            "p50_bin",
            (F.col("p50_bin") * HIST_BIN_CENTS).alias("p50_lo_cents"),
            "p90_bin",
            (F.col("p90_bin") * HIST_BIN_CENTS).alias("p90_lo_cents"),
            "p99_bin",
            (F.col("p99_bin") * HIST_BIN_CENTS).alias("p99_lo_cents"),
        )
        .orderBy("month_us")
    )


def _daily_hist_of(events_df: DataFrame) -> DataFrame:
    """(day_us, bin, cnt) per-day histogram over an arbitrary
    (ts, value) frame — the persisted frame of the index twins,
    factored from events_value_hist_monthly."""
    from .events import _cents

    day_us = F.unix_micros("ts") - F.unix_micros("ts") % (24 * 3600 * 1_000_000)
    return (
        events_df.select(
            day_us.alias("day_us"), _cents("value").alias("value_cents")
        )
        .select(
            "day_us",
            F.expr(
                f"least(div(value_cents, {HIST_BIN_CENTS}), {HIST_B - 1})"
            ).alias("bin"),
        )
        .groupBy("day_us", "bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# ---------------- incremental histogram table with a batch ledger
# The continuous-ingest twin for a NON-IDEMPOTENT merge.  The other
# index twins are idempotent through their merge law alone (max(a,a)=a
# for HLL registers, a∪a=a for Bloom bits and minhash/ANN member sets),
# so an orchestrator re-delivering a batch is absorbed for free.  SUM
# merges — histograms here, CMS counters identically — are NOT:
# a+a ≠ a, so a retried batch would double-count.  The standard fix is
# an applied-batch LEDGER carried inside the same atomic snapshot as
# the counters: an update whose batch_id is already in the live
# snapshot's ledger is a no-op, and because ledger and counters commit
# together (one CURRENT-pointer swap), a crash between them is
# impossible — the pair is always mutually consistent.  This is the
# engine-level form of Structured Streaming's own commit-log-per-batch
# exactly-once contract, applied to a lake-persisted summary table.


def hist_index_init(spark: SparkSession, events_df: DataFrame, path: str) -> None:
    """Materialize the per-day histogram table (counts + applied-batch
    ledger) for an initial corpus; ≤ B rows per day kept forever, any
    coarser-grain percentile served by per-bin SUM merge."""
    with snapshots.txn(path, "hist_v") as t:
        _daily_hist_of(events_df).write.mode("overwrite").parquet(
            os.path.join(t.dir, "counts")
        )
        _snap_meta_row(spark, "__init__").write.mode(
            "overwrite"
        ).parquet(os.path.join(t.dir, "batches"))


def hist_index_update(
    spark: SparkSession, new_events: DataFrame, path: str, batch_id: str
) -> DataFrame:
    """Merge one ingest batch into the histogram table by per-bin SUM —
    EXACTLY-ONCE via the snapshot-embedded ledger (module note above):
    if ``batch_id`` is already applied, return the live counts
    untouched; otherwise write merged counts + extended ledger as a new
    snapshot and atomically swap CURRENT.  Per-batch work is
    O(|batch| + B·days-touched), never corpus-sized.  Returns the
    post-merge (day_us, bin, cnt) frame."""
    base = os.path.join(path, snapshots.snap_live(path))
    ledger = spark.read.parquet(os.path.join(base, "batches"))
    # ledger is batch-count-sized (one row per applied batch) — the
    # membership probe is a steering-sized action, like the k-row
    # centroid collects.
    if ledger.where(F.col("batch_id") == batch_id).limit(1).count() > 0:
        return spark.read.parquet(os.path.join(base, "counts"))
    old = spark.read.parquet(os.path.join(base, "counts"))
    merged = (
        old.unionByName(_daily_hist_of(new_events))
        .groupBy("day_us", "bin")
        .agg(F.sum("cnt").alias("cnt"))
    )
    with snapshots.txn(path, "hist_v") as t:
        merged.write.mode("overwrite").parquet(os.path.join(t.dir, "counts"))
        ledger.unionByName(
            _snap_meta_row(spark, batch_id)
        ).write.mode("overwrite").parquet(os.path.join(t.dir, "batches"))
    return spark.read.parquet(os.path.join(t.dir, "counts"))


# Direct month-grain binning from raw events: equals the Spark side's
# day→month per-bin SUM merge iff histogram merge composes.
_HIST_MONTHLY_ORACLE = f"""
WITH e AS (
    SELECT epoch_us(ts) - epoch_us(ts) % {30 * 24 * 3_600_000_000}
               AS month_us,
           LEAST(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)
                     // {HIST_BIN_CENTS}, {HIST_B - 1}) AS bin
    FROM events
),
hist AS (
    SELECT month_us, bin, COUNT(*) AS cnt FROM e GROUP BY 1, 2
),
c AS (
    SELECT month_us, bin,
           SUM(cnt) OVER (PARTITION BY month_us ORDER BY bin) AS cum,
           SUM(cnt) OVER (PARTITION BY month_us) AS n
    FROM hist
),
agg AS (
    SELECT month_us, MAX(n) AS n_events,
           MIN(CASE WHEN cum >= (n * 50 + 99) // 100 THEN bin END) AS p50_bin,
           MIN(CASE WHEN cum >= (n * 90 + 99) // 100 THEN bin END) AS p90_bin,
           MIN(CASE WHEN cum >= (n * 99 + 99) // 100 THEN bin END) AS p99_bin
    FROM c GROUP BY 1
)
SELECT month_us, CAST(n_events AS BIGINT) AS n_events,
       p50_bin, p50_bin * {HIST_BIN_CENTS} AS p50_lo_cents,
       p90_bin, p90_bin * {HIST_BIN_CENTS} AS p90_lo_cents,
       p99_bin, p99_bin * {HIST_BIN_CENTS} AS p99_lo_cents
FROM agg
ORDER BY month_us
"""


# ----------------------------- KMV bottom-k distinct sketch (round 7)
# The order-statistic member of the mergeable-summary family, closing
# the merge-algebra matrix the registry proves in-engine: HLL merges by
# register MAX, CMS by counter SUM, Bloom by bit OR, the equi-width
# histogram by bin SUM — KMV (k minimum values, Bar-Yossef et al.
# RANDOM'02; Beyer et al. SIGMOD'07) merges by *min-k of the union*, an
# order-statistic merge none of the pointwise monoids exercise.  The
# sketch is the k smallest distinct hash values of the key set; the
# estimator (k−1)·2³²/h_k is exact-integer, and unlike HLL the sketch
# supports a principled Jaccard/intersection estimator (the hashes ARE
# a uniform sample of the union), which segment_jaccard_kmv uses.
# At 100 TB each stored sketch is ≤ KMV_K rows regardless of
# cardinality, and any union of key sets rolls up without re-reading
# raw data.
KMV_K = 256
KMV_SALT = 32  # level-1 fan-out of the exact two-level bottom-k
KMV_HASH_SPACE = 1 << 32


def _bottom_k(df: DataFrame, part_cols: list, k: int) -> DataFrame:
    """Exact per-group bottom-k of a distinct (``part_cols``, h) frame
    via the two-level salted rank: level 1 ranks within (group,
    h % KMV_SALT) so no task ever sorts more than ~1/KMV_SALT of a
    group's hashes (a single-window per-group rank would put a whole
    100 TB day in one task); level 2 ranks the ≤ SALT·k survivors.
    Exact because any of a group's k smallest hashes is also among the
    k smallest of its salt bucket."""
    w1 = Window.partitionBy(
        *part_cols, (F.col("h") % KMV_SALT).alias("salt")
    ).orderBy("h")
    lvl1 = (
        df.withColumn("rn", F.row_number().over(w1))
        .where(F.col("rn") <= k)
        .drop("rn")
    )
    w2 = Window.partitionBy(*part_cols).orderBy("h")
    return (
        lvl1.withColumn("rn", F.row_number().over(w2))
        .where(F.col("rn") <= k)
        .drop("rn")
    )


def _kmv_est(n_kmv: Column, kth: Column) -> Column:
    """(k−1)·2³²/h_k when the sketch is full, exact count when not
    (fewer than k distinct hashes means the sketch IS the set).
    Integer-exact in both engines: single div of long literals."""
    return F.when(n_kmv < KMV_K, n_kmv).otherwise(
        F.expr(f"div({(KMV_K - 1) * KMV_HASH_SPACE}, greatest(kth_h, 1))")
    )


def _user_day_hash() -> Column:
    """Hash of the (user_id, day) ACTIVITY key — the sketched set is
    active user-days, not users: user_id is deliberately too
    low-cardinality in this data (every user is active every month, so
    a user-keyed sketch would sit in the exact n < k regime and never
    exercise the estimator or the min-k truncation).  User-days are the
    standard engagement denominator (DAU-days / MAU) and reach ~30× the
    user cardinality, so the month sketch is genuinely truncated."""
    day_us = F.unix_micros("ts") - F.unix_micros("ts") % (
        24 * 3600 * 1_000_000
    )
    return texts.hash32(
        F.concat_ws(
            ":", F.col("user_id").cast("string"), day_us.cast("string")
        )
    )


_USER_DAY_HASH_SQL = texts.hash32_sql(
    "CAST(user_id AS VARCHAR) || ':' || "
    "CAST(epoch_us(ts) - epoch_us(ts) % 86400000000 AS VARCHAR)"
)


def _daily_kmv_of(events_df: DataFrame) -> DataFrame:
    """(day_us, h) daily bottom-k frame over an arbitrary (ts, user_id)
    events frame — the persisted sketch the month entry, the Jaccard
    entry's shape, and the kmv_index twins all derive from."""
    hashed = events_df.select(
        (
            F.unix_micros("ts") - F.unix_micros("ts") % (24 * 3600 * 1_000_000)
        ).alias("day_us"),
        _user_day_hash().alias("h"),
    ).distinct()
    return _bottom_k(hashed, ["day_us"], KMV_K)


def kmv_index_init(spark: SparkSession, events_df: DataFrame, path: str) -> None:
    """Materialize the per-day KMV bottom-k table for an initial event
    corpus — the continuous-ingest twin for the ORDER-STATISTIC merge,
    completing the persisted-sketch family (minhash / ANN / HLL / Bloom
    / histogram): ≤ KMV_K rows per day kept forever, any window's
    distinct-count estimate served by min-k merge of its days."""
    with snapshots.txn(path, "kmv_v") as t:
        _daily_kmv_of(events_df).write.mode("overwrite").parquet(t.dir)


def kmv_index_update(
    spark: SparkSession, new_events: DataFrame, path: str
) -> DataFrame:
    """Merge a new event batch into the bottom-k table: sketch the
    batch, min-k the union per day, write a NEW snapshot, atomically
    swap CURRENT (shared _snap machinery).  IDEMPOTENT like the
    HLL/Bloom twins — min-k(S ∪ S) = min-k(S), the order-statistic
    merge is a semilattice, so a re-delivered batch is a no-op and no
    ledger is needed (contrast hist_index_update's non-idempotent SUM).
    Per-batch work is O(|batch| + k·days-touched), never corpus-sized."""
    # Both merge inputs are already ≤ k rows/day sketches, so the union
    # is ≤ 2k rows per day BY CONSTRUCTION — a plain per-day rank is
    # skew-safe here and saves the two-level's extra exchange (the
    # two-level stays on the raw-batch side, where a day is unbounded).
    w = Window.partitionBy("day_us").orderBy("h")
    with snapshots.txn(path, "kmv_v") as t:
        merged = (
            spark.read.parquet(t.live)
            .unionByName(_daily_kmv_of(new_events))
            .distinct()
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= KMV_K)
            .drop("rn")
        )
        merged.write.mode("overwrite").parquet(t.dir)
    return spark.read.parquet(t.dir)


def events_kmv_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-grain distinct ACTIVE USER-DAYS by min-k-MERGING the daily
    KMV sketches — the order-statistic merge-law proof, the KMV twin of
    ``events_mau_hll`` (register MAX) and ``events_user_cms_monthly``
    (counter SUM).  The Spark side builds the persisted daily sketch
    (k smallest distinct user-day hashes per day, ≤ KMV_K rows/day via
    the salted two-level rank), then merges day → month by bottom-k of
    the union; the ORACLE sketches each month DIRECTLY from events, so
    the hash gate passes iff min-k(∪_d min-k(S_d)) = min-k(∪_d S_d) —
    and because a month holds ~30× KMV_K more user-days than any single
    day, the month merge genuinely truncates (estimator regime), it is
    not the degenerate everything-fits case.  The exact distinct count
    rides along so the estimator error is visible (σ ≈ 1/√(k−2) ≈ 6.3%
    at k = 256); months with fewer than k distinct hashes are exact by
    construction."""
    e = load_events(spark, sf_dir)
    return _kmv_monthly_serve(spark, _daily_kmv_of(e), e)


def _kmv_monthly_serve(
    spark: SparkSession, daily: DataFrame, events_df: DataFrame
) -> DataFrame:
    """Month min-k merge + estimator + exact companion over a per-day
    bottom-k frame — factored (round 8) for the streaming twin."""
    from .events import MONTH_DAYS_US

    month_sets = daily.select(
        (F.col("day_us") - F.col("day_us") % MONTH_DAYS_US).alias(
            "month_us"
        ),
        "h",
    ).distinct()  # set-union semantics: a hash seen on many days is one
    month_kmv = _bottom_k(month_sets, ["month_us"], KMV_K)
    sketch_agg = month_kmv.groupBy("month_us").agg(
        F.count(F.lit(1)).alias("n_kmv"), F.max("h").alias("kth_h")
    )
    exact = (
        events_df
        .select(
            (
                F.unix_micros("ts") - F.unix_micros("ts") % MONTH_DAYS_US
            ).alias("month_us"),
            "user_id",
            (
                F.unix_micros("ts")
                - F.unix_micros("ts") % (24 * 3600 * 1_000_000)
            ).alias("day_us"),
        )
        .distinct()
        .groupBy("month_us")
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )
    return (
        sketch_agg.join(exact, "month_us")
        .select(
            "month_us",
            "n_exact",
            "n_kmv",
            "kth_h",
            _kmv_est(F.col("n_kmv"), F.col("kth_h")).alias("kmv_est"),
        )
        .orderBy("month_us")
    )


_KMV_EST_SQL = (
    f"CASE WHEN n_kmv < {KMV_K} THEN n_kmv "
    f"ELSE {(KMV_K - 1) * KMV_HASH_SPACE} // GREATEST(kth_h, 1) END"
)

# Direct month-grain sketch over raw events — equals the Spark side's
# day→month min-k merge iff the order-statistic merge law holds.
_KMV_MONTHLY_ORACLE = f"""
WITH hd AS (
    SELECT DISTINCT
           epoch_us(ts) - epoch_us(ts) % {30 * 24 * 3_600_000_000}
               AS month_us,
           {_USER_DAY_HASH_SQL} AS h
    FROM events
),
ranked AS (
    SELECT month_us, h,
           ROW_NUMBER() OVER (PARTITION BY month_us ORDER BY h) AS rn
    FROM hd
),
sk AS (
    SELECT month_us, CAST(COUNT(*) AS BIGINT) AS n_kmv,
           MAX(h) AS kth_h
    FROM ranked WHERE rn <= {KMV_K} GROUP BY 1
),
ex AS (
    SELECT month_us, CAST(COUNT(*) AS BIGINT) AS n_exact
    FROM (SELECT DISTINCT
                 epoch_us(ts) - epoch_us(ts) % {30 * 24 * 3_600_000_000}
                     AS month_us,
                 user_id,
                 epoch_us(ts) - epoch_us(ts) % 86400000000 AS day_us
          FROM events)
    GROUP BY 1
)
SELECT sk.month_us, ex.n_exact, sk.n_kmv, sk.kth_h,
       CAST({_KMV_EST_SQL} AS BIGINT) AS kmv_est
FROM sk JOIN ex ON ex.month_us = sk.month_us
ORDER BY sk.month_us
"""


def segment_jaccard_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard / intersection in sketch space via KMV — the
    principled alternative to ``segment_overlap_hll``'s
    inclusion-exclusion: the union sketch's hashes are a uniform
    k-sample of A∪B (Beyer et al. SIGMOD'07), so the fraction of them
    present in BOTH per-segment sketches estimates J(A,B) directly,
    with binomial error √(J(1−J)/k) — independent of how small the
    overlap is relative to the union, exactly the regime where HLL I-E
    degrades.  The compared sets are (user, day) ACTIVITY sets per
    event type ("on which user-days did a view / a purchase happen") —
    the co-occurrence-affinity metric, and, unlike plain user sets in
    this data, genuinely partially overlapping (see ``_user_day_hash``)
    so the estimate is a real fraction, not the degenerate J = 1.
    Spark builds the union sketch by min-k-MERGING the two per-segment
    sketches; the ORACLE sketches the union segment DIRECTLY (the
    across-filters merge law, KMV edition).  Exact counts ride along;
    everything downstream of the two per-segment bottom-k's is O(k)
    rows.  Integer surface: jaccard_ppm = match·10⁶/|B_∪|, inter_est =
    match·union_est/|B_∪|."""
    e = (
        load_events(spark, sf_dir)
        .where(F.col("event_type").isin(SEG_HLL_A, SEG_HLL_B))
        .select(
            "event_type",
            "user_id",
            (
                F.unix_micros("ts")
                - F.unix_micros("ts") % (24 * 3600 * 1_000_000)
            ).alias("day_us"),
            _user_day_hash().alias("h"),
        )
    )
    hashed = e.select("event_type", "h").distinct()
    seg_kmv = _bottom_k(hashed, ["event_type"], KMV_K)
    a_kmv = seg_kmv.where(F.col("event_type") == SEG_HLL_A).select("h")
    b_kmv = seg_kmv.where(F.col("event_type") == SEG_HLL_B).select("h")
    # min-k merge of the two ≤k-row sketches: distinct → global bottom-k.
    # A plain TakeOrderedAndProject is the right plan at ≤ 2k rows.
    union_kmv = a_kmv.union(b_kmv).distinct().orderBy("h").limit(KMV_K)
    marked = union_kmv.join(
        F.broadcast(a_kmv.withColumn("in_a", F.lit(1))), "h", "left"
    ).join(F.broadcast(b_kmv.withColumn("in_b", F.lit(1))), "h", "left")
    sk = marked.agg(
        F.count(F.lit(1)).alias("n_union_kmv"),
        F.max("h").alias("kth_h"),
        F.sum(
            F.when(
                F.col("in_a").isNotNull() & F.col("in_b").isNotNull(), 1
            ).otherwise(0)
        ).alias("match_cnt"),
    )
    flags = e.groupBy("user_id", "day_us").agg(
        F.max(
            F.when(F.col("event_type") == SEG_HLL_A, 1).otherwise(0)
        ).alias("fa"),
        F.max(
            F.when(F.col("event_type") == SEG_HLL_B, 1).otherwise(0)
        ).alias("fb"),
    )
    exact = flags.agg(
        F.sum("fa").alias("n_a_exact"),
        F.sum("fb").alias("n_b_exact"),
        F.count(F.lit(1)).alias("n_union_exact"),
        F.sum(F.col("fa") * F.col("fb")).alias("n_inter_exact"),
    )
    union_est = F.when(F.col("n_union_kmv") < KMV_K, F.col("n_union_kmv")).otherwise(
        F.expr(f"div({(KMV_K - 1) * KMV_HASH_SPACE}, greatest(kth_h, 1))")
    )
    return (
        exact.crossJoin(F.broadcast(sk))  # two one-row frames
        .withColumn("union_est", union_est)
        .select(
            "n_a_exact",
            "n_b_exact",
            "n_union_exact",
            "n_inter_exact",
            "n_union_kmv",
            "kth_h",
            "match_cnt",
            "union_est",
            F.expr("div(match_cnt * 1000000, n_union_kmv)").alias(
                "jaccard_ppm"
            ),
            F.expr("div(match_cnt * union_est, n_union_kmv)").alias(
                "inter_est"
            ),
        )
    )


_SEG_KMV_ORACLE = f"""
WITH hd AS (
    SELECT DISTINCT event_type, {_USER_DAY_HASH_SQL} AS h
    FROM events
    WHERE event_type IN ('{SEG_HLL_A}', '{SEG_HLL_B}')
),
a AS (SELECT h FROM hd WHERE event_type = '{SEG_HLL_A}'
      ORDER BY h LIMIT {KMV_K}),
b AS (SELECT h FROM hd WHERE event_type = '{SEG_HLL_B}'
      ORDER BY h LIMIT {KMV_K}),
u AS (SELECT DISTINCT h FROM hd ORDER BY h LIMIT {KMV_K}),
sk AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_union_kmv, MAX(u.h) AS kth_h,
           CAST(SUM(CASE WHEN a.h IS NOT NULL AND b.h IS NOT NULL
                         THEN 1 ELSE 0 END) AS BIGINT) AS match_cnt
    FROM u LEFT JOIN a ON a.h = u.h LEFT JOIN b ON b.h = u.h
),
flags AS (
    SELECT user_id,
           epoch_us(ts) - epoch_us(ts) % 86400000000 AS day_us,
           MAX(CASE WHEN event_type = '{SEG_HLL_A}' THEN 1 ELSE 0 END)
               AS fa,
           MAX(CASE WHEN event_type = '{SEG_HLL_B}' THEN 1 ELSE 0 END)
               AS fb
    FROM events
    WHERE event_type IN ('{SEG_HLL_A}', '{SEG_HLL_B}')
    GROUP BY 1, 2
),
ex AS (
    SELECT CAST(SUM(fa) AS BIGINT) AS n_a_exact,
           CAST(SUM(fb) AS BIGINT) AS n_b_exact,
           CAST(COUNT(*) AS BIGINT) AS n_union_exact,
           CAST(SUM(fa * fb) AS BIGINT) AS n_inter_exact
    FROM flags
),
est AS (
    SELECT *,
           CAST(CASE WHEN n_union_kmv < {KMV_K} THEN n_union_kmv
                ELSE {(KMV_K - 1) * KMV_HASH_SPACE} // GREATEST(kth_h, 1)
                END AS BIGINT) AS union_est
    FROM ex, sk
)
SELECT n_a_exact, n_b_exact, n_union_exact, n_inter_exact,
       n_union_kmv, kth_h, match_cnt, union_est,
       CAST(match_cnt * 1000000 // n_union_kmv AS BIGINT) AS jaccard_ppm,
       CAST(match_cnt * union_est // n_union_kmv AS BIGINT) AS inter_est
FROM est
"""


# --------------------- bottom-k sample quantile sketch (round 7)
# The QUANTILE member of the mergeable-summary family: a deterministic
# uniform row sample via bottom-k on a per-row hash. The histogram path
# (events_value_hist_monthly) serves percentiles from FIXED-RANGE
# equi-width bins — resolution-bounded and needing known bounds; the
# sample path serves RANK-error-bounded quantiles over any value range:
# the k smallest row hashes are a uniform k-sample of the rows, so the
# ceil(q·n)-th order statistic of the sample estimates the q-quantile
# with binomial rank error √(q(1−q)/k), independent of the value
# distribution. Mergeable by min-k of the union — the same
# order-statistic semilattice as KMV, proved in-engine the same way
# (the oracle sketches the month DIRECTLY; the quantile columns are
# functions of the sample, so the hash gate covers the law end-to-end).
QSAMPLE_K = 256


def _row_hash60() -> Column:
    """60-bit per-event sample key (md5 prefix of the unique event_id) —
    wide enough that ties are out of the operating range (birthday at
    2^30 rows per day), so the bottom-k order is total in practice and
    bit-identical across engines."""
    return F.conv(
        F.substring(
            F.md5(F.concat(F.lit("qs:"), F.col("event_id").cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")


_ROW_HASH60_SQL = (
    "CAST('0x' || substr(md5('qs:' || CAST(event_id AS VARCHAR)), 1, 15) "
    "AS BIGINT)"
)


def _pick_rank(qnum: int, qden: int) -> Column:
    """Value at the exact-integer rank ceil(q·n) of the (cents, h)-sorted
    frame — aggregate form: the single row whose rn equals the rank."""
    rank = F.expr(f"div(n * {qnum} + {qden - 1}, {qden})")
    return F.max(F.when(F.col("rn") == rank, F.col("cents")))


def _daily_qsample_of(events_df: DataFrame) -> DataFrame:
    """(day_us, h, cents) daily bottom-k row-sample frame — the persisted
    sketch the month entry and the qsample_index twins derive from."""
    from .events import _cents

    day_us = F.col("ts_us") - F.col("ts_us") % (24 * 3600 * 1_000_000)
    rows = events_df.select(
        day_us.alias("day_us"),
        _row_hash60().alias("h"),
        _cents("value").alias("cents"),
    )
    return _bottom_k(rows, ["day_us"], QSAMPLE_K)


def qsample_index_init(
    spark: SparkSession, events_df: DataFrame, path: str
) -> None:
    """Materialize the per-day bottom-k ROW-SAMPLE table (h, cents) — the
    continuous-ingest twin for the quantile sketch: ≤ QSAMPLE_K rows per
    day kept forever, any window's rank quantiles served by min-k merge
    of its days (same semilattice and snapshot durability as the KMV
    twin; the carried ``cents`` payload is what turns the membership
    sketch into a quantile sketch)."""
    with snapshots.txn(path, "qs_v") as t:
        _daily_qsample_of(events_df).write.mode("overwrite").parquet(t.dir)


def qsample_index_update(
    spark: SparkSession, new_events: DataFrame, path: str
) -> DataFrame:
    """Merge a new event batch into the row-sample table: sketch the
    batch, min-k the union per day, write a NEW snapshot, atomically
    swap CURRENT. IDEMPOTENT — min-k(S ∪ S) = min-k(S) and the 60-bit
    key makes the per-row (h, cents) pair unique, so a re-delivered
    batch is a no-op (no ledger; contrast hist_index_update's SUM).
    Per-batch work is O(|batch| + k·days-touched), never corpus-sized."""
    w = Window.partitionBy("day_us").orderBy("h")
    with snapshots.txn(path, "qs_v") as t:
        merged = (
            spark.read.parquet(t.live)
            .unionByName(_daily_qsample_of(new_events))
            .distinct()
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= QSAMPLE_K)
            .drop("rn")
        )
        merged.write.mode("overwrite").parquet(t.dir)
    return spark.read.parquet(t.dir)


def events_value_quantiles_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-grain value quantiles from MERGED daily bottom-k row
    samples — the quantile sketch completing the merge-algebra matrix
    (HLL register-MAX, CMS counter-SUM, Bloom bit-OR, histogram
    bin-SUM, KMV/sample min-k).

    Day grain: every event row gets a 60-bit hash key; the k smallest
    keyed rows (with their integer-cents values) are the day's sketch —
    ≤ k rows/day regardless of volume, built with the exact salted
    two-level rank (no task ever sorts a whole day). Month grain: min-k
    of the union of the days' sketches — the order-statistic merge, so
    persisted daily samples roll up to any window without re-reading
    events. Serving: the ceil(q·n)-th order statistic of the merged
    sample (exact integer ranks, no float percentile). The ORACLE
    sketches the month directly from events, so the hash gate proves
    min-k-of-union = direct-sample — and because the p50/p90/p99
    columns are functions of the sample, the law is proved through to
    the served quantiles.

    Exact companions p*_true (the same order statistics over ALL month
    rows) ride along so the rank-error envelope stays visible —
    verification-scale by design, like every n_true companion; the
    sketch side never touches more than k rows per grain after the
    per-day rank. tests/test_sketch.py pins the binomial rank-error
    envelope and the sub-k exact regime (sample = population ⇒
    estimate ≡ truth)."""
    return _qsample_monthly_of(load_events(spark, sf_dir))


def _qsample_monthly_of(e: DataFrame) -> DataFrame:
    """Frame-level core of :func:`events_value_quantiles_monthly` — also
    driven by the sub-k exact-regime pytest."""
    from .events import MONTH_DAYS_US, _cents

    return _qsample_monthly_serve(_daily_qsample_of(e), e)


def _qsample_monthly_serve(daily: DataFrame, e: DataFrame) -> DataFrame:
    """Month min-k merge + rank-quantile serving + exact companions over
    a per-day (h, cents) sample frame — factored (round 8) for the
    streaming twin."""
    from .events import MONTH_DAYS_US, _cents

    day_us = F.col("ts_us") - F.col("ts_us") % (24 * 3600 * 1_000_000)
    rows = e.select(
        day_us.alias("day_us"),
        _row_hash60().alias("h"),
        _cents("value").alias("cents"),
    )
    month_of = lambda c: F.col(c) - F.col(c) % F.lit(MONTH_DAYS_US)  # noqa: E731
    merged = _bottom_k(
        daily.select(month_of("day_us").alias("month_us"), "h", "cents"),
        ["month_us"],
        QSAMPLE_K,
    )
    west = Window.partitionBy("month_us").orderBy(F.asc("cents"), F.asc("h"))
    est = (
        merged.withColumn("rn", F.row_number().over(west))
        .withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("month_us")))
        .groupBy("month_us")
        .agg(
            F.max("n").alias("n_sample"),
            _pick_rank(1, 2).alias("p50_est"),
            _pick_rank(9, 10).alias("p90_est"),
            _pick_rank(99, 100).alias("p99_est"),
        )
    )
    # Exact truth WITHOUT a per-month single-partition row sort (the ×5
    # probe caught the row_number form at 3.8× — the zorder-ntile
    # anti-pattern): aggregate to the (month, cents) VALUE grain first
    # (a partial-agg shuffle; cardinality bounded by the value DOMAIN,
    # not data volume), then one cumulative window over the aggregated
    # frame picks the min cents whose running count reaches ceil(q·n) —
    # the identical order-statistic value, since ranks within equal
    # cents all carry the same cents.
    per_val = (
        rows.groupBy(month_of("day_us").alias("month_us"), F.col("cents"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wcum = (
        Window.partitionBy("month_us")
        .orderBy(F.asc("cents"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = per_val.withColumn("cum", F.sum("cnt").over(wcum)).withColumn(
        "n", F.sum("cnt").over(Window.partitionBy("month_us"))
    )

    def pick_true(qnum: int, qden: int) -> Column:
        rank = F.expr(f"div(n * {qnum} + {qden - 1}, {qden})")
        return F.min(F.when(F.col("cum") >= rank, F.col("cents")))

    truth = cum.groupBy("month_us").agg(
        F.max("n").alias("n_events"),
        pick_true(1, 2).alias("p50_true"),
        pick_true(9, 10).alias("p90_true"),
        pick_true(99, 100).alias("p99_true"),
    )
    return (
        est.join(truth, "month_us")
        .select(
            "month_us", "n_events", "n_sample",
            "p50_est", "p90_est", "p99_est",
            "p50_true", "p90_true", "p99_true",
        )
        .orderBy("month_us")
    )


def _qsample_monthly_oracle_sql() -> str:
    from .events import MONTH_DAYS_US

    month = f"day_us - day_us % {MONTH_DAYS_US}"
    return f"""
WITH rows AS MATERIALIZED (
    SELECT epoch_us(ts) - epoch_us(ts) % {24 * 3600 * 1_000_000} AS day_us,
           {_ROW_HASH60_SQL} AS h,
           CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
    FROM events
),
-- the oracle sketches the MONTH directly: bottom-k by hash per month
msk AS (
    SELECT month_us, h, cents FROM (
        SELECT {month} AS month_us, h, cents,
               ROW_NUMBER() OVER (PARTITION BY {month} ORDER BY h) AS rk
        FROM rows
    ) WHERE rk <= {QSAMPLE_K}
),
est AS (
    SELECT month_us, MAX(n) AS n_sample,
           MAX(CASE WHEN rn = (n * 1 + 1) // 2 THEN cents END) AS p50_est,
           MAX(CASE WHEN rn = (n * 9 + 9) // 10 THEN cents END) AS p90_est,
           MAX(CASE WHEN rn = (n * 99 + 99) // 100 THEN cents END) AS p99_est
    FROM (
        SELECT month_us, cents,
               ROW_NUMBER() OVER (PARTITION BY month_us
                   ORDER BY cents ASC, h ASC) AS rn,
               COUNT(*) OVER (PARTITION BY month_us) AS n
        FROM msk
    ) GROUP BY month_us
),
truth AS (
    SELECT month_us, MAX(n) AS n_events,
           MAX(CASE WHEN rn = (n * 1 + 1) // 2 THEN cents END) AS p50_true,
           MAX(CASE WHEN rn = (n * 9 + 9) // 10 THEN cents END) AS p90_true,
           MAX(CASE WHEN rn = (n * 99 + 99) // 100 THEN cents END) AS p99_true
    FROM (
        SELECT {month} AS month_us, cents,
               ROW_NUMBER() OVER (PARTITION BY {month}
                   ORDER BY cents ASC, h ASC) AS rn,
               COUNT(*) OVER (PARTITION BY {month}) AS n
        FROM rows
    ) GROUP BY month_us
)
SELECT e.month_us, t.n_events, e.n_sample,
       e.p50_est, e.p90_est, e.p99_est,
       t.p50_true, t.p90_true, t.p99_true
FROM est e JOIN truth t USING (month_us)
ORDER BY e.month_us
"""


# ------------------------------ Sketch-driven planner statistics (round 12)
# The pre-execution statistics a cost-based optimizer / AQE consults at
# 100 TB, built from the SAME mergeable summaries the serving entries
# store: (a) join-output cardinality from two Count-Min counter tables
# (the frequency-vector inner product — Alon-Matias-Szegedy STOC'96 §2,
# Cormode-Muthukrishnan 2005 §4.2: for every hash row r,
# Σ_b cmsR[r][b]·cmsS[r][b] = Σ_v fR(v)·fS(v) + non-negative collision
# cross-terms, so each row overestimates and the row-wise MIN is still
# ≥ the true join size), and (b) a per-column NDV + null-count table
# profile from ONE melt pass + HLL registers (the ANALYZE TABLE shape).
# Both summaries are fixed-size regardless of data volume and merge
# (counter-SUM / register-MAX) across partitions, days, clusters — the
# estimate is available BEFORE the shuffle it prices.


def _cms_counters_of(per_key: DataFrame) -> DataFrame:
    """(user_id, n) frequency frame → (r, bucket, cnt) CMS counter
    table (d·w ≤ 1536 rows, map-side combinable).  Linear in the
    frequency vector: counters(f+g) = counters(f) + counters(g) —
    tests/test_sketch.py pins this by building the two halves of the
    event log separately and SUM-merging."""
    return (
        _cms_expand(per_key)
        .groupBy("r", "bucket")
        .agg(F.sum("n").alias("cnt"))
    )


def _cms_inner_product(cv: DataFrame, cp: DataFrame) -> DataFrame:
    """Row-wise inner product of two counter tables → 1-row (cms_est).
    Inner join on (r, bucket): a bucket absent from either side
    contributes a zero term, so the inner join IS the sparse inner
    product.  min over the d hash rows tightens the collision
    overestimate (est_r ≥ true for every r)."""
    return (
        cv.withColumnRenamed("cnt", "cnt_v")
        .join(cp.withColumnRenamed("cnt", "cnt_p"), ["r", "bucket"])
        .groupBy("r")
        .agg(F.sum(F.col("cnt_v") * F.col("cnt_p")).alias("est_r"))
        .agg(F.min("est_r").alias("cms_est"))
    )


def join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-shuffle join-cardinality estimate: |views ⋈ purchases on
    user_id| from two CMS counter tables, next to the exact size.

    The 100 TB story: the true output size of a many-to-many join is
    Σ_u f_views(u)·f_purchases(u) — computing it exactly costs the very
    shuffle you are trying to price.  The CMS estimate needs only the
    two d×w counter tables (≤ 1536 rows each, one map-combinable pass
    per side, maintainable incrementally by counter-SUM), and
    overestimates by at most the collision mass ‖f_V‖₁·‖f_P‖₁·e/w per
    row w.h.p.  This is what lets a planner pick broadcast vs shuffle
    vs skew-salt BEFORE running the join.  Exact-integer end to end
    (counts × counts), so the DuckDB oracle — the identical formula —
    hashes bit-for-bit; the overestimate guarantee (cms_est ≥
    true_size) is visible in the result and pytest-pinned along with
    counter linearity."""
    e = load_events(spark, sf_dir)

    def per_user(etype: str) -> DataFrame:
        return (
            e.where(F.col("event_type") == etype)
            .groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    views, purchases = per_user("view"), per_user("purchase")
    true_size = (
        views.alias("v")
        .join(purchases.alias("p"), "user_id")
        .agg(F.sum(F.col("v.n") * F.col("p.n")).alias("true_size"))
    )
    est = _cms_inner_product(
        _cms_counters_of(views), _cms_counters_of(purchases)
    )
    return true_size.crossJoin(est).select(
        "true_size",
        "cms_est",
        (F.col("cms_est") - F.col("true_size")).alias("overestimate"),
    )


_JOIN_SIZE_ORACLE = f"""
WITH per_v AS (
    SELECT user_id, COUNT(*) AS n FROM events
    WHERE event_type = 'view' GROUP BY 1
),
per_p AS (
    SELECT user_id, COUNT(*) AS n FROM events
    WHERE event_type = 'purchase' GROUP BY 1
),
cv AS (
    SELECT r,
           {texts.hash32_sql(
               "'cms' || CAST(r AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)"
           )} % {CMS_W} AS bucket,
           SUM(n) AS cnt_v
    FROM per_v, (SELECT unnest([{', '.join(str(r) for r in range(CMS_D))}]) AS r)
    GROUP BY 1, 2
),
cp AS (
    SELECT r,
           {texts.hash32_sql(
               "'cms' || CAST(r AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)"
           )} % {CMS_W} AS bucket,
           SUM(n) AS cnt_p
    FROM per_p, (SELECT unnest([{', '.join(str(r) for r in range(CMS_D))}]) AS r)
    GROUP BY 1, 2
),
per_r AS (
    SELECT cv.r, SUM(cv.cnt_v * cp.cnt_p) AS est_r
    FROM cv JOIN cp ON cp.r = cv.r AND cp.bucket = cv.bucket
    GROUP BY 1
),
t AS (
    SELECT CAST(SUM(v.n * p.n) AS BIGINT) AS true_size
    FROM per_v v JOIN per_p p ON p.user_id = v.user_id
)
SELECT t.true_size,
       CAST(MIN(per_r.est_r) AS BIGINT) AS cms_est,
       CAST(MIN(per_r.est_r) AS BIGINT) - t.true_size AS overestimate
FROM per_r, t
GROUP BY t.true_size
"""


# Per-column canonicalization for the NDV profile, defined ONCE as
# (name, kind) and rendered into BOTH engines from the same table so
# the hash domains are bit-identical: ids/strings cast as-is, doubles
# at Q4 fixed point via floor(x·10⁴ + ½) (the +½ absorbs binary
# representation noise on either side of the integer; FLOOR then agrees
# between Spark's truncating and DuckDB's rounding double→int casts),
# timestamps at their natural day grain.
_NDV_PROFILE_COLS: list[tuple[str, str]] = [
    ("l_orderkey", "id"),
    ("l_partkey", "id"),
    ("l_suppkey", "id"),
    ("l_linenumber", "id"),
    ("l_quantity", "q4"),
    ("l_extendedprice", "q4"),
    ("l_discount", "q4"),
    ("l_tax", "q4"),
    ("l_returnflag", "str"),
    ("l_linestatus", "str"),
    ("l_shipdate", "date"),
]


def _ndv_canon_spark(name: str, kind: str) -> Column:
    c = F.col(name)
    if kind == "id":
        return c.cast("string")
    if kind == "q4":
        return F.floor(c * 10000 + F.lit(0.5)).cast("string")
    if kind == "date":
        return F.date_format(c, "yyyy-MM-dd")
    return c


def _ndv_canon_sql(name: str, kind: str) -> str:
    if kind == "id":
        return f"CAST({name} AS VARCHAR)"
    if kind == "q4":
        return f"CAST(CAST(FLOOR({name} * 10000 + 0.5) AS BIGINT) AS VARCHAR)"
    if kind == "date":
        return f"strftime({name}, '%Y-%m-%d')"
    return name


def _ndv_melted(df: DataFrame) -> DataFrame:
    """lineitem rows → (col_name, v) canonical melt — one explode over
    the row, shared by the batch profile and the incremental index so
    the hash domain cannot drift between them."""
    return df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("col_name"),
                        _ndv_canon_spark(name, kind).alias("v"),
                    )
                    for name, kind in _NDV_PROFILE_COLS
                ]
            )
        ).alias("s")
    ).select("s.col_name", "s.v")


def _ndv_regs_of(melted: DataFrame) -> DataFrame:
    """(col_name, v) → (col_name, reg, m_reg) HLL registers, per-column
    salt inside the hash input."""
    h = melted.where(F.col("v").isNotNull()).select(
        "col_name",
        texts.hash32(
            F.concat(F.lit("ndv:"), F.col("col_name"), F.lit(":"), F.col("v"))
        ).alias("h"),
    )
    w = F.expr(f"div(h, {HLL_M})")
    rho = F.when(w == 0, F.lit(HLL_W_BITS + 1)).otherwise(
        F.lit(HLL_W_BITS + 1) - F.length(F.bin(w))
    )
    return (
        h.select("col_name", (F.col("h") % HLL_M).alias("reg"), rho.alias("rho"))
        .groupBy("col_name", "reg")
        .agg(F.max("rho").alias("m_reg"))
    )


def _ndv_distinct(melted: DataFrame) -> DataFrame:
    """(col_name, v) → one row per DISTINCT (column, value) with its
    multiplicity — the single map-combinable shuffle both profile
    halves derive from (round 12 optimization): counts come back via
    SUM(c), exact NDV is the non-null row count, and the HLL registers
    are invariant under duplicate removal (register update is a MAX, so
    hashing each distinct value once is identical to hashing every
    occurrence).  The previous form scanned + exploded the table once
    per half."""
    return melted.groupBy("col_name", "v").agg(F.count(F.lit(1)).alias("c"))


def _ndv_counts_of(dv: DataFrame) -> DataFrame:
    """distinct frame (col_name, v, c) → per-column (n_rows, n_null) —
    the SUM-mergeable half of the profile state."""
    return dv.groupBy("col_name").agg(
        F.sum("c").alias("n_rows"),
        F.sum(
            F.when(F.col("v").isNull(), F.col("c")).otherwise(F.lit(0))
        ).alias("n_null"),
    )


def lineitem_ndv_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE-shape statistics for every lineitem column in ONE
    pass: row count, null count, exact NDV (the fixture-scale truth
    column), and the HLL register estimate a production profiler would
    keep instead.

    Plan shape: melt the 11 columns into (col_name, v) with a single
    explode over the row (one scan of the table regardless of column
    count), then two map-side-combinable aggregates — per-column
    counts and per-(column, register) rho-MAX (512 registers/column,
    5,632 register rows TOTAL shuffled at any scale).  The per-column
    salt rides inside the hash input ('ndv:' || col || ':' || v) so
    one register frame serves all columns.  ``ndv_true`` (exact
    COUNT DISTINCT per column) is the audit column, quadratic in
    nothing but memory-bounded by the distinct domain — at deployment
    scale the profiler keeps only the registers, which MAX-merge
    across partitions/files/days (the events_mau_hll law).  Estimator
    columns are the same exact-integer FFGM surface as
    ``events_dau_hll`` (raw estimate + small-range flag; the
    linear-counting correction applies downstream where flagged —
    envelope pytest-pinned per column across both regimes)."""
    # ONE melt scan + ONE (col, value) distinct shuffle; counts, exact
    # NDV, and registers all derive from the staged distinct frame
    # (round 12 opt — the un-cut plan ran the scan+explode per half, and
    # count_distinct's internal expansion re-did the same dedup anyway).
    dv = _ndv_distinct(
        _ndv_melted(load_table(spark, sf_dir, "lineitem"))
    ).localCheckpoint()
    base = dv.groupBy("col_name").agg(
        F.sum("c").alias("n_rows"),
        F.sum(
            F.when(F.col("v").isNull(), F.col("c")).otherwise(F.lit(0))
        ).alias("n_null"),
        F.count(F.when(F.col("v").isNotNull(), F.lit(1))).alias("ndv_true"),
    )
    return (
        base.join(
            _hll_estimate(_ndv_regs_of(dv.select("col_name", "v")), "col_name"),
            "col_name",
        )
        .select(
            "col_name",
            "n_rows",
            "n_null",
            "ndv_true",
            "n_zero_regs",
            "z_scaled",
            "hll_raw",
            "small_range",
        )
        .orderBy("col_name")
    )


def _ndv_profile_oracle_sql() -> str:
    branches = "\n    UNION ALL ".join(
        f"SELECT '{name}' AS col_name, {_ndv_canon_sql(name, kind)} AS v"
        f" FROM lineitem"
        for name, kind in _NDV_PROFILE_COLS
    )
    zs = f"z_present + ({HLL_M} - n_present) * {1 << (HLL_W_BITS + 1)}"
    return f"""
WITH melted AS (
    {branches}
),
base AS (
    SELECT col_name, COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null,
           COUNT(DISTINCT v) AS ndv_true
    FROM melted GROUP BY 1
),
h AS (
    SELECT col_name,
           {texts.hash32_sql("'ndv:' || col_name || ':' || v")} AS h
    FROM melted WHERE v IS NOT NULL
),
regs AS (
    SELECT col_name, h % {HLL_M} AS reg,
           MAX(CASE WHEN h // {HLL_M} = 0 THEN {HLL_W_BITS + 1}
                    ELSE {HLL_W_BITS + 1} - LENGTH(bin(h // {HLL_M}))
               END) AS m_reg
    FROM h GROUP BY 1, 2
),
per AS (
    SELECT col_name, COUNT(*) AS n_present,
           CAST(SUM(CAST(POW(2, {HLL_W_BITS + 1} - m_reg) AS BIGINT))
                AS BIGINT) AS z_present
    FROM regs GROUP BY 1
)
SELECT b.col_name, b.n_rows, b.n_null, b.ndv_true,
       CAST({HLL_M} - n_present AS BIGINT) AS n_zero_regs,
       CAST({zs} AS BIGINT) AS z_scaled,
       CAST({HLL_RAW_NUM} // ({zs}) AS BIGINT) AS hll_raw,
       ({HLL_RAW_NUM} // ({zs})) * 2 <= {5 * HLL_M}
           AND ({HLL_M} - n_present) > 0 AS small_range
FROM base b JOIN per USING (col_name)
ORDER BY col_name
"""


def ndv_index_init(spark: SparkSession, df: DataFrame, path: str) -> None:
    """Materialize the table-profile state for an initial corpus — the
    continuous-ingest twin of :func:`lineitem_ndv_profile`, completing
    the family contract every other sketch index carries.  State per
    snapshot: ``regs`` (col_name, reg, m_reg — MAX-mergeable, ≤ 11·512
    rows forever), ``counts`` (col_name, n_rows, n_null — SUM-merged,
    so exactly-once via the ``batches`` ledger, the hist/CMS index
    convention), 11 + 5,632 rows of state however large the table
    grows.  The exact-NDV audit column of the batch entry is
    deliberately NOT maintained (it is corpus-sized state); serving
    emits the estimator profile."""
    # one melt scan; regs + counts both read the staged distinct frame
    dv = _ndv_distinct(_ndv_melted(df)).localCheckpoint()
    with snapshots.txn(path, "ndv_v") as t:
        _ndv_regs_of(dv.select("col_name", "v")).write.mode(
            "overwrite"
        ).parquet(os.path.join(t.dir, "regs"))
        _ndv_counts_of(dv).write.mode("overwrite").parquet(
            os.path.join(t.dir, "counts")
        )
        _snap_meta_row(spark, "__init__").write.mode(
            "overwrite"
        ).parquet(os.path.join(t.dir, "batches"))


def ndv_index_update(
    spark: SparkSession, df: DataFrame, path: str, batch_id: str
) -> DataFrame:
    """Merge one ingest batch into the profile state: registers by
    register-wise MAX (idempotent by algebra), counts by SUM (made
    exactly-once by the snapshot-embedded ledger — a re-delivered
    ``batch_id`` returns the live profile untouched).  Per-batch work
    is O(|batch| + state), state is fixed-size; returns the post-merge
    serving profile.  Serving parity with the batch entry's estimator
    columns is pytest-pinned (init on half A, update with half B ≡
    one-shot profile of A ∪ B — MAX/SUM merge laws compose)."""
    base = os.path.join(path, snapshots.snap_live(path))
    ledger = spark.read.parquet(os.path.join(base, "batches"))
    if ledger.where(F.col("batch_id") == batch_id).limit(1).count() > 0:
        return ndv_index_profile(spark, path)
    # one melt scan per batch; regs + counts read the staged distinct frame
    dv = _ndv_distinct(_ndv_melted(df)).localCheckpoint()
    regs = (
        spark.read.parquet(os.path.join(base, "regs"))
        .unionByName(_ndv_regs_of(dv.select("col_name", "v")))
        .groupBy("col_name", "reg")
        .agg(F.max("m_reg").alias("m_reg"))
    )
    counts = (
        spark.read.parquet(os.path.join(base, "counts"))
        .unionByName(_ndv_counts_of(dv))
        .groupBy("col_name")
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.sum("n_null").alias("n_null"),
        )
    )
    with snapshots.txn(path, "ndv_v") as t:
        regs.write.mode("overwrite").parquet(os.path.join(t.dir, "regs"))
        counts.write.mode("overwrite").parquet(os.path.join(t.dir, "counts"))
        ledger.unionByName(
            _snap_meta_row(spark, batch_id)
        ).write.mode("overwrite").parquet(os.path.join(t.dir, "batches"))
    return ndv_index_profile(spark, path)


def ndv_index_profile(spark: SparkSession, path: str) -> DataFrame:
    """Serve the estimator profile from the live state — the batch
    entry's columns minus the corpus-sized exact-NDV audit column."""
    base = os.path.join(path, snapshots.snap_live(path))
    counts = spark.read.parquet(os.path.join(base, "counts"))
    regs = spark.read.parquet(os.path.join(base, "regs"))
    return (
        counts.join(_hll_estimate(regs, "col_name"), "col_name")
        .select(
            "col_name",
            "n_rows",
            "n_null",
            "n_zero_regs",
            "z_scaled",
            "hll_raw",
            "small_range",
        )
        .orderBy("col_name")
    )


QUERIES = {
    "events_heavy_hitters": events_heavy_hitters,
    "events_heavy_hitters_monthly": events_heavy_hitters_monthly,
    "events_value_quantiles_monthly": events_value_quantiles_monthly,
    "events_dau_hll": events_dau_hll,
    "events_mau_hll": events_mau_hll,
    "events_user_cms": events_user_cms,
    "events_user_cms_monthly": events_user_cms_monthly,
    "events_user_bloom_monthly": events_user_bloom_monthly,
    "orders_bloom_semi_join": orders_bloom_semi_join,
    "segment_overlap_hll": segment_overlap_hll,
    "events_value_hist_monthly": events_value_hist_monthly,
    "events_kmv_monthly": events_kmv_monthly,
    "segment_jaccard_kmv": segment_jaccard_kmv,
    "join_size_estimate": join_size_estimate,
    "lineitem_ndv_profile": lineitem_ndv_profile,
}

ORACLE_SQL = {
    "events_heavy_hitters": _HH_ORACLE,
    "events_heavy_hitters_monthly": _mg_monthly_oracle_sql(),
    "events_value_quantiles_monthly": _qsample_monthly_oracle_sql(),
    "events_dau_hll": _HLL_ORACLE,
    "events_mau_hll": _MAU_HLL_ORACLE,
    "events_user_cms": _CMS_ORACLE,
    "events_user_cms_monthly": _CMS_MONTHLY_ORACLE,
    "events_user_bloom_monthly": _BLOOM_MONTHLY_ORACLE,
    "orders_bloom_semi_join": _BLOOM_JOIN_ORACLE,
    "segment_overlap_hll": _SEG_HLL_ORACLE,
    "events_value_hist_monthly": _HIST_MONTHLY_ORACLE,
    "events_kmv_monthly": _KMV_MONTHLY_ORACLE,
    "segment_jaccard_kmv": _SEG_KMV_ORACLE,
    "join_size_estimate": _JOIN_SIZE_ORACLE,
    "lineitem_ndv_profile": _ndv_profile_oracle_sql(),
}
