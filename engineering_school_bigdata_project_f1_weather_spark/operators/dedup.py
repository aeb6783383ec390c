"""Deduplication operators over the ``documents`` / ``embeddings`` tables —
the training-data-pipeline surface beyond the reference's own queries
(BASELINE.json north star).

Five strategies, cheapest→strongest, all declarative DataFrame plans:

- exact           : md5 content hash, hash-partitioned groupBy.
- fingerprint     : canonical md5 over sorted distinct tokens (doc
                    "family" dedup — word-order / repetition invariant).
- minhash LSH     : shingle → uint32 → H permutation-mins → banded
                    candidate join → exact-Jaccard verify. The scale path:
                    candidate pairs only, never all pairs.
- simhash         : 32-bit sign-aggregated token hash per doc.
- embedding       : quantized-cosine threshold pairs (brute force; the
                    LSH-bucketed variant lives in operators/similarity.py).

Scale notes (100 TB): every strategy shuffles on a derived key (content
hash / minhash band / LSH bucket) so work is proportional to candidate
pairs, not |docs|². The only quadratic operator (ngram_jaccard,
embedding_pairs) is deliberately labeled as the small-side/verify path.
All hashing is md5-prefix based (``functions.texts.hash32``) so the DuckDB
oracle reproduces it bit-for-bit.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..functions import snapshots, texts, vectors
from ..functions.jobs import run_overlapped
from ..functions.localrel import empty_rel, local_rows
from ..sources.tables import load_table, load_table_spread

# MinHash parameters — shared between the Spark plan and the generated
# oracle SQL (single source of truth). H hash functions, 1-row bands
# (a candidate pair shares at least one minhash value).
MINHASH_P = 4294967311  # prime > 2^32
MINHASH_A = [1021, 2039, 4093, 8191, 16381, 32749, 65521, 131071]
MINHASH_B = [7, 11, 13, 17, 19, 23, 29, 31]
SIMHASH_BITS = 32
NGRAM_JACCARD_MIN_E6 = 10_000  # jaccard ≥ 0.01 (synthetic docs barely overlap)
EMBED_DUP_MIN_E6 = 300_000  # cosine ≥ 0.3 (synthetic max ≈ 0.48)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Spread: every dedup strategy does per-token md5 work downstream of
    # this scan — a single-row-group file must not pin that to one core.
    return load_table_spread(spark, sf_dir, "documents")


# ------------------------------------------------------------------ exact
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content hash; keeper = min doc_id.

    One hash-partitioned shuffle on the digest — the 100 TB-safe shape
    (map-side partial aggregation, no driver involvement).
    """
    return (
        _docs(spark, sf_dir)
        .select(F.md5("text").alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keeper_id"))
    )


# ------------------------------------------------------------ fingerprint
def dedup_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical fingerprint: md5 over sorted distinct tokens — catches
    word-order permutations and repetition-only edits."""
    d = _docs(spark, sf_dir)
    fp = F.md5(
        F.array_join(F.array_sort(F.array_distinct(texts.tokens(F.col("text")))), " ")
    )
    return (
        d.select(fp.alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keeper_id"))
    )


# ------------------------------------------------------------ minhash LSH
def _shingle_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shingle-hash x) — distinct 3-token shingles, uint32 domain."""
    return _shingle_hashes_of(_docs(spark, sf_dir))


def _shingle_hashes_of(d: DataFrame) -> DataFrame:
    """Shingle-hash frame over an arbitrary (doc_id, text) frame — shared
    by the sf_dir path and the sampled recall audit.

    Round 6: built on :func:`texts.shingle_frame` (posexplode + window
    lead — all codegen) instead of the interpreted per-row shingle
    transform, which was measured as the dominant cost of every shingle
    consumer (SCALE.md round-6 sparse-sim note). Identical shingle set."""
    return texts.shingle_frame(d).select(
        "doc_id", texts.hash32(F.col("g")).alias("x")
    )


def _minhash_min_exprs() -> list:
    """The H per-doc min-hash aggregate expressions — single source of
    truth shared by the production LSH entry and the recall audit (an
    audit computed against a diverged sketch would measure nothing)."""
    return [
        F.min((F.lit(a) * F.col("x") + F.lit(b)) % F.lit(MINHASH_P)).alias(f"mh{h}")
        for h, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    ]


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH near-dup candidates with exact-Jaccard verification.

    Plan shape (every stage a shuffle on a *derived small key*):
      1. shingle+hash (narrow), 2. ONE groupBy doc → H mins + set size +
         the shingle set itself (collect_set) in a single shuffle,
      3. explode signature → self-join on (h, min) = banded LSH bucket join,
      4. exact |∩|/|∪| verify via array_intersect on the candidates'
         collected sets — two narrow joins carrying arrays for candidate
         pairs only, instead of re-shuffling the full exploded shingle
         table twice (measured ~1.8× on the whole query at sf0.1; at scale
         the verify traffic is candidate-bounded either way, but this
         shape touches the big table once, not three times).
    Output: (doc_a, doc_b, inter, un, jaccard_e6) for verified candidates.
    """
    # dedup=False (round 6): mins' collect_set and MIN aggregates absorb
    # duplicate shingle occurrences, so the per-doc dedup pass inside
    # shingle_frame would only add a stage before an aggregation that
    # deduplicates anyway.
    sh = texts.shingle_frame(_docs(spark, sf_dir), dedup=False).select(
        "doc_id", texts.hash32(F.col("g")).alias("x")
    )

    # One pass over the shingle table yields the signature, the set size,
    # AND the set itself.  ``n`` is derived from the collected SET (not a
    # row count) so that n, inter and un all live in the same set domain:
    # if two distinct shingles of one doc collide on hash32, a row count
    # would disagree with size(array_intersect(...)) — set semantics
    # everywhere keeps Spark and the oracle identical under collisions.
    mins = (
        sh.groupBy("doc_id")
        .agg(
            F.collect_set("x").alias("xs"),
            *_minhash_min_exprs(),
        )
        .withColumn("n", F.size("xs").cast("long"))
        .cache()
    )
    n_h = len(MINHASH_A)
    stack_args = ", ".join(f"{h}, mh{h}" for h in range(n_h))
    sig = mins.select(
        "doc_id", F.expr(f"stack({n_h}, {stack_args}) AS (h, v)")
    )

    cand = (
        sig.alias("a")
        .join(
            sig.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.v") == F.col("b.v"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )

    docs = mins.select("doc_id", "n", "xs")
    return (
        cand.join(
            docs.select(
                F.col("doc_id").alias("doc_a"),
                F.col("n").alias("na"),
                F.col("xs").alias("xa"),
            ),
            "doc_a",
        )
        .join(
            docs.select(
                F.col("doc_id").alias("doc_b"),
                F.col("n").alias("nb"),
                F.col("xs").alias("xb"),
            ),
            "doc_b",
        )
        .withColumn(
            "inter", F.size(F.array_intersect("xa", "xb")).cast("long")
        )
        .withColumn("un", F.col("na") + F.col("nb") - F.col("inter"))
        .select(
            "doc_a",
            "doc_b",
            "inter",
            "un",
            F.expr("div(inter * 1000000, un)").alias("jaccard_e6"),
        )
    )


def _minhash_oracle_sql() -> str:
    sh = texts.shingles_sql("text")
    x = texts.hash32_sql("g")
    min_exprs = ",\n        ".join(
        f"MIN(({a} * x + {b}) % {MINHASH_P}) AS mh{h}"
        for h, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    )
    sig_rows = " UNION ALL ".join(
        f"SELECT doc_id, {h} AS h, mh{h} AS v FROM mins" for h in range(len(MINHASH_A))
    )
    return f"""
WITH sh0 AS (
    SELECT doc_id, unnest({sh}) AS g FROM documents
),
-- DISTINCT = set semantics: sizes/inter below must agree with Spark's
-- size(array_intersect(collect_set, collect_set)) even when two distinct
-- shingles of one doc collide on the 32-bit hash.
sh AS (
    SELECT DISTINCT doc_id, {x} AS x FROM sh0
),
mins AS (
    SELECT doc_id,
        {min_exprs}
    FROM sh GROUP BY doc_id
),
sig AS ({sig_rows}),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM sig a JOIN sig b ON a.h = b.h AND a.v = b.v AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
    SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
    FROM cand c
    JOIN sh ea ON c.doc_a = ea.doc_id
    JOIN sh eb ON c.doc_b = eb.doc_id AND ea.x = eb.x
    GROUP BY c.doc_a, c.doc_b
)
SELECT c.doc_a, c.doc_b,
       COALESCE(i.inter, 0) AS inter,
       sa.n + sb.n - COALESCE(i.inter, 0) AS un,
       (COALESCE(i.inter, 0) * 1000000) // (sa.n + sb.n - COALESCE(i.inter, 0))
           AS jaccard_e6
FROM cand c
LEFT JOIN inter i USING (doc_a, doc_b)
JOIN sizes sa ON c.doc_a = sa.doc_id
JOIN sizes sb ON c.doc_b = sb.doc_id
"""


# ---------------------------------------------------------------- simhash
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document over distinct token hashes: bit i of the
    sketch is the sign of the summed ±1 contributions of bit i across
    tokens. One explode + one groupBy with 32 conditional sums — all
    map-side combinable."""
    d = _docs(spark, sf_dir)
    tok = d.select(
        "doc_id", F.explode(F.array_distinct(texts.tokens(F.col("text")))).alias("t")
    ).select("doc_id", texts.hash32(F.col("t")).alias("x"))
    sums = tok.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.expr(f"shiftright(x, {i}) & 1") == 1, 1).otherwise(-1)
            ).alias(f"s{i}")
            for i in range(SIMHASH_BITS)
        ]
    )
    bits = [
        F.when(F.col(f"s{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        for i in range(SIMHASH_BITS)
    ]
    acc = bits[0]
    for b in bits[1:]:
        acc = acc + b
    return sums.select("doc_id", acc.cast("long").alias("simhash32"))


def _simhash_oracle_sql() -> str:
    x = texts.hash32_sql("t")
    sum_exprs = ",\n        ".join(
        f"SUM(CASE WHEN (x >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS s{i}"
        for i in range(SIMHASH_BITS)
    )
    bit_expr = " + ".join(
        f"CASE WHEN s{i} > 0 THEN {1 << i} ELSE 0 END" for i in range(SIMHASH_BITS)
    )
    return f"""
WITH tok AS (
    SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t
    FROM documents
),
hx AS (SELECT doc_id, {x} AS x FROM tok),
sums AS (
    SELECT doc_id,
        {sum_exprs}
    FROM hx GROUP BY doc_id
)
SELECT doc_id, CAST({bit_expr} AS BIGINT) AS simhash32 FROM sums
"""


# ---------------------------------------------------------- ngram jaccard
QUADRATIC_GUARD_MAX_ROWS = 100_000


def _guard_quadratic(df: DataFrame, op: str, scale_path: str, allow: bool) -> None:
    """Refuse to run a deliberately-quadratic baseline on a big input.

    The baselines exist to oracle-check the scale paths; silently running
    one on a 100 TB corpus would be a cluster-melting mistake, so beyond
    QUADRATIC_GUARD_MAX_ROWS rows the caller must opt in explicitly. The
    count is one cheap aggregate over the (already-needed) input."""
    if allow:
        return
    n = df.count()
    if n > QUADRATIC_GUARD_MAX_ROWS:
        raise ValueError(
            f"{op} is a quadratic correctness baseline and the input has "
            f"{n} rows (> {QUADRATIC_GUARD_MAX_ROWS}); use {scale_path} at "
            "scale, or pass allow_quadratic=True to force"
        )


def dedup_ngram_jaccard(
    spark: SparkSession, sf_dir: str, allow_quadratic: bool = False
) -> DataFrame:
    """Exact pairwise Jaccard over 3-token shingles for pairs sharing ≥1
    shingle. This is the *verify* path — candidate generation by shared
    shingle is quadratic in the worst case; at scale use
    dedup_prefix_join (exact, prefix-filter candidates) or
    dedup_minhash_lsh (approximate) first (guarded: refuses >
    QUADRATIC_GUARD_MAX_ROWS docs unless ``allow_quadratic``)."""
    _guard_quadratic(
        _docs(spark, sf_dir), "dedup_ngram_jaccard",
        "dedup_prefix_join (exact) or dedup_minhash_lsh (approximate)",
        allow_quadratic,
    )
    sh = _shingle_hashes(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a.x") == F.col("b.x")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
        .withColumn("jaccard_e6", F.expr("div(inter * 1000000, na + nb - inter)"))
        .where(F.col("jaccard_e6") >= NGRAM_JACCARD_MIN_E6)
        .select("doc_a", "doc_b", "inter", "jaccard_e6")
    )


def _ngram_oracle_sql(min_e6: int = NGRAM_JACCARD_MIN_E6) -> str:
    """Exact pairwise-Jaccard oracle at an arbitrary threshold — shared
    by the quadratic baseline (NGRAM_JACCARD_MIN_E6) and the
    prefix-filter scale path (PREFIX_TAU_E6): both operators must
    produce the identical pair set, the oracle only changes the cut."""
    sh = texts.shingles_sql("text")
    x = texts.hash32_sql("g")
    return f"""
WITH sh0 AS (SELECT doc_id, unnest({sh}) AS g FROM documents),
sh AS (SELECT doc_id, {x} AS x FROM sh0),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
    FROM sh a JOIN sh b ON a.x = b.x AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b, inter,
       (inter * 1000000) // (sa.n + sb.n - inter) AS jaccard_e6
FROM inter
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE (inter * 1000000) // (sa.n + sb.n - inter) >= {min_e6}
"""


# ------------------------------------------- prefix-filter join (round 5)
# Exact set-similarity join at a REALISTIC near-dup threshold: the
# operator's semantics are "all pairs with shingle-Jaccard >= tau", same
# as dedup_ngram_jaccard, but the candidate generation SCALES.
PREFIX_TAU_E6 = 300_000  # tau = 3/10 — kept as an exact rational below


def dedup_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard-threshold join via PREFIX FILTERING (the
    PPJoin/AllPairs family — Chaudhuri-Ganti-Kaushik ICDE'06, Xiao et
    al. WWW'08): the UNGUARDED exact-similarity scale path, where
    dedup_ngram_jaccard (share-ANY-shingle candidates) stays a guarded
    verification baseline.

    Why it scales where share-any doesn't: order every doc's shingles by
    global rarity (ascending df, then hash); a pair with Jaccard ≥ τ
    MUST share a token inside each side's first |s| − ⌈τ·|s|⌉ + 1 tokens
    (if the prefixes were disjoint, the overlap is confined to the
    suffixes, too small to reach τ). So candidates come from joining on
    PREFIX tokens only — and because the canonical order puts the RAREST
    tokens in the prefix, the join keys are precisely the tokens with
    the smallest df: candidate volume is Σ_prefix-tokens df², dominated
    by rare tokens, while share-any pays Σ_all-tokens df² dominated by
    stopword-like shingles. The length filter (τ·|larger| ≤ |smaller|,
    kept as the exact rational 3·max ≤ 10·min) prunes size-mismatched
    pairs before verification. Verification is exact: per-doc sorted
    shingle arrays (bounded by doc length) meet per candidate pair in a
    JVM ``array_intersect`` — no sketch, no false negatives (the hash
    gate against the SAME oracle formula as the quadratic baseline, cut
    at τ, proves completeness every round).

    100 TB shape: one df count (partial-agg), one per-doc window to rank
    tokens (shuffle on doc_id), the candidate self-join shuffles on the
    prefix token, and the verify joins are id-keyed. ⌈τ·n⌉ is computed
    as the exact integer ``(3n + 9) div 10`` — no float boundary.
    """
    # The shingle frame feeds FIVE consumers (df count, sizes, the ranked
    # prefix, and the per-doc verify arrays) and the ranked prefix feeds
    # both sides of the candidate self-join — without materialization
    # Spark re-derives the explode+distinct subtree per reference (31
    # exchanges measured vs 12 with the persists). Same plan-reuse
    # contract as graph_triangles / text_sparse_sim (SCALE.md); callers
    # clear the cache between repeated invocations (operators/__init__).
    sh = _shingle_hashes(spark, sf_dir).distinct().persist()
    dfreq = sh.groupBy("x").agg(F.count(F.lit(1)).alias("df"))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    ranked = (
        sh.join(dfreq, "x")
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(
                    F.asc("df"), F.asc("x")
                )
            ),
        )
        .join(sizes, "doc_id")
        # prefix length = n - ceil(tau*n) + 1, ceil(3n/10) = (3n+9) div 10
        .where(F.col("rk") <= F.col("n") - F.expr("div(3*n + 9, 10)") + 1)
        .select("doc_id", "x", "n", "rk")
        .persist()
    )
    cand = (
        ranked.alias("a")
        .join(ranked.alias("b"), "x")
        .where(
            (F.col("a.doc_id") < F.col("b.doc_id"))
            # length filter: tau*max <= min, exact rational
            & (
                F.greatest(F.col("a.n"), F.col("b.n")) * 3
                <= F.least(F.col("a.n"), F.col("b.n")) * 10
            )
            # Positional filter (PPJoin, round 6 — VERDICT r5 item 7):
            # J ≥ 3/10 needs overlap I ≥ 3(na+nb)/13 (I/(na+nb−I) ≥ τ
            # ⟺ I ≥ τ(na+nb)/(1+τ)); both docs sort shared tokens in
            # the same global (df, x) order, so at the pair's FIRST
            # shared token — positions (rk_a, rk_b), and it provably IS
            # the first shared token overall (an earlier shared token
            # would sit below both ranks, hence inside both prefixes) —
            # overlap ≤ 1 + min(na−rk_a, nb−rk_b).  A row for a later
            # shared token may fail the bound, but the pair survives
            # through its first-shared-token row, where the bound is
            # valid; integer form 13·ubound ≥ 3·(na+nb) is exact.
            & (
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
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    sets = sh.groupBy("doc_id").agg(
        F.sort_array(F.collect_set("x")).alias("xs"),
        F.count(F.lit(1)).alias("n"),
    )
    sa = sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("xs").alias("xs_a"),
        F.col("n").alias("na"),
    )
    sb = sets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("xs").alias("xs_b"),
        F.col("n").alias("nb"),
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "inter", F.size(F.array_intersect("xs_a", "xs_b")).cast("long")
        )
        .withColumn("jaccard_e6", F.expr("div(inter * 1000000, na + nb - inter)"))
        .where(F.col("jaccard_e6") >= PREFIX_TAU_E6)
        .select("doc_a", "doc_b", "inter", "jaccard_e6")
    )


# ------------------------------------------- edit-distance join (round 7)
# Exact Levenshtein-threshold self-join — the EDjoin family (Gravano et
# al. VLDB'01 q-gram count/length filters; Xiao-Wang-Lin VLDB'08 prefix
# scheme): the character-level complement to the token-level
# dedup_prefix_join, catching typo-grade near-dups whose token sets
# diverge (a one-char edit inside a word replaces up to k token
# shingles but only q char q-grams).
EDIT_Q = 8  # char q-gram width (wider = rarer grams: candidates 42% → 10%
# of the length-filtered pair volume measured at q=5 → q=8; recall is
# q-independent — the erasure bound holds for any q with len ≥ q)
EDIT_TAU = 4  # edit-distance threshold (the corpus near-dup cluster sits at 4)
# Auto-enable threshold for EDjoin's location filter (round 11, VERDICT
# r10 weak #1): the banded verify costs O(tau * len) PER PAIR while the
# location filter's occurrence join costs ~constant per pair, so the
# filter flips from net loss to net win as docs get long.  Measured
# (tools/edit_crossover_probe.py, quiet, 1k docs x 60 failing
# candidates/doc-template): ~300-char docs verify at ~15 us/pair and
# the filter is a 2.5x loss (the round-10 revert); at ~4,000 chars the
# verify is ~40x costlier per pair and the filter wins (SCALE.md
# crossover row).  The mean corpus length decides — one cheap
# len-column agg against a scan the job does anyway.  Env override
# SPARK_GRAFT_EDIT_FILTER in {auto, on, off} for probes and tests.
EDIT_FILTER_MIN_AVG_CHARS = 2000


def _edit_filter_enabled(d: DataFrame) -> bool:
    mode = os.environ.get("SPARK_GRAFT_EDIT_FILTER", "auto")
    if mode in ("on", "off"):
        return mode == "on"
    avg_len = d.agg(F.avg("len")).first()[0]
    return avg_len is not None and avg_len >= EDIT_FILTER_MIN_AVG_CHARS


def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All pairs with ``levenshtein(text_a, text_b) <= EDIT_TAU`` via
    q-gram PREFIX FILTERING — never all pairs.

    Why the candidates are complete: one edit overwrites at most
    ``EDIT_Q`` q-gram occurrence windows, so τ edits erase at most q·τ
    occurrences — hence at most q·τ DISTINCT q-grams of either doc
    vanish from the other (a distinct gram vanishes only when every
    occurrence is destroyed, costing ≥ 1 occurrence each). The distinct
    gram sets therefore overlap in ≥ max(|Da|,|Db|) − q·τ grams, and the
    AllPairs prefix lemma (same global (df, x) canonical order on both
    sides, the proof in :func:`dedup_prefix_join`) shrinks each side's
    join surface to its first q·τ + 1 grams — a CONSTANT per doc,
    independent of doc length, with the rarest grams (smallest df) as
    the join keys. The length filter |len_a − len_b| ≤ τ is a theorem of
    edit distance (each edit changes length by ≤ 1), applied at the
    candidate join AND restated in the oracle, whose definition it
    leaves unchanged. Verification is Spark's JVM ``levenshtein`` with
    the threshold argument — the banded O(τ·n) early-exit form, not the
    full O(n²) table.

    Degenerate regime: a doc shorter than q chars has NO q-grams and
    can never meet the candidate join, so pairs whose smaller side is
    that short (both sides then < q + τ chars, by the length theorem)
    are rescued by a direct self-join of the sub-(q+τ) slice — bounded
    by the number of near-empty docs, and empty at every test SF
    (min doc length 48).

    EDjoin's location-based mismatch filter (Xiao-Wang-Lin VLDB'08 §4,
    :func:`_edit_location_filter`) was implemented, hash-verified, and
    REJECTED from the short-document hot path on measurement (round
    10): it collapses the verify surface spectacularly (25,667 → 254
    candidates at sf0.1; 597,778 → 16 at sf0.5 — tools/er_census.py
    still audits both counts), but Spark's banded ``levenshtein(a, b,
    τ)`` early-exit verify costs ~15 µs/pair on these ~300-char docs,
    so the pairs the filter saves are worth ~0.4 s while its own
    occurrence join + interval-packing aggregate costs 4.3 s at sf0.1
    and is a 2.5× NET LOSS at sf0.5 (18.3 s filtered vs 7.3 s direct,
    measured quiet, warm). Same verdict shape as sparse-sim's rejected
    PPJoin prefix filter: exact candidate pruning loses to a cheap
    codegen verify when docs are short. Round 11 pins the OTHER side of
    that trade: per-pair verify cost grows with doc length while the
    filter's does not, and the crossover was measured at ~2-4 k chars
    (tools/edit_crossover_probe.py; SCALE.md row) — so the filter now
    AUTO-ENABLES when the corpus' mean length exceeds
    ``EDIT_FILTER_MIN_AVG_CHARS``, with SPARK_GRAFT_EDIT_FILTER as the
    override. Output-identical either way (the filter only rejects
    pairs the verify would reject — hash-pinned at both settings).

    100 TB shape: the q-gram frame is codegen end-to-end (explode a
    position ``sequence``, substring at (text, pos) — no interpreted
    higher-order lambda, the round-6 shingle lesson), one distinct
    shuffle keyed (doc, gram), the df count partial-aggregates, the
    candidate self-join shuffles prefix rows only (≤ q·τ + 1 per doc),
    and the verify join is id-keyed on candidates.

    Output: (doc_a, doc_b, edit_dist), doc_a < doc_b.
    """
    d = _edit_docs(spark, sf_dir)
    pgram, prefix, cand = _edit_surfaces(d)
    # Long-document regime (round 11): per-pair verify cost grows with
    # doc length, the location filter's does not — auto-enable it past
    # the measured crossover (see EDIT_FILTER_MIN_AVG_CHARS).  Output-
    # preserving either way (the filter only rejects pairs the verify
    # would reject — hash-pinned by
    # tests/test_corpus.py::test_edit_distance_filter_setting_is_output_invariant).
    if _edit_filter_enabled(d):
        cand = _edit_location_filter(pgram, prefix, cand)
    ta = d.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("_ta"))
    tb = d.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("_tb"))
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .withColumn(
            "edit_dist",
            F.levenshtein("_ta", "_tb", EDIT_TAU).cast("long"),
        )
        .where(F.col("edit_dist") >= 0)  # threshold form returns -1 past tau
        .select("doc_a", "doc_b", "edit_dist")
    )


def _edit_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id", "text", F.length("text").alias("len")
    )


def _edit_surfaces(d: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The candidate-generation stages of :func:`dedup_edit_distance`,
    exposed for reuse (tools/er_census.py audits these surfaces):
    positional q-gram frame (doc_id, pos, x), the (df, x)-ranked prefix
    (doc_id, x, len), and the distinct candidate pairs
    (prefix join ∪ tiny-doc rescue)."""
    pgram = (
        d.where(F.col("len") >= EDIT_Q)
        .select(
            "doc_id",
            "text",
            F.explode(
                F.sequence(F.lit(1), F.col("len") - (EDIT_Q - 1))
            ).alias("pos"),
        )
        .select(
            "doc_id",
            "pos",
            texts.hash32(F.expr(f"substring(text, pos, {EDIT_Q})")).alias("x"),
        )
    )
    qg = (
        pgram.select("doc_id", "x")
        .distinct()
        .persist()  # feeds df count + ranked prefix (same contract as prefix_join)
    )
    dfreq = qg.groupBy("x").agg(F.count(F.lit(1)).alias("df"))
    lens = d.select("doc_id", "len")
    prefix = (
        qg.join(dfreq, "x")
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("x"))
            ),
        )
        .where(F.col("rk") <= EDIT_Q * EDIT_TAU + 1)
        .join(lens, "doc_id")
        .select("doc_id", "x", "len")
    )
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "x")
        .where(
            (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.abs(F.col("a.len") - F.col("b.len")) <= EDIT_TAU)
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
    )
    tiny = d.where(F.col("len") < EDIT_Q + EDIT_TAU)
    rescue = (
        tiny.alias("a")
        .join(
            tiny.alias("b"),
            (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.abs(F.col("a.len") - F.col("b.len")) <= EDIT_TAU)
            # only pairs whose SMALLER side has no q-grams need rescuing;
            # the rest already flow through the prefix join
            & (F.least(F.col("a.len"), F.col("b.len")) < EDIT_Q),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
    )
    return pgram, prefix, cand.unionByName(rescue).distinct()


def _edit_location_filter(
    pgram: DataFrame, prefix: DataFrame, cand: DataFrame
) -> DataFrame:
    """EDjoin's LOCATION-BASED MISMATCH FILTER (Xiao-Wang-Lin VLDB'08
    §4; round 10, VERDICT r9 item 5): prune candidate pairs whose
    prefix-gram positions already certify edit distance > τ, before a
    Levenshtein verify.  Output-preserving by construction — it only
    rejects pairs the verify would reject.  NOT in the hot path:
    measured a net loss against the banded JVM verify at every probed
    scale (see the rejection note in :func:`dedup_edit_distance`);
    retained for tools/er_census.py's surface audit and as the
    escape hatch for long-string regimes where per-pair verify cost
    grows with length.

    Soundness: a positional q-gram of doc_a with NO content-equal
    occurrence in doc_b within position shift τ must have been
    DESTROYED by an edit (a surviving occurrence's position shifts by
    at most the total indel count ≤ τ), and one edit at string position
    e only destroys windows starting in [e−q+1, e] — q consecutive
    starts.  So the greedy interval packing over the sorted mismatched
    starts (count += 1 whenever start > last; last = start + q − 1) is
    a lower bound on ed(a, b): ``minEditErrors`` in the paper.  Pairs
    with bound > τ drop.  The random typo-collision this targets — two
    docs sharing ONE rare gram at unrelated positions — has ~all of
    doc_a's prefix grams mismatched at ≥ q spacing, certifying far
    beyond τ and dying here instead of in the verify join.

    Plan: candidate pairs × doc_a's prefix OCCURRENCES (≤ q·τ+1 rare
    grams, ~1 occurrence each) equi-joined to doc_b's positional grams
    on (doc_b, x) with the |Δpos| ≤ τ tolerance as a join residual; the
    per-pair bound is one aggregate over a ≤ 33-element sorted array
    (bounded higher-order fold, not a hot per-token lambda)."""
    ppos = prefix.select("doc_id", "x").join(pgram, ["doc_id", "x"])
    a_occ = cand.join(
        ppos.select(
            F.col("doc_id").alias("doc_a"), "x", F.col("pos").alias("pa")
        ),
        "doc_a",
    )
    b_occ = pgram.select(
        F.col("doc_id").alias("doc_b"),
        F.col("x").alias("xb"),
        F.col("pos").alias("pb"),
    )
    hit = a_occ.join(
        b_occ,
        (a_occ["doc_b"] == b_occ["doc_b"])
        & (F.col("x") == F.col("xb"))
        & (F.abs(F.col("pa") - F.col("pb")) <= EDIT_TAU),
        "left",
    ).select(
        "doc_a", a_occ["doc_b"].alias("doc_b"), "x", "pa",
        F.col("pb").isNotNull().alias("hit"),
    )
    minerr = (
        hit.groupBy("doc_a", "doc_b", "x", "pa")
        .agg(F.max("hit").alias("any_hit"))
        .where(~F.col("any_hit"))
        .groupBy("doc_a", "doc_b")
        .agg(F.array_sort(F.collect_list("pa")).alias("ps"))
        .select(
            "doc_a",
            "doc_b",
            F.expr(
                f"aggregate(ps,"
                f" named_struct('cnt', CAST(0 AS BIGINT),"
                f"              'lst', CAST(-{EDIT_Q} AS BIGINT)),"
                f" (acc, p) -> IF(p > acc.lst,"
                f"   named_struct('cnt', acc.cnt + 1L,"
                f"                'lst', CAST(p AS BIGINT) + {EDIT_Q - 1}),"
                f"   acc),"
                f" acc -> acc.cnt)"
            ).alias("minerr"),
        )
    )
    return cand.join(
        minerr.where(F.col("minerr") > EDIT_TAU), ["doc_a", "doc_b"], "left_anti"
    )


def _edit_distance_oracle_sql() -> str:
    """The quadratic DEFINITION, with the length theorem restated as a
    (provably redundant) join predicate so DuckDB skips most of the n²/2
    levenshtein evaluations — the oracle semantics are unchanged.
    MATERIALIZED pair CTE + a subquery alias keep levenshtein evaluated
    exactly once per surviving pair (inlined, DuckDB re-evaluates it per
    consumer: measured 25 s → 1.3 s at sf0.01)."""
    return f"""
WITH close_pairs AS MATERIALIZED (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.text AS ta, b.text AS tb
    FROM documents a JOIN documents b
      ON a.doc_id < b.doc_id
     AND abs(length(a.text) - length(b.text)) <= {EDIT_TAU}
)
SELECT doc_a, doc_b, edit_dist FROM (
    SELECT doc_a, doc_b, CAST(levenshtein(ta, tb) AS BIGINT) AS edit_dist
    FROM close_pairs
) WHERE edit_dist <= {EDIT_TAU}
"""


# ----------------------------------------------------- winnowing (MOSS)
WINNOW_K = 3  # k-gram width for the rolling hash
WINNOW_W = 4  # winnowing window (guarantee: any match >= w+k-1 tokens shares a fp)
WINNOW_B = 131
WINNOW_B2 = WINNOW_B * WINNOW_B
WINNOW_M = 1_000_000_007


def dedup_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken): k-gram
    polynomial rolling hash over token hashes, then the min hash of each
    w-window — the classic plagiarism/near-dup fingerprint set.

    Output: distinct (doc_id, fp) pairs — group/join on ``fp`` to find
    overlapping documents.

    Formulated ROW-WISE (posexplode tokens → lead() rolling hash → frame
    min), not as nested array lambdas: higher-order lambdas are
    interpreted, and Catalyst's projection collapse inlines the upstream
    split+md5 chain into every lambda body, re-evaluating it per element ×
    per exploded row — measured minutes for 50 docs. The window form is
    one shuffle on doc_id, whole-stage-codegen'd hashing, and WindowExec
    computes the lead/min frames in a single sorted pass — the same shape
    scales to billions of tokens because state per group is one w-row
    frame, never the whole document.
    """
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    tok = d.select(
        "doc_id", F.posexplode(texts.tokens(F.col("text"))).alias("pos", "tok")
    ).select("doc_id", "pos", texts.hash32(F.col("tok")).alias("th"))
    by_pos = Window.partitionBy("doc_id").orderBy("pos")
    # k-gram rolling hash at position i needs tokens i..i+k-1; lead() past
    # the end is NULL, which drops the incomplete tail grams exactly.
    rh = tok.select(
        "doc_id",
        "pos",
        (
            (
                F.col("th") * WINNOW_B2
                + F.lead("th", 1).over(by_pos) * WINNOW_B
                + F.lead("th", 2).over(by_pos)
            )
            % WINNOW_M
        ).alias("rh"),
    ).where(F.col("rh").isNotNull())
    frame_min = by_pos.rowsBetween(Window.currentRow, WINNOW_W - 1)
    whole_doc = Window.partitionBy("doc_id")
    scored = rh.select(
        "doc_id",
        F.row_number().over(by_pos).alias("j"),
        F.count(F.lit(1)).over(whole_doc).alias("m"),
        F.min("rh").over(frame_min).alias("min_w"),
        F.min("rh").over(whole_doc).alias("min_all"),
    )
    full = F.col("m") >= WINNOW_W
    return (
        scored.where(
            (full & (F.col("j") <= F.col("m") - (WINNOW_W - 1)))
            | (~full & (F.col("j") == 1))
        )
        .select(
            "doc_id",
            F.when(full, F.col("min_w")).otherwise(F.col("min_all")).alias("fp"),
        )
        .distinct()
    )


def _winnow_oracle_sql() -> str:
    th_elem = texts.hash32_sql("t")
    return f"""
WITH tok AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
th AS (
    SELECT doc_id, list_transform(t, t -> {th_elem}) AS th FROM tok
),
rh AS (
    SELECT doc_id,
           CASE WHEN len(th) >= {WINNOW_K}
                THEN list_transform(
                    range(1, len(th) - {WINNOW_K - 1} + 1),
                    i -> (th[i] * {WINNOW_B2} + th[i+1] * {WINNOW_B}
                          + th[i+2]) % {WINNOW_M})
                ELSE CAST([] AS BIGINT[]) END AS rh
    FROM th
),
fps AS (
    SELECT doc_id,
           CASE WHEN len(rh) >= {WINNOW_W}
                THEN list_transform(
                    range(1, len(rh) - {WINNOW_W - 1} + 1),
                    j -> list_min(list_slice(rh, j, j + {WINNOW_W - 1})))
                WHEN len(rh) > 0 THEN [list_min(rh)]
                ELSE CAST([] AS BIGINT[]) END AS fps
    FROM rh
)
SELECT doc_id, unnest(list_distinct(fps)) AS fp FROM fps
"""


WINNOW_MATCH_MAX_DF = 50  # fps in more docs than this are stop-fps
WINNOW_MATCH_MIN_E6 = 100_000  # report pairs with >=10% containment


def winnow_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document fingerprint matching — the MOSS-style consumer of
    :func:`dedup_winnow`: pairs of documents ranked by shared winnowing
    fingerprints, scored by containment (shared / min(|fps_a|, |fps_b|)).

    Scale shape: fingerprints with document frequency > MAX_DF are dropped
    before the self-join (boilerplate/stop-fps are exactly the hot keys
    that would blow up a fp-keyed join at corpus scale — same move as
    dropping stopwords before an inverted index); the remaining join is
    bucketed by fp with per-fp fan-out ≤ MAX_DF², and the pair agg is one
    partial+final shuffle.
    """
    fps = dedup_winnow(spark, sf_dir).cache()
    sizes = fps.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nf"))
    df_ok = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") <= WINNOW_MATCH_MAX_DF)
        .select("fp")
    )
    rare = fps.join(df_ok, "fp")
    shared = (
        rare.alias("a")
        .join(
            rare.alias("b"),
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("shared_fps"))
    )
    return (
        shared.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("nf").alias("na")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("nf").alias("nb")),
            "doc_b",
        )
        .withColumn(
            "containment_e6",
            F.expr("div(shared_fps * 1000000, least(na, nb))"),
        )
        .where(F.col("containment_e6") >= WINNOW_MATCH_MIN_E6)
        .select("doc_a", "doc_b", "shared_fps", "na", "nb", "containment_e6")
    )


def _winnow_matches_oracle_sql() -> str:
    return f"""
WITH wfp AS (
    SELECT * FROM ({_winnow_oracle_sql()})
),
sizes AS (SELECT doc_id, COUNT(*) AS nf FROM wfp GROUP BY doc_id),
rare AS (
    SELECT * FROM wfp
    WHERE fp IN (
        SELECT fp FROM wfp GROUP BY fp HAVING COUNT(*) <= {WINNOW_MATCH_MAX_DF}
    )
),
shared AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared_fps
    FROM rare a JOIN rare b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b, shared_fps, sa.nf AS na, sb.nf AS nb,
       (shared_fps * 1000000) // least(sa.nf, sb.nf) AS containment_e6
FROM shared
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE (shared_fps * 1000000) // least(sa.nf, sb.nf) >= {WINNOW_MATCH_MIN_E6}
"""


# --------------------------------------------- incremental minhash index
def minhash_signatures(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """(doc_id, n, xs, mh0..mhH-1) signature rows for ``docs`` (doc_id,
    text) — the persisted state of the incremental dedup index."""
    # Physical-strategy dispatch by regime (round 6, same philosophy as
    # the per-k Arrow assignment crossover): this is the INCREMENTAL
    # path, whose unit of work is a steering-sized batch — the window
    # form of texts.shingle_frame pays a fixed exchange+sort+window
    # ~0.3 s that dominates at batch scale (measured 0.65 → 0.95 s on
    # the 2.5k-doc bench batch), while the interpreted per-row
    # transform's cost is bounded by the SAME small batch. Corpus-scale
    # scans (dedup_minhash_lsh, _shingle_hashes consumers) keep the
    # codegen window form, which wins 3-10× there (SCALE.md).
    sh = (
        docs.select("doc_id", texts.tokens(F.col("text")).alias("_t"))
        .select(
            "doc_id",
            F.explode(texts.shingles_of_tokens(F.col("_t"))).alias("g"),
        )
        .select("doc_id", texts.hash32(F.col("g")).alias("x"))
    )
    # n = size of the shingle SET (matches dedup_minhash_lsh's set-domain
    # verify arithmetic under hash collisions; see note there).
    return (
        sh.groupBy("doc_id")
        .agg(
            F.collect_set("x").alias("xs"),
            *[
                F.min((F.lit(a) * F.col("x") + F.lit(b)) % F.lit(MINHASH_P)).alias(
                    f"mh{h}"
                )
                for h, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
            ],
        )
        .withColumn("n", F.size("xs").cast("long"))
    )


def _minhash_live_dir(index_path: str) -> str:
    return os.path.join(index_path, snapshots.snap_live(index_path))


def minhash_pairs_of(probe_sig: DataFrame, all_sig: DataFrame) -> DataFrame:
    """Verified near-dup pairs with at least one member in ``probe_sig``:
    banded candidates (probe × all on any shared minhash band, normalized
    to doc_a < doc_b) → exact set-jaccard verify over the stored shingle
    sets.  The pair engine shared by :func:`minhash_index_update` (probe
    = the new batch) and the continuous-curation index (round 12), which
    also bootstraps with probe = all for the within-init pairs.  Output
    (doc_a, doc_b, inter, un, jaccard_e6), the :func:`dedup_minhash_lsh`
    shape."""
    n_h = len(MINHASH_A)
    stack_args = ", ".join(f"{h}, mh{h}" for h in range(n_h))

    def _bands(sig: DataFrame) -> DataFrame:
        return sig.select("doc_id", F.expr(f"stack({n_h}, {stack_args}) AS (h, v)"))

    cand = (
        _bands(probe_sig)
        .alias("a")
        .join(
            _bands(all_sig).alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.v") == F.col("b.v"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.least("a.doc_id", "b.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    docs_nx = all_sig.select("doc_id", "n", "xs")
    return (
        cand.join(
            docs_nx.select(
                F.col("doc_id").alias("doc_a"),
                F.col("n").alias("na"),
                F.col("xs").alias("xa"),
            ),
            "doc_a",
        )
        .join(
            docs_nx.select(
                F.col("doc_id").alias("doc_b"),
                F.col("n").alias("nb"),
                F.col("xs").alias("xb"),
            ),
            "doc_b",
        )
        .withColumn("inter", F.size(F.array_intersect("xa", "xb")).cast("long"))
        .withColumn("un", F.col("na") + F.col("nb") - F.col("inter"))
        .select(
            "doc_a",
            "doc_b",
            "inter",
            "un",
            F.expr("div(inter * 1000000, un)").alias("jaccard_e6"),
        )
    )


def minhash_index_init(spark: SparkSession, docs: DataFrame, index_path: str) -> None:
    """Materialize the signature index for an initial corpus, as the
    first snapshot of the shared versioned-snapshot convention
    (functions/snapshots.py — CURRENT pointer, atomic swap, orphan GC):
    the same durability contract as the sketch index twins since round
    8 (VERDICT r7 item 1)."""
    # checkpoint + sized write (round 12 opt, guide §6): the signature
    # frame is narrow, and one-file-per-task writes cost task+commit
    # overhead and grow the file count every later hard-linked snapshot.
    with snapshots.txn(index_path, "sig_v") as t:
        snapshots.write_sized(
            minhash_signatures(spark, docs).localCheckpoint(), t.dir
        )


def minhash_index_update(
    spark: SparkSession, new_docs: DataFrame, index_path: str
) -> DataFrame:
    """Incremental dedup step: sign only NEW docs, find near-dup pairs
    involving them (new×index ∪ new×new — never index×index, which was
    already reported), commit old∪new signatures as a NEW snapshot.

    THE scale property of continuous dedup: per-batch work is
    O(|new| + candidate pairs), independent of corpus size — the corpus
    is touched only through the banded signature join, never
    re-shingled.  Durability (round 8): the batch's signatures are
    WRITTEN to a fresh version directory (previous snapshot's immutable
    data files carried by hard link — per-batch I/O stays ∝ batch) and
    become visible only at the atomic CURRENT swap, so a crash at any
    point leaves the index at the complete previous state and the retry
    re-processes the batch from scratch (the anti-join keeps that a
    no-op for already-committed docs).  This replaces the round-4
    append-in-place path, whose crash window could leave a
    partially-visible batch.
    Returns the same (doc_a, doc_b, inter, un, jaccard_e6) shape as
    :func:`dedup_minhash_lsh`, restricted to pairs with a new member.
    """
    with snapshots.txn(index_path, "sig_v") as t:
        old_sig = spark.read.parquet(t.live)
        # Idempotency guard: drop docs already in the index BEFORE
        # signing-in.  An orchestrator retry after the append (or a
        # re-submitted doc_id) would otherwise duplicate signature rows,
        # multiplying candidate/pair rows in every later batch and
        # breaking the one-signature-per-doc invariant. The anti-join
        # makes re-running a batch a no-op on the index (the retry
        # returns only pairs for genuinely-new docs).
        new_sig = (
            minhash_signatures(spark, new_docs)
            .join(old_sig.select("doc_id"), "doc_id", "left_anti")
            .localCheckpoint()
        )
        all_sig = old_sig.unionByName(new_sig)
        pairs = minhash_pairs_of(new_sig, all_sig)
        result = pairs.localCheckpoint()  # materialize BEFORE the commit
        # The batch goes to the NEXT version dir, the live snapshot's
        # data files are hard-linked in; nothing under the live dir is
        # ever touched.
        snapshots.write_sized(new_sig, t.dir)  # checkpointed above
        t.carry()
    return result


PAGERANK_ITERS = 5
PAGERANK_SCALE = 1_000_000_000  # pr as e9-scaled BIGINT
PAGERANK_D_NUM, PAGERANK_D_DEN = 85, 100  # damping 0.85 as a ratio


def _pagerank_driver(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """Driver twin of the doc_pagerank loop over a (s, d) directed edge
    frame — the same PAGERANK_ITERS power iterations in the same exact
    integer arithmetic (``//`` ≡ Spark's ``div`` on the non-negative
    e9-scaled BIGINTs here), edges streamed via toLocalIterator (never a
    collect of Row objects).  Equality with the distributed loop is
    pytest-pinned (tests/test_corpus.py)."""
    deg: dict = {}
    elist: list = []
    for row in edges.toLocalIterator():
        s, d = int(row[0]), int(row[1])
        deg[s] = deg.get(s, 0) + 1
        elist.append((s, d))
    if not deg:
        # pure-JVM empty relation (ADVICE r12: this was the exact
        # Python-RDD empty-frame pattern the er_index_init fix removed)
        return empty_rel(spark, "doc_id long, pr_e9 long")
    base = (PAGERANK_SCALE * (PAGERANK_D_DEN - PAGERANK_D_NUM)) // (
        PAGERANK_D_DEN * len(deg)
    )
    pr = {x: PAGERANK_SCALE for x in deg}
    for _ in range(PAGERANK_ITERS):
        incoming: dict = {}
        for s, d in elist:
            incoming[d] = incoming.get(d, 0) + (PAGERANK_D_NUM * pr[s]) // (
                PAGERANK_D_DEN * deg[s]
            )
        pr = {x: base + incoming.get(x, 0) for x in deg}
    return local_rows(
        spark, [(int(x), int(pr[x])) for x in deg], "doc_id long, pr_e9 long"
    )


def doc_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the near-dup pair graph — centrality of each document
    inside its duplicate neighborhood (the 'canonical-doc' signal a dedup
    keeper policy can use instead of min-id).

    Fixed PAGERANK_ITERS power iterations in EXACT integer arithmetic
    (e9-scaled BIGINT, contributions ``(85 * pr) // (100 * deg)``): both
    engines do the identical integer ops, so the oracle — the same five
    iterations UNROLLED as generated CTEs (recursive CTEs cannot aggregate
    in the recursive term) — matches bit-for-bit. Same scale shape as
    :func:`propagate_components`: per-round one edges⋈ranks join + one
    partial-agg sum, localCheckpoint cadence, driver only steers.
    """
    pairs = dedup_minhash_lsh(spark, sf_dir).where(
        F.col("jaccard_e6") >= COMPONENT_MIN_JACCARD_E6
    )
    half = pairs.select(F.col("doc_a").alias("s"), F.col("doc_b").alias("d"))
    edges = (
        half.union(half.select(F.col("d").alias("s"), F.col("s").alias("d")))
        .distinct()
        .localCheckpoint()
    )
    n_edges = edges.count()
    if n_edges <= ER_DRIVER_CLOSURE_MAX_EDGES:
        # Size-dispatched driver twin (round 12 optimization — the
        # ``_er_closure`` precedent): the pair graph is steering-sized
        # at any corpus scale where an exact all-pairs PR is sane, and
        # the distributed loop pays PAGERANK_ITERS × (join + agg +
        # checkpoint) scheduler rounds for what plain dict arithmetic
        # answers in milliseconds.  Bit-identical by construction:
        # Python // on the same non-negative BIGINTs as Spark's div,
        # order-free integer sums.  Above the threshold (same driver
        # heap bound as the closure) the loop below takes over.
        return _pagerank_driver(spark, edges)
    deg = edges.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    nodes = deg.select(F.col("s").alias("node"), "deg").localCheckpoint()
    n_nodes = nodes.count()
    if n_nodes == 0:
        return nodes.select(
            F.col("node").alias("doc_id"), F.lit(0).cast("long").alias("pr_e9")
        )
    base = (PAGERANK_SCALE * (PAGERANK_D_DEN - PAGERANK_D_NUM)) // (
        PAGERANK_D_DEN * n_nodes
    )
    ranks = nodes.select("node", "deg", F.lit(PAGERANK_SCALE).cast("long").alias("pr"))
    for _ in range(PAGERANK_ITERS):
        contrib = (
            edges.join(ranks, edges.s == ranks.node)
            .select(
                F.col("d"),
                F.expr(
                    f"div({PAGERANK_D_NUM} * pr, {PAGERANK_D_DEN} * deg)"
                ).alias("c"),
            )
            .groupBy("d")
            .agg(F.sum("c").alias("incoming"))
        )
        ranks = (
            nodes.join(contrib, nodes.node == contrib.d, "left")
            .select(
                "node",
                "deg",
                (F.lit(base) + F.coalesce("incoming", F.lit(0))).alias("pr"),
            )
            .localCheckpoint()
        )
    return ranks.select(
        F.col("node").alias("doc_id"), F.col("pr").alias("pr_e9")
    )


def _pagerank_oracle_sql() -> str:
    base_expr = (
        f"(CAST({PAGERANK_SCALE} AS BIGINT) * {PAGERANK_D_DEN - PAGERANK_D_NUM})"
        f" // ({PAGERANK_D_DEN} * (SELECT COUNT(*) FROM nodes))"
    )
    its = []
    prev = "pr0"
    for k in range(1, PAGERANK_ITERS + 1):
        its.append(f"""
pr{k} AS (
    SELECT n.node, n.deg,
           CAST({base_expr} + COALESCE(SUM(({PAGERANK_D_NUM} * p.pr)
                // ({PAGERANK_D_DEN} * p.deg)), 0) AS BIGINT) AS pr
    FROM nodes n
    LEFT JOIN edg e ON e.d = n.node
    LEFT JOIN {prev} p ON p.node = e.s
    GROUP BY n.node, n.deg
)""")
        prev = f"pr{k}"
    return f"""
WITH prpairs AS (
    SELECT * FROM ({_minhash_oracle_sql()})
    WHERE jaccard_e6 >= {COMPONENT_MIN_JACCARD_E6}
),
edg AS (
    SELECT doc_a AS s, doc_b AS d FROM prpairs
    UNION
    SELECT doc_b, doc_a FROM prpairs
),
nodes AS (SELECT s AS node, COUNT(*) AS deg FROM edg GROUP BY s),
pr0 AS (SELECT node, deg, CAST({PAGERANK_SCALE} AS BIGINT) AS pr FROM nodes),
{",".join(its)}
SELECT node AS doc_id, pr AS pr_e9 FROM pr{PAGERANK_ITERS}
"""


# ------------------------------------------------------ embedding pairs
def dedup_embedding(
    spark: SparkSession, sf_dir: str, allow_quadratic: bool = False
) -> DataFrame:
    """Near-duplicate pairs by quantized cosine ≥ threshold. Brute-force
    pair enumeration (oracle-checkable); the candidate-generation scale
    path is ``operators.similarity.dedup_embedding_ann`` (IVF
    multi-assignment, measured 0.95 recall of this exact pair set)
    (guarded: refuses > QUADRATIC_GUARD_MAX_ROWS vectors unless
    ``allow_quadratic``)."""
    e = load_table_spread(spark, sf_dir, "embeddings").select(
        "vec_id", vectors.quantize(F.col("embedding")).alias("q")
    )
    _guard_quadratic(e, "dedup_embedding", "dedup_embedding_ann", allow_quadratic)
    e = e.withColumn("n2", vectors.norm2(F.col("q")))
    pairs = e.alias("a").join(
        F.broadcast(e.alias("b")), F.col("a.vec_id") < F.col("b.vec_id")
    )
    d = vectors.dot(F.col("a.q"), F.col("b.q"))
    sim = vectors.sim_e6(d, F.col("a.n2"), F.col("b.n2"))
    return (
        pairs.select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            sim.alias("sim_e6"),
        )
        .where(F.col("sim_e6") >= EMBED_DUP_MIN_E6)
    )


def _embedding_oracle_sql() -> str:
    q = vectors.quantize_sql("embedding")
    d = vectors.dot_sql("a.q", "b.q")
    sim = vectors.sim_e6_sql(d, "a.n2", "b.n2")
    return f"""
WITH e AS (
    SELECT vec_id, {q} AS q FROM embeddings
),
en AS (SELECT vec_id, q, {vectors.dot_sql('q', 'q')} AS n2 FROM e)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {sim} AS sim_e6
FROM en a JOIN en b ON a.vec_id < b.vec_id
WHERE {sim} >= {EMBED_DUP_MIN_E6}
"""


COMPONENT_MIN_JACCARD_E6 = 20_000  # edge = verified pair with jaccard ≥ 2%
COMPONENT_MAX_ITERS = 20


def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster assignment: connected components over the verified
    minhash-LSH pair graph, so each duplicate *cluster* (not just each
    pair) gets one canonical keeper — the step a real dedup pipeline runs
    after pair generation (transitive closure: A~B, B~C ⇒ {A,B,C} even if
    A≁C directly).

    Size-dispatched closure (round 12 optimization — the ``_er_closure``
    engine the ER index paths already use): the verified pair graph is
    ORDERS smaller than the corpus, so below
    ``ER_DRIVER_CLOSURE_MAX_EDGES`` a driver union-find with path
    compression answers in milliseconds what the distributed Hash-Min +
    pointer-jump loop (:func:`propagate_components`) pays ~12 scheduler
    rounds for (measured at sf0.1: 5,714 edges, closure 8.5 s → <0.3 s;
    the loop's design rationale lives in its own docstring).  Above the
    edge threshold the distributed engine takes over with identical
    semantics — component = min reachable id, edge endpoints only.
    The oracle is the same fixpoint via DuckDB's recursive CTE.

    Output: (doc_id, component) for every document; component = min doc_id
    reachable through the pair graph (isolated docs map to themselves).
    """
    pairs = dedup_minhash_lsh(spark, sf_dir).where(
        F.col("jaccard_e6") >= COMPONENT_MIN_JACCARD_E6
    )
    labels = _er_closure(spark, pairs.select("doc_a", "doc_b"))
    return (
        _docs(spark, sf_dir)
        .select("doc_id")
        .join(labels, F.col("doc_id") == labels.node, "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("component"),
        )
    )


def propagate_components(
    spark: SparkSession,
    pairs: DataFrame,
    a_col: str,
    b_col: str,
    max_iters: int = COMPONENT_MAX_ITERS,
    jumps: int = 1,
) -> DataFrame:
    """Connected components over an undirected pair graph → (node,
    component) for every node that appears in a pair (isolated nodes are
    the caller's left-join). The iterative engine behind
    :func:`dedup_components` and :func:`operators.similarity`'s semantic
    clusters — see dedup_components' docstring for the measured design
    rationale (edge-restricted frontier, one pointer jump per round,
    loop-scoped conf, checkpoint cadence)."""
    # Checkpoint the directed half FIRST: the symmetrizing union below
    # references it twice, and without the cut the whole upstream pair
    # GENERATOR evaluates twice into the edges checkpoint — harmless for
    # the 1 s minhash feed, but the round-7 entity-resolution caller
    # feeds three generators (~9 s at sf0.1) and paid both copies
    # (measured 22.5 → ~14 s at sf0.1 with the cut).
    half = pairs.select(
        F.col(a_col).alias("s"), F.col(b_col).alias("d")
    ).localCheckpoint()
    edges = (
        half.union(half.select(F.col("d").alias("s"), F.col("s").alias("d")))
        .distinct()
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("s").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint()
    )
    saved = {
        "spark.sql.shuffle.partitions": spark.conf.get(
            "spark.sql.shuffle.partitions"
        ),
        "spark.sql.adaptive.enabled": spark.conf.get(
            "spark.sql.adaptive.enabled"
        ),
    }
    n_nodes = labels.count()
    loop_parts = max(4, min(int(saved["spark.sql.shuffle.partitions"]),
                            n_nodes // 250_000 + 1))
    changed = 0
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(loop_parts))
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        for it in range(max_iters):
            nbr_min = edges.join(
                labels, edges.d == labels.node
            ).groupBy("s").agg(F.min("label").alias("nbr_label"))
            stepped = labels.join(
                nbr_min, labels.node == nbr_min.s, "left"
            ).select(
                labels.node,
                F.col("label").alias("old_label"),
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
            )
            # pointer jump: follow the label one level (label[label]).
            # ``jumps`` > 1 composes the jump within the round — each
            # extra application roughly doubles the compressed path
            # length, so long-chain graphs (the ER bootstrap's
            # half-corpus subgraph measured diameter >> the default
            # cap) converge in O(log d) rounds for a few extra
            # label-frame self-joins, which are |nodes|-row steering
            # work, not data volume.  The frame is CHECKPOINTED before
            # composing: a self-join evaluates both sides, so an uncut
            # plan re-runs the whole round 2^jumps times (the first cut
            # of this loop measurably hung the bootstrap).
            if jumps > 1:
                stepped = stepped.localCheckpoint()
            for _ in range(jumps):
                jmp = stepped.select(
                    F.col("node").alias("jd"), F.col("label").alias("jl")
                )
                stepped = stepped.join(
                    jmp, stepped.label == jmp.jd, "left"
                ).select(
                    stepped.node,
                    "old_label",
                    F.least(
                        F.col("label"), F.coalesce("jl", F.col("label"))
                    ).alias("label"),
                )
            new_labels = stepped.localCheckpoint()
            # in-frame convergence check — no extra join against the old
            # labels, one scan of the just-checkpointed frame. Checked on
            # every SECOND round (and the last): labels only decrease, so
            # a fixpoint reached on an unchecked round is simply detected
            # one (cheap) round later — half the check jobs.
            if it % 2 == 1 or it == max_iters - 1:
                changed = new_labels.where(
                    F.col("label") != F.col("old_label")
                ).count()
            else:
                changed = -1  # unknown this round
            labels = new_labels.select("node", "label")
            if changed == 0:
                break
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    if changed != 0:
        # Hash-Min needs rounds ≈ max component diameter; a component wider
        # than the cap would silently return partially propagated labels
        # (and mismatch the recursive-CTE oracle, which always reaches
        # fixpoint). Fail loudly instead.
        raise RuntimeError(
            f"propagate_components did not converge in {max_iters} "
            f"rounds ({changed} labels still changing); raise "
            "max_iters for graphs with larger diameter"
        )
    return labels.select("node", F.col("label").alias("component"))


def _components_oracle_sql() -> str:
    return f"""
WITH RECURSIVE pairs AS (
    SELECT * FROM ({_minhash_oracle_sql()})
    WHERE jaccard_e6 >= {COMPONENT_MIN_JACCARD_E6}
),
e AS (
    SELECT doc_a AS s, doc_b AS d FROM pairs
    UNION
    SELECT doc_b, doc_a FROM pairs
),
reach(doc_id, label) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.s, r.label FROM reach r JOIN e ON r.doc_id = e.d
)
SELECT doc_id, MIN(label) AS component FROM reach GROUP BY doc_id
"""


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked keeper selection over near-dup clusters — the step
    that turns pair detection into an actual curation decision: for every
    connected component of the verified minhash pair graph
    (:func:`dedup_components`), KEEP exactly the member with the best
    model-based quality score (``quality.quality_score``; ties broken by
    lowest doc_id) and drop the rest. Real training pipelines keep the
    best-quality representative, not an arbitrary min-id one (the
    reference has no notion of this; extension surface, cf. the
    Gopher/FineWeb-style dedup-then-select recipe).

    Output: (doc_id, component, score, keep) for every document.

    100 TB shape: composes two already-scale-shaped plans with one
    doc_id-keyed join (both sides hash-partitioned on doc_id) and one
    per-component window — partition skew is bounded by the largest
    duplicate cluster, which the upstream jaccard threshold bounds in
    practice; a pathological mega-cluster would already have blown up
    pair verification long before this ranking."""
    from pyspark.sql import Window

    from .quality import quality_score

    comp = dedup_components(spark, sf_dir)
    q = quality_score(spark, sf_dir).select("doc_id", "score")
    w = Window.partitionBy("component").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        comp.join(q, "doc_id")
        .select(
            "doc_id",
            "component",
            "score",
            (F.row_number().over(w) == 1).alias("keep"),
        )
    )


def _keep_best_oracle_sql() -> str:
    from .quality import _quality_score_oracle_sql

    return f"""
WITH comp AS (
    SELECT * FROM ({_components_oracle_sql()})
),
q AS (
    SELECT doc_id, score FROM ({_quality_score_oracle_sql()})
)
SELECT c.doc_id, c.component, q.score,
       ROW_NUMBER() OVER (
           PARTITION BY c.component ORDER BY q.score DESC, c.doc_id ASC
       ) = 1 AS keep
FROM comp c JOIN q USING (doc_id)
"""


# ------------------------------------ entity resolution capstone (round 7)
def dedup_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-signal entity resolution — the composition the dedup family
    exists for: three independent evidence generators, one transitive
    closure, one canonical-record pick.

    Evidence edges (each already scale-shaped on its own):

    - EXACT   : byte-identical content (md5 hub edges — every dup points
                at its group's min id; hubs and cliques close to the
                same components, hubs shuffle O(n) not O(n²)).
    - NEAR    : minhash-LSH verified Jaccard ≥ the component threshold
                (token-level paraphrase/boilerplate overlap).
    - TYPO    : edit distance ≤ τ via the q-gram prefix join
                (character-level corruption the token signals miss).

    The union is the match graph; entities are its connected components
    (the shared Hash-Min + pointer-jump engine), because match evidence
    is pairwise but identity is transitive: A≈B (typo), B≈C (near-dup)
    ⇒ one entity {A,B,C} even though no single signal links A to C —
    the reason ER systems run closure rather than threshold pairs
    directly. Canonical record per entity = best quality_score (ties to
    min doc_id), the dedup_keep_best rule applied to the multi-signal
    entity.

    Output: (doc_id, entity, score, n_members, canonical) for every
    document — singletons are their own entity.

    The ORACLE composes the three signals' own oracle SQL verbatim
    (UNION), closes over DuckDB's recursive CTE, and re-ranks — so the
    hash gate simultaneously re-proves each generator AND pins that the
    composition semantics (union → closure → pick) match.

    100 TB shape: nothing new is shuffled beyond the parts — hub edges
    ride the exact-dedup groupBy, the pair generators are the bucketed/
    prefix-filtered scale paths, closure runs on edge endpoints only,
    and the final rank is one doc_id join + per-entity window."""
    from .quality import quality_score

    docs = _docs(spark, sf_dir)
    hashes = docs.select(F.md5("text").alias("h"), "doc_id")
    keeper = hashes.groupBy("h").agg(F.min("doc_id").alias("k"))
    exact_e = (
        hashes.join(keeper, "h")
        .where(F.col("doc_id") != F.col("k"))
        .select(F.col("k").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )
    near_e = (
        dedup_minhash_lsh(spark, sf_dir)
        .where(F.col("jaccard_e6") >= COMPONENT_MIN_JACCARD_E6)
        .select("doc_a", "doc_b")
    )
    typo_e = dedup_edit_distance(spark, sf_dir).select("doc_a", "doc_b")
    edges = exact_e.unionByName(near_e).unionByName(typo_e).distinct()
    return _entities_of(spark, sf_dir, docs, edges)


def _entities_of(
    spark: SparkSession, sf_dir: str, docs: DataFrame, edges: DataFrame
) -> DataFrame:
    """Edge set → (doc_id, entity, score, n_members, canonical): the
    closure + keep-best tail shared by the hard-union capstone and the
    probabilistic (Fellegi-Sunter-gated) variant — factored round 12 so
    the two entity definitions differ ONLY in their edge evidence.
    Closure is the size-dispatched ``_er_closure`` (round 12
    optimization): match graphs are candidate-bounded, so the driver
    union-find path covers them at bench scale and the distributed
    engine takes over past ER_DRIVER_CLOSURE_MAX_EDGES."""
    from .quality import quality_score

    labels = _er_closure(spark, edges.select("doc_a", "doc_b"))
    comp = (
        docs.select("doc_id")
        .join(labels, F.col("doc_id") == labels.node, "left")
        .select(
            "doc_id", F.coalesce("component", F.col("doc_id")).alias("entity")
        )
    )
    q = quality_score(spark, sf_dir).select("doc_id", "score")
    wrank = Window.partitionBy("entity").orderBy(F.desc("score"), F.asc("doc_id"))
    wsize = Window.partitionBy("entity")
    return comp.join(q, "doc_id").select(
        "doc_id",
        "entity",
        "score",
        F.count(F.lit(1)).over(wsize).alias("n_members"),
        (F.row_number().over(wrank) == 1).alias("canonical"),
    )


def _entity_resolution_oracle_sql() -> str:
    from .quality import _quality_score_oracle_sql

    return f"""
WITH RECURSIVE exact_pairs AS (
    SELECT k.k AS doc_a, d.doc_id AS doc_b
    FROM documents d
    JOIN (SELECT md5(text) AS h, MIN(doc_id) AS k
          FROM documents GROUP BY md5(text)) k
      ON md5(d.text) = k.h AND d.doc_id <> k.k
),
near_pairs AS (
    SELECT doc_a, doc_b FROM ({_minhash_oracle_sql()})
    WHERE jaccard_e6 >= {COMPONENT_MIN_JACCARD_E6}
),
typo_pairs AS (
    SELECT doc_a, doc_b FROM ({_edit_distance_oracle_sql()})
),
pairs AS (
    SELECT doc_a, doc_b FROM exact_pairs
    UNION SELECT doc_a, doc_b FROM near_pairs
    UNION SELECT doc_a, doc_b FROM typo_pairs
),
e AS (
    SELECT doc_a AS s, doc_b AS d FROM pairs
    UNION SELECT doc_b, doc_a FROM pairs
),
reach(doc_id, label) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.s, r.label FROM reach r JOIN e ON r.doc_id = e.d
),
comp AS (
    SELECT doc_id, MIN(label) AS entity FROM reach GROUP BY doc_id
),
q AS (
    SELECT doc_id, score FROM ({_quality_score_oracle_sql()})
)
SELECT c.doc_id, c.entity, q.score,
       CAST(COUNT(*) OVER (PARTITION BY c.entity) AS BIGINT) AS n_members,
       ROW_NUMBER() OVER (
           PARTITION BY c.entity ORDER BY q.score DESC, c.doc_id ASC
       ) = 1 AS canonical
FROM comp c JOIN q USING (doc_id)
"""


# ------------------- Fellegi-Sunter probabilistic linkage (round 12)
# The trained sibling of the rule-based ER capstone: instead of
# hard-unioning the three evidence signals, LEARN how much each one is
# worth.  Fellegi-Sunter (JASA 1969) under conditional independence:
# each candidate pair carries an agreement pattern γ = (exact, near,
# typo) ∈ {0,1}³; EM estimates the match prevalence λ and per-signal
# conditional agreement rates m_g = P(γ_g|match), u_g = P(γ_g|unmatch)
# from the UNLABELED pattern counts (Winkler 1988's unsupervised
# variant), and the served weight is the pattern's match posterior.
# Everything is exact Q16 fixed point with truncating division (the LR
# hard-sigmoid precedent), so the DuckDB oracle — the identical EM
# unrolled as chained CTEs — hashes bit-for-bit.
#
# 100 TB shape: the corpus-scale work is building candidate pairs
# (the three generators' own bounded paths, reused verbatim) and ONE
# map-combinable groupBy onto ≤ 2³ = 8 pattern rows.  EM then runs on
# the 8-row table — driver-side by construction, the bounded-collect
# rule (≤ 8 rows regardless of corpus size; no distributed twin is
# needed because the sufficient statistics are already sketch-sized).
# Serving is one broadcast join of the 8-row posterior table back onto
# the pairs.

FS_ITERS = 20
_FS_Q = 65536
_FS_INIT = (32768, 58982, 6554)  # λ₀ = ½, m₀ ≈ 0.9, u₀ ≈ 0.1 in Q16


def _fs_clamp(x: int) -> int:
    return min(max(x, 1), _FS_Q - 1)


def _fs_posts(
    counts: list[tuple[int, int, int, int]],
) -> dict[tuple[int, int, int], int]:
    """Exact-integer EM over (γ_exact, γ_near, γ_typo, count) rows →
    per-pattern match posterior in Q16.  Parameters are clamped to
    [1, Q−1] each step (a rate hitting exactly 0/1 would zero every
    product through it and freeze EM — standard smoothing, and it keeps
    the truncating-division algebra total)."""
    lam, m, u = _FS_INIT[0], [_FS_INIT[1]] * 3, [_FS_INIT[2]] * 3

    def posterior(gs: tuple[int, int, int]) -> int:
        num, den = lam, _FS_Q - lam
        for g, mg, ug in zip(gs, m, u):
            num = num * (mg if g else _FS_Q - mg) // _FS_Q
            den = den * (ug if g else _FS_Q - ug) // _FS_Q
        return (num * _FS_Q) // (num + den) if num + den else 0

    for _ in range(FS_ITERS):
        post = {(g1, g2, g3): posterior((g1, g2, g3)) for g1, g2, g3, _ in counts}
        tot = sum(c for *_, c in counts)
        sp = sum(c * post[(g1, g2, g3)] for g1, g2, g3, c in counts)
        sn = sum(c * (_FS_Q - post[(g1, g2, g3)]) for g1, g2, g3, c in counts)
        lam = _fs_clamp(sp // tot)
        for i in range(3):
            spg = sum(
                c * post[(g1, g2, g3)]
                for g1, g2, g3, c in counts
                if (g1, g2, g3)[i] == 1
            )
            sng = sum(
                c * (_FS_Q - post[(g1, g2, g3)])
                for g1, g2, g3, c in counts
                if (g1, g2, g3)[i] == 1
            )
            if sp > 0:
                m[i] = _fs_clamp(spg * _FS_Q // sp)
            if sn > 0:
                u[i] = _fs_clamp(sng * _FS_Q // sn)
    return {(g1, g2, g3): posterior((g1, g2, g3)) for g1, g2, g3, _ in counts}


def er_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every candidate pair with the EM-trained Fellegi-Sunter
    match posterior (module note above).  Candidate universe = the ER
    capstone's three generator outputs (exact hub pairs, LSH-verified
    near pairs at the component threshold, EDjoin typo pairs); the
    agreement pattern re-checks γ_exact by md5 equality on the pair
    itself (a near/typo pair of byte-identical docs agrees on EXACT
    too), γ_near/γ_typo by generator membership.  Output one row per
    pair: the pattern bits, the learned Q16 posterior, and the λ=½
    decision — the probabilistic alternative to the capstone's
    hard-union edge set."""
    return _fs_scored(spark, sf_dir).orderBy("doc_a", "doc_b")


def _fs_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    hashes = docs.select(F.md5("text").alias("h"), "doc_id")
    keeper = hashes.groupBy("h").agg(F.min("doc_id").alias("k"))
    exact_p = (
        hashes.join(keeper, "h")
        .where(F.col("doc_id") != F.col("k"))
        .select(F.col("k").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )
    # Each generator subtree feeds BOTH the candidate union and its γ
    # marker join — stage each ONCE (pair-set-sized) so the LSH verify
    # and the banded Levenshtein run once, not twice.
    near_p = (
        dedup_minhash_lsh(spark, sf_dir)
        .where(F.col("jaccard_e6") >= COMPONENT_MIN_JACCARD_E6)
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    typo_p = (
        dedup_edit_distance(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    cands = (
        exact_p.unionByName(near_p).unionByName(typo_p).distinct()
    ).localCheckpoint()  # read 3×: γ build, pattern counts, serving join
    ha = hashes.select(F.col("doc_id").alias("doc_a"), F.col("h").alias("h_a"))
    hb = hashes.select(F.col("doc_id").alias("doc_b"), F.col("h").alias("h_b"))
    g = (
        cands.join(ha, "doc_a")
        .join(hb, "doc_b")
        .join(near_p.withColumn("nr", F.lit(1)), ["doc_a", "doc_b"], "left")
        .join(typo_p.withColumn("ty", F.lit(1)), ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            F.when(F.col("h_a") == F.col("h_b"), F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("g_exact"),
            F.coalesce("nr", F.lit(0)).cast("long").alias("g_near"),
            F.coalesce("ty", F.lit(0)).cast("long").alias("g_typo"),
        )
        # pair-set-sized; read twice (pattern counts + serving join) — the
        # un-cut plan re-ran the four γ joins for the serve (round 12 opt)
        .localCheckpoint()
    )
    counts = [
        (int(r["g_exact"]), int(r["g_near"]), int(r["g_typo"]), int(r["c"]))
        for r in g.groupBy("g_exact", "g_near", "g_typo")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()  # bounded: <= 8 pattern rows at ANY corpus size
    ]
    posts = _fs_posts(sorted(counts))
    post_df = local_rows(
        spark,
        [
            (g1, g2, g3, p, bool(p >= _FS_Q // 2))
            for (g1, g2, g3), p in posts.items()
        ],
        "g_exact long, g_near long, g_typo long, post_q16 long, "
        "is_match boolean",
    )
    return g.join(
        F.broadcast(post_df), ["g_exact", "g_near", "g_typo"]
    ).select(
        "doc_a", "doc_b", "g_exact", "g_near", "g_typo",
        "post_q16", "is_match",
    )


def er_probabilistic_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entities from the LEARNED match decision: close over the pairs
    Fellegi-Sunter marks ``is_match`` (posterior ≥ ½) instead of the
    capstone's hard generator union, then the shared keep-best tail —
    the trained model actually FEEDING the pipeline, the quality-
    classifier-inside-curate precedent.  On corpora where a generator
    fires on weak evidence (here: near-only pairs, learned posterior
    ≈ 0.1), the probabilistic entities split the hard capstone's
    over-merged components — the difference is the point of the entry,
    and the divergence is pytest-pinned.  Same output shape as
    ``dedup_entity_resolution``; oracle composes the unrolled-EM chain
    with the recursive closure verbatim."""
    edges = (
        _fs_scored(spark, sf_dir)
        .where(F.col("is_match"))
        .select("doc_a", "doc_b")
    )
    return _entities_of(spark, sf_dir, _docs(spark, sf_dir), edges)


def _prob_entities_oracle_sql() -> str:
    from .quality import _quality_score_oracle_sql

    return f"""
WITH RECURSIVE {_fs_scored_ctes()},
mpairs AS (SELECT doc_a, doc_b FROM scored WHERE is_match),
e AS (
    SELECT doc_a AS s, doc_b AS d FROM mpairs
    UNION SELECT doc_b, doc_a FROM mpairs
),
reach(doc_id, label) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.s, r.label FROM reach r JOIN e ON r.doc_id = e.d
),
comp AS (
    SELECT doc_id, MIN(label) AS entity FROM reach GROUP BY doc_id
),
q AS (
    SELECT doc_id, score FROM ({_quality_score_oracle_sql()})
)
SELECT c.doc_id, c.entity, q.score,
       CAST(COUNT(*) OVER (PARTITION BY c.entity) AS BIGINT) AS n_members,
       ROW_NUMBER() OVER (
           PARTITION BY c.entity ORDER BY q.score DESC, c.doc_id ASC
       ) = 1 AS canonical
FROM comp c JOIN q USING (doc_id)
"""


def _fs_num_den_sql(k: int) -> str:
    """Per-pattern (num, den) under state s{k} — the three-factor Q16
    product with truncating division after every factor, matching
    `_fs_posts.posterior` term for term."""
    num = f"(SELECT lam FROM s{k})"
    den = f"(65536 - (SELECT lam FROM s{k}))"
    for i, gcol in enumerate(("g_exact", "g_near", "g_typo"), start=1):
        num = (
            f"(({num}) * (CASE WHEN {gcol} = 1 THEN (SELECT m{i} FROM s{k})"
            f" ELSE 65536 - (SELECT m{i} FROM s{k}) END)) // 65536"
        )
        den = (
            f"(({den}) * (CASE WHEN {gcol} = 1 THEN (SELECT u{i} FROM s{k})"
            f" ELSE 65536 - (SELECT u{i} FROM s{k}) END)) // 65536"
        )
    return f"{num} AS num, {den} AS den"


def _fs_scored_ctes() -> str:
    """The full FS chain (generators → γ → pattern counts → unrolled EM
    → per-pair posterior) ending with a ``scored`` CTE — shared by the
    pair-scoring oracle and the probabilistic-entities oracle so the
    learned decision cannot drift between them."""
    iters = []
    for k in range(FS_ITERS):
        upd = ["LEAST(GREATEST(SUM(c * post) // SUM(c), 1), 65535) AS lam"]
        for i, gcol in enumerate(("g_exact", "g_near", "g_typo"), start=1):
            upd.append(
                f"LEAST(GREATEST(COALESCE("
                f"SUM(CASE WHEN {gcol} = 1 THEN c * post ELSE 0 END) * 65536"
                f" // NULLIF(SUM(c * post), 0),"
                f" (SELECT m{i} FROM s{k})), 1), 65535) AS m{i}"
            )
            upd.append(
                f"LEAST(GREATEST(COALESCE("
                f"SUM(CASE WHEN {gcol} = 1 THEN c * (65536 - post) ELSE 0 END)"
                f" * 65536 // NULLIF(SUM(c * (65536 - post)), 0),"
                f" (SELECT u{i} FROM s{k})), 1), 65535) AS u{i}"
            )
        iters.append(f"""p{k} AS MATERIALIZED (
    SELECT g_exact, g_near, g_typo, c,
           CASE WHEN num + den = 0 THEN 0
                ELSE (num * 65536) // (num + den) END AS post
    FROM (SELECT g_exact, g_near, g_typo, c, {_fs_num_den_sql(k)} FROM pat)
),
s{k + 1} AS MATERIALIZED (
    SELECT {', '.join(upd)} FROM p{k}
)""")
    kf = FS_ITERS
    chain = ",\n".join(iters)
    return f"""exact_pairs AS MATERIALIZED (
    SELECT k.k AS doc_a, d.doc_id AS doc_b
    FROM documents d
    JOIN (SELECT md5(text) AS h, MIN(doc_id) AS k
          FROM documents GROUP BY md5(text)) k
      ON md5(d.text) = k.h AND d.doc_id <> k.k
),
near_pairs AS MATERIALIZED (
    SELECT doc_a, doc_b FROM ({_minhash_oracle_sql()})
    WHERE jaccard_e6 >= {COMPONENT_MIN_JACCARD_E6}
),
typo_pairs AS MATERIALIZED (
    SELECT doc_a, doc_b FROM ({_edit_distance_oracle_sql()})
),
cands AS MATERIALIZED (
    SELECT doc_a, doc_b FROM exact_pairs
    UNION SELECT doc_a, doc_b FROM near_pairs
    UNION SELECT doc_a, doc_b FROM typo_pairs
),
g AS MATERIALIZED (
    SELECT c.doc_a, c.doc_b,
           CAST(CASE WHEN md5(da.text) = md5(db.text) THEN 1 ELSE 0 END
                AS BIGINT) AS g_exact,
           CAST(CASE WHEN n.doc_a IS NOT NULL THEN 1 ELSE 0 END
                AS BIGINT) AS g_near,
           CAST(CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END
                AS BIGINT) AS g_typo
    FROM cands c
    JOIN documents da ON da.doc_id = c.doc_a
    JOIN documents db ON db.doc_id = c.doc_b
    LEFT JOIN near_pairs n ON n.doc_a = c.doc_a AND n.doc_b = c.doc_b
    LEFT JOIN typo_pairs t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
),
pat AS MATERIALIZED (
    SELECT g_exact, g_near, g_typo, COUNT(*) AS c
    FROM g GROUP BY 1, 2, 3
),
s0 AS MATERIALIZED (
    SELECT {_FS_INIT[0]} AS lam,
           {_FS_INIT[1]} AS m1, {_FS_INIT[1]} AS m2, {_FS_INIT[1]} AS m3,
           {_FS_INIT[2]} AS u1, {_FS_INIT[2]} AS u2, {_FS_INIT[2]} AS u3
),
{chain},
final AS (
    SELECT g_exact, g_near, g_typo,
           CAST(CASE WHEN num + den = 0 THEN 0
                ELSE (num * 65536) // (num + den) END AS BIGINT) AS post_q16
    FROM (SELECT g_exact, g_near, g_typo, c, {_fs_num_den_sql(kf)} FROM pat)
),
scored AS (
    SELECT g.doc_a, g.doc_b, g.g_exact, g.g_near, g.g_typo,
           f.post_q16, f.post_q16 >= 32768 AS is_match
    FROM g JOIN final f USING (g_exact, g_near, g_typo)
)"""


def _fellegi_sunter_oracle_sql() -> str:
    return f"""
WITH {_fs_scored_ctes()}
SELECT doc_a, doc_b, g_exact, g_near, g_typo, post_q16, is_match
FROM scored
ORDER BY doc_a, doc_b
"""


# ------------------------ incremental entity resolution (round 8)
# The continuous-ingest twin of the dedup_entity_resolution capstone
# (VERDICT r7 item 2): a persisted multi-signal ER index on the shared
# versioned-snapshot convention (functions/snapshots.py). Per-batch work
# is bounded by the batch and its candidates: new docs probe the three
# persisted generator structures (md5 hash rows for EXACT, minhash
# signatures for NEAR, an x-ordered q-gram prefix index for TYPO) —
# never index×index — and the transitive closure runs only over the
# AFFECTED subgraph (new docs + the entity labels their edges touch),
# with old→new entity merges recorded in a composed remap table instead
# of rewriting the corpus-sized label table.
#
# TYPO prefix ordering: the batch dedup_edit_distance ranks each doc's
# q-grams by global document frequency before cutting the q·τ+1 prefix —
# a frequency-optimized CANDIDATE heuristic whose ordering shifts as the
# corpus grows, which would break the shared-prefix guarantee across
# batches. The index FREEZES the df order at bootstrap (the same move
# as freezing the IVF coarse quantizer): a persisted (gram → df0) table
# defines the total order (df0 ASC, gram ASC) forever, with
# never-seen-at-init grams at df0 = 0 — first in the order, which is
# also the optimal spot since unseen grams are the rarest.  The
# prefix-filter theorem (Chaudhuri et al., ICDE'06) needs only a
# CONSISTENT global order — τ edits destroy ≤ q·τ grams, so two
# within-τ docs share a gram among each one's q·τ+1 smallest under ANY
# shared order — so the candidate set stays a lossless superset under
# any ingest schedule (the first, x-ordered cut of this index was
# equally lossless but NOT frequency-pruned: at sf0.1 a common 8-gram
# in a prefix joined thousands of docs and the bootstrap blew past 9
# minutes; the frozen-df order restores the batch generator's pruning).
# Distribution drift degrades pruning, not correctness — refreshing the
# order means rebuilding the index, the IVF-retrain analogy.
ER_PREFIX_LEN = EDIT_Q * EDIT_TAU + 1
_ER_EMPTY_REMAP = "old_label long, new_label long"


def _er_doc_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, text, lang, h, len, score) persisted doc-state rows —
    one scan: the quality score comes from the shared wide projection
    directly (round 12: the previous quality_score_of().join(docs) form
    self-joined the same scan on doc_id, a whole shuffle for columns the
    wide frame already carries; same expressions, so stored rows are
    bit-identical)."""
    from .quality import _quality_scored_wide

    return _quality_scored_wide(docs.select("doc_id", "lang", "text")).select(
        "doc_id",
        "text",
        "lang",
        F.md5("text").alias("h"),
        F.length("text").cast("long").alias("len"),
        "score",
    )


def _er_doc_grams(d: DataFrame) -> DataFrame:
    """Distinct (doc_id, len, x) q-gram hashes of a (doc_id, text, len)
    frame."""
    return (
        d.where(F.col("len") >= EDIT_Q)
        .select(
            "doc_id",
            "len",
            F.explode(
                F.sequence(F.lit(1), F.col("len") - (EDIT_Q - 1))
            ).alias("pos"),
            "text",
        )
        .select(
            "doc_id",
            "len",
            texts.hash32(F.expr(f"substring(text, pos, {EDIT_Q})")).alias("x"),
        )
        .distinct()
    )


def _er_qgram_prefix(
    d: DataFrame, dford: DataFrame, grams: DataFrame | None = None
) -> DataFrame:
    """Frozen-df-ordered q-gram prefix rows (doc_id, x, len) over a
    (doc_id, text, len) frame — the persisted TYPO candidate index
    (module note above: order = (df0 ASC, x ASC), df0 from the
    bootstrap-frozen ``dford`` table, unseen grams at 0).

    ``grams`` short-circuits the gram scan with a pre-staged
    ``_er_doc_grams`` frame (round 12: the bootstrap derives dford from
    the same rows, so it stages them once).  The prefix itself is a
    per-doc array aggregate — collect the (df0, x) structs, array_sort
    (struct order = field order, exactly the old window's (df0 ASC,
    x ASC); (df0, x) is unique per doc after the gram distinct, so the
    order is total), slice — which replaces the row_number window's
    exchange+sort with one hash aggregate; per-doc gram counts are
    bounded by text length, so the collected arrays are row-sized, not
    corpus-sized."""
    qg = (grams if grams is not None else _er_doc_grams(d)).join(
        dford, "x", "left"
    ).select("doc_id", "len", "x", F.coalesce("df0", F.lit(0)).alias("df0"))
    return (
        qg.groupBy("doc_id", "len")
        .agg(
            F.slice(
                F.array_sort(F.collect_list(F.struct("df0", "x"))),
                1,
                ER_PREFIX_LEN,
            ).alias("p")
        )
        .select("doc_id", F.explode("p").alias("s"), "len")
        .select("doc_id", F.col("s.x").alias("x"), "len")
    )


def _er_edges(
    spark: SparkSession,
    new_docs: DataFrame,
    all_docs: DataFrame,
    new_sig: DataFrame,
    all_sig: DataFrame,
    new_qg: DataFrame,
    all_qg: DataFrame,
) -> DataFrame:
    """Match-graph edges with at least one NEW member, from the three
    evidence signals, probed new×all (doc_a < doc_b, distinct).  Passing
    new == all computes the full batch edge set (the init bootstrap)."""
    # EXACT: content-hash equality.
    exact_e = (
        new_docs.select(F.col("h"), F.col("doc_id").alias("na"))
        .join(all_docs.select("h", F.col("doc_id").alias("nb")), "h")
        .where(F.col("na") != F.col("nb"))
        .select(
            F.least("na", "nb").alias("doc_a"),
            F.greatest("na", "nb").alias("doc_b"),
        )
    )
    # NEAR: shared-minhash-band candidates, exact-Jaccard verified at the
    # component threshold (same arithmetic as dedup_minhash_lsh).
    n_h = len(MINHASH_A)
    stack_args = ", ".join(f"{h}, mh{h}" for h in range(n_h))

    def _bands(sig: DataFrame) -> DataFrame:
        return sig.select(
            "doc_id", F.expr(f"stack({n_h}, {stack_args}) AS (bh, bv)")
        )

    near_cand = (
        _bands(new_sig)
        .alias("a")
        .join(
            _bands(all_sig).alias("b"),
            (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.least("a.doc_id", "b.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    nx = all_sig.select("doc_id", "n", "xs")
    near_e = (
        near_cand.join(
            nx.select(
                F.col("doc_id").alias("doc_a"),
                F.col("n").alias("nna"),
                F.col("xs").alias("xa"),
            ),
            "doc_a",
        )
        .join(
            nx.select(
                F.col("doc_id").alias("doc_b"),
                F.col("n").alias("nnb"),
                F.col("xs").alias("xb"),
            ),
            "doc_b",
        )
        .withColumn("inter", F.size(F.array_intersect("xa", "xb")).cast("long"))
        .where(
            F.expr("div(inter * 1000000, nna + nnb - inter)")
            >= COMPONENT_MIN_JACCARD_E6
        )
        .select("doc_a", "doc_b")
    )
    # TYPO: shared-prefix-gram candidates + the tiny-string rescue, exact
    # banded-levenshtein verified (same predicate as dedup_edit_distance).
    typo_cand = (
        new_qg.alias("a")
        .join(all_qg.alias("b"), "x")
        .where(
            (F.col("a.doc_id") != F.col("b.doc_id"))
            & (F.abs(F.col("a.len") - F.col("b.len")) <= EDIT_TAU)
        )
        .select(
            F.least("a.doc_id", "b.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
        )
    )
    new_tiny = new_docs.where(F.col("len") < EDIT_Q + EDIT_TAU)
    all_tiny = all_docs.where(F.col("len") < EDIT_Q + EDIT_TAU)
    rescue = (
        new_tiny.alias("a")
        .join(
            all_tiny.alias("b"),
            (F.col("a.doc_id") != F.col("b.doc_id"))
            & (F.abs(F.col("a.len") - F.col("b.len")) <= EDIT_TAU)
            & (F.least(F.col("a.len"), F.col("b.len")) < EDIT_Q),
        )
        .select(
            F.least("a.doc_id", "b.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
        )
    )
    ta = all_docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("_ta"))
    tb = all_docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("_tb"))
    typo_e = (
        typo_cand.unionByName(rescue)
        .distinct()
        .join(ta, "doc_a")
        .join(tb, "doc_b")
        .where(F.levenshtein("_ta", "_tb", EDIT_TAU) >= 0)
        .select("doc_a", "doc_b")
    )
    return exact_e.unionByName(near_e).unionByName(typo_e).distinct()


# Closure round budget for the ER index paths: a HALF-corpus bootstrap
# graph (or a contracted update graph) can have LARGER diameter than the
# full batch graph — dropping half the nodes removes shortcut paths, and
# the sf0.1 even-half graph measurably exceeds the default 20-round cap
# that the full-corpus batch entry converges under. Hash-Min rounds are
# scheduler latency, not data volume, so a generous cap is cheap.
ER_CLOSURE_MAX_ITERS = COMPONENT_MAX_ITERS * 4
# Compose 4 pointer jumps per round for the ER closures: the
# half-corpus bootstrap graph is chain-heavy (measured >20-round
# diameter at sf0.1 where the full batch graph converges), and
# composed jumps buy exponential path compression per round at the
# cost of |nodes|-row self-joins.
ER_CLOSURE_JUMPS = 4


# Physical-strategy dispatch for the ER closures (the ARROW_ASSIGN_MIN_K
# move): a match graph is ORDERS smaller than its corpus, and both ER
# closure inputs are candidate-bounded (bootstrap: verified pairs only;
# update: the contracted affected subgraph) — below this edge count the
# closure is steering-sized and a driver-side union-find with path
# compression answers in milliseconds what the iterative engine pays
# rounds × scheduler-latency for (measured: the sf0.1 even-half
# bootstrap graph is 1.4k edges but chain-heavy — 30+ Hash-Min rounds,
# ~1-2 s each).  Above the threshold the distributed engine takes over
# with a deep round budget; correctness is identical (component = min
# reachable endpoint, endpoints only).
# Sized so the driver path's peak heap (a dict of int parents over
# ≤2·max endpoints, streamed in as plain int tuples via toLocalIterator
# — never a collect()ed list of Row objects, ADVICE r8) stays under
# ~100 MB, while keeping the measured sf1 half-corpus bootstrap graphs
# (~10^5 edges, >20-round Hash-Min diameter) on the milliseconds path;
# the distributed engine is correct at any size above.
ER_DRIVER_CLOSURE_MAX_EDGES = 500_000


def _er_closure(spark: SparkSession, edges: DataFrame) -> DataFrame:
    """(node, component) over the (doc_a, doc_b) edge frame — size-
    dispatched: driver union-find below ER_DRIVER_CLOSURE_MAX_EDGES,
    the distributed Hash-Min engine above."""
    edges = edges.localCheckpoint()  # count + (collect | engine) read it
    n_edges = edges.count()
    if n_edges > ER_DRIVER_CLOSURE_MAX_EDGES:
        return propagate_components(
            spark, edges, "doc_a", "doc_b",
            max_iters=ER_CLOSURE_MAX_ITERS, jumps=ER_CLOSURE_JUMPS,
        )
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for row in edges.toLocalIterator():
        a, b = int(row[0]), int(row[1])
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    comp_min: dict = {}
    for x in parent:
        r = find(x)
        m = comp_min.get(r)
        if m is None or x < m:
            comp_min[r] = x
    rows = [(int(x), int(comp_min[find(x)])) for x in parent]
    # Arrow local relation (round 13, guide §4): the label frame is
    # consumed by several downstream actions (entity join + snapshot
    # write; the closure family re-reads it per serving pass), and a
    # list-built frame re-pays a Python-RDD scan on each.
    return local_rows(spark, rows, "node long, component long")


def er_index_init(spark: SparkSession, docs: DataFrame, index_path: str) -> None:
    """Bootstrap the ER index on an initial corpus: persist the doc
    state, the NEAR/TYPO candidate structures, the per-doc entity labels
    from a full closure, and an empty remap — as snapshot ``er_v0``."""
    # The doc-state chain (drows → grams → dford → qg) and the minhash
    # signature scan are independent until _er_edges consumes both —
    # overlapped from a driver thread pool (round 13, guide §2.6); the
    # frames and their checkpoints are unchanged.
    def _leg_doc_chain():
        spark.sparkContext.setJobDescription("er init: doc/gram leg")
        drows = _er_doc_rows(docs).localCheckpoint()
        # Stage the gram rows once (round 12): dford and the prefix index
        # both derive from the same _er_doc_grams scan — the previous form
        # ran the explode+distinct twice.
        grams = _er_doc_grams(drows).localCheckpoint()
        # Freeze the q-gram df order on the bootstrap corpus (module note).
        dford = (
            grams.groupBy("x")
            .agg(F.count(F.lit(1)).alias("df0"))
            .localCheckpoint()
        )
        qg = _er_qgram_prefix(drows, dford, grams=grams).localCheckpoint()
        return drows, dford, qg

    def _leg_sig():
        spark.sparkContext.setJobDescription("er init: signature leg")
        return minhash_signatures(spark, docs).localCheckpoint()

    (drows, dford, qg), sig = run_overlapped(_leg_doc_chain, _leg_sig)
    edges = _er_edges(spark, drows, drows, sig, sig, qg, qg)
    labels = _er_closure(spark, edges)
    ent = (
        drows.select("doc_id")
        .join(labels, F.col("doc_id") == labels.node, "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("entity"),
        )
    )
    # Sized writes (round 12 opt, guide §6): every sub-table is already
    # materialized (checkpoint) or row-count-known, and one-file-per-task
    # writes cost ~0.4 s each in task+commit overhead at bench scale.
    # The six sub-table writes are independent jobs over materialized (or
    # once-consumed) frames — overlapped like the legs above (§2.6).
    n_docs = drows.count()
    with snapshots.txn(index_path, "er_v") as t:
        base = t.dir
        run_overlapped(
            lambda: snapshots.write_sized(drows, f"{base}/docs", rows=n_docs),
            lambda: snapshots.write_sized(sig, f"{base}/sig"),
            lambda: snapshots.write_sized(qg, f"{base}/qg"),
            lambda: snapshots.write_sized(dford, f"{base}/dford"),
            lambda: snapshots.write_sized(ent, f"{base}/labels", rows=n_docs),
            # Empty remap as a pure-JVM relation: createDataFrame([],
            # schema) builds a Python RDD whose (empty) partitions each
            # pay a Python worker round-trip — coalesce(1) evaluates all
            # of them SEQUENTIALLY in one task (measured: 5.1-5.8 s for
            # an EMPTY write; round 12 opt).
            lambda: spark.range(0).select(
                F.col("id").alias("old_label"), F.col("id").alias("new_label")
            ).coalesce(1).write.mode("overwrite").parquet(f"{base}/remap"),
        )


def er_index_update(
    spark: SparkSession, new_docs: DataFrame, index_path: str
) -> DataFrame:
    """Incremental ER step: probe the persisted generator structures with
    the NEW batch only, close over the AFFECTED subgraph (new docs +
    touched entity labels — edges to old docs are contracted onto their
    current labels first, so closure cost scales with the batch's blast
    radius, not the corpus), record old→new entity merges in the
    composed remap table, and commit everything as one atomic snapshot.

    Label algebra: a stored entity label IS the min doc_id of its
    component, so closing over the contracted graph (labels + new ids)
    yields exactly the min doc_id of each merged component — the same
    labels a batch closure over the unioned corpus produces, which is
    what lets the serving view (:func:`er_resolve`) hash-match the batch
    ``dedup_entity_resolution`` oracle on the union.

    Idempotent (anti-join on doc_id); returns the batch's new match
    edges (doc_a, doc_b) — empty on a retry."""
    with snapshots.txn(index_path, "er_v") as t:
        base = t.live
        old_docs = spark.read.parquet(f"{base}/docs")
        old_sig = spark.read.parquet(f"{base}/sig")
        old_qg = spark.read.parquet(f"{base}/qg")
        old_labels = spark.read.parquet(f"{base}/labels")
        old_remap = spark.read.parquet(f"{base}/remap")

        dford = spark.read.parquet(f"{base}/dford")
        # Stage the anti-join once (round 13): drows and sig each re-ran it
        # inside their own checkpoint before; and the doc→gram-prefix chain
        # is independent of the minhash signature scan, so the two legs
        # overlap from a driver thread pool (guide §2.6) — same frames, same
        # checkpoints, concurrent submission only.
        fresh = new_docs.join(
            old_docs.select("doc_id"), "doc_id", "left_anti"
        ).localCheckpoint()

        def _leg_doc_chain():
            spark.sparkContext.setJobDescription("er update: doc/gram leg")
            drows = _er_doc_rows(fresh).localCheckpoint()
            return drows, _er_qgram_prefix(drows, dford).localCheckpoint()

        def _leg_sig():
            spark.sparkContext.setJobDescription("er update: signature leg")
            return minhash_signatures(spark, fresh).localCheckpoint()

        (drows, qg), sig = run_overlapped(_leg_doc_chain, _leg_sig)

        all_docs = old_docs.unionByName(drows)
        edges = _er_edges(
            spark, drows, all_docs, sig, old_sig.unionByName(sig),
            qg, old_qg.unionByName(qg),
        ).localCheckpoint()

        # Contract old endpoints onto their CURRENT entity labels.  The
        # per-snapshot ``labels`` parquet stores each doc's label AS OF the
        # batch that wrote it; a later update may have retired that label
        # (recorded in the composed remap).  Contracting onto the STORED
        # label would attach the new edge to a retired node, and the single
        # remap hop at serve time can't follow the resulting chain (e.g.
        # stored 7 contracts onto retired 5 while 5→3 already exists → doc 7
        # serves entity 5, batch oracle says 3).  So resolve stored → current
        # through the composed remap FIRST, then contract onto current
        # labels only (ADVICE r8 high).
        cur_labels = (
            old_labels.join(
                old_remap.withColumnRenamed("old_label", "entity"),
                "entity",
                "left",
            )
            .select(
                "doc_id",
                F.coalesce("new_label", F.col("entity")).alias("entity"),
            )
        )
        lbl = cur_labels.select(
            F.col("doc_id").alias("_d"), F.col("entity").alias("_e")
        )
        contracted = (
            edges.join(lbl.withColumnRenamed("_d", "doc_a"), "doc_a", "left")
            .withColumn("ca", F.coalesce("_e", "doc_a"))
            .drop("_e")
            .join(lbl.withColumnRenamed("_d", "doc_b"), "doc_b", "left")
            .withColumn("cb", F.coalesce("_e", "doc_b"))
            .select("ca", "cb")
            .where(F.col("ca") != F.col("cb"))
        )
        closure = _er_closure(
            spark,
            contracted.select(
                F.col("ca").alias("doc_a"), F.col("cb").alias("doc_b")
            ),
        )

        # New docs: label from the affected closure, else themselves.
        new_labels = (
            drows.select("doc_id")
            .join(closure, F.col("doc_id") == closure.node, "left")
            .select(
                "doc_id",
                F.coalesce("component", F.col("doc_id")).alias("entity"),
            )
            # no checkpoint: written exactly once below, and every input is
            # already materialized (drows checkpoint, driver-built closure)
        )
        # CURRENT entities whose label moved: remap entries for this batch.
        # Keyed on current (never retired) labels, so batch_remap.old_label
        # is disjoint from old_remap.old_label — composition below can't emit
        # duplicate old_label rows.
        batch_remap = (
            closure.join(
                cur_labels.select(F.col("entity").alias("node")).distinct(),
                "node",
            )
            .where(F.col("node") != F.col("component"))
            .select(
                F.col("node").alias("old_label"),
                F.col("component").alias("new_label"),
            )
        )
        # Compose with the stored remap so every historical label maps to a
        # CURRENT one in a single hop at serve time.
        br = batch_remap.select(
            F.col("old_label").alias("_o"), F.col("new_label").alias("_n")
        )
        remap = (
            old_remap.join(
                br.withColumnRenamed("_o", "new_label"), "new_label", "left"
            )
            .select(
                "old_label",
                F.coalesce("_n", F.col("new_label")).alias("new_label"),
            )
            .unionByName(batch_remap)
            # checkpointed at the write below (merge-event-sized) so the
            # sized write can count it for free
        )

        nbase = t.dir
        # Sized writes (round 12 opt, guide §6) — batch-proportional frames,
        # one near-empty file per task otherwise.  new_labels has exactly one
        # row per batch doc (drows is checkpointed, so the count is a cheap
        # scan); remap is merge-event-sized and written once, so it is
        # checkpointed (tiny) to make its count free.
        n_batch = drows.count()
        # Independent writes of materialized (or once-consumed) frames —
        # overlapped (round 13, guide §2.6), then the hard links and the one
        # atomic commit strictly after.
        run_overlapped(
            lambda: snapshots.write_sized(drows, f"{nbase}/docs", rows=n_batch),
            lambda: snapshots.write_sized(sig, f"{nbase}/sig"),
            lambda: snapshots.write_sized(qg, f"{nbase}/qg"),
            lambda: snapshots.write_sized(
                new_labels, f"{nbase}/labels", rows=n_batch
            ),
            lambda: snapshots.write_sized(
                remap.localCheckpoint(), f"{nbase}/remap"
            ),
        )
        t.carry("docs", "sig", "qg", "labels", "dford")
    return edges


def er_resolve(spark: SparkSession, index_path: str) -> DataFrame:
    """Serving view over the ER index: (doc_id, entity, score, n_members,
    canonical) for the whole indexed corpus — the same shape and
    semantics as the batch :func:`dedup_entity_resolution`.  One join
    through the composed remap resolves every stored label to its
    current entity; the rank/size windows are output-proportional, the
    only corpus-sized work serving inherently is."""
    live = snapshots.snap_live(index_path)
    base = os.path.join(index_path, live)
    labels = spark.read.parquet(f"{base}/labels")
    remap = spark.read.parquet(f"{base}/remap")
    docs = spark.read.parquet(f"{base}/docs")
    ent = (
        labels.join(
            remap.withColumnRenamed("old_label", "entity"), "entity", "left"
        )
        .select(
            "doc_id", F.coalesce("new_label", F.col("entity")).alias("entity")
        )
    )
    wrank = Window.partitionBy("entity").orderBy(F.desc("score"), F.asc("doc_id"))
    wsize = Window.partitionBy("entity")
    return ent.join(docs.select("doc_id", "score"), "doc_id").select(
        "doc_id",
        "entity",
        "score",
        F.count(F.lit(1)).over(wsize).alias("n_members"),
        (F.row_number().over(wrank) == 1).alias("canonical"),
    )


def dedup_er_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry for the incremental ER path: bootstrap the index on
    the even-doc_id half of the corpus, ingest the odd half as an update
    batch, serve the resolved view — which must equal the BATCH
    ``dedup_entity_resolution`` over the full corpus bit-for-bit (the
    oracle is that entry's SQL verbatim): the hash gate pins that
    probe-only edge generation + affected-only closure + remap
    composition lose nothing vs recomputing from scratch."""
    import shutil
    import tempfile

    docs = _docs(spark, sf_dir).select("doc_id", "lang", "text")
    tmp = tempfile.mkdtemp(prefix="er_index_entry_")
    try:
        er_index_init(spark, docs.where(F.col("doc_id") % 2 == 0), tmp)
        er_index_update(spark, docs.where(F.col("doc_id") % 2 == 1), tmp)
        return er_resolve(spark, tmp).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

# ------------------------------------------------- substring-level dedup
# Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
# Better") remove EXACT substrings repeated across the corpus, not just
# duplicate documents — their ExactSubstr uses a suffix array over the
# concatenated corpus with a 50-token minimum match.  The
# distributed-engine shape here is the rolling-shingle equivalent: every
# W-token window whose content occurs ≥2 times anywhere in the corpus is
# a duplicate-span SEED; adjacent/overlapping seeds within a doc merge
# into maximal removal spans (gaps-and-islands).  Everything is keyed by
# shingle digest or doc_id — bucketed shuffles only, never all-pairs,
# and each window is one codegen lead-chain (no per-row array lambdas).
# W = 16 is the paper's 50-token threshold scaled to this corpus's
# 10–99-token documents; the digest is full md5 (collision odds
# negligible at any scale — at 100 TB prefer the full 128 bits over the
# 32-bit prefix hash the jaccard family uses for set arithmetic).
SUBSTR_W = 16


def dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-substring removal list: (doc_id,
    span_start, span_end, span_tokens) — maximal merged spans (1-based
    token positions, inclusive) such that every W-token window starting
    at a seed inside the span occurs at least twice in the corpus.

    Three hash-partitioned shuffles: doc_id (lead-chain shingling), h
    (duplicated-digest set via ``groupBy(h).count()`` — TRUE map-side
    partial aggregation, so a boilerplate shingle repeated 10⁶–10⁸
    times collapses to per-task partial counts before the exchange,
    and the seed semi-join back onto the occurrence rows is an
    AQE-skew-splittable join rather than a window that would funnel
    every occurrence of a hot digest into one task — round 10, VERDICT
    r9 item 2; same plan :func:`substr_index_init` already uses),
    doc_id (island merge; the final groupBy reuses the window's
    partitioning, no fourth exchange).  Reference parity: the
    reference repo has no dedup at all; this extends the engine's dedup
    family per the training-data-pipeline brief."""
    occ = _substr_occ(_docs(spark, sf_dir).select("doc_id", "text"))
    dup = (
        occ.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= 2)
        .select("h")
    )
    seeds = occ.join(dup, "h", "left_semi").select("doc_id", "pos")
    return _substr_spans(seeds)


def _substr_occ(docs: DataFrame, w: int = SUBSTR_W) -> DataFrame:
    """(doc_id, pos, h) rolling w-token shingle occurrence rows of a
    (doc_id, text) frame — 1-based pos, full-md5 digest, codegen
    lead-chain (one doc_id-keyed exchange)."""
    wt = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.lead("tok", j).over(wt).alias(f"_t{j}") for j in range(1, w)]
    return (
        docs.select(
            "doc_id",
            F.posexplode(texts.tokens(F.col("text"))).alias("pos", "tok"),
        )
        .select("doc_id", "pos", "tok", *leads)
        .where(F.col(f"_t{w - 1}").isNotNull())
        .select(
            "doc_id",
            (F.col("pos") + 1).cast("long").alias("pos"),
            F.md5(
                F.concat_ws(
                    " ", "tok", *[f"_t{j}" for j in range(1, w)]
                )
            ).alias("h"),
        )
    )


def _substr_spans(seeds: DataFrame, w: int = SUBSTR_W) -> DataFrame:
    """Merge (doc_id, pos) seed rows into maximal disjoint spans
    (gaps-and-islands; one doc_id-keyed exchange reused by the final
    groupBy)."""
    wd = Window.partitionBy("doc_id").orderBy("pos")
    isl = seeds.select(
        "doc_id", "pos", F.lag("pos").over(wd).alias("prev")
    ).select(
        "doc_id",
        "pos",
        F.sum(
            F.when(
                F.col("prev").isNull()
                | (F.col("pos") > F.col("prev") + w),
                1,
            ).otherwise(0)
        )
        .over(wd)
        .alias("island"),
    )
    return (
        isl.groupBy("doc_id", "island")
        .agg(F.min("pos").alias("span_start"), F.max("pos").alias("_mx"))
        .select(
            "doc_id",
            "span_start",
            (F.col("_mx") + w - 1).cast("long").alias("span_end"),
            (F.col("_mx") + w - F.col("span_start"))
            .cast("long")
            .alias("span_tokens"),
        )
    )


def dedup_substring_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the :func:`dedup_substring` removal list: re-emit the corpus
    with every duplicate span excised — (doc_id, n_tokens,
    n_removed_tokens, clean_text) for EVERY document (untouched docs
    pass through with 0 removed; a fully-duplicated doc keeps an empty
    clean_text rather than vanishing).

    Removal policy: every listed span is removed from every doc (the
    simplest deterministic policy; Lee et al. 2022 §3 keep one
    occurrence per duplicate cluster — that is a thin keeper-selection
    layer over this same span algebra, analogous to
    :func:`dedup_keep_best` over components, and belongs in curation
    policy, not the span engine).

    Plan: the span list is output-proportional (orders smaller than the
    corpus); the kept-token filter is a doc_id-keyed LEFT join of token
    rows onto spans with a range predicate — at 100 TB both sides are
    hash-partitioned on doc_id and the per-doc span count is tiny, so
    the range check rides the join's partitioning (no extra shuffle:
    tokens → doc_id exchange → join → groupBy doc_id reuses it)."""
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    spans = dedup_substring(spark, sf_dir).select(
        "doc_id", "span_start", "span_end"
    )
    toks = docs.select(
        "doc_id",
        F.posexplode(texts.tokens(F.col("text"))).alias("pos0", "tok"),
    ).select("doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "tok")
    marked = (
        toks.join(spans, "doc_id", "left")
        .withColumn(
            "in_span",
            F.col("span_start").isNotNull()
            & F.col("pos").between(F.col("span_start"), F.col("span_end")),
        )
        .groupBy("doc_id", "pos", "tok")
        .agg(F.max("in_span").alias("removed"))
    )
    kept = (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum(F.col("removed").cast("long")).alias("n_removed_tokens"),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                ~F.col("removed"),
                                F.struct("pos", "tok"),
                            )
                        )
                    ),
                    lambda s: s.tok,
                ),
            ).alias("clean_text"),
        )
    )
    return kept.select("doc_id", "n_tokens", "n_removed_tokens", "clean_text")


def _substring_apply_oracle_sql(w: int = SUBSTR_W) -> str:
    return f"""
WITH spans AS ({_substring_oracle_sql(w)}),
toks AS (
    SELECT doc_id, CAST(p AS BIGINT) AS pos, t[p] AS tok
    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         unnest(range(1, len(t) + 1)) AS u(p)
),
marked AS (
    SELECT t.doc_id, t.pos, t.tok,
           MAX(CASE WHEN s.span_start IS NOT NULL
                     AND t.pos BETWEEN s.span_start AND s.span_end
                    THEN 1 ELSE 0 END) AS removed
    FROM toks t LEFT JOIN spans s ON s.doc_id = t.doc_id
    GROUP BY t.doc_id, t.pos, t.tok
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(removed) AS BIGINT) AS n_removed_tokens,
       COALESCE(string_agg(CASE WHEN removed = 0 THEN tok END, ' '
                           ORDER BY pos), '') AS clean_text
FROM marked GROUP BY doc_id
"""


def dedup_substring_keep_one(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Lee et al. 2022 §3 KEEPER policy over the substring span
    algebra (round 10, VERDICT r9 item 6): same output contract as
    :func:`dedup_substring`, but for every duplicated window digest the
    globally-first occurrence — min (doc_id, pos), the
    :func:`dedup_keep_best` analogue at shingle granularity — is NOT a
    removal seed, so one copy of every duplicated span survives the
    excision instead of all copies vanishing (the paper keeps one
    occurrence per duplicate cluster; ``dedup_substring`` is the
    remove-everything variant a contamination scrub wants).

    Plan: identical shuffle set as dedup_substring; the keeper comes
    from ``min(struct(doc_id, pos))`` riding the SAME ``groupBy(h)``
    that computes the duplicate count — map-side partial agg, fixed
    per-key state, no extra exchange.  A keeper occurrence can still
    fall inside a span merged from its NEIGHBORING seeds (span-granular
    removal, exactly as in the paper's byte-range cuts); what the
    policy guarantees — pinned by
    tests/test_corpus.py::test_substring_keep_one_conservation — is
    that keeper positions are never seeds, so a duplicate cluster in
    otherwise-distinct context always retains its first copy."""
    occ = _substr_occ(_docs(spark, sf_dir).select("doc_id", "text"))
    dupk = (
        occ.groupBy("h")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.min(F.struct("doc_id", "pos")).alias("k"),
        )
        .where(F.col("c") >= 2)
        .select("h", F.col("k.doc_id").alias("kdoc"), F.col("k.pos").alias("kpos"))
    )
    seeds = (
        occ.join(dupk, "h")
        .where(
            (F.col("doc_id") != F.col("kdoc")) | (F.col("pos") != F.col("kpos"))
        )
        .select("doc_id", "pos")
    )
    return _substr_spans(seeds)


def _substring_keep_one_oracle_sql(w: int = SUBSTR_W) -> str:
    return f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
occ AS (
    SELECT doc_id, CAST(p AS BIGINT) AS pos,
           md5(array_to_string(t[p:p+{w - 1}], ' ')) AS h
    FROM toks, unnest(range(1, len(t) - {w} + 2)) AS u(p)
    WHERE len(t) >= {w}
),
dupk AS (
    SELECT h, min(ROW(doc_id, pos)) AS k
    FROM occ GROUP BY h HAVING COUNT(*) >= 2
),
seeds AS (
    SELECT o.doc_id, o.pos
    FROM occ o JOIN dupk d ON o.h = d.h
    WHERE NOT (o.doc_id = d.k[1] AND o.pos = d.k[2])
),
isl AS (
    SELECT doc_id, pos,
           sum(CASE WHEN prev IS NULL OR pos > prev + {w} THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS island
    FROM (SELECT doc_id, pos,
                 lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
          FROM seeds)
)
SELECT doc_id, MIN(pos) AS span_start,
       CAST(MAX(pos) + {w} - 1 AS BIGINT) AS span_end,
       CAST(MAX(pos) + {w} - MIN(pos) AS BIGINT) AS span_tokens
FROM isl GROUP BY doc_id, island
"""


def _substring_oracle_sql(w: int = SUBSTR_W) -> str:
    return f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
occ AS (
    SELECT doc_id, CAST(p AS BIGINT) AS pos,
           md5(array_to_string(t[p:p+{w - 1}], ' ')) AS h
    FROM toks, unnest(range(1, len(t) - {w} + 2)) AS u(p)
    WHERE len(t) >= {w}
),
seeds AS (
    SELECT doc_id, pos FROM (
        SELECT doc_id, pos, count(*) OVER (PARTITION BY h) AS cnt FROM occ
    ) WHERE cnt >= 2
),
isl AS (
    SELECT doc_id, pos,
           sum(CASE WHEN prev IS NULL OR pos > prev + {w} THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS island
    FROM (SELECT doc_id, pos,
                 lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
          FROM seeds)
)
SELECT doc_id, MIN(pos) AS span_start,
       CAST(MAX(pos) + {w} - 1 AS BIGINT) AS span_end,
       CAST(MAX(pos) + {w} - MIN(pos) AS BIGINT) AS span_tokens
FROM isl GROUP BY doc_id, island
"""


# ----------------------- eval-set decontamination (round 9)
# GPT-3 (Brown et al. 2020, Appendix C) decontaminates training data by
# removing every 13-gram collision with a benchmark; the Lee et al.
# span algebra above is exactly the right machinery — only the seed
# definition changes: a seed is a corpus window whose content occurs
# ANYWHERE in the eval set (cross-set membership), not "≥2 times in the
# corpus" (within-set duplication).  Same eval split convention as
# text_contamination (doc_id % EVAL_STRIDE == 0).
DECON_W = 13  # GPT-3's 13-gram collision window — the deployment default
# Fixture-scale gate window (round 10, VERDICT r9 item 3): at sf0.01 the
# synthetic eval split shares NO 13-gram with the corpus, so the r9
# registry row was vacuously green (0 rows vs 0 rows — the empty hash
# pins nothing).  The driver gate therefore runs the entry at the
# largest window that actually collides on the fixture (W = 4 → 11 seed
# occurrences at sf0.01; measured, see COVERAGE.md), while the paper's
# W = 13 stays the function default and keeps its exact-window unit test
# (tests/test_corpus.py::test_decontaminate_flags_exact_13gram_not_12).
DECON_W_GATE = 4


def text_decontaminate(
    spark: SparkSession, sf_dir: str, w: int = DECON_W
) -> DataFrame:
    """Eval-collision removal list: (doc_id, span_start, span_end,
    span_tokens) — maximal merged spans of NON-eval docs covering every
    w-gram (GPT-3's 13 by default) that also occurs in the held-out
    eval set.

    Plan: the eval side's distinct window digests are broadcast (an
    eval set is small by construction — the same asymmetry
    text_contamination exploits), so the corpus side never shuffles for
    the membership test; one doc_id exchange for the lead-chain windows
    and one for the island merge."""
    from .corpus import EVAL_STRIDE

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    occ = _substr_occ(docs, w)
    eval_h = (
        occ.where(F.col("doc_id") % EVAL_STRIDE == 0).select("h").distinct()
    )
    seeds = (
        occ.where(F.col("doc_id") % EVAL_STRIDE != 0)
        .join(F.broadcast(eval_h), "h", "left_semi")
        .select("doc_id", "pos")
    )
    return _substr_spans(seeds, w)


def _text_decontaminate_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registry/gate binding of :func:`text_decontaminate` at the
    fixture-scale window (see DECON_W_GATE note) — NON-empty on the
    sf0.01 gate data, so the oracle hash pins the span algebra, not
    the empty set; tools/selfcheck.py additionally asserts this entry
    returns rows."""
    return text_decontaminate(spark, sf_dir, DECON_W_GATE)


def _decontaminate_oracle_sql(w: int = DECON_W) -> str:
    from .corpus import EVAL_STRIDE

    return f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
occ AS (
    SELECT doc_id, CAST(p AS BIGINT) AS pos,
           md5(array_to_string(t[p:p+{w - 1}], ' ')) AS h
    FROM toks, unnest(range(1, len(t) - {w} + 2)) AS u(p)
    WHERE len(t) >= {w}
),
ev AS (SELECT DISTINCT h FROM occ WHERE doc_id % {EVAL_STRIDE} = 0),
seeds AS (
    SELECT doc_id, pos FROM occ
    WHERE doc_id % {EVAL_STRIDE} <> 0 AND h IN (SELECT h FROM ev)
),
isl AS (
    SELECT doc_id, pos,
           sum(CASE WHEN prev IS NULL OR pos > prev + {w} THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS island
    FROM (SELECT doc_id, pos,
                 lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
          FROM seeds)
)
SELECT doc_id, MIN(pos) AS span_start,
       CAST(MAX(pos) + {w} - 1 AS BIGINT) AS span_end,
       CAST(MAX(pos) + {w} - MIN(pos) AS BIGINT) AS span_tokens
FROM isl GROUP BY doc_id, island
"""


# --------------------- line-level exact dedup (round 11, VERDICT r10 #7)
# CCNet's preprocessing step (Wenzek et al. 2020): hash every LINE of
# every document, keep only the globally FIRST occurrence of each
# duplicated line (min (doc_id, line_no)), drop the rest — the cheap
# exact precursor the substring family (Lee et al. 2022) sits above.
LINE_W = 8  # tokens per synthetic line on the single-line fixture corpus
# first-occurrence encoding capacity: line_no < 2**20 (a million lines
# per document) keeps doc_id * 2**20 + line_no injective in int64 up to
# doc_id < 2**43.
LINE_NO_BITS = 20


def dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level exact dedup over the documents table.

    The fixture corpus is single-line (no newlines), so the registry
    entry segments each doc into consecutive LINE_W-token windows as
    its 'lines' — the frame core :func:`dedup_lines_of` takes a real
    delimiter for production newline corpora (pytest-pinned).

    Output: one row per line — (doc_id, line_no 0-based, n_line_toks,
    dup_count = global occurrences of this line's text, removed =
    duplicated AND not the global first occurrence).  The kept lines
    of each doc are exactly CCNet's cleaned document.

    100 TB shape: one narrow (doc, line) explode, ONE line-hash groupBy
    (map-side combinable count + min — no window, so a hot line, e.g.
    the empty line that dominates web corpora, never builds a giant
    window partition), one shuffle join back on the hash.  Output is
    line-proportional, like the input."""
    return dedup_lines_of(_docs(spark, sf_dir).select("doc_id", "text"))


def dedup_lines_of(docs: DataFrame, delim: str | None = None) -> DataFrame:
    """Frame core of :func:`dedup_lines`: ``delim`` (e.g. '\\n') splits
    real lines; None segments into LINE_W-token windows."""
    return _dedup_lines_marked(docs, delim).select(
        "doc_id", "line_no", "n_line_toks", "dup_count", "removed"
    )


def dedup_lines_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the :func:`dedup_lines` removal flags: re-emit the corpus
    with every removed line excised — (doc_id, n_lines, n_removed_lines,
    n_tokens, n_removed_tokens, clean_text) for EVERY document (a doc
    whose every line was removed keeps an empty clean_text rather than
    vanishing — same contract as dedup_substring_apply). The kept lines
    re-join in line order; this IS CCNet's cleaned corpus.

    Plan: one extra doc_id-keyed groupBy over the per-line frame (the
    hash join back on ``h`` already exists in dedup_lines); the
    reassembly array is per-doc-line-count bounded."""
    per_line = _dedup_lines_marked(
        _docs(spark, sf_dir).select("doc_id", "text")
    )
    return per_line.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.col("removed").cast("long")).alias("n_removed_lines"),
        F.sum("n_line_toks").cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("removed"), F.col("n_line_toks")).otherwise(0))
        .cast("long")
        .alias("n_removed_tokens"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            ~F.col("removed"),
                            F.struct("line_no", "line"),
                        )
                    )
                ),
                lambda s: s["line"],
            ),
        ).alias("clean_text"),
    )


def _dedup_lines_marked(docs: DataFrame, delim: str | None = None) -> DataFrame:
    """:func:`dedup_lines_of` plus the line text column — shared by the
    flag entry (which projects it away) and the apply entry (which
    reassembles kept lines)."""
    if delim is not None:
        lines = docs.select(
            "doc_id",
            F.posexplode(F.split("text", delim)).alias("line_no", "line"),
        )
    else:
        w = LINE_W
        lines = docs.select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, div(size(split(text, ' ')) "
                    f"+ {w - 1}, {w}) - 1), "
                    f"i -> array_join(slice(split(text, ' '), "
                    f"i * {w} + 1, {w}), ' '))"
                )
            ).alias("line_no", "line"),
        )
    hl = lines.select(
        "doc_id",
        F.col("line_no").cast("long").alias("line_no"),
        "line",
        F.size(F.split("line", " ")).cast("long").alias("n_line_toks"),
        F.md5("line").alias("h"),
        (
            F.col("doc_id") * (1 << LINE_NO_BITS) + F.col("line_no")
        ).alias("k"),
    )
    grp = hl.groupBy("h").agg(
        F.count(F.lit(1)).cast("long").alias("dup_count"),
        F.min("k").alias("first_k"),
    )
    return hl.join(grp, "h").select(
        "doc_id",
        "line_no",
        "line",
        "n_line_toks",
        "dup_count",
        ((F.col("dup_count") >= 2) & (F.col("k") != F.col("first_k"))).alias(
            "removed"
        ),
    )


def _lines_apply_oracle_sql(w: int = LINE_W) -> str:
    return f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
lines AS (
    SELECT doc_id, CAST(i AS BIGINT) AS line_no,
           array_to_string(t[i*{w}+1 : i*{w}+{w}], ' ') AS line
    FROM toks, unnest(range(0, (len(t) + {w - 1}) // {w})) AS u(i)
),
hl AS (
    SELECT doc_id, line_no, line,
           CAST(len(string_split(line, ' ')) AS BIGINT) AS n_line_toks,
           md5(line) AS h,
           doc_id * {1 << LINE_NO_BITS} + line_no AS k
    FROM lines
),
grp AS (
    SELECT h, CAST(COUNT(*) AS BIGINT) AS dup_count, MIN(k) AS first_k
    FROM hl GROUP BY h
),
marked AS (
    SELECT doc_id, line_no, line, n_line_toks,
           dup_count >= 2 AND k <> first_k AS removed
    FROM hl JOIN grp USING (h)
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CASE WHEN removed THEN 1 ELSE 0 END) AS BIGINT)
           AS n_removed_lines,
       CAST(SUM(n_line_toks) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN removed THEN n_line_toks ELSE 0 END) AS BIGINT)
           AS n_removed_tokens,
       COALESCE(string_agg(line, ' ' ORDER BY line_no)
                FILTER (WHERE NOT removed), '') AS clean_text
FROM marked GROUP BY doc_id
"""


def _dedup_lines_oracle_sql(w: int = LINE_W) -> str:
    return f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
lines AS (
    SELECT doc_id, CAST(i AS BIGINT) AS line_no,
           array_to_string(t[i*{w}+1 : i*{w}+{w}], ' ') AS line
    FROM toks, unnest(range(0, (len(t) + {w - 1}) // {w})) AS u(i)
),
hl AS (
    SELECT doc_id, line_no,
           CAST(len(string_split(line, ' ')) AS BIGINT) AS n_line_toks,
           md5(line) AS h,
           doc_id * {1 << LINE_NO_BITS} + line_no AS k
    FROM lines
),
grp AS (
    SELECT h, CAST(COUNT(*) AS BIGINT) AS dup_count, MIN(k) AS first_k
    FROM hl GROUP BY h
)
SELECT doc_id, line_no, n_line_toks, dup_count,
       dup_count >= 2 AND k <> first_k AS removed
FROM hl JOIN grp USING (h)
"""


# --------------------- incremental substring-dedup index (round 9)
# The continuous-ingest twin of dedup_substring, on the shared
# versioned-snapshot convention (functions/snapshots.py — the eighth
# index family). The state algebra is MONOTONE, which makes this index
# simpler than the ER one: a shingle digest once duplicated stays
# duplicated forever (occurrences are never deleted), so the dup set
# and the occurrence log are append-only — no remap chains, no
# contraction. Per-batch work: the batch's occurrence rows (∝ batch),
# one probe of the stored log keyed on the batch's distinct digests —
# the log is stored HIVE-PARTITIONED on the digest's leading hex chars
# (``hb`` = 16**OCC_BUCKET_CHARS buckets, round 10, VERDICT r9 item 4 —
# a capacity knob, see the constant's note), so the probe
# filters to the batch's touched buckets and parquet partition pruning
# skips the rest of the log on disk (plan-pinned by
# tests/test_plans.py::test_substr_occ_probe_prunes_buckets;
# er_index_update's old_sig probe is the same shape) — and a
# span recompute for AFFECTED docs only — batch docs carrying any
# duplicated shingle plus stored docs holding a shingle the batch just
# promoted from singleton to duplicate. The span table is rewritten per
# snapshot, which is fine because it is output-proportional (the
# removal list, orders smaller than the corpus), exactly like the
# sketch families' bounded-state full rewrites.


# Hive-partition fan-out of the occ log: 16**OCC_BUCKET_CHARS buckets.
# A CAPACITY knob, not a semantic one (same contract as
# STREAM_STATE_PARTITIONS): the default 1 hex char = 16 buckets keeps
# per-snapshot file counts small at bench scale — the round-10 first
# cut hardcoded 2 chars = 256 buckets and the composed incremental
# entry paid 6.6 → 10.2 s at sf0.1 in pure small-file listing/write
# overhead; 16 buckets restores it while keeping the probe's partition
# pruning plan-pinned. A deployment whose log outgrows 16 files per
# compaction sets SPARK_GRAFT_OCC_BUCKET_CHARS=2 (256) or 3 (4096).
OCC_BUCKET_CHARS = int(os.environ.get("SPARK_GRAFT_OCC_BUCKET_CHARS", "1"))


def _occ_width_write(base: str, chars: int) -> None:
    """Record the bucket width a snapshot's occ log was written at,
    INSIDE the snapshot directory — so it commits (and GCs) atomically
    with the snapshot via the CURRENT pointer swap."""
    os.makedirs(base, exist_ok=True)
    with open(os.path.join(base, "OCC_WIDTH"), "w") as f:
        f.write(str(chars))


def _occ_width(base: str) -> int:
    """Bucket width of a snapshot's occ log (round 11, ADVICE r10):
    updates MUST bucket and probe at the width the stored partitions
    were written at — the env knob only changing the width of FUTURE
    layouts.  Without this, flipping SPARK_GRAFT_OCC_BUCKET_CHARS
    mid-index-life left mixed-width partitions ('b0' vs 'b00') the
    isin(touched) probe silently skipped, so stored occurrences went
    unseen and spans were wrong with no error.  Width migration is a
    compaction (the full rewrite is the sanctioned point to re-bucket).
    Pre-round-11 snapshots carry no width file; their width is derived
    from the on-disk layout itself (ADVICE r11: falling back to the
    CURRENT env knob silently desyncs the probe from the stored 'b…'
    partitions if the knob changed since the snapshot was written —
    the exact wrong-spans failure the width file exists to prevent):
    every 'hb=b…' partition directory name encodes the width as
    len(value) - len('b'). Env is the last resort only when the occ
    log has no partitions to read it from (empty log — nothing to
    desync against)."""
    p = os.path.join(base, "OCC_WIDTH")
    if os.path.exists(p):
        with open(p) as f:
            return int(f.read().strip())
    occ_dir = os.path.join(base, "occ")
    if os.path.isdir(occ_dir):
        widths = {
            len(d) - len("hb=b")
            for d in os.listdir(occ_dir)
            if d.startswith("hb=b")
        }
        if len(widths) > 1:
            raise ValueError(
                f"mixed occ bucket widths {sorted(widths)} under {occ_dir} — "
                "corrupt layout; recompact the index"
            )
        if widths:
            return widths.pop()
    return OCC_BUCKET_CHARS


def _occ_bucket(col: str = "h", chars: int | None = None):
    """Hive-partition bucket of a digest: its leading ``chars``
    (default: the env knob) hex chars, prefixed so the partition
    values never type-infer to integers ('b0'..'bf' at the default
    width — a pure-digit value set would flip the discovered column to
    int and break unionByName between stored and batch frames)."""
    return F.concat(
        F.lit("b"), F.substring(col, 1, chars or OCC_BUCKET_CHARS)
    )


def _write_occ_bucketed(occ: DataFrame, path: str, chars: int | None = None) -> None:
    """Write occurrence rows hive-partitioned on the digest bucket —
    one shuffle on ``hb`` (∝ the rows being written, i.e. the batch)
    so each bucket lands as one file per write; update-time probes
    then prune to touched buckets via parquet partition pruning."""
    (
        occ.withColumn("hb", _occ_bucket(chars=chars))
        .repartition("hb")
        .write.partitionBy("hb")
        .mode("overwrite")
        .parquet(path)
    )


def _read_occ(spark: SparkSession, path: str) -> DataFrame:
    """The stored occ log WITH its ``hb`` partition column (callers
    that probe filter on it; callers that need the bare log project it
    away)."""
    return spark.read.parquet(path)


def substr_index_init(spark: SparkSession, docs: DataFrame, index_path: str) -> None:
    """Bootstrap the substring-dedup index on an initial corpus:
    persist the doc-id roster (idempotency anchor — docs shorter than W
    tokens have no occurrence rows), the occurrence log (h-bucket
    partitioned, see ``_write_occ_bucketed``), the duplicated-digest
    set, and the span table as snapshot ``sub_v0``."""
    d = docs.select("doc_id", "text")
    occ = _substr_occ(d).localCheckpoint()
    dup = (
        occ.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= 2)
        .select("h")
        .localCheckpoint()
    )
    spans = _substr_spans(occ.join(dup, "h").select("doc_id", "pos"))
    # Sized writes (round 12 opt, guide §6): roster/dup/span frames are
    # narrow and were writing one near-empty file per task each.  The
    # roster is checkpointed first (ADVICE r12): write_sized counts its
    # input, and an unmaterialized projection would run the scan once
    # for the count and again for the write.
    with snapshots.txn(index_path, "sub_v") as t:
        base = t.dir
        snapshots.write_sized(
            d.select("doc_id").localCheckpoint(), f"{base}/docs"
        )
        _write_occ_bucketed(occ, f"{base}/occ", OCC_BUCKET_CHARS)
        snapshots.write_sized(dup, f"{base}/dup")
        snapshots.write_sized(spans.localCheckpoint(), f"{base}/spans")
        _occ_width_write(base, OCC_BUCKET_CHARS)


def substr_index_update(
    spark: SparkSession, new_docs: DataFrame, index_path: str
) -> DataFrame:
    """Incremental substring-dedup step: probe the stored occurrence log
    with the batch's distinct digests only, promote singletons the batch
    duplicates, recompute spans for the affected docs, and commit one
    atomic snapshot.  Idempotent (anti-join on doc_id); returns the
    affected docs' recomputed span rows (empty on a retry).

    Monotonicity argument for batch parity: dedup_substring's seed set
    is {(doc,pos) : count(h) ≥ 2 over the whole corpus}. Adding docs
    only raises counts, so the only seeds the union gains over the
    stored state are (a) batch occurrences of already- or newly-
    duplicated digests and (b) STORED occurrences of digests the batch
    promoted to count ≥ 2 — both covered by the affected-doc recompute;
    every other doc's seed set, hence span set, is untouched."""
    with snapshots.txn(index_path, "sub_v") as t:
        base = t.live
        # Probe AND write deltas at the width the stored layout was built
        # at (snapshot metadata, never the env — ADVICE r10): the new
        # snapshot hard-links the old occ files, so a different delta width
        # would mix 'b0'/'b00' partitions in one directory and the pruned
        # probe would silently skip stored occurrences.
        chars = _occ_width(base)
        old_docs = spark.read.parquet(f"{base}/docs")
        old_occ_b = _read_occ(spark, f"{base}/occ")  # carries the hb column
        old_occ = old_occ_b.select("doc_id", "pos", "h")
        old_dup = spark.read.parquet(f"{base}/dup")
        old_spans = spark.read.parquet(f"{base}/spans")

        # Staged once (ADVICE r12): the anti-join feeds both the occurrence
        # scan and the roster write below — unmaterialized it re-ran per
        # consumer (write_sized's count alone executed it twice).
        fresh = new_docs.select("doc_id", "text").join(
            old_docs, "doc_id", "left_anti"
        ).localCheckpoint()
        bocc = _substr_occ(fresh).localCheckpoint()
        batch_h = bocc.groupBy("h").agg(F.count(F.lit(1)).alias("bc"))
        # Buckets the batch touches — a bounded (≤ 16**OCC_BUCKET_CHARS)
        # driver list; the
        # stored-log probe below filters on the hb PARTITION column, so
        # parquet partition pruning skips every untouched bucket's files
        # (the on-disk realization of "probe ∝ batch", VERDICT r9 item 4).
        touched = [
            r["hb"]
            for r in bocc.select(
                _occ_bucket(chars=chars).alias("hb")
            ).distinct().collect()
        ]
        probe_base = old_occ_b.where(F.col("hb").isin(touched)).select(
            "doc_id", "pos", "h"
        )
        stored_h = (
            probe_base.join(batch_h.select("h"), "h")
            .groupBy("h")
            .agg(F.count(F.lit(1)).alias("sc"))
        )
        newly_dup = (
            batch_h.join(stored_h, "h", "left")
            .join(old_dup.withColumn("_d", F.lit(1)), "h", "left")
            .where(
                F.col("_d").isNull()
                & (F.col("bc") + F.coalesce("sc", F.lit(0)) >= 2)
            )
            .select("h")
            .localCheckpoint()
        )
        dup_all = old_dup.unionByName(newly_dup)
        affected = (
            bocc.join(dup_all, "h")
            .select("doc_id")
            # newly_dup digests all occur in the batch, so their stored
            # occurrences live in touched buckets — the pruned read serves
            # this probe too.
            .unionByName(probe_base.join(newly_dup, "h").select("doc_id"))
            .distinct()
            .localCheckpoint()
        )
        all_occ = old_occ.unionByName(bocc)
        seeds = (
            all_occ.join(affected, "doc_id")
            .join(dup_all, "h")
            .select("doc_id", "pos")
        )
        new_spans = _substr_spans(seeds).localCheckpoint()
        spans = old_spans.join(affected, "doc_id", "left_anti").unionByName(
            new_spans
        )

        nbase = t.dir
        # Sized writes (round 12 opt, guide §6) — same rationale as init.
        snapshots.write_sized(fresh.select("doc_id"), f"{nbase}/docs")
        _write_occ_bucketed(bocc, f"{nbase}/occ", chars)
        snapshots.write_sized(newly_dup, f"{nbase}/dup")
        snapshots.write_sized(spans.localCheckpoint(), f"{nbase}/spans")
        t.carry("docs", "occ", "dup")
        _occ_width_write(nbase, chars)
    return new_spans


def substr_index_compact(spark: SparkSession, index_path: str) -> None:
    """Merge-on-write maintenance for the substring index: rewrite the
    accumulated per-batch occurrence/dup delta files into one compact
    file set (a fresh snapshot via the same atomic commit — serving
    never sees a half-compacted state).  The LSM analogue every
    append-only index needs: per-batch ingest stays ∝ batch because
    updates only append; compaction amortizes the read-side file-count
    growth on its own schedule.  Idempotent; the span table rides along
    unchanged."""
    with snapshots.txn(index_path, "sub_v") as t:
        base = t.live
        occ = (
            _read_occ(spark, f"{base}/occ")
            .select("doc_id", "pos", "h")
            .localCheckpoint()
        )
        dup = spark.read.parquet(f"{base}/dup").localCheckpoint()
        docs = spark.read.parquet(f"{base}/docs").localCheckpoint()
        spans = spark.read.parquet(f"{base}/spans").localCheckpoint()
        nbase = t.dir
        # The compaction rewrite collapses each bucket's accumulated
        # per-batch delta files into ONE file per hb partition (the
        # repartition("hb") inside the bucketed writer), restoring O(1)
        # files per bucket for the update-time pruned probe.  Compaction is
        # also the sanctioned WIDTH-MIGRATION point (ADVICE r10): it
        # re-buckets the full log at the current env width and stamps that
        # width into the new snapshot, so updates after a knob change probe
        # a uniform layout.
        _write_occ_bucketed(occ, f"{nbase}/occ", OCC_BUCKET_CHARS)
        dup.coalesce(1).write.mode("overwrite").parquet(f"{nbase}/dup")
        docs.coalesce(1).write.mode("overwrite").parquet(f"{nbase}/docs")
        spans.write.mode("overwrite").parquet(f"{nbase}/spans")
        _occ_width_write(nbase, OCC_BUCKET_CHARS)


def substr_resolve(spark: SparkSession, index_path: str) -> DataFrame:
    """Serving view over the substring index: the current span table —
    same shape and semantics as :func:`dedup_substring` over the whole
    indexed corpus; a pure output-proportional read."""
    live = snapshots.snap_live(index_path)
    return spark.read.parquet(f"{os.path.join(index_path, live)}/spans").select(
        "doc_id", "span_start", "span_end", "span_tokens"
    )


def dedup_substring_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry for the incremental substring-dedup path:
    bootstrap on the even-doc_id half, ingest the odd half as an update
    batch, serve — must equal the BATCH :func:`dedup_substring` over
    the full corpus bit-for-bit (the oracle is that entry's SQL
    verbatim): the hash gate pins that digest-probe promotion +
    affected-only span recompute lose nothing vs recomputing from
    scratch."""
    import shutil
    import tempfile

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    tmp = tempfile.mkdtemp(prefix="substr_index_entry_")
    try:
        substr_index_init(spark, docs.where(F.col("doc_id") % 2 == 0), tmp)
        substr_index_update(spark, docs.where(F.col("doc_id") % 2 == 1), tmp)
        return substr_resolve(spark, tmp).localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


RECALL_TAU_E6 = 100_000  # ground-truth near-dup threshold: jaccard ≥ 0.1


def dedup_recall_report(
    spark: SparkSession,
    sf_dir: str,
    allow_quadratic: bool = False,
    sample_ppm: int | None = None,
) -> DataFrame:
    """Sketch-quality audit: measure the MinHash-LSH candidate
    generator's recall and precision against the EXACT near-duplicate
    pair set (jaccard ≥ RECALL_TAU_E6 over distinct hashed shingles) —
    the "how good is my dedup, actually" report every curation pipeline
    should ship with its dedup run.

    With 8 minhashes banded 1-row-per-band, a pair of true Jaccard j is
    a candidate with probability 1 − (1−j)⁸ (~57% at j=0.1, ~94% at
    j=0.3).  On this fixture the τ=0.1 truth set is 25 strong near-dup
    pairs and recall measures 1.0 — the informative number is then the
    PRECISION (~2.9% at sf0.01: 872 candidates for 25 true pairs), i.e.
    how much exact-verify work the bands buy per real duplicate.
    Outputs ONE row of exact integers: pair counts and ppm
    recall/precision (0 when the denominator is empty, defined
    identically in the oracle).

    Scale: ground truth requires the shared-shingle quadratic join, so
    the report is inherently a VERIFICATION-SCALE operator (guarded like
    dedup_ngram_jaccard); at 100 TB you run it on a sampled slice to
    audit the production sketch parameters, and the sketch side reuses
    the exact same signature/band plan that dedup_minhash_lsh serves.
    ``sample_ppm`` IS that sampled-slice path: it keeps each doc iff its
    md5 bucket falls under the rate (deterministic, retry-safe — never
    ``rand()``, same key discipline as ``corpus.sample_split``), applied
    BEFORE the guard count, so a sample that fits under the guard runs
    without the ``allow_quadratic`` override. Recall/precision over an
    id-hash sample are unbiased estimates of the corpus numbers because
    membership is independent of content.
    """
    docs = _docs(spark, sf_dir)
    if sample_ppm is not None:
        docs = docs.where(
            texts.hash32(F.col("doc_id").cast("string")) % F.lit(1_000_000)
            < F.lit(sample_ppm)
        )
    _guard_quadratic(
        docs, "dedup_recall_report",
        "dedup_minhash_lsh (candidates only), or pass sample_ppm to audit "
        "on a deterministic sampled slice",
        allow_quadratic,
    )
    sh = _shingle_hashes_of(docs).distinct().persist()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    truth = (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a.x") == F.col("b.x"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
        .join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .where(
            F.expr("div(inter * 1000000, na + nb - inter)") >= RECALL_TAU_E6
        )
        .select("doc_a", "doc_b")
    )
    mins = sh.groupBy("doc_id").agg(*_minhash_min_exprs())
    n_h = len(MINHASH_A)
    stack_args = ", ".join(f"{h}, mh{h}" for h in range(n_h))
    sig = mins.select("doc_id", F.expr(f"stack({n_h}, {stack_args}) AS (h, v)"))
    cand = (
        sig.alias("a")
        .join(
            sig.alias("b"),
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.v") == F.col("b.v"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
        .persist()
    )
    hit = truth.join(cand, ["doc_a", "doc_b"], "left_semi")
    counts = (
        truth.agg(F.count(F.lit(1)).alias("n_true"))
        .crossJoin(cand.agg(F.count(F.lit(1)).alias("n_cand")))
        .crossJoin(hit.agg(F.count(F.lit(1)).alias("n_hit")))
    )
    return counts.select(
        "n_true",
        "n_cand",
        "n_hit",
        F.when(F.col("n_true") == 0, F.lit(0))
        .otherwise(F.expr("div(n_hit * 1000000, n_true)"))
        .cast("long")
        .alias("recall_ppm"),
        F.when(F.col("n_cand") == 0, F.lit(0))
        .otherwise(F.expr("div(n_hit * 1000000, n_cand)"))
        .cast("long")
        .alias("precision_ppm"),
    )


def _recall_report_oracle_sql() -> str:
    shs = texts.shingles_sql("text")
    x = texts.hash32_sql("g")
    min_exprs = ",\n        ".join(
        f"MIN(({a} * x + {b}) % {MINHASH_P}) AS mh{h}"
        for h, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    )
    sig_rows = " UNION ALL ".join(
        f"SELECT doc_id, {h} AS h, mh{h} AS v FROM mins"
        for h in range(len(MINHASH_A))
    )
    return f"""
WITH sh0 AS (
    SELECT doc_id, unnest({shs}) AS g FROM documents
),
sh AS (
    SELECT DISTINCT doc_id, {x} AS x FROM sh0
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
truth AS (
    SELECT i.doc_a, i.doc_b
    FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.x = b.x AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ) i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE i.inter * 1000000 // (sa.n + sb.n - i.inter) >= {RECALL_TAU_E6}
),
mins AS (
    SELECT doc_id,
        {min_exprs}
    FROM sh GROUP BY doc_id
),
sig AS ({sig_rows}),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM sig a JOIN sig b ON a.h = b.h AND a.v = b.v AND a.doc_id < b.doc_id
),
counts AS (
    SELECT (SELECT COUNT(*) FROM truth) AS n_true,
           (SELECT COUNT(*) FROM cand) AS n_cand,
           (SELECT COUNT(*) FROM truth t
            WHERE EXISTS (SELECT 1 FROM cand c
                          WHERE c.doc_a = t.doc_a AND c.doc_b = t.doc_b))
               AS n_hit
)
SELECT CAST(n_true AS BIGINT) AS n_true,
       CAST(n_cand AS BIGINT) AS n_cand,
       CAST(n_hit AS BIGINT) AS n_hit,
       CAST(CASE WHEN n_true = 0 THEN 0
                 ELSE n_hit * 1000000 // n_true END AS BIGINT) AS recall_ppm,
       CAST(CASE WHEN n_cand = 0 THEN 0
                 ELSE n_hit * 1000000 // n_cand END AS BIGINT) AS precision_ppm
FROM counts
"""


def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size census: how many clusters of each size the
    verified pair graph produces, and how many documents (and removable
    duplicates) they hold — the one-screen dedup report a curation run
    publishes next to its output (size 1 = unique docs; removable =
    Σ (size−1) over clusters).

    Composes :func:`dedup_components` (iterative Hash-Min + pointer
    jumping) with two tiny aggregations: |docs| → |clusters| → |distinct
    sizes| rows.  The oracle composes the same recursive-CTE fixpoint.
    """
    comp = dedup_components(spark, sf_dir)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("size"))
    return (
        sizes.groupBy("size")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            (F.count(F.lit(1)) * F.col("size")).cast("long").alias("n_docs"),
            (F.count(F.lit(1)) * (F.col("size") - 1))
            .cast("long")
            .alias("n_removable"),
        )
        .orderBy("size")
    )


def _cluster_stats_oracle_sql() -> str:
    return f"""
WITH comp AS ({_components_oracle_sql()}),
sizes AS (SELECT component, COUNT(*) AS size FROM comp GROUP BY component)
SELECT CAST(size AS BIGINT) AS size,
       COUNT(*) AS n_clusters,
       CAST(COUNT(*) * size AS BIGINT) AS n_docs,
       CAST(COUNT(*) * (size - 1) AS BIGINT) AS n_removable
FROM sizes GROUP BY size ORDER BY size
"""


def dedup_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-duplicate leakage matrix: for every (unordered)
    pair of corpus sources, how many verified minhash near-dup pairs span
    them — the diagnostic a curation run publishes before mixing sources
    (a hot cell means two "independent" sources are substantially the
    same crawl, so their mixture weights double-count content; the
    diagonal counts within-source redundancy). Extension surface — the
    reference has no multi-source notion; cf. the overlap audits in
    corpus reports like Gao et al. 2020 (The Pile, §4) and Penedo et al.
    2024 (FineWeb dump-overlap analysis).

    Plan: the verified pair set (:func:`dedup_minhash_lsh` — candidate
    generation is banded LSH, never all-pairs) joined twice against the
    (doc_id → source) projection, normalized to an unordered (lo, hi)
    key, one partial-agg count. Both enrichment joins key on doc_id;
    the source table projection is two thin columns of the documents
    scan. At 100 TB the pair set is orders of magnitude smaller than
    the corpus and the final matrix is |sources|² rows — tiny; the
    count shuffle is map-side combinable on the (lo, hi) key."""
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b")
    src = _docs(spark, sf_dir).select("doc_id", "source")
    enriched = (
        pairs.join(
            src.select(
                F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")
            ),
            "doc_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")
            ),
            "doc_b",
        )
    )
    return (
        enriched.select(
            F.least("sa", "sb").alias("source_lo"),
            F.greatest("sa", "sb").alias("source_hi"),
        )
        .groupBy("source_lo", "source_hi")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


def _source_overlap_oracle_sql() -> str:
    return f"""
WITH p AS ({_minhash_oracle_sql()}),
s AS (SELECT doc_id, source FROM documents)
SELECT least(sa.source, sb.source) AS source_lo,
       greatest(sa.source, sb.source) AS source_hi,
       COUNT(*) AS n_pairs
FROM p
JOIN s sa ON p.doc_a = sa.doc_id
JOIN s sb ON p.doc_b = sb.doc_id
GROUP BY 1, 2
"""


QUERIES = {
    "dedup_recall_report": dedup_recall_report,
    "dedup_cluster_stats": dedup_cluster_stats,
    "dedup_exact": dedup_exact,
    "dedup_fingerprint": dedup_fingerprint,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash": dedup_simhash,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_prefix_join": dedup_prefix_join,
    "dedup_edit_distance": dedup_edit_distance,
    "dedup_winnow": dedup_winnow,
    "winnow_matches": winnow_matches,
    "doc_pagerank": doc_pagerank,
    "dedup_embedding": dedup_embedding,
    "dedup_components": dedup_components,
    "dedup_keep_best": dedup_keep_best,
    "dedup_entity_resolution": dedup_entity_resolution,
    "er_fellegi_sunter": er_fellegi_sunter,
    "er_probabilistic_entities": er_probabilistic_entities,
    "dedup_er_incremental": dedup_er_incremental,
    "dedup_lines": dedup_lines,
    "dedup_lines_apply": dedup_lines_apply,
    "dedup_substring": dedup_substring,
    "dedup_substring_apply": dedup_substring_apply,
    "dedup_substring_keep_one": dedup_substring_keep_one,
    "dedup_substring_incremental": dedup_substring_incremental,
    "dedup_source_overlap": dedup_source_overlap,
    "text_decontaminate": _text_decontaminate_gate,
}

ORACLE_SQL = {
    "dedup_recall_report": _recall_report_oracle_sql(),
    "dedup_cluster_stats": _cluster_stats_oracle_sql(),
    "dedup_exact": """
        SELECT md5(text) AS content_hash, COUNT(*) AS n_docs,
               MIN(doc_id) AS keeper_id
        FROM documents GROUP BY md5(text)
    """,
    "dedup_fingerprint": """
        SELECT md5(array_to_string(list_sort(list_distinct(
                   string_split(text, ' '))), ' ')) AS fingerprint,
               COUNT(*) AS n_docs, MIN(doc_id) AS keeper_id
        FROM documents GROUP BY 1
    """,
    "dedup_minhash_lsh": _minhash_oracle_sql(),
    "dedup_simhash": _simhash_oracle_sql(),
    "dedup_ngram_jaccard": _ngram_oracle_sql(),
    "dedup_prefix_join": _ngram_oracle_sql(PREFIX_TAU_E6),
    "dedup_edit_distance": _edit_distance_oracle_sql(),
    "dedup_winnow": _winnow_oracle_sql(),
    "winnow_matches": _winnow_matches_oracle_sql(),
    "doc_pagerank": _pagerank_oracle_sql(),
    "dedup_embedding": _embedding_oracle_sql(),
    "dedup_components": _components_oracle_sql(),
    "dedup_keep_best": _keep_best_oracle_sql(),
    "dedup_entity_resolution": _entity_resolution_oracle_sql(),
    "er_fellegi_sunter": _fellegi_sunter_oracle_sql(),
    "er_probabilistic_entities": _prob_entities_oracle_sql(),
    # the BATCH composition oracle, verbatim: the incremental path
    # must lose nothing vs recomputing from scratch (see
    # dedup_er_incremental).
    "dedup_er_incremental": _entity_resolution_oracle_sql(),
    "dedup_lines": _dedup_lines_oracle_sql(),
    "dedup_lines_apply": _lines_apply_oracle_sql(),
    "dedup_substring": _substring_oracle_sql(),
    "dedup_substring_apply": _substring_apply_oracle_sql(),
    "dedup_substring_keep_one": _substring_keep_one_oracle_sql(),
    # the BATCH span oracle, verbatim: the incremental path must lose
    # nothing vs recomputing from scratch (see dedup_substring_incremental).
    "dedup_substring_incremental": _substring_oracle_sql(),
    "dedup_source_overlap": _source_overlap_oracle_sql(),
    "text_decontaminate": _decontaminate_oracle_sql(DECON_W_GATE),
}
