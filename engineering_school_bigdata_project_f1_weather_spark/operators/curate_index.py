"""Continuous-curation index — the capstone that composes the incremental
index families into ONE resumable nightly pipeline (round 12, VERDICT r11
item 1): a document batch flows through

    minhash signature index  (near-dup pair log, :mod:`dedup`)
    + SemDeDup vector index  (frozen quantizer, :mod:`similarity`)
    + the trained Bernoulli-NB quality classifier (frozen at bootstrap,
      :mod:`quality`)
    + split / rendezvous-shard / sequence-pack assignment (:mod:`corpus`)

and the serving view :func:`curate_resolve` emits the curated corpus
ledger — per document: every gate flag, the final ``kept`` decision, and
the distribution layer (train/val/test split, rendezvous shard, packed
sequence id) — equal to what one batch run over the total corpus would
produce.  This is the operator a real 100 TB pipeline runs per crawl
snapshot: per-batch work ∝ batch (each sub-index's own contract), while
batch parity guarantees the incremental path loses nothing vs recomputing
from scratch (the ``dedup_er_incremental`` precedent, now across FOUR
index families at once).

Composition-atomicity design: the sub-indexes self-commit (each on its own
versioned-snapshot CURRENT), so a crash can land BETWEEN a sub-index
commit and the top-level commit.  The top level therefore (a) anchors
batch identity on ITS OWN roster (committed last), (b) treats every
sub-update as internally idempotent (they all anti-join their rosters),
and (c) derives the near-dup pair delta from the minhash index's
COMMITTED signature state — never from the sub-update's return value,
which is empty on the retry after such a crash.  Any retry therefore
reconverges: sub-updates no-op, the pair delta and classifier scores
recompute deterministically, and the top-level snapshot commits the batch
exactly once.

Frozen-at-bootstrap state (standard production practice, same contract as
the SemDeDup quantizer): the classifier model (trained on the init
corpus's weak-labeled subset) and the quantizer centroids.  Periodic
retraining is a compaction-style maintenance event — a full rebuild via
:func:`curate_index_init` on the accumulated corpus.

Reference parity note: the reference pipeline
(`Lucas files/finalversion`) has no curation/index notion — this is
extension surface for the training-data mandate.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..functions import snapshots
from ..functions import texts
from ..functions.jobs import run_overlapped
from ..functions.localrel import empty_rel
from ..sources.tables import load_table_spread
from .corpus import (
    PACK_BUDGET,
    SHARDS_FROM,
    SPLIT_BUCKETS,
    TRAIN_LT,
    VAL_LT,
    _rendezvous_shard,
)
from .dedup import (
    COMPONENT_MIN_JACCARD_E6,
    _components_oracle_sql,
    _er_closure,
    _minhash_live_dir,
    minhash_index_init,
    minhash_index_update,
    minhash_pairs_of,
)
from .quality import (
    _classifier_oracle_sql,
    _qc_featbuckets,
    _qc_label_col,
    _quality_scored_wide,
    qc_score,
    qc_train_model,
)
from .similarity import (
    _semantic_incremental_oracle_sql,
    semdedup_index_compact,
    semdedup_index_init,
    semdedup_index_update,
    semdedup_resolve,
)

CUR_PREFIX = "cur_v"
_DOC_ROWS_SCHEMA = (
    "doc_id long, lang string, n_tokens long, h string, "
    "n_feats long, qc_llr_q16 long, qc_keep boolean"
)


def _doc_rows(
    d: DataFrame,
    model: DataFrame,
    c_q16: int,
    wide: DataFrame | None = None,
    fb: DataFrame | None = None,
) -> DataFrame:
    """Per-doc roster rows for a (doc_id, lang, text) frame, scored with
    the frozen classifier: (doc_id, lang, n_tokens, h = md5(text),
    n_feats, qc_llr_q16, qc_keep).  One featurize scan + one broadcast
    model join — the ingest-time cost of the quality gate.  ``wide``/
    ``fb`` short-circuit the featurize with the frames the bootstrap
    already staged for training (round 12: init was featurizing the
    whole corpus twice).  When they are NOT pre-staged (the update
    path), the wide frame is checkpointed: it feeds both the feature
    buckets and the roster projection, and the un-cut plan re-ran the
    tokenize+regexp featurize per consumer (round 12 opt)."""
    wide = _quality_scored_wide(d).localCheckpoint() if wide is None else wide
    fb = _qc_featbuckets(wide) if fb is None else fb
    scored = qc_score(wide.select("doc_id"), fb, model, int(c_q16))
    return (
        wide.select(
            "doc_id",
            "lang",
            F.col("n_toks").alias("n_tokens"),
            F.md5("text").alias("h"),
        )
        .join(scored, "doc_id")
        .select(
            "doc_id", "lang", "n_tokens", "h",
            "n_feats", "qc_llr_q16",
            F.col("predicted_high").alias("qc_keep"),
        )
    )


def _component_pair_delta(
    spark: SparkSession, batch_ids: DataFrame, index_path: str
) -> DataFrame:
    """Near-dup pair rows involving the batch, at the component edge
    threshold, derived from the minhash index's COMMITTED signatures —
    deterministic under retry (see module head).  Probe cost: batch
    signatures × the banded index, never index × index."""
    all_sig = spark.read.parquet(_minhash_live_dir(f"{index_path}/mh"))
    bsig = all_sig.join(batch_ids, "doc_id", "left_semi")
    return minhash_pairs_of(bsig, all_sig).where(
        F.col("jaccard_e6") >= COMPONENT_MIN_JACCARD_E6
    ).select("doc_a", "doc_b", "jaccard_e6")


def curate_index_init(
    spark: SparkSession,
    docs: DataFrame,
    vectors: DataFrame,
    index_path: str,
) -> None:
    """Bootstrap the curation index on an initial corpus: train + freeze
    the classifier model, bootstrap the minhash and SemDeDup sub-indexes,
    log the within-init near-dup pairs, and commit the scored roster as
    snapshot ``cur_v0``.

    The three sub-index families touch disjoint inputs and directories,
    so their legs overlap from a driver thread pool (round 13, guide
    §2.6): classifier train+score+roster write, minhash bootstrap+pair
    log, SemDeDup bootstrap.  Every frame, write, and the commit-last
    ordering are unchanged — only the job submission is concurrent."""
    d = docs.select("doc_id", "lang", "text").localCheckpoint()

    with snapshots.txn(index_path, CUR_PREFIX) as t:
        def _leg_quality() -> None:
            spark.sparkContext.setJobDescription("curate init: quality leg")
            wide = _quality_scored_wide(d)
            lab = wide.select("doc_id", _qc_label_col().alias("train_label"))
            fb = _qc_featbuckets(wide).localCheckpoint()
            model, c_q16 = qc_train_model(spark, fb, lab)
            model.write.mode("overwrite").parquet(f"{index_path}/model")
            snapshots.meta_row(spark, "c_q16 long", (int(c_q16),)).write.mode(
                "overwrite"
            ).parquet(f"{index_path}/model_meta")
            model_b = F.broadcast(spark.read.parquet(f"{index_path}/model"))
            rows = _doc_rows(d, model_b, c_q16, wide=wide, fb=fb)
            # Sized write (round 12 opt, guide §6): checkpointed first (the
            # frame is corpus-sized, cheap) so the file count derives from a
            # free count instead of one file per task.
            snapshots.write_sized(rows.localCheckpoint(), f"{t.dir}/docs")

        def _leg_minhash() -> None:
            spark.sparkContext.setJobDescription("curate init: minhash leg")
            minhash_index_init(spark, d, f"{index_path}/mh")
            sigs = spark.read.parquet(_minhash_live_dir(f"{index_path}/mh"))
            pairs = minhash_pairs_of(sigs, sigs).where(
                F.col("jaccard_e6") >= COMPONENT_MIN_JACCARD_E6
            ).select("doc_a", "doc_b", "jaccard_e6")
            snapshots.write_sized(pairs.localCheckpoint(), f"{t.dir}/pairs")

        def _leg_semdedup() -> None:
            spark.sparkContext.setJobDescription("curate init: semdedup leg")
            semdedup_index_init(spark, vectors, f"{index_path}/sem")

        run_overlapped(_leg_quality, _leg_minhash, _leg_semdedup)


def curate_index_update(
    spark: SparkSession,
    new_docs: DataFrame,
    new_vectors: DataFrame,
    index_path: str,
) -> DataFrame:
    """Ingest one document batch: maintain every sub-index, score the
    batch with the frozen classifier, extend the pair log, commit one
    top-level snapshot.  Idempotent under retry at ANY crash point
    (module head); returns the batch's scored roster rows (empty on a
    clean retry)."""
    base = os.path.join(index_path, snapshots.snap_live(index_path))
    roster = spark.read.parquet(f"{base}/docs")
    batch = (
        new_docs.select("doc_id", "lang", "text")
        .join(roster.select("doc_id"), "doc_id", "left_anti")
        .localCheckpoint()
    )
    if batch.limit(1).count() == 0:
        # Clean retry of a fully-committed batch: every sub-index already
        # carries it (their rosters are supersets of ours at all times),
        # so there is nothing to do anywhere.
        return empty_rel(spark, _DOC_ROWS_SCHEMA)

    # Sub-index maintenance + derived state in three INDEPENDENT legs,
    # overlapped from a driver thread pool (round 13, guide §2.6).  Each
    # sub-index self-commits into its own directory and is internally
    # idempotent, so a partially-applied previous attempt reconverges
    # regardless of leg completion order; the pair delta stays INSIDE
    # the minhash leg, after that sub-index's commit, because it must
    # read the COMMITTED signature state (module head, retry safety) —
    # never the sub-update return value.
    def _leg_semdedup() -> None:
        spark.sparkContext.setJobDescription("curate update: semdedup leg")
        bvecs = new_vectors.join(
            batch.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi"
        )
        semdedup_index_update(spark, bvecs, f"{index_path}/sem")

    def _leg_pairs() -> DataFrame:
        spark.sparkContext.setJobDescription("curate update: minhash leg")
        minhash_index_update(spark, batch, f"{index_path}/mh")
        old_pairs = spark.read.parquet(f"{base}/pairs")
        return (
            _component_pair_delta(spark, batch.select("doc_id"), index_path)
            .join(
                old_pairs.select("doc_a", "doc_b"),
                ["doc_a", "doc_b"],
                "left_anti",
            )
            .localCheckpoint()
        )

    def _leg_rows() -> DataFrame:
        spark.sparkContext.setJobDescription("curate update: quality leg")
        c_q16 = int(
            spark.read.parquet(f"{index_path}/model_meta").first()["c_q16"]
        )
        model_b = F.broadcast(spark.read.parquet(f"{index_path}/model"))
        return _doc_rows(batch, model_b, c_q16).localCheckpoint()

    _, new_pairs, rows = run_overlapped(_leg_semdedup, _leg_pairs, _leg_rows)

    with snapshots.txn(index_path, CUR_PREFIX) as t:
        # rows / new_pairs are checkpointed above — sized writes are free.
        snapshots.write_sized(rows, f"{t.dir}/docs")
        snapshots.write_sized(new_pairs, f"{t.dir}/pairs")
        t.carry("docs", "pairs")
    return rows


def curate_index_compact(spark: SparkSession, index_path: str) -> None:
    """Merge-on-write maintenance for the curation index (the LSM
    compaction contract every append-only index family carries — the
    substring / SemDeDup precedents): rewrite the accumulated per-batch
    docs/pairs delta files into one compact file set, committed as a
    fresh snapshot via the atomic CURRENT swap, and compact the SemDeDup
    sub-index through its own contract.  (The minhash sub-index's
    signature snapshot is rewritten the same way on the next
    bootstrap-scale maintenance; its per-batch files are append-only
    parquet that serving unions transparently.)  Serving is identical
    before and after; per-batch ingest stays ∝ batch because updates
    only append, and compaction amortizes read-side file-count growth
    on its own schedule.  Idempotent."""
    semdedup_index_compact(spark, f"{index_path}/sem")
    with snapshots.txn(index_path, CUR_PREFIX) as t:
        docs = spark.read.parquet(f"{t.live}/docs").localCheckpoint()
        pairs = spark.read.parquet(f"{t.live}/pairs").localCheckpoint()
        docs.coalesce(1).write.mode("overwrite").parquet(f"{t.dir}/docs")
        pairs.coalesce(1).write.mode("overwrite").parquet(f"{t.dir}/pairs")


def curate_resolve(spark: SparkSession, index_path: str) -> DataFrame:
    """Serving view: the curated-corpus ledger over everything ingested —
    per doc: (doc_id, lang, n_tokens, qc_llr_q16, qc_keep, exact_keep,
    near_keep, sem_keep, kept, split, shard, seq_id).  ``kept`` is the
    conjunction of the four gates (a dropped keeper drops its whole
    cluster — the batch funnel's conservative choice); ``seq_id`` is the
    packed training-sequence id over kept docs (NULL for dropped).

    Cost ∝ corpus by necessity (it EMITS the corpus view): one window
    over the roster (exact keeper), closure over the pair log (pairs
    only, not docs), one broadcast-size join per sub-index serving view,
    one per-lang pack window — the same passes the batch twin runs."""
    base = os.path.join(index_path, snapshots.snap_live(index_path))
    docs = spark.read.parquet(f"{base}/docs")
    pairs = spark.read.parquet(f"{base}/pairs")
    # size-dispatched closure (the ER family's engine): the pair log is
    # near-dup edges only — orders smaller than the corpus — so below
    # the edge threshold a driver union-find answers in milliseconds
    # what Hash-Min pays scheduler rounds for; above it the distributed
    # engine takes over with identical semantics.
    labels = _er_closure(
        spark, pairs.select(F.col("doc_a"), F.col("doc_b"))
    )
    sem = semdedup_resolve(spark, f"{index_path}/sem").select(
        F.col("vec_id").alias("doc_id"), F.col("keep").alias("sem_keep")
    )
    ek = F.col("doc_id") == F.min("doc_id").over(Window.partitionBy("h"))
    bucket = texts.hash32(F.col("doc_id").cast("string")) % SPLIT_BUCKETS
    split = (
        F.when(bucket < TRAIN_LT, F.lit("train"))
        .when(bucket < VAL_LT, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    flags = (
        docs.withColumn("exact_keep", ek)
        .join(labels, docs.doc_id == labels.node, "left")
        .withColumn(
            "near_keep",
            F.col("doc_id") == F.coalesce("component", F.col("doc_id")),
        )
        .join(sem, "doc_id", "left")
        .withColumn("sem_keep", F.coalesce("sem_keep", F.lit(True)))
        .withColumn(
            "kept",
            F.col("qc_keep")
            & F.col("exact_keep")
            & F.col("near_keep")
            & F.col("sem_keep"),
        )
        .withColumn("split", split)
        .withColumn("shard", _rendezvous_shard(SHARDS_FROM))
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = (
        flags.where("kept")
        .select(
            "doc_id",
            F.floor(
                F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) / PACK_BUDGET
            )
            .cast("long")
            .alias("seq_id"),
        )
    )
    return flags.join(packed, "doc_id", "left").select(
        "doc_id", "lang", "n_tokens", "qc_llr_q16", "qc_keep",
        "exact_keep", "near_keep", "sem_keep", "kept",
        "split", "shard", "seq_id",
    )


def curate_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: bootstrap the curation index on the first half of
    the corpus (doc_id <= max/2 — the SemDeDup quantizer's deterministic
    seeds and the classifier's training cohort live there), ingest the
    second half as an update batch, serve the ledger.  The oracle is the
    BATCH composition over the full corpus with both frozen models
    trained on the same first half — the hash gate pins that four
    incremental index families composed end-to-end lose nothing vs one
    batch run (documents and embeddings share the id domain, so the
    doc-side and vec-side halves coincide)."""
    import shutil
    import tempfile

    docs = load_table_spread(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    vecs = load_table_spread(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    half = docs.agg(F.expr("div(max(doc_id), 2)").alias("h")).first()["h"]
    tmp = tempfile.mkdtemp(prefix="curate_idx_")
    try:
        curate_index_init(
            spark,
            docs.where(F.col("doc_id") <= half),
            vecs.where(F.col("vec_id") <= half),
            f"{tmp}/idx",
        )
        curate_index_update(
            spark,
            docs.where(F.col("doc_id") > half),
            vecs.where(F.col("vec_id") > half),
            f"{tmp}/idx",
        )
        return curate_resolve(spark, f"{tmp}/idx").localCheckpoint()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _curate_incremental_oracle_sql() -> str:
    """Batch composition over the full corpus, frozen models trained on
    the first half: classifier cohort restricted to doc_id <= max/2,
    SemDeDup under the first-half quantizer
    (``_semantic_incremental_oracle_sql`` verbatim), components over the
    full minhash pair graph (pair-set equality: within-init pairs ∪
    batch-involving pairs = all pairs), exact keeper window, split
    bucket, rendezvous shard, per-lang pack over kept docs."""
    b = texts.hash32_sql("CAST(doc_id AS VARCHAR)")
    sh = texts.hash32_sql(
        "CAST(doc_id AS VARCHAR) || ':' || CAST(u.s AS VARCHAR)"
    )
    qc_sql = _classifier_oracle_sql(
        train_pred="doc_id <= (SELECT MAX(doc_id) // 2 FROM documents)"
    )
    return f"""
WITH qc AS (
    SELECT doc_id, qc_llr_q16, predicted_high AS qc_keep
    FROM ({qc_sql})
),
comp AS (SELECT * FROM ({_components_oracle_sql()})),
sem AS (
    SELECT vec_id, keep AS sem_keep
    FROM ({_semantic_incremental_oracle_sql()})
),
shards AS (
    SELECT doc_id, CAST(arg_max(u.s, {sh} * 65536 - u.s) AS INT) AS shard
    FROM documents, unnest(range(0, {SHARDS_FROM})) AS u(s)
    GROUP BY doc_id
),
base AS (
    SELECT doc_id, lang,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           MIN(doc_id) OVER (PARTITION BY md5(text)) AS hash_keeper,
           CASE WHEN {b} % {SPLIT_BUCKETS} < {TRAIN_LT} THEN 'train'
                WHEN {b} % {SPLIT_BUCKETS} < {VAL_LT} THEN 'val'
                ELSE 'test' END AS split
    FROM documents
),
flags AS (
    SELECT bs.doc_id, bs.lang, bs.n_tokens, q.qc_llr_q16, q.qc_keep,
           bs.doc_id = bs.hash_keeper AS exact_keep,
           bs.doc_id = c.component AS near_keep,
           COALESCE(s.sem_keep, TRUE) AS sem_keep,
           (q.qc_keep AND bs.doc_id = bs.hash_keeper
            AND bs.doc_id = c.component
            AND COALESCE(s.sem_keep, TRUE)) AS kept,
           bs.split
    FROM base bs
    JOIN qc q USING (doc_id)
    JOIN comp c USING (doc_id)
    LEFT JOIN sem s ON s.vec_id = bs.doc_id
),
packed AS (
    SELECT doc_id,
           CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS BIGINT) // {PACK_BUDGET} AS seq_id
    FROM flags WHERE kept
)
SELECT f.doc_id, f.lang, f.n_tokens, f.qc_llr_q16, f.qc_keep,
       f.exact_keep, f.near_keep, f.sem_keep, f.kept,
       f.split, sh2.shard, p.seq_id
FROM flags f
JOIN shards sh2 USING (doc_id)
LEFT JOIN packed p USING (doc_id)
"""


QUERIES = {"curate_incremental": curate_incremental}
ORACLE_SQL = {"curate_incremental": _curate_incremental_oracle_sql()}
