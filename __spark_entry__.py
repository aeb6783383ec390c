"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

Implemented query inventory (SURVEY.md §2): the reference's nine analysis
queries Q1-Q9 over the F1/weather ``combined`` model, the pipeline stages
P1-P3 (F1 normalization, weather normalization, combine join), and scalar
operator showcases (T6 time parsing, T10 fillna). The F1 model is derived
deterministically from the TPC-H-ish test tables — see
``engineering_school_bigdata_project_f1_weather_spark/plans/f1_model.py``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from engineering_school_bigdata_project_f1_weather_spark.operators import (
    analytics,
    bpe,
    corpus,
    curate,
    curate_index,
    dedup,
    events,
    graph,
    marts,
    multimodal,
    olap_deep,
    quality,
    reshape,
    search,
    similarity,
    sketch,
    streamq,
    temporal,
    text,
    unigram,
    wordpiece,
)

# Order matters: the driver's correctness gate checks the first 50 registry
# entries in registry order.  Rounds 1-4 rotated the window at module
# granularity; round 5 switches to an explicit per-entry priority list so
# the window lands EXACTLY on the 45 entries that have never carried a
# driver-green CORRECTNESS row (union of CORRECTNESS_r01..r04 keys vs the
# registry: all of olap_deep, graph, sketch, the round-4 streamq/similarity
# additions, events wave-3, and the never-sampled tails of text/temporal/
# multimodal/corpus/search), padded to 50 with the least-recently-witnessed
# events entries (r3-green, not r4).  Testdata regenerates each round, so
# in ADDITION to the rotating driver window the whole registry is
# re-verified at round end via `python tools/selfcheck.py --ansi --json
# SELFCHECK_r{N}.json` and committed — that artifact, not the window, is
# the complete current-data correctness record.
_MODULES = [
    marts, analytics, dedup, text, events, temporal, multimodal,
    curate, curate_index, corpus, reshape, quality, search, streamq,
    similarity, sketch, graph, olap_deep, bpe, unigram, wordpiece,
]

# Round-12 window (VERDICT r11 item 5): slots 1-4 are the never-
# driver-witnessed entries — the three round-12 additions (the
# continuous-curation capstone, the LR quality classifier, the unigram
# tokenizer apply) plus dedup_lines_apply (added late in r11, missed
# that window); slots 5-12 are the 8 r7-vintage marts the r11 window
# deferred on golden-pytest evidence (now the registry's oldest
# witnesses — age beats the deferral rationale on the second pass, the
# r11 precedent); the fill is the 29 alphabetically-first entries of
# the 50-strong r8-vintage cohort (last witnessed in CORRECTNESS_r08 —
# computed from the CORRECTNESS_r01..r11 green-row union; the remaining
# 21 r8-vintage entries, stream_heavy_hitters / stream_kmv /
# stream_user_bloom / stream_user_cms first, lead the r13 fill —
# stream_curate, text_wordpiece_apply, stream_ann_probe,
# search_incremental, join_size_estimate, lineitem_ndv_profile,
# quality_pr_sweep, er_fellegi_sunter and er_probabilistic_entities
# were added mid-round and took the last nine fill slots).
# Every registry entry is
# additionally re-verified on current data via tools/selfcheck.py →
# SELFCHECK_r12.json.
_WINDOW_R12 = [
    # never driver-witnessed (round-12 additions + the r11 straggler)
    "curate_incremental", "quality_lr_scored", "text_unigram_apply",
    "stream_curate", "text_wordpiece_apply", "stream_ann_probe",
    "search_incremental", "join_size_estimate", "lineitem_ndv_profile",
    "quality_pr_sweep", "er_fellegi_sunter", "er_probabilistic_entities",
    "dedup_lines_apply",
    # r7-vintage marts deferred from the r11 window
    "q1_wins", "q2_fastestlap", "q4_weather", "q5_evopoints",
    "q8_circuit_stats", "q9_top10", "p1_f1_formatted", "p3_combined",
    # r8-vintage fill (34 of 50, alphabetical)
    "corpus_card", "dedup_cluster_stats", "dedup_components",
    "dedup_embedding", "dedup_er_incremental", "dedup_exact",
    "dedup_fingerprint", "dedup_keep_best", "dedup_minhash_lsh",
    "dedup_ngram_jaccard", "dedup_recall_report", "dedup_simhash",
    "dedup_winnow", "doc_pagerank", "documents_zipf", "events_ab_test",
    "events_dau_mau", "events_ewma", "events_scd2", "events_scd2_lookup",
    "events_transitions", "join_anti_customers", "join_outer_audit",
    "join_semi_customers", "multimodal_dedup", "multimodal_fingerprint",
    "multimodal_segments", "sample_balanced", "sample_quality_weighted",
]
# Rotation-intent guard (VERDICT r8 item 1: the r8 list had 51 names and
# the driver's first-50 check silently dropped the last one).
assert len(_WINDOW_R12) == 50, f"window must be exactly 50, got {len(_WINDOW_R12)}"
assert len(set(_WINDOW_R12)) == 50, "window has duplicate entries"
_WINDOW = _WINDOW_R12


def _ordered(merged: dict) -> dict:
    """Reorder a merged registry dict: _WINDOW first, rest in module order."""
    out = {k: merged[k] for k in _WINDOW if k in merged}
    out.update({k: v for k, v in merged.items() if k not in out})
    return out


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (Q1 wins) on /root/testdata/sf0.001."""
    return marts.q1_wins(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2.

    Cache contract: a few entries persist() a shared subframe in-plan
    (see ``engineering_school_bigdata_project_f1_weather_spark/operators/
    __init__.py``); a long-lived session invoking entries repeatedly
    should ``spark.catalog.clearCache()`` between invocations, as
    tools/selfcheck.py and bench.py both do."""
    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for m in _MODULES:
        out.update(m.QUERIES)
    return _ordered(out)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalents, same column aliases."""
    out: dict[str, str] = {}
    for m in _MODULES:
        out.update(m.ORACLE_SQL)
    return _ordered(out)
