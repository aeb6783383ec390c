"""Dump the physical plan headline of every ``queries()`` entry to
PLANS.md — the ``.explain("formatted")`` audit trail: one section per
query with the operator tree (no per-node detail), plus quick red-flag
counts (row-at-a-time Python evals, cartesian products, unexpected
global sorts).

Usage: python tools/plan_audit.py [--summary] [sf_dir] [out_md]

``--summary`` writes a one-line-per-entry verdict table (~150 lines:
name, top-level operator count, join/exchange/Python-boundary counts,
flag status) instead of the ~6,000-line full trees — the diffable
per-round artifact (VERDICT r4 item 8); run without the flag when a
specific plan needs reading.

Note: iterative operators (dedup_components, sim_clusters, corpus_curate,
sim_ivf_trained) EXECUTE their driver-steered loops while the plan is
built — the dumped plan is the final round's, which is the shape that
matters.
"""

from __future__ import annotations

import os
import re
import sys

RED_FLAGS = {
    "python_row_udf": re.compile(r"BatchEvalPython"),
    "cartesian": re.compile(r"CartesianProduct"),
    "nested_loop_inner": re.compile(r"BroadcastNestedLoopJoin Inner"),
}
# ArrowEvalPython / mapInPandas are the sanctioned Python boundary.

# Plans where a nested-loop broadcast join is the DESIGN, not a mistake:
# the labeled brute-force baselines (every pair is the point) and the
# IVF centroid fan-out (each row × K=16 broadcast centroids).
ALLOWED = {
    "dedup_embedding": {"nested_loop_inner"},  # quadratic baseline (guarded)
    "sim_topk": {"nested_loop_inner"},  # brute-force kNN baseline
    # MMR's default retrieve is the same brute-force baseline shape as
    # sim_topk (broadcast queries x corpus); deployments inject an ANN
    # shortlist through the pool seam (equivalence pytest-pinned).
    # Round 8: the default retrieve is now the multi-assignment IVF
    # shortlist — the remaining nested-loop is the K=16 broadcast-
    # centroid fan-out (queries x tiny centroid table), the same
    # by-design shape as sim_ivf.
    "sim_mmr": {"nested_loop_inner"},
    "sim_ivf": {"nested_loop_inner"},  # broadcast-centroid assignment, K=16
    "sim_ivf_trained": {"nested_loop_inner"},  # same fan-out, trained cents
    "dedup_embedding_ann": {"nested_loop_inner"},  # same K=16 fan-out
    "sim_clusters": {"nested_loop_inner"},  # consumes sim_lsh (verify joins)
    # carry-in range join: the broadcast DAY list (tens of rows) against
    # sessions — the inequality join is on metadata-sized days, by design.
    "events_concurrency": {"nested_loop_inner"},
    # audit operator: the TRUTH side is the brute-force all-pairs cosine
    # by definition (verification-scale, like dedup_embedding).
    "sim_recall_report": {"nested_loop_inner"},
    # the sub-q-gram rescue branch: docs shorter than EDIT_Q chars have
    # no q-grams, so pairs whose smaller side is that short self-join
    # directly — both sides filtered to < q + tau (= 12) chars, a
    # degenerate near-empty-doc regime, bounded and by design.
    "dedup_edit_distance": {"nested_loop_inner"},
    # Q22's scalar threshold: a ONE-ROW aggregate broadcast-cross-joined
    # onto customers — the textbook decorrelated scalar subquery.
    "tpch_idle_customers": {"nested_loop_inner"},
    # the ONE-ROW min/max range aggregate broadcast onto lineitem for
    # Z-value normalization — same decorrelated-scalar shape as Q22.
    "lineitem_zorder_layout": {"nested_loop_inner"},
    # the same K=16 broadcast-centroid fan-out as sim_ivf / sim_ivf_trained
    # (coarse assignment scores every row against the tiny centroid table).
    "sim_ivf_pq": {"nested_loop_inner"},
    # the dense leg's ONE-ROW query-vector broadcast onto the corpus scan
    # (same shape as sim_topk with a single query).
    "hybrid_search_rrf": {"nested_loop_inner"},
}


def tree_of(df) -> str:
    """The indented operator tree from the formatted explain (header part)."""
    formatted = df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    head = formatted.split("\n\n", 1)[0]
    return head.replace("== Physical Plan ==\n", "").rstrip()


def shuffle_rows_of(df) -> int:
    """Total 'shuffle records written' across the EXECUTED plan's
    exchanges (round 7, VERDICT r6 item 8) — the per-entry shuffle
    VOLUME, so a round-over-round diff of PLANS_SUMMARY surfaces
    shuffle-bloat regressions the structural counts can't see.

    Executes the plan (collect — summary runs at small SF) and walks
    the AQE final plan, summing each ShuffleExchange's
    ``shuffleRecordsWritten`` metric, deduplicated by accumulator id so
    a ReusedExchange counts its physical shuffle once.  Caveats: rows
    shuffled by lineage that a ``localCheckpoint()`` severed (the
    iterative operators) or that ran during plan BUILD (driver-steered
    loops) are not in the final plan and are not counted — the column
    is the serving-plan shuffle volume, same scope as the tree."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    seen: set = set()
    total = 0

    def walk(p) -> None:
        nonlocal total
        cls = p.getClass().getSimpleName()
        try:
            m = p.metrics()
            if m.contains("shuffleRecordsWritten"):
                metric = m.apply("shuffleRecordsWritten")
                if metric.id() not in seen:
                    seen.add(metric.id())
                    total += metric.value()
        except Exception:  # noqa: BLE001 — metric-less node
            pass
        if cls == "AdaptiveSparkPlanExec":
            walk(p.executedPlan())
        if cls.endswith("QueryStageExec"):
            try:
                walk(p.plan())
            except Exception:  # noqa: BLE001
                pass
        ch = p.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(plan)
    return total


def _summary_row(
    name: str, tree: str, hits: list, allowed: list, shuffle_rows
) -> str:
    """One diffable line per entry: structural counts from the plan tree
    plus the executed shuffle volume. Counts shift only when the plan
    SHAPE (or shuffle volume) changes, so a round-over-round diff of
    the summary surfaces exactly the entries worth re-reading."""
    nodes = len(re.findall(r"^\s*[+:]?-", tree, re.M)) or len(tree.splitlines())
    joins = len(re.findall(r"Join", tree))
    exchanges = len(re.findall(r"Exchange", tree))
    arrow = len(re.findall(r"ArrowEvalPython|MapInPandas|FlatMapGroupsInPandas", tree))
    if tree.startswith("<error:"):
        # A failed plan build matches no red-flag regex and would render
        # as "clean" — surface it as its own verdict instead (ADVICE r5).
        verdict = "ERROR"
    elif hits:
        verdict = "RED:" + "+".join(hits)
    elif allowed:
        verdict = "by-design:" + "+".join(allowed)
    else:
        verdict = "clean"
    sr = "-" if shuffle_rows is None else str(shuffle_rows)
    return (
        f"| {name} | {nodes} | {joins} | {exchanges} | {arrow} | {sr} "
        f"| {verdict} |"
    )


def main() -> int:
    argv = [a for a in sys.argv[1:]]
    summary = "--summary" in argv
    argv = [a for a in argv if a != "--summary"]
    sf_dir = argv[0] if len(argv) > 0 else "/root/testdata/sf0.001"
    out_md = argv[1] if len(argv) > 1 else (
        "PLANS_SUMMARY.md" if summary else "PLANS.md"
    )

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entrymod
    from engineering_school_bigdata_project_f1_weather_spark import get_spark

    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")

    sections = []
    rows = []
    flags_summary = {}
    for name, fn in entrymod.queries().items():
        df = None
        try:
            df = fn(spark, sf_dir)
            tree = tree_of(df)
        except Exception as e:  # noqa: BLE001
            tree = f"<error: {e}>"
        sr = None
        if summary and df is not None:
            try:
                sr = shuffle_rows_of(df)
            except Exception:  # noqa: BLE001 — row stays "-"
                sr = None
        hits = [k for k, rx in RED_FLAGS.items() if rx.search(tree)]
        allowed = [h for h in hits if h in ALLOWED.get(name, ())]
        hits = [h for h in hits if h not in ALLOWED.get(name, ())]
        if tree.startswith("<error:"):
            # broken plan build: count it like a red flag so the exit
            # code (and the header line) reflects it (ADVICE r5)
            hits = ["plan_error"]
        if hits:
            flags_summary[name] = hits
        rows.append(_summary_row(name, tree, hits, allowed, sr))
        flag_line = f"\n\n**RED FLAGS: {', '.join(hits)}**" if hits else ""
        if allowed:
            flag_line += (
                f"\n\n*by-design nested-loop: {', '.join(allowed)} "
                "(see ALLOWED in tools/plan_audit.py)*"
            )
        sections.append(f"### {name}\n\n```\n{tree}\n```{flag_line}\n")

    flag_head = (
        "**RED FLAGS FOUND:** "
        + "; ".join(f"{k}: {v}" for k, v in flags_summary.items())
        if flags_summary
        else "**Red flags: none.**"
    )
    if summary:
        body = (
            "# PLANS SUMMARY — per-entry plan verdicts\n\n"
            f"Generated by `tools/plan_audit.py --summary` at `{sf_dir}`.\n"
            "Structural counts per `queries()` plan — diff this artifact\n"
            "round-over-round; re-run without `--summary` for full trees.\n\n"
            + flag_head
            + "\n\n| entry | nodes | joins | exchanges | arrow-boundaries "
            "| rows-shuffled | verdict |\n"
            "|---|---|---|---|---|---|---|\n"
            + "\n".join(rows)
            + "\n"
        )
    else:
        body = (
            "# PLANS — physical-plan audit\n\n"
            f"Generated by `tools/plan_audit.py` at `{sf_dir}`. One operator tree per\n"
            "`queries()` entry (final plan; AQE may still re-plan at runtime).\n"
            "Red-flag scan: row-at-a-time Python evals, cartesian products,\n"
            "inner nested-loop joins — none expected.\n\n"
            + flag_head
            + "\n\n"
            + "\n".join(sections)
        )
    with open(out_md, "w") as f:
        f.write(body)
    print(f"wrote {out_md}: {len(rows)} plans, red-flags={flags_summary or 'none'}")
    spark.stop()
    return 1 if flags_summary else 0


if __name__ == "__main__":
    raise SystemExit(main())
