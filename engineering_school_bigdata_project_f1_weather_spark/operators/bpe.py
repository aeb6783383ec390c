"""Byte-pair-encoding tokenizer TRAINING and application, Spark-first.

The reference has no tokenizer at all; this is extension surface for the
training-data pipeline (token counting exists as ``text.text_tokens``'s
regex approximation — this is the real, trained thing).

Distributed structure (the part that matters at 100 TB):

- ONE corpus-scale pass aggregates the distinct-word frequency table
  (``word, count`` — the classic BPE training input). Everything after
  runs on that VOCAB-sized frame (tens of thousands of rows for a
  billion-document corpus), not the corpus.
- Each merge round: explode adjacent symbol pairs weighted by word
  count (one partial-agg shuffle over pair keys), take the argmax pair
  (1 row to the driver — steering, not data), rewrite every word's
  segmentation with a left-to-right greedy fold. ``localCheckpoint``
  per round truncates lineage exactly like the k-means / Hash-Min loops.
- Deterministic: ties broken lexicographically on (left, right), no
  rand(), so the merge table is reproducible across engines/retries —
  pinned against a pure-Python reference implementation in
  tests/test_bpe.py (the iterative merge is not practically expressible
  as a single DuckDB SQL statement, so this extension is pytest-parity
  verified rather than oracle_sql-checked; COVERAGE.md records which).

Training is not registered in ``__spark_entry__`` (no SQL oracle — the
iterative merge is pytest-parity verified instead); round 7 registers
the APPLY side: for a frozen merge table the tokenizer is a pure
function of the text and the greedy fold has an exact string-replace
twin, so ``text_bpe_apply`` is a full hash-gated entry. Training is
benched as ``text_bpe_train`` in bench.py's EXTRA_BENCH.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions.jobs import loop_conf
from ..sources.tables import load_table_spread

END_OF_WORD = "</w>"  # classic end-of-word marker so merges can't cross words
N_MERGES = 8


def word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one corpus-scale pass: distinct-word frequency table."""
    d = load_table_spread(spark, sf_dir, "documents").select(
        F.explode(F.split(F.col("text"), " ")).alias("word")
    )
    return (
        d.where(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _initial_segments(words: DataFrame) -> DataFrame:
    """word → array of single characters + END_OF_WORD."""
    return words.select(
        "word",
        "n",
        F.concat(
            F.split(F.col("word"), ""), F.array(F.lit(END_OF_WORD))
        ).alias("seg"),
    )


def _pair_counts(segs: DataFrame) -> DataFrame:
    """Adjacent-symbol pair frequencies, weighted by word count — one
    partial-agg shuffle over the vocab frame."""
    n = F.size("seg")
    pairs = F.zip_with(
        F.slice(F.col("seg"), 1, n - 1),
        F.slice(F.col("seg"), 2, n - 1),
        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
    )
    return (
        segs.where(n >= 2)
        .select(F.explode(pairs).alias("p"), "n")
        .groupBy("p.l", "p.r")
        .agg(F.sum("n").alias("freq"))
    )


def _merge_pair(seg, left: str, right: str, merged: str):
    """Greedy left-to-right single-pair merge as one aggregate fold:
    acc = (out array, pending symbol); merging consumes both symbols, so
    overlapping occurrences (aaa with pair a+a) merge non-overlapping
    left-to-right — the standard BPE apply rule.  Each merge emits the
    symbol ``merged``: ``left + right`` for BPE; WordPiece drops the
    right piece's continuation prefix."""
    init = F.struct(
        F.array().cast("array<string>").alias("out"),
        F.lit(None).cast("string").alias("prev"),
    )

    def step(acc, s):
        take_merge = acc["prev"].eqNullSafe(F.lit(left)) & (s == F.lit(right))
        return F.struct(
            F.when(
                take_merge,
                F.concat(acc["out"], F.array(F.lit(merged))),
            )
            .when(acc["prev"].isNull(), acc["out"])
            .otherwise(F.concat(acc["out"], F.array(acc["prev"])))
            .alias("out"),
            F.when(take_merge, F.lit(None).cast("string"))
            .otherwise(s)
            .alias("prev"),
        )

    def finish(acc):
        return F.when(acc["prev"].isNull(), acc["out"]).otherwise(
            F.concat(acc["out"], F.array(acc["prev"]))
        )

    return F.aggregate(seg, init, step, finish)


def train_bpe(
    spark: SparkSession, sf_dir: str, n_merges: int = N_MERGES
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` BPE merges from the corpus. Returns the ordered
    merge table [(left, right), ...] — the tokenizer artifact.

    Driver traffic per round is ONE (left, right, freq) row; the segment
    rewrite happens distributed on the vocab frame. Stops early if no
    pair occurs at least twice.

    What bounds REAL training (a 30k-merge production vocabulary) is the
    PER-ROUND round-trip — two driver-synchronized jobs (argmax collect +
    localCheckpoint) of scheduler latency over a vocab-sized frame, i.e.
    a few hundred ms × 30k rounds ≈ hours — NOT the 1-row collect itself
    (which is steering, not data movement) and not data volume (the loop
    never touches the corpus after the one word-count pass). That serial
    structure is inherent to BPE (merge i+1's frequencies depend on merge
    i); engines that train faster batch compatible merges per round or
    train driver-side on the (tiny) vocab table — both change the
    artifact subtly, so this implementation keeps the canonical
    one-merge-per-round semantics (pinned at 220 rounds against the
    pure-Python reference in tests/test_bpe.py)."""
    return train_bpe_from_words(spark, word_counts(spark, sf_dir), n_merges)


def train_bpe_from_words(
    spark: SparkSession, words: DataFrame, n_merges: int
) -> list[tuple[str, str]]:
    """Training loop over an arbitrary (word, n) frequency frame — shared
    by the sf_dir path and tests that need richer vocabularies than the
    31-word synthetic corpus."""
    segs = _initial_segments(words).localCheckpoint()
    merges = _merge_loop(
        spark,
        segs,
        n_merges,
        _pair_counts,
        [F.desc("freq"), F.asc("l"), F.asc("r")],
        lambda left, right: left + right,
    )
    return [(left, right) for left, right, _ in merges]


def _merge_loop(
    spark: SparkSession,
    segs: DataFrame,
    n_merges: int,
    scores,
    order: list,
    merged_of,
) -> list[tuple[str, str, str]]:
    """The merge-training loop shared by BPE and WordPiece over a
    checkpointed (word, n, seg) frame: each round ranks
    ``scores(segs)`` — (l, r, freq, ...) rows — by ``order``, takes the
    top row to the driver, stops if its pair occurs fewer than twice,
    and otherwise folds the pair into every segmentation as the symbol
    ``merged_of(l, r)``.  Returns [(l, r, merged), ...] in merge order."""
    merges: list[tuple[str, str, str]] = []
    # every per-round shuffle carries vocab-frame rows
    with loop_conf(spark, segs.count(), 50_000):
        for _ in range(n_merges):
            top = scores(segs).orderBy(*order).limit(1).collect()
            if not top or top[0]["freq"] < 2:
                break
            left, right = top[0]["l"], top[0]["r"]
            merged = merged_of(left, right)
            merges.append((left, right, merged))
            segs = segs.select(
                "word",
                "n",
                _merge_pair(F.col("seg"), left, right, merged).alias("seg"),
            ).localCheckpoint()
    return merges


# ------------------------------------ frozen-artifact apply (round 7)
# A production tokenizer SERVES a frozen artifact — training provenance
# is the pytest-parity story above; application for a FIXED merge table
# is a pure function of the text and therefore oracle-checkable. This
# table is train_bpe(sf0.01, 8 merges) hard-coded with that provenance
# (apply is total for ANY table, so testdata drift cannot break the
# entry — only make the compression column less flattering).
BPE_FROZEN_MERGES: list[tuple[str, str]] = [
    ("e", "r"), ("e", "</w>"), ("n", "</w>"), ("er", "</w>"),
    ("o", "w"), ("ow", "</w>"), ("o", "r"), ("s", "t"),
]


def text_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: tokenize the corpus with the frozen merge table —
    via the CODEGEN string-replace chain, not the interpreted fold.

    Why replace is both correct and the production path: each greedy
    left-to-right single-pair merge over a symbol sequence is EXACTLY a
    leftmost non-overlapping string replace on DOUBLED-separator symbol
    strings (each pattern consumes the inner boundary plus half of each
    outer one, so back-to-back merges keep their shared boundary; the
    fold ≡ replace equivalence is property-tested in tests/test_bpe.py,
    and :func:`apply_bpe`'s fold form remains pinned against the pure-
    python reference). Higher-order ``aggregate`` lambdas are
    INTERPRETED per element — the round-6 shingle lesson — and the
    fold-based apply measured 16 s at sf0.1 (8 chained folds × ~60
    interpreted steps per word); the replace chain is whole-stage
    codegen end-to-end and runs the same corpus in ~1 s. The DuckDB
    oracle is the same replace chain, so the hash gate pins the shared
    replace semantics; the fold ≡ replace ≡ python-reference triangle
    closes through the tests."""
    us = "\x1f"
    us2 = us * 2
    d = load_table_spread(spark, sf_dir, "documents").select(
        "doc_id", "text", F.length("text").cast("long").alias("n_chars")
    )
    word = (
        d.select(
            "doc_id", "n_chars",
            F.explode(F.split(F.col("text"), " ")).alias("word"),
        )
        .where(F.length("word") > 0)
    )
    seg = F.concat(
        F.lit(us2),
        F.regexp_replace(F.col("word"), "(.)", f"$1{us2}"),
        F.lit(f"{END_OF_WORD}{us2}"),
    )
    for left, right in BPE_FROZEN_MERGES:
        seg = F.replace(
            seg, F.lit(f"{us}{left}{us2}{right}{us}"), F.lit(f"{us}{left}{right}{us}")
        )
    per_word = word.select(
        "doc_id", "n_chars",
        (F.size(F.split(seg, us2)) - 2).cast("long").alias("n_pieces"),
    )
    return (
        per_word.groupBy("doc_id", "n_chars")
        .agg(F.sum("n_pieces").alias("n_bpe_tokens"))
        .select(
            "doc_id",
            "n_bpe_tokens",
            F.expr(
                "if(n_bpe_tokens = 0, 0L, div(n_chars * 1000000, n_bpe_tokens))"
            ).alias("chars_per_token_e6"),
        )
    )


def _bpe_apply_oracle_sql() -> str:
    # DOUBLED \x1f boundaries between symbols; each replace pattern
    # consumes the inner boundary plus HALF of each outer boundary, so
    # back-to-back merges keep their shared boundary — a plain
    # single-separator replace eats it and under-merges runs of the
    # same symbol (aaaa -> (aa,a,a) instead of the fold's (aa,aa));
    # the equivalence is property-tested in tests/test_bpe.py.
    us = "\x1f"
    us2 = us * 2
    seg = (
        f"'{us2}' || regexp_replace(word, '(.)', '\\1{us2}', 'g') "
        f"|| '{END_OF_WORD}{us2}'"
    )
    for left, right in BPE_FROZEN_MERGES:
        seg = (
            f"replace({seg}, '{us}{left}{us2}{right}{us}', "
            f"'{us}{left}{right}{us}')"
        )
    return f"""
WITH words AS (
    SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
           unnest(string_split(text, ' ')) AS word
    FROM documents
),
seg AS (
    SELECT doc_id, n_chars, {seg} AS s
    FROM words WHERE length(word) > 0
),
per_word AS (
    SELECT doc_id, n_chars,
           CAST(len(string_split(s, '{us2}')) - 2 AS BIGINT) AS n_pieces
    FROM seg
)
SELECT doc_id, CAST(SUM(n_pieces) AS BIGINT) AS n_bpe_tokens,
       CAST(CASE WHEN SUM(n_pieces) = 0 THEN 0
                 ELSE n_chars * 1000000 // SUM(n_pieces) END AS BIGINT)
           AS chars_per_token_e6
FROM per_word GROUP BY doc_id, n_chars
"""


def apply_bpe(
    spark: SparkSession, sf_dir: str, merges: list[tuple[str, str]]
) -> DataFrame:
    """Tokenize the corpus with a learned merge table: per doc, the BPE
    token count and the bytes-per-token compression signal (e6 fixed
    point). The merge table is a plan literal (broadcast by construction);
    application is one narrow pass — no shuffle beyond the scan."""
    d = load_table_spread(spark, sf_dir, "documents").select(
        "doc_id", "text", F.length("text").cast("long").alias("n_chars")
    )
    tok = d.select(
        "doc_id",
        "n_chars",
        F.explode(F.split(F.col("text"), " ")).alias("word"),
    ).where(F.length("word") > 0)
    seg = F.concat(F.split(F.col("word"), ""), F.array(F.lit(END_OF_WORD)))
    col = seg
    for left, right in merges:
        col = _merge_pair(col, left, right, left + right)
    per_word = tok.select(
        "doc_id", "n_chars", F.size(col).cast("long").alias("n_pieces")
    )
    return (
        per_word.groupBy("doc_id", "n_chars")
        .agg(F.sum("n_pieces").alias("n_bpe_tokens"))
        .select(
            "doc_id",
            "n_bpe_tokens",
            F.expr(
                "if(n_bpe_tokens = 0, 0L, div(n_chars * 1000000, n_bpe_tokens))"
            ).alias("chars_per_token_e6"),
        )
    )


QUERIES = {
    "text_bpe_apply": text_bpe_apply,
}

ORACLE_SQL = {
    "text_bpe_apply": _bpe_apply_oracle_sql(),
}
