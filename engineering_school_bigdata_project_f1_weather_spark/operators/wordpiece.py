"""WordPiece tokenizer — training and application, the third tokenizer
family a training-data pipeline ships (:mod:`bpe` is merge-frequency
based, :mod:`unigram` is the LM/EM alternative; WordPiece is the
BERT-style middle ground: BPE-shaped merge training scored by pairwise
LIKELIHOOD, served by greedy longest-match-first against the vocab).

Training (Schuster & Nakajima 2012 / BERT): start from characters
(word-initial plain, continuations ``##``-prefixed) and repeatedly merge
the adjacent pair maximizing ``count(lr) / (count(l) * count(r))`` — the
pair whose merge most increases corpus likelihood under a unigram LM.
Engine realization keeps the BPE trainer's exact distributed shape: ONE
corpus pass builds the word-frequency table, every merge round runs on
the vocab-sized frame (pair counts + symbol counts, two partial-agg
shuffles), and the driver sees one argmax row per round.  The score is
an exact integer, ``freq * 10^12 // (count_l * count_r)`` with ties on
(score desc, freq desc, l asc, r asc) — deterministic across engines and
retries, pinned against a pure-Python reference in
tests/test_wordpiece.py (iterative training is not one SQL statement;
the BPE/unigram precedent).

Serving is NOT merge replay: WordPiece applies a frozen VOCAB by greedy
longest-match-first — at each position take the longest vocab piece
(``##``-prefixed when word-internal), or a 1-char UNK advance when none
matches.  The walk is a left-to-right fold carrying
(pos, n_tokens, n_unk) — ``F.aggregate`` in Spark, a recursive CTE in
DuckDB — so ``text_wordpiece_apply`` is a full hash-gated registry
entry for the frozen artifact (the ``text_bpe_apply`` /
``text_unigram_apply`` contract).  Apply is total for ANY text (the UNK
fallback), so testdata drift cannot break the entry.

Reference parity note: the reference pipeline
(`Lucas files/finalversion`) has no tokenizer — extension surface for
the training-data mandate.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..sources.tables import load_table_spread
from .bpe import _merge_loop, _pair_counts, word_counts
from .unigram import _duck_map_sql, _spark_map_sql

WP_CONT = "##"
WP_N_MERGES = 12
WP_SCORE_SCALE = 10**12  # exact-integer likelihood score numerator scale


def _wp_initial_segments(words: DataFrame) -> DataFrame:
    """word → [c0, ##c1, ##c2, ...] (BERT convention: continuations are
    ``##``-prefixed so a piece's word position is part of its identity)."""
    return words.select(
        "word",
        "n",
        F.expr(
            f"""transform(split(word, ''),
                  (c, i) -> if(i = 0, c, '{WP_CONT}' || c))"""
        ).alias("seg"),
    )


def _wp_pair_scores(segs: DataFrame) -> DataFrame:
    """Adjacent-pair likelihood scores over the vocab frame: freq(l,r)
    weighted by word count, joined against the two symbol totals —
    score = freq * SCALE // (count_l * count_r), exact int64."""
    pc = _pair_counts(segs)
    sc = (
        segs.select(F.explode("seg").alias("s"), "n")
        .groupBy("s")
        .agg(F.sum("n").alias("c"))
    )
    return (
        pc.join(sc.select(F.col("s").alias("l"), F.col("c").alias("cl")), "l")
        .join(sc.select(F.col("s").alias("r"), F.col("c").alias("cr")), "r")
        .select(
            "l",
            "r",
            "freq",
            F.expr(f"div(freq * {WP_SCORE_SCALE}, cl * cr)").alias("score"),
        )
    )


def _wp_merged(left: str, right: str) -> str:
    """The merged piece: right's continuation prefix is internal to the
    merge and drops; left keeps its own (word-initial vs continuation)."""
    r = right[len(WP_CONT):] if right.startswith(WP_CONT) else right
    return left + r


def train_wordpiece(
    spark: SparkSession, sf_dir: str, n_merges: int = WP_N_MERGES
) -> list[str]:
    """Learn the WordPiece vocabulary from the corpus: the character
    alphabet (both positions) plus ``n_merges`` likelihood-scored merged
    pieces, in merge order.  The list IS the serving artifact — greedy
    longest-match needs only membership."""
    return train_wordpiece_from_words(
        spark, word_counts(spark, sf_dir), n_merges
    )


def train_wordpiece_from_words(
    spark: SparkSession, words: DataFrame, n_merges: int
) -> list[str]:
    """Training loop over an arbitrary (word, n) frequency frame: the BPE
    loop itself (``bpe._merge_loop`` — one argmax row to the driver per
    round, vocab-frame shuffles sized to the vocab, localCheckpoint
    lineage truncation) under the likelihood score order and the
    ``##``-dropping merged-symbol rule."""
    segs = _wp_initial_segments(words).localCheckpoint()
    alphabet = sorted(
        r["s"]
        for r in segs.select(F.explode("seg").alias("s")).distinct().collect()
    )  # bounded: single characters in both positions (<= 2 * charset)
    merges = _merge_loop(
        spark,
        segs,
        n_merges,
        _wp_pair_scores,
        [F.desc("score"), F.desc("freq"), F.asc("l"), F.asc("r")],
        _wp_merged,
    )
    return alphabet + [merged for _, _, merged in merges]


# ------------------------------------ frozen-artifact apply
# train_wordpiece(sf0.01, 12 merges) hard-coded (the BPE_FROZEN_MERGES /
# UNI_FROZEN_VOCAB provenance).  Apply is total for ANY table (1-char
# UNK advance), so testdata drift cannot break the entry.  Regenerate:
#   python -c "from ... import wordpiece; print(wordpiece.train_wordpiece(spark, '/root/testdata/sf0.01'))"
WP_FROZEN_VOCAB: list[str] = [
    "##a", "##b", "##c", "##d", "##e", "##g", "##h", "##i", "##k",
    "##l", "##m", "##n", "##o", "##p", "##r", "##s", "##t", "##u",
    "##w", "##y",
    "a", "b", "c", "d", "f", "g", "h", "j", "k", "l", "m", "o", "p",
    "q", "r", "s", "t", "v", "w",
    # the 12 likelihood-scored merges, in merge order
    "qu", "li", "wi", "lin", "win", "wind", "fi", "bi", "##in", "big",
    "ag", "agg",
]


def _wp_max_piece(vocab: list[str]) -> int:
    """Longest match window in CHARACTERS (## prefix excluded)."""
    return max(
        len(p) - len(WP_CONT) if p.startswith(WP_CONT) else len(p)
        for p in vocab
    )


def _wp_walk_expr(vocab: list[str], word_col: str = "word") -> str:
    """Spark SQL: the greedy longest-match walk as a fold carrying
    (pos, n_tok, n_unk).  Each of the length(word) steps either no-ops
    (walk already done) or advances by the LONGEST vocab piece at pos
    (``##``-prefixed when pos > 1), falling back to a 1-char UNK."""
    m = _spark_map_sql(dict.fromkeys(vocab, 1))
    maxp = _wp_max_piece(vocab)
    piece = (
        f"if(st.pos = 1, substring({word_col}, cast(st.pos as int), "
        f"cast(L as int)), '{WP_CONT}' || substring({word_col}, "
        f"cast(st.pos as int), cast(L as int)))"
    )
    lstar = f"""array_max(filter(
          sequence(1L, least({maxp}L, length({word_col}) - st.pos + 1)),
          L -> element_at({m}, {piece}) is not null))"""
    return f"""aggregate(
  sequence(1L, length({word_col})),
  named_struct('pos', 1L, 'n_tok', 0L, 'n_unk', 0L),
  (st, _i) -> if(st.pos > length({word_col}), st,
    element_at(transform(array({lstar}), Ls -> named_struct(
      'pos', st.pos + coalesce(Ls, 1L),
      'n_tok', st.n_tok + 1L,
      'n_unk', st.n_unk + if(Ls is null, 1L, 0L))), 1)),
  st -> named_struct('n_tok', st.n_tok, 'n_unk', st.n_unk))"""


def text_wordpiece_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry entry: tokenize the corpus with the frozen WordPiece
    vocab by greedy longest-match.  Per doc: piece count, UNK count (the
    out-of-vocabulary rate a curation pipeline monitors per source), and
    the chars-per-token compression signal.  The walk runs once per
    DISTINCT word (vocab frame) and joins back to the exploded doc
    words — two bounded shuffles regardless of corpus size, the
    ``text_unigram_apply`` plan."""
    d = load_table_spread(spark, sf_dir, "documents").select(
        "doc_id", "text", F.length("text").cast("long").alias("n_chars")
    )
    dw = d.select(
        "doc_id", "n_chars",
        F.explode(F.split(F.col("text"), " ")).alias("word"),
    ).where(F.length("word") > 0)
    wv = (
        dw.select("word")
        .distinct()
        .select(
            "word", F.expr(_wp_walk_expr(WP_FROZEN_VOCAB)).alias("wk")
        )
        .select(
            "word",
            F.col("wk.n_tok").alias("wtok"),
            F.col("wk.n_unk").alias("wunk"),
        )
    )
    return (
        dw.join(wv, "word")
        .groupBy("doc_id", "n_chars")
        .agg(
            F.sum("wtok").cast("long").alias("n_wp_tokens"),
            F.sum("wunk").cast("long").alias("n_unk"),
        )
        .select(
            "doc_id",
            "n_wp_tokens",
            "n_unk",
            F.expr(
                "if(n_wp_tokens = 0, 0L,"
                " div(n_chars * 1000000, n_wp_tokens))"
            ).alias("chars_per_token_e6"),
        )
    )


def _wordpiece_apply_oracle_sql() -> str:
    """The identical greedy walk as a recursive CTE: one row per step
    per word (the walk is a single deterministic path, so rows stay
    linear in word length), terminal at pos = n + 1."""
    m = _duck_map_sql(dict.fromkeys(WP_FROZEN_VOCAB, 1))
    maxp = _wp_max_piece(WP_FROZEN_VOCAB)
    piece = (
        f"CASE WHEN pos = 1 THEN substring(word, CAST(pos AS INT), "
        f"CAST(L AS INT)) ELSE '{WP_CONT}' || substring(word, "
        f"CAST(pos AS INT), CAST(L AS INT)) END"
    )
    lstar = f"""list_max(list_filter(
            range(1, least({maxp}, n - pos + 1) + 1),
            L -> len(map_extract({m}, {piece})) > 0))"""
    return f"""
WITH RECURSIVE dw AS (
    SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
           unnest(string_split(text, ' ')) AS word
    FROM documents
),
dwf AS (SELECT * FROM dw WHERE length(word) > 0),
wl AS (
    SELECT word, CAST(length(word) AS BIGINT) AS n
    FROM (SELECT DISTINCT word FROM dwf)
),
rec AS (
    SELECT word, n, CAST(1 AS BIGINT) AS pos,
           CAST(0 AS BIGINT) AS n_tok, CAST(0 AS BIGINT) AS n_unk
    FROM wl
    UNION ALL
    SELECT word, n,
           pos + COALESCE(ls, 1),
           n_tok + 1,
           n_unk + CASE WHEN ls IS NULL THEN 1 ELSE 0 END
    FROM (SELECT word, n, pos, n_tok, n_unk, {lstar} AS ls
          FROM rec WHERE pos <= n)
),
wv AS (
    SELECT word, n_tok AS wtok, n_unk AS wunk
    FROM rec WHERE pos = n + 1
)
SELECT d.doc_id,
       CAST(SUM(w.wtok) AS BIGINT) AS n_wp_tokens,
       CAST(SUM(w.wunk) AS BIGINT) AS n_unk,
       CAST(CASE WHEN SUM(w.wtok) = 0 THEN 0
                 ELSE d.n_chars * 1000000 // SUM(w.wtok) END AS BIGINT)
           AS chars_per_token_e6
FROM dwf d JOIN wv w USING (word)
GROUP BY d.doc_id, d.n_chars
"""


QUERIES = {"text_wordpiece_apply": text_wordpiece_apply}
ORACLE_SQL = {"text_wordpiece_apply": _wordpiece_apply_oracle_sql()}
