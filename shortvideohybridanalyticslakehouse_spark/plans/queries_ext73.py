"""Extension queries, round 73: a REAL BPE trainer — the first three
byte-pair-encoding merge rounds learned from the corpus, replayed
merge-for-merge by the SQL oracle. Upgrades the "BPE-ish regex token
count" heuristic (functions/text.py) to the actual algorithm every
modern tokenizer is built from (Sennrich et al., ACL'16).

Exactness across engines rests on two invariants verified empirically
(tests + the hash gate):
  1. Symbol sequences are encoded as '||'-separated strings with an
     anchored single-pipe boundary per merge pattern
     ('|l||r|' -> '|lr|'), so a pattern can only match a whole adjacent
     symbol pair, and the doubled separator means adjacent matches share
     no characters — Spark's `replace` and DuckDB's `replace` both scan
     left-to-right non-overlapping and produce IDENTICAL merged
     sequences (the greedy BPE application order).
  2. The winning pair per round is the (weighted count DESC, left ASC,
     right ASC) argmax — fully deterministic.

Plan shape: training runs on the DISTINCT-word frequency table (the
classic BPE reduction — pair counts weight by word frequency, so the
corpus-size relation is touched once); each round is one map-side
explode of adjacent pairs + a grouped sum + a TakeOrderedAndProject
argmax (one bounded scalar fetch per round, the CC/k-core loop
pattern); the merge itself is a scan-side string replace over the
O(vocab) table. 3 fixed rounds — the oracle unrolls the identical
rounds through chained CTEs with scalar subqueries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from shortvideohybridanalyticslakehouse_spark.functions.text import WORD_REGEX
from shortvideohybridanalyticslakehouse_spark.functions.localrel import (
    local_rows_df,
)
from shortvideohybridanalyticslakehouse_spark.plans.registry import (
    materialize,
    register,
)
from shortvideohybridanalyticslakehouse_spark.sources.batch import load_table

_ROUNDS = 3
_WORD_SQL = WORD_REGEX.replace("'", "''")


def _duck_round(prev: str, n: int) -> str:
    """One unrolled BPE round: pair counts from ``prev``, argmax, merged
    vocab — emitting top{n} (the winner row) and vocab{n}."""
    return f"""
p{n} AS (
  SELECT syms[i] AS l, syms[i + 1] AS r,
         CAST(sum(freq) AS BIGINT) AS cnt
  FROM (
    SELECT freq, list_filter(string_split(seq, '||'), x -> x <> '') AS syms
    FROM {prev}
  ), unnest(range(1, len(syms))) AS t(i)
  WHERE len(syms) >= 2
  GROUP BY 1, 2
), top{n} AS (
  SELECT l, r, cnt FROM p{n} ORDER BY cnt DESC, l ASC, r ASC LIMIT 1
), vocab{n} AS (
  SELECT w, freq,
         replace(seq,
                 '|' || (SELECT l FROM top{n}) || '||'
                     || (SELECT r FROM top{n}) || '|',
                 '|' || (SELECT l FROM top{n})
                     || (SELECT r FROM top{n}) || '|') AS seq
  FROM {prev}
)"""


_DUCK_PREFIX = f"""
WITH words AS (
  SELECT unnest(regexp_extract_all(lower(text), '{_WORD_SQL}')) AS w
  FROM documents
), vocab0 AS (
  SELECT w, CAST(count(*) AS BIGINT) AS freq,
         '||' || array_to_string(regexp_extract_all(w, '.'), '||') || '||' AS seq
  FROM words GROUP BY w
),"""

_BPE_ORACLE = (
    _DUCK_PREFIX
    + ",".join(_duck_round(f"vocab{i}", i + 1) for i in range(_ROUNDS))
    + """
SELECT * FROM (
  SELECT 1 AS round, l AS left_sym, r AS right_sym, cnt AS pair_count FROM top1
  UNION ALL
  SELECT 2, l, r, cnt FROM top2
  UNION ALL
  SELECT 3, l, r, cnt FROM top3
)
"""
)



def _build_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-word frequency table with the anchored '||'-separated
    character sequence — the relation BPE trains on. Materialized:
    O(distinct words), and every round's argmax action re-reads it."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(WORD_REGEX), 0)
        ).alias("w")
    )
    vocab = (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .withColumn(
            "seq",
            F.concat(
                F.lit("||"),
                F.array_join(F.expr("regexp_extract_all(w, '.', 0)"), "||"),
                F.lit("||"),
            ),
        )
    )
    return materialize(vocab)


def _train(
    vocab: DataFrame, rounds: int, *, merge_last: bool
) -> tuple[DataFrame, list[tuple[int, str, str, int]]]:
    """Run ``rounds`` greedy merge rounds. Returns (merged vocab, winner
    rows). ``merge_last=False`` skips materializing the final round's
    merged vocab when only the winners are needed. Stops early (like the
    oracle's empty scalar subqueries yield no further rows) if a round
    has no adjacent pairs at all."""
    out: list[tuple[int, str, str, int]] = []
    for rnd in range(1, rounds + 1):
        syms = F.filter(
            F.split(F.col("seq"), r"\|\|"), lambda x: x != F.lit("")
        )
        pairs = (
            vocab.select("freq", syms.alias("syms"))
            .filter(F.size("syms") >= 2)
            .select(
                "freq",
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("syms") - 1),
                        lambda i: F.struct(
                            F.element_at(F.col("syms"), i).alias("l"),
                            F.element_at(F.col("syms"), i + 1).alias("r"),
                        ),
                    )
                ).alias("p"),
            )
            .groupBy(F.col("p.l").alias("l"), F.col("p.r").alias("r"))
            .agg(F.sum("freq").cast("bigint").alias("cnt"))
        )
        win = pairs.orderBy(
            F.col("cnt").desc(), F.col("l").asc(), F.col("r").asc()
        ).first()
        if win is None:  # corpus exhausted: no multi-symbol words left
            break
        out.append((rnd, win["l"], win["r"], win["cnt"]))
        if rnd == rounds and not merge_last:
            break
        vocab = materialize(
            vocab.withColumn(
                "seq",
                F.replace(
                    F.col("seq"),
                    F.lit(f"|{win['l']}||{win['r']}|"),
                    F.lit(f"|{win['l']}{win['r']}|"),
                ),
            )
        )
    return vocab, out


@register("bpe_first_merges", _BPE_ORACLE)
def q_bpe_first_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first 3 BPE merges learned from the corpus: per round, the
    winning adjacent symbol pair and its word-frequency-weighted count.
    Greedy left-to-right merge application is proven identical across
    engines by the anchored double-separator string encoding."""
    vocab = _build_vocab(spark, sf_dir)
    _, out = _train(vocab, _ROUNDS, merge_last=False)
    return local_rows_df(
        spark,
        out,
        "round int, left_sym string, right_sym string, pair_count bigint",
    )


_BPE_APPLY_ORACLE = (
    _DUCK_PREFIX
    + ",".join(_duck_round(f"vocab{i}", i + 1) for i in range(_ROUNDS))
    + """
, segmented AS (
  SELECT freq,
         CAST(len(list_filter(string_split(seq, '||'), x -> x <> ''))
              AS BIGINT) AS n_tokens,
         CAST(length(w) AS BIGINT) AS n_chars
  FROM vocab3
)
SELECT CAST(count(*) AS BIGINT) AS n_distinct_words,
       CAST(sum(freq * n_tokens) AS BIGINT) AS corpus_tokens,
       CAST(sum(freq * n_chars) AS BIGINT) AS corpus_chars,
       CAST(floor(CAST(sum(freq * n_tokens) AS DOUBLE) * 1000000
            / CAST(sum(freq * n_chars) AS DOUBLE)) AS BIGINT)
         AS tokens_per_char_micro
FROM segmented
"""
)


@register("bpe_segmentation_stats", _BPE_APPLY_ORACLE)
def q_bpe_segmentation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the 3 learned merges: corpus token counts under the trained
    segmentation and the tokens-per-character compression the merges buy
    (floored micro ratio on exact integer sums) — the train->apply loop
    of a real tokenizer pipeline."""
    vocab = _build_vocab(spark, sf_dir)
    vocab, _ = _train(vocab, _ROUNDS, merge_last=True)
    syms = F.filter(F.split(F.col("seq"), r"\|\|"), lambda x: x != F.lit(""))
    seg = vocab.select(
        "freq",
        F.size(syms).cast("bigint").alias("n_tokens"),
        F.length("w").cast("bigint").alias("n_chars"),
    )
    return seg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_distinct_words"),
        F.sum(F.col("freq") * F.col("n_tokens"))
        .cast("bigint")
        .alias("corpus_tokens"),
        F.sum(F.col("freq") * F.col("n_chars"))
        .cast("bigint")
        .alias("corpus_chars"),
        F.floor(
            F.sum(F.col("freq") * F.col("n_tokens")).cast("double")
            * 1000000
            / F.sum(F.col("freq") * F.col("n_chars")).cast("double")
        )
        .cast("bigint")
        .alias("tokens_per_char_micro"),
    )
