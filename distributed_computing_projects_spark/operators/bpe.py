"""Distributed BPE tokenizer training and encoding — the tokenizer
stage of an LLM data pipeline (Sennrich et al. 2016, "Neural Machine
Translation of Rare Words with Subword Units"), built the way a
100 TB corpus demands:

- ONE corpus scan builds the word-frequency table (word -> count,
  the standard trick every production BPE trainer uses: merges
  depend only on word multiplicities, so the 100 TB of documents is
  touched once and every training round runs over the vocab-sized
  table instead — millions of rows, not billions).
- Each merge round is a vocab-sized shuffle: adjacent symbol pairs
  weighted by word count, hash-aggregated, and the winning pair
  selected with a DETERMINISTIC total order (count desc, then
  left/right lexicographic — ties in real corpora are common and an
  unordered argmax would make training non-reproducible). The
  selection collects exactly ONE row per round (bounded collect,
  same discipline as ivf_train.py's 16-row rounds).
- Applying a merge is a JVM-side higher-order ``aggregate`` fold
  over the symbol arrays (leftmost-greedy, the BPE application
  order) — no Python in the loop, no UDF.

Training is integer end-to-end (counts and string symbols), so the
full merge trace is exactly reproducible by a SQL oracle that
replays the same rounds over a delimiter-wrapped string encoding of
the symbol table (queries/ext_bpe.py builds that oracle
programmatically).

Pre-tokenization: lowercased ``[a-z]+`` words (no end-of-word
marker — GPT-2-style word-boundary pre-tokenization already
prevents cross-word merges), words capped at ``max_word_len`` chars
(rare pathological tokens — URLs, hashes — otherwise dominate the
pair table; production trainers cap the same way).

Reference parity note: the reference (karthiksharma98/
distributed-computing-projects) has no tokenizer stage; this is
LLM-pipeline scale-extension surface (SURVEY.md §2 extensions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from distributed_computing_projects_spark.operators.spread import local_frame

MAX_WORD_LEN = 20


def word_table(docs: DataFrame, text_col: str,
               max_word_len: int = MAX_WORD_LEN) -> DataFrame:
    """(w, cnt): lowercased ``[a-z]+`` word frequencies — the one
    pass over the corpus. Everything downstream is vocab-sized."""
    return (
        docs.select(
            F.explode(F.split(F.lower(F.col(text_col)), "[^a-z]+"))
            .alias("w"))
        .filter(
            (F.col("w") != "") & (F.length("w") <= max_word_len))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _merge_fold(left: str, right: str) -> str:
    """SQL expression applying one merge rule to a symbol array:
    a leftmost-greedy fold (if the accumulated tail is ``left`` and
    the next symbol is ``right``, fuse them). Training only ever
    produces ``[a-z]`` symbols, but encode_tokens also accepts
    user-supplied merge tables (the bpe-encode CLI), so the splice
    into the expression is validated, not assumed."""
    import re

    if not re.fullmatch("[a-z]+", left + right):
        raise ValueError("merge symbols must be [a-z]+ "
                         f"(got {left!r}, {right!r})")
    fused = left + right
    return f"""
    aggregate(syms, cast(array() as array<string>),
      (acc, x) -> CASE
        WHEN size(acc) > 0 AND element_at(acc, -1) = '{left}'
             AND x = '{right}'
        THEN concat(slice(acc, 1, size(acc) - 1), array('{fused}'))
        ELSE concat(acc, array(x)) END)
    """


_PAIRS_EXPR = """
    CASE WHEN size(syms) < 2
         THEN cast(array() AS array<struct<l: string, r: string>>)
         ELSE transform(sequence(0, size(syms) - 2),
                        i -> struct(syms[i] AS l, syms[i + 1] AS r))
    END
"""

MERGES_SCHEMA = StructType([
    StructField("rank", IntegerType(), False),
    StructField("left", StringType(), False),
    StructField("right", StringType(), False),
    StructField("pair_count", LongType(), False),
])


def train_bpe(spark: SparkSession, docs: DataFrame, text_col: str,
              n_merges: int,
              max_word_len: int = MAX_WORD_LEN) -> DataFrame:
    """Train ``n_merges`` BPE merges over ``docs``; returns the merge
    trace (rank, left, right, pair_count) — the artifact a tokenizer
    ships. Driver loop is ``n_merges`` rounds of (vocab-sized pair
    aggregation -> 1-row collect -> JVM-side fold); the evolving word
    table is cached per round and unpersisted after, so lineage never
    grows past one round."""
    words = word_table(docs, text_col, max_word_len).select(
        F.expr("filter(split(w, ''), x -> x != '')").alias("syms"),
        "cnt",
    )
    merges = []
    cached = words.cache()
    try:
        for rank in range(n_merges):
            top = (
                cached.select("cnt", F.explode(F.expr(_PAIRS_EXPR))
                              .alias("p"))
                .groupBy(F.col("p.l").alias("l"),
                         F.col("p.r").alias("r"))
                .agg(F.sum("cnt").alias("c"))
                .orderBy(F.desc("c"), "l", "r")
                .limit(1)
                .collect()
            )
            if not top:
                break
            l, r, c = top[0]["l"], top[0]["r"], int(top[0]["c"])
            merges.append((rank, l, r, c))
            nxt = cached.select(
                F.expr(_merge_fold(l, r)).alias("syms"), "cnt"
            ).cache()
            nxt.count()  # materialize before dropping the parent
            cached.unpersist()
            cached = nxt
    finally:
        cached.unpersist()
    return local_frame(spark, merges, MERGES_SCHEMA)


def encode_tokens(docs: DataFrame, id_col: str, text_col: str,
                  merges: list,
                  max_word_len: int = MAX_WORD_LEN) -> DataFrame:
    """(id, n_words, n_tokens): per-document token counts under a
    trained merge list [(left, right), ...] — the apply side of BPE,
    applying each merge in rank order with the same leftmost-greedy
    JVM fold as training (no Python). Words beyond ``max_word_len``
    are out-of-alphabet for the trained merges and count one token
    per character (the trainer never saw them)."""
    per_word = docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.lower(F.col(text_col)), "[^a-z]+"))
        .alias("w"),
    ).filter(F.col("w") != "")
    per_word = per_word.withColumn(
        "syms", F.expr("filter(split(w, ''), x -> x != '')"))
    for left, right in merges:
        per_word = per_word.withColumn(
            "syms",
            F.when(F.length("w") <= max_word_len,
                   F.expr(_merge_fold(left, right)))
            .otherwise(F.col("syms")),
        )
    return (
        per_word.groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_words"),
             F.sum(F.size("syms")).alias("n_tokens"))
    )
