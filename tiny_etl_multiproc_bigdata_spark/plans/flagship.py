"""Flagship query: tokenize → per-file distinct words + per-file total
word count (reference example/main.py:59-137).

Reference dataflow (two full reads of every file!):
  1. ReduceItemTransformer fold: re-read file, tokenize, count tokens
     → words_count (example/main.py:72-94);
  2. UniqueFilterTransformer: re-read file, tokenize, derive word_len /
     word_truncated / truncate, dedup on lower(strip(word)) per file
     (example/main.py:96-123);
  3. path shorten to last-4 segments, truncate 270 (main.py:126-128);
  4. project (word, word_len, word_truncated, file, words_count) with
     required-null drop (main.py:158-162).

Spark-first single-pass design (the double scan disappears):

  tokens → groupBy(source, lower(token)) with COUNT(*)  -- map-side
           partial agg crushes the token stream before the only wide
           shuffle; representative word = min(token) for determinism
        → window SUM(occurrences) OVER (PARTITION BY source)
           -- words_count recovered from the already-deduped rows, so
           the second shuffle moves ~|distinct| rows, not ~|tokens|.

Scale notes (100 TB): the heavy exchange is keyed on
(source, norm) — high cardinality, well-spread; the window shuffle is on
source over deduped data. A pathological single giant document bounds the
window partition at |distinct words of that doc| — acceptable; if docs
were truly enormous you'd salt the first agg (norm already does this
naturally). No join, no broadcast needed, no Python in the plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from tiny_etl_multiproc_bigdata_spark.catalog import read_parquet
from tiny_etl_multiproc_bigdata_spark.functions.text import (
    ARABIC_DIACRITICS,
    basename_backwards,
    len_str_gt,
    remove_diac,
    tokenize_words,
    truncate_str,
)


def flagship_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents(text, source) → words(word, word_len, word_truncated,
    file, words_count), per-(file, normalized-word) distinct."""
    return words_from_docs(read_parquet(spark, f"{sf_dir}/documents.parquet"))


def words_from_docs(docs: DataFrame) -> DataFrame:
    """The flagship pipeline over any (source, text) DataFrame — also
    used by bench.py's sustained-throughput run over an amplified
    corpus."""
    tokens = docs.select(
        "source",
        F.explode(tokenize_words(F.col("text"))).alias("token"),
    ).withColumn("token", F.trim("token"))
    # mappers=[str.strip] (example/main.py:85); ignore_word_fn=str.isspace
    # never fires post-split (tokens can't contain \s) — see
    # functions.text.tokenize_words parity note.

    # Two-level aggregation, deliberately: the token stream must be
    # reduced by a pure-count HashAggregate (fixed-size buffer →
    # whole-stage codegen). A direct min(token) would fall back to
    # SortAggregate (sorting the full stream per partition) and
    # array_min(collect_set) to ObjectHashAggregate (no codegen) —
    # measured 10x slower on a 95 MB corpus. Level 1 groups on
    # (source, norm, token) with COUNT only; level 2 then takes
    # min(token)/sum(count) over the already-tiny per-word rows.
    pre = tokens.groupBy(
        "source", F.lower(F.col("token")).alias("norm"), "token"
    ).agg(F.count("*").alias("c"))
    grouped = pre.groupBy("source", "norm").agg(
        F.min("token").alias("word0"),
        F.sum("c").alias("occurrences"),
    )

    with_count = grouped.withColumn(
        "words_count",
        F.sum("occurrences").over(Window.partitionBy("source")).cast("bigint"),
    )

    return with_count.select(
        truncate_str(F.col("word0"), 255).alias("word"),
        F.length(remove_diac(F.col("word0"))).cast("bigint").alias("word_len"),
        len_str_gt(F.col("word0"), 255).alias("word_truncated"),
        # basename_backwards_x4 keeps 5 segments (reference commons.py:157-158)
        truncate_str(basename_backwards(F.col("source"), 5), 270).alias("file"),
        F.col("words_count"),
    ).na.drop(  # required-field drop at the sink (loaders/commons.py:55-62)
        subset=["word", "word_len", "word_truncated", "file", "words_count"]
    )


_FLAGSHIP_ORACLE_TEMPLATE = r"""
WITH toks AS (
    SELECT source, trim(t.token) AS token
    FROM documents,
         unnest(regexp_split_to_array(text, '\s+')) AS t(token)
), grp AS (
    SELECT source,
           lower(token)  AS norm,
           min(token)    AS word0,
           count(*)      AS occurrences
    FROM toks
    GROUP BY source, lower(token)
), wc AS (
    SELECT *,
           CAST(sum(occurrences) OVER (PARTITION BY source) AS BIGINT) AS words_count
    FROM grp
)
SELECT substr(word0, 1, 254)                       AS word,
       length(translate(word0, '{diacritics}', '')) AS word_len,
       length(word0) > 255                          AS word_truncated,
       substr(
         array_to_string(
           list_slice(list_filter(split(source, '/'), x -> x <> ''),
                      greatest(1, len(list_filter(split(source, '/'), x -> x <> '')) - 4),
                      len(list_filter(split(source, '/'), x -> x <> ''))),
           '/'),
         1, 269)                                    AS file,
       words_count
FROM wc
WHERE word IS NOT NULL AND word_len IS NOT NULL
  AND word_truncated IS NOT NULL AND file IS NOT NULL
  AND words_count IS NOT NULL
"""

FLAGSHIP_ORACLE_SQL = _FLAGSHIP_ORACLE_TEMPLATE.replace(
    "{diacritics}", ARABIC_DIACRITICS
)

from tiny_etl_multiproc_bigdata_spark.plans.registry import register  # noqa: E402

register("flagship_words", oracle=FLAGSHIP_ORACLE_SQL)(flagship_words)
