"""Byte-pair-encoding merge learning as pure DataFrame algebra.

Tokenizer training is the one corpus-wide job every LLM data pipeline
runs before anything else.  The classic BPE learner (Sennrich et al.
2016) is inherently iterative - count adjacent symbol pairs, merge the
most frequent, repeat - but each round is plain relational algebra:

- the corpus collapses ONCE into a (word, n) frequency table (the only
  pass over the data; at 100 TB this is one hash aggregate and the
  result is vocabulary-sized, not corpus-sized),
- per round: one map-side-combined pair-count aggregate, one 1-row
  ``orderBy(...).limit(1)`` argmax that joins back in as a broadcast
  cross join, and one ``replace`` projection applying the merge -
  NO driver-side collect; the learned merge rides through the plan as
  a 1-row frame exactly like the scalar cross joins elsewhere in the
  suite.

Symbol sequences are encoded as strings - ``" a  b  c "`` (symbols
joined by TWO spaces, one outer space each side) - so applying a merge
is a single literal ``replace(seq, ' x  y ', ' xy ')``.  ``replace``
scans left-to-right over non-overlapping occurrences, and the
double-space encoding makes that EXACTLY the greedy leftmost BPE merge
order: a match consumes only the first of the two spaces after ``y``,
so back-to-back merges (``a b a b``) both fire, while overlapping ones
(``a a a`` -> ``aa a``) don't.  Both Spark and DuckDB ``replace`` share
these semantics, so the oracle reproduces every round bit-for-bit.

Ties on pair frequency break (w1 ASC, w2 ASC) - deterministic across
engines and cluster sizes.  Fixed ``n_merges`` keeps the recurrence
oracle-unrollable (the same contract as graph.pagerank/sssp/lpa).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def word_frequency(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(w, n): lowercased alnum word frequencies over the corpus - the
    single corpus-wide pass; everything else operates on this table."""
    return (
        docs.select(
            F.explode(
                F.split(F.lower(F.col(text_col)), "[^a-z0-9]+")
            ).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count("*").alias("n"))
    )


def _initial_seq(w: Column) -> Column:
    """Character symbols in the double-space string encoding."""
    chars = F.split(w, "(?!^)")  # split between every pair of chars
    return F.concat(F.lit(" "), F.array_join(chars, "  "), F.lit(" "))


def _pairs_col(seq: Column) -> Column:
    """array<struct<w1,w2>> of adjacent symbol pairs (all occurrences,
    overlapping included - the BPE counting rule)."""
    syms = F.split(F.trim(seq), "  ")
    n = F.size(syms)
    grams = F.transform(
        F.sequence(F.lit(0), n - 2),
        lambda i: F.struct(
            F.element_at(syms, i + 1).alias("w1"),
            F.element_at(syms, i + 2).alias("w2"),
        ),
    )
    empty = F.array().cast("array<struct<w1:string,w2:string>>")
    return F.when(n >= 2, grams).otherwise(empty)


def learn_bpe(
    docs: DataFrame, n_merges: int = 3, text_col: str = "text"
) -> DataFrame:
    """(round, w1, w2, merged, freq) - the first ``n_merges`` BPE merge
    rules learned from the corpus, in order; fewer (possibly none) when
    the corpus runs out of adjacent symbol pairs first.

    Scale shape: after the one corpus pass in :func:`word_frequency`,
    every round touches only the vocabulary table - explode to pairs,
    one map-side-combined hash aggregate, and a 1-ROW argmax collect
    (``orderBy(...).limit(1).first()`` - bounded metadata, the same
    class of driver value as a count).  The collected merge is applied
    as a LITERAL ``replace`` on the symbol sequence, so each round is
    exactly ONE Spark job and the applied-merge chain stays a pure
    projection over the one checkpointed vocabulary table (the previous
    shape paid two eager localCheckpoint jobs plus a broadcast cross
    join per round - 3x the scheduling for the same rows).  This is
    also why a production 30k-merge vocabulary is driver-feasible: the
    per-round frame is vocabulary-sized, never corpus-sized."""
    cur = (
        word_frequency(docs, text_col)
        .select("w", "n", _initial_seq(F.col("w")).alias("seq"))
        .localCheckpoint(eager=True)
    )
    seq = F.col("seq")
    rows = []
    for r in range(1, n_merges + 1):
        pc = (
            cur.select("n", F.explode(_pairs_col(seq)).alias("p"))
            .groupBy("p.w1", "p.w2")
            .agg(F.sum("n").alias("freq"))
        )
        best = (
            pc.orderBy(
                F.col("freq").desc(), F.col("w1").asc(), F.col("w2").asc()
            )
            .limit(1)
            .first()
        )
        if best is None:
            # no adjacent symbol pair left (empty corpus, only 1-char
            # words, or every word fully merged): no further rule exists
            break
        w1, w2 = best["w1"], best["w2"]
        rows.append((r, w1, w2, w1 + w2, int(best["freq"])))
        seq = F.replace(
            seq,
            F.lit(f" {w1}  {w2} "),
            F.lit(f" {w1}{w2} "),
        )
    # JVM literal result frame (inline over range(1)): a
    # createDataFrame-backed frame would pay a Python-runner stage per
    # downstream action
    spark = docs.sparkSession
    rules = F.array(
        *[
            F.struct(
                F.lit(r).cast("int").alias("round"),
                F.lit(a).alias("w1"),
                F.lit(b).alias("w2"),
                F.lit(m).alias("merged"),
                F.lit(f).cast("bigint").alias("freq"),
            )
            for r, a, b, m, f in rows
        ]
    )
    if not rows:
        # an untyped empty array cannot be inlined into the rule schema
        rules = rules.cast(
            "array<struct<round:int,w1:string,w2:string,merged:string,"
            "freq:bigint>>"
        )
    return spark.range(1).select(F.inline(rules))


def segment_words(
    docs: DataFrame, merges: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(w, n, pieces): the corpus vocabulary segmented by an already-
    learned merge table - applies each merge rule in round order via
    the same double-space ``replace`` fold, then splits.  The merge
    table is tiny (one row per rule) and is driven from the driver as
    literal plan constants after a bounded collect; segmentation itself
    stays a pure per-row projection (zero shuffle beyond the word
    frequency aggregate)."""
    rules = [
        (r["w1"], r["w2"], r["merged"])
        for r in merges.orderBy("round").collect()
    ]
    cur = word_frequency(docs, text_col).select(
        "w", "n", _initial_seq(F.col("w")).alias("seq")
    )
    seq = F.col("seq")
    for w1, w2, merged in rules:
        seq = F.replace(
            seq, F.lit(f" {w1}  {w2} "), F.lit(f" {merged} ")
        )
    return cur.select(
        "w", "n", F.split(F.trim(seq), "  ").alias("pieces")
    )
