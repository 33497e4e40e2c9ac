"""Incremental content-granular graph maintenance (plans/delta.py).

The pin: after any sequence of update_graph batches, assemble_graph
must be row-set identical to the one-shot triples build over the union
of all submitted files - while each batch's kernel work is bounded by
its genuinely new contents (lineage counts assert the reuse).
"""

import shutil

import pytest
from pyspark.sql import functions as F

from riksdagen_sentences_spark.plans import delta as D
from riksdagen_sentences_spark.plans import pipeline as P
from riksdagen_sentences_spark.sources.synth import files_table


def _rows(df):
    return sorted(map(tuple, df.collect()))


@pytest.fixture()
def batches(spark):
    """Three commit batches: b2 re-ships every b1 content under new
    commits (pure reuse); b3 mixes 40 reused + 60 new contents."""
    b1 = files_table(spark, n_rows=200, seed=42).cache()
    b2 = b1.withColumn(
        "commit", F.concat(F.lit("r2-"), F.col("commit"))
    ).cache()
    b3 = (
        files_table(spark, n_rows=260, seed=42)
        .withColumn("commit", F.concat(F.lit("r3-"), F.col("commit")))
        .cache()
    )
    return b1, b2, b3


def test_incremental_equals_one_shot(spark, tmp_path, batches):
    b1, b2, b3 = batches
    store = str(tmp_path / "store")

    c1 = D.update_graph(spark, store, b1)
    assert c1["files_new"] == 200
    assert c1["contents_fresh"] > 0

    c2 = D.update_graph(spark, store, b2)
    assert c2["files_new"] == 200
    assert c2["contents_fresh"] == 0  # pure cross-commit reuse
    assert c2["contents_reused"] == 200

    c3 = D.update_graph(spark, store, b3)
    assert c3["files_new"] == 260
    # rows 0..199 re-use b1's contents; 200..259 are genuinely new
    assert 0 < c3["contents_fresh"] <= 60

    union = b1.unionByName(b2).unionByName(b3)
    expected = _rows(P.triples(spark, P.docs_from_files(union)))
    assert _rows(D.assemble_graph(spark, store)) == expected
    # and identical to the from-scratch dedup-aware build
    assert _rows(P.triples_dedup(spark, union)) == expected


def test_resubmitted_batch_is_skipped(spark, tmp_path, batches):
    b1, _, _ = batches
    store = str(tmp_path / "store")
    D.update_graph(spark, store, b1)
    before = _rows(D.assemble_graph(spark, store))
    again = D.update_graph(spark, store, b1)
    assert again["files_new"] == 0
    assert again["files_skipped"] == 200
    assert _rows(D.assemble_graph(spark, store)) == before


def test_crash_before_files_ledger_recovers(spark, tmp_path, batches):
    """Worst partial commit: skeletons + contents_ledger written, crash
    before files_ledger.  The retry must neither strand the contents
    nor duplicate skeleton rows."""
    b1, b2, _ = batches
    store = str(tmp_path / "store")
    D.update_graph(spark, store, b1)

    D.update_graph(spark, store, b2)
    batch2 = D._batch_id(P.files_mapping(b2))
    # simulate the crash: erase everything the marker-last ordering
    # writes after the contents ledger (files ledger + commit marker)
    shutil.rmtree(f"{store}/files_ledger/batch={batch2}")
    shutil.rmtree(f"{store}/commits/batch={batch2}")

    # the half-applied batch must be invisible to readers
    b1_only = _rows(D.assemble_graph(spark, store))
    assert b1_only == _rows(P.triples(spark, P.docs_from_files(b1)))

    retry = D.update_graph(spark, store, b2)
    assert retry["files_new"] == 200

    union = b1.unionByName(b2)
    expected = _rows(P.triples(spark, P.docs_from_files(union)))
    assert _rows(D.assemble_graph(spark, store)) == expected


def test_empty_batch_noop(spark, tmp_path, batches):
    b1, _, _ = batches
    store = str(tmp_path / "store")
    D.update_graph(spark, store, b1)
    empty = b1.limit(0)
    c = D.update_graph(spark, store, empty)
    assert c["files_submitted"] == 0 and c["files_new"] == 0


def test_compact_store_preserves_graph_and_gc_reclaims(spark, tmp_path, batches):
    """Compaction folds all visible batches into one generation behind
    a replaces-marker: the assembled graph must be identical before the
    compaction, after it (old dirs still on disk - no double counting),
    and after gc removes them; updates applied AFTER compaction must
    still dedup against the compacted ledgers."""
    b1, b2, b3 = batches
    store = str(tmp_path / "store")
    D.update_graph(spark, store, b1)
    D.update_graph(spark, store, b2)
    before = _rows(D.assemble_graph(spark, store))

    folded = D.compact_store(spark, store)
    assert folded == 2
    assert len(D._committed_batches(spark, store)) == 1
    # old batch dirs still on disk, but invisible: no double counting
    assert _rows(D.assemble_graph(spark, store)) == before

    removed = D.gc_store(spark, store)
    assert removed > 0
    assert _rows(D.assemble_graph(spark, store)) == before
    assert D.gc_store(spark, store) == 0  # idempotent

    # post-compaction updates dedup against the compacted ledgers
    c3 = D.update_graph(spark, store, b3)
    assert c3["contents_reused"] >= 200 - c3["contents_fresh"]
    union = b1.unionByName(b2).unionByName(b3)
    assert _rows(D.assemble_graph(spark, store)) == _rows(
        P.triples(spark, P.docs_from_files(union))
    )

    # compact again over {compact, b3}: still identical
    assert D.compact_store(spark, store) == 2
    assert _rows(D.assemble_graph(spark, store)) == _rows(
        P.triples(spark, P.docs_from_files(union))
    )


def test_gazetteer_mismatch_raises_and_survives_compaction(spark, tmp_path, batches):
    """Skeletons are only valid under the dictionary they were computed
    with: a batch supplying a different gazetteer must raise BEFORE
    touching the store, and the fingerprint must survive compaction +
    gc of the original markers."""
    b1, b2, b3 = batches
    store = str(tmp_path / "store")
    D.update_graph(spark, store, b1)  # default dict
    D.update_graph(spark, store, b2)  # pure reuse: no skeletons, no pin

    other = spark.createDataFrame(
        [("zzz custom term", "ORG")], "term string, ner_label string"
    )
    with pytest.raises(ValueError, match="gazetteer mismatch"):
        D.update_graph(spark, store, b3, gazetteer=other)
    # the failed batch left nothing behind
    assert len(D._committed_batches(spark, store)) == 2

    D.compact_store(spark, store)
    D.gc_store(spark, store)
    with pytest.raises(ValueError, match="gazetteer mismatch"):
        D.update_graph(spark, store, b3, gazetteer=other)
    # same default dict still applies cleanly
    c = D.update_graph(spark, store, b3)
    assert c["files_new"] == 260


def test_update_graph_with_gazetteer_dim(spark, tmp_path):
    """The store accepts the (term, ner_label) gazetteer frame the NER
    matcher reads: a batch built under ``dims.gazetteer`` and a reuse
    batch pinned to it assemble the same graph as the from-scratch
    dedup-aware build under that dictionary."""
    from riksdagen_sentences_spark.sources import dims

    b1 = files_table(spark, n_rows=80, seed=7).cache()
    b2 = b1.withColumn("commit", F.concat(F.lit("r2-"), F.col("commit")))
    store = str(tmp_path / "store")
    gaz = dims.gazetteer(spark)
    D.update_graph(spark, store, b1, gazetteer=gaz)
    D.update_graph(spark, store, b2, gazetteer=gaz)
    union = b1.unionByName(b2)
    assert _rows(D.assemble_graph(spark, store)) == _rows(
        P.triples_dedup(spark, union, gazetteer=gaz)
    )


def test_stream_feeds_delta_store(spark, tmp_path, batches):
    """File-arrival stream -> update_graph per micro-batch.  Wave 2
    re-ships wave 1's contents under new commits: the stream must add
    its files to the graph WITHOUT growing the contents ledger (zero
    kernel work), and a checkpoint restart must change nothing."""
    from riksdagen_sentences_spark.streaming.incremental import (
        stream_files_to_delta_store,
    )

    b1, b2, _ = batches
    indir = str(tmp_path / "in")
    store = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    b1.repartition(4).write.mode("append").parquet(indir)
    q = stream_files_to_delta_store(spark, indir, store, ckpt)
    q.awaitTermination(240)
    assert _rows(D.assemble_graph(spark, store)) == _rows(
        P.triples(spark, P.docs_from_files(b1))
    )
    n_contents = spark.read.parquet(f"{store}/contents_ledger").count()

    b2.repartition(4).write.mode("append").parquet(indir)
    q = stream_files_to_delta_store(spark, indir, store, ckpt)
    q.awaitTermination(240)
    union = b1.unionByName(b2)
    assert _rows(D.assemble_graph(spark, store)) == _rows(
        P.triples(spark, P.docs_from_files(union))
    )
    # wave 2 was pure cross-commit reuse: no new contents were hashed
    assert (
        spark.read.parquet(f"{store}/contents_ledger").count() == n_contents
    )

    # restart with the same checkpoint and no new input: no-op
    before = _rows(D.assemble_graph(spark, store))
    q = stream_files_to_delta_store(spark, indir, store, ckpt)
    q.awaitTermination(120)
    assert _rows(D.assemble_graph(spark, store)) == before
