"""Incremental (delta) graph maintenance at CONTENT granularity.

``materialize.run_incremental`` resumes a FIXED corpus build from
per-partition checkpoints; this module handles corpus GROWTH: each
update batch brings new (repo, path, commit) files - a new commit -
most of whose contents were already processed in an earlier batch (a
commit changes few files; at 10^12-file scale reprocessing the corpus
per commit is impossible).  ``update_graph`` runs the kernel chain
(sentenize, langid, tokenize, POS, NER) ONLY for content sha256s never
seen before, appending their skeletons (pipeline.content_skeletons) to
an at-rest store; batch cost is O(new distinct contents + new files),
independent of corpus size.  ``assemble_graph`` re-binds every stored
skeleton to every ledgered file (pipeline.expand_skeletons) and is
row-set identical to a from-scratch ``triples_dedup`` - and therefore
to the naive ``triples`` - over the union of all batches.

Idempotency / crash safety: every batch writes under a deterministic
``batch=<id>`` partition directory (id = order-independent hash of the
batch's SUBMITTED document ids) with overwrite mode, and commits by
writing a tiny marker row under ``commits/batch=<id>`` strictly LAST.
Readers only see committed batches: ledger lookups and
``assemble_graph`` filter every table to batch ids present in
``commits``, so a crashed batch's partial skeleton/ledger rows are
invisible until its retry overwrites them and the marker lands.  A
re-submitted committed batch is detected by its marker and skipped
outright; files already ledgered by OTHER committed batches are
skipped row-wise; contents in the committed contents ledger are never
recomputed.  On an Iceberg catalog the marker discipline becomes
snapshot commits / MERGE INTO; the parquet layout here is the
format-agnostic stand-in (same note as plans/materialize.py).

Reference analog: the reference marks documents processed and skips
them on resume (models/document.py:45-50) - per-document, single node.
This is the same idea content-addressed and distributed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import pipeline as P

SKEL_TABLES = ("sentences", "occurs", "mentions", "content_edges")
_EMPTY_SCHEMAS = {
    "sentences": (
        "content_sha string, text string, cleaned string, lang string"
    ),
    "occurs": "rt string, content_sha string, text string, lang string",
    "mentions": (
        "content_sha string, text string, lang string, label string, "
        "ner_label string"
    ),
    "content_edges": "subj string, pred string, obj string",
    "files_ledger": "content_sha string, document_id string",
    "contents_ledger": "content_sha string",
}


def _committed_batches(spark: SparkSession, store_dir: str) -> list[str]:
    """Batch ids whose commit marker landed, minus batches any marker
    ``replaces`` (compaction supersedes its inputs the instant its own
    marker commits - Iceberg snapshot semantics).  Bounded by the
    number of update batches ever applied (one tiny row each), so the
    driver-side list is safe at any corpus scale."""
    try:
        df = spark.read.option("mergeSchema", "true").parquet(
            f"{store_dir}/commits"
        )
        rows = df.collect()
    except Exception:
        return []
    all_ids = {str(r["batch"]) for r in rows}
    superseded: set[str] = set()
    if "replaces" in df.columns:
        for r in rows:
            if r["replaces"]:
                superseded.update(r["replaces"])
    return sorted(all_ids - superseded)


def _empty_table(spark: SparkSession, schema: str) -> DataFrame:
    """Zero-row frame with ``schema`` built from ``spark.range(0)`` -
    a pure-JVM LocalRelation leaf.  ``createDataFrame([], ...)`` builds
    a Python-RDD-backed plan whose every consumer pays a Python-runner
    stage (measured ~4-5 s PER parquet write of even a 1-row such
    frame); a JVM empty relation also lets PropagateEmptyRelation
    delete the anti-joins against it outright on the seed batch."""
    cols = [
        F.lit(None).cast(t).alias(n)
        for n, t in (
            f.strip().split(" ", 1) for f in schema.split(",")
        )
    ]
    return spark.range(0).select(*cols)


def _read_or_empty(
    spark: SparkSession,
    store_dir: str,
    name: str,
    committed: list[str],
) -> DataFrame:
    """Read a store table, keeping only rows written by COMMITTED
    batches.  A crashed batch's partial rows (skeletons or ledgers
    written before its marker) are thereby invisible - the retry
    overwrites its own directories before the marker lands, so readers
    never observe a half-applied batch."""
    try:
        df = spark.read.parquet(f"{store_dir}/{name}")
    except Exception:
        return _empty_table(spark, _EMPTY_SCHEMAS[name])
    if "batch" not in df.columns:
        return df
    return df.filter(
        F.col("batch").cast("string").isin(committed)
    ).drop("batch")


def _batch_id_n(mapping: DataFrame) -> tuple[str, int]:
    """Deterministic, order-independent id of a batch's SUBMITTED file
    set: the wrapped sum of xxhash64(document_id) plus the count.  A
    re-submitted batch (same files) maps to the same partition
    directory and overwrites its own prior - possibly partial - output;
    a crashed batch must therefore be retried with the same file set.
    Returns (batch_id, n_files) - the count rides the same one-job
    aggregate, so callers never pay a second count over the mapping."""
    row = mapping.agg(
        # decimal(38,0) sum: exact for any batch size and immune to the
        # ANSI-mode long-overflow error a raw BIGINT sum would raise
        F.sum(F.xxhash64("document_id").cast("decimal(38,0)")).alias("h"),
        F.count("*").alias("n"),
    ).first()
    n = int(row["n"])
    return f"{int(row['h'] or 0) % (1 << 64):016x}-{n}", n


def _batch_id(mapping: DataFrame) -> str:
    """Batch id alone (see :func:`_batch_id_n`)."""
    return _batch_id_n(mapping)[0]


def _write_batch(df: DataFrame, store_dir: str, name: str, batch: str) -> None:
    df.write.mode("overwrite").parquet(
        f"{store_dir}/{name}/batch={batch}"
    )


def _write_commit(
    spark: SparkSession,
    store_dir: str,
    batch: str,
    n_files: int,
    replaces: list[str] | None = None,
    gaz_sha: str = "",
) -> None:
    """The batch's commit point: one marker row, written only after
    every table directory of the batch is fully on disk.  A compaction
    marker lists the batch ids it ``replaces``; those become invisible
    to every reader the instant this marker lands.  ``gaz_sha`` records
    the dictionary fingerprint the batch's skeletons were computed
    under (empty for markers that add no skeletons)."""
    # range(1)+literals, NOT createDataFrame: a Python-RDD-backed 1-row
    # frame pays a Python-runner stage per write (~4-5 s measured); the
    # JVM literal row writes in ~0.15 s
    rep = (
        F.array(*[F.lit(b) for b in replaces])
        if replaces
        else F.array().cast("array<string>")
    )
    spark.range(1).select(
        F.lit(n_files).cast("bigint").alias("files_submitted"),
        rep.alias("replaces"),
        F.lit(gaz_sha).alias("gaz_sha"),
    ).coalesce(1).write.mode("overwrite").parquet(
        f"{store_dir}/commits/batch={batch}"
    )


def gazetteer_fingerprint(gazetteer: DataFrame | None) -> str:
    """Order-independent sha256 of the NER dictionary's (term,
    ner_label) rows - the columns pipeline.mention_rows reads
    (gazetteers are broadcast-sized by the matcher's own contract, so
    the driver-side collect is bounded).  ``update_graph`` pins this
    across batches: skeletons computed under different dictionaries
    would disagree with a from-scratch build, silently, only for
    contents that happened to arrive under the wrong dictionary."""
    import hashlib

    if gazetteer is None:
        return "default-dict"
    rows = sorted(
        f"{r['term']}\x00{r['ner_label']}"
        for r in gazetteer.select("term", "ner_label").collect()
    )
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:32]


def _check_gazetteer(
    spark: SparkSession, store_dir: str, committed: list[str], gaz_sha: str
) -> None:
    try:
        df = spark.read.option("mergeSchema", "true").parquet(
            f"{store_dir}/commits"
        )
    except Exception:
        return
    if "gaz_sha" not in df.columns:
        return
    seen = {
        str(r["gaz_sha"])
        for r in df.filter(
            F.col("batch").cast("string").isin(committed)
        )
        .select("gaz_sha")
        .collect()
        if r["gaz_sha"]
    }
    if seen and seen != {gaz_sha}:
        raise ValueError(
            "gazetteer mismatch: this store's skeletons were built under "
            f"dictionary {sorted(seen)}, but this batch supplies "
            f"{gaz_sha!r}; rebuild the store (or pass the original "
            "dictionary) - mixing dictionaries would silently diverge "
            "from a from-scratch build"
        )


def update_graph(
    spark: SparkSession,
    store_dir: str,
    new_files: DataFrame,
    gazetteer: DataFrame | None = None,
) -> dict[str, int]:
    """Apply one batch of files to the store.  Returns lineage counts:
    files submitted / new / skipped, contents fresh / reused.

    The gazetteer (and lexeme dictionary) must be held constant across
    batches; its fingerprint is recorded in every skeleton-bearing
    commit marker and a mismatching batch raises before touching the
    store.
    """
    mapping = P.files_mapping(new_files).persist()
    # the batch id hashes the SUBMITTED set, so a retried batch lands
    # on the same directories no matter how far its first attempt got
    batch, n_files = _batch_id_n(mapping)
    committed = _committed_batches(spark, store_dir)
    gaz_sha = gazetteer_fingerprint(gazetteer)
    _check_gazetteer(spark, store_dir, committed, gaz_sha)
    if batch in committed:
        mapping.unpersist()
        return {
            "files_submitted": n_files,
            "files_new": 0,
            "files_skipped": n_files,
            "contents_fresh": 0,
            "contents_reused": 0,
            "batch_id": batch,
        }
    if committed:
        known_files = _read_or_empty(
            spark, store_dir, "files_ledger", committed
        )
        fresh_files = mapping.join(
            known_files.select("document_id"), "document_id", "left_anti"
        ).persist()
        n_fresh_files = fresh_files.count()
    else:
        # empty store: the anti-join is the identity - reuse the
        # persisted mapping instead of building a second cache of the
        # same rows (and skip its count; _batch_id already counted)
        fresh_files = mapping
        n_fresh_files = n_files

    known_contents = _read_or_empty(
        spark, store_dir, "contents_ledger", committed
    )
    fresh_shas = (
        fresh_files.select("content_sha")
        .distinct()
        .join(known_contents, "content_sha", "left_anti")
        .persist()
    )
    n_fresh_contents = fresh_shas.count()

    if n_fresh_files == 0:
        # nothing to add, but commit the marker so an identical
        # re-submission short-circuits at the committed-batch check
        _write_commit(spark, store_dir, batch, n_files)
        mapping.unpersist()
        fresh_files.unpersist()
        fresh_shas.unpersist()
        return {
            "files_submitted": n_files,
            "files_new": 0,
            "files_skipped": n_files,
            "contents_fresh": 0,
            "contents_reused": 0,
            "batch_id": batch,
        }

    tracked: list[DataFrame] = []
    writes: list[tuple[str, DataFrame]] = []
    if n_fresh_contents > 0:
        sha = F.sha2(F.col("content"), 256)
        # semi-join BEFORE the dedup: in the steady state most content
        # is already in the store, and filtering first keeps the reused
        # files' full content bytes out of the dropDuplicates shuffle
        # (dedup-then-filter and filter-then-dedup commute on the same
        # key)
        reps = (
            new_files.select(sha.alias("content_sha"), "content")
            .join(fresh_shas, "content_sha", "left_semi")
            .dropDuplicates(["content_sha"])
        )
        skel = P.content_skeletons(
            spark, reps, gazetteer=gazetteer, tracked=tracked
        )
        # materialize the shared cut-points ONCE before the concurrent
        # writes below: persist() does not de-duplicate in-flight
        # computation, so two writes racing to the same cold cache
        # would each run the kernel chain.  tracked = (base, sents,
        # toks): base first (everything reads it), then sents and toks
        # concurrently (both derive from the now-warm base cache)
        from concurrent.futures import ThreadPoolExecutor as _TPE

        if tracked:
            tracked[0].count()
            with _TPE(max_workers=2) as cpool:
                list(cpool.map(lambda d: d.count(), tracked[1:]))
        writes.extend((name, skel[name]) for name in SKEL_TABLES)
    writes.append(("contents_ledger", fresh_shas))
    writes.append(("files_ledger", fresh_files))

    # all batch writes are independent jobs over already-materialized
    # caches and are invisible until the marker: run them from a small
    # thread pool so each job's task tail back-fills with the next
    # job's tasks instead of idling the cluster (marker strictly LAST,
    # crash-safety unchanged - a crash before the marker leaves rows no
    # reader can see, and the retry overwrites exactly these
    # directories)
    from concurrent.futures import ThreadPoolExecutor

    def _do_write(item: tuple[str, DataFrame]) -> None:
        name, df = item
        spark.sparkContext.setJobDescription(
            f"delta batch={batch} write {name}"
        )
        _write_batch(df, store_dir, name, batch)

    with ThreadPoolExecutor(max_workers=3) as pool:
        list(pool.map(_do_write, writes))
    # the skeleton caches exist only to share work across the writes
    # above; a long-running updater applying many batches must not
    # accumulate them
    for df in tracked:
        df.unpersist()
    _write_commit(
        spark,
        store_dir,
        batch,
        n_files,
        gaz_sha=gaz_sha if n_fresh_contents > 0 else "",
    )

    mapping.unpersist()
    fresh_files.unpersist()
    fresh_shas.unpersist()
    return {
        "files_submitted": n_files,
        "files_new": n_fresh_files,
        "files_skipped": n_files - n_fresh_files,
        "contents_fresh": n_fresh_contents,
        "contents_reused": n_fresh_files - n_fresh_contents,
        "batch_id": batch,
    }


def assemble_graph(
    spark: SparkSession,
    store_dir: str,
    as_of_batches: list[str] | None = None,
) -> DataFrame:
    """The full (subj, pred, obj) graph over every batch applied so
    far - row-set identical to ``triples_dedup`` (and the naive
    ``triples``) over the union of all submitted files.  Content-only
    edges are re-distinct'ed across batches: a content fresh in batch 2
    may repeat a (rawtoken, normtoken) pair batch 1 already emitted.

    ``as_of_batches`` restricts the read to a subset of COMMITTED batch
    ids - the Iceberg snapshot-read analog on the store: the graph
    exactly as it stood when only those batches had been applied
    (update_graph returns each batch's id).  Requesting an uncommitted
    id raises - an as-of read of a snapshot that never existed is a
    caller bug, not an empty result."""
    committed = _committed_batches(spark, store_dir)
    if as_of_batches is not None:
        missing = sorted(set(as_of_batches) - set(committed))
        if missing:
            raise ValueError(
                f"as_of_batches not committed in {store_dir}: {missing}"
            )
        committed = [b for b in committed if b in set(as_of_batches)]
    skel = {
        name: _read_or_empty(spark, store_dir, name, committed)
        for name in SKEL_TABLES
    }
    mapping = _read_or_empty(spark, store_dir, "files_ledger", committed)
    # one footer-cheap count over the at-rest ledger picks the
    # expansion-join strategy (broadcast below the row cap - see
    # pipeline.BROADCAST_MAPPING_MAX_ROWS - planner default above)
    sent_edges, occurs, mentions = P.expand_skeletons(
        skel,
        mapping,
        broadcast_mapping=mapping.count() <= P.BROADCAST_MAPPING_MAX_ROWS,
    )
    return (
        sent_edges.unionByName(occurs)
        .unionByName(skel["content_edges"].dropDuplicates(["subj", "pred", "obj"]))
        .unionByName(mentions)
    )


_ALL_TABLES = SKEL_TABLES + ("contents_ledger", "files_ledger")


def compact_store(spark: SparkSession, store_dir: str) -> int:
    """Rewrite every visible batch of every table into ONE compaction
    batch, committed with a marker that ``replaces`` its inputs: after
    thousands of small update batches the per-read directory listing
    (and the many-small-files tax) collapses to one generation, while
    visibility flips atomically at the marker write - readers see the
    old batches xor the compacted one, never both, never neither.  The
    old data stays on disk, invisible, until :func:`gc_store`.  The
    compaction id derives from the replaced set, so a crashed
    compaction's retry overwrites its own partial directories (same
    discipline as update batches).  Returns the number of batches
    folded (0 = nothing to do).

    Safe only alongside readers, like materialize.compact_canonical:
    run it from the single writer's maintenance window (a concurrent
    update batch committing between our read and our marker would be
    absorbed by neither old nor new generation)."""
    import hashlib

    visible = _committed_batches(spark, store_dir)
    if len(visible) < 2:
        return 0
    compact_id = "compact-" + hashlib.sha256(
        ",".join(sorted(visible)).encode()
    ).hexdigest()[:16]

    # carry the dictionary fingerprint forward: the folded generation
    # holds the replaced batches' skeletons, so the gazetteer guard
    # must keep seeing their gaz_sha after the old markers are gc'd
    gaz = ""
    try:
        cdf = spark.read.option("mergeSchema", "true").parquet(
            f"{store_dir}/commits"
        )
        if "gaz_sha" in cdf.columns:
            seen = {
                str(r["gaz_sha"])
                for r in cdf.filter(
                    F.col("batch").cast("string").isin(visible)
                )
                .select("gaz_sha")
                .collect()
                if r["gaz_sha"]
            }
            if seen:
                gaz = seen.pop()
    except Exception:
        pass

    # clear any partial previous attempt so the source listing below
    # can never race files the overwrite is about to delete
    jconf = spark._jsc.hadoopConfiguration()
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    for name in _ALL_TABLES:
        p = jpath(f"{store_dir}/{name}/batch={compact_id}")
        fs = p.getFileSystem(jconf)
        if fs.exists(p):
            fs.delete(p, True)

    from pyspark.sql import Observation

    n_files = 0
    for name in _ALL_TABLES:
        df = _read_or_empty(spark, store_dir, name, visible)
        if name == "files_ledger":
            obs = Observation()
            df = df.observe(obs, F.count(F.lit(1)).alias("n"))
        _write_batch(df, store_dir, name, compact_id)
        if name == "files_ledger":
            n_files = int(obs.get["n"])
    _write_commit(
        spark, store_dir, compact_id, n_files, replaces=visible, gaz_sha=gaz
    )
    return len(visible)


def gc_store(spark: SparkSession, store_dir: str) -> int:
    """Delete the on-disk directories of superseded batches (their
    data AND their commit markers).  Safe at any time after the
    superseding marker landed: no reader includes a superseded batch,
    and a crash mid-delete just leaves the remainder for the next gc
    (the ``replaces`` lists in live markers keep naming them).
    Returns the number of directories removed."""
    try:
        df = spark.read.option("mergeSchema", "true").parquet(
            f"{store_dir}/commits"
        )
    except Exception:
        return 0
    superseded: set[str] = set()
    if "replaces" in df.columns:
        for r in df.select("replaces").collect():
            if r["replaces"]:
                superseded.update(r["replaces"])
    if not superseded:
        return 0
    jconf = spark._jsc.hadoopConfiguration()
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    removed = 0
    for b in sorted(superseded):
        for name in _ALL_TABLES + ("commits",):
            p = jpath(f"{store_dir}/{name}/batch={b}")
            fs = p.getFileSystem(jconf)
            if fs.exists(p):
                fs.delete(p, True)
                removed += 1
    return removed
