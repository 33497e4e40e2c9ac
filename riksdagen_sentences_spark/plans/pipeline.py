"""The KG-construction pipeline: documents -> sentence graph.

Spark-first re-expression of the reference's row-at-a-time loop
(/root/reference/models/analyzer.py -> datasets.py -> dataset.py ->
document.py -> sentence.py -> token.py -> entities.py): one declarative
DataFrame lineage per output table, so Catalyst owns pushdown, pruning,
join strategy and AQE owns runtime re-planning.

Stage map (reference file:line in each function's docstring):

    docs ─ sentenize_udf ─ posexplode ─► sentence_base
        ├─► sentences  (accept gates + salted dedup + uuid5)
        ├─► token_base (JVM tokenizer + POS + accept filter)
        │      ├─► rawtokens / normtokens (salted dedup)
        │      └─► occursIn / normalizesTo / linksTo edges
        ├─► entities + mentions edges (JVM gazetteer matcher)
        └─► triples = union of all edges

One code path per stage.  The only Python in the graph build is the
sentenize pandas UDF on the >CHUNK_SIZE branch of :func:`sentence_rows`
(chunk backtracking has no column form); language detection, cleaning,
tokenization, POS and NER are whole-stage-codegen column expressions.
The pure-Python kernels (kernels/) are their row-at-a-time oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import semantics as S
from ..functions import columns as C
from ..functions import udfs as U
from ..ids import uuid5_col
from ..operators.cache import spread_input
from ..operators.dedup import salted_dedup
from ..sources import dims


def docs_from_files(files: DataFrame, strip_html: bool = False) -> DataFrame:
    """Normalize the north-rule ``files`` table to (document_id, content).

    document_id = uuid5('document', repo, path, commit) - deterministic,
    content-addressed (replaces auto-increment document.id,
    reference models/crud/create.py:72-80).

    ``strip_html=True`` mirrors reference D1 (models/document.py:115-121,
    129-131): documents whose body is HTML are converted to text before
    sentenization.  Detection is a cheap JVM rlike; the conversion UDF
    runs only on matching rows.
    """
    content = F.col("content")
    if strip_html:
        content = F.when(
            content.rlike(r"<[A-Za-z!/][^>]*>"), U.html_to_text_udf(content)
        ).otherwise(content)
    return files.select(
        uuid5_col(F.lit("document"), "repo", "path", "commit").alias(
            "document_id"
        ),
        content.alias("content"),
    )


def docs_from_documents(documents: DataFrame) -> DataFrame:
    """Normalize the driver testdata ``documents`` table."""
    return documents.select(
        F.col("doc_id").cast("string").alias("document_id"),
        F.col("text").alias("content"),
    )


def sentence_rows(docs: DataFrame) -> DataFrame:
    """documents -> (document_id, sent_idx, text), one row per sentence.

    Length-gated execution: documents <= CHUNK_SIZE chars (all but the
    rare giants) sentenize through the pure-JVM column twin
    (clean_toc_col + split_sentences_col - whole-stage codegen, ~4x
    faster than the Arrow round-trip); only >CHUNK_SIZE documents go
    through the pandas UDF, whose kernel adds the 100k-char
    chunk-backtracking the column path cannot express.  The gate is a
    branch UNION (two pushed-filter scans), NOT a CASE WHEN - Catalyst
    extracts Python UDFs into an unconditional ArrowEvalPython node, so
    a conditional expression would still ship every row to Python.

    Both branches implement kernels/sentenize.sentenize_document exactly
    (for <=CHUNK_SIZE input, chunk_text is the identity, so the kernel
    reduces to split_sentences(clean_toc(text))); equality is pinned by
    tests against the kernel and by the driver oracle.
    """
    small = docs.filter(F.length("content") <= S.CHUNK_SIZE).select(
        "document_id",
        F.posexplode(
            C.split_sentences_col(C.clean_toc_col(F.col("content")))
        ).alias("sent_idx", "text"),
    )
    big = docs.filter(F.length("content") > S.CHUNK_SIZE).select(
        "document_id",
        F.posexplode(U.sentenize_udf(F.col("content"))).alias(
            "sent_idx", "text"
        ),
    )
    return small.unionByName(big)


def sentence_base(docs: DataFrame) -> DataFrame:
    """documents -> one row per detected sentence with cleaning + langid.

    Reference lifecycle models/document.py:172-200 + models/sentence.py:
    111-131: sentences with empty cleaned text or exactly one clean word
    never reach token analysis or insertion, so they are dropped here.

    Sentence boundary detection is length-gated (see
    :func:`sentence_rows`); language detection is the pure-JVM
    single-pass struct (columns.langid_struct_col), pinned against
    kernels/langid.detect_language by the tests.

    Columns: document_id, sent_idx, text, cleaned, word_count, lang, score
    """
    # Spread a few-split source first: the whole sentenize + clean +
    # langid chain otherwise runs on the INPUT partitioning (one task
    # per parquet split until the dedup shuffle).  No-op at production
    # split counts; ~35% off the sf0.1 flagship locally.
    sent = sentence_rows(spread_input(docs, "document_id"))
    # inline(transform(array(clean), c -> struct(c, wc(c)))) evaluates
    # the (interpreted-HOF) cleaning tree ONCE per row: as plain
    # withColumns, the pushed-down word_count filter inlines the whole
    # `cleaned` tree a second time below the projection that also
    # computes it (the Generate node is a barrier; the lambda variable
    # makes word_count an O(1) reference to the already-cleaned value)
    cw = F.transform(
        F.array(C.clean_sentence_col(F.col("text"))),
        lambda c: F.struct(
            c.alias("cleaned"),
            C.clean_word_count_col(c).alias("word_count"),
        ),
    )
    base = sent.select(
        "document_id", "sent_idx", "text", F.inline(cw)
    ).filter(F.col("word_count") >= 2)
    # inline(array(struct)) explodes the 1-element struct array into the
    # lang/score columns through a Generate node - an optimizer barrier
    # CollapseProject cannot cross, so the (interpreted-HOF) langid tree
    # evaluates ONCE per row.  Plain field extraction (langid_cols)
    # inlines the whole tree per referenced field - ~25% slower base
    # materialization at 100k docs.
    return base.select(
        "*", F.inline(F.array(C.langid_struct_col(F.col("cleaned"))))
    )


def sentences(base: DataFrame) -> DataFrame:
    """Accepted, canonicalized sentences.

    Accept gate per reference models/sentence.py:130-140 (>5 clean words,
    accepted language, score >= 0.4); identity per UNIQUE(text, document,
    language) (models/crud/create.py:85-96) with deterministic uuid5
    replacing uuid4 (models/sentence.py:189-191).  Salted two-phase dedup
    defuses hot-document skew (north rule).

    EXECUTION CONTRACT (PLANS.md item 10): consume ``base`` from a
    persisted or materialized cut-point (production materializes
    sentence_base as a table, plans/materialize.py; ``triples()``
    persists it).  The langid tree is single-pass since round 2
    (lambda-bound shared subexpressions, columns.langid_struct_col),
    but an unpersisted lineage still pays ~3x (8.6 s vs 2.9 s at
    sf0.1): Catalyst pushes the accept filter below the dedup and
    inlines the langid struct per field reference.
    """
    accepted = base.filter(
        C.sentence_accept_col(
            F.col("word_count"), F.col("lang"), F.col("score")
        )
    )
    # drop 'cleaned' before the dedup and recompute it after: it is a
    # pure JVM function of the key column 'text', and keeping only
    # fixed-size payloads (ints/doubles) lets both salted phases run as
    # HashAggregate with map-side partials instead of SortAggregate.
    # Non-key payloads: score/word_count are functions of text
    # (dependent); MIN(sent_idx) is the first-occurrence index (wanted
    # semantics) - see the salted_dedup contract.
    deduped = salted_dedup(
        accepted.drop("cleaned"),
        keys=["text", "document_id", "lang"],
    ).withColumn("cleaned", C.clean_sentence_col(F.col("text")))
    return deduped.select(
        uuid5_col(F.lit("sentence"), "text", "document_id", "lang").alias(
            "sentence_id"
        ),
        "document_id",
        "text",
        "cleaned",
        "lang",
        "score",
        "word_count",
        "sent_idx",
    )


def token_base(base: DataFrame) -> DataFrame:
    """One row per token of every >=2-clean-word sentence, with POS +
    accept flag (reference models/sentence.py:172-181 iterate_tokens +
    models/token.py:80-98).  Pure JVM: regex tokenizer + CASE-chain POS.

    Columns: document_id, sent_idx, text (sentence), lang, score,
    word_count, tok_idx, raw, cleaned_tok, norm, pos, tok_accepted,
    sent_accepted
    """
    toks = base.select(
        "document_id",
        "sent_idx",
        "text",
        "lang",
        "score",
        "word_count",
        F.posexplode(F.split(F.col("text"), S.WS_SPLIT_RE)).alias(
            "tok_idx", "raw"
        ),
    ).filter(F.col("raw") != "")
    return (
        toks.withColumn("cleaned_tok", C.clean_token_col(F.col("raw")))
        .withColumn("norm", C.normalize_token_col(F.col("raw")))
        .withColumn("pos", C.pos_tag_col(F.col("raw")))
        .withColumn(
            "tok_accepted",
            C.is_accepted_token_col(
                F.col("raw"), F.col("pos"), F.col("lang")
            ),
        )
        .withColumn(
            "sent_accepted",
            C.sentence_accept_col(
                F.col("word_count"), F.col("lang"), F.col("score")
            ),
        )
    )


def rawtokens(token_base_df: DataFrame) -> DataFrame:
    """Canonical rawtokens: UNIQUE(text, lexical_category, language)
    (reference models/crud/create.py:120-130).  Tokens are Zipf-skewed
    ("och", "att", ...) -> salted dedup."""
    acc = token_base_df.filter(F.col("tok_accepted")).select(
        F.col("raw").alias("text"), "pos", "lang", "score"
    )
    deduped = salted_dedup(acc, keys=["text", "pos", "lang"])
    return deduped.select(
        uuid5_col(F.lit("rawtoken"), "text", "pos", "lang").alias(
            "rawtoken_id"
        ),
        "text",
        F.col("pos").alias("postag"),
        "lang",
        "score",
    )


def normtokens(token_base_df: DataFrame) -> DataFrame:
    """Canonical normtokens: UNIQUE(text) (reference create.py:131-134)."""
    return (
        token_base_df.filter(F.col("tok_accepted"))
        .select(F.col("norm").alias("text"))
        .dropDuplicates(["text"])
        .select(
            uuid5_col(F.lit("normtoken"), "text").alias("normtoken_id"),
            "text",
        )
    )


# Above this many dictionary terms the contains-chain stops being the
# right plan (one codegen'd predicate per term; compilation and
# per-row cost are term-count-bound) and the n-gram explode + broadcast
# hash join takes over, whose cost is dictionary-size-independent.
NER_JOIN_THRESHOLD = 200


def mention_rows(
    sentences_df: DataFrame,
    gazetteer: DataFrame | None = None,
    join_threshold: int = NER_JOIN_THRESHOLD,
    max_term_words: int | None = None,
) -> DataFrame:
    """One gazetteer pass: (sentence_id, label, ner_label), set-deduped
    per sentence (reference models/entity.py:14-18,
    models/entities.py:14,21-27).  ``entities`` and ``mention_edges``
    both derive from this frame so the match runs once.

    With ``gazetteer=None`` the demo dict (semantics.GAZETTEER) runs as
    the pure-JVM contains chain (columns.mentions_col), which the tests
    pin row-for-row against kernels/ner.extract_entities.

    A ``gazetteer`` DataFrame (term, ner_label) DISPATCHES BY SIZE -
    the reference runs full-model NER unconditionally per sentence
    (models/entities.py:21-27); here the plan shape is picked for the
    dictionary actually supplied:

    - <= ``join_threshold`` terms: the dict is collected (bounded by
      the threshold) and compiled into the contains chain - no join,
      no explode, best plan for demo-scale dicts;
    - larger: the join-shaped matcher (:func:`mention_rows_join`),
      whose ``max_term_words`` is derived from the dictionary itself
      (:func:`gazetteer_max_words`) so the silent under-width blindness
      documented there CANNOT happen through this entrypoint.  An
      explicit ``max_term_words`` below the dictionary's true width
      raises instead of silently missing long phrases.

    The two dictionary jobs (count + width agg / collect) run once at
    plan-build time against a broadcast-scale dim - bounded metadata.
    """
    if gazetteer is not None:
        n_terms = gazetteer.count()
        if n_terms > join_threshold:
            width = gazetteer_max_words(gazetteer)
            if max_term_words is None:
                max_term_words = width
            elif max_term_words < width:
                raise ValueError(
                    f"max_term_words={max_term_words} is below the "
                    f"gazetteer's longest term ({width} words): the "
                    "join matcher would be silently blind to longer "
                    "phrases"
                )
            return mention_rows_join(
                sentences_df, gazetteer, max_term_words=max_term_words
            )
        terms = tuple(
            (r["term"], r["ner_label"])
            for r in gazetteer.select("term", "ner_label").collect()
        )
        matcher = C.mentions_col(F.col("cleaned"), terms)
    else:
        matcher = C.mentions_col(F.col("cleaned"))
    m = sentences_df.select(
        "sentence_id", F.explode(matcher).alias("e")
    ).select("sentence_id", "e.label", "e.ner_label")
    return m.dropDuplicates(["sentence_id", "label", "ner_label"])


def gazetteer_max_words(gazetteer_df: DataFrame) -> int:
    """Longest term width (in words) of a gazetteer - the value
    ``mention_rows_join``'s ``max_term_words`` must cover.  One tiny
    agg job over the (broadcast-scale) dictionary; call it once at
    pipeline-build time, not per batch."""
    return gazetteer_df.agg(
        F.max(F.size(F.split(F.col("term"), " "))).alias("w")
    ).first()["w"]


def mention_rows_join(
    sentences_df: DataFrame,
    gazetteer_df: DataFrame,
    max_term_words: int = 2,
) -> DataFrame:
    """Join-shaped gazetteer matcher for PRODUCTION dictionary sizes:
    (sentence_id, label, ner_label), row-identical to
    :func:`mention_rows` on the same dictionary.

    The codegen'd per-term ``contains`` chain (columns.mentions_col) is
    the right plan for the <=~100-term demo dict but is term-count-bound:
    a ~100k-entry Wikidata-scale dictionary (the north star's broadcast
    lexeme dict; reference runs full-model NER per sentence,
    models/entities.py:21-27) cannot compile as 100k chained contains.
    This path is dictionary-size-INDEPENDENT: sentences explode into
    word n-grams (n = 1..max_term_words, one array expr + one explode,
    all JVM) which equi-join the broadcast dictionary on the n-gram -
    cost is O(words x max_term_words) per sentence plus a broadcast
    hash join, regardless of term count.

    Whole-word semantics match ``mentions_col`` exactly: n-grams are
    built over the raw single-space split WITHOUT dropping empty tokens,
    so runs of spaces cannot bridge words into a phrase match (just as
    ``contains(' term ')`` cannot).  ``max_term_words`` must be >= the
    word count of the longest dictionary term; shorter is silently
    blind to longer phrases, so callers assert it against the dict.
    """
    words = F.split(F.lower(F.col("cleaned")), " ")

    def _grams(n: int):
        # factory, NOT an inline loop lambda: transform() passes the
        # element index as a second lambda arg, which would shadow a
        # default-bound n
        return F.when(
            F.size(words) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(words) - n + 1),
                lambda i: F.array_join(F.slice(words, i, n), " "),
            ),
        ).otherwise(F.array().cast("array<string>"))

    cand = sentences_df.select(
        "sentence_id",
        F.explode(
            F.array_distinct(
                F.flatten(
                    F.array(*[_grams(n) for n in range(1, max_term_words + 1)])
                )
            )
        ).alias("term"),
    )
    dict_df = gazetteer_df.select(
        F.lower("term").alias("term"), "ner_label"
    ).dropDuplicates(["term", "ner_label"])
    return (
        cand.join(F.broadcast(dict_df), "term")
        .select(
            "sentence_id", F.col("term").alias("label"), "ner_label"
        )
        # n-grams are array_distinct'ed per sentence pre-join, and the
        # dict is deduped, so (sentence_id, label, ner_label) is already
        # unique - no post-join dropDuplicates shuffle needed
    )


def entities(sentences_df: DataFrame, mentions_df: DataFrame | None = None) -> DataFrame:
    """Canonical entities: UNIQUE(label, ner_label)
    (reference models/entity.py:36-48)."""
    m = mentions_df if mentions_df is not None else mention_rows(sentences_df)
    return m.select("label", "ner_label").dropDuplicates(
        ["label", "ner_label"]
    ).select(
        uuid5_col(F.lit("entity"), "label", "ner_label").alias("entity_id"),
        "label",
        "ner_label",
    )


def mention_edges(
    sentences_df: DataFrame, mentions_df: DataFrame | None = None
) -> DataFrame:
    """(sentence, mentions, entity) triples (reference
    models/entities.py:29-44, create.py:106-113)."""
    m = mentions_df if mentions_df is not None else mention_rows(sentences_df)
    return m.select(
        F.col("sentence_id").alias("subj"),
        F.lit(S.PRED_MENTIONS).alias("pred"),
        uuid5_col(F.lit("entity"), "label", "ner_label").alias("obj"),
    )


def _rid_col(token_base_df: DataFrame):
    """Rawtoken id: the precomputed ``__rid`` column when the caller
    persisted it (triples() caches the token cut-point with both ids
    materialized and the 300-byte sentence text DROPPED - narrower
    cache blocks, ids hashed once instead of once per edge branch),
    else computed from the raw columns.  Same expression either way -
    values identical."""
    if "__rid" in token_base_df.columns:
        return F.col("__rid")
    return uuid5_col(F.lit("rawtoken"), "raw", "pos", "lang")


def _sid_col(token_base_df: DataFrame):
    """Sentence id for a token row (see :func:`_rid_col`)."""
    if "__sid" in token_base_df.columns:
        return F.col("__sid")
    return uuid5_col(F.lit("sentence"), "text", "document_id", "lang")


def occurs_in_edges(token_base_df: DataFrame) -> DataFrame:
    """(rawtoken, occursIn, sentence) for accepted tokens of accepted
    sentences (reference insert.py:151-160 link_sentence_to_rawtokens)."""
    acc = token_base_df.filter(
        F.col("tok_accepted") & F.col("sent_accepted")
    )
    edges = acc.select(
        _rid_col(token_base_df).alias("subj"),
        F.lit(S.PRED_OCCURS_IN).alias("pred"),
        _sid_col(token_base_df).alias("obj"),
    )
    return edges.dropDuplicates(["subj", "pred", "obj"])


def normalizes_to_edges(token_base_df: DataFrame) -> DataFrame:
    """(rawtoken, normalizesTo, normtoken) for accepted tokens
    (reference insert.py:173-181 link_normtoken_to_rawtoken)."""
    acc = token_base_df.filter(F.col("tok_accepted"))
    edges = acc.select(
        _rid_col(token_base_df).alias("subj"),
        F.lit(S.PRED_NORMALIZES_TO).alias("pred"),
        uuid5_col(F.lit("normtoken"), "norm").alias("obj"),
    )
    return edges.dropDuplicates(["subj", "pred", "obj"])


def links_to_edges(
    token_base_df: DataFrame,
    spark: SparkSession,
    lexemes: DataFrame | None = None,
) -> DataFrame:
    """(rawtoken, linksTo, lexeme) - the Wikidata-lexeme link the
    reference schema defines but never writes (create.py:149-155,
    insert.py:183-196 raises NotImplementedError).  Broadcast equi-join
    against the lexeme dictionary - idiomatic Spark beats a UDF here
    because the match condition is pure equality.  ``lexemes`` defaults
    to the 15-entry oracle-twinned demo dict; pass
    ``dims.synthetic_lexeme_dictionary(spark)`` for the ~100k-entry
    production-sized dictionary (still a few-MB broadcast)."""
    lex = F.broadcast(
        lexemes if lexemes is not None else dims.lexeme_dictionary(spark)
    )
    acc = token_base_df.filter(F.col("tok_accepted"))
    joined = acc.join(
        lex,
        (acc["norm"] == lex["form"]) & (acc["lang"] == lex["lang"]),
        "inner",
    )
    subj = (
        acc["__rid"]
        if "__rid" in token_base_df.columns
        else uuid5_col(
            F.lit("rawtoken"), acc["raw"], acc["pos"], acc["lang"]
        )
    )
    edges = joined.select(
        subj.alias("subj"),
        F.lit(S.PRED_LINKS_TO).alias("pred"),
        lex["lexeme_id"].alias("obj"),
    )
    return edges.dropDuplicates(["subj", "pred", "obj"])


def part_of_edges(sentences_df: DataFrame) -> DataFrame:
    """(sentence, partOf, document) (reference create.py:89,93)."""
    return sentences_df.select(
        F.col("sentence_id").alias("subj"),
        F.lit(S.PRED_PART_OF).alias("pred"),
        F.col("document_id").alias("obj"),
    )


def has_text_edges(sentences_df: DataFrame) -> DataFrame:
    """(sentence, hasText, normalized_text) (north star; reference
    create.py:87 keeps text inline)."""
    return sentences_df.select(
        F.col("sentence_id").alias("subj"),
        F.lit(S.PRED_HAS_TEXT).alias("pred"),
        F.col("cleaned").alias("obj"),
    )


def graph_frames(
    spark: SparkSession,
    docs: DataFrame,
    cache: bool = True,
    gazetteer: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """The graph build's one composition: the cut-points every graph
    table derives from plus their six-branch edge union.  Returns
    ``base``, ``sentences``, ``tokens`` (the three persisted cut-points),
    ``mentions`` (the one NER pass, :func:`mention_rows`) and
    ``triples`` (the (subj, pred, obj) union).  :func:`triples` and
    materialize.build_all_tables both read it, so the graph and the
    canonical tables share one plan.

    ``cache=True`` persists the sentence base, the canonical sentences
    and the token cut-point: the six edge branches would otherwise each
    re-run the sentenizer and langid lineage.  (At production scale the
    same cut-points are materialized tables - see plans/materialize.py -
    so persisting here mirrors the real execution shape, not just a
    local trick.)

    ``gazetteer`` (term, ner_label) selects the NER dictionary for the
    mentions branch; :func:`mention_rows` dispatches by dictionary size
    (contains chain vs broadcast n-gram join) and derives/validates the
    n-gram width from the dict itself, so a production-scale dictionary
    is safe to pass straight through here.
    """
    base = sentence_base(docs)
    if cache:
        # persist WITHOUT the 'cleaned' copy of the sentence: no branch
        # below reads it from base (sentences() drops-and-recomputes it
        # after its dedup; token_base never references it), so caching
        # it would only widen every cache block by a second copy of the
        # sentence bytes.  drop() is tolerant, sentences() recomputes.
        base = base.drop("cleaned").persist()
    sents = sentences(base)
    if cache:
        sents = sents.persist()
    toks = token_base(base)
    if cache:
        # the token-level expression chain (POS CASE + cleaning over
        # ~10 tokens/sentence) is consumed by rawtokens, occursIn,
        # normalizesTo and linksTo - persist so it evaluates once.
        # Project the cache to what those consumers actually read: the
        # two edge ids are materialized ONCE (instead of once per
        # branch) and the ~300-byte sentence text - needed only inside
        # the sentence id - is dropped, so all four cache re-reads
        # decode far narrower blocks (guide §2.3 narrower types /
        # project-before-the-exchange, applied to the cache).
        toks = toks.select(
            "document_id",
            "sent_idx",
            "lang",
            "score",
            "word_count",
            "tok_idx",
            "raw",
            "cleaned_tok",
            "norm",
            "pos",
            "tok_accepted",
            "sent_accepted",
            uuid5_col(F.lit("sentence"), "text", "document_id", "lang")
            .alias("__sid"),
            uuid5_col(F.lit("rawtoken"), "raw", "pos", "lang")
            .alias("__rid"),
        ).persist()
    edges = (
        part_of_edges(sents)
        .unionByName(has_text_edges(sents))
        .unionByName(occurs_in_edges(toks))
        .unionByName(normalizes_to_edges(toks))
    )
    mentions = mention_rows(sents, gazetteer=gazetteer)
    edges = edges.unionByName(mention_edges(sents, mentions)).unionByName(
        links_to_edges(toks, spark)
    )
    return {
        "base": base,
        "sentences": sents,
        "tokens": toks,
        "mentions": mentions,
        "triples": edges,
    }


def triples(
    spark: SparkSession,
    docs: DataFrame,
    cache: bool = True,
    gazetteer: DataFrame | None = None,
) -> DataFrame:
    """The full graph as one (subj, pred, obj) DataFrame - the
    ``triples`` frame of :func:`graph_frames`."""
    return graph_frames(spark, docs, cache=cache, gazetteer=gazetteer)[
        "triples"
    ]


def triples_dedup(
    spark: SparkSession,
    files: DataFrame,
    cache: bool = True,
    gazetteer: DataFrame | None = None,
) -> DataFrame:
    """Content-addressed graph build over the north-rule ``files`` table:
    row-set identical to ``triples(spark, docs_from_files(files))`` but
    every expensive per-content stage (sentenize, langid, cleaning,
    tokenize, POS, NER) runs ONCE PER DISTINCT CONTENT, not once per
    file.

    At 10^12-file code-repo scale most (repo, path, commit) rows carry
    bytes already seen at another commit - a file unchanged across k
    commits appears k times with identical content.  The naive pipeline
    pays the full kernel chain k times; this plan pays it once and then
    re-binds the per-content results to every file with ONE linear hash
    join on content_sha (uniform keys - sha256 cannot skew), which is
    the scale-correct trade: the join shuffles narrow skeleton rows,
    the kernels are the dominant cost.  (Reference analog: S5 dedups
    PDF downloads by md5 file naming,
    /root/reference/models/providers/folketinget_file.py:37-55 - the
    same content-addressing idea applied to the compute instead of the
    download.)

    Correctness rests on every emitted id being a pure function of
    content-local values plus document_id (ids.py): the per-content
    pass runs with document_id := content_sha as a placeholder, carries
    (content_sha, text, lang) on each doc-dependent skeleton row, and
    the expansion recomputes the real uuid5 ids after the join.  The
    content-only branches (normalizesTo, linksTo - both sides are
    functions of token text alone) are emitted once globally, exactly
    as ``triples`` emits them after its global dedup.
    """
    mapping = files_mapping(files)
    bc_mapping: bool | None = None
    if cache:
        # consumed by three expansion joins; recomputing it would
        # re-hash every file's full content per consumer
        mapping = mapping.persist()
        # one count over the (narrow, persisted) mapping decides the
        # expansion-join strategy: broadcast below the row cap, planner
        # default above it (the count also materializes the cache the
        # first join would otherwise build)
        bc_mapping = mapping.count() <= BROADCAST_MAPPING_MAX_ROWS
    sha = F.sha2(F.col("content"), 256)
    reps = files.select(sha.alias("content_sha"), "content").dropDuplicates(
        ["content_sha"]
    )
    skel = content_skeletons(
        spark, reps, cache=cache, gazetteer=gazetteer
    )
    sent_edges, occurs, mentions = expand_skeletons(
        skel, mapping, broadcast_mapping=bc_mapping
    )
    return (
        sent_edges.unionByName(occurs)
        .unionByName(skel["content_edges"])
        .unionByName(mentions)
    )


def files_mapping(files: DataFrame) -> DataFrame:
    """(content_sha, document_id) - one row per FILE.  Deduped on
    document_id so accidental exact-duplicate input rows (same repo,
    path, commit twice) cannot double the expansion edges - the naive
    pipeline collapses those through its UNIQUE constraints, and the
    dedup-aware build must match it row for row."""
    return files.select(
        F.sha2(F.col("content"), 256).alias("content_sha"),
        uuid5_col(F.lit("document"), "repo", "path", "commit").alias(
            "document_id"
        ),
    ).dropDuplicates(["document_id"])


def content_skeletons(
    spark: SparkSession,
    reps: DataFrame,
    cache: bool = True,
    gazetteer: DataFrame | None = None,
    tracked: list[DataFrame] | None = None,
) -> dict[str, DataFrame]:
    """Per-DISTINCT-CONTENT intermediates of the graph build, keyed by
    content_sha.  ``reps`` is (content_sha, content), one row per
    distinct content.  Returns:

    - ``sentences``: (content_sha, text, cleaned, lang) - accepted
      canonical sentences of each content;
    - ``occurs``: (rt, content_sha, text, lang) - per-content-unique
      (rawtoken id, sentence key) pairs;
    - ``mentions``: (content_sha, text, lang, label, ner_label);
    - ``content_edges``: ready (subj, pred, obj) normalizesTo/linksTo
      edges - both sides are functions of token text alone, so they
      need no per-file expansion (deduped within this frame; a caller
      unioning skeletons from several batches must re-distinct).

    These are exactly the frames :func:`expand_skeletons` re-binds to
    files, and the at-rest schema of the delta store (plans/delta.py).
    """
    docs = reps.select(
        F.col("content_sha").alias("document_id"), "content"
    )
    base = sentence_base(docs)
    if cache:
        # no skeleton branch reads base.cleaned (sents recomputes it
        # post-dedup) - drop it from the cache, as in triples()
        base = base.drop("cleaned").persist()
    sents = sentences(base)
    if cache:
        sents = sents.persist()
    toks = token_base(base)
    if cache:
        # materialize the rawtoken id once for its three consumers
        # (occurs skeleton, normalizesTo, linksTo); text must STAY in
        # this cache - it is the occurs/mentions expansion key
        toks = toks.select(
            "*",
            uuid5_col(F.lit("rawtoken"), "raw", "pos", "lang").alias(
                "__rid"
            ),
        ).persist()
    if cache and tracked is not None:
        # hand the persisted intermediates back so a caller that fully
        # consumes the skeletons (e.g. delta.update_graph's writes) can
        # unpersist them instead of leaking executor memory per batch
        tracked.extend((base, sents, toks))

    sents_skel = sents.select(
        F.col("document_id").alias("content_sha"), "text", "cleaned", "lang"
    )
    # occursIn: per-content-unique (rawtoken, sentence-key) skeleton;
    # expansion cannot create duplicates because distinct files get
    # distinct document_ids (and thus distinct sentence ids)
    occ_skel = (
        toks.filter(F.col("tok_accepted") & F.col("sent_accepted"))
        .select(
            _rid_col(toks).alias("rt"),
            F.col("document_id").alias("content_sha"),
            "text",
            "lang",
        )
        .dropDuplicates(["rt", "content_sha", "text", "lang"])
    )
    # mentions: the NER matcher sees one row per distinct-content
    # sentence; the struct "sentence_id" smuggles the expansion key
    # through mention_rows (which treats the id as opaque)
    keyed = sents.select(
        F.struct(
            F.col("document_id").alias("content_sha"), "text", "lang"
        ).alias("sentence_id"),
        "cleaned",
    )
    ment_skel = mention_rows(keyed, gazetteer=gazetteer).select(
        F.col("sentence_id.content_sha").alias("content_sha"),
        F.col("sentence_id.text").alias("text"),
        F.col("sentence_id.lang").alias("lang"),
        "label",
        "ner_label",
    )
    content_edges = normalizes_to_edges(toks).unionByName(
        links_to_edges(toks, spark)
    )
    return {
        "sentences": sents_skel,
        "occurs": occ_skel,
        "mentions": ment_skel,
        "content_edges": content_edges,
    }


# Broadcast the (content_sha, document_id) mapping into the three
# expansion joins when it has at most this many rows (~110 B/row, so
# the default is a ~50 MB broadcast - well inside executor budgets).
# Below the cap the skeleton side is joined with ZERO exchanges; above
# it the planner's shuffled join takes over (the 100 TB regime, where
# one row per file cannot broadcast).  Parameterised for clusters via
# env; counting the mapping is cheap for callers that persist it.
BROADCAST_MAPPING_MAX_ROWS = int(
    __import__("os").environ.get("SPARK_GRAFT_BC_MAPPING_ROWS", "500000")
)


def expand_skeletons(
    skel: dict[str, DataFrame],
    mapping: DataFrame,
    broadcast_mapping: bool | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Re-bind per-content skeletons to files: one linear hash join per
    doc-dependent branch on content_sha (uniform keys - sha256 cannot
    skew), recomputing the real uuid5 ids after the join.  Returns
    (sent_edges, occurs, mentions) edge frames, where ``sent_edges``
    carries BOTH partOf and hasText: the two edge kinds share the
    expanded-sentence row and its (sha256-priced) sentence id, so one
    join pass + one id computation + an explode of the two (pred, obj)
    payloads emits both - half the join/hash work of two branches,
    identical row set.

    ``broadcast_mapping=True`` hints the mapping side into a broadcast
    hash join (the skeletons are then never shuffled); callers that
    know the file count decide (see BROADCAST_MAPPING_MAX_ROWS).
    ``None`` leaves the strategy to the planner."""
    if broadcast_mapping:
        mapping = F.broadcast(mapping)
    sid = uuid5_col(F.lit("sentence"), "text", "document_id", "lang")

    sent_edges = (
        skel["sentences"]
        .join(mapping, "content_sha")
        .select(
            sid.alias("subj"),
            F.explode(
                F.array(
                    F.struct(
                        F.lit(S.PRED_PART_OF).alias("pred"),
                        F.col("document_id").alias("obj"),
                    ),
                    F.struct(
                        F.lit(S.PRED_HAS_TEXT).alias("pred"),
                        F.col("cleaned").alias("obj"),
                    ),
                )
            ).alias("e"),
        )
        .select("subj", "e.pred", "e.obj")
    )
    occurs = skel["occurs"].join(mapping, "content_sha").select(
        F.col("rt").alias("subj"),
        F.lit(S.PRED_OCCURS_IN).alias("pred"),
        sid.alias("obj"),
    )
    mentions = skel["mentions"].join(mapping, "content_sha").select(
        sid.alias("subj"),
        F.lit(S.PRED_MENTIONS).alias("pred"),
        uuid5_col(F.lit("entity"), "label", "ner_label").alias("obj"),
    )
    return sent_edges, occurs, mentions


def mention_contexts(
    sentences_df: DataFrame,
    gazetteer_df: DataFrame,
    window: int = 2,
    max_term_words: int | None = None,
) -> DataFrame:
    """(sentence_id, label, ner_label, pos, left_ctx, right_ctx) — one
    keyword-in-context (concordance) row per mention OCCURRENCE: the
    ±``window``-word context every entity-linking disambiguator and KG
    evidence store wants next to each extracted mention.

    Reference analog: the reference keeps only the (sentence, entity)
    pair (models/entities.py) — occurrence positions and contexts are
    lost at extraction time; here they are first-class columns.

    Plan shape: the same word-n-gram explode as
    :func:`mention_rows_join` but WITH the start position and the
    sentence's word array carried through, so the broadcast dict join
    directly yields slice-able contexts — one explode, ONE broadcast
    hash join, zero extra shuffles.  Carrying the word array costs
    O(words × max_term_words) array copies per sentence, the price of
    position-aware output (the position-free matcher stays the cheap
    path).  Whole-word semantics match ``mentions_col``: single-space
    split, empty tokens kept, so space runs cannot bridge a phrase.
    ``max_term_words`` defaults to the dictionary's own width via
    :func:`gazetteer_max_words`; explicit under-width raises."""
    width = gazetteer_max_words(gazetteer_df)
    if max_term_words is None:
        max_term_words = width
    elif max_term_words < width:
        raise ValueError(
            f"max_term_words={max_term_words} is below the gazetteer's "
            f"longest term ({width} words)"
        )
    words = F.split(F.lower(F.col("cleaned")), " ")

    def _gram_structs(n: int):
        return F.when(
            F.size(words) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(words) - n + 1),
                lambda i: F.struct(
                    F.array_join(F.slice(words, i, n), " ").alias(
                        "term"
                    ),
                    i.alias("pos"),
                    F.lit(n).alias("w"),
                ),
            ),
        ).otherwise(
            F.array().cast(
                "array<struct<term:string,pos:int,w:int>>"
            )
        )

    cand = sentences_df.select(
        "sentence_id",
        words.alias("__ws"),
        F.explode(
            F.flatten(
                F.array(
                    *[
                        _gram_structs(n)
                        for n in range(1, max_term_words + 1)
                    ]
                )
            )
        ).alias("g"),
    ).select(
        "sentence_id",
        "__ws",
        F.col("g.term").alias("term"),
        F.col("g.pos").alias("pos"),
        F.col("g.w").alias("w"),
    )
    dict_df = gazetteer_df.select(
        F.lower("term").alias("term"), "ner_label"
    ).dropDuplicates(["term", "ner_label"])
    left_start = F.greatest(F.col("pos") - window, F.lit(1))
    return (
        cand.join(F.broadcast(dict_df), "term")
        .select(
            "sentence_id",
            F.col("term").alias("label"),
            "ner_label",
            "pos",
            F.array_join(
                F.slice(
                    F.col("__ws"), left_start, F.col("pos") - left_start
                ),
                " ",
            ).alias("left_ctx"),
            F.array_join(
                F.slice(
                    F.col("__ws"),
                    F.col("pos") + F.col("w"),
                    F.lit(window),
                ),
                " ",
            ).alias("right_ctx"),
        )
    )
