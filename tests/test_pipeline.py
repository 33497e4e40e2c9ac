"""End-to-end pipeline tests incl. the P/R >= 0.95 harness: a pure-Python
reference-semantics re-implementation (straight from the kernels, driven
row-at-a-time like /root/reference/models/document.py:172-200 +
models/sentence.py:111-159) runs over the same synthetic input; the Spark
pipeline's output sentence set must match at precision/recall >= 0.95
(BASELINE.json).  In practice the match is exact (P = R = 1.0)."""

import pytest
from pyspark.sql import functions as F

from riksdagen_sentences_spark import semantics as S
from riksdagen_sentences_spark.ids import uuid5_py
from riksdagen_sentences_spark.kernels import (
    clean_sentence,
    clean_word_count,
    detect_language,
    extract_entities,
    is_accepted_token,
    normalize_token,
    pos_tag,
    sentenize_document,
    tokenize,
)
from riksdagen_sentences_spark.plans import pipeline as P
from riksdagen_sentences_spark.sources.synth import files_table


def reference_semantics_sentences(doc_rows):
    """Row-at-a-time oracle mirroring the reference's control flow."""
    out = set()
    for document_id, content in doc_rows:
        for sent in sentenize_document(content):
            cleaned = clean_sentence(sent)
            wc = clean_word_count(sent)
            if wc < 2:
                continue
            lang, score = detect_language(cleaned)
            if (
                wc > S.MIN_CLEAN_WORDS_EXCLUSIVE
                and lang in S.ACCEPTED_LANGUAGES
                and score >= S.MIN_LANG_SCORE
            ):
                out.add((sent, document_id, lang))
    return out


def reference_semantics_rawtokens(doc_rows):
    out = set()
    for document_id, content in doc_rows:
        for sent in sentenize_document(content):
            if clean_word_count(sent) < 2:
                continue
            lang, _ = detect_language(clean_sentence(sent))
            for tok in tokenize(sent):
                pos = pos_tag(tok)
                if is_accepted_token(tok, pos, lang):
                    out.add((tok, pos, lang))
    return out


@pytest.fixture(scope="module")
def files_df(spark):
    return files_table(spark, n_rows=300, seed=42).cache()


@pytest.fixture(scope="module")
def docs_df(files_df):
    return P.docs_from_files(files_df)


@pytest.fixture(scope="module")
def doc_rows(docs_df):
    return [(r["document_id"], r["content"]) for r in docs_df.collect()]


def test_files_table_deterministic(spark, files_df):
    again = files_table(spark, n_rows=300, seed=42)
    a = files_df.orderBy("repo", "path").collect()
    b = again.orderBy("repo", "path").collect()
    assert a == b


def test_content_sha256_invariant(spark, files_df, docs_df):
    """Per-row invariant vs the source table (BASELINE.json input_hint):
    the normalized docs frame preserves content sha256 exactly."""
    src = set(
        r[0]
        for r in files_df.select(F.sha2("content", 256)).collect()
    )
    dst = set(
        r[0] for r in docs_df.select(F.sha2("content", 256)).collect()
    )
    assert src == dst


def test_sentence_pr_vs_reference_semantics(spark, docs_df, doc_rows):
    expected = reference_semantics_sentences(doc_rows)
    got_rows = P.sentences(P.sentence_base(docs_df)).collect()
    got = {(r["text"], r["document_id"], r["lang"]) for r in got_rows}
    tp = len(got & expected)
    precision = tp / len(got) if got else 1.0
    recall = tp / len(expected) if expected else 1.0
    assert precision >= 0.95 and recall >= 0.95, (precision, recall)
    assert precision == 1.0 and recall == 1.0  # we aim for exact
    # deterministic uuid5 ids
    for r in got_rows:
        assert r["sentence_id"] == uuid5_py(
            "sentence", r["text"], r["document_id"], r["lang"]
        )


def test_rawtoken_pr_vs_reference_semantics(spark, docs_df, doc_rows):
    expected = reference_semantics_rawtokens(doc_rows)
    got_rows = P.rawtokens(P.token_base(P.sentence_base(docs_df))).collect()
    got = {(r["text"], r["postag"], r["lang"]) for r in got_rows}
    assert got == expected


def test_sentence_dedup_within_and_across_runs(spark, docs_df):
    sents = P.sentences(P.sentence_base(docs_df))
    n = sents.count()
    assert n == sents.dropDuplicates(["text", "document_id", "lang"]).count()
    # rerunning the lineage yields the identical id set (determinism)
    ids1 = {r["sentence_id"] for r in sents.select("sentence_id").collect()}
    ids2 = {
        r["sentence_id"]
        for r in P.sentences(P.sentence_base(docs_df))
        .select("sentence_id")
        .collect()
    }
    assert ids1 == ids2


def test_triples_preds_and_fk_integrity(spark, docs_df):
    t = P.triples(spark, docs_df).cache()
    preds = {r["pred"] for r in t.select("pred").distinct().collect()}
    assert preds == {
        S.PRED_PART_OF,
        S.PRED_HAS_TEXT,
        S.PRED_OCCURS_IN,
        S.PRED_NORMALIZES_TO,
        S.PRED_MENTIONS,
        S.PRED_LINKS_TO,
    }
    base = P.sentence_base(docs_df)
    sent_ids = {
        r["sentence_id"]
        for r in P.sentences(base).select("sentence_id").collect()
    }
    # occursIn objects are valid sentence ids
    occ = t.filter(F.col("pred") == S.PRED_OCCURS_IN).select("obj").collect()
    assert {r["obj"] for r in occ} <= sent_ids
    # mentions subjects are valid sentence ids
    men = t.filter(F.col("pred") == S.PRED_MENTIONS).select("subj").collect()
    assert {r["subj"] for r in men} <= sent_ids
    t.unpersist()


def test_entity_extraction_matches_kernel(spark, docs_df):
    sents = P.sentences(P.sentence_base(docs_df))
    rows = sents.select("sentence_id", "cleaned").collect()
    expected = set()
    for r in rows:
        for label, ner in extract_entities(r["cleaned"]):
            expected.add((r["sentence_id"], uuid5_py("entity", label, ner)))
    got = {
        (r["subj"], r["obj"])
        for r in P.mention_edges(sents).collect()
    }
    assert got == expected


def test_chunking_path_on_big_docs(spark):
    big = files_table(spark, n_rows=20, seed=7, big_doc_every=10)
    docs = P.docs_from_files(big)
    max_len = docs.select(F.max(F.length("content"))).first()[0]
    assert max_len > S.CHUNK_SIZE  # the chunking path is actually hit
    sents = P.sentences(P.sentence_base(docs))
    assert sents.count() > 0


def test_normalizesto_uses_normtoken_ids(spark, docs_df):
    toks = P.token_base(P.sentence_base(docs_df))
    norm_ids = {
        r["normtoken_id"]
        for r in P.normtokens(toks).select("normtoken_id").collect()
    }
    edges = P.normalizes_to_edges(toks).select("obj").collect()
    assert {r["obj"] for r in edges} <= norm_ids


def test_linksto_edges_match_dictionary(spark, docs_df):
    toks = P.token_base(P.sentence_base(docs_df))
    edges = P.links_to_edges(toks, spark).collect()
    lex_ids = {l[0] for l in S.LEXEME_DICTIONARY}
    assert len(edges) > 0
    assert {r["obj"] for r in edges} <= lex_ids
    # every linked rawtoken normalizes to the linked form in that language
    forms = {(l[0]): (l[1], l[2]) for l in S.LEXEME_DICTIONARY}
    acc = toks.filter(F.col("tok_accepted")).select(
        "raw", "pos", "lang", "norm"
    ).collect()
    by_id = {}
    for r in acc:
        by_id[uuid5_py("rawtoken", r["raw"], r["pos"], r["lang"])] = (
            r["norm"],
            r["lang"],
        )
    for e in edges:
        form, lang = forms[e["obj"]]
        assert by_id[e["subj"]] == (normalize_token(form), lang)


def test_langid_jvm_matches_kernel(spark, docs_df):
    """The JVM langid struct (columns.langid_struct_col) must give every
    sentence-base row exactly the (lang, score) of the pure-Python
    kernel on its cleaned text."""
    base = P.sentence_base(docs_df)
    rows = base.select("cleaned", "lang", "score").collect()
    assert len(rows) > 0
    for r in rows:
        assert (r["lang"], r["score"]) == detect_language(r["cleaned"]), r


def test_pr_harness_on_adversarial_corpus(spark):
    """P/R >= 0.95 on a larger, nastier corpus: chunking-size documents,
    duplicated sentences, hot repo, every edge-case bucket of the
    generator (north-rule correctness criterion at stress scale)."""
    files = files_table(
        spark, n_rows=800, seed=99, hot_fraction=0.4, big_doc_every=97
    )
    docs = P.docs_from_files(files)
    rows = [(r["document_id"], r["content"]) for r in docs.collect()]
    expected = reference_semantics_sentences(rows)
    got = {
        (r["text"], r["document_id"], r["lang"])
        for r in P.sentences(P.sentence_base(docs)).collect()
    }
    tp = len(got & expected)
    precision = tp / len(got) if got else 1.0
    recall = tp / len(expected) if expected else 1.0
    assert precision == 1.0 and recall == 1.0, (precision, recall)
    assert len(expected) > 1000


def test_sentence_rows_gated_matches_kernel(spark):
    """The length-gated sentenizer must equal the pure-Python kernel
    row-for-row, including >100k-char documents (chunk-backtrack path)
    and every synth edge case (TOC lines, HTML fragments, dup
    sentences)."""
    files = files_table(spark, n_rows=400, seed=23, big_doc_every=31)
    docs = P.docs_from_files(files)
    doc_rows = docs.collect()
    assert max(len(r["content"]) for r in doc_rows) > S.CHUNK_SIZE
    expected = sorted(
        (r["document_id"], i, sent)
        for r in doc_rows
        for i, sent in enumerate(sentenize_document(r["content"]))
    )
    gated = P.sentence_rows(docs)
    assert sorted(map(tuple, gated.collect())) == expected
    # the gated plan ships only the >CHUNK_SIZE giants to Python: the
    # sentenize UDF appears in exactly one (filtered) branch.  (The
    # synth generator itself is a pandas UDF, so count the sentenizer,
    # not ArrowEvalPython nodes.)
    plan = gated._jdf.queryExecution().executedPlan().toString()
    assert plan.count("_sentenize_udf") == 1


def test_mentions_jvm_matches_kernel(spark):
    """The JVM gazetteer matcher (columns.mentions_col) must be
    row-for-row identical to the pure-Python kernel on a corpus that
    exercises both the query-engine and Swedish gazetteer terms."""
    docs = P.docs_from_files(files_table(spark, n_rows=400, seed=11))
    sents = P.sentences(P.sentence_base(docs)).persist()
    rows = sents.select("sentence_id", "cleaned").collect()
    expected = sorted(
        {
            (r["sentence_id"], label, ner_label)
            for r in rows
            for label, ner_label in extract_entities(r["cleaned"])
        }
    )
    jvm = sorted(map(tuple, P.mention_rows(sents).collect()))
    sents.unpersist()
    assert jvm == expected
    assert len(jvm) > 0


def test_mention_join_path_matches_contains_path(spark):
    """Join-shaped gazetteer NER (mention_rows_join) must be
    row-identical to the contains-chain matcher on the demo dict, AND
    unchanged when the dict grows to 100k non-colliding synthetic terms
    - the dictionary-size-independence the contains chain lacks."""
    from riksdagen_sentences_spark.sources import dims
    from riksdagen_sentences_spark.sources.synth import files_table

    docs = P.docs_from_files(files_table(spark, n_rows=400, seed=11))
    sents = P.sentences(P.sentence_base(docs)).persist()
    contains = sorted(map(tuple, P.mention_rows(sents).collect()))
    joined = sorted(
        map(
            tuple,
            P.mention_rows_join(sents, dims.gazetteer(spark)).collect(),
        )
    )
    assert joined == contains
    assert len(joined) > 0
    big = P.mention_rows_join(
        sents, dims.synthetic_gazetteer(spark, 100_000)
    )
    assert sorted(map(tuple, big.collect())) == contains
    # scale shape: ONE broadcast hash join; the Contains() count is a
    # small constant from the sentence-cleaning lineage (TOC filter),
    # NOT one per dictionary term - 100k terms must not add any
    plan = big._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert plan.count("Contains(") <= 5
    sents.unpersist()


def test_mention_join_whole_word_and_multispace_semantics(spark):
    """The n-gram join must not bridge multi-space runs into phrase
    matches (contains-twin semantics) and must stay whole-word."""
    from riksdagen_sentences_spark.sources import dims

    sents = spark.createDataFrame(
        [
            ("s1", "the hash join wins"),      # phrase match
            ("s2", "hash  join doublespace"),  # NOT a phrase match
            ("s3", "rehash joint words"),      # no substring match
            ("s4", "spark"),                   # single-word sentence
        ],
        "sentence_id string, cleaned string",
    )
    got = {
        (r["sentence_id"], r["label"])
        for r in P.mention_rows_join(sents, dims.gazetteer(spark)).collect()
    }
    assert got == {("s1", "hash join"), ("s4", "spark")}


def test_mention_join_three_word_phrases_and_width_validator(spark):
    """max_term_words generalizes beyond bigrams, and
    gazetteer_max_words reports the width the caller must cover."""
    from riksdagen_sentences_spark.sources import dims

    gaz = spark.createDataFrame(
        [("sort merge join", "PRODUCT"), ("spark", "ORG")],
        "term string, ner_label string",
    )
    assert P.gazetteer_max_words(gaz) == 3
    assert P.gazetteer_max_words(dims.gazetteer(spark)) == 2
    sents = spark.createDataFrame(
        [("s1", "a sort merge join here"), ("s2", "sort merge only")],
        "sentence_id string, cleaned string",
    )
    got = {
        (r["sentence_id"], r["label"])
        for r in P.mention_rows_join(sents, gaz, max_term_words=3).collect()
    }
    assert got == {("s1", "sort merge join")}
    # an under-covering width is blind to the 3-word phrase (documented)
    narrow = P.mention_rows_join(sents, gaz, max_term_words=2)
    assert narrow.count() == 0


def test_mention_rows_dispatches_by_dictionary_size(spark):
    """The default entrypoint routes a small custom dict to the
    contains chain (no join in the plan) and a production-sized dict to
    the broadcast n-gram join, with identical rows either way; an
    explicit under-width max_term_words raises instead of going
    silently blind (round-5 close of the demo-dict-only default)."""
    import pytest

    from riksdagen_sentences_spark.sources import dims
    from riksdagen_sentences_spark.sources.synth import files_table

    docs = P.docs_from_files(files_table(spark, n_rows=300, seed=11))
    sents = P.sentences(P.sentence_base(docs)).persist()
    baseline = sorted(map(tuple, P.mention_rows(sents).collect()))

    small = P.mention_rows(sents, gazetteer=dims.gazetteer(spark))
    assert sorted(map(tuple, small.collect())) == baseline
    assert (
        "BroadcastHashJoin"
        not in small._jdf.queryExecution().executedPlan().toString()
    )

    big = P.mention_rows(
        sents, gazetteer=dims.synthetic_gazetteer(spark, 5_000)
    )
    assert sorted(map(tuple, big.collect())) == baseline
    assert (
        "BroadcastHashJoin"
        in big._jdf.queryExecution().executedPlan().toString()
    )

    # the dispatched width is derived from the dict (2 words); forcing
    # a narrower window must raise, not miss phrases
    with pytest.raises(ValueError, match="below the gazetteer"):
        P.mention_rows(
            sents,
            gazetteer=dims.synthetic_gazetteer(spark, 5_000),
            max_term_words=1,
        )
    sents.unpersist()


def test_triples_with_production_gazetteer_matches_demo_graph(spark):
    """triples(gazetteer=100k dict) == triples() - the dispatch wires
    the join matcher into the default graph build and the synthetic pad
    terms cannot match."""
    from riksdagen_sentences_spark.sources import dims
    from riksdagen_sentences_spark.sources.synth import files_table

    docs = P.docs_from_files(files_table(spark, n_rows=200, seed=7))
    base = sorted(
        map(tuple, P.triples(spark, docs, cache=False).collect())
    )
    via = sorted(
        map(
            tuple,
            P.triples(
                spark,
                docs,
                cache=False,
                gazetteer=dims.synthetic_gazetteer(spark, 5_000),
            ).collect(),
        )
    )
    assert via == base
