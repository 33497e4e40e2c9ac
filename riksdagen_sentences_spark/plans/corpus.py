"""Driver correctness corpus: Spark queries + generated DuckDB oracles.

Re-expression of the reference's 28-file analytical SQL corpus
(/root/reference/sql/*.sql) plus the pipeline tables themselves, over the
driver testdata (TESTDATA.md).  Every oracle SQL string is GENERATED from
the same ``semantics.py`` constants the Spark implementation uses, so the
two sides cannot drift independently.

Column names are aliased identically on both sides (driver hashes values
after sorting columns by name).  Doubles are always produced by the same
floor-based rounding on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .. import semantics as S
from ..functions import columns as C
from ..ids import uuid5_col, uuid5_sql
from ..sources import dims
from . import pipeline as P

# ---------------------------------------------------------------------------
# DuckDB SQL fragment generators (one per semantics rule)
# ---------------------------------------------------------------------------

TRIM_CHARS = "' ' || chr(9) || chr(10) || chr(13) || chr(11) || chr(12)"


def sql_clean_sentence(expr: str) -> str:
    """kernels.text.clean_sentence in DuckDB."""
    stripped = f"regexp_replace({expr}, '[!-/:-@\\[-`{{-~–]', '', 'g')"
    words = (
        f"list_filter(string_split_regex({stripped}, '[\\t\\n\\f\\r\\x0B ]+'), "
        f"w -> w <> '' AND NOT regexp_matches(w, '[0-9]'))"
    )
    # DuckDB's array_to_string([]) is NULL where Spark's array_join is ''
    return f"COALESCE(array_to_string({words}, ' '), '')"


def sql_word_count(cleaned: str) -> str:
    return (
        f"CASE WHEN {cleaned} = '' THEN 0 "
        f"ELSE len(string_split({cleaned}, ' ')) END"
    )


def sql_round_score(expr: str) -> str:
    return f"(floor(({expr}) * 100.0 + 0.5) / 100.0)"


def sql_langid_hits(cleaned: str) -> dict[str, str]:
    out = {}
    for lang, stop in S.LANGID_STOPWORDS.items():
        lst = ", ".join(f"'{w}'" for w in stop)
        out[lang] = (
            f"len(list_filter(string_split(lower({cleaned}), ' '), "
            f"w -> w IN ({lst})))"
        )
    return out


def sql_tri_hits(cleaned: str) -> dict[str, str]:
    """Char-trigram occurrence counts (kernels.langid fallback)."""
    out = {}
    for lang, tris in S.LANGID_TRIGRAMS.items():
        parts = [
            f"CAST((length(lower({cleaned})) - "
            f"length(replace(lower({cleaned}), '{t}', ''))) / 3 AS BIGINT)"
            for t in tris
        ]
        out[lang] = "(" + " + ".join(parts) + ")"
    return out


def sql_langid_select(cleaned: str) -> tuple[str, str]:
    """Return (lang_expr, score_expr) matching kernels.langid (stop-word
    scoring with char-trigram fallback)."""
    hits = sql_langid_hits(cleaned)
    total = "(" + " + ".join(hits.values()) + ")"
    mx = "greatest(" + ", ".join(hits.values()) + ")"
    tri = sql_tri_hits(cleaned)
    tri_total = "(" + " + ".join(tri.values()) + ")"
    tri_mx = "greatest(" + ", ".join(tri.values()) + ")"
    lang = f"CASE WHEN {cleaned} = '' THEN '{S.UND_LANG}' "
    for lg in S.LANGID_ORDER:
        lang += f"WHEN {total} > 0 AND {hits[lg]} = {mx} THEN '{lg}' "
    for lg in S.LANGID_ORDER:
        lang += (
            f"WHEN {total} <= 0 AND {tri_total} > 0 AND "
            f"{tri[lg]} = {tri_mx} THEN '{lg}' "
        )
    lang += f"ELSE '{S.UND_LANG}' END"
    score = (
        f"CASE WHEN {cleaned} = '' THEN 0.0 "
        f"WHEN {total} > 0 THEN "
        f"{sql_round_score(f'CAST({mx} AS DOUBLE) / {total}')} "
        f"WHEN {tri_total} > 0 THEN "
        f"{sql_round_score(f'CAST({tri_mx} AS DOUBLE) / {tri_total}')} "
        f"ELSE 0.0 END"
    )
    return lang, score


def sql_clean_token(raw: str) -> str:
    return (
        f"regexp_replace(trim(regexp_replace({raw}, '[\\r:,.()\\-/–]', '', "
        f"'g'), {TRIM_CHARS}), '[0-9]', '', 'g')"
    )


def sql_pos_tag(raw: str) -> str:
    closed = " ".join(
        f"WHEN '{w}' THEN '{t}'" for w, t in S.CLOSED_CLASS.items()
    )
    return (
        f"CASE WHEN trim({raw}, {TRIM_CHARS}) = '' THEN 'SPACE' "
        f"WHEN regexp_matches(trim({raw}, {TRIM_CHARS}), '[¶¤¥~$€|]') THEN 'SYM' "
        f"WHEN regexp_matches(trim({raw}, {TRIM_CHARS}), '^[!-/:-@\\[-`{{-~–]+$') "
        f"THEN 'PUNCT' "
        f"WHEN regexp_matches(trim({raw}, {TRIM_CHARS}), '[0-9]') THEN 'NUM' "
        f"ELSE (CASE lower(trim({raw}, {TRIM_CHARS})) {closed} ELSE 'NOUN' END) END"
    )


def sql_accepted_token(raw: str, pos: str, lang: str) -> str:
    tags = ", ".join(f"'{t}'" for t in S.UNACCEPTED_POSTAGS)
    langs = ", ".join(f"'{l}'" for l in S.ACCEPTED_LANGUAGES)
    return (
        f"({sql_clean_token(raw)} <> '' AND {pos} NOT IN ({tags}) "
        f"AND NOT regexp_matches({raw}, '[0-9]') "
        f"AND NOT regexp_matches({raw}, '[¶¤¥~$€|]') "
        f"AND {lang} IN ({langs}))"
    )


ACCEPT_LANGS_SQL = ", ".join(f"'{l}'" for l in S.ACCEPTED_LANGUAGES)


def planted_docs_values() -> str:
    rows = ", ".join(
        f"('{i}', '{t}')" for i, t in S.PLANTED_LANG_DOCS
    )
    return f"(VALUES {rows}) AS p(document_id, content)"


def sentence_ctes(
    doc_table: str = "documents", include_planted: bool = True
) -> str:
    """CTE chain documents -> sent_base (mirrors pipeline.sentence_base)
    -> sentences (mirrors pipeline.sentences).  The deterministic
    mixed-language fixture docs (semantics.PLANTED_LANG_DOCS) are
    appended to the document source exactly as ``_docs`` does on the
    Spark side, so the monolingual driver testdata still exercises the
    sv / cross-language / language-repair paths with real rows.
    ``include_planted=False`` skips that union for queries whose Spark
    side consumes a raw files/docs frame rather than ``_docs``."""
    cleaned = sql_clean_sentence("text")
    wc = sql_word_count("cleaned")
    lang, score = sql_langid_select("cleaned")
    sid = uuid5_sql("'sentence'", "text", "document_id", "lang")
    planted = (
        "\n  UNION ALL\n"
        f"  SELECT document_id, content FROM {planted_docs_values()}"
        if include_planted
        else ""
    )
    return f"""
__docs AS (
  SELECT CAST(doc_id AS VARCHAR) AS document_id, text AS content
  FROM {doc_table}{planted}
),
__toc AS (
  SELECT document_id,
         array_to_string(
           list_filter(string_split(content, chr(10)),
                       x -> NOT contains(x, '....')),
           chr(10)) AS t
  FROM __docs
),
__marked AS (
  SELECT document_id,
         string_split(
           regexp_replace(t, '([.!?])[\\t\\n\\f\\r\\x0B ]+', '\\1' || chr(1), 'g'),
           chr(1)) AS arr
  FROM __marked_src
),
__exploded AS (
  SELECT document_id,
         unnest(arr) AS part,
         unnest(range(0, len(arr))) AS sent_idx
  FROM __marked
),
__sent_raw AS (
  SELECT document_id, sent_idx,
         trim(part, {TRIM_CHARS}) AS text
  FROM __exploded
),
__sent_clean AS (
  SELECT document_id, sent_idx, text, {cleaned} AS cleaned
  FROM __sent_raw WHERE text <> ''
),
__sent_wc AS (
  SELECT *, {wc} AS word_count FROM __sent_clean
),
sent_base AS (
  SELECT document_id, sent_idx, text, cleaned, word_count,
         {lang} AS lang, {score} AS score
  FROM __sent_wc WHERE word_count >= 2
),
__sent_accepted AS (
  SELECT * FROM sent_base
  WHERE word_count > {S.MIN_CLEAN_WORDS_EXCLUSIVE}
    AND lang IN ({ACCEPT_LANGS_SQL})
    AND score >= {S.MIN_LANG_SCORE}
),
sentences AS (
  SELECT {sid} AS sentence_id, document_id, text,
         MIN(cleaned) AS cleaned, lang,
         MIN(score) AS score, MIN(word_count) AS word_count,
         MIN(sent_idx) AS sent_idx
  FROM __sent_accepted
  GROUP BY text, document_id, lang
)""".replace("__marked_src", "__toc")


def token_ctes() -> str:
    """CTE chain sent_base -> token_base (mirrors pipeline.token_base)."""
    pos = sql_pos_tag("raw")
    acc = sql_accepted_token("raw", "pos", "lang")
    sent_acc = (
        f"(word_count > {S.MIN_CLEAN_WORDS_EXCLUSIVE} "
        f"AND lang IN ({ACCEPT_LANGS_SQL}) AND score >= {S.MIN_LANG_SCORE})"
    )
    return f""",
__tok_exploded AS (
  SELECT document_id, sent_idx, text, lang, score, word_count,
         unnest(string_split_regex(text, '[\\t\\n\\f\\r\\x0B ]+')) AS raw,
         unnest(range(0, len(string_split_regex(text, '[\\t\\n\\f\\r\\x0B ]+')))) AS tok_idx
  FROM sent_base
),
__tok1 AS (
  SELECT * FROM __tok_exploded WHERE raw <> ''
),
token_base AS (
  SELECT *,
         {sql_clean_token('raw')} AS cleaned_tok,
         lower(trim(raw, {TRIM_CHARS})) AS norm,
         {pos} AS pos
  FROM __tok1
),
token_flags AS (
  SELECT *, {acc} AS tok_accepted, {sent_acc} AS sent_accepted
  FROM token_base
)"""


def gazetteer_values() -> str:
    rows = ", ".join(f"('{l}', '{n}')" for l, n in S.GAZETTEER)
    return f"(VALUES {rows}) AS g(label, ner_label)"


def lexeme_values() -> str:
    rows = ", ".join(
        f"('{i}', '{f}', '{l}', '{q}')" for i, f, l, q in S.LEXEME_DICTIONARY
    )
    return f"(VALUES {rows}) AS lex(lexeme_id, form, lang, category_qid)"


# ---------------------------------------------------------------------------
# Spark-side helpers
# ---------------------------------------------------------------------------


# Per-(session, sf_dir) memo of the persisted pipeline cut-points: the
# driver's correctness gate runs all queries against one session, and
# without this every query would re-run the sentenizer lineage.  Entries
# are keyed by applicationId (unique per SparkContext lifetime, never
# recycled the way ``id()`` can be after GC) so a stopped session's
# stale DataFrames are never served to a new context.
_FRAME_CACHE: dict = {}


def _memo(spark: SparkSession, sf_dir: str, kind: str, builder):
    key = (spark.sparkContext.applicationId, sf_dir, kind)
    if key not in _FRAME_CACHE:
        _FRAME_CACHE[key] = builder().persist()
    return _FRAME_CACHE[key]


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver documents + the deterministic mixed-language fixture docs
    (semantics.PLANTED_LANG_DOCS; the oracle twin is the UNION ALL in
    ``sentence_ctes``).  The planted side is a constant-size local
    relation - irrelevant at scale, it exists so the all-English driver
    testdata cannot green-light the language dimension vacuously."""
    planted = spark.createDataFrame(
        list(S.PLANTED_LANG_DOCS), "document_id string, content string"
    )
    return P.docs_from_documents(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    ).unionByName(planted)


def _base(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _memo(
        spark, sf_dir, "base",
        lambda: P.sentence_base(_docs(spark, sf_dir)),
    )


def _sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _memo(
        spark, sf_dir, "sentences",
        lambda: P.sentences(_base(spark, sf_dir)),
    )


def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _memo(
        spark, sf_dir, "tokens",
        lambda: P.token_base(_base(spark, sf_dir)),
    )


def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# The corpus
# ---------------------------------------------------------------------------

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def _register(name: str, fn, oracle: str | None = None) -> None:
    QUERIES[name] = fn
    if oracle is not None:
        ORACLES[name] = oracle


# -- pipeline tables --------------------------------------------------------

_register(
    "sentences",
    lambda spark, sf: _sentences(spark, sf).select(
        "sentence_id", "document_id", "text", "cleaned", "lang", "score",
        "word_count", "sent_idx",
    ),
    f"WITH {sentence_ctes()} SELECT sentence_id, document_id, text, "
    "cleaned, lang, score, word_count, sent_idx FROM sentences",
)

_register(
    "sentence_count_by_lang",
    lambda spark, sf: _sentences(spark, sf)
    .groupBy("lang")
    .agg(F.count("*").alias("sentence_count")),
    f"WITH {sentence_ctes()} SELECT lang, COUNT(*) AS sentence_count "
    "FROM sentences GROUP BY lang",
)

_register(
    "rawtokens",
    lambda spark, sf: P.rawtokens(_tokens(spark, sf)),
    f"WITH {sentence_ctes()}{token_ctes()} "
    f"SELECT {uuid5_sql(chr(39) + 'rawtoken' + chr(39), 'text', 'pos', 'lang')} "
    "AS rawtoken_id, text, pos AS postag, lang, MIN(score) AS score "
    "FROM (SELECT raw AS text, pos, lang, score FROM token_flags "
    "WHERE tok_accepted) GROUP BY text, pos, lang",
)

_register(
    "normtokens",
    lambda spark, sf: P.normtokens(_tokens(spark, sf)),
    f"WITH {sentence_ctes()}{token_ctes()} "
    f"SELECT {uuid5_sql(chr(39) + 'normtoken' + chr(39), 'text')} AS "
    "normtoken_id, text FROM (SELECT DISTINCT norm AS text FROM "
    "token_flags WHERE tok_accepted)",
)

_register(
    "entities",
    lambda spark, sf: P.entities(_sentences(spark, sf)),
    f"WITH {sentence_ctes()} "
    f"SELECT {uuid5_sql(chr(39) + 'entity' + chr(39), 'label', 'ner_label')} "
    "AS entity_id, label, ner_label FROM (SELECT DISTINCT g.label, "
    f"g.ner_label FROM sentences s, {gazetteer_values()} "
    "WHERE contains(' ' || lower(s.cleaned) || ' ', ' ' || g.label || ' '))",
)

_register(
    "mention_edges",
    lambda spark, sf: P.mention_edges(_sentences(spark, sf)),
    f"WITH {sentence_ctes()} "
    "SELECT subj, pred, "
    f"{uuid5_sql(chr(39) + 'entity' + chr(39), 'label', 'ner_label')} AS obj "
    f"FROM (SELECT DISTINCT s.sentence_id AS subj, "
    f"'{S.PRED_MENTIONS}' AS pred, g.label, g.ner_label "
    f"FROM sentences s, {gazetteer_values()} "
    "WHERE contains(' ' || lower(s.cleaned) || ' ', ' ' || g.label || ' '))",
)

_SID_FROM_TOK = uuid5_sql(
    chr(39) + "sentence" + chr(39), "text", "document_id", "lang"
)
_RID_FROM_TOK = uuid5_sql(chr(39) + "rawtoken" + chr(39), "raw", "pos", "lang")
_RID_FROM_TOK_Q = uuid5_sql(
    chr(39) + "rawtoken" + chr(39), "t.raw", "t.pos", "t.lang"
)

_register(
    "occursin_edges",
    lambda spark, sf: P.occurs_in_edges(_tokens(spark, sf)),
    f"WITH {sentence_ctes()}{token_ctes()} "
    f"SELECT DISTINCT {_RID_FROM_TOK} AS subj, '{S.PRED_OCCURS_IN}' AS pred, "
    f"{_SID_FROM_TOK} AS obj FROM token_flags "
    "WHERE tok_accepted AND sent_accepted",
)

_register(
    "normalizesto_edges",
    lambda spark, sf: P.normalizes_to_edges(_tokens(spark, sf)),
    f"WITH {sentence_ctes()}{token_ctes()} "
    f"SELECT DISTINCT {_RID_FROM_TOK} AS subj, "
    f"'{S.PRED_NORMALIZES_TO}' AS pred, "
    f"{uuid5_sql(chr(39) + 'normtoken' + chr(39), 'norm')} AS obj "
    "FROM token_flags WHERE tok_accepted",
)

_register(
    "partof_edges",
    lambda spark, sf: P.part_of_edges(_sentences(spark, sf)),
    f"WITH {sentence_ctes()} SELECT sentence_id AS subj, "
    f"'{S.PRED_PART_OF}' AS pred, document_id AS obj FROM sentences",
)

_register(
    "hastext_edges",
    lambda spark, sf: P.has_text_edges(_sentences(spark, sf)),
    f"WITH {sentence_ctes()} SELECT sentence_id AS subj, "
    f"'{S.PRED_HAS_TEXT}' AS pred, cleaned AS obj FROM sentences",
)

_register(
    "linksto_edges",
    lambda spark, sf: P.links_to_edges(_tokens(spark, sf), spark),
    f"WITH {sentence_ctes()}{token_ctes()} "
    f"SELECT DISTINCT {_RID_FROM_TOK_Q} AS subj, '{S.PRED_LINKS_TO}' AS pred, "
    f"lex.lexeme_id AS obj FROM token_flags t, {lexeme_values()} "
    "WHERE t.tok_accepted AND t.norm = lex.form AND t.lang = lex.lang",
)

# The six-branch full-graph union (oracle twin of pipeline.triples),
# shared by triples_by_pred and the dedup-aware graph query.
_GRAPH_UNION_SQL = (
    f"SELECT sentence_id AS subj, '{S.PRED_PART_OF}' AS pred, "
    "document_id AS obj FROM sentences "
    f"UNION ALL SELECT sentence_id, '{S.PRED_HAS_TEXT}', cleaned "
    "FROM sentences "
    f"UNION ALL SELECT DISTINCT {_RID_FROM_TOK}, '{S.PRED_OCCURS_IN}', "
    f"{_SID_FROM_TOK} FROM token_flags WHERE tok_accepted AND sent_accepted "
    f"UNION ALL SELECT DISTINCT {_RID_FROM_TOK}, '{S.PRED_NORMALIZES_TO}', "
    f"{uuid5_sql(chr(39) + 'normtoken' + chr(39), 'norm')} "
    "FROM token_flags WHERE tok_accepted "
    "UNION ALL SELECT subj, pred, "
    f"{uuid5_sql(chr(39) + 'entity' + chr(39), 'label', 'ner_label')} "
    f"FROM (SELECT DISTINCT s.sentence_id AS subj, '{S.PRED_MENTIONS}' AS "
    f"pred, g.label, g.ner_label FROM sentences s, {gazetteer_values()} "
    "WHERE contains(' ' || lower(s.cleaned) || ' ', ' ' || g.label || ' ')) "
    f"UNION ALL SELECT DISTINCT {_RID_FROM_TOK_Q}, '{S.PRED_LINKS_TO}', "
    f"lex.lexeme_id FROM token_flags t, {lexeme_values()} "
    "WHERE t.tok_accepted AND t.norm = lex.form AND t.lang = lex.lang"
)

_register(
    "triples_by_pred",
    lambda spark, sf: P.triples(spark, _docs(spark, sf))
    .groupBy("pred")
    .agg(F.count("*").alias("n")),
    f"WITH {sentence_ctes()}{token_ctes()} "
    "SELECT pred, COUNT(*) AS n FROM ("
    f"{_GRAPH_UNION_SQL}"
    ") GROUP BY pred",
)


def _dup_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic north-rule files table with PLANTED CONTENT
    DUPLICATION: every driver document appears at three commits under
    the same (repo, path) - the cross-commit redundancy profile of a
    real code-repo corpus, where a file unchanged across commits
    repeats its bytes verbatim.  Input fixture for the dedup-aware
    graph build (pipeline.triples_dedup); the DuckDB twin mirrors this
    construction row for row."""
    commits = spark.createDataFrame(
        [("c0",), ("c1",), ("c2",)], "commit string"
    )
    return (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .crossJoin(F.broadcast(commits))
        .select(
            F.concat(
                F.lit("repo-"), (F.col("doc_id") % 7).cast("string")
            ).alias("repo"),
            F.concat(
                F.lit("src/"), F.col("doc_id").cast("string"), F.lit(".txt")
            ).alias("path"),
            "commit",
            F.lit("text").alias("lang"),
            F.col("text").alias("content"),
        )
    )


def _dup_files_sql(commits: tuple = ("c0", "c1", "c2")) -> str:
    vals = ", ".join(f"('{c}')" for c in commits)
    return (
        "SELECT 'repo-' || CAST(doc_id % 7 AS VARCHAR) AS repo, "
        "'src/' || CAST(doc_id AS VARCHAR) || '.txt' AS path, "
        f"c.commit, text AS content "
        f"FROM documents, (VALUES {vals}) AS c(commit)"
    )


_DUP_FILES_SQL = _dup_files_sql()


def _dup_graph_sql(commits: tuple = ("c0", "c1", "c2")) -> str:
    """From-scratch six-predicate graph SQL over the duplicated files
    view restricted to ``commits``."""
    return (
        "WITH __dup_files AS ("
        f"{_dup_files_sql(commits)}"
        "), __dup_src AS ("
        f"SELECT {uuid5_sql(chr(39) + 'document' + chr(39), 'repo', 'path', 'commit')} "
        "AS doc_id, content AS text FROM __dup_files"
        f"),{sentence_ctes('__dup_src', include_planted=False)}{token_ctes()} "
        f"SELECT subj, pred, obj FROM ({_GRAPH_UNION_SQL})"
    )


_register(
    "triples_dedup_graph",
    lambda spark, sf: P.triples_dedup(spark, _dup_files(spark, sf)),
    _dup_graph_sql(),
)


_DELTA_MEMO: dict = {}


def _delta_assembled(spark: SparkSession, sf: str) -> DataFrame:
    """The INCREMENTAL build (plans/delta.py) of the same duplicated
    corpus: commits c0+c1 land as batch 1, c2 as batch 2 (its files are
    pure cross-commit content reuse, so batch 2 runs ZERO kernel work),
    then assemble_graph re-binds the stored skeletons.  The oracle is
    the identical from-scratch SQL as triples_dedup_graph - the store
    round-trip must be invisible in the row set."""
    import tempfile

    from . import delta as DL

    key = (spark.sparkContext.applicationId, sf)
    if key not in _DELTA_MEMO:
        store = tempfile.mkdtemp(prefix="sgraft_delta_store_")
        files = _dup_files(spark, sf)
        c1 = DL.update_graph(
            spark, store, files.filter(F.col("commit") != "c2")
        )
        DL.update_graph(spark, store, files.filter(F.col("commit") == "c2"))
        _DELTA_MEMO[key] = (store, c1["batch_id"])
    return DL.assemble_graph(spark, _DELTA_MEMO[key][0])


_register(
    "triples_delta_graph",
    _delta_assembled,
    ORACLES["triples_dedup_graph"],
)


def _delta_graph_asof_batch1(spark: SparkSession, sf: str) -> DataFrame:
    """Snapshot read AS OF the first applied batch (commits c0+c1): the
    Iceberg time-travel analog on the delta STORE - assemble_graph
    restricted to a committed batch-id subset must equal the
    from-scratch build over exactly that batch's files, with batch 2's
    rows invisible."""
    from . import delta as DL

    _delta_assembled(spark, sf)  # ensure the store exists
    store, batch1 = _DELTA_MEMO[(spark.sparkContext.applicationId, sf)]
    return DL.assemble_graph(spark, store, as_of_batches=[batch1])


_register(
    "delta_graph_asof_batch1",
    _delta_graph_asof_batch1,
    _dup_graph_sql(("c0", "c1")),
)


def _delta_batch2_added(spark: SparkSession, sf: str) -> DataFrame:
    """Snapshot DIFF: the triples batch 2 (commit c2) added - the
    full assembly minus the as-of-batch-1 assembly (exceptAll keeps
    multiset semantics; here all added rows are distinct because c2's
    document ids hash the commit).  Exactly the c2 documents'
    doc-dependent edges: content-only edges dedup across batches and
    contribute nothing, which is the whole point of the
    content-addressed store."""
    full = _delta_assembled(spark, sf)
    return full.exceptAll(_delta_graph_asof_batch1(spark, sf))


_register(
    "delta_batch2_added_triples",
    _delta_batch2_added,
    f"({_dup_graph_sql()}) EXCEPT ALL ({_dup_graph_sql(('c0', 'c1'))})",
)


# ---------------------------------------------------------------------------
# Reference SQL-corpus analogues (the 28 hand-written queries in
# /root/reference/sql/*.sql, re-expressed over the graph tables).
# On the driver testdata the dominant detected language is 'en', so each
# language-parameterized query runs both the faithful 'sv' variant's
# semantics and an 'en' instance that actually carries rows.
# ---------------------------------------------------------------------------


def _sentences_lang(spark, sf, iso):
    return (
        _sentences(spark, sf)
        .filter(F.col("lang") == iso)
        .agg(F.count("*").alias("n"))
    )


# count_sv_sentences.sql:1-4
_register(
    "count_sentences_sv",
    lambda spark, sf: _sentences_lang(spark, sf, "sv"),
    f"WITH {sentence_ctes()} SELECT COUNT(*) AS n FROM sentences "
    "WHERE lang = 'sv'",
)
_register(
    "count_sentences_en",
    lambda spark, sf: _sentences_lang(spark, sf, "en"),
    f"WITH {sentence_ctes()} SELECT COUNT(*) AS n FROM sentences "
    "WHERE lang = 'en'",
)

# count_sv_sentences_with_score_above_0.7.sql:1-5 (Q5 range predicate)
_register(
    "count_sentences_score_above_0_7",
    lambda spark, sf: _sentences(spark, sf)
    .filter(F.col("score") > 0.7)
    .agg(F.count("*").alias("n")),
    f"WITH {sentence_ctes()} SELECT COUNT(*) AS n FROM sentences "
    "WHERE score > 0.7",
)

# all_swedish_sentences_with_entities.sql:1-9 (Q1 5-way join)
_register(
    "sentences_with_entities",
    lambda spark, sf: P.mention_edges(_sentences(spark, sf))
    .join(
        _sentences(spark, sf).select(
            F.col("sentence_id").alias("subj"), "text", "lang"
        ),
        "subj",
    )
    .select(
        F.col("subj").alias("sentence_id"),
        "text",
        "lang",
        F.col("obj").alias("entity_id"),
    ),
    f"WITH {sentence_ctes()} "
    "SELECT m.subj AS sentence_id, s.text AS text, s.lang AS lang, "
    f"{uuid5_sql(chr(39) + 'entity' + chr(39), 'label', 'ner_label')} AS "
    "entity_id FROM (SELECT DISTINCT s2.sentence_id AS subj, g.label, "
    f"g.ner_label FROM sentences s2, {gazetteer_values()} "
    "WHERE contains(' ' || lower(s2.cleaned) || ' ', "
    "' ' || g.label || ' ')) m JOIN sentences s ON s.sentence_id = m.subj",
)

# all_swedish_sentences_with_entities_count.sql:1-8 (Q10 groupBy)
_register(
    "sentence_entity_counts",
    lambda spark, sf: P.mention_edges(_sentences(spark, sf))
    .groupBy(F.col("subj").alias("sentence_id"))
    .agg(F.count("*").alias("entity_count")),
    f"WITH {sentence_ctes()} "
    "SELECT subj AS sentence_id, COUNT(*) AS entity_count FROM "
    "(SELECT DISTINCT s.sentence_id AS subj, g.label, g.ner_label "
    f"FROM sentences s, {gazetteer_values()} "
    "WHERE contains(' ' || lower(s.cleaned) || ' ', "
    "' ' || g.label || ' ')) GROUP BY subj",
)

# average_of_entities_for_swedish_sentences_with_at_least_one_entity.sql
# (Q12 nested aggregate)
_register(
    "avg_entities_per_sentence",
    lambda spark, sf: P.mention_edges(_sentences(spark, sf))
    .groupBy("subj")
    .agg(F.count("*").alias("c"))
    .agg(
        (
            F.floor(
                F.avg("c") * 10000.0 + F.lit(0.5)
            )
            / 10000.0
        ).alias("avg_entities")
    ),
    f"WITH {sentence_ctes()} "
    "SELECT floor(AVG(c) * 10000.0 + 0.5) / 10000.0 AS avg_entities FROM "
    "(SELECT subj, COUNT(*) AS c FROM (SELECT DISTINCT s.sentence_id AS "
    f"subj, g.label, g.ner_label FROM sentences s, {gazetteer_values()} "
    "WHERE contains(' ' || lower(s.cleaned) || ' ', "
    "' ' || g.label || ' ')) GROUP BY subj)",
)

# count_entities_in_sv_sentences_group_by_label.sql:1-9 (Q10 + Q13)
_register(
    "entity_mention_counts_by_ner_label",
    lambda spark, sf: P.mention_edges(_sentences(spark, sf))
    .join(
        P.entities(_sentences(spark, sf)).select(
            F.col("entity_id").alias("obj"), "ner_label"
        ),
        "obj",
    )
    .groupBy("ner_label")
    .agg(F.count("*").alias("entity_count")),
    f"WITH {sentence_ctes()} "
    "SELECT ner_label, COUNT(*) AS entity_count FROM "
    "(SELECT DISTINCT s.sentence_id, g.label, g.ner_label "
    f"FROM sentences s, {gazetteer_values()} "
    "WHERE contains(' ' || lower(s.cleaned) || ' ', "
    "' ' || g.label || ' ')) GROUP BY ner_label",
)

# all_unique_entities_per_document.sql:1-8 (Q11 group-by-as-distinct)
_register(
    "unique_entities_per_document",
    lambda spark, sf: P.mention_edges(_sentences(spark, sf))
    .join(
        _sentences(spark, sf).select(
            F.col("sentence_id").alias("subj"), "document_id"
        ),
        "subj",
    )
    .select("document_id", F.col("obj").alias("entity_id"))
    .dropDuplicates(["document_id", "entity_id"]),
    f"WITH {sentence_ctes()} "
    "SELECT DISTINCT s.document_id AS document_id, "
    f"{uuid5_sql(chr(39) + 'entity' + chr(39), 'label', 'ner_label')} AS "
    f"entity_id FROM sentences s, {gazetteer_values()} "
    "WHERE contains(' ' || lower(s.cleaned) || ' ', "
    "' ' || g.label || ' ')",
)

# entities_count_per_documents.sql:1-7 (Q9 COUNT DISTINCT)
_register(
    "entity_counts_per_document",
    lambda spark, sf: P.mention_edges(_sentences(spark, sf))
    .join(
        _sentences(spark, sf).select(
            F.col("sentence_id").alias("subj"), "document_id"
        ),
        "subj",
    )
    .groupBy("document_id")
    .agg(F.countDistinct("obj").alias("entity_count")),
    f"WITH {sentence_ctes()} "
    "SELECT document_id, COUNT(DISTINCT entity_id) AS entity_count FROM ("
    "SELECT s.document_id AS document_id, "
    f"{uuid5_sql(chr(39) + 'entity' + chr(39), 'label', 'ner_label')} AS "
    f"entity_id FROM sentences s, {gazetteer_values()} "
    "WHERE contains(' ' || lower(s.cleaned) || ' ', "
    "' ' || g.label || ' ')) GROUP BY document_id",
)

# all_swedish_rawtokens_and_normtokens_with_score_above_0.7.sql (Q1 6-way)
_register(
    "rawtokens_with_normtokens_high_score",
    lambda spark, sf: (
        lambda toks: P.rawtokens(toks)
        .filter(F.col("score") > 0.7)
        .join(
            P.normalizes_to_edges(toks).select(
                F.col("subj").alias("rawtoken_id"),
                F.col("obj").alias("normtoken_id"),
            ),
            "rawtoken_id",
        )
        .join(P.normtokens(toks).withColumnRenamed("text", "norm_text"),
              "normtoken_id")
        .select("rawtoken_id", "text", "postag", "lang", "score",
                "norm_text")
    )(_tokens(spark, sf)),
    f"WITH {sentence_ctes()}{token_ctes()}, "
    "rt AS (SELECT "
    f"{uuid5_sql(chr(39) + 'rawtoken' + chr(39), 'text', 'pos', 'lang')} "
    "AS rawtoken_id, text, pos AS postag, lang, MIN(score) AS score "
    "FROM (SELECT raw AS text, pos, lang, score FROM token_flags WHERE "
    "tok_accepted) GROUP BY text, pos, lang), "
    f"n2r AS (SELECT DISTINCT {_RID_FROM_TOK} AS rawtoken_id, "
    f"{uuid5_sql(chr(39) + 'normtoken' + chr(39), 'norm')} AS "
    "normtoken_id, norm AS norm_text FROM token_flags WHERE tok_accepted) "
    "SELECT rt.rawtoken_id AS rawtoken_id, rt.text AS text, rt.postag AS "
    "postag, rt.lang AS lang, rt.score AS score, n2r.norm_text AS "
    "norm_text FROM rt JOIN n2r ON rt.rawtoken_id = n2r.rawtoken_id "
    "WHERE rt.score > 0.7",
)

# count_sv_rawtoken_links_by_category.sql:1-8 (Q10 + broadcast dim join)
_register(
    "rawtoken_counts_by_category",
    lambda spark, sf: P.rawtokens(_tokens(spark, sf))
    .groupBy("postag")
    .agg(F.count("*").alias("n")),
    f"WITH {sentence_ctes()}{token_ctes()} "
    "SELECT postag, COUNT(*) AS n FROM (SELECT DISTINCT raw AS text, pos "
    "AS postag, lang FROM token_flags WHERE tok_accepted) GROUP BY postag",
)

# count_tokens_with_garbage_chars.sql:1-3 (Q7) - rawtokens exclude
# garbage by construction, so this audits the *candidate* token stream.
_register(
    "count_tokens_with_garbage_chars",
    lambda spark, sf: _tokens(spark, sf)
    .filter(F.col("raw").rlike(r"[¥¶]"))
    .agg(F.count("*").alias("n")),
    f"WITH {sentence_ctes()}{token_ctes()} "
    "SELECT COUNT(*) AS n FROM token_flags "
    "WHERE regexp_matches(raw, '[¥¶]')",
)

# count_language_id_mismatches.sql:1-8 + delete_language_mismatches_
# between_rawtoken_and_sentence.sql:1-11 (Q2/Q16).  The engine's
# invariant (token language IS the sentence language) makes organic
# mismatches impossible, so - like the reference, whose repair exists
# because legacy data contains them - the audit and repair run over the
# real occursIn edge set UNION one deterministic simulated pre-repair
# dirty edge (semantics.LEGACY_MISMATCH_*: the sv 'riksdagen' rawtoken
# linked to mixed_planted_0's en sentence).  The repair reproduces the
# reference's full cascade: EVERY edge of a rawtoken with ANY
# mismatched link is deleted, so the sv token's legitimate sv links go
# too and the output is strictly smaller than both the dirty and the
# clean edge sets.


def _dirty_occursin(spark, sf):
    toks = _tokens(spark, sf)
    edges = P.occurs_in_edges(toks).select("subj", "obj")
    tok_text, tok_lang = S.LEGACY_MISMATCH_RAWTOKEN
    legacy = (
        P.rawtokens(toks)
        .filter(
            (F.col("lang") == tok_lang) & (F.col("text") == tok_text)
        )
        .select(F.col("rawtoken_id").alias("subj"))
        .crossJoin(
            _sentences(spark, sf)
            .filter(
                (F.col("document_id") == S.LEGACY_MISMATCH_DOC)
                & (F.col("lang") == "en")
            )
            .select(F.col("sentence_id").alias("obj"))
        )
    )
    return edges.unionByName(legacy)


def _mismatched_rawtokens(spark, sf, dirty):
    toks = _tokens(spark, sf)
    rt_lang = P.rawtokens(toks).select(
        F.col("rawtoken_id").alias("subj"), F.col("lang").alias("rt_lang")
    )
    s_lang = _sentences(spark, sf).select(
        F.col("sentence_id").alias("obj"), F.col("lang").alias("s_lang")
    )
    return (
        dirty.join(rt_lang, "subj")
        .join(s_lang, "obj")
        .filter(F.col("rt_lang") != F.col("s_lang"))
    )


_DIRTY_SQL = (
    "rt_keys AS (SELECT DISTINCT raw AS text, pos, lang FROM token_flags "
    "WHERE tok_accepted), "
    "rt AS (SELECT "
    f"{uuid5_sql(chr(39) + 'rawtoken' + chr(39), 'text', 'pos', 'lang')} "
    "AS rawtoken_id, text, lang FROM rt_keys), "
    f"edges AS (SELECT DISTINCT {_RID_FROM_TOK} AS subj, {_SID_FROM_TOK} "
    "AS obj FROM token_flags WHERE tok_accepted AND sent_accepted), "
    "legacy AS (SELECT rt.rawtoken_id AS subj, s.sentence_id AS obj "
    "FROM rt, sentences s WHERE rt.lang = "
    f"'{S.LEGACY_MISMATCH_RAWTOKEN[1]}' AND rt.text = "
    f"'{S.LEGACY_MISMATCH_RAWTOKEN[0]}' AND s.document_id = "
    f"'{S.LEGACY_MISMATCH_DOC}' AND s.lang = 'en'), "
    "dirty AS (SELECT subj, obj FROM edges "
    "UNION ALL SELECT subj, obj FROM legacy), "
    "mism AS (SELECT d.subj, d.obj FROM dirty d "
    "JOIN rt ON d.subj = rt.rawtoken_id "
    "JOIN sentences s ON d.obj = s.sentence_id "
    "WHERE rt.lang <> s.lang)"
)

_register(
    "count_language_id_mismatches",
    lambda spark, sf: _mismatched_rawtokens(
        spark, sf, _dirty_occursin(spark, sf)
    ).agg(F.count("*").alias("mismatch_count")),
    f"WITH {sentence_ctes()}{token_ctes()}, {_DIRTY_SQL} "
    "SELECT COUNT(*) AS mismatch_count FROM mism",
)

_register(
    "occursin_after_language_repair",
    lambda spark, sf: (
        lambda dirty: dirty.join(
            _mismatched_rawtokens(spark, sf, dirty)
            .select("subj")
            .distinct(),
            "subj",
            "left_anti",
        ).agg(F.count("*").alias("n"))
    )(_dirty_occursin(spark, sf)),
    f"WITH {sentence_ctes()}{token_ctes()}, {_DIRTY_SQL} "
    "SELECT COUNT(*) AS n FROM dirty "
    "WHERE subj NOT IN (SELECT subj FROM mism)",
)


# ---------------------------------------------------------------------------
# Lookup serving surface (A1-A3, reference models/api/__init__.py) with
# deterministic tiebreak + OFFSET pagination (Q14/Q20)
# ---------------------------------------------------------------------------

from . import lookup as L  # noqa: E402


def _lookup_page_sql(where: str, limit: int, offset: int) -> str:
    return (
        f"WITH {sentence_ctes()}{token_ctes()} "
        "SELECT sentence_id, text, lang, n_chars FROM ("
        "SELECT s.sentence_id AS sentence_id, s.text AS text, "
        "s.lang AS lang, length(s.text) AS n_chars FROM sentences s "
        f"{where}) ORDER BY n_chars ASC, sentence_id ASC "
        f"LIMIT {limit} OFFSET {offset}"
    )


_register(
    "lookup_simple_token",
    lambda spark, sf: L.lookup_sentences(
        spark, _docs(spark, sf), "scan", "Q1084", "en", limit=20, offset=5
    ),
    _lookup_page_sql(
        "WHERE s.sentence_id IN (SELECT DISTINCT "
        + _SID_FROM_TOK
        + " FROM token_flags WHERE tok_accepted AND sent_accepted "
        "AND raw = 'scan' AND pos IN (SELECT unnest(['NOUN','X'])) "
        "AND lang = 'en')",
        20,
        5,
    ),
)

_register(
    "lookup_compound_token",
    lambda spark, sf: L.lookup_sentences(
        spark, _docs(spark, sf), "table scan", "Q1084", "en",
        limit=20, offset=0,
    ),
    _lookup_page_sql(
        "WHERE s.lang = 'en' AND contains(lower(s.text), 'table scan')",
        20,
        0,
    ),
)

_register(
    "lookup_count",
    lambda spark, sf: L.lookup_count(
        spark, _docs(spark, sf), "scan", "Q1084", "en"
    ),
    f"WITH {sentence_ctes()}{token_ctes()} "
    "SELECT COUNT(*) AS total FROM sentences s WHERE s.sentence_id IN "
    f"(SELECT DISTINCT {_SID_FROM_TOK} FROM token_flags "
    "WHERE tok_accepted AND sent_accepted AND raw = 'scan' "
    "AND pos IN (SELECT unnest(['NOUN','X'])) AND lang = 'en')",
)


# ---------------------------------------------------------------------------
# Relational operator corpus over the TPC-H-ish driver tables (the
# reference's SQL surface is plain joins/aggregates - Q1-Q20 in SURVEY
# §2.5; exercised here on fact tables big enough to matter).
# Double aggregation goes through DECIMAL(18,2) on BOTH sides so sums are
# exact and order-independent.
# ---------------------------------------------------------------------------

_DEC = "decimal(18,2)"


_register(
    "orders_priority_counts",
    lambda spark, sf: _read(spark, sf, "orders")
    .groupBy("o_orderpriority")
    .agg(F.count("*").alias("n")),
    "SELECT o_orderpriority, COUNT(*) AS n FROM orders "
    "GROUP BY o_orderpriority",
)

_register(
    "lineitem_pricing_summary",
    lambda spark, sf: _read(spark, sf, "lineitem")
    .groupBy("l_returnflag", "l_linestatus")
    .agg(
        F.sum(F.col("l_quantity").cast(_DEC)).cast("double").alias(
            "sum_qty"
        ),
        F.sum(F.col("l_extendedprice").cast(_DEC)).cast("double").alias(
            "sum_base_price"
        ),
        F.sum(
            F.col("l_extendedprice").cast(_DEC)
            * (F.lit(1).cast(_DEC) - F.col("l_discount").cast(_DEC))
        ).cast("double").alias("sum_disc_price"),
        F.count("*").alias("count_order"),
    ),
    "SELECT l_returnflag, l_linestatus, "
    "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, "
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) "
    "AS sum_base_price, "
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * "
    "(CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) "
    "AS DOUBLE) AS sum_disc_price, "
    "COUNT(*) AS count_order "
    "FROM lineitem GROUP BY l_returnflag, l_linestatus",
)

_register(
    "revenue_by_nation",
    lambda spark, sf: _read(spark, sf, "lineitem")
    .join(
        _read(spark, sf, "orders").select("o_orderkey", "o_custkey"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    )
    .join(
        _read(spark, sf, "customer").select("c_custkey", "c_nationkey"),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    .join(
        F.broadcast(_read(spark, sf, "nation")),
        F.col("c_nationkey") == F.col("n_nationkey"),
    )
    .groupBy("n_name")
    .agg(
        F.sum(
            F.col("l_extendedprice").cast(_DEC)
            * (F.lit(1).cast(_DEC) - F.col("l_discount").cast(_DEC))
        ).cast("double").alias("revenue")
    ),
    "SELECT n_name, CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * "
    "(CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS "
    "DOUBLE) AS revenue "
    "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
    "JOIN customer ON o_custkey = c_custkey "
    "JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name",
)

# Every sf0.01 customer has at least one order, so the plain anti-join
# is vacuously green (0 = 0 rows).  Both sides therefore union in the
# same deterministic order-less "prospect" customers (every 100th
# custkey re-appears under custkey + 1_000_000): the anti-join output is
# non-empty AND still proves the join filters all 1500 real customers.
def _customers_with_prospects(spark, sf):
    c = _read(spark, sf, "customer").select("c_custkey", "c_name")
    prospects = c.filter(F.col("c_custkey") % 100 == 0).select(
        (F.col("c_custkey") + F.lit(1_000_000)).alias("c_custkey"),
        F.concat(F.lit("prospect of "), F.col("c_name")).alias("c_name"),
    )
    return c.unionByName(prospects)


_register(
    "customers_without_orders",
    lambda spark, sf: _customers_with_prospects(spark, sf)
    .join(
        _read(spark, sf, "orders").select("o_custkey"),
        F.col("c_custkey") == F.col("o_custkey"),
        "left_anti",
    )
    .select("c_custkey", "c_name"),
    "WITH cust2 AS (SELECT c_custkey, c_name FROM customer UNION ALL "
    "SELECT c_custkey + 1000000 AS c_custkey, "
    "'prospect of ' || c_name AS c_name FROM customer "
    "WHERE c_custkey % 100 = 0) "
    "SELECT c_custkey, c_name FROM cust2 "
    "WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)",
)

# Row-bearing Q16 twin: every sf0.01 customer has SOME order (the plain
# anti-join above is vacuously green at 0 rows), but 203 have no URGENT
# order - same anti-join operator, parameters the testdata satisfies.
_register(
    "customers_without_urgent_orders",
    lambda spark, sf: _read(spark, sf, "customer")
    .join(
        _read(spark, sf, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey"),
        F.col("c_custkey") == F.col("o_custkey"),
        "left_anti",
    )
    .select("c_custkey", "c_name"),
    "SELECT c_custkey, c_name FROM customer "
    "WHERE c_custkey NOT IN (SELECT o_custkey FROM orders "
    "WHERE o_orderpriority = '1-URGENT')",
)

_register(
    "top10_customers_by_spend",
    lambda spark, sf: _read(spark, sf, "orders")
    .groupBy("o_custkey")
    .agg(F.sum(F.col("o_totalprice").cast(_DEC)).cast("double").alias(
        "spend"
    ))
    .orderBy(F.col("spend").desc(), F.col("o_custkey").asc())
    .limit(10),
    "SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS "
    "DOUBLE) AS spend "
    "FROM orders GROUP BY o_custkey "
    "ORDER BY spend DESC, o_custkey ASC LIMIT 10",
)

_register(
    "orders_page_offset",
    lambda spark, sf: _read(spark, sf, "orders")
    .select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias(
            "order_ts"
        ),
    )
    .orderBy(F.col("order_ts").asc(), F.col("o_orderkey").asc())
    .offset(100)
    .limit(50),
    "SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS "
    "order_ts FROM orders ORDER BY order_ts ASC, o_orderkey ASC "
    "LIMIT 50 OFFSET 100",
)

_register(
    "first_event_per_user",
    lambda spark, sf: _read(spark, sf, "events")
    .withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("user_id").orderBy(
                F.col("ts").asc(), F.col("event_id").asc()
            )
        ),
    )
    .filter(F.col("rn") == 1)
    .select("user_id", "event_id", "event_type"),
    "SELECT user_id, event_id, event_type FROM ("
    "SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id "
    "ORDER BY ts ASC, event_id ASC) AS rn FROM events) WHERE rn = 1",
)

# Driver-checked stateful streaming dedup (VERDICT r2 #8): a real
# Structured Streaming run (file source, 4 time-ordered micro-batches,
# applyInPandasWithState first-seen state) whose final table must equal
# the batch argmin-per-key - the same oracle as first_event_per_user.
# State loss, re-emission across batches, or a nondeterministic
# within-batch pick all break the value hash.
def _streaming_first_event(spark, sf):
    from ..streaming.incremental import replay_first_seen

    return replay_first_seen(spark, _read(spark, sf, "events")).select(
        "user_id", "event_id", "event_type"
    )


_register(
    "streaming_first_event_per_user",
    _streaming_first_event,
    "SELECT user_id, event_id, event_type FROM ("
    "SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id "
    "ORDER BY ts ASC, event_id ASC) AS rn FROM events) WHERE rn = 1",
)

_register(
    "events_value_by_type",
    lambda spark, sf: _read(spark, sf, "events")
    .groupBy("event_type")
    .agg(
        F.count("*").alias("n"),
        F.sum(F.col("value").cast(_DEC)).cast("double").alias(
            "total_value"
        ),
    ),
    "SELECT event_type, COUNT(*) AS n, "
    "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value "
    "FROM events GROUP BY event_type",
)


# ---------------------------------------------------------------------------
# Training-data pipeline operators (dedup / similarity / text analysis)
# ---------------------------------------------------------------------------

from ..operators import neardup as ND  # noqa: E402
from ..operators import similarity as SIM  # noqa: E402
from ..operators import textstats as TS  # noqa: E402
from ..operators.sketch import HLL_K  # noqa: E402

_NORM_SQL = (
    "trim(regexp_replace(lower(text), '[\\t\\n\\f\\r\\x0B ]+', ' ', 'g'), "
    + TRIM_CHARS
    + ")"
)
_WORDS_SQL = f"list_filter(string_split({_NORM_SQL}, ' '), w -> w <> '')"
_SHINGLES_SQL = (
    f"list_distinct(list_transform(range(0, len({_WORDS_SQL}) - "
    f"{ND.SHINGLE_K} + 1), i -> array_to_string(list_slice({_WORDS_SQL}, "
    f"i + 1, i + {ND.SHINGLE_K}), ' ')))"
)


_register(
    "doc_stats",
    lambda spark, sf: TS.doc_stats(_read(spark, sf, "documents")),
    f"""
WITH base AS (
  SELECT doc_id,
    len(list_filter(string_split_regex(text, '[\\t\\n\\f\\r\\x0B ]+'), w -> w <> ''))
      AS ws_tokens,
    len(regexp_extract_all(text, '{TS.BPE_RE}')) AS bpe_tokens,
    length(text) AS n_chars,
    len(regexp_extract_all(text, '[!-/:-@\\[-`{{-~]')) AS n_punct,
    {sql_clean_sentence('text')} AS cleaned,
    text
  FROM documents
),
ratios AS (
  SELECT doc_id, ws_tokens, bpe_tokens, cleaned, text,
    CASE WHEN n_chars = 0 THEN 0.0 ELSE floor(CAST(n_punct AS DOUBLE) /
      n_chars * 10000.0 + 0.5) / 10000.0 END AS punct_ratio,
    CASE WHEN ws_tokens = 0 THEN 0.0 ELSE floor(
      CAST(len(list_filter(list_filter(string_split_regex(lower(text),
      '[\\t\\n\\f\\r\\x0B ]+'), w -> w <> ''), w -> w IN ({", ".join(f"{chr(39)}{w}{chr(39)}" for w in TS.STOPWORDS_ALL)})))
      AS DOUBLE) / ws_tokens * 10000.0 + 0.5) / 10000.0 END
      AS stopword_ratio
  FROM base
)
SELECT doc_id, ws_tokens, bpe_tokens, punct_ratio, stopword_ratio,
  floor(greatest(0.0, least(1.0,
    least(CAST(ws_tokens AS DOUBLE) / 100.0, 1.0) - punct_ratio * 2.0))
    * 10000.0 + 0.5) / 10000.0 AS quality,
  sha256({_NORM_SQL}) AS fingerprint,
  {sql_langid_select('cleaned')[0]} AS detected_lang,
  {sql_langid_select('cleaned')[1]} AS lang_score
FROM ratios
""",
)

# The driver corpus has no byte-identical documents at any SF, so the
# plain query is vacuously green (0 = 0).  Both sides therefore union in
# the same deterministic planted duplicates (every 25th doc re-appears
# under doc_id + 1_000_000) - the groups are non-empty and the operator's
# group/keeper semantics are actually exercised.
def _docs_with_planted_dups(spark, sf):
    d = _read(spark, sf, "documents").select("doc_id", "text")
    planted = d.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"), "text"
    )
    return d.unionByName(planted)


_DOCS_PLANTED_SQL = (
    "SELECT doc_id, text FROM documents UNION ALL "
    "SELECT doc_id + 1000000 AS doc_id, text FROM documents "
    "WHERE doc_id % 25 = 0"
)

_register(
    "exact_dup_groups",
    lambda spark, sf: ND.exact_dup_groups(_docs_with_planted_dups(spark, sf)),
    f"WITH docs2 AS ({_DOCS_PLANTED_SQL}) "
    f"SELECT sha256({_NORM_SQL}) AS fingerprint, COUNT(*) AS n, "
    "MIN(doc_id) AS keeper FROM docs2 "
    f"GROUP BY sha256({_NORM_SQL}) HAVING COUNT(*) > 1",
)

_register(
    "ngram_jaccard_pairs",
    lambda spark, sf: ND.ngram_jaccard_pairs(
        _read(spark, sf, "documents"), threshold=0.2
    ),
    f"""
WITH sh AS (
  SELECT doc_id, unnest({_SHINGLES_SQL}) AS shingle FROM documents
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
  floor(CAST(i AS DOUBLE) / (sa.n + sb.n - i) * 10000.0 + 0.5) / 10000.0
    AS jaccard
FROM inter JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE floor(CAST(i AS DOUBLE) / (sa.n + sb.n - i) * 10000.0 + 0.5)
  / 10000.0 >= 0.2
""",
)

# bigint fold mirrors operators/neardup._minhash_term: first 15 hex
# digits of md5 (60 bits, exact in int64) parsed base-16
_MH_COLS_SQL = ", ".join(
    f"list_min(list_transform({_SHINGLES_SQL}, x -> "
    f"CAST(concat('0x', substr(md5('{s}:' || x), 1, 15)) AS BIGINT))) "
    f"AS mh{s}"
    for s in range(ND.MINHASH_SEEDS)
)

_register(
    "minhash_signatures",
    lambda spark, sf: ND.minhash_signatures(_read(spark, sf, "documents")),
    f"SELECT doc_id, {_MH_COLS_SQL} FROM documents",
)

_LSH_BAND_SQL = " UNION ALL ".join(
    "SELECT doc_id, md5('"
    + str(band)
    + "' || '|' || "
    + " || '|' || ".join(
        f"CAST(mh{band * (ND.MINHASH_SEEDS // ND.LSH_BANDS) + r} AS VARCHAR)"
        for r in range(ND.MINHASH_SEEDS // ND.LSH_BANDS)
    )
    + ") AS band_key FROM sig WHERE mh0 IS NOT NULL"
    for band in range(ND.LSH_BANDS)
)

_register(
    "lsh_candidate_pairs",
    lambda spark, sf: ND.lsh_candidate_pairs(_read(spark, sf, "documents")),
    f"""
WITH sig AS (SELECT doc_id, {_MH_COLS_SQL} FROM documents),
bands AS ({_LSH_BAND_SQL})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b
  ON a.band_key = b.band_key AND a.doc_id < b.doc_id
""",
)

# LSH candidates + exact-Jaccard verification on the candidate set only
# (operators/neardup.lsh_verified_pairs): the precision stage a 100 TB
# dedup acts on.  Result rows are a subset of lsh_candidate_pairs.


def _lsh_verified_sql(doc_src: str, threshold: float) -> str:
    """Verified-pairs CTE chain over ``doc_src`` (a table or CTE name
    with columns doc_id, text) - band stage INCLUDED, so banding misses
    are reproduced exactly, then exact Jaccard >= threshold."""
    jac = (
        "floor(CAST(i AS DOUBLE) / (sa.n + sb.n - i) * 10000.0 + 0.5) "
        "/ 10000.0"
    )
    return f"""
sig AS (SELECT doc_id, {_MH_COLS_SQL} FROM {doc_src}),
bands AS ({_LSH_BAND_SQL}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_key = b.band_key AND a.doc_id < b.doc_id
),
sh AS (SELECT doc_id, unnest({_SHINGLES_SQL}) AS shingle FROM {doc_src}),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS i
  FROM cand c JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY c.doc_a, c.doc_b
),
verified AS (
  SELECT doc_a, doc_b, {jac} AS jaccard
  FROM inter JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE {jac} >= {threshold}
)"""


_register(
    "lsh_verified_pairs",
    lambda spark, sf: ND.lsh_verified_pairs(
        _read(spark, sf, "documents"), threshold=0.2
    ),
    f"WITH {_lsh_verified_sql('documents', 0.2)} "
    "SELECT doc_a, doc_b, jaccard FROM verified",
)


# Duplicate-CLUSTER dedup (operators/neardup.component_dedup): keep ONE
# doc per weakly connected component of the verified near-dup graph -
# the transitive-closure semantics, in contrast to the greedy
# drop-doc_b rule in plans/curate.py (local minima) and the
# cluster-pruned local-minima rule of similarity.semantic_dedup.  The
# oracle closes the same verified pair set with a recursive CTE and
# keeps component minima.
def _neardup_component_survivors(spark, sf):
    docs = _read(spark, sf, "documents")
    pairs = ND.lsh_verified_pairs(docs, threshold=0.2)
    return ND.component_dedup(docs, pairs).select("doc_id")


_register(
    "neardup_component_survivors",
    _neardup_component_survivors,
    f"""
WITH RECURSIVE {_lsh_verified_sql('documents', 0.2)},
und AS (
  SELECT doc_a AS a, doc_b AS b FROM verified
  UNION SELECT doc_b, doc_a FROM verified
),
reach(node, r) AS (
  SELECT DISTINCT a, a FROM und
  UNION
  SELECT reach.node, und.b FROM reach JOIN und ON reach.r = und.a
),
comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node),
dropped AS (SELECT node AS doc_id FROM comp WHERE node <> component)
SELECT d.doc_id AS doc_id
FROM documents d LEFT JOIN dropped x ON d.doc_id = x.doc_id
WHERE x.doc_id IS NULL
""",
)


# ---------------------------------------------------------------------------
# End-to-end training-data curation pipeline (composed operator): quality
# gate -> exact dedup (keep min doc_id per fingerprint) -> verified
# near-dup removal (drop the larger id of every LSH-verified pair at
# jaccard >= 0.5) -> deterministic hash sample (md5(doc_id) fold mod 10
# < 8, ~80%).  One row of per-stage survivor counts + final BPE-token
# budget, so every stage's bite is visible in the driver artifact.  Runs
# over the dup-planted doc set so the exact-dedup stage is non-vacuous.
# ---------------------------------------------------------------------------

_CURATE_QUALITY = 0.5


def _curated_corpus(spark, sf):
    docs = _docs_with_planted_dups(spark, sf)
    st = TS.doc_stats(docs).select(
        "doc_id", "quality", "fingerprint", "bpe_tokens"
    )
    q = st.filter(F.col("quality") >= _CURATE_QUALITY)
    keep = q.groupBy("fingerprint").agg(F.min("doc_id").alias("doc_id"))
    d1 = q.join(keep, ["fingerprint", "doc_id"], "left_semi")
    nd = (
        ND.lsh_verified_pairs(docs, threshold=0.5)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    d2 = d1.join(nd, "doc_id", "left_anti")
    d3 = d2.filter(
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4),
            16,
            10,
        ).cast("bigint")
        % 10
        < 8
    )
    return (
        q.agg(F.count("*").alias("n_quality"))
        .crossJoin(d1.agg(F.count("*").alias("n_after_exact")))
        .crossJoin(d2.agg(F.count("*").alias("n_after_neardup")))
        .crossJoin(
            d3.agg(
                F.count("*").alias("n_curated"),
                F.sum("bpe_tokens").alias("total_bpe_tokens"),
            )
        )
    )


_CURATE_STATS_SQL = rf"""
stats AS (
  SELECT doc_id,
    len(regexp_extract_all(text, '{TS.BPE_RE}')) AS bpe_tokens,
    sha256({_NORM_SQL}) AS fingerprint,
    floor(greatest(0.0, least(1.0,
      least(CAST(len(list_filter(string_split_regex(text,
        '[\t\n\f\r\x0B ]+'), w -> w <> '')) AS DOUBLE) / 100.0, 1.0)
      - (CASE WHEN length(text) = 0 THEN 0.0 ELSE
         floor(CAST(len(regexp_extract_all(text, '[!-/:-@\[-`{{-~]'))
         AS DOUBLE) / length(text) * 10000.0 + 0.5) / 10000.0 END) * 2.0))
      * 10000.0 + 0.5) / 10000.0 AS quality
  FROM docs2
),
q AS (SELECT * FROM stats WHERE quality >= {_CURATE_QUALITY}),
keep AS (SELECT fingerprint, MIN(doc_id) AS doc_id FROM q
         GROUP BY fingerprint),
d1 AS (SELECT q.* FROM q JOIN keep
       ON q.fingerprint = keep.fingerprint AND q.doc_id = keep.doc_id),
nd AS (SELECT DISTINCT doc_b AS doc_id FROM verified),
d2 AS (SELECT * FROM d1 WHERE doc_id NOT IN (SELECT doc_id FROM nd)),
d3 AS (SELECT * FROM d2 WHERE
       CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
            AS BIGINT) % 10 < 8)
"""

_register(
    "curated_training_corpus",
    _curated_corpus,
    f"WITH docs2 AS ({_DOCS_PLANTED_SQL}), "
    f"{_lsh_verified_sql('docs2', 0.5).lstrip().lstrip(chr(10))}, "
    f"{_CURATE_STATS_SQL.strip().lstrip(chr(44))} "
    "SELECT (SELECT COUNT(*) FROM q) AS n_quality, "
    "(SELECT COUNT(*) FROM d1) AS n_after_exact, "
    "(SELECT COUNT(*) FROM d2) AS n_after_neardup, "
    "(SELECT COUNT(*) FROM d3) AS n_curated, "
    "CAST((SELECT SUM(bpe_tokens) FROM d3) AS BIGINT) "
    "AS total_bpe_tokens"
)

def _simhash_bits_sql(bits: int) -> str:
    """Oracle twin of neardup.simhash_fingerprints for up to 64 bits:
    dimensions 0..31 read md5(w) hex digits, 32..63 read the salted
    md5('b:' || w) digits (SIMHASH64_PREFIX)."""
    parts = []
    for j in range(bits):
        src = "md5(w)" if j < 32 else "md5('b:' || w)"
        parts.append(
            f"(CASE WHEN list_sum(list_transform({_WORDS_SQL}, "
            f"w -> CASE WHEN upper(substr({src}, {(j % 32) + 1}, 1)) IN "
            "('8','9','A','B','C','D','E','F') THEN 1 ELSE -1 END)) > 0 "
            "THEN '1' ELSE '0' END)"
        )
    return " || ".join(parts)


_SIMHASH_BIT_SQL = _simhash_bits_sql(ND.SIMHASH_BITS)

_register(
    "simhash_fingerprints",
    lambda spark, sf: ND.simhash_fingerprints(
        _read(spark, sf, "documents")
    ),
    f"SELECT doc_id, {_SIMHASH_BIT_SQL} AS simhash FROM documents",
)

# 32-bit twin for the demo pairing configuration (the pairing half
# needs more bits than the 16-bit fingerprint demo to make banding
# selective); the 64-bit production configuration is registered below.
_SIMHASH32_BIT_SQL = _simhash_bits_sql(32)

# banded SimHash near-dup pairing: pigeonhole guarantees every pair with
# hamming <= bands-1 shares a band, so the band join is complete AND
# linear; the hamming filter removes band-collision false positives.
_register(
    "simhash_neardup_pairs",
    lambda spark, sf: ND.simhash_neardup_pairs(
        _read(spark, sf, "documents"), bits=32, bands=4, max_hamming=3
    ),
    f"""
WITH sh AS (SELECT doc_id, {_SIMHASH32_BIT_SQL} AS simhash FROM documents),
b AS (
  SELECT doc_id, simhash,
    unnest([substr(simhash, 1, 8), substr(simhash, 9, 8),
            substr(simhash, 17, 8), substr(simhash, 25, 8)]) AS band,
    unnest([0, 1, 2, 3]) AS band_no
  FROM sh
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
         a.simhash AS sim_a, b2.simhash AS sim_b
  FROM b a JOIN b b2
    ON a.band_no = b2.band_no AND a.band = b2.band
   AND a.doc_id < b2.doc_id
)
SELECT doc_a, doc_b,
  len(list_filter(range(1, 33),
      i -> substr(sim_a, i, 1) <> substr(sim_b, i, 1))) AS hamming
FROM cand
WHERE len(list_filter(range(1, 33),
      i -> substr(sim_a, i, 1) <> substr(sim_b, i, 1))) <= 3
""",
)

# 64-bit production configuration (4 x 16-bit bands): the two-md5
# fingerprint keeps the DuckDB twin exact beyond one md5's 32 hex
# digits.  Same pigeonhole guarantee (max_hamming <= bands - 1).
_register(
    "simhash64_neardup_pairs",
    lambda spark, sf: ND.simhash_neardup_pairs(
        _read(spark, sf, "documents"), bits=64, bands=4, max_hamming=3
    ),
    f"""
WITH sh AS (SELECT doc_id, {_simhash_bits_sql(64)} AS simhash
            FROM documents),
b AS (
  SELECT doc_id, simhash,
    unnest([substr(simhash, 1, 16), substr(simhash, 17, 16),
            substr(simhash, 33, 16), substr(simhash, 49, 16)]) AS band,
    unnest([0, 1, 2, 3]) AS band_no
  FROM sh
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
         a.simhash AS sim_a, b2.simhash AS sim_b
  FROM b a JOIN b b2
    ON a.band_no = b2.band_no AND a.band = b2.band
   AND a.doc_id < b2.doc_id
)
SELECT doc_a, doc_b,
  len(list_filter(range(1, 65),
      i -> substr(sim_a, i, 1) <> substr(sim_b, i, 1))) AS hamming
FROM cand
WHERE len(list_filter(range(1, 65),
      i -> substr(sim_a, i, 1) <> substr(sim_b, i, 1))) <= 3
""",
)

_register(
    "embedding_cosine_top10",
    lambda spark, sf: SIM.cosine_topk(
        _read(spark, sf, "embeddings"), query_vec_id=0, k=10
    ),
    """
WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings
           WHERE vec_id = 0)
SELECT vec_id,
  floor(list_dot_product(CAST(embedding AS DOUBLE[]), qv) /
    (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                           CAST(embedding AS DOUBLE[]))) *
     sqrt(list_dot_product(qv, qv))) * 10000.0 + 0.5) / 10000.0 AS cosine
FROM embeddings, q WHERE vec_id <> 0
ORDER BY cosine DESC, vec_id ASC LIMIT 10
""",
)

# LSH-bucketed ANN: the deterministic hyperplane signs are generated from
# md5 constants in Python at corpus-build time and inlined as literals on
# both sides, so the oracle is exact.


def _plane_sign_literals(dims: int, n_planes: int) -> list[list[float]]:
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"{p}:{d}".encode()).hexdigest()[0], 16) >= 8
            else -1.0
            for d in range(dims)
        ]
        for p in range(n_planes)
    ]


_EMB_DIMS = 64
_PLANES = _plane_sign_literals(_EMB_DIMS, 8)
_BUCKET_SQL = " || ".join(
    "(CASE WHEN list_dot_product(CAST(embedding AS DOUBLE[]), ["
    + ", ".join(str(s) for s in plane)
    + "]) > 0 THEN '1' ELSE '0' END)"
    for plane in _PLANES
)

# multi-probe (radius 1): candidate buckets = query bucket + every
# 1-bit flip.  With 8 planes over 64 dims the query's own bucket is
# empty at small SF (recall literally 0) - the probe ring is what makes
# the operator's evidence non-vacuous AND is the standard production
# fix.  The oracle expresses the same set as hamming(bucket, qb) <= 1.
_register(
    "embedding_lsh_top10",
    lambda spark, sf: SIM.lsh_cosine_topk(
        _read(spark, sf, "embeddings"), query_vec_id=0, dims=_EMB_DIMS,
        k=10, n_planes=8, probe_radius=1,
    ),
    f"""
WITH sig AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         {_BUCKET_SQL} AS bucket
  FROM embeddings
),
q AS (SELECT v AS qv, bucket AS qb FROM sig WHERE vec_id = 0)
SELECT vec_id,
  floor(list_dot_product(v, qv) /
    (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv)))
    * 10000.0 + 0.5) / 10000.0 AS cosine
FROM sig, q
WHERE len(list_filter(range(1, 9),
      i -> substr(bucket, i, 1) <> substr(qb, i, 1))) <= 1
  AND vec_id <> 0
ORDER BY cosine DESC, vec_id ASC LIMIT 10
""",
)


# ---------------------------------------------------------------------------
# Streaming-shape aggregation (batch semantics twin of
# streaming.incremental.windowed_event_counts) + embedding near-dup
# ---------------------------------------------------------------------------

from ..streaming.incremental import windowed_event_counts  # noqa: E402


_register(
    "windowed_event_counts",
    lambda spark, sf: windowed_event_counts(
        _read(spark, sf, "events"), "10 minutes", "30 minutes"
    ).select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        F.date_format("window_end", "yyyy-MM-dd HH:mm:ss").alias(
            "window_end"
        ),
        "event_type",
        "n",
        "total_value",
    ),
    "SELECT strftime(time_bucket(INTERVAL '10 minutes', ts), "
    "'%Y-%m-%d %H:%M:%S') AS window_start, "
    "strftime(time_bucket(INTERVAL '10 minutes', ts) + "
    "INTERVAL '10 minutes', '%Y-%m-%d %H:%M:%S') AS window_end, "
    "event_type, COUNT(*) AS n, "
    "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value "
    "FROM events GROUP BY 1, 2, event_type",
)


# embedding-cosine near-dup pairs: all pairs above a cosine threshold
# within LSH buckets (the scale path for embedding dedup); exact within
# buckets, threshold keeps the result tiny.
def _emb_neardup(spark, sf):
    from ..operators import similarity as SIM2

    emb = _read(spark, sf, "embeddings")
    sig = emb.withColumn(
        "bucket",
        SIM2.lsh_plane_sign_cols(F.col("embedding"), _EMB_DIMS, 8),
    ).select("vec_id", "bucket", "embedding")
    a = sig.alias("a")
    b = sig.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            SIM2.cosine_col(
                F.col("a.embedding"), F.col("b.embedding")
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.2)
    )
    return pairs


_register(
    "embedding_neardup_pairs",
    _emb_neardup,
    f"""
WITH sig AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         {_BUCKET_SQL} AS bucket
  FROM embeddings
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
  floor(list_dot_product(a.v, b.v) /
    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
    * 10000.0 + 0.5) / 10000.0 AS cosine
FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE floor(list_dot_product(a.v, b.v) /
    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
    * 10000.0 + 0.5) / 10000.0 >= 0.2
""",
)


# SemDeDup-style semantic dedup (operators/similarity.semantic_dedup,
# Abbas et al. 2023): cluster-pruned pairwise cosine, drop an item iff
# some LOWER-id item in its cluster is within threshold - survivors are
# the id-local minima of the within-cluster threshold graph.  The
# driver variant clusters by the deterministic LSH plane signature so
# the oracle is exact; pytest pins the IVF-cell/planted-label variant
# (test_similarity.py) where clusters are semantic, not hash-shaped.
def _semantic_dedup_q(spark, sf):
    from ..operators import similarity as SIM2

    emb = _read(spark, sf, "embeddings")
    clustered = emb.withColumn(
        "bucket",
        SIM2.lsh_plane_sign_cols(F.col("embedding"), _EMB_DIMS, 8),
    )
    return SIM2.semantic_dedup(
        clustered, threshold=0.2, cluster_col="bucket"
    ).select("vec_id", "bucket")


_register(
    "semantic_dedup_survivors",
    _semantic_dedup_q,
    f"""
WITH sig AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         {_BUCKET_SQL} AS bucket
  FROM embeddings
),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE floor(list_dot_product(a.v, b.v) /
    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
    * 10000.0 + 0.5) / 10000.0 >= 0.2
)
SELECT s.vec_id AS vec_id, s.bucket AS bucket
FROM sig s LEFT JOIN dropped d ON s.vec_id = d.vec_id
WHERE d.vec_id IS NULL
""",
)


# ---------------------------------------------------------------------------
# Remaining SURVEY §2 operator classes: D6 (word/page counts), Q2
# (self-join with aliases), Q17 (size/metadata stats), Q19 (dim
# enumeration)
# ---------------------------------------------------------------------------

# D6: count_words + equivalent_pages (words/450)
# (reference models/document.py:56-84)
_register(
    "doc_word_page_counts",
    lambda spark, sf: _read(spark, sf, "documents").select(
        "doc_id",
        F.size(
            F.filter(F.split(F.col("text"), S.WS_SPLIT_RE), lambda w: w != "")
        ).alias("word_count"),
        (
            F.size(
                F.filter(
                    F.split(F.col("text"), S.WS_SPLIT_RE), lambda w: w != ""
                )
            )
            / F.lit(450)
        ).cast("int").alias("equivalent_pages"),
    ),
    "SELECT doc_id, "
    "len(list_filter(string_split_regex(text, '[\\t\\n\\f\\r\\x0B ]+'), w -> w <> '')) AS "
    "word_count, "
    "CAST(len(list_filter(string_split_regex(text, '[\\t\\n\\f\\r\\x0B ]+'), w -> w <> '')) "
    "// 450 AS INTEGER) AS equivalent_pages FROM documents",
)

# Q2: self-join with aliases + theta condition (reference
# sql/count_language_id_mismatches.sql joins `language` twice); here:
# same-document sentence pairs in different detected languages.
_register(
    "cross_language_sentence_pairs",
    lambda spark, sf: (
        lambda s: s.alias("s1")
        .join(
            s.alias("s2"),
            (F.col("s1.document_id") == F.col("s2.document_id"))
            & (F.col("s1.lang") != F.col("s2.lang"))
            & (F.col("s1.sentence_id") < F.col("s2.sentence_id")),
        )
        .agg(F.count("*").alias("n"))
    )(_sentences(spark, sf)),
    f"WITH {sentence_ctes()} SELECT COUNT(*) AS n FROM sentences s1 "
    "JOIN sentences s2 ON s1.document_id = s2.document_id "
    "AND s1.lang <> s2.lang AND s1.sentence_id < s2.sentence_id",
)

# Q17: catalog/metadata-style size stats (reference
# sql/get_total_size_of_database.sql measures MB via information_schema;
# the lake analog is row/byte accounting over the source table)
_register(
    "corpus_size_stats",
    lambda spark, sf: _read(spark, sf, "documents").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.length("text")).alias("total_chars"),
        F.floor(
            F.avg(F.length("text")) * 100.0 + F.lit(0.5)
        ).cast("double").alias("avg_chars_x100"),
    ),
    "SELECT COUNT(*) AS n_docs, CAST(SUM(length(text)) AS BIGINT) AS total_chars, "
    "CAST(floor(AVG(length(text)) * 100.0 + 0.5) AS DOUBLE) "
    "AS avg_chars_x100 FROM documents",
)

# Q19: dimension enumeration (reference models/crud/read.py:320-328
# enumerates iso codes / QIDs for API validation)
_register(
    "language_dim",
    lambda spark, sf: dims.languages(spark),
    "SELECT * FROM (VALUES "
    + ", ".join(
        f"('{iso}', '{name}', '{qid}')" for iso, name, qid in S.LANGUAGES
    )
    + ") AS t(iso_code, name_en, qid)",
)



# ---------------------------------------------------------------------------
# File-by-file completion of the reference sql/ corpus (the remaining
# direct analogues; lang='en' where the faithful 'sv' filter would be
# empty on the driver testdata - both shapes exercised)
# ---------------------------------------------------------------------------

# all_swedish_sentences.sql -> full rows for a language
_register(
    "sentences_rows_en",
    lambda spark, sf: _sentences(spark, sf)
    .filter(F.col("lang") == "en")
    .select("sentence_id", "text", "score"),
    f"WITH {sentence_ctes()} SELECT sentence_id, text, score "
    "FROM sentences WHERE lang = 'en'",
)

# all_swedish_rawtokens.sql -> full rawtoken rows for a language
_register(
    "rawtokens_rows_en",
    lambda spark, sf: P.rawtokens(_tokens(spark, sf)).filter(
        F.col("lang") == "en"
    ),
    f"WITH {sentence_ctes()}{token_ctes()} "
    f"SELECT {uuid5_sql(chr(39) + 'rawtoken' + chr(39), 'text', 'pos', 'lang')} "
    "AS rawtoken_id, text, pos AS postag, lang, MIN(score) AS score "
    "FROM (SELECT raw AS text, pos, lang, score FROM token_flags "
    "WHERE tok_accepted) WHERE lang = 'en' GROUP BY text, pos, lang",
)

# all_swedish_rawtokens_with_score_above_0.7.sql /
# count_sv_rawtokens_with_score_above_0.7.sql (ROUND(value,2) > 0.7)
_register(
    "count_rawtokens_high_score",
    lambda spark, sf: P.rawtokens(_tokens(spark, sf))
    .filter(C.round_score_col(F.col("score")) > 0.7)
    .agg(F.count("*").alias("n")),
    f"WITH {sentence_ctes()}{token_ctes()} SELECT COUNT(*) AS n FROM ("
    "SELECT text, pos, lang, MIN(score) AS score FROM (SELECT raw AS "
    "text, pos, lang, score FROM token_flags WHERE tok_accepted) "
    "GROUP BY text, pos, lang) "
    f"WHERE {sql_round_score('score')} > 0.7",
)

# all_swedish_rawtokens_and_sentences.sql -> rawtoken x occursIn x
# sentence rows
_register(
    "rawtokens_and_sentences",
    lambda spark, sf: (
        lambda toks: P.occurs_in_edges(toks)
        .join(
            P.rawtokens(toks).select(
                F.col("rawtoken_id").alias("subj"),
                F.col("text").alias("token_text"),
            ),
            "subj",
        )
        .join(
            _sentences(spark, sf).select(
                F.col("sentence_id").alias("obj"),
                F.col("text").alias("sentence_text"),
            ),
            "obj",
        )
        .select("token_text", "sentence_text")
        .dropDuplicates(["token_text", "sentence_text"])
    )(_tokens(spark, sf)),
    f"WITH {sentence_ctes()}{token_ctes()} "
    "SELECT DISTINCT raw AS token_text, text AS sentence_text "
    "FROM token_flags WHERE tok_accepted AND sent_accepted",
)

# count_all_rows_in_rawtoken_sentence_linking.sql
_register(
    "count_occursin_edges",
    lambda spark, sf: P.occurs_in_edges(_tokens(spark, sf)).agg(
        F.count("*").alias("n")
    ),
    f"WITH {sentence_ctes()}{token_ctes()} SELECT COUNT(*) AS n FROM ("
    f"SELECT DISTINCT {_RID_FROM_TOK} AS subj, {_SID_FROM_TOK} AS obj "
    "FROM token_flags WHERE tok_accepted AND sent_accepted)",
)

# count_sv_rawtoken_sentence_links.sql (language-filtered link count)
_register(
    "count_occursin_edges_en",
    lambda spark, sf: _tokens(spark, sf)
    .filter(
        F.col("tok_accepted") & F.col("sent_accepted") & (F.col("lang") == "en")
    )
    .select(
        uuid5_col(F.lit("rawtoken"), "raw", "pos", "lang").alias("subj"),
        uuid5_col(F.lit("sentence"), "text", "document_id", "lang").alias("obj"),
    )
    .dropDuplicates(["subj", "obj"])
    .agg(F.count("*").alias("n")),
    f"WITH {sentence_ctes()}{token_ctes()} SELECT COUNT(*) AS n FROM ("
    f"SELECT DISTINCT {_RID_FROM_TOK} AS subj, {_SID_FROM_TOK} AS obj "
    "FROM token_flags WHERE tok_accepted AND sent_accepted "
    "AND lang = 'en')",
)

# count_sv_rawtokens.sql
_register(
    "count_rawtokens_en",
    lambda spark, sf: P.rawtokens(_tokens(spark, sf))
    .filter(F.col("lang") == "en")
    .agg(F.count("*").alias("n")),
    f"WITH {sentence_ctes()}{token_ctes()} SELECT COUNT(*) AS n FROM ("
    "SELECT DISTINCT raw, pos, lang FROM token_flags WHERE tok_accepted "
    "AND lang = 'en')",
)

# count_sv_sentences_with_entity.sql (COUNT DISTINCT sentences)
_register(
    "count_sentences_with_entity",
    lambda spark, sf: P.mention_edges(_sentences(spark, sf)).agg(
        F.countDistinct("subj").alias("n")
    ),
    f"WITH {sentence_ctes()} SELECT COUNT(DISTINCT s.sentence_id) AS n "
    f"FROM sentences s, {gazetteer_values()} "
    "WHERE contains(' ' || lower(s.cleaned) || ' ', "
    "' ' || g.label || ' ')",
)

# count_entities_in_sv_sentences.sql (SUM over grouped subquery)
_register(
    "count_entity_mentions_total",
    lambda spark, sf: P.mention_edges(_sentences(spark, sf)).agg(
        F.count("*").alias("n")
    ),
    f"WITH {sentence_ctes()} SELECT COUNT(*) AS n FROM "
    "(SELECT DISTINCT s.sentence_id, g.label, g.ner_label FROM "
    f"sentences s, {gazetteer_values()} "
    "WHERE contains(' ' || lower(s.cleaned) || ' ', "
    "' ' || g.label || ' '))",
)

# count_sv_rawtoken_links_by_category.sql (LINK counts per category)
_register(
    "occursin_counts_by_category",
    lambda spark, sf: (
        lambda toks: P.occurs_in_edges(toks)
        .join(
            P.rawtokens(toks).select(
                F.col("rawtoken_id").alias("subj"), "postag"
            ),
            "subj",
        )
        .groupBy("postag")
        .agg(F.count("*").alias("n"))
    )(_tokens(spark, sf)),
    f"WITH {sentence_ctes()}{token_ctes()} "
    "SELECT pos AS postag, COUNT(*) AS n FROM ("
    "SELECT DISTINCT raw, pos, lang, text, document_id "
    "FROM token_flags WHERE tok_accepted AND sent_accepted) "
    "GROUP BY pos",
)

# all_entities_found_in_document_id_55.sql (point filter on a document)
_register(
    "entities_for_document_0",
    lambda spark, sf: P.mention_edges(_sentences(spark, sf))
    .join(
        _sentences(spark, sf).select(
            F.col("sentence_id").alias("subj"), "document_id"
        ),
        "subj",
    )
    .filter(F.col("document_id") == "0")
    .select(F.col("obj").alias("entity_id"))
    .dropDuplicates(["entity_id"]),
    f"WITH {sentence_ctes()} SELECT DISTINCT "
    f"{uuid5_sql(chr(39) + 'entity' + chr(39), 'label', 'ner_label')} AS "
    f"entity_id FROM sentences s, {gazetteer_values()} "
    "WHERE s.document_id = '0' AND contains(' ' || lower(s.cleaned) || "
    "' ', ' ' || g.label || ' ')",
)

# get_rawtoken_id_for_simple_token.sql (Q15 point lookup by secondary key)
_register(
    "rawtoken_id_point_lookup",
    lambda spark, sf: P.rawtokens(_tokens(spark, sf))
    .filter(
        (F.col("text") == "scan")
        & (F.col("postag") == "NOUN")
        & (F.col("lang") == "en")
    )
    .select("rawtoken_id"),
    f"WITH {sentence_ctes()}{token_ctes()} SELECT DISTINCT "
    f"{_RID_FROM_TOK} AS rawtoken_id FROM token_flags "
    "WHERE tok_accepted AND raw = 'scan' AND pos = 'NOUN' "
    "AND lang = 'en'",
)

# all_swedish_sentences_that_match_a_string_case_insensitive.sql
_register(
    "sentences_matching_string_ci",
    lambda spark, sf: _sentences(spark, sf)
    .filter(
        (F.col("lang") == "en")
        & F.lower(F.col("text")).contains(" merge ")
    )
    .select("sentence_id", "text"),
    f"WITH {sentence_ctes()} SELECT sentence_id, text FROM sentences "
    "WHERE lang = 'en' AND contains(lower(text), ' merge ')",
)


# ---------------------------------------------------------------------------
# Training-data curation analytics (frequency / quality / language mix)
# ---------------------------------------------------------------------------

_register(
    "token_frequency_top20",
    lambda spark, sf: _tokens(spark, sf)
    .filter(F.col("tok_accepted"))
    .groupBy("norm")
    .agg(F.count("*").alias("n"))
    .orderBy(F.col("n").desc(), F.col("norm").asc())
    .limit(20),
    f"WITH {sentence_ctes()}{token_ctes()} "
    "SELECT norm, COUNT(*) AS n FROM token_flags WHERE tok_accepted "
    "GROUP BY norm ORDER BY n DESC, norm ASC LIMIT 20",
)

_QUALITY_SQL = (
    "floor(greatest(0.0, least(1.0, least(CAST(len(list_filter("
    "string_split_regex(text, '[\\t\\n\\f\\r\\x0B ]+'), w -> w <> '')) AS "
    "DOUBLE) / 100.0, 1.0) - (CASE WHEN length(text) = 0 THEN 0.0 ELSE "
    "floor(CAST(len(regexp_extract_all(text, '[!-/:-@\\[-`{-~]')) AS "
    "DOUBLE) / length(text) * 10000.0 + 0.5) / 10000.0 END) * 2.0)) "
    "* 10000.0 + 0.5) / 10000.0"
)

_register(
    "docs_above_quality_threshold",
    lambda spark, sf: _read(spark, sf, "documents")
    .select(
        "doc_id",
        TS.quality_score_col(F.col("text")).alias("quality"),
    )
    .filter(F.col("quality") >= 0.5),
    f"SELECT doc_id, {_QUALITY_SQL} AS quality FROM documents "
    f"WHERE {_QUALITY_SQL} >= 0.5",
)

_register(
    "doc_language_distribution",
    lambda spark, sf: (
        lambda langcol: _read(spark, sf, "documents")
        .select(langcol.alias("detected_lang"))
        .groupBy("detected_lang")
        .agg(F.count("*").alias("n"))
    )(C.langid_cols(C.clean_sentence_col(F.col("text")))[0]),
    f"""
WITH c AS (SELECT {sql_clean_sentence('text')} AS cleaned FROM documents)
SELECT {sql_langid_select('cleaned')[0]} AS detected_lang, COUNT(*) AS n
FROM c GROUP BY 1
""",
)

_register(
    "stopword_ratio_histogram",
    lambda spark, sf: _read(spark, sf, "documents")
    .select(
        (
            F.floor(TS.stopword_ratio_col(F.col("text")) * 10.0) / 10.0
        ).alias("bucket")
    )
    .groupBy("bucket")
    .agg(F.count("*").alias("n")),
    "SELECT floor((CASE WHEN len(list_filter(string_split_regex(lower("
    "text), '[\\t\\n\\f\\r\\x0B ]+'), w -> w <> '')) = 0 THEN 0.0 ELSE "
    "floor(CAST(len(list_filter(list_filter(string_split_regex(lower("
    "text), '[\\t\\n\\f\\r\\x0B ]+'), w -> w <> ''), w -> w IN ("
    + ", ".join(f"'{w}'" for w in TS.STOPWORDS_ALL)
    + "))) AS DOUBLE) / len(list_filter(string_split_regex(lower(text), "
    "'[\\t\\n\\f\\r\\x0B ]+'), w -> w <> '')) * 10000.0 + 0.5) / 10000.0 "
    "END) * 10.0) / 10.0 AS bucket, COUNT(*) AS n "
    "FROM documents GROUP BY 1",
)


# ---------------------------------------------------------------------------
# Graph analytics: node degrees over the full triple union (Q-class
# beyond the reference: graph-native consumption of the KG)
# ---------------------------------------------------------------------------

from ..operators.graph import degrees  # noqa: E402


def _triples_union_sql() -> str:
    return (
        f"SELECT sentence_id AS subj, '{S.PRED_PART_OF}' AS pred, "
        "document_id AS obj FROM sentences "
        f"UNION ALL SELECT sentence_id, '{S.PRED_HAS_TEXT}', cleaned "
        "FROM sentences "
        f"UNION ALL SELECT DISTINCT {_RID_FROM_TOK}, '{S.PRED_OCCURS_IN}', "
        f"{_SID_FROM_TOK} FROM token_flags WHERE tok_accepted AND "
        "sent_accepted "
        f"UNION ALL SELECT DISTINCT {_RID_FROM_TOK}, "
        f"'{S.PRED_NORMALIZES_TO}', "
        f"{uuid5_sql(chr(39) + 'normtoken' + chr(39), 'norm')} "
        "FROM token_flags WHERE tok_accepted "
        "UNION ALL SELECT subj, pred, "
        f"{uuid5_sql(chr(39) + 'entity' + chr(39), 'label', 'ner_label')} "
        f"FROM (SELECT DISTINCT s.sentence_id AS subj, "
        f"'{S.PRED_MENTIONS}' AS pred, g.label, g.ner_label "
        f"FROM sentences s, {gazetteer_values()} "
        "WHERE contains(' ' || lower(s.cleaned) || ' ', "
        "' ' || g.label || ' ')) "
        f"UNION ALL SELECT DISTINCT {_RID_FROM_TOK_Q}, "
        f"'{S.PRED_LINKS_TO}', lex.lexeme_id "
        f"FROM token_flags t, {lexeme_values()} "
        "WHERE t.tok_accepted AND t.norm = lex.form AND t.lang = lex.lang"
    )


_register(
    "node_degrees_top20",
    lambda spark, sf: degrees(P.triples(spark, _docs(spark, sf)))
    .orderBy(F.col("degree").desc(), F.col("node").asc())
    .limit(20),
    f"WITH {sentence_ctes()}{token_ctes()}, "
    f"t AS ({_triples_union_sql()}), "
    "od AS (SELECT subj AS node, COUNT(*) AS out_degree FROM t GROUP BY "
    "subj), "
    "id_ AS (SELECT obj AS node, COUNT(*) AS in_degree FROM t GROUP BY "
    "obj) "
    "SELECT COALESCE(od.node, id_.node) AS node, "
    "COALESCE(out_degree, 0) AS out_degree, "
    "COALESCE(in_degree, 0) AS in_degree, "
    "COALESCE(out_degree, 0) + COALESCE(in_degree, 0) AS degree "
    "FROM od FULL OUTER JOIN id_ ON od.node = id_.node "
    "ORDER BY degree DESC, node ASC LIMIT 20",
)


# ---------------------------------------------------------------------------
# Provider/collection/dataset/license dimension chain (reference
# config/providers.yml, collections.yml, datasets.yml, licenses.yml and
# the license-restricted lookup in design/dialogues/
# user_example_lookup_simple_token.txt).  The driver documents table's
# `source` column acts as the dataset key; licenses are assigned
# deterministically (even-numbered sources -> CC0, odd -> CC-BY), so
# both engines derive the dim from the same arithmetic.
# ---------------------------------------------------------------------------

LICENSE_CC0 = "Q6938433"
LICENSE_CCBY = "Q6905323"

_LICENSE_SQL = (
    "CASE WHEN CAST(substr(source, 4) AS INTEGER) % 2 = 0 "
    f"THEN '{LICENSE_CC0}' ELSE '{LICENSE_CCBY}' END"
)


def _license_col():
    return F.when(
        F.substring(F.col("source"), 4, 10).cast("int") % 2 == 0,
        F.lit(LICENSE_CC0),
    ).otherwise(F.lit(LICENSE_CCBY))


_register(
    "dataset_license_dim",
    lambda spark, sf: _read(spark, sf, "documents")
    .select(F.col("source").alias("dataset"), _license_col().alias(
        "license_qid"
    ))
    .dropDuplicates(["dataset", "license_qid"]),
    f"SELECT DISTINCT source AS dataset, {_LICENSE_SQL} AS license_qid "
    "FROM documents",
)

_register(
    "sentence_counts_by_license",
    lambda spark, sf: _sentences(spark, sf)
    .join(
        _read(spark, sf, "documents").select(
            F.col("doc_id").cast("string").alias("document_id"),
            _license_col().alias("license_qid"),
        ),
        "document_id",
    )
    .groupBy("license_qid")
    .agg(F.count("*").alias("n")),
    f"WITH {sentence_ctes()} "
    f"SELECT {_LICENSE_SQL} AS license_qid, COUNT(*) AS n "
    "FROM sentences s JOIN documents d "
    "ON s.document_id = CAST(d.doc_id AS VARCHAR) "
    "GROUP BY 1",
)

_register(
    "lookup_compound_cc0_only",
    # the dialogue's license-restricted lookup: compound-token substring
    # scan limited to sentences from CC0-licensed datasets
    lambda spark, sf: _sentences(spark, sf)
    .join(
        _read(spark, sf, "documents").select(
            F.col("doc_id").cast("string").alias("document_id"),
            _license_col().alias("license_qid"),
        ),
        "document_id",
    )
    .filter(
        (F.col("lang") == "en")
        & F.lower(F.col("text")).contains("table scan")
        & (F.col("license_qid") == LICENSE_CC0)
    )
    .select(
        "sentence_id", "text", F.length("text").alias("n_chars")
    )
    .orderBy(F.col("n_chars").asc(), F.col("sentence_id").asc())
    .limit(20),
    f"WITH {sentence_ctes()} "
    "SELECT sentence_id, text, n_chars FROM ("
    "SELECT s.sentence_id AS sentence_id, s.text AS text, "
    "length(s.text) AS n_chars FROM sentences s JOIN documents d "
    "ON s.document_id = CAST(d.doc_id AS VARCHAR) "
    f"WHERE s.lang = 'en' AND contains(lower(s.text), 'table scan') "
    f"AND {_LICENSE_SQL} = '{LICENSE_CC0}') "
    "ORDER BY n_chars ASC, sentence_id ASC LIMIT 20",
)


# ---------------------------------------------------------------------------
# Connected components over the mention graph (operators/graph.py):
# weakly-connected components of the sentence<->entity bipartite graph,
# reported as component sizes.  The oracle is a DuckDB recursive-CTE
# transitive closure (exact but O(nodes x component) - fine at gate SF,
# which is precisely why the Spark side uses min-label propagation
# instead).
# ---------------------------------------------------------------------------

from ..operators.graph import (  # noqa: E402
    connected_components,
    connected_components_contraction,
)


def _mention_component_sizes(spark, sf, contraction: bool = False):
    edges = P.mention_edges(_sentences(spark, sf)).select("subj", "obj")
    algo = (
        connected_components_contraction
        if contraction
        else connected_components
    )
    cc = algo(edges, max_iter=20)
    return (
        cc.groupBy("component")
        .agg(F.count("*").alias("n_nodes"))
        .orderBy(F.col("n_nodes").desc(), F.col("component").asc())
    )


_ENTITY_ID_SQL = uuid5_sql(chr(39) + "entity" + chr(39), "label", "ner_label")

_register(
    "mention_component_sizes",
    _mention_component_sizes,
    f"""
WITH RECURSIVE {sentence_ctes()},
edges AS (
  SELECT subj, obj FROM (
    SELECT DISTINCT s.sentence_id AS subj, {_ENTITY_ID_SQL} AS obj
    FROM sentences s, {gazetteer_values()}
    WHERE contains(' ' || lower(s.cleaned) || ' ', ' ' || g.label || ' '))
),
und AS (
  SELECT subj AS a, obj AS b FROM edges
  UNION SELECT obj, subj FROM edges
),
reach(node, r) AS (
  SELECT DISTINCT a, a FROM und
  UNION
  SELECT reach.node, und.b FROM reach JOIN und ON reach.r = und.a
),
comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node)
SELECT component, COUNT(*) AS n_nodes FROM comp GROUP BY component
ORDER BY n_nodes DESC, component ASC
""",
)

# Same sizes via the large-star/small-star contraction variant (the
# high-diameter scale path, operators/graph.py) - identical oracle: both
# algorithms must agree with the recursive-CTE transitive closure.
_register(
    "mention_component_sizes_contraction",
    lambda spark, sf: _mention_component_sizes(spark, sf, contraction=True),
    ORACLES["mention_component_sizes"],
)


# ---------------------------------------------------------------------------
# Multimodal feature stats (operators/multimodal.py): the deterministic
# synthetic media table runs through the Arrow-batched mapInPandas
# feature extractor; the oracle reproduces payload + feature arithmetic
# exactly (sha256-derived fake decode, 2-byte folds / 65536).
# ---------------------------------------------------------------------------


def _media_feature_stats(spark, sf):
    from ..operators import multimodal as MM

    del sf  # the media table is synthesized (no testdata analog)
    feats = MM.extract_features(MM.synth_media(spark, n=64, seed=42))
    return feats.groupBy("kind").agg(
        F.count("*").alias("n"),
        F.sum("n_bytes").alias("n_bytes_total"),
        (
            F.floor(
                F.avg(F.element_at("features", 1).cast("double")) * 10000.0
                + F.lit(0.5)
            )
            / 10000.0
        ).alias("f0_avg"),
        (
            F.floor(
                F.avg(F.element_at("features", 16).cast("double"))
                * 10000.0
                + F.lit(0.5)
            )
            / 10000.0
        ).alias("f15_avg"),
    )


_register(
    "media_feature_stats",
    _media_feature_stats,
    """
WITH m AS (
  SELECT range AS id,
    (['image', 'audio', 'video'])[CAST(range % 3 + 1 AS INTEGER)] AS kind,
    sha256(concat('payload:42:', CAST(range AS VARCHAR))) AS payload_hex
  FROM range(64)
),
f AS (
  SELECT kind, length(payload_hex) AS n_bytes,
    CAST(CAST(concat('0x', substr(sha256(payload_hex), 1, 4)) AS BIGINT)
         AS DOUBLE) / 65536.0 AS f0,
    CAST(CAST(concat('0x', substr(sha256(payload_hex), 61, 4)) AS BIGINT)
         AS DOUBLE) / 65536.0 AS f15
  FROM m
)
SELECT kind, COUNT(*) AS n, CAST(SUM(n_bytes) AS BIGINT) AS n_bytes_total,
  floor(AVG(f0) * 10000.0 + 0.5) / 10000.0 AS f0_avg,
  floor(AVG(f15) * 10000.0 + 0.5) / 10000.0 AS f15_avg
FROM f GROUP BY kind
""",
)


# Real container-header decode (round-5 close of the multimodal stub):
# synth_media_real plants width/height inside structurally VALID
# PNG/JPEG byte streams; extract_features(decoder="real") parses them
# back with the pure-Python IHDR/SOFn walker inside the Arrow kernel.
# The oracle is the planted arithmetic itself - any parsing error
# (offset, endianness, marker walk, SOF0-vs-SOF2) breaks the hash.


def _media_feature_stats_real(spark, sf):
    from ..operators import multimodal as MM

    del sf  # synthesized fixture (no testdata analog)
    feats = MM.extract_features(
        MM.synth_media_real(spark, n=64, seed=42), decoder="real"
    )
    return feats.groupBy("format").agg(
        F.count("*").alias("n"),
        F.sum("n_bytes").alias("total_bytes"),
        F.sum("decoded_width").alias("total_width"),
        F.sum("decoded_height").alias("total_height"),
    )


def _media_real_oracle() -> str:
    from ..operators import multimodal as MM

    return f"""
WITH m AS (
  SELECT range AS id,
    CASE WHEN range % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
    range % 300 + 16 AS w, range % 200 + 16 AS h
  FROM range(64)
)
SELECT format, COUNT(*) AS n,
  CAST(SUM(CASE WHEN format = 'png' THEN {MM.PNG_TOTAL_BYTES}
           ELSE {MM.JPEG_TOTAL_BYTES} END) AS BIGINT) AS total_bytes,
  CAST(SUM(w) AS BIGINT) AS total_width,
  CAST(SUM(h) AS BIGINT) AS total_height
FROM m GROUP BY format
"""


_register(
    "media_feature_stats_real",
    _media_feature_stats_real,
    _media_real_oracle(),
)


# IVF ANN (MLlib KMeans coarse quantizer), PARTIAL probe, exact oracle.
# Rounds 1-4 registered this over the sf embeddings where partial-probe
# top-k on near-random vectors is inherently approximate (no oracle
# possible; the driver recorded a rows-only check).  Round 5 moves the
# registration onto sources/synth.clustered_embeddings - 8 planted,
# well-separated clusters where 1-probe top-10 PROVABLY equals brute
# force (pinned by ivf_recall_at_10 == 1.0 and test_similarity.py) -
# so the exact brute-force cosine SQL over the identically-synthesized
# vectors is a valid oracle and the hard correctness signal carries
# zero `err` rows.  The sf-scale partial-probe variant remains a bench
# entry (bench.py ivf_build/ivf_query) where approximate is the point.


def _embedding_ivf_top10(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.synth import clustered_embeddings

    del sf  # planted fixture: partial-probe == brute force by design
    return SIM.ivf_topk(
        clustered_embeddings(spark), query_vec_id=0, k=10,
        n_cells=8, n_probe=1, index_tag="planted8",
    )


def _clustered_emb_sql(
    n_clusters: int = 8, per_cluster: int = 50, dim: int = 16
) -> str:
    """DuckDB twin of sources/synth.clustered_embeddings: identical
    md5 -> uint32 -> U(-1,1) arithmetic, center + 0.01*jitter in double,
    narrowed to FLOAT exactly as Spark's .cast("float"), then widened
    back to DOUBLE for the cosine (matching _to_double on the Spark
    side) - the vectors are bit-identical across engines."""

    def unit(tag: str, a: str, b: int) -> str:
        return (
            f"(CAST(concat('0x', substr(md5(concat_ws(':', '{tag}', "
            f"{a}, {b})), 1, 8)) AS BIGINT) / 4294967295.0) * 2.0 - 1.0"
        )

    comps = ", ".join(
        f"CAST(CAST(({unit('ctr', 'label', d)}) + 0.01 * "
        f"({unit('jit', 'vec_id', d)}) AS FLOAT) AS DOUBLE)"
        for d in range(dim)
    )
    return (
        f"SELECT vec_id, [{comps}] AS v FROM (SELECT range AS vec_id, "
        f"CAST(range % {n_clusters} AS INTEGER) AS label "
        f"FROM range({n_clusters * per_cluster}))"
    )


_register(
    "embedding_ivf_top10",
    _embedding_ivf_top10,
    f"""
WITH emb AS ({_clustered_emb_sql()}),
q AS (SELECT v AS qv FROM emb WHERE vec_id = 0)
SELECT vec_id,
  floor(list_dot_product(v, qv) /
    (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv)))
    * 10000.0 + 0.5) / 10000.0 AS cosine
FROM emb, q WHERE vec_id <> 0
ORDER BY cosine DESC, vec_id ASC LIMIT 10
""",
)

# Driver-checkable IVF evidence (closes the one oracle-free row): with
# n_probe == n_cells the probe set covers the whole index, so the IVF
# READ PATH - cell-partitioned write, partition-pruned scan, query-id
# exclusion, double-cast cosine, (cosine DESC, vec_id ASC) ordering -
# must reproduce the brute-force top-10 EXACTLY; any row lost or
# duplicated by the partitioned index write, or any arithmetic drift in
# the index path, breaks the value hash.  The oracle is the brute-force
# SQL itself.
_register(
    "ivf_full_probe_top10",
    lambda spark, sf: SIM.ivf_topk(
        _read(spark, sf, "embeddings"), query_vec_id=0, k=10,
        n_cells=16, n_probe=16, index_tag=sf,
    ).select(
        "vec_id", F.col("cosine").cast("double").alias("cosine")
    ),
    ORACLES["embedding_cosine_top10"],
)


# Incremental index maintenance (round 5): build the IVF index over
# HALF the corpus, append the other half under the frozen quantizer
# (similarity.append_ivf_index - no KMeans refit), then full-probe
# query.  The appended index must reproduce the brute-force top-10 over
# the WHOLE table exactly - any vector lost, double-written, or
# mis-assigned by the pure-column-algebra cell assignment breaks the
# value hash.  Oracle: the same brute-force cosine SQL.

_IVF_APPEND_MEMO: dict = {}


def _ivf_append_full_probe(spark: SparkSession, sf: str) -> DataFrame:
    import hashlib

    emb = _read(spark, sf, "embeddings")
    key = (spark.sparkContext.applicationId, sf)
    index = _IVF_APPEND_MEMO.get(key)
    if index is None:
        suffix = hashlib.sha256(repr(key).encode()).hexdigest()[:16]
        index = SIM.build_ivf_index(
            emb.filter(F.col("vec_id") % 2 == 0),
            f"/tmp/ivf_append_{suffix}",
            n_cells=16,
        )
        SIM.append_ivf_index(index, emb.filter(F.col("vec_id") % 2 == 1))
        _IVF_APPEND_MEMO[key] = index
    qv = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]
    ]
    return SIM.ivf_query(
        spark, index, qv, k=10, n_probe=16, exclude_id=0
    ).select("vec_id", F.col("cosine").cast("double").alias("cosine"))


_register(
    "ivf_append_full_probe_top10",
    _ivf_append_full_probe,
    ORACLES["embedding_cosine_top10"],
)


# ---------------------------------------------------------------------------
# Temporal operators (operators/temporal.py): as-of join and gap-based
# sessionization - engine extensions the reference corpus has no analog
# for; both single-shuffle window compositions (PLANS.md).
# ---------------------------------------------------------------------------

from ..operators.temporal import asof_join, sessionize  # noqa: E402


def _purchase_last_view(spark, sf):
    ev = _read(spark, sf, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id"
    )
    j = asof_join(
        purchases, views, key="user_id", left_ts="ts", right_ts="ts",
        payload=["event_id", "ts"],
    )
    # nulls (no prior view) are coalesced to sentinels on BOTH sides so
    # pandas never widens the id column to float
    return j.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
        F.coalesce(F.col("event_id_asof"), F.lit(-1)).alias("view_id"),
        F.coalesce(
            F.date_format("ts_asof", "yyyy-MM-dd HH:mm:ss"),
            F.lit("never"),
        ).alias("view_ts"),
    )


_register(
    "purchase_last_view_asof",
    _purchase_last_view,
    """
SELECT a.event_id AS purchase_id, a.user_id AS user_id,
  strftime(a.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
  COALESCE(b.event_id, -1) AS view_id,
  COALESCE(strftime(b.ts, '%Y-%m-%d %H:%M:%S'), 'never') AS view_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') a
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') b
  ON a.user_id = b.user_id AND a.ts >= b.ts
""",
)


def _user_sessions(spark, sf):
    ev = _read(spark, sf, "events")
    s = sessionize(ev, key="user_id", ts="ts", gap_seconds=1800)
    return s.groupBy("user_id", "session_idx").agg(
        F.count("*").alias("n_events"),
        F.date_format(F.min("ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "session_start"
        ),
        F.date_format(F.max("ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "session_end"
        ),
        F.sum(F.col("value").cast(_DEC)).cast("double").alias(
            "total_value"
        ),
    )


_register(
    "user_sessions",
    _user_sessions,
    """
WITH o AS (
  SELECT user_id, ts, value,
    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
         OR epoch_us(ts) - epoch_us(lag(ts) OVER
             (PARTITION BY user_id ORDER BY ts)) > 1800000000
         THEN 1 ELSE 0 END AS is_new
  FROM events
),
s AS (
  SELECT user_id, ts, value,
    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT)
      AS session_idx
  FROM o
)
SELECT user_id, session_idx, COUNT(*) AS n_events,
  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
  strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM s GROUP BY user_id, session_idx
""",
)


# ROLLUP aggregation (subtotal + grand-total rows); NULL group markers
# coalesced to 'ALL' on both sides so pandas string compare is stable.
_register(
    "lineitem_rollup",
    lambda spark, sf: _read(spark, sf, "lineitem")
    .rollup("l_returnflag", "l_linestatus")
    .agg(
        F.count("*").alias("n"),
        F.sum(F.col("l_quantity").cast(_DEC)).cast("double").alias(
            "sum_qty"
        ),
    )
    .select(
        F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias(
            "l_returnflag"
        ),
        F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias(
            "l_linestatus"
        ),
        "n",
        "sum_qty",
    ),
    "SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag, "
    "COALESCE(l_linestatus, 'ALL') AS l_linestatus, COUNT(*) AS n, "
    "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty "
    "FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)",
)


# ---------------------------------------------------------------------------
# Percentiles (exact, interpolated - Spark `percentile` == DuckDB
# quantile_cont) and multi-window ranking - Q-class breadth beyond the
# reference's aggregate surface.
# ---------------------------------------------------------------------------

_register(
    "event_value_percentiles",
    lambda spark, sf: _read(spark, sf, "events")
    .groupBy("event_type")
    .agg(
        F.expr(
            "percentile(value, array(0.25, 0.5, 0.9))"
        ).alias("__p")
    )
    .select(
        "event_type",
        (F.floor(F.element_at("__p", 1) * 10000.0 + F.lit(0.5)) / 10000.0)
        .alias("p25"),
        (F.floor(F.element_at("__p", 2) * 10000.0 + F.lit(0.5)) / 10000.0)
        .alias("p50"),
        (F.floor(F.element_at("__p", 3) * 10000.0 + F.lit(0.5)) / 10000.0)
        .alias("p90"),
    ),
    "SELECT event_type, "
    "floor(quantile_cont(value, 0.25) * 10000.0 + 0.5) / 10000.0 AS p25, "
    "floor(quantile_cont(value, 0.5) * 10000.0 + 0.5) / 10000.0 AS p50, "
    "floor(quantile_cont(value, 0.9) * 10000.0 + 0.5) / 10000.0 AS p90 "
    "FROM events GROUP BY event_type",
)


def _events_ranked(spark, sf):
    ev = _read(spark, sf, "events")
    by_value = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id").asc()
    )
    by_time = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    return ev.select(
        "user_id",
        "event_id",
        F.rank().over(by_value).alias("value_rank"),
        F.dense_rank().over(by_value).alias("value_dense_rank"),
        F.coalesce(F.lag("event_id").over(by_time), F.lit(-1)).alias(
            "prev_event_id"
        ),
    )


_register(
    "events_ranked",
    _events_ranked,
    "SELECT user_id, event_id, "
    "CAST(RANK() OVER (PARTITION BY user_id ORDER BY value DESC, "
    "event_id ASC) AS INTEGER) AS value_rank, "
    "CAST(DENSE_RANK() OVER (PARTITION BY user_id ORDER BY value DESC, "
    "event_id ASC) AS INTEGER) AS value_dense_rank, "
    "COALESCE(LAG(event_id) OVER (PARTITION BY user_id ORDER BY ts ASC, "
    "event_id ASC), -1) AS prev_event_id "
    "FROM events",
)


# ---------------------------------------------------------------------------
# Operator composition: the near-dup suite applied to the PIPELINE
# OUTPUT (canonical sentences) rather than a source table - verified
# MinHash-LSH near-dup sentence pairs, the dedup a curation pipeline
# would run between KG construction and training-data export.
# ---------------------------------------------------------------------------


def _sentence_neardup(spark, sf):
    s = _sentences(spark, sf).select(
        F.col("sentence_id").alias("doc_id"),
        F.col("cleaned").alias("text"),
    )
    return (
        ND.lsh_verified_pairs(s, threshold=0.5)
        .select(
            F.col("doc_a").alias("sent_a"),
            F.col("doc_b").alias("sent_b"),
            "jaccard",
        )
    )


_register(
    "sentence_neardup_pairs",
    _sentence_neardup,
    f"""
WITH {sentence_ctes()},
docs2 AS (SELECT sentence_id AS doc_id, cleaned AS text FROM sentences),
sig AS (SELECT doc_id, {_MH_COLS_SQL} FROM docs2),
bands AS ({_LSH_BAND_SQL}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_key = b.band_key AND a.doc_id < b.doc_id
),
sh AS (SELECT doc_id, unnest({_SHINGLES_SQL}) AS shingle FROM docs2),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS i
  FROM cand c JOIN sh a ON a.doc_id = c.doc_a
  JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY c.doc_a, c.doc_b
)
SELECT doc_a AS sent_a, doc_b AS sent_b,
  floor(CAST(i AS DOUBLE) / (sa.n + sb.n - i) * 10000.0 + 0.5) / 10000.0
    AS jaccard
FROM inter JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE floor(CAST(i AS DOUBLE) / (sa.n + sb.n - i) * 10000.0 + 0.5)
  / 10000.0 >= 0.5
""",
)


# ---------------------------------------------------------------------------
# Join-shaped gazetteer NER at production dictionary scale
# ---------------------------------------------------------------------------
# The default demo-dict path (columns.mentions_col) is one codegen'd
# `contains` per term - term-count-bound.  This query runs the SAME
# mention-edge semantics through pipeline.mention_rows_join against the
# ~100k-entry synthetic gazetteer (sources/dims.py): n-gram explode +
# ONE broadcast hash join, dictionary-size-independent.  The synthetic
# padding terms are 'zner'-prefixed and digit-free, so they provably
# cannot match any corpus or planted token - the match set is exactly
# the demo dict's, which is what makes the mention_edges oracle exact.


def _mention_edges_join_100k(spark: SparkSession, sf: str) -> DataFrame:
    gaz = dims.synthetic_gazetteer(spark, 100_000)
    s = _sentences(spark, sf)
    return P.mention_edges(s, P.mention_rows_join(s, gaz, max_term_words=2))


_register(
    "mention_edges_gazetteer_join_100k",
    _mention_edges_join_100k,
    ORACLES["mention_edges"],
)


def _triples_mentions_dispatch_100k(spark: SparkSession, sf: str) -> DataFrame:
    """The DEFAULT graph build (pipeline.triples) fed a production-sized
    100k-term gazetteer: mention_rows dispatches by dictionary size to
    the broadcast n-gram join matcher (round-5 close of the
    demo-dict-only default path), deriving+validating max_term_words
    from the dict itself.  Filtering the union to pred='mentions'
    constant-folds the other five branches away, so the oracle is the
    exact mention_edges SQL - the synthetic pad terms ('zner' prefix)
    provably cannot match corpus tokens."""
    gaz = dims.synthetic_gazetteer(spark, 100_000)
    t = P.triples(spark, _docs(spark, sf), cache=False, gazetteer=gaz)
    return t.filter(F.col("pred") == S.PRED_MENTIONS)


_register(
    "triples_mentions_dispatch_100k",
    _triples_mentions_dispatch_100k,
    ORACLES["mention_edges"],
)


# ---------------------------------------------------------------------------
# Watermark late-data evidence through a REAL micro-batch stream
# ---------------------------------------------------------------------------
# windowed_event_counts above is oracle-checked as a batch frame, where
# the watermark is a no-op.  This twin replays the same aggregation
# through an actual file-source stream (streaming/incremental.py:
# replay_windowed_counts): the 50 earliest events arrive LAST, days
# after the watermark passed their windows, so the stateful aggregation
# must drop exactly those - the oracle is the batch aggregation over
# events with the 50 earliest rows excluded.

from ..streaming.incremental import replay_windowed_counts  # noqa: E402

_register(
    "windowed_event_counts_late_dropped",
    lambda spark, sf: replay_windowed_counts(
        spark, _read(spark, sf, "events"), "10 minutes", "30 minutes",
        n_slices=3, n_late=50,
    ).select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        F.date_format("window_end", "yyyy-MM-dd HH:mm:ss").alias(
            "window_end"
        ),
        "event_type",
        "n",
        "total_value",
    ),
    "WITH ranked AS (SELECT *, row_number() OVER (ORDER BY ts, event_id) "
    "AS rn FROM events) "
    "SELECT strftime(time_bucket(INTERVAL '10 minutes', ts), "
    "'%Y-%m-%d %H:%M:%S') AS window_start, "
    "strftime(time_bucket(INTERVAL '10 minutes', ts) + "
    "INTERVAL '10 minutes', '%Y-%m-%d %H:%M:%S') AS window_end, "
    "event_type, COUNT(*) AS n, "
    "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value "
    "FROM ranked WHERE rn > 50 GROUP BY 1, 2, event_type",
)


# ---------------------------------------------------------------------------
# Deterministic IVF partial-probe recall (planted clusters)
# ---------------------------------------------------------------------------
# On near-random vectors partial-probe recall is honest but unstable
# (0.2-1.0).  sources/synth.clustered_embeddings plants 8 well-separated
# clusters with ~0.01 jitter, so the KMeans quantizer recovers the
# planted partition and 1-probe recall@10 is exactly 1.0 - turning the
# last rows-only ANN entry into a constant-oracle equality.  The two
# 10-row collects are bounded driver metadata, not a distributed-loop
# antipattern.


def _ivf_recall_at_10(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators import similarity as SIM
    from ..sources.synth import clustered_embeddings

    emb = clustered_embeddings(spark)
    exact = {r["vec_id"] for r in SIM.cosine_topk(emb, 0, k=10).collect()}
    approx = {
        r["vec_id"]
        for r in SIM.ivf_topk(
            emb, 0, k=10, n_cells=8, n_probe=1, index_tag="recall_fixture"
        ).collect()
    }
    recall = len(exact & approx) / 10.0
    return spark.createDataFrame([(float(recall),)], "recall double")


_register(
    "ivf_recall_at_10",
    _ivf_recall_at_10,
    "SELECT CAST(1.0 AS DOUBLE) AS recall",
)


# ---------------------------------------------------------------------------
# Serving-path lookups from the materialized at-rest layout
# ---------------------------------------------------------------------------
# lookup_simple_token/lookup_compound_token answer from the pipeline
# frames; these twins materialize the bucketed+partitioned serving
# tables into a temp lake ONCE per (session, sf) and answer via
# lookup_from_catalog (broadcast id probe -> zero-Exchange bucketed
# semi-joins / lang partition pruning), against the SAME oracles - the
# at-rest serving path as a driver artifact, not just pytest.

_SERVE_MEMO: dict = {}


def _served_catalog(spark: SparkSession, sf: str):
    """(catalog, table_prefix) for a serving lake built from ``sf``.
    Bucketed tables live in the SESSION catalog (saveAsTable), so the
    prefix carries an sf tag - one session serving several sf_dirs
    (tools/parity.py sweeps) must not overwrite one lake's table names
    with another's."""
    import hashlib
    import tempfile

    from ..sources.tables import ParquetCatalog

    key = (spark.sparkContext.applicationId, sf)
    if key not in _SERVE_MEMO:
        prefix = f"srv{hashlib.sha256(sf.encode()).hexdigest()[:8]}_"
        cat = ParquetCatalog(
            spark, tempfile.mkdtemp(prefix="sgraft_serve_lake_")
        )
        L.materialize_serving_tables(
            spark, _docs(spark, sf), cat, prefix=prefix
        )
        _SERVE_MEMO[key] = (cat, prefix)
    return _SERVE_MEMO[key]


def _lookup_served(spark, sf, token, limit, offset):
    cat, prefix = _served_catalog(spark, sf)
    return L.lookup_from_catalog(
        spark, cat, token, "Q1084", "en",
        limit=limit, offset=offset, prefix=prefix,
    )


_register(
    "lookup_simple_token_served",
    lambda spark, sf: _lookup_served(spark, sf, "scan", 20, 5),
    ORACLES["lookup_simple_token"],
)

_register(
    "lookup_compound_token_served",
    lambda spark, sf: _lookup_served(spark, sf, "table scan", 20, 0),
    ORACLES["lookup_compound_token"],
)


# ---------------------------------------------------------------------------
# Curation operators: repetition signals, decontamination, stratified
# sampling (operators/curation.py)
# ---------------------------------------------------------------------------

from ..operators import curation as CU  # noqa: E402


def _all_grams_sql(k: int) -> str:
    return (
        f"list_transform(range(0, len({_WORDS_SQL}) - {k} + 1), "
        f"i -> array_to_string(list_slice({_WORDS_SQL}, i + 1, i + {k}), "
        "' '))"
    )


_LINES_SQL = (
    "list_filter(list_transform(string_split(text, chr(10)), "
    "x -> trim(x)), x -> x <> '')"
)


def _dup_ratio_sql(arr: str) -> str:
    return (
        f"floor((CASE WHEN len({arr}) = 0 THEN 0.0 ELSE "
        f"CAST(len({arr}) - len(list_distinct({arr})) AS DOUBLE) "
        f"/ len({arr}) END) * 10000.0 + 0.5) / 10000.0"
    )


_register(
    "doc_repetition_stats",
    lambda spark, sf: CU.repetition_stats(_read(spark, sf, "documents")),
    "WITH g AS (SELECT doc_id, "
    f"{_all_grams_sql(CU.REPETITION_K)} AS grams, {_LINES_SQL} AS lines "
    "FROM documents) "
    "SELECT doc_id, len(grams) AS total_ngrams, "
    f"{_dup_ratio_sql('grams')} AS dup_ngram_ratio, "
    "len(lines) AS total_lines, "
    f"{_dup_ratio_sql('lines')} AS dup_line_ratio FROM g",
)


def _decontaminated_corpus_stats(spark: SparkSession, sf: str) -> DataFrame:
    docs = _read(spark, sf, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    bad = CU.contaminated_doc_ids(docs, bench).withColumn("c", F.lit(1))
    return docs.join(bad, "doc_id", "left").agg(
        F.count("*").alias("total_docs"),
        F.sum(F.coalesce("c", F.lit(0))).alias("contaminated_docs"),
        (F.count("*") - F.sum(F.coalesce("c", F.lit(0)))).alias(
            "surviving_docs"
        ),
    )


_register(
    "decontaminated_corpus_stats",
    _decontaminated_corpus_stats,
    "WITH sh AS (SELECT doc_id, unnest(list_distinct("
    f"{_all_grams_sql(CU.DECONTAM_K)})) AS s FROM documents), "
    "bad AS (SELECT DISTINCT doc_id FROM sh WHERE s IN "
    "(SELECT s FROM sh WHERE doc_id % 97 = 0)) "
    "SELECT (SELECT COUNT(*) FROM documents) AS total_docs, "
    "(SELECT COUNT(*) FROM bad) AS contaminated_docs, "
    "(SELECT COUNT(*) FROM documents) - (SELECT COUNT(*) FROM bad) "
    "AS surviving_docs",
)

_MIX_WEIGHTS = {"src0": 1.0, "src1": 0.5, "src2": 0.25}

_register(
    "stratified_sample_by_source",
    lambda spark, sf: CU.stratified_sample(
        _read(spark, sf, "documents"), _MIX_WEIGHTS
    )
    .groupBy("source")
    .agg(F.count("*").alias("n")),
    "SELECT source, COUNT(*) AS n FROM documents "
    "WHERE (CASE source WHEN 'src0' THEN 1000000 WHEN 'src1' THEN 500000 "
    "WHEN 'src2' THEN 250000 END) IS NOT NULL "
    "AND (CAST(concat('0x', substr(md5('samp:' || "
    "CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % "
    f"{CU.SAMPLE_MOD}) < (CASE source WHEN 'src0' THEN 1000000 "
    "WHEN 'src1' THEN 500000 WHEN 'src2' THEN 250000 END) "
    "GROUP BY source",
)


# Per-source corpus stats - the aggregate a mixture designer reads
# before choosing stratified_sample weights: doc and token mass plus
# mean quality per source.  One hash aggregate.
_register(
    "source_mixture_stats",
    lambda spark, sf: _read(spark, sf, "documents")
    .select(
        "source",
        TS.bpe_token_count_col(F.col("text")).alias("t"),
        TS.quality_score_col(F.col("text")).alias("q"),
    )
    .groupBy("source")
    .agg(
        F.count("*").alias("n_docs"),
        F.sum("t").alias("total_bpe_tokens"),
        (F.floor(F.avg("q") * 10000.0 + F.lit(0.5)) / 10000.0).alias(
            "avg_quality"
        ),
    ),
    "WITH t AS (SELECT source, "
    f"len(regexp_extract_all(text, '{TS.BPE_RE}')) AS t, "
    "floor(greatest(0.0, least(1.0, "
    "least(CAST(len(list_filter(string_split_regex(text, "
    "'[\\t\\n\\f\\r\\x0B ]+'), w -> w <> '')) AS DOUBLE) / 100.0, 1.0) "
    "- (CASE WHEN length(text) = 0 THEN 0.0 ELSE "
    "floor(CAST(len(regexp_extract_all(text, '[!-/:-@\\[-`{-~]')) "
    "AS DOUBLE) / length(text) * 10000.0 + 0.5) / 10000.0 END) * 2.0)) "
    "* 10000.0 + 0.5) / 10000.0 AS q FROM documents) "
    "SELECT source, COUNT(*) AS n_docs, "
    "CAST(SUM(t) AS BIGINT) AS total_bpe_tokens, "
    "floor(AVG(q) * 10000.0 + 0.5) / 10000.0 AS avg_quality "
    "FROM t GROUP BY source",
)


# ---------------------------------------------------------------------------
# PII redaction (operators/curation.redact_pii)
# ---------------------------------------------------------------------------
# The driver corpus is PII-free lorem, so the query PLANTS deterministic
# PII (emails on doc_id % 7, an IPv4 + an international phone on
# doc_id % 11 - CASE order fixed, mirrored verbatim in the oracle) and
# aggregates per-class redaction counts plus the redacted-length delta,
# which pins the actual replacement text, not just the match counts.
# Patterns live in the Java-regex/RE2 common subset so both engines
# apply identical expressions; zero shuffle beyond the final aggregate.


def _pii_planted(spark: SparkSession, sf: str) -> DataFrame:
    d = _read(spark, sf, "documents").select("doc_id", "source", "text")
    return d.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com now"),
            ),
        )
        .when(
            F.col("doc_id") % 11 == 0,
            F.concat(
                F.col("text"),
                F.lit(" from 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".1 at +4670123"),
                (F.col("doc_id") % 1000).cast("string"),
            ),
        )
        .otherwise(F.col("text")),
    )


def _pii_redaction_stats(spark: SparkSession, sf: str) -> DataFrame:
    red = CU.redact_pii(_pii_planted(spark, sf))
    return red.groupBy("source").agg(
        F.sum("n_emails").alias("emails"),
        F.sum("n_ips").alias("ips"),
        F.sum("n_phones").alias("phones"),
        F.sum(
            F.when(
                F.col("n_emails") + F.col("n_ips") + F.col("n_phones") > 0,
                1,
            ).otherwise(0)
        ).alias("docs_with_pii"),
        F.sum(
            F.length("redacted_text") - F.length("text")
        ).alias("len_delta"),
    )


_PII_PLANT_SQL = (
    "SELECT doc_id, source, CASE "
    "WHEN doc_id % 7 = 0 THEN text || ' contact user' || "
    "CAST(doc_id AS VARCHAR) || '@example.com now' "
    "WHEN doc_id % 11 = 0 THEN text || ' from 10.0.' || "
    "CAST(doc_id % 256 AS VARCHAR) || '.1 at +4670123' || "
    "CAST(doc_id % 1000 AS VARCHAR) "
    "ELSE text END AS text FROM documents"
)

_register(
    "pii_redaction_stats",
    _pii_redaction_stats,
    "WITH planted AS ("
    f"{_PII_PLANT_SQL}"
    "), red AS (SELECT source, "
    f"len(regexp_extract_all(text, '{CU.PII_EMAIL_RE}')) AS n_emails, "
    f"len(regexp_extract_all(text, '{CU.PII_IPV4_RE}')) AS n_ips, "
    f"len(regexp_extract_all(text, '{CU.PII_PHONE_RE}')) AS n_phones, "
    "length(regexp_replace(regexp_replace(regexp_replace(text, "
    f"'{CU.PII_EMAIL_RE}', '<EMAIL>', 'g'), "
    f"'{CU.PII_IPV4_RE}', '<IP>', 'g'), "
    f"'{CU.PII_PHONE_RE}', '<PHONE>', 'g')) - length(text) AS len_delta "
    "FROM planted) "
    "SELECT source, CAST(SUM(n_emails) AS BIGINT) AS emails, "
    "CAST(SUM(n_ips) AS BIGINT) AS ips, "
    "CAST(SUM(n_phones) AS BIGINT) AS phones, "
    "CAST(SUM(CASE WHEN n_emails + n_ips + n_phones > 0 THEN 1 ELSE 0 "
    "END) AS BIGINT) AS docs_with_pii, "
    "CAST(SUM(len_delta) AS BIGINT) AS len_delta "
    "FROM red GROUP BY source",
)


# ---------------------------------------------------------------------------
# Paragraph-level keep-first dedup with document reassembly
# (operators/curation.dedup_paragraphs)
# ---------------------------------------------------------------------------
# The lorem corpus is single-paragraph, so the query PLANTS structure:
# each doc becomes (own prefix \n shared boilerplate footer \n own
# slice) - the shared footer survives only in its first global
# occurrence, everything else reassembles around the gap.  The result
# rows carry the reassembled text VERBATIM (doc_id % 17 sample), so the
# value hash pins paragraph identity, keep-first choice, and
# reassembly order, not just counts.


_PARA_SHARED = "all rights reserved boilerplate footer"


def _para_planted(spark: SparkSession, sf: str) -> DataFrame:
    return _read(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.substring("text", 1, 100),
            F.lit("\n"),
            F.lit(_PARA_SHARED),
            F.lit("\n"),
            F.substring("text", 51, 90),
        ).alias("text"),
    )


def _paragraph_dedup_docs(spark: SparkSession, sf: str) -> DataFrame:
    out = CU.dedup_paragraphs(_para_planted(spark, sf))
    return out.filter(F.col("doc_id") % 17 == 0).select(
        "doc_id",
        "text_dedup",
        F.col("n_paras").cast("bigint").alias("n_paras"),
        F.col("n_kept").cast("bigint").alias("n_kept"),
    )


_register(
    "paragraph_dedup_docs",
    _paragraph_dedup_docs,
    "WITH planted AS (SELECT doc_id, "
    "substr(text, 1, 100) || chr(10) || "
    f"'{_PARA_SHARED}' || chr(10) || "
    "substr(text, 51, 90) AS text FROM documents), "
    "lists AS (SELECT doc_id, "
    "list_filter(list_transform(string_split_regex(text, '\\n+'), "
    "x -> trim(x)), x -> x <> '') AS ps FROM planted), "
    "paras AS (SELECT doc_id, unnest(range(len(ps))) AS pos, "
    "unnest(ps) AS para FROM lists), "
    "keyed AS (SELECT doc_id, pos, para, "
    "trim(regexp_replace(lower(para), '\\s+', ' ', 'g')) AS pkey "
    "FROM paras), "
    "kept AS (SELECT doc_id, pos, para FROM (SELECT *, "
    "row_number() OVER (PARTITION BY pkey ORDER BY doc_id, pos) AS rn "
    "FROM keyed) WHERE rn = 1), "
    "rebuilt AS (SELECT doc_id, "
    "string_agg(para, chr(10) ORDER BY pos) AS text_dedup, "
    "COUNT(*) AS n_kept FROM kept GROUP BY doc_id) "
    "SELECT s.doc_id, COALESCE(r.text_dedup, '') AS text_dedup, "
    "CAST(len(s.ps) AS BIGINT) AS n_paras, "
    "CAST(COALESCE(r.n_kept, 0) AS BIGINT) AS n_kept "
    "FROM lists s LEFT JOIN rebuilt r USING (doc_id) "
    "WHERE s.doc_id % 17 = 0",
)


# ---------------------------------------------------------------------------
# Sequence packing (distributed prefix sum; operators/packing.py)
# ---------------------------------------------------------------------------
# Bin stats of contiguous 4096-BPE-token packing over documents in
# doc_id order.  The Spark side uses the two-phase range-partitioned
# prefix sum (NO single-partition global window); the oracle is the
# equivalent SUM() OVER (ORDER BY) arithmetic.

from ..operators import packing as PK  # noqa: E402

_PACK_CAPACITY = 4096


def _token_packing_bins(spark: SparkSession, sf: str) -> DataFrame:
    docs = _read(spark, sf, "documents").select(
        "doc_id",
        TS.bpe_token_count_col(F.col("text")).alias("tokens"),
    )
    packed = PK.pack_into_bins(docs, _PACK_CAPACITY)
    return packed.groupBy("bin").agg(
        F.count("*").alias("n_docs"),
        F.sum("tokens").alias("bin_tokens"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


_register(
    "token_packing_bins",
    _token_packing_bins,
    "WITH t AS (SELECT doc_id, "
    f"len(regexp_extract_all(text, '{TS.BPE_RE}')) AS tokens "
    "FROM documents), "
    "p AS (SELECT doc_id, tokens, "
    "SUM(tokens) OVER (ORDER BY doc_id) AS prefix FROM t) "
    f"SELECT CAST(floor(CAST(prefix - tokens AS DOUBLE) / {_PACK_CAPACITY}) "
    "AS BIGINT) AS bin, COUNT(*) AS n_docs, "
    "CAST(SUM(tokens) AS BIGINT) AS bin_tokens, "
    "MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc "
    "FROM p GROUP BY 1",
)


# ---------------------------------------------------------------------------
# Int8 scalar quantization for ANN storage (operators/similarity.py)
# ---------------------------------------------------------------------------
# The production memory/IO lever: a 100 TB float32 embedding corpus
# serves ANN from its int8 twin at 1/4 the bytes.  Round-half-up is the
# shared closed form (floor(x/s + 0.5)) because the engines' round()
# builtins disagree on negatives; every arithmetic step is reproduced
# verbatim in the oracle, so the hash pins the quantizer itself.

_register(
    "embedding_int8_cosine_top10",
    lambda spark, sf: SIM.int8_cosine_topk(
        _read(spark, sf, "embeddings"), query_vec_id=0, k=10
    ),
    """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
s AS (SELECT vec_id, v,
        list_max(list_transform(v, x -> abs(x))) / 127.0 AS sc FROM e),
d AS (SELECT vec_id,
        list_transform(v, x -> (CASE WHEN sc = 0 THEN 0.0
          ELSE floor(x / sc + 0.5) END) * sc) AS dv FROM s),
q AS (SELECT dv AS qv FROM d WHERE vec_id = 0)
SELECT vec_id,
  floor(list_dot_product(dv, qv) /
    (sqrt(list_dot_product(dv, dv)) * sqrt(list_dot_product(qv, qv)))
    * 10000.0 + 0.5) / 10000.0 AS cosine
FROM d, q WHERE vec_id <> 0
ORDER BY cosine DESC, vec_id ASC LIMIT 10
""",
)


# ---------------------------------------------------------------------------
# Fixed-length training-sequence windows (operators/packing.py)
# ---------------------------------------------------------------------------
# Long-document splitting: every document yields ceil(tokens/stride)
# overlapping windows of <= max_len tokens - pure sequence+explode,
# zero shuffle.  64/48 exercises truncated tails AND overlap.

_WIN_LEN, _WIN_STRIDE = 64, 48

_register(
    "doc_sequence_windows",
    lambda spark, sf: PK.sequence_windows(
        _read(spark, sf, "documents").select(
            "doc_id", TS.bpe_token_count_col(F.col("text")).alias("tokens")
        ),
        max_len=_WIN_LEN,
        stride=_WIN_STRIDE,
    ),
    "WITH t AS (SELECT doc_id, "
    f"len(regexp_extract_all(text, '{TS.BPE_RE}')) AS tokens "
    "FROM documents), "
    "w AS (SELECT doc_id, tokens, unnest(range(0, tokens, "
    f"{_WIN_STRIDE})) AS s FROM t WHERE tokens > 0) "
    f"SELECT doc_id, CAST(s // {_WIN_STRIDE} AS BIGINT) AS win_id, "
    "CAST(s AS BIGINT) AS start_tok, "
    f"CAST(least({_WIN_LEN}, tokens - s) AS BIGINT) AS win_len FROM w",
)


# ---------------------------------------------------------------------------
# The FULL curation chain as one driver artifact (plans/curate.py)
# ---------------------------------------------------------------------------
# curated_training_corpus (v1, above) predates the round-4 stages and
# composes quality -> exact dedup -> LSH -> hash sample.  v2 is the
# production shape: the EXACT stage chain jobs/curate_corpus.py runs
# (shared function, plans/curate.curation_stages - near-dup removal
# over the survivor set, per ADVICE r4) plus sequence packing, with
# per-stage survivor counts so every gate's bite is driver-visible.

from .curate import curation_stages  # noqa: E402


def _docs_with_planted_dups_v2(spark, sf):
    """Planted-dup corpus CARRYING source (the mixture-sample stage
    needs it); same +1e6 id scheme as _docs_with_planted_dups."""
    d = _read(spark, sf, "documents").select("doc_id", "text", "source")
    planted = d.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + F.lit(1_000_000)).alias("doc_id"),
        "text",
        "source",
    )
    return d.unionByName(planted)


_DOCS_PLANTED_V2_SQL = (
    "SELECT doc_id, text, source FROM documents UNION ALL "
    "SELECT doc_id + 1000000 AS doc_id, text, source FROM documents "
    "WHERE doc_id % 25 = 0"
)

# the same quality arithmetic as textstats.quality_score_col (and the
# v1/source_mixture_stats oracles), as a plain-string expression
_QUALITY_SQL = (
    "floor(greatest(0.0, least(1.0, "
    "least(CAST(len(list_filter(string_split_regex(text, "
    "'[\\t\\n\\f\\r\\x0B ]+'), w -> w <> '')) AS DOUBLE) / 100.0, 1.0) "
    "- (CASE WHEN length(text) = 0 THEN 0.0 ELSE "
    "floor(CAST(len(regexp_extract_all(text, '[!-/:-@\\[-`{-~]')) "
    "AS DOUBLE) / length(text) * 10000.0 + 0.5) / 10000.0 END) * 2.0)) "
    "* 10000.0 + 0.5) / 10000.0"
)

_V2_DUP_RATIO = 0.3
_V2_ND_THRESHOLD = 0.5


def _curated_corpus_v2(spark: SparkSession, sf: str) -> DataFrame:
    docs = _docs_with_planted_dups_v2(spark, sf)
    bench = docs.filter(F.col("doc_id") % 97 == 0).select("doc_id", "text")
    st = curation_stages(
        docs,
        min_quality=_CURATE_QUALITY,
        max_dup_ngram_ratio=_V2_DUP_RATIO,
        neardup_threshold=_V2_ND_THRESHOLD,
        benchmark=bench,
        weights=_MIX_WEIGHTS,
    )
    final = st["sample"]
    packed = PK.pack_into_bins(
        final.select("doc_id", F.col("bpe_tokens").alias("tokens")),
        _PACK_CAPACITY,
    )
    return (
        st["input"].agg(F.count("*").alias("n_input"))
        .crossJoin(st["quality_rep"].agg(F.count("*").alias("n_quality")))
        .crossJoin(
            st["exact_dedup"].agg(F.count("*").alias("n_after_exact"))
        )
        .crossJoin(st["neardup"].agg(F.count("*").alias("n_after_neardup")))
        .crossJoin(
            st["decontam"].agg(F.count("*").alias("n_after_decontam"))
        )
        .crossJoin(
            final.agg(
                F.count("*").alias("n_curated"),
                F.coalesce(F.sum("bpe_tokens"), F.lit(0))
                .cast("bigint")
                .alias("total_bpe_tokens"),
            )
        )
        .crossJoin(
            packed.agg(
                (F.coalesce(F.max("bin"), F.lit(-1)) + 1)
                .cast("bigint")
                .alias("n_bins")
            )
        )
    )


_CURATE_V2_SQL = (
    f"WITH docs2 AS ({_DOCS_PLANTED_V2_SQL}), "
    "stats AS (SELECT doc_id, text, source, "
    f"len(regexp_extract_all(text, '{TS.BPE_RE}')) AS bpe_tokens, "
    f"sha256({_NORM_SQL}) AS fingerprint, "
    f"{_QUALITY_SQL} AS quality, "
    f"{_dup_ratio_sql(_all_grams_sql(CU.REPETITION_K))} AS dup_ngram_ratio "
    "FROM docs2), "
    f"q AS (SELECT * FROM stats WHERE quality >= {_CURATE_QUALITY} "
    f"AND dup_ngram_ratio <= {_V2_DUP_RATIO}), "
    "keep AS (SELECT fingerprint, MIN(doc_id) AS doc_id FROM q "
    "GROUP BY fingerprint), "
    "d1 AS (SELECT q.* FROM q JOIN keep "
    "ON q.fingerprint = keep.fingerprint AND q.doc_id = keep.doc_id), "
    "d1docs AS (SELECT doc_id, text FROM d1), "
    f"{_lsh_verified_sql('d1docs', _V2_ND_THRESHOLD).lstrip().lstrip(chr(10))}, "
    "nd AS (SELECT DISTINCT doc_b AS doc_id FROM verified), "
    "d2 AS (SELECT * FROM d1 WHERE doc_id NOT IN (SELECT doc_id FROM nd)), "
    "dsh AS (SELECT doc_id, unnest(list_distinct("
    f"{_all_grams_sql(CU.DECONTAM_K)})) AS s FROM d2), "
    "bsh AS (SELECT DISTINCT unnest(list_distinct("
    f"{_all_grams_sql(CU.DECONTAM_K)})) AS s FROM docs2 "
    "WHERE doc_id % 97 = 0), "
    "bad AS (SELECT DISTINCT doc_id FROM dsh WHERE s IN "
    "(SELECT s FROM bsh)), "
    "d3 AS (SELECT * FROM d2 WHERE doc_id NOT IN "
    "(SELECT doc_id FROM bad)), "
    "d4 AS (SELECT * FROM d3 WHERE (CASE source WHEN 'src0' THEN 1000000 "
    "WHEN 'src1' THEN 500000 WHEN 'src2' THEN 250000 END) IS NOT NULL "
    "AND (CAST(concat('0x', substr(md5('samp:' || "
    "CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % "
    f"{CU.SAMPLE_MOD}) < (CASE source WHEN 'src0' THEN 1000000 "
    "WHEN 'src1' THEN 500000 WHEN 'src2' THEN 250000 END)), "
    "p AS (SELECT doc_id, bpe_tokens, "
    "SUM(bpe_tokens) OVER (ORDER BY doc_id) AS prefix FROM d4) "
    "SELECT (SELECT COUNT(*) FROM docs2) AS n_input, "
    "(SELECT COUNT(*) FROM q) AS n_quality, "
    "(SELECT COUNT(*) FROM d1) AS n_after_exact, "
    "(SELECT COUNT(*) FROM d2) AS n_after_neardup, "
    "(SELECT COUNT(*) FROM d3) AS n_after_decontam, "
    "(SELECT COUNT(*) FROM d4) AS n_curated, "
    "CAST((SELECT COALESCE(SUM(bpe_tokens), 0) FROM d4) AS BIGINT) "
    "AS total_bpe_tokens, "
    "CAST((SELECT COALESCE(MAX(CAST(floor(CAST(prefix - bpe_tokens "
    f"AS DOUBLE) / {_PACK_CAPACITY}) AS BIGINT)), -1) + 1 FROM p) "
    "AS BIGINT) AS n_bins"
)

_register(
    "curated_training_corpus_v2",
    _curated_corpus_v2,
    _CURATE_V2_SQL,
)


# ---------------------------------------------------------------------------
# PageRank over the mention graph (operators/graph.pagerank)
# ---------------------------------------------------------------------------
# Fixed-iteration synchronous PageRank (dangling mass dropped) on the
# sentence->entity mention edges; the oracle unrolls the identical
# recurrence as K chained CTEs, so the hash pins the per-iteration
# join+aggregate arithmetic itself, not just an ordering.  Both sides
# round half-up at 4 dp and order by (rounded rank, node).

from ..operators.graph import pagerank  # noqa: E402

_PR_DAMP = 0.85
_PR_ITER = 3


def _mention_pagerank_top20(spark: SparkSession, sf: str) -> DataFrame:
    edges = P.mention_edges(_sentences(spark, sf)).select("subj", "obj")
    pr = pagerank(edges, damping=_PR_DAMP, n_iter=_PR_ITER)
    return (
        pr.select(
            "node",
            (
                F.floor(F.col("rank") * 10000.0 + F.lit(0.5)) / 10000.0
            ).alias("pr_rank"),
        )
        .orderBy(F.col("pr_rank").desc(), F.col("node").asc())
        .limit(20)
    )


def _pagerank_sql(n_iter: int, damping: float) -> str:
    parts = [
        f"WITH {sentence_ctes()}, ",
        "edges AS (SELECT subj, obj FROM ("
        "SELECT DISTINCT s.sentence_id AS subj, "
        f"{_ENTITY_ID_SQL} AS obj "
        f"FROM sentences s, {gazetteer_values()} "
        "WHERE contains(' ' || lower(s.cleaned) || ' ', "
        "' ' || g.label || ' '))), ",
        "nodes AS (SELECT subj AS node FROM edges "
        "UNION SELECT obj FROM edges), ",
        "nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes), ",
        "od AS (SELECT subj AS node, COUNT(*) AS deg FROM edges "
        "GROUP BY subj), ",
        "r0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS r FROM nodes), ",
    ]
    base = f"(1.0 - {damping}) / (SELECT n FROM nn)"
    for k in range(1, n_iter + 1):
        parts.append(
            f"c{k} AS (SELECT e.obj AS node, SUM(p.r / od.deg) AS s "
            f"FROM r{k - 1} p JOIN edges e ON p.node = e.subj "
            "JOIN od ON od.node = p.node GROUP BY e.obj), "
        )
        parts.append(
            f"r{k} AS (SELECT n.node, {base} + {damping} * "
            f"COALESCE(c.s, 0.0) AS r FROM nodes n "
            f"LEFT JOIN c{k} c ON n.node = c.node), "
        )
    parts.append(
        "rr AS (SELECT node, floor(r * 10000.0 + 0.5) / 10000.0 "
        f"AS pr_rank FROM r{n_iter}) "
        "SELECT node, pr_rank FROM rr "
        "ORDER BY pr_rank DESC, node ASC LIMIT 20"
    )
    return "".join(parts)


_register(
    "mention_pagerank_top20",
    _mention_pagerank_top20,
    _pagerank_sql(_PR_ITER, _PR_DAMP),
)


# ---------------------------------------------------------------------------
# Streaming dedup state contract through a REAL micro-batch stream
# ---------------------------------------------------------------------------
# dropDuplicatesWithinWatermark replayed over planted duplicates
# (streaming/incremental.replay_dedup_events): shifted-ts re-deliveries
# must be swallowed by the state store (all-column dropDuplicates would
# keep them), and the earliest event's re-arrival after state eviction
# must be emitted AGAIN (key-only dropDuplicates could never show the
# id twice).  The oracle is therefore every original event row plus
# exactly that one re-arrival.

from ..streaming.incremental import replay_dedup_events  # noqa: E402

_STREAM_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def _streaming_dedup(spark: SparkSession, sf: str) -> DataFrame:
    out = replay_dedup_events(spark, _read(spark, sf, "events"))
    return out.select(
        "event_id",
        F.date_format("ts", _STREAM_TS_FMT).alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


_register(
    "streaming_dedup_within_watermark",
    _streaming_dedup,
    "SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts, "
    "user_id, event_type, value, props FROM events "
    "UNION ALL "
    "SELECT event_id, strftime((SELECT MAX(ts) FROM events) + "
    "INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S.%f') AS ts, "
    "user_id, event_type, value, props "
    "FROM (SELECT * FROM events ORDER BY ts, event_id LIMIT 1)",
)


# ---------------------------------------------------------------------------
# Co-mention graph analytics (operators/graph.cooccurrence_* / triangle
# / bfs_depths)
# ---------------------------------------------------------------------------
# The entity co-occurrence graph: entities sharing a sentence become an
# undirected (a < b) edge, counted over sentences.  PMI weights the
# edges against the marginals; triangle count and BFS depths are the
# two classic whole-graph probes a KG consumer runs on it.  All four
# oracles rebuild the mention edges from first principles (the same
# contains() CTE the pagerank oracle uses), so the hash pins the
# matcher AND the graph algebra.

from ..operators.cache import track as _track  # noqa: E402
from ..operators.graph import (  # noqa: E402
    bfs_depths,
    cooccurrence_pairs,
    cooccurrence_pmi,
    triangle_count,
)


def _mention_edge_frame(spark: SparkSession, sf: str) -> DataFrame:
    return P.mention_edges(_sentences(spark, sf)).select("subj", "obj")


_COOC_CTES = (
    "cedges AS (SELECT DISTINCT s.sentence_id AS gid, "
    f"{_ENTITY_ID_SQL} AS item "
    f"FROM sentences s, {gazetteer_values()} "
    "WHERE contains(' ' || lower(s.cleaned) || ' ', "
    "' ' || g.label || ' ')), "
    "pairs AS (SELECT x.item AS a, y.item AS b, COUNT(*) AS n_ab "
    "FROM cedges x JOIN cedges y ON x.gid = y.gid AND x.item < y.item "
    "GROUP BY x.item, y.item)"
)


def _entity_cooc_top20(spark: SparkSession, sf: str) -> DataFrame:
    pairs = cooccurrence_pairs(_mention_edge_frame(spark, sf))
    return (
        pairs.select("a", "b", F.col("n").alias("n_ab"))
        .orderBy(F.col("n_ab").desc(), F.col("a").asc(), F.col("b").asc())
        .limit(20)
    )


_register(
    "entity_cooccurrence_top20",
    _entity_cooc_top20,
    f"WITH {sentence_ctes()}, {_COOC_CTES} "
    "SELECT a, b, n_ab FROM pairs ORDER BY n_ab DESC, a ASC, b ASC "
    "LIMIT 20",
)


def _entity_cooc_pmi(spark: SparkSession, sf: str) -> DataFrame:
    pmi = cooccurrence_pmi(_mention_edge_frame(spark, sf))
    return (
        pmi.select(
            "a", "b",
            F.col("n_ab"),
            "n_a", "n_b",
            (
                F.floor(F.col("pmi") * 10000.0 + F.lit(0.5)) / 10000.0
            ).alias("pmi_r"),
        )
        .orderBy(F.col("pmi_r").desc(), F.col("a").asc(), F.col("b").asc())
        .limit(20)
    )


_register(
    "entity_cooccurrence_pmi_top20",
    _entity_cooc_pmi,
    f"WITH {sentence_ctes()}, {_COOC_CTES}, "
    "marg AS (SELECT item, COUNT(*) AS m FROM cedges GROUP BY item), "
    "nn AS (SELECT CAST(COUNT(DISTINCT gid) AS DOUBLE) AS n FROM cedges) "
    "SELECT p.a, p.b, p.n_ab, ma.m AS n_a, mb.m AS n_b, "
    "floor(ln(p.n_ab * (SELECT n FROM nn) / (ma.m * mb.m)) "
    "* 10000.0 + 0.5) / 10000.0 AS pmi_r "
    "FROM pairs p "
    "JOIN marg ma ON ma.item = p.a JOIN marg mb ON mb.item = p.b "
    "ORDER BY pmi_r DESC, a ASC, b ASC LIMIT 20",
)


def _entity_triangles(spark: SparkSession, sf: str) -> DataFrame:
    pairs = cooccurrence_pairs(_mention_edge_frame(spark, sf))
    return triangle_count(
        pairs.select(F.col("a").alias("subj"), F.col("b").alias("obj"))
    )


_register(
    "entity_triangle_count",
    _entity_triangles,
    f"WITH {sentence_ctes()}, {_COOC_CTES} "
    "SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles "
    "FROM pairs e1 "
    "JOIN pairs e2 ON e1.b = e2.a "
    "JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b",
)


_BFS_MAX_DEPTH = 3


def _entity_bfs(spark: SparkSession, sf: str) -> DataFrame:
    # pairs feeds the edge list AND the degree-based source pick -
    # persist so the co-occurrence build runs once
    pairs = _track(
        cooccurrence_pairs(_mention_edge_frame(spark, sf)).persist()
    )
    edges = pairs.select(
        F.col("a").alias("subj"), F.col("b").alias("obj")
    )
    deg = (
        edges.select(F.col("subj").alias("node"))
        .unionByName(edges.select(F.col("obj").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    src = (
        deg.orderBy(F.col("d").desc(), F.col("node").asc())
        .limit(1)
        .select("node")
    )
    out = bfs_depths(edges, src, max_depth=_BFS_MAX_DEPTH)
    return (
        out.select("node", F.col("depth").cast("int").alias("depth"))
        .orderBy(F.col("depth").asc(), F.col("node").asc())
    )


_register(
    "entity_bfs_depths",
    _entity_bfs,
    f"WITH RECURSIVE {sentence_ctes()}, {_COOC_CTES}, "
    "sym AS (SELECT a AS u, b AS v FROM pairs "
    "UNION ALL SELECT b, a FROM pairs), "
    "deg AS (SELECT u AS node, COUNT(*) AS d FROM sym GROUP BY u), "
    "src AS (SELECT node FROM deg ORDER BY d DESC, node ASC LIMIT 1), "
    "walk(node, depth) AS ("
    "SELECT node, 0 FROM src "
    "UNION ALL "
    "SELECT s.v, w.depth + 1 FROM walk w JOIN sym s ON w.node = s.u "
    f"WHERE w.depth < {_BFS_MAX_DEPTH}) "
    "SELECT node, CAST(MIN(depth) AS INT) AS depth FROM walk "
    "GROUP BY node ORDER BY depth ASC, node ASC",
)


# ---------------------------------------------------------------------------
# IR ranking / LM statistics (operators/ranking)
# ---------------------------------------------------------------------------
# TF-IDF, Okapi BM25 and bigram conditional probabilities over the raw
# documents table.  Scores are rounded half-up at 4 dp with the
# engine-portable floor closed form BEFORE any ranking, so window
# orderings agree between Spark and DuckDB; every remaining tie is
# broken by a unique string/int key.

from ..operators.ranking import (  # noqa: E402
    bigram_counts,
    bm25_scores,
    tfidf_top_terms,
)

_TOK_CTES = (
    "tok AS (SELECT doc_id AS doc, "
    "unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS term, "
    "unnest(range(0, len(string_split_regex(lower(text), "
    "'[^a-z0-9]+')))) AS idx "
    "FROM documents), "
    "t2 AS (SELECT * FROM tok WHERE term <> '')"
)


def _tfidf_top3(spark: SparkSession, sf: str) -> DataFrame:
    out = tfidf_top_terms(_read(spark, sf, "documents"), k=3)
    return out.orderBy(F.col("doc").asc(), F.col("rnk").asc())


_register(
    "tfidf_top3_per_doc",
    _tfidf_top3,
    f"WITH {_TOK_CTES}, "
    "tf AS (SELECT doc, term, COUNT(*) AS tf FROM t2 "
    "GROUP BY doc, term), "
    "dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term), "
    "nn AS (SELECT CAST(COUNT(DISTINCT doc) AS DOUBLE) AS n_docs "
    "FROM tf), "
    "sc AS (SELECT tf.doc, tf.term, tf.tf, "
    "floor(tf.tf * ln((SELECT n_docs FROM nn) / dfq.df) "
    "* 10000.0 + 0.5) / 10000.0 AS score_r "
    "FROM tf JOIN dfq USING (term)), "
    "rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY doc "
    "ORDER BY score_r DESC, term ASC) AS INT) AS rnk FROM sc) "
    "SELECT doc, term, tf, score_r, rnk FROM rk WHERE rnk <= 3 "
    "ORDER BY doc ASC, rnk ASC",
)


_BM25_TERMS = ("hash", "join", "spark")


def _bm25_top20(spark: SparkSession, sf: str) -> DataFrame:
    out = bm25_scores(_read(spark, sf, "documents"), _BM25_TERMS)
    return (
        out.orderBy(F.col("score_r").desc(), F.col("doc").asc())
        .limit(20)
    )


_register(
    "bm25_top20",
    _bm25_top20,
    f"WITH {_TOK_CTES}, "
    "lens AS (SELECT doc, COUNT(*) AS dl FROM t2 GROUP BY doc), "
    "ad AS (SELECT AVG(CAST(dl AS DOUBLE)) AS avgdl FROM lens), "
    "nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM lens), "
    "tf AS (SELECT doc, term, COUNT(*) AS tf FROM t2 "
    f"WHERE term IN {str(tuple(_BM25_TERMS))} GROUP BY doc, term), "
    "dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term), "
    "prt AS (SELECT tf.doc, "
    "ln(((SELECT n_docs FROM nn) - dfq.df + 0.5) / (dfq.df + 0.5) "
    "+ 1.0) * tf.tf / (tf.tf + 1.2 * (1.0 - 0.75 "
    "+ 0.75 * lens.dl / (SELECT avgdl FROM ad))) AS s "
    "FROM tf JOIN dfq USING (term) JOIN lens USING (doc)) "
    "SELECT doc, floor(SUM(s) * 10000.0 + 0.5) / 10000.0 AS score_r "
    "FROM prt GROUP BY doc "
    "ORDER BY score_r DESC, doc ASC LIMIT 20",
)


def _bigram_top20(spark: SparkSession, sf: str) -> DataFrame:
    out = bigram_counts(_read(spark, sf, "documents"))
    return (
        out.orderBy(
            F.col("n").desc(), F.col("w1").asc(), F.col("w2").asc()
        )
        .limit(20)
    )


_register(
    "bigram_conditional_top20",
    _bigram_top20,
    f"WITH {_TOK_CTES}, "
    "big AS (SELECT term AS w1, lead(term) OVER (PARTITION BY doc "
    "ORDER BY idx) AS w2 FROM t2), "
    "bc AS (SELECT w1, w2, COUNT(*) AS n FROM big "
    "WHERE w2 IS NOT NULL GROUP BY w1, w2), "
    "mg AS (SELECT w1, CAST(SUM(n) AS BIGINT) AS c1 FROM bc "
    "GROUP BY w1) "
    "SELECT bc.w1, bc.w2, bc.n, mg.c1, "
    "floor(CAST(bc.n AS DOUBLE) / mg.c1 * 10000.0 + 0.5) / 10000.0 "
    "AS p_r "
    "FROM bc JOIN mg USING (w1) "
    "ORDER BY n DESC, w1 ASC, w2 ASC LIMIT 20",
)


# ---------------------------------------------------------------------------
# Event analytics: ordered funnel + weekly cohort retention
# ---------------------------------------------------------------------------
# funnel_counts: each stage is a filtered groupBy(user) joined to the
# previous stage's first-completion time with a STRICT inequality, so
# the oracle's chained CTEs pin the ordering semantics, not just the
# counts.  cohort_retention buckets by exact integer epoch-weeks
# (unix_micros div week == DuckDB epoch_us // week) - no calendar or
# timezone semantics for the engines to disagree on.

from ..operators.temporal import cohort_retention, funnel_counts  # noqa: E402

_FUNNEL_STEPS = ("view", "click", "purchase")


def _event_funnel(spark: SparkSession, sf: str) -> DataFrame:
    return funnel_counts(
        _read(spark, sf, "events"), list(_FUNNEL_STEPS)
    )


_register(
    "event_funnel_view_click_purchase",
    _event_funnel,
    "WITH s1 AS (SELECT user_id AS u, MIN(ts) AS t FROM events "
    f"WHERE event_type = '{_FUNNEL_STEPS[0]}' GROUP BY user_id), "
    "s2 AS (SELECT e.user_id AS u, MIN(e.ts) AS t FROM events e "
    "JOIN s1 ON e.user_id = s1.u AND e.ts > s1.t "
    f"WHERE e.event_type = '{_FUNNEL_STEPS[1]}' GROUP BY e.user_id), "
    "s3 AS (SELECT e.user_id AS u, MIN(e.ts) AS t FROM events e "
    "JOIN s2 ON e.user_id = s2.u AND e.ts > s2.t "
    f"WHERE e.event_type = '{_FUNNEL_STEPS[2]}' GROUP BY e.user_id) "
    "SELECT (SELECT COUNT(*) FROM s1) AS step_1, "
    "(SELECT COUNT(*) FROM s2) AS step_2, "
    "(SELECT COUNT(*) FROM s3) AS step_3",
)


def _weekly_retention(spark: SparkSession, sf: str) -> DataFrame:
    out = cohort_retention(_read(spark, sf, "events"))
    return out.orderBy(
        F.col("cohort_week").asc(), F.col("week_offset").asc()
    )


_register(
    "weekly_cohort_retention",
    _weekly_retention,
    "WITH ev AS (SELECT user_id AS u, "
    "epoch_us(ts) // 604800000000 AS wk FROM events), "
    "fw AS (SELECT u, MIN(wk) AS cohort_week FROM ev GROUP BY u), "
    "uw AS (SELECT DISTINCT u, wk FROM ev) "
    "SELECT fw.cohort_week, uw.wk - fw.cohort_week AS week_offset, "
    "COUNT(DISTINCT uw.u) AS n_users "
    "FROM uw JOIN fw USING (u) "
    "GROUP BY fw.cohort_week, week_offset "
    "ORDER BY cohort_week ASC, week_offset ASC",
)


# ---------------------------------------------------------------------------
# Weighted SSSP over the co-occurrence graph (operators/graph.sssp)
# ---------------------------------------------------------------------------
# Bellman-Ford from the max-degree hub, edge weight 1/n_ab (stronger
# co-occurrence = shorter distance).  Like the pagerank oracle, the SQL
# twin unrolls the identical per-round relax+min recurrence, so the
# hash pins the iteration arithmetic itself.

from ..operators.graph import sssp  # noqa: E402

_SSSP_ITER = 4


def _entity_sssp(spark: SparkSession, sf: str) -> DataFrame:
    # pairs feeds the symmetric edge list AND the hub pick - persist so
    # the co-occurrence build runs once
    pairs = _track(
        cooccurrence_pairs(_mention_edge_frame(spark, sf)).persist()
    )
    sym = pairs.select(
        F.col("a").alias("u"), F.col("b").alias("v"),
        (F.lit(1.0) / F.col("n")).alias("w"),
    ).unionByName(
        pairs.select(
            F.col("b").alias("u"), F.col("a").alias("v"),
            (F.lit(1.0) / F.col("n")).alias("w"),
        )
    )
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count("*").alias("d")
    )
    src = (
        deg.orderBy(F.col("d").desc(), F.col("node").asc())
        .limit(1)
        .select("node")
    )
    out = sssp(sym, src, n_iter=_SSSP_ITER)
    return (
        out.select(
            "node",
            (
                F.floor(F.col("dist") * 10000.0 + F.lit(0.5)) / 10000.0
            ).alias("dist_r"),
        )
        .orderBy(F.col("dist_r").asc(), F.col("node").asc())
    )


def _sssp_sql(n_iter: int) -> str:
    parts = [
        f"WITH {sentence_ctes()}, {_COOC_CTES}, ",
        "syme AS MATERIALIZED (SELECT a AS u, b AS v, 1.0 / n_ab AS w FROM pairs "
        "UNION ALL SELECT b, a, 1.0 / n_ab FROM pairs), ",
        "deg AS (SELECT u AS node, COUNT(*) AS d FROM syme GROUP BY u), ",
        "src AS (SELECT node FROM deg ORDER BY d DESC, node ASC "
        "LIMIT 1), ",
        "d0 AS (SELECT node, 0.0 AS dist FROM src), ",
    ]
    for k in range(1, n_iter + 1):
        # MATERIALIZED: each level references the previous one twice;
        # inlining would re-evaluate the whole sentence pipeline 2^k
        # times
        parts.append(
            f"d{k} AS MATERIALIZED (SELECT node, MIN(dist) AS dist FROM ("
            f"SELECT node, dist FROM d{k - 1} "
            "UNION ALL "
            "SELECT s.v AS node, d.dist + s.w AS dist "
            f"FROM d{k - 1} d JOIN syme s ON d.node = s.u"
            ") GROUP BY node), "
        )
    # the loop leaves a trailing "), " - drop the comma before the
    # final SELECT
    parts[-1] = parts[-1][:-2] + " "
    parts.append(
        "SELECT node, floor(dist * 10000.0 + 0.5) / 10000.0 AS dist_r "
        f"FROM d{n_iter} ORDER BY dist_r ASC, node ASC"
    )
    return "".join(parts)


_register(
    "entity_sssp_from_hub",
    _entity_sssp,
    _sssp_sql(_SSSP_ITER),
)


# ---------------------------------------------------------------------------
# Repository-history suite (operators/repo.py over sources/synth.files_history)
# ---------------------------------------------------------------------------
# The north-rule input is commit-addressed: (repo, path) x commit.  The
# HEAD-snapshot extraction, cross-repo clone detection, and per-repo
# language stats are the first operators any code-corpus consumer runs.
# The fixture is pure column algebra (integer decomposition + md5), so
# _files_history_sql() reproduces it bit-identically in DuckDB and all
# three queries carry exact oracles.


def _files_history_sql(
    n_repos: int = 6, n_paths: int = 30, n_commits: int = 8,
    imports: bool = False,
) -> str:
    """DuckDB twin of sources/synth.files_history: same integer
    decomposition of the row id, same md5 commit digests, same planted
    every-5th-path cross-repo clone content.  ``imports=True`` mirrors
    the generator's deterministic import-statement prefix."""
    n = n_repos * n_paths * n_commits
    imp = (
        f"'import m' || CAST((path_id * 3 + 1) % {n_paths} AS VARCHAR)"
        f" || '; import m' || CAST((path_id * 7 + 2) % {n_paths}"
        " AS VARCHAR) || '; ' || "
        if imports
        else ""
    )
    return f"""
SELECT
  'repo_' || CAST(repo_id AS VARCHAR) AS repo,
  'src/f' || CAST(path_id AS VARCHAR) || '.' || lang AS path,
  md5('c:' || CAST(repo_id AS VARCHAR) || ':' || CAST(path_id AS VARCHAR)
      || ':' || CAST(seq AS VARCHAR)) AS commit,
  seq AS commit_seq,
  lang,
  {imp}'def f' || CAST(path_id AS VARCHAR) || '(): return ' || key
      || ' # v' || CAST(ver AS VARCHAR) AS content
FROM (
  SELECT *,
    CASE path_id % 4 WHEN 0 THEN 'py' WHEN 1 THEN 'rs'
                     WHEN 2 THEN 'go' ELSE 'js' END AS lang,
    CASE WHEN path_id % 5 = 0 THEN 'shared:' || CAST(path_id AS VARCHAR)
         ELSE CAST(repo_id AS VARCHAR) || ':' || CAST(path_id AS VARCHAR)
    END AS key,
    (seq - seq % 3) // 3 AS ver
  FROM (
    SELECT
      range % {n_commits} AS seq,
      ((range - range % {n_commits}) // {n_commits}) % {n_paths} AS path_id,
      ((range - range % {n_commits}) // {n_commits}) // {n_paths} AS repo_id
    FROM range({n})
  )
)
"""


_FH_SNAPSHOT_SQL = f"""
WITH fh AS ({_files_history_sql()}),
r AS (SELECT *, row_number() OVER (
        PARTITION BY repo, path
        ORDER BY commit_seq DESC, commit DESC) AS rn FROM fh)
SELECT repo, path, commit, commit_seq, lang, content FROM r WHERE rn = 1
"""


def _repo_head_snapshot(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators import repo as R
    from ..sources.synth import files_history

    del sf  # dual-synthesized fixture; sf tables carry no commit history
    return R.latest_snapshot(files_history(spark))


_register(
    "repo_head_snapshot",
    _repo_head_snapshot,
    _FH_SNAPSHOT_SQL,
)


# Time travel: the snapshot AS OF an earlier commit ordinal (the
# Iceberg snapshot-id / timestamp-travel analog) is the SAME operator
# over a filtered history - predicate pushdown makes it a cheaper scan,
# not a different algorithm.
_ASOF_SEQ = 3


def _repo_snapshot_asof(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators import repo as R
    from ..sources.synth import files_history

    del sf
    hist = files_history(spark).filter(F.col("commit_seq") <= _ASOF_SEQ)
    return R.latest_snapshot(hist)


_register(
    "repo_snapshot_asof",
    _repo_snapshot_asof,
    f"""
WITH fh AS ({_files_history_sql()}),
r AS (SELECT *, row_number() OVER (
        PARTITION BY repo, path
        ORDER BY commit_seq DESC, commit DESC) AS rn
      FROM fh WHERE commit_seq <= {_ASOF_SEQ})
SELECT repo, path, commit, commit_seq, lang, content FROM r WHERE rn = 1
""",
)


def _cross_repo_clone_groups(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators import repo as R
    from ..sources.synth import files_history

    del sf
    return R.cross_repo_clones(R.latest_snapshot(files_history(spark)))


_register(
    "cross_repo_clone_groups",
    _cross_repo_clone_groups,
    f"""
WITH snap AS ({_FH_SNAPSHOT_SQL})
SELECT sha256(content) AS content_sha,
       COUNT(DISTINCT repo) AS n_repos,
       COUNT(*) AS n_files
FROM snap GROUP BY 1 HAVING COUNT(DISTINCT repo) >= 2
""",
)


def _repo_language_breakdown(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators import repo as R
    from ..sources.synth import files_history

    del sf
    return R.language_breakdown(R.latest_snapshot(files_history(spark)))


_register(
    "repo_language_breakdown",
    _repo_language_breakdown,
    f"""
WITH snap AS ({_FH_SNAPSHOT_SQL}),
per AS (SELECT repo, lang, COUNT(*) AS n_files FROM snap GROUP BY 1, 2)
SELECT repo, lang, n_files,
  floor(CAST(n_files AS DOUBLE) /
        CAST(SUM(n_files) OVER (PARTITION BY repo) AS DOUBLE)
        * 10000.0 + 0.5) / 10000.0 AS share
FROM per
""",
)


# ---------------------------------------------------------------------------
# Import-edge extraction (operators/repo.import_edges): the code-corpus
# KG-construction step — (repo:path, imports, module) triples parsed out
# of file content with one JVM regexp_extract_all + explode (pure map
# stage, zero Python, zero shuffle), then the vocabulary-sized fan-in
# aggregate.  The fixture's imports=True variant plants deterministic
# import statements that the DuckDB twin reproduces byte-identically.
# ---------------------------------------------------------------------------

_FH_IMPORTS_SNAPSHOT_SQL = f"""
WITH fhi AS ({_files_history_sql(imports=True)}),
ri AS (SELECT *, row_number() OVER (
         PARTITION BY repo, path
         ORDER BY commit_seq DESC, commit DESC) AS rn FROM fhi),
snapi AS (SELECT repo, path, content FROM ri WHERE rn = 1),
imp_edges AS (
  SELECT repo, path,
         unnest(regexp_extract_all(content, 'import (m[0-9]+)', 1))
           AS module
  FROM snapi)
"""


def _repo_import_edges(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators import repo as R
    from ..sources.synth import files_history

    del sf
    snap = R.latest_snapshot(files_history(spark, imports=True))
    return R.import_edges(snap).select(
        F.concat_ws(":", "repo", "path").alias("subj"),
        F.lit("imports").alias("pred"),
        F.col("module").alias("obj"),
    )


_register(
    "repo_import_edges",
    _repo_import_edges,
    _FH_IMPORTS_SNAPSHOT_SQL
    + """
SELECT repo || ':' || path AS subj, 'imports' AS pred, module AS obj
FROM imp_edges
""",
)


def _module_import_counts_top20(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators import repo as R
    from ..sources.synth import files_history

    del sf
    snap = R.latest_snapshot(files_history(spark, imports=True))
    stats = R.module_import_stats(R.import_edges(snap))
    return stats.orderBy(
        F.col("n_imports").desc(), F.col("module").asc()
    ).limit(20)


_register(
    "module_import_counts_top20",
    _module_import_counts_top20,
    _FH_IMPORTS_SNAPSHOT_SQL
    + """
SELECT module, COUNT(*) AS n_imports, COUNT(DISTINCT repo) AS n_repos
FROM imp_edges
GROUP BY module
ORDER BY n_imports DESC, module ASC
LIMIT 20
""",
)


# ---------------------------------------------------------------------------
# Leakage-safe train/val split (operators/curation.leakage_safe_split):
# the unit of split assignment is the connected component of the
# verified near-dup graph, so a near-copy of a validation document can
# never land in train.  The artifact row carries the invariant itself:
# cross_split_pairs counts verified pairs whose ends straddle the
# boundary - 0 by construction, and the oracle recomputes it from the
# same recursive closure + md5 assignment.
# ---------------------------------------------------------------------------


def _leakage_safe_split_stats(spark, sf):
    from ..operators.curation import leakage_safe_split

    docs = _read(spark, sf, "documents")
    # pairs feeds the component build AND the cross-split invariant
    # join; persist so the LSH lineage runs once (and its ~400-node
    # plan isn't re-inlined by every consumer)
    pairs = _track(ND.lsh_verified_pairs(docs, threshold=0.2).persist())
    asg = leakage_safe_split(docs, pairs)
    per = asg.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("component").alias("n_components"),
    )
    a = asg.select(F.col("doc_id").alias("doc_a"), F.col("split").alias("sa"))
    b = asg.select(F.col("doc_id").alias("doc_b"), F.col("split").alias("sb"))
    cross = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .filter("sa <> sb")
        .agg(F.count("*").alias("cross_split_pairs"))
    )
    return per.crossJoin(cross)


_register(
    "leakage_safe_split_stats",
    _leakage_safe_split_stats,
    f"""
WITH RECURSIVE {_lsh_verified_sql('documents', 0.2)},
und AS (
  SELECT doc_a AS a, doc_b AS b FROM verified
  UNION SELECT doc_b, doc_a FROM verified
),
reach(node, r) AS (
  SELECT DISTINCT a, a FROM und
  UNION
  SELECT reach.node, und.b FROM reach JOIN und ON reach.r = und.a
),
comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node),
asg AS (
  SELECT d.doc_id,
         COALESCE(c.component, d.doc_id) AS component,
         CASE WHEN CAST(concat('0x', substr(md5(CAST(
                COALESCE(c.component, d.doc_id) AS VARCHAR)), 1, 4))
              AS BIGINT) % 100 < 10
              THEN 'val' ELSE 'train' END AS split
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
),
per AS (
  SELECT split, COUNT(*) AS n_docs,
         COUNT(DISTINCT component) AS n_components
  FROM asg GROUP BY split
),
cross_cnt AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS cross_split_pairs
  FROM verified v
  JOIN asg x ON v.doc_a = x.doc_id
  JOIN asg y ON v.doc_b = y.doc_id
  WHERE x.split <> y.split
)
SELECT per.split, per.n_docs, per.n_components,
       cross_cnt.cross_split_pairs
FROM per, cross_cnt
""",
)


# ---------------------------------------------------------------------------
# Naive Bayes quality classifier (operators/classify.py): the labeled
# seed and probes are shared constants (classify.NB_SEED/NB_PROBES), the
# oracle re-derives the full train+score chain - Laplace-smoothed
# counts, ln arithmetic, argmax with (score DESC, label DESC) tie-break
# - and the artifact carries integer class counts only, so the 1-ulp
# libm ln() divergence between engines cannot touch the hash (planted
# margins are orders of magnitude wider).
# ---------------------------------------------------------------------------


def _nb_document_class_counts(spark, sf):
    from ..operators.classify import NB_PROBES, NB_SEED, nb_predict, nb_train

    labeled = spark.createDataFrame(
        list(NB_SEED), "label string, text string"
    )
    docs = _read(spark, sf, "documents").select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    probes = spark.createDataFrame(
        list(NB_PROBES), "doc_id string, text string"
    )
    scored = nb_predict(docs.unionByName(probes), nb_train(labeled))
    return scored.groupBy("pred_label").agg(F.count("*").alias("n_docs"))


def _nb_sql() -> str:
    from ..operators.classify import NB_PROBES, NB_SEED

    train_vals = ", ".join(f"('{lb}', '{tx}')" for lb, tx in NB_SEED)
    probe_vals = ", ".join(f"('{i}', '{tx}')" for i, tx in NB_PROBES)
    split = r"unnest(string_split_regex(lower(txt), '\s+')) AS token"
    return f"""
WITH train(label, txt) AS (VALUES {train_vals}),
sprobe(doc_id, txt) AS (VALUES {probe_vals}),
sdocs AS (
  SELECT CAST(doc_id AS VARCHAR) AS doc_id, text AS txt FROM documents
  UNION ALL SELECT doc_id, txt FROM sprobe
),
tokf AS (SELECT * FROM (SELECT label, {split} FROM train)
         WHERE token <> ''),
vocab AS (SELECT DISTINCT token FROM tokf),
vn AS (SELECT COUNT(*) AS v FROM vocab),
classes AS (SELECT label, COUNT(*) AS n_docs FROM train GROUP BY 1),
tot AS (SELECT COUNT(*) AS n_total FROM train),
ctok AS (SELECT label, COUNT(*) AS n_tok FROM tokf GROUP BY 1),
cnts AS (SELECT label, token, COUNT(*) AS c FROM tokf GROUP BY 1, 2),
model AS (
  SELECT cl.label, vb.token,
         ln((COALESCE(cn.c, 0) + 1.0) / (ct.n_tok + 1.0 * vn.v))
           AS log_lik
  FROM classes cl CROSS JOIN vocab vb CROSS JOIN vn
  JOIN ctok ct ON ct.label = cl.label
  LEFT JOIN cnts cn ON cn.label = cl.label AND cn.token = vb.token
),
priors AS (SELECT cl.label,
                  ln(CAST(cl.n_docs AS DOUBLE) / tot.n_total) AS log_prior
           FROM classes cl, tot),
stokf AS (SELECT * FROM (SELECT doc_id, {split} FROM sdocs)
          WHERE token <> ''),
summed AS (SELECT s.doc_id, m.label, SUM(m.log_lik) AS s
           FROM stokf s JOIN model m ON m.token = s.token GROUP BY 1, 2),
scores AS (
  SELECT d.doc_id, p.label, p.log_prior + COALESCE(su.s, 0.0) AS score
  FROM (SELECT doc_id FROM sdocs) d CROSS JOIN priors p
  LEFT JOIN summed su ON su.doc_id = d.doc_id AND su.label = p.label
),
pred AS (
  SELECT doc_id, label AS pred_label,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score DESC, label DESC) AS rn
  FROM scores
)
SELECT pred_label, COUNT(*) AS n_docs FROM pred WHERE rn = 1 GROUP BY 1
"""


_register(
    "nb_document_class_counts",
    _nb_document_class_counts,
    _nb_sql(),
)


# ---------------------------------------------------------------------------
# Label-propagation communities (operators/graph.label_propagation) over
# the entity co-occurrence graph: synchronous neighbor-majority vote,
# min-label tie-break, fixed rounds - the oracle unrolls one CTE per
# round (QUALIFY row_number picks the identical winner).
# ---------------------------------------------------------------------------

_LPA_ITER = 3


def _entity_lpa(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.graph import label_propagation

    pairs = cooccurrence_pairs(_mention_edge_frame(spark, sf))
    labels = label_propagation(
        pairs.select(F.col("a").alias("subj"), F.col("b").alias("obj")),
        n_iter=_LPA_ITER,
    )
    return labels.groupBy(F.col("label").alias("community")).agg(
        F.count("*").alias("n_members")
    )


def _lpa_ctes(n_iter: int) -> str:
    """WITH-clause body unrolling synchronous LPA: exposes ``pairs``
    (canonical a<b edges), ``und`` (symmetric) and ``l{n_iter}``
    (final labels)."""
    parts = [
        f"{sentence_ctes()}, {_COOC_CTES}, ",
        "und AS MATERIALIZED (SELECT a AS u, b AS v FROM pairs "
        "UNION SELECT b, a FROM pairs), ",
        "l0 AS (SELECT DISTINCT u AS node, u AS label FROM und), ",
    ]
    for k in range(1, n_iter + 1):
        parts.append(
            f"l{k} AS MATERIALIZED (SELECT node, label FROM ("
            "SELECT e.v AS node, l.label, COUNT(*) AS c "
            f"FROM und e JOIN l{k - 1} l ON l.node = e.u GROUP BY 1, 2) "
            "QUALIFY row_number() OVER (PARTITION BY node "
            "ORDER BY c DESC, label ASC) = 1), "
        )
    parts[-1] = parts[-1][:-2]
    return "".join(parts)


def _lpa_sql(n_iter: int) -> str:
    return (
        f"WITH {_lpa_ctes(n_iter)} "
        "SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS n_members "
        f"FROM l{n_iter} GROUP BY 1"
    )


_register(
    "entity_lpa_communities",
    _entity_lpa,
    _lpa_sql(_LPA_ITER),
)


def _entity_lpa_modularity(spark: SparkSession, sf: str) -> DataFrame:
    """Newman modularity of the LPA partition over the co-occurrence
    graph: Q = sum_c [ L_c/m - (d_c/(2m))^2 ] - the standard quality
    score for a community structure (positive = denser-than-chance
    cores).  One label join per edge endpoint plus three catalog-sized
    aggregates; the per-community terms sum once, rounded half-up 4dp."""
    from ..operators.graph import label_propagation

    pairs = _track(
        cooccurrence_pairs(_mention_edge_frame(spark, sf))
        .select("a", "b")
        .persist()
    )
    labels = _track(
        label_propagation(
            pairs.select(F.col("a").alias("subj"), F.col("b").alias("obj")),
            n_iter=_LPA_ITER,
        ).persist()
    )
    sym = pairs.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        pairs.select(F.col("b").alias("u"), F.col("a").alias("v"))
    ).dropDuplicates(["u", "v"])
    deg = sym.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("d"))
    dcf = (
        labels.join(deg, "node")
        .groupBy("label")
        .agg(F.sum("d").cast("double").alias("dc"))
    )
    la = labels.select(F.col("node").alias("a"), F.col("label").alias("la"))
    lb = labels.select(F.col("node").alias("b"), F.col("label").alias("lb"))
    intra = (
        pairs.join(la, "a").join(lb, "b")
        .filter(F.col("la") == F.col("lb"))
        .groupBy(F.col("la").alias("label"))
        .agg(F.count("*").cast("double").alias("ic"))
    )
    mm = pairs.agg(F.count("*").cast("double").alias("m"))
    terms = (
        dcf.join(intra, "label", "left")
        .crossJoin(F.broadcast(mm))
        .select(
            (
                F.coalesce(F.col("ic"), F.lit(0.0)) / F.col("m")
                - F.pow(F.col("dc") / (2.0 * F.col("m")), 2)
            ).alias("t")
        )
    )
    ncomm = labels.select("label").distinct().agg(
        F.count("*").alias("n_communities")
    )
    nedges = pairs.agg(F.count("*").alias("n_edges"))
    q = terms.agg(
        (F.floor(F.sum("t") * 10000.0 + F.lit(0.5)) / 10000.0).alias(
            "modularity_r"
        )
    )
    return ncomm.crossJoin(nedges).crossJoin(q)


_register(
    "entity_lpa_modularity",
    _entity_lpa_modularity,
    f"""
WITH {_lpa_ctes(_LPA_ITER)},
mm AS (SELECT CAST(COUNT(*) AS DOUBLE) AS m FROM pairs),
deg AS (SELECT u AS node, COUNT(*) AS d FROM und GROUP BY 1),
dc AS (SELECT l.label, CAST(SUM(deg.d) AS DOUBLE) AS dc
       FROM l{_LPA_ITER} l JOIN deg ON deg.node = l.node GROUP BY 1),
intra AS (SELECT la.label, CAST(COUNT(*) AS DOUBLE) AS ic
          FROM pairs p
          JOIN l{_LPA_ITER} la ON la.node = p.a
          JOIN l{_LPA_ITER} lb ON lb.node = p.b
          WHERE la.label = lb.label GROUP BY 1)
SELECT
  (SELECT CAST(COUNT(DISTINCT label) AS BIGINT) FROM l{_LPA_ITER})
    AS n_communities,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_edges,
  floor(SUM(COALESCE(i.ic, 0.0) / (SELECT m FROM mm)
        - POW(d.dc / (2.0 * (SELECT m FROM mm)), 2)) * 10000.0 + 0.5)
    / 10000.0 AS modularity_r
FROM dc d LEFT JOIN intra i USING (label)
""",
)


# ---------------------------------------------------------------------------
# Deterministic sketches (operators/sketch.py): md5-based HyperLogLog
# and Count-Min, so the ESTIMATES themselves - not a tolerance band -
# sit under the oracle.  The HLL denominator is summed as exact BIGINT
# powers of two and the estimate is one double division of two exact
# numbers, so FP aggregation order cannot move the hash.
# ---------------------------------------------------------------------------

_SKETCH_TOK = (
    "SELECT unnest(string_split_regex(lower(text), '\\s+')) AS token "
    "FROM documents"
)


def _hll_token_cardinality(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators import sketch as SK

    toks = (
        _read(spark, sf, "documents")
        .select(
            F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("key")
        )
        .filter(F.col("key") != "")
    )
    distinct = toks.distinct()
    est = SK.hll_estimate(SK.hll_register_maxima(distinct))
    exact = distinct.agg(F.count("*").alias("exact_distinct"))
    return est.crossJoin(exact)


_register(
    "hll_token_cardinality",
    _hll_token_cardinality,
    f"""
WITH toks AS (SELECT DISTINCT token FROM ({_SKETCH_TOK})
              WHERE token <> ''),
h AS (SELECT CAST(concat('0x', substr(md5(token), 1, 15)) AS BIGINT)
        AS hh FROM toks),
rr AS (SELECT hh % 256 AS register,
              CASE WHEN (hh >> 8) = 0 THEN 53
                   ELSE 53 - length(bin(hh >> 8)) END AS rho
       FROM h),
mx AS (SELECT register, MAX(rho) AS max_rho FROM rr GROUP BY 1),
agg AS (SELECT SUM(1::BIGINT << (53 - max_rho)) AS s_present,
               COUNT(*) AS used FROM mx),
raws AS (SELECT {HLL_K!r} /
           CAST(s_present + (256 - used) * (1::BIGINT << 53) AS DOUBLE)
           AS raw,
         256 - used AS v, used FROM agg),
est AS (SELECT CASE WHEN raw <= 640.0 AND v > 0
                    THEN 256.0 * ln(256.0 / v) ELSE raw END AS e, used
        FROM raws)
SELECT floor(e * 100.0 + 0.5) / 100.0 AS estimate,
       used AS registers_used,
       (SELECT COUNT(*) FROM toks) AS exact_distinct
FROM est
""",
)


_CM_PROBES = ("join", "hash", "scan", "zebra")


def _cm_token_frequency_probes(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators import sketch as SK

    toks = (
        _read(spark, sf, "documents")
        .select(
            F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("item")
        )
        .filter(F.col("item") != "")
    )
    sk = SK.cm_sketch(toks)
    probes = spark.createDataFrame(
        [(p,) for p in _CM_PROBES], "item string"
    )
    est = SK.cm_query(sk, probes)
    true = (
        toks.join(F.broadcast(probes), "item")
        .groupBy("item")
        .agg(F.count("*").alias("true_count"))
    )
    return (
        est.join(true, "item", "left")
        .select(
            "item",
            F.coalesce("true_count", F.lit(0)).alias("true_count"),
            "cm_estimate",
        )
    )


def _cm_sql() -> str:
    probe_vals = ", ".join(f"('{p}')" for p in _CM_PROBES)
    depth, width = 4, 64
    fold = (
        "CAST(concat('0x', substr(md5('cm{r}:' || {v}), 1, 15)) AS BIGINT)"
        " % " + str(width)
    )
    rows = " UNION ALL ".join(
        f"SELECT {r} AS row, {fold.format(r=r, v='item')} AS bucket "
        "FROM toks"
        for r in range(depth)
    )
    mins = ", ".join(
        f"COALESCE((SELECT c FROM grid g WHERE g.row = {r} "
        f"AND g.bucket = {fold.format(r=r, v='p.item')}), 0)"
        for r in range(depth)
    )
    return f"""
WITH toks AS (SELECT token AS item FROM ({_SKETCH_TOK})
              WHERE token <> ''),
grid AS (SELECT row, bucket, COUNT(*) AS c FROM ({rows}) GROUP BY 1, 2),
probes(item) AS (VALUES {probe_vals})
SELECT p.item,
       COALESCE((SELECT COUNT(*) FROM toks t WHERE t.item = p.item), 0)
         AS true_count,
       LEAST({mins}) AS cm_estimate
FROM probes p
"""


_register(
    "cm_token_frequency_probes",
    _cm_token_frequency_probes,
    _cm_sql(),
)


# ---------------------------------------------------------------------------
# Streaming session windows (streaming/incremental.py): native stateful
# sessionization (F.session_window) through a REAL micro-batch replay -
# sessions spanning slice boundaries must be merged by the state store.
# Oracle = batch gap sessionization with break iff diff > gap: Spark
# MERGES an event landing at exactly last + gap (inclusive bound,
# pinned by test_session_window_merges_at_exact_gap - random fixtures
# could never catch the boundary).  end = last event + gap.
# ---------------------------------------------------------------------------

from ..streaming.incremental import replay_session_counts  # noqa: E402

_register(
    "streaming_session_counts_replay",
    lambda spark, sf: replay_session_counts(
        spark, _read(spark, sf, "events"), gap="30 minutes", n_slices=4
    ).select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias(
            "session_start"
        ),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias(
            "session_end"
        ),
        "n",
        "total_value",
    ),
    """
WITH o AS (
  SELECT user_id, ts, value,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev
  FROM events
),
f AS (
  SELECT *, CASE WHEN prev IS NULL
                   OR ts - prev > INTERVAL '30 minutes'
                 THEN 1 ELSE 0 END AS brk
  FROM o
),
s AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sid
  FROM f
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(MAX(ts) + INTERVAL '30 minutes',
                '%Y-%m-%d %H:%M:%S') AS session_end,
       COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM s GROUP BY user_id, sid
""",
)


# ---------------------------------------------------------------------------
# Stream-stream interval join (streaming/incremental.py): watermarked
# view -> purchase attribution pairs through TWO independent file
# sources stepping through the same time-ordered micro-batches -
# cross-batch matches must come from the join state store.  Inner
# interval joins emit on match; time-ordered arrival + watermark ==
# join horizon means eviction can never kill a future match (proof in
# the replay docstring).  Oracle = the batch interval join.
# ---------------------------------------------------------------------------

from ..streaming.incremental import replay_view_purchase_pairs  # noqa: E402

_register(
    "streaming_view_purchase_pairs",
    lambda spark, sf: replay_view_purchase_pairs(
        spark, _read(spark, sf, "events"), within="8 hours", n_slices=4
    ),
    """
SELECT v.user_id, v.event_id AS view_event, p.event_id AS purchase_event
FROM events v JOIN events p
  ON v.user_id = p.user_id
 AND v.event_type = 'view' AND p.event_type = 'purchase'
 AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL '8 hours'
""",
)


# ---------------------------------------------------------------------------
# Round-5b additions: k-core peeling, LM-perplexity quality scoring,
# prefix-filtered Jaccard join, deterministic Bloom semi-join, exact
# quota sampling, rolling-window aggregates, table profiling, grouped
# mergeable HLL.  Every entry carries an exact DuckDB oracle; all float
# arithmetic is either integer-exact or one double division of exact
# integers rounded with the portable floor closed form.
# ---------------------------------------------------------------------------

_KCORE_K = 2
_KCORE_ITER = 3


def _entity_kcore(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.graph import kcore_nodes

    pairs = cooccurrence_pairs(_mention_edge_frame(spark, sf))
    alive = kcore_nodes(
        pairs.select(F.col("a").alias("subj"), F.col("b").alias("obj")),
        k=_KCORE_K,
        n_iter=_KCORE_ITER,
    )
    return alive.orderBy(F.col("node").asc())


def _kcore_sql(k: int, n_iter: int) -> str:
    parts = [
        f"WITH {sentence_ctes()}, {_COOC_CTES}, ",
        "symk AS MATERIALIZED (SELECT a AS u, b AS v FROM pairs "
        "UNION ALL SELECT b, a FROM pairs), ",
        "al0 AS MATERIALIZED (SELECT DISTINCT u AS node FROM symk), ",
    ]
    for r in range(1, n_iter + 1):
        # MATERIALIZED: each round references the previous alive set
        # twice; inlining would re-evaluate the sentence pipeline 2^r
        # times (same contract as _sssp_sql / _lpa_sql)
        parts.append(
            f"al{r} AS MATERIALIZED (SELECT u AS node FROM symk "
            f"WHERE u IN (SELECT node FROM al{r - 1}) "
            f"AND v IN (SELECT node FROM al{r - 1}) "
            f"GROUP BY u HAVING COUNT(*) >= {k}), "
        )
    parts[-1] = parts[-1][:-2] + " "
    parts.append(f"SELECT node FROM al{n_iter} ORDER BY node ASC")
    return "".join(parts)


_register(
    "entity_kcore_nodes",
    _entity_kcore,
    _kcore_sql(_KCORE_K, _KCORE_ITER),
)


def _doc_bigram_logprob(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.ranking import doc_bigram_logprob

    out = doc_bigram_logprob(_read(spark, sf, "documents"))
    return out.orderBy(F.col("avg_lp_r").asc(), F.col("doc").asc()).limit(20)


_LM_LP_CTES = (
    f"{_TOK_CTES}, "
    "big AS (SELECT doc, term AS w1, lead(term) OVER "
    "(PARTITION BY doc ORDER BY idx) AS w2 FROM t2), "
    "b2 AS (SELECT * FROM big WHERE w2 IS NOT NULL), "
    "model AS (SELECT w1, w2, COUNT(*) AS n FROM b2 GROUP BY w1, w2), "
    "marg AS (SELECT w1, CAST(SUM(n) AS BIGINT) AS c1 FROM model "
    "GROUP BY w1), "
    "voc AS (SELECT CAST(COUNT(DISTINCT term) AS DOUBLE) AS vsize "
    "FROM t2), "
    "lp AS (SELECT b.doc, ln((m.n + 1.0) / "
    "(g.c1 + (SELECT vsize FROM voc))) AS lp "
    "FROM b2 b JOIN model m ON b.w1 = m.w1 AND b.w2 = m.w2 "
    "JOIN marg g ON b.w1 = g.w1), "
    "lm_score AS (SELECT doc, COUNT(*) AS n_bigrams, "
    "floor(SUM(lp) / COUNT(*) * 10000.0 + 0.5) / 10000.0 AS avg_lp_r "
    "FROM lp GROUP BY doc)"
)

_register(
    "doc_bigram_logprob_bottom20",
    _doc_bigram_logprob,
    f"WITH {_LM_LP_CTES} "
    "SELECT doc, n_bigrams, avg_lp_r FROM lm_score "
    "ORDER BY avg_lp_r ASC, doc ASC LIMIT 20",
)


def _lm_quality_filter_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Percentile-calibrated LM quality gate: cutoff = the k-th lowest
    per-doc average bigram log probability with k = max(n // 10, 1)
    (the bottom-decile VALUE, integer-rank-selected so both engines
    pick the identical cutoff), n_below = docs strictly under it -
    the CCNet-style 'drop the most model-surprising decile' recipe
    with the calibration itself under the oracle.  The rank window
    here is over the per-DOC score table; at extreme doc counts the
    cutoff selection becomes a two-pass count+filter instead."""
    from pyspark.sql.window import Window as W

    from ..operators.ranking import doc_bigram_logprob

    scores = doc_bigram_logprob(
        _read(spark, sf, "documents")
    ).persist()
    rk = scores.withColumn(
        "r",
        F.row_number().over(
            W.orderBy(F.col("avg_lp_r").asc(), F.col("doc").asc())
        ),
    )
    kk = scores.agg(
        F.greatest(F.floor(F.count("*") / 10), F.lit(1)).alias("k")
    )
    cutoff = (
        rk.crossJoin(F.broadcast(kk))
        .filter(F.col("r") == F.col("k"))
        .select(F.col("avg_lp_r").alias("cutoff_r"))
    )
    n_docs = scores.agg(F.count("*").alias("n_docs"))
    n_below = (
        scores.crossJoin(F.broadcast(cutoff))
        .filter(F.col("avg_lp_r") < F.col("cutoff_r"))
        .agg(F.count("*").alias("n_below"))
    )
    _track(scores)
    return n_docs.crossJoin(cutoff).crossJoin(n_below)


_register(
    "lm_quality_filter_stats",
    _lm_quality_filter_stats,
    f"""
WITH {_LM_LP_CTES},
rk AS (SELECT avg_lp_r, row_number() OVER (
         ORDER BY avg_lp_r ASC, doc ASC) AS r FROM lm_score),
kk AS (SELECT GREATEST(COUNT(*) // 10, 1) AS k FROM lm_score),
cutoff AS (SELECT avg_lp_r AS cutoff_r FROM rk
           WHERE r = (SELECT k FROM kk))
SELECT (SELECT COUNT(*) FROM lm_score) AS n_docs,
       (SELECT cutoff_r FROM cutoff) AS cutoff_r,
       (SELECT COUNT(*) FROM lm_score
        WHERE avg_lp_r < (SELECT cutoff_r FROM cutoff)) AS n_below
""",
)


_PJ_NUM, _PJ_DEN = 3, 10


def _prefix_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.neardup import prefix_jaccard_pairs

    out = prefix_jaccard_pairs(
        _read(spark, sf, "documents"), t_num=_PJ_NUM, t_den=_PJ_DEN
    )
    return out.orderBy(F.col("a").asc(), F.col("b").asc())


_register(
    "prefix_jaccard_pairs",
    _prefix_jaccard,
    "WITH toks AS (SELECT DISTINCT doc, term FROM ("
    f"SELECT doc_id AS doc, unnest({_SHINGLES_SQL}) AS term "
    "FROM documents) WHERE term <> ''), "
    "sizes AS (SELECT doc, COUNT(*) AS sz FROM toks GROUP BY doc), "
    "dfreq AS (SELECT term, COUNT(*) AS df FROM toks GROUP BY term), "
    "ranked AS (SELECT t.doc, t.term, row_number() OVER ("
    "PARTITION BY t.doc ORDER BY d.df ASC, t.term ASC) AS r, s.sz "
    "FROM toks t JOIN dfreq d USING (term) JOIN sizes s USING (doc)), "
    f"pref AS (SELECT doc, term, r, sz FROM ranked WHERE r <= sz - "
    f"(({_PJ_NUM} * sz + {_PJ_DEN - 1}) // {_PJ_DEN}) + 1), "
    "cand AS (SELECT DISTINCT a, b FROM ("
    "SELECT x.doc AS a, y.doc AS b, "
    "1 + least(x.sz - x.r, y.sz - y.r) AS ub, "
    "x.sz AS sza, y.sz AS szb "
    "FROM pref x JOIN pref y ON x.term = y.term AND x.doc < y.doc) "
    f"WHERE {_PJ_DEN} * ub >= {_PJ_NUM} * (sza + szb - ub)), "
    "inter AS (SELECT c.a, c.b, COUNT(*) AS isz FROM cand c "
    "JOIN toks ta ON ta.doc = c.a "
    "JOIN toks tb ON tb.doc = c.b AND tb.term = ta.term "
    "GROUP BY c.a, c.b) "
    "SELECT i.a, i.b, i.isz, sa.sz + sb.sz - i.isz AS usz, "
    "floor(i.isz / CAST(sa.sz + sb.sz - i.isz AS DOUBLE) "
    "* 10000.0 + 0.5) / 10000.0 AS jac_r "
    "FROM inter i JOIN sizes sa ON sa.doc = i.a "
    "JOIN sizes sb ON sb.doc = i.b "
    f"WHERE {_PJ_DEN} * i.isz >= {_PJ_NUM} * (sa.sz + sb.sz - i.isz) "
    "ORDER BY a ASC, b ASC",
)


_BLOOM_PRICE = 480000


def _bloom_semijoin_stats(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.sketch import BLOOM_K, bloom_bits, bloom_probe

    members = (
        _read(spark, sf, "orders")
        .filter(F.col("o_totalprice") > _BLOOM_PRICE)
        .select(F.col("o_custkey").cast("string").alias("key"))
        .distinct()
        .persist()
    )
    bits = bloom_bits(members)
    probes = _read(spark, sf, "customer").select(
        F.col("c_custkey").cast("string").alias("key")
    )
    passed = (
        bloom_probe(probes, bits)
        .filter(F.col("hits") == BLOOM_K)
        .select("key")
        .persist()
    )
    n_members = members.agg(F.count("*").alias("n_members"))
    n_pass = passed.agg(F.count("*").alias("n_pass"))
    n_false = passed.join(members, "key", "left_anti").agg(
        F.count("*").alias("n_false_pos")
    )
    n_missed = members.join(passed, "key", "left_anti").agg(
        F.count("*").alias("n_missed_members")
    )
    _track(members)
    _track(passed)
    return (
        n_members.crossJoin(n_pass).crossJoin(n_false).crossJoin(n_missed)
    )


def _bloom_sql() -> str:
    def fold(salt: str, v: str) -> str:
        return (
            f"CAST(concat('0x', substr(md5('{salt}' || {v}), 1, 15)) "
            "AS BIGINT) % 1024"
        )

    bit_rows = " UNION ALL ".join(
        f"SELECT {r} AS r, {fold(f'bloom{r}:', 'key')} AS pos FROM members"
        for r in range(3)
    )
    probe_rows = " UNION ALL ".join(
        f"SELECT key, {r} AS r, {fold(f'bloom{r}:', 'key')} AS pos "
        "FROM probes"
        for r in range(3)
    )
    return f"""
WITH members AS (SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS key
                 FROM orders WHERE o_totalprice > {_BLOOM_PRICE}),
bits AS (SELECT DISTINCT r, pos FROM ({bit_rows})),
probes AS (SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS key
           FROM customer),
ppos AS ({probe_rows}),
hits AS (SELECT p.key, COUNT(*) AS c FROM ppos p
         JOIN bits b ON b.r = p.r AND b.pos = p.pos GROUP BY p.key),
pass AS (SELECT key FROM hits WHERE c = 3)
SELECT (SELECT COUNT(*) FROM members) AS n_members,
       (SELECT COUNT(*) FROM pass) AS n_pass,
       (SELECT COUNT(*) FROM pass p
        WHERE p.key NOT IN (SELECT key FROM members)) AS n_false_pos,
       (SELECT COUNT(*) FROM members m
        WHERE m.key NOT IN (SELECT key FROM pass)) AS n_missed_members
"""


_register(
    "bloom_semijoin_stats",
    _bloom_semijoin_stats,
    _bloom_sql(),
)


def _exact_quota_sample_docs(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.curation import exact_quota_sample

    out = exact_quota_sample(
        _read(spark, sf, "documents"), frac_num=1, frac_den=5,
        strata_col="source", id_col="doc_id",
    )
    return out.orderBy(F.col("strata").asc(), F.col("rnk").asc())


_register(
    "exact_quota_sample_docs",
    _exact_quota_sample_docs,
    "WITH ranked AS (SELECT source AS strata, doc_id AS id, "
    "CAST(row_number() OVER (PARTITION BY source "
    "ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS INT) "
    "AS rnk, "
    "COUNT(*) OVER (PARTITION BY source) AS n_str FROM documents) "
    "SELECT strata, id, rnk FROM ranked WHERE rnk * 5 <= n_str * 1 "
    "ORDER BY strata ASC, rnk ASC",
)


def _event_value_moving_avg(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-2, 0)
    )
    s = F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double")
    n = F.count(F.lit(1)).over(w)
    return (
        _read(spark, sf, "events")
        .select(
            "user_id",
            "event_id",
            (F.floor(s / n * 10000.0 + F.lit(0.5)) / 10000.0).alias("ma_r"),
        )
        .orderBy(F.col("user_id").asc(), F.col("event_id").asc())
    )


_register(
    "event_value_moving_avg",
    _event_value_moving_avg,
    "SELECT user_id, event_id, "
    "floor(CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) "
    "/ COUNT(*) OVER w * 10000.0 + 0.5) / 10000.0 AS ma_r "
    "FROM events "
    "WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC "
    "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) "
    "ORDER BY user_id ASC, event_id ASC",
)


_PROFILE_COLS = (
    "o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority",
)


def _table_profile_orders(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.profile import profile_columns

    out = profile_columns(_read(spark, sf, "orders"), list(_PROFILE_COLS))
    return out.orderBy(F.col("column_name").asc())


_register(
    "table_profile_orders",
    _table_profile_orders,
    " UNION ALL ".join(
        f"SELECT '{c}' AS column_name, COUNT(*) AS n_rows, "
        f"CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) "
        f"AS n_nulls, COUNT(DISTINCT {c}) AS n_distinct FROM orders"
        for c in _PROFILE_COLS
    )
    + " ORDER BY column_name ASC",
)


def _hll_tokens_per_lang(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators import sketch as SK

    toks = (
        _read(spark, sf, "documents")
        .select(
            F.col("lang").alias("grp"),
            F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("key"),
        )
        .filter(F.col("key") != "")
        .dropDuplicates(["grp", "key"])
        .persist()
    )
    est = SK.hll_estimate_grouped(SK.hll_register_maxima_grouped(toks, "grp"))
    exact = toks.groupBy("grp").agg(F.count("*").alias("exact_distinct"))
    _track(toks)
    return (
        est.join(exact, "grp")
        .select(
            F.col("grp").alias("lang"),
            "estimate", "registers_used", "exact_distinct",
        )
        .orderBy(F.col("lang").asc())
    )


_register(
    "hll_tokens_per_lang",
    _hll_tokens_per_lang,
    f"""
WITH toks AS (SELECT DISTINCT lang, token FROM (
    SELECT lang, unnest(string_split_regex(lower(text), '\\s+')) AS token
    FROM documents) WHERE token <> ''),
h AS (SELECT lang, CAST(concat('0x', substr(md5(token), 1, 15)) AS BIGINT)
        AS hh FROM toks),
rr AS (SELECT lang, hh % 256 AS register,
              CASE WHEN (hh >> 8) = 0 THEN 53
                   ELSE 53 - length(bin(hh >> 8)) END AS rho
       FROM h),
mx AS (SELECT lang, register, MAX(rho) AS max_rho FROM rr GROUP BY 1, 2),
agg AS (SELECT lang, SUM(1::BIGINT << (53 - max_rho)) AS s_present,
               COUNT(*) AS used FROM mx GROUP BY lang),
raws AS (SELECT lang, {HLL_K!r} /
           CAST(s_present + (256 - used) * (1::BIGINT << 53) AS DOUBLE)
           AS raw,
         256 - used AS v, used FROM agg),
es AS (SELECT lang, CASE WHEN raw <= 640.0 AND v > 0
                    THEN 256.0 * ln(256.0 / v) ELSE raw END AS e, used
        FROM raws),
ex AS (SELECT lang, COUNT(*) AS exact_distinct FROM toks GROUP BY lang)
SELECT es.lang, floor(es.e * 100.0 + 0.5) / 100.0 AS estimate,
       es.used AS registers_used, ex.exact_distinct
FROM es JOIN ex USING (lang) ORDER BY lang ASC
""",
)


# ---------------------------------------------------------------------------
# BPE merge learning (operators/bpe.py): the tokenizer-training
# primitive.  Fixed n_merges keeps the recurrence oracle-unrollable;
# each oracle round MATERIALIZES (the argmax is referenced three times
# by the merge application - inlining would re-count pairs 3^r times).
# ---------------------------------------------------------------------------

_BPE_MERGES = 4


def _bpe_merge_rules(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.bpe import learn_bpe

    out = learn_bpe(_read(spark, sf, "documents"), n_merges=_BPE_MERGES)
    return out.orderBy(F.col("round").asc())


def _bpe_ctes(n_merges: int) -> str:
    """WITH-clause body unrolling the BPE learner: exposes ``b{r}``
    (round-r rule) and ``wc{n_merges}`` (fully merged sequences)."""
    parts = [
        "wf AS MATERIALIZED (SELECT w, COUNT(*) AS n FROM ("
        "SELECT unnest(string_split_regex(lower(text), '[^a-z0-9]+')) "
        "AS w FROM documents) WHERE w <> '' GROUP BY w), "
        "wc0 AS MATERIALIZED (SELECT w, n, ' ' || array_to_string("
        "list_transform(range(1, len(w) + 1), i -> substr(w, i, 1)), "
        "'  ') || ' ' AS seq FROM wf), ",
    ]
    for r in range(1, n_merges + 1):
        parts.append(
            f"s{r} AS MATERIALIZED (SELECT n, "
            f"string_split(trim(seq), '  ') AS syms FROM wc{r - 1}), "
            f"p{r} AS MATERIALIZED (SELECT syms[i] AS w1, "
            "syms[i + 1] AS w2, CAST(SUM(n) AS BIGINT) AS freq FROM ("
            "SELECT n, syms, unnest(generate_series(1, len(syms) - 1)) "
            f"AS i FROM s{r}) GROUP BY 1, 2), "
            f"b{r} AS MATERIALIZED (SELECT {r} AS round, w1, w2, "
            f"w1 || w2 AS merged, freq FROM p{r} "
            "ORDER BY freq DESC, w1 ASC, w2 ASC LIMIT 1), "
            f"wc{r} AS MATERIALIZED (SELECT w, n, replace(seq, "
            f"' ' || (SELECT w1 FROM b{r}) || '  ' || "
            f"(SELECT w2 FROM b{r}) || ' ', "
            f"' ' || (SELECT merged FROM b{r}) || ' ') AS seq "
            f"FROM wc{r - 1}), "
        )
    parts[-1] = parts[-1][:-2]
    return "".join(parts)


def _bpe_sql(n_merges: int) -> str:
    return (
        f"WITH {_bpe_ctes(n_merges)} "
        + " UNION ALL ".join(
            f"SELECT round, w1, w2, merged, freq FROM b{r}"
            for r in range(1, n_merges + 1)
        )
        + " ORDER BY round ASC"
    )


_register(
    "bpe_merge_rules",
    _bpe_merge_rules,
    _bpe_sql(_BPE_MERGES),
)


def _bpe_piece_vocab(spark: SparkSession, sf: str) -> DataFrame:
    """Learn-then-apply: segment the corpus vocabulary with the learned
    merge rules and return the top-20 piece frequencies (occurrence-
    weighted) - the distribution the tokenizer actually reshapes."""
    from ..operators.bpe import learn_bpe, segment_words

    docs = _read(spark, sf, "documents")
    merges = learn_bpe(docs, n_merges=_BPE_MERGES)
    seg = segment_words(docs, merges)
    return (
        seg.select("n", F.explode("pieces").alias("piece"))
        .groupBy("piece")
        .agg(F.sum("n").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("piece").asc())
        .limit(20)
    )


_register(
    "bpe_piece_vocab_top20",
    _bpe_piece_vocab,
    f"WITH {_bpe_ctes(_BPE_MERGES)} "
    "SELECT piece, CAST(SUM(n) AS BIGINT) AS cnt FROM ("
    "SELECT n, unnest(string_split(trim(seq), '  ')) AS piece "
    f"FROM wc{_BPE_MERGES}) "
    "GROUP BY piece ORDER BY cnt DESC, piece ASC LIMIT 20",
)


def _streaming_hll_replay(spark: SparkSession, sf: str) -> DataFrame:
    from ..streaming.incremental import replay_hll_token_cardinality

    return replay_hll_token_cardinality(
        spark, _read(spark, sf, "documents"), n_slices=4
    )


# The stream slices the corpus into 4 micro-batches, each appending its
# own partial register-maxima sketch; register max is associative +
# duplicate-insensitive, so the merged estimate is bit-identical to the
# one-shot batch sketch and the batch query's exact oracle applies
# VERBATIM - slicing provably cannot move the answer.
_register(
    "streaming_hll_cardinality_replay",
    _streaming_hll_replay,
    ORACLES["hll_token_cardinality"],
)


def _hll_set_algebra(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch SET ALGEBRA: |A ∪ B| from the register-wise max merge of
    two independently-built HLLs (the mergeability property), |A ∩ B|
    by inclusion-exclusion on the rounded estimates - next to the exact
    counts.  At 100 TB this answers overlap questions between corpus
    slices from two constant-size states without rescanning either."""
    from ..operators import sketch as SK

    docs = _read(spark, sf, "documents")

    def toks(lang: str) -> DataFrame:
        return (
            docs.filter(F.col("lang") == lang)
            .select(
                F.explode(
                    F.split(F.lower(F.col("text")), r"\s+")
                ).alias("key")
            )
            .filter(F.col("key") != "")
            .distinct()
        )

    ta, tb = toks("en").persist(), toks("es").persist()
    ma = SK.hll_register_maxima(ta).persist()
    mb = SK.hll_register_maxima(tb).persist()
    mu = (
        ma.unionByName(mb)
        .groupBy("register")
        .agg(F.max("max_rho").alias("max_rho"))
    )
    ea = SK.hll_estimate(ma).select(F.col("estimate").alias("est_en"))
    eb = SK.hll_estimate(mb).select(F.col("estimate").alias("est_es"))
    eu = SK.hll_estimate(mu).select(F.col("estimate").alias("est_union"))
    exact_a = ta.agg(F.count("*").alias("exact_en"))
    exact_b = tb.agg(F.count("*").alias("exact_es"))
    exact_i = ta.join(tb, "key").agg(F.count("*").alias("exact_inter"))
    for fr in (ta, tb, ma, mb):
        _track(fr)
    return (
        ea.crossJoin(eb).crossJoin(eu)
        .crossJoin(exact_a).crossJoin(exact_b).crossJoin(exact_i)
        .select(
            "est_en", "est_es", "est_union",
            (
                F.floor(
                    (F.col("est_en") + F.col("est_es") - F.col("est_union"))
                    * 100.0 + F.lit(0.5)
                ) / 100.0
            ).alias("est_inter_r"),
            "exact_en", "exact_es", "exact_inter",
        )
    )


def _hll_mx_sql(name: str, lang: str | None) -> str:
    where = f"WHERE lang = '{lang}'" if lang else ""
    return (
        f"tok_{name} AS (SELECT DISTINCT token FROM ("
        "SELECT unnest(string_split_regex(lower(text), '\\s+')) AS token "
        f"FROM documents {where}) WHERE token <> ''), "
        f"mx_{name} AS (SELECT hh % 256 AS register, "
        "MAX(CASE WHEN (hh >> 8) = 0 THEN 53 "
        "ELSE 53 - length(bin(hh >> 8)) END) AS max_rho FROM ("
        "SELECT CAST(concat('0x', substr(md5(token), 1, 15)) AS BIGINT) "
        f"AS hh FROM tok_{name}) GROUP BY 1)"
    )


def _hll_est_sql(name: str, src: str) -> str:
    return (
        f"est_{name} AS (SELECT CASE WHEN raw <= 640.0 AND v > 0 "
        "THEN 256.0 * ln(256.0 / v) ELSE raw END AS e FROM ("
        f"SELECT {HLL_K!r} / CAST(s_present + (256 - used) * "
        "(1::BIGINT << 53) AS DOUBLE) AS raw, 256 - used AS v FROM ("
        "SELECT SUM(1::BIGINT << (53 - max_rho)) AS s_present, "
        f"COUNT(*) AS used FROM {src})))"
    )


_register(
    "hll_set_algebra_en_es",
    _hll_set_algebra,
    f"""
WITH {_hll_mx_sql('en', 'en')},
{_hll_mx_sql('es', 'es')},
mx_u AS (SELECT register, MAX(max_rho) AS max_rho FROM
         (SELECT * FROM mx_en UNION ALL SELECT * FROM mx_es)
         GROUP BY 1),
{_hll_est_sql('a', 'mx_en')},
{_hll_est_sql('b', 'mx_es')},
{_hll_est_sql('u', 'mx_u')},
r AS (SELECT floor((SELECT e FROM est_a) * 100.0 + 0.5) / 100.0 AS est_en,
             floor((SELECT e FROM est_b) * 100.0 + 0.5) / 100.0 AS est_es,
             floor((SELECT e FROM est_u) * 100.0 + 0.5) / 100.0
               AS est_union)
SELECT est_en, est_es, est_union,
       floor((est_en + est_es - est_union) * 100.0 + 0.5) / 100.0
         AS est_inter_r,
       (SELECT COUNT(*) FROM tok_en) AS exact_en,
       (SELECT COUNT(*) FROM tok_es) AS exact_es,
       (SELECT COUNT(*) FROM tok_en JOIN tok_es USING (token))
         AS exact_inter
FROM r
""",
)


def _repo_commit_churn(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.repo import commit_churn
    from ..sources.synth import files_history

    del sf  # dual-synthesized fixture (no commit history in sf tables)
    out = commit_churn(files_history(spark))
    return out.orderBy(F.col("repo").asc(), F.col("commit_seq").asc())


_register(
    "repo_commit_churn",
    _repo_commit_churn,
    f"""
WITH fh AS ({_files_history_sql()}),
l AS (SELECT repo, commit_seq, content,
             lag(content) OVER (PARTITION BY repo, path
                                ORDER BY commit_seq ASC) AS prev
      FROM fh)
SELECT repo, commit_seq, COUNT(*) AS n_changed
FROM l WHERE prev IS NULL OR prev <> content
GROUP BY repo, commit_seq ORDER BY repo ASC, commit_seq ASC
""",
)


_SPAN_K = 8


def _duplicated_ngram_spans(spark: SparkSession, sf: str) -> DataFrame:
    """Cross-document repeated token spans of exactly _SPAN_K words -
    the 'find repeated passages' primitive (deduplicate-text-datasets
    motif) at span granularity, between exact-paragraph dedup and
    external-benchmark decontamination in the suite."""
    from pyspark.sql.window import Window as W

    terms = (
        _read(spark, sf, "documents")
        .select(
            F.col("doc_id").alias("doc"),
            F.posexplode(
                F.split(F.lower(F.col("text")), "[^a-z0-9]+")
            ).alias("idx", "term"),
        )
        .filter(F.col("term") != "")
    )
    w = W.partitionBy("doc").orderBy(F.col("idx").asc())
    leads = [F.lead("term", i).over(w) for i in range(1, _SPAN_K)]
    span = F.when(
        leads[-1].isNotNull(), F.concat_ws(" ", F.col("term"), *leads)
    )
    spans = terms.select("doc", span.alias("span")).filter(
        F.col("span").isNotNull()
    )
    return (
        spans.groupBy("span")
        .agg(
            F.countDistinct("doc").alias("n_docs"),
            F.count("*").alias("n_occ"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(
            F.col("n_docs").desc(), F.col("n_occ").desc(),
            F.col("span").asc(),
        )
        .limit(20)
    )


_SPAN_LEADS_SQL = ", ".join(
    f"lead(term, {i}) OVER (PARTITION BY doc ORDER BY idx) AS l{i}"
    for i in range(1, _SPAN_K)
)
_SPAN_CONCAT_SQL = " || ' ' || ".join(
    ["term"] + [f"l{i}" for i in range(1, _SPAN_K - 1)]
) + f" || ' ' || l{_SPAN_K - 1}"

_register(
    "duplicated_ngram_spans_top20",
    _duplicated_ngram_spans,
    f"WITH {_TOK_CTES}, "
    f"ld AS (SELECT doc, term, {_SPAN_LEADS_SQL} FROM t2), "
    f"sp AS (SELECT doc, {_SPAN_CONCAT_SQL} AS span FROM ld "
    f"WHERE l{_SPAN_K - 1} IS NOT NULL) "
    "SELECT span, COUNT(DISTINCT doc) AS n_docs, COUNT(*) AS n_occ "
    "FROM sp GROUP BY span HAVING COUNT(DISTINCT doc) >= 2 "
    "ORDER BY n_docs DESC, n_occ DESC, span ASC LIMIT 20",
)


def _cm_heavy_hitters(spark: SparkSession, sf: str) -> DataFrame:
    """Sketch-driven heavy hitters: every distinct token probed through
    the Count-Min grid, top-20 by estimate - the constant-state
    frequent-items query (estimates upper-bound truth one-sidedly)."""
    from ..operators import sketch as SK

    toks = (
        _read(spark, sf, "documents")
        .select(
            F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("item")
        )
        .filter(F.col("item") != "")
        .persist()
    )
    sk = SK.cm_sketch(toks)
    probes = toks.distinct()
    est = SK.cm_query(sk, probes)
    true = toks.groupBy("item").agg(F.count("*").alias("true_count"))
    _track(toks)
    return (
        est.join(true, "item")
        .select("item", "true_count", "cm_estimate")
        .orderBy(
            F.col("cm_estimate").desc(), F.col("item").asc()
        )
        .limit(20)
    )


def _cm_hh_sql() -> str:
    depth, width = 4, 64
    fold = (
        "CAST(concat('0x', substr(md5('cm{r}:' || {v}), 1, 15)) AS BIGINT)"
        " % " + str(width)
    )
    rows = " UNION ALL ".join(
        f"SELECT {r} AS row, {fold.format(r=r, v='item')} AS bucket "
        "FROM toks"
        for r in range(depth)
    )
    mins = ", ".join(
        f"COALESCE((SELECT c FROM grid g WHERE g.row = {r} "
        f"AND g.bucket = {fold.format(r=r, v='p.item')}), 0)"
        for r in range(depth)
    )
    return f"""
WITH toks AS (SELECT token AS item FROM ({_SKETCH_TOK})
              WHERE token <> ''),
grid AS (SELECT row, bucket, COUNT(*) AS c FROM ({rows}) GROUP BY 1, 2),
probes AS (SELECT item, COUNT(*) AS true_count FROM toks GROUP BY item)
SELECT p.item, p.true_count, LEAST({mins}) AS cm_estimate
FROM probes p
ORDER BY cm_estimate DESC, item ASC LIMIT 20
"""


_register(
    "cm_heavy_hitters_top20",
    _cm_heavy_hitters,
    _cm_hh_sql(),
)


_PC_ITER = 3


def _embedding_top_pc(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.linalg import top_principal_component

    out = top_principal_component(
        _read(spark, sf, "embeddings"), n_iter=_PC_ITER
    )
    return out.select(
        "i",
        (F.floor(F.col("z") * 10000.0 + F.lit(0.5)) / 10000.0).alias("z_r"),
    ).orderBy(F.col("i").asc())


def _pc_ctes(dim: int, n_iter: int) -> str:
    """WITH-clause body computing the sign-fixed top PC: exposes
    ``ev`` (DOUBLE[] embeddings), ``z{n_iter}`` (unsigned PC) and
    ``sg`` (the sign scalar)."""
    parts = [
        "ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e "
        "FROM embeddings), "
        "gm AS MATERIALIZED (SELECT ii.i, jj.j, "
        "SUM(e[ii.i + 1] * e[jj.j + 1]) AS v FROM ev, "
        f"(SELECT unnest(range(0, {dim})) AS i) ii, "
        f"(SELECT unnest(range(0, {dim})) AS j) jj GROUP BY 1, 2), "
        "z0 AS (SELECT DISTINCT i, 1.0 AS z FROM gm), ",
    ]
    for r in range(1, n_iter + 1):
        parts.append(
            f"y{r} AS MATERIALIZED (SELECT g.i, SUM(g.v * z.z) AS y "
            f"FROM gm g JOIN z{r - 1} z ON g.j = z.i GROUP BY 1), "
            f"z{r} AS MATERIALIZED (SELECT i, "
            f"y / (SELECT sqrt(SUM(y * y)) FROM y{r}) AS z FROM y{r}), "
        )
    parts.append(
        "sg AS (SELECT CASE WHEN z < 0 THEN -1.0 ELSE 1.0 END AS sgn "
        f"FROM z{n_iter} ORDER BY abs(z) DESC, i ASC LIMIT 1)"
    )
    return "".join(parts)


def _pc_sql(dim: int, n_iter: int) -> str:
    return (
        f"WITH {_pc_ctes(dim, n_iter)} "
        "SELECT CAST(i AS INT) AS i, "
        "floor(z * (SELECT sgn FROM sg) * 10000.0 + 0.5) / 10000.0 AS z_r "
        f"FROM z{n_iter} ORDER BY i ASC"
    )


# Distributed PCA, the scalable shape: the corpus collapses into the
# dim^2 Gram matrix in ONE pass (map-side-combined products of
# DOUBLE-cast components - each product exact, only sum order moves the
# result, absorbed by 4dp rounding), then fixed-round power iteration
# runs on the 4096-row aggregate.
_register(
    "embedding_top_pc",
    _embedding_top_pc,
    _pc_sql(_EMB_DIMS, _PC_ITER),
)


def _embedding_abtt_stats(spark: SparkSession, sf: str) -> DataFrame:
    """All-but-the-top (Mu & Viswanath 2018) diagnostics: per vector,
    the norm, the dominant-direction component (x . z), and the
    post-projection norm sqrt(|x|^2 - (x . z)^2) - the exact identity
    for a unit z, mirrored by the oracle so both engines run the same
    closed form.  z is dim rows, collected once as plan literals; the
    corpus is touched by pure per-row array expressions (zero shuffle)."""
    from ..operators.linalg import top_principal_component

    emb = _read(spark, sf, "embeddings")
    pc = top_principal_component(emb, n_iter=_PC_ITER)
    zs = F.array(
        *[
            F.lit(float(r["z"]))
            for r in sorted(pc.collect(), key=lambda r: r["i"])
        ]
    )
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with(v, zs, lambda a, b: a * b),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    xx = F.aggregate(
        F.zip_with(v, v, lambda a, b: a * b),
        F.lit(0.0), lambda acc, x: acc + x,
    )
    r4 = lambda c: F.floor(c * 10000.0 + F.lit(0.5)) / 10000.0  # noqa: E731
    return emb.select(
        "vec_id",
        r4(F.sqrt(xx)).alias("norm_r"),
        r4(dot).alias("dot_r"),
        r4(F.sqrt(F.greatest(xx - dot * dot, F.lit(0.0)))).alias(
            "norm_abtt_r"
        ),
    ).orderBy(F.col("vec_id").asc())


_register(
    "embedding_abtt_stats",
    _embedding_abtt_stats,
    f"""
WITH {_pc_ctes(_EMB_DIMS, _PC_ITER)},
zl AS (SELECT list(z * (SELECT sgn FROM sg) ORDER BY i) AS zv
       FROM z{_PC_ITER})
SELECT vec_id,
  floor(sqrt(list_dot_product(e, e)) * 10000.0 + 0.5) / 10000.0
    AS norm_r,
  floor(list_dot_product(e, (SELECT zv FROM zl)) * 10000.0 + 0.5)
    / 10000.0 AS dot_r,
  floor(sqrt(greatest(list_dot_product(e, e) -
        pow(list_dot_product(e, (SELECT zv FROM zl)), 2), 0.0))
        * 10000.0 + 0.5) / 10000.0 AS norm_abtt_r
FROM ev ORDER BY vec_id ASC
""",
)


def _streaming_cm_replay(spark: SparkSession, sf: str) -> DataFrame:
    from ..streaming.incremental import replay_cm_heavy_hitters

    return replay_cm_heavy_hitters(
        spark, _read(spark, sf, "documents"), k=20, n_slices=4
    )


# Counter addition is exactly associative (all-integer grid), so the
# stream-built sketch is bit-identical to the one-shot batch sketch and
# the batch heavy-hitters oracle applies VERBATIM.
_register(
    "streaming_cm_heavy_hitters_replay",
    _streaming_cm_replay,
    _cm_hh_sql(),
)


def _fuzzy_token_matches(spark: SparkSession, sf: str) -> DataFrame:
    """Typo-tolerant linking: the 20 most frequent corpus tokens as the
    'dictionary', matched against every distinct corpus token PLUS a
    deterministic planted-typo set (one trailing insertion and one
    head deletion per dictionary form - the all-distant lorem vocabulary
    would otherwise green-light the operator vacuously with 0 rows)
    within Levenshtein distance 1 via the SymSpell symmetric-delete
    join - the fuzzy upgrade of the reference's exact-form linksTo
    semantics."""
    from ..operators.fuzzy import fuzzy_matches

    toks = (
        _read(spark, sf, "documents")
        .select(
            F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("term")
        )
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count("*").alias("n"))
        .persist()
    )
    dict_ = (
        toks.orderBy(F.col("n").desc(), F.col("term").asc())
        .limit(20)
        .select(F.col("term").alias("form"))
        .persist()
    )
    planted = dict_.select(
        F.concat(F.col("form"), F.lit("s")).alias("term")
    ).unionByName(
        dict_.filter(F.length("form") >= 2).select(
            F.expr("substring(form, 2)").alias("term")
        )
    )
    terms = toks.select("term").unionByName(planted)
    out = fuzzy_matches(terms, dict_)
    _track(toks)
    _track(dict_)
    return (
        out.filter(F.col("form") != F.col("term"))
        .orderBy(F.col("form").asc(), F.col("term").asc())
    )


_FUZZY_VARIANTS_SQL = (
    "list_transform(range(0, len({w}) + 1), i -> "
    "CASE WHEN i = 0 THEN {w} ELSE "
    "substr({w}, 1, CAST(i - 1 AS INT)) || "
    "substr({w}, CAST(i + 1 AS INT)) END)"
)

_register(
    "fuzzy_token_matches",
    _fuzzy_token_matches,
    f"""
WITH toks AS (SELECT token AS term, COUNT(*) AS n FROM ({_SKETCH_TOK})
              WHERE token <> '' GROUP BY 1),
dict AS (SELECT term AS form FROM toks
         ORDER BY n DESC, term ASC LIMIT 20),
allt AS (SELECT term FROM toks
         UNION ALL SELECT form || 's' FROM dict
         UNION ALL SELECT substr(form, 2) FROM dict WHERE len(form) >= 2),
tv AS (SELECT DISTINCT term,
         unnest({_FUZZY_VARIANTS_SQL.format(w='term')}) AS var
       FROM allt),
dv AS (SELECT DISTINCT form,
         unnest({_FUZZY_VARIANTS_SQL.format(w='form')}) AS var
       FROM dict),
cand AS (SELECT DISTINCT d.form, v.term FROM tv v JOIN dv d USING (var))
SELECT form, term, CAST(levenshtein(form, term) AS INT) AS dist
FROM cand WHERE levenshtein(form, term) <= 1 AND form <> term
ORDER BY form ASC, term ASC
""",
)


_N_SHARDS = 8


def _training_shard_assignment(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic global shuffle + sharding for training order:
    shard = md5 fold of the id mod N (uniform, engine-portable), pos =
    md5-rank within the shard - the epoch-stable data order every
    trainer needs, reproducible across engines and cluster sizes.
    One window per shard partition; at a trillion rows the same md5
    sort key feeds a write partitioned by shard with per-file ordering
    (sortWithinPartitions) instead of a rank column."""
    from pyspark.sql.window import Window as W

    h = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10
    ).cast("bigint")
    w = W.partitionBy("shard").orderBy(
        F.md5(F.col("doc_id").cast("string")).asc(), F.col("doc_id").asc()
    )
    return (
        _read(spark, sf, "documents")
        .select("doc_id", (h % _N_SHARDS).cast("int").alias("shard"))
        .withColumn("pos", F.row_number().over(w))
        .orderBy(F.col("shard").asc(), F.col("pos").asc())
    )


_register(
    "training_shard_assignment",
    _training_shard_assignment,
    f"""
SELECT doc_id,
  CAST(CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
       AS BIGINT) % {_N_SHARDS} AS INT) AS shard,
  CAST(row_number() OVER (
    PARTITION BY CAST(concat('0x', substr(md5(CAST(doc_id AS VARCHAR)),
                 1, 15)) AS BIGINT) % {_N_SHARDS}
    ORDER BY md5(CAST(doc_id AS VARCHAR)) ASC, doc_id ASC) AS INT) AS pos
FROM documents ORDER BY shard ASC, pos ASC
""",
)


def _sliding_window_active_users(spark: SparkSession, sf: str) -> DataFrame:
    """Distinct active users per 30-minute window sliding every 10
    minutes (each event lands in exactly 3 overlapping windows) - the
    sliding-window twin of the tumbling `windowed_event_counts`.
    Spark's window(slide) generator and the oracle's explicit 3-offset
    unnest produce the identical window set; COUNT(DISTINCT) per window
    is the scale cost (swap in the grouped HLL for the sketch form)."""
    ev = _read(spark, sf, "events")
    w = F.window("ts", "30 minutes", "10 minutes")
    return (
        ev.groupBy(w.alias("w"))
        .agg(F.countDistinct("user_id").alias("active_users"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "active_users",
        )
        .orderBy(F.col("window_start").asc())
    )


_register(
    "sliding_window_active_users",
    _sliding_window_active_users,
    """
WITH e AS (
  SELECT user_id,
         time_bucket(INTERVAL '10 minutes', ts)
           - k.o * INTERVAL '10 minutes' AS wstart
  FROM events, (SELECT unnest([0, 1, 2]) AS o) k
)
SELECT strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start,
       COUNT(DISTINCT user_id) AS active_users
FROM e GROUP BY wstart ORDER BY window_start ASC
""",
)


def _event_value_mad_outliers(spark: SparkSession, sf: str) -> DataFrame:
    """Robust outlier profile: median and MAD (median absolute
    deviation) of event values, both selected by INTEGER rank (lower
    middle for even counts - deterministic across engines, no
    percentile interpolation), and the count of events with
    |x - median| > 5 * MAD.  Values compare in DECIMAL(18,2) so
    equality and ordering are exact."""
    from pyspark.sql.window import Window as W

    ev = _read(spark, sf, "events").select(
        "event_id", F.col("value").cast("decimal(18,2)").alias("v")
    ).persist()
    n2 = ev.agg(
        F.floor((F.count("*") + 1) / 2).cast("bigint").alias("mid")
    )
    med = (
        ev.withColumn(
            "r",
            F.row_number().over(W.orderBy(F.col("v").asc(),
                                          F.col("event_id").asc())),
        )
        .crossJoin(F.broadcast(n2))
        .filter(F.col("r") == F.col("mid"))
        .select(F.col("v").alias("med"))
    )
    dev = ev.crossJoin(F.broadcast(med)).select(
        "event_id", F.abs(F.col("v") - F.col("med")).alias("ad"),
        "med",
    ).persist()
    mad = (
        dev.withColumn(
            "r",
            F.row_number().over(W.orderBy(F.col("ad").asc(),
                                          F.col("event_id").asc())),
        )
        .crossJoin(F.broadcast(n2))
        .filter(F.col("r") == F.col("mid"))
        .select(F.col("ad").alias("mad"))
    )
    out = (
        dev.crossJoin(F.broadcast(mad))
        .filter(F.col("ad") > F.lit(5) * F.col("mad"))
        .agg(F.count("*").alias("n_outliers"))
    )
    res = (
        med.crossJoin(mad).crossJoin(out)
        .select(
            F.col("med").cast("double").alias("median_v"),
            F.col("mad").cast("double").alias("mad_v"),
            "n_outliers",
        )
    )
    _track(ev)
    _track(dev)
    return res


_register(
    "event_value_mad_outliers",
    _event_value_mad_outliers,
    """
WITH ev AS (SELECT event_id, CAST(value AS DECIMAL(18,2)) AS v
            FROM events),
n2 AS (SELECT CAST(floor((COUNT(*) + 1) / 2) AS BIGINT) AS mid FROM ev),
med AS (SELECT v AS med FROM (
          SELECT v, row_number() OVER (ORDER BY v ASC, event_id ASC)
            AS r FROM ev)
        WHERE r = (SELECT mid FROM n2)),
dev AS (SELECT event_id, abs(v - (SELECT med FROM med)) AS ad FROM ev),
mad AS (SELECT ad AS mad FROM (
          SELECT ad, event_id,
                 row_number() OVER (ORDER BY ad ASC, event_id ASC) AS r
          FROM dev)
        WHERE r = (SELECT mid FROM n2))
SELECT CAST((SELECT med FROM med) AS DOUBLE) AS median_v,
       CAST((SELECT mad FROM mad) AS DOUBLE) AS mad_v,
       (SELECT COUNT(*) FROM dev
        WHERE ad > 5 * (SELECT mad FROM mad)) AS n_outliers
""",
)


# ---------------------------------------------------------------------------
# Relational-surface gaps: PIVOT, semi-structured JSON, calendar gap-fill
# ---------------------------------------------------------------------------
# Reference analog: the reference serves pre-shaped per-dimension counts
# from MariaDB (SURVEY.md Q10/Q19); these re-express the same reporting
# shapes with Spark's pivot/JSON/sequence surface so a reference user's
# reporting queries keep working.

_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _events_pivot_by_type(spark: SparkSession, sf: str) -> DataFrame:
    """groupBy().pivot() with an EXPLICIT value list - without it Spark
    runs a separate distinct job to discover the pivot values (a full
    extra scan at 100 TB)."""
    ev = _read(spark, sf, "events")
    piv = (
        ev.select((F.col("user_id") % F.lit(10)).alias("cohort"),
                  "event_type")
        .groupBy("cohort")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "cohort",
        *[F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(t)
          for t in _EVENT_TYPES],
    )


_register(
    "events_pivot_by_type",
    _events_pivot_by_type,
    "SELECT user_id % 10 AS cohort, "
    + ", ".join(
        f"COUNT(*) FILTER (WHERE event_type = '{t}') AS {t}"
        for t in _EVENT_TYPES
    )
    + " FROM events GROUP BY 1",
)


def _event_props_key_histogram(spark: SparkSession, sf: str) -> DataFrame:
    """Semi-structured extraction: events.props is a JSON string; pull
    ``$.k`` JVM-side (get_json_object - no Python in the scan) and
    histogram it by decade."""
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        _read(spark, sf, "events")
        .select(k.alias("k"))
        .filter(F.col("k").isNotNull())
        .groupBy(F.floor(F.col("k") / F.lit(10)).alias("k_decade"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").alias("k_min"),
            F.max("k").alias("k_max"),
        )
    )


_register(
    "event_props_key_histogram",
    _event_props_key_histogram,
    """
WITH kx AS (SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k
            FROM events)
SELECT CAST(floor(k / 10) AS BIGINT) AS k_decade, COUNT(*) AS n,
       MIN(k) AS k_min, MAX(k) AS k_max
FROM kx WHERE k IS NOT NULL GROUP BY 1
""",
)


def _hourly_event_counts_gapfilled(spark: SparkSession, sf: str) -> DataFrame:
    """Dense per-(type, hour) activity series: hours with no events
    appear with n = 0 and the running cumulative stays flat.  The
    calendar is generated (sequence + explode) from the aggregated
    bounds, so everything after the one groupBy is proportional to
    hours x types, not to events - the 100 TB shape."""
    ev = _read(spark, sf, "events").select(
        F.date_trunc("hour", F.col("ts")).alias("h"), "event_type"
    )
    counts = ev.groupBy("h", "event_type").agg(F.count(F.lit(1)).alias("n"))
    cal = (
        ev.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
        .select(
            F.explode(
                F.sequence("h0", "h1", F.expr("interval 1 hour"))
            ).alias("h")
        )
    )
    grid = cal.crossJoin(ev.select("event_type").distinct())
    w = Window.partitionBy("event_type").orderBy(F.col("h").asc())
    return (
        grid.join(counts, ["h", "event_type"], "left")
        .select(
            "h", "event_type",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
        )
        .withColumn("running_n", F.sum("n").over(w))
    )


_register(
    "hourly_event_counts_gapfilled",
    _hourly_event_counts_gapfilled,
    """
WITH ev AS (SELECT date_trunc('hour', ts) AS h, event_type FROM events),
counts AS (SELECT h, event_type, COUNT(*) AS n FROM ev GROUP BY 1, 2),
cal AS (SELECT unnest(generate_series((SELECT MIN(h) FROM ev),
                                      (SELECT MAX(h) FROM ev),
                                      INTERVAL 1 HOUR)) AS h),
grid AS (SELECT cal.h, t.event_type
         FROM cal CROSS JOIN (SELECT DISTINCT event_type FROM ev) t)
SELECT g.h, g.event_type, COALESCE(c.n, 0) AS n,
       CAST(SUM(COALESCE(c.n, 0)) OVER (PARTITION BY g.event_type
                                        ORDER BY g.h ASC) AS BIGINT)
         AS running_n
FROM grid g LEFT JOIN counts c
  ON g.h = c.h AND g.event_type = c.event_type
""",
)


def _view_click_pairs_within_hour(spark: SparkSession, sf: str) -> DataFrame:
    """Batch band join through the bucketed equi-join plan (no per-key
    cross product): every (view, click) pair of the same user where the
    click lands strictly within one hour after the view."""
    from ..operators.temporal import ntz_micros, range_join_buckets

    ev = _read(spark, sf, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("view_id"),
        F.col("ts").alias("view_ts"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    out = range_join_buckets(
        views, clicks, "user_id", "view_ts", "click_ts", 0, 3600
    )
    return out.select(
        "user_id", "view_id", "click_id",
        (ntz_micros(F.col("click_ts")) - ntz_micros(F.col("view_ts")))
        .alias("gap_us"),
    )


_register(
    "view_click_pairs_within_hour",
    _view_click_pairs_within_hour,
    """
SELECT v.user_id AS user_id, v.event_id AS view_id,
       c.event_id AS click_id,
       epoch_us(c.ts) - epoch_us(v.ts) AS gap_us
FROM events v JOIN events c ON v.user_id = c.user_id
WHERE v.event_type = 'view' AND c.event_type = 'click'
  AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 3600 SECONDS
""",
)


def _exact_event_quantiles(spark: SparkSession, ev: DataFrame) -> DataFrame:
    """(qname, exact_v) rank quantiles - validation side only (global
    row_number sort; the sketch path is the shape that scales)."""
    qf = spark.createDataFrame(
        [("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)],
        "qname string, num int, den int",
    )
    w = Window.orderBy(F.col("v").asc(), F.col("event_id").asc())
    return (
        ev.withColumn("rnk", F.row_number().over(w))
        .crossJoin(ev.agg(F.count(F.lit(1)).alias("__n")))
        .crossJoin(F.broadcast(qf))
        .filter(
            F.col("rnk")
            == F.floor(
                (F.col("__n") * F.col("num") + F.col("den") - F.lit(1))
                / F.col("den")
            )
        )
        .select("qname", F.col("v").alias("exact_v"))
    )


def _quantile_est_with_exact(
    spark: SparkSession, est: DataFrame, ev: DataFrame
) -> DataFrame:
    r4 = lambda c: F.floor(c * 10000.0 + F.lit(0.5)) / 10000.0  # noqa: E731
    return est.join(_exact_event_quantiles(spark, ev), "qname").select(
        "qname",
        r4(F.col("est_raw")).alias("est"),
        "exact_v",
        r4(F.col("est_raw") - F.col("exact_v")).alias("err"),
    )


def _event_value_quantile_sketch(spark: SparkSession, sf: str) -> DataFrame:
    """Mergeable equi-width histogram quantile sketch vs exact rank
    quantiles.  The sketch path (2 aggs + a 1024-row cumulative window)
    is the 100 TB shape; the exact rank side exists only to put the
    one-sided error bound 0 <= est - exact <= vmax/1024 under the
    oracle."""
    from ..operators import sketch as SK

    ev = _read(spark, sf, "events").select(
        F.col("value").cast("double").alias("v"), "event_id"
    )
    vmax = ev.agg(F.max("v").alias("__vmax"))
    hist = SK.histogram_bins(ev, "v", vmax_df=vmax)
    est = SK.histogram_quantiles(hist, vmax)
    return _quantile_est_with_exact(spark, est, ev)


_QUANTILE_SKETCH_SQL = """
WITH v AS (SELECT CAST(value AS DOUBLE) AS v, event_id FROM events),
mx AS (SELECT MAX(v) AS vmax, COUNT(*) AS n FROM v),
b AS (SELECT LEAST(CAST(floor(v * 1024.0 / (SELECT vmax FROM mx))
                        AS BIGINT), 1023) AS bin FROM v),
h AS (SELECT bin, COUNT(*) AS cnt FROM b GROUP BY bin),
c AS (SELECT bin, CAST(SUM(cnt) OVER (ORDER BY bin ASC) AS BIGINT)
        AS cum FROM h),
q(qname, num, den) AS (VALUES ('p50', 1, 2), ('p90', 9, 10),
                              ('p99', 99, 100)),
tgt AS (SELECT qname, num, den,
               CAST(floor(((SELECT n FROM mx) * num + den - 1)
                          / den) AS BIGINT) AS target FROM q),
qb AS (SELECT t.qname, MIN(c.bin) AS qbin
       FROM c CROSS JOIN tgt t WHERE c.cum >= t.target
       GROUP BY t.qname),
est AS (SELECT qname,
               (qbin + 1) * (SELECT vmax FROM mx) / 1024.0 AS est_raw
        FROM qb),
r AS (SELECT v, row_number() OVER (ORDER BY v ASC, event_id ASC)
        AS rnk FROM v),
ex AS (SELECT t.qname, r.v AS exact_v
       FROM r JOIN tgt t ON r.rnk = t.target)
SELECT e.qname,
       floor(e.est_raw * 10000.0 + 0.5) / 10000.0 AS est,
       x.exact_v,
       floor((e.est_raw - x.exact_v) * 10000.0 + 0.5) / 10000.0 AS err
FROM est e JOIN ex x ON e.qname = x.qname
"""

_register(
    "event_value_quantile_sketch",
    _event_value_quantile_sketch,
    _QUANTILE_SKETCH_SQL,
)


def _streaming_quantile_sketch_replay(
    spark: SparkSession, sf: str
) -> DataFrame:
    """The SAME quantile answers produced through a real 4-micro-batch
    stream: per-batch partial histograms appended in foreachBatch,
    merged at read with one per-bin sum.  Per-bin sum is associative
    and commutative, so the merged grid is bit-identical to the batch
    sketch and the batch oracle applies verbatim."""
    from ..streaming.incremental import replay_quantile_sketch

    events = _read(spark, sf, "events")
    est = replay_quantile_sketch(spark, events)
    ev = events.select(
        F.col("value").cast("double").alias("v"), "event_id"
    )
    return _quantile_est_with_exact(spark, est, ev)


_register(
    "streaming_quantile_sketch_replay",
    _streaming_quantile_sketch_replay,
    _QUANTILE_SKETCH_SQL,
)


def _dup_span_removal_stats(spark: SparkSession, sf: str) -> DataFrame:
    """Corpus-level exact-substring dedup accounting: what fraction of
    all tokens sits inside maximal spans covered by cross-document
    duplicated 8-grams (the 'how much would Lee-et-al span dedup
    remove' planning number)."""
    from ..operators.curation import dup_span_coverage

    docs = _read(spark, sf, "documents")
    per_doc = dup_span_coverage(docs)
    toks = (
        docs.select(
            F.explode(
                F.split(F.lower(F.col("text")), "[^a-z0-9]+")
            ).alias("term")
        )
        .filter(F.col("term") != "")
        .agg(F.count(F.lit(1)).alias("total_tokens"))
    )
    agg = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs_affected"),
        F.sum("n_islands").alias("n_islands"),
        F.sum("removed_tokens").alias("removed_tokens"),
    )
    r4 = lambda c: F.floor(c * 10000.0 + F.lit(0.5)) / 10000.0  # noqa: E731
    return agg.crossJoin(toks).select(
        "n_docs_affected", "n_islands", "removed_tokens", "total_tokens",
        r4(
            F.col("removed_tokens").cast("double")
            / F.col("total_tokens").cast("double")
        ).alias("removed_ratio"),
    )


_SPAN_DEDUP_K = 8
_SD_LEADS = ", ".join(
    f"lead(term, {i}) OVER w AS l{i}" for i in range(1, _SPAN_DEDUP_K)
)
_SD_CONCAT = " || ' ' || ".join(
    ["term"] + [f"l{i}" for i in range(1, _SPAN_DEDUP_K)]
)

_register(
    "dup_span_removal_stats",
    _dup_span_removal_stats,
    f"""
WITH {_TOK_CTES},
t3 AS (SELECT doc, term,
              row_number() OVER (PARTITION BY doc ORDER BY idx ASC) - 1
                AS pos
       FROM t2),
ld AS (SELECT doc, pos, term, {_SD_LEADS}
       FROM t3 WINDOW w AS (PARTITION BY doc ORDER BY pos ASC)),
sp AS (SELECT doc, pos, {_SD_CONCAT} AS gram
       FROM ld WHERE l{_SPAN_DEDUP_K - 1} IS NOT NULL),
dup AS (SELECT gram FROM sp GROUP BY gram
        HAVING COUNT(DISTINCT doc) >= 2),
iv AS (SELECT s.doc, s.pos AS s, s.pos + {_SPAN_DEDUP_K - 1} AS e
       FROM sp s JOIN dup d USING (gram)),
fl AS (SELECT doc, s, e,
              CASE WHEN max(e) OVER wprev IS NULL
                     OR s > max(e) OVER wprev THEN 1 ELSE 0 END AS nw
       FROM iv
       WINDOW wprev AS (PARTITION BY doc ORDER BY s ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING)),
isl AS (SELECT doc, s, e,
               CAST(SUM(nw) OVER (PARTITION BY doc ORDER BY s ASC)
                    AS BIGINT) AS island
        FROM fl),
m AS (SELECT doc, island, MIN(s) AS is_, MAX(e) AS ie
      FROM isl GROUP BY doc, island),
perdoc AS (SELECT doc, COUNT(*) AS n_islands,
                  CAST(SUM(ie - is_ + 1) AS BIGINT) AS removed
           FROM m GROUP BY doc),
tot AS (SELECT COUNT(*) AS total_tokens FROM t3)
SELECT (SELECT COUNT(*) FROM perdoc) AS n_docs_affected,
       CAST((SELECT COALESCE(SUM(n_islands), 0) FROM perdoc) AS BIGINT)
         AS n_islands,
       CAST((SELECT COALESCE(SUM(removed), 0) FROM perdoc) AS BIGINT)
         AS removed_tokens,
       (SELECT total_tokens FROM tot) AS total_tokens,
       floor(CAST((SELECT COALESCE(SUM(removed), 0) FROM perdoc)
                  AS DOUBLE)
             / (SELECT total_tokens FROM tot) * 10000.0 + 0.5)
         / 10000.0 AS removed_ratio
""",
)


def _event_value_trailing_10min(spark: SparkSession, sf: str) -> DataFrame:
    """Time-based RANGE window frame (vs the ROWS frame of
    event_value_moving_avg): per user, the count and exact DECIMAL sum
    of event values in the trailing 10 minutes INCLUDING the current
    event.  Ordering key is zone-free integer micros, so the frame
    bounds are exact on both engines."""
    from ..operators.temporal import ntz_micros

    ev = _read(spark, sf, "events").select(
        "event_id", "user_id",
        ntz_micros(F.col("ts")).alias("us"),
        F.col("value").cast(_DEC).alias("v"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("us").asc())
        .rangeBetween(-600_000_000, 0)
    )
    return ev.select(
        "event_id", "user_id",
        F.count(F.lit(1)).over(w).alias("trailing_n"),
        F.sum("v").over(w).cast("double").alias("trailing_sum"),
    )


_register(
    "event_value_trailing_10min",
    _event_value_trailing_10min,
    """
WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS us,
                   CAST(value AS DECIMAL(18,2)) AS v FROM events)
SELECT event_id, user_id,
       COUNT(*) OVER w AS trailing_n,
       CAST(SUM(v) OVER w AS DOUBLE) AS trailing_sum
FROM ev
WINDOW w AS (PARTITION BY user_id ORDER BY us ASC
             RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
""",
)


def _orders_cube_status_priority(spark: SparkSession, sf: str) -> DataFrame:
    """CUBE over (status, priority) with grouping_id - all four
    aggregation levels in one shuffle (Spark expands grouping sets in a
    single Expand + hash aggregate, not four scans)."""
    return (
        _read(spark, sf, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast(_DEC))
            .cast("double")
            .alias("total"),
            F.grouping_id().alias("gid"),
        )
    )


_register(
    "orders_cube_status_priority",
    _orders_cube_status_priority,
    """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
       CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
)


def _dq_report_orders(spark: SparkSession, sf: str) -> DataFrame:
    """Data-quality expectations over orders: the publish-gate contract
    check.  Four row-local rules fold into ONE scan; uniqueness is one
    aggregate; referential integrity to customer is one anti-join - a
    handful of linear passes, never a per-row exception."""
    from ..operators import expectations as DQ

    orders = _read(spark, sf, "orders")
    customer = _read(spark, sf, "customer")
    parts = [
        DQ.check_rules(
            orders,
            [
                DQ.expect_not_null("o_custkey"),
                DQ.expect_positive("o_totalprice"),
                DQ.expect_in_set("o_orderstatus", ["O", "F", "P"]),
                DQ.expect_between("o_totalprice", 0.0, 1000000.0),
            ],
        ),
        DQ.check_unique(orders, ["o_orderkey"]),
        DQ.check_references(orders, "o_custkey", customer, "c_custkey"),
    ]
    return DQ.quality_report(parts)


_register(
    "dq_report_orders",
    _dq_report_orders,
    """
WITH base AS (
  SELECT 'not_null(o_custkey)' AS rule, COUNT(*) AS n_rows,
         CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_violations
  FROM orders
  UNION ALL
  SELECT 'positive(o_totalprice)', COUNT(*),
         CAST(SUM(CASE WHEN NOT (o_totalprice > 0) THEN 1 ELSE 0 END)
              AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'in_set(o_orderstatus)', COUNT(*),
         CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P')
                         OR o_orderstatus IS NULL
                       THEN 1 ELSE 0 END) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'between(o_totalprice,0.0,1000000.0)', COUNT(*),
         CAST(SUM(CASE WHEN NOT (o_totalprice BETWEEN 0.0 AND 1000000.0)
                         OR o_totalprice IS NULL
                       THEN 1 ELSE 0 END) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'unique(o_orderkey)', COUNT(*),
         CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'references(o_custkey)', (SELECT COUNT(*) FROM orders),
         CAST(COUNT(*) FILTER (WHERE c.c_custkey IS NULL) AS BIGINT)
  FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
)
SELECT rule, n_rows, n_violations, n_violations = 0 AS passed FROM base
""",
)


_HITS_ITER = 4


def _entity_hits_authorities_top10(spark: SparkSession, sf: str) -> DataFrame:
    """HITS authority scores over the sentence->entity mention graph
    (hubs = sentences, authorities = entities), 4 synchronous rounds
    with max-normalization; top-10 by 4-dp authority."""
    from ..operators.graph import hits

    edges = P.mention_edges(_sentences(spark, sf)).select("subj", "obj")
    out = hits(edges, n_iter=_HITS_ITER)
    return (
        out.select(
            "node",
            (
                F.floor(F.col("authority") * 10000.0 + F.lit(0.5)) / 10000.0
            ).alias("authority"),
        )
        .orderBy(F.col("authority").desc(), F.col("node").asc())
        .limit(10)
    )


def _hits_sql(n_iter: int) -> str:
    # every level is referenced twice (max + normalize) - MATERIALIZED,
    # or DuckDB re-inlines the whole sentence pipeline 2^k times
    parts = [
        f"WITH {sentence_ctes()}, ",
        "edges AS MATERIALIZED (SELECT subj, obj FROM ("
        "SELECT DISTINCT s.sentence_id AS subj, "
        f"{_ENTITY_ID_SQL} AS obj "
        f"FROM sentences s, {gazetteer_values()} "
        "WHERE contains(' ' || lower(s.cleaned) || ' ', "
        "' ' || g.label || ' '))), ",
        "h0 AS MATERIALIZED (SELECT DISTINCT subj AS node, 1.0 AS h "
        "FROM edges), ",
    ]
    for k in range(1, n_iter + 1):
        parts.append(
            f"a{k} AS MATERIALIZED (SELECT e.obj AS node, SUM(p.h) AS a "
            f"FROM h{k - 1} p JOIN edges e ON p.node = e.subj "
            "GROUP BY e.obj), "
        )
        parts.append(
            f"a{k}n AS MATERIALIZED (SELECT node, "
            f"a / (SELECT MAX(a) FROM a{k}) AS a FROM a{k}), "
        )
        parts.append(
            f"h{k} AS MATERIALIZED (SELECT e.subj AS node, SUM(p.a) AS h "
            f"FROM a{k}n p JOIN edges e ON p.node = e.obj "
            "GROUP BY e.subj), "
        )
        parts.append(
            f"h{k}n AS MATERIALIZED (SELECT node, "
            f"h / (SELECT MAX(h) FROM h{k}) AS h FROM h{k})"
            + (", " if k < n_iter else " ")
        )
    parts.append(
        "SELECT node, floor(a * 10000.0 + 0.5) / 10000.0 AS authority "
        f"FROM a{n_iter}n "
        "ORDER BY authority DESC, node ASC LIMIT 10"
    )
    return "".join(parts)


_register(
    "entity_hits_authorities_top10",
    _entity_hits_authorities_top10,
    _hits_sql(_HITS_ITER),
)


def _repo_scd2_intervals(spark: SparkSession, sf: str) -> DataFrame:
    """SCD2 history compaction over the commit-history fixture: one row
    per content version with valid_from/valid_to commit bounds
    (valid_to NULL = current HEAD version)."""
    from ..operators.repo import scd2_intervals
    from ..sources.synth import files_history

    return scd2_intervals(files_history(spark))


_register(
    "repo_scd2_intervals",
    _repo_scd2_intervals,
    f"""
WITH fh AS ({_files_history_sql()}),
ch AS (SELECT repo, path, content, commit_seq,
              lag(content) OVER (PARTITION BY repo, path
                                 ORDER BY commit_seq ASC) AS prev
       FROM fh)
SELECT repo, path, content,
       commit_seq AS valid_from,
       lead(commit_seq) OVER (PARTITION BY repo, path
                              ORDER BY commit_seq ASC) - 1 AS valid_to
FROM ch WHERE prev IS NULL OR prev <> content
""",
)


def _boolean_retrieval_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Conjunctive boolean retrieval over the inverted-index shape:
    docs containing 'batch' AND 'scan' AND NOT 'dup'.  The AND is a
    group-having count over the postings restricted to the query terms
    (intersection cost scales with the QUERY terms' posting lists, not
    the corpus); the NOT is one anti-join against the negated term's
    postings."""
    postings = (
        _read(spark, sf, "documents")
        .select(
            "doc_id",
            F.explode(
                F.split(F.lower(F.col("text")), "[^a-z0-9]+")
            ).alias("term"),
        )
        .filter(F.col("term") != "")
        .dropDuplicates(["doc_id", "term"])
    )
    conj = (
        postings.filter(F.col("term").isin("batch", "scan"))
        .groupBy("doc_id")
        .agg(F.count_distinct("term").alias("nt"))
        .filter(F.col("nt") == 2)
        .select("doc_id")
    )
    neg = postings.filter(F.col("term") == "dup").select("doc_id")
    return conj.join(neg, "doc_id", "left_anti")


_register(
    "boolean_retrieval_docs",
    _boolean_retrieval_docs,
    """
WITH p AS (SELECT DISTINCT doc_id, term FROM (
             SELECT doc_id,
                    unnest(string_split_regex(lower(text), '[^a-z0-9]+'))
                      AS term
             FROM documents) WHERE term <> ''),
conj AS (SELECT doc_id FROM p WHERE term IN ('batch', 'scan')
         GROUP BY doc_id HAVING COUNT(DISTINCT term) = 2)
SELECT doc_id FROM conj
WHERE doc_id NOT IN (SELECT doc_id FROM p WHERE term = 'dup')
""",
)


def _temperature_mixture_quotas(spark: SparkSession, sf: str) -> DataFrame:
    """alpha=0.5 temperature mixture over sources: integer per-source
    quotas for a 100-doc budget, largest-remainder rounded so they sum
    to the budget exactly."""
    from ..operators.curation import temperature_quotas

    return temperature_quotas(_read(spark, sf, "documents"), budget=100)


_register(
    "temperature_mixture_quotas",
    _temperature_mixture_quotas,
    """
WITH c AS (SELECT source, COUNT(*) AS n_docs FROM documents
           GROUP BY source),
w AS (SELECT source, n_docs, pow(CAST(n_docs AS DOUBLE), 0.5) AS ww
      FROM c),
t AS (SELECT source, n_docs,
             100.0 * ww / (SELECT SUM(ww) FROM w) AS tt FROM w),
b AS (SELECT source, n_docs,
             CAST(floor(tt) AS BIGINT) AS base, tt - floor(tt) AS rem
      FROM t),
r AS (SELECT source, n_docs, base, rem,
             row_number() OVER (ORDER BY rem DESC, source ASC) AS rnk
      FROM b)
SELECT source, n_docs,
       CAST(base + CASE WHEN rnk <= 100 - (SELECT CAST(SUM(base) AS
                                                       BIGINT) FROM b)
                        THEN 1 ELSE 0 END AS BIGINT) AS quota
FROM r
""",
)


def _event_value_quantiles_by_type(spark: SparkSession, sf: str) -> DataFrame:
    """GROUP BY form of the histogram quantile sketch: per event type,
    p50/p90/p99 from a per-group frozen-range grid - the shape that
    replaces exact per-group percentiles (a per-group sort of the data)
    at 100 TB."""
    from ..operators import sketch as SK

    ev = _read(spark, sf, "events").select(
        "event_type", F.col("value").cast("double").alias("v")
    )
    est = SK.histogram_quantiles_grouped(ev, "event_type")
    return est.select(
        "event_type", "qname",
        (F.floor(F.col("est_raw") * 10000.0 + F.lit(0.5)) / 10000.0)
        .alias("est"),
    )


_register(
    "event_value_quantiles_by_type",
    _event_value_quantiles_by_type,
    """
WITH v AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS v
           FROM events),
mx AS (SELECT g, MAX(v) AS vmax, COUNT(*) AS n FROM v GROUP BY g),
b AS (SELECT v.g, LEAST(CAST(floor(v.v * 1024.0 / m.vmax) AS BIGINT),
                        1023) AS bin
      FROM v JOIN mx m ON v.g = m.g),
h AS (SELECT g, bin, COUNT(*) AS cnt FROM b GROUP BY g, bin),
c AS (SELECT g, bin, CAST(SUM(cnt) OVER (PARTITION BY g
                                         ORDER BY bin ASC) AS BIGINT)
        AS cum FROM h),
q(qname, num, den) AS (VALUES ('p50', 1, 2), ('p90', 9, 10),
                              ('p99', 99, 100)),
tgt AS (SELECT m.g, q.qname,
               CAST(floor((m.n * q.num + q.den - 1) / q.den) AS BIGINT)
                 AS target
        FROM mx m CROSS JOIN q),
qb AS (SELECT t.g, t.qname, MIN(c.bin) AS qbin
       FROM c JOIN tgt t ON c.g = t.g AND c.cum >= t.target
       GROUP BY t.g, t.qname)
SELECT qb.g AS event_type, qb.qname,
       floor((qb.qbin + 1) * m.vmax / 1024.0 * 10000.0 + 0.5) / 10000.0
         AS est
FROM qb JOIN mx m ON qb.g = m.g
""",
)


def _phrase_retrieval_docs(spark: SparkSession, sf: str) -> DataFrame:
    """Positional-index phrase query: docs containing the exact phrase
    'table hash' with the match count.  Each phrase term's postings are
    filtered BEFORE the position join (cost scales with the two posting
    lists, not the corpus); adjacency = equi-join on (doc, pos+1)."""
    postings = (
        _read(spark, sf, "documents")
        .select(
            "doc_id",
            F.posexplode(
                F.split(F.lower(F.col("text")), "[^a-z0-9]+")
            ).alias("pos", "term"),
        )
        .filter(F.col("term") != "")
    )
    p1 = postings.filter(F.col("term") == "table").select(
        "doc_id", F.col("pos").alias("p")
    )
    p2 = postings.filter(F.col("term") == "hash").select(
        "doc_id", (F.col("pos") - F.lit(1)).alias("p")
    )
    return (
        p1.join(p2, ["doc_id", "p"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_matches"))
    )


_register(
    "phrase_retrieval_docs",
    _phrase_retrieval_docs,
    f"""
WITH {_TOK_CTES}
SELECT a.doc AS doc_id, COUNT(*) AS n_matches
FROM t2 a JOIN t2 b ON a.doc = b.doc AND b.idx = a.idx + 1
WHERE a.term = 'table' AND b.term = 'hash'
GROUP BY a.doc
""",
)


# ---------------------------------------------------------------------------
# Entity resolution (operators/resolve.py): the reference mints one
# entity per EXACT (label, ner_label) (models/entity.py:36-48), so
# surface variants fragment the KG.  Resolution = symmetric-delete
# blocking -> levenshtein verify -> connected components -> canonical
# (min) relabeling.  The lorem gazetteer has no natural distance-1
# label pairs, so - exactly like fuzzy_token_matches - each query
# PLANTS a deterministic variant set derived from the labels actually
# mentioned in the corpus (one trailing insertion ``name || 's'`` and
# one head deletion ``substr(name, 2)`` per label) in BOTH engines;
# the oracle verifies with all-pairs levenshtein + a recursive-CTE
# closure, pinning blocking completeness AND the component algebra.
# ---------------------------------------------------------------------------


def _resolution_names(spark: SparkSession, sf: str) -> DataFrame:
    labels = P.entities(_sentences(spark, sf)).select(
        F.col("label").alias("name")
    )
    planted = labels.select(
        F.concat(F.col("name"), F.lit("s")).alias("name")
    ).unionByName(
        labels.filter(F.length("name") >= 2).select(
            F.expr("substring(name, 2)").alias("name")
        )
    )
    return labels.unionByName(planted).dropDuplicates(["name"])


_RESOLVE_CTES = f"""
labels AS (SELECT DISTINCT g.label AS name FROM sentences s,
           {gazetteer_values()}
           WHERE contains(' ' || lower(s.cleaned) || ' ',
                          ' ' || g.label || ' ')),
nm AS (SELECT DISTINCT name FROM (
        SELECT name FROM labels
        UNION ALL SELECT name || 's' FROM labels
        UNION ALL SELECT substr(name, 2) FROM labels
        WHERE len(name) >= 2)),
sim_edges AS (SELECT x.name AS a, y.name AS b FROM nm x JOIN nm y
          ON x.name < y.name AND levenshtein(x.name, y.name) <= 1),
und AS (SELECT a, b FROM sim_edges UNION SELECT b, a FROM sim_edges),
reach(node, r) AS (SELECT DISTINCT a, a FROM und
  UNION SELECT reach.node, und.b FROM reach JOIN und ON reach.r = und.a),
comp AS (SELECT node, MIN(r) AS canonical FROM reach GROUP BY node),
resolved AS (SELECT nm.name AS name,
             COALESCE(comp.canonical, nm.name) AS canonical
             FROM nm LEFT JOIN comp ON nm.name = comp.node)
"""


def _entity_resolution_groups(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.resolve import resolve_names

    res = resolve_names(_resolution_names(spark, sf))
    return (
        res.groupBy("canonical")
        .agg(
            F.count("*").alias("n_members"),
            F.array_join(
                F.sort_array(F.collect_list("name")), "|"
            ).alias("members"),
        )
        .orderBy(F.col("canonical").asc())
    )


_register(
    "entity_resolution_groups",
    _entity_resolution_groups,
    f"""
WITH RECURSIVE {sentence_ctes()}, {_RESOLVE_CTES}
SELECT canonical, COUNT(*) AS n_members,
       string_agg(name, '|' ORDER BY name) AS members
FROM resolved GROUP BY canonical ORDER BY canonical ASC
""",
)


def _entity_mentions_resolved(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.resolve import resolve_names

    m = P.mention_rows(_sentences(spark, sf)).select("sentence_id", "label")
    res = resolve_names(_resolution_names(spark, sf))
    return (
        m.join(res, m["label"] == res["name"])
        .groupBy("canonical")
        .agg(
            F.count("*").alias("n_mentions"),
            F.countDistinct("sentence_id").alias("n_sentences"),
        )
        .orderBy(F.col("n_mentions").desc(), F.col("canonical").asc())
    )


_register(
    "entity_mentions_resolved",
    _entity_mentions_resolved,
    f"""
WITH RECURSIVE {sentence_ctes()}, {_RESOLVE_CTES},
mrows AS (SELECT DISTINCT s.sentence_id AS sentence_id, g.label AS label
          FROM sentences s, {gazetteer_values()}
          WHERE contains(' ' || lower(s.cleaned) || ' ',
                         ' ' || g.label || ' '))
SELECT r.canonical AS canonical, COUNT(*) AS n_mentions,
       COUNT(DISTINCT m.sentence_id) AS n_sentences
FROM mrows m JOIN resolved r ON m.label = r.name
GROUP BY r.canonical ORDER BY n_mentions DESC, canonical ASC
""",
)


# ---------------------------------------------------------------------------
# Correlated-subquery decorrelation suite (TPC-H Q4/Q21/Q22/Q2 motifs).
# The Spark side is the DECORRELATED plan a distributed engine must run
# (semi/anti hash joins, one broadcast scalar, group-max join-back);
# the oracle states the same query as genuine correlated EXISTS / NOT
# EXISTS / scalar subqueries, so the hash pins the decorrelation
# rewrite itself.  At 100 TB each shape is one shuffle on the join key
# (plus a broadcast for the scalar) - no per-row subquery execution.
# ---------------------------------------------------------------------------

# Q4 motif: orders with at least one lineitem shipped > 30 days after
# the order date, counted by priority.  Semi join = EXISTS.
_register(
    "order_priority_exists_check",
    lambda spark, sf: _read(spark, sf, "orders")
    .join(
        _read(spark, sf, "lineitem").select("l_orderkey", "l_shipdate"),
        (F.col("o_orderkey") == F.col("l_orderkey"))
        & (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
        ),
        "left_semi",
    )
    .groupBy("o_orderpriority")
    .agg(F.count("*").alias("n_orders"))
    .orderBy("o_orderpriority"),
    "SELECT o_orderpriority, COUNT(*) AS n_orders FROM orders o "
    "WHERE EXISTS (SELECT 1 FROM lineitem l "
    "WHERE l.l_orderkey = o.o_orderkey "
    "AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY) "
    "GROUP BY o_orderpriority ORDER BY o_orderpriority",
)


# Q21 motif: suppliers who were the ONLY late supplier (> 60 days) on a
# finished multi-supplier order.  EXISTS + NOT EXISTS decorrelate into
# one per-order aggregate (distinct suppliers / distinct late
# suppliers) joined back to the late candidates - the whole query is
# two hash aggregates and two joins, no per-row probing.
def _suppliers_kept_orders_waiting(spark: SparkSession, sf: str) -> DataFrame:
    l = _read(spark, sf, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = (
        _read(spark, sf, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    flagged = l.join(o, F.col("l_orderkey") == F.col("o_orderkey")).select(
        "l_orderkey",
        "l_suppkey",
        (
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        ).alias("late"),
    )
    stats = flagged.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(
            F.when(F.col("late"), F.col("l_suppkey"))
        ).alias("n_late_supp"),
    )
    cand = (
        flagged.filter(F.col("late"))
        .select("l_orderkey", "l_suppkey")
        .dropDuplicates(["l_orderkey", "l_suppkey"])
    )
    waits = (
        cand.join(stats, "l_orderkey")
        .filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
        .groupBy("l_suppkey")
        .agg(F.countDistinct("l_orderkey").alias("numwait"))
    )
    return (
        waits.join(
            F.broadcast(
                _read(spark, sf, "supplier").select("s_suppkey", "s_name")
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.col("numwait").desc(), F.col("s_suppkey").asc())
        .limit(20)
    )


_register(
    "suppliers_kept_orders_waiting",
    _suppliers_kept_orders_waiting,
    """
SELECT s.s_suppkey, s.s_name, COUNT(DISTINCT l1.l_orderkey) AS numwait
FROM supplier s
JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
WHERE l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
AND EXISTS (SELECT 1 FROM lineitem l2
            WHERE l2.l_orderkey = l1.l_orderkey
            AND l2.l_suppkey <> l1.l_suppkey)
AND NOT EXISTS (SELECT 1 FROM lineitem l3
                JOIN orders o2 ON o2.o_orderkey = l3.l_orderkey
                WHERE l3.l_orderkey = l1.l_orderkey
                AND l3.l_suppkey <> l1.l_suppkey
                AND l3.l_shipdate > o2.o_orderdate + INTERVAL 60 DAY)
GROUP BY s.s_suppkey, s.s_name
ORDER BY numwait DESC, s.s_suppkey ASC LIMIT 20
""",
)


# Q22 motif: "prospect" customers - above-average balance, no open
# order.  The scalar subquery becomes a 1-row broadcast; NOT EXISTS an
# anti join.  Threshold arithmetic is the engine-portable form: exact
# DECIMAL sum -> one double cast -> one double division.
def _prospect_customer_balance(spark: SparkSession, sf: str) -> DataFrame:
    c = _read(spark, sf, "customer")
    thr = c.filter(F.col("c_acctbal") > 0).agg(
        (
            F.sum(F.col("c_acctbal").cast(_DEC)).cast("double")
            / F.count("*")
        ).alias("thr")
    )
    open_orders = (
        _read(spark, sf, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .select("o_custkey")
    )
    return (
        c.crossJoin(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("thr"))
        .join(
            open_orders, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
        )
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_cust"),
            F.sum(F.col("c_acctbal").cast(_DEC))
            .cast("double")
            .alias("total_bal"),
        )
        .orderBy("c_mktsegment")
    )


_register(
    "prospect_customer_balance",
    _prospect_customer_balance,
    """
SELECT c_mktsegment, COUNT(*) AS n_cust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
FROM customer
WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2)))
                               AS DOUBLE) / COUNT(*)
                   FROM customer WHERE c_acctbal > 0)
AND NOT EXISTS (SELECT 1 FROM orders
                WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
GROUP BY c_mktsegment ORDER BY c_mktsegment
""",
)


# Q2 motif: the max-balance customer(s) per nation via group-max
# join-back (the decorrelation of a correlated scalar MAX); ties all
# surface, MAX over doubles is exact (picks an existing value - no
# accumulation order involved).
_register(
    "top_customer_per_nation",
    lambda spark, sf: _read(spark, sf, "customer")
    .join(
        _read(spark, sf, "customer")
        .groupBy("c_nationkey")
        .agg(F.max("c_acctbal").alias("max_bal"))
        .withColumnRenamed("c_nationkey", "mk"),
        F.col("c_nationkey") == F.col("mk"),
    )
    .filter(F.col("c_acctbal") == F.col("max_bal"))
    .join(
        F.broadcast(_read(spark, sf, "nation")),
        F.col("c_nationkey") == F.col("n_nationkey"),
    )
    .select("n_name", "c_custkey", "c_name", "c_acctbal")
    .orderBy(F.col("n_name").asc(), F.col("c_custkey").asc()),
    """
SELECT n_name, c_custkey, c_name, c_acctbal
FROM customer c JOIN nation ON c.c_nationkey = n_nationkey
WHERE c.c_acctbal = (SELECT MAX(c2.c_acctbal) FROM customer c2
                     WHERE c2.c_nationkey = c.c_nationkey)
ORDER BY n_name ASC, c_custkey ASC
""",
)


# ---------------------------------------------------------------------------
# Winnowing fingerprints (operators/winnow.py, Schleimer et al. 2003):
# rolling k-gram hashes, one (hash,pos)-minimum per w-window.  The
# oracle rebuilds the selection with the join-back formulation (window
# min hash, then leftmost holder position), which is provably the same
# rule as Spark's min(struct(hash,pos)) - so the hash pins the rolling
# hash, the window algebra, AND the tie rule.
# ---------------------------------------------------------------------------

_WINNOW_CTES = """
wbase AS (SELECT doc_id, lower(text) AS t FROM documents
          WHERE length(lower(text)) >= 5),
wh AS (SELECT doc_id, i AS pos,
       CAST(concat('0x', substr(md5(substr(t, CAST(i AS INT), 5)), 1, 15))
            AS BIGINT) AS hash
       FROM wbase, unnest(range(1, length(t) - 5 + 2)) AS u(i)),
wm AS (SELECT doc_id, pos AS s,
       MIN(hash) OVER (PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING) AS mh,
       COUNT(*) OVER (PARTITION BY doc_id) AS n FROM wh),
wstarts AS (SELECT doc_id, s, mh FROM wm
            WHERE s <= greatest(1, n - 8 + 1)),
wsel AS (SELECT st.doc_id AS doc_id, st.s AS s, st.mh AS mh,
         MIN(wh.pos) AS fpos
         FROM wstarts st JOIN wh ON wh.doc_id = st.doc_id
              AND wh.hash = st.mh
              AND wh.pos >= st.s AND wh.pos <= st.s + 7
         GROUP BY st.doc_id, st.s, st.mh),
wfp AS (SELECT DISTINCT doc_id, mh AS hash, fpos AS pos FROM wsel)
"""


def _winnow_fp(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.winnow import winnow_fingerprints

    return winnow_fingerprints(_read(spark, sf, "documents"))


_register(
    "winnowing_fingerprint_stats",
    lambda spark, sf: _winnow_fp(spark, sf)
    .groupBy("doc_id")
    .agg(
        F.count("*").alias("n_fp"),
        F.min("hash").alias("min_hash"),
        F.max("hash").alias("max_hash"),
    )
    .orderBy("doc_id"),
    f"WITH {_WINNOW_CTES} "
    "SELECT doc_id, COUNT(*) AS n_fp, MIN(hash) AS min_hash, "
    "MAX(hash) AS max_hash FROM wfp GROUP BY doc_id ORDER BY doc_id",
)


def _winnow_pairs(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.winnow import shared_fingerprint_pairs

    return (
        shared_fingerprint_pairs(_winnow_fp(spark, sf))
        .orderBy(
            F.col("n_shared").desc(),
            F.col("doc_a").asc(),
            F.col("doc_b").asc(),
        )
        .limit(20)
    )


_register(
    "winnowing_shared_pairs_top20",
    _winnow_pairs,
    f"""
WITH {_WINNOW_CTES},
winv AS (SELECT DISTINCT doc_id, hash FROM wfp),
wdfc AS (SELECT hash FROM winv GROUP BY hash HAVING COUNT(*) <= 50),
wrare AS (SELECT i.doc_id, i.hash FROM winv i JOIN wdfc USING (hash))
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
FROM wrare a JOIN wrare b ON a.hash = b.hash AND a.doc_id < b.doc_id
GROUP BY doc_a, doc_b
ORDER BY n_shared DESC, doc_a ASC, doc_b ASC LIMIT 20
""",
)


# ---------------------------------------------------------------------------
# OLS by distributed normal equations (operators/regress.py): the
# sufficient statistics are ONE map-side-combinable aggregate; the
# solve is scalar arithmetic on the aggregate row.  The oracle is
# generated by the operator's own SQL twin (identical casts,
# parenthesization, rounding), so the hash pins the whole derivation.
# ---------------------------------------------------------------------------

from ..operators.regress import ols_fit, ols_fit_sql  # noqa: E402

_register(
    "ols_price_on_quantity_by_flag",
    lambda spark, sf: ols_fit(
        _read(spark, sf, "lineitem"),
        "l_extendedprice",
        "l_quantity",
        ["l_returnflag"],
    ).orderBy("l_returnflag"),
    ols_fit_sql(
        "lineitem", "l_extendedprice", "l_quantity", ["l_returnflag"]
    )
    + " ORDER BY l_returnflag",
)


def _ols_order_total(spark: SparkSession, sf: str) -> DataFrame:
    cnt = (
        _read(spark, sf, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count("*").alias("n_items"))
    )
    j = (
        _read(spark, sf, "orders")
        .join(cnt, F.col("o_orderkey") == F.col("l_orderkey"))
        .select("o_totalprice", "n_items")
    )
    return ols_fit(j, "o_totalprice", "n_items")


_register(
    "ols_order_total_on_item_count",
    _ols_order_total,
    ols_fit_sql(
        "(SELECT o_totalprice, n_items FROM orders JOIN "
        "(SELECT l_orderkey, COUNT(*) AS n_items FROM lineitem "
        "GROUP BY l_orderkey) ON o_orderkey = l_orderkey)",
        "o_totalprice",
        "n_items",
    ),
)


# ---------------------------------------------------------------------------
# Z-order layout audit (operators/layout.py): bucket the events table
# 16 ways under two layouts - Morton-interleaved (user, hour) vs plain
# time order - and report each bucket's (x, y) extent rectangle.  The
# z-order rows bound BOTH dimensions; the time rows leave x at full
# width.  All integer bit algebra, so the layout decision itself is
# under the oracle.
# ---------------------------------------------------------------------------


def _layout_events(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.temporal import ntz_micros

    return (
        _read(spark, sf, "events")
        .select(
            "event_id",
            "user_id",
            ntz_micros(F.col("ts")).alias("us"),
        )
        .select(
            "event_id",
            "us",
            (F.col("user_id") % 1024).alias("x"),
            F.expr("(us div 3600000000) % 1024").alias("y"),
        )
    )


def _layout_skipping_extents(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.layout import bucket_extents, zvalue

    e = _layout_events(spark, sf).persist()
    ez = e.withColumn("z", zvalue(F.col("x"), F.col("y"), 10))
    bz = bucket_extents(ez, "x", "y", F.col("z"), "event_id").select(
        F.lit("zorder").alias("layout"), "*"
    )
    bt = bucket_extents(e, "x", "y", F.col("us"), "event_id").select(
        F.lit("time").alias("layout"), "*"
    )
    out = bz.unionByName(bt).orderBy("layout", "bucket")
    _track(e)
    return out


from ..operators.layout import zvalue_sql  # noqa: E402

_register(
    "layout_skipping_extents",
    _layout_skipping_extents,
    f"""
WITH le AS (SELECT event_id, epoch_us(ts) AS us,
            user_id % 1024 AS x,
            (epoch_us(ts) // 3600000000) % 1024 AS y FROM events),
lz AS (SELECT le.*, {zvalue_sql('x', 'y', 10)} AS z FROM le),
rz AS (SELECT x, y, ROW_NUMBER() OVER (ORDER BY z, event_id) AS rn,
       COUNT(*) OVER () AS n FROM lz),
bz AS (SELECT ((rn - 1) * 16) // n AS bucket, COUNT(*) AS n_rows,
       MIN(x) AS x_min, MAX(x) AS x_max,
       MIN(y) AS y_min, MAX(y) AS y_max FROM rz GROUP BY 1),
rt AS (SELECT x, y, ROW_NUMBER() OVER (ORDER BY us, event_id) AS rn,
       COUNT(*) OVER () AS n FROM le),
bt AS (SELECT ((rn - 1) * 16) // n AS bucket, COUNT(*) AS n_rows,
       MIN(x) AS x_min, MAX(x) AS x_max,
       MIN(y) AS y_min, MAX(y) AS y_max FROM rt GROUP BY 1)
SELECT 'zorder' AS layout, * FROM bz
UNION ALL SELECT 'time' AS layout, * FROM bt
ORDER BY layout, bucket
""",
)


# ---------------------------------------------------------------------------
# Tokenizer fertility by language (operators/bpe.py): pieces-per-word
# under the learned merge table, occurrence-weighted per documents.lang
# - the metric an LLM-data pipeline tracks to catch a tokenizer that
# over-fragments one language.  Shares the proven _bpe_ctes chain.
# ---------------------------------------------------------------------------


def _bpe_fertility_by_lang(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.bpe import learn_bpe, segment_words

    docs = _read(spark, sf, "documents")
    merges = learn_bpe(docs, n_merges=_BPE_MERGES)
    seg = segment_words(docs, merges).select(
        "w", F.size("pieces").alias("n_pieces")
    )
    lw = (
        docs.select(
            "lang",
            F.explode(
                F.split(F.lower(F.col("text")), "[^a-z0-9]+")
            ).alias("w"),
        )
        .filter(F.col("w") != "")
        .groupBy("lang", "w")
        .agg(F.count("*").alias("n"))
    )
    tot_pieces = F.sum(F.col("n") * F.col("n_pieces"))
    tot_words = F.sum(F.col("n"))
    return (
        lw.join(seg, "w")
        .groupBy("lang")
        .agg(
            tot_words.alias("n_words"),
            tot_pieces.alias("n_pieces_total"),
            (
                F.floor(
                    (
                        tot_pieces.cast("double")
                        / tot_words.cast("double")
                    )
                    * F.lit(10000.0)
                    + F.lit(0.5)
                )
                / F.lit(10000.0)
            ).alias("fertility"),
        )
        .orderBy("lang")
    )


_register(
    "bpe_fertility_by_lang",
    _bpe_fertility_by_lang,
    f"""
WITH {_bpe_ctes(_BPE_MERGES)},
segp AS (SELECT w, len(string_split(trim(seq), '  ')) AS n_pieces
         FROM wc{_BPE_MERGES}),
lw AS (SELECT lang, w, COUNT(*) AS n FROM (
        SELECT lang, unnest(string_split_regex(lower(text),
                            '[^a-z0-9]+')) AS w FROM documents)
       WHERE w <> '' GROUP BY lang, w)
SELECT lang, CAST(SUM(n) AS BIGINT) AS n_words,
       CAST(SUM(n * n_pieces) AS BIGINT) AS n_pieces_total,
       floor((CAST(SUM(n * n_pieces) AS DOUBLE) /
              CAST(SUM(n) AS DOUBLE)) * 10000.0 + 0.5) / 10000.0
       AS fertility
FROM lw JOIN segp USING (w) GROUP BY lang ORDER BY lang
""",
)


# ---------------------------------------------------------------------------
# Stream-static enrichment join (streaming/incremental.py): each
# micro-batch broadcast-joins a static weight dim and appends its
# partial DECIMAL sums; the read-side merge is exact and associative,
# so the batch join+aggregate SQL is the oracle VERBATIM - the same
# cheapest-oracle discipline as the HLL/CM/quantile replays.
# ---------------------------------------------------------------------------


def _streaming_enriched_totals(spark: SparkSession, sf: str) -> DataFrame:
    from ..streaming.incremental import replay_enriched_totals

    return replay_enriched_totals(
        spark, _read(spark, sf, "events"), n_slices=4
    )


def _enrich_dim_values() -> str:
    from ..streaming.incremental import ENRICH_WEIGHTS

    rows = ", ".join(f"('{t}', {w})" for t, w in ENRICH_WEIGHTS)
    return f"(VALUES {rows}) AS d(event_type, weight)"


_register(
    "streaming_enriched_totals_replay",
    _streaming_enriched_totals,
    "SELECT event_type, "
    "CAST(SUM(CAST(value AS DECIMAL(18,2)) * weight) AS DOUBLE) "
    "AS weighted_total, COUNT(*) AS n_events "
    f"FROM events JOIN {_enrich_dim_values()} USING (event_type) "
    "GROUP BY event_type ORDER BY event_type",
)


from ..operators.regress import (  # noqa: E402
    pairwise_correlations,
    pairwise_correlations_sql,
)

_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount"]

_register(
    "lineitem_correlations",
    lambda spark, sf: pairwise_correlations(
        _read(spark, sf, "lineitem"), _CORR_COLS
    ),
    pairwise_correlations_sql("lineitem", _CORR_COLS),
)


# ---------------------------------------------------------------------------
# KG negative sampling: for every true (sentence mentions entity) edge,
# two corrupted-tail candidates drawn DETERMINISTICALLY (md5 of
# subj|obj|i mod |entities| indexes a row_number over the entity
# catalog - reproducible across engines, partitionings, and cluster
# sizes, unlike rand()), then filtered against the true edge set with
# an anti join so no "negative" is secretly positive - the training
# pairs a KG-embedding trainer consumes.  The entity row_number is a
# catalog-sized window (entities are the small side by construction);
# the per-edge work is one broadcast join + one anti join.
# ---------------------------------------------------------------------------


def _kg_negative_samples(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    m = (
        P.mention_edges(_sentences(spark, sf))
        .select("subj", "obj")
        .dropDuplicates(["subj", "obj"])
    )
    ents = P.entities(_sentences(spark, sf)).select("entity_id")
    ranked = ents.withColumn(
        "rn", F.row_number().over(Window.orderBy("entity_id"))
    )
    cnt = ents.agg(F.count("*").alias("n_ents"))
    raw = None
    for i in (1, 2):
        part = m.crossJoin(F.broadcast(cnt)).select(
            "subj",
            "obj",
            F.lit(i).alias("i"),
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("subj"),
                                F.lit("|"),
                                F.col("obj"),
                                F.lit("|"),
                                F.lit(str(i)),
                            )
                        ),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long")
                % F.col("n_ents")
                + 1
            ).alias("idx"),
        )
        raw = part if raw is None else raw.unionByName(part)
    cand = raw.join(
        F.broadcast(ranked), F.col("idx") == F.col("rn")
    ).select("subj", "obj", "i", F.col("entity_id").alias("neg_obj"))
    kept = cand.join(
        m.select(F.col("subj").alias("t_subj"), F.col("obj").alias("t_obj")),
        (F.col("subj") == F.col("t_subj"))
        & (F.col("neg_obj") == F.col("t_obj")),
        "left_anti",
    )
    n_true = m.agg(F.count("*").alias("n_true"))
    n_raw = cand.agg(F.count("*").alias("n_raw"))
    n_kept = kept.agg(F.count("*").alias("n_kept"))
    return n_true.crossJoin(n_raw).crossJoin(n_kept)


_register(
    "kg_negative_sample_stats",
    _kg_negative_samples,
    f"""
WITH {sentence_ctes()},
medges AS (SELECT DISTINCT s.sentence_id AS subj, {_ENTITY_ID_SQL} AS obj
           FROM sentences s, {gazetteer_values()}
           WHERE contains(' ' || lower(s.cleaned) || ' ',
                          ' ' || g.label || ' ')),
kents AS (SELECT DISTINCT {_ENTITY_ID_SQL} AS entity_id
          FROM sentences s, {gazetteer_values()}
          WHERE contains(' ' || lower(s.cleaned) || ' ',
                         ' ' || g.label || ' ')),
kranked AS (SELECT entity_id, ROW_NUMBER() OVER (ORDER BY entity_id)
            AS rn FROM kents),
knn AS (SELECT COUNT(*) AS n_ents FROM kents),
kraw AS (SELECT subj, obj, i,
         (CAST(concat('0x', substr(md5(subj || '|' || obj || '|' ||
                                       CAST(i AS VARCHAR)), 1, 15))
               AS BIGINT) % n_ents) + 1 AS idx
         FROM medges, (VALUES (1), (2)) AS k(i), knn),
kcand AS (SELECT r.subj AS subj, r.obj AS obj, r.i AS i,
          e.entity_id AS neg_obj
          FROM kraw r JOIN kranked e ON r.idx = e.rn),
kkept AS (SELECT c.* FROM kcand c LEFT JOIN medges t
          ON c.subj = t.subj AND c.neg_obj = t.obj
          WHERE t.subj IS NULL)
SELECT (SELECT COUNT(*) FROM medges) AS n_true,
       (SELECT COUNT(*) FROM kcand) AS n_raw,
       (SELECT COUNT(*) FROM kkept) AS n_kept
""",
)


# ---------------------------------------------------------------------------
# MDM survivorship (operators/mdm.py): three synthetic source systems
# with different recency and different per-field coverage fold into one
# golden record per customer, "freshest non-null wins", as ONE hash
# aggregate (arg-max encoded as MAX over recency-prefixed strings).
# The legacy system covers every field, so golden records are total.
# ---------------------------------------------------------------------------


def _mdm_sources(spark: SparkSession, sf: str) -> DataFrame:
    c = _read(spark, sf, "customer")
    dec = F.col("c_acctbal").cast(_DEC).cast("string")
    key = F.col("c_custkey")
    crm = c.select(
        key.alias("c_custkey"),
        F.lit(3).alias("recency"),
        F.when(key % 7 != 0, F.col("c_name")).alias("name"),
        F.when(key % 5 == 0, dec).alias("bal"),
        F.when(key % 3 != 0, F.col("c_mktsegment")).alias("seg"),
    )
    erp = c.select(
        key.alias("c_custkey"),
        F.lit(2).alias("recency"),
        F.when(key % 2 == 0, F.upper(F.col("c_name"))).alias("name"),
        F.when(F.col("c_acctbal") > 0, dec).alias("bal"),
        F.lit(None).cast("string").alias("seg"),
    )
    legacy = c.select(
        key.alias("c_custkey"),
        F.lit(1).alias("recency"),
        F.concat(F.col("c_name"), F.lit(" (legacy)")).alias("name"),
        dec.alias("bal"),
        F.col("c_mktsegment").alias("seg"),
    )
    return crm.unionByName(erp).unionByName(legacy)


def _golden_customer_records(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.mdm import golden_records

    g = golden_records(
        _mdm_sources(spark, sf), "c_custkey", "recency",
        ["name", "bal", "seg"],
    )
    return g.select(
        "c_custkey",
        "name",
        F.col("bal").cast("double").alias("acctbal"),
        F.col("seg").alias("segment"),
    ).orderBy("c_custkey")


def _mdm_sources_sql() -> str:
    dec = "CAST(CAST(c_acctbal AS DECIMAL(18,2)) AS VARCHAR)"
    return f"""(
SELECT c_custkey, 3 AS recency,
  CASE WHEN c_custkey % 7 <> 0 THEN c_name END AS name,
  CASE WHEN c_custkey % 5 = 0 THEN {dec} END AS bal,
  CASE WHEN c_custkey % 3 <> 0 THEN c_mktsegment END AS seg
FROM customer
UNION ALL
SELECT c_custkey, 2 AS recency,
  CASE WHEN c_custkey % 2 = 0 THEN upper(c_name) END AS name,
  CASE WHEN c_acctbal > 0 THEN {dec} END AS bal,
  CAST(NULL AS VARCHAR) AS seg
FROM customer
UNION ALL
SELECT c_custkey, 1 AS recency, c_name || ' (legacy)' AS name,
  {dec} AS bal, c_mktsegment AS seg
FROM customer)"""


from ..operators.mdm import golden_records_sql  # noqa: E402

_register(
    "golden_customer_records",
    _golden_customer_records,
    "SELECT c_custkey, name, CAST(bal AS DOUBLE) AS acctbal, "
    "seg AS segment FROM ("
    + golden_records_sql(
        _mdm_sources_sql() + " AS src",
        "c_custkey",
        "recency",
        ["name", "bal", "seg"],
    )
    + ") ORDER BY c_custkey",
)


# ---------------------------------------------------------------------------
# Declared-vs-detected language confusion matrix: the ingest-quality
# audit for a multilingual corpus — which declared labels the engine's
# detector disagrees with, and toward what.  One grouped count over
# the same single-pass JVM langid the pipeline uses (oracle: the
# generated SQL twin).
# ---------------------------------------------------------------------------


def _doc_lang_confusion(spark: SparkSession, sf: str) -> DataFrame:
    lang, _ = C.langid_cols(C.clean_sentence_col(F.col("text")))
    return (
        _read(spark, sf, "documents")
        .select(
            F.col("lang").alias("declared_lang"),
            lang.alias("detected_lang"),
        )
        .groupBy("declared_lang", "detected_lang")
        .agg(F.count("*").alias("n"))
    )


_register(
    "doc_lang_confusion_matrix",
    _doc_lang_confusion,
    f"""
WITH c AS (SELECT lang AS declared_lang,
           {sql_clean_sentence('text')} AS cleaned FROM documents)
SELECT declared_lang, {sql_langid_select('cleaned')[0]} AS detected_lang,
       COUNT(*) AS n
FROM c GROUP BY 1, 2
""",
)


# ---------------------------------------------------------------------------
# Hourly anomaly z-scores per event type: flag hours whose event count
# deviates ≥ 2σ from that type's hourly mean — the monitoring query
# every event pipeline runs.  Counts are exact integers; mean/stddev
# are single-pass aggregates over them, z rounded at 4dp before the
# flag so the threshold compare is engine-portable.
# ---------------------------------------------------------------------------


def _event_hourly_anomalies(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.temporal import _idiv, ntz_micros

    hours = (
        _read(spark, sf, "events")
        .select(
            "event_type",
            _idiv(ntz_micros(F.col("ts")), 3_600_000_000).alias(
                "hour_id"
            ),
        )
        .groupBy("event_type", "hour_id")
        .agg(F.count("*").alias("n"))
    )
    stats = hours.groupBy("event_type").agg(
        F.avg("n").alias("mu"),
        F.stddev_samp("n").alias("sd"),
        F.count("*").alias("n_hours"),
    )
    r4 = lambda c: F.floor(c * 10000.0 + F.lit(0.5)) / 10000.0  # noqa: E731
    z = r4((F.col("n") - F.col("mu")) / F.col("sd"))
    return (
        hours.join(stats, "event_type")
        .filter(F.col("sd") > 0)
        .select("event_type", "hour_id", "n", z.alias("z_r"))
        .filter(F.abs(F.col("z_r")) >= 2.0)
        .orderBy("event_type", "hour_id")
    )


_register(
    "event_hourly_anomalies",
    _event_hourly_anomalies,
    "WITH eh AS (SELECT event_type, "
    "epoch_us(ts) // 3600000000 AS hour_id, COUNT(*) AS n "
    "FROM events GROUP BY 1, 2), "
    "est AS (SELECT event_type, AVG(n) AS mu, STDDEV_SAMP(n) AS sd "
    "FROM eh GROUP BY event_type) "
    "SELECT eh.event_type, eh.hour_id, eh.n, "
    "floor((eh.n - est.mu) / est.sd * 10000.0 + 0.5) / 10000.0 AS z_r "
    "FROM eh JOIN est ON eh.event_type = est.event_type "
    "WHERE est.sd > 0 AND abs(floor((eh.n - est.mu) / est.sd "
    "* 10000.0 + 0.5) / 10000.0) >= 2.0 "
    "ORDER BY eh.event_type, eh.hour_id",
)


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (curation.weighted_sample_key
# _col): Efraimidis–Spirakis A-Res keys over a dyadic md5 uniform —
# top-k of the key IS the weighted sample, one-pass and engine/
# cluster-size reproducible.  Weighted here by n_chars (longer docs
# proportionally likelier), the token-budget downsampling shape.
# ---------------------------------------------------------------------------


def _weighted_doc_sample(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.curation import weighted_sample_key_col

    key = weighted_sample_key_col(F.col("doc_id"), F.col("n_chars"))
    return (
        _read(spark, sf, "documents")
        .select(
            "doc_id",
            "n_chars",
            (F.floor(key * 100000000.0 + F.lit(0.5)) / 100000000.0)
            .alias("key_r"),
        )
        .orderBy(F.col("key_r").desc(), F.col("doc_id").asc())
        .limit(20)
    )


from ..operators.curation import weighted_sample_key_sql  # noqa: E402

_register(
    "weighted_doc_sample_top20",
    _weighted_doc_sample,
    "SELECT doc_id, n_chars, "
    f"floor({weighted_sample_key_sql('doc_id', 'n_chars')} "
    "* 100000000.0 + 0.5) / 100000000.0 AS key_r "
    "FROM documents ORDER BY key_r DESC, doc_id ASC LIMIT 20",
)


# ---------------------------------------------------------------------------
# Reachability over the code KG (operators/infer.transitive_closure):
# dependsOn* materialized by O(log n) iterative doubling with a
# fixpoint early-exit, and its cycle probe (self-reachable files =
# circular imports).  The oracle is the genuine recursive CTE over the
# same import→definition resolution, so the hash pins extraction,
# resolution AND the closure algebra.
# ---------------------------------------------------------------------------

_DEP_EDGE_CTES = (
    """,
defs AS (
  SELECT repo, path,
         'm' || substr(unnest(regexp_extract_all(content,
             'def (\\w+)\\(', 1)), 2) AS module
  FROM snapi),
dep AS (
  SELECT DISTINCT i.repo || ':' || i.path AS subj,
         d.repo || ':' || d.path AS obj
  FROM imp_edges i JOIN defs d
    ON i.repo = d.repo AND i.module = d.module AND i.path <> d.path),
closure(subj, obj) AS (
  SELECT subj, obj FROM dep
  UNION
  SELECT c.subj, dep.obj FROM closure c JOIN dep ON c.obj = dep.subj)
"""
)

_FH_IMPORTS_RECURSIVE_SQL = _FH_IMPORTS_SNAPSHOT_SQL.replace(
    "WITH fhi", "WITH RECURSIVE fhi", 1
).rstrip()


def _dep_edge_frame(spark: SparkSession) -> DataFrame:
    return _repo_file_dependencies(spark, "").select("subj", "obj")


def _repo_transitive_deps(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.infer import transitive_closure

    del sf
    return transitive_closure(_dep_edge_frame(spark))


_register(
    "repo_transitive_dependencies",
    _repo_transitive_deps,
    _FH_IMPORTS_RECURSIVE_SQL
    + _DEP_EDGE_CTES
    + "SELECT subj, obj FROM closure",
)


def _repo_cycle_nodes(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.infer import cycle_nodes

    del sf
    return cycle_nodes(_dep_edge_frame(spark))


_register(
    "repo_dependency_cycle_nodes",
    _repo_cycle_nodes,
    _FH_IMPORTS_RECURSIVE_SQL
    + _DEP_EDGE_CTES
    + "SELECT subj AS node FROM closure WHERE subj = obj",
)


def _repo_scc(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.infer import scc_components

    del sf
    return scc_components(_dep_edge_frame(spark))


_register(
    "repo_scc_components",
    _repo_scc,
    _FH_IMPORTS_RECURSIVE_SQL
    + _DEP_EDGE_CTES
    + """,
mut AS (SELECT c1.subj AS node, c1.obj AS partner FROM closure c1
        JOIN closure c2 ON c1.subj = c2.obj AND c1.obj = c2.subj),
nds AS (SELECT DISTINCT node FROM
        (SELECT subj AS node FROM dep
         UNION ALL SELECT obj AS node FROM dep)),
lab AS (SELECT node, MIN(partner) AS mp FROM mut GROUP BY node)
SELECT nds.node, least(nds.node, coalesce(lab.mp, nds.node)) AS scc_id
FROM nds LEFT JOIN lab ON nds.node = lab.node""",
)


# ---------------------------------------------------------------------------
# Corpus-redundancy accounting: per-document shingle novelty (fraction
# of a doc's shingles first seen in THIS doc, by min doc_id) and the
# shingle document-frequency spectrum (how many shingles appear in k
# docs — the histogram that picks the df-cap for the posting-list
# joins).  Both are aggregate views no pairwise dedup operator gives.
# ---------------------------------------------------------------------------


def _doc_novelty_stats(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.curation import doc_novelty

    return doc_novelty(_read(spark, sf, "documents"))


_register(
    "doc_novelty_stats",
    _doc_novelty_stats,
    "WITH nsh AS (SELECT doc_id, "
    f"unnest({_SHINGLES_SQL}) AS shingle FROM documents), "
    "nfirst AS (SELECT shingle, MIN(doc_id) AS first_doc FROM nsh "
    "GROUP BY shingle) "
    "SELECT nsh.doc_id, COUNT(*) AS n_shingles, "
    "CAST(SUM(CASE WHEN nfirst.first_doc = nsh.doc_id THEN 1 ELSE 0 "
    "END) AS BIGINT) AS n_novel, "
    "floor(SUM(CASE WHEN nfirst.first_doc = nsh.doc_id THEN 1 ELSE 0 "
    "END) / COUNT(*) * 10000.0 + 0.5) / 10000.0 AS novelty_r "
    "FROM nsh JOIN nfirst ON nsh.shingle = nfirst.shingle "
    "GROUP BY nsh.doc_id",
)


def _shingle_df_histogram(spark: SparkSession, sf: str) -> DataFrame:
    sh = ND._doc_shingles(
        _read(spark, sf, "documents").select("doc_id", "text"), "text"
    )
    dfq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    return (
        dfq.groupBy("df")
        .agg(F.count("*").alias("n_shingles"))
        .orderBy(F.col("df").asc())
    )


_register(
    "shingle_df_histogram",
    _shingle_df_histogram,
    "WITH hsh AS (SELECT doc_id, "
    f"unnest({_SHINGLES_SQL}) AS shingle FROM documents), "
    "hdf AS (SELECT shingle, COUNT(*) AS df FROM hsh "
    "GROUP BY shingle) "
    "SELECT df, COUNT(*) AS n_shingles FROM hdf GROUP BY df "
    "ORDER BY df ASC",
)


# ---------------------------------------------------------------------------
# Keyword-in-context concordance (pipeline.mention_contexts): one row
# per mention OCCURRENCE with its ±2-word context — the evidence a KG
# entity-linking disambiguator stores next to each extracted mention.
# Position-aware, so the oracle rebuilds the n-gram positions from the
# same single-space split and pins contexts verbatim.
# ---------------------------------------------------------------------------


def _mention_contexts(spark: SparkSession, sf: str) -> DataFrame:
    from ..sources.dims import gazetteer

    return P.mention_contexts(
        _sentences(spark, sf), gazetteer(spark), window=2
    )


_register(
    "mention_contexts",
    _mention_contexts,
    f"WITH {sentence_ctes()}, "
    "kw AS (SELECT sentence_id, "
    "string_split(lower(cleaned), ' ') AS ws FROM sentences), "
    "gz AS (SELECT label, ner_label, "
    "len(string_split(label, ' ')) AS wd "
    f"FROM {gazetteer_values()}), "
    # positions come from a standalone table + theta join: DuckDB's
    # binder hits an INTERNAL error when an unnest column in a CTE is
    # consumed through SELECT * plus a filter referencing it
    "kmx AS (SELECT MAX(len(ws)) AS m FROM kw), "
    "kposs AS (SELECT unnest(range(1, (SELECT m FROM kmx) + 1)) "
    "AS pos), "
    "kcand AS (SELECT sentence_id, label, ner_label, wd, ws, pos "
    "FROM kw CROSS JOIN gz "
    "JOIN kposs ON pos <= len(ws) - wd + 1), "
    "khits AS (SELECT * FROM kcand WHERE "
    "array_to_string(list_slice(ws, pos, pos + wd - 1), ' ') = label) "
    # coalesce: DuckDB's list_slice yields NULL (not []) for an empty
    # window (start past end / zero length); Spark's slice+array_join
    # yields '' — both mean "no context"
    "SELECT sentence_id, label, ner_label, CAST(pos AS INT) AS pos, "
    "coalesce(array_to_string(list_slice(ws, greatest(pos - 2, 1), "
    "pos - 1), ' '), '') AS left_ctx, "
    "coalesce(array_to_string(list_slice(ws, pos + wd, pos + wd + 1), "
    "' '), '') AS right_ctx FROM khits",
)


# ---------------------------------------------------------------------------
# Code-KG completion (operators/repo.py): symbol-definition triples
# extracted from file content, then import→definition resolution into
# a file-level dependency graph.  The synthetic history defines
# function f<p> in file src/f<p>.<lang> and imports modules m<j>;
# module m<k> is provided by the file defining symbol f<k>, so the
# provides side derives from the definitions by prefix swap — in both
# engines, under the oracle.
# ---------------------------------------------------------------------------


def _fh_imports_snapshot(spark: SparkSession):
    from ..operators import repo as R
    from ..sources.synth import files_history

    return R.latest_snapshot(files_history(spark, imports=True))


def _repo_symbol_definitions(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators import repo as R

    del sf
    return R.symbol_definitions(_fh_imports_snapshot(spark)).select(
        F.concat_ws(":", "repo", "path").alias("subj"),
        F.lit("defines").alias("pred"),
        F.col("symbol").alias("obj"),
    )


_register(
    "repo_symbol_definitions",
    _repo_symbol_definitions,
    _FH_IMPORTS_SNAPSHOT_SQL
    + """
SELECT repo || ':' || path AS subj, 'defines' AS pred,
       unnest(regexp_extract_all(content, 'def (\\w+)\\(', 1)) AS obj
FROM snapi
""",
)


def _repo_file_dependencies(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators import repo as R

    del sf
    snap = _fh_imports_snapshot(spark)
    provides = R.symbol_definitions(snap).select(
        "repo",
        "path",
        F.concat(F.lit("m"), F.substring("symbol", 2, 100)).alias(
            "module"
        ),
    )
    return (
        R.resolve_imports(R.import_edges(snap), provides)
        .select(
            F.concat_ws(":", "repo", "src_path").alias("subj"),
            F.lit("dependsOn").alias("pred"),
            F.concat_ws(":", "repo", "def_path").alias("obj"),
        )
        .dropDuplicates(["subj", "pred", "obj"])
    )


_register(
    "repo_file_dependency_edges",
    _repo_file_dependencies,
    _FH_IMPORTS_SNAPSHOT_SQL
    + """,
defs AS (
  SELECT repo, path,
         'm' || substr(unnest(regexp_extract_all(content,
             'def (\\w+)\\(', 1)), 2) AS module
  FROM snapi)
SELECT DISTINCT i.repo || ':' || i.path AS subj,
       'dependsOn' AS pred,
       d.repo || ':' || d.path AS obj
FROM imp_edges i JOIN defs d
  ON i.repo = d.repo AND i.module = d.module AND i.path <> d.path
""",
)


# ---------------------------------------------------------------------------
# Directional containment dedup (operators/neardup.containment_pairs):
# |A ∩ B| / |A| catches excerpt/quotation inclusion that symmetric
# Jaccard structurally misses.  A planted doc (-1) holding a word-
# boundary-trimmed 200-char prefix of doc 1 guarantees a containment-
# 1.0 row through BOTH engines (its shingle set is a strict subset of
# doc 1's), so the oracle pins the directional ratio on real rows.
# ---------------------------------------------------------------------------


def _containment_docs(spark: SparkSession, sf: str) -> DataFrame:
    docs = _read(spark, sf, "documents").select("doc_id", "text")
    planted = docs.filter(F.col("doc_id") == 1).select(
        F.lit(-1).cast("bigint").alias("doc_id"),
        F.regexp_replace(
            F.substring(F.col("text"), 1, 200), r"\S*$", ""
        ).alias("text"),
    )
    return docs.unionByName(planted)


_register(
    "doc_containment_pairs",
    lambda spark, sf: ND.containment_pairs(
        _containment_docs(spark, sf), threshold=0.5
    ),
    "WITH cdocs AS (SELECT doc_id, text FROM documents "
    "UNION ALL SELECT CAST(-1 AS BIGINT), "
    "regexp_replace(substr(text, 1, 200), '\\S*$', '') "
    "FROM documents WHERE doc_id = 1), "
    f"csh AS (SELECT doc_id, unnest({_SHINGLES_SQL}) AS shingle "
    "FROM cdocs), "
    "csizes AS (SELECT doc_id, COUNT(*) AS n FROM csh GROUP BY doc_id), "
    "cinter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, "
    "COUNT(*) AS i FROM csh a JOIN csh b ON a.shingle = b.shingle "
    "AND a.doc_id <> b.doc_id GROUP BY a.doc_id, b.doc_id) "
    "SELECT doc_a, doc_b, "
    "floor(CAST(i AS DOUBLE) / sa.n * 10000.0 + 0.5) / 10000.0 "
    "AS containment "
    "FROM cinter JOIN csizes sa ON sa.doc_id = doc_a "
    "WHERE floor(CAST(i AS DOUBLE) / sa.n * 10000.0 + 0.5) / 10000.0 "
    ">= 0.5",
)


# ---------------------------------------------------------------------------
# Hybrid retrieval via Reciprocal Rank Fusion (operators/ranking.
# rrf_fuse): BM25 lexical ranking fused with the quality-prior ranking
# — rank-only fusion, no score calibration.  Both input rankings are
# row_number over a 4dp-rounded score with the doc id as the total-
# order tie-break, so the fused list is engine-deterministic.
# ---------------------------------------------------------------------------


_RRF_LIST_M = 100  # fuse retrieved top-M lists, never full-corpus ranks


def _hybrid_rrf_top20(spark: SparkSession, sf: str) -> DataFrame:
    """Each input list is FIRST bounded to its top-M by orderBy+limit
    (TakeOrderedAndProject — a per-partition heap + driver merge, no
    global sort), and only the M-row frame gets the row_number window:
    fusing retrieved lists is both the production RRF semantics and
    the shape that survives 100 TB (an unbounded global row_number is
    a single-task sort)."""
    from ..operators.ranking import rrf_fuse

    docs = _read(spark, sf, "documents")
    bm25 = (
        bm25_scores(docs, _BM25_TERMS)
        .orderBy(F.col("score_r").desc(), F.col("doc").asc())
        .limit(_RRF_LIST_M)
        .select(
            "doc",
            F.row_number()
            .over(
                Window.orderBy(
                    F.col("score_r").desc(), F.col("doc").asc()
                )
            )
            .alias("rnk"),
        )
    )
    qual = (
        docs.select(
            F.col("doc_id").alias("doc"),
            TS.quality_score_col(F.col("text")).alias("q"),
        )
        .orderBy(F.col("q").desc(), F.col("doc").asc())
        .limit(_RRF_LIST_M)
        .select(
            "doc",
            F.row_number()
            .over(Window.orderBy(F.col("q").desc(), F.col("doc").asc()))
            .alias("rnk"),
        )
    )
    fused = rrf_fuse([bm25, qual], k=60)
    return (
        fused.select(
            "doc",
            "n_lists",
            (F.floor(F.col("rrf") * 1000000.0 + F.lit(0.5)) / 1000000.0)
            .alias("rrf_r"),
        )
        .orderBy(F.col("rrf_r").desc(), F.col("doc").asc())
        .limit(20)
    )


_register(
    "hybrid_rrf_top20",
    _hybrid_rrf_top20,
    f"WITH {_TOK_CTES}, "
    "lens AS (SELECT doc, COUNT(*) AS dl FROM t2 GROUP BY doc), "
    "ad AS (SELECT AVG(CAST(dl AS DOUBLE)) AS avgdl FROM lens), "
    "nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM lens), "
    "tf AS (SELECT doc, term, COUNT(*) AS tf FROM t2 "
    f"WHERE term IN {str(tuple(_BM25_TERMS))} GROUP BY doc, term), "
    "dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term), "
    "prt AS (SELECT tf.doc, "
    "ln(((SELECT n_docs FROM nn) - dfq.df + 0.5) / (dfq.df + 0.5) "
    "+ 1.0) * tf.tf / (tf.tf + 1.2 * (1.0 - 0.75 "
    "+ 0.75 * lens.dl / (SELECT avgdl FROM ad))) AS s "
    "FROM tf JOIN dfq USING (term) JOIN lens USING (doc)), "
    "bsc AS (SELECT doc, floor(SUM(s) * 10000.0 + 0.5) / 10000.0 "
    "AS score_r FROM prt GROUP BY doc), "
    "brk AS (SELECT doc, row_number() OVER "
    "(ORDER BY score_r DESC, doc ASC) AS rnk FROM "
    "(SELECT * FROM bsc ORDER BY score_r DESC, doc ASC "
    f"LIMIT {_RRF_LIST_M})), "
    "qsc AS (SELECT doc_id AS doc, "
    f"{_QUALITY_SQL} AS q FROM documents "
    f"ORDER BY q DESC, doc_id ASC LIMIT {_RRF_LIST_M}), "
    "qrk AS (SELECT doc, row_number() OVER "
    "(ORDER BY q DESC, doc ASC) AS rnk FROM qsc), "
    "uni AS (SELECT doc, 1.0 / (60.0 + rnk) AS c FROM brk "
    "UNION ALL SELECT doc, 1.0 / (60.0 + rnk) FROM qrk) "
    "SELECT doc, CAST(COUNT(*) AS INT) AS n_lists, "
    "floor(SUM(c) * 1000000.0 + 0.5) / 1000000.0 AS rrf_r "
    "FROM uni GROUP BY doc ORDER BY rrf_r DESC, doc ASC LIMIT 20",
)


# ---------------------------------------------------------------------------
# Rule-based triple inference (operators/infer.py): RDFS/OWL-style
# property-chain materialization over the extracted graph.  Two
# entailment rules a Riksdagen KG consumer would run:
#   partOf⁻ ∘ mentions  ⊑ docMentions   (documents inherit mentions)
#   occursIn⁻ ∘ linksTo ⊑ usesLexeme    (sentences inherit lexeme links)
# Each is ONE middle-key equi-join + distinct; the oracles derive the
# same entailments from first principles, so the hash pins the
# extraction AND the inference algebra.
# ---------------------------------------------------------------------------

from ..operators.infer import invert, materialize_rule  # noqa: E402


def _inferred_doc_mentions(spark: SparkSession, sf: str) -> DataFrame:
    sent = _sentences(spark, sf)
    return materialize_rule(
        invert(P.part_of_edges(sent)),
        P.mention_edges(sent),
        "docMentions",
    )


_register(
    "inferred_doc_mentions",
    _inferred_doc_mentions,
    f"WITH {sentence_ctes()} "
    "SELECT DISTINCT s.document_id AS subj, 'docMentions' AS pred, "
    f"{uuid5_sql(chr(39) + 'entity' + chr(39), 'label', 'ner_label')} "
    f"AS obj FROM sentences s, {gazetteer_values()} "
    "WHERE contains(' ' || lower(s.cleaned) || ' ', "
    "' ' || g.label || ' ')",
)


def _inferred_sentence_lexemes(spark: SparkSession, sf: str) -> DataFrame:
    toks = _tokens(spark, sf)
    return materialize_rule(
        invert(P.occurs_in_edges(toks)),
        P.links_to_edges(toks, spark),
        "usesLexeme",
    )


_register(
    "inferred_sentence_lexemes",
    _inferred_sentence_lexemes,
    f"WITH {sentence_ctes()}{token_ctes()}, "
    f"inf_oc AS (SELECT DISTINCT {_RID_FROM_TOK} AS subj, "
    f"{_SID_FROM_TOK} AS obj FROM token_flags "
    "WHERE tok_accepted AND sent_accepted), "
    f"inf_lt AS (SELECT DISTINCT {_RID_FROM_TOK_Q} AS subj, "
    f"lex.lexeme_id AS obj FROM token_flags t, {lexeme_values()} "
    "WHERE t.tok_accepted AND t.norm = lex.form AND t.lang = lex.lang) "
    "SELECT DISTINCT o.obj AS subj, 'usesLexeme' AS pred, "
    "l.obj AS obj FROM inf_oc o JOIN inf_lt l ON o.subj = l.subj",
)


# ---------------------------------------------------------------------------
# Join-key skew profile (operators/profile.key_skew): the pre-shuffle
# diagnostic for a 100 TB join — exact key-cardinality stats plus
# hot-key shares and the max/mean skew factor, all from ONE grouped
# aggregate.  Registered over events.user_id (the engine's canonical
# sessionization/join key).
# ---------------------------------------------------------------------------


def _key_skew_events(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.profile import key_skew

    return key_skew(_read(spark, sf, "events"), "user_id")


from ..operators.profile import key_skew_sql  # noqa: E402

_register(
    "key_skew_profile_events",
    _key_skew_events,
    key_skew_sql("events", "user_id"),
)


# ---------------------------------------------------------------------------
# Signed random projection (operators/linalg.signed_projection): the
# Achlioptas/JL ±1 transform that shrinks 64-dim embeddings to 16 dims
# as a map-only plan (matrix = seed-fixed md5-derived literals shared
# verbatim with the oracle).  The query audits what JL promises —
# pairwise cosine preservation — on the 28 pairs of the 8 lowest ids:
# original cosine, projected cosine, absolute error, all 4dp-rounded.
# ---------------------------------------------------------------------------

_SRP_OUT_DIMS = 16  # power of two: the 1/sqrt(16) scale is exact binary


def _srp_cosine_preservation(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.linalg import signed_projection, srp_signs

    emb = _read(spark, sf, "embeddings").filter(F.col("vec_id") < 8)
    signs = srp_signs("srp-v1", _SRP_OUT_DIMS, _EMB_DIMS)
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    both = emb.select(F.col("vec_id"), v.alias("e")).join(
        signed_projection(emb, signs), "vec_id"
    )

    def _dot(c1, c2):
        return F.aggregate(
            F.zip_with(c1, c2, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    def _cos(c1, c2):
        return _dot(c1, c2) / (
            F.sqrt(_dot(c1, c1)) * F.sqrt(_dot(c2, c2))
        )

    x = both.select(
        F.col("vec_id").alias("a"),
        F.col("e").alias("ea"),
        F.col("proj").alias("pa"),
    )
    y = both.select(
        F.col("vec_id").alias("b"),
        F.col("e").alias("eb"),
        F.col("proj").alias("pb"),
    )
    r4 = lambda c: F.floor(c * 10000.0 + F.lit(0.5)) / 10000.0  # noqa: E731
    cos_e = _cos(F.col("ea"), F.col("eb"))
    cos_p = _cos(F.col("pa"), F.col("pb"))
    return (
        x.join(y, F.col("a") < F.col("b"))
        .select(
            "a", "b",
            r4(cos_e).alias("cos_r"),
            r4(cos_p).alias("cos_srp_r"),
            r4(F.abs(cos_e - cos_p)).alias("err_r"),
        )
        .orderBy("a", "b")
    )


def _srp_matrix_sql() -> str:
    from ..operators.linalg import srp_signs

    rows = ", ".join(
        "({}, [{}]::DOUBLE[])".format(
            i, ", ".join(str(s) for s in row)
        )
        for i, row in enumerate(
            srp_signs("srp-v1", _SRP_OUT_DIMS, _EMB_DIMS)
        )
    )
    return f"(SELECT * FROM (VALUES {rows}) t(i, s))"


_register(
    "srp_cosine_preservation",
    _srp_cosine_preservation,
    "WITH sev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e "
    "FROM embeddings WHERE vec_id < 8), "
    f"srp AS (SELECT i, s FROM {_srp_matrix_sql()}), "
    "sproj AS (SELECT vec_id, list(list_dot_product(e, s) * "
    f"(1.0 / sqrt({_SRP_OUT_DIMS}.0)) ORDER BY i) AS p "
    "FROM sev CROSS JOIN srp GROUP BY vec_id), "
    "sboth AS (SELECT sev.vec_id, e, p FROM sev "
    "JOIN sproj ON sev.vec_id = sproj.vec_id) "
    "SELECT x.vec_id AS a, y.vec_id AS b, "
    "floor(list_dot_product(x.e, y.e) / "
    "(sqrt(list_dot_product(x.e, x.e)) * "
    "sqrt(list_dot_product(y.e, y.e))) * 10000.0 + 0.5) / 10000.0 "
    "AS cos_r, "
    "floor(list_dot_product(x.p, y.p) / "
    "(sqrt(list_dot_product(x.p, x.p)) * "
    "sqrt(list_dot_product(y.p, y.p))) * 10000.0 + 0.5) / 10000.0 "
    "AS cos_srp_r, "
    "floor(abs(list_dot_product(x.e, y.e) / "
    "(sqrt(list_dot_product(x.e, x.e)) * "
    "sqrt(list_dot_product(y.e, y.e))) - "
    "list_dot_product(x.p, y.p) / "
    "(sqrt(list_dot_product(x.p, x.p)) * "
    "sqrt(list_dot_product(y.p, y.p)))) * 10000.0 + 0.5) / 10000.0 "
    "AS err_r "
    "FROM sboth x JOIN sboth y ON x.vec_id < y.vec_id "
    "ORDER BY a, b",
)


# ---------------------------------------------------------------------------
# Sweep-line peak concurrency (operators/temporal.max_concurrent):
# events become 5-minute half-open activity intervals; the +1/−1
# running-sum max per event_type is the peak-simultaneous-activity
# metric.  The per-type partitioning bounds the ordered scan (the
# global variant is rejected by the operator — see its docstring).
# ---------------------------------------------------------------------------


def _max_concurrent_by_type(spark: SparkSession, sf: str) -> DataFrame:
    from ..operators.temporal import max_concurrent, ntz_micros

    iv = _read(spark, sf, "events").select(
        "event_type",
        ntz_micros(F.col("ts")).alias("s_us"),
        (ntz_micros(F.col("ts")) + F.lit(300_000_000)).alias("e_us"),
    )
    return max_concurrent(iv, "s_us", "e_us", ["event_type"]).orderBy(
        "event_type"
    )


_register(
    "max_concurrent_events_by_type",
    _max_concurrent_by_type,
    "WITH iv AS (SELECT event_type, epoch_us(ts) AS s_us, "
    "epoch_us(ts) + 300000000 AS e_us FROM events), "
    "deltas AS (SELECT event_type, s_us AS t, 1 AS d FROM iv "
    "UNION ALL SELECT event_type, e_us, -1 FROM iv), "
    "curve AS (SELECT event_type, SUM(d) OVER (PARTITION BY event_type "
    "ORDER BY t ASC, d ASC ROWS BETWEEN UNBOUNDED PRECEDING AND "
    "CURRENT ROW) AS run FROM deltas) "
    "SELECT event_type, CAST(MAX(run) AS BIGINT) AS max_concurrent "
    "FROM curve GROUP BY event_type ORDER BY event_type",
)


# ---------------------------------------------------------------------------
# Link prediction (operators/graph.py adamic_adar): propose missing
# co-mention edges from the common-neighbor structure of the entity
# co-occurrence graph — the classic Adamic–Adar baseline a KG consumer
# runs to suggest new triples.  The oracle rebuilds the wedge→anti-join
# →aggregate algebra from the same first-principles mention CTE.
# ---------------------------------------------------------------------------

from ..operators.graph import adamic_adar  # noqa: E402

# The demo gazetteer's co-mentions form cliques (no transitive-only
# pairs), so the real corpus alone yields ZERO predicted links at both
# test SFs — a vacuously-green query.  A planted two-sentence path
# (pe_a—pe_b, pe_b—pe_c) guarantees at least one predicted pair
# (pe_a, pe_c) through both engines, so the oracle pins the wedge /
# anti-join / 1-per-ln(deg) algebra on actual rows.
_LINKPRED_PLANTED = (
    ("planted_lp_s1", "pe_a"),
    ("planted_lp_s1", "pe_b"),
    ("planted_lp_s2", "pe_b"),
    ("planted_lp_s2", "pe_c"),
)


def _entity_link_prediction(spark: SparkSession, sf: str) -> DataFrame:
    mention = _mention_edge_frame(spark, sf).unionByName(
        spark.createDataFrame(
            list(_LINKPRED_PLANTED), "subj string, obj string"
        )
    )
    pairs = cooccurrence_pairs(mention)
    scored = adamic_adar(
        pairs.select(F.col("a").alias("subj"), F.col("b").alias("obj"))
    )
    return (
        scored.select(
            "a", "b", "cn",
            (F.floor(F.col("aa") * 10000.0 + F.lit(0.5)) / 10000.0)
            .alias("aa_r"),
        )
        .orderBy(
            F.col("cn").desc(), F.col("aa_r").desc(),
            F.col("a").asc(), F.col("b").asc(),
        )
        .limit(20)
    )


_register(
    "entity_link_prediction_top20",
    _entity_link_prediction,
    f"WITH {sentence_ctes()}, {_COOC_CTES}, "
    "lp_edges AS (SELECT gid, item FROM cedges UNION ALL "
    "SELECT * FROM (VALUES "
    + ", ".join(f"('{g}', '{i}')" for g, i in _LINKPRED_PLANTED)
    + ") AS pl(gid, item)), "
    "lp_pairs AS (SELECT x.item AS a, y.item AS b, COUNT(*) AS n_ab "
    "FROM lp_edges x JOIN lp_edges y "
    "ON x.gid = y.gid AND x.item < y.item GROUP BY x.item, y.item), "
    "adj AS (SELECT a AS z, b AS n FROM lp_pairs "
    "UNION ALL SELECT b AS z, a AS n FROM lp_pairs), "
    "deg AS (SELECT z, COUNT(*) AS deg FROM adj GROUP BY z), "
    "mid AS (SELECT adj.z, adj.n, deg.deg FROM adj "
    "JOIN deg ON adj.z = deg.z), "
    "wed AS (SELECT x.z, x.n AS wa, y.n AS wb, x.deg FROM mid x "
    "JOIN mid y ON x.z = y.z AND x.n < y.n), "
    "nw AS (SELECT * FROM wed WHERE NOT EXISTS "
    "(SELECT 1 FROM lp_pairs p WHERE p.a = wed.wa AND p.b = wed.wb)) "
    "SELECT wa AS a, wb AS b, COUNT(*) AS cn, "
    "floor(SUM(1.0 / ln(deg)) * 10000.0 + 0.5) / 10000.0 AS aa_r "
    "FROM nw GROUP BY wa, wb "
    "ORDER BY cn DESC, aa_r DESC, a ASC, b ASC LIMIT 20",
)


# ---------------------------------------------------------------------------
# RDF N-Triples serialization (operators/rdf.py): the graph's exchange
# format.  partOf (IRI object) and hasText (escaped literal object)
# edges plus one planted triple whose text carries every character the
# N-Triples spec escapes — the oracle therefore pins the escape chain
# itself, not just the concatenation.  Map-only: zero exchanges at any
# scale.  Reference analog: graph rows materialized to MariaDB
# (/root/reference/models/database_handler.py); N-Triples is the
# portable equivalent.
# ---------------------------------------------------------------------------

from ..operators.rdf import to_ntriples, to_ntriples_sql  # noqa: E402

_RDF_PLANTED_TEXT = 'back\\slash "quote"\nline2\rcr\ttab'


def _rdf_ntriples(spark: SparkSession, sf: str) -> DataFrame:
    sent = _sentences(spark, sf)
    edges = (
        P.part_of_edges(sent)
        .unionByName(P.has_text_edges(sent))
        .unionByName(
            spark.createDataFrame(
                [("planted_subj", S.PRED_HAS_TEXT, _RDF_PLANTED_TEXT)],
                "subj string, pred string, obj string",
            )
        )
    )
    return to_ntriples(edges, literal_preds=(S.PRED_HAS_TEXT,))


_RDF_PLANTED_SQL = (
    "'back' || chr(92) || 'slash ' || chr(34) || 'quote' || chr(34) || "
    "chr(10) || 'line2' || chr(13) || 'cr' || chr(9) || 'tab'"
)

_register(
    "rdf_ntriples_lines",
    _rdf_ntriples,
    f"WITH {sentence_ctes()}, rdf_edges AS ("
    f"SELECT sentence_id AS subj, '{S.PRED_PART_OF}' AS pred, "
    "document_id AS obj FROM sentences "
    f"UNION ALL SELECT sentence_id, '{S.PRED_HAS_TEXT}', cleaned "
    "FROM sentences "
    f"UNION ALL SELECT 'planted_subj', '{S.PRED_HAS_TEXT}', "
    f"{_RDF_PLANTED_SQL}) "
    + to_ntriples_sql("rdf_edges", literal_preds=(S.PRED_HAS_TEXT,)),
)
