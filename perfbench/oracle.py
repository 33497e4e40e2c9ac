"""Reference results for the output checks.

Expected outputs come from reference semantics, never from the engine
under test: the DuckDB oracle SQL in ``plans/corpus.py`` (the same
strings the engine's parity suite runs), and the pure-Python id and
gazetteer-match rules where no oracle SQL covers a case (the 100k-term
gazetteer).  Spark is used only to hash reference rows with the same
``xxhash64`` the digest of the engine output uses.

Every expectation is computed once per (workload, seed, size) and
cached next to the generated inputs, outside the timed phase.
"""

from __future__ import annotations

import json
import os
import random
import re

import duckdb

from riksdagen_sentences_spark import semantics as S
from riksdagen_sentences_spark.ids import uuid5_py, uuid5_sql
from riksdagen_sentences_spark.plans import corpus

PREDICATES = (
    S.PRED_PART_OF, S.PRED_HAS_TEXT, S.PRED_OCCURS_IN,
    S.PRED_NORMALIZES_TO, S.PRED_MENTIONS, S.PRED_LINKS_TO,
)


def graph_digest(df) -> dict[str, list]:
    """Per-predicate ``[count, sum of xxhash64(subj, pred, obj)]`` of a
    (subj, pred, obj) frame.  Order- and partitioning-independent, and
    it reads every id column, so the optimizer cannot prune the work a
    bare ``count()`` would skip.  The sum is taken as decimal(38,0):
    ANSI mode raises on a bigint overflow."""
    from pyspark.sql import functions as F

    rows = (
        df.groupBy("pred")
        .agg(
            F.count("*").alias("n"),
            F.sum(
                F.xxhash64("subj", "pred", "obj").cast("decimal(38,0)")
            ).alias("h"),
        )
        .collect()
    )
    out = {p: [0, "0"] for p in PREDICATES}
    out.update({r["pred"]: [int(r["n"]), str(r["h"])] for r in rows})
    return out


def digest_rows(digest: dict[str, list]) -> int:
    return sum(n for n, _ in digest.values())


def cached(path: str, compute):
    """JSON value at ``path``, computed and written on first use."""
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    value = compute()
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(value, f)
    os.replace(tmp, path)
    return value


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    return con


def _files_src(paths: list[str]) -> str:
    files = ", ".join(f"'{p}'" for p in paths)
    doc_id = uuid5_sql("'document'", "repo", "path", "commit")
    return (
        f"__src AS (SELECT {doc_id} AS doc_id, content AS text "
        f"FROM read_parquet([{files}]))"
    )


def _graph_sql(src_cte: str) -> str:
    """Six-predicate graph of the oracle (``triples_by_pred`` /
    ``triples_dedup_graph``) over the documents of ``src_cte``."""
    return (
        f"WITH {src_cte},"
        f"{corpus.sentence_ctes('__src', include_planted=False)}"
        f"{corpus.token_ctes()} "
        f"SELECT subj, pred, obj FROM ({corpus._GRAPH_UNION_SQL})"
    )


def _mentions(con, src_cte: str, gazetteer_path: str) -> list[tuple]:
    """(sentence, mentions, entity) rows for a gazetteer the oracle's
    10-term VALUES list cannot stand for: a term matches when it equals
    a run of whole words of the lower-cased cleaned sentence, the rule
    the oracle writes as ``contains(' ' || lower(cleaned) || ' ',
    ' ' || label || ' ')``."""
    sents = con.sql(
        _materialized(
            f"WITH {src_cte},"
            f"{corpus.sentence_ctes('__src', include_planted=False)} "
            "SELECT sentence_id, lower(cleaned) FROM sentences"
        )
    ).fetchall()
    gaz: dict[str, set[str]] = {}
    for term, label in con.sql(
        f"SELECT DISTINCT lower(term), ner_label FROM '{gazetteer_path}'"
    ).fetchall():
        gaz.setdefault(term, set()).add(label)
    width = max(len(t.split(" ")) for t in gaz)
    out = set()
    for sid, cleaned in sents:
        words = cleaned.split(" ")
        for n in range(1, width + 1):
            for i in range(len(words) - n + 1):
                for label in gaz.get(" ".join(words[i : i + n]), ()):
                    term = " ".join(words[i : i + n])
                    out.add((sid, S.PRED_MENTIONS, uuid5_py("entity", term, label)))
    return sorted(out)


def expected_graph_rows(
    out: str, file_paths: list[str], gazetteer_path: str | None
) -> str:
    """Write the reference (subj, pred, obj) rows of the graph over the
    union of ``file_paths`` to the parquet file ``out`` (once).  With a
    gazetteer, the mentions predicate comes from :func:`_mentions`
    instead of the oracle's built-in dictionary."""
    import pyarrow as pa

    if os.path.exists(out):
        return out
    con = _connect()
    src = _files_src(file_paths)
    sql = _materialized(_graph_sql(src))
    if gazetteer_path is not None:
        con.register(
            "__py_mentions",
            pa.Table.from_pylist(
                [
                    {"subj": s, "pred": p, "obj": o}
                    for s, p, o in _mentions(con, src, gazetteer_path)
                ]
            ),
        )
        sql = (
            f"SELECT * FROM ({sql}) WHERE pred <> '{S.PRED_MENTIONS}' "
            "UNION ALL SELECT subj, pred, obj FROM __py_mentions"
        )
    con.execute(f"COPY ({sql}) TO '{out}.tmp' (FORMAT PARQUET)")
    con.close()
    os.replace(out + ".tmp", out)
    return out


def expected_delta_counts(commits: list[list[dict]]) -> list[dict[str, int]]:
    """``update_graph`` lineage counts per follow-up commit, from
    sha256 sets over the generated files."""
    import hashlib

    def sha(c: str) -> str:
        return hashlib.sha256(c.encode("utf-8")).hexdigest()

    known = {sha(r["content"]) for r in commits[0]}
    out = []
    for rows in commits[1:]:
        shas = {sha(r["content"]) for r in rows}
        fresh = shas - known
        known |= shas
        out.append(
            {
                "files_new": len(rows),
                "contents_fresh": len(fresh),
                "contents_reused": len(rows) - len(fresh),
            }
        )
    return out


# -- lookup ------------------------------------------------------------------


def _qid_postags() -> dict[str, list[str]]:
    out: dict[str, list[str]] = {}
    for tag, qid in S.LEXICAL_CATEGORIES.items():
        out.setdefault(qid, []).append(tag)
    return out


def lookup_reference(docs_path: str, seed: int, n_queries: int, limit: int):
    """(queries, expected pages).  The query pool is drawn from the
    reference token and sentence tables: two thirds simple tokens,
    Zipf-weighted by how many sentences they occur in and listed hottest
    first, then compound tokens (two adjacent words of a reference
    sentence), then misses; each query is (token, qid, lang, kind).  Each page is the
    oracle's lookup-page SQL (``_lookup_page_sql`` in plans/corpus.py)
    run against the reference tables."""
    con = _connect()
    sid = uuid5_sql("'sentence'", "text", "document_id", "lang")
    con.execute(
        "CREATE TABLE __ref_docs AS "
        f"SELECT doc_id, text FROM '{docs_path}'"
    )
    ctes = corpus.sentence_ctes("__ref_docs", include_planted=False)
    con.execute(
        _materialized(f"CREATE TABLE ref_sentences AS WITH {ctes} SELECT * FROM sentences")
    )
    con.execute(
        _materialized(
            f"CREATE TABLE ref_tokens AS WITH {ctes}{corpus.token_ctes()} "
            f"SELECT raw, pos, lang, {sid} AS sentence_id FROM token_flags "
            "WHERE tok_accepted AND sent_accepted"
        )
    )
    postags = _qid_postags()
    simple = con.sql(
        "SELECT raw, pos, lang, COUNT(DISTINCT sentence_id) AS n "
        "FROM ref_tokens GROUP BY raw, pos, lang ORDER BY n DESC, raw, pos, lang"
    ).fetchall()
    sents = con.sql(
        "SELECT lang, text FROM ref_sentences ORDER BY sentence_id"
    ).fetchall()
    rng = random.Random(f"lookup:{seed}")
    pool: list[tuple[str, str, str, str]] = []
    seen = set()

    def add(q, kind, want):
        if q not in seen and sum(k == kind for *_, k in pool) < want:
            seen.add(q)
            pool.append((*q, kind))

    n_compound = n_miss = n_queries // 6
    n_simple = n_queries - n_compound - n_miss
    while sum(k == "simple" for *_, k in pool) < n_simple:
        # Zipf over the frequency ranks: hot tokens fill the page
        raw, pos, lang, _ = simple[min(int(rng.paretovariate(1.0)) - 1, len(simple) - 1)]
        add((raw, S.LEXICAL_CATEGORIES[pos], lang), "simple", n_simple)
    while sum(k == "compound" for *_, k in pool) < n_compound:
        lang, text = rng.choice(sents)
        words = [w for w in text.lower().split(" ") if w]
        i = rng.randrange(len(words) - 1)
        add((f"{words[i]} {words[i + 1]}", "Q1084", lang), "compound", n_compound)
    while sum(k == "miss" for *_, k in pool) < n_miss:
        add((f"zzmiss{rng.randrange(10**6)}", "Q1084", rng.choice(("sv", "en"))), "miss", n_miss)
    pages = []
    for token, qid, lang, _ in pool:
        if " " in token:
            where = "WHERE s.lang = ? AND contains(lower(s.text), ?)"
            params = [lang, token.lower()]
        else:
            where = (
                "WHERE s.sentence_id IN (SELECT DISTINCT sentence_id FROM "
                "ref_tokens WHERE raw = ? AND pos IN (SELECT unnest(?)) "
                "AND lang = ?)"
            )
            params = [token, postags[qid], lang]
        rows = con.execute(
            "SELECT sentence_id, text, lang, n_chars FROM ("
            "SELECT s.sentence_id AS sentence_id, s.text AS text, "
            "s.lang AS lang, length(s.text) AS n_chars "
            f"FROM ref_sentences s {where}) ORDER BY n_chars ASC, "
            f"sentence_id ASC LIMIT {limit}",
            params,
        ).fetchall()
        pages.append([list(r) for r in rows])
    con.close()
    return [list(q) for q in pool], pages


# -- curation ----------------------------------------------------------------


def _materialized(sql: str) -> str:
    """The same SQL with every CTE materialized once: DuckDB otherwise
    inlines each CTE at every reference, which multiplies the cost of the
    oracle's shared shingle and signature tables many times over."""
    return re.sub(r"(\b\w+) AS \(", r"\1 AS MATERIALIZED (", sql)


def curate_reference(docs_path: str) -> dict:
    """Per-stage survivor counts of the curated corpus
    (``curated_training_corpus_v2``) and the exact prefix-Jaccard pairs
    (``prefix_jaccard_pairs``), both by the oracle SQL over the generated
    ``documents`` table."""
    con = _connect()
    con.execute(f"CREATE TABLE documents AS SELECT * FROM '{docs_path}'")
    cur = con.sql(_materialized(corpus.ORACLES["curated_training_corpus_v2"]))
    counts = dict(zip(cur.columns, (int(v) for v in cur.fetchone())))
    pairs = con.sql(_materialized(corpus.ORACLES["prefix_jaccard_pairs"])).fetchall()
    con.close()
    return {"counts": counts, "pairs": [list(p) for p in pairs]}
