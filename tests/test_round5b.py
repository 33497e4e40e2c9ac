"""Round-5b operators: k-core peeling, bigram-LM document scoring,
prefix-filtered Jaccard join, Bloom semi-join, exact quota sampling,
column profiling, grouped HLL."""

import pyspark.sql.functions as F
import pytest


# ---------------------------------------------------------------------------
# k-core
# ---------------------------------------------------------------------------


def test_kcore_peels_pendants_keeps_triangle(spark):
    from riksdagen_sentences_spark.operators.graph import kcore_nodes

    # triangle a-b-c plus pendant chain c-d-e: the 2-core is the triangle
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("d", "e")],
        "subj string, obj string",
    )
    alive = {
        r.node for r in kcore_nodes(edges, k=2, n_iter=5).collect()
    }
    assert alive == {"a", "b", "c"}


def test_kcore_fixed_rounds_are_synchronous(spark):
    from riksdagen_sentences_spark.operators.graph import kcore_nodes

    # path graph a-b-c-d-e peels from both ends one round at a time:
    # after 1 round {b,c,d}, after 2 rounds {c}, after 3 rounds {}
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")],
        "subj string, obj string",
    )
    for n_iter, expect in [(1, {"b", "c", "d"}), (2, {"c"}), (3, set())]:
        alive = {
            r.node for r in kcore_nodes(edges, k=2, n_iter=n_iter).collect()
        }
        assert alive == expect, n_iter


# ---------------------------------------------------------------------------
# bigram LM scoring
# ---------------------------------------------------------------------------


def test_doc_bigram_logprob_hand_computed(spark):
    import math

    from riksdagen_sentences_spark.operators.ranking import (
        doc_bigram_logprob,
    )

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c")], "doc_id long, text string"
    )
    # bigrams: d1 = (a,b),(b,a),(a,b); d2 = (a,b),(b,c)
    # model: n(a,b)=3, n(b,a)=1, n(b,c)=1; c1(a)=3, c1(b)=2; V=3
    rows = {r.doc: r for r in doc_bigram_logprob(docs).collect()}
    lp_ab = math.log((3 + 1) / (3 + 3.0))
    lp_ba = math.log((1 + 1) / (2 + 3.0))
    lp_bc = math.log((1 + 1) / (2 + 3.0))
    exp1 = (2 * lp_ab + lp_ba) / 3
    exp2 = (lp_ab + lp_bc) / 2
    import math as m

    assert rows[1].n_bigrams == 3
    assert rows[1].avg_lp_r == m.floor(exp1 * 10000.0 + 0.5) / 10000.0
    assert rows[2].n_bigrams == 2
    assert rows[2].avg_lp_r == m.floor(exp2 * 10000.0 + 0.5) / 10000.0


# ---------------------------------------------------------------------------
# prefix-filtered Jaccard
# ---------------------------------------------------------------------------


def _brute_force_pairs(spark, docs, t_num, t_den):
    from riksdagen_sentences_spark.operators.neardup import _doc_shingles

    toks = _doc_shingles(docs, "text").select(
        F.col("doc_id").alias("doc"), F.col("shingle").alias("term")
    )
    a = toks.select(F.col("doc").alias("a"), "term")
    b = toks.select(F.col("doc").alias("b"), "term")
    inter = (
        a.join(b, "term")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("isz"))
    )
    sizes = toks.groupBy("doc").agg(F.count("*").alias("sz"))
    out = (
        inter.join(sizes.select(F.col("doc").alias("a"),
                                F.col("sz").alias("sza")), "a")
        .join(sizes.select(F.col("doc").alias("b"),
                           F.col("sz").alias("szb")), "b")
        .filter(
            F.lit(t_den) * F.col("isz")
            >= F.lit(t_num) * (F.col("sza") + F.col("szb") - F.col("isz"))
        )
    )
    return {(r.a, r.b, r.isz) for r in out.collect()}


def test_prefix_jaccard_equals_brute_force(spark):
    from riksdagen_sentences_spark.operators.neardup import (
        prefix_jaccard_pairs,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " tail"),                       # near-dup of 1
            (3, base.replace("quick", "slow")),        # near-dup of 1
            (4, "completely different words here make no shared shingle"),
            (5, "the quick brown fox sat still"),      # partial overlap
        ],
        "doc_id long, text string",
    )
    for t_num, t_den in [(3, 10), (1, 2), (4, 5)]:
        got = {
            (r.a, r.b, r.isz)
            for r in prefix_jaccard_pairs(
                docs, t_num=t_num, t_den=t_den
            ).collect()
        }
        assert got == _brute_force_pairs(spark, docs, t_num, t_den), (
            t_num, t_den,
        )


def test_prefix_jaccard_rational_threshold_is_inclusive(spark):
    from riksdagen_sentences_spark.operators.neardup import (
        prefix_jaccard_pairs,
    )

    # two docs with shingle sets of size 4 and 4, intersection 2:
    # J = 2/6 = 1/3 exactly -> must be INCLUDED at t = 1/3
    d1 = "a b c d e f"           # shingles: abc bcd cde def (4)
    d2 = "a b c x y z"           # shingles: abc bcx cxy xyz (4), inter=1
    # craft instead: share exactly 2 shingles
    d2 = "a b c d x y"           # abc bcd cdx dxy -> inter = {abc, bcd} = 2
    docs = spark.createDataFrame(
        [(1, d1), (2, d2)], "doc_id long, text string"
    )
    got = prefix_jaccard_pairs(docs, t_num=1, t_den=3).collect()
    assert len(got) == 1 and got[0].isz == 2 and got[0].usz == 6
    # and strictly above 1/3 excludes it
    assert not prefix_jaccard_pairs(docs, t_num=34, t_den=100).collect()


# ---------------------------------------------------------------------------
# Bloom semi-join
# ---------------------------------------------------------------------------


def test_bloom_no_false_negatives_and_deterministic(spark):
    from riksdagen_sentences_spark.operators.sketch import (
        BLOOM_K,
        bloom_bits,
        bloom_probe,
    )

    members = spark.createDataFrame(
        [(str(i),) for i in range(200)], "key string"
    )
    probes = spark.createDataFrame(
        [(str(i),) for i in range(400)], "key string"
    )
    bits = bloom_bits(members)
    hits = bloom_probe(probes, bits)
    passed = {r.key for r in hits.filter(F.col("hits") == BLOOM_K).collect()}
    # every member passes (no false negatives)
    assert {str(i) for i in range(200)} <= passed
    # deterministic across re-evaluation
    passed2 = {
        r.key
        for r in bloom_probe(probes, bloom_bits(members))
        .filter(F.col("hits") == BLOOM_K)
        .collect()
    }
    assert passed == passed2


# ---------------------------------------------------------------------------
# exact quota sampling
# ---------------------------------------------------------------------------


def test_exact_quota_sample_hits_floor_exactly(spark):
    from riksdagen_sentences_spark.operators.curation import (
        exact_quota_sample,
    )

    rows = [(i, "s1" if i < 17 else "s2") for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, source string")
    out = exact_quota_sample(
        docs, frac_num=1, frac_den=5, strata_col="source", id_col="doc_id"
    ).collect()
    by = {}
    for r in out:
        by.setdefault(r.strata, []).append(r)
    # floor(17/5)=3, floor(13/5)=2 - exact, not in expectation
    assert len(by["s1"]) == 3 and len(by["s2"]) == 2
    # deterministic: same ids on re-run
    out2 = exact_quota_sample(
        docs, frac_num=1, frac_den=5, strata_col="source", id_col="doc_id"
    ).collect()
    assert {(r.strata, r.id) for r in out} == {
        (r.strata, r.id) for r in out2
    }


# ---------------------------------------------------------------------------
# profiling
# ---------------------------------------------------------------------------


def test_profile_columns_counts(spark):
    from riksdagen_sentences_spark.operators.profile import profile_columns

    df = spark.createDataFrame(
        [(1, "x"), (2, None), (3, "x"), (None, "y")],
        "a int, b string",
    )
    rows = {r.column_name: r for r in profile_columns(df, ["a", "b"]).collect()}
    assert rows["a"].n_rows == 4
    assert rows["a"].n_nulls == 1 and rows["a"].n_distinct == 3
    assert rows["b"].n_nulls == 1 and rows["b"].n_distinct == 2


# ---------------------------------------------------------------------------
# grouped HLL
# ---------------------------------------------------------------------------


def test_grouped_hll_matches_global_per_group(spark):
    from riksdagen_sentences_spark.operators.sketch import (
        hll_estimate,
        hll_estimate_grouped,
        hll_register_maxima,
        hll_register_maxima_grouped,
    )

    rows = [("g1", f"k{i}") for i in range(500)] + [
        ("g2", f"q{i}") for i in range(50)
    ]
    keys = spark.createDataFrame(rows, "grp string, key string")
    grouped = {
        r.grp: (r.estimate, r.registers_used)
        for r in hll_estimate_grouped(
            hll_register_maxima_grouped(keys, "grp")
        ).collect()
    }
    for g in ("g1", "g2"):
        solo = hll_estimate(
            hll_register_maxima(
                keys.filter(F.col("grp") == g).select("key")
            )
        ).collect()[0]
        assert grouped[g] == (solo.estimate, solo.registers_used), g
    # sanity: estimates land near truth
    assert grouped["g1"][0] == pytest.approx(500, rel=0.15)
    assert grouped["g2"][0] == pytest.approx(50, rel=0.25)


# ---------------------------------------------------------------------------
# BPE merge learning
# ---------------------------------------------------------------------------


def test_learn_bpe_hand_computed(spark):
    from riksdagen_sentences_spark.operators.bpe import (
        learn_bpe,
        segment_words,
    )

    # words: "aaab" x2, "ab" x1
    docs = spark.createDataFrame(
        [(1, "aaab aaab"), (2, "ab")], "doc_id long, text string"
    )
    rules = learn_bpe(docs, n_merges=3).orderBy("round").collect()
    # round 1: (a,a) freq 4 (two overlapping-counted pairs per "aaab")
    assert (rules[0].w1, rules[0].w2, rules[0].freq) == ("a", "a", 4)
    # after greedy merge "aaab" -> [aa, a, b]: (a,b) freq 2+1=3 beats
    # (aa,a) freq 2
    assert (rules[1].w1, rules[1].w2, rules[1].freq) == ("a", "b", 3)
    # then "aaab" -> [aa, ab]: (aa,ab) freq 2
    assert (rules[2].w1, rules[2].w2, rules[2].freq) == ("aa", "ab", 2)

    # all three merges collapse "aaab" to a single token; the first two
    # leave the intermediate [aa, ab] segmentation
    seg3 = {
        r.w: r.pieces
        for r in segment_words(docs, learn_bpe(docs, n_merges=3)).collect()
    }
    assert seg3["aaab"] == ["aaab"] and seg3["ab"] == ["ab"]
    seg2 = {
        r.w: r.pieces
        for r in segment_words(docs, learn_bpe(docs, n_merges=2)).collect()
    }
    assert seg2["aaab"] == ["aa", "ab"] and seg2["ab"] == ["ab"]


def test_learn_bpe_back_to_back_merges(spark):
    from riksdagen_sentences_spark.operators.bpe import learn_bpe

    # "abab": both (a,b) occurrences must merge in one round (the
    # double-space replace encoding's non-overlap boundary case)
    docs = spark.createDataFrame([(1, "abab")], "doc_id long, text string")
    rules = learn_bpe(docs, n_merges=2).orderBy("round").collect()
    assert (rules[0].w1, rules[0].w2) == ("a", "b")
    # round 2 sees [ab, ab] -> pair (ab, ab)
    assert (rules[1].w1, rules[1].w2) == ("ab", "ab")


def test_learn_bpe_degenerate_corpus(spark):
    """A corpus with no adjacent symbol pair (empty, or only 1-char
    words) yields an empty rule table with the rule schema; one that
    runs out of pairs before ``n_merges`` stops early."""
    from riksdagen_sentences_spark.operators.bpe import learn_bpe

    schema = "doc_id long, text string"
    rule_types = [
        ("round", "int"),
        ("w1", "string"),
        ("w2", "string"),
        ("merged", "string"),
        ("freq", "bigint"),
    ]
    for rows in ([], [(1, "a b c a")]):
        rules = learn_bpe(spark.createDataFrame(rows, schema), n_merges=3)
        assert rules.dtypes == rule_types
        assert rules.count() == 0
    # "ab" merges once; then every word is a single symbol
    docs = spark.createDataFrame([(1, "ab ab")], schema)
    rules = learn_bpe(docs, n_merges=3).collect()
    assert [(r.round, r.w1, r.w2, r.freq) for r in rules] == [(1, "a", "b", 2)]


# ---------------------------------------------------------------------------
# streaming HLL replay
# ---------------------------------------------------------------------------


def test_streaming_hll_replay_equals_batch_sketch(spark):
    from riksdagen_sentences_spark.operators.sketch import (
        hll_estimate,
        hll_register_maxima,
    )
    from riksdagen_sentences_spark.streaming.incremental import (
        replay_hll_token_cardinality,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(f"tok{j}" for j in range(i * 25, i * 25 + 40)),
          "en", "s", 0)
         for i in range(8)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = replay_hll_token_cardinality(spark, docs, n_slices=4).collect()[0]
    toks = docs.select(
        F.explode(F.split(F.lower("text"), r"\s+")).alias("key")
    ).filter(F.col("key") != "").distinct()
    batch = hll_estimate(hll_register_maxima(toks)).collect()[0]
    # merged per-batch partials are bit-identical to the one-shot sketch
    assert (got.estimate, got.registers_used) == (
        batch.estimate, batch.registers_used,
    )
    assert got.exact_distinct == toks.count()


# ---------------------------------------------------------------------------
# repo commit churn
# ---------------------------------------------------------------------------


def test_commit_churn_counts_content_changes_only(spark):
    from riksdagen_sentences_spark.operators.repo import commit_churn

    rows = [
        ("r", "a", 0, "v0"), ("r", "a", 1, "v0"), ("r", "a", 2, "v1"),
        ("r", "b", 0, "w0"), ("r", "b", 1, "w1"), ("r", "b", 2, "w1"),
    ]
    files = spark.createDataFrame(
        rows, "repo string, path string, commit_seq int, content string"
    )
    got = {
        (r.repo, r.commit_seq): r.n_changed
        for r in commit_churn(files).collect()
    }
    # seq 0: both files first appear; seq 1: only b changes; seq 2: only a
    assert got == {("r", 0): 2, ("r", 1): 1, ("r", 2): 1}


# ---------------------------------------------------------------------------
# power iteration / top principal component
# ---------------------------------------------------------------------------


def test_top_pc_recovers_rank_one_direction(spark):
    import math

    from riksdagen_sentences_spark.operators.linalg import (
        top_principal_component,
    )

    # rank-1 data: every row is a multiple of u -> the top PC IS u
    # (up to sign; the sign rule makes the largest-|z| component
    # positive, and u's largest component is positive already)
    u = [3.0, 0.0, -1.0, 2.0]
    nrm = math.sqrt(sum(x * x for x in u))
    rows = [([a * x for x in u],) for a in (1.0, -2.0, 0.5, 4.0)]
    vecs = spark.createDataFrame(rows, "embedding array<float>")
    got = {
        r.i: r.z for r in top_principal_component(vecs, n_iter=3).collect()
    }
    for i, x in enumerate(u):
        assert got[i] == pytest.approx(x / nrm, abs=1e-6), i


def test_remove_top_component_orthogonalizes(spark):
    import math

    from riksdagen_sentences_spark.operators.linalg import (
        remove_top_component,
        top_principal_component,
    )

    u = [3.0, 0.0, -1.0, 2.0]
    rows = [
        ([a * x + d for x, d in zip(u, delta)],)
        for a, delta in [
            (1.0, [0.1, 0.0, 0.0, 0.0]),
            (-2.0, [0.0, 0.2, 0.0, 0.0]),
            (0.5, [0.0, 0.0, -0.1, 0.0]),
            (4.0, [0.0, 0.0, 0.0, 0.1]),
        ]
    ]
    vecs = spark.createDataFrame(rows, "embedding array<float>")
    pc = top_principal_component(vecs, n_iter=8)
    z = [r.z for r in pc.orderBy("i").collect()]
    out = remove_top_component(vecs, pc).collect()
    for r in out:
        dot = sum(a * b for a, b in zip(r.embedding_abtt, z))
        assert abs(dot) < 1e-6  # projected vectors orthogonal to the PC
        # norm can only shrink
        before = math.sqrt(sum(float(x) ** 2 for x in r.embedding))
        after = math.sqrt(sum(x ** 2 for x in r.embedding_abtt))
        assert after <= before + 1e-9


# ---------------------------------------------------------------------------
# fuzzy matching (SymSpell symmetric delete)
# ---------------------------------------------------------------------------


def test_fuzzy_matches_equal_brute_force(spark):
    import itertools

    from riksdagen_sentences_spark.operators.fuzzy import fuzzy_matches

    words = ["cat", "hat", "cart", "ca", "dog", "dot", "art", "cats"]
    terms = spark.createDataFrame([(w,) for w in words], "term string")
    dicts = spark.createDataFrame(
        [(w,) for w in ["cat", "dog"]], "form string"
    )
    got = {
        (r.form, r.term, r.dist)
        for r in fuzzy_matches(terms, dicts).collect()
    }

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    want = {
        (f, t, lev(f, t))
        for f, t in itertools.product(["cat", "dog"], words)
        if lev(f, t) <= 1
    }
    assert got == want
    # sanity on the neighborhood shapes: substitution, deletion,
    # insertion, identity all present
    assert ("cat", "hat", 1) in got and ("cat", "ca", 1) in got
    assert ("cat", "cats", 1) in got and ("cat", "cat", 0) in got
    assert ("dog", "dot", 1) in got


# ---------------------------------------------------------------------------
# delta store as-of reads
# ---------------------------------------------------------------------------


def test_assemble_graph_asof_rejects_uncommitted_batch(spark, tmp_path):
    import pytest as _pytest

    from riksdagen_sentences_spark.plans import delta as DL

    store = str(tmp_path / "store")
    files = spark.createDataFrame(
        [(
            "r", "a.txt", "c0", "text",
            "the quick brown fox jumps over the lazy dog in the house "
            "and the cat is on the mat with the dog",
        )],
        "repo string, path string, commit string, lang string, "
        "content string",
    )
    counts = DL.update_graph(spark, store, files)
    assert counts["batch_id"]
    # a committed id works; a fabricated one raises (a snapshot that
    # never existed must not read as empty)
    assert DL.assemble_graph(
        spark, store, as_of_batches=[counts["batch_id"]]
    ).count() > 0
    with _pytest.raises(ValueError, match="not committed"):
        DL.assemble_graph(spark, store, as_of_batches=["nope"]).count()
