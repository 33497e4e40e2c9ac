"""Seeded input generators for the benchmark workloads.

Everything the engine is fed is made here, from the ``--seed`` argument
alone, with :class:`random.Random` - never from the engine's own
``sources.synth`` - so a change to the engine cannot change a workload's
input.  The same seed always yields byte-identical tables.

Text profile: seven language labels (sv-heavy, as in the riksdagen
corpus) built from per-language function words plus a Zipf-weighted
pseudo-word vocabulary, punctuated sentences, and a small share of the
edge cases the kernels must handle (table-of-contents lines, one-word
sentences, repeated sentences, symbol junk, digits).
"""

from __future__ import annotations

import hashlib
import itertools
import random

LANGS = ("sv", "en", "nb", "de", "fr", "da", "xx")
LANG_WEIGHTS = (60, 12, 8, 8, 6, 3, 3)
HOT_REPO = "repo_hot"
HOT_SHARE = 0.30
N_REPOS = 50
NER_LABELS = ("EVENT", "GPE", "LOC", "ORG", "PERSON", "PRODUCT")
SOURCES = ("src0", "src1", "src2", "src3")

FUNCTION_WORDS = {
    "sv": "och att det som en av den med om inte har till ett han var jag vi",
    "en": "the and of to in that it is was for on with he as be at by",
    "nb": "og i det som til en av den med ikke har de et han var jeg vi",
    "de": "der die und in den von zu das mit sich des auf ist nicht ein",
    "fr": "le de la et les des en un du une que est dans qui pour pas au",
    "da": "og at det som en af den med til ikke har de et han var jeg vi",
    "xx": "",
}
_SYLLABLES = {
    "sv": "ra ti ks för så ång lag da me ny sk ål ren be",
    "en": "ing th er on al re co de st pro ment ion ly",
    "nb": "kje ø sk ti ra ny be ord st lig het ene",
    "de": "sch ung ei ver ge st ich ten be ber lich",
    "fr": "eau ou re tion ai que par en ment eur",
    "da": "sk ti ge ning hed ra lig be st øre",
    "xx": "zq vx kq jx qw zz",
}
VOCAB_PER_LANG = 1500
ZIPF_S = 1.1


def _pseudo_words(rng: random.Random, lang: str, n: int) -> list[str]:
    syl = _SYLLABLES[lang].split()
    out: list[str] = []
    seen = set(FUNCTION_WORDS[lang].split())
    while len(out) < n:
        w = "".join(rng.choice(syl) for _ in range(rng.randint(2, 4)))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


class TextGen:
    """Seeded sentence/document generator with a fixed vocabulary."""

    def __init__(self, seed: int):
        self.rng = random.Random(f"text:{seed}")
        self.vocab: dict[str, list[str]] = {}
        self.cum: dict[str, list[float]] = {}
        for lang in LANGS:
            words = _pseudo_words(self.rng, lang, VOCAB_PER_LANG)
            self.vocab[lang] = words
            self.cum[lang] = list(
                itertools.accumulate(
                    1.0 / (r + 1) ** ZIPF_S for r in range(len(words))
                )
            )

    def word(self, lang: str) -> str:
        return self.rng.choices(self.vocab[lang], cum_weights=self.cum[lang])[0]

    def sentence(self, lang: str, n_words: int) -> str:
        rng = self.rng
        fw = FUNCTION_WORDS[lang].split()
        words = []
        for _ in range(n_words):
            r = rng.random()
            if fw and r < 0.4:
                w = rng.choice(fw)
            elif r < 0.97:
                w = self.word(lang)
            elif r < 0.985:
                w = str(rng.randint(1, 2030))
            else:
                w = rng.choice(("(" + self.word(lang) + ")", self.word(lang) + ","))
            words.append(w)
        words[0] = words[0].capitalize()
        return " ".join(words) + rng.choice(".!?")

    def document(self, lang: str, i: int, n_sentences: int) -> str:
        """Document number ``i``: its sentence count, sentence lengths and
        edge case depend on ``i`` only, so a seed changes the words but
        not the volume of text."""
        sents = [
            self.sentence(lang, 3 + (i + 5 * j) % 14) for j in range(n_sentences)
        ]
        edge = i % 20
        if edge == 0:
            sents = ["Innehåll ......... 4\n"] + sents + ["\nKapitel 2 .... 17"]
        elif edge == 1:
            sents.append("Kort.")
        elif edge == 2:
            sents.append(sents[0])
        elif edge == 3:
            sents.append("¶¤¥ $100 a|b.")
        return " ".join(sents)


def language_plan(seed: int, n: int) -> list[str]:
    """``n`` language labels in the exact LANG_WEIGHTS proportions, in
    an order the seed shuffles."""
    total = sum(LANG_WEIGHTS)
    out = []
    for lang, w in zip(LANGS, LANG_WEIGHTS):
        out += [lang] * (n * w // total)
    out += [LANGS[0]] * (n - len(out))
    random.Random(f"langs:{seed}").shuffle(out)
    return out


def commit_hash(seed: int, k: int) -> str:
    return hashlib.sha1(f"commit:{seed}:{k}".encode()).hexdigest()


def files_table(seed: int, n_files: int) -> list[dict]:
    """(repo, path, commit, lang, content) rows, one commit, every
    content distinct; ~30 % of rows sit in one hot repo."""
    tg = TextGen(seed)
    commit = commit_hash(seed, 0)
    hot_cut = int(n_files * HOT_SHARE)
    seen: set[str] = set()
    rows = []
    for i, lang in enumerate(language_plan(seed, n_files)):
        content = tg.document(lang, i, 2 + i % 8)
        while content in seen:
            content = tg.document(lang, i, 2 + i % 8)
        seen.add(content)
        rows.append(
            {
                "repo": HOT_REPO if i < hot_cut else f"repo_{i % N_REPOS}",
                "path": f"dir{i % 7}/file{i}.txt",
                "commit": commit,
                "lang": lang,
                "content": content,
            }
        )
    return rows


def commit_stream(
    seed: int, n_files: int, n_commits: int, edit_share: float = 0.02
) -> list[list[dict]]:
    """Base commit plus ``n_commits`` follow-ups.  Every follow-up
    resubmits every (repo, path) under a new commit hash; ``edit_share``
    of the files, chosen by the seed, get new content."""
    base = files_table(seed, n_files)
    tg = TextGen(seed + 7_919)
    rng = random.Random(f"edits:{seed}")
    out = [base]
    prev = base
    for k in range(1, n_commits + 1):
        commit = commit_hash(seed, k)
        edited = set(rng.sample(range(n_files), max(1, int(n_files * edit_share))))
        cur = []
        for i, row in enumerate(prev):
            content = row["content"]
            if i in edited:
                content = tg.document(row["lang"], i, 2 + i % 8)
            cur.append({**row, "commit": commit, "content": content})
        out.append(cur)
        prev = cur
    return out


def gazetteer(seed: int, n_terms: int = 100_000) -> list[dict]:
    """(term, ner_label) rows, lowercase.  A few hundred terms are
    corpus words and word pairs, so mentions exist; the rest are
    synthetic one- and two-word terms that pad the dictionary to
    production size."""
    tg = TextGen(seed)
    rng = random.Random(f"gaz:{seed}")
    terms: dict[str, str] = {}
    for lang in LANGS:
        vocab = tg.vocab[lang]
        for w in rng.sample(vocab[:300], 40):
            terms[w] = rng.choice(NER_LABELS)
        for _ in range(20):
            terms[f"{rng.choice(vocab[:50])} {rng.choice(vocab[:50])}"] = rng.choice(
                NER_LABELS
            )
    i = 0
    while len(terms) < n_terms:
        w = "gz" + "".join(chr(97 + int(d)) for d in str(i))
        terms[w if i % 2 else f"{w} {w}"] = NER_LABELS[i % len(NER_LABELS)]
        i += 1
    return [{"term": t, "ner_label": n} for t, n in terms.items()]


def documents(seed: int, n_docs: int, near_dup_share: float = 0.0) -> list[dict]:
    """(doc_id, text, source) rows of long multi-sentence documents.
    Every ``1 / near_dup_share``-th document copies an earlier one (which,
    the seed decides) with a tenth of its words replaced, so
    near-duplicate detection has pairs to find."""
    tg = TextGen(seed)
    rng = random.Random(f"docs:{seed}")
    every = round(1 / near_dup_share) if near_dup_share else 0
    rows: list[dict] = []
    for i, lang in enumerate(language_plan(seed, n_docs)):
        if every and i % every == every - 1:
            words = rows[rng.randrange(i)]["text"].split(" ")
            for _ in range(max(1, len(words) // 10)):
                words[rng.randrange(len(words))] = tg.word("en")
            text = " ".join(words)
        else:
            text = tg.document(lang, i, 6 + i % 11)
        rows.append({"doc_id": i, "text": text, "source": SOURCES[i % len(SOURCES)]})
    return rows
