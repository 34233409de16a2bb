"""Seeded corpus and query-stream generator owned by the benchmark.

Everything here is a pure function of ``seed``: the engine only ever sees
the rows these functions return.  Content mixes four term populations so
that every posting-list regime is present:

* Zipf-skewed code keywords -- stopword-grade head terms (df close to N);
* English text with stopwords -- exercises the stemmer and stopword filter;
* planted multi-word phrases -- targets for phrase queries;
* a Heaps-like identifier vocabulary -- ranks drawn from a Zipf law over an
  open id space, so distinct terms keep growing with the corpus (about two
  per document at the benchmark's sizes) and most posting lists are short.
"""

from __future__ import annotations

import hashlib

import numpy as np

from mini_search_engine_spark.analysis.stopwords import STOP_WORDS

KEYWORDS = (
    "import public return class void static final def val object package "
    "private protected interface extends implements new null true false "
    "spark index segment posting merge flush search query token stem rank "
    "score document page channel buffer compress decode varint delta block "
    "partition shuffle broadcast skew salt checkpoint lineage iceberg parquet"
).split()
ENGLISH = (
    "the of and to in is was it for on with as at by an be this that from "
    "or are not but have had which all their there when would what about "
    "more some into only other time new people could first also made after "
    "stemming important concept computer science information retrieval "
    "activity obtaining resources relevant need collection quick brown fox "
    "jumps lazy dog writing tests turning results applications clothes "
    "satisfactory wearing running connected generalization happily caresses "
    "ponies relational conditional rational valenci hesitanci digitizer "
    "conformabli radicalli differentli vileli analogousli vietnamization "
    "predication operator feudalism decisiveness hopefulness callousness "
    "formaliti sensitiviti sensibiliti triplicate formative formalize "
    "electriciti electrical hopeful goodness revival allowance inference "
    "airliner gyroscopic adjustable defensible irritant replacement "
    "adjustment dependent adoption homologou communism activate angulariti "
    "homologous effective bowdlerize probate rate cease controll roll"
).split()
PHRASES = [
    "inverted index manager",
    "block max wand",
    "salted merge join",
    "posting list compression",
    "query term weight",
    "segment flush policy",
    "docid range partition",
    "lazy tombstone filter",
]
ID_PARTS = (
    "get set buf idx seg post term doc rank heap node tree page file "
    "read write load store scan sort hash map list iter cache pool task"
).split()
LANGS = ["java", "py", "scala", "md"]
SOURCES = ["crawl", "repo", "wiki", "mail"]


def identifier(rank: int) -> str:
    """Deterministic identifier token for an identifier-vocabulary rank."""
    a = ID_PARTS[rank % len(ID_PARTS)]
    b = ID_PARTS[(rank // len(ID_PARTS)) % len(ID_PARTS)]
    return f"{a}{b}_{rank}"


def _zipf(rng: np.random.Generator, n: int, s: float, size=None):
    """Indices into a list of ``n`` words, rank r drawn with weight r**-s."""
    w = np.arange(1, n + 1) ** -s
    return rng.choice(n, size=size, p=w / w.sum())


def _doc_texts(rng: np.random.Generator, n_docs: int) -> list[str]:
    lens = rng.integers(40, 220, size=n_docs)
    total = int(lens.sum())
    kind = rng.random(total)
    kw = _zipf(rng, len(KEYWORDS), 1.3, total)
    en = _zipf(rng, len(ENGLISH), 1.2, total)
    # open identifier space: a shallow Zipf law gives Heaps-like growth
    ids = rng.zipf(1.4, total)
    kw_words = np.array(KEYWORDS, dtype=object)[kw]
    en_words = np.array(ENGLISH, dtype=object)[en]
    uniq, inv = np.unique(ids, return_inverse=True)
    id_words = np.array([identifier(int(r)) for r in uniq], dtype=object)[inv]
    words = np.where(kind < 0.35, kw_words, np.where(kind < 0.75, en_words, id_words))
    bounds = np.cumsum(lens)[:-1]
    plant = rng.random(n_docs) < 0.15
    which = rng.integers(0, len(PHRASES), size=n_docs)
    where = rng.random(n_docs)
    texts = []
    for i, chunk in enumerate(np.split(words, bounds)):
        toks = chunk.tolist()
        if plant[i]:
            pos = int(where[i] * (len(toks) + 1))
            toks[pos:pos] = PHRASES[which[i]].split()
        texts.append(" ".join(toks))
    return texts


def source_corpus(seed: int, n_docs: int) -> dict[str, list]:
    """input_hint-shaped columns ``(repo, path, commit, lang, content)``."""
    rng = np.random.default_rng([seed, 1])
    texts = _doc_texts(rng, n_docs)
    n_repos = max(1, n_docs // 500)
    langs = rng.integers(0, len(LANGS), size=n_docs)
    repos = [f"org/proj{i % n_repos}" for i in range(n_docs)]
    commits = {r: hashlib.sha1(f"{seed}:{r}".encode()).hexdigest() for r in set(repos)}
    return {
        "repo": repos,
        "path": [f"src/pkg{i % 13}/File{i}.{LANGS[l]}" for i, l in enumerate(langs)],
        "commit": [commits[r] for r in repos],
        "lang": [LANGS[l] for l in langs],
        "content": texts,
    }


def doc_batch(seed: int, batch_no: int, first_id: int, n_docs: int) -> dict[str, list]:
    """Testdata-shaped batch ``(doc_id, text, lang, source, n_chars)`` with
    global ids ``first_id .. first_id + n_docs - 1``."""
    rng = np.random.default_rng([seed, 2, batch_no])
    texts = _doc_texts(rng, n_docs)
    langs = rng.integers(0, len(LANGS), size=n_docs)
    srcs = rng.integers(0, len(SOURCES), size=n_docs)
    return {
        "doc_id": list(range(first_id, first_id + n_docs)),
        "text": texts,
        "lang": [LANGS[l] for l in langs],
        "source": [SOURCES[s] for s in srcs],
        "n_chars": [len(t) for t in texts],
    }


# One cycle of each client's closed loop: the kind mix is fixed per cycle
# so that the seed changes which queries run, not how many of each kind.
SERVE_CYCLE = ("bm25", "tfidf", "and", "bm25", "or", "bm25", "tfidf", "keyword", "bm25", "phrase")
READER_CYCLE = ("bm25", "keyword", "bm25")


def query_pool(seed: int, n_queries: int, cycle=SERVE_CYCLE) -> dict[str, list[tuple]]:
    """Distinct queries ``(kind, arg)`` per kind, about ``n_queries`` in all,
    split in the proportions of ``cycle``.  Terms are drawn Zipf-style over
    the corpus populations, so head terms, tail identifiers, absent terms
    and stopword-only queries all occur."""
    rng = np.random.default_rng([seed, 3])

    words = [w for w in ENGLISH if w not in STOP_WORDS]

    def term() -> str:
        r = rng.random()
        if r < 0.3:
            return KEYWORDS[_zipf(rng, len(KEYWORDS), 1.3)]
        if r < 0.5:
            return words[int(rng.integers(len(words)))]
        if r < 0.97:
            return identifier(int(rng.zipf(1.4)))
        if r < 0.99:
            return f"absentterm{int(rng.integers(1 << 30))}"
        return str(rng.choice(["the of", "and the", "is it", "to in"]))

    pool: dict[str, list[tuple]] = {}
    for kind in sorted(set(cycle)):
        want = max(1, round(n_queries * cycle.count(kind) / len(cycle)))
        if kind == "phrase":
            order = rng.permutation(len(PHRASES))[:want]
            pool[kind] = [(kind, PHRASES[int(i)]) for i in order]
            continue
        qs: list[tuple] = []
        while len(qs) < want:
            terms = tuple(term() for _ in range(int(rng.integers(1, 4))))
            if kind == "keyword":
                q = (kind, terms[0])
            elif kind == "and" and len(terms) == 1:
                q = (kind, (terms[0], term()))
            else:
                q = (kind, terms)
            if q not in qs:
                qs.append(q)
        pool[kind] = qs
    return pool


def query_stream(seed: int, pool: dict[str, list[tuple]], n: int, cycle=SERVE_CYCLE) -> list[tuple]:
    """``n`` queries following ``cycle``; within a kind, queries are drawn
    with bounded Zipf popularity (s=0.7), so popular ones repeat (memo
    hits) while rare ones keep arriving cold."""
    rng = np.random.default_rng([seed, 4])
    out = []
    for i in range(n):
        qs = pool[cycle[i % len(cycle)]]
        out.append(qs[_zipf(rng, len(qs), 0.7)])
    return out
