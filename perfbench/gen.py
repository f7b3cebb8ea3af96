"""Seeded corpus and query-stream generator.

Everything the program reads is produced here from one integer seed, and
the same seed gives byte-identical files.  The generator does not import
the package: the program under test sees only the written Parquet.

The corpus is the ``documents`` table the package's ``model.derive_*``
functions read (``doc_id, text, lang, source, n_chars``):

- background text draws its words from a Zipf law over a pseudo-word
  vocabulary, so posting lists range from a handful of documents to about
  80% of the corpus;
- a few *marker* words are planted per language (``en`` markers in about
  a third of English documents, rare elsewhere), so ``CORRELATE QUERY
  (lang:en), (lang:es)`` has a known answer;
- near-duplicate clusters with known membership are planted at random
  doc ids: exact copies and one-word edits of a longer base text;
- the file is written in many small row groups, so a scan splits across
  every core instead of landing on one task.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The search DSL's reserved words (matched case-insensitively by its lexer)
# cannot be bare search terms, so the vocabulary never contains them.
# perfbench/tests/test_gen.py pins this list against the parser.
RESERVED = frozenset(w.lower() for w in (
    "AND", "CORRELATE", "CSV", "FALSE", "FETCH", "FIRST", "FOR", "FROM",
    "FORMAT", "JSON", "KEY", "KEYS", "LIMIT", "MAX", "MIN", "NEXT", "NOT",
    "OFFSET", "OUTPUT", "OR", "ORDER", "BY", "PARALLEL", "PARSE", "PATH",
    "QUERY", "RANDOM_SAMPLE", "ROW", "ROWS", "SELECT", "SET", "SHOW",
    "SUMMARIES", "TEXT", "THRESHOLDS", "TIME", "VALUES", "WITH",
    "COUNT", "MODE", "EXACT", "APPROX", "NONE", "ONLY",
))

LANGS = ("en", "es", "de", "fr")
LANG_P = (0.5, 0.25, 0.15, 0.1)
N_SOURCES = 8
MARKERS_PER_LANG = 3
MARKER_P_OWN = 0.35       # share of own-language docs carrying a marker
MARKER_P_OTHER = 0.01     # share of other docs carrying it
ZIPF_S = 0.9
DOC_TOKENS = (16, 48)     # background length range, words
BASE_TOKENS = 64          # near-duplicate base length, words
ROW_GROUP_ROWS = 1024
BATCH_SHARE = 0.1         # the held-back slice incremental dedup admits

_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


@dataclass
class Corpus:
    """The generated table plus the facts the checks compare against."""
    seed: int
    doc_id: np.ndarray
    text: list[str]
    lang: np.ndarray
    source: np.ndarray
    vocab: list[str]             # Zipf rank order, most frequent first
    markers: dict[str, list[str]]
    clusters: list[list[int]]    # planted near-dup clusters, ids ascending
    batch_start: int             # ids >= this are the held-back slice
    path: str = ""

    @property
    def n_docs(self) -> int:
        return len(self.text)

    def n_chars(self) -> np.ndarray:
        return np.array([len(t) for t in self.text], dtype=np.int64)

    def text_bytes(self) -> int:
        return sum(len(t.encode()) for t in self.text)


def make_vocab(rng: np.random.Generator, size: int) -> list[str]:
    """``size`` distinct pseudo-words, none reserved.  The word of rank r
    has 3 + r % 7 letters whatever the seed, so the corpus's bytes per
    word, and the index's bytes per text byte, do not vary with it."""
    words: list[str] = []
    seen = set(RESERVED)
    while len(words) < size:
        n = 3 + len(words) % 7
        w = "".join(_LETTERS[rng.integers(0, 26, size=n)])
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def zipf_p(size: int) -> np.ndarray:
    p = 1.0 / np.arange(1, size + 1, dtype=np.float64) ** ZIPF_S
    return p / p.sum()


def generate(seed: int, n_docs: int, vocab_size: int) -> Corpus:
    """Draw the corpus for ``seed`` (deterministic, single process)."""
    rng = np.random.default_rng(seed)
    words = make_vocab(rng, vocab_size + MARKERS_PER_LANG * 2)
    vocab = words[:vocab_size]
    markers = {"en": words[vocab_size:vocab_size + MARKERS_PER_LANG],
               "es": words[vocab_size + MARKERS_PER_LANG:]}
    varr = np.array(vocab, dtype=object)

    lang = np.array(LANGS, dtype=object)[
        rng.choice(len(LANGS), size=n_docs, p=LANG_P)]
    source = np.array([f"src{i}" for i in range(N_SOURCES)], dtype=object)[
        rng.integers(0, N_SOURCES, size=n_docs)]

    lens = rng.integers(DOC_TOKENS[0], DOC_TOKENS[1] + 1, size=n_docs)
    draws = rng.choice(vocab_size, size=int(lens.sum()), p=zipf_p(vocab_size))
    ends = np.cumsum(lens)
    docs = [list(varr[draws[e - n:e]]) for n, e in zip(lens, ends)]

    for code, ws in markers.items():
        own = lang == code
        for w in ws:
            p = np.where(own, MARKER_P_OWN, MARKER_P_OTHER)
            for i in np.flatnonzero(rng.random(n_docs) < p):
                docs[i].insert(int(rng.integers(0, len(docs[i]) + 1)), w)

    clusters = _plant_clusters(rng, docs, varr, n_docs)
    text = [" ".join(d) for d in docs]
    return Corpus(seed=seed, doc_id=np.arange(n_docs, dtype=np.int64),
                  text=text, lang=lang, source=source, vocab=vocab,
                  markers=markers, clusters=clusters,
                  batch_start=n_docs - int(n_docs * BATCH_SHARE))


def _plant_clusters(rng, docs, varr, n_docs) -> list[list[int]]:
    """Overwrite random docs with near-duplicate clusters of 2-4 members.

    Members differ from the base by at most one word at the end, so every
    pair has word-3-gram Jaccard above 0.9 and is found by any sensible
    MinHash/LSH setting; background docs share almost no 3-grams."""
    n_clusters = max(2, n_docs // 200)
    sizes = rng.integers(2, 5, size=n_clusters)
    ids = rng.choice(n_docs, size=int(sizes.sum()), replace=False)
    clusters, at = [], 0
    for size in sizes:
        members = sorted(int(i) for i in ids[at:at + size])
        at += size
        base = list(varr[rng.integers(0, len(varr), size=BASE_TOKENS)])
        for j, doc in enumerate(members):
            edit = 0 if j == 0 else int(rng.integers(0, 3))
            words = list(base)
            if edit == 1:        # substitute the last word
                words[-1] = varr[int(rng.integers(0, len(varr)))]
            elif edit == 2:      # append one word
                words.append(varr[int(rng.integers(0, len(varr)))])
            docs[doc] = words
        clusters.append(members)
    return sorted(clusters)


def write_documents(corpus: Corpus, out_dir: str) -> str:
    """Write ``<out_dir>/documents.parquet`` in ``ROW_GROUP_ROWS`` groups."""
    os.makedirs(out_dir, exist_ok=True)
    table = pa.table({
        "doc_id": pa.array(corpus.doc_id, pa.int64()),
        "text": pa.array(corpus.text, pa.string()),
        "lang": pa.array(corpus.lang, pa.string()),
        "source": pa.array(corpus.source, pa.string()),
        "n_chars": pa.array(corpus.n_chars(), pa.int64()),
    })
    path = os.path.join(out_dir, "documents.parquet")
    pq.write_table(table, path, row_group_size=ROW_GROUP_ROWS)
    corpus.path = out_dir
    return path


# ---------------------------------------------------------------------------
# Query stream
# ---------------------------------------------------------------------------

@dataclass
class Query:
    """One QUERY statement as the DSL text plus the structure the oracle
    needs: ``terms`` joined left to right by ``ops`` (``AND``/``OR``/``-``,
    one precedence level, left-associative, as in the DSL)."""
    terms: list[str]
    ops: list[str]
    order_by: str | None = None
    thresholds: list[float] | None = None
    limit: int = 10
    offset: int = 0

    def expr(self) -> str:
        expr = self.terms[0]
        for op, t in zip(self.ops, self.terms[1:]):
            expr += f" {op} {t}"
        if self.order_by:
            expr += f" ORDER BY {self.order_by}"
        return expr

    def dsl(self) -> str:
        s = f"QUERY ({self.expr()})"
        if self.thresholds:
            s += (" THRESHOLDS " + ",".join(f"{v:g}" for v in self.thresholds)
                  + " FOR KEY 'len:chars'")
        s += f" LIMIT {self.limit}"
        if self.offset:
            s += f" OFFSET {self.offset}"
        return s + ";"


QUERY_KINDS = ("and", "or", "not", "and_or", "order_by", "thresholds", "page")


def query_stream(stream: int, vocab: list[str], n: int) -> list[Query]:
    """``n`` QUERY statements cycling through ``QUERY_KINDS``.

    Terms are drawn log-uniformly over Zipf rank, so a query mixes posting
    lists from a few docs to most of the corpus.  The ranks drawn depend on
    ``stream`` only; the seed picks the vocabulary, so every seed asks
    queries of the same shape and posting-list sizes, with other words."""
    rng = np.random.default_rng([stream, 1])
    top = np.log(len(vocab))

    def term() -> str:
        return vocab[min(len(vocab) - 1, int(np.exp(rng.uniform(0, top))))]

    out = []
    for i in range(n):
        kind = QUERY_KINDS[i % len(QUERY_KINDS)]
        a, b, c = term(), term(), term()
        if kind == "and":
            q = Query([a, b], ["AND"])
        elif kind == "or":
            q = Query([a, b], ["OR"])
        elif kind == "not":
            q = Query([a, b], ["-"])
        elif kind == "and_or":
            q = Query([vocab[int(rng.integers(0, 20))], a, b],
                      ["AND", "OR"])
        elif kind == "order_by":
            q = Query([a, b], ["OR"], order_by="len:chars")
        elif kind == "thresholds":
            lo = int(rng.integers(100, 200))
            q = Query([a, c], ["OR"], thresholds=[lo, lo + 50, lo + 150])
        else:
            q = Query([a, b], ["OR"], limit=20,
                      offset=int(rng.choice([0, 10, 20, 40])))
        out.append(q)
    return out
