"""Expected answers, computed without the package.

``SearchOracle`` evaluates the generated QUERY statements in DuckDB over
the generated Parquet (the index is re-derived there in SQL); the other
helpers derive expected answers from the generator's own records, the
near-duplicate ones by running the MinHash/LSH algorithm ``functions.dedup``
documents in plain Python.  None of this runs inside a timed region.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import re
from collections import Counter

import duckdb
import numpy as np
import pyarrow.dataset as ds

from gen import Corpus, Query


def doc_key(doc_id: int) -> str:
    s = str(doc_id)
    return f"doc{s if len(s) > 6 else s.zfill(6)}.example.com"


class SearchOracle:
    """DuckDB over ``documents.parquet``: the postings the index should
    hold, and each query's result set, count and first page."""

    def __init__(self, data_dir: str):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 1")
        src = os.path.join(data_dir, "documents.parquet")
        self.con.execute(f"CREATE TABLE docs AS SELECT * FROM '{src}'")
        self.con.execute("""
            CREATE TABLE post AS
            SELECT t.tok AS keyword, d.doc_id, count(*)::DOUBLE AS score
            FROM docs d, unnest(list_filter(regexp_split_to_array(
                lower(d.text), '[^a-z]+'), x -> x <> '')) AS t(tok)
            GROUP BY 1, 2
            UNION ALL SELECT 'lang:' || lang, doc_id, 0.0 FROM docs
            UNION ALL SELECT 'src:' || source, doc_id, 0.0 FROM docs
            UNION ALL SELECT 'len:chars', doc_id, n_chars::DOUBLE FROM docs
        """)

    def close(self) -> None:
        self.con.close()

    @staticmethod
    def _leaf(term: str) -> str:
        return f"SELECT doc_id, score FROM post WHERE keyword = '{term}'"

    def result_sql(self, q: Query) -> str:
        """(doc_id, score) of the query, before the page is cut."""
        sql = self._leaf(q.terms[0])
        for op, term in zip(q.ops, q.terms[1:]):
            rhs = self._leaf(term)
            if op == "AND":
                sql = (f"SELECT l.doc_id, l.score FROM ({sql}) l WHERE "
                       f"l.doc_id IN (SELECT doc_id FROM ({rhs}))")
            elif op == "-":
                sql = (f"SELECT l.doc_id, l.score FROM ({sql}) l WHERE "
                       f"l.doc_id NOT IN (SELECT doc_id FROM ({rhs}))")
            else:  # OR: union, the right side's score wins on collision
                sql = (f"SELECT coalesce(r.doc_id, l.doc_id) AS doc_id, "
                       f"coalesce(r.score, l.score) AS score FROM ({sql}) l "
                       f"FULL OUTER JOIN ({rhs}) r ON l.doc_id = r.doc_id")
        if q.order_by:
            sql = (f"SELECT l.doc_id, coalesce(k.score, '-inf'::DOUBLE) "
                   f"AS score FROM ({sql}) l LEFT JOIN "
                   f"({self._leaf(q.order_by)}) k ON k.doc_id = l.doc_id")
        if q.thresholds:
            lo, hi = min(q.thresholds), max(q.thresholds)
            sql = (f"SELECT k.doc_id, k.score FROM (SELECT DISTINCT doc_id "
                   f"FROM ({sql})) r JOIN ({self._leaf('len:chars')}) k "
                   f"ON k.doc_id = r.doc_id "
                   f"WHERE k.score >= {lo} AND k.score < {hi}")
        return sql

    def answer(self, q: Query) -> tuple[int, list[str]]:
        """(result-count, keys of the page in order)."""
        sql = self.result_sql(q)
        total = self.con.execute(f"SELECT count(*) FROM ({sql})").fetchone()[0]
        rows = self.con.execute(
            f"SELECT doc_id FROM ({sql}) ORDER BY score DESC, doc_id ASC "
            f"LIMIT {q.limit} OFFSET {q.offset}").fetchall()
        return total, [doc_key(r[0]) for r in rows]

    def doc_ids(self, q: Query) -> set[int]:
        rows = self.con.execute(
            f"SELECT DISTINCT doc_id FROM ({self.result_sql(q)})").fetchall()
        return {r[0] for r in rows}

    def scores(self, keyword: str) -> dict[int, float]:
        return dict(self.con.execute(
            "SELECT doc_id, score FROM post WHERE keyword = ?",
            [keyword]).fetchall())


def check_query(oracle: SearchOracle, q: Query, got) -> str | None:
    """None when the engine's QUERY reply matches the oracle, else why."""
    total, keys = oracle.answer(q)
    if q.offset >= total:
        return None if got == [] else f"expected [] for offset {q.offset}"
    if not isinstance(got, dict):
        return f"expected an envelope, got {type(got).__name__}"
    if got.get("result-count") != total:
        return f"result-count {got.get('result-count')} != {total}"
    got_keys = [r.get("_key") for r in got.get("result", [])]
    if got_keys != keys:
        return f"page {got_keys[:3]}... != {keys[:3]}..."
    return None


# ---------------------------------------------------------------------------
# ingest
# ---------------------------------------------------------------------------

def expected_postings(corpus: Corpus) -> tuple[int, dict[str, Counter]]:
    """Posting count of the built index (one per distinct word per doc,
    plus the lang/src/len:chars label rows) and, per word, doc -> tf."""
    lists: dict[str, Counter] = {}
    total = 0
    for doc_id, text in enumerate(corpus.text):
        tf = Counter(text.split())
        total += len(tf)
        for w, n in tf.items():
            lists.setdefault(w, Counter())[doc_id] = n
    return total + 3 * corpus.n_docs, lists


SAMPLED_WORDS = 12        # posting lists compared, beside the markers


def sample_keywords(corpus: Corpus) -> list[str]:
    """Words spread over Zipf rank, plus the planted markers."""
    step = max(1, len(corpus.vocab) // SAMPLED_WORDS)
    return corpus.vocab[::step][:SAMPLED_WORDS] + [
        w for ws in corpus.markers.values() for w in ws]


def check_index(index_dir: str, corpus: Corpus, expected_total: int,
                lists: dict[str, Counter]) -> str | None:
    """Read the written postings back with pyarrow and compare."""
    post = ds.dataset(os.path.join(index_dir, "postings"),
                      format="parquet", partitioning="hive")
    if post.count_rows() != expected_total:
        return f"postings {post.count_rows()} != {expected_total}"
    docs = ds.dataset(os.path.join(index_dir, "documents"), format="parquet")
    if docs.count_rows() != corpus.n_docs:
        return f"documents {docs.count_rows()} != {corpus.n_docs}"
    words = sample_keywords(corpus)
    got: dict[str, dict[int, float]] = {w: {} for w in words}
    table = post.to_table(columns=["keyword", "doc_id", "score"],
                          filter=ds.field("keyword").isin(words))
    for k, d, s in zip(*(table.column(c).to_pylist()
                         for c in ("keyword", "doc_id", "score"))):
        got[k][d] = s
    for w in words:
        want = {d: float(n) for d, n in lists.get(w, {}).items()}
        if got[w] != want:
            return f"posting list of {w!r} differs"
    return None


# ---------------------------------------------------------------------------
# batch
# ---------------------------------------------------------------------------

# MinHash/LSH as ``functions.dedup`` specifies it: word 3-gram shingles,
# a 32-bit md5 base hash, h_i(x) = ((2i+1) x + 12345 i + 1) mod p, and
# bands of k/bands rows hashed as md5 of the sorted "i:sig" strings.  The
# settings are the defaults of ``near_dup_clusters`` and
# ``incremental_dedup``, which the workload calls without arguments.
MINHASH_PRIME = 4_294_967_311
SHINGLE_N, MINHASH_K, LSH_BANDS = 3, 16, 4
CLUSTER_MIN_JACCARD = 0.12        # near_dup_clusters(min_jaccard=)
ADMIT_MIN_JACCARD = 0.5           # incremental_dedup(min_jaccard=)


def shingle_set(text: str) -> frozenset:
    toks = [t for t in re.split("[^a-z]+", text.lower()) if t]
    return frozenset(" ".join(toks[i:i + SHINGLE_N])
                     for i in range(len(toks) - SHINGLE_N + 1))


def band_keys(shingles: frozenset) -> list:
    xs = np.array([int(hashlib.md5(s.encode()).hexdigest()[:8], 16)
                   for s in shingles], dtype=np.int64)
    sig = [int((((2 * i + 1) * xs + 12345 * i + 1) % MINHASH_PRIME).min())
           for i in range(MINHASH_K)]
    rows = MINHASH_K // LSH_BANDS
    return [(b, hashlib.md5(",".join(sorted(
        f"{i}:{sig[i]}" for i in range(b * rows, (b + 1) * rows)))
        .encode()).hexdigest()) for b in range(LSH_BANDS)]


def lsh_pairs(sets: dict[int, frozenset], min_jaccard: float) -> set:
    """Pairs (a < b) that share an LSH bucket and verify by Jaccard."""
    buckets: dict = {}
    for d, sh in sets.items():
        if sh:
            for key in band_keys(sh):
                buckets.setdefault(key, []).append(d)
    pairs = set()
    for ids in buckets.values():
        ids = sorted(ids)
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                inter = len(sets[a] & sets[b])
                if inter / (len(sets[a]) + len(sets[b]) - inter) \
                        >= min_jaccard:
                    pairs.add((a, b))
    return pairs


def _reps(corpus: Corpus, ids) -> dict[str, list[int]]:
    """text -> ids with that exact text, ascending."""
    by_text: dict[str, list[int]] = {}
    for d in ids:
        by_text.setdefault(corpus.text[d], []).append(d)
    return by_text


def expected_clusters(corpus: Corpus) -> dict[int, int]:
    """doc_id -> canonical_id for ``dedup.near_dup_clusters``: identical
    texts collapse to their smallest id, the representatives join through
    LSH-verified pairs, and each component takes its smallest id."""
    groups = _reps(corpus, range(corpus.n_docs))
    sets = {ids[0]: shingle_set(t) for t, ids in groups.items()}
    parent = {d: d for d in sets}

    def find(d):
        while parent[d] != d:
            parent[d] = parent[parent[d]]
            d = parent[d]
        return d
    for a, b in lsh_pairs(sets, CLUSTER_MIN_JACCARD):
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {d: find(ids[0]) for ids in groups.values() for d in ids}


def expected_admitted(corpus: Corpus) -> dict[int, int]:
    """doc_id -> n_copies for ``dedup.incremental_dedup`` of the held-back
    slice (ids >= batch_start) against the rest: batch texts collapse to
    their smallest id, those already in the corpus are rejected, and a
    representative is rejected when it verifies against a corpus doc or an
    earlier batch doc."""
    start = corpus.batch_start
    corpus_groups = _reps(corpus, range(start))
    batch_groups = {t: ids for t, ids in
                    _reps(corpus, range(start, corpus.n_docs)).items()
                    if t not in corpus_groups}
    batch = {ids[0]: len(ids) for ids in batch_groups.values()}
    sets = {ids[0]: shingle_set(t)
            for g in (corpus_groups, batch_groups) for t, ids in g.items()}
    rejected = set()
    for a, b in lsh_pairs(sets, ADMIT_MIN_JACCARD):
        if b in batch:
            rejected.add(b)
        elif a in batch:
            rejected.add(a)
    return {d: n for d, n in batch.items() if d not in rejected}


def planted_recall(canon: dict[int, int], corpus: Corpus) -> float:
    """Share of planted near-duplicate pairs put in one cluster."""
    pairs = [(a, b) for c in corpus.clusters
             for i, a in enumerate(c) for b in c[i + 1:]]
    return sum(canon.get(a) == canon.get(b) for a, b in pairs) / len(pairs)


def check_correlate(rows, corpus: Corpus) -> str | None:
    """The planted markers, and nothing else, lead the non-label keywords
    by |log_odds|, with the sign of their language (A = en, B = es)."""
    want = {w: 1 for w in corpus.markers["en"]}
    want.update({w: -1 for w in corpus.markers["es"]})
    ranked = sorted((r for r in rows if ":" not in r["keyword"]),
                    key=lambda r: (-abs(r["log_odds"]), r["keyword"]))
    top = ranked[:len(want)]
    got = {r["keyword"]: int(math.copysign(1, r["log_odds"])) for r in top}
    return None if got == want else f"top keywords {sorted(got)}"


def check_select(rows, oracle: SearchOracle, q: Query,
                 fields: list[str]) -> str | None:
    """SELECT f... FROM (q): one row per result doc; a word field is its
    term frequency, a presence label is 1.0, a miss is NaN."""
    ids = oracle.doc_ids(q)
    if len(rows) != len(ids) or {r["doc_id"] for r in rows} != ids:
        return f"select rows {len(rows)} != {len(ids)}"
    for i, f in enumerate(fields):
        want = oracle.scores(f)
        if want and all(v == 0.0 for v in want.values()):
            want = {d: 1.0 for d in want}
        for r in rows:
            v, w = r[f"f{i}"], want.get(r["doc_id"])
            if (w is None) != math.isnan(v) or (w is not None and v != w):
                return f"select {f} of doc {r['doc_id']}: {v} != {w}"
    return None


def check_export(out_dir: str, oracle: SearchOracle, q: Query) -> str | None:
    keys = []
    for name in sorted(os.listdir(out_dir)):
        if name.startswith("part-"):
            with open(os.path.join(out_dir, name)) as f:
                keys += [json.loads(line)["_key"] for line in f]
    want = sorted(doc_key(d) for d in oracle.doc_ids(q))
    return None if sorted(keys) == want else \
        f"export {len(keys)} lines != {len(want)}"
