"""The seeded generator: determinism, vocabulary and planted structure."""

import hashlib

import pytest

import gen
from cantera_table_spark.dsl.parser import _KEYWORDS, parse_script


def digest(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    paths = []
    for d in ("a", "b", "c"):
        seed = 3 if d != "c" else 4
        paths.append(gen.write_documents(gen.generate(seed, 600, 500),
                                         str(tmp_path / d)))
    assert digest(paths[0]) == digest(paths[1])
    assert digest(paths[0]) != digest(paths[2])
    q = [x.dsl() for x in gen.query_stream(1, gen.generate(3, 600, 500)
                                           .vocab, 30)]
    assert q == [x.dsl() for x in gen.query_stream(
        1, gen.generate(3, 600, 500).vocab, 30)]


def test_parquet_has_many_row_groups(tmp_path):
    import pyarrow.parquet as pq
    path = gen.write_documents(gen.generate(1, 5000, 2000), str(tmp_path))
    assert pq.ParquetFile(path).metadata.num_row_groups >= 4


def test_vocabulary_avoids_every_reserved_word():
    assert {k.lower() for k in _KEYWORDS} <= gen.RESERVED
    c = gen.generate(2, 2000, 3000)
    words = set(c.vocab) | {w for ws in c.markers.values() for w in ws}
    assert not words & gen.RESERVED
    assert all(w.isalpha() and w.islower() for w in words)


@pytest.mark.parametrize("seed", [1, 7])
def test_every_generated_query_parses(seed):
    c = gen.generate(seed, 500, 2000)
    for q in gen.query_stream(seed, c.vocab, 70):
        (stmt,) = parse_script(q.dsl())
        assert stmt.limit == q.limit and stmt.offset == q.offset


def test_posting_lists_span_rare_to_most_docs():
    c = gen.generate(1, 4000, 4000)
    df = {}
    for text in c.text:
        for w in set(text.split()):
            df[w] = df.get(w, 0) + 1
    top = df[c.vocab[0]] / c.n_docs
    assert 0.7 < top < 0.95
    assert min(df.get(w, 0) for w in c.vocab) <= 1


def test_planted_clusters_and_markers():
    c = gen.generate(5, 4000, 4000)
    members = [m for cl in c.clusters for m in cl]
    assert len(members) == len(set(members))
    for cl in c.clusters:
        base = c.text[cl[0]].split()
        for m in cl[1:]:
            words = c.text[m].split()
            assert words[:len(base) - 1] == base[:-1]
    for code, ws in c.markers.items():
        own = [i for i in range(c.n_docs) if c.lang[i] == code]
        for w in ws:
            hits = sum(w in c.text[i].split() for i in own)
            assert hits > 0.2 * len(own)
