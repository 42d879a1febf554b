"""Tests for the seeded input generator (no Spark)."""

import hashlib
import os
import sys

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import inputs  # noqa: E402

N, EXACT, NEAR, GROUPS = 2000, 0.03, 0.05, 4


def _write(tmp_path, seed, name="d.parquet"):
    path = str(tmp_path / name)
    inputs.write_documents(path, N, seed, EXACT, NEAR, GROUPS)
    return path


def _digest(path):
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def test_same_seed_same_bytes(tmp_path):
    assert _digest(_write(tmp_path, 5, "a.parquet")) == _digest(_write(tmp_path, 5, "b.parquet"))


def test_different_seed_differs(tmp_path):
    assert _digest(_write(tmp_path, 5, "a.parquet")) != _digest(_write(tmp_path, 6, "b.parquet"))


def test_schema_and_row_groups(tmp_path):
    f = pq.ParquetFile(_write(tmp_path, 1))
    assert f.metadata.num_rows == N
    assert f.metadata.num_row_groups == GROUPS
    assert [(fld.name, str(fld.type)) for fld in f.schema_arrow] == [
        ("doc_id", "int64"),
        ("text", "string"),
        ("lang", "string"),
        ("source", "string"),
        ("n_chars", "int64"),
    ]
    t = f.read().to_pydict()
    assert t["doc_id"] == list(range(N))
    assert t["n_chars"] == [len(s) for s in t["text"]]
    assert set(t["source"]) <= {f"src{i}" for i in range(inputs.N_SOURCES)}


def test_planted_rates_hold(tmp_path):
    t = pq.read_table(_write(tmp_path, 3)).to_pydict()
    texts = [s.split() for s in t["text"]]
    seen = set()
    exact = 0
    for words in texts:
        key = tuple(words)
        exact += key in seen
        seen.add(key)
    assert exact == round(N * EXACT)

    # a near copy differs from some other row of equal length in
    # 1..len/NEAR_DUP_EDIT_EVERY positions
    by_len = {}
    for i, words in enumerate(texts):
        by_len.setdefault(len(words), []).append(i)
    near = set()
    for ids in by_len.values():
        for x, i in enumerate(ids):
            for j in ids[x + 1 :]:
                a, b = texts[i], texts[j]
                diff = sum(u != v for u, v in zip(a, b))
                if 0 < diff <= max(1, len(a) // inputs.NEAR_DUP_EDIT_EVERY):
                    near.update((i, j))
    # each planted near copy pairs with its own original only
    assert len(near) == 2 * round(N * NEAR)


def test_every_duplicate_group_is_a_pair(tmp_path):
    t = pq.read_table(_write(tmp_path, 4)).to_pydict()
    groups = {}
    for s in t["text"]:
        groups[s] = groups.get(s, 0) + 1
    assert max(groups.values()) == 2


def test_planted_families_and_contamination():
    n, fams, contam = 500, 4, 2
    t = inputs.documents_table(n, 9, EXACT, 0.08, families=fams, contaminated=contam).to_pydict()
    texts = [tuple(s.split()) for s in t["text"]]
    assert len(texts) == n

    def one_edit(a, b):
        return len(a) == len(b) and sum(u != v for u, v in zip(a, b)) == 1

    # a family: an original of FAMILY_MIN_WORDS+ words, its exact copy,
    # and a copy with one word replaced
    counts = {}
    for s in texts:
        counts[s] = counts.get(s, 0) + 1
    family_heads = [
        s
        for s, c in counts.items()
        if c == 2 and len(s) >= inputs.FAMILY_MIN_WORDS and any(one_edit(s, o) for o in texts)
    ]
    assert len(family_heads) == fams

    # a contaminated benchmark document has a one-edit copy outside the
    # benchmark slots
    bench = [i for i in range(n) if i % inputs.BENCH_MOD == 0]
    hit = [
        i
        for i in bench
        if any(one_edit(texts[i], texts[j]) for j in range(n) if j % inputs.BENCH_MOD)
    ]
    assert len(hit) >= contam


def test_language_mix_and_zipf_head(tmp_path):
    t = pq.read_table(_write(tmp_path, 2)).to_pydict()
    for lang, share in inputs.LANG_MIX:
        assert abs(t["lang"].count(lang) / N - share) < 0.04
    counts = {}
    for s in t["text"]:
        for w in s.split():
            counts[w] = counts.get(w, 0) + 1
    top = sorted(counts, key=counts.get, reverse=True)[:3]
    assert top == list(inputs.STOP_WORDS[:3])
