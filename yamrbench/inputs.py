"""Seeded generator for the benchmark's ``documents`` inputs.

Writes one parquet file in the engine's ``documents`` schema
(``doc_id, text, lang, source, n_chars``). It imports nothing from the
engine and needs no Spark, so the inputs exist before the program under
test is loaded.

The corpus:

- words are drawn from a fixed vocabulary of ``VOCAB_SIZE`` lowercase
  words with Zipf(``ZIPF_S``) rank frequencies; the most frequent ranks
  hold common English stop words, so stop-word filters see real ratios;
- each document has ``MIN_WORDS``..``MAX_WORDS`` words (uniform);
- ``lang`` follows ``LANG_MIX`` and ``source`` is uniform over
  ``src0``..``src19``, like the repository's test data;
- ``exact_dup_rate`` of the rows repeat another row's text verbatim;
- ``near_dup_rate`` of the rows copy an original of at least
  ``NEAR_DUP_MIN_WORDS`` words with one word in ``NEAR_DUP_EDIT_EVERY``
  (at least one) replaced by a different word;
- ``families`` originals of at least ``FAMILY_MIN_WORDS`` words get two
  copies each: one exact, one with a single word replaced. The original
  and its exact copy have the same text, so the edited copy's pairs with
  the two are found or missed together: every family is a triangle or a
  pair in the near-duplicate graph, never a chain;
- ``contaminated`` originals of at least ``NEAR_DUP_MIN_WORDS`` words are
  placed at a ``doc_id`` that is a multiple of ``BENCH_MOD`` (the
  engine's benchmark carve-out) and get one copy, with a single word
  replaced, at a ``doc_id`` that is not. The copy shares most of its
  word 5-grams with a benchmark document;
- every other copied original is copied exactly once. Every duplicate
  group is thus a pair or a triangle: each has diameter 1, so iterative
  group-finding (connected components over the near-duplicate pairs)
  takes the same number of rounds on every seed, and the benchmark's
  materialize and job counts repeat across runs;
- rows are shuffled and numbered ``0..n-1``; the file has exactly
  ``row_groups`` row groups.

The same arguments give the same bytes: numpy's PCG64 stream is fixed
for a given seed, and the parquet writer is pinned (no pandas metadata,
snappy, fixed row-group size).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB_SIZE = 4000
ZIPF_S = 1.05
MIN_WORDS, MAX_WORDS = 10, 100
NEAR_DUP_MIN_WORDS = 30
NEAR_DUP_EDIT_EVERY = 20
FAMILY_MIN_WORDS = 60
BENCH_MOD = 97
LANG_MIX = (("en", 0.44), ("zh", 0.15), ("es", 0.15), ("de", 0.14), ("fr", 0.12))
N_SOURCES = 20
STOP_WORDS = ("the", "a", "of", "to", "and", "in", "is", "it")
_VOCAB_SEED = 20240601  # the vocabulary is the same for every input seed
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def vocabulary() -> list[str]:
    """The fixed Zipf-ranked vocabulary: stop words first, then distinct
    pseudo-words of 3-10 letters."""
    rng = np.random.Generator(np.random.PCG64(_VOCAB_SEED))
    words = list(STOP_WORDS)
    seen = set(words)
    while len(words) < VOCAB_SIZE:
        w = "".join(rng.choice(_LETTERS, size=int(rng.integers(3, 11))))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _zipf_cdf() -> np.ndarray:
    weights = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** ZIPF_S
    cdf = np.cumsum(weights)
    return cdf / cdf[-1]


def _edited(words: np.ndarray, n_edit: int, rng: np.random.Generator) -> np.ndarray:
    """A copy of ``words`` with ``n_edit`` positions replaced by a
    different rank, so the copy never equals its original."""
    words = words.copy()
    for pos in rng.choice(len(words), size=n_edit, replace=False):
        words[pos] = (words[pos] + 1 + rng.integers(0, VOCAB_SIZE - 1)) % VOCAB_SIZE
    return words


def documents_table(
    n_docs: int,
    seed: int,
    exact_dup_rate: float = 0.0,
    near_dup_rate: float = 0.0,
    families: int = 0,
    contaminated: int = 0,
) -> pa.Table:
    """Build the documents table in memory (see the module docstring)."""
    if n_docs < 2:
        raise ValueError("n_docs must be at least 2")
    n_exact = round(n_docs * exact_dup_rate)
    n_near = round(n_docs * near_dup_rate)
    n_orig = n_docs - n_exact - n_near - 2 * families - contaminated
    if n_orig < 1:
        raise ValueError("duplicate rates leave no original documents")
    if contaminated > len(range(0, n_docs, BENCH_MOD)):
        raise ValueError("more contaminated documents than benchmark slots")
    rng = np.random.Generator(np.random.PCG64(seed))
    vocab = np.array(vocabulary(), dtype=object)
    cdf = _zipf_cdf()

    lengths = rng.integers(MIN_WORDS, MAX_WORDS + 1, size=n_orig)
    ranks = np.searchsorted(cdf, rng.random(int(lengths.sum())))
    bounds = np.concatenate(([0], np.cumsum(lengths)))
    originals = [ranks[bounds[i] : bounds[i + 1]] for i in range(n_orig)]
    lang_names = [name for name, _ in LANG_MIX]
    lang_p = np.array([p for _, p in LANG_MIX])
    orig_lang = rng.choice(len(lang_names), size=n_orig, p=lang_p / lang_p.sum())

    # every copied original is copied once (twice in a family): near
    # copies from long originals, exact copies from the rest, then the
    # families and the contaminated documents from what is left
    def pick(min_words: int, k: int, used: np.ndarray) -> np.ndarray:
        pool = np.setdiff1d(np.flatnonzero(lengths >= min_words), used)
        if k > len(pool):
            raise ValueError(f"too few originals of {min_words}+ words for {k} copies")
        return rng.choice(pool, size=k, replace=False) if k else pool[:0]

    near_src = pick(NEAR_DUP_MIN_WORDS, n_near, np.array([], dtype=np.int64))
    exact_src = pick(MIN_WORDS, n_exact, near_src)
    used = np.concatenate((near_src, exact_src))
    family_src = pick(FAMILY_MIN_WORDS, families, used)
    contam_src = pick(NEAR_DUP_MIN_WORDS, contaminated, np.concatenate((used, family_src)))

    word_lists = list(originals)
    langs = list(orig_lang)
    for src in exact_src:
        word_lists.append(originals[src])
        langs.append(orig_lang[src])
    for src in near_src:
        n_edit = max(1, len(originals[src]) // NEAR_DUP_EDIT_EVERY)
        word_lists.append(_edited(originals[src], n_edit, rng))
        langs.append(orig_lang[src])
    for src in family_src:
        word_lists += [originals[src], _edited(originals[src], 1, rng)]
        langs += [orig_lang[src]] * 2
    contam_copies = np.arange(len(word_lists), len(word_lists) + contaminated)
    for src in contam_src:
        word_lists.append(_edited(originals[src], 1, rng))
        langs.append(orig_lang[src])

    # order[doc_id] is the row at that doc_id; contaminated sources sit
    # at benchmark slots and their copies at training slots
    if contaminated:
        slots = np.arange(n_docs)
        bench = rng.choice(slots[::BENCH_MOD], size=contaminated, replace=False)
        copies = rng.choice(slots[slots % BENCH_MOD != 0], size=contaminated, replace=False)
        order = np.empty(n_docs, dtype=np.int64)
        order[bench], order[copies] = contam_src, contam_copies
        rest_slots = np.setdiff1d(slots, np.concatenate((bench, copies)))
        rest_rows = np.setdiff1d(slots, np.concatenate((contam_src, contam_copies)))
        order[rest_slots] = rng.permutation(rest_rows)
    else:
        order = rng.permutation(n_docs)
    texts = [" ".join(vocab[word_lists[i]]) for i in order]
    sources = rng.integers(0, N_SOURCES, size=n_docs)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array([lang_names[langs[i]] for i in order], type=pa.string()),
            "source": pa.array([f"src{s}" for s in sources], type=pa.string()),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def write_documents(
    path: str,
    n_docs: int,
    seed: int,
    exact_dup_rate: float = 0.0,
    near_dup_rate: float = 0.0,
    row_groups: int = 1,
    families: int = 0,
    contaminated: int = 0,
) -> int:
    """Write the documents parquet file to ``path``; returns its size in
    bytes. The file has exactly ``row_groups`` row groups."""
    table = documents_table(
        n_docs, seed, exact_dup_rate, near_dup_rate, families, contaminated
    )
    rows_per_group = -(-n_docs // row_groups)
    if -(-n_docs // rows_per_group) != row_groups:
        raise ValueError(f"{n_docs} rows cannot fill exactly {row_groups} row groups")
    pq.write_table(
        table,
        path,
        row_group_size=rows_per_group,
        compression="snappy",
        store_schema=False,
    )
    return os.path.getsize(path)
