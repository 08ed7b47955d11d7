#!/usr/bin/env python3
"""Seeded input generator for the perfbench workloads.

Every file is a pure function of (workload, seed, sizes): the same
arguments give byte-identical parquet, another seed gives another
corpus with the same planted rates. The engine only ever reads what
this writes.

  dedup_batch   documents.parquet (doc_id, text, lang, source, n_chars)
                planted.parquet   (id_a, id_b): every doc with
                doc_id % 20 == 19 copies doc_id - 1 with 5% of its word
                positions resampled (char-3-gram Jaccard ~0.9)
  ingest_stream base.parquet      the store's initial load, same recipe
                batch_NNNN.parquet arriving batches; ~10% of each batch
                re-plants a random base original with 5% of its words
                resampled, ~1% copies one verbatim
                planted.parquet   (id_a, id_b, kind) for those plants

Text follows the realistic-vocabulary recipe of tools/gen_realistic.py:
a 10k-word Zipf(1.07) vocabulary of random 3-10 letter words, 10-100
words per doc (uniform, as in the sf0.1 test corpus), lang/source drawn
from that corpus' measured mix. The vocabulary is part of the workload,
the same for every seed (drawn from VOCAB_SEED); the seed draws the
documents. With a vocabulary drawn per seed, the vocabulary set the op
time: the LSH band pairs of 20k docs ranged 6.7k-17k over ordinary
seeds, and in 2 of 37 seeds the shingles of a few very frequent words
took all six minima of one band, so 780-2,300 docs shared one bucket
and the band pairs grew 40-170x. With VOCAB_SEED's vocabulary, seeds
1-6 give 19.9k-21.5k band pairs on dedup_batch and 28.1k-31.1k on
ingest_stream (base plus six batches), the largest bucket 56-82 docs.

Usage: python3 perfbench/gen.py WORKLOAD SEED OUT_DIR
"""
import os
import string
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sizes: scaled so one timed op is seconds, not minutes, on a 4-core box
DEDUP_DOCS = 20_000
INGEST_BASE_DOCS = 10_000
INGEST_BATCH_DOCS = 2_000
INGEST_BATCHES = 40
VOCAB = 10_000
VOCAB_SEED = 0
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4118, 0.1506, 0.1488, 0.1484, 0.1404]  # sf0.1 documents
SOURCES = [f"src{i}" for i in range(20)]  # uniform in sf0.1


def _rng(seed, stream):
    return np.random.default_rng([int(seed) % 2**63, stream])


def _write(tbl, path):
    pq.write_table(tbl, path, compression="snappy")


def make_vocab(rng, size=VOCAB):
    """`size` distinct random lowercase words of 3-10 letters and their
    Zipf(1.07) sampling CDF (last edge pinned to exactly 1.0)."""
    letters = np.array(list(string.ascii_lowercase))
    words, seen = [], set()
    while len(words) < size:
        w = "".join(rng.choice(letters, size=int(rng.integers(3, 11))))
        if w not in seen:
            seen.add(w)
            words.append(w)
    p = 1.0 / np.arange(1, size + 1, dtype=np.float64) ** 1.07
    cdf = np.cumsum(p / p.sum())
    cdf[-1] = 1.0
    return np.array(words), cdf


def _draw(rng, cdf, n):
    return np.searchsorted(cdf, rng.random(n))


def _resample(rng, cdf, ws, frac=0.05):
    ws = ws.copy()
    hit = rng.random(len(ws)) < frac
    ws[hit] = _draw(rng, cdf, int(hit.sum()))
    return ws


def _docs_table(ids, word_lists, vocab, rng):
    texts = [" ".join(vocab[w]) for w in word_lists]
    n = len(texts)
    lang = np.array(LANGS)[np.searchsorted(np.cumsum(LANG_P) / sum(LANG_P),
                                           rng.random(n))]
    src = np.array(SOURCES)[rng.integers(0, len(SOURCES), n)]
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang.tolist(), pa.string()),
        "source": pa.array(src.tolist(), pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def corpus_words(rng, cdf, n):
    """Word-index lists for docs 0..n-1 with the 5% planted near-dups
    (doc i, i % 20 == 19, resamples 5% of doc i-1's words)."""
    lengths = rng.integers(10, 101, n)
    flat = _draw(rng, cdf, int(lengths.sum()))
    offs = np.concatenate([[0], np.cumsum(lengths)])
    out = []
    for i in range(n):
        if i % 20 == 19:
            out.append(_resample(rng, cdf, out[i - 1]))
        else:
            out.append(flat[offs[i]:offs[i + 1]])
    return out


def gen_dedup(seed, out, n_docs=DEDUP_DOCS):
    vocab, cdf = make_vocab(_rng(VOCAB_SEED, 0))
    rng = _rng(seed, 1)
    words = corpus_words(rng, cdf, n_docs)
    _write(_docs_table(np.arange(n_docs), words, vocab, rng),
           f"{out}/documents.parquet")
    b = np.arange(19, n_docs, 20)
    _write(pa.table({"id_a": pa.array(b - 1, pa.int64()),
                     "id_b": pa.array(b, pa.int64())}),
           f"{out}/planted.parquet")


def gen_ingest(seed, out, n_base=INGEST_BASE_DOCS,
               batch_docs=INGEST_BATCH_DOCS, n_batches=INGEST_BATCHES):
    vocab, cdf = make_vocab(_rng(VOCAB_SEED, 0))
    rng = _rng(seed, 2)
    base = corpus_words(rng, cdf, n_base)
    _write(_docs_table(np.arange(n_base), base, vocab, rng),
           f"{out}/base.parquet")
    originals = np.array([i for i in range(n_base) if i % 20 != 19])
    pa_, pb, kind = [], [], []
    next_id = n_base
    for j in range(n_batches):
        ids = np.arange(next_id, next_id + batch_docs)
        next_id += batch_docs
        lengths = rng.integers(10, 101, batch_docs)
        words = [_draw(rng, cdf, int(n)) for n in lengths]
        # ~10% near-dups and ~1% exact copies of random base originals
        roll = rng.random(batch_docs)
        srcs = rng.choice(originals, batch_docs)
        for i in range(batch_docs):
            if roll[i] < 0.01:
                words[i] = base[srcs[i]].copy()
                k = "exact"
            elif roll[i] < 0.11:
                words[i] = _resample(rng, cdf, base[srcs[i]])
                k = "near"
            else:
                continue
            pa_.append(int(srcs[i]))
            pb.append(int(ids[i]))
            kind.append(k)
        _write(_docs_table(ids, words, vocab, rng), f"{out}/batch_{j:04d}.parquet")
    _write(pa.table({"id_a": pa.array(pa_, pa.int64()),
                     "id_b": pa.array(pb, pa.int64()),
                     "kind": pa.array(kind, pa.string())}),
           f"{out}/planted.parquet")


def generate(workload, seed, out):
    """Write the inputs of `workload` for `seed` into `out` (created)."""
    os.makedirs(out, exist_ok=True)
    if workload == "dedup_batch":
        gen_dedup(seed, out)
    elif workload == "ingest_stream":
        gen_ingest(seed, out)
    else:
        raise ValueError(f"unknown workload {workload!r}")


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
