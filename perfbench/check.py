"""Output checks that never call the engine.

Exact shingle-hash-set Jaccard is recomputed here with the arithmetic
the engine and its DuckDB oracle (graft.oracle.Sql) share: one hash per
code-point position, a base-31 fold of the k=3 window mod 2^31-1, short
trailing windows extended by one space, Jaccard = |A∩B| / (|A|+|B|-|A∩B|)
in IEEE doubles, so a reported value must match bit for bit.
"""
import numpy as np
import pyarrow.parquet as pq

P = 2147483647
BASE = 31
SPACE = 32
K = 3
THRESHOLD = 0.8
# an ingest drop with no planted partner is searched for against every
# earlier doc; past this many such drops the rest count as failures
MAX_SEARCHES = 50


def shingle_set(text, k=K):
    """Sorted distinct shingle hashes of `text`."""
    c = np.frombuffer(text.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    n = len(c)
    i = np.arange(n)
    acc = np.zeros(n, dtype=np.int64)
    for j in range(k):
        idx = i + j
        ok = idx < n
        acc[ok] = (acc[ok] * BASE + c[idx[ok]]) % P
    short = i + k > n
    acc[short] = (acc[short] * BASE + SPACE) % P
    return np.unique(acc)


def jaccard(a, b):
    inter = int(np.intersect1d(a, b, assume_unique=True).size)
    return inter / (a.size + b.size - inter)


class Corpus:
    """Texts by doc id, with shingle sets computed on demand."""

    def __init__(self, paths):
        self.text = {}
        for p in paths:
            t = pq.read_table(p, columns=["doc_id", "text"])
            self.text.update(zip(t.column(0).to_pylist(), t.column(1).to_pylist()))
        self._sets = {}

    def set(self, doc):
        s = self._sets.get(doc)
        if s is None:
            s = self._sets[doc] = shingle_set(self.text[doc])
        return s

    def j(self, a, b):
        return jaccard(self.set(a), self.set(b))


def check_dedup(input_dir, checks, ops):
    """Every reported pair is id-ordered, unique, at or above the
    threshold, with the exact Jaccard value; every op's output digest
    equals the checked output's. Returns (failed op ids, recall, notes)."""
    corpus = Corpus([f"{input_dir}/documents.parquet"])
    notes = []
    pairs = checks["pairs"]
    seen = set()
    bad = 0
    for a, b, jac in pairs:
        want = corpus.j(a, b)
        if a >= b or (a, b) in seen or want < THRESHOLD or float(jac) != want:
            bad += 1
            if len(notes) < 5:
                notes.append(f"pair ({a},{b}) reported {jac}, exact {want!r}")
        seen.add((a, b))
    planted = pq.read_table(f"{input_dir}/planted.parquet").to_pylist()
    truth = [(r["id_a"], r["id_b"]) for r in planted
             if corpus.j(r["id_a"], r["id_b"]) >= THRESHOLD]
    recall = sum(1 for p in truth if p in seen) / len(truth) if truth else 1.0
    failed = []
    for o in ops:
        if bad or o["digest"] != checks["digest"] or o["rows"] != len(pairs):
            failed.append(o["id"])
    if any(o["digest"] != checks["digest"] for o in ops):
        notes.append("op digests differ from the checked output")
    return failed, recall, notes


def check_ingest(input_dir, checks, ops):
    """Every doc a batch dropped has an earlier doc (stored, or in the
    same batch) at or above the threshold; no verbatim copy of a stored
    doc is kept. Returns (failed op ids, planted recall, notes)."""
    batches = checks["batches"]
    kept = {int(b): set(ids) for b, ids in checks["kept"].items()}
    corpus = Corpus([f"{input_dir}/base.parquet"] + batches)
    planted = {r["id_b"]: (r["id_a"], r["kind"])
               for r in pq.read_table(f"{input_dir}/planted.parquet").to_pylist()}
    stored = set(kept.get(0, ()))
    searches = 0  # drops with no planted partner: searched exhaustively, capped
    notes = []
    failed = []
    hits = total = 0
    for j, path in enumerate(batches, start=1):
        ids = pq.read_table(path, columns=["doc_id"]).column(0).to_pylist()
        keep = kept.get(j, set())
        bad = 0
        for d in ids:
            src = planted.get(d)
            if src is not None and src[0] in stored:
                near = corpus.j(d, src[0]) >= THRESHOLD
                if near:
                    total += 1
                    hits += d not in keep
                if src[1] == "exact" and d in keep:
                    bad += 1
                    notes.append(f"batch {j}: kept verbatim copy {d} of {src[0]}")
            if d in keep:
                continue
            # dropped: find the earlier doc that justifies it
            if src is not None and src[0] in stored and \
                    corpus.j(d, src[0]) >= THRESHOLD:
                continue
            searches += 1
            pool = stored | {e for e in ids if e < d}
            if searches > MAX_SEARCHES or \
                    not any(corpus.j(d, e) >= THRESHOLD for e in pool):
                bad += 1
                notes.append(f"batch {j}: dropped {d} with no near-dup")
        stored |= keep
        if bad:
            failed.append(j - 1)
    op_ids = [o["id"] for o in ops]
    return [op_ids[i] for i in failed if i < len(op_ids)], \
        (hits / total if total else 1.0), notes[:5]
