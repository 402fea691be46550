"""Oracles for the three query_mix queries whose SparkEntry oracle cannot
run as-is on generated tables within one benchmark run.

- d7 (MinHash LSH pairs) and e21 (OPQ + IVF-PQ + exact refine): SparkEntry
  holds VALUES fixtures pinned to the sf0.01 test tables. Both are
  recomputed from the generated tables with the reference implementations
  in tools/gen_fixtures.py. d7's 64 per-window hashes run vectorised here;
  `d7_rows` checks itself against the scalar `minhash_sig` on a few
  documents first.
- d40 (curation pipeline): the DuckDB oracle SQL takes ~20 s on 500
  documents. `d40_rows` evaluates the same SQL definition stage by stage
  in Python (under 1 s). `python3 perfbench/fixtures.py <tables dir>
  <oracle_sql.json>` checks it against the SQL.
"""
import hashlib
import os
import re
import string
import sys
from fractions import Fraction

import numpy as np

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools"))
import gen_fixtures as gf  # noqa: E402

U = np.uint64


def _rotl(x, r):
    return (x << U(r)) | (x >> U(64 - r))


def _fmix(h):
    h ^= h >> U(33)
    h *= U(gf.P2)
    h ^= h >> U(29)
    h *= U(gf.P3)
    h ^= h >> U(32)
    return h


def _hash_long(value, seed):
    """Vectorised gf.hash_long: XXH64 of the 8 little-endian bytes."""
    with np.errstate(over="ignore"):
        h = seed.astype(U) + U(gf.P5) + U(8)
        h ^= _rotl(value * U(gf.P2), 31) * U(gf.P1)
        h = _rotl(h, 27) * U(gf.P1) + U(gf.P4)
        return _fmix(h)


def _signatures(token_lists, k=64):
    """MinHash signatures (3-token shingles) of every document, int64."""
    vocab = {}
    th, doc_of = [], []
    starts = []
    for d, toks in enumerate(token_lists):
        hs = [vocab.setdefault(t, gf.xxh64(t.encode("utf-8"), 42)) for t in toks]
        starts.append(len(th))
        nwin = max(len(hs) - 2, 1)
        for w in range(nwin):
            chain = hs[w:w + 3]
            th.append(chain + [None] * (3 - len(chain)))
            doc_of.append(d)
    t = np.array([[0 if x is None else x for x in c] for c in th], dtype=U)
    present = np.array([[x is not None for x in c] for c in th])
    with np.errstate(over="ignore"):
        h0 = t[:, 0].copy()
        for j in (1, 2):
            h0 = np.where(present[:, j], _hash_long(t[:, j], h0), h0)
        sig = np.empty((len(token_lists), k), dtype=np.int64)
        idx = np.array(starts)
        for i in range(k):
            hv = _hash_long(h0, np.full(len(h0), i, dtype=U)).view(np.int64)
            sig[:, i] = np.minimum.reduceat(hv, idx)
    return sig


def d7_rows(con):
    """(id_a, id_b, jaccard_est) of every LSH candidate pair with estimated
    Jaccard >= 0.3, as the d7 fixture builds them."""
    docs = con.execute("SELECT doc_id, text FROM documents ORDER BY doc_id").fetchall()
    ids = [int(i) for i, _ in docs]
    toks = [gf.tokens(t.lower()) for _, t in docs]
    sig = _signatures(toks)
    for d in range(min(3, len(toks))):
        assert list(sig[d]) == gf.minhash_sig(toks[d]), "vectorised MinHash disagrees"
    buckets = {}
    for d, i in enumerate(ids):
        for bk in gf.band_keys([int(v) for v in sig[d]]):
            buckets.setdefault(bk, []).append(d)
    cand = set()
    for ds in buckets.values():
        for x in range(len(ds)):
            for y in range(x + 1, len(ds)):
                cand.add((ds[x], ds[y]))
    out = []
    for a, b in sorted(cand):
        m = int(np.sum(sig[a] == sig[b]))
        if m / 64 >= 0.3:
            out.append((ids[a], ids[b], gf.round_half_up(m, 64, 4)))
    return out


def e21_rows(tables):
    """(corpus_id, l2sq, query_id, rank), the e21 fixture's columns in name
    order. Raises AssertionError when a margin is too thin to judge."""
    ids, rot, d = gf.opq_rotated_corpus(tables)
    return [(c, dist, q, rank) for q, c, dist, rank in gf.opq_ivfpq_refine_fixture(ids, rot, d)]


STOPWORDS = {"the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "that", "for",
             "on", "with", "as", "was", "at", "by", "be", "this", "are", "from", "but"}


def _toks(text):
    return [x for x in re.split(r"\s+", text.strip(" ")) if x]


def _grams(toks, n):
    if len(toks) - (n - 1) <= 0:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - (n - 1))}


def _quality(text):
    """The d40 oracle's four-signal quality score, in exact arithmetic."""
    ltoks, rtoks, n = _toks(text.lower()), _toks(text), len(text)
    q = Fraction(1, 4) * (Fraction(n, 10) if n < 10 else
                          Fraction(1, 2) if n > 10000 else 1)
    punct = sum(1 for c in text if c in string.punctuation)
    q += Fraction(1, 4) * (0 if n and Fraction(punct, n) > Fraction(3, 10) else 1)
    stop = sum(1 for t in ltoks if t in STOPWORDS)
    q += Fraction(1, 4) * (1 if ltoks and Fraction(stop, len(ltoks)) > Fraction(1, 20)
                           else Fraction(3, 10))
    avg = Fraction(sum(len(t) for t in rtoks), len(rtoks)) if rtoks else 0
    q += Fraction(1, 4) * (1 if rtoks and Fraction(5, 2) <= avg <= 12 else Fraction(2, 5))
    return q


def d40_rows(con):
    """(doc_id, shard, stage) of every non-probe document."""
    docs = con.execute("SELECT doc_id, text FROM documents ORDER BY doc_id").fetchall()
    corpus = [(i, t) for i, t in docs if i % 31 != 0]
    out = []
    s1 = []
    for i, t in corpus:
        if _quality(t) < Fraction(9, 10):
            out.append((i, None, "quality"))
        else:
            s1.append((i, t))
    keep = {}
    for i, t in s1:
        keep[t] = min(keep.get(t, i), i)
    s2 = []
    for i, t in s1:
        if keep[t] != i:
            out.append((i, None, "exact_dup"))
        else:
            s2.append((i, _toks(t.lower())))
    sh = {i: _grams(tk, 3) for i, tk in s2}
    inv = {}
    for i, _ in s2:
        for g in sh[i]:
            inv.setdefault(g, []).append(i)
    cand = {(a, b) for ids in inv.values() for a in ids for b in ids if a < b}
    parent = {}

    def find(x):
        while parent.get(x, x) != x:
            x = parent[x]
        return x
    for a, b in cand:
        if len(sh[a] & sh[b]) / len(sh[a] | sh[b]) >= 0.5:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
    s3 = []
    for i, tk in s2:
        if find(i) != i:
            out.append((i, None, "near_dup"))
        else:
            s3.append((i, tk))
    probe = set()
    for i, t in docs:
        if i % 31 == 0:
            probe |= _grams(_toks(t.lower()), 4)
    for i, tk in s3:
        if _grams(tk, 4) & probe:
            out.append((i, None, "contaminated"))
        else:
            shard = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 16
            out.append((i, shard, "kept"))
    return out


if __name__ == "__main__":
    # Check d40_rows against the d40 oracle SQL on a table directory; the
    # SQL is read from a query_mix results directory's oracle_sql.json.
    import json
    import duckdb
    tables, oracle_json = sys.argv[1], sys.argv[2]
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{tables}/documents.parquet'")
    sql = json.load(open(oracle_json))["d40_curation_pipeline"]
    want = sorted(con.execute(f"SELECT doc_id, shard, stage FROM ({sql}) oq").fetchall())
    got = sorted(d40_rows(con))
    print("d40 python oracle", "agrees" if got == want else "DISAGREES",
          f"({len(got)} rows, {len(want)} expected)")
    sys.exit(0 if got == want else 1)
