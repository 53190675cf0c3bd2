"""X147: pair similarity panel (dedup_text.pair_similarity_panel).

Pins: a pure-Python mirror of the ENTIRE composition — shingle
minhash, band candidates, distinct-token Jaccard/containment,
md5-based SimHash-32 Hamming, winnowing fingerprint overlap —
matches Spark cell-for-cell; identical docs max every measure
(J = cont = winnow = 1.0, Hamming 0); a one-token edit separates
the measures (J < 1.0 while containment of the shorter side stays
high); pairs exist only where LSH bands collide (the panel never
goes all-pairs); token-less docs (empty, whitespace-only) drop out
even when LSH pairs them; docs shorter than the winnow k-gram give
winnow 0; partitioning-invariant.
"""

from __future__ import annotations

import hashlib

from ptt_spider_go_spark.pipeline.dedup_text import (
    lsh_candidate_pairs,
    minhash_signatures,
    pair_similarity_panel,
)
from tests.test_winnow import _mirror_fps

SCHEMA = "doc_id long, text string"


def _docs(spark, rows, parts=4):
    return spark.createDataFrame(rows, schema=SCHEMA).repartition(parts)


def _h60(s):
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _h32(s):
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _shingles(text):
    toks = text.split()
    if len(toks) <= 3:
        return {" ".join(toks)}
    return {" ".join(toks[j:j + 3]) for j in range(len(toks) - 2)}


def _mirror(rows):
    sigs = {}
    for d, t in rows:
        sh = _shingles(t)
        sigs[d] = [min(_h60(f"{i}:{s}") for s in sh) for i in range(4)]
    bands = {}
    for d, m in sigs.items():
        for b, sig in ((0, f"{m[0]},{m[1]}"), (1, f"{m[2]},{m[3]}")):
            bands.setdefault((b, sig), set()).add(d)
    pairs = set()
    for ds in bands.values():
        ds = sorted(ds)
        for i, a in enumerate(ds):
            for b in ds[i + 1:]:
                pairs.add((a, b))
    toks = {d: set(t.split()) for d, t in rows}
    wfps = {d: {fp for _p, fp in _mirror_fps(t)} for d, t in rows}

    def simhash(d):
        sums = [0] * 32
        for tok in toks[d]:
            h = _h32(tok)
            for i in range(32):
                sums[i] += 1 if (h >> i) & 1 else -1
        return sum(1 << i for i in range(32) if sums[i] > 0)

    out = []
    for a, b in sorted(pairs):
        if not toks[a] or not toks[b]:
            continue  # token-less docs have no panel row
        common = len(toks[a] & toks[b])
        za, zb = len(toks[a]), len(toks[b])
        ham = bin(simhash(a) ^ simhash(b)).count("1")
        ws = len(wfps[a] & wfps[b])
        wa, wb = len(wfps[a]), len(wfps[b])
        wppm = (ws * 1_000_000 // min(wa, wb)
                if wa > 0 and wb > 0 else 0)
        out.append((
            a, b,
            common * 1_000_000 // (za + zb - common),
            common * 1_000_000 // za,
            common * 1_000_000 // zb,
            ham, ws, wppm,
        ))
    return out


BASE = ("alpha bravo charlie delta echo foxtrot golf hotel india "
        "juliet kilo lima mike november oscar papa")
FIXTURE = [
    (1, BASE),
    (2, BASE),                                   # identical
    (3, BASE.replace("hotel", "HOTEL")),         # one-token edit
    (4, "completely different words entirely unrelated content here"),
    # edge cases: empty and whitespace-only docs share the "" shingle,
    # so LSH pairs them, but neither has a token
    (5, ""),
    (6, "   \t\n   \t   "),
    # identical docs shorter than the winnow k-gram: no fingerprints
    (7, "ab cd"),
    (8, "ab cd"),
    # <= 3 tokens: one shingle of the whole text
    (9, "one two three"),
    (10, "one two three"),
    (11, "uno dos"),
]


def test_matches_full_mirror(spark):
    got = [tuple(r) for r in
           pair_similarity_panel(_docs(spark, FIXTURE)).collect()]
    assert got == _mirror(FIXTURE)
    assert len(got) >= 2  # (1,2) and at least one edited pair banded


def test_identical_docs_max_every_measure(spark):
    got = {(r["doc_a"], r["doc_b"]): r for r in
           pair_similarity_panel(_docs(spark, FIXTURE)).collect()}
    r = got[(1, 2)]
    assert r["jaccard_ppm"] == 1_000_000
    assert r["cont_a_ppm"] == 1_000_000 and r["cont_b_ppm"] == 1_000_000
    assert r["hamming"] == 0
    assert r["winnow_ppm"] == 1_000_000


def test_edit_separates_measures(spark):
    got = {(r["doc_a"], r["doc_b"]): r for r in
           pair_similarity_panel(_docs(spark, FIXTURE)).collect()}
    pair = got.get((1, 3)) or got.get((2, 3))
    assert pair is not None
    assert pair["jaccard_ppm"] < 1_000_000
    assert pair["cont_a_ppm"] < 1_000_000
    assert pair["winnow_ppm"] < 1_000_000  # edited run breaks chunks
    # unrelated doc never pairs (bands cannot collide)
    assert not any(4 in k for k in got)


def test_edge_cases(spark):
    docs = _docs(spark, FIXTURE)
    got = {(r["doc_a"], r["doc_b"]): tuple(r)[2:] for r in
           pair_similarity_panel(docs).collect()}
    lsh = {(r["doc_a"], r["doc_b"]) for r in
           lsh_candidate_pairs(minhash_signatures(docs)).collect()}
    assert (5, 6) in lsh and (5, 6) not in got
    assert not any(5 in k or 6 in k for k in got)
    assert got[(7, 8)] == (1_000_000, 1_000_000, 1_000_000, 0, 0, 0)
    assert got[(9, 10)][:4] == (1_000_000, 1_000_000, 1_000_000, 0)
    assert got[(9, 10)][5] == 1_000_000
    assert not any(11 in k for k in got)


def test_partitioning_invariance(spark):
    a = [tuple(r) for r in
         pair_similarity_panel(_docs(spark, FIXTURE, 2)).collect()]
    b = [tuple(r) for r in
         pair_similarity_panel(_docs(spark, FIXTURE, 7)).collect()]
    assert a == b
