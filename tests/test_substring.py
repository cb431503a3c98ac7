"""Exact substring-duplication spans + scrub (operators/substring.py) vs a
brute-force single-machine reference — the same semantics Lee et al. 2022
get from a suffix array, restricted to fixed window length n: every
length-n token window occurring >= 2 times anywhere in the corpus is
duplicated; keep-first leaves each window's corpus-wide first occurrence
(minimal (id, pos)) unmarked so exactly one copy survives a scrub."""

from __future__ import annotations

import random
from collections import defaultdict

from ironbeam_spark.operators.substring import (
    duplicated_ngram_spans,
    scrub_duplicated_spans,
)


def _ref_spans(corpus, n, keep_first=True):
    """corpus: list[(id, text)] -> {id: [(start, end), ...]} merged spans.
    Gram identity is the token tuple itself (no hashing) — any divergence
    from the operator's rolling hash would be a collision or a bug."""
    toks = {i: [t for t in text.split(" ") if t] for i, text in corpus}
    grams = defaultdict(list)
    for i, ts in sorted(toks.items()):
        for p in range(len(ts) - n + 1):
            grams[tuple(ts[p : p + n])].append((i, p))
    hits = defaultdict(set)
    for occ in grams.values():
        if len(occ) < 2:
            continue
        occ = sorted(occ)
        for i, p in occ[1:] if keep_first else occ:
            hits[i].add(p)
    spans = {}
    for i, ps in hits.items():
        ps = sorted(ps)
        out, s, e = [], ps[0], ps[0] + n
        for p in ps[1:]:
            if p <= e:
                e = p + n
            else:
                out.append((s, e))
                s, e = p, p + n
        out.append((s, e))
        spans[i] = out
    return spans


def _ref_scrub(corpus, n):
    spans = _ref_spans(corpus, n, keep_first=True)
    out = {}
    for i, text in corpus:
        ts = [t for t in text.split(" ") if t]
        cover = set()
        for s, e in spans.get(i, []):
            cover.update(range(s, e))
        kept = [t for p, t in enumerate(ts) if p not in cover]
        out[i] = (" ".join(kept), len(ts), len(ts) - len(kept))
    return out


def _spans_of(spark, corpus, n, keep_first=True):
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    rows = duplicated_ngram_spans(df, "doc_id", "text", n, keep_first).collect()
    got = defaultdict(list)
    for r in rows:
        got[r["doc_id"]].append((r["start_tok"], r["end_tok"]))
    return {i: sorted(v) for i, v in got.items()}


def test_cross_doc_phrase(spark):
    shared = "the quick brown fox jumps over the lazy dog today"
    corpus = [
        (1, f"alpha beta {shared} gamma delta"),
        (2, f"one two three {shared} four"),
        (3, "completely unrelated text with no duplication at all here"),
    ]
    got = _spans_of(spark, corpus, n=4)
    # doc 1 holds every shared gram's first occurrence -> unmarked;
    # doc 2's copy starts at token 3 and spans the 10 shared tokens
    assert 1 not in got
    assert got[2] == [(3, 13)]
    assert 3 not in got


def test_within_doc_repeat(spark):
    phrase = "a b c d"
    corpus = [(7, f"{phrase} x y z {phrase} w")]
    got = _spans_of(spark, corpus, n=4)
    # second occurrence starts at token 7
    assert got == {7: [(7, 11)]}


def test_adjacent_windows_merge_to_one_span(spark):
    # a 2n-token duplicated run must come back as ONE maximal span
    run = "r1 r2 r3 r4 r5 r6 r7 r8"
    corpus = [(1, f"{run} tail"), (2, f"head {run}")]
    got = _spans_of(spark, corpus, n=4)
    assert 1 not in got  # doc 1 = first occurrence of every gram
    assert got[2] == [(1, 9)]


def test_keep_first_false_marks_all(spark):
    shared = "p q r s"
    corpus = [(1, f"{shared} only once here"), (2, f"zz {shared} yy")]
    got = _spans_of(spark, corpus, n=4, keep_first=False)
    assert got[1] == [(0, 4)]
    assert got[2] == [(1, 5)]


def test_short_and_empty_docs(spark):
    corpus = [(1, "one two three"), (2, "one two three"), (3, "")]
    # n=4 > every doc's length: no grams, no spans, scrub is identity
    assert _spans_of(spark, corpus, n=4) == {}
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    rows = {
        r["doc_id"]: r
        for r in scrub_duplicated_spans(df, "doc_id", "text", n=4).collect()
    }
    assert rows[1]["text_clean"] == "one two three"
    assert rows[1]["n_removed"] == 0
    assert rows[3]["text_clean"] == "" and rows[3]["n_tokens"] == 0


def test_fuzz_against_reference(spark):
    # tiny vocabulary forces dense gram collisions: island merging, winner
    # selection, and within/cross-doc interplay all get exercised
    rng = random.Random(60_617)
    vocab = ["aa", "bb", "cc"]
    corpus = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 25))))
        for i in range(20)
    ]
    for keep_first in (True, False):
        want = _ref_spans(corpus, 3, keep_first)
        got = _spans_of(spark, corpus, 3, keep_first)
        assert got == want, f"keep_first={keep_first}"


def test_scrub_against_reference(spark):
    rng = random.Random(417)
    vocab = ["x", "y", "z", "w"]
    corpus = [
        (i, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 18))))
        for i in range(15)
    ]
    want = _ref_scrub(corpus, 3)
    df = spark.createDataFrame(corpus, "doc_id long, text string")
    rows = scrub_duplicated_spans(df, "doc_id", "text", n=3).collect()
    got = {r["doc_id"]: (r["text_clean"], r["n_tokens"], r["n_removed"]) for r in rows}
    assert got == want

