"""Each independent check passes on a correct output and fails on a
deliberately corrupted one. No Spark needed:

    python3 -m pytest perfbench/test_checks.py -q
"""

from __future__ import annotations

import datetime as dt
import random
import shlex
import sys
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent))

import checks  # noqa: E402
import gen  # noqa: E402


# -----------------------------------------------------------------------------
# alb_ingest
# -----------------------------------------------------------------------------
@pytest.fixture(scope="module")
def alb():
    files = {}
    for f in range(3):
        text, truth = gen._alb_file(np.random.default_rng([7, 1, f]), f)
        files[f"f{f}.log.gz"] = {**truth, "text": text}
    return files


def _sink_readout(files, delivered):
    """What a correct sink reads back, derived from the log text by a
    second reading of the ALB format: shlex tokens, as the reference
    parser splits a line."""
    per_file, status, method, stamps = {}, {}, {}, {}
    for name in delivered:
        rows = sent = recv = 0
        for line in files[name]["text"].splitlines():
            tok = shlex.split(line)
            if len(tok) < 15:
                continue
            try:
                when = dt.datetime.strptime(tok[1], "%Y-%m-%dT%H:%M:%S.%fZ")
            except ValueError:
                try:
                    when = dt.datetime.strptime(tok[1], "%Y-%m-%dT%H:%M:%SZ")
                except ValueError:
                    continue
            rows += 1
            sent += int(tok[11]) if tok[11].isdigit() else 0
            recv += int(tok[10]) if tok[10].isdigit() else 0
            code = str(int(tok[8]) if tok[8].isdigit() else 0)
            status[code] = status.get(code, 0) + 1
            m, url, _ = tok[12].split(" ")
            method[m] = method.get(m, 0) + 1
            path = url.split("://", 1)[1].split("/", 1)[1].split("?")[0]
            stamps["/" + path] = checks.new_york_wall_clock(when.replace(tzinfo=dt.timezone.utc))
        per_file[name] = (rows, sent, recv)
    return per_file, status, method, stamps


def _alb_check(files, delivered, per_file, status, method, stamps):
    want = {p: ts for n in delivered for p, ts in files[n]["samples"]}
    got = {p: stamps[p] for p in want if p in stamps}
    return checks.check_alb_sink(files, set(delivered), per_file, status, method, got, want)


def test_alb_correct_sink_passes(alb):
    delivered = sorted(alb)
    assert _alb_check(alb, delivered, *_sink_readout(alb, delivered)) == []


def test_alb_duplicated_file_fails(alb):
    delivered = sorted(alb)
    per_file, status, method, stamps = _sink_readout(alb, delivered)
    name = delivered[0]
    per_file[name] = tuple(2 * x for x in per_file[name])  # loaded twice
    assert any("rows/sent/received" in p for p in _alb_check(alb, delivered, per_file, status, method, stamps))


def test_alb_kept_malformed_line_fails(alb):
    delivered = sorted(alb)
    per_file, status, method, stamps = _sink_readout(alb, delivered)
    rows, sent, recv = per_file[delivered[1]]
    per_file[delivered[1]] = (rows + 1, sent, recv)
    status["0"] = status.get("0", 0) + 1
    assert _alb_check(alb, delivered, per_file, status, method, stamps)


def test_alb_wrong_histograms_fail(alb):
    delivered = sorted(alb)
    per_file, status, method, stamps = _sink_readout(alb, delivered)
    status["200"] -= 1
    status["404"] += 1
    assert any("status" in p for p in _alb_check(alb, delivered, per_file, status, method, stamps))
    per_file, status, method, stamps = _sink_readout(alb, delivered)
    method["GET"] -= 1
    method["Unknown"] = 1
    assert any("method" in p for p in _alb_check(alb, delivered, per_file, status, method, stamps))


def test_alb_timestamp_left_in_utc_fails(alb):
    delivered = sorted(alb)
    per_file, status, method, stamps = _sink_readout(alb, delivered)
    path = alb[delivered[0]]["samples"][0][0]
    local = dt.datetime.fromisoformat(stamps[path])
    stamps[path] = (local + dt.timedelta(hours=4)).isoformat(sep=" ")
    assert any("timestamp" in p for p in _alb_check(alb, delivered, per_file, status, method, stamps))


def test_alb_missing_file_fails(alb):
    delivered = sorted(alb)
    per_file, status, method, stamps = _sink_readout(alb, delivered)
    del per_file[delivered[2]]
    assert _alb_check(alb, delivered, per_file, status, method, stamps)


def test_new_york_conversion_follows_dst():
    utc = dt.timezone.utc
    assert checks.new_york_wall_clock(dt.datetime(2025, 3, 9, 6, 30, tzinfo=utc)) == "2025-03-09 01:30:00"
    assert checks.new_york_wall_clock(dt.datetime(2025, 3, 9, 7, 30, tzinfo=utc)) == "2025-03-09 03:30:00"
    assert checks.normalise_ts("2025-03-09 03:30:00.0") == checks.normalise_ts("2025-03-09 03:30:00")


# -----------------------------------------------------------------------------
# corpus_dedup and stream_dedup
# -----------------------------------------------------------------------------
@pytest.fixture(scope="module")
def corpus():
    rnd = random.Random(3)
    vocab = gen.vocabulary(3)
    texts, families = {}, []
    for f in range(12):
        base = gen._random_words(rnd, vocab, 60)
        fam = []
        for recipe in [None, ("edit", 0.02), ("edit", 0.04), ("edit", 0.25)]:
            words = base if recipe is None else gen._variant(rnd, vocab, base, recipe)
            doc = len(texts)
            texts[doc] = gen._render(rnd, words)
            fam.append(doc)
        families.append(fam)
    for _ in range(20):
        texts[len(texts)] = gen._render(rnd, gen._random_words(rnd, vocab, 50))
    truth = [tuple(p) for f in families for p in gen.family_truth_pairs({d: texts[d] for d in f})]
    cache = checks.ShingleCache(texts)
    correct = [(a, b, checks.jaccard(cache[a], cache[b])) for a, b in truth]
    return cache, truth, correct, families


def test_corpus_correct_output_passes(corpus):
    cache, truth, correct, _ = corpus
    assert len(truth) >= 24
    assert checks.check_corpus_dedup(correct, correct, truth, cache) == []


def test_corpus_wrong_jaccard_fails(corpus):
    cache, truth, correct, _ = corpus
    a, b, j = correct[0]
    bad = [(a, b, j + 1e-9)] + correct[1:]
    assert any("jaccard" in p for p in checks.check_corpus_dedup(bad, correct, truth, cache))


def test_corpus_pair_below_threshold_fails(corpus):
    cache, truth, correct, families = corpus
    fam = families[0]
    a, b = fam[0], fam[3]  # the 25% edit rate variant
    j = checks.jaccard(cache[a], cache[b])
    assert j < 0.6
    assert any("below" in p for p in checks.check_corpus_dedup(correct, correct + [(a, b, j)], truth, cache))


def test_corpus_exact_missing_pair_fails(corpus):
    cache, truth, correct, _ = corpus
    assert any("exact: recall" in p for p in checks.check_corpus_dedup(correct, correct[1:], truth, cache))


def test_corpus_minhash_low_recall_fails(corpus):
    cache, truth, correct, _ = corpus
    short = correct[: int(len(correct) * 0.8)]
    assert any("minhash: recall" in p for p in checks.check_corpus_dedup(short, correct, truth, cache))


def test_corpus_duplicate_and_unordered_pairs_fail(corpus):
    cache, truth, correct, _ = corpus
    a, b, j = correct[0]
    assert any("twice" in p for p in checks.check_corpus_dedup(correct + [(a, b, j)], correct, truth, cache))
    assert any("ordered" in p for p in checks.check_corpus_dedup([(b, a, j)] + correct[1:], correct, truth, cache))


def test_stream_checks(corpus):
    cache, _, correct, families = corpus
    fams = {i: f for i, f in enumerate(families)}
    truth = checks.stream_truth_pairs(fams, cache, {})
    assert checks.check_stream_dedup(correct, truth, cache) == []
    assert any("recall" in p for p in checks.check_stream_dedup(correct[: len(correct) // 2], truth, cache))
    a, b, j = correct[0]
    assert checks.check_stream_dedup(correct + [(a, b, j)], truth, cache)


# -----------------------------------------------------------------------------
# vector_search
# -----------------------------------------------------------------------------
@pytest.fixture(scope="module")
def vectors():
    rng = np.random.default_rng(11)
    corpus = rng.normal(size=(300, 8))
    ids = np.arange(300)
    qids = [1_000_000_000 + i for i in range(4)]
    q = rng.normal(size=(4, 8))
    truth = checks.exact_topk(corpus, ids, q, 10)
    rows = [(qid, nid, r + 1, round(s, 6)) for qid, t in zip(qids, truth) for r, (nid, s) in enumerate(t[:10])]
    return corpus, ids, qids, q, rows


def test_topk_correct_passes(vectors):
    corpus, ids, qids, q, rows = vectors
    assert checks.check_topk(rows, qids, corpus, ids, q) == []


def test_topk_swapped_ranks_fail(vectors):
    corpus, ids, qids, q, rows = vectors
    bad = list(rows)
    (q0, n1, r1, c1), (_, n2, r2, c2) = bad[0], bad[1]
    bad[0], bad[1] = (q0, n2, r1, c2), (q0, n1, r2, c1)
    assert checks.check_topk(bad, qids, corpus, ids, q)


def test_topk_wrong_neighbour_fails(vectors):
    corpus, ids, qids, q, rows = vectors
    bad = list(rows)
    qid, _, rank, cos = bad[9]
    in_top = {r[1] for r in rows if r[0] == qid}
    bad[9] = (qid, next(i for i in range(300) if i not in in_top), rank, cos)
    assert checks.check_topk(bad, qids, corpus, ids, q)


def test_topk_wrong_score_and_missing_rank_fail(vectors):
    corpus, ids, qids, q, rows = vectors
    bad = list(rows)
    qid, nid, rank, cos = bad[3]
    bad[3] = (qid, nid, rank, cos - 0.01)
    assert checks.check_topk(bad, qids, corpus, ids, q)
    assert checks.check_topk(rows[1:], qids, corpus, ids, q)


def test_topk_tie_at_the_edge_is_allowed():
    corpus = np.array([[1.0, 0.01 * i] for i in range(9)] + [[1.0, 0.1], [1.0, 0.1], [1.0, 0.5]])
    ids = np.arange(len(corpus))
    q = np.array([[1.0, 0.0]])
    truth = checks.exact_topk(corpus, ids, q, 10)
    assert [t[0] for t in truth[0]] == list(range(11))
    # ids 9 and 10 are the same vector, tied at ranks 10 and 11: either may be returned
    rows = [(5, nid, r + 1, round(s, 6)) for r, (nid, s) in enumerate(truth[0][:10])]
    rows[9] = (5, 10, 10, rows[9][3])
    assert checks.check_topk(rows, [5], corpus, ids, q) == []
    rows[9] = (5, 11, 10, rows[9][3])
    assert checks.check_topk(rows, [5], corpus, ids, q)
