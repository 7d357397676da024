"""Independent output checks.

Every check recomputes the expected answer here, in plain Python or
numpy, from the generator's own inputs and ground truth. None of them
calls the engine under test or compares against a stored copy of its
output. Each check returns a list of problems; an empty list passes.
"""

from __future__ import annotations

import datetime as dt

import numpy as np

JACCARD_THRESHOLD = 0.6
MINHASH_RECALL_FLOOR = 0.9  # the registry's floor for the LSH near-dedup
TOPK_TIE_TOLERANCE = 1e-6


# -----------------------------------------------------------------------------
# text similarity
# -----------------------------------------------------------------------------
def shingle_set(text: str, n: int = 3) -> frozenset[str]:
    """Distinct lowercase word n-grams: tokens are the lowercased text
    split on whitespace runs."""
    toks = text.lower().split()
    return frozenset(" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    if not a and not b:
        return 0.0
    inter = len(a & b)
    return inter / (len(a) + len(b) - inter)


class ShingleCache:
    """Shingle sets by doc id, computed once per document."""

    def __init__(self, texts: dict[int, str]):
        self.texts = texts
        self._sets: dict[int, frozenset] = {}

    def add(self, ids, texts) -> None:
        for i, t in zip(ids, texts):
            self.texts[int(i)] = t

    def __getitem__(self, doc_id: int) -> frozenset:
        s = self._sets.get(doc_id)
        if s is None:
            s = self._sets[doc_id] = shingle_set(self.texts[doc_id])
        return s


def check_pairs_precise(pairs, shingles: ShingleCache, label: str) -> list[str]:
    """Each reported (a, b, jaccard) must name two known documents with
    a < b, must equal the pure-Python Jaccard exactly and be >= 0.6,
    and must be reported once."""
    problems = []
    seen = set()
    for a, b, j in pairs:
        a, b = int(a), int(b)
        if (a, b) in seen:
            problems.append(f"{label}: pair ({a},{b}) reported twice")
            continue
        seen.add((a, b))
        if not a < b:
            problems.append(f"{label}: pair ({a},{b}) not ordered")
            continue
        if a not in shingles.texts or b not in shingles.texts:
            problems.append(f"{label}: pair ({a},{b}) names an unknown document")
            continue
        want = jaccard(shingles[a], shingles[b])
        if j != want:
            problems.append(f"{label}: pair ({a},{b}) jaccard {j!r} != {want!r}")
        elif want < JACCARD_THRESHOLD:
            problems.append(f"{label}: pair ({a},{b}) jaccard {want} below {JACCARD_THRESHOLD}")
        if len(problems) > 20:
            break
    return problems


def recall(found, truth) -> float:
    truth = {(int(a), int(b)) for a, b in truth}
    if not truth:
        return 1.0
    got = {(int(p[0]), int(p[1])) for p in found}
    return len(truth & got) / len(truth)


def check_corpus_dedup(minhash_pairs, exact_pairs, truth_pairs, shingles: ShingleCache) -> list[str]:
    problems = check_pairs_precise(minhash_pairs, shingles, "minhash")
    problems += check_pairs_precise(exact_pairs, shingles, "exact")
    r_exact = recall(exact_pairs, truth_pairs)
    if r_exact != 1.0:
        missing = {tuple(p) for p in truth_pairs} - {(int(a), int(b)) for a, b, _ in exact_pairs}
        problems.append(f"exact: recall {r_exact:.4f} < 1, missing e.g. {sorted(missing)[:5]}")
    r_mh = recall(minhash_pairs, truth_pairs)
    if r_mh < MINHASH_RECALL_FLOOR:
        problems.append(f"minhash: recall {r_mh:.4f} < {MINHASH_RECALL_FLOOR}")
    return problems


def stream_truth_pairs(families: dict[int, list[int]], shingles: ShingleCache, cache: dict) -> list[tuple[int, int]]:
    """Same-family pairs among the documents dropped so far whose
    Jaccard is >= 0.6; `cache` keeps pair verdicts between calls."""
    out = []
    for members in families.values():
        ms = sorted(members)
        for x, a in enumerate(ms):
            for b in ms[x + 1:]:
                hit = cache.get((a, b))
                if hit is None:
                    hit = cache[(a, b)] = jaccard(shingles[a], shingles[b]) >= JACCARD_THRESHOLD
                if hit:
                    out.append((a, b))
    return out


def check_stream_dedup(verified_pairs, truth_pairs, shingles: ShingleCache) -> list[str]:
    problems = check_pairs_precise(verified_pairs, shingles, "stream")
    r = recall(verified_pairs, truth_pairs)
    if r < MINHASH_RECALL_FLOOR:
        problems.append(f"stream: recall {r:.4f} < {MINHASH_RECALL_FLOOR} over {len(truth_pairs)} pairs")
    return problems


# -----------------------------------------------------------------------------
# vector search
# -----------------------------------------------------------------------------
def exact_topk(corpus: np.ndarray, corpus_ids: np.ndarray, q: np.ndarray, k: int):
    """Exact cosine top-(k+1) per query, ordered by score desc then id."""
    cn = corpus / np.linalg.norm(corpus, axis=1, keepdims=True)
    qn = q / np.linalg.norm(q, axis=1, keepdims=True)
    scores = qn @ cn.T
    out = []
    for row in scores:
        order = np.lexsort((corpus_ids, -row))[: k + 1]
        out.append([(int(corpus_ids[i]), float(row[i])) for i in order])
    return out


def check_topk(result_rows, query_ids, corpus, corpus_ids, q, k: int = 10) -> list[str]:
    """`result_rows` are (query_id, neighbor_id, rank, cos). Each query
    must get numpy's exact top-k in rank order with ties broken by id.
    Where two true scores are within 1e-6 the order between them may
    differ, and where the k-th and (k+1)-th true scores are within 1e-6
    either of the two may be returned."""
    problems = []
    by_q: dict[int, list] = {qid: [] for qid in query_ids}
    for qid, nid, rank, cos in result_rows:
        if int(qid) not in by_q:
            problems.append(f"unknown query id {qid}")
            continue
        by_q[int(qid)].append((int(rank), int(nid), float(cos)))
    truth = exact_topk(corpus, corpus_ids, q, k)
    for qid, want in zip(query_ids, truth):
        got = sorted(by_q[qid])
        if [r for r, _, _ in got] != list(range(1, k + 1)):
            problems.append(f"query {qid}: ranks {[r for r, _, _ in got]}")
            continue
        score = {i: s for i, s in want}
        want_ids = [i for i, _ in want[:k]]
        got_ids = [n for _, n, _ in got]
        edge_tie = want[k - 1][1] - want[k][1] <= TOPK_TIE_TOLERANCE
        for pos, ((_, nid, cos), wid) in enumerate(zip(got, want_ids)):
            true_s = score.get(nid)
            if true_s is None:
                problems.append(f"query {qid}: rank {pos + 1} id {nid} not in the true top-{k + 1}")
                break
            if abs(cos - true_s) > TOPK_TIE_TOLERANCE:
                problems.append(f"query {qid}: rank {pos + 1} cos {cos} != {true_s:.7f}")
                break
            if nid != wid and abs(true_s - score[wid]) > TOPK_TIE_TOLERANCE:
                problems.append(f"query {qid}: rank {pos + 1} id {nid}, want {wid}")
                break
        if len(set(got_ids)) != k:
            problems.append(f"query {qid}: duplicate neighbours {got_ids}")
        elif not edge_tie and set(got_ids) != set(want_ids):
            problems.append(f"query {qid}: neighbour set differs from the exact top-{k}")
        if len(problems) > 20:
            break
    return problems


# -----------------------------------------------------------------------------
# ALB ingest
# -----------------------------------------------------------------------------
def expected_sink(files: dict, delivered: set[str]) -> dict:
    """What the sink must hold after the files in `delivered` have each
    been loaded once (re-sent files replace, never add)."""
    status: dict[str, int] = {}
    method: dict[str, int] = {}
    for name in delivered:
        t = files[name]
        for c, n in t["status"].items():
            status[c] = status.get(c, 0) + n
        for m, n in t["method"].items():
            method[m] = method.get(m, 0) + n
    return {"status": status, "method": method}


def normalise_ts(text: str) -> str:
    """'YYYY-MM-DD HH:MM:SS[.f*]' with the fraction padded to micros."""
    head, _, frac = str(text).partition(".")
    return f"{head}.{(frac or '0')[:6].ljust(6, '0')}"


def check_alb_sink(files: dict, delivered: set[str], per_file: dict, status: dict, method: dict,
                   samples: dict[str, str], sample_want: dict[str, str]) -> list[str]:
    """`per_file` maps file basename -> (rows, sum sent, sum received)
    as read back from the sink; `status`/`method` are the sink's
    histograms; `samples` maps requested_path -> stored timestamp text
    for the sampled rows whose expected New York time is in
    `sample_want` (converted from UTC with zoneinfo)."""
    problems = []
    if set(per_file) != delivered:
        extra = sorted(set(per_file) - delivered)[:3]
        missing = sorted(delivered - set(per_file))[:3]
        problems.append(f"sink files differ: extra {extra} missing {missing}")
    for name in sorted(delivered & set(per_file)):
        t = files[name]
        want = (t["n_valid"], t["sum_sent"], t["sum_received"])
        if tuple(per_file[name]) != want:
            problems.append(f"{name}: rows/sent/received {tuple(per_file[name])} != {want}")
    exp = expected_sink(files, delivered)
    if {str(k): v for k, v in status.items()} != exp["status"]:
        problems.append(f"status histogram {status} != {exp['status']}")
    if dict(method) != exp["method"]:
        problems.append(f"method histogram {method} != {exp['method']}")
    for path, want in sample_want.items():
        got = samples.get(path)
        if got is None:
            problems.append(f"sampled row {path} missing")
        elif normalise_ts(got) != normalise_ts(want):
            problems.append(f"sampled row {path}: timestamp {got} != {want}")
    return problems[:20]


def new_york_wall_clock(utc: dt.datetime) -> str:
    from zoneinfo import ZoneInfo

    return utc.astimezone(ZoneInfo("America/New_York")).replace(tzinfo=None).isoformat(sep=" ")
