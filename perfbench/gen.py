"""Seeded input generators for the four benchmark workloads.

Every generator takes the seed as an argument, writes its inputs and its
ground truth under one directory, and returns a manifest. The same seed
gives byte-identical inputs, so a directory that already holds a
complete manifest is reused (the cache lives outside the timed region
and outside set-up). Ground truth is computed here, by plain Python and
numpy, never by the engine under test.

Sizes are fixed per workload and independent of the seed, so every
seed asks the engine for the same amount of work.
"""

from __future__ import annotations

import datetime as dt
import gzip
import hashlib
import json
import os
import random
from pathlib import Path

import numpy as np

from checks import jaccard, new_york_wall_clock, shingle_set

MANIFEST = "manifest.json"

# --- alb_ingest sizing -------------------------------------------------------
ALB_LINES_PER_FILE = 1500
ALB_NEW_FILES_PER_DELIVERY = 4
ALB_RESENT_FILES_PER_DELIVERY = 2
ALB_FRESH_DELIVERIES = 8  # after these, deliveries only re-send files
ALB_SCHEDULE_LEN = 200
ALB_TS_SAMPLES_PER_FILE = 4

# --- corpus_dedup sizing -----------------------------------------------------
CORPUS_BACKGROUND_DOCS = 800
CORPUS_FAMILIES = 36
VOCAB_SIZE = 4000

# --- vector_search sizing ----------------------------------------------------
VEC_DIM = 64
VEC_CLUSTERS = 24
VEC_CORPUS = 1000
VEC_QUERY_ID_BASE = 1_000_000_000  # corpus ids stay below this

# --- stream_dedup sizing -----------------------------------------------------
STREAM_DROP_DOCS = 300
STREAM_FAMILIES_PER_DROP = 8
STREAM_ID_STRIDE = 10_000  # drop k holds ids [k*stride, k*stride + DROP_DOCS)


def _write_json_atomic(path: Path, obj) -> None:
    tmp = path.with_suffix(".tmp")
    tmp.write_text(json.dumps(obj))
    os.replace(tmp, path)


# Inputs and truth are a function of the seed and of this generator's code
# (and of the checks' shingling it imports): a changed generator gets a new
# cache directory (runner.py) and never reuses another version's files.
VERSION = hashlib.sha256(b"".join((Path(__file__).parent / f).read_bytes()
                                  for f in ("gen.py", "checks.py"))).hexdigest()[:12]


def _cached(out: Path):
    """The cached manifest, if this generator version made it."""
    m = out / MANIFEST
    if m.exists():
        got = json.loads(m.read_text())
        if got.get("version") == VERSION:
            return got
    return None


# -----------------------------------------------------------------------------
# alb_ingest: gz ALB access-log files plus a delivery schedule
# -----------------------------------------------------------------------------
USER_AGENTS = [
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/124.0.0.0 Safari/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.4 Safari/605.1.15",
    "Mozilla/5.0 (X11; Linux x86_64; rv:125.0) Gecko/20100101 Firefox/125.0",
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/124.0.0.0 Safari/537.36 Edg/124.0.2478.67",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_4 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.4 Mobile/15E148 Safari/604.1",
    "Mozilla/5.0 (Linux; Android 14; Pixel 8) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/124.0.0.0 Mobile Safari/537.36",
    "Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)",
    "Mozilla/5.0 (compatible; bingbot/2.0; +http://www.bing.com/bingbot.htm)",
    "curl/8.5.0",
    "python-requests/2.31.0",
    "okhttp/4.12.0",
    "ELB-HealthChecker/2.0",
    "Go-http-client/1.1",
    "Wget/1.21.4",
    "PostmanRuntime/7.37.3",
    "-",
]
METHODS = ["GET", "POST", "PUT", "DELETE", "HEAD", "PATCH", "OPTIONS"]
METHOD_P = [0.62, 0.2, 0.06, 0.04, 0.04, 0.02, 0.02]
STATUSES = ["200", "201", "204", "301", "304", "400", "403", "404", "499", "500", "502", "503", "504", "-"]
STATUS_P = [0.55, 0.05, 0.03, 0.04, 0.06, 0.04, 0.03, 0.08, 0.02, 0.03, 0.02, 0.02, 0.02, 0.01]
HOSTS = ["https://api.example.com:443", "http://www.example.org:80", "https://shop.example.net:443"]
RESOURCES = ["users", "orders", "items", "search", "static/img", "v2/cart", "health"]
# Days on both sides of the 2025 US DST changes, so the UTC -> New York
# offset in the sink varies between -4 and -5 hours.
ALB_DAYS = [dt.datetime(2025, 3, 8, tzinfo=dt.timezone.utc), dt.datetime(2025, 3, 9, tzinfo=dt.timezone.utc),
            dt.datetime(2025, 11, 1, tzinfo=dt.timezone.utc), dt.datetime(2025, 11, 2, tzinfo=dt.timezone.utc),
            dt.datetime(2025, 7, 14, tzinfo=dt.timezone.utc)]
EPOCH = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
BAD_TIMESTAMPS = ["2025-13-01T10:00:00.000000Z", "not-a-timestamp", "2025/05/26 10:00:00"]


def _to_int(tok: str) -> int:
    """Reference coercion: only all-digit tokens parse, anything else is 0."""
    return int(tok) if tok.isdigit() else 0


def _alb_file(rng: np.random.Generator, file_idx: int) -> tuple[str, dict]:
    n = ALB_LINES_PER_FILE
    kind = rng.choice(4, size=n, p=[0.94, 0.02, 0.02, 0.02])  # ok, short, bad ts, blank
    day = rng.integers(0, len(ALB_DAYS), n)
    secs = rng.integers(0, 86400, n)
    micros = rng.integers(0, 1_000_000, n)
    plain_ts = rng.random(n) < 0.1
    methods = rng.choice(len(METHODS), n, p=METHOD_P)
    elb = rng.choice(len(STATUSES), n, p=STATUS_P)
    target_dash = rng.random(n) < 0.05
    recv = rng.integers(0, 5000, n)
    sent = rng.integers(0, 200_000, n)
    sent_dash = rng.random(n) < 0.01
    ua = rng.integers(0, len(USER_AGENTS), n)
    host = rng.integers(0, len(HOSTS), n)
    res = rng.integers(0, len(RESOURCES), n)
    with_query = rng.random(n) < 0.3
    ip = rng.integers(1, 255, (n, 4))
    port = rng.integers(1024, 65535, n)
    times = rng.integers(0, 3000, (n, 3))
    bad_ts = rng.integers(0, len(BAD_TIMESTAMPS), n)
    truncate_at = rng.integers(1, 14, n)

    epoch_us = (np.array([int(d.timestamp()) for d in ALB_DAYS])[day] + secs) * 1_000_000 + micros
    epoch_us = np.where(plain_ts, epoch_us - micros, epoch_us)
    stamps = np.datetime_as_string(epoch_us.astype("datetime64[us]"), unit="us")
    plain = np.datetime_as_string((epoch_us // 1_000_000).astype("datetime64[s]"), unit="s")

    lines: list[str] = []
    truth = {"n_valid": 0, "sum_sent": 0, "sum_received": 0, "status": {}, "method": {}, "samples": []}
    sample_every = max(1, n // ALB_TS_SAMPLES_PER_FILE)
    for i in range(n):
        created = stamps[i] + "Z"
        ts = plain[i] + "Z" if plain_ts[i] else created
        if kind[i] == 2:
            ts = BAD_TIMESTAMPS[bad_ts[i]]
        method = METHODS[methods[i]]
        path = f"/{RESOURCES[res[i]]}/f{file_idx}l{i}"
        url = HOSTS[host[i]] + path + (f"?page={i % 7}&q=x" if with_query[i] else "")
        st = STATUSES[elb[i]]
        tst = "-" if (target_dash[i] or st == "-") else st
        sent_tok = "-" if sent_dash[i] else str(int(sent[i]))
        t = times[i] / 1000.0
        tokens = [
            "h2" if host[i] == 0 else "https",
            ts,
            "app/bench-alb/50dc6c495c0c9188",
            f"{ip[i, 0]}.{ip[i, 1]}.{ip[i, 2]}.{ip[i, 3]}:{port[i]}",
            "-" if tst == "-" else f"10.0.{ip[i, 1]}.{ip[i, 2]}:80",
            f"{t[0]:.3f}", f"{t[1]:.3f}" if tst != "-" else "-1", f"{t[2]:.3f}",
            st, tst, str(int(recv[i])), sent_tok,
            f'"{method} {url} HTTP/2.0"',
            f'"{USER_AGENTS[ua[i]]}"',
            "ECDHE-RSA-AES128-GCM-SHA256", "TLSv1.2",
            "arn:aws:elasticloadbalancing:us-east-1:123456789012:targetgroup/bench/73e2d6bc24d8a067",
            f'"Root=1-58337262-{file_idx:06d}{i:06d}"', '"api.example.com"', '"arn:cert"', "0",
            created, '"forward"', '"-"', '"-"', '"10.0.0.1:80"', '"200"', '"-"', '"-"',
        ]
        if kind[i] == 1:
            lines.append(" ".join(tokens[: truncate_at[i]]))
            continue
        if kind[i] == 3:
            lines.append("")
            continue
        lines.append(" ".join(tokens))
        if kind[i] == 2:
            continue
        truth["n_valid"] += 1
        truth["sum_sent"] += _to_int(sent_tok)
        truth["sum_received"] += int(recv[i])
        code = str(_to_int(st))
        truth["status"][code] = truth["status"].get(code, 0) + 1
        truth["method"][method] = truth["method"].get(method, 0) + 1
        if i % sample_every == 0:
            when = EPOCH + dt.timedelta(microseconds=int(epoch_us[i]))
            truth["samples"].append([path, new_york_wall_clock(when)])
    return "\n".join(lines) + "\n", truth


def alb_inputs(seed: int, out: Path) -> dict:
    got = _cached(out)
    if got is not None:
        return got
    logs = out / "logs"
    logs.mkdir(parents=True, exist_ok=True)
    n_files = ALB_FRESH_DELIVERIES * ALB_NEW_FILES_PER_DELIVERY
    files: dict[str, dict] = {}
    for f in range(n_files):
        rng = np.random.default_rng([seed, 1, f])
        text, truth = _alb_file(rng, f)
        name = f"123456789012_elasticloadbalancing_us-east-1_app.bench.{seed}_{f:04d}.log.gz"
        with gzip.open(logs / name, "wt", compresslevel=1) as fh:
            fh.write(text)
        files[name] = truth
    names = sorted(files)
    pick = random.Random(seed * 7919 + 1)
    schedule = []
    for k in range(ALB_SCHEDULE_LEN):
        if k < ALB_FRESH_DELIVERIES:
            fresh = names[k * ALB_NEW_FILES_PER_DELIVERY:(k + 1) * ALB_NEW_FILES_PER_DELIVERY]
            loaded = names[: k * ALB_NEW_FILES_PER_DELIVERY]
            resend = pick.sample(loaded, min(len(loaded), ALB_RESENT_FILES_PER_DELIVERY))
        else:
            fresh = []
            resend = pick.sample(names, ALB_NEW_FILES_PER_DELIVERY + ALB_RESENT_FILES_PER_DELIVERY)
        schedule.append({"new": fresh, "resent": resend})
    manifest = {"workload": "alb_ingest", "seed": seed, "version": VERSION, "log_dir": str(logs), "files": files,
                "schedule": schedule}
    _write_json_atomic(out / MANIFEST, manifest)
    return manifest


# -----------------------------------------------------------------------------
# text corpora (corpus_dedup, stream_dedup)
# -----------------------------------------------------------------------------
def vocabulary(seed: int) -> list[str]:
    rnd = random.Random(seed * 31 + 5)
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = set()
    while len(words) < VOCAB_SIZE:
        words.add("".join(rnd.choice(letters) for _ in range(rnd.randint(3, 9))))
    return sorted(words)


def log_uniform_lengths(rnd: random.Random, n: int, lo: int, hi: int) -> list[int]:
    """n lengths at the n quantile midpoints of a log-uniform [lo, hi],
    in seeded order: the multiset, and so the total work, is the same
    for every seed."""
    out = [int(round(lo * (hi / lo) ** ((j + 0.5) / n))) for j in range(n)]
    rnd.shuffle(out)
    return out


def _render(rnd: random.Random, words: list[str]) -> str:
    """Join words with mostly single spaces; a few capitals, tabs and
    newlines exercise the lowercase/whitespace tokenisation."""
    out = []
    for w in words:
        r = rnd.random()
        if r < 0.03:
            w = w.capitalize()
        out.append(w)
        out.append("\n" if r > 0.985 else ("\t" if r > 0.975 else " "))
    return "".join(out[:-1])


def _random_words(rnd: random.Random, vocab: list[str], n: int) -> list[str]:
    return [rnd.choice(vocab) for _ in range(n)]


def _edit(rnd: random.Random, vocab: list[str], words: list[str], rate: float) -> list[str]:
    """Substitute round(rate * n) words (at least one), at most one per
    block of three, so each substitution removes its own three 3-grams
    and the variant's Jaccard to the base is set by the rate, not by
    chance: about (1 - 3r) / (1 + 3r)."""
    out = list(words)
    blocks = len(words) // 3
    for b in rnd.sample(range(blocks), min(blocks, max(1, round(rate * len(words))))):
        pos = 3 * b + 1
        while out[pos] == words[pos]:
            out[pos] = rnd.choice(vocab)
    return out


# Each family has one variant above the 0.6 threshold and two below it.
# Substituting 2% of the words gives Jaccard ~0.85-0.89 to the base and
# keeping the first 90% gives ~0.89; substituting 15% or 25% gives ~0.38
# or ~0.14 and keeping half ~0.5. Variant-to-variant pairs stay below
# 0.6. Truth pairs therefore sit far above the threshold, where the LSH
# S-curve (16 bands of 4 rows) catches a pair with probability > 0.999,
# so the recall floor is not decided by borderline pairs. The two recipe
# sets alternate between families and the above-threshold variant
# rotates through the three positions (in the stream: the three drops).
RECIPE_SETS = [
    [("edit", 0.02), ("edit", 0.15), ("keep", 0.5)],
    [("keep", 0.9), ("edit", 0.15), ("edit", 0.25)],
]


def family_recipes(f: int) -> list[tuple[str, float]]:
    """The three variant recipes of family f, in landing order."""
    recipes = RECIPE_SETS[(f // 3) % 2]
    r = f % 3
    return [recipes[(j - r) % 3] for j in range(3)]


def _variant(rnd: random.Random, vocab: list[str], base: list[str], recipe) -> list[str]:
    kind, x = recipe
    if kind == "edit":
        return _edit(rnd, vocab, base, x)
    return base[: max(3, int(len(base) * x))]


def family_truth_pairs(members: dict[int, str]) -> list[list]:
    """All member pairs of one family with Jaccard >= 0.6, by the
    independent pure-Python Jaccard."""
    ids = sorted(members)
    sets = {i: shingle_set(members[i]) for i in ids}
    pairs = []
    for x, a in enumerate(ids):
        for b in ids[x + 1:]:
            j = jaccard(sets[a], sets[b])
            if j >= 0.6:
                pairs.append([a, b])
    return pairs


def _write_docs(path: Path, ids: list[int], texts: list[str]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = path.with_name("." + path.name + ".tmp")
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())}), tmp)
    os.replace(tmp, path)


def corpus_inputs(seed: int, out: Path) -> dict:
    got = _cached(out)
    if got is not None:
        return got
    out.mkdir(parents=True, exist_ok=True)
    vocab = vocabulary(seed)
    rnd = random.Random(seed * 1_000_003 + 11)
    texts: list[str] = []
    families: list[list[int]] = []
    truth: list[list[int]] = []
    for n in log_uniform_lengths(rnd, CORPUS_BACKGROUND_DOCS, 2, 900):
        texts.append(_render(rnd, _random_words(rnd, vocab, n)))
    for f, n in enumerate(log_uniform_lengths(rnd, CORPUS_FAMILIES, 40, 700)):
        base = _random_words(rnd, vocab, n)
        fam = {len(texts): _render(rnd, base)}
        texts.append(fam[len(texts)])
        for recipe in family_recipes(f):
            t = _render(rnd, _variant(rnd, vocab, base, recipe))
            fam[len(texts)] = t
            texts.append(t)
        families.append(sorted(fam))
        truth.extend(family_truth_pairs(fam))
    # Shuffle ids so families are not contiguous.
    perm = list(range(len(texts)))
    rnd.shuffle(perm)
    new_id = {old: new for new, old in enumerate(perm)}
    ids = list(range(len(texts)))
    shuffled = [texts[perm[i]] for i in ids]
    _write_docs(out / "docs.parquet", ids, shuffled)
    manifest = {
        "workload": "corpus_dedup",
        "seed": seed,
        "version": VERSION,
        "docs": str(out / "docs.parquet"),
        "n_docs": len(ids),
        "families": [sorted(new_id[m] for m in f) for f in families],
        "truth_pairs": sorted(sorted([new_id[a], new_id[b]]) for a, b in truth),
    }
    _write_json_atomic(out / MANIFEST, manifest)
    return manifest


def stream_drop(seed: int, k: int, vocab: list[str]) -> tuple[list[int], list[str], dict[int, int]]:
    """Documents of drop k: background docs plus the members of recent
    families due in this drop. A family's base lands in drop f and its
    variants in drops f, f+1 and f+2, so duplicates arrive both within
    one drop and across drops. Returns (ids, texts, id -> family)."""
    members: list[tuple[str, int]] = []
    for src in (k - 2, k - 1, k):
        if src < 0:
            continue
        lengths = log_uniform_lengths(random.Random(f"{seed}/{src}/lengths"), STREAM_FAMILIES_PER_DROP, 40, 400)
        for fam, n in enumerate(lengths):
            frnd = random.Random(f"{seed}/{src}/{fam}")
            base = _random_words(frnd, vocab, n)
            fam_id = src * STREAM_FAMILIES_PER_DROP + fam
            if src == k:
                members.append((_render(frnd, base), fam_id))
            # variant j lands j drops after its base
            recipe = family_recipes(fam_id)[k - src]
            vrnd = random.Random(f"{seed}/{src}/{fam}/{k - src}")
            members.append((_render(vrnd, _variant(vrnd, vocab, base, recipe)), fam_id))
    rnd = random.Random(f"{seed}/drop/{k}")
    docs = list(members)
    for n in log_uniform_lengths(rnd, STREAM_DROP_DOCS - len(docs), 3, 400):
        docs.append((_render(rnd, _random_words(rnd, vocab, n)), -1))
    rnd.shuffle(docs)
    ids = [k * STREAM_ID_STRIDE + i for i in range(len(docs))]
    fams = {i: f for i, (_, f) in zip(ids, docs) if f >= 0}
    return ids, [t for t, _ in docs], fams


def stream_inputs(seed: int, out: Path) -> dict:
    """Drops are made on demand (stream_drop); the manifest only pins
    the layout so every drop file is a pure function of (seed, k)."""
    got = _cached(out)
    if got is not None:
        return got
    (out / "drops").mkdir(parents=True, exist_ok=True)
    manifest = {"workload": "stream_dedup", "seed": seed, "version": VERSION, "drop_dir": str(out / "drops")}
    _write_json_atomic(out / MANIFEST, manifest)
    return manifest


def stream_drop_file(manifest: dict, k: int, vocab: list[str]) -> tuple[Path, list[int], list[str], dict[int, int]]:
    ids, texts, fams = stream_drop(manifest["seed"], k, vocab)
    path = Path(manifest["drop_dir"]) / f"drop-{k:05d}.parquet"
    if not path.exists():
        _write_docs(path, ids, texts)
    return path, ids, texts, fams


# -----------------------------------------------------------------------------
# vector_search: clustered embeddings plus fresh query vectors
# -----------------------------------------------------------------------------
def _vec_centers(seed: int) -> np.ndarray:
    return np.random.default_rng([seed, 3]).normal(size=(VEC_CLUSTERS, VEC_DIM))


def vector_inputs(seed: int, out: Path) -> dict:
    got = _cached(out)
    if got is not None:
        return got
    import pyarrow as pa
    import pyarrow.parquet as pq

    out.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng([seed, 4])
    centers = _vec_centers(seed)
    spread = rng.permutation(np.linspace(0.25, 0.55, VEC_CLUSTERS))
    lab = rng.integers(0, VEC_CLUSTERS, VEC_CORPUS)
    x = centers[lab] + spread[lab, None] * rng.normal(size=(VEC_CORPUS, VEC_DIM))
    np.save(out / "corpus.npy", x)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.reshape(-1), pa.float64()), VEC_DIM)
    table = pa.table({"vec_id": pa.array(np.arange(VEC_CORPUS), pa.int64()),
                      "embedding": emb.cast(pa.list_(pa.float64()))})
    pq.write_table(table, out / ".emb.tmp")
    os.replace(out / ".emb.tmp", out / "embeddings.parquet")
    manifest = {"workload": "vector_search", "seed": seed, "version": VERSION,
                "embeddings": str(out / "embeddings.parquet"), "corpus_npy": str(out / "corpus.npy")}
    _write_json_atomic(out / MANIFEST, manifest)
    return manifest


def query_vectors(seed: int, request: int, n: int) -> tuple[list[int], np.ndarray]:
    """Fresh query vectors of one request, ids above every corpus id."""
    rng = np.random.default_rng([seed, 5, request])
    centers = _vec_centers(seed)
    lab = rng.integers(0, VEC_CLUSTERS, n)
    q = centers[lab] + 0.5 * rng.normal(size=(n, VEC_DIM))
    ids = [VEC_QUERY_ID_BASE + request * 64 + i for i in range(n)]
    return ids, q


GENERATORS = {
    "alb_ingest": alb_inputs,
    "corpus_dedup": corpus_inputs,
    "vector_search": vector_inputs,
    "stream_dedup": stream_inputs,
}
