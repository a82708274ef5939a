"""Seeded synthetic multi-source corpus for the benchmark.

The generator is vectorized with NumPy and depends on nothing in the
package: the program under test only ever sees the JSONL file it writes.
Every shape property the workloads vary is a field of :class:`CorpusParams`;
the output is a pure function of ``(params, seed)`` and is cached on disk
under that key, so a repeated run with the same seed skips generation.

Output rows (one JSON object per line): ``doc_id`` (int), ``src`` (source
name) and ``text`` (space-separated lower-case words). Generated words are
six or more letters built from consonant-vowel-consonant syllables, so
they never collide with the short stop words mixed in.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import asdict, dataclass
from statistics import NormalDist

import numpy as np

from checks import is_holdout

STOP_WORDS = ("the", "be", "to", "of", "and", "that", "have", "with", "a", "in", "is", "it")
GENERATOR_VERSION = 4  # bump when the output for a given (params, seed) changes
NEAR_DUP_EDIT = 0.03  # ~0.8 shingle Jaccard to the original
REFRESH_SOURCE = 1  # the source whose docs a refresh replaces
HOLDOUT_SPAN = 16  # tokens copied from a holdout doc: several shared 13-grams


@dataclass(frozen=True)
class CorpusParams:
    n_docs: int
    len_median: float  # lognormal median token count
    len_sigma: float  # lognormal shape
    len_min: int
    len_max: int
    vocab: int
    zipf_s: float  # rank-frequency exponent of the word distribution
    stop_share: float  # share of tokens replaced by stop words
    n_sources: int
    source_skew: float  # Zipf exponent over source sizes; 0 is uniform
    dup_rate: float = 0.0  # exact copies of another doc's text
    near_dup_rate: float = 0.0  # copies with NEAR_DUP_EDIT of their tokens replaced
    holdout_overlap: float = 0.0  # docs that open with HOLDOUT_SPAN tokens of a holdout doc


def _vocabulary(n: int) -> np.ndarray:
    """``n`` distinct two-syllable words."""
    cons = np.array(list("bcdfghjklmnprstvwxyz"))
    vows = np.array(list("aeiou"))
    syl = np.array([c1 + v + c2 for c1 in cons for v in vows for c2 in cons])  # 2000
    if n > syl.size ** 2:
        raise ValueError(f"at most {syl.size ** 2} words, asked for {n}")
    i = np.arange(n)
    return np.char.add(syl[i % syl.size], syl[(i // syl.size + 7 * i) % syl.size])


def _token_docs(rng, p: CorpusParams, src: np.ndarray, lens: np.ndarray) -> list[np.ndarray]:
    """Word ids per doc: Zipf ranks mapped through a per-source
    permutation (sources differ in which words are frequent), with a
    ``stop_share`` of tokens replaced by stop words, themselves Zipf
    distributed so the commonest appear in nearly every document."""
    rank_w = np.arange(1, p.vocab + 1, dtype=float) ** -p.zipf_s
    total = int(lens.sum())
    ranks = rng.choice(p.vocab, size=total, p=rank_w / rank_w.sum())
    perms = np.argsort(np.random.default_rng(p.vocab).random((p.n_sources, p.vocab)), axis=1)
    tok = perms[np.repeat(src, lens), ranks]
    stop = rng.random(total) < p.stop_share
    stop_w = 1.0 / np.arange(1, len(STOP_WORDS) + 1)
    tok[stop] = p.vocab + rng.choice(len(STOP_WORDS), size=int(stop.sum()), p=stop_w / stop_w.sum())
    offs = np.concatenate([[0], np.cumsum(lens)])
    return [tok[offs[i]:offs[i + 1]] for i in range(src.size)]


def _lengths(rng, p: CorpusParams, n: int) -> np.ndarray:
    """Stratified lognormal lengths: the quantiles at (i + 0.5) / n in a
    seeded order, so every seed gets the same length multiset and only
    which document has which length varies."""
    z = np.array([NormalDist().inv_cdf((i + 0.5) / n) for i in range(n)])
    lens = np.exp(np.log(p.len_median) + p.len_sigma * z)
    return rng.permutation(np.clip(np.rint(lens), p.len_min, p.len_max).astype(np.int64))


def _sources(rng, p: CorpusParams, n: int) -> np.ndarray:
    """Source of each doc: Zipf(``source_skew``) shares, rounded to exact
    counts (largest remainder) and shuffled, so source sizes do not vary
    with the seed."""
    w = np.arange(1, p.n_sources + 1, dtype=float) ** -p.source_skew
    share = w / w.sum() * n
    counts = np.floor(share).astype(np.int64)
    counts[np.argsort(counts - share)[: n - counts.sum()]] += 1
    return rng.permutation(np.repeat(np.arange(p.n_sources), counts))


def generate(params: CorpusParams, seed: int) -> dict[str, dict[str, np.ndarray]]:
    """``{"base": cols, "refresh": cols}``: the corpus and a refreshed
    version of source ``REFRESH_SOURCE`` (same ids, new texts). Columns
    are ``doc_id, src, text`` as NumPy arrays."""
    p = params
    rng = np.random.default_rng([seed, 20231017])
    n = p.n_docs

    src = _sources(rng, p, n)
    lens = _lengths(rng, p, n)
    docs = _token_docs(rng, p, src, lens)

    ids = np.arange(1, n + 1, dtype=np.int64) * 7 + 3
    # copies: exact duplicates, then near-duplicates, of other originals
    order = rng.permutation(n)
    n_dup, n_near = int(p.dup_rate * n), int(p.near_dup_rate * n)
    dup_t, near_t = order[:n_dup], order[n_dup:n_dup + n_near]
    originals = order[n_dup + n_near:]
    for t, o in zip(dup_t, rng.choice(originals, size=n_dup)):
        docs[t] = docs[o].copy()
        src[t], lens[t] = src[o], lens[o]
    for t, o in zip(near_t, rng.choice(originals, size=n_near)):
        d = docs[o].copy()
        edit = rng.random(d.size) < NEAR_DUP_EDIT
        d[edit] = rng.integers(0, p.vocab, size=int(edit.sum()))
        docs[t] = d
        src[t], lens[t] = src[o], lens[o]
    # eval-holdout overlap: originals that take their opening span from a
    # holdout doc (see checks.is_holdout) long enough to give one
    held = np.array([is_holdout(int(i)) for i in ids])
    donors = np.flatnonzero(held & (lens >= HOLDOUT_SPAN))
    takers = originals[~held[originals]][: int(p.holdout_overlap * n)]
    if donors.size:
        for t, h in zip(takers, rng.choice(donors, size=takers.size)):
            docs[t] = np.concatenate([docs[h][:HOLDOUT_SPAN], docs[t][HOLDOUT_SPAN:]])

    words = _vocabulary(p.vocab + len(STOP_WORDS))
    words[p.vocab:] = STOP_WORDS
    src_names = np.array([f"src{k:02d}" for k in range(p.n_sources)])
    base = {"doc_id": ids, "src": src_names[src],
            "text": np.array([" ".join(words[d]) for d in docs], dtype=object)}

    sel = np.flatnonzero(src == REFRESH_SOURCE)
    new_docs = _token_docs(rng, p, src[sel], _lengths(rng, p, sel.size))
    refresh = {"doc_id": ids[sel], "src": src_names[src[sel]],
               "text": np.array([" ".join(words[d]) for d in new_docs], dtype=object)}
    return {"base": base, "refresh": refresh}


def cache_key(params: CorpusParams, seed: int) -> str:
    blob = json.dumps({"seed": seed, "generator": GENERATOR_VERSION, **asdict(params)},
                      sort_keys=True)
    return hashlib.sha1(blob.encode()).hexdigest()[:16]


def _write_jsonl(path: str, cols: dict) -> None:
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        for i in range(cols["doc_id"].size):
            f.write(json.dumps({"doc_id": int(cols["doc_id"][i]), "src": str(cols["src"][i]),
                                "text": cols["text"][i]}))
            f.write("\n")
    os.replace(tmp, path)


def _read_jsonl(path: str) -> dict:
    cols = {"doc_id": [], "src": [], "text": []}
    with open(path) as f:
        for line in f:
            row = json.loads(line)
            for k in cols:
                cols[k].append(row[k])
    return {k: np.array(v, dtype=np.int64 if k == "doc_id" else object) for k, v in cols.items()}


def load_or_generate(params: CorpusParams, seed: int, cache_dir: str) -> dict[str, tuple[str, dict]]:
    """``{"base": (path, cols), "refresh": (path, cols)}`` for the cached
    JSONL corpus of ``(params, seed)``, generated and published atomically
    on a miss."""
    os.makedirs(cache_dir, exist_ok=True)
    stem = os.path.join(cache_dir, f"corpus-{cache_key(params, seed)}")
    paths = {part: f"{stem}-{part}.jsonl" for part in ("base", "refresh")}
    if all(os.path.exists(p) for p in paths.values()):
        return {part: (path, _read_jsonl(path)) for part, path in paths.items()}
    out = generate(params, seed)
    for part, path in paths.items():
        _write_jsonl(path, out[part])
    return {part: (paths[part], out[part]) for part in paths}
