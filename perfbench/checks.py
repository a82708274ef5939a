"""Plain-Python correctness checks over what the workloads wrote.

Nothing here imports the package: the checks restate the published
contracts (the 31-bit split hash, BM25 with its stop-term rule, the chunk
key format) and read the sinks with pyarrow.
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter, defaultdict

import numpy as np
import pyarrow.dataset as ds

M31 = 2147483647
MULT_A = 2654435761
MULT_B = 1103515245
INC_B = 12345

K1, B = 1.2, 0.75
QUERY_TERMS = 64
STOP_TERM_DF_RATIO = 0.85
QSCALE = 1_000_000_000
SCORE_TOL = 1e-6
TOP_K = 32
HOLDOUT_SEED, HOLDOUT_MOD = 13, 50
NGRAM_N = 13
SHINGLE_N = 3


def hash31(x: int, seed: int) -> int:
    """The engine's published 31-bit integer hash (every intermediate
    stays below 2^63)."""
    s = (seed * MULT_A) % M31
    h0 = ((x % M31) + M31 + s) % M31
    h1 = (h0 * MULT_B + INC_B) % M31
    h2 = h1 ^ (h1 >> 15)
    return (h2 * MULT_A) % M31


def is_holdout(doc_id: int) -> bool:
    """The curation funnel's eval holdout: ``hash31(id, 13) % 50 == 0``."""
    return hash31(doc_id, HOLDOUT_SEED) % HOLDOUT_MOD == 0


def split_label(doc_id: int, seed: int, ratios=(0.8, 0.1, 0.1)) -> str:
    u = hash31(doc_id, seed) / float(M31)
    if u < ratios[0]:
        return "train"
    return "validation" if u < ratios[0] + ratios[1] else "test"


class Checks:
    """Named pass/fail results; a failed check counts in ``failed``."""

    def __init__(self):
        self.results: list[tuple[str, bool, str]] = []

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.results.append((name, bool(ok), "" if ok else detail))
        return bool(ok)

    @property
    def failed(self) -> list[tuple[str, bool, str]]:
        return [r for r in self.results if not r[1]]


def read_rows(path: str) -> list[dict]:
    return ds.dataset(path, format="parquet", partitioning="hive").to_table().to_pylist()


def fingerprint(rows: list[dict], keys: tuple[str, ...]) -> str:
    h = hashlib.sha256()
    for t in sorted(tuple(r[k] for k in keys) for r in rows):
        h.update(repr(t).encode())
    return h.hexdigest()[:16]


def corpus_view(cols: dict, refresh: dict | None = None) -> dict[int, tuple[str, str]]:
    """doc_id → (source, text), with ``refresh`` texts replacing base ones."""
    view = {int(i): (str(s), str(t)) for i, s, t in zip(cols["doc_id"], cols["src"], cols["text"])}
    if refresh is not None:
        for i, s, t in zip(refresh["doc_id"], refresh["src"], refresh["text"]):
            view[int(i)] = (str(s), str(t))
    return view


# ---------------------------------------------------------------------------
# triplets_chunked
# ---------------------------------------------------------------------------

def _key_record(chunk_key: str) -> int:
    return int(chunk_key.split("|", 1)[0])


def check_triplet_shards(checks: Checks, tag: str, rows: list[dict],
                         corpus: dict[int, tuple[str, str]], split_seed: int,
                         window: int) -> None:
    """Pairs written as training shards: one positive and one negative row
    per anchor; the anchors are the records longer than one window, every
    one of them except records whose text another record repeats (their
    negative may carry the same text, and such a triplet is dropped);
    anchor and positive
    are distinct windows of the anchor's own record; the negative is
    another record of the same split, and of the same source whenever that
    (source, split) pool has another record; shard positions are dense."""
    pool = Counter((src, split_label(i, split_seed)) for i, (src, text) in corpus.items() if text.split())
    by_anchor: dict[int, dict[str, dict]] = defaultdict(dict)
    for r in rows:
        by_anchor[r["anchor_id"]][r["label"]] = r
    checks.check(f"{tag}.two_rows_per_anchor",
                 len(rows) == 2 * len(by_anchor)
                 and all(set(v) == {"positive", "negative"} for v in by_anchor.values()),
                 f"{len(rows)} rows for {len(by_anchor)} anchors")
    long_recs = {i for i, (_, text) in corpus.items() if len(text.split()) > window}
    copies = Counter(text for _, text in corpus.values())
    excused = {i for i in long_recs if copies[corpus[i][1]] > 1}
    missing = long_recs - excused - set(by_anchor)
    checks.check(f"{tag}.anchors_are_long_records",
                 set(by_anchor) <= long_recs and not missing,
                 f"{len(by_anchor)} anchors for {len(long_recs)} records longer than {window} "
                 f"tokens, {len(missing)} of them without a duplicate text missing, first "
                 f"{sorted(missing)[:3]}")
    bad = Counter()
    for aid, sides in by_anchor.items():
        pos, neg = sides.get("positive"), sides.get("negative")
        if pos is None or neg is None:
            continue
        src, text = corpus[aid]
        padded = f" {text} "
        split = split_label(aid, split_seed)
        if not (_key_record(pos["anchor_key"]) == aid == _key_record(pos["other_key"])
                and pos["anchor_key"] != pos["other_key"]):
            bad["positive_same_record"] += 1
        if not (f" {pos['anchor_text']} " in padded and f" {pos['other_text']} " in padded):
            bad["windows_in_record"] += 1
        nid = _key_record(neg["other_key"])
        if nid == aid or neg["other_text"] == neg["anchor_text"]:
            bad["negative_not_anchor"] += 1
        if not (pos["split"] == split == split_label(nid, split_seed)):
            bad["negative_same_split"] += 1
        if pool[(src, split)] > 1 and corpus[nid][0] != src:
            bad["negative_same_source"] += 1
    for name in ("positive_same_record", "windows_in_record", "negative_not_anchor",
                 "negative_same_split", "negative_same_source"):
        checks.check(f"{tag}.{name}", bad[name] == 0, f"{bad[name]} anchors violate it")
    shards: dict[int, list[int]] = defaultdict(list)
    for r in rows:
        shards[r["shard"]].append(r["pos"])
    checks.check(f"{tag}.dense_shard_positions",
                 all(sorted(p) == list(range(len(p))) for p in shards.values()),
                 "a shard's positions are not 0..n-1")


# ---------------------------------------------------------------------------
# bm25_hard_negatives
# ---------------------------------------------------------------------------

def _analyze(text: str) -> list[str]:
    out = []
    for tok in text.split():
        t = "".join(c for c in tok.lower() if c.isascii() and c.isalnum())
        if t:
            out.append(t)
    return out


class BruteBm25:
    """BM25 by enumeration: per-source N, avgdl and df over every split;
    candidates are the query's own source and split; the query is its
    first 64 terms, deduplicated; terms with df > 0.85 N are stop terms;
    each term's contribution is rounded to the 1e-9 grid before summing."""

    def __init__(self, corpus: dict[int, tuple[str, str]], split_seed: int):
        self.split = {i: split_label(i, split_seed) for i in corpus}
        self.src = {i: s for i, (s, _) in corpus.items()}
        self.terms = {i: _analyze(t) for i, (_, t) in corpus.items()}
        self.tf = {i: Counter(t) for i, t in self.terms.items()}
        n, dl_sum = Counter(), Counter()
        self.df: dict[str, Counter] = defaultdict(Counter)
        self.members: dict[tuple[str, str], list[int]] = defaultdict(list)
        for i, terms in self.terms.items():
            s = self.src[i]
            n[s] += 1
            dl_sum[s] += len(terms)
            self.df[s].update(set(terms))
            self.members[(s, self.split[i])].append(i)
        self.n = n
        self.avgdl = {s: dl_sum[s] / n[s] for s in n}

    def scores(self, qid: int) -> dict[int, float]:
        """Score of every doc in ``qid``'s pool that shares a kept term."""
        s = self.src[qid]
        big_n, avgdl = self.n[s], self.avgdl[s]
        kept = [t for t in dict.fromkeys(self.terms[qid][:QUERY_TERMS])
                if self.df[s][t] <= STOP_TERM_DF_RATIO * big_n]
        out: dict[int, int] = {}
        for did in self.members[(s, self.split[qid])]:
            if did == qid:
                continue
            tf, dl = self.tf[did], len(self.terms[did])
            total, hit = 0, False
            for t in kept:
                f = tf.get(t, 0)
                if not f:
                    continue
                df = self.df[s][t]
                idf = math.log((big_n - df + 0.5) / (df + 0.5) + 1.0)
                part = (f * (K1 + 1.0)) / (f + K1 * ((1.0 - B) + B * dl / avgdl))
                total += math.floor(idf * part * QSCALE + 0.5)
                hit = True
            if hit:
                out[did] = total
        return {d: v / QSCALE for d, v in out.items()}


def check_bm25_hits(checks: Checks, tag: str, rows: list[dict],
                    corpus: dict[int, tuple[str, str]], split_seed: int,
                    sample_seed: int, n_sample: int, sample_ids: list[int]) -> None:
    """Served rows ``(qid, rank, did, score_q)``: at most 32 per query,
    ranked 1..n with no self hit, and on a seeded sample of queries the
    top-3 agrees with brute-force BM25 (ties at equal score may order
    either way)."""
    brute = BruteBm25(corpus, split_seed)
    hits: dict[int, list[dict]] = defaultdict(list)
    for r in rows:
        hits[r["qid"]].append(r)
    checks.check(f"{tag}.ranks_dense_no_self",
                 all(sorted(r["rank"] for r in v) == list(range(1, len(v) + 1))
                     and len(v) <= TOP_K and all(r["did"] != q for r in v)
                     for q, v in hits.items()),
                 "ranks not 1..n, more than 32 hits, or a self hit")
    rng = np.random.default_rng([sample_seed, 64])
    ids = sorted(corpus)
    sample = list(sample_ids) + [int(x) for x in rng.choice(ids, size=n_sample, replace=False)]
    mismatches = []
    for q in sample:
        scores = brute.scores(q)
        want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
        got = [(r["did"], r["score_q"]) for r in sorted(hits.get(q, []), key=lambda r: r["rank"])[:3]]
        ok = len(got) == len(want) and all(
            abs(scores.get(gd, -1.0) - gs) <= SCORE_TOL and abs(gs - ws) <= SCORE_TOL
            for (gd, gs), (_, ws) in zip(got, want))
        if not ok:
            mismatches.append((q, got, want))
    checks.check(f"{tag}.brute_force_top3", not mismatches,
                 f"{len(mismatches)}/{len(sample)} queries differ, first {mismatches[:1]}")


# ---------------------------------------------------------------------------
# trainer feed (triplets_chunked)
# ---------------------------------------------------------------------------

def check_feed(checks: Checks, tag: str, epoch: list[dict], resume_step: int,
               resumed: list[dict], members: dict[str, set], batch_size: int) -> None:
    """Batches pulled over one epoch, each ``{"idx", "position", "id",
    "source"}`` with per-row lists: the epoch is ``n_sources × max_source_len``
    dense positions in batches of ``batch_size`` (the last may be short);
    every cycle of ``n_sources`` positions visits each source once, and
    each source's rows cover its members (smaller sources repeat); a resume
    at step k yields exactly batches k… of the uninterrupted epoch."""
    n_src = len(members)
    length = n_src * max(len(m) for m in members.values())
    positions = [p for b in epoch for p in b["position"]]
    checks.check(f"{tag}.epoch_dense",
                 positions == list(range(length)),
                 f"{len(positions)} positions, want 0..{length - 1} in order")
    sizes = [len(b["id"]) for b in epoch]
    checks.check(f"{tag}.batch_sizes",
                 [b["idx"] for b in epoch] == list(range(len(epoch)))
                 and all(s == batch_size for s in sizes[:-1]) and 0 < sizes[-1] <= batch_size,
                 f"batch sizes {sizes[:3]}…{sizes[-2:]}")
    rows = [(p, i, s) for b in epoch for p, i, s in zip(b["position"], b["id"], b["source"])]
    cycles = defaultdict(set)
    seen = defaultdict(set)
    for p, i, s in rows:
        cycles[p // n_src].add(s)
        seen[s].add(int(i))
    checks.check(f"{tag}.round_robin",
                 all(len(c) == n_src for c in cycles.values()),
                 "a cycle of positions repeats a source")
    checks.check(f"{tag}.covers_sources",
                 dict(seen) == members,
                 "a source's rows differ from its members")
    checks.check(f"{tag}.resume_matches", resumed == epoch[resume_step:],
                 f"resume at {resume_step} gave {len(resumed)} batches, want {len(epoch) - resume_step}")


# ---------------------------------------------------------------------------
# curation stages (bm25_hard_negatives, traced run)
# ---------------------------------------------------------------------------

def ngrams(tokens: list[str], n: int) -> set[tuple[str, ...]]:
    return {tuple(tokens[i:i + n]) for i in range(len(tokens) - n + 1)}


def jaccard(a: str, b: str, n: int = SHINGLE_N) -> float:
    sa, sb = ngrams(a.split(), n), ngrams(b.split(), n)
    return len(sa & sb) / max(1, len(sa | sb))


def check_curation(checks: Checks, tag: str, stages: list[int], survivors: list[int],
                   corpus: dict[int, tuple[str, str]]) -> None:
    """Stage counts ``raw, quality, decontam, dedup`` never increase;
    ``raw`` is every doc outside the eval holdout; no two dedup survivors
    have the same text and none shares a 13-gram with the holdout."""
    checks.check(f"{tag}.counts_never_increase",
                 all(a >= b for a, b in zip(stages, stages[1:])), f"counts {stages}")
    raw = sum(1 for i in corpus if not is_holdout(i))
    checks.check(f"{tag}.raw_is_non_holdout", stages[:1] == [raw], f"raw {stages[:1]} != {raw}")
    texts = Counter(corpus[i][1] for i in survivors)
    checks.check(f"{tag}.survivors_distinct", all(c == 1 for c in texts.values()),
                 f"{sum(c - 1 for c in texts.values() if c > 1)} repeated survivor texts")
    held = set()
    for i, (_, text) in corpus.items():
        if is_holdout(i):
            held |= ngrams(text.split(), NGRAM_N)
    leaked = [i for i in survivors if ngrams(corpus[i][1].split(), NGRAM_N) & held]
    checks.check(f"{tag}.no_holdout_ngram", not leaked,
                 f"{len(leaked)} survivors share a 13-gram with the holdout, first {leaked[:3]}")
