"""The benchmark's workloads, each a pipeline through the package's public
functions: an untraced pass (``job``), a traced pass that materializes
each layer in turn (``traced_job``), and the plain-Python checks of what
the passes wrote (``check``).

Program settings are fixed here; only the corpus depends on ``--seed``.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

import numpy as np
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rust_triplets_spark.functions.caching import release_all
from rust_triplets_spark.operators.bm25 import (
    BM25_SEARCH_TOP_K,
    STOP_TERM_DF_RATIO,
    build_bm25_index,
    bm25_topk_from_index,
    refresh_bm25_index,
)
from rust_triplets_spark.operators.chunking import ChunkingStrategy, chunk_sections
from rust_triplets_spark.operators.decontam import decontaminate, eval_holdout_pred_col
from rust_triplets_spark.operators.dedup import minhash_dedup_keep, minhash_lsh_pairs
from rust_triplets_spark.operators.dsir import dsir_importance_weights
from rust_triplets_spark.operators.epoch import epoch_order
from rust_triplets_spark.operators.gopher import gopher_pass_col, gopher_quality_signals
from rust_triplets_spark.operators.negatives import negative_pick
from rust_triplets_spark.operators.splits import split_label_col
from rust_triplets_spark.operators.triplets import (
    TripletRecipe,
    assemble_triplets,
    pairs_from_triplets,
)
from rust_triplets_spark.plans.batches import Checkpoint, prefetched_batch_iterator
from rust_triplets_spark.plans.telemetry import PrefetcherStats
from rust_triplets_spark.sinks.shards import write_training_shards
from rust_triplets_spark.sources.jsonl_source import JsonlSourceConfig, read_jsonl_records

import checks as ck
from corpus import CorpusParams
from probes import Tracer

PACKAGE_SEED = 42  # the program's own seed: splits, picks, shard order
CHUNKING = ChunkingStrategy(max_window_tokens=256, overlap_tokens=(32,))
RECIPE = TripletRecipe("chunk_pair", negative_strategy="wrong_article")
N_SHARDS = 8
BM25_CHECK_QUERIES = 40
FEED_BATCH = 128
FEED_EPOCH = 0
CURATION_MIN_WORDS = 10  # curation_funnel's gate settings
CURATION_MIN_STOP_HITS = 1
DEDUP_JACCARD = 0.6  # about where 8 bands of 4 MinHashes start to collide
WARMUP_PASSES = 1
# The warm-up corpus has the measured corpus's shape and size but its own
# seed, so nothing the warm-up leaves behind matches measured work; being
# fixed, it is generated once per checkout.
WARMUP_SEED = 2_147_483_647


@dataclass
class Inputs:
    """Paths and plain-Python columns of one generated corpus."""

    params: CorpusParams
    seed: int
    base_path: str
    refresh_path: str
    base: dict
    refresh: dict

    @property
    def refresh_source(self) -> str:
        return str(self.refresh["src"][0])


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def read_records(spark: SparkSession, path: str) -> DataFrame:
    """The ``sources`` layer: the package's JSONL reader, ids mapped back
    to the generator's integers."""
    recs = read_jsonl_records(spark, JsonlSourceConfig(
        "bench", path, id_field="doc_id", source_field="src"))
    return recs.select(F.substring_index("id", "::", -1).cast("long").alias("doc_id"),
                       "source", "text")


def with_split(df: DataFrame) -> DataFrame:
    return df.withColumn("split", split_label_col(F.col("doc_id"), PACKAGE_SEED))


def parquet_rows(path: str) -> int:
    return ds.dataset(path, format="parquet", partitioning="hive").count_rows()


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


# ---------------------------------------------------------------------------
# trainer feed
# ---------------------------------------------------------------------------

@dataclass
class Pull:
    """What a consumer saw: the batches as plain lists, the time to the
    first one, and the total time spent waiting for batches."""

    batches: list[dict]
    first_s: float
    wait_s: float


def feed_frame(spark: SparkSession, shards: str) -> DataFrame:
    """The trainer's view of the training shards: one row per pair, its
    shard as the source the epoch interleaves."""
    return spark.read.parquet(shards).select(
        "pair_id", F.format_string("shard%d", F.col("shard")).alias("source"))


def pull(df: DataFrame, step: int, stats: PrefetcherStats | None = None) -> Pull:
    """A closed-loop consumer that does no work per batch, pulling every
    batch of the epoch from ``step`` on."""
    checkpoint = Checkpoint(seed=PACKAGE_SEED, epoch=FEED_EPOCH, step=step)
    batches, wait, first = [], 0.0, 0.0
    start = time.perf_counter()
    with prefetched_batch_iterator(df, "pair_id", "source", checkpoint, batch_size=FEED_BATCH,
                                   id_is_string=False, stats=stats) as it:
        while True:
            t = time.perf_counter()
            item = next(it, None)
            wait += time.perf_counter() - t
            if item is None:
                break
            if not batches:
                first = time.perf_counter() - start
            idx, pdf = item
            batches.append({"idx": int(idx), "position": pdf["position"].tolist(),
                            "id": pdf["id"].tolist(), "source": pdf["source"].tolist()})
    return Pull(batches, first, wait)


def resume_step(seed: int, n_batches: int) -> int:
    """The seeded mid-epoch checkpoint a resume starts from."""
    return int(np.random.default_rng([seed, FEED_BATCH]).integers(1, n_batches)) if n_batches > 1 else 0


# ---------------------------------------------------------------------------
# triplets_chunked
# ---------------------------------------------------------------------------

class TripletsChunked:
    """Chunked (anchor, positive, negative) triplets → pairs → training
    shards. The traced run also has a trainer pull 128-row batches over
    one epoch of the shards, then again from a seeded mid-epoch
    checkpoint."""

    name = "triplets_chunked"
    params = CorpusParams(
        n_docs=4000, len_median=400, len_sigma=0.6, len_min=40, len_max=4000,
        vocab=30000, zipf_s=1.05, stop_share=0.25, n_sources=6, source_skew=0.5,
        dup_rate=0.002,
    )

    def __init__(self, spark: SparkSession, out: str):
        self.spark = spark
        self.out = out
        self.epoch = self.resumed = None  # the feed's pulls, set by a traced run
        self.resume_step = 0

    @staticmethod
    def _pairs(trip: DataFrame) -> DataFrame:
        pid = F.col("anchor_id") * 2 + (F.col("label") == "negative").cast("long")
        return pairs_from_triplets(trip, RECIPE.negative_strategy).withColumn("pair_id", pid)

    def job(self, inp: Inputs) -> None:
        trip = assemble_triplets(read_records(self.spark, inp.base_path), "doc_id", "source",
                                 "text", RECIPE, CHUNKING, seed=PACKAGE_SEED)
        write_training_shards(self._pairs(trip), self.out, "pair_id", N_SHARDS, seed=PACKAGE_SEED)

    def _feed(self, seed: int, stats: PrefetcherStats | None = None) -> None:
        df = feed_frame(self.spark, self.out)
        self.epoch = pull(df, 0, stats)
        self.resume_step = resume_step(seed, len(self.epoch.batches))
        self.resumed = pull(df, self.resume_step, stats)

    def rows_out(self) -> int:
        return parquet_rows(self.out)

    def traced_job(self, inp: Inputs, tr: Tracer) -> dict:
        """Each layer materialized in turn. Chunking and the negative pick
        run standalone as children of ``triplets``: ``assemble_triplets``
        re-runs both inside, so its self time subtracts them. The trainer
        feed runs after the pass; the epoch order is likewise a standalone
        child of ``batches``."""
        spark = self.spark
        with tr.span("pass"):
            with tr.span("sources"):
                recs = read_records(spark, inp.base_path)
                noop(recs)
            recs = recs.persist()
            n_recs = recs.count()
            with tr.span("chunking", parent="triplets"):
                chunks = chunk_sections(
                    recs.select(F.col("doc_id").alias("record_id"),
                                F.lit(0).alias("section_idx"), "text"), CHUNKING)
                noop(chunks)
            pool = with_split(recs.select("doc_id", "source"))
            with tr.span("negatives", parent="triplets"):
                noop(negative_pick(pool, "doc_id", "source", "split", RECIPE.negative_strategy,
                                   seed=PACKAGE_SEED, id_is_string=False))
            with tr.span("triplets"):
                trip = assemble_triplets(recs, "doc_id", "source", "text", RECIPE, CHUNKING,
                                         seed=PACKAGE_SEED).persist()
                n_trip = trip.count()
            with tr.span("shards"):
                write_training_shards(self._pairs(trip), self.out, "pair_id", N_SHARDS,
                                      seed=PACKAGE_SEED)
        stats = PrefetcherStats()
        with tr.span("epoch", parent="batches"):
            noop(epoch_order(feed_frame(spark, self.out), "pair_id", "source", FEED_EPOCH,
                             PACKAGE_SEED, id_is_string=False))
        with tr.span("batches"):
            self._feed(inp.seed, stats)
        windows = chunks.where(F.col("view_kind") == "window").agg(
            F.count("*").alias("n"), F.countDistinct("record_id").alias("recs")).first()
        fallback = trip.where(F.col("tier") == "fallback_same_split").count()
        trip.unpersist()
        recs.unpersist()
        return {
            "sources.read_s": tr.self_time("sources"),
            "chunking.self_s": tr.self_time("chunking"),
            "chunking.chunks": windows["n"],
            "chunking.windows_per_record": windows["n"] / max(1, windows["recs"]),
            "triplets.self_s": tr.self_time("triplets"),
            "triplets.yield": n_trip / max(1, n_recs),
            "negatives.self_s": tr.self_time("negatives"),
            "negatives.fallback_share": fallback / max(1, n_trip),
            "shards.self_s": tr.self_time("shards"),
            "shards.bytes": dir_bytes(self.out),
            "epoch.order_s": tr.self_time("epoch"),
            "batches.self_s": tr.self_time("batches"),
            "batches.consumer_wait_s": self.epoch.wait_s + self.resumed.wait_s,
            "batches.first_batch_s": self.epoch.first_s,
            "batches.resume_first_batch_s": self.resumed.first_s,
            "batches.produced": stats.produced,
            "batches.errors": stats.errors,
        }

    def check(self, checks: ck.Checks, inp: Inputs) -> dict[str, str]:
        rows = ck.read_rows(self.out)
        ck.check_triplet_shards(checks, "shards", rows, ck.corpus_view(inp.base), PACKAGE_SEED,
                                CHUNKING.max_window_tokens)
        fps = {"shards": ck.fingerprint(rows, ("pair_id", "shard", "pos", "anchor_key", "other_key"))}
        if self.epoch is not None:
            members: dict[str, set] = {}
            for r in rows:
                members.setdefault(f"shard{r['shard']}", set()).add(r["pair_id"])
            ck.check_feed(checks, "feed", self.epoch.batches, self.resume_step,
                          self.resumed.batches, members, FEED_BATCH)
            order = [{"position": p, "id": i} for b in self.epoch.batches
                     for p, i in zip(b["position"], b["id"])]
            fps["feed"] = ck.fingerprint(order, ("position", "id"))
        return fps


# ---------------------------------------------------------------------------
# bm25_hard_negatives
# ---------------------------------------------------------------------------

class Bm25HardNegatives:
    """Split-isolated BM25 index → top-32 hard-negative candidates per doc
    to one parquet sink; then one source is refreshed in the index
    (``refresh_bm25_index``) and the top-32 served again to a second
    sink. The traced run also runs the curation funnel's stages over the
    corpus."""

    name = "bm25_hard_negatives"
    params = CorpusParams(
        n_docs=2000, len_median=40, len_sigma=0.5, len_min=6, len_max=200,
        vocab=20000, zipf_s=1.1, stop_share=0.3, n_sources=12, source_skew=1.5,
        dup_rate=0.02, near_dup_rate=0.05, holdout_overlap=0.02,
    )

    def __init__(self, spark: SparkSession, out: str):
        self.spark = spark
        self.out = {p: os.path.join(out, p) for p in ("build", "refresh")}
        self.curation = None  # stage counts and survivors, set by a traced run

    @staticmethod
    def _hits(top: DataFrame) -> DataFrame:
        return top.select("qid", "rank", "did", "score_q")

    def job(self, inp: Inputs) -> None:
        docs = with_split(read_records(self.spark, inp.base_path))
        index = build_bm25_index(docs, "doc_id", "source", "text", "split")
        top = bm25_topk_from_index(index, k=BM25_SEARCH_TOP_K)
        self._hits(top).write.mode("overwrite").parquet(self.out["build"])
        fresh = with_split(read_records(self.spark, inp.refresh_path))
        index = refresh_bm25_index(index, fresh, [inp.refresh_source],
                                   "doc_id", "source", "text", "split")
        top = bm25_topk_from_index(index, k=BM25_SEARCH_TOP_K)
        self._hits(top).write.mode("overwrite").parquet(self.out["refresh"])

    def rows_out(self) -> int:
        return parquet_rows(self.out["build"])

    def traced_job(self, inp: Inputs, tr: Tracer) -> dict:
        spark = self.spark
        with tr.span("pass"):
            with tr.span("sources"):
                docs = with_split(read_records(spark, inp.base_path))
                noop(docs)
            docs = docs.persist()
            n_docs = docs.count()
            with tr.span("bm25.index"):
                index = build_bm25_index(docs, "doc_id", "source", "text", "split")
                for frame in (index.postings, index.doclens, index.qterms):
                    noop(frame)
            with tr.span("bm25.topk"):
                top = bm25_topk_from_index(index, k=BM25_SEARCH_TOP_K).persist()
                top.count()
            self._hits(top).write.mode("overwrite").parquet(self.out["build"])
            with tr.span("bm25.refresh"):
                fresh = with_split(read_records(spark, inp.refresh_path))
                index2 = refresh_bm25_index(index, fresh, [inp.refresh_source],
                                            "doc_id", "source", "text", "split")
                top2 = bm25_topk_from_index(index2, k=BM25_SEARCH_TOP_K).persist()
                top2.count()
            self._hits(top2).write.mode("overwrite").parquet(self.out["refresh"])
        curation = self._curation(inp, tr)

        df_stats = index.postings.groupBy("source", "term").agg(F.count("*").alias("df"))
        n_src = index.doclens.groupBy("source").agg(F.count("*").alias("N"))
        pruned = F.col("df") > F.lit(STOP_TERM_DF_RATIO) * F.col("N")
        q = index.qterms.join(df_stats, ["source", "term"]).join(n_src, "source").agg(
            F.count("*").alias("terms"),
            F.sum(pruned.cast("long")).alias("pruned"),
            F.sum(F.when(~pruned, F.col("df")).otherwise(0)).alias("hit_rows"),
        ).first()
        hit_queries = top.select("qid").distinct().count()
        postings_rows = index.postings.count()
        top.unpersist()
        top2.unpersist()
        docs.unpersist()
        return {
            "sources.read_s": tr.self_time("sources"),
            "bm25.index_s": tr.self_time("bm25.index"),
            "bm25.topk_s": tr.self_time("bm25.topk"),
            "bm25.refresh_self_s": tr.self_time("bm25.refresh"),
            "bm25.postings_rows": postings_rows,
            "bm25.hit_rows": q["hit_rows"],
            "bm25.pruned_term_share": q["pruned"] / max(1, q["terms"]),
            "bm25.hit_query_share": hit_queries / max(1, n_docs),
            **curation,
        }

    def _curation(self, inp: Inputs, tr: Tracer) -> dict:
        """The stages ``curation_funnel`` composes, run one by one with the
        funnel's gate settings, each on the cached survivors of the one
        before, so a span holds one operator's work. (The funnel as one
        plan would run every stage a second time.)"""
        docs = read_records(self.spark, inp.base_path).select(
            F.col("doc_id").alias("id"), F.col("text").alias("__text"), "source")
        held = eval_holdout_pred_col("id")
        raw = docs.where(~held).persist()
        n_raw = raw.count()
        with tr.span("gopher"):
            passed = gopher_quality_signals(raw, "id", "__text").where(gopher_pass_col(
                CURATION_MIN_WORDS, min_stop_hits=CURATION_MIN_STOP_HITS)).select("id").persist()
            passed.count()
        quality = raw.join(passed, "id").persist()
        n_quality = quality.count()
        with tr.span("decontam"):
            report = decontaminate(quality, docs.where(held), "id", "__text").persist()
            contaminated = report.where("contaminated").count()
        clean = quality.join(report.where(~F.col("contaminated")).select("id"), "id").persist()
        n_clean = clean.count()
        with tr.span("dedup"):
            pairs = minhash_lsh_pairs(clean, "id", "__text").persist()
            keep = minhash_dedup_keep(clean, "id", "__text", pairs=pairs).persist()
            keep.count()
        kept = clean.join(keep.where("keep").select("id"), "id").persist()
        survivors = sorted(r["id"] for r in kept.select("id").collect())
        with tr.span("dsir"):
            target = docs.where(F.substring("source", -1, 1).cast("int") % 2 == 0)  # even sources
            noop(dsir_importance_weights(kept, target, "id", "__text"))
        candidates = pairs.collect()
        corpus = ck.corpus_view(inp.base)
        near = sum(ck.jaccard(corpus[p["a"]][1], corpus[p["b"]][1]) >= DEDUP_JACCARD
                   for p in candidates)
        self.curation = {"stages": [n_raw, n_quality, n_clean, len(survivors)],
                         "survivors": survivors}
        for frame in (kept, keep, pairs, clean, report, quality, passed, raw):
            frame.unpersist()
        return {
            "gopher.self_s": tr.self_time("gopher"),
            "gopher.pass_share": n_quality / max(1, n_raw),
            "decontam.self_s": tr.self_time("decontam"),
            "decontam.contaminated": contaminated,
            "dedup.self_s": tr.self_time("dedup"),
            "dedup.candidate_pairs": len(candidates),
            "dedup.pair_precision": near / max(1, len(candidates)),
            "dedup.kept_share": len(survivors) / max(1, n_clean),
            "dsir.self_s": tr.self_time("dsir"),
        }

    def check(self, checks: ck.Checks, inp: Inputs) -> dict[str, str]:
        fps = {}
        refreshed = [int(i) for i in inp.refresh["doc_id"][:BM25_CHECK_QUERIES // 4]]
        for part, corpus, extra in (("build", ck.corpus_view(inp.base), []),
                                    ("refresh", ck.corpus_view(inp.base, inp.refresh), refreshed)):
            rows = ck.read_rows(self.out[part])
            ck.check_bm25_hits(checks, part, rows, corpus, PACKAGE_SEED,
                               sample_seed=inp.seed, n_sample=BM25_CHECK_QUERIES,
                               sample_ids=extra)
            fps[part] = ck.fingerprint(rows, ("qid", "rank", "did"))
        cur = self.curation
        if cur is not None:
            ck.check_curation(checks, "curation", cur["stages"], cur["survivors"],
                              ck.corpus_view(inp.base))
            fps["curation"] = ck.fingerprint([{"id": i} for i in cur["survivors"]], ("id",))
        return fps


WORKLOADS = {w.name: w for w in (TripletsChunked, Bm25HardNegatives)}


def fresh_pass(spark: SparkSession) -> None:
    """Every pass starts with no cached data from the one before."""
    release_all()
    spark.catalog.clearCache()
