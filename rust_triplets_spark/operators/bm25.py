"""BM25 hard-negative mining (SURVEY §2.6 ``Bm25Backend``, reference
``src/sampler/backends/bm25_backend.rs:56-313``).

The reference keeps a per-source in-memory BM25 index (bm25 crate),
truncates the anchor query to 64 tokens (~170 ms → ~10 ms per search,
bm25_backend.rs:213-219), searches top-32, and rotates the top-3 per anchor
(constants.rs:134-154). Here the same semantics are DataFrame math:

- **index** (:func:`build_bm25_index`) = an inverted ``(source, term,
  doc_id, tf)`` postings frame + per-doc lengths + each doc's query terms —
  analyzed once, partitioned by ``source``, incrementally maintainable by
  recomputing only refreshed sources (:func:`refresh_bm25_index`,
  bm25_backend.rs:343-390);
- **scoring** (:func:`bm25_topk_from_index`, the ONE scoring path) =
  per-source stats (N, avgdl) + per-term df/idf, then query terms →
  equi-join postings on (source, term) → groupBy (anchor, doc) sum — the
  classic DAAT-by-join plan. The one-shot :func:`bm25_topk` builds a fresh
  index and serves it;
- **rotation** = ``variant % min(TOP_ROTATE, hits)`` arithmetic instead of
  the reference's per-(anchor, split) cursor state.

Analyzer note: the reference uses the bm25 crate's English analyzer
(stemming + stopwords). This engine defines its own deterministic analyzer
(lowercase, strip non-alphanumerics, whitespace split) — semantic parity,
not bit parity, per the determinism contract.

Scale guards (both engines, part of the spec):
- query truncated to ``BM25_QUERY_TOKEN_LIMIT`` DISTINCT terms;
- stop-terms pruned: df > ``STOP_TERM_DF_RATIO`` × N carries ~zero idf but
  quadratic join cost, so they are dropped from the postings join.

Determinism: each PER-TERM contribution ``idf × tf_part`` is quantized to
the 1e-9 grid as an int64 (``floor(term × QSCALE + 0.5)``, a half-up
round; why floor, at the expression) and the per-(query, doc) score is
the EXACT integer sum of those — order-free, so the score is
bit-identical run-to-run at any parallelism AND across engines (the same
trick the similarity kernels use). A double sum would drift with Spark's
partial-aggregation order: at sf1 a single (qid, did) group landed on
opposite sides of a ``round(·, 9)`` boundary between two otherwise
identical runs — the quantize-THEN-sum form closed exactly that. Residual
cross-engine risk is one ln() ulp landing within half a grid step of a
rounding boundary per distinct (N, df, tf, dl) combination — ~1e-6 per
combination, and combinations are vocabulary-shaped, not hit-shaped.
``score_q`` = integer sum / QSCALE (one exact IEEE division).

Bench note: the synthetic test corpus has a ~31-term vocabulary, so every
(source, term) posting bucket is corpus-scale and the hit join measures at
~15M rows for 5k docs (profiled: analyze 0.3 s, postings 0.7 s, hit join +
aggregation ~6 s of the query's 9 s at sf0.1) — the worst case for DAAT.
Real corpora have million-term vocabularies and power-law-sparse buckets;
the stop-term prune removes exactly the heads that behave like this. The
cost here is data-shape-intrinsic, not a plan defect.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from rust_triplets_spark.functions.caching import cache_scoped

K1 = 1.2
B = 0.75
BM25_QUERY_TOKEN_LIMIT = 64  # src/constants.rs:154
BM25_SEARCH_TOP_K = 32  # src/constants.rs:143
BM25_ROTATE_TOP_K = 3  # src/constants.rs:135
STOP_TERM_DF_RATIO = 0.85
QSCALE = 1_000_000_000  # per-term 1e-9 quantization grid (module doc)


def analyze_col(text_col) -> F.Column:
    """Deterministic analyzer: lowercase, strip non-alnum, drop empties."""
    from rust_triplets_spark.functions.text import tokens_col

    return F.filter(
        F.transform(
            tokens_col(text_col),
            lambda t: F.regexp_replace(F.lower(t), "[^a-z0-9]", ""),
        ),
        lambda t: t != F.lit(""),
    )


def analyze_sql(text_sql: str) -> str:
    from rust_triplets_spark.functions.text import tokens_sql

    return (
        f"list_filter(list_transform({tokens_sql(text_sql)}, "
        f"t -> regexp_replace(lower(t), '[^a-z0-9]', '', 'g')), t -> t <> '')"
    )


def bm25_topk(
    docs: DataFrame,
    id_col: str,
    source_col: str,
    text_col: str,
    split_col: str | None = None,
    k: int = BM25_SEARCH_TOP_K,
) -> DataFrame:
    """One-shot top-k: :func:`bm25_topk_from_index` over
    ``build_bm25_index(docs, …)``. Returns (qid, rank, did, score_q)."""
    index = build_bm25_index(docs, id_col, source_col, text_col, split_col)
    return bm25_topk_from_index(index, k)


def bm25_hard_negative(
    docs: DataFrame,
    id_col: str,
    source_col: str,
    text_col: str,
    split_col: str,
    variant: int = 0,
) -> DataFrame:
    """One hard negative per query doc: rotate the top-3 by ``variant``
    (bm25_backend.rs:250-270 rotation, stateless). Docs with no BM25 hit
    fall back to the deterministic uniform pick (DefaultBackend,
    bm25_backend.rs:279-291) — callers union with ``negative_pick``."""
    top = bm25_topk(docs, id_col, source_col, text_col, split_col, k=BM25_ROTATE_TOP_K)
    n_hits = F.count("*").over(Window.partitionBy("qid"))
    pick = F.pmod(F.lit(variant), F.least(n_hits, F.lit(BM25_ROTATE_TOP_K))) + 1
    return (
        top.withColumn("__pick", pick)
        .where(F.col("rank") == F.col("__pick"))
        .select(F.col("qid").alias("id"), F.col("did").alias("negative_id"),
                F.lit("bm25").alias("tier"))
    )


# ---------------------------------------------------------------------------
# DuckDB twins
# ---------------------------------------------------------------------------

def bm25_topk_sql(
    table: str,
    id_sql: str,
    source_sql: str,
    text_sql: str,
    split_sql: str | None = None,
    k: int = BM25_SEARCH_TOP_K,
) -> str:
    """DuckDB twin of :func:`bm25_topk`, structured EXACTLY like the Spark
    plan: (1) ``dl`` rides along inside the pre-aggregated postings key so no
    per-hit doc-length join exists; (2) stop-terms are pruned and idf is
    attached on the SMALL q_terms side (queries × df_stats × src_stats)
    BEFORE the postings join; (3) split isolation is a join condition on the
    hit join, not a post-aggregation filter. The previous twin joined five
    frames at hit scale with the stop filter inside — at sf1 that
    materialized the full postings self-join and exhausted a 40 GB oracle
    budget; this shape keeps the only hit-scale frame to
    (pruned q_terms × postings) with arithmetic-only payload."""
    split_sel = f", {split_sql} AS split" if split_sql else ""
    split_q = ", split AS qsplit" if split_sql else ""
    split_carry = ", split" if split_sql else ""
    split_grp = ", q.qsplit" if split_sql else ""
    split_on = " AND p.split = q.qsplit" if split_sql else ""
    idf = (
        "ln((CAST(N AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / "
        "(CAST(df AS DOUBLE) + 0.5) + 1.0)"
    )
    tf_part = (
        f"(CAST(p.tf AS DOUBLE) * {K1 + 1.0!r}) / "
        f"(CAST(p.tf AS DOUBLE) + {K1!r} * ({1.0 - B!r} + {B!r} * CAST(p.dl AS DOUBLE) / q.avgdl))"
    )
    return f"""
WITH base AS MATERIALIZED (
  SELECT CAST({id_sql} AS BIGINT) AS did, {source_sql} AS source{split_sel},
         {analyze_sql(text_sql)} AS terms
  FROM {table}
), postings AS MATERIALIZED (
  SELECT source, t.term, did, dl{split_carry}, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT did, source{split_carry}, CAST(len(terms) AS BIGINT) AS dl, terms FROM base),
       UNNEST(terms) AS t(term)
  GROUP BY source, t.term, did, dl{split_carry}
), src_stats AS (
  SELECT source, CAST(count(*) AS BIGINT) AS N,
         avg(CAST(len(terms) AS DOUBLE)) AS avgdl
  FROM base GROUP BY source
), df_stats AS (
  SELECT source, term, CAST(count(*) AS BIGINT) AS df
  FROM postings GROUP BY source, term
), queries AS (
  SELECT did AS qid, source{split_q}, t.term
  FROM (SELECT did, source{split_carry},
               list_distinct(list_slice(terms, 1, {BM25_QUERY_TOKEN_LIMIT})) AS qterms
        FROM base),
       UNNEST(qterms) AS t(term)
), q_terms AS MATERIALIZED (
  SELECT q.qid, q.source, q.term{split_grp}, ss.avgdl, {idf} AS idf
  FROM queries q
  JOIN df_stats dfs ON dfs.source = q.source AND dfs.term = q.term
  JOIN src_stats ss ON ss.source = q.source
  WHERE CAST(df AS DOUBLE) <= {STOP_TERM_DF_RATIO!r} * CAST(N AS DOUBLE)
), scored AS (
  SELECT q.qid, p.did,
         sum(CAST(floor(q.idf * {tf_part} * {float(QSCALE)!r} + 0.5) AS BIGINT)) AS score
  FROM q_terms q
  JOIN postings p ON p.source = q.source AND p.term = q.term{split_on}
  WHERE q.qid <> p.did
  GROUP BY q.qid, p.did
)
SELECT qid, CAST(rank AS BIGINT) AS rank, did, score_q FROM (
  SELECT qid, did, CAST(score AS DOUBLE) / {float(QSCALE)!r} AS score_q,
         row_number() OVER (PARTITION BY qid ORDER BY score DESC, did) AS rank
  FROM scored
)
WHERE rank <= {k}
"""


def bm25_hard_negative_sql(
    table: str,
    id_sql: str,
    source_sql: str,
    text_sql: str,
    split_sql: str,
    variant: int = 0,
) -> str:
    topk = bm25_topk_sql(table, id_sql, source_sql, text_sql, split_sql, k=BM25_ROTATE_TOP_K)
    return f"""
WITH topk AS MATERIALIZED ({topk})
SELECT qid AS id, did AS negative_id, 'bm25' AS tier
FROM (
  SELECT *, ({variant} % least(count(*) OVER (PARTITION BY qid), {BM25_ROTATE_TOP_K})) + 1 AS pick
  FROM topk
)
WHERE rank = pick
"""


# ---------------------------------------------------------------------------
# incremental per-source index maintenance (bm25_backend.rs:343-390: the
# reference rebuilds only the refreshed sources' in-memory indexes and
# keeps the rest; here the index is three source-partitioned frames, so a
# refresh is an anti-filter + union per frame — the non-refreshed
# remainder is never re-analyzed)
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class Bm25Index:
    """Materialized BM25 index state, everything partitioned by ``source``:

    - ``postings``: (source, term, did, dl, tf[, split]) inverted lists;
    - ``doclens``: (source, did, dl[, split]) — kept separately so docs
      whose analyzed text is empty still count toward N/avgdl;
    - ``qterms``: (source, qid, term[, split]) — each doc's first
      ``BM25_QUERY_TOKEN_LIMIT`` distinct terms (the anchor-query side).

    Frames may be freshly-built DataFrames or reads of persisted parquet
    (``spark.read.parquet`` on a dir written with ``partitionBy(source)``)
    — refresh and scoring only rely on the schemas above.
    """

    postings: DataFrame
    doclens: DataFrame
    qterms: DataFrame
    split_isolated: bool = False


def build_bm25_index(
    docs: DataFrame,
    id_col: str,
    source_col: str,
    text_col: str,
    split_col: str | None = None,
) -> Bm25Index:
    """Analyze ``docs`` once and materialize the three index frames."""
    base = docs.select(
        F.col(id_col).cast("long").alias("did"),
        F.col(source_col).alias("source"),
        *([F.col(split_col).alias("split")] if split_col else []),
        analyze_col(text_col).alias("__terms"),
    )
    # base feeds postings, doclens and qterms — analyze once (scoped cache:
    # a repeat call releases the previous generation's blocks)
    base = cache_scoped(base, "bm25.index.base")
    split_cols = ["split"] if split_col else []
    # dl rides along in the postings key (functionally determined by did):
    # the per-hit frame then never joins a doc-length side at all. split
    # rides along too, so split isolation applies AT the hit-scale join
    # instead of after aggregation (~sum(split_share²) of the rows)
    postings = (
        base.select(
            "did", "source", *split_cols,
            F.size("__terms").cast("long").alias("dl"),
            F.explode("__terms").alias("term"),
        )
        .groupBy("source", "term", "did", "dl", *split_cols)
        .agg(F.count("*").cast("long").alias("tf"))
    )
    doclens = base.select(
        "source", "did", F.size("__terms").cast("long").alias("dl"), *split_cols
    )
    qterms = base.select(
        F.col("source"),
        F.col("did").alias("qid"),
        *split_cols,
        # slice THEN distinct: the resulting term SET is order-independent
        # (DuckDB's list_distinct does not preserve order, so distinct-then-
        # slice would not be cross-engine stable)
        F.explode(
            F.array_distinct(F.slice("__terms", 1, BM25_QUERY_TOKEN_LIMIT))
        ).alias("term"),
    )
    return Bm25Index(postings, doclens, qterms, split_isolated=bool(split_col))


def refresh_bm25_index(
    index: Bm25Index,
    refreshed_docs: DataFrame,
    refreshed_sources: list[str],
    id_col: str,
    source_col: str,
    text_col: str,
    split_col: str | None = None,
) -> Bm25Index:
    """Rebuild ONLY ``refreshed_sources`` from ``refreshed_docs`` and union
    with the untouched remainder of ``index`` — the reference's per-source
    incremental maintenance. The remainder frames are filtered, never
    re-analyzed; at scale (index persisted partitioned-by-source) the
    source filter is partition pruning, so refresh cost is proportional to
    the refreshed sources only."""
    if bool(split_col) != index.split_isolated:
        raise ValueError("split_col must match how the index was built")
    fresh = build_bm25_index(
        refreshed_docs.where(F.col(source_col).isin(refreshed_sources)),
        id_col, source_col, text_col, split_col,
    )
    # NULL passes through explicitly: NOT isin(...) is NULL (not true)
    # for a NULL source key under three-valued logic, so a bare negation
    # would silently delete NULL-source rows from the kept remainder on
    # every refresh (same fix as refresh_minhash_signature_index)
    keep = F.col("source").isNull() | ~F.col("source").isin(refreshed_sources)
    return Bm25Index(
        index.postings.where(keep).unionByName(fresh.postings),
        index.doclens.where(keep).unionByName(fresh.doclens),
        index.qterms.where(keep).unionByName(fresh.qterms),
        split_isolated=index.split_isolated,
    )


def bm25_topk_from_index(index: Bm25Index, k: int = BM25_SEARCH_TOP_K) -> DataFrame:
    """Top-k BM25 candidates per query doc, scored from ``index`` — THE
    BM25 scoring path (:func:`bm25_topk` is this over a fresh index).
    Self excluded; split-isolated when the index was built with a split
    column (the backend's wrong-split drop, bm25_backend.rs:243-249).
    Returns (qid, rank, did, score_q), ranked on the exact integer score."""
    split = index.split_isolated
    # the postings frame feeds BOTH df_stats and the hit join: for a
    # freshly-built (or freshly-refreshed) index its lineage is the whole
    # analyze→explode→groupBy pipeline, which would otherwise execute
    # once per consumer per action (persisted-parquet indexes are cheap
    # either way; the cache is scoped and self-evicting)
    index_postings = cache_scoped(index.postings, "bm25.index.postings")
    src_stats = index.doclens.groupBy("source").agg(
        F.count("*").cast("long").alias("N"),
        F.avg(F.col("dl").cast("double")).alias("avgdl"),
    )
    df_stats = index_postings.groupBy("source", "term").agg(
        F.count("*").cast("long").alias("df")
    )
    # idf inputs attach to the SMALL per-query-term side, and stop terms are
    # pruned BEFORE the big postings join — the hit-scale frame (query-term ×
    # postings-list) is joined exactly once and carries only arithmetic
    q_terms = (
        index.qterms.join(df_stats, ["source", "term"], "inner")
        .join(F.broadcast(src_stats), "source")
        .where(
            F.col("df").cast("double")
            <= F.lit(STOP_TERM_DF_RATIO) * F.col("N").cast("double")
        )
    )
    idf = F.log(
        (F.col("N").cast("double") - F.col("df").cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
        + F.lit(1.0)
    )
    q_terms = q_terms.withColumn("__idf", idf)
    if split:
        q_terms = q_terms.withColumnRenamed("split", "qsplit")
        postings = index_postings.withColumnRenamed("split", "__psplit")
    else:
        postings = index_postings
    joined = q_terms.join(postings, ["source", "term"], "inner")
    if split:
        joined = joined.where(F.col("qsplit") == F.col("__psplit"))
    tf_part = (
        F.col("tf").cast("double") * F.lit(K1 + 1.0)
    ) / (
        F.col("tf").cast("double")
        + F.lit(K1) * (F.lit(1.0 - B) + F.lit(B) * F.col("dl").cast("double") / F.col("avgdl"))
    )
    scores = (
        # per-term quantize THEN exact integer sum — order-free. floor(x +
        # 0.5), NOT F.round: Spark's Round on doubles allocates a BigDecimal
        # PER ROW (measured ~1.5x on the hit-scale join at sf0.1); floor is
        # codegen-native. Contributions are strictly positive, and the twin
        # uses the identical floor form, so the two engines shift together
        # on any half-grid edge.
        joined.withColumn(
            "__s",
            F.floor(F.col("__idf") * tf_part * F.lit(float(QSCALE)) + F.lit(0.5)).cast("long")
        )
        .groupBy("qid", "did")
        .agg(F.sum("__s").alias("score"))
        .where(F.col("qid") != F.col("did"))
    )
    score_q = F.col("score").cast("double") / F.lit(float(QSCALE))
    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("did").asc())
    return (
        scores.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", F.col("rank").cast("long").alias("rank"), "did",
                score_q.alias("score_q"))
    )
