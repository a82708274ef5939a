"""Negative-sampling strategies (SURVEY §2.6) — the reference's "query"
layer: ``WrongArticle``, ``WrongPublicationDate``, ``QuestionAnswerMismatch``
(``src/sampler/mod.rs:995-1151``), each with the same-split fallback tier.

Design: **one hierarchically-ordered ranked frame per strategy**, not one
ranking pipeline per tier. The tier pool keys nest —
``(source, split, datek) ⊂ (source, split) ⊂ (split)`` — so ranking every
record ONCE per split in the hierarchical order
``(source_hash, source, datek, record_hash, id)`` makes every tier's pool a
*contiguous rank range*:

- per-(source, datek) ranges serve the same-date tier,
- per-source ranges serve the same-source tier,
- the whole split serves the fallback tier.

Range starts/sizes come from one tiny aggregate (broadcast back), tier
choice + uniform pick become pure row-local arithmetic (pick a slot in the
chosen range, skipping self / the anchor's own date bucket), and ALL tiers
share a single equi-join on ``(split, rank)``. Cost: one distributed rank
(range-bucketed, no single-partition sort), one small aggregate, one 1:1
join — O(n) at any corpus size, skew-free (the join key is the unique
rank), vs. the naive plan's per-tier candidate explosion or per-tier
rank+join+union chains.

The pick is a deterministic uniform draw from the strategy pool — the
reference's contract (``DefaultBackend``,
src/sampler/backends/default_backend.rs:26-72) — under THIS engine's
determinism spec (stateless seeded hashes; the reference's RNG-stream
sequences are explicitly not bit-replicated, SURVEY §7.0).

Split isolation (``src/config.rs:123-136``): ranks are computed within
``split``, so anchor and negative always share the requested split.

Tiers mirror the reference:

- ``wrong_article``: same (source, split, date) excluding self — only rows
  with a REAL date get the tier (src/sampler/mod.rs:1005-1014; undated
  records fall through) → same (source, split) → fallback same split
  (tier named ``fallback_same_split``, src/sampler/mod.rs:1392-1395);
- ``wrong_publication_date``: pick uniformly over ALL records of the same
  (source, split) whose date bucket differs from the anchor's — NULL dates
  form their own bucket, so "exactly one side missing" counts as differing
  (src/sampler/mod.rs:1054-1108); the hierarchical order within a source
  is bucket-contiguous, so the anchor's own bucket is skipped
  arithmetically and small date buckets are NOT overweighted (the
  reference draws uniformly over records, not buckets); fallback same
  split;
- ``qa_mismatch``: same (source, split) excluding self; fallback same split
  (src/sampler/mod.rs:1109-1151).

``variant`` parameterizes re-picks (epoch/step): changing it rotates every
anchor's choice deterministically, replacing the reference's per-anchor
rotation cursors (src/sampler/mod.rs:443-470) with stateless arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from rust_triplets_spark.functions.hashing import (
    hash31_col,
    hash31_sql,
    mix31_col,
    mix31_sql,
    strfold_col,
    strfold_sql,
)

# seed offsets — fixed parts of this engine's determinism spec
POOL_SEED_OFF = 101  # record ordering within a pool
PICK_SEED_OFF = 202  # which pool index an anchor picks
BUCKET_SEED_OFF = 303  # date-bucket ordering
SRC_SEED_OFF = 606  # source ordering within a split

NULL_DATE = "§null§"

# skew salting: the rank pass buckets on hash31(source) — constant per
# source — so ONE dominant (split, source) pool would run its whole window
# in one task. Every pool is therefore fanned out over up to
# AUTO_SALT_BUCKETS sub-buckets of the next order component, with output
# row-for-row identical to the unsalted rank (pytest-pinned against the
# DuckDB twin). The fan-out is static, so it costs zero jobs at plan build
# (a counting probe would re-run the pool lineage per query construction).
# 64 buckets × ~4M comfortable rows per window task ≈ 256M rows per source
# before a single task exceeds the comfort bound.
AUTO_SALT_BUCKETS = 64

STRATEGIES = ("wrong_article", "wrong_publication_date", "qa_mismatch")


def _fold(col, is_string: bool):
    return strfold_col(col) if is_string else F.col(col).cast("long")


def _fold_sql(sql: str, is_string: bool) -> str:
    return strfold_sql(sql) if is_string else f"CAST({sql} AS BIGINT)"


def negative_pick(
    df: DataFrame,
    id_col: str,
    source_col: str,
    split_col: str,
    strategy: str,
    date_col: str | None = None,
    seed: int = 42,
    variant: int = 0,
    id_is_string: bool = True,
) -> DataFrame:
    """One negative per anchor row. Returns ``(id, negative_id, tier)``.

    The ranking pass is skew-salted: the rank buckets on ``hash31(source)``
    — constant per source — so the bucket id becomes the exact order
    prefix plus a range bucket of ``hash31(id)`` (the next order
    component), and a dominant source fans out over up to
    ``AUTO_SALT_BUCKETS`` window tasks while the output stays row-for-row
    identical to the unsalted rank of :func:`negative_pick_sql`
    (pytest-pinned: tests/test_sampling.py)."""
    if strategy not in STRATEGIES:
        raise ValueError(f"unknown strategy {strategy!r}")
    if strategy == "wrong_publication_date" and not date_col:
        raise ValueError("wrong_publication_date requires date_col")

    from rust_triplets_spark.functions.caching import cache_scoped
    from rust_triplets_spark.functions.ordering import bucketed_position

    dated = strategy == "wrong_article" and date_col is not None
    wd = strategy == "wrong_publication_date"
    date_sel = (
        [F.coalesce(F.col(date_col).cast("string"), F.lit(NULL_DATE)).alias("datek")]
        if date_col
        else []
    )
    base = df.select(
        F.col(id_col).alias("id"),
        F.col(source_col).alias("source"),
        F.col(split_col).alias("split"),
        *date_sel,
        _fold(id_col, id_is_string).alias("__idf"),
    )
    base = base.withColumn(
        "__srck", hash31_col(strfold_col("source"), seed + SRC_SEED_OFF)
    ).withColumn("__oh", hash31_col(F.col("__idf"), seed + POOL_SEED_OFF))

    # hierarchical order within split; for wrong_date the per-source order
    # is additionally date-bucket-contiguous (bucket hash before datek)
    tiebreak = ["source"]
    if wd:
        base = base.withColumn(
            "__bh", hash31_col(strfold_col("datek"), seed + BUCKET_SEED_OFF)
        )
        tiebreak += ["__bh", "datek"]
    elif date_col:
        tiebreak += ["datek"]
    tiebreak += ["__oh", "id"]

    # ranked is consumed by the stats aggregate, the anchor side, and the
    # pool side of the pick join — cache so the rank pipeline runs once.
    # salt: sub-bucket on __oh (the uniform per-record hash, the next order
    # component after the per-source-constant prefix) — see docstring.
    ranked = cache_scoped(
        bucketed_position(
            base, "__srck", tiebreak, part_cols=["split"],
            out_col="__grn", count_col="__ns",
            salt_col="__oh", salt_prefix=tiebreak[: tiebreak.index("__oh")],
            n_salt=AUTO_SALT_BUCKETS,
        ),
        f"negatives.{strategy}.ranked",
    )

    # tier range stats: one pass over the ranked frame, broadcast back.
    # g1 (finest grain) feeds g2 so the corpus is scanned once.
    if date_col:
        g1 = ranked.groupBy("split", "source", "datek").agg(
            F.min("__grn").alias("__st1"), F.count("*").alias("__c1")
        )
        g2 = g1.groupBy("split", "source").agg(
            F.min("__st1").alias("__st2"), F.sum("__c1").alias("__c2")
        )
        anchors = ranked.join(
            F.broadcast(g1), ["split", "source", "datek"], "inner"
        ).join(F.broadcast(g2), ["split", "source"], "inner")
    else:
        g2 = ranked.groupBy("split", "source").agg(
            F.min("__grn").alias("__st2"), F.count("*").alias("__c2")
        )
        anchors = ranked.join(F.broadcast(g2), ["split", "source"], "inner")

    pick_mix = mix31_col([F.col("__idf"), F.lit(variant)], seed + PICK_SEED_OFF)
    # all divisors made total with greatest(.,1): ineligible tiers are
    # masked out by the CASE, but ANSI mode evaluates subexpressions
    # wherever Catalyst places them, so none may divide by zero
    def skip_self(k, start, cnt_unused=None):
        self_idx = F.col("__grn") - start
        return start + F.when(k >= self_idx, k + 1).otherwise(k)

    k_s = F.pmod(pick_mix, F.greatest(F.col("__ns") - 1, F.lit(1)))
    p_fallback = F.when(k_s >= F.col("__grn"), k_s + 1).otherwise(k_s)
    fallback_ok = F.col("__ns") >= 2

    if wd:
        # uniform over all different-date members of (source, split): draw
        # k in [0, n - own_bucket) and shift past the own bucket's
        # contiguous range
        local_bstart = F.col("__st1") - F.col("__st2")
        k_wd = F.pmod(
            pick_mix, F.greatest(F.col("__c2") - F.col("__c1"), F.lit(1))
        )
        p_wd = F.col("__st2") + F.when(
            k_wd >= local_bstart, k_wd + F.col("__c1")
        ).otherwise(k_wd)
        tier = F.when(F.col("__c2") > F.col("__c1"), F.lit("wrong_date")).when(
            fallback_ok, F.lit("fallback_same_split")
        )
        gpick = F.when(F.col("__c2") > F.col("__c1"), p_wd).when(
            fallback_ok, p_fallback
        )
    else:
        k_ss = F.pmod(pick_mix, F.greatest(F.col("__c2") - 1, F.lit(1)))
        p_ss = skip_self(k_ss, F.col("__st2"))
        ss_ok = F.col("__c2") >= 2
        if dated:
            k_ssd = F.pmod(pick_mix, F.greatest(F.col("__c1") - 1, F.lit(1)))
            p_ssd = skip_self(k_ssd, F.col("__st1"))
            ssd_ok = (F.col("datek") != NULL_DATE) & (F.col("__c1") >= 2)
            tier = (
                F.when(ssd_ok, F.lit("same_source_same_date"))
                .when(ss_ok, F.lit("same_source"))
                .when(fallback_ok, F.lit("fallback_same_split"))
            )
            gpick = F.when(ssd_ok, p_ssd).when(ss_ok, p_ss).when(
                fallback_ok, p_fallback
            )
        else:
            tier = F.when(ss_ok, F.lit("same_source")).when(
                fallback_ok, F.lit("fallback_same_split")
            )
            gpick = F.when(ss_ok, p_ss).when(fallback_ok, p_fallback)

    anchors = anchors.select(
        "id", "split", tier.alias("tier"), gpick.alias("__gpick")
    ).where(F.col("tier").isNotNull())
    pool = ranked.select(
        "split", F.col("id").alias("negative_id"), F.col("__grn").alias("__prn")
    )
    return anchors.join(
        pool,
        (anchors["split"] == pool["split"]) & (anchors["__gpick"] == pool["__prn"]),
        "inner",
    ).select(anchors["id"], pool["negative_id"], anchors["tier"])


# ---------------------------------------------------------------------------
# DuckDB SQL twins
# ---------------------------------------------------------------------------

def negative_pick_sql(
    table_sql: str,
    id_sql: str,
    source_sql: str,
    split_sql: str,
    strategy: str,
    date_sql: str | None = None,
    seed: int = 42,
    variant: int = 0,
    id_is_string: bool = True,
    where: str = "TRUE",
) -> str:
    """DuckDB twin of :func:`negative_pick`. ``table_sql`` may be a table
    name or a parenthesized subquery. Returns (id, negative_id, tier)."""
    if strategy not in STRATEGIES:
        raise ValueError(f"unknown strategy {strategy!r}")
    if strategy == "wrong_publication_date" and not date_sql:
        raise ValueError("wrong_publication_date requires date_sql")

    dated = strategy == "wrong_article" and date_sql is not None
    wd = strategy == "wrong_publication_date"

    datek = (
        f"coalesce(CAST({date_sql} AS VARCHAR), '{NULL_DATE}')" if date_sql else "NULL"
    )
    idf = _fold_sql("id", id_is_string)
    srck = hash31_sql(strfold_sql("source"), seed + SRC_SEED_OFF)
    oh = hash31_sql(idf, seed + POOL_SEED_OFF)
    order = ["srck", "source"]
    extra_keys = ""
    if wd:
        bh = hash31_sql(strfold_sql("datek"), seed + BUCKET_SEED_OFF)
        extra_keys = f", {bh} AS bh"
        order += ["bh", "datek"]
    elif date_sql:
        order += ["datek"]
    order += ["oh", "id"]
    order_sql = ", ".join(order)

    base = (
        f"nb_base AS MATERIALIZED (SELECT * , {srck} AS srck, {oh} AS oh{extra_keys} FROM "
        f"(SELECT {id_sql} AS id, {source_sql} AS source, {split_sql} AS split, "
        f"{datek} AS datek FROM {table_sql} WHERE {where}))"
    )
    ranked = (
        f"nb_ranked AS MATERIALIZED (SELECT *, "
        f"row_number() OVER (PARTITION BY split ORDER BY {order_sql}) - 1 AS grn, "
        f"count(*) OVER (PARTITION BY split) AS ns FROM nb_base)"
    )
    pick_mix = mix31_sql(["a.idf2", str(variant)], seed + PICK_SEED_OFF)

    if date_sql:
        stats = (
            "nb_g1 AS (SELECT split, source, datek, CAST(min(grn) AS BIGINT) AS st1, "
            "CAST(count(*) AS BIGINT) AS c1 FROM nb_ranked GROUP BY 1, 2, 3), "
            "nb_g2 AS (SELECT split, source, CAST(min(st1) AS BIGINT) AS st2, "
            "CAST(sum(c1) AS BIGINT) AS c2 FROM nb_g1 GROUP BY 1, 2)"
        )
        astats = (
            "SELECT r.*, {idf} AS idf2, nb_g1.st1, nb_g1.c1, nb_g2.st2, nb_g2.c2 FROM nb_ranked r "
            "JOIN nb_g1 USING (split, source, datek) JOIN nb_g2 USING (split, source)"
        ).format(idf=_fold_sql("r.id", id_is_string))
    else:
        stats = (
            "nb_g2 AS (SELECT split, source, CAST(min(grn) AS BIGINT) AS st2, "
            "CAST(count(*) AS BIGINT) AS c2 FROM nb_ranked GROUP BY 1, 2)"
        )
        astats = (
            "SELECT r.*, {idf} AS idf2, nb_g2.st2, nb_g2.c2 FROM nb_ranked r "
            "JOIN nb_g2 USING (split, source)"
        ).format(idf=_fold_sql("r.id", id_is_string))

    k_s = f"({pick_mix} % greatest(a.ns - 1, 1))"
    p_fb = f"CASE WHEN {k_s} >= a.grn THEN {k_s} + 1 ELSE {k_s} END"
    fb_ok = "a.ns >= 2"

    if wd:
        k_wd = f"({pick_mix} % greatest(a.c2 - a.c1, 1))"
        p_wd = (
            f"a.st2 + (CASE WHEN {k_wd} >= (a.st1 - a.st2) "
            f"THEN {k_wd} + a.c1 ELSE {k_wd} END)"
        )
        tier = (
            f"CASE WHEN a.c2 > a.c1 THEN 'wrong_date' "
            f"WHEN {fb_ok} THEN 'fallback_same_split' END"
        )
        gpick = f"CASE WHEN a.c2 > a.c1 THEN {p_wd} WHEN {fb_ok} THEN {p_fb} END"
    else:
        k_ss = f"({pick_mix} % greatest(a.c2 - 1, 1))"
        p_ss = (
            f"a.st2 + (CASE WHEN {k_ss} >= (a.grn - a.st2) "
            f"THEN {k_ss} + 1 ELSE {k_ss} END)"
        )
        ss_ok = "a.c2 >= 2"
        if dated:
            k_ssd = f"({pick_mix} % greatest(a.c1 - 1, 1))"
            p_ssd = (
                f"a.st1 + (CASE WHEN {k_ssd} >= (a.grn - a.st1) "
                f"THEN {k_ssd} + 1 ELSE {k_ssd} END)"
            )
            ssd_ok = f"(a.datek <> '{NULL_DATE}' AND a.c1 >= 2)"
            tier = (
                f"CASE WHEN {ssd_ok} THEN 'same_source_same_date' "
                f"WHEN {ss_ok} THEN 'same_source' "
                f"WHEN {fb_ok} THEN 'fallback_same_split' END"
            )
            gpick = (
                f"CASE WHEN {ssd_ok} THEN {p_ssd} WHEN {ss_ok} THEN {p_ss} "
                f"WHEN {fb_ok} THEN {p_fb} END"
            )
        else:
            tier = (
                f"CASE WHEN {ss_ok} THEN 'same_source' "
                f"WHEN {fb_ok} THEN 'fallback_same_split' END"
            )
            gpick = f"CASE WHEN {ss_ok} THEN {p_ss} WHEN {fb_ok} THEN {p_fb} END"

    return (
        f"WITH {base}, {ranked}, {stats}, "
        f"nb_anchors AS MATERIALIZED (SELECT a.id, a.split, {tier} AS tier, "
        f"{gpick} AS gpick FROM ({astats}) a WHERE {tier} IS NOT NULL) "
        f"SELECT a.id, p.id AS negative_id, a.tier "
        f"FROM nb_anchors a JOIN nb_ranked p ON p.split = a.split AND p.grn = a.gpick"
    )
