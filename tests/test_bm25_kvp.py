"""BM25 hard-negative + KVP decoration semantics (reference
bm25_backend.rs / kvp.rs invariants)."""

from pyspark.sql import functions as F

from rust_triplets_spark.operators.bm25 import bm25_hard_negative, bm25_topk
from rust_triplets_spark.operators.kvp import KvpField, kvp_decorate


def _corpus(spark):
    rows = [
        (1, "s1", "tr", "apple banana cherry market fruit stand sales"),
        (2, "s1", "tr", "apple banana cherry market fruit prices today"),
        (3, "s1", "tr", "quantum physics lecture notes entanglement qubits"),
        (4, "s1", "tr", "football season results league table standings"),
        (5, "s1", "va", "apple banana cherry market fruit auction"),
        (6, "s2", "tr", "apple banana cherry fruit wholesale"),
        (7, "s1", "tr", "apple banana market fruit discount sales weekly"),
        (8, "s1", "tr", "banana cherry market stand prices fruit report"),
    ]
    return spark.createDataFrame(rows, "id long, source string, split string, text string")


def test_bm25_ranks_lexical_overlap_first(spark):
    out = bm25_topk(_corpus(spark), "id", "source", "text", split_col="split", k=3)
    top = {r["qid"]: r["did"] for r in out.where(F.col("rank") == 1).collect()}
    # high-overlap fruit docs win; the quantum/football docs never rank first
    assert top[1] in (2, 7, 8) and top[2] in (1, 7, 8)
    assert 3 not in top.values() and 4 not in top.values()


def test_bm25_split_isolation_and_source_scope(spark):
    out = bm25_topk(_corpus(spark), "id", "source", "text", split_col="split", k=5).collect()
    for r in out:
        assert r["did"] != r["qid"]
        assert r["did"] != 5  # validation doc never offered to train queries
        assert r["did"] != 6  # different source never offered


def test_bm25_rotation_changes_with_variant(spark):
    c = _corpus(spark)
    v0 = {r["id"]: r["negative_id"]
          for r in bm25_hard_negative(c, "id", "source", "text", "split", variant=0).collect()}
    v1 = {r["id"]: r["negative_id"]
          for r in bm25_hard_negative(c, "id", "source", "text", "split", variant=1).collect()}
    assert v0 and any(v0[k] != v1.get(k) for k in v0 if k in v1)


VARIANTS = [
    [KvpField("source", ("source",), 1.0), KvpField("lang", ("lang",), 0.7)],
    [KvpField("source", ("source",), 1.0)],
]


def _docs(spark, n=400):
    rows = [(i, f"src{i % 3}", ["en", "de", "fr"][i % 3], "word " * 20) for i in range(n)]
    return spark.createDataFrame(rows, "doc_id long, source string, lang string, text string")


def test_kvp_dropout_rate(spark):
    out = kvp_decorate(_docs(spark), "doc_id", "text", VARIANTS, dropout=0.8, seed=1)
    n = out.count()
    with_prefix = out.where(F.col("kvp_prefix").isNotNull()).count()
    # prefix frequency ≈ 1 - dropout (FIXTURES F7)
    assert 0.1 < with_prefix / n < 0.35


def test_kvp_prefix_shape_and_truncation(spark):
    out = kvp_decorate(
        _docs(spark), "doc_id", "text", VARIANTS, dropout=0.0, max_window_tokens=8, seed=1
    )
    rows = out.collect()
    for r in rows:
        assert r["kvp_prefix"] is not None
        assert r["kvp_prefix"].startswith("meta: ")
        assert "source=" in r["kvp_prefix"]
        assert len(r["decorated_text"].split()) <= 8  # token budget honored
        assert set(r["kvp_meta"].keys()) == {"source", "lang"}


def test_kvp_deterministic(spark):
    a = kvp_decorate(_docs(spark, 50), "doc_id", "text", VARIANTS, dropout=0.5, seed=9)
    b = kvp_decorate(_docs(spark, 50), "doc_id", "text", VARIANTS, dropout=0.5, seed=9)
    assert sorted((r["doc_id"], r["kvp_prefix"]) for r in a.collect()) == sorted(
        (r["doc_id"], r["kvp_prefix"]) for r in b.collect()
    )


def _corpus_rows(version: int):
    """3 sources x 8 docs; version 1 rewrites src1's texts only."""
    rows = []
    for i in range(24):
        src = f"src{i % 3}"
        words = [f"w{i % 7}{j}" for j in range(6)] + [f"shared{j}" for j in range(3)]
        if version == 1 and src == "src1":
            words = [f"v2tok{i}{j}" for j in range(5)] + ["shared0"]
        rows.append((i, src, " ".join(words)))
    return rows


def test_incremental_refresh_equals_full_rebuild(spark):
    """bm25_backend.rs:343-390: after refreshing ONE source, scores served
    from the incrementally-maintained index must equal a full rebuild over
    the new corpus — bit-exact (same rounding)."""
    from rust_triplets_spark.operators.bm25 import (
        bm25_topk_from_index, build_bm25_index, refresh_bm25_index,
    )

    schema = "id long, source string, text string"
    old = spark.createDataFrame(_corpus_rows(0), schema)
    new = spark.createDataFrame(_corpus_rows(1), schema)

    idx = build_bm25_index(old, "id", "source", "text")
    refreshed = refresh_bm25_index(idx, new, ["src1"], "id", "source", "text")
    got = {
        (r["qid"], r["rank"]): (r["did"], r["score_q"])
        for r in bm25_topk_from_index(refreshed, k=5).collect()
    }
    want = {
        (r["qid"], r["rank"]): (r["did"], r["score_q"])
        for r in bm25_topk_from_index(build_bm25_index(new, "id", "source", "text"), k=5).collect()
    }
    assert got == want and got


def test_bm25_refresh_keeps_null_source_rows(spark):
    """NOT isin(...) is NULL for a NULL source key — the keep filter must
    pass NULL-source rows through (same contract as the minhash index)."""
    from rust_triplets_spark.operators.bm25 import build_bm25_index, refresh_bm25_index

    df = spark.createDataFrame(
        [(1, None, "alpha beta gamma"), (2, "s0", "delta epsilon zeta"),
         (3, "s1", "eta theta iota")],
        "id: long, source: string, text: string",
    )
    idx = build_bm25_index(df, "id", "source", "text")
    out = refresh_bm25_index(idx, df, ["s1"], "id", "source", "text")
    assert out.doclens.where("source IS NULL").count() == 1
    full = build_bm25_index(df, "id", "source", "text")
    key = lambda r: (r[0] or "", *[x if x is not None else "" for x in r[1:]])  # noqa: E731
    for frame in ("postings", "doclens", "qterms"):
        got = sorted(map(tuple, getattr(out, frame).collect()), key=key)
        want = sorted(map(tuple, getattr(full, frame).collect()), key=key)
        assert got == want, frame
