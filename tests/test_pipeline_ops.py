"""Training-data-pipeline ops: dedup families, similarity search, text
analysis, multimodal plumbing — unit semantics on hand-built fixtures.
(Engine↔DuckDB parity for these ops is covered by tools/check_contract.py
over __spark_entry__; here we pin the *semantics* to hand-computed values.)
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import functions as F

from ps_pagerank_spark.functions.text import (
    content_hash,
    hash64,
    predicted_lang,
    text_feature_columns,
)


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_hash64_matches_hashlib(spark):
    df = spark.createDataFrame([("hello",), ("",)], "s string")
    got = {r["s"]: r["h"] for r in df.select("s", hash64(F.col("s")).alias("h")).collect()}
    for s in ("hello", ""):
        assert got[s] == int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_text_features_edge_cases(spark):
    feats = text_feature_columns(F.col("text"))
    df = _docs(spark, ["", "   ", "one", "the cat, the hat!"]).select(
        "doc_id", *[v.alias(k) for k, v in feats.items()]
    )
    rows = {r["doc_id"]: r.asDict() for r in df.collect()}
    assert rows[0]["n_words"] == 0 and rows[1]["n_words"] == 0
    assert rows[2]["n_words"] == 1 and rows[2]["n_tokens"] == 1
    r = rows[3]
    assert r["n_words"] == 4  # "the" "cat," "the" "hat!"
    assert r["n_tokens"] == 6  # the cat , the hat !
    assert r["punct_ratio_u"] == math.floor(2 / 17 * 1e6)
    assert r["stopword_ratio_u"] == math.floor(2 / 4 * 1e6)  # two "the"


def test_predicted_lang(spark):
    df = _docs(
        spark,
        [
            "the cat and the dog of note",
            "der hund und die katze",
            "xyzzy plugh",
        ],
    ).select("doc_id", predicted_lang(F.col("text")).alias("p"))
    got = [r["p"] for r in df.orderBy("doc_id").collect()]
    assert got == ["en", "de", "unknown"]


def test_exact_dedup(spark):
    from ps_pagerank_spark.operators.dedup import exact_dedup, exact_dedup_groups

    df = _docs(spark, ["aaa", "bbb", "aaa", "ccc", "aaa"])
    groups = {
        r["doc_id"]: r["n_dups"] for r in exact_dedup_groups(df).collect()
    }
    assert groups == {0: 3, 1: 1, 3: 1}
    kept = sorted(r["doc_id"] for r in exact_dedup(df).collect())
    assert kept == [0, 1, 3]


def test_minhash_lsh_finds_near_dup(spark):
    from ps_pagerank_spark.operators.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = base.replace("kappa", "lambda")
    far = "one two three four five six seven eight nine ten"
    df = _docs(spark, [base, near, far])
    sigs = {r["doc_id"]: r["sig"] for r in minhash_signatures(df).collect()}
    assert len(sigs[0]) == 16
    # identical docs would have identical signatures; near dup shares most
    agree = sum(a == b for a, b in zip(sigs[0], sigs[1]))
    assert agree >= 8
    pairs = minhash_lsh_pairs(df, threshold=0.4).collect()
    assert any(r["doc_a"] == 0 and r["doc_b"] == 1 for r in pairs)
    assert not any(r["doc_b"] == 2 for r in pairs)


def test_simhash_properties(spark):
    from ps_pagerank_spark.operators.dedup import simhash, simhash_neardup_pairs

    t = "the quick brown fox jumps over the lazy dog"
    df = _docs(spark, [t, t, "completely different words here now"])
    hs = {r["doc_id"]: r["simhash"] for r in simhash(df).collect()}
    assert hs[0] == hs[1]
    assert hs[0] != hs[2]
    pairs = simhash_neardup_pairs(df, max_hamming=3).collect()
    assert [(r["doc_a"], r["doc_b"], r["hamming"]) for r in pairs] == [(0, 1, 0)]


def test_ngram_jaccard_exact(spark):
    from ps_pagerank_spark.operators.dedup import ngram_jaccard_pairs

    a = "w1 w2 w3 w4 w5"  # shingles: 123 234 345
    b = "w1 w2 w3 w4 x"  # shingles: 123 234 34x → common 2, union 4
    df = _docs(spark, [a, b])
    rows = ngram_jaccard_pairs(df, threshold=0.0).collect()
    assert len(rows) == 1
    assert rows[0]["jaccard_u"] == 500000  # 2/4


def test_ngram_jaccard_df_cap_drops_boilerplate(spark):
    """The default max_shingle_df cap must prune boilerplate shingles
    BEFORE the inverted-index self-join (the quadratic term at crawl
    scale): docs sharing ONLY a boilerplate shingle stop pairing, while
    the uncapped exact mode still pairs them."""
    from ps_pagerank_spark.operators.dedup import ngram_jaccard_pairs

    boiler = "all rights reserved"  # the one shingle every doc shares
    docs = [f"u{i} v{i} {boiler}" for i in range(8)]
    df = _docs(spark, docs)
    exact = ngram_jaccard_pairs(df, threshold=0.0, max_shingle_df=None)
    capped = ngram_jaccard_pairs(df, threshold=0.0, max_shingle_df=4)
    n_exact, n_capped = exact.count(), capped.count()
    assert n_exact == 8 * 7 // 2  # every pair connected via boilerplate
    assert n_capped == 0  # cap kills the only connecting shingle
    # default IS capped (1000 > 8 docs here, so behavior matches exact on
    # this tiny fixture — the signature default just must not be None)
    import inspect

    sig = inspect.signature(ngram_jaccard_pairs)
    assert sig.parameters["max_shingle_df"].default == 1000


def test_cosine_topk_hand_vectors(spark):
    from ps_pagerank_spark.operators.similarity import cosine_topk

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [1.0, 0.1]),
            (2, [0.0, 1.0]),
            (3, [-1.0, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    res = cosine_topk(emb, emb.filter("vec_id = 0"), k=2).collect()
    assert [(r["neighbor_id"], r["rnk"]) for r in res] == [(1, 1), (2, 2)]


def test_ann_lsh_subset_of_exact(spark):
    """ANN results within a bucket are a subset of brute-force candidates
    and exactly ranked; every returned neighbor shares the query bucket."""
    from ps_pagerank_spark.operators.similarity import ann_lsh_topk, cosine_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 3)
    exact = cosine_topk(emb, qs, k=1000)  # k ≥ corpus ⇒ full ranking
    ann = ann_lsh_topk(emb, qs, k=200, n_planes=4)
    ex = {(r["query_id"], r["neighbor_id"]): r["cosine_u"] for r in exact.collect()}
    for r in ann.collect():
        key = (r["query_id"], r["neighbor_id"])
        assert key in ex and ex[key] == r["cosine_u"]


def test_embedding_neardup_symmetric_threshold(spark):
    from ps_pagerank_spark.operators.similarity import embedding_neardup_pairs

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.01]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    rows = embedding_neardup_pairs(emb, threshold_u=990000).collect()
    assert [(r["id_a"], r["id_b"]) for r in rows] == [(0, 1)]


def test_media_features_deterministic(spark):
    from ps_pagerank_spark.functions.multimodal import (
        extract_media_features,
        media_from_documents,
    )

    docs = _docs(spark, ["abc", ""])
    media = media_from_documents(docs)
    assert media.schema.simpleString() == (
        "struct<media_id:bigint,kind:string,payload:binary,"
        "n_bytes:bigint,src_url:string>"
    )
    feats = {r["media_id"]: r.asDict() for r in extract_media_features(media).collect()}
    h = int(hashlib.md5(b"abc").hexdigest()[:15], 16)
    assert feats[0]["width"] == 1 + h % 1024
    assert feats[0]["height"] == 1 + (h // 1024) % 1024
    assert feats[0]["mean_byte_u"] == math.floor((97 + 98 + 99) / 3 * 1e6)
    assert feats[0]["content_hash"] == hashlib.md5(b"abc").hexdigest()
    assert feats[1]["mean_byte_u"] == 0 and feats[1]["n_bytes"] == 0
