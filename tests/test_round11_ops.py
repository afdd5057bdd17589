"""Round-11 operators: DSIR importance resampling and sequence
packing (plus their plan-shape properties)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# DSIR (operators/dsir.py)
# ---------------------------------------------------------------------------

def test_dsir_target_like_docs_outrank(spark):
    from legal_data_ingestion_rag_pipeline_spark.operators import dsir

    # target corpus speaks "alpha beta"; raw pool has one doc in the
    # target's dialect and one in a different one — DSIR must weight
    # the target-like doc higher.
    rows = [
        (1, "alpha beta alpha beta alpha", "tgt"),
        (2, "alpha beta beta alpha", "tgt"),
        (3, "alpha beta alpha", "raw"),
        (4, "gamma delta gamma delta", "raw"),
        (5, None, "raw"),
    ]
    docs = spark.createDataFrame(rows, "doc_id: bigint, text: string, source: string")
    w = {
        r.doc_id: (r.n_tokens, r.dsir_weight_micro)
        for r in dsir.dsir_weights(docs, F.col("source") == "tgt").collect()
    }
    assert set(w) == {3, 4, 5}  # only the raw pool, null-text survives
    assert w[5] == (0, 0)
    assert w[3][1] > w[4][1]


def test_dsir_weights_exact_formula(spark):
    import math

    from legal_data_ingestion_rag_pipeline_spark.functions import portable as PT
    from legal_data_ingestion_rag_pipeline_spark.operators import dsir

    docs = spark.createDataFrame(
        [(1, "a b", "tgt"), (2, "a a", "raw")],
        "doc_id: bigint, text: string, source: string",
    )
    got = dsir.dsir_weights(docs, F.col("source") == "tgt").collect()[0]
    # replay: bucket counts over {a:tgt x1 + raw x2, b:tgt x1}
    def bucket(word):
        h = PT.POLY_INIT
        for ch in word:
            h = (h * PT.POLY_MULT + ord(ch)) % PT.P
        return h % dsir.N_BUCKETS

    ba, bb = bucket("a"), bucket("b")
    t_c = {ba: 1, bb: 1}
    s_c = {ba: 2, bb: 0}
    T, S, NB = 2, 2, dsir.N_BUCKETS
    lr = {
        b: math.floor(
            math.log(
                ((t_c.get(b, 0) + 1) * (S + NB))
                / ((s_c.get(b, 0) + 1) * (T + NB))
            )
            * 1e6
            + 0.5
        )
        for b in (ba, bb)
    }
    assert (got.n_tokens, got.dsir_weight_micro) == (2, 2 * lr[ba])


# ---------------------------------------------------------------------------
# sequence packing (operators/packing.py)
# ---------------------------------------------------------------------------

def test_packing_respects_capacity_and_caps_overlong(spark):
    from legal_data_ingestion_rag_pipeline_spark.operators import packing

    long_text = " ".join(["w"] * (packing.CAPACITY + 50))
    rows = [(i, " ".join(["t"] * (10 * (i % 5 + 1)))) for i in range(40)]
    rows += [(100, long_text), (101, ""), (102, None)]
    docs = spark.createDataFrame(rows, "doc_id: bigint, text: string")
    a = packing.pack_assignments(docs).collect()
    ids = {r.doc_id for r in a}
    assert 101 not in ids and 102 not in ids  # nothing to pack
    capped = {r.doc_id: r.n_tokens for r in a}
    assert capped[100] == packing.CAPACITY
    fills = {}
    for r in a:
        fills[(r.shard, r.bin_id)] = fills.get((r.shard, r.bin_id), 0) + r.n_tokens
    assert all(v <= packing.CAPACITY for v in fills.values())
    # bin ids are dense from 0 within each shard
    for shard in {r.shard for r in a}:
        bins = sorted({r.bin_id for r in a if r.shard == shard})
        assert bins == list(range(len(bins)))


def test_packing_matches_twin_and_is_partition_stable(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq_

    from legal_data_ingestion_rag_pipeline_spark.operators import packing

    rows = [
        (i, " ".join(["tok"] * ((i * 37) % 150 + 1))) for i in range(60)
    ]
    path = str(tmp_path / "documents.parquet")
    pq_.write_table(
        pa.table(
            {
                "doc_id": [r[0] for r in rows],
                "text": [r[1] for r in rows],
            }
        ),
        path,
    )
    docs = spark.read.parquet(path)
    want = packing.pack_stats_py(str(tmp_path))

    def stats(df):
        a = packing.pack_assignments(df)
        cap = packing.CAPACITY
        out = (
            a.groupBy("shard")
            .agg(
                F.count("*").alias("n_docs"),
                (F.max("bin_id") + 1).alias("n_bins"),
                F.sum("n_tokens").alias("total_tokens"),
            )
            .orderBy("shard")
            .collect()
        )
        return [
            (
                r.shard,
                r.n_docs,
                r.n_bins,
                r.total_tokens,
                r.n_bins * cap - r.total_tokens,
                r.total_tokens * 1000 // (r.n_bins * cap),
            )
            for r in out
        ]

    assert stats(docs) == want
    assert stats(docs.repartition(13)) == want


def test_packing_plans_as_arrow_not_rowwise(spark):
    from legal_data_ingestion_rag_pipeline_spark.operators import packing

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "d e")], "doc_id: bigint, text: string"
    )
    plan = (
        packing.pack_assignments(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "FlatMapGroupsInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_dsir_scoring_join_is_broadcast(spark):
    """The NB-row log-ratio table must broadcast to the scoring join —
    the raw pool is scored map-side, never shuffled on the bucket."""
    from legal_data_ingestion_rag_pipeline_spark.plans.registry import registry

    df = registry()["dsir_importance_resampling"].spark(
        spark, "/root/testdata/sf0.001"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    # the broadcast must be the join KEYED ON THE BUCKET (_b) — a
    # BroadcastHashJoin elsewhere in the plan doesn't count, and the
    # scoring join degrading to a shuffle join must fail loudly
    bhj_on_bucket = [
        ln for ln in lines if "BroadcastHashJoin" in ln and "_b#" in ln
    ]
    shuffle_join_on_bucket = [
        ln
        for ln in lines
        if ("SortMergeJoin" in ln or "ShuffledHashJoin" in ln)
        and "_b#" in ln
    ]
    assert bhj_on_bucket, plan
    assert not shuffle_join_on_bucket, shuffle_join_on_bucket


# ---------------------------------------------------------------------------
# portable n-gram builders, Spark dialect
# ---------------------------------------------------------------------------

def test_portable_ngram_builders(spark):
    from legal_data_ingestion_rag_pipeline_spark.functions import portable as PT

    S = PT.SPARK
    df = spark.createDataFrame(
        [(1, "the quick brown fox")], "doc_id: bigint, text: string"
    )
    (r1,) = (
        df.withColumn("toks", F.expr(PT.tokens("text", S)))
        .withColumn("grams", F.expr(PT.word_ngrams("toks", 2, S)))
        .withColumn("cgrams", F.expr(PT.char_ngrams("text", 3, S)))
        .collect()
    )
    assert r1.toks == ["the", "quick", "brown", "fox"]
    assert r1.grams == ["the quick", "quick brown", "brown fox"]
    assert len(r1.cgrams) == len("the quick brown fox") - 2


# ---------------------------------------------------------------------------
# RM3 pseudo-relevance feedback (operators/fts.rm3_topk)
# ---------------------------------------------------------------------------

def test_rm3_recall_repair_retrieves_expansion_only_doc(spark):
    from legal_data_ingestion_rag_pipeline_spark.operators import fts

    # docs 1-3 match the query and all also speak "omega"; doc 4 has
    # NO query term but is rich in "omega" — plain BM25 can never
    # return it, RM3 must (the recall-repair property).  doc 5 is
    # unrelated noise.
    rows = [
        (1, "query target omega omega filler one"),
        (2, "query target omega filler two two"),
        (3, "query omega omega filler three"),
        (4, "omega omega omega unrelated words here"),
        (5, "noise noise noise noise"),
    ]
    docs = spark.createDataFrame(rows, "doc_id: bigint, text: string")
    plain = fts.bm25_topk(docs, "doc_id", "text", ["query", "target"], k=5)
    assert 4 not in {r.doc_id for r in plain.collect()}
    rm3 = fts.rm3_topk(
        docs, "doc_id", "text", ["query", "target"], k=5, fb_docs=3, fb_terms=2
    ).collect()
    assert 4 in {r.doc_id for r in rm3}


def test_rm3_deterministic_under_repartition(spark):
    from legal_data_ingestion_rag_pipeline_spark.operators import fts

    rows = [
        (i, " ".join(["t%d" % ((i * j) % 7) for j in range(1, 12)]) + " query")
        for i in range(30)
    ]
    docs = spark.createDataFrame(rows, "doc_id: bigint, text: string")
    a = [tuple(r) for r in fts.rm3_topk(docs, "doc_id", "text", ["query", "t1"], k=8).collect()]
    b = [
        tuple(r)
        for r in fts.rm3_topk(
            docs.repartition(11), "doc_id", "text", ["query", "t1"], k=8
        ).collect()
    ]
    assert a == b and len(a) == 8


# ---------------------------------------------------------------------------
# k-truss (operators/graph.k_truss / edge_supports)
# ---------------------------------------------------------------------------

def test_edge_supports_counts_common_neighbors(spark):
    from legal_data_ingestion_rag_pipeline_spark.operators import graph

    # K4 on {1,2,3,4} plus pendant edge (4,5): every K4 edge closes 2
    # triangles, the pendant closes none.
    k4 = [(i, j) for i in range(1, 5) for j in range(i + 1, 5)]
    e = spark.createDataFrame(k4 + [(4, 5)], "a: bigint, b: bigint")
    sup = {(r.lo, r.hi): r.support for r in graph.edge_supports(e).collect()}
    assert all(sup[p] == 2 for p in k4)
    assert sup[(4, 5)] == 0


def test_k_truss_peels_cascade(spark):
    from legal_data_ingestion_rag_pipeline_spark.operators import graph

    # K4 core + a triangle (4,5,6) hanging off vertex 4 + pendant:
    # 3-truss keeps K4 AND the triangle; 4-truss must peel the
    # triangle (support 1 each) and the CASCADE must then keep K4
    # (its supports are untouched).  A chain of triangles
    # (7,8,9),(8,9,10) where edge (8,9) has support 2 but the others
    # have 1: a 4-truss must peel the whole chain — edge (8,9)'s
    # support collapses after its neighbors go (the cascade property
    # a single-pass filter would get wrong).
    k4 = [(i, j) for i in range(1, 5) for j in range(i + 1, 5)]
    tri = [(4, 5), (4, 6), (5, 6)]
    chain = [(7, 8), (7, 9), (8, 9), (8, 10), (9, 10)]
    e = spark.createDataFrame(
        k4 + tri + chain + [(6, 99)], "a: bigint, b: bigint"
    )
    t3 = {(r.lo, r.hi) for r in graph.k_truss(e, k=3).collect()}
    assert t3 == set(k4) | set(tri) | set(chain)
    t4 = {(r.lo, r.hi): r.support for r in graph.k_truss(e, k=4).collect()}
    assert set(t4) == set(k4)
    assert all(v == 2 for v in t4.values())
    with pytest.raises(ValueError):
        graph.k_truss(e, k=2)


def test_k_truss_matches_twin_on_gate_graph(spark):
    """The registered query's Spark result equals the pure-Python
    peeling twin on the real support-2 graph at sf0.001."""
    from legal_data_ingestion_rag_pipeline_spark.plans.driver_queries_scale import (
        _ktruss_oracle,
        ktruss_copurchase,
    )
    import duckdb

    got = [
        (r.part_lo, r.part_hi, r.support)
        for r in ktruss_copurchase(spark, "/root/testdata/sf0.001").collect()
    ]
    want = [
        tuple(int(x) for x in row)
        for row in duckdb.connect()
        .execute(_ktruss_oracle("/root/testdata/sf0.001"))
        .fetchall()
    ]
    assert got == want


# ---------------------------------------------------------------------------
# tfidf_keyphrases
# ---------------------------------------------------------------------------

def test_tfidf_rare_term_outranks_common(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq_

    from legal_data_ingestion_rag_pipeline_spark.plans.driver_queries_pretrain import (
        tfidf_keyphrases,
    )

    rows = [
        (1, "common common common rareword"),
        (2, "common common other"),
        (3, "common other other"),
    ]
    pq_.write_table(
        pa.table(
            {
                "doc_id": [r[0] for r in rows],
                "text": [r[1] for r in rows],
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    out = tfidf_keyphrases(spark, str(tmp_path)).collect()
    top = {r.doc_id: r.term for r in out if r.rank == 1}
    # 'rareword' (df=1) beats 'common' (df=3, idf=0) despite tf 1 vs 3
    assert top[1] == "rareword"
    # doc 2/3: 'other' (df=2) is the most salient term
    assert top[2] == "other" and top[3] == "other"
    # 'common' appears in every doc -> idf exactly 0 -> score 0
    zero = [r for r in out if r.term == "common"]
    assert all(r.tfidf_micro == 0 for r in zero)


# ---------------------------------------------------------------------------
# doremi_domain_weights
# ---------------------------------------------------------------------------

def test_doremi_hard_domain_gets_weight(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq_

    from legal_data_ingestion_rag_pipeline_spark.plans.driver_queries_pretrain import (
        doremi_domain_weights,
    )

    # 'easy' domain repeats one bigram (near-zero NLL under the
    # corpus-trained proxy); 'hard' domain bigrams are each unique
    # (high NLL). The hard domain must take (essentially) all the
    # excess-loss weight.
    rows = []
    for i in range(10):
        rows.append((i, "alpha beta alpha beta alpha beta", "easy"))
    for i in range(10, 20):
        toks = " ".join(f"w{i}x{j}" for j in range(6))
        rows.append((i, toks, "hard"))
    pq_.write_table(
        pa.table(
            {
                "doc_id": [r[0] for r in rows],
                "text": [r[1] for r in rows],
                "source": [r[2] for r in rows],
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    out = {r.source: r for r in doremi_domain_weights(spark, str(tmp_path)).collect()}
    assert set(out) == {"easy", "hard"}
    assert out["easy"].weight_milli == 0
    assert out["hard"].weight_milli >= 990  # integer-div loss only
    assert out["hard"].mean_nlp_micro > out["easy"].mean_nlp_micro


# ---------------------------------------------------------------------------
# golden_record_election
# ---------------------------------------------------------------------------

def test_golden_record_transitive_cluster_and_election(spark, tmp_path):
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq_

    from legal_data_ingestion_rag_pipeline_spark.plans.driver_queries_similarity import (
        _golden_oracle,
        golden_record_election,
    )

    # Crafted so A-B and B-C score positive but A-C scores NEGATIVE
    # (len disagree + t2-null penalty outweigh src+last agreement):
    # the {A,B,C} cluster exists ONLY through transitive closure.
    rows = [
        (1, "blk", "en", "s1", 100),            # A: t2 is NULL
        (2, "blk x blk", "en", "s1", 105),      # B
        (3, "blk x blk", "en", "s1", 111),      # C: richest -> canonical
        (9, "other words here", "en", "s1", 50),  # different block
    ]
    pq_.write_table(
        pa.table(
            {
                "doc_id": [r[0] for r in rows],
                "text": [r[1] for r in rows],
                "lang": [r[2] for r in rows],
                "source": [r[3] for r in rows],
                "n_chars": [r[4] for r in rows],
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    got = golden_record_election(spark, str(tmp_path)).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.cluster_id, r.n_members, r.canonical_doc_id) == (1, 3, 3)
    assert r.canonical_source == "s1" and r.total_chars == 100 + 105 + 111
    # and the pure-Python twin agrees end to end
    want = duckdb.connect().execute(_golden_oracle(str(tmp_path))).fetchall()
    assert [(x.cluster_id, x.n_members, x.canonical_doc_id,
             x.canonical_source, x.total_chars) for x in got] == [
        tuple(int(v) if isinstance(v, (int, float)) and not isinstance(v, str) else v for v in w)
        for w in want
    ]


def test_linkage_and_sn_survive_empty_and_single_token_docs(spark, tmp_path):
    """ANSI element_at hardening: empty-text and 1-token documents
    must not crash the linkage/sorted-neighborhood feature builders
    (the element_at -> try_element_at fix)."""
    import pyarrow as pa
    import pyarrow.parquet as pq_

    from legal_data_ingestion_rag_pipeline_spark.plans.driver_queries_similarity import (
        record_linkage_fellegi_sunter,
        sorted_neighborhood_pairs,
    )

    rows = [
        (1, "only", "en", "s1", 4),
        (2, "", "en", "s1", 0),
        (3, None, "en", "s2", 0),
        (4, "two words here now", "en", "s2", 18),
        (5, "two words here also", "en", "s2", 19),
    ]
    pq_.write_table(
        pa.table(
            {
                "doc_id": [r[0] for r in rows],
                "text": [r[1] for r in rows],
                "lang": [r[2] for r in rows],
                "source": [r[3] for r in rows],
                "n_chars": [r[4] for r in rows],
            }
        ),
        str(tmp_path / "documents.parquet"),
    )
    # must not throw; empty/null-text docs are simply featureless
    record_linkage_fellegi_sunter(spark, str(tmp_path)).collect()
    sorted_neighborhood_pairs(spark, str(tmp_path)).collect()


# ---------------------------------------------------------------------------
# multi_source_bfs (operators/graph.py)
# ---------------------------------------------------------------------------

def test_multi_source_bfs_equals_k_single_source_runs(spark):
    from legal_data_ingestion_rag_pipeline_spark.operators import graph

    # path 0-1-2-3-4 plus branch 2-9
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (2, 9)], "a: bigint, b: bigint"
    )
    multi = {
        (r.landmark, r.v): r.dist
        for r in graph.multi_source_bfs(edges, [0, 4], max_depth=5).collect()
    }
    for s in (0, 4):
        single = {
            r.v: r.dist
            for r in graph.bfs_distances(edges, s, max_depth=5).collect()
        }
        assert {v: d for (lm, v), d in multi.items() if lm == s} == single
    # depth cap is semantic: 1-hop from 0 reaches only 0 and 1
    capped = graph.multi_source_bfs(edges, [0], max_depth=1).collect()
    assert {(r.v, r.dist) for r in capped} == {(0, 0), (1, 1)}
    with pytest.raises(ValueError):
        graph.multi_source_bfs(edges, [])


# ---------------------------------------------------------------------------
# seeded fuzz: packing invariants and DSIR vs a pure-Python replay
# ---------------------------------------------------------------------------

def test_fuzz_packing_invariants(spark):
    import random

    from legal_data_ingestion_rag_pipeline_spark.operators import packing

    rng = random.Random(20260816)
    rows = []
    for i in range(200):
        n = rng.choice([0, 1, 3, 17, 60, 127, 128, 129, 400])
        rows.append((i, " ".join(["w"] * n) if n else rng.choice(["", None])))
    docs = spark.createDataFrame(rows, "doc_id: bigint, text: string")
    a = packing.pack_assignments(docs).collect()
    # invariant 1: every packable doc appears exactly once
    packable = {i for i, t in rows if t and t.strip()}
    assert sorted(r.doc_id for r in a) == sorted(packable)
    # invariant 2: no bin exceeds capacity; token counts are capped
    fills = {}
    for r in a:
        assert 1 <= r.n_tokens <= packing.CAPACITY
        key = (r.shard, r.bin_id)
        fills[key] = fills.get(key, 0) + r.n_tokens
    assert all(v <= packing.CAPACITY for v in fills.values())
    # invariant 3: total tokens preserved (capped)
    want_total = sum(
        min(len(t.split()), packing.CAPACITY) for i, t in rows if t and t.strip()
    )
    assert sum(r.n_tokens for r in a) == want_total


def test_fuzz_dsir_matches_python_replay(spark):
    import math
    import random

    from legal_data_ingestion_rag_pipeline_spark.functions import portable as PT
    from legal_data_ingestion_rag_pipeline_spark.operators import dsir

    rng = random.Random(20260816)
    vocab = [f"tok{i}" for i in range(30)]
    rows = []
    for i in range(120):
        n = rng.randint(0, 12)
        rows.append(
            (
                i,
                " ".join(rng.choice(vocab) for _ in range(n)),
                "tgt" if rng.random() < 0.3 else "raw",
            )
        )
    docs = spark.createDataFrame(rows, "doc_id: bigint, text: string, source: string")
    got = {
        r.doc_id: (r.n_tokens, r.dsir_weight_micro)
        for r in dsir.dsir_weights(docs, F.col("source") == "tgt").collect()
    }

    def bucket(w):
        h = PT.POLY_INIT
        for ch in w:
            h = (h * PT.POLY_MULT + ord(ch)) % PT.P
        return h % dsir.N_BUCKETS

    t_c, s_c = {}, {}
    for i, text, src in rows:
        for w in text.split():
            d = t_c if src == "tgt" else s_c
            d[bucket(w)] = d.get(bucket(w), 0) + 1
    T, S, NB = sum(t_c.values()), sum(s_c.values()), dsir.N_BUCKETS
    lr = {}
    for b in set(t_c) | set(s_c):
        lr[b] = math.floor(
            math.log(
                ((t_c.get(b, 0) + 1) * (S + NB))
                / ((s_c.get(b, 0) + 1) * (T + NB))
            )
            * 1e6
            + 0.5
        )
    want = {}
    for i, text, src in rows:
        if src == "tgt":
            continue
        toks = text.split()
        want[i] = (len(toks), sum(lr[bucket(w)] for w in toks))
    assert got == want
