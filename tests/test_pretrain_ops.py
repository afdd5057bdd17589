"""Segment-level boilerplate removal (operators/linededup.py) and the
count-min sketch (operators/sketches.py): semantics on hand-built
corpora plus the structural guarantees each operator exists for."""

from __future__ import annotations

from pyspark.sql import functions as F

from legal_data_ingestion_rag_pipeline_spark.operators import linededup, sketches


def test_boilerplate_lines_stripped_order_preserved(spark):
    # 'cookie banner' appears in all 3 docs -> boilerplate at min_docs=3;
    # 'unique aside' appears in 2 -> kept at min_docs=3
    docs = spark.createDataFrame(
        [
            (1, "cookie banner\nalpha text\nunique aside\nomega text"),
            (2, "beta text\ncookie banner\nunique aside"),
            (3, "cookie banner\ngamma text"),
        ],
        "doc_id bigint, text string",
    )
    out = {
        r.doc_id: r
        for r in linededup.boilerplate_strip(docs, min_docs=3).collect()
    }
    assert out[1].clean_text == "alpha text\nunique aside\nomega text"
    assert out[2].clean_text == "beta text\nunique aside"
    assert out[3].clean_text == "gamma text"
    assert (out[1].n_segments, out[1].n_removed) == (4, 1)
    assert (out[3].n_segments, out[3].n_removed) == (2, 1)


def test_boilerplate_all_removed_doc_survives_empty(spark):
    docs = spark.createDataFrame(
        [(1, "same line"), (2, "same line"), (3, "same line\nextra")],
        "doc_id bigint, text string",
    )
    out = {
        r.doc_id: r
        for r in linededup.boilerplate_strip(docs, min_docs=2).collect()
    }
    # doc 1 is 100% boilerplate: present, empty, accounted — not dropped
    assert set(out) == {1, 2, 3}
    assert out[1].clean_text == "" and out[1].n_removed == 1
    assert out[3].clean_text == "extra"


def test_boilerplate_empty_lines_never_count(spark):
    # blank lines are in every doc but must not become 'boilerplate'
    docs = spark.createDataFrame(
        [(1, "a\n\nb"), (2, "c\n\nd"), (3, "e\n\nf")],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r.clean_text for r in
           linededup.boilerplate_strip(docs, min_docs=2).collect()}
    assert out[1] == "a\n\nb"  # blanks preserved in reassembly


def test_token_window_segmentation_covers_text(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "x y")], "doc_id bigint, text string"
    )
    segs = linededup.segment_token_windows(docs, w=3).collect()
    by_doc = {}
    for r in segs:
        by_doc.setdefault(r.doc_id, []).append((r.seg_pos, r.seg))
    assert sorted(by_doc[1]) == [(0, "a b c"), (1, "d e f"), (2, "g")]
    assert sorted(by_doc[2]) == [(0, "x y")]


def test_boilerplate_plan_has_no_window_or_udf(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d")], "doc_id bigint, text string"
    )
    plan = (
        linededup.boilerplate_strip(docs, min_docs=2, w=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cms_overestimates_never_under(spark):
    rows = [(f"tok{i % 7}",) for i in range(100)] + [("rare",)]
    items = spark.createDataFrame(rows, "tok string")
    truth = {
        r.tok: r.cnt
        for r in items.groupBy("tok").agg(F.count("*").alias("cnt")).collect()
    }
    sketch = sketches.cms_build(items, "tok", d=3, width=16)
    est = {
        r.tok: r.est
        for r in sketches.cms_estimate(
            sketch, items.select("tok").distinct(), "tok", d=3, width=16
        ).collect()
    }
    assert set(est) == set(truth)
    for tok, t in truth.items():
        assert est[tok] >= t, f"{tok}: est {est[tok]} < true {t}"


def test_cms_exact_when_no_collisions(spark):
    # 4 keys into width=512, d=3: collision probability ~0 under the
    # fixed hash family — estimates are exact
    items = spark.createDataFrame(
        [("a",)] * 5 + [("b",)] * 3 + [("c",)] * 2 + [("d",)],
        "tok string",
    )
    sketch = sketches.cms_build(items, "tok", d=3, width=512)
    est = {
        r.tok: r.est
        for r in sketches.cms_estimate(
            sketch, items.select("tok").distinct(), "tok", d=3, width=512
        ).collect()
    }
    assert est == {"a": 5, "b": 3, "c": 2, "d": 1}


def test_cms_mergeable_by_counter_addition(spark):
    # the property that makes CMS the streaming structure: sketch(A u B)
    # == sketch(A) + sketch(B), counter-wise
    rows = [(f"t{i % 11}",) for i in range(60)]
    a = spark.createDataFrame(rows[:25], "tok string")
    b = spark.createDataFrame(rows[25:], "tok string")
    whole = spark.createDataFrame(rows, "tok string")
    d, w = 3, 32
    merged = (
        sketches.cms_build(a, "tok", d, w)
        .unionAll(sketches.cms_build(b, "tok", d, w))
        .groupBy("h_idx", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    got = {(r.h_idx, r.bucket): r.cnt for r in merged.collect()}
    want = {
        (r.h_idx, r.bucket): r.cnt
        for r in sketches.cms_build(whole, "tok", d, w).collect()
    }
    assert got == want


def test_cms_sketch_size_bounded(spark):
    # 10k items cannot produce more than d*width counter rows
    items = spark.createDataFrame(
        [(f"k{i}",) for i in range(10_000)], "tok string"
    )
    assert sketches.cms_build(items, "tok", d=3, width=64).count() <= 3 * 64


def test_classifier_matches_python_reference(spark):
    from legal_data_ingestion_rag_pipeline_spark.functions import portable as PT
    from legal_data_ingestion_rag_pipeline_spark.operators import classifier

    dim = 32
    w = classifier.demo_weights(dim)

    def py_score(text: str, bias: float) -> float:
        s = bias
        for t in text.lower().split():
            if not t:
                continue
            h = 7
            for ch in t:
                h = (h * 31 + ord(ch)) % PT.P
            s += w[h % dim]
        return s

    docs = spark.createDataFrame(
        [(1, "Alpha beta GAMMA"), (2, "one"), (3, ""), (4, "x  y   z")],
        "doc_id bigint, text string",
    )
    out = {
        r.doc_id: (r.score, r.keep)
        for r in classifier.score_documents(docs, w, bias=0.1).collect()
    }
    for i, text in [(1, "Alpha beta GAMMA"), (2, "one"), (3, ""), (4, "x  y   z")]:
        want = py_score(text, 0.1)
        assert abs(out[i][0] - want) < 1e-12, (i, out[i][0], want)
        assert out[i][1] == (want >= 0.0)


def test_classifier_scoring_is_shuffle_free(spark):
    from legal_data_ingestion_rag_pipeline_spark.operators import classifier

    docs = spark.createDataFrame(
        [(1, "some text here")], "doc_id bigint, text string"
    )
    plan = (
        classifier.score_documents(docs, classifier.demo_weights(64))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bpe_learns_classic_merges(spark):
    from legal_data_ingestion_rag_pipeline_spark.operators import bpe

    # the Sennrich toy: 'low' x5, 'lower' x2, 'newest' x6, 'widest' x3
    text = " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3)
    docs = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
    merges = bpe.train_merges(docs, 4)
    # first merge must be the most frequent pair: (e, s) count 9
    assert merges[0] == ("e", "s", 9)
    assert merges[1] == ("es", "t", 9)
    # all ranks strictly ordered by the (count desc, pair asc) rule
    assert all(isinstance(c, int) and c > 0 for _, _, c in merges)


def test_bpe_spark_matches_python_twin_fuzz(spark):
    import random

    from legal_data_ingestion_rag_pipeline_spark.operators import bpe

    from fixtures import fuzz_trials

    rng = random.Random(20260814)
    for trial in range(fuzz_trials(3, 1)):  # head slice: draws unchanged
        vocab = ["ab", "aab", "abb", "ba", "bab", "aa", "bb", "abab"]
        words = [rng.choice(vocab) for _ in range(60)]
        text = " ".join(words)
        docs = spark.createDataFrame(
            [(i, text) for i in range(2)], "doc_id bigint, text string"
        )
        counts: dict[str, int] = {}
        for w in words:
            counts[w] = counts.get(w, 0) + 2  # two identical docs
        got = bpe.train_merges(docs, 6)
        want = bpe.train_merges_py(counts, 6)
        assert got == want, f"trial {trial}: {got} != {want}"


def test_bpe_apply_merges_encodes(spark):
    from pyspark.sql import functions as F

    from legal_data_ingestion_rag_pipeline_spark.operators import bpe

    docs = spark.createDataFrame(
        [(1, "aaab aaab abab")], "doc_id bigint, text string"
    )
    merges = bpe.train_merges(docs, 2)
    words = bpe.word_frequencies(docs).withColumn(
        "syms", F.expr("split(word, '')")
    )
    enc = {r.word: r.syms for r in bpe.apply_merges(words, merges).collect()}
    # every learned merge shrinks the sequences it applies to, and
    # encoding matches the python twin applied in rank order
    for w, syms in enc.items():
        ref = list(w)
        for p1, p2, _ in merges:
            ref = bpe._merge_word_py(ref, p1, p2)
        assert syms == ref, (w, syms, ref)
        assert len(syms) < len(w)


def _trained_table(n_words: int, word_len: int, n_merges: int):
    """A deterministic trained merge table over a synthetic hex-digest
    vocabulary (no Date/random: content-addressed words)."""
    import hashlib

    from legal_data_ingestion_rag_pipeline_spark.operators import bpe

    words = [
        hashlib.sha256(str(i).encode()).hexdigest()[:word_len]
        for i in range(n_words)
    ]
    counts = {w: (i % 7) + 1 for i, w in enumerate(words)}
    return words, bpe.train_merges_py(counts, n_merges)


def test_apply_merges_arrow_matches_fold_above_threshold(spark):
    """The Arrow encoder must be bit-equal to the chained-fold path on
    a trained table just past FOLD_MAX_MERGES — the IVF GEMM-fallback
    parity convention (both paths forced explicitly)."""
    from legal_data_ingestion_rag_pipeline_spark.operators import bpe

    words, merges = _trained_table(160, 16, bpe.FOLD_MAX_MERGES + 12)
    assert len(merges) == bpe.FOLD_MAX_MERGES + 12
    df = spark.createDataFrame(
        [(w,) for w in words] + [(None,)], "word string"
    ).withColumn("syms", F.expr("split(word, '')"))
    fold = {
        r.word: r.syms
        for r in bpe.apply_merges(df, merges, mode="fold").collect()
    }
    arrow = {
        r.word: r.syms
        for r in bpe.apply_merges(df, merges, mode="arrow").collect()
    }
    assert set(fold) == set(arrow) and len(fold) == 161
    for w in fold:
        assert fold[w] == arrow[w], (w, fold[w], arrow[w])
    assert fold[None] is None  # NULL syms stay NULL on both paths


def test_rank_encode_matches_sequential_at_1k_merges(spark):
    """The rank-dict shortcut == sequential rank-order application for
    trained tables, at production scale (>= 1000 merges) — pure-Python
    equivalence check, then the Spark Arrow path at the same table
    size to prove the plan does NOT cliff where the fold would."""
    from legal_data_ingestion_rag_pipeline_spark.operators import bpe

    words, merges = _trained_table(400, 20, 1200)
    assert len(merges) >= 1000, len(merges)
    ranks = {(l, r): i for i, (l, r, _) in enumerate(merges)}
    pairs = [(l, r) for l, r, _ in merges]
    expected = {}
    for w in words:
        seq = list(w)
        for p1, p2, _ in merges:
            seq = bpe._merge_word_py(seq, p1, p2)
        assert bpe._rank_encode_py(list(w), ranks, pairs) == seq, w
        expected[w] = seq

    df = spark.createDataFrame(
        [(w,) for w in words[:50]], "word string"
    ).withColumn("syms", F.expr("split(word, '')"))
    got = {r.word: r.syms for r in bpe.apply_merges(df, merges).collect()}
    assert got == {w: expected[w] for w in words[:50]}


def _domain_docs(spark, n=120, n_dom=6):
    return spark.createDataFrame(
        [(i, f"dom{i % n_dom}", f"text {i}") for i in range(n)],
        "doc_id bigint, source string, text string",
    )


def test_blocklist_and_allowlist_filters(spark):
    from legal_data_ingestion_rag_pipeline_spark.operators import domains

    docs = _domain_docs(spark)
    blocked = domains.filter_blocklist(docs, ["dom1", "dom4"])
    assert blocked.count() == 80
    assert set(r.source for r in blocked.select("source").distinct().collect()) == {
        "dom0", "dom2", "dom3", "dom5"
    }
    allowed = domains.filter_allowlist(docs, ["dom1"])
    assert allowed.count() == 20
    # DataFrame-typed lists behave the same as iterables
    bl_df = spark.createDataFrame([("dom1",), ("dom4",)], "source string")
    assert domains.filter_blocklist(docs, bl_df).count() == 80


def test_quota_sample_bounded_and_repartition_invariant(spark):
    """Quota holds per domain, slots are 1..quota, and the selection
    is a pure function of the data — identical under different
    physical partitionings (the determinism DataFrame.sample lacks)."""
    from legal_data_ingestion_rag_pipeline_spark.operators import domains

    docs = _domain_docs(spark)
    a = sorted(
        (r.source, r.doc_id, r.slot)
        for r in domains.quota_sample(docs.repartition(7), 5).collect()
    )
    b = sorted(
        (r.source, r.doc_id, r.slot)
        for r in domains.quota_sample(docs.repartition(3), 5).collect()
    )
    assert a == b and len(a) == 30  # 6 domains x quota 5
    per_dom: dict[str, list[int]] = {}
    for src, _, slot in a:
        per_dom.setdefault(src, []).append(slot)
    for src, slots in per_dom.items():
        assert sorted(slots) == [1, 2, 3, 4, 5], (src, slots)


def test_quota_sample_matches_plain_window(spark):
    """The two-phase plan is bit-equal to the naive single-window
    top-k it replaces (the _two_phase_topk equivalence argument)."""
    from pyspark.sql import Window

    from legal_data_ingestion_rag_pipeline_spark.functions import portable as PT
    from legal_data_ingestion_rag_pipeline_spark.operators import domains

    docs = _domain_docs(spark, n=90, n_dom=4)
    got = sorted(
        (r.source, r.doc_id, r.slot)
        for r in domains.quota_sample(docs, 7).collect()
    )
    w = Window.partitionBy("source").orderBy(
        F.asc(F.expr(domains.rank_expr("source", "doc_id", PT.SPARK))),
        F.asc("doc_id"),
    )
    want = sorted(
        (r.source, r.doc_id, r.slot)
        for r in docs.withColumn(
            "slot", F.row_number().over(w).cast("bigint")
        )
        .filter(F.col("slot") <= 7)
        .select("source", "doc_id", "slot")
        .collect()
    )
    assert got == want


def test_quota_sample_small_domain_kept_whole(spark):
    from legal_data_ingestion_rag_pipeline_spark.operators import domains

    docs = spark.createDataFrame(
        [(1, "tiny", "a"), (2, "tiny", "b")]
        + [(10 + i, "big", f"t{i}") for i in range(40)],
        "doc_id bigint, source string, text string",
    )
    out = domains.quota_sample(docs, 10)
    by_dom = {
        r.source: r.n
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert by_dom == {"tiny": 2, "big": 10}


def test_null_text_documents_survive_everywhere(spark):
    """NULL text must never silently delete a document (the round-4
    streaming-key lesson): segmentation treats it as '', the
    classifier scores it as bias, and cms_build skips NULL keys
    instead of accumulating phantom counters."""
    from legal_data_ingestion_rag_pipeline_spark.operators import classifier

    docs = spark.createDataFrame(
        [(1, None), (2, "real text"), (3, "real text")],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in
           linededup.boilerplate_strip(docs, min_docs=2).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1].clean_text == "" and out[1].n_removed == 0

    out_w = {r.doc_id: r for r in
             linededup.boilerplate_strip(docs, min_docs=2, w=2).collect()}
    assert set(out_w) == {1, 2, 3}

    scored = {r.doc_id: (r.score, r.keep) for r in
              classifier.score_documents(
                  docs, classifier.demo_weights(16), bias=0.25
              ).collect()}
    assert scored[1] == (0.25, True)

    items = spark.createDataFrame(
        [("a",), (None,), ("a",)], "tok string"
    )
    sk = sketches.cms_build(items, "tok", d=2, width=8).collect()
    assert all(r.bucket is not None for r in sk)
    assert sum(r.cnt for r in sk) == 2 * 2  # two non-null items x d


def test_jaccard_rerank_reorders_pool(spark):
    from legal_data_ingestion_rag_pipeline_spark.operators import rerank

    # doc 2 has lower stage-1 score but perfect term overlap -> rank 1
    cands = spark.createDataFrame(
        [
            (1, 9.0, "alpha beta gamma delta epsilon zeta"),
            (2, 5.0, "vector merge"),
            (3, 7.0, "vector alpha beta gamma"),
        ],
        "doc_id bigint, score double, text string",
    )
    out = rerank.jaccard_rerank(cands, ["vector", "merge"], k=3).collect()
    assert [r.doc_id for r in out] == [2, 3, 1]
    assert out[0].rerank_score == 1.0
    assert out[2].rerank_score == 0.0
    assert "text" not in out[0].asDict()
    # per-query windowed variant
    multi = cands.withColumn("q_id", F.lit(7))
    got = rerank.jaccard_rerank(
        multi, ["vector", "merge"], k=2, q_id="q_id"
    ).collect()
    assert [r.doc_id for r in got] == [2, 3]


def test_cross_encoder_reranker_import_gated(spark):
    import pytest as _pytest

    from legal_data_ingestion_rag_pipeline_spark.operators import rerank

    with _pytest.raises(NotImplementedError, match="jaccard_rerank"):
        rerank.CrossEncoderReranker()


def test_histogram_quantiles_within_error_bound_and_mergeable(spark):
    """Every histogram quantile estimate lands within its own
    max_err of the exact percentile, and two half-corpus histograms
    merged by counter addition equal the whole-corpus histogram."""
    import numpy as np

    rng = np.random.default_rng(20260814)
    vals = [float(v) for v in rng.gamma(2.0, 50.0, 4000)]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    lo, hi = min(vals), max(vals)
    qs = [0.25, 0.5, 0.75, 0.95]
    hist = sketches.histogram_build(df, "x", lo, hi, n_bins=128)
    out = {r.q: r for r in
           sketches.histogram_quantiles(hist, qs, lo, hi, n_bins=128).collect()}
    exact = {q: float(np.quantile(vals, q)) for q in qs}
    for q in qs:
        r = out[q]
        assert abs(r.estimate - exact[q]) <= r.max_err + 1e-9, (
            q, r.estimate, exact[q], r.max_err
        )

    a = spark.createDataFrame([(v,) for v in vals[:2000]], "x double")
    b = spark.createDataFrame([(v,) for v in vals[2000:]], "x double")
    merged = (
        sketches.histogram_build(a, "x", lo, hi, 128)
        .unionAll(sketches.histogram_build(b, "x", lo, hi, 128))
        .groupBy("bin")
        .agg(F.sum("cnt").alias("cnt"))
    )
    got = {(r.bin): r.cnt for r in merged.collect()}
    want = {(r.bin): r.cnt for r in hist.collect()}
    assert got == want


def test_curation_v3_classifier_predicate_pipelines(spark):
    """The v3 composition must stay one lazy plan: the classifier
    keep-predicate appears as a Filter feeding the segmentation
    explode (docs rejected by the classifier never reach the segment
    shuffle), and no Python stages exist anywhere."""
    from legal_data_ingestion_rag_pipeline_spark.plans.registry import registry

    df = registry()["curation_pipeline_v3"].spark(
        spark, "/root/testdata/sf0.001"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "explode" in plan  # segmentation stage present
    # the classifier fold (SQL `aggregate(...)`) evaluates inside a
    # Filter predicate, not as a post-hoc pass over segmented rows
    assert any(
        "aggregate(" in line
        for line in plan.splitlines()
        if line.lstrip().startswith(("Filter", "+- Filter", ": +- Filter"))
        or "Filter (" in line
    ), "classifier predicate not found in any Filter node"


def test_histogram_degenerate_constant_data(spark):
    # lo == hi: bin math divides by zero -> NULL -> coalesced to bin 0;
    # every quantile answers the constant with zero error width
    df = spark.createDataFrame([(5.0,)] * 50, "x double")
    hist = sketches.histogram_build(df, "x", 5.0, 5.0, n_bins=16)
    rows = hist.collect()
    assert len(rows) == 1 and rows[0].bin == 0 and rows[0].cnt == 50
    out = sketches.histogram_quantiles(hist, [0.5], 5.0, 5.0, 16).collect()
    assert out[0].estimate == 5.0 and out[0].max_err == 0.0


def test_rerank_terms_with_quotes_escaped(spark):
    from legal_data_ingestion_rag_pipeline_spark.operators import rerank

    cands = spark.createDataFrame(
        [(1, 2.0, "o'reilly writes books"), (2, 3.0, "nothing relevant")],
        "doc_id bigint, score double, text string",
    )
    out = rerank.jaccard_rerank(cands, ["o'reilly"], k=2).collect()
    assert out[0].doc_id == 1 and out[0].rerank_score > 0
    assert out[1].rerank_score == 0.0


def test_lm_perplexity_orders_common_vs_rare(spark):
    """A doc made of the corpus's dominant bigram must score LOWER
    (less surprising) than a doc of one-off bigrams; tiny docs
    survive with n_bigrams=0."""
    from legal_data_ingestion_rag_pipeline_spark.operators import lm

    docs = spark.createDataFrame(
        [(i, "the cat sat on the mat") for i in range(1, 9)]
        + [(9, "zebra quantum flies purple"), (10, "solo")],
        "doc_id bigint, text string",
    )
    uni, bi, v = lm.train_bigram_lm(docs)
    out = {r.doc_id: r for r in lm.perplexity_score(docs, uni, bi, v).collect()}
    assert set(out) == set(range(1, 11))
    assert out[1].avg_nlp_micro < out[9].avg_nlp_micro
    assert out[10].n_bigrams == 0 and out[10].sum_nlp_micro == 0
    assert out[10].avg_nlp_micro == 0
    # identical docs score identically (pure function of content)
    assert out[1].sum_nlp_micro == out[8].sum_nlp_micro


def test_intradoc_segment_dedup_first_kept_blanks_survive(spark):
    from legal_data_ingestion_rag_pipeline_spark.operators import linededup

    segs = spark.createDataFrame(
        [
            (1, 0, "hello"), (1, 1, "again"), (1, 2, "hello"), (1, 3, "end"),
            (2, 0, ""), (2, 1, "x"), (2, 2, ""), (2, 3, "x"),
        ],
        "doc_id bigint, seg_pos bigint, seg string",
    )
    out = {
        r.doc_id: r
        for r in linededup.dedup_segments_within_doc(segs).collect()
    }
    assert out[1].clean_text == "hello again end"
    assert (out[1].n_segments, out[1].n_removed) == (4, 1)
    # blank segments are never repeats; repeated 'x' is
    assert out[2].clean_text == " x "
    assert (out[2].n_segments, out[2].n_removed) == (4, 1)


def test_cms_weighted_build_equals_unweighted(spark):
    """cms_build from a pre-aggregated (key, count) table must produce
    bit-identical counters to the raw-item build."""
    rows = [(f"t{i % 9}",) for i in range(70)]
    items = spark.createDataFrame(rows, "tok string")
    agg = items.groupBy("tok").agg(F.count("*").alias("c"))
    raw = {
        (r.h_idx, r.bucket): r.cnt
        for r in sketches.cms_build(items, "tok", d=3, width=32).collect()
    }
    weighted = {
        (r.h_idx, r.bucket): r.cnt
        for r in sketches.cms_build(
            agg, "tok", d=3, width=32, weight_col="c"
        ).collect()
    }
    assert raw == weighted


def test_duplicate_spans_planted_and_merged(spark):
    """dedup.duplicate_spans on a hand-built corpus: a shared 8-token
    span between two docs covers exactly 8 tokens in each (single
    window -> k tokens); a 9-token shared run yields 2 overlapping
    windows whose merged interval covers 9 tokens, not 16; unique
    text, short (<k tokens) docs, and NULL text all report zero with
    the doc still present."""
    from legal_data_ingestion_rag_pipeline_spark.operators import dedup

    shared8 = "a1 a2 a3 a4 a5 a6 a7 a8"
    shared9 = "b1 b2 b3 b4 b5 b6 b7 b8 b9"
    docs = spark.createDataFrame(
        [
            (1, f"u1 u2 {shared8} v1 v2"),
            (2, f"w1 {shared8} w2 w3"),
            (3, f"{shared9} x1"),
            (4, f"y1 y2 {shared9}"),
            (5, "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10"),
            (6, "tiny doc"),
            (7, None),
        ],
        "doc_id bigint, text string",
    )
    out = {
        r.doc_id: r
        for r in dedup.duplicate_spans(docs, k=8).collect()
    }
    assert set(out) == {1, 2, 3, 4, 5, 6, 7}
    for d in (1, 2):  # one duplicated window, covers exactly k=8
        assert out[d].n_dup_windows == 1
        assert out[d].covered_tokens == 8
    for d in (3, 4):  # two overlapping windows merge to 9, not 16
        assert out[d].n_dup_windows == 2
        assert out[d].covered_tokens == 9
    assert abs(out[3].dup_fraction - 9 / 10) < 1e-6
    for d in (5, 6, 7):
        assert out[d].n_dup_windows == 0
        assert out[d].covered_tokens == 0
        assert out[d].dup_fraction == 0.0
    assert out[7].n_tokens == 0


def test_duplicate_spans_intra_document_repeat(spark):
    """A k-gram repeated twice WITHIN one document counts as
    duplicated (Lee et al. count occurrences, not documents): both
    occurrences mark their spans."""
    from legal_data_ingestion_rag_pipeline_spark.operators import dedup

    rep = "r1 r2 r3 r4 r5 r6 r7 r8"
    docs = spark.createDataFrame(
        [(1, f"{rep} gap1 gap2 {rep}"), (2, "other text entirely here")],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in dedup.duplicate_spans(docs, k=8).collect()}
    assert out[1].n_dup_windows == 2
    assert out[1].covered_tokens == 16  # two disjoint 8-token spans
    assert out[2].covered_tokens == 0


def test_compression_ratio_bands(spark):
    """The zlib signal separates the three curation bands: pure
    repetition compresses far below varied natural text, random-ish
    hex junk sits near/above natural text, NULL/empty report 0 with
    the doc kept."""
    from legal_data_ingestion_rag_pipeline_spark.functions.textstats import (
        compression_ratio_arrow,
    )

    docs = spark.createDataFrame(
        [
            (1, "spam " * 400),
            (2, "The quick brown fox jumps over the lazy dog. "
                "Judges rarely agree on procedural nuance, and every "
                "filing tells a slightly different story about venue."),
            (3, "9f8a7b6c5d4e3f2a1b0c" * 20),
            (4, None),
            (5, ""),
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in compression_ratio_arrow(docs, "text", "doc_id").collect()}
    assert set(out) == {1, 2, 3, 4, 5}
    assert out[1].compression_ratio < 0.05          # repetition collapses
    assert 0.3 < out[2].compression_ratio < 1.0     # natural language
    assert out[3].compression_ratio > out[1].compression_ratio
    for d in (4, 5):
        assert out[d].raw_bytes == 0 and out[d].compression_ratio == 0.0
    assert out[2].raw_bytes > out[2].compressed_bytes > 0


def test_canonical_url_collapses_variants_cross_engine(spark):
    """canonical_url_sql: host case, fragments, utm params (also
    consecutive), dangling separators, and trailing slashes all
    collapse; non-utm params and path case survive; Spark and DuckDB
    produce IDENTICAL strings (escaping / 'g'-flag / backref dialect
    traps are exactly what this pins)."""
    import duckdb

    from legal_data_ingestion_rag_pipeline_spark.operators.domains import (
        canonical_url_sql,
    )

    cases = {
        "HTTPS://Example.COM/Path/?utm_source=x&a=1#frag":
            "https://example.com/Path/?a=1",
        "https://example.com/Path?a=1&utm_campaign=z":
            "https://example.com/Path?a=1",
        "https://example.com/Path/": "https://example.com/Path",
        "https://example.com/Path?utm_source=only":
            "https://example.com/Path",
        "http://EX.com/A/b?utm_a=1&utm_b=2&c=3": "http://ex.com/A/b?c=3",
        "https://ex.com/plain": "https://ex.com/plain",
    }
    con = duckdb.connect()
    dsql = canonical_url_sql("u", "duckdb")
    ssql = canonical_url_sql("u", "spark")
    df = spark.createDataFrame([(u,) for u in cases], "u string")
    got_spark = {
        r.u: r.c for r in df.selectExpr("u", f"{ssql} AS c").collect()
    }
    for url, want in cases.items():
        got_duck = con.sql(
            f"SELECT {dsql} FROM (VALUES ('{url}')) t(u)"
        ).fetchall()[0][0]
        assert got_spark[url] == want, (url, got_spark[url])
        assert got_duck == want, (url, got_duck)


def test_classifier_training_twin_parity_and_teacher_reproduction(spark):
    """In-Spark distillation training (classifier.train_distilled_
    weights): (a) the Spark-trained micro-unit weight vector equals
    the pure-Python twin's bit-for-bit (exact integer Gram/moments ->
    identical driver solve), and (b) scoring with the trained weights
    reproduces the fixed-literal teacher's keep decision on every
    training document — the distillation target is exactly
    representable because student and teacher share the feature map."""
    import duckdb

    from legal_data_ingestion_rag_pipeline_spark.operators import classifier
    from legal_data_ingestion_rag_pipeline_spark.session import load_table

    sf = "/root/testdata/sf0.001"
    dim, bias = 256, 0.05
    teacher_w = classifier.demo_weights(dim)
    docs = load_table(spark, sf, "documents").select("doc_id", "text")

    w_spark = classifier.train_distilled_weights(docs, teacher_w, bias, dim)
    rows = duckdb.connect().execute(
        f"SELECT doc_id, text FROM '{sf}/documents.parquet' ORDER BY doc_id"
    ).fetchall()
    w_twin = classifier.train_distilled_weights_py(rows, teacher_w, bias, dim)
    assert w_spark == w_twin

    teacher = {
        r.doc_id: r.keep
        for r in classifier.score_documents(docs, teacher_w, bias=bias).collect()
    }
    student = {
        r.doc_id: r.keep
        for r in classifier.score_documents_micro(docs, w_spark).collect()
    }
    assert student == teacher


def test_gram_artifact_probe_reads_only_parquet(spark, tmp_path):
    """The standing gram artifact (dedup.write_gram_artifact): the
    probe plan's FileScans all point at the artifact — no text scan,
    no gram recomputation (the 'standing table never rebuilt on
    probe' contract); appending a batch IS the incremental update;
    and the artifact-driven span accounting is row-identical to the
    in-plan duplicate_spans over the same corpus."""
    from legal_data_ingestion_rag_pipeline_spark.operators import dedup
    from legal_data_ingestion_rag_pipeline_spark.session import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    store = str(tmp_path / "grams")
    dedup.write_gram_artifact(
        docs.filter(F.col("doc_id") < 250), store, k=8, mode="overwrite"
    )
    dedup.write_gram_artifact(
        docs.filter(F.col("doc_id") >= 250), store, k=8, mode="append"
    )

    probe = dedup.duplicate_spans_from_artifact(spark, store, k=8)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    scans = [seg.split("\n")[0] for seg in plan.split("FileScan")[1:]]
    assert scans, "no FileScan in probe plan"
    for head in scans:
        # every scan projects artifact columns only — recomputing a
        # gram would require reading the text column
        assert "text" not in head, head
        assert "gram_hash" in head or "n_tokens" in head, head

    inplan = dedup.duplicate_spans(docs, "doc_id", "text", k=8)
    key = lambda r: r.doc_id  # noqa: E731
    got = {
        key(r): (r.n_tokens, r.n_dup_windows, r.covered_tokens, r.dup_fraction)
        for r in probe.collect()
    }
    want = {
        key(r): (r.n_tokens, r.n_dup_windows, r.covered_tokens, r.dup_fraction)
        for r in inplan.collect()
    }
    assert got == want


def test_bloom_no_false_negatives_and_mergeable(spark):
    """Bloom set-membership (sketches.bloom_build/bloom_probe): every
    inserted key must hit (the one-sided guarantee decontamination
    relies on), absent keys mostly miss at this fill ratio, and two
    batch bitmaps merged by bit_or equal the single-pass bitmap."""
    from legal_data_ingestion_rag_pipeline_spark.operators import sketches

    inserted = spark.range(0, 200).select((F.col("id") * 7 + 3).alias("gh"))
    absent = spark.range(0, 200).select((F.col("id") * 7 + 100003).alias("gh"))
    bloom = sketches.bloom_build(inserted, "gh", k=4, m_words=64)

    hits = sketches.bloom_probe(bloom, inserted, "gh", k=4, m_words=64)
    assert all(r.might_contain for r in hits.collect())

    miss = sketches.bloom_probe(bloom, absent, "gh", k=4, m_words=64)
    fp = sum(1 for r in miss.collect() if r.might_contain)
    assert fp < 40  # deterministic, and far below saturation

    b1 = sketches.bloom_build(inserted.filter("gh < 700"), "gh", k=4, m_words=64)
    b2 = sketches.bloom_build(inserted.filter("gh >= 700"), "gh", k=4, m_words=64)
    merged = (
        b1.unionByName(b2)
        .groupBy("word_idx")
        .agg(F.expr("bit_or(word)").alias("word"))
    )
    one = {(r.word_idx, r.word) for r in bloom.collect()}
    two = {(r.word_idx, r.word) for r in merged.collect()}
    assert one == two


def test_hll_registers_bounded_mergeable_and_estimate_sane(spark):
    """HyperLogLog (sketches.hll_register/hll_estimate): the register
    table never exceeds 2^b rows, two batch register tables merged by
    register-wise max equal the single-pass table (the property that
    makes HLL the partitioned-cardinality structure), and the raw
    estimate lands within the expected ~1.04/sqrt(m) relative error
    of the true distinct count."""
    from legal_data_ingestion_rag_pipeline_spark.operators import sketches

    n = 5000
    items = spark.range(n).selectExpr("CAST(id * 2654435761 % 1000003 AS STRING) AS k")
    b = 8
    regs = sketches.hll_register(items, "k", b=b)
    assert regs.count() <= (1 << b)

    r1 = sketches.hll_register(items.filter("CAST(k AS BIGINT) % 2 = 0"), "k", b=b)
    r2 = sketches.hll_register(items.filter("CAST(k AS BIGINT) % 2 = 1"), "k", b=b)
    merged = (
        r1.unionByName(r2)
        .groupBy("bucket")
        .agg(F.max("max_rank").alias("max_rank"))
    )
    one = {(r.bucket, r.max_rank) for r in regs.collect()}
    two = {(r.bucket, r.max_rank) for r in merged.collect()}
    assert one == two

    true_distinct = items.distinct().count()
    est = sketches.hll_estimate(regs, b=b).collect()[0].est_hll
    rel = abs(est - true_distinct) / true_distinct
    assert rel < 0.25, (est, true_distinct, rel)  # ~3.8x the 6.5% std error


def test_bloom_prefilter_is_mapside_and_lossless(spark):
    """The literal-bitmap Bloom prefilter (bloom_might_contain_sql):
    (a) the probe predicate is a pure projection — the probed side's
    plan has no Exchange before the filter; (b) every true match
    survives (no false negatives), so prefilter + exact join == plain
    join exactly."""
    from legal_data_ingestion_rag_pipeline_spark.functions import portable as PT
    from legal_data_ingestion_rag_pipeline_spark.operators import sketches
    from legal_data_ingestion_rag_pipeline_spark.session import load_table

    sf = "/root/testdata/sf0.001"
    li = load_table(spark, sf, "lineitem")
    o = load_table(spark, sf, "orders").filter(F.col("o_totalprice") > 200000.0)
    okeys = o.selectExpr(
        f"{PT.poly_hash('CAST(o_orderkey AS STRING)', PT.SPARK)} AS kh"
    )
    bloom = sketches.bloom_build(okeys, "kh", k=4, m_words=256)
    bits = sketches.bloom_bits_literal(bloom, m_words=256)
    pred = sketches.bloom_might_contain_sql(
        PT.poly_hash("CAST(l_orderkey AS STRING)", PT.SPARK), bits, k=4,
        dialect=PT.SPARK,
    )
    survivors = li.filter(F.expr(pred))
    plan = survivors._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan

    match_keys = {r.o_orderkey for r in o.select("o_orderkey").collect()}
    li_match = {
        r.l_linenumber_key
        for r in li.filter(F.col("l_orderkey").isin(list(match_keys)))
        .selectExpr("concat(l_orderkey, '-', l_linenumber) AS l_linenumber_key")
        .collect()
    }
    surv_keys = {
        r.l_linenumber_key
        for r in survivors.selectExpr(
            "concat(l_orderkey, '-', l_linenumber) AS l_linenumber_key"
        ).collect()
    }
    assert li_match <= surv_keys  # no false negatives


def test_prefix_filter_reduces_candidates_with_full_recall(spark):
    """PPJoin prefix filtering: the prefix join generates strictly
    fewer candidate pairs than the full inverted index co-occurrence
    join, while the verified output equals the brute-force exact
    answer (complete recall — the gate also pins this vs DuckDB)."""
    from legal_data_ingestion_rag_pipeline_spark.functions import portable as PT
    from legal_data_ingestion_rag_pipeline_spark.operators import dedup
    from legal_data_ingestion_rag_pipeline_spark.session import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    grams = (
        docs.withColumn("tokens", F.expr(PT.tokens("text", PT.SPARK)))
        .withColumn("grams", F.expr(PT.word_ngrams("tokens", 3, PT.SPARK)))
        .select("doc_id", F.explode("grams").alias("gram"))
        .distinct()
    )
    full_pairs = (
        grams.alias("a")
        .join(grams.alias("b"), "gram")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id"), F.col("b.doc_id"))
        .distinct()
        .count()
    )
    out = dedup.prefix_filtered_jaccard_pairs(
        docs, "text", "doc_id", n=3, min_jaccard=0.4
    )
    # re-derive the candidate count the operator's prefix join produced
    # by running its stages: verified output is a subset of candidates,
    # so candidates >= output; the meaningful claim is candidates <<
    # full co-occurrence pairs. Count via the same prefix construction.
    t = 0.4
    dfc = grams.groupBy("gram").agg(F.count("*").alias("gram_df"))
    per_doc = (
        grams.join(dfc, "gram")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("gram_df", "gram"))).alias("s"))
        .select(
            "doc_id",
            F.expr(
                f"slice(transform(s, x -> x.gram), 1, CAST(floor((1.0 - {t}) * size(s)) + 1 AS INT))"
            ).alias("prefix"),
        )
    )
    pf = per_doc.select("doc_id", F.explode("prefix").alias("gram"))
    cand = (
        pf.alias("a")
        .join(pf.alias("b"), "gram")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id"), F.col("b.doc_id"))
        .distinct()
        .count()
    )
    assert cand < full_pairs, (cand, full_pairs)
    assert out.count() > 0  # sf0.001 contains near-dup pairs


def test_kneser_ney_distribution_sums_to_one(spark):
    """The KN closure property through the ACTUAL Spark-built model
    tables: for every history w1, the rational P_KN numerators over
    the full vocabulary sum EXACTLY to the denominator 4*c(w1 .)*B —
    seen bigrams contribute max(4c2-3,0)*B + 3*n1p*ncont, unseen ones
    the continuation term alone, and sum(ncont) == B makes the whole
    thing telescope. Exact integers, no tolerance."""
    from legal_data_ingestion_rag_pipeline_spark.operators import lm

    docs = spark.createDataFrame(
        [(1, "a b a c a b"), (2, "b a b c"), (3, "c a")],
        "doc_id bigint, text string",
    )
    bi, w1s, w2s, b = lm.train_kneser_ney_lm(docs)
    c2 = {r["bigram"]: r["c2"] for r in bi.collect()}
    h = {r["_w1"]: (r["c1w"], r["n1p_fw"]) for r in w1s.collect()}
    ncont = {r["_w2"]: r["ncont"] for r in w2s.collect()}
    assert sum(ncont.values()) == b
    vocab = set(ncont) | set(h)
    for w1, (c1w, n1p) in h.items():
        num_total = 0
        for w2 in vocab:
            c = c2.get(w1 + lm.SEP + w2, 0)
            num_total += max(4 * c - 3, 0) * b + 3 * n1p * ncont.get(w2, 0)
        assert num_total == 4 * c1w * b, w1


def test_kneser_ney_scoring_contract(spark):
    """Every input doc survives scoring (n_bigrams = len-1, 0 for
    short docs) and the micro sums are consistent with the average."""
    from legal_data_ingestion_rag_pipeline_spark.operators import lm

    docs = spark.createDataFrame(
        [(1, "a b a c"), (2, "solo"), (3, ""), (4, "b a")],
        "doc_id bigint, text string",
    )
    bi, w1s, w2s, b = lm.train_kneser_ney_lm(docs)
    out = {
        r["doc_id"]: r
        for r in lm.kneser_ney_score(docs, bi, w1s, w2s, b).collect()
    }
    assert set(out) == {1, 2, 3, 4}
    assert out[1]["n_bigrams"] == 3
    assert out[2]["n_bigrams"] == 0 and out[2]["sum_nlp_micro"] == 0
    assert out[3]["n_bigrams"] == 0
    assert out[4]["n_bigrams"] == 1
    for r in out.values():
        assert r["sum_nlp_micro"] >= 0  # probabilities never exceed 1
        assert r["avg_nlp_micro"] == r["sum_nlp_micro"] // max(
            r["n_bigrams"], 1
        )


def test_temperature_mixture_apportionment_exact(spark):
    """Largest-remainder apportionment: allocations sum EXACTLY to the
    budget, every extra is 0/1 and goes to the largest remainders,
    and the temperature weight is monotone in domain mass."""
    from legal_data_ingestion_rag_pipeline_spark.plans.registry import registry

    rows = registry()["temperature_mixture_weights"].spark(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows
    assert sum(r["alloc"] for r in rows) == 1_000_000
    assert all(r["extra"] in (0, 1) for r in rows)
    assert all(r["alloc"] == r["base_alloc"] + r["extra"] for r in rows)
    by_mass = sorted(rows, key=lambda r: r["mass"])
    for a, bb in zip(by_mass, by_mass[1:]):
        assert a["w_milli"] <= bb["w_milli"]
    # temperature flattens: weight ratio is strictly inside the mass
    # ratio for distinct masses (0.7 < 1)
    lo, hi = by_mass[0], by_mass[-1]
    if lo["mass"] < hi["mass"]:
        assert hi["w_milli"] * lo["mass"] < lo["w_milli"] * hi["mass"]


def test_unigram_viterbi_is_globally_optimal():
    """Brute force over ALL segmentations: the DP's cost matches the
    true minimum, and its tie rule (longest piece first on equal
    cost) picks a valid argmin."""
    from itertools import product

    from legal_data_ingestion_rag_pipeline_spark.operators import unigram

    costs = {
        "a": 5, "b": 7, "c": 9, "ab": 11, "bc": 13, "abc": 30, "ca": 10,
    }

    def brute(word):
        best = None
        n = len(word)
        for cuts in product([0, 1], repeat=n - 1):
            pieces, start = [], 0
            for i, cut in enumerate(cuts, 1):
                if cut:
                    pieces.append(word[start:i])
                    start = i
            pieces.append(word[start:])
            if all(p in costs for p in pieces):
                c = sum(costs[p] for p in pieces)
                if best is None or c < best:
                    best = c
        return best

    for word in ["abc", "abca", "cabcab", "aaaa", "bcbc", "cab"]:
        seg = unigram.viterbi_segment(word, costs)
        want = brute(word)
        if want is None:
            assert seg is None
        else:
            assert seg is not None and "".join(seg) == word
            assert sum(costs[p] for p in seg) == want
    assert unigram.viterbi_segment("abx", costs) is None  # x not in vocab


def test_unigram_spark_training_matches_python_twin(spark):
    """The distributed seeding + hard-EM reproduces the sparkless
    twin exactly on a toy corpus (integer counts, shared pure
    functions — the bpe parity convention)."""
    from legal_data_ingestion_rag_pipeline_spark.operators import unigram

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the cat ate the rat"),
            (3, "mat rat cat   the the"),
            (4, ""),
        ],
        "doc_id bigint, text string",
    )
    got = unigram.train_unigram(docs)
    wc = {}
    for t in [r["text"] for r in docs.collect()]:
        for w in t.lower().split():
            wc[w] = wc.get(w, 0) + 1
    want = unigram.train_unigram_py(wc)
    assert got == want
    stats = {
        r["doc_id"]: (r["n_words"], r["n_pieces"], r["sum_cost_micro"])
        for r in unigram.encode_stats(docs, got).collect()
    }
    assert set(stats) == {1, 2, 3, 4}
    assert stats[4] == (0, 0, 0)  # empty doc survives with zeros
    assert stats[3][0] == 5
    for nw, npcs, c in stats.values():
        assert npcs >= nw or nw == 0  # every word is >= 1 piece
        assert c >= 0


def test_weighted_reservoir_matches_exhaustive_ares(spark):
    """The distributed top-k selects EXACTLY the k rows an exhaustive
    A-Res priority computation ranks first (pure-Python twin over the
    same parquet, same hash, same pico snap)."""
    import math

    import pyarrow.parquet as pq_

    from legal_data_ingestion_rag_pipeline_spark.plans.registry import registry

    sf = "/root/testdata/sf0.001"
    got = [
        (r["doc_id"], r["weight"], r["pri_pico"])
        for r in registry()["weighted_reservoir_sample"]
        .spark(spark, sf)
        .collect()
    ]
    t = pq_.read_table(f"{sf}/documents.parquet", columns=["doc_id", "n_chars"])
    P = 1_000_000_007
    want = []
    for doc_id, w in zip(
        t.column("doc_id").to_pylist(), t.column("n_chars").to_pylist()
    ):
        if w <= 0:
            continue
        h = 7
        for ch in f"ares{doc_id}":
            h = (h * 31 + ord(ch)) % P
        u = float(h + 1) / 1000000008.0
        pri = math.floor(math.log(u) / float(w) * 1e12 + 0.5)
        want.append((doc_id, w, pri))
    want.sort(key=lambda r: (-r[2], r[0]))
    assert got == want[:50]
    assert len({d for d, _, _ in got}) == len(got)  # without replacement
    assert all(p < 0 for _, _, p in got)  # ln(u) < 0 for u in (0,1)


def test_rendezvous_minimal_movement(spark):
    """HRW's defining guarantee: dropping shard 7 moves EXACTLY the
    keys that lived on shard 7 — every off-diagonal cell of the
    movement matrix has shard_8 == 7."""
    from legal_data_ingestion_rag_pipeline_spark.plans.registry import registry

    rows = registry()["rendezvous_sharding"].spark(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert sum(r["n_docs"] for r in rows) == 500
    for r in rows:
        assert 0 <= r["shard_8"] <= 7 and 0 <= r["shard_7"] <= 6
        if r["shard_8"] != r["shard_7"]:
            assert r["shard_8"] == 7, (r["shard_8"], r["shard_7"])
    # the 8-shard assignment actually uses multiple shards
    assert len({r["shard_8"] for r in rows}) >= 6


def test_ccnet_terciles_are_balanced(spark):
    """Within every source the three buckets differ by at most one
    document and partition the source exactly."""
    import collections

    from legal_data_ingestion_rag_pipeline_spark.plans.registry import registry

    rows = registry()["ccnet_perplexity_buckets"].spark(
        spark, "/root/testdata/sf0.001"
    ).collect()
    per_src = collections.defaultdict(dict)
    for r in rows:
        assert r["bucket"] in (0, 1, 2)
        per_src[r["source"]][r["bucket"]] = r["n_docs"]
        assert r["min_avg_nlp_micro"] <= r["max_avg_nlp_micro"]
    for src, buckets in per_src.items():
        sizes = [buckets.get(b, 0) for b in (0, 1, 2)]
        assert max(sizes) - min(sizes) <= 1, (src, sizes)
    # buckets are ordered by perplexity: head max <= middle min etc.
    for src, _ in per_src.items():
        rs = sorted(
            (r for r in rows if r["source"] == src), key=lambda r: r["bucket"]
        )
        for a, b in zip(rs, rs[1:]):
            assert a["max_avg_nlp_micro"] <= b["min_avg_nlp_micro"]


def test_dsir_selects_the_target_domain(spark):
    """The importance ranking is not just arithmetic: the top-100
    under the en-target LM is dominated by en documents, and the
    reported importance is exactly raw - target."""
    from legal_data_ingestion_rag_pipeline_spark.plans.registry import registry

    rows = registry()["dsir_importance_weights"].spark(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) == 100
    assert sum(1 for r in rows if r["lang"] == "en") >= 80
    for r in rows:
        assert (
            r["importance_micro"]
            == r["sum_nlp_raw_micro"] - r["sum_nlp_target_micro"]
        )


def test_curation_v6_respects_quotas(spark):
    """Per source: draw ranks are contiguous from 1 and the selected
    count never exceeds the largest-remainder quota; the grand total
    never exceeds the budget (and hits it exactly when no source
    exhausts its kept pool)."""
    import collections

    from legal_data_ingestion_rag_pipeline_spark.plans.registry import registry

    rows = registry()["curation_pipeline_v6"].spark(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert 0 < len(rows) <= 120
    per_src = collections.defaultdict(list)
    for r in rows:
        per_src[r["source"]].append(r["draw_rank"])
    for src, rks in per_src.items():
        assert sorted(rks) == list(range(1, len(rks) + 1)), src
    # priorities are valid A-Res keys and descend with draw rank
    for src in per_src:
        srows = sorted(
            (r for r in rows if r["source"] == src),
            key=lambda r: r["draw_rank"],
        )
        for a, b in zip(srows, srows[1:]):
            assert (a["pri_pico"], -a["doc_id"]) >= (b["pri_pico"], -b["doc_id"])
            assert a["pri_pico"] < 0


def test_unigram_prune_keeps_singles_and_respects_target(spark):
    from legal_data_ingestion_rag_pipeline_spark.operators import unigram

    docs = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the cat ate the rat")],
        "doc_id bigint, text string",
    )
    full = unigram.train_unigram(docs)
    singles = {p for p in full if len(p) == 1}
    target = len(singles) + 3
    pruned = unigram.train_unigram(docs, vocab_target=target)
    # parity with the twin through the prune round
    wc = {}
    for t in [r["text"] for r in docs.collect()]:
        for w in t.lower().split():
            wc[w] = wc.get(w, 0) + 1
    assert pruned == unigram.train_unigram_py(wc, vocab_target=target)
    # every single-char piece still present (segmentability floor)
    assert singles <= set(pruned)
    assert len(pruned) <= target
    # the post-prune E-step keeps every word segmentable: piece mass
    # is at least one piece per word occurrence
    assert sum(pruned.values()) >= sum(wc.values())


def test_histogram_store_merge_equals_rebuild(spark):
    """Counter-addition merge across appended batches reproduces the
    single-pass histogram EXACTLY (bin-for-bin), not just at the
    quantile level."""
    import os
    import tempfile
    import uuid

    from legal_data_ingestion_rag_pipeline_spark.operators import sketches
    from legal_data_ingestion_rag_pipeline_spark.session import load_table

    sf = "/root/testdata/sf0.001"
    li = load_table(spark, sf, "lineitem")
    from pyspark.sql import functions as F

    x = F.col("l_extendedprice").cast("double")
    lo, hi = li.agg(F.min(x), F.max(x)).first()
    store = os.path.join(
        tempfile.gettempdir(), f"hist_test_{uuid.uuid4().hex}"
    )
    cut = "1996-01-01"
    sketches.write_histogram(
        li.filter(F.col("l_shipdate") < cut), "l_extendedprice",
        float(lo), float(hi), store, 64, mode="overwrite")
    sketches.write_histogram(
        li.filter(F.col("l_shipdate") >= cut), "l_extendedprice",
        float(lo), float(hi), store, 64, mode="append")
    merged = {
        r["bin"]: r["cnt"]
        for r in sketches.histogram_from_store(spark, store).collect()
    }
    full = {
        r["bin"]: r["cnt"]
        for r in sketches.histogram_build(
            li, "l_extendedprice", float(lo), float(hi), 64
        ).collect()
    }
    assert merged == full
    assert sum(merged.values()) == li.count()


def test_corpus_datacard_totals(spark):
    """Datacard rows partition the corpus: doc counts sum to the
    table size, majority share is consistent, dup counts are even
    group members (every dup group has >= 2 docs)."""
    from legal_data_ingestion_rag_pipeline_spark.plans.registry import registry

    sf = "/root/testdata/sf0.001"
    rows = registry()["corpus_datacard"].spark(spark, sf).collect()
    assert sum(r["n_docs"] for r in rows) == 500
    for r in rows:
        assert 1 <= r["n_langs"] <= 5
        assert 0 < r["majority_share_micro"] <= 1_000_000
        assert 0 <= r["dup_docs"] <= r["n_docs"]
        assert r["total_tokens"] > 0 and r["total_chars"] > 0


def test_phrase_search_semantics(spark):
    """Hand-built corpus: adjacency and order required; repeated
    phrase words anchor distinct slots; overlapping occurrences all
    count; out-of-order/gapped matches don't."""
    from legal_data_ingestion_rag_pipeline_spark.operators import fts

    docs = spark.createDataFrame(
        [
            (1, "the cat sat"),            # exact once
            (2, "cat the sat"),            # out of order -> no
            (3, "the big cat"),            # gapped -> no
            (4, "the cat the cat sat"),    # 'the cat' twice
            (5, "x the cat sat the cat"),  # twice, offset starts
            (6, ""),                       # empty survives scan
        ],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: r["n_occurrences"]
        for r in fts.phrase_search(docs, "doc_id", "text", ["the", "cat"]).collect()
    }
    assert got == {1: 1, 4: 2, 5: 2}
    # repeated-word phrase: 'the cat the' in doc 4 once
    got2 = {
        r["doc_id"]: r["n_occurrences"]
        for r in fts.phrase_search(
            docs, "doc_id", "text", ["the", "cat", "the"]
        ).collect()
    }
    assert got2 == {4: 1}


def test_rrf_fusion_semantics(spark):
    """RRF on the real tables: fused scores equal the sum of the two
    legs' literal increments, docs in both legs beat equal-rank
    single-leg docs, and ranks are within depth."""
    from legal_data_ingestion_rag_pipeline_spark.plans.driver_queries_similarity import (
        _RRF_MICRO,
    )
    from legal_data_ingestion_rag_pipeline_spark.plans.registry import registry

    rows = registry()["rag_hybrid_rrf"].spark(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert 0 < len(rows) <= 10
    for r in rows:
        assert 0 <= r["bm25_rank"] <= 50 and 0 <= r["cos_rank"] <= 50
        want = 0
        if r["bm25_rank"]:
            want += _RRF_MICRO[r["bm25_rank"] - 1]
        if r["cos_rank"]:
            want += _RRF_MICRO[r["cos_rank"] - 1]
        assert r["rrf_micro"] == want and want > 0
    scores = [r["rrf_micro"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_good_turing_identities(spark):
    """Count-of-counts from the query match an independent direct
    computation, and r* respects the Good-Turing identity."""
    import collections
    import re

    import pyarrow.parquet as pq_

    from legal_data_ingestion_rag_pipeline_spark.plans.registry import registry

    sf = "/root/testdata/sf0.001"
    rows = registry()["good_turing_counts"].spark(spark, sf).collect()
    wc = collections.Counter()
    t = pq_.read_table(f"{sf}/documents.parquet", columns=["text"])
    for text in t.column("text").to_pylist():
        if text:
            wc.update(w for w in re.split(r"\s+", text.lower()) if w)
    coc = collections.Counter(wc.values())
    for r in rows:
        assert r["n_r"] == coc[r["r"]]
        assert r["n_r_next"] == coc.get(r["r"] + 1, 0)
        assert (
            r["r_star_milli"]
            == (r["r"] + 1) * r["n_r_next"] * 1000 // r["n_r"]
        )
    want_rs = sorted(coc)[:10]
    assert rows and [r["r"] for r in rows] == want_rs  # 10 smallest r


def test_ctfidf_labels_every_source_with_five_terms(spark):
    from legal_data_ingestion_rag_pipeline_spark.plans.registry import registry

    rows = registry()["ctfidf_source_terms"].spark(
        spark, "/root/testdata/sf0.001"
    ).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
        assert r["ctfidf_micro"] > 0
        assert 1 <= r["rk"] <= 5
    assert len(by_src) == 20  # one label set per source
    for recs in by_src.values():
        assert [r["rk"] for r in recs] == [1, 2, 3, 4, 5]
        scores = [r["ctfidf_micro"] for r in recs]
        assert scores == sorted(scores, reverse=True)


def test_seasonal_naive_metrics_are_consistent(spark):
    import duckdb

    from legal_data_ingestion_rag_pipeline_spark.plans.registry import registry

    rows = registry()["seasonal_naive_mape"].spark(
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    con = duckdb.connect()
    daily = dict(
        con.execute(
            """SELECT CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT),
                      count(*)
               FROM '/root/testdata/sf0.001/events.parquet'
               WHERE event_type = 'purchase' GROUP BY 1"""
        ).fetchall()
    )
    pairs = [
        (y, daily[d - 7]) for d, y in daily.items() if d - 7 in daily
    ]
    assert r["n_days"] == len(pairs)
    assert r["sum_abs_err"] == sum(abs(y - f) for y, f in pairs)
    assert r["sum_actual"] == sum(y for y, _ in pairs)
    mape = sum(abs(y - f) * 1_000_000 // y for y, f in pairs) // len(pairs)
    smape = sum(
        2 * abs(y - f) * 1_000_000 // (y + f) for y, f in pairs
    ) // len(pairs)
    assert r["mape_micro"] == mape
    assert r["smape_micro"] == smape
    assert r["wape_micro"] == r["sum_abs_err"] * 1_000_000 // r["sum_actual"]
    # sMAPE is bounded by 2, WAPE and MAPE positive on noisy series
    assert 0 < r["smape_micro"] <= 2_000_000


def test_power_law_fits_match_python_ols(spark):
    """zipf_slope_fit / heaps_law_fit: the exact-BIGINT OLS ladder must
    reproduce a direct Python least-squares on the SAME milli-snapped
    log points (bit-equal snapping), and the exponents must be
    physically sane (Zipf slope negative, Heaps beta in [0, 1])."""
    import math

    from legal_data_ingestion_rag_pipeline_spark.plans.registry import registry

    r = registry()
    sf = "/root/testdata/sf0.001"

    def mln(v: int) -> int:
        return math.floor(math.log(float(v)) * 1000.0 + 0.5)

    def ols_micro(pts):
        k = len(pts)
        sx = sum(x for x, _ in pts)
        sy = sum(y for _, y in pts)
        sxy = sum(x * y for x, y in pts)
        sxx = sum(x * x for x, _ in pts)
        syy = sum(y * y for _, y in pts)
        num, den = k * sxy - sx * sy, k * sxx - sx * sx
        slope = math.floor(float(num) / float(den) * 1e6 + 0.5)
        r2 = math.floor(
            float(num) * float(num) / (float(den) * float(k * syy - sy * sy))
            * 1e6 + 0.5
        )
        return slope, r2

    # --- zipf: rebuild the top-K rank/count points in Python
    import duckdb

    docs = duckdb.sql(
        f"SELECT text FROM '{sf}/documents.parquet'"
    ).fetchall()
    from collections import Counter

    cnt = Counter(
        w for (t,) in docs for w in (t or "").lower().split() if w
    )
    top = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:1000]
    zpts = [(mln(i + 1), mln(c)) for i, (_, c) in enumerate(top)]
    zs, zr2 = ols_micro(zpts)
    got = r["zipf_slope_fit"].spark(spark, sf).collect()[0]
    assert (got.n_points, got.slope_micro, got.r2_micro) == (
        len(zpts), zs, zr2,
    )
    assert got.slope_micro < 0  # rank-frequency always decays

    # --- heaps: doc-granular first occurrences over doc_id order
    rows = duckdb.sql(
        f"SELECT doc_id, text FROM '{sf}/documents.parquet' ORDER BY doc_id"
    ).fetchall()
    seen: set[str] = set()
    n = v = 0
    hpts = []
    nd = len(rows)
    step = max(1, nd // 1024)
    for rn, (_, t) in enumerate(rows, 1):
        toks = [w for w in (t or "").lower().split() if w]
        n += len(toks)
        for w in toks:
            if w not in seen:
                seen.add(w)
                v += 1
        if rn % step == 0 and n >= 1 and v >= 1:
            hpts.append((mln(n), mln(v)))
    hs, hr2 = ols_micro(hpts)
    got = r["heaps_law_fit"].spark(spark, sf).collect()[0]
    assert (got.n_docs, got.n_tokens, got.vocab_d) == (nd, n, v)
    assert (got.n_points, got.beta_micro, got.r2_micro) == (
        len(hpts), hs, hr2,
    )
    assert 0 <= got.beta_micro <= 1_000_000  # vocabulary growth exponent


def test_ngram_novelty_accounting(spark):
    """Novelty invariants: the first gram-bearing doc is 100% novel,
    every fraction sits in [0, 1000], and the novel counts partition
    the global distinct-gram vocabulary exactly."""
    from legal_data_ingestion_rag_pipeline_spark.functions import portable as PT
    from legal_data_ingestion_rag_pipeline_spark.plans.registry import registry
    from legal_data_ingestion_rag_pipeline_spark.session import load_table

    sf = "/root/testdata/sf0.001"
    rows = registry()["ngram_novelty_curve"].spark(spark, sf).collect()
    assert rows[0].novelty_milli == 1000  # nothing precedes the first doc
    assert all(0 <= r.novelty_milli <= 1000 for r in rows)
    assert all(0 <= r.n_novel <= r.n_grams for r in rows)

    total_grams = (
        load_table(spark, sf, "documents")
        .select(F.expr(PT.tokens("text", PT.SPARK)).alias("toks"))
        .select(F.expr(PT.hash_array("toks", PT.SPARK)).alias("th"))
        .filter(F.size("th") >= 3)
        .select(
            F.explode(
                F.expr(PT.word_ngram_hashes("th", 3, PT.SPARK))
            ).alias("g")
        )
        .distinct()
        .count()
    )
    assert sum(r.n_novel for r in rows) == total_grams
