"""Property tests (SURVEY.md §5.2 'property' tier).

P1: MinHash-LSH recall on PLANTED near-duplicates — mutated copies of corpus
documents with known-high Jaccard must be recovered by the banding pipeline.
P2: SRP-LSH ANN recall vs exact brute force on the real embeddings.
P3: IVF ANN recall vs exact brute force.
Plus algebraic laws over hypothesis-generated micro-frames (filter split,
union-all counts, dedup idempotence).
"""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from inspectadb_spark.operators.dedup import minhash_near_dup_pairs
from inspectadb_spark.operators.similarity import cosine_topk, ivf_topk, srp_ann_topk
from tests.conftest import SF_DIR

# r14 driver fast lane (pytest.ini): full-corpus property sweeps —
# builder-run each round with -m ""
pytestmark = pytest.mark.slow


# --------------------------------------------------------------------------
# P1 — planted near-duplicates are recovered by MinHash+LSH banding

def _plant_near_dups(spark, n_docs=60, n_dups=12, drop_every=12):
    """Corpus sample + near-identical copies (every ``drop_every``-th token
    dropped -> shingle-Jaccard stays high, > ~0.6)."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(n_docs)
    base = docs.select("doc_id", "text").collect()
    planted = []
    for i, r in enumerate(base[:n_dups]):
        toks = r["text"].split(" ")
        mutated = " ".join(t for j, t in enumerate(toks) if j % drop_every != drop_every - 1)
        planted.append((100_000 + r["doc_id"], mutated, r["doc_id"]))
    dup_df = spark.createDataFrame(
        [(p[0], p[1]) for p in planted], ["doc_id", "text"]
    )
    corpus = docs.select("doc_id", "text").unionByName(dup_df)
    truth = {(p[2], p[0]) for p in planted}  # (original, copy), orig < copy
    return corpus, truth


def test_p1_minhash_recall_on_planted_dups(spark):
    corpus, truth = _plant_near_dups(spark)
    got = minhash_near_dup_pairs(
        corpus, num_hashes=32, bands=8, shingle_k=3, threshold=0.5
    )
    pairs = {(r["d1"], r["d2"]) for r in got.collect()}
    found = truth & pairs
    recall = len(found) / len(truth)
    # bands=8, r=4: pair at jaccard 0.7 collides with p = 1-(1-0.7^4)^8 ≈ 0.90;
    # our planted pairs sit higher (~0.8+), so demand >= 0.75 with margin
    assert recall >= 0.75, f"recall {recall}: {truth - pairs} missed"
    # and verification must keep planted-pair jaccard high
    jacs = [r["jac"] for r in got.collect() if (r["d1"], r["d2"]) in truth]
    assert all(j >= 0.5 for j in jacs)


# --------------------------------------------------------------------------
# P2 — SRP ANN recall vs brute force

def _recall_vs_exact(spark, ann_df, qvec, k=10):
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    exact = {r["vec_id"] for r in cosine_topk(e, qvec, k=k).collect()}
    approx = {r["vec_id"] for r in ann_df.collect()}
    return len(exact & approx) / k


@pytest.mark.parametrize("qid", [0, 17, 101])
def test_p2_srp_ann_recall(spark, qid):
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qvec = [float(x) for x in
            e.filter(F.col("vec_id") == qid).select("embedding").first()[0]]
    ann = srp_ann_topk(e, qvec, k=10, bits=6, tables=8, seed=42)
    # random 64-dim corpus: neighbours are weak, LSH recall is modest by
    # design — the property pinned is "well above chance, candidates pruned"
    assert _recall_vs_exact(spark, ann, qvec) >= 0.3


def test_p2b_srp_near_dup_pairs_recall(spark):
    from inspectadb_spark.operators.similarity import (
        cosine_pairs_exact,
        srp_near_dup_pairs,
    )

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    exact = {(r["v1"], r["v2"]) for r in cosine_pairs_exact(e, 0.4).collect()}
    got = {(r["v1"], r["v2"])
           for r in srp_near_dup_pairs(e, 0.4, bits=4, tables=8).collect()}
    # precision is 1 by construction (exact cosine verifies candidates)
    assert got <= exact
    # sign-bit agreement p = 1 - θ/π ≈ 0.63 at cos 0.4; banding recall
    # 1-(1-p^4)^8 ≈ 0.75 — measured 0.82 on this (deterministic) corpus
    assert len(exact & got) / max(1, len(exact)) >= 0.7


@pytest.mark.parametrize("qid", [0, 17])
def test_p3_ivf_recall(spark, qid):
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qvec = [float(x) for x in
            e.filter(F.col("vec_id") == qid).select("embedding").first()[0]]
    ann = ivf_topk(e, qvec, k=10, n_centroids=8, n_probe=4, seed=42)
    # probing half the cells of a random corpus recovers >= ~half the top-k
    assert _recall_vs_exact(spark, ann, qvec) >= 0.4


def test_ivf_probe_all_equals_exact(spark):
    """n_probe = n_centroids degenerates to exact brute force — sanity anchor."""
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qvec = [float(x) for x in
            e.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    ann = ivf_topk(e, qvec, k=10, n_centroids=8, n_probe=8, seed=42)
    assert _recall_vs_exact(spark, ann, qvec) == 1.0


# --------------------------------------------------------------------------
# Algebraic laws on generated micro-frames (kept tiny: each example is a job)

rows_strategy = st.lists(
    st.tuples(st.integers(-5, 5), st.integers(0, 3)), min_size=0, max_size=8
)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=rows_strategy, split=st.integers(-5, 5))
def test_filter_split_law(spark, rows, split):
    df = spark.createDataFrame(rows, "a int, b int") if rows else \
        spark.createDataFrame([], "a int, b int")
    both = df.filter((F.col("a") <= split) | (F.col("a") > split)).count()
    assert both == df.count()
    lo = df.filter(F.col("a") <= split).count()
    hi = df.filter(F.col("a") > split).count()
    assert lo + hi == df.count()


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=rows_strategy)
def test_unionall_count_and_dedup_idempotence(spark, rows):
    df = spark.createDataFrame(rows, "a int, b int") if rows else \
        spark.createDataFrame([], "a int, b int")
    assert df.unionAll(df).count() == 2 * df.count()
    d1 = df.distinct()
    assert d1.distinct().count() == d1.count()


# --------------------------------------------------------------------------
# P4 — k-means training: Lloyd's invariants + trained-IVF quality

def test_p4_kmeans_inertia_monotone_and_deterministic(spark):
    from inspectadb_spark.operators.similarity import kmeans_fit

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    c1, i1 = kmeans_fit(e, k=8, iters=3)
    # Lloyd's: each assign+update step cannot increase the objective
    assert all(b <= a + 1e-9 for a, b in zip(i1, i1[1:])), i1
    # exact-decimal accumulators -> bit-identical refit
    c2, i2 = kmeans_fit(e, k=8, iters=3)
    assert i1 == i2 and (c1 == c2).all()


def test_p4_trained_ivf_probe_all_equals_exact(spark):
    from inspectadb_spark.operators.similarity import ivf_topk, kmeans_fit

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qvec = [float(x) for x in
            e.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    cents, _ = kmeans_fit(e, k=8, iters=2)
    ann = ivf_topk(e, qvec, k=10, n_probe=8, centroids=cents)
    assert _recall_vs_exact(spark, ann, qvec) == 1.0


def test_p4_trained_ivf_recall(spark):
    from inspectadb_spark.operators.similarity import ivf_topk, kmeans_fit

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qvec = [float(x) for x in
            e.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    cents, _ = kmeans_fit(e, k=8, iters=2)
    ann = ivf_topk(e, qvec, k=10, n_probe=4, centroids=cents)
    assert _recall_vs_exact(spark, ann, qvec) >= 0.4


# --------------------------------------------------------------------------
# P5 — int8 scalar quantization: bounded reconstruction error, preserved
# neighbourhoods

def test_p5_quantization_error_and_topk_preserved(spark):
    from inspectadb_spark.operators.similarity import (
        dequantize_embeddings,
        embedding_ranges,
        quantize_embeddings,
    )

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    lo, hi = embedding_ranges(e)
    deq = dequantize_embeddings(quantize_embeddings(e, lo, hi), lo, hi)

    # per-element error <= half a quantization step of that dimension
    joined = e.select("vec_id", F.col("embedding").alias("orig")).join(
        deq.select("vec_id", F.col("embedding").alias("back")), "vec_id")
    err = joined.select(
        F.aggregate(
            F.zip_with("orig", "back",
                       lambda a, b: F.abs(a.cast("double") - b)),
            F.lit(0.0), lambda acc, v: F.greatest(acc, v),
        ).alias("maxerr")
    ).agg(F.max("maxerr")).collect()[0][0]
    step = max((h - l) / 255 for l, h in zip(lo, hi))
    assert err <= step / 2 + 1e-9

    # top-k by cosine is preserved through 8-bit quantization on this corpus
    qvec = [float(x) for x in
            e.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    exact = [r.vec_id for r in cosine_topk(e, qvec, k=10).collect()]
    approx = [r.vec_id for r in cosine_topk(deq, qvec, k=10).collect()]
    assert len(set(exact) & set(approx)) >= 9


# --------------------------------------------------------------------------
# P6 — budget selection ≡ global cumulative-window reference on random inputs

@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    weights=st.lists(st.integers(1, 20), min_size=1, max_size=25),
    scores=st.data(),
    budget=st.integers(0, 200),
)
def test_p6_budget_selection_equals_cumsum_reference(spark, weights, scores, budget):
    from inspectadb_spark.operators.pipeline import select_until_budget

    n = len(weights)
    svals = scores.draw(st.lists(
        st.sampled_from([1.0, 2.0, 2.5, 3.0]), min_size=n, max_size=n))
    rows = [(i, w, s) for i, (w, s) in enumerate(zip(weights, svals))]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long, mean_tok_freq double")
    got = {r.doc_id for r in select_until_budget(df, budget).collect()}
    # reference: cumulative sum in (score desc, id) order, keep while <= budget
    ref, cum = set(), 0
    for i, w, s in sorted(rows, key=lambda r: (-r[2], r[0])):
        cum += w
        if cum <= budget:
            ref.add(i)
    assert got == ref


# --------------------------------------------------------------------------
# P7 — sequence funnel ≡ brute-force earliest-chain reference

@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_p7_sequence_funnel_equals_bruteforce(spark, data):
    import datetime as dt

    from inspectadb_spark.operators.timeseries import sequence_funnel

    steps = ["signup", "click", "purchase"]
    n = data.draw(st.integers(4, 24))
    rows = []
    for eid in range(n):
        rows.append((
            eid,
            dt.datetime(2024, 1, 1) + dt.timedelta(
                hours=data.draw(st.integers(0, 100))),
            data.draw(st.integers(1, 4)),
            data.draw(st.sampled_from(steps + ["view"])),
        ))
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string")
    got = sequence_funnel(ev, steps, "72 hours").collect()
    n_start = sum(r.n_start for r in got)
    n_complete = sum(r.n_complete for r in got)

    # brute force per user
    by_user = {}
    for eid, ts, uid, et in rows:
        by_user.setdefault(uid, []).append((ts, eid, et))
    ref_start = ref_done = 0
    for uid, evs in by_user.items():
        sign = [ts for ts, _, et in evs if et == "signup"]
        if not sign:
            continue
        ref_start += 1
        t1 = min(sign)
        dl = t1 + dt.timedelta(hours=72)
        clicks = [ts for ts, _, et in evs if et == "click" and t1 < ts <= dl]
        if not clicks:
            continue
        t2 = min(clicks)
        if any(et == "purchase" and t2 < ts <= dl for ts, _, et in evs):
            ref_done += 1
    assert (n_start, n_complete) == (ref_start, ref_done)


# --------------------------------------------------------------------------
# P6 — round-4 corpus-hygiene operator properties

def test_p6_duplicated_spans_planted_copy(spark):
    """A verbatim copy forces dup_frac = 1.0 on BOTH copies; a doc sharing
    no 8-gram with anything stays at 0.0."""
    from inspectadb_spark.operators.dedup import duplicated_spans

    base = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(20)
    copy = base.limit(1).select(
        (F.col("doc_id") + 10_000).alias("doc_id"), "text")
    docs = base.select("doc_id", "text").unionByName(copy)
    out = {r.doc_id: r for r in duplicated_spans(docs, w=8).collect()}
    src = min(out)  # the copied original has the smallest id
    assert out[src].dup_frac == 1.0
    assert out[10_000 + src].dup_frac == 1.0
    # every doc's fraction is a valid ratio
    assert all(0.0 <= r.dup_frac <= 1.0 and r.n_dup <= r.n_spans
               for r in out.values())


def test_p6_vocab_growth_monotone_and_totals(spark):
    """vocab_size is strictly increasing and ends at the distinct-gram
    count; the n_new column sums to the same total."""
    from inspectadb_spark.operators.text import vocabulary_growth, word_ngrams

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    rows = vocabulary_growth(docs, n=3).orderBy("doc_id").collect()
    sizes = [r.vocab_size for r in rows]
    assert sizes == sorted(sizes) and len(set(sizes)) == len(sizes)
    total = word_ngrams(docs, n=3).select("gram").distinct().count()
    assert sizes[-1] == total == sum(r.n_new for r in rows)


def test_p6_unigram_logprob_bounds_and_argmax(spark):
    """Mean log-prob is <= 0 everywhere; a doc made ONLY of the corpus's
    most frequent token scores strictly higher than every original doc."""
    from inspectadb_spark.operators.text import unigram_logprob

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id", "text").limit(50)
    top_tok = (
        docs.select(F.explode(F.split("text", " ")).alias("t"))
        .groupBy("t").count().orderBy(F.desc("count"), "t").first()["t"]
    )
    probe = spark.createDataFrame(
        [(99_999, " ".join([top_tok] * 10))], "doc_id: long, text: string")
    out = unigram_logprob(docs.unionByName(probe)).collect()
    by_id = {r.doc_id: r.mean_logprob for r in out}
    assert all(v <= 0 for v in by_id.values())
    probe_score = by_id.pop(99_999)
    assert probe_score >= max(by_id.values())


def test_p6_kl_nonnegative_entropy_bounds(spark):
    """KL(source || corpus) >= 0 (up to the 4dp quantization) and entropy
    is within [0, ln(vocab)]."""
    import math

    from inspectadb_spark.operators.text import source_divergence

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    vocab = docs.select(F.explode(F.split("text", " ")).alias("t")) \
        .select("t").distinct().count()
    for r in source_divergence(docs).collect():
        assert r.kl_corpus >= -1e-3, r
        assert 0.0 <= r.entropy <= math.log(vocab) + 1e-3, r


# -- MV routing algebra property: routed == direct on random data -------------
_mv_rows = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "c", None]),          # key k1
        st.sampled_from(["x", "y", None]),               # key k2
        st.one_of(st.none(),
                  st.integers(-100, 100).map(float)),    # measure v
    ),
    min_size=1, max_size=40,
)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=_mv_rows, req_keys=st.sampled_from(
    [("k1",), ("k2",), ("k1", "k2")]))
def test_mv_routed_equals_direct_property(spark, tmp_path_factory, rows,
                                          req_keys):
    """For ANY data (NULL keys, NULL measures, empty groups) and any
    requested sub-grain, serving from the stored summary must equal the
    direct aggregate — sum, row count, non-null count, avg, min, max,
    and COUNT(DISTINCT <grain key>) for both keys (VERDICT r8 item 7:
    structural distinct-count routing, NULL keys excluded identically
    by both forms)."""
    from inspectadb_spark.operators.mv import AggRequest, MVDef, route

    base = spark.createDataFrame(rows, "k1 string, k2 string, v double")
    mv = MVDef(name="p", keys=("k1", "k2"),
               measures={"s": ("sum", "v"), "c": ("count", "*"),
                         "cv": ("count", "v"), "mn": ("min", "v"),
                         "mx": ("max", "v")})
    path = str(tmp_path_factory.mktemp("mvp") / "p")
    mv.store(base, path)
    req = AggRequest(
        keys={k: None for k in req_keys},
        measures={"s": ("sum", "v"), "n": ("count", "*"),
                  "nv": ("count", "v"), "a": ("avg", "v"),
                  "mn": ("min", "v"), "mx": ("max", "v"),
                  "d1": ("count_distinct", "k1"),
                  "d2": ("count_distinct", "k2")})
    routed, used = route(spark, req, {mv.name: (mv, path)}, base)
    assert used == mv.name
    direct, _ = route(spark, req, {}, base)
    canon = lambda df: sorted(  # noqa: E731
        tuple(str(x) for x in r) for r in df.collect())
    assert canon(routed) == canon(direct)
    # a distinct column OUTSIDE the declared grain refuses the MV and
    # falls back to the (exact) base aggregate
    bad = AggRequest(keys={k: None for k in req_keys},
                     measures={"dv": ("count_distinct", "v")})
    _, used_bad = route(spark, bad, {mv.name: (mv, path)}, base)
    assert used_bad is None


def test_p2c_mutual_nn_ann_matches_exact_on_separable_pairs(spark):
    """The full-corpus SRP-bucketed reciprocal-best-match (q267b) equals
    the exact all-pairs form on separable twin-pair data: each twin's
    nearest neighbor survives candidate generation with probability ~1
    at 10 tables (sign agreement ~1 for near-parallel vectors), and sim
    values are the identical ppm-quantized expression."""
    import numpy as np

    from inspectadb_spark.operators.similarity import mutual_nn, mutual_nn_ann

    rng = np.random.default_rng(7)
    rows = []
    base = rng.normal(size=(40, 16))
    for i, v in enumerate(base):
        twin = v + rng.normal(scale=0.01, size=16)
        rows.append((2 * i, [float(x) for x in v], f"c{i % 4}"))
        rows.append((2 * i + 1, [float(x) for x in twin], f"c{i % 4}"))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string")
    exact = mutual_nn(df, sample_mod=1, sample_rem=0)
    ann = mutual_nn_ann(df, bits=6, tables=10)
    ex = {(r.id_a, r.id_b, r.sim_ppm) for r in exact.collect()}
    got = {(r.id_a, r.id_b, r.sim_ppm) for r in ann.collect()}
    assert got == ex
    assert len(ex) >= 35  # nearly every twin pair is mutual


def test_p2d_mutual_nn_ann_dedup_shuffle_is_vector_free(spark):
    """VERDICT r6 #3: the candidate-dedup exchange must carry
    (ida, idb, sim_ppm) — 3 bigints — not the duplicated candidates'
    va/vb vectors (up to ``tables`` copies of ~0.5 KB each at 100 TB).
    The cosine is computed inside the bucket-join select, so every
    exchange at or above the dedup is array-free; only the bucket-join
    input exchanges (which genuinely need the vectors) may carry arrays."""
    import numpy as np

    from inspectadb_spark.operators.similarity import mutual_nn_ann

    rng = np.random.default_rng(11)
    rows = [(i, [float(x) for x in rng.normal(size=8)], f"c{i % 3}")
            for i in range(30)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string")
    plan = mutual_nn_ann(df, bits=4, tables=4)._jdf.queryExecution().optimizedPlan()

    def walk(node):
        yield node
        cs = node.children()
        for i in range(cs.length()):
            yield from walk(cs.apply(i))

    dedup_aggs = []
    for n in walk(plan):
        if n.nodeName() not in ("Aggregate", "Deduplicate"):
            continue
        out = {a.name() for a in _as_list(n.output())}
        if {"ida", "idb", "sim_ppm"} <= out and len(out) == 3:
            dedup_aggs.append(n)
    assert dedup_aggs, "candidate-dedup node not found in optimized plan"
    for n in dedup_aggs:
        for node in walk(n):
            arrays = [a.name() for a in _as_list(node.output())
                      if a.dataType().typeName() == "array"]
            if node.nodeName() == "Join" and node is not n:
                break  # below the bucket join vectors are legitimate
            if "EvalPython" in node.nodeName():
                # r13: the pair dot runs in an ArrowEvalPython node that
                # necessarily consumes (and therefore outputs) va/vb —
                # it sits INSIDE the post-join stage, below the Project
                # that prunes to (ida, idb, sim_ppm), so the dedup
                # EXCHANGE above it still carries 3 bigints per row.
                # The guarantee under test is about the shuffle, not a
                # mid-stage compute node.
                break
            assert not arrays, (
                f"{node.nodeName()} above/at the dedup carries arrays: {arrays}"
            )


def test_p2f_batch_cross_dots_matches_fold_and_null_semantics(spark):
    """r13: `batch_cross_dots` (one candidate pass against a collected
    batch) must be bit-identical to the `_dot` fold per pair on clean
    vectors, and NULL where the fold is NULL (null vector or length
    mismatch on either side). Covers the dense path, the ragged-batch
    path, and a two-vector-pair call (the truncated-recall shape)."""
    from inspectadb_spark.operators.similarity import _dot, batch_cross_dots

    rng = np.random.default_rng(5)
    cands = [(i, [float(x) for x in rng.normal(size=6)]) for i in range(40)]
    cands += [(100, None), (101, [1.0, 2.0]), (102, [])]
    cdf = spark.createDataFrame(cands, "c_id long, ce array<double>")
    qrows = [(i, [float(x) for x in rng.normal(size=6)]) for i in range(5)]
    qdf = spark.createDataFrame(qrows, "q_id long, qe array<double>")

    got = {(r.c_id, r.q_id): r.d for r in batch_cross_dots(
        cdf, ["c_id"], ["ce"], qdf, "q_id", ["qe"], ["d"]).collect()}
    ref = {(r.c_id, r.q_id): r.d for r in
           cdf.crossJoin(qdf).select(
               "c_id", "q_id", _dot("ce", "qe").alias("d")).collect()}
    assert set(got) == set(ref) and len(got) == 43 * 5
    for k in ref:
        assert got[k] == ref[k], f"{k}: {got[k]} != {ref[k]}"

    # ragged batch side (one null + one short vector among the queries)
    qrag = spark.createDataFrame(
        qrows + [(10, None), (11, [1.0])], "q_id long, qe array<double>")
    got2 = {(r.c_id, r.q_id): r.d for r in batch_cross_dots(
        cdf, ["c_id"], ["ce"], qrag, "q_id", ["qe"], ["d"]).collect()}
    ref2 = {(r.c_id, r.q_id): r.d for r in
            cdf.crossJoin(qrag).select(
                "c_id", "q_id", _dot("ce", "qe").alias("d")).collect()}
    assert set(got2) == set(ref2)
    for k in ref2:
        assert got2[k] == ref2[k], f"ragged {k}: {got2[k]} != {ref2[k]}"

    # two vector pairs in one call (the q203 full+truncated shape)
    cdf2 = cdf.filter("ce is not null and size(ce) = 6").selectExpr(
        "c_id", "ce", "slice(ce, 1, 3) as ct")
    qdf2 = qdf.selectExpr("q_id", "qe", "slice(qe, 1, 3) as qt")
    got3 = {(r.c_id, r.q_id): (r.df, r.dt) for r in batch_cross_dots(
        cdf2, ["c_id"], ["ce", "ct"], qdf2, "q_id", ["qe", "qt"],
        ["df", "dt"]).collect()}
    ref3 = {(r.c_id, r.q_id): (r.df, r.dt) for r in
            cdf2.crossJoin(qdf2).select(
                "c_id", "q_id", _dot("ce", "qe").alias("df"),
                _dot("ct", "qt").alias("dt")).collect()}
    assert got3 == ref3

    # empty batch side -> zero pairs, like a join with an empty side
    assert batch_cross_dots(cdf, ["c_id"], ["ce"],
                            qdf.filter("q_id < 0"), "q_id", ["qe"],
                            ["d"]).count() == 0


def test_p2e_vectorized_srp_signatures_match_fold(spark):
    """r13: `srp_signatures` (one Arrow pass for all tables) must be
    bit-identical to the per-table interpreted fold `srp_signature` —
    including the sign convention at exact zero, NaN handling (Spark
    orders NaN above all doubles, so NaN dots set the bit), NULL
    vectors, and wrong-length vectors (both → signature 0)."""
    from inspectadb_spark.operators.similarity import (
        _hyperplanes, srp_signature, srp_signatures)

    planes = _hyperplanes(4, bits=8, tables=6, seed=7)
    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.normal(size=4)]) for i in range(64)]
    # adversarial rows: exact-zero dot (orthogonal-ish handled by planted
    # zeros), NaN element, null vector, wrong length, empty
    rows += [
        (100, [0.0, 0.0, 0.0, 0.0]),          # all dots exactly 0 -> all bits
        (101, [1.0, float("nan"), 0.0, 2.0]), # NaN dot -> bit set
        (102, None),                          # null vector -> sig 0
        (103, [1.0, 2.0]),                    # wrong length -> sig 0
        (104, []),                            # empty -> sig 0
    ]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    got = df.select(
        "id", srp_signatures("v", planes).alias("sigs"),
        *[srp_signature("v", planes[t]).alias(f"ref{t}") for t in range(6)],
    ).collect()
    assert got, "no rows"
    for r in got:
        assert len(r.sigs) == 6
        for t in range(6):
            assert r.sigs[t] == r[f"ref{t}"], (
                f"id={r.id} table={t}: vectorized {r.sigs[t]} != "
                f"fold {r[f'ref{t}']}"
            )


def _as_list(seq):
    out = []
    it = seq.iterator()
    while it.hasNext():
        out.append(it.next())
    return out


# -- star-route algebra property: routed == direct incl. the dim filter ------
_star_fact = st.lists(
    st.tuples(st.one_of(st.none(), st.integers(0, 3)),       # join key k
              st.one_of(st.none(),
                        st.integers(-50, 50).map(float))),   # measure m
    min_size=1, max_size=30)
_star_dim = st.lists(
    st.tuples(st.integers(0, 4),                             # dim key (dups OK)
              st.sampled_from(["a", "b", None])),            # attr
    min_size=1, max_size=8)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(fact_rows=_star_fact, dim_rows=_star_dim,
       flt=st.sampled_from([None, "a", "b"]),
       hav=st.sampled_from([None, 1, 3]),
       lim=st.booleans())
def test_star_route_equals_direct_property(spark, tmp_path_factory,
                                           fact_rows, dim_rows, flt,
                                           hav, lim):
    """Eager-aggregation star routing == direct join-then-aggregate for
    ANY data — NULL join keys (dropped by the inner join on both forms),
    NULL measures, duplicate dim keys (grain partials duplicate
    identically on both forms), empty results — with and without the
    dim-attribute WHERE filter (VERDICT r6 item 6) and the HAVING /
    key-complete ORDER BY + LIMIT presentation clauses (VERDICT r7
    item 6), driven through the full ``sql_routed`` text front-end."""
    from inspectadb_spark.engine import Engine
    from inspectadb_spark.operators.mv import MVDef

    eng = Engine(spark, SF_DIR, str(tmp_path_factory.mktemp("eng_star_p")))
    fact = spark.createDataFrame(fact_rows, "k int, m double")
    dim = spark.createDataFrame(dim_rows, "k int, attr string")
    eng.tables["fact_p"] = fact
    eng.tables["dim_p"] = dim
    eng.register_mv(
        MVDef(name="mv_fact_p", keys=("k",),
              measures={"s": ("sum", "m"), "c": ("count", "*"),
                        "cm": ("count", "m")}),
        "fact_p")
    sql = ("SELECT d.attr, SUM(f.m) AS s, COUNT(*) AS n, AVG(f.m) AS a "
           "FROM fact_p f JOIN dim_p d ON f.k = d.k "
           + (f"WHERE d.attr = '{flt}' " if flt is not None else "")
           + "GROUP BY d.attr"
           + (f" HAVING n >= {hav}" if hav is not None else "")
           + (" ORDER BY attr LIMIT 2" if lim else ""))
    routed, prov = eng.sql_routed(sql)
    assert prov.startswith("star:")
    direct = fact.join(dim, "k")
    if flt is not None:
        direct = direct.filter(F.col("attr") == flt)
    tot = "CAST(SUM(CAST(m AS DECIMAL(18,6))) AS DOUBLE)"
    direct = direct.groupBy("attr").agg(
        F.expr(f"{tot} AS s"), F.expr("COUNT(*) AS n"),
        F.expr(f"{tot} / COUNT(m) AS a"))
    if hav is not None:
        direct = direct.filter(f"n >= {hav}")
    if lim:
        # attr is the (unique) group key, so ORDER BY attr is a total
        # order and the LIMIT cut is deterministic on both forms
        direct = direct.orderBy("attr").limit(2)
        ordered = lambda df: [  # noqa: E731
            tuple(str(x) for x in r) for r in df.collect()]
        assert ordered(routed) == ordered(direct)
        return
    canon = lambda df: sorted(  # noqa: E731
        tuple(str(x) for x in r) for r in df.collect())
    assert canon(routed) == canon(direct)


# -- two-dim star algebra property: routed == direct incl. per-dim filters ---
@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(fact_rows=st.lists(
           st.tuples(st.one_of(st.none(), st.integers(0, 3)),   # k1
                     st.one_of(st.none(), st.integers(0, 3)),   # k2
                     st.one_of(st.none(),
                               st.integers(-50, 50).map(float))),
           min_size=1, max_size=30),
       dim1_rows=_star_dim, dim2_rows=_star_dim,
       flt1=st.sampled_from([None, "a", "b"]),
       flt2=st.sampled_from([None, "a", "b"]))
def test_star2_route_equals_direct_property(spark, tmp_path_factory,
                                            fact_rows, dim1_rows,
                                            dim2_rows, flt1, flt2):
    """Two-dimension eager-aggregation routing == direct join-then-
    aggregate for ANY data: the dim multiplicities MULTIPLY (each grain
    partial appears once per matching dim1xdim2 row pair on both
    forms), NULL keys drop identically through both inner joins, and
    per-dim WHERE filters commute — driven through the full
    ``sql_routed`` text front-end."""
    from inspectadb_spark.engine import Engine
    from inspectadb_spark.operators.mv import MVDef

    eng = Engine(spark, SF_DIR, str(tmp_path_factory.mktemp("eng_star2_p")))
    fact = spark.createDataFrame(fact_rows, "k1 int, k2 int, m double")
    dim1 = spark.createDataFrame(dim1_rows, "dk int, a1 string")
    dim2 = spark.createDataFrame(dim2_rows, "dk int, a2 string")
    eng.tables["fact2_p"] = fact
    eng.tables["dim1_p"] = dim1
    eng.tables["dim2_p"] = dim2
    eng.register_mv(
        MVDef(name="mv_fact2_p", keys=("k1", "k2"),
              measures={"s": ("sum", "m"), "c": ("count", "*"),
                        "cm": ("count", "m")}),
        "fact2_p")
    where = [f"{c} = '{v}'" for c, v in (("d1.a1", flt1), ("d2.a2", flt2))
             if v is not None]
    sql = ("SELECT d1.a1, d2.a2, SUM(f.m) AS s, COUNT(*) AS n, AVG(f.m) AS a "
           "FROM fact2_p f JOIN dim1_p d1 ON f.k1 = d1.dk "
           "JOIN dim2_p d2 ON f.k2 = d2.dk "
           + (f"WHERE {' AND '.join(where)} " if where else "")
           + "GROUP BY d1.a1, d2.a2")
    routed, prov = eng.sql_routed(sql)
    assert prov.startswith("star2:")
    direct = (fact
              .join(dim1.withColumnRenamed("dk", "__d1"),
                    fact["k1"] == F.col("__d1"))
              .join(dim2.withColumnRenamed("dk", "__d2"),
                    fact["k2"] == F.col("__d2")))
    if flt1 is not None:
        direct = direct.filter(F.col("a1") == flt1)
    if flt2 is not None:
        direct = direct.filter(F.col("a2") == flt2)
    tot = "CAST(SUM(CAST(m AS DECIMAL(18,6))) AS DOUBLE)"
    direct = direct.groupBy("a1", "a2").agg(
        F.expr(f"{tot} AS s"), F.expr("COUNT(*) AS n"),
        F.expr(f"{tot} / COUNT(m) AS a"))
    canon = lambda df: sorted(  # noqa: E731
        tuple(str(x) for x in r) for r in df.collect())
    assert canon(routed) == canon(direct)


# -- serving-grammar robustness: parsers never raise, only refuse ------------
_sql_fragments = st.lists(
    st.sampled_from([
        "SELECT", "FROM", "GROUP", "BY", "WHERE", "HAVING", "ORDER",
        "LIMIT", "AND", "COUNT", "SUM", "AVG", "MIN", "MAX", "DISTINCT",
        "(", ")", "*", ",", "=", ">", "<", "a", "b", "t", "s", "7",
        "'x'", "1.5", "AS", ";", "JOIN", "ON", ".", "f", "d",
    ]),
    min_size=0, max_size=25).map(" ".join)


@settings(max_examples=300, deadline=None)
@given(text=st.one_of(_sql_fragments, st.text(max_size=120)))
def test_serving_grammar_parsers_never_raise(spark, text):
    """The SQL front-end is fed raw user SQL; on ANY input — keyword soup,
    random unicode, half-matched shapes — the matcher must either return
    a record or None (fall through to plain Spark SQL), never raise: a
    text Spark cannot parse refuses on pyspark's CapturedException, and
    every unmatched tree refuses. The refuse-by-default contract is only
    safe if refusal is total."""
    from inspectadb_spark.engine import parse_routable

    parse_routable(spark, text)  # must not raise; value unchecked


# --------------------------------------------------------------------------
# ivf_knn_join laws (round 11): the batched cell-equi-join k-NN.

def _knn_numpy_reference(ids, V, C, k, n_probe, exclude_self=True):
    """First-principles reference for ivf_knn_join: normalized centroids,
    (desc score, lower cell) probe/assign tie-breaks, ppm cosine, id
    tie-breaks — independent of the test_cluster fixture test."""
    from decimal import ROUND_HALF_UP, Decimal

    C = np.asarray(C, np.float64).copy()
    C /= np.linalg.norm(C, axis=1, keepdims=True)
    norms = np.linalg.norm(V, axis=1)
    S = (V @ C.T) / np.where(norms > 0, norms, 1.0)[:, None]

    def cells(i, n):
        return sorted(range(C.shape[0]), key=lambda c: (-S[i][c], c))[:n]

    def ppm(cos):
        return int(Decimal(repr(float(cos))).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP) * 1_000_000)

    assign = {j: cells(j, 1)[0] for j in range(len(ids)) if norms[j] > 0}
    out = {}
    for i in range(len(ids)):
        if norms[i] == 0:
            continue
        probed = set(cells(i, n_probe))
        cand = [j for j, cj in assign.items()
                if cj in probed and not (exclude_self and j == i)]
        sims = sorted(((ppm(V[i] @ V[j] / (norms[i] * norms[j])),
                        -int(ids[j])) for j in cand), reverse=True)
        for rank, (sp, nid) in enumerate(sims[:k], start=1):
            out[(int(ids[i]), rank)] = (-nid, sp)
    return out


def test_ivf_knn_join_probe_all_equals_exact_knn(spark):
    """n_probe = n_centroids degenerates to the exact brute-force k-NN
    join — the same sanity anchor ivf_topk has, in batched form."""
    from inspectadb_spark.operators.similarity import ivf_knn_join, kmeans_fit

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(120)
    cents, _ = kmeans_fit(e, k=4, iters=1)
    qs = e.filter(F.col("vec_id") % 11 == 5)
    got = {(r.q_id, r.rank): (r.n_id, r.sim_ppm)
           for r in ivf_knn_join(qs, e, cents, k=3, n_probe=4).collect()}

    rows = e.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    V = np.array([list(r.embedding) for r in rows], np.float64)
    want = _knn_numpy_reference(ids, V, cents, k=3, n_probe=4)
    want = {key: v for key, v in want.items() if key[0] % 11 == 5}
    assert got == want and len(got) > 0


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_ivf_knn_join_equals_reference_property(spark, data):
    """Engine ≡ numpy reference on GENERATED vector sets: random dim,
    vector count, centroid count, k, n_probe — the contract holds off
    the fixture distribution too."""
    from inspectadb_spark.operators.similarity import ivf_knn_join

    dim = data.draw(st.integers(2, 5), label="dim")
    n = data.draw(st.integers(3, 10), label="n_vectors")
    n_cells = data.draw(st.integers(2, 3), label="n_cells")
    k = data.draw(st.integers(1, 3), label="k")
    n_probe = data.draw(st.integers(1, n_cells), label="n_probe")
    comp = st.integers(-3, 3)
    vecs = data.draw(
        st.lists(st.lists(comp, min_size=dim, max_size=dim),
                 min_size=n, max_size=n), label="vectors")

    ids = np.arange(100, 100 + n)
    V = np.array(vecs, np.float64)
    rng = np.random.default_rng(7)
    C = rng.standard_normal((n_cells, dim))

    df = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(ids, V)],
        "vec_id LONG, embedding ARRAY<DOUBLE>")
    got = {(r.q_id, r.rank): (r.n_id, r.sim_ppm)
           for r in ivf_knn_join(df, df, C, k=k,
                                 n_probe=n_probe).collect()}
    want = _knn_numpy_reference(ids, V, C, k=k, n_probe=n_probe)
    assert got == want


# --------------------------------------------------------------------------
# PQ laws (round 11): subspace code assignment and ADC serving.

@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(data=st.data())
def test_pq_encode_and_adc_equal_reference_property(spark, data):
    """On GENERATED vector sets: pq_encode equals the numpy per-subspace
    argmin (engine tie-break: lower code id), ADC-only scores equal the
    numpy lookup-table sums at 4 dp, and two-stage serving with a
    full-size rerank budget is byte-identical to brute cosine_topk."""
    from decimal import ROUND_HALF_UP, Decimal

    from inspectadb_spark.operators.similarity import (
        cosine_topk, pq_adc_topk, pq_encode,
    )

    m = data.draw(st.integers(1, 2), label="m")
    dsub = data.draw(st.integers(2, 3), label="dsub")
    ks = data.draw(st.sampled_from([2, 4]), label="ks")
    n = data.draw(st.integers(3, 10), label="n_vectors")
    comp = st.integers(-3, 3)
    d = m * dsub
    vecs = data.draw(
        st.lists(st.lists(comp, min_size=d, max_size=d),
                 min_size=n, max_size=n), label="vectors")

    V = np.array(vecs, np.float64)
    nz = np.linalg.norm(V, axis=1) > 0
    V = V[nz]
    if len(V) == 0:
        return
    ids = np.arange(100, 100 + len(V))
    rng = np.random.default_rng(11)
    books = rng.standard_normal((m, ks, dsub))

    df = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in zip(ids, V)],
        "vec_id LONG, embedding ARRAY<DOUBLE>")
    codes = pq_encode(df, books)

    # 1. codes == numpy per-subspace argmin with the engine tie-break
    want_codes = {}
    for i, vid in enumerate(ids):
        cs = []
        for j in range(m):
            sub = V[i, j * dsub:(j + 1) * dsub]
            sc = books[j] @ sub - (books[j] ** 2).sum(axis=1) / 2
            cs.append(sorted(range(ks), key=lambda c: (-sc[c], c))[0])
        want_codes[int(vid)] = cs
    got_codes = {int(r.vec_id): list(r._pq) for r in codes.collect()}
    assert got_codes == want_codes

    # 2. ADC-only sims == numpy LUT sums at the 4 dp contract
    qv = V[0]
    lut = np.array([books[j] @ qv[j * dsub:(j + 1) * dsub]
                    for j in range(m)])
    qn = float(np.linalg.norm(qv))

    def r4(x):
        # the engine contract is two-step: cast to DECIMAL(18,6) first,
        # THEN round to 4 dp — mirror both steps or boundary values like
        # -0.18444996 double-round differently
        d6 = Decimal(repr(float(x))).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP)
        return float(d6.quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP))

    want_adc = {}
    for i, vid in enumerate(ids):
        adc = sum(lut[j][want_codes[int(vid)][j]] for j in range(m))
        want_adc[int(vid)] = r4(adc / (np.linalg.norm(V[i]) * qn))
    got_adc = {int(r.vec_id): float(r.sim_adc)
               for r in pq_adc_topk(codes, books, list(qv),
                                    k=len(V)).collect()}
    assert got_adc == want_adc

    # 3. full-budget two-stage == brute force, byte for byte
    two = pq_adc_topk(codes, books, list(qv), k=3, rerank=len(V), vectors=df)
    brute = cosine_topk(df, list(qv), k=3)
    assert two.collect() == brute.collect()


# --------------------------------------------------------------------------
# P-privacy: the privacy-family closed forms on hypothesis-generated tables
# (the planted fixtures in test_privacy.py pin specific attacks; these pin
# the full contracts on arbitrary inputs).

_priv_rows = st.lists(
    st.tuples(st.integers(0, 3), st.sampled_from("xyz")),
    min_size=1, max_size=30)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=_priv_rows)
def test_t_closeness_full_domain_tvd_on_generated_tables(spark, rows):
    from collections import Counter

    from inspectadb_spark.operators.privacy import (
        sensitive_pair_counts, t_closeness_readout,
    )

    df = spark.createDataFrame(rows, "qi int, s string")
    pairs = sensitive_pair_counts(df, ["qi"], "s")
    got = {r.t_ppm: r for r in
           t_closeness_readout(pairs, ["qi"], "s").collect()}

    n = Counter(q for q, _ in rows)
    cs = Counter(s for _, s in rows)
    pc = Counter(rows)
    big_n = len(rows)
    tvd = {q: sum(abs(pc.get((q, s), 0) * big_n - cs[s] * ng)
                  for s in cs) * 1000000 // (2 * ng * big_n)
           for q, ng in n.items()}
    for t in (100000, 200000, 300000, 500000):
        over = [q for q, v in tvd.items() if v > t]
        assert got[t].n_groups == len(n)
        assert got[t].groups_gt_t == len(over)
        assert got[t].rows_gt_t == sum(n[q] for q in over)
        assert got[t].max_tvd_ppm == max(tvd.values())


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(cells=st.dictionaries(st.sampled_from("abcdefg"),
                             st.integers(0, 2000),
                             min_size=1, max_size=7))
def test_dp_release_contract_on_generated_cells(spark, cells):
    import hashlib
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from inspectadb_spark.operators.privacy import dp_release_from_counts

    counts = spark.createDataFrame(list(cells.items()), "cell string, n long")
    got = {(r.lbl, r.cell): r.n_noisy
           for r in dp_release_from_counts(counts, ["cell"]).collect()}
    for (lbl, eps) in (("e05", 0.5), ("e20", 2.0)):
        for cell, n in cells.items():
            # length-prefixed injective part encoding (ADVICE r12 fix;
            # must mirror _attach_laplace_draw)
            v = int(hashlib.md5(f"{len(cell)}#{cell}:dp:{lbl}".encode())
                    .hexdigest()[:8], 16)
            u = (v + 0.5) / 4294967296.0
            sg = 1 if u >= 0.5 else -1
            lnq = Decimal(repr(math.log(1 - 2 * abs(u - 0.5)))).quantize(
                Decimal("0.000001")).quantize(
                Decimal("0.0001"), rounding=ROUND_HALF_UP)
            b = Decimal(repr(1.0 / eps)).quantize(Decimal("0.000001"))
            want = int((Decimal(n) + (-sg) * b * lnq).quantize(
                Decimal("1"), rounding=ROUND_HALF_UP))
            assert got[(lbl, cell)] == want


# --------------------------------------------------------------------------
# P-filtered: metadata-filtered vector search (q350 / ivf_topk_filtered)

def _filtered_fixture(spark):
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    allowed = d.filter(F.col("lang") == "en").select("doc_id")
    qvec = [float(x) for x in
            e.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    return e, allowed, qvec


def test_filtered_ivf_probe_all_equals_filtered_brute(spark):
    from inspectadb_spark.operators.similarity import (
        cosine_topk, ivf_topk_filtered,
    )

    e, allowed, qvec = _filtered_fixture(spark)
    brute = cosine_topk(
        e.join(allowed.withColumnRenamed("doc_id", "vec_id"),
               "vec_id", "semi"), qvec, k=10)
    rows = lambda df: [tuple(str(x) for x in r) for r in df.collect()]
    # probing every cell (default n_centroids=16) degenerates to the
    # exact filtered brute force — the sanity anchor for the index path
    got = ivf_topk_filtered(e, qvec, allowed, k=10, n_probe=16)
    assert rows(got) == rows(brute)


def test_filtered_ivf_partial_probe_recall_and_never_starves(spark):
    from inspectadb_spark.operators.similarity import (
        cosine_topk, ivf_topk_filtered,
    )

    e, allowed, qvec = _filtered_fixture(spark)
    brute = cosine_topk(
        e.join(allowed.withColumnRenamed("doc_id", "vec_id"),
               "vec_id", "semi"), qvec, k=10)
    truth = {r.vec_id for r in brute.collect()}
    ann = ivf_topk_filtered(e, qvec, allowed, k=10, n_probe=8)
    got = {r.vec_id for r in ann.collect()}
    # half the cells -> at least ~half the filtered top-k (P3's bar)
    assert len(got & truth) / len(truth) >= 0.4
    # the filter runs before the top-k cut: k rows return as long as the
    # probed cells hold >= k allowed vectors (they do on this fixture)
    assert len(got) == 10
    # and everything returned satisfies the filter
    allowed_ids = {r.doc_id for r in allowed.collect()}
    assert got <= allowed_ids


def test_post_filtering_a_fixed_candidate_list_starves(spark):
    """The failure mode q350's pre-filter exists to avoid: filtering the
    UNFILTERED top-k afterwards returns fewer than k whenever the global
    neighborhood is dominated by disallowed vectors — on this fixture the
    'en' share is ~40%, so the post-filtered list loses rows while the
    pre-filtered query returns a full top-10."""
    from inspectadb_spark.operators.similarity import cosine_topk

    e, allowed, qvec = _filtered_fixture(spark)
    allowed_ids = {r.doc_id for r in allowed.collect()}
    post = [r.vec_id for r in cosine_topk(e, qvec, k=10).collect()
            if r.vec_id in allowed_ids]
    assert len(post) < 10


def test_filtered_pq_serving_full_budget_equals_filtered_brute(spark,
                                                               tmp_path):
    """Filtered ANN at the PQ tier (VERDICT r11 item 4): the allowed-id
    semi join runs against the CODE lists before ADC scoring, so the k-cut
    and rerank budget are spent on allowed candidates only. Probe-all +
    full rerank degenerates to the exact filtered brute, byte-identical —
    the same commutation anchor as the IVF tier."""
    from inspectadb_spark.operators.similarity import (
        cosine_topk, ivf_pq_topk_from_index, kmeans_fit, pq_fit,
        save_ivf_pq_index,
    )

    e, allowed, qvec = _filtered_fixture(spark)
    cents, _ = kmeans_fit(e, k=6, iters=1)
    books = pq_fit(e, m=8, ks=16, iters=2, sample=400)
    idx = str(tmp_path / "ivfpq_filtered")
    save_ivf_pq_index(e, cents, books, idx)
    n = e.count()
    brute = cosine_topk(
        e.join(allowed.withColumnRenamed("doc_id", "vec_id"),
               "vec_id", "semi"), qvec, k=10)
    served = ivf_pq_topk_from_index(
        spark, idx, qvec, k=10, n_probe=6, rerank=n, vectors=e,
        allowed=allowed)
    rows = lambda df: [tuple(str(x) for x in r) for r in df.collect()]
    assert rows(served) == rows(brute)

    allowed_ids = {r.doc_id for r in allowed.collect()}
    # ADC-only filtered serving: full k rows, all satisfying the filter
    # (pre-filter cannot starve while the cells hold >= k allowed ids)
    adc = ivf_pq_topk_from_index(spark, idx, qvec, k=10, n_probe=6,
                                 allowed=allowed)
    got = [r.vec_id for r in adc.collect()]
    assert len(got) == 10 and set(got) <= allowed_ids

    # partial budgets keep the filter invariant and hold the P3 recall bar
    part = ivf_pq_topk_from_index(spark, idx, qvec, k=10, n_probe=3,
                                  rerank=40, vectors=e, allowed=allowed)
    pids = {r.vec_id for r in part.collect()}
    truth = {r.vec_id for r in brute.collect()}
    assert pids <= allowed_ids
    assert len(pids & truth) / len(truth) >= 0.4


def test_filtered_serving_from_persisted_index_matches_inline(spark,
                                                              tmp_path):
    from inspectadb_spark.operators.similarity import (
        ivf_topk_filtered, ivf_topk_from_index, kmeans_fit, save_ivf_index,
    )

    e, allowed, qvec = _filtered_fixture(spark)
    cents, _ = kmeans_fit(e, k=8, iters=1)
    idx = str(tmp_path / "ivf_idx")
    save_ivf_index(e, cents, idx)
    served = ivf_topk_from_index(spark, idx, qvec, k=10, n_probe=3,
                                 allowed=allowed)
    inline = ivf_topk_filtered(e, qvec, allowed, k=10, n_probe=3,
                               centroids=cents)
    rows = lambda df: [tuple(str(x) for x in r) for r in df.collect()]
    assert rows(served) == rows(inline)
    # everything served satisfies the filter
    ids = {r.doc_id for r in allowed.collect()}
    assert {r.vec_id for r in served.collect()} <= ids


@pytest.mark.parametrize("sel_sql, sel_label", [
    ("vec_id % 10 = 0", "10pct"),
    ("vec_id % 2 = 0", "50pct"),
])
def test_filtered_pq_partial_budget_recall_curve(spark, tmp_path, sel_sql,
                                                 sel_label):
    """P-class recall surface for FILTERED PQ serving (VERDICT r12 item
    6): recall@10 vs (n_probe, rerank) budget at two filter
    selectivities, mirroring the unfiltered P3 bar. The deterministic
    fixture (seeded kmeans/pq, modulo filters) measured
    10%: 0.8/0.8/0.9/1.0 and 50%: 0.6/0.6/0.8/1.0 across the budget
    grid — bars pinned one notch below. Every budget must also return a
    FULL k of in-filter rows (the never-starves invariant: the semi join
    runs against the code lists before the k-cut)."""
    from inspectadb_spark.operators.similarity import (
        cosine_topk, ivf_pq_topk_from_index, kmeans_fit, pq_fit,
        save_ivf_pq_index,
    )

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n = e.count()
    cents, _ = kmeans_fit(e, k=6, iters=1)
    books = pq_fit(e, m=8, ks=16, iters=2, sample=400)
    idx = str(tmp_path / "ivfpq_curve")
    save_ivf_pq_index(e, cents, books, idx)
    qvec = [float(x) for x in
            e.filter(F.col("vec_id") == 0).select("embedding").first()[0]]
    allowed = e.filter(sel_sql).select(F.col("vec_id").alias("doc_id"))
    allowed_ids = {r.doc_id for r in allowed.collect()}
    truth = {r.vec_id
             for r in cosine_topk(e.filter(sel_sql), qvec, k=10).collect()}
    # (n_probe, rerank) -> recall@10 bar; the full budget is the exact
    # commutation anchor (must be 1.0, not just >=)
    grid = [(2, 30, 0.4), (3, 60, 0.4), (4, 100, 0.5), (6, n, 1.0)]
    for n_probe, rerank, bar in grid:
        got = {r.vec_id for r in
               ivf_pq_topk_from_index(spark, idx, qvec, k=10,
                                      n_probe=n_probe, rerank=rerank,
                                      vectors=e, allowed=allowed).collect()}
        assert len(got) == 10, f"starved at probe={n_probe} rerank={rerank}"
        assert got <= allowed_ids, "filter invariant broken"
        recall = len(got & truth) / len(truth)
        if bar == 1.0:
            assert recall == 1.0, (sel_label, n_probe, rerank, recall)
        else:
            assert recall >= bar, (sel_label, n_probe, rerank, recall)
