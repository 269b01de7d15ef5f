"""Connected-components dedup clustering + partitioned-sink pruning tests."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from inspectadb_spark.operators.cluster import connected_components, dedup_keep_canonical

# r14 driver fast lane (pytest.ini): index build/rebuild roundtrips —
# builder-run each round with -m ""
pytestmark = pytest.mark.slow


def test_components_chain_and_islands(spark):
    # chain 1-2-3 (one comp), pair 10-11, isolated edge 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21)], ["d1", "d2"]
    )
    comps = {r["node"]: r["comp"] for r in connected_components(pairs).collect()}
    assert comps[1] == comps[2] == comps[3] == 1
    assert comps[10] == comps[11] == 10
    assert comps[20] == comps[21] == 20


def test_components_transitive_long_chain(spark):
    # 0-1-2-...-9: diameter forces multiple propagation rounds
    pairs = spark.createDataFrame([(i, i + 1) for i in range(9)], ["d1", "d2"])
    comps = {r["node"]: r["comp"] for r in connected_components(pairs).collect()}
    assert set(comps.values()) == {0}


def test_components_unconverged_raises(spark):
    # path 0-1-...-29: label 0 walks one hop per round, so the labels are
    # still changing after 3 rounds; the default bound converges it
    pairs = spark.createDataFrame([(i, i + 1) for i in range(29)],
                                  ["d1", "d2"])
    with pytest.raises(RuntimeError, match="max_iters=3"):
        connected_components(pairs, max_iters=3)
    comps = {r["node"]: r["comp"]
             for r in connected_components(pairs).collect()}
    assert len(comps) == 30 and set(comps.values()) == {0}


def test_dedup_keep_canonical(spark):
    docs = spark.createDataFrame(
        [(i, f"text{i}") for i in range(8)], ["doc_id", "text"]
    )
    # clusters {1,2,3} and {5,6}; docs 0,4,7 untouched
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], ["d1", "d2"])
    kept = sorted(r["doc_id"] for r in dedup_keep_canonical(docs, pairs).collect())
    assert kept == [0, 1, 4, 5, 7]


def test_end_to_end_minhash_to_clusters(spark):
    from tests.test_properties import _plant_near_dups
    from inspectadb_spark.operators.dedup import minhash_near_dup_pairs

    corpus, truth = _plant_near_dups(spark, n_docs=40, n_dups=8)
    pairs = minhash_near_dup_pairs(corpus, num_hashes=32, bands=8, threshold=0.5)
    deduped = dedup_keep_canonical(corpus, pairs)
    n_corpus = corpus.count()
    n_found_pairs = pairs.count()
    # every found pair removes exactly one doc (all clusters here are size 2
    # at jaccard >= 0.5; planted copies only match their original)
    assert deduped.count() == n_corpus - n_found_pairs
    # survivors are the original (lower) ids
    kept_ids = {r["doc_id"] for r in deduped.select("doc_id").collect()}
    for orig, copy in truth:
        if copy not in kept_ids:  # pair was found and collapsed
            assert orig in kept_ids


def test_partitioned_sink_prunes(spark, tmp_path):
    from inspectadb_spark.operators.scale import explain_str
    from inspectadb_spark.sources.files import write_partitioned
    from tests.conftest import SF_DIR

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    out = str(tmp_path / "orders_by_status")
    write_partitioned(orders, out, ["o_orderstatus"])
    assert sorted(
        d for d in os.listdir(out) if d.startswith("o_orderstatus=")
    ), "hive-style partition dirs expected"
    back = spark.read.parquet(out).filter(F.col("o_orderstatus") == "F")
    plan = explain_str(back, "formatted")
    # the filter became a partition filter on the scan — zero I/O for others
    assert "PartitionFilters: [isnotnull(o_orderstatus" in plan
    assert back.count() == orders.filter(F.col("o_orderstatus") == "F").count()


# IVF at scale: the cell id as a hive partition column — a probe reads only
# its inverted lists (SCALE.md's claim, proven from the scan plan).
def test_ivf_cell_partitioning_prunes_scan(spark, tmp_path):
    from inspectadb_spark.operators.scale import explain_str
    from inspectadb_spark.operators.similarity import ivf_assign, kmeans_fit
    from tests.conftest import SF_DIR

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents, _ = kmeans_fit(e, k=4, iters=1)
    out = str(tmp_path / "ivf_lists")
    ivf_assign(e, cents).write.partitionBy("_cell").mode("overwrite").parquet(out)
    back = spark.read.parquet(out).filter(F.col("_cell").isin([0, 1]))
    plan = explain_str(back, "formatted")
    assert "PartitionFilters" in plan and "_cell" in plan.split("PartitionFilters")[1][:200]
    # probed subset is exactly the rows assigned to cells 0/1
    expect = ivf_assign(e, cents).filter(F.col("_cell").isin([0, 1])).count()
    assert back.count() == expect > 0


# Persisted IVF index: build once with save_ivf_index, serve many queries
# with ivf_topk_from_index. Parity: serving from the index returns exactly
# the inline ivf_topk result over the same centroids. Footprint: the
# executed scan's own metrics (numPartitions — post-pruning, stronger than
# the PartitionFilters plan string) show only the probed cells were read.
def test_ivf_index_roundtrip_serves_inline_results(spark, tmp_path):
    from inspectadb_spark.operators.similarity import (
        _probe_cells, ivf_topk, ivf_topk_from_index, kmeans_fit,
        load_ivf_centroids, save_ivf_index,
    )
    from tests.conftest import SF_DIR

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents, _ = kmeans_fit(e, k=8, iters=1)
    idx = str(tmp_path / "ivf_index")
    save_ivf_index(e, cents, idx)

    dim = len(e.select("embedding").first()[0])
    qv = [1.0 if i % 3 == 0 else -0.5 for i in range(dim)]

    served = ivf_topk_from_index(spark, idx, qv, k=5, n_probe=3)
    inline = ivf_topk(e, qv, k=5, n_probe=3, centroids=cents)
    rows = lambda df: [tuple(str(x) for x in r) for r in df.collect()]
    assert rows(served) == rows(inline) and served.count() == 5

    # the model round-trips bit-exact (normalized rows, cell-ordered)
    import numpy as np
    stored = load_ivf_centroids(spark, idx)
    want = np.asarray(cents, dtype=np.float64).copy()
    want /= np.linalg.norm(want, axis=1, keepdims=True)
    assert np.array_equal(stored, want)

    # serving reads ONLY the probed inverted lists: the executed scan's
    # numPartitions metric counts hive partitions AFTER pruning
    probe = _probe_cells(stored, qv, 3)
    cand = spark.read.parquet(f"{idx}/lists").filter(F.col("_cell").isin(probe))
    cand.collect()

    def scan_metric(df, name):
        def walk(n):
            if "Scan" in n.nodeName():
                m = n.metrics()
                if m.contains(name):
                    return m.apply(name).value()
            cs = n.children()
            for i in range(cs.length()):
                got = walk(cs.apply(i))
                if got is not None:
                    return got
            return None
        return walk(df._jdf.queryExecution().executedPlan())

    n_cells_on_disk = len(
        [d for d in os.listdir(f"{idx}/lists") if d.startswith("_cell=")])
    assert scan_metric(cand, "numPartitions") == len(probe) < n_cells_on_disk


# Batched IVF k-NN join: equi-join on cell (never all-pairs). Verified
# against a first-principles numpy re-implementation of the whole
# contract at sf0.001 — probe-cell selection, cell assignment, ppm
# cosine, id tie-breaks — plus a candidate-count bound showing the
# probe prune is real.
def test_ivf_knn_join_matches_numpy_reference(spark):
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    from inspectadb_spark.operators.similarity import ivf_knn_join, kmeans_fit
    from tests.conftest import SF_DIR

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents, _ = kmeans_fit(e, k=6, iters=1)
    queries = e.filter(F.col("vec_id") % 7 == 2)

    K, NPROBE = 4, 2
    got = ivf_knn_join(queries, e, cents, k=K, n_probe=NPROBE)
    from inspectadb_spark.operators.scale import explain_str
    plan = explain_str(got, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    got_rows = {(r.q_id, r.rank): (r.n_id, r.sim_ppm) for r in got.collect()}

    # -- numpy reference ---------------------------------------------------
    rows = e.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in rows])
    V = np.array([list(r.embedding) for r in rows], dtype=np.float64)
    C = np.asarray(cents, np.float64).copy()
    C /= np.linalg.norm(C, axis=1, keepdims=True)
    norms = np.linalg.norm(V, axis=1)
    S = (V @ C.T) / norms[:, None]          # (n, cells) cosine to centroids

    def top_cells(srow, n):
        # desc score, lower cell on ties — the engine's struct-sort order
        order = sorted(range(len(srow)), key=lambda c: (-srow[c], c))
        return order[:n]

    assign = np.array([top_cells(S[i], 1)[0] for i in range(len(ids))])

    def ppm(cos):
        return int(Decimal(repr(cos)).quantize(
            Decimal("0.000001"), rounding=ROUND_HALF_UP) * 1_000_000)

    want = {}
    n_cand_total = 0
    for i in np.flatnonzero(ids % 7 == 2):
        probed = set(top_cells(S[i], NPROBE))
        cand = [j for j in range(len(ids))
                if assign[j] in probed and j != i and norms[j] > 0]
        n_cand_total += len(cand)
        sims = sorted(
            ((ppm(float(V[i] @ V[j]) / float(norms[i] * norms[j])),
              -int(ids[j])) for j in cand), reverse=True)
        for rank, (sp, nid) in enumerate(sims[:K], start=1):
            want[(int(ids[i]), rank)] = (-nid, sp)

    assert got_rows == want and len(want) > 0
    # the equi-join pruned: candidates well under the all-pairs count
    n_q = int((ids % 7 == 2).sum())
    assert n_cand_total < 0.8 * n_q * (len(ids) - 1)


# Cost-routed knn_join: brute (exact, broadcast) below the measured
# crossover, cell equi-join above. The routes are distinguishable in the
# physical plan (brute: broadcast non-equi join; ivf: equi-join on
# _cell), exact-path results match the probe-all reference, and the
# routed ivf path is identical to calling ivf_knn_join directly.
def test_knn_join_routes_by_collection_size(spark):
    from inspectadb_spark.operators.scale import explain_str
    from inspectadb_spark.operators.similarity import (
        ivf_knn_join, kmeans_fit, knn_join,
    )
    from tests.conftest import SF_DIR

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents, _ = kmeans_fit(e, k=4, iters=1)
    qs = e.filter(F.col("vec_id") % 13 == 6)
    rows = lambda df: sorted(tuple(str(x) for x in r) for r in df.collect())

    # small collection → brute: broadcast join, no _cell anywhere
    brute = knn_join(qs, e, k=3)
    plan = explain_str(brute, "simple")
    assert "_cell" not in plan and "Broadcast" in plan

    # forced cell route ≡ direct ivf_knn_join
    routed = knn_join(qs, e, k=3, centroids=cents, n_probe=2,
                      brute_threshold=1)
    assert "_cell" in explain_str(routed, "simple")
    assert rows(routed) == rows(ivf_knn_join(qs, e, cents, k=3, n_probe=2))

    # probe-all cell route degenerates to the exact brute result
    all_cells = knn_join(qs, e, k=3, centroids=cents, n_probe=4,
                         brute_threshold=1)
    assert rows(all_cells) == rows(brute)

    # above-threshold without a model is a loud error, not a silent scan
    import pytest
    with pytest.raises(ValueError, match="centroids"):
        knn_join(qs, e, k=3, brute_threshold=1)


# Quantized persisted index: int-code inverted lists (the 100 TB storage
# lever) with the codebook riding beside the centroid model; every
# serving path dequantizes transparently. Recall vs the full-precision
# index stays high (q43f property bound), bytes on disk shrink, and
# streamed ingest quantizes with the FROZEN codebook so served results
# include ingested vectors.
def test_quantized_ivf_index_serves_with_bounded_loss(spark, tmp_path):
    import glob

    from inspectadb_spark.operators.similarity import (
        ivf_knn_join_from_index, ivf_topk_from_index, kmeans_fit,
        read_ivf_lists, save_ivf_index,
    )
    from inspectadb_spark.streaming.ann_index import StreamingIvfIngest
    from tests.conftest import SF_DIR

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    base = e.filter(F.col("vec_id") % 5 != 0)
    cents, _ = kmeans_fit(base, k=6, iters=1)
    idx_f = str(tmp_path / "full")
    idx_q = str(tmp_path / "quant")
    save_ivf_index(base, cents, idx_f)
    save_ivf_index(base, cents, idx_q, quantize_bits=8)

    dim = len(e.select("embedding").first()[0])
    qv = [0.5 if i % 2 == 0 else -1.0 for i in range(dim)]
    full = {r.vec_id for r in
            ivf_topk_from_index(spark, idx_f, qv, k=10, n_probe=3).collect()}
    quant = {r.vec_id for r in
             ivf_topk_from_index(spark, idx_q, qv, k=10, n_probe=3).collect()}
    assert len(full & quant) >= 8  # 8-bit codes keep top-10 nearly intact

    # the storage claim is real: quantized lists are much smaller
    fb = sum(os.path.getsize(p) for p in
             glob.glob(f"{idx_f}/lists/**/*.parquet", recursive=True))
    qb = sum(os.path.getsize(p) for p in
             glob.glob(f"{idx_q}/lists/**/*.parquet", recursive=True))
    assert qb < 0.6 * fb, (qb, fb)

    # batched serving works on the quantized index too
    queries = e.filter(F.col("vec_id") % 9 == 2)
    served_q = ivf_knn_join_from_index(spark, idx_q, queries, k=3, n_probe=2)
    served_f = ivf_knn_join_from_index(spark, idx_f, queries, k=3, n_probe=2)
    sq = {(r.q_id, r.rank): r.n_id for r in served_q.collect()}
    sf = {(r.q_id, r.rank): r.n_id for r in served_f.collect()}
    agree = sum(1 for key in sf if sq.get(key) == sf[key])
    assert agree >= 0.7 * len(sf) > 0

    # ingest into the quantized index: frozen codebook, codes on disk,
    # ingested vectors become servable
    inc = StreamingIvfIngest(spark, idx_q)
    inc._checkpoint = str(tmp_path / "ckpt")
    newbies = e.filter(F.col("vec_id") % 5 == 0)
    inc._apply_batch(newbies, 0)
    lists = read_ivf_lists(spark, idx_q)
    assert lists.count() == e.count()
    assert dict(lists.dtypes)["embedding"] == "array<double>"  # dequantized
    new_ids = {r.vec_id for r in newbies.select("vec_id").collect()}
    got_ids = {r.vec_id for r in lists.select("vec_id").collect()}
    assert new_ids <= got_ids


# -- Product quantization (PQ): codes, ADC serving, two-stage rerank --------
#
# Random 64-dim vectors are the adversarial case for PQ (no subspace
# structure to exploit), so the bounds below are deliberately modest; the
# CONTRACTS under test are exact: code assignment equals the numpy argmin
# with the engine's tie-break, and two-stage serving with a full-size
# rerank budget is byte-identical to brute force.

def test_pq_encode_matches_numpy_reference(spark):
    import numpy as np

    from inspectadb_spark.operators.scale import explain_str
    from inspectadb_spark.operators.similarity import pq_encode, pq_fit
    from tests.conftest import SF_DIR

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    books = pq_fit(e, m=8, ks=16, iters=3, sample=400)
    assert books.shape == (8, 16, 8)
    codes = pq_encode(e, books)
    # the code table is the persistable artifact: m smallints + exact norm
    assert codes.schema.simpleString() == (
        "struct<vec_id:bigint,_pq:array<smallint>,_vnorm:double>")
    # scan-side projection: no exchange anywhere in the encode plan
    assert "Exchange" not in explain_str(codes, "simple")

    rows = e.select("vec_id", "embedding").collect()
    ids = [int(r.vec_id) for r in rows]
    V = np.array([list(r.embedding) for r in rows], dtype=np.float64)
    m, ks, dsub = books.shape
    want = {}
    for i, vid in enumerate(ids):
        cs = []
        for j in range(m):
            sub = V[i, j * dsub:(j + 1) * dsub]
            scores = books[j] @ sub - (books[j] ** 2).sum(axis=1) / 2
            cs.append(sorted(range(ks), key=lambda c: (-scores[c], c))[0])
        want[vid] = cs
    got = {int(r.vec_id): list(r._pq) for r in codes.collect()}
    assert got == want


def test_pq_adc_full_rerank_is_exactly_brute_force(spark):
    from inspectadb_spark.operators.similarity import (
        cosine_topk, pq_adc_topk, pq_encode, pq_fit,
    )
    from tests.conftest import SF_DIR

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    books = pq_fit(e, m=8, ks=16, iters=3, sample=400)
    codes = pq_encode(e, books).cache()
    n = codes.count()
    for qid in (0, 7, 123):
        qvec = [float(x) for x in
                e.filter(F.col("vec_id") == qid).first()["embedding"]]
        two = pq_adc_topk(codes, books, qvec, k=10, rerank=n, vectors=e)
        brute = cosine_topk(e, qvec, k=10)
        assert two.collect() == brute.collect()
    codes.unpersist()


def test_pq_adc_rerank_recall_and_plan(spark):
    from inspectadb_spark.operators.scale import explain_str
    from inspectadb_spark.operators.similarity import (
        cosine_topk, pq_adc_topk, pq_encode, pq_fit,
    )
    from tests.conftest import SF_DIR

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    books = pq_fit(e, m=8, ks=16, iters=3, sample=400)
    codes = pq_encode(e, books).cache()

    # ADC-only serving is a zero-shuffle TakeOrderedAndProject over codes
    qvec = [float(x) for x in
            e.filter(F.col("vec_id") == 0).first()["embedding"]]
    adc_only = pq_adc_topk(codes, books, qvec, k=10)
    plan = explain_str(adc_only, "simple")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan

    # two-stage recall@10 with a 10% rerank budget, averaged over queries
    hits = total = 0
    for qid in (0, 7, 42, 123, 250):
        qvec = [float(x) for x in
                e.filter(F.col("vec_id") == qid).first()["embedding"]]
        got = {r.vec_id for r in
               pq_adc_topk(codes, books, qvec, k=10, rerank=50,
                           vectors=e).collect()}
        want = {r.vec_id for r in cosine_topk(e, qvec, k=10).collect()}
        hits += len(got & want)
        total += len(want)
    assert hits / total >= 0.5, f"two-stage recall collapsed: {hits}/{total}"
    codes.unpersist()


# Persisted IVF-PQ index: inverted lists store m smallint codes + one norm
# instead of vectors. Parity: full-rerank serving from the index equals the
# inline full-precision ivf_topk exactly. Footprint: probed-cells-only scan
# (numPartitions metric) and a strictly smaller lists directory than the
# full-precision index.
def test_ivf_pq_index_roundtrip_prune_and_footprint(spark, tmp_path):
    import numpy as np

    from inspectadb_spark.operators.similarity import (
        _probe_cells, ivf_pq_topk_from_index, ivf_topk, kmeans_fit,
        load_ivf_centroids, load_pq_codebooks, pq_fit, save_ivf_index,
        save_ivf_pq_index,
    )
    from tests.conftest import SF_DIR

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents, _ = kmeans_fit(e, k=6, iters=1)
    books = pq_fit(e, m=8, ks=16, iters=2, sample=400)
    idx = str(tmp_path / "ivfpq")
    save_ivf_pq_index(e, cents, books, idx)

    # both models round-trip exactly
    assert np.array_equal(load_pq_codebooks(spark, idx), books)
    stored = load_ivf_centroids(spark, idx)

    n = e.count()
    qv = [float(x) for x in
          e.filter(F.col("vec_id") == 11).first()["embedding"]]
    # full rerank budget -> exact cosine over the probed cells == ivf_topk
    served = ivf_pq_topk_from_index(
        spark, idx, qv, k=5, n_probe=2, rerank=n, vectors=e)
    inline = ivf_topk(e, qv, k=5, n_probe=2, centroids=cents)
    rows = lambda df: [tuple(str(x) for x in r) for r in df.collect()]
    assert rows(served) == rows(inline) and served.count() == 5

    # ADC-only serving never touches the base table and still returns k ids
    adc_only = ivf_pq_topk_from_index(spark, idx, qv, k=5, n_probe=2)
    assert adc_only.count() == 5

    # scan footprint: only the probed cells' code lists are read
    probe = _probe_cells(stored, qv, 2)
    cand = (spark.read.parquet(f"{idx}/pq_lists")
            .filter(F.col("_cell").isin(probe)))
    cand.collect()

    def scan_metric(df, name):
        def walk(node):
            if "Scan" in node.nodeName():
                m = node.metrics()
                if m.contains(name):
                    return m.apply(name).value()
            cs = node.children()
            for i in range(cs.length()):
                got = walk(cs.apply(i))
                if got is not None:
                    return got
            return None
        return walk(df._jdf.queryExecution().executedPlan())

    n_cells = len([d for d in os.listdir(f"{idx}/pq_lists")
                   if d.startswith("_cell=")])
    assert scan_metric(cand, "numPartitions") == len(probe) < n_cells

    # storage: code lists are a fraction of the full-precision lists
    full = str(tmp_path / "ivf_full")
    save_ivf_index(e, cents, full)

    def dir_bytes(root):
        return sum(os.path.getsize(os.path.join(dp, f))
                   for dp, _, fs in os.walk(root) for f in fs)

    assert dir_bytes(f"{idx}/pq_lists") < 0.5 * dir_bytes(f"{full}/lists")


# Batched k-NN join against the persisted IVF-PQ index: candidates from the
# cell equi-join over CODE lists, scored by scan-side PQ reconstruction
# (batched ADC). With a full rerank budget the result is byte-identical to
# ivf_knn_join over the same centroids — the approximation is confined to
# the rerank budget, exactly like the single-query path.
def test_ivf_pq_knn_join_full_rerank_equals_ivf_knn_join(spark, tmp_path):
    from inspectadb_spark.operators.scale import explain_str
    from inspectadb_spark.operators.similarity import (
        ivf_knn_join, ivf_pq_knn_join_from_index, kmeans_fit, pq_fit,
        save_ivf_pq_index,
    )
    from tests.conftest import SF_DIR

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents, _ = kmeans_fit(e, k=6, iters=1)
    books = pq_fit(e, m=8, ks=16, iters=2, sample=400)
    idx = str(tmp_path / "ivfpq_join")
    save_ivf_pq_index(e, cents, books, idx)

    qs = e.filter(F.col("vec_id") % 13 == 4)
    n = e.count()
    got = ivf_pq_knn_join_from_index(
        spark, idx, qs, k=3, n_probe=2, rerank=n, vectors=e)
    plan = explain_str(got, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    want = ivf_knn_join(qs, e, cents, k=3, n_probe=2)
    key = lambda df: {(r.q_id, r.rank): (r.n_id, r.sim_ppm)
                      for r in df.collect()}
    gk, wk = key(got), key(want)
    assert gk == wk and len(gk) > 0

    # ADC-only: same candidate universe, k rows per query, approx scores
    adc = ivf_pq_knn_join_from_index(spark, idx, qs, k=3, n_probe=2)
    per_q = {}
    for r in adc.collect():
        per_q.setdefault(r.q_id, []).append(r.rank)
    assert set(per_q) == {qk for qk, _ in gk}
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_q.values())


# PQ encode routes: the expr (codegen) and arrow (GEMM) paths must produce
# identical codes, and auto must route by codebook size — expr at m·ks ≤ 256
# (whole-stage codegen), arrow above (the unrolled expression would blow
# the JIT method budget, the srp_signature lesson).
def test_pq_encode_routes_agree_and_auto_picks_by_size(spark):
    import numpy as np

    from inspectadb_spark.operators.scale import explain_str
    from inspectadb_spark.operators.similarity import (
        cosine_topk, pq_adc_topk, pq_encode, pq_fit,
    )
    from tests.conftest import SF_DIR

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    # small codebook: auto -> expr; parity vs the forced arrow route
    small = pq_fit(e, m=8, ks=16, iters=2, sample=400)
    auto_small = pq_encode(e, small)
    assert "MapInPandas" not in explain_str(auto_small, "simple")
    arrow_small = pq_encode(e, small, method="arrow")
    codes = lambda df: {int(r.vec_id): list(r._pq) for r in df.collect()}
    assert codes(auto_small) == codes(arrow_small)
    norms_a = {int(r.vec_id): r._vnorm for r in auto_small.collect()}
    norms_b = {int(r.vec_id): r._vnorm for r in arrow_small.collect()}
    assert all(abs(norms_a[k] - norms_b[k]) < 1e-12 for k in norms_a)

    # production-sized codebook: auto -> arrow; the whole PQ pipeline still
    # holds its exactness law on arrow-encoded codes
    big = pq_fit(e, m=8, ks=64, iters=2, sample=400)
    auto_big = pq_encode(e, big)
    assert "MapInPandas" in explain_str(auto_big, "simple")
    n = e.count()
    qvec = [float(x) for x in
            e.filter(F.col("vec_id") == 5).first()["embedding"]]
    two = pq_adc_topk(auto_big, big, qvec, k=10, rerank=n, vectors=e)
    assert two.collect() == cosine_topk(e, qvec, k=10).collect()


# -- review regressions: rebuild supersedes ingest; batched join prunes ------

def test_rebuild_supersedes_streamed_ingest_pointer(spark, tmp_path):
    """An in-place save_ivf_index after a streaming ingest must clear the
    INGEST pointer: its delta lists were cell-assigned under the OLD
    centroid model, so a reader preferring them would serve stale lists
    against the new probe ranking."""
    from inspectadb_spark.operators.similarity import (
        ivf_topk, ivf_topk_from_index, kmeans_fit, read_ivf_lists,
        save_ivf_index,
    )
    from inspectadb_spark.streaming.ann_index import StreamingIvfIngest
    from tests.conftest import SF_DIR

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    base = e.filter(F.col("vec_id") % 5 != 0)
    cents, _ = kmeans_fit(base, k=4, iters=1)
    idx = str(tmp_path / "idx")
    save_ivf_index(base, cents, idx)

    inc = StreamingIvfIngest(spark, idx)
    inc._apply_batch(e.filter(F.col("vec_id") % 5 == 0), batch_id=0)
    assert os.path.exists(f"{idx}/INGEST")

    # offline rebuild over the FULL collection with a fresh model
    cents2, _ = kmeans_fit(e, k=8, iters=1)
    save_ivf_index(e, cents2, idx)
    assert not os.path.exists(f"{idx}/INGEST")
    # readers see exactly the rebuilt base — count and serving parity
    assert read_ivf_lists(spark, idx).count() == e.count()
    qvec = [float(x) for x in
            e.filter(F.col("vec_id") == 0).first()["embedding"]]
    served = ivf_topk_from_index(spark, idx, qvec, k=5, n_probe=8)
    inline = ivf_topk(e, qvec, k=5, n_probe=8, centroids=cents2)
    rows = lambda df: [tuple(str(x) for x in r) for r in df.collect()]
    assert rows(served) == rows(inline)


def test_batched_knn_join_scans_only_probed_cells(spark, tmp_path):
    """The batched join must partition-filter the lists scan to the query
    batch's probed cells — without it every serving micro-batch re-reads
    the whole index. Proven on the executed scan's numPartitions metric,
    like the single-query path."""
    from inspectadb_spark.operators.similarity import (
        _collect_probed_cells, ivf_knn_join_from_index, kmeans_fit,
        load_ivf_centroids, save_ivf_index,
    )
    from tests.conftest import SF_DIR

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents, _ = kmeans_fit(e, k=8, iters=1)
    idx = str(tmp_path / "idx")
    save_ivf_index(e, cents, idx)

    queries = e.filter(F.col("vec_id") == 0)
    out = ivf_knn_join_from_index(spark, idx, queries, k=3, n_probe=2)
    out.collect()

    def scan_metric(df, name):
        def walk(n):
            if "AdaptiveSparkPlan" in n.nodeName():
                return walk(n.finalPhysicalPlan())
            if "QueryStage" in n.nodeName():
                return walk(n.plan())
            if "Scan parquet" in n.nodeName():
                m = n.metrics()
                if m.contains(name):
                    v = m.apply(name).value()
                    if v is not None:
                        return v
            cs = n.children()
            for i in range(cs.length()):
                got = walk(cs.apply(i))
                if got is not None:
                    return got
            return None
        return walk(df._jdf.queryExecution().executedPlan())

    probed = _collect_probed_cells(
        queries, load_ivf_centroids(spark, idx), "embedding", 2)
    n_cells = len([d for d in os.listdir(f"{idx}/lists")
                   if d.startswith("_cell=")])
    # one of the two parquet scans is the lists side; embeddings.parquet
    # is unpartitioned (metric 1), so a partition count equal to the probe
    # set proves the static filter pruned the index directories
    got = scan_metric(out, "numPartitions")
    assert got == len(probed) < n_cells, (got, probed, n_cells)


def test_gc_index_removes_orphans_and_keeps_committed(spark, tmp_path):
    """An ingester stopping right after a compaction orphans its
    superseded base+deltas (retirement is deferred one swap). gc_index
    must delete exactly the unreferenced lists_v*/delta subtrees and
    leave serving unchanged."""
    from inspectadb_spark.operators.similarity import (
        ivf_knn_join_from_index, kmeans_fit, read_ivf_lists, save_ivf_index,
    )
    from inspectadb_spark.streaming.ann_index import StreamingIvfIngest, gc_index
    from tests.conftest import SF_DIR

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    base = e.filter(F.col("vec_id") % 4 != 1)
    cents, _ = kmeans_fit(base, k=4, iters=1)
    idx = str(tmp_path / "idx")
    save_ivf_index(base, cents, idx)

    # compact_every=2: batch 0 appends a delta, batch 1 compacts -> the
    # superseded (lists, delta) dirs are left retired-but-present
    inc = StreamingIvfIngest(spark, idx, compact_every=2)
    inc._checkpoint = str(tmp_path / "ck")
    half = e.filter(F.col("vec_id") % 4 == 1)
    inc._apply_batch(half.filter(F.col("vec_id") % 8 == 1), batch_id=0)
    inc._apply_batch(half.filter(F.col("vec_id") % 8 == 5), batch_id=1)

    committed = set(inc.committed_paths())
    orphans_before = [
        d for d in os.listdir(idx)
        if d.startswith("lists_delta") or
        (d.startswith("lists_v") and os.path.join(idx, d) not in committed)]
    assert orphans_before, "fixture must actually orphan something"
    n_rows = read_ivf_lists(spark, idx).count()

    removed = gc_index(idx)
    assert removed, removed
    # every committed path survives; every orphan is gone
    for p in committed:
        assert os.path.exists(p)
    leftovers = [
        d for d in os.listdir(idx)
        if d.startswith("lists_v") and os.path.join(idx, d) not in committed]
    assert not leftovers
    # serving is unchanged
    assert read_ivf_lists(spark, idx).count() == n_rows
    q = e.filter(F.col("vec_id") == 0)
    assert ivf_knn_join_from_index(spark, idx, q, k=3, n_probe=2).count() == 3


def test_rebuilding_sentinel_refuses_mixed_model_serving(spark, tmp_path):
    # review r12: centroids/lists cannot swap atomically, so the in-place
    # rebuild window (or a crash inside it) is a mixed-model state that
    # would serve silently-wrong neighbors. The sentinel turns it into an
    # explicit error; a completed rebuild clears it.
    import pytest as _pytest

    from inspectadb_spark.operators.similarity import (
        ivf_topk_from_index, kmeans_fit, load_ivf_centroids,
        read_ivf_lists, save_ivf_index,
    )
    from tests.conftest import SF_DIR

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents, _ = kmeans_fit(e, k=4, iters=1)
    idx = str(tmp_path / "idx")
    save_ivf_index(e, cents, idx)
    assert not os.path.exists(f"{idx}/REBUILDING")   # completed -> cleared
    qv = [float(x) for x in
          e.filter(F.col("vec_id") == 3).first()["embedding"]]
    assert ivf_topk_from_index(spark, idx, qv, k=3, n_probe=2).count() == 3

    # simulate a crash mid-rebuild: sentinel present -> every reader path
    # refuses instead of mixing models
    with open(f"{idx}/REBUILDING", "w") as f:
        f.write("crashed\n")
    with _pytest.raises(RuntimeError, match="mid-rebuild"):
        load_ivf_centroids(spark, idx)
    with _pytest.raises(RuntimeError, match="mid-rebuild"):
        read_ivf_lists(spark, idx)
    with _pytest.raises(RuntimeError, match="mid-rebuild"):
        ivf_topk_from_index(spark, idx, qv, k=3, n_probe=2)

    # re-running the rebuild to completion recovers
    save_ivf_index(e, cents, idx)
    assert ivf_topk_from_index(spark, idx, qv, k=3, n_probe=2).count() == 3


def test_rebuild_format_switch_removes_stale_artifacts(spark, tmp_path):
    # review r12 second pass: a rebuild defines the index's ONE format —
    # switching PQ -> full-precision (or quantized -> plain) must not
    # leave the other format's artifacts to be served against the new
    # model after the sentinel clears.
    import numpy as np

    from inspectadb_spark.operators.similarity import (
        cosine_topk, ivf_topk_from_index, kmeans_fit, pq_fit,
        read_ivf_lists, save_ivf_index, save_ivf_pq_index,
    )
    from tests.conftest import SF_DIR

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents, _ = kmeans_fit(e, k=4, iters=1)
    books = pq_fit(e, m=8, ks=16, iters=2, sample=400)
    idx = str(tmp_path / "idx")

    # PQ -> plain: pq artifacts gone, full-precision serving exact
    save_ivf_pq_index(e, cents, books, idx)
    assert os.path.exists(f"{idx}/pq_lists")
    save_ivf_index(e, cents, idx)
    assert not os.path.exists(f"{idx}/pq_books")
    assert not os.path.exists(f"{idx}/pq_lists")
    qv = [float(x) for x in
          e.filter(F.col("vec_id") == 3).first()["embedding"]]
    n_cells = 4
    served = ivf_topk_from_index(spark, idx, qv, k=5, n_probe=n_cells)
    brute = cosine_topk(e, qv, k=5)
    rows = lambda df: [tuple(str(x) for x in r) for r in df.collect()]
    assert rows(served) == rows(brute)

    # quantized -> plain: the stale quant codebook must not dequantize
    # full-precision lists
    save_ivf_index(e, cents, idx, quantize_bits=8)
    assert os.path.exists(f"{idx}/quant")
    save_ivf_index(e, cents, idx)
    assert not os.path.exists(f"{idx}/quant")
    got = read_ivf_lists(spark, idx)
    x = np.asarray(got.filter("vec_id = 3").first()["embedding"])
    want = np.asarray(e.filter("vec_id = 3").first()["embedding"])
    assert np.allclose(x, want)

    # plain -> PQ: the stale full-precision lists are removed
    save_ivf_pq_index(e, cents, books, idx)
    assert not os.path.exists(f"{idx}/lists")


def test_failed_validation_does_not_brick_index(spark, tmp_path):
    # review r12 second pass: a pre-write failure (bad model shape) must
    # not leave a healthy index behind a REBUILDING sentinel
    import numpy as np
    import pytest as _pytest

    from inspectadb_spark.operators.similarity import (
        ivf_topk_from_index, kmeans_fit, save_ivf_index, save_ivf_pq_index,
    )
    from tests.conftest import SF_DIR

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents, _ = kmeans_fit(e, k=4, iters=1)
    idx = str(tmp_path / "idx")
    save_ivf_index(e, cents, idx)
    qv = [float(x) for x in
          e.filter(F.col("vec_id") == 3).first()["embedding"]]

    with _pytest.raises(Exception):
        save_ivf_index(e, np.asarray([1.0, 2.0, 3.0]), idx)  # 1-D: invalid
    assert not os.path.exists(f"{idx}/REBUILDING")
    with _pytest.raises(Exception):
        save_ivf_pq_index(e, cents, np.zeros((2, 2)), idx)   # 2-D books
    assert not os.path.exists(f"{idx}/REBUILDING")
    # the untouched index still serves
    assert ivf_topk_from_index(spark, idx, qv, k=3, n_probe=2).count() == 3
