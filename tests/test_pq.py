"""PQ codec tests (reference C1–C5). The oracle gate covers the frozen-
codebook encode/decode; here: fit quality (reconstruction error — the
reference's acceptance metric, examples/datawhale.py:59-61), GEMM/expr
kernel equivalence, roundtrip, divisibility check, persistence."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from vervectordb_spark.operators.pq import PQCodec
from vervectordb_spark.schema import load_table


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_DIR, "embeddings").cache()


@pytest.fixture(scope="module")
def codec(emb):
    return PQCodec.fit(emb, dim=64, n_subquantizers=8, codebook_size=32, seed=42)


def test_dim_divisibility_check(emb):
    # reference raise: vervectordb/__init__.py:163-164
    with pytest.raises(ValueError, match="divisible"):
        PQCodec.fit(emb, dim=64, n_subquantizers=7)


def test_compression_ratio(codec):
    assert codec.compression_ratio() == 32.0  # 64 floats ×4B → 8 bytes


def test_encode_shape_and_range(codec, emb):
    enc = codec.encode(emb).select("vec_id", "pq_code").collect()
    assert len(enc) == emb.count()
    for r in enc[:20]:
        assert len(r["pq_code"]) == 8
        assert all(-128 <= c < 127 for c in r["pq_code"])


def test_roundtrip_reconstruction_error(codec, emb):
    # 32 centroids per 8-dim subspace over 500 unit-norm vectors: MAE well
    # under the reference's 0.170 (which used 256 codes on dim-128 N(0,1)).
    mae = codec.reconstruction_error(emb)
    assert 0.0 < mae < 0.2


def test_decode_matches_codebook_gather(codec, emb):
    rows = (
        codec.decode(codec.encode(emb.limit(10)))
        .select("vec_id", "pq_code", "embedding_hat")
        .collect()
    )
    for r in rows:
        codes = np.asarray(r["pq_code"], dtype=np.int16) + 128
        expected = np.concatenate(
            [codec.codebooks[s][codes[s]] for s in range(8)]
        ).astype(np.float32)
        assert np.allclose(r["embedding_hat"], expected)


def test_gemm_encode_equals_expr_encode(emb, spark):
    """The two encode kernels (Arrow GEMM vs Catalyst fold) must agree on
    every code — the argmin is far from ties on real data."""
    from vervectordb_spark.queries_pq import _frozen_codebooks

    cb = _frozen_codebooks(spark, SF_DIR)
    codec = PQCodec.from_codebook_df(cb)
    subset = emb.limit(100)
    expr_codes = {
        (r["vec_id"], r["subspace"]): r["code"]
        for r in PQCodec.encode_with_expr(subset, cb, sub_dim=8).collect()
    }
    gemm_rows = codec.encode(subset).select("vec_id", "pq_code").collect()
    mismatches = 0
    for r in gemm_rows:
        for s, c in enumerate(r["pq_code"]):
            if expr_codes[(r["vec_id"], s)] != c + 128:
                mismatches += 1
    assert mismatches == 0


def test_save_load_roundtrip(codec, emb, spark, tmp_path):
    path = str(tmp_path / "pq")
    codec.save(path, spark)
    loaded = PQCodec.load(spark, path)
    assert loaded.codebooks.shape == codec.codebooks.shape
    assert np.allclose(loaded.codebooks, codec.codebooks)
    a = codec.encode(emb.limit(20)).select("pq_code").collect()
    b = loaded.encode(emb.limit(20)).select("pq_code").collect()
    assert [r["pq_code"] for r in a] == [r["pq_code"] for r in b]


def test_adc_search_recall(codec, emb, spark):
    """ADC over 8-byte codes must broadly agree with exact search; exact
    rerank of the ADC candidate pool must do at least as well."""
    from vervectordb_spark.operators.search import brute_force_topk

    encoded = codec.encode(emb).select("vec_id", "pq_code").cache()
    qv = [float(x) for x in
          emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]]
    truth = {r["vec_id"] for r in brute_force_topk(emb, qv, 10).collect()}
    adc = {r["vec_id"] for r in codec.adc_search(encoded, qv, top_k=10).collect()}
    reranked = {
        r["vec_id"]
        for r in codec.adc_search(encoded, qv, top_k=10, rerank=emb).collect()
    }
    r_adc = len(truth & adc) / 10
    r_rr = len(truth & reranked) / 10
    assert r_adc >= 0.4
    assert r_rr >= r_adc
    assert r_rr >= 0.6


def test_adc_self_is_top1(codec, emb):
    encoded = codec.encode(emb).select("vec_id", "pq_code")
    qv = [float(x) for x in
          emb.filter(F.col("vec_id") == 7).collect()[0]["embedding"]]
    top = codec.adc_search(encoded, qv, top_k=5, rerank=emb).collect()
    assert top[0]["vec_id"] == 7


def test_ivfpq_search(codec, emb):
    """IVF-PQ: probe -> ADC in probed clusters -> exact rerank. Full probe
    + rerank must find the query itself; pruning must restrict clusters."""
    from pyspark.sql import functions as F
    from vervectordb_spark.operators.ivf import IVFIndex

    ivf = IVFIndex.build(emb, n_clusters=8, seed=42)
    encoded = codec.encode(ivf.assigned).select("vec_id", "cluster_id", "pq_code").cache()
    qv = [float(x) for x in
          emb.filter(F.col("vec_id") == 11).collect()[0]["embedding"]]
    top = ivf.search_pq(codec, encoded, qv, top_k=5, nprobe=8, rerank=emb).collect()
    assert top[0]["vec_id"] == 11
    # pruned probe: candidates only from probed clusters
    probed = set(ivf.probe_clusters(qv, nprobe=2))
    cand_clusters = {
        r["cluster_id"]
        for r in encoded.filter(F.col("cluster_id").isin(list(probed))).select(
            "cluster_id").distinct().collect()
    }
    assert cand_clusters <= probed


def test_batch_adc_matches_per_query(codec, emb, spark):
    """The stacked-LUT batch kernel must be row-for-row the per-query ADC
    path (same sequential fold order per query), with and without the
    exact rerank stage."""
    encoded = codec.encode(emb).select("vec_id", "pq_code").cache()
    qdf = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    for rerank in (None, emb.select("vec_id", "embedding")):
        batch = codec.batch_adc_search(encoded, qdf, top_k=5, rerank=rerank)
        got = {
            (r["query_id"], r["rank"]): (r["vec_id"], r["sim"])
            for r in batch.collect()
        }
        for qid in range(4):
            qv = [float(x) for x in
                  emb.filter(F.col("vec_id") == qid).collect()[0]["embedding"]]
            single = codec.adc_search(encoded, qv, top_k=5, rerank=rerank)
            rows = single.orderBy(F.desc("sim"), F.asc("vec_id")).collect()
            for rank, r in enumerate(rows, 1):
                assert got[(qid, rank)][0] == r["vec_id"]
                assert got[(qid, rank)][1] == r["sim"]  # bit-exact


def test_batch_search_pq_matches_per_query(codec, emb):
    """Batched IVF-PQ (one masked scan of the probed-cluster union) must
    reproduce the per-query probe -> ADC -> rerank path."""
    from vervectordb_spark.operators.ivf import IVFIndex

    ivf = IVFIndex.build(emb, n_clusters=8, seed=42)
    encoded = codec.encode(ivf.assigned).select(
        "vec_id", "cluster_id", "pq_code"
    ).cache()
    qdf = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    batch = ivf.batch_search_pq(
        codec, encoded, qdf, top_k=5, nprobe=4, rerank=emb
    )
    got = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["sim"])
        for r in batch.collect()
    }
    for qid in range(4):
        qv = [float(x) for x in
              emb.filter(F.col("vec_id") == qid).collect()[0]["embedding"]]
        rows = (
            ivf.search_pq(codec, encoded, qv, top_k=5, nprobe=4, rerank=emb)
            .orderBy(F.desc("sim"), F.asc("vec_id"))
            .collect()
        )
        for rank, r in enumerate(rows, 1):
            assert got[(qid, rank)] == (r["vec_id"], r["sim"])


def test_batch_adc_query_guard(codec, emb):
    """Corpus-sized query sides must trip the driver guard, not OOM it."""
    encoded = codec.encode(emb.limit(50)).select("vec_id", "pq_code")
    qdf = emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    with pytest.raises(ValueError, match="query side exceeds"):
        codec.batch_adc_search(encoded, qdf, top_k=5, max_q=100)


def test_residual_beats_plain_reconstruction(emb):
    """Residual IVF-PQ quality claim: with the SAME codebook budget, fitted
    residual codebooks reconstruct x̂ = centroid + decode(r̂-code) with
    lower MAE than raw-vector PQ — the reason real IVFPQ quantizes
    residuals. Both sides fitted on the fixture, seed-pinned."""
    from vervectordb_spark.operators.ivf import IVFIndex
    from vervectordb_spark.operators.pq import with_residual

    ivf = IVFIndex.build(emb, n_clusters=8, seed=42)
    plain = PQCodec.fit(emb, dim=64, n_subquantizers=8, codebook_size=32, seed=42)
    mae_plain = plain.reconstruction_error(emb)

    res_codec = ivf.fit_residual_codec(n_subquantizers=8, codebook_size=32, seed=42)
    res = with_residual(ivf.assigned, ivf.centroids_df()).cache()
    rec = res_codec.decode(
        res_codec.encode(res, emb_col="_residual"), out_col="_rhat"
    )
    # x̂ = centroid + r̂ where centroid = x - residual; rebuild explicitly
    rec2 = rec.select(
        "vec_id",
        F.zip_with(
            F.zip_with(F.col("embedding").cast("array<double>"),
                       F.col("_residual"), lambda x, r: x - r),  # centroid
            F.col("_rhat").cast("array<double>"),
            lambda c, rh: c + rh,
        ).alias("xhat"),
        F.col("embedding").cast("array<double>").alias("x"),
    )
    mae_res = rec2.select(
        F.aggregate(
            F.zip_with(F.col("x"), F.col("xhat"), lambda x, y: F.abs(x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        ).alias("abs_err")
    ).agg((F.sum("abs_err") / (F.count("*") * 64)).alias("mae")).collect()[0]["mae"]
    assert mae_res < mae_plain, (mae_res, mae_plain)


def test_residual_adc_self_is_top1(emb):
    """Residual ADC end-to-end with fitted codebooks: a corpus vector
    queried against the residual-encoded corpus must return itself."""
    from vervectordb_spark.operators.ivf import IVFIndex

    ivf = IVFIndex.build(emb, n_clusters=8, seed=42)
    codec = ivf.fit_residual_codec(n_subquantizers=8, codebook_size=32, seed=42)
    encoded = ivf.encode_residual(codec).select(
        "vec_id", "cluster_id", "pq_code"
    ).cache()
    qv = [float(x) for x in
          emb.filter(F.col("vec_id") == 11).collect()[0]["embedding"]]
    top = ivf.search_residual_pq(
        codec, encoded, qv, top_k=5, nprobe=8, rerank=emb
    ).collect()
    assert top[0]["vec_id"] == 11


def test_residual_adc_recall_beats_plain_adc(emb, spark):
    """ADC ranking quality (no rerank): recall@10 vs exact search of the
    residual ADC must be at least that of raw-vector ADC at the same
    codebook budget, averaged over queries — the ranking-side payoff of
    residual quantization."""
    from vervectordb_spark.operators.ivf import IVFIndex
    from vervectordb_spark.operators.search import brute_force_topk

    ivf = IVFIndex.build(emb, n_clusters=8, seed=42)
    plain = PQCodec.fit(emb, dim=64, n_subquantizers=8, codebook_size=32, seed=42)
    res_codec = ivf.fit_residual_codec(n_subquantizers=8, codebook_size=32, seed=42)
    enc_plain = plain.encode(ivf.assigned).select(
        "vec_id", "cluster_id", "pq_code").cache()
    enc_res = ivf.encode_residual(codec=res_codec).select(
        "vec_id", "cluster_id", "pq_code").cache()
    probes = [r for r in emb.filter(F.col("vec_id").isin([3, 77, 201, 404]))
              .select("vec_id", "embedding").collect()]
    rec_plain = rec_res = 0.0
    for r in probes:
        qv = [float(x) for x in r["embedding"]]
        truth = [x["vec_id"] for x in brute_force_topk(emb, qv, 10).collect()]
        got_p = [x["vec_id"] for x in
                 ivf.search_pq(plain, enc_plain, qv, top_k=10, nprobe=8).collect()]
        got_r = [x["vec_id"] for x in
                 ivf.search_residual_pq(res_codec, enc_res, qv, top_k=10,
                                        nprobe=8).collect()]
        rec_plain += len(set(truth) & set(got_p)) / 10.0
        rec_res += len(set(truth) & set(got_r)) / 10.0
    assert rec_res >= rec_plain - 1e-9, (rec_res, rec_plain)
    # absolute floor is modest: k=32 codes × m=8 over 500 rows is a COARSE
    # budget by design (keeps the test fast); measured 0.45 vs plain 0.40
    assert rec_res / len(probes) >= 0.4


def test_batch_residual_matches_per_query(emb):
    """The batched residual ADC must return row-for-row the per-query
    residual path for every query (same probes, same codec)."""
    from pyspark.sql import functions as F
    from vervectordb_spark.operators.ivf import IVFIndex

    ivf = IVFIndex.build(emb, n_clusters=8, seed=42)
    codec = ivf.fit_residual_codec(n_subquantizers=8, codebook_size=32, seed=42)
    encoded = ivf.encode_residual(codec).select(
        "vec_id", "cluster_id", "pq_code").cache()
    qdf = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    batch = ivf.batch_search_residual_pq(
        codec, encoded, qdf, top_k=5, nprobe=4, rerank=emb
    ).collect()
    got = {}
    for r in batch:
        got.setdefault(r["query_id"], []).append((r["vec_id"], round(r["sim"], 9)))
    for qid in range(3):
        qv = [float(x) for x in
              emb.filter(F.col("vec_id") == qid).collect()[0]["embedding"]]
        single = ivf.search_residual_pq(
            codec, encoded, qv, top_k=5, nprobe=4, rerank=emb
        ).collect()
        want = [(r["vec_id"], round(r["sim"], 9)) for r in single]
        assert got[qid] == want, (qid, got[qid], want)


def test_batch_rerank_factor_widens_candidate_pool(spark):
    """rerank_factor is a recall knob: a bigger exact-rerank pool can only
    improve (never hurt) agreement with the exact top-k."""
    from pyspark.sql import functions as F

    from vervectordb_spark.operators import search as S
    from vervectordb_spark.operators.ivf import IVFIndex
    from vervectordb_spark.schema import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    ivf = IVFIndex.build(emb, n_clusters=8, seed=42)
    codec = ivf.fit_residual_codec(n_subquantizers=8, codebook_size=16, seed=42)
    enc = ivf.encode_residual(codec)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    rerank = emb.select("vec_id", "embedding")

    def recall(rows):
        got = {}
        for r in rows:
            got.setdefault(r["query_id"], set()).add(r["vec_id"])
        total = 0.0
        for q in got:
            qv = [float(x) for x in emb.filter(F.col("vec_id") == q)
                  .select("embedding").collect()[0][0]]
            truth = {r["vec_id"] for r in S.brute_force_topk(emb, qv, 5).collect()}
            total += len(got[q] & truth) / len(truth)
        return total / len(got)

    narrow = ivf.batch_search_residual_pq(
        codec, enc, queries, top_k=5, nprobe=4, rerank=rerank, rerank_factor=1
    ).collect()
    wide = ivf.batch_search_residual_pq(
        codec, enc, queries, top_k=5, nprobe=4, rerank=rerank, rerank_factor=20
    ).collect()
    assert recall(wide) >= recall(narrow)
    assert all(len({r["vec_id"] for r in rows}) <= 15 for rows in (narrow, wide))


def test_fit_rejects_codebook_size_over_256(spark, emb):
    """tinyint c-128 storage is bijective only for k <= 256 — larger
    codebooks silently wrapped via int8 overflow before the guard."""
    with pytest.raises(ValueError, match="codebook_size"):
        PQCodec.fit(emb, dim=64, n_subquantizers=4, codebook_size=512)


def test_batch_adc_unprobed_cluster_rows_masked_not_crash(spark, emb):
    """probe_sets + an UNFILTERED codes table: rows in clusters above the
    inferred n_clusters must be masked out, not raise IndexError in the
    executor kernel (the caller-side pre-filter is an optimization, not a
    correctness requirement)."""
    from vervectordb_spark.operators.ivf import IVFIndex

    ivf = IVFIndex.build(emb, n_clusters=4, seed=42)
    codec = PQCodec.fit(emb, dim=64, n_subquantizers=4, codebook_size=16)
    encoded = codec.encode(ivf.assigned).select("vec_id", "cluster_id", "pq_code")
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    # probe only clusters {0}: inferred n_clusters=1, but the scanned
    # table holds clusters 0..3 — rows in 1..3 must simply lose
    probe_sets = {0: [0], 1: [0]}
    got = codec.batch_adc_search(
        encoded, queries, top_k=3, probe_sets=probe_sets
    )
    rows = got.collect()
    assert rows, "expected hits from cluster 0"
    in_c0 = {r["vec_id"] for r in ivf.assigned.filter(
        F.col("cluster_id") == 0).select("vec_id").collect()}
    assert all(r["vec_id"] in in_c0 for r in rows)


def test_lloyd_kmeans_blocked_scores_match_one_block(monkeypatch):
    """The shared k-means scores rows in blocks once n·k passes the score
    budget (an IVF sample at large k); the blocked pass must fit the same
    centroids as the single-block pass."""
    from vervectordb_spark.functions import kmeans

    X = np.random.default_rng(11).normal(size=(3000, 8))
    whole = kmeans.lloyd_kmeans(X, 7, seed=1)
    monkeypatch.setattr(kmeans, "_SCORE_CELLS", 7 * 250)  # 12 blocks
    blocked = kmeans.lloyd_kmeans(X, 7, seed=1)
    assert np.allclose(whole, blocked, rtol=0, atol=1e-9)
