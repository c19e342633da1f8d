"""Similarity search: LSH recall vs brute force, bucket determinism."""

from __future__ import annotations

import numpy as np

from flink_mm_spark.operators.similarity import cosine_expr, embeddings64, lsh_bucketed
from tests.conftest import SF_DIR


def _brute_force_topk(spark, k=3, n=100):
    """Exact top-k neighbors per vector (numpy, driver-side oracle)."""
    rows = embeddings64(spark, SF_DIR).filter(f"vec_id < {n}").orderBy("vec_id").collect()
    ids = np.array([r["vec_id"] for r in rows])
    m = np.vstack([r["emb"] for r in rows])
    mn = m / np.linalg.norm(m, axis=1, keepdims=True)
    c = mn @ mn.T
    np.fill_diagonal(c, -np.inf)
    out = {}
    for i, vid in enumerate(ids):
        top = np.argsort(-c[i])[:k]
        out[int(vid)] = {int(ids[j]) for j in top}
    return out


def test_lsh_buckets_deterministic(spark):
    a = {r["vec_id"]: r["bucket"] for r in lsh_bucketed(spark, SF_DIR).collect()}
    b = {r["vec_id"]: r["bucket"] for r in lsh_bucketed(spark, SF_DIR).collect()}
    assert a == b
    assert len(set(a.values())) > 1  # buckets actually partition the space


def test_ann_recall_vs_brute_force(spark):
    """LSH-bucketed ANN must recover a meaningful fraction of true
    neighbors (same-bucket candidates only -> recall < 1 by design)."""
    from flink_mm_spark import registry

    registry.load_all()
    ann = registry.QUERIES["ann_lsh_topk"].fn(spark, SF_DIR).collect()
    got: dict[int, set[int]] = {}
    for r in ann:
        got.setdefault(r["vec_a"], set()).add(r["vec_b"])
    want = _brute_force_topk(spark, k=3, n=10_000_000)
    hits = total = 0
    for vid, true_nbrs in want.items():
        total += len(true_nbrs)
        hits += len(true_nbrs & got.get(vid, set()))
    recall = hits / total
    # random 64-d embeddings spread thin over 2^16 buckets; the point is
    # that bucketing finds real neighbors at all, and never a wrong score
    assert recall > 0.05, f"recall {recall:.3f}"


def test_cosine_expr_matches_numpy(spark):
    e = embeddings64(spark, SF_DIR).filter("vec_id < 20")
    a = e.select("vec_id", "emb").orderBy("vec_id").collect()
    m = np.vstack([r["emb"] for r in a])
    from pyspark.sql import functions as F

    q = e.filter("vec_id = 0").select(F.col("emb").alias("qv"))
    got = (
        e.crossJoin(F.broadcast(q))
        .select("vec_id", cosine_expr(F.col("emb"), F.col("qv")).alias("c"))
        .orderBy("vec_id")
        .collect()
    )
    mn = m / np.linalg.norm(m, axis=1, keepdims=True)
    want = mn @ mn[0]
    for r, w in zip(got, want):
        assert abs(r["c"] - w) < 1e-9


def test_ivf_recall_beats_lsh(spark):
    """IVF (trained cells, 4/16 probed = 25% of corpus searched) must find
    a substantial share of true neighbors — and more than untrained LSH."""
    from flink_mm_spark import registry

    registry.load_all()
    want = _brute_force_topk(spark, k=3, n=10_000_000)

    def recall(name):
        rows = registry.QUERIES[name].fn(spark, SF_DIR).collect()
        got = {}
        for r in rows:
            got.setdefault(r["vec_a"], set()).add(r["vec_b"])
        hits = total = 0
        for vid, nbrs in want.items():
            total += len(nbrs)
            hits += len(nbrs & got.get(vid, set()))
        return hits / total

    r_ivf = recall("ivf_topk")
    r_lsh = recall("ann_lsh_topk")
    assert r_ivf > 0.3, f"ivf recall {r_ivf:.3f}"
    assert r_ivf > r_lsh, f"ivf {r_ivf:.3f} <= lsh {r_lsh:.3f}"


def test_embedding_near_dup_lsh_recall_and_precision(spark):
    """The banded-LSH scale tier must (a) return a SUBSET of the exact
    all-pairs result (exact verify -> perfect precision) and (b) recall a
    meaningful fraction of it even on this worst-case random corpus."""
    from flink_mm_spark.operators.dedup import embedding_near_dup, embedding_near_dup_lsh

    exact = {
        (r["vec_a"], r["vec_b"]): r["cos_sim"]
        for r in embedding_near_dup(spark, SF_DIR).collect()
    }
    approx = {
        (r["vec_a"], r["vec_b"]): r["cos_sim"]
        for r in embedding_near_dup_lsh(spark, SF_DIR).collect()
    }
    assert set(approx) <= set(exact)  # verified candidates: no false positives
    for pair, cos in approx.items():
        assert cos == exact[pair]  # identical rounded cosine
    recall = len(approx) / len(exact)
    # analytic recall at cos=0.4 with 16 bands x 6 planes is ~0.65; the
    # fixed-seed measured value on sf0.001 sits near it. Floor well below
    # to stay robust to corpus regeneration.
    assert recall >= 0.4, f"recall {recall:.3f}"


def test_pq_codebook_rows_encode_to_themselves(spark):
    """Each codebook vector's nearest centroid in every subspace is itself
    (distance 0), so vec_id c < 16 must encode to code c in all 8 subspaces
    and vec 0 (the query) must score est_micro = 0 and rank first."""
    from flink_mm_spark import registry

    rows = registry.QUERIES["pq_adc_topk"].fn(spark, SF_DIR).collect()
    by_id = {r["vec_id"]: r for r in rows}
    assert by_id[0]["est_micro"] == 0
    assert by_id[0]["pq_code"] == "_".join(["0"] * 8)
    assert rows[0]["vec_id"] == 0  # est 0 sorts first
    for vid, r in by_id.items():
        if vid < 16:
            assert r["pq_code"] == "_".join([str(vid)] * 8), r


def test_pq_adc_approximates_true_distance(spark):
    """ADC estimates use quantized sub-vectors, so est_micro must correlate
    with the true squared distance to the query: the PQ top-20 must overlap
    the exact L2 top-20 far beyond chance."""
    import numpy as np

    from flink_mm_spark import registry

    rows = embeddings64(spark, SF_DIR).orderBy("vec_id").collect()
    ids = np.array([r["vec_id"] for r in rows])
    m = np.vstack([r["emb"] for r in rows])
    q = m[ids.tolist().index(0)]
    d2 = ((m - q) ** 2).sum(1)
    exact_top = set(ids[np.argsort(d2, kind="stable")[:20]].tolist())
    pq_top = {
        r["vec_id"] for r in registry.QUERIES["pq_adc_topk"].fn(spark, SF_DIR).collect()
    }
    overlap = len(pq_top & exact_top) / 20
    # Chance overlap is 20/n = 4%. On this corpus (random near-orthogonal
    # embeddings — the documented ANN worst case, see CLAUDE.md) quantization
    # error is near the distance spread, so the measured overlap (~35% at the
    # fixed seed) is already ~9x chance; floor well below it.
    assert overlap >= 0.2, f"overlap {overlap:.2f}"


def test_ivf_pq_ranking_tracks_exact_distance(spark):
    """IVF-PQ scores candidates from residual-PQ lookup tables; within the
    probed cells its top-20 must overlap the exact normalized-L2 top-20 of
    those same cells well above chance (quantization noise is high on this
    random corpus, but the trained residual codebooks must retain signal)."""
    import numpy as np

    from flink_mm_spark import registry

    got = registry.QUERIES["ivf_pq_topk"].fn(spark, SF_DIR).collect()
    assert len(got) == 20
    assert all(r["est_dist"] >= 0.0 for r in got)
    assert got[0]["vec_id"] == 0  # the query's own estimate is minimal

    rows = embeddings64(spark, SF_DIR).orderBy("vec_id").collect()
    ids = np.array([r["vec_id"] for r in rows])
    m = np.vstack([r["emb"] for r in rows])
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    q = m[ids.tolist().index(0)]
    d2 = ((m - q) ** 2).sum(1)
    exact_top = set(ids[np.argsort(d2, kind="stable")[:20]].tolist())
    overlap = len({r["vec_id"] for r in got} & exact_top) / 20
    assert overlap >= 0.15, f"overlap {overlap:.2f}"


def test_pca_basis_contracts_and_exact_twin_agreement(spark):
    """embedding_pca_project's algorithmic contracts (r10): the
    partial-Gram basis is orthonormal with eigenvalues descending, the
    projected coordinates' variances EQUAL those eigenvalues (the
    defining property of PCA — a wrong Gram reduce or a mean bug breaks
    it), the covariance the Gram path reduces agrees with the
    value-hash-graded exact twin to float-reduction precision, and the
    sign convention pins the basis (largest-|coordinate| entry of each
    component positive) so the rows-only entry is reproducible."""
    import numpy as np

    from flink_mm_spark import registry
    from flink_mm_spark.operators.similarity import EMB_DIM, PCA_K, pca_basis
    from tests.conftest import SF_DIR

    registry.load_all()
    mu, Vk, w = pca_basis(spark, SF_DIR)
    assert Vk.shape == (EMB_DIM, PCA_K)
    assert np.allclose(Vk.T @ Vk, np.eye(PCA_K), atol=1e-10)
    assert np.all(np.diff(w) <= 1e-12)  # descending
    assert np.all(Vk[np.abs(Vk).argmax(axis=0), np.arange(PCA_K)] > 0)
    proj = registry.QUERIES["embedding_pca_project"].fn(spark, SF_DIR).collect()
    P = np.vstack([np.asarray(r["proj"]) for r in proj])
    assert P.shape[1] == PCA_K
    assert np.allclose(P.var(axis=0), w, rtol=1e-6)
    assert abs(float(P.mean())) < 1e-9  # centered before projection
    # exact-twin agreement: the graded decimal-sum covariance equals the
    # float partial-Gram covariance to reduction precision
    cov_rows = registry.QUERIES["embedding_covariance"].fn(spark, SF_DIR).collect()
    C_exact = np.zeros((EMB_DIM, EMB_DIM))
    for r in cov_rows:
        C_exact[r["i"], r["j"]] = r["cov"]
    diag_from_eig = np.sort(np.diag(Vk.T @ C_exact @ Vk))[::-1]
    assert np.allclose(diag_from_eig, w, atol=5e-6)


def test_pfx_basis_orthonormal_and_projection_kernel(spark):
    """pca_fixed_project (r11): the fixed seeded basis must be orthonormal
    (so the entry really grades a PROJECTION, not an arbitrary linear
    map), and the quantized kernel must equal a driver-side replay of the
    same left-associative arithmetic on the same rows."""
    import numpy as np

    from flink_mm_spark import registry
    from flink_mm_spark.operators.similarity import _PFX_Q, PFX_K
    from flink_mm_spark.sources.tables import table
    from tests.conftest import SF_DIR

    assert np.allclose(_PFX_Q.T @ _PFX_Q, np.eye(PFX_K), atol=1e-10)
    registry.load_all()
    got = {
        r["vec_id"]: tuple(r)[1:]
        for r in registry.QUERIES["pca_fixed_project"].fn(spark, SF_DIR).collect()
    }
    rows = (
        table(spark, SF_DIR, "embeddings")
        .filter("embedding is not null")
        .select("vec_id", "embedding")
        .collect()
    )
    for r in rows[:50]:
        x = np.asarray(r["embedding"], np.float64)
        p = np.add.reduce(x[:, None] * _PFX_Q, axis=0)
        want = tuple(int(v) for v in np.floor(p * 1e6 + 0.5).astype(np.int64))
        assert got[r["vec_id"]] == want


def test_pq_topk_streamed_matches_oracle_replay(spark):
    """Streamed retrieval (r12, VERDICT r11 #5): arriving query vectors
    probe the static PQ index per micro-batch; the drained per-query
    top-k must match a DuckDB replay of the generalized ADC oracle."""
    import duckdb

    from flink_mm_spark import registry

    registry.load_all()
    spec = registry.QUERIES["pq_topk_streamed"]
    got = [tuple(r) for r in spec.fn(spark, SF_DIR).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{SF_DIR}/embeddings.parquet')"
    )
    want = [tuple(r) for r in con.execute(spec.oracle).fetchall()]
    assert got == want and len(got) > 0


def test_pq_topk_streamed_qid0_equals_batch_adc(spark):
    """Query 0 of the streamed tier is exactly the batch ``pq_adc_topk``
    query, so its (vec_id, est_micro) ranking must be identical — the
    same integer LUT sums through a different execution path."""
    from flink_mm_spark import registry

    registry.load_all()
    batch = [
        (r["vec_id"], r["est_micro"])
        for r in registry.QUERIES["pq_adc_topk"].fn(spark, SF_DIR).collect()
    ]
    streamed = [
        (r["vec_id"], r["est_micro"])
        for r in registry.QUERIES["pq_topk_streamed"]
        .fn(spark, SF_DIR)
        .filter("qid = 0")
        .orderBy("rnk")
        .collect()
    ]
    assert streamed == batch


def test_pq_topk_streamed_local_topk_is_lossless(spark):
    """The per-partition local top-k inside the scoring stage is a
    correctness-preserving reduction: any global top-k row is its own
    partition's top-k row. Verified by scoring qid 0 with the local cut
    set to 1 row per partition LESS than PQ_TOPK would risk — i.e. the
    streamed result (local k = PQ_TOPK) must equal a brute global sort
    of the full ADC estimates computed batch-side."""
    import numpy as np

    from flink_mm_spark import registry
    from flink_mm_spark.operators.similarity import (
        PQ_NCB,
        PQ_S,
        PQ_TOPK,
        _pq_codebook,
        _pq_sqdist_int,
        embeddings64,
    )

    registry.load_all()
    rows = embeddings64(spark, SF_DIR).orderBy("vec_id").collect()
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    m = np.vstack([r["emb"] for r in rows]).astype(np.float64)
    cb = _pq_codebook(embeddings64(spark, SF_DIR))
    q = cb[0]
    codes = np.empty((len(m), PQ_S), dtype=np.int64)
    lut = np.array(
        [[_pq_sqdist_int(cb, q, s, c) for c in range(PQ_NCB)] for s in range(PQ_S)],
        dtype=np.int64,
    )
    for s in range(PQ_S):
        d = np.stack([_pq_sqdist_int(cb, m, s, c) for c in range(PQ_NCB)], axis=1)
        codes[:, s] = np.argmin(d, axis=1)
    est = lut[np.arange(PQ_S)[None, :], codes].sum(axis=1)
    order = np.lexsort((ids, est))[:PQ_TOPK]
    brute = list(zip(ids[order].tolist(), est[order].tolist()))
    streamed = [
        (r["vec_id"], r["est_micro"])
        for r in registry.QUERIES["pq_topk_streamed"]
        .fn(spark, SF_DIR)
        .filter("qid = 0")
        .orderBy("rnk")
        .collect()
    ]
    assert streamed == brute


def test_pq_encode_streamed_matches_oracle_replay(spark):
    """Incremental index build (r12): corpus arrivals encoded per
    micro-batch, exactly-once appended; the read-back code table must
    match the batch encoder's codes CTE replayed by DuckDB."""
    import duckdb

    from flink_mm_spark import registry

    registry.load_all()
    spec = registry.QUERIES["pq_encode_streamed"]
    got = [tuple(r) for r in spec.fn(spark, SF_DIR).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{SF_DIR}/embeddings.parquet')"
    )
    want = [tuple(r) for r in con.execute(spec.oracle).fetchall()]
    assert got == want and len(got) > 0


def test_pq_encode_streamed_equals_batch_encoder(spark):
    """The streamed appends must reproduce pq_adc_topk's batch encoding
    bit-for-bit: same codebook, same argmin tie-breaks, every vector
    present exactly once (a dropped or replay-duplicated batch would
    break the row count; a mis-encoded one the codes)."""
    import numpy as np

    from flink_mm_spark import registry
    from flink_mm_spark.operators.similarity import (
        _pq_codebook,
        _pq_encode_block,
        embeddings64,
    )

    registry.load_all()
    rows = embeddings64(spark, SF_DIR).orderBy("vec_id").collect()
    cb = _pq_codebook(embeddings64(spark, SF_DIR))
    import pandas as pd

    pdf = pd.DataFrame(
        {"vec_id": [r["vec_id"] for r in rows], "emb": [r["emb"] for r in rows]}
    )
    cds = _pq_encode_block(cb, pdf)
    want = {
        int(v): "_".join(map(str, row)) for v, row in zip(pdf["vec_id"], cds)
    }
    got = {
        r["vec_id"]: r["pq_code"]
        for r in registry.QUERIES["pq_encode_streamed"].fn(spark, SF_DIR).collect()
    }
    assert got == want
    # codebook rows encode to themselves (distance 0 in every subspace)
    for vid in range(16):
        assert got[vid] == "_".join([str(vid)] * 8)


def test_ivf_pq_online_matches_oracle_replay(spark):
    """Online IVF-PQ against a growing index (r12): interleaved
    corpus/query arrivals through the cell-sharded state store must match
    the DuckDB replay (integer cells, probes, LUTs, ADC, arrival rule)."""
    import duckdb

    from flink_mm_spark import registry

    registry.load_all()
    spec = registry.QUERIES["ivf_pq_topk_streamed"]
    got = [tuple(r) for r in spec.fn(spark, SF_DIR).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{SF_DIR}/embeddings.parquet')"
    )
    want = [tuple(r) for r in con.execute(spec.oracle).fetchall()]
    assert got == want and len(got) > 0


def test_ivf_pq_online_growing_index_semantics(spark):
    """The growing index must MATTER: wave-A queries (qid 0, 1) arrived
    after corpus batches 0-1 only, so every result row satisfies
    vec_id % 4 <= 1 (a late arrival in a wave-A top-k would mean state
    leaked forward); wave-B queries (qid 2, 3) arrived last and their
    top-k must include at least one late-batch vector (the index grew
    between the waves — holds by wide margin on the random corpus where
    half the candidates are late-batch)."""
    from flink_mm_spark import registry

    registry.load_all()
    rows = registry.QUERIES["ivf_pq_topk_streamed"].fn(spark, SF_DIR).collect()
    wave_a = [r for r in rows if r["qid"] <= 1]
    wave_b = [r for r in rows if r["qid"] >= 2]
    assert wave_a and wave_b
    assert all(r["vec_id"] % 4 <= 1 for r in wave_a)
    assert any(r["vec_id"] % 4 >= 2 for r in wave_b)


def test_ivf_pq_online_restart_recovers_index_state(spark, tmp_path):
    """Two-life restart for the online ANN index (r12): life 1 ingests
    corpus batches 0-1 and query wave A, then stops at the checkpoint;
    life 2 resumes with corpus batches 2-3 and wave B. The combined
    ranked top-k must equal the registered one-life entry's — wave B can
    only score life-1 members if the cell-sharded (ids, codes) state
    RECOVERED — and life 2's emissions must actually contain life-1
    vectors. Sink is foreachBatch: the memory sink refuses checkpoint
    recovery outside complete mode (CLAUDE.md gotcha)."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from flink_mm_spark import registry
    from flink_mm_spark.operators.similarity import (
        PQ_TOPK,
        _onl_wave_dfs,
        _pq_codebook,
        _write_wave_files,
        embeddings64,
        onl_candidate_stream,
    )

    registry.load_all()
    e = embeddings64(spark, SF_DIR)
    cb = _pq_codebook(e)
    waves = _onl_wave_dfs(e)
    src = str(tmp_path / "arrivals")
    ckpt = str(tmp_path / "ckpt")
    got: list = []

    def run_life():
        q = (
            onl_candidate_stream(spark, src, cb)
            .writeStream.foreachBatch(lambda df, bid: got.extend(df.collect()))
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)

    _write_wave_files(waves[:3], src)
    run_life()
    n1 = len(got)
    _write_wave_files(waves[3:], src, start_k=3)
    run_life()

    cand = spark.createDataFrame(pd.DataFrame([r.asDict() for r in got]))
    w = Window.partitionBy("qid").orderBy("est_micro", "vec_id")
    mine = [
        tuple(r)
        for r in cand.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= PQ_TOPK)
        .orderBy("qid", "rnk")
        .collect()
    ]
    want = [
        tuple(r)
        for r in registry.QUERIES["ivf_pq_topk_streamed"].fn(spark, SF_DIR).collect()
    ]
    assert mine == want
    life2 = got[n1:]
    assert any(r["qid"] >= 2 and r["vec_id"] % 4 <= 1 for r in life2)


def test_ivf_pq_index_compacted_unifies_with_encode_streamed(spark):
    """Compaction (r13, VERDICT r12 #1): draining the online index's
    cell-sharded state through the state-store reader must yield the SAME
    (vec_id, pq_code) table the incremental builder writes — one at-rest
    artifact, two production paths (stream-encode vs state-flush). Both
    entries are graded by the same batch-encoder codes CTE; this pins
    their row-level equality to each other directly."""
    from flink_mm_spark import registry

    registry.load_all()
    got = [
        (r["vec_id"], r["pq_code"])
        for r in registry.QUERIES["ivf_pq_index_compacted"].fn(spark, SF_DIR).collect()
    ]
    enc = [
        (r["vec_id"], r["pq_code"])
        for r in registry.QUERIES["pq_encode_streamed"].fn(spark, SF_DIR).collect()
    ]
    assert len(got) > 0
    assert got == enc


def test_ivf_pq_compaction_agrees_with_midstream_state(spark, tmp_path):
    """Compaction + state must agree at EVERY point in the index's life
    (r13): life 1 ingests corpus batches 0-1 + query wave A, stops at the
    checkpoint; compacting THEN must produce exactly the codes of the
    arrived half (vec_id % 4 <= 1) — nothing more (no future leak),
    nothing less (no lost member). Life 2 resumes with batches 2-3 +
    wave B; compacting again must produce the full table. Encoder truth
    is the shared Arrow kernel `_pq_encode_block`."""
    import pandas as pd

    from flink_mm_spark.operators.similarity import (
        _onl_wave_dfs,
        _pq_codebook,
        _pq_encode_block,
        _write_wave_files,
        compact_index_from_state,
        embeddings64,
        onl_candidate_stream,
    )

    e = embeddings64(spark, SF_DIR)
    cb = _pq_codebook(e)
    waves = _onl_wave_dfs(e)
    src = str(tmp_path / "arrivals")
    ckpt = str(tmp_path / "ckpt")

    def run_life():
        q = (
            onl_candidate_stream(spark, src, cb)
            .writeStream.foreachBatch(lambda df, bid: df.count())
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)

    def compacted() -> dict[int, str]:
        return {
            r["vec_id"]: r["pq_code"]
            for r in compact_index_from_state(spark, ckpt).collect()
        }

    pdf = e.select("vec_id", "emb").orderBy("vec_id").toPandas()
    cds = _pq_encode_block(cb, pdf)
    full = {int(v): "_".join(map(str, row)) for v, row in zip(pdf["vec_id"], cds)}

    _write_wave_files(waves[:3], src)
    run_life()
    half = compacted()
    assert half == {v: c for v, c in full.items() if v % 4 <= 1}

    _write_wave_files(waves[3:], src, start_k=3)
    run_life()
    assert compacted() == full


def _onl_capped_replay(spark, cap: int):
    """Driver-local numpy replay of the capped online IVF-PQ pipeline:
    capped membership per cell is the first `cap` arrivals in
    (vec_id % ONL_CBATCHES, vec_id) order; wave A (qid 0, 1) scores the
    post-batch-1 snapshot, wave B (qid 2, 3) the final membership."""
    import numpy as np

    from flink_mm_spark.operators.similarity import (
        ONL_CBATCHES,
        ONL_NPROBE,
        ONL_NQ,
        PQ_NCB,
        PQ_S,
        PQ_TOPK,
        _pq_codebook,
        _pq_encode_block,
        _pq_sqdist_int,
        embeddings64,
    )

    e = embeddings64(spark, SF_DIR)
    cb = _pq_codebook(e)
    pdf = e.select("vec_id", "emb").orderBy("vec_id").toPandas()
    ids = pdf["vec_id"].to_numpy(np.int64)
    x = np.vstack(pdf["emb"].to_numpy()).astype(np.float64)
    codes = _pq_encode_block(cb, pdf)
    fd = np.stack(
        [sum(_pq_sqdist_int(cb, x, s, c) for s in range(PQ_S)) for c in range(PQ_NCB)],
        axis=1,
    )
    cell = np.argmin(fd, axis=1)

    # capped membership, replayed batch by batch
    members: dict[int, list[int]] = {c: [] for c in range(PQ_NCB)}
    snapshots: dict[int, dict[int, list[int]]] = {}
    arrival = np.lexsort((ids, ids % ONL_CBATCHES))
    for j in arrival:
        b = int(ids[j]) % ONL_CBATCHES
        if b == 2 and 1 not in snapshots:
            snapshots[1] = {c: list(v) for c, v in members.items()}
        if len(members[int(cell[j])]) < cap:
            members[int(cell[j])].append(int(ids[j]))
    snapshots[1] = snapshots.get(1) or {c: list(v) for c, v in members.items()}
    snapshots[3] = members

    id_pos = {int(v): k for k, v in enumerate(ids)}
    out = []
    for qid in range(ONL_NQ):
        qv = x[id_pos[qid]]
        lut = np.array(
            [[_pq_sqdist_int(cb, qv, s, c) for c in range(PQ_NCB)] for s in range(PQ_S)],
            dtype=np.int64,
        )
        probes = np.lexsort((np.arange(PQ_NCB), lut.sum(axis=0)))[:ONL_NPROBE]
        snap = snapshots[1 if qid <= 1 else 3]
        cand = sorted({m for p in probes for m in snap[int(p)]})
        if not cand:
            continue
        cm = np.array([codes[id_pos[m]] for m in cand], dtype=np.int64)
        est = lut[np.arange(PQ_S)[None, :], cm].sum(axis=1)
        order = np.lexsort((np.array(cand), est))[:PQ_TOPK]
        for rnk, k in enumerate(order, start=1):
            out.append((qid, int(cand[k]), int(est[k]), rnk))
    return out


def test_onl_capped_matches_driver_replay(spark):
    """The capped tier must equal the numpy replay of its own rule —
    the rows-only twin's replay-equivalence contract (the
    minhash_dedup_streamed_capped precedent)."""
    from flink_mm_spark import registry
    from flink_mm_spark.operators.similarity import ONL_CELL_CAP

    registry.load_all()
    got = [
        tuple(r)
        for r in registry.QUERIES["ivf_pq_topk_streamed_capped"].fn(spark, SF_DIR).collect()
    ]
    want = _onl_capped_replay(spark, ONL_CELL_CAP)
    assert got == want and len(got) > 0


def test_onl_capped_cap_binds_on_hot_cell(spark, tmp_path):
    """The cap must BIND (tests/test_caps.py pattern): a synthetic corpus
    where every vector lands in ONE coarse cell. With cap=10 and 40
    arrivals, the cell's state holds exactly the first 10 by arrival
    order — verified through the state-store reader — and a late query
    scores ONLY those 10 (the 30 over-cap arrivals were never stored)."""
    import numpy as np
    import pandas as pd

    from flink_mm_spark.operators.similarity import (
        compact_index_from_state,
        onl_candidate_stream,
        _write_wave_files,
    )

    cb = np.zeros((16, 64), dtype=np.float64)
    for c in range(16):
        cb[c, c] = 10.0  # well-separated one-hot codebook rows
    hot = [cb[5].tolist()] * 20

    def wave(is_query, ids, embs):
        return spark.createDataFrame(
            pd.DataFrame({"is_query": is_query, "id": ids, "emb": embs}),
            "is_query int, id long, emb array<double>",
        )

    waves = [
        wave(0, list(range(100, 120)), hot),
        wave(0, list(range(120, 140)), hot),
        wave(1, [0], [cb[5].tolist()]),
    ]
    src = str(tmp_path / "hot_arrivals")
    ckpt = str(tmp_path / "hot_ckpt")
    _write_wave_files(waves, src)
    got: list = []
    q = (
        onl_candidate_stream(spark, src, cb, cell_cap=10)
        .writeStream.foreachBatch(lambda df, bid: got.extend(df.collect()))
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300)

    state = {r["vec_id"] for r in compact_index_from_state(spark, ckpt).collect()}
    assert state == set(range(100, 110))  # first 10 by arrival; 30 dropped
    assert got and {r["vec_id"] for r in got} == set(range(100, 110))


def test_ivf_pq_deletes_match_oracle_replay(spark):
    """Delete tier (r13): interleaved adds/deletes/queries through the
    cell-sharded state store must match the DuckDB replay — the delete
    rule folds into the candidate predicate, everything else is the
    growing-index replay."""
    import duckdb

    from flink_mm_spark import registry

    registry.load_all()
    spec = registry.QUERIES["ivf_pq_topk_streamed_deletes"]
    got = [tuple(r) for r in spec.fn(spark, SF_DIR).collect()]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{SF_DIR}/embeddings.parquet')"
    )
    want = [tuple(r) for r in con.execute(spec.oracle).fetchall()]
    assert got == want and len(got) > 0


def test_ivf_pq_deletes_semantics_and_state(spark):
    """Deletes must MATTER in both directions: wave A ran before the
    delete wave, so deleted ids are legal (and, on this corpus, present)
    wave-A candidates; wave B ran after, so NO result row may carry a
    deleted id. The drained state (state-store reader) must equal the
    full corpus minus the deleted ids — the erasure is durable in the
    index, not just filtered from one query's output."""
    from flink_mm_spark import registry
    from flink_mm_spark.operators.similarity import (
        ONL_DEL_MOD,
        ONL_DEL_RES,
        _onl_del_arrival_split,
        _onl_run,
        compact_index_from_state,
        embeddings64,
    )

    registry.load_all()
    rows = registry.QUERIES["ivf_pq_topk_streamed_deletes"].fn(spark, SF_DIR).collect()
    wave_b = [r for r in rows if r["qid"] >= 2]
    assert wave_b
    assert all(r["vec_id"] % ONL_DEL_MOD != ONL_DEL_RES for r in wave_b)

    ckpt, _ = _onl_run(spark, SF_DIR, src=_onl_del_arrival_split(spark, SF_DIR))
    state_ids = {
        r["vec_id"] for r in compact_index_from_state(spark, ckpt).collect()
    }
    all_ids = {
        r["vec_id"] for r in embeddings64(spark, SF_DIR).select("vec_id").collect()
    }
    deleted = {v for v in all_ids if v % ONL_DEL_MOD == ONL_DEL_RES}
    assert deleted  # the rule selects a nonempty set on this corpus
    assert state_ids == all_ids - deleted


def test_onl_staged_splits_have_minimal_batch_counts(spark):
    """r14 (VERDICT r13 #6): the uncapped online-ANN tiers stage their
    waves as TWO mtime-ordered files (= two availableNow micro-batches
    under maxFilesPerTrigger=1, down from 6/7), while the capped tier
    keeps the one-wave-per-file split its admission prefix is defined
    over. The in-batch deletes→adds→queries rule makes the merged
    batches reproduce the declared arrival order (hash-pinned by the
    oracle entries; this test pins the staging shape itself)."""
    import glob

    from flink_mm_spark.operators.similarity import (
        _onl_arrival_split,
        _onl_arrival_split_sequential,
        _onl_del_arrival_split,
    )

    assert len(glob.glob(f"{_onl_arrival_split(spark, SF_DIR)}/*.parquet")) == 2
    assert len(glob.glob(f"{_onl_del_arrival_split(spark, SF_DIR)}/*.parquet")) == 2
    assert (
        len(glob.glob(f"{_onl_arrival_split_sequential(spark, SF_DIR)}/*.parquet"))
        == 6
    )


def test_cov_cast_replica_matches_spark_cast(spark):
    """r14: the covariance kernel's scaled-int quantizer must reproduce
    Spark's CAST(double AS DECIMAL(28,14)) bit-for-bit on magnitudes
    inside the guard bound (the JVM cast goes through Double.toString
    then HALF_UP; the kernel replicates it with a repr-based slow path
    near the .5 boundary). Random sample across the in-bound range."""
    from decimal import Decimal

    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from flink_mm_spark.operators.similarity import (
        _COV_KERNEL_MAX_ABS_PRODUCT,
        _dec14_scaled_int,
    )

    rng = np.random.default_rng(137)
    vals = np.concatenate(
        [
            rng.standard_normal(60_000),  # the realistic magnitude band
            rng.uniform(-_COV_KERNEL_MAX_ABS_PRODUCT, _COV_KERNEL_MAX_ABS_PRODUCT, 60_000),
            rng.standard_normal(10_000) * 1e-8,  # tiny values
            np.array([0.0, -0.0, 0.5e-14, -0.5e-14, 1.5e-14]),
        ]
    )
    sdf = spark.createDataFrame(pd.DataFrame({"p": vals}))
    pdf = sdf.select(
        "p",
        (F.col("p").cast("decimal(28,14)") * F.lit(10) ** 14)
        .cast("decimal(38,0)")
        .cast("string")
        .alias("sref"),
    ).toPandas()
    ref = np.array([int(Decimal(s)) for s in pdf["sref"]], dtype=object)
    got = _dec14_scaled_int(pdf["p"].to_numpy())
    bad = [i for i in range(len(ref)) if int(ref[i]) != int(got[i])]
    assert not bad, [(pdf["p"][i], int(ref[i]), int(got[i])) for i in bad[:5]]


def test_cov_kernel_equals_jvm_fallback(spark):
    """r14: the Arrow kernel path and the JVM posexplode fallback must
    produce bit-identical decimal term sums on the real corpus (the
    repr-hash trap: compare on repr, not ==)."""
    from pyspark.sql import functions as F

    from flink_mm_spark.operators.similarity import (
        _cov_prods_sums_jvm,
        _cov_prods_sums_kernel,
    )
    from flink_mm_spark.sources.tables import table

    e = (
        table(spark, SF_DIR, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select(F.col("embedding").cast("array<double>").alias("emb"))
        .persist()
    )
    try:
        kp, ks = _cov_prods_sums_kernel(e)
        jp, js = _cov_prods_sums_jvm(e)
        key = lambda rows: sorted((r[0], r[1], repr(r[2])) for r in rows)  # noqa: E731
        assert key(kp.collect()) == key(jp.collect())
        assert key([(r[0], -1, r[1]) for r in ks.collect()]) == key(
            [(r[0], -1, r[1]) for r in js.collect()]
        )
    finally:
        e.unpersist()


def test_cov_guard_routes_paths(spark):
    """r14: the kernel guard must reject corpora the cast replica is not
    proven on — any |x|² at or beyond the repr-divergence bound, and any
    NULL cell or whole-NULL array (the JVM SUM skips null cells;
    np.vstack cannot) — and accept the real corpus."""
    import pandas as pd
    from pyspark.sql import functions as F

    from flink_mm_spark.operators.similarity import _cov_kernel_safe
    from flink_mm_spark.sources.tables import table

    real = (
        table(spark, SF_DIR, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select(F.col("embedding").cast("array<double>").alias("emb"))
    )
    assert _cov_kernel_safe(real)

    big = spark.createDataFrame(
        pd.DataFrame({"emb": [[0.1] * 63 + [10.0]]}), "emb array<double>"
    )
    assert not _cov_kernel_safe(big)

    nulled = spark.createDataFrame(
        [([0.1] * 63 + [None],)], "emb array<double>"
    )
    assert not _cov_kernel_safe(nulled)

    # a whole-NULL array beside dense rows: ``exists`` over it is NULL,
    # which ``max`` alone would skip
    whole_null = spark.createDataFrame(
        [([0.1] * 64,), (None,)], "emb array<double>"
    )
    assert not _cov_kernel_safe(whole_null)
