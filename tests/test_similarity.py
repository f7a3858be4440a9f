"""Similarity operators (operators/similarity.py) on constructed clustered
vectors: exact cosine top-k, LSH bucket recall, LSH similarity join."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from app_insights_generator_spark.operators import similarity as S

DIM = 16


def _clustered(spark, n_clusters=5, per_cluster=20, seed=3):
    """Vectors tightly clustered around n_clusters random centers."""
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((n_clusters, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    vid = 0
    for c in range(n_clusters):
        for _ in range(per_cluster):
            v = centers[c] + 0.08 * rng.standard_normal(DIM)
            rows.append((vid, c, [float(x) for x in v]))
            vid += 1
    return centers, spark.createDataFrame(rows, ["vec_id", "cluster", "embedding"])


@pytest.fixture(scope="module")
def clustered(spark):
    centers, df = _clustered(spark)
    return centers, df.cache()


def test_cosine_basic(spark):
    df = spark.createDataFrame([([1.0, 0.0], [0.0, 1.0])], ["a", "b"])
    got = df.select(
        S.cosine(F.col("a"), F.col("a")).alias("same"),
        S.cosine(F.col("a"), F.col("b")).alias("orth"),
    ).first()
    assert abs(got.same - 1.0) < 1e-12
    assert abs(got.orth) < 1e-12


def test_cosine_topk_finds_cluster(clustered):
    centers, df = clustered
    top = S.cosine_topk(df, "embedding", "vec_id", centers[0], k=20).collect()
    ids = {r.id for r in top}
    assert ids == set(range(20))  # cluster 0 occupies vec_ids 0..19


def test_ann_lsh_recall(clustered):
    centers, df = clustered
    exact = {r.id for r in S.cosine_topk(df, "embedding", "vec_id", centers[0], k=10).collect()}
    approx = {r.id for r in S.ann_topk_lsh(df, "embedding", "vec_id", centers[0], k=10, n_planes=6).collect()}
    # multiprobe bucket scan on tightly clustered data keeps most of the
    # true top-k
    assert len(exact & approx) >= 8


def test_similarity_join_clusters(clustered):
    centers, df = clustered
    pairs = S.similarity_join_lsh(
        df, "embedding", "vec_id", threshold=0.9, n_planes=6, n_tables=6
    ).collect()
    assert len(pairs) > 100
    same_cluster = sum(1 for r in pairs if r.id_a // 20 == r.id_b // 20)
    assert same_cluster == len(pairs)  # 0.9 threshold -> only intra-cluster
    for r in pairs:
        assert r.id_a < r.id_b


def test_ann_ivf_recall(clustered):
    centers, df = clustered
    exact = {r.id for r in S.cosine_topk(df, "embedding", "vec_id", centers[0], k=10).collect()}
    approx = {
        r.id
        for r in S.ann_topk_ivf(
            df, "embedding", "vec_id", centers[0], k=10, n_lists=8, n_probe=2
        ).collect()
    }
    # 8 lists over 5 tight clusters: the probe covers cluster 0's list(s)
    assert len(exact & approx) >= 8


def test_cosine_pairs_exact_is_lsh_superset(clustered):
    centers, df = clustered
    exact = {
        (r.id_a, r.id_b)
        for r in S.cosine_pairs_exact(df, "embedding", "vec_id", threshold=0.9).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in S.similarity_join_lsh(
            df, "embedding", "vec_id", threshold=0.9, n_planes=6, n_tables=6
        ).collect()
    }
    assert lsh <= exact  # LSH verifies with exact cosine -> no false positives
    assert len(lsh) >= 0.9 * len(exact)  # OR-amplified recall on tight clusters
    # intra-cluster only at 0.9, ordered ids
    for ia, ib in exact:
        assert ia < ib and ia // 20 == ib // 20


def test_dot_matches_numpy(spark):
    rng = np.random.default_rng(0)
    a, b = rng.standard_normal(DIM), rng.standard_normal(DIM)
    df = spark.createDataFrame([([float(x) for x in a], [float(y) for y in b])], ["a", "b"])
    got = df.select(S.dot(F.col("a"), F.col("b")).alias("d")).first().d
    assert abs(got - float(np.dot(a, b))) < 1e-9


def test_pca_projection_variance_matches_eigenvalues(spark, sf_dir):
    """Round-trip property of the distributed PCA: the variance of each
    projected component, computed DISTRIBUTEDLY over the projections,
    must equal the corresponding eigenvalue from the fit — and the top
    components must be uncorrelated (covariance ~0)."""
    import numpy as np

    from pyspark.sql import functions as F

    from app_insights_generator_spark.operators.similarity import (
        pca_fit,
        pca_project,
    )
    from app_insights_generator_spark.sources.readers import load_table

    embs = load_table(spark, sf_dir, "embeddings")
    eigvals, comps, mean, n = pca_fit(embs, "embedding")
    k = 4
    proj = pca_project(embs, comps[:k], mean)
    stats = proj.select(
        *[F.element_at("proj", i + 1).alias(f"p{i}") for i in range(k)]
    ).agg(
        *[F.var_pop(f"p{i}").alias(f"v{i}") for i in range(k)],
        F.covar_pop("p0", "p1").alias("c01"),
    ).collect()[0]
    for i in range(k):
        assert abs(stats[f"v{i}"] - eigvals[i]) < 1e-6 * max(1.0, eigvals[i]), (
            i,
            stats[f"v{i}"],
            eigvals[i],
        )
    assert abs(stats["c01"]) < 1e-6


def test_kmeans_fixed_point_separates_obvious_clusters(spark):
    """Two tight, well-separated groups in 2-D must land in two clusters
    with exactly the obvious membership, and centroids must be the
    quantized floor-means of their members (offset space)."""
    from app_insights_generator_spark.operators.similarity import (
        kmeans_fixed_point,
    )

    pts = [
        (0, [0.00, 0.01]),
        (1, [0.01, 0.00]),
        (2, [0.02, 0.02]),
        (10, [0.40, 0.41]),
        (11, [0.41, 0.40]),
        (12, [0.42, 0.42]),
    ]
    df = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    assign, cent = kmeans_fixed_point(
        df, "vec_id", "embedding", k=2, n_iter=2
    )
    got = {r.vid: r.cid for r in assign.collect()}
    # init = two lowest ids (0 and 1), both in the left group; after the
    # first update the right group's points all sit in whichever cluster
    # won them, and iteration 2 keeps the split stable by separation.
    left = {got[0], got[1], got[2]}
    right = {got[10], got[11], got[12]}
    assert len(left) == 1 and len(right) == 1 and left != right

    c = {(r.cid, r.d): r.v for r in cent.collect()}
    right_cid = got[10]
    # right-group centroid dim 0: floor-mean of quantized 0.40/0.41/0.42
    want = (400000 + 410000 + 420000) // 3 + 1_000_000
    assert c[(right_cid, 0)] == want


# --- SemDeDup ------------------------------------------------------------------


def test_semdedup_subset_of_exact_pairs(spark, sf_dir):
    """Within-cluster dup flags must be implied by the exact all-pairs
    truth set at the same threshold: every flagged dup has an exact
    >=0.3 neighbor with a smaller id AND the same cluster; no vector
    whose ONLY near neighbors sit in other clusters is flagged."""
    from pyspark.sql import functions as F

    from app_insights_generator_spark.operators.similarity import (
        cosine_pairs_exact,
        semdedup_flags,
    )
    from app_insights_generator_spark.sources import load_table

    embs = load_table(spark, sf_dir, "embeddings")
    flags = {
        r.vec_id: (r.cluster, r.is_dup)
        for r in semdedup_flags(embs, "embedding", "vec_id", 0.3).collect()
    }
    exact = cosine_pairs_exact(embs, "embedding", "vec_id", 0.3).collect()
    same_cluster_dups = {
        r.id_b for r in exact if flags[r.id_a][0] == flags[r.id_b][0]
    }
    got_dups = {v for v, (_, d) in flags.items() if d}
    assert got_dups == same_cluster_dups
    # sanity: the cluster partition actually splits the corpus
    assert len({c for c, _ in flags.values()}) > 1


def test_semdedup_constructed_corpus(spark):
    """Hand vectors: 1 and 2 near-identical in one cluster (2 flagged, 1
    kept); 3 identical direction to 1 but opposite sign dim -> other
    cluster, NOT flagged; 4 orthogonal, not flagged."""
    from app_insights_generator_spark.operators.similarity import semdedup_flags

    rows = [
        (1, [1.0, 0.5, 0.2]),
        (2, [0.99, 0.5, 0.21]),
        (3, [-1.0, -0.5, -0.2]),
        (4, [0.0, 0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {
        r.vec_id: (r.cluster, r.is_dup)
        for r in semdedup_flags(
            df, "embedding", "vec_id", threshold=0.9, sign_dims=(1, 2, 3)
        ).collect()
    }
    assert got[1] == (7, False)
    assert got[2] == (7, True)
    assert got[3][0] != 7 and got[3][1] is False
    assert got[4][1] is False


def test_matryoshka_recall_naive_equivalence(spark, sf_dir):
    """Recompute both top-10 sets driver-side with numpy (same 6dp+bias
    rounding, same (sim desc, id) tie-break) and compare exactly."""
    import numpy as np

    from app_insights_generator_spark.queries.llm_queries import (
        _MRL_DIMS,
        _RECALL_K,
        _RECALL_NQ,
        matryoshka_recall_embeddings,
    )
    from app_insights_generator_spark.sources import load_table

    rows = load_table(spark, sf_dir, "embeddings").collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    qs = {i: v for i, v in vecs.items() if i < _RECALL_NQ}
    cs = {i: v for i, v in vecs.items() if i >= _RECALL_NQ}

    def top(qv, dims):
        sims = []
        for cid, cv in cs.items():
            a, b = cv[:dims], qv[:dims]
            d = np.sqrt(a @ a) * np.sqrt(b @ b)
            s = (a @ b) / d if d > 0 else 0.0
            sims.append((round(s + 1e-9, 6), cid))
        sims.sort(key=lambda t: (-t[0], t[1]))
        return {cid for _, cid in sims[:_RECALL_K]}

    got = {r.qid: r for r in matryoshka_recall_embeddings(spark, sf_dir).collect()}
    assert set(got) == set(qs)
    for qid, qv in qs.items():
        f, t = top(qv, 64), top(qv, _MRL_DIMS)
        r = got[qid]
        assert r.n_overlap == len(f & t)
        assert r.full_idsum == sum(f)
        assert r.recall_bp == len(f & t) * 10000 // _RECALL_K


def test_semdedup_sign_dims_scale_law():
    """k = 2^bits must track the paper's k ~ sqrt(n): sqrt(n) <= k < 2*sqrt(n)
    (bits = ceil(log2(n)/2)), capped at the embedding width, dims strictly
    increasing and 1-based within the width."""
    import math

    from app_insights_generator_spark.operators.similarity import semdedup_sign_dims

    for n in (10, 500, 10_000, 1_000_000, 10**9):
        dims = semdedup_sign_dims(n, 64)
        k = 2 ** len(dims)
        if len(dims) < 64:  # not width-capped
            assert math.sqrt(n) <= k < 2 * math.sqrt(n), (n, k)
        assert all(1 <= d <= 64 for d in dims)
        assert list(dims) == sorted(set(dims)), dims
    # width cap: a 4-dim embedding can carry at most 4 sign bits
    assert len(semdedup_sign_dims(10**12, 4)) == 4
    # tiny corpora: one bit
    assert semdedup_sign_dims(1, 64) == (1,)


def test_semdedup_rejects_out_of_range_sign_dims(spark):
    """ADVICE r07: an explicit sign dim beyond the embedding width must fail
    fast with a clear error, not an ANSI INVALID_ARRAY_INDEX mid-join (or a
    silent NULL-sign cluster collapse in non-ANSI mode)."""
    import pytest as _pytest

    from app_insights_generator_spark.operators.similarity import semdedup_flags

    df = spark.createDataFrame(
        [(1, [1.0, 0.5]), (2, [0.9, 0.4])], ["vec_id", "embedding"]
    )
    with _pytest.raises(ValueError, match="embedding width"):
        semdedup_flags(df, "embedding", "vec_id", sign_dims=(1, 43))


def test_semdedup_default_dims_match_explicit(spark):
    """The scale-aware default must equal passing semdedup_sign_dims(n, dim)
    explicitly — the default is derivation, not different semantics."""
    from app_insights_generator_spark.operators.similarity import (
        semdedup_flags,
        semdedup_sign_dims,
    )

    rows = [(i, [float((i >> b) & 1) - 0.5 for b in range(8)]) for i in range(64)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    dims = semdedup_sign_dims(64, 8)
    auto = {
        (r.vec_id, r.cluster, r.is_dup)
        for r in semdedup_flags(df, "embedding", "vec_id", 0.9).collect()
    }
    explicit = {
        (r.vec_id, r.cluster, r.is_dup)
        for r in semdedup_flags(
            df, "embedding", "vec_id", 0.9, sign_dims=dims
        ).collect()
    }
    assert auto == explicit
    assert len(dims) == 3  # ceil(log2(64)/2) = 3 bits -> 8 clusters


def test_power_iteration_matches_float_reference(spark, sf_dir):
    """Algorithm correctness, decoupled from data-dependent convergence:
    the integer fixed-point result must align (|cos| > 0.999, pure
    quantization error) with a numpy FLOAT implementation of the same 5
    power-iteration rounds (same centering, same max-abs normalization,
    same sign rule) on the same table. The gated table's spectrum is
    near-isotropic (lambda2/lambda1 ~ 0.93), so 5 rounds deliberately do
    NOT reach the true eigenvector here — convergence is exercised on a
    planted-direction corpus below."""
    import numpy as np

    from app_insights_generator_spark.queries.llm_queries import (
        top_pc_power_iteration_embeddings,
    )
    from app_insights_generator_spark.sources import load_table

    rows = sorted(
        top_pc_power_iteration_embeddings(spark, sf_dir).collect(),
        key=lambda r: r.dim,
    )
    w = np.array([r.weight_ppm for r in rows], dtype=np.float64)
    assert int(np.abs(w).max()) == 1_000_000
    assert w[int(np.abs(w).argmax())] > 0

    embs = np.array(
        [
            r.embedding
            for r in load_table(spark, sf_dir, "embeddings")
            .select("embedding")
            .collect()
        ],
        dtype=np.float64,
    )
    c = embs - embs.mean(axis=0)
    ref = np.ones(embs.shape[1])
    for _ in range(5):
        ref = c.T @ (c @ ref)
        i = int(np.abs(ref).argmax())
        ref = ref * (1.0 if ref[i] >= 0 else -1.0) / np.abs(ref[i])
    cos = abs(float(w @ ref) / (np.linalg.norm(w) * np.linalg.norm(ref)))
    assert cos > 0.999, cos


def test_power_iteration_converges_on_planted_direction(spark):
    """Planted dominant direction (one coordinate with 10x variance):
    5 rounds must recover the true top eigenvector (|cos| > 0.99) and
    the sign convention must make its largest component positive."""
    import numpy as np

    from app_insights_generator_spark.operators.similarity import (
        power_iteration_top_pc,
    )

    rng = np.random.default_rng(11)
    n, d = 300, 16
    base = rng.normal(0, 0.02, (n, d))
    base[:, 5] += rng.normal(0, 0.2, n)  # planted direction e_5
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(base)],
        "vec_id long, embedding array<float>",
    )
    rows = sorted(
        power_iteration_top_pc(df, "embedding", "vec_id", iterations=5).collect(),
        key=lambda r: r.dim,
    )
    w = np.array([r.weight_ppm for r in rows], dtype=np.float64)
    emb64 = np.array(
        [r.embedding for r in df.select("embedding").orderBy("vec_id").collect()],
        dtype=np.float64,
    )
    c = emb64 - emb64.mean(axis=0)
    top = np.linalg.eigh(c.T @ c)[1][:, -1]
    cos = abs(float(w @ top) / (np.linalg.norm(w) * np.linalg.norm(top)))
    assert cos > 0.99, cos
    assert w[int(np.abs(w).argmax())] > 0


def test_knn_label_accuracy_matches_numpy(spark, sf_dir):
    """Recompute leave-one-out 1-NN driver-side with numpy using the same
    6dp+bias rounding and (sim desc, id) tie-break; per-label counts must
    match exactly, and counts must conserve the corpus size."""
    import numpy as np

    from app_insights_generator_spark.queries.llm_queries import (
        knn_label_accuracy_embeddings,
    )
    from app_insights_generator_spark.sources import load_table

    rows = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    ).collect()
    ids = np.array([r.vec_id for r in rows])
    labels = {r.vec_id: r.label for r in rows}
    m = np.array([r.embedding for r in rows], dtype=np.float64)
    norms = np.linalg.norm(m, axis=1)
    sims = (m @ m.T) / np.outer(norms, norms)
    np.fill_diagonal(sims, -np.inf)
    sims = np.round(sims + 1e-9, 6)
    expect = {}
    order = np.argsort(ids)
    for i in range(len(ids)):
        best = max(
            range(len(ids)),
            key=lambda j: (sims[i, j], -ids[j]) if j != i else (-np.inf, 0),
        )
        lab = labels[ids[i]]
        ok = labels[ids[best]] == lab
        n, c = expect.get(lab, (0, 0))
        expect[lab] = (n + 1, c + (1 if ok else 0))
    got = {
        r.label: (r.n_vectors, r.n_correct)
        for r in knn_label_accuracy_embeddings(spark, sf_dir).collect()
    }
    assert got == expect
    assert sum(n for n, _ in got.values()) == len(rows)


def test_kmeans_checkpoint_dir_output_equality(spark, sf_dir, reliable_pins):
    """The distributed Lloyd loop and the k-means|| seeder pin every
    round: with ``spark.checkpoint.dir`` set, those reliable pins must be
    output-identical to the default local-checkpoint mode."""
    from app_insights_generator_spark.operators.similarity import (
        kmeans_fixed_point,
        kmeans_parallel_init,
    )

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    def rows(d):
        return sorted(map(tuple, d.collect()))

    def run():
        assign, cent = kmeans_fixed_point(embs, k=4, n_iter=2)
        seeds = kmeans_parallel_init(embs, k=4, rounds=2)
        return rows(assign), rows(cent), rows(seeds)

    default = run()
    with reliable_pins():
        reliable = run()
    assert reliable == default


def test_semdedup_empty_input_preserves_id_type(spark):
    """ADVICE r08: the empty-input early return must derive the id
    column's type from the input schema — a string doc-id corpus must not
    change schema exactly when it becomes empty."""
    from app_insights_generator_spark.operators.similarity import semdedup_flags

    empty_str = spark.createDataFrame(
        [], "doc_key string, embedding array<float>"
    )
    out = semdedup_flags(empty_str, id_col="doc_key", sign_dims=(1,))
    assert out.schema["doc_key"].dataType.simpleString() == "string"
    assert out.count() == 0

    empty_long = spark.createDataFrame([], "vec_id long, embedding array<float>")
    out2 = semdedup_flags(empty_long, sign_dims=(1,))
    assert out2.schema["vec_id"].dataType.simpleString() == "bigint"


def test_sparse_dense_agreement_invariants(spark, sf_dir):
    """The agreement audit's integer surface must be internally
    consistent: n_agree bounded by the panel k, agree_bp the exact
    integer ratio, and each side's idsum reproducible from the
    underlying top-3 machinery it claims to compose."""
    from app_insights_generator_spark.queries.llm_queries import (
        _tfidf_topk3,
        sparse_dense_agreement_documents,
    )

    rows = {r.qid: r for r in sparse_dense_agreement_documents(spark, sf_dir).collect()}
    assert rows, "empty agreement panel"
    for r in rows.values():
        assert 0 <= r.n_agree <= 3
        assert r.agree_bp == r.n_agree * 10000 // 3

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tf = _tfidf_topk3(spark, docs).collect()
    tfidf_idsum = {}
    for row in tf:
        tfidf_idsum[row.qid] = tfidf_idsum.get(row.qid, 0) + row.cid
    for qid, r in rows.items():
        assert r.tfidf_idsum == tfidf_idsum[qid]


def test_rrf_fusion_invariants(spark, sf_dir):
    """RRF fusion: fused candidates come only from the two input top-3
    lists; scores are exact sums of the three possible integer rank
    contributions; a doc present in BOTH lists always outscores any
    single-list doc (min both-lists score 16129+15873 > max single
    16393); per-query fused list is <= 3 rows, ranks dense from 1."""
    from app_insights_generator_spark.queries.llm_queries import (
        _dense_topk3,
        _embs,
        _tfidf_topk3,
        rrf_fusion_documents,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sparse = {(r.qid, r.cid): r.rank for r in _tfidf_topk3(spark, docs).collect()}
    dense = {
        (r.dqid, r.dcid): r.drank
        for r in _dense_topk3(_embs(spark, sf_dir)).collect()
    }
    contrib = {1: 16393, 2: 16129, 3: 15873}

    out = rrf_fusion_documents(spark, sf_dir).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.qid, []).append(r)
        want = contrib.get(sparse.get((r.qid, r.cid)), 0) + contrib.get(
            dense.get((r.qid, r.cid)), 0
        )
        assert want > 0, f"fused candidate {(r.qid, r.cid)} in neither list"
        assert r.rrf_score == want
    for qid, rows in by_q.items():
        assert len(rows) <= 3
        assert sorted(r.fused_rank for r in rows) == list(range(1, len(rows) + 1))
        both = {c for (q, c) in sparse if q == qid} & {
            c for (q, c) in dense if q == qid
        }
        scores = {r.cid: r.rrf_score for r in rows}
        for cid, s in scores.items():
            if cid in both:
                assert s >= 16129 + 15873


def test_split_centroid_drift_matches_python_recompute(spark, sf_dir):
    """Centroid rows must equal a pure-Python recomputation through the
    same quantization (floor(x*1e6)+offset, floor-mean, offset removed),
    and near-iid hash splits should give high centroid cosine."""
    import hashlib

    from app_insights_generator_spark.queries.llm_queries import (
        split_centroid_drift_embeddings,
    )

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet").collect()

    def split_of(vid):
        b = int(hashlib.sha256(str(vid).encode()).hexdigest()[:4], 16) % 100
        return "train" if b < 80 else ("val" if b < 90 else "test")

    import math

    by_split = {}
    for e in embs:
        by_split.setdefault(split_of(e.vec_id), []).append(e.embedding)
    cents = {}
    for sp, vecs in by_split.items():
        dim = len(vecs[0])
        cents[sp] = [
            sum(math.floor(float(v[d]) * 1_000_000) + 1_000_000 for v in vecs)
            // len(vecs)
            - 1_000_000
            for d in range(dim)
        ]
    got = {r.pair: r for r in split_centroid_drift_embeddings(spark, sf_dir).collect()}
    for other in ("val", "test"):
        if other not in cents:
            continue
        a, b = cents["train"], cents[other]
        r = got[f"train_vs_{other}"]
        assert r.dot_q == sum(x * y for x, y in zip(a, b))
        assert r.n2_train == sum(x * x for x in a)
        assert r.n2_other == sum(y * y for y in b)


# --- IVF persist-and-refresh (round 10, VERDICT r09 item 4) -----------------


def test_ivf_index_roundtrip_and_refresh(spark, tmp_path, clustered):
    """build -> write -> read roundtrip preserves centroids and
    assignments; a refresh appends the batch to the SAME frozen
    centroids (no refit), so probing the refreshed index equals
    probing a from-scratch index whose quantizer was fitted on the
    same original corpus."""
    _, df = clustered
    old = df.filter(F.col("vec_id") < 80)
    batch = df.filter(F.col("vec_id") >= 80)
    idx = str(tmp_path / "ivf")

    centroids, assigned = S.build_ivf_index(
        old, "embedding", "vec_id", n_lists=4, sample_size=64
    )
    S.write_ivf_index(idx, centroids, assigned)
    cent_back, lists = S.read_ivf_index(spark, idx)
    assert np.allclose(cent_back, centroids)
    assert lists.count() == old.count()

    S.refresh_ivf_index(batch, idx, "embedding", "vec_id")
    _, lists2 = S.read_ivf_index(spark, idx)
    assert lists2.count() == df.count()

    # refreshed assignments for the batch == direct assignment to the
    # frozen centroids (refresh must never refit)
    assign = S.ivf_assign_udf(centroids)
    want = {
        (r["id"], r["list_id"])
        for r in batch.select(
            F.col("vec_id").alias("id"),
            assign(F.col("embedding")).alias("list_id"),
        ).collect()
    }
    got = {
        (r["id"], r["list_id"])
        for r in lists2.filter(F.col("id") >= 80)
        .select("id", "list_id")
        .collect()
    }
    assert got == want


def test_ann_probe_persisted_matches_inline_ivf(spark, tmp_path, clustered):
    """Probing the persisted index returns the same top-k as the inline
    ann_topk_ivf path given the same quantizer (sample covers the full
    corpus, so both fit identical centroids)."""
    _, df = clustered
    idx = str(tmp_path / "ivf")
    centroids, assigned = S.build_ivf_index(
        df, "embedding", "vec_id", n_lists=4, sample_size=200
    )
    S.write_ivf_index(idx, centroids, assigned)

    qv = df.filter(F.col("vec_id") == 0).first()["embedding"]
    queries = spark.createDataFrame([(0, qv)], ["qid", "qv"])
    got = [
        (r["id"], r["cos_sim"])
        for r in S.ann_probe_persisted(
            spark, idx, queries, k=5, n_probe=2
        ).orderBy("rn").collect()
    ]
    want = [
        (r["id"], round(r["cos_sim"] + 1e-9, 6))
        for r in S.ann_topk_ivf(
            df, "embedding", "vec_id", qv, k=5, n_lists=4, n_probe=2,
            sample_size=200,
        ).collect()
    ]
    assert [i for i, _ in got] == [i for i, _ in want]


def test_ann_probe_persisted_prunes_partitions(spark, tmp_path, clustered):
    """The probe scan must read only the probed list_id partitions of the
    persisted lists table — PartitionFilters on list_id present in the
    scan, i.e. the 100 TB probe cost is n_probe/n_lists of the data,
    never a full-index scan."""
    _, df = clustered
    idx = str(tmp_path / "ivf")
    centroids, assigned = S.build_ivf_index(
        df, "embedding", "vec_id", n_lists=4, sample_size=200
    )
    S.write_ivf_index(idx, centroids, assigned)
    qv = df.filter(F.col("vec_id") == 0).first()["embedding"]
    queries = spark.createDataFrame([(0, qv)], ["qid", "qv"])
    plan = (
        S.ann_probe_persisted(spark, idx, queries, k=5, n_probe=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    import re

    scans = [
        ln for ln in plan.splitlines() if "FileScan parquet" in ln
    ]
    # The lists scan is the one whose schema carries the vectors; Spark
    # elides the path, so identify it by its read schema.
    list_scans = [ln for ln in scans if "vec:array" in ln]
    assert list_scans, plan
    for ln in list_scans:
        m = re.search(r"PartitionFilters: \[([^\]]*)", ln)
        assert m and re.search(r"list_id#\d+ IN \(", m.group(1)), ln


# --- Arrow pair-cosine bit-equivalence (round-12 optimization) ---------------


def test_pair_cosine_arrow_bit_identical_to_hof(spark):
    """pair_cosine (Arrow numpy fold) must be BIT-identical to the HOF
    expression form it replaced on the pair-verify paths — same
    left-to-right float64 accumulation — including the edge classes the
    fallback handles: null vectors, ragged lengths (zip_with null-padding
    poisons the sum to null), zero norms (when-otherwise 0.0), and
    embedded nulls inside an array."""
    rng = np.random.default_rng(7)
    rows = []
    for i in range(40):
        rows.append((i, [float(x) for x in rng.standard_normal(DIM)]))
    rows.append((100, [0.0] * DIM))              # zero norm -> 0.0 branch
    rows.append((101, None))                     # null vector -> null sim
    rows.append((102, [1.0, 2.0]))               # ragged vs DIM -> null sim
    rows.append((103, [1.0, None] + [0.0] * (DIM - 2)))  # poisoned sum
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    base = df.select(
        F.col("vec_id").alias("_id"),
        F.col("embedding").alias("_v"),
        S.norm(F.col("embedding")).alias("_n"),
    )
    a, b = base.alias("a"), base.alias("b")
    pairs = a.join(b, F.col("a._id") < F.col("b._id"))
    denom = F.col("a._n") * F.col("b._n")
    hof = F.when(
        denom > 0, S.dot(F.col("a._v"), F.col("b._v")) / denom
    ).otherwise(F.lit(0.0))
    arrow = S.pair_cosine(
        F.col("a._v"), F.col("b._v"), F.col("a._n"), F.col("b._n")
    )
    got = pairs.select(
        F.col("a._id").alias("ia"), F.col("b._id").alias("ib"),
        hof.alias("h"), arrow.alias("u"),
    ).collect()
    assert len(got) > 800
    for r in got:
        assert r.h == r.u, (r.ia, r.ib, r.h, r.u)  # exact, incl. None
