"""Similarity search: brute-force exactness vs a numpy oracle, LSH recall,
IVF probe behavior. Clustered synthetic vectors make the expected neighbor
sets unambiguous."""

import math

import numpy as np
import pytest

from hadoop_data_lake_spark.operators.similarity import (
    brute_force_topk,
    cosine_near_dup_pairs,
    cosine_near_dup_pairs_exact,
    ivf_topk,
    lsh_topk,
)

DIM = 64
PER_CLUSTER = 5
N_CLUSTERS = 4


def _vectors():
    """4 well-separated clusters of 5 vectors each (fixed seed)."""
    rng = np.random.default_rng(7)
    centers = rng.standard_normal((N_CLUSTERS, DIM)) * 10
    rows = []
    for c in range(N_CLUSTERS):
        for i in range(PER_CLUSTER):
            v = centers[c] + rng.standard_normal(DIM) * 0.05
            rows.append((c * PER_CLUSTER + i, c, [float(x) for x in v]))
    return rows


def _numpy_topk(rows, k):
    ids = [r[0] for r in rows]
    mat = np.array([r[2] for r in rows])
    unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sims = unit @ unit.T
    expected = {}
    for i, qid in enumerate(ids):
        order = sorted(
            ((round(sims[i, j], 6), ids[j]) for j in range(len(ids)) if j != i),
            key=lambda t: (-t[0], t[1]),
        )
        expected[qid] = [nid for _, nid in order[:k]]
    return expected


@pytest.fixture(scope="module")
def emb(spark):
    return spark.createDataFrame(
        _vectors(), "vec_id long, label int, embedding array<float>"
    ).cache()


def test_brute_force_matches_numpy(emb):
    out = brute_force_topk(emb, emb, k=4)
    got = {}
    for r in out.orderBy("query_id", "rnk").collect():
        got.setdefault(r["query_id"], []).append(r["neighbor_id"])
    # float32 storage: compare the neighbor SETS (cluster membership), which
    # are robust to <1e-6 rounding, and require them to be the cluster mates
    expected = _numpy_topk(
        [(i, c, v) for i, c, v in _vectors()], k=4
    )
    for qid, neigh in expected.items():
        assert set(got[qid]) == set(neigh)
        # cluster-mates only, by construction
        assert {n // PER_CLUSTER for n in got[qid]} == {qid // PER_CLUSTER}


def test_lsh_recall_on_clusters(emb):
    """Near-identical vectors agree on almost every hyperplane sign, so
    cluster-mates collide in >= 1 of 8 tables with overwhelming probability."""
    out = lsh_topk(emb, emb, k=4, num_tables=8, bits_per_table=8, dim=DIM)
    got = {}
    for r in out.collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = total = 0
    for qid in range(N_CLUSTERS * PER_CLUSTER):
        mates = {qid // PER_CLUSTER * PER_CLUSTER + i for i in range(PER_CLUSTER)} - {qid}
        hits += len(got.get(qid, set()) & mates)
        total += len(mates)
    assert hits / total >= 0.9
    # determinism: seeded hyperplanes give identical output across runs
    again = {
        (r["query_id"], r["neighbor_id"], r["sim_r"])
        for r in lsh_topk(emb, emb, k=4, num_tables=8, bits_per_table=8, dim=DIM).collect()
    }
    assert again == {(r["query_id"], r["neighbor_id"], r["sim_r"]) for r in out.collect()}


def test_srp_int_topk_recall_and_determinism(emb):
    """The integer-quantized md5-Rademacher tier must find cluster-mates
    (quantization perturbs hyperplanes by < dim/scale — irrelevant at these
    margins) and, being integer-exact, must be bit-identical across runs."""
    from hadoop_data_lake_spark.operators.similarity import srp_int_topk

    out = srp_int_topk(emb, emb, k=4, num_tables=4, bits_per_table=8, dim=DIM)
    got = {}
    for r in out.collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = total = 0
    for qid in range(N_CLUSTERS * PER_CLUSTER):
        mates = {qid // PER_CLUSTER * PER_CLUSTER + i for i in range(PER_CLUSTER)} - {qid}
        hits += len(got.get(qid, set()) & mates)
        total += len(mates)
    assert hits / total >= 0.9
    again = {
        (r["query_id"], r["neighbor_id"], r["sim_r"], r["rnk"])
        for r in srp_int_topk(emb, emb, k=4, num_tables=4, bits_per_table=8, dim=DIM).collect()
    }
    assert again == {
        (r["query_id"], r["neighbor_id"], r["sim_r"], r["rnk"]) for r in out.collect()
    }


def test_pq_det_topk_recall_and_determinism(emb):
    """Deterministic PQ: md5-derived integer codebooks encode by best-of-16
    random directions per subspace, so cluster mates share codes and the
    int64 ADC shortlist keeps them; exact re-rank then orders them right.
    Integer-exact end to end => bit-identical across runs."""
    from hadoop_data_lake_spark.operators.similarity import pq_det_topk

    out = pq_det_topk(emb, emb, k=4, m=8, nbits=4, dim=DIM, rerank=4)
    got = {}
    for r in out.collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = total = 0
    for qid in range(N_CLUSTERS * PER_CLUSTER):
        mates = {qid // PER_CLUSTER * PER_CLUSTER + i for i in range(PER_CLUSTER)} - {qid}
        hits += len(got.get(qid, set()) & mates)
        total += len(mates)
    assert hits / total >= 0.9
    again = {
        (r["query_id"], r["neighbor_id"], r["sim_r"], r["rnk"])
        for r in pq_det_topk(emb, emb, k=4, m=8, nbits=4, dim=DIM, rerank=4).collect()
    }
    assert again == {
        (r["query_id"], r["neighbor_id"], r["sim_r"], r["rnk"]) for r in out.collect()
    }


def test_ivf_probes_own_cell(emb):
    out = ivf_topk(emb, emb, centroid_col="label", k=4, nprobe=1)
    got = {}
    for r in out.collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    # nprobe=1: every query probes its own cluster's centroid cell and finds
    # exactly its 4 cluster mates
    for qid, neigh in got.items():
        assert neigh == {qid // PER_CLUSTER * PER_CLUSTER + i for i in range(PER_CLUSTER)} - {qid}


def test_cosine_near_dup_pairs(emb):
    out = cosine_near_dup_pairs(emb, threshold=0.99)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    # all within-cluster pairs (cos ~ 1), no cross-cluster pairs
    expected = {
        (c * PER_CLUSTER + i, c * PER_CLUSTER + j)
        for c in range(N_CLUSTERS)
        for i in range(PER_CLUSTER)
        for j in range(i + 1, PER_CLUSTER)
    }
    assert pairs == expected


def test_banded_near_dup_matches_exact_on_planted_dups(spark):
    """Candidate/verify SRP-LSH == exact brute force on planted near-dups.

    Precision 1.0 is structural (exact verify); this pins recall: every
    perturbed copy (cos >= ~0.99 to its base) must survive banding."""
    rng = np.random.default_rng(11)
    base = rng.standard_normal((40, DIM))
    rows = [(i, [float(x) for x in base[i]]) for i in range(40)]
    for j in range(12):
        pert = base[j] + 0.05 * rng.standard_normal(DIM)
        rows.append((100 + j, [float(x) for x in pert]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = {
        (r["id_a"], r["id_b"], r["sim_r"])
        for r in cosine_near_dup_pairs_exact(df, threshold=0.95).collect()
    }
    banded = {
        (r["id_a"], r["id_b"], r["sim_r"])
        for r in cosine_near_dup_pairs(df, threshold=0.95).collect()
    }
    assert len(exact) == 12
    assert banded == exact


def test_kmeans_recovers_clusters(emb):
    from hadoop_data_lake_spark.operators.similarity import kmeans_fit_assign

    centers, assigned = kmeans_fit_assign(emb, k=N_CLUSTERS, max_iter=10)
    rows = assigned.select("vec_id", "label", "cell").collect()
    # every true cluster maps to exactly one k-means cell (up to relabeling)
    mapping = {}
    for r in rows:
        mapping.setdefault(r["label"], set()).add(r["cell"])
    assert all(len(cells) == 1 for cells in mapping.values())
    assert len({next(iter(c)) for c in mapping.values()}) == N_CLUSTERS


def test_ivf_kmeans_topk_finds_cluster_mates(emb):
    from hadoop_data_lake_spark.operators.similarity import ivf_kmeans_topk

    out = ivf_kmeans_topk(emb, emb, k=4, n_cells=N_CLUSTERS, nprobe=1, max_iter=10)
    got = {}
    for r in out.collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for qid, neigh in got.items():
        mates = {qid // PER_CLUSTER * PER_CLUSTER + i for i in range(PER_CLUSTER)} - {qid}
        assert neigh == mates


def test_ivf_index_build_search_split(spark, emb, tmp_path):
    """Persisted-index search == in-memory IVF on the same centroids, and
    the cell scan is partition-pruned to the probed cells."""
    from hadoop_data_lake_spark.operators.similarity import (
        ivf_build,
        ivf_kmeans_topk,
        ivf_search,
    )

    path = str(tmp_path / "ivf_index")
    ivf_build(emb, path, n_cells=N_CLUSTERS, max_iter=10)
    got = ivf_search(emb, path, k=4, nprobe=1)
    direct = ivf_kmeans_topk(emb, emb, k=4, n_cells=N_CLUSTERS, nprobe=1, max_iter=10)
    g = {(r["query_id"], r["neighbor_id"], r["sim_r"]) for r in got.collect()}
    d = {(r["query_id"], r["neighbor_id"], r["sim_r"]) for r in direct.collect()}
    assert g == d
    # cell partitions materialized Hive-style
    import os
    assert any(p.startswith("cell=") for p in os.listdir(f"{path}/cells"))


def test_pq_recall_on_clusters(emb):
    from hadoop_data_lake_spark.operators.similarity import pq_topk

    # k=4 inside 5-vector clusters: the true top-4 of every query is its
    # cluster siblings; PQ/ADC + exact re-rank must recover them
    expected = _numpy_topk(_vectors(), 4)
    out = pq_topk(emb, emb, k=4, m=8, nbits=4, dim=DIM, rerank=4)
    got = {}
    for r in out.collect():
        got.setdefault(r["query_id"], []).append((r["rnk"], r["neighbor_id"]))
    hits = total = 0
    for qid, exp in expected.items():
        neigh = [n for _, n in sorted(got.get(qid, []))]
        hits += len(set(neigh) & set(exp))
        total += len(exp)
    assert hits / total >= 0.95, f"recall {hits}/{total}"


def test_pq_encode_is_deterministic(spark, emb):
    from hadoop_data_lake_spark.operators.similarity import pq_encode, pq_train

    books = pq_train(emb, m=8, nbits=4, dim=DIM)
    books2 = pq_train(emb.repartition(5), m=8, nbits=4, dim=DIM)
    assert np.array_equal(books, books2)
    a = {r["neighbor_id"]: r["codes"] for r in pq_encode(emb, books).collect()}
    b = {
        r["neighbor_id"]: r["codes"]
        for r in pq_encode(emb.repartition(3), books).collect()
    }
    assert a == b
    assert all(len(c) == 8 and all(0 <= x < 16 for x in c) for c in a.values())


def test_mmr_penalizes_redundancy_on_synthetic_pool(spark):
    """Three near-identical high-relevance docs + diverse mid-relevance
    docs: after the first pick, MMR must prefer a diverse doc over the
    near-clones of the winner."""
    from hadoop_data_lake_spark.operators.similarity import mmr_rerank_pool

    pool = spark.createDataFrame(
        [(1, 1000000), (2, 990000), (3, 980000), (4, 700000), (5, 690000)],
        ["doc_id", "rel_q"],
    )
    # docs 1-3 mutually ~identical; 4 & 5 dissimilar to everything
    sims = spark.createDataFrame(
        [
            (1, 2, 990000), (1, 3, 985000), (2, 3, 992000),
            (1, 4, 100000), (2, 4, 110000), (3, 4, 90000),
            (1, 5, 120000), (2, 5, 105000), (3, 5, 95000),
            (4, 5, 150000),
        ],
        ["a", "b", "sim_q"],
    )
    out = mmr_rerank_pool(pool, sims, k=3)
    order = [doc for _, doc, _, _ in out]
    assert order[0] == 1  # pure relevance first
    assert order[1] == 4  # diversity beats the clones (7*0.99M-3*0.99M < 7*0.7M-3*0.1M)
    assert order[2] == 5


def test_mmr_rank1_is_top_relevance_and_ranks_unique(spark):
    from hadoop_data_lake_spark.queries.northstar_queries import mmr_rerank

    out = mmr_rerank(spark, "/root/testdata/sf0.001").collect()
    assert [r["rank"] for r in out] == list(range(1, 11))
    assert len({r["doc_id"] for r in out}) == 10
    assert out[0]["score_q"] == 7 * out[0]["rel_q"]


def test_pca_power_iteration_converges_on_planted_direction(spark):
    """With a genuine eigengap (one planted dominant direction), 8 integer
    iterations must align with numpy's top eigenvector (|cos| > 0.99)."""
    import numpy as np

    from hadoop_data_lake_spark.operators.similarity import pca_power_iterate

    rng = np.random.default_rng(7)
    direction = rng.normal(size=16)
    direction /= np.linalg.norm(direction)
    X = rng.normal(scale=0.05, size=(300, 16)) + np.outer(
        rng.normal(scale=1.0, size=300), direction
    )
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(X)],
        "vec_id long, embedding array<float>",
    )
    got = pca_power_iterate(df, dim=16, iters=8).collect()
    v = np.zeros(16)
    for r in got:
        v[r["dim"]] = r["loading"]
    v /= np.linalg.norm(v)
    Xq = np.floor(np.array(
        [[float(np.float32(x)) for x in row] for row in X]
    ) * 1e6)
    C = np.cov(Xq.T, bias=True)
    w, vecs = np.linalg.eigh(C)
    top = vecs[:, np.argmax(w)]
    assert abs(float(np.dot(v, top))) > 0.99


def test_pca_iterate_rayleigh_quotient_beats_mean_eigenvalue(spark):
    """On the near-isotropic corpus (eigengap ~0.93: no bounded method can
    isolate ONE eigenvector) the iterate must still concentrate energy at
    the top of the spectrum: its Rayleigh quotient exceeds the mean
    eigenvalue and reaches a large fraction of lambda_1."""
    import numpy as np

    from hadoop_data_lake_spark.core.io import read_table
    from hadoop_data_lake_spark.queries.northstar_queries import pca_top_component

    sf = "/root/testdata/sf0.001"
    got = pca_top_component(spark, sf).collect()
    v = np.zeros(64)
    for r in got:
        v[r["dim"]] = r["loading"]
    v /= np.linalg.norm(v)
    X = np.array(
        [r["embedding"] for r in read_table(spark, sf, "embeddings").collect()],
        dtype=np.float64,
    )
    C = np.cov(np.floor(X * 1e6).T, bias=True)
    w = np.linalg.eigvalsh(C)
    rq = float(v @ C @ v)
    assert rq > w.mean()
    assert rq > 0.85 * w.max()


def test_semdedup_keeps_lowest_centroid_sim_per_dup_group(emb):
    from hadoop_data_lake_spark.operators.similarity import semdedup_prune

    rows = semdedup_prune(emb, num_clusters=4, threshold=0.95).collect()
    assert len(rows) == N_CLUSTERS * PER_CLUSTER
    label = {r[0]: r[1] for r in _vectors()}
    by_label = {}
    for r in rows:
        by_label.setdefault(label[r["vec_id"]], []).append(r)
    # SemDeDup's invariant is per ASSIGNED cluster: if several md5-medoid
    # centroids land inside one planted group, that group legitimately
    # splits across clusters (the paper's cluster-boundary blindspot) —
    # so assert exactly one survivor per (assigned cluster, planted
    # group), and that it is the paper's keep-choice: lowest
    # (centroid-similarity, id).
    n_dropped = 0
    for (lab, _cl), members in (
        (key, grp)
        for key, grp in _group_by(
            ((label[r["vec_id"]], r["cluster_id"]), r) for r in rows
        ).items()
    ):
        kept = [r for r in members if r["keep"]]
        assert len(kept) == 1, f"group {lab}: {kept}"
        n_dropped += len(members) - 1
        expect = min(members, key=lambda r: (r["cent_sim_r"], r["vec_id"]))
        assert kept[0]["vec_id"] == expect["vec_id"]
    # the planted 5-per-group duplicates make real pruning happen
    assert n_dropped >= N_CLUSTERS * (PER_CLUSTER - 1) - (PER_CLUSTER - 1)


def test_semdedup_no_drops_above_threshold_one(emb):
    from hadoop_data_lake_spark.operators.similarity import semdedup_prune

    rows = semdedup_prune(emb, num_clusters=4, threshold=1.5).collect()
    assert all(r["keep"] for r in rows)


def _group_by(pairs):
    out = {}
    for key, val in pairs:
        out.setdefault(key, []).append(val)
    return out


def test_srp_recall_not_worse_than_mllib_brp(spark, emb):
    """External cross-check: on the planted clusters, our deterministic
    SRP tier must recall cluster-mates at least as well as pyspark.ml's
    BucketedRandomProjectionLSH with comparable table count — the stock
    alternative a Spark user would reach for (and which we reject for the
    oracle path because its hash is seed+version dependent, not
    cross-engine replayable)."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    from hadoop_data_lake_spark.operators.similarity import srp_int_topk

    vec = emb.withColumn("features", array_to_vector("embedding"))
    brp = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        numHashTables=4,
        bucketLength=2.0,
        seed=42,
    ).fit(vec)
    pairs = brp.approxSimilarityJoin(vec, vec, threshold=2.0)
    got_brp = {}
    for r in pairs.collect():
        a, b = r["datasetA"]["vec_id"], r["datasetB"]["vec_id"]
        if a != b:
            got_brp.setdefault(a, set()).add(b)

    out = srp_int_topk(emb, emb, k=4, num_tables=4, bits_per_table=8, dim=DIM)
    got_srp = {}
    for r in out.collect():
        got_srp.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def recall(got):
        hits = total = 0
        for qid in range(N_CLUSTERS * PER_CLUSTER):
            mates = {
                qid // PER_CLUSTER * PER_CLUSTER + i for i in range(PER_CLUSTER)
            } - {qid}
            hits += len(got.get(qid, set()) & mates)
            total += len(mates)
        return hits / total

    assert recall(got_srp) >= recall(got_brp) - 0.05
    assert recall(got_srp) >= 0.9


def test_semdedup_srp_assignment_matches_exact_on_planted_clusters(emb):
    """The SRP-bucketed assignment (the 100 TB configuration) agrees with
    exact assignment on the planted well-separated clusters — same keep
    set, same cluster memberships."""
    from hadoop_data_lake_spark.operators.similarity import semdedup_prune

    exact = {
        r["vec_id"]: (r["cluster_id"], r["keep"])
        for r in semdedup_prune(emb, num_clusters=4, threshold=0.95).collect()
    }
    srp = {
        r["vec_id"]: (r["cluster_id"], r["keep"])
        for r in semdedup_prune(
            emb, num_clusters=4, threshold=0.95, assign="srp"
        ).collect()
    }
    assert set(srp) == set(exact)  # every point assigned exactly once
    agree = sum(1 for k in exact if exact[k] == srp[k])
    # SRP buckets can split a planted group across centroids at the
    # margin; demand full keep-set size and near-total agreement.
    assert agree >= len(exact) * 0.9
    assert sum(1 for _, k in srp.values() if k) >= sum(
        1 for _, k in exact.values() if k
    ) * 0.9


def test_semdedup_rejects_unknown_assignment(emb):
    import pytest

    from hadoop_data_lake_spark.operators.similarity import semdedup_prune

    with pytest.raises(ValueError):
        semdedup_prune(emb, assign="kmeans")


def test_ivf_det_topk_recall_and_determinism(emb):
    """Deterministic IVF: constant-norm md5-Rademacher centroids make
    assignment a max-inner-product over 16 sign directions, so near-identical
    cluster mates land in the same cell and nprobe=2 probing recovers them;
    integer-exact assignment + round-6 cosine re-rank => bit-identical
    across runs (the ann_lsh_det/ann_pq_det determinism contract)."""
    from hadoop_data_lake_spark.operators.similarity import ivf_det_topk

    out = ivf_det_topk(emb, emb, k=4, nlist=16, nprobe=2, dim=DIM)
    got = {}
    for r in out.collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = total = 0
    for qid in range(N_CLUSTERS * PER_CLUSTER):
        mates = {qid // PER_CLUSTER * PER_CLUSTER + i for i in range(PER_CLUSTER)} - {qid}
        hits += len(got.get(qid, set()) & mates)
        total += len(mates)
    assert hits / total >= 0.9
    again = {
        (r["query_id"], r["neighbor_id"], r["sim_r"], r["rnk"])
        for r in ivf_det_topk(emb, emb, k=4, nlist=16, nprobe=2, dim=DIM).collect()
    }
    assert again == {
        (r["query_id"], r["neighbor_id"], r["sim_r"], r["rnk"]) for r in out.collect()
    }


def _pca_serial_reference(vecs, dim, iters=8):
    """Serial big-int mirror of pca_power_iterate's exact algorithm:
    quantize, scatter via n*S - s*s^T, digit-length power-of-10
    normalization, `iters` truncating mat-vec steps. Python ints cannot
    overflow, so this is the ground truth the distributed decimal path
    must reproduce bit-for-bit."""
    q = [[math.floor(x * 1_000_000) for x in v] for v in vecs]
    n = len(q)
    s = [sum(row[d] for row in q) for d in range(dim)]
    c = [
        [
            n * sum(row[a] * row[b] for row in q) - s[a] * s[b]
            for b in range(dim)
        ]
        for a in range(dim)
    ]
    mx = max(abs(c[a][b]) for a in range(dim) for b in range(dim))
    dk = max(len(str(mx)) - 9, 0)
    p = 10**dk
    a_mat = [
        [(-1 if c[x][y] < 0 else 1) * (abs(c[x][y]) // p) for y in range(dim)]
        for x in range(dim)
    ]
    v = [1_000_000] * dim
    for _ in range(iters):
        u = [sum(a_mat[li][j] * v[j] for j in range(dim)) for li in range(dim)]
        vm = max(abs(x) for x in u)
        div = (vm // 1_000_000) + 1
        v = [(-1 if x < 0 else 1) * (abs(x) // div) for x in u]
    return v


def test_pca_iterate_survives_bigint_overflow_vs_serial_reference(spark):
    """3200 unit-magnitude +-1 vectors: n*sij = 3200^2 * 1e12 ~ 1e19 wraps
    the old bigint scatter (bound ~3034 for |x|=1); the decimal path must
    match the serial big-int reference on every loading."""
    from hadoop_data_lake_spark.operators.similarity import pca_power_iterate

    dim, n = 4, 3200
    # deterministic, full-rank-ish sign patterns with a dominant direction:
    # component d of vector i is +-1 by a fixed bit recipe (no RNG state)
    vecs = [
        [
            1.0 if ((i >> d) ^ (i >> (d + 1)) ^ (1 if d == 0 else 0)) & 1 else -1.0
            for d in range(dim)
        ]
        for i in range(n)
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    got = {r["dim"]: r["loading"] for r in pca_power_iterate(df, dim=dim, iters=8).collect()}
    want = _pca_serial_reference(vecs, dim)
    assert got == {d: want[d] for d in range(dim)}
    # the fixture really is past the old bigint bound
    assert n * n * 10**12 > 2**63 - 1


def test_kmeans_and_pq_empty_corpus(spark):
    import numpy as np

    from hadoop_data_lake_spark.operators.similarity import (
        ivf_kmeans_topk,
        kmeans_fit_assign,
        pq_train,
    )

    emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    centers, assigned = kmeans_fit_assign(emb, k=4, max_iter=2)
    assert len(centers) == 0 and assigned.count() == 0
    assert "cell" in assigned.columns

    books = pq_train(emb, m=8, nbits=4, dim=64)
    assert books.shape == (8, 16, 8) and not np.any(books)

    out = ivf_kmeans_topk(emb, emb, k=5, n_cells=4, max_iter=2)
    assert out.columns == ["query_id", "neighbor_id", "sim_r", "rnk"]
    assert out.count() == 0


def test_scaled_params_law():
    """similarity.scaled_srp_params / scaled_ivf_params — the measured ANN
    scale law (the 100x probe's LSH_SCALED / IVF_SCALED in BENCH_NOTES.md) as an
    API. At the graded corpus size the law lands exactly on the shipped
    registry defaults; at every size the derived (bands, bits) must hold
    the banded recall bound >= 98% at the 0.95 threshold and keep the
    collision term bands/2^bits under the 1x default's."""
    import math

    from hadoop_data_lake_spark.operators.similarity import (
        scaled_ivf_params,
        scaled_srp_params,
    )

    # graded scale (sf0.01 embeddings corpus, n = 500): exactly the
    # registry defaults
    assert scaled_srp_params(500) == (8, 8)
    assert scaled_ivf_params(500) == (8, 2)
    # the measured probe anchors (LSH_SCALED / IVF_SCALED at 10x/100x of
    # the n=500 base): same occupancy regime as the hand-tuned values
    assert scaled_srp_params(5000) == (12, 12)  # hand: (12, 12)
    assert scaled_srp_params(50000) == (18, 15)  # hand: (24, 16)
    assert scaled_ivf_params(5000) == (24, 3)  # hand: (25, 3)
    assert scaled_ivf_params(50000) == (75, 4)  # hand: (80, 4)

    p = 1 - math.acos(0.95) / math.pi
    base_collision = 8 / 2**8
    for n in (100, 6_000, 60_000, 600_000, 6_000_000, 10**9):
        bands, bits = scaled_srp_params(n)
        recall = 1 - (1 - p**bits) ** bands
        assert recall >= 0.98, (n, bands, bits, recall)
        assert bands / 2**bits <= base_collision, (n, bands, bits)
        n_cells, nprobe = scaled_ivf_params(n)
        assert 1 <= nprobe <= n_cells
    # monotone bucket growth: bigger corpora never get fewer bits/cells
    bits_seq = [scaled_srp_params(10**e)[1] for e in range(2, 10)]
    assert bits_seq == sorted(bits_seq)
    cells_seq = [scaled_ivf_params(10**e)[0] for e in range(2, 10)]
    assert cells_seq == sorted(cells_seq)


def test_auto_scale_is_opt_in_and_value_consistent(spark):
    """auto_scale=True must (a) not change the default code path (opt-in),
    (b) produce exactly the pairs the explicit scaled parameters produce,
    and (c) still find planted near-duplicates."""
    import numpy as np
    from hadoop_data_lake_spark.operators.similarity import (
        cosine_near_dup_pairs,
        ivf_kmeans_topk,
        scaled_srp_params,
    )

    rng = np.random.default_rng(7)
    base = rng.standard_normal((40, 64))
    rows = []
    for i, v in enumerate(base):
        v = v / np.linalg.norm(v)
        rows.append((i, [float(x) for x in v]))
        if i < 5:  # plant a near-dup twin (tiny perturbation)
            w = v + 0.01 * rng.standard_normal(64)
            w = w / np.linalg.norm(w)
            rows.append((1000 + i, [float(x) for x in w]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    n = df.count()
    bands, bits = scaled_srp_params(n)
    explicit = {
        (r["id_a"], r["id_b"])
        for r in cosine_near_dup_pairs(
            df, threshold=0.95, num_bands=bands, bits_per_band=bits
        ).collect()
    }
    auto = {
        (r["id_a"], r["id_b"])
        for r in cosine_near_dup_pairs(df, threshold=0.95, auto_scale=True).collect()
    }
    assert auto == explicit
    planted = {(i, 1000 + i) for i in range(5)}
    assert planted <= auto

    out = ivf_kmeans_topk(
        df, df.where("vec_id < 3"), k=2, auto_scale=True
    ).collect()
    assert {r["query_id"] for r in out} == {0, 1, 2}
    assert all(1 <= r["rnk"] <= 2 for r in out)


def test_ivf_scan_budget_knob(spark):
    """scan_budget is the measured multi-probe recall lever: nprobe = ceil(budget * n_cells). At budget 1.0 every cell is
    probed, so IVF must return EXACTLY the brute-force top-k (same scoring
    and tie-break); at a partial budget recall must be monotone in the
    budget on a clustered corpus."""
    import numpy as np
    from hadoop_data_lake_spark.operators.similarity import (
        brute_force_topk,
        ivf_kmeans_topk,
        scaled_ivf_params,
    )

    # parameter arithmetic
    for n in (5_000, 600_000):
        cells, _ = scaled_ivf_params(n)
        assert scaled_ivf_params(n, scan_budget=1.0) == (cells, cells)
        _, p24 = scaled_ivf_params(n, scan_budget=0.24)
        assert 1 <= p24 <= cells and p24 >= 0.24 * cells
    # graded default path unchanged by the knob's existence
    assert scaled_ivf_params(500) == (8, 2)

    # clustered corpus: 8 well-separated centers, 30 points each
    rng = np.random.default_rng(11)
    centers = rng.standard_normal((8, 64)) * 10
    rows = []
    for i in range(240):
        v = centers[i % 8] + 0.1 * rng.standard_normal(64)
        v = v / np.linalg.norm(v)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.where("vec_id < 8")

    truth = {
        (r["query_id"], r["neighbor_id"], r["rnk"])
        for r in brute_force_topk(df, q, k=3).collect()
    }
    full = {
        (r["query_id"], r["neighbor_id"], r["rnk"])
        for r in ivf_kmeans_topk(
            df, q, k=3, auto_scale=True, scan_budget=1.0
        ).collect()
    }
    assert full == truth

    def recall(budget):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in ivf_kmeans_topk(
                df, q, k=3, auto_scale=True, scan_budget=budget
            ).collect()
        }
        return len(got & {(a, b) for a, b, _ in truth}) / len(truth)

    r_small, r_big = recall(0.13), recall(0.5)
    assert r_small <= r_big <= 1.0
    # on a tightly clustered corpus one probed cell already holds the
    # query's whole cluster — even the minimal budget clears 0.9
    assert r_small >= 0.9
