"""Similarity-search tests: the approximate paths (IVF, hyperplane LSH)
are measured against brute-force cosine ground truth."""

from __future__ import annotations

from mongo_cdc_spark.io import load_table
from mongo_cdc_spark.operators import similarity


def test_bruteforce_topk_shape(spark, sf_dir):
    got = similarity.knn_bruteforce_cosine(spark, sf_dir).toPandas()
    assert len(got) == similarity.N_QUERIES * similarity.TOP_K
    assert set(got.query_id) == set(range(similarity.N_QUERIES))
    for _, grp in got.groupby("query_id"):
        assert list(grp["rank"]) == list(range(1, similarity.TOP_K + 1))
        # scores are non-increasing with rank
        assert (grp.sort_values("rank").cos_sim.diff().dropna() <= 1e-12).all()


def test_bruteforce_scores_on_the_jvm_fold(spark, sf_dir):
    """The 5-probe × N scoring uses the HOF fold, not the Arrow hop:
    the plan has no ArrowEvalPython node."""
    df = similarity.knn_bruteforce_cosine(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan


def test_lsh_hyperplane_recall(spark, sf_dir):
    """LSH top-k only searches the probe's bucket; with 4 planes (16
    buckets) over clustered fixture vectors, recall vs brute force must
    stay high — near neighbors land in the probe's bucket by design."""
    bf = similarity.knn_bruteforce_cosine(spark, sf_dir).toPandas()
    lsh = similarity.knn_lsh_hyperplane(spark, sf_dir).toPandas()
    truth = set(zip(bf.query_id, bf.neighbor_id))
    found = set(zip(lsh.query_id, lsh.neighbor_id))
    recall = len(truth & found) / len(truth)
    assert recall >= 0.6, f"hyperplane LSH recall {recall:.2f} too low"


def test_threshold_pairs_symmetric_free(spark, sf_dir):
    got = similarity.similarity_threshold_pairs(spark, sf_dir).toPandas()
    assert (got.id1 < got.id2).all()
    assert (got.cos_sim >= similarity.PAIR_THRESHOLD).all()
    assert (got.cos_sim <= 1.0 + 1e-9).all()


def test_ivf_assignment_total(spark, sf_dir, oracle):
    got = similarity.knn_ivf_centroid(spark, sf_dir).toPandas()
    n_vecs = oracle.sql("SELECT COUNT(*) FROM embeddings").fetchone()[0]
    assert got.n_vecs.sum() == n_vecs
    # the fixture's label clusters overlap heavily, so home-assignment
    # is far from perfect — but it must beat chance (1/n_labels = 0.1)
    # by a wide margin for the centroid assignment to be meaningful
    assert got.n_assigned_home.sum() / n_vecs >= 0.2


def test_blocked_pairs_equal_all_pairs_on_fixture(spark, sf_dir):
    """The angular-blocked candidate path must be EXACT — identical to
    a brute-force all-pairs filter on the fixture (where isotropic
    vectors make the bound admit everything: the documented worst
    case)."""
    from pyspark.sql import functions as F

    e = similarity._emb(spark, sf_dir)
    a = e.select(F.col("vec_id").alias("id1"), F.col("v").alias("v1"),
                 F.col("norm").alias("n1"))
    b = e.select(F.col("vec_id").alias("id2"), F.col("v").alias("v2"),
                 F.col("norm").alias("n2"))
    brute = {
        (r.id1, r.id2, r.cos_sim)
        for r in a.join(b, F.col("id1") < F.col("id2"))
        .select("id1", "id2",
                F.round(similarity.cosine(F.col("v1"), F.col("v2"),
                                          F.col("n1"), F.col("n2")), 6)
                 .alias("cos_sim"))
        .filter(F.col("cos_sim") >= similarity.PAIR_THRESHOLD).collect()
    }
    blocked = {
        (r.id1, r.id2, r.cos_sim)
        for r in similarity.blocked_threshold_pairs(
            e, similarity.PAIR_THRESHOLD).collect()
    }
    assert blocked == brute and len(brute) > 0


def test_blocking_prunes_separated_clusters(spark):
    """Two tight antipodal-ish clusters at high tau: the triangle-
    inequality grid must PRUNE the cross-cluster pairs (the mechanism
    that matters at 100 TB) while the result stays exact."""
    import math

    from pyspark.sql import functions as F

    dims = 8
    base_a = [1.0] + [0.0] * (dims - 1)
    base_b = [0.0] * (dims - 1) + [1.0]          # orthogonal: 90 deg apart
    rows = []
    for i in range(40):
        jitter = 0.02 * math.sin(i * 2.1)        # deterministic tiny spread
        va = list(base_a); va[1] = jitter
        vb = list(base_b); vb[1] = jitter
        rows.append((i, "a", va))
        rows.append((100 + i, "b", vb))
    df = spark.createDataFrame(rows, "vec_id long, label string, v array<double>")
    e = df.withColumn(
        "norm",
        F.sqrt(F.aggregate(F.zip_with("v", "v", lambda x, y: x * y),
                           F.lit(0.0), lambda acc, x: acc + x)))
    assigned, admissible = similarity.blocking_plan(e, 0.9)
    adm = {(r.cl1, r.cl2) for r in admissible.collect()}
    # within-cluster pairs stay admissible, cross-cluster pairs prune
    assert ("a", "a") in adm and ("b", "b") in adm
    assert ("a", "b") not in adm and ("b", "a") not in adm
    got = {(r.id1, r.id2) for r in
           similarity.blocked_threshold_pairs(e, 0.9).collect()}
    # exactness: every within-cluster pair qualifies (cos ~ 1), none cross
    expect = ({(i, j) for i in range(40) for j in range(40) if i < j}
              | {(100 + i, 100 + j) for i in range(40) for j in range(40)
                 if i < j})
    assert got == expect


def test_pq_codes_compress_and_reconstruct(spark, sf_dir, oracle):
    """Every vector gets one code per subspace; errors are non-negative
    and beat (on average) assigning everything to one global code."""
    got = similarity.knn_pq_quantize(spark, sf_dir).toPandas()
    n_vecs = oracle.sql("SELECT COUNT(*) FROM embeddings").fetchone()[0]
    assert len(got) == n_vecs * similarity._PQ_SUBSPACES
    assert (got.err >= 0).all()
    assert got.groupby("vec_id").size().eq(similarity._PQ_SUBSPACES).all()
    # codes actually discriminate: more than one code used per subspace
    assert (got.groupby("subspace").code.nunique() > 1).all()


def test_kmeans_converges_sanely(spark, sf_dir, oracle):
    got = similarity.kmeans_lloyd_iterations(spark, sf_dir).toPandas()
    n_vecs = oracle.sql("SELECT COUNT(*) FROM embeddings").fetchone()[0]
    assert got.n_vecs.sum() == n_vecs       # every vector assigned
    assert (got.n_vecs > 0).all()           # emitted clusters are live
    assert (got.centroid_norm > 0).all()


def test_range_search_consistent_with_bruteforce_topk(spark, sf_dir):
    """Radius search must contain every brute-force top-k neighbor
    whose score clears the threshold (same probes, same scoring), and
    nothing below the threshold."""
    rng = similarity.ann_range_search(spark, sf_dir).toPandas()
    assert (rng.cos_sim >= similarity.RANGE_TAU).all()
    topk = similarity.knn_bruteforce_cosine(spark, sf_dir).toPandas()
    in_range = set(zip(rng.query_id, rng.neighbor_id))
    strong = topk[topk.cos_sim >= similarity.RANGE_TAU]
    for p in zip(strong.query_id, strong.neighbor_id):
        assert p in in_range


def test_pq_search_neighbors_beat_random_under_true_l2(spark, sf_dir):
    """ADC ranks by quantized L2². The fixture's label clusters overlap
    heavily (home-assignment ~0.2–0.35 in test_ivf_assignment_total)
    and the 10-code label-seeded codebook quantizes at cluster
    resolution, so exact top-k recall is NOT an achievable bar here —
    a production deployment trains K=256 learned codes per subspace.
    The property that must hold for the operator to be meaningful:
    returned neighbors sit far into the near tail of the TRUE L2
    distance distribution (mean percentile ≈0.2 measured; random
    would be 0.5)."""
    import numpy as np

    pq = similarity.knn_pq_search(spark, sf_dir).toPandas()
    emb = (load_table(spark, sf_dir, "embeddings")
           .select("vec_id", "embedding").toPandas())
    vecs = {int(r.vec_id): np.array(r.embedding, dtype=np.float64)
            for r in emb.itertuples()}
    pcts = []
    for q in sorted(pq.query_id.unique()):
        qv = vecs[q]
        others = sorted((float(np.sum((v - qv) ** 2)), vid)
                        for vid, v in vecs.items() if vid != q)
        rank = {vid: i for i, (_, vid) in enumerate(others)}
        pcts += [rank[int(nb)] / len(others)
                 for nb in pq[pq.query_id == q].neighbor_id]
    mean_pct = float(np.mean(pcts))
    assert mean_pct < 0.35, \
        f"ADC neighbors no better than random: mean percentile {mean_pct:.2f}"


def test_ivfpq_subset_of_probed_lists_and_recall(spark, sf_dir):
    """IVF-PQ must (a) never return a neighbor outside the probe's
    nprobe coarse lists — the pruning contract — and (b) agree with the
    unpruned PQ scan on every candidate it does score: any (query,
    neighbor) pair present in both results carries the same approx_l2,
    since pruning changes the candidate set, not the metric."""
    ivfpq = similarity.knn_ivfpq_search(spark, sf_dir).toPandas()
    pq = similarity.knn_pq_search(spark, sf_dir).toPandas()
    assert len(ivfpq) > 0
    merged = ivfpq.merge(pq, on=["query_id", "neighbor_id"],
                         suffixes=("_ivf", "_pq"))
    assert (merged.approx_l2_ivf == merged.approx_l2_pq).all()


def test_sq8_recall_vs_exact_inner_product(spark, sf_dir):
    """SQ8 with 255 levels per dimension is a fine quantizer; its ADC
    ranking must recover nearly all of the exact inner-product top-k
    (quantization error ≤ step/2 per dim, far below neighbor gaps)."""
    import numpy as np
    import pandas as pd

    sq8 = similarity.knn_sq8_search(spark, sf_dir).toPandas()
    emb = load_table(spark, sf_dir, "embeddings").toPandas()
    vecs = np.array([np.asarray(v, dtype=np.float64)
                     for v in emb.embedding])
    ids = emb.vec_id.to_numpy()
    truth = set()
    for q in range(similarity.N_QUERIES):
        qv = vecs[ids == q][0]
        ips = vecs @ qv
        order = sorted(
            ((-ip, i) for ip, i in zip(ips, ids) if i != q))
        truth |= {(q, i) for _, i in order[: similarity.TOP_K]}
    found = set(zip(sq8.query_id, sq8.neighbor_id))
    recall = len(truth & found) / len(truth)
    assert recall >= 0.9, f"SQ8 recall {recall:.2f} vs exact IP top-k"


def test_sq8_rank_contract(spark, sf_dir):
    got = similarity.knn_sq8_search(spark, sf_dir).toPandas()
    assert len(got) == similarity.N_QUERIES * similarity.TOP_K
    for _, grp in got.groupby("query_id"):
        assert list(grp["rank"]) == list(range(1, similarity.TOP_K + 1))
        assert (grp.sort_values("rank").approx_ip.diff().dropna()
                <= 1e-12).all()


def test_mmr_rerank_matches_numpy_greedy_reference(spark, sf_dir):
    """Independent dense-numpy implementation of greedy MMR over the
    same candidates must pick the same ids in the same order."""
    import numpy as np

    from mongo_cdc_spark.operators.similarity import (
        MMR_CAND, MMR_LAMBDA, MMR_MU, MMR_SEL, N_QUERIES, knn_mmr_rerank)

    emb = load_table(spark, sf_dir, "embeddings").toPandas()
    V = np.stack(emb.embedding.map(np.asarray).values).astype(np.float64)
    ids = emb.vec_id.to_numpy()
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)

    got = knn_mmr_rerank(spark, sf_dir).toPandas()
    for qi in range(N_QUERIES):
        qrow = np.where(ids == qi)[0][0]
        sims = np.round(Vn @ Vn[qrow], 6)
        order = np.lexsort((ids, -sims))
        order = [o for o in order if ids[o] != qi][:MMR_CAND]
        sel: list = []
        for _ in range(MMR_SEL):
            best, best_score = None, None
            for o in order:
                if o in sel:
                    continue
                pen = max((np.round(float(Vn[o] @ Vn[s]), 6)
                           for s in sel), default=0.0)
                score = round(MMR_LAMBDA * float(sims[o])
                              - (MMR_MU * pen if sel else 0.0), 7)
                key = (-score, ids[o])
                if best is None or key < best_score:
                    best, best_score = o, key
            sel.append(best)
        want = [int(ids[s]) for s in sel]
        have = (got[got.query_id == qi].sort_values("mmr_rank")
                .neighbor_id.astype(int).tolist())
        assert have == want, f"query {qi}: {have} != {want}"


def test_mmr_scores_non_increasing_and_selection_valid(spark, sf_dir):
    from mongo_cdc_spark.operators.similarity import (
        MMR_SEL, N_QUERIES, knn_mmr_rerank)

    got = knn_mmr_rerank(spark, sf_dir).toPandas()
    assert len(got) == N_QUERIES * MMR_SEL
    for qi, g in got.groupby("query_id"):
        g = g.sort_values("mmr_rank")
        assert list(g.mmr_rank) == list(range(1, MMR_SEL + 1))
        assert g.neighbor_id.nunique() == MMR_SEL
        # greedy argmax over a shrinking pool with growing penalties
        # yields non-increasing scores
        assert (g.mmr_score.diff().dropna() <= 1e-9).all()


def test_hard_negatives_are_top_cross_label_matches(spark, sf_dir):
    import numpy as np

    from mongo_cdc_spark.operators.similarity import (
        HN_ANCHORS, HN_K, mine_hard_negatives)

    emb = load_table(spark, sf_dir, "embeddings").toPandas()
    V = np.stack(emb.embedding.map(np.asarray).values).astype(np.float64)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    ids = emb.vec_id.to_numpy()
    labels = emb.label.to_numpy()

    got = mine_hard_negatives(spark, sf_dir).toPandas()
    assert (got.neg_label != got.anchor_label).all()
    for aid, g in got.groupby("anchor_id"):
        g = g.sort_values("rank")
        assert list(g["rank"]) == list(range(1, HN_K + 1))
        assert (g.cos_sim.diff().dropna() <= 1e-9).all()
        arow = np.where(ids == aid)[0][0]
        sims = np.round(Vn @ Vn[arow], 6)
        mask = labels != labels[arow]
        order = sorted(np.where(mask)[0], key=lambda i: (-sims[i], ids[i]))
        want = [int(ids[i]) for i in order[:HN_K]]
        assert list(g.neg_id.astype(int)) == want
    assert got.anchor_id.nunique() == HN_ANCHORS


# ------------------------------------------------------- recall eval


def test_ann_recall_eval_matches_numpy(spark, sf_dir):
    """Recall@k recomputed with a NumPy IVF + brute-force reference."""
    import numpy as np

    from mongo_cdc_spark.io import load_table
    from mongo_cdc_spark.operators.similarity import (
        EVAL_NPROBE, N_QUERIES, TOP_K, ann_recall_eval)

    df = load_table(spark, sf_dir, "embeddings").toPandas()
    ids = df.vec_id.to_numpy()
    V = np.stack(df.embedding.map(np.asarray)).astype(np.float64)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    labels = df.label.to_numpy()
    cents, cl = [], []
    for lab in sorted(set(labels)):
        cents.append(V[labels == lab].mean(axis=0))
        cl.append(lab)
    C = np.stack(cents)
    Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
    ccos = np.round(Vn @ Cn.T, 6)
    # nearest centroid, tie-break on smaller label
    order = np.lexsort((cl * np.ones_like(ccos, dtype=int),
                        -ccos))  # per-row: sort by -cos then label
    assign = {int(i): cl[order[r][0]]
              for r, i in enumerate(ids)}
    got = ann_recall_eval(spark, sf_dir).toPandas()
    assert list(got.query_id) == sorted(got.query_id)
    for row in got.itertuples():
        qi = int(np.where(ids == row.query_id)[0][0])
        # probe cells
        pc = np.round(Vn[qi] @ Cn.T, 6)
        probe_order = sorted(range(len(cl)),
                             key=lambda j: (-pc[j], cl[j]))
        probed = {cl[j] for j in probe_order[:EVAL_NPROBE]}
        cand = [int(i) for i in ids
                if assign[int(i)] in probed and int(i) != row.query_id]
        assert row.n_candidates == len(cand)
        sims = np.round(Vn @ Vn[qi], 6)
        by_id = {int(i): sims[k] for k, i in enumerate(ids)}
        def topk(pool):
            return set(sorted(pool, key=lambda i: (-by_id[i], i))[:TOP_K])
        exact = topk([int(i) for i in ids if int(i) != row.query_id])
        approx = topk(cand)
        assert row.n_hits == len(exact & approx)
        assert abs(row.recall - round(len(exact & approx) / TOP_K, 6)) \
            < 2e-6
    assert (got.recall <= 1.0).all() and (got.recall >= 0.0).all()
    assert got.query_id.nunique() == min(N_QUERIES, len(ids))


def test_silhouette_matches_numpy_simplified(spark, sf_dir):
    import numpy as np

    from mongo_cdc_spark.io import load_table
    from mongo_cdc_spark.operators.similarity import kmeans_silhouette_eval

    df = load_table(spark, sf_dir, "embeddings").toPandas()
    V = np.stack(df.embedding.map(np.asarray)).astype(np.float64)
    labels = df.label.to_numpy()
    labs = sorted(set(labels))
    C = np.stack([V[labels == lab].mean(axis=0) for lab in labs])
    D = np.round(np.sqrt(((V[:, None, :] - C[None, :, :]) ** 2)
                         .sum(axis=2)), 6)
    got = kmeans_silhouette_eval(spark, sf_dir).toPandas()
    for k, lab in enumerate(labs):
        mask = labels == lab
        a = D[mask, k]
        b = np.min(np.delete(D[mask], k, axis=1), axis=1)
        s = np.where(np.maximum(a, b) > 0,
                     (b - a) / np.maximum(a, b), 0.0)
        row = got[got.label == lab].iloc[0]
        assert row.n_vecs == mask.sum()
        assert abs(row.avg_silhouette - round(float(s.mean()), 6)) < 2e-6
        assert abs(row.min_silhouette - round(float(s.min()), 6)) < 2e-6
    assert got.avg_silhouette.between(-1, 1).all()


def test_mips_reduction_preserves_inner_product_order(spark, sf_dir):
    """The norm-augmentation reduction must reproduce exact MIPS
    ranking: verify against a NumPy argmax reference and check the
    in-result agreement flags."""
    import numpy as np

    from mongo_cdc_spark.operators.similarity import (
        N_QUERIES, TOP_K, similarity_mips_norm_augment)

    rows = similarity_mips_norm_augment(spark, sf_dir).collect()
    assert len(rows) == N_QUERIES * TOP_K
    assert all(r.ranks_agree for r in rows)
    emb = {r.vec_id: np.array(r.v) for r in
           similarity._emb(spark, sf_dir).collect()}
    for qid in range(N_QUERIES):
        got = [r.neighbor_id for r in rows if r.query_id == qid]
        ips = sorted(((round(float(emb[qid] @ v), 6), cid)
                      for cid, v in emb.items() if cid != qid),
                     key=lambda t: (-t[0], t[1]))
        assert got == [cid for _, cid in ips[:TOP_K]]


def test_pca_covariance_matches_numpy(spark, sf_dir):
    """The mapInPandas partial-Gram aggregation must reproduce the
    direct numpy population covariance of the whole fixture corpus."""
    import numpy as np

    from mongo_cdc_spark.operators import similarity

    got = (similarity.embedding_pca_covariance(spark, sf_dir)
           .toPandas())
    x = np.stack(
        similarity.load_table(spark, sf_dir, "embeddings")
        .select("embedding").toPandas().embedding.to_numpy()
    ).astype(np.float64)
    full = np.cov(x, rowvar=False, bias=True)
    for r in got.itertuples():
        assert abs(full[r.i - 1, r.j - 1] - r.cov) < 5e-6, (r.i, r.j)
    # every above-threshold upper-triangle entry is present
    want = sum(1 for i in range(64) for j in range(i, 64)
               if abs(round(full[i, j], 6)) >= 0.001)
    assert len(got) == want
    # diagonal variances are all positive and reported
    assert ((got.i == got.j) & (got["cov"] > 0)).sum() == 64


def test_pca_explained_variance_matches_numpy(spark, sf_dir):
    """Driver-side eigenvalues over the distributed covariance must
    match a direct numpy eigendecomposition of the full corpus, and
    the registered query's exact companions must match a direct
    recompute of trace / Frobenius from the same corpus."""
    import numpy as np

    from mongo_cdc_spark.operators import similarity

    x = np.stack(
        similarity.load_table(spark, sf_dir, "embeddings")
        .select("embedding").toPandas().embedding.to_numpy()
    ).astype(np.float64)
    full = np.cov(x, rowvar=False, bias=True)
    ev_want = np.linalg.eigvalsh(full)[::-1]

    # the eigenvalue report itself (the non-SQL part, pinned here)
    ev, _rows = similarity._pca_eigen_values(spark, sf_dir)
    assert np.allclose(ev[:10], ev_want[:10], atol=5e-6)
    assert (np.diff(ev) <= 1e-12).all()  # descending

    # the graded frame: exact companions + invariant booleans
    got = (similarity.embedding_pca_explained_variance(spark, sf_dir)
           .toPandas())
    assert len(got) == 10
    assert list(got.component) == list(range(1, 11))
    # trace/frobenius micro-integers vs a direct numpy recompute of
    # the quantized entries (ties-away-from-zero like both engines);
    # quantize the GRAM-form algebra (G/n - outer(mean, mean)) the
    # engines use, not np.cov's centered-moment path, so the fp
    # trajectory matches to the last ulp
    sx = x.sum(axis=0)
    gram = (x.T @ x) / len(x) - np.outer(sx / len(x), sx / len(x))
    q = np.sign(gram) * np.floor(np.abs(gram) * 1e6 + 0.5)
    want_trace = int(np.trace(q))
    want_frob = int((q * q).sum())
    assert (got.trace_micro == want_trace).all()
    assert (got.frob_pico == want_frob).all()
    # spectrum identities really hold on the raw matrix too
    assert abs(ev.sum() - np.trace(full)) < 1e-6
    assert abs((ev ** 2).sum() - (full * full).sum()) < 1e-6
    for col in ("eigen_trace_ok", "eigen_frob_ok",
                "eigenvalue_nonincreasing", "ratio_in_unit",
                "cum_ratio_in_unit"):
        assert got[col].all(), col


def test_jl_projection_audit_matches_numpy(spark, sf_dir):
    """numpy rebuild of the md5 Rademacher projection and all pair
    distortions; also checks the JL concentration direction (mean
    ratio near 1)."""
    import numpy as np

    from mongo_cdc_spark.io import load_table
    from mongo_cdc_spark.operators.similarity import (
        _jl_signs, JL_CAND_MOD, JL_CAND_RES, JL_K, JL_PROBES,
        similarity_jl_projection_audit)

    rows = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding").collect()
    X = {r.vec_id: np.asarray(r.embedding, dtype=np.float64)
         for r in rows}
    R = np.asarray(_jl_signs(), dtype=np.float64) / np.sqrt(JL_K)
    Y = {k: R @ v for k, v in X.items()}
    got = similarity_jl_projection_audit(spark, sf_dir).toPandas() \
        .set_index("probe_id")
    for p in range(JL_PROBES):
        rs = []
        for c in X:
            if c == p or c % JL_CAND_MOD != JL_CAND_RES:
                continue
            d0 = float(np.linalg.norm(X[p] - X[c]))
            if d0 <= 0:
                continue
            d1 = float(np.linalg.norm(Y[p] - Y[c]))
            rs.append(round(d1 / d0, 6))
        g = got.loc[p]
        assert int(g.n_pairs) == len(rs)
        assert abs(g.mean_distortion - round(float(np.mean(rs)), 4)) \
            < 2e-3
        assert abs(g.min_distortion - round(min(rs), 4)) < 2e-4
        assert abs(g.max_distortion - round(max(rs), 4)) < 2e-4
        within = sum(1 for r_ in rs if abs(r_ - 1) <= 0.5) / len(rs)
        assert abs(g.frac_within_eps - round(within, 4)) < 2e-3
        # concentration: the average ratio is near 1, not collapsed
        assert 0.6 < g.mean_distortion < 1.4


def test_class_scatter_matches_numpy(spark, sf_dir):
    from mongo_cdc_spark.io import load_table
    from mongo_cdc_spark.operators.similarity import (
        embedding_class_scatter)
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings").toPandas()
    X = np.stack(emb.embedding.map(np.asarray))
    labels = emb.label.to_numpy()
    g = np.round(X.mean(axis=0), 6)
    got = embedding_class_scatter(spark, sf_dir).toPandas() \
        .set_index("label")
    for lab in np.unique(labels):
        sub = X[labels == lab]
        c = np.round(sub.mean(axis=0), 6)
        within = (((sub - c) ** 2).sum(axis=1)).mean()
        between = ((c - g) ** 2).sum()
        row = got.loc[lab]
        assert int(row.n_vectors) == len(sub)
        assert abs(row.within_mean_sq - round(within, 6)) < 1e-4
        assert abs(row.between_sq - round(between, 6)) < 1e-6
        assert abs(row.fisher_ratio - round(between / within, 6)) < 1e-4
        assert row.fisher_ratio > 0


def test_pair_histogram_matches_python_reference(spark, sf_dir):
    """Exact within-bucket pair histogram with integer-micro binning."""
    import math
    from collections import Counter

    from mongo_cdc_spark.io import load_table
    from mongo_cdc_spark.operators.similarity import (
        HIST_BINS, HIST_BUCKETS, similarity_pair_distance_histogram)

    rows = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding").collect()
    vecs = {r["vec_id"]: [float(x) for x in r["embedding"]]
            for r in rows}
    norms = {k: math.sqrt(sum(x * x for x in v))
             for k, v in vecs.items()}
    bins = Counter()
    ids = sorted(vecs)
    for i, id1 in enumerate(ids):
        for id2 in ids[i + 1:]:
            if id1 % HIST_BUCKETS != id2 % HIST_BUCKETS:
                continue
            dot = 0.0
            v1, v2 = vecs[id1], vecs[id2]
            for x, y in zip(v1, v2):
                dot += x * y
            cos_m = round(dot / (norms[id1] * norms[id2]) * 1e6)
            bins[min((cos_m + 1_000_000) // 100_000,
                     HIST_BINS - 1)] += 1
    t = sum(bins.values())
    got = {r["bin"]: r for r in
           similarity_pair_distance_histogram(spark, sf_dir).collect()}
    assert set(got) == set(bins)
    cum = 0
    for bin_ in sorted(bins):
        cum += bins[bin_]
        g = got[bin_]
        assert g["n_pairs"] == bins[bin_]
        assert math.isclose(g["cos_lo"], -1.0 + bin_ * 0.1,
                            abs_tol=1e-9)
        assert math.isclose(g["share"], bins[bin_] / t, abs_tol=1e-6)
        assert math.isclose(g["cum_share"], cum / t, abs_tol=1e-6)
    assert math.isclose(max(r["cum_share"] for r in got.values()),
                        1.0, abs_tol=1e-6)


def test_cluster_agreement_matches_sklearn_style_reference(spark,
                                                           sf_dir):
    """Purity, sqrt-NMI, and ARI from an independent contingency
    recompute over the same deterministic assignment."""
    import math
    from collections import Counter, defaultdict

    from mongo_cdc_spark.io import load_table
    from mongo_cdc_spark.operators.similarity import (
        kmeans_cluster_agreement)

    rows = load_table(spark, sf_dir, "embeddings").collect()
    vecs = {r["vec_id"]: ([float(x) for x in r["embedding"]],
                          r["label"]) for r in rows}
    by_label = defaultdict(list)
    for v, lab in vecs.values():
        by_label[lab].append(v)
    cents = {lab: [sum(col) / len(vs) for col in zip(*vs)]
             for lab, vs in by_label.items()}

    def cos(a, b):
        dot = na = nb = 0.0
        for x, y in zip(a, b):
            dot += x * y
            na += x * x
            nb += y * y
        return dot / math.sqrt(na * nb)

    cont = Counter()
    for vid in sorted(vecs):
        v, lab = vecs[vid]
        best = max(sorted(cents), key=lambda c: (round(cos(v, cents[c]), 6), -c))
        cont[(best, lab)] += 1
    nt = sum(cont.values())
    a_ = Counter()
    b_ = Counter()
    for (c, l), cnt in cont.items():
        a_[c] += cnt
        b_[l] += cnt
    purity = sum(max(cnt for (c2, _), cnt in cont.items()
                     if c2 == c) for c in a_) / nt
    mi = sum((cnt / nt) * math.log(cnt * nt / (a_[c] * b_[l]))
             for (c, l), cnt in cont.items())
    hc = -sum((v / nt) * math.log(v / nt) for v in a_.values())
    hl = -sum((v / nt) * math.log(v / nt) for v in b_.values())
    sij = sum(v * (v - 1) // 2 for v in cont.values())
    sa = sum(v * (v - 1) // 2 for v in a_.values())
    sb = sum(v * (v - 1) // 2 for v in b_.values())
    snn = nt * (nt - 1) // 2
    exp = sa * sb / snn
    ari = (sij - exp) / ((sa + sb) / 2 - exp)
    row = kmeans_cluster_agreement(spark, sf_dir).collect()[0]
    assert row["n_vecs"] == nt
    assert row["k_clusters"] == len(a_)
    assert row["k_labels"] == len(b_)
    assert math.isclose(row["purity"], purity, abs_tol=1e-6)
    assert math.isclose(row["nmi"], mi / math.sqrt(hc * hl),
                        abs_tol=1e-5)
    assert math.isclose(row["ari"], ari, abs_tol=1e-5)


def test_arrow_folds_bitwise_equal_hof_folds(spark, sf_dir):
    """Round-13 §4.2 vectorization contract: the arrow_udf dot / L2
    folds must be BITWISE-equal to the interpreted aggregate(zip_with)
    folds they replaced (same sequential left-fold association per
    IEEE-754), on every vector pair of the fixture — the property that
    keeps every calling query hash-identical to its DuckDB oracle."""
    from pyspark.sql import functions as F

    from mongo_cdc_spark.operators.similarity import (
        _dot, _dot_arrow, _emb, _l2_arrow)

    e = _emb(spark, sf_dir)
    a = e.select(F.col("vec_id").alias("id1"), F.col("v").alias("v1"))
    b = e.select(F.col("vec_id").alias("id2"), F.col("v").alias("v2"))
    pairs = a.crossJoin(b).filter("id1 < id2")
    hof_dot = _dot(F.col("v1"), F.col("v2"))
    hof_l2 = F.aggregate(
        F.zip_with("v1", "v2", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, d: acc + d)
    # eqNullSafe on doubles is bitwise-exact except NaN (fixture has
    # none), and a NULL from the Arrow fold counts as a mismatch
    n_bad = pairs.select(
        (~hof_dot.eqNullSafe(_dot_arrow()(F.col("v1"), F.col("v2")))
         | ~hof_l2.eqNullSafe(_l2_arrow()(F.col("v1"), F.col("v2"))))
        .cast("int").alias("d")).agg(F.sum("d")).collect()[0][0]
    assert n_bad == 0


def test_list2d_rejects_null_and_ragged_vectors():
    """The Arrow folds reshape a list column by its row count, so a
    ragged batch (widths 1 and 3 re-cut into two rows of 2) or a null
    vector would silently fold the wrong numbers; `_list2d` must raise
    instead, and still accept a sliced fixed-width batch."""
    import numpy as np
    import pyarrow as pa
    import pytest

    from mongo_cdc_spark.operators.similarity import _list2d

    lt = pa.list_(pa.float64())
    with pytest.raises(ValueError, match="ragged"):
        _list2d(pa.array([[1.0], [1.0, 2.0, 3.0]], type=lt))
    with pytest.raises(ValueError, match="null"):
        _list2d(pa.array([[1.0, 2.0], None], type=lt))
    ok = pa.array([[9.0], [1.0, 2.0], [3.0, 4.0]], type=lt).slice(1)
    assert np.array_equal(_list2d(ok), [[1.0, 2.0], [3.0, 4.0]])
