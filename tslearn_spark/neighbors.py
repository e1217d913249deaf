"""kNN over elastic metrics — the top-k-per-group layer.

Reference: tslearn/neighbors/neighbors.py:19-717.

Spark-first: the reference materializes the full query×train distance
matrix then argpartitions (neighbors.py:145-161).  We never materialize
it — the metric join streams into a per-query top-k:

    crossJoin(queries, broadcast(train)) -> metric UDF
      -> row_number() OVER (PARTITION BY query ORDER BY dist, id) <= k
      -> vote/avg aggregate

Ties break by train id for determinism.  The train side is broadcast
(it is the small side in the common serve pattern); for train sets too
big to broadcast the same plan runs as a shuffle join and AQE picks the
strategy.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from tslearn_spark import metrics as M
from tslearn_spark.bases import (BaseModelPackage, ClassifierScoreMixin,
                                 RegressorScoreMixin, TimeSeriesBaseEstimator)
from tslearn_spark.topk import topk_matrix_tiebreak, topk_rows_tiebreak

# query sets up to ~this many float64s (~64 MB) ride the broadcast-matmul
# fast path for euclidean; beyond it (or for elastic metrics) the generic
# pair join runs.  A values budget, not a row count: 200k rows of sz*d=1024
# would be a ~1.6 GB driver collect under a row gate.
_EUCLIDEAN_BROADCAST_LIMIT_VALUES = 8_000_000


def _euclidean_topk(queries: DataFrame, train: DataFrame, k: int,
                    drop_self: bool) -> DataFrame:
    """Equal-length euclidean kNN via broadcast queries + per-partition
    BLAS matmul and map-side partial top-k (the simsearch pattern).

    Shuffle volume is O(n_queries x k x n_partitions); the train side is
    streamed, never collected.
    """
    q_pdf = queries.select("series_id", "values").toPandas()
    q_ids = q_pdf["series_id"].to_numpy(dtype=np.int64)
    Q = np.array([
        np.asarray([np.asarray(x, dtype=np.float64) for x in v]).ravel()
        for v in q_pdf["values"]
    ])
    spark = train.sparkSession
    bc = spark.sparkContext.broadcast((q_ids, Q))

    def gen(batches):
        from tslearn_spark.blasctl import limit_blas_threads

        limit_blas_threads(1)  # task-parallel workers: 1 BLAS thread each
        ids_b, Qm = bc.value
        q_sq = np.einsum("ij,ij->i", Qm, Qm)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            C = np.array([
                np.asarray([np.asarray(r, dtype=np.float64) for r in v]).ravel()
                for v in pdf["values"]
            ])
            cid = pdf["series_id"].to_numpy(dtype=np.int64)
            c_sq = np.einsum("ij,ij->i", C, C)
            d2 = c_sq[:, None] + q_sq[None, :] - 2.0 * (C @ Qm.T)
            np.maximum(d2, 0.0, out=d2)
            if drop_self:
                d2 = np.where(cid[:, None] == ids_b[None, :], np.inf, d2)
            kk = min(k, d2.shape[0])
            # Exact re-rank near the top-k boundary.  The dot-product
            # identity cancels catastrophically on near-duplicate pairs
            # (a true d2 of 0 reads as ~1e-11, i.e. dist 4e-6 — the sf1
            # board's duplicated series caught exactly this), and that
            # noise also scrambles the (dist, id) tie order among exact
            # duplicates.  Every pair within an FP-error bound of the
            # k-th smallest identity-d2 is recomputed with the direct
            # difference association — selection keeps the GEMM speed,
            # the reported distances and tie ranking become exact.
            eps_b = 128.0 * np.finfo(np.float64).eps * (
                q_sq + (float(c_sq.max()) if c_sq.size else 0.0))
            kth = np.partition(d2, kk - 1, axis=0)[kk - 1, :]
            near = (d2 <= (kth + eps_b)[None, :]) & np.isfinite(d2)
            rows, colsq = np.nonzero(near)
            if rows.size:
                diff = C[rows] - Qm[colsq]
                d2[rows, colsq] = np.einsum("ij,ij->i", diff, diff)
            # tie-aware partial top-k (tslearn_spark.topk): duplicate
            # train series tie exactly; the cutoff ties must resolve by
            # smallest id or the final (dist, id2) window loses rows
            sel = topk_matrix_tiebreak(d2, cid, kk)
            cols = np.arange(d2.shape[1])[None, :]
            yield pd.DataFrame({
                "id1": np.repeat(ids_b, kk),
                "id2": cid[sel].T.ravel(),
                "dist": np.sqrt(d2[sel, cols]).T.ravel(),
            })

    partial = train.mapInPandas(gen, "id1 long, id2 long, dist double").where(
        F.col("dist") < float("inf")
    )
    w = Window.partitionBy("id1").orderBy(F.col("dist").asc(), F.col("id2").asc())
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("id1", "id2", "dist", "rank")
    )


def _dtw_knn_pruned(
    queries: DataFrame,
    train: DataFrame,
    k: int,
    env_radius: int,
    drop_self: bool,
    params: dict,
) -> DataFrame:
    """Exact DTW kNN with an LB_Keogh pruning cascade.

    The bound is the engine's optimizer rule (dtw_variants.py:1224-1368):

    1. train-side envelopes — one JVM array expression per train row;
    2. LB_Keogh for every pair — codegen, no Python;
    3. rank candidates per query by LB; DTW only the k best-LB seeds;
    4. tau(query) = max seed DTW >= true k-th-best distance, so any
       candidate with LB > tau has DTW >= LB > tau and can never enter
       the top-k — filter it JVM-side before the kernel UDF;
    5. DTW the survivors, union with seeds, final top-k.

    Exactness: LB_Keogh with envelope radius r lower-bounds band-r DTW
    on equal lengths; on unequal lengths the band itself widens to
    |la - lb| + r, so the CALLER passes env_radius = r + max length
    difference across the dataset (kneighbors does this), or full width
    for unconstrained DTW, where the envelope degenerates to the global
    min/max and the bound holds for any monotone alignment.  The LB cascade typically
    kills 80-95%% of kernel calls — at 100x data that is the difference
    between quadratic DTW work and quadratic *expression* work.
    """
    lo, up = M.envelope_cols("values", env_radius)
    cand = train.select(
        F.col("series_id").alias("id2"),
        lo.alias("_lo"),
        up.alias("_up"),
    )
    q_named = queries.select(
        F.col("series_id").alias("id1"), F.col("values").alias("values1")
    )
    t_named = train.select(
        F.col("series_id").alias("id2"), F.col("values").alias("values2")
    )
    pairs = M._spread(q_named).crossJoin(F.broadcast(cand))
    if drop_self:
        pairs = pairs.where(F.col("id1") != F.col("id2"))
    # (id1, id2, _lb) only — the series payloads stay out of the shuffle
    lb = pairs.withColumn(
        "_lb", M.lb_keogh_col("values1", "_lo", "_up")
    ).select("id1", "id2", "_lb")
    # reused by the seed branch AND the survivor branch — materialize the
    # small triple table once instead of recomputing the cross-LB twice
    lb = lb.localCheckpoint()
    w_lb = Window.partitionBy("id1").orderBy(F.col("_lb").asc(), F.col("id2").asc())
    ranked = lb.withColumn("_lbr", F.row_number().over(w_lb))

    udf = M.pair_metric_udf("dtw", **params)

    def score(cands: DataFrame) -> DataFrame:
        with_vals = cands.join(q_named, "id1").join(F.broadcast(t_named), "id2")
        # kernel stage is compute-bound: AQE would coalesce these few small
        # rows to 1-2 partitions and serialize the DTW UDF — spread them
        with_vals = M._pair_sort(M._spread(with_vals))
        # this path is univariate-only (gated in kneighbors): flat arrays
        return with_vals.withColumn(
            "dist", udf(F.flatten("values1"), F.flatten("values2"))
        ).select("id1", "id2", "dist")

    seeds = score(ranked.where(F.col("_lbr") <= k)).localCheckpoint()
    tau = seeds.groupBy("id1").agg(F.max("dist").alias("_tau"))
    survivors = (
        ranked.where(F.col("_lbr") > k)
        .join(tau, "id1")
        .where(F.col("_lb") <= F.col("_tau"))
        .select("id1", "id2")
    )
    scored = seeds.unionByName(score(survivors))
    w = Window.partitionBy("id1").orderBy(F.col("dist").asc(), F.col("id2").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("id1", "id2", "dist", "rank")
    )


# full-width envelope radius: makes LB_Keogh valid for unconstrained DTW
# (the envelope degenerates to per-candidate global min/max)
_FULL_ENVELOPE = 1 << 20

# train sets up to ~this many float64s ride the broadcast DTW fast path;
# bigger train sides fall back to the generic pair join
_DTW_BROADCAST_LIMIT_VALUES = 8_000_000  # ~64 MB


def _dtw_topk_broadcast(queries: DataFrame, train: DataFrame, k: int,
                        radius, drop_self: bool, params: dict) -> DataFrame:
    """DTW kNN via broadcast train + per-partition batched DP.

    The pair-join plan ships every train series once PER QUERY through
    Arrow (n_q x n_t nested rows — the dominant stage cost, not the
    kernel).  Here the train set is flattened once on the driver (one
    length-sorted ``ckernel.SeriesSet``) and broadcast once per executor,
    each query partition runs the batched DP against ALL train series by
    pair index, and only the per-partition top-k candidate rows
    (id1, id2, dist) are emitted — Arrow traffic drops from O(n_q*n_t)
    series payloads to O(n_q) + O(n_q*k) scalars, the same shape as the
    euclidean BLAS path.  Exact: every pair is still evaluated.
    """
    from tslearn_spark import kernels as K
    from tslearn_spark.ckernel import flatten

    # Arrow transfer (toPandas), not collect(): Row objects wrap nested
    # lists in per-element Python objects — ~5-10x the heap of the raw
    # doubles, which matters near _DTW_BROADCAST_LIMIT_VALUES
    t_pdf = train.select("series_id", "values").toPandas()
    t_arrs = [
        np.asarray([np.asarray(x, dtype=np.float64) for x in v])
        for v in t_pdf["values"]
    ]
    n_t = len(t_arrs)
    lens_t_drv = np.fromiter((t.shape[0] for t in t_arrs), dtype=np.int64,
                             count=n_t)
    # one flat, length-sorted train set: each task pairs a query with
    # every train series by index (no per-pair copies), and consecutive
    # pairs of one query have alike lengths, which the kernel's lane
    # groups need (ckernel.dtw_index)
    by_len = np.argsort(lens_t_drv, kind="stable")
    t_ids = t_pdf["series_id"].to_numpy(dtype=np.int64)[by_len]
    t_set = flatten([t_arrs[j] for j in by_len])
    del t_arrs
    spark = queries.sparkSession
    bc = spark.sparkContext.broadcast((t_ids, t_set))
    chunk_q = max(1, 65536 // max(n_t, 1))  # ~64k pairs per kernel call

    # seed-and-cap pays only where the DP lanes are expensive: the per-row
    # interpreter cost of the batched kernel is fixed, so abandoning lanes
    # saves time only when (band width x series length) dominates it.
    # Measured on local[32]: events-like sz~67 W~16 -> capped is a net LOSS
    # despite 44% abandonment; sz=128 W=11 -> breakeven; sz=512 W~101 ->
    # 1.9x win at 87% abandonment.  Threshold below separates those regimes.
    med_t = float(np.median(lens_t_drv)) if n_t else 0.0
    # the actual band width of an (la, lb) pair is |la - lb| + 2r + 1, so
    # on mixed-length corpora a bare 2r+1 estimate undercounts and the
    # seed-and-cap path under-triggers.  Estimate the typical |la - lb|
    # with the Gini mean difference of the train lengths (O(n log n) via
    # the sorted-array identity) — queries are assumed length-distributed
    # like the train side.  Both paths are exact; this only picks which.
    if n_t > 1:
        ls = np.sort(lens_t_drv).astype(np.float64)
        idx = np.arange(n_t, dtype=np.float64)
        mean_len_diff = float(np.sum((2 * idx - n_t + 1) * ls)
                              * 2.0 / (n_t * (n_t - 1)))
    else:
        mean_len_diff = 0.0
    w_est = (2 * int(radius) + 1 + mean_len_diff) if radius is not None else med_t
    use_prune = radius is not None and med_t * w_est >= 8192

    def gen(batches):
        ids_t, T = bc.value
        lens_t = T.lens
        for pdf in batches:
            if len(pdf) == 0:
                continue
            qids = pdf["series_id"].to_numpy(dtype=np.int64)
            Q = flatten([
                np.asarray([np.asarray(x, dtype=np.float64) for x in v])
                for v in pdf["values"]
            ])
            out_q, out_n, out_d = [], [], []
            kk = min(k, n_t)
            # seed count: enough to fill the top-k plus slack for a tight cap
            s_seed = min(n_t, max(kk, 8))
            for s in range(0, len(qids), chunk_q):
                qi = qids[s : s + chunk_q]
                n_q = len(qi)
                q_of = np.arange(s, s + n_q)
                rr = np.arange(n_q)[:, None]
                if not use_prune:
                    # plain exact pass: every (query, train) pair, query-major
                    flat = K.dtw_index_batch(
                        Q, T, np.repeat(q_of, n_t),
                        np.tile(np.arange(n_t), n_q), radius)
                    dists = flat.reshape(n_q, n_t)
                    if drop_self:
                        dists[qi[:, None] == ids_t[None, :]] = np.inf
                    # tie-aware top-k (tslearn_spark.topk): duplicate
                    # train series tie exactly and the cutoff must
                    # resolve by smallest id, like the final window
                    best_i = topk_matrix_tiebreak(dists.T, ids_t, kk).T
                    best_d = dists[rr, best_i]
                else:
                    # pass 1 (seeds): per query the s_seed closest-LENGTH
                    # train series — cheapest bands AND likely-near under
                    # banded DTW, so their k-th best is a tight exact cap
                    q_lens = Q.lens[q_of]
                    seed_idx = np.argpartition(
                        np.abs(lens_t[None, :] - q_lens[:, None]),
                        s_seed - 1, axis=1)[:, :s_seed]
                    d_seed = K.dtw_index_batch(
                        Q, T, np.repeat(q_of, s_seed), seed_idx.ravel(),
                        radius).reshape(n_q, s_seed)
                    if drop_self:
                        d_seed[qi[:, None] == ids_t[seed_idx]] = np.inf
                    sel_s = np.stack([
                        topk_rows_tiebreak(d_seed[row],
                                           ids_t[seed_idx[row]], kk)
                        for row in range(n_q)
                    ])
                    best_d = d_seed[rr, sel_s]        # (n_q, kk) running top-k
                    best_i = seed_idx[rr, sel_s]      # train indices
                    # pass 2: every non-seed candidate, capped at the current
                    # k-th best (exact early abandon inside the batched DP)
                    is_seed = np.zeros((n_q, n_t), dtype=bool)
                    is_seed[rr, seed_idx] = True
                    rest_counts = n_t - s_seed
                    if rest_counts > 0:
                        r_of, j_of = np.nonzero(~is_seed)  # row-major pairs
                        tau = best_d.max(axis=1)      # k-th best per query
                        flat = K.dtw_index_batch(
                            Q, T, q_of[r_of], j_of, radius,
                            tau2=(tau * tau)[r_of])
                        d_rest = flat.reshape(n_q, rest_counts)
                        j_rest = j_of.reshape(n_q, rest_counts)
                        if drop_self:
                            d_rest[qi[:, None] == ids_t[j_rest]] = np.inf
                        cat_d = np.concatenate([best_d, d_rest], axis=1)
                        cat_i = np.concatenate([best_i, j_rest], axis=1)
                        sel2 = np.stack([
                            topk_rows_tiebreak(cat_d[row],
                                               ids_t[cat_i[row]], kk)
                            for row in range(n_q)
                        ])
                        best_d = cat_d[rr, sel2]
                        best_i = cat_i[rr, sel2]
                for row in range(n_q):
                    out_q.extend([qi[row]] * kk)
                    out_n.extend(ids_t[best_i[row]])
                    out_d.extend(best_d[row])
            yield pd.DataFrame({
                "id1": np.asarray(out_q, dtype=np.int64),
                "id2": np.asarray(out_n, dtype=np.int64),
                "dist": np.asarray(out_d, dtype=np.float64),
            })

    partial = M._spread(queries.select("series_id", "values")).mapInPandas(
        gen, "id1 long, id2 long, dist double"
    ).where(F.col("dist") < float("inf"))
    w = Window.partitionBy("id1").orderBy(F.col("dist").asc(), F.col("id2").asc())
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("id1", "id2", "dist", "rank")
    )


def _sax_word_candidates(q_words: DataFrame, t_cand: DataFrame, sax,
                         keep: int) -> DataFrame:
    """Word-level SAX candidate table: exact MINDIST over DISTINCT
    (query word, query length) x (train word, id) rows, top ``keep`` per
    (w1, sz1) by (dist, id2) — split out so tests can count/plan-check
    the scored pair set independently of the join back to series ids."""
    pairs = M._spread(q_words).crossJoin(F.broadcast(t_cand))
    scored = pairs.withColumn(
        "dist", sax.distance_col("sax1", "sax2", "sz1")
    ).select("w1", "sz1", "id2", "dist")
    w_word = Window.partitionBy("w1", "sz1").orderBy(
        F.col("dist").asc(), F.col("id2").asc()
    )
    return (
        scored.withColumn("_r", F.row_number().over(w_word))
        .where(F.col("_r") <= keep)
        .select("w1", "sz1", "id2", "dist")
    )


def _sax_knn(queries: DataFrame, train: DataFrame, k: int,
             drop_self: bool, params: dict) -> DataFrame:
    """kNN under the SAX MINDIST metric — fully SQL, no Python kernel.

    Mirrors KNeighborsTimeSeriesClassifier(metric="sax")
    (tslearn/neighbors/neighbors.py:459-500): both sides are
    SAX-transformed once (the fit-time pre-transform), then the distance
    is the MINDIST expression evaluated in codegen.  The scale factor
    uses the query series' own original length, which reduces to the
    reference's fixed sz on equal-length data and extends it to
    variable-length datasets.

    Scale design — word-dedup candidate generation instead of the naive
    n_q x n_t pair join (the reference materializes the full matrix):
    MINDIST depends ONLY on (query word, train word, query length), the
    word space is capped at alphabet^(n_segments*d), and z-normalized
    corpora concentrate far below the cap (sf0.1 events: 592 distinct
    words across 1500 series — unchanged at 10x rows, so the scored
    pair count is SCALE-INVARIANT once the word space saturates).

      1. per train word keep only the k (+1 under drop_self) lowest ids
         — any other member is dominated (identical dist, larger id)
         and can never enter a top-k;
      2. score distinct (word1, sz1) x (word2, id2) rows with the exact
         MINDIST expression; keep k(+1) per (word1, sz1) by (dist, id2)
         — the ordering the full join would use, since every query
         sharing (word1, sz1) sees identical candidate rows;
      3. join the survivors back to the queries on (word1, sz1), drop
         self pairs (each query loses at most its own id, hence the +1
         over-fetch), final row_number per query.

    Worst case (every word distinct) this degenerates to the same pair
    count as the naive join plus two row-bounded aggregates — the
    overhead is O(rows), the win O(rows^2 / distinct^2), so the dedup
    path runs unconditionally.
    """
    from tslearn_spark.piecewise import SAX

    sax = params.get("_fitted_sax")  # class API reuses its fit-time SAX
    if sax is None:
        n_segments = int(params.get("n_segments", 10))
        alphabet = int(params.get("alphabet_size_avg", 5))
        sax = SAX(n_segments=n_segments, alphabet_size_avg=alphabet,
                  scale=bool(params.get("scale", False))).fit(train)
    keep = k + 1 if drop_self else k
    # flattened word as the group/join key (d is constant per dataset, so
    # the flat key and the nested sax array determine each other); the
    # nested representative rides along for the distance expression
    q_sym = sax.transform(queries).select(
        F.col("series_id").alias("id1"),
        F.col("sax").alias("sax1"),
        F.flatten("sax").alias("w1"),
        F.size("values").alias("sz1"),
    )
    q_words = q_sym.groupBy("w1", "sz1").agg(F.first("sax1").alias("sax1"))
    t_words = sax.transform(train).select(
        F.col("series_id").alias("id2"),
        F.col("sax").alias("sax2"),
        F.flatten("sax").alias("w2"),
    ).groupBy("w2").agg(
        F.slice(F.sort_array(F.collect_list("id2")), 1, keep).alias("_ids"),
        F.first("sax2").alias("sax2"),
    )
    t_cand = t_words.select("sax2", F.explode("_ids").alias("id2"))
    cand = _sax_word_candidates(q_words, t_cand, sax, keep)
    out = q_sym.select("id1", "w1", "sz1").join(cand, ["w1", "sz1"])
    if drop_self:
        out = out.where(F.col("id1") != F.col("id2"))
    w = Window.partitionBy("id1").orderBy(F.col("dist").asc(), F.col("id2").asc())
    return (
        out.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("id1", "id2", "dist", "rank")
    )


def kneighbors(
    queries: DataFrame,
    train: DataFrame,
    k: int = 1,
    metric: str = "dtw",
    drop_self: bool = False,
    prune: bool = False,
    **params,
) -> DataFrame:
    """(id1=query, id2=neighbor, dist, rank), rank<=k per query.

    drop_self: for self-kNN, exclude the identical id (neighbors.py:163-168).
    metric="euclidean" on a broadcastable query set takes the BLAS
    matmul + partial-top-k path; everything else runs the pair join with
    the Arrow-batched kernel UDF (mixed-shape batch DP for DTW).

    prune=True routes univariate DTW through the LB_Keogh cascade
    (exact — see _dtw_knn_pruned).  It is OFF by default because the
    bound's power is data-dependent: on long, smooth series with a tight
    band it kills 80-95%% of kernel calls, but on the short wiggly events
    series (sz 45-99) the measured best-POSSIBLE prune rate is ~11%%
    (envelopes of dissimilar wiggly series are wide, so LB ~ 0), and the
    cascade's extra phases cost more than the skipped kernels.  Measure
    on your data before enabling: if median LB is below the typical NN
    distance, leave it off.
    """
    if metric == "dtw" and params.get("itakura_max_slope") is None \
            and params.get("global_constraint") != "itakura":
        radius = params.get("sakoe_chiba_radius")
        if params.get("global_constraint") == "sakoe_chiba" and radius is None:
            radius = 1
        if prune:
            env_radius = int(radius) if radius is not None else _FULL_ENVELOPE
            if radius is not None:
                # The Sakoe-Chiba band on an (la, lb) pair widens to
                # |la - lb| + r (kernels.sakoe_chiba_bounds), so an
                # envelope built with radius r alone can EXCEED banded
                # DTW on unequal lengths (q=[9,9,0] vs c=[9,9,9,9,0],
                # r=1: LB=9 but DTW=0) and prune true neighbors.  Widen
                # by the worst-case length difference across the two
                # sides so LB lower-bounds every pair's banded DTW.
                ln = (
                    queries.select(F.size("values").alias("n"))
                    .unionAll(train.select(F.size("values").alias("n")))
                    .agg(F.max("n").alias("mx"), F.min("n").alias("mn"))
                    .first()
                )
                if ln is not None and ln["mx"] is not None:
                    env_radius = min(
                        env_radius + int(ln["mx"] - ln["mn"]), _FULL_ENVELOPE
                    )
            first = train.select(
                F.size(F.element_at(F.col("values"), 1)).alias("d")
            ).first()
            if first is not None and first["d"] == 1:  # envelope expr univariate
                return _dtw_knn_pruned(
                    queries, train, k, env_radius, drop_self, params
                )
        else:
            stats = train.select(
                F.count("*").alias("n"),
                F.sum(F.size("values") * F.size(F.element_at("values", 1))).alias(
                    "n_vals"
                ),
            ).first()
            if stats is not None and stats["n"] and stats["n_vals"] is not None \
                    and stats["n_vals"] <= _DTW_BROADCAST_LIMIT_VALUES:
                return _dtw_topk_broadcast(
                    queries, train, k, radius, drop_self, params
                )
    if metric == "sax":
        return _sax_knn(queries, train, k, drop_self, params)
    if metric == "euclidean" and not params:
        shape = queries.select(F.lit(True).alias("_q"), "values").unionByName(
            train.select(F.lit(False).alias("_q"), "values")
        ).select(
            F.countDistinct(F.size("values")).alias("n_sz"),
            F.sum(
                F.when(
                    F.col("_q"),
                    F.size("values") * F.size(F.element_at("values", 1)),
                ).otherwise(F.lit(0))
            ).alias("q_vals"),
        ).first()
        # fast path needs equal-length series and a query set within the
        # broadcast byte budget (values count, mirroring the DTW gate)
        if shape["n_sz"] == 1 and shape["q_vals"] is not None \
                and shape["q_vals"] <= _EUCLIDEAN_BROADCAST_LIMIT_VALUES:
            return _euclidean_topk(queries, train, k, drop_self)
    pairs = M.cross_pairs(queries, train)
    if drop_self:
        pairs = pairs.where(F.col("id1") != F.col("id2"))
    # local sort by series sizes -> Arrow batches become shape-homogeneous
    # so the batched DTW kernel gets full-size buckets (no extra shuffle)
    pairs = M._pair_sort(pairs, band=metric == "dtw")
    udf = M.pair_metric_udf(metric, **params)
    a1, a2 = M._kernel_args(M.dim_of(train))
    # project the (large) value arrays away BEFORE the top-k shuffle:
    # only (id1, id2, dist) rows move, not the series payloads
    scored = pairs.withColumn("dist", udf(a1, a2)).select(
        "id1", "id2", "dist"
    )
    w = Window.partitionBy("id1").orderBy(F.col("dist").asc(), F.col("id2").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("id1", "id2", "dist", "rank")
    )


def knn_classify(
    queries: DataFrame,
    train: DataFrame,
    k: int = 1,
    metric: str = "dtw",
    weights: str = "uniform",
    label_col: str = "label",
    **params,
) -> DataFrame:
    """kNN vote (neighbors.py:502-531): mode, or 1/dist-weighted mode.

    Returns (series_id, prediction).  The label join is a broadcast of
    the (tiny) train labels.
    """
    nn = kneighbors(queries, train, k=k, metric=metric, **params)
    labeled = nn.join(
        F.broadcast(train.select(F.col("series_id").alias("id2"), F.col(label_col))),
        "id2",
    )
    if weights == "distance":
        wexpr = 1.0 / F.when(F.col("dist") <= 0.0, F.lit(1e-12)).otherwise(F.col("dist"))
    else:
        wexpr = F.lit(1.0)
    votes = (
        labeled.groupBy("id1", label_col)
        .agg(F.sum(wexpr).alias("w"), F.min("rank").alias("first_rank"))
    )
    # max weight wins; ties -> label seen at the smallest rank, then lexical
    w = Window.partitionBy("id1").orderBy(
        F.col("w").desc(), F.col("first_rank").asc(), F.col(label_col).asc()
    )
    return (
        votes.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(F.col("id1").alias("series_id"), F.col(label_col).alias("prediction"))
    )


def knn_regress(
    queries: DataFrame,
    train: DataFrame,
    k: int = 1,
    metric: str = "dtw",
    weights: str = "uniform",
    target_col: str = "y",
    **params,
) -> DataFrame:
    """kNN mean / distance-weighted mean of y (neighbors.py:565-717)."""
    nn = kneighbors(queries, train, k=k, metric=metric, **params)
    joined = nn.join(
        F.broadcast(train.select(F.col("series_id").alias("id2"), F.col(target_col))),
        "id2",
    )
    if weights == "distance":
        wexpr = 1.0 / F.when(F.col("dist") <= 0.0, F.lit(1e-12)).otherwise(F.col("dist"))
    else:
        wexpr = F.lit(1.0)
    return (
        joined.groupBy("id1")
        .agg((F.sum(F.col(target_col) * wexpr) / F.sum(wexpr)).alias("prediction"))
        .select(F.col("id1").alias("series_id"), "prediction")
    )


# ---------------------------------------------------------------------------
# class API (reference parity: neighbors.py:172-717)
# ---------------------------------------------------------------------------

class KNeighborsTimeSeriesMixin:
    """Mixin holding the shared k-neighbors machinery (reference
    neighbors.py:19-170: SAX fit-time state, metric param routing, the
    kneighbors search itself) — mixed into the unsupervised index, the
    classifier and the regressor, exactly as the reference does.  The
    heavy lifting stays in the functional layer (kneighbors) above;
    hosts provide ``_index`` / ``metric`` / ``metric_params`` /
    ``n_neighbors`` fit-time state."""

    def _fit_metric_state(self, df: DataFrame) -> None:
        """Metric-specific fit-time state: metric='sax' pre-fits the SAX
        model on the index (reference neighbors.py stores it as _sax —
        test_piecewise.py:88-95 reaches knn._sax._scale/_unscale) so
        queries reuse it instead of refitting per call."""
        if self.metric == "sax":
            from tslearn_spark.piecewise import SAX

            mp = self.metric_params or {}
            self._sax = SAX(
                n_segments=int(mp.get("n_segments", 10)),
                alphabet_size_avg=int(mp.get("alphabet_size_avg", 5)),
                scale=bool(mp.get("scale", False)),
            ).fit(df)

    def _fit_d(self):
        """Per-timestamp dimension of the fitted data (array fits only)
        for the predict-time check_dims twin (bases.check_query_dims)."""
        import numpy as np

        ts = getattr(self, "_ts_fit", None)
        if isinstance(ts, np.ndarray) and ts.ndim == 3:
            return ts.shape[2]
        return None

    def _metric_call_params(self) -> dict:
        params = dict(self.metric_params or {})
        if getattr(self, "_sax", None) is not None:
            params["_fitted_sax"] = self._sax
        return params

    def kneighbors(self, queries: DataFrame | None = None,
                   n_neighbors: int | None = None,
                   return_distance: bool = True) -> DataFrame:
        """(id1, id2, dist, rank).  queries=None -> self-kNN excluding the
        identical id, like the reference's X=None contract.

        return_distance=False (reference neighbors.py:227-266 signature)
        drops the distances: array input returns only the index matrix,
        DataFrame input the frame without the dist column."""
        from tslearn_spark.bases import as_ts_df, check_query_dims

        assert hasattr(self, "_index"), "fit before kneighbors"
        check_query_dims(queries, self._fit_d())
        queries, was_array = as_ts_df(queries)
        if queries is None and getattr(self, "_fit_was_array", False):
            # reference self-kNN on an array-fitted index returns arrays
            was_array = True
        k = n_neighbors or self.n_neighbors
        if queries is None:
            out = kneighbors(self._index, self._index, k=k,
                             metric=self.metric, drop_self=True,
                             **self._metric_call_params())
        else:
            out = kneighbors(queries, self._index, k=k, metric=self.metric,
                             **self._metric_call_params())
        if not was_array:
            return out if return_distance else out.drop("dist")
        # reference numpy contract (neighbors.py:227-266): return
        # (dists (n_q, k), indices (n_q, k)) ordered by rank — indices
        # only when return_distance=False
        import numpy as np

        rows = out.orderBy("id1", "rank").collect()
        qids = sorted({r["id1"] for r in rows})
        pos = {q: i for i, q in enumerate(qids)}
        # clamp the matrix width to the neighbors that EXIST — the
        # reference caps k at n_candidates (self-kNN on 3 series with
        # n_neighbors=10 returns (3, 2), neighbors.py:46-56 doctest)
        k = min(k, max((r["rank"] for r in rows), default=k))
        dists = np.full((len(qids), k), np.nan)
        inds = np.full((len(qids), k), -1, dtype=np.int64)
        for r in rows:
            dists[pos[r["id1"]], r["rank"] - 1] = r["dist"]
            inds[pos[r["id1"]], r["rank"] - 1] = r["id2"]
        return (dists, inds) if return_distance else inds


class KNeighborsTimeSeries(KNeighborsTimeSeriesMixin, BaseModelPackage,
                           TimeSeriesBaseEstimator):
    """Unsupervised kNN index (neighbors.py:172-350).

    fit() caches the candidate table (the "index" — Spark's analog of
    storing the training array); kneighbors() (from the mixin) runs the
    metric-dispatched top-k join.  All heavy lifting lives in the
    functional layer above.
    """

    def _more_tags(self):
        # reference neighbors.py:561-562 (classifier: 716-717 identical)
        return {"allow_nan": True, "allow_variable_length": True}

    def __init__(self, n_neighbors: int = 5, metric: str = "dtw",
                 metric_params: dict | None = None,
                 n_jobs: int | None = None, verbose: int = 0):
        self.n_neighbors = n_neighbors
        self.metric = metric
        self.metric_params = metric_params or {}
        # reference-signature parity (neighbors.py:233-234): parallelism
        # comes from the Spark cluster, not joblib
        self.n_jobs = n_jobs
        self.verbose = verbose

    def fit(self, df: DataFrame, y=None) -> "KNeighborsTimeSeries":
        from tslearn_spark.bases import as_ts_df

        raw = df
        df, self._fit_was_array = as_ts_df(df)
        if self._fit_was_array:
            # reference serialization contract (neighbors.py:251-255):
            # the fitted "model" IS the training data — kept as the
            # padded array only for array ingest (small by definition);
            # a DataFrame index is never serialized (model_io notes)
            from tslearn_spark.utils import to_time_series_dataset

            self._ts_fit = to_time_series_dataset(raw)
        self._index = df.select("series_id", "values").cache()
        self._fit_metric_state(df)
        return self

    # -- serialization surface (reference neighbors.py:243-255) ---------
    def _is_fitted(self) -> bool:
        return hasattr(self, "_index") or \
            getattr(self, "_ts_fit", None) is not None

    def _get_model_params(self) -> dict:
        out = {}
        if getattr(self, "_ts_fit", None) is not None:
            out["_ts_fit"] = self._ts_fit
            if getattr(self, "_y", None) is not None:
                out["_y"] = self._y
        return out

    def _post_restore(self) -> None:
        """Rebuild the index DataFrame from restored training arrays."""
        if getattr(self, "_ts_fit", None) is not None:
            if getattr(self, "_y", None) is not None:
                self.fit(self._ts_fit, y=self._y)
            else:
                self.fit(self._ts_fit)


class KNeighborsTimeSeriesClassifier(ClassifierScoreMixin,
                                      KNeighborsTimeSeries):
    """neighbors.py:353-562 twin over knn_classify."""

    def __init__(self, n_neighbors: int = 5, weights: str = "uniform",
                 metric: str = "dtw", metric_params: dict | None = None,
                 n_jobs: int | None = None, verbose: int = 0):
        # positional order matches the reference (neighbors.py:429-435):
        # (n_neighbors, weights, metric, ...)
        super().__init__(n_neighbors, metric, metric_params, n_jobs, verbose)
        self.weights = weights

    def fit(self, df: DataFrame, y=None,
            label_col: str = "label") -> "KNeighborsTimeSeriesClassifier":
        from tslearn_spark.bases import as_ts_df

        raw = df
        df, self._fit_was_array = as_ts_df(df, y=y, y_col=label_col)
        if y is not None:
            import numpy as _np

            self._y_numeric = _np.asarray(y).dtype.kind in "iufb"
        if self._fit_was_array:  # see KNeighborsTimeSeries.fit
            from tslearn_spark.utils import to_time_series_dataset

            self._ts_fit = to_time_series_dataset(raw)
            if y is not None:
                self._y = np.asarray(y)
        self._label_col = label_col
        self._index = df.select("series_id", "values", label_col).cache()
        self._fit_metric_state(df)
        self._classes_cache = None  # computed lazily (see classes_)
        return self

    @property
    def classes_(self) -> np.ndarray:
        """Sorted training classes (sklearn classifier contract) —
        materialized lazily on first access so fit stays plan-only
        (same laziness contract as the piecewise fit-dims)."""
        if getattr(self, "_classes_cache", None) is None:
            if not hasattr(self, "_index"):
                raise AttributeError("classes_ is only available after fit")
            self._classes_cache = np.array(sorted(
                r[0] for r in
                self._index.select(self._label_col).distinct().collect()
            ))
        return self._classes_cache

    def predict(self, queries: DataFrame) -> DataFrame:
        from tslearn_spark.bases import (as_ts_df, check_query_dims,
                                         collect_col)

        assert hasattr(self, "_index"), "fit before predict"
        check_query_dims(queries, self._fit_d())
        queries, was_array = as_ts_df(queries)
        out = knn_classify(queries, self._index, k=self.n_neighbors,
                           metric=self.metric, weights=self.weights,
                           label_col=self._label_col, **self._metric_call_params())
        return collect_col(out, was_array, "prediction",
                           labels=getattr(self, "_y_numeric", True))

    def predict_proba(self, queries: DataFrame) -> DataFrame:
        """Class probabilities (reference neighbors.py:532-559, sklearn
        vote semantics): per query, each class's share of the (uniform
        or 1/dist) neighbor weight mass.  Returns (series_id,
        probabilities array<double>) ordered by ``classes_``; array
        input returns the (n, n_classes) matrix.

        Same distributed shape as predict: top-k join, then ONE grouped
        aggregate — the per-class mass pivots to an array via a map
        lookup, no extra shuffle beyond the vote's."""
        from tslearn_spark.bases import (as_ts_df, check_query_dims,
                                         collect_col)

        assert hasattr(self, "_index"), "fit before predict"
        check_query_dims(queries, self._fit_d())
        queries, was_array = as_ts_df(queries)
        lc = self._label_col
        nn = kneighbors(queries, self._index, k=self.n_neighbors,
                        metric=self.metric, **self._metric_call_params())
        labeled = nn.join(
            F.broadcast(self._index.select(F.col("series_id").alias("id2"),
                                           F.col(lc))),
            "id2",
        )
        if self.weights == "distance":
            wexpr = 1.0 / F.when(F.col("dist") <= 0.0,
                                 F.lit(1e-12)).otherwise(F.col("dist"))
        else:
            wexpr = F.lit(1.0)
        # map keys must be unique: aggregate vote weight per class first
        per_class = (
            labeled.groupBy("id1", lc).agg(F.sum(wexpr).alias("_w"))
            .groupBy("id1")
            .agg(F.map_from_arrays(
                F.collect_list(F.col(lc).cast("string")),
                F.collect_list("_w")).alias("_m"))
        )
        cols = [F.coalesce(F.col("_m").getItem(str(c)), F.lit(0.0))
                for c in self.classes_]
        total = sum(cols[1:], cols[0])
        out = per_class.select(
            F.col("id1").alias("series_id"),
            F.array(*[c / total for c in cols]).alias("probabilities"),
        )
        return collect_col(out, was_array, "probabilities")


class KNeighborsTimeSeriesRegressor(RegressorScoreMixin,
                                     KNeighborsTimeSeries):
    """neighbors.py:565-717 twin over knn_regress."""

    def __init__(self, n_neighbors: int = 5, weights: str = "uniform",
                 metric: str = "dtw", metric_params: dict | None = None,
                 n_jobs: int | None = None, verbose: int = 0):
        # positional order matches the reference (neighbors.py:429-435):
        # (n_neighbors, weights, metric, ...)
        super().__init__(n_neighbors, metric, metric_params, n_jobs, verbose)
        self.weights = weights

    def fit(self, df: DataFrame, y=None,
            target_col: str = "y") -> "KNeighborsTimeSeriesRegressor":
        from tslearn_spark.bases import as_ts_df

        raw = df
        df, self._fit_was_array = as_ts_df(df, y=y, y_col=target_col,
                                           y_numeric=True)
        if self._fit_was_array:  # see KNeighborsTimeSeries.fit
            from tslearn_spark.utils import to_time_series_dataset

            self._ts_fit = to_time_series_dataset(raw)
            if y is not None:
                self._y = np.asarray(y, dtype=np.float64)
        self._target_col = target_col
        self._index = df.select("series_id", "values", target_col).cache()
        self._fit_metric_state(df)
        return self

    def predict(self, queries: DataFrame) -> DataFrame:
        from tslearn_spark.bases import (as_ts_df, check_query_dims,
                                         collect_col)

        assert hasattr(self, "_index"), "fit before predict"
        check_query_dims(queries, self._fit_d())
        queries, was_array = as_ts_df(queries)
        out = knn_regress(queries, self._index, k=self.n_neighbors,
                          metric=self.metric, weights=self.weights,
                          target_col=self._target_col, **self._metric_call_params())
        return collect_col(out, was_array, "prediction")
