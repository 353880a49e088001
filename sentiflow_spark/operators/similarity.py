"""Similarity search over embedding columns (SURVEY §7.2 M5).

Two plan shapes:

- **Brute-force top-k** — broadcast the (small) probe set against the
  full corpus, score every pair, per-probe top-k via window row_number.
  The right baseline, and the *only* exact method; at 100 TB the scan
  is embarrassingly parallel and the top-k is a partial
  TakeOrdered per partition, so no global sort materializes.
- **IVF-style bucketed search** — restrict scoring to the probe's
  coarse partition (cluster/bucket id). Here the synthetic ``label``
  column plays the precomputed centroid assignment (a real deployment
  k-means-assigns offline and bucket-partitions the table on disk so
  bucket pruning happens at the parquet-partition level). Trades
  recall for a ~n_buckets× scan reduction.

Scoring uses quantized-int cosine (functions/vectors.py) — exact,
engine-reproducible, JVM-side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from sentiflow_spark.functions.vectors import cosine_q, dot_long, norm_sq, quantize


def with_quantized(df: DataFrame) -> DataFrame:
    q = quantize(F.col("embedding"))
    return df.withColumn("qvec", q).withColumn("qnorm", norm_sq(F.col("qvec")))


def brute_force_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k per probe. probes/corpus must carry qvec+qnorm
    (see with_quantized); probe ids excluded from their own results."""
    p = probes.select(
        F.col("vec_id").alias("probe_id"),
        F.col("qvec").alias("p_qvec"),
        F.col("qnorm").alias("p_qnorm"),
    )
    c = corpus.select(
        F.col("vec_id").alias("cand_id"),
        F.col("qvec").alias("c_qvec"),
        F.col("qnorm").alias("c_qnorm"),
    )
    scored = (
        c.crossJoin(F.broadcast(p))
        .filter(F.col("cand_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "cand_id",
            cosine_q(
                dot_long(F.col("p_qvec"), F.col("c_qvec")),
                F.col("p_qnorm"),
                F.col("c_qnorm"),
            ).alias("cosine"),
        )
    )
    w = W.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "cand_id", "cosine", "rank")
    )


def bucketed_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
) -> DataFrame:
    """IVF-style: score only candidates in the probe's bucket."""
    p = probes.select(
        F.col("vec_id").alias("probe_id"),
        F.col("label").alias("bucket"),
        F.col("qvec").alias("p_qvec"),
        F.col("qnorm").alias("p_qnorm"),
    )
    c = corpus.select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("bucket"),
        F.col("qvec").alias("c_qvec"),
        F.col("qnorm").alias("c_qnorm"),
    )
    scored = (
        c.join(F.broadcast(p), "bucket")
        .filter(F.col("cand_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "cand_id",
            cosine_q(
                dot_long(F.col("p_qvec"), F.col("c_qvec")),
                F.col("p_qnorm"),
                F.col("c_qnorm"),
            ).alias("cosine"),
        )
    )
    w = W.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "cand_id", "cosine", "rank")
    )


def cosine_neardup_pairs(
    corpus: DataFrame,
    threshold: float = 0.99,
    bucket_col: str = "label",
) -> DataFrame:
    """Embedding near-duplicate pairs, blocked by the coarse bucket so
    the pair space is (n/b)² per bucket instead of n² global."""
    a = corpus.select(
        F.col("vec_id").alias("id_a"),
        F.col(bucket_col).alias("bucket"),
        F.col("qvec").alias("qa"),
        F.col("qnorm").alias("na"),
    )
    b = corpus.select(
        F.col("vec_id").alias("id_b"),
        F.col(bucket_col).alias("bucket"),
        F.col("qvec").alias("qb"),
        F.col("qnorm").alias("nb"),
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            cosine_q(
                dot_long(F.col("qa"), F.col("qb")), F.col("na"), F.col("nb")
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def rph_neardup_pairs(
    corpus: DataFrame,
    planes: list[list[int]],
    threshold: float = 0.99,
) -> DataFrame:
    """Random-hyperplane LSH near-dup pairs: data-independent cosine
    blocking (vs the IVF/label blocking above, which needs a trained
    partitioner). With b planes the pair space shrinks ~2^b-fold while
    high-cosine pairs mostly share all sign bits. Candidate generation
    is an equi-join on the bucket id — the 100 TB path; recall is
    tunable via multiple independent bucket tables (OR-construction)."""
    from sentiflow_spark.functions.vectors import rp_bucket

    bucketed = corpus.withColumn("rp_bucket", rp_bucket(F.col("qvec"), planes))
    a = bucketed.select(
        F.col("vec_id").alias("id_a"),
        F.col("rp_bucket"),
        F.col("qvec").alias("qa"),
        F.col("qnorm").alias("na"),
    )
    b = bucketed.select(
        F.col("vec_id").alias("id_b"),
        F.col("rp_bucket"),
        F.col("qvec").alias("qb"),
        F.col("qnorm").alias("nb"),
    )
    return (
        a.join(b, "rp_bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            cosine_q(
                dot_long(F.col("qa"), F.col("qb")), F.col("na"), F.col("nb")
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def kmeans_lite(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 3,
) -> DataFrame:
    """Deterministic distributed k-means over quantized embeddings —
    the trainer that produces real IVF centroid assignments (the
    ``label`` column stands in elsewhere). Iterative, so it is the one
    operator family that is genuinely not single-SQL-expressible
    (registered without an oracle; invariants are unit-tested instead).

    Shape per iteration (classic Spark k-means, driver-coordinated):
    - centroids live on the DRIVER (k × dim integers — tiny) and enter
      the plan as a broadcast k-row DataFrame,
    - assignment = crossJoin(broadcast(centroids)) + per-point argmin
      via a min_by aggregate — a map-side-only pass over the corpus,
    - update = groupBy(cluster).floor-mean — one small shuffle of k
      partials per partition (partial aggregation makes it k rows per
      task).

    Init is the k lowest-id vectors (deterministic, no RNG). Centroids
    are kept INTEGER via the ivf_centroids element-wise FLOOR-mean
    trick, so every distance is an exact int64 in BOTH engines and the
    whole 3-iteration trajectory is mirrorable as unrolled SQL CTEs —
    this is what lets sim_kmeans_assign carry a hash-checked DuckDB
    oracle despite being iterative. The floor costs < 1 per coordinate
    vs the true mean, so per update step inertia can exceed the true-
    mean update by at most n_points × dim (Σ‖x−c‖² = Σ‖x−μ‖² +
    n‖μ−c‖², each coord of μ−c in [0,1)) — negligible against
    quantized-unit² distances and bounded in the monotonicity test."""
    dim_df = corpus.select(F.col("vec_id").alias("vid"), F.col("qvec"))
    spark = corpus.sparkSession

    def assign(centroids_rows: list[tuple[int, list[int]]]) -> DataFrame:
        cent = spark.createDataFrame(
            [(c, [int(x) for x in vec]) for c, vec in centroids_rows],
            "cluster INT, cvec ARRAY<BIGINT>",
        )
        dist = F.aggregate(
            F.zip_with(
                F.col("qvec"), F.col("cvec"), lambda x, y: (x - y) * (x - y)
            ),
            F.lit(0).cast("long"),
            lambda acc, d: acc + d,
        )
        scored = dim_df.crossJoin(F.broadcast(cent)).select(
            "vid", "cluster", dist.alias("dist")
        )
        # per-point argmin, ties to the lowest cluster id (deterministic)
        return scored.groupBy("vid").agg(
            F.min_by(
                F.struct("cluster", "dist"), F.struct("dist", "cluster")
            ).alias("best")
        ).select("vid", F.col("best.cluster").alias("cluster"),
                 F.col("best.dist").alias("dist"))

    init = [
        (i, [int(x) for x in row["qvec"]])
        for i, row in enumerate(
            dim_df.orderBy("vid").limit(k).collect()
        )
    ]
    centroids = init
    assigned = assign(centroids)
    for _ in range(iters):
        # per-dimension FLOOR-mean with map-side partial aggregation:
        # the shuffle carries k × dim partial rows per task, independent
        # of corpus size — the 100 TB-safe centroid update. floor keeps
        # centroids integer (see ivf_centroids for the exactness and
        # floor-vs-truncate rationale), which keeps every downstream
        # distance exact cross-engine.
        update = (
            assigned.join(dim_df, "vid")
            .select(
                "cluster",
                F.posexplode(F.col("qvec")).alias("pos", "x"),
            )
            .groupBy("cluster", "pos")
            .agg(
                F.floor(F.sum("x") / F.count(F.lit(1))).cast("long").alias("m")
            )
            .groupBy("cluster")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda s: s["m"],
                ).alias("cvec")
            )
        )
        centroids = [
            (row["cluster"], list(row["cvec"])) for row in update.collect()
        ]
        assigned = assign(centroids)
    return assigned.select(
        F.col("vid").alias("vec_id"), "cluster", F.col("dist").alias("sq_dist")
    )


def knn_graph(
    emb: DataFrame,
    planes: list[list[int]],
    k: int = 3,
) -> DataFrame:
    """Bucketed k-NN graph: random-hyperplane blocking, then exact
    cosine rank within the bucket. ``emb`` must carry qvec+qnorm
    (with_quantized).

    ``planes`` is the caller-owned scale knob: bucket occupancy is
    n / 2^len(planes), and the within-bucket work is quadratic in
    occupancy, so plane count must grow with log2(n). Measured at a
    100k-vector corpus: 4 planes 259 s, 8 planes 13.5 s, 12 planes
    2.0 s — identical edge output (see BASELINE.md 20x sweep).

    Execution shape (r12, guide §4.2): one shuffle of (id, qvec,
    qnorm) by bucket + a vectorized native top-k per bucket
    (applyInPandas: int64 matmul for the exact dot matrix, the same
    long->double casts and IEEE divide/sqrt as cosine_q, then the
    row_number tiebreak as a lexsort on (-cosine, dst)). The previous
    self-join + window shuffled the vectors TWICE (both join sides),
    materialized occupancy² rows carrying both vectors, and paid an
    interpreted higher-order fold per pair element — measured 2.6 s →
    ~0.9 s at sf0.1 for identical output. Bucket group size is bounded
    (~target occupancy) by the adaptive plane count, so per-group
    memory stays flat at any corpus size."""
    from sentiflow_spark.functions.vectors import rp_bucket

    e = emb.select(
        rp_bucket(F.col("qvec"), planes).alias("rp_bucket"),
        F.col("vec_id").alias("src"),
        "qvec",
        "qnorm",
    )
    id_dt = dict(e.dtypes)["src"]
    np_id = {"bigint": "int64", "int": "int32"}.get(id_dt, "int64")

    def _bucket_topk(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {
                "src": pd.Series(dtype=np_id),
                "dst": pd.Series(dtype=np_id),
                "cosine": pd.Series(dtype="float64"),
                "rank": pd.Series(dtype="int32"),
            }
        )
        m = len(pdf)
        if m < 2:
            return empty
        V = np.vstack(pdf["qvec"].to_numpy()).astype(np.int64)
        ids = pdf["src"].to_numpy()
        nq = pdf["qnorm"].to_numpy(dtype=np.int64)
        # exact int64 dot matrix; denominators multiply as int64 FIRST
        # (exactly like cosine_q's (norm_a * norm_b).cast("double"))
        dots = V @ V.T
        cos = dots.astype(np.float64) / np.sqrt(
            np.multiply.outer(nq, nq).astype(np.float64)
        )
        srcs, dsts, coss, rks = [], [], [], []
        for i in range(m):
            c = cos[i]
            # row_number over (cosine DESC, dst ASC): lexsort is
            # last-key-primary, so (-cosine) primary, ids secondary
            order = np.lexsort((ids, -c))
            order = order[order != i][:k]
            for r, j in enumerate(order, start=1):
                srcs.append(ids[i])
                dsts.append(ids[j])
                coss.append(c[j])
                rks.append(r)
        if not srcs:
            return empty
        return pd.DataFrame(
            {
                "src": np.array(srcs, dtype=np_id),
                "dst": np.array(dsts, dtype=np_id),
                "cosine": np.array(coss, dtype=np.float64),
                "rank": np.array(rks, dtype="int32"),
            }
        )

    return e.groupBy("rp_bucket").applyInPandas(
        _bucket_topk, f"src {id_dt}, dst {id_dt}, cosine double, rank int"
    )


def dtw_distances(pairs: DataFrame, band: int) -> DataFrame:
    """Banded dynamic-time-warping distance per row — the custom
    operator Spark's built-ins genuinely cannot express (a dynamic
    program per pair), implemented the engine's sanctioned way:
    Arrow-batched ``mapInPandas``, integer |a-b| cell cost, Sakoe-Chiba
    band of half-width ``band`` (classic speed/accuracy trade: O(L*band)
    per pair instead of O(L^2), and a warping-path sanity constraint).

    Input rows carry the integer series columns ``p_series`` and
    ``series``; output replaces them with ``dtw`` (int64). All
    arithmetic is integer, so the distance is
    bit-deterministic at any batch size or partitioning. Scale shape:
    the DP runs where the pair row lives — no shuffle, no state, cost
    linear in pairs × L × band.
    """
    import pandas as pd  # noqa: F401 (schema side)

    out_fields = [
        f.name for f in pairs.schema.fields if f.name not in ("p_series", "series")
    ]
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in pairs.schema.fields
        if f.name not in ("p_series", "series")
    ) + ", dtw long"

    def _dtw_one(a, b, np):
        n, m = len(a), len(b)
        r = max(band, abs(n - m))
        INF = np.int64(2**62)
        prev = np.full(m + 1, INF, dtype=np.int64)
        prev[0] = 0
        for i in range(1, n + 1):
            cur = np.full(m + 1, INF, dtype=np.int64)
            lo, hi = max(1, i - r), min(m, i + r)
            for j in range(lo, hi + 1):
                cost = abs(int(a[i - 1]) - int(b[j - 1]))
                cur[j] = cost + min(prev[j], cur[j - 1], prev[j - 1])
            prev = cur
        return int(prev[m])

    def batches(it):
        import numpy as np

        for pdf in it:
            if len(pdf) == 0:
                out = pdf[out_fields].copy()
                out["dtw"] = []
                yield out
                continue
            a_lens = {len(x) for x in pdf["p_series"]}
            b_lens = {len(x) for x in pdf["series"]}
            if len(a_lens) == 1 and len(b_lens) == 1:
                # uniform lengths (the common case: one corpus-wide
                # series span): vectorize the DP ACROSS the batch —
                # the i/j loops stay (700 x band iterations) but every
                # cell op runs on all P pairs at once, ~100x less
                # Python overhead than a per-pair loop. Identical
                # integer recurrence, bit-identical results.
                A = np.stack([np.asarray(x, dtype=np.int64) for x in pdf["p_series"]])
                B = np.stack([np.asarray(x, dtype=np.int64) for x in pdf["series"]])
                P, n = A.shape
                m = B.shape[1]
                r = max(band, abs(n - m))
                INF = np.int64(2**62)
                prev = np.full((P, m + 1), INF, dtype=np.int64)
                prev[:, 0] = 0
                for i in range(1, n + 1):
                    cur = np.full((P, m + 1), INF, dtype=np.int64)
                    lo, hi = max(1, i - r), min(m, i + r)
                    for j in range(lo, hi + 1):
                        cost = np.abs(A[:, i - 1] - B[:, j - 1])
                        cur[:, j] = cost + np.minimum(
                            prev[:, j], np.minimum(cur[:, j - 1], prev[:, j - 1])
                        )
                    prev = cur
                dtws = [int(v) for v in prev[:, m]]
            else:
                dtws = [
                    _dtw_one(
                        np.asarray(a, dtype=np.int64),
                        np.asarray(b, dtype=np.int64),
                        np,
                    )
                    for a, b in zip(pdf["p_series"], pdf["series"])
                ]
            out = pdf[out_fields].copy()
            out["dtw"] = dtws
            yield out

    return pairs.mapInPandas(batches, schema=schema)


def keogh_envelope(series, band: int):
    """(upper, lower) windowed-envelope arrays of a series Column —
    upper_i = max(series[i-band .. i+band]), lower_i the min. O(L x
    band) with per-element slicing, so compute it ONCE PER PROBE (a
    handful of rows), never per pair."""
    size = F.size(series)

    def window_at(i):
        start = F.greatest(F.lit(1), i + 1 - band)
        end = F.least(size, i + 1 + band)
        return F.slice(series, start, end - start + 1)

    idx = F.sequence(F.lit(0), size - 1)
    upper = F.transform(idx, lambda i: F.array_max(window_at(i)))
    lower = F.transform(idx, lambda i: F.array_min(window_at(i)))
    return upper, lower


def lb_keogh_against_envelope(b, upper, lower):
    """LB_Keogh lower bound for banded DTW given the PROBE's envelope:
    sum_j of the candidate value's distance to [lower_j, upper_j].
    Admissible for the same band (every warping path matches c_j
    inside the probe's window), so pruning on it never changes an
    exact top-k. O(L) per pair — one three-array zip, no slicing."""
    # two primitive zip_with passes instead of one arrays_zip: the
    # struct-array zip allocated 700-element struct rows per pair and
    # its GC pressure dominated the bound scan. Since lower <= upper,
    # max(0, c-u) + max(0, l-c) == max(0, c-u, l-c) elementwise.
    zero = F.lit(0).cast("long")
    above = F.zip_with(b, upper, lambda c, u: F.greatest(zero, c - u))
    below = F.zip_with(lower, b, lambda l, c: F.greatest(zero, l - c))
    return F.aggregate(above, zero, lambda acc, x: acc + x) + F.aggregate(
        below, zero, lambda acc, x: acc + x
    )


def dtw_topk_pruned(
    series_df: DataFrame,
    probes_df: DataFrame,
    k: int,
    band: int = 3,
    prefilter_m: int = 32,
) -> DataFrame:
    """Exact DTW top-k with the LB_Keogh cascade: the JVM-side lower
    bound runs over EVERY (probe, candidate) pair, the Python dynamic
    program over almost none. Wave 1 runs DTW on the ``prefilter_m``
    best-bounded candidates per probe; any remaining candidate whose
    bound does not exceed wave 1's kth distance gets a wave-2 DTW, so
    the result is provably identical to brute-force DTW: an excluded
    candidate has dtw >= lb > kth.

    Inputs: ``series_df`` carries (cand_id, series); ``probes_df``
    carries (probe_id, p_series) and must be broadcast-small.

    Four measured lessons shape this (20x probe, 90k pairs x
    700-point series; brute force 87 s, cascade 22-30 s): (1) the
    envelope is computed per PROBE and the per-pair bound is an O(L)
    zip against it — a per-pair sliced envelope costs as much as the
    DP it replaces (143 s); (2) the bound zip must be two primitive
    zip_with passes, not one arrays_zip — the struct-array zip's
    allocation/GC pressure dominated the scan and made run times
    swing 2x; (3) what gets localCheckpointed for the three
    consumers (wave 1, the kth-distance aggregate, wave 2) is the
    SLIM (probe, cand, lb, rank) table plus the series table —
    checkpointing pair rows that carry both arrays wrote ~1 GB and
    cost 21 s of the 48 s total; (4) wave inputs re-attach series by
    broadcast-joining the small id sets back onto the checkpointed
    series table, never by re-running its lineage. The DP itself
    vectorizes across the Arrow batch when series lengths are
    uniform (dtw_distances), cutting per-pair Python overhead ~100x.

    Exactness guards: (a) ``prefilter_m`` is clamped to >= k — with
    fewer wave-1 rows than k the kth-distance fallback would prune
    candidates that belong in the true top-k; (b) LB_Keogh is only
    admissible when the DP band half-width equals ``band``, i.e. when
    the pair's series lengths are equal (dtw_distances widens the band
    to max(band, |n-m|) for unequal lengths), so length-mismatched
    pairs take lb = 0 — never pruned, always handed to the exact DP.
    """
    prefilter_m = max(prefilter_m, k)
    dense = series_df.select("cand_id", "series").localCheckpoint(eager=False)
    env_up, env_lo = keogh_envelope(F.col("p_series"), band)
    env = probes_df.select(
        "probe_id", F.col("p_series"), env_up.alias("_ub"), env_lo.alias("_lb_env")
    )
    slim = (
        dense.join(F.broadcast(env.select("probe_id", "_ub", "_lb_env")))
        .filter(F.col("cand_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "cand_id",
            F.when(
                F.size(F.col("series")) == F.size(F.col("_ub")),
                lb_keogh_against_envelope(
                    F.col("series"), F.col("_ub"), F.col("_lb_env")
                ),
            )
            .otherwise(F.lit(0).cast("long"))
            .alias("lb"),
        )
    )
    w_lb = W.partitionBy("probe_id").orderBy(F.asc("lb"), F.asc("cand_id"))
    ranked = slim.withColumn("lbrank", F.row_number().over(w_lb)).localCheckpoint(eager=False)

    def wave_pairs(ids: DataFrame) -> DataFrame:
        return (
            dense.join(F.broadcast(ids), "cand_id")
            .join(F.broadcast(probes_df), "probe_id")
            .select("probe_id", "cand_id", "p_series", "series")
        )

    wave1 = dtw_distances(
        wave_pairs(
            ranked.filter(F.col("lbrank") <= prefilter_m).select("probe_id", "cand_id")
        ),
        band=band,
    )
    # kth-smallest wave-1 distance per probe (or the largest available
    # when a probe has fewer than k candidates)
    dk = wave1.groupBy("probe_id").agg(
        F.element_at(
            F.sort_array(F.collect_list("dtw")),
            F.least(F.lit(k), F.count(F.lit(1))).cast("int"),
        ).alias("dk")
    )
    wave2 = dtw_distances(
        wave_pairs(
            ranked.filter(F.col("lbrank") > prefilter_m)
            .join(F.broadcast(dk), "probe_id")
            .filter(F.col("lb") <= F.col("dk"))
            .select("probe_id", "cand_id")
        ),
        band=band,
    )
    w_rank = W.partitionBy("probe_id").orderBy(F.asc("dtw"), F.asc("cand_id"))
    return (
        wave1.unionByName(wave2)
        .withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= k)
    )


def multiprobe_knn(
    emb: DataFrame,
    planes: list[list[int]],
    k: int = 3,
    n_probe_flips: int = 3,
) -> DataFrame:
    """Multi-probe LSH k-NN (Lv, Josephson, Wang, Charikar & Li, VLDB
    2007): each query probes its OWN hyperplane bucket plus the
    ``n_probe_flips`` buckets reached by flipping the sign bits with
    the SMALLEST dot-product margins — the planes the vector sits
    closest to, where its true neighbors most likely landed on the
    other side. Recovers most of the recall lost to bucket boundaries
    at a fixed (1 + n_probe_flips)x candidate-cost multiplier, instead
    of paying for it with fewer planes (bigger buckets) everywhere.

    All arithmetic is exact int64 (quantized dots), the flip choice is
    a deterministic sort on (|dot|, plane_idx), and candidate
    generation stays an equi-join on the probed bucket id — the same
    scale contract as knn_graph.
    """
    from sentiflow_spark.functions.vectors import rp_bucket

    def margins(qvec):
        entries = []
        for j, h in enumerate(planes):
            harr = F.array(*[F.lit(c).cast("long") for c in h])
            d = F.aggregate(
                F.zip_with(qvec, harr, lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            entries.append(
                F.struct(F.abs(d).alias("m"), F.lit(j).cast("long").alias("j"))
            )
        return F.array(*entries)

    flips = F.transform(
        F.slice(F.array_sort(margins(F.col("qvec"))), 1, n_probe_flips),
        lambda s: F.col("rp_bucket").bitwiseXOR(
            F.pow(F.lit(2.0), s["j"]).cast("long")
        ),
    )
    bucketed = emb.withColumn("rp_bucket", rp_bucket(F.col("qvec"), planes))
    probes = bucketed.select(
        F.col("vec_id").alias("src"),
        F.col("qvec").alias("a_qvec"),
        F.col("qnorm").alias("a_qnorm"),
        F.explode(
            F.concat(F.array(F.col("rp_bucket")), flips)
        ).alias("rp_bucket"),
    )
    cands = bucketed.select(
        "rp_bucket",
        F.col("vec_id").alias("dst"),
        F.col("qvec").alias("b_qvec"),
        F.col("qnorm").alias("b_qnorm"),
    )
    scored = (
        probes.join(cands, "rp_bucket")
        .filter(F.col("src") != F.col("dst"))
        .select(
            "src",
            "dst",
            cosine_q(
                dot_long(F.col("a_qvec"), F.col("b_qvec")),
                F.col("a_qnorm"),
                F.col("b_qnorm"),
            ).alias("cosine"),
        )
    )
    w = W.partitionBy("src").orderBy(F.desc("cosine"), F.asc("dst"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("src", "dst", "cosine", "rank")
    )


# ----------------------------------------------- product quantization (PQ)

PQ_M = 8  # subspaces (64-dim embedding -> 8 x 8-dim subvectors)
PQ_SUB = 8  # dims per subspace
PQ_K = 16  # codewords per subspace -> 4 bits/code, M bytes/vector << 256B fp32


def pq_subvectors(df: DataFrame) -> DataFrame:
    """Explode each quantized vector into its PQ_M subvectors:
    (id, sub_id, subv). Pure Generate + slice — map-side, no shuffle."""
    return df.select(
        F.col("vec_id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(PQ_M - 1)),
                lambda m: F.slice(F.col("qvec"), m * PQ_SUB + 1, PQ_SUB),
            )
        ).alias("sub_id", "subv"),
    )


def pq_codebook(df: DataFrame) -> DataFrame:
    """Deterministic sampled codebook: codeword c of subspace m is the
    m-th subvector of training vector ``vec_id == c`` (c < PQ_K).

    A production index k-means-trains each subspace codebook
    (``kmeans_lite`` above is that trainer); a corpus-sampled codebook
    is the standard zero-training fallback and — unlike k-means — is
    SQL-expressible, so the oracle can hash-check code assignment, LUT
    construction and ADC scoring end to end. The index structure
    (codes, LUT, asymmetric distance) is identical either way."""
    return pq_subvectors(df.filter(F.col("vec_id") < PQ_K)).select(
        F.col("vec_id").cast("int").alias("code_id"),
        "sub_id",
        F.col("subv").alias("cw"),
    )


def pq_encode(df: DataFrame) -> DataFrame:
    """PQ codes: per (vector, subspace), the L2-nearest codeword id
    (ties to the lowest code_id). One broadcast join against the
    K×M-row codebook + a partial-aggregatable min_by argmin — map-side
    combine leaves PQ_M rows per vector entering the shuffle, so the
    encode pass scales linearly with the corpus at any cluster size."""
    from sentiflow_spark.functions.vectors import l2_sq

    subs = pq_subvectors(df)
    cb = pq_codebook(df)
    scored = subs.join(F.broadcast(cb), "sub_id").select(
        "vec_id",
        "sub_id",
        "code_id",
        l2_sq(F.col("subv"), F.col("cw")).alias("d2"),
    )
    return scored.groupBy("vec_id", "sub_id").agg(
        F.min(F.struct("d2", "code_id")).getField("code_id").alias("code_id")
    )


def pq_code_arr(df: DataFrame, cb: DataFrame) -> DataFrame:
    """PQ codes as ONE row per vector: ``code_arr[m]`` = the L2-nearest
    codeword id of subspace m (identical argmin and (d2, code_id)
    tie-break as pq_encode — pinned by test_pq_code_arr_matches_encode).
    The M per-subspace conditional mins partial-aggregate map-side, so
    the encode shuffle carries one narrow row per vector instead of M
    (guide §2.3): the r12 array-ADC arrangement."""
    from sentiflow_spark.functions.vectors import l2_sq

    subs = pq_subvectors(df)
    scored = subs.join(F.broadcast(cb), "sub_id").select(
        "vec_id",
        "sub_id",
        "code_id",
        l2_sq(F.col("subv"), F.col("cw")).alias("d2"),
    )
    aggs = [
        F.min(F.when(F.col("sub_id") == m, F.struct("d2", "code_id")))
        .getField("code_id")
        .alias(f"_c{m}")
        for m in range(PQ_M)
    ]
    return (
        scored.groupBy("vec_id")
        .agg(*aggs)
        .select(
            "vec_id",
            F.array(*[F.col(f"_c{m}") for m in range(PQ_M)]).alias(
                "code_arr"
            ),
        )
    )


def pq_lut_arr(lut_rows: DataFrame, key_cols: tuple[str, ...]) -> DataFrame:
    """Collapse per-(key, sub_id, code_id, d2) LUT rows to one FLAT
    array per key: ``lut[sub_id * PQ_K + code_id] = d2`` (M·K longs —
    bytes per probe, built for broadcast). Array order is pinned by the
    slot index, so the fold in adc_d2_expr addresses it directly."""
    return (
        lut_rows.select(
            *key_cols,
            (F.col("sub_id") * PQ_K + F.col("code_id")).alias("_slot"),
            "d2",
        )
        .groupBy(*key_cols)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_slot", "d2"))),
                lambda s: s.getField("d2"),
            ).alias("lut")
        )
    )


def adc_d2_expr() -> Column:
    """Σ_m lut[m·K + code_arr[m]] as a pure integer array fold — the
    asymmetric distance without materializing M rows per (probe, cand)
    or aggregating them across a shuffle: exact long addition, so the
    sums are bit-identical to the former join + SUM(d2) shape."""
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(PQ_M - 1)),
        F.lit(0).cast("long"),
        lambda acc, m: acc
        + F.element_at(
            F.col("lut"),
            (m * PQ_K + F.element_at(F.col("code_arr"), m + 1) + 1).cast(
                "int"
            ),
        ),
    )


def pq_adc_topk(
    corpus: DataFrame,
    n_probes: int,
    k: int = 5,
) -> DataFrame:
    """Asymmetric-distance top-k (Jégou, Douze & Schmid, TPAMI 2011):
    probes stay exact, candidates are PQ codes; distance(probe, cand)
    = Σ_m LUT[probe][m][code_m(cand)] with LUT[m][c] the exact L2² from
    the probe's m-th subvector to codeword c.

    Scale shape: the LUT (one flat M·K-long array per probe — bytes,
    not vectors) is broadcast; the candidate side touches only the M
    small int codes per vector (M bytes vs 256 B fp32 — a 32× scan-I/O
    reduction, which is the entire point of PQ at 100 TB); since r12
    the Σ_m is a per-row array fold over the broadcast LUT
    (adc_d2_expr), so no (probe, cand, sub) rows are materialized and
    no (probe, cand) aggregation shuffle exists at all — the only
    shuffles left are the one-row-per-vector encode and the per-probe
    top-k window over k·n candidates."""
    from sentiflow_spark.functions.vectors import l2_sq

    cb = pq_codebook(corpus)
    probe_subs = pq_subvectors(corpus.filter(F.col("vec_id") < n_probes)).select(F.col("vec_id").alias("probe_id"), "sub_id", "subv")
    lut_rows = probe_subs.join(F.broadcast(cb), "sub_id").select(
        "probe_id",
        "sub_id",
        "code_id",
        l2_sq(F.col("subv"), F.col("cw")).alias("d2"),
    )
    luts = pq_lut_arr(lut_rows, ("probe_id",))
    codes = pq_code_arr(corpus, cb).select(
        F.col("vec_id").alias("cand_id"), "code_arr"
    )
    adc = (
        codes.join(F.broadcast(luts))
        .filter(F.col("cand_id") != F.col("probe_id"))
        .select("probe_id", "cand_id", adc_d2_expr().alias("adc_d2"))
    )
    w = W.partitionBy("probe_id").orderBy(F.asc("adc_d2"), F.asc("cand_id"))
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "cand_id", "adc_d2", "rank")
    )


def ivf_centroids(df: DataFrame) -> DataFrame:
    """(label, cent) — element-wise FLOOR-mean of each coarse bucket's
    quantized vectors, kept integer so residuals (and hence every PQ
    distance downstream) stay exact integers in both engines. floor()
    is used explicitly because DuckDB's // truncates toward zero while
    Spark's floor()... floors — the one negative-value divergence that
    would silently break cross-engine parity. The double division
    inside is exact for these magnitudes (sums << 2^53, and a rational
    p/q with q <= corpus size can't sit within half-an-ulp of a wrong
    integer)."""
    pos = df.select("label", F.posexplode(F.col("qvec")).alias("pos", "v"))
    per = pos.groupBy("label", "pos").agg(
        F.floor(F.sum("v") / F.count(F.lit(1))).cast("long").alias("c")
    )
    return per.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "c"))),
            lambda s: s.getField("c"),
        ).alias("cent")
    )


def ivfpq_residuals(df: DataFrame) -> DataFrame:
    """(id, label, qvec=residual) — each vector minus its coarse-bucket
    centroid: the IVFADC arrangement (Jégou et al., TPAMI 2011 §IV):
    PQ codes the RESIDUAL, which has far less energy than the raw
    vector, so the same code budget buys a finer quantization. The
    centroid table is labels × D integers — broadcast."""
    cents = ivf_centroids(df)
    return df.join(F.broadcast(cents), "label").select(
        "vec_id",
        "label",
        F.zip_with("qvec", "cent", lambda a, b: a - b).alias("qvec"),
    )


def ivfpq_adc_topk(
    corpus: DataFrame,
    n_probes: int,
    k: int = 5,
) -> DataFrame:
    """IVF-PQ (IVFADC) search — the production ANN index arrangement
    (what a FAISS ``IVFx,PQy`` index is): the coarse partition (label)
    prunes the candidate set to the probe's own bucket (nprobe = 1),
    and asymmetric PQ distance runs on RESIDUAL codes within it.
    Composes the two index structures this module already carries:
    sim_ivf_topk's bucket pruning and sim_pq_topk's broadcast-LUT ADC.

    Scale shape: everything pq_adc_topk claims, PLUS the candidate
    scan is 1/n_buckets of the corpus per probe — coarse pruning and
    code compression multiply, which is why this is the shape billion-
    vector deployments actually run."""
    from sentiflow_spark.functions.vectors import l2_sq

    # pinned: the residual table (corpus scan + centroid aggregate +
    # per-vector subtraction) has FIVE consumers below (codebook,
    # encode, two label joins, probe slice) — materializing residuals
    # once is exactly what a real IVFPQ index build does (r12)
    resid = ivfpq_residuals(corpus).localCheckpoint(eager=False)
    cb = pq_codebook(resid)
    codes = pq_code_arr(resid, cb).join(
        resid.select("vec_id", "label"), "vec_id"
    )
    probe_subs = pq_subvectors(resid.filter(F.col("vec_id") < n_probes)).join(resid.select("vec_id", "label"), "vec_id").select(
        F.col("vec_id").alias("probe_id"), "label", "sub_id", "subv"
    )
    lut_rows = probe_subs.join(F.broadcast(cb), "sub_id").select(
        "probe_id",
        "label",
        "sub_id",
        "code_id",
        l2_sq(F.col("subv"), F.col("cw")).alias("d2"),
    )
    luts = pq_lut_arr(lut_rows, ("probe_id", "label"))
    adc = (
        codes.select(F.col("vec_id").alias("cand_id"), "label", "code_arr")
        .join(F.broadcast(luts), "label")
        .filter(F.col("cand_id") != F.col("probe_id"))
        .select("probe_id", "cand_id", adc_d2_expr().alias("adc_d2"))
    )
    w = W.partitionBy("probe_id").orderBy(F.asc("adc_d2"), F.asc("cand_id"))
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "cand_id", "adc_d2", "rank")
    )


def ivfpq_multiprobe_topk(
    corpus: DataFrame,
    n_probes: int,
    nprobe: int,
    k: int = 5,
) -> DataFrame:
    """IVF-PQ search with MULTI-PROBE — the recall knob every IVF
    deployment tunes (FAISS's ``nprobe``): each query searches its own
    coarse bucket PLUS the nprobe-1 nearest other coarse centroids
    (exact integer L2 to the broadcast centroid table, ties to the
    lowest label; the assigned bucket is always probed first, so the
    nprobe=1 candidate set is a strict subset). Within each probed
    bucket the asymmetric-distance LUT is built against THAT bucket's
    centroid residual — the residual the bucket's codes were trained
    on (Jégou et al., TPAMI 2011 §IV; probing a bucket with the wrong
    residual frame would make distances incomparable).

    Scale shape: the index side is byte-identical to ivfpq_adc_topk
    (nothing is re-encoded); the probe side grows by a factor of
    nprobe in LUT rows (probes x nprobe x M x K tiny ints, broadcast)
    and candidate scan (nprobe/n_buckets of the corpus per probe) —
    recall is bought with a LINEAR, bounded candidate-set increase,
    never a rerank of the full corpus."""
    from sentiflow_spark.functions.vectors import l2_sq

    resid = ivfpq_residuals(corpus).localCheckpoint(eager=False)
    cb = pq_codebook(resid)
    codes = pq_code_arr(resid, cb).join(
        resid.select("vec_id", "label"), "vec_id"
    )
    cents = ivf_centroids(corpus)
    # (multi-probe's LUTs come from probe qvec × probed-bucket
    # centroids, not from resid — so resid's consumers here are the
    # codebook, the encode pass and the label join; same pin rationale)
    probes = corpus.filter(F.col("vec_id") < n_probes).select(
        F.col("vec_id").alias("probe_id"),
        F.col("label").alias("p_label"),
        F.col("qvec").alias("p_qvec"),
    )
    w_probe = W.partitionBy("probe_id").orderBy(
        (F.col("label") != F.col("p_label")).cast("int"),
        F.asc("c_d2"),
        F.asc("label"),
    )
    probed = (
        probes.crossJoin(F.broadcast(cents))
        .withColumn("c_d2", l2_sq(F.col("p_qvec"), F.col("cent")))
        .withColumn("prk", F.row_number().over(w_probe))
        .filter(F.col("prk") <= nprobe)
        .select("probe_id", "label", "p_qvec", "cent")
    )
    # per (probe, probed bucket): residual vs THAT bucket's centroid,
    # split into PQ subvectors (same Generate+slice shape as
    # pq_subvectors, with the label threaded through)
    rv = F.zip_with("p_qvec", "cent", lambda a, b: a - b)
    prv = probed.select(
        "probe_id",
        "label",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(PQ_M - 1)),
                lambda m: F.slice(rv, m * PQ_SUB + 1, PQ_SUB),
            )
        ).alias("sub_id", "subv"),
    )
    lut_rows = prv.join(F.broadcast(cb), "sub_id").select(
        "probe_id",
        "label",
        "sub_id",
        "code_id",
        l2_sq(F.col("subv"), F.col("cw")).alias("d2"),
    )
    # a candidate's single label meets at most ONE of a probe's nprobe
    # (probe, label) LUT arrays, so the per-row fold sees exactly the
    # rows the old (label, sub, code) join + SUM aggregated
    luts = pq_lut_arr(lut_rows, ("probe_id", "label"))
    adc = (
        codes.select(F.col("vec_id").alias("cand_id"), "label", "code_arr")
        .join(F.broadcast(luts), "label")
        .filter(F.col("cand_id") != F.col("probe_id"))
        .select("probe_id", "cand_id", adc_d2_expr().alias("adc_d2"))
    )
    w = W.partitionBy("probe_id").orderBy(F.asc("adc_d2"), F.asc("cand_id"))
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "cand_id", "adc_d2", "rank")
    )


def brute_force_topk_l2(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Exact squared-Euclidean top-k per probe — the ground truth the
    PQ recall gate compares against (PQ approximates L2, so the exact
    baseline must rank by the same metric, unlike the cosine ranking
    brute_force_topk produces)."""
    p = probes.select(
        F.col("vec_id").alias("probe_id"),
        F.col("qvec").alias("p_qvec"),
        F.col("qnorm").alias("p_qnorm"),
    )
    c = corpus.select(
        F.col("vec_id").alias("cand_id"),
        F.col("qvec").alias("c_qvec"),
        F.col("qnorm").alias("c_qnorm"),
    )
    d2 = (
        F.col("p_qnorm")
        - 2 * dot_long(F.col("p_qvec"), F.col("c_qvec"))
        + F.col("c_qnorm")
    ).cast("long")
    scored = (
        c.crossJoin(F.broadcast(p))
        .filter(F.col("cand_id") != F.col("probe_id"))
        .select("probe_id", "cand_id", d2.alias("d2"))
    )
    w = W.partitionBy("probe_id").orderBy(F.asc("d2"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "cand_id", "d2", "rank")
    )


def matryoshka_rerank_topk(
    corpus: DataFrame,
    probes: DataFrame,
    head_dims: int = 16,
    cand_k: int = 25,
    k: int = 5,
) -> DataFrame:
    """Two-stage adaptive retrieval over nested (Matryoshka)
    embeddings — Kusupati et al., NeurIPS 2022: unlike PQ/SQ8 (which
    quantize all dimensions) or IVF (which partitions the corpus),
    the cheap pass TRUNCATES DIMENSIONS: stage 1 scores only the
    first ``head_dims`` components of every vector and keeps
    ``cand_k`` candidate ids per probe; stage 2 joins the shortlist
    back to the corpus and reranks it with the full-dimensional
    cosine, returning the top ``k``.

    Scale shape: the candidate stage carries IDS ONLY through the
    per-probe rank (the full vector never rides the wide scoring
    join — a head_dims/dim fraction of the bytes a brute-force pass
    moves), and the rerank is an equi-join of the tiny candidate set
    (broadcast) against the corpus, touching full vectors for
    cand_k * n_probes rows total. Both stages are deterministic
    (cosine DESC, id tiebreak), so the shortlist is reproducible —
    what lets the oracle mirror it row-for-row."""
    p_head = probes.select(
        F.col("vec_id").alias("probe_id"),
        F.slice(F.col("qvec"), 1, head_dims).alias("p_hvec"),
    ).select(
        "probe_id", "p_hvec", norm_sq(F.col("p_hvec")).alias("p_hnorm")
    )
    c_head = corpus.select(
        F.col("vec_id").alias("cand_id"),
        F.slice(F.col("qvec"), 1, head_dims).alias("c_hvec"),
    ).select(
        "cand_id", "c_hvec", norm_sq(F.col("c_hvec")).alias("c_hnorm")
    )
    head_scored = (
        c_head.crossJoin(F.broadcast(p_head))
        .filter(F.col("cand_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "cand_id",
            cosine_q(
                dot_long(F.col("p_hvec"), F.col("c_hvec")),
                F.col("p_hnorm"),
                F.col("c_hnorm"),
            ).alias("head_cosine"),
        )
    )
    hw = W.partitionBy("probe_id").orderBy(
        F.desc("head_cosine"), F.asc("cand_id")
    )
    cand = (
        head_scored.withColumn("hrank", F.row_number().over(hw))
        .filter(F.col("hrank") <= cand_k)
        .select("probe_id", "cand_id")
    )
    full_c = corpus.select(
        F.col("vec_id").alias("cand_id"),
        F.col("qvec").alias("c_qvec"),
        F.col("qnorm").alias("c_qnorm"),
    )
    full_p = probes.select(
        F.col("vec_id").alias("probe_id"),
        F.col("qvec").alias("p_qvec"),
        F.col("qnorm").alias("p_qnorm"),
    )
    rr = (
        full_c.join(F.broadcast(cand), "cand_id")
        .join(F.broadcast(full_p), "probe_id")
        .select(
            "probe_id",
            "cand_id",
            cosine_q(
                dot_long(F.col("p_qvec"), F.col("c_qvec")),
                F.col("p_qnorm"),
                F.col("c_qnorm"),
            ).alias("cosine"),
        )
    )
    w = W.partitionBy("probe_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        rr.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("probe_id", "cand_id", "cosine", "rank")
    )
