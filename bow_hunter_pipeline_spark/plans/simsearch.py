"""Similarity search over embeddings — SURVEY §2 H2.

Brute-force cosine top-k as the correctness baseline, and an
IVF-bucketed variant as the scale path (search only the query's coarse
bucket — here the precomputed ``label`` plays the coarse-centroid
assignment an IVF index would give; at 100 TB the bucket column is a
partition key and the search prunes to one partition per probe).

Determinism discipline: dot products and norms are strict left folds
over the element arrays in index order (``F.aggregate`` over
``zip_with`` products). A left fold of identical doubles is the same
bits in every engine — verified against DuckDB's ``list_sum`` and a
Python reference on the full pair grid — so the SQL oracle checks
similarity values exactly, with no epsilon.

Plan shape (the part that survives a 100× scale-up): probes broadcast;
the fold runs inside whole-stage codegen per candidate row (no explode,
no per-pair shuffle); the only wide operation is the final per-probe
top-k window over scored candidates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bow_hunter_pipeline_spark import legtime
from bow_hunter_pipeline_spark.functions.localframe import local_df
from bow_hunter_pipeline_spark.io.readers import read_table

N_QUERIES = 5  # vec_id < 5 are the probe vectors
TOP_K = 10
DIM = 64


def dot_fold(a: Column | str, b: Column | str) -> Column:
    """Σ a_i·b_i as a strict left fold in double — order-pinned, so
    engine-portable bit-for-bit (see module doc)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm2_fold(a: Column | str) -> Column:
    """Σ a_i² as a strict left fold in double."""
    return F.aggregate(
        F.transform(a, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _scored_pairs(pairs: DataFrame) -> DataFrame:
    """cosine = dot/(||q||·||c||), computed per pair from the arrays
    carried on the row — one codegen'd projection, no shuffle."""
    return pairs.withColumn(
        "cosine",
        dot_fold("qe", "ce")
        / (F.sqrt(norm2_fold("qe")) * F.sqrt(norm2_fold("ce"))),
    )


def _topk(scored: DataFrame) -> DataFrame:
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("c_id"))
    return (
        scored.withColumn("rnk", F.rank().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("q_id", "c_id", "cosine", "rnk")
    )


def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H2 baseline: brute-force cosine top-k for each probe vector.

    Probes (tiny) broadcast against all candidates; scoring is a
    narrow projection; the rank window shuffles only (probe ×
    candidate) scored rows. For huge candidate sets, pre-reduce with a
    per-partition top-k before the window (same semantics).
    """
    emb = read_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    cands = emb.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("ce")
    )
    pairs = F.broadcast(probes).crossJoin(cands).filter(
        F.col("q_id") != F.col("c_id")
    )
    return _topk(_scored_pairs(pairs))


def ann_bucketed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H2 scale path: IVF-style bucketed ANN — probe only candidates
    sharing the query's coarse bucket (``label``).

    At 100 TB: ``label`` comes from a centroid-assignment job, the lake
    is partitioned by it, and this join prunes to one partition per
    probe — IVF's recall/latency trade expressed as partition pruning.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qe"),
        F.col("label").alias("q_label"),
    )
    cands = emb.select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("ce"),
        F.col("label").alias("c_label"),
    )
    pairs = (
        F.broadcast(probes)
        .join(cands, F.col("q_label") == F.col("c_label"))
        .filter(F.col("q_id") != F.col("c_id"))
    )
    return _topk(_scored_pairs(pairs))


NEAR_DUP_THRESHOLD = 0.4  # fixture max pair cosine is ~0.475; real
# near-dup deploys use ~0.95 — the threshold is policy, the plan is not


def embedding_near_dup(
    spark: SparkSession, sf_dir: str, threshold: float = NEAR_DUP_THRESHOLD
) -> DataFrame:
    """H1 embedding-cosine near-dup: pairs above a cosine threshold,
    bucket-pruned by label (near-identical vectors share a coarse
    bucket with overwhelming probability — the standard ANN-assisted
    dedup trade)."""
    emb = read_table(spark, sf_dir, "embeddings")
    a = emb.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qe"),
        F.col("label").alias("a_label"),
    )
    b = emb.select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("ce"),
        F.col("label").alias("b_label"),
    )
    pairs = a.join(
        b,
        (F.col("a_label") == F.col("b_label")) & (F.col("q_id") < F.col("c_id")),
    )
    return (
        _scored_pairs(pairs)
        .filter(F.col("cosine") >= threshold)
        .select(
            F.col("q_id").alias("a_id"),
            F.col("c_id").alias("b_id"),
            "cosine",
        )
    )


IVF_CENTROID_IDS = [10, 20, 30, 40]  # deterministic coarse centroids


def _ivf_assign(emb: DataFrame) -> DataFrame:
    """(vec_id, embedding, cell_id) IVF cell assignment — argmax by
    cosine against the K fixed centroids with ties to the lower
    centroid id. Shared by ivf_topk and the IVF-PQ composition.

    r15: unified onto the at-rest family's MAP-SIDE form
    (:func:`_ivf_cell_assign`) — the old shape crossJoined the full
    embedding payload K-fold through a BroadcastNestedLoopJoin and
    ranked the K copies with a row_number window (a vec_id exchange +
    sort carrying the embeddings, §2.4/§3); now assignment is K fused
    dot products inside the scan projection, with the identical
    (acos DESC, cent_id ASC, NaN-greatest) order folded into one
    array_max over (acos, -cent_id) structs.

    The spread guard below matters precisely BECAUSE the exchange is
    gone: the old window shuffle accidentally re-parallelized the
    single-split local fixture scan, so removing it fused the whole
    downstream serve pipeline (assignment + cell join + pair scoring)
    into the scan's one task (measured at 10×: a 1.96 s single-task
    job). spread_small_scan restores the parallelism explicitly and
    is the identity once the scan has >= parallelism/2 splits
    (guide §2.5)."""
    from bow_hunter_pipeline_spark.operators.scale import spread_small_scan

    emb = spread_small_scan(emb, emb.sparkSession)
    return _ivf_cell_assign(emb, emb)


def ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H2 IVF with a *computed* coarse quantizer (vs ann_bucketed_topk,
    which trusts a precomputed bucket): assign every vector to its
    nearest of K fixed centroids by cosine, then search only the
    probe's cell.

    Real IVF trains centroids with k-means; here they are a fixed,
    deterministic subset of the data (vec_ids 10/20/30/40) so the
    oracle can replay the exact assignment. The structure is the
    production one: assignment = broadcast cross-score against K
    centroids + argmax (row_number over a K-row window per vector,
    ties to the lower centroid id), then cell-colocated candidate
    join. At 100 TB the assignment is a one-pass narrow map (K
    dot-products per row), the lake is written partitioned by cell_id,
    and each probe reads one cell — nprobe=1 IVF as partition pruning.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    assigned = _ivf_assign(emb)
    probes = assigned.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qe"),
        F.col("cell_id").alias("q_cell"),
    )
    cands = assigned.select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("ce"),
        F.col("cell_id").alias("c_cell"),
    )
    pairs = (
        F.broadcast(probes)
        .join(cands, F.col("q_cell") == F.col("c_cell"))
        .filter(F.col("q_id") != F.col("c_id"))
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("c_id")
    )
    return (
        _scored_pairs(pairs)
        .withColumn("rnk", F.rank().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("q_id", "c_id", F.col("q_cell").alias("cell_id"), "cosine", "rnk")
    )


PQ_SUBSPACES = 4  # M subquantizers
PQ_SUBDIM = DIM // PQ_SUBSPACES  # dims per subspace
PQ_CENTROID_IDS = (11, 22, 33, 44, 55, 66, 77, 88)  # deterministic codebook


def _l2_sub(a: str, b: str) -> Column:
    """Squared L2 between the ``s``-th subvectors of two array columns
    (s from the row), as an order-pinned left fold in double."""
    return F.aggregate(
        F.zip_with(
            F.expr(f"slice({a}, s * {PQ_SUBDIM} + 1, {PQ_SUBDIM})"),
            F.expr(f"slice({b}, s * {PQ_SUBDIM} + 1, {PQ_SUBDIM})"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _pq_dists(emb: DataFrame) -> DataFrame:
    """(vec_id, embedding, s, cent_id, d) subspace-distance frame —
    every vector's L2² to each of the 8 codebook entries in each of
    the M subspaces. Codes = argmin per (vec_id, s); probe distance
    tables = the probe rows as-is. Shared by pq_topk and the IVF-PQ
    composition."""
    cent = emb.filter(F.col("vec_id").isin(*PQ_CENTROID_IDS)).select(
        F.col("vec_id").alias("cent_id"), F.col("embedding").alias("cvec")
    )
    sub = emb.select(
        "vec_id",
        "embedding",
        F.explode(F.sequence(F.lit(0), F.lit(PQ_SUBSPACES - 1))).alias("s"),
    )
    return sub.join(F.broadcast(cent)).withColumn(
        "d", _l2_sub("embedding", "cvec")
    )


def pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H2 product quantization (PQ) — the memory-bound leg of the ANN
    triad (brute-force = compute-bound baseline, IVF = partition
    pruning, PQ = compressed-domain scoring). Each vector is encoded as
    M=4 subspace codes (nearest of 8 codebook entries per 16-dim
    slice); probes score candidates with the standard asymmetric
    distance (ADC): sum over subspaces of L2²(probe subvector, the
    candidate's assigned centroid subvector) — candidates' full vectors
    are never touched at query time.

    Real PQ trains the codebook with k-means; here it is a fixed,
    deterministic subset of the data (vec_ids 11..88) so the oracle
    replays the exact encoding. Determinism: subspace distances are
    order-pinned folds; the 4-term ADC sum is a fixed-shape expression
    ``((d0+d1)+d2)+d3`` (one bound value per term via single-row
    conditional sums), so every float op has a pinned order.

    Scale: encoding is one narrow pass (M×K fold evaluations per row)
    producing a 4-byte-ish code per vector — the 100 TB win is that
    the candidate side of query-time scoring reads ONLY (vec_id,
    code_s) columns; the probe distance table (M×K rows per probe)
    broadcasts.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    dists = _pq_dists(emb)
    aw = Window.partitionBy("vec_id", "s").orderBy(F.col("d"), F.col("cent_id"))
    codes = (
        dists.withColumn("rn", F.row_number().over(aw))
        .filter(F.col("rn") == 1)
        .select("vec_id", "s", F.col("cent_id").alias("code"))
    )
    ptab = dists.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), "s", F.col("cent_id").alias("code"), "d"
    )
    joined = codes.join(F.broadcast(ptab), ["s", "code"]).filter(
        F.col("vec_id") != F.col("q_id")
    )
    terms = [
        F.sum(F.when(F.col("s") == i, F.col("d"))).alias(f"d{i}")
        for i in range(PQ_SUBSPACES)
    ]
    summed = joined.groupBy("q_id", F.col("vec_id").alias("c_id")).agg(*terms)
    dist = (
        (F.col("d0") + F.col("d1")) + F.col("d2")
    ) + F.col("d3")
    w = Window.partitionBy("q_id").orderBy(F.col("approx_dist"), F.col("c_id"))
    return (
        summed.withColumn("approx_dist", dist)
        .withColumn("rnk", F.rank().over(w).cast("int"))
        .filter(F.col("rnk") <= TOP_K)
        .select("q_id", "c_id", "approx_dist", "rnk")
    )


def int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H2: symmetric int8 quantization of the embedding store — what a
    100 TB vector lake actually persists (4× smaller than float32,
    scan-speed dot products in the compressed domain; PQ's cheaper
    cousin). Per vector: scale = max|v|/127, q_i = round(v_i/scale),
    plus the reconstruction-error summary that decides whether int8 is
    acceptable for a given corpus.

    Shape: pure map-side projection over higher-order array functions —
    no shuffle, no Python. Exactness: round() is half-away-from-zero on
    doubles in both Spark and DuckDB; the L2 error is a strict
    left fold in double (the dot_fold discipline — same adds in the
    same order in any engine), so results are bit-stable.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(v, F.abs)) / F.lit(127.0)
    # guard the all-zero vector: emit NULLs rather than inf/NaN
    scale = F.when(scale != 0, scale)
    q = F.transform(v, lambda x: F.round(x / scale).cast("int"))
    err = F.transform(v, lambda x: x - F.round(x / scale) * scale)
    l2_err = F.aggregate(
        F.transform(err, lambda e: e * e),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    q_sum = F.aggregate(
        q, F.lit(0).cast("bigint"), lambda acc, x: acc + x.cast("bigint")
    )
    return emb.select(
        "vec_id",
        scale.alias("scale"),
        q_sum.alias("q_sum"),
        F.array_min(q).alias("q_min"),
        F.array_max(q).alias("q_max"),
        l2_err.alias("l2_err"),
    )


MMR_K = 5
MMR_POOL = 20
MMR_LAMBDA = 0.7


def mmr_rerank(
    spark: SparkSession, sf_dir: str, k: int = MMR_K
) -> DataFrame:
    """H2: Maximal Marginal Relevance re-rank — diversified top-k.

    Retrieval for training-data curation wants coverage, not K copies
    of the same neighborhood: MMR greedily picks
    argmax λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s).

    Shape: candidate generation is the distributed part (brute-force
    pool of MMR_POOL per probe — swap in the IVF path at scale); the
    re-rank is inherently sequential in k but tiny (pool × dim per
    probe), so it runs as one grouped-map Pandas batch per probe:
    Arrow-shipped, vectorized numpy inside, deterministic tie-break on
    c_id. This is the canonical "distribute the recall, localize the
    re-rank" retrieval split.

    SQL oracle (NEW r12 — retires the registry's last rows-only row):
    the greedy chain at bounded k is a sequential fold, replayed by a
    DuckDB recursive CTE (``oracles_h.MMR_RERANK``) that picks one
    argmax row per probe per iteration. For the hash to be BIT-exact
    the two engines must perform the same float ops in the same
    order, so the PRODUCTION side of this UDF is the deterministic
    scalar greedy: norms and dots are strict left folds in double
    (the module's dot_fold discipline — ``list_sum`` over a
    transform in DuckDB folds identically), unit division and the
    λ·rel − (1−λ)·max-sim combination are single IEEE ops. The
    numpy/BLAS vectorized greedy is retained as the IN-QUERY
    cross-check (VERDICT r10 ask #4's dual-implementation property,
    roles swapped): any divergence in the (c_id, rank) chain raises
    unless the vectorized-side score gap is within the BLAS
    pairwise-reduction band (0 < gap ≤ 1e-9); an EXACT tie (gap == 0)
    must agree on the smallest c_id — a tie-break slip is precisely
    what the second implementation exists to catch (ADVICE r11 #1).
    The two implementations share only the input pool, so a
    vectorization bug, a tie-break slip, or a max-axis mistake in
    either one crashes the query instead of shipping a
    plausible-but-wrong ranking.
    """
    import numpy as np
    import pandas as pd

    emb = read_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    cands = emb.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("ce")
    )
    pairs = (
        F.broadcast(probes)
        .crossJoin(cands)
        .filter(F.col("q_id") != F.col("c_id"))
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("c_id")
    )
    pool = (
        _scored_pairs(pairs)
        .withColumn("rnk", F.rank().over(w))
        .filter(F.col("rnk") <= MMR_POOL)
        .select("q_id", "c_id", "ce", "cosine")
    )

    def _mmr(pdf: pd.DataFrame) -> pd.DataFrame:
        import math

        pdf = pdf.sort_values(["cosine", "c_id"], ascending=[False, True])
        q_id = int(pdf["q_id"].iloc[0])
        c_ids = pdf["c_id"].to_numpy()
        rel_col = pdf["cosine"].to_numpy()
        # PRODUCTION: deterministic scalar greedy. Every float op is a
        # strict left fold / single IEEE op so the recursive-CTE
        # oracle reproduces each emitted double bit-for-bit.
        rows = list(
            zip(
                (int(c) for c in c_ids),
                (list(map(float, v)) for v in pdf["ce"]),
                (float(r) for r in rel_col),
            )
        )
        units = []
        for _, vec, _r in rows:
            n2 = 0.0
            for x in vec:
                n2 += x * x
            n = math.sqrt(n2) or 1.0
            units.append([x / n for x in vec])
        sel: list[int] = []
        out = []
        for rank in range(1, min(k, len(rows)) + 1):
            best_i, best_key, best_sc = None, None, None
            for i, (cid, _vec, r) in enumerate(rows):
                if i in sel:
                    continue
                div = 0.0 if not sel else max(
                    sum(a * bb for a, bb in zip(units[i], units[j]))
                    for j in sel
                )
                sc = MMR_LAMBDA * r - (1.0 - MMR_LAMBDA) * div
                key = (-sc, cid)
                if best_key is None or key < best_key:
                    best_i, best_key, best_sc = i, key, sc
            sel.append(best_i)
            out.append(
                (q_id, rows[best_i][0], rows[best_i][2], best_sc, rank)
            )
        # CROSS-CHECK: independently-written numpy/BLAS greedy must
        # re-derive the same (c_id, rank) chain. BLAS reduces dots
        # pairwise, so scores within ~1e-9 may legitimately swap —
        # but an EXACT tie (gap == 0) has no rounding excuse: both
        # sides must then break it to the smallest c_id (ADVICE r11).
        vecs = np.stack(pdf["ce"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(vecs, axis=1)
        norms[norms == 0.0] = 1.0
        unit = vecs / norms[:, None]
        chosen: list[int] = []
        for rank in range(1, min(k, len(rows)) + 1):
            if chosen:
                div_v = (unit @ unit[chosen].T).max(axis=1)
            else:
                div_v = np.zeros(len(rows))
            score = MMR_LAMBDA * rel_col - (1.0 - MMR_LAMBDA) * div_v
            score[chosen] = -np.inf
            best_v = min(
                range(len(rows)), key=lambda i: (-score[i], c_ids[i])
            )
            prod_i = sel[rank - 1]
            if best_v != prod_i:
                gap = float(score[best_v] - score[prod_i])
                if gap == 0.0 or gap > 1e-9:
                    raise AssertionError(
                        f"MMR implementations diverge at q_id={q_id} "
                        f"rank={rank}: scalar chose "
                        f"c_id={rows[prod_i][0]}, vectorized chose "
                        f"c_id={int(c_ids[best_v])} (gap={gap!r})"
                    )
            # follow the production choice so the rest of the chain
            # is compared on the same selected-set state
            chosen.append(prod_i)
        return pd.DataFrame(
            out, columns=["q_id", "c_id", "relevance", "mmr_score", "mmr_rank"]
        )

    schema = (
        "q_id bigint, c_id bigint, relevance double, "
        "mmr_score double, mmr_rank int"
    )
    return pool.groupBy("q_id").applyInPandas(_mmr, schema)


def mmr_rerank_k1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H2: oracle-matched degenerate twin of :func:`mmr_rerank` — the
    SAME grouped-map greedy implementation run at k=1, where the
    chain collapses to pure argmax (the diversity term is zero before
    the first pick, so mmr_score = λ·cosine and the selection is the
    top-1 by (cosine desc, c_id)). That IS one-statement SQL, so this
    row upgrades the MMR machinery from rows-only to a value-level
    hash check: pool construction, Arrow round-trip, numpy scoring,
    and tie-break all sit on the checked path; only the k>1 diversity
    recursion remains SQL-inexpressible (covered by the differential
    unit test and the rows-only driver row)."""
    return mmr_rerank(spark, sf_dir, k=1)


# --- SemDeDup: k-means partition + within-cluster near-dup ------------

SEM_K = 8  # clusters; deterministic seeds = vec_id < SEM_K
SEM_SCALE = 1_000_000  # fixed-point scale for exact centroid math
SEM_TAU = NEAR_DUP_THRESHOLD  # within-cluster semantic-dup cosine


def _scaled_vec(col: Column | str) -> Column:
    """Embedding → fixed-point bigint vector: floor(e·10^6).

    floor(double) is IEEE-identical in every engine, and all
    downstream centroid math (sums, counts, floor-of-mean) is integer
    arithmetic on these — order-insensitive and bit-portable, unlike
    a float mean whose value depends on reduction order.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(
        c,
        lambda e: F.floor(e.cast("double") * F.lit(float(SEM_SCALE))).cast(
            "bigint"
        ),
    )


def _assign_nearest(vecs: DataFrame, cents_row: DataFrame) -> DataFrame:
    """Narrow argmin assignment: score each vector against the K-entry
    centroid array carried on a broadcast single-row frame.

    No shuffle: the centroid list is one tiny row (K structs), so the
    cross join is a broadcast and the argmin is a codegen'd
    ``array_min`` over per-centroid squared distances (struct ordering
    = (distance, cluster_id): deterministic low-id tie-break). Exact:
    distances are bigint sums, max (2.1e6)²·64 ≈ 2.8e14 ≪ 2^63.
    """
    best = F.array_min(
        F.transform(
            F.col("cents"),
            lambda s: F.struct(
                F.aggregate(
                    F.zip_with(
                        F.col("xi"), s["m"], lambda a, b: (a - b) * (a - b)
                    ),
                    F.lit(0).cast("bigint"),
                    lambda acc, v: acc + v,
                ).alias("d"),
                s["c"].alias("c"),
            ),
        )
    )
    return vecs.crossJoin(F.broadcast(cents_row)).select(
        "vec_id", "embedding", "xi", best["c"].alias("cluster")
    )


# A cluster of n vectors yields ~n²/2 candidate pairs, all landing on
# ONE shuffle partition (the join key is the cluster id). Above this
# size the pair join is salted: the probe side spreads over SEM_SALTS
# partitions, the mate side replicates SEM_SALTS× — a mega-cluster
# straggler becomes SEM_SALTS parallel tasks. 2000 vectors ≈ 2M pair
# rows, a comfortable single-task slice; tune down for wide vectors.
SEM_SALT_THRESHOLD = 2000
SEM_SALTS = 8


def _within_cluster_pairs(
    assigned: DataFrame,
    *,
    salt_threshold: int = SEM_SALT_THRESHOLD,
    n_salts: int = SEM_SALTS,
) -> DataFrame:
    """Within-cluster candidate pairs (b_id < a_id) for the SemDeDup
    verify stage, with the skew guard the module docstring prescribes:
    clusters larger than ``salt_threshold`` take the salted self-join
    (operators.scale.salted_join — probe side spread by vec_id hash,
    mate side replicated per salt), the rest take the plain equi-join.
    Pair semantics are identical on both paths; only the exchange
    layout differs, so the union is safe and the oracle unchanged.

    The size split itself is one count per cluster (map-side combined)
    and the big-cluster id list is dimension-sized → broadcast.
    """
    from bow_hunter_pipeline_spark.operators.scale import salted_join

    mine = assigned.select(
        F.col("cluster").alias("cl"),
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("qe"),
    )
    mate = assigned.select(
        F.col("cluster").alias("cl"),
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("ce"),
    )
    big = (
        assigned.groupBy(F.col("cluster").alias("cl"))
        .agg(F.count(F.lit(1)).alias("__cn"))
        .filter(F.col("__cn") > salt_threshold)
        .select("cl")
    )
    plain = mine.join(F.broadcast(big), "cl", "left_anti").join(
        mate.join(F.broadcast(big), "cl", "left_anti"), "cl"
    )
    salted = salted_join(
        mine.join(F.broadcast(big), "cl", "left_semi"),
        mate.join(F.broadcast(big), "cl", "left_semi"),
        ["cl"],
        n_salts=n_salts,
        left_salt_from=F.col("a_id"),
    )
    return plain.unionByName(salted).filter(F.col("b_id") < F.col("a_id"))


def semdedup_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H1/H2 SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means
    the embedding space, then mark semantic duplicates only WITHIN a
    cluster — clustering turns the O(n²) all-pairs cosine scan into
    Σ|cluster|², the same candidate-bounding trick LSH plays for
    lexical dedup.

    One Lloyd round, fully declarative: seed centroids = the first
    SEM_K vectors; assign (narrow argmin, no shuffle — see
    _assign_nearest); recompute centroids by exploding dims and
    summing fixed-point ints (order-insensitive, so the oracle matches
    bit-for-bit — a float mean would depend on partition order);
    re-assign; then a within-cluster self-join marks a vector
    semantic-dup when a lower-id cluster-mate has cosine ≥ SEM_TAU.

    Scale: the dim explode is narrow with map-side partial aggregation
    (K·DIM running sums per task); assignment broadcasts K structs;
    the only data-sized shuffles are the centroid groupBy and the
    within-cluster join, both keyed on cluster. Mega-cluster skew is
    handled in ``_within_cluster_pairs``: clusters above
    SEM_SALT_THRESHOLD take a salted self-join (probe side spread over
    SEM_SALTS partitions). Returns per-cluster
    totals: (cluster_id, n_vecs, n_sem_dups, n_kept, min_vec_id).
    """
    emb = read_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id", "embedding", _scaled_vec("embedding").alias("xi")
    )

    seeds = vecs.filter(F.col("vec_id") < SEM_K).select(
        F.col("vec_id").alias("c"), F.col("xi").alias("m")
    )
    seed_row = seeds.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("c", "m"))).alias("cents")
    )
    a1 = _assign_nearest(vecs, seed_row)

    # Centroid recompute in fixed point: explode dims → exact integer
    # sums → floor(mean). floor(double-division) is exact here: sums
    # fit 2^53 and a non-integer quotient sits ≥ 1/n from an integer,
    # far outside double rounding error.
    dims = a1.select("cluster", F.posexplode("xi").alias("i", "v"))
    sums = dims.groupBy("cluster", "i").agg(
        F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")
    )
    cents2 = sums.groupBy("cluster").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "s", "n"))),
            lambda t: F.floor(
                t["s"].cast("double") / t["n"].cast("double")
            ).cast("bigint"),
        ).alias("m")
    )
    cent_row2 = cents2.groupBy().agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("cluster").alias("c"), "m"))
        ).alias("cents")
    )
    a2 = _assign_nearest(vecs, cent_row2)

    dup_ids = (
        _within_cluster_pairs(a2)
        .withColumn(
            "cosine",
            dot_fold("qe", "ce")
            / (F.sqrt(norm2_fold("qe")) * F.sqrt(norm2_fold("ce"))),
        )
        .filter(F.col("cosine") >= F.lit(SEM_TAU))
        .select(F.col("a_id").alias("vec_id"))
        .distinct()
    )
    marked = a2.join(
        dup_ids.withColumn("is_dup", F.lit(1)), "vec_id", "left"
    )
    return marked.groupBy(F.col("cluster").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(F.coalesce(F.col("is_dup"), F.lit(0))).alias("n_sem_dups"),
        (
            F.count(F.lit(1))
            - F.sum(F.coalesce(F.col("is_dup"), F.lit(0)))
        ).alias("n_kept"),
        F.min("vec_id").alias("min_vec_id"),
    )


def ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H2: recall@k audit — the standard ANN quality metric: for each
    probe, |bucketed-ANN top-k ∩ exact top-k| / k. This is the query a
    retrieval team runs after every index build; here both sides are
    deterministic plans, so the audit itself is oracle-checkable.

    Shape: the two top-k plans (brute-force = ground truth, bucketed =
    candidate) join on (q_id, c_id); one tiny aggregate per probe.
    Scale: ground truth on a SAMPLE of probes (here all 5) — recall
    audits never run the exact scan over the full corpus; the sampled
    exact side is the only expensive leg and it is bounded by the
    probe count.
    """
    exact = cosine_topk(spark, sf_dir).select(
        "q_id", "c_id", F.lit(1).alias("in_exact")
    )
    approx = ann_bucketed_topk(spark, sf_dir).select(
        "q_id", "c_id", F.lit(1).alias("in_ann")
    )
    return (
        exact.join(approx, ["q_id", "c_id"], "full")
        .groupBy("q_id")
        .agg(
            F.sum(F.coalesce("in_exact", F.lit(0))).alias("n_exact"),
            F.sum(F.coalesce("in_ann", F.lit(0))).alias("n_ann"),
            F.sum(
                F.when(
                    F.col("in_exact").isNotNull()
                    & F.col("in_ann").isNotNull(),
                    1,
                ).otherwise(0)
            ).alias("n_hit"),
        )
        .withColumn(
            "recall_at_k",
            F.col("n_hit").cast("double") / F.col("n_exact").cast("double"),
        )
    )


def ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H2: IVF-PQ — the two scale legs composed into the production
    ANN stack (Jégou et al., "Product Quantization for Nearest
    Neighbor Search", TPAMI 2011 — the FAISS ``IVFADC`` index): IVF
    cells prune WHICH candidates are scored, PQ codes decide HOW —
    asymmetric distance against the candidate's code, never its full
    vector. Probes search only their own cell (nprobe=1, as ivf_topk).

    Structure = _ivf_assign × _pq_dists, glued by putting the cell id
    INTO the code-join key: candidates hash-join the broadcast probe
    distance table on (s, code, cell_id), so a candidate outside the
    probe's cell never enters the ADC aggregate. Determinism: the ADC
    sum is the pq_topk fixed-shape ((d0+d1)+d2)+d3 expression.

    Scale: this is what a 100 TB vector lake actually deploys — the
    lake is partitioned by cell_id (the IVF list), each cell stores
    only (vec_id, codes), a probe reads one cell's code column and
    broadcasts an M×K distance table. Neither full-vector I/O nor
    cross-cell shuffles exist at query time.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    cells = _ivf_assign(emb).select("vec_id", "cell_id")
    dists = _pq_dists(emb)

    aw = Window.partitionBy("vec_id", "s").orderBy(F.col("d"), F.col("cent_id"))
    codes = (
        dists.withColumn("rn", F.row_number().over(aw))
        .filter(F.col("rn") == 1)
        .select("vec_id", "s", F.col("cent_id").alias("code"))
    ).join(cells, "vec_id")
    ptab = dists.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), "s", F.col("cent_id").alias("code"), "d"
    ).join(
        cells.select(F.col("vec_id").alias("q_id"), "cell_id"), "q_id"
    )
    joined = codes.join(F.broadcast(ptab), ["s", "code", "cell_id"]).filter(
        F.col("vec_id") != F.col("q_id")
    )
    terms = [
        F.sum(F.when(F.col("s") == i, F.col("d"))).alias(f"d{i}")
        for i in range(PQ_SUBSPACES)
    ]
    summed = joined.groupBy(
        "q_id", F.col("vec_id").alias("c_id"), "cell_id"
    ).agg(*terms)
    dist = ((F.col("d0") + F.col("d1")) + F.col("d2")) + F.col("d3")
    w = Window.partitionBy("q_id").orderBy(F.col("approx_dist"), F.col("c_id"))
    return (
        summed.withColumn("approx_dist", dist)
        .withColumn("rnk", F.rank().over(w).cast("int"))
        .filter(F.col("rnk") <= TOP_K)
        .select("q_id", "c_id", "cell_id", "approx_dist", "rnk")
    )


def kmeans_convergence_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H1/H2: k-means convergence monitoring — the between-iteration
    drift report a clustering job emits to decide when to stop: per
    cluster, the exact L1 centroid shift between the seed centroids
    and the round-1 recompute, the cluster's population at both
    assignments, and how many vectors MOVED into the cluster. All in
    the fixed-point integer space of semdedup_kmeans (shifts are exact
    bigint sums; no float tolerance anywhere), so the whole
    convergence trace is oracle-checkable — rare for k-means tooling.

    Shape: the same two broadcast-argmin assignment passes as
    semdedup_kmeans (narrow, no shuffle), the dim-explode centroid
    recompute (one map-side-combined shuffle), then three tiny
    cluster-keyed aggregates. Nothing here grows faster than K·DIM.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id", "embedding", _scaled_vec("embedding").alias("xi")
    )
    seeds = vecs.filter(F.col("vec_id") < SEM_K).select(
        F.col("vec_id").alias("c"), F.col("xi").alias("m")
    )
    seed_row = seeds.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("c", "m"))).alias("cents")
    )
    a1 = _assign_nearest(vecs, seed_row)

    dims = a1.select("cluster", F.posexplode("xi").alias("i", "v"))
    sums = dims.groupBy("cluster", "i").agg(
        F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")
    )
    cents2 = sums.groupBy("cluster").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "s", "n"))),
            lambda t: F.floor(
                t["s"].cast("double") / t["n"].cast("double")
            ).cast("bigint"),
        ).alias("m2")
    )
    cent_row2 = cents2.groupBy().agg(
        F.array_sort(
            F.collect_list(
                F.struct(F.col("cluster").alias("c"), F.col("m2").alias("m"))
            )
        ).alias("cents")
    )
    a2 = _assign_nearest(vecs, cent_row2)

    l1 = F.aggregate(
        F.zip_with(F.col("m2"), F.col("m"), lambda a, b: F.abs(a - b)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    shift = (
        cents2.join(seeds, cents2.cluster == seeds.c)
        .select(F.col("cluster").alias("cluster_id"), l1.alias("l1_shift"))
    )
    n1 = a1.groupBy(F.col("cluster").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n_a1")
    )
    n2 = a2.groupBy(F.col("cluster").alias("cluster_id")).agg(
        F.count(F.lit(1)).alias("n_a2")
    )
    moved = (
        a1.select("vec_id", F.col("cluster").alias("c1"))
        .join(a2.select("vec_id", F.col("cluster").alias("c2")), "vec_id")
        .filter(F.col("c1") != F.col("c2"))
        .groupBy(F.col("c2").alias("cluster_id"))
        .agg(F.count(F.lit(1)).alias("n_moved_in"))
    )
    return (
        shift.join(n1, "cluster_id", "left")
        .join(n2, "cluster_id", "left")
        .join(moved, "cluster_id", "left")
        .select(
            "cluster_id",
            "l1_shift",
            F.coalesce("n_a1", F.lit(0)).alias("n_a1"),
            F.coalesce("n_a2", F.lit(0)).alias("n_a2"),
            F.coalesce("n_moved_in", F.lit(0)).alias("n_moved_in"),
        )
    )


RRF_K = 60  # the standard reciprocal-rank-fusion constant
RRF_LEG_TOP = 20  # depth of each leg's candidate list
RRF_FUSE_TOP = 10


def hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H2: hybrid retrieval — the lexical leg (shared distinct tokens
    between probe and candidate documents) and the vector leg (cosine
    over embeddings) fused with Reciprocal Rank Fusion
    (Cormack et al., SIGIR 2009): score = Σ_legs 1/(60 + rank). The
    architecture every production RAG stack ships — BM25-ish recall
    union'd with ANN recall, rank-fused so neither leg's score scale
    dominates.

    Corpus = documents ⋈ embeddings on id (candidates must have both a
    text and a vector); probes are the first N_QUERIES ids. Each leg
    ranks its own top-20 with deterministic (score desc, id)
    tie-breaks; fusion is a full-outer join of the two lists with a
    fixed-shape two-term sum (1/(60+r) is exact IEEE on int ranks).

    Scale: the lexical leg joins on token (collision-sized, probe side
    broadcast); the vector leg is the bounded-probe broadcast scan
    (cosine_topk's shape; swap in the IVF/PQ leg unchanged); fusion
    touches 2×20 rows per probe.
    """
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    corpus = docs.join(emb, docs.doc_id == emb.vec_id).select(
        "doc_id", "text", "embedding"
    )
    probes = corpus.filter(F.col("doc_id") < N_QUERIES).select(
        F.col("doc_id").alias("q_id"),
        F.col("text").alias("q_text"),
        F.col("embedding").alias("qe"),
    )
    cands = corpus.select(
        F.col("doc_id").alias("c_id"),
        F.col("text").alias("c_text"),
        F.col("embedding").alias("ce"),
    )

    qt = probes.select(
        "q_id",
        F.explode(F.array_distinct(F.split("q_text", " "))).alias("token"),
    )
    ct = cands.select(
        "c_id",
        F.explode(F.array_distinct(F.split("c_text", " "))).alias("token"),
    )
    shared = (
        F.broadcast(qt)
        .join(ct, "token")
        .filter(F.col("q_id") != F.col("c_id"))
        .groupBy("q_id", "c_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    wl = Window.partitionBy("q_id").orderBy(
        F.col("n_shared").desc(), F.col("c_id")
    )
    lex = (
        shared.withColumn("rl", F.row_number().over(wl))
        .filter(F.col("rl") <= RRF_LEG_TOP)
        .select("q_id", "c_id", "rl")
    )

    vec_pairs = (
        F.broadcast(probes.select("q_id", "qe"))
        .crossJoin(cands.select("c_id", "ce"))
        .filter(F.col("q_id") != F.col("c_id"))
    )
    wv = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("c_id")
    )
    vec = (
        _scored_pairs(vec_pairs)
        .withColumn("rv", F.row_number().over(wv))
        .filter(F.col("rv") <= RRF_LEG_TOP)
        .select("q_id", "c_id", "rv")
    )

    fused = lex.join(vec, ["q_id", "c_id"], "full_outer")
    score = F.coalesce(
        F.lit(1.0) / (F.lit(RRF_K) + F.col("rl")), F.lit(0.0)
    ) + F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("rv")), F.lit(0.0))
    wf = Window.partitionBy("q_id").orderBy(
        F.col("rrf_score").desc(), F.col("c_id")
    )
    return (
        fused.withColumn("rrf_score", score)
        .withColumn("rnk", F.row_number().over(wf))
        .filter(F.col("rnk") <= RRF_FUSE_TOP)
        .select("q_id", "c_id", "rrf_score", "rnk")
    )


MRL_DIM = 16  # truncated prefix dimensionality (vs full DIM=64)


def matryoshka_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H2: Matryoshka truncation audit (Kusupati et al., "Matryoshka
    Representation Learning", NeurIPS 2022 — serve the first d dims of
    an embedding as a cheaper index): per probe, recall@k of top-k
    computed on the FIRST 16 DIMS against top-k on the full 64 — the
    measurement that decides how far a vector store can truncate
    before quality drops. Same deterministic-fold machinery as the
    ANN recall audit; both rankings and the recall are hash-exact.

    Scale: the truncated leg reads/folds a quarter of the vector
    bytes — at 100 TB that is the difference between an in-memory and
    a spilled index; the audit itself is bounded by the probe count.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    cands = emb.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("ce")
    )
    pairs = F.broadcast(probes).crossJoin(cands).filter(
        F.col("q_id") != F.col("c_id")
    )

    def leg(score_col, name):
        w = Window.partitionBy("q_id").orderBy(
            F.col(name).desc(), F.col("c_id")
        )
        return (
            pairs.withColumn(name, score_col)
            .withColumn("rnk", F.rank().over(w))
            .filter(F.col("rnk") <= TOP_K)
            .select("q_id", "c_id")
        )

    full_cos = dot_fold("qe", "ce") / (
        F.sqrt(norm2_fold("qe")) * F.sqrt(norm2_fold("ce"))
    )
    tq = F.slice(F.col("qe"), 1, MRL_DIM)
    tc = F.slice(F.col("ce"), 1, MRL_DIM)
    trunc_cos = dot_fold(tq, tc) / (
        F.sqrt(norm2_fold(tq)) * F.sqrt(norm2_fold(tc))
    )
    full = leg(full_cos, "cos_full").withColumn("in_full", F.lit(1))
    trunc = leg(trunc_cos, "cos_trunc").withColumn("in_trunc", F.lit(1))
    joined = full.join(trunc, ["q_id", "c_id"], "full_outer")
    return joined.groupBy("q_id").agg(
        F.sum(F.coalesce("in_full", F.lit(0))).alias("n_full"),
        F.sum(F.coalesce("in_trunc", F.lit(0))).alias("n_trunc"),
        (
            F.sum(
                (
                    F.col("in_full").isNotNull()
                    & F.col("in_trunc").isNotNull()
                ).cast("int")
            ).cast("double")
            / F.lit(float(TOP_K))
        ).alias("recall_at_k"),
    )


FILTER_LANG = "en"


def filtered_vector_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H2: metadata-FILTERED vector search — top-k restricted to
    candidates whose joined document metadata passes a predicate
    (lang = 'en'), the capability every production vector store names
    ("filtered ANN") and the classic pre-filter-vs-post-filter trade:
    post-filtering a top-k can return fewer than k rows, so the
    filter must intersect the CANDIDATE set before ranking — which is
    exactly what the plan does (metadata join + predicate upstream of
    the score window).

    Scale: the metadata side is the documents table joined on id —
    at lake scale the filter column lives WITH the vectors
    (denormalized at index build) and prunes before any distance is
    computed; here the join stands in for that, and the bounded probe
    broadcast is unchanged from cosine_topk.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "lang")
    probes = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    cands = (
        emb.join(docs, emb.vec_id == docs.doc_id)
        .filter(F.col("lang") == FILTER_LANG)
        .select(F.col("vec_id").alias("c_id"), F.col("embedding").alias("ce"))
    )
    pairs = F.broadcast(probes).crossJoin(cands).filter(
        F.col("q_id") != F.col("c_id")
    )
    return _topk(_scored_pairs(pairs))


def filtered_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H2: metadata filter composed INTO the IVF index — the
    production refinement of :func:`filtered_vector_search`, which
    pre-filters but then brute-forces the whole filtered set. Here
    the filter column (lang) is denormalized NEXT TO the IVF cell
    assignment — the join happens once at index build, exactly how a
    lake-scale vector index stores per-row metadata — so at query
    time the predicate prunes candidates INSIDE the probe's cell,
    below any distance computation: candidates = one cell ∩ lang,
    never all-cells ∩ lang (filtered_vector_search) nor a post-filter
    of an unfiltered top-k (which can return < k rows for no reason
    the user can see).

    Plan: lang predicate sits on the candidate side upstream of the
    cosine fold and the rank window (test-asserted); probes broadcast;
    the only wide op is the per-probe rank over cell-local, filter-
    surviving rows. At 100 TB: index table partitioned by cell_id
    with lang as a row-group column — the scan reads one partition
    and skips row groups by the pushed lang filter.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "lang")
    # index build: assignment + denormalized filter column
    indexed = _ivf_assign(emb).join(
        docs, F.col("vec_id") == F.col("doc_id")
    ).select("vec_id", "embedding", "cell_id", "lang")
    probes = indexed.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qe"),
        F.col("cell_id").alias("q_cell"),
    )
    cands = indexed.filter(F.col("lang") == FILTER_LANG).select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("ce"),
        F.col("cell_id").alias("c_cell"),
    )
    pairs = (
        F.broadcast(probes)
        .join(cands, F.col("q_cell") == F.col("c_cell"))
        .filter(F.col("q_id") != F.col("c_id"))
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("c_id")
    )
    return (
        _scored_pairs(pairs)
        .withColumn("rnk", F.rank().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "q_id", "c_id", F.col("q_cell").alias("cell_id"), "cosine", "rnk"
        )
    )


IVF_NPROBE = 2  # cells searched per probe


def ivf_nprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H2: multi-probe IVF (nprobe=2) — the production recall knob
    :func:`ivf_topk` (nprobe=1) deliberately left at its floor. A
    query near a cell boundary loses neighbors that fell into the
    second-closest cell; probing the 2 nearest cells recovers them at
    exactly 2× the candidate cost, still never the full corpus. This
    is the latency/recall dial every IVF deployment exposes (FAISS
    ``nprobe``), expressed relationally: probe side = the 2 best
    centroid assignments per query (rank ≤ 2 over the same broadcast
    centroid scoring), candidate side unchanged, join on cell.

    No duplicate pairs by construction: a candidate lives in exactly
    one cell, so the two probed cells contribute disjoint candidate
    sets — no dedup step needed before the rank window.

    Scale: identical posture to ivf_topk — centroids broadcast,
    lake partitioned by cell_id, each probe reads nprobe partitions.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    # r15: the nprobe-best cells come from the SAME map-side scored
    # array the assignment uses (§2.4) — ascending struct sort on
    # (acos, nc=-cent_id) then reverse reproduces the old window's
    # (acos DESC, cent_id ASC, NaN-greatest) order exactly, and the
    # top-IVF_NPROBE slice explodes to one row per probed cell. The
    # old shape crossJoined each probe K-fold through a
    # BroadcastNestedLoopJoin and ranked the copies with a row_number
    # window.
    scored = F.transform(
        _cent_array_lit(_centroid_rows(emb)),
        lambda c: F.struct(
            (
                dot_fold("embedding", c["cv"])
                / (F.sqrt(norm2_fold("embedding")) * c["nrm"])
            ).alias("acos"),
            c["nc"].alias("nc"),
        ),
    )
    probe_cells = (
        emb.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("qe"),
            F.explode(
                F.slice(F.reverse(F.array_sort(scored)), 1, IVF_NPROBE)
            ).alias("probe"),
        )
        .select(
            "q_id",
            "qe",
            (-F.col("probe.nc")).cast("bigint").alias("q_cell"),
        )
    )
    cands = _ivf_assign(emb).select(
        F.col("vec_id").alias("c_id"),
        F.col("embedding").alias("ce"),
        F.col("cell_id").alias("c_cell"),
    )
    pairs = (
        F.broadcast(probe_cells)
        .join(cands, F.col("q_cell") == F.col("c_cell"))
        .filter(F.col("q_id") != F.col("c_id"))
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("c_id")
    )
    return (
        _scored_pairs(pairs)
        .withColumn("rnk", F.rank().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "q_id", "c_id", F.col("c_cell").alias("cell_id"), "cosine", "rnk"
        )
    )


INT8_RECALL_K = 10


def int8_search_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H2: SEARCH in the int8-compressed domain, audited — the
    follow-through on :func:`int8_quantize` (which grades storage
    error): rank candidates by the integer dot product of quantized
    vectors rescaled by the two per-vector scales, and report
    recall@10 against the exact float-dot ranking per probe. This is
    the number that decides whether a 4×-smaller vector lake can
    serve retrieval directly or must rescore in float — the
    compressed-domain-scan trade every int8 deployment measures.

    Exactness: the integer dot is exact bigint arithmetic; the
    rescale is two IEEE multiplications; round() is half-away-from-
    zero in both engines — so both rankings, their intersection, and
    the recall fractions replay bit-for-bit in the oracle.

    Scale: quantization is a narrow map; probes broadcast; both rank
    windows share one (probe × candidate) frame and one q_id
    exchange. The float ranking exists only for the audit —
    production serves the int8 ranking and samples this audit.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(v, F.abs)) / F.lit(127.0)
    scale = F.when(scale != 0, scale)
    q = F.transform(v, lambda x: F.round(x / scale).cast("int"))
    qt = emb.select(
        "vec_id", v.alias("ve"), scale.alias("scale"), q.alias("q")
    ).filter(F.col("scale").isNotNull())
    probes = qt.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("ve").alias("qe"),
        F.col("q").alias("qq"),
        F.col("scale").alias("qs"),
    )
    cands = qt.select(
        F.col("vec_id").alias("c_id"),
        F.col("ve").alias("ce"),
        F.col("q").alias("cq"),
        F.col("scale").alias("cs"),
    )
    pairs = (
        F.broadcast(probes)
        .crossJoin(cands)
        .filter(F.col("q_id") != F.col("c_id"))
    )
    idot = F.aggregate(
        F.zip_with(
            "qq", "cq", lambda a, b: a.cast("bigint") * b.cast("bigint")
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    int8_score = idot.cast("double") * F.col("qs") * F.col("cs")
    fdot = dot_fold("qe", "ce")
    w8 = Window.partitionBy("q_id").orderBy(
        int8_score.desc(), F.col("c_id")
    )
    wf = Window.partitionBy("q_id").orderBy(fdot.desc(), F.col("c_id"))
    marked = pairs.select(
        "q_id",
        "c_id",
        F.row_number().over(w8).alias("rn8"),
        F.row_number().over(wf).alias("rnf"),
    )
    overlap = (
        marked.filter(
            (F.col("rn8") <= INT8_RECALL_K) & (F.col("rnf") <= INT8_RECALL_K)
        )
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        probes.select("q_id")
        .join(overlap, "q_id", "left")
        .select(
            "q_id",
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            (
                F.coalesce("n_overlap", F.lit(0)).cast("double")
                / F.lit(float(INT8_RECALL_K))
            ).alias("recall_at_10"),
        )
    )


def binary_hamming_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H2: 1-BIT binary quantization + Hamming search, audited — the
    extreme end of the quantization family (float32 → int8 → 1 bit):
    each dimension keeps only its sign, the 64-dim vector packs into
    two 32-bit integer words, and distance is popcount(xor) — 32×
    smaller than float32 and the cheapest possible scan, at whatever
    recall the corpus tolerates (which is exactly what the audit
    column reports: recall@10 vs the exact float-dot ranking).

    Everything is integer or fixed IEEE arithmetic — the bit packing
    is an order-pinned fold (acc·2 + bit), XOR/popcount are exact —
    so the packed words, every Hamming distance, both rankings, and
    the recall fractions replay bit-for-bit in the oracle.

    Scale: packing is one narrow map (the lake stores 8 bytes per
    vector); the Hamming scan is two XORs + two popcounts per
    candidate inside whole-stage codegen; probes broadcast. The float
    ranking exists only for the audit.
    """
    emb = read_table(spark, sf_dir, "embeddings")

    def pack(v: Column, start: int) -> Column:
        # bits start..start+31 (1-indexed slice), MSB-first fold
        return F.aggregate(
            F.slice(v, start, 32),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc * 2
            + (x.cast("double") > 0).cast("bigint"),
        )

    v = F.col("embedding")
    packed = emb.select(
        "vec_id",
        F.transform(v, lambda x: x.cast("double")).alias("ve"),
        pack(v, 1).alias("w1"),
        pack(v, 33).alias("w2"),
    )
    probes = packed.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("ve").alias("qe"),
        F.col("w1").alias("qw1"),
        F.col("w2").alias("qw2"),
    )
    cands = packed.select(
        F.col("vec_id").alias("c_id"),
        F.col("ve").alias("ce"),
        F.col("w1").alias("cw1"),
        F.col("w2").alias("cw2"),
    )
    pairs = (
        F.broadcast(probes)
        .crossJoin(cands)
        .filter(F.col("q_id") != F.col("c_id"))
    )
    hamming = F.expr("bit_count(qw1 ^ cw1) + bit_count(qw2 ^ cw2)")
    fdot = dot_fold("qe", "ce")
    wh = Window.partitionBy("q_id").orderBy(hamming.asc(), F.col("c_id"))
    wf = Window.partitionBy("q_id").orderBy(fdot.desc(), F.col("c_id"))
    marked = pairs.select(
        "q_id",
        "c_id",
        F.row_number().over(wh).alias("rnh"),
        F.row_number().over(wf).alias("rnf"),
    )
    overlap = (
        marked.filter(
            (F.col("rnh") <= INT8_RECALL_K) & (F.col("rnf") <= INT8_RECALL_K)
        )
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        probes.select("q_id")
        .join(overlap, "q_id", "left")
        .select(
            "q_id",
            F.coalesce("n_overlap", F.lit(0)).alias("n_overlap"),
            (
                F.coalesce("n_overlap", F.lit(0)).cast("double")
                / F.lit(float(INT8_RECALL_K))
            ).alias("recall_at_10"),
        )
    )


CASCADE_C = 50  # stage-1 candidate budget per probe


def ann_cascade_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H2: TWO-STAGE RETRIEVAL CASCADE — the production serving path
    (FAISS/ScaNN "refine"): stage 1 ranks EVERY candidate by a cheap
    compressed-domain score (int8 cosine: exact integer dot over
    quantized vectors — the per-vector scales cancel in the cosine,
    so no float rescale at all) and keeps the top ``CASCADE_C`` per
    probe; stage 2 re-reads ONLY those survivors' float vectors and
    re-ranks them by exact cosine for the final top-k.

    Scale: stage 1 scans the 4×-smaller int8 lake (probes broadcast,
    one narrow projection, one q_id rank exchange); stage 2 is a
    broadcast join of O(probes × C) winner ids back to the float
    table — the full-precision vectors are touched for ~C rows per
    probe, never corpus-wide. The cascade's answer differs from
    brute force exactly when the true top-k falls outside the
    compressed top-C (``int8_search_audit`` measures that margin);
    the oracle replays the cascade itself, so the hash pins BOTH
    stages bit-for-bit.

    Exactness: integer dot and integer norms are exact bigint sums;
    the int8 cosine is one double divide of exact quantities; the
    refine cosine is the order-pinned double fold shared with
    ``cosine_topk``.

    30× probe (r13, the steep-entry discipline): 2.29 s → 12.19 s →
    42.07 s across sf0.1/10×/30× — the 10×→30× step read 3.45× for
    3× the data. The physical plan shows why, and why it is NOT a
    cliff: the rank exchange is already bounded (``WindowGroupLimit
    Partial`` keeps ≤C rows per (q_id, map partition) before the
    shuffle — plan-verified), so the only super-linear term is the
    MAP-SIDE sort feeding it, which grows with PARTITION SIZE, not
    volume. Locally the 30× fixture still fits a handful of scan
    partitions, so each local sort is 30× bigger; in production
    ``spark.sql.files.maxPartitionBytes`` bounds partition size, so
    per-row sort cost is a constant (log of a fixed 128 MB). Probed:
    re-running the sweep with partitions bounded at 1 MB reads
    2.48 s → 11.93 s → 35.68 s — the 10×→30× step is 2.99×, exactly
    volume-proportional. No plan change to make.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(v, F.abs)) / F.lit(127.0)
    scale = F.when(scale != 0, scale)
    q = F.transform(v, lambda x: F.round(x / scale).cast("int"))
    inorm = F.aggregate(
        F.transform("q", lambda x: x.cast("bigint") * x.cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    qt = (
        emb.select("vec_id", scale.alias("scale"), q.alias("q"))
        .filter(F.col("scale").isNotNull())
        .withColumn("nrm", inorm)
        .drop("scale")
    )
    probes = qt.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"),
        F.col("q").alias("pq"),
        F.col("nrm").alias("pn"),
    )
    cands = qt.select(
        F.col("vec_id").alias("c_id"),
        F.col("q").alias("cq"),
        F.col("nrm").alias("cn"),
    )
    idot = F.aggregate(
        F.zip_with(
            "pq", "cq", lambda a, b: a.cast("bigint") * b.cast("bigint")
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    i8cos = idot.cast("double") / F.sqrt(
        F.col("pn").cast("double") * F.col("cn").cast("double")
    )
    w1 = Window.partitionBy("q_id").orderBy(i8cos.desc(), F.col("c_id"))
    winners = (
        F.broadcast(probes)
        .crossJoin(cands)
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") <= CASCADE_C)
        .select("q_id", "c_id")
    )
    # stage 2: float vectors for survivors only — winner ids broadcast
    # against the float table, exact cosine, final top-k. The q-side
    # broadcast is PRE-FILTERED to the probe set (winners' q_id can
    # only reference probes, so results are unchanged): broadcasting
    # the whole float table here would quietly reintroduce the
    # corpus-wide memory cost the cascade exists to avoid.
    qv = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("qe")
    )
    cv = emb.select(
        F.col("vec_id").alias("c_id"), F.col("embedding").alias("ce")
    )
    pairs = (
        cv.join(F.broadcast(winners), "c_id")
        .join(F.broadcast(qv), "q_id")
    )
    return _topk(_scored_pairs(pairs))


def _centroid_rows(emb: DataFrame) -> list:
    """Bounded driver collect of the K fixed coarse centroids (sorted
    by id for deterministic expression layout)."""
    return sorted(
        emb.filter(F.col("vec_id").isin(IVF_CENTROID_IDS))
        .select(
            F.col("vec_id").alias("cent_id"),
            F.col("embedding").alias("cvec"),
        )
        .collect(),
        key=lambda r: r.cent_id,
    )


def _sql_double(v: float) -> str:
    """Exact double literal for a generated SQL string: a quoted
    string cast, because Java's parseDouble of Python's shortest
    round-trip repr reproduces the double bit-for-bit, while unquoted
    decimal text parses as DECIMAL and risks a double rounding on the
    way to double/float."""
    return "CAST('%r' AS DOUBLE)" % float(v)


def _sqrt_norm(vals) -> float:
    """sqrt(Σv²) in Python doubles — the same strict left fold
    norm2_fold runs (IEEE-754 throughout), then the same correctly-
    rounded sqrt, so it is bit-identical to
    ``F.sqrt(norm2_fold(literal))`` and can be precomputed on the
    driver for a constant vector."""
    import math

    acc = 0.0
    for v in vals:
        acc += float(v) * float(v)
    return math.sqrt(acc)


def _cent_array_lit(cent_rows) -> Column:
    """The K coarse centroids as ONE literal
    ``array<struct<cv:array<float>, nrm:double, nc:bigint>>`` built
    from a single SQL string — one py4j hop, constant-folded to a
    Literal before execution. Building the same constant as K
    per-centroid Python expression trees (K fold constructions, 64
    ``lit`` hops per vector) made driver-side expression CONSTRUCTION
    the bottleneck of the warm serve path: ~1.0 s/call vs ~74 ms for
    this form, measured on the r14 probe (OPTIMIZATION_r14.md §h2).
    The float elements are exact: each value came out of a float
    column, and double→float cast of a float-valued double is
    lossless."""
    return F.expr(_cent_array_lit_sql(cent_rows))


def _cent_array_lit_sql(cent_rows) -> str:
    """The SQL string behind :func:`_cent_array_lit` — pure Python
    (no py4j), so it doubles as the canonical VALUE key for the
    cell_id expression memo (_CELL_EXPR_CACHE)."""
    parts = []
    for r in cent_rows:
        cv = ",".join("CAST(%s AS FLOAT)" % _sql_double(v) for v in r.cvec)
        parts.append(
            "named_struct('cv',array(%s),'nrm',%s,'nc',%dL)"
            % (cv, _sql_double(_sqrt_norm(r.cvec)), -int(r.cent_id))
        )
    # the outer cast is a structural no-op when K > 0 (every element
    # already has exactly this type) but pins the element type when
    # the centroid set is EMPTY — a bare array() is array<void> and
    # the transform lambda's field extraction fails analysis
    return (
        "CAST(array(%s) AS "
        "array<struct<cv:array<float>,nrm:double,nc:bigint>>)"
        % ",".join(parts)
    )


# Memo of cell_id Column TREES keyed by the centroid literal SQL (a
# canonical serialization of the centroid VALUES, built in pure
# Python): the fold expressions cost ~0.2 s/call of driver-side py4j
# construction, and the store build + probe paths call with the same
# centroid set 4x per query (per arrival batch + per probe side). An
# expression tree carries no session or data state — one construction
# serves every DataFrame (guide §4/§5). Keyed by VALUE, so a retrained
# centroid set gets its own entry. Held behind an OPAQUE object for
# the reason given at dedup._ExprMemo: a bare module dict is hashed by
# value into the plan fingerprints, so warming it changed them.
class _ExprMemo:
    def __init__(self) -> None:
        self.exprs: dict[str, Column] = {}


_CELL_EXPR_CACHE = _ExprMemo()


def _cell_id_expr(cent_rows) -> Column:
    """The nearest-centroid ``cell_id`` Column for a FIXED centroid
    list — pure expression tree over the ``embedding`` column, so one
    construction serves every DataFrame (see _ivf_cell_assign),
    memoized per centroid set (see _CELL_EXPR_CACHE)."""
    lit = _cent_array_lit_sql(cent_rows)
    if lit not in _CELL_EXPR_CACHE.exprs:
        scored = F.transform(
            F.expr(lit),
            lambda c: F.struct(
                (
                    dot_fold("embedding", c["cv"])
                    / (F.sqrt(norm2_fold("embedding")) * c["nrm"])
                ).alias("acos"),
                c["nc"].alias("nc"),
            ),
        )
        _CELL_EXPR_CACHE.exprs[lit] = (
            (-F.array_max(scored)["nc"]).cast("bigint").alias("cell_id")
        )
    return _CELL_EXPR_CACHE.exprs[lit]


def _ivf_cell_assign(
    emb: DataFrame, batch: DataFrame, cent_rows: list | None = None
) -> DataFrame:
    """Nearest-fixed-centroid assignment (the same argmax ``ivf_topk``
    ranks), shared by the at-rest store build and its probe side — as
    a MAP-SIDE projection since r14: the K coarse centroids become
    literal arrays (bounded collect), and the argmax is ``array_max``
    over per-centroid ``(acos, -cent_id)`` structs — the exact order
    the old window (acos DESC, cent_id ASC, NaN-greatest) applied. The
    batch is never crossJoined K-fold, shuffled, or window-sorted:
    assignment costs K fused dot products per row inside the batch's
    own scan (guide §2.4 — the exchange existed only to rank K
    candidate copies this projection never materializes, and at scale
    it carried the full embedding payload). The K-way score array is
    ONE ``transform`` lambda over the literal centroid array — the
    fold expressions are constructed once per call regardless of K
    (per-centroid Python trees made construction the warm-path
    bottleneck; see _cent_array_lit)."""
    if cent_rows is None:
        cent_rows = _centroid_rows(emb)
    return batch.select("vec_id", "embedding", _cell_id_expr(cent_rows))


def _ivf_store_build(
    spark: SparkSession, sf_dir: str, store: str
) -> DataFrame:
    """Build the ``partitionBy(cell_id)`` vector store from three
    incremental arrival batches; returns the embeddings frame."""
    emb = read_table(spark, sf_dir, "embeddings")
    cents = _centroid_rows(emb)  # one bounded collect for all batches
    for i in range(3):  # incremental arrivals
        _ivf_cell_assign(
            emb, emb.filter(F.col("vec_id") % 3 == i), cents
        ).write.partitionBy("cell_id").mode("append").parquet(store)
    return emb


def compact_cell_store(
    spark: SparkSession,
    store: str,
    target_bytes: int = 128 << 20,
    min_file_bytes: int | None = None,
) -> tuple[int, int]:
    """Per-cell small-file BIN PACKING over a hive-partitioned vector
    store — the maintenance loop that pays off the small-file debt
    incremental appends accrue (one file per cell per arrival batch;
    after N daily arrivals a probe opens N footers per cell instead
    of 1). Mirrors :func:`warehouse_tx.compact_binpack`'s semantics
    on the partition-directory layout: within each cell, only files
    below ``min_file_bytes`` (default ``target_bytes // 2``) are
    eligible; they are packed into ``ceil(small_bytes/target)``
    output files written INSIDE the same cell directory, so the
    ``partitionBy(cell_id)`` layout — and with it the probe-time
    partition pruning — is preserved by construction.

    Swap discipline: packed files land under unique names before the
    originals are unlinked (never-missing-data ordering); a reader
    racing the swap may double-read a row. Single-writer maintenance
    windows are assumed here — the tx-table twin
    (``warehouse_tx.compact_binpack``) shows the commit-atomic
    version of the same operation, which is what a production lake
    runs this under.

    Returns ``(n_rewritten, n_carried)`` summed over cells.
    """
    import glob
    import os
    import shutil
    import uuid

    from bow_hunter_pipeline_spark.functions.localframe import local_df

    if min_file_bytes is None:
        min_file_bytes = target_bytes // 2
    # plan driver-side (the O(files) listing every maintenance pass
    # holds anyway): first-fit running-sum bins per cell, path-ordered
    to_pack: list[tuple[str, int, int]] = []  # (abs path, cell, bin)
    n_rewritten = n_carried = 0
    for cell_dir in sorted(glob.glob(os.path.join(store, "cell_id=*"))):
        cell = int(os.path.basename(cell_dir).split("=", 1)[1])
        files = sorted(glob.glob(os.path.join(cell_dir, "*.parquet")))
        sizes = {f: os.path.getsize(f) for f in files}
        small = [f for f in files if sizes[f] < min_file_bytes]
        if len(small) < 2:
            n_carried += len(files)
            continue
        run = 0
        for f in small:
            to_pack.append((os.path.abspath(f), cell, run // target_bytes))
            run += sizes[f]
        n_rewritten += len(small)
        n_carried += len(files) - len(small)
    if to_pack:
        # --- execute as ONE job (the compact_stream_cell_store shape;
        # the per-cell loop paid one Spark write job per cell — cell
        # count never bounds this): read every packable file, route
        # rows to their (cell, bin) via a broadcast assignment join,
        # write hive-partitioned by cell in a single pass ---
        asg = local_df(spark, to_pack, "path string, cell bigint, bin bigint")
        n_bins = len({(c, b) for _, c, b in to_pack})
        packed = (
            spark.read.schema("vec_id bigint, embedding array<float>")
            .parquet(*[p for p, _, _ in to_pack])
            .withColumn(
                "path",
                F.regexp_replace(
                    F.col("_metadata.file_path"), "^file:/+", "/"
                ),
            )
            .join(F.broadcast(asg), "path")
            .repartition(n_bins, "cell", "bin")
            .select("vec_id", "embedding", "cell")
        )
        tmp = os.path.join(store, f"_packing-{uuid.uuid4().hex[:8]}")
        packed.write.partitionBy("cell").parquet(tmp)
        for i, part in enumerate(
            sorted(glob.glob(os.path.join(tmp, "cell=*", "*.parquet")))
        ):
            cell = int(
                os.path.basename(os.path.dirname(part)).split("=", 1)[1]
            )
            os.replace(
                part,
                os.path.join(
                    store,
                    f"cell_id={cell}",
                    f"packed-{uuid.uuid4().hex[:8]}-{i}.parquet",
                ),
            )
        shutil.rmtree(tmp, ignore_errors=True)
        for p, _, _ in to_pack:
            os.unlink(p)
    return n_rewritten, n_carried


def _ivf_store_search(
    spark: SparkSession,
    emb: DataFrame,
    store: str,
    schema: str = "vec_id bigint, embedding array<float>, cell_id bigint",
) -> DataFrame:
    """Probe the at-rest store: assign probes to cells, then read ONLY
    the probed cells' directories via a partition filter. ``schema``
    must name every partition level the store carries (the streaming
    twin adds an ``arrival`` sub-partition)."""
    probes = _ivf_cell_assign(
        emb, emb.filter(F.col("vec_id") < N_QUERIES)
    ).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qe"),
        F.col("cell_id").alias("q_cell"),
    )
    # bounded driver collect: N_QUERIES probes -> <= K cell ids
    cells = sorted(
        r.q_cell for r in probes.select("q_cell").distinct().collect()
    )
    # explicit schema: zero-row arrivals leave a footer-less store
    # (nothing to infer from), and it types the cell_id partition
    # column as bigint rather than trusting directory-name inference
    idx = (
        spark.read.schema(schema)
        .parquet(store)
        .filter(F.col("cell_id").isin(cells))
    )
    pairs = (
        F.broadcast(probes)
        .join(idx, F.col("q_cell") == F.col("cell_id"))
        .filter(F.col("q_id") != F.col("vec_id"))
        .select(
            "q_id",
            "qe",
            F.col("vec_id").alias("c_id"),
            F.col("embedding").alias("ce"),
            "cell_id",
        )
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine").desc(), F.col("c_id")
    )
    return (
        _scored_pairs(pairs)
        .withColumn("rnk", F.rank().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select("q_id", "c_id", "cell_id", "cosine", "rnk")
    )


def ivf_index_at_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H2: the IVF index MAINTAINED AT REST — vectors arrive in three
    batches, each assigned to its nearest fixed centroid (the same
    broadcast cross-score + argmax as ``ivf_topk``) and APPENDED to a
    parquet store ``partitionBy(cell_id)``; a search then reads the
    store with the probe cells as a partition filter, so the scan
    touches only the probed cells' DIRECTORIES — nprobe=1 IVF as
    literal partition pruning, the layout a 100 TB vector lake
    actually serves from (plan-asserted in test_plan_shapes). Index
    maintenance is embarrassingly incremental: arrivals cost K dot
    products per vector plus a partitioned append — the corpus is
    never re-assigned, the H2 twin of ``h1_incremental_lsh_index``.

    Same oracle as ``ivf_topk``: the at-rest store must answer
    exactly like the in-memory assignment (parquet float-array
    roundtrip is exact).
    """
    import os
    import shutil

    work = "/tmp/bhps_ivf_store"
    shutil.rmtree(work, ignore_errors=True)
    store = os.path.join(work, "cells")
    emb = _ivf_store_build(spark, sf_dir, store)
    return _ivf_store_search(spark, emb, store)


IVF_STREAM_WORK = "/tmp/bhps_ivf_stream"
IVF_STREAM_SCHEMA = (
    "vec_id bigint, embedding array<float>, cell_id bigint, arrival int"
)
IVF_COMPACTION_MARK = "_compaction.json"
IVF_RECLUSTER_INTENT = "_recluster.intent"


def _write_recluster_intent(store: str) -> None:
    """Drop the recluster intent marker inside the store root (an
    underscore name, invisible to Spark's file listing). It declares
    'a recluster's dynamic overwrite may be in flight': while it
    exists, pack files not named by the committed compaction mark are
    POST-OVERWRITE COMMITTED DATA awaiting the mark republish, not
    crashed-compaction leftovers, and recovery must adopt rather than
    unlink them (ADVICE r11 #2)."""
    import json
    import os

    tmp = os.path.join(store, IVF_RECLUSTER_INTENT + ".tmp")
    with open(tmp, "w") as fh:
        json.dump({"writer": "recluster"}, fh)
    os.replace(tmp, os.path.join(store, IVF_RECLUSTER_INTENT))


def ivf_streaming_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """H2 × H4: the at-rest IVF store maintained BY A STREAM — vector
    arrivals land through a checkpointed file stream (one arrival file
    per micro-batch); each batch assigns ONLY its own vectors to cells
    (broadcast centroid argmax) and lands them under
    ``partitionBy(cell_id, arrival)``, then a search probes the drained
    store with cell partition pruning — same oracle as ``ivf_topk``.

    EXACTLY-ONCE without a transaction log: each batch writes in
    DYNAMIC partition-overwrite mode with its batch id as the
    ``arrival`` sub-partition, so a replayed batch OVERWRITES its own
    ``cell_id=*/arrival=N`` directories with identical content instead
    of double-appending — idempotence from deterministic partition
    placement, the idiomatic file-lake alternative to the txn-stamped
    commit (``h1_incremental_lsh_index`` shows that one; the
    redelivery test covers this one). ``arrival`` is the SECOND
    partition level, so probe-time ``cell_id`` pruning is untouched.

    Scale: arrivals cost K dot products per vector plus a partitioned
    write of O(batch) bytes; the corpus is never re-assigned; the
    search reads only probed cells' directories. The arrival
    sub-partitions accrue the same small-file debt the binpack query
    pays off (``compact_stream_cell_store`` /
    ``ivf_stream_compacted_search`` close that loop).
    """
    emb, store = _ivf_stream_build(spark, sf_dir, IVF_STREAM_WORK)
    return _ivf_store_search(spark, emb, store, schema=IVF_STREAM_SCHEMA)


def _ivf_stream_build(
    spark: SparkSession, sf_dir: str, work: str
) -> tuple[DataFrame, str]:
    """Stage three deterministic arrival files under ``work/feed`` and
    drain them through the checkpointed lander stream into
    ``work/cells``; returns ``(embeddings frame, store path)``."""
    import glob
    import os
    import shutil

    shutil.rmtree(work, ignore_errors=True)
    feed = os.path.join(work, "feed")
    os.makedirs(feed)
    store = os.path.join(work, "cells")

    emb = read_table(spark, sf_dir, "embeddings")
    # stage all three deterministic arrival files in ONE job: a
    # partitioned write splits the corpus by arrival group (each
    # group lands in a single task, so one file per directory),
    # replacing three filtered scan+coalesce jobs
    staging = os.path.join(work, "_stage")
    (
        emb.withColumn("g", (F.col("vec_id") % 3).cast("int"))
        .repartition(3, "g")
        .write.partitionBy("g")
        .mode("overwrite")
        .parquet(staging)
    )
    for i in range(3):
        hits = glob.glob(
            os.path.join(staging, f"g={i}", "part-*.parquet")
        )
        dest = os.path.join(feed, f"arrival{i}.parquet")
        if hits:
            shutil.move(hits[0], dest)
        else:
            # empty arrival group (degenerate corpus): partitionBy
            # writes no directory for it, but the feed must keep its
            # deterministic 3-file shape — stage a schema-only file
            empty_dir = os.path.join(work, "_stage_empty")
            (
                emb.limit(0)
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(empty_dir)
            )
            shutil.move(
                glob.glob(os.path.join(empty_dir, "part-*.parquet"))[0],
                dest,
            )
            shutil.rmtree(empty_dir)
        t = 1_700_000_000 + i * 100
        os.utime(dest, (t, t))
    shutil.rmtree(staging)

    land = _ivf_stream_lander(emb, store)
    stream = spark.readStream.schema(emb.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(feed)
    q = (
        stream.writeStream.foreachBatch(land)
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return emb, store


def _ivf_stream_lander(emb: DataFrame, store: str):
    """The foreachBatch lander — module-level so the redelivery
    idempotence contract is unit-testable."""
    cent_cache: list = []  # collected once per lander, not per batch
    expr_cache: list = []  # cell_id Column built once, not per batch

    def land(batch_df: DataFrame, batch_id: int) -> None:
        # Compaction high-water guard: a batch at or below the mark
        # was packed into ``arrival=-1`` and its own arrival dirs no
        # longer exist — the partition-overwrite idempotence that
        # normally makes replay a no-op would instead re-CREATE the
        # dirs and duplicate every row already inside the packs.
        mark = _stream_store_mark(store)
        if int(batch_id) <= mark["compacted_through"]:
            return
        if not cent_cache:
            cent_cache.extend(_centroid_rows(emb))
            # the assignment expression depends only on the centroid
            # literals: one construction serves every micro-batch
            # (driver-side py4j tree building is per-batch overhead
            # the stream thread pays otherwise, guide §4/§5)
            expr_cache.append(_cell_id_expr(cent_cache))
        sess = batch_df.sparkSession
        key = "spark.sql.sources.partitionOverwriteMode"
        old = sess.conf.get(key, None)
        sess.conf.set(key, "dynamic")
        try:
            (
                batch_df.select("vec_id", "embedding", expr_cache[0])
                .withColumn("arrival", F.lit(int(batch_id)).cast("int"))
                .write.partitionBy("cell_id", "arrival")
                .mode("overwrite")
                .parquet(store)
            )
        finally:
            if old is None:
                sess.conf.unset(key)
            else:
                sess.conf.set(key, old)

    return land


def _stream_store_mark(store: str) -> dict:
    """Read the streaming store's compaction mark. It lives INSIDE the
    store root as ``_compaction.json`` — Spark's file listing ignores
    underscore-prefixed names, so readers never see it — and an absent
    mark means never-compacted."""
    import json
    import os

    path = os.path.join(store, IVF_COMPACTION_MARK)
    if not os.path.exists(path):
        return {"compacted_through": -1, "packs": [], "pending_delete": []}
    with open(path) as f:
        return json.load(f)


def compact_stream_cell_store(
    spark: SparkSession,
    store: str,
    target_bytes: int = 128 << 20,
    min_file_bytes: int | None = None,
) -> tuple[int, int]:
    """Binpack compaction for the STREAMING IVF store's two-level
    ``cell_id=*/arrival=N/`` layout — the debt
    :func:`compact_cell_store` cannot reach (it globs one level), and
    the hazard it must not trip: the store's exactly-once guarantee
    lives in the arrival directories (a replayed batch overwrites its
    own ``arrival=N``), so packing those dirs away would turn a
    post-crash replay into a duplicate append.

    Resolution: a COMPACTED-THROUGH HIGH-WATER MARK. Packed files land
    under the reserved ``arrival=-1`` sub-partition (cell-level
    pruning and the store's partition schema are untouched; no real
    batch id is negative), and one atomic ``os.replace`` of the mark
    JSON commits the round: ``compacted_through`` = highest arrival
    present at pack time, ``packs`` = the committed pack file set,
    ``pending_delete`` = the packed source files. The lander
    (:func:`_ivf_stream_lander`) consults the mark and SKIPS any
    replayed batch at or below it — its rows are already inside the
    packs (or, for arrival dirs the round carried, still in place —
    skipping is safe either way because the content is present).

    Crash discipline (single-writer maintenance window, as in
    :func:`compact_cell_store` — the tx-table twin
    ``warehouse_tx.compact_binpack`` is the commit-atomic version):
    packs land under final names FIRST (never-missing-data), the mark
    replace is the pivot, source deletion is LAST. Recovery is built
    into entry: pack files the committed mark does not name are
    discarded (leftovers of a crashed round), and files the mark still
    lists as ``pending_delete`` are removed — re-running after a crash
    at any point converges to the committed state. A reader racing the
    window may double-read; that window is the documented trade.

    Returns ``(n_rewritten, n_carried)`` over data files.
    """
    import glob
    import json
    import os
    import shutil
    import uuid

    if min_file_bytes is None:
        min_file_bytes = target_bytes // 2
    mark = _stream_store_mark(store)
    intent = os.path.join(store, IVF_RECLUSTER_INTENT)
    if os.path.exists(intent):
        # A recluster crashed between its dynamic overwrite and its
        # mark republish (ADVICE r11 #2): pack files the mark does
        # not name are COMMITTED post-move data, not leftovers of a
        # crashed compaction. Heal by adopting the current pack set
        # as the committed one (exactly the republish the recluster
        # would have performed — content-equivalent because the
        # overwrite replaced whole arrival=-1 sub-partitions), then
        # retire the intent and continue normally.
        mark["packs"] = sorted(
            os.path.relpath(f, store)
            for f in glob.glob(
                os.path.join(store, "cell_id=*", "arrival=-1", "*.parquet")
            )
        )
        tmp_mark = os.path.join(store, IVF_COMPACTION_MARK + ".tmp")
        with open(tmp_mark, "w") as fh:
            json.dump(mark, fh)
        os.replace(tmp_mark, os.path.join(store, IVF_COMPACTION_MARK))
        os.unlink(intent)
    committed = set(mark["packs"])
    # recovery: discard uncommitted packs from a crashed round …
    for f in glob.glob(
        os.path.join(store, "cell_id=*", "arrival=-1", "*.parquet")
    ):
        if os.path.relpath(f, store) not in committed:
            os.unlink(f)
    # … and finish the committed round's source deletion
    for rel in mark["pending_delete"]:
        path = os.path.join(store, rel)
        if os.path.exists(path):
            os.unlink(path)
    _drop_empty_arrival_dirs(store)

    # --- plan as a DATAFRAME over the listing (VERDICT r09 watch-item
    # a: the per-cell glob-and-loop planner schedules one Spark job
    # per cell and walks O(files) Python-side; here ONE os.walk feeds
    # a listing frame, the small-file selection and first-fit bin
    # assignment are window arithmetic, and the driver collects only
    # the PACK ASSIGNMENT — the rows the rewrite must read anyway) ---
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    listing = []
    for cell_dir in sorted(glob.glob(os.path.join(store, "cell_id=*"))):
        cell = int(os.path.basename(cell_dir).split("=", 1)[1])
        for f in sorted(
            glob.glob(os.path.join(cell_dir, "arrival=*", "*.parquet"))
        ):
            arrival = int(
                os.path.basename(os.path.dirname(f)).split("=", 1)[1]
            )
            listing.append((cell, arrival, f, os.path.getsize(f)))
    high_water = int(mark["compacted_through"])
    if listing:
        high_water = max(high_water, max(a for _, a, _, _ in listing))
    files_df = local_df(
        spark, listing, "cell bigint, arrival bigint, path string, size bigint"
    )
    w_cell = Window.partitionBy("cell")
    w_run = (
        Window.partitionBy("cell")
        .orderBy("path")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    planned = (
        files_df.withColumn("small", F.col("size") < F.lit(min_file_bytes))
        .withColumn(
            "n_small", F.sum(F.col("small").cast("int")).over(w_cell)
        )
        .withColumn("packable", F.col("small") & (F.col("n_small") >= 2))
        .withColumn(
            "bin",
            F.when(
                F.col("packable"),
                F.floor(
                    F.coalesce(
                        F.sum(
                            F.when(F.col("packable"), F.col("size"))
                        ).over(w_run),
                        F.lit(0),
                    )
                    / F.lit(target_bytes)
                ),
            ),
        )
    )
    rows = planned.collect()
    to_pack = [(r.path, r.cell, int(r.bin)) for r in rows if r.packable]
    to_delete = [p for p, _, _ in to_pack]
    n_rewritten = len(to_pack)
    n_carried = len(rows) - n_rewritten
    new_packs = [
        os.path.relpath(r.path, store)
        for r in rows
        if not r.packable and r.arrival == -1
    ]

    if to_pack:
        # --- execute as ONE job: read every packable file, route rows
        # to their (cell, bin) via a broadcast assignment join, write
        # hive-partitioned by cell in a single pass (the per-cell loop
        # ran hundreds of tiny jobs; cell count never bounds this) ---
        asg = local_df(
            spark,
            [(os.path.abspath(p), c, b) for p, c, b in to_pack],
            "path string, cell bigint, bin bigint",
        )
        n_bins = len({(c, b) for _, c, b in to_pack})
        packed = (
            spark.read.schema("vec_id bigint, embedding array<float>")
            .parquet(*[p for p, _, _ in to_pack])
            .withColumn(
                "path",
                F.regexp_replace(
                    F.col("_metadata.file_path"), "^file:/+", "/"
                ),
            )
            .join(F.broadcast(asg), "path")
            .repartition(n_bins, "cell", "bin")
            .select("vec_id", "embedding", "cell")
        )
        tmp = os.path.join(store, f"_packing-{uuid.uuid4().hex[:8]}")
        packed.write.partitionBy("cell").parquet(tmp)
        for i, part in enumerate(
            sorted(glob.glob(os.path.join(tmp, "cell=*", "*.parquet")))
        ):
            cell = int(
                os.path.basename(os.path.dirname(part)).split("=", 1)[1]
            )
            pack_dir = os.path.join(
                store, f"cell_id={cell}", "arrival=-1"
            )
            os.makedirs(pack_dir, exist_ok=True)
            dest = os.path.join(
                pack_dir, f"packed-{uuid.uuid4().hex[:8]}-{i}.parquet"
            )
            os.replace(part, dest)
            new_packs.append(os.path.relpath(dest, store))
        shutil.rmtree(tmp, ignore_errors=True)

    # the atomic commit pivot: packs + mark + deletion intent in one
    # os.replace — before it the round never happened, after it the
    # lander skips packed batches and recovery finishes the deletes
    new_mark = {
        "compacted_through": high_water,
        "packs": sorted(new_packs),
        "pending_delete": sorted(
            os.path.relpath(f, store) for f in to_delete
        ),
    }
    if os.path.isdir(store):
        tmp_mark = os.path.join(store, IVF_COMPACTION_MARK + ".tmp")
        with open(tmp_mark, "w") as fh:
            json.dump(new_mark, fh)
        os.replace(tmp_mark, os.path.join(store, IVF_COMPACTION_MARK))
    for f in to_delete:
        os.unlink(f)
    _drop_empty_arrival_dirs(store)
    return n_rewritten, n_carried


def _drop_empty_arrival_dirs(store: str) -> None:
    import glob
    import os
    import shutil

    for d in glob.glob(os.path.join(store, "cell_id=*", "arrival=*")):
        a = int(os.path.basename(d).split("=", 1)[1])
        if a >= 0 and not os.listdir(d):
            shutil.rmtree(d)


IVF_STREAM_C_WORK = "/tmp/bhps_ivf_stream_c"


def ivf_stream_compacted_search(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """H2 × H4: the streaming IVF store's maintenance loop CLOSED —
    stream-maintain (three checkpointed arrival batches under
    ``cell_id=*/arrival=N``) → COMPACT the two-level layout
    (:func:`compact_stream_cell_store`: per-cell binpack into the
    reserved ``arrival=-1`` partition, committed with a
    compacted-through high-water mark) → REPLAY a packed batch through
    the lander (the post-crash redelivery the mark exists for — the
    in-query assertion proves the store's file set does not move) →
    partition-pruned search. Same oracle as ``ivf_topk``: neither
    compaction nor the replay guard may change a single answer.

    Scale: after compaction a probe opens ONE footer per probed cell
    regardless of ingest age, and the mark keeps replay exactly-once
    without a txn log — the piece ``ivf_streaming_maintenance``'s
    docstring left as debt.
    """
    import glob
    import os

    # build leg: streamed ingest + compaction + the replay-guard proof
    # are the maintenance side of the store; the pruned search below is
    # the per-query serve path (bench reports the legs separately)
    with legtime.leg("build"):
        emb, store = _ivf_stream_build(spark, sf_dir, IVF_STREAM_C_WORK)
        compact_stream_cell_store(spark, store)
        # post-pack invariant: every cell serves from ONE packed file
        # (every per-arrival file is small at fixture scale)
        for cell_dir in glob.glob(os.path.join(store, "cell_id=*")):
            fs = glob.glob(
                os.path.join(cell_dir, "arrival=*", "*.parquet")
            )
            assert (
                len(fs) == 1 and os.sep + "arrival=-1" + os.sep in fs[0]
            ), (cell_dir, fs)
        # redelivery AFTER compaction: the high-water guard must skip
        before = sorted(
            glob.glob(
                os.path.join(store, "**", "*.parquet"), recursive=True
            )
        )
        _ivf_stream_lander(emb, store)(
            emb.filter(F.col("vec_id") % 3 == 1), 1
        )
        after = sorted(
            glob.glob(
                os.path.join(store, "**", "*.parquet"), recursive=True
            )
        )
        assert before == after, "post-compaction replay mutated the store"
    return _ivf_store_search(spark, emb, store, schema=IVF_STREAM_SCHEMA)


def ivf_compacted_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H2: the COMPLETE at-rest IVF serving loop — build (incremental
    arrivals), COMPACT (per-cell small-file binpack,
    :func:`compact_cell_store`), then search. Each arrival batch left
    one small file per cell; after compaction every cell holds a
    single packed file, so a probe opens ONE footer per probed cell —
    the file-count debt is the difference between an index that
    degrades linearly with ingest age and one that serves at constant
    cost. Partition pruning must hold identically on the packed
    layout (same ``cell_id=`` directories; plan-asserted in
    test_plan_shapes), and the search answers must be bit-identical
    to the uncompacted store's — same oracle as ``ivf_topk``.
    """
    import glob
    import os
    import shutil

    work = "/tmp/bhps_ivf_store_c"
    shutil.rmtree(work, ignore_errors=True)
    store = os.path.join(work, "cells")
    emb = _ivf_store_build(spark, sf_dir, store)
    compact_cell_store(spark, store)
    # post-pack invariant: one packed file per cell (all arrivals were
    # small at fixture scale), or the cell carried right-sized files
    for cell_dir in glob.glob(os.path.join(store, "cell_id=*")):
        n = len(glob.glob(os.path.join(cell_dir, "*.parquet")))
        assert n == 1, f"{cell_dir}: {n} files after binpack"
    return _ivf_store_search(spark, emb, store)


def pq_trained_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H2: PQ codebook TRAINING — the k-means step ``pq_topk``'s
    docstring defers ("real PQ trains the codebook"): one Lloyd
    refinement per subspace in EXACT fixed-point arithmetic (the
    ``semdedup_kmeans`` discipline — floor(x*10^6) bigint vectors,
    integer L2², exact dim sums, floor-of-mean centroids), so the
    whole training round replays bit-for-bit in the oracle. Output
    per subspace: vectors, total integer distortion under the seed
    codebook vs after the trained round, and how many vectors changed
    code — the training-progress audit a vector-store team reads
    (floor-rounded centroids mean distortion is near-monotone, not
    strictly; the audit reports both sides rather than asserting).

    Scale: assignment is a broadcast of M x 8 centroids + a map-side
    argmin (min-of-struct partial agg, no window); retraining explodes
    dims with map-side combine into (M x 8 x SUBDIM) running sums.
    Nothing is corpus².
    """
    emb = read_table(spark, sf_dir, "embeddings")
    sub = (
        emb.select("vec_id", _scaled_vec("embedding").alias("xi"))
        .select(
            "vec_id",
            F.explode(
                F.sequence(F.lit(0), F.lit(PQ_SUBSPACES - 1))
            ).alias("s"),
            "xi",
        )
        .select(
            "vec_id",
            "s",
            F.expr(
                f"slice(xi, s * {PQ_SUBDIM} + 1, {PQ_SUBDIM})"
            ).alias("sv"),
        )
    )
    seeds = sub.filter(F.col("vec_id").isin(*PQ_CENTROID_IDS)).select(
        "s", F.col("vec_id").alias("cent_id"), F.col("sv").alias("cv")
    )

    def d2(sv, cv):
        return F.aggregate(
            F.zip_with(sv, cv, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )

    def assign(cb: DataFrame, code_col: str) -> DataFrame:
        scored = sub.join(F.broadcast(cb), "s").select(
            "vec_id",
            "s",
            F.struct(
                d2(F.col("sv"), F.col("cv")).alias("d"),
                F.col("cent_id").alias("code"),
                F.col("sv").alias("sv"),
            ).alias("t"),
        )
        best = scored.groupBy("vec_id", "s").agg(F.min("t").alias("t"))
        return best.select(
            "vec_id",
            "s",
            F.col("t.d").alias("d"),
            F.col("t.code").alias(code_col),
            F.col("t.sv").alias("sv"),
        )

    a1 = assign(seeds, "code1")
    dims = a1.select("s", "code1", F.posexplode("sv").alias("i", "v"))
    sums = dims.groupBy("s", "code1", "i").agg(
        F.sum("v").alias("sm"), F.count(F.lit(1)).alias("n")
    )
    trained = sums.groupBy("s", "code1").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "sm", "n"))),
            lambda t: F.floor(
                t["sm"].cast("double") / t["n"].cast("double")
            ).cast("bigint"),
        ).alias("cv")
    ).select("s", F.col("code1").alias("cent_id"), "cv")
    a2 = assign(trained, "code2")

    joined = a1.select(
        "vec_id", "s", F.col("d").alias("d1"), "code1"
    ).join(
        a2.select("vec_id", "s", F.col("d").alias("d2"), "code2"),
        ["vec_id", "s"],
    )
    return joined.groupBy("s").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.sum("d1").cast("bigint").alias("sse_seed"),
        F.sum("d2").cast("bigint").alias("sse_trained"),
        F.sum(
            F.when(F.col("code1") != F.col("code2"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_moved"),
    )


IVF_RECLUSTER_WORK = "/tmp/bhps_ivf_recluster"


def ivf_recluster_moves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H2: INDEX RE-CLUSTERING with minimal movement — the maintenance
    step the at-rest family still lacked: as a corpus grows the seed
    centroids drift, and the answer is retrain + move ONLY the vectors
    whose assignment changed, never a full rebuild. The chain: (1)
    build the store under the seed (cosine) assignment; (2) RETRAIN —
    per-cell exact fixed-point centroid means (floor(e·10⁶) bigint
    vectors, integer sums, floor-of-mean: the semdedup/PQ discipline,
    so the whole round replays bit-for-bit); (3) re-assign every
    vector by exact integer L2² argmin (broadcast K centroids,
    min-of-struct partial agg — no window); (4) REWRITE ONLY the
    affected cells in dynamic partition-overwrite mode (cells nothing
    moved in or out of keep their exact file identity — asserted
    in-query; a fully-emptied cell's dir is dropped); (5) SERVE:
    probes re-assign under the new centroids and the search reads only
    the probed cells' directories, ranking by the same exact integer
    distance.

    Scale: retraining is one map-side-combined (cells × dims) running
    sum; re-assignment is K broadcast distances per vector; movement
    I/O ∝ vectors that actually moved — the rebalance a trillion-row
    vector lake can afford nightly, vs the full rebuild it cannot.
    """
    import os
    import shutil

    shutil.rmtree(IVF_RECLUSTER_WORK, ignore_errors=True)
    store = os.path.join(IVF_RECLUSTER_WORK, "cells")
    emb = _ivf_store_build(spark, sf_dir, store)
    schema = "vec_id bigint, embedding array<float>, cell_id bigint"
    cents = _recluster_moved_cells(spark, store, schema)
    return _exact_cell_serve(spark, emb, store, schema, cents)


def _int_d2(a: Column, b: Column) -> Column:
    """Exact integer L2² between two scaled-bigint vectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def _retrain_centroids(at_rest: DataFrame) -> DataFrame:
    """Per-cell exact fixed-point centroid means over the at-rest
    store (floor(e·10⁶) bigint vectors, integer dim sums, floor-of-
    mean — the semdedup/PQ discipline, replayable bit-for-bit).
    Input: (vec_id, embedding, cell_id). Returns the K-row
    (cent_id, cvec) frame, localCheckpoint'd because callers rewrite
    the very files its lineage reads."""
    scaled = at_rest.select(
        F.col("cell_id").alias("old_cell"),
        _scaled_vec("embedding").alias("xi"),
    )
    dims = scaled.select("old_cell", F.posexplode("xi").alias("i", "v"))
    return (
        dims.groupBy("old_cell", "i")
        .agg(F.sum("v").alias("sm"), F.count(F.lit(1)).alias("n"))
        .groupBy("old_cell")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "sm", "n"))),
                lambda t: F.floor(
                    t["sm"].cast("double") / t["n"].cast("double")
                ).cast("bigint"),
            ).alias("cvec")
        )
        .select(F.col("old_cell").alias("cent_id"), "cvec")
        .localCheckpoint()
    )


def _exact_reassign(frame: DataFrame, cents: DataFrame) -> DataFrame:
    """Exact integer argmin over the retrained centroids — a MAP-SIDE
    projection since r14: the K (localCheckpoint'd) centroid rows are
    collected once and become literal bigint arrays; ``array_min``
    over per-centroid ``(d, cell)`` structs is the same lexicographic
    (min d, then min cell) the old crossJoin + groupBy(min(struct))
    computed, with zero exchange and no K-fold row blowup (the old
    shape shuffled every carried column — embedding payload included —
    just to collapse the K candidate copies back to one). Keeps every
    input column; adds ``new_cell``. Like _ivf_cell_assign, the K-way
    distance array is one ``transform`` lambda over a single-SQL-hop
    literal centroid array, so the fold is constructed once per call
    regardless of K (see _cent_array_lit)."""
    rows = sorted(cents.collect(), key=lambda r: r.cent_id)
    parts = []
    for r in rows:
        parts.append(
            "named_struct('cv',array(%s),'cell',%dL)"
            % (",".join("%dL" % int(v) for v in r.cvec), int(r.cent_id))
        )
    # same empty-set type pin as _cent_array_lit
    cents_lit = F.expr(
        "CAST(array(%s) AS array<struct<cv:array<bigint>,cell:bigint>>)"
        % ",".join(parts)
    )
    scored = F.transform(
        cents_lit,
        lambda c: F.struct(
            _int_d2(F.col("xi"), c["cv"]).alias("d"),
            c["cell"].alias("cell"),
        ),
    )
    return frame.withColumn("new_cell", F.array_min(scored)["cell"])


def _recluster_moved_cells(
    spark: SparkSession,
    store: str,
    schema: str,
    stream_layout: bool = False,
) -> DataFrame:
    """RETRAIN + MOVE ONLY WHAT CHANGED, shared by the at-rest
    recluster query and the nightly-maintenance composite: exact
    fixed-point centroid retrain, exact integer re-assignment,
    dynamic-overwrite rewrite of ONLY the affected cells (untouched
    cells must keep their exact file identity — asserted; a fully-
    emptied cell's dir is dropped). ``stream_layout`` writes moved
    rows into the ``arrival=-1`` packed sub-partition so the
    streaming store's two-level layout (and its compaction-mark
    replay guard) survives the move. Returns the retrained
    centroids frame for the serve path."""
    import glob
    import os
    import shutil

    if stream_layout:
        # PRECONDITION: the move rewrite targets only the packed
        # ``arrival=-1`` sub-partitions (dynamic overwrite clears
        # exactly what it writes), so every live row must already be
        # packed — an unpacked arrival would survive the rewrite and
        # duplicate its moved rows. Nightly order is therefore
        # compact-then-recluster; this assert makes it a contract.
        unpacked = [
            f
            for f in glob.glob(
                os.path.join(store, "cell_id=*", "arrival=*", "*.parquet")
            )
            if os.sep + "arrival=-1" + os.sep not in f
        ]
        assert not unpacked, f"recluster over unpacked arrivals: {unpacked[:3]}"
    at_rest = (
        spark.read.schema(schema)
        .parquet(store)
        .select("vec_id", "embedding", "cell_id")
    )
    cents = _retrain_centroids(at_rest)
    scaled = at_rest.select(
        "vec_id",
        "embedding",
        F.col("cell_id").alias("old_cell"),
        _scaled_vec("embedding").alias("xi"),
    )
    # materialize: the rewrite below overwrites the very files this
    # frame's lineage reads — checkpoint severs the self-overwrite
    # (xi dropped first: the checkpoint holds only what the rewrite
    # and move-set computations read)
    best = _exact_reassign(scaled, cents).drop("xi").localCheckpoint()
    moves = best.filter(F.col("new_cell") != F.col("old_cell"))
    # bounded collect: affected cell ids (<= 2K of the K cells)
    aff = sorted(
        r.c
        for r in moves.select(F.col("old_cell").alias("c"))
        .unionByName(moves.select(F.col("new_cell").alias("c")))
        .distinct()
        .collect()
    )
    files_before = {
        d: sorted(
            glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True)
        )
        for d in glob.glob(os.path.join(store, "cell_id=*"))
    }
    if aff:
        new_layout = best.filter(F.col("new_cell").isin(aff)).select(
            "vec_id", "embedding", F.col("new_cell").alias("cell_id")
        )
        pcols = ["cell_id"]
        if stream_layout:
            # moved rows land in the packed sub-partition: replayed
            # arrival batches stay guarded by the compaction mark
            new_layout = new_layout.withColumn(
                "arrival", F.lit(-1).cast("int")
            )
            pcols = ["cell_id", "arrival"]
            # INTENT MARKER before the overwrite (ADVICE r11 #2): a
            # crash between the dynamic overwrite and the mark
            # republish below leaves pack files the committed mark
            # does not name. Without this marker the NEXT
            # compaction's recovery would unlink them as crashed-
            # round leftovers — deleting committed data. While the
            # marker exists, recovery instead ADOPTS the current
            # pack set (see compact_stream_cell_store).
            _write_recluster_intent(store)
        sess_key = "spark.sql.sources.partitionOverwriteMode"
        old_mode = spark.conf.get(sess_key, None)
        spark.conf.set(sess_key, "dynamic")
        try:
            new_layout.write.partitionBy(*pcols).mode(
                "overwrite"
            ).parquet(store)
        finally:
            if old_mode is None:
                spark.conf.unset(sess_key)
            else:
                spark.conf.set(sess_key, old_mode)
        live_cells = {
            r.cell_id
            for r in new_layout.select("cell_id").distinct().collect()
        }
        for c in aff:  # a cell every vector left: drop its dir
            if c not in live_cells:
                shutil.rmtree(
                    os.path.join(store, f"cell_id={c}"),
                    ignore_errors=True,
                )
        # the session's file-status cache still lists the replaced
        # files — drop it before the serving read
        spark.catalog.refreshByPath(store)
        if stream_layout:
            # The dynamic overwrite REPLACED the mark-listed pack
            # files of every affected cell with fresh part files the
            # mark does not name — republish the mark over the
            # post-move pack set, or the NEXT compaction's recovery
            # step would unlink the moved rows as crash leftovers
            # (silent data loss on the second nightly cycle). Same
            # atomic tmp+replace pivot as the compactor; a crash
            # inside the overwrite→republish window is covered by
            # the intent marker written above (recovery adopts the
            # current pack set instead of GC'ing it).
            import json

            mark = _stream_store_mark(store)
            mark["packs"] = sorted(
                os.path.relpath(f, store)
                for f in glob.glob(
                    os.path.join(
                        store, "cell_id=*", "arrival=-1", "*.parquet"
                    )
                )
            )
            tmp_mark = os.path.join(store, IVF_COMPACTION_MARK + ".tmp")
            with open(tmp_mark, "w") as fh:
                json.dump(mark, fh)
            os.replace(
                tmp_mark, os.path.join(store, IVF_COMPACTION_MARK)
            )
            # mark republished over the post-move pack set — the
            # crash window is closed, retire the intent marker
            os.unlink(os.path.join(store, IVF_RECLUSTER_INTENT))
    # untouched cells keep their exact file identity across the move
    for d, files in files_before.items():
        cell = int(os.path.basename(d).split("=", 1)[1])
        if cell not in set(aff):
            now = sorted(
                glob.glob(
                    os.path.join(d, "**", "*.parquet"), recursive=True
                )
            )
            assert now == files, f"untouched cell rewritten: {d}"
    return cents


def _exact_cell_serve(
    spark: SparkSession,
    emb: DataFrame,
    store: str,
    schema: str,
    cents: DataFrame,
) -> DataFrame:
    """Serve the re-clustered store: probes re-assign under the new
    centroids; the search reads only the probed cells' directories
    and ranks by the same exact integer distance."""
    # the map-side reassign keeps xi on the row, so the probe frame
    # needs no join back to emb for its own vector
    probes = _exact_reassign(
        emb.filter(F.col("vec_id") < N_QUERIES).select(
            "vec_id", _scaled_vec("embedding").alias("xi")
        ),
        cents,
    ).select(
        F.col("vec_id").alias("q_id"),
        F.col("new_cell").alias("q_cell"),
        F.col("xi").alias("q_xi"),
    )
    cells = sorted(
        r.q_cell for r in probes.select("q_cell").distinct().collect()
    )
    idx = (
        spark.read.schema(schema)
        .parquet(store)
        .filter(F.col("cell_id").isin(cells) if cells else F.lit(False))
        .select(
            F.col("vec_id").alias("c_id"),
            _scaled_vec("embedding").alias("c_xi"),
            "cell_id",
        )
    )
    pairs = (
        F.broadcast(probes)
        .join(idx, F.col("q_cell") == F.col("cell_id"))
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            "q_id",
            "c_id",
            "cell_id",
            _int_d2(F.col("q_xi"), F.col("c_xi")).alias("d2"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("d2").asc(), F.col("c_id"))
    return (
        pairs.withColumn("rnk", F.rank().over(w).cast("int"))
        .filter(F.col("rnk") <= TOP_K)
        .select("q_id", "c_id", "cell_id", "d2", "rnk")
    )


IVF_NIGHTLY_WORK = "/tmp/bhps_ivf_nightly"


def ivf_nightly_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H2 × H4: the NIGHTLY MAINTENANCE CYCLE composed end to end —
    the one row VERDICT r09/r10 asked for: stream-maintain (three
    checkpointed arrival batches land under ``cell_id=*/arrival=N``)
    → COMPACT (per-cell binpack into ``arrival=-1``, committed with a
    compacted-through high-water mark) → RE-CLUSTER (exact fixed-
    point retrain; ONLY the cells something moved in or out of are
    rewritten, into the packed sub-partition, untouched cells keep
    byte-identical file identity) → SEARCH under the new centroids.

    Exactly-once is proven across the WHOLE cycle: a replayed arrival
    batch is injected after compaction AND AGAIN after the recluster
    rewrite, and both times the high-water guard must leave the
    store's file listing byte-identical (asserted — a duplicated row
    would also break the oracle hash); a final integrity gate pins
    one-row-per-vector across every partition the cycle touched.

    Oracle: the same replay as ``h2_ivf_recluster_moves`` — stream
    batching, compaction, and the move rewrite may never change a
    single answer; only the layout gets cheaper to serve.

    Scale: each leg is the O(changed) maintenance its standalone
    query proves (O(batch) landing, O(small files) packing, O(moved)
    rewrite); the cycle shows they COMPOSE — mark semantics survive
    the recluster's dynamic overwrite, which is the part a standalone
    query cannot show.
    """
    import glob
    import os

    def listing() -> list[str]:
        return sorted(
            glob.glob(
                os.path.join(store, "**", "*.parquet"), recursive=True
            )
        )

    schema = IVF_STREAM_SCHEMA
    with legtime.leg("build"):
        emb, store = _ivf_stream_build(spark, sf_dir, IVF_NIGHTLY_WORK)
        compact_stream_cell_store(spark, store)
        # redelivery #1 — after compaction, before recluster
        before = listing()
        _ivf_stream_lander(emb, store)(
            emb.filter(F.col("vec_id") % 3 == 1), 1
        )
        assert before == listing(), "post-compaction replay mutated store"
        cents = _recluster_moved_cells(
            spark, store, schema, stream_layout=True
        )
        # redelivery #2 — the mark must still guard AFTER the
        # recluster's dynamic overwrite rewrote cell directories
        before = listing()
        _ivf_stream_lander(emb, store)(
            emb.filter(F.col("vec_id") % 3 == 2), 2
        )
        assert before == listing(), "post-recluster replay mutated store"
        # integrity across the whole cycle: exactly one live row per
        # vector, no loss and no duplication through land→pack→move
        # (total + distinct in one aggregation pass)
        at_rest = spark.read.schema(schema).parquet(store)
        n_rows, n_distinct = at_rest.agg(
            F.count(F.lit(1)), F.countDistinct("vec_id")
        ).first()
        n_vecs = emb.count()
        assert n_rows == n_vecs == n_distinct, (n_rows, n_vecs, n_distinct)
    return _exact_cell_serve(spark, emb, store, schema, cents)


RADIUS = 1.25          # binary-exact search radius (L2)
RADIUS_EPS = 2.0 ** -20  # prune slack: only ever ADDS candidate cells
LABEL_SHIFT = 8.0      # per-label offset making clusters separable


def _l2_fold(a, b) -> Column:
    """Σ (a_i − b_i)² as a strict left fold in double — the same
    order-pinned discipline as dot_fold, so sqrt(d²) replays
    bit-identically in DuckDB's list_sum fold."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def ivf_radius_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H2: RADIUS (range) SEARCH with TRIANGLE-INEQUALITY cell
    pruning — the "every neighbor within r" query the top-k family
    cannot express (dedup-by-distance, recall-guaranteed blocklists).
    Per cell the index stores one REPRESENTATIVE point and the cell's
    covering radius ``r_cell = max d(x, rep)``; the triangle
    inequality gives ``d(q, x) ≥ d(q, rep) − r_cell`` for EVERY
    member x, so a cell with ``d(q, rep) > r + r_cell`` provably
    holds no result and is skipped without reading a vector. The
    prune threshold carries a 2⁻²⁰ slack so float rounding can only
    ADD candidate cells — soundness never hinges on the last bit.

    The fixture's embeddings are near-isotropic (all pair distances
    ≈1.0–1.7), where no metric index can prune, so the plan first
    separates the clusters deterministically: coordinate 0 is shifted
    by ``8·label`` (both engines apply the identical transform).
    In-plan assertion: with 10 separated cells, each probe searches
    ≤3 of them — the pruning actually fired; the oracle (a full
    brute-force scan) proves it never dropped a neighbor.

    Scale shape: reps+radii are K rows broadcast; assignment never
    shuffles the corpus (cells ARE the label partition); only probed
    cells are read — partition pruning as a metric guarantee.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    shifted = emb.select(
        "vec_id",
        "label",
        F.transform(
            "embedding",
            lambda x, i: F.when(
                i == 0,
                x.cast("double") + F.lit(LABEL_SHIFT) * F.col("label"),
            ).otherwise(x.cast("double")),
        ).alias("ve"),
    )
    w = Window.partitionBy("label").orderBy("vec_id")
    reps = (
        shifted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("label", F.col("ve").alias("rvec"))
    )
    radii = (
        shifted.join(F.broadcast(reps), "label")
        .withColumn("d", F.sqrt(_l2_fold("ve", "rvec")))
        .groupBy("label")
        .agg(F.max("d").alias("r_cell"))
    )
    cells = reps.join(radii, "label")  # K rows: (label, rvec, r_cell)

    probes = shifted.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("ve").alias("qe")
    )
    searched = (
        F.broadcast(probes)
        .crossJoin(F.broadcast(cells))
        .withColumn("dc", F.sqrt(_l2_fold("qe", "rvec")))
        .filter(
            F.col("dc")
            <= F.lit(RADIUS) + F.col("r_cell") + F.lit(RADIUS_EPS)
        )
        .select("q_id", "qe", "label")
    )
    n_probes = probes.count()  # bounded: N_QUERIES rows
    if n_probes:  # pruning LAW: separated cells ⇒ ≤3 searched per probe
        assert searched.count() <= 3 * n_probes
    cands = shifted.select(
        F.col("vec_id").alias("c_id"), "label", F.col("ve").alias("ce")
    )
    return (
        searched.join(cands, "label")
        .filter(F.col("q_id") != F.col("c_id"))
        .withColumn("dist", F.sqrt(_l2_fold("qe", "ce")))
        .filter(F.col("dist") <= F.lit(RADIUS))
        .select("q_id", "c_id", "dist")
    )
