"""Deduplication plans — SURVEY §2 H1 (training-data pipeline core).

Four dedup families over ``documents``:

- exact:      md5(text) group (hash-groupBy; one shuffle on the hash)
- MinHash+LSH: shingle → keyed-md5 minhash signature → banded bucket
  keys → bucket self-join → candidate pairs (near-dup at scale: the
  join is on band keys, so cost ~ #colliding docs, never O(n²))
- SimHash:    per-token portable hash → bit-vote → 16-bit signature
  (Hamming-bucket near-dup; one explode + two aggregations)
- n-gram Jaccard: shingle-overlap self-join with exact similarity on
  candidate pairs only

The fixture corpus has no duplicates, so each plan first synthesizes
a deterministic variant set (copies / near-copies of every 25th doc)
— the oracle SQL builds the identical variants, making the comparison
meaningful end-to-end.

Portability: all hashing is md5-based (functions.text) — bit-identical
in any engine; MinHash "permutations" are keyed hash families, so
signatures are deterministic, not RNG-seeded.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from bow_hunter_pipeline_spark.functions.text import (
    MERSENNE31,
    hash64,
    minhash_perm_consts,
    shingle_hashes_from,
    token_hash_array,
    tokens,
    word_shingles,
)
from bow_hunter_pipeline_spark.functions.localframe import local_df
from bow_hunter_pipeline_spark.io.readers import read_table

NUM_PERM = 16
BANDS = 4
ROWS_PER_BAND = 4

# Universal-hash permutation family (functions.text): one md5 per
# TOKEN (shingle hash = integer combine of three token hashes — see
# _minhash_buckets), each permutation a codegen'd multiply-add.
PERM_A, PERM_B = minhash_perm_consts(NUM_PERM)


def _with_exact_copies(docs: DataFrame) -> DataFrame:
    """documents ∪ exact copies of every 25th doc (doc_id + 10000)."""
    copies = docs.filter(F.col("doc_id") % 25 == 0).withColumn(
        "doc_id", F.col("doc_id") + 10000
    )
    return docs.unionByName(copies)


def _with_near_copies(docs: DataFrame) -> DataFrame:
    """documents ∪ near-copies of every 25th doc (doc_id + 20000,
    text suffixed) — high-Jaccard but not exact."""
    near = (
        docs.filter(F.col("doc_id") % 25 == 0)
        .withColumn("doc_id", F.col("doc_id") + 20000)
        .withColumn("text", F.concat(F.col("text"), F.lit(" near dup tail")))
    )
    return docs.unionByName(near)


def exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H1 exact: md5-keyed duplicate groups (smallest doc_id is the
    canonical survivor — deterministic keep rule)."""
    docs = _with_exact_copies(read_table(spark, sf_dir, "documents"))
    return (
        docs.groupBy(F.md5("text").alias("fp"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("canonical_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


# Memo of the MinHash/LSH Column TREES (not data, not results): the
# hash/band expressions reference their inputs by NAME only and carry
# no session or data state, so one construction serves every call.
# Building them per call cost ~0.4-0.5 s of driver-side py4j
# round-trips (r14 profile of h1_incremental_lsh_index) — paid once
# per MICRO-BATCH on the streaming index paths, where the driver does
# no per-call data work at all (guide §4/§5: keep the driver out of
# the per-call path). Unresolved expressions are immutable; analysis
# assigns fresh ids per plan, so sharing one tree across DataFrames,
# threads, and sessions in this process is safe by construction.
class _ExprMemo:
    """Holds the memo behind an OPAQUE object, as legtime's
    accumulator does: tools/plan_fingerprints.py hashes module-level
    dicts BY VALUE, so a bare dict warmed by an earlier query made
    every consumer's fingerprint depend on test order. An instance is
    tokenized by type only."""

    def __init__(self) -> None:
        self.exprs: dict[str, object] = {}


_MINHASH_EXPRS = _ExprMemo()


def _sig_exprs() -> tuple:
    """(th, h, [m0..m{NUM_PERM-1}]) signature Column trees, built once
    per process (see _MINHASH_EXPRS)."""
    if "sig" not in _MINHASH_EXPRS.exprs:
        th = token_hash_array("text").alias("th")
        h = F.explode_outer(shingle_hashes_from(F.col("th"))).alias("h")
        mins = [
            F.min(
                (F.lit(PERM_A[p]) * F.col("h") + F.lit(PERM_B[p]))
                % F.lit(MERSENNE31)
            ).alias(f"m{p}")
            for p in range(NUM_PERM)
        ]
        _MINHASH_EXPRS.exprs["sig"] = (th, h, mins)
    return _MINHASH_EXPRS.exprs["sig"]


def _minhash_sigs(docs: DataFrame) -> DataFrame:
    """(doc_id, m0..m{NUM_PERM-1}) minhash signature frame — the shared
    core of the LSH bucket builder and the estimate-vs-exact audit.
    One md5 per token, codegen'd integer shingle combine, explode with
    map-side partial min per permutation (the shuffle carries one row
    per doc). ``explode_outer`` keeps shingle-less docs with an
    all-NULL signature, matching the SQL oracle's list_min over an
    empty list."""
    # token-hash array as its OWN projection: the shingle combine
    # references it 3×, and a separate named column stops
    # CollapseProject from inlining (= re-md5ing every token 3×)
    th, h, mins = _sig_exprs()
    with_th = docs.select("doc_id", th)
    hashed = with_th.select("doc_id", h)
    return hashed.groupBy("doc_id").agg(*mins)


def _band_key_expr():
    """The exploded LSH band-key Column tree, built once per process
    (see _MINHASH_EXPRS)."""
    if "band" not in _MINHASH_EXPRS.exprs:
        band_cols = [
            F.md5(
                F.concat_ws(
                    "|",
                    F.lit(str(b)),
                    *[
                        F.col(f"m{b * ROWS_PER_BAND + r}").cast("string")
                        for r in range(ROWS_PER_BAND)
                    ],
                )
            )
            for b in range(BANDS)
        ]
        _MINHASH_EXPRS.exprs["band"] = F.explode(
            F.array(*band_cols)
        ).alias("band_key")
    return _MINHASH_EXPRS.exprs["band"]


def _minhash_buckets(docs: DataFrame) -> DataFrame:
    """(doc_id, band_key) LSH bucket rows — the codegen-path MinHash.

    Shape: one 28-bit md5 base hash per TOKEN (materialized as an
    array column so the shingle derivation doesn't re-hash — see
    functions.text.token_hash_array), shingle hashes as codegen'd
    linear combines of three token hashes (no shingle-string building
    at all), explode the hash array (``explode_outer`` so shingle-less
    docs keep their all-NULL signature, exactly like the higher-order
    form and the SQL oracle), then groupBy(doc_id) with a
    per-permutation min over the universal-hash family. Values are
    bit-identical to functions.text.minhash_signature. Evolution:
    md5-per-permutation → md5-per-shingle (NUM_PERM-fold fewer md5s)
    → md5-per-token + integer combine (~2× again: tokens are ~1/3 the
    bytes of shingle strings and the array_join/slice string building
    disappears).

    Scale: explode is narrow; partial aggregation collapses each doc's
    shingles map-side, so the doc_id shuffle carries ~one row per doc.
    """
    # Spread docs across all cores BEFORE the hash-heavy explode when
    # the scan under-parallelizes (locally: one small parquet file →
    # one task hashes every shingle). The explicit partition count
    # matters twice: AQE would coalesce a bare repartition("doc_id")
    # back to one partition (it sizes by shuffle bytes, blind to the
    # CPU below), and keying on doc_id pre-partitions the groupBy so
    # no second exchange appears. At 100 TB the input has thousands of
    # splits and the guard skips the reshuffle entirely.
    target = docs.sparkSession.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < target:
        docs = docs.repartition(target, "doc_id")
    sig = _minhash_sigs(docs)
    buckets = sig.select("doc_id", _band_key_expr())
    # Every caller self-joins this frame; materialize it once so the
    # hash pass isn't executed per join side (signatures are ~40 bytes
    # per doc — far smaller than the text they summarize, so persisting
    # beats recomputing at any scale; use reliable checkpoint/persist
    # with replication on a real cluster to survive executor loss).
    return buckets.localCheckpoint()


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H1 MinHash+LSH: candidate near-dup pairs via banded signatures.

    Plan shape (the 100 TB path): one explode+agg pass computes banded
    signatures (_minhash_buckets), self-join on band_key (shuffle keyed
    by band — collision-sized, not corpus-sized), distinct pairs.
    """
    docs = _with_near_copies(read_table(spark, sf_dir, "documents"))
    buckets = _minhash_buckets(docs)
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(b, (F.col("a.band_key") == F.col("b.band_key")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H1 SimHash: 16-bit signature per doc via per-token hash bit
    votes. Two aggregations (doc×bit majority, then bit-assembly);
    near-dups land within small Hamming distance — bucketing on the
    signature gives the scale path."""
    docs = _with_near_copies(read_table(spark, sf_dir, "documents"))
    return _simhash_sigs(docs)


SIMHASH_BITS = 16
SIMHASH_BANDS = 4  # 4-bit nibbles; hamming ≤ 3 ⟹ ≥1 identical band
HAMMING_MAX = 3


def _simhash_sigs(docs: DataFrame) -> DataFrame:
    """Shared signature computation for simhash_signatures /
    simhash_near_dup (bit-vote assembly, see simhash_signatures)."""
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    ).withColumn("h", hash64("token", hex_chars=15))
    bits = tok.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))).alias("bit"),
        F.col("h"),
    ).select(
        "doc_id",
        "bit",
        F.when(F.expr("shiftright(h, bit) & 1") == 1, 1)
        .otherwise(-1)
        .alias("vote"),
    )
    votes = bits.groupBy("doc_id", "bit").agg(F.sum("vote").alias("s"))
    return votes.groupBy("doc_id").agg(
        F.sum(
            F.when(F.col("s") > 0, F.expr("shiftleft(1, bit)")).otherwise(0)
        ).alias("simhash")
    )


def simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H1 SimHash near-dup pairs: banded candidate generation + exact
    Hamming verification.

    Scale shape: the signature splits into ``SIMHASH_BANDS`` nibbles;
    by pigeonhole, any pair within Hamming ≤ 3 shares at least one
    (position, value) nibble, so candidates come from an equi-join on
    (band, nibble) — collision-sized, never the O(n²) cross product.
    The exact ``bit_count(xor(...))`` filter then runs only on
    candidates. This is the standard sketch → candidate → verify
    pipeline at corpus scale.
    """
    docs = _with_near_copies(read_table(spark, sf_dir, "documents"))
    sigs = _simhash_sigs(docs)
    width = SIMHASH_BITS // SIMHASH_BANDS
    nibbles = sigs.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BANDS - 1))).alias("band"),
    ).withColumn(
        "nibble",
        F.expr(f"shiftright(simhash, band * {width}) & {2**width - 1}"),
    )
    a = nibbles.alias("a")
    b = nibbles.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.nibble") == F.col("b.nibble"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sig_a"),
            F.col("b.simhash").alias("sig_b"),
        )
        .distinct()
    )
    return candidates.withColumn(
        "hamming", F.bit_count(F.expr("sig_a ^ sig_b"))
    ).filter(F.col("hamming") <= HAMMING_MAX).select(
        "doc_a", "doc_b", "hamming"
    )


EDIT_DISTANCE_MAX = 20


def edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H1 edit-distance near-dup: exact Levenshtein verification over
    MinHash+LSH candidates — the standard two-stage fuzzy dedup
    (cheap sketch recall pass, expensive exact precision pass run only
    on candidate-sized input, never the O(n²) corpus grid).

    Levenshtein is the classical DP distance — identical integers in
    every engine, so the pair list and distances are oracle-exact.
    """
    docs = _with_near_copies(read_table(spark, sf_dir, "documents"))
    candidates = minhash_lsh_pairs(spark, sf_dir)
    ta = docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("ta"))
    tb = docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("tb"))
    return (
        candidates.join(ta, "doc_a")
        .join(tb, "doc_b")
        .withColumn("edit_dist", F.levenshtein("ta", "tb"))
        .filter(F.col("edit_dist") <= EDIT_DISTANCE_MAX)
        .select("doc_a", "doc_b", "edit_dist")
    )


MAX_CC_ITERS = 20


def dedup_clusters(
    spark: SparkSession, sf_dir: str, pairs: DataFrame | None = None
) -> DataFrame:
    """H1 cluster formation: connected components over the MinHash+LSH
    candidate-pair graph — the step that turns pairwise near-dup hits
    into dedup groups (keep min doc_id per cluster, drop the rest).

    Algorithm: iterative min-label propagation. Each node starts
    labeled with its own id; every round each node takes the min of its
    label and its neighbors' labels; converged when no label changes.
    Rounds needed = graph diameter — for dedup graphs (small dense
    cliques of near-copies) that is 2-3, so the driver loop runs a
    handful of joins, each shuffling only the edge list.

    Scale notes: ``localCheckpoint`` truncates lineage each round
    (otherwise the plan doubles per iteration and planning time
    explodes by round 10); on a real cluster use reliable
    ``checkpoint`` to survive executor loss, and for graphs with big
    diameters switch the round body to the large-star/small-star
    rewrite (Kiveris et al., "Connected Components in MapReduce"),
    which converges in O(log²n) rounds on the same join primitive.
    The convergence probe is an ``isEmpty``-style count aggregate, not
    a collect — nothing data-sized reaches the driver. Callers that
    already materialized the pair list (leakage_safe_split) pass it
    via ``pairs`` so the signature pass runs once, not twice.
    """
    if pairs is None:
        pairs = minhash_lsh_pairs(spark, sf_dir)
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(
                F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
            )
        )
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
        .localCheckpoint()
    )
    return _min_label_propagate(edges, labels)


def _min_label_propagate(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """The min-label propagation loop to convergence — shared by the
    from-scratch and incremental cluster builders. ``edges`` must be
    symmetric and materialized (every call site localCheckpoints it —
    re-deriving it per round would re-run its build subtree);
    ``labels`` seeds every node (a warm seed from a prior labeling
    converges in fewer rounds).

    Round shape (r15, guide §1.2/§2.4):

    * the neighbor minimum is aggregated per node FIRST (map-side
      partials over the edge join — the one inherent propagation
      shuffle) and applied with a doc_id-aligned left join +
      ``least(own, nbr_min)``, where the old round unioned the full
      label set into the aggregate and paid a second join+count job
      for the convergence test;
    * each round then POINTER-JUMPS: the freshly stepped label is
      replaced by the stepped label OF that label (path halving —
      Shiloach/Vishkin). A label value is always the id of a seeded
      node (labels start as self-ids and move by min over existing
      values), so the self-lookup is total; labels are monotone
      non-increasing and bounded by the component minimum, and the
      reached-set doubles per round, so rounds = O(log diameter)
      instead of O(diameter) — measured on the sf0.1 DBSCAN grid this
      is 7 rounds → 4. The lookup reuses the round's own exchanges
      (same subtree ⇒ ReusedExchange), so the extra cost is one
      label-sized join, paid back a full edge-sized round each time
      the round count halves;
    * the changed count (either hop improved any node) RIDES the
      round's checkpoint job as an Observation metric — zero extra
      jobs. changed == 0 implies the plain propagation fixpoint, which
      is the component minimum.
    """
    for _ in range(MAX_CC_ITERS):
        nbr_min = (
            edges.join(
                labels.select(
                    F.col("doc_id").alias("dst"),
                    F.col("cluster_id").alias("nbr_label"),
                ),
                "dst",
            )
            .groupBy(F.col("src").alias("doc_id"))
            .agg(F.min("nbr_label").alias("nbr_min"))
        )
        stepped = labels.join(nbr_min, "doc_id", "left").select(
            "doc_id",
            # least() ignores NULL (isolated node): label keeps
            F.least("cluster_id", "nbr_min").alias("cluster_id"),
            (F.col("nbr_min") < F.col("cluster_id")).alias("chg"),
        )
        lut = stepped.select(
            F.col("doc_id").alias("jk"), F.col("cluster_id").alias("jmp")
        )
        obs = Observation()
        labels = (
            stepped.join(lut, F.col("cluster_id") == F.col("jk"), "left")
            .select(
                "doc_id",
                F.least("cluster_id", "jmp").alias("cluster_id"),
                (
                    F.col("chg") | (F.col("jmp") < F.col("cluster_id"))
                ).alias("chg2"),
            )
            .observe(obs, F.count_if(F.col("chg2")).alias("changed"))
            .select("doc_id", "cluster_id")
            .localCheckpoint()
        )
        if int(obs.get["changed"]) == 0:
            break
    return labels


def incremental_dedup_clusters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """H1 INCREMENTAL cluster maintenance — the companion
    ``h1_incremental_lsh_index`` needs to close the daily-dedup loop:
    when an arrival's NEW candidate pairs land, cluster labels update
    WITHOUT re-walking the old pair graph. The old components ride
    along as one node→root STAR edge per node (the union-find
    contraction: O(nodes), never O(old edges)); the new pairs merge
    stars through the same min-label propagation, warm-seeded with the
    existing labels so rounds ≈ star diameter (≤2) plus the new paths.
    The final labeling must equal from-scratch connected components
    over ALL pairs — same oracle as ``h1_dedup_clusters``.

    Scale: this is what nightly dedup maintenance costs at 100 TB —
    O(new pairs + affected component sizes) shuffle per arrival; the
    historical pair graph is never re-shuffled, only its contracted
    star (bytes ∝ corpus nodes, not edges).
    """
    pairs = minhash_lsh_pairs(spark, sf_dir).localCheckpoint()
    # arrival split mirrors the incremental index fixture: batch 2 is
    # the new arrival — pairs touching it are the new edges
    is_new = (F.col("doc_a") % 3 == 2) | (F.col("doc_b") % 3 == 2)
    old_pairs = pairs.filter(~is_new)
    new_pairs = pairs.filter(is_new)
    labels_old = dedup_clusters(spark, sf_dir, pairs=old_pairs)
    star = labels_old.select(
        F.col("doc_id").alias("src"), F.col("cluster_id").alias("dst")
    ).unionByName(
        labels_old.select(
            F.col("cluster_id").alias("src"), F.col("doc_id").alias("dst")
        )
    )
    new_edges = new_pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        new_pairs.select(
            F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")
        )
    )
    edges = star.unionByName(new_edges).localCheckpoint()
    seed = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .join(labels_old, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id").alias("cluster_id"),
        )
        .localCheckpoint()
    )
    return _min_label_propagate(edges, seed)


def jaccard_pairs(spark: SparkSession, sf_dir: str, threshold: float = 0.5) -> DataFrame:
    """H1 n-gram Jaccard: exact 3-shingle Jaccard for pairs sharing at
    least one shingle; keep pairs ≥ threshold.

    Scale: the shingle self-join is the candidate generator (cost ~
    Σ_bucket |bucket|²); at 100 TB you put minhash_lsh_pairs in front
    and compute exact Jaccard only on its candidates — same final
    operator as here.
    """
    docs = _with_near_copies(read_table(spark, sf_dir, "documents"))
    sh = docs.select(
        "doc_id", F.explode(word_shingles("text", 3)).alias("shingle")
    ).distinct()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    shared = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.col("n_shared").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_shared", "jaccard")
    )


CONTAINMENT_THRESHOLD = 0.8


def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H1 n-gram containment: |A∩B|/|A| and |A∩B|/|B| per candidate
    pair — the asymmetric cousin of Jaccard that catches a small
    document embedded in a big one (quotation, boilerplate wrap),
    which symmetric Jaccard dilutes below threshold. Keep pairs where
    either direction clears 0.8.

    Same candidate generator and scale posture as jaccard_pairs (put
    the LSH front-end before it at 100 TB); only the denominators
    differ.
    """
    docs = _with_near_copies(read_table(spark, sf_dir, "documents"))
    sh = docs.select(
        "doc_id", F.explode(word_shingles("text", 3)).alias("shingle")
    ).distinct()
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    shared = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    cont_a = F.col("n_shared").cast("double") / F.col("n_a")
    cont_b = F.col("n_shared").cast("double") / F.col("n_b")
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("cont_in_a", cont_a)
        .withColumn("cont_in_b", cont_b)
        .filter(
            (F.col("cont_in_a") >= CONTAINMENT_THRESHOLD)
            | (F.col("cont_in_b") >= CONTAINMENT_THRESHOLD)
        )
        .select("doc_a", "doc_b", "n_shared", "cont_in_a", "cont_in_b")
    )


PREFIX_JACCARD_T = 0.9  # distinct-token Jaccard threshold — the
# fixture corpus draws on one shared vocabulary, so docs overlap
# heavily in distinct tokens; 0.9 isolates true near-copies


def prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H1: set-similarity join via prefix filtering (the PPJoin family,
    Xiao et al. 2008) — the OTHER classic way to bound an all-pairs
    similarity join, complementary to MinHash-LSH:

    order each doc's distinct tokens by global rarity (frequency asc,
    token asc); for Jaccard ≥ t, two docs can only qualify if they
    share a token within each other's first ``|d| - ceil(t·|d|) + 1``
    tokens (the prefix) — rare tokens first, so prefixes collide
    seldom. Candidates = equi-join on prefix tokens; then the exact
    Jaccard verify runs only on candidates. Unlike LSH this is EXACT:
    no false negatives, which tests/test_extensions.py proves against
    the brute-force all-pairs join.

    Scale: the prefix join is keyed on rare tokens (collision-bounded
    like LSH bands); the frequency table is a broadcastable aggregate;
    verify cost is candidate-bounded. The frequent-token tail never
    enters any join key — exactly the skew the naive token join dies
    on.
    """
    t = PREFIX_JACCARD_T
    corpus = _with_near_copies(read_table(spark, sf_dir, "documents"))
    dt = corpus.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("tok")
    ).distinct()
    freq = dt.groupBy("tok").agg(F.count(F.lit(1)).alias("f"))
    w_rank = Window.partitionBy("doc_id").orderBy("f", "tok")
    w_size = Window.partitionBy("doc_id")
    ranked = (
        dt.join(freq, "tok")
        .withColumn("rn", F.row_number().over(w_rank))
        .withColumn("m", F.count(F.lit(1)).over(w_size))
    )
    prefix = ranked.filter(
        F.col("rn")
        <= F.col("m") - F.ceil(F.lit(t) * F.col("m")).cast("bigint") + 1
    ).select("doc_id", "tok")
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    sizes = dt.groupBy("doc_id").agg(F.count(F.lit(1)).alias("m"))
    x = dt.select(F.col("doc_id").alias("doc_a"), "tok")
    y = dt.select(
        F.col("doc_id").alias("y_doc"), F.col("tok").alias("tok_b")
    )
    inter = (
        cand.join(x, "doc_a")
        .join(
            y,
            (F.col("doc_b") == F.col("y_doc"))
            & (F.col("tok") == F.col("tok_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("m").alias("m_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("m").alias("m_b"))
    jac = F.col("n_shared").cast("double") / (
        F.col("m_a") + F.col("m_b") - F.col("n_shared")
    ).cast("double")
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= F.lit(t))
        .select("doc_a", "doc_b", "m_a", "m_b", "n_shared", "jaccard")
    )


SEG_LEN = 8  # tokens per pseudo-line segment


def line_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H1: C4-style sub-document dedup (Raffel et al. 2020 §2.2 — the
    famous three-sentence-span rule): dedup at SEGMENT granularity
    across the whole corpus, keeping only a span's first occurrence in
    (doc_id, position) order. The fixture texts carry no sentence
    punctuation, so the span unit is a fixed 8-token window — same
    operator, deterministic segmentation.

    Returns per-doc boilerplate accounting: total segments, segments
    that are repeats of an earlier occurrence anywhere in the corpus,
    and the repeat ratio — the signal C4 used to strip boilerplate
    without dropping whole documents.

    Scale: one narrow segment explode; ONE shuffle on the segment text
    (first-occurrence window) + the doc_id re-aggregate. At 100 TB
    hash the segment to a 64-bit key first so the shuffle carries
    fixed-width keys (hash64 — same md5 discipline as exact dedup).
    """
    docs = read_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    nseg = F.floor(F.size(toks) / F.lit(SEG_LEN)).cast("int")
    seg_array = F.when(
        nseg > 0,
        F.transform(
            F.sequence(F.lit(0), nseg - 1),
            lambda i: F.array_join(
                F.slice(toks, i * SEG_LEN + 1, SEG_LEN), " "
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    segs = docs.select(
        "doc_id", F.posexplode(seg_array).alias("seg_idx", "seg")
    )
    w = Window.partitionBy("seg").orderBy("doc_id", "seg_idx")
    marked = segs.withColumn(
        "is_repeat", F.row_number().over(w) > 1
    )
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(F.col("is_repeat").cast("int")).alias("n_repeats"),
        (
            F.sum(F.col("is_repeat").cast("int")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("repeat_ratio"),
    )


def minhash_error_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H1: MinHash estimator quality audit — for every LSH candidate
    pair, the signature Jaccard ESTIMATE (matching permutation minima
    / NUM_PERM) next to the EXACT shingle Jaccard and the absolute
    error. The H1 twin of h2_ann_recall_audit: the query a dedup team
    runs after retuning NUM_PERM/BANDS to see what the sketch buys —
    and, like that audit, both sides are deterministic plans, so the
    audit itself is oracle-checkable.

    Scale: candidates come from the banded self-join (collision-sized);
    the exact side is computed ONLY for docs that appear in some
    candidate pair (semi-join pushdown before the shingle explode), so
    the expensive all-pairs Jaccard never materializes — the same
    "sketch recalls, exact verifies" split production dedup uses.
    Estimate division by NUM_PERM (a power of two) and the one final
    Jaccard division are exact IEEE, matching the oracle bit-for-bit.
    """
    docs = _with_near_copies(read_table(spark, sf_dir, "documents"))
    buckets = _minhash_buckets(docs)
    a = buckets.alias("a")
    b = buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )

    sig = _minhash_sigs(docs)
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"m{p}").alias(f"ma{p}") for p in range(NUM_PERM)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"m{p}").alias(f"mb{p}") for p in range(NUM_PERM)],
    )
    n_match = sum(
        F.col(f"ma{p}").eqNullSafe(F.col(f"mb{p}")).cast("int")
        for p in range(NUM_PERM)
    )
    est = cand.join(sa, "doc_a").join(sb, "doc_b").select(
        "doc_a", "doc_b", n_match.alias("n_match")
    )

    # exact Jaccard, candidates only: restrict docs BEFORE the explode
    in_cand = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = (
        docs.join(in_cand, "doc_id", "left_semi")
        .select("doc_id", F.explode(word_shingles("text", 3)).alias("shingle"))
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    shared = (
        sh.alias("x")
        .join(
            sh.alias("y"),
            (F.col("x.shingle") == F.col("y.shingle"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .groupBy(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )

    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    est_sim = F.col("n_match").cast("double") / F.lit(float(NUM_PERM))
    jac = F.col("n_shared").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_shared")
    )
    return (
        est.join(shared, ["doc_a", "doc_b"], "left")
        .join(na, "doc_a", "left")
        .join(nb, "doc_b", "left")
        .select(
            "doc_a",
            "doc_b",
            est_sim.alias("est_sim"),
            F.coalesce(jac, F.lit(0.0)).alias("jaccard"),
            F.abs(est_sim - F.coalesce(jac, F.lit(0.0))).alias("abs_err"),
        )
    )


LSH_BUCKET_TABLE = "bhps_lsh_buckets"


def bucketed_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H1 at rest: the LSH bucket frame lands as a BUCKETED table
    (operators.scale.write_bucketed — bucketBy band_key, sorted within
    buckets), and the candidate self-join reads it back co-bucketed,
    so the join itself needs NO exchange: the only shuffle left in the
    plan is the final distinct over emitted pairs. Same result as
    minhash_lsh_pairs (one oracle covers both) — this query is the
    amortized-shuffle deployment of it: at 100 TB the bucket table is
    written once per corpus snapshot and every downstream consumer
    (pair mining, cluster formation, dedup application) joins it
    exchange-free.

    Idempotent: the table is overwritten per run (same discipline as
    the A4/A5 scratch sinks).
    """
    import shutil

    from bow_hunter_pipeline_spark.operators.scale import write_bucketed

    # idempotence against stale state: drop the catalog entry AND any
    # orphaned managed-table directory a crashed prior run left behind
    # (saveAsTable refuses to reuse an existing location)
    spark.sql(f"DROP TABLE IF EXISTS {LSH_BUCKET_TABLE}")
    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    wh_path = wh.removeprefix("file:")
    shutil.rmtree(f"{wh_path}/{LSH_BUCKET_TABLE}", ignore_errors=True)

    docs = _with_near_copies(read_table(spark, sf_dir, "documents"))
    write_bucketed(
        _minhash_buckets(docs), LSH_BUCKET_TABLE, ["band_key"], 8
    )
    t = spark.table(LSH_BUCKET_TABLE)
    a = t.alias("a")
    b = t.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


LSH_SWEEP_CONFIGS = [(2, 8), (4, 4), (8, 2)]  # (bands, rows) with b*r = 16


def lsh_param_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H1: the LSH tuning table — ONE query that evaluates three
    banding configurations (2×8, 4×4, 8×2) of the same 16-permutation
    signatures against the corpus's PLANTED near-duplicates: per
    config, the candidate-pair volume (the cost axis) and the recall
    of the planted pairs (the quality axis). This is the sweep a
    dedup team runs before fixing BANDS/ROWS_PER_BAND in production —
    more bands = higher recall AND more candidates; the table shows
    the trade on real data, hash-exactly.

    One signature pass feeds all three configs (the sigs frame is
    computed once and localCheckpointed); each config contributes a
    banded self-join sized by its own collisions. Planted truth =
    the _with_near_copies pairs (doc_id, doc_id + 20000).
    """
    docs = _with_near_copies(read_table(spark, sf_dir, "documents"))
    sig = _minhash_sigs(docs).localCheckpoint()
    n_planted = docs.filter(F.col("doc_id") >= 20000).count()

    out = None
    for bands, rows in LSH_SWEEP_CONFIGS:
        band_cols = [
            F.md5(
                F.concat_ws(
                    "|",
                    F.lit(f"{bands}x{rows}:{b}"),
                    *[
                        F.col(f"m{b * rows + r}").cast("string")
                        for r in range(rows)
                    ],
                )
            )
            for b in range(bands)
        ]
        buckets = sig.select(
            "doc_id", F.explode(F.array(*band_cols)).alias("band_key")
        )
        a, b_ = buckets.alias("a"), buckets.alias("b")
        cand = (
            a.join(
                b_,
                (F.col("a.band_key") == F.col("b.band_key"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .distinct()
        )
        planted_caught = cand.filter(
            F.col("doc_b") == F.col("doc_a") + 20000
        )
        row = cand.agg(
            F.lit(f"{bands}x{rows}").alias("config"),
            F.count(F.lit(1)).alias("n_candidates"),
        ).crossJoin(
            planted_caught.agg(F.count(F.lit(1)).alias("n_planted_caught"))
        )
        out = row if out is None else out.unionByName(row)
    return out.select(
        "config",
        "n_candidates",
        "n_planted_caught",
        (
            F.col("n_planted_caught").cast("double")
            / F.lit(float(n_planted))
        ).alias("planted_recall"),
    )


def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H6/H1: near-dup-LEAKAGE-SAFE train/val/test split — the split
    key is the document's dedup CLUSTER representative, not the
    document itself, so near-duplicates can never straddle train and
    test (the classic eval-contamination failure: a test document's
    near-copy in train inflates benchmark scores; Lee et al.,
    "Deduplicating Training Data Makes Language Models Better",
    ACL 2022 measure exactly this leak). Docs outside any LSH pair
    are their own singleton cluster, so the split stays hash-stable
    for the whole corpus (same bucket law as
    h6_train_val_test_split, keyed on the representative).

    The result carries its own proof: per-split doc/cluster counts
    PLUS an audit row counting LSH candidate pairs whose endpoints
    landed in different splits — structurally ZERO here (both
    endpoints share a cluster representative by construction, hence a
    split), and the oracle recomputes the same zero from scratch. A
    doc-keyed split fails this audit wherever a pair exists.

    Scale: clusters come from the iterative min-label propagation
    (dedup_clusters — O(diameter) rounds over the edge list); the
    split/bucket assignment is one narrow projection; the audit joins
    the pair list (collision-sized, not corpus-sized) against the
    split map twice. Production persists the pair list once and
    reuses it for clustering and audit.
    """
    from bow_hunter_pipeline_spark.functions.text import hash64

    docs = _with_near_copies(read_table(spark, sf_dir, "documents")).select(
        "doc_id"
    )
    # materialize the pair list ONCE; clustering and the audit share it
    pairs = minhash_lsh_pairs(spark, sf_dir).localCheckpoint()
    clusters = dedup_clusters(spark, sf_dir, pairs=pairs)
    rep = docs.join(clusters, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", "doc_id").alias("rep")
    )
    bucket = (
        hash64(F.concat(F.lit("lsplit|"), F.col("rep").cast("string")))
        % 100
    )
    withsplit = rep.withColumn(
        "split",
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test"),
    )
    per = (
        withsplit.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_distinct("rep").alias("n_groups"),
        )
        .select(
            F.lit("split").alias("kind"),
            F.col("split").alias("key"),
            "n_docs",
            "n_groups",
        )
    )
    sa = withsplit.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("sa")
    )
    sb = withsplit.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("sb")
    )
    audit = (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .agg(
            F.sum((F.col("sa") != F.col("sb")).cast("bigint")).alias(
                "n_docs"
            ),
            F.count(F.lit(1)).alias("n_groups"),
        )
        .select(
            F.lit("audit").alias("kind"),
            F.lit("straddling_pairs").alias("key"),
            "n_docs",
            "n_groups",
        )
    )
    return per.unionByName(audit)


def dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H1: METHOD-AGREEMENT audit — MinHash+LSH and SimHash candidate
    pair sets compared head-to-head (counts, overlap, and pair-set
    Jaccard) on the same corpus. The two sketches detect different
    notions of similarity (set-resemblance vs weighted-bit
    proximity), so before standardizing a 100 TB dedup pass on one,
    this is the audit a data team runs: how much do they agree, and
    how many pairs does each find that the other misses?

    Both pair generators are the existing banded-candidate plans (no
    O(n²) anywhere); the comparison is one full-outer join on the
    pair key + a single-row aggregate. Every number is an exact
    integer (and one exact division for the Jaccard), so the whole
    audit hash-matches the oracle's from-scratch replay of both
    methods.
    """
    mh = minhash_lsh_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("in_mh")
    )
    sh = simhash_near_dup(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("in_sh")
    )
    both = mh.join(sh, ["doc_a", "doc_b"], "full_outer")
    return both.agg(
        F.sum(F.coalesce("in_mh", F.lit(0))).alias("n_minhash"),
        F.sum(F.coalesce("in_sh", F.lit(0))).alias("n_simhash"),
        F.sum(
            (F.col("in_mh").isNotNull() & F.col("in_sh").isNotNull())
            .cast("bigint")
        ).alias("n_both"),
        F.count(F.lit(1)).alias("n_union"),
        (
            F.sum(
                (F.col("in_mh").isNotNull() & F.col("in_sh").isNotNull())
                .cast("bigint")
            ).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("pair_jaccard"),
    )


def incremental_lsh_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H1 INCREMENTAL: LSH index MAINTENANCE — the corpus arrives in
    batches through a checkpointed stream and the banded-signature
    index is maintained at rest; each micro-batch hashes ONLY its own
    documents, joins its new bucket rows against the accumulated store
    (new×old candidates) and against itself (in-batch candidates),
    then appends to the store. The union of per-batch candidates must
    equal the one-shot batch self-join (same oracle as
    ``h1_minhash_lsh_pairs``) — every colliding pair is found exactly
    when its LATER member arrives.

    This is the 100 TB dedup shape that matters operationally: a
    production corpus is never re-hashed — daily arrivals cost
    O(new docs) hashing plus a join sized by |new| × collisions, not
    corpus². At rest the store would be bucketed+sorted on band_key
    (``bucketed_lsh_pairs`` shows that layout), making the new×old
    join exchange-free on the store side; signatures are ~40 bytes/doc
    so the store is ~0.1% of corpus bytes.

    Delivery is deterministic: three staged-mtime parquet files under
    ``maxFilesPerTrigger=1`` + ``availableNow`` through foreachBatch.
    EXACTLY-ONCE: both index writes (the bucket store and the pair
    ledger) are transactional-log appends carrying
    ``txn=(app_id, batch_id)`` (:func:`warehouse_tx.append_idempotent`
    — the mechanism the streaming tx sink proves) — a batch replayed
    after a crash between the two writes, or redelivered by a zombie
    driver, is recognized in-commit and skipped, so the store can
    never double-hold a signature nor the ledger a pair. Plain
    ``mode("append")`` parquet here would double-append on replay
    (at-least-once), the gap this closes.
    """
    from bow_hunter_pipeline_spark import warehouse_tx as tx

    _store, pairs = _incremental_lsh_build(
        spark, sf_dir, "/tmp/bhps_incr_lsh"
    )
    return tx.snapshot(spark, pairs).select("doc_a", "doc_b").distinct()


def _incremental_lsh_build(
    spark: SparkSession, sf_dir: str, work: str
) -> tuple[str, str]:
    """Stage three arrival files and drain them through the
    checkpointed index-maintenance stream; returns the (signature
    store, pair ledger) tx-table paths under ``work``."""
    import glob
    import os
    import shutil

    from bow_hunter_pipeline_spark import warehouse_tx as tx

    shutil.rmtree(work, ignore_errors=True)
    feed = os.path.join(work, "feed")
    os.makedirs(feed)
    store = os.path.join(work, "store")
    pairs = os.path.join(work, "pairs")

    docs = _with_near_copies(read_table(spark, sf_dir, "documents"))
    # stage all three deterministic arrival files in ONE job (the
    # same partitioned-write shape the IVF stream build uses): each
    # arrival group lands in a single task, so one file per directory
    # — where the filtered coalesce(1) loop paid three scan+write jobs
    staging = os.path.join(work, "_stage")
    (
        docs.withColumn("g", (F.col("doc_id") % 3).cast("int"))
        .repartition(3, "g")
        .write.partitionBy("g")
        .mode("overwrite")
        .parquet(staging)
    )
    for i in range(3):
        hits = glob.glob(os.path.join(staging, f"g={i}", "part-*.parquet"))
        dest = os.path.join(feed, f"arrival{i}.parquet")
        if hits:
            shutil.move(hits[0], dest)
        else:
            # empty arrival group (degenerate corpus): partitionBy
            # writes no directory for it; stage a schema-only file so
            # the feed keeps its deterministic 3-file shape
            empty_dir = os.path.join(work, "_stage_empty")
            docs.limit(0).coalesce(1).write.mode("overwrite").parquet(
                empty_dir
            )
            shutil.move(
                glob.glob(os.path.join(empty_dir, "part-*.parquet"))[0],
                dest,
            )
            shutil.rmtree(empty_dir)
        t = 1_700_000_000 + i * 100
        os.utime(dest, (t, t))
    shutil.rmtree(staging)

    # Empty tx tables up front so EVERY batch (including 0) is one
    # idempotent append — no create/append asymmetry on replay. The
    # store's schema is stated as DDL: deriving it by running
    # _minhash_buckets over a 0-row frame built the full NUM_PERM
    # expression tree and ran its eager localCheckpoint job just to
    # read .schema off the result.
    tx.create_table(
        spark, store, local_df(spark, [], "doc_id bigint, band_key string")
    )
    tx.create_table(
        spark, pairs,
        local_df(spark, [], "doc_a bigint, doc_b bigint"),
    )

    def update_index(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        # _minhash_buckets already localCheckpoints its result — a
        # second checkpoint here re-serialized the same rows per batch
        new = _minhash_buckets(batch_df)
        a, b = new.alias("a"), new.alias("b")
        cand = a.join(
            b,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        ).select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        old = tx.snapshot(sess, store)
        cross = new.alias("n").join(
            old.alias("o"), F.col("n.band_key") == F.col("o.band_key")
        ).select(
            F.least("n.doc_id", "o.doc_id").alias("doc_a"),
            F.greatest("n.doc_id", "o.doc_id").alias("doc_b"),
        )
        cand = cand.unionByName(cross)
        # pairs first, store second: a crash between them replays the
        # batch — the pairs txn skips, the store txn applies; a full
        # redelivery skips both. Store-first would make the replayed
        # pairs join see the batch's own signatures as "old" (dup
        # pairs are distinct-folded, but the txn skip makes the
        # ordering question moot entirely).
        tx.append_idempotent(
            sess, pairs, cand.distinct(), txn=("lsh_pairs", batch_id)
        )
        tx.append_idempotent(
            sess, store, new, txn=("lsh_store", batch_id)
        )

    stream = spark.readStream.schema(docs.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(feed)
    q = (
        stream.writeStream.foreachBatch(update_index)
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return store, pairs


def lsh_compacted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H1: the incremental LSH index's maintenance loop CLOSED with
    compaction — the streaming build leaves one small file per batch
    in BOTH tx tables (signature store, pair ledger); OPTIMIZE each
    through :func:`warehouse_tx.compact_binpack` (size-eligible files
    bin-packed and swapped in ONE commit), then prove exactly-once
    SURVIVES compaction: the txn stamps live in the transaction LOG,
    which OPTIMIZE carries forward, so a redelivered batch still
    recognizes itself and skips — asserted in-query with poison
    replays of every batch id. Same oracle as
    ``h1_minhash_lsh_pairs``: packing files must not change a pair.

    This is the missing third leg of the store-maintenance triangle:
    the batch cell store (``h2_ivf_compacted_search``) and the
    streaming cell store (``h2_ivf_stream_compacted_search``) compact
    through directory swaps; a TX table compacts through a commit —
    idempotence needs no extra machinery because the log IS the
    mechanism. At 100 TB this is what keeps the new×old candidate
    join's store side at O(live bytes) footers after years of daily
    arrivals.
    """
    from bow_hunter_pipeline_spark import warehouse_tx as tx

    store, pairs = _incremental_lsh_build(
        spark, sf_dir, "/tmp/bhps_incr_lsh_c"
    )
    for table in (store, pairs):
        v0 = tx._versions(table)[-1]
        v1, n_rw, _ = tx.compact_binpack(spark, table)
        # three per-batch appends leave >= 2 packable files (except on
        # empty fixtures, where 0-row appends may write no data files)
        assert n_rw >= 2 or tx.snapshot(spark, table).count() == 0, (
            table,
            n_rw,
        )
        assert v1 >= v0
    # redelivery AFTER compaction: txn stamps ride the log through
    # OPTIMIZE, so every original batch id still skips
    empty_sig = tx.snapshot(spark, store).limit(0)
    empty_pair = tx.snapshot(spark, pairs).limit(0)
    for table, app, df in (
        (store, "lsh_store", empty_sig),
        (pairs, "lsh_pairs", empty_pair),
    ):
        v_now = tx._versions(table)[-1]
        for bid in range(3):
            v, applied = tx.append_idempotent(
                spark, table, df, txn=(app, bid)
            )
            assert not applied and v == v_now, (table, bid)
    return tx.snapshot(spark, pairs).select("doc_a", "doc_b").distinct()


def _large_star(edges: DataFrame) -> DataFrame:
    """One LARGE-STAR round over a canonical (src < dst) edge set:
    every node connects its STRICTLY LARGER neighbors to the minimum
    of its closed neighborhood. Emitted pairs are (m, v) with
    m <= u < v, so the output is canonical by construction and free of
    self-loops."""
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("mn"))
        .select("src", F.least("mn", "src").alias("m"))
    )
    return (
        sym.filter(F.col("dst") > F.col("src"))
        .join(mins, "src")
        .select(F.col("m").alias("src"), F.col("dst").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """One SMALL-STAR round: orient each edge toward its larger
    endpoint (canonical (src < dst) already is that orientation —
    node dst owns smaller-neighbor set {src}); connect every smaller
    neighbor AND the node itself to the minimum of that set."""
    mins = edges.groupBy("dst").agg(F.min("src").alias("m"))
    leaves = (
        edges.join(mins, "dst")
        .filter(F.col("src") != F.col("m"))
        .select(F.col("m").alias("src"), F.col("src").alias("dst"))
    )
    centers = mins.select(F.col("m").alias("src"), F.col("dst").alias("dst"))
    return leaves.unionByName(centers).distinct()


def alternating_star_labels(
    edges: DataFrame, max_rounds: int = MAX_CC_ITERS
) -> DataFrame:
    """Run alternating large-star/small-star rounds on a CANONICAL
    (src < dst, no self-loops, distinct) edge set to the fixpoint and
    return (src=node, lbl=component minimum). Shared by the registry
    plan and the graph-shape tests so they exercise ONE loop, not
    copies.

    Convergence = edge-set fixpoint, tested with a count + one-sided
    ``exceptAll`` (equal cardinality + empty difference == set
    equality); the previous round's count is carried in a local, so
    each round pays ONE count job, not two. The fixpoint labeling
    (groupBy min over the symmetric closure) is only correct on a
    star forest, so exhausting ``max_rounds`` without converging
    RAISES instead of silently mislabeling — the O(log² n) bound
    makes that a can't-happen on healthy inputs, and an error beats a
    wrong answer if a step function ever regresses into oscillation.
    """
    edges = edges.localCheckpoint()
    n_edges = edges.count()
    converged = False
    for _ in range(max_rounds):
        stepped = _small_star(_large_star(edges)).localCheckpoint()
        n_stepped = stepped.count()
        if n_stepped == n_edges and stepped.exceptAll(edges).count() == 0:
            edges = stepped
            converged = True
            break
        edges, n_edges = stepped, n_stepped
    if not converged:
        raise RuntimeError(
            f"alternating-star did not reach a fixpoint in {max_rounds} "
            "rounds — refusing to label a non-star edge set"
        )
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return (
        sym.groupBy("src")
        .agg(F.min("dst").alias("mn"))
        .select("src", F.least("mn", "src").alias("lbl"))
    )


def cc_alternating_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H1 (NEW r11): connected components via ALTERNATING LARGE-STAR /
    SMALL-STAR rounds (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14) — the scale-path CC algorithm the
    ``dedup_clusters`` docstring points at for big-diameter graphs.
    Same input pair graph (MinHash+LSH candidates), same contract
    (node → component-minimum label), same oracle (DuckDB recursive
    closure) — a second, independently-derived algorithm hash-matching
    the first is the strongest equivalence proof the driver can record.

    Why this exists next to min-label propagation: propagation needs
    diameter-many rounds (fine for dedup cliques, diameter 2-3); the
    alternating rewrite provably converges in O(log^2 n) rounds on ANY
    graph shape — chains, lattices, social graphs — because each
    large-star halves tree heights and each small-star contracts them.
    At 100 TB the per-round cost is identical to propagation (one
    groupBy min + one join on the edge list), so the rewrite is a
    strict upgrade once diameter exceeds a handful.

    Execution notes: the edge set stays CANONICAL (src < dst) between
    rounds — large-star emits (m, v) with m <= u < v and small-star
    emits (m, x) with m < x, so canonicality is free, no re-sorting
    pass. ``localCheckpoint`` truncates lineage per round (reliable
    ``checkpoint`` on a real cluster); at scale swap the exceptAll in
    the fixpoint check for a cheap sum-of-hash checksum with a
    periodic exact confirm. Non-convergence raises rather than
    mislabeling (see :func:`alternating_star_labels`)."""
    pairs = minhash_lsh_pairs(spark, sf_dir)
    edges = (
        pairs.select(
            F.least("doc_a", "doc_b").alias("src"),
            F.greatest("doc_a", "doc_b").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    return alternating_star_labels(edges).select(
        F.col("src").alias("doc_id"), F.col("lbl").alias("cluster_id")
    )
