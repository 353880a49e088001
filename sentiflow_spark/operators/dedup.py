"""Deduplication operators for large-scale corpus curation
(SURVEY §7.2 M5 — a first-class extension beyond the reference, whose
only dedup was a keyed TTL set: ``internal/clients/valkey_client.go:126-159``).

Four families, all shuffle-architected for 100 TB:

- **exact**: canonical fingerprint (normalize→md5) + first-wins pick.
  One hash-partitioned aggregation; the md5 key is uniform → no skew.
- **MinHash + LSH**: shingle → k permutation mins → band buckets →
  candidate pairs. Signature build is one groupBy(doc) over exploded
  shingles with k partial-aggregable MIN()s; band join is an equi-join
  on (band_idx, band_hash) — never an all-pairs product. Estimated
  Jaccard = matching-component fraction; a final exact-Jaccard pass can
  be layered for verification.
- **SimHash**: 60-bit sign-aggregated token hash; near-dups share
  15-bit chunks (pigeonhole: hamming ≤ 3 ⇒ ≥1 of 4 chunks equal), so
  candidate generation is again an equi-join, then exact hamming via
  bit_count(xor). 60-bit/15-bit (not 32/8) so chunk buckets stay fine
  at corpus scale — see simhash().
- **n-gram Jaccard (exact)**: inverted-index self-join on shingle,
  count shared per pair, |A∩B| / (|A|+|B|-|A∩B|). At 100 TB you add
  prefix filtering / df-capping on the index; the plan shape (explode →
  equi-join → aggregate) is unchanged.

Every hash is a portable md5-derived integer (32-bit for MinHash
permutation inputs, 60-bit for SimHash — functions/hashing.py), so
results are engine-reproducible.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from sentiflow_spark.functions.hashing import (
    MERSENNE_31,
    md5_i32,
    md5_i60,
    minhash_coeffs,
)
from sentiflow_spark.functions.text import (
    fingerprint,
    shingles_from_tokens,
    word_tokens,
)

NUM_PERM = 16
BAND_SIZE = 4  # 4 bands × 4 rows: P(candidate) = 1-(1-j^4)^4


def dedup_exact(df: DataFrame) -> DataFrame:
    """Exact dedup: keep the lowest id per canonical fingerprint."""
    w = W.partitionBy("fp").orderBy("doc_id")
    return (
        df.withColumn("fp", fingerprint(F.col("text")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def exploded_shingles(df: DataFrame) -> DataFrame:
    """(id, shingle) inverted-index rows, distinct per doc. The token
    array is materialized in its own projection so the tokenizer regex
    runs once per document, not once per element_at reference (16x at
    sf0.1 — see shingles_from_tokens)."""
    tokd = df.select(F.col("doc_id"), word_tokens(F.col("text")).alias("_toks"))
    return tokd.select(
        F.col("doc_id"), F.explode(shingles_from_tokens(F.col("_toks"))).alias("shingle")
    )


def minhash_signatures(df: DataFrame) -> DataFrame:
    """id → sig_0..sig_{k-1}. Docs with no shingles get no row (nothing
    to hash — same convention as the oracle)."""
    coeffs = minhash_coeffs(NUM_PERM)
    sh = exploded_shingles(df)
    # materialize the md5 once per shingle; the k permutations are then
    # k cheap int ops per row instead of k md5 evaluations
    hashed = sh.select(F.col("doc_id"), md5_i32(F.col("shingle")).alias("_h"))
    h = F.col("_h")
    aggs = [
        F.min((h * F.lit(a) + F.lit(b)) % F.lit(MERSENNE_31)).alias(f"sig_{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    return hashed.groupBy("doc_id").agg(*aggs)


def packed_band_keys(sig_of, b: int) -> list[Column]:
    """The band key for band ``b`` as packed 62-bit longs — each key
    holds two 31-bit signature values: ``shiftleft(s0, 31) | s1``.
    MinHash sig values live in [0, MERSENNE_31) (md5_i32 is
    non-negative, so ``(h*a+b) % p`` is too), so the packing is
    INJECTIVE: key-tuple equality is exactly equality of the band's
    signature tuple — the same bucket partition the previous
    ``md5(concat_ws(',', sigs))`` hex key induced (md5 equality ==
    tuple equality absent collisions), with two 8-byte longs shuffled
    per band instead of a 32-char string, and the per-band
    md5 + 4 long→string casts replaced by two shift-or pairs (guide
    §2.3 "narrower types" / "shuffle keys instead of payloads").
    Every consumer treats the key as an opaque equality token, so the
    declared pair/cluster outputs are unchanged.

    ``sig_of(i)`` maps a flat signature index to its Column (a
    ``sig_{i}`` column, or an element_at over ``sig_arr``)."""
    lo = b * BAND_SIZE
    return [
        F.shiftleft(sig_of(lo + j), 31)
        .bitwiseOR(sig_of(lo + j + 1))
        .alias(f"bk{j // 2}")
        for j in range(0, BAND_SIZE, 2)
    ]


def band_join_keys() -> list[str]:
    """Column names a banded table is bucketed/joined on."""
    return ["band_idx"] + [f"bk{j}" for j in range(BAND_SIZE // 2)]


def banded_sigs(sigs: DataFrame) -> DataFrame:
    """Explode a wide signature table to (id, band_idx, bk*) rows —
    the shared band-table construction for the pair join and the
    star-edge clustering."""
    n_bands = NUM_PERM // BAND_SIZE
    return sigs.select(
        F.col("doc_id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        *packed_band_keys(lambda i: F.col(f"sig_{i}"), b),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.*")


def lsh_candidate_pairs(sigs: DataFrame, materialized: bool = False) -> DataFrame:
    """Band the signatures and equi-join on (band_idx, bk*) to get
    candidate pairs with their estimated Jaccard (matching-signature
    fraction). Never materializes a cross product.

    Shuffle shape: the band self-join carries ONLY (id, band) rows —
    ids pair up narrow, duplicates collapse, and the k signature
    columns are re-joined afterwards for just the surviving pairs.
    Measured 1.75x faster than carrying signatures through the band
    join at a duplicate-heavy 100k-doc corpus (1.05M candidate pairs),
    and the gap widens with bucket skew since wide rows multiply
    within-bucket. Band keys are packed sig-tuple longs
    (packed_band_keys) — exactly the md5-hex bucket partition at half
    the key bytes and none of the hash cost."""
    # materialize the signature table once: it has THREE consumers here
    # (band explode + both sides of the est-Jaccard re-join), each of
    # which would otherwise re-run the tokenize/explode/16-min-agg
    # lineage (k rows per doc — tiny to store; 9.8 s -> 2.6 s cold /
    # 2.4 -> 2.0 s warm at sf0.1). ``materialized=True`` means the
    # caller already pinned sigs (e.g. the curation DAG, which feeds
    # the same table to its star-edge clustering) — don't copy it.
    if not materialized:
        sigs = sigs.localCheckpoint(eager=False)
    bands = banded_sigs(sigs)

    a, b = bands.alias("a"), bands.alias("b")
    key_eq = None
    for k in band_join_keys():
        eq = F.col(f"a.{k}") == F.col(f"b.{k}")
        key_eq = eq if key_eq is None else (key_eq & eq)
    pairs = (
        a.join(
            b,
            key_eq & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"sig_{i}").alias(f"a_{i}") for i in range(NUM_PERM)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"sig_{i}").alias(f"b_{i}") for i in range(NUM_PERM)],
    )
    match_frac = sum(
        (F.col(f"a_{i}") == F.col(f"b_{i}")).cast("int") for i in range(NUM_PERM)
    ) / F.lit(float(NUM_PERM))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", match_frac.alias("est_jaccard"))
    )


def lsh_star_edges(sigs: DataFrame) -> DataFrame:
    """Sparsified LSH candidate edges: per (band_idx, bk*) bucket
    emit only (bucket_min_id, member) — occ-1 STAR edges instead of
    C(occ, 2) pairs. Within one bucket a star has exactly the same
    connectivity as the clique, so connected components over these
    edges equal components over all candidate pairs, while the edge
    count is linear in bucket occupancy instead of quadratic. This is
    the corpus-scale clustering shape (what makes unverified-candidate
    dedup tractable when duplicate groups run to hundreds of copies);
    the trade is that no per-pair similarity can be attached — use
    lsh_candidate_pairs when pairs must be verified before clustering.

    Plan: one groupBy per bucket for the hub + one equi-join back —
    both partial-agg/AQE-friendly, no self-join of the band table.
    Band keys are packed sig-tuple longs (packed_band_keys) — the
    identical bucket partition as the md5-hex key at half the bytes.
    """
    bands = banded_sigs(sigs)
    keys = band_join_keys()
    hubs = bands.groupBy(*keys).agg(
        F.min("doc_id").alias("hub"), F.count(F.lit(1)).alias("occ")
    )
    return (
        bands.join(hubs.filter(F.col("occ") >= 2), keys)
        .filter(F.col("doc_id") != F.col("hub"))
        .select(F.col("hub").alias("doc_a"), F.col("doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.6,
    df_cap: int | None = None,
) -> DataFrame:
    """Exact shingle-set Jaccard via inverted-index self-join.

    ``df_cap`` is the 100 TB refinement: shingles appearing in more
    than ``df_cap`` documents are removed from the sets BEFORE the
    self-join (consistently from both intersection and set sizes, so
    the metric stays a true Jaccard — over the capped sets). Without
    it, one boilerplate shingle shared by m documents contributes
    O(m²) join rows; with it, the join's output is bounded by
    df_cap × postings. The capped sets are what production near-dup
    pipelines actually compare (stopword-phrases carry no duplicate
    signal)."""
    return (
        shingle_pair_counts(df, df_cap=df_cap)
        .withColumn(
            "jaccard",
            F.col("shared").cast("double")
            / (F.col("size_a") + F.col("size_b") - F.col("shared")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def shingle_pair_counts(
    df: DataFrame,
    df_cap: int | None = None,
    pin: bool = True,
) -> DataFrame:
    """Inverted-index pair statistics: (doc_a, doc_b, shared, size_a,
    size_b) for every document pair sharing ≥1 shingle (doc_a < doc_b).
    The single source for every set-overlap measure — Jaccard
    (ngram_jaccard_pairs), asymmetric containment shared/size_x, and
    overlap counting — so the df-cap refinement and the pair
    convention live in exactly one place."""
    sh = exploded_shingles(df)
    if df_cap is not None:
        # the raw shingle stream has two consumers here (the document-
        # frequency aggregate and the semi-join's stream side); pin it
        # so the tokenize+explode pass runs once (r12, guide §5)
        if pin:
            sh = sh.localCheckpoint(eager=False)
        dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
        sh = (
            sh.join(dfreq.filter(F.col("_df") <= df_cap), "shingle", "left_semi")
        )
    # three consumers below (set sizes + both sides of the inverted-
    # index self-join) — without the pin each re-runs the whole
    # shingle (and, when capped, df-cap) lineage from the corpus scan.
    # ``pin=False`` is the introspection escape hatch: the checkpoint
    # hides this subtree behind a Scan ExistingRDD, so the plan lints
    # that guard the df-cap/sample shape read the unpinned form.
    if pin:
        sh = sh.localCheckpoint(eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("set_size"))
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
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("set_size").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("set_size").alias("size_b"))
    return shared.join(sa, "doc_a").join(sb, "doc_b")


# ------------------------------------------------------------------ SimHash

SIMHASH_BITS = 60
SIMHASH_CHUNKS = 4  # 15-bit chunks; pairs sharing >=1 chunk are candidates
SIMHASH_CHUNK_BITS = SIMHASH_BITS // SIMHASH_CHUNKS
SIMHASH_CHUNK_MASK = (1 << SIMHASH_CHUNK_BITS) - 1


def simhash(df: DataFrame) -> DataFrame:
    """60-bit SimHash over distinct word tokens: bit k is set when the
    signed sum of token-hash bit-k contributions is positive.

    60 bits (not 32) because the chunk join's bucket count is the scale
    limiter: pigeonhole blocking for hamming<=3 needs 4 chunks, and
    4x8-bit chunks give only 256 buckets per chunk — at 100k+ docs the
    buckets hold hundreds of fingerprints each and the candidate join
    degrades toward quadratic (observed: non-terminating at a 20x
    probe). 4x15-bit chunks give 32,768 buckets per chunk, which keeps
    bucket occupancy — and the join output — proportional to true
    near-duplicate density."""
    from sentiflow_spark.functions.text import WORD_RE

    toks = df.select(
        F.col("doc_id"),
        F.explode(
            F.array_distinct(
                F.regexp_extract_all(F.lower(F.col("text")), F.lit(WORD_RE), 0)
            )
        ).alias("token"),
    )
    return simhash_from_tokens(toks)


def simhash_from_tokens(toks: DataFrame) -> DataFrame:
    """SimHash core over an arbitrary (doc_id, token) feature stream — the
    signed per-bit vote is feature-agnostic, so the same operator
    fingerprints word tokens (simhash) or byte grams
    (multimodal_queries.mm_bytes_simhash_pairs)."""
    h = md5_i60(F.col("token"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(h, k).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"bs_{k}")
        for k in range(SIMHASH_BITS)
    ]
    sums = toks.groupBy("doc_id").agg(*bit_sums)
    sim = sum(
        (F.when(F.col(f"bs_{k}") > 0, F.lit(2**k)).otherwise(F.lit(0)))
        for k in range(SIMHASH_BITS)
    ).cast("long")
    return sums.select(F.col("doc_id"), sim.alias("simhash"))


def simhash_near_pairs(sims: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Candidate pairs share at least one 15-bit chunk (pigeonhole for
    hamming ≤ 3 over 4 chunks), then exact hamming via bit_count(xor)."""
    chunks = sims.select(
        F.col("doc_id"),
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk_idx"),
                        F.shiftright(F.col("simhash"), c * SIMHASH_CHUNK_BITS)
                        .bitwiseAND(F.lit(SIMHASH_CHUNK_MASK))
                        .alias("chunk_val"),
                    )
                    for c in range(SIMHASH_CHUNKS)
                ]
            )
        ).alias("ch"),
    ).select("doc_id", "simhash", "ch.*")
    a, b = chunks.alias("a"), chunks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


# connected_components' safety rail: the most label-propagation rounds
# it runs before returning the labels it has
CC_MAX_ITER = 25


def connected_components(pairs: DataFrame) -> DataFrame:
    """Duplicate-cluster assignment: connected components over the
    near-duplicate ``(doc_a, doc_b)`` pair graph, as ``(node, lbl)`` where
    lbl = the minimum doc id reachable from the node.

    LSH/SimHash emit *pairs*; real corpus dedup needs the transitive
    closure (A~B, B~C ⇒ {A,B,C} is one cluster, even when A≁C), so a
    keep-one-per-cluster policy sees each duplicate group exactly once.

    Algorithm: distributed min-label propagation with pointer jumping
    (label ← label of one's label each round), the hash-to-min shape
    from the MapReduce connected-components literature. Each iteration
    is two equi-joins + one aggregation, all hash-partitioned on node
    id — no driver-side graph state, so it scales to any number of
    edges. Propagation alone needs O(diameter) rounds; pointer jumping
    compresses chains geometrically, so convergence is
    O(log diameter) — near-dup clusters are almost-cliques with tiny
    diameters, so this terminates in 2-3 rounds in practice.

    Each round ends in ``localCheckpoint`` to truncate the lineage
    (without it the plan doubles per iteration and the job dies on
    plan-compile time long before data size matters). Convergence is
    an explicit any-label-changed probe; ``CC_MAX_ITER`` is a safety rail.
    """
    # Materialize the edge set ONCE: `pairs` is typically the whole
    # MinHash→LSH candidate pipeline, and every iteration below joins
    # against it — without this checkpoint the signature computation
    # re-runs once per round (measured 6.8 s → 3.9 s for
    # dd_duplicate_clusters at sf0.1). The edge set is the near-dup
    # pair list — orders of magnitude smaller than the corpus — so
    # executor-local storage (memory, spilling to disk) holds it; this
    # is NOT the pin-the-fact-table anti-pattern flagged in BASELINE.md.
    # Both directions come from ONE explode over the pair stream, not a
    # self-union: the union shape ran the whole upstream candidate
    # pipeline TWICE inside the checkpoint job (r12 profile: the LSH
    # lineage is the dominant cost of that job at any scale).
    both = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")),
                    F.struct(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")),
                )
            ).alias("_e")
        )
        .select("_e.u", "_e.v")
        .localCheckpoint(eager=False)
    )
    # Hash-min INIT (the standard CC bootstrap): lbl0 = min(node, its
    # neighbors) costs the same one shuffle as the plain distinct() it
    # replaces, but near-dup graphs (star edges, LSH near-cliques)
    # start at — or one pointer-jump from — their component min, so the
    # loop below converges one full iteration earlier (r12: 2 rounds →
    # 1 for every bench CC query; each round is 3 joins + a shuffle).
    labels = (
        both.groupBy(F.col("u").alias("node"))
        .agg(F.min("v").alias("_mn"))
        .select(
            "node", F.least(F.col("node"), F.col("_mn")).alias("lbl")
        )
        .localCheckpoint(eager=False)
    )
    for _ in range(CC_MAX_ITER):
        nbr_min = both.join(labels, both.v == labels.node).select(
            F.col("u").alias("node"), "lbl"
        )
        merged = (
            labels.select("node", "lbl")
            .union(nbr_min)
            .groupBy("node")
            .agg(F.min("lbl").alias("lbl"))
        )
        hop = merged.select(
            F.col("node").alias("pnode"), F.col("lbl").alias("plbl")
        )
        # The convergence flag rides INSIDE the checkpointed frame
        # (one extra equi-join against the already-materialized old
        # labels) so the any-changed probe is a scan of local
        # checkpoint partitions — the old shape re-joined new-vs-old
        # as a SEPARATE post-checkpoint job chain every round.
        jumped = (
            merged.join(hop, merged.lbl == hop.pnode, "left")
            .select("node", F.coalesce("plbl", "lbl").alias("lbl"))
            .join(labels.select("node", F.col("lbl").alias("_old")), "node")
            .select(
                "node", "lbl", (F.col("lbl") != F.col("_old")).alias("_chg")
            )
            .localCheckpoint(eager=False)
        )
        # isEmpty takes one row: one job while a label still changes in
        # the first partition scanned; a converged round scans the
        # partitions in growing batches (spark.sql.limit.scaleUpFactor).
        converged = jumped.filter(F.col("_chg")).isEmpty()
        labels = jumped.select("node", "lbl")
        if converged:
            break
    return labels


SEG_OWNER_BASE = 1_000_000


def segment_dedup(docs: DataFrame, seg_chars: int = 80) -> DataFrame:
    """Corpus-global segment-level dedup (C4-style "drop any span seen
    earlier anywhere in the corpus") with per-document reconstruction.

    Split every document into fixed ``seg_chars`` segments, assign each
    DISTINCT segment one global owner — the smallest (doc_id, seg_no)
    that contains it — and rebuild each document from the segments it
    owns. Returns (id, text_dedup, n_kept, n_total); documents fully
    covered by earlier text come back empty (n_kept = 0).

    Scale shape: ownership is a partial-aggregated min over an encoded
    (doc_id, seg_no) key — never a Window over the segment value, which
    would single-task hot boilerplate segments; the join-back on the
    segment is a hash-join probe (one build row per distinct segment).
    Reconstruction aggregates per document, bounded by one doc's size.
    Requires doc lengths under seg_chars * SEG_OWNER_BASE bytes so the
    owner encoding stays collision-free.
    """
    n_total = F.greatest(
        F.ceil(F.length("text") / F.lit(float(seg_chars))).cast("long"),
        F.lit(1).cast("long"),
    )
    segs = docs.select(
        F.col("doc_id"),
        F.col("text").alias("_t"),
        F.explode(F.sequence(F.lit(0).cast("long"), n_total - 1)).alias("seg_no"),
    ).select(
        "doc_id",
        "seg_no",
        F.col("_t")
        .substr((F.col("seg_no") * seg_chars + 1).cast("int"), F.lit(seg_chars))
        .alias("seg"),
    )
    encoded = F.col("doc_id") * SEG_OWNER_BASE + F.col("seg_no")
    owners = segs.groupBy("seg").agg(F.min(encoded).alias("owner"))
    kept = segs.join(owners, "seg").filter(encoded == F.col("owner"))
    rec = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_no", "seg"))),
                lambda s: s.seg,
            ),
            "",
        ).alias("text_dedup"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    return (
        docs.select(F.col("doc_id"), n_total.alias("n_total"))
        .join(rec, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
            F.coalesce("n_kept", F.lit(0).cast("long")).alias("n_kept"),
            "n_total",
        )
    )


# Boilerplate (frequency-threshold) line dedup parameters — shared by
# dd_boilerplate_lines, the curation DAG's boilerplate stage, and their
# oracles. 16-char segments stand in for lines on the newline-free
# fixture; >= 3 distinct docs marks a segment boilerplate; a doc losing
# > 30% of its characters is dropped (RefinedWeb's doc-level rule).
BP_SEG_CHARS = 16
BP_MIN_DOCS = 3
BP_MAX_REMOVED_FRAC = 0.30


def boilerplate_removal(
    docs: DataFrame,
    seg_chars: int = BP_SEG_CHARS,
    min_docs: int = BP_MIN_DOCS,
    max_removed_frac: float = BP_MAX_REMOVED_FRAC,
) -> DataFrame:
    """Cross-document frequency-threshold boilerplate removal — the
    OTHER canonical line-dedup mode next to segment_dedup's C4-style
    first-wins ownership: a segment that occurs in >= ``min_docs``
    DISTINCT documents is boilerplate (nav bars, cookie banners,
    licence footers) and is removed from EVERY document including the
    first, per CCNet's paragraph dedup (Wenzek et al., LREC 2020) and
    RefinedWeb's line dedup (Penedo et al., 2023). Documents losing
    more than ``max_removed_frac`` of their characters are flagged
    dropped (doc_kept = false), RefinedWeb's document-level rule.

    Returns (id, text_clean, n_kept, n_total, removed_frac, doc_kept);
    fixed ``seg_chars`` segments stand in for lines on the
    newline-free synthetic corpus, exactly like segment_dedup.

    Scale shape: the boilerplate set is a partial-aggregated distinct
    count over (segment, doc) — two-phase, so a segment repeated a
    billion times combines map-side and never hot-spots one reducer —
    and is typically tiny relative to the corpus (only segments
    crossing the threshold survive the HAVING), so the removal
    anti-join broadcasts under AQE; at larger boilerplate-set sizes it
    degrades to a shuffled hash anti-join co-partitioned with the
    counting shuffle on the same key. Reconstruction aggregates per
    document, bounded by one doc's size. removed_frac is one IEEE
    double division of two exact ints — bitwise identical across
    engines."""
    segs = boiler_segments(docs, seg_chars)
    boiler = (
        segs.groupBy("seg")
        .agg(F.count_distinct(F.col("doc_id")).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("seg")
    )
    return strip_with_boiler(docs, boiler, max_removed_frac, seg_chars)


def boiler_segments(docs: DataFrame, seg_chars: int = BP_SEG_CHARS) -> DataFrame:
    """(id, seg_no, seg) — the fixed-width segmentation stage of
    boilerplate_removal, split out so the incremental curation DAG can
    maintain its cross-batch segment-count manifest from the SAME
    segmentation the one-shot operator uses (curation_delta.py)."""
    n_total = F.greatest(
        F.ceil(F.length("text") / F.lit(float(seg_chars))).cast("long"),
        F.lit(1).cast("long"),
    )
    return docs.select(
        F.col("doc_id"),
        F.col("text").alias("_t"),
        F.explode(F.sequence(F.lit(0).cast("long"), n_total - 1)).alias("seg_no"),
    ).select(
        "doc_id",
        "seg_no",
        F.col("_t")
        .substr((F.col("seg_no") * seg_chars + 1).cast("int"), F.lit(seg_chars))
        .alias("seg"),
    )


def strip_with_boiler(
    docs: DataFrame,
    boiler: DataFrame,
    max_removed_frac: float = BP_MAX_REMOVED_FRAC,
    seg_chars: int = BP_SEG_CHARS,
) -> DataFrame:
    """Reassemble per-doc text with the given boilerplate segment SET
    removed — the strip stage of boilerplate_removal, split out so the
    incremental DAG can apply a manifest-backed boilerplate set to a
    delta batch. ``boiler`` is any (seg) DataFrame (extra columns
    ignored). Returns the same schema as boilerplate_removal:
    (id, text_clean, n_kept, n_total, removed_frac, doc_kept).

    Shuffle shape (guide §8 "decide with small rows, move big rows
    once"): the only cross-row decision — WHICH segment occurrences are
    boilerplate — needs (seg, id, seg_no) rows; the reassembly itself
    is a pure per-doc function of (text, flagged segment positions).
    So the per-doc aggregation collects flagged seg_no POSITIONS only
    (boilerplate occurrences — a small fraction of segments), and the
    clean text is rebuilt MAP-SIDE by folding the sorted positions
    into kept-range substrings over the original text column, which
    joins back against the tiny position table (broadcast under AQE)
    and never crosses an exchange. The previous shape shuffled every
    segment of the corpus ((seg_no, seg, is_bp) structs) through a
    per-doc collect_list exchange — the corpus crossed the wire even
    when nothing was boilerplate. Output is IDENTICAL: fixed-width
    segments partition the text exactly, so concatenating kept
    segments in seg_no order == cutting the flagged segments'
    character ranges from the original text, and every per-doc stat
    is derivable map-side (n_total from length, kept_chars from the
    rebuilt text's length)."""
    segs = boiler_segments(docs, seg_chars)
    bp_pos = (
        segs.join(boiler.select("seg"), "seg", "left_semi")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list("seg_no")).alias("_bp"))
    )
    base = docs.select(F.col("doc_id"), F.col("text").alias("_t"))
    t = F.col("_t")
    bp_arr = F.coalesce(F.col("_bp"), F.array().cast("array<bigint>"))
    # fold the sorted flagged segment indices into kept-range
    # substrings (cut_spans' shape): acc.pos is the next uncut 1-based
    # char; flagged segment s covers [s*W+1, s*W+W]
    zero = F.struct(
        F.lit(1).cast("long").alias("pos"), F.lit("").alias("acc")
    )
    folded = F.aggregate(
        bp_arr,
        zero,
        lambda acc, s: F.struct(
            (s * seg_chars + seg_chars + 1).cast("long").alias("pos"),
            F.concat(
                acc["acc"],
                t.substr(
                    acc["pos"].cast("int"),
                    (s * seg_chars + 1 - acc["pos"]).cast("int"),
                ),
            ).alias("acc"),
        ),
        # the final flagged segment may be the (short) last segment of
        # the doc, leaving pos past the end — clamp the tail length at 0
        lambda acc: F.concat(
            acc["acc"],
            t.substr(
                acc["pos"].cast("int"),
                F.greatest(
                    F.length(t) - acc["pos"].cast("int") + 1, F.lit(0)
                ),
            ),
        ),
    )
    # '' (never null) for null-text rows — the collect_list shape's
    # array_join skipped null segs and yielded '' there
    out_text = F.coalesce(folded, F.lit(""))
    n_total = F.greatest(
        F.ceil(F.length(t) / F.lit(float(seg_chars))).cast("long"),
        F.lit(1).cast("long"),
    )
    n_bp = F.size(bp_arr).cast("long")
    # bind the folded text through a 1-element transform + explode
    # barrier so the O(bp) cut-and-concat fold evaluates ONCE per row
    # (the CollapseProject duplication trap cut_spans documents)
    stats = F.explode(
        F.transform(
            F.array(out_text),
            lambda c: F.struct(
                c.alias("text_clean"),
                F.length(c).cast("long").alias("kept_chars"),
            ),
        )
    )
    rec = (
        base.join(bp_pos, "doc_id", "left")
        .select(
            F.col("doc_id"),
            stats.alias("_s"),
            (n_total - n_bp).alias("n_kept"),
            n_total.alias("n_total"),
            F.length(t).cast("long").alias("total_chars"),
        )
    )
    total_chars = F.col("total_chars")
    removed_frac = F.when(
        total_chars > 0,
        (total_chars - F.col("_s.kept_chars")).cast("double") / total_chars,
    ).otherwise(F.lit(0.0))
    return rec.select(
        "doc_id",
        F.col("_s.text_clean").alias("text_clean"),
        "n_kept",
        "n_total",
        removed_frac.alias("removed_frac"),
        (removed_frac <= max_removed_frac).alias("doc_kept"),
    )


PR_SCALE = 10**12


def pagerank_int(edges: DataFrame, n_iter: int = 3) -> DataFrame:
    """Integer fixed-point PageRank over an undirected ``(doc_a, doc_b)``
    pair graph —
    bit-deterministic across engines and cluster sizes: ranks are
    BIGINTs scaled by PR_SCALE and every step is integer arithmetic
    (floor divisions in a fixed order), so there is no float
    summation-order wobble to round away. r' = 0.15/N + 0.85 * sum of
    neighbor rank/degree, i.e.::

        contrib(j) = rank(j) DIV deg(j)
        rank'(i)   = (15 * (SCALE DIV N)) DIV 100
                   + (85 * sum contrib over neighbors) DIV 100

    Each iteration is one join + one partial-agg shuffle on node id
    (same shape as connected_components); edges and degrees are
    materialized once via localCheckpoint. Returns (node, rank_scaled).
    """
    # one explode pass, not a self-union: the union shape computed the
    # upstream edge pipeline twice inside the checkpoint job (see
    # connected_components)
    both = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("doc_a").alias("u"), F.col("doc_b").alias("v")),
                    F.struct(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")),
                )
            ).alias("_e")
        )
        .select("_e.u", "_e.v")
        .distinct()
        .localCheckpoint(eager=False)
    )
    # deg and nodes checkpoint too: they join into EVERY iteration, and
    # without materialization the degree shuffle re-runs n_iter times
    deg = (
        both.groupBy("v").agg(F.count(F.lit(1)).alias("deg")).localCheckpoint(eager=False)
    )
    nodes = both.select(F.col("u").alias("node")).distinct().localCheckpoint(eager=False)
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank_scaled", F.lit(0).cast("long"))
    base = (15 * (PR_SCALE // n)) // 100
    ranks = nodes.withColumn(
        "rank_scaled", F.lit(PR_SCALE // n).cast("long")
    ).localCheckpoint(eager=False)
    for _ in range(n_iter):
        # DIV, not `/`: float division of 1e12-scale longs can land a
        # hair under the true integer quotient and truncate one off —
        # integral DIV is exact, matching DuckDB's `//`
        contribs = (
            both.join(ranks, both.v == ranks.node)
            .join(deg, "v")
            .select(
                F.col("u").alias("node"),
                F.expr("rank_scaled DIV deg").alias("contrib"),
            )
        )
        summed = contribs.groupBy("node").agg(F.sum("contrib").alias("s"))
        ranks = (
            nodes.join(summed, "node", "left")
            .select(
                "node",
                (
                    F.lit(base).cast("long")
                    + F.expr(f"(85 * coalesce(s, 0)) DIV 100")
                ).alias("rank_scaled"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks


# ----------------------------------------------------------- Winnowing

# Robust winnowing (Schleimer, Wilkerson & Aiken, SIGMOD 2003 — the
# MOSS fingerprinting algorithm): hash every k-char gram, slide a
# window of w consecutive gram hashes, keep the minimum of each window
# (rightmost on ties). Guarantees any shared substring of length
# >= k + w - 1 contributes at least one IDENTICAL selected fingerprint
# in both documents, at ~2/(w+1) storage density — the local, position-
# robust complement to document-level MinHash.
WINNOW_K = 8   # gram length (chars)
WINNOW_W = 8   # window of consecutive gram hashes
# Position packing: key = h * BASE - pos. min(key) picks the min hash
# and, among equal hashes, the RIGHTMOST position (robust winnowing's
# tie rule) in one comparison. h < 2^32 and BASE = 2^21 (> max doc
# chars) keep every key under 2^53 — exact int64 in both engines.
WINNOW_POS_BASE = 2 ** 21


def widen_small_input(df: DataFrame, sized_by: DataFrame) -> DataFrame:
    """Repartition ``df`` to the default parallelism when ``sized_by``
    is a SMALL file input (<= 64 files, < 256 MB in total); otherwise
    return it unchanged. For CPU-bound per-row stages: a single-row-
    group parquet file lands every row in one task no matter how many
    byte-range splits the scan plans (partition count lies — only one
    is non-empty), and shuffling a few MB of text costs far less than
    hashing it on one core (measured 3.7 s -> 0.4 s warm at sf0.1 for
    winnow extraction). At real corpus scale (many files, >> 256 MB)
    the guard is a no-op and the stage stays map-side on the scan's
    own partitions. Non-file inputs are left alone."""
    try:
        files = sized_by.inputFiles()
    except Exception:  # non-file sources: leave the plan alone
        return df
    if not files or len(files) > 64:
        return df
    try:
        total = sum(
            os.path.getsize(f[7:] if f.startswith("file:") else f) for f in files
        )
    except OSError:
        return df
    if total >= (256 << 20):
        return df
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def winnow_fingerprints(df: DataFrame) -> DataFrame:
    """(id, fps: array<long>) — the distinct packed winnowed keys per
    document, k = WINNOW_K and w = WINNOW_W (unpack_winnow_key decodes
    them). ENTIRELY map-side: gram hashing and the windowed min are
    higher-order array expressions over each row (no per-gram explode,
    no shuffle), so fingerprint extraction scales as one linear pass
    over the corpus; documents shorter than k + w - 1 chars yield no
    fingerprints (no full window exists), matching the oracle."""
    def _keys_of(t):
        return F.transform(
            F.sequence(F.lit(1), F.length(t) - WINNOW_K + 1),
            lambda i: md5_i32(t.substr(i, F.lit(WINNOW_K)))
            * F.lit(WINNOW_POS_BASE)
            - i,
        )

    def _sels(arr):
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(arr) - WINNOW_W + 1),
                lambda j: F.array_min(F.slice(arr, j, WINNOW_W)),
            )
        )

    # Both the lowered text and the gram-key array are bound through
    # lambda variables (transform over a 1-element array) so each is
    # evaluated ONCE per row: leaving them as plain expressions lets
    # CollapseProject inline lower(text) into every one of the O(L)
    # gram substrings (O(L^2) char copying) and the whole O(L) md5
    # array build into every one of the O(L) window slices — measured
    # 167 s vs ~2 s at sf0.01 for identical output.
    fps = F.element_at(
        F.transform(
            F.array(F.lower(F.col("text"))),
            lambda t: F.element_at(F.transform(F.array(_keys_of(t)), _sels), 1),
        ),
        1,
    )
    # extraction is CPU-bound (O(L) md5 per doc), so it must be as wide
    # as the cluster
    df = widen_small_input(df, df)
    # Packing-limit guard: key = h*BASE - i is only injective (and the
    # rightmost-tie min only correct) while every gram position
    # i = 1..L-k+1 stays under BASE, i.e. L <= BASE + k - 2. A longer
    # document would corrupt fingerprints IDENTICALLY in engine and
    # oracle (parity cannot catch it), so fail loudly instead — a
    # 100 TB corpus chunks documents long before 2 MB of text anyway.
    max_len = WINNOW_POS_BASE + WINNOW_K - 2
    guarded = F.when(
        F.length(F.col("text")) > max_len,
        F.raise_error(
            F.concat(
                F.lit(
                    f"winnow_fingerprints: document longer than {max_len} "
                    "chars exceeds the WINNOW_POS_BASE position-packing "
                    "limit; chunk it first: "
                ),
                F.col("doc_id").cast("string"),
            )
        ),
    ).otherwise(F.col("text"))
    df = df.withColumn("text", guarded)
    return df.filter(
        F.length(F.lower(F.col("text"))) >= WINNOW_K + WINNOW_W - 1
    ).select(F.col("doc_id"), fps.alias("fps"))


def unpack_winnow_key(key: str) -> tuple[Column, Column]:
    """(h, pos) of the packed winnow key column ``key``: the 32-bit gram
    hash h = ceil(key / BASE) and the 1-based char position
    pos = h * BASE - key, inverting winnow_fingerprints' h*BASE - pos."""
    b = WINNOW_POS_BASE
    return (
        F.expr(f"({key} + {b - 1}) DIV {b}"),
        F.expr(f"(({key} + {b - 1}) DIV {b}) * {b} - {key}"),
    )


def winnow_pair_counts(df: DataFrame, df_cap: int = 50) -> DataFrame:
    """(doc_a, doc_b, shared) — pairs sharing >= 1 winnowed gram HASH
    (positions unpacked away, so the same content matches anywhere in
    either doc). Inverted-index equi-join on the 32-bit hash with a
    consistent df-cap, the same bounded shape as shingle_pair_counts:
    join output <= df_cap x postings at any corpus size."""
    # materialize the fingerprint arrays BEFORE exploding them:
    # Generate with an expensive interpreted higher-order child
    # re-evaluates that child per output element, not per input row —
    # explode(extraction_expr) measured 4.4 s warm vs 0.7 s for
    # checkpoint-then-explode of identical data at sf0.1 (the third
    # expression-duplication trap this operator surfaced; see
    # winnow_fingerprints for the other two)
    fps = winnow_fingerprints(df).localCheckpoint(eager=False)
    # ... and the slim (id, h) inverted index ONCE more: three
    # consumers (df-cap frequency table + both sides of the self-join)
    # would each re-run the explode+distinct otherwise (same pattern
    # as the LSH edge list in connected-components)
    h, _ = unpack_winnow_key("_key")
    inv = (
        fps.select(F.col("doc_id"), F.explode("fps").alias("_key"))
        .select(F.col("doc_id"), h.alias("h"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    dfreq = inv.groupBy("h").agg(F.count(F.lit(1)).alias("_df"))
    inv = inv.join(dfreq.filter(F.col("_df") <= df_cap), "h", "left_semi")
    a, b = inv.alias("a"), inv.alias("b")
    return (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(F.count(F.lit(1)).alias("shared"))
    )


# --------------------------------------------- Edit-distance (PassJoin)

# Segment-based exact edit-similarity self-join (PassJoin — Li, Deng,
# Wang & Feng, VLDB 2012): for strings of equal length, if
# lev(A, B) <= d then at least one of A's d+1 disjoint segments occurs
# VERBATIM in B within +-d of its home position (pigeonhole over the
# edit operations). Candidate generation is therefore a pure equi-join
# of (segment_idx, gram) index entries against (2d+1)-shifted probe
# grams — never an all-pairs product — followed by the exact banded
# levenshtein. The fixed-length prefix domain keeps the segmentation
# uniform (classic PassJoin handles variable lengths with per-length
# groups; the prefix form is the fuzzy title/URL-key dedup shape).
EDIT_PREFIX_LEN = 60
EDIT_MAX_DIST = 4
EDIT_SEG_LEN = EDIT_PREFIX_LEN // (EDIT_MAX_DIST + 1)  # 12


def edit_prefix_pairs(df: DataFrame) -> DataFrame:
    """(doc_a, doc_b, lev) for every pair whose lowercased
    ``EDIT_PREFIX_LEN``-char prefixes are within edit distance
    ``EDIT_MAX_DIST`` — EXACT output (the segment blocking is
    recall-lossless by the pigeonhole argument), verified against a
    brute-force all-pairs oracle. Docs shorter than the prefix are out
    of the domain (mirrored in the oracle). The verification step uses
    Spark's THRESHOLDED levenshtein (banded O(d x L) DP, returns -1
    past the bound) so the exact pass costs d/L of the full DP."""
    d, q, L = EDIT_MAX_DIST, EDIT_SEG_LEN, EDIT_PREFIX_LEN
    pref = F.substring(F.lower(F.col("text")), 1, L)
    base = (
        df.filter(F.length(F.lower(F.col("text"))) >= L)
        .select(F.col("doc_id").alias("doc"), pref.alias("pref"))
    )
    n_segs = d + 1
    idx_entries = [
        F.struct(
            F.lit(i).alias("seg_i"),
            F.substring(F.col("pref"), 1 + i * q, q).alias("gram"),
        )
        for i in range(n_segs)
    ]
    probe_entries = [
        F.struct(
            F.lit(i).alias("seg_i"),
            F.substring(F.col("pref"), 1 + i * q + s, q).alias("gram"),
        )
        for i in range(n_segs)
        for s in range(-d, d + 1)
        if 1 <= 1 + i * q + s <= L - q + 1
    ]
    index = base.select("doc", F.explode(F.array(*idx_entries)).alias("e")).select(
        "doc", "e.seg_i", "e.gram"
    )
    probes = (
        base.select("doc", F.explode(F.array(*probe_entries)).alias("e"))
        .select("doc", "e.seg_i", "e.gram")
        .distinct()
    )
    cand = (
        index.alias("a")
        .join(probes.alias("b"), ["seg_i", "gram"])
        .filter(F.col("a.doc") != F.col("b.doc"))
        .select(
            F.least(F.col("a.doc"), F.col("b.doc")).alias("doc_a"),
            F.greatest(F.col("a.doc"), F.col("b.doc")).alias("doc_b"),
        )
        .distinct()
    )
    pa = base.select(F.col("doc").alias("doc_a"), F.col("pref").alias("_pa"))
    pb = base.select(F.col("doc").alias("doc_b"), F.col("pref").alias("_pb"))
    lev = F.levenshtein(F.col("_pa"), F.col("_pb"), d)
    return (
        cand.join(pa, "doc_a")
        .join(pb, "doc_b")
        .select("doc_a", "doc_b", lev.alias("lev"))
        .filter(F.col("lev") >= 0)
    )


# ------------------------------------- Exact-substring duplicate spans

SPAN_DF_CAP = 50            # shared-hash doc-frequency cap floor (boilerplate guard)
SPAN_CAP_DENOM = 10         # self-scaling cap: max(floor, n_docs // DENOM)
SPAN_MERGE_GAP = WINNOW_K + WINNOW_W   # island merge distance, chars
SPAN_MIN_FPS = 2            # fingerprints a span must contain to be emitted


def winnow_duplicate_spans(
    df: DataFrame, df_cap: int | None = None, min_fps: int = SPAN_MIN_FPS
) -> DataFrame:
    """(id, span_start, span_end, n_shared) — maximal character ranges of
    each document whose content also appears in at least one OTHER
    document: the cut-list the ExactSubstr pass of "Deduplicating
    Training Data Makes Language Models Better" (Lee et al., ACL 2022)
    produces with a suffix array, re-expressed for Spark on top of the
    winnowing core. Winnowed fingerprints KEEP their positions (the
    packed key is h*BASE - pos, so pos unpacks exactly); a position is
    flagged when its gram hash occurs in >= 2 distinct documents (and
    <= df_cap — ultra-common boilerplate grams are excluded on both
    engines); flagged positions closer than ``SPAN_MERGE_GAP`` merge into
    islands (one gaps-and-islands window per doc) and each island emits
    [min_pos, max_pos + k - 1]. Winnowing guarantees any cross-doc
    match >= w + k - 1 chars selects a shared fingerprint, so no
    duplicated region longer than the guarantee is missed.

    Scale shape: NO doc-to-doc join anywhere — extraction is map-side,
    the doc-frequency table is a partial aggregate over fingerprints
    (~2/(w+1) of corpus chars), flagging is one semi-join against that
    table, and the island window partitions by doc (bounded by doc
    length x density). Output is linear in flagged positions at any
    corpus size, unlike pair-based detectors whose output is quadratic
    in clique size.

    ``df_cap=None`` (default) SELF-SCALES the boilerplate cap to
    max(SPAN_DF_CAP, n_docs // SPAN_CAP_DENOM): a boilerplate guard is
    a corpus FRACTION, not an absolute count. dd_substring_recall
    measured the fixed cap of 50 collapsing char-level recall from
    0.93 (500 docs) to 0.046 (5000 docs) — 86% of winnowed selections
    carried hashes legitimately duplicated in >50 docs. The one
    metadata-cheap count() is the same self-scaling contract input as
    dd_semantic_dedup's plane stair."""
    if df_cap is None:
        df_cap = max(SPAN_DF_CAP, df.count() // SPAN_CAP_DENOM)
    pos = _unpacked_positions(df)
    dfreq = (
        pos.select("doc_id", "h")
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter((F.col("_df") >= 2) & (F.col("_df") <= df_cap))
    )
    flagged = (
        pos.join(dfreq, "h", "left_semi").select("doc_id", "pos").distinct()
    )
    return _position_islands(flagged, min_fps)


def _unpacked_positions(df: DataFrame) -> DataFrame:
    """(id, h, pos) — distinct winnowed selections with their 32-bit
    gram hash and 1-based char position unpacked from the packed
    h*BASE - pos keys. localCheckpointed: every consumer uses it at
    least twice (frequency table + flagging).

    Distinctness is an INVARIANT, not an operation: winnow_fingerprints
    returns one row per doc whose ``fps`` array is already
    array_distinct, and the packed key unpacks bijectively to (h, pos),
    so the exploded triples are unique per doc — and globally, because
    every caller feeds one row per ``doc_id`` (the documents table or a
    stage that already deduplicated on it). An explicit ``distinct()``
    here was measured a pure no-op that cost one full exchange inside
    the pin's materialization per invocation (r12); the invariant is
    pinned by test_unpacked_positions_unique."""
    fps = winnow_fingerprints(df).localCheckpoint(eager=False)
    h, pos = unpack_winnow_key("_key")
    return (
        fps.select(F.col("doc_id"), F.explode("fps").alias("_key"))
        .select(F.col("doc_id"), h.alias("h"), pos.alias("pos"))
        .localCheckpoint(eager=False)
    )


def _position_islands(flagged: DataFrame, min_fps: int) -> DataFrame:
    """Merge flagged (id, pos) rows closer than ``SPAN_MERGE_GAP`` into
    maximal [min_pos, max_pos + WINNOW_K - 1] spans of at least
    ``min_fps`` positions — one gaps-and-islands
    window per doc, bounded by doc length x winnow density."""
    seq = W.partitionBy("doc_id").orderBy("pos")
    with_prev = flagged.withColumn("_prev", F.lag("pos").over(seq))
    islands = with_prev.withColumn(
        "_island",
        F.sum(
            F.when(
                F.col("_prev").isNull()
                | (F.col("pos") - F.col("_prev") > SPAN_MERGE_GAP),
                1,
            ).otherwise(0)
        ).over(seq),
    )
    return (
        islands.groupBy("doc_id", "_island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(WINNOW_K - 1)).alias("span_end"),
            F.count(F.lit(1)).alias("n_shared"),
        )
        .filter(F.col("n_shared") >= min_fps)
        .select("doc_id", "span_start", "span_end", "n_shared")
    )


def winnow_selfrepeat_spans(df: DataFrame, min_fps: int = SPAN_MIN_FPS) -> DataFrame:
    """(id, span_start, span_end, n_shared) — maximal character ranges
    of WITHIN-document repetition: positions whose winnowed gram hash
    is selected at >= 2 distinct positions of the SAME document. This
    is the cut-list form of the Gopher duplicate-fraction signal —
    that filter FLAGS a page as repetitive, this says which bytes are
    the repeats (nav boilerplate, spammy keyword runs, copy-pasted
    paragraphs) so the page can be salvaged instead of dropped. Every
    copy is flagged (composition with dd_cluster_reps-style keep-one
    policies happens downstream). Same guarantee as the cross-doc
    form: any self-repeat of length >= w + k - 1 selects the same
    hash in both copies. Scale shape: the repeat table is a partial
    agg keyed (id, h) — per-DOC state, even more local than the
    cross-doc df table; no join ever leaves the document."""
    pos = _unpacked_positions(df)
    rep = (
        pos.groupBy("doc_id", "h")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= 2)
        .select("doc_id", "h")
    )
    flagged = (
        pos.join(rep, ["doc_id", "h"], "left_semi")
        .select("doc_id", "pos")
        .distinct()
    )
    return _position_islands(flagged, min_fps)

def winnow_contaminated_spans(df: DataFrame, is_bench) -> DataFrame:
    """(id, span_start, span_end, n_shared) over NON-benchmark docs —
    maximal character ranges whose content also appears in a held-out
    benchmark document: span-LEVEL decontamination, the surgical
    alternative to dropping whole documents (dd_decontaminate's
    doc-level policy discards an entire page because it quotes one
    benchmark question; this cuts just the quote, Lee et al. ACL 2022
    style, salvaging the rest of the page for training).

    ``is_bench`` is a boolean Column marking the held-out slice. It
    must reference ONLY ``doc_id`` (the engine's bench-holdout
    predicates are all ``doc_id % MOD == 0``): it is evaluated directly
    on the position stream instead of joining a one-row-per-doc flag
    table onto it — no join, and no exchange over the O(corpus/4.5)
    position rows (guide §2.4). Benchmark winnowed-hash set → semi-join
    flags training-doc positions → per-doc islands; the winnowing guarantee carries over:
    any train↔bench shared run >= w + k - 1 chars selects the same
    fingerprint in both, so no quotation longer than the guarantee is
    missed. Hash collisions only OVER-flag (cut slightly more text) —
    the safe direction for decontamination, the same posture as
    dd_decontaminate's 60-bit doc gate. No benchmark-to-train doc
    join: the benchmark hash set is a distinct partial-agg (tiny —
    benchmarks are thousands of docs, not billions) semi-joined onto
    the training position stream."""
    pos = _unpacked_positions(df).withColumn(
        "_is_bench", is_bench
    )
    bench_h = pos.filter(F.col("_is_bench")).select("h").distinct()
    flagged = (
        pos.filter(~F.col("_is_bench"))
        .join(bench_h, "h", "left_semi")
        .select("doc_id", "pos")
        .distinct()
    )
    return _position_islands(flagged, SPAN_MIN_FPS)


def cut_spans(docs: DataFrame, spans: DataFrame) -> DataFrame:
    """(id, clean_text, clean_len, orig_len) — remove every [span_start,
    span_end] character range (1-based, inclusive, disjoint) from each
    document and reassemble the rest in order. Docs absent from
    ``spans`` pass through verbatim; docs spanned end-to-end become the
    empty string (distinguished from no-spans by the join miss — a
    present-but-fully-covering span array folds to '', a NULL array
    keeps the text).

    Shape chosen for the 100 TB case: spans collapse to ONE sorted
    array per doc (a shuffle of span METADATA only), the heavy text
    column participates in exactly one doc_id equi-join, and the
    cut-and-reassemble is a map-side higher-order aggregate over the
    span array — no window over text rows, no piece explosion, no
    second pass over the corpus. Measured honestly: on local[32] at the
    20x probe this is a wash vs the piece-explosion formulation (26.5 s
    vs 24.6 s — everything is warm in one JVM, so moving text twice is
    nearly free); it is kept because the CLUSTER cost model differs —
    the alternative shuffles the corpus text through two doc_id joins
    plus a pieces groupBy, while this shape moves span metadata only
    and touches text in exactly one co-partitioned join."""
    docs = docs.select("doc_id", "text")
    span_arrs = spans.groupBy("doc_id").agg(
        F.array_sort(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("_spans")
    )
    t = F.col("text")
    zero = F.struct(
        F.lit(1).cast("long").alias("pos"), F.lit("").alias("acc")
    )
    # Disjointness guard: after consuming a span, acc.pos is the first
    # uncut position, so any valid next span starts at >= acc.pos. An
    # overlapping/non-disjoint span list would make span_start - acc.pos
    # negative — substr silently drops characters and the corruption is
    # parity-INVISIBLE (the oracle mirrors the fold). Fail loudly
    # instead, mirroring the WINNOW_POS_BASE guard's convention.
    folded = F.aggregate(
        F.col("_spans"),
        zero,
        lambda acc, sp: F.struct(
            (sp["span_end"] + 1).cast("long").alias("pos"),
            F.concat(
                acc["acc"],
                t.substr(
                    acc["pos"],
                    F.when(
                        sp["span_start"] < acc["pos"],
                        F.raise_error(
                            F.concat(
                                F.lit(
                                    "cut_spans: overlapping/non-disjoint "
                                    "span list (span_start < next uncut "
                                    "position) for doc "
                                ),
                                F.col("doc_id").cast("string"),
                            )
                        ).cast("long"),
                    ).otherwise(sp["span_start"] - acc["pos"]),
                ),
            ).alias("acc"),
        ),
        lambda acc: F.concat(
            acc["acc"], t.substr(acc["pos"], F.length(t) - acc["pos"] + 1)
        ),
    )
    out_text = F.when(F.col("_spans").isNull(), t).otherwise(folded)
    # bind the folded text through a 1-element transform + explode
    # barrier so the O(spans) cut-and-concat aggregate evaluates ONCE
    # per row — referencing out_text from both the value and length()
    # lets CollapseProject inline the whole fold twice (the same
    # expression-duplication trap winnow_fingerprints documents)
    stats = F.explode(
        F.transform(
            F.array(out_text),
            lambda c: F.struct(
                c.alias("clean_text"), F.length(c).alias("clean_len")
            ),
        )
    )
    return (
        docs.join(span_arrs, "doc_id", "left")
        .select("doc_id", stats.alias("_s"), F.length(t).alias("orig_len"))
        .select("doc_id", "_s.clean_text", "_s.clean_len", "orig_len")
    )


def minhash_sig_array_stateless(df: DataFrame) -> DataFrame:
    """Per-row MinHash signature as ONE pure column expression —
    identical values to minhash_signatures (groupBy-min over exploded
    shingles == running-min over the shingle-hash array) but with no
    explode/aggregation, so it runs unchanged under Structured
    Streaming as a stateless map over Kafka partitions: the online
    half of streaming near-dup detection (st_neardup_alert).

    The k permutation mins are folded in ONE aggregate() pass over the
    hash array (accumulator = k-wide running-min array), so the md5
    chain is evaluated once per shingle even if Catalyst collapses the
    projections. Docs with no shingles are dropped (same convention as
    the batch side). Output: ``(…df columns…, sig_arr array<long>)``."""
    coeffs = minhash_coeffs(NUM_PERM)
    tokd = df.withColumn("_toks", word_tokens(F.col("text")))
    hashes = F.transform(
        shingles_from_tokens(F.col("_toks")), lambda s: md5_i32(s)
    )
    sig_arr = F.aggregate(
        hashes,
        F.array(*[F.lit(MERSENNE_31).cast("long") for _ in range(NUM_PERM)]),
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    (h * F.lit(a) + F.lit(b)) % F.lit(MERSENNE_31)
                    for a, b in coeffs
                ]
            ),
            lambda x, y: F.least(x, y),
        ),
    )
    return (
        tokd.filter(F.size(F.col("_toks")) >= 3)
        .withColumn("sig_arr", sig_arr)
        .drop("_toks")
    )


def band_structs_from_sig_array():
    """(band_idx, bk*) struct array from a sig_arr column — the
    stateless mirror of the band construction in lsh_candidate_pairs
    (same packed sig-tuple keys, packed_band_keys)."""
    n_bands = NUM_PERM // BAND_SIZE
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                *packed_band_keys(
                    lambda i: F.element_at(F.col("sig_arr"), i + 1), b
                ),
            )
            for b in range(n_bands)
        ]
    )
