"""Declared queries for the deduplication family (operators/dedup.py).

The DuckDB oracles re-derive MinHash/SimHash from the same portable
md5-based integer hash, so signatures, band buckets, and hamming
distances are bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from sentiflow_spark.functions.hashing import MERSENNE_31, minhash_coeffs
from sentiflow_spark.operators.dedup import (
    NUM_PERM,
    BAND_SIZE,
    SIMHASH_BITS,
    SIMHASH_CHUNK_BITS,
    SIMHASH_CHUNK_MASK,
    SIMHASH_CHUNKS,
    dedup_exact,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_pairs,
)
from sentiflow_spark.functions.vectors import (
    duck_cosine as _v_duck_cosine,
    duck_dot as _v_duck_dot,
    duck_quantize as _v_duck_quantize,
)

_duck_quantize_sql = _v_duck_quantize("embedding")
_duck_dot_sql = _v_duck_dot("qvec", "qvec")
_duck_cos_sql = _v_duck_cosine(_v_duck_dot("a.qvec", "b.qvec"), "a.qnorm", "b.qnorm")

from sentiflow_spark.queries.registry import register
from sentiflow_spark.tables import load

# ---------------------------------------------------------- oracle fragments

def _duck_shingles_cte(
    prefix: str = "", with_hashed: bool = True, source: str = "documents"
) -> str:
    """Shingle CTE chain ({p}toks → {p}sh [→ {p}hashed]). The prefix
    exists so an oracle can hold this chain AND _duck_sigs_cte()'s own
    toks/sh/hashed chain in one WITH clause without name collisions
    (dd_lsh_recall, dd_method_compare) — parameterized generation, not
    string surgery, so a reformat here can't silently mis-rename.
    ``source`` lets an oracle shingle a pre-filtered CTE (e.g.
    dd_lsh_recall's deterministic doc sample) instead of documents."""
    hashed = f""",
{prefix}hashed AS (
  SELECT doc_id, CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) AS h FROM {prefix}sh
)"""
    return f"""
{prefix}toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-zA-Z]+') AS t FROM {source}
),
{prefix}sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           generate_series(1, greatest(len(t) - 2, 0)),
           i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))) AS shingle
  FROM {prefix}toks
){hashed if with_hashed else ""}
"""


_DUCK_SHINGLES_CTE = _duck_shingles_cte()


def _duck_sigs_cte(source: str = "documents") -> str:
    mins = ",\n         ".join(
        f"MIN((h * {a} + {b}) % {MERSENNE_31}) AS sig_{i}"
        for i, (a, b) in enumerate(minhash_coeffs(NUM_PERM))
    )
    return (
        f"{_duck_shingles_cte(source=source)}, sigs AS "
        f"(\n  SELECT doc_id, {mins}\n  FROM hashed GROUP BY doc_id\n)"
    )


def _duck_bands_cte() -> str:
    n_bands = NUM_PERM // BAND_SIZE
    sig_cols = ", ".join(f"sig_{i}" for i in range(NUM_PERM))
    selects = [
        f"SELECT doc_id, {sig_cols}, {b} AS band_idx, "
        f"md5(concat_ws(',', {', '.join(f'sig_{b * BAND_SIZE + r}' for r in range(BAND_SIZE))}))"
        f" AS band_key FROM sigs"
        for b in range(n_bands)
    ]
    return ", bands AS (\n" + "\nUNION ALL\n".join(selects) + "\n)"


def _duck_match_frac(a: str = "a", b: str = "b") -> str:
    """est_jaccard = matching-signature fraction (shared by the pairs
    query and the survivor query so the near-pair definition cannot
    drift between them)."""
    terms = " + ".join(
        f"CASE WHEN {a}.sig_{i} = {b}.sig_{i} THEN 1 ELSE 0 END"
        for i in range(NUM_PERM)
    )
    return f"({terms}) / {float(NUM_PERM)}"


_DUCK_BAND_PAIRS = """
    FROM bands a JOIN bands b
      ON a.band_idx = b.band_idx AND a.band_key = b.band_key
     AND a.doc_id < b.doc_id
"""


_DUCK_SIMHASH_CTE = (
    """
toksd AS (
  SELECT DISTINCT doc_id,
         unnest(list_distinct(regexp_extract_all(lower(text), '[a-zA-Z]+'))) AS token
  FROM documents
),
th AS (
  SELECT doc_id, CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT) AS h FROM toksd
),
bs AS (
  SELECT doc_id,
         """
    + ",\n         ".join(
        f"SUM(CASE WHEN (h >> {k}) & 1 = 1 THEN 1 ELSE -1 END) AS bs_{k}"
        for k in range(SIMHASH_BITS)
    )
    + """
  FROM th GROUP BY doc_id
),
simhashes AS (
  SELECT doc_id, CAST("""
    + " + ".join(
        f"CASE WHEN bs_{k} > 0 THEN {2**k} ELSE 0 END" for k in range(SIMHASH_BITS)
    )
    + """ AS BIGINT) AS simhash
  FROM bs
)
"""
)


@register(
    "dd_exact_dedup",
    oracle="""
    SELECT doc_id, fp FROM (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp,
             row_number() OVER (
               PARTITION BY md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
               ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
    tags=("dedup", "M5", "bench"),
    doc="Exact dedup: canonical fingerprint, first-wins survivor set.",
)
def dd_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return dedup_exact(docs).select("doc_id", "fp")


@register(
    "dd_minhash_signatures",
    oracle=f"""
    WITH {_duck_sigs_cte()}
    SELECT * FROM sigs
    """,
    tags=("dedup", "M5", "minhash", "bench"),
    doc=f"MinHash signatures ({NUM_PERM} portable permutations over 3-gram shingles).",
)
def dd_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return minhash_signatures(docs)


@register(
    "dd_minhash_lsh_pairs",
    oracle=f"""
    WITH {_duck_sigs_cte()}{_duck_bands_cte()}
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           {_duck_match_frac()} AS est_jaccard
    {_DUCK_BAND_PAIRS}
    """,
    tags=("dedup", "M5", "minhash", "lsh", "bench"),
    doc="MinHash-LSH near-duplicate candidates: band-bucket equi-join "
    "(4 bands × 4 rows), estimated Jaccard = matching-sig fraction.",
)
def dd_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return lsh_candidate_pairs(minhash_signatures(docs))


@register(
    "dd_ngram_jaccard",
    oracle=f"""
    WITH {_DUCK_SHINGLES_CTE},
    sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM sh GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, jaccard FROM (
      SELECT doc_a, doc_b,
             CAST(shared AS DOUBLE) / (sa.set_size + sb.set_size - shared) AS jaccard
      FROM shared
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
    ) WHERE jaccard >= 0.6
    """,
    tags=("dedup", "M5", "jaccard"),
    doc="Exact n-gram-set Jaccard via inverted-index self-join "
    "(prefix-filter/df-cap is the 100TB refinement; plan shape identical).",
)
def dd_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, threshold=0.6)


@register(
    "dd_simhash",
    oracle=f"""
    WITH {_DUCK_SIMHASH_CTE}
    SELECT doc_id, simhash FROM simhashes
    """,
    tags=("dedup", "M5", "simhash", "bench"),
    doc=f"{SIMHASH_BITS}-bit SimHash fingerprints over distinct word tokens.",
)
def dd_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return simhash(docs)


@register(
    "dd_simhash_near_pairs",
    oracle=f"""
    WITH {_DUCK_SIMHASH_CTE},
    chunks AS (
      {" UNION ALL ".join(f"SELECT doc_id, simhash, {c} AS chunk_idx, (simhash >> {c * SIMHASH_CHUNK_BITS}) & {SIMHASH_CHUNK_MASK} AS chunk_val FROM simhashes" for c in range(SIMHASH_CHUNKS))}
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM chunks a JOIN chunks b
      ON a.chunk_idx = b.chunk_idx AND a.chunk_val = b.chunk_val
     AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
    tags=("dedup", "M5", "simhash"),
    doc="SimHash near-dup pairs: 8-bit chunk buckets (pigeonhole for "
    "hamming<=3), exact hamming via bit_count(xor).",
)
def dd_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return simhash_near_pairs(simhash(docs), max_hamming=3)


@register(
    "dd_minhash_dedup_survivors",
    oracle=f"""
    WITH {_duck_sigs_cte()}{_duck_bands_cte()},
    near_pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      {_DUCK_BAND_PAIRS}
      WHERE {_duck_match_frac()} >= 0.9
    )
    SELECT d.doc_id FROM documents d
    WHERE NOT EXISTS (SELECT 1 FROM near_pairs p WHERE p.doc_b = d.doc_id)
    """,
    tags=("dedup", "M5", "minhash", "lsh", "e2e", "bench"),
    doc="End-to-end corpus dedup: MinHash-LSH pairs at est_jaccard "
    ">= 0.9, greedy lowest-id-wins survivor set via anti-join (a doc "
    "is dropped iff a lower-id near-duplicate exists). The standard "
    "one-pass approximation of connected-component dedup — exact when "
    "duplicate clusters are cliques, which near-exact duplicates are.",
)
def dd_minhash_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    docs = load(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(minhash_signatures(docs)).filter(
        F.col("est_jaccard") >= 0.9
    )
    losers = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    return docs.select("doc_id").join(losers, "doc_id", "left_anti")


@register(
    "dd_duplicate_clusters",
    oracle=f"""
    WITH RECURSIVE {_duck_sigs_cte()}{_duck_bands_cte()},
    near_pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      {_DUCK_BAND_PAIRS}
      WHERE {_duck_match_frac()} >= 0.9
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM near_pairs
      UNION
      SELECT doc_b, doc_a FROM near_pairs
    ),
    reach(node, lbl) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.node = e.v
    ),
    comp AS (SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node)
    SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
    FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    """,
    tags=("dedup", "M5", "minhash", "lsh", "iterative", "e2e", "bench"),
    doc="Transitive duplicate clustering: connected components over "
    "the MinHash-LSH near-pair graph (min reachable doc id = cluster "
    "id; singletons are their own cluster). Spark side runs "
    "distributed min-label propagation with pointer jumping "
    "(operators/dedup.py::connected_components) — an iterative "
    "driver loop, which the DuckDB oracle mirrors with a recursive "
    "CTE, so even this non-single-SQL operator is hash-checked.",
)
def dd_duplicate_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from sentiflow_spark.operators.dedup import connected_components

    docs = load(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(minhash_signatures(docs)).filter(
        F.col("est_jaccard") >= 0.9
    )
    cc = connected_components(pairs)
    return (
        docs.select("doc_id")
        .join(cc, docs.doc_id == cc.node, "left")
        .select(
            "doc_id", F.coalesce("lbl", "doc_id").alias("cluster_id")
        )
    )


@register(
    "txt_grouped_split",
    oracle=f"""
    WITH RECURSIVE {_duck_sigs_cte()}{_duck_bands_cte()},
    near_pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      {_DUCK_BAND_PAIRS}
      WHERE {_duck_match_frac()} >= 0.9
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM near_pairs
      UNION
      SELECT doc_b, doc_a FROM near_pairs
    ),
    reach(node, lbl) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.node = e.v
    ),
    comp AS (SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node),
    clustered AS (
      SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    )
    SELECT doc_id, cluster_id,
           CASE WHEN CAST(('0x' || substr(md5('gsplit42:' ||
                     CAST(cluster_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 90
                THEN 'train' ELSE 'val' END AS split
    FROM clustered
    """,
    tags=("text", "dedup", "M5", "sampling", "e2e"),
    doc="LEAKAGE-SAFE train/val split: the split key is the near-"
    "duplicate CLUSTER id (connected components over the MinHash-LSH "
    "pair graph, min reachable doc id), not the document id — every "
    "member of a duplicate cluster lands on the same side of the "
    "boundary by construction, so validation never scores near-copies "
    "of training documents. A doc-level hash-mod split "
    "(txt_train_val_split) leaks every duplicate cluster it straddles "
    "— the standard contamination path a grouped split closes (cf. "
    "the leakage analyses in Lee et al. ACL 2022). Same deterministic "
    "salted-hash-mod convention, applied to cluster_id; singletons "
    "(cluster = own doc_id) degrade to exactly the doc-level split.",
)
def txt_grouped_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from sentiflow_spark.functions.hashing import md5_i32
    from sentiflow_spark.operators.dedup import connected_components

    docs = load(spark, sf_dir, "documents")
    pairs = lsh_candidate_pairs(minhash_signatures(docs)).filter(
        F.col("est_jaccard") >= 0.9
    )
    cc = connected_components(pairs)
    clustered = (
        docs.select("doc_id")
        .join(cc, docs.doc_id == cc.node, "left")
        .select("doc_id", F.coalesce("lbl", "doc_id").alias("cluster_id"))
    )
    bucket = (
        md5_i32(F.concat(F.lit("gsplit42:"), F.col("cluster_id").cast("string")))
        % 100
    )
    return clustered.select(
        "doc_id",
        "cluster_id",
        F.when(bucket < 90, "train").otherwise("val").alias("split"),
    )


@register(
    "dd_clusters_sparse",
    oracle=f"""
    WITH RECURSIVE {_duck_sigs_cte()}{_duck_bands_cte()},
    hubs AS (
      SELECT band_idx, band_key, MIN(doc_id) AS hub, COUNT(*) AS occ
      FROM bands GROUP BY 1, 2
    ),
    star AS (
      SELECT DISTINCT h.hub AS doc_a, b.doc_id AS doc_b
      FROM bands b JOIN hubs h USING (band_idx, band_key)
      WHERE h.occ >= 2 AND b.doc_id <> h.hub
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM star
      UNION
      SELECT doc_b, doc_a FROM star
    ),
    reach(node, lbl) AS (
      SELECT u, u FROM edges
      UNION
      SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.node = e.v
    ),
    comp AS (SELECT node, MIN(lbl) AS cluster_id FROM reach GROUP BY node)
    SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster_id
    FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    """,
    tags=("dedup", "M5", "minhash", "lsh", "iterative", "e2e"),
    doc="SPARSIFIED duplicate clustering — the 100 TB form of "
    "dd_duplicate_clusters: per LSH band bucket only (bucket-min, "
    "member) STAR edges are emitted (occ-1 per bucket, linear in "
    "occupancy) instead of the C(occ,2) candidate-pair clique, which "
    "the 200x probe measured blowing the exact variant up 4x per "
    "data doubling on duplicate-heavy corpora. A star has the same "
    "within-bucket connectivity as the clique, so the connected "
    "components over ALL LSH candidates are identical — the trade is "
    "clustering UNVERIFIED candidates (no est_jaccard gate can be "
    "applied to edges that were never materialized as pairs), i.e. "
    "banding is trusted as the similarity test, the standard "
    "large-corpus dedup posture. operators/dedup.py::lsh_star_edges.",
)
def dd_clusters_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from sentiflow_spark.operators.dedup import (
        connected_components,
        lsh_star_edges,
    )

    docs = load(spark, sf_dir, "documents")
    edges = lsh_star_edges(minhash_signatures(docs))
    cc = connected_components(edges)
    return (
        docs.select("doc_id")
        .join(cc, docs.doc_id == cc.node, "left")
        .select("doc_id", F.coalesce("lbl", "doc_id").alias("cluster_id"))
    )


@register(
    "dd_sparse_cluster_gate",
    oracle=f"""
    WITH RECURSIVE {_duck_sigs_cte()}{_duck_bands_cte()},
    near_pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      {_DUCK_BAND_PAIRS}
      WHERE {_duck_match_frac()} >= 0.9
    ),
    eedges AS (
      SELECT doc_a AS u, doc_b AS v FROM near_pairs
      UNION SELECT doc_b, doc_a FROM near_pairs
    ),
    ereach(node, lbl) AS (
      SELECT u, u FROM eedges
      UNION SELECT e.u, r.lbl FROM eedges e JOIN ereach r ON r.node = e.v
    ),
    ecomp AS (SELECT node, MIN(lbl) AS lbl FROM ereach GROUP BY node),
    hubs AS (
      SELECT band_idx, band_key, MIN(doc_id) AS hub, COUNT(*) AS occ
      FROM bands GROUP BY 1, 2
    ),
    star AS (
      SELECT DISTINCT h.hub AS doc_a, b.doc_id AS doc_b
      FROM bands b JOIN hubs h USING (band_idx, band_key)
      WHERE h.occ >= 2 AND b.doc_id <> h.hub
    ),
    sedges AS (
      SELECT doc_a AS u, doc_b AS v FROM star
      UNION SELECT doc_b, doc_a FROM star
    ),
    sreach(node, lbl) AS (
      SELECT u, u FROM sedges
      UNION SELECT e.u, r.lbl FROM sedges e JOIN sreach r ON r.node = e.v
    ),
    scomp AS (SELECT node, MIN(lbl) AS lbl FROM sreach GROUP BY node),
    joined AS (
      SELECT d.doc_id,
             COALESCE(e.lbl, d.doc_id) AS exact_c,
             COALESCE(s.lbl, d.doc_id) AS sparse_c
      FROM documents d
      LEFT JOIN ecomp e ON e.node = d.doc_id
      LEFT JOIN scomp s ON s.node = d.doc_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN exact_c = sparse_c THEN 1 ELSE 0 END) AS BIGINT)
             AS n_agree,
           CAST(SUM(CASE WHEN exact_c <> sparse_c THEN 1 ELSE 0 END) AS BIGINT)
             AS n_over_grouped,
           CAST(COUNT(DISTINCT exact_c) AS BIGINT) AS n_clusters_exact,
           CAST(COUNT(DISTINCT sparse_c) AS BIGINT) AS n_clusters_sparse
    FROM joined
    """,
    tags=("dedup", "M5", "lsh", "iterative", "eval"),
    doc="The adoption gate for dd_clusters_sparse (same convention as "
    "sim_ivf_recall / dd_lsh_recall / sim_pq_recall — no approximation "
    "ships without its measured trade): per-doc agreement between the "
    "verified-pair clustering (dd_duplicate_clusters) and the "
    "sparsified unverified-candidate clustering. Every verified edge "
    "is also an LSH candidate, so the exact partition REFINES the "
    "sparse one — disagreement counts docs the unverified posture "
    "over-groups (merges beyond the est_jaccard >= 0.9 evidence), "
    "never splits. All-integer single-row report, hash-exact.",
)
def dd_sparse_cluster_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from sentiflow_spark.operators.dedup import (
        connected_components,
        lsh_star_edges,
    )

    docs = load(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs)
    exact_cc = connected_components(
        lsh_candidate_pairs(sigs).filter(F.col("est_jaccard") >= 0.9)
    ).select(F.col("node").alias("doc_id"), F.col("lbl").alias("exact_c"))
    sparse_cc = connected_components(lsh_star_edges(sigs)).select(
        F.col("node").alias("doc_id"), F.col("lbl").alias("sparse_c")
    )
    joined = (
        docs.select("doc_id")
        .join(exact_cc, "doc_id", "left")
        .join(sparse_cc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("exact_c", F.col("doc_id")).alias("exact_c"),
            F.coalesce("sparse_c", F.col("doc_id")).alias("sparse_c"),
        )
    )
    agree = (F.col("exact_c") == F.col("sparse_c")).cast("int")
    return joined.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(agree).cast("long").alias("n_agree"),
        F.sum(1 - agree).cast("long").alias("n_over_grouped"),
        F.count_distinct("exact_c").cast("long").alias("n_clusters_exact"),
        F.count_distinct("sparse_c").cast("long").alias("n_clusters_sparse"),
    )


@register(
    "dd_multi_signal_pairs",
    oracle=f"""
    WITH {_duck_sigs_cte()}{_duck_bands_cte()},
    text_pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      {_DUCK_BAND_PAIRS}
      WHERE {_duck_match_frac()} >= 0.9
    ),
    q AS (
      SELECT vec_id, label, {_duck_quantize_sql} AS qvec FROM embeddings
    ),
    qn AS (
      SELECT vec_id, label, qvec, {_duck_dot_sql} AS qnorm FROM q
    ),
    emb_pairs AS (
      SELECT a.vec_id AS doc_a, b.vec_id AS doc_b
      FROM qn a JOIN qn b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE {_duck_cos_sql} >= 0.35
    )
    SELECT COALESCE(t.doc_a, e.doc_a) AS doc_a,
           COALESCE(t.doc_b, e.doc_b) AS doc_b,
           CASE WHEN t.doc_a IS NOT NULL AND e.doc_a IS NOT NULL THEN 'both'
                WHEN t.doc_a IS NOT NULL THEN 'text'
                ELSE 'embedding' END AS signal
    FROM text_pairs t
    FULL OUTER JOIN emb_pairs e
      ON t.doc_a = e.doc_a AND t.doc_b = e.doc_b
    """,
    tags=("dedup", "similarity", "M5", "multi-signal"),
    doc="Multi-signal near-duplicate candidates: the text channel "
    "(MinHash-LSH, est_jaccard >= 0.9) full-outer-joined with the "
    "embedding channel (label-blocked cosine >= 0.35) on the pair "
    "key, labeled by provenance ('text'/'embedding'/'both'). The "
    "production dedup pattern: surface-form and semantic duplicates "
    "are different populations, and the union with provenance feeds "
    "per-channel thresholds/audits. Both channels stay equi-join "
    "blocked (bands / label buckets), so the union is two bounded "
    "pair sets, never a cross product.",
)
def dd_multi_signal_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from sentiflow_spark.operators.similarity import (
        cosine_neardup_pairs,
        with_quantized,
    )

    docs = load(spark, sf_dir, "documents")
    text_pairs = (
        lsh_candidate_pairs(minhash_signatures(docs))
        .filter(F.col("est_jaccard") >= 0.9)
        .select("doc_a", "doc_b")
    )
    emb = with_quantized(load(spark, sf_dir, "embeddings"))
    emb_pairs = cosine_neardup_pairs(emb, threshold=0.35).select(
        F.col("id_a").alias("e_a"), F.col("id_b").alias("e_b")
    )
    joined = text_pairs.join(
        emb_pairs,
        (text_pairs.doc_a == emb_pairs.e_a) & (text_pairs.doc_b == emb_pairs.e_b),
        "full_outer",
    )
    return joined.select(
        F.coalesce("doc_a", "e_a").alias("doc_a"),
        F.coalesce("doc_b", "e_b").alias("doc_b"),
        F.when(
            F.col("doc_a").isNotNull() & F.col("e_a").isNotNull(), "both"
        )
        .when(F.col("doc_a").isNotNull(), "text")
        .otherwise("embedding")
        .alias("signal"),
    )


DF_CAP = 5


@register(
    "dd_ngram_jaccard_capped",
    oracle=f"""
    WITH {_DUCK_SHINGLES_CTE},
    dfreq AS (SELECT shingle, COUNT(*) AS df FROM sh GROUP BY 1),
    keep AS (
      SELECT sh.doc_id, sh.shingle
      FROM sh JOIN dfreq USING (shingle) WHERE dfreq.df <= {DF_CAP}
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS set_size FROM keep GROUP BY doc_id),
    shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
      FROM keep a JOIN keep b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, jaccard FROM (
      SELECT doc_a, doc_b,
             CAST(shared AS DOUBLE) / (sa.set_size + sb.set_size - shared) AS jaccard
      FROM shared
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
    ) WHERE jaccard >= 0.6
    """,
    tags=("dedup", "M5", "jaccard"),
    doc=f"DF-capped n-gram Jaccard — the shape that survives 100 TB: "
    f"shingles appearing in more than {DF_CAP} documents are dropped "
    "from the sets before the inverted-index self-join (consistently "
    "from intersections AND set sizes, so the score is a true Jaccard "
    "over the capped sets). Bounds the join's blow-up from boilerplate "
    "shingles at df_cap × postings instead of O(m²) per hot shingle; "
    "the df table itself is one partial-agg pass.",
)
def dd_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, threshold=0.6, df_cap=DF_CAP)


# ----------------------------------------------------------- Winnowing

def _duck_winnow_sels_cte(source: str = "documents") -> str:
    """base → keys → sels CTE chain mirroring winnow_fingerprints:
    robust winnowing (Schleimer/Wilkerson/Aiken, SIGMOD 2003) over
    packed (hash, position) keys, bit-identical to the Spark side.
    ``source`` lets a composed oracle (txt_curation_dag) winnow a
    pre-normalized / pre-filtered CTE instead of documents."""
    from sentiflow_spark.functions.hashing import duck_md5_i32
    from sentiflow_spark.operators.dedup import (
        WINNOW_K,
        WINNOW_POS_BASE,
        WINNOW_W,
    )

    k, w, b = WINNOW_K, WINNOW_W, WINNOW_POS_BASE
    gram = duck_md5_i32(f"substring(t, CAST(i AS INT), {k})")
    return f"""base AS (
      SELECT doc_id, lower(text) AS t FROM {source}
      WHERE length(lower(text)) >= {k + w - 1}
    ),
    keys AS (
      SELECT doc_id,
             list_transform(range(1, length(t) - {k} + 2),
               i -> {gram} * {b} - i) AS ks
      FROM base
    ),
    sels AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(ks) - {w} + 2),
               j -> list_min(ks[CAST(j AS INT):CAST(j AS INT)+{w - 1}]))) AS fps
      FROM keys
    )"""


WINNOW_SHARED_MIN = 8
WINNOW_DF_CAP = 50


@register(
    "dd_winnow_fingerprints",
    oracle=f"""
    WITH {_duck_winnow_sels_cte()}
    SELECT doc_id, len(fps) AS n_fps, CAST(list_sum(fps) AS BIGINT) AS fp_sum
    FROM sels
    """,
    tags=("dedup", "M5", "winnowing", "bench"),
    doc="Winnowed document fingerprints (robust winnowing, the MOSS "
    "local-fingerprinting algorithm — Schleimer, Wilkerson & Aiken, "
    "SIGMOD 2003): hash every 8-char gram, keep the minimum of each "
    "window of 8 consecutive gram hashes (rightmost on ties, encoded "
    "by packing hash*2^21 - pos into one int64 key). Guarantees any "
    "shared substring >= 15 chars yields an identical fingerprint in "
    "both documents at ~2/(w+1) storage density. ENTIRELY map-side "
    "higher-order array expressions — no explode, no shuffle for "
    "extraction — so it is one linear pass at any corpus size; the "
    "per-doc (count, sum) projection pins the full selected set for "
    "the oracle without shipping ~64 rows per document.",
)
def dd_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from sentiflow_spark.operators.dedup import winnow_fingerprints

    docs = load(spark, sf_dir, "documents")
    fps = winnow_fingerprints(docs)
    zero = F.lit(0).cast("long")
    # Two expression-duplication guards, both measured:
    # - the fps array is bound through a transform lambda and emitted
    #   through an explode (Generate) barrier, so the O(L) extraction
    #   runs exactly ONCE per row — referencing the fps column from
    #   size() and aggregate() separately lets CollapseProject inline
    #   the whole extraction per reference (3.5 s -> 1.2 s warm);
    # - the n_fps filter is a tautology (size() >= 0 for non-null
    #   arrays), kept so count-style consumers cannot column-prune the
    #   computation away — a bare projection under .count() times a
    #   no-op scan. The oracle is unchanged: no row is dropped.
    stats_arr = F.transform(
        F.array(F.col("fps")),
        lambda a: F.struct(
            F.size(a).alias("n_fps"),
            F.aggregate(a, zero, lambda acc, x: acc + x).alias("fp_sum"),
        ),
    )
    return (
        fps.select("doc_id", F.explode(stats_arr).alias("s"))
        .select("doc_id", "s.n_fps", "s.fp_sum")
        .filter(F.col("n_fps") >= 0)
    )


@register(
    "dd_winnow_pairs",
    oracle=f"""
    WITH {_duck_winnow_sels_cte()},
    fpe AS (SELECT doc_id, unnest(fps) AS key FROM sels),
    fph AS (
      SELECT DISTINCT doc_id,
             (key + {2 ** 21 - 1}) // {2 ** 21} AS h
      FROM fpe
    ),
    dfreq AS (SELECT h FROM fph GROUP BY h HAVING COUNT(*) <= {WINNOW_DF_CAP}),
    kept AS (SELECT fph.doc_id, fph.h FROM fph JOIN dfreq USING (h))
    SELECT doc_a, doc_b, shared FROM (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
      FROM kept a JOIN kept b ON a.h = b.h AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ) WHERE shared >= {WINNOW_SHARED_MIN}
    """,
    tags=("dedup", "M5", "winnowing"),
    doc=f"Local-overlap pairs from winnowed fingerprints: documents "
    f"sharing >= {WINNOW_SHARED_MIN} selected gram HASHES (positions "
    "unpacked away so the same content matches anywhere in either "
    "doc) — the plagiarism/boilerplate detector that catches partial "
    "copies MinHash's whole-document Jaccard dilutes away. Inverted-"
    f"index equi-join on the hash with a df-cap of {WINNOW_DF_CAP} "
    "(consistent on both sides), so join output is bounded at "
    "df_cap x postings at any corpus size.",
)
def dd_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from sentiflow_spark.operators.dedup import winnow_pair_counts

    docs = load(spark, sf_dir, "documents")
    return winnow_pair_counts(docs, df_cap=WINNOW_DF_CAP).filter(
        F.col("shared") >= WINNOW_SHARED_MIN
    )


# ---------------------------------------------- Edit distance (PassJoin)


@register(
    "dd_edit_prefix_pairs",
    oracle="""
    WITH p AS (
      SELECT doc_id, substring(lower(text), 1, 60) AS pref FROM documents
      WHERE length(lower(text)) >= 60
    )
    SELECT doc_a, doc_b, lev FROM (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             levenshtein(a.pref, b.pref) AS lev
      FROM p a JOIN p b ON a.doc_id < b.doc_id
    ) WHERE lev <= 4
    """,
    # The registered oracle above is DELIBERATELY O(n^2) — at sf0.01
    # (the driver's scale) hash parity against it PROVES the segment
    # blocking recall-lossless. At sf0.1+ that proof costs ~175 s of
    # every local sweep, so big-sf sweeps use this mirrored-blocking
    # variant instead: the same PassJoin candidate generation written
    # independently in SQL (range() cross joins, not Spark explode),
    # so it still cross-checks the implementation — just not the
    # pigeonhole theory, which sf0.01 continues to carry.
    oracle_big="""
    WITH p AS (
      SELECT doc_id AS doc, substring(lower(text), 1, 60) AS pref
      FROM documents WHERE length(lower(text)) >= 60
    ),
    idx AS (
      SELECT doc, i AS seg_i, substring(pref, 1 + i*12, 12) AS gram
      FROM p, range(0, 5) t(i)
    ),
    probes AS (
      SELECT DISTINCT doc, i AS seg_i,
             substring(pref, 1 + i*12 + s, 12) AS gram
      FROM p, range(0, 5) t(i), range(-4, 5) sh(s)
      WHERE 1 + i*12 + s BETWEEN 1 AND 60 - 12 + 1
    ),
    cand AS (
      SELECT DISTINCT least(a.doc, b.doc) AS doc_a,
                      greatest(a.doc, b.doc) AS doc_b
      FROM idx a JOIN probes b USING (seg_i, gram)
      WHERE a.doc <> b.doc
    )
    SELECT c.doc_a, c.doc_b, levenshtein(pa.pref, pb.pref) AS lev
    FROM cand c
    JOIN p pa ON pa.doc = c.doc_a
    JOIN p pb ON pb.doc = c.doc_b
    WHERE levenshtein(pa.pref, pb.pref) <= 4
    """,
    tags=("dedup", "M5", "editdist"),
    doc="Edit-distance near-dup pairs on the 60-char lowercased prefix "
    "(fuzzy title/URL-key dedup), lev <= 4 — EXACT output from "
    "PassJoin segment blocking (Li, Deng, Wang & Feng, VLDB 2012): if "
    "lev(A,B) <= d, one of A's d+1 disjoint 12-char segments occurs "
    "verbatim in B within +-d of its home position (pigeonhole over "
    "the edit ops), so candidates come from an equi-join of segment "
    "index entries against (2d+1)-shifted probe grams — never an "
    "all-pairs product — then Spark's banded thresholded levenshtein "
    "verifies. The ORACLE is deliberately the brute-force all-pairs "
    "join: hash parity therefore PROVES the blocking is recall-"
    "lossless on this corpus, not merely mirrored. Skewed hot "
    "segments (templated prefixes) are AQE skew-join territory; the "
    "probe fan-out is a fixed 45 rows/doc.",
)
def dd_edit_prefix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sentiflow_spark.operators.dedup import edit_prefix_pairs

    docs = load(spark, sf_dir, "documents")
    return edit_prefix_pairs(docs)


# ------------------------------------------------- Semantic dedup (SemDeDup)

SEMDEDUP_TAU = 0.35  # ~p99.9 of the synthetic random-vector cosine spread
# Clusters self-refine as the corpus grows: 0 extra planes while
# n <= 4096 (blocking = the precomputed `label` alone, the paper's
# k-means assignment), then +1 RPH plane per doubling so per-block
# occupancy — and the quadratic within-block join — stays bounded.
# This is the paper's own scale knob (k grows with corpus size) in
# deterministic-oracle form; measured 117 s -> 15 s at the 20x probe
# (identical replica-duplicate recall: exact duplicates have identical
# rp bits, so refinement can never split a true-duplicate group).
SEMDEDUP_TARGET_OCC = 4096
SEMDEDUP_MAX_PLANES = 16

from sentiflow_spark.functions.vectors import (  # noqa: E402
    adaptive_plane_count as _sem_planes,
    duck_plane_count as _duck_sem_planes,
    duck_rp_bucket_dyn as _duck_sem_bucket,
    rp_hyperplanes as _sem_pool_fn,
)

_SEM_POOL = _sem_pool_fn(SEMDEDUP_MAX_PLANES, 64)


@register(
    "dd_semantic_dedup",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, label, {_duck_quantize_sql} AS qvec FROM embeddings
    ),
    qn AS (
      SELECT vec_id, label, qvec, {_duck_dot_sql} AS qnorm FROM q
    ),
    np AS (
      SELECT {_duck_sem_planes("COUNT(*)", SEMDEDUP_TARGET_OCC, 0, SEMDEDUP_MAX_PLANES)} AS n_planes
      FROM embeddings
    ),
    blocked AS (
      SELECT vec_id, label, qvec, qnorm,
             CAST(label AS BIGINT) * 65536
               + {_duck_sem_bucket("qvec", _SEM_POOL, "n_planes")} AS semblock
      FROM qn CROSS JOIN np
    ),
    dropped AS (
      SELECT DISTINCT b.vec_id
      FROM blocked a JOIN blocked b
        ON a.semblock = b.semblock AND a.vec_id < b.vec_id
      WHERE {_duck_cos_sql} >= {SEMDEDUP_TAU!r}
    )
    SELECT n.vec_id, n.label FROM qn n
    WHERE NOT EXISTS (SELECT 1 FROM dropped d WHERE d.vec_id = n.vec_id)
    """,
    tags=("dedup", "M5", "similarity", "semantic"),
    doc="SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic "
    "deduplication in embedding space — within each coarse cluster "
    "(the precomputed IVF assignment `label`, the same blocking "
    f"sim_ivf_topk scores), any document whose cosine to a LOWER-id "
    f"cluster-mate is >= {SEMDEDUP_TAU} is dropped; survivors are the "
    "first-wins representatives (the same deterministic convention as "
    "dd_exact_dedup/dd_method_compare; the paper keeps the member "
    "farthest from the centroid — id-tiebreak is the reproducible "
    "variant). This catches paraphrase/translation near-duplicates "
    "that every lexical channel (MinHash, winnowing, edit distance) "
    "misses. Plan: pairwise cosine ONLY within (cluster x adaptive "
    "RPH sub-bucket) blocks — never all-pairs; integer-quantized dot "
    "products, exact cross-engine — then distinct dropped ids and one "
    "anti-join. The sub-bucket count self-scales off a metadata "
    "count() exactly like sim_knn_graph's plane stair (0 planes while "
    f"n <= {SEMDEDUP_TARGET_OCC}, so small corpora block on the "
    "cluster alone; the oracle mirrors the count in its np CTE), "
    "which keeps the within-block join bounded at any corpus size — "
    "the paper scales its k-means k the same way, accepting the same "
    "cluster-boundary misses. Skewed clusters are AQE skew-join "
    "territory.",
)
def dd_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from sentiflow_spark.functions.vectors import rp_bucket
    from sentiflow_spark.operators.similarity import (
        cosine_neardup_pairs,
        with_quantized,
    )

    emb = with_quantized(load(spark, sf_dir, "embeddings"))
    n = emb.count()  # metadata-cheap; the self-scaling contract input
    p = _sem_planes(
        n,
        target_bucket=SEMDEDUP_TARGET_OCC,
        min_planes=0,
        max_planes=SEMDEDUP_MAX_PLANES,
    )
    sub = rp_bucket(F.col("qvec"), _SEM_POOL[:p]) if p else F.lit(0).cast("long")
    emb = emb.withColumn(
        "semblock", F.col("label").cast("long") * F.lit(65536) + sub
    )
    dropped = (
        cosine_neardup_pairs(emb, threshold=SEMDEDUP_TAU, bucket_col="semblock")
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    return emb.join(dropped, "vec_id", "left_anti").select("vec_id", "label")


# ------------------------------------- Exact-substring duplicate spans


def _duck_span_oracle() -> str:
    from sentiflow_spark.operators.dedup import (
        SPAN_CAP_DENOM,
        SPAN_DF_CAP,
        SPAN_MERGE_GAP,
        SPAN_MIN_FPS,
        WINNOW_K,
        WINNOW_POS_BASE,
    )

    b, k = WINNOW_POS_BASE, WINNOW_K
    # self-scaling boilerplate cap, mirroring winnow_duplicate_spans
    cap = f"greatest({SPAN_DF_CAP}, (SELECT COUNT(*) FROM documents) // {SPAN_CAP_DENOM})"
    return f"""
    WITH {_duck_winnow_sels_cte()},
    fpe AS (SELECT doc_id, unnest(fps) AS key FROM sels),
    pos AS (
      SELECT DISTINCT doc_id,
             (key + {b - 1}) // {b} AS h,
             ((key + {b - 1}) // {b}) * {b} - key AS pos
      FROM fpe
    ),
    dfreq AS (
      SELECT h FROM (SELECT DISTINCT doc_id, h FROM pos)
      GROUP BY h HAVING COUNT(*) BETWEEN 2 AND {cap}
    ),
    flagged AS (SELECT DISTINCT doc_id, pos FROM pos JOIN dfreq USING (h)),
    lagged AS (
      SELECT doc_id, pos,
             lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      FROM flagged
    ),
    isl AS (
      SELECT doc_id, pos,
             SUM(CASE WHEN prev IS NULL OR pos - prev > {SPAN_MERGE_GAP}
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM lagged
    )
    SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + {k - 1} AS span_end,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM isl GROUP BY doc_id, island HAVING COUNT(*) >= {SPAN_MIN_FPS}
    """


@register(
    "dd_exact_substring_spans",
    oracle=_duck_span_oracle(),
    tags=("dedup", "M5", "winnowing", "spans"),
    doc="ExactSubstr duplicate-SPAN extraction (Lee et al., ACL 2022 "
    "'Deduplicating Training Data Makes Language Models Better'): the "
    "per-document cut-list of character ranges whose content also "
    "occurs in another document, built on the winnowing core instead "
    "of a monolithic suffix array. Fingerprint positions unpack from "
    "the packed h*2^21-pos keys; positions whose gram hash appears in "
    "2..50 distinct docs are flagged; a per-doc gaps-and-islands "
    "window merges flagged positions closer than k+w chars into "
    "maximal spans. Detection guarantee: every cross-doc match >= "
    "w+k-1 = 15 chars shares a selected fingerprint. NO doc-to-doc "
    "join — df partial-agg + semi-join + per-doc window — so the "
    "plan's output is linear in duplicated content, not quadratic in "
    "clique size (the property that makes span-cutting, unlike "
    "pair-listing, viable on a 100 TB crawl).",
)
def dd_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sentiflow_spark.operators.dedup import winnow_duplicate_spans

    docs = load(spark, sf_dir, "documents")
    return winnow_duplicate_spans(docs)


def _duck_span_apply_oracle() -> str:
    return f"""
    WITH spans AS ({_duck_span_oracle().strip()}),
    seg AS (
      SELECT doc_id,
             coalesce(lag(span_end) OVER (PARTITION BY doc_id
                                          ORDER BY span_start), 0) + 1
               AS seg_start,
             span_start - 1 AS seg_end
      FROM spans
      UNION ALL
      SELECT s.doc_id, max(s.span_end) + 1 AS seg_start,
             length(d.text) AS seg_end
      FROM spans s JOIN documents d USING (doc_id)
      GROUP BY s.doc_id, length(d.text)
    ),
    pieces AS (
      SELECT g.doc_id, g.seg_start,
             substring(d.text, CAST(g.seg_start AS INT),
                       CAST(g.seg_end - g.seg_start + 1 AS INT)) AS piece
      FROM seg g JOIN documents d USING (doc_id)
      WHERE g.seg_end >= g.seg_start
    ),
    cleaned AS (
      SELECT doc_id, string_agg(piece, '' ORDER BY seg_start) AS clean_text
      FROM pieces GROUP BY doc_id
    ),
    flagged AS (SELECT DISTINCT doc_id FROM spans)
    SELECT d.doc_id,
           CASE WHEN f.doc_id IS NULL THEN d.text
                ELSE coalesce(c.clean_text, '') END AS clean_text,
           length(CASE WHEN f.doc_id IS NULL THEN d.text
                       ELSE coalesce(c.clean_text, '') END) AS clean_len,
           length(d.text) AS orig_len
    FROM documents d
    LEFT JOIN flagged f USING (doc_id)
    LEFT JOIN cleaned c USING (doc_id)
    """


@register(
    "dd_substring_dedup_apply",
    oracle=_duck_span_apply_oracle(),
    tags=("dedup", "M5", "winnowing", "spans"),
    doc="The APPLY side of ExactSubstr dedup (Lee et al., ACL 2022): "
    "cut every detected duplicate span out of every document and "
    "reassemble the surviving text — detection emits a cut-list, this "
    "emits the training corpus. Complement intervals come from one "
    "lag() window over the (already disjoint, sorted) spans plus a "
    "per-doc tail segment; reassembly is an ordered array_sort + "
    "concat per doc. A doc with no cross-doc content passes through "
    "verbatim; a doc spanned END-TO-END becomes the empty string "
    "(distinguished from no-spans via a distinct-doc semi side — the "
    "subtle case a naive left-join-coalesce gets wrong). Cuts ALL "
    "copies (the paper's default), so the op composes with "
    "dd_cluster_reps when a keep-one policy is wanted. Every shuffle "
    "is on doc_id; span metadata is tiny next to the corpus scan.",
)
def dd_substring_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sentiflow_spark.operators.dedup import cut_spans, winnow_duplicate_spans

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return cut_spans(docs, winnow_duplicate_spans(docs))


def _duck_selfrepeat_oracle() -> str:
    from sentiflow_spark.operators.dedup import (
        SPAN_MERGE_GAP,
        SPAN_MIN_FPS,
        WINNOW_K,
        WINNOW_POS_BASE,
    )

    b, k = WINNOW_POS_BASE, WINNOW_K
    return f"""
    WITH {_duck_winnow_sels_cte()},
    fpe AS (SELECT doc_id, unnest(fps) AS key FROM sels),
    pos AS (
      SELECT DISTINCT doc_id,
             (key + {b - 1}) // {b} AS h,
             ((key + {b - 1}) // {b}) * {b} - key AS pos
      FROM fpe
    ),
    rep AS (
      SELECT doc_id, h FROM pos GROUP BY doc_id, h HAVING COUNT(*) >= 2
    ),
    flagged AS (
      SELECT DISTINCT p.doc_id, p.pos FROM pos p JOIN rep USING (doc_id, h)
    ),
    lagged AS (
      SELECT doc_id, pos,
             lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      FROM flagged
    ),
    isl AS (
      SELECT doc_id, pos,
             SUM(CASE WHEN prev IS NULL OR pos - prev > {SPAN_MERGE_GAP}
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM lagged
    )
    SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + {k - 1} AS span_end,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM isl GROUP BY doc_id, island HAVING COUNT(*) >= {SPAN_MIN_FPS}
    """


@register(
    "dd_intradoc_repeat_spans",
    oracle=_duck_selfrepeat_oracle(),
    tags=("dedup", "M5", "winnowing", "spans"),
    doc="WITHIN-document repetition spans: the cut-list form of the "
    "Gopher duplicate-fraction signal — that filter flags a page as "
    "repetitive, this says WHICH bytes are the repeats (nav "
    "boilerplate, keyword-stuffing runs, copy-pasted paragraphs) so "
    "the page can be salvaged instead of dropped. A position is "
    "flagged when its winnowed gram hash is selected at >= 2 distinct "
    "positions of the same doc; flagged positions merge into maximal "
    "spans via the shared gaps-and-islands helper. Detection "
    "guarantee as the cross-doc form (self-repeats >= w+k-1 chars). "
    "Scale: the repeat table is keyed (doc, hash) — strictly per-doc "
    "state, no join ever crosses documents; composes with cut_spans "
    "for the salvage pass.",
)
def dd_intradoc_repeat_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sentiflow_spark.operators.dedup import winnow_selfrepeat_spans

    docs = load(spark, sf_dir, "documents")
    return winnow_selfrepeat_spans(docs)


# ------------------------------- ExactSubstr recall vs brute force


def _duck_recall_oracle() -> str:
    from sentiflow_spark.operators.dedup import (
        SPAN_CAP_DENOM,
        SPAN_DF_CAP,
        WINNOW_K,
        WINNOW_W,
    )

    t = WINNOW_K + WINNOW_W - 1
    cap = f"greatest({SPAN_DF_CAP}, (SELECT COUNT(*) FROM documents) // {SPAN_CAP_DENOM})"
    return f"""
    WITH spans AS ({_duck_span_oracle().strip()}),
    occ AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, greatest(length(text) - {t - 1}, 0)),
               i -> {{'pos': i,
                     'g': substring(text, CAST(i AS INT), {t})}})) AS pg
      FROM documents
    ),
    occ2 AS (SELECT doc_id, pg.pos AS pos, pg.g AS g FROM occ),
    dup AS (
      SELECT g FROM (SELECT g, COUNT(DISTINCT doc_id) AS nd
                     FROM occ2 GROUP BY g)
      WHERE nd BETWEEN 2 AND {cap}
    ),
    truth AS (SELECT doc_id, pos FROM occ2 JOIN dup USING (g)),
    hits AS (
      SELECT tr.doc_id, tr.pos
      FROM truth tr JOIN spans s
        ON tr.doc_id = s.doc_id
       AND s.span_start <= tr.pos AND tr.pos + {t - 1} <= s.span_end
    ),
    per_t AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS truth_grams
              FROM truth GROUP BY doc_id),
    per_h AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS hit_grams
              FROM hits GROUP BY doc_id)
    SELECT d.doc_id,
           COALESCE(per_t.truth_grams, 0) AS truth_grams,
           COALESCE(per_h.hit_grams, 0) AS hit_grams
    FROM documents d
    LEFT JOIN per_t USING (doc_id)
    LEFT JOIN per_h USING (doc_id)
    """


@register(
    "dd_substring_recall",
    oracle=_duck_recall_oracle(),
    tags=("dedup", "M5", "winnowing", "spans", "measure"),
    doc="Quantifies the PRACTICAL recall of the winnow-based "
    "ExactSubstr spans against a brute-force ground truth: every "
    "(doc, pos) whose full w+k-1 = 15-char gram occurs verbatim in "
    "2..50 distinct docs (the same df-cap policy the engine applies) "
    "is a truth gram; a truth gram is HIT when its 15 chars are "
    "contained in a detected span of that doc. Output per doc: "
    "truth_grams, hit_grams — corpus recall is sum(hit)/sum(truth). "
    "The w+k-1 guarantee promises >= 1 shared fingerprint per "
    "duplicated RUN, not char coverage, so recall < 1 measures "
    "exactly what sparsification + SPAN_MIN_FPS + span-edge rounding "
    "give up in practice. Measured: 0.931 at 500 docs, 0.939 at "
    "5000 docs — and this operator's first run CAUGHT a real policy "
    "bug: with the old FIXED df-cap of 50, 5000-doc recall was 0.046 "
    "(86% of winnowed 8-gram selections carried hashes legitimately "
    "duplicated in >50 docs), which is why the span family's "
    "boilerplate cap now self-scales as max(50, n_docs/10). Plans "
    "scalably for a measurement pass "
    "(truth grams are O(chars) rows but shuffle only (doc_id, pos, "
    "15-char gram) triples; the span side joins on doc_id with a "
    "range residual) — though it is a DIAGNOSTIC to run on samples, "
    "not a production pass over 100 TB, and its cost is the reason "
    "the engine winnows instead of brute-forcing in the first place.",
)
def dd_substring_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from sentiflow_spark.operators.dedup import (
        SPAN_CAP_DENOM,
        SPAN_DF_CAP,
        WINNOW_K,
        WINNOW_W,
        winnow_duplicate_spans,
    )

    t_len = WINNOW_K + WINNOW_W - 1
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    cap = max(SPAN_DF_CAP, docs.count() // SPAN_CAP_DENOM)
    txt = F.col("text")
    pgs = F.when(
        F.length(txt) >= t_len,
        F.transform(
            F.sequence(F.lit(1), F.length(txt) - t_len + 1),
            lambda i: F.struct(
                i.alias("pos"), txt.substr(i, F.lit(t_len)).alias("g")
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,g:string>>"))
    occ = (
        docs.select("doc_id", F.explode(pgs).alias("pg"))
        .select("doc_id", F.col("pg.pos").alias("pos"), F.col("pg.g").alias("g"))
        # pinned: the every-position gram explosion (the truth arm's
        # most expensive pass) feeds both the duplicate-gram filter and
        # the truth positions — one explode instead of two (r12)
        .localCheckpoint(eager=False)
    )
    dup = (
        occ.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter((F.col("nd") >= 2) & (F.col("nd") <= cap))
        .select("g")
    )
    truth = occ.join(dup, "g", "left_semi").select("doc_id", "pos")
    spans = winnow_duplicate_spans(docs, df_cap=cap).select(
        F.col("doc_id").alias("s_doc"), "span_start", "span_end"
    )
    hits = truth.join(
        spans,
        (F.col("doc_id") == F.col("s_doc"))
        & (F.col("span_start") <= F.col("pos"))
        & (F.col("pos") + t_len - 1 <= F.col("span_end")),
        "left_semi",
    )
    per_t = truth.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("truth_grams")
    )
    per_h = hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("hit_grams")
    )
    return (
        docs.select("doc_id")
        .join(per_t, "doc_id", "left")
        .join(per_h, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("truth_grams", F.lit(0).cast("long")).alias("truth_grams"),
            F.coalesce("hit_grams", F.lit(0).cast("long")).alias("hit_grams"),
        )
    )


# ------------------------------- span-level benchmark decontamination

DECON_SPAN_MOD = 97  # doc_id % 97 == 0 plays the held-out benchmark set


def _duck_decon_span_oracle() -> str:
    from sentiflow_spark.operators.dedup import (
        SPAN_MERGE_GAP,
        SPAN_MIN_FPS,
        WINNOW_K,
        WINNOW_POS_BASE,
    )

    b, k = WINNOW_POS_BASE, WINNOW_K
    return f"""
    WITH {_duck_winnow_sels_cte()},
    fpe AS (SELECT doc_id, unnest(fps) AS key FROM sels),
    pos AS (
      SELECT DISTINCT doc_id,
             (key + {b - 1}) // {b} AS h,
             ((key + {b - 1}) // {b}) * {b} - key AS pos
      FROM fpe
    ),
    bh AS (
      SELECT DISTINCT h FROM pos WHERE doc_id % {DECON_SPAN_MOD} = 0
    ),
    flagged AS (
      SELECT DISTINCT doc_id, pos FROM pos
      WHERE doc_id % {DECON_SPAN_MOD} <> 0 AND h IN (SELECT h FROM bh)
    ),
    lagged AS (
      SELECT doc_id, pos,
             lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      FROM flagged
    ),
    isl AS (
      SELECT doc_id, pos,
             SUM(CASE WHEN prev IS NULL OR pos - prev > {SPAN_MERGE_GAP}
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM lagged
    )
    SELECT doc_id, MIN(pos) AS span_start, MAX(pos) + {k - 1} AS span_end,
           CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM isl GROUP BY doc_id, island HAVING COUNT(*) >= {SPAN_MIN_FPS}
    """


@register(
    "dd_decontaminate_spans",
    oracle=_duck_decon_span_oracle(),
    tags=("dedup", "M5", "winnowing", "spans", "curation"),
    doc=f"Span-LEVEL benchmark decontamination: character ranges of "
    f"training documents (doc_id % {DECON_SPAN_MOD} != 0) whose "
    f"content also appears in the held-out benchmark slice (doc_id % "
    f"{DECON_SPAN_MOD} == 0) — the surgical alternative to "
    "dd_decontaminate's drop-the-whole-doc policy: a page that quotes "
    "one benchmark question loses the quote (composable with "
    "cut_spans, as dd_substring_dedup_apply does), not its entire "
    "content. Built on the winnowing core: the benchmark's winnowed-"
    "hash set is a tiny distinct partial-agg semi-joined onto the "
    "training position stream — NO benchmark-to-train doc join — then "
    "per-doc gaps-and-islands merge. Detection guarantee: any quoted "
    "run >= w+k-1 = 15 chars selects a shared fingerprint in both "
    "docs; hash collisions only over-cut, the safe direction. "
    "operators/dedup.py::winnow_contaminated_spans.",
)
def dd_decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from sentiflow_spark.operators.dedup import winnow_contaminated_spans

    docs = load(spark, sf_dir, "documents")
    return winnow_contaminated_spans(
        docs,
        is_bench=F.col("doc_id") % DECON_SPAN_MOD == 0,
    )
