"""Declared queries for multimodal column plumbing
(operators/multimodal.py). The pandas-UDF feature extraction is a
deterministic pure function of the payload bytes, so even the
mapInPandas stage is oracle-checkable."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sentiflow_spark.functions.vectors import duck_dot, duck_quantize
from sentiflow_spark.operators.multimodal import attach_binary, extract_features
from sentiflow_spark.queries.registry import register
from sentiflow_spark.tables import load


@register(
    "mm_metadata",
    oracle="""
    SELECT doc_id, 'image/x-fake' AS mime, strlen(text) AS size_bytes,
           source AS origin
    FROM documents
    """,
    tags=("multimodal", "M5"),
    doc="Binary payload + typed metadata convention (flattened for the oracle).",
)
def mm_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = attach_binary(load(spark, sf_dir, "documents"))
    return media.select("doc_id", "media_meta.mime", "media_meta.size_bytes",
                        "media_meta.origin")


@register(
    "mm_feature_extract",
    oracle="""
    SELECT doc_id,
           strlen(text) AS byte_len,
           sha256(text) AS content_hash,
           CAST(1 + strlen(text) % 64 AS INTEGER) AS width,
           CAST(1 + strlen(text) % 48 AS INTEGER) AS height,
           CAST(1 + strlen(text) % 16 AS INTEGER) AS n_frames
    FROM documents
    """,
    tags=("multimodal", "M5", "pandas-udf", "bench"),
    doc="mapInPandas (Arrow-batched) media feature extraction with the "
    "deterministic decode stub — the full UDF round trip is hash-checked.",
)
def mm_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = attach_binary(load(spark, sf_dir, "documents"))
    return extract_features(media)


@register(
    "mm_join_features_back",
    oracle="""
    WITH feats AS (
      SELECT doc_id, strlen(text) AS byte_len,
             CAST(1 + strlen(text) % 64 AS INTEGER) AS width
      FROM documents
    )
    SELECT d.lang, COUNT(*) AS n_media,
           CAST(SUM(f.byte_len) AS BIGINT) AS total_bytes,
           MAX(f.width) AS max_width
    FROM documents d JOIN feats f USING (doc_id)
    GROUP BY d.lang
    """,
    tags=("multimodal", "M5"),
    doc="Features rejoin the relational layer: UDF output is a plain "
    "DataFrame for downstream aggregation.",
)
def mm_join_features_back(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    feats = extract_features(attach_binary(docs))
    return (
        docs.join(feats, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_media"),
            F.sum("byte_len").cast("long").alias("total_bytes"),
            F.max("width").alias("max_width"),
        )
    )


@register(
    "mm_frame_sample",
    oracle="""
    SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
           sha256(text || '#' || CAST(i AS VARCHAR)) AS frame_hash
    FROM (
      SELECT doc_id, text,
             unnest(generate_series(0, (1 + strlen(text) % 16) - 1, 4)) AS i
      FROM documents
    )
    """,
    tags=("multimodal", "M5", "pandas-udf", "udtf", "bench"),
    doc="Frame sampling (1→N explosion inside mapInPandas — the UDTF "
    "shape): every 4th frame of each payload, hashed; deterministic "
    "decode stub keeps it oracle-checkable.",
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sentiflow_spark.operators.multimodal import sample_frames

    media = attach_binary(load(spark, sf_dir, "documents"))
    return sample_frames(media, every=4)


@register(
    "mm_resize",
    oracle="""
    SELECT doc_id, CAST(32 AS INTEGER) AS width, CAST(24 AS INTEGER) AS height,
           CAST(strlen(text) AS BIGINT) AS in_bytes,
           CAST(768 AS BIGINT) AS out_bytes
    FROM documents
    """,
    tags=("multimodal", "M5", "pandas-udf"),
    doc="Image resize plumbing: mapInPandas maps every binary payload "
    "to an exactly-sized output payload (deterministic byte resample "
    "standing in for pixel resampling). The oracle checks the size "
    "metadata; the resized BINARY content itself is pinned by "
    "tests/test_multimodal-style byte assertions (test_sinks), since "
    "SQL can't express byte-exact blob cycling portably.",
)
def mm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sentiflow_spark.operators.multimodal import resize_images

    media = attach_binary(load(spark, sf_dir, "documents"))
    return resize_images(media, width=32, height=24).drop("payload")


@register(
    "mm_cross_modal_stats",
    oracle=f"""
    WITH q AS (
      SELECT vec_id, label, {duck_quantize('embedding')} AS qvec
      FROM embeddings
    ),
    qn AS (
      SELECT vec_id, label, {duck_dot('qvec', 'qvec')} AS qnorm FROM q
    )
    SELECT d.lang, e.label,
           COUNT(*) AS n_docs,
           CAST(SUM(d.n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(e.qnorm) AS BIGINT) AS total_qnorm
    FROM documents d JOIN qn e ON e.vec_id = d.doc_id
    GROUP BY d.lang, e.label
    """,
    tags=("multimodal", "M5", "similarity"),
    doc="Cross-modal alignment join: the text table joined 1:1 onto "
    "its embedding table (doc_id = vec_id, how paired text/vector "
    "corpora ship), aggregated per (language, coarse vector bucket) — "
    "the coverage matrix a multimodal curation pass checks before "
    "training (is every language represented in every embedding "
    "region?). Equi-join on the aligned id, partial-agg shuffle of "
    "(lang,label) rows only; both sides prune to joined columns.",
)
def mm_cross_modal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sentiflow_spark.operators.similarity import with_quantized

    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    emb = with_quantized(load(spark, sf_dir, "embeddings")).select(
        "vec_id", "label", "qnorm"
    )
    return (
        docs.join(emb, docs.doc_id == emb.vec_id)
        .groupBy("lang", "label")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.sum("qnorm").cast("long").alias("total_qnorm"),
        )
    )


# --------------------------------------- byte-level SimHash near-dup

from sentiflow_spark.operators.dedup import (  # noqa: E402
    SIMHASH_BITS,
    SIMHASH_CHUNK_BITS,
    SIMHASH_CHUNK_MASK,
    SIMHASH_CHUNKS,
    simhash_from_tokens,
    simhash_near_pairs,
)

MM_GRAM_HEX = 8   # 8 hex chars = 4 payload bytes per gram
MM_GRAM_STRIDE = 4  # stride 4 hex chars = 2 bytes (50% overlap)

_DUCK_MM_SIMHASH_CTE = (
    f"""
h AS (
  SELECT doc_id, hex(CAST(text AS BLOB)) AS hx FROM documents
  WHERE length(hex(CAST(text AS BLOB))) >= {MM_GRAM_HEX}
),
toksd AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(
           generate_series(0, CAST((length(hx) - {MM_GRAM_HEX}) // {MM_GRAM_STRIDE} AS BIGINT)),
           i -> substr(hx, CAST(1 + {MM_GRAM_STRIDE} * i AS BIGINT), {MM_GRAM_HEX}))) AS token
  FROM h
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
)"""
)


@register(
    "mm_bytes_simhash_pairs",
    oracle=f"""
    WITH {_DUCK_MM_SIMHASH_CTE},
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
    tags=("multimodal", "M5", "dedup", "simhash"),
    doc=f"Byte-level SimHash near-duplicate pairs over OPAQUE binary "
    "payloads — the no-decode analog of perceptual-hash dedup: "
    f"features are overlapping {MM_GRAM_HEX // 2}-byte grams of the "
    f"payload (hex substrings, stride {MM_GRAM_STRIDE // 2} bytes), "
    f"voted into the shared {SIMHASH_BITS}-bit SimHash core "
    "(operators/dedup.py::simhash_from_tokens — the same operator "
    "that fingerprints word tokens, re-used on a byte-gram stream), "
    "then the same 4x15-bit chunk pigeonhole blocking as "
    "dd_simhash_near_pairs (exact for hamming <= 3) and exact "
    "bit_count verification. Catches re-encoded/truncated/padded "
    "payload variants that the exact sha256 pass (mm_content_dedup) "
    "misses, without ever decoding the media. Gram extraction is "
    "map-side; the only data-sized shuffles are the per-doc vote agg "
    "and the 32k-bucket-per-chunk candidate equi-join — bucket "
    "occupancy, not corpus size, bounds the join at 100 TB.",
)
def mm_bytes_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sentiflow_spark.operators.multimodal import attach_binary

    media = attach_binary(load(spark, sf_dir, "documents"))
    # bind hex(payload) through a 1-element transform so the O(L) hex
    # string is evaluated once per row, not once per gram (the
    # CollapseProject duplication trap documented on
    # operators/dedup.py::winnow_fingerprints)
    def _grams(h):
        return F.array_distinct(
            F.transform(
                F.sequence(
                    F.lit(0),
                    F.floor(
                        (F.length(h) - MM_GRAM_HEX) / MM_GRAM_STRIDE
                    ).cast("int"),
                ),
                lambda i: h.substr(
                    i * MM_GRAM_STRIDE + 1, F.lit(MM_GRAM_HEX)
                ),
            )
        )

    grams = F.element_at(
        F.transform(F.array(F.hex(F.col("payload"))), _grams), 1
    )
    # pre-filter on the BINARY length (2 hex chars per byte) — hex()ing
    # the payload a second time just to measure it is the same O(L)
    # expression-duplication class the comment above warns about
    toks = (
        media.filter(F.length(F.col("payload")) * 2 >= MM_GRAM_HEX)
        .select("doc_id", F.explode(grams).alias("token"))
    )
    sims = simhash_from_tokens(toks)
    return simhash_near_pairs(sims, max_hamming=3)


# ------------------------------ container-header probe (no-decode gate)

MM_RES_MIN, MM_RES_MAX = 64, 4096
MM_ASPECT = 3  # max aspect ratio, integer cross-multiplied

# APP0/JFIF segment every synthesized JPEG starts with (marker FFE0,
# length 0x0010 = 16 bytes, identifier "JFIF", density 72x72)
_JFIF_APP0_HEX = "FFE000104A4649460001010000480048" "0000"

# Markers that OPEN a frame header carrying dimensions: SOF0 (baseline),
# SOF1 (extended sequential), SOF2 (progressive) — the encodings that
# cover real-world crawl JPEGs.
_SOF_MARKERS = ("FFC0", "FFC1", "FFC2")

# Bound on the number of segments walked before giving up: real JPEG
# headers put SOF within a handful of APPn/COM/DQT/DHT segments; 16 is
# generous and keeps the expression chain (one aggregate() fold) small.
MM_JPEG_WALK_SEGMENTS = 16


def image_header_payload(w, h, is_png) -> F.Column:
    """Spec-correct container-header bytes for the given dimensions:
    PNG signature + IHDR (dims 4-byte big-endian at offsets 16/20) or
    JPEG SOI + APP0/JFIF + SOF0 (dims 2-byte big-endian in the SOF0
    segment body). Shared by mm_header_probe's fixture synthesis and
    the parser property test, so the parser is exercised on arbitrary
    dimensions, not just the fixture formula's."""
    png_hex = F.concat(
        F.lit("89504E470D0A1A0A"),          # PNG signature
        F.lit("0000000D49484452"),          # IHDR length=13 + type
        F.lpad(F.hex(w), 8, "0"),           # width  (4B BE)
        F.lpad(F.hex(h), 8, "0"),           # height (4B BE)
        F.lit("0806000000"),                # depth/color/comp/filter/interlace
    )
    jpeg_hex = F.concat(
        F.lit("FFD8"),                      # SOI
        F.lit(_JFIF_APP0_HEX),              # APP0/JFIF
        F.lit("FFC0001108"),                # SOF0 marker + len=17 + precision 8
        F.lpad(F.hex(h), 4, "0"),           # height (2B BE)
        F.lpad(F.hex(w), 4, "0"),           # width  (2B BE)
        F.lit("03011100021101031101"),      # 3 component specs
    )
    return F.to_binary(F.when(is_png, png_hex).otherwise(jpeg_hex), F.lit("hex"))


def jpeg_sof_pos(hx: F.Column) -> F.Column:
    """1-indexed hex-char position of the frame header (SOF0/1/2) found
    by WALKING SEGMENT LENGTHS from the first segment after SOI — the
    production-correct JPEG scan, still builtin-only (one aggregate()
    fold over a bounded index sequence; the lambda body is evaluated
    iteratively at runtime, so the expression tree stays O(1)).

    Each step reads the 2-byte marker at the cursor; on SOF it stops
    (fixed point), otherwise it reads the 2-byte big-endian segment
    length and advances past marker + segment. Malformed input (cursor
    past EOF, a non-FF marker byte, a length < 2) also freezes the
    cursor, and the caller detects non-SOF rest positions and yields
    NULL dims. Unlike locate('FFC0', ...), an FFC0 byte pair INSIDE a
    COM/APPn payload (or entropy-coded data) is skipped by its
    enclosing segment's length and can never be misread as the frame
    header."""

    def step(pos: F.Column, _i: F.Column) -> F.Column:
        marker = F.substring(hx, pos, F.lit(4))
        is_sof = marker.isin(*_SOF_MARKERS)
        seglen = F.conv(F.substring(hx, pos + F.lit(4), F.lit(4)), 16, 10).cast(
            "int"
        )
        valid = (
            (F.length(marker) == 4)
            & marker.startswith("FF")
            & (seglen >= 2)
        )
        return F.when(is_sof | ~valid, pos).otherwise(
            pos + F.lit(4) + seglen * F.lit(2)
        )

    return F.aggregate(
        F.sequence(F.lit(1), F.lit(MM_JPEG_WALK_SEGMENTS)),
        F.lit(5).cast("int"),  # first marker right after SOI ("FFD8")
        step,
    )


def _jpeg_dims_at(hx: F.Column, pos: F.Column) -> tuple[F.Column, F.Column]:
    """(width, height) read from the SOF segment whose marker starts at
    hex-char ``pos``: length(2B) + precision(1B) precede height(2B) then
    width(2B), so height sits at pos+10 and width at pos+14 (hex chars)."""
    width = F.conv(F.substring(hx, pos + F.lit(14), F.lit(4)), 16, 10).cast("int")
    height = F.conv(F.substring(hx, pos + F.lit(10), F.lit(4)), 16, 10).cast("int")
    return width, height


def parse_image_dims(payload: F.Column) -> tuple[F.Column, F.Column, F.Column]:
    """(fmt, width, height) parsed from container-header bytes with
    builtin expressions only: magic dispatch on the hex prefix, PNG
    dims at the IHDR offsets, JPEG dims from the SOF0/1/2 segment found
    by the bounded segment-length walk (jpeg_sof_pos) — NULL dims when
    no frame header is found within the walk bound."""
    hx = F.hex(payload)
    png = hx.startswith("89504E470D0A1A0A")
    sof = jpeg_sof_pos(hx)
    sof_found = F.substring(hx, sof, F.lit(4)).isin(*_SOF_MARKERS)
    jw, jh = _jpeg_dims_at(hx, sof)
    width = F.when(
        png, F.conv(F.substring(hx, 33, 8), 16, 10).cast("int")
    ).otherwise(F.when(sof_found, jw))
    height = F.when(
        png, F.conv(F.substring(hx, 41, 8), 16, 10).cast("int")
    ).otherwise(F.when(sof_found, jh))
    fmt = F.when(png, F.lit("png")).otherwise(F.lit("jpeg"))
    return fmt, width, height


@register(
    "mm_header_probe",
    oracle=f"""
    SELECT doc_id, fmt, width, height,
           (width >= {MM_RES_MIN} AND width <= {MM_RES_MAX}
            AND height >= {MM_RES_MIN} AND height <= {MM_RES_MAX}
            AND {MM_ASPECT} * width >= height
            AND {MM_ASPECT} * height >= width) AS admitted
    FROM (
      SELECT doc_id,
             CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS fmt,
             CAST(16 + doc_id % 2048 AS INTEGER) AS width,
             CAST(16 + (doc_id * 7) % 2048 AS INTEGER) AS height
      FROM documents
    )
    """,
    tags=("multimodal", "M5", "curation"),
    doc="Image CONTAINER-HEADER parsing as the no-decode resolution "
    "gate (the LAION-style width/height/aspect pre-filter a multimodal "
    "curation pipeline runs BEFORE spending any decode): real PNG "
    "IHDR and JPEG JFIF+SOF0 byte layouts are synthesized into the "
    "binary payload column (magic + chunk/segment structure, "
    "dimensions big-endian at the spec offsets), and the query then "
    "PARSES the bytes back JVM-side — magic dispatch on the hex "
    "prefix, PNG dims at IHDR offsets 16/20, JPEG dims from the "
    "SOF0/1/2 segment found by WALKING SEGMENT LENGTHS (jpeg_sof_pos: "
    "one aggregate() fold over a bounded step sequence) — entirely "
    "with builtin expressions (hex/substr/conv/aggregate), no Python, "
    "no image libraries. The oracle states the dimension GENERATOR "
    "formula, so hash equality proves the parser inverts the "
    "synthesis byte-exactly (the same golden-round-trip device as the "
    "format round-trip tests). The walk is the production-correct "
    "scan: an FFC0 byte pair inside a COM/APPn payload is skipped by "
    "its segment length, never misread as the frame header "
    "(mm_jpeg_segment_walk is the adversarial fixture proving "
    "exactly that against the naive first-FFC0 scan). At 100 TB the "
    "gate is map-side over the first KB of each blob — scan-bound, "
    "no shuffle, no decode.",
)
def mm_header_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id")
    w = (F.lit(16) + F.col("doc_id") % 2048).cast("int")
    h = (F.lit(16) + (F.col("doc_id") * 7) % 2048).cast("int")
    is_png = F.col("doc_id") % 2 == 0
    media = docs.select(
        "doc_id", image_header_payload(w, h, is_png).alias("payload")
    )
    fmt, width, height = parse_image_dims(F.col("payload"))
    parsed = media.select(
        "doc_id",
        fmt.alias("fmt"),
        width.alias("width"),
        height.alias("height"),
    )
    ok_res = (
        (F.col("width") >= MM_RES_MIN)
        & (F.col("width") <= MM_RES_MAX)
        & (F.col("height") >= MM_RES_MIN)
        & (F.col("height") <= MM_RES_MAX)
    )
    ok_aspect = (MM_ASPECT * F.col("width") >= F.col("height")) & (
        MM_ASPECT * F.col("height") >= F.col("width")
    )
    return parsed.select(
        "doc_id", "fmt", "width", "height", (ok_res & ok_aspect).alias("admitted")
    )


# ------------------- adversarial JPEG fixture: decoy SOF inside a COM

# APP1 padding segment: marker FFE1, declared length 4 (2-byte length
# field + 2 payload bytes "ABCD") — 6 bytes / 12 hex chars per segment
_PAD_SEG_HEX = "FFE10004ABCD"
MM_MAX_PAD_SEGMENTS = 8


def jpeg_adversarial_payload(w, h, decoy_w, decoy_h, n_pad) -> F.Column:
    """JPEG header bytes built to defeat a naive first-FFC0 scan: after
    SOI + APP0/JFIF comes a COM segment whose PAYLOAD contains a
    byte-exact SOF0 lookalike carrying DECOY dimensions, then ``n_pad``
    APP1 padding segments (variable walk depth), then the real SOF0
    with the true dimensions. locate('FFC0') lands on the decoy; the
    segment walk skips the COM by its declared length and reads the
    real frame header."""
    com = F.concat(
        # COM marker + length 0x000B (= 2-byte length field + 9-byte
        # payload: the 5-byte SOF0-lookalike prefix + 2B h + 2B w)
        F.lit("FFFE000B" "FFC0001108"),
        F.lpad(F.hex(decoy_h), 4, "0"),
        F.lpad(F.hex(decoy_w), 4, "0"),
    )
    pads = F.substring(
        F.lit(_PAD_SEG_HEX * MM_MAX_PAD_SEGMENTS),
        F.lit(1),
        n_pad * F.lit(len(_PAD_SEG_HEX)),
    )
    sof = F.concat(
        F.lit("FFC0001108"),
        F.lpad(F.hex(h), 4, "0"),
        F.lpad(F.hex(w), 4, "0"),
        F.lit("03011100021101031101"),
    )
    return F.to_binary(
        F.concat(F.lit("FFD8"), F.lit(_JFIF_APP0_HEX), com, pads, sof),
        F.lit("hex"),
    )


@register(
    "mm_jpeg_segment_walk",
    oracle=f"""
    SELECT doc_id, width, height, naive_width, naive_height,
           (width >= {MM_RES_MIN} AND width <= {MM_RES_MAX}
            AND height >= {MM_RES_MIN} AND height <= {MM_RES_MAX}
            AND {MM_ASPECT} * width >= height
            AND {MM_ASPECT} * height >= width) AS admitted
    FROM (
      SELECT doc_id,
             CAST(16 + doc_id % 2048 AS INTEGER) AS width,
             CAST(16 + (doc_id * 7) % 2048 AS INTEGER) AS height,
             CAST(8 + doc_id % 16 AS INTEGER) AS naive_width,
             CAST(8 + (doc_id * 3) % 16 AS INTEGER) AS naive_height
      FROM documents
    )
    """,
    tags=("multimodal", "M5", "curation"),
    doc="Adversarial proof that the JPEG dimension gate walks segment "
    "lengths instead of pattern-matching: every synthesized header "
    "plants a byte-exact FFC0 SOF0 LOOKALIKE (with decoy dimensions "
    "8..23, all below the resolution floor) inside a COM segment "
    "payload, pads with a doc-varying number of APP1 segments (walk "
    "depth 2..10), and only then emits the real SOF0. The query "
    "parses the same bytes BOTH ways — jpeg_sof_pos's bounded "
    "segment-length walk and the naive first-FFC0 locate — and the "
    "oracle states both generator formulas: hash equality proves the "
    "walker returns the TRUE dimensions on every row while the naive "
    "scan reads the planted decoy (which would reject the entire "
    "corpus at the resolution gate). This is the crawl-data failure "
    "mode for real files — FFC0 appears freely inside EXIF/comment "
    "payloads and entropy-coded data. Same scale shape as "
    "mm_header_probe: map-side builtin expressions over blob heads, "
    "scan-bound, no shuffle, no Python.",
)
def mm_jpeg_segment_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id")
    w = (F.lit(16) + F.col("doc_id") % 2048).cast("int")
    h = (F.lit(16) + (F.col("doc_id") * 7) % 2048).cast("int")
    decoy_w = (F.lit(8) + F.col("doc_id") % 16).cast("int")
    decoy_h = (F.lit(8) + (F.col("doc_id") * 3) % 16).cast("int")
    n_pad = (F.col("doc_id") % (MM_MAX_PAD_SEGMENTS + 1)).cast("int")
    media = docs.select(
        "doc_id",
        jpeg_adversarial_payload(w, h, decoy_w, decoy_h, n_pad).alias("payload"),
    )
    hx = F.hex(F.col("payload"))
    walk_w, walk_h = _jpeg_dims_at(hx, jpeg_sof_pos(hx))
    naive_w, naive_h = _jpeg_dims_at(hx, F.locate("FFC0", hx))
    parsed = media.select(
        "doc_id",
        walk_w.alias("width"),
        walk_h.alias("height"),
        naive_w.alias("naive_width"),
        naive_h.alias("naive_height"),
    )
    ok_res = (
        (F.col("width") >= MM_RES_MIN)
        & (F.col("width") <= MM_RES_MAX)
        & (F.col("height") >= MM_RES_MIN)
        & (F.col("height") <= MM_RES_MAX)
    )
    ok_aspect = (MM_ASPECT * F.col("width") >= F.col("height")) & (
        MM_ASPECT * F.col("height") >= F.col("width")
    )
    return parsed.select(
        "doc_id",
        "width",
        "height",
        "naive_width",
        "naive_height",
        (ok_res & ok_aspect).alias("admitted"),
    )


# --------------------- RIFF/WAVE header probe (audio no-decode gate)

# Chunk ids as hex of their 4-char ascii tags
_RIFF_HEX, _WAVE_HEX = "52494646", "57415645"

# Cursor-freeze bound for the chunk/box walkers: a header-level size
# field claiming a jump past 1 MB is malformed input for a
# head-of-blob gate (and over foreign bytes would overflow the INT
# cursor under ANSI — see riff_chunk_pos/mp4_box_pos).
MM_WALK_MAX_BYTES = 1_000_000
_FMT_HEX, _DATA_HEX, _JUNK_HEX = "666D7420", "64617461", "4A554E4B"
MM_RIFF_WALK_CHUNKS = 12
# admission gate bounds (speech-pipeline pre-filter)
MM_SR_MIN, MM_SR_MAX = 8000, 48000
MM_DUR_MIN_MS, MM_DUR_MAX_MS = 300, 30000
MM_MAX_CHANNELS = 2


def _hex_le(v: F.Column, n_bytes: int) -> F.Column:
    """Little-endian hex encoding of an integer column (RIFF stores
    every size/field LE — the byte-order mirror of JPEG/PNG's BE)."""
    be = F.lpad(F.hex(v), 2 * n_bytes, "0")
    return F.concat(
        *[F.substring(be, 2 * i + 1, 2) for i in reversed(range(n_bytes))]
    )


def _le32(hx: F.Column, pos) -> F.Column:
    """Integer from 4 little-endian bytes at 1-indexed hex-char pos."""
    be = F.concat(
        *[F.substring(hx, pos + F.lit(2 * i), F.lit(2)) for i in (3, 2, 1, 0)]
    )
    return F.conv(be, 16, 10).cast("long")


def _le16(hx: F.Column, pos) -> F.Column:
    be = F.concat(
        F.substring(hx, pos + F.lit(2), F.lit(2)),
        F.substring(hx, pos, F.lit(2)),
    )
    return F.conv(be, 16, 10).cast("int")


def wav_header_payload(sample_rate, n_channels, duration_ms, junk_bytes) -> F.Column:
    """Spec-correct RIFF/WAVE header bytes: RIFF size + WAVE form, a
    JUNK padding chunk of ``junk_bytes`` (real encoders emit JUNK/LIST
    before fmt; this varies the walk depth and offsets), the PCM
    'fmt ' chunk (16-bit), and the 'data' chunk header whose size
    encodes the duration. Only the data-chunk SIZE is synthesized —
    the gate never needs sample bytes, which is the point."""
    bits = F.lit(16)
    block_align = (n_channels * bits / F.lit(8)).cast("int")
    byte_rate = (sample_rate * block_align).cast("long")
    data_size = ((byte_rate * duration_ms) / F.lit(1000)).cast("long")
    # odd-size chunks carry a pad byte to the next even offset (not
    # counted in the size field) — synthesize it or the walk lands one
    # byte short of the next chunk id
    junk_padded = junk_bytes + junk_bytes % 2
    junk = F.concat(
        F.lit(_JUNK_HEX),
        _hex_le(junk_bytes, 4),
        F.substring(F.lit("00" * 64), F.lit(1), junk_padded * F.lit(2)),
    )
    fmt = F.concat(
        F.lit(_FMT_HEX),
        _hex_le(F.lit(16), 4),          # PCM fmt payload is 16 bytes
        _hex_le(F.lit(1), 2),           # audio_format = 1 (PCM)
        _hex_le(n_channels, 2),
        _hex_le(sample_rate, 4),
        _hex_le(byte_rate, 4),
        _hex_le(block_align, 2),
        _hex_le(bits, 2),
    )
    data_hdr = F.concat(F.lit(_DATA_HEX), _hex_le(data_size, 4))
    # RIFF size = everything after the size field: "WAVE" + chunks
    riff_size = (
        F.lit(4)                         # WAVE
        + F.lit(8) + junk_padded         # JUNK hdr + payload + pad
        + F.lit(8 + 16)                  # fmt hdr + payload
        + F.lit(8)                       # data hdr (sample bytes omitted)
    ).cast("long")
    return F.to_binary(
        F.concat(
            F.lit(_RIFF_HEX), _hex_le(riff_size, 4), F.lit(_WAVE_HEX),
            junk, fmt, data_hdr,
        ),
        F.lit("hex"),
    )


def riff_chunk_pos(hx: F.Column, chunk_id_hex: str) -> F.Column:
    """1-indexed hex-char position of the named chunk's id, found by
    walking RIFF chunk sizes from the first chunk after the 12-byte
    RIFF/WAVE preamble — same bounded aggregate() fold as
    jpeg_sof_pos, with LITTLE-endian sizes and odd-size pad bytes
    (RIFF aligns chunks to even offsets). Freezes on the target id or
    on malformed input; the caller checks the id at the rest position."""

    def step(pos: F.Column, _i: F.Column) -> F.Column:
        cid = F.substring(hx, pos, F.lit(8))
        size = _le32(hx, pos + F.lit(8))
        # the size bound is a MALFORMED-INPUT freeze, not a format
        # limit: when this walker runs over foreign bytes (the composed
        # gate parses every payload with every parser), a garbage LE32
        # "size" reaches 4.29e9 and pos + size*2 overflows the INT
        # cursor — a hard CAST_OVERFLOW error under ANSI mode (found by
        # the 50x replica probe). A header chunk that jumps > 1 MB is
        # malformed for a head-of-blob gate either way; freezing leaves
        # the rest-position id check to yield NULL fields.
        valid = (
            (F.length(cid) == 8)
            & size.isNotNull()
            & (size >= 0)
            & (size <= MM_WALK_MAX_BYTES)
        )
        # 8-byte header + payload + pad-to-even, in hex chars
        adv = F.lit(16) + size * F.lit(2) + (size % 2) * F.lit(2)
        return F.when((cid == chunk_id_hex) | ~valid, pos).otherwise(
            (pos + adv).cast("int")
        )

    return F.aggregate(
        F.sequence(F.lit(1), F.lit(MM_RIFF_WALK_CHUNKS)),
        F.lit(25).cast("int"),  # first chunk after RIFF(4)+size(4)+WAVE(4)
        step,
    )


def parse_wav_header(payload: F.Column):
    """(sample_rate, n_channels, bits, duration_ms) parsed from
    RIFF/WAVE header bytes, builtin-only; NULLs when the magic is
    wrong or a chunk is missing within the walk bound."""
    hx = F.hex(payload)
    is_wav = hx.startswith(_RIFF_HEX) & (F.substring(hx, 17, 8) == _WAVE_HEX)
    fmt_pos = riff_chunk_pos(hx, _FMT_HEX)
    fmt_ok = is_wav & (F.substring(hx, fmt_pos, F.lit(8)) == _FMT_HEX)
    body = fmt_pos + F.lit(16)  # past id + size
    n_channels = F.when(fmt_ok, _le16(hx, body + F.lit(4)))
    sample_rate = F.when(fmt_ok, _le32(hx, body + F.lit(8)).cast("int"))
    byte_rate = F.when(fmt_ok, _le32(hx, body + F.lit(16)))
    bits = F.when(fmt_ok, _le16(hx, body + F.lit(28)))
    data_pos = riff_chunk_pos(hx, _DATA_HEX)
    data_ok = is_wav & (F.substring(hx, data_pos, F.lit(8)) == _DATA_HEX)
    data_size = F.when(data_ok, _le32(hx, data_pos + F.lit(8)))
    # exact by construction: data_size is an integer number of
    # byte_rate-per-second frames times ms/1000
    duration_ms = ((data_size * 1000) / byte_rate).cast("int")
    return sample_rate, n_channels, bits, duration_ms


@register(
    "mm_wav_header_probe",
    oracle=f"""
    SELECT doc_id, sample_rate, n_channels, bits, duration_ms,
           (sample_rate >= {MM_SR_MIN} AND sample_rate <= {MM_SR_MAX}
            AND n_channels <= {MM_MAX_CHANNELS}
            AND duration_ms >= {MM_DUR_MIN_MS}
            AND duration_ms <= {MM_DUR_MAX_MS}) AS admitted
    FROM (
      SELECT doc_id,
             CAST(8000 * (1 + doc_id % 6) AS INTEGER) AS sample_rate,
             CAST(1 + doc_id % 3 AS INTEGER) AS n_channels,
             16 AS bits,
             CAST(200 + (doc_id * 13) % 40000 AS INTEGER) AS duration_ms
      FROM documents
    )
    """,
    tags=("multimodal", "M5", "curation"),
    doc="AUDIO no-decode admission gate — the speech-curation analog "
    "of the image header probe: spec-correct RIFF/WAVE bytes (RIFF "
    "size + WAVE form, a doc-varying JUNK padding chunk as real "
    "encoders emit, the PCM 'fmt ' chunk, and the 'data' chunk header "
    "whose size encodes duration) are synthesized into the binary "
    "payload, then PARSED back builtin-only: riff_chunk_pos walks "
    "chunk sizes with the same bounded aggregate() fold as the JPEG "
    "segment walk but with LITTLE-endian sizes and pad-to-even "
    "alignment, and the gate admits on sample-rate / channel-count / "
    "duration bounds (duration = data-chunk size over byte rate — no "
    "sample bytes are read, which is the point of a header gate). "
    "The oracle states the generator formulas, so hash equality "
    "proves the LE chunk walk inverts the synthesis byte-exactly. At "
    "100 TB this runs map-side over the first KB of each audio blob — "
    "scan-bound, no shuffle, no codec.",
)
def mm_wav_header_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id")
    sample_rate = (F.lit(8000) * (1 + F.col("doc_id") % 6)).cast("int")
    n_channels = (F.lit(1) + F.col("doc_id") % 3).cast("int")
    duration_ms = (F.lit(200) + (F.col("doc_id") * 13) % 40000).cast("int")
    junk_bytes = (F.col("doc_id") % 37).cast("int")
    media = docs.select(
        "doc_id",
        wav_header_payload(
            sample_rate, n_channels, duration_ms, junk_bytes
        ).alias("payload"),
    )
    sr, ch, bits, dur = parse_wav_header(F.col("payload"))
    parsed = media.select(
        "doc_id",
        sr.alias("sample_rate"),
        ch.alias("n_channels"),
        bits.alias("bits"),
        dur.alias("duration_ms"),
    )
    admitted = (
        (F.col("sample_rate") >= MM_SR_MIN)
        & (F.col("sample_rate") <= MM_SR_MAX)
        & (F.col("n_channels") <= MM_MAX_CHANNELS)
        & (F.col("duration_ms") >= MM_DUR_MIN_MS)
        & (F.col("duration_ms") <= MM_DUR_MAX_MS)
    )
    return parsed.select(
        "doc_id", "sample_rate", "n_channels", "bits", "duration_ms",
        admitted.alias("admitted"),
    )


# ------------------------------ video container probe (MP4 / ISO BMFF)

_FTYP_HEX = "66747970"
_MOOV_HEX = "6D6F6F76"
_MVHD_HEX = "6D766864"
_FREE_HEX = "66726565"
_UDTA_HEX = "75647461"

# Bound on top-level / child boxes walked before giving up: real MP4s
# put moov within a handful of top-level boxes (ftyp, free/skip, pdin,
# moov, mdat...) and mvhd is by spec a direct moov child.
MM_MP4_WALK_BOXES = 8
MM_VID_DUR_MIN_MS, MM_VID_DUR_MAX_MS = 500, 60_000
MM_MP4_BRANDS_OK = ("isom", "mp42")

# mvhd version-0 unity matrix (9 x 4B fixed-point) — spec constant
_MVHD_MATRIX_HEX = (
    "00010000" "00000000" "00000000"
    "00000000" "00010000" "00000000"
    "00000000" "00000000" "40000000"
)


def _be32(v: F.Column) -> F.Column:
    """Big-endian 4-byte hex of an integer column (ISO BMFF stores box
    sizes and mvhd fields BE — the byte-order mirror of RIFF)."""
    return F.lpad(F.hex(v), 8, "0")


def mp4_payload(
    brand, timescale, dur_ticks, free_bytes, udta_pad, decoy=None
) -> F.Column:
    """Spec-correct MP4 (ISO/IEC 14496-12) header bytes: an ftyp box
    carrying the major brand, a doc-varying ``free`` box (real muxers
    emit free/skip padding, and it moves moov to a per-doc offset so
    the top-level walk is real), and a moov container whose FIRST
    child is a udta box whose payload BEGINS with the ASCII bytes
    "mvhd" — a planted decoy: a naive locate('mvhd') reads udta's
    payload as the movie header, so oracle hash-equality proves the
    walk descends by box sizes instead of pattern-matching. The real
    mvhd (version 0) follows with timescale and duration ticks; no
    mdat/sample bytes are synthesized — a header gate never reads
    them, which is the point."""
    ftyp = F.concat(
        F.lit("00000014"), F.lit(_FTYP_HEX),   # size 20 + 'ftyp'
        F.hex(brand),                          # major brand (4 ASCII)
        F.lit("00000200"),                     # minor version
        F.lit("69736F6D"),                     # compatible brand 'isom'
    )
    free = F.concat(
        _be32(free_bytes + F.lit(8)), F.lit(_FREE_HEX),
        F.substring(F.lit("00" * 64), F.lit(1), free_bytes * F.lit(2)),
    )
    if decoy is None:
        decoy = F.lit(_MVHD_HEX + "00000000" + "00000000")  # 'mvhd' + 8B fake
    udta_body = F.concat(
        decoy, F.substring(F.lit("00" * 32), F.lit(1), udta_pad * F.lit(2))
    )
    udta_size = F.lit(8) + (F.length(udta_body) / F.lit(2)).cast("int")
    udta = F.concat(_be32(udta_size), F.lit(_UDTA_HEX), udta_body)
    mvhd = F.concat(
        F.lit("0000006C"), F.lit(_MVHD_HEX),   # size 108 + 'mvhd'
        F.lit("00000000"),                     # version 0 + flags
        F.lit("00000000"), F.lit("00000000"),  # creation, modification
        _be32(timescale),
        _be32(dur_ticks),
        F.lit("00010000"),                     # rate 1.0
        F.lit("01000000"),                     # volume 1.0 + reserved
        F.lit("00" * 8),                       # reserved
        F.lit(_MVHD_MATRIX_HEX),
        F.lit("00" * 24),                      # pre_defined
        F.lit("00000002"),                     # next_track_ID
    )
    moov_size = F.lit(8) + udta_size + F.lit(108)
    moov = F.concat(_be32(moov_size), F.lit(_MOOV_HEX), udta, mvhd)
    return F.to_binary(F.concat(ftyp, free, moov), F.lit("hex"))


def mp4_box_pos(hx: F.Column, start, box_type_hex: str) -> F.Column:
    """1-indexed hex-char position of the named box's SIZE field, found
    by walking box sizes from ``start`` — the same bounded aggregate()
    fold as jpeg_sof_pos/riff_chunk_pos with 4-byte big-endian sizes
    that INCLUDE the 8-byte header (so the advance is size*2 hex chars,
    no alignment padding). One call walks one nesting level; container
    descent is a second call starting at parent+16. Freezes on the
    target type or malformed input (truncated header, size < 8); the
    caller checks the type at the rest position."""

    def step(pos: F.Column, _i: F.Column) -> F.Column:
        btype = F.substring(hx, pos + F.lit(8), F.lit(8))
        size = F.conv(F.substring(hx, pos, F.lit(8)), 16, 10).cast("long")
        # size bound = malformed-input freeze (see riff_chunk_pos): a
        # garbage BE32 over foreign bytes would overflow the INT cursor
        valid = (
            (F.length(btype) == 8)
            & size.isNotNull()
            & (size >= 8)
            & (size <= MM_WALK_MAX_BYTES)
        )
        return F.when((btype == box_type_hex) | ~valid, pos).otherwise(
            (pos + size * F.lit(2)).cast("int")
        )

    return F.aggregate(
        F.sequence(F.lit(1), F.lit(MM_MP4_WALK_BOXES)),
        F.lit(0).cast("int") + start,
        step,
    )


def parse_mp4_header(payload: F.Column):
    """(major_brand, timescale, duration_ms) parsed from MP4 header
    bytes, builtin-only: top-level walk to ftyp and moov, child walk
    inside moov to mvhd (version 0: timescale at byte 20, duration
    ticks at byte 24 of the box), duration_ms = floor(ticks*1000/
    timescale) — exact across engines because both operands are small
    integers cast exactly to double and a true quotient is never
    within an ulp of an integer unless it IS one. NULLs when a box is
    missing within the walk bound."""
    hx = F.hex(payload)
    ftyp = mp4_box_pos(hx, F.lit(1), _FTYP_HEX)
    ftyp_ok = F.substring(hx, ftyp + F.lit(8), F.lit(8)) == _FTYP_HEX
    brand = F.when(
        ftyp_ok,
        F.to_binary(F.substring(hx, ftyp + F.lit(16), F.lit(8)),
                    F.lit("hex")).cast("string"),
    )
    moov = mp4_box_pos(hx, F.lit(1), _MOOV_HEX)
    moov_ok = F.substring(hx, moov + F.lit(8), F.lit(8)) == _MOOV_HEX
    mvhd = mp4_box_pos(hx, moov + F.lit(16), _MVHD_HEX)
    mvhd_ok = moov_ok & (
        F.substring(hx, mvhd + F.lit(8), F.lit(8)) == _MVHD_HEX
    )
    timescale = F.when(
        mvhd_ok, F.conv(F.substring(hx, mvhd + F.lit(40), F.lit(8)), 16, 10)
    ).cast("long")
    ticks = F.when(
        mvhd_ok, F.conv(F.substring(hx, mvhd + F.lit(48), F.lit(8)), 16, 10)
    ).cast("long")
    duration_ms = F.floor(ticks * F.lit(1000) / timescale).cast("long")
    return brand, timescale, duration_ms


@register(
    "mm_mp4_box_walk",
    oracle=f"""
    SELECT doc_id, major_brand, timescale, duration_ms,
           (major_brand IN ('isom','mp42')
            AND duration_ms >= {MM_VID_DUR_MIN_MS}
            AND duration_ms <= {MM_VID_DUR_MAX_MS}) AS admitted
    FROM (
      SELECT doc_id,
             CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'isom'
                  WHEN 1 THEN 'mp42' ELSE '3gp4' END AS major_brand,
             CAST(600 * (1 + doc_id % 5) AS BIGINT) AS timescale,
             CAST(FLOOR((300 + (doc_id * 37) % 100000) * 1000.0
                        / (600 * (1 + doc_id % 5))) AS BIGINT) AS duration_ms
      FROM documents
    )
    """,
    tags=("multimodal", "M5", "curation"),
    doc="VIDEO no-decode admission gate — completes the image/audio/"
    "video triad of container-header probes: spec-correct MP4 "
    "(ISO/IEC 14496-12) bytes — ftyp with a doc-varying major brand, "
    "a doc-varying free box, and a moov whose first child udta "
    "payload BEGINS with the ASCII bytes 'mvhd' (a planted decoy a "
    "naive locate() misreads) — are synthesized into the binary "
    "payload, then PARSED back builtin-only: mp4_box_pos walks "
    "big-endian box sizes at the top level (to ftyp/moov) and again "
    "inside moov (to the real mvhd), and the gate admits on brand "
    "and duration = mvhd ticks over timescale. The oracle states the "
    "generator formulas, so hash equality proves the two-level box "
    "walk inverts the synthesis byte-exactly THROUGH the decoy. At "
    "100 TB this runs map-side over the first KB of each video blob "
    "(faststart layouts put moov before mdat) — scan-bound, no "
    "shuffle, no codec.",
)
def mm_mp4_box_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id")
    m3 = (F.col("doc_id") % 3).cast("int")
    brand = (
        F.when(m3 == 0, F.lit("isom"))
        .when(m3 == 1, F.lit("mp42"))
        .otherwise(F.lit("3gp4"))
    )
    timescale = (F.lit(600) * (1 + F.col("doc_id") % 5)).cast("long")
    ticks = (F.lit(300) + (F.col("doc_id") * 37) % 100000).cast("long")
    free_bytes = (F.col("doc_id") % 23).cast("int")
    udta_pad = (F.col("doc_id") % 11).cast("int")
    media = docs.select(
        "doc_id",
        mp4_payload(brand, timescale, ticks, free_bytes, udta_pad).alias(
            "payload"
        ),
    )
    br, ts, dur = parse_mp4_header(F.col("payload"))
    parsed = media.select(
        "doc_id",
        br.alias("major_brand"),
        ts.alias("timescale"),
        dur.alias("duration_ms"),
    )
    admitted = (
        F.col("major_brand").isin(*MM_MP4_BRANDS_OK)
        & (F.col("duration_ms") >= MM_VID_DUR_MIN_MS)
        & (F.col("duration_ms") <= MM_VID_DUR_MAX_MS)
    )
    return parsed.select(
        "doc_id", "major_brand", "timescale", "duration_ms",
        admitted.alias("admitted"),
    )


# --------------------------- composed multimodal admission gate (DAG form)

# shared by mm_curation_gate (batch) and st_mm_gate (streaming) so the
# two gates cannot drift — same generator-formula statement both ways.
# Docs with doc_id % 13 == 6 carry a MALFORMED payload instead of the
# valid fixture (class (doc_id // 13) % 3: empty / truncated
# mid-segment / size field past EOF) and must land in the named
# 'empty' / 'malformed_header' buckets — never a NULL-field silent
# admit (r9 verdict item 4).
MM_GATE_ORACLE = f"""
    SELECT doc_id, modality, (reason = 'ok') AS admitted, reason FROM (
      SELECT doc_id,
        CASE WHEN mal AND mc = 0 THEN 'unknown' ELSE modality END AS modality,
        CASE WHEN mal AND mc = 0 THEN 'empty'
             WHEN mal THEN 'malformed_header'
        WHEN modality = 'image' THEN
          CASE WHEN width < {MM_RES_MIN} OR width > {MM_RES_MAX}
                 OR height < {MM_RES_MIN} OR height > {MM_RES_MAX}
               THEN 'dims'
               WHEN {MM_ASPECT} * width < height
                 OR {MM_ASPECT} * height < width THEN 'aspect'
               ELSE 'ok' END
        WHEN modality = 'audio' THEN
          CASE WHEN sr < {MM_SR_MIN} OR sr > {MM_SR_MAX} THEN 'sample_rate'
               WHEN ch > {MM_MAX_CHANNELS} THEN 'channels'
               WHEN adur < {MM_DUR_MIN_MS} OR adur > {MM_DUR_MAX_MS}
               THEN 'duration'
               ELSE 'ok' END
        ELSE
          CASE WHEN brand NOT IN ('isom','mp42') THEN 'brand'
               WHEN vdur < {MM_VID_DUR_MIN_MS} OR vdur > {MM_VID_DUR_MAX_MS}
               THEN 'duration'
               ELSE 'ok' END
        END AS reason
      FROM (
        SELECT doc_id,
               (doc_id % 13 = 6) AS mal,
               CAST((doc_id // 13) % 3 AS INT) AS mc,
               CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
                    WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
               CAST(16 + doc_id % 2048 AS INTEGER) AS width,
               CAST(16 + (doc_id * 7) % 2048 AS INTEGER) AS height,
               CAST(8000 * (1 + doc_id % 6) AS INTEGER) AS sr,
               CAST(1 + doc_id % 3 AS INTEGER) AS ch,
               CAST(200 + (doc_id * 13) % 40000 AS INTEGER) AS adur,
               CASE CAST((doc_id // 3) % 3 AS INT) WHEN 0 THEN 'isom'
                    WHEN 1 THEN 'mp42' ELSE '3gp4' END AS brand,
               CAST(FLOOR((300 + (doc_id * 37) % 100000) * 1000.0
                          / (600 * (1 + doc_id % 5))) AS BIGINT) AS vdur
        FROM documents
      )
    )
    """

# Malformed-blob fixture family: each keeps a DETECTABLE magic (except
# 'empty') so the failure lands inside the right modality's parser —
# the production classes a crawl actually carries.
#   truncated: header cut mid-segment/mid-chunk/after-ftyp — the walk
#     runs off the end (empty substring -> invalid -> freeze) and the
#     rest-position check yields NULL fields.
#   bad size: a size field pointing past EOF (JPEG: APP0 len 0xFFFF;
#     WAV: JUNK chunk size 0xFFFFFFFF > MM_WALK_MAX_BYTES, the ANSI
#     overflow bound from the 50x probe; MP4: free box size 2^31-ish)
#     — the walk freezes on the bound or runs past EOF, same NULLs.
_MAL_IMG_TRUNC_HEX = "FFD8" + "FFE00010"              # SOI + APP0 cut mid-seg
_MAL_IMG_BADSZ_HEX = "FFD8" + "FFE0FFFF"              # APP0 claims 64KB
_MAL_WAV_TRUNC_HEX = _RIFF_HEX + "24000000" + _WAVE_HEX + _FMT_HEX
_MAL_WAV_BADSZ_HEX = (
    _RIFF_HEX + "24000000" + _WAVE_HEX + "4A554E4B" + "FFFFFFFF"
)
_MAL_MP4_TRUNC_HEX = (
    "00000014" + _FTYP_HEX + "69736F6D" + "00000200" + "69736F6D"
)
_MAL_MP4_BADSZ_HEX = _MAL_MP4_TRUNC_HEX + "7FFFFFF0" + _FREE_HEX


@register(
    "mm_curation_gate",
    oracle=MM_GATE_ORACLE,
    tags=("multimodal", "M5", "curation", "e2e", "bench"),
    doc="COMPOSED multimodal admission gate — the production form of "
    "the three standalone header probes, mirroring what "
    "txt_curation_dag is to the text operators: every blob enters "
    "with NO modality label, the gate detects the container from the "
    "magic bytes (PNG/JPEG signature, RIFF+WAVE, an ftyp box), "
    "dispatches to the right builtin-only parser (IHDR offsets / SOF "
    "segment walk / RIFF chunk walk / two-level BMFF box walk), "
    "applies the modality's bounds, and emits a dispositioned row "
    "(modality, admitted, reason — reasons in a fixed check order, "
    "so the first failing gate names the drop cause exactly as a "
    "curation funnel needs). The fixture synthesizes one modality "
    "per doc with the SAME per-doc formulas as the standalone "
    "probes, PLUS a malformed-blob family (doc_id % 13 == 6: empty, "
    "truncated mid-segment, size field past EOF — per modality, "
    "magic intact) that must land in the named 'empty' / "
    "'malformed_header' buckets: NULL parsed fields are checked "
    "FIRST in every modality's chain, because a NULL inside a range "
    "predicate silently falls through to 'ok' otherwise. The oracle "
    "stays a pure generator-formula statement and hash equality "
    "proves detection + parse + gate + malformed-rejection "
    "end-to-end. Map-side over blob heads at any scale: no shuffle, "
    "no codec, no Python.",
)
def mm_curation_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mm_gate_flow(load(spark, sf_dir, "documents").select("doc_id"))


def mm_gate_flow(docs: DataFrame) -> DataFrame:
    """The composed multimodal gate as a frame transform — shared by
    mm_curation_gate (batch) and st_mm_gate (streaming) so the two
    cannot drift, exactly like curation_admit_gate on the text side.
    Synthesizes each doc's fixture payload, detects the container from
    magic bytes, parses builtin-only, and gates with named reasons."""
    d = F.col("doc_id")
    m3 = (d % 3).cast("int")
    # per-modality fixture formulas — identical to the standalone probes
    img = image_header_payload(
        (F.lit(16) + d % 2048).cast("int"),
        (F.lit(16) + (d * 7) % 2048).cast("int"),
        d % 2 == 0,
    )
    wav = wav_header_payload(
        (F.lit(8000) * (1 + d % 6)).cast("int"),
        (F.lit(1) + d % 3).cast("int"),
        (F.lit(200) + (d * 13) % 40000).cast("int"),
        (d % 37).cast("int"),
    )
    b3 = (F.floor(d / 3) % 3).cast("int")
    mp4 = mp4_payload(
        F.when(b3 == 0, F.lit("isom"))
        .when(b3 == 1, F.lit("mp42"))
        .otherwise(F.lit("3gp4")),
        (F.lit(600) * (1 + d % 5)).cast("long"),
        (F.lit(300) + (d * 37) % 100000).cast("long"),
        (d % 23).cast("int"),
        (d % 11).cast("int"),
    )
    # malformed-blob family (doc_id % 13 == 6): class 0 = empty, 1 =
    # truncated mid-segment, 2 = size field past EOF — per the base
    # modality, magic intact so the failure exercises the right parser
    mal = d % 13 == 6
    mc = (F.expr("doc_id div 13") % 3).cast("int")
    trunc_hex = (
        F.when(m3 == 0, F.lit(_MAL_IMG_TRUNC_HEX))
        .when(m3 == 1, F.lit(_MAL_WAV_TRUNC_HEX))
        .otherwise(F.lit(_MAL_MP4_TRUNC_HEX))
    )
    badsz_hex = (
        F.when(m3 == 0, F.lit(_MAL_IMG_BADSZ_HEX))
        .when(m3 == 1, F.lit(_MAL_WAV_BADSZ_HEX))
        .otherwise(F.lit(_MAL_MP4_BADSZ_HEX))
    )
    payload = (
        F.when(mal & (mc == 0), F.to_binary(F.lit(""), F.lit("hex")))
        .when(mal & (mc == 1), F.to_binary(trunc_hex, F.lit("hex")))
        .when(mal & (mc == 2), F.to_binary(badsz_hex, F.lit("hex")))
        .otherwise(F.when(m3 == 0, img).when(m3 == 1, wav).otherwise(mp4))
    )
    media = docs.select("doc_id", payload.alias("payload"))
    # Explode-barrier between synthesis and parsing: CollapseProject
    # substitutes the payload column into EVERY parser reference — the
    # three-way builder when-chain re-inlines ~30 times, the projection
    # grows past the codegen method limits, and the whole stage falls
    # back to INTERPRETED row-at-a-time evaluation (observed: the final
    # Project lost its codegen star; the same idiom and reasoning as
    # curation_admit_gate's barrier). A Generate's outputs cannot be
    # collapsed through, so the parsers see a plain attribute and the
    # stage stays codegen'd with one payload evaluation per row.
    media = media.select(
        F.explode(F.array(F.struct(*media.columns))).alias("s")
    ).select("s.*")
    hx = F.hex(F.col("payload"))
    is_image = hx.startswith("89504E470D0A1A0A") | hx.startswith("FFD8")
    is_audio = hx.startswith(_RIFF_HEX) & (
        F.substring(hx, 17, 8) == _WAVE_HEX
    )
    is_video = F.substring(hx, 9, 8) == _FTYP_HEX
    modality = (
        F.when(is_image, F.lit("image"))
        .when(is_audio, F.lit("audio"))
        .when(is_video, F.lit("video"))
        .otherwise(F.lit("unknown"))
    )
    _, w, h = parse_image_dims(F.col("payload"))
    sr, ch, _, adur = parse_wav_header(F.col("payload"))
    # Further barriers: all four byte-walkers fused into ONE projection
    # still exceed the codegen limits (each standalone probe's parse
    # stage is codegen'd on its own — verified from their plans), so
    # the parse splits into two barrier-separated stages: image+audio
    # walkers, then the two-level video walk, then the reason CASE over
    # plain attributes. Three no-op Generates per row, each stage
    # codegen'd, one payload evaluation total.
    stage_a = media.select(
        "doc_id",
        F.col("payload"),
        F.octet_length("payload").alias("_len"),
        modality.alias("modality"),
        w.alias("_w"), h.alias("_h"),
        sr.alias("_sr"), ch.alias("_ch"), adur.alias("_adur"),
    )
    stage_a = stage_a.select(
        F.explode(F.array(F.struct(*stage_a.columns))).alias("s")
    ).select("s.*")
    brand, _, vdur = parse_mp4_header(F.col("payload"))
    parsed = stage_a.select(
        "doc_id", "_len", "modality", "_w", "_h", "_sr", "_ch", "_adur",
        brand.alias("_brand"), vdur.alias("_vdur"),
    )
    parsed = parsed.select(
        F.explode(F.array(F.struct(*parsed.columns))).alias("s")
    ).select("s.*")
    modality = F.col("modality")
    w, h = F.col("_w"), F.col("_h")
    sr, ch, adur = F.col("_sr"), F.col("_ch"), F.col("_adur")
    brand, vdur = F.col("_brand"), F.col("_vdur")
    # NULL-field checks come FIRST in every modality's chain: a
    # truncated or size-lying header leaves the parsed fields NULL, and
    # a NULL inside a range predicate makes every when() branch
    # not-true — without the explicit check the row would fall through
    # to 'ok', a SILENT ADMIT of a malformed blob (r9 verdict item 4).
    image_reason = (
        F.when(w.isNull() | h.isNull(), F.lit("malformed_header"))
        .when(
            (w < MM_RES_MIN) | (w > MM_RES_MAX)
            | (h < MM_RES_MIN) | (h > MM_RES_MAX),
            F.lit("dims"),
        )
        .when(
            (F.lit(MM_ASPECT) * w < h) | (F.lit(MM_ASPECT) * h < w),
            F.lit("aspect"),
        )
        .otherwise(F.lit("ok"))
    )
    audio_reason = (
        F.when(
            sr.isNull() | ch.isNull() | adur.isNull(),
            F.lit("malformed_header"),
        )
        .when((sr < MM_SR_MIN) | (sr > MM_SR_MAX), F.lit("sample_rate"))
        .when(ch > MM_MAX_CHANNELS, F.lit("channels"))
        .when(
            (adur < MM_DUR_MIN_MS) | (adur > MM_DUR_MAX_MS),
            F.lit("duration"),
        )
        .otherwise(F.lit("ok"))
    )
    video_reason = (
        F.when(brand.isNull() | vdur.isNull(), F.lit("malformed_header"))
        .when(~brand.isin(*MM_MP4_BRANDS_OK), F.lit("brand"))
        .when(
            (vdur < MM_VID_DUR_MIN_MS) | (vdur > MM_VID_DUR_MAX_MS),
            F.lit("duration"),
        )
        .otherwise(F.lit("ok"))
    )
    reason = (
        F.when(F.col("_len") < 4, F.lit("empty"))
        .when(modality == "image", image_reason)
        .when(modality == "audio", audio_reason)
        .when(modality == "video", video_reason)
        .otherwise(F.lit("unknown_container"))
    )
    return parsed.select(
        "doc_id",
        "modality",
        (reason == "ok").alias("admitted"),
        reason.alias("reason"),
    )


# --------------------------- EXIF strip (byte-level metadata scrub)

_APP1_HEX = "FFE1"
_EXIF_MAGIC_HEX = "457869660000"       # "Exif\0\0"
_TIFF_BE_HDR_HEX = "4D4D002A00000008"  # big-endian TIFF header
# walker stop set for the strip: the APP1 to remove, or any frame
# header (= no EXIF before image data starts)


def jpeg_exif_payload(w, h, exif_pad, has_exif) -> F.Column:
    """Spec-correct JPEG bytes with an optional APP1/EXIF segment
    (Exif magic + big-endian TIFF header + ``exif_pad`` bytes standing
    in for the IFD with GPS tags) between APP0 and SOF0 — where real
    cameras put it."""
    app1_len = F.lit(2 + 6 + 8) + exif_pad        # len field + payload
    app1 = F.concat(
        F.lit(_APP1_HEX),
        F.lpad(F.hex(app1_len), 4, "0"),
        F.lit(_EXIF_MAGIC_HEX),
        F.lit(_TIFF_BE_HDR_HEX),
        F.substring(F.lit("00" * 32), F.lit(1), exif_pad * F.lit(2)),
    )
    jpeg_hex = F.concat(
        F.lit("FFD8"),
        F.lit(_JFIF_APP0_HEX),
        F.when(has_exif, app1).otherwise(F.lit("")),
        F.lit("FFC0001108"),
        F.lpad(F.hex(h), 4, "0"),
        F.lpad(F.hex(w), 4, "0"),
        F.lit("03011100021101031101"),
    )
    return F.to_binary(jpeg_hex, F.lit("hex"))


def jpeg_strip_exif(payload: F.Column):
    """(had_exif, out_payload) — remove the APP1/EXIF segment from a
    JPEG payload by WALKING segment lengths (same bounded fold as
    jpeg_sof_pos, stop set = APP1 or any SOF) and splicing the hex
    around it; a payload with no EXIF passes through byte-identical.
    The rewrite never touches image data: stripping is a header-range
    splice, exactly what a production metadata scrub does before
    publishing a crawl. Only an APP1 whose payload starts with the
    Exif magic stops the walk: non-EXIF APP1 segments (XMP-first
    JPEGs exist in the wild) are stepped over like any other
    metadata segment, so a later EXIF APP1 is still found."""
    hx = F.hex(payload)

    def step(pos: F.Column, _i: F.Column) -> F.Column:
        marker = F.substring(hx, pos, F.lit(4))
        exif_app1 = (marker == _APP1_HEX) & (
            F.substring(hx, pos + F.lit(8), F.lit(12)) == _EXIF_MAGIC_HEX
        )
        stop = exif_app1 | marker.isin(*_SOF_MARKERS)
        seglen = F.conv(F.substring(hx, pos + F.lit(4), F.lit(4)), 16, 10).cast(
            "int"
        )
        valid = (
            (F.length(marker) == 4) & marker.startswith("FF") & (seglen >= 2)
        )
        return F.when(stop | ~valid, pos).otherwise(
            pos + F.lit(4) + seglen * F.lit(2)
        )

    pos = F.aggregate(
        F.sequence(F.lit(1), F.lit(MM_JPEG_WALK_SEGMENTS)),
        F.lit(5).cast("int"),
        step,
    )
    at_app1 = F.substring(hx, pos, F.lit(4)) == _APP1_HEX
    is_exif = at_app1 & (
        F.substring(hx, pos + F.lit(8), F.lit(12)) == _EXIF_MAGIC_HEX
    )
    seglen = F.conv(F.substring(hx, pos + F.lit(4), F.lit(4)), 16, 10).cast(
        "int"
    )
    out_hex = F.when(
        is_exif,
        F.concat(
            F.substring(hx, F.lit(1), pos - 1),
            F.substring(hx, pos + F.lit(4) + seglen * F.lit(2),
                        F.length(hx)),
        ),
    ).otherwise(hx)
    return is_exif, F.to_binary(out_hex, F.lit("hex"))


@register(
    "mm_exif_strip",
    oracle=f"""
    SELECT doc_id, had_exif,
           CAST(39 + CASE WHEN had_exif THEN 18 + pad ELSE 0 END AS BIGINT)
             AS in_bytes,
           CAST(39 AS BIGINT) AS out_bytes,
           'FFD8' || '{_JFIF_APP0_HEX}' || 'FFC0001108'
             || lpad(upper(to_hex(16 + (doc_id * 7) % 2048)), 4, '0')
             || lpad(upper(to_hex(16 + doc_id % 2048)), 4, '0')
             || '03011100021101031101' AS out_hex
    FROM (
      SELECT doc_id, (doc_id % 2 = 1) AS had_exif,
             CAST(doc_id % 19 AS BIGINT) AS pad
      FROM documents
    )
    """,
    tags=("multimodal", "M5", "curation", "privacy"),
    doc="Byte-level EXIF/metadata SCRUB — the privacy rewrite a "
    "web-crawl image pipeline runs before publishing (camera EXIF "
    "carries GPS coordinates): the APP1 segment is located by the "
    "bounded segment-length walk (never by pattern match) and spliced "
    "OUT of the payload; a payload without EXIF passes through "
    "byte-identical. Extends the container-header family from "
    "read-only gates to payload REWRITING. The oracle regenerates "
    "the expected post-strip bytes purely from the generator "
    "formulas, so hash equality proves the splice byte-exact: "
    "out_hex is compared as a string, in/out byte counts from the "
    "segment arithmetic. Map-side at any scale; the splice cost is "
    "the header size, not the image size, because image data sits "
    "after the spliced range and is carried, not re-encoded.",
)
def mm_exif_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    media = docs.select(
        "doc_id",
        jpeg_exif_payload(
            (F.lit(16) + d % 2048).cast("int"),
            (F.lit(16) + (d * 7) % 2048).cast("int"),
            (d % 19).cast("int"),
            d % 2 == 1,
        ).alias("payload"),
    )
    # barrier: the parse/splice references payload ~10 times; keep the
    # synthesis evaluated once and the stage codegen'd (see
    # mm_gate_flow's barrier rationale)
    media = media.select(
        F.explode(F.array(F.struct(*media.columns))).alias("s")
    ).select("s.*")
    had, out = jpeg_strip_exif(F.col("payload"))
    return media.select(
        "doc_id",
        had.alias("had_exif"),
        F.length("payload").cast("long").alias("in_bytes"),
        F.length(out).cast("long").alias("out_bytes"),
        F.hex(out).alias("out_hex"),
    )
