"""Multimodal + list-column queries (LLM-pipeline extensions + the
reference's list-compute surface).

``mm_binary_features`` treats ``documents.text`` encoded to UTF-8 bytes
as the opaque binary payload (the container has no image/audio fixtures;
the binary-column plumbing is what's under test).  ``mm_decode_stub``
exercises the Arrow-batched ``mapInPandas`` decode path with the
deterministic fake decoder (pipeline/multimodal.py); originally
rows-only, it gained a full value oracle (the fake decode is
hash-deterministic, so DuckDB replays it) and is additionally pinned
by tests/test_multimodal.py.

``list_take_ops`` is the take-on-lists analog
(/root/reference/fletcher/_algorithms.py:342-387 ``take_on_pyarrow_list``
— a CSR gather kernel): element access, slicing, index-array gather,
and fold reductions over ``array<float>`` — all Catalyst expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fletcher_spark.io import load_tables, spread
from fletcher_spark.pipeline import multimodal as MM
from fletcher_spark.queries.registry import query


@query(
    "mm_binary_features",
    oracle="""
SELECT
  doc_id,
  strlen(text)::BIGINT                 AS n_bytes,
  md5(text)                            AS digest,
  CAST(ceil(strlen(text) / 64.0) AS BIGINT) AS n_chunks
FROM documents
""",
)
def mm_binary_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JVM-side binary metadata (length/digest/chunk count) over an
    opaque payload column — the decode-free tier of the multimodal
    stack; md5(utf8 bytes) is engine-identical so the oracle checks
    values, not just shape."""
    d = load_tables(spark, sf_dir)["documents"]
    payload = F.encode("text", "UTF-8")
    feats = MM.binary_features(payload)
    return d.select(
        "doc_id",
        feats["n_bytes"].alias("n_bytes"),
        feats["digest"].alias("digest"),
        feats["n_chunks"].alias("n_chunks"),
    )


@query(
    "mm_decode_stub",
    oracle="""
WITH ch AS (
  SELECT doc_id, text, unnest(range(1, strlen(text)::BIGINT + 1)) AS i
  FROM documents
),
agg AS (
  SELECT doc_id,
    count(*) FILTER (WHERE ascii(substr(text, i::INT, 1)) % 16 = 0)  AS c0,
    count(*) FILTER (WHERE ascii(substr(text, i::INT, 1)) % 16 = 15) AS c15
  FROM ch GROUP BY doc_id
)
SELECT d.doc_id,
  CASE WHEN d.text LIKE 'GIF87a%' OR d.text LIKE 'GIF89a%' THEN NULL
       ELSE 64 + ('0x' || substr(md5(d.text), 1, 2))::INT % 192 END AS width,
  CASE WHEN d.text LIKE 'GIF87a%' OR d.text LIKE 'GIF89a%' THEN NULL
       ELSE 64 + ('0x' || substr(md5(d.text), 3, 2))::INT % 192 END AS height,
  strlen(d.text)::BIGINT AS n_bytes,
  CASE WHEN d.text LIKE 'GIF87a%' OR d.text LIKE 'GIF89a%' THEN NULL
       ELSE round(coalesce(a.c0, 0) / greatest(strlen(d.text), 1), 6) END AS feat0,
  CASE WHEN d.text LIKE 'GIF87a%' OR d.text LIKE 'GIF89a%' THEN NULL
       ELSE round(coalesce(a.c15, 0) / greatest(strlen(d.text), 1), 6) END AS feat15
FROM documents d
LEFT JOIN agg a USING (doc_id)
""",
)
def mm_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched decode path: binary payload → (width, height,
    n_bytes, 16-dim feature vector) via ``mapInPandas`` with the
    deterministic fake decoder (STUB: a real PIL/ffmpeg decoder drops
    into the same batch loop; pipeline/multimodal.py:decode_images).
    Determinism/schema/partitioning pinned in tests/test_multimodal.py.

    VALUE-CHECKED cross-engine: the stub decoder is deliberately
    SQL-expressible — dims are md5-derived (first two digest bytes),
    features a 16-bucket byte histogram — and the corpus is pure ASCII
    (byte == ascii(char) for every row, verified at build time), so the
    DuckDB oracle replays the exact decode arithmetic character-wise.
    Since r6 the decode path dispatches real codecs by payload
    signature, so the oracle mirrors the dispatch exactly: an ASCII
    text starting with the GIF magic ('GIF87a'/'GIF89a') routes to the
    real GIF decoder, which deterministically rejects it (pure-ASCII
    bytes cannot carry a color-table flag — bit 7 of every byte is 0),
    yielding a NULL-stats row with n_bytes kept; the oracle's CASE
    replays that.  The PNG magic starts with 0x89, unreachable from
    ASCII text, so no PNG arm is needed.  The real-codec tiers get
    their own value checks (mm_decode_png_roundtrip,
    mm_audio_features_roundtrip)."""
    d = load_tables(spark, sf_dir)["documents"]
    payloads = d.select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    out = MM.decode_images(payloads, "doc_id", "payload")
    return out.select(
        "doc_id",
        "width",
        "height",
        "n_bytes",
        F.round(F.element_at("feat", 1), 6).alias("feat0"),
        F.round(F.element_at("feat", 16), 6).alias("feat15"),
    )


@query(
    "mm_resize_stub",
    oracle="""
SELECT doc_id,
       CASE WHEN text IS NULL OR text LIKE 'GIF87a%' OR text LIKE 'GIF89a%'
            THEN NULL ELSE 64 END AS width,
       CASE WHEN text IS NULL OR text LIKE 'GIF87a%' OR text LIKE 'GIF89a%'
            THEN NULL ELSE 64 END AS height,
       CASE WHEN text IS NULL OR text LIKE 'GIF87a%' OR text LIKE 'GIF89a%'
            THEN NULL ELSE round(least(
         64.0 / (64 + ('0x' || substr(md5(text), 1, 2))::INT % 192),
         64.0 / (64 + ('0x' || substr(md5(text), 3, 2))::INT % 192)
       ), 6) END AS scale
FROM documents
""",
)
def mm_resize_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize step of the image pipeline (pipeline/multimodal.py:
    resize_images — a real PIL resize drops into the same batch loop):
    binary payload → fit-within-64×64 scale factor via ``mapInPandas``.
    Value-checked like mm_decode_stub: source dims are md5-derived so
    the oracle replays the scale arithmetic exactly, including the r6
    dispatch arm (ASCII GIF-magic text → real-decoder reject → NULL
    row; see mm_decode_stub).  (No 6-decimal rounding ties exist: 64/w
    with w<512 can't terminate in an exact half at the 7th digit, so
    Python round == SQL round here.)"""
    d = load_tables(spark, sf_dir)["documents"]
    payloads = d.select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    out = MM.resize_images(payloads, 64, 64, "doc_id", "payload")
    return out.select("doc_id", "width", "height", "scale")


_PNG_W = 32

_PNG_BUCKET_ORACLE = ",\n".join(
    f"    count(*) FILTER (WHERE ascii(substr(text, i::INT, 1)) // 16 = {b}) AS a{b}"
    for b in range(16)
)

_PNG_C_ORACLE = ",\n".join(
    (
        "  CASE WHEN doc.text IS NULL THEN NULL\n"
        "       ELSE CAST(coalesce(a.a0, 0) + (32 * dims.height - dims.len) AS BIGINT)\n"
        "  END AS c0"
    )
    if b == 0
    else (
        f"  CASE WHEN doc.text IS NULL THEN NULL"
        f" ELSE CAST(coalesce(a.a{b}, 0) AS BIGINT) END AS c{b}"
    )
    for b in range(16)
)


@query(
    "mm_decode_png_roundtrip",
    oracle=f"""
WITH nn AS (
  SELECT doc_id, regexp_replace(text, '[^\\x00-\\x7f]', '?', 'g') AS text,
         strlen(regexp_replace(text, '[^\\x00-\\x7f]', '?', 'g'))::BIGINT
           AS len
  FROM documents WHERE text IS NOT NULL
),
dims AS (
  SELECT doc_id, len,
         CAST(greatest(1, ceil(len / 32.0)) AS BIGINT) AS height
  FROM nn
),
ch AS (
  SELECT doc_id, text, unnest(range(1, len + 1)) AS i FROM nn
),
agg AS (
  SELECT doc_id,
{_PNG_BUCKET_ORACLE}
  FROM ch GROUP BY doc_id
)
SELECT doc.doc_id,
  CASE WHEN doc.text IS NULL THEN NULL ELSE 32 END AS width,
  CAST(dims.height AS INT) AS height,
{_PNG_C_ORACLE}
FROM documents doc
LEFT JOIN dims USING (doc_id)
LEFT JOIN agg a USING (doc_id)
""",
)
def mm_decode_png_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image codec, driver-value-checked end to end: each
    document's bytes are laid out as a genuine 8-bit grayscale PNG
    (width 32, zero-padded tail, filter type cycling ``y % 5`` so every
    unfilter path — None/Sub/Up/Average/Paeth — is on the hot path),
    then decoded by the dependency-free PNG decoder
    (pipeline/multimodal.py:_make_png_decode — stdlib zlib inflate +
    numpy unfilter) via the same ``mapInPandas`` tier as
    ``decode_images``.  Output: true decoded dimensions + the EXACT
    16-bucket intensity histogram counts (``feat[b] · w · h``).

    The oracle never sees a PNG: it recomputes the histogram
    character-wise from the source text (bucket = ascii // 16, padding
    zeros into bucket 0), so a single wrong reconstructed byte anywhere
    in the filter chain turns the row red — a cross-engine check of the
    codec itself, not just the plumbing.

    Scale: ONE fused Arrow map pass (encode+decode in the same batch —
    pipeline/multimodal.py:roundtrip_images, r13 wave 8), no shuffle;
    payload bytes never leave the Python worker."""
    # spread: zlib inflate/unfilter is per-row Python work; a single-
    # split scan serializes the map pass on one core (r13 measured the
    # whole roundtrip as ONE task; identity at scale)
    d = spread(load_tables(spark, sf_dir)["documents"])
    enc = MM._make_png_encode(_PNG_W)

    # sanitize to ASCII so bytes == characters and the character-wise
    # DuckDB oracle is exact for any corpus (no-op on the test SFs)
    t8 = F.regexp_replace(F.col("text"), "[^\\x00-\\x7F]", "?")
    out = MM.roundtrip_images(d.select("doc_id", t8.alias("text")), enc)
    npx = (F.col("width") * F.col("height")).cast("double")
    return out.select(
        "doc_id",
        "width",
        "height",
        *[
            F.round(F.element_at("feat", b + 1) * npx, 0)
            .cast("long")
            .alias(f"c{b}")
            for b in range(16)
        ],
    )


@query(
    "mm_audio_features_roundtrip",
    oracle="""
WITH nn AS (
  SELECT doc_id, regexp_replace(text, '[^\\x00-\\x7f]', '?', 'g') AS text,
         strlen(regexp_replace(text, '[^\\x00-\\x7f]', '?', 'g'))::BIGINT
           AS len
  FROM documents WHERE text IS NOT NULL
),
ch0 AS (
  SELECT doc_id, text, unnest(range(1, len + 1)) AS i FROM nn
),
ch AS (
  SELECT doc_id, i,
         (ascii(substr(text, i::INT, 1)) - 128) / 128.0 AS v
  FROM ch0
),
agg AS (
  SELECT doc_id,
         CAST(sum(a) AS BIGINT)       AS amp_sum,
         CAST(sum(a * a) AS BIGINT)   AS amp_sq_sum,
         CAST(max(abs(a)) AS BIGINT)  AS peak_amp
  FROM (SELECT doc_id, (v * 128)::BIGINT AS a, v FROM ch) GROUP BY doc_id
),
zc AS (
  SELECT doc_id,
         CAST(count(*) FILTER (
           WHERE nv IS NOT NULL AND (v >= 0) != (nv >= 0)
         ) AS BIGINT) AS zero_cross
  FROM (
    SELECT doc_id, v,
           lead(v) OVER (PARTITION BY doc_id ORDER BY i) AS nv
    FROM ch
  ) GROUP BY doc_id
)
SELECT doc.doc_id,
  CASE WHEN doc.text IS NULL THEN NULL ELSE 8000 END AS sample_rate,
  nn.len AS n_frames,
  CASE WHEN doc.text IS NULL THEN NULL ELSE 1 END AS n_channels,
  a.amp_sum, a.amp_sq_sum, a.peak_amp,
  CASE WHEN doc.text IS NULL OR nn.len = 0 THEN NULL
       ELSE coalesce(zc.zero_cross, 0) END AS zero_cross
FROM documents doc
LEFT JOIN nn USING (doc_id)
LEFT JOIN agg a USING (doc_id)
LEFT JOIN zc USING (doc_id)
""",
)
def mm_audio_features_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio codec, driver-value-checked end to end (the brief's
    audio modality): each document's bytes are wrapped as a genuine
    8-bit mono PCM RIFF/WAVE file (every byte IS a sample —
    pipeline/multimodal.py:_make_wav_encode), then PCM-decoded and
    summarized by :func:`fletcher_spark.pipeline.multimodal.audio_features`
    via the same ``mapInPandas`` tier as the image decode: RMS energy,
    peak amplitude, DC offset, zero-crossing count.

    The oracle never sees a WAV: it recomputes every statistic
    character-wise from the source text (sample = (ascii − 128)/128),
    so a mis-parsed chunk header, a wrong normalization constant, or a
    dropped sample turns the row red.  The float stats are converted
    back to their EXACT integer sample sums for the comparison —
    8-bit samples are dyadic rationals (denominator 2⁷), so numpy's
    sums are exact and ``rms²·n·128²``, ``mean·n·128``, ``peak·128``
    round to the true integers: the cross-check is hash-exact with no
    float tolerance at all (a 1-ulp summation-order tie at a rounding
    boundary burned the rounded-decimal variant).

    Scale: ONE fused Arrow map pass (encode+feature-extract in the same
    batch — pipeline/multimodal.py:roundtrip_audio, r13 wave 8), no
    shuffle; audio bytes never leave the Python worker."""
    d = load_tables(spark, sf_dir)["documents"]
    enc = MM._make_wav_encode(8000)

    # sanitize to ASCII so bytes == characters and the character-wise
    # DuckDB oracle is exact for any corpus (no-op on the test SFs)
    t8 = F.regexp_replace(F.col("text"), "[^\\x00-\\x7F]", "?")
    out = MM.roundtrip_audio(d.select("doc_id", t8.alias("text")), enc)
    n = F.col("n_frames")
    return out.select(
        "doc_id",
        "sample_rate",
        "n_frames",
        "n_channels",
        F.round(F.col("mean_amp") * n * 128, 0).cast("long").alias("amp_sum"),
        F.round(F.col("rms") * F.col("rms") * n * 16384, 0)
        .cast("long")
        .alias("amp_sq_sum"),
        F.round(F.col("peak") * 128, 0).cast("long").alias("peak_amp"),
        "zero_cross",
    )


_JPEG_C_ORACLE = ",\n".join(
    (
        "  CASE WHEN doc.text IS NULL THEN NULL\n"
        "       ELSE CAST(64 * (coalesce(a.a0, 0) + dims.height // 2 - dims.len)"
        " AS BIGINT)\n"
        "  END AS c0"
    )
    if b == 0
    else (
        f"  CASE WHEN doc.text IS NULL THEN NULL"
        f" ELSE CAST(64 * coalesce(a.a{b}, 0) AS BIGINT) END AS c{b}"
    )
    for b in range(16)
)


@query(
    "mm_decode_jpeg_roundtrip",
    oracle=f"""
WITH nn AS (
  SELECT doc_id,
         substr(regexp_replace(text, '[^\\x00-\\x7f]', '?', 'g'), 1, 8000)
           AS text,
         strlen(substr(regexp_replace(text, '[^\\x00-\\x7f]', '?', 'g'),
                       1, 8000))::BIGINT AS len
  FROM documents WHERE text IS NOT NULL
),
dims AS (
  SELECT doc_id, len,
         CAST(8 * greatest(1, ceil(len / 4.0)) AS BIGINT) AS height
  FROM nn
),
ch AS (
  SELECT doc_id, text, unnest(range(1, len + 1)) AS i FROM nn
),
agg AS (
  SELECT doc_id,
{_PNG_BUCKET_ORACLE}
  FROM ch GROUP BY doc_id
)
SELECT doc.doc_id,
  CASE WHEN doc.text IS NULL THEN NULL ELSE 32 END AS width,
  CAST(dims.height AS INT) AS height,
{_JPEG_C_ORACLE}
FROM documents doc
LEFT JOIN dims USING (doc_id)
LEFT JOIN agg a USING (doc_id)
""",
)
def mm_decode_jpeg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline JPEG codec, driver-value-checked end to end — the
    codec-triad completion (PNG r6, WAV r6, JPEG r7): each document's
    bytes become one CONSTANT 8×8 block each in a genuine grayscale
    baseline JFIF stream (width 32 → 4 blocks per row, zero-valued
    padding blocks, quantization all-ones), then decoded by the
    dependency-free JPEG decoder (pipeline/multimodal.py:
    _make_jpeg_decode — marker parse, table-driven Huffman entropy
    decode, dequant, batched einsum IDCT) via the same ``mapInPandas``
    tier as ``decode_images``.  Output: true decoded dimensions + the
    EXACT 16-bucket intensity histogram counts.

    JPEG is lossy in general, but a constant block carries only an
    integral DC coefficient (8·(v−128)), so q=1 quantization plus the
    rounded IDCT is BIT-exact — each decoded pixel equals its source
    byte, and each char contributes exactly 64 pixels to bucket
    ``ascii // 16`` (padding blocks → 64 zeros each into bucket 0).
    The oracle never sees a JPEG: it recomputes the histogram
    character-wise from the source text, so one wrong Huffman code,
    zigzag slot, dequant factor, or IDCT basis element anywhere turns
    the row red.  The general AC/ZRL/no-EOB paths are pinned by the
    hand-derived MCU test (tests/test_multimodal.py).

    Scale: ONE fused Arrow map pass (encode+decode in the same batch —
    pipeline/multimodal.py:roundtrip_images, r13 wave 8).  Entropy
    coding is CPU-bound Python (unlike PNG's C-speed zlib), so a
    round-robin ``repartition`` of the narrow (id, text) projection
    decouples map parallelism from parquet scan splits — the standard
    move for a compute-heavy UDF stage whose input is a few dense
    splits; the heavy payload bytes are created inside the Python
    worker and never shuffle or cross back to the JVM."""
    d = load_tables(spark, sf_dir)["documents"]
    enc = MM._make_jpeg_encode(_PNG_W)

    # sanitize to ASCII and cap at 8000 chars BEFORE encoding: (a) bytes
    # == characters afterwards, so the character-wise DuckDB oracle is
    # exact for any corpus, not just ASCII ones; (b) the height stays
    # under SOF0's 2-byte field (8000 bytes -> 2000 block rows -> 16000
    # pixels) for arbitrarily long documents.  No-op at the test SFs
    # (ASCII, max 577 chars).
    t8 = F.substring(
        F.regexp_replace(F.col("text"), "[^\\x00-\\x7F]", "?"), 1, 8000
    )
    out = MM.roundtrip_images(
        d.select("doc_id", t8.alias("text")).repartition(
            spark.sparkContext.defaultParallelism
        ),
        enc,
    )
    npx = (F.col("width") * F.col("height")).cast("double")
    return out.select(
        "doc_id",
        "width",
        "height",
        *[
            F.round(F.element_at("feat", b + 1) * npx, 0)
            .cast("long")
            .alias(f"c{b}")
            for b in range(16)
        ],
    )


@query(
    "list_take_ops",
    oracle="""
WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS ev FROM embeddings)
SELECT
  vec_id,
  CAST(len(ev) AS INT)                          AS dim,
  round(ev[1], 6)                               AS first_el,
  round(ev[64], 6)                              AS last_el,
  round(list_reduce(list_slice(ev, 1, 4), (a,b) -> a+b), 6)  AS head4_sum,
  round(list_reduce(list_transform([2,4,8,16,32], i -> ev[i]), (a,b) -> a+b), 6) AS gather_sum,
  round(sqrt(list_reduce(list_transform(ev, x -> x*x), (a,b) -> a+b)), 6) AS l2,
  CAST(len(list_filter(ev, x -> x > 0)) AS INT) AS n_pos
FROM v
""",
)
def list_take_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """take-on-lists + list compute (reference CSR gather kernel,
    fletcher/_algorithms.py:342-387): element access, slice, gather by
    index array (``transform`` over literal indices — the take), fold
    reductions, predicate counts.  All map-only codegen; the gather is
    O(|indices|) per row exactly like the reference's offset rebuild."""
    e = load_tables(spark, sf_dir)["embeddings"]
    ev = F.transform("embedding", lambda x: x.cast("double"))
    v = e.select("vec_id", ev.alias("ev"))
    idx = F.array(*[F.lit(i) for i in (2, 4, 8, 16, 32)])
    gathered = F.transform(idx, lambda i: F.element_at("ev", i))
    return v.select(
        "vec_id",
        F.size("ev").alias("dim"),
        F.round(F.element_at("ev", 1), 6).alias("first_el"),
        F.round(F.element_at("ev", 64), 6).alias("last_el"),
        F.round(
            F.aggregate(F.slice("ev", 1, 4), F.lit(0.0), lambda a, b: a + b), 6
        ).alias("head4_sum"),
        F.round(
            F.aggregate(gathered, F.lit(0.0), lambda a, b: a + b), 6
        ).alias("gather_sum"),
        F.round(
            F.sqrt(
                F.aggregate(
                    F.transform("ev", lambda x: x * x), F.lit(0.0), lambda a, b: a + b
                )
            ),
            6,
        ).alias("l2"),
        F.size(F.filter("ev", lambda x: x > 0)).alias("n_pos"),
    )


@query(
    "scalar_get_head",
    oracle="""
SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey LIMIT 3
""",
)
def scalar_get_head(spark: SparkSession, sf_dir: str) -> DataFrame:
    """scalar get / head sampling (reference ``__getitem__`` int path,
    fletcher/base.py:1081-1091): ordered limit — Spark plans it as
    TakeOrderedAndProject, the distributed analog of positional head."""
    r = load_tables(spark, sf_dir)["region"]
    return r.select("r_regionkey", "r_name").orderBy("r_regionkey").limit(3)


@query(
    "mm_frame_sample",
    oracle="""
WITH u AS (
  SELECT doc_id, text,
         unnest(range(0, CAST(ceil(strlen(text) / 256.0) AS BIGINT))) AS i
  FROM documents
)
SELECT
  doc_id,
  CAST(i AS INT)                                 AS frame_idx,
  strlen(substr(text, i * 256 + 1, 256))::BIGINT AS frame_bytes,
  md5(substr(text, i * 256 + 1, 256))            AS frame_digest
FROM u
WHERE i % 3 = 0
""",
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling (video-pipeline shape): binary payload → every
    3rd 256-byte frame as (idx, size, digest) rows via the 1→N
    expanding ``mapInPandas`` (pipeline/multimodal.py:sample_frames;
    a real ffmpeg keyframe extractor drops into the same loop).

    The corpus is pure ASCII (strlen == length for every row), so the
    byte-slice framing is exactly SQL ``substr`` and the oracle
    value-checks every frame digest cross-engine — the stub is fake,
    the plumbing and the check are not."""
    d = load_tables(spark, sf_dir)["documents"]
    payloads = d.select("doc_id", F.encode("text", "UTF-8").alias("payload"))
    return MM.sample_frames(payloads, "doc_id", "payload", 256, 3)
