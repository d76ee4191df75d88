"""Multimodal-column queries (SURVEY.md O70; contract: "multimodal
columns"). No binary grading table exists, so payloads are derived
deterministically from ``documents.text`` (UTF-8 bytes) — which also
lets the pure-expression metadata queries carry real DuckDB oracles;
the mapInPandas decode/featurize kernels are rows-only (stub decode,
SURVEY.md §1.2)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from process_spark.operators.multimodal import (
    _media_fixture_encoder,
    attach_blob,
    decode_image_meta,
    decode_media_meta,
    decode_ppm_pixel_stats,
    decode_wav_pcm_stats,
    extract_features,
    sample_frames,
)
from process_spark.queries._util import t
from process_spark.queries.registry import register


def _blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = t(spark, sf_dir, "documents")
    mime = F.when(F.col("lang") == "zh", F.lit("image/png")).otherwise(
        F.lit("image/jpeg")
    )
    uri = F.concat(F.lit("blob://"), F.col("source"), F.lit("/"), F.col("doc_id"))
    return attach_blob(d, F.encode(F.col("text"), "UTF-8"), mime, uri)


@register(
    "mm_blob_metadata_stats",
    oracle="""
    SELECT CASE WHEN lang = 'zh' THEN 'image/png' ELSE 'image/jpeg' END AS mime,
           COUNT(*) AS n_blobs,
           CAST(SUM(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           MAX(octet_length(encode(text))) AS max_bytes
    FROM documents
    GROUP BY 1
    """,
)
def mm_blob_metadata_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O70: binary payload + typed metadata struct — per-mime storage
    stats straight off the metadata (never touching payload content —
    the point of carrying typed metadata beside an opaque blob)."""
    b = _blobs(spark, sf_dir)
    return b.groupBy(F.col("media_meta.mime").alias("mime")).agg(
        F.count(F.lit(1)).alias("n_blobs"),
        F.sum("media_meta.size").alias("total_bytes"),
        F.max("media_meta.size").alias("max_bytes"),
    )


@register(
    "mm_frame_sample",
    oracle="""
    WITH v AS (
      SELECT doc_id, n_chars % 120 AS duration_s FROM documents
    )
    SELECT doc_id,
           CAST(unnest(range(greatest(duration_s // 10, 1))) AS INT) AS frame_idx,
           unnest(range(greatest(duration_s // 10, 1))) * 10 AS frame_ts_s
    FROM v
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O70: video frame-sampling plan — one row per sampled frame
    (sequence+explode; the decode kernel would hang off each row)."""
    d = t(spark, sf_dir, "documents").select(
        "doc_id", (F.col("n_chars") % 120).alias("duration_s")
    )
    return sample_frames(d, "duration_s", every_s=10)


def _o_hexbyte(hex_expr: str, i: int) -> str:
    """DuckDB: i-th byte (0-based) of a lowercase hex digest string."""
    hv1 = f"(strpos('0123456789abcdef', substr({hex_expr}, {2 * i + 1}, 1)) - 1)"
    hv2 = f"(strpos('0123456789abcdef', substr({hex_expr}, {2 * i + 2}, 1)) - 1)"
    return f"({hv1} * 16 + {hv2})"


@register(
    "mm_decode_image_meta",
    # The stub decode derives pseudo-dimensions from md5(payload)
    # digest bytes (operators/multimodal._stub_dims), and the payload
    # is the document's UTF-8 bytes — which DuckDB's md5() hashes
    # identically, so the "decode" has an exact SQL twin.
    oracle=f"""
    WITH h AS (SELECT doc_id, md5(text) AS hx FROM documents)
    SELECT doc_id,
           CAST(64 + {_o_hexbyte('hx', 0)} * 4 AS INT) AS width,
           CAST(64 + {_o_hexbyte('hx', 1)} * 4 AS INT) AS height,
           CAST(1 + {_o_hexbyte('hx', 2)} % 4 AS INT) AS channels
    FROM h
    """,
)
def mm_decode_image_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O70/O100: Arrow-batched decode over mapInPandas (stubbed header
    read — deterministic digest-derived pseudo-dimensions, which is
    what lets the Python kernel carry an exact DuckDB oracle)."""
    return decode_image_meta(_blobs(spark, sf_dir))


@register("mm_decode_image_real", oracle=None)
def mm_decode_image_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O70/O100 — the REAL-codec decode tier
    (operators.multimodal.decode_image_meta_real): PIL inside the
    worker when the executor environment has it, per-blob try/except
    degradation to the deterministic stub otherwise — never an abort,
    and the ``decoder`` column ('pil'/'stub') makes which path ran
    visible per row. In THIS container PIL is absent, so every row
    reports 'stub' and the values equal mm_decode_image_meta's
    (asserted in tests); an environment with the codec gets real
    dimensions for decodable blobs with the identical plan shape
    (blob bytes stay worker-side, one Python crossing per Arrow
    batch). Rows-only: real codec output has no SQL twin — the stub
    tier above is the oracle anchor; the fake-PIL branch test in
    tests/test_edge_cases.py pins the codec path's plumbing."""
    from process_spark.operators.multimodal import decode_image_meta_real

    return decode_image_meta_real(_blobs(spark, sf_dir))


def _fixture_blobs(spark: SparkSession, sf_dir: str, blob) -> DataFrame:
    """``(doc_id, blob)`` for every document: ``blob(encode, did, nc)``
    builds the bytes from the media fixture encoder, ``did = |doc_id|``
    and ``nc = |n_chars|`` (0 when NULL), one Arrow batch at a time
    across ``defaultParallelism`` doc_id-hashed partitions."""
    encode = _media_fixture_encoder()

    def build(batches):
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            blobs = [
                blob(
                    encode,
                    abs(int(doc_id)),
                    0 if pd.isna(n_chars) else abs(int(n_chars)),
                )
                for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"])
            ]
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].to_numpy(), "blob": blobs}
            )

    d = t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    n_part = spark.sparkContext.defaultParallelism
    return d.repartition(n_part, F.col("doc_id")).mapInPandas(
        build, schema="doc_id bigint, blob binary"
    )


#: Container format of the header fixtures, cycled by doc_id.
_HEADER_FORMATS = ("bmp", "ppm", "gif", "wav", "png")


def _header_blob(encode, did: int, nc: int) -> bytes:
    """A real media container whose geometry is a closed form of
    (did, nc); every 13th payload is truncated to 6 bytes."""
    fmt = _HEADER_FORMATS[did % 5]
    if fmt == "wav":
        b = encode(
            "wav",
            ch=1 + did % 2,
            rate=8000 + (did % 3) * 4000,
            n_samples=1 + nc % 1000,
        )
    else:
        b = encode(
            fmt,
            w=1 + nc % 640,
            h=1 + did % 480,
            ch=4 if fmt == "png" else 3,
        )
    return b[:6] if did % 13 == 0 else b


def _ppm_blob(encode, did: int, nc: int) -> bytes:
    """A P6 PPM with a deterministic RGB raster."""
    return encode(
        "ppm", w=1 + nc % 12, h=1 + did % 10, body_seed=(did * 11 + 3) % 256
    )


def _wav_blob(encode, did: int, nc: int) -> bytes:
    """A 16-bit mono PCM WAV with a deterministic sample body."""
    return encode(
        "wav",
        ch=1,
        rate=16000,
        n_samples=1 + nc % 400,
        body_seed=(did * 13 + 5) % 2003,
    )


@register(
    "mm_decode_real_headers",
    # The fixture kernel builds REAL container bytes (valid BMP / P6
    # PPM / GIF / PNG headers, spec-correct RIFF/WAVE chunks) whose
    # geometry is a closed form of (doc_id, n_chars); the decode kernel
    # then parses those bytes back with the stdlib header parser. The
    # oracle recomputes the closed form — so a Spark/oracle match
    # proves the ENCODE→PARSE round trip recovered every field, and
    # the corrupt rows (payload truncated to 6 bytes) came back NULL.
    oracle="""
    WITH d AS (
      SELECT doc_id,
             ABS(doc_id) AS did,
             COALESCE(ABS(n_chars), 0) AS nc,
             ABS(doc_id) % 5 AS fmt,
             (ABS(doc_id) % 13 = 0) AS corrupt
      FROM documents
    )
    SELECT doc_id,
           CASE WHEN corrupt THEN NULL
                WHEN fmt = 0 THEN 'bmp' WHEN fmt = 1 THEN 'ppm'
                WHEN fmt = 2 THEN 'gif' WHEN fmt = 3 THEN 'wav'
                ELSE 'png' END AS format,
           CASE WHEN corrupt OR fmt = 3 THEN NULL
                ELSE CAST(1 + nc % 640 AS INT) END AS width,
           CASE WHEN corrupt OR fmt = 3 THEN NULL
                ELSE CAST(1 + did % 480 AS INT) END AS height,
           CASE WHEN corrupt THEN NULL
                WHEN fmt = 3 THEN CAST(1 + did % 2 AS INT)
                WHEN fmt = 4 THEN CAST(4 AS INT)
                ELSE CAST(3 AS INT) END AS channels,
           CASE WHEN corrupt OR fmt <> 3 THEN NULL
                ELSE CAST(8000 + (did % 3) * 4000 AS INT) END AS sample_rate,
           CASE WHEN corrupt OR fmt <> 3 THEN NULL
                ELSE CAST((1 + nc % 1000) * 1000
                          // (8000 + (did % 3) * 4000) AS BIGINT)
                END AS duration_ms
    FROM d
    """,
)
def mm_decode_real_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O70 (oracle-backed, REAL decode): every document becomes a real
    media container — format cycled by doc_id over BMP/PPM/GIF/WAV/PNG,
    dimensions/audio parameters derived from (doc_id, n_chars), every
    13th payload truncated to 6 bytes — then the stdlib header parser
    (operators.multimodal.decode_media_meta) reads the geometry back
    off the BYTES. No digest stand-ins: width comes from the int32 at
    BMP offset 18, duration from the RIFF data-chunk size, and corrupt
    headers degrade to NULL rows instead of failing the sweep."""
    return decode_media_meta(_fixture_blobs(spark, sf_dir, _header_blob))


def _o_resize2_terms() -> str:
    """12 closed-form terms for the 2×2 nearest-neighbor resize sum:
    pixels at y ∈ {0, h//2}, x ∈ {0, w//2} (floor-index sampling —
    duplicate indices when w or h is 1 legitimately count twice, same
    as numpy fancy indexing), all 3 channels."""
    return " + ".join(
        f"((3 * ({xx}) + 5 * ({yy}) + 7 * {c} + seed) % 256)"
        for yy in ("0", "h // 2")
        for xx in ("0", "w // 2")
        for c in (0, 1, 2)
    )


@register(
    "mm_decode_ppm_pixels",
    # The fixture body is REAL raster bytes — pixel (x, y, c) =
    # (3x + 5y + 7c + seed) % 256 — so the decode kernel's per-channel
    # integer sums (and the 2×2 resize sum) have an exact closed-form
    # twin: any stride/order/offset bug in encode or decode shifts a
    # sum and reds the row.
    oracle=f"""
    WITH d AS (
      SELECT doc_id, ABS(doc_id) AS did, COALESCE(ABS(n_chars), 0) AS nc
      FROM documents
    ),
    p AS (
      SELECT doc_id, 1 + nc % 12 AS w, 1 + did % 10 AS h,
             (did * 11 + 3) % 256 AS seed
      FROM d
    ),
    px AS (SELECT doc_id, w, h, seed, unnest(range(w)) AS x FROM p),
    pxy AS (SELECT doc_id, w, h, seed, x, unnest(range(h)) AS y FROM px)
    SELECT pxy.doc_id, CAST(pxy.w AS INT) AS width, CAST(pxy.h AS INT) AS height,
           CAST(SUM((3 * x + 5 * y + 0 + seed) % 256) AS BIGINT) AS sum_r,
           CAST(SUM((3 * x + 5 * y + 7 + seed) % 256) AS BIGINT) AS sum_g,
           CAST(SUM((3 * x + 5 * y + 14 + seed) % 256) AS BIGINT) AS sum_b,
           CAST(MIN({_o_resize2_terms()}) AS BIGINT) AS resize2_sum
    FROM pxy
    GROUP BY pxy.doc_id, pxy.w, pxy.h, seed
    """,
)
def mm_decode_ppm_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O70 (oracle-backed, REAL pixel decode): every document becomes a
    P6 PPM whose raster is actual deterministic RGB bytes; the decode
    kernel reads the pixels back with numpy (no codec — P6 bodies ARE
    raw RGB) and reduces them to exact per-channel integer sums plus a
    2×2 nearest-neighbor resize sum. This is the decode→feature-extract
    →resize chain of a multimodal preprocessing stage, hash-checked at
    the byte level."""
    return decode_ppm_pixel_stats(_fixture_blobs(spark, sf_dir, _ppm_blob))


@register(
    "mm_decode_wav_pcm",
    # Real int16-LE PCM body: sample i = ((7i + seed) % 2003) - 1001.
    # sum|v| / sum v² / peak are exact integers — the oracle-able core
    # of an RMS-loudness feature; a byte-order or offset bug in the
    # chunk walk breaks every sum.
    oracle="""
    WITH d AS (
      SELECT doc_id, ABS(doc_id) AS did, COALESCE(ABS(n_chars), 0) AS nc
      FROM documents
    ),
    p AS (
      SELECT doc_id, 1 + nc % 400 AS n, (did * 13 + 5) % 2003 AS seed
      FROM d
    ),
    s AS (
      SELECT doc_id, n, ((7 * unnest(range(n)) + seed) % 2003) - 1001 AS v
      FROM p
    )
    SELECT doc_id, CAST(MIN(n) AS BIGINT) AS n_samples,
           CAST(SUM(ABS(v)) AS BIGINT) AS sum_abs,
           CAST(SUM(v * v) AS BIGINT) AS sum_sq,
           CAST(MAX(ABS(v)) AS INT) AS peak
    FROM s GROUP BY doc_id
    """,
)
def mm_decode_wav_pcm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O70 (oracle-backed, REAL sample decode): every document becomes
    a 16-bit PCM WAV with an actual deterministic sample body; the
    decode kernel walks the RIFF chunks, reads the int16 samples with
    numpy, and reduces to exact integer loudness stats (sum|v|, sum v²,
    peak) — the audio-feature-extraction stage, hash-checked at the
    byte level."""
    return decode_wav_pcm_stats(_fixture_blobs(spark, sf_dir, _wav_blob))


@register(
    "mm_extract_features",
    # Stub features are sha256(payload) bytes / 255 rounded to float32;
    # DuckDB reproduces each element (CAST(b/255.0 AS REAL)) and the
    # norm mirrors the engine's left-to-right double fold exactly.
    oracle=f"""
    WITH h AS (
      SELECT doc_id,
             CASE WHEN lang = 'zh' THEN 'image/png' ELSE 'image/jpeg' END
               AS mime,
             sha256(text) AS hx
      FROM documents
    )
    SELECT doc_id, mime,
           sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), [{', '.join(
               f"power(CAST(CAST({_o_hexbyte('hx', i)} / 255.0 AS REAL)"
               f" AS DOUBLE), 2)"
               for i in range(16)
           )}]), (a, x) -> a + x)) AS feature_norm
    FROM h
    """,
)
def mm_extract_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O70: blob → dense feature vector via mapInPandas (stub model),
    joined back to the metadata for a per-mime feature norm — the
    multimodal-embedding pipeline shape. Elements are cast to double
    before squaring so both engines fold identical float64 values."""
    b = _blobs(spark, sf_dir)
    feats = extract_features(b)
    joined = feats.join(
        b.select("doc_id", F.col("media_meta.mime").alias("mime")), "doc_id"
    )
    l2 = F.sqrt(
        F.aggregate(
            F.transform("feature", lambda x: F.pow(x.cast("double"), 2)),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )
    return joined.select("doc_id", "mime", l2.alias("feature_norm"))


@register(
    "mm_uri_lazy_fetch",
    # Closed-form oracle over the sampled manifest: geometry is the
    # same (doc_id, n_chars) form as mm_decode_real_headers; rows whose
    # file was truncated (%13) or never materialized (%17 — a dead
    # manifest link) must come back as NULL metadata, not errors.
    oracle="""
    WITH d AS (
      SELECT doc_id,
             ABS(doc_id) AS did,
             COALESCE(ABS(n_chars), 0) AS nc,
             ABS(doc_id) % 5 AS fmt,
             (ABS(doc_id) % 13 = 0 OR ABS(doc_id) % 17 = 0) AS dead
      FROM documents WHERE doc_id % 10 = 0
    )
    SELECT doc_id,
           CASE WHEN dead THEN NULL
                WHEN fmt = 0 THEN 'bmp' WHEN fmt = 1 THEN 'ppm'
                WHEN fmt = 2 THEN 'gif' WHEN fmt = 3 THEN 'wav'
                ELSE 'png' END AS format,
           CASE WHEN dead OR fmt = 3 THEN NULL
                ELSE CAST(1 + nc % 640 AS INT) END AS width,
           CASE WHEN dead OR fmt = 3 THEN NULL
                ELSE CAST(1 + did % 480 AS INT) END AS height,
           CASE WHEN dead THEN NULL
                WHEN fmt = 3 THEN CAST(1 + did % 2 AS INT)
                WHEN fmt = 4 THEN CAST(4 AS INT)
                ELSE CAST(3 AS INT) END AS channels,
           CASE WHEN dead OR fmt <> 3 THEN NULL
                ELSE CAST(8000 + (did % 3) * 4000 AS INT) END AS sample_rate,
           CASE WHEN dead OR fmt <> 3 THEN NULL
                ELSE CAST((1 + nc % 1000) * 1000
                          // (8000 + (did % 3) * 4000) AS BIGINT)
                END AS duration_ms
    FROM d
    """,
)
def mm_uri_lazy_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O70 (oracle-backed): the LAZY-FETCH-BY-URI lifecycle of SURVEY
    §1.2's multimodal convention. A distributed writer materializes a
    store of real media files (same closed-form BMP/PPM/GIF/WAV/PNG
    fixtures as mm_decode_real_headers; every 13th truncated, every
    17th listed in the manifest but never written — a dead link) and
    emits only the (doc_id, uri) MANIFEST, which is what gets
    checkpointed and planned. fetch_blobs_by_uri then pulls the bytes
    worker-side and pipelines them straight into the stdlib header
    decode — payloads never shuffle, dead/corrupt links degrade to
    NULL rows. On a cluster the store is an object store and the open()
    becomes the deployment's fetcher; the manifest-driven shape is
    identical."""
    import os as _os

    from process_spark.operators.multimodal import fetch_blobs_by_uri
    from process_spark.queries.io_udf import _SCRATCH

    encode = _media_fixture_encoder()
    store = _os.path.join(_SCRATCH, "media_store")

    def write_files(batches):
        import os  # noqa: PLC0415
        import pandas as pd  # noqa: PLC0415

        os.makedirs(store, exist_ok=True)
        for pdf in batches:
            uris = []
            for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                did = abs(int(doc_id))
                nc = 0 if pd.isna(n_chars) else abs(int(n_chars))
                path = os.path.join(store, f"{did}.{_HEADER_FORMATS[did % 5]}")
                uris.append("file://" + path)
                if did % 17 == 0:
                    continue  # manifest lists it; the store never has it
                with open(path, "wb") as f:
                    f.write(_header_blob(encode, did, nc))
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].to_numpy(), "uri": uris}
            )

    d = t(spark, sf_dir, "documents").filter(F.col("doc_id") % 10 == 0).select(
        "doc_id", "n_chars"
    )
    n_part = spark.sparkContext.defaultParallelism
    # Eager checkpoint = the store-build job runs once, here; what the
    # returned plan holds is ONLY the tiny manifest — fetch + decode
    # stay lazy against it, which is the point of the convention.
    manifest = (
        d.repartition(n_part, F.col("doc_id"))
        .mapInPandas(write_files, schema="doc_id bigint, uri string")
        .localCheckpoint(eager=True)
    )
    return decode_media_meta(fetch_blobs_by_uri(manifest))
