"""Multimodal column support (north-star).

Media (image/audio/video) are opaque ``binary`` columns with a typed
metadata struct riding alongside. The Spark-side plumbing — schema,
partitioning, Arrow batch shape, ``mapInPandas`` signatures — is real
and tested. ``decode_image`` is a REAL decoder: PIL when importable,
otherwise a self-contained stdlib PNG decoder (zlib inflate + scanline
unfilter, 8-bit gray/RGB/RGBA) — so the decode path executes end-to-end
even in dependency-free environments, and `multimodal_real_image_decode`
oracle-checks real PNG bytes through ``binaryFile`` -> ``mapInPandas``.
Audio/video decoders would slot into the same seam; ``fake_features``
remains the deterministic extractor for the non-image blob corpus.

The testdata has no media table, so the binary corpus is derived by
UTF-8-encoding ``documents.text`` — byte-level semantics (lengths,
hashes, slicing) are identical to a real blob column — and the PNG
corpus is STAGED: one planted grayscale PNG per document whose pixel
bytes are ``unhex(md5(text))``, giving the decoder real compressed
image files with an exactly replayable oracle.
"""

import binascii
import hashlib
import os
import struct
import zlib

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import Window
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from spark_data_test_spark.operators.relational import query, t
from spark_data_test_spark.utils.spark_utils import FrameCache, checkpointed

# Decoded-pixel memo: the binaryFile listing + Arrow decode of the
# staged PNG corpus is the most expensive scan in the module, and both
# the decode report and the phash near-dup consume the identical
# frame — one decode per (application, sf_dir), persisted.
_DECODE_CACHE = FrameCache(max_entries=2)


def clear_multimodal_cache():
    """Release the decoded-frame memos (bench harness hook)."""
    _DECODE_CACHE.clear()
    _AUDIO_CACHE.clear()
    _VIDEO_CACHE.clear()
    _PHASH_PAIRS_CACHE.clear()


def prestage_media(spark, sf_dir):
    """Stage the planted PNG/WAV/Y4M corpora for ``sf_dir`` if they are
    not already current (bench harness hook; VERDICT r18 item 1).

    The decode queries stage their file corpus on first touch — a
    ONE-TIME landing job (at cluster scale the media lake already
    exists; only its decode is the steady-state cost), which used to be
    charged to whichever timed bench pass ran first against a cold
    /tmp. Calling this from the bench WARMUP moves the staging outside
    the timed region, symmetrically with how memo caches are cleared
    between passes, so the recorded lines measure the decode work
    itself. Query-side behavior is unchanged: each query still calls
    its stager, which no-ops on the fresh marker."""
    _stage_png_files(spark, sf_dir, _media_root("png", sf_dir))
    _stage_wav_files(spark, sf_dir, _media_root("wav", sf_dir))
    _stage_y4m_files(spark, sf_dir, _media_root("y4m", sf_dir))


def _media_root(kind, sf_dir):
    """Staging root of the planted ``kind`` corpus (``png``, ``wav``,
    ``y4m``, ...) for ``sf_dir``: ``/tmp/spark_graft_{kind}/`` plus a
    STABLE digest of the source path (``hash()`` is seed-randomized per
    process). The one rule the stagers, the decode queries and
    `prestage_media` all resolve through."""
    digest = hashlib.md5(sf_dir.encode()).hexdigest()[:12]
    return f"/tmp/spark_graft_{kind}/{digest}"


try:  # pragma: no cover - PIL optional; stdlib PNG path always works
    from PIL import Image
    import io

    _PIL_AVAILABLE = True
except ImportError:
    _PIL_AVAILABLE = False

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# PNG color type -> samples per pixel (palette unsupported: expanding
# it needs the PLTE chunk; none of our producers emit palettes)
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _decode_png_stdlib(content: bytes):
    """Minimal, real PNG decoder on the stdlib only: parses chunks,
    inflates IDAT, and reverses all five scanline filters (None / Sub /
    Up / Average / Paeth) for 8-bit gray / gray+alpha / RGB / RGBA,
    non-interlaced. Returns (width, height, channels, raw pixel bytes
    in row-major order) — byte-identical to PIL's ``tobytes()`` for the
    same image."""
    if content[:8] != _PNG_SIG:
        raise ValueError("not a PNG (bad signature)")
    pos, ihdr, idat = 8, None, []
    while pos + 8 <= len(content):
        (length,) = struct.unpack(">I", content[pos : pos + 4])
        ctype = content[pos + 4 : pos + 8]
        chunk = content[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + payload + crc
        if ctype == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", chunk)
        elif ctype == b"IDAT":
            idat.append(chunk)
        elif ctype == b"IEND":
            break
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    width, height, depth, color_type, _comp, _filt, interlace = ihdr
    channels = _PNG_CHANNELS.get(color_type)
    if depth != 8 or channels is None or interlace != 0:
        raise ValueError(
            f"unsupported PNG (depth={depth}, color_type={color_type}, "
            f"interlace={interlace}); supported: 8-bit gray/GA/RGB/RGBA"
        )
    raw = zlib.decompress(b"".join(idat))
    stride = width * channels
    if len(raw) != (stride + 1) * height:
        raise ValueError("PNG data length mismatch")
    out = bytearray()
    prev = bytearray(stride)
    pos = 0
    for _ in range(height):
        f = raw[pos]
        line = bytearray(raw[pos + 1 : pos + 1 + stride])
        pos += 1 + stride
        if f == 1:  # Sub
            for i in range(channels, stride):
                line[i] = (line[i] + line[i - channels]) & 0xFF
        elif f == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif f == 3:  # Average
            for i in range(stride):
                left = line[i - channels] if i >= channels else 0
                line[i] = (line[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for i in range(stride):
                a = line[i - channels] if i >= channels else 0
                b = prev[i]
                c = prev[i - channels] if i >= channels else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (line[i] + pr) & 0xFF
        elif f != 0:
            raise ValueError(f"bad PNG filter type {f}")
        out += line
        prev = line
    return width, height, channels, bytes(out)


def decode_image(content: bytes):
    """Real image decode: PIL when available (any format PIL reads),
    else the stdlib PNG decoder. Returns (width, height, channels,
    raw pixel bytes) — the two paths are byte-identical for supported
    PNGs (pinned in tests/test_multimodal_decode.py)."""
    if _PIL_AVAILABLE:  # pragma: no cover - PIL absent in this env
        img = Image.open(io.BytesIO(content))
        return img.width, img.height, len(img.getbands()), img.tobytes()
    return _decode_png_stdlib(content)


def encode_png_gray(width, height, pixels: bytes):
    """Minimal PNG encoder (8-bit grayscale, filter 0): the staging
    side of the planted-image corpus and the test fixture builder.
    Round-trips bit-exactly through `decode_image` on both the PIL and
    stdlib paths."""
    if len(pixels) != width * height:
        raise ValueError("pixel buffer does not match dimensions")

    def chunk(ctype, payload):
        return (
            struct.pack(">I", len(payload))
            + ctype
            + payload
            + struct.pack(">I", zlib.crc32(ctype + payload) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = b"".join(
        b"\x00" + pixels[y * width : (y + 1) * width] for y in range(height)
    )
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def fake_features(content: bytes):
    """Deterministic stand-in for decode: md5-derived pseudo-dimensions.

    Matches the SQL expression ``ascii(substr(md5(x), k, 1))`` so the
    whole Arrow/pandas path is oracle-checkable.
    """
    digest = hashlib.md5(content).hexdigest()
    return len(content), ord(digest[0]), ord(digest[1])


def to_binary_table(spark, sf_dir):
    """documents -> (doc_id, content binary, meta struct).

    The metadata struct (mime, n_bytes, source) is the pattern for real
    media lakes: filterable typed fields next to the opaque payload, so
    partition/predicate pruning works without touching bytes.
    """
    d = t(spark, sf_dir, "documents")
    content = F.encode(F.col("text"), "UTF-8")
    return d.select(
        "doc_id",
        content.alias("content"),
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.octet_length(F.col("text")).alias("n_bytes"),
            F.col("source").alias("source"),
        ).alias("meta"),
    )


_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("fake_width", IntegerType()),
        StructField("fake_height", IntegerType()),
    ]
)


def decode_features(binary_df):
    """Arrow-batched feature extraction over the binary column.

    ``mapInPandas``: each partition arrives as an iterator of pandas
    batches (columnar Arrow transfer, no per-row pickling); emits one
    feature row per blob. Swap ``fake_features`` for a real decoder when
    libraries exist — the plan shape (scan -> Arrow -> Python -> Arrow)
    is unchanged.
    """

    def extract(batches):
        for pdf in batches:
            feats = [fake_features(content) for content in pdf["content"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "n_bytes": [f[0] for f in feats],
                    "fake_width": [f[1] for f in feats],
                    "fake_height": [f[2] for f in feats],
                }
            )

    return binary_df.select("doc_id", "content").mapInPandas(
        extract, schema=_FEATURE_SCHEMA
    )


def frame_sample(binary_df, frame_bytes=64, stride=4):
    """"Video" frame sampling on the JVM side: slice the blob into
    fixed-size frames and keep every ``stride``-th one — posexplode of a
    computed offset sequence; no Python involved, so this scales as a
    pure narrow transform."""
    n = F.octet_length(F.col("content"))
    offsets = F.expr(
        f"filter(sequence(1, greatest(octet_length(content) - {frame_bytes - 1}, 1),"
        f" {frame_bytes}), (x, i) -> i % {stride} = 0)"
    )
    return binary_df.where(n >= frame_bytes).select(
        "doc_id",
        F.posexplode(offsets).alias("frame_no", "offset"),
        F.expr(f"substring(content, offset, {frame_bytes})").alias("frame"),
    ).select("doc_id", "frame_no", "offset", "frame")


@query(
    "multimodal_binary_features",
    """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           substr(hex(encode(text)), 1, 16) AS head_hex
    FROM documents
    """,
)
def multimodal_binary_features(spark, sf_dir):
    """JVM-side blob features: byte length + hex prefix of the payload
    (no Python, codegen-friendly)."""
    b = to_binary_table(spark, sf_dir)
    return b.select(
        "doc_id",
        F.col("meta.n_bytes").cast("long").alias("n_bytes"),
        F.substring(F.hex(F.col("content")), 1, 16).alias("head_hex"),
    )


@query(
    "multimodal_decode_stub",
    """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(ascii(substr(md5(text), 1, 1)) AS INTEGER) AS fake_width,
           CAST(ascii(substr(md5(text), 2, 1)) AS INTEGER) AS fake_height
    FROM documents
    """,
)
def multimodal_decode_stub(spark, sf_dir):
    """The full distributed decode path: binary table -> mapInPandas
    (Arrow batches) -> deterministic fake features, oracle-checked
    because Python md5 == SQL md5 over the same bytes."""
    return decode_features(to_binary_table(spark, sf_dir))


_FRAME_BYTES = 64
_FRAME_STRIDE = 4


@query(
    "multimodal_frame_sample",
    f"""
    WITH lens AS (
      SELECT doc_id, text, octet_length(encode(text)) AS n
      FROM documents WHERE octet_length(encode(text)) >= {_FRAME_BYTES}),
    counts AS (
      SELECT doc_id, text,
             ((GREATEST(n - {_FRAME_BYTES - 1}, 1) - 1) // {_FRAME_BYTES}) + 1
               AS n_offsets
      FROM lens),
    frames AS (
      SELECT doc_id, text, unnest(generate_series(0, (n_offsets - 1) // {_FRAME_STRIDE})) AS k
      FROM counts)
    SELECT doc_id, CAST(k AS INTEGER) AS frame_no,
           CAST(1 + {_FRAME_BYTES * _FRAME_STRIDE} * k AS BIGINT) AS "offset",
           md5(substr(text, CAST(1 + {_FRAME_BYTES * _FRAME_STRIDE} * k AS INTEGER), {_FRAME_BYTES}))
             AS frame_md5
    FROM frames
    """,
)
def multimodal_frame_sample(spark, sf_dir):
    """"Video" frame sampling as a driver query: each blob is sliced
    into fixed {_FRAME_BYTES}-byte frames and every {_FRAME_STRIDE}-th
    frame is kept (`frame_sample` — JVM-side posexplode of a computed
    offset sequence, no Python). Frames are emitted as md5 digests so
    the cross-engine compare works on a portable value; the oracle
    re-derives the same byte slices from the text (the corpus is ASCII,
    so byte offsets equal character offsets — asserted against
    octet_length) and must reproduce every (doc, frame_no, offset,
    digest) tuple.

    Shape at 100 TB: a narrow scan-side transform — filter + explode +
    substring — no shuffle at all before any downstream aggregation;
    exactly how frame extraction fans out of a media lake."""
    b = to_binary_table(spark, sf_dir)
    fs = frame_sample(b, frame_bytes=_FRAME_BYTES, stride=_FRAME_STRIDE)
    return fs.select(
        "doc_id",
        "frame_no",
        F.col("offset").cast("long").alias("offset"),
        F.md5("frame").alias("frame_md5"),
    )


_CHUNK_BYTES = 256


@query(
    "multimodal_chunk_dedup",
    f"""
    WITH chunks AS (
      SELECT doc_id, md5(substr(text, i, {_CHUNK_BYTES})) AS h
      FROM documents,
           unnest(generate_series(1, length(text), {_CHUNK_BYTES})) AS u(i)
      WHERE length(text) >= 1),
    per_chunk AS (
      SELECT h, COUNT(*) AS refs FROM chunks GROUP BY h)
    SELECT CAST(SUM(refs) AS BIGINT) AS total_chunks,
           CAST(COUNT(*) AS BIGINT) AS distinct_chunks,
           CAST(SUM(refs) - COUNT(*) AS BIGINT) AS dedupable_chunks,
           CAST(MAX(refs) AS BIGINT) AS hottest_chunk_refs,
           CAST(COUNT(*) AS DOUBLE) / CAST(SUM(refs) AS DOUBLE)
             AS unique_ratio
    FROM per_chunk
    """,
)
def multimodal_chunk_dedup(spark, sf_dir):
    """Content-addressable-storage dedup report over the binary corpus:
    every blob is cut into fixed chunks (_CHUNK_BYTES = 256 bytes),
    chunks are keyed by digest, and the report says how much of the
    byte volume collapses under chunk-level dedup — the
    fixed-size-chunking CAS model object stores and data lakes use for
    media (a shared intro sequence or boilerplate header dedups at
    chunk granularity even when whole-file hashes differ). The Spark
    side chunks the BINARY column with JVM substring on byte offsets;
    the oracle re-chunks the source text (ASCII corpus: byte offsets ==
    char offsets, the same equivalence multimodal_frame_sample pins),
    so a drift in offset arithmetic or encoding breaks the hash.

    Empty blobs are filtered on BOTH sides: Spark's sequence(1, 0)
    throws on the descending boundary where the oracle's
    generate_series just emits nothing (the same guard the dedup
    shingle explode carries).

    Shape at 100 TB: scan-side explode (no shuffle carries content —
    chunks reduce to 16-byte digests in the same stage), one
    map-side-combinable count per digest, one final fold to the
    driver-small summary row."""
    b = to_binary_table(spark, sf_dir).where(F.length("content") >= 1)
    chunks = b.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, length(content), {_CHUNK_BYTES}),"
                f" i -> substring(content, i, {_CHUNK_BYTES}))"
            )
        ).alias("chunk"),
    ).select(F.md5("chunk").alias("h"))
    per_chunk = chunks.groupBy("h").agg(F.count(F.lit(1)).alias("refs"))
    return per_chunk.agg(
        F.sum("refs").alias("total_chunks"),
        F.count(F.lit(1)).alias("distinct_chunks"),
        (F.sum("refs") - F.count(F.lit(1))).cast("long").alias("dedupable_chunks"),
        F.max("refs").alias("hottest_chunk_refs"),
        (
            F.count(F.lit(1)).cast("double") / F.sum("refs").cast("double")
        ).alias("unique_ratio"),
    )


_IMG_SIDE = 8  # 8x8 grayscale: 64 pixels == four chained md5 digests
# Planted near-identical image copies (production-width phash needs a
# non-trivial near-dup population): every 13th document gets a +3e7-id
# twin whose FIRST PIXEL is forced to 0xff, a one-byte perturbation that
# leaves most of the 64 aHash bits intact. 3e7 clears every natural and
# amplified-staging id range (same reasoning as dedup's 1e7/2e7 plants).
_IMG_PLANT_OFFSET = 30_000_000

# Dialect-shared CTEs: the 128-hex-char pixel truth per image (pixels
# are unhex of four chained md5 digests of the source text) and the
# planted-twin image corpus. Valid in DuckDB; the Spark side builds the
# identical frames with F.md5/F.concat.
_IMG_PH_SQL = f"""
phex AS (
  SELECT doc_id,
         md5(text) || md5(text || '#1') || md5(text || '#2')
           || md5(text || '#3') AS ph
  FROM documents),
icorpus AS (
  SELECT doc_id, ph FROM phex
  UNION ALL
  SELECT doc_id + {_IMG_PLANT_OFFSET} AS doc_id,
         'ff' || substr(ph, 3) AS ph
  FROM phex WHERE doc_id % 13 = 0)
"""


def _image_corpus(spark, sf_dir):
    """(doc_id, ph) — the planted image corpus, ph the 128-char pixel
    hex (the Spark mirror of `_IMG_PH_SQL`)."""
    ph = F.concat(
        F.md5("text"),
        F.md5(F.concat(F.col("text"), F.lit("#1"))),
        F.md5(F.concat(F.col("text"), F.lit("#2"))),
        F.md5(F.concat(F.col("text"), F.lit("#3"))),
    )
    base = t(spark, sf_dir, "documents").select("doc_id", ph.alias("ph"))
    planted = base.where(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + _IMG_PLANT_OFFSET).alias("doc_id"),
        F.concat(F.lit("ff"), F.substring("ph", 3, 126)).alias("ph"),
    )
    return base.unionByName(planted)


def _stage_png_files(spark, sf_dir, root):
    """Stage one REAL grayscale PNG per image-corpus row, executor-side
    (foreachPartition — the media-lake landing pattern `_stage_binary_files`
    uses): pixel bytes are the unhexed `_IMG_PH_SQL` truth, so the image
    content is exactly replayable from the source table. Freshness-tokened
    like the binaryFile staging: regenerated testdata rebuilds the corpus."""
    import shutil

    from spark_data_test_spark.utils.spark_utils import source_fingerprint

    src = f"{sf_dir}/documents.parquet"
    # per-part-file fingerprint (shared helper): a directory-layout
    # rewrite that swaps part contents still refreshes the staged corpus
    token = f"png2|{src}|{source_fingerprint(src)}"
    os.makedirs(root, exist_ok=True)
    marker = f"{root}/_STAGED"
    if os.path.exists(marker):
        with open(marker) as fh:
            if fh.read() == token:
                return
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root, exist_ok=True)
    docs = _image_corpus(spark, sf_dir).select(
        "doc_id", F.unhex("ph").alias("px")
    )
    side = _IMG_SIDE

    def write_partition(rows):
        for row in rows:
            png = encode_png_gray(side, side, bytes(row.px))
            tmp = f"{root}/.doc_{row.doc_id}.tmp.{os.getpid()}"
            with open(tmp, "wb") as fh:
                fh.write(png)
            os.replace(tmp, f"{root}/doc_{row.doc_id}.png")

    docs.foreachPartition(write_partition)
    with open(marker, "w") as fh:
        fh.write(token)


_DECODE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("pixel_hex", StringType()),
    ]
)


@query(
    "multimodal_real_image_decode",
    f"""
    WITH {_IMG_PH_SQL.strip()}
    SELECT doc_id,
           {_IMG_SIDE} AS width, {_IMG_SIDE} AS height, 1 AS channels,
           ph AS pixel_hex
    FROM icorpus
    """,
)
def multimodal_real_image_decode(spark, sf_dir):
    """REAL image decode, distributed end-to-end: a staged corpus of
    genuine PNG files (one 8x8 grayscale per image-corpus row — every
    document plus its planted one-pixel-perturbed twin, zlib-compressed,
    CRC-chunked) is read back through a MANIFEST-DRIVEN scan and decoded
    inside ``mapInPandas`` by `decode_image` — PIL when present, the
    stdlib PNG decoder otherwise. The decoded pixel bytes are emitted as
    hex; since the planted pixels are the unhexed `_IMG_PH_SQL` truth
    (four chained md5 digests of the text; twins overwrite byte 1 with
    0xff), the oracle replays that expression analytically — any defect
    in the encoder, the file round-trip, chunk parsing, inflation, or
    unfiltering breaks the hash on every row.

    Shape at 100 TB: the staging step owns the corpus layout, so file
    identity is METADATA — the image-corpus frame IS the manifest
    (deterministic ``doc_{id}.png`` paths), exactly how Iceberg/Delta
    manifests and WebDataset index files make object-store ingest a
    metadata read instead of a LIST call. Earlier rounds scanned with
    the ``binaryFile`` source, whose distributed listing job bills one
    task per object (the recorded 8-9 s floor at 150k objects; 5.4k
    tasks at sf0.1); the manifest path distributes the tiny id frame
    and opens files executor-side at session parallelism, no listing
    job, no shuffle. (`source_binaryfile_roundtrip` keeps the
    listing-based source covered for corpora that really do arrive
    unmanifested.)"""
    root = _media_root("png", sf_dir)
    _stage_png_files(spark, sf_dir, root)

    def extract(batches):
        for pdf in batches:
            recs = []
            for doc_id in pdf["doc_id"]:
                with open(f"{root}/doc_{int(doc_id)}.png", "rb") as fh:
                    content = fh.read()
                w, h, ch, px = decode_image(content)
                recs.append(
                    (
                        int(doc_id),
                        w,
                        h,
                        ch,
                        binascii.hexlify(px).decode(),
                    )
                )
            yield pd.DataFrame(
                recs,
                columns=["doc_id", "width", "height", "channels", "pixel_hex"],
            )

    def build():
        manifest = _image_corpus(spark, sf_dir).select("doc_id")
        # repartition (one narrow-long shuffle of the id frame) spreads
        # the file opens evenly across the session's cores; the staged
        # marker guarantees every manifest row's file exists
        manifest = manifest.repartition(
            spark.sparkContext.defaultParallelism
        )
        return manifest.mapInPandas(extract, schema=_DECODE_SCHEMA).persist()

    key = (spark.sparkContext.applicationId, sf_dir)
    return _DECODE_CACHE.get_or_create(key, build)


_HEXDIGITS = "0123456789abcdef"

_PHASH_BITS = 64  # production-width aHash: one bit per 8x8 pixel
_PHASH_BANDS = 8  # 8 bands x 8 bits
_PHASH_HAM_K = 7  # pigeonhole: ham <= 7 over 8 bands => one band equal


# Dialect-shared CTE chain ending in `ipairs` (doc_a, doc_b, hamming):
# the verified image near-dup pairs. Shared by the phash query's oracle
# and the cross-modal agreement oracle.
_PHASH_PAIRS_SQL = f"""{_IMG_PH_SQL.strip()},
    px AS (
      SELECT doc_id, j,
             16 * (instr('{_HEXDIGITS}', substr(ph, 2*j - 1, 1)) - 1)
               + (instr('{_HEXDIGITS}', substr(ph, 2*j, 1)) - 1) AS p
      FROM icorpus, unnest(generate_series(1, {_PHASH_BITS})) AS u(j)),
    tot AS (SELECT doc_id, SUM(p) AS tot FROM px GROUP BY doc_id),
    bytes AS (
      SELECT px.doc_id, (j - 1) // 8 AS k,
             CAST(SUM(CASE WHEN {_PHASH_BITS} * p >= tot
                           THEN 1 << ((j - 1) % 8) ELSE 0 END) AS BIGINT)
               AS sig
      FROM px JOIN tot ON tot.doc_id = px.doc_id
      GROUP BY 1, 2),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bytes a JOIN bytes b
        ON a.k = b.k AND a.sig = b.sig AND a.doc_id < b.doc_id),
    ham AS (
      SELECT c.doc_a, c.doc_b,
             SUM(bit_count(xor(x.sig, y.sig))) AS hamming
      FROM cand c
      JOIN bytes x ON x.doc_id = c.doc_a
      JOIN bytes y ON y.doc_id = c.doc_b AND y.k = x.k
      GROUP BY 1, 2),
    ipairs AS (
      SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming
      FROM ham WHERE hamming <= {_PHASH_HAM_K})"""


# Verified phash pair-frame memo: `multimodal_phash_neardup` (which
# only adds the output ORDER BY) and `multimodal_crossmodal_agreement`
# (which re-scores the pairs against exact text Jaccard) consume the
# IDENTICAL pair frame; before the memo the second consumer re-ran the
# whole decode + hash + band-join pipeline (~2 s of its 3.2 s line at
# sf0.1 — the cross-consumer recompute wart PLANS_r08.md:62-70 logged).
_PHASH_PAIRS_CACHE = FrameCache(max_entries=2)


def _phash_pairs(spark, sf_dir):
    """(doc_a, doc_b, hamming) — every verified image near-dup pair,
    memoized per (application, sf_dir) and persisted so each consumer
    pays the decode + hash + banding pipeline at most once per
    session."""
    key = (spark.sparkContext.applicationId, sf_dir)
    return _PHASH_PAIRS_CACHE.get_or_create(
        key, lambda: _build_phash_pairs(spark, sf_dir).persist()
    )


@query(
    "multimodal_phash_neardup",
    f"""
    WITH {_PHASH_PAIRS_SQL}
    SELECT doc_a, doc_b, hamming
    FROM ipairs
    ORDER BY doc_a, doc_b
    """,
)
def multimodal_phash_neardup(spark, sf_dir):
    """IMAGE near-duplicate detection through a PRODUCTION-WIDTH
    perceptual hash — the multimodal analog of `dedup_simhash_pairs`,
    run over the REAL decode path: the staged PNG corpus (every
    document's 8x8 grayscale plus its planted one-pixel-perturbed
    twin) is binaryFile-scanned and decoded in `mapInPandas` (the
    pipeline `multimodal_real_image_decode` shares), each image
    reduced to its 64-BIT average-hash (bit j = pixel j above the
    image mean — the classic aHash, division-free in exact integers),
    and near-dup pairs found by byte-banding: by pigeonhole,
    hamming <= 7 over 8 bands of 8 bits means at least one band
    matches exactly, so the band bucket self-join finds EVERY
    qualifying pair (candidacy is complete, not probabilistic) and
    the exact popcount verify runs only inside the buckets.

    Scale shape, mirroring the text simhash family's exact-dup
    collapse: hashes are computed once per DISTINCT image content
    (gid = pixel hex), the band self-join runs over distinct-content
    fingerprints only — k byte-identical copies of an image cost the
    join nothing extra — and doc pairs are reconstructed by a members
    expansion (intra-group pairs are hamming 0 by construction). At
    real corpus sizes the band width is the knob that bounds random
    8-bit-band collisions (production simhash dedup runs 4x16-bit
    bands at ham <= 3, Manku et al.; 8x8-bit at ham <= 7 trades
    candidate volume for a deeper radius — both are the same plan).
    The DuckDB oracle recomputes the hash ANALYTICALLY from the
    planted pixel truth (`_IMG_PH_SQL`), so a defect anywhere in the
    PNG round trip, the hash arithmetic, the banding, or the group
    expansion loses/changes pairs and breaks the match. The pair frame
    itself is the `_phash_pairs` session memo shared with
    `multimodal_crossmodal_agreement`; this query adds only the output
    ordering."""
    return _phash_pairs(spark, sf_dir).orderBy("doc_a", "doc_b")


def _build_phash_pairs(spark, sf_dir):
    dec = multimodal_real_image_decode(spark, sf_dir).select(
        "doc_id", "pixel_hex"
    )
    members = dec.select(F.col("pixel_hex").alias("gid"), "doc_id")
    # Spark-side hash uses HIGHER-ORDER array functions (transform /
    # aggregate loops) instead of an unrolled 1024-call expression:
    # Catalyst's CollapseProject would merge staged projections back
    # into one giant expression that blows the whole-stage-codegen
    # method-size limit and drops the pipeline to interpreted
    # execution (observed as janino compile failures in the x30
    # amplified run of the 16-bit predecessor). The loop form compiles
    # compactly; the arithmetic is identical and the DuckDB oracle
    # keeps the flat relational form.
    px = (
        f"transform(sequence(1, {_PHASH_BITS}), j -> "
        f"16 * (instr('{_HEXDIGITS}', substring(gid, 2*j - 1, 1)) - 1)"
        f" + (instr('{_HEXDIGITS}', substring(gid, 2*j, 1)) - 1))"
    )
    # the full 64-bit hash is PACKED INTO ONE BIGINT (bit 64 rides the
    # sign bit — XOR and popcount are two's-complement-safe), band
    # sigs are byte extractions from it, and the exact verify is a
    # single codegen-friendly bit_count(ha ^ hb) evaluated INSIDE the
    # banding join with the <= K filter BEFORE any pair dedup — the
    # simhash family's filter-before-pair-shuffle discipline. (The
    # first cut carried the hash as an 8-byte ARRAY and verified with
    # zip_with/aggregate lambdas after an array-carrying
    # dropDuplicates: ~5 s of interpreted higher-order evaluation over
    # the ~450k random byte-collision candidates at sf0.1, vs
    # milliseconds for the packed popcount.)
    # checkpointed: BOTH sides of the band self-join consume fp, and
    # without truncation each side re-runs the distinct + 64-pixel
    # hash lineage (measured 6.5 s vs 0.7 s for the join at sf0.1).
    # The explicit repartition after the distinct is load-bearing,
    # exactly as in `_audio_envelope_fp`: AQE coalesces the small
    # distinct output to ONE partition, serializing the heavy
    # interpreted 64-term aggregate projection onto one core
    # (~1-1.5 s of the 2.2 s sf0.1 line; a 100x corpus would turn the
    # single core into the whole job). The rows are one hex string
    # each, so the extra round-robin exchange is noise.
    fp = checkpointed(
        members.select("gid")
        .distinct()
        .repartition(spark.sparkContext.defaultParallelism)
        .selectExpr("gid", f"{px} AS p")
        .selectExpr("gid", "p", "aggregate(p, 0, (a, x) -> a + x) AS tot")
        .selectExpr(
            "gid",
            f"aggregate(sequence(1, {_PHASH_BITS}), cast(0 AS bigint),"
            f" (a, j) -> a + (CASE WHEN {_PHASH_BITS} * element_at(p, j)"
            " >= tot THEN shiftleft(cast(1 AS bigint), j - 1)"
            " ELSE cast(0 AS bigint) END)) AS h",
        )
    )
    bands = fp.selectExpr(
        "gid", "h", f"explode(sequence(0, {_PHASH_BANDS - 1})) AS band"
    ).selectExpr("gid", "h", "band", "shiftright(h, 8 * band) & 255 AS sig")
    a, b = bands.alias("a"), bands.alias("b")
    cross = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.gid") < F.col("b.gid")),
        )
        .select(
            F.col("a.gid").alias("gid_a"),
            F.col("b.gid").alias("gid_b"),
            F.expr("cast(bit_count(a.h ^ b.h) AS bigint)").alias("hamming"),
        )
        .where(F.col("hamming") <= _PHASH_HAM_K)
        .groupBy("gid_a", "gid_b")
        .agg(F.min("hamming").alias("hamming"))
    )
    ma = members.select(F.col("gid").alias("gid_a"), F.col("doc_id").alias("_da"))
    mb = members.select(F.col("gid").alias("gid_b"), F.col("doc_id").alias("_db"))
    cross_docs = (
        cross.join(ma, "gid_a")
        .join(mb, "gid_b")
        .select(
            F.least("_da", "_db").alias("doc_a"),
            F.greatest("_da", "_db").alias("doc_b"),
            "hamming",
        )
    )
    intra_docs = (
        ma.join(mb, F.col("gid_a") == F.col("gid_b"))
        .where(F.col("_da") < F.col("_db"))
        .select(
            F.col("_da").alias("doc_a"),
            F.col("_db").alias("doc_b"),
            F.lit(0).cast("long").alias("hamming"),
        )
    )
    return cross_docs.unionByName(intra_docs).select(
        "doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming")
    )


def phash_near_dup_pairs(
    images, max_hamming=_PHASH_HAM_K, id_col="doc_id", pixels_col="pixel_hex"
):
    """Library operator: IMAGE near-duplicate pairs by 64-bit
    average-hash over an arbitrary frame of decoded 8x8 grayscale
    images — the frame-level form of `multimodal_phash_neardup`
    (parity pinned in tests/test_multimodal_api.py). ``pixels_col``
    holds the 128-hex-char row-major pixel string the exported
    `decode_image` codec emits; pair it with that codec (or any
    resize path ending at 8x8) to go from raw PNG bytes to near-dup
    pairs entirely in-engine. Returns ``(doc_a, doc_b, hamming)``
    with ``doc_a < doc_b``.

    Same exact-recall architecture as the registered query: hashes
    are computed once per DISTINCT pixel content (k byte-identical
    copies cost the self-join nothing), bit j of the packed-BIGINT
    aHash is pixel j vs the image mean (division-free integers), and
    candidacy is byte-banding — by pigeonhole, hamming <= 7 over 8
    bands of 8 bits means at least one band matches exactly, so the
    band bucket self-join finds EVERY qualifying pair and the
    popcount verify (a codegen `bit_count` INSIDE the join, before
    any pair dedup) is exact, not probabilistic. ``max_hamming``
    must stay <= 7 — beyond that the pigeonhole guarantee breaks.
    Doc pairs are reconstructed by a members expansion (identical
    images pair at hamming 0); the result is an executor-local
    checkpoint so the fingerprint scaffolding releases before the
    caller executes it."""
    max_hamming = int(max_hamming)
    if not 0 <= max_hamming <= _PHASH_HAM_K:
        raise ValueError(
            f"phash_near_dup_pairs: max_hamming must be in "
            f"[0, {_PHASH_HAM_K}] — banding recall is only exact up to "
            f"{_PHASH_HAM_K} differing bits"
        )
    members = images.select(
        F.col(pixels_col).alias("gid"), F.col(id_col).alias("doc_id")
    ).persist()
    spark = images.sparkSession
    px = (
        f"transform(sequence(1, {_PHASH_BITS}), j -> "
        f"16 * (instr('{_HEXDIGITS}', substring(gid, 2*j - 1, 1)) - 1)"
        f" + (instr('{_HEXDIGITS}', substring(gid, 2*j, 1)) - 1))"
    )
    # same three load-bearing moves as the registered pipeline
    # (_build_phash_pairs): checkpoint the fingerprints (both sides of
    # the self-join consume them), repartition after the distinct (AQE
    # would coalesce the heavy interpreted hash projection onto one
    # core), loop-form higher-order hash (unrolled form blows the
    # codegen method-size limit)
    fp = checkpointed(
        members.select("gid")
        .distinct()
        .repartition(spark.sparkContext.defaultParallelism)
        .selectExpr("gid", f"{px} AS p")
        .selectExpr("gid", "p", "aggregate(p, 0, (a, x) -> a + x) AS tot")
        .selectExpr(
            "gid",
            f"aggregate(sequence(1, {_PHASH_BITS}), cast(0 AS bigint),"
            f" (a, j) -> a + (CASE WHEN {_PHASH_BITS} * element_at(p, j)"
            " >= tot THEN shiftleft(cast(1 AS bigint), j - 1)"
            " ELSE cast(0 AS bigint) END)) AS h",
        )
    )
    try:
        bands = fp.selectExpr(
            "gid", "h", f"explode(sequence(0, {_PHASH_BANDS - 1})) AS band"
        ).selectExpr(
            "gid", "h", "band", "shiftright(h, 8 * band) & 255 AS sig"
        )
        a, b = bands.alias("a"), bands.alias("b")
        cross = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.sig") == F.col("b.sig"))
                & (F.col("a.gid") < F.col("b.gid")),
            )
            .select(
                F.col("a.gid").alias("gid_a"),
                F.col("b.gid").alias("gid_b"),
                F.expr("cast(bit_count(a.h ^ b.h) AS bigint)").alias(
                    "hamming"
                ),
            )
            .where(F.col("hamming") <= max_hamming)
            .groupBy("gid_a", "gid_b")
            .agg(F.min("hamming").alias("hamming"))
        )
        ma = members.select(
            F.col("gid").alias("gid_a"), F.col("doc_id").alias("_da")
        )
        mb = members.select(
            F.col("gid").alias("gid_b"), F.col("doc_id").alias("_db")
        )
        cross_docs = (
            cross.join(ma, "gid_a")
            .join(mb, "gid_b")
            .select(
                F.least("_da", "_db").alias("doc_a"),
                F.greatest("_da", "_db").alias("doc_b"),
                "hamming",
            )
        )
        intra_docs = (
            ma.join(mb, F.col("gid_a") == F.col("gid_b"))
            .where(F.col("_da") < F.col("_db"))
            .select(
                F.col("_da").alias("doc_a"),
                F.col("_db").alias("doc_b"),
                F.lit(0).cast("long").alias("hamming"),
            )
        )
        return (
            cross_docs.unionByName(intra_docs)
            .select("doc_a", "doc_b", F.col("hamming").cast("long").alias("hamming"))
            .localCheckpoint(eager=True)
        )
    finally:
        members.unpersist()
        from spark_data_test_spark.utils.spark_utils import release_frame

        release_frame(fp)


@query(
    "multimodal_crossmodal_agreement",
    f"""
    WITH {_PHASH_PAIRS_SQL},
    norm AS (
      SELECT doc_a, doc_b, hamming,
             CASE WHEN doc_a >= {_IMG_PLANT_OFFSET}
                  THEN doc_a - {_IMG_PLANT_OFFSET} ELSE doc_a END AS ta,
             CASE WHEN doc_b >= {_IMG_PLANT_OFFSET}
                  THEN doc_b - {_IMG_PLANT_OFFSET} ELSE doc_b END AS tb
      FROM ipairs),
    need AS (SELECT DISTINCT ta AS doc_id FROM norm
             UNION SELECT DISTINCT tb AS doc_id FROM norm),
    ndocs AS (
      SELECT d.doc_id, d.text
      FROM documents d JOIN need n ON n.doc_id = d.doc_id),
    nsh AS (
      SELECT DISTINCT doc_id, substr(text, i, 8) AS sh
      FROM ndocs, unnest(generate_series(1, length(text) - 7, 4)) AS u(i)
      WHERE length(text) >= 8),
    nsz AS (SELECT doc_id, COUNT(*) AS n FROM nsh GROUP BY doc_id),
    it AS (
      SELECT m.doc_a, m.doc_b, m.hamming, m.ta, m.tb, COUNT(b.sh) AS i
      FROM norm m
      JOIN nsh a ON a.doc_id = m.ta
      LEFT JOIN nsh b ON b.doc_id = m.tb AND b.sh = a.sh
      GROUP BY 1, 2, 3, 4, 5)
    SELECT it.doc_a, it.doc_b, it.hamming,
           CAST(ROUND(1000000.0 * i / (sa.n + sb.n - i)) AS BIGINT)
             AS text_jaccard_1e6,
           CASE WHEN 1000000.0 * i / (sa.n + sb.n - i) >= 500000
                THEN 'both_modalities' ELSE 'image_only' END AS agreement
    FROM it
    JOIN nsz sa ON sa.doc_id = it.ta
    JOIN nsz sb ON sb.doc_id = it.tb
    ORDER BY doc_a, doc_b
    """,
)
def multimodal_crossmodal_agreement(spark, sf_dir):
    """CROSS-MODAL near-dup triage: every verified IMAGE near-dup pair
    (the 64-bit phash pipeline, shared with `multimodal_phash_neardup`)
    is cross-checked against the EXACT text Jaccard of the two docs'
    captions — the agreement report a multimodal curation pipeline uses
    to separate re-encoded assets (`both_modalities`: image twins whose
    text also matches) from caption-variation / coincidental-pixel
    cases (`image_only`), before deciding which modality's verdict
    drives survivorship. Planted image twins map back to their base
    document's text (twin id = base id + offset), so twin pairs score
    text Jaccard 1.0 while random byte-collision pairs that survive
    hamming <= 7 score near zero. Text verification re-shingles ONLY
    the docs appearing in image pairs (a semi-join slice, never the
    corpus), joins the pair frame to per-doc shingle arrays, and
    intersects in-task — candidate-bounded, no self-join. Pairs where
    either doc cannot shingle (text < 8 chars) drop on both engines
    identically. The pair frame is the `_phash_pairs` session memo
    shared with `multimodal_phash_neardup`, so the marginal cost here
    is the text-side semi-join + shingle intersect, not a second run
    of the image pipeline."""
    from spark_data_test_spark.operators.dedup import _shingles

    pairs = _phash_pairs(spark, sf_dir)
    off = F.lit(_IMG_PLANT_OFFSET)
    norm = pairs.select(
        "doc_a",
        "doc_b",
        "hamming",
        F.when(F.col("doc_a") >= off, F.col("doc_a") - off)
        .otherwise(F.col("doc_a"))
        .alias("ta"),
        F.when(F.col("doc_b") >= off, F.col("doc_b") - off)
        .otherwise(F.col("doc_b"))
        .alias("tb"),
    )
    need = (
        norm.select(F.col("ta").alias("doc_id"))
        .unionByName(norm.select(F.col("tb").alias("doc_id")))
        .distinct()
    )
    docs = (
        t(spark, sf_dir, "documents").select("doc_id", "text").join(need, "doc_id")
    )
    gsets = (
        _shingles(docs)
        .groupBy("doc_id")
        .agg(F.collect_set("sh").alias("shs"))
    )
    joined = norm.join(
        gsets.select(F.col("doc_id").alias("ta"), F.col("shs").alias("sa")),
        "ta",
    ).join(
        gsets.select(F.col("doc_id").alias("tb"), F.col("shs").alias("sb")),
        "tb",
    )
    i = F.size(F.array_intersect("sa", "sb")).cast("long")
    na = F.size("sa").cast("long")
    nb = F.size("sb").cast("long")
    jac = F.lit(1000000.0) * i / (na + nb - i)
    return (
        joined.select(
            "doc_a",
            "doc_b",
            "hamming",
            F.round(jac).cast("long").alias("text_jaccard_1e6"),
            F.when(jac >= 500000, "both_modalities")
            .otherwise("image_only")
            .alias("agreement"),
        )
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# AUDIO: real WAV round trip + PCM feature extraction + fingerprint dedup.
#
# The audio analog of the staged-PNG image family (reference scope:
# opaque media columns with typed metadata, `jobs/comparison_job.py`
# has no media support — this is north-star LLM-pipeline surface).
# One REAL RIFF/WAVE file per corpus row (PCM16 mono, canonical
# fmt+data chunk layout), sample bytes derived from chained md5
# digests of the source text so the DuckDB oracle can replay the
# waveform ANALYTICALLY — any defect in the WAV encoder, the file
# round trip, the chunk walker, or the sample arithmetic breaks the
# hash on every row.

_AUD_SR = 8000  # Hz; PCM16 mono
_AUD_N = 64  # samples per clip == 128 bytes == eight chained md5 digests
_AUD_FRAMES = 8  # 8 frames x 8 samples for the energy-envelope signature
# Planted near-identical audio twins: every 17th document gets a
# +4e7-id twin whose FIRST SAMPLE is zeroed — a 2-byte perturbation
# confined to frame 0, so 7 of the 8 frame energies stay intact.
# 4e7 clears the natural, amplified-staging, and image-plant (3e7)
# id ranges.
_AUD_PLANT_OFFSET = 40_000_000


def encode_wav_pcm16(sample_rate, pcm):
    """A REAL canonical RIFF/WAVE container around little-endian PCM16
    mono bytes: RIFF size header, 16-byte ``fmt `` chunk (format 1,
    1 channel, 16 bits), ``data`` chunk. Byte-exactly what `decode_wav`
    walks back out."""
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(pcm))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<I", len(fmt))
        + fmt
        + b"data"
        + struct.pack("<I", len(pcm))
        + pcm
    )


def decode_wav(content):
    """A REAL (if minimal) WAV decoder: validates the RIFF/WAVE
    signature, WALKS the chunk list (word-aligned, arbitrary order,
    unknown chunks skipped — not fixed offsets), and returns
    ``(sample_rate, channels, bits, pcm_bytes)``. Raises ``ValueError``
    on malformed containers or non-PCM encodings."""
    if len(content) < 12 or content[:4] != b"RIFF" or content[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE file")
    fmt = None
    data = None
    pos = 12
    while pos + 8 <= len(content):
        cid = content[pos : pos + 4]
        size = struct.unpack("<I", content[pos + 4 : pos + 8])[0]
        body = content[pos + 8 : pos + 8 + size]
        if len(body) < size:
            raise ValueError("truncated chunk")
        if cid == b"fmt ":
            if size < 16:
                raise ValueError("short fmt chunk")
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # RIFF chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt or data chunk")
    audio_format, channels, sample_rate, _byte_rate, _align, bits = fmt
    if audio_format != 1:
        raise ValueError(f"not PCM (format {audio_format})")
    return sample_rate, channels, bits, data


# Dialect-shared CTE: the 256-hex-char PCM16 truth per clip (sample
# bytes are unhex of eight chained md5 digests of the source text)
# and the planted-twin audio corpus. Valid in DuckDB; the Spark side
# builds the identical frames with F.md5/F.concat.
_AUD_HEX_SQL = f"""
awav AS (
  SELECT doc_id,
         md5(text || '~a0') || md5(text || '~a1') || md5(text || '~a2')
           || md5(text || '~a3') || md5(text || '~a4') || md5(text || '~a5')
           || md5(text || '~a6') || md5(text || '~a7') AS aw
  FROM documents),
acorpus AS (
  SELECT doc_id, aw FROM awav
  UNION ALL
  SELECT doc_id + {_AUD_PLANT_OFFSET} AS doc_id,
         '0000' || substr(aw, 5) AS aw
  FROM awav WHERE doc_id % 17 = 0),
asmp AS (
  SELECT doc_id, j,
         CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS s
  FROM (
    SELECT doc_id, j,
           16 * (instr('{_HEXDIGITS}', substr(aw, 4*j - 3, 1)) - 1)
             + (instr('{_HEXDIGITS}', substr(aw, 4*j - 2, 1)) - 1)
             + 256 * (16 * (instr('{_HEXDIGITS}', substr(aw, 4*j - 1, 1)) - 1)
                      + (instr('{_HEXDIGITS}', substr(aw, 4*j, 1)) - 1)) AS u
    FROM acorpus, unnest(generate_series(1, {_AUD_N})) AS t(j)))
"""


def _audio_corpus(spark, sf_dir):
    """(doc_id, aw) — the planted audio corpus, aw the 256-char PCM hex
    (the Spark mirror of `_AUD_HEX_SQL`'s ``acorpus``)."""
    aw = F.concat(
        *[F.md5(F.concat(F.col("text"), F.lit(f"~a{i}"))) for i in range(8)]
    )
    base = t(spark, sf_dir, "documents").select("doc_id", aw.alias("aw"))
    planted = base.where(F.col("doc_id") % 17 == 0).select(
        (F.col("doc_id") + _AUD_PLANT_OFFSET).alias("doc_id"),
        F.concat(F.lit("0000"), F.substring("aw", 5, 4 * _AUD_N - 4)).alias("aw"),
    )
    return base.unionByName(planted)


def _stage_wav_files(spark, sf_dir, root):
    """Stage one REAL PCM16 WAV per audio-corpus row, executor-side
    (the `_stage_png_files` landing pattern): sample bytes are the
    unhexed `_AUD_HEX_SQL` truth, so the clip content is exactly
    replayable from the source table. Freshness-tokened — regenerated
    testdata rebuilds the corpus."""
    import shutil

    from spark_data_test_spark.utils.spark_utils import source_fingerprint

    src = f"{sf_dir}/documents.parquet"
    token = f"wav1|{src}|{source_fingerprint(src)}"
    os.makedirs(root, exist_ok=True)
    marker = f"{root}/_STAGED"
    if os.path.exists(marker):
        with open(marker) as fh:
            if fh.read() == token:
                return
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root, exist_ok=True)
    docs = _audio_corpus(spark, sf_dir).select(
        "doc_id", F.unhex("aw").alias("pcm")
    )
    rate = _AUD_SR

    def write_partition(rows):
        for row in rows:
            wav = encode_wav_pcm16(rate, bytes(row.pcm))
            tmp = f"{root}/.doc_{row.doc_id}.tmp.{os.getpid()}"
            with open(tmp, "wb") as fh:
                fh.write(wav)
            os.replace(tmp, f"{root}/doc_{row.doc_id}.wav")

    docs.foreachPartition(write_partition)
    with open(marker, "w") as fh:
        fh.write(token)


_AUDIO_CACHE = FrameCache(max_entries=2)

_AUDIO_DECODE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_rate", LongType()),
        StructField("n_samples", LongType()),
        StructField("pcm_hex", StringType()),
    ]
)


def audio_decoded(spark, sf_dir):
    """(doc_id, sample_rate, n_samples, pcm_hex) — the staged WAV
    corpus read back through the manifest-driven scan (the corpus
    frame IS the manifest: deterministic ``doc_{id}.wav`` paths — no
    listing job, same reasoning as `multimodal_real_image_decode`) and
    decoded inside ``mapInPandas`` by the chunk-walking `decode_wav`.
    Memoized per (application, sf_dir): the features report and the
    fingerprint near-dup consume the identical frame."""
    root = _media_root("wav", sf_dir)
    _stage_wav_files(spark, sf_dir, root)

    def extract(batches):
        for pdf in batches:
            recs = []
            for doc_id in pdf["doc_id"]:
                with open(f"{root}/doc_{int(doc_id)}.wav", "rb") as fh:
                    content = fh.read()
                rate, channels, bits, pcm = decode_wav(content)
                if channels != 1 or bits != 16:
                    raise ValueError("corpus clips are PCM16 mono")
                recs.append(
                    (
                        int(doc_id),
                        rate,
                        len(pcm) // 2,
                        binascii.hexlify(pcm).decode(),
                    )
                )
            yield pd.DataFrame(
                recs,
                columns=["doc_id", "sample_rate", "n_samples", "pcm_hex"],
            )

    def build():
        manifest = _audio_corpus(spark, sf_dir).select("doc_id")
        manifest = manifest.repartition(spark.sparkContext.defaultParallelism)
        return manifest.mapInPandas(
            extract, schema=_AUDIO_DECODE_SCHEMA
        ).persist()

    key = (spark.sparkContext.applicationId, sf_dir)
    return _AUDIO_CACHE.get_or_create(key, build)


def _aud_signed_expr(col):
    """SQL expression: the signed-sample array (little-endian int16)
    decoded from the PCM hex column ``col`` — a transform LOOP, not an
    unrolled expression (the phash codegen lesson: CollapseProject
    would fold an unrolled 64-sample expression past janino's
    method-size limit)."""
    u = (
        f"transform(sequence(1, {_AUD_N}), j -> ("
        f"16 * (instr('{_HEXDIGITS}', substring({col}, 4*j - 3, 1)) - 1)"
        f" + (instr('{_HEXDIGITS}', substring({col}, 4*j - 2, 1)) - 1)"
        f" + 256 * (16 * (instr('{_HEXDIGITS}', substring({col}, 4*j - 1, 1)) - 1)"
        f"          + (instr('{_HEXDIGITS}', substring({col}, 4*j, 1)) - 1))"
        f") )"
    )
    return f"transform({u}, u -> CASE WHEN u >= 32768 THEN u - 65536 ELSE u END)"


@query(
    "multimodal_audio_features",
    f"""
    WITH {_AUD_HEX_SQL.strip()},
    afeat AS (
      SELECT doc_id,
             MAX(abs(s)) AS peak_abs,
             SUM(abs(s)) AS sum_abs
      FROM asmp GROUP BY doc_id),
    azc AS (
      SELECT a.doc_id,
             SUM(CASE WHEN (a.s < 0) <> (b.s < 0) THEN 1 ELSE 0 END) AS zc
      FROM asmp a JOIN asmp b ON b.doc_id = a.doc_id AND b.j = a.j + 1
      GROUP BY a.doc_id)
    SELECT f.doc_id,
           CAST({_AUD_SR} AS BIGINT) AS sample_rate,
           CAST({_AUD_N} AS BIGINT) AS n_samples,
           CAST({_AUD_N} * 1000000 // {_AUD_SR} AS BIGINT) AS duration_us,
           CAST(f.peak_abs AS BIGINT) AS peak_abs,
           CAST(f.sum_abs AS BIGINT) AS sum_abs,
           CAST(z.zc AS BIGINT) AS zero_crossings
    FROM afeat f JOIN azc z ON z.doc_id = f.doc_id
    ORDER BY f.doc_id
    """,
)
def multimodal_audio_features(spark, sf_dir):
    """REAL audio decode + feature extraction, distributed end-to-end:
    a staged corpus of genuine RIFF/WAVE files (one PCM16-mono clip per
    audio-corpus row — every document plus its planted first-sample-
    zeroed twin) is read back through a manifest-driven scan, decoded
    inside ``mapInPandas`` by the chunk-walking `decode_wav`, and the
    classic integer clip features — peak amplitude, L1 energy, zero
    crossings, duration from the decoded header fields — are computed
    JVM-side in Catalyst over the signed-sample array (higher-order
    transform/aggregate loops, no Python in the feature math). Since
    the planted samples are the unhexed `_AUD_HEX_SQL` truth (eight
    chained md5 digests of the text; twins zero sample 1), the oracle
    replays the waveform analytically — any defect in the WAV encoder,
    the container round trip, the chunk walk, little-endian int16
    reassembly, or the feature arithmetic breaks the match on every
    row.

    Shape at 100 TB: identical to the image decode — staging owns the
    layout so file identity is metadata (the corpus frame IS the
    manifest; no listing job), the decode is one Arrow-batched pass,
    features are a narrow per-row fold with no shuffle, and the
    decoded frame is memoized so the fingerprint query reuses it. A
    real lake would swap `decode_wav` for libsndfile behind the same
    ``mapInPandas`` seam; header-field propagation (sample_rate /
    n_samples come from the DECODED file, not the synth constants)
    is what a curation pipeline audits."""
    dec = audio_decoded(spark, sf_dir)
    zc = (
        f"aggregate(sequence(1, {_AUD_N - 1}), cast(0 AS bigint), (a, j) ->"
        " a + IF((element_at(s, j) < 0) != (element_at(s, j + 1) < 0),"
        " cast(1 AS bigint), cast(0 AS bigint)))"
    )
    return (
        dec.selectExpr(
            "doc_id",
            "sample_rate",
            "n_samples",
            f"{_aud_signed_expr('pcm_hex')} AS s",
        )
        .selectExpr(
            "doc_id",
            "cast(sample_rate AS bigint) AS sample_rate",
            "cast(n_samples AS bigint) AS n_samples",
            "cast(n_samples * 1000000 div sample_rate AS bigint)"
            " AS duration_us",
            "aggregate(s, cast(0 AS bigint), (a, x) ->"
            " greatest(a, cast(abs(x) AS bigint))) AS peak_abs",
            "aggregate(s, cast(0 AS bigint), (a, x) ->"
            " a + cast(abs(x) AS bigint)) AS sum_abs",
            f"{zc} AS zero_crossings",
        )
        .orderBy("doc_id")
    )


def _audio_envelope_fp(members):
    """(gid, ea) — the 8-frame L1-energy envelope per DISTINCT clip
    content, checkpointed (both sides of the band self-join consume
    it). Frame energies decode DIRECTLY from the hex in one pass —
    |int16| as least(u, 65536 - u), no intermediate sample array: a
    staged `s` column gets CollapseProject-inlined into every
    element_at(s, j) site of the nested aggregate, re-evaluating the
    full 64-sample decode per access (measured 71 s single-task at
    sf0.1 for the staged form vs sub-second for this one — the
    interpreted-higher-order cousin of the phash codegen lesson).
    The ``distinct()`` is the exact-dup collapse: k byte-identical
    clips cost the banding self-join nothing extra (pinned by
    tests/test_skew_banding.py).

    The explicit ``repartition`` after the distinct is load-bearing:
    AQE coalesces the small distinct output to ONE partition, which
    serializes this heavy interpreted projection onto one core
    (measured 4.1 s vs 0.7 s on 32 at sf0.1 — the same
    one-core-after-small-distinct trap the round-7 audio rebuild hit).
    The rows are tiny (one hex string per distinct clip), so the extra
    round-robin exchange is noise; at cluster scale it is exactly the
    spread you want before a per-row decode."""
    fsz = _AUD_N // _AUD_FRAMES
    u = (
        f"(16 * (instr('{_HEXDIGITS}', substring(gid, 4*j - 3, 1)) - 1)"
        f" + (instr('{_HEXDIGITS}', substring(gid, 4*j - 2, 1)) - 1)"
        f" + 256 * (16 * (instr('{_HEXDIGITS}', substring(gid, 4*j - 1, 1)) - 1)"
        f"          + (instr('{_HEXDIGITS}', substring(gid, 4*j, 1)) - 1)))"
    )
    env = (
        f"transform(sequence(0, {_AUD_FRAMES - 1}), k ->"
        f" aggregate(sequence(k * {fsz} + 1, k * {fsz} + {fsz}),"
        " cast(0 AS bigint), (acc, j) ->"
        f" acc + cast(least({u}, 65536 - {u}) AS bigint)))"
    )
    spark = members.sparkSession
    return checkpointed(
        members.select("gid")
        .distinct()
        .repartition(spark.sparkContext.defaultParallelism)
        .selectExpr("gid", f"{env} AS ea")
    )


@query(
    "multimodal_audio_fingerprint",
    f"""
    WITH {_AUD_HEX_SQL.strip()},
    afr AS (
      SELECT doc_id, (j - 1) // {_AUD_N // _AUD_FRAMES} AS k,
             SUM(abs(s)) AS e
      FROM asmp GROUP BY 1, 2),
    acand AS (
      SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      FROM afr a JOIN afr b
        ON a.k = b.k AND a.e = b.e AND a.doc_id < b.doc_id),
    adiff AS (
      SELECT c.da, c.db,
             SUM(CASE WHEN x.e <> y.e THEN 1 ELSE 0 END) AS frames_diff
      FROM acand c
      JOIN afr x ON x.doc_id = c.da
      JOIN afr y ON y.doc_id = c.db AND y.k = x.k
      GROUP BY 1, 2)
    SELECT da AS doc_a, db AS doc_b,
           CAST(frames_diff AS BIGINT) AS frames_diff
    FROM adiff WHERE frames_diff <= 2
    ORDER BY doc_a, doc_b
    """,
)
def multimodal_audio_fingerprint(spark, sf_dir):
    """AUDIO near-duplicate detection via an energy-envelope
    fingerprint over the REAL decode path — the audio member of the
    banded near-dup family (text MinHash/SimHash, image phash): each
    decoded clip is reduced to its 8-frame L1-energy envelope (frame
    energy = exact integer sum of |sample| over 8 samples — the
    shape Shazam-style landmark fingerprints coarsen), and near-dup
    pairs are found by banding on (frame index, exact frame energy).
    Candidacy is COMPLETE for the reported radius by pigeonhole:
    frames_diff <= 2 over 8 frames means at least 6 bands match
    exactly. The planted twins perturb only frame 0, so they differ
    in exactly one band and every twin pair is found.

    Scale shape, mirroring the phash family discipline: envelopes are
    computed once per DISTINCT clip content (gid = pcm hex) so
    byte-identical copies cost the band join nothing; the envelope
    frame is CHECKPOINTED because both sides of the self-join consume
    it (the round-7 fp lesson — without truncation each side re-runs
    the decode+envelope lineage); the frames_diff verify runs INSIDE
    the banding join with the <= 2 filter BEFORE the pair dedup. The
    verify compares two 8-int arrays per candidate; unlike the phash
    popcount it is not packable into one BIGINT (8 frames x ~18-bit
    energies = 144 bits), but band signatures here are exact ~18-bit
    integer energies, so random band collisions are birthday-bounded
    (~n^2/2^18 per band — a few hundred candidates at sf0.1, measured,
    vs the phash family's ~450k 8-bit collisions), and the interpreted
    array compare touches only that trickle. Doc pairs are
    reconstructed by members expansion; intra-group pairs (identical
    clips) are frames_diff 0 by construction."""
    dec = audio_decoded(spark, sf_dir).select("doc_id", "pcm_hex")
    members = dec.select(F.col("pcm_hex").alias("gid"), "doc_id")
    fp = _audio_envelope_fp(members)
    bands = fp.selectExpr(
        "gid", "ea", f"explode(sequence(1, {_AUD_FRAMES})) AS k"
    ).selectExpr("gid", "ea", "k", "element_at(ea, k) AS sig")
    a, b = bands.alias("a"), bands.alias("b")
    diff = (
        f"aggregate(sequence(1, {_AUD_FRAMES}), cast(0 AS bigint), (acc, i) ->"
        " acc + IF(element_at(a.ea, i) != element_at(b.ea, i),"
        " cast(1 AS bigint), cast(0 AS bigint)))"
    )
    cross = (
        a.join(
            b,
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.gid") < F.col("b.gid")),
        )
        .select(
            F.col("a.gid").alias("gid_a"),
            F.col("b.gid").alias("gid_b"),
            F.expr(diff).alias("frames_diff"),
        )
        .where(F.col("frames_diff") <= 2)
        .groupBy("gid_a", "gid_b")
        .agg(F.min("frames_diff").alias("frames_diff"))
    )
    ma = members.select(F.col("gid").alias("gid_a"), F.col("doc_id").alias("_da"))
    mb = members.select(F.col("gid").alias("gid_b"), F.col("doc_id").alias("_db"))
    cross_docs = (
        cross.join(ma, "gid_a")
        .join(mb, "gid_b")
        .select(
            F.least("_da", "_db").alias("doc_a"),
            F.greatest("_da", "_db").alias("doc_b"),
            "frames_diff",
        )
    )
    intra_docs = (
        ma.join(mb, F.col("gid_a") == F.col("gid_b"))
        .where(F.col("_da") < F.col("_db"))
        .select(
            F.col("_da").alias("doc_a"),
            F.col("_db").alias("doc_b"),
            F.lit(0).cast("long").alias("frames_diff"),
        )
    )
    return (
        cross_docs.unionByName(intra_docs)
        .select(
            "doc_a",
            "doc_b",
            F.col("frames_diff").cast("long").alias("frames_diff"),
        )
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# VIDEO: real YUV4MPEG2 (Y4M) round trip + shot-boundary detection.
#
# Completes the real-container modality trio (PNG images, RIFF/WAVE
# audio, Y4M video): one genuine Y4M stream per document — the plain-
# text-header raw-frame format mjpegtools/ffmpeg exchange — with
# mono-colorspace 4x4 luma frames derived from chained md5 digests,
# so the DuckDB oracle replays every frame analytically.

_VID_W = 4
_VID_H = 4
_VID_FRAMES = 8
_VID_CUT_THRESHOLD = 500  # |frame luma sum delta| above this = scene cut


def encode_y4m(width, height, frames):
    """A REAL YUV4MPEG2 stream: the spec's plain-text signature line
    (width/height/framerate/interlace/aspect/colorspace parameters),
    then one ``FRAME`` marker + raw plane bytes per frame. ``Cmono``
    carries the luma plane only."""
    head = f"YUV4MPEG2 W{width} H{height} F25:1 Ip A1:1 Cmono\n".encode()
    body = b"".join(b"FRAME\n" + fr for fr in frames)
    return head + body


def decode_y4m(content):
    """A REAL (if minimal) Y4M decoder: parses the signature line's
    tagged parameters (order-independent, unknown tags skipped), then
    walks ``FRAME`` sections — each marker line may carry its own
    parameters up to the newline — slicing fixed-size mono luma
    planes. Returns ``(width, height, [frame_bytes, ...])``. Raises
    ``ValueError`` on malformed streams or non-mono colorspaces."""
    nl = content.find(b"\n")
    if nl < 0 or not content.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 stream")
    width = height = None
    colorspace = "420"  # the spec's default when no C tag is present
    for tag in content[:nl].split(b" ")[1:]:
        if not tag:
            continue
        key, val = tag[:1], tag[1:].decode()
        if key == b"W":
            width = int(val)
        elif key == b"H":
            height = int(val)
        elif key == b"C":
            colorspace = val
    if width is None or height is None:
        raise ValueError("missing W/H parameters")
    if colorspace != "mono":
        raise ValueError(f"unsupported colorspace C{colorspace}")
    plane = width * height
    frames = []
    pos = nl + 1
    while pos < len(content):
        if content[pos : pos + 5] != b"FRAME":
            raise ValueError("missing FRAME marker")
        fnl = content.find(b"\n", pos)
        if fnl < 0:
            raise ValueError("unterminated FRAME marker")
        frame = content[fnl + 1 : fnl + 1 + plane]
        if len(frame) < plane:
            raise ValueError("truncated frame plane")
        frames.append(frame)
        pos = fnl + 1 + plane
    return width, height, frames


# Dialect-shared CTE: per-(doc, frame) luma-sum truth. Frame f's 16
# luma bytes are unhex(md5(text || '~v' || f)); fsum is their exact
# integer sum. Valid in DuckDB; Spark builds the identical frames
# from the DECODED stream bytes.
_VID_SUM_SQL = f"""
vhex AS (
  SELECT doc_id, f, md5(text || '~v' || CAST(f AS VARCHAR)) AS fh
  FROM documents, unnest(generate_series(1, {_VID_FRAMES})) AS t(f)),
vsum AS (
  SELECT doc_id, f,
         SUM(16 * (instr('{_HEXDIGITS}', substr(fh, 2*i - 1, 1)) - 1)
             + (instr('{_HEXDIGITS}', substr(fh, 2*i, 1)) - 1)) AS fsum
  FROM vhex, unnest(generate_series(1, {_VID_W * _VID_H})) AS u(i)
  GROUP BY 1, 2)
"""


def _video_corpus(spark, sf_dir):
    """(doc_id, vh) — per-doc concatenated frame hex (8 frames x 32
    hex chars), the Spark mirror of `_VID_SUM_SQL`'s frame truth."""
    vh = F.concat(
        *[
            F.md5(F.concat(F.col("text"), F.lit(f"~v{f}")))
            for f in range(1, _VID_FRAMES + 1)
        ]
    )
    return t(spark, sf_dir, "documents").select("doc_id", vh.alias("vh"))


def _stage_y4m_files(spark, sf_dir, root):
    """Stage one REAL Y4M stream per document, executor-side (the
    `_stage_png_files` landing pattern), freshness-tokened."""
    import shutil

    from spark_data_test_spark.utils.spark_utils import source_fingerprint

    src = f"{sf_dir}/documents.parquet"
    token = f"y4m1|{src}|{source_fingerprint(src)}"
    os.makedirs(root, exist_ok=True)
    marker = f"{root}/_STAGED"
    if os.path.exists(marker):
        with open(marker) as fh:
            if fh.read() == token:
                return
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root, exist_ok=True)
    docs = _video_corpus(spark, sf_dir).select(
        "doc_id", F.unhex("vh").alias("luma")
    )
    w, h, nf = _VID_W, _VID_H, _VID_FRAMES
    plane = w * h

    def write_partition(rows):
        for row in rows:
            luma = bytes(row.luma)
            frames = [
                luma[k * plane : (k + 1) * plane] for k in range(nf)
            ]
            y4m = encode_y4m(w, h, frames)
            tmp = f"{root}/.doc_{row.doc_id}.tmp.{os.getpid()}"
            with open(tmp, "wb") as fh:
                fh.write(y4m)
            os.replace(tmp, f"{root}/doc_{row.doc_id}.y4m")

    docs.foreachPartition(write_partition)
    with open(marker, "w") as fh:
        fh.write(token)


_VIDEO_CACHE = FrameCache(max_entries=2)

_VIDEO_DECODE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("n_frames", LongType()),
        StructField("luma_hex", StringType()),
    ]
)


def video_decoded(spark, sf_dir):
    """(doc_id, width, height, n_frames, luma_hex) — the staged Y4M
    corpus read back through the manifest-driven scan and decoded
    inside ``mapInPandas`` by the marker-walking `decode_y4m`;
    memoized per (application, sf_dir)."""
    root = _media_root("y4m", sf_dir)
    _stage_y4m_files(spark, sf_dir, root)

    def extract(batches):
        for pdf in batches:
            recs = []
            for doc_id in pdf["doc_id"]:
                with open(f"{root}/doc_{int(doc_id)}.y4m", "rb") as fh:
                    content = fh.read()
                w, h, frames = decode_y4m(content)
                recs.append(
                    (
                        int(doc_id),
                        w,
                        h,
                        len(frames),
                        binascii.hexlify(b"".join(frames)).decode(),
                    )
                )
            yield pd.DataFrame(
                recs,
                columns=["doc_id", "width", "height", "n_frames", "luma_hex"],
            )

    def build():
        manifest = _video_corpus(spark, sf_dir).select("doc_id")
        manifest = manifest.repartition(spark.sparkContext.defaultParallelism)
        return manifest.mapInPandas(
            extract, schema=_VIDEO_DECODE_SCHEMA
        ).persist()

    key = (spark.sparkContext.applicationId, sf_dir)
    return _VIDEO_CACHE.get_or_create(key, build)


@query(
    "multimodal_video_scene_cuts",
    f"""
    WITH {_VID_SUM_SQL.strip()},
    vcut AS (
      SELECT a.doc_id, a.f,
             CASE WHEN abs(a.fsum - b.fsum) > {_VID_CUT_THRESHOLD}
                  THEN 1 ELSE 0 END AS cut
      FROM vsum a JOIN vsum b ON b.doc_id = a.doc_id AND b.f = a.f - 1),
    vshot AS (
      SELECT s.doc_id, s.f, s.fsum, COALESCE(c.cut, 0) AS cut,
             SUM(COALESCE(c.cut, 0)) OVER (
               PARTITION BY s.doc_id ORDER BY s.f) AS shot
      FROM vsum s LEFT JOIN vcut c ON c.doc_id = s.doc_id AND c.f = s.f),
    vlen AS (
      SELECT doc_id, shot, COUNT(*) AS len,
             SUM(fsum) AS shot_luma, SUM(cut) AS shot_cuts
      FROM vshot GROUP BY 1, 2)
    SELECT doc_id,
           CAST({_VID_W} AS BIGINT) AS width,
           CAST({_VID_H} AS BIGINT) AS height,
           CAST({_VID_FRAMES} AS BIGINT) AS n_frames,
           CAST(SUM(shot_luma) AS BIGINT) AS total_luma,
           CAST(SUM(shot_cuts) AS BIGINT) AS n_cuts,
           CAST(COUNT(*) AS BIGINT) AS n_shots,
           CAST(MAX(len) AS BIGINT) AS longest_shot_frames
    FROM vlen GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def multimodal_video_scene_cuts(spark, sf_dir):
    """REAL video decode + shot-boundary detection, distributed
    end-to-end: a staged corpus of genuine YUV4MPEG2 streams (one
    8-frame mono-luma clip per document) is read back through a
    manifest-driven scan, decoded inside ``mapInPandas`` by the
    marker-walking `decode_y4m`, and scene cuts are detected by the
    classic luma-delta rule (a cut where the frame's exact integer
    luma sum jumps by more than the threshold) — the shot-boundary
    pass a video curation pipeline runs before keyframe sampling
    (`multimodal_frame_sample` is the byte-slice sampler; this is the
    content-aware front end that tells it where shots start).

    The sequence analytics are RELATIONAL, not array-folds: frames
    explode to (doc, f) rows with each frame's luma sum decoded from
    hex exactly once (the audio-fingerprint lesson — element_at over
    a staged array re-inlines the whole decode per access), cuts are
    a lag window over (doc, f), shots are the gaps-and-islands
    running sum, and the per-doc report is two keyed aggregations —
    every shuffle is on doc_id, the natural key. The oracle replays
    the luma truth analytically from `_VID_SUM_SQL`, so a defect in
    the Y4M writer, the signature/FRAME parsing, plane slicing, or
    the cut arithmetic breaks the match on every row. Frame counts,
    width, and height flow from the DECODED stream, not the synth
    constants."""
    dec = video_decoded(spark, sf_dir)
    plane = _VID_W * _VID_H
    fsum = (
        f"aggregate(sequence(1, {plane}), cast(0 AS bigint), (acc, i) ->"
        f" acc + 16 * (instr('{_HEXDIGITS}',"
        f" substring(luma_hex, 2*((f - 1) * {plane} + i) - 1, 1)) - 1)"
        f" + (instr('{_HEXDIGITS}',"
        f" substring(luma_hex, 2*((f - 1) * {plane} + i), 1)) - 1))"
    )
    frames = dec.selectExpr(
        "doc_id",
        "cast(width AS bigint) AS width",
        "cast(height AS bigint) AS height",
        "cast(n_frames AS bigint) AS n_frames",
        "explode(sequence(1, cast(n_frames AS int))) AS f",
        "luma_hex",
    ).selectExpr("doc_id", "width", "height", "n_frames", "f", f"{fsum} AS fsum")
    w = Window.partitionBy("doc_id").orderBy("f")
    cuts = frames.withColumn(
        "cut",
        F.when(
            F.abs(F.col("fsum") - F.lag("fsum").over(w))
            > _VID_CUT_THRESHOLD,
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("long"),
    ).withColumn("shot", F.sum("cut").over(w))
    shots = cuts.groupBy("doc_id", "width", "height", "n_frames", "shot").agg(
        F.count(F.lit(1)).alias("len"),
        F.sum("fsum").alias("shot_luma"),
        F.sum("cut").alias("shot_cuts"),
    )
    return (
        shots.groupBy("doc_id", "width", "height", "n_frames")
        .agg(
            F.sum("shot_luma").cast("long").alias("total_luma"),
            F.sum("shot_cuts").cast("long").alias("n_cuts"),
            F.count(F.lit(1)).cast("long").alias("n_shots"),
            F.max("len").cast("long").alias("longest_shot_frames"),
        )
        .select(
            "doc_id",
            "width",
            "height",
            "n_frames",
            "total_luma",
            "n_cuts",
            "n_shots",
            "longest_shot_frames",
        )
        .orderBy("doc_id")
    )


_AUD_SILENCE_THRESHOLD = 100_000  # frame L1 energy below this = silent


@query(
    "multimodal_audio_silence_segments",
    f"""
    WITH {_AUD_HEX_SQL.strip()},
    afr AS (
      SELECT doc_id, (j - 1) // {_AUD_N // _AUD_FRAMES} AS k,
             SUM(abs(s)) AS e
      FROM asmp GROUP BY 1, 2),
    aflag AS (
      SELECT doc_id, k,
             CASE WHEN e < {_AUD_SILENCE_THRESHOLD} THEN 1 ELSE 0 END
               AS silent
      FROM afr),
    aseg AS (
      SELECT doc_id, k, silent,
             k - SUM(silent) OVER (
               PARTITION BY doc_id ORDER BY k) AS grp
      FROM aflag),
    aruns AS (
      SELECT doc_id, grp, COUNT(*) AS run_len
      FROM aseg WHERE silent = 0 GROUP BY doc_id, grp)
    SELECT f.doc_id,
           CAST(SUM(f.silent) AS BIGINT) AS silent_frames,
           CAST({_AUD_FRAMES} - SUM(f.silent) AS BIGINT) AS active_frames,
           CAST(COALESCE(MAX(r.longest), 0) AS BIGINT)
             AS longest_active_run
    FROM aflag f
    LEFT JOIN (SELECT doc_id, MAX(run_len) AS longest
               FROM aruns GROUP BY doc_id) r
      ON r.doc_id = f.doc_id
    GROUP BY f.doc_id
    ORDER BY f.doc_id
    """,
)
def multimodal_audio_silence_segments(spark, sf_dir):
    """Silence segmentation over the decoded audio corpus — the
    VAD-style pass a speech-data pipeline runs before trimming or
    splitting clips: each clip's 8 frames are flagged silent when
    their exact integer L1 energy falls under the threshold, and the
    report carries per-clip silent/active frame counts plus the
    longest contiguous ACTIVE run (the segment a trimmer would keep).
    The planted first-sample-zeroed twins shift frame-0 energy toward
    the threshold, so twin clips exercise the flag boundary.

    Relational shape, mirroring the video scene-cut discipline:
    envelopes come from `_audio_envelope_fp` — computed once per
    DISTINCT clip content and CHECKPOINTED, so the two consumers of
    the flag frame (silent-frame counts and the run roll-up) re-read a
    truncated leaf instead of re-running the hex decode, and k
    byte-identical clips decode once (the fingerprint query's
    exact-dup collapse, shared here). Silence runs come from the
    classic gaps-and-islands transform (k - running_sum(silent) is
    constant within a contiguous active run); the report is two
    doc_id-keyed aggregations — every shuffle on the natural key, no
    joins beyond the membership expansion and the per-doc run
    roll-up. Shares the audio decode memo with the features and
    fingerprint queries."""
    dec = audio_decoded(spark, sf_dir).select("doc_id", "pcm_hex")
    members = dec.select(F.col("pcm_hex").alias("gid"), "doc_id")
    fp = _audio_envelope_fp(members)
    flags = (
        members.join(fp, "gid")
        .selectExpr(
            "doc_id", f"explode(sequence(1, {_AUD_FRAMES})) AS k1", "ea"
        )
        .selectExpr(
            "doc_id",
            "k1 - 1 AS k",
            f"IF(element_at(ea, k1) < {_AUD_SILENCE_THRESHOLD}, 1, 0)"
            " AS silent",
        )
    )
    w = Window.partitionBy("doc_id").orderBy("k")
    seg = flags.withColumn("grp", F.col("k") - F.sum("silent").over(w))
    runs = (
        seg.where(F.col("silent") == 0)
        .groupBy("doc_id", "grp")
        .agg(F.count(F.lit(1)).alias("run_len"))
        .groupBy("doc_id")
        .agg(F.max("run_len").alias("longest"))
    )
    return (
        flags.groupBy("doc_id")
        .agg(F.sum("silent").cast("long").alias("silent_frames"))
        .withColumn(
            "active_frames",
            (F.lit(_AUD_FRAMES) - F.col("silent_frames")).cast("long"),
        )
        .join(runs, "doc_id", "left")
        .select(
            "doc_id",
            "silent_frames",
            "active_frames",
            F.coalesce("longest", F.lit(0)).cast("long")
            .alias("longest_active_run"),
        )
        .orderBy("doc_id")
    )


def box_downsample(df, *, side, factor, id_col="doc_id",
                   pixel_col="pixel_hex"):
    """Generic integer box-average image downsample (library API).

    ``df`` carries one row per image: ``id_col`` plus ``pixel_col``, a
    hex string of ``side * side`` grayscale bytes in row-major order
    (the engine's decoded-image representation). Returns one row per
    OUTPUT pixel ``(id_col, y, x, v)`` at ``side/factor`` resolution,
    where ``v`` is the truncating integer mean of the ``factor x
    factor`` source block — the area-filter kernel thumbnailers use.

    Pure relational algebra at any scale: pixels explode to
    ``(id, j, p)`` rows with each pixel hex-decoded exactly once, and
    the resize is one GROUP BY ``(id, y, x)`` with ``SUM(p) div
    factor^2``. Map-side partial aggregation does the averaging, so
    the shuffle carries one row per output pixel (a ``factor^2``
    reduction); changing ``factor`` only changes the block-id
    expression, not the plan shape. Unordered — callers sort."""
    if side % factor != 0:
        raise ValueError(
            f"side {side} not divisible by factor {factor}"
        )
    p = (
        f"16 * (instr('{_HEXDIGITS}', substring({pixel_col}, 2*j - 1, 1)) - 1)"
        f" + (instr('{_HEXDIGITS}', substring({pixel_col}, 2*j, 1)) - 1)"
    )
    px = df.selectExpr(
        id_col, f"explode(sequence(1, {side * side})) AS j", pixel_col
    ).selectExpr(id_col, "j", f"{p} AS p")
    return (
        px.selectExpr(
            id_col,
            f"((j - 1) div {side}) div {factor} AS y",
            f"((j - 1) % {side}) div {factor} AS x",
            "p",
        )
        .groupBy(id_col, "y", "x")
        .agg(
            F.expr(f"cast(sum(p) div {factor * factor} AS bigint)")
            .alias("v")
        )
        .select(
            id_col,
            F.col("y").cast("long").alias("y"),
            F.col("x").cast("long").alias("x"),
            "v",
        )
    )


@query(
    "multimodal_image_resize",
    f"""
    WITH {_IMG_PH_SQL.strip()},
    px AS (
      SELECT doc_id, j,
             16 * (instr('{_HEXDIGITS}', substr(ph, 2*j - 1, 1)) - 1)
               + (instr('{_HEXDIGITS}', substr(ph, 2*j, 1)) - 1) AS p
      FROM icorpus, unnest(generate_series(1, {_IMG_SIDE * _IMG_SIDE})) AS u(j))
    SELECT doc_id,
           CAST(((j - 1) // {_IMG_SIDE}) // 2 AS BIGINT) AS y,
           CAST(((j - 1) % {_IMG_SIDE}) // 2 AS BIGINT) AS x,
           CAST(SUM(p) // 4 AS BIGINT) AS v
    FROM px
    GROUP BY 1, 2, 3
    ORDER BY doc_id, y, x
    """,
)
def multimodal_image_resize(spark, sf_dir):
    """IMAGE RESIZE over the real decode path — the downsampling pass
    a multimodal curation pipeline runs to normalize thumbnails before
    hashing/embedding: each decoded 8x8 clip (the staged PNG corpus,
    twins included, via the shared decode memo) is reduced 2x by BOX
    AVERAGING — every output pixel is the truncating integer mean of
    its 2x2 source block, the area-filter kernel production
    thumbnailers use for power-of-two reduction.

    The kernel is PURE RELATIONAL ALGEBRA, which is the 100 TB point:
    pixels explode to (doc, j, p) rows with each pixel decoded from
    hex exactly once, and the resize is one GROUP BY (doc, y, x) with
    SUM(p) div 4 — map-side partial aggregation does the averaging, so
    the shuffle carries one row per OUTPUT pixel (a 4x reduction), and
    arbitrary integer scale factors are the same plan with a different
    block id. No UDF, no array marshalling; the oracle replays the
    planted pixel truth analytically so any defect in the decode, the
    block mapping, or the truncating mean breaks every row. The
    kernel itself is the exported ``box_downsample`` library API."""
    dec = multimodal_real_image_decode(spark, sf_dir).select(
        "doc_id", "pixel_hex"
    )
    return box_downsample(dec, side=_IMG_SIDE, factor=2).orderBy(
        "doc_id", "y", "x"
    )
