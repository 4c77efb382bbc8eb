"""Multimodal column plumbing (SURVEY §2C).

Images/audio/video are carried as opaque ``binary`` payloads with typed
metadata columns; decode / feature-extraction runs as Arrow-batched
``mapInPandas`` (the pattern for wrapping PIL/ffmpeg/torchvision workers).
The media libraries are not in this container, so the *decode* step is a
deterministic fake clearly marked below — the Spark-side plumbing (schema,
batching, partitioning, UDF signature) is real and tested.

Scale: mapInPandas processes Arrow batches (not rows); payload bytes never
leave the executor except through the projected feature columns. Partitioning
by shard_bucket (see text.doc_fingerprint) keeps worker batches balanced.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.catalog import cpu_parallel, load_table

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("byte_len", T.LongType()),
        T.StructField("mime", T.StringType()),
        T.StructField("f0", T.IntegerType()),
        T.StructField("f1", T.IntegerType()),
        T.StructField("f2", T.IntegerType()),
        T.StructField("f3", T.IntegerType()),
    ]
)


def binary_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed multimodal frame: opaque bytes + metadata columns.

    `documents.text` stands in for the media payload; on a real corpus this
    is the raw image/audio bytes column read from parquet/webdataset.
    """
    docs = cpu_parallel(load_table(spark, sf_dir, "documents").select("doc_id", "text"))
    return docs.select(
        "doc_id",
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.length(F.encode(F.col("text"), "UTF-8")).alias("byte_len"),
        F.lit("text/plain").alias("mime"),
        (F.col("doc_id") % 640 + 1).cast("int").alias("width"),
        (F.col("doc_id") % 480 + 1).cast("int").alias("height"),
    )


def _fake_decode_features(payload: bytes) -> tuple[int, int, int, int]:
    """STUB decode: deterministic stand-in for a real feature extractor —
    first four payload bytes as ints (so the SQL oracle can verify the
    plumbing end to end)."""
    b = payload[:4].ljust(4, b"\x00")
    return b[0], b[1], b[2], b[3]


def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode/feature-extract pass over binary payloads via mapInPandas.

    Arrow batches in, Arrow batches out; the payload column is consumed
    executor-side and only the (narrow) feature columns survive.
    """
    # NULL payloads are excluded from the decode domain (edge fuzz wave
    # 6): one corrupt ingestion row (NULL media bytes) must not kill a
    # 100 TB decode job inside the Arrow worker — the binary twin of the
    # finite-vector guard. Local filter here (not in binary_payloads)
    # because out-of-window codec entries share that loader until the r7
    # rotation.
    frame = binary_payloads(spark, sf_dir).filter(F.col("payload").isNotNull())

    def decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = pdf["payload"].map(_fake_decode_features)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "byte_len": pdf["byte_len"],
                    "mime": pdf["mime"],
                    "f0": feats.map(lambda t: t[0]),
                    "f1": feats.map(lambda t: t[1]),
                    "f2": feats.map(lambda t: t[2]),
                    "f3": feats.map(lambda t: t[3]),
                }
            )

    return frame.mapInPandas(decode_batches, FEATURE_SCHEMA)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_len", T.IntegerType()),
        T.StructField("first_byte", T.IntegerType()),
    ]
)

FRAME_BYTES = 16
FRAME_STRIDE = 4


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over binary payloads: split each payload into
    FRAME_BYTES-byte frames and keep every FRAME_STRIDE-th (the video
    keyframe-sampling pattern), emitting per-frame features.

    This is the one-to-many mapInPandas shape (batch in, *exploded* batch
    out) that multimodal_meta's one-to-one pass doesn't cover — the same
    plumbing wraps ffmpeg frame extraction on a real corpus (stubbed here:
    the 'feature' is the frame's first byte, so the oracle can verify the
    explode end-to-end). Payload bytes stay executor-side; only the narrow
    frame rows shuffle onward.
    """
    # NULL payloads excluded — same wave-6 decode-domain contract as
    # multimodal_meta
    frame = (
        binary_payloads(spark, sf_dir)
        .filter(F.col("payload").isNotNull())
        .select("doc_id", "payload")
    )

    def sample_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {"doc_id": [], "frame_idx": [], "frame_len": [], "first_byte": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n_frames = (len(payload) + FRAME_BYTES - 1) // FRAME_BYTES
                for i in range(0, n_frames, FRAME_STRIDE):
                    chunk = payload[i * FRAME_BYTES : (i + 1) * FRAME_BYTES]
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(i)
                    out["frame_len"].append(len(chunk))
                    out["first_byte"].append(chunk[0])
            yield pd.DataFrame(out)

    return frame.mapInPandas(sample_batches, FRAME_SCHEMA)


def _hexbyte_sql(h: str, pos: str) -> str:
    """DuckDB expression for the UTF-8 *byte* value whose first hex digit
    sits at 1-based position ``pos`` of uppercase hex-string column ``h``.

    DuckDB 1.0 has no BLOB slicing and no md5(BLOB), so byte-level oracle
    math goes through hex(encode(text)): byte i = hex pair at 2i+1. This is
    what makes the payload oracles byte-true on MULTIBYTE text (edge fuzz
    wave 7) — ascii(substr(text, ...)) indexes characters and returns
    codepoints, which only equal bytes on ASCII."""
    return (
        f"((strpos('0123456789ABCDEF', substr({h}, {pos}, 1)) - 1) * 16 "
        f"+ strpos('0123456789ABCDEF', substr({h}, ({pos}) + 1, 1)) - 1)"
    )


def multimodal_frame_sample_oracle() -> str:
    # byte-true chunking over hex(encode(text)): frame boundaries fall on
    # UTF-8 *bytes* exactly like the Spark side's payload slicing. Two
    # prior oracle generations were subtly wrong here: regexp '.{1,16}'
    # skipped newlines, and substr-range chunking indexed characters —
    # exact on ASCII, shifted on any multibyte doc (edge fuzz wave 7).
    fb = _hexbyte_sql("d.h", f"p.i * {FRAME_BYTES} * 2 + 1")
    return f"""
        WITH hx AS (
          SELECT doc_id, strlen(text) AS byte_len, hex(encode(text)) AS h
          FROM documents WHERE text IS NOT NULL
        ),
        frames AS (
          SELECT d.doc_id, CAST(p.i AS INT) AS frame_idx,
                 CAST(least({FRAME_BYTES}, d.byte_len - p.i * {FRAME_BYTES})
                      AS INT) AS frame_len,
                 CAST({fb} AS INT) AS first_byte
          FROM hx d,
          LATERAL (SELECT unnest(range(0,
                     CAST(ceil(d.byte_len / {FRAME_BYTES}.0) AS BIGINT)))
                   AS i) p
        )
        SELECT doc_id, frame_idx, frame_len, first_byte
        FROM frames
        WHERE frame_idx % {FRAME_STRIDE} = 0
        ORDER BY doc_id, frame_idx
    """


def multimodal_meta_oracle() -> str:
    # the fake decoder reads the first 4 UTF-8 BYTES (0-padded under
    # length 4); hex-pair math reproduces them exactly on any text —
    # the previous ascii(substr(...)) form returned *codepoints* of the
    # first 4 *characters*, equal only on ASCII (edge fuzz wave 7)
    bytes_sql = ",\n               ".join(
        f"CAST(CASE WHEN byte_len >= {i + 1} THEN "
        f"{_hexbyte_sql('h', 2 * i + 1)} ELSE 0 END AS INT) AS f{i}"
        for i in range(4)
    )
    return f"""
        SELECT doc_id,
               byte_len,
               'text/plain' AS mime,
               {bytes_sql}
        FROM (SELECT doc_id, strlen(text) AS byte_len, hex(encode(text)) AS h
              FROM documents WHERE text IS NOT NULL)
        ORDER BY doc_id
    """


RESIZE_TARGET = 32

RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("orig_len", T.LongType()),
        T.StructField("thumb_len", T.IntegerType()),
        T.StructField("thumb_md5", T.StringType()),
    ]
)


def _fake_resize(payload: bytes, target: int = RESIZE_TARGET) -> bytes:
    """STUB resize: 1-D nearest-neighbor downsample of the payload byte
    stream to `target` samples — index math identical to a NN image resize
    (floor(i * n / target)), deterministic so the oracle reproduces it."""
    n = len(payload)
    if n == 0:
        return b""
    return bytes(payload[(i * n) // target] for i in range(target))


def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize pass over binary payloads via mapInPandas: payload in, fixed-
    size thumbnail out, fingerprinted so the oracle can verify every byte.

    The one-to-one media-transform shape (decode → resample → re-encode)
    that wraps PIL.Image.resize on a real corpus. Payloads never leave the
    executor; only the constant-width thumbnail digest survives, so shuffle
    volume is O(rows), independent of media size — the property that makes
    this viable on 100 TB of images.
    """
    import hashlib

    # NULL payloads excluded — same wave-6 decode-domain contract as
    # multimodal_meta. The stand-in domain is additionally ASCII-only
    # (byte length == char length, both sides): the thumbnail samples
    # payload bytes at indices that can land MID-CHARACTER on multibyte
    # text, and DuckDB 1.0 cannot md5 a BLOB, so the fingerprint oracle
    # is only VARCHAR-expressible on ASCII (edge fuzz wave 7). The
    # byte-true plumbing itself is proven by multimodal_meta /
    # multimodal_frame_sample, whose hex-math oracles keep multibyte
    # payloads in-domain; on a real image corpus the payload column
    # never round-trips through VARCHAR at all.
    frame = (
        binary_payloads(spark, sf_dir)
        .filter(F.col("payload").isNotNull())
        .filter(F.length("payload") == F.length(F.decode(F.col("payload"), "UTF-8")))
        .select("doc_id", "payload")
    )

    def resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            thumbs = pdf["payload"].map(_fake_resize)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "orig_len": pdf["payload"].map(len),
                    "thumb_len": thumbs.map(len),
                    "thumb_md5": thumbs.map(lambda b: hashlib.md5(b).hexdigest()),
                }
            )

    # no trailing sort: the driver compare is order-insensitive, and a global
    # orderBy would add a full range-shuffle for output cosmetics only
    return frame.mapInPandas(resize_batches, RESIZE_SCHEMA)


THUMB_W = 8
THUMB_H = 6

PPM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("thumb_md5", T.StringType()),
    ]
)


def multimodal_decode_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-codec multimodal path: encode a deterministic PPM (P6) image per
    document, genuinely parse its header back, 2-D nearest-neighbor resize
    the raster, and digest the thumbnail (functions/codecs.py — pure Python,
    no PIL needed).

    Unlike multimodal_meta/_resize (whose decode is a documented stand-in),
    every step here runs on real image bytes: header write → header parse →
    raster resample. Pixels derive cyclically from the doc's ASCII text, so
    the oracle reproduces the exact thumbnail bytes via the NN index map.

    Scale: same mapInPandas shape as the other passes — payloads are built
    and consumed inside the executor batch; only (doc_id, dims, digest)
    survive, so shuffle volume is O(rows) regardless of image size.
    """
    import hashlib

    from ..functions.codecs import decode_ppm, encode_ppm, resize_ppm_nn

    # ASCII-only stand-in domain, same rationale as multimodal_resize:
    # pixels sample payload bytes cyclically (mid-character on multibyte
    # text) and the md5 thumbnail digest is only VARCHAR-expressible on
    # ASCII in DuckDB 1.0 (edge fuzz wave 7)
    docs = binary_payloads(spark, sf_dir).select("doc_id", "payload").filter(
        F.col("payload").isNotNull()
        & (F.length("payload") > 0)
        & (F.length("payload") == F.length(F.decode(F.col("payload"), "UTF-8")))
    )

    def ppm_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {"doc_id": [], "width": [], "height": [], "thumb_md5": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h = int(8 + doc_id % 8), int(6 + doc_id % 6)
                n = len(payload)
                pixels = bytes(payload[i % n] for i in range(w * h * 3))
                ppm = encode_ppm(w, h, pixels)
                pw, ph, _raster = decode_ppm(ppm)  # real header parse
                thumb = resize_ppm_nn(ppm, THUMB_W, THUMB_H)
                out["doc_id"].append(doc_id)
                out["width"].append(pw)
                out["height"].append(ph)
                out["thumb_md5"].append(hashlib.md5(thumb).hexdigest())
            yield pd.DataFrame(out)

    return docs.mapInPandas(ppm_batches, PPM_SCHEMA)


def multimodal_decode_ppm_oracle() -> str:
    # Reproduce the NN-resampled thumbnail byte-for-byte: flat thumb index i
    # → channel c=i%3, x=(i/3)%W, y=i/(3W); source pixel (x*w/W, y*h/H);
    # source byte index ((sy*w+sx)*3+c) wraps cyclically over the ASCII text.
    tw, th = THUMB_W, THUMB_H
    total = tw * th * 3
    w = "(8 + doc_id % 8)"
    h = "(6 + doc_id % 6)"
    sx = f"((((i // 3) % {tw}) * {w}) // {tw})"
    sy = f"(((i // {3 * tw}) * {h}) // {th})"
    src = f"((({sy} * {w}) + {sx}) * 3 + (i % 3))"
    return f"""
        SELECT doc_id,
               CAST({w} AS INT) AS width,
               CAST({h} AS INT) AS height,
               md5(array_to_string(
                 [substr(text, CAST({src} % strlen(text) AS INT) + 1, 1)
                  for i in range(0, {total})], '')) AS thumb_md5
        FROM documents
        WHERE strlen(text) > 0 AND strlen(text) = length(text)
        ORDER BY doc_id
    """


BMP_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("bpp", T.IntegerType()),
        T.StructField("file_len", T.LongType()),
    ]
)


def multimodal_bmp_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BMP metadata pass: write a valid 54-byte BMP header per document and
    struct-parse it back (functions/codecs.py decode_bmp_meta) — the
    binary-metadata extraction real pipelines run before full decode.
    """
    from ..functions.codecs import decode_bmp_meta, encode_bmp_header

    docs = binary_payloads(spark, sf_dir).select("doc_id", "width", "height")

    def bmp_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "doc_id": [], "width": [], "height": [], "bpp": [], "file_len": []
            }
            for doc_id, w, h in zip(pdf["doc_id"], pdf["width"], pdf["height"]):
                payload = encode_bmp_header(int(w), int(h))
                pw, ph, bpp = decode_bmp_meta(payload)  # real struct parse
                out["doc_id"].append(doc_id)
                out["width"].append(pw)
                out["height"].append(ph)
                out["bpp"].append(bpp)
                out["file_len"].append(len(payload))
            yield pd.DataFrame(out)

    return docs.mapInPandas(bmp_batches, BMP_META_SCHEMA)


def multimodal_bmp_meta_oracle() -> str:
    return """
        SELECT doc_id,
               CAST(doc_id % 640 + 1 AS INT) AS width,
               CAST(doc_id % 480 + 1 AS INT) AS height,
               CAST(24 AS INT) AS bpp,
               CAST(54 AS BIGINT) AS file_len
        FROM documents ORDER BY doc_id
    """


def multimodal_resize_oracle() -> str:
    # ASCII-only domain (strlen = length, matching the Spark-side filter):
    # char-at-index then reproduces byte-at-index, so the list
    # comprehension mirrors floor(i * n / target) nearest-neighbor indexing
    t = RESIZE_TARGET
    # zero-byte payloads produce an EMPTY thumbnail row (thumb_len 0,
    # md5 of the empty string), exactly like _fake_resize — the previous
    # WHERE strlen > 0 dropped the row the Spark side emits, and the
    # hardcoded thumb_len={t} mislabeled it (tools/fuzz_edge_docs.py)
    return f"""
        SELECT doc_id,
               CAST(strlen(text) AS BIGINT) AS orig_len,
               CAST(CASE WHEN strlen(text) > 0 THEN {t} ELSE 0 END AS INT)
                 AS thumb_len,
               CASE WHEN strlen(text) > 0
                    THEN md5(array_to_string(
                      [substr(text, CAST(i * strlen(text) // {t} AS INT) + 1, 1)
                       for i in range(0, {t})], ''))
                    ELSE md5('') END AS thumb_md5
        FROM documents
        WHERE text IS NOT NULL AND strlen(text) = length(text)
        ORDER BY doc_id
    """


WAV_WINDOW = 256
WAV_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("window_idx", T.IntegerType()),
        T.StructField("energy", T.LongType()),
    ]
)


def multimodal_wav_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-codec audio path: encode a deterministic RIFF/WAVE payload per
    document, genuinely parse the container back (magic, PCM format tag,
    mono/16-bit layout, data-chunk length), and emit per-window PCM energy
    (sum of squared samples — exact integers, so the whole audio pipeline
    is hash-checkable like the PPM image path).

    Samples derive cyclically from the doc's bytes (sample_i =
    (byte_i - 128) * 256 — centered at 128 so EVERY byte 0..255 maps
    inside int16: the previous -64 centering overflowed struct.pack('h')
    on any UTF-8 continuation byte >= 0xC0, so one multibyte row killed
    the whole decode job — edge fuzz wave 7), so the oracle reproduces
    each window's energy arithmetically, byte-true via hex-pair math. One-to-many like frame_sample: a doc
    yields n_samples/256 window rows; payloads are built and consumed
    inside the executor batch, only (doc_id, meta, energy) rows shuffle.
    The windowed-energy shape is the VAD / silence-trim primitive an audio
    corpus pipeline runs before transcription.
    """
    from ..functions.codecs import WAV_RATE, decode_wav, encode_wav

    docs = binary_payloads(spark, sf_dir).select("doc_id", "payload").filter(
        F.col("payload").isNotNull() & (F.length("payload") > 0)
    )

    def wav_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {
                "doc_id": [], "sample_rate": [], "n_samples": [],
                "window_idx": [], "energy": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n_samples = 1024 + int(doc_id) % 7 * 128
                m = len(payload)
                samples = [(payload[i % m] - 128) * 256 for i in range(n_samples)]
                wav = encode_wav(samples)
                rate, n, parsed = decode_wav(wav)  # real container parse
                for w in range(n // WAV_WINDOW):
                    chunk = parsed[w * WAV_WINDOW : (w + 1) * WAV_WINDOW]
                    out["doc_id"].append(doc_id)
                    out["sample_rate"].append(rate)
                    out["n_samples"].append(n)
                    out["window_idx"].append(w)
                    out["energy"].append(sum(s * s for s in chunk))
            yield pd.DataFrame(out)

    return docs.mapInPandas(wav_batches, WAV_SCHEMA)


def _wav_sample_sql() -> str:
    """DuckDB expression for sample (widx * WAV_WINDOW + i) of the doc —
    byte-TRUE via hex-pair math over hex(encode(text)) (`h`/`byte_len`
    columns), exactly mirroring the Spark side's payload[i % m] byte
    indexing on multibyte text (edge fuzz wave 7); ascii(substr(...))
    indexed characters and returned codepoints, exact only on ASCII."""
    byte_pos = f"(CAST((widx * {WAV_WINDOW} + i) % byte_len AS BIGINT) * 2 + 1)"
    return f"(({_hexbyte_sql('h', byte_pos)} - 128) * 256)"


def multimodal_wav_energy_oracle() -> str:
    from ..functions.codecs import WAV_RATE

    n_samples = "(1024 + (doc_id % 7) * 128)"
    sample = _wav_sample_sql()
    return f"""
        WITH wins AS (
          SELECT doc_id, strlen(text) AS byte_len, hex(encode(text)) AS h,
                 CAST({n_samples} AS INT) AS n_samples,
                 unnest(range(0, {n_samples} // {WAV_WINDOW})) AS widx
          FROM documents WHERE text IS NOT NULL AND strlen(text) > 0
        )
        SELECT doc_id,
               {WAV_RATE} AS sample_rate,
               n_samples,
               CAST(widx AS INT) AS window_idx,
               CAST(list_sum([
                 CAST({sample} AS BIGINT) * {sample}
                 for i in range(0, {WAV_WINDOW})]) AS BIGINT) AS energy
        FROM wins
        ORDER BY doc_id, window_idx
    """


AHASH_SIDE = 8  # aHash raster side: 8x8 grayscale -> 64-bit fingerprint
AHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("ahash", T.StringType()),
    ]
)


def image_ahash_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image dedup — the multimodal twin of dedup_exact:
    every image is NN-resized to an 8x8 grayscale raster (the REAL PPM
    codec path, same bytes as multimodal_decode_ppm), aHashed (bit p = 1
    iff gray_p strictly above the integer-mean gray), and dup clusters
    form by exact hash equality. Near-identical images (resizes, small
    crops, re-encodes) collapse to the same 64-bit fingerprint — the cheap
    first pass an image-corpus dedup runs before any embedding model.

    Output per image: the md5 of the 64-char bit fingerprint, how many
    images share it, and the canonical (min doc_id) flag.

    Scale: decode + hash run inside mapInPandas (payload bytes never
    shuffle); the cluster join shuffles (doc_id, 32-char hash) pairs on a
    uniform hash key with map-side partial counts.
    """
    import hashlib

    from ..functions.codecs import encode_ppm, resize_ppm_nn

    docs = binary_payloads(spark, sf_dir).select("doc_id", "payload").filter(
        F.col("payload").isNotNull() & (F.length("payload") > 0)
    )

    def ahash_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {"doc_id": [], "ahash": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                w, h = int(8 + doc_id % 8), int(6 + doc_id % 6)
                n = len(payload)
                pixels = bytes(payload[i % n] for i in range(w * h * 3))
                ppm = encode_ppm(w, h, pixels)
                # resize_ppm_nn parses the PPM (real header parse) and
                # returns the resized raw raster
                raster = resize_ppm_nn(ppm, AHASH_SIDE, AHASH_SIDE)
                grays = [
                    (raster[3 * p] + raster[3 * p + 1] + raster[3 * p + 2]) // 3
                    for p in range(AHASH_SIDE * AHASH_SIDE)
                ]
                mean = sum(grays) // len(grays)
                bits = "".join("1" if g > mean else "0" for g in grays)
                out["doc_id"].append(doc_id)
                out["ahash"].append(hashlib.md5(bits.encode()).hexdigest())
            yield pd.DataFrame(out)

    hashed = docs.mapInPandas(ahash_batches, AHASH_SCHEMA)
    clusters = hashed.groupBy("ahash").agg(
        F.count(F.lit(1)).alias("n_imgs"), F.min("doc_id").alias("canonical")
    )
    return hashed.join(clusters, "ahash").select(
        "doc_id",
        "ahash",
        F.col("n_imgs").cast("bigint").alias("n_imgs"),
        (F.col("doc_id") == F.col("canonical")).cast("int").alias("is_canonical"),
    )


def image_ahash_dup_oracle() -> str:
    # Reproduce the 8x8 NN thumbnail's grayscale arithmetically from the
    # cyclic text->pixel map (same index algebra as multimodal_decode_ppm),
    # then the strict-above-integer-mean bit rule. Pixels index the UTF-8
    # BYTE payload (Spark slices payload bytes), so the channel reads go
    # through the hex-pair math — ascii(substr(...)) indexed characters
    # and returned codepoints, exact only on ASCII (edge fuzz wave 7).
    s = AHASH_SIDE
    w = "(8 + doc_id % 8)"
    h = "(6 + doc_id % 6)"
    sx = f"(((p % {s}) * {w}) // {s})"
    sy = f"(((p // {s}) * {h}) // {s})"
    base = f"((({sy} * {w}) + {sx}) * 3)"
    chan_pos = f"(CAST(({base} + {{c}}) % byte_len AS BIGINT) * 2 + 1)"
    chan = _hexbyte_sql("h", chan_pos)
    gray = f"(({chan.format(c=0)} + {chan.format(c=1)} + {chan.format(c=2)}) // 3)"
    return f"""
        WITH hx AS (
          SELECT doc_id, strlen(text) AS byte_len, hex(encode(text)) AS h
          FROM documents WHERE text IS NOT NULL AND strlen(text) > 0
        ),
        grays AS (
          SELECT doc_id, [{gray} for p in range(0, {s * s})] AS g
          FROM hx
        ),
        bits AS (
          SELECT doc_id,
                 md5(array_to_string(
                   [CASE WHEN g[p + 1] > (list_sum(g) // {s * s})
                         THEN '1' ELSE '0' END
                    for p in range(0, {s * s})], '')) AS ahash
          FROM grays
        ),
        clusters AS (
          SELECT ahash, CAST(COUNT(*) AS BIGINT) AS n_imgs,
                 MIN(doc_id) AS canonical
          FROM bits GROUP BY ahash
        )
        SELECT b.doc_id, b.ahash, c.n_imgs,
               CAST(b.doc_id = c.canonical AS INT) AS is_canonical
        FROM bits b JOIN clusters c USING (ahash)
        ORDER BY b.doc_id
    """


def audio_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity segments over the windowed PCM energy: a window is
    "active" when its energy is strictly above the clip's mean window
    energy (integer cross-multiply — energy * n_windows > total — so the
    threshold is exact, no float mean), and consecutive active windows
    merge into segments (gaps-and-islands). The silence-trim pass an
    audio corpus runs before transcription, producing the keep-spans.

    Scale: composes multimodal_wav_energy (payloads never shuffle) with
    per-doc windows — doc_id is the high-cardinality axis, so both the
    mean and the island numbering parallelize per clip.
    """
    e = multimodal_wav_energy(spark, sf_dir)
    from pyspark.sql import Window

    w_doc = Window.partitionBy("doc_id")
    flagged = (
        e.withColumn("n_wins", F.count(F.lit(1)).over(w_doc))
        .withColumn("tot", F.sum("energy").over(w_doc))
        .filter(F.col("energy") * F.col("n_wins") > F.col("tot"))
    )
    w_ord = Window.partitionBy("doc_id").orderBy("window_idx")
    brk = F.when(
        F.lag("window_idx").over(w_ord).isNull()
        | (F.col("window_idx") - F.lag("window_idx").over(w_ord) > 1),
        1,
    ).otherwise(0)
    segs = flagged.withColumn("brk", brk).withColumn(
        "seg_idx",
        F.sum("brk").over(w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return segs.groupBy("doc_id", "seg_idx").agg(
        F.min("window_idx").alias("start_window"),
        F.max("window_idx").alias("end_window"),
        F.count(F.lit(1)).cast("bigint").alias("n_windows"),
        F.sum("energy").cast("bigint").alias("seg_energy"),
    )


def audio_vad_segments_oracle() -> str:
    from ..functions.codecs import WAV_RATE  # noqa: F401  (doc parity)

    n_samples = "(1024 + (doc_id % 7) * 128)"
    sample = _wav_sample_sql()
    return f"""
        WITH wins AS (
          SELECT doc_id, strlen(text) AS byte_len, hex(encode(text)) AS h,
                 unnest(range(0, {n_samples} // {WAV_WINDOW})) AS widx
          FROM documents WHERE text IS NOT NULL AND strlen(text) > 0
        ),
        energy AS (
          SELECT doc_id, CAST(widx AS INT) AS window_idx,
                 CAST(list_sum([
                   CAST({sample} AS BIGINT) * {sample}
                   for i in range(0, {WAV_WINDOW})]) AS BIGINT) AS energy
          FROM wins
        ),
        flagged AS (
          SELECT *, COUNT(*) OVER (PARTITION BY doc_id) AS n_wins,
                 SUM(energy) OVER (PARTITION BY doc_id) AS tot
          FROM energy
        ),
        active AS (
          SELECT doc_id, window_idx, energy FROM flagged
          WHERE energy * n_wins > tot
        ),
        marked AS (
          SELECT *,
                 CASE WHEN LAG(window_idx) OVER (
                          PARTITION BY doc_id ORDER BY window_idx) IS NULL
                      OR window_idx - LAG(window_idx) OVER (
                          PARTITION BY doc_id ORDER BY window_idx) > 1
                      THEN 1 ELSE 0 END AS brk
          FROM active
        ),
        segs AS (
          -- brk DESC: the two-pass tie-interleaving guard (r11, see
          -- sessionized_events_oracle) — a replayed doc duplicates its
          -- (doc_id, window_idx) rows and the cumsum pass re-sorts ties
          -- independently of the flag pass
          SELECT *, SUM(brk) OVER (
              PARTITION BY doc_id ORDER BY window_idx, brk DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg_idx
          FROM marked
        )
        SELECT doc_id, CAST(seg_idx AS BIGINT) AS seg_idx,
               MIN(window_idx) AS start_window,
               MAX(window_idx) AS end_window,
               CAST(COUNT(*) AS BIGINT) AS n_windows,
               CAST(SUM(energy) AS BIGINT) AS seg_energy
        FROM segs GROUP BY doc_id, seg_idx
        ORDER BY doc_id, seg_idx
    """
