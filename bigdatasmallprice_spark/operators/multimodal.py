"""Multimodal column plumbing: opaque binary payloads + typed metadata,
processed via Arrow-batched ``mapInPandas``.

Design for a 100 TB multimodal corpus:
- media lives in a ``payload: binary`` column (or object-store URIs for
  >~1 MB blobs) beside typed metadata columns;
- decode / feature-extract / resize / frame-sample run as mapInPandas
  stages — Arrow moves each partition batch into Python once, the UDF
  works on contiguous buffers, and the output schema is declared up
  front so Catalyst keeps planning around the stage;
- partition sizing: media batches are capped by bytes not rows
  (``maxRecordsPerBatch`` + repartition on a size-bucketed key) so an
  executor never materializes more than a few hundred MB of payloads.

Three modalities decode REAL bytes with no external packages:
- audio: RIFF/WAVE PCM via stdlib ``wave`` (encode AND decode — see
  ``encode_wav`` / ``decode_wav_bytes``);
- image: uncompressed 24-bit BMP via a pure-Python parser
  (``encode_bmp`` / ``decode_bmp_bytes``);
- video: uncompressed YUV4MPEG2 (.y4m) via a pure-Python parser
  (``encode_y4m`` / ``decode_y4m_frames``) — the raw-frame container
  mplayer/ffmpeg interchange through; frame-sampling over it is the
  real thing, not a plan-only stub.
COMPRESSED video codecs (H.264 etc. need ffmpeg) are genuinely absent
from this environment, so that one path keeps the clearly-marked
deterministic byte-stats stub + NotImplementedError gate. The
Spark-side plumbing — schema, batching, UDF signature — is real and
tested (tests/test_multimodal.py); WAV, BMP and Y4M paths are
driver-verified end-to-end (queries/mmq.py).
"""

from __future__ import annotations

import hashlib
import io
import struct
import wave
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),  # image | audio | video
        StructField("payload", BinaryType(), True),
        StructField("meta_width", LongType(), True),
        StructField("meta_height", LongType(), True),
        StructField("meta_duration_s", DoubleType(), True),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("n_bytes", LongType(), True),
        StructField("sha_prefix", StringType(), True),
        StructField("first_byte", LongType(), True),
        StructField("byte_mean", DoubleType(), True),
    ]
)

# wav (stdlib wave), bmp and y4m (pure-Python) decode real bytes;
# COMPRESSED video needs ffmpeg, which is not installed — that path
# stays gated (decode_stub below)
VIDEO_CODECS_AVAILABLE = False

WAV_SAMPLE_RATE = 8000


def encode_wav(samples, sample_rate: int = WAV_SAMPLE_RATE) -> bytes:
    """Real RIFF/WAVE encode: mono 16-bit PCM via stdlib ``wave``."""
    import numpy as np

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(np.asarray(samples, dtype="<i2").tobytes())
    return buf.getvalue()


def decode_wav_bytes(payload: bytes) -> dict:
    """Real RIFF/WAVE decode: container parse + exact int sample stats."""
    import numpy as np

    with wave.open(io.BytesIO(payload), "rb") as w:
        n_frames = w.getnframes()
        rate = w.getframerate()
        n_ch = w.getnchannels()
        assert w.getsampwidth() == 2, "only 16-bit PCM supported"
        raw = w.readframes(n_frames)
    s = np.frombuffer(raw, dtype="<i2").astype("int64")
    return {
        "n_frames": n_frames,
        "sample_rate": rate,
        "n_channels": n_ch,
        "sum_samples": int(s.sum()) if len(s) else 0,
        "min_sample": int(s.min()) if len(s) else None,
        "max_sample": int(s.max()) if len(s) else None,
    }


def encode_bmp(pixel_rows: list[list[tuple[int, int, int]]]) -> bytes:
    """Real uncompressed 24-bit BMP encode (BITMAPINFOHEADER, bottom-up
    rows, 4-byte row padding) — pure Python, no PIL."""
    h = len(pixel_rows)
    w = len(pixel_rows[0]) if h else 0
    row_pad = (4 - (w * 3) % 4) % 4
    body = bytearray()
    for row in reversed(pixel_rows):  # BMP stores rows bottom-up
        for r, g, b in row:
            body += bytes((b, g, r))  # BGR on disk
        body += b"\x00" * row_pad
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(body), 0, 0, 14 + 40)
    return header + info + bytes(body)


def decode_bmp_bytes(payload: bytes) -> dict:
    """Real BMP decode: header parse + exact integer pixel-channel sum
    (padding bytes excluded)."""
    magic, _size, _r1, _r2, offset = struct.unpack_from("<2sIHHI", payload, 0)
    assert magic == b"BM", "not a BMP payload"
    hdr_size, w, h, _planes, bpp, compression = struct.unpack_from(
        "<IiiHHI", payload, 14
    )
    assert hdr_size >= 40 and bpp == 24 and compression == 0, (
        "only uncompressed 24-bit BMP supported"
    )
    row_bytes = w * 3
    stride = row_bytes + (4 - row_bytes % 4) % 4
    total = 0
    for y in range(abs(h)):
        start = offset + y * stride
        total += sum(payload[start : start + row_bytes])
    return {
        "width": w,
        "height": abs(h),
        "bpp": bpp,
        "n_pixels": w * abs(h),
        "pixel_sum": total,
    }


def decode_stub(payload: bytes | None, kind: str) -> dict:
    """Deterministic byte-stats 'decode' for payloads whose codec is
    genuinely absent (compressed video). Audio/image take the real WAV/
    BMP paths above; uncompressed video takes the real Y4M path below."""
    if kind == "video" and VIDEO_CODECS_AVAILABLE:  # pragma: no cover
        raise NotImplementedError("ffmpeg-backed video decode not wired in this env")
    if payload is None or len(payload) == 0:
        return {"n_bytes": 0, "sha_prefix": None, "first_byte": None, "byte_mean": None}
    return {
        "n_bytes": len(payload),
        "sha_prefix": hashlib.sha256(payload).hexdigest()[:12],
        "first_byte": payload[0],
        "byte_mean": sum(payload[:4096]) / min(len(payload), 4096),
    }


def extract_features(media: DataFrame) -> DataFrame:
    """mapInPandas feature extraction: one Arrow batch in, one typed
    batch out; schema declared so downstream stays fully planned."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [decode_stub(p, k) for p, k in zip(pdf["payload"], pdf["kind"])]
            out = pd.DataFrame(feats)
            out.insert(0, "media_id", pdf["media_id"].values)
            out.insert(1, "kind", pdf["kind"].values)
            yield out

    return media.mapInPandas(_extract, schema=FEATURE_SCHEMA)


def frame_sample_plan(media: DataFrame, every_s: float = 1.0) -> DataFrame:
    """Video frame-sampling *plan*: computes per-row sample counts from
    metadata JVM-side (no Python), so the expensive decode stage sees an
    explicit budget column — the pattern that keeps 100 TB of video from
    being decoded wholesale."""
    return media.withColumn(
        "n_frames_to_sample",
        F.when(
            (F.col("kind") == "video") & F.col("meta_duration_s").isNotNull(),
            F.ceil(F.col("meta_duration_s") / F.lit(every_s)).cast("long"),
        ).otherwise(F.lit(0)),
    )


# deterministic synthetic audio: sample_i(doc) is a pure integer function
# of (doc_id, i), so the decoded stats have a closed form an independent
# SQL oracle can compute without ever touching the bytes — the Spark side
# still round-trips REAL WAV containers through the stdlib codec
WAV_MUL = 2654435761
WAV_STEP = 40503
WAV_BASE_FRAMES = 64


def synth_samples(doc_id: int):
    """int16 samples: ((doc_id*WAV_MUL + i*WAV_STEP) % 65536) - 32768,
    i in [0, 64 + doc_id % 64)."""
    import numpy as np

    n = WAV_BASE_FRAMES + doc_id % 64
    i = np.arange(n, dtype="int64")
    return ((doc_id * WAV_MUL + i * WAV_STEP) % 65536 - 32768).astype("<i2")


WAV_MEDIA_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("payload", BinaryType(), False),
    ]
)

WAV_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("n_frames", LongType(), False),
        StructField("sample_rate", LongType(), False),
        StructField("n_channels", LongType(), False),
        StructField("sum_samples", LongType(), False),
        StructField("min_sample", LongType(), True),
        StructField("max_sample", LongType(), True),
    ]
)


def synthesize_wav(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """mapInPandas stage 1: per-doc deterministic samples → real WAV
    bytes (stdlib ``wave`` writer) in an opaque binary column."""

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            yield pd.DataFrame(
                {
                    "doc_id": ids.values,
                    "payload": [encode_wav(synth_samples(int(d))) for d in ids],
                }
            )

    return docs.select(id_col).mapInPandas(_synth, schema=WAV_MEDIA_SCHEMA)


def wav_features(media: DataFrame) -> DataFrame:
    """mapInPandas stage 2: real WAV decode (container parse + PCM
    frames) → exact integer sample stats, one Arrow batch at a time."""

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [decode_wav_bytes(p) for p in pdf["payload"]]
            out = pd.DataFrame(feats)
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out

    return media.mapInPandas(_decode, schema=WAV_FEATURE_SCHEMA)


def decode_bmp_pixels(payload: bytes) -> list[list[tuple[int, int, int]]]:
    """Full BMP pixel decode to (r, g, b) rows, top-down — the input to
    transform stages (resize below)."""
    magic, _size, _r1, _r2, offset = struct.unpack_from("<2sIHHI", payload, 0)
    assert magic == b"BM", "not a BMP payload"
    hdr_size, w, h, _planes, bpp, compression = struct.unpack_from(
        "<IiiHHI", payload, 14
    )
    assert hdr_size >= 40 and bpp == 24 and compression == 0
    row_bytes = w * 3
    stride = row_bytes + (4 - row_bytes % 4) % 4
    rows = []
    for y in range(abs(h)):
        start = offset + y * stride
        raw = payload[start : start + row_bytes]
        rows.append([(raw[i + 2], raw[i + 1], raw[i]) for i in range(0, row_bytes, 3)])
    rows.reverse()  # disk order is bottom-up
    return rows


def resize_bmp_bytes(payload: bytes, factor: int = 2) -> bytes:
    """Real image resize: box-downsample a 24-bit BMP by an integer
    factor (each output channel = floor(mean of the factor x factor
    block)) and RE-ENCODE to a genuine smaller BMP. Exact integer
    arithmetic throughout — the resized payload is byte-deterministic,
    so an independent oracle can predict its decoded stats in closed
    form. Runs inside mapInPandas batches (bytes -> bytes per row);
    dimensions must be divisible by ``factor``."""
    px = decode_bmp_pixels(payload)
    h, w = len(px), len(px[0]) if px else 0
    assert h % factor == 0 and w % factor == 0, "dims must divide by factor"
    f2 = factor * factor
    out = []
    for by in range(h // factor):
        row = []
        for bx in range(w // factor):
            sr = sg = sb = 0
            for dy in range(factor):
                for dx in range(factor):
                    r, g, b = px[by * factor + dy][bx * factor + dx]
                    sr += r; sg += g; sb += b
            row.append((sr // f2, sg // f2, sb // f2))
        out.append(row)
    return encode_bmp(out)


# deterministic synthetic image: channel values are pure integer
# functions of (doc_id, x, y) — same rationale as the WAV synth
BMP_SIDE = 8


def synth_pixels(doc_id: int) -> list[list[tuple[int, int, int]]]:
    d = int(doc_id)
    return [
        [
            ((d * 31 + x * 7 + y) % 256, (d * 17 + x) % 256, (y * 13 + d) % 256)
            for x in range(BMP_SIDE)
        ]
        for y in range(BMP_SIDE)
    ]


def synthesize_bmp(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic 8x8 24-bit BMP per document, shipped as an opaque
    ``binary`` column (Arrow-batched; one encode per row)."""

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            yield pd.DataFrame(
                {
                    "doc_id": ids.values,
                    "payload": [encode_bmp(synth_pixels(d)) for d in ids],
                }
            )

    return docs.select(id_col).mapInPandas(_synth, "doc_id long, payload binary")


def bmp_resize_features(media: DataFrame, factor: int = 2) -> DataFrame:
    """Decode the original BMP, box-downsample by ``factor`` into a real
    re-encoded BMP, decode THAT, and emit exact integer stats for both —
    the decode -> transform -> feature-extract stage of an image
    pipeline, all inside one Arrow batch loop."""

    def _feat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for d, p in zip(pdf["doc_id"].astype("int64"), pdf["payload"]):
                p = bytes(p)
                full = decode_bmp_bytes(p)
                small = decode_bmp_bytes(resize_bmp_bytes(p, factor))
                rows.append(
                    {
                        "doc_id": int(d),
                        "width": full["width"],
                        "height": full["height"],
                        "pixel_sum": full["pixel_sum"],
                        "r_width": small["width"],
                        "r_height": small["height"],
                        "r_pixel_sum": small["pixel_sum"],
                    }
                )
            yield pd.DataFrame(rows)

    return media.mapInPandas(
        _feat,
        "doc_id long, width long, height long, pixel_sum long, "
        "r_width long, r_height long, r_pixel_sum long",
    )


# ---------------------------------------------------------------------------
# Perceptual image hash (aHash) near-duplicate detection. The classic
# average-hash: grayscale the 8x8 pixel grid, set bit j iff pixel j's
# luma is >= the image mean, compare hashes by Hamming distance. Near-
# identical images (same scene, small retouch) differ in a few bits;
# blocking on exact signature chunks turns the pair search into an
# equi-join, the same pigeonhole pattern as SimHash text dedup
# (operators/dedup.py::simhash_near_pairs). No reference counterpart
# (the reference has no image pipeline); spec: the standard aHash as
# popularized by the pHash/imagehash family.
#
# Engine-portable integer math throughout: luma is the BT.601 integer
# approximation (299r + 587g + 114b) // 1000, the mean comparison is
# the divisionless 64*luma >= sum(luma), and the signature keeps bits
# 0..62 only (AHASH_BITS = 63) so it always fits a signed BIGINT —
# same reason the text SimHash is 48-bit. Pixel 63 still feeds the
# mean, it just contributes no bit.

AHASH_SIDE = BMP_SIDE  # 8x8 grid
AHASH_PIXELS = AHASH_SIDE * AHASH_SIDE  # 64
AHASH_BITS = AHASH_PIXELS - 1  # 63: signed-BIGINT-safe signature
AHASH_CHUNKS = 4  # 16,16,16,15-bit chunks; Hamming<=3 shares one
AHASH_CHUNK_BITS = 16
AHASH_GROUP = 4  # near-dup synth: docs per base-pattern group
# luma levels of the synthetic near-dup corpus: every pixel is exactly
# LO or HI and pixels 0/63 are pinned to LO/HI, so the image mean is
# STRICTLY between the two levels — every hash bit is unambiguous and
# a retouch flips exactly its own bits (member m sits at Hamming m
# from the base, pair (m1 < m2) at exactly m2 - m1)
_AHASH_LO, _AHASH_HI = 40, 220
# base-pattern bit mix: md5 of "g:j" (first hex nibble, mod 2) — the
# repo-standard engine-portable hash. Arithmetic mixes fail here in
# instructive ways: a parity mix (j*j + j is even) collapses groups
# onto g%2, and an LCG top bit along the (37g + 11j) progression is a
# Sturmian cut sequence, so NEIGHBORING groups' patterns correlate to
# within the Hamming threshold (measured: 2,496 pairs instead of 750
# at sf0.001). md5 makes cross-group base distances ~31 bits.
_AHASH_MIX_TMPL = (
    "('0x' || substr(md5(CAST({g} AS VARCHAR) || ':' || "
    "CAST({j} AS VARCHAR)), 1, 1))::BIGINT % 2 = 1"
)


def ahash_of_lumas(lumas: list[int]) -> int:
    """The 63-bit average hash of a 64-luma grid (bit j of pixel j,
    j < 63; divisionless mean comparison)."""
    total = sum(lumas)
    h = 0
    for j in range(AHASH_BITS):
        if AHASH_PIXELS * lumas[j] >= total:
            h |= 1 << j
    return h


def luma_of(r: int, g: int, b: int) -> int:
    """BT.601 integer luma — the exact expression the oracle replays."""
    return (299 * r + 587 * g + 114 * b) // 1000


def _neardup_base_luma(g: int, j: int) -> int:
    """Deterministic two-level base pattern for group ``g``: pixel 0
    pinned LO and pixel 63 pinned HI keep every image's mean strictly
    inside (LO, HI), so no hash bit is mean-ambiguous."""
    if j == 0:
        return _AHASH_LO
    if j == AHASH_PIXELS - 1:
        return _AHASH_HI
    mixed = int(hashlib.md5(f"{g}:{j}".encode()).hexdigest()[0], 16) % 2
    return _AHASH_HI if mixed == 1 else _AHASH_LO


def neardup_retouch_positions(g: int, m: int) -> list[int]:
    """Member ``m`` of group ``g`` retouches pixels (g*7 + k*17) % 62
    + 1 for k < m — hash-visible positions (1..62), never the pinned
    pixels, so member m sits at Hamming ~m from the group base."""
    return [(g * 7 + k * 17) % 62 + 1 for k in range(m)]


def synth_neardup_pixels(doc_id: int) -> list[list[tuple[int, int, int]]]:
    """Near-duplicate synthetic image: group base pattern with member
    m's retouched pixels flipped LO<->HI. Gray pixels (v, v, v), so
    luma == v exactly."""
    d = int(doc_id)
    g, m = d // AHASH_GROUP, d % AHASH_GROUP
    touched = set(neardup_retouch_positions(g, m))
    rows = []
    for y in range(AHASH_SIDE):
        row = []
        for x in range(AHASH_SIDE):
            j = y * AHASH_SIDE + x
            v = _neardup_base_luma(g, j)
            if j in touched:
                v = _AHASH_LO + _AHASH_HI - v
            row.append((v, v, v))
        rows.append(row)
    return rows


def synthesize_neardup_bmp(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic near-dup 8x8 24-bit BMP per document as an opaque
    ``binary`` column (Arrow-batched real encode)."""

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            yield pd.DataFrame(
                {
                    "doc_id": ids.values,
                    "payload": [
                        encode_bmp(synth_neardup_pixels(d)) for d in ids
                    ],
                }
            )

    return docs.select(id_col).mapInPandas(_synth, "doc_id long, payload binary")


def ahash_features(media: DataFrame) -> DataFrame:
    """REAL byte path: decode each BMP payload, integer-luma the pixel
    grid, emit the 63-bit aHash — one Arrow batch loop. At 100 TB this
    is the only per-byte stage; everything downstream is a signature-
    keyed equi-join."""

    def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for d, p in zip(pdf["doc_id"].astype("int64"), pdf["payload"]):
                px = decode_bmp_pixels(bytes(p))
                lumas = [luma_of(r, g, b) for row in px for (r, g, b) in row]
                out.append({"doc_id": int(d), "ahash": ahash_of_lumas(lumas)})
            yield pd.DataFrame(out)

    return media.mapInPandas(_hash, "doc_id long, ahash long")


def signature_chunks(
    df: DataFrame, sig_col: str, id_col: str = "doc_id"
) -> DataFrame:
    """(id, sig) -> (id, sig, ci, cv): the 4-chunk (16+16+16+15 bit)
    explosion of a 63-bit signature — the ONE definition of the chunk
    layout the blocked join below relies on."""
    from pyspark.sql import functions as F

    chunks = F.array(
        *[
            F.struct(
                F.lit(i).alias("ci"),
                (
                    F.expr(f"{sig_col} div {1 << (AHASH_CHUNK_BITS * i)}")
                    % (1 << AHASH_CHUNK_BITS)
                ).alias("cv"),
            )
            for i in range(AHASH_CHUNKS)
        ]
    )
    return df.select(id_col, sig_col, F.explode(chunks).alias("c")).select(
        id_col, sig_col, F.col("c.ci").alias("ci"), F.col("c.cv").alias("cv")
    )


def hamming_near_pairs(
    df: DataFrame,
    sig_col: str,
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs by Hamming distance on a 63-bit signature column
    with chunk blocking: the signature splits into 4 chunks
    (16+16+16+15 bits); any pair within Hamming<=3 shares at least one
    exact chunk (pigeonhole), so the join is an equi-join on
    (chunk_idx, value) — never all-pairs. Mirrors simhash_near_pairs;
    shared by the image (aHash) and audio (band-energy fingerprint)
    dedup paths."""
    from pyspark.sql import functions as F

    ex = signature_chunks(df, sig_col, id_col)
    a, b = ex.alias("a"), ex.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.ci") == F.col("b.ci"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col(f"a.{sig_col}").alias("h_a"),
            F.col(f"b.{sig_col}").alias("h_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.expr("bit_count(h_a ^ h_b)").cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def ahash_near_pairs(
    df: DataFrame, id_col: str = "doc_id", max_hamming: int = 3
) -> DataFrame:
    """Image near-dup pairs: the chunk-blocked Hamming join over the
    63-bit aHash column."""
    return hamming_near_pairs(
        df, sig_col="ahash", id_col=id_col, max_hamming=max_hamming
    )


# ---------------------------------------------------------------------------
# Audio near-dup fingerprinting: the fourth dedup modality (after
# text, embedding and image). A clip's
# signature is its BAND-ENERGY ENVELOPE — 16 time windows x 4 polyphase
# bands (samples i with i%4 == b inside the window, a crude integer
# band split), each cell's energy = sum of |sample|, bit j set iff
# 64 * e_j >= total energy (the divisionless mean comparison the image
# aHash uses). 63 bits -> signed-BIGINT-safe; Hamming<=3 pairs via the
# SAME 4-chunk pigeonhole equi-join. Everything downstream of the real
# WAV decode is exact integer arithmetic, so an oracle can replay the
# fingerprint in closed form from the synthetic sample function without
# touching bytes — certifying the encode -> binary -> decode ->
# signature path byte-exactly (the multimodal_wav_stats proof pattern,
# upgraded from stats to signatures).

AFP_WINDOWS = 16
AFP_BANDS = 4
AFP_CELLS = AFP_WINDOWS * AFP_BANDS  # 64
AFP_BITS = AFP_CELLS - 1  # 63: signed-BIGINT-safe signature
AFP_SAMPLES_PER_CELL = 16
AFP_WINDOW_SAMPLES = AFP_BANDS * AFP_SAMPLES_PER_CELL  # 64
AFP_CLIP_SAMPLES = AFP_WINDOWS * AFP_WINDOW_SAMPLES  # 1024 (~0.13s @ 8kHz)
AFP_GROUP = 4  # near-dup synth: clips per base-profile group
# amplitude levels of the synthetic near-dup corpus: every cell is
# exactly LO or HI and cells 0/63 are pinned LO/HI, so the clip's mean
# cell energy is STRICTLY between the two levels — every fingerprint
# bit is unambiguous and a retouch flips exactly its own bit (member m
# sits at Hamming m from the base, pair (m1 < m2) at exactly m2 - m1)
_AFP_LO, _AFP_HI = 500, 3000
# base-profile bit mix: md5 of "a:g:j" (first hex nibble, mod 2) — the
# repo-standard engine-portable hash; the "a:" prefix decorrelates the
# audio corpus from the image corpus' md5("g:j") patterns
_AFP_MIX_TMPL = (
    "('0x' || substr(md5('a:' || CAST({g} AS VARCHAR) || ':' || "
    "CAST({j} AS VARCHAR)), 1, 1))::BIGINT % 2 = 1"
)


def _afp_base_level(g: int, j: int) -> int:
    """Deterministic two-level base amplitude for group ``g``, cell
    ``j``: cell 0 pinned LO and cell 63 pinned HI keep every clip's
    mean strictly inside (LO, HI)."""
    if j == 0:
        return _AFP_LO
    if j == AFP_CELLS - 1:
        return _AFP_HI
    mixed = int(hashlib.md5(f"a:{g}:{j}".encode()).hexdigest()[0], 16) % 2
    return _AFP_HI if mixed == 1 else _AFP_LO


def synth_neardup_samples(doc_id: int):
    """Near-duplicate synthetic clip: the group base amplitude profile
    with member m's retouched cells flipped LO<->HI (same retouch
    positions as the image corpus — hash-visible cells 1..62 only).
    Sample i belongs to cell (i // 64) * 4 + i % 4 (window, polyphase
    band); within a cell the waveform is a +A/-A square wave on that
    band's sample train, so sum(|s|) over the cell is EXACTLY 16 * A."""
    import numpy as np

    d = int(doc_id)
    g, m = d // AFP_GROUP, d % AFP_GROUP
    touched = set(neardup_retouch_positions(g, m))
    i = np.arange(AFP_CLIP_SAMPLES, dtype="int64")
    cell = (i // AFP_WINDOW_SAMPLES) * AFP_BANDS + i % AFP_BANDS
    levels = np.array(
        [
            _AFP_LO + _AFP_HI - _afp_base_level(g, j)
            if j in touched
            else _afp_base_level(g, j)
            for j in range(AFP_CELLS)
        ],
        dtype="int64",
    )
    sign = 1 - 2 * ((i // AFP_BANDS) % 2)  # band-train square wave
    return (levels[cell] * sign).astype("<i2")


def synthesize_neardup_wav(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic near-dup clip per document as a REAL RIFF/WAVE
    payload in an opaque ``binary`` column (Arrow-batched encode)."""

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            yield pd.DataFrame(
                {
                    "doc_id": ids.values,
                    "payload": [
                        encode_wav(synth_neardup_samples(d)) for d in ids
                    ],
                }
            )

    return docs.select(id_col).mapInPandas(_synth, "doc_id long, payload binary")


def audio_fingerprint_of_samples(samples) -> int:
    """The 63-bit band-energy fingerprint of a decoded int16 clip:
    cell energies (sum of |s| per window x band), bit j of cell j for
    j < 63 via the divisionless mean comparison. Cell 63 still feeds
    the mean, it just contributes no bit."""
    import numpy as np

    s = np.abs(np.asarray(samples, dtype="int64"))
    assert len(s) == AFP_CLIP_SAMPLES, "fixed-length clips only"
    e = (
        s.reshape(AFP_WINDOWS, AFP_SAMPLES_PER_CELL, AFP_BANDS)
        .sum(axis=1)
        .reshape(AFP_CELLS)
    )
    total = int(e.sum())
    h = 0
    for j in range(AFP_BITS):
        if AFP_CELLS * int(e[j]) >= total:
            h |= 1 << j
    return h


def audio_fingerprint_features(media: DataFrame) -> DataFrame:
    """REAL byte path: decode each WAV payload (container parse + PCM
    frame read), band-energy the sample grid, emit the 63-bit
    fingerprint — one Arrow batch loop. At 100 TB this is the only
    per-byte stage; everything downstream is a signature-keyed
    equi-join."""
    import numpy as np

    def _fp(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for d, p in zip(pdf["doc_id"].astype("int64"), pdf["payload"]):
                with wave.open(io.BytesIO(bytes(p)), "rb") as w:
                    assert w.getsampwidth() == 2 and w.getnchannels() == 1
                    raw = w.readframes(w.getnframes())
                s = np.frombuffer(raw, dtype="<i2")
                out.append(
                    {"doc_id": int(d), "afp": audio_fingerprint_of_samples(s)}
                )
            yield pd.DataFrame(out)

    return media.mapInPandas(_fp, "doc_id long, afp long")


def audio_near_pairs(
    df: DataFrame, id_col: str = "doc_id", max_hamming: int = 3
) -> DataFrame:
    """Audio near-dup pairs: the chunk-blocked Hamming join over the
    63-bit band-energy fingerprint column."""
    return hamming_near_pairs(
        df, sig_col="afp", id_col=id_col, max_hamming=max_hamming
    )


# ---------------------------------------------------------------------------
# Video: uncompressed YUV4MPEG2 (.y4m) — real container encode/decode.
# Layout: one ASCII header line ("YUV4MPEG2 W8 H8 F25:1 Ip A1:1 C444\n"),
# then per frame an ASCII "FRAME\n" marker followed by raw Y, U, V
# planes (C444: each plane is width*height bytes, no subsampling).
# Parsing is a genuine two-level container walk (header tokenize, per-
# frame marker check, plane slicing) — the same shape ffmpeg's y4m
# demuxer implements.

Y4M_FPS = (25, 1)


def encode_y4m(
    frames: list[tuple[bytes, bytes, bytes]], width: int, height: int
) -> bytes:
    """Real YUV4MPEG2 encode: header + FRAME-marked raw C444 planes."""
    out = bytearray(
        f"YUV4MPEG2 W{width} H{height} F{Y4M_FPS[0]}:{Y4M_FPS[1]} Ip A1:1 C444\n".encode()
    )
    plane = width * height
    for y, u, v in frames:
        assert len(y) == plane and len(u) == plane and len(v) == plane
        out += b"FRAME\n" + y + u + v
    return bytes(out)


def parse_y4m_header(payload: bytes) -> dict:
    """Tokenize the y4m stream header; returns dims/fps/colorspace and
    the byte offset where frame data starts."""
    nl = payload.index(b"\n")
    toks = payload[:nl].decode("ascii").split(" ")
    assert toks[0] == "YUV4MPEG2", "not a y4m payload"
    hdr: dict = {"data_offset": nl + 1}
    for t in toks[1:]:
        tag, val = t[0], t[1:]
        if tag == "W":
            hdr["width"] = int(val)
        elif tag == "H":
            hdr["height"] = int(val)
        elif tag == "F":
            num, den = val.split(":")
            hdr["fps_num"], hdr["fps_den"] = int(num), int(den)
        elif tag == "C":
            hdr["colorspace"] = val
    assert hdr.get("colorspace", "420") == "444", "only C444 supported here"
    return hdr


def decode_y4m_frames(payload: bytes):
    """Real y4m decode: yields (frame_idx, y_plane, u_plane, v_plane)
    as bytes, verifying every FRAME marker."""
    hdr = parse_y4m_header(payload)
    plane = hdr["width"] * hdr["height"]
    pos, idx = hdr["data_offset"], 0
    while pos < len(payload):
        nl = payload.index(b"\n", pos)
        assert payload[pos : pos + 5] == b"FRAME", "corrupt FRAME marker"
        pos = nl + 1
        y = payload[pos : pos + plane]
        u = payload[pos + plane : pos + 2 * plane]
        v = payload[pos + 2 * plane : pos + 3 * plane]
        assert len(v) == plane, "truncated frame"
        yield idx, y, u, v
        pos += 3 * plane
        idx += 1


# deterministic synthetic video: every plane byte is a pure integer
# function of (doc_id, frame, x, y) — same closed-form-oracle rationale
# as the WAV/BMP synths. 8x8 C444, 2 + doc_id % 3 frames.
Y4M_SIDE = 8
Y4M_BASE_FRAMES = 2


def synth_video_frames(doc_id: int) -> list[tuple[bytes, bytes, bytes]]:
    d = int(doc_id)
    frames = []
    for f in range(Y4M_BASE_FRAMES + d % 3):
        ybuf = bytes(
            (d * 31 + f * 97 + x * 7 + y * 13) % 256
            for y in range(Y4M_SIDE)
            for x in range(Y4M_SIDE)
        )
        ubuf = bytes(
            (d * 17 + f * 29 + x) % 256 for y in range(Y4M_SIDE) for x in range(Y4M_SIDE)
        )
        vbuf = bytes(
            (d * 11 + f * 53 + y * 5) % 256
            for y in range(Y4M_SIDE)
            for x in range(Y4M_SIDE)
        )
        frames.append((ybuf, ubuf, vbuf))
    return frames


def synthesize_y4m(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic per-doc y4m clip in an opaque ``binary`` column."""

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            yield pd.DataFrame(
                {
                    "doc_id": ids.values,
                    "payload": [
                        encode_y4m(synth_video_frames(int(d)), Y4M_SIDE, Y4M_SIDE)
                        for d in ids
                    ],
                }
            )

    return docs.select(id_col).mapInPandas(_synth, "doc_id long, payload binary")


def video_frame_sample(media: DataFrame, stride: int = 2) -> DataFrame:
    """REAL video frame-sampling: decode the y4m container, keep every
    ``stride``-th frame, emit exact integer plane stats per kept frame.
    One Arrow batch in -> a (doc, frame) row per sampled frame out; the
    decode loop skips unsampled frames' plane bytes without touching
    them, which is exactly the budgeted-decode pattern
    ``frame_sample_plan`` declares for 100 TB corpora."""

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for d, p in zip(pdf["doc_id"].astype("int64"), pdf["payload"]):
                p = bytes(p)
                hdr = parse_y4m_header(p)
                for idx, y, u, v in decode_y4m_frames(p):
                    if idx % stride:
                        continue
                    rows.append(
                        {
                            "doc_id": int(d),
                            "frame_idx": idx,
                            "width": hdr["width"],
                            "height": hdr["height"],
                            "y_sum": sum(y),
                            "u_sum": sum(u),
                            "v_sum": sum(v),
                        }
                    )
            yield pd.DataFrame(rows)

    return media.mapInPandas(
        _sample,
        "doc_id long, frame_idx long, width long, height long, "
        "y_sum long, u_sum long, v_sum long",
    )


# ---------------------------------------------------------------------------
# PNG: a real COMPRESSED image codec (DEFLATE via stdlib zlib) with the
# full five-filter scanline pipeline — unlike BMP/WAV/Y4M above, this
# path exercises entropy coding + predictive filtering, the two stages
# every production image/video codec is built from. Reference parity
# target: the reference's media handling is opaque-blob + metadata
# (SURVEY §1.2); this goes further and is still dependency-free.
# ---------------------------------------------------------------------------

import zlib as _zlib

PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + tag
        + data
        + struct.pack(">I", _zlib.crc32(tag + data) & 0xFFFFFFFF)
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _filter_scanline(ftype: int, raw: bytes, prior: bytes, bpp: int) -> bytes:
    """Apply PNG filter ``ftype`` to one raw scanline (encode side)."""
    out = bytearray(len(raw))
    for i, x in enumerate(raw):
        a = raw[i - bpp] if i >= bpp else 0
        b = prior[i]
        c = prior[i - bpp] if i >= bpp else 0
        if ftype == 0:
            out[i] = x
        elif ftype == 1:
            out[i] = (x - a) & 0xFF
        elif ftype == 2:
            out[i] = (x - b) & 0xFF
        elif ftype == 3:
            out[i] = (x - (a + b) // 2) & 0xFF
        elif ftype == 4:
            out[i] = (x - _paeth(a, b, c)) & 0xFF
        else:
            raise ValueError(f"bad PNG filter {ftype}")
    return bytes(out)


def _unfilter_scanline(ftype: int, filt: bytes, prior: bytes, bpp: int) -> bytes:
    """Reconstruct one scanline from its filtered bytes (decode side)."""
    out = bytearray(len(filt))
    for i, x in enumerate(filt):
        a = out[i - bpp] if i >= bpp else 0
        b = prior[i]
        c = prior[i - bpp] if i >= bpp else 0
        if ftype == 0:
            out[i] = x
        elif ftype == 1:
            out[i] = (x + a) & 0xFF
        elif ftype == 2:
            out[i] = (x + b) & 0xFF
        elif ftype == 3:
            out[i] = (x + (a + b) // 2) & 0xFF
        elif ftype == 4:
            out[i] = (x + _paeth(a, b, c)) & 0xFF
        else:
            raise ValueError(f"bad PNG filter {ftype}")
    return bytes(out)


def encode_png(
    pixel_rows: list[list[tuple[int, int, int]]],
    row_filter=None,
) -> bytes:
    """Real PNG encode: 8-bit RGB (color type 2), per-scanline
    predictive filter, one DEFLATE stream, CRC-32 per chunk.
    ``row_filter(y) -> 0..4`` selects the filter per scanline (default
    None = 0 everywhere); routing different rows through different
    filters makes a decode hash-match prove ALL five reconstructions."""
    h = len(pixel_rows)
    w = len(pixel_rows[0]) if h else 0
    bpp = 3
    stream = bytearray()
    prior = bytes(w * bpp)
    for y, row in enumerate(pixel_rows):
        raw = bytes(v for px in row for v in px)
        ftype = int(row_filter(y)) if row_filter is not None else 0
        stream.append(ftype)
        stream += _filter_scanline(ftype, raw, prior, bpp)
        prior = raw
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", _zlib.compress(bytes(stream), 9))
        + _png_chunk(b"IEND", b"")
    )


def decode_png_bytes(payload: bytes) -> dict:
    """Real PNG decode: signature + chunk walk with CRC-32 verification,
    IDAT concatenation, DEFLATE inflate, five-filter scanline
    reconstruction, exact integer pixel stats."""
    assert payload[:8] == PNG_SIG, "not a PNG payload"
    pos = 8
    width = height = None
    idat = bytearray()
    n_idat_bytes = 0
    while pos < len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + length)
        assert crc == (_zlib.crc32(tag + data) & 0xFFFFFFFF), f"bad CRC in {tag!r}"
        if tag == b"IHDR":
            width, height, bit_depth, color_type, comp, filt, interlace = (
                struct.unpack(">IIBBBBB", data)
            )
            assert (bit_depth, color_type, comp, filt, interlace) == (8, 2, 0, 0, 0), (
                "only 8-bit RGB non-interlaced supported"
            )
        elif tag == b"IDAT":
            idat += data
            n_idat_bytes += length
        elif tag == b"IEND":
            break
        pos += 12 + length
    raw = _zlib.decompress(bytes(idat))
    bpp, row_bytes = 3, width * 3
    assert len(raw) == (row_bytes + 1) * height, "IDAT size mismatch"
    total = 0
    prior = bytes(row_bytes)
    for y in range(height):
        start = y * (row_bytes + 1)
        line = _unfilter_scanline(raw[start], raw[start + 1 : start + 1 + row_bytes], prior, bpp)
        total += sum(line)
        prior = line
    return {
        "width": width,
        "height": height,
        "n_pixels": width * height,
        "pixel_sum": total,
        "n_idat_bytes": n_idat_bytes,
    }


def synthesize_png(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic 8x8 RGB PNG per document (same pixel pattern as the
    BMP path), scanline y filtered with type (doc_id + y) % 5 — every
    document exercises several of the five PNG filters, and the corpus
    covers all alignments."""

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf[id_col].astype("int64")
            yield pd.DataFrame(
                {
                    "doc_id": ids.values,
                    "payload": [
                        encode_png(
                            synth_pixels(d), row_filter=lambda y, d=d: (int(d) + y) % 5
                        )
                        for d in ids
                    ],
                }
            )

    return docs.select(id_col).mapInPandas(_synth, "doc_id long, payload binary")


def png_features(media: DataFrame) -> DataFrame:
    """Arrow-batched PNG decode -> exact integer pixel stats."""

    def _feat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for d, p in zip(pdf["doc_id"].astype("int64"), pdf["payload"]):
                feat = decode_png_bytes(bytes(p))
                rows.append(
                    {
                        "doc_id": int(d),
                        "width": feat["width"],
                        "height": feat["height"],
                        "n_pixels": feat["n_pixels"],
                        "pixel_sum": feat["pixel_sum"],
                    }
                )
            yield pd.DataFrame(rows)

    return media.mapInPandas(
        _feat, "doc_id long, width long, height long, n_pixels long, pixel_sum long"
    )
