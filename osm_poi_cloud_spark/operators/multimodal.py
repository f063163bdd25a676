"""Multimodal column plumbing: image/audio/video as opaque binary
columns + typed metadata, processed via Arrow-batched ``mapInPandas``.

The Spark-side contract (schemas, batch shapes, partitioning) is real
and tested. Decoding is REAL for both raster formats that matter in a
web crawl: ``functions/png.py`` (pure stdlib-zlib + numpy) and
``functions/jpeg.py`` (from-spec T.81, baseline AND progressive:
Huffman + DCT + 4:2:0/4:2:2/4:4:4 + spectral-selection/successive-
approximation scans), so ``decode_image_pixels`` returns actual pixel
buffers and ``extract_image_features`` computes genuine pixel
statistics for PNG and JPEG payloads; ``functions/wav.py`` does the
same for PCM audio. The remaining codec seam is arithmetic-coded
JPEG, compressed audio (MP3/AAC) and video — those route to a
clearly-marked deterministic byte-derived fallback; swapping in a
decoder changes one branch and no plan shape.
"""

from __future__ import annotations

import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..frames import local_frame

MEDIA_SCHEMA = (
    "media_id string, kind string, payload binary, mime string, "
    "width int, height int, n_frames int, sample_rate int"
)

IMAGE_META_SCHEMA = "media_id string, mime string, width int, height int, ok boolean"


def decode_image_meta(media: DataFrame) -> DataFrame:
    """Parse image dimensions from headers (PNG/JPEG/GIF supported;
    others -> ok=false). Header parsing is pure byte math — no codec
    needed."""
    from ..functions import jpeg as jpeg_codec

    def batches(it):
        for pdf in it:
            ids, mimes, ws, hs, oks = [], [], [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                mime, w, h, ok = "application/octet-stream", 0, 0, False
                if b[:8] == b"\x89PNG\r\n\x1a\n" and len(b) >= 24:
                    w, h = struct.unpack(">II", b[16:24])
                    mime, ok = "image/png", True
                elif b[:2] == b"\xff\xd8" and (dims := jpeg_codec.parse_jpeg_dims(b)):
                    w, h = dims
                    mime, ok = "image/jpeg", True
                elif b[:6] in (b"GIF87a", b"GIF89a") and len(b) >= 10:
                    w, h = struct.unpack("<HH", b[6:10])
                    mime, ok = "image/gif", True
                ids.append(mid)
                mimes.append(mime)
                ws.append(w)
                hs.append(h)
                oks.append(ok)
            yield pd.DataFrame({"media_id": ids, "mime": mimes, "width": ws, "height": hs, "ok": oks})

    return media.select("media_id", "payload").mapInPandas(batches, schema=IMAGE_META_SCHEMA)


PIXELS_SCHEMA = "media_id string, width int, height int, channels int, pixels binary, ok boolean"


def _decode_raster(b: bytes):
    """PNG / JPEG (baseline + progressive) / GIF bytes -> (H, W, C)
    uint8, or None. Dispatches on magic; gray JPEG is normalized to
    one channel."""
    import struct as _struct
    import zlib as _zlib

    from ..functions import gif as gif_codec
    from ..functions import jpeg as jpeg_codec
    from ..functions import png as png_codec

    try:
        if b[:8] == b"\x89PNG\r\n\x1a\n":
            return png_codec.decode_png(b)
        if b[:2] == b"\xff\xd8":
            arr = jpeg_codec.decode_jpeg(b)
            return arr[:, :, None] if arr.ndim == 2 else arr
        if b[:6] in (b"GIF87a", b"GIF89a"):
            return gif_codec.decode_gif(b)
    except (ValueError, _zlib.error, _struct.error, IndexError):
        # narrow except: only decode failures route to the fallback —
        # a post-decode numpy error should surface, not get shadowed
        return None
    return None


def decode_image_pixels(media: DataFrame) -> DataFrame:
    """Full pixel decode — REAL for PNG (``functions/png.py``: 8-bit
    gray/RGB/RGBA, all row filters) and baseline JPEG
    (``functions/jpeg.py``: Huffman + DCT, 4:2:0/4:2:2/4:4:4, restart
    markers) including progressive SOF2 frames. ``pixels`` is the raw
    H*W*C uint8 buffer; unsupported payloads come back ok=false
    (remaining codec seam: arithmetic-coded JPEG, compressed audio,
    video)."""

    def batches(it):
        for pdf in it:
            rows = {k: [] for k in ("media_id", "width", "height", "channels", "pixels", "ok")}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                arr = _decode_raster(b)
                if arr is not None:
                    h, w, c = arr.shape
                    vals = (w, h, c, arr.tobytes(), True)
                else:
                    vals = (0, 0, 0, b"", False)
                rows["media_id"].append(mid)
                for k, v in zip(("width", "height", "channels", "pixels", "ok"), vals):
                    rows[k].append(v)
            yield pd.DataFrame(rows)

    return media.select("media_id", "payload").mapInPandas(batches, schema=PIXELS_SCHEMA)


FEATURE_SCHEMA = "media_id string, feature array<float>"


def extract_image_features(media: DataFrame, dim: int = 64) -> DataFrame:
    """Per-item feature vector: REAL pixel statistics for PNG and
    baseline-JPEG payloads (per-channel means/stds + a luminance
    histogram over actual decoded pixels); undecodable payloads take
    the deterministic byte-derived fallback — the remaining codec seam
    (arithmetic-coded JPEG, compressed audio, video)."""
    if dim < 16:
        raise ValueError(f"dim must be >= 16 (8 header stats + histogram), got {dim}")

    def _decode(b: bytes) -> np.ndarray:
        raw = _decode_raster(b)
        arr = raw.astype(np.float32) / 255.0 if raw is not None else None
        if arr is not None:
            h, w, c = arr.shape
            lum = arr.mean(axis=2).ravel()
            hist, _ = np.histogram(lum, bins=dim - 8, range=(0.0, 1.0))
            head = np.zeros(8, dtype=np.float32)
            head[0], head[1], head[2] = w / 4096.0, h / 4096.0, c / 4.0
            head[3] = float(lum.mean())
            head[4] = float(lum.std())
            head[5:5 + min(c, 3)] = arr.reshape(-1, c).mean(axis=0)[:3]
            return np.concatenate([head, hist / max(lum.size, 1)]).astype(np.float32)
        # fallback (codec seam): reproducible pseudo-feature from bytes
        h = np.frombuffer(b, dtype=np.uint8)
        if len(h) == 0:
            return np.zeros(dim, dtype=np.float32)
        reps = int(np.ceil(dim / len(h)))
        v = np.tile(h, reps)[:dim].astype(np.float32)
        return v / 255.0

    def batches(it):
        for pdf in it:
            feats = [_decode(bytes(p) if p is not None else b"").tolist() for p in pdf["payload"]]
            yield pd.DataFrame({"media_id": pdf["media_id"], "feature": feats})

    return media.select("media_id", "payload").mapInPandas(batches, schema=FEATURE_SCHEMA)


AUDIO_SAMPLES_SCHEMA = (
    "media_id string, n_frames int, n_channels int, sample_rate int, "
    "samples binary, ok boolean"
)


def decode_audio_samples(media: DataFrame) -> DataFrame:
    """Raw decoded audio: RIFF/WAVE PCM payloads -> float64 samples in
    [-1, 1] as little-endian bytes (``(frames, channels)`` row-major) —
    the canonical form downstream feature extractors / models consume.
    Integer PCM dequantization is exact IEEE (divide by 2^(bits-1)-1),
    so the byte stream is deterministic and golden-pinnable. Compressed
    audio comes back ok=false (the remaining audio seam)."""
    from ..functions import wav as wav_codec

    def batches(it):
        for pdf in it:
            rows = {k: [] for k in ("media_id", "n_frames", "n_channels",
                                    "sample_rate", "samples", "ok")}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                try:
                    samples, rate = wav_codec.decode_wav(b)
                    vals = (samples.shape[0], samples.shape[1], rate,
                            np.ascontiguousarray(samples, dtype="<f8").tobytes(),
                            True)
                except (ValueError, struct.error):
                    vals = (0, 0, 0, b"", False)
                rows["media_id"].append(mid)
                for k, v in zip(("n_frames", "n_channels", "sample_rate",
                                 "samples", "ok"), vals):
                    rows[k].append(v)
            yield pd.DataFrame(rows)

    return media.select("media_id", "payload").mapInPandas(
        batches, schema=AUDIO_SAMPLES_SCHEMA)


AUDIO_FEATURE_SCHEMA = (
    "media_id string, duration double, sample_rate int, "
    "feature array<float>, ok boolean"
)


def extract_audio_features(media: DataFrame, n_bands: int = 8) -> DataFrame:
    """Per-clip audio features — REAL for RIFF/WAVE PCM payloads
    (``functions/wav.py``: 8/16/24/32-bit integer PCM + float32,
    extensible wrapper): duration, RMS, peak, zero-crossing rate,
    spectral centroid and log-power band energies over actual decoded
    samples. Compressed audio (MP3/AAC/...) comes back ok=false — the
    remaining audio seam."""
    from ..functions import wav as wav_codec

    def batches(it):
        for pdf in it:
            rows = {k: [] for k in ("media_id", "duration", "sample_rate", "feature", "ok")}
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                try:
                    samples, rate = wav_codec.decode_wav(b)
                    feat = wav_codec.audio_features(samples, rate, n_bands)
                    vals = (len(samples) / rate, rate, feat.tolist(), True)
                except (ValueError, struct.error):
                    vals = (0.0, 0, [0.0] * (5 + n_bands), False)
                rows["media_id"].append(mid)
                for k, v in zip(("duration", "sample_rate", "feature", "ok"), vals):
                    rows[k].append(v)
            yield pd.DataFrame(rows)

    return media.select("media_id", "payload").mapInPandas(batches, schema=AUDIO_FEATURE_SCHEMA)


def sample_frames(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Frame sampling plan for video rows: emits (media_id, frame_idx)
    rows natively from n_frames metadata; the per-frame pixel fetch is
    the codec seam. Explode happens JVM-side — no Python."""
    return (
        media.filter(F.col("kind") == "video")
        .select(
            "media_id",
            F.explode(F.sequence(F.lit(0), F.greatest(F.col("n_frames") - 1, F.lit(0)), F.lit(every_n))).alias("frame_idx"),
        )
    )


DHASH_SCHEMA = "media_id string, dhash long, ok boolean"


def dhash_from_array(arr: np.ndarray, hash_size: int = 8) -> int | None:
    """Difference hash (dHash) of one decoded image: channel-mean
    grayscale -> deterministic integer-boundary block-mean downsample
    to (hash_size, hash_size+1) -> horizontal gradient sign bits packed
    row-major MSB-first into a signed 64-bit int. Every step is plain
    float64 numpy with fixed boundaries (``(k * dim) // n``) — no
    interpolation library, so an independent recompute from the source
    arrays reproduces it bit-for-bit (the golden-oracle route). Images
    smaller than the block grid return None."""
    h, w = arr.shape[:2]
    rows, cols = hash_size, hash_size + 1
    if h < rows or w < cols:
        return None
    gray = arr.astype(np.float64).mean(axis=2)
    re_ = (np.arange(rows + 1) * h) // rows
    ce_ = (np.arange(cols + 1) * w) // cols
    block = np.empty((rows, cols))
    for r in range(rows):
        for c in range(cols):
            block[r, c] = gray[re_[r]:re_[r + 1], ce_[c]:ce_[c + 1]].mean()
    bits = block[:, :-1] > block[:, 1:]
    v = 0
    for b in bits.ravel():
        v = (v << 1) | int(b)
    return v - (1 << 64) if v >= (1 << 63) else v


def image_dhash(media: DataFrame, hash_size: int = 8) -> DataFrame:
    """(media_id, dhash, ok) — perceptual difference-hash per image via
    the real codec decode (PNG/JPEG/GIF); undecodable or sub-grid
    payloads come back ok=false. The standard cheap image near-dup
    signature: a re-encode, small overlay or mild crop moves only a few
    gradient-sign bits, so Hamming distance ranks near-duplicates."""
    if not 2 <= hash_size <= 8:
        raise ValueError(f"hash_size must be in [2, 8] (64-bit budget), got {hash_size}")

    def batches(it):
        for pdf in it:
            ids, hs, oks = [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                arr = _decode_raster(b)
                v = dhash_from_array(arr, hash_size) if arr is not None else None
                ids.append(mid)
                hs.append(0 if v is None else v)
                oks.append(v is not None)
            yield pd.DataFrame({"media_id": ids, "dhash": hs, "ok": oks})

    return media.select("media_id", "payload").mapInPandas(batches, schema=DHASH_SCHEMA)


def dhash_near_dup_pairs(hashes: DataFrame, max_hamming: int = 6,
                         bands: int = 8, id_col: str = "media_id",
                         hash_col: str = "dhash") -> DataFrame:
    """(a, b, hamming) image near-dup pairs with Hamming(dhash) <=
    ``max_hamming`` via band blocking (the simhash_pairs pattern): the
    64-bit hash splits into ``bands`` equal bands; pigeonhole requires
    ``max_hamming < bands`` so a qualifying pair collides on at least
    one whole band. One self-join on (band, bucket) + a native
    ``bit_count(xor)`` verify — no all-pairs anywhere."""
    if max_hamming >= bands:
        raise ValueError(
            f"pigeonhole needs max_hamming < bands (got {max_hamming} >= {bands})")
    if 64 % bands != 0:
        raise ValueError(f"bands must divide 64, got {bands}")
    width = 64 // bands
    mask = (1 << width) - 1
    hs = hashes.select(F.col(id_col), F.col(hash_col).alias("dh"))
    banded = hs.select(
        id_col, "dh",
        F.explode(F.array(*[
            F.struct(
                F.lit(bi).alias("band"),
                F.shiftrightunsigned(F.col("dh"), bi * width)
                .bitwiseAND(F.lit(mask)).alias("bucket"))
            for bi in range(bands)
        ])).alias("bb"),
    ).select(id_col, "dh", F.col("bb.band").alias("band"),
             F.col("bb.bucket").alias("bucket"))
    l, r = banded.alias("l"), banded.alias("r")
    cand = (
        l.join(r, on=["band", "bucket"])
        .filter(F.col(f"l.{id_col}") < F.col(f"r.{id_col}"))
        .select(F.col(f"l.{id_col}").alias("a"), F.col(f"r.{id_col}").alias("b"),
                F.col("l.dh").alias("dh_a"), F.col("r.dh").alias("dh_b"))
        .dropDuplicates(["a", "b"])
    )
    hamming = F.bit_count(F.col("dh_a").bitwiseXOR(F.col("dh_b")))
    return (cand.withColumn("hamming", hamming)
            .filter(F.col("hamming") <= max_hamming)
            .select("a", "b", "hamming"))


def make_near_dup_media(spark, n_base: int = 48) -> DataFrame:
    """Deterministic image fixture with PLANTED near-duplicates: base
    gradient PNGs ``b{i}``; every even ``i`` also gets two perturbed
    copies ``b{i}c{0,1}`` (a 3x3 inverted patch at a deterministic
    position — a tiny fraction of the 32x24 canvas, so dHash moves only
    a few bits). Formulas are closed over (i, c) so the golden oracle
    re-derives every array independently:

        base:  arr[y, x, k] = (x*(3 + i%5) + y*(5 + 2*(i%7)) + i*17 + k*31) % 256
        copy:  patch [r0:r0+3, c0:c0+3] -> 255 - value,
               r0 = (i*7 + c*3) % (24-3), c0 = (i*11 + c*5) % (32-3)
    """
    from ..functions import png as png_codec

    rows = []
    for i in range(n_base):
        h, w = 24, 32
        yy, xx = np.mgrid[0:h, 0:w]
        arr = np.stack([(xx * (3 + i % 5) + yy * (5 + 2 * (i % 7))
                         + i * 17 + k * 31) % 256
                        for k in range(3)], axis=2).astype(np.uint8)
        rows.append((f"b{i}", "image", png_codec.encode_png(arr),
                     "image/png", w, h, 0, 0))
        if i % 2 == 0:
            for c in range(2):
                pert = arr.copy()
                r0 = (i * 7 + c * 3) % (h - 3)
                c0 = (i * 11 + c * 5) % (w - 3)
                pert[r0:r0 + 3, c0:c0 + 3] = 255 - pert[r0:r0 + 3, c0:c0 + 3]
                rows.append((f"b{i}c{c}", "image", png_codec.encode_png(pert),
                             "image/png", w, h, 0, 0))
    return local_frame(spark, rows, MEDIA_SCHEMA)


def image_text_pairs(image_refs: DataFrame, media_index: DataFrame,
                     features: DataFrame | None = None,
                     max_texts: int = 16,
                     require_text: bool = True) -> DataFrame:
    """CLIP-style (image, alt/caption) pair table: join ``<img>``
    references (``functions/links.py extract_image_refs``: src,
    img_url, alt) against the fetched-media catalog ``media_index``
    (url, media_id) and optionally against decoded image features
    (``extract_image_features``: media_id, feature).

    Output one row per IMAGE: (media_id, img_url, n_refs, n_pages,
    texts[, feature]) with up to ``max_texts`` DISTINCT non-empty alt
    texts in sorted order — the same bounded-deterministic aggregation
    as ``anchor_text_corpus`` (a hotlinked logo referenced from 10^7
    pages must not build a 10^7-element list). ``require_text`` drops
    images whose every reference had empty alt (no caption signal — the
    standard CLIP-pair filter); the exploded (media_id, text) training
    view is ``explode(texts)``.

    Scale shape: the refs side is the 10^12-row one; the join shuffles
    on img_url/url (AQE broadcasts a small catalog automatically), the
    aggregate is partial+final on media's cardinality, and the feature
    join keys on media_id — all native, no Python."""
    joined = image_refs.join(
        media_index.select(F.col("url").alias("img_url"), "media_id"),
        "img_url")
    agg = (
        joined.groupBy("media_id", "img_url")
        .agg(
            F.count(F.lit(1)).alias("n_refs"),
            F.countDistinct("src").alias("n_pages"),
            F.slice(F.sort_array(F.collect_set(
                F.when(F.col("alt") != "", F.col("alt")))),
                1, max_texts).alias("texts"),
        )
    )
    if require_text:
        agg = agg.filter(F.size("texts") > 0)
    if features is not None:
        agg = agg.join(features.select("media_id", "feature"), "media_id", "left")
    return agg


def make_synthetic_media(spark, n: int = 64) -> DataFrame:
    """Deterministic media fixture: REAL decodable PNGs, baseline JPEGs
    and PCM WAVs (via the stdlib codecs), valid GIF headers, fake
    video/compressed-audio rows for the not-ok paths."""
    from ..functions import jpeg as jpeg_codec
    from ..functions import png as png_codec
    from ..functions import wav as wav_codec

    rows = []
    for i in range(n):
        kind = ("image", "image", "video", "audio")[i % 4]
        if kind == "image" and i % 2 == 0:
            w, h = 16 + i % 7, 9 + i % 5
            c = (1, 3, 4)[i % 3]
            yy, xx = np.mgrid[0:h, 0:w]
            img = ((xx * 7 + yy * 13 + i) % 256).astype(np.uint8)
            arr = img if c == 1 else np.stack([(img + k * 31) % 256 for k in range(c)], axis=2).astype(np.uint8)
            payload = png_codec.encode_png(arr)
            rows.append((f"m{i}", kind, payload, "image/png", w, h, 0, 0))
        elif kind == "image" and i % 8 == 1:
            w, h = 18 + i % 9, 12 + i % 4
            yy, xx = np.mgrid[0:h, 0:w]
            rgb = np.stack([((xx * 11 + k * 40 + i) % 256) for k in range(3)], axis=2).astype(np.uint8)
            sub = ("4:4:4", "4:2:0")[i % 2]
            enc = (jpeg_codec.encode_jpeg_progressive if i % 16 == 9
                   else jpeg_codec.encode_jpeg)  # half the JPEGs are SOF2
            payload = enc(rgb, quality=90, subsampling=sub)
            rows.append((f"m{i}", kind, payload, "image/jpeg", w, h, 0, 0))
        elif kind == "image":  # real decodable GIF (interlace varies)
            from ..functions import gif as gif_codec

            w, h = 20 + i % 11, 10 + i % 3
            yy, xx = np.mgrid[0:h, 0:w]
            idx = ((xx + yy + i) % 5).astype(np.uint8)
            pal = np.array([[(p * 53 + i) % 256, (p * 29) % 256, (p * 17) % 256]
                            for p in range(5)], dtype=np.uint8)
            payload = gif_codec.encode_gif(idx, pal, interlace=bool(i % 16 == 5))
            rows.append((f"m{i}", kind, payload, "image/gif", w, h, 0, 0))
        elif kind == "video":
            rows.append((f"m{i}", kind, bytes([i % 251]) * 64, "video/fake", 0, 0, 30 + i, 0))
        elif i % 8 == 3:  # real PCM WAV (alternating bit depths)
            t = np.arange(800 + 40 * (i % 5)) / 16000.0
            tone = 0.5 * np.sin(2 * np.pi * (220 + 20 * i) * t)
            bits = (16, 8, 32, -32)[(i // 8) % 4]
            payload = wav_codec.encode_wav(tone, sample_rate=16000, bits=bits)
            rows.append((f"m{i}", kind, payload, "audio/wav", 0, 0, 0, 16000))
        else:  # compressed-audio stand-in: the remaining seam, ok=false
            rows.append((f"m{i}", kind, bytes([i % 251]) * 48, "audio/fake", 0, 0, 0, 16000))
    return local_frame(spark, rows, MEDIA_SCHEMA)


EXIF_GPS_SCHEMA = ("media_id string, lat double, lon double, "
                   "byte_order string, has_gps boolean")


def extract_exif_gps(media: DataFrame) -> DataFrame:
    """GPS coordinates from each JPEG payload's EXIF APP1 segment
    (functions/exif.py from-spec TIFF-IFD parser — externally validated
    against real camera EXIF on this VM) — the web's second geo signal:
    a page's photos carry lat/lon the page text never states. Output
    feeds the same tile/cell/PIP machinery as extracted POIs
    (``lat``/``lon`` NULL and ``has_gps`` false when the payload has no
    parsable GPS; corrupt bytes never raise — fuzz-pinned).

    One Arrow-batched stage over (media_id, payload); the per-payload
    work is header-walk byte math, no pixel decode."""
    from ..functions import exif as ex

    def batches(it):
        for pdf in it:
            ids, lats, lons, bos, oks = [], [], [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                tags = ex.parse_exif(b)
                ll = ex.exif_gps_latlon(b)
                ids.append(mid)
                bos.append(tags["byte_order"] if tags else None)
                if ll is None:
                    lats.append(None)
                    lons.append(None)
                    oks.append(False)
                else:
                    lats.append(ll[0])
                    lons.append(ll[1])
                    oks.append(True)
            yield pd.DataFrame({
                "media_id": ids,
                "lat": pd.Series(lats, dtype="float64"),
                "lon": pd.Series(lons, dtype="float64"),
                "byte_order": bos,
                "has_gps": oks,
            })

    return media.select("media_id", "payload").mapInPandas(
        batches, schema=EXIF_GPS_SCHEMA)
