"""Multimodal column plumbing (training-data-pipeline extension).

Image/audio/video are opaque ``binary`` columns with typed metadata
structs.  The Spark-side plumbing — schema, binaryFile ingestion,
Arrow-batched mapInPandas, partitioning — is real and tested.

Pixel decode is hermetic (stdlib + numpy) for exactly three inputs:
uncompressed BMP, PNG at every depth incl. Adam7 interlace, and raw or
FlateDecode PDF image XObjects.  Every other codec (GIF, JPEG, JPX,
compressed BMP) goes through a decode provider — the ``decode=`` slot
of ``resize_pixels`` / ``extract_features``, e.g.
:class:`PilDecodeProvider`; without one those rows are quarantined
with NULL pixels and the reason.  Header sniffing needs no codec:
``decode_image_meta`` reads PNG/GIF/JPEG/BMP dimensions with plain
struct parsing.  Audio decodes PCM, G.711 and IMA-ADPCM WAV samples;
compressed audio and video frames stay stubbed.  ``extract_features``
computes a deterministic histogram feature vector standing in for a
real vision embedding.

The reference's closest operator is docling file conversion (S5,
handlers/file.py:196-299: binary -> markdown + metadata in a process
pool); this is its engine-side generalization.
"""

from __future__ import annotations

import struct as _struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("modality", T.StringType(), True),  # image/audio/video/unknown
        T.StructField("content", T.BinaryType(), True),
        T.StructField("length", T.LongType(), True),
    ]
)

IMAGE_META = T.StructType(
    [
        T.StructField("format", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("valid", T.BooleanType(), False),
    ]
)

_EXT_MODALITY = {
    "png": "image", "jpg": "image", "jpeg": "image", "gif": "image",
    "bmp": "image",
    "wav": "audio", "mp3": "audio", "flac": "audio",
    "mp4": "video", "mkv": "video", "webm": "video",
}


def read_binary_dir(spark, path: str, glob: str = "*") -> DataFrame:
    """binaryFile source -> MEDIA_SCHEMA rows (S5's ingestion shape).
    At scale the source parallelizes by file; maxPartitionBytes bounds
    per-task memory."""
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", glob)
        .load(path)
    )
    ext = F.lower(F.element_at(F.split(F.col("path"), r"\."), -1))
    modality = F.coalesce(
        F.create_map(*[F.lit(x) for kv in _EXT_MODALITY.items() for x in kv])[ext],
        F.lit("unknown"),
    )
    return df.select(
        "path",
        modality.alias("modality"),
        "content",
        F.col("length").cast("long").alias("length"),
    )


def _parse_image_header(data: bytes | None) -> tuple:
    """Header-only dimension sniffing (PNG/GIF/JPEG/BMP) —
    deterministic, no codecs.  Full pixel decode lives in
    ``_decode_pixels`` (BMP and PNG; other formats need a decode
    provider)."""
    if not data or len(data) < 12:
        return (None, None, None, False)
    if data[:8] == b"\x89PNG\r\n\x1a\n" and len(data) >= 24:
        w, h = _struct.unpack(">II", data[16:24])
        return ("png", int(w), int(h), True)
    if data[:6] in (b"GIF87a", b"GIF89a"):
        w, h = _struct.unpack("<HH", data[6:10])
        return ("gif", int(w), int(h), True)
    if data[:2] == b"\xff\xd8":
        # walk JPEG segments to any SOFn (all frame types carry dims;
        # 0xC4/0xC8/0xCC are DHT/JPG/DAC, not frames)
        i = 2
        while i + 9 < len(data):
            if data[i] != 0xFF:
                break
            marker = data[i + 1]
            seg_len = _struct.unpack(">H", data[i + 2 : i + 4])[0]
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                h, w = _struct.unpack(">HH", data[i + 5 : i + 9])
                return ("jpeg", int(w), int(h), True)
            i += 2 + seg_len
        return ("jpeg", None, None, False)
    if data[:2] == b"BM" and len(data) >= 26:
        # BITMAPINFOHEADER (and V4/V5 supersets): signed dims at 18/22;
        # negative height = top-down row order (normalized in decode)
        w, h = _struct.unpack("<ii", data[18:26])
        return ("bmp", int(w), abs(int(h)), w > 0 and h != 0)
    return (None, None, None, False)


def _decode_bmp_pixels(data: bytes) -> "np.ndarray":
    """Uncompressed (BI_RGB) 24/32-bit BMP -> (h, w, 3) uint8 RGB.

    Pure stdlib struct + numpy: pixel-array offset from the file
    header, 4-byte-aligned row stride, bottom-up rows flipped (or
    top-down when height is negative), BGR(A) channel order swapped to
    RGB.  Palette/compressed BMP variants raise like codec formats."""
    if len(data) < 54:
        raise ValueError("truncated BMP header")
    px_off = _struct.unpack("<I", data[10:14])[0]
    w, h = _struct.unpack("<ii", data[18:26])
    bpp = _struct.unpack("<H", data[28:30])[0]
    compression = _struct.unpack("<I", data[30:34])[0]
    if compression != 0 or bpp not in (24, 32):
        raise NotImplementedError(
            f"BMP variant not hermetically decodable (bpp={bpp}, "
            f"compression={compression}); swap in PIL/libvips in production"
        )
    top_down = h < 0
    h = abs(h)
    nch = bpp // 8
    stride = ((bpp * w + 31) // 32) * 4
    if px_off + stride * h > len(data):
        raise ValueError("truncated BMP pixel array")
    rows = np.frombuffer(
        data, dtype=np.uint8, count=stride * h, offset=px_off
    ).reshape(h, stride)
    px = rows[:, : w * nch].reshape(h, w, nch)
    if not top_down:
        px = px[::-1]
    # BGR(A) -> RGB, alpha dropped
    return np.ascontiguousarray(px[:, :, 2::-1])


def _png_paeth(a: int, b: int, c: int) -> int:
    """Paeth predictor (PNG spec 9.4): nearest of left/up/up-left to
    the linear estimate a + b - c, ties left > up > up-left."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _png_unfilter(
    raw: bytes, h: int, rowlen: int, bpp: int, pos: int
) -> tuple["np.ndarray", int]:
    """Reconstruct ``h`` filtered rows of ``rowlen`` bytes starting at
    ``pos`` in the decompressed stream -> ((h, rowlen) uint8, next
    pos).  PNG filtering is BYTE-wise with the left-neighbor ``bpp``
    bytes back (spec 9.2) — the same routine therefore serves 8- and
    16-bit depths and every Adam7 sub-image (each pass filters
    independently, spec 8.2)."""
    if len(raw) < pos + h * (1 + rowlen):
        raise ValueError("truncated PNG pixel data")
    out = np.zeros((h, rowlen), dtype=np.uint8)
    prev = np.zeros(rowlen, dtype=np.intp)
    for y in range(h):
        ftype = raw[pos]
        line = np.frombuffer(raw, np.uint8, rowlen, pos + 1).astype(np.intp)
        if ftype == 0:
            rec = line
        elif ftype == 1:  # Sub: prefix sum per byte offset
            rec = line.copy()
            for c in range(bpp):
                rec[c::bpp] = np.cumsum(rec[c::bpp]) & 0xFF
        elif ftype == 2:  # Up
            rec = (line + prev) & 0xFF
        elif ftype == 3:  # Average (left term is sequential)
            rec = np.empty(rowlen, dtype=np.intp)
            for x in range(rowlen):
                a = rec[x - bpp] if x >= bpp else 0
                rec[x] = (line[x] + (a + prev[x]) // 2) & 0xFF
        elif ftype == 4:  # Paeth (sequential)
            rec = np.empty(rowlen, dtype=np.intp)
            for x in range(rowlen):
                a = rec[x - bpp] if x >= bpp else 0
                c = prev[x - bpp] if x >= bpp else 0
                rec[x] = (line[x] + _png_paeth(int(a), int(prev[x]), int(c))) & 0xFF
            rec = rec & 0xFF
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
        out[y] = rec.astype(np.uint8)
        prev = rec
        pos += 1 + rowlen
    return out, pos


#: Adam7 pass geometry (PNG spec 8.2): (x0, y0, dx, dy) per pass
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _decode_png_pixels(data: bytes) -> "np.ndarray":
    """8/16-bit PNG (plain or Adam7-interlaced) -> (h, w, 3) uint8
    RGB, pure stdlib ``zlib`` + per-row byte-wise filter
    reconstruction (PNG spec filters 0-4: None/Sub/Up/Average/Paeth;
    the left neighbor sits ``bpp`` bytes back, which is what makes
    the same loop serve both depths).  Color types: 0 gray, 2 RGB, 3
    palette (PLTE), 4 gray+alpha, 6 RGBA — alpha dropped, gray
    broadcast; 16-bit samples keep their high byte (the standard
    16->8 downsample: the high byte IS floor(v/257 + eps) to within
    one count, and round-trips 8-bit-upsampled content exactly).
    Adam7 passes unfilter independently and scatter into the full
    grid (spec 8.2).  PNG is the one compressed raster stdlib can
    fully decode (DEFLATE is ``zlib``) — and every depth/color pair of
    spec table 11.1 now does, incl. sub-byte (1/2/4-bit) gray and
    palette via MSB-first field unpacking; codec formats still raise
    — no image library in this environment."""
    if data[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos, ihdr, plte, idat = 8, None, None, []
    while pos + 8 <= len(data):
        (clen,) = _struct.unpack(">I", data[pos : pos + 4])
        ctype = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + clen]
        if ctype == b"IHDR":
            ihdr = _struct.unpack(">IIBBBBB", body)
        elif ctype == b"PLTE":
            plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"IEND":
            break
        pos += 12 + clen  # len + type + data + crc
    if ihdr is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    w, h, depth, color, comp, filt, interlace = ihdr
    nch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color)
    subbyte_ok = depth in (1, 2, 4) and color in (0, 3)  # spec table 11.1
    if (depth not in (8, 16) and not subbyte_ok) or nch is None \
            or comp != 0 or filt != 0 \
            or interlace not in (0, 1) or (depth == 16 and color == 3):
        raise NotImplementedError(
            f"PNG variant not hermetically decodable (depth={depth}, "
            f"color={color}, interlace={interlace}); swap in PIL/libvips "
            "in production"
        )
    import zlib

    # zlib.error is NOT a ValueError — left raw it would escape every
    # caller's (NotImplementedError, ValueError) quarantine net and
    # kill the Spark task on one truncated upload
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error as exc:
        raise ValueError(f"truncated PNG pixel data: {exc}") from exc
    # filter reconstruction is byte-wise; for sub-byte depths the left
    # neighbor is ONE byte back (spec 9.2: bpp rounds up to 1)
    bpp = max(1, nch * depth // 8)

    def row_bytes(wp: int) -> int:
        return wp * bpp if depth >= 8 else (wp * depth + 7) // 8

    def rows_to_samples(mat: "np.ndarray", wp: int) -> "np.ndarray":
        """(rows, row_bytes) -> (rows, wp, nch) uint8 samples: 16-bit
        keeps the big-endian high byte; sub-byte depths unpack
        MSB-first fields (gray scales to full range, palette indexes
        stay raw)."""
        if depth == 8:
            return mat.reshape(-1, wp, nch)
        if depth == 16:
            return mat.reshape(-1, wp, nch, 2)[..., 0]
        per_byte = 8 // depth
        shifts = np.array(
            [8 - depth * (i + 1) for i in range(per_byte)], dtype=np.uint8
        )
        mask = (1 << depth) - 1
        fields = (
            (mat[:, :, None].astype(np.uint16) >> shifts[None, None, :])
            & mask
        )
        samples = fields.reshape(mat.shape[0], -1)[:, :wp]
        if color == 0:  # gray: e.g. 1-bit {0,1} -> {0,255}
            samples = samples * 255 // mask
        return samples.astype(np.uint8)[:, :, None]

    if interlace == 0:
        mat, _ = _png_unfilter(raw, h, row_bytes(w), bpp, 0)
        px = rows_to_samples(mat, w)
    else:  # Adam7: 7 independently-filtered sub-images, scattered
        px = np.zeros((h, w, nch), dtype=np.uint8)
        pos = 0
        for x0, y0, dx, dy in _ADAM7:
            wp = (w - x0 + dx - 1) // dx
            hp = (h - y0 + dy - 1) // dy
            if wp <= 0 or hp <= 0:
                continue  # empty pass emits no bytes (spec 8.2)
            mat, pos = _png_unfilter(raw, hp, row_bytes(wp), bpp, pos)
            px[y0::dy, x0::dx] = rows_to_samples(mat, wp)
    if color == 3:
        if plte is None:
            raise ValueError("palette PNG without PLTE")
        return np.ascontiguousarray(plte[px[:, :, 0]])
    if nch == 1:  # gray
        return np.ascontiguousarray(np.repeat(px, 3, axis=2))
    if nch == 2:  # gray + alpha
        return np.ascontiguousarray(np.repeat(px[:, :, :1], 3, axis=2))
    return np.ascontiguousarray(px[:, :, :3])  # RGB / RGBA


#: decode ceilings, checked BEFORE any decode work, on the hermetic
#: PNG/BMP path and in front of every decode provider: a few hundred
#: KB of bytes can declare 100 MP (or inflate, as a zlib bomb, into
#: gigabytes) and would otherwise wedge an executor core.  Both are
#: caller-tunable resource guards (pass None to lift), not
#: result-shaping constants — a refused file is a NULL-honest
#: quarantined row, never a wrong answer.
MAX_DECODE_BYTES = 64 << 20
MAX_DECODE_PIXELS = 1 << 24  # ~16.8 MP


def _decode_guard(
    data: bytes, max_bytes: int | None, max_pixels: int | None
) -> None:
    """Refuse oversized inputs before decoding: the byte ceiling reads
    len() only; the pixel ceiling reads the HEADER-declared dimensions
    (cheap struct sniff — the point is to never start the expensive
    entropy decode).  Raises ValueError, the same taxonomy the codecs
    use, so callers' quarantine routing applies unchanged."""
    if max_bytes is not None and len(data) > max_bytes:
        raise ValueError(
            f"decode refused: {len(data)} bytes > max_decode_bytes "
            f"{max_bytes}"
        )
    if max_pixels is not None:
        _, w, h, _ = _parse_image_header(data)
        if w and h and w * h > max_pixels:
            raise ValueError(
                f"decode refused: {w}x{h} = {w * h} pixels > "
                f"max_decode_pixels {max_pixels}"
            )


def _decode_pixels(
    data: bytes,
    max_bytes: int | None = MAX_DECODE_BYTES,
    max_pixels: int | None = MAX_DECODE_PIXELS,
):
    """Hermetic pixel decode -> (h, w, 3) uint8 RGB.  Two codecs, both
    stdlib + numpy: uncompressed BMP and PNG at every spec depth/color
    pair (1/2/4/8/16-bit, plain or Adam7-interlaced).  Every other
    format (GIF, JPEG, compressed BMP...) raises NotImplementedError:
    those go through a decode provider (:class:`PilDecodeProvider`),
    and the callers quarantine the row when none decodes it.

    Inputs over the byte/pixel ceilings are REFUSED with ValueError
    before any decode work (see :func:`_decode_guard`)."""
    if data is not None:
        _decode_guard(bytes(data), max_bytes, max_pixels)
    codec = None
    if data is not None and bytes(data[:2]) == b"BM":
        codec = ("BMP", _decode_bmp_pixels)
    elif data is not None and bytes(data[:8]) == b"\x89PNG\r\n\x1a\n":
        codec = ("PNG", _decode_png_pixels)
    if codec is not None:
        fmt, fn = codec
        # corrupt bytes surface as whatever the parser tripped on
        # (struct.error, IndexError, numpy shape errors...) — normalize
        # to the ValueError taxonomy so every caller's per-row
        # quarantine net catches them instead of the task dying
        try:
            return fn(bytes(data))
        except (NotImplementedError, ValueError):
            raise
        except Exception as exc:  # noqa: BLE001 — corrupt upload, not ours
            raise ValueError(
                f"corrupt {fmt} data: {type(exc).__name__}: {exc}"
            ) from exc
    raise NotImplementedError(
        "pixel decode requires an image codec library; pass a decode "
        "provider such as PilDecodeProvider"
    )


class HermeticDecodeProvider:
    """Default decode provider: the hermetic BMP/PNG codecs above
    (:func:`_decode_pixels`); every other format gets ``None``, so a
    deployment that needs GIF, JPEG or anything else swaps in
    :class:`PilDecodeProvider`.  Provider contract (the OCR/embedder
    pattern, one slot a deployment swaps):
    ``decode_batch(blobs) -> [HxWx3 uint8 ndarray | None]`` — one
    entry per blob, ``None`` = this provider cannot decode that blob
    (caller falls back / quarantines); resource refusals raise
    ValueError so the caller's guard taxonomy applies unchanged."""

    def __init__(
        self,
        max_bytes: int | None = MAX_DECODE_BYTES,
        max_pixels: int | None = MAX_DECODE_PIXELS,
    ):
        self.max_bytes = max_bytes
        self.max_pixels = max_pixels

    def decode_batch(self, blobs) -> list:
        out = []
        for b in blobs:
            if b is None:
                out.append(None)
                continue
            try:
                out.append(
                    _decode_pixels(bytes(b), self.max_bytes, self.max_pixels)
                )
            except NotImplementedError:
                out.append(None)
        return out


class PilDecodeProvider:
    """Native decode provider over Pillow — the production slot for
    the multimodal scan and the only path for GIF, JPEG and every other
    codec the hermetic BMP/PNG decoder refuses.  Import-gated: without
    Pillow, constructing it raises ImportError and tests skip; the
    Spark-side plumbing (batch contract, guard-first order, fallback)
    is exercised with a test double either way.

    On BMP and PNG its pixels equal the hermetic decoder's exactly
    (both formats are lossless, so the spec mandates the pixels)."""

    def __init__(
        self,
        max_bytes: int | None = MAX_DECODE_BYTES,
        max_pixels: int | None = MAX_DECODE_PIXELS,
    ):
        from PIL import Image  # noqa: F401 — fail fast when absent

        self._Image = Image
        # PIL's own decompression-bomb guard replaced by ours so both
        # paths refuse identically
        self.max_bytes = max_bytes
        self.max_pixels = max_pixels

    def decode_batch(self, blobs) -> list:
        import io

        out = []
        for b in blobs:
            if b is None:
                out.append(None)
                continue
            data = bytes(b)
            _decode_guard(data, self.max_bytes, self.max_pixels)
            try:
                with self._Image.open(io.BytesIO(data)) as im:
                    out.append(
                        np.ascontiguousarray(
                            np.asarray(im.convert("RGB"), dtype=np.uint8)
                        )
                    )
            except Exception:  # noqa: BLE001 — corrupt/unknown: not ours
                out.append(None)
        return out


def _provider_decode_batch(decode, blobs: list) -> list:
    """Run a decode provider over a blob batch without letting one bad
    row kill the Spark task.  The provider contract returns ``None``
    for rows it cannot decode, but a provider that RAISES mid-batch —
    corrupt bytes surfacing as ValueError from the hermetic codecs,
    or a provider whose own ceilings are stricter than the caller's
    (``PilDecodeProvider`` re-runs ``_decode_guard``) — would abort
    every row in the Arrow batch and fail the job, violating the
    'per-file failure rows, never a dead task' contract.  On a
    batch-level raise (or a wrong-length result), retry per blob and
    map each row's raise to ``None`` — the caller's existing
    fallback/quarantine path."""
    try:
        out = list(decode.decode_batch(blobs))
        if len(out) == len(blobs):
            return out
    except Exception:  # noqa: BLE001 — provider fault must not kill rows
        pass
    per_row = []
    for b in blobs:
        try:
            got = decode.decode_batch([b])
            per_row.append(got[0] if len(got) == 1 else None)
        except Exception:  # noqa: BLE001
            per_row.append(None)
    return per_row


def _resample_nearest(px: "np.ndarray", tw: int, th: int) -> "np.ndarray":
    """Nearest-neighbor resample (pixel-center convention: source index
    floor((i + 0.5) * src/dst)) — deterministic, vectorized numpy
    fancy-indexing; the hermetic stand-in for a real resampler."""
    h, w = px.shape[:2]
    yi = np.minimum(((np.arange(th) + 0.5) * h / th).astype(np.int64), h - 1)
    xi = np.minimum(((np.arange(tw) + 0.5) * w / tw).astype(np.int64), w - 1)
    return np.ascontiguousarray(px[yi][:, xi])


def _decode_image_meta_batch(batches: "pd.Series") -> "pd.DataFrame":
    rows = [
        _parse_image_header(bytes(b) if b is not None else None) for b in batches
    ]
    return pd.DataFrame(rows, columns=["format", "width", "height", "valid"])


# Arrow-batched struct-returning pandas UDF (header parsing is cheap,
# but per-row pickling never belongs on an ingest path); real
# annotations — the module's future-annotations import would stringify
# them and break pandas_udf inference.
_decode_image_meta_batch.__annotations__ = {"batches": pd.Series, "return": pd.DataFrame}
decode_image_meta = F.pandas_udf(IMAGE_META)(_decode_image_meta_batch)


AUDIO_META = T.StructType(
    [
        T.StructField("format", T.StringType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("channels", T.IntegerType(), True),
        T.StructField("bits_per_sample", T.IntegerType(), True),
        T.StructField("duration_s", T.DoubleType(), True),
        T.StructField("valid", T.BooleanType(), False),
    ]
)


def _parse_wav_header(data: bytes | None) -> tuple:
    """Header-only WAV sniffing (RIFF/WAVE fmt + data chunks) —
    deterministic stdlib struct parsing, the audio twin of
    ``_parse_image_header``.  Compressed codecs (mp3/flac) are the
    ``_decode_pixels``-class stub; PCM, G.711 mu/A-law, and IMA-ADPCM
    metadata need none (ADPCM duration comes from the fmt extension's
    samples-per-block, spec-mandated for tag 0x11)."""
    if (
        not data
        or len(data) < 12
        or data[:4] != b"RIFF"
        or data[8:12] != b"WAVE"
    ):
        return (None, None, None, None, None, False)
    i = 12
    rate = channels = bits = fmt_tag = None
    block_align = spb = None
    data_len = None
    while i + 8 <= len(data):
        cid = data[i : i + 4]
        (clen,) = _struct.unpack("<I", data[i + 4 : i + 8])
        if cid == b"fmt " and i + 24 <= len(data):
            (fmt_tag,) = _struct.unpack("<H", data[i + 8 : i + 10])
            channels, rate = _struct.unpack("<HI", data[i + 10 : i + 16])
            (block_align,) = _struct.unpack("<H", data[i + 20 : i + 22])
            (bits,) = _struct.unpack("<H", data[i + 22 : i + 24])
            if fmt_tag == 0x0011 and i + 28 <= len(data) and clen >= 20:
                (spb,) = _struct.unpack("<H", data[i + 26 : i + 28])
        elif cid == b"data":
            data_len = clen
        i += 8 + clen + (clen % 2)  # chunks are word-aligned
    if not rate or not channels or not bits:
        return ("wav", rate, channels, bits, None, False)
    # duration formulas per frame format: the PCM byte formula for
    # uncompressed frames — PCM (1), IEEE float (3), EXTENSIBLE
    # (0xFFFE) — and G.711 mu/A-law (6, 7: exactly one byte per
    # sample); IMA-ADPCM (0x11) uses blocks x samples-per-block from
    # the fmt extension.  Anything else (mp3/flac/GSM...) stays the
    # honest no-duration stub.
    if fmt_tag == 0x0011:
        if data_len is not None and block_align and spb:
            dur = round((data_len // block_align) * spb / rate, 6)
            return ("wav", int(rate), int(channels), int(bits), dur, True)
        return ("wav", int(rate), int(channels), int(bits), None, False)
    if fmt_tag not in (0x0001, 0x0003, 0x0006, 0x0007, 0xFFFE):
        return ("wav", int(rate), int(channels), int(bits), None, False)
    dur = (
        round(data_len / (rate * channels * (bits // 8)), 6)
        if data_len is not None and bits >= 8
        else None
    )
    return ("wav", int(rate), int(channels), int(bits), dur, True)


def _decode_audio_meta_batch(batches: "pd.Series") -> "pd.DataFrame":
    rows = [
        _parse_wav_header(bytes(b) if b is not None else None) for b in batches
    ]
    return pd.DataFrame(
        rows,
        columns=[
            "format", "sample_rate", "channels", "bits_per_sample",
            "duration_s", "valid",
        ],
    )


_decode_audio_meta_batch.__annotations__ = {"batches": pd.Series, "return": pd.DataFrame}
decode_audio_meta = F.pandas_udf(AUDIO_META)(_decode_audio_meta_batch)


# -- PCM sample decode + audio features (the audio twin of the BMP
#    pixel path): uncompressed WAV needs no codec library, so this is
#    a REAL hermetic decode, not a stub ---------------------------------

AUDIO_FEATURES = T.StructType(
    [
        T.StructField("n_samples", T.IntegerType(), True),
        T.StructField("rms", T.DoubleType(), True),
        T.StructField("peak", T.DoubleType(), True),
        T.StructField("zcr", T.DoubleType(), True),
        T.StructField("valid", T.BooleanType(), False),
    ]
)


def _g711_mulaw_lut() -> "np.ndarray":
    """G.711 mu-law byte -> linear int16-range LUT (ITU-T G.711: the
    inverted byte packs sign/exponent/mantissa; magnitude =
    ((mant << 3) + 0x84 << exp) - 0x84).  256 entries, built once —
    decode is one numpy fancy-index, no codec library."""
    u = ~np.arange(256, dtype=np.int64) & 0xFF
    sign = (u & 0x80) != 0
    exp = (u >> 4) & 7
    mant = u & 0x0F
    mag = (((mant << 3) + 0x84) << exp) - 0x84
    return np.where(sign, -mag, mag)


def _g711_alaw_lut() -> "np.ndarray":
    """G.711 A-law byte -> linear LUT (byte XOR 0x55; exponent 0 is
    the linear segment; bit 7 SET means positive — the opposite sign
    convention from mu-law)."""
    a = np.arange(256, dtype=np.int64) ^ 0x55
    sign = (a & 0x80) != 0
    exp = (a >> 4) & 7
    mant = a & 0x0F
    mag = np.where(exp == 0, (mant << 4) + 8, ((mant << 4) + 0x108) << (exp - 1))
    return np.where(sign, mag, -mag)


#: IMA-ADPCM tables (IMA ADPCM reference algorithm)
_IMA_STEPS = (
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
)
_IMA_INDEX_ADJ = (-1, -1, -1, -1, 2, 4, 6, 8)


def _ima_adpcm_mono(payload: bytes, block_align: int) -> "np.ndarray":
    """Mono IMA-ADPCM WAV data -> int16-range samples.  Each block is
    independent: a 4-byte header (predictor int16, step index, pad)
    then 2 nibbles/byte, low nibble first.  Sequential per block (the
    predictor is a running state) but blocks decode independently."""
    out = []
    for off in range(0, len(payload) - 3, block_align):
        block = payload[off : off + block_align]
        if len(block) < 4:
            break
        pred = _struct.unpack("<h", block[0:2])[0]
        idx = min(88, block[2])
        samples = [pred]
        for byte in block[4:]:
            for nib in (byte & 0x0F, byte >> 4):
                step = _IMA_STEPS[idx]
                diff = step >> 3
                if nib & 1:
                    diff += step >> 2
                if nib & 2:
                    diff += step >> 1
                if nib & 4:
                    diff += step
                pred = pred - diff if nib & 8 else pred + diff
                pred = max(-32768, min(32767, pred))
                idx = max(0, min(88, idx + _IMA_INDEX_ADJ[nib & 7]))
                samples.append(pred)
        out.extend(samples)
    return np.asarray(out, dtype=np.float64)


def _wav_pcm_mono(data: bytes | None):
    """Decode WAV bytes into a mono float64 array in [-1, 1] (channels
    averaged).  Real branches: integer PCM (tag 1), IEEE float (3),
    G.711 mu-law (7) and A-law (6) via 256-entry LUTs, and mono
    IMA-ADPCM (0x11) via the reference step-table algorithm — none of
    which needs a codec library.  Returns None for non-RIFF payloads,
    genuinely-compressed codecs (mp3/flac/GSM), stereo ADPCM,
    truncated data chunks, or unexpected sample widths — the
    honest-stub boundary, same contract as ``_decode_pixels`` for
    codec image formats."""
    if (
        not data
        or len(data) < 12
        or data[:4] != b"RIFF"
        or data[8:12] != b"WAVE"
    ):
        return None
    i = 12
    fmt_tag = channels = rate = bits = None
    block_align = None
    payload = None
    while i + 8 <= len(data):
        cid = data[i : i + 4]
        (clen,) = _struct.unpack("<I", data[i + 4 : i + 8])
        if cid == b"fmt " and i + 24 <= len(data):
            (fmt_tag,) = _struct.unpack("<H", data[i + 8 : i + 10])
            channels, rate = _struct.unpack("<HI", data[i + 10 : i + 16])
            (block_align,) = _struct.unpack("<H", data[i + 20 : i + 22])
            (bits,) = _struct.unpack("<H", data[i + 22 : i + 24])
        elif cid == b"data":
            if i + 8 + clen > len(data):  # truncated payload
                return None
            payload = data[i + 8 : i + 8 + clen]
        i += 8 + clen + (clen % 2)
    if payload is None or not channels or not bits:
        return None
    if fmt_tag == 0x0011:  # IMA-ADPCM: mono only, nibble stream
        if channels != 1 or bits != 4 or not block_align:
            return None
        x = _ima_adpcm_mono(payload, block_align)
        return x / 32768.0 if x.size else None
    if fmt_tag == 0x0007 and bits == 8:  # G.711 mu-law
        x = _g711_mulaw_lut()[np.frombuffer(payload, np.uint8)] / 32768.0
    elif fmt_tag == 0x0006 and bits == 8:  # G.711 A-law
        x = _g711_alaw_lut()[np.frombuffer(payload, np.uint8)] / 32768.0
    elif fmt_tag == 0x0001 and bits == 16:
        x = np.frombuffer(payload, dtype="<i2").astype(np.float64) / 32768.0
    elif fmt_tag == 0x0001 and bits == 8:  # 8-bit WAV PCM is unsigned
        x = (np.frombuffer(payload, dtype=np.uint8).astype(np.float64) - 128.0) / 128.0
    elif fmt_tag == 0x0001 and bits == 32:
        x = np.frombuffer(payload, dtype="<i4").astype(np.float64) / 2147483648.0
    elif fmt_tag == 0x0003 and bits == 32:
        x = np.frombuffer(payload, dtype="<f4").astype(np.float64)
    else:
        return None
    frames = x.size // channels
    if frames == 0:
        return None
    return x[: frames * channels].reshape(frames, channels).mean(axis=1)


def _audio_features_batch(batches: "pd.Series") -> "pd.DataFrame":
    rows = []
    for b in batches:
        x = _wav_pcm_mono(bytes(b) if b is not None else None)
        if x is None or x.size == 0:
            rows.append((None, None, None, None, False))
            continue
        rms = float(np.sqrt(np.mean(x * x)))
        peak = float(np.max(np.abs(x)))
        nonneg = x >= 0
        zcr = float(np.mean(nonneg[1:] != nonneg[:-1])) if x.size > 1 else 0.0
        rows.append((int(x.size), rms, peak, zcr, True))
    return pd.DataFrame(
        rows, columns=["n_samples", "rms", "peak", "zcr", "valid"]
    )


_audio_features_batch.__annotations__ = {"batches": pd.Series, "return": pd.DataFrame}
#: Arrow-batched features over a binary WAV column: sample decode and
#: the numpy reductions run vectorized per batch; at 100 TB this is a
#: map-only stage over binaryFile rows, no shuffle, no driver bytes.
audio_features = F.pandas_udf(AUDIO_FEATURES)(_audio_features_batch)


# -- S5 file conversion (handlers/file.py:196-299) ---------------------------

CONVERTED_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("status", T.StringType(), False),  # success | failed
        T.StructField("error", T.StringType(), True),
        T.StructField("content", T.StringType(), True),  # markdown
        T.StructField("title", T.StringType(), True),
        T.StructField("author", T.StringType(), True),
        T.StructField("created_at", T.StringType(), True),
        T.StructField("pages", T.IntegerType(), True),
        T.StructField("language", T.StringType(), True),
    ]
)

#: the OCR/docling formats whose decode needs libraries absent here
ERR_CONVERSION_STUBBED = "ERR_CONVERSION_STUBBED"


# -- minimal text-object PDF extraction (S5, handlers/file.py:196-299) -------
#
# A dependency-free parser for the COMMON upload case: digitally-born
# PDFs whose page content streams carry text operators (Tj/TJ/'),
# stored raw or FlateDecode-compressed (zlib is stdlib).  Image-only /
# scanned PDFs have no text operators and stay honestly stubbed —
# ERR_CONVERSION_STUBBED still marks the OCR boundary.

_PDF_STRING_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _pdf_unescape(raw: bytes) -> str:
    """PDF literal-string unescape: backslash escapes + octal codes."""
    out = bytearray()
    i = 0
    while i < len(raw):
        c = raw[i : i + 1]
        if c == b"\\" and i + 1 < len(raw):
            nxt = raw[i + 1 : i + 2]
            if nxt in _PDF_STRING_ESCAPES:
                out += _PDF_STRING_ESCAPES[nxt]
                i += 2
                continue
            if nxt.isdigit():
                j = i + 1
                while j < len(raw) and j < i + 4 and raw[j : j + 1].isdigit():
                    j += 1
                out.append(int(raw[i + 1 : j], 8) & 0xFF)
                i = j
                continue
            i += 1  # line continuation / unknown escape: drop backslash
            continue
        out += c
        i += 1
    return out.decode("latin-1")


import re as _re

#: literal strings ((...) with escaped parens) and the operator after
_PDF_LITERAL = _re.compile(rb"\(((?:\\.|[^\\()])*)\)")
_PDF_TEXT_BLOCK = _re.compile(rb"BT(.*?)ET", _re.S)
#: ops that move the text cursor to a new line
_PDF_NEWLINE_OPS = _re.compile(rb"(?:^|\s)(?:T\*|TD|Td)(?:\s|$)")


#: hex-string content charset (PDF 7.3.4.3: hex digits + whitespace)
_PDF_HEX_BODY = _re.compile(rb"[0-9a-fA-F\s]*\Z")


def _mask_pdf_strings(region: bytes) -> bytes:
    """Blank out ``(...)`` literal strings (nested parens + backslash
    escapes) and ``<...>`` hex strings so delimiter scans can't be
    unbalanced by string *content* — e.g. ``/Title (a >> b)``.  ``<<``
    and ``>>`` dict tokens are preserved byte-for-byte.

    Defensive against NON-string bytes (the scan window can graze a
    binary stream body): an unterminated ``(``-span is left unmasked —
    a real dict-header string always closes, so an open span reaching
    the region end is a stray byte whose masking would blank everything
    after it, dict included — and ``<...>`` spans are blanked only when
    their content is hex digits/whitespace, so a stray ``<`` can't open
    a bogus span through later structure."""
    out = bytearray(region)
    i, n = 0, len(region)
    while i < n:
        c = region[i]
        if c == 0x28:  # ( — literal string
            depth, j = 1, i + 1
            while j < n and depth:
                b = region[j]
                if b == 0x5C:  # backslash escape: skip escaped byte
                    j += 2
                    continue
                if b == 0x28:
                    depth += 1
                elif b == 0x29:
                    depth -= 1
                j += 1
            if depth:  # unterminated: stray '(' — leave unmasked
                i += 1
                continue
            out[i:min(j, n)] = b" " * (min(j, n) - i)
            i = j
        elif c == 0x3C:  # < — dict open (<<) or hex string
            if i + 1 < n and region[i + 1] == 0x3C:
                i += 2
            else:
                j = region.find(b">", i + 1)
                if j == -1 or not _PDF_HEX_BODY.match(region[i + 1 : j]):
                    i += 1  # stray '<' / non-hex content: leave unmasked
                else:
                    out[i : j + 1] = b" " * (j + 1 - i)
                    i = j + 1
        else:
            i += 1
    return bytes(out)


#: real object boundary: ``endobj`` (optionally preceded by
#: ``endstream``) followed by the NEXT object's ``N G obj`` header —
#: the trailing context is what distinguishes it from an ``endobj``
#: substring inside a literal string or a binary stream body
_PDF_OBJ_BOUNDARY = _re.compile(rb"(?:endstream\s+)?endobj\s+(?=\d+\s+\d+\s+obj\b)")
#: word-bounded ``N G obj`` header (a bare ``obj`` substring also
#: matches name tokens like ``/MyObject``)
_PDF_OBJ_ANCHOR = _re.compile(rb"\d+\s+\d+\s+obj\b")


def _pdf_dict_start(data: bytes, pos: int) -> int:
    """Start offset of the outermost ``<< ... >>`` dictionary ending
    just before ``pos``, scanning backwards with <</>> balancing —
    stream dicts commonly nest (``/DecodeParms << ... >>``), so a bare
    rfind(b"<<") would land on the innermost dict and miss /Filter.

    The flat 64 KiB window commonly starts INSIDE an earlier object's
    binary stream body, so the scan is bounded to the current object
    FIRST: the window is cut at the last context-checked object
    boundary (``endobj`` followed by a real ``N G obj`` header — the
    lookahead is what keeps an ``endobj`` substring inside a literal
    string or random stream bytes from truncating the cut).  The
    bounded region is then masked (string spans blanked, with
    unterminated/non-hex spans left alone — see ``_mask_pdf_strings``)
    and anchored at the last masked ``N G obj`` header before the last
    ``<<``; if every anchor lands after it (i.e. inside the dict body),
    the walk falls back to the whole region."""
    lo = max(pos - 65536, 0)
    seg = data[lo:pos]
    cut = None
    for m in _PDF_OBJ_BOUNDARY.finditer(seg):
        cut = m.end()
    if cut is not None:
        lo += cut
    region = _mask_pdf_strings(data[lo:pos])
    last_open = region.rfind(b"<<")
    if last_open == -1:
        return -1
    start = 0
    for m in _PDF_OBJ_ANCHOR.finditer(region):
        if m.end() > last_open:
            break
        start = m.end()
    depth = 0
    i = len(region)
    while True:
        close = region.rfind(b">>", start, i)
        open_ = region.rfind(b"<<", start, i)
        if open_ == -1:
            return -1
        if close > open_:
            depth += 1
            i = close
        else:
            depth -= 1
            if depth <= 0:  # balanced outermost (or unbalanced: innermost)
                return lo + open_
            i = open_


def _pdf_streams(data: bytes):
    """(dict_bytes, stream_bytes) per stream object, inflated when the
    object dictionary declares FlateDecode."""
    import zlib

    for m in _re.finditer(rb"stream\r?\n(.*?)\r?\n?endstream", data, _re.S):
        start = _pdf_dict_start(data, m.start())
        head = data[start : m.start()] if start != -1 else b""
        body = m.group(1)
        if b"FlateDecode" in head:
            try:
                body = zlib.decompress(body)
            except zlib.error:
                continue
        yield head, body


def _pdf_block_text(block: bytes) -> str:
    """One BT..ET block -> text: literal strings in drawing order,
    newlines at the line-moving operators."""
    parts: list[str] = []
    # walk tokens in order; emit \n for Td/TD/T*, strings for (...)
    token = _re.compile(rb"\(((?:\\.|[^\\()])*)\)|(T\*|TD|Td)")
    for m in token.finditer(block):
        if m.group(2) is not None:
            if parts and parts[-1] != "\n":
                parts.append("\n")
        else:
            parts.append(_pdf_unescape(m.group(1)))
    return "".join(parts).strip()


_DOCX_W = "{http://schemas.openxmlformats.org/wordprocessingml/2006/main}"
_DOCX_DC = "{http://purl.org/dc/elements/1.1/}"


def extract_docx_text(data: bytes) -> tuple[str | None, str | None, int]:
    """-> (text, title, page_count) from a DOCX (OPC zip + WordprocessingML;
    reference converts these through docling's DocumentConverter,
    handlers/file.py:60-64 — the XML body needs no codec at all).
    Paragraph runs (w:t) join per w:p; explicit page breaks
    (w:lastRenderedPageBreak / w:br type=page) bound the page count
    from below.  Raises ValueError on a non-OPC payload."""
    import io
    import xml.etree.ElementTree as ET
    import zipfile

    try:
        z = zipfile.ZipFile(io.BytesIO(data))
        xml = z.read("word/document.xml")
    except (zipfile.BadZipFile, KeyError) as e:
        raise ValueError("not a DOCX") from e
    try:
        root = ET.fromstring(xml)
    except ET.ParseError as e:
        raise ValueError("not a DOCX") from e
    paragraphs = []
    breaks = 0
    for p in root.iter(f"{_DOCX_W}p"):
        txt = "".join(t.text or "" for t in p.iter(f"{_DOCX_W}t"))
        if txt.strip():
            paragraphs.append(txt.strip())
        breaks += sum(1 for _ in p.iter(f"{_DOCX_W}lastRenderedPageBreak"))
        breaks += sum(
            1
            for b in p.iter(f"{_DOCX_W}br")
            if b.get(f"{_DOCX_W}type") == "page"
        )
    title = None
    try:
        core = ET.fromstring(z.read("docProps/core.xml"))
        el = core.find(f"{_DOCX_DC}title")
        if el is not None and el.text and el.text.strip():
            title = el.text.strip()
    except (KeyError, ET.ParseError):
        pass
    text = "\n\n".join(paragraphs) if paragraphs else None
    return text, title, breaks + 1


def extract_pdf_text(data: bytes) -> tuple[str | None, str | None, int]:
    """-> (text, title, page_count); text None when the file has no
    extractable text operators (the OCR case).  Raises ValueError on a
    non-PDF payload."""
    if not data.startswith(b"%PDF"):
        raise ValueError("not a PDF")
    pages = len(_re.findall(rb"/Type\s*/Page[^s]", data))
    texts: list[str] = []
    for _head, body in _pdf_streams(data):
        for bm in _PDF_TEXT_BLOCK.finditer(body):
            t = _pdf_block_text(bm.group(1))
            if t:
                texts.append(t)
    title = None
    tm = _re.search(rb"/Title\s*\(((?:\\.|[^\\()])*)\)", data)
    if tm:
        title = _pdf_unescape(tm.group(1)).strip() or None
    text = "\n\n".join(texts) if texts else None
    return text, title, pages


def _convert_one(path: str, data) -> tuple:
    """One upload -> markdown + normalized metadata, hermetically.

    Mirrors handle_file_task's contract (handlers/file.py:196-299):
    empty bytes -> ERR_EMPTY, unknown extension -> ERR_INVALID_FORMAT,
    extracted-but-blank text -> ERR_EMPTY, title = content title >
    filename, language defaults 'en', pages 0 when unknown.  The
    docling/OCR formats (pdf) stay honestly stubbed —
    ERR_CONVERSION_STUBBED marks the environment limitation; md/txt/
    json/csv (the non-OCR members of the upload whitelist) convert for
    real: markdown passes through, txt wraps as prose, json
    pretty-prints into a fenced block, csv renders as a markdown table.
    """
    import csv as _csv
    import io
    import json as _json
    import re as _re

    basename = path.rsplit("/", 1)[-1]
    ext = basename.rsplit(".", 1)[-1].lower() if "." in basename else ""

    def failed(code):
        return (path, "failed", code, None, basename, None, None, 0, "en")

    if data is None or len(data) == 0:
        return failed("ERR_EMPTY")
    from qurio_spark.functions.resilience import ALLOWED_UPLOAD_EXTS

    if ext not in ALLOWED_UPLOAD_EXTS:
        return failed("ERR_INVALID_FORMAT")
    if ext == "pdf":
        # digitally-born PDFs: hermetic text-object extraction (raw or
        # FlateDecode streams).  No text operators -> scanned/image PDF
        # -> the OCR boundary stays honestly stubbed.
        try:
            text, pdf_title, pages = extract_pdf_text(bytes(data))
        except ValueError:
            return failed("ERR_INVALID_FORMAT")
        if text is None or not text.strip():
            return failed(ERR_CONVERSION_STUBBED)
        return (
            path, "success", None, text, pdf_title or basename,
            None, None, pages, "en",
        )
    if ext == "docx":
        try:
            text, docx_title, pages = extract_docx_text(bytes(data))
        except ValueError:
            return failed("ERR_INVALID_FORMAT")
        if text is None or not text.strip():
            return failed("ERR_EMPTY")  # structurally valid, no body text
        return (
            path, "success", None, text, docx_title or basename,
            None, None, pages, "en",
        )
    try:
        text = bytes(data).decode("utf-8")
    except UnicodeDecodeError:
        return failed("ERR_INVALID_FORMAT")

    title = basename
    if ext == "md":
        content = text
        m = _re.search(r"(?m)^# (.+)$", text)
        if m:
            title = m.group(1).strip()
    elif ext == "txt":
        content = text
    elif ext == "json":
        try:
            content = "```json\n" + _json.dumps(
                _json.loads(text), indent=2, sort_keys=True
            ) + "\n```"
        except ValueError:
            return failed("ERR_INVALID_FORMAT")
    else:  # csv -> markdown table
        rows = list(_csv.reader(io.StringIO(text)))
        rows = [r for r in rows if r]
        if not rows:
            return failed("ERR_EMPTY")
        header, body = rows[0], rows[1:]
        lines = [
            "| " + " | ".join(header) + " |",
            "| " + " | ".join("---" for _ in header) + " |",
        ]
        lines += ["| " + " | ".join(r) + " |" for r in body]
        content = "\n".join(lines)

    if not content.strip():
        return failed("ERR_EMPTY")
    return (path, "success", None, content, title, None, None, 0, "en")


def convert_files(
    df: DataFrame,
    path_col: str = "path",
    content_col: str = "content",
    ocr=None,
) -> DataFrame:
    """binaryFile rows -> CONVERTED_SCHEMA rows via mapInPandas (the
    Spark shape of the reference's process-pool conversion: per-file
    parallelism, failures as coded rows instead of dead tasks — they
    flow to the M5 quarantine).

    ``ocr``: an OCR provider (``functions/providers.HttpOcrProvider``
    shape — ``ocr_batch(blobs) -> [{"text", "pages"}]``) applied to
    the PDFs the hermetic extractor quarantines as scanned
    (ERR_CONVERSION_STUBBED) — the reference's docling OCR boundary
    (handlers/file.py:196-299) behind the provider-interface pattern.
    ONE provider call per Arrow batch's scanned slice, never per row;
    a provider failure keeps those rows quarantined under its
    taxonomy code instead of failing the task, and a null/empty OCR
    text keeps the original quarantine row.  Absent provider (the
    default) preserves today's hermetic quarantine exactly."""
    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from qurio_spark.functions.resilience import IngestionError

        cols = [f.name for f in CONVERTED_SCHEMA.fields]
        for pdf in batches:
            out = [
                _convert_one(p, d)
                for p, d in zip(pdf[path_col], pdf[content_col])
            ]
            if ocr is not None:
                idxs = [
                    i for i, r in enumerate(out)
                    if r[1] == "failed" and r[2] == ERR_CONVERSION_STUBBED
                ]
                if idxs:
                    blobs = [
                        bytes(pdf[content_col].iloc[i]) for i in idxs
                    ]
                    # Iterate in PROVIDER-SIZED chunks and catch per
                    # chunk: a later chunk's terminal failure (after
                    # retries) must not discard the OCR texts already
                    # won by earlier chunks — only the failed chunk's
                    # rows quarantine under the provider's code
                    # (per-file failure rows, never a dead task —
                    # M5/M8 posture).
                    step = max(1, int(getattr(ocr, "max_batch", 0) or len(blobs)))
                    for s in range(0, len(blobs), step):
                        sub_idx = idxs[s : s + step]
                        try:
                            results = ocr.ocr_batch(blobs[s : s + step])
                        except IngestionError as e:
                            for i in sub_idx:
                                r = out[i]
                                out[i] = (
                                    r[0], "failed", e.code, None, r[4],
                                    None, None, 0, "en",
                                )
                            continue
                        for i, res in zip(sub_idx, results):
                            text = res.get("text") if isinstance(res, dict) else None
                            if text and str(text).strip():
                                pages = res.get("pages")
                                r = out[i]
                                out[i] = (
                                    r[0], "success", None, str(text), r[4],
                                    None, None,
                                    int(pages) if isinstance(pages, int) else 0,
                                    "en",
                                )
            yield pd.DataFrame(out, columns=cols)

    return df.select(path_col, content_col).mapInPandas(gen, CONVERTED_SCHEMA)


def uploads_to_docs_raw(converted: DataFrame, source_id: str) -> DataFrame:
    """CONVERTED_SCHEMA -> DOCUMENTS_RAW rows, so converted uploads
    drop straight into plans/pipeline.build_chunks (url = path for
    file sources, as in handle_file_task's result dict)."""
    return converted.select(
        F.lit(source_id).alias("source_id"),
        F.col("path").alias("url"),
        F.coalesce("title", F.lit("")).alias("title"),
        F.col("path"),
        F.col("content"),
        F.array().cast("array<string>").alias("links"),
        F.lit(0).alias("depth"),
        F.col("status"),
        F.col("error"),
        F.struct(
            F.col("author"),
            F.col("created_at"),
            F.col("pages"),
            F.col("language"),
        ).alias("metadata"),
    )


FEATURE_DIM = 32


def extract_features(
    df: DataFrame, content_col: str = "content", decode=None
) -> DataFrame:
    """mapInPandas feature extractor: byte-histogram features (a
    deterministic stand-in for a vision encoder) over Arrow batches.
    Output schema: input columns minus content, plus
    features array<float>.

    ``decode``: an optional decode provider (see
    :class:`HermeticDecodeProvider` for the contract).  When given,
    features histogram the DECODED RGB pixels instead of the encoded
    bytes — the same feature regardless of which codec wrote the file
    (a byte histogram of a JPEG is mostly entropy-coder noise).  One
    ``decode_batch`` call per Arrow batch; rows the provider cannot
    decode (or the guard refuses) get NULL features, consistent with
    the NULL-honest quarantine everywhere else."""
    out_fields = [f for f in df.schema.fields if f.name != content_col]
    schema = T.StructType(
        out_fields + [T.StructField("features", T.ArrayType(T.FloatType()), True)]
    )
    out_cols = [f.name for f in out_fields]

    def _hist(arr: "np.ndarray"):
        hist, _ = np.histogram(arr, bins=FEATURE_DIM, range=(0, 256))
        v = hist.astype(np.float32)
        n = float(np.linalg.norm(v))
        return v / n if n > 0 else v

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if decode is None:
                feats = [
                    None
                    if data is None
                    else _hist(np.frombuffer(bytes(data), dtype=np.uint8))
                    for data in pdf[content_col]
                ]
            else:
                blobs = []
                for data in pdf[content_col]:
                    if data is None:
                        blobs.append(None)
                        continue
                    try:
                        _decode_guard(
                            bytes(data), MAX_DECODE_BYTES, MAX_DECODE_PIXELS
                        )
                        blobs.append(bytes(data))
                    except ValueError:
                        blobs.append(None)
                feats = [
                    None if px is None else _hist(px.reshape(-1))
                    for px in _provider_decode_batch(decode, blobs)
                ]
            out = pdf[out_cols].copy()
            out["features"] = feats
            yield out

    return df.mapInPandas(gen, schema)


def resize_spec(
    df: DataFrame,
    max_side: int = 224,
    width_col: str = "width",
    height_col: str = "height",
) -> DataFrame:
    """Aspect-preserving resize targets from header-sniffed dimensions:
    scale = min(1, max_side / longest_side), never upscaled, floors at
    1 px.  Pure column expressions — the geometry every vision-encoder
    batcher shards on is computed JVM-side in the same scan as
    ``decode_image_meta``, for every format whose header it sniffs;
    only the pixel resample (``resize_pixels``) needs a decoder.  NULL
    dims (unparseable header) pass through as NULL targets so failures
    stay visible downstream."""
    w = F.col(width_col).cast("double")
    h = F.col(height_col).cast("double")
    # greatest/least SKIP nulls in Spark, so a missing dim (or the NULL
    # from dividing by a 0 dim a crafted header can declare) would
    # silently become a 1x1 target — only positive dims get targets
    ok = w.isNotNull() & h.isNotNull() & (w > 0) & (h > 0)
    longest = F.greatest(w, h)
    scale = F.least(F.lit(1.0), F.lit(float(max_side)) / longest)
    tw = F.greatest(F.round(w * scale).cast("int"), F.lit(1))
    th = F.greatest(F.round(h * scale).cast("int"), F.lit(1))
    return (
        df.withColumn("target_width", F.when(ok, tw))
        .withColumn("target_height", F.when(ok, th))
        .withColumn("resize_scale", F.when(ok, F.round(scale, 6)))
    )


RESIZED_SCHEMA = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("out_width", T.IntegerType(), True),
        T.StructField("out_height", T.IntegerType(), True),
        T.StructField("pixels", T.BinaryType(), True),  # raw RGB24 rows
        T.StructField("resize_error", T.StringType(), True),
    ]
)


def resize_pixels(
    df: DataFrame,
    max_decode_bytes: int | None = MAX_DECODE_BYTES,
    max_decode_pixels: int | None = MAX_DECODE_PIXELS,
    decode=None,
) -> DataFrame:
    """The end-to-end pixel path: ``content`` bytes -> decode ->
    nearest-neighbor resample to the ``resize_spec`` targets -> raw
    RGB24 bytes.  Hermetic decode covers BMP and PNG
    (``_decode_pixels``); every other codec needs a ``decode``
    provider, and without one its rows get NULL pixels and the
    codec-library message in ``resize_error`` instead of failing the
    job, so a mixed corpus keeps flowing and the un-decodable slice
    stays countable.  Oversized inputs (byte/pixel ceilings — a small
    file declaring 100 MP must not wedge an executor core) are refused
    the same NULL-honest way, with the refusal reason in
    ``resize_error``.

    Arrow-batched mapInPandas: decode + resample are per-row numpy on
    executor-local batches, no shuffle — parallelism is the binaryFile
    source's file splits.  Expects ``path``/``content`` plus the
    ``target_width``/``target_height`` columns ``resize_spec`` adds.

    ``decode``: an optional decode provider (``decode_batch(blobs) ->
    [HxWx3 uint8 | None]``, e.g. :class:`PilDecodeProvider`) that
    replaces the hermetic codecs on the hot path — ONE provider call
    per Arrow batch's decodable slice, never per row.  The byte/pixel
    GUARD still runs per row BEFORE the provider (the DoS ceiling is
    path-independent); a ``None`` provider result falls back to the
    hermetic codecs, so a provider that handles only some formats
    narrows the quarantine instead of widening it."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            paths = list(pdf["path"])
            contents = list(pdf["content"])
            tws = list(pdf["target_width"])
            ths = list(pdf["target_height"])
            results: list = [None] * n
            todo: list[int] = []
            for i in range(n):
                if contents[i] is None or pd.isna(tws[i]) or pd.isna(ths[i]):
                    results[i] = (paths[i], None, None, None, "no target dims")
                    continue
                try:
                    _decode_guard(
                        bytes(contents[i]), max_decode_bytes,
                        max_decode_pixels,
                    )
                except ValueError as exc:
                    results[i] = (paths[i], None, None, None, str(exc))
                    continue
                todo.append(i)
            decoded: dict[int, "np.ndarray"] = {}
            if decode is not None and todo:
                provided = _provider_decode_batch(
                    decode, [bytes(contents[i]) for i in todo]
                )
                for i, px in zip(todo, provided):
                    if px is not None:
                        decoded[i] = px
            for i in todo:
                try:
                    px = decoded.get(i)
                    if px is None:
                        # guard already passed; ceilings=None avoids
                        # re-sniffing the header
                        px = _decode_pixels(bytes(contents[i]), None, None)
                    rs = _resample_nearest(px, int(tws[i]), int(ths[i]))
                    results[i] = (
                        paths[i], int(tws[i]), int(ths[i]), rs.tobytes(),
                        None,
                    )
                except (NotImplementedError, ValueError) as exc:
                    results[i] = (paths[i], None, None, None, str(exc))
            yield pd.DataFrame(
                results, columns=[f.name for f in RESIZED_SCHEMA.fields]
            )

    return df.mapInPandas(gen, RESIZED_SCHEMA)


def _pdf_image_xobjects(data: bytes):
    """(width, height, (h, w, 3) uint8 RGB) per hermetically-decodable
    image XObject in a PDF: /Subtype /Image, 8 bits/component,
    /DeviceRGB or /DeviceGray, stored raw or FlateDecode (zlib is
    stdlib — ``_pdf_streams`` already inflated it).  Any other filter
    (/DCTDecode JPEG, /JPXDecode...) is codec territory and is skipped,
    so ``pdf_image_inventory`` counts it as not decodable.

    Reference parity: docling rasterizes PDF images for OCR
    (handlers/file.py:196-299); this is the no-codec-library subset."""
    for head, body in _pdf_streams(data):
        if b"/Subtype" not in head or b"/Image" not in head:
            continue
        def _num(key):
            m = _re.search(rb"/" + key + rb"\s+(\d+)", head)
            return int(m.group(1)) if m else None
        w, h, bpc = _num(b"Width"), _num(b"Height"), _num(b"BitsPerComponent")
        if not w or not h or bpc != 8:
            continue
        if _re.search(rb"/Filter(?!\s*(?:/FlateDecode|\[\s*/FlateDecode\s*\]))", head):
            continue  # DCT, JPX etc.: codec territory
        if b"/DeviceRGB" in head:
            nch = 3
        elif b"/DeviceGray" in head:
            nch = 1
        else:
            continue
        if len(body) < w * h * nch:
            continue
        px = np.frombuffer(body, dtype=np.uint8, count=w * h * nch).reshape(
            h, w, nch
        )
        if nch == 1:
            px = np.repeat(px, 3, axis=2)
        yield w, h, np.ascontiguousarray(px)


PDF_IMAGE_INVENTORY = T.StructType(
    [
        T.StructField("path", T.StringType(), False),
        T.StructField("n_images", T.IntegerType(), True),
        T.StructField("n_decodable", T.IntegerType(), True),
        T.StructField("max_width", T.IntegerType(), True),
        T.StructField("max_height", T.IntegerType(), True),
    ]
)


def pdf_image_inventory(df: DataFrame) -> DataFrame:
    """Routing signal for the OCR boundary: per quarantined PDF, how
    many image XObjects it embeds and how many are hermetically
    decodable (raw/Flate DeviceRGB/Gray — ``_pdf_image_xobjects``),
    plus the largest decodable dimensions.  An OCR stage can rasterize
    the decodable slice without codec libraries; the rest stays behind
    the honest stub.  Arrow-batched mapInPandas over ``path``/
    ``content`` rows, map-only like the other file-conversion stages."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for path, content in zip(pdf["path"], pdf["content"]):
                if content is None:
                    out.append((path, None, None, None, None))
                    continue
                data = bytes(content)
                n_images = sum(
                    1
                    for head, _ in _pdf_streams(data)
                    if b"/Subtype" in head and b"/Image" in head
                )
                mw = mh = 0
                n_dec = 0
                for w, h, _px in _pdf_image_xobjects(data):
                    n_dec += 1
                    mw, mh = max(mw, w), max(mh, h)
                out.append(
                    (path, n_images, n_dec, mw or None, mh or None)
                )
            yield pd.DataFrame(
                out, columns=[f.name for f in PDF_IMAGE_INVENTORY.fields]
            )

    return df.mapInPandas(gen, PDF_IMAGE_INVENTORY)


def frame_sample_plan(df: DataFrame, every_n: int = 30) -> DataFrame:
    """Video frame-sampling *plan* metadata: which frame indices a
    decoder would extract.  Decode itself is stubbed (see module doc);
    the column plumbing (arrays of frame indices per row, explode-ready)
    is the tested part."""
    est_frames = (F.col("length") / F.lit(100_000)).cast("int") + 1
    return df.withColumn(
        "sample_frames",
        F.sequence(F.lit(0), est_frames, F.lit(every_n)),
    )
