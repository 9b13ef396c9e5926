"""Multimodal plumbing: binaryFile ingestion, header-only image
metadata, mapInPandas feature extraction, stubbed decode contract."""

import struct

import pytest
from pyspark.sql import functions as F

from qurio_spark.sources.multimodal import (
    _parse_image_header,
    decode_image_meta,
    extract_features,
    frame_sample_plan,
    read_binary_dir,
)


def make_png(w=16, h=9) -> bytes:
    return (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13) + b"IHDR"
        + struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00" + b"0000"
    )


def make_gif(w=4, h=2) -> bytes:
    return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00" * 6


def make_bmp(w=7, h=5, top_down=False, bpp=24) -> bytes:
    """Deterministic 24/32-bit BI_RGB BMP: pixel (x, y) has
    R=x*16, G=y*32, B=(x+y)*8 — stdlib struct only."""
    nch = bpp // 8
    stride = ((bpp * w + 31) // 32) * 4
    rows = []
    ys = range(h) if top_down else range(h - 1, -1, -1)
    for y in ys:
        row = bytearray()
        for x in range(w):
            px = bytes([(x + y) * 8 % 256, y * 32 % 256, x * 16 % 256])  # BGR
            row += px if nch == 3 else px + b"\xff"
        row += b"\x00" * (stride - len(row))
        rows.append(bytes(row))
    pixel_data = b"".join(rows)
    hdr_h = -h if top_down else h
    info = struct.pack(
        "<IiiHHIIiiII", 40, w, hdr_h, 1, bpp, 0, len(pixel_data),
        2835, 2835, 0, 0,
    )
    file_hdr = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(pixel_data), 0, 0, 54)
    return file_hdr + info + pixel_data


def bmp_golden(w=7, h=5):
    """The RGB array make_bmp encodes, derived independently."""
    import numpy as np

    arr = np.zeros((h, w, 3), dtype=np.uint8)
    for y in range(h):
        for x in range(w):
            arr[y, x] = (x * 16 % 256, y * 32 % 256, (x + y) * 8 % 256)
    return arr


def make_wav(rate=16000, channels=1, bits=16, n_frames=8000, fmt_tag=1) -> bytes:
    data_len = n_frames * channels * (bits // 8)
    fmt = (
        b"fmt " + struct.pack("<I", 16)
        + struct.pack("<HHIIHH", fmt_tag, channels, rate,
                      rate * channels * bits // 8, channels * bits // 8, bits)
    )
    data = b"data" + struct.pack("<I", data_len) + b"\x00" * min(data_len, 64)
    body = b"WAVE" + fmt + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def make_jpeg(w=32, h=24) -> bytes:
    sof = b"\xff\xc0" + struct.pack(">H", 17) + b"\x08" + struct.pack(">HH", h, w) + b"\x03" + b"\x00" * 9
    return b"\xff\xd8" + b"\xff\xe0" + struct.pack(">H", 4) + b"\x00\x00" + sof


def make_jpeg_arith(w=16, h=9) -> bytes:
    """SOF9 (arithmetic) header: a JPEG no hermetic path decodes."""
    sof = b"\xff\xc9" + struct.pack(">H", 17) + b"\x08" + struct.pack(">HH", h, w) + b"\x03" + b"\x00" * 9
    return b"\xff\xd8" + b"\xff\xe0" + struct.pack(">H", 4) + b"\x00\x00" + sof


# Complete, valid files an image library decodes: an 8x8 baseline JPEG
# (RGB, pixel (x, y) = bmp_golden) and a 4x3 GIF over a three-colour
# palette.  The hermetic path decodes only BMP and PNG, so both must
# come back quarantined, never as pixels.
JPEG_8X8 = bytes.fromhex(
    "ffd8ffdb00430001010101010101010101010101010101010101010101010101"
    "0101010101010101010101010101010101010101010101010101010101010101"
    "01010101010101ffc00011080008000803011100021100031100ffc4001f0000"
    "00000c000000000000000000000000000102030405060708090a0bffc400b510"
    "00000000000000a20000000000000000000102030405060708090a1112131415"
    "161718191a2122232425262728292a3132333435363738393a41424344454647"
    "48494a5152535455565758595a6162636465666768696a717273747576777879"
    "7a8182838485868788898a9192939495969798999aa1a2a3a4a5a6a7a8a9aab1"
    "b2b3b4b5b6b7b8b9bac1c2c3c4c5c6c7c8c9cad1d2d3d4d5d6d7d8d9dae1e2e3"
    "e4e5e6e7e8e9eaf0f1f2f3f4f5f6f7f8f9faffda000c03010002000300003f00"
    "9630397094c1120d3268162238f80086b05383f8204634cc572360108610f213"
    "0022119d9ab2c8471f401fffd9"
)
GIF_4X3 = bytes.fromhex(
    "47494638396104000300810000fa0a0a0afa0a0a0afa00000021fe0568656c6c"
    "6f002c000000000400030000020444647859003b"
)


class TestHeaderParsing:
    def test_png_gif_jpeg_dims(self):
        assert _parse_image_header(make_png(16, 9)) == ("png", 16, 9, True)
        assert _parse_image_header(make_gif(4, 2)) == ("gif", 4, 2, True)
        assert _parse_image_header(make_jpeg(32, 24)) == ("jpeg", 32, 24, True)

    def test_garbage_invalid(self):
        assert _parse_image_header(b"not an image at all")[3] is False
        assert _parse_image_header(None)[3] is False
        assert _parse_image_header(b"")[3] is False

    def test_wav_header(self):
        from qurio_spark.sources.multimodal import _parse_wav_header

        got = _parse_wav_header(make_wav(rate=16000, channels=1, bits=16,
                                         n_frames=8000))
        assert got == ("wav", 16000, 1, 16, 0.5, True)
        got2 = _parse_wav_header(make_wav(rate=44100, channels=2, bits=16,
                                          n_frames=44100))
        assert got2 == ("wav", 44100, 2, 16, 1.0, True)
        assert _parse_wav_header(b"RIFF0000WAVE")[5] is False  # no fmt chunk
        assert _parse_wav_header(b"garbage")[5] is False
        assert _parse_wav_header(None)[5] is False

    def test_wav_codec_tags_duration_boundaries(self):
        """G.711 mu-law (tag 7) is one byte per sample — its duration
        is computable and the header is now valid (round 8); a
        genuinely compressed codec (GSM tag 0x31) must not claim
        valid=True with a PCM-formula duration; IEEE float (3) is an
        uncompressed frame format and stays valid."""
        from qurio_spark.sources.multimodal import _parse_wav_header

        mulaw = make_wav(rate=8000, channels=1, bits=8, n_frames=4000,
                         fmt_tag=7)
        got = _parse_wav_header(mulaw)
        assert got[5] is True and got[4] == pytest.approx(0.5)
        gsm = make_wav(rate=8000, channels=1, bits=0, fmt_tag=0x31)
        assert _parse_wav_header(gsm)[5] is False
        f32 = make_wav(rate=8000, channels=1, bits=32, n_frames=8000,
                       fmt_tag=3)
        got = _parse_wav_header(f32)
        assert got[5] is True and got[4] == pytest.approx(1.0)


@pytest.fixture(scope="module")
def media_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("media")
    (d / "a.png").write_bytes(make_png())
    (d / "b.gif").write_bytes(make_gif())
    (d / "c.jpg").write_bytes(make_jpeg())
    (d / "d.wav").write_bytes(make_wav(rate=8000, channels=1, bits=16,
                                       n_frames=4000))
    (d / "e.bin").write_bytes(b"\x01\x02\x03")
    return str(d)


class TestBinaryIngestion:
    def test_modality_mapping(self, spark, media_dir):
        df = read_binary_dir(spark, media_dir)
        got = {r["path"].rsplit("/", 1)[-1]: r["modality"] for r in df.collect()}
        assert got == {
            "a.png": "image", "b.gif": "image", "c.jpg": "image",
            "d.wav": "audio", "e.bin": "unknown",
        }

    def test_image_meta_udf(self, spark, media_dir):
        df = read_binary_dir(spark, media_dir).withColumn(
            "meta", decode_image_meta("content")
        )
        rows = {r["path"].rsplit("/", 1)[-1]: r["meta"] for r in df.collect()}
        assert rows["a.png"]["width"] == 16 and rows["a.png"]["height"] == 9
        assert rows["b.gif"]["format"] == "gif"
        assert rows["c.jpg"]["valid"] is True
        assert rows["e.bin"]["valid"] is False

    def test_feature_extraction_shape_and_norm(self, spark, media_dir):
        import math

        feats = extract_features(read_binary_dir(spark, media_dir))
        assert "content" not in feats.columns
        for r in feats.collect():
            assert len(r["features"]) == 32
            n = math.sqrt(sum(x * x for x in r["features"]))
            assert n == pytest.approx(1.0, abs=1e-5)

    def test_audio_meta_udf(self, spark, media_dir):
        from qurio_spark.sources.multimodal import decode_audio_meta

        df = read_binary_dir(spark, media_dir).withColumn(
            "ameta", decode_audio_meta("content")
        )
        rows = {r["path"].rsplit("/", 1)[-1]: r["ameta"] for r in df.collect()}
        wav = rows["d.wav"]
        assert wav["valid"] is True
        assert wav["sample_rate"] == 8000 and wav["channels"] == 1
        assert wav["duration_s"] == 0.5
        assert rows["a.png"]["valid"] is False  # non-audio bytes

    def test_frame_sample_plan(self, spark, media_dir):
        planned = frame_sample_plan(read_binary_dir(spark, media_dir), every_n=1)
        for r in planned.collect():
            assert r["sample_frames"][0] == 0

    def test_decode_stub_raises(self):
        from qurio_spark.sources.multimodal import _decode_pixels

        with pytest.raises(NotImplementedError):
            _decode_pixels(b"anything")
        # every JPEG and GIF, valid or not, needs a decode provider; a
        # data-less PNG header is a malformed-file error, not a stub
        for blob in (make_jpeg_arith(), make_jpeg(), make_gif(),
                     JPEG_8X8, GIF_4X3):
            with pytest.raises(NotImplementedError, match="codec library"):
                _decode_pixels(blob)
        with pytest.raises(ValueError, match="IDAT"):
            _decode_pixels(make_png())

    def test_resize_spec_geometry(self, spark):
        """Aspect preserved, no upscaling, 1px floor, NULLs pass through."""
        from qurio_spark.sources.multimodal import resize_spec

        rows = [
            (1, 448, 224),     # downscale 2x on the long side
            (2, 100, 50),      # already small: untouched
            (3, 10000, 2),     # extreme aspect: short side floors at 1
            (4, None, None),   # unparseable header
            (5, 0, 0),         # crafted 0x0 header: no silent 1x1 target
            (6, 640, 0),       # one degenerate dim is just as invalid
        ]
        df = spark.createDataFrame(rows, "id int, width int, height int")
        got = {
            r["id"]: (r["target_width"], r["target_height"], r["resize_scale"])
            for r in resize_spec(df, max_side=224).collect()
        }
        assert got[1] == (224, 112, 0.5)
        assert got[2] == (100, 50, 1.0)
        assert got[3] == (224, 1, 0.0224)
        assert got[4] == (None, None, None)
        assert got[5] == (None, None, None)
        assert got[6] == (None, None, None)


class TestPixelDecode:
    """The hermetic pixel path (VERDICT r5 item 7): uncompressed BMP and
    raw/Flate PDF image XObjects decode for real; codecs stay stubbed."""

    def test_bmp_header_sniff(self):
        assert _parse_image_header(make_bmp(7, 5)) == ("bmp", 7, 5, True)
        assert _parse_image_header(make_bmp(7, 5, top_down=True)) == (
            "bmp", 7, 5, True,
        )

    def test_bmp_decode_golden(self):
        import numpy as np

        from qurio_spark.sources.multimodal import _decode_pixels

        golden = bmp_golden(7, 5)
        for kwargs in ({}, {"top_down": True}, {"bpp": 32}):
            got = _decode_pixels(make_bmp(7, 5, **kwargs))
            assert got.shape == (5, 7, 3)
            assert np.array_equal(got, golden), kwargs

    def test_bmp_variants_stay_stubbed(self):
        from qurio_spark.sources.multimodal import _decode_pixels

        raw = bytearray(make_bmp())
        raw[30] = 1  # BI_RLE8: compressed variant -> codec territory
        with pytest.raises(NotImplementedError):
            _decode_pixels(bytes(raw))
        with pytest.raises(ValueError):
            _decode_pixels(make_bmp()[:40])  # truncated header
        with pytest.raises(ValueError):
            _decode_pixels(make_bmp(64, 64)[:200])  # truncated pixels

    def test_resample_nearest(self):
        import numpy as np

        from qurio_spark.sources.multimodal import _resample_nearest

        px = bmp_golden(7, 5)
        assert np.array_equal(_resample_nearest(px, 7, 5), px)
        # 2x2 from 4x4 picks the pixel-center sources (rows/cols 1 and 3)
        grid = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
        small = _resample_nearest(grid, 2, 2)
        assert np.array_equal(small, grid[[1, 3]][:, [1, 3]])

    def test_resize_pixels_end_to_end(self, spark):
        """BMP bytes -> header meta -> resize_spec targets -> decoded +
        resampled RGB24 bytes; a codec row degrades to a visible error."""
        import numpy as np

        from qurio_spark.sources.multimodal import (
            _resample_nearest,
            decode_image_meta,
            resize_pixels,
            resize_spec,
        )

        df = spark.createDataFrame(
            [("img/a.bmp", bytearray(make_bmp(7, 5))),
             ("img/b.jpg", bytearray(make_jpeg_arith(16, 9)))],
            "path string, content binary",
        )
        meta = df.withColumn("meta", decode_image_meta("content")).select(
            "path", "content", "meta.width", "meta.height"
        )
        out = {
            r["path"]: r
            for r in resize_pixels(resize_spec(meta, max_side=4)).collect()
        }
        golden = _resample_nearest(bmp_golden(7, 5), 4, 3)
        a = out["img/a.bmp"]
        assert (a["out_width"], a["out_height"]) == (4, 3)
        assert a["resize_error"] is None
        assert np.array_equal(
            np.frombuffer(bytes(a["pixels"]), dtype=np.uint8).reshape(3, 4, 3),
            golden,
        )
        b = out["img/b.jpg"]
        assert b["pixels"] is None and "codec library" in b["resize_error"]

    def test_pdf_image_xobjects(self):
        import numpy as np

        from qurio_spark.sources.multimodal import _pdf_image_xobjects
        from tests.pdf_fixture import make_image_pdf

        rgb = bmp_golden(6, 4)
        raw_pdf = make_image_pdf(6, 4, rgb.tobytes())
        imgs = list(_pdf_image_xobjects(raw_pdf))
        assert len(imgs) == 1
        w, h, px = imgs[0]
        assert (w, h) == (6, 4) and np.array_equal(px, rgb)

        # FlateDecode DeviceGray: inflated then gray->RGB broadcast
        gray = np.arange(24, dtype=np.uint8).reshape(4, 6, 1)
        flate_pdf = make_image_pdf(
            6, 4, gray.tobytes(), colorspace="DeviceGray", compress=True
        )
        (w, h, px), = list(_pdf_image_xobjects(flate_pdf))
        assert (w, h) == (6, 4)
        assert np.array_equal(px, np.repeat(gray, 3, axis=2))

        # DCTDecode is codec territory: skipped even around a valid
        # JPEG, and corrupt DCT bytes are skipped, not misdecoded
        dct_pdf = make_image_pdf(8, 8, JPEG_8X8, codec="DCTDecode")
        assert list(_pdf_image_xobjects(dct_pdf)) == []
        bad_pdf = make_image_pdf(6, 4, b"\xff\xd8jpegbytes", codec="DCTDecode")
        assert list(_pdf_image_xobjects(bad_pdf)) == []

    def test_pdf_image_inventory(self, spark):
        """Quarantine routing: decodable vs codec-bound image XObjects
        counted per PDF, with the largest decodable dims."""
        from qurio_spark.sources.multimodal import pdf_image_inventory
        from tests.pdf_fixture import make_image_pdf, make_pdf

        rgb = bmp_golden(8, 6)
        raw_pdf = make_image_pdf(8, 6, rgb.tobytes())
        dct_pdf = make_image_pdf(6, 4, b"\xff\xd8jpeg", codec="DCTDecode")
        real_dct_pdf = make_image_pdf(8, 8, JPEG_8X8, codec="DCTDecode")
        text_pdf = make_pdf([["just text"]])
        df = spark.createDataFrame(
            [("a.pdf", bytearray(raw_pdf)),
             ("b.pdf", bytearray(dct_pdf)),
             ("c.pdf", bytearray(text_pdf)),
             ("d.pdf", None),
             ("e.pdf", bytearray(real_dct_pdf))],
            "path string, content binary",
        )
        got = {r["path"]: r for r in pdf_image_inventory(df).collect()}
        a = got["a.pdf"]
        assert (a["n_images"], a["n_decodable"]) == (1, 1)
        assert (a["max_width"], a["max_height"]) == (8, 6)
        b = got["b.pdf"]
        assert (b["n_images"], b["n_decodable"]) == (1, 0)
        assert b["max_width"] is None
        assert got["c.pdf"]["n_images"] == 0
        assert got["d.pdf"]["n_images"] is None
        e = got["e.pdf"]
        assert (e["n_images"], e["n_decodable"]) == (1, 0)
        assert e["max_width"] is None


class TestFileConversion:
    """S5 body: hermetic md/txt/json/csv -> markdown conversion
    (handlers/file.py:196-299 semantics; pdf stays honestly stubbed)."""

    @pytest.fixture(scope="class")
    def uploads(self, tmp_path_factory):
        d = tmp_path_factory.mktemp("uploads")
        (d / "guide.md").write_text("# Real Guide\n\nSome body text here.")
        (d / "notes.txt").write_text("Plain notes about the system design.")
        (d / "conf.json").write_text('{"b": 2, "a": 1}')
        (d / "data.csv").write_text("name,age\nada,36\nlin,29\n")
        (d / "scan.pdf").write_bytes(b"%PDF-1.4 fake")
        (d / "blob.xyz").write_bytes(b"whatever")
        (d / "bin.csv").write_bytes(b"\xff\xfe\x00bad")
        return str(d)

    @pytest.fixture(scope="class")
    def converted(self, spark, uploads):
        from qurio_spark.sources.multimodal import convert_files, read_binary_dir

        rows = convert_files(read_binary_dir(spark, uploads)).collect()
        return {r["path"].rsplit("/", 1)[-1]: r for r in rows}

    def test_markdown_passthrough_and_title(self, converted):
        r = converted["guide.md"]
        assert r["status"] == "success"
        assert r["title"] == "Real Guide"
        assert r["content"].startswith("# Real Guide")

    def test_txt_and_defaults(self, converted):
        r = converted["notes.txt"]
        assert r["status"] == "success"
        assert r["title"] == "notes.txt"
        assert r["language"] == "en" and r["pages"] == 0

    def test_json_pretty_fenced(self, converted):
        r = converted["conf.json"]
        assert r["status"] == "success"
        assert r["content"].startswith("```json\n")
        # sort_keys: deterministic output
        assert r["content"].index('"a"') < r["content"].index('"b"')

    def test_csv_markdown_table(self, converted):
        r = converted["data.csv"]
        assert r["status"] == "success"
        lines = r["content"].split("\n")
        assert lines[0] == "| name | age |"
        assert lines[1] == "| --- | --- |"
        assert "| ada | 36 |" in lines

    def test_failure_taxonomy(self, converted):
        from qurio_spark.sources.multimodal import ERR_CONVERSION_STUBBED

        assert converted["scan.pdf"]["error"] == ERR_CONVERSION_STUBBED
        assert converted["blob.xyz"]["error"] == "ERR_INVALID_FORMAT"
        assert converted["bin.csv"]["error"] == "ERR_INVALID_FORMAT"
        assert all(
            converted[n]["status"] == "failed"
            for n in ("scan.pdf", "blob.xyz", "bin.csv")
        )

    def test_empty_taxonomy_pure(self):
        """0-byte and blank-text inputs -> ERR_EMPTY.  (binaryFile
        silently skips 0-byte files, so this path is only reachable
        from direct upload frames — tested on the pure function.)"""
        from qurio_spark.sources.multimodal import _convert_one

        assert _convert_one("/up/empty.md", b"")[2] == "ERR_EMPTY"
        assert _convert_one("/up/blank.txt", b"   \n  ")[2] == "ERR_EMPTY"
        assert _convert_one("/up/empty.csv", b"\n\n")[2] == "ERR_EMPTY"

    def test_uploads_chunk_end_to_end(self, spark, uploads):
        """Converted uploads flow into the standard chunk pipeline;
        failed conversions never produce chunks (they go to M5)."""
        from qurio_spark.plans.pipeline import build_chunks
        from qurio_spark.sources.multimodal import (
            convert_files,
            read_binary_dir,
            uploads_to_docs_raw,
        )

        docs_raw = uploads_to_docs_raw(
            convert_files(read_binary_dir(spark, uploads)), source_id="up1"
        )
        chunks = build_chunks(docs_raw)
        urls = {r["url"].rsplit("/", 1)[-1] for r in chunks.select("url").distinct().collect()}
        assert "guide.md" in urls and "notes.txt" in urls
        assert "scan.pdf" not in urls and "blob.xyz" not in urls


class TestPdfExtraction:
    """S5 text-PDF body (handlers/file.py:196-299): hermetic extraction
    of digitally-born PDFs — raw and FlateDecode content streams,
    literal-string escapes, page counting, Info-dict title; scanned
    (image-only) PDFs keep the honest OCR stub."""

    def test_uncompressed_single_page(self):
        from qurio_spark.sources.multimodal import _convert_one
        from tests.pdf_fixture import make_pdf

        pdf = make_pdf([["Hello PDF world.", "Second line here."]],
                       title="My Report")
        row = _convert_one("/up/report.pdf", pdf)
        assert row[1] == "success"
        assert "Hello PDF world." in row[3] and "Second line here." in row[3]
        assert row[4] == "My Report"
        assert row[7] == 1  # pages

    def test_flate_two_pages(self):
        from qurio_spark.sources.multimodal import _convert_one
        from tests.pdf_fixture import make_pdf

        pdf = make_pdf(
            [["Page one text."], ["Page two text."]], compress=True
        )
        row = _convert_one("/up/two.pdf", pdf)
        assert row[1] == "success"
        assert "Page one text." in row[3] and "Page two text." in row[3]
        assert row[7] == 2
        assert row[4] == "two.pdf"  # no /Title -> filename

    def test_flate_nested_decodeparms_dict(self):
        """A stream dict with a nested /DecodeParms << ... >> must still
        be recognized as FlateDecode: the dict locator balances <</>>
        pairs instead of grabbing the innermost <<."""
        from qurio_spark.sources.multimodal import _convert_one
        from tests.pdf_fixture import make_pdf

        pdf = make_pdf(
            [["Nested parms text."]], compress=True, nested_parms=True
        )
        row = _convert_one("/up/nested.pdf", pdf)
        assert row[1] == "success"
        assert "Nested parms text." in row[3]

    def test_dict_tokens_inside_string_literal(self):
        """Dict tokens inside a literal string (``/Note (a >> b << c)``)
        are legal PDF and must not unbalance the outermost-dict scan —
        an unbalanced walk lands in a previous object, misses /Filter
        or feeds zlib garbage, and the stream is silently skipped."""
        from qurio_spark.sources.multimodal import _convert_one
        from tests.pdf_fixture import make_pdf

        # alone, and combined with the nested /DecodeParms dict
        for kwargs in (
            {"tricky_literal": True},
            {"tricky_literal": True, "nested_parms": True},
        ):
            pdf = make_pdf([["Literal scan text."]], compress=True, **kwargs)
            row = _convert_one("/up/tricky.pdf", pdf)
            assert row[1] == "success", kwargs
            assert "Literal scan text." in row[3], kwargs

    def test_dict_start_masks_strings_and_bounds_at_obj(self):
        """Unit-level pin of the locator: string spans are masked
        BEFORE the obj-keyword anchor, so neither dict tokens nor an
        'obj' substring inside a string corrupt the scan."""
        from qurio_spark.sources.multimodal import _pdf_dict_start

        data = (
            b"1 0 obj\n<< /Junk (x >> y) >>\nendobj\n"
            b"2 0 obj\n<< /Length 3 /Title (a >> b << c) "
            b"/DecodeParms << /Predictor 1 >> >>\nstream\n"
        )
        start = _pdf_dict_start(data, data.rfind(b"stream"))
        head = data[start : data.rfind(b"stream")]
        assert head.startswith(b"<< /Length 3")
        assert b"DecodeParms" in head
        assert b"Junk" not in head  # did not escape into object 1

        # 'obj' / 'endobj' INSIDE a literal string: a raw-bytes anchor
        # on either keyword would land mid-string, truncate past '<<',
        # and return -1
        for note in (b"(my object)", b"(fake endobj here)"):
            data2 = (
                b"1 0 obj\n<< >>\nendobj\n"
                b"2 0 obj\n<< /Length 3 /Note " + note +
                b" /Filter /FlateDecode >>\nstream\n"
            )
            start2 = _pdf_dict_start(data2, data2.rfind(b"stream"))
            assert start2 != -1, note
            head2 = data2[start2 : data2.rfind(b"stream")]
            assert head2.startswith(b"<< /Length 3"), note
            assert b"FlateDecode" in head2, note

    def test_dict_scan_survives_binary_stream_neighbors(self):
        """ADVICE r5 (high): the backward scan window routinely starts
        inside an earlier object's binary stream body; stray '(' / '<'
        bytes there must not open masked spans that blank through the
        target stream's dict (which would silently miss FlateDecode and
        drop the stream's text)."""
        import zlib

        from qurio_spark.sources.multimodal import extract_pdf_text

        text_ops = b"BT /F1 12 Tf 72 720 Td (Recovered text.) Tj ET"
        flate = zlib.compress(text_ops)
        # ~8 KiB binary body: net-open parens, stray '<' with non-hex
        # content — the advisor's measured failure class
        binary = (b"\x00\x01(\x02<zz\x03" * 1024) + b"(("
        pdf = (
            b"%PDF-1.4\n"
            b"1 0 obj\n<< /Type /Page >>\nendobj\n"
            b"2 0 obj\n<< /Length " + str(len(binary)).encode() + b" >>\n"
            b"stream\n" + binary + b"\nendstream\nendobj\n"
            b"3 0 obj\n<< /Length " + str(len(flate)).encode()
            + b" /Filter /FlateDecode >>\nstream\n" + flate
            + b"\nendstream\nendobj\n"
            b"trailer\n<< /Root 1 0 R >>\n%%EOF\n"
        )
        text, _, _ = extract_pdf_text(pdf)
        assert text is not None and "Recovered text." in text

    def test_mask_leaves_unterminated_and_nonhex_spans(self):
        """Unit pin of the defensive masker: an unterminated '('-span
        and a non-hex '<...>' span stay unmasked (so they can't blank
        later structure); real literal/hex strings are still blanked."""
        from qurio_spark.sources.multimodal import _mask_pdf_strings

        r = _mask_pdf_strings(b"\x01(\x02 << /A (x) >>")
        assert b"<<" in r and b"/A" in r and b"(x)" not in r
        r2 = _mask_pdf_strings(b"<zz> << /ID <AB12> >>")
        assert b"<zz>" in r2 and b"AB12" not in r2 and b"<<" in r2

    def test_obj_substring_in_name_token(self):
        """ADVICE r5 (low): a name token containing 'obj' after the
        target '<<' must not push the anchor past the dict open."""
        from qurio_spark.sources.multimodal import _pdf_dict_start

        data = (
            b"1 0 obj\n<< >>\nendobj\n"
            b"2 0 obj\n<< /Length 3 /Thing /subobj "
            b"/Filter /FlateDecode >>\nstream\n"
        )
        start = _pdf_dict_start(data, data.rfind(b"stream"))
        assert start != -1
        head = data[start : data.rfind(b"stream")]
        assert head.startswith(b"<< /Length 3")
        assert b"FlateDecode" in head

    def test_string_escapes_and_octal(self):
        from qurio_spark.sources.multimodal import extract_pdf_text
        from tests.pdf_fixture import make_pdf

        pdf = make_pdf([["paren (nested) and back\\slash"]])
        text, _, _ = extract_pdf_text(pdf)
        assert "paren (nested) and back\\slash" in text
        # octal escapes decode to their byte values
        raw = make_pdf([["placeholder"]]).replace(
            b"(placeholder)", rb"(\101\102 ok)"
        )
        text, _, _ = extract_pdf_text(raw)
        assert "AB ok" in text

    def test_image_only_pdf_stays_stubbed(self):
        from qurio_spark.sources.multimodal import (
            ERR_CONVERSION_STUBBED,
            _convert_one,
        )
        from tests.pdf_fixture import make_pdf

        pdf = make_pdf([["ignored"]], image_only=True)
        row = _convert_one("/up/scan.pdf", pdf)
        assert row[1] == "failed" and row[2] == ERR_CONVERSION_STUBBED

    def test_non_pdf_payload_invalid(self):
        from qurio_spark.sources.multimodal import _convert_one

        row = _convert_one("/up/fake.pdf", b"GIF89a not a pdf")
        assert row[1] == "failed" and row[2] == "ERR_INVALID_FORMAT"


class TestDocxExtraction:
    """S5 DOCX body: OPC zip + WordprocessingML, stdlib-only (reference
    routes DOCX through docling's DocumentConverter)."""

    def test_paragraphs_title_pages(self):
        from qurio_spark.sources.multimodal import _convert_one
        from tests.pdf_fixture import make_docx

        docx = make_docx(
            ["First paragraph of the memo.", "Second paragraph follows."],
            title="Team Memo",
            page_breaks=1,
        )
        row = _convert_one("/up/memo.docx", docx)
        assert row[1] == "success"
        assert "First paragraph of the memo." in row[3]
        assert "Second paragraph follows." in row[3]
        assert row[4] == "Team Memo"
        assert row[7] == 2

    def test_no_title_falls_back_to_filename(self):
        from qurio_spark.sources.multimodal import _convert_one
        from tests.pdf_fixture import make_docx

        row = _convert_one("/up/plain.docx", make_docx(["Body."]))
        assert row[1] == "success" and row[4] == "plain.docx" and row[7] == 1

    def test_empty_body_is_err_empty(self):
        from qurio_spark.sources.multimodal import _convert_one
        from tests.pdf_fixture import make_docx

        row = _convert_one("/up/empty.docx", make_docx([]))
        assert row[1] == "failed" and row[2] == "ERR_EMPTY"

    def test_non_zip_payload_invalid(self):
        from qurio_spark.sources.multimodal import _convert_one

        row = _convert_one("/up/fake.docx", b"this is not a zip archive")
        assert row[1] == "failed" and row[2] == "ERR_INVALID_FORMAT"

    def test_xml_escapes_round_trip(self):
        from qurio_spark.sources.multimodal import extract_docx_text
        from tests.pdf_fixture import make_docx

        text, _, _ = extract_docx_text(make_docx(["a < b & c > d"]))
        assert "a < b & c > d" in text


def _g711_wav(payload: bytes, fmt_tag: int, bits: int = 8, rate: int = 8000,
              channels: int = 1, block_align: int | None = None) -> bytes:
    """Minimal WAV container around a pre-encoded codec payload."""
    ba = block_align if block_align is not None else channels * max(1, bits // 8)
    fmt = b"fmt " + struct.pack(
        "<IHHIIHH", 16, fmt_tag, channels, rate, rate * ba, ba, bits,
    )
    data = b"data" + struct.pack("<I", len(payload)) + payload
    body = b"WAVE" + fmt + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


class TestPcmSampleDecode:
    """The hermetic audio sample path: _wav_pcm_mono really decodes
    int16/uint8/float32 PCM payloads; codecs and truncated chunks stay
    honestly rejected (the audio twin of TestPixelDecode)."""

    def test_int16_roundtrip(self):
        import numpy as np

        from qurio_spark.queries.media import _wav_bytes
        from qurio_spark.sources.multimodal import _wav_pcm_mono

        vals = [k / 32768.0 for k in (-600, -1, 0, 1, 599)]
        got = _wav_pcm_mono(_wav_bytes([[v] for v in vals]))
        assert np.array_equal(got, np.array(vals))

    def test_stereo_channel_average(self):
        import numpy as np

        from qurio_spark.queries.media import _wav_bytes
        from qurio_spark.sources.multimodal import _wav_pcm_mono

        frames = [[100 / 32768.0, 300 / 32768.0], [-50 / 32768.0, 50 / 32768.0]]
        got = _wav_pcm_mono(_wav_bytes(frames))
        assert np.array_equal(got, np.array([200 / 32768.0, 0.0]))

    def test_uint8_offset_binary(self):
        import numpy as np

        from qurio_spark.queries.media import _wav_bytes
        from qurio_spark.sources.multimodal import _wav_pcm_mono

        vals = [k / 128.0 for k in (-120, 0, 120)]
        got = _wav_pcm_mono(_wav_bytes([[v] for v in vals], bits=8))
        assert np.array_equal(got, np.array(vals))

    def test_float32_exact_for_dyadics(self):
        import numpy as np

        from qurio_spark.queries.media import _wav_bytes
        from qurio_spark.sources.multimodal import _wav_pcm_mono

        vals = [k / 1024.0 for k in (-512, 3, 511)]
        got = _wav_pcm_mono(_wav_bytes([[v] for v in vals], bits=32, fmt_tag=3))
        assert np.array_equal(got, np.array(vals))

    def test_codec_and_truncated_rejected(self):
        from qurio_spark.queries.media import _wav_bytes
        from qurio_spark.sources.multimodal import _wav_pcm_mono

        frames = [[0.01], [-0.01]]
        # tag 7 declaring 16-bit samples is malformed mu-law: rejected
        assert _wav_pcm_mono(_wav_bytes(frames, fmt_tag=7)) is None
        # genuinely compressed codec (GSM): rejected
        assert _wav_pcm_mono(_wav_bytes(frames, fmt_tag=0x31)) is None
        assert _wav_pcm_mono(_wav_bytes(frames, truncate_payload=2)) is None
        assert _wav_pcm_mono(b"garbage") is None
        assert _wav_pcm_mono(None) is None

    def test_g711_mulaw_roundtrip(self):
        """G.711 mu-law: encode with the spec's bias/segment formula,
        decode through the LUT — error bounded by half the largest
        quantization step (~1/64 full scale), exact at silence
        (0xFF -> 0)."""
        import numpy as np

        from qurio_spark.queries.media import _wav_bytes  # noqa: F401
        from qurio_spark.sources.multimodal import _wav_pcm_mono

        def mulaw_byte(v):
            x = int(round(v * 32768.0))
            sign = 0x80 if x < 0 else 0
            x = min(abs(x), 32635) + 0x84
            exp = x.bit_length() - 8
            mant = (x >> (exp + 3)) & 0x0F
            return ~(sign | (exp << 4) | mant) & 0xFF

        vals = [0.0, 0.001, -0.001, 0.25, -0.25, 0.9, -0.9]
        payload = bytes(mulaw_byte(v) for v in vals)
        wav = _g711_wav(payload, fmt_tag=7)
        got = _wav_pcm_mono(wav)
        assert got is not None and len(got) == len(vals)
        assert np.abs(got - np.asarray(vals)).max() < 1 / 64
        assert _wav_pcm_mono(_g711_wav(b"\xff\xff", fmt_tag=7)).tolist() == [
            0.0, 0.0,
        ]

    def test_g711_alaw_roundtrip(self):
        import numpy as np

        from qurio_spark.sources.multimodal import _wav_pcm_mono

        def alaw_byte(v):
            x = int(round(v * 32768.0))
            sign = 0x80 if x >= 0 else 0
            x = min(abs(x), 32767)
            if x < 256:
                byte = x >> 4
            else:
                exp = x.bit_length() - 8
                mant = (x >> (exp + 3)) & 0x0F
                byte = (exp << 4) | mant
            return (sign | byte) ^ 0x55

        vals = [0.0, 0.002, -0.002, 0.3, -0.3, 0.85, -0.85]
        payload = bytes(alaw_byte(v) for v in vals)
        got = _wav_pcm_mono(_g711_wav(payload, fmt_tag=6))
        assert got is not None
        assert np.abs(got - np.asarray(vals)).max() < 1 / 32

    def test_ima_adpcm_roundtrip(self):
        """Mono IMA-ADPCM: the test-side encoder runs the same state
        machine choosing nibbles greedily; a smooth ramp decodes
        within the adaptive step error.  Stereo ADPCM stays honestly
        rejected."""
        import numpy as np

        from qurio_spark.sources.multimodal import (
            _IMA_INDEX_ADJ,
            _IMA_STEPS,
            _wav_pcm_mono,
        )

        t = np.arange(249)
        vals = (0.4 * np.sin(2 * np.pi * t / 50)).tolist()

        def encode_block(samples, pred, idx):
            body = bytearray()
            nibs = []
            for v in samples:
                target = int(round(v * 32768.0))
                step = _IMA_STEPS[idx]
                diff = target - pred
                nib = 0
                if diff < 0:
                    nib, diff = 8, -diff
                if diff >= step:
                    nib |= 4
                    diff -= step
                if diff >= step >> 1:
                    nib |= 2
                    diff -= step >> 1
                if diff >= step >> 2:
                    nib |= 1
                # replicate the decoder's reconstruction exactly
                d = step >> 3
                if nib & 1:
                    d += step >> 2
                if nib & 2:
                    d += step >> 1
                if nib & 4:
                    d += step
                pred = pred - d if nib & 8 else pred + d
                pred = max(-32768, min(32767, pred))
                idx = max(0, min(88, idx + _IMA_INDEX_ADJ[nib & 7]))
                nibs.append(nib)
            for i in range(0, len(nibs), 2):
                lo = nibs[i]
                hi = nibs[i + 1] if i + 1 < len(nibs) else 0
                body.append(lo | (hi << 4))
            return bytes(body), pred, idx

        block_samples = 124  # 4-byte header + 62 data bytes = 66-byte blocks
        payload = bytearray()
        for off in range(0, len(vals), block_samples + 1):
            chunk = vals[off : off + block_samples + 1]
            pred = int(round(chunk[0] * 32768.0))
            # seed the step index from the block's first delta — the
            # standard encoder practice (an idx-0 start can't track a
            # steep signal until the step ramps up)
            d0 = abs(int(round((chunk[1] - chunk[0]) * 32768.0))) if len(chunk) > 1 else 0
            idx = next(
                (i for i, st in enumerate(_IMA_STEPS) if st >= d0), 88
            )
            body, _, _ = encode_block(chunk[1:], pred, idx)
            payload += struct.pack("<hBB", pred, idx, 0) + body
        wav = _g711_wav(bytes(payload), fmt_tag=0x11, bits=4,
                        block_align=4 + (block_samples // 2))
        got = _wav_pcm_mono(wav)
        assert got is not None and len(got) >= len(vals) - 2
        err = np.abs(got[: len(vals)] - np.asarray(vals)[: len(got)])
        assert err.max() < 0.06  # adaptive quantizer tracks the ramp
        # stereo ADPCM is rejected, not misdecoded
        stereo = _g711_wav(bytes(payload), fmt_tag=0x11, bits=4,
                           block_align=4 + (block_samples // 2), channels=2)
        assert _wav_pcm_mono(stereo) is None


#: Adam7 pass geometry, copied from the PNG spec independently of the
#: decoder's table (a transposition bug in either side breaks the
#: round-trip tests)
ADAM7_TEST = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def make_png_full(arr, color_type=2, filters=None, depth=8, interlace=0,
                  palette=None) -> bytes:
    """Real PNG encoder (test-side twin of _decode_png_pixels): arr is
    (h, w, nch) uint8 (uint16 for depth=16); per-row filter types
    (0-4) are APPLIED per the spec — byte-wise, left neighbor ``bpp``
    bytes back — so decoding exercises the reconstruction paths.
    ``interlace=1`` emits the seven Adam7 sub-images, each filtered
    independently.  stdlib only."""
    import zlib

    import numpy as np

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        if pa <= pb and pa <= pc:
            return a
        if pb <= pc:
            return b
        return c

    h, w, nch = arr.shape
    filters = filters or [0] * h
    bpp = nch * (depth // 8) if depth >= 8 else nch

    def row_bytes(sub):
        """(hp, wp, nch) samples -> (hp, row_bytes) int64 byte rows
        (16-bit -> big-endian pairs; sub-byte depths pack MSB-first)."""
        a = sub.astype(np.int64)
        if depth == 16:
            hi, lo = (a >> 8) & 0xFF, a & 0xFF
            return np.stack([hi, lo], axis=-1).reshape(a.shape[0], -1)
        if depth >= 8:
            return a.reshape(a.shape[0], -1)
        flat = a.reshape(a.shape[0], -1)  # nch == 1 for sub-byte
        per_byte = 8 // depth
        pad = (-flat.shape[1]) % per_byte
        if pad:
            flat = np.pad(flat, ((0, 0), (0, pad)))
        grp = flat.reshape(flat.shape[0], -1, per_byte)
        out = np.zeros(grp.shape[:2], dtype=np.int64)
        for i in range(per_byte):
            out |= grp[:, :, i] << (8 - depth * (i + 1))
        return out

    def filter_sub(sub, scan):
        rows = row_bytes(sub)
        hp, rb = rows.shape
        for y in range(hp):
            f = filters[y % len(filters)]
            row, prev = rows[y], (
                rows[y - 1] if y else np.zeros(rb, dtype=np.int64)
            )
            filt = np.empty(rb, dtype=np.int64)
            for x in range(rb):
                a = row[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                if f == 0:
                    filt[x] = row[x]
                elif f == 1:
                    filt[x] = row[x] - a
                elif f == 2:
                    filt[x] = row[x] - b
                elif f == 3:
                    filt[x] = row[x] - (a + b) // 2
                else:
                    filt[x] = row[x] - paeth(a, b, c)
            scan.append(f)
            scan += bytes((filt & 0xFF).astype(np.uint8))

    scan = bytearray()
    if interlace == 0:
        filter_sub(arr, scan)
    else:
        for x0, y0, dx, dy in ADAM7_TEST:
            sub = arr[y0::dy, x0::dx]
            if sub.shape[0] and sub.shape[1]:
                filter_sub(sub, scan)

    def chunk(ctype, body):
        return (
            struct.pack(">I", len(body)) + ctype + body
            + struct.pack(">I", zlib.crc32(ctype + body))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, depth, color_type, 0, 0, interlace)
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if palette is not None:
        out += chunk(b"PLTE", bytes(palette.reshape(-1)))
    out += chunk(b"IDAT", zlib.compress(bytes(scan)))
    return out + chunk(b"IEND", b"")


class TestPngDecode:
    """_decode_png_pixels: stdlib zlib + filter reconstruction (round-7
    hermetic slice — PNG is the one compressed raster stdlib decodes)."""

    def _rgb(self, w=7, h=5):
        return bmp_golden(w, h)  # same deterministic gradient

    @pytest.mark.parametrize("f", [0, 1, 2, 3, 4])
    def test_rgb_each_filter_type(self, f):
        import numpy as np

        from qurio_spark.sources.multimodal import _decode_pixels

        arr = self._rgb(7, 5)
        got = _decode_pixels(make_png_full(arr, filters=[f] * 5))
        assert np.array_equal(got, arr), f"filter {f}"

    def test_rgb_mixed_filters(self):
        import numpy as np

        from qurio_spark.sources.multimodal import _decode_pixels

        arr = self._rgb(9, 6)
        got = _decode_pixels(make_png_full(arr, filters=[0, 1, 2, 3, 4, 1]))
        assert np.array_equal(got, arr)

    def test_gray_alpha_palette_variants(self):
        import numpy as np

        from qurio_spark.sources.multimodal import _decode_pixels

        rgb = self._rgb(5, 4)
        gray = rgb[:, :, :1]
        got = _decode_pixels(make_png_full(gray, color_type=0, filters=[1, 2, 3, 4]))
        assert np.array_equal(got, np.repeat(gray, 3, axis=2))

        ga = np.concatenate([gray, np.full_like(gray, 200)], axis=2)
        got = _decode_pixels(make_png_full(ga, color_type=4))
        assert np.array_equal(got, np.repeat(gray, 3, axis=2))

        rgba = np.concatenate([rgb, np.full_like(rgb[:, :, :1], 128)], axis=2)
        got = _decode_pixels(make_png_full(rgba, color_type=6, filters=[4, 4, 4, 4]))
        assert np.array_equal(got, rgb)

        palette = np.array(
            [[10, 20, 30], [40, 50, 60], [70, 80, 90]], dtype=np.uint8
        )
        idx = np.array([[0, 1, 2], [2, 1, 0]], dtype=np.uint8)[:, :, None]
        got = _decode_pixels(
            make_png_full(idx, color_type=3, palette=palette)
        )
        assert np.array_equal(got, palette[idx[:, :, 0]])

    @pytest.mark.parametrize("f", [0, 1, 2, 3, 4])
    def test_16bit_high_byte_each_filter(self, f):
        """depth=16 (round-8 slice): byte-wise filters with bpp=6 and
        the standard high-byte downsample — 8-bit-upsampled content
        (v*257) round-trips exactly."""
        import numpy as np

        from qurio_spark.sources.multimodal import _decode_pixels

        arr = self._rgb(7, 5)
        arr16 = arr.astype(np.uint16) * 257
        got = _decode_pixels(make_png_full(arr16, depth=16, filters=[f] * 5))
        assert np.array_equal(got, arr), f"filter {f}"

    def test_16bit_gray_and_low_byte_ignored(self):
        import numpy as np

        from qurio_spark.sources.multimodal import _decode_pixels

        gray = self._rgb(6, 4)[:, :, :1]
        # arbitrary low bytes must not leak into the 8-bit output
        g16 = (gray.astype(np.uint16) << 8) | 0x5A
        got = _decode_pixels(
            make_png_full(g16, color_type=0, depth=16, filters=[1, 2, 3, 4])
        )
        assert np.array_equal(got, np.repeat(gray, 3, axis=2))

    @pytest.mark.parametrize("w,h", [(9, 6), (8, 8), (3, 3), (1, 1), (16, 2)])
    def test_adam7_interlace_roundtrip(self, w, h):
        """Adam7 (round-8 slice): seven independently-filtered passes
        scattered back — sizes chosen so some passes are EMPTY (1x1,
        3x3) or single-row (16x2), where pass-geometry bugs live."""
        import numpy as np

        from qurio_spark.sources.multimodal import _decode_pixels

        arr = bmp_golden(w, h)
        got = _decode_pixels(
            make_png_full(arr, interlace=1, filters=[0, 1, 2, 3, 4])
        )
        assert np.array_equal(got, arr)

    def test_adam7_16bit_combined(self):
        import numpy as np

        from qurio_spark.sources.multimodal import _decode_pixels

        arr = self._rgb(11, 7)
        arr16 = arr.astype(np.uint16) * 257
        got = _decode_pixels(
            make_png_full(arr16, depth=16, interlace=1, filters=[4, 3, 2, 1])
        )
        assert np.array_equal(got, arr)

    def test_unsupported_variants_stay_stubbed(self):
        from qurio_spark.sources.multimodal import _decode_pixels

        arr = self._rgb(4, 3)
        # sub-byte depths remain honestly stubbed
        with pytest.raises(NotImplementedError, match="depth"):
            _decode_pixels(make_png_full(arr, depth=4))
        # 16-bit palette is spec-invalid; refuse rather than misread
        with pytest.raises(NotImplementedError):
            _decode_pixels(make_png_full(arr, color_type=3, depth=16))
        # header-only stub (the old make_png) has no IDAT
        with pytest.raises((ValueError, NotImplementedError)):
            _decode_pixels(make_png(8, 8))

    def test_resize_pixels_png_end_to_end(self, spark):
        """The pixel path over a mixed PNG + BMP + JPEG + GIF frame:
        both hermetic formats decode + resample; JPEG and GIF, valid
        files included, stay an honest per-row error."""
        import numpy as np

        from qurio_spark.sources.multimodal import (
            _resample_nearest,
            decode_image_meta,
            resize_pixels,
            resize_spec,
        )

        arr = self._rgb(7, 5)
        df = spark.createDataFrame(
            [
                ("img/p.png", bytearray(make_png_full(arr, filters=[4, 3, 2, 1, 0]))),
                ("img/a.bmp", bytearray(make_bmp(7, 5))),
                ("img/j.jpg", bytearray(JPEG_8X8)),
                ("img/g.gif", bytearray(GIF_4X3)),
                ("img/pr.jpg", bytearray(make_jpeg_arith(32, 24))),
            ],
            "path string, content binary",
        )
        meta = df.withColumn("meta", decode_image_meta("content")).select(
            "path", "content", "meta.width", "meta.height"
        )
        out = {
            r["path"]: r
            for r in resize_pixels(resize_spec(meta, max_side=4)).collect()
        }
        golden = _resample_nearest(arr, 4, 3)
        for p in ("img/p.png", "img/a.bmp"):
            r = out[p]
            assert (r["out_width"], r["out_height"]) == (4, 3)
            got = np.frombuffer(bytes(r["pixels"]), np.uint8).reshape(3, 4, 3)
            assert np.array_equal(got, golden), p
        # no decode provider: every JPEG/GIF row is a visible per-row
        # degrade, not a job failure
        for p in ("img/j.jpg", "img/g.gif", "img/pr.jpg"):
            assert out[p]["pixels"] is None, p
            assert "codec library" in out[p]["resize_error"], p


class TestPngSubByte:
    """1/2/4-bit PNG (round-8 slice): byte-wise filters with bpp=1,
    MSB-first field unpacking, gray scale-up / raw palette indexes."""

    @pytest.mark.parametrize("depth", [1, 2, 4])
    def test_gray_scales_to_full_range(self, depth):
        import numpy as np

        from qurio_spark.sources.multimodal import _decode_pixels

        mx = (1 << depth) - 1
        vals = np.arange(9 * 7).reshape(7, 9, 1) % (mx + 1)
        got = _decode_pixels(
            make_png_full(vals.astype(np.uint8), color_type=0, depth=depth,
                          filters=[0, 1, 2, 3, 4])
        )
        want = np.repeat((vals * 255 // mx).astype(np.uint8), 3, axis=2)
        assert np.array_equal(got, want)

    @pytest.mark.parametrize("depth", [1, 2, 4])
    def test_palette_indexes(self, depth):
        import numpy as np

        from qurio_spark.sources.multimodal import _decode_pixels

        n = 1 << depth
        palette = np.stack(
            [np.arange(n) * 7 % 256, np.arange(n) * 13 % 256,
             np.arange(n) * 29 % 256], axis=1
        ).astype(np.uint8)
        idx = (np.arange(5 * 11).reshape(5, 11, 1) % n).astype(np.uint8)
        got = _decode_pixels(
            make_png_full(idx, color_type=3, depth=depth, palette=palette)
        )
        assert np.array_equal(got, palette[idx[:, :, 0]])

    def test_1bit_adam7(self):
        import numpy as np

        from qurio_spark.sources.multimodal import _decode_pixels

        bits = ((np.arange(10 * 9).reshape(9, 10, 1) * 7) % 2).astype(np.uint8)
        got = _decode_pixels(
            make_png_full(bits, color_type=0, depth=1, interlace=1)
        )
        assert np.array_equal(got, np.repeat(bits * 255, 3, axis=2))

    def test_subbyte_rgb_rejected(self):
        """Sub-byte RGB is spec-invalid (table 11.1) — refuse rather
        than misread."""
        import numpy as np

        from qurio_spark.sources.multimodal import _decode_pixels

        arr = bmp_golden(4, 3)
        with pytest.raises(NotImplementedError):
            _decode_pixels(make_png_full(arr % 4, color_type=2, depth=2))


class TestDecodeGuards:
    """Byte/pixel ceilings refuse oversized inputs BEFORE any decode
    work — a few hundred KB declaring 100 MP must not wedge an
    executor core; refused rows stay NULL-honest quarantinable, never
    wrong."""

    def _huge_png_header(self, w=100_000, h=100_000) -> bytes:
        """A tiny byte string whose PNG header declares w*h pixels —
        the shape of the attack (small payload, huge declared dims)."""
        import struct
        import zlib

        ihdr = struct.pack(">II", w, h) + bytes([8, 2, 0, 0, 0])
        chunk = (
            struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr
            + struct.pack(">I", zlib.crc32(b"IHDR" + ihdr))
        )
        return b"\x89PNG\r\n\x1a\n" + chunk

    def test_pixel_ceiling_refuses_by_header(self):
        from qurio_spark.sources.multimodal import _decode_pixels

        with pytest.raises(ValueError, match="max_decode_pixels"):
            _decode_pixels(self._huge_png_header())

    def test_byte_ceiling_refuses_by_length(self):
        from qurio_spark.sources.multimodal import _decode_pixels

        data = b"\x89PNG\r\n\x1a\n" + b"x" * 100
        with pytest.raises(ValueError, match="max_decode_bytes"):
            _decode_pixels(data, max_bytes=50)

    def test_ceilings_liftable_and_defaults_pass_real_images(self):
        import numpy as np

        from qurio_spark.sources.multimodal import _decode_pixels

        px = _decode_pixels(make_bmp(7, 5))
        assert px.shape == (5, 7, 3)
        # None lifts a ceiling (the caller owns the tradeoff)
        px2 = _decode_pixels(make_bmp(7, 5), max_bytes=None, max_pixels=None)
        assert np.array_equal(px, px2)

    def test_resize_pixels_quarantines_oversized(self, spark):
        from qurio_spark.sources.multimodal import (
            decode_image_meta,
            resize_pixels,
            resize_spec,
        )

        df = spark.createDataFrame(
            [("img/huge.png", bytearray(self._huge_png_header())),
             ("img/ok.bmp", bytearray(make_bmp(7, 5)))],
            "path string, content binary",
        )
        meta = df.withColumn("meta", decode_image_meta("content")).select(
            "path", "content", "meta.width", "meta.height"
        )
        out = {
            r["path"]: r
            for r in resize_pixels(resize_spec(meta, max_side=4)).collect()
        }
        huge = out["img/huge.png"]
        assert huge["pixels"] is None
        assert "decode refused" in huge["resize_error"]
        ok = out["img/ok.bmp"]
        assert ok["resize_error"] is None and ok["pixels"] is not None


class TestDecodeProviderSlot:
    """VERDICT r10 item 3: the native decode provider slot — the
    production swap for the hermetic BMP/PNG codecs and the only path
    for every other format, mirroring the OCR/embedder provider
    pattern.  The plumbing (one batched call, guard-before-provider,
    None-falls-back-to-hermetic) is pinned with a test double;
    real-library parity is import-gated."""

    class FakeNativeProvider:
        """Test double: decodes BMP via a fixed color, refuses
        everything else, and FAILS THE TASK if a blob whose header
        declares more than the pixel ceiling ever reaches it — pinning
        that the guard runs before the provider (provider state lives
        in the executor worker, so ordering must be asserted by
        behavior, not driver-side counters)."""

        def decode_batch(self, blobs):
            import numpy as np

            from qurio_spark.sources.multimodal import (
                MAX_DECODE_PIXELS,
                _parse_image_header,
            )

            out = []
            for b in blobs:
                if b is None:
                    out.append(None)
                    continue
                _, w, h, _ = _parse_image_header(bytes(b))
                if w and h and w * h > MAX_DECODE_PIXELS:
                    raise AssertionError(
                        "guard bypassed: oversized blob reached provider"
                    )
                if bytes(b[:2]) == b"BM":
                    out.append(np.full((h, w, 3), 200, dtype=np.uint8))
                else:
                    out.append(None)
            return out

    def _meta(self, spark, rows):
        from qurio_spark.sources.multimodal import decode_image_meta

        df = spark.createDataFrame(rows, "path string, content binary")
        return df.withColumn("meta", decode_image_meta("content")).select(
            "path", "content", "meta.width", "meta.height"
        )

    def test_provider_used_fallback_and_guard_order(self, spark):
        import numpy as np

        from qurio_spark.sources.multimodal import (
            resize_pixels,
            resize_spec,
        )

        huge_png = make_png(6000, 6000)  # header-declared 36 MP bomb
        meta = self._meta(
            spark,
            [
                ("img/a.bmp", bytearray(make_bmp(7, 5))),
                ("img/b.png", bytearray(make_png_full(bmp_golden(16, 9)))),
                ("img/bomb.png", bytearray(huge_png)),
            ],
        ).coalesce(1)
        prov = self.FakeNativeProvider()
        out = {
            r["path"]: r
            for r in resize_pixels(
                resize_spec(meta, max_side=4), decode=prov
            ).collect()
        }
        # provider decoded the BMP (fixed color 200, not the real pixels)
        a = np.frombuffer(bytes(out["img/a.bmp"]["pixels"]), dtype=np.uint8)
        assert set(a.tolist()) == {200}
        # provider returned None for the PNG -> hermetic fallback decoded it
        assert out["img/b.png"]["resize_error"] is None
        assert out["img/b.png"]["pixels"] is not None
        # the pixel-ceiling bomb was refused BEFORE the provider saw it
        # (the provider raises if it ever sees one — task would fail)
        assert "max_decode_pixels" in out["img/bomb.png"]["resize_error"]

    def test_hermetic_provider_parity_with_inline_path(self, spark):
        """resize_pixels(decode=HermeticDecodeProvider()) is
        byte-identical to the inline hermetic path on the golden
        fixtures — the correctness-twin contract."""
        from qurio_spark.sources.multimodal import (
            HermeticDecodeProvider,
            resize_pixels,
            resize_spec,
        )

        rows = [
            ("img/a.bmp", bytearray(make_bmp(7, 5))),
            ("img/b.png", bytearray(make_png_full(bmp_golden(16, 9)))),
            ("img/c.gif", bytearray(GIF_4X3)),  # provider territory
            ("img/d.jpg", bytearray(JPEG_8X8)),  # provider territory
            ("img/e.jpg", bytearray(make_jpeg_arith(16, 9))),
        ]
        spec = resize_spec(self._meta(spark, rows), max_side=4)
        base = {
            r["path"]: r for r in resize_pixels(spec).collect()
        }
        via_provider = {
            r["path"]: r
            for r in resize_pixels(
                spec, decode=HermeticDecodeProvider()
            ).collect()
        }
        assert set(base) == set(via_provider)
        for p in base:
            assert base[p]["pixels"] == via_provider[p]["pixels"], p
            assert (
                base[p]["resize_error"] is None
            ) == (via_provider[p]["resize_error"] is None), p
        for p in ("img/c.gif", "img/d.jpg", "img/e.jpg"):
            assert base[p]["pixels"] is None, p

    def test_pil_parity(self, spark):
        """Real-library parity — runs only where Pillow exists."""
        pytest.importorskip("PIL")
        import numpy as np

        from qurio_spark.sources.multimodal import (
            PilDecodeProvider,
            _decode_pixels,
        )

        prov = PilDecodeProvider()
        # lossless formats: exact pixel equality is spec-mandated
        for blob in (make_bmp(7, 5), make_png_full(bmp_golden(16, 9))):
            got = prov.decode_batch([blob])[0]
            assert np.array_equal(got, _decode_pixels(blob))

    def test_provider_raise_quarantines_row_not_task(self, spark):
        """A corrupt blob that makes the provider RAISE (the hermetic
        codecs raise ValueError on truncated pixel data; PIL-backed
        providers re-run the guard) must quarantine that row, not kill
        the Spark task — the other rows in the same Arrow batch keep
        their results.  Regression: decode_batch used to be called
        outside any try at both call sites."""
        import numpy as np

        from qurio_spark.sources.multimodal import (
            HermeticDecodeProvider,
            extract_features,
            resize_pixels,
            resize_spec,
        )

        good = make_png_full(bmp_golden(16, 9))
        corrupt = bytes(good[: len(good) - 24])  # truncate IDAT tail
        meta = self._meta(
            spark,
            [
                ("img/good.png", bytearray(good)),
                ("img/corrupt.png", bytearray(corrupt)),
            ],
        ).coalesce(1)  # one Arrow batch: the raise would poison both
        out = {
            r["path"]: r
            for r in resize_pixels(
                resize_spec(meta, max_side=4),
                decode=HermeticDecodeProvider(),
            ).collect()
        }
        assert out["img/good.png"]["resize_error"] is None
        assert out["img/good.png"]["pixels"] is not None
        assert out["img/corrupt.png"]["pixels"] is None
        assert out["img/corrupt.png"]["resize_error"] is not None

        feats = {
            r["path"]: r["features"]
            for r in extract_features(
                meta.select("path", "content"),
                decode=HermeticDecodeProvider(),
            ).collect()
        }
        assert feats["img/good.png"] is not None
        assert feats["img/corrupt.png"] is None

        class BatchPoisonProvider:
            """Raises on any multi-blob batch containing the corrupt
            blob — pins that the per-row retry salvages the good rows
            WITH the provider (fixed color), not just via fallback."""

            def decode_batch(self, blobs):
                outs = []
                for b in blobs:
                    if b is not None and bytes(b) == corrupt:
                        raise ValueError("poisoned batch")
                    from qurio_spark.sources.multimodal import (
                        _parse_image_header,
                    )

                    _, w, h, _ = _parse_image_header(bytes(b))
                    outs.append(np.full((h, w, 3), 77, dtype=np.uint8))
                return outs

        out2 = {
            r["path"]: r
            for r in resize_pixels(
                resize_spec(meta, max_side=4), decode=BatchPoisonProvider()
            ).collect()
        }
        px = np.frombuffer(
            bytes(out2["img/good.png"]["pixels"]), dtype=np.uint8
        )
        assert set(px.tolist()) == {77}  # provider result, not fallback

    def test_extract_features_with_decode_provider(self, spark):
        import numpy as np

        from qurio_spark.sources.multimodal import (
            FEATURE_DIM,
            HermeticDecodeProvider,
            _decode_pixels,
            extract_features,
        )

        df = spark.createDataFrame(
            [
                ("img/a.bmp", bytearray(make_bmp(7, 5))),
                ("img/bad.jpg", bytearray(make_jpeg_arith(16, 9))),
                ("img/null", None),
            ],
            "path string, content binary",
        )
        rows = {
            r["path"]: r["features"]
            for r in extract_features(
                df, decode=HermeticDecodeProvider()
            ).collect()
        }
        # decoded-pixel histogram, not byte histogram
        px = _decode_pixels(make_bmp(7, 5)).reshape(-1)
        hist, _ = np.histogram(px, bins=FEATURE_DIM, range=(0, 256))
        v = hist.astype(np.float32)
        expect = v / np.linalg.norm(v)
        assert np.allclose(rows["img/a.bmp"], expect, atol=1e-6)
        # undecodable + null rows stay NULL-honest
        assert rows["img/bad.jpg"] is None
        assert rows["img/null"] is None
