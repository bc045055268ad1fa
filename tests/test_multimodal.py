"""Multimodal plumbing: binaryFile ingestion, magic sniffing, Pandas-UDF
decode/frame-sample stages over binary columns."""

from __future__ import annotations

import struct

import pytest

from sec_financial_data_pipeline_using_snowflake_dbt_spark.operators import (
    multimodal as MM,
)


def _png(n: int = 100) -> bytes:
    return b"\x89PNG\r\n\x1a\n" + bytes([n % 256]) * n


def _jpeg(n: int = 80) -> bytes:
    return b"\xff\xd8\xff\xe0" + bytes([n % 251]) * n


def _wav(n: int = 64) -> bytes:
    return b"RIFF" + struct.pack("<I", n) + b"WAVE" + b"\x00" * n


def _mp4(n: int = 16384) -> bytes:
    return b"\x00\x00\x00\x18ftypmp42" + bytes([(i * 7) % 256 for i in range(n)])


@pytest.fixture(scope="module")
def media_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("media")
    (d / "a.png").write_bytes(_png())
    (d / "b.jpg").write_bytes(_jpeg())
    (d / "c.wav").write_bytes(_wav())
    (d / "d.mp4").write_bytes(_mp4())
    (d / "e.txt").write_bytes(b"not media")
    return str(d)


@pytest.fixture(scope="module")
def assets(spark, media_dir):
    files = spark.read.format("binaryFile").load(media_dir)
    return MM.pack_assets(files).cache()


def test_pack_assets_schema(assets):
    assert dict(assets.dtypes)["payload"] == "binary"
    assert assets.count() == 5
    meta = assets.select("meta.n_bytes", "meta.content_hash").first()
    assert meta.n_bytes > 0 and len(meta.content_hash) == 32
    # the packed payloads are the files' bytes: each sniffs to its format
    sniffed = {MM.sniff_format(bytes(r.payload)) for r in assets.collect()}
    assert sniffed == {
        ("image", "png"), ("image", "jpeg"), ("audio", "wav"),
        ("video", "mp4"), ("unknown", "unknown"),
    }
    # raw MPEG1 Layer III frames without an ID3 tag sniff by frame sync
    mp3 = (b"\xff\xfb\x90\x00" + bytes(413)) * 3
    assert MM.sniff_format(mp3) == ("audio", "mp3")


def test_decode_image_features(assets):
    feats = MM.decode_image_features(assets)
    rows = feats.collect()
    assert {r.format for r in rows} == {"png", "jpeg"}  # only images decoded
    for r in rows:
        assert 64 <= r.width <= 2047 and 64 <= r.height <= 2047
        assert 0.0 <= r.mean_luma <= 1.0
    # determinism: same payloads → same features
    again = {r.asset_id: (r.width, r.height) for r in MM.decode_image_features(assets).collect()}
    assert again == {r.asset_id: (r.width, r.height) for r in rows}


def test_sample_video_frames(assets):
    frames = MM.sample_video_frames(assets).collect()
    assert len(frames) == 4  # 16 KiB payload / 4 KiB windows, capped at 8
    assert {f.frame_index for f in frames} == {0, 1, 2, 3}
    assert all(len(f.frame_hash) == 32 for f in frames)


def test_metadata_query_prunes_payload(assets, spark, media_dir):
    """Column pruning: a metadata-only query over the asset parquet must
    not read payload bytes (ReadSchema excludes it)."""
    out = media_dir + "_parquet"
    assets.write.mode("overwrite").parquet(out)
    q = spark.read.parquet(out).select("asset_id", "meta.n_bytes")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "payload" not in plan


def test_parse_image_dimensions_golden_headers():
    """Real header parsing (VERDICT r2 task 5): PNG IHDR, GIF logical
    screen, and JPEG SOF0 dimensions come from the actual bytes, not the
    hash-derived fake."""
    import struct as st

    from sec_financial_data_pipeline_using_snowflake_dbt_spark.operators.multimodal import (
        parse_image_dimensions,
    )

    png = (
        b"\x89PNG\r\n\x1a\n"
        + st.pack(">I", 13)
        + b"IHDR"
        + st.pack(">II", 640, 480)
        + b"\x08\x02\x00\x00\x00"
    )
    assert parse_image_dimensions(png) == (640, 480)

    gif = b"GIF89a" + st.pack("<HH", 320, 200) + b"\xf7\x00\x00"
    assert parse_image_dimensions(gif) == (320, 200)

    jpeg = (
        b"\xff\xd8"
        + b"\xff\xe0" + st.pack(">H", 16) + b"JFIF\x00" + bytes(9)  # APP0
        + b"\xff\xc0" + st.pack(">H", 17) + b"\x08"                 # SOF0
        + st.pack(">H", 480) + st.pack(">H", 640)
        + b"\x03" + bytes(9)
    )
    assert parse_image_dimensions(jpeg) == (640, 480)  # (width, height)

    assert parse_image_dimensions(b"\x89PNG\r\n\x1a\nshort") is None
    assert parse_image_dimensions(b"plain text") is None


def test_decode_image_features_uses_real_dimensions(spark, tmp_path_factory):
    import struct as st

    from sec_financial_data_pipeline_using_snowflake_dbt_spark.operators import (
        multimodal as MM,
    )

    d = tmp_path_factory.mktemp("real_media")
    png = (
        b"\x89PNG\r\n\x1a\n"
        + st.pack(">I", 13)
        + b"IHDR"
        + st.pack(">II", 1024, 768)
        + b"\x08\x02\x00\x00\x00"
    )
    (d / "real.png").write_bytes(png)
    assets = MM.pack_assets(
        spark.read.format("binaryFile").load(str(d))
    )
    row = MM.decode_image_features(assets).collect()[0]
    assert (row.width, row.height) == (1024, 768)
    assert row.format == "png"


def test_q_multimodal_features_reports_header_dims(spark):
    """The workload's synthesized PNGs carry a real IHDR; the decoded
    width/height must equal the header values (64 + doc_id % 1024,
    64 + n_chars % 1024), proving the feature path parses bytes rather
    than inventing pseudo-dimensions (VERDICT r2 task 5)."""
    from pyspark.sql import functions as F

    from sec_financial_data_pipeline_using_snowflake_dbt_spark.workload.extended import (
        _synth_assets,
    )
    from .conftest import SF_SMOKE

    got = MM.decode_image_features(_synth_assets(spark, SF_SMOKE))
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").filter(
        F.col("doc_id") % 2 == 0
    )
    expected = docs.select(
        F.md5(F.col("doc_id").cast("string")).alias("asset_id"),
        (F.lit(64) + F.col("doc_id") % 1024).cast("int").alias("exp_w"),
        (F.lit(64) + F.col("n_chars") % 1024).cast("int").alias("exp_h"),
    )
    j = got.join(expected, "asset_id")
    assert j.count() == docs.count()
    assert (
        j.filter(
            (F.col("width") != F.col("exp_w")) | (F.col("height") != F.col("exp_h"))
        ).count()
        == 0
    )


# ---------------------------------------------------------------------------
# r5 (VERDICT r4 #4): REAL byte-math decode for uncompressed payloads —
# golden tests with synthesized BMP / PNM bytes of KNOWN stats.
# ---------------------------------------------------------------------------


def _bmp24(rows_bgr: list[list[tuple[int, int, int]]]) -> bytes:
    """Uncompressed 24-bpp BMP from rows of (B, G, R) pixels (bottom-up
    storage, as BITMAPINFOHEADER defaults)."""
    h, w = len(rows_bgr), len(rows_bgr[0])
    row_size = (w * 3 + 3) // 4 * 4
    pix = b""
    for row in reversed(rows_bgr):  # bottom-up
        line = b"".join(bytes(p) for p in row)
        pix += line + bytes(row_size - len(line))
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pix), 2835, 2835, 0, 0)
    hdr = b"BM" + struct.pack("<IHHI", 14 + 40 + len(pix), 0, 0, 14 + 40)
    return hdr + dib + pix


def test_bmp_pixel_stats_known_luma():
    # 2x2: white, black / red, blue (BGR order in file)
    img = _bmp24([
        [(255, 255, 255), (0, 0, 0)],
        [(0, 0, 255), (255, 0, 0)],   # red, blue as BGR
    ])
    assert MM.sniff_format(img) == ("image", "bmp")
    got = MM.pixel_stats(img)
    assert (got["width"], got["height"], got["format"]) == (2, 2, "bmp")
    expect = (1.0 + 0.0 + 0.299 + 0.114) / 4
    assert abs(got["mean_luma"] - expect) < 1e-12
    assert MM.parse_image_dimensions(img) == (2, 2)


def test_pnm_pixel_stats_known_luma():
    # P6 2x1: pure green, pure white
    ppm = b"P6\n# comment\n2 1\n255\n" + bytes([0, 255, 0, 255, 255, 255])
    assert MM.sniff_format(ppm) == ("image", "ppm")
    got = MM.pixel_stats(ppm)
    assert (got["width"], got["height"]) == (2, 1)
    assert abs(got["mean_luma"] - (0.587 + 1.0) / 2) < 1e-12
    # P5 grayscale: mean of raw bytes / maxval
    pgm = b"P5 4 1 255\n" + bytes([0, 64, 128, 255])
    got5 = MM.pixel_stats(pgm)
    assert abs(got5["mean_luma"] - (0 + 64 + 128 + 255) / 4 / 255) < 1e-12
    # truncated raster → None (codec boundary untouched)
    assert MM.pixel_stats(b"P6 2 2 255\n" + bytes(3)) is None


def test_decode_image_features_real_luma_for_uncompressed(spark, tmp_path_factory):
    """The mapInPandas stage reports REAL mean_luma for BMP/PPM payloads
    and still hash-fakes it for compressed formats."""
    d = tmp_path_factory.mktemp("rasters")
    white = _bmp24([[(255, 255, 255)]])
    (d / "w.bmp").write_bytes(white)
    (d / "p.ppm").write_bytes(b"P6 1 1 255\n" + bytes([0, 0, 0]))
    assets = MM.pack_assets(spark.read.format("binaryFile").load(str(d)))
    got = {r.format: r for r in MM.decode_image_features(assets).collect()}
    assert got["bmp"].mean_luma == 1.0 and (got["bmp"].width, got["bmp"].height) == (1, 1)
    assert got["ppm"].mean_luma == 0.0


def test_hostile_uint32_dimensions_survive(spark):
    """A crafted PNG IHDR with ~4-billion-pixel dimensions must come back
    as an absurd-but-present row — uint32 wire values overflow an int32
    Arrow column and would otherwise kill the whole task."""
    import struct as st

    from sec_financial_data_pipeline_using_snowflake_dbt_spark.operators import (
        multimodal as MM,
    )

    png = b"\x89PNG\r\n\x1a\n" + st.pack(">I", 13) + b"IHDR" + st.pack(
        ">IIBBBBB", 0xFFFFFFF0, 0xFFFFFFF1, 8, 2, 0, 0, 0
    )
    assets = spark.createDataFrame([("a", png)], "asset_id string, payload binary")
    img = MM.decode_image_features(assets).collect()
    assert len(img) == 1 and img[0].width == 0xFFFFFFF0


# ---------------------------------------------------------------------------
# REAL PNG pixel decode (VERDICT r7 #2): stdlib-zlib IDAT inflate +
# scanline unfilter. The test-side encoder applies the RFC 2083 filters
# FORWARD (from original pixel bytes), so the decoder must invert every
# filter type to land on the golden luma.
# ---------------------------------------------------------------------------
def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    import zlib as _z

    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", _z.crc32(ctype + body))
    )


def _encode_png(
    pixels,
    color_type: int,
    filters=None,
    palette: bytes | None = None,
    depth: int = 8,
    interlace: int = 0,
) -> bytes:
    """pixels: rows of per-pixel tuples (or ints for 1-channel types).
    Independent encoder: supports depths 1/2/4/8/16 and Adam7
    interlace (each pass filtered as its own sub-image, per spec)."""
    import zlib as _z

    from sec_financial_data_pipeline_using_snowflake_dbt_spark.operators.multimodal import (
        _PNG_ADAM7,
    )

    h, w = len(pixels), len(pixels[0])
    ch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
    bpp = ch * depth // 8 if depth >= 8 else 1

    def sample_bytes(row_pixels):
        flat = []
        for p in row_pixels:
            flat.extend(p if isinstance(p, (tuple, list)) else (p,))
        assert len(flat) == len(row_pixels) * ch
        if depth == 8:
            return bytes(flat)
        if depth == 16:
            out = bytearray()
            for v in flat:
                out += int(v).to_bytes(2, "big")
            return bytes(out)
        acc, nb, out = 0, 0, bytearray()  # sub-byte: MSB-first packing
        for v in flat:
            acc = (acc << depth) | v
            nb += depth
            if nb == 8:
                out.append(acc)
                acc, nb = 0, 0
        if nb:
            out.append(acc << (8 - nb))
        return bytes(out)

    def paeth(a, b, c):
        q = a + b - c
        pa, pb, pc = abs(q - a), abs(q - b), abs(q - c)
        if pa <= pb and pa <= pc:
            return a
        return b if pb <= pc else c

    def filter_sub_image(pixel_rows, filt_list):
        raw = bytearray()
        byte_rows = [sample_bytes(r) for r in pixel_rows]
        prev = bytes(len(byte_rows[0])) if byte_rows else b""
        for y, row in enumerate(byte_rows):
            ft = filt_list[y % len(filt_list)]
            raw.append(ft)
            n = len(row)
            left = lambda i: row[i - bpp] if i >= bpp else 0  # noqa: E731
            ul = lambda i: prev[i - bpp] if i >= bpp else 0  # noqa: E731
            if ft == 0:
                enc = row
            elif ft == 1:
                enc = bytes((row[i] - left(i)) % 256 for i in range(n))
            elif ft == 2:
                enc = bytes((row[i] - prev[i]) % 256 for i in range(n))
            elif ft == 3:
                enc = bytes(
                    (row[i] - (left(i) + prev[i]) // 2) % 256 for i in range(n)
                )
            elif ft == 4:
                enc = bytes(
                    (row[i] - paeth(left(i), prev[i], ul(i))) % 256
                    for i in range(n)
                )
            else:
                raise ValueError(ft)
            raw += enc
            prev = row
        return raw

    filt_list = filters if filters is not None else [0]
    raw = bytearray()
    if interlace == 0:
        raw += filter_sub_image(pixels, filt_list)
    else:
        for x0, y0, dx, dy in _PNG_ADAM7:
            sub = [row[x0::dx] for row in pixels[y0::dy]]
            sub = [r for r in sub if r]
            if sub:
                raw += filter_sub_image(sub, filt_list)
    ihdr = struct.pack(">IIBBBBB", w, h, depth, color_type, 0, 0, interlace)
    out = b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
    if palette is not None:
        out += _png_chunk(b"PLTE", palette)
    out += _png_chunk(b"IDAT", _z.compress(bytes(raw)))
    out += _png_chunk(b"IEND", b"")
    return out


def test_png_pixel_stats_known_luma():
    # the BMP golden's 2x2 image as a filter-0 RGB PNG: white, black /
    # red, blue — identical Rec.601 mean
    png = _encode_png(
        [
            [(255, 255, 255), (0, 0, 0)],
            [(255, 0, 0), (0, 0, 255)],
        ],
        color_type=2,
    )
    assert MM.sniff_format(png) == ("image", "png")
    got = MM.pixel_stats(png)
    expect = (1.0 + 0.0 + 0.299 + 0.114) / 4
    assert (got["width"], got["height"], got["format"]) == (2, 2, "png")
    assert abs(got["mean_luma"] - expect) < 1e-12


def test_png_unfilter_every_filter_type():
    """One row per filter type (Sub/Up/Average/Paeth/None) over a
    deterministic gradient — the decode must invert each filter to land
    on the exact per-pixel mean computed from the source array."""
    w, h = 7, 5
    pixels = [
        [((x * 37 + y * 91) % 256, (x * 11 + y * 3) % 256, (x * 5 + y * 17) % 256)
         for x in range(w)]
        for y in range(h)
    ]
    expect = sum(
        0.299 * p[0] + 0.587 * p[1] + 0.114 * p[2]
        for row in pixels
        for p in row
    ) / (255.0 * w * h)
    for filters in ([1, 2, 3, 4, 0], [4, 4, 4, 4, 4], [3, 3, 3, 3, 3]):
        got = MM.pixel_stats(_encode_png(pixels, 2, filters=filters))
        assert abs(got["mean_luma"] - expect) < 1e-12, filters


def test_png_color_types_golden():
    # grayscale (0): mean of raw bytes / 255
    g = _encode_png([[0, 64], [128, 255]], color_type=0, filters=[1, 2])
    assert abs(MM.pixel_stats(g)["mean_luma"] - (0 + 64 + 128 + 255) / 4 / 255) < 1e-12
    # gray+alpha (4): alpha ignored for luma
    ga = _encode_png(
        [[(100, 0), (200, 255)]], color_type=4, filters=[4]
    )
    assert abs(MM.pixel_stats(ga)["mean_luma"] - (100 + 200) / 2 / 255) < 1e-12
    # RGBA (6): alpha ignored
    rgba = _encode_png(
        [[(255, 0, 0, 0), (0, 255, 0, 128)]], color_type=6, filters=[1]
    )
    assert abs(MM.pixel_stats(rgba)["mean_luma"] - (0.299 + 0.587) / 2) < 1e-12
    # palette (3): indices resolve through PLTE to RGB
    pal = bytes([255, 255, 255, 255, 0, 0, 0, 0, 255])  # white, red, blue
    p = _encode_png([[0, 1], [2, 0]], color_type=3, palette=pal, filters=[0, 2])
    assert abs(
        MM.pixel_stats(p)["mean_luma"] - (1.0 + 0.299 + 0.114 + 1.0) / 4
    ) < 1e-12


def test_png_codec_boundary_stays_none():
    pix = [[(1, 2, 3)]]
    # spec-invalid combos stay behind the boundary (16-bit palette,
    # unknown interlace method); real 16-bit/Adam7 decode has goldens
    assert MM.pixel_stats(
        _encode_png([[0]], color_type=3, palette=bytes(3), depth=16)
    ) is None
    bad_il = bytearray(_encode_png(pix, 2))
    # IHDR interlace byte lives at offset 8(sig)+8(len+type)+12
    assert bad_il[8 + 8 + 12] == 0
    bad_il[8 + 8 + 12] = 2
    assert MM.pixel_stats(bytes(bad_il)) is None
    # out-of-range palette index
    bad_pal = _encode_png([[5]], color_type=3, palette=bytes(3))
    assert MM.pixel_stats(bad_pal) is None
    # truncated / garbage IDAT (the _synth_assets shape) falls through
    # to the header-dims + hash-luma stub, exactly as before
    garbage = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13)
        + b"IHDR"
        + struct.pack(">II", 64, 64)
        + b"\x08\x02\x00\x00\x00"
        + b"this is not a zlib stream at all"
    )
    assert MM.pixel_stats(garbage) is None
    feats = MM._decode_image(garbage)
    assert (feats["width"], feats["height"]) == (64, 64)  # header-parsed


def test_png_cross_format_agreement():
    """The same pixels through the PNG, BMP, and PPM decode paths land
    on the identical mean_luma (shared Rec.601 kernel)."""
    pixels = [
        [(10, 20, 30), (200, 100, 50)],
        [(0, 255, 0), (255, 255, 255)],
    ]
    png = MM.pixel_stats(_encode_png(pixels, 2, filters=[4, 1]))
    bmp = MM.pixel_stats(
        _bmp24([[(b, g, r) for (r, g, b) in row] for row in pixels])
    )
    ppm_raster = bytes(v for row in pixels for p in row for v in p)
    ppm = MM.pixel_stats(b"P6 2 2 255\n" + ppm_raster)
    assert abs(png["mean_luma"] - bmp["mean_luma"]) < 1e-12
    assert abs(png["mean_luma"] - ppm["mean_luma"]) < 1e-12


def test_decode_image_features_real_luma_for_png(spark, tmp_path_factory):
    """End-to-end mapInPandas: a REAL zlib-compressed PNG file reports
    its true pixel luma through decode_image_features — PNG is no
    longer behind the deterministic fake."""
    d = tmp_path_factory.mktemp("real_png")
    png = _encode_png([[(255, 255, 255), (255, 255, 255)]], color_type=2)
    (d / "white.png").write_bytes(png)
    assets = MM.pack_assets(spark.read.format("binaryFile").load(str(d)))
    row = MM.decode_image_features(assets).collect()[0]
    assert row.format == "png"
    assert (row.width, row.height) == (2, 1)
    assert row.mean_luma == 1.0


# --- GIF: real stdlib LZW decode (r8 s3) ------------------------------------


def _gif_pack_codes(codes: list[tuple[int, int]]) -> bytes:
    """Pack (code, width) pairs LSB-first into GIF data sub-blocks."""
    big, pos = 0, 0
    for code, width in codes:
        big |= code << pos
        pos += width
    raw = big.to_bytes((pos + 7) // 8, "little")
    out = bytearray()
    for i in range(0, len(raw), 255):
        chunk = raw[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00"
    return bytes(out)


def _gif_lzw_encode_literal(indices: bytes, mcs: int) -> bytes:
    """Uncompressed-style encoder: every index as its own code, a CLEAR
    re-emitted before the decoder's table could force a width bump —
    correct BY CONSTRUCTION (no dictionary logic to mirror-bug)."""
    clear, eoi, width = 1 << mcs, (1 << mcs) + 1, mcs + 1
    room = (1 << width) - ((1 << mcs) + 2)  # adds before a width bump
    codes: list[tuple[int, int]] = [(clear, width)]
    since_clear = 0
    for c in indices:
        if since_clear >= room:
            codes.append((clear, width))
            since_clear = 0
        codes.append((c, width))
        since_clear += 1
    codes.append((eoi, width))
    return _gif_pack_codes(codes)


def _gif_lzw_encode(indices: bytes, mcs: int, defer_clear: bool = False) -> bytes:
    """Real greedy-dictionary GIF LZW encoder (width grows 9..12; on a
    full table either emits CLEAR or — defer_clear — keeps coding from
    the frozen table, which the spec allows and decoders must accept)."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    codes: list[tuple[int, int]] = []

    def fresh():
        return {bytes([i]): i for i in range(clear)}, eoi + 1, mcs + 1

    table, next_code, width = fresh()
    codes.append((clear, width))
    w = b""
    for ci in indices:
        wc = w + bytes([ci])
        if wc in table:
            w = wc
            continue
        codes.append((table[w], width))
        if next_code < 4096:
            table[wc] = next_code
            if next_code == (1 << width) and width < 12:
                width += 1
            next_code += 1
        elif not defer_clear:
            codes.append((clear, width))
            table, next_code, width = fresh()
        w = bytes([ci])
    if w:
        codes.append((table[w], width))
    codes.append((eoi, width))
    return _gif_pack_codes(codes)


def _gif(
    indices: list[list[int]],
    palette: list[tuple[int, int, int]],
    interlace: bool = False,
    local_palette: list[tuple[int, int, int]] | None = None,
    encoder=_gif_lzw_encode,
    version: bytes = b"GIF89a",
) -> bytes:
    h, w = len(indices), len(indices[0])

    def pal_bytes(pal):
        size = 2
        while size < len(pal):
            size *= 2
        flat = list(pal) + [(0, 0, 0)] * (size - len(pal))
        return bytes(v for rgb in flat for v in rgb), size.bit_length() - 2

    gpal, gbits = pal_bytes(palette)
    out = bytearray(version)
    out += struct.pack("<HH", w, h) + bytes([0x80 | gbits, 0, 0]) + gpal
    # a comment extension before the image: the block walk must skip it
    out += b"\x21\xfe\x05hello\x00"
    iflags = 0x40 if interlace else 0
    lpal = b""
    if local_palette is not None:
        lpal, lbits = pal_bytes(local_palette)
        iflags |= 0x80 | lbits
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + bytes([iflags]) + lpal
    rows = indices
    if interlace:
        order = [r for s, t in ((0, 8), (4, 8), (2, 4), (1, 2)) for r in range(s, h, t)]
        rows = [indices[r] for r in order]
    flat = bytes(v for row in rows for v in row)
    mcs = max(2, (len(local_palette or palette) - 1).bit_length())
    out += bytes([mcs]) + encoder(flat, mcs) + b"\x3b"
    return bytes(out)


def _luma(pixels_rgb) -> float:
    vals = [0.299 * r + 0.587 * g + 0.114 * b for row in pixels_rgb for (r, g, b) in row]
    return sum(vals) / len(vals) / 255.0


def test_gif_pixel_stats_known_luma():
    pal = [(255, 255, 255), (0, 0, 0), (255, 0, 0), (0, 0, 255)]
    gif = _gif([[0, 1], [2, 3]], pal)
    assert MM.sniff_format(gif) == ("image", "gif")
    got = MM.pixel_stats(gif)
    expect = (1.0 + 0.0 + 0.299 + 0.114) / 4
    assert (got["format"], got["width"], got["height"]) == ("gif", 2, 2)
    assert abs(got["mean_luma"] - expect) < 1e-12


def test_gif_both_encoders_agree_and_match_source():
    """The literal-code arm is correct by construction; the compressing
    arm must land on the identical decode — a mirrored encoder/decoder
    off-by-one cannot pass both plus the direct mean."""
    import random

    rng = random.Random(5)
    pal = [(i, (i * 7) % 256, (i * 13) % 256) for i in range(64)]
    idx = [[rng.randrange(64) for _ in range(23)] for _ in range(17)]
    expect = _luma([[pal[i] for i in row] for row in idx])
    for enc in (_gif_lzw_encode_literal, _gif_lzw_encode):
        got = MM.pixel_stats(_gif(idx, pal, encoder=enc))
        assert abs(got["mean_luma"] - expect) < 1e-12, enc.__name__


def test_gif_code_width_growth_and_dict_full():
    """120x120 @ 256 colors pushes the dictionary through the 9->10->11
    bit widths and past 4096 entries, exercising clear-on-full AND the
    deferred-clear (frozen table) regime."""
    import random

    rng = random.Random(11)
    pal = [(i, 255 - i, (i * 3) % 256) for i in range(256)]
    idx = [[rng.randrange(256) for _ in range(120)] for _ in range(120)]
    expect = _luma([[pal[i] for i in row] for row in idx])
    full = MM.pixel_stats(_gif(idx, pal))
    frozen = MM.pixel_stats(
        _gif(idx, pal, encoder=lambda b, m: _gif_lzw_encode(b, m, defer_clear=True))
    )
    assert abs(full["mean_luma"] - expect) < 1e-12
    assert abs(frozen["mean_luma"] - expect) < 1e-12


def test_gif_kwkwk_case():
    # "aaaaa" forces the code==next_code (KwKwK) branch immediately
    pal = [(10, 20, 30), (200, 100, 50)]
    gif = _gif([[1, 1, 1, 1, 1]], pal)
    got = MM.pixel_stats(gif)
    assert abs(got["mean_luma"] - _luma([[pal[1]] * 5])) < 1e-12


def test_gif_interlace_and_local_palette():
    pal = [(i * 16, i * 8, i * 4) for i in range(16)]
    idx = [[(x + y) % 16 for x in range(9)] for y in range(11)]
    expect = _luma([[pal[i] for i in row] for row in idx])
    inter = MM.pixel_stats(_gif(idx, pal, interlace=True))
    assert abs(inter["mean_luma"] - expect) < 1e-12
    # local table overrides the (deliberately wrong) global one
    wrong = [(0, 0, 0)] * 16
    local = MM.pixel_stats(_gif(idx, wrong, local_palette=pal))
    assert abs(local["mean_luma"] - expect) < 1e-12
    # GIF87a parses identically
    v87 = MM.pixel_stats(_gif(idx, pal, version=b"GIF87a"))
    assert abs(v87["mean_luma"] - expect) < 1e-12


def test_gif_codec_boundary_stays_none():
    pal = [(1, 2, 3), (4, 5, 6)]
    good = _gif([[0, 1], [1, 0]], pal)
    assert MM.pixel_stats(good) is not None
    # truncated LZW data: decode comes up short -> None -> stub path
    truncated = good[:-6] + b"\x3b"
    assert MM.pixel_stats(truncated) is None
    feats = MM._decode_image(truncated)
    assert (feats["width"], feats["height"]) == (2, 2)  # header still real
    # trailer before any image descriptor
    no_image = good[:13] + good[13 : 13 + 6] + b"\x3b"
    assert MM.pixel_stats(no_image) is None
    # out-of-range palette index (index 3, 2-entry palette padded to 4:
    # index 3 resolves inside the PADDED table, so craft a 2-color table
    # by hand)
    hand = bytearray(b"GIF89a" + struct.pack("<HH", 1, 1) + bytes([0x80, 0, 0]))
    hand += bytes([9, 9, 9, 7, 7, 7])  # 2-entry global table
    hand += b"\x2c" + struct.pack("<HHHH", 0, 0, 1, 1) + b"\x00"
    hand += bytes([2]) + _gif_lzw_encode_literal(bytes([3]), 2) + b"\x3b"
    assert MM.pixel_stats(bytes(hand)) is None


def test_gif_cross_format_agreement():
    pixels = [
        [(10, 20, 30), (200, 100, 50)],
        [(0, 255, 0), (255, 255, 255)],
    ]
    pal = [p for row in pixels for p in row]
    gif = MM.pixel_stats(_gif([[0, 1], [2, 3]], pal))
    png = MM.pixel_stats(_encode_png(pixels, 2, filters=[4, 1]))
    assert abs(gif["mean_luma"] - png["mean_luma"]) < 1e-12


def test_decode_image_features_real_luma_for_gif(spark, tmp_path_factory):
    """End-to-end mapInPandas: a REAL LZW-compressed GIF file reports its
    true pixel luma through decode_image_features — GIF is no longer
    behind the deterministic fake."""
    d = tmp_path_factory.mktemp("real_gif")
    gif = _gif([[0, 0], [0, 0]], [(255, 255, 255), (0, 0, 0)])
    (d / "white.gif").write_bytes(gif)
    assets = MM.pack_assets(spark.read.format("binaryFile").load(str(d)))
    row = MM.decode_image_features(assets).collect()[0]
    assert row.format == "gif"
    assert (row.width, row.height) == (2, 2)
    assert row.mean_luma == 1.0


# ---------------------------------------------------------------------------
# JPEG golden tests (r9): jpeg_pixel_stats is verified against an
# INDEPENDENT test-side baseline encoder — forward DCT + canonical
# Huffman built here from the T.81 spec (fixed-length code tables of our
# own construction, NOT the decoder's), with all-ones quant tables so
# the roundtrip is near-lossless and golden values are analytic.
# ---------------------------------------------------------------------------


def _jpeg_dct_basis():
    import numpy as np

    u = np.arange(8)
    B = np.cos((2 * u[None, :] + 1) * u[:, None] * np.pi / 16) / 2.0
    B[0, :] /= np.sqrt(2.0)
    return B


# encoder-side canonical tables: every DC symbol at 4 bits, every
# standard AC (run, size) symbol at 8 bits — valid canonical tables the
# decoder must rebuild identically from the DHT counts/symbols
_ENC_DC_SYMS = bytes(range(12))
_ENC_DC_COUNTS = bytes([0, 0, 0, 12] + [0] * 12)
_ENC_AC_SYMS = bytes(
    [0x00, 0xF0] + [(r << 4) | s for r in range(16) for s in range(1, 11)]
)
_ENC_AC_COUNTS = bytes([0, 0, 0, 0, 0, 0, 0, len(_ENC_AC_SYMS)] + [0] * 8)


def _enc_huff_codes(counts, syms):
    codes, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            codes[syms[k]] = (length, code)
            code += 1
            k += 1
        code <<= 1
    return codes


class _JpegBitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, val, nbits):
        for i in range(nbits - 1, -1, -1):
            self.acc = (self.acc << 1) | ((val >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc = 0
                self.n = 0

    def flush(self):
        while self.n:
            self.put(1, 1)  # pad with 1s (T.81 F.1.2.3)


def _seg(marker, body):
    return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body


def _encode_block(bw, block, pred, dc_codes, ac_codes, zigzag):
    """Level-shifted 8x8 -> DCT -> round (q=1) -> huffman. Returns new
    DC predictor."""
    import numpy as np

    B = _jpeg_dct_basis()
    co = B @ (block - 128.0) @ B.T
    q = np.rint(co).astype(int)
    dc = int(q[0, 0])
    diff = dc - pred
    s = diff.bit_length() if diff else 0
    length, code = dc_codes[s]
    bw.put(code, length)
    if s:
        bw.put(diff if diff > 0 else diff + (1 << s) - 1, s)
    run = 0
    last_nz = 0
    seq = [int(q.flat[zigzag[k]]) for k in range(64)]
    for k in range(1, 64):
        if seq[k]:
            last_nz = k
    for k in range(1, last_nz + 1):
        v = seq[k]
        if v == 0:
            run += 1
            continue
        while run >= 16:
            length, code = ac_codes[0xF0]
            bw.put(code, length)
            run -= 16
        s = abs(v).bit_length()
        length, code = ac_codes[(run << 4) | s]
        bw.put(code, length)
        bw.put(v if v > 0 else v + (1 << s) - 1, s)
        run = 0
    if last_nz < 63:
        length, code = ac_codes[0x00]  # EOB
        bw.put(code, length)
    return dc


def _pad_blocks(plane, bh, bw_):
    """Edge-replicate to multiples of (bh, bw_)."""
    import numpy as np

    h, w = plane.shape
    ph, pw = -(-h // bh) * bh, -(-w // bw_) * bw_
    out = np.empty((ph, pw), dtype=np.float64)
    out[:h, :w] = plane
    out[h:, :w] = plane[-1:, :]
    out[:h, w:] = plane[:, -1:]
    out[h:, w:] = plane[-1, -1]
    return out


def _encode_jpeg(arr, subsample="444", restart_every=0):
    """Independent baseline JPEG encoder for golden tests. ``arr`` is
    HxW float/uint8 grayscale or HxWx3 RGB. All-ones quant tables."""
    import numpy as np

    from sec_financial_data_pipeline_using_snowflake_dbt_spark.operators.multimodal import (
        _JPEG_ZIGZAG,
    )

    arr = np.asarray(arr, dtype=np.float64)
    h, w = arr.shape[:2]
    gray = arr.ndim == 2
    if gray:
        planes = [arr]
        samp = [(1, 1)]
    else:
        r, g, b = arr[..., 0], arr[..., 1], arr[..., 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
        if subsample == "420":
            ph, pw = -(-h // 2) * 2, -(-w // 2) * 2
            cbp = _pad_blocks(cb, ph, pw)[:ph, :pw]
            crp = _pad_blocks(cr, ph, pw)[:ph, :pw]
            cb = cbp.reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
            cr = crp.reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
            planes, samp = [y, cb, cr], [(2, 2), (1, 1), (1, 1)]
        else:
            planes, samp = [y, cb, cr], [(1, 1), (1, 1), (1, 1)]
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    padded = [
        _pad_blocks(p, mcuy * vs * 8, mcux * hs * 8)
        for p, (hs, vs) in zip(planes, samp)
    ]

    out = bytearray(b"\xff\xd8")
    out += _seg(0xDB, bytes([0x00]) + bytes([1] * 64))  # q table 0: all 1s
    if not gray:
        out += _seg(0xDB, bytes([0x01]) + bytes([1] * 64))
    ncomp = 1 if gray else 3
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([ncomp])
    for ci in range(ncomp):
        hs, vs = samp[ci]
        sof += bytes([ci + 1, (hs << 4) | vs, 0 if ci == 0 else 1])
    out += _seg(0xC0, sof)
    for tc, th in ((0, 0), (1, 0)) if gray else ((0, 0), (1, 0), (0, 1), (1, 1)):
        counts = _ENC_DC_COUNTS if tc == 0 else _ENC_AC_COUNTS
        syms = _ENC_DC_SYMS if tc == 0 else _ENC_AC_SYMS
        out += _seg(0xC4, bytes([(tc << 4) | th]) + counts + syms)
    if restart_every:
        out += _seg(0xDD, restart_every.to_bytes(2, "big"))
    sos = bytes([ncomp])
    for ci in range(ncomp):
        t = 0 if ci == 0 else 1
        sos += bytes([ci + 1, (t << 4) | t])
    sos += bytes([0, 63, 0])
    out += _seg(0xDA, sos)

    dc_codes = _enc_huff_codes(_ENC_DC_COUNTS, _ENC_DC_SYMS)
    ac_codes = _enc_huff_codes(_ENC_AC_COUNTS, _ENC_AC_SYMS)
    bw = _JpegBitWriter()
    preds = [0] * ncomp
    rst = 0
    for mcu in range(mcux * mcuy):
        if restart_every and mcu and mcu % restart_every == 0:
            bw.flush()
            out += bw.out
            bw = _JpegBitWriter()
            out += bytes([0xFF, 0xD0 + (rst % 8)])
            rst += 1
            preds = [0] * ncomp
        my, mx = divmod(mcu, mcux)
        for ci in range(ncomp):
            hs, vs = samp[ci]
            for by in range(vs):
                for bx in range(hs):
                    r0, c0 = (my * vs + by) * 8, (mx * hs + bx) * 8
                    block = padded[ci][r0 : r0 + 8, c0 : c0 + 8]
                    preds[ci] = _encode_block(
                        bw, block, preds[ci], dc_codes, ac_codes, _JPEG_ZIGZAG
                    )
    bw.flush()
    out += bw.out
    out += b"\xff\xd9"
    return bytes(out)


def test_jpeg_pixel_stats_grayscale_gradient():
    """q=1 grayscale roundtrip: decoded mean luma equals the source
    mean within DCT rounding, at non-block-multiple dimensions."""
    import numpy as np

    arr = np.linspace(0, 255, 13 * 10).reshape(10, 13)
    payload = _encode_jpeg(arr)
    feats = MM.jpeg_pixel_stats(payload)
    assert feats is not None
    assert (feats["width"], feats["height"]) == (13, 10)
    assert abs(feats["mean_luma"] - arr.mean() / 255.0) < 0.004
    # the pixel_stats dispatcher routes jpeg to the real decoder now
    assert MM.pixel_stats(payload) == feats


def test_jpeg_pixel_stats_color_444_known_luma():
    """Pure green 4:4:4: Rec.601 luma is 0.587 — and the luma plane IS
    the Y component, so chroma content cannot perturb it."""
    import numpy as np

    arr = np.zeros((16, 24, 3), dtype=np.float64)
    arr[..., 1] = 255.0
    feats = MM.jpeg_pixel_stats(_encode_jpeg(arr, subsample="444"))
    assert feats is not None
    assert (feats["width"], feats["height"]) == (24, 16)
    assert abs(feats["mean_luma"] - 0.587) < 0.01


def test_jpeg_pixel_stats_420_with_restarts():
    """4:2:0 sampling (2x2 luma blocks per MCU, interleaved chroma to
    Huffman-advance past) plus restart markers (DC predictor resets),
    on a random image at non-MCU-multiple dimensions."""
    import numpy as np

    rng = np.random.RandomState(7)
    arr = rng.randint(0, 256, size=(21, 35, 3)).astype(np.float64)
    y_mean = (
        0.299 * arr[..., 0] + 0.587 * arr[..., 1] + 0.114 * arr[..., 2]
    ).mean()
    payload = _encode_jpeg(arr, subsample="420", restart_every=2)
    assert b"\xff\xd0" in payload or b"\xff\xd1" in payload  # restarts real
    feats = MM.jpeg_pixel_stats(payload)
    assert feats is not None
    assert (feats["width"], feats["height"]) == (35, 21)
    assert abs(feats["mean_luma"] - y_mean / 255.0) < 0.005


def test_jpeg_codec_boundary_stays_none():
    """Out-of-scope streams must return None (fall through to the
    stub), never garbage: progressive SOF2, truncated scan, garbage."""
    import numpy as np

    arr = np.full((8, 8), 99.0)
    good = _encode_jpeg(arr)
    assert MM.jpeg_pixel_stats(good) is not None
    # flip SOF0 to SOF2 (progressive)
    i = good.index(b"\xff\xc0")
    prog = good[:i] + b"\xff\xc2" + good[i + 2 :]
    assert MM.jpeg_pixel_stats(prog) is None
    # truncate mid-scan
    assert MM.jpeg_pixel_stats(good[: len(good) // 2]) is None
    # the legacy garbage fixture stays behind the boundary
    assert MM.jpeg_pixel_stats(_jpeg()) is None


def test_jpeg_cross_check_against_pillow():
    """Strongest check where available: PILLOW encodes (a real
    third-party encoder, quality 95), our decoder must agree with
    Pillow's own decode on dimensions and luma."""
    pytest.importorskip("PIL")
    import io

    import numpy as np
    from PIL import Image

    rng = np.random.RandomState(3)
    arr = rng.randint(0, 256, size=(24, 31, 3)).astype(np.uint8)
    buf = io.BytesIO()
    Image.fromarray(arr).save(buf, format="JPEG", quality=95)
    payload = buf.getvalue()
    feats = MM.jpeg_pixel_stats(payload)
    assert feats is not None
    assert (feats["width"], feats["height"]) == (31, 24)
    with Image.open(io.BytesIO(payload)) as im:
        pil_luma = np.asarray(im.convert("L"), dtype=np.float64).mean() / 255.0
    assert abs(feats["mean_luma"] - pil_luma) < 0.01


def test_jpeg_fill_bytes_before_markers():
    """T.81 B.1.1.2: markers may be preceded by any number of 0xFF fill
    bytes; the marker walk must absorb them one at a time (an odd run
    stepped by two lands mid-marker and loses sync)."""
    import numpy as np

    arr = np.full((8, 8), 150.0)
    good = _encode_jpeg(arr)
    i = good.index(b"\xff\xc0")
    for fill in (b"\xff", b"\xff\xff\xff"):  # odd runs both ways
        padded = good[:i] + fill + good[i:]
        feats = MM.jpeg_pixel_stats(padded)
        assert feats is not None
        assert abs(feats["mean_luma"] - 150.0 / 255.0) < 0.004


def test_jpeg_short_but_self_consistent_segments_return_none():
    """ADVICE r9 (medium): a segment whose declared length is internally
    consistent (len(seg) == seg_len - 2) but semantically SHORT must
    return None, not raise and kill the mapInPandas task — an SOS with
    seg_len=2 (seg[0] IndexError), an SOF declaring 3 components over a
    2-component body, and an SOS repeating a component id (the luma
    next() StopIteration)."""
    import numpy as np

    arr = np.full((8, 8), 120.0)
    good = _encode_jpeg(arr)

    # 1) SOS with seg_len=2: empty body, seg[0] used to IndexError
    i = good.index(b"\xff\xda")
    bad_sos = good[: i + 2] + b"\x00\x02" + good[i + 4 :]
    assert MM.jpeg_pixel_stats(bad_sos) is None

    # 2) SOF whose declared component count exceeds its body: take the
    # real SOF segment, bump ncomp to 3 but keep (and re-declare) a
    # body holding only one component spec
    i = good.index(b"\xff\xc0")
    seg_len = int.from_bytes(good[i + 2 : i + 4], "big")
    sof_body = good[i + 4 : i + 2 + seg_len]
    short_body = sof_body[:6] + sof_body[6:9]  # header + 1 comp spec
    short_body = short_body[:5] + b"\x03" + short_body[6:]  # ncomp=3
    new_len = (len(short_body) + 2).to_bytes(2, "big")
    bad_sof = good[: i + 2] + new_len + short_body + good[i + 2 + seg_len :]
    assert MM.jpeg_pixel_stats(bad_sof) is None

    # 3) color image whose SOS repeats one component id: the luma
    # component never appears in the scan -> next() used to raise
    rgb = np.zeros((8, 8, 3), dtype=np.float64)
    rgb[:, :, 0] = 200.0
    cgood = _encode_jpeg(rgb, subsample="444")
    i = cgood.index(b"\xff\xda")
    seg_len = int.from_bytes(cgood[i + 2 : i + 4], "big")
    body = bytearray(cgood[i + 4 : i + 2 + seg_len])
    # scan component ids live at body[1], body[3], body[5]
    body[1] = body[3]  # repeat component 2's id; luma id vanishes
    bad_scan = cgood[: i + 4] + bytes(body) + cgood[i + 2 + seg_len :]
    assert MM.jpeg_pixel_stats(bad_scan) is None


# ---------------------------------------------------------------------------
# Progressive JPEG golden tests (r10): _jpeg_progressive_stats is verified
# against an INDEPENDENT test-side progressive encoder — spectral
# selection + successive approximation (T.81 Annex G) built here, with
# EOB-run accumulation on both first and refinement AC passes. All-ones
# quant tables make the progressive decode bit-identical to the baseline
# decode of the same image, which the golden asserts directly.
# ---------------------------------------------------------------------------


def _prog_quantized_planes(arr, subsample="444"):
    """Quantized (q=1) DCT coefficient blocks per component, zigzag
    order: list of (blocks[bh*bw, 64], bw, bh, hs, vs) — reusing the
    baseline encoder's color transform and padding."""
    import numpy as np

    from sec_financial_data_pipeline_using_snowflake_dbt_spark.operators.multimodal import (
        _JPEG_ZIGZAG,
    )

    arr = np.asarray(arr, dtype=np.float64)
    h, w = arr.shape[:2]
    gray = arr.ndim == 2
    if gray:
        planes, samp = [arr], [(1, 1)]
    else:
        r, g, b = arr[..., 0], arr[..., 1], arr[..., 2]
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = 128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b
        cr = 128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b
        if subsample == "420":
            ph, pw = -(-h // 2) * 2, -(-w // 2) * 2
            cbp = _pad_blocks(cb, ph, pw)[:ph, :pw]
            crp = _pad_blocks(cr, ph, pw)[:ph, :pw]
            cb = cbp.reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
            cr = crp.reshape(ph // 2, 2, pw // 2, 2).mean(axis=(1, 3))
            planes, samp = [y, cb, cr], [(2, 2), (1, 1), (1, 1)]
        else:
            planes, samp = [y, cb, cr], [(1, 1), (1, 1), (1, 1)]
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    B = _jpeg_dct_basis()
    out = []
    for p, (hs, vs) in zip(planes, samp):
        # TRUE grid (ceil of the sampled extent) — interleaved DC scans
        # need the MCU-PADDED grid, handled by the caller
        cw, ch = -(-w * hs // hmax), -(-h * vs // vmax)
        bw_, bh_ = -(-cw // 8), -(-ch // 8)
        padded = _pad_blocks(p[:ch, :cw], bh_ * 8, bw_ * 8)
        blocks = []
        for by in range(bh_):
            for bx in range(bw_):
                blk = padded[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8]
                q = np.rint(B @ (blk - 128.0) @ B.T).astype(int)
                blocks.append([int(q.flat[_JPEG_ZIGZAG[k]]) for k in range(64)])
        out.append((blocks, bw_, bh_, hs, vs))
    return out, w, h, samp


# progressive AC symbols additionally need the EOBn codes (r<<4 for
# r>=1: end-of-band runs of 2^r..2^(r+1)-1 blocks); one flat 8-bit
# canonical table holds all 176 symbols
_ENC_AC_SYMS_PROG = bytes(
    [0x00, 0xF0]
    + [(r << 4) | s for r in range(16) for s in range(1, 11)]
    + [r << 4 for r in range(1, 15)]
)
_ENC_AC_COUNTS_PROG = bytes([0] * 7 + [len(_ENC_AC_SYMS_PROG)] + [0] * 8)


class _ProgEncoder:
    """Progressive scan emitters sharing one bit writer per scan."""

    def __init__(self):
        self.dc_codes = _enc_huff_codes(_ENC_DC_COUNTS, _ENC_DC_SYMS)
        self.ac_codes = _enc_huff_codes(_ENC_AC_COUNTS_PROG, _ENC_AC_SYMS_PROG)

    def dc_first(self, bw, comps_blocks, al):
        """Interleaved (MCU order over padded grids) DC first scan."""
        preds = [0] * len(comps_blocks)
        hmax = max(c[3] for c in comps_blocks)
        vmax = max(c[4] for c in comps_blocks)
        # padded MCU geometry from the luma component
        _, ybw, ybh, yhs, yvs = comps_blocks[0]
        mcux, mcuy = -(-ybw // yhs), -(-ybh // yvs)
        for mcu in range(mcux * mcuy):
            my, mx = divmod(mcu, mcux)
            for ci, (blocks, cbw, cbh, hs, vs) in enumerate(comps_blocks):
                for by in range(vs):
                    for bx in range(hs):
                        row, col = my * vs + by, mx * hs + bx
                        # padded grid: replicate edge blocks
                        r_, c_ = min(row, cbh - 1), min(col, cbw - 1)
                        dc = blocks[r_ * cbw + c_][0] >> al  # arith shift
                        diff = dc - preds[ci]
                        preds[ci] = dc
                        s = abs(diff).bit_length()
                        length, code = self.dc_codes[s]
                        bw.put(code, length)
                        if s:
                            bw.put(
                                diff if diff > 0 else diff + (1 << s) - 1, s
                            )

    def dc_refine(self, bw, comps_blocks, al):
        """Interleaved DC refinement: one raw bit per block."""
        _, ybw, ybh, yhs, yvs = comps_blocks[0]
        mcux, mcuy = -(-ybw // yhs), -(-ybh // yvs)
        for mcu in range(mcux * mcuy):
            my, mx = divmod(mcu, mcux)
            for blocks, cbw, cbh, hs, vs in comps_blocks:
                for by in range(vs):
                    for bx in range(hs):
                        r_ = min(my * vs + by, cbh - 1)
                        c_ = min(mx * hs + bx, cbw - 1)
                        bw.put((blocks[r_ * cbw + c_][0] >> al) & 1, 1)

    def ac_first(self, bw, blocks, ss, se, al):
        """Single-component AC first pass with EOB-run accumulation.
        Decoder semantics: EOBn -> eobrun = (1<<r) - 1 + bits, i.e. a
        run of N end-of-band blocks emits r=floor(log2 N), bits=N-2^r."""
        eob_count = 0

        def flush():
            nonlocal eob_count
            if not eob_count:
                return
            r = eob_count.bit_length() - 1
            length, code = self.ac_codes[r << 4]
            bw.put(code, length)
            if r:
                bw.put(eob_count - (1 << r), r)
            eob_count = 0

        for band in blocks:
            vals = [
                (1 if band[k] > 0 else -1) * (abs(band[k]) >> al)
                for k in range(ss, se + 1)
            ]
            last_nz = -1
            for i, v in enumerate(vals):
                if v:
                    last_nz = i
            if last_nz < 0:
                eob_count += 1
                continue
            flush()
            run = 0
            for i in range(last_nz + 1):
                v = vals[i]
                if v == 0:
                    run += 1
                    continue
                while run >= 16:
                    length, code = self.ac_codes[0xF0]
                    bw.put(code, length)
                    run -= 16
                s = abs(v).bit_length()
                length, code = self.ac_codes[(run << 4) | s]
                bw.put(code, length)
                bw.put(v if v > 0 else v + (1 << s) - 1, s)
                run = 0
            if last_nz < se - ss:
                eob_count += 1
        flush()

    def ac_refine(self, bw, blocks, ss, se, al):
        """Single-component AC refinement with EOB-run accumulation and
        buffered correction bits (T.81 G.1.2.3 encoder mirror). Decoder
        semantics: EOBn -> eobrun = (1<<r) + bits covers N whole
        blocks, so r=floor(log2 N), bits=N-2^r."""
        eob_count = 0
        eob_bits: list[int] = []

        def flush():
            nonlocal eob_count, eob_bits
            if not eob_count:
                return
            r = eob_count.bit_length() - 1
            length, code = self.ac_codes[r << 4]
            bw.put(code, length)
            if r:
                bw.put(eob_count - (1 << r), r)
            for b in eob_bits:
                bw.put(b, 1)
            eob_count, eob_bits = 0, []

        for band in blocks:
            vals = [band[k] for k in range(ss, se + 1)]
            temps = [abs(v) >> al for v in vals]
            if not any(t == 1 for t in temps):
                # no NEW coefficient: whole block joins the EOB run,
                # correction bits for nonzero-history coeffs buffered
                eob_count += 1
                eob_bits += [t & 1 for t in temps if t > 1]
                continue
            flush()
            run, br = 0, []
            last_new = max(i for i, t in enumerate(temps) if t == 1)
            for i in range(last_new + 1):
                t = temps[i]
                if t == 0:
                    run += 1
                    continue
                # ZRLs must flush as soon as the zero-history run tops
                # 15 at ANY nonzero position — a history coefficient's
                # buffered bit belongs to the ZRL span that covers its
                # position, so deferring the flush past it would put
                # the bit after the wrong symbol
                while run > 15:
                    length, code = self.ac_codes[0xF0]
                    bw.put(code, length)
                    run -= 16
                    for b in br:
                        bw.put(b, 1)
                    br = []
                if t > 1:
                    br.append(t & 1)
                    continue
                length, code = self.ac_codes[(run << 4) | 1]
                bw.put(code, length)
                bw.put(1 if vals[i] > 0 else 0, 1)
                for b in br:
                    bw.put(b, 1)
                br, run = [], 0
            # remainder after the last new coefficient joins an EOB run
            tail = [t & 1 for t in temps[last_new + 1 :] if t > 1]
            if last_new < len(temps) - 1:
                eob_count += 1
                eob_bits += tail
        flush()


def _encode_jpeg_progressive(arr, subsample="444", al_dc=1, al_ac=1):
    """Independent progressive (SOF2) encoder: interleaved DC first at
    Al=al_dc + DC refinements down to 0; luma AC split into two spectral
    bands at Al=al_ac + refinements down to 0; chroma AC in single full
    scans (which the decoder must SKIP). All-ones quant tables."""
    comps_blocks, w, h, samp = _prog_quantized_planes(arr, subsample)
    ncomp = len(comps_blocks)
    enc = _ProgEncoder()

    out = bytearray(b"\xff\xd8")
    out += _seg(0xDB, bytes([0x00]) + bytes([1] * 64))
    if ncomp > 1:
        out += _seg(0xDB, bytes([0x01]) + bytes([1] * 64))
    sof = bytes([8]) + h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([ncomp])
    for ci in range(ncomp):
        hs, vs = samp[ci]
        sof += bytes([ci + 1, (hs << 4) | vs, 0 if ci == 0 else 1])
    out += _seg(0xC2, sof)
    tcths = ((0, 0), (1, 0)) if ncomp == 1 else ((0, 0), (1, 0), (0, 1), (1, 1))
    for tc, th in tcths:
        counts = _ENC_DC_COUNTS if tc == 0 else _ENC_AC_COUNTS_PROG
        syms = _ENC_DC_SYMS if tc == 0 else _ENC_AC_SYMS_PROG
        out += _seg(0xC4, bytes([(tc << 4) | th]) + counts + syms)

    def scan(comp_specs, ss, se, ah, al, emit):
        nonlocal out
        sos = bytes([len(comp_specs)])
        for ci, td, ta in comp_specs:
            sos += bytes([ci + 1, (td << 4) | ta])
        sos += bytes([ss, se, (ah << 4) | al])
        out += _seg(0xDA, sos)
        bw = _JpegBitWriter()
        emit(bw)
        bw.flush()
        out += bw.out

    # DC: interleaved first scan + successive refinements
    all_dc = [(ci, 0 if ci == 0 else 1, 0) for ci in range(ncomp)]
    scan(all_dc, 0, 0, 0, al_dc, lambda bw: enc.dc_first(bw, comps_blocks, al_dc))
    for a in range(al_dc - 1, -1, -1):
        scan(all_dc, 0, 0, a + 1, a, lambda bw, a=a: enc.dc_refine(bw, comps_blocks, a))
    yblocks = comps_blocks[0][0]
    # luma AC: two spectral bands, coarse first
    scan([(0, 0, 0)], 1, 5, 0, al_ac, lambda bw: enc.ac_first(bw, yblocks, 1, 5, al_ac))
    # chroma AC: full single scans between luma scans (decoder skips them)
    for ci in range(1, ncomp):
        cblocks = comps_blocks[ci][0]
        scan([(ci, 1, 1)], 1, 63, 0, 0,
             lambda bw, cb=cblocks: enc.ac_first(bw, cb, 1, 63, 0))
    scan([(0, 0, 0)], 6, 63, 0, al_ac,
         lambda bw: enc.ac_first(bw, yblocks, 6, 63, al_ac))
    # luma AC refinements down to full precision
    for a in range(al_ac - 1, -1, -1):
        scan([(0, 0, 0)], 1, 63, a + 1, a,
             lambda bw, a=a: enc.ac_refine(bw, yblocks, 1, 63, a))
    out += b"\xff\xd9"
    return bytes(out)


def test_jpeg_progressive_grayscale_matches_baseline():
    """With all-ones quant tables, progressive and baseline encodings of
    the same image carry IDENTICAL quantized coefficients — so the two
    decoders must reconstruct the identical luma plane."""
    import numpy as np

    arr = np.tile(np.linspace(40.0, 215.0, 24), (16, 1))
    base = MM.jpeg_pixel_stats(_encode_jpeg(arr))
    prog = MM.jpeg_pixel_stats(_encode_jpeg_progressive(arr))
    assert base is not None and prog is not None
    assert (prog["width"], prog["height"]) == (24, 16)
    assert prog["format"] == "jpeg"
    assert abs(prog["mean_luma"] - base["mean_luma"]) < 1e-9


def test_jpeg_progressive_color_444_skips_chroma_scans():
    """3-component progressive: the luma result must match baseline
    while the decoder skips both chroma AC scans outright."""
    import numpy as np

    rng = np.random.RandomState(7)
    arr = rng.randint(0, 256, size=(17, 23, 3)).astype(np.float64)
    base = MM.jpeg_pixel_stats(_encode_jpeg(arr, subsample="444"))
    prog = MM.jpeg_pixel_stats(_encode_jpeg_progressive(arr, subsample="444"))
    assert base is not None and prog is not None
    assert (prog["width"], prog["height"]) == (23, 17)
    assert abs(prog["mean_luma"] - base["mean_luma"]) < 1e-9


def test_jpeg_progressive_420_interleaved_dc_geometry():
    """4:2:0 sampling: the interleaved DC scan walks the MCU-PADDED luma
    grid (2x2 blocks per MCU) while AC scans walk the TRUE grid — the
    decode must agree with the baseline decoder on the same image."""
    import numpy as np

    rng = np.random.RandomState(11)
    arr = rng.randint(0, 256, size=(21, 35, 3)).astype(np.float64)
    base = MM.jpeg_pixel_stats(_encode_jpeg(arr, subsample="420"))
    prog = MM.jpeg_pixel_stats(_encode_jpeg_progressive(arr, subsample="420"))
    assert base is not None and prog is not None
    assert (prog["width"], prog["height"]) == (35, 21)
    assert abs(prog["mean_luma"] - base["mean_luma"]) < 1e-9


def test_jpeg_progressive_deep_successive_approximation():
    """al_ac=3 forces three AC refinement passes over sparse blocks —
    long EOB runs (eobrun > 1 on both first and refinement passes),
    ZRL-in-refinement, and correction bits all get exercised."""
    import numpy as np

    arr = np.full((40, 48), 128.0)
    arr[3, 5] = 250.0   # a few isolated impulses -> sparse coefficients
    arr[20, 30] = 10.0
    arr[36, 2] = 200.0
    base = MM.jpeg_pixel_stats(_encode_jpeg(arr))
    prog = MM.jpeg_pixel_stats(
        _encode_jpeg_progressive(arr, al_dc=2, al_ac=3)
    )
    assert base is not None and prog is not None
    assert abs(prog["mean_luma"] - base["mean_luma"]) < 1e-9


def test_jpeg_progressive_boundary_still_guarded():
    """Corrupt/truncated progressive streams return None; a baseline
    stream whose SOF was flipped to SOF2 (Ss=0,Se=63 — illegal for a
    progressive DC scan) stays behind the boundary."""
    import numpy as np

    arr = np.full((8, 8), 99.0)
    good_prog = _encode_jpeg_progressive(arr)
    assert MM.jpeg_pixel_stats(good_prog) is not None
    # truncate mid-scan
    assert MM.jpeg_pixel_stats(good_prog[: len(good_prog) * 2 // 3]) is None
    # flipped baseline (the r9 boundary fixture) is NOT valid progressive
    good_base = _encode_jpeg(arr)
    i = good_base.index(b"\xff\xc0")
    flipped = good_base[:i] + b"\xff\xc2" + good_base[i + 2 :]
    assert MM.jpeg_pixel_stats(flipped) is None


def test_jpeg_progressive_cross_check_against_pillow():
    """Strongest check where available: Pillow's progressive encoder
    (a real third-party implementation, quality 95) — our decoder must
    agree with Pillow's own decode on dimensions and luma."""
    pytest.importorskip("PIL")
    import io

    import numpy as np
    from PIL import Image

    rng = np.random.RandomState(5)
    arr = rng.randint(0, 256, size=(26, 33, 3)).astype(np.uint8)
    buf = io.BytesIO()
    Image.fromarray(arr).save(buf, format="JPEG", quality=95, progressive=True)
    payload = buf.getvalue()
    assert b"\xff\xc2" in payload  # really progressive
    feats = MM.jpeg_pixel_stats(payload)
    assert feats is not None
    assert (feats["width"], feats["height"]) == (33, 26)
    with Image.open(io.BytesIO(payload)) as im:
        pil_luma = np.asarray(im.convert("L"), dtype=np.float64).mean() / 255.0
    assert abs(feats["mean_luma"] - pil_luma) < 0.01


def test_png_16bit_golden():
    """16-bit gray and RGB: samples are big-endian byte pairs, luma
    normalized by 65535."""
    g = _encode_png(
        [[0, 32768], [65535, 16384]], color_type=0, depth=16, filters=[1, 2]
    )
    want = (0 + 32768 + 65535 + 16384) / 4 / 65535
    assert abs(MM.pixel_stats(g)["mean_luma"] - want) < 1e-12
    rgb = _encode_png(
        [[(65535, 0, 0), (0, 65535, 0)]], color_type=2, depth=16, filters=[4]
    )
    assert abs(MM.pixel_stats(rgb)["mean_luma"] - (0.299 + 0.587) / 2) < 1e-12


def test_png_adam7_matches_noninterlaced():
    """Adam7: seven filtered sub-images scattered on the pass grid must
    reconstruct the identical raster — check against the progressive
    (sic) and plain encodings of the same pixels, at 8 and 16 bit, on
    dimensions that exercise partial/empty passes (9x5 and 3x2)."""
    import random

    rng = random.Random(42)
    for w, h, ct, depth in ((9, 5, 2, 8), (3, 2, 0, 16), (16, 16, 6, 8)):
        ch = {0: 1, 2: 3, 6: 4}[ct]
        top = (1 << depth) - 1
        pix = [
            [
                tuple(rng.randint(0, top) for _ in range(ch))
                if ch > 1
                else rng.randint(0, top)
                for _ in range(w)
            ]
            for _ in range(h)
        ]
        plain = MM.pixel_stats(_encode_png(pix, ct, depth=depth, filters=[0, 1, 2, 3, 4]))
        inter = MM.pixel_stats(
            _encode_png(pix, ct, depth=depth, interlace=1, filters=[2, 4, 1])
        )
        assert plain is not None and inter is not None
        assert (inter["width"], inter["height"]) == (w, h)
        assert abs(inter["mean_luma"] - plain["mean_luma"]) < 1e-12


def test_png_sub_byte_depths_golden():
    """1/2/4-bit gray and palette: MSB-first bit unpacking with row
    padding dropped; gray normalized by 2^depth-1."""
    # 1-bit 5x3 checkerboard: rows pad to whole bytes
    bits = [[(x + y) % 2 for x in range(5)] for y in range(3)]
    got = MM.pixel_stats(_encode_png(bits, color_type=0, depth=1, filters=[0, 2, 0]))
    want = sum(sum(r) for r in bits) / 15 / 1.0
    assert abs(got["mean_luma"] - want) < 1e-12
    # 2-bit gray gradient
    g2 = _encode_png([[0, 1, 2, 3, 3]], color_type=0, depth=2)
    assert abs(MM.pixel_stats(g2)["mean_luma"] - (0 + 1 + 2 + 3 + 3) / 5 / 3) < 1e-12
    # 4-bit palette: indices through PLTE
    pal = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])  # red green blue
    p4 = _encode_png([[0, 1, 2], [2, 1, 0]], color_type=3, palette=pal, depth=4)
    want = (0.299 + 0.587 + 0.114) * 2 / 6
    assert abs(MM.pixel_stats(p4)["mean_luma"] - want) < 1e-12
    # 1-bit INTERLACED palette: sub-byte stride inside Adam7 passes
    p1i = _encode_png(
        [[(x * y) % 2 for x in range(9)] for y in range(5)],
        color_type=3, palette=bytes([0, 0, 0, 255, 255, 255]), depth=1,
        interlace=1,
    )
    p1n = _encode_png(
        [[(x * y) % 2 for x in range(9)] for y in range(5)],
        color_type=3, palette=bytes([0, 0, 0, 255, 255, 255]), depth=1,
    )
    assert abs(
        MM.pixel_stats(p1i)["mean_luma"] - MM.pixel_stats(p1n)["mean_luma"]
    ) < 1e-12


def test_png_16bit_cross_check_against_pillow():
    """Pillow encodes a 16-bit grayscale PNG; our decoder must agree
    with the analytic mean."""
    pytest.importorskip("PIL")
    import io

    import numpy as np
    from PIL import Image

    rng = np.random.RandomState(9)
    arr = rng.randint(0, 65536, size=(11, 13)).astype(np.uint16)
    buf = io.BytesIO()
    Image.fromarray(arr, mode="I;16").save(buf, format="PNG")
    payload = buf.getvalue()
    feats = MM.pixel_stats(payload)
    assert feats is not None
    assert abs(feats["mean_luma"] - arr.mean() / 65535.0) < 1e-6


# ---------------------------------------------------------------------------
# MP4 sample-table extraction (r10): frame sampling over a REAL ISO BMFF
# box tree built here — stts/stsz/stsc/stco/stss joined to per-sample
# (offset, size, pts, keyframe), coded bytes addressed in mdat.
# ---------------------------------------------------------------------------


def _box(t: bytes, body: bytes) -> bytes:
    return struct.pack(">I", len(body) + 8) + t + body


def _full(t: bytes, body: bytes) -> bytes:  # version=0, flags=0
    return _box(t, b"\x00\x00\x00\x00" + body)


def _mini_mp4():
    """ftyp + mdat(5 coded frames) + moov with a full sample table:
    sizes 10..50, chunk map {c1: frames 1-2, c2: frames 3-5}, deltas
    100 @ timescale 1000, sync samples {1, 4}."""
    frames = [bytes([i + 1]) * (10 * (i + 1)) for i in range(5)]
    ftyp = _box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
    mdat_body_start = len(ftyp) + 8
    mdat = _box(b"mdat", b"".join(frames))
    sizes = [len(f) for f in frames]
    stts = _full(b"stts", struct.pack(">I", 1) + struct.pack(">II", 5, 100))
    stsz = _full(
        b"stsz", struct.pack(">II", 0, 5) + struct.pack(">5I", *sizes)
    )
    stsc = _full(
        b"stsc",
        struct.pack(">I", 2)
        + struct.pack(">III", 1, 2, 1)
        + struct.pack(">III", 2, 3, 1),
    )
    stco = _full(
        b"stco",
        struct.pack(">I", 2)
        + struct.pack(">II", mdat_body_start, mdat_body_start + sum(sizes[:2])),
    )
    stss = _full(b"stss", struct.pack(">I", 2) + struct.pack(">II", 1, 4))
    stbl = _box(b"stbl", stts + stsz + stsc + stco + stss)
    minf = _box(b"minf", stbl)
    mdhd = _full(
        b"mdhd", struct.pack(">IIII", 0, 0, 1000, 500)  # timescale 1000
    )
    hdlr = _full(b"hdlr", b"\x00\x00\x00\x00" + b"vide" + b"\x00" * 12)
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    trak = _box(b"trak", mdia)
    mvhd = _full(b"mvhd", struct.pack(">IIII", 0, 0, 1000, 500) + b"\x00" * 80)
    moov = _box(b"moov", mvhd + trak)
    return ftyp + mdat + moov, frames


def test_mp4_sample_table_parse():
    payload, frames = _mini_mp4()
    t = MM.parse_mp4_sample_table(payload)
    assert t is not None
    assert t["timescale"] == 1000
    samples = t["samples"]
    assert len(samples) == 5
    assert [s[1] for s in samples] == [10, 20, 30, 40, 50]
    assert [s[2] for s in samples] == [0, 100, 200, 300, 400]
    assert [s[3] for s in samples] == [True, False, False, True, False]
    # offsets address the REAL coded bytes in mdat
    for (off, size, _, _), f in zip(samples, frames):
        assert payload[off : off + size] == f


def test_sample_video_frames_real_mp4(spark):
    import hashlib

    payload, frames = _mini_mp4()
    assert MM.sniff_format(payload) == ("video", "mp4")
    assets = spark.createDataFrame(
        [("v1", bytearray(payload))], "asset_id string, payload binary"
    )
    rows = {r.frame_index: r for r in MM.sample_video_frames(assets, max_frames=5).collect()}
    assert set(rows) == {0, 1, 2, 3, 4}
    for k, f in enumerate(frames):
        assert rows[k].frame_hash == hashlib.md5(f).hexdigest()
        assert rows[k].n_bytes == len(f)
        assert abs(rows[k].pts_seconds - k * 0.1) < 1e-9
    assert [rows[k].keyframe for k in range(5)] == [True, False, False, True, False]
    # max_frames=2 picks the track endpoints
    two = sorted(
        r.frame_index
        for r in MM.sample_video_frames(assets, max_frames=2).collect()
    )
    assert two == [0, 4]


def test_sample_video_frames_fallback_windows(assets):
    """Assets without a parseable sample table keep the byte-window
    fallback shape with null pts/keyframe."""
    frames = MM.sample_video_frames(assets).collect()
    assert all(f.pts_seconds is None and f.keyframe is None for f in frames)


def test_jpeg_progressive_roundtrip_fuzz():
    """Deterministic fuzz: random images x sampling x successive-
    approximation depths — every progressive decode must equal the
    baseline decode of the same image bit-for-bit (all-ones quant)."""
    import numpy as np

    rng = np.random.RandomState(1234)
    cases = [
        (rng.randint(8, 41), rng.randint(8, 41), mode, al_dc, al_ac)
        for mode in (None, "444", "420")
        for al_dc, al_ac in ((0, 0), (1, 2), (2, 1))
    ]
    for h, w, mode, al_dc, al_ac in cases:
        if mode is None:
            arr = rng.randint(0, 256, size=(h, w)).astype(np.float64)
            base = MM.jpeg_pixel_stats(_encode_jpeg(arr))
            prog = MM.jpeg_pixel_stats(
                _encode_jpeg_progressive(arr, al_dc=al_dc, al_ac=al_ac)
            )
        else:
            arr = rng.randint(0, 256, size=(h, w, 3)).astype(np.float64)
            base = MM.jpeg_pixel_stats(_encode_jpeg(arr, subsample=mode))
            prog = MM.jpeg_pixel_stats(
                _encode_jpeg_progressive(
                    arr, subsample=mode, al_dc=al_dc, al_ac=al_ac
                )
            )
        assert base is not None and prog is not None, (h, w, mode, al_dc, al_ac)
        assert (prog["width"], prog["height"]) == (w, h)
        assert abs(prog["mean_luma"] - base["mean_luma"]) < 1e-9, (
            h, w, mode, al_dc, al_ac,
        )


def test_png_matrix_roundtrip_fuzz():
    """Deterministic fuzz over the full integer-PNG matrix: every
    (color type, depth, interlace) combination the spec allows, random
    dims and filters — interlaced must equal plain, and both must equal
    the analytic luma computed from the raw samples."""
    import random

    import numpy as np

    rng = random.Random(77)
    combos = [
        (ct, d)
        for ct, depths in {
            0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
            4: (8, 16), 6: (8, 16),
        }.items()
        for d in depths
    ]
    for ct, depth in combos:
        w, h = rng.randint(1, 19), rng.randint(1, 13)
        ch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[ct]
        top = (1 << depth) - 1
        pal_n = min(1 << depth, 16)
        if ct == 3:
            pix = [[rng.randint(0, pal_n - 1) for _ in range(w)] for _ in range(h)]
            pal = bytes(rng.randint(0, 255) for _ in range(pal_n * 3))
        else:
            pal = None
            pix = [
                [
                    tuple(rng.randint(0, top) for _ in range(ch))
                    if ch > 1
                    else rng.randint(0, top)
                    for _ in range(w)
                ]
                for _ in range(h)
            ]
        filters = [rng.randint(0, 4) for _ in range(3)]
        plain = MM.pixel_stats(
            _encode_png(pix, ct, depth=depth, palette=pal, filters=filters)
        )
        inter = MM.pixel_stats(
            _encode_png(pix, ct, depth=depth, palette=pal, interlace=1,
                        filters=filters[::-1])
        )
        assert plain is not None and inter is not None, (ct, depth, w, h)
        assert abs(plain["mean_luma"] - inter["mean_luma"]) < 1e-12, (ct, depth)
        # analytic luma from the raw samples
        a = np.array(
            [[p if isinstance(p, (tuple, list)) else (p,) for p in row]
             for row in pix],
            dtype=np.float64,
        )
        if ct == 3:
            lut = np.frombuffer(pal, dtype=np.uint8).reshape(-1, 3).astype(np.float64)
            rgb = lut[a[..., 0].astype(int)]
            want = (
                0.299 * rgb[..., 0] + 0.587 * rgb[..., 1] + 0.114 * rgb[..., 2]
            ).mean() / 255.0
        elif ch >= 3:
            want = (
                0.299 * a[..., 0] + 0.587 * a[..., 1] + 0.114 * a[..., 2]
            ).mean() / top
        else:
            want = a[..., 0].mean() / top
        assert abs(plain["mean_luma"] - want) < 1e-9, (ct, depth)


def _mini_mp4_boxes():
    """The _mini_mp4 sample-table boxes, returned piecemeal so variants
    (ctts, audio tracks) can recompose them."""
    frames = [bytes([i + 1]) * (10 * (i + 1)) for i in range(5)]
    ftyp = _box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
    mdat_body_start = len(ftyp) + 8
    mdat = _box(b"mdat", b"".join(frames))
    sizes = [len(f) for f in frames]
    stts = _full(b"stts", struct.pack(">I", 1) + struct.pack(">II", 5, 100))
    stsz = _full(b"stsz", struct.pack(">II", 0, 5) + struct.pack(">5I", *sizes))
    stsc = _full(
        b"stsc",
        struct.pack(">I", 2)
        + struct.pack(">III", 1, 2, 1)
        + struct.pack(">III", 2, 3, 1),
    )
    stco = _full(
        b"stco",
        struct.pack(">I", 2)
        + struct.pack(">II", mdat_body_start, mdat_body_start + sum(sizes[:2])),
    )
    stss = _full(b"stss", struct.pack(">I", 2) + struct.pack(">II", 1, 4))
    mdhd = _full(b"mdhd", struct.pack(">IIII", 0, 0, 1000, 500))
    mvhd = _full(b"mvhd", struct.pack(">IIII", 0, 0, 1000, 500) + b"\x00" * 80)
    return frames, ftyp, mdat, (stts + stsz + stsc + stco + stss), mdhd, mvhd


def _trak(handler: bytes | None, stbl_body: bytes, mdhd: bytes) -> bytes:
    minf = _box(b"minf", _box(b"stbl", stbl_body))
    parts = [mdhd]
    if handler is not None:
        parts.append(_full(b"hdlr", b"\x00\x00\x00\x00" + handler + b"\x00" * 12))
    parts.append(minf)
    return _box(b"trak", _box(b"mdia", b"".join(parts)))


def test_mp4_ctts_composition_offsets_give_true_pts():
    """ADVICE r10: pts_seconds must include ctts composition offsets —
    a B-frame reorder (decode order I P B, presentation I B P) used to
    report DTS under the pts name. Both the unsigned v0 and signed v1
    ctts forms must land."""
    frames, ftyp, mdat, tables, mdhd, mvhd = _mini_mp4_boxes()
    # v0 (unsigned): every sample shifted +50 ticks
    ctts0 = _full(b"ctts", struct.pack(">I", 1) + struct.pack(">II", 5, 50))
    payload = ftyp + mdat + _box(
        b"moov", mvhd + _trak(b"vide", tables + ctts0, mdhd)
    )
    t = MM.parse_mp4_sample_table(payload)
    assert [s[2] for s in t["samples"]] == [50, 150, 250, 350, 450]
    # v1 (signed): classic B-frame pattern — decode I P B P B, offsets
    # [+100, +200, -100, +200, -100] -> pts [100, 300, 100(+100 base)..]
    ctts1 = bytes([1, 0, 0, 0]) + struct.pack(">I", 5) + b"".join(
        struct.pack(">Ii", 1, o) for o in (100, 200, -100, 200, -100)
    )
    payload = ftyp + mdat + _box(
        b"moov", mvhd + _trak(b"vide", tables + _box(b"ctts", ctts1), mdhd)
    )
    t = MM.parse_mp4_sample_table(payload)
    assert [s[2] for s in t["samples"]] == [100, 300, 100, 500, 300]
    # declared ctts shorter than the track = corrupt -> None
    ctts_short = _full(b"ctts", struct.pack(">I", 1) + struct.pack(">II", 2, 50))
    payload = ftyp + mdat + _box(
        b"moov", mvhd + _trak(b"vide", tables + ctts_short, mdhd)
    )
    assert MM.parse_mp4_sample_table(payload) is None


def test_mp4_track_fallback_skips_audio_and_hint():
    """ADVICE r10: an audio-only (or audio-first) MP4 must not emit its
    sound samples as video 'frames'; the no-hdlr fallback remains for
    minimal muxes."""
    frames, ftyp, mdat, tables, mdhd, mvhd = _mini_mp4_boxes()
    # audio-only: no video track -> None
    payload = ftyp + mdat + _box(b"moov", mvhd + _trak(b"soun", tables, mdhd))
    assert MM.parse_mp4_sample_table(payload) is None
    payload = ftyp + mdat + _box(b"moov", mvhd + _trak(b"hint", tables, mdhd))
    assert MM.parse_mp4_sample_table(payload) is None
    # audio-first, video second: the video track must be chosen (sound
    # track first in the moov)
    payload = ftyp + mdat + _box(
        b"moov", mvhd + _trak(b"soun", tables, mdhd) + _trak(b"vide", tables, mdhd)
    )
    t = MM.parse_mp4_sample_table(payload)
    assert t is not None and len(t["samples"]) == 5
    # hdlr-less minimal mux still parses via the fallback
    payload = ftyp + mdat + _box(b"moov", mvhd + _trak(None, tables, mdhd))
    t = MM.parse_mp4_sample_table(payload)
    assert t is not None and len(t["samples"]) == 5
