"""Multimodal plumbing: binaryFile ingestion, Arrow-batched stub decode,
1→N frame expansion."""

import hashlib

from copy_sharepoint_to_onelake_lakehousefiles_spark.multimodal import media as M


def _mk_blobs(tmp_path, n=4):
    root = tmp_path / "blobs"
    (root / "nested").mkdir(parents=True)
    paths = []
    for i in range(n):
        p = (root / "nested" if i % 2 else root) / f"b{i}.bin"
        p.write_bytes(bytes([i]) * (64 * (i + 1)))
        paths.append(p)
    return str(root), paths


def test_extract_features_digest_matches_driver(spark, tmp_path):
    root, paths = _mk_blobs(tmp_path)
    feats = {r["digest"]: r for r in M.extract_features(M.read_media_dir(spark, root)).collect()}
    for p in paths:
        want = hashlib.sha256(p.read_bytes()).hexdigest()
        assert want in feats
        assert feats[want]["n_bytes"] == len(p.read_bytes())
        assert len(feats[want]["features"]) == 8
        assert all(0.0 <= f <= 1.0 for f in feats[want]["features"])


def test_stub_decode_deterministic():
    assert M._stub_decode(b"abc") == M._stub_decode(b"abc")
    assert M._stub_decode(b"abc") != M._stub_decode(b"abd")


# --- real codec paths (stdlib-decodable formats) -----------------------------

import io
import struct
import wave as _wave

import numpy as np

from copy_sharepoint_to_onelake_lakehousefiles_spark.multimodal.media import (
    decode_audio,
    decode_image,
    encode_ppm,
)


def _ppm_bytes(w, h, rgb):
    return b"P6\n# test comment\n%d %d\n255\n" % (w, h) + bytes(rgb) * (w * h)


def _bmp_bytes(w, h, bgr):
    stride = (w * 3 + 3) & ~3
    row = (bytes(bgr) * w).ljust(stride, b"\x00")
    pixels = row * h
    header = b"BM" + struct.pack("<IHHI", 14 + 40 + len(pixels), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pixels), 0, 0, 0, 0)
    return header + dib + pixels


def _wav_bytes(freq=440, rate=8000, seconds=0.5, amp=0.5):
    t = np.arange(int(rate * seconds)) / rate
    samples = (amp * np.sin(2 * np.pi * freq * t) * 32767).astype("<i2")
    buf = io.BytesIO()
    with _wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(samples.tobytes())
    return buf.getvalue(), samples


def test_decode_ppm_real_pixels():
    img = decode_image(_ppm_bytes(4, 3, [10, 200, 30]))
    assert img.shape == (3, 4, 3)
    assert (img == [10, 200, 30]).all()


def test_decode_bmp_real_pixels():
    img = decode_image(_bmp_bytes(5, 2, [30, 200, 10]))  # BGR on disk
    assert img.shape == (2, 5, 3)
    assert (img == [10, 200, 30]).all()  # returned as RGB


def test_ppm_roundtrip():
    img = decode_image(_ppm_bytes(4, 3, [1, 2, 3]))
    assert (decode_image(encode_ppm(img)) == img).all()


def test_decode_wav_real_samples():
    content, samples = _wav_bytes()
    decoded, rate = decode_audio(content)
    assert rate == 8000 and len(decoded) == len(samples)
    rms = float(np.sqrt(np.mean(decoded**2)))
    assert abs(rms - 0.5 / np.sqrt(2)) < 0.01  # sine RMS = amp/sqrt(2)


def test_extract_features_real_image_means(spark, tmp_path):
    """A constant-color PPM must produce EXACT channel means, proving the
    decode is real rather than the hash stub."""
    from copy_sharepoint_to_onelake_lakehousefiles_spark.multimodal.media import (
        extract_features,
        read_media_dir,
    )

    (tmp_path / "img.ppm").write_bytes(_ppm_bytes(8, 8, [255, 0, 0]))
    media = read_media_dir(spark, str(tmp_path), kind="image")
    feats = extract_features(media).collect()[0]["features"]
    assert abs(feats[2] - 1.0) < 1e-6  # mean R
    assert abs(feats[3]) < 1e-6 and abs(feats[4]) < 1e-6  # mean G, B


# --- header metadata probe (no codec libraries needed) ------------------------


def _png_bytes(w, h):
    ihdr = w.to_bytes(4, "big") + h.to_bytes(4, "big") + b"\x08\x02\x00\x00\x00"
    return (
        b"\x89PNG\r\n\x1a\n"
        + len(ihdr).to_bytes(4, "big") + b"IHDR" + ihdr + b"\x00" * 4
    )


def _jpeg_bytes(w, h):
    # SOI, APP0 stub, SOF0 with dims, EOI
    app0 = b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + b"\x00" * 9
    sof = (
        b"\xff\xc0" + (17).to_bytes(2, "big") + b"\x08"
        + h.to_bytes(2, "big") + w.to_bytes(2, "big") + b"\x03" + b"\x00" * 9
    )
    return b"\xff\xd8" + app0 + sof + b"\xff\xd9"


def _gif_bytes(w, h):
    return b"GIF89a" + w.to_bytes(2, "little") + h.to_bytes(2, "little") + b"\x00" * 4


def _mp3_bytes(kbps_idx=9, n_frames_bytes=4000):
    # MPEG1 Layer III header: FF FB, bitrate index in high nibble of byte 2
    hdr = bytes([0xFF, 0xFB, (kbps_idx << 4) | 0x00, 0x00])
    return hdr + b"\x00" * n_frames_bytes


def test_probe_metadata_parses_all_headers():
    from copy_sharepoint_to_onelake_lakehousefiles_spark.multimodal.media import (
        probe_metadata,
    )

    assert probe_metadata(_png_bytes(640, 480)) == ("image/png", 640, 480, None)
    assert probe_metadata(_jpeg_bytes(1920, 1080)) == ("image/jpeg", 1920, 1080, None)
    assert probe_metadata(_gif_bytes(32, 16)) == ("image/gif", 32, 16, None)
    assert probe_metadata(_bmp_bytes(5, 2, [1, 2, 3]))[:3] == ("image/bmp", 5, 2)
    assert probe_metadata(_ppm_bytes(4, 3, [9, 9, 9]))[:3] == (
        "image/x-portable-pixmap", 4, 3,
    )
    wav, _ = _wav_bytes(rate=8000, seconds=0.5)
    mime, _, _, dur = probe_metadata(wav)
    assert mime == "audio/wav" and abs(dur - 500) <= 1
    # 128 kbps CBR estimate: 4004 bytes * 8 / 128 kbps ≈ 250 ms
    mime, _, _, dur = probe_metadata(_mp3_bytes())
    assert mime == "audio/mpeg" and abs(dur - 250) <= 5
    # ID3v2-tagged payload: tag skipped before the frame sync
    tagged = b"ID3" + b"\x03\x00\x00" + b"\x00\x00\x00\x0a" + b"\x00" * 10 + _mp3_bytes()
    assert probe_metadata(tagged)[0] == "audio/mpeg"
    assert probe_metadata(b"\x00\x01\x02garbage") == (
        "application/octet-stream", None, None, None,
    )


def test_probe_media_fills_meta_struct(spark, tmp_path):
    from copy_sharepoint_to_onelake_lakehousefiles_spark.multimodal.media import (
        probe_media,
        read_media_dir,
    )

    (tmp_path / "a.png").write_bytes(_png_bytes(100, 50))
    (tmp_path / "b.jpg").write_bytes(_jpeg_bytes(12, 34))
    (tmp_path / "c.wav").write_bytes(_wav_bytes(seconds=0.25)[0])
    media = read_media_dir(spark, str(tmp_path), kind="image")
    metas = {r["meta"]["mime"]: r["meta"] for r in probe_media(media).collect()}
    assert metas["image/png"]["width"] == 100 and metas["image/png"]["height"] == 50
    assert metas["image/jpeg"]["width"] == 12 and metas["image/jpeg"]["height"] == 34
    assert abs(metas["audio/wav"]["duration_ms"] - 250) <= 1


def test_q60_profiles_by_detected_mime(spark, sf_dir):
    from copy_sharepoint_to_onelake_lakehousefiles_spark.multimodal.media import (
        q60_media_features,
    )

    rows = {r["mime"]: r for r in q60_media_features(spark, sf_dir).collect()}
    assert set(rows) == {
        "image/x-portable-pixmap",
        "image/png",
        "image/jpeg",
        "image/gif",
        "image/tiff",
        "audio/wav",
    }
    for mime in ("image/x-portable-pixmap", "image/png"):
        assert rows[mime]["n_media"] == 2 and rows[mime]["n_distinct"] == 2
    # 2 PCM tones + µ-law + IMA ADPCM voice clips (r5 compressed decode)
    assert rows["audio/wav"]["n_media"] == 4 and rows["audio/wav"]["n_distinct"] == 4
    assert rows["image/jpeg"]["n_media"] == 2  # baseline + progressive (r4)
    assert rows["image/gif"]["n_media"] == 1
    assert rows["image/tiff"]["n_media"] == 1  # LZW+predictor (r5)
    assert rows["image/tiff"]["n_with_dims"] == 1
    assert rows["image/png"]["n_with_dims"] == 2  # header-probed dimensions
    assert rows["image/jpeg"]["n_with_dims"] == 2
    assert rows["image/gif"]["n_with_dims"] == 1
    assert rows["audio/wav"]["n_with_duration"] == 4  # byte-rate durations


# ---------------------------------------------------------------- PNG codec


def _fwd_filter(ftype, raw, prev, bpp):
    """FORWARD scanline filters transcribed independently from the W3C PNG
    spec (§Filtering) — the test-side twin of the decoder's inverse, so a
    shared-bug round trip can't hide a filter error."""
    out = bytearray(len(raw))
    for x in range(len(raw)):
        a = raw[x - bpp] if x >= bpp else 0
        b = prev[x]
        c = prev[x - bpp] if x >= bpp else 0
        if ftype == 0:
            pred = 0
        elif ftype == 1:
            pred = a
        elif ftype == 2:
            pred = b
        elif ftype == 3:
            pred = (a + b) // 2
        else:
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
        out[x] = (raw[x] - pred) & 255
    return bytes(out)


def _build_png(img, ctype, filters, plte=None):
    import zlib

    from copy_sharepoint_to_onelake_lakehousefiles_spark.multimodal.media import _png_chunk

    h, w, ch = img.shape
    ihdr = w.to_bytes(4, "big") + h.to_bytes(4, "big") + bytes([8, ctype, 0, 0, 0])
    stride = w * ch
    flat = img.reshape(h, stride)
    prev = bytes(stride)
    scan = b""
    for y in range(h):
        f = filters[y % len(filters)]
        scan += bytes([f]) + _fwd_filter(f, bytes(flat[y]), prev, ch)
        prev = bytes(flat[y])
    out = b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
    if plte is not None:
        out += _png_chunk(b"PLTE", plte)
    return out + _png_chunk(b"IDAT", zlib.compress(scan)) + _png_chunk(b"IEND", b"")


def test_png_roundtrip_and_every_filter_type():
    import numpy as np

    from copy_sharepoint_to_onelake_lakehousefiles_spark.multimodal.media import (
        _decode_png,
        decode_image,
        encode_png,
    )

    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, (13, 9, 3), dtype=np.uint8)
    # encoder (filter 0) → decoder round trip
    assert np.array_equal(_decode_png(encode_png(img)), img)
    assert np.array_equal(decode_image(encode_png(img)), img)
    # every filter type, forward-filtered INDEPENDENTLY from the spec text
    for filters in ([1], [2], [3], [4], [0, 1, 2, 3, 4]):
        payload = _build_png(img, 2, filters)
        assert np.array_equal(_decode_png(payload), img), f"filters {filters}"


def test_png_color_types():
    import numpy as np

    from copy_sharepoint_to_onelake_lakehousefiles_spark.multimodal.media import (
        _decode_png,
    )

    rng = np.random.RandomState(11)
    # grayscale (ctype 0) → replicated channels
    gray = rng.randint(0, 256, (5, 7, 1), dtype=np.uint8)
    got = _decode_png(_build_png(gray, 0, [0, 2]))
    assert np.array_equal(got, np.repeat(gray, 3, axis=2))
    # gray+alpha (ctype 4) → alpha dropped
    ga = rng.randint(0, 256, (4, 3, 2), dtype=np.uint8)
    got = _decode_png(_build_png(ga, 4, [1]))
    assert np.array_equal(got, np.repeat(ga[:, :, :1], 3, axis=2))
    # RGBA (ctype 6) → alpha dropped
    rgba = rng.randint(0, 256, (6, 5, 4), dtype=np.uint8)
    got = _decode_png(_build_png(rgba, 6, [4]))
    assert np.array_equal(got, rgba[:, :, :3])
    # palette (ctype 3): indexes resolve through PLTE
    pal = bytes(range(48))  # 16 RGB entries
    idx = rng.randint(0, 16, (3, 4, 1), dtype=np.uint8)
    got = _decode_png(_build_png(idx, 3, [0], plte=pal))
    expect = np.frombuffer(pal, np.uint8).reshape(16, 3)[idx[:, :, 0]]
    assert np.array_equal(got, expect)


def test_png_known_byte_vector():
    """Fully hand-computed 2x2 RGB vector: row 0 filter 1 (Sub), row 1
    filter 2 (Up) — every reconstructed byte worked out on paper."""
    import zlib

    import numpy as np

    from copy_sharepoint_to_onelake_lakehousefiles_spark.multimodal.media import (
        _decode_png,
        _png_chunk,
    )

    # target image rows: (10,20,30),(13,24,35) / (110,120,130),(113,124,135)
    # row0 Sub deltas:    10,20,30, 3,4,5
    # row1 Up deltas:     100,100,100, 100,100,100
    scan = bytes([1, 10, 20, 30, 3, 4, 5]) + bytes([2] + [100] * 6)
    ihdr = (2).to_bytes(4, "big") + (2).to_bytes(4, "big") + bytes([8, 2, 0, 0, 0])
    payload = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(scan))
        + _png_chunk(b"IEND", b"")
    )
    got = _decode_png(payload)
    expect = np.array(
        [[[10, 20, 30], [13, 24, 35]], [[110, 120, 130], [113, 124, 135]]],
        dtype=np.uint8,
    )
    assert np.array_equal(got, expect)


def test_png_unsupported_shapes_fall_to_stub():
    import pytest as _pytest

    from copy_sharepoint_to_onelake_lakehousefiles_spark.multimodal.media import (
        _decode_png,
        _png_chunk,
    )

    def _hdr(depth, ctype, interlace=0):
        ihdr = (
            (2).to_bytes(4, "big")
            + (2).to_bytes(4, "big")
            + bytes([depth, ctype, 0, 0, interlace])
        )
        return b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr) + _png_chunk(b"IEND", b"")

    with _pytest.raises(NotImplementedError, match="bit depth"):
        _decode_png(_hdr(3, 2))  # 3 is not a legal PNG depth
    with _pytest.raises(NotImplementedError, match="not a legal"):
        _decode_png(_hdr(16, 3))  # 16-bit palette is spec-illegal
    with _pytest.raises(NotImplementedError, match="interlace method"):
        _decode_png(_hdr(8, 2, interlace=2))
    with _pytest.raises(NotImplementedError, match="not a PNG"):
        _decode_png(b"JUNK")


# ------------------------------------------- PNG: 16-bit + sub-byte + Adam7


def _adam7_passes(w, h):
    """W3C Adam7 pass geometry, transcribed independently from the spec's
    8×8 pattern diagram (not from the decoder's table)."""
    for x0, y0, dx, dy in (
        (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
    ):
        w_ = (w - x0 + dx - 1) // dx
        h_ = (h - y0 + dy - 1) // dy
        if w_ > 0 and h_ > 0:
            yield x0, y0, dx, dy


def _pack_samples(rowvals, depth):
    """Forward sample packing: 16-bit big-endian pairs, sub-byte MSB-first
    with zero padding to the byte boundary — spec §Image layout."""
    if depth == 8:
        return bytes(int(v) & 255 for v in rowvals)
    if depth == 16:
        out = bytearray()
        for v in rowvals:
            out += bytes([(int(v) >> 8) & 255, int(v) & 255])
        return bytes(out)
    out = bytearray()
    acc = nbits = 0
    for v in rowvals:
        acc = (acc << depth) | (int(v) & ((1 << depth) - 1))
        nbits += depth
        if nbits == 8:
            out.append(acc)
            acc = nbits = 0
    if nbits:
        out.append(acc << (8 - nbits))
    return bytes(out)


def _build_png_ex(samples, ctype, depth, filters, interlace=0, plte=None):
    """Forward PNG builder for any depth/interlace combination — the
    test-side twin of the generalized decoder. ``samples`` is (H, W, ch)
    with values already in the target depth's range."""
    import zlib

    import numpy as np

    from copy_sharepoint_to_onelake_lakehousefiles_spark.multimodal.media import (
        _png_chunk,
    )

    h, w, ch = samples.shape
    bpp = max(1, ch * depth // 8)

    def encode_sub(sub):
        stride = (sub.shape[1] * ch * depth + 7) // 8
        prev = bytes(stride)
        scan = b""
        for y in range(sub.shape[0]):
            rawrow = _pack_samples(sub[y].reshape(-1), depth)
            f = filters[y % len(filters)]
            scan += bytes([f]) + _fwd_filter(f, rawrow, prev, bpp)
            prev = rawrow
        return scan

    if interlace == 0:
        scan = encode_sub(samples)
    else:
        scan = b"".join(
            encode_sub(samples[y0::dy, x0::dx]) for x0, y0, dx, dy in _adam7_passes(w, h)
        )
    ihdr = (
        w.to_bytes(4, "big")
        + h.to_bytes(4, "big")
        + bytes([depth, ctype, 0, 0, interlace])
    )
    out = b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr)
    if plte is not None:
        out += _png_chunk(b"PLTE", plte)
    return out + _png_chunk(b"IDAT", zlib.compress(scan)) + _png_chunk(b"IEND", b"")


def test_png_16bit_reduces_via_high_byte():
    import numpy as np

    from copy_sharepoint_to_onelake_lakehousefiles_spark.multimodal.media import (
        _decode_png,
    )

    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, (7, 5, 3), dtype=np.uint8)
    # low byte deliberately non-zero — it must be DROPPED, not rounded
    s16 = (img.astype(np.int64) << 8) | rng.randint(0, 256, img.shape)
    for filters in ([0], [1, 2, 3, 4]):
        got = _decode_png(_build_png_ex(s16, 2, 16, filters))
        assert np.array_equal(got, img), f"filters {filters}"
    # 16-bit grayscale replicates channels
    g16 = (img[:, :, :1].astype(np.int64) << 8) | 0x5A
    got = _decode_png(_build_png_ex(g16, 0, 16, [4]))
    assert np.array_equal(got, np.repeat(img[:, :, :1], 3, axis=2))


def test_png_sub_byte_depths():
    import numpy as np

    from copy_sharepoint_to_onelake_lakehousefiles_spark.multimodal.media import (
        _decode_png,
    )

    rng = np.random.RandomState(5)
    # 1-bit gray → 0/255; width 11 forces row-padding bits
    bits = rng.randint(0, 2, (6, 11, 1))
    got = _decode_png(_build_png_ex(bits, 0, 1, [0]))
    assert np.array_equal(got, np.repeat((bits * 255).astype(np.uint8), 3, axis=2))
    # 2-bit gray → ×85
    g2 = rng.randint(0, 4, (5, 7, 1))
    got = _decode_png(_build_png_ex(g2, 0, 2, [0, 1]))
    assert np.array_equal(got, np.repeat((g2 * 85).astype(np.uint8), 3, axis=2))
    # 4-bit palette resolves through PLTE without rescaling the index
    pal = bytes(range(48))  # 16 RGB entries
    idx = rng.randint(0, 16, (4, 9, 1))
    got = _decode_png(_build_png_ex(idx, 3, 4, [0], plte=pal))
    expect = np.frombuffer(pal, np.uint8).reshape(16, 3)[idx[:, :, 0]]
    assert np.array_equal(got, expect)


def test_png_adam7_interlaced():
    import numpy as np

    from copy_sharepoint_to_onelake_lakehousefiles_spark.multimodal.media import (
        _decode_png,
    )

    rng = np.random.RandomState(9)
    # odd dims exercise every pass's ceil arithmetic
    for h, w in ((13, 11), (8, 8), (16, 9)):
        img = rng.randint(0, 256, (h, w, 3), dtype=np.uint8)
        got = _decode_png(_build_png_ex(img, 2, 8, [0, 1, 2, 3, 4], interlace=1))
        assert np.array_equal(got, img), (h, w)
    # tiny images leave some passes EMPTY (no scanlines at all)
    for h, w in ((1, 1), (2, 3), (4, 4)):
        img = rng.randint(0, 256, (h, w, 3), dtype=np.uint8)
        got = _decode_png(_build_png_ex(img, 2, 8, [2], interlace=1))
        assert np.array_equal(got, img), (h, w)


def test_png_adam7_16bit_gray_combined():
    import numpy as np

    from copy_sharepoint_to_onelake_lakehousefiles_spark.multimodal.media import (
        _decode_png,
    )

    rng = np.random.RandomState(13)
    img = rng.randint(0, 256, (10, 6, 1), dtype=np.uint8)
    s16 = (img.astype(np.int64) << 8) | 0x33
    got = _decode_png(_build_png_ex(s16, 0, 16, [1, 4], interlace=1))
    assert np.array_equal(got, np.repeat(img, 3, axis=2))


# ---------------------------------------------------------------- GIF codec


class _BitPacker:
    """LSB-first variable-width code packer (the GIF spec's packing order),
    written independently of the decoder's unpacker."""

    def __init__(self):
        self.acc = 0
        self.nbits = 0
        self.out = bytearray()

    def put(self, code, width):
        self.acc |= code << self.nbits
        self.nbits += width
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def done(self):
        if self.nbits:
            self.out.append(self.acc & 0xFF)
        return bytes(self.out)


def _gif_literal_encode(indices, min_code):
    """The classic 'uncompressed GIF' trick: emit every pixel as a literal
    code, inserting CLEAR before the table would grow past the width — a
    trivially-correct encoder (no dictionary), so the decoder's bit
    unpacking, clear handling, and width management are tested against an
    independent implementation."""
    clear = 1 << min_code
    end = clear + 1
    p = _BitPacker()
    width = min_code + 1
    p.put(clear, width)
    budget = (1 << width) - end - 1  # codes we may emit before width grows
    for v in indices:
        if budget == 0:
            p.put(clear, width)
            budget = (1 << width) - end - 1
        p.put(v, width)
        budget -= 1
    p.put(end, width)
    return p.done()


def _build_gif(img_idx, palette, min_code=None, interlace=False, local=False):
    import numpy as np

    h, w = img_idx.shape
    n = len(palette)
    size_field = max(1, (n - 1).bit_length() - 1)
    table = b"".join(bytes(c) for c in palette) + b"\x00\x00\x00" * (
        (2 << size_field) - n
    )
    mc = min_code if min_code is not None else max(2, (n - 1).bit_length())
    out = b"GIF89a" + w.to_bytes(2, "little") + h.to_bytes(2, "little")
    if local:
        out += bytes([0x00, 0, 0])  # no global table
    else:
        out += bytes([0x80 | size_field, 0, 0]) + table
    # a comment extension to exercise the skip path
    out += b"\x21\xfe\x05hello\x00"
    iflags = (0x40 if interlace else 0) | (0x80 | size_field if local else 0)
    out += (
        b"\x2c"
        + (0).to_bytes(2, "little") * 2
        + w.to_bytes(2, "little")
        + h.to_bytes(2, "little")
        + bytes([iflags])
    )
    if local:
        out += table
    rows = img_idx
    if interlace:
        order = (
            list(range(0, h, 8))
            + list(range(4, h, 8))
            + list(range(2, h, 4))
            + list(range(1, h, 2))
        )
        rows = np.stack([img_idx[r] for r in order])
    lzw = _gif_literal_encode([int(v) for v in rows.flatten()], mc)
    out += bytes([mc])
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    return out + b"\x00\x3b"


def test_gif_decode_literal_streams_and_variants():
    import numpy as np

    from copy_sharepoint_to_onelake_lakehousefiles_spark.multimodal.media import (
        _decode_gif,
        decode_image,
    )

    rng = np.random.RandomState(3)
    palette = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (7, 8, 9)]
    idx = rng.randint(0, 4, (11, 6))
    expect = np.array(palette, dtype=np.uint8)[idx]
    assert np.array_equal(_decode_gif(_build_gif(idx, palette)), expect)
    assert np.array_equal(decode_image(_build_gif(idx, palette)), expect)
    # local color table + interlaced rows
    got = _decode_gif(_build_gif(idx, palette, interlace=True, local=True))
    assert np.array_equal(got, expect)
    # a bigger palette forces wider codes and mid-stream clears
    pal16 = [(i * 16, 255 - i * 16, i) for i in range(16)]
    idx16 = rng.randint(0, 16, (9, 23))
    got = _decode_gif(_build_gif(idx16, pal16))
    assert np.array_equal(got, np.array(pal16, dtype=np.uint8)[idx16])


def test_gif_lzw_hand_built_cscsc_vector():
    """Hand-packed LZW stream exercising REAL dictionary growth and the
    code==next_code (cScSc) special case: min code 2, pixels '0 0 0' encode
    as [CLEAR, 0, 6] where 6 is the entry being defined."""
    import numpy as np

    from copy_sharepoint_to_onelake_lakehousefiles_spark.multimodal.media import (
        _decode_gif,
        _gif_lzw_decode,
    )

    p = _BitPacker()
    for code in (4, 0, 6, 5):  # clear, 0, cScSc, end
        p.put(code, 3)
    data = p.done()
    assert _gif_lzw_decode(data, 2, 3) == [0, 0, 0]
    # and through a full GIF container
    palette = [(1, 2, 3), (4, 5, 6), (7, 8, 9), (10, 11, 12)]
    out = (
        b"GIF89a" + (3).to_bytes(2, "little") + (1).to_bytes(2, "little")
        + bytes([0x81, 0, 0])
        + b"".join(bytes(c) for c in palette)
        + b"\x2c" + b"\x00" * 4 + (3).to_bytes(2, "little") + (1).to_bytes(2, "little")
        + b"\x00" + bytes([2]) + bytes([len(data)]) + data + b"\x00\x3b"
    )
    got = _decode_gif(out)
    assert np.array_equal(got, np.array([[(1, 2, 3)] * 3], dtype=np.uint8))


def test_gif_rejects_non_gif():
    import pytest as _pytest

    from copy_sharepoint_to_onelake_lakehousefiles_spark.multimodal.media import (
        _decode_gif,
    )

    with _pytest.raises(NotImplementedError, match="not a GIF"):
        _decode_gif(b"NOPE")


def test_probe_webp_and_tiff_headers():
    import struct as _s

    from copy_sharepoint_to_onelake_lakehousefiles_spark.multimodal.media import (
        probe_metadata,
    )

    # VP8X extended: 24-bit minus-one dims
    vp8x = (
        b"RIFF" + (22).to_bytes(4, "little") + b"WEBP" + b"VP8X"
        + (10).to_bytes(4, "little") + bytes(4)
        + (639).to_bytes(3, "little") + (479).to_bytes(3, "little")
    )
    assert probe_metadata(vp8x) == ("image/webp", 640, 480, None)
    # VP8L lossless: 14-bit packed dims after the 0x2F signature
    bits = (99) | (49 << 14)  # width-1=99, height-1=49
    vp8l = (
        b"RIFF" + (13).to_bytes(4, "little") + b"WEBP" + b"VP8L"
        + (5).to_bytes(4, "little") + bytes([0x2F]) + bits.to_bytes(4, "little")
    )
    assert probe_metadata(vp8l) == ("image/webp", 100, 50, None)
    # VP8 lossy: dims at fixed offsets in the frame header
    vp8 = (
        b"RIFF" + (20).to_bytes(4, "little") + b"WEBP" + b"VP8 "
        + (12).to_bytes(4, "little") + bytes(6)
        + (320).to_bytes(2, "little") + (200).to_bytes(2, "little") + bytes(2)
    )
    assert probe_metadata(vp8) == ("image/webp", 320, 200, None)
    # TIFF little-endian with SHORT dims
    ifd = _s.pack("<H", 2)
    ifd += _s.pack("<HHI", 256, 3, 1) + _s.pack("<I", 800)
    ifd += _s.pack("<HHI", 257, 4, 1) + _s.pack("<I", 600)
    tif = b"II*\x00" + _s.pack("<I", 8) + ifd + _s.pack("<I", 0)
    assert probe_metadata(tif) == ("image/tiff", 800, 600, None)
    # TIFF big-endian: SHORT values are LEFT-justified in the 4-byte field
    ifd = _s.pack(">H", 2)
    ifd += _s.pack(">HHI", 256, 3, 1) + _s.pack(">HH", 12, 0)
    ifd += _s.pack(">HHI", 257, 3, 1) + _s.pack(">HH", 34, 0)
    tif_be = b"MM\x00*" + _s.pack(">I", 8) + ifd + _s.pack(">I", 0)
    assert probe_metadata(tif_be) == ("image/tiff", 12, 34, None)


def test_encode_gif_roundtrips_through_the_decoder():
    import numpy as np

    from copy_sharepoint_to_onelake_lakehousefiles_spark.multimodal.media import (
        decode_image,
        encode_gif,
    )

    rng = np.random.RandomState(13)
    # 17 distinct colors → 5-bit palette, wide-code literal stream
    palette = rng.randint(0, 256, (17, 3), dtype=np.uint8)
    idx = rng.randint(0, 17, (14, 9))
    img = palette[idx]
    got = decode_image(encode_gif(img))
    assert np.array_equal(got, img)
    import pytest as _pytest

    with _pytest.raises(NotImplementedError, match="palette"):
        encode_gif(rng.randint(0, 256, (40, 40, 3), dtype=np.uint8))


# ------------------------------------------------------------ animated GIF


def test_gif_animation_roundtrip_and_sampling():
    import numpy as np

    from copy_sharepoint_to_onelake_lakehousefiles_spark.multimodal.media import (
        decode_gif_frames,
        encode_gif_animation,
    )

    frames = []
    for i in range(5):
        f = np.full((6, 9, 3), (40 * i, 20, 250 - 40 * i), np.uint8)
        f[1:4, i : i + 3] = (255, 255, 0)
        frames.append(f)
    payload = encode_gif_animation(frames, [7, 14, 21, 28, 35])
    dec, delays = decode_gif_frames(payload)
    assert delays == [7, 14, 21, 28, 35]
    assert len(dec) == 5
    assert all(np.array_equal(a, b) for a, b in zip(frames, dec))
    # sampling k of these frames is sample_video_frames' job, checked by
    # test_q157_video_pipeline


def test_gif_disposal_methods_and_transparency_hand_built():
    """Hand-assembled GIF89a: disposal 1 (keep), disposal 3 (restore to
    previous), and a transparency index — composition checked frame by
    frame against the spec's semantics."""
    import numpy as np

    from copy_sharepoint_to_onelake_lakehousefiles_spark.multimodal.media import (
        _gif_literal_lzw,
        _gif_sub_blocks,
        decode_gif_frames,
        probe_metadata,
    )

    pal = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 0, 0, 0])  # R G B K
    blob = (
        b"GIF89a"
        + (4).to_bytes(2, "little") + (4).to_bytes(2, "little")
        + bytes([0x80 | 0x01, 3, 0])  # 4-color global table, bg index 3
        + pal
    )

    def gce(disposal, delay, tindex=None):
        packed = (disposal << 2) | (1 if tindex is not None else 0)
        return (
            b"\x21\xf9\x04"
            + bytes([packed])
            + delay.to_bytes(2, "little")
            + bytes([tindex if tindex is not None else 0])
            + b"\x00"
        )

    def img(left, top, w, h, values):
        return (
            b"\x2c"
            + left.to_bytes(2, "little") + top.to_bytes(2, "little")
            + w.to_bytes(2, "little") + h.to_bytes(2, "little")
            + b"\x00" + bytes([2])
            + _gif_sub_blocks(_gif_literal_lzw(values, 2))
        )

    blob += gce(1, 10) + img(0, 0, 4, 4, [0] * 16)          # all red, keep
    blob += gce(3, 20) + img(1, 1, 2, 2, [1] * 4)           # green patch, restore-prev
    blob += gce(0, 30, tindex=3) + img(2, 2, 2, 1, [2, 3])  # blue + transparent
    blob += b"\x3b"

    frames, delays = decode_gif_frames(bytes(blob))
    assert delays == [10, 20, 30]
    R, G, B = (255, 0, 0), (0, 255, 0), (0, 0, 255)
    f1, f2, f3 = frames
    assert (f1 == R).all()
    expect2 = np.full((4, 4, 3), R, np.uint8)
    expect2[1:3, 1:3] = G
    assert np.array_equal(f2, expect2)
    # disposal 3 restored the all-red canvas before frame 3; the
    # transparent pixel at (2,3) keeps red, (2,2) turns blue
    expect3 = np.full((4, 4, 3), R, np.uint8)
    expect3[2, 2] = B
    assert np.array_equal(f3, expect3)
    # header-cost probe: 3 frames → duration = (10+20+30) cs = 600 ms
    assert probe_metadata(bytes(blob)) == ("image/gif", 4, 4, 600)


def test_gif_disposal_background_restore():
    import numpy as np

    from copy_sharepoint_to_onelake_lakehousefiles_spark.multimodal.media import (
        _gif_literal_lzw,
        _gif_sub_blocks,
        decode_gif_frames,
    )

    pal = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255, 10, 20, 30])
    blob = (
        b"GIF89a"
        + (3).to_bytes(2, "little") + (3).to_bytes(2, "little")
        + bytes([0x80 | 0x01, 3, 0])  # bg index 3 = (10,20,30)
        + pal
    )
    blob += (
        b"\x21\xf9\x04" + bytes([2 << 2]) + (5).to_bytes(2, "little") + b"\x00\x00"
    )  # disposal 2: restore region to background
    blob += (
        b"\x2c" + b"\x00\x00\x00\x00"
        + (3).to_bytes(2, "little") + (3).to_bytes(2, "little")
        + b"\x00" + bytes([2]) + _gif_sub_blocks(_gif_literal_lzw([0] * 9, 2))
    )
    blob += (
        b"\x21\xf9\x04\x00" + (5).to_bytes(2, "little") + b"\x00\x00"
        + b"\x2c" + (1).to_bytes(2, "little") + (1).to_bytes(2, "little")
        + (1).to_bytes(2, "little") + (1).to_bytes(2, "little")
        + b"\x00" + bytes([2]) + _gif_sub_blocks(_gif_literal_lzw([1], 2))
    )
    blob += b"\x3b"
    frames, _ = decode_gif_frames(bytes(blob))
    assert (frames[0] == (255, 0, 0)).all()
    # after disposal 2 the whole painted region resets to bg color
    expect = np.full((3, 3, 3), (10, 20, 30), np.uint8)
    expect[1, 1] = (0, 255, 0)
    assert np.array_equal(frames[1], expect)


def test_q157_video_pipeline(spark, sf_dir):
    from copy_sharepoint_to_onelake_lakehousefiles_spark.multimodal.media import (
        q157_video_frame_sampling,
    )

    rows = q157_video_frame_sampling(spark, sf_dir).collect()
    assert len(rows) == 3
    gifs = [r for r in rows if r["mime"] == "image/gif"]
    others = [r for r in rows if r["mime"] != "image/gif"]
    assert len(gifs) == 2 and len(others) == 1
    assert others[0]["decoded"] == 0 and others[0]["duration_ms"] is None
    for r in gifs:
        assert r["decoded"] == 1
        assert r["duration_ms"] == r["probed_ms"]  # decode and probe agree
        assert r["n_sampled"] == min(4, r["n_frames"])


# --- G.711 + IMA ADPCM audio codecs (r5) -------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

from copy_sharepoint_to_onelake_lakehousefiles_spark.multimodal.media import (
    WAVE_ALAW,
    WAVE_IMA_ADPCM,
    WAVE_MULAW,
    alaw_decode,
    alaw_encode,
    encode_wav,
    ima_adpcm_decode,
    ima_adpcm_encode,
    mulaw_decode,
    mulaw_encode,
)


def test_g711_canonical_code_roundtrip():
    """encode(decode(byte)) == byte for every code word — A-law exactly;
    µ-law for 255/256 (0x7F and 0xFF are the format's two zero codes)."""
    codes = np.arange(256, dtype=np.uint8)
    assert (alaw_encode(alaw_decode(codes)) == codes).all()
    mu = mulaw_encode(mulaw_decode(codes))
    assert (mu == codes).sum() == 255
    assert mulaw_decode(np.array([0x7F], np.uint8))[0] == 0  # the dual zero


@settings(max_examples=30, deadline=None)
@given(st.lists(st.integers(-32635, 32635), min_size=1, max_size=512))
def test_g711_quantization_error_bounds(vals):
    """Top-segment step is 1024 for both laws → max |error| <= 512."""
    pcm = np.asarray(vals, dtype=np.int16)
    assert np.abs(mulaw_decode(mulaw_encode(pcm)).astype(int) - pcm).max() <= 512
    assert np.abs(alaw_decode(alaw_encode(pcm)).astype(int) - pcm).max() <= 512


def test_ima_adpcm_roundtrip_snr_and_fact_truncation():
    t = np.arange(3000) / 8000.0
    sine = (0.5 * np.sin(2 * np.pi * 440 * t) * 32767).astype(np.int16)
    enc = ima_adpcm_encode(sine, 256)
    dec = ima_adpcm_decode(enc, 256, 1)
    m = min(len(dec), len(sine))
    snr = 10 * np.log10(
        np.mean(sine[:m].astype(float) ** 2)
        / np.mean((sine[:m] - dec[:m]) ** 2)
    )
    assert snr > 20  # IMA ADPCM on a half-scale sine decodes cleanly
    # fact chunk truncates the zero-padded final block to the true length
    wav = encode_wav(enc, WAVE_IMA_ADPCM, 1, 8000, 4, 256, n_frames=len(sine))
    samples, rate = decode_audio(wav)
    assert rate == 8000 and len(samples) == len(sine)


def test_g711_wav_container_decode():
    t = np.arange(2000) / 8000.0
    sine = (0.5 * np.sin(2 * np.pi * 330 * t) * 32767).astype(np.int16)
    for law, tag in ((mulaw_encode, WAVE_MULAW), (alaw_encode, WAVE_ALAW)):
        wav = encode_wav(law(sine).tobytes(), tag, 1, 8000, 8, 1)
        samples, rate = decode_audio(wav)
        assert rate == 8000 and len(samples) == len(sine)
        rms = float(np.sqrt(np.mean(samples**2)))
        assert abs(rms - 0.5 / np.sqrt(2)) < 0.01


def test_extract_features_surfaces_decode_status(spark, tmp_path):
    """A corrupted payload must surface the REASON in decode_status, not a
    silent stub; decodable payloads report 'ok' (VERDICT r4 #8)."""
    root = tmp_path / "aud"
    root.mkdir()
    t = np.arange(1000) / 8000.0
    sine = (0.4 * np.sin(2 * np.pi * 500 * t) * 32767).astype(np.int16)
    good = encode_wav(mulaw_encode(sine).tobytes(), WAVE_MULAW, 1, 8000, 8, 1)
    (root / "good.wav").write_bytes(good)
    # RIFF/WAVE header with a truncated fmt chunk → ValueError, not stub-silence
    (root / "corrupt.wav").write_bytes(b"RIFF\x10\x00\x00\x00WAVEfmt \x02\x00\x00\x00\x01\x00")
    (root / "mystery.bin").write_bytes(b"\x00" * 64)
    media = M.read_media_dir(spark, str(root), kind="audio")
    rows = {r["n_bytes"]: r for r in M.extract_features(media).collect()}
    assert rows[len(good)]["decode_status"] == "ok"
    statuses = {r["decode_status"] for n, r in rows.items() if n != len(good)}
    assert all(s.startswith("stub:") for s in statuses)
    assert any("ValueError" in s or "NotImplementedError" in s for s in statuses)


# --- uncompressed baseline TIFF (r5) -----------------------------------------

from copy_sharepoint_to_onelake_lakehousefiles_spark.multimodal.media import (
    decode_tiff,
    encode_tiff,
)


def test_tiff_roundtrip_both_byte_orders():
    img = np.fromfunction(
        lambda y, x, c: (x * 5 + y * 7 + c * 30) % 256, (13, 17, 3)
    ).astype(np.uint8)
    for bo in ("little", "big"):
        b = encode_tiff(img, bo)
        assert (decode_tiff(b) == img).all()
        assert (decode_image(b) == img).all()  # dispatched via magic


def test_tiff_gray_and_whiteiszero_paths():
    """Hand-built gray TIFF: single sample expands to 3 channels;
    PhotometricInterpretation 0 (WhiteIsZero) inverts."""
    import struct as _st

    def gray_tiff(photo: int) -> bytes:
        w, h = 4, 2
        pixels = bytes(range(w * h))
        bo = "little"
        hdr = b"II*\x00" + (8).to_bytes(4, bo)
        tags = [
            (256, 4, 1, w), (257, 4, 1, h), (258, 3, 1, 8), (259, 3, 1, 1),
            (262, 3, 1, photo), (273, 4, 1, None), (277, 3, 1, 1),
            (278, 4, 1, h), (279, 4, 1, len(pixels)),
        ]
        ifd_len = 2 + 12 * len(tags) + 4
        strip_off = 8 + ifd_len
        body = bytearray(len(tags).to_bytes(2, bo))
        for tag, typ, cnt, val in tags:
            body += tag.to_bytes(2, bo) + typ.to_bytes(2, bo) + cnt.to_bytes(4, bo)
            if tag == 273:
                body += strip_off.to_bytes(4, bo)
            elif typ == 3:
                body += val.to_bytes(2, bo) + b"\x00\x00"
            else:
                body += val.to_bytes(4, bo)
        body += (0).to_bytes(4, bo)
        return hdr + bytes(body) + pixels

    img1 = decode_tiff(gray_tiff(photo=1))
    assert img1.shape == (2, 4, 3)
    assert (img1[:, :, 0] == img1[:, :, 1]).all()
    assert img1[0, 0, 0] == 0 and img1[1, 3, 0] == 7
    img0 = decode_tiff(gray_tiff(photo=0))
    assert img0[0, 0, 0] == 255 and img0[1, 3, 0] == 248  # inverted


def test_tiff_refusals_are_loud():
    import pytest as _pytest

    img = np.zeros((2, 2, 3), np.uint8)
    b = bytearray(encode_tiff(img))
    # flip Compression (tag 259) to an unsupported codec: must refuse, not stub
    # silently at this layer (extract_features turns it into a stub row
    # WITH a decode_status reason). 3 = CCITT Group 3 fax, unimplemented
    # (7=JPEG, 8/32946=deflate, 32773=PackBits all became real in r6).
    idx = b.find((259).to_bytes(2, "little"), 8)
    b[idx + 8 : idx + 10] = (3).to_bytes(2, "little")
    with _pytest.raises(NotImplementedError, match="compression"):
        decode_tiff(bytes(b))
    # compression 7 whose strips are NOT JPEG streams: loud ValueError
    # (in DECODE_ERRORS → stub row with a reason, never a wrong image)
    b[idx + 8 : idx + 10] = (7).to_bytes(2, "little")
    with _pytest.raises(ValueError, match="SOI"):
        decode_tiff(bytes(b))


def test_tiff_lzw_and_predictor_roundtrip():
    """r5: TIFF-LZW (MSB-first, early-change) with and without the
    horizontal-differencing predictor round-trips bit-exactly, and the
    predictor+LZW pairing actually compresses smooth gradients."""
    from copy_sharepoint_to_onelake_lakehousefiles_spark.multimodal.media import (
        _tiff_lzw_decode,
        _tiff_lzw_encode,
    )

    # raw codec round trip incl. the KwKwK case and table growth
    for payload in (b"", b"A", b"ABABABABABAB", bytes(range(256)) * 5,
                    b"\x00" * 5000):
        assert _tiff_lzw_decode(_tiff_lzw_encode(payload)) == payload

    grad = np.fromfunction(
        lambda y, x, c: (x + 2 * y + 10 * c) % 256, (24, 40, 3)
    ).astype(np.uint8)
    for pred in (1, 2):
        b = encode_tiff(grad, compression=5, predictor=pred)
        assert (decode_tiff(b) == grad).all(), f"predictor {pred}"
    # predictor turns the gradient into near-constant deltas → smaller
    assert len(encode_tiff(grad, compression=5, predictor=2)) < len(
        encode_tiff(grad, compression=5, predictor=1)
    )
    assert len(encode_tiff(grad, compression=5, predictor=2)) < len(
        encode_tiff(grad, compression=1)
    )


@settings(max_examples=40, deadline=None)
@given(st.binary(min_size=0, max_size=2000))
def test_tiff_lzw_roundtrip_property(payload):
    """Hypothesis: TIFF-LZW round-trips ANY byte string (width bumps, the
    KwKwK case, and table-clear cycles all reachable from random input)."""
    from copy_sharepoint_to_onelake_lakehousefiles_spark.multimodal.media import (
        _tiff_lzw_decode,
        _tiff_lzw_encode,
    )

    assert _tiff_lzw_decode(_tiff_lzw_encode(payload)) == payload


def test_tiff_lzw_corrupt_stream_raises_value_error_not_keyerror():
    """ADVICE r5 (medium): a stream whose FIRST code is neither CLEAR nor a
    table entry used to raise KeyError (not in DECODE_ERRORS), failing the
    whole Spark task instead of degrading to a stub row. Both the
    prev-is-None and the mid-stream unknown-code paths must raise
    ValueError."""
    import pytest as _pytest

    from copy_sharepoint_to_onelake_lakehousefiles_spark.multimodal.media import (
        DECODE_ERRORS,
        _tiff_lzw_decode,
    )

    # first 9 bits = 300 (> 257, table still empty before any CLEAR)
    with _pytest.raises(ValueError, match="corrupt TIFF LZW"):
        _tiff_lzw_decode(bytes([0x96, 0x00]))
    assert ValueError in DECODE_ERRORS


@settings(max_examples=60, deadline=None)
@given(st.binary(min_size=1, max_size=300), st.data())
def test_tiff_lzw_tampered_stream_never_escapes_decode_errors(payload, data):
    """Hypothesis: flipping any byte of a valid LZW stream either still
    decodes or raises a DECODE_ERRORS member — never KeyError/IndexError
    (the corrupt-blob-degrades-to-stub contract of extract_features)."""
    from copy_sharepoint_to_onelake_lakehousefiles_spark.multimodal.media import (
        DECODE_ERRORS,
        _tiff_lzw_decode,
        _tiff_lzw_encode,
    )

    enc = bytearray(_tiff_lzw_encode(payload))
    pos = data.draw(st.integers(0, len(enc) - 1))
    val = data.draw(st.integers(0, 255))
    enc[pos] = val
    try:
        _tiff_lzw_decode(bytes(enc))
    except DECODE_ERRORS:
        pass


def test_tiff_jpeg_compression7_roundtrip():
    """r6: NEW-STYLE TIFF-JPEG (compression 7, Tech Note 2) — the writer
    embeds one baseline-JPEG strip, the reader decodes it through the
    from-scratch T.81 decoder; error is bounded by the quant step (the
    same bound the plain JPEG tests pin). Predictor+JPEG is rejected."""
    import pytest as _pytest

    grad = np.fromfunction(
        lambda y, x, c: (x + 2 * y + 10 * c) % 256, (24, 40, 3)
    ).astype(np.uint8)
    b = encode_tiff(grad, compression=7)
    out = decode_tiff(b)
    assert out.shape == grad.shape
    assert float(np.abs(out.astype(int) - grad.astype(int)).mean()) < 4.0
    with _pytest.raises(ValueError, match="predictor"):
        encode_tiff(grad, compression=7, predictor=2)
    # big-endian container around the (endianness-free) JPEG codestream
    out_be = decode_tiff(encode_tiff(grad, byte_order="big", compression=7))
    assert (out_be == out).all()


def _split_jpeg_tables(stream: bytes) -> tuple[bytes, bytes]:
    """Factor a JPEG interchange stream into (JPEGTables payload,
    abbreviated stream): DQT/DHT segments move to the tables stream
    (SOI + segments + EOI), everything else stays."""
    assert stream[:2] == b"\xff\xd8"
    pos = 2
    tables = bytearray(b"\xff\xd8")
    rest = bytearray(b"\xff\xd8")
    while pos < len(stream):
        assert stream[pos] == 0xFF
        marker = stream[pos + 1]
        if marker == 0xD9:
            rest += stream[pos:]
            break
        ln = int.from_bytes(stream[pos + 2 : pos + 4], "big")
        seg = stream[pos : pos + 2 + ln]
        if marker in (0xDB, 0xC4):  # DQT / DHT
            tables += seg
        else:
            rest += seg
        pos += 2 + ln
        if marker == 0xDA:  # entropy data follows until EOI
            end = stream.rfind(b"\xff\xd9")
            rest += stream[pos:end]
            rest += b"\xff\xd9"
            break
    tables += b"\xff\xd9"
    return bytes(tables), bytes(rest)


def test_tiff_jpeg_multistrip_with_jpegtables():
    """Foreign-written shape: TWO JPEG strips sharing DQT/DHT through the
    JPEGTables tag (347) — the reader must splice the tables into each
    abbreviated strip and stack the strips vertically."""
    from copy_sharepoint_to_onelake_lakehousefiles_spark.multimodal.jpeg import (
        encode_jpeg,
    )

    rows_per_strip = 16
    img = np.fromfunction(
        lambda y, x, c: (3 * x + y + 20 * c) % 256, (32, 24, 3)
    ).astype(np.uint8)
    strips_raw = [img[:rows_per_strip], img[rows_per_strip:]]
    tables = None
    strips = []
    for s in strips_raw:
        t, abbreviated = _split_jpeg_tables(encode_jpeg(s))
        tables = tables or t  # same tables in both (same encoder settings)
        strips.append(abbreviated)
    bo = "little"
    h, w = img.shape[:2]
    tags = [
        (256, 4, 1, w), (257, 4, 1, h), (258, 3, 3, None),
        (259, 3, 1, 7), (262, 3, 1, 6),
        (273, 4, 2, None),  # StripOffsets x2 via offset area
        (277, 3, 1, 3), (278, 4, 1, rows_per_strip),
        (279, 4, 2, None),  # StripByteCounts x2 via offset area
        (347, 7, len(tables), None),  # JPEGTables
    ]
    hdr = b"II*\x00" + (8).to_bytes(4, bo)
    ifd_len = 2 + 12 * len(tags) + 4
    extra = 8 + ifd_len
    bps_off = extra
    so_off = bps_off + 6
    sc_off = so_off + 8
    jt_off = sc_off + 8
    data_off = jt_off + len(tables)
    offs = [data_off, data_off + len(strips[0])]
    body = bytearray()
    body += len(tags).to_bytes(2, bo)
    for tag, typ, cnt, _v in tags:
        body += tag.to_bytes(2, bo) + typ.to_bytes(2, bo) + cnt.to_bytes(4, bo)
        if tag == 258:
            body += bps_off.to_bytes(4, bo)
        elif tag == 273:
            body += so_off.to_bytes(4, bo)
        elif tag == 279:
            body += sc_off.to_bytes(4, bo)
        elif tag == 347:
            body += jt_off.to_bytes(4, bo)
        elif typ == 3:
            body += _v.to_bytes(2, bo) + b"\x00\x00"
        else:
            body += _v.to_bytes(4, bo)
    body += (0).to_bytes(4, bo)
    body += (8).to_bytes(2, bo) * 3
    body += offs[0].to_bytes(4, bo) + offs[1].to_bytes(4, bo)
    body += len(strips[0]).to_bytes(4, bo) + len(strips[1]).to_bytes(4, bo)
    body += tables
    blob = hdr + bytes(body) + strips[0] + strips[1]
    out = decode_tiff(blob)
    assert out.shape == img.shape
    assert float(np.abs(out.astype(int) - img.astype(int)).mean()) < 4.0
    # strip boundary is seamless: bottom half decodes the second strip
    assert (
        np.abs(out[16:].astype(int) - img[16:].astype(int)).mean() < 4.0
    )


def test_tiff_deflate_and_packbits_roundtrip():
    """r6: Deflate (8 + legacy 32946) and PackBits (32773) TIFF strips
    round-trip BIT-EXACTLY (lossless codecs), composing with the
    horizontal predictor where libtiff pairs it."""
    grad = np.fromfunction(
        lambda y, x, c: (x + 2 * y + 10 * c) % 256, (24, 40, 3)
    ).astype(np.uint8)
    for comp in (8, 32946, 32773):
        for pred in (1, 2):
            b = encode_tiff(grad, compression=comp, predictor=pred)
            assert (decode_tiff(b) == grad).all(), f"comp {comp} pred {pred}"
    # deflate+predictor actually compresses the smooth gradient
    assert len(encode_tiff(grad, compression=8, predictor=2)) < len(
        encode_tiff(grad, compression=1)
    )


def test_packbits_pure_codec():
    from copy_sharepoint_to_onelake_lakehousefiles_spark.multimodal.media import (
        _packbits_decode,
        _packbits_encode,
    )

    import pytest as _pytest

    for payload in (b"", b"A", b"AAAA", b"ABCD", b"AAABBBCD" * 50,
                    bytes(range(256)), b"\x00" * 1000):
        assert _packbits_decode(_packbits_encode(payload)) == payload
    assert _packbits_decode(b"\x80") == b""  # -128 control = no-op
    with _pytest.raises(ValueError, match="PackBits"):
        _packbits_decode(b"\x05AB")  # literal overrun
    with _pytest.raises(ValueError, match="PackBits"):
        _packbits_decode(b"\xfe")  # run with no byte


@settings(max_examples=60, deadline=None)
@given(st.binary(min_size=0, max_size=1500))
def test_packbits_roundtrip_property(payload):
    from copy_sharepoint_to_onelake_lakehousefiles_spark.multimodal.media import (
        _packbits_decode,
        _packbits_encode,
    )

    assert _packbits_decode(_packbits_encode(payload)) == payload
