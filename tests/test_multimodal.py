"""Multimodal-column tests — SURVEY §2 D7 north-star.

Binary payloads + typed metadata structs, Arrow-batched decode plumbing
(deterministic fake decoder), the explicitly-marked real-decoder stub, and
frame-sampling index arithmetic.
"""

from __future__ import annotations

import functools
import hashlib

import pytest

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pandas_db_sdk_spark import multimodal


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [(1, "hello world"), (2, "x" * 100), (3, "")], "doc_id long, text string"
    )


def test_payload_and_metadata(spark, docs):
    out = multimodal.attach_binary_payload(docs)
    assert dict(out.dtypes)["payload"] == "binary"
    rows = {r.doc_id: r for r in out.collect()}
    m = rows[1].media_meta
    assert m.modality == "text/plain"
    assert m.n_bytes == len(b"hello world")
    assert m.sha256 == hashlib.sha256(b"hello world").hexdigest()


def test_payload_survives_parquet_roundtrip(spark, docs, tmp_path):
    """BinaryType + metadata struct must round-trip parquet unchanged —
    the storage contract for media columns."""
    out = multimodal.attach_binary_payload(docs)
    p = str(tmp_path / "media")
    out.write.parquet(p)
    back = spark.read.parquet(p)
    a = {r.doc_id: (bytes(r.payload), r.media_meta.sha256) for r in out.collect()}
    b = {r.doc_id: (bytes(r.payload), r.media_meta.sha256) for r in back.collect()}
    assert a == b


def test_media_column_pruned_when_untouched(spark, docs, tmp_path):
    """Queries that don't reference the payload must not read it from
    parquet — the property that makes heavy media columns viable at 100 TB."""
    p = str(tmp_path / "media2")
    multimodal.attach_binary_payload(docs).write.parquet(p)
    df = spark.read.parquet(p).select("doc_id", F.col("media_meta.n_bytes"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    schema = plan.split("ReadSchema: ", 1)[1].split("\n", 1)[0]
    assert "payload" not in schema


def test_parse_media_headers_golden_and_corrupt(spark):
    """Golden-byte round trip for the codec-free header parser: a
    hand-packed PNG IHDR and WAV fmt parse to their exact fields; a
    corrupted signature and a CRC-broken IHDR degrade to 'unknown'."""
    import struct
    import zlib

    from pandas_db_sdk_spark import multimodal as mm

    ihdr = b"IHDR" + struct.pack(">IIBBBBB", 640, 480, 8, 2, 0, 0, 0)
    png = (
        b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + ihdr
        + struct.pack(">I", zlib.crc32(ihdr) & 0xFFFFFFFF)
    )
    bad_crc = png[:-4] + b"\x00\x00\x00\x00"
    fmt = struct.pack("<HHIIHH", 1, 2, 44100, 44100 * 4, 4, 16)
    wav = (
        b"RIFF" + struct.pack("<I", 36 + 8) + b"WAVEfmt " + struct.pack("<I", 16)
        + fmt + b"data" + struct.pack("<I", 44100 * 4) + b""
    )
    rows = [(1, bytearray(png)), (2, bytearray(wav)), (3, bytearray(b"junk")), (4, bytearray(bad_crc)), (5, None)]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r.doc_id: r for r in mm.parse_media_headers(df).collect()}
    assert (got[1].format, got[1].width, got[1].height, got[1].bit_depth) == ("png", 640, 480, 8)
    assert (got[2].format, got[2].sample_rate, got[2].n_channels) == ("wav", 44100, 2)
    assert got[2].duration_s == 1.0  # 44100*4 bytes / (44100 Hz * 2 ch * 2 B)
    assert got[3].format == "unknown" and got[3].width is None
    assert got[4].format == "unknown"
    assert got[5].format == "unknown" and got[5].width is None  # null payload


def test_bmp_ppm_decode_roundtrip_exact(spark):
    """synth_bmp_ppm → decode_bmp_ppm_stats recovers the EXACT arithmetic
    pixel grid: stats equal a direct numpy replay of the generator
    formula, including the position-weighted checksum that catches row
    flips, BGR swaps and padding mistakes. Widths 5–12 guarantee most BMP
    rows are not 4-byte aligned, so the padding path is really hit."""
    import numpy as np

    ids = spark.createDataFrame([(i,) for i in range(20)], "doc_id long")
    files = multimodal.synth_bmp_ppm(ids, "doc_id")
    got = {
        (r.doc_id, r.channel): r
        for r in multimodal.decode_bmp_ppm_stats(files, "payload", "doc_id").collect()
    }
    assert len(got) == 60
    padded = 0
    for i in range(20):
        w, h = 5 + i % 8, 4 + (3 * i) % 8
        padded += (w * 3) % 4 != 0
        y, x, c = np.meshgrid(
            np.arange(h), np.arange(w), np.arange(3), indexing="ij"
        )
        px = (7 * i + 3 * x + 5 * y + 11 * c) % 256
        wgt = (x[:, :, 0] + 1) * (y[:, :, 0] + 2)
        for ch in range(3):
            r = got[(i, ch)]
            v = px[:, :, ch]
            assert (r.format, r.width, r.height) == (
                "bmp" if i % 2 == 0 else "ppm", w, h,
            )
            assert r.min == v.min() and r.max == v.max()
            assert r.mean == round(v.sum() / v.size, 6)
            assert r.pos_sum == int((v * wgt).sum())
    assert padded >= 10  # the padding branch is exercised, not dodged


def test_bmp_ppm_decode_skips_unparseable(spark):
    """Garbage, unsupported-bpp BMPs and non-255-maxval PPMs are skipped
    (no executor error), matching parse_media_headers' degrade contract."""
    rows = [
        (1, bytearray(b"not an image at all")),
        (2, bytearray(b"P6\n2 2\n127\n" + b"\x00" * 12)),  # maxval != 255
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    assert multimodal.decode_bmp_ppm_stats(df, "payload", "doc_id").count() == 0


def test_bmp_ppm_decode_skips_malformed_but_magic_matching(spark):
    """ADVICE r8: inputs that pass the magic check but are structurally
    broken — truncated PPM header (<3 fields), short pixel payloads,
    top-down (negative-height) BMP — must degrade to skip like any other
    unparseable payload, not raise in unpack/reshape."""
    import struct

    # a structurally plausible but truncated/short set of payloads
    trunc_ppm = b"P6\n2 2\n"                      # header ends before maxval
    short_ppm = b"P6\n4 4\n255\n" + b"\x00" * 10  # needs 48 pixel bytes
    info_neg = struct.pack("<IiiHHIIiiII", 40, 2, -2, 1, 24, 0, 0, 0, 0, 0, 0)
    neg_bmp = struct.pack("<2sIHHI", b"BM", 54 + 24, 0, 0, 54) + info_neg + b"\x00" * 24
    short_bmp = struct.pack("<2sIHHI", b"BM", 54 + 64, 0, 0, 54) + struct.pack(
        "<IiiHHIIiiII", 40, 4, 4, 1, 24, 0, 64, 0, 0, 0, 0
    ) + b"\x00" * 10  # needs 64 pixel bytes
    trunc_bmp = b"BM\x00\x00"                     # shorter than the headers
    rows = [
        (1, bytearray(trunc_ppm)),
        (2, bytearray(short_ppm)),
        (3, bytearray(neg_bmp)),
        (4, bytearray(short_bmp)),
        (5, bytearray(trunc_bmp)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    assert multimodal.decode_bmp_ppm_stats(df, "payload", "doc_id").count() == 0


def test_png_decode_roundtrip_exact(spark):
    """synth_png → decode_png_stats recovers the EXACT arithmetic pixel
    stats: chunk CRCs verify, multi-IDAT streams concatenate, and all
    five PNG filter types unfilter correctly (filter = (id+y)%5 with
    h >= 5 guarantees each image exercises every type)."""
    import numpy as np

    ids = list(range(24))  # covers all (w, h) combos and both IDAT splits
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    files = multimodal.synth_png(df, "doc_id")
    rows = multimodal.decode_png_stats(files, "payload", "doc_id").collect()
    assert len(rows) == len(ids) * 3
    got = {(r.doc_id, r.channel): r for r in rows}
    for i in ids:
        w, h = 6 + i % 7, 5 + (2 * i) % 7
        y, x = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
        wgt = (x + 1) * (y + 2)
        for ch in range(3):
            v = (7 * i + 3 * x + 5 * y + 11 * ch) % 256
            r = got[(i, ch)]
            assert (r.width, r.height, r.format) == (w, h, "png")
            assert r.min == v.min() and r.max == v.max()
            assert r.mean == round(v.sum() / v.size, 6)
            assert r.pos_sum == int((v * wgt).sum())


def test_png_decode_skips_corrupt_and_out_of_scope(spark):
    """A flipped IDAT byte (CRC mismatch), a truncated file, a non-PNG
    payload, and an out-of-scope IHDR (grayscale color type 0 — 16-bit
    depth moved IN scope in r10/d127) all degrade to skip — never an
    executor error; the intact sibling still decodes."""
    import struct
    import zlib

    df1 = spark.createDataFrame([(0,), (1,)], "doc_id long")
    blobs = {
        r.doc_id: bytes(r.payload)
        for r in multimodal.synth_png(df1, "doc_id").collect()
    }
    good = blobs[0]
    corrupt = bytearray(good)
    corrupt[45] ^= 0xFF  # inside the first IDAT body → CRC mismatch

    def chunk(ctype, payload):
        body = ctype + payload
        return (
            struct.pack(">I", len(payload))
            + body
            + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF)
        )

    deep = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(b"\x00" * 6))
        + chunk(b"IEND", b"")
    )
    rows = [
        (1, bytearray(blobs[1])),      # intact
        (2, bytearray(corrupt)),       # CRC mismatch
        (3, bytearray(good[:30])),     # truncated
        (4, bytearray(b"not a png")),  # wrong magic
        (5, bytearray(deep)),          # grayscale type 0: out of scope
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = multimodal.decode_png_stats(df, "payload", "doc_id").collect()
    assert {r.doc_id for r in out} == {1}
    assert len(out) == 3

    # the decoder itself returns None (no zlib.error, no struct.error)
    # on an IDAT whose CRC holds but whose DEFLATE data is not, and on
    # a chunk whose CRC field is cut short
    head = b"\x89PNG\r\n\x1a\n" + chunk(
        b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
    )
    bad_deflate = head + chunk(b"IDAT", b"not deflate") + chunk(b"IEND", b"")
    cut_crc = head + chunk(b"IDAT", zlib.compress(b"\x00" * 14))[:-2]
    assert multimodal._png_decode_rgb(bad_deflate) is None
    assert multimodal._png_decode_rgb(cut_crc) is None


def test_bmp_decode_honors_pixel_offset(spark):
    """A BMP whose pixel array does not start at byte 54 (e.g. a color
    profile between header and pixels) must decode via the file header's
    offset field, not an assumed layout."""
    import struct

    import numpy as np

    w = h = 2
    rgb = np.arange(w * h * 3, dtype=np.uint8).reshape(h, w, 3)
    bgr = rgb[:, :, ::-1]
    row_len = (w * 3 + 3) // 4 * 4
    rows = np.zeros((h, row_len), dtype=np.uint8)
    rows[:, : w * 3] = bgr.reshape(h, w * 3)
    pix = rows[::-1].tobytes()
    gap = b"\xee" * 16  # 16 junk bytes between headers and pixels
    off = 14 + 40 + len(gap)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pix), 0, 0, 0, 0)
    head = struct.pack("<2sIHHI", b"BM", off + len(pix), 0, 0, off)
    blob = head + info + gap + pix

    df = spark.createDataFrame([(7, bytearray(blob))], "doc_id long, payload binary")
    got = {
        r.channel: r
        for r in multimodal.decode_bmp_ppm_stats(df, "payload", "doc_id").collect()
    }
    assert len(got) == 3
    for ch in range(3):
        v = rgb[:, :, ch].astype(int)
        assert got[ch].min == v.min() and got[ch].max == v.max()
        wgt = (np.arange(w) + 1)[None, :] * (np.arange(h) + 2)[:, None]
        assert got[ch].pos_sum == int((v * wgt).sum())


def test_ppm_decode_handles_comments_and_rejects_garbage_header(spark):
    """PPM headers may carry '#' comment lines between tokens (legal per
    the netpbm spec) — decode must skip them; a non-numeric header token
    degrades to a skip, never an executor error."""
    import numpy as np

    w = h = 2
    rgb = np.arange(12, dtype=np.uint8).reshape(h, w, 3)
    ok = b"P6\n# made by a real tool\n2 2\n# and another\n255\n" + rgb.tobytes()
    bad = b"P6\n2 two\n255\n" + rgb.tobytes()
    df = spark.createDataFrame(
        [(1, bytearray(ok)), (2, bytearray(bad))], "doc_id long, payload binary"
    )
    rows = multimodal.decode_bmp_ppm_stats(df, "payload", "doc_id").collect()
    assert {r.doc_id for r in rows} == {1}
    got = {r.channel: r for r in rows}
    for ch in range(3):
        v = rgb[:, :, ch].astype(int)
        assert got[ch].min == v.min() and got[ch].max == v.max()


def test_jpeg_dc_only_roundtrip_exact(spark):
    """synth_jpeg → decode_jpeg_stats recovers EXACT flat-block pixels:
    the Huffman DC-diff chain, canonical DHT rebuild, zigzag DQT, and
    the DC-path IDCT (integer by construction, q0=16) certify against
    the arithmetic formula 128 + 2·dc."""
    import numpy as np

    ids = list(range(12))
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    files = multimodal.synth_jpeg(df, "doc_id")
    rows = multimodal.decode_jpeg_stats(files, "payload", "doc_id").collect()
    assert len(rows) == len(ids)
    got = {r.doc_id: r for r in rows}
    for i in ids:
        bx, by = 1 + i % 3, 1 + (2 * i) % 3
        w, h = bx * 8, by * 8
        img = np.zeros((h, w), dtype=np.int64)
        for y in range(by):
            for x in range(bx):
                dc = (5 * i + 3 * x + 7 * y) % 21 - 10
                img[y * 8 : (y + 1) * 8, x * 8 : (x + 1) * 8] = 128 + 2 * dc
        r = got[i]
        assert (r.width, r.height, r.format, r.channel) == (w, h, "jpeg", 0)
        assert r.min == img.min() and r.max == img.max()
        assert r.mean == round(img.sum() / img.size, 6)
        wgt = (np.arange(w) + 1)[None, :] * (np.arange(h) + 2)[:, None]
        assert r.pos_sum == int((img * wgt).sum())


def test_jpeg_ac_path_matches_reference_idct():
    """The AC run-length path — runs, ZRL, mid-block EOB, magnitude
    coding of negatives, byte stuffing — decodes random sparse
    coefficient grids to exactly the reference dequant+IDCT pixels
    (same float ops, so equality is exact)."""
    import numpy as np

    from pandas_db_sdk_spark.multimodal import (
        _jpeg_decode_gray,
        _jpeg_encode_gray,
    )

    rng = np.random.RandomState(0)
    alpha = np.full(8, np.sqrt(2.0 / 8))
    alpha[0] = np.sqrt(1.0 / 8)
    xs = np.arange(8)
    C = alpha[:, None] * np.cos((2 * xs[None, :] + 1) * xs[:, None] * np.pi / 16.0)
    for trial in range(8):
        by, bx = rng.randint(1, 4), rng.randint(1, 4)
        coefs = rng.randint(-30, 31, size=(by, bx, 8, 8))
        coefs[rng.rand(by, bx, 8, 8) < 0.85] = 0  # runs / ZRL / EOB
        qt = rng.randint(1, 40, size=(8, 8))
        blob = _jpeg_encode_gray(coefs.astype(np.int64), qt.astype(np.int64))
        img = _jpeg_decode_gray(blob)
        assert img is not None, trial
        deq = coefs * qt[None, None]
        sp = np.einsum("ux,vy,bcuv->bcxy", C, C, deq.astype(float))
        pix = np.clip(np.floor(sp + 128.5), 0, 255).astype(np.uint8)
        ref = pix.transpose(0, 2, 1, 3).reshape(by * 8, bx * 8)
        assert (img == ref).all(), trial


def test_jpeg_decode_skips_corrupt_and_out_of_scope(spark):
    """Truncated scans, non-JPEG payloads, and out-of-scope shapes
    (3-component color SOF0 from the d48 header fixture, progressive
    SOF2) degrade to skip — never an executor error; the intact sibling
    still decodes."""
    import numpy as np

    from pandas_db_sdk_spark.multimodal import _jpeg_encode_gray

    q = np.full((8, 8), 16, dtype=np.int64)
    coefs = np.zeros((1, 1, 8, 8), dtype=np.int64)
    coefs[0, 0, 0, 0] = 4
    good = _jpeg_encode_gray(coefs, q)
    progressive = bytearray(good)
    sof_at = bytes(good).find(b"\xff\xc0")
    progressive[sof_at + 1] = 0xC2  # flip SOF0 -> SOF2
    # the d48 fixture emits a COLOR header-only JPEG (3 components)
    df0 = spark.createDataFrame([(3,)], "doc_id long")
    color = bytes(
        spark.createDataFrame([(3,)], "doc_id long")
        .transform(lambda d: multimodal.synth_media_payload(d, "doc_id", kinds=4))
        .collect()[0]
        .payload
    )
    rows = [
        (1, bytearray(good)),
        (2, bytearray(good[:60])),       # truncated mid-structure
        (3, bytearray(b"not a jpeg")),
        (4, bytearray(progressive)),
        (5, bytearray(color)),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = multimodal.decode_jpeg_stats(df, "payload", "doc_id").collect()
    assert {r.doc_id for r in out} == {1}
    assert out[0].min == out[0].max == 128 + 2 * 4  # flat DC block


def test_resample_pcm_hand_computed(spark):
    """3/2 linear resample of a hand-built 4-sample WAV: output positions
    0, 2/3, 4/3, 2, 8/3, 10/3, 4(=last input) → scaled values
    3*s[i0] + r*(s[i0+1]-s[i0]) checked by hand; identity (1/1) returns
    the input exactly."""
    import struct

    import numpy as np

    s = np.array([100, -200, 50, 1000], dtype="<i2")
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    body = (
        b"WAVEfmt " + struct.pack("<I", 16) + fmt
        + b"data" + struct.pack("<I", 8) + s.tobytes()
    )
    wav = b"RIFF" + struct.pack("<I", len(body)) + body
    df = spark.createDataFrame([(1, bytearray(wav))], "doc_id long, payload binary")
    r = multimodal.resample_pcm_stats(df, "payload", "doc_id", up=3, down=2).collect()[0]
    # n_out = ((4-1)*3)//2 + 1 = 5; j*2: 0,2,4,6,8 -> i0 = 0,0,1,2,2; r = 0,2,1,0,2
    ys = [
        3 * 100,
        3 * 100 + 2 * (-200 - 100),
        3 * -200 + 1 * (50 + 200),
        3 * 50,
        3 * 50 + 2 * (1000 - 50),
    ]
    assert (r.n_in, r.n_out, r.sr_in, r.sr_out) == (4, 5, 8000, 12000)
    assert r.sum_scaled == sum(ys)
    assert r.min_scaled == min(ys) and r.max_scaled == max(ys)
    assert r.pos_sum == sum(v * (j + 1) for j, v in enumerate(ys))

    ident = multimodal.resample_pcm_stats(df, "payload", "doc_id", up=1, down=1).collect()[0]
    assert ident.n_out == 4 and ident.sum_scaled == int(s.astype(int).sum())
    assert ident.pos_sum == int((s.astype(int) * np.arange(1, 5)).sum())


def test_resample_pcm_skips_out_of_scope(spark):
    """Stereo, 8-bit, 4-bit, non-PCM codecs, truncated data or fmt
    chunks, odd-length data, too-short files, broken containers and a
    null payload degrade to skip in EVERY WAV reader — never an
    executor error.
    ``parse_media_headers`` reads headers only: it reports every row
    with a readable fmt and data chunk and whole bytes per sample as
    'wav', and the rest, plus a PNG whose IHDR length runs past the file
    and an MP4 whose mvhd box is empty, as 'unknown'. An MP4 whose tkhd
    box is too short for its width/height fields gets null dimensions."""
    import struct

    def wav(codec=1, ch=1, bits=16, data=b"\x00\x01" * 64, truncate=0):
        fmt = struct.pack("<HHIIHH", codec, ch, 8000, 8000 * ch * bits // 8, ch * bits // 8, bits)
        body = (
            b"WAVEfmt " + struct.pack("<I", 16) + fmt
            + b"data" + struct.pack("<I", len(data)) + data[: len(data) - truncate]
        )
        return b"RIFF" + struct.pack("<I", len(body)) + body

    def box(btype, payload=b""):
        return struct.pack(">I", 8 + len(payload)) + btype + payload

    cut_fmt = b"WAVEfmt " + struct.pack("<I", 16) + b"\x01\x00\x01\x00"
    mvhd = box(b"mvhd", bytes(12) + struct.pack(">II", 600, 600))  # 1 s
    rows = [
        (1, wav()),                       # fine — the control (one 64-sample frame)
        (2, wav(ch=2)),                   # stereo
        (3, wav(bits=8)),                 # 8-bit
        (4, wav(codec=3)),                # float PCM
        (5, wav(truncate=2)),             # short data chunk
        (6, wav(data=b"\x00\x01")),       # < 2 samples
        (7, wav(data=b"\x00\x01\x00")),   # odd-length data chunk
        (8, b"RIFFxxxxWAVE"),             # no chunks
        (9, b"garbage"),
        (10, b"RIFF" + struct.pack("<I", len(cut_fmt)) + cut_fmt),  # fmt cut after 4 bytes
        (11, b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 0xFFFF) + b"IHDR" + bytes(17)),
        (12, box(b"ftyp", b"isom") + box(b"moov", box(b"mvhd"))),
        (13, wav(bits=4)),                # 4-bit: no whole byte per sample
        # an empty tkhd: no width/height fields to read
        (14, box(b"ftyp", b"isom") + box(b"moov", mvhd + box(b"trak", box(b"tkhd")))),
        (15, None),                       # null payload
    ]
    df = spark.createDataFrame(
        [(i, None if b is None else bytearray(b)) for i, b in rows],
        "doc_id long, payload binary",
    )
    segs = spark.createDataFrame(
        [(i, 1, 0, 0) for i, _ in rows], "doc_id long, seg_no int, f0 int, f1 int"
    )
    readers = {
        "resample_pcm_stats": multimodal.resample_pcm_stats(df),
        "resample_fir_stats": multimodal.resample_fir_stats(df),
        "vad_segments": multimodal.vad_segments(df),
        "stft_frame_features": multimodal.stft_frame_features(df),
        "audio_fingerprint": multimodal.audio_fingerprint(df),
        "audio_chunk_fingerprints": multimodal.audio_chunk_fingerprints(df),
        "wav_extract_segments": multimodal.wav_extract_segments(df, segs),
        "wav_trim": multimodal.wav_trim(df, start_sample=1),
    }
    kept = functools.reduce(
        DataFrame.unionByName,
        [out.select(F.lit(name).alias("op"), "doc_id") for name, out in readers.items()],
    ).collect()
    assert {(r.op, r.doc_id) for r in kept} == {(name, 1) for name in readers}
    got = {r.doc_id: r for r in multimodal.parse_media_headers(df).collect()}
    want = {i: "wav" if i <= 7 else "mp4" if i == 14 else "unknown" for i, _ in rows}
    assert {i: r.format for i, r in got.items()} == want
    assert (got[14].width, got[14].height, got[14].duration_s) == (None, None, 1.0)


def test_jpeg_color_neutral_chroma_roundtrip_exact(spark):
    """4:2:0 color JPEG with neutral chroma decodes to EXACT R=G=B=Y
    flat blocks — certifying the interleaved MCU order, per-component DC
    predictors, dual quant tables, 4-table DHT, and upsampling geometry
    (any chroma mis-decode pushes channels off the luma grid)."""
    import numpy as np

    ids = list(range(8))
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    files = multimodal.synth_jpeg_color(df, "doc_id")
    rows = multimodal.decode_jpeg_color_stats(files, "payload", "doc_id").collect()
    assert len(rows) == len(ids) * 3
    got = {(r.doc_id, r.channel): r for r in rows}
    for i in ids:
        mx, my = 1 + i % 2, 1 + (3 * i) % 2
        w, h = mx * 16, my * 16
        img = np.zeros((h, w), dtype=np.int64)
        for y in range(2 * my):
            for x in range(2 * mx):
                dc = (5 * i + 3 * x + 7 * y) % 21 - 10
                img[y * 8 : (y + 1) * 8, x * 8 : (x + 1) * 8] = 128 + 2 * dc
        wgt = (np.arange(w) + 1)[None, :] * (np.arange(h) + 2)[:, None]
        for ch in range(3):
            r = got[(i, ch)]
            assert (r.width, r.height, r.format) == (w, h, "jpeg")
            assert r.min == img.min() and r.max == img.max()
            assert r.pos_sum == int((img * wgt).sum())


def test_jpeg_color_nonzero_chroma_matches_reference():
    """Nonzero Cb/Cr coefficients — per-component quant tables, chroma
    DC chains, upsampling, the full YCbCr→RGB transform — decode to
    exactly the reference computation (same float ops)."""
    import numpy as np

    from pandas_db_sdk_spark.multimodal import (
        _jpeg_decode_color_420,
        _jpeg_encode_color_420,
    )

    rng = np.random.RandomState(1)
    alpha = np.full(8, np.sqrt(2.0 / 8))
    alpha[0] = np.sqrt(1.0 / 8)
    xs = np.arange(8)
    C = alpha[:, None] * np.cos((2 * xs[None, :] + 1) * xs[:, None] * np.pi / 16)

    def plane(co, q):
        sp = np.einsum("ux,vy,bcuv->bcxy", C, C, (co * q[None, None]).astype(float))
        return (sp + 128).transpose(0, 2, 1, 3).reshape(
            co.shape[0] * 8, co.shape[1] * 8
        )

    for t in range(6):
        mx, my = rng.randint(1, 3), rng.randint(1, 3)
        yc = rng.randint(-20, 21, size=(2 * my, 2 * mx, 8, 8))
        yc[rng.rand(*yc.shape) < 0.8] = 0
        cbc = rng.randint(-10, 11, size=(my, mx, 8, 8))
        cbc[rng.rand(*cbc.shape) < 0.8] = 0
        crc = rng.randint(-10, 11, size=(my, mx, 8, 8))
        crc[rng.rand(*crc.shape) < 0.8] = 0
        qtl = rng.randint(1, 30, size=(8, 8))
        qtc = rng.randint(1, 30, size=(8, 8))
        blob = _jpeg_encode_color_420(
            yc.astype(np.int64), cbc.astype(np.int64), crc.astype(np.int64),
            qtl.astype(np.int64), qtc.astype(np.int64),
        )
        img = _jpeg_decode_color_420(blob)
        assert img is not None, t
        yp = plane(yc, qtl)
        cb = np.repeat(np.repeat(plane(cbc, qtc) - 128, 2, 0), 2, 1)
        cr = np.repeat(np.repeat(plane(crc, qtc) - 128, 2, 0), 2, 1)
        ref = np.clip(
            np.floor(
                np.stack(
                    [yp + 1.402 * cr,
                     yp - 0.344136 * cb - 0.714136 * cr,
                     yp + 1.772 * cb], -1
                ) + 0.5
            ), 0, 255,
        ).astype(np.uint8)
        assert (img == ref).all(), t


def test_jpeg_color_decoder_scope(spark):
    """The color decoder skips grayscale files (d108's tier) and
    truncated/garbage payloads; the grayscale decoder keeps skipping
    color files — each tier owns its scope."""
    import numpy as np

    from pandas_db_sdk_spark.multimodal import _jpeg_encode_gray

    ql = np.full((8, 8), 16, dtype=np.int64)
    gray = _jpeg_encode_gray(np.zeros((1, 1, 8, 8), dtype=np.int64), ql)
    color = bytes(
        multimodal.synth_jpeg_color(
            spark.createDataFrame([(1,)], "doc_id long"), "doc_id"
        ).collect()[0].payload
    )
    rows = [
        (1, bytearray(color)),
        (2, bytearray(gray)),
        (3, bytearray(color[:60])),
        (4, bytearray(b"nope")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    out = multimodal.decode_jpeg_color_stats(df, "payload", "doc_id").collect()
    assert {r.doc_id for r in out} == {1}
    gray_out = multimodal.decode_jpeg_stats(df, "payload", "doc_id").collect()
    assert {r.doc_id for r in gray_out} == {2}


def test_warc_roundtrip_and_robustness(spark):
    """synth_warc → parse_warc recovers the response record exactly
    (2 records seen, warcinfo skipped, status/URI/body intact, UTF-8
    bodies survive); truncated blocks, wrong magic, bad Content-Length,
    and a missing record separator all degrade to skip (lengths are the
    only authority — a bad one invalidates the FILE, never yields
    misaligned partial records)."""
    rows = [
        (1, "<p>héllo wörld</p>", "https://a.b/x?q=1"),
        (2, "<p>plain</p>", "https://c.d/y"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, html string, uri string")
    files = multimodal.synth_warc(df, "html", "uri", "doc_id")
    parsed = {
        r.doc_id: r
        for r in multimodal.parse_warc(files, "payload", "doc_id").collect()
    }
    assert len(parsed) == 2
    for i, html, uri in rows:
        r = parsed[i]
        assert (r.n_records, r.warc_type, r.http_status) == (2, "response", 200)
        assert r.target_uri == uri and r.body == html

    good = bytes(files.collect()[0].payload)
    bad_len = good.replace(b"Content-Length: ", b"Content-Length: 9", 1)
    broken = [
        (1, bytearray(good)),            # control
        (2, bytearray(good[:40])),       # truncated header
        (3, bytearray(good[:-6])),       # truncated final separator
        (4, bytearray(b"not a warc")),
        (5, bytearray(bad_len)),         # misaligning length
    ]
    bdf = spark.createDataFrame(broken, "doc_id long, payload binary")
    out = multimodal.parse_warc(bdf, "payload", "doc_id").collect()
    assert {r.doc_id for r in out} == {1}


def test_warc_gz_members_and_truncation(spark):
    """The .warc.gz layout: every record is its OWN gzip member (pinned
    by counting members), the parser inflates them transparently to the
    same rows as the plain file, and a truncated final member or a
    corrupted member body degrades to skip — never a partial result."""
    import zlib

    rows = [(1, "<p>gz body</p>", "https://a.b/x")]
    df = spark.createDataFrame(rows, "doc_id long, html string, uri string")
    plain = {
        r.doc_id: (r.n_records, r.target_uri, r.body)
        for r in multimodal.parse_warc(
            multimodal.synth_warc(df, "html", "uri", "doc_id"), "payload", "doc_id"
        ).collect()
    }
    gz_files = multimodal.synth_warc_gz(df, "html", "uri", "doc_id")
    blob = bytes(gz_files.collect()[0].payload)
    # exactly one gzip member per record: 2 magics at member boundaries
    members = 0
    buf = blob
    while buf:
        d = zlib.decompressobj(wbits=47)
        d.decompress(buf)
        assert d.eof
        members += 1
        buf = d.unused_data
    assert members == 2
    gz = {
        r.doc_id: (r.n_records, r.target_uri, r.body)
        for r in multimodal.parse_warc(gz_files, "payload", "doc_id").collect()
    }
    assert gz == plain

    corrupt = bytearray(blob)
    corrupt[len(blob) // 2] ^= 0xFF  # flip a byte inside a member
    broken = [
        (1, bytearray(blob)),        # control
        (2, bytearray(blob[:-7])),   # truncated final member
        (3, corrupt),
    ]
    bdf = spark.createDataFrame(broken, "doc_id long, payload binary")
    out = multimodal.parse_warc(bdf, "payload", "doc_id").collect()
    assert {r.doc_id for r in out} == {1}


def test_warc_record_walk_is_linear():
    """The WARC record walk reads each record once: 32 000 records
    (8.3 MB, plain WARC) split in well under a CPU-second. A walk that
    copies the rest of the file per record (``b[pos:]``) is quadratic
    and takes over 10 CPU-seconds on the same file."""
    import time

    pair = b"".join(multimodal._warc_records(7, "https://h.com/p/7", "<p>x</p>"))
    blob = pair * 16_000
    t0 = time.process_time()
    recs = multimodal._warc_split_records(blob)
    took = time.process_time() - t0
    assert len(recs) == 32_000
    assert took < 1.0, took


def test_ahash_hand_computed_and_perceptual_property(spark):
    """aHash golden case: a half-dark/half-bright frame sets exactly the
    bright half's 32 bits (indices with bx >= 4). Perceptual property: a
    uniformly brightened copy keeps the SAME hash (mean shifts with the
    cells), the inverted copy flips every decided bit, and odd-sized
    frames skip."""
    import numpy as np

    w = h = 16
    img = np.zeros((h, w, 3), dtype=np.uint8)
    img[:, 8:, :] = 255
    brighter = np.clip(img.astype(int) // 2 + 100, 0, 255).astype(np.uint8)
    inverted = (255 - img.astype(int)).astype(np.uint8)
    rows = [
        (1, w, h, bytearray(img.tobytes())),
        (2, w, h, bytearray(brighter.tobytes())),
        (3, w, h, bytearray(inverted.tobytes())),
        (4, 15, h, bytearray(b"\x00" * (15 * h * 3))),  # not /8 -> skip
        (5, w, h, bytearray(b"\x00" * 7)),              # short buffer -> skip
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, width int, height int, payload binary"
    )
    got = {r.doc_id: r for r in multimodal.ahash_64(df, "payload", "doc_id").collect()}
    assert set(got) == {1, 2, 3}
    want = 0
    for yy in range(8):
        for xx in range(4, 8):
            want |= 1 << (8 * yy + xx)
    assert (got[1].hash_lo, got[1].hash_hi) == (
        want & 0xFFFFFFFF, want >> 32,
    )
    assert got[1].n_ones == 32
    assert (got[2].hash_lo, got[2].hash_hi) == (got[1].hash_lo, got[1].hash_hi)
    full = (1 << 64) - 1
    inv = full ^ want
    assert (got[3].hash_lo, got[3].hash_hi) == (inv & 0xFFFFFFFF, inv >> 32)


def test_jpeg_restart_intervals_result_invisible():
    """DRI/RSTn (d118): restart intervals must decode to the IDENTICAL
    image as the plain scan — including with AC coefficients, where the
    per-interval DC predictor reset and byte-alignment both matter —
    and malformed restart structure fails cleanly instead of smearing:
    RST without DRI, an out-of-cycle marker, and a missing interval all
    return None."""
    import numpy as np

    from pandas_db_sdk_spark.multimodal import (
        _jpeg_decode_gray,
        _jpeg_encode_gray,
    )

    q = np.full((8, 8), 16, dtype=np.int64)
    rng = np.random.RandomState(7)
    for i in range(12):
        coefs = rng.randint(-30, 30, size=(3, 3, 8, 8)).astype(np.int64)
        plain = _jpeg_decode_gray(_jpeg_encode_gray(coefs, q))
        assert plain is not None
        for ri in (1, 2, 3, 5, 100):
            got = _jpeg_decode_gray(
                _jpeg_encode_gray(coefs, q, restart_interval=ri)
            )
            assert got is not None and (got == plain).all(), (i, ri)

    enc = _jpeg_encode_gray(coefs, q, restart_interval=2)
    # strip the DRI segment: RST markers without DRI must fail
    assert b"\xff\xdd\x00\x04\x00\x02" in enc
    assert _jpeg_decode_gray(enc.replace(b"\xff\xdd\x00\x04\x00\x02", b"")) is None
    # break the D0-D7 cycle: swap the first RST0 for RST5
    assert b"\xff\xd0" in enc
    assert _jpeg_decode_gray(enc.replace(b"\xff\xd0", b"\xff\xd5", 1)) is None


def test_jpeg_dc_category_over_16_returns_none():
    """A crafted DHT whose only DC symbol is category 20 (baseline tops
    out at 11): its 5-bit code leaves the amplitude read at bit offset 5
    asking for 20 bits, past the 24-bit window. The decoder must reject
    the image, not raise on a negative shift."""
    import struct

    import numpy as np

    from pandas_db_sdk_spark.multimodal import (
        _JPEG_DC_LENGTHS,
        _dht_payload,
        _jpeg_decode_gray,
        _jpeg_encode_gray,
    )

    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(">H", 2 + len(payload)) + payload

    good = _jpeg_encode_gray(
        np.zeros((1, 1, 8, 8), dtype=np.int64), np.full((8, 8), 16, dtype=np.int64)
    )
    dc_seg = seg(0xC4, _dht_payload(0, 0, _JPEG_DC_LENGTHS))
    assert dc_seg in good
    bad = good.replace(dc_seg, seg(0xC4, _dht_payload(0, 0, {20: 5})))
    # SOS segment is 10 bytes (marker, length, 6-byte payload); then four
    # zero bytes: code 00000 -> symbol 20, with 27 bits left for its amplitude
    scan_at = bad.index(b"\xff\xda") + 10
    bad = bad[:scan_at] + b"\x00" * 4 + b"\xff\xd9"
    assert _jpeg_decode_gray(bad) is None


def test_sinc_taps_quantization_pins():
    """The d119 filter bank's float→int quantization contract: phase 0
    is the exact identity row (sinc vanishes at nonzero integers), tap
    rows are time-reversed mirrors across complementary phases where
    the lattice aligns, DC gain stays within quantization error of
    scale, and the bank matches an independent numpy reconstruction."""
    import math

    import numpy as np

    from pandas_db_sdk_spark.multimodal import sinc_taps

    up, half, scale = 160, 4, 1 << 14
    taps = sinc_taps(up, 147, half=half, scale=scale)
    assert len(taps) == up and all(len(r) == 2 * half for r in taps)
    # phase 0: identity — m=0 tap (index half-1) is scale, rest zero
    assert taps[0] == [0, 0, 0, scale, 0, 0, 0, 0]
    # DC gain: each row sums to scale within the Hann window's
    # truncation ripple (an 8-tap bank leaves ~0.1% of the sinc tail
    # outside the window) plus per-tap rounding — 0.5% of scale bounds
    # both comfortably and still fails on any dropped/duplicated tap
    for row in taps:
        assert abs(sum(row) - scale) <= scale * 0.005, row
    # independent reconstruction (numpy, different code path)
    for ph in (1, 40, 80, 133):
        d = np.arange(-half + 1, half + 1) - ph / up
        sinc = np.sinc(d)  # np.sinc is sin(pi x)/(pi x)
        win = 0.5 + 0.5 * np.cos(np.pi * d / half)
        want = [round(scale * float(s * w)) for s, w in zip(sinc, win)]
        assert taps[ph] == want, ph


def test_resample_fir_matches_bruteforce(spark):
    """The polyphase FIR output equals a brute-force per-sample
    convolution over the same taps, including both zero-padded edges."""
    import numpy as np

    from pandas_db_sdk_spark import multimodal
    from pandas_db_sdk_spark.multimodal import sinc_taps

    up, down, half = 160, 147, 4
    taps = sinc_taps(up, down, half=half)
    base = spark.range(0, 6).select(F.col("id").alias("doc_id"))
    files = multimodal.synth_pcm_wav(base, "doc_id")
    got = {
        r.doc_id: r
        for r in multimodal.resample_fir_stats(
            files, "payload", "doc_id", up=up, down=down, taps=taps
        ).collect()
    }
    for i in range(6):
        n = 256 + i % 64
        a, b = 3 + i % 5, i % 97
        s = ((a * np.arange(n, dtype=np.int64) + b) % 2048 - 1024)
        n_out = ((n - 1) * up) // down + 1
        ys = []
        for j in range(n_out):
            i0, ph = (j * down) // up, (j * down) % up
            acc = 0
            for t_idx, m in enumerate(range(-half + 1, half + 1)):
                k = i0 + m
                acc += taps[ph][t_idx] * (int(s[k]) if 0 <= k < n else 0)
            ys.append(acc)
        ys = np.array(ys, dtype=np.int64)
        r = got[i]
        assert (r.n_in, r.n_out) == (n, n_out)
        assert r.sum_scaled == int(ys.sum())
        assert r.pos_sum == int((ys * (np.arange(n_out) + 1)).sum())


def test_png_adam7_result_invisible_and_edge_passes():
    """Adam7 (d120): the interlaced layout decodes to the identical
    pixel grid as the sequential layout across dimension sweeps that
    make passes 1-pixel-wide or EMPTY (1xN, Nx1, sub-8x8 images), and a
    stream with trailing bytes past the last pass fails cleanly."""
    import struct
    import zlib

    import numpy as np

    from pandas_db_sdk_spark.multimodal import _png_decode_rgb, _png_encode_rgb

    for i, (w, h) in enumerate(
        [(1, 1), (1, 9), (9, 1), (3, 3), (7, 5), (8, 8), (12, 11), (16, 2)]
    ):
        y, x, c = np.meshgrid(
            np.arange(h), np.arange(w), np.arange(3), indexing="ij"
        )
        rgb = ((7 * i + 3 * x + 5 * y + 11 * c) % 256).astype(np.uint8)
        plain = _png_decode_rgb(_png_encode_rgb(rgb, lambda yy: (i + yy) % 5))
        inter = _png_decode_rgb(
            _png_encode_rgb(rgb, lambda yy: (i + yy) % 5, interlace=True)
        )
        assert plain is not None and inter is not None, (w, h)
        assert (plain[2] == rgb).all() and (inter[2] == rgb).all(), (w, h)

    # trailing garbage after the final pass: hard skip, never a wrong image
    enc = bytearray(_png_encode_rgb(rgb, lambda yy: 0, interlace=True))
    sig_len = 8
    # rebuild with an IDAT carrying extra inflated bytes
    pos = sig_len
    parts = {}
    while pos + 12 <= len(enc):
        (ln,) = struct.unpack(">I", bytes(enc[pos : pos + 4]))
        ctype = bytes(enc[pos + 4 : pos + 8])
        parts[ctype] = bytes(enc[pos + 8 : pos + 8 + ln])
        pos += 12 + ln
    raw = zlib.decompress(parts[b"IDAT"]) + b"\x00"  # one stray byte
    stream = zlib.compress(raw, 6)

    def chunk(ctype, payload):
        body = ctype + payload
        return (
            struct.pack(">I", len(payload))
            + body
            + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF)
        )

    bad = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", parts[b"IHDR"])
        + chunk(b"IDAT", stream)
        + chunk(b"IEND", b"")
    )
    assert _png_decode_rgb(bad) is None


def test_jpeg_progressive_matches_baseline():
    """Progressive (d121): spectral-selection scans decode to the
    IDENTICAL image as the baseline encoding of the same coefficients —
    across band splits, with random AC content (EOBRUN/ZRL/run paths) —
    and each decoder rejects the other's SOF class."""
    import numpy as np

    from pandas_db_sdk_spark.multimodal import (
        _jpeg_decode_gray,
        _jpeg_decode_gray_progressive,
        _jpeg_encode_gray,
        _jpeg_encode_gray_progressive,
    )

    q = np.full((8, 8), 16, dtype=np.int64)
    rng = np.random.RandomState(11)
    for i in range(10):
        coefs = rng.randint(-30, 30, size=(3, 3, 8, 8)).astype(np.int64)
        base = _jpeg_decode_gray(_jpeg_encode_gray(coefs, q))
        assert base is not None
        for bands in (((1, 5), (6, 63)), ((1, 63),), ((1, 2), (3, 20), (21, 63))):
            prog = _jpeg_decode_gray_progressive(
                _jpeg_encode_gray_progressive(coefs, q, bands=bands)
            )
            assert prog is not None and (prog == base).all(), (i, bands)
    enc_p = _jpeg_encode_gray_progressive(coefs, q)
    enc_b = _jpeg_encode_gray(coefs, q)
    assert _jpeg_decode_gray(enc_p) is None
    assert _jpeg_decode_gray_progressive(enc_b) is None


def test_png_palette_roundtrip_and_guards():
    """Palette PNG (d122): indexed encoding decodes to the identical
    pixel grid (filters at bpp=1), >256 distinct colors refuses to
    encode, and a truncated PLTE (index out of range) hard-skips."""
    import struct
    import zlib

    import numpy as np

    from pandas_db_sdk_spark.multimodal import _png_decode_rgb, _png_encode_rgb

    for i in range(12):
        w, h = 6 + i % 7, 5 + (2 * i) % 7
        y, x, c = np.meshgrid(
            np.arange(h), np.arange(w), np.arange(3), indexing="ij"
        )
        rgb = ((7 * i + 3 * x + 5 * y + 11 * c) % 256).astype(np.uint8)
        pal = _png_decode_rgb(
            _png_encode_rgb(rgb, lambda yy: (i + yy) % 5, palette=True)
        )
        assert pal is not None and (pal[2] == rgb).all(), i

    k = np.arange(300)
    colors = np.stack([k % 256, k // 256, np.full(300, 7)], axis=1).astype(
        np.uint8
    )
    img = np.vstack([colors, colors[:60]]).reshape(20, 18, 3)
    with pytest.raises(ValueError, match="palette overflow"):
        _png_encode_rgb(img, lambda yy: 0, palette=True)

    enc = bytearray(_png_encode_rgb(rgb, lambda yy: 0, palette=True))
    pos, parts = 8, []
    while pos + 12 <= len(enc):
        (ln,) = struct.unpack(">I", bytes(enc[pos : pos + 4]))
        parts.append(
            (bytes(enc[pos + 4 : pos + 8]), bytes(enc[pos + 8 : pos + 8 + ln]))
        )
        pos += 12 + ln

    def chunk(ctype, payload):
        body = ctype + payload
        return (
            struct.pack(">I", len(payload))
            + body
            + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF)
        )

    bad = b"\x89PNG\r\n\x1a\n" + b"".join(
        chunk(t, p[:-30] if t == b"PLTE" else p) for t, p in parts
    )
    assert _png_decode_rgb(bad) is None


def test_jpeg_progressive_sa_matches_baseline():
    """Successive approximation (d123): the four-scan SA encoding
    decodes to the IDENTICAL image as the baseline encoding of the same
    coefficients — dense random grids, sparse grids exercising
    ZRL-with-correction-bits, and ±1-heavy grids where significance
    arrives only in the refinement scan. A truncated chain (refinement
    scans stripped) is REJECTED, never decoded at half precision."""
    import numpy as np

    from pandas_db_sdk_spark.multimodal import (
        _jpeg_decode_gray,
        _jpeg_decode_gray_progressive,
        _jpeg_encode_gray,
        _jpeg_encode_gray_progressive_sa,
    )

    q = np.full((8, 8), 16, dtype=np.int64)
    rng = np.random.RandomState(23)
    for i in range(8):
        coefs = rng.randint(-35, 35, size=(3, 3, 8, 8)).astype(np.int64)
        base = _jpeg_decode_gray(_jpeg_encode_gray(coefs, q))
        sa = _jpeg_decode_gray_progressive(
            _jpeg_encode_gray_progressive_sa(coefs, q)
        )
        assert sa is not None and (sa == base).all(), i
    for i in range(8):
        coefs = np.zeros((2, 2, 8, 8), dtype=np.int64)
        mask = rng.rand(2, 2, 8, 8) < 0.08
        coefs[mask] = rng.choice([-33, -2, -1, 1, 2, 33], size=int(mask.sum()))
        base = _jpeg_decode_gray(_jpeg_encode_gray(coefs, q))
        sa = _jpeg_decode_gray_progressive(
            _jpeg_encode_gray_progressive_sa(coefs, q)
        )
        assert sa is not None and (sa == base).all(), i

    # strip the two refinement scans: decoder must reject (al_state != 0)
    enc = _jpeg_encode_gray_progressive_sa(coefs, q)
    # scans begin at SOS markers (FFDA); keep everything before the 3rd
    first = enc.index(b"\xff\xda")
    second = enc.index(b"\xff\xda", first + 2)
    third = enc.index(b"\xff\xda", second + 2)
    truncated = enc[:third] + b"\xff\xd9"
    assert _jpeg_decode_gray_progressive(truncated) is None


def test_jpeg_color_progressive_matches_baseline():
    """Progressive color (d126): the interleaved-DC + per-component-AC
    scan script decodes to the IDENTICAL image as the baseline
    interleaved encoding of the same coefficient grids — with RANDOM
    chroma (both predictor chains and both block-raster walks live) —
    and each decoder rejects the other's SOF class."""
    import numpy as np

    from pandas_db_sdk_spark.multimodal import (
        _jpeg_decode_color_420,
        _jpeg_decode_color_420_progressive,
        _jpeg_encode_color_420,
        _jpeg_encode_color_420_progressive,
    )

    ql = np.full((8, 8), 16, dtype=np.int64)
    qc = np.full((8, 8), 8, dtype=np.int64)
    rng = np.random.RandomState(31)
    for i in range(8):
        mx, my = 1 + i % 2, 1 + (3 * i) % 2
        yc = rng.randint(-20, 20, size=(2 * my, 2 * mx, 8, 8)).astype(np.int64)
        cbc = rng.randint(-12, 12, size=(my, mx, 8, 8)).astype(np.int64)
        crc = rng.randint(-12, 12, size=(my, mx, 8, 8)).astype(np.int64)
        base = _jpeg_decode_color_420(_jpeg_encode_color_420(yc, cbc, crc, ql, qc))
        prog = _jpeg_decode_color_420_progressive(
            _jpeg_encode_color_420_progressive(yc, cbc, crc, ql, qc)
        )
        assert base is not None and prog is not None, i
        assert (base == prog).all(), i
    e_b = _jpeg_encode_color_420(yc, cbc, crc, ql, qc)
    e_p = _jpeg_encode_color_420_progressive(yc, cbc, crc, ql, qc)
    assert _jpeg_decode_color_420(e_p) is None
    assert _jpeg_decode_color_420_progressive(e_b) is None
    # incomplete scan script: strip the final AC scan -> reject
    last_sos = e_p.rindex(b"\xff\xda")
    assert _jpeg_decode_color_420_progressive(e_p[:last_sos] + b"\xff\xd9") is None


def test_png_all_layout_combinations_roundtrip():
    """The full PNG matrix (r10): 8-bit/16-bit truecolor and 8-bit
    palette, each sequential and Adam7-interlaced, decode to identical
    pixel values across an edge-dimension sweep; palette+16-bit refuses
    by spec."""
    import numpy as np

    from pandas_db_sdk_spark.multimodal import _png_decode_rgb, _png_encode_rgb

    for i, (w, h) in enumerate([(1, 1), (1, 9), (9, 1), (7, 5), (12, 11)]):
        y, x, c = np.meshgrid(
            np.arange(h), np.arange(w), np.arange(3), indexing="ij"
        )
        v8 = ((7 * i + 3 * x + 5 * y + 11 * c) % 256).astype(np.uint8)
        v16 = v8.astype(np.uint16) * 257
        for kwargs, src, want in [
            ({}, v8, v8),
            ({"interlace": True}, v8, v8),
            ({"palette": True}, v8, v8),
            ({"palette": True, "interlace": True}, v8, v8),
            ({"depth16": True}, v16, v16),
            ({"depth16": True, "interlace": True}, v16, v16),
        ]:
            got = _png_decode_rgb(
                _png_encode_rgb(src, lambda yy: (i + yy) % 5, **kwargs)
            )
            assert got is not None, (w, h, kwargs)
            assert (got[2] == want).all(), (w, h, kwargs)
    with pytest.raises(ValueError, match="8-bit by spec"):
        _png_encode_rgb(v8, lambda yy: 0, palette=True, depth16=True)


def test_jpeg_color_sa_matches_baseline():
    """Color successive approximation (d128): the eight-scan SA script
    decodes to the IDENTICAL image as the baseline interleaved encoding
    — dense random grids and sparse ±1-heavy grids (significance
    arriving only in refinement, per component) — and a truncated scan
    script is rejected."""
    import numpy as np

    from pandas_db_sdk_spark.multimodal import (
        _jpeg_decode_color_420,
        _jpeg_decode_color_420_progressive,
        _jpeg_encode_color_420,
        _jpeg_encode_color_420_progressive,
    )

    ql = np.full((8, 8), 16, dtype=np.int64)
    qc = np.full((8, 8), 8, dtype=np.int64)
    rng = np.random.RandomState(41)
    for i in range(6):
        mx, my = 1 + i % 2, 1 + (3 * i) % 2
        yc = rng.randint(-20, 20, size=(2 * my, 2 * mx, 8, 8)).astype(np.int64)
        cbc = rng.randint(-12, 12, size=(my, mx, 8, 8)).astype(np.int64)
        crc = rng.randint(-12, 12, size=(my, mx, 8, 8)).astype(np.int64)
        base = _jpeg_decode_color_420(_jpeg_encode_color_420(yc, cbc, crc, ql, qc))
        sa = _jpeg_decode_color_420_progressive(
            _jpeg_encode_color_420_progressive(yc, cbc, crc, ql, qc, sa=True)
        )
        assert base is not None and sa is not None and (sa == base).all(), i
    for i in range(6):
        yc = np.zeros((2, 2, 8, 8), dtype=np.int64)
        m = rng.rand(2, 2, 8, 8) < 0.08
        yc[m] = rng.choice([-17, -2, -1, 1, 2, 17], size=int(m.sum()))
        cbc = np.zeros((1, 1, 8, 8), dtype=np.int64)
        cbc[0, 0, 0, 3], cbc[0, 0, 2, 1] = -1, 3
        crc = np.zeros((1, 1, 8, 8), dtype=np.int64)
        crc[0, 0, 1, 1] = 1
        base = _jpeg_decode_color_420(_jpeg_encode_color_420(yc, cbc, crc, ql, qc))
        sa = _jpeg_decode_color_420_progressive(
            _jpeg_encode_color_420_progressive(yc, cbc, crc, ql, qc, sa=True)
        )
        assert sa is not None and (sa == base).all(), i
    enc = _jpeg_encode_color_420_progressive(yc, cbc, crc, ql, qc, sa=True)
    last = enc.rindex(b"\xff\xda")
    assert _jpeg_decode_color_420_progressive(enc[:last] + b"\xff\xd9") is None


def test_warc_cdx_random_access_and_guards(spark):
    """CDX geometry (d129): spans tile the file, every random-access
    fetch reproduces its sequential record; a truncated final member
    and a non-gzip payload both degrade to skip."""
    from pyspark.sql import functions as F

    from pandas_db_sdk_spark import multimodal

    base = spark.range(0, 4).select(F.col("id").alias("doc_id"))
    src = base.select(
        "doc_id",
        F.concat(F.lit("<html><body><p>doc body "), F.col("doc_id").cast("string"),
                 F.lit("</p></body></html>")).alias("html"),
        F.concat(F.lit("https://h.com/p/"), F.col("doc_id").cast("string")).alias("uri"),
    )
    files = multimodal.synth_warc_gz(src, "html", "uri", "doc_id")
    out = {r.doc_id: r for r in multimodal.warc_gz_cdx_stats(files, "payload", "doc_id").collect()}
    assert set(out) == {0, 1, 2, 3}
    for r in out.values():
        assert (r.n_members, r.n_response, r.coverage_ok, r.fetch_ok, r.http_status) == (2, 1, 1, 1, 200)

    blobs = {r.doc_id: bytes(r.payload) for r in files.collect()}
    bad = [
        (10, bytearray(blobs[0][:-5])),   # truncated final member
        (11, bytearray(b"not gzip at all")),
        (12, bytearray(blobs[1])),        # intact sibling
        (14, None),                       # null payload
    ]
    df = spark.createDataFrame(bad, "doc_id long, payload binary")
    got = {r.doc_id for r in multimodal.warc_gz_cdx_stats(df, "payload", "doc_id").collect()}
    assert got == {12}, got

    # a status outside 100-599 reads as null in every WARC reader
    import gzip

    recs = multimodal._warc_records(13, "https://h.com/p/13", "<p>x</p>")
    recs[1] = recs[1].replace(b"HTTP/1.1 200 OK", b"HTTP/1.1 999 OK")
    odd = spark.createDataFrame(
        [(13, bytearray(b"".join(gzip.compress(r, mtime=0) for r in recs)))],
        "doc_id long, payload binary",
    )
    idx = multimodal.warc_gz_cdx_index(odd).filter("warc_type = 'response'")
    fetch = multimodal.warc_gz_indexed_fetch(
        odd.join(idx.select("doc_id", "offset", "length"), "doc_id")
    )
    statuses = {
        name: [r.http_status for r in out.collect()]
        for name, out in (
            ("parse_warc", multimodal.parse_warc(odd)),
            ("warc_gz_cdx_stats", multimodal.warc_gz_cdx_stats(odd)),
            ("warc_gz_cdx_index", idx),
            ("warc_gz_indexed_fetch", fetch),
        )
    }
    assert statuses == {name: [None] for name in statuses}, statuses

    # a header NAME that is not UTF-8 reads with replacement characters,
    # as values do, and one member never drops its siblings from the index
    bad = b"WARC/1.0\r\n\xff\xfe: x\r\nContent-Length: 0\r\n\r\n\r\n\r\n"
    assert multimodal._warc_split_records(bad) == [
        ({"\ufffd\ufffd": "x", "content-length": "0"}, b"")
    ]
    info, resp = multimodal._warc_records(5, "https://h.com/p/5", "<p>x</p>")
    three = spark.createDataFrame(
        [(5, bytearray(b"".join(gzip.compress(r, mtime=0) for r in (info, bad, resp))))],
        "doc_id long, payload binary",
    )
    got = {
        r.member_idx: (r.warc_type, r.target_uri, r.http_status)
        for r in multimodal.warc_gz_cdx_index(three).collect()
    }
    assert got == {
        0: ("warcinfo", None, None),
        1: (None, None, None),  # parses: one record with no WARC-Type
        2: ("response", "https://h.com/p/5", 200),
    }


def test_cdx_index_write_and_indexed_fetch_via_engine_storage(spark, tmp_path):
    """d135: the index a crawler WRITES during ingest round-trips through
    the engine's partitioned storage and serves a URL→(offset, length)
    lookup whose fetch byte-matches the sequential walk."""
    from pandas_db_sdk_spark import text
    from pandas_db_sdk_spark.engine import DataFrameEngine

    docs = spark.createDataFrame(
        [(i, f"body text {i} " * 5) for i in range(6)], "doc_id long, text string"
    )
    src = docs.select(
        "doc_id",
        F.concat(F.lit("<html><body>"), "text", F.lit("</body></html>")).alias("html"),
        F.concat(
            F.lit("https://www.Site.com/Page/"), F.col("doc_id").cast("string")
        ).alias("uri"),
    )
    files = multimodal.synth_warc_gz(src, "html", "uri", "doc_id").cache()
    idx = multimodal.warc_gz_cdx_index(files).withColumn(
        "urlkey", text.surt_key(F.col("target_uri"))
    )
    # every member indexed: 2 per file (warcinfo + response)
    assert idx.count() == 12

    eng = DataFrameEngine(spark, str(tmp_path / "wh"))
    eng.save(idx.filter("warc_type = 'response'"), "cdx", columns_keys={"doc_id": "ID"})
    served = eng.load("cdx")

    hit = served.filter(F.col("urlkey") == "com,site)/page/3").select(
        "doc_id", "offset", "length"
    )
    fetched = multimodal.warc_gz_indexed_fetch(
        files.join(hit, "doc_id").select("doc_id", "payload", "offset", "length")
    ).collect()
    assert len(fetched) == 1
    row = fetched[0]
    assert (row.fetch_ok, row.http_status) == (1, 200)
    assert row.target_uri == "https://www.Site.com/Page/3"
    walk = {r.doc_id: r.body for r in multimodal.parse_warc(files).collect()}
    assert row.body == walk[3]


def test_indexed_fetch_geometry_slip_flags_not_raises(spark):
    """A one-byte offset slip breaks the member's gzip header: the fetch
    row keeps identity columns, fetch_ok=0, and the fleet never errors."""
    docs = spark.createDataFrame([(1, "hello")], "doc_id long, text string")
    src = docs.select(
        "doc_id",
        F.lit("<html><body>x</body></html>").alias("html"),
        F.lit("https://h.com/a").alias("uri"),
    )
    files = multimodal.synth_warc_gz(src, "html", "uri", "doc_id")
    idx = multimodal.warc_gz_cdx_index(files).filter("warc_type = 'response'")
    slipped = files.join(
        idx.select("doc_id", (F.col("offset") + 1).alias("offset"), "length"),
        "doc_id",
    ).select("doc_id", "payload", "offset", "length")
    rows = multimodal.warc_gz_indexed_fetch(slipped).collect()
    assert len(rows) == 1 and rows[0].fetch_ok == 0 and rows[0].body is None
    good = files.join(idx.select("doc_id", "offset", "length"), "doc_id").first()
    null = spark.createDataFrame(
        [
            (2, None, 0, 10),
            (3, good.payload, None, good.length),  # null offset
            (4, good.payload, good.offset, None),  # null length
        ],
        "doc_id long, payload binary, offset long, length long",
    )
    rows = multimodal.warc_gz_indexed_fetch(null).collect()
    assert sorted((r.doc_id, r.offset, r.fetch_ok, r.body) for r in rows) == [
        (2, 0, 0, None), (3, None, 0, None), (4, good.offset, 0, None),
    ]


def test_phash_affine_invariance_and_ahash_contrast_sensitivity(spark):
    """d141 operator contract: pHash is EXACTLY invariant under an affine
    gray transform (v' = 2v + 5 per channel, no clipping) because every
    AC coefficient scales uniformly and the median compare is scale-free;
    and a hard frame edit (top half zeroed) changes the hash."""
    import numpy as np
    import pandas as pd

    def frames(transform):
        rows = []
        for i in range(4):
            y, x, c = np.meshgrid(
                np.arange(16), np.arange(16), np.arange(3), indexing="ij"
            )
            arr = ((7 * i + 3 * x + 5 * y + 11 * c) % 101).astype(np.int64)
            arr = transform(arr).astype(np.uint8)
            rows.append((i, 16, 16, arr.tobytes()))
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["doc_id", "width", "height", "payload"]),
            "doc_id long, width int, height int, payload binary",
        )

    base = {
        r.doc_id: (r.hash_lo, r.hash_hi)
        for r in multimodal.phash_64(frames(lambda a: a)).collect()
    }
    affine = {
        r.doc_id: (r.hash_lo, r.hash_hi)
        for r in multimodal.phash_64(frames(lambda a: 2 * a + 5)).collect()
    }
    assert base == affine and len(base) == 4

    def zero_top(a):
        a = a.copy()
        a[:8, :, :] = 0
        return a

    edited = {
        r.doc_id: (r.hash_lo, r.hash_hi)
        for r in multimodal.phash_64(frames(zero_top)).collect()
    }
    assert all(edited[i] != base[i] for i in base)


def test_phash_large_frame_exact_beyond_int64_bound(spark):
    """ADVICE r11 (medium): frames past the 12_056-pixel provable-int64
    bound must take the exact big-int path instead of silently
    wrapping.  Two pins: (1) affine invariance (v' = 2v + 3) still
    holds at 128x128 — the object path produces the same scale-free
    comparisons; (2) on an adversarial 256x256 frame sign-aligned with
    the (1,1) DCT basis cell — where the int64 computation PROVABLY
    wraps (asserted in-test) — the operator's hash equals a pure-Python
    arbitrary-precision replay of the documented definition."""
    import numpy as np
    import pandas as pd

    def mk_df(n, arr):
        return spark.createDataFrame(
            pd.DataFrame(
                [(0, n, n, arr.astype(np.uint8).tobytes())],
                columns=["doc_id", "width", "height", "payload"],
            ),
            "doc_id long, width int, height int, payload binary",
        )

    def table(size):
        k = np.arange(size).reshape(-1, 1).astype(np.float64)
        i = np.arange(size).reshape(1, -1).astype(np.float64)
        cv = np.cos(np.pi * (2 * i + 1) * k / (2 * size)) * 1e6
        return (np.sign(cv) * np.floor(np.abs(cv) + 0.5)).astype(np.int64)

    # (1) affine invariance survives the object-path switch at 128x128
    n = 128
    y, x, c = np.meshgrid(np.arange(n), np.arange(n), np.arange(3), indexing="ij")
    base_arr = ((3 * x + 5 * y + 11 * c) % 113).astype(np.int64)
    got = multimodal.phash_64(mk_df(n, base_arr)).collect()[0]
    affine = multimodal.phash_64(mk_df(n, 2 * base_arr + 3)).collect()[0]
    assert (got.hash_lo, got.hash_hi) == (affine.hash_lo, affine.hash_hi)

    # (2) adversarial 256x256: 255 where the (v=1,u=1) basis product is
    # positive, 0 elsewhere, concentrating ~1.0e19 > 2^63 into coef[1,1]
    n = 256
    t = table(n)
    pos = np.outer(t[1, :] > 0, t[1, :] > 0) | np.outer(t[1, :] < 0, t[1, :] < 0)
    adv = np.repeat(np.where(pos, 255, 0)[:, :, None], 3, axis=2)
    gray = adv.astype(object).sum(axis=2)
    to = t.astype(object)
    coef = to[:8, :] @ gray @ to[:8, :].T
    # the fixture genuinely overflows: the wrapped int64 result differs
    wrapped = t[:8, :] @ gray.astype(np.int64) @ t[:8, :].T
    assert not np.array_equal(wrapped.astype(object), coef)
    # pure-Python exact replay of the documented hash definition
    ac = sorted(int(v) for v in np.delete(coef.ravel(), 0))
    med = ac[31]
    val = sum(
        1 << (8 * v + u)
        for v in range(8)
        for u in range(8)
        if (u or v) and int(coef[v, u]) > med
    )
    got = multimodal.phash_64(mk_df(n, adv)).collect()[0]
    assert (got.hash_lo, got.hash_hi) == (val & 0xFFFFFFFF, val >> 32)


def test_y4m_c420_parse_every_frame_and_poison_skip(spark):
    """d143 parser coverage the fixture's C444 path doesn't reach: C420
    chroma geometry (quarter-size planes), every_n=1 keeps all frames,
    FRAME parameter bytes are consumed to the newline, and a truncated /
    bad-magic stream or a null payload skips without erroring."""
    import numpy as np

    docs = spark.createDataFrame([(0,), (1,)], "doc_id long")
    out = multimodal.y4m_frame_sample(
        multimodal.synth_y4m(docs, "doc_id", chroma="420"),
        "payload",
        "doc_id",
        every_n=1,
    ).collect()
    rows = {(r.doc_id, r.frame_no): r for r in out}
    # doc 0: 3 frames, doc 1: 4 frames — all sampled at every_n=1
    assert sorted(rows) == [(0, 0), (0, 1), (0, 2), (1, 0), (1, 1), (1, 2), (1, 3)]
    r = rows[(1, 2)]
    assert (r.width, r.height, r.n_frames) == (16, 16, 4)
    # replay doc 1 frame 2 luma arithmetically
    y, x = np.meshgrid(np.arange(16), np.arange(16), indexing="ij")
    lum = (7 * 1 + 3 * x + 5 * y + 13 * 2) % 256
    assert r.y_mean == round(float(lum.sum()) / 256, 6)
    assert r.y_pos_sum == int(
        (lum * (x + 1) * (y + 2)).sum()
    )
    # C420 chroma: 8x8 planes, offset +11 over the chroma grid
    cy, cx = np.meshgrid(np.arange(8), np.arange(8), indexing="ij")
    u = (7 * 1 + 3 * cx + 5 * cy + 13 * 2 + 11) % 256
    assert r.u_mean == round(float(u.sum()) / 64, 6)

    # poison streams: bad magic / truncated final frame
    import pandas as pd

    good = bytes(
        multimodal.synth_y4m(
            spark.createDataFrame([(5,)], "doc_id long"), "doc_id"
        ).collect()[0].payload
    )
    poison = spark.createDataFrame(
        pd.DataFrame(
            [(90, b"NOTY4M\n" + good[10:]), (91, good[: len(good) - 100]), (5, good)],
            columns=["doc_id", "payload"],
        ),
        "doc_id long, payload binary",
    )
    sampled = multimodal.y4m_frame_sample(poison, "payload", "doc_id", 1).collect()
    by_doc = {}
    for r in sampled:
        by_doc.setdefault(r.doc_id, []).append(r)
    assert 90 not in by_doc  # bad magic skips whole stream
    # doc 5 has 3 + 5 % 4 = 4 frames intact; doc 91 lost its last frame
    assert len(by_doc[5]) == 4
    assert len(by_doc[91]) == 3 and all(r.n_frames == 3 for r in by_doc[91])

    # header poison through EVERY y4m reader in one job: each bad row
    # skips, the control (doc 5) comes out of every op, and the rows
    # without a usable frame rate skip only in the ops that need one
    head_end = good.index(b"\n") + 1
    first_frame = good[head_end : head_end + 6 + 3 * 16 * 16]
    bad_header = {
        92: good.replace(b"W16", b"WABC", 1),
        93: good.replace(b"W16", b"W0", 1),
        94: good.replace(b"W16 H16", b"W-16 H-16", 1),
        95: good.replace(b"C444", b"C422", 1),
        96: good[:head_end] + first_frame[:-10],  # only frame cut short
        100: good.replace(b"W16 H16", b"W1 H1", 1).replace(b"C444", b"C420", 1),
    }
    bad_fps = {
        97: good.replace(b"F25:1", b"F25:0", 1),
        98: good.replace(b"F25:1", b"Fx:1", 1),
        99: good.replace(b" F25:1", b"", 1),
    }
    rows = [(5, good), *bad_header.items(), *bad_fps.items(), (101, None)]
    streams = spark.createDataFrame(
        pd.DataFrame(rows, columns=["doc_id", "payload"]),
        "doc_id long, payload binary",
    )
    readers = {
        "y4m_frame_sample": multimodal.y4m_frame_sample(streams, every_n=1),
        "y4m_trim": multimodal.y4m_trim(streams),
        "y4m_rescale_area": multimodal.y4m_rescale_area(streams),
        "y4m_frame_grid_sig": multimodal.y4m_frame_grid_sig(streams),
        "y4m_decimate": multimodal.y4m_decimate(streams),
        "y4m_tick_grid_sig": multimodal.y4m_tick_grid_sig(streams),
    }
    kept = functools.reduce(
        DataFrame.unionByName,
        [
            out.select(F.lit(name).alias("op"), "doc_id").distinct()
            for name, out in readers.items()
        ],
    ).collect()
    need_fps = {"y4m_decimate", "y4m_tick_grid_sig"}
    want = {(name, 5) for name in readers} | {
        (name, i) for name in set(readers) - need_fps for i in bad_fps
    }
    assert {(r.op, r.doc_id) for r in kept} == want


def test_resize_area_geometry_and_rounding(spark):
    """d144 operator contract: a hand-built 4x4 frame resized to 2x2 —
    each cell is the round-half-up mean of its 2x2 block; non-divisible
    frames skip."""
    import numpy as np
    import pandas as pd

    # channel 0 plane: known blocks; channels 1/2 constant
    plane = np.array(
        [[0, 1, 10, 10], [2, 2, 10, 11], [255, 255, 7, 0], [255, 253, 0, 0]],
        dtype=np.int64,
    )
    arr = np.zeros((4, 4, 3), dtype=np.uint8)
    arr[:, :, 0] = plane
    arr[:, :, 1] = 9
    frames = spark.createDataFrame(
        pd.DataFrame(
            [(1, 4, 4, arr.tobytes()), (2, 5, 4, b"\\x00" * 60)],
            columns=["doc_id", "width", "height", "payload"],
        ),
        "doc_id long, width int, height int, payload binary",
    )
    out = {
        (r.doc_id, r.cell_x, r.cell_y, r.channel): (r.block_sum, r.pixel)
        for r in multimodal.resize_area(frames, out_w=2, out_h=2).collect()
    }
    assert not any(k[0] == 2 for k in out)  # 5 % 2 != 0 → skipped
    assert out[(1, 0, 0, 0)] == (5, 1)       # (5+2)//4 = 1
    assert out[(1, 1, 0, 0)] == (41, 10)     # (41+2)//4 = 10
    assert out[(1, 0, 1, 0)] == (1018, 255)  # saturated block
    assert out[(1, 1, 1, 0)] == (7, 2)       # (7+2)//4 = 2 (half-up)
    assert out[(1, 0, 0, 1)] == (36, 9)      # constant channel


def test_raw_rgb_operators_skip_malformed_frames(spark):
    """Every raw-RGB operator reads frames through ``_rgb_read``: a
    payload shorter than its width·height·3 tag, a 0×0 frame and a null
    width skip the row, and a valid frame in the same Arrow batch (whose
    width column the null turns into floats) gives the rows it gives
    alone."""
    import pandas as pd

    ids = spark.createDataFrame([(1,)], "doc_id long")
    good = multimodal.synth_raw_rgb(ids)
    frame = bytes(good.collect()[0].payload)
    mixed = spark.createDataFrame(
        pd.DataFrame(
            [
                (1, 16, 16, frame),
                (2, 4, 4, b"\x00" * 10),  # 10 bytes tagged 4x4
                (3, 0, 0, b""),  # 0x0 frame
                (4, None, 16, frame),  # null width
            ],
            columns=["doc_id", "width", "height", "payload"],
        ),
        "doc_id long, width int, height int, payload binary",
    ).coalesce(1)
    ops = {
        "raw_pixel_stats": multimodal.raw_pixel_stats,
        "resize_area": multimodal.resize_area,
        "dhash_64": multimodal.dhash_64,
        "phash_64": multimodal.phash_64,
        "ahash_64": multimodal.ahash_64,
    }
    for name, op in ops.items():
        got = sorted(op(mixed).collect())
        assert got == sorted(op(good).collect()) and got, name


def test_stft_pure_tone_peaks_at_its_bin(spark):
    """d142 operator contract on a signal with a KNOWN spectrum: a pure
    tone at exactly bin 3 of a 64-sample frame (3 cycles per frame) puts
    its energy in bin 3 — is_peak lands there in every frame; DC of a
    zero-mean tone is (near) zero; a hop < frame_len yields overlapping
    frames."""
    import struct

    import numpy as np
    import pandas as pd

    n, amp = 192, 1000
    t = np.arange(n)
    samples = np.round(amp * np.sin(2 * np.pi * 3 * t / 64)).astype("<i2")
    data = samples.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    body = b"WAVEfmt " + struct.pack("<I", 16) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    wav = b"RIFF" + struct.pack("<I", len(body)) + body
    files = spark.createDataFrame(
        pd.DataFrame([(1, wav), (2, b"RIFFbroken")], columns=["doc_id", "payload"]),
        "doc_id long, payload binary",
    )
    rows = multimodal.stft_frame_features(files).collect()
    assert not any(r.doc_id == 2 for r in rows)  # broken container skips
    frames = sorted({r.frame_no for r in rows})
    assert frames == [0, 1, 2]  # 192 samples / 64 hop
    peaks = {(r.frame_no): r.bin for r in rows if r.is_peak}
    assert peaks == {0: 3, 1: 3, 2: 3}
    # overlapping frames with hop=32: (192-64)//32 + 1 = 5 frames
    overl = multimodal.stft_frame_features(files, hop=32).collect()
    assert sorted({r.frame_no for r in overl}) == [0, 1, 2, 3, 4]
    assert all(r.bin == 3 for r in overl if r.is_peak)


def test_parse_wet_roundtrip_and_poison(spark):
    """d152 parser contract: a hand-built WET file with two conversion
    records parses both with exact Content-Length blocks (bodies that
    CONTAIN the record separator included — lengths are the only
    authority); truncated files skip whole."""
    import pandas as pd

    def rec(uri, body: bytes) -> bytes:
        hdr = (
            b"WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: "
            + uri.encode()
            + b"\r\nContent-Length: "
            + str(len(body)).encode()
            + b"\r\n\r\n"
        )
        return hdr + body + b"\r\n\r\n"

    tricky = b"line one\r\n\r\nstill the SAME record body"
    wet = rec("https://a.com/1", b"hello world") + rec("https://a.com/2", tricky)
    files = spark.createDataFrame(
        pd.DataFrame(
            [(1, wet), (2, wet[: len(wet) - 10])], columns=["doc_id", "payload"]
        ),
        "doc_id long, payload binary",
    )
    rows = multimodal.parse_wet(files).collect()
    assert not any(r.doc_id == 2 for r in rows)  # truncated file skips whole
    got = {r.target_uri: r for r in rows if r.doc_id == 1}
    assert got["https://a.com/1"].text == "hello world"
    assert got["https://a.com/2"].text == tricky.decode()
    assert all(r.n_records == 2 and r.content_length == len(r.text) for r in rows if r.doc_id == 1)


def test_media_op_parameter_guards(spark):
    """Degenerate parameters raise up front (never a mid-job
    ZeroDivision/ValueError inside an executor): STFT bin/frame bounds,
    frame-sampling stride, resize grid."""
    import pytest as _pytest

    docs = spark.createDataFrame([(1,)], "doc_id long")
    frames = multimodal.synth_raw_rgb(docs, "doc_id")
    wavs = multimodal.synth_pcm_wav(docs, "doc_id")
    y4m = multimodal.synth_y4m(docs, "doc_id")
    with _pytest.raises(ValueError, match="n_bins"):
        multimodal.stft_frame_features(wavs, n_bins=1)
    with _pytest.raises(ValueError, match="n_bins"):
        multimodal.stft_frame_features(wavs, frame_len=8, n_bins=9)
    with _pytest.raises(ValueError, match="every_n"):
        multimodal.y4m_frame_sample(y4m, every_n=0)
    with _pytest.raises(ValueError, match="output grid"):
        multimodal.resize_area(frames, out_w=0)


def test_dhash_brightness_shift_invariance_and_edit_sensitivity(spark):
    """d154 operator contract: a global +30 brightness shift (no
    clipping) leaves every gradient sign — hence the hash — unchanged;
    mirroring the frame horizontally changes it; sub-9x8 frames skip."""
    import numpy as np
    import pandas as pd

    def frames(transform):
        rows = []
        for i in range(3):
            y, x, c = np.meshgrid(
                np.arange(16), np.arange(16), np.arange(3), indexing="ij"
            )
            arr = ((7 * i + 3 * x + 5 * y + 11 * c) % 101).astype(np.int64)
            arr = transform(arr).astype(np.uint8)
            rows.append((i, 16, 16, arr.tobytes()))
        rows.append((99, 4, 4, b"\x00" * 48))  # too small -> skip
        return spark.createDataFrame(
            pd.DataFrame(rows, columns=["doc_id", "width", "height", "payload"]),
            "doc_id long, width int, height int, payload binary",
        )

    base = {
        r.doc_id: (r.hash_lo, r.hash_hi)
        for r in multimodal.dhash_64(frames(lambda a: a)).collect()
    }
    assert 99 not in base and len(base) == 3
    shifted = {
        r.doc_id: (r.hash_lo, r.hash_hi)
        for r in multimodal.dhash_64(frames(lambda a: a + 30)).collect()
    }
    assert base == shifted
    mirrored = {
        r.doc_id: (r.hash_lo, r.hash_hi)
        for r in multimodal.dhash_64(frames(lambda a: a[:, ::-1, :].copy())).collect()
    }
    assert any(mirrored[i] != base[i] for i in base)


def test_audio_fingerprint_invariance_and_hamming_clustering(spark):
    """d156 operator contract over the chirp fixture: (1) a
    volume-doubled copy fingerprints IDENTICALLY (every energy scales
    by 4, every double-difference sign survives); (2) a small
    DC-offset copy also matches exactly (DC moves only bin 0 up to
    basis-rounding residue) and CLUSTERS with its original through the
    unchanged dedup.hamming_clusters tier, while every DIFFERENT track
    stays out (measured pairwise distances 6-17 on the fixture vs
    max_hamming=3); (3) a non-PCM payload and a too-short clip skip."""
    from pandas_db_sdk_spark import dedup, multimodal
    from pyspark.sql import functions as F

    ids = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    base = multimodal.audio_fingerprint(
        multimodal.synth_chirp_wav(ids, "doc_id"), "payload", "doc_id"
    ).toPandas().set_index("doc_id")
    loud = multimodal.audio_fingerprint(
        multimodal.synth_chirp_wav(ids, "doc_id", gain=2), "payload", "doc_id"
    ).toPandas().set_index("doc_id")
    assert (base["fp_lo"] == loud["fp_lo"]).all()
    assert (base["fp_hi"] == loud["fp_hi"]).all()
    assert (base["n_ones"] > 0).all()  # discriminative, not degenerate

    # distinct tracks are far apart (the clustering separation margin)
    fp = {
        i: int(base.loc[i, "fp_lo"]) | (int(base.loc[i, "fp_hi"]) << 32)
        for i in range(8)
    }
    import itertools

    assert min(
        bin(fp[a] ^ fp[b]).count("1")
        for a, b in itertools.combinations(range(8), 2)
    ) > 3

    # clustering: original track 0 + its DC-offset copy (id 1000) group;
    # tracks 1..7 must not join their cluster
    fleet = multimodal.synth_chirp_wav(ids, "doc_id").unionAll(
        multimodal.synth_chirp_wav(
            spark.createDataFrame([(0,)], "doc_id long"), "doc_id", offset=7
        ).select((F.col("doc_id") + 1000).alias("doc_id"), "payload")
    )
    fps = multimodal.audio_fingerprint(fleet, "payload", "doc_id").select(
        "doc_id", (F.col("fp_lo") + F.shiftleft(F.col("fp_hi"), 32)).alias("sig")
    )
    clusters = {
        r.id: r.cluster
        for r in dedup.hamming_clusters(fps, "doc_id", "sig").collect()
    }
    assert clusters.get(0) == clusters.get(1000) is not None
    assert all(i not in clusters for i in range(1, 8))

    # poison: junk bytes and a data-less container skip
    import pandas as pd

    poison = spark.createDataFrame(
        pd.DataFrame(
            [(50, b"not a riff"), (51, b"RIFF\x00\x00\x00\x00WAVE")],
            columns=["doc_id", "payload"],
        ),
        "doc_id long, payload binary",
    )
    assert multimodal.audio_fingerprint(poison).count() == 0


def test_exif_parse_strip_and_poison(spark):
    """d159 operator coverage the fixture path doesn't reach: a
    big-endian (MM) TIFF parses with the same fields; a payload with
    NO exif emits has_exif=0 nulls (audit row, not a drop); a non-JPEG
    payload skips; strip leaves exif-less files untouched with
    n_stripped=0; multiple APP1-Exif segments all strip."""
    import struct

    import pandas as pd

    from pandas_db_sdk_spark import multimodal

    ids = spark.createDataFrame([(1,)], "doc_id long")
    plain = bytes(multimodal.synth_jpeg(ids).collect()[0].payload)

    # big-endian APP1 with just Orientation=6
    tiff = b"MM" + struct.pack(">HI", 42, 8) + struct.pack(">H", 1)
    tiff += struct.pack(">HHI", 0x0112, 3, 1) + struct.pack(">H", 6) + b"\x00\x00"
    tiff += struct.pack(">I", 0)
    body = b"Exif\x00\x00" + tiff
    app1 = b"\xff\xe1" + (len(body) + 2).to_bytes(2, "big") + body
    mm = plain[:2] + app1 + plain[2:]
    double = plain[:2] + app1 + app1 + plain[2:]

    frame = spark.createDataFrame(
        pd.DataFrame(
            [(1, mm), (2, plain), (3, b"not a jpeg"), (4, double), (5, None)],
            columns=["doc_id", "payload"],
        ),
        "doc_id long, payload binary",
    )
    got = {r.doc_id: r for r in multimodal.exif_extract(frame).collect()}
    assert set(got) == {1, 2, 4}  # non-JPEG and null payloads skip
    assert (got[1].byte_order, got[1].orientation) == ("MM", 6)
    assert got[1].make is None  # absent tag stays NULL
    assert got[2].has_exif == 0 and got[2].byte_order is None

    stripped = {
        r.doc_id: (bytes(r.payload), r.n_stripped)
        for r in multimodal.exif_strip(frame).collect()
    }
    assert stripped[1] == (plain, 1)
    assert stripped[2] == (plain, 0)  # untouched, not rewritten
    assert stripped[4] == (plain, 2)  # every segment removed
    assert set(stripped) == {1, 2, 4}


def test_jpeg_segments_tolerate_fill_bytes_and_standalone_markers(spark):
    """ADVICE r12 (low): real-world JPEGs may pad between segments with
    0xFF fill bytes (ITU T.81 B.1.1.2) and may carry standalone markers
    (TEM 0x01) that have no length field.  The segment walk must skip
    both — extract still finds the EXIF, strip still removes it — and a
    malformed segment length after SOI must yield has_exif=0 (extract) /
    n_stripped=0 passthrough (strip), never a dropped row."""
    import struct

    import pandas as pd

    from pandas_db_sdk_spark import multimodal

    ids = spark.createDataFrame([(1,)], "doc_id long")
    plain = bytes(multimodal.synth_jpeg(ids).collect()[0].payload)

    tiff = b"II" + struct.pack("<HI", 42, 8) + struct.pack("<H", 1)
    tiff += struct.pack("<HHI", 0x0112, 3, 1) + struct.pack("<H", 3) + b"\x00\x00"
    tiff += struct.pack("<I", 0)
    body = b"Exif\x00\x00" + tiff
    app1 = b"\xff\xe1" + (len(body) + 2).to_bytes(2, "big") + body

    padded = plain[:2] + b"\xff\xff" + app1 + b"\xff" + plain[2:]
    tem = plain[:2] + b"\xff\x01" + app1 + plain[2:]
    badlen = plain[:2] + b"\xff\xe1\x00\x01"  # seg_len 1 < 2 after SOI

    frame = spark.createDataFrame(
        pd.DataFrame(
            [(1, padded), (2, tem), (3, badlen)],
            columns=["doc_id", "payload"],
        ),
        "doc_id long, payload binary",
    )
    got = {r.doc_id: r for r in multimodal.exif_extract(frame).collect()}
    assert set(got) == {1, 2, 3}  # nothing drops
    assert (got[1].has_exif, got[1].orientation) == (1, 3)
    assert (got[2].has_exif, got[2].orientation) == (1, 3)
    assert got[3].has_exif == 0  # malformed after SOI: audit row

    stripped = {
        r.doc_id: (bytes(r.payload), r.n_stripped)
        for r in multimodal.exif_strip(frame).collect()
    }
    assert stripped[3] == (badlen, 0)  # passthrough, not dropped
    assert stripped[1][1] == 1 and stripped[2][1] == 1
    # the stripped streams carry no EXIF any more (fill bytes may stay)
    refres = spark.createDataFrame(
        pd.DataFrame(
            [(i, stripped[i][0]) for i in (1, 2)],
            columns=["doc_id", "payload"],
        ),
        "doc_id long, payload binary",
    )
    regot = {r.doc_id: r for r in multimodal.exif_extract(refres).collect()}
    assert regot[1].has_exif == 0 and regot[2].has_exif == 0


def test_vad_segments_hysteresis_and_guards(spark):
    """d165 operator contract on a hand-built WAV: frames are LOUD /
    MEDIUM / SILENT with medium strictly inside the hysteresis dead
    band, so medium extends a speech segment but never opens one; the
    dead-band guard raises; poison payloads skip; gain scales energy
    by g^2 but never moves a boundary."""
    import struct

    import pandas as pd
    import pytest as _pytest

    from pandas_db_sdk_spark import multimodal

    def wav(frames):  # frames: list of per-64-sample amplitudes
        samples = []
        for amp in frames:
            samples += [amp, -amp] * 32
        data = struct.pack(f"<{len(samples)}h", *samples)
        fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
        body = b"WAVEfmt " + struct.pack("<I", 16) + fmt
        body += b"data" + struct.pack("<I", len(data)) + data
        return b"RIFF" + struct.pack("<I", len(body)) + body

    # energies relative to peak (amp 1000): open >= 1/4 (amp 500),
    # close < 1/16 (amp 250). amp 300 is the dead band.
    #       sil   loud  med   sil   med   loud  loud  sil
    amps = [10,   1000, 300,  10,   300,  1000, 1000, 10]
    frame = spark.createDataFrame(
        pd.DataFrame(
            [(1, wav(amps)), (2, b"RIFF not a wav")],
            columns=["doc_id", "payload"],
        ),
        "doc_id long, payload binary",
    )
    segs = [
        (r.seg_no, r.f0, r.f1, r.n_frames)
        for r in multimodal.vad_segments(frame)
        .orderBy("doc_id", "seg_no")
        .collect()
    ]
    # medium at f2 extends segment 1; medium at f4 (after silence) stays
    # closed; the final silence closes segment 2
    assert segs == [(1, 1, 2, 2), (2, 5, 6, 2)]

    tripled = [
        (r.seg_no, r.f0, r.f1, r.n_frames, r.energy)
        for r in multimodal.vad_segments(
            spark.createDataFrame(
                pd.DataFrame(
                    [(1, wav([a * 3 for a in amps]))],
                    columns=["doc_id", "payload"],
                ),
                "doc_id long, payload binary",
            )
        ).orderBy("seg_no").collect()
    ]
    base = [
        (r.seg_no, r.f0, r.f1, r.n_frames, r.energy)
        for r in multimodal.vad_segments(frame)
        .orderBy("seg_no")
        .collect()
    ]
    assert [t[:4] for t in tripled] == [b[:4] for b in base]
    assert all(t[4] == 9 * b[4] for t, b in zip(tripled, base))

    with _pytest.raises(ValueError, match="dead band"):
        multimodal.vad_segments(frame, open_num=1, open_den=4,
                                close_num=1, close_den=4)


def test_y4m_trim_and_video_shingle_near_dup(spark):
    """d167 operator contract: y4m_trim byte-splices frames [start,
    start+count) (verified through y4m_frame_sample — same frame
    content, renumbered), empty trims and poison skip; the near-dup
    join pairs a trimmed copy with its original at one consistent
    offset; the bucket valve drops degenerate shingles; shingle_len
    guard raises."""
    import pytest as _pytest

    from pandas_db_sdk_spark import multimodal

    ids = spark.createDataFrame([(3,)], "doc_id long")  # 3 + 3%4 = 6 frames
    full = multimodal.synth_y4m(ids, "doc_id")
    clip = multimodal.y4m_trim(full, start=1, count=2)  # frames 1..2
    got = (
        multimodal.y4m_frame_sample(clip, every_n=1)
        .orderBy("frame_no")
        .collect()
    )
    ref = {
        r.frame_no: r
        for r in multimodal.y4m_frame_sample(full, every_n=1).collect()
    }
    assert [r.frame_no for r in got] == [0, 1]
    assert got[0].y_pos_sum == ref[1].y_pos_sum  # clip frame 0 = src frame 1
    assert got[1].y_pos_sum == ref[2].y_pos_sum
    assert got[0].n_frames == 2

    # start beyond the stream -> zero frames -> row skips; poison skips
    assert multimodal.y4m_trim(full, start=99).count() == 0
    import pandas as pd

    poison = spark.createDataFrame(
        pd.DataFrame([(9, b"MPEG nope")], columns=["doc_id", "payload"]),
        "doc_id long, payload binary",
    )
    assert multimodal.y4m_trim(poison).count() == 0

    # near-dup: original (id 3) + its 1-frame-trimmed copy (id 1003)
    fleet = full.unionAll(
        multimodal.y4m_trim(full, start=1).select(
            (F.col("doc_id") + 1000).alias("doc_id"), "payload"
        )
    )
    pairs = multimodal.video_shingle_near_dup(fleet).collect()
    assert len(pairs) == 1
    p = pairs[0]
    # 6-frame original has 5 shingles, the 5-frame copy 4 -- all shared,
    # all at copy_frame = original_frame - 1
    assert (p.id_a, p.id_b, p.n_shared, p.n_offsets, p.offset) == (
        3, 1003, 4, 1, -1,
    )

    # valve: max_bucket_size=1 kills every shared shingle (each appears
    # twice across the fleet), so no pairs survive
    assert (
        multimodal.video_shingle_near_dup(fleet, max_bucket_size=1).count()
        == 0
    )
    with _pytest.raises(ValueError, match="shingle_len"):
        multimodal.video_shingle_near_dup(fleet, shingle_len=1)


def test_audio_chunk_fingerprints_head_parity_and_coverage(spark):
    """d170 operator contract: chunk 0 is bit-identical to the
    whole-track audio_fingerprint signature, chunk n_frames_used
    partition the frame count, double-differences never cross a chunk
    boundary (a chunk-aligned splice preserves untouched chunks), and
    short tracks yield exactly one chunk."""
    from pandas_db_sdk_spark import multimodal

    ids = spark.createDataFrame([(5,), (6,)], "doc_id long")
    long_wav = multimodal.synth_chirp_wav(ids, extra=1000)  # 19-20 frames
    chunks = {
        (r.doc_id, r.chunk_no): r
        for r in multimodal.audio_chunk_fingerprints(long_wav).collect()
    }
    head = {
        r.doc_id: r
        for r in multimodal.audio_fingerprint(long_wav).collect()
    }
    for i in (5, 6):
        c0 = chunks[(i, 0)]
        assert (c0.fp_lo, c0.fp_hi, c0.n_ones) == (
            head[i].fp_lo, head[i].fp_hi, head[i].n_ones,
        )
        total = sum(
            r.n_frames_used for (d, _), r in chunks.items() if d == i
        )
        assert total == head[i].n_frames
        assert c0.n_frames_used == head[i].n_frames_used == 10

    # short track (4 frames): one chunk, same row audio_fingerprint gives
    short = multimodal.synth_chirp_wav(ids)
    sc = multimodal.audio_chunk_fingerprints(short).collect()
    assert {r.chunk_no for r in sc} == {0}
    assert all(r.n_frames_used == 4 for r in sc)


def test_wav_extract_segments_slices_and_roundtrip(spark):
    """d171 operator contract: extracted clips are byte-valid WAVs whose
    samples are exactly the segment's frame range (verified by feeding
    the clip back through vad parsing via audio_fingerprint's n_frames),
    invariants match a numpy reference slice, and out-of-range segment
    rows skip."""
    import struct

    import numpy as np
    import pandas as pd

    from pandas_db_sdk_spark import multimodal

    ids = spark.createDataFrame([(2,)], "doc_id long")
    wavs = multimodal.synth_speech_wav(ids)
    segs = multimodal.vad_segments(wavs)
    out = {
        r.seg_no: r
        for r in multimodal.wav_extract_segments(wavs, segs).collect()
    }
    assert out  # at least one speech segment

    # numpy reference from the synthesis formula
    i = 2
    n = 512 + (i % 8) * 64
    t = np.arange(n, dtype=np.int64)
    cls = (t // 64 + i) % 4
    a, b = 1 + i % 7, 3 + i % 13
    loud = (a * t * t + b * t + i) % 2048 - 1024
    med = (a * t * t + b * t + i) % 720 - 360
    sil = (3 * t + i) % 16 - 8
    ref = np.where(cls == 0, sil, np.where(cls == 3, med, loud))
    for r in segs.collect():
        got = out[r.seg_no]
        lo, hi = r.f0 * 64, (r.f1 + 1) * 64
        assert got.n_samples == hi - lo
        assert got.sample_sum == int(ref[lo:hi].sum())
        assert (got.first_sample, got.last_sample) == (
            int(ref[lo]), int(ref[hi - 1]),
        )
        # clip parses as a WAV with exactly the segment's frames
        clip = spark.createDataFrame(
            pd.DataFrame(
                [(1, bytes(got.payload))], columns=["doc_id", "payload"]
            ),
            "doc_id long, payload binary",
        )
        fp = multimodal.audio_fingerprint(clip).collect()[0]
        assert fp.n_frames == r.f1 - r.f0 + 1

    # out-of-range and null-frame segment rows skip, valid one survives
    bogus = spark.createDataFrame(
        [(2, 1, 0, 999), (2, 2, 0, 0), (2, 3, None, 0), (2, 4, 0, None)],
        "doc_id long, seg_no int, f0 int, f1 int",
    )
    kept = multimodal.wav_extract_segments(wavs, bogus).collect()
    assert [r.seg_no for r in kept] == [2]


def test_wav_trim_and_audio_chunk_near_dup(spark):
    """d172 operator contract: a chunk-aligned trim pairs with its
    original at one offset with a bit-exact chunk (min_hamming 0); a
    half-frame phase shift breaks every chunk signature (no pair —
    the negative control); wav_trim skips malformed payloads and
    starts past the end, honors n_samples, and validates args."""
    import pytest as _pytest

    from pandas_db_sdk_spark import multimodal

    ids = spark.createDataFrame([(3,), (4,)], "doc_id long")
    orig = multimodal.synth_chirp_wav(ids, extra=1000)

    # n_samples cap: trimmed clip has exactly the requested samples
    capped = multimodal.wav_trim(orig, start_sample=64, n_samples=128)
    fp = multimodal.audio_fingerprint(capped).collect()
    assert {r.n_frames for r in fp} == {2}

    aligned = multimodal.wav_trim(orig, start_sample=640).select(
        (F.col("doc_id") + 1000).alias("doc_id"), "payload"
    )
    shifted = multimodal.wav_trim(orig, start_sample=320).select(
        (F.col("doc_id") + 2000).alias("doc_id"), "payload"
    )
    fleet = orig.unionAll(aligned).unionAll(shifted)
    out = {
        (r.id_a, r.id_b): r
        for r in multimodal.audio_chunk_near_dup(fleet).collect()
    }
    assert set(out) == {(3, 1003), (4, 1004)}
    for r in out.values():
        assert (r.n_shared, r.n_offsets, r.offset, r.min_hamming) == (
            1, 1, -1, 0,
        )

    # poison: malformed payload and start past the end both skip
    bad = spark.createDataFrame(
        [(9, bytearray(b"not a wav"))], "doc_id long, payload binary"
    )
    assert multimodal.wav_trim(bad).count() == 0
    assert multimodal.wav_trim(orig, start_sample=10**9).count() == 0
    with _pytest.raises(ValueError, match="start_sample"):
        multimodal.wav_trim(orig, start_sample=-1)
    with _pytest.raises(ValueError, match="n_samples"):
        multimodal.wav_trim(orig, n_samples=0)

    # composite-key contract ENFORCED: an id >= 2^43 would silently
    # corrupt the track<<20|chunk band key, so it raises instead
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import SparkRuntimeException

    huge = orig.select(
        (F.col("doc_id") + F.lit(1 << 43)).alias("doc_id"), "payload"
    )
    with _pytest.raises(
        (SparkRuntimeException, Py4JJavaError),
        match="composite-key contract",
    ):
        multimodal.audio_chunk_near_dup(huge).collect()


def test_audio_phase_robust_near_dup(spark):
    """d173 operator contract: the half-chunk-shifted copy that
    audio_chunk_near_dup certifiably MISSES (d172's negative control)
    pairs with its original at ONE consistent frame-granular offset
    with bit-exact chunks (min_hamming 0); the chunk-aligned copy
    still pairs; short tail chunks are excluded from banding (no
    universal val=0 collisions across unrelated tracks); min_frames
    validates."""
    import pytest as _pytest

    from pandas_db_sdk_spark import multimodal

    ids = spark.createDataFrame([(3,), (4,)], "doc_id long")
    orig = multimodal.synth_chirp_wav(ids, extra=1000)
    shifted = multimodal.wav_trim(orig, start_sample=320).select(
        (F.col("doc_id") + 2000).alias("doc_id"), "payload"
    )
    fleet = orig.unionAll(shifted)
    out = {
        (r.id_a, r.id_b): r
        for r in multimodal.audio_phase_robust_near_dup(fleet).collect()
    }
    # ONLY the true copies pair — no cross-track row despite 2 tracks x
    # ~10 overlapping chunk phases each (the min_frames guard at work)
    assert set(out) == {(3, 2003), (4, 2004)}
    for r in out.values():
        assert (r.n_shared, r.n_offsets, r.offset, r.min_hamming) == (
            9, 1, -5, 0,
        )

    with _pytest.raises(ValueError, match="min_frames"):
        multimodal.audio_phase_robust_near_dup(fleet, min_frames=1)
    with _pytest.raises(ValueError, match="chunk_hop"):
        multimodal.audio_phase_robust_near_dup(fleet, chunk_hop=0)


def test_video_rescale_near_dup_and_grid_sig(spark):
    """d175 operator contract: an area-rescaled (and trimmed) copy
    that video_shingle_near_dup certifiably MISSES (exact checksums —
    zero rows on this fleet) pairs with its original at one consistent
    offset under the grid-gradient signature; the signature is
    bit-identical across resolutions; rescale validates args and skips
    non-divisible/malformed streams."""
    import pytest as _pytest

    from pandas_db_sdk_spark import multimodal

    ids = spark.createDataFrame([(2,), (5,)], "doc_id long")
    orig = multimodal.synth_textured_y4m(ids)
    resc = multimodal.y4m_rescale_area(
        multimodal.y4m_trim(orig, start=1), factor=2
    )

    # signature invariance: rescaled frame f == original frame f+1
    so = {
        (r.doc_id, r.frame_no): r.grid_sig
        for r in multimodal.y4m_frame_grid_sig(orig).collect()
    }
    sc = {
        (r.doc_id, r.frame_no): r.grid_sig
        for r in multimodal.y4m_frame_grid_sig(resc).collect()
    }
    assert sc and all(sc[(i, f)] == so[(i, f + 1)] for (i, f) in sc)

    copy = resc.select((F.col("doc_id") + 1000).alias("doc_id"), "payload")
    fleet = orig.unionAll(copy)
    # the exact-checksum matcher is blind to the rescaled copy ...
    assert multimodal.video_shingle_near_dup(fleet).count() == 0
    # ... the grid-signature matcher pairs it at ONE offset
    out = {
        (r.id_a, r.id_b): r
        for r in multimodal.video_rescale_near_dup(fleet).collect()
    }
    assert set(out) == {(2, 1002), (5, 1005)}
    for (a, _), r in out.items():
        assert (r.n_shared, r.n_offsets, r.offset) == (1 + a % 4, 1, -1)

    # poison/validation: odd dimensions skip, bad magic skips
    import pandas as pd

    bad = spark.createDataFrame(
        pd.DataFrame(
            [(9, b"YUV4MPEG2 W15 H15 F25:1 Ip A1:1 C444\n"),
             (10, b"not a y4m")],
            columns=["doc_id", "payload"],
        ),
        "doc_id long, payload binary",
    )
    assert multimodal.y4m_rescale_area(bad).count() == 0
    assert multimodal.y4m_frame_grid_sig(bad).count() == 0

    # the rescaled header keeps every input tag but W and H: an NTSC
    # frame rate and a chroma siting suffix survive the rescale
    src = bytes(
        multimodal.synth_y4m(ids.limit(1), chroma="420").collect()[0].payload
    )
    ntsc = src.replace(b"F25:1", b"F30000:1001", 1).replace(
        b"C420", b"C420jpeg", 1
    )
    ntsc_df = spark.createDataFrame(
        [(2, bytearray(ntsc))], "doc_id long, payload binary"
    )
    out = multimodal.y4m_rescale_area(ntsc_df).collect()
    assert bytes(out[0].payload).split(b"\n", 1)[0] == (
        b"YUV4MPEG2 W8 H8 F30000:1001 Ip A1:1 C420jpeg"
    )
    with _pytest.raises(ValueError, match="factor"):
        multimodal.y4m_rescale_area(orig, factor=1)
    with _pytest.raises(ValueError, match="grid"):
        multimodal.y4m_frame_grid_sig(orig, grid=1)


def test_video_fps_near_dup_and_tick_sig(spark):
    """d177 operator contract: a divisible frame-rate copy
    (y4m_decimate every_n=5, F25:1 -> F25:5) that
    video_rescale_near_dup certifiably MISSES (frame-indexed
    signatures — zero rows on this fleet) pairs with its original at
    one consistent TICK offset under the time-anchored signature;
    tick signatures are bit-identical across frame rates; decimate
    rewrites the F tag and skips streams without one; validation
    guards raise."""
    import pytest as _pytest

    from pandas_db_sdk_spark import multimodal

    ids = spark.createDataFrame([(2,), (5,)], "doc_id long")
    orig = multimodal.synth_textured_y4m(
        ids, n_frames_base=21, n_frames_step=5
    )
    dec = multimodal.y4m_decimate(orig, every_n=5)

    # the F tag rewrite preserves timestamps: F25:1 -> F25:5
    for r in dec.collect():
        head = bytes(r.payload).split(b"\n", 1)[0]
        assert b"F25:5" in head.split(b" ")
    # tick bit-identity: every tick of the copy equals the original's
    so = {
        (r.doc_id, r.tick): r.grid_sig
        for r in multimodal.y4m_tick_grid_sig(orig).collect()
    }
    sc = {
        (r.doc_id, r.tick): r.grid_sig
        for r in multimodal.y4m_tick_grid_sig(dec).collect()
    }
    assert sc and set(sc) == set(so)
    assert all(sc[k] == so[k] for k in sc)

    copy = dec.select((F.col("doc_id") + 1000).alias("doc_id"), "payload")
    fleet = orig.unionAll(copy)
    # the frame-indexed matcher is blind to the frame-rate copy ...
    assert multimodal.video_rescale_near_dup(fleet).count() == 0
    # ... the tick-anchored matcher pairs it at ONE zero offset
    out = {
        (r.id_a, r.id_b): r
        for r in multimodal.video_fps_near_dup(fleet).collect()
    }
    assert set(out) == {(2, 1002), (5, 1005)}
    for (a, _), r in out.items():
        assert (r.n_shared, r.n_offsets, r.offset) == (4 + a % 4, 1, 0)

    # poison: a stream without an F tag skips both fps-anchored ops
    import pandas as pd

    nofps = spark.createDataFrame(
        pd.DataFrame(
            [(9, b"YUV4MPEG2 W4 H4 C444\n" + b"FRAME\n" + b"\x00" * 48)],
            columns=["doc_id", "payload"],
        ),
        "doc_id long, payload binary",
    )
    assert multimodal.y4m_decimate(nofps).count() == 0
    assert multimodal.y4m_tick_grid_sig(nofps).count() == 0
    with _pytest.raises(ValueError, match="every_n"):
        multimodal.y4m_decimate(orig, every_n=0)
    with _pytest.raises(ValueError, match="tick_hz"):
        multimodal.y4m_tick_grid_sig(orig, tick_hz=0)
    with _pytest.raises(ValueError, match="grid"):
        multimodal.y4m_tick_grid_sig(orig, grid=1)


def test_limb_helpers_match_bigint_reference():
    """The int64-limb energy/sign/argmax helpers must reproduce Python
    big-int arithmetic EXACTLY, including at the |re| < 2^63 extreme the
    frame_len guard permits (squares up to ~2^126)."""
    import numpy as np

    from pandas_db_sdk_spark.multimodal import (
        _band_energy_limbs,
        _chroma_ddiff_bits,
        _limb_argmax_first,
    )

    rng = np.random.default_rng(7)
    big = 2**63 - 1
    # adversarial magnitudes: zero, ±1, near-max, and random mid-range
    pool = np.array(
        [0, 1, -1, big, -big, big - 1, 2**42, -(2**42) - 1, 12345, -987654321],
        dtype=np.int64,
    )
    frames, bins = 16, 9
    re_m = rng.choice(pool, size=(frames, bins)).astype(np.int64)
    im_m = rng.choice(pool, size=(frames, bins)).astype(np.int64)
    # sprinkle uniform random values over half the cells
    mask = rng.random((frames, bins)) < 0.5
    rand = rng.integers(-big, big, size=(frames, bins), dtype=np.int64)
    re_m[mask] = rand[mask]

    # energies as exact Python ints
    e_ref = [
        [int(re_m[f, b]) ** 2 + int(im_m[f, b]) ** 2 for b in range(bins)]
        for f in range(frames)
    ]
    # limb energies reassembled must equal the reference
    limbs = _band_energy_limbs(re_m, im_m)
    for f in range(frames):
        for b in range(bins):
            got = sum(int(limbs[f, b, i]) << (21 * i) for i in range(5))
            assert got == e_ref[f][b]

    # double-difference bits vs the big-int loop
    nb1 = bins - 2
    ref_bits = np.zeros((frames - 1, nb1), dtype=bool)
    for f in range(1, frames):
        for p in range(nb1):
            g1 = e_ref[f][p + 1] - e_ref[f][p + 2]
            g0 = e_ref[f - 1][p + 1] - e_ref[f - 1][p + 2]
            ref_bits[f - 1, p] = g1 - g0 > 0
    got_bits = _chroma_ddiff_bits(re_m, im_m)
    assert np.array_equal(got_bits, ref_bits)

    # first-max argmax vs the object-dtype rule (ties to lowest index)
    dup = re_m.copy()
    dup[:, 4] = dup[:, 2]  # force exact ties
    im_d = im_m.copy()
    im_d[:, 4] = im_d[:, 2]
    e2 = _band_energy_limbs(dup[:, 1:], im_d[:, 1:])
    po = dup[:, 1:].astype(object)
    qo = im_d[:, 1:].astype(object)
    ref_arg = np.argmax(po * po + qo * qo, axis=1)
    assert np.array_equal(_limb_argmax_first(e2), ref_arg)


def _jpeg_seg(marker, payload):
    import struct

    return bytes([0xFF, marker]) + struct.pack(">H", 2 + len(payload)) + payload


def test_jpeg_dc_category_over_16_returns_none_all_layouts():
    """The DC-category guard holds in every layout, not only gray
    baseline: a DHT whose only DC symbol is category 20 (code 00000)
    over all-zero scan data must fail a color baseline file and a
    complete-script gray progressive file, never decode a clipped
    image from a 20-bit amplitude."""
    import numpy as np

    from pandas_db_sdk_spark.multimodal import (
        _JPEG_DC_LENGTHS,
        _dht_payload,
        _jpeg_decode_color_420,
        _jpeg_decode_gray_progressive,
        _jpeg_encode_color_420,
        _jpeg_encode_gray_progressive,
    )

    dc_seg = _jpeg_seg(0xC4, _dht_payload(0, 0, _JPEG_DC_LENGTHS))
    bad_seg = _jpeg_seg(0xC4, _dht_payload(0, 0, {20: 5}))

    zeros = np.zeros((1, 1, 8, 8), dtype=np.int64)
    color = _jpeg_encode_color_420(
        np.zeros((2, 2, 8, 8), dtype=np.int64), zeros, zeros,
        np.full((8, 8), 16, dtype=np.int64), np.full((8, 8), 8, dtype=np.int64),
    )
    assert _jpeg_decode_color_420(color) is not None
    assert color.count(dc_seg) == 1
    color = color.replace(dc_seg, bad_seg)
    # the 3-component SOS segment is 14 bytes; then zero scan data, enough
    # for every block at 25 + 4 bits (luma) or 8 bits (chroma)
    scan_at = color.index(b"\xff\xda") + 14
    assert _jpeg_decode_color_420(color[:scan_at] + b"\x00" * 64 + b"\xff\xd9") is None

    gray = _jpeg_encode_gray_progressive(
        zeros, np.full((8, 8), 16, dtype=np.int64), bands=((1, 63),)
    )
    assert _jpeg_decode_gray_progressive(gray) is not None
    gray = gray.replace(dc_seg, bad_seg)
    # swap the DC scan's data (after its 10-byte SOS) for four zero bytes;
    # the AC scan stays intact, so the script is complete
    first = gray.index(b"\xff\xda")
    second = gray.index(b"\xff\xda", first + 2)
    bad = gray[: first + 10] + b"\x00" * 4 + gray[second:]
    assert _jpeg_decode_gray_progressive(bad) is None


def test_jpeg_decoders_tolerate_fill_bytes():
    """0xFF fill bytes before a marker are legal padding (T.81
    §B.1.1.2) wherever the decoder walks markers — before DQT, before
    SOF and before every SOS, including the ones the walk reaches after
    a scan's entropy data. Each layout decodes the padded file to the
    same image as the plain one."""
    import numpy as np

    from pandas_db_sdk_spark.multimodal import (
        _jpeg_decode_color_420,
        _jpeg_decode_color_420_progressive,
        _jpeg_decode_gray,
        _jpeg_decode_gray_progressive,
        _jpeg_encode_color_420,
        _jpeg_encode_color_420_progressive,
        _jpeg_encode_gray,
        _jpeg_encode_gray_progressive,
        _jpeg_encode_gray_progressive_sa,
    )

    def pad(enc):
        # entropy data never holds FF followed by these marker bytes
        # (the encoder stuffs every FF), so a plain replace hits markers only
        for m in (b"\xdb", b"\xc0", b"\xc2", b"\xda"):
            enc = enc.replace(b"\xff" + m, b"\xff\xff\xff" + m)
        return enc

    rng = np.random.RandomState(5)
    q = np.full((8, 8), 16, dtype=np.int64)
    coefs = rng.randint(-30, 30, size=(2, 3, 8, 8)).astype(np.int64)
    yc = rng.randint(-20, 20, size=(2, 4, 8, 8)).astype(np.int64)
    cbc = rng.randint(-12, 12, size=(1, 2, 8, 8)).astype(np.int64)
    crc = rng.randint(-12, 12, size=(1, 2, 8, 8)).astype(np.int64)
    qc = np.full((8, 8), 8, dtype=np.int64)
    cases = [
        (_jpeg_decode_gray, _jpeg_encode_gray(coefs, q)),
        (_jpeg_decode_gray_progressive, _jpeg_encode_gray_progressive(coefs, q)),
        (_jpeg_decode_gray_progressive, _jpeg_encode_gray_progressive_sa(coefs, q)),
        (_jpeg_decode_color_420, _jpeg_encode_color_420(yc, cbc, crc, q, qc)),
        (
            _jpeg_decode_color_420_progressive,
            _jpeg_encode_color_420_progressive(yc, cbc, crc, q, qc, sa=True),
        ),
    ]
    for k, (decode, enc) in enumerate(cases):
        padded = pad(enc)
        assert len(padded) >= len(enc) + 6, k
        plain = decode(enc)
        got = decode(padded)
        assert plain is not None and got is not None, k
        assert (got == plain).all(), k


def test_jpeg_gray_progressive_incomplete_script_rejected():
    """A gray progressive file whose scan script leaves coefficients
    undelivered is rejected, as color progressive files are: dropping
    the last band scan, or a middle one, returns None instead of an
    image missing those frequencies."""
    import numpy as np

    from pandas_db_sdk_spark.multimodal import (
        _jpeg_decode_gray_progressive,
        _jpeg_encode_gray_progressive,
    )

    q = np.full((8, 8), 16, dtype=np.int64)
    coefs = np.random.RandomState(9).randint(-30, 30, size=(2, 2, 8, 8))
    enc = _jpeg_encode_gray_progressive(coefs.astype(np.int64), q)
    assert _jpeg_decode_gray_progressive(enc) is not None
    last = enc.rindex(b"\xff\xda")
    assert _jpeg_decode_gray_progressive(enc[:last] + b"\xff\xd9") is None

    enc = _jpeg_encode_gray_progressive(
        coefs.astype(np.int64), q, bands=((1, 2), (3, 20), (21, 63))
    )
    sos = [i for i in range(len(enc) - 1) if enc[i : i + 2] == b"\xff\xda"]
    assert len(sos) == 4
    dropped = enc[: sos[2]] + enc[sos[3] :]  # the 3..20 band scan
    assert _jpeg_decode_gray_progressive(dropped) is None


def test_jpeg_color_restart_intervals_result_invisible():
    """DRI/RSTn in a 3-component sequential file: the interleaved scan
    splits every ``ri`` MCUs (each MCU = 4 luma + 2 chroma blocks), each
    interval byte-aligned with all three DC predictors reset, and the
    file decodes to the same image as the one without DRI."""
    import numpy as np

    from pandas_db_sdk_spark.multimodal import (
        _JPEG_YCC420,
        _jpeg_decode_color_420,
        _jpeg_encode,
    )

    ql = np.full((8, 8), 16, dtype=np.int64)
    qc = np.full((8, 8), 8, dtype=np.int64)
    script = [((0, 1, 2), 0, 63, 0, 0)]
    rng = np.random.RandomState(17)
    for i in range(6):
        mx, my = 1 + i % 2, 2
        grids = [
            rng.randint(-20, 20, size=(2 * my, 2 * mx, 8, 8)).astype(np.int64),
            rng.randint(-12, 12, size=(my, mx, 8, 8)).astype(np.int64),
            rng.randint(-12, 12, size=(my, mx, 8, 8)).astype(np.int64),
        ]
        plain = _jpeg_decode_color_420(
            _jpeg_encode(grids, _JPEG_YCC420, [ql, qc], script)
        )
        assert plain is not None
        for ri in (1, 2, 3):
            enc = _jpeg_encode(
                grids, _JPEG_YCC420, [ql, qc], script, restart_interval=ri
            )
            assert b"\xff\xdd\x00\x04" + bytes([0, ri]) in enc
            got = _jpeg_decode_color_420(enc)
            assert got is not None and (got == plain).all(), (i, ri)


def test_jpeg_color_progressive_band_splits_match_baseline():
    """Color progressive AC scans may split 1..63 into any bands, with
    or without successive approximation: each script decodes to the
    baseline image of the same coefficients."""
    import numpy as np

    from pandas_db_sdk_spark.multimodal import (
        _JPEG_YCC420,
        _jpeg_decode_color_420,
        _jpeg_decode_color_420_progressive,
        _jpeg_encode,
        _jpeg_encode_color_420,
        _jpeg_progressive_script,
    )

    ql = np.full((8, 8), 16, dtype=np.int64)
    qc = np.full((8, 8), 8, dtype=np.int64)
    rng = np.random.RandomState(29)
    for i in range(4):
        mx, my = 1 + i % 2, 1 + i // 2
        yc = rng.randint(-20, 20, size=(2 * my, 2 * mx, 8, 8)).astype(np.int64)
        cbc = rng.randint(-12, 12, size=(my, mx, 8, 8)).astype(np.int64)
        crc = rng.randint(-12, 12, size=(my, mx, 8, 8)).astype(np.int64)
        base = _jpeg_decode_color_420(_jpeg_encode_color_420(yc, cbc, crc, ql, qc))
        assert base is not None
        for bands in (((1, 5), (6, 63)), ((1, 2), (3, 20), (21, 63))):
            for al in (0, 1):
                enc = _jpeg_encode(
                    [yc, cbc, crc], _JPEG_YCC420, [ql, qc],
                    _jpeg_progressive_script(3, bands, al),
                )
                got = _jpeg_decode_color_420_progressive(enc)
                assert got is not None and (got == base).all(), (i, bands, al)


def test_every_payload_operator_survives_a_null_payload(spark):
    """Null-row coverage for the whole payload surface: every public
    ``multimodal`` function with a ``payload_col`` parameter runs on a
    ``(doc_id, None)`` row in one union job. The job must not fail; the
    null reads as an empty payload, so each operator applies its own
    rule — skip, except ``parse_media_headers`` (format 'unknown') and
    ``warc_gz_indexed_fetch`` (fetch_ok = 0). A new payload operator
    joins this job automatically; one that needs another argument
    fails here until ``extra`` supplies it."""
    import inspect
    import json
    import warnings

    df = spark.createDataFrame(
        [(1, None, 16, 16, 0, 8)],
        "doc_id long, payload binary, width int, height int, offset long, length long",
    )
    extra = {
        "segments": spark.createDataFrame(
            [(1, 1, 0, 0)], "doc_id long, seg_no int, f0 int, f1 int"
        )
    }
    outs = []
    for name, fn in inspect.getmembers(multimodal, inspect.isfunction):
        params = inspect.signature(fn).parameters
        if name.startswith("_") or "payload_col" not in params:
            continue
        need = [
            p for p in list(params)[1:] if params[p].default is inspect.Parameter.empty
        ]
        with warnings.catch_warnings():
            warnings.simplefilter("ignore")  # the unvalved near-dup warning
            out = fn(df, **{p: extra[p] for p in need})
        outs.append(
            out.select(F.lit(name).alias("op"), F.to_json(F.struct("*")).alias("row"))
        )
    assert len(outs) >= 30
    got = {
        (r.op, r.row)
        for r in functools.reduce(DataFrame.unionByName, outs).collect()
    }
    got = {(op, tuple(sorted(json.loads(row).items()))) for op, row in got}
    assert got == {
        ("parse_media_headers", (("doc_id", 1), ("format", "unknown"))),
        ("warc_gz_indexed_fetch", (("doc_id", 1), ("fetch_ok", 0), ("offset", 0))),
    }, got
