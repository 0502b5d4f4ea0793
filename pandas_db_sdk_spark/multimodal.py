"""Multimodal columns — SURVEY §2 D7 (north-star).

Model: media are opaque `binary` payload columns traveling next to typed
metadata (a struct of modality/byte-size/checksum). Parquet stores binary
natively, partition pruning and column projection still work, and payloads
only flow through stages that touch them (column pruning drops them
elsewhere — the key to 100 TB pipelines with heavy media columns).

Decode / feature-extraction run as Arrow-batched `mapInPandas` over the
binary column, through one row driver (`_map_rows`): a null payload reads
as b"", which every reader rejects, so it never fails a job. No media
library ships in this container, so the codecs here are implemented FROM
FIRST PRINCIPLES and oracle-certified — by round 10 the modeled-format
ladder is closed:

* containers: PNG/RIFF/MP4 header walks, WARC/1.0 + `.warc.gz`
  (member-per-record) ingestion, CDX-style (offset, length) random
  access proven byte-for-byte;
* PNG: the full matrix — 8/16-bit truecolor and 8-bit palette, each
  sequential or Adam7-interlaced, DEFLATE + all five filters;
* JPEG: baseline grayscale and YCbCr 4:2:0 color, restart intervals
  (DRI/RSTn), progressive spectral selection AND successive
  approximation, gray and color;
* audio: WAV parse + rational linear resample + fixed-point polyphase
  windowed-sinc resample (160/147);
* signatures: perceptual average-hash (the image near-dup key).

Formats beyond the modeled ladder (PIL/libav-class libraries) are out of
scope: no codec library ships here.
"""

from __future__ import annotations

from typing import Iterator, NamedTuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def attach_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Manufacture a binary payload column (+ typed metadata struct) from a
    text column — the test-fixture analogue of real image/audio bytes."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.withColumn("payload", payload).withColumn(
        "media_meta",
        F.struct(
            F.lit("text/plain").alias("modality"),
            F.octet_length(payload).alias("n_bytes"),
            F.sha2(payload, 256).alias("sha256"),
        ),
    )


def _ddl_names(schema: str) -> list:
    """The column names of a flat DDL schema (``"a long, b binary"``)."""
    return [field.split()[0] for field in schema.split(",")]


def _payload(v) -> bytes:
    """A binary cell as bytes. A null payload reads as b"", which every
    reader treats as malformed, so a null row never fails a job."""
    return b"" if v is None else bytes(v)


def _map_rows(df: DataFrame, cols: list, schema: str, fn) -> DataFrame:
    """The one Arrow row driver of the payload operators and ``synth_*``
    fixtures: project ``df`` to ``cols``, call ``fn(*values)`` once per
    row (binary columns as :func:`_payload` bytes, the rest as Python
    values; a null int arrives as NaN) and emit every tuple it yields as
    a row of the DDL ``schema``. Zero shuffles."""
    from pyspark.sql.types import BinaryType

    names = _ddl_names(schema)
    binary = [isinstance(df.schema[c].dataType, BinaryType) for c in cols]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vals = [
                [_payload(v) for v in pdf[c]] if is_bin else pdf[c].tolist()
                for c, is_bin in zip(cols, binary)
            ]
            rows = [row for v in zip(*vals) for row in fn(*v)]
            yield pd.DataFrame(rows, columns=names)

    return df.select(*cols).mapInPandas(run, schema)


def _pattern_rgb(i: int, w: int, h: int):
    """The d93 test frame: (h, w, 3) uint8 with pixel (x, y, c) =
    (7·i + 3·x + 5·y + 11·c) mod 256 — shared by the raw, BMP/PPM and
    PNG fixtures, so every image oracle replays one formula."""
    y, x, c = np.meshgrid(np.arange(h), np.arange(w), np.arange(3), indexing="ij")
    return ((7 * i + 3 * x + 5 * y + 11 * c) % 256).astype(np.uint8)


def _wav_pcm16(data: bytes, sr: int, ch: int = 1) -> bytes:
    """A RIFF/WAVE file around 16-bit little-endian PCM ``data``: the
    fmt chunk (PCM, ``ch`` channels at ``sr`` Hz) and one data chunk."""
    import struct

    fmt = struct.pack("<HHIIHH", 1, ch, sr, sr * ch * 2, ch * 2, 16)
    body = b"WAVEfmt " + struct.pack("<I", 16) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _wav_chunks(b: bytes):
    """The one RIFF/WAVE chunk walk: ``(codec, channels, sample_rate,
    bits, data_offset, data_len)`` from the ``fmt `` and ``data``
    chunks, or None when ``b`` is not RIFF/WAVE, lacks either chunk, or
    its ``fmt `` chunk is cut short. ``data_len`` is the DECLARED length;
    the data chunk may run past the end of ``b`` (readers of samples
    check that). When a file holds several ``fmt `` (or ``data``) chunks,
    the last one wins. ``fmt `` chunks shorter than 16 bytes are skipped.
    Never raises."""
    import struct

    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        (clen,) = struct.unpack_from("<I", b, pos + 4)
        if cid == b"fmt " and clen >= 16:
            if pos + 24 > len(b):
                return None
            fmt = struct.unpack_from("<HHIIHH", b, pos + 8)
        elif cid == b"data":
            data = (pos + 8, clen)
        pos += 8 + clen + (clen & 1)
    if fmt is None or data is None:
        return None
    codec, ch, sr, _, _, bits = fmt
    return codec, ch, sr, bits, data[0], data[1]


def _wav_pcm16_mono(b: bytes):
    """``(sample_rate, int16 samples)`` of a PCM, mono, 16-bit WAV whose
    data chunk is complete (and a whole number of samples), else None —
    the sample reader every audio operator uses."""
    got = _wav_chunks(b)
    if got is None:
        return None
    codec, ch, sr, bits, off, n = got
    if codec != 1 or ch != 1 or bits != 16 or off + n > len(b) or n % 2:
        return None
    return sr, np.frombuffer(b, dtype="<i2", count=n // 2, offset=off)


def _check_dft_frame_len(op: str, frame_len: int) -> None:
    """Exact-int64 bound of the integer DFT: |re| <= 32768 (int16) ·
    10^6 (basis scale) · frame_len must stay under 2^63 — beyond it
    numpy wraps silently."""
    if frame_len > (2**63 - 1) // (32768 * 10**6):
        raise ValueError(
            f"{op}: frame_len > 281474 overflows the exact-int64 DFT "
            "accumulator (|re| <= 32768 * 1e6 * frame_len); use a shorter "
            "window"
        )


def _int_dft_basis(n_bins: int, frame_len: int):
    """The integer Fourier basis (cos_i, sin_i), each (n_bins, frame_len)
    int64: Ck[t] = round_half_away(cos(2·pi·k·t/frame_len) · 10^6)
    (resp. sin), so a frame's re/im at bins 0..n_bins-1 are exact int64
    matmuls an oracle replays."""
    k = np.arange(n_bins).reshape(-1, 1).astype(np.float64)
    t = np.arange(frame_len).reshape(1, -1).astype(np.float64)
    ang = 2 * np.pi * k * t / frame_len
    cos_t = np.cos(ang) * 1e6
    sin_t = np.sin(ang) * 1e6
    cos_i = (np.sign(cos_t) * np.floor(np.abs(cos_t) + 0.5)).astype(np.int64)
    sin_i = (np.sign(sin_t) * np.floor(np.abs(sin_t) + 0.5)).astype(np.int64)
    return cos_i, sin_i


def synth_media_payload(
    df: DataFrame, id_col: str = "doc_id", kinds: int = 3
) -> DataFrame:
    """Manufacture REAL container bytes per row — a valid minimal PNG
    (signature + IHDR chunk with a correct CRC32) for id%3==0, a valid
    RIFF/WAVE file (fmt chunk + zero-filled data chunk) for id%3==1, and a
    valid MP4/ISO-BMFF skeleton (ftyp + moov{mvhd, trak{tkhd}} boxes,
    16.16 fixed-point track dimensions) for id%3==2 — with every header
    field a deterministic function of the id. ``kinds=4`` adds a valid
    baseline JPEG (SOI + JFIF APP0 + SOF0 frame header) on id%4==3 and
    switches the rotation to modulo 4 (the default stays modulo 3: d48's
    certified oracle depends on that mapping byte-for-byte). The fixture
    generator for `parse_media_headers`: because the fields derive from the
    id arithmetically, an engine-independent oracle can certify the whole
    encode→parse round trip without any codec library.

    Binary construction is Python-side by design — this IS the UDF tier
    of the multimodal surface."""

    import struct

    def png(i: int) -> bytes:
        w, h = 16 + i % 64, 16 + (i * 7) % 64
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        return _PNG_MAGIC + _png_chunk(b"IHDR", ihdr)

    def box(btype: bytes, payload: bytes) -> bytes:
        return struct.pack(">I", 8 + len(payload)) + btype + payload

    def mp4(i: int) -> bytes:
        timescale, dur_s = 600, 5 + i % 20
        w, h = 320 + (i % 16) * 16, 240 + (i * 3 % 16) * 16
        mvhd = box(
            b"mvhd",
            b"\x00\x00\x00\x00"  # version 0 + flags
            + struct.pack(">II", 0, 0)  # creation/modification
            + struct.pack(">II", timescale, timescale * dur_s)
            + b"\x00" * 80,  # rate/volume/reserved/matrix/predefines/next-track
        )
        tkhd = box(
            b"tkhd",
            b"\x00\x00\x00\x07"  # version 0 + enabled flags
            + struct.pack(">IIII", 0, 0, 1, 0)  # times, track id, reserved
            + struct.pack(">I", timescale * dur_s)
            + b"\x00" * 52  # reserved/layer/volume/matrix
            + struct.pack(">II", w << 16, h << 16),  # 16.16 fixed point
        )
        moov = box(b"moov", mvhd + box(b"trak", tkhd))
        ftyp = box(b"ftyp", b"isom" + struct.pack(">I", 512) + b"isomiso2")
        return ftyp + moov

    def jpeg(i: int) -> bytes:
        w, h = 32 + i % 96, 32 + (i * 5) % 96
        app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + bytes(
            [1, 1, 0]
        ) + struct.pack(">HH", 1, 1) + bytes([0, 0])
        comps = b"".join(bytes([c, 0x11, 0]) for c in (1, 2, 3))
        sof0 = (
            b"\xff\xc0"
            + struct.pack(">H", 8 + len(comps))
            + bytes([8])
            + struct.pack(">HH", h, w)
            + bytes([3])
            + comps
        )
        return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"

    def wav(i: int) -> bytes:
        ch = 1 + i % 2
        sr = 8000 + (i % 8) * 1000
        n_samples = 1000 + i % 100
        return _wav_pcm16(b"\x00" * (n_samples * ch * 2), sr, ch)

    def payload(i: int):
        k = i % 3 if kinds == 3 else i % 4
        yield i, (png, wav, mp4, jpeg)[k](i)

    return _map_rows(df, [id_col], f"{id_col} long, payload binary", payload)


def parse_media_headers(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """REAL media metadata extraction — no codec library, pure container
    parsing: PNG signature + IHDR (width/height/bit depth, CRC-verified)
    and RIFF/WAVE fmt (channels/sample rate/bits, duration from the data
    chunk). This is the resolution/duration gating tier every multimodal
    training pipeline runs BEFORE decode — and the one tier that needs no
    codecs.

    Unparseable payloads degrade to format='unknown' with null fields,
    never an executor error."""
    import struct

    def header(b: bytes) -> tuple:
        # PNG: the first chunk, CRC-checked, must be the IHDR
        ck = next(_png_chunks(b), None) if len(b) >= 33 else None
        if ck and ck[0] == b"IHDR" and len(ck[1]) >= 9:
            w, h, depth = struct.unpack_from(">IIB", ck[1])
            return ("png", w, h, depth, None, None, None)
        # JPEG: the first start-of-frame (SOF0/1/2) header
        for m, pos, _ in _jpeg_segments(b):
            if m in (0xC0, 0xC1, 0xC2) and pos + 9 <= len(b):
                prec = b[pos + 4]
                h, w = struct.unpack(">HH", b[pos + 5 : pos + 9])
                return ("jpeg", w, h, prec, None, None, None)
        wav = _wav_chunks(b)
        if wav is not None:
            # header only: any codec; duration from the declared
            # data length, so a cut-short data chunk still reports
            _, ch, sr, bits, _, data_len = wav
            if sr and ch and bits >= 8:
                dur = data_len / (sr * ch * (bits // 8))
                return ("wav", None, None, None, sr, ch, round(dur, 6))
        if len(b) >= 12 and b[4:8] == b"ftyp":
            # ISO-BMFF: walk top-level boxes for moov, then its
            # children for mvhd (timescale/duration) and trak/tkhd
            # (16.16 fixed-point dimensions)
            def walk(lo, hi):
                out = {}
                pos = lo
                while pos + 8 <= hi:
                    (blen,) = struct.unpack(">I", b[pos : pos + 4])
                    if blen < 8 or pos + blen > hi:
                        break
                    out[b[pos + 4 : pos + 8]] = (pos + 8, pos + blen)
                    pos += blen
                return out

            top = walk(0, len(b))
            if b"moov" in top:
                kids = walk(*top[b"moov"])
                ts = dur = w = h = None
                if b"mvhd" in kids:
                    lo, hi2 = kids[b"mvhd"]
                    if lo + 20 <= hi2:
                        ts, dur = struct.unpack(">II", b[lo + 12 : lo + 20])
                if b"trak" in kids:
                    tk = walk(*kids[b"trak"])
                    if b"tkhd" in tk:
                        lo, hi2 = tk[b"tkhd"]
                        # width/height end the box: 84 payload bytes
                        # in version 0, 96 in version 1
                        need = 96 if b[lo : lo + 1] == b"\x01" else 84
                        if hi2 - lo >= need:
                            wfix, hfix = struct.unpack(">II", b[hi2 - 8 : hi2])
                            w, h = wfix >> 16, hfix >> 16
                if ts:
                    return ("mp4", w, h, None, None, None, round(dur / ts, 6))
        return ("unknown", None, None, None, None, None, None)

    return _map_rows(
        df,
        [id_col, payload_col],
        f"{id_col} long, format string, width int, height int, bit_depth int, "
        "sample_rate int, n_channels int, duration_s double",
        lambda i, b: [(i, *header(b))],
    )


def synth_raw_rgb(
    df: DataFrame, id_col: str = "doc_id", width: int = 16, height: int = 16
) -> DataFrame:
    """Deterministic raw RGB888 bitmap per row — pixel value
    ``(7·id + 3·x + 5·y + 11·c) mod 256`` in row-major (y, x, c) layout.
    No container, no codec: this is the DECODED frame a real image
    pipeline would hand to feature extraction, so the pixel tier below
    can run REAL numpy math end-to-end in this environment (the container
    tier is d48; the codec step proper stays the documented stub).
    Same contract as ``synth_media_payload``."""

    def build(i: int):
        yield i, width, height, _pattern_rgb(i, width, height).tobytes()

    return _map_rows(
        df, [id_col], f"{id_col} long, width int, height int, payload binary", build
    )


def synth_raw_rgb_swapped(
    df: DataFrame, id_col: str = "doc_id", width: int = 16, height: int = 16
) -> DataFrame:
    """The NEAR-DUP variant of :func:`synth_raw_rgb` (r10, d117): the
    same deterministic frame with the two corner pixels SWAPPED —
    pixel (0,0,c) takes (w−1,h−1,c)'s value and vice versa.  A swap
    conserves the frame's total intensity exactly and touches only the
    two corner 8×8-grid blocks, so the aHash of the pair provably
    differs in AT MOST 2 of 64 bits: only blocks (0,0) and (7,7)
    change their sums, and the mean threshold (the total) is unchanged
    for every other block.  That bound is what lets the d117b oracle
    certify near-dup clustering arithmetically — the copy is GUARANTEED
    inside Hamming ≤ 3 of its original, so banding must pair them."""

    def build(i: int):
        arr = _pattern_rgb(i, width, height)
        corner = arr[0, 0, :].copy()
        arr[0, 0, :] = arr[height - 1, width - 1, :]
        arr[height - 1, width - 1, :] = corner
        yield i, width, height, arr.tobytes()

    return _map_rows(
        df, [id_col], f"{id_col} long, width int, height int, payload binary", build
    )


def synth_bmp_ppm(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Manufacture a REAL codec-free image file per row — a valid
    uncompressed 24-bit BMP (BITMAPFILEHEADER + BITMAPINFOHEADER,
    bottom-up BGR rows, 4-byte row padding) for even ids and a valid
    binary PPM (P6, ASCII header, top-down RGB rows) for odd ids.
    Dimensions and every pixel derive from the id arithmetically —
    width = 5 + id%8, height = 4 + (3·id)%8, pixel(x, y, c) =
    (7·id + 3·x + 5·y + 11·c) mod 256 (the d93 formula) — so an
    engine-independent oracle can certify the encode→decode→aggregate
    round trip without any codec library. Widths 5–12 make most BMP rows
    non-4-byte-aligned, so the padding path is genuinely exercised.

    Same contract as ``synth_media_payload``."""

    import struct

    def bmp(i: int, w: int, h: int) -> bytes:
        bgr = _pattern_rgb(i, w, h)[:, :, ::-1]  # BMP stores blue-green-red
        row_len = (w * 3 + 3) // 4 * 4
        rows = np.zeros((h, row_len), dtype=np.uint8)
        rows[:, : w * 3] = bgr.reshape(h, w * 3)
        pix = rows[::-1].tobytes()  # bottom-up row order
        info = struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(pix), 2835, 2835, 0, 0
        )
        head = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(pix), 0, 0, 54)
        return head + info + pix

    def ppm(i: int, w: int, h: int) -> bytes:
        return f"P6\n{w} {h}\n255\n".encode() + _pattern_rgb(i, w, h).tobytes()

    def image(i: int):
        w, h = 5 + i % 8, 4 + (3 * i) % 8
        yield i, bmp(i, w, h) if i % 2 == 0 else ppm(i, w, h)

    return _map_rows(df, [id_col], f"{id_col} long, payload binary", image)


# Adam7 pass geometry: (x0, y0, dx, dy) per pass, PNG spec §8.2
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    """The one PNG chunk writer: length, type, data, then the CRC-32 of
    type + data."""
    import struct
    import zlib

    body = ctype + data
    return struct.pack(">I", len(data)) + body + struct.pack(">I", zlib.crc32(body))


def _png_chunks(b: bytes):
    """The one PNG chunk walk: yields ``(type, data)`` per chunk after
    the signature. A wrong signature, or a chunk cut short or failing
    its CRC, yields None and ends the walk; a tail shorter than a chunk
    frame (12 bytes) ends it quietly. Never raises."""
    import struct
    import zlib

    if not b.startswith(_PNG_MAGIC):
        yield None
        return
    pos = 8
    while pos + 12 <= len(b):
        (ln,) = struct.unpack_from(">I", b, pos)
        end = pos + 12 + ln
        body = b[pos + 4 : end - 4]  # type + data
        if end > len(b) or zlib.crc32(body) != int.from_bytes(b[end - 4 : end], "big"):
            yield None
            return
        yield body[:4], body[4:]
        pos = end


def _png_filter_rows(raw, row_filter, bpp: int = 3) -> bytearray:
    """Filter an (h, stride) uint8 scanline grid into the PNG on-wire
    form — one filter-type byte + filtered bytes per row, the spec's
    mod-256 recurrences (0=None 1=Sub 2=Up 3=Average 4=Paeth). Shared
    by the sequential layout, each Adam7 reduced image (filters never
    cross a pass boundary), and the palette layout (bpp=1)."""
    out = bytearray()
    h, stride = raw.shape[0], raw.shape[1]
    # one bulk tolist() then plain integer ops per row — same mod-256
    # byte arithmetic as the numpy row ops this replaces, without the
    # per-row temporary-array overhead that dominated at these widths
    grid = raw.tolist()
    prior = [0] * stride
    for y in range(h):
        cur = grid[y]
        ftype = row_filter(y)
        if ftype == 0:
            enc = cur
        elif ftype == 1:  # Sub
            enc = [
                (cur[i] - (cur[i - bpp] if i >= bpp else 0)) & 255
                for i in range(stride)
            ]
        elif ftype == 2:  # Up
            enc = [(c - p) & 255 for c, p in zip(cur, prior)]
        elif ftype == 3:  # Average
            enc = [
                (cur[i] - (((cur[i - bpp] if i >= bpp else 0) + prior[i]) >> 1))
                & 255
                for i in range(stride)
            ]
        else:  # Paeth
            enc = []
            for i in range(stride):
                a = cur[i - bpp] if i >= bpp else 0
                b = prior[i]
                c = prior[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa = p - a if p >= a else a - p
                pb = p - b if p >= b else b - p
                pc = p - c if p >= c else c - p
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc.append((cur[i] - pred) & 255)
        out.append(ftype)
        out.extend(enc)
        prior = cur
    return out


def _png_encode_rgb(
    rgb,
    row_filter,
    idat_split: bool = False,
    interlace: bool = False,
    palette: bool = False,
    depth16: bool = False,
) -> bytes:
    """Encode an (h, w, 3) uint8 pixel grid as a valid 8-bit truecolor
    PNG: per-scanline filter chosen by ``row_filter(y)`` (0=None 1=Sub
    2=Up 3=Average 4=Paeth, the spec's mod-256 byte recurrences), zlib
    DEFLATE, CRC32-stamped chunks; ``idat_split`` splits the stream
    across two IDAT chunks (the concatenation rule); ``interlace``
    emits the ADAM7 layout (r10, d120) — seven independently-filtered
    reduced images in pass order, empty passes contributing nothing
    (not even filter bytes), one DEFLATE stream over the lot."""
    import struct
    import zlib

    h, w = rgb.shape[0], rgb.shape[1]
    if palette and depth16:
        raise ValueError("palette entries are 8-bit by spec")
    plte = b""
    if palette:
        # indexed color (type 3, r10 d122): unique colors in lexicographic
        # order form the PLTE; scanlines carry 1-byte indices (bpp=1)
        rgb = np.ascontiguousarray(rgb, dtype=np.uint8)
        colors, inverse = np.unique(
            rgb.reshape(-1, 3), axis=0, return_inverse=True
        )
        if colors.shape[0] > 256:
            raise ValueError(f"palette overflow: {colors.shape[0]} colors")
        plane = inverse.astype(np.uint8).reshape(h, w, 1)
        plte = _png_chunk(b"PLTE", colors.astype(np.uint8).tobytes())
        bpp = 1
    elif depth16:
        # 16-bit truecolor (r10, d127): big-endian sample bytes; the
        # five filters run over BYTES (bpp=6) exactly per spec
        arr = np.ascontiguousarray(rgb, dtype=np.uint16)
        plane = (
            np.frombuffer(arr.astype(">u2").tobytes(), dtype=np.uint8)
            .reshape(h, w, 6)
        )
        bpp = 6
    else:
        plane = np.ascontiguousarray(rgb, dtype=np.uint8)
        bpp = 3
    if interlace:
        out = bytearray()
        for x0, y0, dx, dy in _ADAM7:
            sub = plane[y0::dy, x0::dx]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            out += _png_filter_rows(
                np.ascontiguousarray(sub).reshape(sub.shape[0], -1),
                row_filter,
                bpp=bpp,
            )
    else:
        out = _png_filter_rows(plane.reshape(h, w * bpp), row_filter, bpp=bpp)
    stream = zlib.compress(bytes(out), 6)
    ihdr = _png_chunk(
        b"IHDR",
        struct.pack(
            ">IIBBBBB",
            w,
            h,
            16 if depth16 else 8,
            3 if palette else 2,
            0,
            0,
            1 if interlace else 0,
        ),
    )
    if idat_split and len(stream) > 8:
        mid = len(stream) // 2
        idat = _png_chunk(b"IDAT", stream[:mid]) + _png_chunk(b"IDAT", stream[mid:])
    else:
        idat = _png_chunk(b"IDAT", stream)
    return _PNG_MAGIC + ihdr + plte + idat + _png_chunk(b"IEND", b"")


def _png_decode_rgb(b: bytes):
    """Decode a PNG in scope (8/16-bit truecolor or 8-bit palette, each
    sequential or Adam7) to (w, h, pixels) with full five-filter
    unfiltering, or None when out of scope or broken (bad magic, a chunk
    cut short or failing its CRC, corrupt DEFLATE data, wrong lengths,
    unknown filter, palette index past the PLTE)."""
    import struct
    import zlib

    w = plte = None
    idat = bytearray()
    for ck in _png_chunks(b):
        if ck is None:
            return None
        ctype, body = ck
        if ctype == b"IHDR":
            if len(body) != 13:
                return None
            w, h, depth, ctyp, comp, filt, inter = struct.unpack(">IIBBBBB", body)
            # scope (r10): truecolor at 8 or 16 bits and 8-bit palette,
            # each sequential or Adam7 — anything else degrades to skip
            if (
                (ctyp, depth) not in ((2, 8), (2, 16), (3, 8))
                or comp != 0
                or filt != 0
                or inter not in (0, 1)
                or w <= 0
                or h <= 0
            ):
                return None
        elif ctype == b"PLTE":
            if len(body) % 3 != 0 or not 0 < len(body) <= 768:
                return None
            plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.extend(body)
        elif ctype == b"IEND":
            break
    if w is None or not idat:
        return None
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error:
        return None
    # bytes per pixel of the FILTERED stream; postprocessing below maps
    # the unfiltered byte planes to pixels per layout
    bpp = {(2, 8): 3, (2, 16): 6, (3, 8): 1}[(ctyp, depth)]

    def to_pixels(plane, pw, ph):
        if ctyp == 3:
            return plane.reshape(ph, pw)  # palette indices, map at end
        if depth == 16:
            return (
                np.frombuffer(plane.tobytes(), dtype=">u2")
                .reshape(ph, pw, 3)
                .astype(np.uint16)
            )
        return plane.reshape(ph, pw, 3)

    if inter == 0:
        recon = _png_unfilter(raw, 0, w, h, bpp=bpp)
        if recon is None or len(raw) != h * (1 + w * bpp):
            return None
        out = to_pixels(recon, w, h)
    else:
        # Adam7 (r10, d120): seven reduced images back to back in the
        # ONE inflated stream, each independently filtered; empty
        # passes (a pass whose grid misses the image) contribute no
        # bytes — works at every bpp (truecolor 8/16-bit, palette)
        if ctyp == 3:
            out = np.zeros((h, w), dtype=np.uint8)
        else:
            out = np.zeros(
                (h, w, 3), dtype=np.uint16 if depth == 16 else np.uint8
            )
        offset = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            recon = _png_unfilter(raw, offset, pw, ph, bpp=bpp)
            if recon is None:
                return None
            offset += ph * (1 + pw * bpp)
            out[y0::dy, x0::dx] = to_pixels(recon, pw, ph)
        if offset != len(raw):
            return None  # trailing or missing pass data
    if ctyp == 3:
        # an index past the palette is a hard skip, never garbage pixels
        if plte is None or int(out.max(initial=0)) >= plte.shape[0]:
            return None
        out = plte[out]
    return w, h, out


def _png_unfilter(raw: bytes, offset: int, w: int, h: int, bpp: int = 3):
    """Unfilter ``h`` scanlines of an 8-bit image ``w`` pixels wide at
    ``bpp`` bytes per pixel starting at ``offset`` in the inflated
    stream (one filter byte + w·bpp data bytes per line), returning the
    (h, w·bpp) reconstruction or None on a bad filter type /
    truncation. Shared by the sequential layout, each Adam7 reduced
    image, and the palette layout (bpp=1)."""
    stride = w * bpp
    if offset + h * (1 + stride) > len(raw):
        return None
    # The Sub/Average/Paeth recurrences are sequential along a scanline
    # BY SPEC — the per-pixel work runs as plain Python integer ops over
    # lists (measured ~3x faster than per-pixel 3-wide numpy at these
    # row widths; the mod-256 byte arithmetic is identical)
    rows: list = []
    prior = [0] * stride
    for y in range(h):
        base = offset + y * (1 + stride)
        ftype = raw[base]
        line = raw[base + 1 : base + 1 + stride]
        if ftype == 0:
            row = list(line)
        elif ftype == 2:  # Up
            row = [(c + p) & 255 for c, p in zip(line, prior)]
        elif ftype == 1:  # Sub
            row = list(line)
            for i in range(bpp, stride):
                row[i] = (row[i] + row[i - bpp]) & 255
        elif ftype == 3:  # Average
            row = [0] * stride
            for i in range(stride):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (line[i] + ((left + prior[i]) >> 1)) & 255
        elif ftype == 4:  # Paeth
            row = [0] * stride
            for i in range(stride):
                a = row[i - bpp] if i >= bpp else 0
                up = prior[i]
                ul = prior[i - bpp] if i >= bpp else 0
                p = a + up - ul
                pa = p - a if p >= a else a - p
                pb = p - up if p >= up else up - p
                pc = p - ul if p >= ul else ul - p
                if pa <= pb and pa <= pc:
                    pred = a
                elif pb <= pc:
                    pred = up
                else:
                    pred = ul
                row[i] = (line[i] + pred) & 255
        else:
            return None
        rows.append(row)
        prior = row
    return np.array(rows, dtype=np.uint8).reshape(h, stride)


def synth_png(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Manufacture a REAL compressed PNG file per row — signature, IHDR
    (8-bit truecolor, no interlace), zlib-compressed IDAT of filtered
    scanlines, IEND, every chunk CRC32-stamped. Scanline y uses filter
    type ``(id + y) % 5``, so every image (h ≥ 5) exercises ALL five
    PNG filters (None/Sub/Up/Average/Paeth); ids ≡ 0 (mod 3) split the
    compressed stream across TWO IDAT chunks, exercising the
    concatenation rule. Dimensions and pixels derive from the id
    arithmetically — width = 6 + id%7, height = 5 + (2·id)%7,
    pixel(x,y,c) = (7·id + 3·x + 5·y + 11·c) mod 256 (the d93/d99
    formula) — so an engine-independent oracle can certify the whole
    compress→filter→decode round trip with no codec library (zlib is
    stdlib DEFLATE, not an image codec).

    Same contract as ``synth_media_payload``."""

    def png(i: int):
        w, h = 6 + i % 7, 5 + (2 * i) % 7
        yield i, _png_encode_rgb(
            _pattern_rgb(i, w, h),
            lambda y: (i + y) % 5,
            idat_split=i % 3 == 0,
        )

    return _map_rows(df, [id_col], f"{id_col} long, payload binary", png)


def synth_png_adam7(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """``synth_png`` with the ADAM7 INTERLACED layout (r10, d120): the
    identical dimensions and pixel content, but IHDR interlace=1 and
    the IDAT stream carrying seven independently-filtered reduced
    images in pass order (empty passes omitted entirely).  Interlacing
    must be RESULT-INVISIBLE, so d120 reuses d105's oracle verbatim —
    a pass-geometry or scatter bug breaks d120 while d105 stays green."""

    def png(i: int):
        w, h = 6 + i % 7, 5 + (2 * i) % 7
        yield i, _png_encode_rgb(
            _pattern_rgb(i, w, h),
            lambda y: (i + y) % 5,
            idat_split=i % 3 == 0,
            interlace=True,
        )

    return _map_rows(df, [id_col], f"{id_col} long, payload binary", png)


def synth_png_palette(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """``synth_png`` in the INDEXED-COLOR layout (r10, d122): identical
    pixel content, but IHDR color type 3 with a PLTE of the image's
    unique colors (≤132 pixels ⇒ ≤132 entries, lexicographic order) and
    1-byte-per-pixel filtered index scanlines. Palette indirection must
    be RESULT-INVISIBLE, so d122 reuses d105's oracle verbatim."""

    def png(i: int):
        w, h = 6 + i % 7, 5 + (2 * i) % 7
        yield i, _png_encode_rgb(
            _pattern_rgb(i, w, h),
            lambda y: (i + y) % 5,
            idat_split=i % 3 == 0,
            palette=True,
        )

    return _map_rows(df, [id_col], f"{id_col} long, payload binary", png)


def synth_png_16bit(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """``synth_png`` at 16-BIT depth (r10, d127): the same pattern
    expanded to 16 bits by the standard 8→16 replication v·257
    (0xAB → 0xABAB), big-endian sample bytes, filters over BYTES at
    bpp=6 per spec; odd ids additionally interlace (Adam7 × 16-bit —
    the combination real screenshots/medical scans ship).  The oracle
    is d105's with every value scaled 257× — bit depth must change the
    VALUES exactly and nothing else."""

    def png(i: int):
        w, h = 6 + i % 7, 5 + (2 * i) % 7
        yield i, _png_encode_rgb(
            _pattern_rgb(i, w, h).astype(np.uint16) * 257,
            lambda y: (i + y) % 5,
            idat_split=i % 3 == 0,
            interlace=i % 2 == 1,
            depth16=True,
        )

    return _map_rows(df, [id_col], f"{id_col} long, payload binary", png)


def _image_stats(
    df: DataFrame, decode, payload_col: str, id_col: str
) -> DataFrame:
    """The image-tier stats frame: ``decode(bytes) -> (format, img) |
    None`` per payload, img an (h, w) or (h, w, 3) pixel grid, then one
    row per (image, channel) — mean, min, max, population std and the
    POSITION-WEIGHTED checksum ``pos_sum = Σ v(x,y)·(x+1)·(y+2)``.  The
    channel means alone would certify the channel order but not the
    geometry (a row flip permutes pixels within a channel, leaving every
    order-free statistic unchanged); pos_sum is the statistic a
    mis-flipped, mis-padded or mis-strided decode cannot fake.  Integer
    sums are exact, so an oracle replays them arithmetically."""

    def stats(i, b: bytes):
        # belt-and-braces: ANY parse failure degrades to skip (the
        # parse_media_headers contract), never an executor error — the
        # decoders' explicit guards cover the known malformed shapes;
        # this catches the unknown ones
        try:
            got = decode(b)
        except Exception:
            got = None
        if got is None:
            return
        fmt, img = got
        h, w = img.shape[0], img.shape[1]
        arr = img.astype(np.int64).reshape(h, w, -1)
        n = w * h
        wgt = (np.arange(h) + 2)[:, None] * (np.arange(w) + 1)[None, :]
        for ch in range(arr.shape[2]):
            v = arr[:, :, ch]
            s, ss = int(v.sum()), int((v * v).sum())
            mean = s / n
            yield (
                i, fmt, w, h, ch, round(mean, 6), int(v.min()), int(v.max()),
                round((ss / n - mean * mean) ** 0.5, 6), int((v * wgt).sum()),
            )

    return _map_rows(
        df,
        [id_col, payload_col],
        f"{id_col} long, format string, width int, height int, channel int, "
        "mean double, min int, max int, std double, pos_sum long",
        stats,
    )


def decode_png_stats(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """REAL PNG decode with NO codec library — the compressed-codec gap
    (VERDICT r8 #3) closed for PNG using only stdlib zlib: chunk walk
    with CRC32 verification, IDAT concatenation, DEFLATE inflate, then
    per-scanline UNFILTERING of all five PNG filter types
    (None/Sub/Up/Average/Paeth, the spec's byte-wise mod-256 recurrences
    with the left/up/upper-left predictors) back to the logical
    (y, x, channel) pixel grid, and the same per-channel statistics +
    position-weighted checksum as :func:`decode_bmp_ppm_stats` — a
    mis-unfiltered row corrupts every later Sub/Average/Paeth row, so
    pos_sum certifies the filter chain end-to-end.

    Scope: 8-bit truecolor (color type 2), non-interlaced — the shape
    `synth_png` emits; anything else (and any CRC/zlib/structure error)
    degrades to skip, never an executor error. The Sub/Average/Paeth
    recurrences are sequential along a scanline BY SPEC (each pixel
    depends on the reconstructed left neighbor), so unfiltering runs as
    a per-row Python loop over numpy channel vectors — at 100 TB this
    loop is embarrassingly parallel across images, which is where the
    scale lives; a production decoder would swap in a C inner loop
    behind the same batch contract.

    Integer sums are exact, so the oracle replays them arithmetically —
    the d48/d93/d99 certification pattern."""

    def decode(b: bytes):
        got = _png_decode_rgb(b)
        return None if got is None else ("png", got[2])

    return _image_stats(df, decode, payload_col, id_col)


def decode_bmp_ppm_stats(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """REAL image decode, no codec library: parse BMP (header walk, strip
    row padding, flip the bottom-up rows, swap BGR→RGB) and binary PPM
    (ASCII header scan, top-down RGB) down to the logical (y, x, channel)
    pixel grid in pure numpy, then per-channel statistics — mean, min,
    max, population std, and a POSITION-WEIGHTED checksum
    ``pos_sum = Σ v(x,y)·(x+1)·(y+2)``. The channel means alone would
    certify the channel order but not the geometry (a row flip permutes
    pixels within a channel, leaving every order-free statistic
    unchanged); pos_sum is the statistic a mis-flipped, mis-padded or
    mis-strided decode cannot fake.

    Integer sums are exact (≤ 255·12·13·144 per cell), so the oracle
    replays them arithmetically — the d48/d93 certification pattern.
    One output row per (image, channel)."""

    import struct

    def decode(b: bytes):
        if b[:2] == b"BM":
            if len(b) < 54:
                return None
            off, = struct.unpack("<I", b[10:14])
            w, h = struct.unpack("<ii", b[18:26])
            bpp, = struct.unpack("<H", b[28:30])
            comp, = struct.unpack("<I", b[30:34])
            # top-down (h < 0) and other exotic layouts degrade to
            # skip, matching the parse_media_headers contract
            if bpp != 24 or comp != 0 or w <= 0 or h <= 0:
                return None
            row_len = (w * 3 + 3) // 4 * 4
            if len(b) < off + h * row_len:
                return None
            rows = np.frombuffer(
                b[off : off + h * row_len], dtype=np.uint8
            ).reshape(h, row_len)
            bgr = rows[:, : w * 3].reshape(h, w, 3)[::-1]  # undo bottom-up
            return "bmp", bgr[:, :, ::-1]  # undo BGR
        if b[:2] == b"P6":
            # header: magic, width, height, maxval — ASCII tokens
            # separated by whitespace, with optional '#' comment lines
            # (legal PPM; skipped to end-of-line); pixel data starts
            # after the single whitespace byte following maxval
            pos, fields = 2, []
            while len(fields) < 3 and pos < len(b):
                while pos < len(b) and b[pos : pos + 1].isspace():
                    pos += 1
                if pos < len(b) and b[pos : pos + 1] == b"#":
                    while pos < len(b) and b[pos : pos + 1] != b"\n":
                        pos += 1
                    continue
                start = pos
                while pos < len(b) and not b[pos : pos + 1].isspace():
                    pos += 1
                if not b[start:pos].isdigit():
                    return None
                fields.append(int(b[start:pos]))
            pos += 1  # the single whitespace after maxval
            if len(fields) < 3:  # truncated header
                return None
            w, h, maxval = fields
            if maxval != 255 or w <= 0 or h <= 0:
                return None
            if len(b) < pos + w * h * 3:  # short pixel payload
                return None
            rgb = np.frombuffer(
                b[pos : pos + w * h * 3], dtype=np.uint8
            ).reshape(h, w, 3)
            return "ppm", rgb
        return None

    return _image_stats(df, decode, payload_col, id_col)


def _rgb_read(b: bytes, w, h):
    """The one raw RGB888 frame reader: the row-major (y, x, c) pixels
    of ``b`` as an int64 (h, w, 3) array, or None unless w, h >= 1 and
    ``b`` holds exactly w·h·3 bytes (a null w or h arrives as NaN and
    fails the bound)."""
    if not (w >= 1 and h >= 1) or len(b) != w * h * 3:
        return None
    return np.frombuffer(b, np.uint8).reshape(int(h), int(w), 3).astype(np.int64)


def raw_pixel_stats(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """Per-channel pixel statistics over raw RGB888 frames — the
    feature-extraction tier of the multimodal surface running REAL pixel
    math (numpy over Arrow batches): channel mean, min, max and population
    std per (frame, channel).

    Integer pixel sums are exact (≤ 2^53 by construction), so mean and the
    sqrt(E[v²]−E[v]²) std use one double division/sqrt each — bit-identical
    to any engine replaying the same arithmetic, which is what lets the
    d93 oracle certify the whole synth→decode→aggregate path without a
    codec. One output row per (frame, channel); frames :func:`_rgb_read`
    rejects skip."""

    def stats(i, w, h, b: bytes):
        arr = _rgb_read(b, w, h)
        if arr is None:
            return
        n = arr.shape[0] * arr.shape[1]
        for ch in range(3):
            v = arr[:, :, ch]
            mean = int(v.sum()) / n
            var = int((v * v).sum()) / n - mean * mean
            yield i, ch, round(mean, 6), int(v.min()), int(v.max()), round(var**0.5, 6)

    return _map_rows(
        df,
        [id_col, "width", "height", payload_col],
        f"{id_col} long, channel int, mean double, min int, max int, std double",
        stats,
    )


# ---------------------------------------------------------------------------
# JPEG (ITU T.81) — a REAL entropy codec, no library: one encoder and one
# decoder for baseline (SOF0) and progressive (SOF2) files, grayscale or
# YCbCr 4:2:0.  Both are driven by data, not by code paths per layout:
#
# * the FRAME's component list — (id, h, v, tq) per component, with tq
#   naming the component's quant table and, in the encoder, its DC and AC
#   Huffman tables (``_JPEG_GRAY``, ``_JPEG_YCC420``);
# * the SCAN SCRIPT — one (component indices, Ss, Se, Ah, Al) entry per
#   scan.  Baseline is one full-band scan (0, 63, 0, 0); spectral
#   selection splits the band; successive approximation adds Ah > 0
#   refinement scans; restart intervals (DRI/RSTm) apply to any
#   sequential scan.
#
# Shared helpers, each the only copy of its decision:
# ``_jpeg_segments`` (the marker walk, also used by the header probe and
# the EXIF tier), ``_huff_decode_lut`` (one 16-bit decode table per DHT),
# ``_jpeg_unstuff`` (FF00 unstuffing, split at RSTm), ``_BitReader`` (the
# bit reader and RECEIVE/EXTEND), ``_jpeg_mcus`` (the MCU block order of a
# scan, for encoder and decoder), ``_jpeg_emit_band`` /
# ``_jpeg_decode_band`` (first-pass block symbols, sequential or
# progressive), ``_jpeg_emit_ac_refine`` / ``_jpeg_decode_ac_refine`` (AC
# refinement, T.81 §G.1.2.3 / §G.2) and ``_idct_plane`` (dequantize +
# IDCT with one cached basis).  The layout-named functions
# (``_jpeg_encode_gray`` … ``_jpeg_decode_color_420_progressive``) are thin
# wrappers that build a script or filter the decoder's result.  d108
# certifies the chain arithmetically on DC-only blocks (flat 8x8 output =
# 128 + q0·dc/8, exact when 8 | q0·dc); the AC paths are unit-tested
# against a reference IDCT.  Helpers live at module level so mapInPandas
# workers pickle them.
# ---------------------------------------------------------------------------


def _gen_zigzag():
    order = []
    for s in range(15):
        rng = list(range(max(0, s - 7), min(s, 7) + 1))
        if s % 2 == 0:
            rng.reverse()
        for i in rng:
            order.append((i, s - i))
    return order


# the T.81 zigzag order as (row, col) pairs, generated from the
# diagonal-walk definition (odd anti-diagonals run down-left, even run
# up-right), plus the flattened row-major offsets (r*8+c) used for
# vectorized (de)quantization-table and coefficient indexing
_ZZ = _gen_zigzag()
_ZZ_FLAT = [r * 8 + c for r, c in _ZZ]


# custom canonical Huffman tables (the decoder parses DHT, so any
# spec-valid table works): DC — all 12 categories at length 4;
# AC — EOB/ZRL at length 4, every (run, size) symbol at length 10.
_JPEG_DC_LENGTHS = {s: 4 for s in range(12)}
_JPEG_AC_LENGTHS = {0x00: 4, 0xF0: 4}
_JPEG_AC_LENGTHS.update(
    {(r << 4) | s: 10 for r in range(16) for s in range(1, 11)}
)

# frame component lists (id, h, v, tq): grayscale, and YCbCr 4:2:0 with a
# 2x2-sampled luma on table 0 and 1x1 chroma on table 1 — the two
# layouts the decoder reconstructs
_JPEG_GRAY = ((1, 1, 1, 0),)
_JPEG_YCC420 = ((1, 2, 2, 0), (2, 1, 1, 1), (3, 1, 1, 1))


_CANONICAL_CACHE: dict = {}


def _canonical_codes(lengths):
    """lengths: {symbol: bit_length} → {symbol: (code, bit_length)} in
    JPEG canonical order (ascending length, then symbol order).  Memoized
    — the encoders rebuild the same fixed tables once per image."""
    key = tuple(sorted(lengths.items()))
    hit = _CANONICAL_CACHE.get(key)
    if hit is not None:
        return hit
    code, last_len = 0, 0
    out = {}
    for sym in sorted(lengths, key=lambda s: (lengths[s], s)):
        ln = lengths[sym]
        code <<= ln - last_len
        out[sym] = (code, ln)
        code += 1
        last_len = ln
    _CANONICAL_CACHE[key] = out
    return out


_HUFF_LUT_CACHE: dict = {}


def _huff_decode_lut(dht: bytes):
    """16-bit lookup table for canonical-JPEG Huffman DECODE, cached by
    the DHT table bytes (16 length counts + symbols — identical tables
    across a corpus build one LUT total).  Entry i (the next 16 stream
    bits, zero-padded past EOF) is ``(code_length << 8) | symbol`` for
    the unique code prefixing those bits, 0 where no code matches.
    Codes are prefix-free, so the shortest match a bit-serial walk
    would find is the only match; a bogus table whose canonical codes
    overflow ``2^len`` produces entries a bit-serial walk could never
    reach either (read codes are always < 2^len) — the slice below is
    then empty, preserving unreachability."""
    lut = _HUFF_LUT_CACHE.get(dht)
    if lut is None:
        counts = dht[:16]
        syms = dht[16:]
        arr = np.zeros(65536, dtype=np.int32)
        code = 0
        k = 0
        for ln in range(1, 17):
            for _ in range(counts[ln - 1]):
                sym = syms[k]
                k += 1
                lo = code << (16 - ln)
                arr[lo : lo + (1 << (16 - ln))] = (ln << 8) | sym
                code += 1
            code <<= 1
        lut = arr.tolist()
        _HUFF_LUT_CACHE[dht] = lut
    return lut


def _dht_payload(table_class, table_id, lengths):
    counts = [0] * 16
    for ln in lengths.values():
        counts[ln - 1] += 1
    syms = sorted(lengths, key=lambda s: (lengths[s], s))
    return bytes([(table_class << 4) | table_id]) + bytes(counts) + bytes(syms)


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value, nbits):
        # whole-value shift-in (bit-identical to a per-bit loop: the
        # accumulator sees the same bit sequence, bytes drain MSB-first
        # with the same FF stuffing)
        acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
        n = self.nbits + nbits
        buf = self.buf
        while n >= 8:
            n -= 8
            byte = (acc >> n) & 0xFF
            buf.append(byte)
            if byte == 0xFF:  # byte stuffing
                buf.append(0x00)
        self.acc = acc & ((1 << n) - 1)
        self.nbits = n

    def flush(self):
        if self.nbits:
            pad = 8 - self.nbits
            self.acc = (self.acc << pad) | ((1 << pad) - 1)  # pad with 1s
            self.buf.append(self.acc)
            if self.acc == 0xFF:
                self.buf.append(0x00)
            self.acc = 0
            self.nbits = 0
        return bytes(self.buf)


def _jpeg_put_amplitude(v: int):
    """JPEG magnitude coding: category s = bit_length(|v|); negatives
    are stored as v + 2^s − 1."""
    s = int(v).bit_length() if v > 0 else int(-v).bit_length()
    bits = v if v > 0 else v + (1 << s) - 1
    return s, bits


def _jpeg_mcus(geom, comps, my, mx):
    """The block order of one scan (T.81 §A.2): a list of MCUs, each a
    list of (component index, block index in that component's
    MCU-padded raster, mx·h blocks wide).  A one-component scan walks
    that component's own rows × cols block raster, one block per MCU;
    an interleaved scan walks my × mx MCUs, each holding every scan
    component's v × h blocks in raster order.  geom[i] = (h, v, rows,
    cols) for frame component i."""
    if len(comps) == 1:
        ci = comps[0]
        hs, _, rows, cols = geom[ci]
        return [[(ci, y * mx * hs + x)] for y in range(rows) for x in range(cols)]
    return [
        [
            (ci, (m_y * geom[ci][1] + dy) * mx * geom[ci][0] + m_x * geom[ci][0] + dx)
            for ci in comps
            for dy in range(geom[ci][1])
            for dx in range(geom[ci][0])
        ]
        for m_y in range(my)
        for m_x in range(mx)
    ]


def _jpeg_emit_band(wtr, zzv, ss, se, al, pred, dc_codes, ac_codes):
    """Emit one block's first-pass symbols for band ss..se at point
    transform ``al`` (al=0 codes the plain values): with ss = 0 the DC
    difference against ``pred`` (of dc >> al, an arithmetic shift),
    then the AC coefficients (magnitudes truncated toward zero) as
    run/size symbols with ZRL and a closing EOB.  ``zzv`` is the block
    in zigzag order.  Returns the next DC predictor."""
    if ss == 0:
        dc = zzv[0] >> al
        s, bits = _jpeg_put_amplitude(dc - pred)
        c, ln = dc_codes[s]
        wtr.write(c, ln)
        wtr.write(bits, s)
        pred = dc
    run = 0
    for v in zzv[max(ss, 1) : se + 1]:
        v = (abs(v) >> al) * (1 if v > 0 else -1)
        if v == 0:
            run += 1
            continue
        while run >= 16:
            c, ln = ac_codes[0xF0]  # ZRL
            wtr.write(c, ln)
            run -= 16
        s, bits = _jpeg_put_amplitude(v)
        c, ln = ac_codes[(run << 4) | s]
        wtr.write(c, ln)
        wtr.write(bits, s)
        run = 0
    if run:
        c, ln = ac_codes[0x00]  # EOB (in a progressive scan: EOB0)
        wtr.write(c, ln)
    return pred


def _jpeg_emit_ac_refine(wtr, zzv, ss, se, al, ac_codes):
    """Emit one block of an AC-refinement scan over band ss..se
    delivering bit ``al`` (T.81 §G.1.2.3, libjpeg emission shape):
    newly-significant coefficients as (zero-history run, size 1) +
    sign, correction bits for already-significant coefficients
    buffered between symbols, EOB followed by the band remainder's
    corrections."""
    band = zzv[ss : se + 1]
    absv = [abs(v) >> al for v in band]
    eob = -1
    for idx, t in enumerate(absv):
        if t == 1:
            eob = idx
    run = 0
    buffered = []
    for idx, t in enumerate(absv):
        if t == 0:
            run += 1
            continue
        while run > 15 and idx <= eob:
            c, ln = ac_codes[0xF0]
            wtr.write(c, ln)
            run -= 16
            for bit in buffered:
                wtr.write(bit, 1)
            buffered = []
        if t > 1:
            buffered.append(t & 1)
            continue
        c, ln = ac_codes[(run << 4) | 1]
        wtr.write(c, ln)
        wtr.write(1 if band[idx] > 0 else 0, 1)
        for bit in buffered:
            wtr.write(bit, 1)
        buffered = []
        run = 0
    if run > 0 or buffered:
        c, ln = ac_codes[0x00]
        wtr.write(c, ln)
        for bit in buffered:
            wtr.write(bit, 1)


def _jpeg_encode(grids, layout, qtables, script, restart_interval: int = 0):
    """Encode quantized coefficient grids as a JPEG.

    ``layout`` is the frame's component list, (id, h, v, tq) per
    component, where tq names the component's quant table and its DC
    and AC Huffman tables; ``grids[i]`` holds component i's QUANTIZED
    coefficients as a (rows, cols, 8, 8) int array in natural (row,
    col) order, component 0 at full resolution (image = rows·8 ×
    cols·8); ``qtables[tq]`` is an (8, 8) table.  ``script`` lists the
    scans, each (component indices, Ss, Se, Ah, Al): a script of
    full-band scans (0, 63) is written as baseline SOF0, any other as
    progressive SOF2.  The file carries one DQT per quant table, DC and
    AC DHT per table id, the SOF, a DRI when ``restart_interval`` > 0,
    then the scans.  Restart intervals (T.81 §B.2.4.4 / §E.2.4): after
    every ``restart_interval`` MCUs the bitstream byte-aligns
    (1-padded), an RSTm marker (D0–D7, cycling) is written, and the DC
    predictors reset."""
    import struct

    def seg(marker, payload):
        return bytes([0xFF, marker]) + struct.pack(">H", 2 + len(payload)) + payload

    dc_codes = _canonical_codes(_JPEG_DC_LENGTHS)
    ac_codes = _canonical_codes(_JPEG_AC_LENGTHS)
    rows, cols = grids[0].shape[0], grids[0].shape[1]
    progressive = any((ss, se) != (0, 63) for _, ss, se, _, _ in script)
    out = bytearray(b"\xff\xd8")  # SOI
    for tq, qt in enumerate(qtables):
        qzz = bytes(np.asarray(qt).reshape(64)[_ZZ_FLAT].tolist())
        out += seg(0xDB, bytes([tq]) + qzz)  # DQT, 8-bit
    out += seg(
        0xC2 if progressive else 0xC0,
        bytes([8])
        + struct.pack(">HH", rows * 8, cols * 8)
        + bytes([len(layout)])
        + b"".join(bytes([cid, (hs << 4) | vs, tq]) for cid, hs, vs, tq in layout),
    )
    for tid in range(len(qtables)):
        out += seg(0xC4, _dht_payload(0, tid, _JPEG_DC_LENGTHS))
        out += seg(0xC4, _dht_payload(1, tid, _JPEG_AC_LENGTHS))
    if restart_interval:
        out += seg(0xDD, struct.pack(">H", restart_interval))
    geom = [(c[1], c[2], g.shape[0], g.shape[1]) for c, g in zip(layout, grids)]
    # each block in zigzag order, one bulk gather per component
    zzs = [np.asarray(g).reshape(-1, 64)[:, _ZZ_FLAT].tolist() for g in grids]
    for comps, ss, se, ah, al in script:
        out += seg(
            0xDA,
            bytes([len(comps)])
            + b"".join(bytes([layout[ci][0], layout[ci][3] * 0x11]) for ci in comps)
            + bytes([ss, se, (ah << 4) | al]),
        )
        wtr = _BitWriter()
        preds = [0] * len(grids)
        mcus = _jpeg_mcus(geom, comps, rows // layout[0][2], cols // layout[0][1])
        for n, mcu in enumerate(mcus):
            if restart_interval and n and n % restart_interval == 0:
                out += wtr.flush()  # byte-align (1-padded) before RSTm
                out += bytes([0xFF, 0xD0 + ((n // restart_interval - 1) % 8)])
                wtr = _BitWriter()
                preds = [0] * len(grids)
            for ci, blk in mcu:
                zzv = zzs[ci][blk]
                if ah == 0:
                    preds[ci] = _jpeg_emit_band(
                        wtr, zzv, ss, se, al, preds[ci], dc_codes, ac_codes
                    )
                elif ss == 0:  # DC refinement: one bit per block
                    wtr.write((zzv[0] >> al) & 1, 1)
                else:
                    _jpeg_emit_ac_refine(wtr, zzv, ss, se, al, ac_codes)
        out += wtr.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _jpeg_progressive_script(n_comps, bands, al):
    """The progressive scan script T.81 §G prescribes: one interleaved
    DC scan, then one single-component AC scan per (component, band),
    all at point transform ``al``; al = 1 appends the successive-
    approximation pass — the same scans again refining bit 0."""
    first = [(tuple(range(n_comps)), 0, 0, 0, al)] + [
        ((ci,), ss, se, 0, al) for ci in range(n_comps) for ss, se in bands
    ]
    if not al:
        return first
    return first + [(comps, ss, se, al, al - 1) for comps, ss, se, _, _ in first]


def _jpeg_encode_gray(coefs, qtable, restart_interval: int = 0):
    """Encode a (by, bx, 8, 8) quantized-coefficient grid into a
    baseline grayscale JPEG of (by·8, bx·8) pixels; ``restart_interval``
    > 0 adds restart intervals (r10, d118; see ``_jpeg_encode``)."""
    script = [((0,), 0, 63, 0, 0)]
    return _jpeg_encode([coefs], _JPEG_GRAY, [qtable], script, restart_interval)


def _jpeg_encode_gray_progressive(coefs, qtable, bands=((1, 5), (6, 63))):
    """Encode a quantized-coefficient grid as a PROGRESSIVE grayscale
    JPEG (SOF2) using SPECTRAL SELECTION (r10, d121): a DC scan followed
    by one AC scan per ``bands`` entry, EOB terminating each block's
    band remainder — T.81 §G.1, Ah=Al=0.  The union of bands must cover
    1..63."""
    script = _jpeg_progressive_script(1, bands, 0)
    return _jpeg_encode([coefs], _JPEG_GRAY, [qtable], script)


def _jpeg_encode_gray_progressive_sa(coefs, qtable, al: int = 1):
    """Encode a quantized-coefficient grid as a progressive grayscale
    JPEG with SUCCESSIVE APPROXIMATION (r10, d123) — the four-scan
    structure real progressive encoders emit: DC and AC 1–63 first
    scans at point transform ``al``, then a DC refinement (one bit per
    block) and an AC refinement.  ``al`` must be 1 (single refinement
    pass per band — the canonical minimal SA script)."""
    if al != 1:
        raise ValueError("single-refinement SA only: al must be 1")
    script = _jpeg_progressive_script(1, ((1, 63),), al)
    return _jpeg_encode([coefs], _JPEG_GRAY, [qtable], script)


def _jpeg_encode_color_420(yc, cbc, crc, qt_luma, qt_chroma):
    """Encode quantized coefficient grids into a baseline YCbCr 4:2:0
    color JPEG — interleaved MCU scan (Y00 Y01 Y10 Y11 Cb Cr), separate
    luma/chroma quant + Huffman tables, per-component DC predictors.

    yc: (2·my, 2·mx, 8, 8) luma coefficients; cbc/crc: (my, mx, 8, 8);
    image dimensions (my·16, mx·16)."""
    script = [((0, 1, 2), 0, 63, 0, 0)]
    return _jpeg_encode(
        [yc, cbc, crc], _JPEG_YCC420, [qt_luma, qt_chroma], script
    )


def _jpeg_encode_color_420_progressive(
    yc, cbc, crc, qt_luma, qt_chroma, sa: bool = False, al: int = 1
):
    """Encode quantized 4:2:0 coefficient grids as a PROGRESSIVE color
    JPEG (SOF2, r10 d126): one interleaved DC scan, then one
    single-component AC 1–63 scan per component (progressive AC scans
    are single-component BY SPEC).  ``sa=True`` (r10, d128) emits the
    full SUCCESSIVE-APPROXIMATION script: first scans at point
    transform ``al`` (must be 1), then an interleaved one-bit DC
    refinement and three per-component AC refinements."""
    if sa and al != 1:
        raise ValueError("single-refinement SA only: al must be 1")
    script = _jpeg_progressive_script(3, ((1, 63),), al if sa else 0)
    return _jpeg_encode(
        [yc, cbc, crc], _JPEG_YCC420, [qt_luma, qt_chroma], script
    )


def _jpeg_segments(b: bytes, pos: int = 2):
    """Walk JPEG marker segments from ``pos`` (default: just past SOI):
    yields (marker, start, end) byte ranges, end exclusive, up to and
    including the next SOS (entropy-coded data follows it, which has no
    segment structure; the decoder resumes the walk after each scan's
    data) and stops at EOI.  Real-world tolerant (the r12 ADVICE fix):
    consecutive 0xFF FILL bytes before a marker are legal padding (ITU
    T.81 §B.1.1.2) and are skipped, and standalone markers (TEM 0x01,
    RST0–7 0xD0–0xD7) carry no length field; a malformed length (< 2)
    ends the walk instead of yielding garbage ranges — callers then see
    the segments parsed so far (extract emits has_exif=0, strip passes
    the payload through, the decoder fails) rather than dropping the
    row.  A yielded range may run past the end of a truncated file."""
    if b[:2] != b"\xff\xd8":
        return
    n = len(b)
    while pos + 2 <= n:
        if b[pos] != 0xFF:
            return
        # skip 0xFF fill (padding) bytes: marker byte is the first
        # non-0xFF after the run
        while pos + 1 < n and b[pos + 1] == 0xFF:
            pos += 1
        if pos + 2 > n:
            return
        marker = b[pos + 1]
        if marker == 0xD9:  # EOI
            return
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:  # TEM / RSTn
            pos += 2
            continue
        if pos + 4 > n:
            return
        seg_len = int.from_bytes(b[pos + 2 : pos + 4], "big")
        if seg_len < 2:
            return
        yield marker, pos, pos + 2 + seg_len
        if marker == 0xDA:  # SOS: entropy-coded data follows
            return
        pos += 2 + seg_len


def _jpeg_unstuff(b, pos, ri):
    """Unstuff one scan's entropy-coded bytes from ``pos`` up to the
    next marker that is not RSTm, split at RSTm markers into one
    byte-aligned segment per restart interval (the whole scan is one
    segment without DRI).  Returns (segments, position of the ending
    marker).  An RSTm without DRI (``ri`` = 0), or out of the D0–D7
    cycle, raises ValueError: a skipped or duplicated restart is a hard
    decode failure."""
    segs = [bytearray()]
    n = len(b)
    while True:
        q = b.find(b"\xff", pos)
        if q < 0:
            segs[-1] += b[pos:]
            return segs, n
        segs[-1] += b[pos:q]
        nxt = b[q + 1] if q + 1 < n else None
        if nxt == 0x00:
            segs[-1].append(0xFF)
        elif nxt is not None and 0xD0 <= nxt <= 0xD7:
            if ri == 0 or nxt - 0xD0 != (len(segs) - 1) % 8:
                raise ValueError("RSTm without DRI, or out of cycle")
            segs.append(bytearray())
        else:
            return segs, q  # a real marker ends the scan
        pos = q + 2


class _BitReader:
    """MSB-first reader over one unstuffed entropy segment.  Every read
    peeks a 24-bit window (three zero pad bytes past the end), so a
    Huffman probe is one lookup in a 16-bit ``_huff_decode_lut`` table.
    A window no code prefixes, a code or amplitude reaching past the
    segment's last bit (EOFError), and an amplitude wider than 16 bits
    (ValueError: a DHT symbol beyond any T.81 category, which the window
    cannot serve) fail the decode instead of reading padding."""

    def __init__(self, seg):
        self.buf = bytes(seg) + b"\x00\x00\x00"
        self.nbits = len(seg) * 8
        self.pos = 0

    def huff(self, lut):
        pos, buf = self.pos, self.buf
        i = pos >> 3
        w24 = (buf[i] << 16) | (buf[i + 1] << 8) | buf[i + 2]
        e = lut[(w24 >> (8 - (pos & 7))) & 0xFFFF]
        if e == 0 or pos + (e >> 8) > self.nbits:
            raise EOFError("no Huffman code, or a code past the data")
        self.pos = pos + (e >> 8)
        return e & 0xFF

    def bits(self, n):
        pos, buf = self.pos, self.buf
        if n > 16:
            raise ValueError("amplitude category beyond 16")
        if pos + n > self.nbits:
            raise EOFError("amplitude past the data")
        i = pos >> 3
        w24 = (buf[i] << 16) | (buf[i + 1] << 8) | buf[i + 2]
        self.pos = pos + n
        return (w24 >> (24 - (pos & 7) - n)) & ((1 << n) - 1)

    def receive_extend(self, s):
        """T.81 RECEIVE + EXTEND: the signed value of category ``s``."""
        if s == 0:
            return 0
        v = self.bits(s)
        return v if v >> (s - 1) else v - (1 << s) + 1


def _jpeg_decode_band(rdr, co, base, lut, k, se, al, progressive):
    """Decode one block's AC first-pass symbols for band k..se at point
    transform ``al`` into the flat coefficient list ``co`` (block at
    ``base``, natural order).  Returns the EOBRUN that follows: EOBn
    symbols (T.81 §G.2; progressive scans only) skip 2ⁿ + ext − 1 more
    blocks."""
    zf = _ZZ_FLAT
    while k <= se:
        rs = rdr.huff(lut)
        r, s = rs >> 4, rs & 15
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            if r and not progressive:
                raise ValueError("EOBn in a sequential scan")
            return (1 << r) - 1 + rdr.bits(r)
        k += r
        if k > se:
            raise ValueError("run past the end of the band")
        co[base + zf[k]] = rdr.receive_extend(s) << al
        k += 1
    return 0


def _jpeg_decode_ac_refine(rdr, co, base, lut, ss, se, al, eobrun):
    """Decode one block of an AC-refinement scan (T.81 §G.2) into the
    flat coefficient list ``co`` (block at ``base``): EOB-run blocks
    read correction bits only; inside a block, runs count zero-history
    positions while nonzero-history positions consume correction bits.
    Returns the remaining EOBRUN."""
    zf = _ZZ_FLAT
    p1, m1 = 1 << al, -1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = rdr.huff(lut)
            r, sz = rs >> 4, rs & 15
            newval = 0
            if sz == 0:
                if r != 15:
                    eobrun = (1 << r) + rdr.bits(r)
                    break
            else:
                if sz != 1:
                    raise ValueError("bad refinement size")
                newval = p1 if rdr.bits(1) else m1
            while k <= se:
                z = base + zf[k]
                if co[z] != 0:
                    if rdr.bits(1) and not (co[z] & p1):
                        co[z] += p1 if co[z] > 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if newval and k <= se:
                co[base + zf[k]] = newval
            k += 1
    if eobrun > 0:
        while k <= se:
            z = base + zf[k]
            if co[z] != 0 and rdr.bits(1) and not (co[z] & p1):
                co[z] += p1 if co[z] > 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


_IDCT_BASIS: dict = {}  # the 8x8 C[u, x] basis — identical for every image


def _idct_plane(coefs, q):
    """Dequantize + separable IDCT + level shift of a (rows, cols, 8, 8)
    quantized-coefficient grid: the (rows·8, cols·8) float plane
    spatial + 128.0, before rounding."""
    C = _IDCT_BASIS.get("C")
    if C is None:
        alpha = np.full(8, np.sqrt(2.0 / 8.0))
        alpha[0] = np.sqrt(1.0 / 8.0)
        xs = np.arange(8)
        basis = np.cos((2 * xs[None, :] + 1) * xs[:, None] * np.pi / 16.0)
        C = alpha[:, None] * basis  # C[u, x]
        _IDCT_BASIS["C"] = C
    rows, cols = coefs.shape[0], coefs.shape[1]
    deq = coefs * q[None, None, :, :]
    sp = np.einsum("ux,vy,bcuv->bcxy", C, C, deq.astype(np.float64))
    return (sp + 128.0).transpose(0, 2, 1, 3).reshape(rows * 8, cols * 8)


def _jpeg_decode(b):
    """Decode a baseline (SOF0) or progressive (SOF2) JPEG to ``(sof,
    img)``: the SOF marker and a (h, w) uint8 grid for one component,
    or an (h, w, 3) uint8 RGB grid for YCbCr 4:2:0 (sample-replication
    chroma upsampling, JFIF YCbCr→RGB with floor(x+0.5) rounding).
    Returns None when out of scope — other SOF classes, 16-bit quant
    tables, other sampling layouts, DRI in a progressive frame — or
    broken.

    One marker walk, resumed after each scan's entropy data; each scan
    decodes into per-component coefficient lists.  A sequential scan
    covers Ss..Se = 0..63 over its MCUs with per-component DC
    predictors and restart intervals (each interval byte-aligned, DC
    predictors reset, the interval count checked).  A progressive scan
    is DC first, DC refinement, AC first (EOBRUN/ZRL) or AC refinement:
    DC and AC never share a scan and AC scans are single-component.
    Each (component, coefficient) slot tracks its successive-
    approximation depth: a first scan finds it unset, a refinement
    presents Ah = the previous Al and Al = Ah − 1, and the script must
    leave every slot of every component at Al = 0."""
    import struct

    def ceil(a, d):
        return -(-a // d)

    qtables, huff = {}, {}
    sof = None
    ri = 0  # restart interval in MCUs; 0 = none
    pos = 2
    try:
        while True:
            for marker, s, e in _jpeg_segments(b, pos):
                if e > len(b):
                    return None
                payload = b[s + 4 : e]
                if marker == 0xDB:
                    p = 0
                    while p < len(payload):
                        pq, tq = payload[p] >> 4, payload[p] & 15
                        if pq != 0:
                            return None  # 16-bit tables out of scope
                        vals = payload[p + 1 : p + 65]
                        if len(vals) != 64:
                            return None
                        q = np.zeros(64, dtype=np.int64)
                        q[_ZZ_FLAT] = np.frombuffer(vals, dtype=np.uint8)
                        qtables[tq] = q.reshape(8, 8)
                        p += 65
                elif marker == 0xC4:
                    p = 0
                    while p < len(payload):
                        tc, th = payload[p] >> 4, payload[p] & 15
                        nsym = sum(payload[p + 1 : p + 17])
                        if p + 17 + nsym > len(payload):
                            return None
                        huff[(tc, th)] = _huff_decode_lut(
                            bytes(payload[p + 1 : p + 17 + nsym])
                        )
                        p += 17 + nsym
                elif marker == 0xDD:
                    (ri,) = struct.unpack(">H", payload[:2])
                elif marker == 0xDA:
                    break
                elif 0xC0 <= marker <= 0xCF and marker not in (0xC8, 0xCC):
                    if marker not in (0xC0, 0xC2) or sof is not None:
                        return None  # other SOF classes, or a second frame
                    h, w = struct.unpack(">HH", payload[1:5])
                    nc = payload[5]
                    comps = [payload[6 + 3 * k : 9 + 3 * k] for k in range(nc)]
                    samp = [(c[1] >> 4, c[1] & 15) for c in comps]
                    if (
                        payload[0] != 8
                        or len(payload) != 6 + 3 * nc
                        or not (h and w)
                        or len({c[0] for c in comps}) != nc
                        or samp not in ([(1, 1)], [(2, 2), (1, 1), (1, 1)])
                    ):
                        return None
                    sof = marker
                    hmax = max(hs for hs, _ in samp)
                    vmax = max(vs for _, vs in samp)
                    mx, my = ceil(w, 8 * hmax), ceil(h, 8 * vmax)
                    # (h, v, rows, cols): each component's own block raster
                    geom = [
                        (hs, vs, ceil(ceil(h * vs, vmax), 8),
                         ceil(ceil(w * hs, hmax), 8))
                        for hs, vs in samp
                    ]
                    co = [[0] * (my * vs * mx * hs * 64) for hs, vs in samp]
                    depth = [[None] * 64 for _ in comps]
            else:
                break  # the walk ended: EOI, truncation or a stray byte
            if sof is None:
                return None
            # the scan header: components, band, successive approximation
            ids = [c[0] for c in comps]
            ns = payload[0]
            scan = [ids.index(payload[1 + 2 * k]) for k in range(ns)]
            ss, se = payload[1 + 2 * ns], payload[2 + 2 * ns]
            ah, al = payload[3 + 2 * ns] >> 4, payload[3 + 2 * ns] & 15
            if not ns or len(payload) != 4 + 2 * ns:
                return None
            if sof == 0xC2:
                # DC and AC never share a scan; AC scans are single-component
                if ri or ss > se or se > 63 or (ss == 0 and se) or (ss and ns != 1):
                    return None
            elif (ss, se, ah, al) != (0, 63, 0, 0):
                return None
            for ci in scan:
                prev = set(depth[ci][ss : se + 1])
                if len(prev) != 1:
                    return None  # band straddles different refinement depths
                prev = prev.pop()
                if (ah == 0 and prev is not None) or (
                    ah and (prev != ah or al != ah - 1)
                ):
                    return None
                depth[ci][ss : se + 1] = [al] * (se - ss + 1)
            tabs = {}
            for k, ci in enumerate(scan):
                t = payload[2 + 2 * k]
                tabs[ci] = (huff.get((0, t >> 4)), huff.get((1, t & 15)))
                if (ss == 0 and ah == 0 and tabs[ci][0] is None) or (
                    se and tabs[ci][1] is None
                ):
                    return None
            segs, pos = _jpeg_unstuff(b, e, ri)
            mcus = _jpeg_mcus(geom, scan, my, mx)
            if len(segs) != (ceil(len(mcus), ri) if ri else 1):
                return None  # restart interval count disagrees with the MCUs
            for n, mcu in enumerate(mcus):
                if n == 0 or (ri and n % ri == 0):
                    rdr = _BitReader(segs[n // ri if ri else 0])
                    preds = [0] * nc
                    eobrun = 0
                for ci, blk in mcu:
                    c, base = co[ci], blk * 64
                    if ss == 0:
                        if ah:  # DC refinement: one bit per block
                            if rdr.bits(1):
                                c[base] |= 1 << al
                        else:
                            preds[ci] += rdr.receive_extend(rdr.huff(tabs[ci][0]))
                            c[base] = preds[ci] << al
                        if se == 0:
                            continue
                    if ah:
                        eobrun = _jpeg_decode_ac_refine(
                            rdr, c, base, tabs[ci][1], ss, se, al, eobrun
                        )
                    elif eobrun:
                        eobrun -= 1
                    else:
                        eobrun = _jpeg_decode_band(
                            rdr, c, base, tabs[ci][1], max(ss, 1), se, al, sof == 0xC2
                        )
    except (EOFError, IndexError, ValueError, struct.error):
        return None
    if sof is None or any(d != 0 for dd in depth for d in dd):
        return None  # no frame, or the scan script left slots unfinished
    if any(c[2] not in qtables for c in comps):
        return None
    planes = [
        _idct_plane(
            np.array(c, dtype=np.int64).reshape(my * vs, mx * hs, 8, 8),
            qtables[comp[2]],
        )
        for c, comp, (hs, vs) in zip(co, comps, samp)
    ]
    if len(planes) == 1:
        img = np.clip(np.floor(planes[0] + 0.5), 0, 255).astype(np.uint8)
        return sof, img[:h, :w]
    yp, cbp, crp = planes
    # 4:2:0 upsampling by sample replication
    cbu = np.repeat(np.repeat(cbp, 2, axis=0), 2, axis=1)
    cru = np.repeat(np.repeat(crp, 2, axis=0), 2, axis=1)
    yv, cb, cr = yp[: my * 16, : mx * 16], cbu - 128.0, cru - 128.0
    r = yv + 1.402 * cr
    g = yv - 0.344136 * cb - 0.714136 * cr
    bl = yv + 1.772 * cb
    rgb = np.stack([r, g, bl], axis=-1)
    out = np.clip(np.floor(rgb + 0.5), 0, 255).astype(np.uint8)
    return sof, out[:h, :w]


def _jpeg_decode_as(b, sof, ndim):
    """``_jpeg_decode`` restricted to one SOF class and component count
    — the four layout-named decoders below, each rejecting the others'
    files."""
    got = _jpeg_decode(b)
    return got[1] if got is not None and got[0] == sof and got[1].ndim == ndim else None


def _jpeg_decode_gray(b):
    """Baseline grayscale JPEG → (h, w) uint8, else None."""
    return _jpeg_decode_as(b, 0xC0, 2)


def _jpeg_decode_gray_progressive(b):
    """Progressive (SOF2) grayscale JPEG → (h, w) uint8, else None."""
    return _jpeg_decode_as(b, 0xC2, 2)


def _jpeg_decode_color_420(b):
    """Baseline YCbCr 4:2:0 JPEG → (h, w, 3) uint8 RGB, else None."""
    return _jpeg_decode_as(b, 0xC0, 3)


def _jpeg_decode_color_420_progressive(b):
    """Progressive (SOF2) YCbCr 4:2:0 JPEG → (h, w, 3) uint8 RGB, else
    None."""
    return _jpeg_decode_as(b, 0xC2, 3)


def _jpeg_dc_grid(i: int, rows: int, cols: int):
    """The JPEG fixtures' coefficient grid: (rows, cols, 8, 8) int64
    carrying only a DC per block, dc(x, y) = (5·i + 3·x + 7·y) mod 21 −
    10 — with q0 = 16 each block decodes EXACTLY flat at 128 + 2·dc."""
    coefs = np.zeros((rows, cols, 8, 8), dtype=np.int64)
    y, x = np.meshgrid(np.arange(rows), np.arange(cols), indexing="ij")
    coefs[:, :, 0, 0] = (5 * i + 3 * x + 7 * y) % 21 - 10
    return coefs


def _synth_jpeg_gray(
    df: DataFrame, id_col: str, script, restart_interval: int = 0
) -> DataFrame:
    """The grayscale JPEG fixtures: the id's DC grid — width =
    8·(1 + id%3), height = 8·(1 + (2·id)%3) — against a flat q = 16
    table, encoded with the given scan script."""
    q = np.full((8, 8), 16, dtype=np.int64)

    def jpeg(i: int):
        coefs = _jpeg_dc_grid(i, 1 + (2 * i) % 3, 1 + i % 3)
        yield i, _jpeg_encode([coefs], _JPEG_GRAY, [q], script, restart_interval)

    return _map_rows(df, [id_col], f"{id_col} long, payload binary", jpeg)


def _synth_jpeg_color(df: DataFrame, id_col: str, script) -> DataFrame:
    """The 4:2:0 color JPEG fixtures: the id's DC grid as luma — width =
    16·(1 + id%2), height = 16·(1 + (3·id)%2) — with zero (neutral)
    chroma and flat tables ql = 16, qc = 8, encoded with the given scan
    script."""
    ql = np.full((8, 8), 16, dtype=np.int64)
    qc = np.full((8, 8), 8, dtype=np.int64)

    def jpeg(i: int):
        mx, my = 1 + i % 2, 1 + (3 * i) % 2
        chroma = np.zeros((my, mx, 8, 8), dtype=np.int64)
        grids = [_jpeg_dc_grid(i, 2 * my, 2 * mx), chroma, chroma]
        yield i, _jpeg_encode(grids, _JPEG_YCC420, [ql, qc], script)

    return _map_rows(df, [id_col], f"{id_col} long, payload binary", jpeg)


def synth_jpeg(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Manufacture a REAL baseline grayscale JPEG per row — spec-valid
    SOI/DQT/SOF0/DHT/SOS/EOI structure with canonical-Huffman
    entropy-coded data (DC-diff prediction, EOB-coded all-zero AC,
    FF byte stuffing). Dimensions and content derive from the id:
    width = 8·(1 + id%3), height = 8·(1 + (2·id)%3); block (bx, by)
    carries ONLY a DC coefficient dc = (5·id + 3·bx + 7·by) mod 21 − 10
    against a q[0,0] = 16 table, so each decoded 8×8 block is EXACTLY
    flat at 128 + 2·dc (16·dc/8 is an integer — no rounding freedom) and
    an engine-independent oracle can replay every pixel arithmetically.
    The AC run-length path (runs, ZRL, mid-block EOB) is exercised by
    unit tests against a reference IDCT, where exactness is not needed.

    Same contract as ``synth_media_payload``."""

    return _synth_jpeg_gray(df, id_col, [((0,), 0, 63, 0, 0)])


def synth_jpeg_progressive(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """``synth_jpeg`` in the PROGRESSIVE layout (r10, d121): identical
    pixel content, but SOF2 with a DC scan + two spectral-selection AC
    band scans (1–5, 6–63).  The scan structure must be
    RESULT-INVISIBLE, so d121 reuses d108's oracle verbatim (the
    d118/d120 isolation discipline)."""

    return _synth_jpeg_gray(
        df, id_col, _jpeg_progressive_script(1, ((1, 5), (6, 63)), 0)
    )


def synth_jpeg_progressive_sa(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """``synth_jpeg`` in the full SUCCESSIVE-APPROXIMATION progressive
    layout (r10, d123): identical pixel content, four scans — DC first
    at Al=1, AC 1–63 first at Al=1, DC refinement, AC refinement.  SA
    must be RESULT-INVISIBLE, so d123 reuses d108's oracle verbatim."""

    return _synth_jpeg_gray(df, id_col, _jpeg_progressive_script(1, ((1, 63),), 1))


def synth_jpeg_dri(
    df: DataFrame, id_col: str = "doc_id", restart_interval: int = 2
) -> DataFrame:
    """``synth_jpeg`` with RESTART INTERVALS (r10, d118): the identical
    pixel content — width = 8·(1 + id%3), height = 8·(1 + (2·id)%3),
    block DC = (5·id + 3·bx + 7·by) mod 21 − 10 — but the scan carries
    a DRI segment and splits into ``restart_interval``-MCU intervals
    separated by cycling RSTm markers, each byte-aligned with its DC
    predictor reset.  Restart machinery must be RESULT-INVISIBLE, so
    d118 reuses d108's oracle verbatim (the d112/d113 isolation trick):
    a predictor that fails to reset, a mis-consumed RST marker, or a
    broken byte-align breaks d118 while d108 stays green, isolating the
    restart path."""

    return _synth_jpeg_gray(df, id_col, [((0,), 0, 63, 0, 0)], restart_interval)


def decode_jpeg_stats(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """REAL grayscale JPEG decode with NO codec library — baseline and
    progressive (spectral selection, successive approximation), with or
    without restart intervals, through the one ``_jpeg_decode``: marker
    walk, DQT zigzag rebuild, DHT canonical-Huffman tables, FF00
    unstuffing, Huffman decode of the scan script, dequantization,
    separable IDCT, level shift — then the shared per-channel stats +
    position-weighted checksum frame of the PNG/BMP/PPM tiers
    (grayscale = channel 0 only). Color files, out-of-scope shapes
    (other SOF classes, 16-bit tables, DRI in a progressive frame) and
    any structural error degrade to skip, never an executor error.

    d108 certifies the full chain on DC-only blocks where the IDCT is
    exact integer arithmetic; the AC path is unit-tested against a
    reference IDCT. The entropy decode is per-image sequential BY SPEC (DC
    prediction chains through the scan) — parallelism lives across
    images, which is where 100 TB lives."""

    def decode(b: bytes):
        got = _jpeg_decode(b)
        return ("jpeg", got[1]) if got is not None and got[1].ndim == 2 else None

    return _image_stats(df, decode, payload_col, id_col)


def synth_pcm_wav(
    df: DataFrame, id_col: str = "doc_id", gain: int = 1, offset: int = 0
) -> DataFrame:
    """Manufacture a REAL mono 16-bit PCM WAV per row — valid RIFF/WAVE
    with fmt and data chunks — whose samples derive from the id
    arithmetically: n = 256 + id%64 samples at 8000 Hz with
    s(t) = gain·(((a·t + b) mod 2048) − 1024) + offset, a = 3 + id%5,
    b = id mod 97 (defaults gain=1, offset=0 — the d109/d119/d142
    fixture unchanged; gain/offset exist for the d156 fingerprint
    invariance twins: a volume-shifted or DC-offset copy of the same
    underlying signal).  The fixture generator for
    :func:`resample_pcm_stats`: an engine-independent oracle can
    replay every sample, so the whole parse→resample→aggregate chain
    hash-certifies with no audio library. Same contract as
    ``synth_media_payload``."""
    if not (-16 <= gain <= 16 and -1024 <= offset <= 1024):
        raise ValueError(
            "synth_pcm_wav: |gain| <= 16 and |offset| <= 1024 keep "
            "gain*1024 + offset inside int16"
        )

    def wav(i: int):
        n = 256 + i % 64
        a, b = 3 + i % 5, i % 97
        t = np.arange(n, dtype=np.int64)
        samples = (
            gain * ((a * t + b) % 2048 - 1024) + offset
        ).astype("<i2")
        yield i, _wav_pcm16(samples.tobytes(), 8000)

    return _map_rows(df, [id_col], f"{id_col} long, payload binary", wav)


def synth_chirp_wav(
    df: DataFrame,
    id_col: str = "doc_id",
    gain: int = 1,
    offset: int = 0,
    extra: int = 0,
) -> DataFrame:
    """Quadratic-phase CHIRP WAV fixture — the d156 fingerprint
    generator.  :func:`synth_pcm_wav`'s linear ramp is spectrally
    STATIC frame-over-frame (frame f+1 = frame f + a constant, which
    moves only the DC bin), so every double-difference fingerprint
    degenerates to zero; a chirp's instantaneous frequency grows with
    t, so band energies move between frames and fingerprints are
    discriminative (measured on the fixture: same-track copies at
    Hamming 0, distinct tracks at 6-17).  Same RIFF container and
    gain/offset contract as synth_pcm_wav; samples are
    s(t) = gain·(((a·t² + b·t + id) mod 2048) − 1024) + offset with
    a = 1 + id%7, b = 3 + id%13, n = 256 + id%64 + extra — every term
    integer and oracle-replayable.  ``extra`` lengthens every track by
    a constant sample count (the LONG-audio fixture for the d170
    chunked-fingerprint tier: extra=1024 gives 20-21 frames, past the
    64-bit head cap ``audio_fingerprint`` documents in
    n_frames_used)."""
    if not (-16 <= gain <= 16 and -1024 <= offset <= 1024):
        raise ValueError(
            "synth_chirp_wav: |gain| <= 16 and |offset| <= 1024 keep "
            "gain*1024 + offset inside int16"
        )
    if extra < 0:
        raise ValueError("synth_chirp_wav: extra must be >= 0")

    def wav(i: int):
        n = 256 + i % 64 + extra
        a, b = 1 + i % 7, 3 + i % 13
        t = np.arange(n, dtype=np.int64)
        samples = (
            gain * ((a * t * t + b * t + i) % 2048 - 1024) + offset
        ).astype("<i2")
        yield i, _wav_pcm16(samples.tobytes(), 8000)

    return _map_rows(df, [id_col], f"{id_col} long, payload binary", wav)


def synth_speech_wav(
    df: DataFrame, id_col: str = "doc_id", gain: int = 1
) -> DataFrame:
    """Speech-shaped WAV fixture for the VAD tier (d165): 64-sample
    blocks cycle through four classes by ``(block + id) % 4`` —
    SILENCE (class 0: ``(3t + id) mod 16 − 8``, amplitude ~8), LOUD
    (classes 1-2: the chirp formula mod 2048, amplitude ~1024), and
    MEDIUM (class 3: the chirp formula mod 720, amplitude ~360, whose
    frame energy lands strictly BETWEEN the d165 open and close
    thresholds, so only the hysteresis rule decides it).  The per-id
    phase shift makes segment layouts differ across documents;
    ``n = 512 + (id % 8)·64`` samples.  Same RIFF/gain contract as
    :func:`synth_chirp_wav`; every term is integer and
    oracle-replayable."""
    if not -16 <= gain <= 16:
        raise ValueError("synth_speech_wav: |gain| <= 16 keeps int16")

    def wav(i: int):
        n = 512 + (i % 8) * 64
        a, b = 1 + i % 7, 3 + i % 13
        t = np.arange(n, dtype=np.int64)
        cls = (t // 64 + i) % 4
        loud = (a * t * t + b * t + i) % 2048 - 1024
        med = (a * t * t + b * t + i) % 720 - 360
        sil = (3 * t + i) % 16 - 8
        base = np.where(cls == 0, sil, np.where(cls == 3, med, loud))
        samples = (gain * base).astype("<i2")
        yield i, _wav_pcm16(samples.tobytes(), 8000)

    return _map_rows(df, [id_col], f"{id_col} long, payload binary", wav)


def vad_segments(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    frame_len: int = 64,
    open_num: int = 1,
    open_den: int = 4,
    close_num: int = 1,
    close_den: int = 16,
) -> DataFrame:
    """Voice-activity ENERGY SEGMENTATION (d165) — the segment-before-
    transcribe step every training-data audio pipeline runs (VERDICT
    r12 #3): per non-overlapping ``frame_len``-sample frame compute
    the exact integer energy Σ s², then run a HYSTERESIS state
    machine against thresholds RELATIVE to the file's peak frame
    energy —

    * OPEN  when  e · open_den  >= peak · open_num   (default e ≥ peak/4),
    * CLOSE when  e · close_den <  peak · close_num  (default e < peak/16),
    * otherwise HOLD the previous state (initial state: closed)

    — and emit the active islands (the c57 gaps-and-islands session
    pattern applied inside the sample array): (id, seg_no, f0, f1,
    n_frames, energy), seg_no 1-based in time order, energy = Σ frame
    energies over the segment.  Because both thresholds are ratios of
    exact integers, a uniform volume change (gain g scales every
    energy by exactly g²) multiplies BOTH sides of each comparison by
    g² — segmentation is EXACTLY volume-invariant (the d165b twin).
    Trailing samples short of a full frame are ignored; files without
    one full frame (or non-PCM16-mono) skip.  Per-file state is
    bounded by file length."""
    if frame_len < 1:
        raise ValueError("vad_segments: frame_len must be >= 1")
    if min(open_num, open_den, close_num, close_den) < 1:
        raise ValueError("vad_segments: threshold ratios must be positive")
    if close_num * open_den >= open_num * close_den:
        raise ValueError(
            "vad_segments: close threshold must be strictly below the "
            "open threshold (hysteresis needs a dead band)"
        )

    def segs(i, b: bytes):
        got = _wav_pcm16_mono(b)
        if got is None or got[1].size < frame_len:
            return
        s = got[1].astype(np.int64)
        nf = s.size // frame_len
        e = (s[: nf * frame_len] ** 2).reshape(nf, frame_len).sum(axis=1)
        peak = int(e.max())
        # vectorized hysteresis (VERDICT r13 #5): the two threshold masks
        # are mutually exclusive (the dead-band validation guarantees
        # open implies not-close), so the state at frame f is the most
        # recent non-hold event — a forward-fill via running max of
        # event indices. int64 is exact here: e <= 32768^2 * frame_len
        # and the ratio factors are small integers.
        ev = np.where(
            e * open_den >= peak * open_num,
            1,
            np.where(e * close_den < peak * close_num, 0, -1),
        )
        idx = np.where(ev >= 0, np.arange(nf), -1)
        np.maximum.accumulate(idx, out=idx)
        state = np.where(idx >= 0, ev[np.maximum(idx, 0)], 0)
        # islands of state==1 (the c57 gaps-and-islands shape,
        # vectorized): starts/ends from the state delta, exact
        # per-segment energy from one prefix sum
        d = np.diff(np.concatenate(([0], state, [0])))
        starts = np.where(d == 1)[0]
        ends = np.where(d == -1)[0]  # exclusive
        csum = np.concatenate(([0], np.cumsum(e)))
        for seg_no, (a, b) in enumerate(zip(starts, ends), 1):
            yield i, seg_no, int(a), int(b - 1), int(b - a), int(csum[b] - csum[a])

    return _map_rows(
        df,
        [id_col, payload_col],
        f"{id_col} long, seg_no int, f0 int, f1 int, n_frames int, energy long",
        segs,
    )


def _resample_stats(df, payload_col, id_col, up, down, resample) -> DataFrame:
    """The stats frame of the resample tier: per PCM-16 mono file of at
    least 2 samples, ``resample(int64 samples) -> (j, y_scaled)``, then
    one row (id, sr_in, sr_out, n_in, n_out, sum_scaled, min_scaled,
    max_scaled, pos_sum) — pos_sum = Σ y_scaled[j]·(j+1), the
    order-sensitive checksum a mis-phased resampler cannot fake."""

    def stats(i, b: bytes):
        got = _wav_pcm16_mono(b)
        if got is None or got[1].size < 2:
            return
        sr, s = got[0], got[1].astype(np.int64)
        j, ys = resample(s)
        yield (
            i, int(sr), int(sr * up // down), int(s.size), int(j.size),
            int(ys.sum()), int(ys.min()), int(ys.max()), int((ys * (j + 1)).sum()),
        )

    return _map_rows(
        df,
        [id_col, payload_col],
        f"{id_col} long, sr_in int, sr_out int, n_in long, n_out long, "
        "sum_scaled long, min_scaled long, max_scaled long, pos_sum long",
        stats,
    )


def _resample_scaled(s, up: int, down: int):
    """The multiplied-through rational linear resample: int64 sample
    vector → (j, y_scaled) int64 vectors with y_scaled[j] = up·s[i0] +
    r·(s[i0+1] − s[i0]), i0 = (j·down)//up, r = (j·down) mod up, and
    n_out = ((n−1)·up)//down + 1. Pure integer arithmetic; r > 0
    implies i0 + 1 < n (num ≤ (n−1)·up forces r = 0 at the last
    sample), so the guard index never contributes."""
    n = s.size
    n_out = ((n - 1) * up) // down + 1
    j = np.arange(n_out, dtype=np.int64)
    num = j * down
    i0 = num // up
    r = num % up
    s1 = np.where(i0 + 1 < n, s[np.minimum(i0 + 1, n - 1)], 0)
    return j, up * s[i0] + r * (s1 - s[i0])


def resample_pcm_stats(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    up: int = 3,
    down: int = 2,
) -> DataFrame:
    """REAL audio resampling with no audio library — the resample stub
    closed for the linear-interpolation tier: parse the WAV container
    (RIFF walk, PCM mono 16-bit fmt), lift the int16 samples, and
    resample by the rational factor ``up/down`` with linear
    interpolation on the original sample grid — output j sits at input
    position j·down/up, so y[j] = s[i0] + frac·(s[i0+1] − s[i0]) with
    i0 = (j·down)//up, frac = (j·down mod up)/up.

    Hash-certification trick: every statistic is computed on the
    MULTIPLIED-THROUGH value y_scaled[j] = up·s[i0] +
    (j·down mod up)·(s[i0+1] − s[i0]) — pure INTEGER arithmetic, no
    float division anywhere, so the oracle replays it exactly (the
    CUSUM multiply-through precedent). n_out = ((n−1)·up)//down + 1
    covers exactly the positions inside the input span; when frac = 0
    the s[i0+1] term vanishes, so the final sample never reads past the
    end. Anything non-PCM/mono/16-bit or structurally broken degrades
    to skip. One output row per file: :func:`_resample_stats`."""
    return _resample_stats(
        df, payload_col, id_col, up, down, lambda s: _resample_scaled(s, up, down)
    )


def sinc_taps(up: int, down: int, half: int = 4, scale: int = 1 << 14):
    """Fixed-point POLYPHASE WINDOWED-SINC filter bank (r10, d119) —
    how production resamplers actually run (SoX/speexdsp-style): one
    integer tap row per output phase p ∈ 0..up−1, tap m ∈ −half+1..half
    weighting input sample i0+m for an output at position i0 + p/up,
    coefficient round(scale · sinc(d) · hann(d)) with d = m − p/up and
    hann(d) = ½ + ½cos(πd/half). Pure ``math`` module (no numpy) so the
    SAME call can build both the executor-side filter and the DuckDB
    oracle's literal tap table — bit-identical by construction; the
    float→int quantization happens HERE, once, and the certified
    contract is the integer convolution. Phase 0 degenerates to the
    identity tap row (sinc vanishes at nonzero integers), so aligned
    outputs reproduce inputs exactly at DC gain ``scale``.

    Upsampling form (cutoff at the input Nyquist): for down > up,
    scale the cutoff by up/down before calling — documented, not
    needed by the d119 tier."""
    import math

    taps = []
    for ph in range(up):
        frac = ph / up
        row = []
        for m in range(-half + 1, half + 1):
            d = m - frac
            if abs(d) >= half:
                row.append(0)
                continue
            sinc = 1.0 if d == 0 else math.sin(math.pi * d) / (math.pi * d)
            window = 0.5 + 0.5 * math.cos(math.pi * d / half)
            row.append(round(scale * sinc * window))
        taps.append(row)
    return taps


def resample_fir_stats(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    up: int = 160,
    down: int = 147,
    taps=None,
) -> DataFrame:
    """Arbitrary-ratio polyphase FIR resampling (r10, d119) — the
    windowed-sinc tier above d109's linear interpolation, at the
    CD→DAT ratio 160/147 (44.1 kHz → 48 kHz) by default: parse the WAV
    container (same RIFF walk as ``resample_pcm_stats``), then for
    output j at input position j·down/up compute the PURE-INTEGER
    convolution y_scaled[j] = Σ_m taps[phase][m] · s[i0+m] with
    i0 = (j·down)//up, phase = (j·down) mod up, zero-padding outside
    the signal. No float arithmetic anywhere past tap construction, so
    the oracle replays every output sample exactly; the checksum
    Σ y_scaled·(j+1) catches phase, boundary, and tap-selection errors.
    Same output schema as the linear tier (:func:`_resample_stats`)."""
    C = np.asarray(sinc_taps(up, down) if taps is None else taps, dtype=np.int64)
    half = C.shape[1] // 2  # C is (up, 2*half)

    def fir(s):
        n = s.size
        n_out = ((n - 1) * up) // down + 1
        j = np.arange(n_out, dtype=np.int64)
        num = j * down
        i0 = num // up
        ph = num % up
        pad = np.zeros(n + 2 * half - 1, dtype=np.int64)
        pad[half - 1 : half - 1 + n] = s
        ys = np.zeros(n_out, dtype=np.int64)
        for t_idx, m in enumerate(range(-half + 1, half + 1)):
            ys += C[ph, t_idx] * pad[i0 + m + half - 1]
        return j, ys

    return _resample_stats(df, payload_col, id_col, up, down, fir)


def synth_jpeg_color(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Manufacture a REAL baseline YCbCr 4:2:0 COLOR JPEG per row —
    3-component SOF0 (Y 2x2, chroma 1x1), two quant tables, four Huffman
    tables, interleaved MCU scan with per-component DC predictors.
    Dimensions: width = 16·(1 + id%2), height = 16·(1 + (3·id)%2); luma
    block (bx, by) carries DC dc = (5·id + 3·bx + 7·by) mod 21 − 10
    (q0 = 16 ⇒ flat 128 + 2·dc, exact); chroma DCs are ZERO (neutral —
    Cb = Cr = 128 exactly), so YCbCr→RGB collapses to R = G = B = Y with
    no float rounding freedom and the oracle replays every pixel. A
    chroma mis-decode (wrong predictor chain, MCU order, table id, or
    upsampling) shifts the decoded chroma off 128 and the checksum
    catches it; NONZERO chroma is exercised by unit tests against the
    reference conversion."""

    return _synth_jpeg_color(df, id_col, [((0, 1, 2), 0, 63, 0, 0)])


def decode_jpeg_color_stats(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """REAL COLOR JPEG decode (YCbCr 4:2:0) with no codec library — the
    d108 grayscale tier extended to the common color case, through the
    same ``_jpeg_decode``: baseline (interleaved MCUs, restart intervals)
    or progressive scan scripts, per-component DC predictors, dual quant
    tables, 2×2 sample-replication chroma upsampling, JFIF YCbCr→RGB.
    Emits the standard per-channel stats + position-weighted checksum
    frame (channels 0/1/2 = R/G/B). Grayscale and non-4:2:0 inputs
    degrade to skip."""

    def decode(b: bytes):
        got = _jpeg_decode(b)
        return ("jpeg", got[1]) if got is not None and got[1].ndim == 3 else None

    return _image_stats(df, decode, payload_col, id_col)


def synth_jpeg_color_progressive(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """``synth_jpeg_color`` in the PROGRESSIVE layout (r10, d126):
    identical pixel content — SOF2, one interleaved DC scan, three
    single-component AC scans.  Scan structure must be
    RESULT-INVISIBLE, so d126 reuses d110's oracle verbatim."""

    return _synth_jpeg_color(df, id_col, _jpeg_progressive_script(3, ((1, 63),), 0))


def synth_jpeg_color_progressive_sa(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """``synth_jpeg_color`` in the FULL eight-scan successive-
    approximation progressive layout (r10, d128): DC/AC first scans at
    Al=1, interleaved one-bit DC refinement, three per-component AC
    refinements.  Oracle is d110's verbatim."""

    return _synth_jpeg_color(df, id_col, _jpeg_progressive_script(3, ((1, 63),), 1))


def _warc_records(i: int, uri: str, html: str) -> list:
    """The two spec-valid WARC/1.0 records (warcinfo + HTTP response)
    for one page, as separate byte strings — exact Content-Lengths,
    CRLF CRLF terminators, UTF-8 bodies. Shared by the plain
    concatenation (``synth_warc``) and the per-record-gzip-member
    Common-Crawl layout (``synth_warc_gz``)."""

    def record(headers: list, block: bytes) -> bytes:
        head = b"WARC/1.0\r\n" + b"".join(
            k.encode() + b": " + v.encode() + b"\r\n" for k, v in headers
        )
        head += b"Content-Length: " + str(len(block)).encode() + b"\r\n\r\n"
        return head + block + b"\r\n\r\n"

    info = record(
        [
            ("WARC-Type", "warcinfo"),
            ("WARC-Record-ID", f"<urn:uuid:info-{i}>"),
            ("WARC-Date", "2024-01-01T00:00:00Z"),
            ("Content-Type", "application/warc-fields"),
        ],
        b"software: pandas-db-sdk-spark synth\r\n",
    )
    body = html.encode("utf-8")
    http = (
        b"HTTP/1.1 200 OK\r\n"
        b"Content-Type: text/html; charset=utf-8\r\n"
        b"Content-Length: " + str(len(body)).encode() + b"\r\n\r\n" + body
    )
    resp = record(
        [
            ("WARC-Type", "response"),
            ("WARC-Target-URI", uri),
            ("WARC-Record-ID", f"<urn:uuid:resp-{i}>"),
            ("WARC-Date", "2024-01-01T00:00:00Z"),
            ("Content-Type", "application/http; msgtype=response"),
        ],
        http,
    )
    return [info, resp]

def parse_wet(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """WET parsing — the conversion-record sibling of :func:`parse_warc`
    (Common Crawl ships crawl text as WET files: WARC/1.0 containers
    whose records are ``WARC-Type: conversion`` with a text/plain block
    of exactly Content-Length bytes).  Same file read, same
    skip-never-error contract; emits one row per conversion record:
    (id, n_records, target_uri, content_length, text)."""

    def parse(i, b: bytes):
        try:
            recs = _warc_file_records(b)
        except Exception:
            recs = None
        for headers, block in recs or ():
            if headers.get("warc-type") == "conversion":
                yield (
                    i,
                    len(recs),
                    headers.get("warc-target-uri"),
                    int(headers["content-length"]),
                    block.decode("utf-8", "replace"),
                )

    return _map_rows(
        df,
        [id_col, payload_col],
        f"{id_col} long, n_records int, target_uri string,"
        " content_length long, text string",
        parse,
    )


def synth_warc(
    df: DataFrame, html_col: str = "html", uri_col: str = "uri", id_col: str = "doc_id"
) -> DataFrame:
    """Manufacture a REAL WARC/1.0 file per row — the Common-Crawl
    container: a ``warcinfo`` record followed by a ``response`` record
    whose block is a full HTTP/1.1 response (status line, headers,
    blank line, HTML body). Content-Length fields are exact byte
    counts, records end with the spec's CRLF CRLF separator, and bodies
    are UTF-8 — so a parser must honor lengths, not delimiters.
    Same contract as ``synth_media_payload``."""
    return _map_rows(
        df,
        [id_col, uri_col, html_col],
        f"{id_col} long, payload binary",
        lambda i, u, h: [(i, b"".join(_warc_records(i, u, h)))],
    )


def synth_warc_gz(
    df: DataFrame, html_col: str = "html", uri_col: str = "uri", id_col: str = "doc_id"
) -> DataFrame:
    """The Common-Crawl ON-DISK layout: a ``.warc.gz`` where EVERY record
    is its own gzip member and the members are concatenated — the
    property that lets a crawler index byte offsets and a reader inflate
    one record without touching the rest. Deterministic members
    (mtime=0). Same contract as ``synth_warc``."""
    import gzip

    def build(i, u, h):
        yield i, b"".join(gzip.compress(r, mtime=0) for r in _warc_records(i, u, h))

    return _map_rows(
        df, [id_col, uri_col, html_col], f"{id_col} long, payload binary", build
    )


def _gz_member_spans(b: bytes):
    """The one gzip member walk: (offset, length, inflated_bytes) per
    member of a multi-member stream (the ``.warc.gz`` layout) — the byte
    geometry a CDX index records so one record can be fetched without
    touching the rest of the file (r10, d129). Each decompressobj
    consumes ONE member; what it leaves unused starts the next. None
    when a member is cut short or corrupt. Never raises."""
    import zlib

    spans = []
    pos = 0
    while pos < len(b):
        d = zlib.decompressobj(wbits=47)  # gzip header + window
        try:
            chunk = d.decompress(b[pos:]) + d.flush()
        except zlib.error:
            return None
        if not d.eof:
            return None
        consumed = len(b) - pos - len(d.unused_data)
        spans.append((pos, consumed, chunk))
        pos += consumed
    return spans


def _gz_inflate_members(b: bytes):
    """The inflated bytes of a multi-member gzip stream, or None."""
    spans = _gz_member_spans(b)
    return None if spans is None else b"".join(chunk for _, _, chunk in spans)


def _warc_file_records(b: bytes):
    """The records of a plain or ``.warc.gz`` WARC file (gzip sniffed by
    magic, inflated member by member), or None — the one read step of
    :func:`parse_warc` and :func:`parse_wet`."""
    if b[:2] == b"\x1f\x8b":
        b = _gz_inflate_members(b)
    return None if b is None else _warc_split_records(b)


def _http_response_head(block: bytes):
    """The one HTTP status-line reader: ``(status, body_start)`` of a
    WARC response block, or None when the block does not start with
    ``HTTP/``. ``status`` is the status line's 3-digit code when it lies
    in 100–599 (RFC 9110), else None; ``body_start`` is the offset past
    the blank line that ends the HTTP headers, None when there is none."""
    if not block.startswith(b"HTTP/"):
        return None
    eol = block.find(b"\r\n")
    parts = block[: eol if eol >= 0 else len(block)].split(b" ")
    code = parts[1] if len(parts) > 1 else b""
    ok = len(code) == 3 and code.isdigit() and 100 <= int(code) <= 599
    end = block.find(b"\r\n\r\n")
    return (int(code) if ok else None), (end + 4 if end >= 0 else None)


def _warc_split_records(b: bytes):
    """Length-driven WARC record walk: a structural error ANYWHERE
    invalidates the whole file (None), never a partial record list —
    lengths are the only authority, so a bad length would misalign
    every later record. Returns [(headers dict, block bytes)]."""
    out = []
    pos = 0
    while pos < len(b):
        if not b.startswith(b"WARC/", pos):
            return None
        hdr_end = b.find(b"\r\n\r\n", pos)
        if hdr_end < 0:
            return None
        lines = b[pos:hdr_end].split(b"\r\n")[1:]
        headers = {}
        for ln in lines:
            k, _, v = ln.partition(b":")
            headers[k.strip().lower().decode("utf-8", "replace")] = (
                v.strip().decode("utf-8", "replace")
            )
        try:
            clen = int(headers.get("content-length", ""))
        except ValueError:
            return None
        block = b[hdr_end + 4 : hdr_end + 4 + clen]
        if len(block) != clen:
            return None
        out.append((headers, block))
        pos = hdr_end + 4 + clen
        if b[pos : pos + 4] != b"\r\n\r\n":
            return None
        pos += 4
    return out


def parse_warc(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """REAL WARC/1.0 parsing — the FIRST stage of every Common-Crawl
    pipeline, no library: walk records by Content-Length (never by
    delimiter scanning — bodies may contain anything), parse WARC
    headers case-insensitively, and for ``response`` records split the
    HTTP block into status line / headers / body (again by the blank
    line + remaining bytes). Emits one row per response record:
    (id, n_records, warc_type, target_uri, http_status, body string) —
    body decoded UTF-8 so downstream codegen (html_main_text, quality
    gates) chains directly; http_status is null outside 100–599. Gzip
    payloads (the ``.warc.gz`` on-disk layout — one gzip member PER
    RECORD) read through the same parser. Structurally broken files,
    and response blocks with no HTTP header end, degrade to skip.
    At 100 TB one WARC file is one row of a binaryFile/payload table and
    the fleet is embarrassingly parallel."""

    def parse(i, b: bytes):
        try:
            recs = _warc_file_records(b)
        except Exception:
            recs = None
        for headers, block in recs or ():
            if headers.get("warc-type") != "response":
                continue
            head = _http_response_head(block)
            if head is None or head[1] is None:
                continue
            yield (
                i,
                len(recs),
                "response",
                headers.get("warc-target-uri"),
                head[0],
                block[head[1] :].decode("utf-8", "replace"),
            )

    return _map_rows(
        df,
        [id_col, payload_col],
        f"{id_col} long, n_records int, warc_type string, target_uri string, "
        "http_status int, body string",
        parse,
    )


def warc_gz_cdx_stats(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """CDX-style RANDOM ACCESS over ``.warc.gz`` (r10, d129) — the
    access pattern Common Crawl's index exists for: record the byte
    GEOMETRY of every gzip member ((offset, length) per record, which
    is exactly what a CDX line's offset/length fields carry), then
    PROVE the geometry by re-fetching each record through it — slice
    ``payload[offset : offset+length]``, inflate that single member
    INDEPENDENTLY, parse it as a standalone WARC record, and compare
    byte-for-byte against the sequential full-file walk.  Emits one
    verification row per file:

      (id, n_members, n_response, coverage_ok, fetch_ok, http_status)

    coverage_ok = the member spans tile the file exactly (contiguous,
    ending at EOF); fetch_ok = every random-access fetch reproduced its
    sequential record AND the response body matched; http_status is the
    last response status in 100–599, else null. A geometry slip of
    even one byte breaks the member's gzip header and fails the fetch —
    the property that lets a 100 TB crawl serve single-record reads off
    an index instead of streaming whole files. Structurally broken
    files degrade to skip."""

    def stats(i, raw: bytes):
        try:
            if raw[:2] != b"\x1f\x8b":
                return
            spans = _gz_member_spans(raw)
            if spans is None:
                return
            full = _warc_split_records(b"".join(chunk for _, _, chunk in spans))
            if full is None or len(full) != len(spans):
                return
            coverage_ok = int(
                spans[0][0] == 0
                and all(
                    spans[k][0] + spans[k][1] == spans[k + 1][0]
                    for k in range(len(spans) - 1)
                )
                and spans[-1][0] + spans[-1][1] == len(raw)
            )
            fetch_ok = 1
            status = None
            n_resp = 0
            for (off, ln, chunk), (hdrs, block) in zip(spans, full):
                refetched = _gz_inflate_members(raw[off : off + ln])
                if refetched != chunk:
                    fetch_ok = 0
                    continue
                rec = _warc_split_records(refetched)
                if rec is None or len(rec) != 1:
                    fetch_ok = 0
                    continue
                if rec[0][0] != hdrs or rec[0][1] != block:
                    fetch_ok = 0
                if hdrs.get("warc-type") == "response":
                    n_resp += 1
                    head = _http_response_head(block)
                    if head and None not in head:
                        status = head[0]
            yield i, len(spans), n_resp, coverage_ok, fetch_ok, status
        except Exception:
            return

    return _map_rows(
        df,
        [id_col, payload_col],
        f"{id_col} long, n_members int, n_response int, coverage_ok int, "
        "fetch_ok int, http_status int",
        stats,
    )


def warc_gz_cdx_index(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """CDX index WRITE (r11, d135) — the other half of d129's read-side
    proof: produce the index rows a crawler RECORDS during ingest, one
    per gzip member of a ``.warc.gz``: (id, member_idx, offset, length,
    warc_type, target_uri, http_status).  offset/length are the member's
    exact byte geometry (what a CDX(J) line's offset/length fields
    carry); target_uri/status come from parsing the inflated record, so
    the index row is self-describing — a URL→(file, offset, length)
    lookup needs nothing else.  Downstream the urlkey is
    ``text.surt_key(target_uri)`` (d125) — kept OUT of this function so
    the key policy stays one codegen expression, not Python.
    Structurally broken files degrade to skip (no rows); a broken
    member skips only itself.  At 100 TB each WARC file is one row of a binaryFile table and indexing is
    embarrassingly parallel; the emitted index is then a tiny,
    partitionable table served through the engine's storage layout."""

    def index(i, raw: bytes):
        spans = _gz_member_spans(raw) if raw[:2] == b"\x1f\x8b" else None
        for k, (off, ln, chunk) in enumerate(spans or ()):
            try:  # a bad member skips itself, never its siblings
                rec = _warc_split_records(chunk)
                if rec is None or len(rec) != 1:
                    continue
                hdrs, block = rec[0]
                head = None
                if hdrs.get("warc-type") == "response":
                    head = _http_response_head(block)
            except Exception:
                continue
            yield (
                i,
                k,
                off,
                ln,
                hdrs.get("warc-type"),
                hdrs.get("warc-target-uri"),
                head[0] if head else None,
            )

    return _map_rows(
        df,
        [id_col, payload_col],
        f"{id_col} long, member_idx int, offset long, length long, "
        "warc_type string, target_uri string, http_status int",
        index,
    )


def warc_gz_indexed_fetch(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    offset_col: str = "offset",
    length_col: str = "length",
) -> DataFrame:
    """Indexed single-record FETCH (r11, d135): given rows carrying a
    payload plus an index entry's (offset, length), slice
    ``payload[offset : offset+length]``, inflate that one gzip member
    INDEPENDENTLY (never touching the rest of the file), parse it as a
    standalone WARC record, and emit what was served: (id, offset,
    fetch_ok, warc_type, target_uri, http_status, body).  fetch_ok=0
    rows (geometry slip → broken gzip header, a slice that is not
    exactly one record, or a null offset or length) keep their identity columns with NULL content —
    the skip-never-error contract, so one bad index row cannot fail a
    fleet.  The caller joins index→payload however its storage
    co-locates them."""

    def fetch(i, b: bytes, off, ln):
        off = None if pd.isna(off) else int(off)
        wtype = uri = body = None
        status = None
        ok = 0
        try:  # a null offset or length lands here: fetch_ok = 0
            raw = b[off : off + int(ln)]
            rec = _warc_file_records(raw) if raw[:2] == b"\x1f\x8b" else None
            if rec is not None and len(rec) == 1:
                hdrs, block = rec[0]
                wtype = hdrs.get("warc-type")
                uri = hdrs.get("warc-target-uri")
                ok = 1
                head = None
                if wtype == "response":
                    head = _http_response_head(block)
                if head:
                    status, start = head
                    if start is not None:
                        body = block[start:].decode("utf-8", "replace")
        except Exception:
            ok = 0
        yield i, off, ok, wtype, uri, status, body

    return _map_rows(
        df,
        [id_col, payload_col, offset_col, length_col],
        f"{id_col} long, offset long, fetch_ok int, warc_type string, "
        "target_uri string, http_status int, body string",
        fetch,
    )


class _Y4m(NamedTuple):
    """A YUV4MPEG2 stream as :func:`_y4m_read` finds it."""

    tags: list  # the raw header tokens after the magic, in order
    w: int
    h: int
    fps: tuple | None  # the F tag as (num, den); None if absent or bad
    cw: int  # chroma plane width
    ch: int  # chroma plane height
    frames: list  # (marker_start, data_start) of each whole frame

    @property
    def frame_bytes(self) -> int:
        return self.w * self.h + 2 * self.cw * self.ch


def _y4m_read(b: bytes):
    """The one YUV4MPEG2 reader: a :class:`_Y4m`, or None when ``b``
    lacks the magic or the header line, W or H is not a positive
    integer, or the chroma layout (C tag; 420 when absent) is neither
    444 nor 420 or leaves an empty plane. The last of a repeated tag
    wins. The frame walk consumes FRAME parameters to the newline and
    stops at the first bad marker or cut-short frame, keeping the whole
    frames before it. Never raises."""
    nl = b.find(b"\n")
    if nl < 0 or not b.startswith(b"YUV4MPEG2"):
        return None
    tags = b[:nl].split(b" ")[1:]
    val = {t[:1]: t[1:] for t in tags}
    try:
        w, h = int(val[b"W"]), int(val[b"H"])
    except (KeyError, ValueError):
        return None
    chroma = val.get(b"C", b"420")
    if w <= 0 or h <= 0 or not chroma.startswith((b"444", b"420")):
        return None
    cw, ch = (w, h) if chroma.startswith(b"444") else (w // 2, h // 2)
    if not cw or not ch:
        return None
    try:
        num, den = map(int, val[b"F"].split(b":"))
        fps = (num, den) if num > 0 and den > 0 else None
    except (KeyError, ValueError):
        fps = None
    vid = _Y4m(tags, w, h, fps, cw, ch, [])
    pos = nl + 1
    while b.startswith(b"FRAME", pos):
        fnl = b.find(b"\n", pos)
        if fnl < 0 or fnl + 1 + vid.frame_bytes > len(b):
            break
        vid.frames.append((pos, fnl + 1))
        pos = fnl + 1 + vid.frame_bytes
    return vid


def _y4m_header(tags=(b"W", b"H", b"F25:1", b"Ip", b"A1:1", b"C444"), **new) -> bytes:
    """The one YUV4MPEG2 header writer: the magic, then ``tags`` in
    order, each tag whose letter is a keyword of ``new`` set to that
    value (``W=8`` turns b"W16" into b"W8"). The default tags are the
    fixture header, whose W and H the caller sets."""
    out = [b"YUV4MPEG2"]
    for t in tags:
        k = t[:1].decode("latin-1")
        out.append(t[:1] + str(new[k]).encode() if k in new else t)
    return b" ".join(out) + b"\n"


def synth_y4m(
    df: DataFrame,
    id_col: str = "doc_id",
    width: int = 16,
    height: int = 16,
    chroma: str = "444",
) -> DataFrame:
    """Deterministic YUV4MPEG2 (.y4m) stream per row — a REAL public
    container format (the uncompressed video interchange format mjpegtools
    defined; ffmpeg/x264 consume it directly), built byte-for-byte:
    ``YUV4MPEG2 W.. H.. F25:1 Ip A1:1 C444\n`` then per frame a
    ``FRAME\n`` marker + raw Y, U, V planes.  ``3 + id % 4`` frames per
    stream; plane value at (frame f, x, y) is ``(7*id + 3x + 5y + 13f
    + k) mod 256`` with k = 0/11/22 for Y/U/V — the d99 pattern, so an
    oracle regenerates every byte arithmetically.  chroma='420' halves
    both chroma dimensions (C420 subsampling) for parser coverage."""
    cw, ch = (width, height) if chroma == "444" else (width // 2, height // 2)
    yy, yx = np.meshgrid(np.arange(height), np.arange(width), indexing="ij")
    ybase = (3 * yx + 5 * yy).astype(np.int64)
    cy, cx = np.meshgrid(np.arange(ch), np.arange(cw), indexing="ij")
    cbase = (3 * cx + 5 * cy).astype(np.int64)
    header = _y4m_header(W=width, H=height, C=chroma)

    def build(i: int):
        parts = [header]
        for f in range(3 + i % 4):
            parts.append(b"FRAME\n")
            for base, k in ((ybase, 0), (cbase, 11), (cbase, 22)):
                plane = (7 * i + base + 13 * f + k) % 256
                parts.append(plane.astype(np.uint8).tobytes())
        yield i, b"".join(parts)

    return _map_rows(df, [id_col], f"{id_col} long, payload binary", build)


def synth_textured_y4m(
    df: DataFrame,
    id_col: str = "doc_id",
    width: int = 16,
    height: int = 16,
    n_frames_base: int = 3,
    n_frames_step: int = 1,
) -> DataFrame:
    """TEXTURED YUV4MPEG2 fixture (the d175 generator) —
    :func:`synth_y4m`'s plane pattern is LINEAR in (x, y), so every
    4×4 block-mean gradient points the same way and the d175 grid
    signature degenerates to one value for every frame of every video;
    this variant uses a quadratic pattern whose mod-256 wraps vary the
    gradient signs with position, frame, AND id:
    ``Y(x,y,f) = (7·id + x² + 2·x·y + 3·y² + f·(x + 7·y + 13)) mod
    256`` (U/V add 11/22) — every term integer, oracle-replayable.
    ``n_frames_base + (id % 4) * n_frames_step`` frames per stream
    (defaults reproduce the d175 fleet byte-for-byte; the d177 fleet
    uses 21 + 5·(id%4) so tick sampling at F25:1 spans 5 + id%4
    whole ticks), C444."""
    yy, xx = np.meshgrid(np.arange(height), np.arange(width), indexing="ij")
    quad = (xx * xx + 2 * xx * yy + 3 * yy * yy).astype(np.int64)
    lin = (xx + 7 * yy + 13).astype(np.int64)
    header = _y4m_header(W=width, H=height)

    def build(i: int):
        parts = [header]
        for f in range(n_frames_base + (i % 4) * n_frames_step):
            base = 7 * i + quad + f * lin
            parts.append(b"FRAME\n")
            for k in (0, 11, 22):
                parts.append(((base + k) % 256).astype(np.uint8).tobytes())
        yield i, b"".join(parts)

    return _map_rows(df, [id_col], f"{id_col} long, payload binary", build)


def y4m_frame_sample(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    every_n: int = 2,
) -> DataFrame:
    """Y4M frame-sampling + per-frame features — the video tier's
    decode / frame-sample step over a REAL container (C444 and C420,
    read by :func:`_y4m_read`): keep every ``every_n``-th frame and
    emit per sampled frame the plane means plus a POSITION-WEIGHTED
    luma checksum sum(Y[y][x]*(x+1)*(y+2)) that a transposed, flipped,
    or off-by-one-plane parse cannot fake (the d99 certification
    trick).  Streams the reader rejects skip; a cut-short last frame
    drops — a poison stream never kills the fleet.

    Returns (id, frame_no, width, height, n_frames, y_mean, u_mean,
    v_mean, y_pos_sum).  Scale: frame sampling is the pipeline's data
    EXCLUSION valve — the unsampled frames never leave this operator,
    so downstream stages see 1/every_n of the bytes."""

    if every_n < 1:
        raise ValueError("y4m_frame_sample: every_n must be >= 1")

    def sample(i, b: bytes):
        vid = _y4m_read(b)
        if vid is None:
            return
        w, h, csize = vid.w, vid.h, vid.cw * vid.ch
        xs = np.arange(1, w + 1, dtype=np.int64)
        ys = np.arange(2, h + 2, dtype=np.int64)
        for f in range(0, len(vid.frames), every_n):
            start = vid.frames[f][1]
            y = np.frombuffer(b, np.uint8, w * h, start).reshape(h, w).astype(np.int64)
            u = np.frombuffer(b, np.uint8, csize, start + w * h).astype(np.int64)
            v = np.frombuffer(b, np.uint8, csize, start + w * h + csize)
            v = v.astype(np.int64)
            yield (
                i,
                f,
                w,
                h,
                len(vid.frames),
                round(float(y.sum()) / (w * h), 6),
                round(float(u.sum()) / csize, 6),
                round(float(v.sum()) / csize, 6),
                int((y * xs[None, :] * ys[:, None]).sum()),
            )

    return _map_rows(
        df,
        [id_col, payload_col],
        f"{id_col} long, frame_no int, width int, height int, n_frames int,"
        " y_mean double, u_mean double, v_mean double, y_pos_sum long",
        sample,
    )


def resize_area(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    out_w: int = 4,
    out_h: int = 4,
) -> DataFrame:
    """Area-average (box) image resize — the downsample step every
    multimodal pipeline runs before hashing / thumbnailing / feature
    extraction: each output cell is the mean of its (h/out_h x w/out_w)
    input block, per channel.  Frames whose dimensions don't divide the
    output grid skip (fixtures are exact multiples; a production build
    pads or crops — the geometry contract stays the same).

    Exact-arithmetic discipline: output pixel = (block_sum + area/2) /
    area in INTEGER math (round-half-up), block_sum emitted alongside so
    the oracle certifies the actual summation, not just the quotient.
    Long output layout (id, cell_x, cell_y, channel, block_sum, pixel)
    keeps arrays out of the hash compare.  Scale: the resized frame is
    out_w*out_h/(w*h) of the input bytes — like frame sampling, a data
    valve. Frames :func:`_rgb_read` rejects skip."""

    if out_w < 1 or out_h < 1:
        raise ValueError("resize_area: output grid must be >= 1x1")

    def resize(i, w, h, b: bytes):
        arr = _rgb_read(b, w, h)
        if arr is None:
            return
        h, w, _ = arr.shape
        if w % out_w or h % out_h:
            return
        bh, bw = h // out_h, w // out_w
        area = bh * bw
        sums = arr.reshape(out_h, bh, out_w, bw, 3).sum(axis=(1, 3))
        px = (sums + area // 2) // area
        for cy in range(out_h):
            for cx in range(out_w):
                for c in range(3):
                    yield i, cx, cy, c, int(sums[cy, cx, c]), int(px[cy, cx, c])

    return _map_rows(
        df,
        [id_col, "width", "height", payload_col],
        f"{id_col} long, cell_x int, cell_y int, channel int,"
        " block_sum long, pixel long",
        resize,
    )


def _pow2_u64():
    return np.uint64(1) << np.arange(64, dtype=np.uint64)


_POW2 = _pow2_u64()  # bit weights for packing fingerprint bit grids


def _band_energy_limbs(re_m, im_m):
    """EXACT band energies ``re² + im²`` of int64 DFT outputs, as five
    int64 limb coefficients of base 2^21 — shape ``(..., 5)`` appended to
    the input shape.  |re| < 2^63 splits into three 21-bit limbs
    (a, b, c); the square's coefficients a², 2ab, 2ac+b², 2bc, c² each
    stay below 2^43 and the two-energy sum below 2^44, so sums and
    differences of a handful of energies never overflow int64.  This is
    the vectorized replacement for the arbitrary-precision Python-int
    energy loops (guide §4.2): bit-identical decisions, no per-frame
    Python."""
    mask = (1 << 21) - 1
    out = None
    for x in (re_m, im_m):
        u = np.abs(x)
        a = u >> 42
        b = (u >> 21) & mask
        c = u & mask
        coeff = np.empty(x.shape + (5,), dtype=np.int64)
        coeff[..., 0] = c * c
        coeff[..., 1] = 2 * b * c
        coeff[..., 2] = 2 * a * c + b * b
        coeff[..., 3] = 2 * a * b
        coeff[..., 4] = a * a
        out = coeff if out is None else out + coeff
    return out


def _limb_sign_positive(d):
    """Boolean array: is the signed multi-limb number Σ d[..., i]·2^(21·i)
    strictly positive?  Limbs may be non-normalized and negative (|limb|
    < 2^47 after the gradient double-differences).  Carry-normalizes the
    lower limbs into [0, 2^21); the top limb then carries the sign."""
    d = d.copy()
    last = d.shape[-1] - 1
    for i in range(last):
        carry = d[..., i] >> 21  # arithmetic shift = floor division
        d[..., i] -= carry << 21
        d[..., i + 1] += carry
    top = d[..., last]
    lower_any = (d[..., :last] > 0).any(axis=-1)
    return (top > 0) | ((top == 0) & lower_any)


def _chroma_ddiff_bits(re_m, im_m):
    """Chromaprint double-difference bit grid for a whole file: from the
    (frames, n_bins) int64 DFT outputs, the EXACT comparison
    (E[f][p+1]−E[f][p+2]) − (E[f−1][p+1]−E[f−1][p+2]) > 0 as a boolean
    array of shape (frames−1, n_bands−1) — row f−1 holds frame f's bits
    in band order.  Shared by :func:`audio_fingerprint` and
    :func:`audio_chunk_fingerprints` (their former per-frame Python
    big-int loops computed exactly these signs)."""
    e = _band_energy_limbs(re_m[:, 1:], im_m[:, 1:])  # (F, n_bands, 5)
    grads = e[:, :-1, :] - e[:, 1:, :]  # adjacent-band gradients
    dd = grads[1:] - grads[:-1]  # frame-over-frame double differences
    return _limb_sign_positive(dd)


def _limb_argmax_first(e):
    """First-max argmax along axis 1 of a (rows, cands, limbs) array of
    CANONICAL-izable non-negative limb numbers — the exact integer
    replacement for ``np.argmax`` over object-dtype big-int energies
    (ties break to the lowest index, np.argmax's rule)."""
    e = e.copy()
    last = e.shape[-1] - 1
    for i in range(last):
        carry = e[..., i] >> 21
        e[..., i] -= carry << 21
        e[..., i + 1] += carry
    rows, cands, nl = e.shape
    best = e[:, 0, :].copy()
    besti = np.zeros(rows, dtype=np.int64)
    for bi in range(1, cands):
        cand = e[:, bi, :]
        sign = np.zeros(rows, dtype=np.int64)
        for l in range(nl - 1, -1, -1):
            dl = np.sign(cand[:, l] - best[:, l])
            sign = np.where(sign != 0, sign, dl)
        gt = sign > 0
        if gt.any():
            best[gt] = cand[gt]
            besti[gt] = bi
    return besti


def _map_wav_frames(
    df: DataFrame,
    payload_col: str,
    id_col: str,
    schema: str,
    frame_len: int,
    hop: int,
    n_bins: int,
    emit,
) -> DataFrame:
    """The batch pass of the three DFT operators: per Arrow batch, frame
    every PCM-16 mono file of at least ``frame_len`` samples
    (``frame_len`` window, ``hop`` stride, tail dropped), take ONE exact
    int64 DFT at bins 0..n_bins-1 over all the batch's frames (one
    matmul and one limb pass amortize the fixed numpy call overhead a
    per-file pass pays per file), then ``emit(files, re, im)`` -> rows
    of the DDL ``schema`` (tuples or a 2-D int array); ``files`` lists
    (id, n_frames) in frame order. Payloads as in :func:`_map_rows`."""
    names = _ddl_names(schema)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cos_i, sin_i = _int_dft_basis(n_bins, frame_len)
        for pdf in batches:
            files, wins = [], []
            for i, buf in zip(pdf[id_col].tolist(), pdf[payload_col]):
                got = _wav_pcm16_mono(_payload(buf))
                if got is None or got[1].size < frame_len:
                    continue
                win = np.lib.stride_tricks.sliding_window_view(
                    got[1].astype(np.int64), frame_len
                )[::hop]
                files.append((i, win.shape[0]))
                wins.append(win)
            rows = []
            if files:
                # one stacked int64 matmul: exact, the frame_len guard
                # bounds the linear accumulator
                allw = np.concatenate(wins, axis=0)
                rows = emit(files, allw @ cos_i.T, allw @ (-sin_i.T))
            yield pd.DataFrame(rows, columns=names)

    return df.select(id_col, payload_col).mapInPandas(run, schema)


def stft_frame_features(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    frame_len: int = 64,
    hop: int = 64,
    n_bins: int = 9,
) -> DataFrame:
    """Short-time Fourier features over PCM WAV — the audio
    feature-extraction step (spectrogram frames) with NO audio/DSP
    library: parse the RIFF container, frame the int16 samples
    (``frame_len`` window, ``hop`` stride, tail dropped), and compute
    per frame the DFT at bins 0..n_bins-1 — rectangular window, so
    every quantity stays in the exact-integer domain.

    Hash-certification trick (the d141 integer-basis pattern): the
    Fourier basis is an INTEGER table Ck[t] = round_half_away(
    cos(2*pi*k*t/frame_len) * 10^6) (resp. sin), so re/im are exact
    int64 (|re| <= 1024 * 64 * 10^6 < 2^63) and an oracle replays
    them.  ``is_peak`` marks each frame's dominant NON-DC bin by exact
    integer power compare (re^2 + im^2 in arbitrary-precision Python /
    HUGEINT SQL; ties break to the lowest bin).  Non-PCM / broken
    containers skip.  Returns (id, frame_no, bin, re_scaled,
    im_scaled, is_peak).  Scale: frames x bins rows per file,
    independent of corpus size."""

    if frame_len < 1 or hop < 1 or n_bins < 2 or n_bins > frame_len:
        raise ValueError(
            "stft_frame_features needs frame_len >= 1, hop >= 1 and "
            "2 <= n_bins <= frame_len (bin 0 is DC; the peak needs a "
            "non-DC bin to point at)"
        )
    _check_dft_frame_len("stft_frame_features", frame_len)

    def emit(files, re, im):
        # dominant non-DC bin via EXACT int64-limb power compare (re²
        # overflows int64, so energies live as five 21-bit limb
        # coefficients — _band_energy_limbs); first-max IS the
        # lowest-bin tie-break. Frames are independent, so one
        # batch-wide argmax is exactly the per-file result.
        peaks = 1 + _limb_argmax_first(_band_energy_limbs(re[:, 1:], im[:, 1:]))
        n = np.array([nf for _, nf in files])
        frame_no = np.arange(n.sum()) - np.repeat(np.cumsum(n) - n, n)
        bins = np.tile(np.arange(n_bins), n.sum())
        # one row per frame × bin, assembled as columns (per-element
        # Python tuples dominated this map)
        return np.column_stack(
            [
                np.repeat([i for i, _ in files], n * n_bins),
                np.repeat(frame_no, n_bins),
                bins,
                re.ravel(),
                im.ravel(),
                bins == np.repeat(peaks, n_bins),
            ]
        )

    return _map_wav_frames(
        df,
        payload_col,
        id_col,
        f"{id_col} long, frame_no int, bin int, re_scaled long,"
        " im_scaled long, is_peak int",
        frame_len,
        hop,
        n_bins,
        emit,
    )


def audio_fingerprint(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    frame_len: int = 64,
    hop: int = 64,
    n_bands: int = 8,
) -> DataFrame:
    """Chromaprint-style AUDIO perceptual fingerprint (d156) — the
    audio near-dup key completing the perceptual trio's media coverage
    (pHash/dHash/aHash are image-side; this is the sound-side sieve):
    STFT the PCM stream exactly as :func:`stft_frame_features` (same
    integer Fourier basis, same RIFF walk), take per-frame BAND
    energies E[f][b] = re² + im² at the non-DC bins 1..n_bands, and
    set bit (n_bands-1)·(f-1) + p when the adjacent-band energy
    gradient GROWS frame-over-frame:

        (E[f][p+1] − E[f][p+2]) − (E[f−1][p+1] − E[f−1][p+2]) > 0

    — Chromaprint's double-difference filter (sign of the time
    derivative of the spectral gradient).  Energies and differences
    are arbitrary-precision Python ints (HUGEINT in the oracle), so
    the bits are exact.  Uniform volume change scales every energy by
    c², preserving every sign — the fingerprint is EXACTLY
    volume-invariant (pinned in tests); a small DC offset perturbs
    only basis rounding residue, landing within small Hamming
    distance.

    Bits cap at 64: frames f = 1..min(n_frames−1, 63//(n_bands−1)).
    Returns (id, n_frames, n_frames_used, n_ones, fp_lo, fp_hi) — the
    (lo, hi) 32-bit-halves layout the Hamming tier shares, so near-dup
    clustering rides ``dedup.hamming_clusters`` unchanged.
    ``n_frames_used`` = min(n_frames, 63//(n_bands−1) + 1) is the
    HEAD-COVERAGE signal (the r12 ADVICE fix): long tracks fingerprint
    only their first n_frames_used frames, so two tracks sharing a
    head collide at Hamming 0 even when their tails differ — dedup on
    long audio must compare n_frames vs n_frames_used (or chunk tracks
    to ≤ n_frames_used frames first) instead of trusting the 64-bit
    signature alone.  Files shorter than one frame (or non-PCM) skip.
    One row per file."""
    if frame_len < 1 or hop < 1 or n_bands < 2 or n_bands + 1 > frame_len:
        raise ValueError(
            "audio_fingerprint needs frame_len >= 1, hop >= 1 and "
            "2 <= n_bands <= frame_len - 1 (bands are the non-DC bins "
            "1..n_bands; the gradient needs two adjacent bands)"
        )
    _check_dft_frame_len("audio_fingerprint", frame_len)
    max_f = 63 // (n_bands - 1)  # double-diff frames that fit 64 bits

    def emit(files, re, im):
        # one exact bit grid over the concatenated frames; rows that
        # pair the last frame of one file with the first of the next
        # are sliced away below
        bits_all = _chroma_ddiff_bits(re, im)
        rows, off = [], 0
        for i, n_frames in files:
            nf_used = min(n_frames, max_f + 1)
            # bit (n_bands-1)·(f-1)+p is bits[(f-1)·(n_bands-1)+p]:
            # frame-major ravel order matches the bit layout, and
            # nf_used caps the count at 63 bits
            bits = bits_all[off : off + nf_used - 1].ravel()
            off += n_frames
            val = int(bits.astype(np.uint64) @ _POW2[: bits.size])
            rows.append(
                (i, n_frames, nf_used, int(bits.sum()), val & 0xFFFFFFFF, val >> 32)
            )
        return rows

    return _map_wav_frames(
        df,
        payload_col,
        id_col,
        f"{id_col} long, n_frames long, n_frames_used long, n_ones int,"
        " fp_lo long, fp_hi long",
        frame_len,
        hop,
        n_bands + 1,  # DC + bands
        emit,
    )


def _rgb_hash64(df: DataFrame, payload_col: str, id_col: str, bits_of) -> DataFrame:
    """The perceptual-hash trio's frame: per raw RGB frame
    (:func:`_rgb_read`; rejected frames skip), ``bits_of(int64 (h, w, 3)
    pixels)`` -> an 8×8 bool grid whose cell (y, x) is hash bit 8·y + x,
    or None to skip; one row (id, n_ones, hash_lo, hash_hi) per hash,
    hash_lo bits 0–31 and hash_hi bits 32–63."""

    def hashes(i, w, h, b: bytes):
        arr = _rgb_read(b, w, h)
        bits = None if arr is None else bits_of(arr)
        if bits is None:
            return
        val = int(bits.ravel().astype(np.uint64) @ _POW2)
        yield i, int(bits.sum()), val & 0xFFFFFFFF, val >> 32

    return _map_rows(
        df,
        [id_col, "width", "height", payload_col],
        f"{id_col} long, n_ones int, hash_lo long, hash_hi long",
        hashes,
    )


def dhash_64(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """Difference-hash (dHash) over decoded RGB frames — the third of
    the canonical perceptual-hash trio (aHash :func:`ahash_64` = mean
    threshold, pHash :func:`phash_64` = DCT median, dHash = horizontal
    GRADIENT sign): sample the grayscale frame to a 9x8 grid and set
    bit (8*y + x) when cell (x, y) is brighter than its right
    neighbor (x+1, y) — 8 comparisons per row, 64 bits.  Gradients
    survive global brightness shifts and are cheap enough for the
    first-pass dedup sieve.

    Exact-arithmetic discipline: grayscale is the unscaled channel sum
    and the 9x8 grid is NEAREST-NEIGHBOR sampling at src = (i * w) // 9
    (resp. (j * h) // 8) — pure integer ops, so the oracle replays
    every comparison.  Emitted as the (n_ones, hash_lo, hash_hi)
    layout shared by the trio; Hamming clustering rides
    dedup.hamming_clusters."""

    def bits_of(arr):
        h, w, _ = arr.shape
        if w < 9 or h < 8:
            return None
        gray = arr.sum(axis=2)
        xs = (np.arange(9) * w) // 9
        ys = (np.arange(8) * h) // 8
        grid = gray[np.ix_(ys, xs)]  # 8 rows x 9 cols
        return grid[:, :-1] > grid[:, 1:]

    return _rgb_hash64(df, payload_col, id_col, bits_of)


def phash_64(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """Perceptual DCT-hash (pHash) over decoded RGB frames — the
    frequency-domain sibling of :func:`ahash_64` and the standard
    perceptual key robust to brightness/contrast shifts: grayscale the
    frame, 2-D DCT-II, keep the top-left 8x8 low-frequency block, drop
    the DC term, and set bit (8*v+u) when the coefficient beats the
    MEDIAN of the 63 AC coefficients.  An affine gray transform
    v' = a*v + b scales every AC coefficient by a and moves only the
    DC term, so the median comparison — and therefore the hash — is
    exactly invariant (pinned in tests/test_multimodal.py).

    Exact-arithmetic discipline so the oracle can replay it: the DCT
    basis is an INTEGER cosine table C[k][i] = round_half_away(
    cos(pi*(2i+1)*k / (2N)) * 10^6), and the median of an ODD count
    (63) is the exact middle element — DuckDB's quantile_disc(0.5) —
    so no interpolation and no float ever enters the comparison.
    Products stay in int64 while the bound |coef| <= 765 * 10^12 * w*h
    < 2^63 holds (w*h <= 12_056, e.g. any frame up to ~109x109); for
    larger frames the second matmul switches to arbitrary-precision
    Python ints (object dtype) — slower per frame but still exact, so
    a 128x128 frame hashes correctly instead of silently wrapping.
    Emitted as two unsigned 32-bit halves (hash_lo bits 0-31, hash_hi
    bits 32-63) + the AC popcount.  Frames smaller than 8x8 skip.
    Hamming clustering rides dedup.hamming_clusters."""

    def cos_table(n: int) -> "np.ndarray":
        k = np.arange(n).reshape(-1, 1).astype(np.float64)
        i = np.arange(n).reshape(1, -1).astype(np.float64)
        c = np.cos(np.pi * (2 * i + 1) * k / (2 * n)) * 1e6
        return (np.sign(c) * np.floor(np.abs(c) + 0.5)).astype(np.int64)

    # |t1| <= 765e6 * w never overflows; |coef| <= 765e12 * w * h
    # overflows int64 once w*h exceeds this bound
    INT64_SAFE_PIXELS = (2**63 - 1) // (765 * 10**12)
    tables: dict = {}  # cosine table per side length, filled per worker

    def bits_of(arr):
        h, w, _ = arr.shape
        if w < 8 or h < 8:
            return None
        gray = arr.sum(axis=2)  # r+g+b, unscaled (affine-safe)
        if w not in tables:
            tables[w] = cos_table(w)
        if h not in tables:
            tables[h] = cos_table(h)
        # coef[v][u] = sum_y sum_x gray[y][x] * Ch[v][y] * Cw[u][x]
        t1 = gray @ tables[w][:8, :].T  # h x 8, |.| <= 765e6*w
        if w * h <= INT64_SAFE_PIXELS:
            coef = tables[h][:8, :] @ t1
        else:
            # exact big-int path: 8 x h @ h x 8 = 64h Python ops
            coef = tables[h][:8, :].astype(object) @ t1.astype(object)
        med = np.sort(np.delete(coef.ravel(), 0))[31]  # exact middle of 63 AC
        bits = (coef > med).astype(bool)
        bits[0, 0] = False  # the DC term carries no bit
        return bits

    return _rgb_hash64(df, payload_col, id_col, bits_of)


def ahash_64(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """Perceptual average-hash (aHash) over decoded RGB frames — the
    classic IMAGE near-dup key (the pixel-space analogue of MinHash for
    text and cosine blocking for embeddings): grayscale the frame,
    average-pool to an 8×8 grid, set bit (8·by+bx) when the cell beats
    the global mean, giving a 64-bit signature whose Hamming distance
    tracks visual similarity.

    Exact-arithmetic discipline so the oracle can replay it: grayscale
    is the UNSCALED channel sum r+g+b (dividing by 3 changes nothing a
    comparison can see), pooling keeps integer block SUMS, and the
    mean test is multiplied through — ``64·block_sum > total_sum`` —
    so no division ever happens. The hash is emitted as two unsigned
    32-bit halves in BIGINTs (``hash_lo`` bits 0–31, ``hash_hi`` bits
    32–63) plus the popcount. Frames must be divisible into the 8×8
    grid (others skip); input shape is ``synth_raw_rgb``'s
    (id, width, height, payload). Downstream near-dup clustering rides
    the existing SimHash/banding machinery over the emitted bits."""

    def bits_of(arr):
        h, w, _ = arr.shape
        if w % 8 or h % 8:
            return None
        gray = arr.sum(axis=2)  # r+g+b, unscaled
        blocks = gray.reshape(8, h // 8, 8, w // 8).sum(axis=(1, 3))
        return 64 * blocks > int(gray.sum())

    return _rgb_hash64(df, payload_col, id_col, bits_of)


def _exif_app1(i: int) -> bytes:
    """The deterministic EXIF APP1 segment :func:`synth_jpeg_exif`
    inserts: little-endian TIFF, one IFD0 with Make/Model/Orientation/
    DateTime — every field an arithmetic function of the id so an
    engine-independent oracle replays the extraction."""
    import struct

    make = f"cam{i % 7}\x00".encode()
    model = f"m{i % 13}\x00".encode()
    orientation = 1 + i % 8
    dt = f"2024:01:{1 + i % 28:02d} 03:04:05\x00".encode()  # 20 bytes

    # TIFF body: header (8) + count (2) + 4 entries (48) + next (4) = 62
    data_off = 8 + 2 + 4 * 12 + 4
    entries = b""
    data = b""

    def entry(tag, typ, cnt, payload):
        nonlocal entries, data, data_off
        if len(payload) <= 4:
            entries += struct.pack("<HHI4s", tag, typ, cnt, payload.ljust(4, b"\x00"))
        else:
            entries += struct.pack("<HHII", tag, typ, cnt, data_off)
            data += payload
            data_off += len(payload)

    entry(0x010F, 2, len(make), make)          # Make, ASCII
    entry(0x0110, 2, len(model), model)        # Model, ASCII
    entry(0x0112, 3, 1, struct.pack("<H", orientation))  # Orientation
    entry(0x0132, 2, len(dt), dt)              # DateTime, ASCII
    tiff = b"II" + struct.pack("<HI", 42, 8) + struct.pack("<H", 4)
    tiff += entries + struct.pack("<I", 0) + data
    body = b"Exif\x00\x00" + tiff
    return b"\xff\xe1" + (len(body) + 2).to_bytes(2, "big") + body


def synth_jpeg_exif(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """:func:`synth_jpeg` with a deterministic EXIF APP1 segment
    inserted right after SOI — the metadata-bearing fixture for the
    d159 EXIF tier.  Because the segment is INSERTED into the plain
    synth_jpeg byte stream, ``exif_strip ∘ synth_jpeg_exif`` must
    reproduce ``synth_jpeg`` byte-exactly (the d159b guarantee)."""
    return _map_rows(
        synth_jpeg(df, id_col),
        [id_col, "payload"],
        f"{id_col} long, payload binary",
        lambda i, b: [(i, b[:2] + _exif_app1(i) + b[2:])],
    )


def exif_extract(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """EXIF metadata EXTRACTION (d159) — the media-metadata op every
    crawl pipeline runs before shipping images (and the PII surface
    the strip pass removes): walk the JPEG marker segments, find the
    APP1 ``Exif\\0\\0`` payload, parse the TIFF container (byte order,
    IFD0 entry walk, ASCII values resolved through their data-area
    offsets) and emit the canonical identity fields: (id, has_exif,
    byte_order, make, model, orientation, datetime).  Files without
    EXIF emit has_exif = 0 with NULL fields — the audit view, never a
    dropped row.  Broken containers skip per the codec-ladder
    contract."""
    import struct

    def parse_tiff(t: bytes):
        if len(t) < 8 or t[:2] not in (b"II", b"MM"):
            return None
        le = t[:2] == b"II"
        e = "<" if le else ">"
        (magic,) = struct.unpack(e + "H", t[2:4])
        if magic != 42:
            return None
        (ifd,) = struct.unpack(e + "I", t[4:8])
        if ifd + 2 > len(t):
            return None
        (n,) = struct.unpack(e + "H", t[ifd : ifd + 2])
        out = {"byte_order": "II" if le else "MM"}
        for j in range(n):
            off = ifd + 2 + 12 * j
            if off + 12 > len(t):
                return out
            tag, typ, cnt = struct.unpack(e + "HHI", t[off : off + 8])
            raw = t[off + 8 : off + 12]
            if typ == 2:  # ASCII
                if cnt <= 4:
                    val = raw[:cnt]
                else:
                    (doff,) = struct.unpack(e + "I", raw)
                    val = t[doff : doff + cnt]
                s = val.split(b"\x00", 1)[0].decode("ascii", "replace")
                if tag == 0x010F:
                    out["make"] = s
                elif tag == 0x0110:
                    out["model"] = s
                elif tag == 0x0132:
                    out["datetime"] = s
            elif typ == 3 and tag == 0x0112:
                (out["orientation"],) = struct.unpack(e + "H", raw[:2])
        return out

    def extract(i, b: bytes):
        if b[:2] != b"\xff\xd8":
            return
        meta = None
        for marker, s, epos in _jpeg_segments(b):
            if marker == 0xE1 and b[s + 4 : s + 10] == b"Exif\x00\x00":
                meta = parse_tiff(b[s + 10 : epos])
                break
        if meta is None:
            yield i, 0, None, None, None, None, None
        else:
            yield (
                i,
                1,
                meta.get("byte_order"),
                meta.get("make"),
                meta.get("model"),
                meta.get("orientation"),
                meta.get("datetime"),
            )

    return _map_rows(
        df,
        [id_col, payload_col],
        f"{id_col} long, has_exif int, byte_order string, make string,"
        " model string, orientation int, datetime string",
        extract,
    )


def exif_strip(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """EXIF STRIP (d159's redaction half — the media twin of the text
    tier's PII redact d44): remove every APP1 ``Exif\\0\\0`` segment
    from the JPEG byte stream, leaving all other bytes untouched, so
    image content (and every other segment) survives byte-exactly.
    Returns (id, payload, n_stripped); non-JPEG payloads skip."""

    def strip(i, b: bytes):
        if b[:2] != b"\xff\xd8":
            return
        cuts = [
            (s, e)
            for marker, s, e in _jpeg_segments(b)
            if marker == 0xE1 and b[s + 4 : s + 10] == b"Exif\x00\x00"
        ]
        out, pos = b"", 0
        for s, e in cuts:
            out += b[pos:s]
            pos = e
        yield i, out + b[pos:], len(cuts)

    return _map_rows(
        df,
        [id_col, payload_col],
        f"{id_col} long, payload binary, n_stripped int",
        strip,
    )


def y4m_trim(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    start: int = 0,
    count: int | None = None,
) -> DataFrame:
    """Y4M CLIP EXTRACTION — keep frames [start, start+count) of a
    YUV4MPEG2 stream by byte-splicing the container (header + the
    selected FRAME blobs verbatim; no plane decode, no re-encode), the
    video twin of the audio tier's sample-range ops and the d167
    trimmed-copy fixture generator.  ``count=None`` keeps everything
    from ``start``.  Streams left with zero frames, or streams
    :func:`_y4m_read` rejects, skip (poison contract).  Output bytes <=
    input bytes."""
    if start < 0 or (count is not None and count < 1):
        raise ValueError("y4m_trim: start >= 0 and count >= 1 required")
    stop = None if count is None else start + count

    def trim(i, b: bytes):
        vid = _y4m_read(b)
        keep = [] if vid is None else vid.frames[start:stop]
        if keep:
            # the header verbatim: it ends where frame 0's marker starts
            yield i, b[: vid.frames[0][0]] + b"".join(
                b[m : d + vid.frame_bytes] for m, d in keep
            )

    return _map_rows(df, [id_col, payload_col], f"{id_col} long, payload binary", trim)


def video_shingle_near_dup(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    shingle_len: int = 2,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """VIDEO TEMPORAL NEAR-DUP (d167 — VERDICT r12 #5): single-frame
    hashing misses re-encoded/TRIMMED duplicates; this catches them by
    matching frame-SEQUENCE n-grams.  Compose the certified pieces:
    :func:`y4m_frame_sample` (every_n=1) emits the position-weighted
    luma checksum per frame (the exact frame signature a transposed
    or off-by-one parse cannot fake); consecutive ``shingle_len``
    checksums concatenate into a SHINGLE (the d02 shingle idea in
    time rather than token space); videos sharing a shingle pair up
    via the shingle equi-join (candidate work Σ bucket², never
    videos²); the aggregate verifies ALIGNMENT: n_shared matching
    shingle occurrences, n_offsets distinct frame offsets, and the
    minimum offset — a trimmed copy shows one consistent offset
    (n_offsets=1) equal to the trim length.

    Returns (id_a, id_b, n_shared, n_offsets, offset) with id_a <
    id_b.  ``max_bucket_size`` is the d02-style frequency valve: a
    degenerate shingle shared by more than this many frames (e.g. an
    all-black frame pair in millions of videos) is dropped from
    pairing rather than exploding Σ bucket².  Scale: one window per
    video (lead over frame_no), one equi-join on the shingle, one
    pair aggregate — no cartesian, no driver state."""
    if shingle_len < 2:
        raise ValueError("video_shingle_near_dup: shingle_len must be >= 2")
    fs = y4m_frame_sample(df, payload_col, id_col, every_n=1).select(
        F.col(id_col).alias("__vid"),
        F.col("frame_no").alias("__f"),
        "y_pos_sum",
    )
    return _frame_sig_shingle_near_dup(
        fs, "y_pos_sum", shingle_len, max_bucket_size,
        "video_shingle_near_dup.shingles",
    )


def _frame_sig_shingle_near_dup(
    fs: DataFrame,
    sig_col: str,
    shingle_len: int,
    max_bucket_size: int | None,
    tag: str,
) -> DataFrame:
    """Shared shingle tail of the video near-dup family
    (:func:`video_shingle_near_dup`, :func:`video_rescale_near_dup`):
    shingle consecutive per-frame signatures from (__vid, __f,
    sig_col) rows, equi-join videos sharing a shingle, and
    alignment-aggregate per pair."""
    from pyspark.sql import Window

    if shingle_len < 2:
        raise ValueError("shingle_len must be >= 2")
    _warn_unvalved(tag.split(".")[0], max_bucket_size)
    w = Window.partitionBy("__vid").orderBy("__f")
    parts = [F.col(sig_col).cast("string")]
    for k in range(1, shingle_len):
        parts.append(F.lit(":"))
        parts.append(F.lead(sig_col, k).over(w).cast("string"))
    from ._scratch import scratch_persist

    # The shingle table feeds BOTH sides of the self-join (and the
    # frequency valve when enabled); without a persist each branch
    # re-runs the y4m decode Arrow map + window over the raw payloads.
    # Persist the SLIM projection (id, frame_no, shingle string) —
    # payload bytes never enter the cache.
    sh = scratch_persist(
        fs.select(
            "__vid", "__f", F.concat(*parts).alias("__sh")
        ).filter(F.col("__sh").isNotNull()),
        tag,
    )
    if max_bucket_size is not None:
        ok = (
            sh.groupBy("__sh")
            .agg(F.count("*").alias("__n"))
            .filter(F.col("__n") <= max_bucket_size)
            .select("__sh")
        )
        sh = sh.join(ok, "__sh")
    a = sh.select(
        F.col("__vid").alias("id_a"), F.col("__f").alias("__fa"), "__sh"
    )
    b = sh.select(
        F.col("__vid").alias("id_b"), F.col("__f").alias("__fb"), "__sh"
    )
    pairs = a.join(b, "__sh").filter(F.col("id_a") < F.col("id_b"))
    return pairs.groupBy("id_a", "id_b").agg(
        F.count("*").cast("long").alias("n_shared"),
        F.count_distinct(F.col("__fb") - F.col("__fa"))
        .cast("long")
        .alias("n_offsets"),
        F.min(F.col("__fb") - F.col("__fa")).cast("long").alias("offset"),
    )


def _warn_unvalved(op_name: str, max_bucket_size: int | None) -> None:
    """One-line guard rail for the banded near-dup family (r13 VERDICT
    'what's wrong' #4): with ``max_bucket_size=None`` a degenerate
    signature/shingle shared by k items costs k² join work — fine on a
    bounded fleet, quadratic on a corpus with silence/black frames.
    Correctness is unaffected, so this warns instead of defaulting to
    a valve (a silent default would change certified answers)."""
    if max_bucket_size is None:
        import warnings

        warnings.warn(
            f"{op_name}: max_bucket_size=None — a degenerate signature "
            "shared by k items costs k^2 candidate work; set the valve "
            "for corpus-scale runs (pairs beyond it are dropped, see "
            "SCALE.md)",
            stacklevel=3,
        )


def y4m_rescale_area(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    factor: int = 2,
) -> DataFrame:
    """Y4M AREA-AVERAGE DOWNSCALE by an integer factor — the video
    twin of :func:`image_resize_area` (d144) and the d175
    rescaled-copy fixture generator: every plane pixel of the output
    is the rounded mean of its ``factor × factor`` source block,
    ``floor((block_sum + factor²/2) / factor²)`` — integer-exact
    round-half-up, oracle-replayable.  The header keeps every input
    tag but W and H, which it scales (the F rate survives); frame
    count, chroma layout, and frame order are untouched.  Streams
    whose plane dimensions are not divisible by ``factor`` skip
    (poison contract), as do streams :func:`_y4m_read` rejects.
    Output bytes = input bytes / factor²."""
    if factor < 2:
        raise ValueError("y4m_rescale_area: factor must be >= 2")
    half = factor * factor // 2

    def shrink(plane: "np.ndarray") -> bytes:
        h, w = plane.shape
        blocks = plane.reshape(h // factor, factor, w // factor, factor)
        sums = blocks.astype(np.int64).sum(axis=(1, 3))
        return ((sums + half) // (factor * factor)).astype(np.uint8).tobytes()

    def rescale(i, b: bytes):
        vid = _y4m_read(b)
        if vid is None or not vid.frames or any(
            n % factor for n in (vid.w, vid.h, vid.cw, vid.ch)
        ):
            return
        w, h, cw, chh = vid.w, vid.h, vid.cw, vid.ch
        parts = [_y4m_header(vid.tags, W=w // factor, H=h // factor)]
        for _, start in vid.frames:
            parts.append(b"FRAME\n")
            offs = (start, start + w * h, start + w * h + cw * chh)
            for off, (ph, pw) in zip(offs, ((h, w), (chh, cw), (chh, cw))):
                plane = np.frombuffer(b, np.uint8, ph * pw, off)
                parts.append(shrink(plane.reshape(ph, pw)))
        yield i, b"".join(parts)

    return _map_rows(
        df, [id_col, payload_col], f"{id_col} long, {payload_col} binary", rescale
    )


def _grid_sig(b: bytes, vid: _Y4m, start: int, grid: int) -> int:
    """The block-gradient signature of the luma plane at ``start``: sums
    over a ``grid × grid`` lattice (w and h divisible by grid), packed by
    :func:`_pack_gradient_signs`."""
    y = np.frombuffer(b, np.uint8, vid.w * vid.h, start)
    sums = (
        y.reshape(grid, vid.h // grid, grid, vid.w // grid)
        .astype(np.int64)
        .sum(axis=(1, 3))
    )
    return _pack_gradient_signs(sums, grid)


def _pack_gradient_signs(sums, grid: int) -> int:
    """Pack the SIGNS of adjacent block-sum gradients into an int —
    horizontal bits (right > left, row-major) then vertical bits
    (below > above, column-major), 2·grid·(grid−1) bits total.  The
    shared bit layout of :func:`y4m_frame_grid_sig` and
    :func:`y4m_tick_grid_sig`; equal block pixel counts make sum
    comparisons equal mean comparisons, so the result is
    integer-exact at every resolution."""
    val = 0
    bit = 0
    for r in range(grid):
        for c in range(grid - 1):
            if sums[r, c + 1] > sums[r, c]:
                val |= 1 << bit
            bit += 1
    for c in range(grid):
        for r in range(grid - 1):
            if sums[r + 1, c] > sums[r, c]:
                val |= 1 << bit
            bit += 1
    return int(val)


def y4m_frame_grid_sig(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    grid: int = 4,
) -> DataFrame:
    """RESOLUTION-INVARIANT per-frame luma signature (the d175 frame
    feature): divide each frame's Y plane into a fixed ``grid × grid``
    block lattice and pack the SIGNS of adjacent block-mean gradients
    — horizontal bits (right > left, row-major) then vertical bits
    (below > above, column-major), 2·grid·(grid−1) bits total (24 for
    grid=4) — the d141 image-pHash idea per frame.  Block boundaries
    are PROPORTIONAL (block c spans [c·w/grid, (c+1)·w/grid)), so an
    area-rescaled copy aggregates exactly the same source regions and
    the gradient signs survive as long as true gradients beat the
    per-pixel rounding bound (±0.5) — which exact luma checksums
    (d167's ``y_pos_sum``) never do; equal block pixel counts within a
    frame make sum comparisons equal mean comparisons, so the
    signature is integer-exact at every resolution.  Frames whose
    plane dimensions are not divisible by ``grid`` skip (the
    proportional lattice would need fractional boundaries).

    Returns (id, frame_no, n_frames, width, height, grid_sig), one row
    per frame."""
    if grid < 2:
        raise ValueError("y4m_frame_grid_sig: grid must be >= 2")

    def sig(i, b: bytes):
        vid = _y4m_read(b)
        if vid is None or vid.w % grid or vid.h % grid:
            return
        for f, (_, start) in enumerate(vid.frames):
            yield i, f, len(vid.frames), vid.w, vid.h, _grid_sig(b, vid, start, grid)

    return _map_rows(
        df,
        [id_col, payload_col],
        f"{id_col} long, frame_no long, n_frames long, width int,"
        " height int, grid_sig long",
        sig,
    )


def video_rescale_near_dup(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    shingle_len: int = 2,
    max_bucket_size: int | None = None,
    grid: int = 4,
) -> DataFrame:
    """RESOLUTION-INVARIANT video temporal near-dup (d175 — VERDICT
    r13 #6): :func:`video_shingle_near_dup` matches EXACT luma
    checksums, so a re-encoded copy at a different resolution never
    pairs (the same blindness class d173 fixed in audio).  This
    variant feeds the SAME shingle machinery the
    :func:`y4m_frame_grid_sig` downsampled-grid gradient signature —
    invariant under area rescaling — so a rescaled (and/or trimmed)
    copy pairs with its original at one consistent frame offset.

    Returns the :func:`video_shingle_near_dup` schema (id_a, id_b,
    n_shared, n_offsets, offset).  The grid signature carries
    2·grid·(grid−1) bits (24 at the default), far less entropy than an
    exact checksum — at corpus scale set ``max_bucket_size`` (the d02
    frequency valve) and treat pairs as CANDIDATES for a pixel-level
    verify, exactly the LSH two-pass economics.  Scale: zero-shuffle
    signatures, one window per video, shingle equi-join Σ bucket²,
    never videos²."""
    fs = y4m_frame_grid_sig(df, payload_col, id_col, grid=grid).select(
        F.col(id_col).alias("__vid"),
        F.col("frame_no").alias("__f"),
        "grid_sig",
    )
    return _frame_sig_shingle_near_dup(
        fs, "grid_sig", shingle_len, max_bucket_size,
        "video_rescale_near_dup.shingles",
    )


def y4m_decimate(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    every_n: int = 2,
) -> DataFrame:
    """Y4M TEMPORAL DECIMATION — keep every ``every_n``-th frame
    (0, n, 2n, …) by byte-splicing the container and rewrite the F
    tag's denominator (``F25:1`` → ``F25:5`` at every_n=5) so the
    retained frames keep their ORIGINAL timestamps — the frame-rate
    twin of :func:`y4m_rescale_area` and the d177 re-encoded-copy
    fixture generator.  Streams without a valid F tag, or streams
    :func:`_y4m_read` rejects, skip (poison contract).  Output bytes <=
    input bytes."""
    if every_n < 1:
        raise ValueError("y4m_decimate: every_n must be >= 1")

    def dec(i, b: bytes):
        vid = _y4m_read(b)
        if vid is None or vid.fps is None or not vid.frames:
            return
        num, den = vid.fps
        yield i, _y4m_header(vid.tags, F=f"{num}:{den * every_n}") + b"".join(
            b[m : d + vid.frame_bytes] for m, d in vid.frames[::every_n]
        )

    return _map_rows(df, [id_col, payload_col], f"{id_col} long, payload binary", dec)


def y4m_tick_grid_sig(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    tick_hz: int = 5,
    grid: int = 4,
) -> DataFrame:
    """TIME-ANCHORED resolution-invariant frame signature (the d177
    frame feature): sample the stream at fixed WALL-CLOCK ticks
    (t = k / tick_hz seconds) instead of frame indices — tick k reads
    the frame on screen at that instant, index ⌊t·fps⌋ =
    (k·num) // (den·tick_hz) from the stream's own F tag — and emit
    the :func:`y4m_frame_grid_sig` block-gradient signature of that
    frame.  Two encodes of the same content at DIFFERENT frame rates
    sample the same instants, so their tick signatures agree wherever
    the displayed frames agree (exactly, when one rate divides the
    other and ticks land on retained frames); frame-indexed
    signatures (d167/d175) can never pair them.  Streams without an
    F tag skip (poison contract); frames whose plane dimensions are
    not divisible by ``grid`` skip as in :func:`y4m_frame_grid_sig`.

    Returns (id, tick, n_ticks, fps_num, fps_den, grid_sig) — one row
    per tick, ticks 0..⌈n_frames·den·tick_hz/num⌉−1.  Scale: ≤ one
    decoded frame resident per tick."""
    if tick_hz < 1:
        raise ValueError("y4m_tick_grid_sig: tick_hz must be >= 1")
    if grid < 2:
        raise ValueError("y4m_tick_grid_sig: grid must be >= 2")

    def sig(i, b: bytes):
        vid = _y4m_read(b)
        if (
            vid is None or vid.fps is None or not vid.frames
            or vid.w % grid or vid.h % grid
        ):
            return
        num, den = vid.fps
        # ticks whose displayed frame exists: frame index
        # (k*num) // (den*tick_hz) < n_frames
        n_ticks = -(-len(vid.frames) * den * tick_hz // num)
        for k in range(n_ticks):
            start = vid.frames[k * num // (den * tick_hz)][1]
            yield i, k, n_ticks, num, den, _grid_sig(b, vid, start, grid)

    return _map_rows(
        df,
        [id_col, payload_col],
        f"{id_col} long, tick long, n_ticks long, fps_num int,"
        " fps_den int, grid_sig long",
        sig,
    )


def video_fps_near_dup(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    shingle_len: int = 2,
    max_bucket_size: int | None = None,
    grid: int = 4,
    tick_hz: int = 5,
) -> DataFrame:
    """FRAME-RATE-INVARIANT video temporal near-dup (d177 — the same
    blindness-promotion step d175 took for resolution):
    :func:`video_shingle_near_dup` and :func:`video_rescale_near_dup`
    shingle FRAME-INDEXED signatures, so a re-encode at a different
    frame rate (a 25fps master decimated to 5fps for preview, the
    most common video re-encode after rescaling) never pairs — its
    frame n shows different content.  This variant feeds the SAME
    shingle machinery the :func:`y4m_tick_grid_sig` TIME-anchored
    signature: tick k reads whatever frame is on screen at
    t = k/tick_hz seconds via the stream's own F tag, so two encodes
    of the same content at different rates (and/or resolutions — the
    grid signature is the d175 one) emit identical tick sequences and
    pair at one consistent TICK offset.  Ticks that fall between
    retained frames sample the nearest earlier frame, so
    non-divisible rate pairs match only where gradient signs survive
    the sub-tick sampling skew — divisible decimations (the fixture)
    match exactly.

    Returns the :func:`video_shingle_near_dup` schema (id_a, id_b,
    n_shared, n_offsets, offset) with offsets measured in TICKS.
    Scale: zero-shuffle signatures, one window per video, shingle
    equi-join Σ bucket² with the d02 frequency valve, never videos²;
    at corpus scale pairs are CANDIDATES for a pixel verify (24-bit
    signatures — LSH two-pass economics)."""
    fs = y4m_tick_grid_sig(
        df, payload_col, id_col, tick_hz=tick_hz, grid=grid
    ).select(
        F.col(id_col).alias("__vid"),
        F.col("tick").alias("__f"),
        "grid_sig",
    )
    return _frame_sig_shingle_near_dup(
        fs, "grid_sig", shingle_len, max_bucket_size,
        "video_fps_near_dup.shingles",
    )


def audio_chunk_fingerprints(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    frame_len: int = 64,
    hop: int = 64,
    n_bands: int = 8,
    chunk_hop: int | None = None,
) -> DataFrame:
    """CHUNKED audio fingerprints (d170) — the LONG-audio completion of
    :func:`audio_fingerprint`'s documented head-coverage cap: a single
    64-bit signature covers only the first ``63//(n_bands-1) + 1``
    frames (``n_frames_used``), so long tracks sharing a head collide.
    This op fingerprints EVERY consecutive chunk of that many frames
    with the same double-difference bits (chunk 0 is bit-identical to
    :func:`audio_fingerprint`'s signature — the d170b parity twin), so
    whole-track near-dup becomes chunk-sequence matching: Hamming-band
    each chunk, or shingle chunk signatures exactly like the video
    tier (``video_shingle_near_dup``'s frame n-grams in audio space).

    Returns (id, chunk_no, n_frames_used, n_ones, fp_lo, fp_hi) — one
    row per chunk, Σ n_frames_used = n_frames (complete coverage, the
    other half of the d170b twin).  Double-differences never cross a
    chunk boundary (each chunk is self-contained, so a chunk-aligned
    splice of two tracks preserves the untouched chunks' signatures).

    ``chunk_hop`` (frames; default None = non-overlapping chunks, the
    d170-certified layout) starts a chunk at EVERY ``chunk_hop``-th
    frame — the MULTI-PHASE probe behind
    :func:`audio_phase_robust_near_dup`: a copy trimmed by any whole
    number of frames then shares bit-exact chunk signatures with its
    original at one consistent phase, where the aligned-only layout is
    blind to every non-chunk-multiple trim (d172's negative control).
    ``chunk_no`` is then ``start_frame // chunk_hop`` and chunks
    overlap, so Σ n_frames_used exceeds n_frames (the coverage
    contract applies to the default layout only); rows scale by
    chunk_size / chunk_hop.  Scale: rows = frames / chunk_hop per file;
    the per-frame DFT is ONE stacked integer matmul (frames × frame_len
    @ frame_len × bins, exact int64)."""
    if frame_len < 1 or hop < 1 or n_bands < 2 or n_bands + 1 > frame_len:
        raise ValueError(
            "audio_chunk_fingerprints needs frame_len >= 1, hop >= 1 and "
            "2 <= n_bands <= frame_len - 1"
        )
    if chunk_hop is not None and chunk_hop < 1:
        raise ValueError("audio_chunk_fingerprints: chunk_hop must be >= 1")
    _check_dft_frame_len("audio_chunk_fingerprints", frame_len)
    chunk = 63 // (n_bands - 1) + 1  # frames per 64-bit signature
    step = chunk if chunk_hop is None else chunk_hop
    nb1 = n_bands - 1
    wlen = (chunk - 1) * nb1

    def emit(files, re, im):
        # ONE exact limb double-difference bit grid for every file
        # (boundary rows sliced away per file); the grid is also SHARED
        # by overlapping chunk layouts (chunk_hop < chunk) instead of
        # recomputing each frame pair up to chunk/chunk_hop times
        bits_all = _chroma_ddiff_bits(re, im)
        rows, boff = [], 0
        for i, n_frames in files:
            flat = bits_all[boff : boff + n_frames - 1].reshape(-1).astype(np.uint64)
            boff += n_frames
            tail0 = 0
            if n_frames >= chunk:
                # all FULL chunks at once: frame-major windows over the
                # flattened grid, one matvec packs every 64-bit signature
                wins = np.lib.stride_tricks.sliding_window_view(flat, wlen)[
                    :: step * nb1
                ]
                vals = wins @ _POW2[:wlen]
                ones = wins.sum(axis=1)
                for k in range(vals.shape[0]):
                    v = int(vals[k])
                    # chunk_no = c0 // step with c0 = k·step
                    rows.append((i, k, chunk, int(ones[k]), v & 0xFFFFFFFF, v >> 32))
                tail0 = vals.shape[0] * step
            for c0 in range(tail0, n_frames, step):
                used = min(chunk, n_frames - c0)
                blk = flat[c0 * nb1 : (c0 + used - 1) * nb1]
                v = int(blk @ _POW2[: blk.size])
                rows.append(
                    (i, c0 // step, used, int(blk.sum()), v & 0xFFFFFFFF, v >> 32)
                )
        return rows

    return _map_wav_frames(
        df,
        payload_col,
        id_col,
        f"{id_col} long, chunk_no long, n_frames_used long, n_ones int,"
        " fp_lo long, fp_hi long",
        frame_len,
        hop,
        n_bands + 1,
        emit,
    )


def wav_extract_segments(
    df: DataFrame,
    segments: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    seg_col: str = "seg_no",
    f0_col: str = "f0",
    f1_col: str = "f1",
    frame_len: int = 64,
) -> DataFrame:
    """SEGMENT CLIP EXTRACTION (d171) — the step after
    :func:`vad_segments`: materialize each detected speech segment as
    its own byte-valid WAV (frames [f0, f1] → samples [f0·frame_len,
    (f1+1)·frame_len)), the unit a transcription stage consumes.  The
    container is rebuilt (canonical 44-byte PCM header at the source
    sample rate) around the SLICED sample bytes — no resample, no
    re-encode; the audio twin of :func:`y4m_trim`.

    Returns (id, seg_no, payload, n_samples, sample_sum, first_sample,
    last_sample) — the integer invariants make the slice
    oracle-checkable without shipping bytes through the compare.
    Rows whose payload is malformed, whose f0 or f1 is null, or whose
    frame range falls outside the file, skip (poison contract).  Scale: one equi-join
    of the segment list against payloads, then a zero-shuffle Arrow
    map; output bytes <= input bytes."""

    j = segments.select(
        F.col(id_col),
        F.col(seg_col).alias("__seg"),
        F.col(f0_col).alias("__f0"),
        F.col(f1_col).alias("__f1"),
    ).join(df.select(id_col, payload_col), id_col)

    def ext(i, seg, f0, f1, b: bytes):
        parsed = _wav_pcm16_mono(b)
        if parsed is None or pd.isna(f0) or pd.isna(f1):
            return
        sr, s = parsed
        lo, hi = int(f0) * frame_len, (int(f1) + 1) * frame_len
        if f0 < 0 or f1 < f0 or hi > s.size:
            return
        clip = s[lo:hi]
        c64 = clip.astype(np.int64)
        yield (
            i, seg, _wav_pcm16(clip.astype("<i2").tobytes(), sr), int(clip.size),
            int(c64.sum()), int(c64[0]), int(c64[-1]),
        )

    return _map_rows(
        j,
        [id_col, "__seg", "__f0", "__f1", payload_col],
        f"{id_col} long, {seg_col} int, {payload_col} binary,"
        " n_samples int, sample_sum long, first_sample int,"
        " last_sample int",
        ext,
    )


def wav_trim(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    start_sample: int = 0,
    n_samples: int | None = None,
) -> DataFrame:
    """WAV TRIM (r13) — byte-splice clip extraction for audio, the
    exact analog of :func:`y4m_trim` for the WAV container: drop the
    first ``start_sample`` samples (and everything past
    ``start_sample + n_samples`` when given) and rebuild the canonical
    44-byte PCM header around the remaining bytes.  No resample, no
    re-encode — sample VALUES are untouched, so any sample-aligned
    downstream signature (a d170 chunk whose frames lie wholly inside
    the kept range, at the same frame phase) is bit-identical.  The
    trimmed-copy fixture generator for :func:`audio_chunk_near_dup`.

    Rows with malformed payloads or a start past the end of the data
    skip (poison contract).  Output bytes <= input bytes."""
    if start_sample < 0 or (n_samples is not None and n_samples < 1):
        raise ValueError(
            "wav_trim: start_sample must be >= 0 and n_samples >= 1"
        )

    def trim(i, b: bytes):
        parsed = _wav_pcm16_mono(b)
        if parsed is None or start_sample >= parsed[1].size:
            return
        sr, s = parsed
        end = s.size if n_samples is None else min(s.size, start_sample + n_samples)
        yield i, _wav_pcm16(s[start_sample:end].astype("<i2").tobytes(), sr)

    return _map_rows(
        df, [id_col, payload_col], f"{id_col} long, {payload_col} binary", trim
    )


def audio_chunk_near_dup(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    max_hamming: int = 2,
    max_bucket_size: int | None = None,
    frame_len: int = 64,
    hop: int = 64,
    n_bands: int = 8,
) -> DataFrame:
    """WHOLE-TRACK audio near-dup for LONG audio (d172) — the matcher
    :func:`audio_chunk_fingerprints` exists for: single-signature
    matching (d156c) is blind past the 64-bit head cap, so a track
    whose duplicate starts one chunk in (a chunk-aligned trim, a
    spliced intro) never pairs.  Compose the certified pieces: chunk
    fingerprints per track -> Hamming-band the CHUNK signatures with
    :func:`dedup.hamming_near_pairs` (pigeonhole banding, equi-joins,
    never tracks x tracks) -> aggregate matching chunks per track
    pair with the d167 alignment verify: ``n_shared`` matching chunk
    pairs, ``n_offsets`` distinct chunk offsets, the minimum offset,
    and ``min_hamming`` (0 = some chunk matched bit-exactly).  A
    trimmed copy shows one consistent negative offset; unrelated
    tracks sharing a degenerate chunk (silence) are bounded by
    ``max_bucket_size`` exactly as in d02.

    Returns (id_a, id_b, n_shared, n_offsets, offset, min_hamming)
    with id_a < id_b; same-track chunk self-matches are excluded.
    Contract (ENFORCED — a violating row raises instead of silently
    corrupting the band key): ids are non-negative and < 2**43, tracks
    shorter than 2**20 chunks (the composite band key is
    id * 2**20 + chunk_no).  Scale: zero-shuffle fingerprinting, then
    banding work proportional to sum(bucket^2) over chunk-band
    buckets."""
    fps = audio_chunk_fingerprints(
        df, payload_col, id_col, frame_len=frame_len, hop=hop,
        n_bands=n_bands,
    )
    return _chunk_sig_near_dup(
        fps, id_col, "audio_chunk_near_dup", max_hamming, max_bucket_size
    )


def _chunk_sig_near_dup(
    fps: DataFrame,
    id_col: str,
    op_name: str,
    max_hamming: int,
    max_bucket_size: int | None,
) -> DataFrame:
    """Shared tail of the chunk-signature near-dup family
    (:func:`audio_chunk_near_dup`, :func:`audio_phase_robust_near_dup`):
    composite-key the (id, chunk_no, fp_lo, fp_hi) rows, Hamming-band
    the chunk signatures, decompose, and alignment-aggregate per track
    pair."""
    from . import dedup

    _warn_unvalved(op_name, max_bucket_size)
    cap = 1 << 20
    # contract guard rides the key expression itself (no extra job, no
    # separate aggregate pass): the ELSE branch of the CASE raises, so
    # Catalyst cannot prune it and a violating id fails loudly
    checked_key = F.when(
        (F.col(id_col) >= 0)
        & (F.col(id_col) < F.lit(1 << 43))
        & (F.col("chunk_no") < F.lit(cap)),
        F.col(id_col) * cap + F.col("chunk_no"),
    ).otherwise(
        F.raise_error(
            F.format_string(
                "%s: composite-key contract violated "
                "(%s=%s, chunk_no=%s; need 0 <= id < 2^43 and "
                "chunk_no < 2^20)",
                F.lit(op_name),
                F.lit(id_col),
                F.col(id_col),
                F.col("chunk_no"),
            )
        )
    )
    from ._scratch import scratch_persist

    # slim (composite key, signature) projection persisted before the
    # band self-join: both join sides otherwise re-evaluate the ENTIRE
    # decode→fingerprint Python-map chain, twice (measured as 12
    # MapInPandas nodes in d173's plan). 16 bytes/row, audio bytes never
    # cached; the slot pool bounds it to one generation (the d167
    # slim-shingle discipline, guide §5).
    sigs = scratch_persist(
        fps.select(
            checked_key.alias("__cid"),
            (F.col("fp_lo") + F.shiftleft(F.col("fp_hi"), 32)).alias("__sig"),
        ),
        "multimodal/chunk_sig_near_dup/sigs",
    )
    pairs = dedup.hamming_near_pairs(
        sigs, "__cid", "__sig", max_hamming=max_hamming,
        max_bucket_size=max_bucket_size,
    )
    # decompose with shifts/masks, not division: a float64 round-trip
    # loses exactness above 2**53 and composite keys reach 2**63.
    decomposed = pairs.select(
        F.shiftright(F.col("id_a"), 20).alias("__ta"),
        F.col("id_a").bitwiseAND(F.lit(cap - 1)).alias("__ca"),
        F.shiftright(F.col("id_b"), 20).alias("__tb"),
        F.col("id_b").bitwiseAND(F.lit(cap - 1)).alias("__cb"),
        "hamming",
    ).filter(F.col("__ta") < F.col("__tb"))
    return decomposed.groupBy(
        F.col("__ta").alias("id_a"), F.col("__tb").alias("id_b")
    ).agg(
        F.count("*").cast("long").alias("n_shared"),
        F.count_distinct(F.col("__cb") - F.col("__ca"))
        .cast("long")
        .alias("n_offsets"),
        F.min(F.col("__cb") - F.col("__ca")).cast("long").alias("offset"),
        F.min("hamming").cast("int").alias("min_hamming"),
    )


def audio_phase_robust_near_dup(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "doc_id",
    max_hamming: int = 2,
    max_bucket_size: int | None = None,
    frame_len: int = 64,
    hop: int = 64,
    n_bands: int = 8,
    chunk_hop: int = 1,
    min_frames: int | None = None,
) -> DataFrame:
    """PHASE-ROBUST whole-track audio near-dup (d173) — promotes
    d172's negative control into a capability: ``audio_chunk_near_dup``
    matches only copies trimmed by a whole number of CHUNKS (its d172
    fixture certifies that a half-chunk trim does NOT pair), but real
    re-encodes are rarely chunk-aligned.  This variant fingerprints
    chunks at EVERY ``chunk_hop``-th frame
    (:func:`audio_chunk_fingerprints` with overlapping chunk starts),
    so a copy trimmed by ANY multiple of ``hop`` samples shares
    bit-exact chunk signatures with its original at one consistent
    offset (in ``chunk_hop``-frame units).  Sub-frame trims remain out
    of band at the default ``hop=frame_len``; lowering ``hop`` (e.g.
    ``frame_len // 2``) halves the blind phase at proportional cost.

    Chunks carrying fewer than ``min_frames`` frames (default
    chunk_size // 2 + 1) are EXCLUDED from banding: a short tail chunk
    packs too few double-difference bits to discriminate (a one-frame
    chunk is val=0 for EVERY track — a universal Hamming-0 collision),
    so overlapping tails would otherwise pair unrelated tracks.

    Returns the :func:`audio_chunk_near_dup` schema (id_a, id_b,
    n_shared, n_offsets, offset, min_hamming), offsets in
    ``chunk_hop``-frame units.  Scale: zero-shuffle fingerprinting at
    chunk_size/chunk_hop × the aligned row count, then banding work
    Σ bucket² over chunk-band buckets — never tracks²; same
    composite-key contract (enforced) and ``max_bucket_size`` valve as
    the aligned matcher."""
    if chunk_hop < 1:
        raise ValueError("audio_phase_robust_near_dup: chunk_hop >= 1")
    chunk = 63 // (n_bands - 1) + 1
    lo = chunk // 2 + 1 if min_frames is None else min_frames
    if not 2 <= lo <= chunk:
        raise ValueError(
            "audio_phase_robust_near_dup: min_frames must be in "
            f"[2, {chunk}] (a 1-frame chunk has no double-differences)"
        )
    fps = audio_chunk_fingerprints(
        df, payload_col, id_col, frame_len=frame_len, hop=hop,
        n_bands=n_bands, chunk_hop=chunk_hop,
    ).filter(F.col("n_frames_used") >= lo)
    return _chunk_sig_near_dup(
        fps, id_col, "audio_phase_robust_near_dup", max_hamming,
        max_bucket_size,
    )
