"""Multimodal column support: opaque binary payloads + typed metadata.

Images/audio/video ride through the engine as `BinaryType` columns with a
struct of typed metadata; decode / feature-extract / resize / frame-sample
run as Arrow-batched pandas functions over `mapInPandas` so the heavy
per-item work stays vectorized and off the driver.

Deployments feeding REAL media through these operators should call
`configure_for_media(spark)` first: Spark's default Arrow batch size
is 10,000 rows — sized for scalar columns — and one mapInPandas batch
of multi-MB payloads would otherwise materialize tens of GB per task.

The container ships no codec LIBRARIES, so the decode line is drawn at
what the stdlib plus byte math can reach — and everything on the
reachable side is REAL: audio for PCM WAV (stdlib `wave`:
`decode_audio` parses the actual header and returns the PCM stream;
`frame_sample` steps header-derived offsets with true byte-math slice
sizes), images for uncompressed BMP (BI_RGB 24/32 bpp), binary PPM,
and 8/16-bit PNG in non-interlaced and Adam7 forms (stdlib `zlib`
inflate — bounded to the declared geometry — + per-row filter
reconstruction in `_png_unfilter`; gray/palette/alpha/tRNS color
types normalized to the same RGB(A) contract) plus GIF first
frames (`_gif_lzw` table reconstruction; interlace and transparency
honored) and baseline + progressive JPEG (`_decode_jpeg`: Huffman,
spectral-selection/successive-approximation scans, matrix-multiply
IDCT + JFIF color math — a reference decoder). These pure decoders
are the only decoders, so decoded pixels never depend on which imaging
libraries an executor happens to have installed.
`decode_image` normalizes row order/channel order/padding so
callers never see container quirks; `resize_images` does a vectorized
nearest-neighbor resample and re-encodes (BMP, or alpha-preserving PNG
via `encode_png`). MP4 containers DEMUX for real too (`parse_mp4`:
box-tree walk, track geometry, stts/stsz sample tables — no codec
involved). Only the compressed SAMPLE decodes (H.264/mp3) raise
`NotImplementedError`. The
Spark plumbing — schemas, batch iteration, partition-preserving UDF
shape — is real and tested for every modality.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

if TYPE_CHECKING:
    import pandas as pd

def configure_for_media(spark, max_records_per_batch: int = 64) -> dict:
    """Bound Arrow batch sizes for media workloads and return the confs
    this REPLACED (so a caller can restore them).

    The mapInPandas operators here materialize one whole Arrow batch of
    payloads per task, and Spark's default
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` is 10,000 ROWS —
    sized for scalar columns, not for multi-MB binary payloads (10k x
    5 MB images = 50 GB in one pandas batch; the 100 TB deployment
    hazard). Capping records-per-batch bounds the per-task resident set
    at ``max_records_per_batch x max payload size`` regardless of row
    width. This is an EXPLICIT helper rather than something the
    operators mutate mid-query: session conf is global, and silently
    re-configuring it inside an operator would shift batch sizes under
    every other running query on the session."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = {key: spark.conf.get(key, None)}
    spark.conf.set(key, str(max_records_per_batch))
    return old


#: metadata struct carried alongside every binary payload column
MEDIA_META_SCHEMA = StructType(
    [
        StructField("media_type", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", LongType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("payload_bytes", LongType()),
        StructField("first_byte", IntegerType()),
        # real decoded geometry, NULL where not applicable. The full
        # dispatch: BMP/PPM/PNG/GIF/JPEG header parses plus MP4 demux
        # geometry (tkhd). Surfaced as plan-level columns so
        # min-resolution gates and aspect-ratio buckets are ordinary
        # Catalyst filters, not a second decode pass
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        # header-derived media duration (round 13): WAV byte math, MP4
        # mvhd, animated-GIF delay sums, and MP3/ADTS frame-header
        # walks; NULL for still images/text — mixture/budget operators
        # can gate on media length at plan level the same way the
        # geometry rider enabled resolution gates
        StructField("duration_ms", LongType()),
    ]
)


#: decoder pixel budget (round 13): geometry is ATTACKER-CONTROLLED in
#: untrusted training data, and every decoder sizes buffers from the
#: header before any data-length check — a 200-byte payload claiming
#: 65535x65535 would otherwise allocate gigabytes (GIF dims are u16, so
#: 4.3G pixels; JPEG coefficient buffers scale the same way). 2^27
#: (134 M pixels, ~512 MB of RGBA) is far above any real crawl image;
#: larger claims raise the codec-guard NotImplementedError in BOTH
#: decode modes, so header-only and full decode keep agreeing on what
#: is decodable.
_MAX_PIXELS = 1 << 27


def _check_pixels(width: int, height: int) -> None:
    if width * height > _MAX_PIXELS:
        raise ValueError(
            f"{width}x{height} exceeds the decoder pixel budget "
            f"({_MAX_PIXELS} px)"
        )


def _require_binary_payload(df: DataFrame, op: str) -> None:
    """Explicit raise, not assert (`python -O` strips asserts): a
    mistyped payload column would otherwise surface as an opaque Arrow
    serialization error deep inside the executor-side pandas batches —
    fail at plan-build time with the column and type named instead."""
    dt = (
        df.schema["payload"].dataType if "payload" in df.columns else None
    )
    if not isinstance(dt, BinaryType):
        raise TypeError(
            f"{op} requires a binary 'payload' column, got "
            + (dt.simpleString() if dt is not None else "no such column")
        )


def decode_image(payload: bytes, with_pixels: bool = True) -> dict:
    """Decode an image payload — REAL, with no codec library, for:
    uncompressed BMP (BITMAPINFOHEADER, BI_RGB, 24/32 bpp), binary PPM
    (P6, maxval ≤ 255), 8/16-bit PNG, non-interlaced or Adam7
    (_decode_png: stdlib zlib + per-row filter math), GIF first frames
    (_decode_gif: pure-Python LZW), and baseline AND progressive JPEG
    (_decode_jpeg: Huffman + successive approximation + matrix-multiply
    IDCT). Returns ``{"width", "height", "n_channels", "pixels"}`` with
    pixels as top-down row-major RGB(A) bytes —
    container quirks (BMP's bottom-up BGR padded rows, PNG/GIF palette
    and gray forms, JPEG subsampling) are normalized here, so callers
    see one contract. These pure decoders are the only path, so the
    same payload decodes to the same pixels on every host.

    ``with_pixels=False`` is the header-only parse (the
    ``decode_audio``/``with_pcm`` convention): structural validation
    without materializing or decompressing the pixel buffer, for
    callers that need geometry only (``extract_features``' width/height
    columns must not decode every image just to read two header ints).

    Anything else raises NotImplementedError like the other codec
    guards. One failure mode ('not decodable here') either way."""
    if payload[:2] == b"BM":
        return _decode_bmp(payload, with_pixels)
    if payload[:2] == b"P6":
        return _decode_ppm(payload, with_pixels)
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return _decode_png(payload, with_pixels)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return _decode_gif(payload, with_pixels)
    if payload[:2] == b"\xff\xd8":
        return _decode_jpeg(payload, with_pixels)
    raise NotImplementedError(
        "image payload is not decodable here (uncompressed BMP, binary "
        "PPM, 8/16-bit PNG, GIF, baseline+progressive "
        "JPEG); remaining codecs are not available in this environment"
    )


def _decode_bmp(payload: bytes, with_pixels: bool = True) -> dict:
    import struct

    import numpy as np

    try:
        if len(payload) < 54:
            raise ValueError("truncated BMP header")
        data_offset = struct.unpack_from("<I", payload, 10)[0]
        # height is signed: negative means top-down row order
        dib_size, width, height_raw = struct.unpack_from("<Iii", payload, 14)
        bpp, compression = struct.unpack_from("<HI", payload, 28)
        if dib_size < 40:
            raise ValueError(f"unsupported DIB header size {dib_size}")
        if compression != 0 or bpp not in (24, 32):
            raise ValueError(
                f"only BI_RGB 24/32 bpp supported (bpp={bpp}, "
                f"compression={compression})"
            )
        height = abs(height_raw)
        n_channels = bpp // 8
        row_stride = (width * n_channels + 3) & ~3  # rows pad to 4 bytes
        end = data_offset + row_stride * height
        if width <= 0 or height == 0 or len(payload) < end:
            raise ValueError("pixel data shorter than header claims")
        out = {"width": width, "height": height, "n_channels": n_channels}
        if not with_pixels:
            return out
        rows = np.frombuffer(payload, np.uint8, row_stride * height, data_offset)
        px = rows.reshape(height, row_stride)[:, : width * n_channels]
        px = px.reshape(height, width, n_channels)
        if height_raw > 0:
            px = px[::-1]  # bottom-up file order -> top-down
        # BGR(A) -> RGB(A)
        px = px[..., [2, 1, 0, 3][:n_channels]]
        out["pixels"] = np.ascontiguousarray(px).tobytes()
        return out
    except (struct.error, ValueError) as e:
        raise NotImplementedError(f"BMP payload not decodable: {e}") from e


def _decode_ppm(payload: bytes, with_pixels: bool = True) -> dict:
    """Binary PPM (P6): 'P6' then whitespace-separated width/height/
    maxval tokens ('#' comment lines legal), one whitespace byte, then
    width*height RGB triples."""
    try:
        pos = 2
        tokens: list[int] = []
        while len(tokens) < 3:
            while pos < len(payload) and payload[pos : pos + 1].isspace():
                pos += 1
            if payload[pos : pos + 1] == b"#":
                while pos < len(payload) and payload[pos] != 0x0A:
                    pos += 1
                continue
            start = pos
            while pos < len(payload) and not payload[pos : pos + 1].isspace():
                pos += 1
            tokens.append(int(payload[start:pos]))
        pos += 1  # exactly one whitespace byte after maxval
        width, height, maxval = tokens
        if not (0 < maxval <= 255) or width <= 0 or height <= 0:
            raise ValueError(f"unsupported PPM dimensions/maxval {tokens}")
        need = width * height * 3
        if len(payload) - pos < need:
            raise ValueError("pixel data shorter than header claims")
        out = {"width": width, "height": height, "n_channels": 3}
        if with_pixels:
            out["pixels"] = bytes(payload[pos : pos + need])
        return out
    except (ValueError, IndexError) as e:
        raise NotImplementedError(f"PPM payload not decodable: {e}") from e


def _png_unfilter(raw, bpp: int):
    """Undo PNG per-row filters (types 0-4). ``raw`` is the decompressed
    stream reshaped to (height, 1 + stride): filter byte, then the
    filtered row. Sub (1) is a running byte-sum along x with period bpp
    — a vectorized cumsum per channel offset; Up (2) is a vectorized
    add of the prior reconstructed row; Average (3) and Paeth (4) are
    sequential in x by definition (each pixel needs the just-
    reconstructed left neighbor through a nonlinear predictor), so they
    fall back to a per-pixel loop."""
    import numpy as np

    height, w1 = raw.shape
    stride = w1 - 1
    recon = np.zeros((height, stride), np.uint8)
    prev = np.zeros(stride, np.int32)
    for y in range(height):
        f = int(raw[y, 0])
        line = raw[y, 1:].astype(np.int32)
        if f == 0:
            cur = line
        elif f == 1:  # Sub: cumulative byte-sum per channel offset
            cur = np.cumsum(
                line.reshape(stride // bpp, bpp), axis=0, dtype=np.int64
            ).reshape(stride)
        elif f == 2:  # Up
            cur = line + prev
        elif f == 3:  # Average
            cur = line
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                cur[x] = (cur[x] + ((a + prev[x]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            cur = line
            for x in range(stride):
                a = int(cur[x - bpp]) if x >= bpp else 0
                b = int(prev[x])
                c = int(prev[x - bpp]) if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[x] = (cur[x] + pr) & 0xFF
        else:
            raise ValueError(f"unknown PNG row filter {f}")
        cur = (cur & 0xFF).astype(np.uint8)
        recon[y] = cur
        prev = cur.astype(np.int32)
    return recon


def _decode_png(payload: bytes, with_pixels: bool = True) -> dict:
    """PNG decode without codec libraries (round 12): PNG's only
    compression is zlib — in the Python stdlib — and everything else is
    chunk walking plus per-row filter byte math (_png_unfilter).
    Supported profile: 8-bit AND 16-bit samples (16-bit downconverts by
    high byte — the libpng strip_16 convention), non-interlaced AND
    Adam7-interlaced (round 13: seven independently-filtered sub-images
    scattered back by the pass geometry), color types 0 (gray), 2
    (RGB), 3 (palette), 4 (gray+alpha), 6 (RGBA); gray and palette
    normalize to RGB and alpha is preserved, so callers see the same
    top-down row-major RGB(A) contract as BMP/PPM. A tRNS chunk on
    types 0/2/3 upgrades the output to RGBA (round 13 — previously the
    alpha plane was silently dropped, violating the decode-for-real-or-
    raise contract), with color keys compared at source precision.
    Sub-8-bit depths raise NotImplementedError (the codec-guard failure
    mode); chunk CRCs are not verified (decode-side tolerance — a
    corrupt stream still fails structurally via zlib/size checks).
    Header-only (``with_pixels=False``) walks the full chunk structure
    (valid IHDR, well-formed chunk lengths, IDAT present) but skips the
    decompression and filter passes.

    The inflate is BOUNDED to the geometry the header claims
    (decompressobj + max_length, round 13): untrusted training-data
    payloads include decompression bombs, and an unbounded
    zlib.decompress of a small crafted IDAT can expand ~1000x and OOM
    an executor before the size check ever runs."""
    import struct
    import zlib

    import numpy as np

    try:
        pos = 8
        width = height = None
        bit_depth = color_type = None
        palette = None
        trns = None
        idat: list[bytes] = []
        while pos + 8 <= len(payload):
            length, ctype = struct.unpack_from(">I4s", payload, pos)
            data = payload[pos + 8 : pos + 8 + length]
            if len(data) < length:
                raise ValueError("truncated chunk")
            pos += 12 + length  # length + type + data + CRC
            if ctype == b"IHDR":
                (
                    width,
                    height,
                    bit_depth,
                    color_type,
                    comp,
                    filt,
                    interlace,
                ) = struct.unpack(">IIBBBBB", data)
                if comp != 0 or filt != 0:
                    raise ValueError("nonstandard compression/filter method")
                if bit_depth not in (8, 16) or interlace not in (0, 1):
                    raise ValueError(
                        f"bit depth {bit_depth} / interlace {interlace} "
                        "unsupported (8/16-bit, none/Adam7)"
                    )
                if color_type not in (0, 2, 3, 4, 6):
                    raise ValueError(f"unknown color type {color_type}")
                if bit_depth == 16 and color_type == 3:
                    raise ValueError("16-bit palette is not legal PNG")
            elif ctype == b"PLTE":
                if length % 3 != 0:
                    raise ValueError("malformed palette")
                palette = np.frombuffer(data, np.uint8).reshape(-1, 3)
            elif ctype == b"tRNS":
                trns = data
            elif ctype == b"IDAT":
                idat.append(data)
            elif ctype == b"IEND":
                break
        if width is None or width <= 0 or height <= 0:
            raise ValueError("missing/invalid IHDR")
        _check_pixels(width, height)
        if not idat:
            raise ValueError("no IDAT data")
        if color_type in (4, 6):
            trns = None  # spec forbids tRNS alongside a real alpha channel
        channels_in = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color_type]
        n_channels = 4 if trns is not None else (
            {0: 3, 2: 3, 3: 3, 4: 4, 6: 4}[color_type]
        )
        out = {"width": width, "height": height, "n_channels": n_channels}
        if not with_pixels:
            return out
        sample_bytes = bit_depth // 8
        bpp = channels_in * sample_bytes
        if interlace:
            # Adam7 (round 13): 7 independently-filtered sub-images,
            # (x0, y0, dx, dy) per pass; empty passes are absent
            sections = [
                (x0, y0, dx, dy, pw, ph)
                for x0, y0, dx, dy in (
                    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
                    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
                )
                for pw in [max(0, -(-(width - x0) // dx))]
                for ph in [max(0, -(-(height - y0) // dy))]
                if pw and ph
            ]
        else:
            sections = [(0, 0, 1, 1, width, height)]
        expected = sum(ph * (1 + pw * bpp) for *_, pw, ph in sections)
        # the dual of the bounded inflate below: a BIG claimed geometry
        # with a small IDAT would allocate the full-size sample plane
        # before any data materializes — zlib's hard maximum expansion
        # is 1032:1 (258-byte matches per ~2 bits), so an IDAT that
        # can't possibly fill the claim is structurally invalid and
        # fails before the allocation. The 64 KiB constant term keeps a
        # maximally-compressible LEGAL image (a flat-color raster sits
        # within a fraction of a percent of the asymptotic ratio) from
        # tripping the guard on stream-header overhead.
        if expected > 1032 * sum(len(d) for d in idat) + 65536:
            raise ValueError("IDAT too short for claimed geometry")
        # bounded inflate: a crafted IDAT must not expand past what the
        # declared geometry can hold (decompression-bomb guard)
        dec = zlib.decompressobj()
        raw = dec.decompress(b"".join(idat), expected)
        if len(raw) != expected or dec.unconsumed_tail or dec.flush():
            raise ValueError("decompressed size mismatch")
        # full-precision sample plane (uint16 for 16-bit files) so tRNS
        # color keys compare at source precision before downconversion
        full = np.zeros(
            (height, width, channels_in),
            np.uint16 if sample_bytes == 2 else np.uint8,
        )
        off = 0
        for x0, y0, dx, dy, pw, ph in sections:
            stride = pw * bpp
            rows = np.frombuffer(
                raw, np.uint8, ph * (stride + 1), off
            ).reshape(ph, stride + 1)
            off += ph * (stride + 1)
            rec = _png_unfilter(rows, bpp)
            if sample_bytes == 2:
                s = rec.reshape(ph, pw, channels_in, 2).astype(np.uint16)
                vals = (s[..., 0] << 8) | s[..., 1]
            else:
                vals = rec.reshape(ph, pw, channels_in)
            full[y0::dy, x0::dx] = vals
        # 16-bit downconversion: high byte (libpng strip_16 convention)
        px = (
            (full >> 8).astype(np.uint8) if sample_bytes == 2 else full
        )
        alpha = None
        if color_type == 3:
            if palette is None:
                raise ValueError("palette image without PLTE")
            if int(px.max(initial=0)) >= len(palette):
                raise ValueError("palette index out of range")
            idx = px[:, :, 0]
            if trns is not None:
                # tRNS maps palette index -> alpha; absent entries opaque
                lut = np.full(len(palette), 255, np.uint8)
                lut[: min(len(trns), len(palette))] = np.frombuffer(
                    trns[: len(palette)], np.uint8
                )
                alpha = lut[idx]
            px = palette[idx]
        elif color_type == 0:
            if trns is not None:
                if len(trns) < 2:
                    raise ValueError("malformed tRNS")
                # color key compares at SOURCE precision (16-bit files
                # match the full sample, not the downconverted byte)
                key = struct.unpack(">H", trns[:2])[0]
                alpha = np.where(
                    full[:, :, 0] == key, 0, 255
                ).astype(np.uint8)
            px = np.repeat(px, 3, axis=2)
        elif color_type == 2:
            if trns is not None:
                if len(trns) < 6:
                    raise ValueError("malformed tRNS")
                key = np.array(struct.unpack(">HHH", trns[:6]), np.uint16)
                alpha = np.where(
                    (full == key).all(axis=2), 0, 255
                ).astype(np.uint8)
        elif color_type == 4:
            px = np.concatenate(
                [np.repeat(px[:, :, :1], 3, axis=2), px[:, :, 1:]], axis=2
            )
        if alpha is not None:
            px = np.concatenate([px, alpha[:, :, None]], axis=2)
        out["pixels"] = np.ascontiguousarray(px).tobytes()
        return out
    except (struct.error, ValueError, zlib.error, IndexError) as e:
        raise NotImplementedError(f"PNG payload not decodable: {e}") from e


def _gif_lzw(min_code_size: int, data: bytes, max_out: int | None = None) -> bytes:
    """GIF-variant LZW decode (LSB-first bit packing, CLEAR/END codes,
    code size growing 3..12 bits as the dictionary fills, deferred-clear
    tolerated: a full dictionary stops growing until the next CLEAR).
    Pure Python over the concatenated image sub-blocks — the reference
    path; libpil replaces it at cluster scale. ``max_out`` bounds the
    output to what the frame geometry can hold (decompression-bomb
    guard, round 13): LZW expands up to ~4000x, so an unbounded decode
    of a small crafted stream could OOM an executor before the caller's
    size check runs — decode stops as soon as the cap is reached."""
    clear = 1 << min_code_size
    end = clear + 1
    code_size = min_code_size + 1
    table: dict[int, bytes] = {i: bytes([i]) for i in range(clear)}
    next_code = end + 1
    out = bytearray()
    prev: bytes | None = None
    bitpos = 0
    total_bits = len(data) * 8
    while bitpos + code_size <= total_bits:
        if max_out is not None and len(out) >= max_out:
            break
        byte_i = bitpos >> 3
        window = int.from_bytes(data[byte_i : byte_i + 3], "little")
        code = (window >> (bitpos & 7)) & ((1 << code_size) - 1)
        bitpos += code_size
        if code == clear:
            code_size = min_code_size + 1
            table = {i: bytes([i]) for i in range(clear)}
            next_code = end + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            entry = table.get(code)
            if entry is None:
                raise ValueError(f"LZW code {code} before any literal")
        elif code in table:
            entry = table[code]
            if next_code < 4096:
                table[next_code] = prev + entry[:1]
                next_code += 1
        else:
            if code != next_code:
                raise ValueError(f"LZW code {code} out of sequence")
            entry = prev + prev[:1]
            if next_code < 4096:
                table[next_code] = entry
                next_code += 1
        out += entry
        prev = entry
        if next_code == (1 << code_size) and code_size < 12:
            code_size += 1
    return bytes(out)


#: GIF interlace passes: (first row, row step) in file order
_GIF_INTERLACE = ((0, 8), (4, 8), (2, 4), (1, 2))


def _gif_images(payload: bytes):
    """Lazy GIF block walk shared by decode and demux: skip the header
    and global color table, step over every extension's sub-blocks, and
    yield ``(gce, start, end)`` per image. ``gce`` is the first sub-block
    of the Graphic Control Extension preceding that image (None without
    one; a GCE governs exactly one following image), and
    ``payload[start:end]`` is the image's encoded span from its
    descriptor through its data terminator (descriptor + local color
    table + LZW sub-blocks). Stops at the trailer or the end of the
    payload; a malformed stream raises ValueError/IndexError, which each
    caller words itself."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("bad GIF signature")
    flags = payload[10]
    pos = 13
    if flags & 0x80:
        pos += 3 * (2 << (flags & 7))  # global color table
    gce = None
    while pos < len(payload):
        block = payload[pos]
        if block == 0x3B:  # trailer
            return
        if block == 0x21:  # extension: label, then sub-blocks
            label = payload[pos + 1]
            pos += 2
            first_sub = None
            while (size := payload[pos]) != 0:
                if first_sub is None:
                    first_sub = payload[pos + 1 : pos + 1 + size]
                pos += 1 + size
            pos += 1
            if label == 0xF9:
                gce = first_sub
            continue
        if block != 0x2C:
            raise ValueError(f"unknown block 0x{block:02x}")
        start = pos
        iflags = payload[pos + 9]
        pos += 10
        if iflags & 0x80:
            pos += 3 * (2 << (iflags & 7))  # local color table
        pos += 1  # LZW min code size
        while (size := payload[pos]) != 0:
            pos += 1 + size
        pos += 1
        yield gce, start, pos
        gce = None


def _decode_gif(payload: bytes, with_pixels: bool = True) -> dict:
    """GIF decode without codec libraries (round 12): LZW is ~50 lines
    of table reconstruction (_gif_lzw) and the block walking is
    _gif_images, shared with the demux.
    Decodes the FIRST image frame against its own rectangle (no
    multi-frame background composition — a training-data pipeline wants
    one representative raster, and the frame geometry is what it
    reports), honoring global/local color tables and 4-pass interlace
    row order. A Graphic Control Extension transparency index upgrades
    the output to RGBA with alpha 0 at transparent pixels; otherwise
    RGB — the same contract as the other decoders. Malformed streams
    raise NotImplementedError (the codec-guard failure mode)."""
    import struct

    import numpy as np

    try:
        image = next(_gif_images(payload), None)
        if image is None:
            raise ValueError("no image descriptor")
        gce, pos, _end = image
        flags = payload[10]
        palette = None
        if flags & 0x80:
            n = 2 << (flags & 7)
            palette = np.frombuffer(payload, np.uint8, 3 * n, 13).reshape(
                -1, 3
            )
        transparent = gce[3] if gce and gce[0] & 1 else None
        _, _, width, height = struct.unpack_from("<HHHH", payload, pos + 1)
        iflags = payload[pos + 9]
        pos += 10
        if iflags & 0x80:  # local color table wins for this frame
            n = 2 << (iflags & 7)
            palette = np.frombuffer(payload, np.uint8, 3 * n, pos).reshape(
                -1, 3
            )
            pos += 3 * n
        if width <= 0 or height <= 0:
            raise ValueError("empty frame")
        _check_pixels(width, height)
        if palette is None:
            raise ValueError("no color table")
        out = {
            "width": width,
            "height": height,
            "n_channels": 3 if transparent is None else 4,
        }
        if not with_pixels:
            return out
        min_code_size = payload[pos]
        pos += 1
        if not 2 <= min_code_size <= 8:
            raise ValueError(f"bad LZW min code size {min_code_size}")
        data = bytearray()
        while (size := payload[pos]) != 0:
            data += payload[pos + 1 : pos + 1 + size]
            pos += 1 + size
        idx = np.frombuffer(
            _gif_lzw(min_code_size, bytes(data), max_out=width * height),
            np.uint8,
        )[: width * height]
        if len(idx) < width * height:
            raise ValueError("LZW stream shorter than frame")
        if int(idx.max(initial=0)) >= len(palette):
            raise ValueError("palette index out of range")
        rows = idx.reshape(height, width)
        if iflags & 0x40:  # interlaced: undo the 4-pass row order
            deinterlaced = np.empty_like(rows)
            src = 0
            for first, step in _GIF_INTERLACE:
                for y in range(first, height, step):
                    deinterlaced[y] = rows[src]
                    src += 1
            rows = deinterlaced
        px = palette[rows]
        if transparent is not None:
            alpha = np.where(rows == transparent, 0, 255).astype(np.uint8)
            px = np.concatenate([px, alpha[:, :, None]], axis=2)
        out["pixels"] = np.ascontiguousarray(px).tobytes()
        return out
    except (struct.error, ValueError, IndexError) as e:
        raise NotImplementedError(f"GIF payload not decodable: {e}") from e


#: JPEG zigzag scan order as (row, col) pairs: diagonals of increasing
#: row+col, odd diagonals walked row-increasing, even row-decreasing —
#: the standard order (prefix pinned by test_jpeg_zigzag_prefix).
_JPEG_ZIGZAG: tuple[tuple[int, int], ...] = tuple(
    (i, s - i) if s % 2 else (s - i, i)
    for s in range(15)
    for i in (range(max(0, s - 7), min(s, 7) + 1))
)


def _jpeg_idct_matrix():
    """Orthonormal 8x8 DCT-II basis: A[u,x] = c(u) cos((2x+1)uπ/16)/2.
    Spatial block = A.T @ coeffs @ A."""
    import math

    import numpy as np

    a = np.zeros((8, 8))
    for u in range(8):
        c = math.sqrt(0.125) if u == 0 else 0.5
        for x in range(8):
            a[u, x] = c * math.cos((2 * x + 1) * u * math.pi / 16)
    return a


class _JpegBits:
    """MSB-first entropy-coded-segment bit reader: un-stuffs 0xFF00 and
    stops at any other marker (the caller handles RSTn)."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.bits = 0
        self.nbits = 0

    def _fill(self):
        d = self.data
        if self.pos >= len(d):
            raise ValueError("entropy data exhausted")
        b = d[self.pos]
        if b == 0xFF:
            nxt = d[self.pos + 1] if self.pos + 1 < len(d) else None
            if nxt == 0x00:
                self.pos += 2  # stuffed literal 0xFF
            else:
                raise ValueError("marker inside entropy segment")
        else:
            self.pos += 1
        self.bits = (self.bits << 8) | b
        self.nbits += 8

    def take(self, n: int) -> int:
        while self.nbits < n:
            self._fill()
        self.nbits -= n
        v = (self.bits >> self.nbits) & ((1 << n) - 1)
        self.bits &= (1 << self.nbits) - 1
        return v

    def align_to_marker(self):
        """Drop padding bits and consume an expected RSTn marker."""
        self.bits = 0
        self.nbits = 0
        d = self.data
        if d[self.pos] == 0xFF and 0xD0 <= d[self.pos + 1] <= 0xD7:
            self.pos += 2
        else:
            raise ValueError("missing restart marker")

    def huff(self, table: dict) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.take(1)
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code")


def _jpeg_extend(t: int, s: int) -> int:
    """JPEG coefficient 'extend': an s-bit magnitude pattern to the
    signed value (F.12 in the spec)."""
    if s == 0:
        return 0
    return t if t >= (1 << (s - 1)) else t - (1 << s) + 1


def _jpeg_huff_table(counts: bytes, symbols: bytes) -> dict:
    """Canonical Huffman: (length, code) -> symbol."""
    table: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            table[(length, code)] = symbols[k]
            code += 1
            k += 1
        code <<= 1
    return table


def _jpeg_ac_first(bits, actab, coef, ss, se, al, eobrun) -> int:
    """One block's AC coefficients, first successive-approximation pass
    (Ah == 0) — ALSO the baseline AC path (baseline is the degenerate
    ss=1, se=63, al=0 first pass: its EOB is the run-length-0 EOBRUN).
    Returns the updated EOBRUN (whole following blocks skipped)."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = bits.huff(actab)
        run, size = rs >> 4, rs & 15
        if size == 0:
            if run == 15:  # ZRL
                k += 16
                continue
            eobrun = (1 << run) - 1
            if run:
                eobrun += bits.take(run)
            break  # EOB: rest of this block stays zero
        k += run
        if k > se:
            raise ValueError("AC run overflow")
        coef[k] = _jpeg_extend(bits.take(size), size) << al
        k += 1
    return eobrun


def _jpeg_ac_refine(bits, actab, coef, ss, se, al, eobrun) -> int:
    """One block's AC refinement pass (Ah = Al + 1): newly nonzero
    coefficients arrive as ±1<<Al after a run of ZERO-HISTORY positions;
    every nonzero-history position passed contributes one correction bit
    (1 = set bit Al of the magnitude). An EOB symbol switches the rest of
    the block — and EOBRUN-1 following blocks — to correction-bits-only
    (spec T.81 G.1.2.3; structure mirrors the figure G.7 flow)."""
    p1 = 1 << al
    m1 = -1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = bits.huff(actab)
            run, size = rs >> 4, rs & 15
            val = 0
            if size:
                if size != 1:
                    raise ValueError("bad AC refinement size")
                val = p1 if bits.take(1) else m1
            elif run != 15:
                eobrun = 1 << run
                if run:
                    eobrun += bits.take(run)
                break  # rest handled by the correction-bit tail below
            # advance over `run` still-zero coefficients (16 for ZRL),
            # appending correction bits to already-nonzero ones passed
            while k <= se:
                if coef[k]:
                    if bits.take(1) and not (coef[k] & p1):
                        coef[k] += p1 if coef[k] > 0 else m1
                else:
                    if run == 0:
                        break
                    run -= 1
                k += 1
            if val:
                if k > se:
                    raise ValueError("AC refinement run overflow")
                coef[k] = val
            k += 1
    if eobrun > 0:
        while k <= se:  # correction bits for the remaining nonzeroes
            if coef[k]:
                if bits.take(1) and not (coef[k] & p1):
                    coef[k] += p1 if coef[k] > 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


def _decode_jpeg(payload: bytes, with_pixels: bool = True) -> dict:
    """Huffman JPEG decoded with numpy byte math: baseline/extended
    sequential (SOF0/SOF1) since round 12 and PROGRESSIVE (SOF2) since
    round 13 — the variant a real web-crawl corpus hits first. One scan
    engine covers both: every scan's entropy data lands in per-component
    COEFFICIENT BUFFERS (spectral selection Ss..Se, successive
    approximation Ah/Al with EOBRUN and correction bits — see
    _jpeg_ac_first/_jpeg_ac_refine; a baseline scan is the degenerate
    0..63 first pass), then ONE vectorized finish: dequantize, inverse
    zigzag, batched 8x8 matrix IDCT over all blocks at once (einsum),
    sampling-factor upsample by replication, JFIF YCbCr→RGB. Restart
    intervals honored in both forms; arithmetic coding, lossless and
    hierarchical frames (SOF3/5..15 except 2), and 12-bit precision
    raise NotImplementedError — the codec-guard failure mode. A
    reference decoder, not a fast one: the entropy decode is a
    per-symbol Python loop."""
    import struct

    import numpy as np

    try:
        if payload[:2] != b"\xff\xd8":
            raise ValueError("bad JPEG signature")
        pos = 2
        qt: dict[int, "np.ndarray"] = {}
        huff_dc: dict[int, dict] = {}
        huff_ac: dict[int, dict] = {}
        frame = None
        restart_interval = 0
        coeffs: dict[int, "np.ndarray"] = {}
        geom: dict[int, tuple] = {}
        saw_scan = False
        while True:
            if payload[pos] != 0xFF:
                raise ValueError("expected marker")
            marker = payload[pos + 1]
            pos += 2
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                continue
            if marker == 0xD9:  # EOI
                if not saw_scan:
                    raise ValueError("no scan data")
                break
            (length,) = struct.unpack_from(">H", payload, pos)
            seg = payload[pos + 2 : pos + length]
            pos += length
            if marker == 0xDB:  # DQT
                i = 0
                while i < len(seg):
                    pq, tq = seg[i] >> 4, seg[i] & 15
                    i += 1
                    if pq:  # 16-bit table
                        vals = np.frombuffer(seg, ">u2", 64, i)
                        i += 128
                    else:
                        vals = np.frombuffer(seg, np.uint8, 64, i)
                        i += 64
                    qt[tq] = vals.astype(np.int32)
                continue
            if marker == 0xC4:  # DHT (progressive files redefine between scans)
                i = 0
                while i < len(seg):
                    tc, th = seg[i] >> 4, seg[i] & 15
                    counts = seg[i + 1 : i + 17]
                    n = sum(counts)
                    symbols = seg[i + 17 : i + 17 + n]
                    (huff_ac if tc else huff_dc)[th] = _jpeg_huff_table(
                        counts, symbols
                    )
                    i += 17 + n
                continue
            if marker in (0xC0, 0xC1, 0xC2):  # sequential or progressive
                prec, h, w, nc = struct.unpack_from(">BHHB", seg, 0)
                if prec != 8:
                    raise ValueError(f"{prec}-bit precision unsupported")
                if w <= 0 or h <= 0:
                    raise ValueError("empty frame")
                # validated BEFORE any header-only return so the two
                # modes agree on what is decodable (a 4-component CMYK
                # file must not report geometry it cannot deliver)
                if nc not in (1, 3):
                    raise ValueError(f"{nc}-component JPEG unsupported")
                _check_pixels(w, h)
                comps = []
                for c in range(nc):
                    cid, samp, tq = struct.unpack_from(">BBB", seg, 6 + 3 * c)
                    comps.append((cid, samp >> 4, samp & 15, tq))
                frame = (w, h, comps)
                continue
            if marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                          0xCD, 0xCE, 0xCF):
                raise ValueError(
                    f"unsupported frame type 0x{marker:02x}"
                )
            if marker == 0xDD:  # DRI
                (restart_interval,) = struct.unpack_from(">H", seg, 0)
                continue
            if marker == 0xDA:  # SOS
                if frame is None:
                    raise ValueError("SOS before SOF")
                if not with_pixels:
                    # header-only: frame is validated, scan data exists
                    w, h, _ = frame
                    return {"width": w, "height": h, "n_channels": 3}
                if not coeffs:
                    width, height, comps = frame
                    max_h = max(c[1] for c in comps)
                    max_v = max(c[2] for c in comps)
                    if any(max_h % c[1] or max_v % c[2] for c in comps):
                        raise ValueError("non-integer sampling ratio")
                    mcus_x = -(-width // (8 * max_h))
                    mcus_y = -(-height // (8 * max_v))
                    # data-sufficiency twin of the PNG 1032:1 pre-check:
                    # every coded block costs >= 1 entropy bit, so a
                    # claimed geometry the payload cannot possibly fill
                    # fails BEFORE the coefficient buffers are sized
                    # from it (the allocation-bomb path)
                    total_blocks = sum(
                        mcus_y * cv * mcus_x * ch for _, ch, cv, _ in comps
                    )
                    if total_blocks > 8 * len(payload):
                        raise ValueError(
                            "entropy data too short for claimed geometry"
                        )
                    for cid, ch, cv, _ in comps:
                        # buffers are MCU-padded; non-interleaved scans
                        # code only the component's own ceil(dim/8) grid
                        comp_w = -(-width * ch // max_h)
                        comp_h = -(-height * cv // max_v)
                        coeffs[cid] = np.zeros(
                            (mcus_y * cv, mcus_x * ch, 64), np.int32
                        )
                        geom[cid] = (-(-comp_h // 8), -(-comp_w // 8))
                ns = seg[0]
                scan_comps = []
                for c in range(ns):
                    cid, tabs = seg[1 + 2 * c], seg[2 + 2 * c]
                    scan_comps.append((cid, tabs >> 4, tabs & 15))
                ss, se, ahl = seg[1 + 2 * ns : 4 + 2 * ns]
                ah, al = ahl >> 4, ahl & 15
                if not (0 <= ss <= se <= 63):
                    raise ValueError("bad spectral selection")
                pos = _jpeg_decode_scan(
                    payload, pos, frame, scan_comps, (ss, se, ah, al),
                    huff_dc, huff_ac, coeffs, geom,
                    (mcus_x, mcus_y, max_h, max_v), restart_interval,
                )
                saw_scan = True
                continue
            # APPn, COM, DNL, anything else: skipped via its length
        # --- finish: dequantize + batched IDCT + upsample + color ---
        width, height, comps = frame
        zz_rows = np.array([r for r, _ in _JPEG_ZIGZAG])
        zz_cols = np.array([c for _, c in _JPEG_ZIGZAG])
        a = _jpeg_idct_matrix()
        planes = []
        for cid, ch, cv, tq in comps:
            # pop: each coefficient buffer (512 MB int32 for a
            # budget-sized Y plane) frees as soon as its spatial plane
            # exists, instead of all three riding to the color transform
            buf = coeffs.pop(cid)
            by, bx = buf.shape[:2]
            flat = buf.reshape(-1, 64)
            # batched IDCT in bounded slabs, float32 end-to-end (round
            # 14): at the 2^27-px budget the per-component spatial array
            # alone is blocks x 64 floats — float64 put the PEAK working
            # set (int32 coeffs + spatial + planes across 3 components +
            # the stacked RGB float plane) at ~7 GB for a 4:4:4 image,
            # far beyond the budget comment's ~512 MB story. float32
            # halves every float buffer, popped coeffs and the
            # channel-at-a-time color transform below cut the rest:
            # worst-case peak is now ~2.5 GB at full-budget 4:4:4
            # (~1.2 GB for typical 4:2:0), and float32's ~1e-3 absolute
            # IDCT error is noise against the >=0.5 coefficient
            # quantization the format itself imposes. 64k blocks per
            # slab keeps the einsum transient under ~20 MB at full
            # speed.
            spatial = np.empty((flat.shape[0], 8, 8), np.float32)
            for s in range(0, flat.shape[0], 65536):
                deq = flat[s : s + 65536].astype(np.float32) * np.asarray(
                    qt[tq], np.float32
                )
                blocks = np.zeros((deq.shape[0], 8, 8), np.float32)
                blocks[:, zz_rows, zz_cols] = deq
                # spatial[x,y] = sum_uv a[u,x] * block[u,v] * a[v,y]
                spatial[s : s + 65536] = np.einsum(
                    "ux,nuv,vy->nxy",
                    a.astype(np.float32),
                    blocks,
                    a.astype(np.float32),
                )
            plane = (
                (spatial + np.float32(128.0))
                .reshape(by, bx, 8, 8)
                .transpose(0, 2, 1, 3)
                .reshape(by * 8, bx * 8)
            )
            plane = np.repeat(
                np.repeat(plane, max_v // cv, 0), max_h // ch, 1
            )
            planes.append(np.clip(plane[:height, :width], 0, 255))
        half = np.float32(0.5)
        if len(comps) == 1:
            gray = np.clip(planes[0] + half, 0, 255).astype(np.uint8)
            px = np.repeat(gray[:, :, None], 3, axis=2)
        else:
            y, cb, cr = planes
            cb -= np.float32(128.0)
            cr -= np.float32(128.0)
            # channel at a time into the uint8 output: one float32 temp
            # per channel instead of a stacked 3-channel float plane
            # plus its clip copy (the old peak-memory hot spot)
            px = np.empty((height, width, 3), np.uint8)
            px[:, :, 0] = np.clip(
                y + np.float32(1.402) * cr + half, 0, 255
            ).astype(np.uint8)
            px[:, :, 1] = np.clip(
                y
                - np.float32(0.344136) * cb
                - np.float32(0.714136) * cr
                + half,
                0,
                255,
            ).astype(np.uint8)
            px[:, :, 2] = np.clip(
                y + np.float32(1.772) * cb + half, 0, 255
            ).astype(np.uint8)
        return {
            "width": width,
            "height": height,
            "n_channels": 3,
            "pixels": px.tobytes(),
        }
    except (struct.error, ValueError, IndexError, KeyError) as e:
        raise NotImplementedError(f"JPEG payload not decodable: {e}") from e


def _jpeg_decode_scan(
    payload, pos, frame, scan_comps, band, huff_dc, huff_ac,
    coeffs, geom, grid, restart_interval,
):
    """Decode ONE scan's entropy data into the coefficient buffers and
    return the position of the next marker. Interleaved scans (ns > 1)
    walk the MCU grid; single-component scans walk that component's own
    block grid row-major (T.81 A.2.3). Progressive constraints (DC-only
    scans interleave, AC scans are single-component, refinement scans
    sit on a prior pass's coefficients) fall out of the band arithmetic
    rather than being special-cased."""
    ss, se, ah, al = band
    mcus_x, mcus_y, max_h, max_v = grid
    _, _, comps = frame
    samp = {cid: (ch, cv) for cid, ch, cv, _ in comps}
    bits = _JpegBits(payload, pos)
    pred = {cid: 0 for cid, _, _ in scan_comps}
    eobrun = 0

    def block(cid, dc_t, ac_t, row, col):
        nonlocal eobrun
        coef = coeffs[cid][row, col]
        if ss == 0:
            if ah == 0:
                s = bits.huff(huff_dc[dc_t])
                pred[cid] += _jpeg_extend(bits.take(s), s)
                coef[0] = pred[cid] << al
            elif bits.take(1):
                coef[0] |= 1 << al
        if se >= 1:
            fn = _jpeg_ac_first if ah == 0 else _jpeg_ac_refine
            eobrun = fn(bits, huff_ac[ac_t], coef, max(ss, 1), se, al, eobrun)

    if len(scan_comps) > 1:  # interleaved: MCU order
        units = mcus_x * mcus_y
    else:
        cid = scan_comps[0][0]
        bh, bw = geom[cid]
        units = bh * bw
    done = 0
    while done < units:
        if restart_interval and done and done % restart_interval == 0:
            bits.align_to_marker()
            pred = {c: 0 for c in pred}
            eobrun = 0
        if len(scan_comps) > 1:
            my, mx = divmod(done, mcus_x)
            for cid, dc_t, ac_t in scan_comps:
                ch, cv = samp[cid]
                for by in range(cv):
                    for bx in range(ch):
                        block(cid, dc_t, ac_t, my * cv + by, mx * ch + bx)
        else:
            cid, dc_t, ac_t = scan_comps[0]
            row, col = divmod(done, bw)
            block(cid, dc_t, ac_t, row, col)
        done += 1
    # skip any padding bits / unconsumed restart markers to the next
    # real marker (the caller resumes the marker walk there)
    p = bits.pos
    while p + 1 < len(payload):
        if (
            payload[p] == 0xFF
            and payload[p + 1] not in (0x00, 0xFF)
            and not (0xD0 <= payload[p + 1] <= 0xD7)
        ):
            break
        p += 1
    return p


def encode_png(
    width: int, height: int, pixels: bytes, n_channels: int = 3
) -> bytes:
    """Encode top-down row-major RGB(A)/gray bytes as a non-interlaced
    8-bit PNG (filter type 0 rows, stdlib zlib) — the alpha-capable
    inverse of _decode_png, used by resize_images to keep the alpha
    plane that a 24-bit BMP re-encode would drop. Round-trips through
    decode_image exactly (lossless)."""
    import struct
    import zlib

    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[n_channels]
    stride = width * n_channels
    raw = b"".join(
        b"\x00" + pixels[y * stride : (y + 1) * stride]
        for y in range(height)
    )

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(
            b"IHDR",
            struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0),
        )
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def encode_bmp(width: int, height: int, pixels: bytes, n_channels: int = 3) -> bytes:
    """Encode top-down row-major RGB(A) bytes as an uncompressed 24-bit
    BI_RGB BMP (alpha dropped) — the inverse of _decode_bmp, so resized
    payloads stay round-trippable through decode_image."""
    import struct

    import numpy as np

    px = np.frombuffer(pixels, np.uint8).reshape(height, width, n_channels)
    rgb = px[..., :3][..., ::-1]  # RGB(A) -> BGR, drop alpha
    row_stride = (width * 3 + 3) & ~3
    rows = np.zeros((height, row_stride), np.uint8)
    rows[:, : width * 3] = rgb.reshape(height, width * 3)
    data = rows[::-1].tobytes()  # top-down -> bottom-up file order
    header = struct.pack(
        "<2sIHHI", b"BM", 54 + len(data), 0, 0, 54
    ) + struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(data), 2835, 2835, 0, 0
    )
    return header + data


def decode_audio(payload: bytes, with_pcm: bool = True) -> dict:
    """Decode a PCM WAV audio payload — REAL for the one codec the
    Python stdlib ships (``wave``; no external libraries, no audioop).
    Returns the header-derived stream parameters plus (by default) the
    raw PCM bytes; ``with_pcm=False`` is the header-only parse for
    callers that need offsets/sizes but not the samples — frame_sample's
    hot loop must not allocate a full second copy of every payload just
    to emit 8 byte-math tuples. Anything the stdlib can't parse
    (compressed WAV, mp3, a truncated header) raises NotImplementedError
    like the other codec guards, so callers keep one failure mode for
    'not decodable here'."""
    import io
    import wave

    try:
        with wave.open(io.BytesIO(payload)) as w:
            frame_rate = w.getframerate()
            n_frames = w.getnframes()
            out = {
                "n_channels": w.getnchannels(),
                "sample_width": w.getsampwidth(),
                "frame_rate": frame_rate,
                "n_frames": n_frames,
                "duration_ms": n_frames * 1000 // max(frame_rate, 1),
            }
            if with_pcm:
                out["pcm"] = w.readframes(n_frames)
            return out
    except (wave.Error, EOFError, ValueError) as e:
        raise NotImplementedError(
            f"audio payload is not stdlib-decodable PCM WAV: {e}"
        ) from e


def extract_features(df: DataFrame) -> DataFrame:
    """Feature-extract over binary payloads via Arrow-batched mapInPandas.

    Input: (doc_id: long, payload: binary). Output: FEATURE_SCHEMA.
    Byte length + first byte are computed for every payload; width/height
    are the REAL decoded geometry for decodable images (BMP/PPM/PNG/
    GIF/JPEG — a header-only ``decode_image(with_pixels=False)`` parse,
    so no pixel buffer is copied just to read two header ints) and for
    MP4 containers (``parse_mp4`` demux, tkhd), NULL for everything
    else; duration_ms is the header-derived media duration for WAV
    (byte math), MP4 (mvhd), animated GIFs (delay sum — static GIFs
    are images and stay NULL), and MP3/ADTS AAC (frame-header walks),
    NULL elsewhere. The Spark-side shape
    (Arrow transfer, per-batch pandas work, stable schema) is the
    production one either way.
    """
    _require_binary_payload(df, "extract_features")

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in it:
            nbytes, first, widths, heights, durations = [], [], [], [], []
            for b in pdf["payload"]:
                # NULL payloads are legal (BinaryType is nullable):
                # treat as empty
                b = bytes(b) if b is not None else b""
                nbytes.append(len(b))
                first.append(b[0] if b else -1)
                w = h = dur = None
                if (
                    b[:2] in (b"BM", b"P6")
                    or b[:8] == b"\x89PNG\r\n\x1a\n"
                    or b[:6] in (b"GIF87a", b"GIF89a")
                    or b[:2] == b"\xff\xd8"
                ):
                    try:
                        img = decode_image(b, with_pixels=False)
                        w, h = img["width"], img["height"]
                    except NotImplementedError:
                        pass  # sniffed like an image, doesn't parse: NULL
                    if b[:6] in (b"GIF87a", b"GIF89a"):
                        try:
                            frames = _gif_frames(b)
                            # an ANIMATION has a real duration; a static
                            # GIF is an image and stays NULL
                            if len(frames) >= 2:
                                dur = sum(d for d, _ in frames)
                        except NotImplementedError:
                            pass
                elif _is_mp4(b):
                    try:
                        m = parse_mp4(b)  # demux: tkhd/mvhd, no codec
                        w, h = m["width"], m["height"]
                        dur = m["duration_ms"]
                    except NotImplementedError:
                        pass
                elif _is_wav(b):
                    try:
                        dur = decode_audio(b, with_pcm=False)["duration_ms"]
                    except NotImplementedError:
                        pass
                elif _is_mp3(b):
                    try:
                        dur = sum(d for d, _ in _mp3_frames(b)) // 1000
                    except NotImplementedError:
                        pass
                elif _is_adts(b):
                    try:
                        dur = sum(d for d, _ in _adts_frames(b)) // 1000
                    except NotImplementedError:
                        pass
                widths.append(w)
                heights.append(h)
                durations.append(dur)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload_bytes": pd.array(nbytes, dtype="int64"),
                    "first_byte": pd.array(first, dtype="int32"),
                    "width": pd.array(widths, dtype="Int32"),
                    "height": pd.array(heights, dtype="Int32"),
                    "duration_ms": pd.array(durations, dtype="Int64"),
                }
            )

    return df.mapInPandas(batches, FEATURE_SCHEMA)


def _resize_nearest(img: dict, width: int, height: int) -> tuple[bytes, str]:
    """Nearest-neighbor resample via numpy index arrays (vectorized —
    no per-pixel Python). Returns (payload, media_type): opaque images
    re-encode as 24-bit BMP; images WITH an alpha plane re-encode as
    RGBA PNG instead (round 12) — a BMP re-encode would silently drop
    transparency."""
    import numpy as np

    px = np.frombuffer(img["pixels"], np.uint8).reshape(
        img["height"], img["width"], img["n_channels"]
    )
    ys = (np.arange(height) * img["height"]) // height
    xs = (np.arange(width) * img["width"]) // width
    out = px[ys][:, xs]
    if img["n_channels"] == 4:
        return encode_png(width, height, out.tobytes(), 4), "image/png"
    return (
        encode_bmp(width, height, out.tobytes(), img["n_channels"]),
        "image/bmp",
    )


def resize_images(df: DataFrame, width: int, height: int) -> DataFrame:
    """Resize image payloads via Arrow-batched mapInPandas.

    Input: (doc_id: long, payload: binary, meta: MEDIA_META_SCHEMA struct).
    Output: same shape with meta.width/height rewritten (and, on the
    real-resize branch, meta.media_type rewritten to the re-encoded
    payload's actual format). REAL for decodable payloads
    (uncompressed BMP / binary PPM / PNG / GIF / baseline JPEG — see
    decode_image): nearest-neighbor resample through vectorized numpy
    index arrays, re-encoded as 24-bit BMP — or as RGBA PNG when the
    decoded image carries an alpha plane, so transparency survives the
    resize. Payloads needing an absent
    codec pass through unchanged with only the meta rewrite. The Spark-side plumbing — struct column through Arrow,
    schema-stable output, partition-preserving map — is identical on
    both branches."""
    _require_binary_payload(df, "resize_images")

    out_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("payload", BinaryType()),
            StructField("meta", MEDIA_META_SCHEMA),
        ]
    )

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in it:
            payloads, metas = [], []
            for b, m in zip(pdf["payload"], pdf["meta"]):
                m = m or {}
                media_type = m.get("media_type")
                if b is not None:
                    try:
                        # the payload is RE-ENCODED (BMP, or PNG when an
                        # alpha plane must survive): the metadata must
                        # say so, whatever format came in — a resized
                        # PPM labeled image/ppm would lie to every
                        # metadata consumer downstream
                        b, media_type = _resize_nearest(
                            decode_image(bytes(b)), width, height
                        )
                    except NotImplementedError:
                        pass  # codec absent here: passthrough branch
                payloads.append(b)
                metas.append(
                    {
                        "media_type": media_type,
                        "width": width,
                        "height": height,
                        "duration_ms": m.get("duration_ms"),
                    }
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "payload": payloads, "meta": metas}
            )

    return df.mapInPandas(batches, out_schema)


def _is_mp4(payload: bytes) -> bool:
    return len(payload) >= 12 and payload[4:8] == b"ftyp"


def _mp4_boxes(data: bytes, start: int, end: int):
    """Walk ISO-BMFF boxes in data[start:end]: yields (type, body_start,
    box_end), handling 64-bit largesize and size-0 (to-end) boxes."""
    import struct

    pos = start
    while pos + 8 <= end:
        size, btype = struct.unpack_from(">I4s", data, pos)
        hdr = 8
        if size == 1:
            (size,) = struct.unpack_from(">Q", data, pos + 8)
            hdr = 16
        elif size == 0:
            size = end - pos
        if size < hdr or pos + size > end:
            raise ValueError(f"bad box size in {btype!r}")
        yield btype, pos + hdr, pos + size
        pos += size


def parse_mp4(payload: bytes) -> dict:
    """MP4 / ISO-BMFF DEMUX — container structure, not codec decode
    (round 12): the box tree is pure byte math, so track geometry,
    duration and the sample tables are REAL without any video codec.
    Returns movie duration_ms (mvhd), the first visual track's
    width/height (tkhd 16.16 fixed point), its media timescale (mdhd)
    and its sample timing/size tables (stts as (count, delta) pairs,
    stsz sizes) — everything frame_sample needs to step true
    per-sample offsets. The compressed sample payloads themselves stay
    opaque (H.264 etc. are codec-library territory). Malformed
    structures raise NotImplementedError like the codec guards."""
    import struct

    try:
        if not _is_mp4(payload):
            raise ValueError("no ftyp box")
        end = len(payload)
        out: dict = {
            "width": None,
            "height": None,
            "duration_ms": None,
            "media_timescale": None,
            "stts": None,
            "sample_sizes": None,
            "sample_count": None,
        }

        def parse_trak(s, e):
            trak: dict = {}
            for btype, bs, be in _mp4_boxes(payload, s, e):
                if btype == b"tkhd":
                    ver = payload[bs]
                    off = bs + (4 + 32 if ver else 4 + 20) + 16 + 36
                    w, h = struct.unpack_from(">II", payload, off)
                    trak["width"], trak["height"] = w >> 16, h >> 16
                elif btype == b"mdia":
                    for mt, ms_, me in _mp4_boxes(payload, bs, be):
                        if mt == b"mdhd":
                            ver = payload[ms_]
                            off = ms_ + (4 + 16 if ver else 4 + 8)
                            (trak["timescale"],) = struct.unpack_from(
                                ">I", payload, off
                            )
                        elif mt == b"minf":
                            for nt, ns, ne in _mp4_boxes(payload, ms_, me):
                                if nt == b"stbl":
                                    parse_stbl(ns, ne, trak)
            return trak

        def parse_stbl(s, e, trak):
            for btype, bs, be in _mp4_boxes(payload, s, e):
                # entry counts are attacker-controlled headers: a count
                # the box's own byte span cannot hold would build a
                # multi-GB Python list from a tiny payload (the same
                # allocation-bomb class as the PNG/JPEG geometry claims)
                if btype == b"stts":
                    (n,) = struct.unpack_from(">I", payload, bs + 4)
                    if n > (be - bs - 8) // 8:
                        raise ValueError("stts count exceeds box size")
                    trak["stts"] = [
                        struct.unpack_from(">II", payload, bs + 8 + 8 * i)
                        for i in range(n)
                    ]
                elif btype == b"stsz":
                    fixed, n = struct.unpack_from(">II", payload, bs + 4)
                    if not fixed and n > (be - bs - 12) // 4:
                        raise ValueError("stsz count exceeds box size")
                    trak["sample_count"] = n
                    trak["sample_sizes"] = (
                        None
                        if fixed
                        else [
                            struct.unpack_from(
                                ">I", payload, bs + 12 + 4 * i
                            )[0]
                            for i in range(n)
                        ]
                    )
                    trak["fixed_size"] = fixed

        for btype, bs, be in _mp4_boxes(payload, 0, end):
            if btype != b"moov":
                continue
            tracks = []
            for mt, ms_, me in _mp4_boxes(payload, bs, be):
                if mt == b"mvhd":
                    ver = payload[ms_]
                    off = ms_ + (4 + 16 if ver else 4 + 8)
                    (tscale,) = struct.unpack_from(">I", payload, off)
                    dur = (
                        struct.unpack_from(">Q", payload, off + 4)[0]
                        if ver
                        else struct.unpack_from(">I", payload, off + 4)[0]
                    )
                    out["duration_ms"] = dur * 1000 // max(tscale, 1)
                elif mt == b"trak":
                    tracks.append(parse_trak(ms_, me))
            visual = next(
                (t for t in tracks if t.get("width")), None
            ) or (tracks[0] if tracks else None)
            if visual is None:
                raise ValueError("moov has no trak")
            out["width"] = visual.get("width") or None
            out["height"] = visual.get("height") or None
            out["media_timescale"] = visual.get("timescale")
            out["stts"] = visual.get("stts")
            out["sample_sizes"] = visual.get("sample_sizes")
            out["sample_count"] = visual.get("sample_count")
            out["fixed_size"] = visual.get("fixed_size")
            return out
        raise ValueError("no moov box")
    except (struct.error, ValueError, IndexError) as e:
        raise NotImplementedError(f"MP4 payload not demuxable: {e}") from e


def _gif_frames(payload: bytes) -> list:
    """Animated-GIF DEMUX (round 13): walk the block stream WITHOUT
    LZW-decoding and return one (delay_ms, frame_bytes) per image frame
    — delay from each frame's preceding Graphic Control Extension
    (centiseconds), frame_bytes the encoded byte span from its image
    descriptor through its data terminator (descriptor + local color
    table + LZW sub-blocks). This is the GIF analogue of parse_mp4's
    stts/stsz tables: frame_sample can step real per-frame timings and
    sizes for animations, and extract_features can report a real
    duration, all in pure byte math. Malformed streams raise
    NotImplementedError like the codec guards."""
    try:
        frames = [
            (
                int.from_bytes(gce[1:3], "little") * 10
                if gce and len(gce) >= 3
                else 0,
                end - start,
            )
            for gce, start, end in _gif_images(payload)
        ]
        if not frames:
            raise ValueError("no image frames")
        return frames
    except (ValueError, IndexError) as e:
        raise NotImplementedError(f"GIF payload not demuxable: {e}") from e


#: MPEG Layer III bitrate tables (kbps, header index 1..14)
_MP3_BITRATES = {
    3: (32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320),
    2: (8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
    0: (8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160),
}
#: sample rates by version bits (3=MPEG1, 2=MPEG2, 0=MPEG2.5)
_MP3_RATES = {
    3: (44100, 48000, 32000),
    2: (22050, 24000, 16000),
    0: (11025, 12000, 8000),
}


def _skip_id3(payload: bytes) -> int:
    """Offset past a leading ID3v2 tag (0 when none). The tag size is
    syncsafe (4 x 7 bits) and counts neither the 10-byte header nor the
    optional ID3v2.4 footer (flags bit 0x10: a 10-byte '3DI' trailer
    AFTER the tag body, informal spec §3.1/§3.4) — so a footer-bearing
    tag needs 10 more bytes skipped or the sniffer lands on '3DI' and
    misses the first audio frame. Footers exist ONLY in v2.4: in v2.3
    and v2.2 that flag bit is undefined, so honoring it there would
    over-skip 10 bytes into the first audio frame of a tag written by a
    sloppy encoder — gate the skip on the version byte (r15 ADVICE). A
    truncated or malformed header raises ValueError like the other
    structural checks."""
    if payload[:3] != b"ID3":
        return 0
    if len(payload) < 10:
        raise ValueError("truncated ID3v2 header")
    size = 0
    for b in payload[6:10]:
        if b & 0x80:
            raise ValueError("bad ID3v2 syncsafe size")
        size = (size << 7) | b
    footer = 10 if payload[3] == 4 and payload[5] & 0x10 else 0
    return 10 + size + footer


def _audio_sniff(payload: bytes) -> str | None:
    """'mp3' | 'adts' | None, decided on the first frame header AFTER
    any leading ID3v2 tag (round 14 — previously any ID3 prefix sniffed
    as MP3, so an ID3-tagged ADTS stream dead-ended in the MP3 walker
    instead of reaching _adts_frames). The layer bits disambiguate:
    01 = MPEG Layer III, 00 = ADTS AAC."""
    try:
        pos = _skip_id3(payload)
    except ValueError:
        return None
    if pos + 4 > len(payload) or payload[pos] != 0xFF:
        return None
    b1 = payload[pos + 1]
    if (b1 & 0xE0) != 0xE0:
        return None
    layer = (b1 >> 1) & 3
    if layer == 1:
        return "mp3"
    if (b1 & 0xF6) == 0xF0 and pos + 7 <= len(payload):
        return "adts"
    return None


def _is_mp3(payload: bytes) -> bool:
    """MPEG Layer III frame sync, after any leading ID3v2 tag."""
    return _audio_sniff(payload) == "mp3"


def _mp3_frames(payload: bytes) -> list:
    """MP3 DEMUX (round 13): walk MPEG-1/2/2.5 Layer III frame headers
    WITHOUT decoding audio — each header carries bitrate + sample-rate
    indices from which the frame's byte size (144 or 72 x bitrate /
    samplerate + padding) and duration (1152 or 576 samples) follow.
    Returns one (duration_us, frame_bytes) per frame, microseconds so a
    26.12 ms MPEG-1 frame doesn't accumulate rounding across thousands
    of frames. A leading ID3v2 tag is skipped via its syncsafe size;
    the walk stops cleanly at trailing garbage / a truncated final
    frame (the standard demuxer tolerance). A leading Xing/Info/VBRI
    metadata frame (round 14 — LAME writes one silent header frame at
    the front of every VBR and most CBR encodes) is excluded from the
    timeline: it carries no audio, so counting it inflated duration_ms
    by one frame and made frame_sample's offset-0 row report the
    metadata frame's size. The compressed audio
    itself stays opaque — the same decode-vs-demux line as parse_mp4.
    Malformed streams raise NotImplementedError like the codec guards."""
    try:
        pos = _skip_id3(payload)
        frames: list = []
        first_frame_checked = False
        while pos + 4 <= len(payload):
            b1, b2 = payload[pos + 1], payload[pos + 2]
            if payload[pos] != 0xFF or (b1 & 0xE0) != 0xE0:
                break  # desync: trailing tag/garbage ends the stream
            version = (b1 >> 3) & 3
            layer = (b1 >> 1) & 3
            if version == 1 or layer != 1:
                raise ValueError("only MPEG Layer III demuxable here")
            bidx = (b2 >> 4) & 15
            ridx = (b2 >> 2) & 3
            padding = (b2 >> 1) & 1
            if bidx in (0, 15) or ridx == 3:
                raise ValueError("free-format/invalid bitrate or rate index")
            bitrate = _MP3_BITRATES[version][bidx - 1] * 1000
            samplerate = _MP3_RATES[version][ridx]
            per = 144 if version == 3 else 72
            size = per * bitrate // samplerate + padding
            if size < 4 or pos + size > len(payload):
                break  # truncated final frame
            if not first_frame_checked:
                first_frame_checked = True
                # Xing/Info sits after the side info, whose length
                # depends on version and channel mode (byte 3 bits 6-7,
                # 11 = mono) — and a CRC-protected frame (protection
                # bit 0) carries a 2-byte CRC between header and side
                # info, shifting the tag by 2. VBRI is at a fixed
                # 32-byte offset from the header end regardless. Both
                # lookups are bounded to THIS frame's extent — a
                # tiny low-bitrate first frame must not read tag bytes
                # out of the next frame's payload
                mode = (payload[pos + 3] >> 6) & 3
                if version == 3:
                    side = 17 if mode == 3 else 32
                else:
                    side = 9 if mode == 3 else 17
                crc = 0 if (b1 & 1) else 2
                tag_at = 4 + crc + side
                if (
                    tag_at + 4 <= size
                    and payload[pos + tag_at : pos + tag_at + 4]
                    in (b"Xing", b"Info")
                ) or (
                    40 <= size
                    and payload[pos + 36 : pos + 40] == b"VBRI"
                ):
                    pos += size  # metadata frame: structure, not audio
                    continue
            samples = 1152 if version == 3 else 576
            frames.append((samples * 1_000_000 // samplerate, size))
            pos += size
        if not frames:
            raise ValueError("no MP3 frames")
        return frames
    except (ValueError, IndexError) as e:
        raise NotImplementedError(f"MP3 payload not demuxable: {e}") from e


#: ADTS sample-rate table (header index 0..12)
_ADTS_RATES = (
    96000, 88200, 64000, 48000, 44100, 32000, 24000,
    22050, 16000, 12000, 11025, 8000, 7350,
)


def _is_adts(payload: bytes) -> bool:
    """ADTS AAC sync after any leading ID3v2 tag: 12 sync bits + layer
    bits 00 (disjoint from MP3, whose Layer III bits are 01)."""
    return _audio_sniff(payload) == "adts"


def _adts_frames(payload: bytes) -> list:
    """ADTS AAC DEMUX (round 13): even simpler than MP3 — each header
    carries an EXPLICIT 13-bit frame length, plus a sample-rate index
    and a raw-block count (1024 samples per block). Returns one
    (duration_us, frame_bytes) per frame; the AAC payload itself stays
    opaque. A leading ID3v2 tag is skipped (round 14 — taggers wrap raw
    .aac streams too, and the sniffer now routes those here). Same
    tolerance and failure contract as _mp3_frames."""
    try:
        pos = _skip_id3(payload)
        frames: list = []
        while pos + 7 <= len(payload):
            if payload[pos] != 0xFF or (payload[pos + 1] & 0xF6) != 0xF0:
                break
            ridx = (payload[pos + 2] >> 2) & 15
            if ridx >= len(_ADTS_RATES):
                raise ValueError(f"bad ADTS sample-rate index {ridx}")
            length = (
                ((payload[pos + 3] & 3) << 11)
                | (payload[pos + 4] << 3)
                | (payload[pos + 5] >> 5)
            )
            if length < 7 or pos + length > len(payload):
                break  # truncated final frame
            nblocks = (payload[pos + 6] & 3) + 1
            frames.append(
                (nblocks * 1024 * 1_000_000 // _ADTS_RATES[ridx], length)
            )
            pos += length
        if not frames:
            raise ValueError("no ADTS frames")
        return frames
    except (ValueError, IndexError) as e:
        raise NotImplementedError(f"ADTS payload not demuxable: {e}") from e


def _is_wav(payload: bytes) -> bool:
    return (
        len(payload) >= 12
        and payload[:4] == b"RIFF"
        and payload[8:12] == b"WAVE"
    )


def _sample_timeline(frames_us: list, every_ms: int) -> list | None:
    """Step an ``every_ms`` grid over a per-frame (duration_us, bytes)
    timeline and return up to 8 (offset_ms, frame_bytes) rows — the
    byte size reported at each step is the frame COVERING that instant.
    Shared by frame_sample's GIF/MP3/ADTS demux branches (microsecond
    arithmetic so sub-ms frame durations — a 26.12 ms MP3 frame —
    don't drift across a long stream). Returns None for an empty/
    zero-duration timeline (nothing to sample; the caller falls through
    to the deterministic fake branch)."""
    total = sum(d for d, _ in frames_us)
    if total <= 0:
        return None
    every_us = max(every_ms, 1) * 1000
    n = max(1, -(-total // every_us))
    out = []
    for k in range(min(n, 8)):
        t = k * every_us
        acc, size = 0, frames_us[-1][1]
        for d, s in frames_us:
            if acc + d > t:
                size = s
                break
            acc += d
        out.append((k * every_ms, size))
    return out


def frame_sample(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Sample frames from media payloads, one typed row per sampled
    offset, via Arrow-batched mapInPandas.

    REAL for PCM WAV payloads (stdlib ``wave`` — no external codecs):
    offsets step through the HEADER-derived duration and
    ``payload_bytes`` is the byte length of that offset's actual
    every_ms PCM slice (frame_rate × channels × sample_width byte math;
    the final slice is the stream remainder, so the sizes sum to the
    data chunk). REAL for MP4 containers too (round 12): parse_mp4
    demuxes the box tree — no codec needed — and each every_ms step
    reports the true byte size of the sample covering that instant per
    the track's stts/stsz tables. REAL for ANIMATED GIFs, MP3 and ADTS
    AAC as well (round 13): _gif_frames/_mp3_frames/_adts_frames walk
    the frame structure without decoding — per-frame durations and
    byte sizes are header arithmetic — and each every_ms step reports
    the frame covering that instant (_sample_timeline; static or
    zero-duration timelines fall through to the fake branch).
    Other payloads keep the deterministic
    size-based fake with the identical output schema; every branch caps
    at 8 samples per item so skewed media can't blow up a batch."""

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in it:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    payload = b""
                if _is_wav(payload):
                    try:
                        # header-only: the slices are pure byte math
                        a = decode_audio(bytes(payload), with_pcm=False)
                    except NotImplementedError:
                        a = None
                else:
                    a = None
                if a is not None:
                    bytes_per_frame = a["n_channels"] * a["sample_width"]
                    # clamp ONCE and use everywhere: every_ms=0 or a
                    # degenerate frame rate would otherwise zero the
                    # slice byte-math while n still clamps to >=1 frame,
                    # emitting rows that claim 0 bytes for a stream with
                    # data (the non-WAV branch guards the same input)
                    frames_per_slice = max(
                        a["frame_rate"] * every_ms // 1000, 1
                    )
                    n = max(1, -(-a["n_frames"] // frames_per_slice))
                    for k in range(min(n, 8)):
                        start = k * frames_per_slice * bytes_per_frame
                        end = min(
                            (k + 1) * frames_per_slice * bytes_per_frame,
                            a["n_frames"] * bytes_per_frame,
                        )
                        rows.append(
                            (int(doc_id), int(k * every_ms), end - start)
                        )
                    continue
                demux = None
                if payload[:6] in (b"GIF87a", b"GIF89a"):
                    # REAL animation sampling: the Graphic-Control delay
                    # timeline (single-frame and zero-duration GIFs ->
                    # fake branch, matching extract_features' >=2-frame
                    # animation criterion)
                    demux = _gif_frames, 1000  # delays are in ms
                elif _is_mp3(payload):
                    demux = _mp3_frames, 1  # durations already in us
                elif _is_adts(payload):
                    demux = _adts_frames, 1
                if demux is not None:
                    fn, scale = demux
                    try:
                        frames = fn(bytes(payload))
                    except NotImplementedError:
                        frames = None
                    if fn is _gif_frames and frames and len(frames) < 2:
                        # extract_features' animation criterion: a
                        # single-frame GIF is an image, not a timeline,
                        # even when its GCE carries a nonzero delay
                        frames = None
                    sampled = (
                        _sample_timeline(
                            [(d * scale, s) for d, s in frames], every_ms
                        )
                        if frames
                        else None
                    )
                    if sampled is not None:
                        for off, size in sampled:
                            rows.append((int(doc_id), int(off), int(size)))
                        continue
                    # undemuxable / zero-duration: fake branch below
                if _is_mp4(payload):
                    try:
                        m = parse_mp4(bytes(payload))
                    except NotImplementedError:
                        m = None
                    if (
                        m is not None
                        and m.get("stts")
                        and m.get("media_timescale")
                        and m.get("sample_count")
                    ):
                        # REAL demux sampling: walk the stts timeline and
                        # report each every_ms step's sample byte size
                        ts = m["media_timescale"]
                        total = sum(c * d for c, d in m["stts"])
                        dur_ms = total * 1000 // max(ts, 1)
                        n = max(1, -(-dur_ms // max(every_ms, 1)))
                        for k in range(min(n, 8)):
                            t = k * max(every_ms, 1) * ts // 1000
                            idx, acc = 0, 0
                            for count, delta in m["stts"]:
                                span = count * delta
                                if acc + span > t:
                                    idx += (t - acc) // max(delta, 1)
                                    break
                                acc += span
                                idx += count
                            idx = min(idx, m["sample_count"] - 1)
                            size = (
                                m["fixed_size"]
                                or m["sample_sizes"][idx]
                            )
                            rows.append(
                                (int(doc_id), int(k * every_ms), int(size))
                            )
                        continue
                n = max(1, len(payload) // max(every_ms, 1))
                for k in range(min(n, 8)):
                    rows.append((int(doc_id), int(k * every_ms), len(payload)))
            yield pd.DataFrame(rows, columns=["doc_id", "offset_ms", "payload_bytes"])

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("offset_ms", LongType()),
            StructField("payload_bytes", LongType()),
        ]
    )
    return df.mapInPandas(batches, schema)
