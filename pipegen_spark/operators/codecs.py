"""Dependency-free media codecs for the multimodal operators.

The container has no PIL/libvips/ffmpeg, but PNG (ISO/IEC 15948) needs
only stdlib `zlib`: chunk framing + per-scanline filters (None/Sub/Up/
Average/Paeth) are ~100 lines of pure Python. This makes the multimodal
decode boundary REAL — `png_decode` parses genuine PNG bytes into pixels,
`png_features`/`png_resize` plug into `multimodal.extract_features` /
`resize_media` as actual codecs — while `fake_decode` remains for
payloads that are not media at all (the synthetic `documents` blobs).

Supported PNG subset (decode): COMPLETE per spec 11.2.2 as of r10 —
every legal depth/color combination: 1/2/4/8/16-bit grayscale (sub-byte
unpacked MSB-first and bit-replicated to 8-bit), 1/2/4/8-bit palette
(expanded to RGB via PLTE), 8/16-bit RGB / gray+alpha / RGBA, both
non-interlaced and Adam7-interlaced; 16-bit down-converts to 8 at the
boundary via the high byte. Spec-ILLEGAL combinations (16-bit palette,
sub-byte RGB) and structural corruption raise `ValueError` loudly.
Encode always writes 8-bit non-interlaced with filter 0.

Supported JPEG subset (decode): ITU-T T.81 BASELINE sequential (SOF0),
EXTENDED sequential at 8-bit (SOF1, r10 — bit-identical decode path to
baseline) and PROGRESSIVE (SOF2) — 8-bit, the full legal sampling-factor
range Hi, Vi in [1, 4] (4:4:4, 4:2:0, 4:2:2, 4:1:1, 4:1:0 and
transposes — r10; chroma upsampled by sample replication), 1 or 3
components, restart intervals, and for SOF2 the
full scan toolbox: interleaved and single-component DC scans,
spectral-selection AC band scans with EOB-run coding, and
successive-approximation refinement (DC raw bits, AC correction bits,
§G.2). Both encoders write 4:4:4 or 4:2:0 (`subsampling="420"`).
Lossless/hierarchical (SOF3+), arithmetic-coded, 12-bit-precision
and 16-bit-DQT streams raise `ValueError` loudly (`jpeg_decode` names the
marker): the same honest-boundary policy. A production deployment swaps the PIL/libvips
callable in at the documented call sites below; the WAV codec accepts
integer PCM at 8/16/24/32 bits AND IEEE-float 32/64 (r10 — the DAW-
export format scraped audio actually contains), normalizing everything
to signed 16-bit at the decode boundary; A-law/mu-law/extensible tags
raise loudly.

Scale notes: these run inside Arrow-batched `mapInPandas` workers —
decoding is map-only, linear in executors, and payload bytes cross the
Arrow boundary once. JPEG pixel work (colour convert, DCT, quantise,
upsample) is numpy over whole stacks of blocks, one path for one image
or a corpus; entropy coding and the other codecs stay pure Python. At
production scale the same call sites take a PIL/libvips-backed callable
(identical signature), which is the documented swap point.
"""

from __future__ import annotations

import hashlib
import math
import struct
import zlib

import numpy as _np

PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"

_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # color type -> samples per pixel


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def png_encode(
    width: int, height: int, pixels: bytes, channels: int = 3
) -> bytes:
    """Minimal PNG writer: 8-bit, non-interlaced, filter 0 on every
    scanline. `pixels` is row-major packed samples
    (len == width*height*channels); channels 1=gray, 3=RGB, 4=RGBA."""
    color_type = {1: 0, 3: 2, 4: 6}.get(channels)
    if color_type is None:
        raise ValueError(f"unsupported channel count {channels}")
    if len(pixels) != width * height * channels:
        raise ValueError(
            f"pixel buffer is {len(pixels)} bytes, expected "
            f"{width * height * channels}"
        )
    stride = width * channels
    raw = b"".join(
        b"\x00" + pixels[y * stride : (y + 1) * stride]
        for y in range(height)
    )
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (
        PNG_SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw, 6))
        + _chunk(b"IEND", b"")
    )


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


#: Adam7 pass grid (spec §8.2): (x0, y0, dx, dy) per pass.
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _unfilter(raw: bytes, off: int, stride: int, height: int, bpp: int
              ) -> bytearray:
    """Five-filter scanline reconstruction (spec §9) over `height` rows
    of `stride` bytes starting at `raw[off]` (each row prefixed by its
    filter byte). Returns the reconstructed rows, concatenated."""
    out = bytearray(height * stride)
    prev = bytearray(stride)
    for y in range(height):
        base = off + y * (stride + 1)
        ftype = raw[base]
        line = bytearray(raw[base + 1 : base + 1 + stride])
        if ftype == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                left = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                left = line[i - bpp] if i >= bpp else 0
                upleft = prev[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + _paeth(left, prev[i], upleft)) & 0xFF
        elif ftype != 0:
            raise ValueError(f"unknown filter type {ftype}")
        out[y * stride : (y + 1) * stride] = line
        prev = line
    return out


def png_decode(data: bytes) -> tuple[int, int, int, bytes]:
    """Parse PNG bytes -> (width, height, channels, raw pixels).

    Implements the full five-filter reconstruction (spec §9): each
    scanline carries a filter byte; Sub/Up/Average/Paeth reconstruct from
    the left/up/up-left neighbors at `bpp` (bytes per pixel) offset.
    Adam7-interlaced streams (r10) reconstruct each of the seven passes
    as its own filtered sub-image and scatter into the output grid
    (spec §8.2); 16-bit-depth streams (r10) unfilter at 2 bytes/sample
    and down-convert to 8-bit at the decode boundary by taking each
    sample's high byte (the standard 16->8 conversion; callers always
    receive 8-bit samples)."""
    if data[: len(PNG_SIGNATURE)] != PNG_SIGNATURE:
        raise ValueError("not a PNG: bad signature")
    pos = len(PNG_SIGNATURE)
    width = height = channels = color_type = None
    depth, interlace = 8, 0
    palette = None
    idat = bytearray()
    while pos + 8 <= len(data):
        (length,) = struct.unpack_from(">I", data, pos)
        if pos + 12 + length > len(data):
            raise ValueError("truncated chunk")
        tag = data[pos + 4 : pos + 8]
        body = data[pos + 8 : pos + 8 + length]
        (crc,) = struct.unpack_from(">I", data, pos + 8 + length)
        if zlib.crc32(tag + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad CRC in {tag!r} chunk")
        pos += 12 + length
        if tag == b"IHDR":
            width, height, depth, color_type, comp, filt, interlace = (
                struct.unpack(">IIBBBBB", body)
            )
            if color_type not in (0, 2, 3, 4, 6):
                raise ValueError(f"unsupported color type {color_type}")
            # Spec-legal depth/color combinations (11.2.2): gray takes
            # 1/2/4/8/16, palette 1/2/4/8, the multi-channel types 8/16.
            legal = {
                0: (1, 2, 4, 8, 16),
                3: (1, 2, 4, 8),
                2: (8, 16),
                4: (8, 16),
                6: (8, 16),
            }
            if depth not in legal[color_type]:
                raise ValueError(f"unsupported bit depth {depth}")
            if interlace not in (0, 1):
                raise ValueError(f"unknown interlace method {interlace}")
            if comp != 0 or filt != 0:
                raise ValueError("nonstandard compression/filter method")
            # Palette images carry 1 index byte/pixel through the filter
            # pass; expanded to RGB after reconstruction.
            channels = 1 if color_type == 3 else _CHANNELS[color_type]
        elif tag == b"PLTE":
            if length == 0 or length % 3 != 0:
                raise ValueError(f"PLTE length {length} not a multiple of 3")
            palette = body
        elif tag == b"IDAT":
            if channels is None:
                raise ValueError("IDAT before IHDR")
            idat += body
        elif tag == b"IEND":
            break
    if width is None:
        raise ValueError("no IHDR chunk")
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as e:
        # Keep the decode contract total: invalid input is ValueError,
        # whatever layer catches it (a CRC-valid but zlib-corrupt IDAT
        # can only come from a buggy encoder, but it should still fail
        # as "invalid PNG", not leak zlib internals).
        raise ValueError(f"corrupt IDAT stream: {e}") from e
    if depth < 8:
        # Sub-byte depths (r10: 1/2/4-bit gray and palette — favicon/
        # icon territory in scraped corpora): the filter pass operates
        # on the PACKED scanline bytes at bpp=1 (spec 9.2: filters see
        # bytes; for depth < 8 the "prior pixel" is the prior byte),
        # then each row unpacks MSB-first into one sample per pixel.
        # Gray samples scale to 8-bit by bit replication (the exact
        # factor 255/(2^d - 1): 1-bit x255, 2-bit x85, 4-bit x17);
        # palette indices stay indices for the PLTE expansion below.
        def rows_sub_byte(src_rows, pw: int, rb: int):
            mask = (1 << depth) - 1
            per_byte = 8 // depth
            for j in range(len(src_rows) // rb):
                row = src_rows[j * rb : (j + 1) * rb]
                samples = []
                for i in range(pw):
                    b = row[i // per_byte]
                    shift = 8 - depth * (i % per_byte + 1)
                    samples.append((b >> shift) & mask)
                yield j, samples

        scale = 255 // ((1 << depth) - 1) if color_type == 0 else 1
        out = bytearray(width * height)
        if interlace == 0:
            rb = (width * depth + 7) // 8
            if len(raw) != height * (rb + 1):
                raise ValueError("IDAT length does not match geometry")
            rows = _unfilter(raw, 0, rb, height, 1)
            for j, samples in rows_sub_byte(rows, width, rb):
                base = j * width
                for i, v in enumerate(samples):
                    out[base + i] = v * scale
        else:
            off = 0
            for x0, y0, dx, dy in _ADAM7:
                pw = (width - x0 + dx - 1) // dx
                ph = (height - y0 + dy - 1) // dy
                if pw <= 0 or ph <= 0:
                    continue
                rb = (pw * depth + 7) // 8
                need = ph * (rb + 1)
                if off + need > len(raw):
                    raise ValueError(
                        "IDAT length does not match geometry"
                    )
                sub = _unfilter(raw, off, rb, ph, 1)
                off += need
                for j, samples in rows_sub_byte(sub, pw, rb):
                    row = (y0 + j * dy) * width
                    for i, v in enumerate(samples):
                        out[row + (x0 + i * dx)] = v * scale
            if off != len(raw):
                raise ValueError("IDAT length does not match geometry")
        bps = 1
    else:
        bps = 2 if depth == 16 else 1  # bytes per sample
        bpp = channels * bps
        stride = width * bpp
        if interlace == 0:
            if len(raw) != height * (stride + 1):
                raise ValueError("IDAT length does not match geometry")
            out = _unfilter(raw, 0, stride, height, bpp)
        else:
            # Adam7: seven independently-filtered sub-images, scattered
            # into the full grid at (x0 + i*dx, y0 + j*dy). Empty
            # passes (sub-image with zero width or height) contribute
            # no bytes.
            out = bytearray(height * stride)
            off = 0
            for x0, y0, dx, dy in _ADAM7:
                pw = (width - x0 + dx - 1) // dx
                ph = (height - y0 + dy - 1) // dy
                if pw <= 0 or ph <= 0:
                    continue
                pstride = pw * bpp
                need = ph * (pstride + 1)
                if off + need > len(raw):
                    raise ValueError(
                        "IDAT length does not match geometry"
                    )
                sub = _unfilter(raw, off, pstride, ph, bpp)
                off += need
                for j in range(ph):
                    row = (y0 + j * dy) * stride
                    for i in range(pw):
                        dst = row + (x0 + i * dx) * bpp
                        src = j * pstride + i * bpp
                        out[dst : dst + bpp] = sub[src : src + bpp]
            if off != len(raw):
                raise ValueError("IDAT length does not match geometry")
    if bps == 2:
        # 16 -> 8 bit at the decode boundary: high byte of each
        # big-endian sample (PIL's I;16 -> L convention).
        out = out[0::2]
    if color_type == 3:
        # Expand palette indices to RGB so callers always get real
        # samples (spec §11.2.3: PLTE is required for color type 3).
        if palette is None:
            raise ValueError("palette PNG without PLTE chunk")
        n_entries = len(palette) // 3
        if max(out, default=0) >= n_entries:
            raise ValueError("palette index out of range")
        rgb = bytearray(len(out) * 3)
        for i, idx in enumerate(out):
            rgb[i * 3 : i * 3 + 3] = palette[idx * 3 : idx * 3 + 3]
        return width, height, 3, bytes(rgb)
    return width, height, channels, bytes(out)


def png_features(payload: bytes) -> dict:
    """Real-decoder drop-in for `multimodal.extract_features`: decodes
    the PNG and derives the 8 features from the PIXELS (an 8-bin
    luminance-ish histogram of all decoded samples) rather than the
    payload digest — same output schema as `fake_decode`, different
    provenance. Deterministic: histogram of exact bytes."""
    if payload is None:
        payload = b""
    _, _, _, pixels = png_decode(payload)
    feats = [0] * 8
    for b in pixels:
        feats[b >> 5] += 1
    return {
        "n_bytes": len(payload),
        "content_sha": hashlib.sha256(payload).hexdigest(),
        "feat_dim": 8,
        "feat_norm": sum(f * f for f in feats),
    }


def png_resize(payload: bytes, width: int, height: int) -> bytes:
    """Real-resampler drop-in for `multimodal.resize_media`:
    nearest-neighbor resample (deterministic integer source mapping:
    src = dst * src_dim // dst_dim) and re-encode."""
    w0, h0, ch, px = png_decode(payload)
    out = bytearray(width * height * ch)
    for y in range(height):
        sy = y * h0 // height
        for x in range(width):
            sx = x * w0 // width
            src = (sy * w0 + sx) * ch
            dst = (y * width + x) * ch
            out[dst : dst + ch] = px[src : src + ch]
    return png_encode(width, height, bytes(out), ch)


def wav_encode(
    samples: list[int], sample_rate: int = 16_000, channels: int = 1
) -> bytes:
    """Minimal RIFF/WAVE writer: 16-bit PCM via stdlib `wave`."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(
            b"".join(struct.pack("<h", s) for s in samples)
        )
    return buf.getvalue()


def _sample_features(payload: bytes, samples: list[int]) -> dict:
    """Shared audio feature surface: an 8-bin histogram over amplitude
    magnitude octaves (|s| bucketed by bit length / 2) — same output
    schema as `fake_decode`/`png_features`, regardless of container."""
    feats = [0] * 8
    for s in samples:
        feats[min(abs(s).bit_length() >> 1, 7)] += 1
    return {
        "n_bytes": len(payload),
        "content_sha": hashlib.sha256(payload).hexdigest(),
        "feat_dim": 8,
        "feat_norm": sum(f * f for f in feats),
    }


def wav_features(payload: bytes) -> dict:
    """Real-decoder drop-in for audio payloads: decodes a RIFF/WAVE
    payload and derives the 8 features from the SAMPLES. Accepts the
    widened r10/r11 subset (see `wav_samples`); anything else raises
    (explicit boundary, like the PNG subset)."""
    if payload is None:
        payload = b""
    return _sample_features(payload, wav_samples(payload))


def aiff_features(payload: bytes) -> dict:
    """`wav_features` for the AIFF/AIFF-C container (r11)."""
    if payload is None:
        payload = b""
    return _sample_features(payload, aiff_samples(payload))


def au_features(payload: bytes) -> dict:
    """`wav_features` for the Sun/NeXT .au container (r11)."""
    if payload is None:
        payload = b""
    return _sample_features(payload, au_samples(payload))


# G.711 companded telephony formats (WAV format tags 6 = A-law,
# 7 = mu-law) — the encoding real scraped call-center/VoIP audio
# arrives in. Expansion tables precomputed from the published G.711
# segment formulas (the classic CCITT reference expansion; pinned in
# tests against the published table values: mu-law 0x00 -> -32124,
# 0xFF -> 0, A-law 0x55 -> -8, 0xD5 -> +8).


def _ulaw_expand(u: int) -> int:
    u = ~u & 0xFF
    t = ((u & 0x0F) << 3) + 0x84
    t <<= (u & 0x70) >> 4
    return (0x84 - t) if (u & 0x80) else (t - 0x84)


def _alaw_expand(a: int) -> int:
    a ^= 0x55
    t = (a & 0x0F) << 4
    seg = (a & 0x70) >> 4
    if seg == 0:
        t += 8
    elif seg == 1:
        t += 0x108
    else:
        t = (t + 0x108) << (seg - 1)
    return t if (a & 0x80) else -t


_ULAW_TABLE = [_ulaw_expand(i) for i in range(256)]
_ALAW_TABLE = [_alaw_expand(i) for i in range(256)]


def wav_samples(payload: bytes) -> list[int]:
    """Decoded samples of a RIFF/WAVE payload as signed 16-bit ints
    (all channels interleaved) — the raw-sample entry every audio
    operator (windowed energy, VAD, resample, fingerprint) consumes.

    r10 widened subset (was: stdlib `wave`, 16-bit PCM only — but
    real scraped audio is full of float WAVs from DAW exports and
    8/24/32-bit PCM): a from-scratch RIFF walk now accepts
    - format 1 (PCM) at 8/16/24/32 bits — 16-bit passes through
      bit-identical to the old path; 8-bit unsigned maps via
      (s - 128) << 8; 24/32-bit keep their top 16 bits (arithmetic
      shift of the signed value — the standard width-reduction);
    - format 3 (IEEE float) at 32/64 bits — clamped to [-1, 1] and
      quantized s16 = round-half-even(x * 32767); NaN maps to 0
      (deterministic: every conversion is the same exact float op
      sequence everywhere);
    - r11: formats 6 (A-law) and 7 (mu-law) at 8 bits — G.711
      companded telephony audio, expanded through the published
      segment tables (13/14-bit magnitudes in s16 range).
    Unknown format tags (ADPCM, extensible), inconsistent bit widths,
    and malformed/truncated chunk structure raise ValueError loudly
    (tests/test_codecs_fuzz.py pins the contract)."""
    if payload is None:
        payload = b""
    fmt, bits, data = _wav_parse(payload)
    if fmt == 6:
        return [_ALAW_TABLE[b] for b in data]
    if fmt == 7:
        return [_ULAW_TABLE[b] for b in data]
    if fmt == 1:  # integer PCM
        if bits == 16:
            n = len(data) // 2
            return [
                s for (s,) in struct.iter_unpack("<h", data[: n * 2])
            ]
        if bits == 8:
            return [(b - 128) << 8 for b in data]
        if bits == 24:
            n = len(data) // 3
            out = []
            for i in range(n):
                v = int.from_bytes(
                    data[i * 3 : i * 3 + 3], "little", signed=True
                )
                out.append(v >> 8)
            return out
        if bits == 32:
            n = len(data) // 4
            return [
                s >> 16
                for (s,) in struct.iter_unpack("<i", data[: n * 4])
            ]
        raise ValueError(f"unsupported PCM bit depth {bits}")
    # fmt == 3: IEEE float (validated by _wav_parse)
    code = "<f" if bits == 32 else "<d"
    width = bits // 8
    n = len(data) // width
    out = []
    for (x,) in struct.iter_unpack(code, data[: n * width]):
        if x != x:  # NaN
            out.append(0)
            continue
        x = -1.0 if x < -1.0 else (1.0 if x > 1.0 else x)
        out.append(int(round(x * 32767.0)))
    return out


def _pcm_convert_be(data: bytes, bits: int) -> list[int]:
    """Big-endian integer PCM -> s16 list, same width reductions as the
    WAV path (top 16 bits kept; 8-bit shifts up). AIFF/.au 8-bit PCM is
    always SIGNED (unlike WAV's unsigned 8-bit, which lives in
    wav_samples) — both call sites, so no unsigned branch here (r11
    ADVICE #5 removed the dead parameter)."""
    if bits == 16:
        n = len(data) // 2
        return [s for (s,) in struct.iter_unpack(">h", data[: n * 2])]
    if bits == 8:
        return [s << 8 for (s,) in struct.iter_unpack(">b", data)]
    if bits == 24:
        n = len(data) // 3
        return [
            int.from_bytes(data[i * 3 : i * 3 + 3], "big", signed=True)
            >> 8
            for i in range(n)
        ]
    if bits == 32:
        n = len(data) // 4
        return [
            s >> 16 for (s,) in struct.iter_unpack(">i", data[: n * 4])
        ]
    raise ValueError(f"unsupported PCM bit depth {bits}")


def _float_convert(data: bytes, code: str) -> list[int]:
    """IEEE float -> s16, identical op sequence to the WAV float path
    (clamp to [-1, 1], round-half-even * 32767, NaN -> 0)."""
    width = struct.calcsize(code)
    n = len(data) // width
    out = []
    for (x,) in struct.iter_unpack(code, data[: n * width]):
        if x != x:
            out.append(0)
            continue
        x = -1.0 if x < -1.0 else (1.0 if x > 1.0 else x)
        out.append(int(round(x * 32767.0)))
    return out


def aiff_samples(payload: bytes) -> list[int]:
    """Decoded samples of an AIFF / AIFF-C payload as signed 16-bit
    ints (interleaved) — the second classic scraped-audio container
    (r11; big-endian IFF chunks, per the published AIFF-1.3/AIFF-C
    specs). Subset: uncompressed PCM 8/16/24/32 (AIFF, or AIFF-C type
    'NONE'), 'sowt' (byte-swapped LE 16-bit, the classic Mac variant),
    and G.711 'ulaw'/'alaw' AIFF-C. Other compression types (ima4,
    fl32...) raise by name; malformed chunk structure raises."""
    if payload is None:
        payload = b""
    if (
        len(payload) < 12
        or payload[:4] != b"FORM"
        or payload[8:12] not in (b"AIFF", b"AIFC")
    ):
        raise ValueError("malformed AIFF: not a FORM/AIFF stream")
    is_aifc = payload[8:12] == b"AIFC"
    pos = 12
    bits = None
    comp = b"NONE"
    data = None
    while pos + 8 <= len(payload):
        tag = payload[pos : pos + 4]
        (size,) = struct.unpack_from(">I", payload, pos + 4)
        body_at = pos + 8
        if size > len(payload) - body_at:
            raise ValueError(f"malformed AIFF: truncated {tag!r} chunk")
        if tag == b"COMM":
            if size < 18 or (is_aifc and size < 22):
                raise ValueError("malformed AIFF: short COMM chunk")
            _nch, _nframes, bits = struct.unpack_from(
                ">hIh", payload, body_at
            )
            # 10-byte 80-bit extended sample rate follows; then (AIFC
            # only) the 4-byte compression type.
            if is_aifc:
                comp = payload[body_at + 18 : body_at + 22]
        elif tag == b"SSND" and data is None:
            if size < 8:
                raise ValueError("malformed AIFF: short SSND chunk")
            (offset,) = struct.unpack_from(">I", payload, body_at)
            if offset > size - 8:
                raise ValueError("malformed AIFF: SSND offset past chunk")
            data = payload[body_at + 8 + offset : body_at + size]
        pos = body_at + size + (size & 1)
    if bits is None:
        raise ValueError("malformed AIFF: no COMM chunk")
    if data is None:
        raise ValueError("malformed AIFF: no SSND chunk")
    if comp == b"NONE":
        return _pcm_convert_be(data, bits)
    if comp == b"sowt":
        if bits != 16:
            raise ValueError(f"unsupported sowt bit depth {bits}")
        n = len(data) // 2
        return [s for (s,) in struct.iter_unpack("<h", data[: n * 2])]
    if comp == b"ulaw":
        return [_ULAW_TABLE[b] for b in data]
    if comp == b"alaw":
        return [_ALAW_TABLE[b] for b in data]
    raise ValueError(
        f"unsupported AIFF-C compression type {comp!r}"
    )


def au_samples(payload: bytes) -> list[int]:
    """Decoded samples of a Sun/NeXT .au payload as signed 16-bit ints
    (r11; the third classic audio container — all-big-endian header
    per the published .snd spec). Encodings: 1 mu-law, 2/3/4/5 signed
    PCM 8/16/24/32, 6/7 IEEE float 32/64, 27 A-law; anything else
    raises by name."""
    if payload is None:
        payload = b""
    if len(payload) < 24 or payload[:4] != b".snd":
        raise ValueError("malformed AU: missing .snd magic")
    hdr, size, enc, _rate, _nch = struct.unpack_from(">IIIII", payload, 4)
    if hdr < 24 or hdr > len(payload):
        raise ValueError(f"malformed AU: bad header offset {hdr}")
    end = len(payload) if size == 0xFFFFFFFF else min(
        hdr + size, len(payload)
    )
    data = payload[hdr:end]
    if enc == 1:
        return [_ULAW_TABLE[b] for b in data]
    if enc == 27:
        return [_ALAW_TABLE[b] for b in data]
    if enc in (2, 3, 4, 5):
        return _pcm_convert_be(data, 8 * (enc - 1))
    if enc == 6:
        return _float_convert(data, ">f")
    if enc == 7:
        return _float_convert(data, ">d")
    raise ValueError(f"unsupported AU encoding {enc}")


def _wav_parse(payload: bytes) -> tuple[int, int, bytes]:
    """From-scratch RIFF/WAVE chunk walk -> (format_tag, bits_per_
    sample, data bytes). Bounds-checked throughout; skips unknown
    chunks with the spec's even-byte padding; ValueError on anything
    malformed (truncated header, data chunk longer than the payload,
    fmt/data missing, format/width combinations outside the subset)."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("malformed WAV: not a RIFF/WAVE stream")
    pos = 12
    fmt = bits = None
    data = None
    while pos + 8 <= len(payload):
        tag = payload[pos : pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        body_at = pos + 8
        if size > len(payload) - body_at:
            raise ValueError(f"malformed WAV: truncated {tag!r} chunk")
        if tag == b"fmt ":
            if size < 16:
                raise ValueError("malformed WAV: short fmt chunk")
            fmt, _nch, _rate = struct.unpack_from(
                "<HHI", payload, body_at
            )
            (bits,) = struct.unpack_from("<H", payload, body_at + 14)
            if fmt == 1:
                if bits not in (8, 16, 24, 32):
                    raise ValueError(
                        f"unsupported PCM bit depth {bits}"
                    )
            elif fmt == 3:
                if bits not in (32, 64):
                    raise ValueError(
                        f"unsupported float bit depth {bits}"
                    )
            elif fmt in (6, 7):  # G.711 A-law / mu-law
                if bits != 8:
                    raise ValueError(
                        f"unsupported G.711 bit depth {bits}"
                    )
            else:
                raise ValueError(
                    f"unsupported WAV format tag {fmt}"
                    " (PCM, IEEE-float and G.711 only)"
                )
        elif tag == b"data" and data is None:
            data = payload[body_at : body_at + size]
        pos = body_at + size + (size & 1)  # even-byte chunk padding
    if fmt is None:
        raise ValueError("malformed WAV: no fmt chunk")
    if data is None:
        raise ValueError("malformed WAV: no data chunk")
    return fmt, bits, data


# --- GIF (GIF87a/GIF89a, from the published specification) -------------------
#
# Round-11: the third of the web's big-three image formats (PNG, JPEG,
# GIF — scraped HTML corpora are full of all three). From-scratch
# implementation of the GIF89a spec: logical screen descriptor, global
# and local color tables, sub-block framing, the GIF variant of LZW
# (variable code width 3..12 bits, clear/end codes, 4096-entry
# dictionary), and the 4-pass row interlace. Decode-only (like G.711):
# `gif_decode` composites the FIRST image descriptor onto the logical
# screen (background-filled) and returns RGB; animation frames beyond
# the first are counted, not rendered (frame sampling at the video
# layer uses AVI/MJPEG — a production deployment swaps PIL/ffmpeg in
# at the same call site). Transparency renders the palette color (the
# single-frame flatten). Malformed streams raise ValueError loudly,
# same hostile-bytes contract as the other codecs.

GIF_MAGICS = (b"GIF87a", b"GIF89a")


def _gif_lzw_decode(min_code_size: int, data: bytes, max_pixels: int
                    ) -> bytearray:
    """The GIF flavor of LZW: codes start at min_code_size+1 bits,
    clear = 2^min, end = clear+1; dictionary caps at 4096 entries; the
    code width bumps when the NEXT code would not fit. Output is
    clamped at max_pixels (a decoder must not let a hostile stream
    inflate beyond the declared image size)."""
    if not 2 <= min_code_size <= 11:
        raise ValueError(f"bad LZW min code size {min_code_size}")
    clear = 1 << min_code_size
    end = clear + 1
    out = bytearray()

    # bit reader over the concatenated sub-block data, LSB first
    pos = 0
    acc = 0
    nbits = 0

    def read_code(width: int) -> int:
        nonlocal pos, acc, nbits
        while nbits < width:
            if pos >= len(data):
                return end  # truncated stream: treat as end of image
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        return code

    def reset() -> tuple[list[bytes | None], int]:
        table: list[bytes | None] = [
            bytes([i]) for i in range(clear)
        ] + [None, None]
        return table, min_code_size + 1

    table, width = reset()
    prev: bytes | None = None
    while True:
        code = read_code(width)
        if code == clear:
            table, width = reset()
            prev = None
            continue
        if code == end:
            break
        if code < len(table) and table[code] is not None:
            entry = table[code]
        elif code == len(table) and prev is not None:
            entry = prev + prev[:1]  # the KwKwK case
        else:
            raise ValueError(f"bad LZW code {code}")
        out += entry
        if len(out) >= max_pixels:
            break
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry
    return out


def _gif_lzw_encode(indices, min_code_size: int) -> bytes:
    """GIF LZW compressor (encoder mirror of `_gif_lzw_decode`):
    dictionary-based with width bumps and clear-on-full, per the spec's
    Appendix F. Emits an initial clear code as real encoders do."""
    clear = 1 << min_code_size
    end = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = end + 1
    width = min_code_size + 1
    emit(clear, width)
    run = b""
    for px in indices:
        if px >= clear:
            raise ValueError(
                f"palette index {px} needs more than {min_code_size} bits"
            )
        cand = run + bytes([px])
        if cand in table:
            run = cand
            continue
        emit(table[run], width)
        if next_code < 4096:
            table[cand] = next_code
            if next_code == (1 << width) and width < 12:
                width += 1
            next_code += 1
        else:
            emit(clear, width)
            table = {bytes([i]): i for i in range(clear)}
            next_code = end + 1
            width = min_code_size + 1
        run = bytes([px])
    if run:
        emit(table[run], width)
    emit(end, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def gif_encode(
    width: int, height: int, palette: bytes, indices: bytes | list[int]
) -> bytes:
    """Minimal spec-conformant GIF89a writer: global color table (padded
    to the next power of two), one non-interlaced full-screen frame,
    real LZW compression. Counterpart of `gif_decode` — any standard
    viewer reads the output; compression ratio is not the point,
    byte-real codec plumbing is (same policy as `jpeg_encode`)."""
    if len(palette) % 3 or not 3 <= len(palette) <= 768:
        raise ValueError(f"bad palette size {len(palette)}")
    n = len(palette) // 3
    if len(indices) != width * height:
        raise ValueError(
            f"need {width * height} indices, got {len(indices)}"
        )
    size_field = 0
    while (2 << size_field) < n:
        size_field += 1
    gct = palette + b"\x00" * (3 * ((2 << size_field) - n))
    min_code = max(2, size_field + 1)
    out = bytearray()
    out += b"GIF89a"
    out += struct.pack("<HHBBB", width, height, 0x80 | size_field, 0, 0)
    out += gct
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, width, height, 0)
    out.append(min_code)
    lzw = _gif_lzw_encode(bytes(indices), min_code)
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    return bytes(out)


def gif_encode_animated(
    width: int,
    height: int,
    palette: bytes,
    frames: list[bytes | list[int]],
    *,
    rects: list[tuple[int, int, int, int]] | None = None,
    transparent_idx: int | None = None,
    disposals: list[int] | None = None,
    delay_cs: int = 4,
) -> bytes:
    """Animated GIF89a writer (round-12): one Graphic Control Extension
    per frame (disposal method, delay, optional transparent index),
    per-frame sub-rect placement via `rects` (default full screen),
    shared global color table, real LZW per frame. Counterpart of
    `gif_frames`; the decoder is additionally validated against the
    independent test-side encoder (tests/test_codecs.py pattern)."""
    if len(palette) % 3 or not 3 <= len(palette) <= 768:
        raise ValueError(f"bad palette size {len(palette)}")
    if not frames:
        raise ValueError("need at least one frame")
    n = len(palette) // 3
    size_field = 0
    while (2 << size_field) < n:
        size_field += 1
    gct = palette + b"\x00" * (3 * ((2 << size_field) - n))
    min_code = max(2, size_field + 1)
    out = bytearray()
    out += b"GIF89a"
    out += struct.pack("<HHBBB", width, height, 0x80 | size_field, 0, 0)
    out += gct
    for f, indices in enumerate(frames):
        left, top, iw, ih = (
            rects[f] if rects is not None else (0, 0, width, height)
        )
        if len(indices) != iw * ih:
            raise ValueError(
                f"frame {f}: need {iw * ih} indices, got {len(indices)}"
            )
        disposal = disposals[f] if disposals is not None else 1
        gflags = (disposal & 0x07) << 2
        tidx = 0
        if transparent_idx is not None:
            gflags |= 0x01
            tidx = transparent_idx
        out += b"\x21\xf9\x04" + bytes(
            [gflags, delay_cs & 0xFF, (delay_cs >> 8) & 0xFF, tidx]
        ) + b"\x00"
        out += b"\x2c" + struct.pack("<HHHHB", left, top, iw, ih, 0)
        out.append(min_code)
        lzw = _gif_lzw_encode(bytes(indices), min_code)
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            out.append(len(chunk))
            out += chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


def gif_decode(data: bytes) -> tuple[int, int, int, bytes]:
    """-> (width, height, 3, rgb bytes) — the first frame composited
    onto the background-filled logical screen. See the section comment
    for the subset; `gif_info` exposes the frame count."""
    w, h, frames, pixels = _gif_walk(data, render=True)
    return w, h, 3, bytes(pixels)


def gif_info(data: bytes) -> tuple[int, int, int]:
    """-> (width, height, n_frames) without rendering (cheap animation
    probe: LZW data is skipped block-wise, not decoded)."""
    w, h, frames, _ = _gif_walk(data, render=False)
    return w, h, frames


def gif_frames(
    data: bytes, max_frames: int = 256
) -> tuple[int, int, list[bytes]]:
    """-> (width, height, [rgb bytes per frame]) — the ANIMATION
    surface (round-12): every frame composited per the GIF89a spec's
    Graphic Control Extension semantics — transparent-index pixels
    leave the canvas untouched, disposal 0/1 keeps the frame, 2
    restores the frame's rect to the background color, 3 restores the
    pre-frame canvas — with per-frame local color tables, sub-rect
    placement, and interlacing, exactly as `gif_decode` handles frame
    1. `max_frames` bounds total pixels (bomb guard, loud).

    Note `gif_decode` keeps its historical first-frame surface (GCE
    ignored, transparent index painted opaque) — the real-fixture
    digests and the gated gif query pin that behavior; animation
    consumers (frame sampling, scene cuts) use this API."""
    w, h, _, frames = _gif_walk(
        data, render=True, all_frames=True, max_frames=max_frames
    )
    return w, h, frames


def _gif_walk(
    data: bytes,
    render: bool,
    all_frames: bool = False,
    max_frames: int = 256,
):
    if len(data) < 13 or data[:6] not in GIF_MAGICS:
        raise ValueError("malformed GIF: bad signature")
    w = int.from_bytes(data[6:8], "little")
    h = int.from_bytes(data[8:10], "little")
    if w == 0 or h == 0 or w * h > 64_000_000:
        raise ValueError(f"implausible GIF geometry {w}x{h}")
    flags, bg = data[10], data[11]
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        if pos + 3 * n > len(data):
            raise ValueError("malformed GIF: truncated global color table")
        gct = data[pos : pos + 3 * n]
        pos += 3 * n

    def skip_subblocks(p: int) -> tuple[int, bytes]:
        chunks = []
        while True:
            if p >= len(data):
                raise ValueError("malformed GIF: unterminated sub-blocks")
            n = data[p]
            p += 1
            if n == 0:
                return p, b"".join(chunks)
            if p + n > len(data):
                raise ValueError("malformed GIF: truncated sub-block")
            chunks.append(data[p : p + n])
            p += n

    canvas = None
    if render:
        if gct is not None and 3 * bg + 3 <= len(gct):
            bgc = gct[3 * bg : 3 * bg + 3]
        else:
            bgc = b"\x00\x00\x00"
        canvas = bytearray(bgc * (w * h))

    frames = 0
    frames_out: list[bytes] = []
    gce: bytes | None = None
    while pos < len(data):
        block = data[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label + sub-blocks
            if pos >= len(data):
                raise ValueError("malformed GIF: truncated extension")
            label = data[pos]
            pos, body = skip_subblocks(pos + 1)
            if label == 0xF9:  # Graphic Control Extension
                if len(body) < 4:
                    raise ValueError(
                        "malformed GIF: short graphic control extension"
                    )
                gce = body
            continue
        if block != 0x2C:
            raise ValueError(f"malformed GIF: unknown block 0x{block:02x}")
        # image descriptor
        if pos + 9 > len(data):
            raise ValueError("malformed GIF: truncated image descriptor")
        left = int.from_bytes(data[pos : pos + 2], "little")
        top = int.from_bytes(data[pos + 2 : pos + 4], "little")
        iw = int.from_bytes(data[pos + 4 : pos + 6], "little")
        ih = int.from_bytes(data[pos + 6 : pos + 8], "little")
        iflags = data[pos + 8]
        pos += 9
        lct = None
        if iflags & 0x80:
            n = 2 << (iflags & 0x07)
            if pos + 3 * n > len(data):
                raise ValueError(
                    "malformed GIF: truncated local color table"
                )
            lct = data[pos : pos + 3 * n]
            pos += 3 * n
        if pos >= len(data):
            raise ValueError("malformed GIF: missing LZW code size")
        min_code = data[pos]
        pos += 1
        pos, lzw = skip_subblocks(pos)
        frames += 1
        if all_frames and frames > max_frames:
            raise ValueError(
                f"GIF exceeds max_frames={max_frames} (bomb guard)"
            )
        if render and (all_frames or frames == 1):
            if iw == 0 or ih == 0 or left + iw > w or top + ih > h:
                raise ValueError(
                    f"malformed GIF: frame {iw}x{ih}@{left},{top} "
                    f"outside {w}x{h} screen"
                )
            pal = lct if lct is not None else gct
            if pal is None:
                raise ValueError("malformed GIF: no color table")
            idx = _gif_lzw_decode(min_code, lzw, iw * ih)
            if len(idx) < iw * ih:
                raise ValueError(
                    f"malformed GIF: LZW stream yields {len(idx)} of "
                    f"{iw * ih} pixels"
                )
            # GCE semantics apply only on the animation surface —
            # gif_decode's historical first-frame rendering (pinned by
            # the real-media digests) ignores them.
            transparent = None
            disposal = 0
            if all_frames and gce is not None:
                disposal = (gce[0] >> 2) & 0x07
                if disposal > 3:
                    raise ValueError(
                        f"malformed GIF: reserved disposal {disposal}"
                    )
                if gce[0] & 0x01:
                    transparent = gce[3]
            saved = bytes(canvas) if disposal == 3 else None
            # row order: straight, or the spec's 4-pass interlace
            if iflags & 0x40:
                order = (
                    list(range(0, ih, 8))
                    + list(range(4, ih, 8))
                    + list(range(2, ih, 4))
                    + list(range(1, ih, 2))
                )
            else:
                order = list(range(ih))
            npal = len(pal) // 3
            for src_row, dst_row in enumerate(order):
                base = src_row * iw
                cbase = ((top + dst_row) * w + left) * 3
                for x in range(iw):
                    ci = idx[base + x]
                    if ci >= npal:
                        raise ValueError(
                            f"malformed GIF: palette index {ci} >= {npal}"
                        )
                    if ci == transparent:
                        continue
                    canvas[cbase + 3 * x : cbase + 3 * x + 3] = pal[
                        3 * ci : 3 * ci + 3
                    ]
            if all_frames:
                frames_out.append(bytes(canvas))
                if disposal == 2:  # restore rect to background color
                    row = bgc * iw
                    for y in range(ih):
                        cb = ((top + y) * w + left) * 3
                        canvas[cb : cb + 3 * iw] = row
                elif disposal == 3:  # restore to previous canvas
                    canvas[:] = saved
        gce = None
    if frames == 0:
        raise ValueError("malformed GIF: no image data")
    return w, h, frames, frames_out if all_frames else canvas


def gif_features(payload: bytes) -> dict:
    """`png_features` for GIF payloads: 8-bin histogram over the
    decoded first-frame RGB bytes, same output schema."""
    if payload is None:
        payload = b""
    _, _, _, pixels = gif_decode(payload)
    feats = [0] * 8
    for b in pixels:
        feats[b >> 5] += 1
    return {
        "n_bytes": len(payload),
        "content_sha": hashlib.sha256(payload).hexdigest(),
        "feat_dim": 8,
        "feat_norm": sum(f * f for f in feats),
    }


# --- JPEG (ITU-T T.81 baseline sequential) -----------------------------------
#
# Round-7 stretch: the other ubiquitous corpus image format, implemented
# from the public spec — baseline DCT sequential (SOF0), 8-bit, 4:4:4
# (Hi=Vi=1) only, 1 or 3 components, restart intervals supported.
# Progressive (SOF2), extended (SOF1+), subsampled chroma, 12-bit and
# arithmetic coding raise ValueError loudly — same honest-boundary
# policy as the PNG subset. The encoder writes computed CANONICAL
# Huffman tables (all symbols at one code length, strictly fewer codes
# than 2^len so the all-ones prefix stays reserved per spec §C.2) —
# valid JPEG any decoder reads; compression ratio is not the point,
# byte-real codec plumbing is. The decoder builds its tables from the
# DHT segments generically, so it reads standard Annex-K files too.

JPEG_SOI = b"\xff\xd8\xff"


def _zigzag_order() -> list[int]:
    """The spec's coefficient zigzag as (row*8+col) indexes, generated by
    the diagonal walk (§A.3.6) rather than typed as a 64-literal table."""
    out = []
    for s in range(15):
        rng = range(s, -1, -1) if s % 2 == 0 else range(0, s + 1)
        for r in rng:
            c = s - r
            if r < 8 and c < 8:
                out.append(r * 8 + c)
    return out


_ZIGZAG = _zigzag_order()
_DCT = _np.array([
    [
        (0.3535533905932738 if u == 0 else 0.5)
        * math.cos((2 * x + 1) * u * math.pi / 16)
        for x in range(8)
    ]
    for u in range(8)
])  # C[u][x]: orthonormal 1-D DCT-II basis


def _dct(blocks, inverse: bool = False):
    """2-D 8x8 DCT (T.81 §A.3.3) over an (n, 8, 8) float64 stack: the
    forward transform is C·B·Cᵀ, the inverse Cᵀ·F·C. One call serves
    one block or a whole corpus. The stack is made C-contiguous first:
    numpy hands strided stacks to its own matmul loop, which rounds
    differently from BLAS, and a block's coefficients must not depend
    on the layout of the stack it arrives in."""
    blocks = _np.ascontiguousarray(blocks)
    if inverse:
        return _DCT.T @ blocks @ _DCT
    return _DCT @ blocks @ _DCT.T


def _flat_huffman(symbols: list[int]) -> tuple[list[int], list[int], dict]:
    """Canonical Huffman table with every symbol at one code length L,
    chosen so 2^L > len(symbols) (the all-ones code word stays reserved,
    §C.2). Returns (BITS[16], HUFFVAL, {symbol: (code, length)})."""
    n = len(symbols)
    length = 2
    while (1 << length) <= n:
        length += 1
    bits = [0] * 16
    bits[length - 1] = n
    enc = {sym: (i, length) for i, sym in enumerate(symbols)}
    return bits, list(symbols), enc


_DC_SYMBOLS = list(range(12))  # size categories 0..11
_AC_SYMBOLS = [0x00, 0xF0] + [
    (run << 4) | size for run in range(16) for size in range(1, 11)
]  # EOB, ZRL, then (run, size)
_DC_BITS, _DC_VALS, _DC_ENC = _flat_huffman(_DC_SYMBOLS)
_AC_BITS, _AC_VALS, _AC_ENC = _flat_huffman(_AC_SYMBOLS)
_ACP_SYMBOLS = [n << 4 for n in range(15)] + [0xF0] + [
    (run << 4) | size for run in range(16) for size in range(1, 11)
]  # progressive AC alphabet: EOBn (n=0..14, §G.1.2.2), ZRL, (run, size)
_ACP_BITS, _ACP_VALS, _ACP_ENC = _flat_huffman(_ACP_SYMBOLS)


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self._acc = 0
        self._nbits = 0

    def write(self, code: int, length: int) -> None:
        self._acc = (self._acc << length) | (code & ((1 << length) - 1))
        self._nbits += length
        while self._nbits >= 8:
            byte = (self._acc >> (self._nbits - 8)) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:  # byte stuffing (§B.1.1.5)
                self.buf.append(0x00)
            self._nbits -= 8
            self._acc &= (1 << self._nbits) - 1

    def flush(self) -> bytes:
        if self._nbits:
            pad = 8 - self._nbits
            self.write((1 << pad) - 1, pad)  # 1-fill padding (§F.1.2.3)
        return bytes(self.buf)

    def restart(self, n: int) -> None:
        """Byte-align (1-fill) and append RSTn — marker bytes bypass
        stuffing by spec (§B.1.1.2: markers are the one legal unstuffed
        0xFF in entropy data)."""
        if self._nbits:
            pad = 8 - self._nbits
            self.write((1 << pad) - 1, pad)
        self.buf += bytes([0xFF, 0xD0 | (n & 7)])


def _check_jpeg_args(
    width: int, height: int, pxs: list[bytes], channels: int, quant: int,
    subsampling: str,
) -> None:
    """The argument checks both JPEG writers and `jpeg_stores_batch`
    share."""
    if channels not in (1, 3):
        raise ValueError(f"unsupported channel count {channels}")
    exp = width * height * channels
    for p in pxs:
        if len(p) != exp:
            raise ValueError(
                f"pixel buffer is {len(p)} bytes, expected {exp}"
            )
    if not 1 <= quant <= 255:
        raise ValueError(f"quant must be in [1, 255], got {quant}")
    if subsampling not in ("444", "420"):
        raise ValueError(f"unsupported subsampling {subsampling!r}")
    if subsampling == "420" and channels != 3:
        raise ValueError("4:2:0 requires 3 channels (chroma to subsample)")


def _encode_block_seq(
    w: _BitWriter,
    zz: list[int],
    dc_prev: list[int],
    ci: int,
) -> None:
    """Sequential DC/AC entropy-code one quantized 8x8 zigzag block —
    the shared baseline block emitter. Callers precompute the
    coefficient stores via `jpeg_stores_batch` and hand blocks in MCU
    walk order; entropy coding itself is inherently sequential (DC
    prediction + bit packing)."""
    diff = zz[0] - dc_prev[ci]
    dc_prev[ci] = zz[0]
    size = abs(diff).bit_length()
    code, ln = _DC_ENC[size]
    w.write(code, ln)
    if size:
        amp = diff if diff >= 0 else diff + (1 << size) - 1
        w.write(amp, size)
    run = 0
    last_nz = max((i for i in range(1, 64) if zz[i]), default=0)
    for i in range(1, 64):
        if i > last_nz:
            code, ln = _AC_ENC[0x00]  # EOB
            w.write(code, ln)
            break
        v = zz[i]
        if v == 0:
            run += 1
            continue
        while run >= 16:
            code, ln = _AC_ENC[0xF0]  # ZRL
            w.write(code, ln)
            run -= 16
        size = abs(v).bit_length()
        code, ln = _AC_ENC[(run << 4) | size]
        w.write(code, ln)
        amp = v if v >= 0 else v + (1 << size) - 1
        w.write(amp, size)
        run = 0


def jpeg_encode(
    width: int,
    height: int,
    pixels: bytes,
    channels: int = 3,
    quant: int = 1,
    subsampling: str = "444",
    _stores: tuple | None = None,
) -> bytes:
    """Minimal baseline-sequential JPEG writer: 8-bit, 4:4:4 (Hi=Vi=1)
    or 4:2:0 (`subsampling="420"`, RGB only: Y at 2x2, box-averaged
    half-resolution chroma, 6-block MCUs — the layout the overwhelming
    majority of real-world camera JPEGs use), uniform quantization
    table of `quant` (default 1 — near-lossless, error comes only from
    color-convert + DCT rounding, plus chroma averaging at 4:2:0),
    computed flat Huffman tables, one DQT/DC-DHT/AC-DHT shared by all
    components. `pixels` is row-major packed samples (1=gray,
    3=RGB)."""
    _check_jpeg_args(width, height, [pixels], channels, quant, subsampling)

    w = _BitWriter()
    stores, dims = _stores or jpeg_stores_batch(
        width, height, [pixels], channels, quant, subsampling
    )[0]
    if subsampling == "444":
        pw, ph = dims[0]
        nbx = pw // 8
        dc_prev = [0] * channels
        for bi in range((ph // 8) * nbx):
            for ci in range(channels):
                _encode_block_seq(w, stores[ci][bi], dc_prev, ci)
        comp_hv = [0x11] * channels
    else:
        ystore, cbstore, crstore = stores
        (yw, _yh), (cw, ch2) = dims[0], dims[1]
        ynbx = yw // 8
        mcux, mcuy = cw // 8, (height + 15) // 16
        dc_prev = [0, 0, 0]
        for my in range(mcuy):
            for mx in range(mcux):
                for by in range(2):
                    for bx in range(2):
                        yb = (my * 2 + by) * ynbx + (mx * 2 + bx)
                        _encode_block_seq(w, ystore[yb], dc_prev, 0)
                cb_i = my * mcux + mx
                _encode_block_seq(w, cbstore[cb_i], dc_prev, 1)
                _encode_block_seq(w, crstore[cb_i], dc_prev, 2)
        comp_hv = [0x22, 0x11, 0x11]
    scan = w.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    qtab = bytes(quant for _ in range(64))
    dqt = seg(0xFFDB, b"\x00" + qtab)
    sof = seg(
        0xFFC0,
        struct.pack(">BHHB", 8, height, width, channels)
        + b"".join(
            struct.pack(">BBB", ci + 1, comp_hv[ci], 0)
            for ci in range(channels)
        ),
    )
    dht = seg(
        0xFFC4, b"\x00" + bytes(_DC_BITS) + bytes(_DC_VALS)
    ) + seg(0xFFC4, b"\x10" + bytes(_AC_BITS) + bytes(_AC_VALS))
    sos = seg(
        0xFFDA,
        bytes([channels])
        + b"".join(bytes([ci + 1, 0x00]) for ci in range(channels))
        + b"\x00\x3f\x00",
    )
    return b"\xff\xd8" + dqt + sof + dht + sos + scan + b"\xff\xd9"


def _dc_scan_walk(
    blocks: list[list[list[int]]],
    cis: list[int],
    orders: list[list[int]] | None,
    per_mcu: list[int] | None,
):
    """Yield (mcu_index, si, block) in interleaved DC-scan order:
    `orders[si]` lists each scan component's block indices MCU by MCU
    (`per_mcu[si]` of them per MCU, §A.2.3); default = one block per
    component per MCU in raster order (the 4:4:4 / single-grid case)."""
    if orders is None:
        orders = [list(range(len(blocks[ci]))) for ci in cis]
        per_mcu = [1] * len(cis)
    n_mcus = len(orders[0]) // per_mcu[0]
    for m in range(n_mcus):
        for si, ci in enumerate(cis):
            k = per_mcu[si]
            for j in range(k):
                yield m, si, blocks[ci][orders[si][m * k + j]]


def _emit_dc_first(
    w: _BitWriter, blocks: list[list[list[int]]], cis: list[int],
    al: int, ri: int = 0,
    orders: list[list[int]] | None = None,
    per_mcu: list[int] | None = None,
) -> None:
    """Progressive DC first scan (§G.1.2.1): DIFF-coded point-transformed
    DC (arithmetic shift by Al), interleaved over `cis` in MCU order;
    `ri` > 0 emits RSTn every `ri` MCUs (predictors reset, §E.2.4)."""
    prev = [0] * len(cis)
    last_m = 0
    for m, si, blk in _dc_scan_walk(blocks, cis, orders, per_mcu):
        if ri and m != last_m and m % ri == 0:
            w.restart(m // ri - 1)
            prev = [0] * len(cis)
        last_m = m
        val = blk[0] >> al
        diff = val - prev[si]
        prev[si] = val
        size = abs(diff).bit_length()
        code, ln = _DC_ENC[size]
        w.write(code, ln)
        if size:
            w.write(diff if diff >= 0 else diff + (1 << size) - 1, size)


def _emit_dc_refine(
    w: _BitWriter, blocks: list[list[list[int]]], cis: list[int],
    al: int, ri: int = 0,
    orders: list[list[int]] | None = None,
    per_mcu: list[int] | None = None,
) -> None:
    """Progressive DC refinement: one raw bit (bit Al of the
    two's-complement DC) per block, no entropy coding (§G.1.2.1)."""
    last_m = 0
    for m, _si, blk in _dc_scan_walk(blocks, cis, orders, per_mcu):
        if ri and m != last_m and m % ri == 0:
            w.restart(m // ri - 1)
        last_m = m
        w.write((blk[0] >> al) & 1, 1)


def _flush_eobrun(w: _BitWriter, eobrun: int, pending: list[int]) -> int:
    """Emit a pending EOBn run (symbol EOBn carries n extension bits of
    the run length, §G.1.2.2) followed by the correction bits buffered
    while the run was open; returns the reset run counter (0)."""
    if eobrun:
        nbits = eobrun.bit_length() - 1
        code, ln = _ACP_ENC[nbits << 4]
        w.write(code, ln)
        if nbits:
            w.write(eobrun & ((1 << nbits) - 1), nbits)
        for b in pending:
            w.write(b, 1)
        pending.clear()
    return 0


def _emit_ac_first(
    w: _BitWriter, blocks_c: list[list[int]], ss: int, se: int,
    al: int, ri: int = 0,
) -> None:
    """Progressive AC first scan over band Ss..Se (§G.1.2.2): magnitudes
    point-transformed by Al (toward-zero shift), zero runs as in
    baseline, but end-of-band coded as cross-block EOBn runs; a
    restart boundary force-flushes the open run (EOB runs cannot span
    restart intervals, §G.1.2.2)."""
    eobrun = 0
    for bi, blk in enumerate(blocks_c):
        if ri and bi and bi % ri == 0:
            eobrun = _flush_eobrun(w, eobrun, [])
            w.restart(bi // ri - 1)
        r = 0
        for k in range(ss, se + 1):
            m = abs(blk[k]) >> al
            if m == 0:
                r += 1
                continue
            eobrun = _flush_eobrun(w, eobrun, [])
            while r > 15:
                code, ln = _ACP_ENC[0xF0]
                w.write(code, ln)
                r -= 16
            s = m.bit_length()
            code, ln = _ACP_ENC[(r << 4) | s]
            w.write(code, ln)
            v = m if blk[k] >= 0 else -m
            w.write(v if v >= 0 else v + (1 << s) - 1, s)
            r = 0
        if r:
            eobrun += 1
            if eobrun == 0x7FFF:
                eobrun = _flush_eobrun(w, eobrun, [])
    _flush_eobrun(w, eobrun, [])


def _emit_ac_refine(
    w: _BitWriter, blocks_c: list[list[int]], ss: int, se: int,
    al: int, ri: int = 0,
) -> None:
    """Progressive AC refinement (Ah=Al+1 → Al, §G.1.2.3): one
    correction bit per already-nonzero coefficient, newly-significant
    coefficients as (run<<4)|1 + sign bit, correction bits buffered
    across EOB runs and replayed after the next emitted symbol; a
    restart boundary force-flushes the run AND its buffered bits."""
    eobrun = 0
    pending: list[int] = []  # correction bits riding with the open run
    for bi, blk in enumerate(blocks_c):
        if ri and bi and bi % ri == 0:
            eobrun = _flush_eobrun(w, eobrun, pending)
            w.restart(bi // ri - 1)
        absv = [0] * 64
        eob = 0  # last newly-significant position in the band
        for k in range(ss, se + 1):
            absv[k] = abs(blk[k]) >> al
            if absv[k] == 1:
                eob = k
        r = 0
        cur: list[int] = []  # this block's bits since the last symbol
        for k in range(ss, se + 1):
            t = absv[k]
            if t == 0:
                r += 1
                continue
            while r > 15 and k <= eob:
                eobrun = _flush_eobrun(w, eobrun, pending)
                code, ln = _ACP_ENC[0xF0]
                w.write(code, ln)
                r -= 16
                for b in cur:
                    w.write(b, 1)
                cur = []
            if t > 1:  # had history: append its next magnitude bit
                cur.append(t & 1)
                continue
            eobrun = _flush_eobrun(w, eobrun, pending)
            code, ln = _ACP_ENC[(r << 4) | 1]
            w.write(code, ln)
            w.write(1 if blk[k] >= 0 else 0, 1)
            for b in cur:
                w.write(b, 1)
            cur = []
            r = 0
        if r > 0 or cur:
            eobrun += 1
            pending.extend(cur)
            if eobrun == 0x7FFF:
                eobrun = _flush_eobrun(w, eobrun, pending)
    _flush_eobrun(w, eobrun, pending)


def _fdct_stores_batch(planes, pw: int, ph: int, quant: int) -> list:
    """Level-shift + FDCT + quantize + zigzag an (n, ph, pw) int64 plane
    stack into n coefficient stores: per image, the zigzag blocks in
    block-grid raster order that the sequential emitter, the
    progressive encoder and the decoder all walk."""
    n = planes.shape[0]
    cbh, cbw = ph // 8, pw // 8
    blocks = (
        planes.astype(_np.float64).reshape(n, cbh, 8, cbw, 8)
        .transpose(0, 1, 3, 2, 4)
        .reshape(-1, 8, 8)
        - 128.0
    )
    coefs = _dct(blocks).reshape(-1, 64)
    qz = _np.rint(coefs / float(quant)).astype(_np.int64)
    return qz[:, _ZIGZAG].reshape(n, cbh * cbw, 64).tolist()


def _ycbcr_planes_batch(img):
    """RGB->YCbCr (JFIF) over an (n, H, W, 3) float64 stack, rounded
    half-even and clamped to [0, 255]."""
    r, g, b = img[..., 0], img[..., 1], img[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168735892 * r - 0.331264108 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418687589 * g - 0.081312411 * b
    return tuple(
        _np.clip(_np.rint(p), 0.0, 255.0).astype(_np.int64)
        for p in (y, cb, cr)
    )


def jpeg_stores_batch(
    width: int,
    height: int,
    pxs: list[bytes],
    channels: int = 3,
    quant: int = 1,
    subsampling: str = "444",
) -> list[tuple]:
    """Coefficient stores for same-geometry images — the pixel half of
    both JPEG writers, which call it with one image. Plane construction
    (edge replication to the MCU grid, color convert, 4:2:0 chroma 2x2
    box-average with round-half-up) and FDCT + quantize run as numpy
    over the whole stack, so a corpus costs one call instead of one per
    image. An image's stores do not depend on what it is batched with.

    Returns one `(stores, dims)` per input: stores[ci] is component
    ci's zigzag block list, dims[ci] the (pw, ph) of its padded plane.
    Pass one to `jpeg_encode(..., _stores=...)` /
    `jpeg_encode_progressive(..., _stores=...)`; the same tuple can
    feed BOTH writers."""
    _check_jpeg_args(width, height, pxs, channels, quant, subsampling)
    if not pxs:
        return []
    n = len(pxs)
    arr = (
        _np.frombuffer(b"".join(pxs), dtype=_np.uint8)
        .reshape(n, height, width, channels)
        .astype(_np.float64)
    )
    mcu = 8 if subsampling == "444" else 16
    pw, ph = -(-width // mcu) * mcu, -(-height // mcu) * mcu
    sy = _np.minimum(_np.arange(ph), height - 1)
    sx = _np.minimum(_np.arange(pw), width - 1)
    img = arr[:, sy[:, None], sx[None, :], :]
    if channels == 3:
        planes = _ycbcr_planes_batch(img)
    else:
        planes = (img[..., 0].astype(_np.int64),)
    dims = [(pw, ph)] * channels
    if subsampling == "420":
        cw, ch_ = pw // 2, ph // 2
        planes = (planes[0],) + tuple(
            (p.reshape(n, ch_, 2, cw, 2).sum(axis=(2, 4)) + 2) // 4
            for p in planes[1:]
        )
        dims = [(pw, ph), (cw, ch_), (cw, ch_)]
    per_chan = [
        _fdct_stores_batch(pl, *dims[ci], quant)
        for ci, pl in enumerate(planes)
    ]
    return [([pc[i] for pc in per_chan], dims) for i in range(n)]


def jpeg_encode_progressive(
    width: int,
    height: int,
    pixels: bytes,
    channels: int = 3,
    quant: int = 1,
    restart_interval: int = 0,
    subsampling: str = "444",
    _stores: tuple | None = None,
) -> bytes:
    """Progressive JPEG writer (ITU-T T.81 SOF2): the same component /
    DCT / quantization pipeline as `jpeg_encode`, with the quantized
    coefficients delivered over a multi-scan script that exercises the
    full progressive toolbox — interleaved DC first scan at Al=1,
    per-component spectral-selection AC first scans (bands 1-5 and
    6-63 at Al=1, EOB-run coded), per-component AC refinement
    (Ah=1 → Al=0: correction bits, sign-coded new coefficients,
    buffered-bit EOB runs) and a raw-bit DC refinement scan. The
    decoder reconstructs coefficients bit-identical to the sequential
    encoding, so pixels match `jpeg_encode`'s exactly at equal
    `quant` and `subsampling`. `subsampling="420"` (RGB only) uses the
    same 6-block-MCU geometry as the baseline writer: the interleaved
    DC scans walk 4 Y blocks + Cb + Cr per MCU (§A.2.3) while the
    single-component AC scans walk each component's own un-padded
    block grid in raster order — MCU padding blocks carry DC only.
    `restart_interval` > 0 emits a DRI segment and RSTn markers every
    that-many MCUs in EVERY scan (DC predictors, EOB runs, and
    buffered refinement bits reset per spec §E.2.4 / §G.1.2.2 — runs
    cannot span a restart; in AC scans a "unit" is one block of the
    un-padded grid)."""
    _check_jpeg_args(width, height, [pixels], channels, quant, subsampling)
    orders: list[list[int]] | None = None
    per_mcu: list[int] | None = None
    blocks, dims = _stores or jpeg_stores_batch(
        width, height, [pixels], channels, quant, subsampling
    )[0]
    if subsampling == "444":
        ac_blocks = blocks  # used grid == padded grid at Hi=Vi=1
        comp_hv = [0x11] * channels
    else:
        (yw, _yh), (cw, ch_) = dims[0], dims[1]
        comp_hv = [0x22, 0x11, 0x11]
        ybw = yw // 8
        mcux, mcuy = cw // 8, ch_ // 8
        # DC scans interleave h*v blocks per component per MCU
        y_order = [
            (2 * my + by) * ybw + (2 * mx + bx)
            for my in range(mcuy)
            for mx in range(mcux)
            for by in range(2)
            for bx in range(2)
        ]
        c_order = list(range(mcux * mcuy))
        orders = [y_order, c_order, c_order]
        per_mcu = [4, 1, 1]
        # AC scans cover only the used (un-padded) Y block grid; the
        # 8-aligned chroma grid is exactly its used grid
        ubw, ubh = (width + 7) // 8, (height + 7) // 8
        y_ac = [
            blocks[0][r * ybw + c]
            for r in range(ubh)
            for c in range(ubw)
        ]
        ac_blocks = [y_ac, blocks[1], blocks[2]]

    def seg(marker: int, body: bytes) -> bytes:
        return struct.pack(">HH", marker, len(body) + 2) + body

    def sos(cis: list[int], ss: int, se: int, ah: int, al: int,
            scan: bytes) -> bytes:
        hdr = (
            bytes([len(cis)])
            + b"".join(bytes([ci + 1, 0x00]) for ci in cis)
            + bytes([ss, se, (ah << 4) | al])
        )
        return seg(0xFFDA, hdr) + scan

    all_cis = list(range(channels))
    out = bytearray(b"\xff\xd8")
    out += seg(0xFFDB, b"\x00" + bytes(quant for _ in range(64)))
    out += seg(
        0xFFC2,
        struct.pack(">BHHB", 8, height, width, channels)
        + b"".join(
            struct.pack(">BBB", ci + 1, comp_hv[ci], 0) for ci in all_cis
        ),
    )
    out += seg(0xFFC4, b"\x00" + bytes(_DC_BITS) + bytes(_DC_VALS))
    out += seg(0xFFC4, b"\x10" + bytes(_ACP_BITS) + bytes(_ACP_VALS))
    ri = restart_interval
    if ri:
        out += seg(0xFFDD, struct.pack(">H", ri))
    w = _BitWriter()
    _emit_dc_first(w, blocks, all_cis, 1, ri, orders, per_mcu)
    out += sos(all_cis, 0, 0, 0, 1, w.flush())
    for ss_, se_ in ((1, 5), (6, 63)):
        for ci in all_cis:
            w = _BitWriter()
            _emit_ac_first(w, ac_blocks[ci], ss_, se_, 1, ri)
            out += sos([ci], ss_, se_, 0, 1, w.flush())
    for ci in all_cis:
        w = _BitWriter()
        _emit_ac_refine(w, ac_blocks[ci], 1, 63, 0, ri)
        out += sos([ci], 1, 63, 1, 0, w.flush())
    w = _BitWriter()
    _emit_dc_refine(w, blocks, all_cis, 0, ri, orders, per_mcu)
    out += sos(all_cis, 0, 0, 1, 0, w.flush())
    out += b"\xff\xd9"
    return bytes(out)


class _BitReader:
    """MSB-first entropy-segment reader with 0xFF00 unstuffing; stops at
    any real marker (exposed via `hit_marker`)."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self._acc = 0
        self._nbits = 0
        self.hit_marker: int | None = None

    def _fill(self) -> None:
        if self.pos >= len(self.data):
            raise ValueError("truncated JPEG entropy stream")
        b = self.data[self.pos]
        if b == 0xFF:
            if self.pos + 1 >= len(self.data):
                raise ValueError("truncated JPEG entropy stream")
            nxt = self.data[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            elif 0xD0 <= nxt <= 0xD7:  # RSTn handled by caller
                self.hit_marker = 0xFF00 | nxt
                raise ValueError("restart marker inside coefficient read")
            else:
                self.hit_marker = 0xFF00 | nxt
                raise ValueError("marker inside coefficient read")
        else:
            self.pos += 1
        self._acc = (self._acc << 8) | b
        self._nbits += 8

    def bits(self, n: int) -> int:
        while self._nbits < n:
            self._fill()
        out = (self._acc >> (self._nbits - n)) & ((1 << n) - 1)
        self._nbits -= n
        self._acc &= (1 << self._nbits) - 1
        return out

    def align_restart(self, n_expected: int) -> None:
        """Byte-align and consume the next RSTn marker (§E.2.4)."""
        self._acc = 0
        self._nbits = 0
        if (
            self.pos + 1 < len(self.data)
            and self.data[self.pos] == 0xFF
            and 0xD0 <= self.data[self.pos + 1] <= 0xD7
        ):
            got = self.data[self.pos + 1] & 0x07
            if got != n_expected & 0x07:
                raise ValueError(
                    f"restart marker out of order: RST{got}, "
                    f"expected RST{n_expected & 0x07}"
                )
            self.pos += 2
        else:
            raise ValueError("expected restart marker")


def _huff_tree(bits: bytes, vals: bytes) -> dict[tuple[int, int], int]:
    """Canonical code table from a DHT segment: {(length, code): symbol}
    (§C.2 code assignment). Corrupted segments (a BITS list promising
    more symbols than HUFFVAL carries, or codes overflowing a length)
    raise ValueError — hostile-bytes contract."""
    if len(bits) != 16:
        raise ValueError("truncated DHT BITS list")
    if sum(bits) > len(vals):
        raise ValueError(
            f"DHT declares {sum(bits)} symbols, carries {len(vals)}"
        )
    out: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            if code >= (1 << length):
                raise ValueError("DHT code overflow (invalid BITS list)")
            out[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return out


def _huff_decode(rd: _BitReader, table: dict[tuple[int, int], int]) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | rd.bits(1)
        sym = table.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Huffman code in JPEG stream")


def _extend(v: int, size: int) -> int:
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _scan_ac_first(
    rd: _BitReader, atab: dict, blk: list[int], ss: int, se: int,
    al: int, eobrun: int,
) -> int:
    """Decode one block's band of an AC first scan (§G.2; also the AC
    half of a baseline scan, whose EOB symbol is the EOB0 special
    case). Returns the remaining cross-block EOB run."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        sym = _huff_decode(rd, atab)
        r, s = sym >> 4, sym & 0x0F
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            eobrun = 1 << r
            if r:
                eobrun += rd.bits(r)
            return eobrun - 1  # this block is the run's first
        k += r
        if k > se:
            raise ValueError("AC run past end of block")
        blk[k] = _extend(rd.bits(s), s) << al
        k += 1
    return 0


def _scan_ac_refine(
    rd: _BitReader, atab: dict, blk: list[int], ss: int, se: int,
    al: int, eobrun: int,
) -> int:
    """Decode one block's band of an AC refinement scan (§G.2):
    newly-significant coefficients arrive as (run<<4)|1 + sign bit,
    already-nonzero coefficients take one correction bit each as they
    are passed over (including inside EOB runs and ZRLs)."""
    p1, m1 = 1 << al, -1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            sym = _huff_decode(rd, atab)
            r, s = sym >> 4, sym & 0x0F
            newval = 0
            if s == 0:
                if r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += rd.bits(r)
                    break
                # r == 15: ZRL skips 16 zero-history positions
            elif s == 1:
                newval = p1 if rd.bits(1) else m1
            else:
                raise ValueError("refinement AC size must be 0 or 1")
            while k <= se:
                if blk[k] != 0:
                    if rd.bits(1) and (blk[k] & p1) == 0:
                        blk[k] += p1 if blk[k] >= 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if newval and k <= se:
                blk[k] = newval
            k += 1
    if eobrun > 0:
        while k <= se:  # rest of band: correction bits only
            if blk[k] != 0 and rd.bits(1) and (blk[k] & p1) == 0:
                blk[k] += p1 if blk[k] >= 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


def _decode_block(
    rd: _BitReader,
    blk: list[int],
    ss: int, se: int, ah: int, al: int,
    dtab, atab,
    dc_prev: list[int], si: int,
    eobrun: int,
) -> int:
    """Decode one block's share of a scan (DC and/or AC band, first or
    refinement pass); returns the updated cross-block EOB run."""
    if ss == 0:
        if ah == 0:  # DC first (baseline: Al=0)
            if dtab is None:
                raise ValueError("scan references missing table")
            size = _huff_decode(rd, dtab)
            if size > 11:
                raise ValueError(f"bad DC size category {size}")
            diff = _extend(rd.bits(size), size) if size else 0
            dc_prev[si] += diff
            blk[0] = dc_prev[si] << al
        elif rd.bits(1):  # DC refinement: raw bit Al
            blk[0] |= 1 << al
    if se > 0:
        if atab is None:
            raise ValueError("scan references missing table")
        kstart = max(ss, 1)
        if ah == 0:
            eobrun = _scan_ac_first(rd, atab, blk, kstart, se, al, eobrun)
        else:
            eobrun = _scan_ac_refine(rd, atab, blk, kstart, se, al, eobrun)
    return eobrun


def _jpeg_decode_scan(
    data: bytes,
    pos: int,
    scan_comps: list[tuple[int, int, int]],
    ss: int, se: int, ah: int, al: int,
    htabs: dict,
    coefs: list[list[list[int]]],
    geom: dict,
    restart_interval: int,
) -> int:
    """Decode one entropy-coded scan into the coefficient store and
    return the stream position of the next marker. Interleaved scans
    walk MCUs (h_c x v_c blocks per component each, §A.2.3);
    single-component scans walk that component's own un-padded block
    grid in raster order. `geom` carries mcux/mcuy and per-component
    (h, v, cbw, ubw, ubh): cbw is the MCU-padded row stride the
    coefficient store uses, (ubw, ubh) the used grid."""
    rd = _BitReader(data, pos)
    dc_prev = [0] * len(scan_comps)
    eobrun = 0
    interleaved = len(scan_comps) > 1
    if interleaved:
        n_units = geom["mcux"] * geom["mcuy"]
    else:
        _, _, _, ubw, ubh = geom["comps"][scan_comps[0][0]]
        n_units = ubw * ubh
    for unit in range(n_units):
        if restart_interval and unit and unit % restart_interval == 0:
            rd.align_restart(unit // restart_interval - 1)
            dc_prev = [0] * len(scan_comps)
            eobrun = 0
        if interleaved:
            my, mx = divmod(unit, geom["mcux"])
            for si, (ci, dc_id, ac_id) in enumerate(scan_comps):
                h, v, cbw, _, _ = geom["comps"][ci]
                dtab = htabs.get((0, dc_id))
                atab = htabs.get((1, ac_id))
                for by in range(v):
                    for bx in range(h):
                        blk = coefs[ci][
                            (my * v + by) * cbw + (mx * h + bx)
                        ]
                        eobrun = _decode_block(
                            rd, blk, ss, se, ah, al, dtab, atab,
                            dc_prev, si, eobrun,
                        )
        else:
            ci, dc_id, ac_id = scan_comps[0]
            _, _, cbw, ubw, _ = geom["comps"][ci]
            row, col = divmod(unit, ubw)
            blk = coefs[ci][row * cbw + col]
            eobrun = _decode_block(
                rd, blk, ss, se, ah, al,
                htabs.get((0, dc_id)), htabs.get((1, ac_id)),
                dc_prev, 0, eobrun,
            )
    # Skip any padding bits already consumed; the next unread byte is
    # the following marker (scan data is byte-aligned before markers).
    p = rd.pos
    while p + 1 < len(data) and (
        data[p] != 0xFF or data[p + 1] == 0x00
    ):
        p += 1
    return p


def jpeg_decode(data: bytes) -> tuple[int, int, int, bytes]:
    """Parse JPEG bytes -> (width, height, channels, raw pixels).
    Supports BASELINE sequential (SOF0) and PROGRESSIVE (SOF2): 8-bit,
    sampling factors Hi, Vi across the full legal [1, 4] (4:4:4, 4:2:0,
    4:2:2, 4:1:1 and transposes — chroma upsampled by replication), 1 or 3
    components, multiple DQT/DHT segments, APPn/COM skip, restart
    intervals, and for SOF2 the full multi-scan toolbox — interleaved
    or single-component DC scans, spectral-selection AC band scans
    with EOB-run coding, and successive-approximation refinement
    (raw-bit DC, correction-bit AC). Everything else raises ValueError
    (lossless/arithmetic SOFs, 12-bit precision, Hi/Vi outside [1, 4],
    16-bit DQT); SOF1 extended sequential decodes via the baseline
    path (r10).
    Decoding is coefficient-domain: scans accumulate into per-block
    zigzag coefficient stores; dequantize + IDCT happen once at
    EOI."""
    return jpeg_decode_batch([data])[0]


def _jpeg_parse(data: bytes):
    """Marker walk + entropy decode of a JPEG stream into per-component
    zigzag coefficient stores — the sequential half of decoding;
    `jpeg_decode_batch` runs the numeric half over many images at
    once. Returns (width, height, comps, qtabs, geom, coefs)."""
    if data[:3] != JPEG_SOI or len(data) < 4:
        raise ValueError("not a JPEG: bad SOI")
    pos = 2
    qtabs: dict[int, list[int]] = {}
    htabs: dict[tuple[int, int], dict] = {}
    comps: list[tuple[int, int, int, int]] = []  # (cid, tq, h, v)
    width = height = None
    progressive = False
    restart_interval = 0
    coefs: list[list[list[int]]] = []
    geom: dict = {}
    got_scan = False
    saw_eoi = False
    while pos + 2 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("expected marker")
        marker = data[pos + 1]
        if marker == 0xFF:  # fill byte (T.81 B.1.1.2): skip one 0xFF
            pos += 1
            continue
        if marker == 0xD9:  # EOI
            saw_eoi = True
            break
        if marker == 0x00 or marker == 0x01 or 0xD0 <= marker <= 0xD7:
            # Standalone codes between segments: 0xFF00 is a stuffed
            # byte (only legal inside entropy data), TEM and stray RSTn
            # carry no length field — reading one as a 2-byte segment
            # length would misparse everything after it. Foreign
            # streams only; our encoder never emits these here.
            raise ValueError(
                f"standalone marker 0xFF{marker:02X} between segments"
            )
        if pos + 4 > len(data):
            raise ValueError("truncated JPEG segment")
        (seglen,) = struct.unpack_from(">H", data, pos + 2)
        if pos + 2 + seglen > len(data):
            raise ValueError("truncated JPEG segment")
        body = data[pos + 4 : pos + 2 + seglen]
        scan_start = pos + 2 + seglen
        pos += 2 + seglen
        if marker == 0xDB:  # DQT
            b = 0
            while b < len(body):
                if b + 65 > len(body):
                    raise ValueError("truncated DQT segment")
                pq, tq = body[b] >> 4, body[b] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quantization unsupported")
                qtabs[tq] = list(body[b + 1 : b + 65])
                b += 65
        elif marker == 0xC4:  # DHT
            b = 0
            while b < len(body):
                if b + 17 > len(body):
                    raise ValueError("truncated DHT segment")
                tc, th = body[b] >> 4, body[b] & 0x0F
                bits = body[b + 1 : b + 17]
                n = sum(bits)
                vals = body[b + 17 : b + 17 + n]
                htabs[(tc, th)] = _huff_tree(bits, vals)
                b += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):
            # SOF0 baseline / SOF1 extended sequential / SOF2
            # progressive. SOF1 at 8-bit precision decodes IDENTICALLY
            # to baseline (T.81 Table B.2 — extended only adds 12-bit
            # precision and more Huffman table slots, both orthogonal
            # to the decode path; 12-bit still rejects below), so
            # accepting the marker closes the subset gap scraped
            # corpora hit after interlaced PNG (r10).
            progressive = marker == 0xC2
            if len(body) < 6:
                raise ValueError("truncated SOF segment")
            prec, height, width, nf = struct.unpack_from(">BHHB", body, 0)
            if len(body) < 6 + 3 * nf:
                raise ValueError("truncated SOF component list")
            if width == 0 or height == 0:
                raise ValueError("zero image dimension in SOF")
            if comps:
                raise ValueError("multiple SOF markers")
            if prec != 8:
                raise ValueError(f"unsupported precision {prec}")
            if nf not in (1, 3):
                raise ValueError(f"unsupported component count {nf}")
            for i in range(nf):
                cid, hv, tq = struct.unpack_from(">BBB", body, 6 + 3 * i)
                h, v = hv >> 4, hv & 0x0F
                # T.81 B.2.2: Hi, Vi in [1, 4]. The MCU walk, the
                # coefficient grids and the replication upsampler are
                # all generic in (h, v), so the full legal range
                # decodes (r10 — covers 4:1:1/4:1:0 DV-family streams;
                # 0 and >4 are spec violations and stay loud).
                if not (1 <= h <= 4 and 1 <= v <= 4):
                    raise ValueError(
                        f"unsupported sampling factors {h}x{v} "
                        "(Hi, Vi must be in [1, 4])"
                    )
                comps.append((cid, tq, h, v))
            hmax = max(c[2] for c in comps)
            vmax = max(c[3] for c in comps)
            mcux = (width + 8 * hmax - 1) // (8 * hmax)
            mcuy = (height + 8 * vmax - 1) // (8 * vmax)
            geom = {"mcux": mcux, "mcuy": mcuy, "hmax": hmax,
                    "vmax": vmax, "comps": []}
            coefs = []
            for _, _, h, v in comps:
                cbw, cbh = mcux * h, mcuy * v  # MCU-padded grid
                cw = (width * h + hmax - 1) // hmax
                ch_ = (height * v + vmax - 1) // vmax
                ubw, ubh = (cw + 7) // 8, (ch_ + 7) // 8
                geom["comps"].append((h, v, cbw, ubw, ubh))
                coefs.append([[0] * 64 for _ in range(cbw * cbh)])
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"unsupported SOF marker 0xFF{marker:02X} "
                "(baseline sequential and progressive only)"
            )
        elif marker == 0xDD:  # DRI
            if len(body) < 2:
                raise ValueError("truncated DRI segment")
            (restart_interval,) = struct.unpack_from(">H", body, 0)
        elif marker == 0xDA:  # SOS
            if width is None:
                raise ValueError("SOS before SOF")
            if len(body) < 1 or len(body) < 4 + 2 * body[0]:
                raise ValueError("truncated SOS header")
            ns = body[0]
            if ns == 0:
                raise ValueError("SOS with zero scan components")
            scan_comps: list[tuple[int, int, int]] = []
            for i in range(ns):
                cid, tda = body[1 + 2 * i], body[2 + 2 * i]
                idx = next(
                    (j for j, c in enumerate(comps) if c[0] == cid), None
                )
                if idx is None:
                    raise ValueError(f"scan references unknown comp {cid}")
                scan_comps.append((idx, tda >> 4, tda & 0x0F))
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            a = body[3 + 2 * ns]
            ah, al = a >> 4, a & 0x0F
            if not progressive:
                if ns != len(comps):
                    raise ValueError("scan component count != frame")
                if (ss, se, ah, al) != (0, 63, 0, 0):
                    raise ValueError(
                        "baseline scan must be Ss=0 Se=63 Ah=Al=0"
                    )
            else:
                if ss == 0 and se != 0:
                    raise ValueError(
                        "progressive DC scan must have Se=0 "
                        "(no mixed DC+AC scan)"
                    )
                if ss > 0 and ns != 1:
                    raise ValueError(
                        "progressive AC scan must be single-component"
                    )
                if ss > se or se > 63:
                    raise ValueError("bad spectral band in SOS")
            pos = _jpeg_decode_scan(
                data, scan_start, scan_comps, ss, se, ah, al,
                htabs, coefs, geom, restart_interval,
            )
            got_scan = True
        # APPn / COM / DNL / others: skipped
    if not got_scan:
        raise ValueError("no SOS marker")
    if not saw_eoi:
        raise ValueError("truncated JPEG: missing EOI marker")
    return width, height, comps, qtabs, geom, coefs


def jpeg_decode_batch(
    datas: list[bytes],
) -> list[tuple[int, int, int, bytes]]:
    """Decode JPEGs — the one decode path; `jpeg_decode` calls it with
    one stream. The marker walk + Huffman decode stays sequential per
    image (a bitstream has no block axis); the dequantize + IDCT +
    upsample + color-convert half runs as one numpy pass per group of
    images sharing geometry and tables. An image decodes to the same
    pixels whatever it is batched with."""
    parsed = [_jpeg_parse(d) for d in datas]
    groups: dict[tuple, list[int]] = {}
    for i, (w, h, comps, qtabs, geom, _coefs) in enumerate(parsed):
        key = (
            w, h, tuple(comps),
            tuple(sorted((k, tuple(v)) for k, v in qtabs.items())),
            geom["hmax"], geom["vmax"], geom["mcux"], geom["mcuy"],
            tuple(geom["comps"]),
        )
        groups.setdefault(key, []).append(i)
    out: list = [None] * len(datas)
    for key, idxs in groups.items():
        w, h, comps, _qt, hmax, vmax, mcux, mcuy, gcomps = key
        nf = len(comps)
        n = len(idxs)
        qtabs0 = parsed[idxs[0]][3]
        planes = []
        for ci in range(nf):
            qtab = qtabs0.get(comps[ci][1])
            if qtab is None:
                raise ValueError("scan references missing table")
            cbw, cbh = gcomps[ci][2], mcuy * gcomps[ci][1]
            zz = _np.asarray(
                [parsed[i][5][ci] for i in idxs], dtype=_np.float64
            ).reshape(-1, 64)
            blocks = _np.zeros_like(zz)
            blocks[:, _ZIGZAG] = zz * _np.asarray(qtab, dtype=_np.float64)
            sp = _dct(blocks.reshape(-1, 8, 8), inverse=True) + 128.0
            vals = _np.clip(_np.rint(sp), 0.0, 255.0).astype(_np.int64)
            planes.append(
                vals.reshape(n, cbh, cbw, 8, 8)
                .transpose(0, 1, 3, 2, 4)
                .reshape(n, cbh * 8, cbw * 8)
            )
        if nf == 1:
            pix = planes[0][:, :h, :w].astype(_np.uint8)
            for j, i in enumerate(idxs):
                out[i] = (w, h, 1, pix[j].tobytes())
            continue
        # chroma upsampling by sample replication: integer downshift of
        # the full-res coordinate into each component's grid
        ys = _np.arange(h)
        xs = _np.arange(w)
        yy, cb, cr = (
            p[:, (ys * vc // vmax)[:, None], (xs * hc // hmax)[None, :]]
            for p, (hc, vc, _, _, _) in zip(planes, gcomps)
        )
        cb = cb - 128
        cr = cr - 128
        rgb = _np.stack(
            [
                yy + 1.402 * cr,
                yy - 0.344136 * cb - 0.714136 * cr,
                yy + 1.772 * cb,
            ],
            axis=-1,
        )
        rgb = _np.clip(_np.rint(rgb), 0.0, 255.0).astype(_np.uint8)
        for j, i in enumerate(idxs):
            out[i] = (w, h, 3, rgb[j].tobytes())
    return out


def jpeg_features(payload: bytes) -> dict:
    """Real-decoder drop-in for JPEG payloads: same 8-bin pixel histogram
    surface as `png_features`, pixels from the JPEG decode (baseline
    SOF0 or progressive SOF2, dispatched by the frame marker)."""
    if payload is None:
        payload = b""
    _, _, _, pixels = jpeg_decode(payload)
    feats = [0] * 8
    for b in pixels:
        feats[b >> 5] += 1
    return {
        "n_bytes": len(payload),
        "content_sha": hashlib.sha256(payload).hexdigest(),
        "feat_dim": 8,
        "feat_norm": sum(f * f for f in feats),
    }


# --- AVI / Motion-JPEG container (round 9: the video decode boundary) ---
#
# Minimal AVI 1.0 (RIFF 'AVI ') muxer/demuxer for Motion-JPEG — each
# video frame is a complete baseline JPEG carried in a '00dc' chunk, so
# the frame pictures decode through the from-scratch `jpeg_decode`
# above and the video boundary is as honest as the PNG/WAV/JPEG ones.
# Subset (decode): one 'vids'/'MJPG' stream, no OpenDML extensions, no
# audio; anything else raises ValueError loudly (same honest-boundary
# policy as the other codecs). A production deployment swaps an
# ffmpeg-backed callable in at the same call site.

AVIF_HASINDEX = 0x10
AVIIF_KEYFRAME = 0x10


def avi_mjpeg_encode(
    frames: list[bytes], width: int, height: int, fps: int = 4
) -> bytes:
    """Mux complete JPEG frames into a spec-shaped AVI 1.0 container:
    RIFF('AVI ', LIST(hdrl: avih + LIST(strl: strh 'vids'/'MJPG' +
    strf BITMAPINFOHEADER)), LIST(movi: '00dc' chunks, word-aligned),
    idx1). Every size field is real — `avi_mjpeg_decode` and any
    standard player agree on the layout."""
    if not frames:
        raise ValueError("AVI needs at least one frame")
    if fps <= 0:
        raise ValueError(f"bad fps {fps}")
    for i, fr in enumerate(frames):
        if fr[:2] != b"\xff\xd8":
            raise ValueError(f"frame {i} is not a JPEG (no SOI)")
    us_per_frame = 1_000_000 // fps
    max_bytes = max(len(f) for f in frames)

    avih = struct.pack(
        "<IIIIIIIIII4I",
        us_per_frame, max_bytes * fps, 0, AVIF_HASINDEX,
        len(frames), 0, 1, max_bytes, width, height, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh",
        b"vids", b"MJPG", 0, 0, 0, 0, 1, fps, 0, len(frames),
        max_bytes, 0, 0, 0, 0, width, height,
    )
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40, width, height, 1, 24, b"MJPG", width * height * 3,
        0, 0, 0, 0,
    )

    def chunk(tag: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) % 2 else b""
        return tag + struct.pack("<I", len(body)) + body + pad

    def lst(tag: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", tag + body)

    strl = lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf))
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + strl)

    movi_body = bytearray(b"movi")
    idx = bytearray()
    for fr in frames:
        # idx1 offsets point at the chunk id, relative to the 'movi'
        # fourcc (the convention every mainstream demuxer accepts).
        idx += struct.pack(
            "<4sIII", b"00dc", AVIIF_KEYFRAME, len(movi_body), len(fr)
        )
        movi_body += chunk(b"00dc", fr)
    movi = chunk(b"LIST", bytes(movi_body))
    idx1 = chunk(b"idx1", bytes(idx))

    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _riff_chunks(data: bytes, pos: int, end: int):
    """Walk sibling RIFF chunks in data[pos:end] -> (tag, body_lo,
    body_hi) with hard bounds checks (truncated/overrunning chunks
    raise ValueError — hostile bytes must fail loudly, never index
    past the buffer)."""
    while pos < end:
        if pos + 8 > end:
            raise ValueError("truncated RIFF chunk header")
        tag = data[pos : pos + 4]
        (size,) = struct.unpack_from("<I", data, pos + 4)
        lo, hi = pos + 8, pos + 8 + size
        if hi > end:
            raise ValueError(
                f"RIFF chunk {tag!r} overruns its parent "
                f"({hi} > {end})"
            )
        yield tag, lo, hi
        pos = hi + (size & 1)  # word alignment


def avi_mjpeg_decode(
    data: bytes,
) -> tuple[int, int, int, list[bytes]]:
    """Parse AVI bytes -> (width, height, us_per_frame, jpeg_frames).
    Validates the RIFF framing, requires exactly one 'vids' stream
    with an 'MJPG' handler, collects the '00dc' movi chunks (each must
    open with a JPEG SOI), and cross-checks the frame count against
    the avih header. Everything outside the subset (audio streams,
    OpenDML 'AVIX', non-MJPG video) raises ValueError loudly; frame
    pictures decode through `jpeg_decode`."""
    if len(data) < 12 or data[:4] != b"RIFF":
        raise ValueError("not a RIFF file")
    (riff_size,) = struct.unpack_from("<I", data, 4)
    if 8 + riff_size > len(data):
        raise ValueError("truncated RIFF payload")
    if data[8:12] != b"AVI ":
        raise ValueError(f"not an AVI (form {data[8:12]!r})")

    width = height = us_per_frame = total_frames = None
    handler = None
    n_streams = 0
    frames: list[bytes] = []
    for tag, lo, hi in _riff_chunks(data, 12, 8 + riff_size):
        if tag != b"LIST":
            continue  # idx1 / JUNK: optional, not needed for decode
        form = data[lo : lo + 4]
        if form == b"hdrl":
            for t2, l2, h2 in _riff_chunks(data, lo + 4, hi):
                if t2 == b"avih":
                    if h2 - l2 < 40:
                        raise ValueError("avih header too short")
                    (us_per_frame,) = struct.unpack_from("<I", data, l2)
                    total_frames, _, n_streams = struct.unpack_from(
                        "<III", data, l2 + 16
                    )
                    width, height = struct.unpack_from(
                        "<II", data, l2 + 32
                    )
                elif t2 == b"LIST" and data[l2 : l2 + 4] == b"strl":
                    for t3, l3, h3 in _riff_chunks(data, l2 + 4, h2):
                        if t3 == b"strh":
                            if h3 - l3 < 8:
                                raise ValueError("strh too short")
                            fcc_type = data[l3 : l3 + 4]
                            if fcc_type != b"vids":
                                raise ValueError(
                                    "unsupported stream type "
                                    f"{fcc_type!r} (MJPG video only)"
                                )
                            handler = data[l3 + 4 : l3 + 8]
        elif form == b"movi":
            for t2, l2, h2 in _riff_chunks(data, lo + 4, hi):
                if t2 == b"00dc":
                    fr = data[l2:h2]
                    if fr[:2] != b"\xff\xd8":
                        raise ValueError(
                            "movi 00dc chunk is not a JPEG frame"
                        )
                    frames.append(fr)
                elif t2[2:4] in (b"wb", b"db", b"dc"):
                    raise ValueError(
                        f"unsupported movi chunk {t2!r} "
                        "(single MJPG video stream only)"
                    )
        elif form == b"AVIX":
            raise ValueError("OpenDML AVIX extension unsupported")
    if width is None:
        raise ValueError("no avih header")
    if n_streams != 1:
        raise ValueError(f"expected 1 stream, header says {n_streams}")
    if handler != b"MJPG":
        raise ValueError(f"unsupported video handler {handler!r}")
    if not frames:
        raise ValueError("no 00dc frames in movi")
    if total_frames != len(frames):
        raise ValueError(
            f"frame count mismatch: avih says {total_frames}, "
            f"movi carries {len(frames)}"
        )
    return width, height, us_per_frame, frames


def auto_decode(payload: bytes) -> dict:
    """Magic-byte dispatch: real PNG/WAV decode for media payloads, the
    deterministic digest fake for everything else (the synthetic
    `documents` blobs are text bytes, so the gated query's results are
    unchanged by this dispatcher)."""
    from pipegen_spark.operators.multimodal import fake_decode

    if payload is not None and payload[:8] == PNG_SIGNATURE:
        return png_features(payload)
    if payload is not None and payload[:3] == JPEG_SOI:
        return jpeg_features(payload)
    if (
        payload is not None
        and payload[:4] == b"RIFF"
        and payload[8:12] == b"WAVE"
    ):
        return wav_features(payload)
    if (
        payload is not None
        and payload[:4] == b"FORM"
        and payload[8:12] in (b"AIFF", b"AIFC")
    ):
        return aiff_features(payload)
    if payload is not None and payload[:4] == b".snd":
        return au_features(payload)
    if payload is not None and payload[:6] in GIF_MAGICS:
        return gif_features(payload)
    if payload is not None and payload[:4] == b"fLaC":
        from pipegen_spark.operators.flac import flac_features

        return flac_features(payload)
    return fake_decode(payload)
