"""Multimodal column plumbing: opaque binary payloads + typed metadata.

The multimodal-columns north star (BASELINE.json): image/audio/video
travel as ``BinaryType`` columns with typed metadata beside them;
decode / feature-extract run as Arrow-batched ``mapInPandas`` stages.

Decode support is split by what the container can honestly do:

- **Container formats with pure-bytes layouts decode for real**:
  uncompressed PCM WAV (RIFF header + samples — stdlib ``struct`` +
  numpy) and binary PPM (P6 — ASCII header + raw RGB). The registered
  query ``multimodal_decode_wav`` runs this path end to end.
- **PNG decodes for real too** (``decode_png``): a genuinely
  DEFLATE-compressed format handled with stdlib ``zlib`` + ``struct``
  — chunk walk, CRC check, IDAT inflate, all five per-row unfilters.
  ``multimodal_decode_png`` runs it end to end.
- **GIF decodes for real as well** (``decode_gif``): a genuinely
  LZW-compressed format with a pure-python variable-code-width LZW
  decoder (CLEAR resets, cScSc immediate-use case, 12-bit cap),
  extension skipping, sub-block reassembly and 4-pass de-interlacing;
  validated against real-world encoder output.
  ``multimodal_decode_gif`` runs it end to end.
- **Baseline JPEG decodes for real too** (``decode_jpeg``, r8): a
  pure-python T.81 baseline decoder — canonical Huffman entropy
  decode, dequantize, IDCT, YCbCr→RGB — validated against
  regenerating oracles; progressive/subsampled JPEG raises a
  documented guard.
- **Video/audio codec formats (MP4/Opus...) remain a clearly-marked
  stub** (NotImplementedError): real decoding needs codec libraries
  (ffmpeg) that are not in this environment. The surrounding Spark
  plumbing (schema, batch iteration, partition behavior) is identical
  for both paths, so swapping in a real codec lights up the rest.

Scale: mapInPandas streams Arrow batches through Python — constant
memory per task regardless of partition size; binary payloads never
pass through a shuffle in this pipeline (features are extracted before
any wide operation).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

MEDIA_FEATURE_SCHEMA = (
    "doc_id long, n_bytes long, byte_sum long, head_hex string"
)
# The featurizer itself lives in operators/llm.py::multimodal_features,
# next to its oracle. The codec stages instead call this module's
# functions directly: operators/llm.py::_per_blob registers the module
# to pickle BY VALUE, so workers never import it.


def weighted_checksum(values: np.ndarray) -> int:
    """Order-sensitive checksum of an integer array: the row-major
    flattened values weighted by ``position % 251 + 1``, summed, mod
    2**31 - 1 — the checksum the decode oracles regenerate in SQL. Any
    corrupted or misplaced value anywhere changes it."""
    flat = values.reshape(-1).astype(np.int64)
    weights = np.arange(flat.size, dtype=np.int64) % 251 + 1
    return int((flat * weights).sum()) % (2**31 - 1)


def decode_wav_pcm(payload: bytes) -> tuple[int, int, np.ndarray]:
    """Decode an uncompressed PCM WAV blob → (sample_rate, n_channels,
    samples as float64 in [-1, 1), shape (n_frames, n_channels)).

    Pure struct + numpy parsing of the canonical RIFF layout (chunk
    walk, so extra chunks like LIST don't break it). 16-bit PCM only —
    the format synthesize_wav emits and the overwhelmingly common case.
    Raises ValueError on anything that is not a PCM WAV."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    audio_format, n_channels, sample_rate, _, _, bits = fmt
    if audio_format != 1 or bits != 16:
        raise ValueError(f"only 16-bit PCM supported (fmt={audio_format}, bits={bits})")
    samples = np.frombuffer(data, dtype="<i2").astype(np.float64) / 32768.0
    return sample_rate, n_channels, samples.reshape(-1, n_channels)


def decode_ppm_p6(payload: bytes) -> np.ndarray:
    """Decode a binary PPM (P6) blob → uint8 array (h, w, 3). Pure
    bytes parsing: ASCII header (magic, width, height, maxval ≤ 255)
    then raw RGB. Raises ValueError on anything else."""
    if not payload.startswith(b"P6"):
        raise ValueError("not a P6 PPM payload")
    # header = 4 whitespace-separated tokens, then ONE whitespace byte
    tokens, pos = [], 2
    while len(tokens) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":  # comment to end of line
            while pos < len(payload) and payload[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        tokens.append(int(payload[start:pos]))
    pos += 1  # the single whitespace after maxval
    w, h, maxval = tokens
    if maxval > 255:
        raise ValueError("16-bit PPM not supported")
    raw = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=pos)
    return raw.reshape(h, w, 3)


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}  # gray, RGB, gray+A, RGBA


def _paeth(left: int, up: int, upleft: int) -> int:
    """The Paeth predictor (PNG spec §9.4)."""
    p = left + up - upleft
    pa, pb, pc = abs(p - left), abs(p - up), abs(p - upleft)
    if pa <= pb and pa <= pc:
        return left
    return up if pb <= pc else upleft


def decode_png(payload: bytes) -> np.ndarray:
    """Decode a PNG blob → uint8 array (h, w, channels) with pure
    stdlib ``zlib`` + ``struct`` — a REAL decode of a genuinely
    DEFLATE-compressed format, no codec libraries: chunk walk with
    CRC32 verification, concatenated-IDAT inflate, then per-row
    unfiltering of all five PNG filter types (None/Sub/Up/Average/
    Paeth). Supports 8-bit depth, color types 0/2/4/6 (gray, RGB,
    gray+alpha, RGBA), non-interlaced — the shapes synthesize_png
    emits and the overwhelmingly common web case. Raises ValueError
    on anything else (palette, 16-bit, Adam7).

    The per-row unfilter runs vectorized where the recurrence allows
    (Up is a plain numpy add); Sub/Average/Paeth are sequential in
    the defined byte order. Inside mapInPandas this is per-task
    Python — fine for the decode-stage demonstration; a production
    deployment swaps in a codec lib behind the same decode_media
    dispatch."""
    if payload[: len(_PNG_SIG)] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, ihdr, idat = len(_PNG_SIG), None, []
    while pos + 12 <= len(payload):
        (size,) = struct.unpack_from(">I", payload, pos)
        cid = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + size]
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + size)
        if zlib.crc32(cid + body) & 0xFFFFFFFF != crc:
            raise ValueError(f"bad CRC in {cid!r} chunk")
        if cid == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif cid == b"IDAT":
            idat.append(body)
        elif cid == b"IEND":
            break
        pos += 12 + size
    if ihdr is None or not idat:
        raise ValueError("missing IHDR/IDAT chunk")
    w, h, depth, ctype, _comp, _filt, interlace = ihdr
    if depth != 8 or interlace != 0 or ctype not in _PNG_CHANNELS:
        raise ValueError(
            f"unsupported PNG shape (depth={depth}, color={ctype}, "
            f"interlace={interlace}); 8-bit 0/2/4/6 non-interlaced only"
        )
    nch = _PNG_CHANNELS[ctype]
    raw = zlib.decompress(b"".join(idat))
    stride = w * nch
    if len(raw) != (stride + 1) * h:
        raise ValueError("IDAT length does not match IHDR dimensions")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        off = y * (stride + 1)
        ftype = raw[off]
        line = np.frombuffer(raw, np.uint8, stride, off + 1).copy()
        if ftype == 0:
            cur = line
        elif ftype == 1:  # Sub
            cur = line
            for i in range(nch, stride):
                cur[i] = (int(cur[i]) + int(cur[i - nch])) & 0xFF
        elif ftype == 2:  # Up — uint8 add wraps mod 256, vectorized
            cur = line + prev
        elif ftype == 3:  # Average
            cur = line
            for i in range(stride):
                left = int(cur[i - nch]) if i >= nch else 0
                cur[i] = (int(line[i]) + ((left + int(prev[i])) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            cur = line
            for i in range(stride):
                left = int(cur[i - nch]) if i >= nch else 0
                upleft = int(prev[i - nch]) if i >= nch else 0
                cur[i] = (
                    int(line[i]) + _paeth(left, int(prev[i]), upleft)
                ) & 0xFF
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[y] = cur
        prev = cur
    return out.reshape(h, w, nch)


def synthesize_png(seed: int, w: int = 24, h: int = 16, ctype: int = 2) -> bytes:
    """Deterministic PNG bytes: a seed-derived 8-bit pixel gradient,
    DEFLATE-compressed with the row filter type CYCLING 0→4 so a
    decoder must exercise every unfilter path (None, Sub, Up, Average,
    Paeth) on every image — the forward filters here are the spec's
    §9 definitions, byte order and all. Gives the decode path real
    compressed PNGs without codec libs or binary fixtures."""
    nch = _PNG_CHANNELS[ctype]
    stride = w * nch
    # seed-derived pixels with enough structure that every filter
    # actually transforms the row
    yy, xx = np.mgrid[0:h, 0:stride]
    img = ((xx * 7 + yy * 13 + seed * 31) + (xx * yy) // 3).astype(np.uint8)
    filtered = bytearray()
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        cur = img[y]
        ftype = y % 5
        filtered.append(ftype)
        if ftype == 0:
            enc = cur
        elif ftype == 1:  # Sub
            enc = cur.copy()
            enc[nch:] = (cur[nch:].astype(np.int16) - cur[:-nch]) & 0xFF
        elif ftype == 2:  # Up
            enc = cur - prev
        elif ftype == 3:  # Average
            enc = np.zeros(stride, dtype=np.uint8)
            for i in range(stride):
                left = int(cur[i - nch]) if i >= nch else 0
                enc[i] = (int(cur[i]) - ((left + int(prev[i])) >> 1)) & 0xFF
        else:  # Paeth
            enc = np.zeros(stride, dtype=np.uint8)
            for i in range(stride):
                left = int(cur[i - nch]) if i >= nch else 0
                upleft = int(prev[i - nch]) if i >= nch else 0
                enc[i] = (
                    int(cur[i]) - _paeth(left, int(prev[i]), upleft)
                ) & 0xFF
        filtered.extend(enc.tobytes())
        prev = cur

    def chunk(cid: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + cid
            + body
            + struct.pack(">I", zlib.crc32(cid + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(filtered)))
        + chunk(b"IEND", b"")
    )


_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))  # (start, step)


def _gif_interlace_order(h: int) -> list[int]:
    """Row output order of a GIF interlaced image (the 4-pass scheme
    from the GIF89a spec, appendix E)."""
    return [y for start, step in _GIF_INTERLACE_PASSES for y in range(start, h, step)]


def lzw_encode_gif(indices: bytes, min_code_size: int) -> bytes:
    """GIF-flavored LZW compression (variable code width, LSB-first
    bit packing, CLEAR/EOI codes, 12-bit table cap with reset) — the
    encoder side synthesize_gif uses so the decode path gets REAL
    compressed streams. Width grows when the just-added table entry's
    index reaches 2^width (the standard non-early-change rule); a full
    4096-entry table emits CLEAR and starts over."""
    clear = 1 << min_code_size
    eoi = clear + 1
    acc = 0
    nbits = 0
    buf = bytearray()

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            buf.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    def fresh() -> dict[bytes, int]:
        return {bytes([i]): i for i in range(clear)}

    table = fresh()
    next_code = eoi + 1
    width = min_code_size + 1
    emit(clear, width)
    cur = b""
    for b in bytes(indices):
        cand = cur + bytes([b])
        if cand in table:
            cur = cand
            continue
        emit(table[cur], width)
        if next_code < 4096:
            table[cand] = next_code
            next_code += 1
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        else:  # table full: reset mid-stream
            emit(clear, width)
            table = fresh()
            next_code = eoi + 1
            width = min_code_size + 1
        cur = bytes([b])
    if cur:
        emit(table[cur], width)
    emit(eoi, width)
    if nbits:
        buf.append(acc & 0xFF)
    return bytes(buf)


def lzw_decode_gif(data: bytes, min_code_size: int) -> bytearray:
    """GIF-flavored LZW decompression — the table-building decoder
    with the immediate-use (cScSc) case, CLEAR resets, and the
    one-entry-behind width rule (grow when the table length reaches
    2^width, capped at 12 bits). Raises ValueError on codes beyond
    the table (corrupt stream)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    singles = [bytes([i]) for i in range(clear)]

    def fresh() -> list[bytes]:
        return singles + [b"", b""]  # CLEAR/EOI placeholders

    table = fresh()
    width = min_code_size + 1
    out = bytearray()
    prev: bytes | None = None
    bitpos = 0
    total_bits = len(data) * 8
    while bitpos + width <= total_bits:
        byte_i = bitpos >> 3
        chunk = int.from_bytes(data[byte_i : byte_i + 3], "little")
        code = (chunk >> (bitpos & 7)) & ((1 << width) - 1)
        bitpos += width
        if code == clear:
            table = fresh()
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            break
        if prev is None:  # first code after a clear: plain lookup
            if code >= len(table):
                raise ValueError("corrupt LZW stream (bad first code)")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):  # cScSc: the just-about-to-exist entry
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("corrupt LZW stream (code beyond table)")
        out += entry
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1
    return out


def decode_gif(payload: bytes):
    """Decode a GIF blob's FIRST image → (palette uint8 (n, 3),
    indices uint8 (h, w), interlaced bool) with pure stdlib bytes
    parsing + the LZW decoder above — a REAL decode of a genuinely
    LZW-compressed format, no codec libraries: header + logical
    screen descriptor, global/local color table, extension-block
    skipping, sub-block reassembly, variable-width LZW, and 4-pass
    de-interlacing. Raises ValueError on anything that is not a
    GIF87a/GIF89a still image — including payloads truncated mid
    sub-block, which the byte walk would otherwise surface as
    IndexError/struct.error (r7 advice)."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    try:
        return _decode_gif_body(payload)
    except (IndexError, struct.error) as ex:
        raise ValueError(f"truncated GIF payload: {ex}") from ex


def _decode_gif_body(payload: bytes):
    pos = 6
    _sw, _sh, packed, _bg, _par = struct.unpack_from("<HHBBB", payload, pos)
    pos += 7
    palette = None
    if packed & 0x80:  # global color table
        n = 2 << (packed & 0x07)
        palette = np.frombuffer(
            payload, np.uint8, n * 3, pos
        ).reshape(n, 3)
        pos += n * 3
    while pos < len(payload):
        block = payload[pos]
        pos += 1
        if block == 0x21:  # extension: label + sub-blocks, skip
            pos += 1
            while payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
        elif block == 0x2C:  # image descriptor
            _l, _t, w, h, ipacked = struct.unpack_from("<HHHHB", payload, pos)
            pos += 9
            if ipacked & 0x80:  # local color table wins
                n = 2 << (ipacked & 0x07)
                palette = np.frombuffer(
                    payload, np.uint8, n * 3, pos
                ).reshape(n, 3)
                pos += n * 3
            if palette is None:
                raise ValueError("GIF image without a color table")
            interlaced = bool(ipacked & 0x40)
            mcs = payload[pos]
            pos += 1
            lzw = bytearray()
            while payload[pos] != 0:  # sub-block reassembly
                size = payload[pos]
                lzw += payload[pos + 1 : pos + 1 + size]
                pos += 1 + size
            pos += 1
            idx = np.frombuffer(
                bytes(lzw_decode_gif(bytes(lzw), mcs)[: w * h]), np.uint8
            )
            if idx.size != w * h:
                raise ValueError(
                    f"LZW stream decoded to {idx.size} pixels, "
                    f"descriptor says {w}x{h}"
                )
            rows = idx.reshape(h, w)
            if interlaced:
                out = np.zeros_like(rows)
                out[_gif_interlace_order(h)] = rows
                rows = out
            if int(rows.max(initial=0)) >= palette.shape[0]:
                raise ValueError("pixel index beyond the color table")
            return palette, rows, interlaced
        elif block == 0x3B:  # trailer
            break
        else:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
    raise ValueError("GIF contains no image data")


def gif_blob_rows(doc_id, payload):
    """Per-blob GIF decode stage (operators/llm.py::_per_blob) → one
    (doc_id, width, height, n_colors, interlaced, mean_pixel,
    pixel_checksum) row: dimensions, palette size, the PARSED
    interlace flag, and the mean and weighted checksum of the
    rendered RGB bytes."""
    pal, idx, interlaced = decode_gif(bytes(payload))
    h, w = idx.shape
    rendered = pal[idx]  # (h, w, 3) uint8
    yield (
        int(doc_id),
        w,
        h,
        int(pal.shape[0]),
        int(interlaced),
        float(rendered.mean()),
        weighted_checksum(rendered),
    )


def synthesize_gif(seed: int, w: int = 24, h: int = 16) -> bytes:
    """Deterministic GIF89a bytes: a 16-color global palette and a
    seed-derived index raster, REALLY LZW-compressed by
    lzw_encode_gif, with odd seeds written INTERLACED (the 4-pass row
    order) so every decode exercises de-interlacing, plus a Graphic
    Control Extension so extension skipping runs on every payload.
    Both the palette and the raster are pure integer programs of
    (seed, x, y), which is what lets multimodal_decode_gif's oracle
    regenerate the decoded output in SQL (operators/llm.py)."""
    n_colors = 16
    yy, xx = np.mgrid[0:h, 0:w]
    idx = ((xx * 3 + yy * 5 + (xx * yy) // 7 + seed) % n_colors).astype(
        np.uint8
    )
    pal = bytes(
        (j * 47 + c * 101 + seed * 13 + 29) % 256
        for j in range(n_colors)
        for c in range(3)
    )
    interlaced = bool(seed % 2)
    raster = (idx[_gif_interlace_order(h)] if interlaced else idx).tobytes()
    mcs = 4  # 16 colors -> 4-bit codes
    lzw = lzw_encode_gif(raster, mcs)
    sub = bytearray()
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        sub.append(len(chunk))
        sub += chunk
    sub.append(0)
    return (
        b"GIF89a"
        + struct.pack("<HHBBB", w, h, 0x80 | (3 << 4) | 3, 0, 0)
        + pal
        + b"\x21\xf9\x04\x00\x00\x00\x00\x00"  # GCE: no transparency
        + struct.pack(
            "<BHHHHB", 0x2C, 0, 0, w, h, 0x40 if interlaced else 0
        )
        + bytes([mcs])
        + bytes(sub)
        + b"\x3b"
    )


def synthesize_wav(seed: int, n_frames: int = 800, rate: int = 8000) -> bytes:
    """Deterministic 16-bit mono PCM WAV: an INTEGER sawtooth whose
    step derives from the seed. Gives the decode path REAL wav bytes
    to chew on without codec libs or binary fixtures. Integer (not
    sine) on purpose: libm/numpy sin is not bit-identical across
    implementations, while this pure-integer program regenerates
    exactly in SQL — which is what gives multimodal_decode_wav a full
    differential oracle (operators/llm.py) instead of a rows-only
    check."""
    step = 100 + (seed % 40) * 25  # sawtooth increment per frame
    i = np.arange(n_frames, dtype=np.int64)
    pcm = (((i * step) % 24000) - 12000).astype("<i2")
    data = pcm.tobytes()
    hdr = (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, rate, rate * 2, 2, 16)
        + b"data"
        + struct.pack("<I", len(data))
    )
    return hdr + data


# ---------------------------------------------------------------------------
# Baseline JPEG (ITU-T T.81 baseline sequential DCT): pure-python
# Huffman entropy codec + numpy IDCT — the third genuinely-compressed
# format after DEFLATE-PNG and LZW-GIF, no codec libraries. Decodes
# SOF0/SOF1 grayscale and non-subsampled (1x1) 3-component scans with
# restart-marker support; progressive (SOF2) and chroma-subsampled
# images raise ValueError with an honest scope note (the container's
# only sample JPEGs are progressive, so real-world coverage is pinned
# on the "raises cleanly" side).
# ---------------------------------------------------------------------------

# Zigzag position k -> natural (row-major) index, per T.81 Figure 5.
JPEG_ZIGZAG: tuple[int, ...] = (
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
)

# Annex K luminance quantization table (natural order).
JPEG_QTAB = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    dtype=np.int32,
)

# Annex K luminance Huffman specs: (BITS[1..16], HUFFVAL).
JPEG_DC_BITS = (0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
JPEG_DC_VALS = tuple(range(12))
JPEG_AC_BITS = (0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D)
JPEG_AC_VALS = (
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
    0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
    0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
    0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA,
)


def _jpeg_canonical_codes(bits, vals) -> dict:
    """Canonical Huffman codes per T.81 Annex C: symbol -> (code, len)."""
    codes: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            codes[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return codes


def _jpeg_decode_table(bits, vals) -> dict:
    """(len, code) -> symbol lookup for the bit-serial decoder."""
    return {
        (ln, code): sym
        for sym, (code, ln) in _jpeg_canonical_codes(bits, vals).items()
    }


class _JpegBitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, value: int, nbits: int) -> None:
        for i in range(nbits - 1, -1, -1):
            self._acc = (self._acc << 1) | ((value >> i) & 1)
            self._n += 1
            if self._n == 8:
                self.out.append(self._acc)
                if self._acc == 0xFF:  # byte stuffing
                    self.out.append(0x00)
                self._acc, self._n = 0, 0

    def flush(self) -> bytes:
        if self._n:
            pad = 8 - self._n
            self.write((1 << pad) - 1, pad)
        return bytes(self.out)


class _JpegBitReader:
    """Bit-serial reader over entropy-coded data with 0xFF00
    unstuffing; raises ValueError at end-of-data or on a stray
    marker (truncation surfaces as the documented error)."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self._acc = 0
        self._n = 0

    def _next_byte(self) -> int:
        d = self.data
        if self.pos >= len(d):
            raise ValueError("truncated JPEG entropy data")
        b = d[self.pos]
        self.pos += 1
        if b == 0xFF:
            if self.pos >= len(d):
                raise ValueError("truncated JPEG entropy data")
            m = d[self.pos]
            if m == 0x00:
                self.pos += 1
            else:
                raise ValueError(
                    f"unexpected marker 0x{m:02x} inside entropy data"
                )
        return b

    def read_bit(self) -> int:
        if self._n == 0:
            self._acc = self._next_byte()
            self._n = 8
        self._n -= 1
        return (self._acc >> self._n) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align_and_expect_rst(self, idx: int) -> None:
        """Byte-align and consume the next RSTn marker (DRI scans)."""
        self._n = 0
        d = self.data
        if self.pos + 1 >= len(d) or d[self.pos] != 0xFF:
            raise ValueError("missing restart marker")
        m = d[self.pos + 1]
        if not (0xD0 <= m <= 0xD7) or (m - 0xD0) != (idx % 8):
            raise ValueError(f"bad restart marker 0x{m:02x}")
        self.pos += 2

    def decode_symbol(self, table: dict) -> int:
        code, ln = 0, 0
        while ln <= 16:
            code = (code << 1) | self.read_bit()
            ln += 1
            sym = table.get((ln, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code in JPEG stream")


def _jpeg_extend(v: int, size: int) -> int:
    """T.81 F.2.2.1 EXTEND: map `size` magnitude bits to a signed
    coefficient."""
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


# IDCT basis M[u, x] = c(u)/2 * cos((2x+1) u pi / 16); f = M.T @ F @ M.
_JPEG_IDCT_M = np.array(
    [
        [
            (np.sqrt(0.5) if u == 0 else 1.0)
            / 2.0
            * np.cos((2 * x + 1) * u * np.pi / 16.0)
            for x in range(8)
        ]
        for u in range(8)
    ]
)


def jpeg_idct_block(coef: np.ndarray) -> np.ndarray:
    """2-D inverse DCT of one dequantized 8x8 block (float64)."""
    return _JPEG_IDCT_M.T @ coef.astype(np.float64) @ _JPEG_IDCT_M


def _parse_jpeg(payload: bytes):
    """Parse a baseline JPEG into quantized coefficient blocks.

    Returns dict(width, height, components=[{id, coefs int32
    (nby, nbx, 8, 8) in natural order, qtab int32 (8, 8)}]).
    ValueError on progressive/hierarchical SOFs, subsampling,
    12-bit precision, arithmetic coding, or truncation."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    qtabs: dict[int, np.ndarray] = {}
    dc_tabs: dict[int, dict] = {}
    ac_tabs: dict[int, dict] = {}
    frame = None
    restart_interval = 0
    pos = 2
    try:
        while pos < len(payload):
            if payload[pos] != 0xFF:
                raise ValueError(
                    f"expected marker at {pos}, got 0x{payload[pos]:02x}"
                )
            marker = payload[pos + 1]
            pos += 2
            if marker == 0xD9:  # EOI
                break
            if marker == 0x01 or 0xD0 <= marker <= 0xD7:
                continue
            seg_len = (payload[pos] << 8) | payload[pos + 1]
            seg = payload[pos + 2 : pos + seg_len]
            if len(seg) != seg_len - 2:
                raise ValueError("truncated JPEG segment")
            if marker == 0xDB:  # DQT
                p = 0
                while p < len(seg):
                    pq, tq = seg[p] >> 4, seg[p] & 0x0F
                    if pq != 0:
                        raise ValueError("16-bit quant tables unsupported")
                    zz = np.frombuffer(seg, np.uint8, 64, p + 1)
                    nat = np.zeros(64, np.int32)
                    nat[list(JPEG_ZIGZAG)] = zz
                    qtabs[tq] = nat.reshape(8, 8)
                    p += 65
            elif marker == 0xC4:  # DHT
                p = 0
                while p < len(seg):
                    tc, th = seg[p] >> 4, seg[p] & 0x0F
                    bits = tuple(seg[p + 1 : p + 17])
                    n = sum(bits)
                    vals = tuple(seg[p + 17 : p + 17 + n])
                    tab = _jpeg_decode_table(bits, vals)
                    (dc_tabs if tc == 0 else ac_tabs)[th] = tab
                    p += 17 + n
            elif marker in (0xC0, 0xC1):  # SOF0/SOF1: baseline ok
                prec = seg[0]
                if prec != 8:
                    raise ValueError("only 8-bit precision supported")
                h = (seg[1] << 8) | seg[2]
                w = (seg[3] << 8) | seg[4]
                nf = seg[5]
                comps = []
                for i in range(nf):
                    cid, samp, tq = seg[6 + 3 * i : 9 + 3 * i]
                    if samp != 0x11:
                        raise ValueError(
                            "chroma-subsampled JPEG unsupported (this "
                            "decoder handles 1x1 sampling only)"
                        )
                    comps.append({"id": cid, "tq": tq})
                frame = {"w": w, "h": h, "comps": comps}
            elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                            0xCB, 0xCD, 0xCE, 0xCF):
                raise ValueError(
                    "only baseline sequential JPEG (SOF0/SOF1) is "
                    f"supported, got SOF marker 0x{marker:02x} "
                    "(progressive/hierarchical/arithmetic)"
                )
            elif marker == 0xDD:  # DRI
                restart_interval = (seg[0] << 8) | seg[1]
            elif marker == 0xDA:  # SOS
                if frame is None:
                    raise ValueError("SOS before SOF")
                ns = seg[0]
                scan = []
                for i in range(ns):
                    cs, tdta = seg[1 + 2 * i], seg[2 + 2 * i]
                    comp = next(
                        c for c in frame["comps"] if c["id"] == cs
                    )
                    scan.append(
                        {
                            "comp": comp,
                            "dc": dc_tabs[tdta >> 4],
                            "ac": ac_tabs[tdta & 0x0F],
                        }
                    )
                nbx = (frame["w"] + 7) // 8
                nby = (frame["h"] + 7) // 8
                for s in scan:
                    s["coefs"] = np.zeros((nby, nbx, 8, 8), np.int32)
                reader = _JpegBitReader(payload, pos + seg_len)
                preds = [0] * ns
                n_mcu = nbx * nby  # 1x1 sampling: MCU = one block/comp
                for m in range(n_mcu):
                    if restart_interval and m and m % restart_interval == 0:
                        reader.align_and_expect_rst(
                            m // restart_interval - 1
                        )
                        preds = [0] * ns
                    by, bx = divmod(m, nbx)
                    for si, s in enumerate(scan):
                        blk = np.zeros(64, np.int32)
                        size = reader.decode_symbol(s["dc"])
                        diff = _jpeg_extend(reader.read_bits(size), size)
                        preds[si] += diff
                        blk[0] = preds[si]
                        k = 1
                        while k < 64:
                            sym = reader.decode_symbol(s["ac"])
                            if sym == 0x00:  # EOB
                                break
                            run, sz = sym >> 4, sym & 0x0F
                            if sz == 0:
                                if run != 15:
                                    raise ValueError(
                                        f"bad AC symbol 0x{sym:02x}"
                                    )
                                k += 16  # ZRL
                                continue
                            k += run
                            if k > 63:
                                raise ValueError("AC run past block end")
                            blk[JPEG_ZIGZAG[k]] = _jpeg_extend(
                                reader.read_bits(sz), sz
                            )
                            k += 1
                        s["coefs"][by, bx] = blk.reshape(8, 8)
                for s in scan:
                    s["comp"]["coefs"] = s["coefs"]
                for c in frame["comps"]:
                    c["qtab"] = qtabs[c["tq"]]
                return {
                    "width": frame["w"],
                    "height": frame["h"],
                    "components": frame["comps"],
                }
            # APPn / COM / others: skip
            pos += seg_len
    except (IndexError, struct.error) as ex:
        raise ValueError(f"truncated JPEG payload: {ex}") from ex
    raise ValueError("JPEG contains no scan data")


def decode_jpeg_coefficients(payload: bytes):
    """Baseline JPEG → (width, height, [(coefs_q int32 (nby, nbx, 8, 8),
    qtab int32 (8, 8)) per component]): the entropy-decode + zigzag +
    DC-prediction layer, integer-exact (no IDCT) — what the
    regenerating SQL oracle checks."""
    p = _parse_jpeg(payload)
    return (
        p["width"],
        p["height"],
        [(c["coefs"], c["qtab"]) for c in p["components"]],
    )


def decode_jpeg(payload: bytes) -> np.ndarray:
    """Baseline JPEG → uint8 pixels (h, w) for grayscale, (h, w, 3)
    RGB for 3-component YCbCr (1x1 sampling). Dequantize → IDCT →
    level shift → clip (+ BT.601 YCbCr→RGB for color)."""
    return _jpeg_pixels(_parse_jpeg(payload))


def _jpeg_pixels(p: dict) -> np.ndarray:
    """The pixel half of decode_jpeg, from ``_parse_jpeg``'s output."""
    w, h = p["width"], p["height"]
    planes = []
    for c in p["components"]:
        coefs = c["coefs"].astype(np.float64) * c["qtab"]
        nby, nbx = coefs.shape[:2]
        plane = np.zeros((nby * 8, nbx * 8))
        for by in range(nby):
            for bx in range(nbx):
                plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                    jpeg_idct_block(coefs[by, bx])
                )
        planes.append(plane[:h, :w] + 128.0)
    if len(planes) == 1:
        return np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(
        np.round(np.stack([r, g, b], axis=-1)), 0, 255
    ).astype(np.uint8)


def jpeg_frame_metrics(payload: bytes) -> tuple[int, int, int, int, int, int]:
    """One grayscale baseline JPEG frame → (width, height, n_blocks,
    dc_sum, n_nonzero_ac, coef_checksum): the integer-exact metrics of
    the dequantized coefficients that the JPEG and MJPEG oracles
    regenerate. The payload is parsed ONCE; the full pixel decode
    (IDCT included, the honest per-frame price) runs from the same
    parsed coefficients and its shape is checked against the header."""
    p = _parse_jpeg(payload)
    w, h = p["width"], p["height"]
    px = _jpeg_pixels(p)
    if px.shape != (h, w):
        raise ValueError(f"decoded pixel shape {px.shape} != ({h}, {w})")
    [comp] = p["components"]
    nby, nbx = comp["coefs"].shape[:2]
    coefs = comp["coefs"].reshape(nby * nbx, 64).astype(np.int64)
    deq = coefs * comp["qtab"].reshape(1, 64).astype(np.int64)
    return (
        w,
        h,
        nby * nbx,
        int(deq[:, 0].sum()),
        int(np.count_nonzero(deq[:, 1:])),
        weighted_checksum(deq),
    )


# Coefficient program shared by synthesize_jpeg and the SQL oracle
# (operators/llm.py::_jpeg_decode_oracle): zigzag positions that force
# ZRL runs (1→20→40 has gaps of 18 and 19 zeros) and, for seed%4==3,
# a position-63 coefficient so the no-EOB block end path runs too.
JPEG_AC_POSITIONS = (1, 20, 40, 63)


def _jpeg_coef_program(seed: int, bx: int, by: int) -> np.ndarray:
    """Quantized coefficients for one block, natural order (8, 8)."""
    blk = np.zeros(64, np.int32)
    blk[0] = ((seed * 7 + bx * 3 + by * 5) % 32) - 16
    ks = ()
    if seed % 2 == 1:
        ks = JPEG_AC_POSITIONS[:3]
        if seed % 4 == 3:
            ks = JPEG_AC_POSITIONS
    for k in ks:
        v = ((seed * 11 + bx * 7 + by * 13 + k * 3) % 9) - 4
        blk[JPEG_ZIGZAG[k]] = 1 if v == 0 else v
    return blk.reshape(8, 8)


def synthesize_jpeg(seed: int, w: int = 24, h: int = 16) -> bytes:
    """Deterministic baseline JFIF bytes (grayscale, Annex K quant +
    Huffman tables), REALLY entropy-coded: the quantized coefficients
    are a pure integer program of (seed, bx, by) — which is what lets
    multimodal_decode_jpeg's oracle regenerate the decoded
    coefficients in SQL — run through DC differential coding, zigzag
    run-length with ZRL/EOB, canonical Huffman and byte stuffing."""
    nbx, nby = w // 8, h // 8
    dc_codes = _jpeg_canonical_codes(JPEG_DC_BITS, JPEG_DC_VALS)
    ac_codes = _jpeg_canonical_codes(JPEG_AC_BITS, JPEG_AC_VALS)
    wtr = _JpegBitWriter()
    pred = 0
    for b in range(nbx * nby):
        by, bx = divmod(b, nbx)
        blk = _jpeg_coef_program(seed, bx, by).reshape(-1)
        zz = blk[list(JPEG_ZIGZAG)]
        diff = int(zz[0]) - pred
        pred = int(zz[0])
        size = abs(diff).bit_length()
        code, ln = dc_codes[size]
        wtr.write(code, ln)
        if size:
            wtr.write(diff if diff >= 0 else diff + (1 << size) - 1, size)
        k, last = 1, 0
        nz = [k2 for k2 in range(1, 64) if zz[k2] != 0]
        for k in nz:
            run = k - last - 1
            while run >= 16:
                code, ln = ac_codes[0xF0]  # ZRL
                wtr.write(code, ln)
                run -= 16
            v = int(zz[k])
            sz = abs(v).bit_length()
            code, ln = ac_codes[(run << 4) | sz]
            wtr.write(code, ln)
            wtr.write(v if v >= 0 else v + (1 << sz) - 1, sz)
            last = k
        if last != 63:
            code, ln = ac_codes[0x00]  # EOB
            wtr.write(code, ln)
    entropy = wtr.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body

    zz_q = JPEG_QTAB.reshape(-1)[list(JPEG_ZIGZAG)].astype(np.uint8)
    dqt = seg(0xDB, bytes([0x00]) + zz_q.tobytes())
    sof = seg(
        0xC0,
        struct.pack(">BHHB", 8, h, w, 1) + bytes([1, 0x11, 0]),
    )
    dht = seg(
        0xC4,
        bytes([0x00])
        + bytes(JPEG_DC_BITS)
        + bytes(JPEG_DC_VALS)
        + bytes([0x10])
        + bytes(JPEG_AC_BITS)
        + bytes(JPEG_AC_VALS),
    )
    sos = seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    app0 = seg(
        0xE0, b"JFIF\x00" + bytes([1, 1, 0, 0, 1, 0, 1, 0, 0])
    )
    return (
        b"\xff\xd8" + app0 + dqt + sof + dht + sos + entropy + b"\xff\xd9"
    )


def decode_media(payload: bytes, media_type: str):
    """Decode an image/audio/video payload.

    Real for the pure-bytes container formats (audio/wav via
    decode_wav_pcm, image/ppm via decode_ppm_p6); a clearly-marked
    STUB for codec-compressed formats — those need libraries
    (Pillow/ffmpeg) not present in this environment. The Spark
    plumbing is identical either way; swap in a codec here to light up
    the rest."""
    if media_type == "audio/wav":
        return decode_wav_pcm(payload)
    if media_type == "image/ppm":
        return decode_ppm_p6(payload)
    if media_type == "image/png":
        return decode_png(payload)
    if media_type == "image/gif":
        return decode_gif(payload)
    if media_type == "image/jpeg":
        return decode_jpeg(payload)
    if media_type == "video/mjpeg":
        _, frames = demux_mjpeg_mp4(payload)
        return [decode_jpeg(f) for f in frames]
    raise NotImplementedError(
        f"media decoding for {media_type!r} requires codec libraries; "
        "this build decodes pure-bytes formats (audio/wav, image/ppm), "
        "DEFLATE-compressed PNG (image/png, stdlib zlib), "
        "LZW-compressed GIF (image/gif, pure-python LZW), baseline "
        "sequential JPEG (image/jpeg, pure-python Huffman + numpy "
        "IDCT; progressive/subsampled variants raise ValueError) and "
        "MJPEG-in-MP4 video (video/mjpeg, sample-table demux + "
        "per-frame JPEG decode — r15); INTER-FRAME codecs "
        "(avc1/hvc1/vp09, mp4a/opus audio) are the remaining stub, "
        "and the build ships the Spark plumbing + a deterministic "
        "fake featurizer for those (see "
        "operators/llm.py::multimodal_features)"
    )


def resize_nearest(img: np.ndarray, out_h: int, out_w: int) -> np.ndarray:
    """Nearest-neighbor resize of an (H, W, C) uint8 image — the
    thumbnail/downsample stage of a multimodal pipeline, pure numpy
    (no imaging libs). Sample points sit at output-pixel centers
    (floor((i + 0.5) * H / out_h)), the standard NN convention, so
    results match common library implementations for integer factors
    and stay deterministic for all shapes."""
    h, w = img.shape[0], img.shape[1]
    ri = np.minimum(((np.arange(out_h) + 0.5) * h / out_h).astype(np.int64), h - 1)
    ci = np.minimum(((np.arange(out_w) + 0.5) * w / out_w).astype(np.int64), w - 1)
    return img[ri][:, ci]


def average_hash(img: np.ndarray, grid: int = 8) -> tuple[int, int]:
    """Perceptual AVERAGE HASH (aHash) of an image: partition the
    pixel grid into ``grid x grid`` equal blocks, set bit i (row-major
    block order) iff block i's pixel sum strictly exceeds the global
    per-block average, and return the 64-bit fingerprint as two
    non-negative 32-bit halves ``(hi, lo)`` — bits 32..63 and 0..31 —
    so the value survives signed-64 columns in any engine.

    Exactness: only integer sums and one integer cross-multiply
    (``block_sum * n_blocks > total_sum`` is "block mean > global
    mean" without a division), so the hash is bit-identical across
    implementations. Brightness invariance: adding a constant c to
    every pixel (no overflow wrap) adds ``c * block_px`` to every
    block and ``c * block_px * n_blocks`` to the total, leaving every
    comparison — and the hash — unchanged; that is the perceptual
    property that makes aHash a near-dup key for re-exposed or
    re-encoded variants of the same image.

    Requires height and width divisible by ``grid`` (the fixture's
    16x24 images with grid=8 → 2x3-pixel blocks, channels summed
    into their block).
    """
    h, w = img.shape[0], img.shape[1]
    if h % grid or w % grid:
        raise ValueError(f"image {h}x{w} not divisible by grid {grid}")
    flat = img.astype(np.int64).reshape(h, w, -1)
    blocks = (
        flat.reshape(grid, h // grid, grid, w // grid, flat.shape[2])
        .sum(axis=(1, 3, 4))
        .reshape(-1)
    )
    total = int(blocks.sum())
    n = grid * grid
    bits = (blocks * n) > total
    lo = sum(1 << i for i in range(32) if bits[i])
    hi = sum(1 << (i - 32) for i in range(32, n) if bits[i])
    return int(hi), int(lo)


# --- MP4 / ISO-BMFF container probe (r14, VERDICT r13 #6) ----------
#
# The WAV/RIFF discipline applied to video: the CONTAINER is a
# pure-bytes box grammar (ISO/IEC 14496-12 — size+fourcc headers,
# containers nest), so track layout, codec fourccs, timescales and
# durations parse without any codec library. Only the CODEC PAYLOAD
# decode stays behind decode_media's NotImplementedError gate — this
# moves the honest boundary from "video is a stub" to "codec payload
# decode is the stub", which is where every metadata-extraction /
# corpus-audit stage of a training pipeline actually operates.

_MP4_MOVIE_TIMESCALE = 600  # the classic QuickTime movie timescale
_MP4_VIDEO_TS = 90_000
_MP4_AUDIO_TS = 48_000
_MP4_VIDEO_CODECS = ("avc1", "hvc1", "vp09")
_MP4_AUDIO_CODECS = ("mp4a", "opus")
# container boxes the prober recurses into (stsd is handled apart:
# its children follow an 8-byte version/entry-count header)
_MP4_CONTAINERS = frozenset(
    {b"moov", b"trak", b"mdia", b"minf", b"stbl"}
)


def _mp4_box(btype: bytes, payload: bytes) -> bytes:
    import struct

    return struct.pack(">I", 8 + len(payload)) + btype + payload


def mp4_params(seed: int) -> dict:
    """The deterministic parameter program shared by synthesize_mp4
    and the regenerating SQL oracle (multimodal_probe_mp4): every
    value is integer arithmetic on the seed, and every division is
    exact (duration units are multiples of 300; 90000 and 48000 are
    both multiples of the 600-unit movie timescale)."""
    n_tracks = 1 + seed % 3
    dur_units = 600 + (seed % 60) * 300
    tracks = []
    for k in range(n_tracks):
        video = k % 2 == 0
        tracks.append(
            {
                "video": video,
                "codec": (
                    _MP4_VIDEO_CODECS[(seed + k) % 3]
                    if video
                    else _MP4_AUDIO_CODECS[(seed + k) % 2]
                ),
                "mdhd_ts": _MP4_VIDEO_TS if video else _MP4_AUDIO_TS,
                "mdhd_dur": dur_units
                * ((_MP4_VIDEO_TS if video else _MP4_AUDIO_TS)
                   // _MP4_MOVIE_TIMESCALE),
            }
        )
    return {
        "n_tracks": n_tracks,
        "timescale": _MP4_MOVIE_TIMESCALE,
        "dur_units": dur_units,
        "duration_ms": dur_units * 1000 // _MP4_MOVIE_TIMESCALE,
        "tracks": tracks,
        "mdat_bytes": 64 + seed % 128,
    }


_MP4_UNITY_MATRIX = (
    b"\x00\x01\x00\x00" + b"\x00" * 12
    + b"\x00\x01\x00\x00" + b"\x00" * 12
    + b"\x40\x00\x00\x00"
)


def synthesize_mp4(seed: int) -> bytes:
    """Deterministic minimal ISO-BMFF file: ftyp + moov(mvhd +
    trak(tkhd + mdia(mdhd + hdlr + minf(stbl(stsd(entry)))))×n) +
    mdat. Sample entries are header-minimal (8-byte reserved body
    after the fourcc) — the prober reads layout and fourccs, never
    codec payloads, so spec-complete avc1C/esds configs would be dead
    bytes here."""
    import struct

    p = mp4_params(seed)
    ftyp = _mp4_box(
        b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isommp42"
    )
    traks = b""
    for tid, t in enumerate(p["tracks"], start=1):
        tkhd = _mp4_box(
            b"tkhd",
            struct.pack(">I", 7)  # v0, flags enabled|in-movie|preview
            + struct.pack(">II", 0, 0)       # ctime, mtime
            + struct.pack(">I", tid)
            + b"\x00" * 4
            + struct.pack(">I", p["dur_units"])
            + b"\x00" * 8
            + struct.pack(">hhhh", 0, 0, 0 if t["video"] else 0x0100, 0)
            + _MP4_UNITY_MATRIX
            + struct.pack(
                ">II",
                (640 << 16) if t["video"] else 0,
                (480 << 16) if t["video"] else 0,
            ),
        )
        mdhd = _mp4_box(
            b"mdhd",
            struct.pack(">I", 0)
            + struct.pack(">II", 0, 0)
            + struct.pack(">II", t["mdhd_ts"], t["mdhd_dur"])
            + struct.pack(">Hh", 0x55C4, 0),  # 'und', predefined
        )
        hdlr = _mp4_box(
            b"hdlr",
            struct.pack(">I", 0)
            + b"\x00" * 4
            + (b"vide" if t["video"] else b"soun")
            + b"\x00" * 12
            + b"h\x00",  # null-terminated name
        )
        entry = _mp4_box(t["codec"].encode("ascii"), b"\x00" * 8)
        stsd = _mp4_box(
            b"stsd", struct.pack(">II", 0, 1) + entry
        )
        stbl = _mp4_box(b"stbl", stsd)
        minf = _mp4_box(b"minf", stbl)
        mdia = _mp4_box(b"mdia", mdhd + hdlr + minf)
        traks += _mp4_box(b"trak", tkhd + mdia)
    mvhd = _mp4_box(
        b"mvhd",
        struct.pack(">I", 0)
        + struct.pack(">II", 0, 0)
        + struct.pack(">II", p["timescale"], p["dur_units"])
        + struct.pack(">i", 0x00010000)  # rate 1.0
        + struct.pack(">h", 0x0100)      # volume 1.0
        + b"\x00" * 10
        + _MP4_UNITY_MATRIX
        + b"\x00" * 24
        + struct.pack(">I", p["n_tracks"] + 1),
    )
    moov = _mp4_box(b"moov", mvhd + traks)
    mdat = _mp4_box(
        b"mdat",
        bytes((seed * 31 + i) % 251 for i in range(p["mdat_bytes"])),
    )
    return ftyp + moov + mdat




def _mp4_children(payload: bytes):
    """Iterate (fourcc, body) of the boxes packed in ``payload``.
    Strict: a truncated or zero-size box header raises (a probe that
    silently stops mid-walk reports a wrong track count)."""
    import struct

    pos = 0
    while pos < len(payload):
        if pos + 8 > len(payload):
            raise ValueError("truncated box header")
        (size,) = struct.unpack_from(">I", payload, pos)
        btype = payload[pos + 4 : pos + 8]
        if size < 8 or pos + size > len(payload):
            raise ValueError(f"bad box size {size} for {btype!r}")
        yield btype, payload[pos + 8 : pos + size]
        pos += size


def probe_mp4(payload: bytes) -> dict:
    """Pure-bytes ISO-BMFF probe: walk the box tree and report the
    container metadata a corpus-audit stage needs — track count,
    movie timescale/duration, per-track handler + sample-entry codec
    fourcc + media timescale/duration, mdat byte count. No codec
    decode anywhere (that remains decode_media's documented gate)."""
    import struct

    top = list(_mp4_children(payload))
    if not top or top[0][0] != b"ftyp":
        raise ValueError("not an ISO-BMFF file (missing leading ftyp)")
    out = {
        "timescale": None,
        "dur_units": None,
        "tracks": [],
        "mdat_bytes": 0,
    }

    def walk_trak(body):
        t = {"handler": None, "codec": None, "mdhd_ts": None,
             "mdhd_dur": None}
        for btype, b in _mp4_children(body):
            if btype != b"mdia":
                continue
            for mtype, mb in _mp4_children(b):
                if mtype == b"mdhd":
                    if mb[0] != 0:
                        raise ValueError("mdhd v1 unsupported")
                    t["mdhd_ts"], t["mdhd_dur"] = struct.unpack_from(
                        ">II", mb, 12
                    )
                elif mtype == b"hdlr":
                    t["handler"] = mb[8:12].decode("ascii")
                elif mtype == b"minf":
                    for ntype, nb in _mp4_children(mb):
                        if ntype != b"stbl":
                            continue
                        for stype, sb in _mp4_children(nb):
                            if stype != b"stsd":
                                continue
                            (n_entries,) = struct.unpack_from(
                                ">I", sb, 4
                            )
                            if n_entries >= 1:
                                fourcc, _ = next(
                                    _mp4_children(sb[8:])
                                )
                                t["codec"] = fourcc.decode("ascii")
        return t

    for btype, body in top:
        if btype == b"mdat":
            out["mdat_bytes"] += len(body)
        elif btype == b"moov":
            for mtype, mb in _mp4_children(body):
                if mtype == b"mvhd":
                    if mb[0] != 0:
                        raise ValueError("mvhd v1 unsupported")
                    out["timescale"], out["dur_units"] = (
                        struct.unpack_from(">II", mb, 12)
                    )
                elif mtype == b"trak":
                    out["tracks"].append(walk_trak(mb))
    return out


# --- MJPEG-in-MP4: codec video decode, first honest step (r15) -----
#
# VERDICT r14 #5: the r14 container probe found the box grammar and
# the T.81 decoder (r8) already decodes baseline JPEG — MJPEG is the
# codec whose "video decode" IS per-frame JPEG decode, so composing
# the two proven components decodes real video samples end-to-end
# (demux via the genuine stsd/stts/stsc/stsz/stco sample table, then
# the entropy+IDCT pipeline per frame) and narrows decode_media's
# NotImplementedError gate to inter-frame codecs (avc1/hvc1/vp09...),
# which genuinely need codec libraries.

_MJPEG_MEDIA_TS = 90_000  # media timescale (the mp4 video convention)
_MJPEG_FRAME_DUR = 3_000  # per-frame stts delta: 30 fps


def mjpeg_mp4_params(seed: int) -> dict:
    """The integer program shared by synthesize_mjpeg_mp4 and the
    regenerating SQL oracle (multimodal_decode_mjpeg): frame count
    and per-frame JPEG seeds are pure integer arithmetic on the doc
    seed, so the oracle can regenerate every frame's quantized
    coefficient block program (``_jpeg_coef_program`` with the frame
    seed) without touching bytes."""
    n_frames = 1 + seed % 3
    return {
        "n_frames": n_frames,
        "frame_seeds": [seed * 3 + f + 1 for f in range(n_frames)],
    }


def synthesize_mjpeg_mp4(seed: int) -> bytes:
    """Deterministic minimal MJPEG-in-MP4: ftyp + moov(mvhd + one
    video trak whose stsd sample entry is the 'jpeg' fourcc and whose
    stbl carries a REAL sample table — stts (one run, 30 fps), stsc
    (one chunk holding all samples), stsz (genuine per-frame byte
    sizes), stco (the absolute file offset of the frame data) — and
    an mdat whose payload is the CONCATENATED real baseline JPEGs of
    the frame-seed program (synthesize_jpeg: genuinely entropy-coded
    T.81 bytes). The stco offset is resolved by building moov once
    with a placeholder and patching (fixed-width uint32 — the size of
    moov does not change), the standard single-pass muxer trick."""
    import struct

    p = mjpeg_mp4_params(seed)
    frames = [synthesize_jpeg(fs) for fs in p["frame_seeds"]]
    sizes = [len(fr) for fr in frames]
    n = p["n_frames"]
    media_dur = n * _MJPEG_FRAME_DUR
    movie_dur = media_dur * _MP4_MOVIE_TIMESCALE // _MJPEG_MEDIA_TS

    ftyp = _mp4_box(
        b"ftyp", b"isom" + struct.pack(">I", 0x200) + b"isommp42"
    )

    def build_moov(chunk_off: int) -> bytes:
        tkhd = _mp4_box(
            b"tkhd",
            struct.pack(">I", 7)
            + struct.pack(">II", 0, 0)
            + struct.pack(">I", 1)
            + b"\x00" * 4
            + struct.pack(">I", movie_dur)
            + b"\x00" * 8
            + struct.pack(">hhhh", 0, 0, 0, 0)
            + _MP4_UNITY_MATRIX
            + struct.pack(">II", 24 << 16, 16 << 16),
        )
        mdhd = _mp4_box(
            b"mdhd",
            struct.pack(">I", 0)
            + struct.pack(">II", 0, 0)
            + struct.pack(">II", _MJPEG_MEDIA_TS, media_dur)
            + struct.pack(">Hh", 0x55C4, 0),
        )
        hdlr = _mp4_box(
            b"hdlr",
            struct.pack(">I", 0)
            + b"\x00" * 4
            + b"vide"
            + b"\x00" * 12
            + b"h\x00",
        )
        entry = _mp4_box(b"jpeg", b"\x00" * 8)
        stsd = _mp4_box(b"stsd", struct.pack(">II", 0, 1) + entry)
        stts = _mp4_box(
            b"stts",
            struct.pack(">II", 0, 1)
            + struct.pack(">II", n, _MJPEG_FRAME_DUR),
        )
        stsc = _mp4_box(
            b"stsc",
            struct.pack(">II", 0, 1) + struct.pack(">III", 1, n, 1),
        )
        stsz = _mp4_box(
            b"stsz",
            struct.pack(">III", 0, 0, n)
            + b"".join(struct.pack(">I", s) for s in sizes),
        )
        stco = _mp4_box(
            b"stco",
            struct.pack(">II", 0, 1) + struct.pack(">I", chunk_off),
        )
        stbl = _mp4_box(b"stbl", stsd + stts + stsc + stsz + stco)
        minf = _mp4_box(b"minf", stbl)
        mdia = _mp4_box(b"mdia", mdhd + hdlr + minf)
        trak = _mp4_box(b"trak", tkhd + mdia)
        mvhd = _mp4_box(
            b"mvhd",
            struct.pack(">I", 0)
            + struct.pack(">II", 0, 0)
            + struct.pack(">II", _MP4_MOVIE_TIMESCALE, movie_dur)
            + struct.pack(">i", 0x00010000)
            + struct.pack(">h", 0x0100)
            + b"\x00" * 10
            + _MP4_UNITY_MATRIX
            + b"\x00" * 24
            + struct.pack(">I", 2),
        )
        return _mp4_box(b"moov", mvhd + trak)

    moov_len = len(build_moov(0))
    chunk_off = len(ftyp) + moov_len + 8  # +8: the mdat box header
    moov = build_moov(chunk_off)
    assert len(moov) == moov_len
    mdat = _mp4_box(b"mdat", b"".join(frames))
    return ftyp + moov + mdat


def demux_mjpeg_mp4(payload: bytes) -> tuple[str, list[bytes]]:
    """Demux an MJPEG MP4 through its REAL sample table: walk the box
    tree to the video trak's stbl, read stsd (codec fourcc), stsz
    (per-sample sizes) and stco (chunk offset), and slice the file
    bytes into per-frame JPEG payloads — the path every MP4 demuxer
    takes, no marker scanning. Returns (codec_fourcc, [frame bytes]).

    Strict minimal-profile contract (a demuxer that silently guesses
    emits wrong frames): exactly one video track, one chunk (stco
    entry count 1) holding all samples (stsc first entry
    (1, n_samples, 1)), stsz with explicit per-sample sizes, samples
    laid contiguously at the chunk offset, all ranges inside the
    file. Violations raise."""
    import struct

    top = list(_mp4_children(payload))
    if not top or top[0][0] != b"ftyp":
        raise ValueError("not an ISO-BMFF file (missing leading ftyp)")
    stbl_body = None
    for btype, body in top:
        if btype != b"moov":
            continue
        for mtype, mb in _mp4_children(body):
            if mtype != b"trak":
                continue
            for ttype, tb in _mp4_children(mb):
                if ttype != b"mdia":
                    continue
                is_video = False
                for dtype, db in _mp4_children(tb):
                    if dtype == b"hdlr" and db[8:12] == b"vide":
                        is_video = True
                for dtype, db in _mp4_children(tb):
                    if dtype != b"minf" or not is_video:
                        continue
                    for ntype, nb in _mp4_children(db):
                        if ntype == b"stbl":
                            if stbl_body is not None:
                                raise ValueError(
                                    "multiple video tracks unsupported"
                                )
                            stbl_body = nb
    if stbl_body is None:
        raise ValueError("no video track sample table")
    codec = None
    sizes = None
    chunk_off = None
    stsc_ok = False
    n_from_stsc = None
    for stype, sb in _mp4_children(stbl_body):
        if stype == b"stsd":
            (n_entries,) = struct.unpack_from(">I", sb, 4)
            if n_entries != 1:
                raise ValueError("stsd must have exactly one entry")
            fourcc, _ = next(_mp4_children(sb[8:]))
            codec = fourcc.decode("ascii")
        elif stype == b"stsz":
            fixed, count = struct.unpack_from(">II", sb, 4)
            if fixed != 0:
                raise ValueError("fixed-size stsz unsupported")
            sizes = list(
                struct.unpack_from(f">{count}I", sb, 12)
            )
        elif stype == b"stco":
            (count,) = struct.unpack_from(">I", sb, 4)
            if count != 1:
                raise ValueError("multi-chunk stco unsupported")
            (chunk_off,) = struct.unpack_from(">I", sb, 8)
        elif stype == b"stsc":
            (count,) = struct.unpack_from(">I", sb, 4)
            if count != 1:
                raise ValueError("multi-entry stsc unsupported")
            first, spc, sdi = struct.unpack_from(">III", sb, 8)
            if first != 1 or sdi != 1:
                raise ValueError("non-minimal stsc entry")
            n_from_stsc = spc
            stsc_ok = True
    if codec is None or sizes is None or chunk_off is None or not stsc_ok:
        raise ValueError("incomplete sample table")
    if n_from_stsc != len(sizes):
        raise ValueError(
            f"stsc says {n_from_stsc} samples, stsz says {len(sizes)}"
        )
    frames = []
    pos = chunk_off
    for s in sizes:
        if pos + s > len(payload):
            raise ValueError("sample range outside file")
        frames.append(payload[pos : pos + s])
        pos += s
    return codec, frames
