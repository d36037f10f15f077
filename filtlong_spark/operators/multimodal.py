"""Still-image codecs: stdlib-only PNG and GIF pixel decode.

- container-header sniffing (PNG IHDR / GIF logical screen)
- full PNG pixel decode: zlib inflate + scanline unfiltering
  (filters 0-4), 8-bit depth, gray/RGB(+alpha)
- full GIF pixel decode: LZW bitstream (variable code width, clear/EOI,
  KwKwK case), global/local palettes, interlace passes, every frame
  composited on the canvas with its graphic-control delay
- minimal PNG/GIF writers that the decoder tests round-trip through

No query, pipeline stage or CLI path reads these yet; the web-text
filter works on text columns only.
"""

from __future__ import annotations

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def make_png_bytes(width: int, height: int) -> bytes:
    """Minimal structurally-valid PNG header (magic + IHDR chunk) with no
    pixel data."""
    import struct
    ihdr = struct.pack(">II5B", width, height, 8, 2, 0, 0, 0)
    return PNG_MAGIC + struct.pack(">I", len(ihdr)) + b"IHDR" + ihdr


def sniff_bytes(data: bytes) -> tuple[str | None, int | None, int | None]:
    """(mime, width, height) parsed from container headers:
    - PNG: IHDR width/height, big-endian u32 at offsets 16/20
    - GIF87a/89a: logical screen size, little-endian u16 at 6/8
    Unknown containers -> (None, None, None)."""
    import struct
    if data[:8] == PNG_MAGIC and len(data) >= 24 and data[12:16] == b"IHDR":
        w, h = struct.unpack(">II", data[16:24])
        return "image/png", w, h
    if data[:6] in GIF_MAGICS and len(data) >= 10:
        w, h = struct.unpack("<HH", data[6:10])
        return "image/gif", w, h
    return None, None, None


def png_decode_pixels(data: bytes):
    """REAL stdlib-only PNG decode: chunk walk -> zlib-inflate the IDAT
    stream -> unfilter each scanline (PNG filters 0 None / 1 Sub / 2 Up /
    3 Average / 4 Paeth). Supports bit depth 8, color types 0 (gray),
    2 (RGB), 4 (gray+alpha), 6 (RGBA), no interlace. Returns a uint8
    numpy array of shape (height, width, channels)."""
    import struct
    import zlib

    import numpy as np
    if data[:8] != PNG_MAGIC:
        raise ValueError("not a PNG")
    i = 8
    w = h = ch = None
    idat = b""
    while i + 8 <= len(data):
        ln, typ = struct.unpack(">I4s", data[i:i + 8])
        chunk = data[i + 8:i + 8 + ln]
        i += 12 + ln
        if typ == b"IHDR":
            w, h, depth, ct, _comp, _filt, interlace = struct.unpack(
                ">II5B", chunk)
            if depth != 8:
                raise ValueError(f"unsupported bit depth {depth}")
            if interlace:
                raise ValueError("interlaced PNG not supported")
            ch = {0: 1, 2: 3, 4: 2, 6: 4}.get(ct)
            if ch is None:
                raise ValueError(f"unsupported color type {ct}")
        elif typ == b"IDAT":
            idat += chunk
        elif typ == b"IEND":
            break
    if w is None or not idat:
        raise ValueError("truncated PNG")
    raw = zlib.decompress(idat)
    stride = w * ch
    if len(raw) != h * (stride + 1):
        raise ValueError("IDAT size mismatch")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    pos = 0
    for y in range(h):
        f = raw[pos]
        line = np.frombuffer(raw[pos + 1:pos + 1 + stride],
                             dtype=np.uint8).astype(np.int32)
        pos += 1 + stride
        if f == 0:
            cur = line
        elif f == 2:                       # Up — vectorized
            cur = (line + prev) & 0xFF
        elif f in (1, 3, 4):               # Sub/Average/Paeth: left-dependent
            cur = np.empty(stride, dtype=np.int32)
            for x in range(stride):
                a = cur[x - ch] if x >= ch else 0
                b = prev[x]
                c = prev[x - ch] if x >= ch else 0
                if f == 1:
                    pred = a
                elif f == 3:
                    pred = (a + b) // 2
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (
                        b if pb <= pc else c)
                cur[x] = (line[x] + pred) & 0xFF
        else:
            raise ValueError(f"bad scanline filter {f}")
        out[y] = cur
        prev = cur
    return out.reshape(h, w, ch)


def png_encode(pixels, filter_type: int = 0) -> bytes:
    """Minimal valid PNG writer (fixture/test support for the decoder):
    8-bit gray/RGB/RGBA, one IDAT, every scanline filtered with
    ``filter_type`` so tests can exercise each unfilter path."""
    import struct
    import zlib

    import numpy as np
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim == 2:
        px = px[:, :, None]
    h, w, ch = px.shape
    ct = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    raw = bytearray()
    prev = np.zeros(w * ch, dtype=np.int32)
    for y in range(h):
        line = px[y].reshape(-1).astype(np.int32)
        left = np.concatenate([np.zeros(ch, np.int32), line[:-ch]]) \
            if len(line) > ch else np.zeros_like(line)
        if filter_type == 0:
            enc = line
        elif filter_type == 1:
            enc = (line - left) & 0xFF
        elif filter_type == 2:
            enc = (line - prev) & 0xFF
        elif filter_type == 3:
            enc = (line - (left + prev) // 2) & 0xFF
        elif filter_type == 4:
            upleft = np.concatenate([np.zeros(ch, np.int32), prev[:-ch]]) \
                if len(prev) > ch else np.zeros_like(prev)
            p = left + prev - upleft
            pa = np.abs(p - left)
            pb = np.abs(p - prev)
            pc = np.abs(p - upleft)
            pred = np.where((pa <= pb) & (pa <= pc), left,
                            np.where(pb <= pc, prev, upleft))
            enc = (line - pred) & 0xFF
        else:
            raise ValueError(f"bad filter {filter_type}")
        raw.append(filter_type)
        raw.extend(enc.astype(np.uint8).tobytes())
        prev = line
    def chunk(typ, payload):
        return (struct.pack(">I", len(payload)) + typ + payload
                + struct.pack(">I", zlib.crc32(typ + payload) & 0xFFFFFFFF))
    ihdr = struct.pack(">II5B", w, h, 8, ct, 0, 0, 0)
    return (PNG_MAGIC + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b""))


GIF_MAGICS = (b"GIF87a", b"GIF89a")


def _gif_lzw_decode(mcs: int, data: bytes, n_pixels: int):
    """REAL GIF LZW decompression: LSB-first bitstream, variable code
    width starting at mcs+1 (capped at 12), CLEAR resets the table, EOI
    ends, standard KwKwK handling. Returns a list of palette indices."""
    clear = 1 << mcs
    eoi = clear + 1
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    width = mcs + 1
    out = bytearray()
    acc = nbits = 0
    prev = None
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                table = list(base)
                width = mcs + 1
                prev = None
                continue
            if code == eoi:
                return list(out)
            if prev is None:
                if code >= clear:        # first code must be a literal
                    raise ValueError("corrupt GIF LZW stream")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):     # KwKwK
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError("corrupt GIF LZW stream")
            out.extend(entry)
            prev = entry
            if len(table) == (1 << width) and width < 12:
                width += 1
            if len(out) >= n_pixels:
                return list(out[:n_pixels])
    if len(out) < n_pixels:
        raise ValueError("truncated GIF pixel data")
    return list(out[:n_pixels])


_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def gif_decode_frames(data: bytes, max_frames: int | None = None):
    """REAL stdlib-only GIF decode, ALL frames (animated GIFs are the
    one multi-frame container decodable without a media library — the
    honest stand-in for video in this environment): logical screen +
    global/local color tables, graphic-control extensions (per-frame
    delay, transparency index, restore-to-background disposal), LZW
    decompression, interlace reordering, frame compositing onto the
    canvas. Returns (frames, delays_ms): a list of uint8 arrays of
    shape (screen_h, screen_w, 3) and each frame's display delay."""
    import struct

    import numpy as np
    if data[:6] not in GIF_MAGICS:
        raise ValueError("not a GIF")
    if len(data) < 13:
        raise ValueError("truncated GIF header")
    sw, sh, flags, bg, _ar = struct.unpack("<HHBBB", data[6:13])
    i = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = np.frombuffer(data[i:i + 3 * n], dtype=np.uint8)
        if gct.size != 3 * n:
            raise ValueError("truncated global color table")
        gct = gct.reshape(n, 3)
        i += 3 * n
    if gct is not None and bg < len(gct):
        canvas = np.tile(gct[bg], (sh, sw, 1)).astype(np.uint8)
        bg_rgb = gct[bg]
    else:
        canvas = np.zeros((sh, sw, 3), dtype=np.uint8)
        bg_rgb = np.zeros(3, dtype=np.uint8)
    frames: list = []
    delays: list[int] = []
    transparent = None
    delay_ms = 0
    disposal = 0
    while i < len(data):
        b = data[i]
        if b == 0x21:                     # extension
            ext = data[i + 1] if i + 1 < len(data) else 0
            i += 2
            if ext == 0xF9 and i < len(data) and data[i] >= 4:
                if i + 5 > len(data):
                    raise ValueError("truncated GIF graphic control")
                gflags = data[i + 1]
                delay_ms = struct.unpack("<H", data[i + 2:i + 4])[0] * 10
                transparent = data[i + 4] if gflags & 0x01 else None
                disposal = (gflags >> 2) & 0x07
            while i < len(data) and data[i] != 0:
                i += 1 + data[i]
            i += 1
        elif b == 0x2C:                   # image descriptor
            if i + 10 > len(data):
                raise ValueError("truncated image descriptor")
            x, y, w, h, iflags = struct.unpack("<HHHHB", data[i + 1:i + 10])
            i += 10
            pal = gct
            if iflags & 0x80:             # local color table
                n = 2 << (iflags & 0x07)
                pal = np.frombuffer(data[i:i + 3 * n], dtype=np.uint8)
                if pal.size != 3 * n:
                    raise ValueError("truncated local color table")
                pal = pal.reshape(n, 3)
                i += 3 * n
            if pal is None:
                raise ValueError("GIF image with no color table")
            if i >= len(data):
                raise ValueError("truncated GIF pixel data")
            mcs = data[i]
            i += 1
            lzw = bytearray()             # concatenate data sub-blocks
            while i < len(data) and data[i] != 0:
                ln = data[i]
                lzw.extend(data[i + 1:i + 1 + ln])
                i += 1 + ln
            i += 1                        # block terminator
            idx = np.array(_gif_lzw_decode(mcs, bytes(lzw), w * h),
                           dtype=np.int64).reshape(h, w)
            if iflags & 0x40:             # interlaced: reorder rows
                rows = []
                for start, step in _GIF_INTERLACE_PASSES:
                    rows.extend(range(start, h, step))
                deinter = np.empty_like(idx)
                deinter[rows] = idx
                idx = deinter
            if int(idx.max(initial=0)) >= len(pal):
                raise ValueError("palette index out of range")
            region = canvas[y:y + h, x:x + w]
            prev_region = region.copy() if disposal == 3 else None
            if transparent is not None:
                mask = idx != transparent
                region[mask] = pal[idx][mask]
            else:
                region[...] = pal[idx]
            frames.append(canvas.copy())
            delays.append(delay_ms)
            if disposal == 2:             # restore to background
                canvas[y:y + h, x:x + w] = bg_rgb
            elif disposal == 3:           # restore to previous canvas
                canvas[y:y + h, x:x + w] = prev_region
            transparent, delay_ms, disposal = None, 0, 0
            if max_frames is not None and len(frames) >= max_frames:
                return frames, delays
        elif b == 0x3B:                   # trailer
            break
        else:
            raise ValueError(f"unknown GIF block 0x{b:02x}")
    if not frames:
        raise ValueError("GIF contains no image data")
    return frames, delays


def gif_decode_pixels(data: bytes):
    """First composited frame of a GIF as a uint8 (h, w, 3) array."""
    frames, _ = gif_decode_frames(data, max_frames=1)
    return frames[0]


def _gif_lzw_encode(flat, bits: int) -> tuple[int, bytes]:
    """(min_code_size, stream): real LZW constraints honored via the
    classic uncompressed technique — literal codes with periodic CLEARs
    so the width never grows."""
    mcs = max(2, bits)
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    width = mcs + 1
    codes = [clear]
    span = (1 << mcs) - 2   # literals per clear window
    for ci, v in enumerate(flat):
        if ci and ci % span == 0:
            codes.append(clear)
        codes.append(int(v))
    codes.append(eoi)
    acc = nbits = 0
    stream = bytearray()
    for c in codes:
        acc |= c << nbits
        nbits += width
        while nbits >= 8:
            stream.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        stream.append(acc & 0xFF)
    return mcs, bytes(stream)


def _gif_frame_blocks(idx, bits: int, interlaced: bool,
                      delay_ms: int | None = None) -> bytes:
    """[GCE +] image descriptor + LZW sub-blocks for one frame."""
    import struct
    h, w = idx.shape
    out = bytearray()
    if delay_ms is not None:
        out.extend(b"\x21\xf9\x04\x00"
                   + struct.pack("<H", delay_ms // 10) + b"\x00\x00")
    out.extend(struct.pack("<BHHHHB", 0x2C, 0, 0, w, h,
                           0x40 if interlaced else 0))
    rows = idx
    if interlaced:
        order = []
        for start, step in _GIF_INTERLACE_PASSES:
            order.extend(range(start, h, step))
        rows = idx[order]
    mcs, stream = _gif_lzw_encode(rows.reshape(-1), bits)
    out.append(mcs)
    for o in range(0, len(stream), 255):
        blk = stream[o:o + 255]
        out.append(len(blk))
        out.extend(blk)
    out.append(0x00)
    return bytes(out)


def _gif_header(w: int, h: int, palette) -> tuple[bytearray, int]:
    import struct
    n = max(2, len(palette))
    bits = max(1, (n - 1).bit_length())
    size = 1 << bits
    pal = bytearray()
    for j in range(size):
        r, g, b = palette[j] if j < len(palette) else (0, 0, 0)
        pal.extend((r, g, b))
    out = bytearray(b"GIF89a")
    out.extend(struct.pack("<HHBBB", w, h, 0x80 | (bits - 1), 0, 0))
    out.extend(pal)
    return out, bits


def gif_encode(indices, palette, interlaced: bool = False,
               comment: bytes | None = None) -> bytes:
    """Minimal valid single-frame GIF89a writer (fixture/test support
    for the decoder): an (h, w) index array + palette."""
    import numpy as np
    idx = np.asarray(indices, dtype=np.uint8)
    h, w = idx.shape
    out, bits = _gif_header(w, h, palette)
    if comment is not None:
        out.extend(b"\x21\xfe" + bytes([len(comment)]) + comment + b"\x00")
    out.extend(_gif_frame_blocks(idx, bits, interlaced))
    out.append(0x3B)
    return bytes(out)


def gif_encode_animated(frames, palette, delay_ms: int = 100) -> bytes:
    """Animated GIF89a writer (fixture/test support for the frame
    sampler): every frame full-screen with a GCE delay."""
    import numpy as np
    arrs = [np.asarray(f, dtype=np.uint8) for f in frames]
    h, w = arrs[0].shape
    out, bits = _gif_header(w, h, palette)
    for a in arrs:
        out.extend(_gif_frame_blocks(a, bits, False, delay_ms=delay_ms))
    out.append(0x3B)
    return bytes(out)


