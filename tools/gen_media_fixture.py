"""Generate real PNG media fixtures + INDEPENDENT expected values for the
image-decode path: deterministic RGB arrays are synthesized in pure Python,
encoded as real PNGs (pure zlib, no imaging library), and the expected
(width, height, sha256 of raw row-major RGB bytes, sha256 of the base64
data-URI) are computed from the arrays BEFORE encoding — so the Scala
decode path is differentially verified against values that never touched
the JVM.

Outputs: src/test/resources/media/img_*.png
         src/test/resources/expected/image_decode.parquet

It also writes one PNG per colour type / bit depth / layout the decoder must
handle (gray 1/2/4/8/16, gray+alpha, palette with and without tRNS, RGBA8,
RGB16, RGBA16, Adam7 interlace, multi-IDAT, every row filter 0-4, and zlib
streams with stored blocks, fixed codes, a small window, 1-byte IDAT chunks
and no Adler-32 trailer), with the
RGB bytes PIL's `convert("RGB")` yields computed from the source samples:
gray replicated with no gamma, 1/2/4-bit gray scaled x255/x85/x17, 16-bit
samples keep the high byte, alpha dropped, tRNS/gAMA/sRGB/iCCP ignored,
palette indices past PLTE black.

Outputs: src/test/resources/media/pngtypes/*.png
         src/test/resources/media/pngtypes/expected.tsv (name, width, height,
         sha256 of the expected row-major RGB bytes)
"""
import base64
import hashlib
import struct
import sys
import zlib

OUTDIR = 'src/test/resources/media'
EXPECTED = 'src/test/resources/expected/image_decode.parquet'
TYPES_DIR = OUTDIR + '/pngtypes'
ADAM7 = [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
         (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2)]
CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def chunk(tag: bytes, payload: bytes) -> bytes:
    c = struct.pack('>I', len(payload)) + tag + payload
    return c + struct.pack('>I', zlib.crc32(tag + payload) & 0xffffffff)


def write_png(path: str, w: int, h: int, rgb: bytes) -> bytes:
    ihdr = struct.pack('>IIBBBBB', w, h, 8, 2, 0, 0, 0)  # 8-bit truecolor
    raw = b''.join(b'\x00' + rgb[y * w * 3:(y + 1) * w * 3] for y in range(h))
    png = (b'\x89PNG\r\n\x1a\n' + chunk(b'IHDR', ihdr)
           + chunk(b'IDAT', zlib.compress(raw, 9)) + chunk(b'IEND', b''))
    with open(path, 'wb') as f:
        f.write(png)
    return png


def pattern(w: int, h: int, seed: int) -> bytes:
    out = bytearray()
    for y in range(h):
        for x in range(w):
            out.append((x * 7 + y * 13 + seed * 31) % 256)
            out.append((x * 3 + y * 5 + seed * 17) % 256)
            out.append((x * 11 + y * 2 + seed * 53) % 256)
    return bytes(out)


def pack_row(samples, depth: int) -> bytes:
    """Big-endian samples; sub-byte depths packed from the high bit down."""
    if depth == 8:
        return bytes(samples)
    if depth == 16:
        return b''.join(struct.pack('>H', v) for v in samples)
    out, acc, nbits = bytearray(), 0, 0
    for v in samples:
        acc, nbits = (acc << depth) | v, nbits + depth
        if nbits == 8:
            out.append(acc)
            acc, nbits = 0, 0
    if nbits:
        out.append(acc << (8 - nbits))
    return bytes(out)


def paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    return a if pa <= pb and pa <= pc else (b if pb <= pc else c)


def filter_row(ftype: int, row: bytes, prev: bytes, bpp: int) -> bytes:
    out = bytearray([ftype])
    for i, x in enumerate(row):
        a = row[i - bpp] if i >= bpp else 0
        b = prev[i]
        c = prev[i - bpp] if i >= bpp else 0
        pred = [0, a, b, (a + b) // 2, paeth(a, b, c)][ftype]
        out.append((x - pred) % 256)
    return bytes(out)


def encode_png(w, h, depth, ct, px, plte=None, trns=None, extra=(), interlace=False, idat_split=0,
               compress=None, adler=True):
    """px[y][x] is the tuple of channel samples of one pixel; `extra` chunks go
    before PLTE, tRNS after it. Row filter types cycle 0-4 down each (pass)
    image, so every fixture walks all five. `compress` maps the filtered
    raster to the zlib stream (default: level 9); `adler=False` drops the
    stream's Adler-32 trailer."""
    bpp = max(1, CHANNELS[ct] * depth // 8)
    passes = ADAM7 if interlace else [(0, 0, 1, 1)]
    raw, k = bytearray(), 0
    for x0, y0, dx, dy in passes:
        xs, ys = range(x0, w, dx), range(y0, h, dy)
        if not xs or not ys:
            continue
        prev = None
        for y in ys:
            row = pack_row([v for x in xs for v in px[y][x]], depth)
            prev = prev or bytes(len(row))
            raw += filter_row(k % 5, row, prev, bpp)
            prev, k = row, k + 1
    z = (compress or (lambda r: zlib.compress(r, 9)))(bytes(raw))
    if not adler:
        z = z[:-4]
    idat = ([chunk(b'IDAT', z[i:i + idat_split]) for i in range(0, len(z), idat_split)]
            + [chunk(b'IDAT', b'')] if idat_split else [chunk(b'IDAT', z)])
    return (b'\x89PNG\r\n\x1a\n'
            + chunk(b'IHDR', struct.pack('>IIBBBBB', w, h, depth, ct, 0, 0, int(interlace)))
            + b''.join(chunk(t, d) for t, d in extra)
            + (chunk(b'PLTE', bytes(v for e in plte for v in e)) if plte else b'')
            + (chunk(b'tRNS', trns) if trns else b'')
            + b''.join(idat) + chunk(b'IEND', b''))


def expected_rgb(w, h, depth, ct, px, plte=None) -> bytes:
    """PIL `convert("RGB")` of the source samples (the rules in the module doc)."""
    out = bytearray()
    for y in range(h):
        for x in range(w):
            p = px[y][x]
            if ct == 3:
                out += bytes(plte[p[0]]) if p[0] < len(plte) else b'\0\0\0'
                continue
            s = [v >> 8 for v in p] if depth == 16 else [v * (255 // ((1 << depth) - 1)) for v in p]
            out += bytes(s[:3]) if ct in (2, 6) else bytes([s[0]] * 3)
    return bytes(out)


def type_fixtures():
    """(name, w, h, depth, colour type, pixels, palette, encode kwargs)."""
    def grid(w, h, ch, top, seed):
        return [[tuple((x * (5 + 2 * c) + y * (3 + c) + seed * (c + 1)) % (top + 1)
                       for c in range(ch)) for x in range(w)] for y in range(h)]
    anc = [(b'gAMA', struct.pack('>I', 45455)), (b'sRGB', b'\0'),
           (b'iCCP', b'fake\0\0' + zlib.compress(b'not a real profile'))]
    gray8 = grid(16, 9, 1, 255, 4)
    gray8[0][:4] = [(0,), (1,), (128,), (255,)]
    gray16 = grid(16, 9, 1, 65535, 5)
    gray16[0][0] = (0xB533,)
    rgb16 = grid(16, 9, 3, 65535, 6)
    rgb16[0][0] = (0xB533, 0x00FF, 0xFF00)
    pal = [((i * 37) % 256, (i * 91 + 7) % 256, (255 - i * 13) % 256) for i in range(200)]
    trns = bytes((i * 5) % 256 for i in range(200))
    return [
        ('gray1', 13, 7, 1, 0, grid(13, 7, 1, 1, 1), None, {}),
        ('gray2', 13, 7, 2, 0, grid(13, 7, 1, 3, 2), None, {}),
        ('gray4', 13, 7, 4, 0, grid(13, 7, 1, 15, 3), None, {}),
        ('gray8', 16, 9, 8, 0, gray8, None, dict(extra=anc)),
        ('gray16', 16, 9, 16, 0, gray16, None, {}),
        ('graya8', 11, 6, 8, 4, grid(11, 6, 2, 255, 7), None, {}),
        ('graya16', 11, 6, 16, 4, grid(11, 6, 2, 65535, 8), None, {}),
        ('pal1', 13, 5, 1, 3, grid(13, 5, 1, 1, 9), pal[:2], {}),
        # 12 PLTE entries for 16 possible indices: 12-15 read as black
        ('pal4_short', 13, 5, 4, 3, grid(13, 5, 1, 15, 10), pal[:12], {}),
        ('pal8', 16, 9, 8, 3, grid(16, 9, 1, 199, 11), pal, {}),
        ('pal8_trns', 16, 9, 8, 3, grid(16, 9, 1, 199, 12), pal, dict(trns=trns)),
        ('rgba8', 16, 9, 8, 6, grid(16, 9, 4, 255, 13), None, {}),
        ('rgb16', 16, 9, 16, 2, rgb16, None, dict(extra=anc)),
        ('rgba16', 9, 5, 16, 6, grid(9, 5, 4, 65535, 14), None, {}),
        ('adam7_rgb8', 13, 11, 8, 2, grid(13, 11, 3, 255, 15), None, dict(interlace=True)),
        ('adam7_rgb16', 10, 9, 16, 2, grid(10, 9, 3, 65535, 16), None, dict(interlace=True)),
        # 3x3: passes 2, 3 and 5 are empty and carry no rows at all
        ('adam7_gray2', 3, 3, 2, 0, grid(3, 3, 1, 3, 17), None, dict(interlace=True)),
        ('multi_idat', 16, 9, 8, 2, grid(16, 9, 3, 255, 18), None, dict(idat_split=7)),
        ('filters_rgb8', 16, 10, 8, 2, grid(16, 10, 3, 255, 19), None, {}),
        # a 144 kB raster: a decoder that inflates it in pieces must carry the
        # row above across each cut (rows 72 and 144 use Up and Paeth)
        ('large_rgb8', 300, 160, 8, 2, grid(300, 160, 3, 255, 20), None, {}),
        # zlib edge streams: stored blocks over 64 KiB (a 72 kB raster at
        # level 0), fixed Huffman codes only, a 512-byte window (CINFO 1),
        # one IDAT chunk per zlib byte, and a complete raster whose stream
        # ends without its Adler-32 trailer
        ('zlib_stored', 150, 160, 8, 2, grid(150, 160, 3, 255, 21), None,
         dict(compress=lambda r: zlib.compress(r, 0))),
        ('zlib_fixed', 40, 30, 8, 2, grid(40, 30, 3, 255, 22), None,
         dict(compress=lambda r: deflate(r, strategy=zlib.Z_FIXED))),
        ('zlib_wbits9', 200, 40, 8, 2, grid(200, 40, 3, 255, 23), None,
         dict(compress=lambda r: deflate(r, wbits=9))),
        ('idat_1byte', 12, 9, 8, 2, grid(12, 9, 3, 255, 24), None, dict(idat_split=1)),
        ('no_adler', 16, 9, 8, 2, grid(16, 9, 3, 255, 25), None, dict(adler=False)),
    ]


def deflate(raw: bytes, wbits=15, strategy=zlib.Z_DEFAULT_STRATEGY) -> bytes:
    c = zlib.compressobj(9, zlib.DEFLATED, wbits, 9, strategy)
    return c.compress(raw) + c.flush()


def write_type_fixtures():
    import os
    os.makedirs(TYPES_DIR, exist_ok=True)
    lines = []
    for name, w, h, depth, ct, px, plte, kw in type_fixtures():
        with open(f'{TYPES_DIR}/{name}.png', 'wb') as f:
            f.write(encode_png(w, h, depth, ct, px, plte, **kw))
        rgb = expected_rgb(w, h, depth, ct, px, plte)
        lines.append(f'{name}\t{w}\t{h}\t{hashlib.sha256(rgb).hexdigest()}\n')
    with open(f'{TYPES_DIR}/expected.tsv', 'w') as f:
        f.writelines(lines)
    print(f'wrote {len(lines)} PNGs to {TYPES_DIR}')


def main():
    import os
    os.makedirs(OUTDIR, exist_ok=True)
    sizes = [(16, 9), (33, 17), (64, 64), (1, 1), (255, 3)]
    rows = []
    for i, (w, h) in enumerate(sizes):
        rgb = pattern(w, h, i)
        name = f'img_{i:02d}.png'
        png = write_png(f'{OUTDIR}/{name}', w, h, rgb)
        uri = 'data:image/png;base64,' + base64.b64encode(png).decode()
        n_px = w * h
        sums = [sum(rgb[c::3]) for c in range(3)]  # exact integer channel sums
        rows.append(dict(
            name=name, width=w, height=h,
            pixel_sha=hashlib.sha256(rgb).hexdigest(),
            uri_sha=hashlib.sha256(uri.encode()).hexdigest(),
            n_bytes=len(png),
            mean_r=sums[0] / n_px, mean_g=sums[1] / n_px, mean_b=sums[2] / n_px))
    import duckdb
    import pandas as pd
    df = pd.DataFrame(rows)
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT name, CAST(width AS INT) width, CAST(height AS INT) height, pixel_sha, uri_sha, CAST(n_bytes AS BIGINT) n_bytes, mean_r, mean_g, mean_b FROM df")
    con.execute(f"COPY t TO '{EXPECTED}' (FORMAT PARQUET)")
    print(f"wrote {len(rows)} PNGs to {OUTDIR} and expected to {EXPECTED}")
    write_type_fixtures()


if __name__ == '__main__':
    main()
