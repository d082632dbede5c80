"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed via Arrow-batched ``mapInPandas``.

Decode tiers, in preference order per blob:

1. **Real, dependency-free**: BMP (24/32-bpp BI_RGB, header parse +
   true nearest-neighbor resize), WAV (RIFF/PCM via the stdlib
   ``wave`` module), 8-bit non-interlaced PNG (stdlib ``zlib``
   inflate + full scanline unfiltering incl. Paeth, plus a matching
   encoder), and BASELINE sequential JPEG (full pure-Python Huffman +
   IDCT decode incl. 4:2:0 chroma and restart markers, plus a
   matching encoder — ``operators/jpeg.py``). These run in THIS
   container and prove the whole path on genuine bytes.
   Progressive (SOF2) JPEG decodes in the same dependency-free tier
   (``operators/jpeg_progressive.py`` — spectral selection +
   successive approximation, with a matching encoder for fixtures).
2. **Real, optional dependency**: arithmetic-coded JPEG and exotic
   PNG variants through PIL when importable (not in this container)
   — also the throughput path for bulk decode (libjpeg-turbo beats
   per-blob pure Python by orders of magnitude).
3. **Deterministic fake**: anything else falls back to a clearly-marked
   sha256-derived stub so the Spark plumbing (schema, Arrow batching,
   frame explode) stays fully testable; ``require_real_decode`` is the
   guard for callers that must not silently get fakes.

At 100 TB: binary payloads ride in parquet alongside metadata; filters
on metadata prune before any byte is decoded; ``mapInPandas`` streams
Arrow batches so a partition never materializes as Python objects row
by row.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

try:  # pragma: no cover - not installed in this environment
    from PIL import Image  # noqa: F401

    _HAVE_PIL = True
except ImportError:
    _HAVE_PIL = False


# --------------------------------------------------------------- real codecs
# Pure-Python codecs for uncompressed formats — no third-party libs, so
# the REAL branch is exercisable in any container. BMP: 24/32-bpp
# BI_RGB (the uncompressed Windows bitmap); WAV: RIFF PCM via stdlib.


def encode_bmp(width: int, height: int, rgb: bytes) -> bytes:
    """Serialize a top-down RGB (3 bytes/px, row-major) buffer as a
    STANDARD 24-bpp BI_RGB .bmp — samples stored B,G,R and rows
    bottom-up with 4-byte padding, so any external viewer/decoder
    reads the colors correctly (the fixture-side inverse of
    :func:`_decode_bmp`)."""
    if len(rgb) != width * height * 3:
        raise ValueError("rgb buffer must be width*height*3 bytes")
    bgr = bytearray(rgb)
    bgr[0::3], bgr[2::3] = bgr[2::3], bgr[0::3]
    row_raw = width * 3
    pad = b"\x00" * ((4 - row_raw % 4) % 4)
    rows = [
        bytes(bgr[y * row_raw : (y + 1) * row_raw]) + pad
        for y in range(height - 1, -1, -1)
    ]
    data = b"".join(rows)
    off = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", off + len(data), 0, 0, off)
    info = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(data), 2835, 2835, 0, 0
    )
    return header + info + data


def _parse_bmp(b: bytes):
    """(width, height, channels, data_offset, bottom_up) for an
    uncompressed BITMAPINFOHEADER 24/32-bpp BMP; None when ``b`` is not
    one (caller falls through to the next decode tier)."""
    if len(b) < 54 or b[:2] != b"BM":
        return None
    off = struct.unpack_from("<I", b, 10)[0]
    hsize, w, h, _planes, bpp, comp = struct.unpack_from("<IiiHHI", b, 14)
    if hsize < 40 or comp != 0 or bpp not in (24, 32) or w <= 0 or h == 0:
        return None
    return w, abs(h), bpp // 8, off, h > 0


def _resize_bmp(b: bytes, tw: int, th: int) -> bytes | None:
    """True nearest-neighbor resample of a parsed BMP, re-encoded as
    24-bpp BMP. Rides :func:`_decode_bmp` (RGB pixel space) so the
    channel order survives the round trip regardless of the source's
    BGR storage; alpha is dropped. None when ``b`` is not an
    uncompressed BMP."""
    p = _decode_bmp(b)
    if p is None:
        return None
    w, h, ch, px = p
    out = bytearray()
    for ty in range(th):
        sy = min(ty * h // th, h - 1)
        rs = sy * w * ch
        for tx in range(tw):
            sx = min(tx * w // tw, w - 1)
            out += px[rs + sx * ch : rs + sx * ch + 3].ljust(3, b"\x00")
    return encode_bmp(tw, th, bytes(out))


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# color type -> samples per pixel (8-bit depth, non-interlaced only)
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def encode_png(width: int, height: int, pixels: bytes, channels: int = 3) -> bytes:
    """Serialize a top-down row-major 8-bit pixel buffer (gray / RGB /
    gray+alpha / RGBA by ``channels``) as a non-interlaced PNG using
    stdlib ``zlib`` — the fixture-side inverse of :func:`_decode_png`."""
    import zlib

    color = {1: 0, 3: 2, 2: 4, 4: 6}[channels]
    if len(pixels) != width * height * channels:
        raise ValueError("pixel buffer must be width*height*channels bytes")
    stride = width * channels
    raw = b"".join(
        b"\x00" + pixels[y * stride : (y + 1) * stride] for y in range(height)
    )

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _parse_png(b: bytes):
    """(width, height, channels) from the IHDR of an 8-bit
    non-interlaced PNG; None when ``b`` is not one (caller falls
    through to the next decode tier). Header-only — no inflate."""
    if len(b) < 33 or b[:8] != _PNG_SIG or b[12:16] != b"IHDR":
        return None
    w, h, depth, color, comp, filt, interlace = struct.unpack_from(
        ">IIBBBBB", b, 16
    )
    if depth != 8 or color not in _PNG_CHANNELS or comp or filt or interlace:
        return None
    if w <= 0 or h <= 0:
        return None
    return w, h, _PNG_CHANNELS[color]


_MAX_PNG_PIXELS = 1 << 26  # 64 Mpx ≈ 256 MB RGBA — per-blob executor RAM cap


def _decode_png(b: bytes, max_pixels: int = _MAX_PNG_PIXELS):
    """(width, height, channels, top-down row-major pixel bytes) for an
    8-bit non-interlaced gray/RGB/gray+alpha/RGBA PNG — stdlib ``zlib``
    inflate plus full scanline unfiltering (filters 0-4 incl. Paeth);
    None when ``b`` is not such a PNG. Per-blob CPU work inside an
    Arrow batch; payload-bounded, never corpus-bounded.

    Decompression-bomb safe (untrusted-blob path): inflate is BOUNDED
    at the size the IHDR promises — a crafted tiny IDAT that would
    expand past it is cut off mid-stream (``unconsumed_tail``) and
    rejected, never materialized; and the IHDR promise itself is
    capped at ``max_pixels`` so a forged huge-dimensions header can't
    turn the bound into the bomb."""
    import zlib

    hdr = _parse_png(b)
    if hdr is None:
        return None
    w, h, ch = hdr
    if w * h > max_pixels:
        return None
    # walk chunks, concatenating IDAT payloads
    idat, pos = [], 8
    while pos + 8 <= len(b):
        (ln,) = struct.unpack_from(">I", b, pos)
        tag = b[pos + 4 : pos + 8]
        if tag == b"IDAT":
            idat.append(b[pos + 8 : pos + 8 + ln])
        elif tag == b"IEND":
            break
        pos += 12 + ln
    stride = w * ch
    expected = h * (1 + stride)
    d = zlib.decompressobj()
    try:
        raw = d.decompress(b"".join(idat), expected)
    except zlib.error:
        return None
    if d.unconsumed_tail or len(raw) != expected:
        # more output was pending past the IHDR-promised size (bomb or
        # corrupt stream), or the stream ended short — reject either way
        return None
    out = bytearray(h * stride)
    prev = bytearray(stride)
    for y in range(h):
        f = raw[y * (1 + stride)]
        line = bytearray(raw[y * (1 + stride) + 1 : (y + 1) * (1 + stride)])
        if f == 1:  # Sub
            for i in range(ch, stride):
                line[i] = (line[i] + line[i - ch]) & 0xFF
        elif f == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif f == 3:  # Average
            for i in range(stride):
                left = line[i - ch] if i >= ch else 0
                line[i] = (line[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for i in range(stride):
                a = line[i - ch] if i >= ch else 0
                c = prev[i - ch] if i >= ch else 0
                p = a + prev[i] - c
                pa, pb, pc = abs(p - a), abs(p - prev[i]), abs(p - c)
                pr = a if pa <= pb and pa <= pc else (prev[i] if pb <= pc else c)
                line[i] = (line[i] + pr) & 0xFF
        elif f != 0:
            return None
        out[y * stride : (y + 1) * stride] = line
        prev = line
    return w, h, ch, bytes(out)


def _decode_bmp(b: bytes):
    """(width, height, channels, top-down row-major RGB(A) pixel
    bytes) for an uncompressed 24/32-bpp BMP — the full-pixel sibling
    of :func:`_parse_bmp` (which stops at the header). BI_RGB stores
    samples B,G,R(,A); they are swapped to R,G,B(,A) here so every
    downstream consumer (luma, perceptual hashing, resize) sees the
    same channel order as the PNG/JPEG tiers — an externally-produced
    BMP of a red image must hash like its PNG re-encode. None when
    ``b`` is not such a BMP."""
    p = _parse_bmp(b)
    if p is None:
        return None
    w, h, ch, off, bottom_up = p
    stride = (w * ch + 3) & ~3
    if len(b) < off + stride * h:
        return None
    rows = []
    ys = range(h - 1, -1, -1) if bottom_up else range(h)
    for y in ys:
        rs = off + y * stride
        rows.append(b[rs : rs + w * ch])
    px = bytearray(b"".join(rows))
    px[0::ch], px[2::ch] = px[2::ch], px[0::ch]  # BGR(A) -> RGB(A)
    return w, h, ch, bytes(px)


def decode_pixels(b: bytes):
    """(width, height, channels, top-down row-major pixel bytes) through
    the REAL decode tiers — BMP, PNG, baseline JPEG, then PIL when
    importable; None when no real tier decodes (callers fall through or
    skip — never a fake, pixels feed perceptual hashing where a fake
    would manufacture dedup pairs)."""
    out = _decode_bmp(b)
    if out is None:
        out = _decode_png(b)
    if out is None:
        from .jpeg import decode_jpeg

        out = decode_jpeg(b)
    if out is None and _HAVE_PIL and (
        b[:4] == b"\x89PNG" or b[:3] == b"\xff\xd8\xff"
    ):  # pragma: no cover - PIL not in this container
        import io

        with Image.open(io.BytesIO(b)) as im:
            px = im.tobytes()
            out = (im.width, im.height, len(im.getbands()), px)
    return out


def _luma_plane(w: int, h: int, ch: int, px: bytes):
    """Integer luma per pixel: gray passes through; RGB(A) uses the
    exact integer BT.601 form ``(299R + 587G + 114B) // 1000`` (so a
    gray image re-encoded as RGB hashes IDENTICALLY: 1000v//1000 = v);
    gray+alpha takes the gray sample. Returns a list of ints."""
    if ch == 1:
        return list(px)
    if ch == 2:
        return list(px[0::2])
    step = ch  # 3 or 4; alpha ignored
    return [
        (299 * px[i] + 587 * px[i + 1] + 114 * px[i + 2]) // 1000
        for i in range(0, len(px), step)
    ]


def _perceptual_hash_int(b: bytes, method: str = "ahash", hash_size: int = 8):
    """Unsigned perceptual hash of one image blob, or None when no real
    tier decodes it. ``ahash``: downsample luma to hash_size² cells
    (area mean), bit = cell mean STRICTLY above the mean of cell means
    (strict > makes flat images hash 0, and brightness offsets cancel).
    ``dhash``: (hash_size+1)×hash_size grid, bit = right cell > left
    cell (gradient sign — robust to global brightness AND contrast).
    Bit order: row-major, bit index = row * hash_size + col (MSB-free
    plain indexing; bit i is ``(hash >> i) & 1``).

    All arithmetic is EXACT integers/rationals in both the numpy fast
    path (grid-divisible dims) and the pure fallback — the two produce
    bit-identical hashes (pinned by pytest), so the SQL oracle's
    closed-form replay never depends on which path ran."""
    dec = decode_pixels(b)
    if dec is None:
        return None
    w, h, ch, px = dec
    if w == 0 or h == 0:
        return None
    fast = _phash_numpy(w, h, ch, px, method, hash_size)
    if fast is not None:
        return fast
    luma = _luma_plane(w, h, ch, px)
    gw = hash_size + (1 if method == "dhash" else 0)
    gh = hash_size
    # area-mean downsample: cell (i, j) covers x in [i*w//gw, (i+1)*w//gw)
    cells = []
    for j in range(gh):
        y0, y1 = j * h // gh, max((j + 1) * h // gh, j * h // gh + 1)
        for i in range(gw):
            x0, x1 = i * w // gw, max((i + 1) * w // gw, i * w // gw + 1)
            s = 0
            for y in range(y0, min(y1, h)):
                row = y * w
                s += sum(luma[row + x0 : row + min(x1, w)])
            n = (min(y1, h) - y0) * (min(x1, w) - x0)
            cells.append((s, n))
    bits = 0
    if method == "dhash":
        for j in range(gh):
            for i in range(hash_size):
                left = cells[j * gw + i]
                right = cells[j * gw + i + 1]
                # exact rational compare: r_s/r_n > l_s/l_n
                if right[0] * left[1] > left[0] * right[1]:
                    bits |= 1 << (j * hash_size + i)
    else:
        from fractions import Fraction

        # exact rational arithmetic: no float rounding may ever flip a
        # bit, or the SQL oracle (integer arithmetic) and re-encode
        # invariance tests become tolerance games
        means = [Fraction(s, n) for s, n in cells]
        mean_of_means = sum(means) / len(means)
        for idx, m in enumerate(means):
            if m > mean_of_means:
                bits |= 1 << idx
    return bits


def _phash_numpy(w, h, ch, px, method, hash_size):
    """Vectorized perceptual hash for grid-divisible dims; None when
    numpy is absent or the dims don't divide the grid (pure path then).
    Integer-exact: int64 sums, cross-multiplied comparisons — never a
    float, so the bits match the pure path's rationals exactly."""
    try:
        import numpy as np
    except ImportError:  # pragma: no cover
        return None
    gw = hash_size + (1 if method == "dhash" else 0)
    gh = hash_size
    if w % gw or h % gh or w < gw or h < gh:
        return None
    arr = np.frombuffer(px, dtype=np.uint8).astype(np.int64)
    if ch == 1:
        luma = arr.reshape(h, w)
    elif ch == 2:
        luma = arr.reshape(h, w, 2)[:, :, 0]
    else:
        a = arr.reshape(h, w, ch)
        luma = (299 * a[:, :, 0] + 587 * a[:, :, 1] + 114 * a[:, :, 2]) // 1000
    # equal-size cells: exact integer cell sums
    s = luma.reshape(gh, h // gh, gw, w // gw).sum(axis=(1, 3))
    bits = 0
    if method == "dhash":
        # equal cell sizes ⇒ mean compare reduces to sum compare
        cmp = s[:, 1:] > s[:, :-1]
        for j in range(gh):
            for i in range(hash_size):
                if cmp[j, i]:
                    bits |= 1 << (j * hash_size + i)
    else:
        total = int(s.sum())
        n_cells = gw * gh
        cmp = s * n_cells > total
        for j in range(gh):
            for i in range(gw):
                if cmp[j, i]:
                    bits |= 1 << (j * gw + i)
    return bits


def image_perceptual_hash(
    df: DataFrame,
    content_col: str = "content",
    method: str = "ahash",
    hash_size: int = 8,
    out_col: str = "phash",
) -> DataFrame:
    """Append a 64-bit perceptual hash (``ahash`` / ``dhash``, signed
    bigint — the unsigned value two's-complement-wrapped) of each image
    blob, decoded through the REAL tiers (:func:`decode_pixels`);
    NULL for blobs no real tier decodes. Visually-identical re-encodes
    (PNG→JPEG, brightness shifts) land at Hamming distance ≈ 0, which
    makes this the multimodal twin of text MinHash: hash once, then
    near-dup on the hashes (:func:`image_hash_pairs`) without ever
    comparing pixels across rows. Per-blob CPU inside an Arrow batch;
    payload-bounded, embarrassingly parallel, zero shuffles."""
    if method not in ("ahash", "dhash"):
        raise ValueError(f"unknown perceptual hash method {method!r}")
    if hash_size * hash_size != 64:
        raise ValueError("hash_size must be 8 (64-bit hash contract)")
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + f", {out_col} bigint"

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            hs = []
            for data in pdf[content_col]:
                b = bytes(data) if data is not None else b""
                v = _perceptual_hash_int(b, method, hash_size)
                if v is not None and v >= 1 << 63:
                    v -= 1 << 64  # two's-complement into signed bigint
                hs.append(v)
            pdf[out_col] = pd.array(hs, dtype="Int64")
            yield pdf

    return df.mapInPandas(batches, schema=out_schema)


def _fp_band_explode(
    df: DataFrame, id_col: str, hash_col: str, band_bits: int
) -> DataFrame:
    """(_id, _ph, band, val) — the 64-bit fingerprint split into
    ``64/band_bits`` exact-match bands (NULL hashes filtered: an
    undecodable blob can't near-dup). Shared by the all-pairs join
    (:func:`hamming_hash_pairs`) and the standing-index family
    (:func:`hamming_index_build` / probe / incremental)."""
    h = F.col(hash_col)
    sk = df.select(F.col(id_col).alias("_id"), h.alias("_ph")).filter(
        h.isNotNull()
    )
    return sk.select("_id", "_ph", _fp_bands(band_bits)).select(
        "_id", "_ph", "bv.band", "bv.val"
    )


def _fp_bands(band_bits: int):
    """``bv``: one ``(band, val)`` struct per ``band_bits``-wide slice
    of the ``_ph`` fingerprint, exploded into one row each."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    (
                        F.shiftrightunsigned(F.col("_ph"), b * band_bits)
                        .bitwiseAND(F.lit((1 << band_bits) - 1))
                    ).alias("val"),
                )
                for b in range(64 // band_bits)
            ]
        )
    ).alias("bv")


def hamming_hash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "phash",
    max_hamming: int = 6,
    band_bits: int = 16,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, hamming ≤ max_hamming) over
    ANY 64-bit fingerprint column, Hamming-BUCKETED so it scales: the
    64-bit hash splits into ``64/band_bits`` bands, candidates are
    pairs that agree EXACTLY on at least one band (hash-join per band
    — by pigeonhole any pair within hamming < n_bands must share a
    band, so recall is total for max_hamming ≤ n_bands − 1 and
    near-total above), then one ``bit_count(xor)`` filter scores the
    survivors. Cost is Σ band-bucket², never n² — the same banding
    spine as text SimHash (``dedup.simhash_near_dups``), reused for
    image aHash/dHash (:func:`image_perceptual_hash`) and audio
    spectral fingerprints (:func:`audio_spectral_hash`) alike.

    ``max_bucket_size`` is the hot-bucket dial, same trade as MinHash's
    (``dedup.minhash_query_index``): a real lake holds floods of
    near-identical boilerplate images (solid-color thumbnails, blank
    scans — aHash 0) whose shared band buckets would go quadratic; a
    capped (band, value) bucket is EXCLUDED from candidate generation,
    so a flooded bucket costs nothing and pairs that ALSO share a cold
    band still surface. None (default) keeps recall total — correct
    for oracle-checked runs; set a cap at corpus scale.

    The banded self-join runs at DISTINCT-VALUE grain, not id grain:
    near-dup floods share few fingerprint VALUES, so value pairs are
    joined/deduped first (Σ bucket² over value multiplicities, then one
    tiny ``bit_count`` filter) and only the survivors expand back to id
    pairs — the candidate ``distinct()`` shuffles ≤ m² value rows, never
    n_bands × id-pair rows. Bucket sizes for the cap are the SUMMED raw
    row counts per (band, value) (every row of a value lands in the same
    bucket), so capped semantics are bit-identical to the id-grain join:
    a value whose every band bucket is flooded contributes no pairs, not
    even within its own group.

    Regime trade (measured): with value multiplicity the collapse
    is decisive (mult 8 at 400k rows: 2.14 s → 1.36 s; the mult ≈ 140
    registry fixture: 0.28×), while an ALL-UNIQUE fingerprint corpus —
    which generates ~no pairs either way — pays the extra value-grain
    dedup/expansion shuffles (800k unique rows: 3.7 s → 6.8 s, bounded
    at ~1.8×). Dedup-grade corpora are flood-heavy by construction
    (that is why ``max_bucket_size`` exists), so value grain is the
    default and only shape."""
    h = F.col(hash_col)
    raw = df.select(F.col(id_col).alias("_id"), h.alias("_ph")).filter(
        h.isNotNull()
    )
    # The narrow (_id, _ph) projection fans out to every branch below
    # (value counts, banded self-join, two expansion joins, the
    # within-group self-join) — without materialization each branch
    # re-executes the caller's UPSTREAM plan, which for perceptual
    # hashes is the full media decode chain (~6 re-decodes of the
    # corpus: a physical plan without it shows the MapInPandas chain
    # six times). At 100 TB the decode IS the dominant cost, so the two
    # longs per row are checkpointed LAZILY (zero extra jobs: the
    # pair query's own first pass materializes the blocks, exactly
    # the surrogate-key/connected-components pattern) and every
    # branch reads the blocks. Same treatment for the distinct-id
    # set and the value-count table so their shuffles also run once
    # instead of once per referencing join.
    raw = raw.localCheckpoint(eager=False)
    # id-grain candidate distinct collapsed dup rows; keep that
    sk = raw.distinct().localCheckpoint(eager=False)
    # RAW-row counts (not distinct), matching the id-grain join's bucket
    # sizing, where duplicate (id, hash) rows each occupied a bucket slot
    vals = raw.groupBy("_ph").agg(F.count("*").alias("_cnt")).localCheckpoint(
        eager=False
    )
    banded = vals.select("_ph", "_cnt", _fp_bands(band_bits)).select(
        "_ph", "_cnt", "bv.band", "bv.val"
    )
    if max_bucket_size is not None:
        w = Window.partitionBy("band", "val")
        banded = (
            banded.withColumn("_bsz", F.sum("_cnt").over(w))
            .filter(F.col("_bsz") <= max_bucket_size)
            .drop("_bsz")
        )
    a, b = banded.alias("a"), banded.alias("b")
    vpairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a._ph") < F.col("b._ph")),
        )
        .select(F.col("a._ph").alias("ph_a"), F.col("b._ph").alias("ph_b"))
        .distinct()  # a value pair sharing k bands must expand once, not k times
        .withColumn(
            "hamming", F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    cross = (
        vpairs.join(
            sk.select(F.col("_id").alias("_ida"), F.col("_ph").alias("ph_a")),
            "ph_a",
        )
        .join(
            sk.select(F.col("_id").alias("_idb"), F.col("_ph").alias("ph_b")),
            "ph_b",
        )
        .filter(F.col("_ida") != F.col("_idb"))
        .select(
            F.least("_ida", "_idb").alias("id_a"),
            F.greatest("_ida", "_idb").alias("id_b"),
            "hamming",
        )
    )
    if max_hamming < 0:
        return cross  # empty either way; keep the id-grain join's contract
    within_src = sk
    if max_bucket_size is not None:
        # same-value pairs only surface when the value kept >= 1 band
        within_src = sk.join(banded.select("_ph").distinct(), "_ph")
    x, y = within_src.alias("x"), within_src.alias("y")
    within = x.join(
        y,
        (F.col("x._ph") == F.col("y._ph")) & (F.col("x._id") < F.col("y._id")),
    ).select(
        F.col("x._id").alias("id_a"),
        F.col("y._id").alias("id_b"),
        F.lit(0).alias("hamming"),
    )
    return cross.unionByName(within)


def image_hash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "phash",
    max_hamming: int = 6,
    band_bits: int = 16,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate IMAGE pairs from perceptual hashes — the
    multimodal twin of text MinHash. Thin front over
    :func:`hamming_hash_pairs` (kept as the image-named entry point;
    the banding mechanics and the ``max_bucket_size`` boilerplate-flood
    dial are documented there)."""
    return hamming_hash_pairs(
        df, id_col, hash_col, max_hamming, band_bits, max_bucket_size
    )


def audio_hash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "afp",
    max_hamming: int = 3,
    band_bits: int = 16,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-duplicate AUDIO pairs from spectral fingerprints
    (:func:`audio_spectral_hash`) — same banded Hamming join as
    images; the default ``max_hamming=3`` keeps banding recall total
    by pigeonhole (4 bands > 3)."""
    return hamming_hash_pairs(
        df, id_col, hash_col, max_hamming, band_bits, max_bucket_size
    )


# ------------------------------------------------------------ audio hashing
# Spectral-contour audio fingerprint, the audio twin of image aHash:
# 8 time windows x 9 fixed frequency bands, bit(w, m) = band energy m
# strictly above band energy m+1 in window w. Comparing ADJACENT band
# energies inside one window cancels global volume exactly (the way a
# brightness offset cancels in aHash), so a re-encode at a different
# level lands at Hamming 0. This is the Haitsma–Kalker energy-contour
# family (ISMIR 2002, "A Highly Robust Audio Fingerprinting System")
# reduced to its sign-of-band-difference core.

_AUDIO_BAND_EDGES_HZ = (300, 600, 900, 1200, 1500, 1800, 2100, 2400, 2700, 3000)


def _pcm16_mono(b: bytes):
    """(sample_rate, list-of-int mono samples) for a RIFF/PCM 16-bit
    WAV (channels averaged with exact integer floor-mean), or None when
    ``b`` is not one."""
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    import io
    import wave

    try:
        with wave.open(io.BytesIO(b)) as wf:
            if wf.getsampwidth() != 2:
                return None
            sr = wf.getframerate()
            ch = wf.getnchannels()
            raw = wf.readframes(wf.getnframes())
    except Exception:
        return None
    # a corrupt data chunk may carry an odd byte count — drop the
    # trailing half-sample instead of letting unpack throw
    n16 = len(raw) // 2
    x = struct.unpack(f"<{n16}h", raw[: n16 * 2])
    if ch > 1:
        x = [sum(x[i : i + ch]) // ch for i in range(0, len(x) - ch + 1, ch)]
    return sr, list(x)


def _audio_band_bins(sr: int, n: int, edges: tuple) -> list[tuple[int, int]]:
    """Half-open rfft-bin ranges [k_lo, k_hi) per band for window
    length ``n`` at sample rate ``sr`` — exact integer ceils, so the
    numpy and pure paths always agree on band membership."""
    top = n // 2 + 1
    out = []
    for m in range(len(edges) - 1):
        k_lo = -(-edges[m] * n // sr)
        k_hi = min(-(-edges[m + 1] * n // sr), top)
        out.append((k_lo, k_hi))
    return out


def _audio_fp_numpy(sr: int, x, n_windows: int, edges: tuple):
    """Vectorized fingerprint (rfft per window, band energies by bin
    slices); None when numpy is absent (pure path then)."""
    try:
        import numpy as np
    except ImportError:  # pragma: no cover
        return None
    n = len(x) // n_windows
    w = np.asarray(x[: n * n_windows], dtype=np.float64).reshape(n_windows, n)
    X = np.fft.rfft(w, axis=1)
    mag2 = X.real * X.real + X.imag * X.imag
    nb = len(edges) - 1
    E = np.zeros((n_windows, nb))
    for m, (k_lo, k_hi) in enumerate(_audio_band_bins(sr, n, edges)):
        if k_lo < k_hi:
            E[:, m] = mag2[:, k_lo:k_hi].sum(axis=1)
    bits = 0
    for wi in range(n_windows):
        for m in range(nb - 1):
            if E[wi, m] > E[wi, m + 1]:
                bits |= 1 << (wi * 8 + m)
    return bits


def _audio_fp_pure(sr: int, x, n_windows: int, edges: tuple) -> int:
    """Dependency-free fingerprint: direct DFT at exactly the bins each
    band covers (Goertzel-shaped O(band_bins · n) per window — the
    correctness fallback, not the throughput path)."""
    import math

    n = len(x) // n_windows
    bins = _audio_band_bins(sr, n, edges)
    nb = len(edges) - 1
    bits = 0
    for wi in range(n_windows):
        win = x[wi * n : (wi + 1) * n]
        E = []
        for k_lo, k_hi in bins:
            e = 0.0
            for k in range(k_lo, k_hi):
                re = im = 0.0
                step = -2.0 * math.pi * k / n
                for i, v in enumerate(win):
                    re += v * math.cos(step * i)
                    im += v * math.sin(step * i)
                e += re * re + im * im
            E.append(e)
        for m in range(nb - 1):
            if E[m] > E[m + 1]:
                bits |= 1 << (wi * 8 + m)
    return bits


def _audio_fp_int(
    b: bytes, n_windows: int = 8, edges: tuple = _AUDIO_BAND_EDGES_HZ
):
    """Unsigned 64-bit spectral fingerprint of one WAV blob, or None
    when the blob is not 16-bit RIFF/PCM or is too short to fill the
    window grid. numpy and pure paths compute the same DFT energies
    (float summation order may differ; the comparisons that define
    bits carry wide margins for any signal whose band contour is not
    itself at the noise floor)."""
    dec = _pcm16_mono(b)
    if dec is None:
        return None
    sr, x = dec
    if sr <= 0 or len(x) < n_windows:
        return None
    # too short to fill the window grid: if NO band maps to any rfft
    # bin at this window length, the fingerprint would be the
    # degenerate all-zero hash (every clip pairing with every other) —
    # that's absence of evidence, which the contract spells NULL
    n = len(x) // n_windows
    if all(k_lo >= k_hi for k_lo, k_hi in _audio_band_bins(sr, n, edges)):
        return None
    fast = _audio_fp_numpy(sr, x, n_windows, edges)
    if fast is not None:
        return fast
    return _audio_fp_pure(sr, x, n_windows, edges)


def audio_spectral_hash(
    df: DataFrame,
    content_col: str = "content",
    out_col: str = "afp",
    n_windows: int = 8,
) -> DataFrame:
    """Append a 64-bit spectral-contour fingerprint (signed bigint —
    the unsigned value two's-complement-wrapped, same convention as
    :func:`image_perceptual_hash`) of each audio blob decoded through
    the REAL RIFF/PCM tier; NULL for anything that tier can't decode.
    Volume changes cancel bit-for-bit (adjacent-band energy compares),
    so a re-encode at a different level near-dups at Hamming 0 via
    :func:`audio_hash_pairs` — the audio twin of text MinHash and
    image aHash. Per-blob CPU inside an Arrow batch; payload-bounded,
    embarrassingly parallel, zero shuffles."""
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + f", {out_col} bigint"

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            hs = []
            for data in pdf[content_col]:
                b = bytes(data) if data is not None else b""
                v = _audio_fp_int(b, n_windows)
                if v is not None and v >= 1 << 63:
                    v -= 1 << 64
                hs.append(v)
            pdf[out_col] = pd.array(hs, dtype="Int64")
            yield pdf

    return df.mapInPandas(batches, schema=out_schema)


def _resize_png(b: bytes, tw: int, th: int) -> bytes | None:
    """True nearest-neighbor resample of a decoded PNG, re-encoded as
    PNG with the same channel count. None when ``b`` is not an 8-bit
    non-interlaced PNG."""
    p = _decode_png(b)
    if p is None:
        return None
    w, h, ch, px = p
    out = bytearray()
    for ty in range(th):
        sy = min(ty * h // th, h - 1)
        rs = sy * w * ch
        for tx in range(tw):
            sx = min(tx * w // tw, w - 1)
            out += px[rs + sx * ch : rs + (sx + 1) * ch]
    return encode_png(tw, th, bytes(out), channels=ch)


def _resize_jpeg(b: bytes, tw: int, th: int) -> bytes | None:
    """True nearest-neighbor resample of a baseline JPEG, re-encoded as
    baseline JPEG (4:4:4, q90) with the source's channel count. None
    when ``b`` is not a baseline JPEG."""
    from .jpeg import decode_jpeg, encode_jpeg

    p = decode_jpeg(b)
    if p is None:
        return None
    w, h, ch, px = p
    out = bytearray()
    for ty in range(th):
        sy = min(ty * h // th, h - 1)
        rs = sy * w * ch
        for tx in range(tw):
            sx = min(tx * w // tw, w - 1)
            out += px[rs + sx * ch : rs + (sx + 1) * ch]
    return encode_jpeg(tw, th, bytes(out), channels=ch)


def _parse_wav(b: bytes):
    """(sample_rate, n_channels, duration_seconds) for a RIFF/PCM WAV
    via the stdlib ``wave`` module; None when ``b`` is not one."""
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    import io
    import wave

    try:
        with wave.open(io.BytesIO(b)) as wf:
            rate = wf.getframerate()
            ch = wf.getnchannels()
            return rate, ch, wf.getnframes() / rate
    except Exception:
        return None


def encode_wav(sample_rate: int, n_channels: int, pcm16: bytes) -> bytes:
    """Serialize raw 16-bit PCM frames as a RIFF WAV (fixture-side
    inverse of :func:`_parse_wav`)."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(n_channels)
        wf.setsampwidth(2)
        wf.setframerate(sample_rate)
        wf.writeframes(pcm16)
    return buf.getvalue()


def attach_fake_blobs(df: DataFrame, text_col: str, mime: str = "image/fake") -> DataFrame:
    """Test/fixture helper: derive a deterministic binary payload +
    metadata struct from a text column (stands in for real media bytes).
    """
    content = F.encode(F.col(text_col), "UTF-8")
    return df.withColumn("content", content).withColumn(
        "media_meta",
        F.struct(
            F.lit(mime).alias("mime"),
            F.length(content).cast("bigint").alias("size_bytes"),
        ),
    )


def _fake_dims(data: bytes) -> tuple[int, int, int]:
    """Deterministic stand-in for image header parsing. STUB — replace
    with PIL/imageio in a container that has them."""
    h = hashlib.sha256(data).digest()
    return 64 + h[0] % 192, 64 + h[1] % 192, 3


def decode_images(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Append (width, height, channels) decoded from the binary column.

    Decode tiers per blob (module docstring): REAL pure-Python header
    parse for uncompressed BMP; REAL PIL for PNG/JPEG when importable;
    deterministic fake otherwise (the Spark plumbing — schema, Arrow
    batching — is identical across tiers). Callers that must not get
    fakes guard with ``require_real_decode``.
    """
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", width int, height int, channels int"

    def batches(it: Iterator) -> Iterator:
        import io

        from .jpeg import parse_jpeg_header

        for pdf in it:
            dims = []
            for data in pdf[content_col]:
                b = bytes(data) if data is not None else b""
                bmp = _parse_bmp(b)
                png = _parse_png(b) if bmp is None else None
                jpg = (
                    parse_jpeg_header(b)
                    if bmp is None and png is None
                    else None
                )
                if bmp is not None:
                    dims.append((bmp[0], bmp[1], bmp[2]))
                elif png is not None:
                    dims.append(png)
                elif jpg is not None:
                    dims.append(jpg)
                elif _HAVE_PIL and (
                    b[:4] == b"\x89PNG" or b[:3] == b"\xff\xd8\xff"
                ):
                    with Image.open(io.BytesIO(b)) as im:  # pragma: no cover
                        dims.append((im.width, im.height, len(im.getbands())))
                else:
                    dims.append(_fake_dims(b))
            pdf["width"] = [d[0] for d in dims]
            pdf["height"] = [d[1] for d in dims]
            pdf["channels"] = [d[2] for d in dims]
            yield pdf

    return df.mapInPandas(batches, schema=out_schema)


def require_real_decode(
    progressive_jpeg: bool = False, arithmetic_jpeg: bool = False
) -> None:
    """Guard for callers that must not silently get stub decodes.
    Every shipped format now decodes for REAL without dependencies:
    BMP and WAV via pure-Python/stdlib parsers, 8-bit non-interlaced
    PNG via the stdlib-zlib tier (:func:`_decode_png`), baseline
    sequential JPEG via the pure-Python Huffman+IDCT codec
    (``operators/jpeg.py``), and progressive (SOF2)
    JPEG via ``operators/jpeg_progressive.py``, so this guard passes
    unconditionally for both (``progressive_jpeg`` is kept for callers
    that pinned it). The ONE residual stub path is arithmetic-coded
    JPEG (rare, patent-era legacy), which needs PIL: pass
    ``arithmetic_jpeg=True`` to assert on that tier specifically.

    Why arithmetic stays gated rather than implemented: the QM-coder
    depends on the exact 113-row Qe probability-transition table of
    T.81 Table D.3, and this offline container has no authoritative
    copy (no libjpeg sources, no PIL) to validate against — a
    from-memory table would roundtrip against its own encoder while
    silently mis-decoding real-world files, a false completeness
    claim. The honest contract is this loud gate."""
    if arithmetic_jpeg and not _HAVE_PIL:
        raise NotImplementedError(
            "arithmetic-coded JPEG decoding needs PIL, which this "
            "container lacks; baseline AND progressive Huffman JPEG "
            "(and BMP/WAV/PNG) decode for real via the dependency-free "
            "codecs"
        )


def extract_features(
    df: DataFrame, content_col: str = "content", dim: int = 16
) -> DataFrame:
    """Append a dim-float feature vector per blob (deterministic
    byte-hash features — STUB for a real vision/audio encoder; the
    Arrow-batch UDF shape is what a real encoder would use).
    """
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + f", features array<float>"

    def batches(it: Iterator) -> Iterator:
        for pdf in it:
            feats = []
            for data in pdf[content_col]:
                b = bytes(data) if data is not None else b""
                h = hashlib.sha256(b).digest()
                feats.append(
                    [((h[i % 32] / 255.0) * 2.0 - 1.0) for i in range(dim)]
                )
            pdf["features"] = feats
            yield pdf

    return df.mapInPandas(batches, schema=out_schema)


def resize_images(
    df: DataFrame,
    content_col: str = "content",
    target_w: int = 64,
    target_h: int = 64,
) -> DataFrame:
    """Resize: replace the payload with its resized rendition and pin
    (width, height) to the target. REAL nearest-neighbor resample for
    uncompressed BMP (pure Python, output a valid 24-bpp BMP) and for
    8-bit non-interlaced PNG (stdlib-zlib decode, output a valid PNG
    with the source's channel count); deterministic sha256 stand-in
    for codecs this container lacks — same schema/batch shape either
    way.
    """
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", resized binary, width int, height int"

    tag = f"{target_w}x{target_h}".encode()

    def batches(it: Iterator) -> Iterator:
        for pdf in it:
            resized = []
            for data in pdf[content_col]:
                b = bytes(data) if data is not None else b""
                real = _resize_bmp(b, target_w, target_h)
                if real is None:
                    real = _resize_png(b, target_w, target_h)
                if real is None:
                    real = _resize_jpeg(b, target_w, target_h)
                resized.append(
                    real if real is not None
                    else hashlib.sha256(b + tag).digest()
                )
            pdf["resized"] = resized
            pdf["width"] = target_w
            pdf["height"] = target_h
            yield pdf

    return df.mapInPandas(batches, schema=out_schema)


# -------------------------------------------------- standing fingerprint index
# A standing bucketed table of banded 64-bit fingerprints (image aHash,
# audio spectral, text SimHash — any hamming_hash_pairs-compatible hash)
# that arriving batches probe and extend, so an ingest pipeline
# near-dups each batch against everything seen without a corpus re-scan.


def hamming_index_build(
    df: DataFrame,
    table: str,
    id_col: str = "doc_id",
    hash_col: str = "phash",
    band_bits: int = 16,
    n_buckets: int | None = None,
) -> None:
    """Write the banded fingerprint index as a bucketed catalog table
    (id, fp, band, val), hash-bucketed on the band ``val``: every later
    probe joins on (band, val), so the corpus side of that join is
    pre-shuffled at write time and never moves again — incremental
    batches pay only their own fingerprints. ``band_bits`` is recorded
    as a table property, and every probe and append bands its batch at
    the recorded width.

    ``n_buckets=None`` sizes the bucket count from the banded rows'
    measured bytes (``io._sized_buckets``: at least one per core, at
    most 32); an explicit count wins. The count is
    recorded, and every append, reband and compaction keeps it.

    ``skew_epoch`` is a monotone rebuild counter: streaming skew
    reports buffered under a retired epoch are dropped at flush instead
    of re-arming ``cap_truncating`` against the fresh index, and a
    rebuild also clears the skew log (both done by
    ``io.rewrite_layout``, which commits the contract with the data)."""
    from .dedup import _rewrite_banded

    fam = _hamming_family(id_col, hash_col)
    contract = {
        "kind": "hamming_fp", "band_bits": band_bits,
        "n_buckets": n_buckets, "bucket_cols": "val",
    }
    _rewrite_banded(
        df.sparkSession, table, fam, fam.sign(df, contract), id_col, contract
    )


def hamming_reband_index(spark, table: str, band_bits: int) -> None:
    """Re-derive a standing Hamming index's banding at ``band_bits``
    bits per band from its stored fingerprints, without re-decoding
    any media: one scan of the ``band = 0`` slice, one re-explode, one
    rewrite (``dedup._banded_reband``, shared with
    ``dedup.minhash_reband_index``). It is the retune verb the
    family's ``cap_truncating`` health flag points to.

    Smaller ``band_bits`` give more bands, so total recall reaches a
    larger ``max_hamming`` (``max_hamming < 64 / band_bits``), but
    hotter buckets; larger ``band_bits`` the reverse. That is a policy
    call, so the maintenance sweep only flags it.

    ``band_bits`` must divide 64. Probes and streams read the width
    from the contract on every call, so a running stream's next batch
    probes at the new width. The rewrite rotates
    ``skew_epoch`` and clears the skew log. Data and contract commit
    together, so a crash at any step leaves the old banding or the new
    one, and a re-run converges."""
    from .dedup import _banded_reband

    _banded_reband(spark, table, _hamming_family(), band_bits)


def _hamming_family(
    id_col: str = "doc_id", hash_col: str = "phash", max_hamming: int = 3
):
    """The Hamming index as a ``dedup._BandedFamily``: 64-bit
    fingerprints split into ``(band, val)`` exact-match bands at the
    recorded ``band_bits``, pairs kept at ``bit_count(xor) <=
    max_hamming``, hot buckets excluded. The caller's batch is pinned,
    because its fingerprints come out of an upstream decode."""
    from .dedup import _BandedFamily

    def band(fps: DataFrame, contract: dict) -> DataFrame:
        bits = int(contract["band_bits"])
        if bits < 1 or 64 % bits != 0:
            raise ValueError(f"band_bits={bits} must divide 64")
        return _fp_band_explode(fps, "_id", "_ph", bits)

    return _BandedFamily(
        kind="hamming_fp",
        keys=["band", "val"], value="fp", batch_value="_ph",
        sign=lambda df, _: df.select(
            F.col(id_col).alias("_id"), F.col(hash_col).alias("_ph")
        ).filter(F.col("_ph").isNotNull()),
        band=band, band_param="band_bits",
        score=lambda x, y, _: F.bit_count(x.bitwiseXOR(y)),
        keep=lambda s: s <= max_hamming, score_col="hamming",
        star=False, pin_batch=True,
    )


def hamming_index_probe(
    spark,
    table: str,
    new_df: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "phash",
    max_hamming: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """``(new_id, corpus_id, hamming)`` for every new fingerprint within
    ``max_hamming`` of an indexed one. Only the batch is banded; the
    index streams out of its bucketed table into the ``(band, val)``
    join. Recall is total for ``max_hamming < 64 // band_bits`` by
    pigeonhole (see :func:`hamming_hash_pairs`).

    ``max_bucket_size`` applies :func:`hamming_hash_pairs`' flood rule:
    a hot ``(band, val)`` index bucket (boilerplate thumbnails, silence
    clips) is excluded from candidate generation. Buckets are sized
    over the ones the batch hits. The body is ``dedup._banded_probe``,
    shared with ``dedup.minhash_query_index``; the result is lazy, so
    each action on it scans the index once."""
    from .dedup import _banded_probe

    fam = _hamming_family(id_col, hash_col, max_hamming)
    return _banded_probe(spark, table, fam, new_df, id_col, max_bucket_size)


def hamming_incremental_dedup(
    spark,
    table: str,
    new_df: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "phash",
    max_hamming: int = 3,
    append: bool = True,
    max_bucket_size: int | None = None,
    log_skew: bool | None = None,
    skew_sink: list | None = None,
) -> DataFrame:
    """Drop the new documents whose fingerprint is within
    ``max_hamming`` of an indexed one or of an earlier (smaller-id)
    document of the same batch, then (``append=True``) add the
    survivors' banded fingerprints to the index. A batch costs its own
    fingerprints plus one scan of the bucketed index, never a corpus
    re-decode. The caller's batch is pinned once, so its upstream
    decode runs once.

    The fingerprint column is computed by the caller
    (:func:`image_perceptual_hash`, :func:`audio_spectral_hash`, or a
    text SimHash); this operator is modality-agnostic. Rows whose
    ``hash_col`` is NULL (no real tier decoded the blob) survive but
    are not indexed: route them to a decode-retry path.

    ``max_bucket_size`` applies :func:`hamming_hash_pairs`' flood rule
    to both joins: a hot ``(band, val)`` bucket yields no candidate
    (pairs that also share a cold band still surface). ``log_skew``
    and ``skew_sink`` are those of ``dedup.minhash_incremental_dedup``.

    The body is ``dedup._banded_dedup``, shared with
    ``dedup.minhash_incremental_dedup``."""
    from .dedup import _banded_dedup

    fam = _hamming_family(id_col, hash_col, max_hamming)
    return _banded_dedup(
        spark, table, fam, new_df, id_col, append, max_bucket_size, log_skew,
        skew_sink,
    )


def audio_quality_stats(
    df: DataFrame, content_col: str = "content"
) -> DataFrame:
    """Append the standard speech-corpus quality gates per WAV blob —
    the audio twin of the text tier's gopher/quality flags, decoded
    through the real PCM tier (NULLs when that tier can't decode):

    - ``n_samples`` / ``sample_rate`` (mono mixdown length)
    - ``peak_abs``: max |sample| (a silent or near-silent clip gates)
    - ``clipping_ratio``: fraction of samples at full scale ±32767
      (saturated recordings distort features; round to 6 dp)
    - ``leading_silence`` / ``trailing_silence``: run of exact zeros
      at each end, in samples (trim targets; exact integers)

    All statistics are exact integer arithmetic plus one 6-dp ratio,
    so they replay in any engine; per-blob CPU inside Arrow batches,
    zero shuffles. Typical gates: drop clipping_ratio > 0.01, trim
    silence runs, drop peak_abs below a noise floor."""
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + (
        ", sample_rate int, n_samples bigint, peak_abs int,"
        " clipping_ratio double, leading_silence bigint,"
        " trailing_silence bigint"
    )

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            cols = {k: [] for k in (
                "sample_rate", "n_samples", "peak_abs", "clipping_ratio",
                "leading_silence", "trailing_silence",
            )}
            for data in pdf[content_col]:
                b = bytes(data) if data is not None else b""
                dec = _pcm16_mono(b)
                if dec is None or not dec[1]:
                    for k in cols:
                        cols[k].append(None)
                    continue
                sr, x = dec
                n = len(x)
                try:
                    import numpy as np

                    a = np.asarray(x, dtype=np.int64)
                    peak = int(np.abs(a).max())
                    clipped = int(((a == 32767) | (a == -32768)).sum())
                    nz = np.flatnonzero(a)
                    lead = int(nz[0]) if nz.size else n
                    trail = int(n - 1 - nz[-1]) if nz.size else n
                except ImportError:  # pragma: no cover - numpy is baked in
                    peak = max(abs(v) for v in x)
                    clipped = sum(1 for v in x if v in (32767, -32768))
                    lead = next((i for i, v in enumerate(x) if v != 0), n)
                    trail = next(
                        (i for i, v in enumerate(reversed(x)) if v != 0), n
                    )
                cols["sample_rate"].append(sr)
                cols["n_samples"].append(n)
                cols["peak_abs"].append(peak)
                cols["clipping_ratio"].append(round(clipped / n, 6))
                cols["leading_silence"].append(lead)
                cols["trailing_silence"].append(trail)
            pdf["sample_rate"] = pd.array(cols["sample_rate"], dtype="Int32")
            pdf["n_samples"] = pd.array(cols["n_samples"], dtype="Int64")
            pdf["peak_abs"] = pd.array(cols["peak_abs"], dtype="Int32")
            pdf["clipping_ratio"] = cols["clipping_ratio"]
            pdf["leading_silence"] = pd.array(
                cols["leading_silence"], dtype="Int64"
            )
            pdf["trailing_silence"] = pd.array(
                cols["trailing_silence"], dtype="Int64"
            )
            yield pdf

    return df.mapInPandas(batches, schema=out_schema)


def _resample_pcm(sr: int, x, target_sr: int):
    """Linear-interpolation resample of mono int16 samples to
    ``target_sr`` (numpy when available, pure-Python fallback) — the
    standard normalization a speech-model pipeline applies before
    featurization. Returns a list/array of int16-range ints."""
    if sr == target_sr or not x:
        return x
    n_out = max(1, int(round(len(x) * target_sr / sr)))
    try:
        import numpy as np

        pos = np.arange(n_out, dtype=np.float64) * (len(x) - 1) / max(n_out - 1, 1)
        lo = np.floor(pos).astype(np.int64)
        hi = np.minimum(lo + 1, len(x) - 1)
        frac = pos - lo
        arr = np.asarray(x, dtype=np.float64)
        out = arr[lo] * (1.0 - frac) + arr[hi] * frac
        return np.clip(np.rint(out), -32768, 32767).astype(int).tolist()
    except ImportError:  # pragma: no cover
        out = []
        step = (len(x) - 1) / max(n_out - 1, 1)
        for i in range(n_out):
            p = i * step
            lo = int(p)
            hi = min(lo + 1, len(x) - 1)
            frac = p - lo
            v = x[lo] * (1.0 - frac) + x[hi] * frac
            out.append(max(-32768, min(32767, int(round(v)))))
        return out


def resample_audio(
    df: DataFrame,
    content_col: str = "content",
    target_sr: int = 16000,
    out_col: str = "resampled",
) -> DataFrame:
    """Append each WAV blob re-encoded at ``target_sr`` mono (linear
    interpolation over the real PCM tier — the audio twin of
    :func:`resize_images`'s nearest-neighbor tier; a production
    pipeline swaps in a windowed-sinc resampler behind the same Arrow
    batch shape). NULL for blobs the PCM tier can't decode. The
    spectral-contour fingerprint (:func:`audio_spectral_hash`) is
    invariant under this normalization for band-limited content —
    pinned by test — so hash-once-then-resample and resample-then-hash
    agree."""
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + f", {out_col} binary"

    def batches(it: Iterator) -> Iterator:
        for pdf in it:
            outs = []
            for data in pdf[content_col]:
                b = bytes(data) if data is not None else b""
                dec = _pcm16_mono(b)
                if dec is None or dec[0] <= 0:
                    outs.append(None)
                    continue
                sr, x = dec
                y = _resample_pcm(sr, x, target_sr)
                outs.append(
                    encode_wav(
                        target_sr, 1, struct.pack(f"<{len(y)}h", *y)
                    )
                )
            pdf[out_col] = outs
            yield pdf

    return df.mapInPandas(batches, schema=out_schema)


def decode_audio(df: DataFrame, content_col: str = "content") -> DataFrame:
    """Append (sample_rate, n_channels, duration_seconds) decoded from
    an audio binary column. REAL RIFF/PCM parse (stdlib ``wave``) for
    WAV payloads; sha256-derived deterministic fake for compressed
    codecs this container lacks (real path there is soundfile/librosa).
    Fake duration = size_bytes / (rate · 2 bytes · channels) (16-bit
    PCM), a single IEEE division of exact ints — bit-identical in any
    engine, so the stub tier stays oracle-replayable.
    """
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", sample_rate int, n_channels int, duration_seconds double"

    rates = (16000, 22050, 44100, 48000)

    def batches(it: Iterator) -> Iterator:
        for pdf in it:
            rate, chans, dur = [], [], []
            for data in pdf[content_col]:
                b = bytes(data) if data is not None else b""
                wav = _parse_wav(b)
                if wav is not None:
                    rate.append(wav[0])
                    chans.append(wav[1])
                    dur.append(wav[2])
                    continue
                h = hashlib.sha256(b).digest()
                r = rates[h[0] % 4]
                c = 1 + h[1] % 2
                rate.append(r)
                chans.append(c)
                dur.append(len(b) / (r * 2 * c))
            pdf["sample_rate"] = rate
            pdf["n_channels"] = chans
            pdf["duration_seconds"] = dur
            yield pdf

    return df.mapInPandas(batches, schema=out_schema)


def sample_frames(
    df: DataFrame,
    content_col: str = "content",
    frame_bytes: int = 16,
    every_n: int = 2,
) -> DataFrame:
    """Explode a binary payload into every-Nth fixed-size "frame"
    (video-frame-sampling plumbing; a real decoder would emit decoded
    frames instead of byte slices). Pure built-ins — no Python at all.
    """
    n_frames = F.floor(F.length(F.col(content_col)) / F.lit(frame_bytes)).cast("int")
    idx = F.filter(
        F.sequence(F.lit(0), F.greatest(n_frames - 1, F.lit(0))),
        lambda i: i % every_n == 0,
    )
    return (
        df.withColumn("_frame_idx", F.explode(idx))
        .withColumn(
            "frame",
            F.expr(f"substring({content_col}, _frame_idx * {frame_bytes} + 1, {frame_bytes})"),
        )
        .withColumnRenamed("_frame_idx", "frame_index")
    )


def frame_hash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "content",
    frame_bytes: int = 16,
    every_n: int = 2,
    threshold: float = 0.5,
    max_df: int | None = 1000,
) -> DataFrame:
    """Near-duplicate VIDEO detection by sampled-frame fingerprints:
    sample every Nth fixed-size frame (:func:`sample_frames`), hash
    each frame, and score media pairs by exact Jaccard over their
    distinct frame-hash SETS (``dedup.set_jaccard_pairs`` — the same
    inverted-index core as text shingle dedup, with the same ``max_df``
    boilerplate cap: an intro/outro frame shared by thousands of videos
    must not go quadratic). Re-encodes, trims, and frame-rate changes
    that preserve most sampled frames score high; unrelated media share
    nothing. With a real decoder the hash input is the DECODED frame
    (or a perceptual hash of it) — the set-Jaccard layer is unchanged;
    here frames are byte slices, which is exactly right for the
    container-level dedup a lake runs before any decode."""
    frames = sample_frames(
        df.select(id_col, content_col), content_col, frame_bytes, every_n
    )
    from .dedup import set_jaccard_pairs

    ex = frames.select(
        F.col(id_col).alias("_id"), F.hex("frame").alias("shingle")
    ).distinct()
    return set_jaccard_pairs(ex, threshold=threshold, max_df=max_df)


# ----------------------------------------------------------------- EXIF tier
# Provenance metadata for image curation: orientation (rotate-aware
# dedup/display), capture time (temporal filtering), camera make/model
# (device mixes), GPS presence (privacy gating — a pipeline typically
# QUARANTINES geotagged images rather than reading coordinates).
# Dependency-free TIFF 6.0 IFD walk over the JPEG APP1 segment, both
# byte orders, offsets bounds-checked (untrusted-blob contract).

_EXIF_TAG_ORIENTATION = 0x0112
_EXIF_TAG_DATETIME = 0x0132
_EXIF_TAG_MAKE = 0x010F
_EXIF_TAG_MODEL = 0x0110
_EXIF_TAG_SUBIFD = 0x8769
_EXIF_TAG_GPSIFD = 0x8825
_EXIF_TAG_DT_ORIGINAL = 0x9003


def _exif_ifd_entries(t: bytes, off: int, bo: str):
    """Yield (tag, type, count, value_or_offset_bytes) for one IFD;
    stops silently at any truncation (untrusted input)."""
    if off + 2 > len(t):
        return
    n = struct.unpack_from(bo + "H", t, off)[0]
    for i in range(n):
        e = off + 2 + 12 * i
        if e + 12 > len(t):
            return
        tag, typ, cnt = struct.unpack_from(bo + "HHI", t, e)
        yield tag, typ, cnt, e + 8


_EXIF_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 7: 1, 9: 4, 10: 8}


def _exif_value(t: bytes, bo: str, typ: int, cnt: int, vpos: int):
    """Decoded tag value (int for SHORT/LONG count 1, str for ASCII,
    else None): inline when it fits 4 bytes, else at the offset."""
    size = _EXIF_TYPE_SIZE.get(typ)
    if size is None:
        return None
    total = size * cnt
    if total <= 4:
        pos = vpos
    else:
        if vpos + 4 > len(t):
            return None
        pos = struct.unpack_from(bo + "I", t, vpos)[0]
    if pos + total > len(t):
        return None
    if typ == 2:  # ASCII, NUL-terminated
        raw = t[pos : pos + cnt]
        return raw.split(b"\x00", 1)[0].decode("ascii", "replace")
    if typ == 3 and cnt == 1:
        return struct.unpack_from(bo + "H", t, pos)[0]
    if typ == 4 and cnt == 1:
        return struct.unpack_from(bo + "I", t, pos)[0]
    return None


def parse_exif(b: bytes):
    """EXIF provenance dict for a JPEG blob, or None when it carries
    no parseable APP1/TIFF block: ``{orientation, taken_at, camera,
    has_gps}`` (missing fields None/False). Walks SOI->APP1("Exif\\0\\0")
    -> TIFF header (II/MM + 42) -> IFD0 (+ EXIF sub-IFD for
    DateTimeOriginal, preferred over IFD0 DateTime); GPS presence is
    detected from the GPS-IFD POINTER alone — coordinates are never
    decoded (privacy gating wants a flag, not a location)."""
    if len(b) < 4 or b[:2] != b"\xff\xd8":
        return None
    i = 2
    tiff = None
    while i + 4 <= len(b):
        if b[i] != 0xFF:
            break
        m = b[i + 1]
        if m == 0xFF:  # optional fill bytes before a marker (B.1.1.2)
            i += 1
            continue
        if m in (0xD8, 0x01) or 0xD0 <= m <= 0xD7:
            i += 2
            continue
        seg_len = (b[i + 2] << 8) | b[i + 3]
        if seg_len < 2 or i + 2 + seg_len > len(b):
            break
        if m == 0xE1 and b[i + 4 : i + 10] == b"Exif\x00\x00":
            tiff = b[i + 10 : i + 2 + seg_len]
            break
        if m == 0xDA:  # entropy data begins: no EXIF ahead
            break
        i += 2 + seg_len
    if tiff is None or len(tiff) < 8:
        return None
    if tiff[:2] == b"II":
        bo = "<"
    elif tiff[:2] == b"MM":
        bo = ">"
    else:
        return None
    if struct.unpack_from(bo + "H", tiff, 2)[0] != 42:
        return None
    ifd0 = struct.unpack_from(bo + "I", tiff, 4)[0]
    out = {"orientation": None, "taken_at": None, "camera": None, "has_gps": False}
    make = model = dt0 = dt_orig = None
    sub_off = None

    # untrusted input may declare ANY type for ANY tag: each consumer
    # takes only the python type it can carry (a bit-flipped type
    # field must degrade to None, never crash the Spark task)
    def _as_str(v):
        return v if isinstance(v, str) else None

    def _as_orientation(v):
        return v if isinstance(v, int) and 1 <= v <= 8 else None

    for tag, typ, cnt, vpos in _exif_ifd_entries(tiff, ifd0, bo):
        if tag == _EXIF_TAG_ORIENTATION:
            out["orientation"] = _as_orientation(
                _exif_value(tiff, bo, typ, cnt, vpos)
            )
        elif tag == _EXIF_TAG_DATETIME:
            dt0 = _as_str(_exif_value(tiff, bo, typ, cnt, vpos))
        elif tag == _EXIF_TAG_MAKE:
            make = _as_str(_exif_value(tiff, bo, typ, cnt, vpos))
        elif tag == _EXIF_TAG_MODEL:
            model = _as_str(_exif_value(tiff, bo, typ, cnt, vpos))
        elif tag == _EXIF_TAG_SUBIFD:
            v = _exif_value(tiff, bo, typ, cnt, vpos)
            sub_off = v if isinstance(v, int) else None
        elif tag == _EXIF_TAG_GPSIFD:
            out["has_gps"] = True
    if sub_off is not None:
        for tag, typ, cnt, vpos in _exif_ifd_entries(tiff, sub_off, bo):
            if tag == _EXIF_TAG_DT_ORIGINAL:
                dt_orig = _as_str(_exif_value(tiff, bo, typ, cnt, vpos))
    out["taken_at"] = dt_orig or dt0
    if make or model:
        out["camera"] = " ".join(x for x in (make, model) if x)
    return out


def build_exif_app1(
    orientation: int | None = None,
    taken_at: str | None = None,
    make: str | None = None,
    model: str | None = None,
    gps: bool = False,
    byte_order: str = "<",
) -> bytes:
    """Fixture-side minimal APP1 EXIF segment (inverse of
    :func:`parse_exif`): IFD0 with the requested tags, an EXIF sub-IFD
    carrying DateTimeOriginal, and an (empty) GPS IFD when ``gps``.
    Splice after SOI: ``jpeg[:2] + build_exif_app1(...) + jpeg[2:]``."""
    bo = byte_order
    pre = b"II" if bo == "<" else b"MM"

    entries0 = []
    extra = bytearray()

    def ascii_val(sv: str):
        raw = sv.encode("ascii") + b"\x00"
        if len(raw) <= 4:
            return 2, len(raw), raw.ljust(4, b"\x00")
        off_pos = len(extra)
        extra.extend(raw)
        return 2, len(raw), ("OFF", off_pos)

    if make is not None:
        entries0.append((_EXIF_TAG_MAKE, *ascii_val(make)))
    if model is not None:
        entries0.append((_EXIF_TAG_MODEL, *ascii_val(model)))
    if orientation is not None:
        entries0.append(
            (_EXIF_TAG_ORIENTATION, 3, 1,
             struct.pack(bo + "H", orientation).ljust(4, b"\x00"))
        )
    if taken_at is not None:
        entries0.append((_EXIF_TAG_DATETIME, *ascii_val(taken_at)))
    sub_entries = []
    if taken_at is not None:
        sub_entries.append((_EXIF_TAG_DT_ORIGINAL, *ascii_val(taken_at)))

    # layout: header(8) | IFD0 | subIFD | gpsIFD | extra strings
    def ifd_size(n):
        return 2 + 12 * n + 4

    n0 = len(entries0) + (1 if sub_entries else 0) + (1 if gps else 0)
    ifd0_off = 8
    sub_off = ifd0_off + ifd_size(n0)
    gps_off = sub_off + (ifd_size(len(sub_entries)) if sub_entries else 0)
    extra_off = gps_off + (ifd_size(0) if gps else 0)

    if sub_entries:
        entries0.append(
            (_EXIF_TAG_SUBIFD, 4, 1, struct.pack(bo + "I", sub_off))
        )
    if gps:
        entries0.append(
            (_EXIF_TAG_GPSIFD, 4, 1, struct.pack(bo + "I", gps_off))
        )
    entries0.sort(key=lambda e: e[0])  # TIFF requires ascending tags

    def emit_ifd(entries):
        out = bytearray(struct.pack(bo + "H", len(entries)))
        for tag, typ, cnt, val in entries:
            out += struct.pack(bo + "HHI", tag, typ, cnt)
            if isinstance(val, tuple) and val[0] == "OFF":
                out += struct.pack(bo + "I", extra_off + val[1])
            else:
                out += val
        out += struct.pack(bo + "I", 0)  # next-IFD pointer
        return bytes(out)

    tiff = (
        pre
        + struct.pack(bo + "H", 42)
        + struct.pack(bo + "I", ifd0_off)
        + emit_ifd(entries0)
        + (emit_ifd(sub_entries) if sub_entries else b"")
        + (emit_ifd([]) if gps else b"")
        + bytes(extra)
    )
    body = b"Exif\x00\x00" + tiff
    return b"\xff\xe1" + struct.pack(">H", len(body) + 2) + body


def extract_image_metadata(
    df: DataFrame, content_col: str = "content"
) -> DataFrame:
    """Append EXIF provenance columns (orientation, taken_at, camera,
    has_gps) decoded via :func:`parse_exif`; all-NULL/False rows for
    blobs without parseable EXIF. The privacy-gating pattern: route
    ``has_gps`` rows to a scrub/quarantine path before export."""
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", orientation int, taken_at string, camera string, has_gps boolean"

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            ori, dt, cam, gps = [], [], [], []
            for data in pdf[content_col]:
                b = bytes(data) if data is not None else b""
                m = parse_exif(b) or {}
                ori.append(m.get("orientation"))
                dt.append(m.get("taken_at"))
                cam.append(m.get("camera"))
                gps.append(bool(m.get("has_gps", False)))
            pdf["orientation"] = pd.array(ori, dtype="Int32")
            pdf["taken_at"] = dt
            pdf["camera"] = cam
            pdf["has_gps"] = gps
            yield pdf

    return df.mapInPandas(batches, schema=out_schema)


# ----------------------------------------------------------------- WARC tier
# The web-corpus container (Common Crawl ships WARC/1.0, RFC-style
# records): dependency-free record walk so the full chain WARC ->
# html_to_text -> canonicalize_url -> dedup runs inside this engine.
# At 100 TB: WARC files arrive via spark.read.format("binaryFile") (or
# pre-chunked payload columns); the record explode is per-blob CPU in
# Arrow batches, zero shuffles until the downstream dedup.


def parse_warc(
    b: bytes,
    max_records: int = 100_000,
    max_member_bytes: int = 64 * 1024 * 1024,
):
    """List of records from a WARC/1.0 blob: ``{warc_type, target_uri,
    http_status, body}`` (body = HTTP payload bytes for response
    records, raw block otherwise; http_status None when the block is
    not an HTTP message). Accepts both plain WARC and the real Common
    Crawl ``.warc.gz`` container (concatenated gzip members, one
    member per record — detected by the ``\\x1f\\x8b`` magic; a single
    whole-file member also works since each member's decompressed
    bytes go through the same record walk). Untrusted-input contract:
    any malformed header/length/gzip member stops the walk at the last
    good record — never an exception, never an over-read; each gzip
    member's output is capped at ``max_member_bytes`` (bomb guard),
    and a nested-gzip member is treated as malformed rather than
    recursed into (nesting-bomb guard)."""
    if b[:2] == b"\x1f\x8b":
        return _parse_warc_gz(b, max_records, max_member_bytes)
    return _parse_warc_plain(b, max_records)


def _parse_warc_plain(b: bytes, max_records: int):
    out = []
    i = 0
    n = len(b)
    while i < n and len(out) < max_records:
        # skip inter-record CRLFs
        while i < n and b[i : i + 2] == b"\r\n":
            i += 2
        if i >= n:
            break
        end = b.find(b"\r\n\r\n", i)
        if end < 0 or not b.startswith(b"WARC/", i):
            break
        headers = {}
        for line in b[i:end].split(b"\r\n")[1:]:
            k, sep, v = line.partition(b":")
            if sep:
                headers[k.strip().lower()] = v.strip()
        try:
            length = int(headers.get(b"content-length", b""))
        except ValueError:
            break
        if length < 0 or end + 4 + length > n:
            break
        block = b[end + 4 : end + 4 + length]
        i = end + 4 + length
        wtype = headers.get(b"warc-type", b"").decode("ascii", "replace")
        uri = headers.get(b"warc-target-uri", b"").decode(
            "utf-8", "replace"
        ) or None
        status = None
        body = block
        if block.startswith(b"HTTP/"):
            hdr_end = block.find(b"\r\n\r\n")
            if hdr_end >= 0:
                status_line = block[: block.find(b"\r\n")].split()
                if len(status_line) >= 2 and status_line[1].isdigit():
                    status = int(status_line[1])
                body = block[hdr_end + 4 :]
        out.append(
            {
                "warc_type": wtype,
                "target_uri": uri,
                "http_status": status,
                "body": body,
            }
        )
    return out


def _parse_warc_gz(b: bytes, max_records: int, max_member_bytes: int):
    """Record walk over concatenated gzip members (the Common Crawl
    ``.warc.gz`` layout: one gzip member per record). Each member is
    decompressed with a bounded stdlib zlib stream and its bytes fed
    through the plain record walk; a truncated member, corrupt CRC, or
    member exceeding ``max_member_bytes`` stops at the last good
    record (never raises, never over-reads).

    The walk is LINEAR in blob size: an offset advances over a
    memoryview and each decompressobj is fed bounded chunks until its
    ``eof``, so ``unused_data`` stays chunk-sized. (A form that
    passed the whole remaining buffer per member and re-materialized
    the tail each time — O(members × blob), tens of minutes of memcpy
    on a real many-member Common Crawl .warc.gz and a CPU-DoS on an
    adversarial many-tiny-member blob.)"""
    import zlib

    out = []
    mv = memoryview(b)
    n = len(b)
    pos = 0
    chunk_sz = 128 * 1024
    while n - pos >= 2 and mv[pos:pos + 2] == b"\x1f\x8b" and (
        len(out) < max_records
    ):
        d = zlib.decompressobj(wbits=47)  # gzip wrapper, auto header
        plain = bytearray()
        bad = False
        while not d.eof:
            if pos >= n:  # truncated member (no CRC trailer)
                bad = True
                break
            chunk = mv[pos:pos + chunk_sz]
            pos += len(chunk)
            try:
                # cap at max_member_bytes+1 so the bomb check below
                # can distinguish "hit the cap" without ever passing
                # max_length=0 (which zlib treats as unlimited)
                plain += d.decompress(
                    chunk, max_member_bytes + 1 - len(plain)
                )
            except zlib.error:  # corrupt deflate stream or bad CRC
                bad = True
                break
            if len(plain) > max_member_bytes:  # member exceeds the cap
                bad = True
                break
        if bad:
            break
        # member ended mid-chunk: rewind past the unread remainder
        pos -= len(d.unused_data)
        out.extend(_parse_warc_plain(bytes(plain), max_records - len(out)))
    return out


def build_warc(records, gzip_records: bool = False) -> bytes:
    """Fixture-side WARC/1.0 writer (inverse of :func:`parse_warc`):
    ``records`` = iterable of (warc_type, target_uri, block_bytes);
    pass an HTTP response message as the block for response records.
    ``gzip_records=True`` emits the real Common Crawl ``.warc.gz``
    container — one gzip member per record, concatenated."""
    import gzip as _gzip

    out = bytearray()
    for wtype, uri, block in records:
        hdr = f"WARC/1.0\r\nWARC-Type: {wtype}\r\n"
        if uri:
            hdr += f"WARC-Target-URI: {uri}\r\n"
        hdr += f"Content-Length: {len(block)}\r\n\r\n"
        rec = hdr.encode("utf-8") + block + b"\r\n\r\n"
        out += _gzip.compress(rec, mtime=0) if gzip_records else rec
    return bytes(out)


def explode_warc(
    df: DataFrame,
    content_col: str = "content",
    types: tuple = ("response",),
    decode_body: bool = True,
) -> DataFrame:
    """Explode WARC blobs into one row per record of the requested
    ``types`` (default: HTTP responses — the records a corpus
    pipeline trains on; request/metadata records are skipped at the
    parser, before any bytes move). Emits ``record_index, warc_type,
    target_uri, http_status`` plus ``body`` (binary) or ``body_text``
    (UTF-8, errors replaced) when ``decode_body``. Feed ``body_text``
    to ``functions.text.html_to_text`` and ``target_uri`` to
    ``canonicalize_url`` for the full crawl-to-corpus chain."""
    body_field = "body_text string" if decode_body else "body binary"
    out_schema = ", ".join(
        [
            f"{f.name} {f.dataType.simpleString()}"
            for f in df.schema.fields
            if f.name != content_col
        ]
        + [
            "record_index int",
            "warc_type string",
            "target_uri string",
            "http_status int",
            body_field,
        ]
    )

    def batches(it: Iterator) -> Iterator:
        import pandas as pd

        for pdf in it:
            passthrough = [c for c in pdf.columns if c != content_col]
            # Column-wise packing: the previous iterrows() +
            # list-of-dicts construction measured ~4x the parse cost
            # itself at corpus grain (0.42 s vs 0.10 s per 5k docs
            # single-core, identical output) — plain
            # list appends + ONE DataFrame construction keep the Python
            # interior parse-bound (guide §4.2).
            pvals = [pdf[c].tolist() for c in passthrough]
            pcols: dict = {c: [] for c in passthrough}
            ri: list = []
            wt: list = []
            tu: list = []
            hs: list = []
            body_col: list = []
            for i, b in enumerate(pdf[content_col].tolist()):
                b = bytes(b) if b is not None else b""
                for idx, rec in enumerate(parse_warc(b)):
                    if rec["warc_type"] not in types:
                        continue
                    for c, vals in zip(passthrough, pvals):
                        pcols[c].append(vals[i])
                    ri.append(idx)
                    wt.append(rec["warc_type"])
                    tu.append(rec["target_uri"])
                    hs.append(rec["http_status"])
                    body = rec["body"]
                    body_col.append(
                        body.decode("utf-8", "replace") if decode_body else body
                    )
            data = dict(pcols)
            data["record_index"] = ri
            data["warc_type"] = wt
            data["target_uri"] = tu
            data["http_status"] = hs
            data["body_text" if decode_body else "body"] = body_col
            yield pd.DataFrame(data)

    return df.mapInPandas(batches, schema=out_schema)
