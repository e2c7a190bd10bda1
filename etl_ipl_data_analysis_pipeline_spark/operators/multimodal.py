"""Multimodal columns (SURVEY.md §2.11 X5): image/audio/video as opaque
``binary`` columns with typed metadata, processed via Arrow-batched
``mapInPandas``.

The decode step is REAL for lib-free formats — binary PPM and
uncompressed 24-bit BMP parse with numpy, WAV PCM via the stdlib
``wave`` module, PNG via stdlib zlib + a numpy unfilter (r9),
BASELINE JPEG via a from-scratch Huffman + IDCT decoder (r10, see
``_decode_jpeg_pixels``), GIF via a from-scratch LZW + 89a
container walk (r10, see ``_decode_gif_frames``), and uncompressed
BI_RGB AVI via a RIFF chunk walk (r10, ``_decode_avi_frames``) —
with REAL animated-frame extraction for both in ``sample_frames`` —
and STUBBED only for compressed video, whose codecs (ffmpeg) are
genuinely absent from this container. The
Spark-side plumbing — schema, batching, partition sizing, UDF
signatures — is identical on both paths and also tested with
deterministic fake decoders.

Scale notes: binary payloads dominate partition size; size partitions by
``spark.sql.files.maxPartitionBytes`` and repartition by a content-hash so a
handful of 4K videos doesn't skew one task. Metadata-only operations (group
by format, length histograms) never touch ``content`` thanks to Parquet
column pruning — keep metadata and payload in the same table but distinct
columns.
"""

from __future__ import annotations

from collections.abc import Iterator

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

MEDIA_SCHEMA = (
    "media_id long, path string, format string, n_bytes long, content binary"
)

FEATURE_SCHEMA = "media_id long, format string, n_bytes long, width int, height int, feature array<float>"


def attach_metadata(binary_df: DataFrame) -> DataFrame:
    """Wrap a binaryFile scan (path, modificationTime, length, content) into
    the engine's media schema; format sniffed from magic bytes, JVM-side."""
    head = F.hex(F.substring(F.col("content"), 1, 4))
    fmt = (
        F.when(head.startswith("89504E47"), "png")
        .when(head.startswith("FFD8"), "jpeg")
        .when(head.startswith("52494646"), "riff")  # wav/avi containers
        .when(head.startswith("47494638"), "gif")  # 'GIF8'
        .when(head.startswith("664C6143"), "flac")
        .when(head.startswith("5036"), "ppm")  # 'P6' binary portable pixmap
        .when(head.startswith("424D"), "bmp")  # 'BM'
        .otherwise("unknown")
    )
    return binary_df.select(
        F.xxhash64("path").alias("media_id"),
        F.col("path"),
        fmt.alias("format"),
        F.col("length").alias("n_bytes"),
        F.col("content"),
    )


FEATURE_DIM = 8  # floats in a decoded payload's feature vector


def decode_image(content: bytes) -> tuple[int, int, list[float]]:
    """Decode an image payload to (width, height, feature_vector).

    REAL for the lib-free formats — binary PPM (P6) and uncompressed
    24-bit BMP are parsed with numpy alone; PNG (8-bit RGB/RGBA/gray,
    any scanline filter) decodes via stdlib zlib + a numpy unfilter
    (_decode_png_pixels); baseline JPEG (8-bit, 4:4:4, 1 or 3
    components) decodes via the from-scratch Huffman + IDCT pipeline
    (_decode_jpeg_pixels — entropy coding is arithmetic, not a codec);
    WAV PCM (RIFF/WAVE) decodes via the stdlib ``wave`` module, mapping
    (n_channels, sample_rate//1000) into the (width, height) slots so
    audio rides the same feature schema; GIF (87a/89a, first composed
    frame) via the from-scratch LZW decoder (_decode_gif_frames).
    VIDEO still raises: ffmpeg is not in this container — callers fall
    back to
    ``extract_features(fake=True)`` for those, and the per-payload
    try/except in extract_features turns a mixed-format corpus into
    real features where possible, NULLs elsewhere.

    The feature vector is FEATURE_DIM floats in [0, 1]: overall mean, per-
    channel/segment means, and coarse spatial (or temporal) pooling —
    deterministic functions of the exact decoded samples.
    """
    head = bytes(content[:4])
    if head[:2] == b"P6":
        return _decode_ppm(content)
    if head[:2] == b"BM":
        return _decode_bmp(content)
    if bytes(content[:8]) == b"\x89PNG\r\n\x1a\n":
        w, h, arr = _decode_png_pixels(content)
        return w, h, _pool_feature(arr.astype("float64") / 255.0)
    if head[:2] == b"\xff\xd8":
        w, h, arr = _decode_jpeg_pixels(content)
        return w, h, _pool_feature(arr.astype("float64") / 255.0)
    if head == b"RIFF" and bytes(content[8:12]) == b"WAVE":
        return _decode_wav(content)
    if head == b"GIF8":
        w, h, frames = _decode_gif_frames(content)
        return w, h, _pool_feature(frames[0].astype("float64") / 255.0)
    if head == b"RIFF" and bytes(content[8:12]) == b"AVI ":
        w, h, frames = _decode_avi_frames(content)
        return w, h, _pool_feature(frames[0].astype("float64") / 255.0)
    raise NotImplementedError(
        "compressed-video decode requires ffmpeg — not available in this "
        "environment; PPM/BMP/PNG/baseline-JPEG/GIF/WAV/uncompressed-AVI "
        "decode natively, other formats use extract_features(df, fake=True)"
    )


def _decode_png_pixels(content: bytes):
    """Lib-free PNG decode (stdlib zlib + numpy): 8-bit-depth grayscale
    (color type 0), RGB (2) and RGBA (6), no interlace — chunk walk,
    IDAT inflate, per-scanline unfilter (None/Sub/Up/Average/Paeth, the
    full filter set), alpha dropped so every image lands in the shared
    (h, w, channels) pixel contract. Interlaced, paletted and sub-byte
    depths raise: they are rare in training crawls and add no new
    mechanism. Entropy-coded formats (jpeg) genuinely need external
    codecs; DEFLATE does not — it ships in the standard library."""
    import struct
    import zlib

    import numpy as np

    buf = bytes(content)
    if buf[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG payload")
    pos, width, height, ch = 8, None, None, None
    idat = b""
    while pos + 8 <= len(buf):
        length, ctype = struct.unpack_from(">I4s", buf, pos)
        data = buf[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            width, height, depth, color, _comp, _filt, interlace = (
                struct.unpack(">IIBBBBB", data)
            )
            if depth != 8:
                raise NotImplementedError("only 8-bit-depth PNG decodes natively")
            if color not in (0, 2, 6):
                raise NotImplementedError(
                    "only grayscale/RGB/RGBA PNG decodes natively"
                )
            if interlace:
                raise NotImplementedError("interlaced PNG not supported")
            ch = {0: 1, 2: 3, 6: 4}[color]
        elif ctype == b"IDAT":
            # spec: IHDR is the first chunk; a payload carrying pixel
            # data before the header is malformed — reject explicitly
            # rather than decode with a later header's geometry (and so
            # direct callers get ValueError, never a NameError on ch)
            if width is None:
                raise ValueError("PNG IDAT before IHDR")
            idat += data
        elif ctype == b"IEND":
            break
    if width is None:
        raise ValueError("PNG missing IHDR")
    raw = zlib.decompress(idat)
    stride = width * ch
    if len(raw) != height * (stride + 1):
        raise ValueError("PNG scanline payload has wrong length")
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(height, stride + 1)
    filters, data = rows[:, 0], rows[:, 1:].astype(np.int64)
    out = np.zeros_like(data)
    for y in range(height):
        f, cur = int(filters[y]), data[y].copy()
        prev = out[y - 1] if y else np.zeros(stride, dtype=np.int64)
        if f == 0:  # None
            out[y] = cur
        elif f == 2:  # Up
            out[y] = (cur + prev) & 0xFF
        else:  # Sub/Average/Paeth need the in-row left neighbor: scan x
            row = out[y]
            for x in range(stride):
                a = row[x - ch] if x >= ch else 0
                b = prev[x]
                if f == 1:  # Sub
                    v = cur[x] + a
                elif f == 3:  # Average
                    v = cur[x] + (a + b) // 2
                elif f == 4:  # Paeth
                    c = prev[x - ch] if x >= ch else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                    v = cur[x] + pred
                else:
                    raise ValueError(f"unknown PNG filter {f}")
                row[x] = v & 0xFF
    px = out.reshape(height, width, ch)
    if ch == 4:
        px = px[:, :, :3]  # drop alpha: shared RGB pixel contract
    return width, height, px


def _pool_feature(arr) -> list[float]:
    """FEATURE_DIM floats in [0, 1] from a (pixels, channels) or
    (samples,) float array scaled to [0, 1]: global mean, then means of
    FEATURE_DIM-1 contiguous segments — deterministic coarse pooling."""
    import numpy as np

    flat = arr.reshape(-1)
    segs = np.array_split(flat, FEATURE_DIM - 1)
    out = [float(flat.mean())] + [float(s.mean()) if s.size else 0.0 for s in segs]
    return [min(max(v, 0.0), 1.0) for v in out]


def _decode_ppm(content: bytes) -> tuple[int, int, list[float]]:
    """Binary PPM (P6): ASCII header 'P6 <w> <h> <maxval>' (with
    #-comments) followed by w*h*3 raw bytes."""
    import numpy as np

    buf = bytes(content)
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(buf) and buf[pos : pos + 1].isspace():
            pos += 1
        if buf[pos : pos + 1] == b"#":  # comment runs to end of line
            pos = buf.index(b"\n", pos) + 1
            continue
        start = pos
        while pos < len(buf) and not buf[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(buf[start:pos]))
    pos += 1  # single whitespace after maxval
    width, height, maxval = fields
    px = np.frombuffer(buf, dtype=np.uint8, count=width * height * 3, offset=pos)
    arr = px.astype(np.float64).reshape(height, width, 3) / float(maxval)
    return width, height, _pool_feature(arr)


def _decode_bmp(content: bytes) -> tuple[int, int, list[float]]:
    """Uncompressed 24-bit BMP (BITMAPINFOHEADER): rows bottom-up, padded
    to 4-byte boundaries, BGR order."""
    import struct

    import numpy as np

    buf = bytes(content)
    data_off = struct.unpack_from("<I", buf, 10)[0]
    width, height = struct.unpack_from("<ii", buf, 18)
    bpp = struct.unpack_from("<H", buf, 28)[0]
    compression = struct.unpack_from("<I", buf, 30)[0]
    if bpp != 24 or compression != 0:
        raise NotImplementedError("only uncompressed 24-bit BMP decodes natively")
    flip = height > 0
    height = abs(height)
    stride = (width * 3 + 3) & ~3  # rows pad to 4-byte boundaries
    rows = np.frombuffer(
        buf, dtype=np.uint8, count=stride * height, offset=data_off
    ).reshape(height, stride)[:, : width * 3]
    arr = rows.reshape(height, width, 3)[:, :, ::-1]  # BGR -> RGB
    if flip:
        arr = arr[::-1]
    return width, height, _pool_feature(arr.astype(np.float64) / 255.0)


def _decode_wav(content: bytes) -> tuple[int, int, list[float]]:
    """WAV PCM via the stdlib wave module: (n_channels, sample_rate//1000)
    ride the (width, height) slots; the feature pools |sample| energy."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(bytes(content))) as w:
        n_ch, sampwidth, rate = w.getnchannels(), w.getsampwidth(), w.getframerate()
        frames = w.readframes(w.getnframes())
    if sampwidth != 2:
        raise NotImplementedError("only 16-bit PCM WAV decodes natively")
    samples = np.frombuffer(frames, dtype="<i2").astype(np.float64)
    return n_ch, rate // 1000, _pool_feature(np.abs(samples) / 32768.0)


def _raw_samples(content: bytes):
    """Integer sample array for perceptual hashing: the EXACT decoded
    bytes (PPM/BMP pixels as uint8 RGB, WAV as |int16| samples) with the
    parsed (width, height) — no pooling, no floats, so everything
    derived from it is integer arithmetic an oracle can replay."""
    import struct

    import numpy as np

    buf = bytes(content)
    head = buf[:4]
    if buf[:8] == b"\x89PNG\r\n\x1a\n":
        w, h, px = _decode_png_pixels(buf)
        return w, h, px.reshape(-1).astype(np.int64)
    if head[:2] == b"\xff\xd8":
        w, h, px = _decode_jpeg_pixels(buf)
        return w, h, px.reshape(-1).astype(np.int64)
    if head[:2] == b"P6":
        pos, fields = 2, []
        while len(fields) < 3:
            while pos < len(buf) and buf[pos : pos + 1].isspace():
                pos += 1
            if buf[pos : pos + 1] == b"#":
                pos = buf.index(b"\n", pos) + 1
                continue
            start = pos
            while pos < len(buf) and not buf[pos : pos + 1].isspace():
                pos += 1
            fields.append(int(buf[start:pos]))
        pos += 1
        width, height, _ = fields
        px = np.frombuffer(buf, dtype=np.uint8, count=width * height * 3, offset=pos)
        return width, height, px.astype(np.int64)
    if head[:2] == b"BM":
        data_off = struct.unpack_from("<I", buf, 10)[0]
        width, height = struct.unpack_from("<ii", buf, 18)
        bpp = struct.unpack_from("<H", buf, 28)[0]
        compression = struct.unpack_from("<I", buf, 30)[0]
        if bpp != 24 or compression != 0:
            raise NotImplementedError("only uncompressed 24-bit BMP decodes natively")
        flip = height > 0
        height = abs(height)
        stride = (width * 3 + 3) & ~3
        rows = np.frombuffer(
            buf, dtype=np.uint8, count=stride * height, offset=data_off
        ).reshape(height, stride)[:, : width * 3]
        arr = rows.reshape(height, width, 3)[:, :, ::-1]
        if flip:
            arr = arr[::-1]
        return width, height, arr.reshape(-1).astype(np.int64)
    if head == b"GIF8":
        w, h, frames = _decode_gif_frames(buf)
        return w, h, frames[0].reshape(-1).astype(np.int64)
    if head == b"RIFF" and bytes(buf[8:12]) == b"AVI ":
        w, h, frames = _decode_avi_frames(buf)
        return w, h, frames[0].reshape(-1).astype(np.int64)
    if head == b"RIFF" and bytes(buf[8:12]) == b"WAVE":
        import io
        import wave

        with wave.open(io.BytesIO(buf)) as w:
            n_ch, sampwidth, rate = (
                w.getnchannels(),
                w.getsampwidth(),
                w.getframerate(),
            )
            frames = w.readframes(w.getnframes())
        if sampwidth != 2:
            raise NotImplementedError("only 16-bit PCM WAV decodes natively")
        samples = np.abs(np.frombuffer(frames, dtype="<i2").astype(np.int64))
        return n_ch, rate // 1000, samples
    raise NotImplementedError(
        "compressed-image/video decode requires PIL/libvips/ffmpeg — not "
        "available in this environment"
    )


def image_ahash(media: DataFrame, bits: int = 16) -> DataFrame:
    """Average-hash perceptual fingerprint — the image near-dup primitive
    (the LAION-style pHash-family shape): split the decoded integer
    samples into ``bits`` contiguous blocks (numpy array_split
    boundaries: the first ``n % bits`` blocks are one longer) and set
    bit i iff the block's mean exceeds the global mean. The comparison
    is INTEGER cross-multiplication — ``block_sum * n_total >
    total_sum * block_n`` — so the whole fingerprint is exact integer
    arithmetic on exact decoded bytes: bit-replayable by a SQL oracle,
    partitioning-independent, no float thresholds to drift. An exact
    pixel copy hashes identically (hamming 0) whatever its id or batch.

    Arrow mapInPandas over (media_id, format, n_bytes, content) — the
    decode never leaves the executor; emits
    (media_id, width, height, n_samples, ahash). ``bits`` <= 62 keeps
    the hash in a signed bigint. Empty blocks (fewer samples than bits)
    contribute 0-bits on both engines."""
    import numpy as np
    import pandas as pd

    if not 1 <= bits <= 62:
        raise ValueError("bits must be in [1, 62] for a signed-bigint hash")

    def _hash_one(content) -> tuple:
        w, h, arr = _raw_samples(content)
        n = int(arr.size)
        total = int(arr.sum())
        out = 0
        for i, blk in enumerate(np.array_split(arr, bits)):
            bn = int(blk.size)
            if bn and int(blk.sum()) * n > total * bn:
                out |= 1 << i
        return w, h, n, out

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "media_id": pdf["media_id"],
                "width": [],
                "height": [],
                "n_samples": [],
                "ahash": [],
            }
            for content in pdf["content"]:
                try:
                    w, h, n, a = _hash_one(content)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["n_samples"].append(n)
                    out["ahash"].append(a)
                except Exception:
                    out["width"].append(None)
                    out["height"].append(None)
                    out["n_samples"].append(None)
                    out["ahash"].append(None)
            yield pd.DataFrame(out)

    return media.select("media_id", "format", "n_bytes", "content").mapInPandas(
        _extract,
        schema=(
            "media_id bigint, width int, height int, "
            "n_samples bigint, ahash bigint"
        ),
    )


def png_encode(px_rows, filters, channels: int = 3) -> bytes:
    """Minimal stdlib PNG encoder (8-bit gray/RGB/RGBA, one filter type
    per scanline): raw pixel rows -> valid PNG bytes. Exists for
    synthetic fixtures and round-trip gates — the decode query encodes
    md5-derived pixels with every filter type and the production decoder
    must recover the exact byte sum."""
    import struct
    import zlib

    h = len(px_rows)
    stride = len(px_rows[0])
    w = stride // channels

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)

    raw = b""
    prev = [0] * stride
    for y, row in enumerate(px_rows):
        f = filters[y]
        line = []
        for x in range(stride):
            a = row[x - channels] if x >= channels else 0
            b = prev[x]
            c = prev[x - channels] if x >= channels else 0
            pred = (0, a, b, (a + b) // 2, paeth(a, b, c))[f]
            line.append((row[x] - pred) & 0xFF)
        raw += bytes([f]) + bytes(line)
        prev = row
    color = {1: 0, 3: 2, 4: 6}[channels]

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _fake_decode(content: bytes) -> tuple[int, int, list[float]]:
    """Deterministic stand-in: 'dimensions' and 'features' derived from
    content bytes — stable across runs/partitionings (crc32, not Python
    hash(), which is salted per process)."""
    import zlib

    h = zlib.crc32(bytes(content[:64])) & 0x7FFFFFFF
    width, height = 16 + h % 1024, 16 + (h >> 10) % 1024
    feat = [((h >> (i % 24)) & 0xFF) / 255.0 for i in range(FEATURE_DIM)]
    return width, height, feat


def _fake_decode_md5(content: bytes) -> tuple[int, int, list[float]]:
    """Portable twin of :func:`_fake_decode`: same (width, height, feature)
    derivation but seeded by md5 over the UPPERCASE HEX of the first 64
    payload bytes instead of crc32, because DuckDB 1.0 ships ``md5(VARCHAR)``
    and ``hex(BLOB)`` but no crc32 — the seed is therefore reproducible in
    ANSI SQL (``('0x' || substr(md5(substr(hex(payload),1,128)),1,8))::BIGINT``)
    and the whole fake-decode feature pipeline gets a full DuckDB oracle
    instead of a rows-only check. Same md5-portable-hash family as the
    seeded minhash/LSH pipelines (F7)."""
    import hashlib

    hx = bytes(content[:64]).hex().upper()
    h = int(hashlib.md5(hx.encode()).hexdigest()[:8], 16) & 0x7FFFFFFF
    width, height = 16 + h % 1024, 16 + (h >> 10) % 1024
    feat = [((h >> (i % 24)) & 0xFF) / 255.0 for i in range(FEATURE_DIM)]
    return width, height, feat


def extract_features(
    media: DataFrame, fake: bool = False, portable: bool = False
) -> DataFrame:
    """Decode + featurize media rows via Arrow-batched mapInPandas.

    The UDF processes whole Arrow batches (not rows); decode failures yield
    null features rather than failing the task, which is the only sane
    behavior on a 100 TB crawl with corrupt members.
    """
    import pandas as pd

    if fake:
        decoder = _fake_decode_md5 if portable else _fake_decode
    else:
        decoder = decode_image

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "media_id": pdf["media_id"],
                "format": pdf["format"],
                "n_bytes": pdf["n_bytes"],
                "width": [],
                "height": [],
                "feature": [],
            }
            for content in pdf["content"]:
                try:
                    w, h, feat = decoder(content)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["feature"].append(feat)
                except Exception:
                    out["width"].append(None)
                    out["height"].append(None)
                    out["feature"].append(None)
            yield pd.DataFrame(out)

    return media.select("media_id", "format", "n_bytes", "content").mapInPandas(
        _extract, schema=FEATURE_SCHEMA
    )


def sample_frames(media: DataFrame, every_n: int = 10, fake: bool = True) -> DataFrame:
    """Frame-sampling plumbing for animated payloads: fan each media row out
    to frame rows (media_id, frame_idx, frame binary). ``fake=False`` is
    REAL for GIF and uncompressed AVI (r10): every ``every_n``-th
    COMPOSED canvas frame — disposal/transparency honored by
    _decode_gif_frames; raw BI_RGB DIBs by _decode_avi_frames — is
    emitted as raw RGB bytes with its ORIGINAL frame index; payloads
    that don't decode (compressed video needs ffmpeg, absent here)
    yield no frame rows
    rather than failing the task, mirroring extract_features' null
    stance on a corrupt-member crawl. The fake path emits byte-slices so
    downstream shape stays testable format-independently."""
    import pandas as pd

    if not fake:

        def _real_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                rows = {"media_id": [], "frame_idx": [], "frame": []}
                for mid, content in zip(pdf["media_id"], pdf["content"]):
                    try:
                        head = bytes(content[:4])
                        if head == b"RIFF" and bytes(content[8:12]) == b"AVI ":
                            _w, _h, frames = _decode_avi_frames(content)
                        else:
                            # retain only every_n-th composed frame during
                            # decode: a long animation costs O(kept x canvas)
                            # executor memory, not O(frames x canvas)
                            _w, _h, frames = _decode_gif_frames(
                                content, frame_filter=lambda i: i % every_n == 0
                            )
                    except Exception:
                        continue
                    for i in range(0, len(frames), every_n):
                        rows["media_id"].append(mid)
                        rows["frame_idx"].append(i)
                        rows["frame"].append(frames[i].tobytes())
                yield pd.DataFrame(rows)

        return media.select("media_id", "content").mapInPandas(
            _real_frames, schema="media_id long, frame_idx int, frame binary"
        )

    def _frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"media_id": [], "frame_idx": [], "frame": []}
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                n = max(1, len(content) // (every_n * 64))
                for i in range(min(n, 8)):
                    rows["media_id"].append(mid)
                    rows["frame_idx"].append(i)
                    rows["frame"].append(bytes(content[i * 64 : (i + 1) * 64]))
            yield pd.DataFrame(rows)

    return media.select("media_id", "content").mapInPandas(
        _frames, schema="media_id long, frame_idx int, frame binary"
    )


def _jpeg_zigzag():
    """The spec's 64-entry zigzag scan order, generated (not typed) so a
    transcription slip is impossible: entry k is the natural (row-major)
    index of the k-th zigzag coefficient."""
    order = []
    for s in range(15):
        diag = [(s - j, j) for j in range(s + 1) if 0 <= s - j < 8 and 0 <= j < 8]
        if s % 2 == 0:
            diag.reverse()
        order.extend(r * 8 + c for r, c in diag)
    return order


_JPEG_ZZ = _jpeg_zigzag()

# Annex K.3.3 standard luminance Huffman tables (public JPEG spec):
# BITS (codes per length 1..16) and HUFFVAL in canonical order.
_JPEG_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_JPEG_DC_VALS = list(range(12))
_JPEG_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_JPEG_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


import functools


@functools.lru_cache(maxsize=64)
def _jpeg_decode_lut(bits, vals):
    """Canonical Huffman codes (spec C.2: codes of each length assigned
    in HUFFVAL order) expanded into a pair of 2^16-entry lists indexed
    by the NEXT 16 bits of the stream: ``lens[peek16]`` is the code
    length to consume (0 = invalid prefix) and ``vals[peek16]`` its
    decoded value. One peek + one index per symbol replaces the former
    per-bit (length, code)-dict walk; build cost is a handful of
    C-level slice fills per DHT table, and the cache makes it free for
    the overwhelmingly common case — crawls full of images sharing the
    Annex K tables (args arrive as tuples for hashability)."""
    lens = [0] * 65536
    out_vals = [0] * 65536
    code, k = 0, 0
    for length in range(1, 17):
        span = 1 << (16 - length)
        for _ in range(bits[length - 1]):
            lo = code << (16 - length)
            lens[lo : lo + span] = [length] * span
            out_vals[lo : lo + span] = [vals[k]] * span
            k += 1
            code += 1
        code <<= 1
    return lens, out_vals


def _idct_matrix():
    import numpy as np

    m = np.zeros((8, 8))
    for u in range(8):
        cu = (1.0 / (2.0 ** 0.5)) if u == 0 else 1.0
        for x in range(8):
            m[u, x] = 0.5 * cu * np.cos((2 * x + 1) * u * np.pi / 16.0)
    return m


class _JpegBitReader:
    """MSB-first bit reader over entropy-coded data. Destuffs ONCE at
    construction (0xFF00 → 0xFF, split into segments at RSTn markers,
    stop at any other marker), then serves ``receive`` from a 32-bit
    window sliced out of the destuffed bytes and ``decode_huff`` from a
    16-bit lookup table — one peek + one list index per SYMBOL instead
    of a Python-level loop per BIT. This is what moved the from-scratch
    decoder from ~0.4 to multi-MB/s (measured in SCALE_SMOKE notes, in git history);
    outputs are bit-identical to the per-bit reader it replaced
    (the r10 oracle hashes did not move)."""

    def __init__(self, buf: bytes, pos: int):
        import numpy as np

        # walk only the 0xFF positions (numpy scan): everything between
        # them copies as C-level slices, so destuffing costs O(#FF)
        # Python steps, not O(bytes)
        n = len(buf)
        mv = memoryview(buf)
        ff_pos = np.flatnonzero(np.frombuffer(buf, np.uint8, n - pos, pos) == 0xFF)
        segs, cur = [], bytearray()
        start = pos
        for j in (int(x) + pos for x in ff_pos):
            if j < start:
                continue  # inside a skip we already consumed
            nxt = buf[j + 1] if j + 1 < n else 0xD9
            if nxt == 0x00:  # stuffed: keep the 0xFF, drop the 0x00
                cur += mv[start : j + 1]
                start = j + 2
            elif 0xD0 <= nxt <= 0xD7:  # RSTn: interval boundary
                cur += mv[start:j]
                segs.append(bytes(cur))
                cur = bytearray()
                start = j + 2
            else:  # real marker (or FF fill before one): end of entropy
                cur += mv[start:j]
                start = None
                break
        if start is not None:
            cur += mv[start:n]
        segs.append(bytes(cur))
        self.segments = segs
        self._load(0)

    def _load(self, k: int) -> None:
        if k >= len(self.segments):
            raise ValueError("JPEG entropy data ended before all restart intervals")
        # spec (F.1.2.3) pads the final byte with 1-bits; 4 bytes of 0xFF
        # let the fixed-width window peek run past the end harmlessly
        self.seg = self.segments[k] + b"\xff\xff\xff\xff"
        self.seg_idx, self.bitpos = k, 0
        self.limit = (len(self.seg) - 4) * 8

    def restart(self) -> None:
        """Byte-align onto the next restart interval's destuffed bytes
        (the RSTn marker itself was consumed during destuffing)."""
        self._load(self.seg_idx + 1)

    def receive(self, n: int) -> int:
        if n == 0:
            return 0
        bp = self.bitpos
        i = bp >> 3
        window = int.from_bytes(self.seg[i : i + 4], "big")
        self.bitpos = bp + n
        if self.bitpos > self.limit + 16:
            raise ValueError("JPEG entropy data overrun (corrupt stream)")
        return (window >> (32 - (bp & 7) - n)) & ((1 << n) - 1)

    def decode_huff(self, table) -> int:
        lens, vals = table
        bp = self.bitpos
        i = bp >> 3
        window = int.from_bytes(self.seg[i : i + 4], "big")
        idx = (window >> (16 - (bp & 7))) & 0xFFFF
        length = lens[idx]
        if length == 0:
            raise ValueError("invalid JPEG Huffman code")
        self.bitpos = bp + length
        if self.bitpos > self.limit + 16:
            raise ValueError("JPEG entropy data overrun (corrupt stream)")
        return vals[idx]


def _jpeg_extend(v: int, s: int) -> int:
    return v if s == 0 or v >= (1 << (s - 1)) else v - (1 << s) + 1


def _decode_jpeg_pixels(content: bytes):
    """Lib-free BASELINE JPEG decode (stdlib + numpy): marker walk, DHT
    canonical Huffman decode, DQT dequantization, 8x8 float64 IDCT,
    level shift, YCbCr->RGB for 3-component streams — 8-bit baseline
    sequential (SOF0/SOF1), 1 or 3 components, 4:4:4 sampling (all
    factors 1x1), optional restart intervals. Progressive (SOF2),
    subsampled chroma, arithmetic coding and 12-bit depth raise — the
    honest boundary, exactly as the PNG decoder draws it at interlace.
    Entropy coding is Huffman + cosine transforms; neither needs an
    external codec, which closes the "jpeg genuinely needs PIL" line
    to video alone.

    Throughput boundary: the r11 rewrite (destuffed-segment LUT bit
    reader + batched-BLAS IDCT over all blocks per component) measures
    ~1.3 MB/s of compressed stream on a coefficient-dense 256x256
    fixture, ~3x the per-bit r10 reader, bit-identical output. The
    residual cost is the per-SYMBOL Python entropy loop — irreducible
    without C — so this remains an ORACLE INSTRUMENT and correctness
    reference; a production 100 TB image pipeline decodes with native
    codecs (libjpeg-turbo is ~100 MB/s/core) behind the same
    mapInPandas plumbing."""
    import struct

    import numpy as np

    buf = bytes(content)
    if buf[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    qt: dict[int, "np.ndarray"] = {}
    huff: dict[tuple[int, int], dict] = {}
    frame = None
    restart = 0
    while pos + 4 <= len(buf):
        if buf[pos] != 0xFF:
            raise ValueError("bad JPEG marker alignment")
        marker = buf[pos + 1]
        if marker == 0xD9:  # EOI
            break
        seg_len = struct.unpack_from(">H", buf, pos + 2)[0]
        data = buf[pos + 4 : pos + 2 + seg_len]
        if marker == 0xDB:  # DQT
            d = 0
            while d < len(data):
                pq, tq = data[d] >> 4, data[d] & 15
                if pq != 0:
                    raise NotImplementedError("16-bit quant tables")
                vals = np.frombuffer(data, np.uint8, 64, d + 1).astype(np.int64)
                tbl = np.zeros(64, np.int64)
                tbl[_JPEG_ZZ] = vals  # de-zigzag into natural order
                qt[tq] = tbl.reshape(8, 8)
                d += 65
        elif marker == 0xC4:  # DHT
            d = 0
            while d < len(data):
                tc, th = data[d] >> 4, data[d] & 15
                bits = tuple(data[d + 1 : d + 17])
                n = sum(bits)
                vals = tuple(data[d + 17 : d + 17 + n])
                huff[(tc, th)] = _jpeg_decode_lut(bits, vals)
                d += 17 + n
        elif marker in (0xC0, 0xC1):  # SOF0/1 baseline sequential
            prec, h, w, nc = data[0], *struct.unpack_from(">HH", data, 1), data[5]
            if prec != 8:
                raise NotImplementedError("only 8-bit JPEG decodes natively")
            comps = []
            for c in range(nc):
                cid, hv, tq = data[6 + 3 * c], data[7 + 3 * c], data[8 + 3 * c]
                if hv != 0x11:
                    raise NotImplementedError(
                        "subsampled chroma (non-4:4:4) not supported natively"
                    )
                comps.append((cid, tq))
            frame = (h, w, comps)
        elif marker == 0xC2:
            raise NotImplementedError("progressive JPEG not supported natively")
        elif marker == 0xDD:  # DRI
            restart = struct.unpack_from(">H", data, 0)[0]
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise ValueError("JPEG SOS before SOF")
            ns = data[0]
            scan = []
            for c in range(ns):
                cs, tt = data[1 + 2 * c], data[2 + 2 * c]
                scan.append((cs, tt >> 4, tt & 15))
            h, w, comps = frame
            by_id = {cid: i for i, (cid, _) in enumerate(comps)}
            bh, bw = -(-h // 8), -(-w // 8)
            m = _idct_matrix()
            rd = _JpegBitReader(buf, pos + 2 + seg_len)
            preds = [0] * len(comps)
            n_mcu, mcu = bh * bw, 0
            # entropy pass collects zigzag coefficients per component as
            # plain Python rows; dequant + de-zigzag + IDCT then run ONCE
            # per component over an (n_mcu, 64) array — no per-block numpy
            # allocations or 8x8 matmuls in the hot loop
            zz_rows: list[list[list[int]]] = [[] for _ in comps]
            while mcu < n_mcu:
                if restart and mcu and mcu % restart == 0:
                    rd.restart()  # next destuffed interval, byte-aligned
                    preds = [0] * len(comps)
                for cs, td, ta in scan:
                    ci = by_id[cs]
                    dct = huff[(0, td)]
                    act = huff[(1, ta)]
                    zz = [0] * 64
                    s = rd.decode_huff(dct)
                    diff = _jpeg_extend(rd.receive(s), s)
                    preds[ci] += diff
                    zz[0] = preds[ci]
                    k = 1
                    while k < 64:
                        rs = rd.decode_huff(act)
                        r, size = rs >> 4, rs & 15
                        if size == 0:
                            if r == 15:  # ZRL: 16 zeros
                                k += 16
                                continue
                            break  # EOB
                        k += r
                        zz[k] = _jpeg_extend(rd.receive(size), size)
                        k += 1
                    zz_rows[ci].append(zz)
                mcu += 1
            planes = []
            for ci in range(len(comps)):
                coeffs = np.zeros((n_mcu, 64), np.int64)
                coeffs[:, _JPEG_ZZ] = np.asarray(zz_rows[ci], np.int64)
                deq = (
                    coeffs.reshape(n_mcu, 8, 8) * qt[comps[ci][1]]
                ).astype(np.float64)
                # batched m.T @ block @ m over all blocks (BLAS), the
                # 2-D IDCT as two matrix products
                spatial = np.matmul(np.matmul(m.T, deq), m)
                plane = (
                    spatial.reshape(bh, bw, 8, 8)
                    .transpose(0, 2, 1, 3)
                    .reshape(bh * 8, bw * 8)
                )
                planes.append(plane[:h, :w] + 128.0)
            if len(comps) == 1:
                px = np.clip(np.round(planes[0]), 0, 255).astype(np.int64)
                return w, h, px.reshape(h, w, 1)
            y, cb, cr = planes
            r = y + 1.402 * (cr - 128.0)
            g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
            b = y + 1.772 * (cb - 128.0)
            px = np.clip(np.round(np.stack([r, g, b], axis=2)), 0, 255)
            return w, h, px.astype(np.int64)
        # APPn / COM / everything else: skip
        pos += 2 + seg_len
    raise ValueError("JPEG stream ended before SOS")


class _JpegBitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc, self.nbits = 0, 0

    def write(self, value: int, n: int) -> None:
        for i in range(n - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.nbits += 1
            if self.nbits == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)  # byte stuffing
                self.acc, self.nbits = 0, 0

    def flush(self) -> None:
        if self.nbits:
            self.acc = (self.acc << (8 - self.nbits)) | ((1 << (8 - self.nbits)) - 1)
            self.out.append(self.acc)
            if self.acc == 0xFF:
                self.out.append(0x00)
            self.acc, self.nbits = 0, 0


def _jpeg_encode_codes(bits, vals):
    """value -> (code, length) for the canonical table."""
    enc, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            enc[vals[k]] = (code, length)
            k += 1
            code += 1
        code <<= 1
    return enc


def jpeg_encode_gray(
    coeff_blocks, wb: int, hb: int, restart_every: int | None = None
) -> bytes:
    """Minimal baseline GRAYSCALE JPEG encoder (stdlib only) from
    QUANTIZED 8x8 coefficient blocks in natural order (row-major block
    list, wb x hb blocks): all-ones quant table, standard Annex K
    luminance Huffman tables, DC differences + run-length AC with
    ZRL/EOB. Exists for synthetic fixtures and round-trip gates — with
    all-ones quant a DC-ONLY block round-trips EXACTLY (IDCT of a lone
    DC is a constant plane), which is what lets a lossy codec sit under
    an exact cross-engine oracle. ``restart_every`` emits a DRI segment
    plus byte-aligned RSTn markers every N MCUs (DC predictor reset),
    so the decoder's restart-interval path has a fixture to pin it."""
    import struct

    if len(coeff_blocks) != wb * hb:
        raise ValueError("need wb*hb coefficient blocks")
    dc_enc = _jpeg_encode_codes(_JPEG_DC_BITS, _JPEG_DC_VALS)
    ac_enc = _jpeg_encode_codes(_JPEG_AC_BITS, _JPEG_AC_VALS)
    bw = _JpegBitWriter()
    pred = 0

    def category(v: int) -> int:
        s, a = 0, abs(v)
        while a:
            s += 1
            a >>= 1
        return s

    for bi, blk in enumerate(coeff_blocks):
        if restart_every and bi and bi % restart_every == 0:
            bw.flush()  # byte-align (1-padded) before the marker
            bw.out += bytes([0xFF, 0xD0 + ((bi // restart_every - 1) % 8)])
            pred = 0
        flat = [int(blk[i // 8][i % 8]) for i in range(64)]
        zz = [flat[_JPEG_ZZ[k]] for k in range(64)]
        diff = zz[0] - pred
        pred = zz[0]
        s = category(diff)
        code, ln = dc_enc[s]
        bw.write(code, ln)
        if s:
            bw.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
        run = 0
        last_nz = max((k for k in range(1, 64) if zz[k]), default=0)
        for k in range(1, last_nz + 1):
            if zz[k] == 0:
                run += 1
                continue
            while run > 15:
                code, ln = ac_enc[0xF0]  # ZRL
                bw.write(code, ln)
                run -= 16
            s = category(zz[k])
            code, ln = ac_enc[(run << 4) | s]
            bw.write(code, ln)
            v = zz[k]
            bw.write(v if v >= 0 else v + (1 << s) - 1, s)
            run = 0
        if last_nz < 63:
            code, ln = ac_enc[0x00]  # EOB
            bw.write(code, ln)
    bw.flush()

    def seg(marker: int, payload: bytes) -> bytes:
        return bytes([0xFF, marker]) + struct.pack(">H", len(payload) + 2) + payload

    dqt = seg(0xDB, bytes([0x00]) + bytes([1] * 64))
    sof = seg(
        0xC0,
        bytes([8])
        + struct.pack(">HH", hb * 8, wb * 8)
        + bytes([1, 1, 0x11, 0]),
    )
    dht = seg(
        0xC4, bytes([0x00]) + bytes(_JPEG_DC_BITS) + bytes(_JPEG_DC_VALS)
    ) + seg(0xC4, bytes([0x10]) + bytes(_JPEG_AC_BITS) + bytes(_JPEG_AC_VALS))
    sos = seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
    dri = seg(0xDD, struct.pack(">H", restart_every)) if restart_every else b""
    return (
        b"\xff\xd8" + dqt + sof + dht + dri + sos + bytes(bw.out) + b"\xff\xd9"
    )


# ---------------------------------------------------------------------------
# GIF (r10): from-scratch LZW — variable-width codes, clear/EOI, table
# growth to 12 bits — plus the 89a container walk (logical screen, color
# tables, graphic-control extensions, image descriptors, sub-block
# framing). GIF's only "codec" is LZW, which is ~40 lines of integer
# bookkeeping from the public spec (GIF89a specification, appendix F) —
# nothing here needs PIL/ffmpeg. Reference surface parity: the reference
# treats media as opaque S3 objects (etl_glue_job.py:18-43 moves bytes,
# never decodes); decode is part of THIS engine's training-data charter.
# ---------------------------------------------------------------------------


def _lzw_decode_bytes(data: bytes, min_code_size: int) -> bytes:
    """GIF-variant LZW: codes are LSB-first bit-packed, start at
    min_code_size+1 bits, grow when the table fills the current width
    (cap 12 bits / 4096 entries — beyond that the stream must CLEAR).
    Table entries are ``bytes`` (GIF palette indices fit in a byte by
    construction: min_code_size <= 8) and the output accumulates into a
    bytearray — C-level concatenation instead of the per-pixel tuple
    churn of the original decoder, worth ~5x on real frames."""
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    base = [bytes((i,)) for i in range(clear)] + [b"", b""]
    data = bytes(data)
    n, ipos, acc, accbits = len(data), 0, 0, 0
    table, width, prev = list(base), min_code_size + 1, None
    out = bytearray()
    while True:
        # rolling bit-buffer (the mirror of _lzw_encode's emit): a whole-
        # stream bignum would make each code extraction copy the
        # remaining bits — O(n^2) on real multi-100KB GIF streams
        while accbits < width:
            if ipos >= n:
                break
            acc |= data[ipos] << accbits
            ipos += 1
            accbits += 8
        if accbits < width:
            break
        code = acc & ((1 << width) - 1)
        acc >>= width
        accbits -= width
        if code == eoi:
            break
        if code == clear:
            table, width, prev = list(base), min_code_size + 1, None
            continue
        if prev is None:
            if code >= len(table):
                raise ValueError("corrupt GIF LZW stream: first code unknown")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            if len(table) < 4096:
                table.append(prev + entry[:1])
        elif code == len(table) and len(table) < 4096:
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError("corrupt GIF LZW stream: code ahead of table")
        out += entry
        prev = entry
        if len(table) >= (1 << width) and width < 12:
            width += 1
    return bytes(out)


def _lzw_decode(data: bytes, min_code_size: int) -> list:
    """List-of-ints view of ``_lzw_decode_bytes`` (kept as the public
    round-trip twin of ``_lzw_encode``; the GIF decode path reads the
    bytes form directly)."""
    return list(_lzw_decode_bytes(data, min_code_size))


def _lzw_encode(indices, min_code_size: int) -> bytes:
    """Inverse of _lzw_decode, width-growth synchronized with it (the
    encoder runs one table entry ahead, so it bumps width when next_code
    passes 2^width); emits CLEAR + resets at 4096 so long streams stay
    legal. Round-trip identity is pinned by tests for both regimes."""
    clear, eoi = 1 << min_code_size, (1 << min_code_size) + 1
    buf, acc, accbits = bytearray(), 0, 0

    def emit(code, w):
        nonlocal acc, accbits
        acc |= code << accbits
        accbits += w
        while accbits >= 8:
            buf.append(acc & 0xFF)
            acc >>= 8
            accbits -= 8

    codes = {(i,): i for i in range(clear)}
    next_code, width = eoi + 1, min_code_size + 1
    emit(clear, width)
    w = ()
    for k in indices:
        k = int(k)
        wk = w + (k,)
        if wk in codes:
            w = wk
            continue
        emit(codes[w], width)
        if next_code < 4096:
            codes[wk] = next_code
            next_code += 1
            if next_code > (1 << width) and width < 12:
                width += 1
        else:
            emit(clear, width)
            codes = {(i,): i for i in range(clear)}
            next_code, width = eoi + 1, min_code_size + 1
        w = (k,)
    if w:
        emit(codes[w], width)
    emit(eoi, width)
    if accbits:
        buf.append(acc & 0xFF)
    return bytes(buf)


def _decode_gif_frames(content: bytes, frame_filter=None):
    """Decode a GIF87a/89a payload to (canvas_w, canvas_h, [frames]) where
    each frame is the COMPOSED full-canvas (h, w, 3) uint8 array after
    that image is drawn — disposal methods 0/1 (leave), 2 (restore to
    background) and 3 (restore to previous) plus GCE transparency are
    honored, so an animation's sampled frames are what a viewer shows,
    not raw sub-rects. Interlaced images raise (rare in crawls, adds
    only a row permutation).

    ``frame_filter(i) -> bool`` retains only the selected frame indices
    (every image is still COMPOSED — disposal needs the running canvas —
    but unselected frames skip the full-canvas copy, so a long
    animation sampled every Nth costs O(kept x canvas) memory, not
    O(frames x canvas)). Skipped positions appear as None so indices
    stay aligned; the default keeps everything.

    Throughput boundary: ~1.5 MB/s of compressed stream on a 16-frame
    128x128 fixture after the r11 bytes-table LZW (vs ~0.9 tuple-based)
    — an oracle instrument; production decodes ride native codecs
    behind the same mapInPandas plumbing."""
    import struct

    import numpy as np

    buf = bytes(content)
    if buf[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    cw, ch_, packed, bg, _ = struct.unpack_from("<HHBBB", buf, 6)
    pos, gpal = 13, None
    if packed & 0x80:
        n = 2 << (packed & 7)
        gpal = np.frombuffer(buf[pos : pos + 3 * n], np.uint8).reshape(n, 3)
        pos += 3 * n
    canvas = np.zeros((ch_, cw, 3), np.uint8)
    if gpal is not None and bg < len(gpal):
        canvas[:] = gpal[bg]
    frames = []
    disposal, tflag, tidx = 0, False, 0
    while pos < len(buf):
        b0 = buf[pos]
        pos += 1
        if b0 == 0x3B:  # trailer
            break
        if b0 == 0x21:  # extension: label + sub-blocks
            label = buf[pos]
            pos += 1
            while True:
                sz = buf[pos]
                pos += 1
                if sz == 0:
                    break
                if label == 0xF9 and sz == 4:
                    gce = buf[pos]
                    disposal = (gce >> 2) & 7
                    tflag = bool(gce & 1)
                    tidx = buf[pos + 3]
                pos += sz
        elif b0 == 0x2C:  # image descriptor
            left, top, w, h, ip = struct.unpack_from("<HHHHB", buf, pos)
            pos += 9
            pal = gpal
            if ip & 0x80:
                n = 2 << (ip & 7)
                pal = np.frombuffer(buf[pos : pos + 3 * n], np.uint8).reshape(n, 3)
                pos += 3 * n
            if ip & 0x40:
                raise NotImplementedError("interlaced GIF not supported")
            if pal is None:
                raise ValueError("GIF image with no color table")
            mcs = buf[pos]
            pos += 1
            data = bytearray()
            while True:
                sz = buf[pos]
                pos += 1
                if sz == 0:
                    break
                data += buf[pos : pos + sz]
                pos += sz
            idx = _lzw_decode_bytes(bytes(data), mcs)
            if len(idx) < w * h:
                raise ValueError("GIF frame pixel data truncated")
            arr = (
                np.frombuffer(idx, np.uint8, count=w * h)
                .reshape(h, w)
                .astype(np.int32)
            )
            if int(arr.max(initial=0)) >= len(pal):
                raise ValueError("GIF index out of palette range")
            saved = canvas[top : top + h, left : left + w].copy()
            rect = pal[arr]
            if tflag:
                keep = arr == tidx
                rect = np.where(keep[:, :, None], saved, rect)
            canvas[top : top + h, left : left + w] = rect
            frames.append(
                canvas.copy()
                if frame_filter is None or frame_filter(len(frames))
                else None
            )
            if disposal == 2:
                canvas[top : top + h, left : left + w] = (
                    gpal[bg] if gpal is not None and bg < len(gpal) else 0
                )
            elif disposal == 3:
                canvas[top : top + h, left : left + w] = saved
            disposal, tflag, tidx = 0, False, 0
        else:
            raise ValueError(f"unknown GIF block 0x{b0:02x}")
    if not frames:
        raise ValueError("GIF carries no image data")
    return cw, ch_, frames


def gif_encode(frames, palette, width: int, height: int) -> bytes:
    """Synthesize a real GIF89a: full-canvas frames of palette indices,
    one global color table, per-frame GCE (disposal=1, 40 ms delay) when
    animated.
    Exists for the decode gates and tests — the encoder/decoder pair
    round-trips bit-exactly (test-pinned), so the SQL oracle can score
    the decode from the raw pre-compression indices."""
    import struct

    ncol = max(4, 1 << max(2, (len(palette) - 1).bit_length()))
    mcs = (ncol - 1).bit_length()
    pal = bytearray()
    for c in list(palette) + [(0, 0, 0)] * (ncol - len(palette)):
        pal += bytes(c[:3])
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", width, height, 0x80 | ((mcs - 1) << 4) | (mcs - 1), 0, 0)
    out += pal
    animated = len(frames) > 1
    for fr in frames:
        if animated:
            out += struct.pack("<BBBBHBB", 0x21, 0xF9, 4, 0x04, 4, 0, 0)
        out += struct.pack("<BHHHHB", 0x2C, 0, 0, width, height, 0)
        flat = [int(v) for row in fr for v in row]
        if any(v < 0 or v >= ncol for v in flat):
            raise ValueError("palette index out of range")
        comp = _lzw_encode(flat, mcs)
        out.append(mcs)
        for i in range(0, len(comp), 255):
            chunk = comp[i : i + 255]
            out.append(len(chunk))
            out += chunk
        out.append(0)
    out.append(0x3B)
    return bytes(out)


# ---------------------------------------------------------------------------
# AVI (r10): uncompressed-DIB video. The container is a plain RIFF chunk
# walk (public AVI/RIFF spec) and BI_RGB frames are raw bottom-up BGR
# rows — no codec exists to need ffmpeg for. Compressed streams
# (biCompression != 0: cinepak/h264/...) genuinely need one and raise.
# This closes the "video is env-gated" line for the uncompressed case:
# every container this engine claims is decoded from scratch.
# ---------------------------------------------------------------------------


def _decode_avi_frames(content: bytes):
    """Decode an uncompressed AVI payload to (width, height, [frames]),
    each frame a top-down (h, w, 3) uint8 RGB array. Walks RIFF LISTs
    for hdrl (avih geometry) and strf (BITMAPINFOHEADER — must be
    24-bit BI_RGB), then collects '..db' movi chunks; '..dc'
    (compressed) frames raise NotImplementedError naming the codec
    gap. Word-aligned chunk padding per the RIFF spec."""
    import struct

    import numpy as np

    buf = bytes(content)
    if buf[:4] != b"RIFF" or buf[8:12] != b"AVI ":
        raise ValueError("not an AVI payload")
    width = height = None
    bitcount, compression = None, None
    in_video_stream = False
    frames_raw = []

    def walk(start, end):
        nonlocal width, height, bitcount, compression, in_video_stream
        pos = start
        while pos + 8 <= end:
            cid, sz = buf[pos : pos + 4], struct.unpack_from("<I", buf, pos + 4)[0]
            body = pos + 8
            if cid == b"LIST":
                walk(body + 4, body + sz)  # skip the 4-byte list type
            elif cid == b"avih":
                width, height = struct.unpack_from("<II", buf, body + 32)
            elif cid == b"strh":
                # a strf's layout depends on its stream's fccType: only
                # the one following a 'vids' strh is a BITMAPINFOHEADER
                # (an audio-first AVI would otherwise have its
                # WAVEFORMATEX bytes misread as geometry)
                in_video_stream = buf[body : body + 4] == b"vids"
            elif cid == b"strf" and in_video_stream and bitcount is None:
                _bisz, _w, _h, _planes, bitcount, compression = struct.unpack_from(
                    "<IiiHHI", buf, body
                )
            elif cid[2:4] == b"db":
                frames_raw.append(buf[body : body + sz])
            elif cid[2:4] == b"dc":
                raise NotImplementedError(
                    "compressed AVI streams need a codec (ffmpeg) — only "
                    "uncompressed BI_RGB AVI decodes natively"
                )
            pos = body + sz + (sz & 1)  # RIFF chunks are word-aligned

    walk(12, len(buf))
    if width is None or not frames_raw:
        raise ValueError("AVI missing avih header or frame data")
    if compression not in (None, 0) or (bitcount is not None and bitcount != 24):
        raise NotImplementedError(
            "compressed AVI streams need a codec (ffmpeg) — only "
            "uncompressed 24-bit BI_RGB AVI decodes natively"
        )
    stride = (width * 3 + 3) & ~3
    frames = []
    for raw in frames_raw:
        if len(raw) < stride * height:
            raise ValueError("AVI frame data truncated")
        rows = np.frombuffer(raw, np.uint8, count=stride * height).reshape(
            height, stride
        )[:, : width * 3]
        # DIB rows are bottom-up BGR; flip both to the shared RGB contract
        frames.append(rows.reshape(height, width, 3)[::-1, :, ::-1].copy())
    return width, height, frames


def avi_encode(frames, width: int, height: int) -> bytes:
    """Synthesize a minimal 10 fps uncompressed AVI (RIFF/hdrl/strl/movi,
    24-bit BI_RGB '00db' frames, bottom-up BGR, stride padded to 4).
    Exists for the decode gates and tests; round-trips bit-exactly with
    _decode_avi_frames (test-pinned)."""
    import struct

    import numpy as np

    stride = (width * 3 + 3) & ~3

    def chunk(cid: bytes, body: bytes) -> bytes:
        return cid + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) & 1 else b"")

    def lst(ltype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", ltype + body)

    avih = struct.pack(
        "<14I",
        1000000 // 10, stride * height * 10, 0, 0,
        len(frames), 0, 1, stride * height, width, height, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"DIB " + struct.pack("<IHHIIIIIIIII", 0, 0, 0, 0, 1, 10, 0, len(frames), stride * height, 0, 0, 0)
        + struct.pack("<4H", 0, 0, width, height)
    )
    strf = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, stride * height, 0, 0, 0, 0)
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi_body = b""
    for fr in frames:
        arr = np.asarray(fr, np.uint8).reshape(height, width, 3)
        dib = np.zeros((height, stride), np.uint8)
        dib[:, : width * 3] = arr[::-1, :, ::-1].reshape(height, width * 3)
        movi_body += chunk(b"00db", dib.tobytes())
    riff_body = b"AVI " + hdrl + lst(b"movi", movi_body)
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body
