"""Multimodal plumbing (X5): magic-byte sniffing, Arrow-batched fake
decode, frame-sampling fan-out, real-decode stub contract."""

import pytest

from etl_ipl_data_analysis_pipeline_spark.operators import multimodal
from etl_ipl_data_analysis_pipeline_spark.operators import multimodal as mm


@pytest.fixture(scope="module")
def media(spark):
    payloads = [
        ("img1.png", b"\x89PNG\r\n\x1a\n" + b"p" * 200),
        ("img2.jpg", b"\xff\xd8\xff\xe0" + b"j" * 300),
        ("clip.wav", b"RIFF" + b"w" * 400),
        ("blob.bin", b"\x00\x01\x02\x03" + b"b" * 100),
    ]
    binary_like = spark.createDataFrame(
        [(p, c, len(c)) for p, c in payloads], "path string, content binary, length long"
    )
    return multimodal.attach_metadata(binary_like)


def test_attach_metadata_sniffs_formats(media):
    fmts = {r["path"]: r["format"] for r in media.collect()}
    assert fmts == {
        "img1.png": "png",
        "img2.jpg": "jpeg",
        "clip.wav": "riff",
        "blob.bin": "unknown",
    }


def test_attach_metadata_ids_stable(media):
    a = {r["path"]: r["media_id"] for r in media.collect()}
    b = {r["path"]: r["media_id"] for r in media.collect()}
    assert a == b


def test_extract_features_fake_plumbing(media):
    out = multimodal.extract_features(media, fake=True).collect()
    assert len(out) == 4
    for r in out:
        assert r["width"] >= 16 and r["height"] >= 16
        assert len(r["feature"]) == 8
        assert all(0.0 <= f <= 1.0 for f in r["feature"])


def test_extract_features_fake_deterministic(media):
    a = sorted((r["media_id"], tuple(r["feature"])) for r in
               multimodal.extract_features(media, fake=True).collect())
    b = sorted((r["media_id"], tuple(r["feature"])) for r in
               multimodal.extract_features(media.repartition(3), fake=True).collect())
    assert a == b  # stable across partitionings (crc32, not salted hash)


def test_extract_features_portable_md5_seed(media):
    """The portable fake (multimodal_features' oracle twin) must derive its
    seed exactly as the DuckDB SQL does: md5 over the UPPERCASE HEX of the
    first 64 payload bytes, first 8 hex digits as an int, masked to 31 bits."""
    import hashlib

    payload = b"\x89PNG\r\n\x1a\n" + b"hello world" * 10
    w, h, feat = multimodal._fake_decode_md5(payload)
    seed = int(
        hashlib.md5(payload[:64].hex().upper().encode()).hexdigest()[:8], 16
    ) & 0x7FFFFFFF
    assert (w, h) == (16 + seed % 1024, 16 + (seed >> 10) % 1024)
    assert feat == [((seed >> (i % 24)) & 0xFF) / 255.0 for i in range(8)]

    out = multimodal.extract_features(media, fake=True, portable=True).collect()
    again = multimodal.extract_features(
        media.repartition(3), fake=True, portable=True
    ).collect()
    key = lambda rows: sorted((r["media_id"], tuple(r["feature"])) for r in rows)
    assert key(out) == key(again)


def test_compressed_decode_is_declared_stub(media):
    """Only COMPRESSED-video codecs are env-gated now; PPM/BMP/PNG/
    baseline-JPEG/GIF/WAV/uncompressed-AVI decode natively
    (TestRealDecode, TestJpegCodec, TestGifCodec, TestAviCodec)."""
    with pytest.raises(NotImplementedError, match="ffmpeg"):
        multimodal.decode_image(b"\x00\x00\x00\x18ftypisom" + b"\x00" * 16)


def test_sample_frames_fanout(media):
    frames = multimodal.sample_frames(media, every_n=1).collect()
    assert frames  # at least one frame per payload
    by_media = {}
    for r in frames:
        by_media.setdefault(r["media_id"], []).append(r["frame_idx"])
    for idxs in by_media.values():
        assert idxs == sorted(idxs) and len(idxs) <= 8


class TestRealDecode:
    """Native decode of lib-free formats: PPM/BMP with numpy, WAV via the
    stdlib wave module — only compressed codecs remain env-gated."""

    def _ppm(self, w, h, px):
        return b"P6\n# c\n%d %d\n255\n" % (w, h) + bytes(px)

    def test_ppm_decode_exact(self, spark):
        import numpy as np

        from etl_ipl_data_analysis_pipeline_spark.operators import multimodal as mm

        px = list(range(4 * 2 * 3))  # 4x2 RGB ramp
        w, h, feat = mm.decode_image(self._ppm(4, 2, px))
        assert (w, h) == (4, 2)
        arr = np.array(px, dtype=np.float64) / 255.0
        assert feat[0] == pytest.approx(arr.mean())
        segs = np.array_split(arr, mm.FEATURE_DIM - 1)
        assert feat[1:] == pytest.approx([s.mean() for s in segs])

    def test_bmp_decode_matches_ppm_pixels(self):
        import struct

        from etl_ipl_data_analysis_pipeline_spark.operators import multimodal as mm

        # 2x2 RGB image; BMP stores bottom-up BGR rows padded to 4 bytes
        rgb_rows = [
            [(255, 0, 0), (0, 255, 0)],   # top row
            [(0, 0, 255), (255, 255, 255)],  # bottom row
        ]
        stride_pad = b"\x00\x00"  # 2*3=6 bytes -> pad to 8
        pixel_data = b""
        for row in reversed(rgb_rows):  # bottom-up
            for r, g, b in row:
                pixel_data += bytes([b, g, r])
            pixel_data += stride_pad
        header = (
            b"BM"
            + struct.pack("<IHHI", 54 + len(pixel_data), 0, 0, 54)
            + struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(pixel_data), 0, 0, 0, 0)
        )
        w, h, feat = mm.decode_image(header + pixel_data)
        assert (w, h) == (2, 2)
        # decoded RGB top-down equals the ppm twin of the same pixels
        flat = [c for row in rgb_rows for p in row for c in p]
        pw, ph, pfeat = mm.decode_image(self._ppm(2, 2, flat))
        assert feat == pytest.approx(pfeat)

    def test_wav_decode(self):
        import io
        import wave as wavmod

        import numpy as np

        from etl_ipl_data_analysis_pipeline_spark.operators import multimodal as mm

        samples = np.array([0, 16384, -16384, 32767], dtype="<i2")
        buf = io.BytesIO()
        with wavmod.open(buf, "wb") as f:
            f.setnchannels(1)
            f.setsampwidth(2)
            f.setframerate(16000)
            f.writeframes(samples.tobytes())
        n_ch, rate_k, feat = mm.decode_image(buf.getvalue())
        assert (n_ch, rate_k) == (1, 16)
        assert feat[0] == pytest.approx(np.abs(samples / 32768.0).mean())

    def test_entropy_coded_formats_still_raise(self):
        # PNG decodes natively as of r9, baseline JPEG and GIF as of
        # r10; only video remains env-gated, and GARBAGE payloads of
        # the decodable formats raise (-> NULL row in the UDF), never
        # mis-decode
        from etl_ipl_data_analysis_pipeline_spark.operators import multimodal as mm

        with pytest.raises(Exception):
            mm.decode_image(b"GIF89a" + b"\x00" * 64)
        with pytest.raises(Exception):
            mm.decode_image(b"\xff\xd8\xff\xe0" + b"\x00" * 64)
        with pytest.raises(Exception):
            mm.decode_image(b"\x89PNG\r\n\x1a\n" + b"\x00" * 64)

    def test_mixed_corpus_through_real_path(self, spark):
        """extract_features(fake=False) over a mixed corpus: decodable
        formats come back with real dims, compressed ones with NULLs."""
        from etl_ipl_data_analysis_pipeline_spark.operators import multimodal as mm

        rows = [
            (1, "a.ppm", "ppm", 30, bytearray(self._ppm(2, 2, list(range(12))))),
            (2, "b.png", "png", 8, bytearray(b"\x89PNG\r\n\x1a\n")),
        ]
        df = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
        out = {r["media_id"]: r for r in mm.extract_features(df).collect()}
        assert (out[1]["width"], out[1]["height"]) == (2, 2)
        assert out[1]["feature"] is not None
        assert out[2]["width"] is None and out[2]["feature"] is None


class TestImageAhash:
    def test_exact_copy_same_hash_and_pairs(self, spark):
        import pyspark.sql.functions as F

        from etl_ipl_data_analysis_pipeline_spark.operators import (
            dedup,
            multimodal as mm,
        )

        def ppm(w, h, seed):
            px = bytes((seed * 37 + i * 11) % 256 for i in range(w * h * 3))
            return b"P6\n%d %d\n255\n" % (w, h) + px

        rows = [
            (1, "a.ppm", "ppm", 27, ppm(3, 3, 5)),
            (2, "b.ppm", "ppm", 27, ppm(3, 3, 99)),
            (100, "c.ppm", "ppm", 27, ppm(3, 3, 5)),  # exact copy of 1
        ]
        media = spark.createDataFrame(
            rows, "media_id bigint, path string, format string, n_bytes bigint, content binary"
        )
        fp = mm.image_ahash(media, bits=16)
        got = {r["media_id"]: r["ahash"] for r in fp.collect()}
        assert got[1] == got[100]  # identical pixels -> identical hash
        pairs = dedup.fingerprint_near_dup_pairs(
            fp, max_hamming=0, bits=16
        ).collect()
        assert {(r["id_a"], r["id_b"]) for r in pairs} >= {(1, 100)}
        for r in pairs:
            assert r["hamming"] == 0

    def test_ahash_matches_python_mirror(self, spark):
        """Spark-side ahash == a direct pure-Python integer mirror of the
        block rule (array_split boundaries, cross-multiplied compare)."""
        import numpy as np

        from etl_ipl_data_analysis_pipeline_spark.operators import multimodal as mm

        def ppm(w, h, seed):
            px = bytes((seed * 13 + i * 7) % 256 for i in range(w * h * 3))
            return b"P6\n%d %d\n255\n" % (w, h) + px

        rows = [(i, "x.ppm", "ppm", 3 * (1 + i % 4) * (1 + i % 2), ppm(1 + i % 4, 1 + i % 2, i)) for i in range(12)]
        media = spark.createDataFrame(
            rows, "media_id bigint, path string, format string, n_bytes bigint, content binary"
        )
        got = {r["media_id"]: (r["width"], r["height"], r["ahash"])
               for r in mm.image_ahash(media, bits=16).collect()}
        for mid, _, _, _, content in rows:
            w, h, arr = mm._raw_samples(content)
            n, total = arr.size, int(arr.sum())
            want = 0
            for i, blk in enumerate(np.array_split(arr, 16)):
                if blk.size and int(blk.sum()) * n > total * int(blk.size):
                    want |= 1 << i
            assert got[mid] == (w, h, want)

    def test_fingerprint_pairs_match_brute_force(self, spark):
        import itertools
        import random

        from etl_ipl_data_analysis_pipeline_spark.operators import dedup

        rnd = random.Random(23)
        fps = [(i, rnd.getrandbits(16)) for i in range(40)]
        df = spark.createDataFrame(fps, "media_id bigint, ahash bigint")
        got = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in dedup.fingerprint_near_dup_pairs(
                df, max_hamming=3, bits=16
            ).collect()
        }
        want = {
            (a, b, bin(fa ^ fb).count("1"))
            for (a, fa), (b, fb) in itertools.combinations(fps, 2)
            if bin(fa ^ fb).count("1") <= 3
        }
        assert got == want
        import pytest as _pt

        with _pt.raises(ValueError):
            dedup.fingerprint_near_dup_pairs(df, max_hamming=2, bits=16)

    def test_incremental_fingerprint_pairs_match_brute_force(self, spark):
        # the probe leg on its own: every (new, old) pair within the radius
        # appears exactly once (pigeonhole over max_hamming + 1 bands makes
        # recall exact, the first agreeing band makes it unique), and a
        # NULL fingerprint on either side never pairs
        import random

        from etl_ipl_data_analysis_pipeline_spark.operators import dedup

        rnd = random.Random(31)
        old = [(i, rnd.getrandbits(16)) for i in range(60)]
        old += [(60, None), (61, None)]
        new = []
        for j in range(20):  # planted: 0-4 bits away from an old print
            fp = old[j][1]
            for bit in rnd.sample(range(16), j % 5):
                fp ^= 1 << bit
            new.append((1000 + j, fp))
        new += [(1020 + j, rnd.getrandbits(16)) for j in range(20)]
        new += [(1040, None), (1041, None)]
        schema = "media_id bigint, ahash bigint"
        got = sorted(
            tuple(r)
            for r in dedup.fingerprint_incremental_pairs(
                spark.createDataFrame(new, schema),
                spark.createDataFrame(old, schema),
                max_hamming=3,
                bits=16,
            ).collect()
        )
        want = sorted(
            (a, b, bin(fa ^ fb).count("1"))
            for a, fa in new
            for b, fb in old
            if fa is not None
            and fb is not None
            and bin(fa ^ fb).count("1") <= 3
        )
        assert got == want
        # the planted 0-3 bit copies are all in, the 4-bit ones are not
        planted = {(1000 + j, j) for j in range(20) if j % 5 <= 3}
        assert planted <= {(a, b) for a, b, _ in got}
        assert not {(1000 + j, j) for j in range(20) if j % 5 == 4} & {
            (a, b) for a, b, _ in got
        }


def _encode_png(px_rows, filters, channels):
    """Test-side PNG encoder: raw pixel rows + a filter type per row ->
    valid PNG bytes (stdlib only). The decoder under test must undo each
    filter exactly."""
    import struct
    import zlib

    h, w = len(px_rows), len(px_rows[0]) // channels
    stride = w * channels

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
            if f == 0:
                v = row[x]
            elif f == 1:
                v = row[x] - a
            elif f == 2:
                v = row[x] - b
            elif f == 3:
                v = row[x] - (a + b) // 2
            else:
                v = row[x] - paeth(a, b, c)
            line.append(v & 0xFF)
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


class TestPngDecode:
    def test_all_filters_round_trip(self):
        import random

        from etl_ipl_data_analysis_pipeline_spark.operators import multimodal as mm

        rnd = random.Random(31)
        for channels in (1, 3, 4):
            w, h = 5, 6
            rows = [
                [rnd.randrange(256) for _ in range(w * channels)] for _ in range(h)
            ]
            filters = [y % 5 for y in range(h)]  # every filter type used
            png = _encode_png(rows, filters, channels)
            gw, gh, px = mm._decode_png_pixels(png)
            assert (gw, gh) == (w, h)
            keep = min(channels, 3)  # alpha dropped
            want = [
                rows[y][x * channels + c]
                for y in range(h)
                for x in range(w)
                for c in range(keep)
            ]
            assert px.reshape(-1).tolist() == want

    def test_decode_image_and_raw_samples_agree(self):
        import random

        from etl_ipl_data_analysis_pipeline_spark.operators import multimodal as mm

        rnd = random.Random(37)
        rows = [[rnd.randrange(256) for _ in range(4 * 3)] for _ in range(3)]
        png = _encode_png(rows, [4, 1, 3], 3)
        w, h, feat = mm.decode_image(png)
        assert (w, h) == (4, 3) and len(feat) == 8
        flat = [b for r in rows for b in r]
        assert abs(feat[0] - sum(flat) / len(flat) / 255.0) < 1e-12
        w2, h2, arr = mm._raw_samples(png)
        assert (w2, h2) == (4, 3) and arr.tolist() == flat

    def test_unsupported_variants_raise(self):
        import struct
        import zlib

        import pytest as _pt

        from etl_ipl_data_analysis_pipeline_spark.operators import multimodal as mm

        def chunk(ctype, data):
            return (
                struct.pack(">I", len(data))
                + ctype
                + data
                + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
            )

        for depth, color, interlace in ((16, 2, 0), (8, 3, 0), (8, 2, 1)):
            ihdr = struct.pack(">IIBBBBB", 2, 2, depth, color, 0, 0, interlace)
            png = (
                b"\x89PNG\r\n\x1a\n"
                + chunk(b"IHDR", ihdr)
                + chunk(b"IDAT", zlib.compress(b"\x00" * 13))
                + chunk(b"IEND", b"")
            )
            with _pt.raises(NotImplementedError):
                mm._decode_png_pixels(png)


class TestJpegCodec:
    """Lib-free baseline JPEG: encoder + decoder round-trips, reference
    IDCT agreement, entropy-stream edge cases, honest unsupported
    variants."""

    @staticmethod
    def _ref_idct(B):
        import numpy as np

        out = np.zeros((8, 8))
        for x in range(8):
            for y in range(8):
                s = 0.0
                for u in range(8):
                    for v in range(8):
                        cu = 1 / np.sqrt(2) if u == 0 else 1.0
                        cv = 1 / np.sqrt(2) if v == 0 else 1.0
                        s += (
                            cu * cv * B[u][v]
                            * np.cos((2 * x + 1) * u * np.pi / 16)
                            * np.cos((2 * y + 1) * v * np.pi / 16)
                        )
                out[x, y] = s / 4
        return out

    @staticmethod
    def _const_blocks(vals):
        blocks = []
        for v in vals:
            b = [[0] * 8 for _ in range(8)]
            b[0][0] = 8 * (v - 128)
            blocks.append(b)
        return blocks

    def test_constant_blocks_roundtrip_exactly(self):
        import numpy as np

        vals = [0, 7, 48, 102, 128, 200, 255]
        # 7 blocks: 7x1 grid
        content = mm.jpeg_encode_gray(self._const_blocks(vals), 7, 1)
        w, h, px = mm._decode_jpeg_pixels(content)
        assert (w, h, px.shape) == (56, 8, (8, 56, 1))
        for i, v in enumerate(vals):
            assert np.array_equal(
                px[:, i * 8 : (i + 1) * 8, 0], np.full((8, 8), v)
            ), (i, v)

    def test_general_ac_blocks_match_reference_idct(self):
        import numpy as np

        rng = np.random.RandomState(3)
        for trial in range(4):
            coef = rng.randint(-60, 60, size=(8, 8))
            want = np.clip(
                np.round(self._ref_idct(coef) + 128), 0, 255
            ).astype(np.int64)
            content = mm.jpeg_encode_gray([coef.tolist()], 1, 1)
            _, _, px = mm._decode_jpeg_pixels(content)
            assert np.array_equal(px[:, :, 0], want), trial

    def test_zrl_and_eob_paths(self):
        import numpy as np

        # a lone coefficient deep in the zigzag forces ZRL runs; the
        # all-zero tail forces EOB
        coef = np.zeros((8, 8), np.int64)
        nat = mm._JPEG_ZZ[52]
        coef[nat // 8][nat % 8] = -9
        want = np.clip(np.round(self._ref_idct(coef) + 128), 0, 255).astype(
            np.int64
        )
        content = mm.jpeg_encode_gray([coef.tolist()], 1, 1)
        _, _, px = mm._decode_jpeg_pixels(content)
        assert np.array_equal(px[:, :, 0], want)

    def test_byte_stuffing_exercised_and_survives(self):
        import numpy as np

        # search a deterministic seed whose entropy stream contains a
        # stuffed 0xFF00 — proving the writer stuffs and the reader
        # destuffs on a payload where it actually matters
        rng = np.random.RandomState(0)
        for _ in range(200):
            coef = rng.randint(-70, 70, size=(8, 8))
            content = mm.jpeg_encode_gray([coef.tolist()], 1, 1)
            scan = content[content.index(b"\xff\xda") : -2]
            if b"\xff\x00" in scan:
                want = np.clip(
                    np.round(self._ref_idct(coef) + 128), 0, 255
                ).astype(np.int64)
                _, _, px = mm._decode_jpeg_pixels(content)
                assert np.array_equal(px[:, :, 0], want)
                return
        raise AssertionError("no stuffed byte found in 200 trials")

    def test_multiblock_dc_prediction_chain(self):
        import numpy as np

        # descending then ascending values exercise negative DC diffs
        vals = [200, 10, 250, 3, 128, 90]
        content = mm.jpeg_encode_gray(self._const_blocks(vals), 3, 2)
        _, _, px = mm._decode_jpeg_pixels(content)
        for i, v in enumerate(vals):
            by, bx = divmod(i, 3)
            assert np.array_equal(
                px[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8, 0],
                np.full((8, 8), v),
            )

    def test_unsupported_variants_raise(self):
        import struct

        content = bytearray(mm.jpeg_encode_gray(self._const_blocks([50]), 1, 1))
        # flip SOF0 -> SOF2 (progressive)
        i = content.index(b"\xff\xc0")
        content[i + 1] = 0xC2
        with pytest.raises(NotImplementedError, match="progressive"):
            mm._decode_jpeg_pixels(bytes(content))
        # subsampled chroma: rewrite sampling byte
        content[i + 1] = 0xC0
        sof_len = struct.unpack_from(">H", content, i + 2)[0]
        content[i + 4 + 7] = 0x22  # hv byte of component 0: h=2, v=2
        with pytest.raises(NotImplementedError, match="4:4:4"):
            mm._decode_jpeg_pixels(bytes(content))
        with pytest.raises(ValueError, match="not a JPEG"):
            mm._decode_jpeg_pixels(b"\x89PNG")

    def test_image_ahash_rides_jpeg(self, spark):
        """a JPEG payload flows through the integer perceptual-hash
        pipeline: identical content -> identical ahash."""
        vals = [60, 61, 190, 200, 32, 77]
        content = mm.jpeg_encode_gray(self._const_blocks(vals), 3, 2)
        df = spark.createDataFrame(
            [(1, "a.jpg", "jpeg", len(content), bytearray(content)),
             (2, "b.jpg", "jpeg", len(content), bytearray(content))],
            mm.MEDIA_SCHEMA,
        )
        out = {r["media_id"]: r["ahash"] for r in mm.image_ahash(df, bits=16).collect()}
        assert out[1] == out[2]


class TestGifCodec:
    """From-scratch GIF LZW + container (r10): round-trips, composition
    semantics, and honest failure modes."""

    def _pal(self):
        return [(i, i, i) for i in range(128)]

    def test_lzw_roundtrip_all_regimes(self):
        import random

        rng = random.Random(7)
        for mcs, n in [(2, 1), (2, 10), (7, 500), (2, 20000)]:
            idx = [rng.randrange(1 << mcs) for _ in range(n)]
            enc = multimodal._lzw_encode(idx, mcs)
            assert multimodal._lzw_decode(enc, mcs) == idx, (mcs, n)
        # 20000 symbols over a 4-symbol alphabet crosses the 4096-entry
        # table and exercises the CLEAR/reset regime; 500 over 128
        # exercises width growth past 8 bits without a reset.

    def test_lzw_runs_compress(self):
        idx = [5] * 4096
        enc = multimodal._lzw_encode(idx, 7)
        assert len(enc) < 300  # runs must actually compress
        assert multimodal._lzw_decode(enc, 7) == idx

    def test_container_roundtrip_and_decode_image(self):
        import hashlib

        w, h = 9, 4
        px = (hashlib.md5(b"x").hexdigest() * 4)[: w * h]
        grid = [[ord(c) for c in px[y * w : (y + 1) * w]] for y in range(h)]
        payload = multimodal.gif_encode([grid], self._pal(), w, h)
        W, H, frames = multimodal._decode_gif_frames(payload)
        assert (W, H, len(frames)) == (w, h, 1)
        assert frames[0].tolist() == [[[v] * 3 for v in row] for row in grid]
        dw, dh, feat = multimodal.decode_image(payload)
        assert (dw, dh) == (w, h)
        assert round(feat[0] * w * h * 3 * 255) == 3 * sum(map(ord, px))

    def test_animated_composition_disposal_and_transparency(self):
        import struct

        import numpy as np

        pal = self._pal()
        base = [[10, 20], [30, 40]]
        over = [[50, 50], [50, 50]]
        payload = multimodal.gif_encode([base, over], pal, 2, 2)
        _, _, frames = multimodal._decode_gif_frames(payload)
        assert frames[1].tolist() == [[[50] * 3] * 2] * 2
        # hand-build frame 2 with a transparency flag: transparent index
        # 50 must KEEP the composed canvas (all 50s) from frame 1
        gce = struct.pack("<BBBBHBB", 0x21, 0xF9, 4, 0x05, 4, 50, 0)
        img = struct.pack("<BHHHHB", 0x2C, 0, 0, 2, 2, 0)
        lzw = multimodal._lzw_encode([50, 99, 50, 99], 7)
        extra = gce + img + bytes([7, len(lzw)]) + lzw + b"\x00"
        patched = payload[:-1] + extra + b"\x3b"
        _, _, frames3 = multimodal._decode_gif_frames(patched)
        assert frames3[2].tolist() == [
            [[50] * 3, [99] * 3],
            [[50] * 3, [99] * 3],
        ]

    def test_interlaced_and_truncated_raise(self):
        import struct

        w, h = 3, 2
        payload = multimodal.gif_encode([[[1] * w] * h], self._pal(), w, h)
        # flip the interlace bit in the image descriptor's packed byte;
        # the descriptor sits right after header(6) + LSD(7) + the
        # 128-entry global palette (byte 0x2c also APPEARS in the
        # palette, so no searching)
        pos = 13 + 3 * 128
        assert payload[pos] == 0x2C
        patched = bytearray(payload)
        patched[pos + 9] |= 0x40
        with pytest.raises(NotImplementedError, match="interlaced"):
            multimodal._decode_gif_frames(bytes(patched))
        with pytest.raises(ValueError):
            multimodal._decode_gif_frames(b"GIF89a" + struct.pack("<HHBBB", 1, 1, 0, 0, 0) + b"\x3b")

    def test_sample_frames_real_gif(self, spark):
        import pandas as pd

        pal = self._pal()
        frames = [[[10 + f] * 4] * 3 for f in range(5)]  # 5 frames, 4x3
        payload = multimodal.gif_encode(frames, pal, 4, 3)
        media = spark.createDataFrame(
            pd.DataFrame(
                {
                    "media_id": [1, 2],
                    "content": [payload, b"RIFFxxxxAVI not-a-gif"],
                }
            ),
            schema="media_id long, content binary",
        )
        out = multimodal.sample_frames(media, every_n=2, fake=False).collect()
        got = {(r["media_id"], r["frame_idx"]): r["frame"] for r in out}
        # undecodable payload yields no rows; GIF yields original indices 0/2/4
        assert set(got) == {(1, 0), (1, 2), (1, 4)}
        for fi in (0, 2, 4):
            assert got[(1, fi)] == bytes([10 + fi] * 3) * 12

    def test_raw_samples_gif_rides_ahash(self):
        grid = [[3, 5, 7], [9, 11, 13]]
        payload = multimodal.gif_encode([grid], self._pal(), 3, 2)
        w, h, samples = multimodal._raw_samples(payload)
        assert (w, h) == (3, 2)
        assert samples.sum() == 3 * (3 + 5 + 7 + 9 + 11 + 13)


class TestAviCodec:
    """Uncompressed-AVI RIFF walk (r10): exact round-trips incl. the
    BGR/bottom-up normalization and DIB stride padding, honest raises
    for compressed streams."""

    def _frames(self, w, h, n):
        import numpy as np

        rng = np.random.RandomState(5)
        return [rng.randint(0, 256, (h, w, 3), dtype=np.uint8) for _ in range(n)]

    def test_roundtrip_exact_pixels_with_stride_padding(self):
        # w=5 -> 15-byte rows padded to 16: the stride path must not
        # leak pad bytes into pixels
        frames = self._frames(5, 3, 2)
        payload = multimodal.avi_encode(frames, 5, 3)
        w, h, out = multimodal._decode_avi_frames(payload)
        assert (w, h, len(out)) == (5, 3, 2)
        for a, b in zip(frames, out):
            assert (a == b).all()

    def test_decode_image_first_frame_and_raw_samples(self):
        import numpy as np

        frames = self._frames(4, 2, 3)
        payload = multimodal.avi_encode(frames, 4, 2)
        w, h, feat = multimodal.decode_image(payload)
        assert (w, h) == (4, 2)
        assert feat[0] == pytest.approx(frames[0].astype("float64").mean() / 255.0)
        rw, rh, samples = multimodal._raw_samples(payload)
        assert (rw, rh) == (4, 2)
        assert samples.sum() == int(frames[0].astype(np.int64).sum())

    def test_compressed_stream_raises(self):
        import struct

        payload = bytearray(multimodal.avi_encode(self._frames(2, 2, 1), 2, 2))
        # flip biCompression in strf from BI_RGB(0) to something else
        pos = payload.index(b"strf") + 8 + 16
        payload[pos] = 1
        with pytest.raises(NotImplementedError, match="codec"):
            multimodal._decode_avi_frames(bytes(payload))
        # and a '00dc' (compressed) movi chunk raises on sight
        payload2 = bytearray(multimodal.avi_encode(self._frames(2, 2, 1), 2, 2))
        payload2[payload2.index(b"00db") + 2 : payload2.index(b"00db") + 4] = b"dc"
        with pytest.raises(NotImplementedError, match="codec"):
            multimodal._decode_avi_frames(bytes(payload2))

    def test_truncated_and_not_avi_raise(self):
        frames = self._frames(3, 2, 1)
        payload = multimodal.avi_encode(frames, 3, 2)
        with pytest.raises(ValueError):
            multimodal._decode_avi_frames(payload[: len(payload) - 10])
        with pytest.raises(ValueError):
            multimodal._decode_avi_frames(b"RIFF\x04\x00\x00\x00WAVE")

    def test_sample_frames_mixed_gif_avi(self, spark):
        import pandas as pd

        avi = multimodal.avi_encode(self._frames(3, 2, 4), 3, 2)
        gif = multimodal.gif_encode(
            [[[1, 2], [3, 4]], [[5, 6], [7, 8]], [[9, 10], [11, 12]]],
            [(i, i, i) for i in range(16)],
            2,
            2,
        )
        media = spark.createDataFrame(
            pd.DataFrame({"media_id": [1, 2], "content": [avi, gif]}),
            schema="media_id long, content binary",
        )
        out = multimodal.sample_frames(media, every_n=2, fake=False).collect()
        got = sorted((r["media_id"], r["frame_idx"]) for r in out)
        assert got == [(1, 0), (1, 2), (2, 0), (2, 2)]


def test_avi_audio_first_stream_still_decodes():
    """A legal RIFF layout lists the audio strl BEFORE the video strl;
    the audio strf (WAVEFORMATEX) must not be misread as geometry —
    only the strf following a 'vids' strh is a BITMAPINFOHEADER."""
    import struct

    import numpy as np

    frames = [np.full((2, 3, 3), 9, np.uint8)]
    payload = multimodal.avi_encode(frames, 3, 2)
    # splice an audio strl LIST ahead of the existing (video) strl
    def chunk(cid, body):
        return cid + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) & 1 else b"")

    def lst(ltype, body):
        return chunk(b"LIST", ltype + body)

    wave_fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    audio_strl = lst(
        b"strl",
        chunk(b"strh", b"auds" + b"\x00" * 52) + chunk(b"strf", wave_fmt),
    )
    pos = payload.index(b"LIST", 12)  # hdrl LIST
    # insert the audio strl right after avih inside hdrl: rebuild hdrl
    hdrl_size = struct.unpack_from("<I", payload, pos + 4)[0]
    hdrl_body = payload[pos + 8 : pos + 8 + hdrl_size]
    assert hdrl_body[:4] == b"hdrl"
    avih_end = 4 + 8 + struct.unpack_from("<I", hdrl_body, 8)[0]
    new_hdrl_body = hdrl_body[:avih_end] + audio_strl + hdrl_body[avih_end:]
    new_hdrl = chunk(b"LIST", new_hdrl_body)
    patched = bytearray(payload[:pos] + new_hdrl + payload[pos + 8 + hdrl_size :])
    struct.pack_into("<I", patched, 4, len(patched) - 8)  # fix RIFF size
    w, h, out = multimodal._decode_avi_frames(bytes(patched))
    assert (w, h, len(out)) == (3, 2, 1)
    assert (out[0] == 9).all()


def test_lzw_large_stream_decodes_fast():
    """The decoder's rolling bit-buffer must handle a real-sized stream
    (tens of KB compressed) in well under a second — the whole-stream
    bignum it replaced was quadratic."""
    import random
    import time

    rng = random.Random(11)
    idx = [rng.randrange(128) for _ in range(200_000)]
    enc = multimodal._lzw_encode(idx, 7)
    t0 = time.monotonic()
    assert multimodal._lzw_decode(enc, 7) == idx
    assert time.monotonic() - t0 < 5.0


def test_jpeg_restart_intervals_decode_identically():
    """The LUT bit reader's restart path (r11 rewrite): the same
    coefficient blocks encoded WITH a DRI/RSTn cadence must decode to
    pixels IDENTICAL to the marker-free stream — byte realignment and
    DC-predictor reset both land on the destuffed-segment walk now."""
    import numpy as np

    rng = np.random.RandomState(11)
    blocks = []
    for _ in range(16):  # 4x4 MCUs, restart every 3 -> uneven tail
        b = np.zeros((8, 8), np.int64)
        b[0, 0] = int(rng.randint(-120, 120))
        b[0, 1] = int(rng.randint(-20, 20))
        b[3, 2] = int(rng.randint(-9, 9))
        blocks.append(b.tolist())
    plain = multimodal.jpeg_encode_gray(blocks, 4, 4)
    rst = multimodal.jpeg_encode_gray(blocks, 4, 4, restart_every=3)
    assert b"\xff\xdd" in rst and b"\xff\xd0" in rst  # DRI + RST0 present
    w1, h1, px1 = multimodal._decode_jpeg_pixels(plain)
    w2, h2, px2 = multimodal._decode_jpeg_pixels(rst)
    assert (w1, h1) == (w2, h2) == (32, 32)
    assert np.array_equal(px1, px2)


def test_gif_frame_filter_matches_full_decode():
    """frame_filter keeps only selected composed frames (None elsewhere)
    and the kept arrays are bit-identical to the full decode — the
    disposal chain still runs through every image."""
    import numpy as np

    pal = [(0, 0, 0), (255, 0, 0), (0, 255, 0), (0, 0, 255)]
    frames = [[[(x + y + f) % 4 for x in range(16)] for y in range(16)]
              for f in range(7)]
    gif = multimodal.gif_encode(frames, pal, 16, 16)
    _, _, full = multimodal._decode_gif_frames(gif)
    _, _, lazy = multimodal._decode_gif_frames(gif, frame_filter=lambda i: i % 3 == 0)
    assert len(full) == len(lazy) == 7
    for i in range(7):
        if i % 3 == 0:
            assert np.array_equal(lazy[i], full[i])
        else:
            assert lazy[i] is None
