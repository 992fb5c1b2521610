"""Multimodal plumbing (llm/multimodal.py): the decode stub's checksum is
pinned against plain-Python byte math (not SQL-expressible, so the DuckDB
oracle only sees byte_len — this test owns the checksum contract)."""

from __future__ import annotations

from pyspark.sql import functions as F

from gmall_flink_spark.llm.multimodal import decode_media, decode_stub, media_table

SF = "/root/testdata/sf0.001"


def _png(w: int, h: int, color: int, raw: bytes) -> bytes:
    """A hand-built 8-bit PNG of color type ``color`` over the already
    filtered scanlines ``raw``."""
    import struct
    import zlib

    def chunk(tag, body):
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))

    return (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b""))


def test_decode_checksum_matches_python(spark):
    docs = (
        media_table(spark, SF)
        .orderBy("media_id")
        .limit(20)
        .select("media_id", "payload")
        .collect()
    )
    expected = {r["media_id"]: decode_stub(bytes(r["payload"])) for r in docs}
    out = {
        r["media_id"]: (r["byte_len"], r["checksum"])
        for r in decode_media(media_table(spark, SF))
        .where(F.col("media_id").isin(*expected.keys()))
        .collect()
    }
    assert out == expected


def test_media_schema_and_partitioned_decode(spark):
    m = media_table(spark, SF).repartition(8)
    out = decode_media(m)
    assert [f.name for f in out.schema.fields] == [
        "media_id", "kind", "byte_len", "checksum", "width", "height",
        "sample_rate", "content_sum", "decoder",
    ]
    assert out.count() == m.count()
    # text payloads carry no container magic -> every row takes the stub path
    assert out.select("decoder").distinct().collect()[0]["decoder"] == "stub"


def test_png_wav_codec_roundtrip():
    """Module-level decoders invert the module-level encoders — including
    non-trivial PNG filter types (the decoder must unfilter, not assume
    filter 0)."""
    from gmall_flink_spark.llm.multimodal import (
        decode_png,
        decode_wav,
        png_bytes,
        wav_bytes,
    )

    for mid in (0, 6, 33, 300, 1919):
        w, h = (mid % 31) + 1, (mid % 17) + 1
        rgb = (mid % 256, mid * 7 % 256, mid * 13 % 256)
        assert decode_png(png_bytes(w, h, rgb)) == (w, h, w * h * sum(rgb))
    for mid in (1, 7, 49):
        n, rate = (mid % 50) + 10, 8000 + (mid % 3) * 4000
        samples = [((mid * 31 + i * 17) % 65536) - 32768 for i in range(n)]
        assert decode_wav(wav_bytes(samples, rate)) == (rate, n, sum(samples))

    # hand-built PNG using Sub(1)/Up(2)/Average(3)/Paeth(4) filtered rows:
    # the decoder must reconstruct the same pixels as the filter-0 encoding
    import numpy as np

    w, h, nch = 5, 4, 3
    rng = np.random.RandomState(7)
    px = rng.randint(0, 256, size=(h, w * nch)).astype(np.uint8)

    rows = []
    prev = np.zeros(w * nch, dtype=np.uint8)
    for y, ftype in zip(range(h), (1, 2, 3, 4)):
        cur = px[y]
        filt = np.zeros(w * nch, dtype=np.uint8)
        for x in range(w * nch):
            left = int(cur[x - nch]) if x >= nch else 0
            up = int(prev[x])
            ul = int(prev[x - nch]) if x >= nch else 0
            if ftype == 1:
                pred = left
            elif ftype == 2:
                pred = up
            elif ftype == 3:
                pred = (left + up) // 2
            else:
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = left if pa <= pb and pa <= pc else (up if pb <= pc else ul)
            filt[x] = (int(cur[x]) - pred) & 0xFF
        rows.append(bytes([ftype]) + filt.tobytes())
        prev = cur
    data = _png(w, h, 2, b"".join(rows))
    from gmall_flink_spark.llm.multimodal import decode_png as dp

    assert dp(data) == (w, h, int(px.sum(dtype=np.int64)))


def test_real_decode_dispatch_matches_formulas(spark):
    """decode_media over media_real_table: the decoders running inside the
    Arrow worker must agree with the generative formulas — proving the
    byte-level decode ran there."""
    from gmall_flink_spark.llm.multimodal import media_real_table

    rows = (
        decode_media(media_real_table(spark, SF).repartition(4))
        .orderBy("media_id")
        .limit(60)
        .collect()
    )
    assert rows, "no media rows decoded"
    seen = set()
    for r in rows:
        mid = r["media_id"]
        seen.add(r["decoder"])
        if mid % 3 == 0:
            w, h = (mid % 31) + 1, (mid % 17) + 1
            rgb_sum = (mid % 256) + (mid * 7 % 256) + (mid * 13 % 256)
            assert r["decoder"] == "png"
            assert (r["width"], r["height"]) == (w, h)
            assert r["content_sum"] == w * h * rgb_sum
            assert r["sample_rate"] is None
        elif mid % 3 == 1:
            n, rate = (mid % 50) + 10, 8000 + (mid % 3) * 4000
            expect = sum(((mid * 31 + i * 17) % 65536) - 32768 for i in range(n))
            assert r["decoder"] == "wav"
            assert r["sample_rate"] == rate
            assert r["content_sum"] == expect
            assert r["width"] is None and r["height"] is None
        else:
            assert r["decoder"] == "stub"
            assert r["byte_len"] == (mid % 100) + 1
            assert r["content_sum"] is None
    assert seen == {"png", "wav", "stub"}


def test_corrupt_payload_dead_letters_not_crashes(spark):
    """A payload with a valid magic but corrupt body must come back as
    decoder='error' with NULL decode fields — a 100 TB decode job can't
    die on one bad blob."""
    from gmall_flink_spark.llm.multimodal import MEDIA_SCHEMA

    bad = spark.createDataFrame(
        [
            (1, "image", b"\x89PNG\r\n\x1a\n" + b"\x00" * 16, None),
            (2, "audio", b"RIFFxxxxWAVE", None),
        ],
        MEDIA_SCHEMA,
    )
    out = {r["media_id"]: r for r in decode_media(bad).collect()}
    assert out[1]["decoder"] == "error" and out[1]["content_sum"] is None
    assert out[2]["decoder"] == "error" and out[2]["sample_rate"] is None
    # byte math still runs for dead-lettered rows
    assert out[1]["byte_len"] == 24


def test_null_payload_dead_letters_not_crashes(spark):
    """A NULL payload must dead-letter (decoder='error', every decode and
    byte-math field NULL), not TypeError the task — the byte-math path
    needs the same never-die posture as the container dispatch (ADVICE
    r08)."""
    from gmall_flink_spark.llm.multimodal import MEDIA_SCHEMA

    rows = spark.createDataFrame(
        [
            (1, "image", None, None),
            (2, "text", b"hello world", None),
        ],
        MEDIA_SCHEMA,
    )
    out = {r["media_id"]: r for r in decode_media(rows).collect()}
    assert out[1]["decoder"] == "error"
    assert out[1]["byte_len"] is None and out[1]["checksum"] is None
    assert out[1]["content_sum"] is None
    # the healthy row in the same Arrow batch is untouched
    assert out[2]["decoder"] == "stub" and out[2]["byte_len"] == 11


def test_audio_features_match_decoded_samples(spark):
    """audio_features values must equal plain-Python recomputation from the
    decoded PCM (module-level decode twin), and non-RIFF payloads must be
    skipped, not fabricated."""
    from gmall_flink_spark.llm.multimodal import audio_features, media_real_table

    m = media_real_table(spark, SF)
    rows = {
        r["media_id"]: r
        for r in audio_features(m).orderBy("media_id").limit(20).collect()
    }
    assert rows, "no audio features emitted"
    for mid, r in rows.items():
        assert mid % 3 == 1  # only the audio rows survive the RIFF sniff
        n = (mid % 50) + 10
        s = [((mid * 31 + i * 17) % 65536) - 32768 for i in range(n)]
        assert r["n_frames"] == n
        assert r["energy_sum"] == sum(v * v for v in s)
        assert r["zero_crossings"] == sum(
            1 for a, b in zip(s, s[1:]) if (a >= 0) != (b >= 0)
        )
        assert (r["s_min"], r["s_max"]) == (min(s), max(s))


def test_image_channel_stats_match_formula(spark):
    """image_channel_stats per-channel sums must equal the generative
    formula (w·h·channel), and non-PNG payloads must be skipped."""
    from gmall_flink_spark.llm.multimodal import image_channel_stats, media_real_table

    m = media_real_table(spark, SF)
    rows = {
        r["media_id"]: r
        for r in image_channel_stats(m).orderBy("media_id").limit(20).collect()
    }
    assert rows, "no image stats emitted"
    for mid, r in rows.items():
        assert mid % 3 == 0  # only PNG rows survive the sniff
        w, h = (mid % 31) + 1, (mid % 17) + 1
        assert (r["width"], r["height"]) == (w, h)
        assert r["r_sum"] == w * h * (mid % 256)
        assert r["g_sum"] == w * h * (mid * 7 % 256)
        assert r["b_sum"] == w * h * (mid * 13 % 256)


def test_media_real_table_kind_pruning(spark):
    """kinds= prunes before synthesis: an audio-only table contains only
    RIFF payloads (and exactly the doc_id%3==1 ids)."""
    from gmall_flink_spark.llm.multimodal import media_real_table

    aud = media_real_table(spark, SF, kinds=("audio",)).limit(30).collect()
    assert aud and all(r["kind"] == "audio" and r["media_id"] % 3 == 1 for r in aud)
    assert all(bytes(r["payload"])[:4] == b"RIFF" for r in aud)


def test_mp4_roundtrip_and_corrupt():
    """mp4_bytes -> parse_mp4 roundtrip (the pair video_mp4_table and
    video_meta run in their mapInPandas kernels): timescale/duration/
    track fourccs come back out of the boxes; truncation, bad sizes, and
    a missing moov raise (the dead-letter contract)."""
    import pytest

    from gmall_flink_spark.llm.multimodal import mp4_bytes, parse_mp4

    data = mp4_bytes(duration=123456, timescale=90000, codecs=["avc1", "mp4a"])
    ts, dur, n, codecs = parse_mp4(data)
    assert (ts, dur, n, codecs) == (90000, 123456, 2, ["avc1", "mp4a"])

    one = mp4_bytes(duration=600, timescale=600, codecs=["hvc1"])
    assert parse_mp4(one)[2:] == (1, ["hvc1"])

    with pytest.raises(ValueError):
        parse_mp4(data[:12])  # truncated mid-box
    with pytest.raises(ValueError):
        parse_mp4(b"\x00\x00\x00\x01ftyp")  # size < 8
    with pytest.raises(ValueError):
        parse_mp4(data[: len(data) - 4])  # last box overruns
    from gmall_flink_spark.llm.multimodal import _mp4_box

    with pytest.raises(ValueError):
        parse_mp4(_mp4_box(b"ftyp", b"isom"))  # well-formed but no moov

    # ISO/IEC 14496-12 §4.2 alternate size forms must parse, not
    # dead-letter: size==1 (64-bit largesize) and size==0 (to end of scope)
    import struct

    ftyp_len = struct.unpack(">I", data[:4])[0]  # first box's total size
    ftyp, moov = data[:ftyp_len], data[ftyp_len:]
    large_moov = (
        struct.pack(">I", 1) + b"moov" + struct.pack(">Q", len(moov) + 8) + moov[8:]
    )
    assert parse_mp4(ftyp + large_moov) == (90000, 123456, 2, ["avc1", "mp4a"])
    tail_free = struct.pack(">I", 0) + b"free"  # size 0: extends to EOF
    assert parse_mp4(data + tail_free) == (90000, 123456, 2, ["avc1", "mp4a"])


def test_video_meta_matches_generative_formulas(spark):
    """video_mp4_table -> video_meta end-to-end: per-clip metadata equals
    the generative formulas, and exactly the %MP4_CORRUPT_MOD clips
    dead-letter (ok=0, NULL fields)."""
    from gmall_flink_spark.llm.multimodal import (
        MP4_CORRUPT_MOD,
        video_meta,
        video_mp4_table,
    )

    rows = {
        r["media_id"]: r
        for r in video_meta(video_mp4_table(spark, SF)).limit(60).collect()
    }
    assert rows, "no video rows emitted"
    names = ["avc1", "mp4a", "hvc1"]
    for mid, r in rows.items():
        assert mid % 3 == 2
        if mid % MP4_CORRUPT_MOD == 0:
            assert r["ok"] == 0 and r["timescale"] is None and r["codecs"] is None
            continue
        ts = 600 * (mid % 4 + 1)
        dur = ts * (mid % 30 + 1) + mid % 97
        assert r["ok"] == 1
        assert r["timescale"] == ts and r["duration"] == dur
        assert r["duration_ms"] == 1000 * dur // ts
        assert r["track_ct"] == mid % 2 + 1
        assert r["codecs"] == ",".join(
            names[(mid // 3 + i) % 3] for i in range(mid % 2 + 1)
        )


def test_jpeg_roundtrip_and_corrupt():
    """jpeg_bytes -> parse_jpeg roundtrip (the pair image_jpeg_table and
    jpeg_meta run in their mapInPandas kernels): dimensions, component
    count, progressive flag, subsampling class, and JFIF densities come
    back out of the segments; truncation, a lost marker sync, and a
    missing SOF raise (the dead-letter contract). Entropy-scan handling
    covers T.81 §B.1.1.5: 0xFF00 stuffing and RST0-7 restart markers
    pass through, fill bytes before a marker are consumed."""
    import pytest

    from gmall_flink_spark.llm.multimodal import jpeg_bytes, parse_jpeg

    data = jpeg_bytes(640, 480, 3, True, 72, 96, b"abc", subsample_420=True)
    assert parse_jpeg(data) == (640, 480, 3, 1, "420", 72, 96)
    assert parse_jpeg(jpeg_bytes(17, 9, 3, False, 1, 2)) == (
        17, 9, 3, 0, "444", 1, 2,
    )
    assert parse_jpeg(jpeg_bytes(5, 5, 1, False, 300, 300))[2:5] == (1, 0, "gray")

    with pytest.raises(ValueError):
        parse_jpeg(data[:6])  # truncated mid-APP0
    with pytest.raises(ValueError):
        parse_jpeg(b"\x00" + data[1:])  # bad SOI
    with pytest.raises(ValueError):
        parse_jpeg(data[:-1])  # scan never reaches EOI
    with pytest.raises(ValueError):
        # SOI + APP0 only: well-formed segments but no SOF frame header
        parse_jpeg(data[: 2 + 2 + 18] + b"\xff\xd9")

    # stuffed 0xFF00 and an RST marker inside the entropy stream survive;
    # fill bytes (repeated 0xFF) before a marker are consumed
    scan = b"\xff\x00" + bytes([0xFF, 0xD3]) + b"xy"
    assert parse_jpeg(jpeg_bytes(10, 11, 3, False, 4, 5, scan))[:2] == (10, 11)
    filled = data[:2] + b"\xff" + data[2:]
    assert parse_jpeg(filled) == (640, 480, 3, 1, "420", 72, 96)


def test_jpeg_meta_matches_generative_formulas(spark):
    """image_jpeg_table -> jpeg_meta end-to-end: per-image metadata equals
    the generative formulas, and exactly the %JPEG_CORRUPT_MOD images
    dead-letter (ok=0, NULL fields)."""
    from gmall_flink_spark.llm.multimodal import (
        JPEG_CORRUPT_MOD,
        image_jpeg_table,
        jpeg_meta,
    )

    rows = {
        r["media_id"]: r
        for r in jpeg_meta(image_jpeg_table(spark, SF)).limit(60).collect()
    }
    assert rows, "no image rows emitted"
    for mid, r in rows.items():
        assert mid % 3 == 0
        if mid % JPEG_CORRUPT_MOD == 0:
            assert r["ok"] == 0 and r["width"] is None and r["subsampling"] is None
            continue
        assert r["ok"] == 1
        assert r["width"] == (mid % 200) + 16 and r["height"] == (mid % 120) + 16
        nc = 1 if mid % 5 == 0 else 3
        assert r["ncomp"] == nc
        assert r["progressive"] == (1 if mid % 7 == 0 else 0)
        assert r["subsampling"] == (
            "gray" if nc == 1 else ("420" if mid % 2 == 0 else "444")
        )
        assert r["xdensity"] == (mid % 97) + 1 and r["ydensity"] == (mid % 89) + 1


def test_feature_kernels_skip_unusable_blobs(spark):
    """image_channel_stats / audio_features skip a payload they cannot use
    — a truncated PNG, a grayscale PNG, a corrupt RIFF — like a non-PNG or
    non-RIFF one, instead of failing the task: a 100 TB job must never
    die on one blob. The healthy rows of the same batch are still there."""
    from gmall_flink_spark.llm.multimodal import (
        audio_features,
        image_channel_stats,
        png_bytes,
        wav_bytes,
    )

    good_png = png_bytes(3, 2, (10, 20, 30))
    good_wav = wav_bytes([5, -3, 7], 8000)
    df = spark.createDataFrame(
        [
            (1, good_png),
            (2, good_png[:40]),  # truncated inside IDAT
            (3, _png(2, 2, 0, b"\x00\x63\x63" * 2)),  # grayscale: no RGB
            (4, good_wav),
            (5, b"RIFFxxxxWAVE"),  # RIFF magic, no fmt/data chunks
            (6, good_wav[:-1]),  # odd-length PCM tail
            (7, wav_bytes([], 8000)),  # no samples to take features of
        ],
        "media_id long, payload binary",
    ).repartition(1)
    img = {r["media_id"]: r for r in image_channel_stats(df).collect()}
    assert set(img) == {1}
    assert (img[1]["r_sum"], img[1]["g_sum"], img[1]["b_sum"]) == (60, 120, 180)
    aud = {r["media_id"]: r for r in audio_features(df).collect()}
    assert set(aud) == {4}
    assert (aud[4]["energy_sum"], aud[4]["s_min"], aud[4]["s_max"]) == (83, -3, 7)
