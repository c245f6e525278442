"""Multimodal plumbing tests: binary columns, Arrow-batched decoders,
frame sampling row expansion."""

from pyspark.sql import functions as F

from tap_postgres_spark import multimodal


def test_sample_frames_expands_rows(spark):
    media = multimodal.synthesize_media(spark, n=12)
    frames = multimodal.sample_frames(media, every_ms=500)
    per = (
        frames.groupBy("media_id").agg(F.count("*").alias("n"))
        .join(media.select("media_id", "meta_duration_ms"), "media_id")
        .collect()
    )
    assert per  # only video rows
    for r in per:
        assert r["n"] == max(1, r["meta_duration_ms"] // 500)


def test_wav_roundtrip_exact():
    samples = multimodal.synth_samples(5, n=200)
    wav = multimodal.encode_wav(samples, sample_rate=16000)
    got = multimodal.decode_wav(wav)
    assert got["n_samples"] == 200
    assert got["sample_rate"] == 16000
    assert got["channels"] == 1
    assert got["duration_ms"] == 200 * 1000 // 16000
    assert got["mean_sample"] == sum(samples) / 200
    # extra chunk between fmt and data must be skipped, not break parsing
    hdr, rest = wav[:12], wav[12:]
    extra = b"LIST" + (4).to_bytes(4, "little") + b"INFO"
    assert multimodal.decode_wav(hdr + extra + rest)["n_samples"] == 200


def test_ppm_roundtrip_and_comment_header():
    px = multimodal.synth_pixels(3, 4, 2)
    ppm = multimodal.encode_ppm(4, 2, px)
    got = multimodal.decode_ppm(ppm)
    assert (got["width"], got["height"]) == (4, 2)
    assert got["mean_r"] == sum(px[0::3]) / 8
    commented = b"P6\n# a comment\n4 2\n255\n" + px
    assert multimodal.decode_ppm(commented) == got


def test_decode_media_real_and_contained_failures(spark):
    media = multimodal.synthesize_media(spark, n=12)
    dec = {r["media_id"]: r for r in multimodal.decode_media(media).collect()}
    assert len(dec) == 12
    for mid, r in dec.items():
        if r["kind"] == "audio":
            assert r["decoded"] and r["n_samples"] == 128 and r["sample_rate"] == 8000
            assert r["rms"] > 0 and r["err"] is None
        elif r["kind"] == "image":
            assert r["decoded"] and r["width"] > 0
            if r["mime"] == "image/jpeg":  # dimensions-only decode
                assert r["mean_g"] is None
            else:
                assert 0 <= r["mean_g"] <= 255
        elif r["mime"] == "video/x-yuv4mpeg":  # real Y4M decode
            assert r["decoded"] and r["width"] > 0 and r["n_samples"] >= 2
        else:  # mp4: honestly undecodable here, contained not fatal
            assert not r["decoded"] and "no decoder" in r["err"]

    # corrupt payload: contained per-row failure, not a task error
    bad = spark.createDataFrame(
        [(99, "audio", "audio/wav", bytearray(b"RIFFgarbage"))],
        "media_id long, kind string, mime string, data binary",
    )
    r = multimodal.decode_media(bad).collect()[0]
    assert not r["decoded"] and r["err"]


def test_png_roundtrip_exact():
    px = multimodal.synth_pixels(9, 6, 4)
    png = multimodal.encode_png(6, 4, px)
    got = multimodal.decode_png(png)
    assert (got["width"], got["height"]) == (6, 4)
    assert got["mean_r"] == sum(px[0::3]) / 24
    assert got["mean_g"] == sum(px[1::3]) / 24
    assert got["mean_b"] == sum(px[2::3]) / 24
    # must agree with the PPM decode of the same pixels
    assert got == multimodal.decode_ppm(multimodal.encode_ppm(6, 4, px))


def test_png_all_filter_types_decode():
    """Hand-filter scanlines with types 1-4; decode must reconstruct the
    same pixels as the filter-0 encoding."""
    import struct
    import zlib

    w, h = 5, 4
    px = multimodal.synth_pixels(2, w, h)
    want = multimodal.decode_png(multimodal.encode_png(w, h, px))
    stride = w * 3

    def filt(ftype, cur, prev):
        out = bytearray([ftype])
        for i in range(stride):
            a = cur[i - 3] if i >= 3 else 0
            b = prev[i]
            c = prev[i - 3] if i >= 3 else 0
            if ftype == 1:
                pred = a
            elif ftype == 2:
                pred = b
            elif ftype == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            out.append((cur[i] - pred) & 0xFF)
        return bytes(out)

    raw = bytearray()
    prev = bytes(stride)
    for y in range(h):
        cur = px[y * stride : (y + 1) * stride]
        raw += filt(1 + y % 4, cur, prev)
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    png = (
        multimodal._PNG_SIG
        + multimodal._png_chunk(b"IHDR", ihdr)
        + multimodal._png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + multimodal._png_chunk(b"IEND", b"")
    )
    assert multimodal.decode_png(png) == want


def test_png_corruption_contained():
    import pytest

    png = bytearray(multimodal.encode_png(4, 4, multimodal.synth_pixels(1, 4, 4)))
    png[20] ^= 0xFF  # flip a bit inside IHDR → CRC mismatch
    with pytest.raises(ValueError, match="CRC"):
        multimodal.decode_png(bytes(png))
    with pytest.raises(ValueError, match="not a PNG"):
        multimodal.decode_png(b"\x89PNX" + b"\x00" * 30)


def test_jpeg_header_roundtrip_and_failures():
    import pytest

    jpg = multimodal.encode_jpeg_header(640, 480)
    got = multimodal.decode_jpeg_header(jpg)
    assert got == {"width": 640, "height": 480}
    with pytest.raises(ValueError, match="SOI"):
        multimodal.decode_jpeg_header(b"\x00\x00\x00\x00")
    with pytest.raises(ValueError, match="truncated"):
        multimodal.decode_jpeg_header(jpg[:-6])  # cut inside SOF segment


def test_wav_roundtrip_property():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=50, deadline=None)
    @given(
        st.lists(st.integers(min_value=-32768, max_value=32767), min_size=1, max_size=500),
        st.sampled_from([8000, 16000, 44100]),
    )
    def roundtrip(samples, rate):
        got = multimodal.decode_wav(multimodal.encode_wav(samples, sample_rate=rate))
        assert got["n_samples"] == len(samples)
        assert got["sample_rate"] == rate
        assert got["mean_sample"] == sum(samples) / len(samples)

    roundtrip()


def test_decode_media_null_payload_contained(spark):
    df = spark.createDataFrame(
        [(7, "audio", "audio/wav", None)],
        "media_id long, kind string, mime string, data binary",
    )
    r = multimodal.decode_media(df).collect()[0]
    assert not r["decoded"] and r["err"] == "no payload"


# --- Y4M (YUV4MPEG2) real video codec ---------------------------------------
def test_y4m_roundtrip_exact_stats():
    w, h, nf = 12, 8, 3
    frames = multimodal.synth_frames(5, w, h, nf)
    data = multimodal.encode_y4m(w, h, frames, fps=(25, 1))
    got = multimodal.decode_y4m(data)
    assert (got["width"], got["height"], got["n_frames"]) == (w, h, nf)
    assert got["fps"] == (25, 1) and got["colorspace"] == "mono"
    assert got["duration_ms"] == nf * 1000 // 25
    flat = [b for f in frames for b in f]
    assert abs(got["mean_sample"] - sum(flat) / len(flat)) < 1e-12
    import math

    assert abs(got["rms"] - math.sqrt(sum(b * b for b in flat) / len(flat))) < 1e-12


def test_y4m_rejects_bad_payloads():
    import pytest

    w, h = 8, 8
    data = multimodal.encode_y4m(w, h, multimodal.synth_frames(1, w, h, 2))
    with pytest.raises(ValueError, match="truncated frame"):
        multimodal.decode_y4m(data[:-5])
    with pytest.raises(ValueError, match="not a YUV4MPEG2"):
        multimodal.decode_y4m(b"RIFF" + data)
    with pytest.raises(ValueError, match="bad FRAME marker"):
        multimodal.decode_y4m(data.replace(b"FRAME\n", b"FRAMD\n", 1) )
    with pytest.raises(ValueError, match="missing/invalid"):
        multimodal.decode_y4m(b"YUV4MPEG2 W8 F25:1\nFRAME\n" + b"\x00" * 64)


def test_decode_media_dispatches_y4m_and_contains_mp4(spark):
    media = multimodal.synthesize_media(spark, n=24)
    dec = {r["media_id"]: r for r in multimodal.decode_media(media).collect()}
    vids = [r for r in dec.values() if r["kind"] == "video"]
    assert any(r["mime"] == "video/x-yuv4mpeg" for r in vids)
    assert any(r["mime"] == "video/mp4" for r in vids)
    for r in vids:
        if r["mime"] == "video/x-yuv4mpeg":
            assert r["decoded"] and r["width"] and r["n_samples"] >= 2
        else:
            assert not r["decoded"] and "no decoder" in r["err"]


def test_sample_frames_y4m_real_stats(spark):
    media = multimodal.synthesize_media(spark, n=24)
    got = {}
    for r in multimodal.sample_frames_y4m(
        media.filter(F.col("kind") == "video"), every_n=2
    ).collect():
        got.setdefault(r["media_id"], []).append(r)
    # only the y4m rows yield frames; mp4 rows are contained (zero rows)
    y4m_ids = {
        r["media_id"]
        for r in media.filter(F.col("mime") == "video/x-yuv4mpeg").collect()
    }
    assert set(got) == y4m_ids
    for mid, rows in got.items():
        w, h = 8 + (mid % 4) * 4, 8 + (mid % 3) * 4
        nf = 2 + mid % 4
        idxs = [r["frame_idx"] for r in sorted(rows, key=lambda r: r["frame_idx"])]
        assert idxs == list(range(0, nf, 2))
        for r in rows:
            luma = multimodal.synth_frames(mid, w, h, nf)[r["frame_idx"]]
            assert abs(r["luma_mean"] - sum(luma) / len(luma)) < 1e-12
            assert r["frame_ts_ms"] == r["frame_idx"] * 1000 // 25


def test_decoders_contain_arbitrary_bytes():
    """Fuzz containment: every registered decoder either returns a dict or
    raises ValueError/struct.error — never any other exception (one corrupt
    payload must not kill a 100-TB decode stage)."""
    import struct

    from hypothesis import given, settings
    from hypothesis import strategies as st

    valid_prefixes = [
        b"RIFF", b"YUV4MPEG2", b"P6", b"\x89PNG\r\n\x1a\n", b"\xff\xd8",
    ]

    @settings(max_examples=200, deadline=None)
    @given(
        prefix=st.sampled_from(valid_prefixes + [b""]),
        body=st.binary(min_size=0, max_size=300),
    )
    def run(prefix, body):
        data = prefix + body
        for dec in set(multimodal.DECODERS.values()):
            try:
                out = dec(data)
                assert isinstance(out, dict)
            except (ValueError, struct.error):
                pass  # the contained failure contract

    run()
