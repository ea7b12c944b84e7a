"""Multimodal plumbing: schema, batch shape, pruning-friendly plans."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kgspark.operators import multimodal as mm


@pytest.fixture(scope="module")
def media(spark):
    return mm.synthesize_media(spark, n=60).cache()


def test_schema_and_payload_roundtrip(media):
    assert dict(media.dtypes)["payload"] == "binary"
    rows = {r.media_id: r for r in media.filter(F.col("media_id") < 6).collect()}
    assert rows[3].payload[:2] == b"BM"      # image → real BMP
    assert rows[4].payload[:4] == b"RIFF"    # audio → real WAV
    assert rows[5].payload[:9] == b"YUV4MPEG2"  # video → real Y4M
    assert all(r.n_bytes == len(r.payload) for r in rows.values())


def test_decode_featurize_batchflow(spark, media):
    out = mm.decode_and_featurize(media).collect()
    assert len(out) == 60
    by_id = {r.media_id: r for r in out}
    src = {r.media_id: r for r in media.collect()}
    for i, r in by_id.items():
        assert r.decoded_width == src[i].width
        assert r.decoded_height == src[i].height
        assert r.decoded_duration_ms == src[i].duration_ms
        assert len(r.features) == 8
        assert abs(sum(r.features) - 1.0) < 1e-3
        assert r.batch_rows >= 1
    # determinism
    again = {r.media_id: r.features for r in mm.decode_and_featurize(media).collect()}
    assert again == {i: r.features for i, r in by_id.items()}


def test_codec_roundtrips():
    """encode → decode is byte-identical for BMP (incl. odd widths that
    exercise row padding), PPM (incl. header comments), and WAV
    (mono + stereo)."""
    from kgspark.operators import media_codecs as mc

    for w, h in [(3, 2), (4, 4), (5, 1), (1, 7)]:
        rgb = bytes((i * 13 + 5) % 256 for i in range(w * h * 3))
        assert mc.decode_bmp(mc.encode_bmp(w, h, rgb)) == (w, h, rgb), (w, h)
        assert mc.decode_ppm(mc.encode_ppm(w, h, rgb)) == (w, h, rgb), (w, h)

    commented = b"P6\n# a comment\n3 2\n# more\n255\n" + bytes(range(18))
    assert mc.decode_ppm(commented) == (3, 2, bytes(range(18)))

    samples = [((i * 37) % 65536) - 32768 for i in range(777)]
    assert mc.decode_wav(mc.encode_wav(8000, samples)) == (8000, 1, samples)
    assert mc.decode_wav(mc.encode_wav(44100, samples[:776], channels=2)) == (
        44100, 2, samples[:776],
    )

    # Y4M: C444 and Cmono round-trip, frame boundaries exact
    for cs, bpp in [("444", 3), ("mono", 1)]:
        w, h, nf = 5, 3, 4
        frames = [bytes(((k * 11 + i) % 256) for i in range(w * h * bpp))
                  for k in range(nf)]
        enc = mc.encode_y4m(w, h, frames, fps=(4, 1), colorspace=cs)
        assert mc.decode_y4m(enc) == (w, h, (4, 1), frames), cs


def test_y4m_error_paths():
    from kgspark.operators import media_codecs as mc

    good = mc.encode_y4m(2, 2, [bytes(12)], fps=(25, 1))
    with pytest.raises(ValueError, match="truncated Y4M frame"):
        mc.decode_y4m(good[:-3])
    with pytest.raises(NotImplementedError, match="C420"):
        mc.decode_y4m(b"YUV4MPEG2 W2 H2 F25:1 C420\n")
    with pytest.raises(ValueError, match="not a YUV4MPEG2"):
        mc.decode_y4m(b"KGSMxxxx")
    with pytest.raises(ValueError, match="FRAME marker"):
        mc.decode_y4m(b"YUV4MPEG2 W2 H2 F25:1 C444\nBOGUS\n" + bytes(12))


def test_video_frame_sample_features(spark, media):
    """Real Y4M frame sampling: one frame per second, per-frame mean
    equals the mean of the synthetic unit-stream slice for that frame."""
    import numpy as np

    out = mm.frame_sample_features(media, every_ms=1000).collect()
    vids = {r.media_id: r for r in media.filter(F.col("kind") == "video").collect()}
    assert {r.media_id for r in out} == set(vids)
    for r in out:
        v = vids[r.media_id]
        fs = v.width * v.height * 3
        assert r.frame_ts_ms % 1000 == 0
        assert r.frame_idx == r.frame_ts_ms // mm.VIDEO_FRAME_MS
        sl = np.frombuffer(
            mm._unit_bytes(r.media_id, (r.frame_idx + 1) * fs)[r.frame_idx * fs:],
            np.uint8,
        )
        assert r.frame_mean == float(sl.sum(dtype=np.int64)) / fs
    # id=5: dur=2250 → frames at ts 0,1000,2000
    assert sorted(r.frame_ts_ms for r in out if r.media_id == 5) == [0, 1000, 2000]


def test_real_decode_matches_unit_formula():
    """The BMP/WAV decoders must recover exactly the unit stream the
    synthesizer encoded (the invariant the DuckDB oracle relies on)."""
    import numpy as np

    from kgspark.operators import media_codecs as mc
    from kgspark.operators import multimodal as mm

    # image id=3: w=160, h=144
    w, h = 64 + (3 % 8) * 32, 48 + (3 % 5) * 32
    payload = mm.synthesize_media_bytes("image", 3, w, h, 0)
    dw, dh, rgb = mc.decode_bmp(payload)
    assert (dw, dh) == (w, h)
    assert rgb == mm._unit_bytes(3, w * h * 3)

    # audio id=4
    payload = mm.synthesize_media_bytes("audio", 4, 0, 0, 0)
    rate, channels, samples = mc.decode_wav(payload)
    assert (rate, channels) == (mm.AUDIO_RATE, 1)
    assert bytes((s + 128) for s in samples) == mm._unit_bytes(4, mm._stub_len(4))

    d = mm._decode_payload(payload)
    units = np.frombuffer(mm._unit_bytes(4, mm._stub_len(4)), np.uint8).astype(int)
    want = [float(units[j::8].sum()) for j in range(8)]
    tot = sum(want)
    assert d["features"] == [f / tot for f in want]
    assert d["decoded_duration_ms"] == mm._stub_len(4) * 1000 // mm.AUDIO_RATE


def test_unknown_magic_raises_not_implemented():
    import pytest as _pytest

    from kgspark.operators import multimodal as mm

    with _pytest.raises(NotImplementedError, match="unrecognized media payload"):
        mm._decode_payload(b"\x89PNG\r\n\x1a\n....")


def test_truncated_bmp_raises_value_error():
    from kgspark.operators import media_codecs as mc

    full = mc.encode_bmp(4, 3, bytes(range(36)))
    with pytest.raises(ValueError, match="truncated BMP"):
        mc.decode_bmp(full[:-5])
    # truncation that lands on a 3-byte boundary must ALSO raise (the
    # step-1 slice assignment would otherwise silently shorten the rgb)
    with pytest.raises(ValueError, match="truncated BMP"):
        mc.decode_bmp(full[:-6])
