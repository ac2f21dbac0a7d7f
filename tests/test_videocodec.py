"""Native uncompressed-AVI codec + real frame sampling: frame-exact
round-trips, compressed/corrupt rejection, sampling grid semantics,
and the frames->PNG->image-operator composition."""

from __future__ import annotations

import importlib.util

import numpy as np
import pandas as pd
import pytest

from pandasql_spark.functions.videocodec import (
    VideoDecodeError,
    avi_meta,
    decode_avi,
    encode_avi,
)


def _vid(n, h, w, seed=0):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, (n, h, w, 3), dtype=np.uint8)


def test_roundtrip_frame_exact():
    for n, h, w in [(1, 1, 1), (3, 5, 7), (4, 16, 9), (2, 8, 8)]:
        fr = _vid(n, h, w)
        fps, got = decode_avi(encode_avi(fr, fps=12))
        assert fps == 12.0
        assert got.shape == fr.shape
        assert (got == fr).all()


def test_meta():
    assert avi_meta(encode_avi(_vid(5, 4, 6), fps=25)) == (6, 4, 5, 25.0)


def test_row_padding_nonmultiple_of_4_width():
    fr = _vid(2, 3, 5)  # 5*3=15 bytes/row -> padded to 16
    _, got = decode_avi(encode_avi(fr))
    assert (got == fr).all()


def test_compressed_rejected():
    b = bytearray(encode_avi(_vid(1, 4, 4)))
    i = bytes(b).find(b"strf")
    # biCompression lives 16 bytes into BITMAPINFOHEADER (after fourcc+size)
    off = i + 8 + 16
    b[off:off + 4] = b"H264"
    with pytest.raises(VideoDecodeError, match="compressed"):
        decode_avi(bytes(b))
    # an MJPG header whose frames are NOT JPEG streams fails loud
    b[off:off + 4] = b"MJPG"
    with pytest.raises(VideoDecodeError, match="undecodable"):
        decode_avi(bytes(b))


def test_pyav_routing_stub(monkeypatch):
    """The H.264 swap path without PyAV in the container: native-
    rejected payloads route to _pyav_decode iff HAVE_PYAV; native
    codecs NEVER route there (oracle determinism)."""
    import io

    from pandasql_spark.functions import videocodec as vc

    h264 = bytearray(encode_avi(_vid(2, 4, 4)))
    off = bytes(h264).find(b"strf") + 8 + 16
    h264[off:off + 4] = b"H264"
    h264 = bytes(h264)
    want = _vid(2, 4, 4, seed=9)

    class _FakeStream:
        type = "video"
        average_rate = 30

    class _FakeContainer:
        streams = [_FakeStream()]

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

        def decode(self, vs):
            class _F:
                def __init__(self, arr):
                    self._a = arr

                def to_ndarray(self, format):
                    assert format == "rgb24"
                    return self._a

            return [_F(a) for a in want]

    class _FakeAV:
        @staticmethod
        def open(buf):
            assert isinstance(buf, io.BytesIO)
            return _FakeContainer()

    # PyAV absent: native rejection stays the error. Forced via
    # monkeypatch so the test is environment-independent — merely
    # installing PyAV must not fail the suite (ADVICE r10).
    monkeypatch.setattr(vc, "HAVE_PYAV", False)
    with pytest.raises(VideoDecodeError, match="compressed"):
        vc.decode_avi(h264)
    # PyAV "installed": the same payload decodes through libav
    monkeypatch.setattr(vc, "HAVE_PYAV", True)
    monkeypatch.setattr(vc, "_av", _FakeAV)
    fps, got = vc.decode_avi(h264)
    assert fps == 30.0 and (got == want).all()
    # native codecs still decode natively (stub would return `want`)
    dib = _vid(1, 3, 3, seed=4)
    _, got_dib = vc.decode_avi(encode_avi(dib))
    assert (got_dib == dib).all()
    # an empty libav container is a loud VideoDecodeError
    monkeypatch.setattr(
        _FakeContainer, "decode", lambda self, vs: [], raising=True
    )
    with pytest.raises(VideoDecodeError, match="no decodable frames"):
        vc.decode_avi(h264)


def test_corrupt_native_payload_never_routes_to_pyav(monkeypatch):
    """Corrupt/truncated payloads of the NATIVE codecs are terminal
    even with PyAV "installed" — only UnsupportedCodecError rejections
    (codec/container outside the native contract) may route to libav,
    so the q90/q96 corrupt-media rows are environment-independent
    (ADVICE r10)."""
    from pandasql_spark.functions import videocodec as vc

    class _SentinelAV:
        # routing here is detectable by message: _pyav_decode converts
        # any non-VideoDecodeError into VideoDecodeError("libav: ...")
        @staticmethod
        def open(buf):
            raise RuntimeError("ROUTED-TO-LIBAV")

    monkeypatch.setattr(vc, "HAVE_PYAV", True)
    monkeypatch.setattr(vc, "_av", _SentinelAV)

    # truncated DIB frame data: valid headers, short payload — must
    # surface the NATIVE error, not the routed sentinel
    dib = bytearray(encode_avi(_vid(1, 4, 4)))
    off = bytes(dib).find(b"00db")
    truncated = bytes(dib[: off + 8 + 5])  # cut mid-frame
    with pytest.raises(VideoDecodeError, match="frame 0 truncated"):
        vc.decode_avi(truncated)

    # undecodable MJPG frame: garbage where the JPEG should be
    mj = bytearray(encode_avi(_vid(1, 4, 4), codec="mjpg"))
    off = bytes(mj).find(b"00dc")
    mj[off + 8:off + 16] = b"\xff\x00" * 4
    with pytest.raises(VideoDecodeError, match="undecodable"):
        vc.decode_avi(bytes(mj))

    # the unsupported-codec rejection DOES route (sentinel proves it)
    h264 = bytearray(encode_avi(_vid(1, 4, 4)))
    off = bytes(h264).find(b"strf") + 8 + 16
    h264[off:off + 4] = b"H264"
    with pytest.raises(VideoDecodeError, match="ROUTED-TO-LIBAV"):
        vc.decode_avi(bytes(h264))


@pytest.mark.skipif(
    importlib.util.find_spec("av") is None, reason="PyAV not installed"
)
def test_pyav_real_h264_roundtrip():  # pragma: no cover - needs PyAV
    """With real PyAV: encode H.264 via libav, decode through the
    public decode_avi surface."""
    import io

    import av

    from pandasql_spark.functions import videocodec as vc

    want = _tiles(4, 16, 16, seed=3)
    buf = io.BytesIO()
    with av.open(buf, "w", format="mp4") as out:
        vs = out.add_stream("h264", rate=8)
        vs.width, vs.height, vs.pix_fmt = 16, 16, "yuv420p"
        for fr in want:
            out.mux(vs.encode(av.VideoFrame.from_ndarray(fr, format="rgb24")))
        out.mux(vs.encode())
    fps, got = vc.decode_avi(buf.getvalue())
    assert got.shape == want.shape
    # lossy codec: flat-tile content must stay within a few levels
    assert np.abs(got.astype(int) - want.astype(int)).max() <= 4


def _tiles(n, h, w, seed=0):
    """Flat-grey 8x8-tile frames: DC-only JPEG content, so MJPEG decode
    error is bounded by the DC quant step (<=1 grey level; chroma is
    flat 128 and round-trips exactly)."""
    rng = np.random.default_rng(seed)
    t = rng.integers(0, 256, (n, h // 8, w // 8), dtype=np.uint8)
    return np.kron(t, np.ones((1, 8, 8), np.uint8))[..., None].repeat(3, axis=3)


def test_mjpeg_roundtrip_flat_tiles():
    fr = _tiles(3, 16, 24)
    fps, got = decode_avi(encode_avi(fr, fps=4, codec="mjpg"))
    assert fps == 4.0 and got.shape == fr.shape
    assert np.abs(got.astype(int) - fr.astype(int)).max() <= 1


def test_mjpeg_meta_and_smooth_content():
    fr = np.tile(
        np.linspace(0, 200, 24).astype(np.uint8), (2, 16, 1)
    )[..., None].repeat(3, axis=3)
    b = encode_avi(fr, fps=10, codec="mjpg", quality=95)
    assert avi_meta(b) == (24, 16, 2, 10.0)
    _, got = decode_avi(b)
    assert np.abs(got.astype(int) - fr.astype(int)).max() <= 1


def test_mjpeg_grayscale_frames_broadcast(monkeypatch):
    """Externally-produced MJPEG streams often carry grayscale JPEGs;
    (h, w, 1) frames must broadcast across RGB."""
    import pandasql_spark.functions.jpegcodec as jc

    real = jc.encode_jpeg
    monkeypatch.setattr(
        jc, "encode_jpeg",
        lambda a, quality=90: real(a[:, :, 0], quality=quality),
    )
    fr = _tiles(2, 8, 16, seed=3)
    b = encode_avi(fr, fps=5, codec="mjpg")
    monkeypatch.undo()
    _, got = decode_avi(b)
    assert got.shape == fr.shape
    assert (got[..., 0] == got[..., 1]).all() and (got[..., 1] == got[..., 2]).all()
    assert np.abs(got.astype(int) - fr.astype(int)).max() <= 1


def test_mjpeg_frame_dims_must_match_header(monkeypatch):
    import pandasql_spark.functions.jpegcodec as jc

    real = jc.encode_jpeg
    monkeypatch.setattr(
        jc, "encode_jpeg",
        lambda a, quality=90: real(a[:4, :8], quality=quality),
    )
    b = encode_avi(_tiles(1, 8, 16), fps=5, codec="mjpg")
    monkeypatch.undo()
    with pytest.raises(VideoDecodeError, match="stream header says"):
        decode_avi(b)


def test_encode_codec_validation():
    with pytest.raises(ValueError, match="codec"):
        encode_avi(_vid(1, 2, 2), codec="h264")


def test_corrupt_payloads_raise():
    good = encode_avi(_vid(2, 4, 4))
    for bad in [b"", b"RIFF", good[:40], b"RIFX" + good[4:],
                good[:-20]]:
        with pytest.raises(VideoDecodeError):
            decode_avi(bad)


@pytest.mark.parametrize("codec", ["dib", "mjpg"])
def test_inflated_header_height_raises(codec):
    """A corrupt biHeight claiming 2**30 rows is rejected from the
    frames actually present, before any (n, h, w, 3) allocation."""
    import struct

    b = bytearray(encode_avi(_tiles(2, 8, 16), fps=5, codec=codec))
    strf = b.index(b"strf") + 8  # BITMAPINFOHEADER after the chunk header
    struct.pack_into("<i", b, strf + 8, 2**30)
    with pytest.raises(VideoDecodeError):
        decode_avi(bytes(b))


def test_encode_validation():
    with pytest.raises(ValueError, match="uint8"):
        encode_avi(np.zeros((1, 2, 2, 3), np.float32))
    with pytest.raises(ValueError, match="need"):
        encode_avi(np.zeros((2, 2, 3), np.uint8))
    with pytest.raises(ValueError, match="fps"):
        encode_avi(_vid(1, 2, 2), fps=0)


def test_sample_frames_real_decode(spark):
    from pandasql_spark.functions.imagecodec import decode_png
    from pandasql_spark.operators import multimodal

    vids = {0: _vid(10, 6, 8, seed=1), 1: _vid(3, 4, 4, seed=2)}
    pdf = pd.DataFrame(
        {
            "media_id": [0, 1, 2],
            "payload": [encode_avi(vids[0], fps=2), encode_avi(vids[1], fps=1),
                        b"not a video"],
        }
    )
    sdf = spark.createDataFrame(pdf)
    out = multimodal.sample_frames(sdf, every_ms=1000).toPandas()
    bad = out[~out["decode_ok"]]
    assert list(bad["media_id"]) == [2]
    # media 0: 10 frames at 2 fps = 5 s; 1000 ms grid -> frames 0,2,4,6,8
    m0 = out[(out["media_id"] == 0) & out["decode_ok"]]
    assert list(m0["frame_idx"]) == [0, 2, 4, 6, 8]
    assert list(m0["frame_ms"]) == [0, 1000, 2000, 3000, 4000]
    # sampled frame decodes back to the EXACT original frame
    for _, r in m0.iterrows():
        px = decode_png(bytes(r["frame_png"]))
        assert (px == vids[0][int(r["frame_idx"])]).all()
    # media 1: 3 frames at 1 fps, one per second
    m1 = out[(out["media_id"] == 1) & out["decode_ok"]]
    assert list(m1["frame_idx"]) == [0, 1, 2]


def test_sample_frames_keep_cols(spark):
    """keep_cols rides typed metadata onto every frame row — including
    the decode_ok=false row — with no join back to the corpus."""
    import pytest

    from pandasql_spark.operators import multimodal

    pdf = pd.DataFrame(
        {
            "media_id": [0, 2],
            "payload": [encode_avi(_vid(3, 4, 4, seed=5), fps=1),
                        b"not a video"],
            "src": ["cc", "books"],
            "n": [11, 22],
        }
    )
    sdf = spark.createDataFrame(pdf)
    out = multimodal.sample_frames(
        sdf, every_ms=1000, keep_cols=["src", "n"]
    ).toPandas()
    assert list(out.columns)[-2:] == ["src", "n"]
    ok = out[out["decode_ok"]]
    assert set(ok["src"]) == {"cc"} and set(ok["n"]) == {11}
    assert len(ok) == 3  # metadata replicated per sampled frame
    bad = out[~out["decode_ok"]]
    assert list(bad["src"]) == ["books"] and list(bad["n"]) == [22]
    with pytest.raises(ValueError, match="clash"):
        multimodal.sample_frames(sdf, keep_cols=["payload"])
    with pytest.raises(KeyError, match="missing_col"):
        multimodal.sample_frames(sdf, keep_cols=["missing_col"])


def test_sample_frames_composes_with_image_ops(spark):
    from pandasql_spark.operators import multimodal

    pdf = pd.DataFrame(
        {"media_id": [7], "payload": [encode_avi(_vid(2, 5, 5, seed=3), fps=1)]}
    )
    frames = multimodal.sample_frames(
        spark.createDataFrame(pdf), every_ms=1000
    ).filter("decode_ok")
    as_media = frames.selectExpr(
        "media_id * 10 + frame_idx AS media_id", "frame_png AS payload"
    )
    meta = multimodal.image_meta(as_media, decode_pixels=True).toPandas()
    assert meta["decode_ok"].all()
    assert set(meta["format"]) == {"png"}
    assert set(zip(meta["width"], meta["height"])) == {(5, 5)}


def test_top_down_dib_decodes_upright():
    """Negative biHeight = spec-valid top-down rows: frames must come
    back upright, not mirrored."""
    import struct as _struct

    fr = _vid(1, 4, 4, seed=9)
    b = bytearray(encode_avi(fr))
    i = bytes(b).find(b"strf")
    # rewrite biHeight (offset 8 into chunk payload + 4 for biWidth)
    (bh,) = _struct.unpack_from("<i", b, i + 8 + 8)
    _struct.pack_into("<i", b, i + 8 + 8, -bh)
    # frame data in the file is bottom-up; a top-down header means the
    # stored rows are already display order — so the decoded result of
    # the UNCHANGED bytes must be the vertical flip of the original
    _, got = decode_avi(bytes(b))
    assert (got == fr[:, ::-1, :, :]).all()
