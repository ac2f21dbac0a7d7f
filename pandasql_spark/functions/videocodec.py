"""Native AVI video codec — the video analog of the WAV codec
(audiocodec.py): AVI is RIFF, exactly like WAVE, so the same
chunk-walk discipline yields a real, dependency-free video path.

``encode_avi`` writes spec-valid single-stream AVI files in either of
two codecs: 'DIB ' (BI_RGB, 24-bit, bottom-up, row-padded — decoded
back frame-EXACT) or 'MJPG' (Motion JPEG: each frame is an
independent baseline JPEG produced by the oracle-proven jpegcodec.py
encoder — decoded back within JPEG quantization error, ≤1 grey level
for flat DC-only content). MJPEG is what real crawl video most often
degrades to without a native H.264 stack; because every frame stands
alone it is also embarrassingly parallel, the right shape for
mapInPandas decode at scale. OTHER compressed codecs (H.264, VP9, …)
are rejected with VideoDecodeError — explicitly unsupported, never
silently wrong: no codec library exists in this container. The
Spark-side plumbing (operators/multimodal.sample_frames) treats both
supported codecs as the decodable case and any other payload as the
corrupt-media branch.

Everything here is the public AVI/RIFF layout: AVIMAINHEADER (56
bytes), AVISTREAMHEADER ('vids'/'DIB '|'MJPG'), BITMAPINFOHEADER (40
bytes, biCompression=0 or 'MJPG'), LIST movi with '00db'/'00dc'
frames.
"""

from __future__ import annotations

import struct

import numpy as np

try:  # optional compressed-codec support (H.264/VP9/MP4/WebM via libav)
    import av as _av  # type: ignore

    HAVE_PYAV = True
except Exception:  # pragma: no cover - PyAV absent in this container
    _av = None
    HAVE_PYAV = False


class VideoDecodeError(ValueError):
    """Payload is not a decodable video (DIB-/MJPG-AVI natively, plus
    whatever libav decodes when PyAV is installed)."""


class UnsupportedCodecError(VideoDecodeError):
    """The payload's codec or container is outside the native decoder's
    contract (H.264/VP9 biCompression, non-24-bit DIB, or a non-AVI
    container like MP4/WebM) — the ONLY rejections ``decode_avi`` may
    route to libav. Corrupt/truncated payloads of the two native codecs
    raise plain VideoDecodeError and stay terminal even with PyAV
    installed (ADVICE r10: a malformed-but-libav-tolerant AVI must
    surface as decode_ok=false in every environment, or the q90/q96
    corrupt-media rows become environment-dependent)."""


#: biCompression value for Motion JPEG ('MJPG' as a little-endian u32)
MJPG_FOURCC = struct.unpack("<I", b"MJPG")[0]


def _row_stride(w: int) -> int:
    return (w * 3 + 3) & ~3  # BGR rows padded to 4 bytes


def encode_avi(
    frames: np.ndarray, fps: int = 10, codec: str = "dib", quality: int = 90
) -> bytes:
    """uint8 RGB frames (n, h, w, 3) → single-stream AVI.
    ``codec="dib"`` writes uncompressed BI_RGB (frame-exact);
    ``codec="mjpg"`` writes Motion JPEG — each frame an independent
    baseline JPEG at ``quality`` (jpegcodec.encode_jpeg)."""
    f = np.asarray(frames)
    if f.dtype != np.uint8 or f.ndim != 4 or f.shape[3] != 3:
        raise ValueError(f"need uint8 (n, h, w, 3), got {f.dtype} {f.shape}")
    if fps < 1:
        raise ValueError(f"fps must be >= 1, got {fps}")
    if codec not in ("dib", "mjpg"):
        raise ValueError(f"codec must be 'dib' or 'mjpg', got {codec!r}")
    n, h, w, _ = f.shape
    if n < 1 or h < 1 or w < 1:
        raise ValueError(f"empty video: {f.shape}")
    if codec == "dib":
        stride = _row_stride(w)
        payloads = []
        for i in range(n):
            # RGB → BGR, bottom-up, padded rows
            bgr = f[i, ::-1, :, ::-1]
            rows = np.zeros((h, stride), np.uint8)
            rows[:, : w * 3] = bgr.reshape(h, w * 3)
            payloads.append(rows.tobytes())
        handler, comp, frame_id = b"DIB ", 0, b"00db"
    else:
        from .jpegcodec import encode_jpeg

        payloads = [encode_jpeg(f[i], quality=quality) for i in range(n)]
        handler, comp, frame_id = b"MJPG", MJPG_FOURCC, b"00dc"
    buf_size = max(len(p) for p in payloads)

    def chunk(fourcc: bytes, payload: bytes) -> bytes:
        pad = b"\x00" if len(payload) % 2 else b""
        return fourcc + struct.pack("<I", len(payload)) + payload + pad

    def list_chunk(kind: bytes, payload: bytes) -> bytes:
        return chunk(b"LIST", kind + payload)

    avih = struct.pack(
        "<14I",
        1_000_000 // fps, buf_size * fps, 0, 0x10,  # HASINDEX-free, 0x10=HAS... keep simple flags
        n, 0, 1, buf_size, w, h, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + handler + struct.pack(
            "<IHHIIIIIIII", 0, 0, 0, 0, 1, fps, 0, n, buf_size, 0xFFFFFFFF, 0
        ) + struct.pack("<4H", 0, 0, w, h)
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, comp, buf_size, 0, 0, 0, 0
    )
    hdrl = list_chunk(
        b"hdrl",
        chunk(b"avih", avih)
        + list_chunk(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi = list_chunk(b"movi", b"".join(chunk(frame_id, p) for p in payloads))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _walk(b: bytes, start: int, end: int):
    pos = start
    while pos + 8 <= end:
        fourcc = b[pos:pos + 4]
        (size,) = struct.unpack_from("<I", b, pos + 4)
        payload_start = pos + 8
        yield fourcc, payload_start, min(payload_start + size, end)
        pos = payload_start + size + (size & 1)


def _pyav_decode(b: bytes) -> tuple[float, np.ndarray]:
    """Decode any libav-supported container/codec (H.264/VP9 in
    MP4/WebM/AVI/…) → (fps, frames (n, h, w, 3) uint8 RGB). Only
    reachable when PyAV is installed; callers go through decode_avi,
    which routes here exactly when the native path rejects the
    payload."""
    import io

    try:
        with _av.open(io.BytesIO(b)) as container:
            vs = next(
                (s for s in container.streams if s.type == "video"), None
            )
            if vs is None:
                raise VideoDecodeError("no video stream in container")
            rate = vs.average_rate or getattr(vs, "base_rate", None)
            fps = float(rate) if rate else 0.0
            frames = [
                f.to_ndarray(format="rgb24") for f in container.decode(vs)
            ]
    except VideoDecodeError:
        raise
    except Exception as exc:  # av.AVError and friends — one error type out
        raise VideoDecodeError(f"libav: {exc}") from exc
    if not frames:
        raise VideoDecodeError("libav container held no decodable frames")
    return fps, np.stack(frames).astype(np.uint8, copy=False)


def decode_avi(b: bytes) -> tuple[float, np.ndarray]:
    """Video bytes → (fps, frames (n, h, w, 3) uint8 RGB).

    The NATIVE path decodes DIB-AVI (bit-exact round-trip) and
    MJPG-AVI (through jpegcodec.decode_jpeg; grayscale broadcast to
    RGB) and is always tried first — the two oracle-gated codecs
    (q90/q96) decode through the same code path in every environment,
    so the gate numbers are deterministic whether or not PyAV is
    installed. A payload the native path REJECTS (H.264/VP9
    biCompression, or a non-AVI container like MP4/WebM) falls
    through to libav when PyAV is present (``HAVE_PYAV``) — the
    mechanical swap SCALING.md's codec table budgets for — and stays
    a VideoDecodeError when it is not. Only UnsupportedCodecError
    rejections route to libav; corrupt/truncated DIB/MJPG payloads are
    terminal in every environment (ADVICE r10)."""
    try:
        return _decode_avi_native(b)
    except UnsupportedCodecError:
        if not HAVE_PYAV:
            raise
    return _pyav_decode(b)


def _decode_avi_native(b: bytes) -> tuple[float, np.ndarray]:
    if b[:4] != b"RIFF" or b[8:12] != b"AVI ":
        raise UnsupportedCodecError("not an AVI")
    try:
        w = h = None
        fps = 0.0
        top_down = False
        mjpg = False
        frames: list[bytes] = []

        def walk_list(start: int, end: int) -> None:
            nonlocal w, h, fps, top_down, mjpg
            for fourcc, ps, pe in _walk(b, start, end):
                if fourcc == b"LIST":
                    walk_list(ps + 4, pe)
                elif fourcc == b"strh":
                    if b[ps:ps + 4] == b"vids":
                        scale, rate = struct.unpack_from("<II", b, ps + 20)
                        if scale:
                            fps = rate / scale
                elif fourcc == b"strf":
                    (bw, bh) = struct.unpack_from("<ii", b, ps + 4)
                    (bits,) = struct.unpack_from("<H", b, ps + 14)
                    (comp,) = struct.unpack_from("<I", b, ps + 16)
                    if comp == MJPG_FOURCC:
                        mjpg = True
                    elif comp != 0:
                        raise UnsupportedCodecError(
                            f"compressed AVI (biCompression={comp}) unsupported"
                        )
                    elif bits != 24:
                        raise UnsupportedCodecError(f"{bits}-bit DIB unsupported")
                    # negative biHeight = spec-valid TOP-DOWN row order:
                    # decode it correctly (no flip), don't mirror it
                    w, h, top_down = bw, abs(bh), bh < 0
                elif fourcc in (b"00db", b"00dc"):
                    frames.append(b[ps:pe])

        walk_list(12, len(b))
        if w is None or h is None or not frames:
            raise VideoDecodeError("missing stream format or frames")
        # the output is allocated only from frames checked against the
        # header: a corrupt header size must not be able to ask for
        # more memory than the payload carries
        if mjpg:
            from .imagecodec import ImageDecodeError
            from .jpegcodec import decode_jpeg

            decoded = []
            for i, fr in enumerate(frames):
                try:
                    px = decode_jpeg(bytes(fr))
                except ImageDecodeError as exc:
                    raise VideoDecodeError(
                        f"MJPG frame {i} undecodable: {exc}"
                    ) from exc
                if px.shape[:2] != (h, w):
                    raise VideoDecodeError(
                        f"MJPG frame {i} is {px.shape[1]}x{px.shape[0]}, "
                        f"stream header says {w}x{h}"
                    )
                # JPEG frames are top-down by construction; grayscale
                # broadcasts across RGB
                decoded.append(px if px.shape[2] == 3 else np.repeat(px, 3, axis=2))
            return fps, np.stack(decoded).astype(np.uint8, copy=False)
        stride = _row_stride(w)
        for i, fr in enumerate(frames):
            if len(fr) < stride * h:
                raise VideoDecodeError(f"frame {i} truncated")
        out = np.empty((len(frames), h, w, 3), np.uint8)
        for i, fr in enumerate(frames):
            rows = np.frombuffer(fr, np.uint8, stride * h).reshape(h, stride)
            bgr = rows[:, : w * 3].reshape(h, w, 3)
            rgb = bgr[:, :, ::-1] if top_down else bgr[::-1, :, ::-1]
            out[i] = rgb
        return fps, out
    except VideoDecodeError:
        raise
    except (struct.error, IndexError, ValueError) as exc:
        raise VideoDecodeError(f"truncated/invalid AVI: {exc}") from exc


def avi_meta(b: bytes) -> tuple[int, int, int, float]:
    """(width, height, n_frames, fps) — full parse (the file IS the
    index for the uncompressed layout)."""
    fps, frames = decode_avi(b)
    n, h, w, _ = frames.shape
    return w, h, n, fps
