"""Image payload pipeline: deterministic codec, fidelity invariants, and
multimodal column plumbing (BASELINE.json input_hint schema).

The sandbox has no image libraries, so the codec is a tiny deterministic
numpy implementation (SURVEY §7.6): ``raw`` (packed RGB888) and ``ppm``
(P6) are lossless; ``qnt`` quantizes to 6 bits/channel — worst-case error
±2 LSB/channel gives PSNR ≈ 46 dB, comfortably above the 40 dB north_rule
floor, by construction. The point of the invariant is pipeline fidelity
(bytes survive shuffles/joins untouched), not codec realism.

Audio/video carry one REAL container codec each, pure numpy (r4 verdict
#8): WAV (RIFF/PCM16-LE, chunk-walking parser) and Y4M (YUV4MPEG2/Cmono)
— both public interchange formats — with encode/decode roundtrip,
duration/RMS/luma invariants, and frame sampling tested end-to-end
through written tables. Compressed codecs (mp3/h264/...) remain declared
stubs: decode raises NotImplementedError, which the mapInPandas plumbing
surfaces as a per-row error column, never a task failure.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

FORMATS = ("raw", "ppm", "qnt")


# ---------------------------------------------------------------------------
# deterministic synthesis + codec (numpy)
# ---------------------------------------------------------------------------


_GRID_CACHE: dict[tuple[int, int], tuple[np.ndarray, np.ndarray]] = {}


def _norm_grid(w: int, h: int) -> tuple[np.ndarray, np.ndarray]:
    key = (w, h)
    if key not in _GRID_CACHE:
        yy, xx = np.mgrid[0:h, 0:w]
        _GRID_CACHE[key] = (xx / max(w - 1, 1), yy / max(h - 1, 1))
    return _GRID_CACHE[key]


def synth_pixels(idx: int, w: int, h: int, seed: int = 42) -> np.ndarray:
    """Seeded per-image gradient + noise, uint8 (h, w, 3)."""
    rng = np.random.default_rng(seed * 1_000_003 + idx)
    xn, yn = _norm_grid(w, h)
    # per-image random plane + sinusoid per channel so content (and hence
    # phash) differs across images, not just the noise floor
    chans = []
    for _ in range(3):
        a, b, c = rng.uniform(-1, 1, 3)
        fx, fy = rng.uniform(0.5, 4.0, 2)
        plane = 128 + 90 * (a * xn + b * yn) + 60 * c * np.sin(
            2 * np.pi * (fx * xn + fy * yn)
        )
        chans.append(plane)
    base = np.stack(chans, axis=-1)
    noise = rng.integers(-24, 25, size=(h, w, 3))
    return np.clip(base + noise, 0, 255).astype(np.uint8)


def encode_image(px: np.ndarray, fmt: str) -> bytes:
    h, w, _ = px.shape
    if fmt == "raw":
        return px.tobytes()
    if fmt == "ppm":
        return f"P6\n{w} {h}\n255\n".encode() + px.tobytes()
    if fmt == "qnt":
        # 6-bit/channel quantization, midpoint reconstruction
        return (px >> 2).astype(np.uint8).tobytes()
    raise ValueError(f"unknown fmt {fmt!r}")


def decode_image(data: bytes, fmt: str, w: int, h: int) -> np.ndarray:
    if fmt == "raw":
        return np.frombuffer(data, dtype=np.uint8).reshape(h, w, 3)
    if fmt == "ppm":
        nl = 0
        pos = 0
        while nl < 3:  # skip the 3-line header
            pos = data.index(b"\n", pos) + 1
            nl += 1
        return np.frombuffer(data[pos:], dtype=np.uint8).reshape(h, w, 3)
    if fmt == "qnt":
        q = np.frombuffer(data, dtype=np.uint8).reshape(h, w, 3).astype(np.uint16)
        return np.clip((q << 2) | 2, 0, 255).astype(np.uint8)
    raise ValueError(f"unknown fmt {fmt!r}")


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2)
    if mse == 0:
        return float("inf")
    return float(10.0 * np.log10(255.0**2 / mse))


_LUMA = np.array([0.299, 0.587, 0.114])
_LUMA_MILLI = np.array([299, 587, 114], dtype=np.int64)
_BIT_WEIGHTS = (np.uint64(1) << np.arange(64, dtype=np.uint64))


def avg_phash(px: np.ndarray) -> int:
    """64-bit average hash: 8x8 block-mean luma vs global mean.

    8-divisible sizes (every size the synth table emits) take a pure
    reshape-mean path — no per-block Python loop; ragged sizes fall back to
    slice means."""
    luma = px.astype(np.float64) @ _LUMA
    h, w = luma.shape
    if h % 8 == 0 and w % 8 == 0:
        blocks = luma.reshape(8, h // 8, 8, w // 8).mean(axis=(1, 3))
    else:
        ys = np.linspace(0, h, 9).astype(int)
        xs = np.linspace(0, w, 9).astype(int)
        blocks = np.empty((8, 8))
        for i in range(8):
            for j in range(8):
                blocks[i, j] = luma[ys[i] : ys[i + 1], xs[j] : xs[j + 1]].mean()
    bits = (blocks > blocks.mean()).ravel()
    return int((_BIT_WEIGHTS[bits]).sum(dtype=np.uint64).view(np.int64))


def resize_block_mean(px: np.ndarray, w2: int, h2: int) -> np.ndarray:
    """Deterministic block-mean resize (area-average downsample or nearest
    upsample) — the feature-extraction resize kernel. Divisible downsamples
    (the synth sizes) are one reshape-mean; ragged shapes loop."""
    h, w, _ = px.shape
    if h % h2 == 0 and w % w2 == 0:
        return (
            px.reshape(h2, h // h2, w2, w // w2, 3)
            .mean(axis=(1, 3))
            .round()
            .astype(np.uint8)
        )
    ys = (np.arange(h2 + 1) * h // h2).astype(int)
    xs = (np.arange(w2 + 1) * w // w2).astype(int)
    out = np.empty((h2, w2, 3), dtype=np.uint8)
    for i in range(h2):
        y0, y1 = ys[i], max(ys[i + 1], ys[i] + 1)
        for j in range(w2):
            x0, x1 = xs[j], max(xs[j + 1], xs[j] + 1)
            out[i, j] = px[y0:y1, x0:x1].reshape(-1, 3).mean(axis=0).round()
    return out


# ---------------------------------------------------------------------------
# Spark-facing table + pipeline UDFs
# ---------------------------------------------------------------------------

IMAGE_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash long, lat double, lng double"
)

_WORDS = [
    "granite", "meadow", "harbor", "lantern", "orchid", "summit", "cobalt",
    "willow", "ember", "quartz", "prairie", "falcon", "mosaic", "tundra",
]


def caption_for(idx: int) -> str:
    ws = [
        _WORDS[(idx * 7 + k * 13) % len(_WORDS)] for k in range(3 + idx % 4)
    ]
    return f"caption {idx}: " + " ".join(ws)


def images_table(
    spark: SparkSession,
    n: int,
    seed: int = 42,
    partitions: int | None = None,
    us_box: bool = True,
) -> DataFrame:
    """Deterministic images table in the input_hint shape (+ lat/lng
    geometry), synthesized in parallel with mapInPandas — each executor
    generates its id range, no driver materialization."""
    parts = partitions or max(spark.sparkContext.defaultParallelism, 4)
    base = spark.range(0, n, 1, parts)

    def gen(it):
        for pdf in it:
            rows = []
            for idx in pdf["id"]:
                idx = int(idx)
                w = (16, 32, 64)[idx % 3]
                h = (16, 32, 64)[(idx // 3) % 3]
                fmt = FORMATS[idx % len(FORMATS)]
                px = synth_pixels(idx, w, h, seed)
                lat = 24.396308 + ((idx * 9973) % 100000) / 100000.0 * (49.384358 - 24.396308)
                lng = -125.0 + ((idx * 7919) % 100000) / 100000.0 * (-66.93457 - -125.0)
                rows.append(
                    (
                        f"img_{idx:012d}", encode_image(px, fmt), w, h, fmt,
                        caption_for(idx), avg_phash(px), lat, lng,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "image_id", "bytes", "w", "h", "fmt", "caption",
                    "phash", "lat", "lng",
                ],
            )

    return base.mapInPandas(gen, IMAGE_SCHEMA)


_FIDELITY_SCHEMA = (
    "image_id string, fmt string, psnr double, phash_match boolean, "
    "caption_ok boolean, decoded_mean double"
)


def fidelity_check(df: DataFrame, seed: int = 42) -> DataFrame:
    """Decode every image and verify the north_rule invariants row-by-row
    (vectorized batches): PSNR vs the synthesized source (>= 40 dB for the
    lossy fmt, lossless otherwise), phash equality, caption equality."""

    def check(it):
        for pdf in it:
            out = []
            for r in pdf.itertuples():
                idx = int(r.image_id.split("_")[1])
                px = decode_image(r.bytes, r.fmt, r.w, r.h)
                src = synth_pixels(idx, r.w, r.h, seed)
                p = psnr(src, px)
                out.append(
                    (
                        r.image_id, r.fmt,
                        999.0 if p == float("inf") else p,
                        avg_phash(src) == r.phash,
                        r.caption == caption_for(idx),
                        float(px.mean()),
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "image_id", "fmt", "psnr", "phash_match", "caption_ok",
                    "decoded_mean",
                ],
            )

    return df.mapInPandas(check, _FIDELITY_SCHEMA)


def extract_features(df: DataFrame, out_w: int = 8, out_h: int = 8) -> DataFrame:
    """Decode -> block-mean resize -> flatten to a float embedding column.
    The image->embedding bridge for the ANN/dedup operators."""

    def feats(it):
        for pdf in it:
            ids, vecs = [], []
            for r in pdf.itertuples():
                px = decode_image(r.bytes, r.fmt, r.w, r.h)
                small = resize_block_mean(px, out_w, out_h)
                ids.append(r.image_id)
                vecs.append((small.astype(np.float64) / 255.0).ravel().tolist())
            yield pd.DataFrame({"image_id": ids, "embedding": vecs})

    return df.mapInPandas(feats, "image_id string, embedding array<double>")


# ---------------------------------------------------------------------------
# audio / video: real container codecs (WAV/PCM16, YUV4MPEG2) in pure numpy
# + Spark plumbing. Compressed codecs (mp3/aac/h264/...) stay declared
# stubs — no media libraries in this container — and surface per-row as an
# error column, never a task failure.
# ---------------------------------------------------------------------------


def encode_wav(pcm: np.ndarray, sample_rate: int = 16_000) -> bytes:
    """RIFF/WAVE PCM16-LE encoder (the canonical uncompressed audio
    container; layout per the public RIFF spec: RIFF<size>WAVE + 'fmt '
    chunk (PCM, channels, rate, byte rate, block align, 16 bps) + 'data'
    chunk). Accepts int16 (verbatim) or float in [-1, 1] (scaled); shape
    (n,) mono or (n_frames, n_channels)."""
    import struct

    a = np.asarray(pcm)
    if a.ndim == 1:
        a = a[:, None]
    if a.dtype != np.int16:
        a = np.clip(np.round(np.asarray(a, dtype=np.float64) * 32767.0), -32768, 32767).astype(np.int16)
    n_frames, n_ch = a.shape
    data = a.astype("<i2").tobytes()
    fmt = struct.pack(
        "<HHIIHH", 1, n_ch, sample_rate, sample_rate * n_ch * 2, n_ch * 2, 16
    )
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """Parse a RIFF/WAVE byte string -> (int16 array (n_frames, n_ch),
    sample_rate). Walks the chunk list (so extra chunks like LIST/fact are
    skipped, not assumed absent); PCM16 only."""
    import struct

    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    pos, end = 12, 8 + struct.unpack("<I", data[4:8])[0]
    n_ch = rate = bps = None
    pcm = None
    while pos + 8 <= min(end, len(data)):
        cid = data[pos : pos + 4]
        size = struct.unpack("<I", data[pos + 4 : pos + 8])[0]
        chunk = data[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            codec, n_ch, rate = struct.unpack("<HHI", chunk[:8])
            bps = struct.unpack("<H", chunk[14:16])[0]
            if codec != 1 or bps != 16:
                raise NotImplementedError(f"WAV codec {codec}/{bps}bps not supported (PCM16 only)")
        elif cid == b"data":
            pcm = chunk
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if pcm is None or n_ch is None:
        raise ValueError("WAV stream missing fmt/data chunk")
    a = np.frombuffer(pcm, dtype="<i2")
    return a.reshape(-1, n_ch), int(rate)


def decode_audio(data: bytes, fmt: str) -> tuple[np.ndarray, int | None]:
    """(pcm float32 in [-1, 1] shape (n_frames, n_channels), sample_rate).

    'wav' is a real decoder (RIFF/PCM16); 'synth-pcm' is the raw headerless
    int16 test format (rate unknown -> None). Compressed codecs raise
    NotImplementedError (no media libs in this container) — the Spark
    plumbing turns that into an error column, not a task failure."""
    if fmt == "synth-pcm":
        a = np.frombuffer(data, dtype=np.int16).astype(np.float32) / 32768.0
        return a.reshape(-1, 1), None
    if fmt == "wav":
        a, rate = decode_wav(data)
        return a.astype(np.float32) / 32768.0, rate
    raise NotImplementedError(f"audio codec {fmt!r} not available in this environment")


def synth_audio(idx: int, n_frames: int = 8000, sample_rate: int = 16_000) -> np.ndarray:
    """Deterministic per-key test signal: two-tone sine mix, int16 mono.
    Analytic RMS ~ amp/sqrt(2) per tone — the invariant tests pin decoded
    RMS and duration against closed forms."""
    t = np.arange(n_frames, dtype=np.float64) / sample_rate
    f1 = 220.0 + (idx % 16) * 55.0
    f2 = 1000.0 + (idx % 7) * 125.0
    x = 0.5 * np.sin(2 * np.pi * f1 * t) + 0.25 * np.sin(2 * np.pi * f2 * t)
    return np.round(x * 32767.0).astype(np.int16)


def audio_features(df: DataFrame, bytes_col: str = "bytes", fmt_col: str = "fmt") -> DataFrame:
    """mapInPandas audio feature extraction: RMS energy, frame count,
    sample rate and duration (when the container carries a rate). Real for
    'wav' and 'synth-pcm'; unsupported codecs surface per-row as nulls
    with an error marker."""

    def feats(it):
        for pdf in it:
            out = []
            for r in pdf.itertuples():
                try:
                    pcm, rate = decode_audio(getattr(r, bytes_col), getattr(r, fmt_col))
                    out.append(
                        (
                            r.key, float(np.sqrt((pcm.astype(np.float64) ** 2).mean())),
                            pcm.shape[0], rate,
                            (pcm.shape[0] / rate) if rate else None, None,
                        )
                    )
                except NotImplementedError as e:
                    out.append((r.key, None, None, None, None, str(e)))
            yield pd.DataFrame(
                out,
                columns=["key", "rms", "n_samples", "sample_rate", "duration_s", "error"],
            )

    return df.mapInPandas(
        feats,
        "key string, rms double, n_samples long, sample_rate int, "
        "duration_s double, error string",
    )


def encode_y4m(frames: np.ndarray, fps: int = 25) -> bytes:
    """YUV4MPEG2 encoder, Cmono (luma-only) — the public uncompressed
    video interchange container (mplayer/ffmpeg 'y4m'): one ASCII stream
    header, then 'FRAME\\n' + raw plane bytes per frame. frames: uint8
    (n_frames, h, w)."""
    f = np.ascontiguousarray(np.asarray(frames, dtype=np.uint8))
    n, h, w = f.shape
    head = f"YUV4MPEG2 W{w} H{h} F{fps}:1 Ip A1:1 Cmono\n".encode()
    plane = b"FRAME\n"
    return head + b"".join(plane + f[i].tobytes() for i in range(n))


def decode_y4m(data: bytes) -> tuple[np.ndarray, int]:
    """Parse a YUV4MPEG2/Cmono stream -> (uint8 frames (n, h, w), fps)."""
    nl = data.index(b"\n")
    head = data[:nl].decode()
    if not head.startswith("YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 stream")
    w = h = fps = None
    for tok in head.split()[1:]:
        if tok[0] == "W":
            w = int(tok[1:])
        elif tok[0] == "H":
            h = int(tok[1:])
        elif tok[0] == "F":
            fps = int(tok[1:].split(":")[0])
        elif tok[0] == "C" and tok[1:] != "mono":
            raise NotImplementedError(f"y4m chroma {tok!r} not supported (Cmono only)")
    frames = []
    pos = nl + 1
    fsz = w * h
    while pos < len(data):
        fnl = data.index(b"\n", pos)  # FRAME line (may carry params)
        if not data[pos:fnl].startswith(b"FRAME"):
            raise ValueError("corrupt y4m frame header")
        frames.append(
            np.frombuffer(data[fnl + 1 : fnl + 1 + fsz], dtype=np.uint8).reshape(h, w)
        )
        pos = fnl + 1 + fsz
    return np.stack(frames) if frames else np.empty((0, h, w), np.uint8), int(fps)


def synth_video(idx: int, n_frames: int = 12, w: int = 32, h: int = 32, seed: int = 42) -> np.ndarray:
    """Deterministic test clip: the image synth's luma plane, rolled one
    column per frame (so frame k == roll(frame 0, k) — an exact sampling
    invariant). The luma is integer arithmetic (BT.601 weights in
    thousandths, rounded half up), so every host synthesizes the same
    frames; a float matmul rounds differently with the summation path.
    """
    px = synth_pixels(idx, w, h, seed).astype(np.int64)
    luma = ((px @ _LUMA_MILLI + 500) // 1000).astype(np.uint8)
    return np.stack([np.roll(luma, k, axis=1) for k in range(n_frames)])


def decode_video_frames(data: bytes, fmt: str, every_n: int = 10) -> np.ndarray:
    """Frame-sampled decode: every ``every_n``-th frame. Real for 'y4m'
    (YUV4MPEG2/Cmono); compressed codecs raise NotImplementedError."""
    if fmt == "y4m":
        frames, _ = decode_y4m(data)
        return frames[::every_n]
    raise NotImplementedError(f"video codec {fmt!r} not available in this environment")


def video_features(
    df: DataFrame, bytes_col: str = "bytes", fmt_col: str = "fmt", every_n: int = 1
) -> DataFrame:
    """mapInPandas video feature extraction over sampled frames: frame
    count, fps, duration, mean luma of the sampled frames. Real for 'y4m';
    unsupported codecs surface per-row as an error column."""

    def feats(it):
        for pdf in it:
            out = []
            for r in pdf.itertuples():
                try:
                    fmt = getattr(r, fmt_col)
                    if fmt != "y4m":
                        raise NotImplementedError(
                            f"video codec {fmt!r} not available in this environment"
                        )
                    frames, fps = decode_y4m(getattr(r, bytes_col))
                    sampled = frames[::every_n]
                    out.append(
                        (
                            r.key, int(frames.shape[0]), int(fps),
                            frames.shape[0] / fps if fps else None,
                            float(sampled.astype(np.float64).mean()) if len(sampled) else None,
                            None,
                        )
                    )
                except NotImplementedError as e:
                    out.append((r.key, None, None, None, None, str(e)))
            yield pd.DataFrame(
                out,
                columns=["key", "n_frames", "fps", "duration_s", "mean_luma", "error"],
            )

    return df.mapInPandas(
        feats,
        "key string, n_frames int, fps int, duration_s double, "
        "mean_luma double, error string",
    )
