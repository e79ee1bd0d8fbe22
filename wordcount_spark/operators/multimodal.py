"""Multimodal column handling: opaque binary payloads + typed metadata.

Two tiers of decode:

- CODEC formats (JPEG/PNG/FLAC/MP4): PROBE-GATED on Pillow/soundfile:
  where the libraries exist, the bottom section of this module runs REAL
  encode→decode round trips with formula oracles and queries_multimodal
  registers the matching queries;
  where they don't — as in this container — ``_decode_real`` raises
  NotImplementedError behind an import-try, nothing registers, and the
  deterministic fake derives features arithmetically from the payload
  bytes. MP4 stays an honest stub (no pure-Python demuxer worth faking).
- CODEC-FREE formats (PGM P5 images, RIFF/WAVE PCM16 audio): decoded FOR
  REAL — header parsing + numpy byte reinterpretation, no library needed
  (``decode_pgm_features`` / ``decode_wav_features``). Their payloads are
  synthesized from doc_id, so the differential oracle predicts every
  decoded feature from the generator formula: encode → Arrow transfer →
  parse is checked end to end.

In both tiers the Spark-side plumbing a 100 TB multimodal pipeline needs
is real and tested: binary columns with schemas, Arrow-batched
``mapInPandas`` operators that consume raw bytes per batch, fan-out
(frame sampling) done inside the iterator without materializing per-row
lists driver-side.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: fake modality assignment: documents cycle image/audio/video by doc_id
MIME_BY_MOD = {0: "image/png", 1: "audio/wav", 2: "video/mp4"}


def with_binary_payload(docs: DataFrame) -> DataFrame:
    """documents → (doc_id, mime, payload: binary, n_bytes).

    At real scale the payload column comes from the lakehouse (parquet
    BINARY / external object refs); here it is the utf-8 bytes of ``text``.
    """
    mime = (
        F.when(F.col("doc_id") % 3 == 0, MIME_BY_MOD[0])
        .when(F.col("doc_id") % 3 == 1, MIME_BY_MOD[1])
        .otherwise(MIME_BY_MOD[2])
    )
    return docs.select(
        "doc_id",
        mime.alias("mime"),
        F.encode("text", "utf-8").alias("payload"),
        F.octet_length(F.encode("text", "utf-8")).alias("n_bytes"),
    )


def _decode_real(payload: bytes, mime: str):  # pragma: no cover - no codecs in env
    """Real single-payload decode: Pillow for images, soundfile for audio
    (probe-gated — see the codec section at the bottom of this module for
    the batch/Arrow query paths). Raises NotImplementedError when the
    codec library is absent from the environment, as in this container."""
    if mime.startswith("image/"):
        try:
            import io

            from PIL import Image
        except ImportError as exc:
            raise NotImplementedError(
                "Pillow not available in this environment; "
                "use the deterministic stub features instead"
            ) from exc
        import numpy as np

        return np.asarray(Image.open(io.BytesIO(payload)).convert("RGB"))
    if mime.startswith("audio/"):
        try:
            import io

            import soundfile as sf
        except ImportError as exc:
            raise NotImplementedError(
                "soundfile not available in this environment; "
                "use the deterministic stub features instead"
            ) from exc
        samples, rate = sf.read(io.BytesIO(payload), dtype="int16")
        return samples, rate
    raise NotImplementedError(f"no decoder wired for {mime}")


def fake_dims(n_bytes: int) -> tuple[int, int]:
    """Deterministic stand-in for decoded media dimensions."""
    return 64 + (n_bytes % 960), 64 + ((n_bytes * 7) % 704)


def extract_features(binary_df: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the payload bytes.

    The UDF consumes the REAL bytes per batch (hashes them, measures them)
    and emits stub 'decoded' dimensions — swapping ``fake_dims`` for a real
    decoder is the only change needed when codecs exist.
    """
    import hashlib

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            n = payloads.map(len)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "mime": pdf["mime"],
                    "n_bytes": n,
                    "checksum": payloads.map(lambda b: hashlib.md5(b).hexdigest()),
                    "width": n.map(lambda x: fake_dims(x)[0]),
                    "height": n.map(lambda x: fake_dims(x)[1]),
                }
            )

    return binary_df.mapInPandas(
        feats,
        schema="doc_id long, mime string, n_bytes long, checksum string, "
        "width long, height long",
    )


def sample_frames(binary_df: DataFrame, frame_stride: int = 4096, max_frames: int = 5) -> DataFrame:
    """Frame sampling for 'video' payloads: one output row per sampled
    frame, fanned out INSIDE the Arrow batch iterator (no driver-side
    explode, no per-row Python lists crossing the boundary)."""

    def frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {"doc_id": [], "frame_idx": [], "byte_offset": [], "frame_bytes": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n_frames = min(len(payload) // frame_stride + 1, max_frames)
                for i in range(n_frames):
                    off = i * frame_stride
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(i)
                    out["byte_offset"].append(off)
                    out["frame_bytes"].append(len(payload[off : off + frame_stride]))
            yield pd.DataFrame(out)

    return binary_df.filter(F.col("mime") == "video/mp4").mapInPandas(
        frames,
        schema="doc_id long, frame_idx int, byte_offset long, frame_bytes long",
    )


def resize_media(binary_df: DataFrame, target: int = 224) -> DataFrame:
    """Aspect-preserving resize-to-fit plan for decoded media.

    Decode is stubbed (``fake_dims``), the resize geometry + Arrow batch
    shape are real: per batch, vectorized numpy computes the scale to fit
    a ``target``×``target`` box and the resulting dimensions. Swapping in
    a real decoder/resampler changes only the two marked lines — the
    Spark-side contract (binary in, typed row out, no driver round-trip)
    stays."""
    import numpy as np

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = pdf["payload"].map(len).to_numpy()
            w = 64 + (n % 960)            # stub decode: fake_dims
            h = 64 + ((n * 7) % 704)      # stub decode: fake_dims
            scale = np.minimum(target / w, target / h)
            new_w = np.maximum(1, np.floor(w * scale)).astype("int64")
            new_h = np.maximum(1, np.floor(h * scale)).astype("int64")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "mime": pdf["mime"],
                    "width": w,
                    "height": h,
                    "new_width": new_w,
                    "new_height": new_h,
                    "scale": scale,
                }
            )

    return binary_df.mapInPandas(
        resize,
        schema="doc_id long, mime string, width long, height long, "
        "new_width long, new_height long, scale double",
    )


# ---------------------------------------------------------------------------
# REAL decode path for codec-free container formats. PGM (P5) and WAV
# (RIFF/PCM16) are pure byte layouts — header + raw array — so they decode
# with numpy alone, no codec library. The payloads are synthesized
# deterministically from doc_id, which gives the differential check teeth:
# the Spark path is generate bytes → ship through Arrow → PARSE bytes →
# features, while the oracle computes the expected features straight from
# the generator formula in SQL. Any corruption in the binary plumbing
# (encode, Arrow transfer, slicing, endianness) diverges the two.

PGM_PIX_A = 7919
PGM_PIX_B = 104729
WAV_RATE = 16000
WAV_SAMP_A = 31
WAV_SAMP_B = 17


def pgm_dims(doc_id: int) -> tuple[int, int]:
    return 32 + doc_id % 32, 24 + doc_id % 16


def wav_n_samples(doc_id: int) -> int:
    return 256 + doc_id % 256


def synth_pgm_payload(docs: DataFrame) -> DataFrame:
    """doc_id → a VALID binary PGM (P5) image whose pixels are
    ``(doc_id*7919 + i*104729) % 256``. Built inside mapInPandas so the
    bytes cross the Arrow boundary exactly like lakehouse payloads."""
    import numpy as np

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                w, h = pgm_dims(int(doc_id))
                pix = (
                    (int(doc_id) * PGM_PIX_A + np.arange(w * h, dtype=np.int64) * PGM_PIX_B)
                    % 256
                ).astype(np.uint8)
                payloads.append(f"P5\n{w} {h}\n255\n".encode() + pix.tobytes())
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return docs.select("doc_id").mapInPandas(gen, schema="doc_id long, payload binary")


def decode_pgm_features(pgm_df: DataFrame) -> DataFrame:
    """REAL decode: parse the P5 header, reinterpret the pixel bytes, and
    aggregate features — integer-exact (sums as int64), so the oracle can
    predict every value."""
    import numpy as np

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("doc_id", "width", "height", "n_pixels",
                                   "sum_pixels", "min_pixel", "max_pixel")}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                buf = bytes(payload)
                magic, dims, maxval_and_rest = buf.split(b"\n", 2)
                if magic != b"P5":
                    raise ValueError(f"not a P5 PGM: {magic!r}")
                w, h = (int(x) for x in dims.split())
                maxval, pixbytes = maxval_and_rest.split(b"\n", 1)
                if int(maxval) != 255 or len(pixbytes) != w * h:
                    raise ValueError("corrupt PGM payload")
                pix = np.frombuffer(pixbytes, dtype=np.uint8).astype(np.int64)
                out["doc_id"].append(doc_id)
                out["width"].append(w)
                out["height"].append(h)
                out["n_pixels"].append(w * h)
                out["sum_pixels"].append(int(pix.sum()))
                out["min_pixel"].append(int(pix.min()))
                out["max_pixel"].append(int(pix.max()))
            yield pd.DataFrame(out)

    return pgm_df.mapInPandas(
        dec,
        schema="doc_id long, width long, height long, n_pixels long, "
        "sum_pixels long, min_pixel long, max_pixel long",
    )


def synth_wav_payload(docs: DataFrame) -> DataFrame:
    """doc_id → a VALID 44-byte-header RIFF/WAVE mono PCM16 payload whose
    samples are ``((doc_id*31 + i*17) % 4096) - 2048``."""
    import struct

    import numpy as np

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                n = wav_n_samples(int(doc_id))
                samples = (
                    (int(doc_id) * WAV_SAMP_A + np.arange(n, dtype=np.int64) * WAV_SAMP_B)
                    % 4096
                    - 2048
                ).astype("<i2")
                data = samples.tobytes()
                hdr = (
                    b"RIFF"
                    + struct.pack("<I", 36 + len(data))
                    + b"WAVEfmt "
                    + struct.pack("<IHHIIHH", 16, 1, 1, WAV_RATE, WAV_RATE * 2, 2, 16)
                    + b"data"
                    + struct.pack("<I", len(data))
                )
                payloads.append(hdr + data)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return docs.select("doc_id").mapInPandas(gen, schema="doc_id long, payload binary")


def decode_wav_features(wav_df: DataFrame) -> DataFrame:
    """REAL decode: validate the RIFF/fmt/data chunks, read rate/width from
    the header fields, reinterpret the PCM16 samples (little-endian), and
    aggregate integer-exact loudness features."""
    import struct

    import numpy as np

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("doc_id", "sample_rate", "n_samples",
                                   "sum_abs", "sum_sq", "peak_abs")}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                buf = bytes(payload)
                if buf[:4] != b"RIFF" or buf[8:16] != b"WAVEfmt ":
                    raise ValueError("not a RIFF/WAVE payload")
                fmt_size, audio_fmt, channels, rate = struct.unpack("<IHHI", buf[16:28])
                bits = struct.unpack("<H", buf[34:36])[0]
                if (fmt_size, audio_fmt, channels, bits) != (16, 1, 1, 16):
                    raise ValueError("unsupported WAV layout")
                if buf[36:40] != b"data":
                    raise ValueError("missing data chunk")
                (data_len,) = struct.unpack("<I", buf[40:44])
                samples = np.frombuffer(buf[44 : 44 + data_len], dtype="<i2").astype(
                    np.int64
                )
                out["doc_id"].append(doc_id)
                out["sample_rate"].append(rate)
                out["n_samples"].append(len(samples))
                out["sum_abs"].append(int(np.abs(samples).sum()))
                out["sum_sq"].append(int((samples * samples).sum()))
                out["peak_abs"].append(int(np.abs(samples).max()))
            yield pd.DataFrame(out)

    return wav_df.mapInPandas(
        dec,
        schema="doc_id long, sample_rate long, n_samples long, "
        "sum_abs long, sum_sq long, peak_abs long",
    )


# --- PPM (P6) color images: 3 bytes/pixel, header + raw RGB triplets ------

PPM_A = 7907
PPM_B = 104717


def ppm_dims(doc_id: int) -> tuple[int, int]:
    return 16 + doc_id % 16, 12 + doc_id % 8


def synth_ppm_payload(docs: DataFrame) -> DataFrame:
    """doc_id → a VALID binary PPM (P6) color image whose flat RGB byte
    stream is ``(doc_id*7907 + j*104717) % 256`` for j in [0, 3·w·h) —
    channel c of pixel p sits at j = 3p + c, exactly the interleaving the
    decoder must undo. Same mapInPandas shape as the PGM/WAV synths."""
    import numpy as np

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                w, h = ppm_dims(int(doc_id))
                raw = (
                    (int(doc_id) * PPM_A + np.arange(3 * w * h, dtype=np.int64) * PPM_B)
                    % 256
                ).astype(np.uint8)
                payloads.append(f"P6\n{w} {h}\n255\n".encode() + raw.tobytes())
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return docs.select("doc_id").mapInPandas(gen, schema="doc_id long, payload binary")


def decode_ppm_features(ppm_df: DataFrame) -> DataFrame:
    """REAL color decode: parse the P6 header, reinterpret the interleaved
    RGB bytes as an (h·w, 3) array, and aggregate per-channel integer-exact
    features — a channel-deinterleave bug (the classic stride mistake)
    diverges sum_r/sum_g/sum_b from the oracle immediately."""
    import numpy as np

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("doc_id", "width", "height", "n_pixels",
                                   "sum_r", "sum_g", "sum_b", "max_rgb")}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                buf = bytes(payload)
                magic, dims, maxval_and_rest = buf.split(b"\n", 2)
                if magic != b"P6":
                    raise ValueError(f"not a P6 PPM: {magic!r}")
                w, h = (int(x) for x in dims.split())
                maxval, raw = maxval_and_rest.split(b"\n", 1)
                if int(maxval) != 255 or len(raw) != 3 * w * h:
                    raise ValueError("corrupt PPM payload")
                rgb = np.frombuffer(raw, dtype=np.uint8).reshape(-1, 3).astype(np.int64)
                out["doc_id"].append(doc_id)
                out["width"].append(w)
                out["height"].append(h)
                out["n_pixels"].append(w * h)
                out["sum_r"].append(int(rgb[:, 0].sum()))
                out["sum_g"].append(int(rgb[:, 1].sum()))
                out["sum_b"].append(int(rgb[:, 2].sum()))
                out["max_rgb"].append(int(rgb.max()))
            yield pd.DataFrame(out)

    return ppm_df.mapInPandas(
        dec,
        schema="doc_id long, width long, height long, n_pixels long, "
        "sum_r long, sum_g long, sum_b long, max_rgb long",
    )


# --- µ-law (G.711) WAV: 8-bit log-companded audio, format code 7 ----------

MULAW_RATE = 8000
MULAW_SAMP_A = 13
MULAW_SAMP_B = 7


def mulaw_n_samples(doc_id: int) -> int:
    return 200 + doc_id % 200


def synth_mulaw_payload(docs: DataFrame) -> DataFrame:
    """doc_id → a VALID RIFF/WAVE mono µ-law payload (format code 7, 8-bit
    samples at 8 kHz) whose companded bytes are ``(doc_id*13 + i*7) % 256``."""
    import struct

    import numpy as np

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                n = mulaw_n_samples(int(doc_id))
                samples = (
                    (int(doc_id) * MULAW_SAMP_A + np.arange(n, dtype=np.int64) * MULAW_SAMP_B)
                    % 256
                ).astype(np.uint8)
                data = samples.tobytes()
                hdr = (
                    b"RIFF"
                    + struct.pack("<I", 36 + len(data))
                    + b"WAVEfmt "
                    + struct.pack("<IHHIIHH", 16, 7, 1, MULAW_RATE, MULAW_RATE, 1, 8)
                    + b"data"
                    + struct.pack("<I", len(data))
                )
                payloads.append(hdr + data)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return docs.select("doc_id").mapInPandas(gen, schema="doc_id long, payload binary")


def mulaw_expand(u: "object"):
    """Vectorized G.711 µ-law → linear PCM16 expansion (CCITT reference
    decode: complement, bias-132 mantissa, segment shift, signed). Shared
    by the decoder and the differential test; the SQL oracle spells the
    identical integer formula with 255-u for the byte complement."""
    import numpy as np

    v = 255 - np.asarray(u, dtype=np.int64)  # ~u & 0xFF for u in [0,256)
    t = (((v & 0x0F) << 3) + 0x84) << ((v & 0x70) >> 4)
    return np.where((v & 0x80) != 0, 0x84 - t, t - 0x84)


def decode_mulaw_features(wav_df: DataFrame) -> DataFrame:
    """REAL µ-law decode: validate the RIFF/fmt/data chunks (format code 7,
    1 channel, 8 bits), read the rate from the header, EXPAND the
    companded bytes to linear PCM16 with the G.711 formula, and aggregate
    integer-exact loudness features on the expanded signal."""
    import struct

    import numpy as np

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("doc_id", "sample_rate", "n_samples",
                                   "sum_abs", "sum_sq", "peak_abs")}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                buf = bytes(payload)
                if buf[:4] != b"RIFF" or buf[8:16] != b"WAVEfmt ":
                    raise ValueError("not a RIFF/WAVE payload")
                fmt_size, audio_fmt, channels, rate = struct.unpack("<IHHI", buf[16:28])
                bits = struct.unpack("<H", buf[34:36])[0]
                if (fmt_size, audio_fmt, channels, bits) != (16, 7, 1, 8):
                    raise ValueError("unsupported WAV layout (want mono G.711 mu-law)")
                if buf[36:40] != b"data":
                    raise ValueError("missing data chunk")
                (data_len,) = struct.unpack("<I", buf[40:44])
                lin = mulaw_expand(
                    np.frombuffer(buf[44 : 44 + data_len], dtype=np.uint8)
                )
                out["doc_id"].append(doc_id)
                out["sample_rate"].append(rate)
                out["n_samples"].append(len(lin))
                out["sum_abs"].append(int(np.abs(lin).sum()))
                out["sum_sq"].append(int((lin * lin).sum()))
                out["peak_abs"].append(int(np.abs(lin).max()))
            yield pd.DataFrame(out)

    return wav_df.mapInPandas(
        dec,
        schema="doc_id long, sample_rate long, n_samples long, "
        "sum_abs long, sum_sq long, peak_abs long",
    )


# --- BMP (24-bit uncompressed): the classic quirk farm — bottom-up row
# order, BGR byte order, rows padded to 4 bytes -----------------------------

BMP_A = 7901
BMP_B = 104711
BMP_C = 31


def bmp_dims(doc_id: int) -> tuple[int, int]:
    # odd widths on purpose: w*3 % 4 cycles through every padding amount
    return 9 + doc_id % 8, 6 + doc_id % 5


def synth_bmp_payload(docs: DataFrame) -> DataFrame:
    """doc_id → a VALID 24-bit uncompressed BMP whose TOP-DOWN RGB pixel
    (x, y, c) is ``(doc_id*7901 + (y*w + x)*104711 + c*31) % 256``. The
    writer emits the real on-disk layout: BITMAPFILEHEADER +
    BITMAPINFOHEADER(40), bottom row first, BGR within each pixel, rows
    padded to 4-byte boundaries."""
    import struct

    import numpy as np

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                w, h = bmp_dims(int(doc_id))
                idx = np.arange(w * h, dtype=np.int64)  # y*w + x, top-down
                rgb = np.stack(
                    [
                        (int(doc_id) * BMP_A + idx * BMP_B + c * BMP_C) % 256
                        for c in range(3)
                    ],
                    axis=1,
                ).astype(np.uint8).reshape(h, w, 3)
                bgr = rgb[::-1, :, ::-1]  # bottom-up rows, BGR channels
                row_bytes = w * 3
                pad = (-row_bytes) % 4
                rows = b"".join(
                    bgr[y].tobytes() + b"\x00" * pad for y in range(h)
                )
                pixel_size = (row_bytes + pad) * h
                hdr = (
                    b"BM"
                    + struct.pack("<IHHI", 54 + pixel_size, 0, 0, 54)
                    + struct.pack(
                        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, pixel_size, 2835, 2835, 0, 0
                    )
                )
                payloads.append(hdr + rows)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return docs.select("doc_id").mapInPandas(gen, schema="doc_id long, payload binary")


def decode_bmp_features(bmp_df: DataFrame) -> DataFrame:
    """REAL BMP decode from header fields alone: validate the magic and
    the 24-bit uncompressed layout, read width/height/offset from the
    headers, strip the per-row padding, flip bottom-up to top-down,
    reorder BGR→RGB, and aggregate per-channel integer-exact features.
    Getting ANY of padding/flip/channel-order wrong diverges the channel
    sums from the oracle's top-down RGB formula."""
    import struct

    import numpy as np

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("doc_id", "width", "height", "n_pixels",
                                   "sum_r", "sum_g", "sum_b", "max_rgb")}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                buf = bytes(payload)
                if buf[:2] != b"BM":
                    raise ValueError("not a BMP payload")
                (data_off,) = struct.unpack("<I", buf[10:14])
                hdr_size, w, h, planes, bpp, compression = struct.unpack(
                    "<IiiHHI", buf[14:34]
                )
                if (hdr_size, planes, bpp, compression) != (40, 1, 24, 0):
                    raise ValueError("unsupported BMP layout")
                if h <= 0:
                    raise ValueError("top-down BMPs not expected here")
                stride = (w * 3 + 3) // 4 * 4
                rows = np.frombuffer(
                    buf[data_off : data_off + stride * h], dtype=np.uint8
                ).reshape(h, stride)
                bgr = rows[:, : w * 3].reshape(h, w, 3)
                rgb = bgr[::-1, :, ::-1].astype(np.int64)  # flip + BGR→RGB
                out["doc_id"].append(doc_id)
                out["width"].append(w)
                out["height"].append(h)
                out["n_pixels"].append(w * h)
                out["sum_r"].append(int(rgb[:, :, 0].sum()))
                out["sum_g"].append(int(rgb[:, :, 1].sum()))
                out["sum_b"].append(int(rgb[:, :, 2].sum()))
                out["max_rgb"].append(int(rgb.max()))
            yield pd.DataFrame(out)

    return bmp_df.mapInPandas(
        dec,
        schema="doc_id long, width long, height long, n_pixels long, "
        "sum_r long, sum_g long, sum_b long, max_rgb long",
    )


def decimate_wav_features(wav_df: DataFrame, factor: int) -> DataFrame:
    """REAL DSP step after the REAL decode: parse the RIFF/WAVE payload
    (same validation as ``decode_wav_features``), decimate the PCM16
    stream by ``factor`` (keep samples 0, factor, 2·factor, …), and emit
    integer-exact features of the decimated stream plus its effective
    sample rate. Integer decimation — no resampling filter — so the
    oracle can state the kept-index formula exactly."""
    import struct

    import numpy as np

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("doc_id", "out_rate", "n_out",
                                   "sum_abs", "sum_sq", "first_val", "last_val")}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                buf = bytes(payload)
                if buf[:4] != b"RIFF" or buf[8:16] != b"WAVEfmt ":
                    raise ValueError("not a RIFF/WAVE payload")
                rate = struct.unpack("<I", buf[24:28])[0]
                (data_len,) = struct.unpack("<I", buf[40:44])
                samples = np.frombuffer(buf[44 : 44 + data_len], dtype="<i2").astype(
                    np.int64
                )
                kept = samples[::factor]
                out["doc_id"].append(doc_id)
                out["out_rate"].append(rate // factor)
                out["n_out"].append(len(kept))
                out["sum_abs"].append(int(np.abs(kept).sum()))
                out["sum_sq"].append(int((kept * kept).sum()))
                out["first_val"].append(int(kept[0]))
                out["last_val"].append(int(kept[-1]))
            yield pd.DataFrame(out)

    return wav_df.mapInPandas(
        dec,
        schema="doc_id long, out_rate long, n_out long, "
        "sum_abs long, sum_sq long, first_val long, last_val long",
    )


#: aHash dedup synth parameters: 32x32 images, 50 visual classes, 3
#: brightness offsets per class. Pixel base is mod 253 so the +offset
#: (0..2) never wraps 255 — integer brightness invariance of the hash
#: depends on no wraparound.
AHASH_SEEDS = 50
AHASH_SIDE = 32


def synth_pgm_payload_seeded(docs: DataFrame) -> DataFrame:
    """doc_id → a VALID binary 32x32 PGM whose pixels are
    ``(seed*7919 + i*104729) % 253 + (doc_id % 3)`` with
    ``seed = doc_id % 50``: 50 visual classes, each appearing at 3
    brightness offsets — near-duplicates an exact byte hash cannot group
    but a perceptual hash must."""
    import numpy as np

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n = AHASH_SIDE * AHASH_SIDE
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                seed, off = d % AHASH_SEEDS, d % 3
                pix = (
                    (seed * PGM_PIX_A + np.arange(n, dtype=np.int64) * PGM_PIX_B)
                    % 253
                    + off
                ).astype(np.uint8)
                payloads.append(
                    f"P5\n{AHASH_SIDE} {AHASH_SIDE}\n255\n".encode() + pix.tobytes()
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return docs.select("doc_id").mapInPandas(gen, schema="doc_id long, payload binary")


def ahash_pgm(pgm_df: DataFrame) -> DataFrame:
    """REAL perceptual hash: parse the P5 payload, 8x8 block-mean
    downsample with INTEGER floor division, threshold each block mean
    against the floor-mean of the 64 block means → a 64-char bit string.
    All-integer, so the oracle can replay the exact hash in SQL, and a
    constant brightness shift provably cancels (block sums shift by 16c,
    the global mean by c — floor division is exact because 16c and 64·16c
    divide evenly)."""
    import numpy as np

    def hsh(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "img_hash": [], "sum_pixels": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                buf = bytes(payload)
                magic, dims, rest = buf.split(b"\n", 2)
                if magic != b"P5":
                    raise ValueError(f"not a P5 PGM: {magic!r}")
                w, h = (int(x) for x in dims.split())
                maxval, pixbytes = rest.split(b"\n", 1)
                if int(maxval) != 255 or len(pixbytes) != w * h or w % 8 or h % 8:
                    raise ValueError("corrupt or non-8-divisible PGM payload")
                pix = np.frombuffer(pixbytes, dtype=np.uint8).astype(np.int64)
                img = pix.reshape(h, w)
                bh, bw = h // 8, w // 8
                bms = img.reshape(8, bh, 8, bw).sum(axis=(1, 3)) // (bh * bw)
                gm = int(bms.sum()) // 64
                bits = (bms >= gm).astype(np.int64).ravel()
                out["doc_id"].append(doc_id)
                out["img_hash"].append("".join(str(int(b)) for b in bits))
                out["sum_pixels"].append(int(pix.sum()))
            yield pd.DataFrame(out)

    return pgm_df.mapInPandas(
        hsh, schema="doc_id long, img_hash string, sum_pixels long"
    )


VAD_THRESHOLD = 1024  # |PCM16 sample| at/above this counts as "voice"


def decode_wav_vad_segments(wav_df: DataFrame) -> DataFrame:
    """REAL decode + run-length DSP: parse the RIFF/WAVE payload (same
    validation as `decode_wav_features`), threshold |sample| >= 1024 into
    an activity mask, and count activity RUNS with numpy edge detection —
    segments, active samples, longest run, all exact integers. The SQL
    oracle finds the same runs by the gaps-and-islands window identity
    over the unnested sample formula, so two INDEPENDENT algorithms must
    agree on every per-document value."""
    import struct

    import numpy as np

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("doc_id", "n_segments", "active_samples",
                                   "longest_run")}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                buf = bytes(payload)
                if buf[:4] != b"RIFF" or buf[8:16] != b"WAVEfmt ":
                    raise ValueError("not a RIFF/WAVE payload")
                if buf[36:40] != b"data":
                    raise ValueError("missing data chunk")
                (data_len,) = struct.unpack("<I", buf[40:44])
                samples = np.frombuffer(buf[44 : 44 + data_len], dtype="<i2").astype(
                    np.int64
                )
                active = (np.abs(samples) >= VAD_THRESHOLD).astype(np.int64)
                edges = np.diff(np.concatenate(([0], active, [0])))
                starts = np.flatnonzero(edges == 1)
                ends = np.flatnonzero(edges == -1)
                runs = ends - starts
                out["doc_id"].append(doc_id)
                out["n_segments"].append(int(len(runs)))
                out["active_samples"].append(int(active.sum()))
                out["longest_run"].append(int(runs.max()) if len(runs) else 0)
            yield pd.DataFrame(out)

    return wav_df.mapInPandas(
        dec,
        schema="doc_id long, n_segments long, active_samples long, "
        "longest_run long",
    )


def resize_pgm_box2x2(pgm_df: DataFrame) -> DataFrame:
    """REAL pixel resize: parse the P5 payload and 2x2 box-downsample with
    INTEGER floor means (numpy reshape-sum), returning the output
    dimensions and integer checksums the SQL oracle can replay from the
    pixel formula. Requires even dimensions (the seeded 32x32 synth)."""
    import numpy as np

    def rsz(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in ("doc_id", "out_w", "out_h", "out_sum",
                                   "out_min", "out_max")}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                buf = bytes(payload)
                magic, dims, rest = buf.split(b"\n", 2)
                if magic != b"P5":
                    raise ValueError(f"not a P5 PGM: {magic!r}")
                w, h = (int(x) for x in dims.split())
                maxval, pixbytes = rest.split(b"\n", 1)
                if int(maxval) != 255 or len(pixbytes) != w * h or w % 2 or h % 2:
                    raise ValueError("corrupt or odd-dimension PGM payload")
                img = np.frombuffer(pixbytes, dtype=np.uint8).astype(np.int64)
                img = img.reshape(h, w)
                small = img.reshape(h // 2, 2, w // 2, 2).sum(axis=(1, 3)) // 4
                out["doc_id"].append(doc_id)
                out["out_w"].append(w // 2)
                out["out_h"].append(h // 2)
                out["out_sum"].append(int(small.sum()))
                out["out_min"].append(int(small.min()))
                out["out_max"].append(int(small.max()))
            yield pd.DataFrame(out)

    return pgm_df.mapInPandas(
        rsz,
        schema="doc_id long, out_w long, out_h long, out_sum long, "
        "out_min long, out_max long",
    )


# --- Probe-gated REAL codec decodes (Pillow / soundfile) --------------------
# When the codec library is importable, these stages run REAL encode→decode round
# trips with formula oracles on synthetic payloads and the matching queries
# register (queries_multimodal registers them conditionally); when absent —
# as in this container — nothing registers and the tests skip cleanly.


def pillow_available() -> bool:
    """True when Pillow is importable (PNG/JPEG encode+decode)."""
    import importlib.util

    return importlib.util.find_spec("PIL") is not None


def soundfile_available() -> bool:
    """True when soundfile/libsndfile is importable (FLAC encode+decode)."""
    import importlib.util

    return importlib.util.find_spec("soundfile") is not None


def png_dims(doc_id: int) -> tuple[int, int]:
    return 10 + doc_id % 7, 5 + doc_id % 6


def jpeg_dims(doc_id: int) -> tuple[int, int]:
    # multiple-of-16 sides: whole MCU blocks, no subsampling edge cases
    return 16 * (1 + doc_id % 4), 16 * (1 + doc_id % 3)


def _formula_rgb(doc_id: int, w: int, h: int):
    """The shared top-down RGB pixel formula (same family as the BMP
    oracle): pixel (p, c) = (doc_id*BMP_A + p*BMP_B + c*BMP_C) % 256."""
    import numpy as np

    idx = np.arange(w * h, dtype=np.int64)
    return (
        np.stack(
            [(doc_id * BMP_A + idx * BMP_B + c * BMP_C) % 256 for c in range(3)],
            axis=1,
        )
        .astype(np.uint8)
        .reshape(h, w, 3)
    )


def synth_png_payload(docs: DataFrame) -> DataFrame:
    """doc_id → a REAL PNG (Pillow-encoded) of the formula RGB image at
    ``png_dims``. PNG is lossless, so the decode stage must reproduce the
    per-channel sums EXACTLY — a full-strength codec round-trip oracle."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io

        from PIL import Image

        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                w, h = png_dims(int(doc_id))
                buf = io.BytesIO()
                Image.fromarray(_formula_rgb(int(doc_id), w, h), "RGB").save(
                    buf, format="PNG"
                )
                payloads.append(buf.getvalue())
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return docs.select("doc_id").mapInPandas(gen, schema="doc_id long, payload binary")


def decode_image_features_pillow(img_df: DataFrame) -> DataFrame:
    """REAL decode via Pillow (any Pillow-readable container): decode the
    payload, convert to RGB, aggregate the same integer-exact per-channel
    features as the codec-free BMP path."""

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io

        import numpy as np
        from PIL import Image

        for pdf in batches:
            out = {k: [] for k in ("doc_id", "width", "height", "n_pixels",
                                   "sum_r", "sum_g", "sum_b", "max_rgb")}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                arr = np.asarray(
                    Image.open(io.BytesIO(bytes(payload))).convert("RGB"),
                    dtype=np.int64,
                )
                h, w = arr.shape[:2]
                out["doc_id"].append(doc_id)
                out["width"].append(w)
                out["height"].append(h)
                out["n_pixels"].append(w * h)
                out["sum_r"].append(int(arr[:, :, 0].sum()))
                out["sum_g"].append(int(arr[:, :, 1].sum()))
                out["sum_b"].append(int(arr[:, :, 2].sum()))
                out["max_rgb"].append(int(arr.max()))
            yield pd.DataFrame(out)

    return img_df.mapInPandas(
        dec,
        schema="doc_id long, width long, height long, n_pixels long, "
        "sum_r long, sum_g long, sum_b long, max_rgb long",
    )


def synth_jpeg_payload(docs: DataFrame) -> DataFrame:
    """doc_id → a REAL JPEG (Pillow-encoded, quality 90) of the formula RGB
    image at ``jpeg_dims``. JPEG is lossy, so only container-level facts
    (dimensions, mode, a decoded-pixel-range sanity bound) are oracle
    material — the pixel sums are NOT asserted."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io

        from PIL import Image

        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                w, h = jpeg_dims(int(doc_id))
                buf = io.BytesIO()
                Image.fromarray(_formula_rgb(int(doc_id), w, h), "RGB").save(
                    buf, format="JPEG", quality=90
                )
                payloads.append(buf.getvalue())
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return docs.select("doc_id").mapInPandas(gen, schema="doc_id long, payload binary")


def decode_image_dims_pillow(img_df: DataFrame) -> DataFrame:
    """REAL decode via Pillow, emitting the lossy-safe facts: container
    format, decoded dimensions, mode, and whether every decoded byte is a
    valid u8 (in_range — trivially true, but it forces a FULL pixel decode
    rather than a header peek)."""

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io

        import numpy as np
        from PIL import Image

        for pdf in batches:
            out = {k: [] for k in ("doc_id", "fmt", "width", "height",
                                   "mode", "in_range")}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                img = Image.open(io.BytesIO(bytes(payload)))
                fmt = img.format
                arr = np.asarray(img.convert("RGB"), dtype=np.int64)
                out["doc_id"].append(doc_id)
                out["fmt"].append(fmt)
                out["width"].append(arr.shape[1])
                out["height"].append(arr.shape[0])
                out["mode"].append(img.mode)
                out["in_range"].append(bool((arr >= 0).all() and (arr <= 255).all()))
            yield pd.DataFrame(out)

    return img_df.mapInPandas(
        dec,
        schema="doc_id long, fmt string, width long, height long, "
        "mode string, in_range boolean",
    )


def synth_flac_payload(docs: DataFrame) -> DataFrame:
    """doc_id → a REAL FLAC (libsndfile-encoded) of the WAV sample formula
    ``((doc_id*31 + i*17) % 4096) - 2048`` at 16 kHz mono PCM16. FLAC is
    lossless, so the decode stage must reproduce the WAV oracle's
    integer-exact loudness features."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io

        import numpy as np
        import soundfile as sf

        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                n = wav_n_samples(int(doc_id))
                samples = (
                    (int(doc_id) * WAV_SAMP_A + np.arange(n, dtype=np.int64) * WAV_SAMP_B)
                    % 4096
                    - 2048
                ).astype(np.int16)
                buf = io.BytesIO()
                sf.write(buf, samples, WAV_RATE, format="FLAC", subtype="PCM_16")
                payloads.append(buf.getvalue())
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return docs.select("doc_id").mapInPandas(gen, schema="doc_id long, payload binary")


def decode_flac_features(flac_df: DataFrame) -> DataFrame:
    """REAL FLAC decode via libsndfile: decompress to PCM16 and aggregate
    the same integer-exact loudness features as the codec-free WAV path."""

    def dec(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import io

        import numpy as np
        import soundfile as sf

        for pdf in batches:
            out = {k: [] for k in ("doc_id", "sample_rate", "n_samples",
                                   "sum_abs", "sum_sq", "peak_abs")}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                samples, rate = sf.read(
                    io.BytesIO(bytes(payload)), dtype="int16"
                )
                s = samples.astype(np.int64)
                out["doc_id"].append(doc_id)
                out["sample_rate"].append(int(rate))
                out["n_samples"].append(len(s))
                out["sum_abs"].append(int(np.abs(s).sum()))
                out["sum_sq"].append(int((s * s).sum()))
                out["peak_abs"].append(int(np.abs(s).max()) if len(s) else 0)
            yield pd.DataFrame(out)

    return flac_df.mapInPandas(
        dec,
        schema="doc_id long, sample_rate long, n_samples long, "
        "sum_abs long, sum_sq long, peak_abs long",
    )
