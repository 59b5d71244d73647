"""Multimodal-column operators for training-data pipelines.

Images / audio / video are carried as opaque ``binary`` payload columns plus
a typed metadata struct — the pattern a 100 TB multimodal corpus uses
(payload bytes stay columnar in Parquet, metadata is queryable without
touching the bytes). Heavy per-item work (decode, resize, feature
extraction) runs as Arrow-batched ``mapInPandas`` stages: binary columns
arrive as zero-copy Arrow buffers, the Python worker processes a whole
batch per call, and the output schema is declared up front so Catalyst can
plan around the stage.

The container ships no codec libraries (PIL / libsndfile / ffmpeg), so the
codec INTERIOR of each stage is a deterministic stand-in, clearly marked
and swappable: `_decode_image_batch` et al. document the real
implementation and raise ``NotImplementedError`` when asked for real
decoding (``real=True``). Everything Spark-side — schema, batching,
partition spreading, null handling, binary-in/binary-out plumbing — is
real and tested.

No analogue exists in the reference (its only payloads are 16-bit Modbus
registers, /root/reference/solarman.py:340-361); this family is part of
the north-star scope (BASELINE.json "multimodal columns").
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..tables import spread
from .dedup import hamming_band_pairs

#: modality is assigned deterministically from doc_id so the DuckDB oracle
#: can replicate the synthesis exactly: 0=image, 1=audio, 2=video.
MODALITIES = ("image", "audio", "video")
MIME = {"image": "image/fake", "audio": "audio/fake", "video": "video/fake"}

#: 4-byte per-modality magic prefix, mirroring real container formats.
MAGIC = {"image": b"IMG0", "audio": b"AUD0", "video": b"VID0"}

PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("modality", T.StringType()),
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType()),
                    T.StructField("n_bytes", T.LongType()),
                ]
            ),
        ),
    ]
)


def attach_payloads(docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Synthesize the multimodal carrier table from `documents`: payload =
    4-byte modality magic + UTF-8 bytes of the text (deterministic, so the
    oracle can recompute n_bytes as 4 + octet_length(text)). Real pipelines
    read this table from Parquet directly; everything downstream only
    assumes (doc_id, modality, payload, meta)."""
    modality = F.element_at(
        F.array(*[F.lit(m) for m in MODALITIES]),
        (F.col(id_col) % 3 + 1).cast("int"),
    )
    magic = F.element_at(
        F.array(*[F.lit(MAGIC[m]) for m in MODALITIES]),
        (F.col(id_col) % 3 + 1).cast("int"),
    )
    payload = F.concat(magic, F.col(text_col).cast("binary"))
    mime = F.element_at(
        F.array(*[F.lit(MIME[m]) for m in MODALITIES]),
        (F.col(id_col) % 3 + 1).cast("int"),
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        modality.alias("modality"),
        payload.alias("payload"),
        F.struct(
            mime.alias("mime"), F.length(payload).cast("bigint").alias("n_bytes")
        ).alias("meta"),
    )


# ---------------------------------------------------------------------------
# image decode (metadata extraction)
# ---------------------------------------------------------------------------

IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("parsed", T.BooleanType()),
    ]
)


def parse_image_header(b: bytes | None) -> tuple[int, int, int] | None:
    """REAL codec-header parsing, stdlib-only: (width, height, channels)
    from PNG / JPEG / GIF / BMP headers, None for anything unrecognized.
    This is the production metadata-extraction path (header-only reads —
    the same bytes PIL's lazy open inspects); full pixel decode stays
    behind the ``real=True`` gate because no codec library ships here."""
    import struct

    if b is None or len(b) < 12:
        return None
    if b[:8] == b"\x89PNG\r\n\x1a\n" and len(b) >= 26 and b[12:16] == b"IHDR":
        w, h = struct.unpack(">II", b[16:24])
        color_type = b[25]
        channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(color_type, 3)
        return w, h, channels
    if b[:3] == b"\xff\xd8\xff":  # JPEG: walk segments to the first SOFn
        i = 2
        while i + 9 < len(b):
            if b[i] != 0xFF:
                i += 1
                continue
            marker = b[i + 1]
            if marker in (0xC0, 0xC1, 0xC2):  # baseline/extended/progressive
                h, w = struct.unpack(">HH", b[i + 5 : i + 9])
                return w, h, b[i + 9]
            if marker in (0x01, 0xD8) or 0xD0 <= marker <= 0xD7:
                i += 2
                continue
            if i + 4 > len(b):
                return None
            i += 2 + struct.unpack(">H", b[i + 2 : i + 4])[0]
        return None
    if b[:6] in (b"GIF87a", b"GIF89a") and len(b) >= 10:
        w, h = struct.unpack("<HH", b[6:10])
        return w, h, 3
    if b[:2] == b"BM" and len(b) >= 26:
        w, h = struct.unpack("<ii", b[18:26])
        return w, abs(h), 3
    return None


def _pil_available() -> bool:
    """True when Pillow is importable — the extras gate for full pixel
    decode (`pip install pillow`; the default container ships without
    it, so `real=True` paths raise NotImplementedError there and the
    deterministic stand-ins run instead)."""
    try:
        import PIL.Image  # noqa: F401

        return True
    except ImportError:
        return False


def _fake_image_dims(n_bytes: "pd.Series") -> tuple["pd.Series", "pd.Series"]:
    """STUB (deterministic stand-in): dimensions derived from payload size.
    A real implementation parses the codec header (e.g. PIL.Image.open on
    a BytesIO over the buffer, reading only the header). Keeping the fake a
    pure function of n_bytes lets the DuckDB oracle verify the whole
    mapInPandas plumbing end-to-end."""
    width = (16 * (1 + n_bytes % 64)).astype("int32")
    height = (16 * (1 + n_bytes % 48)).astype("int32")
    return width, height


def decode_image_meta(payloads: DataFrame, *, real: bool = False) -> DataFrame:
    """Extract (width, height, channels, parsed) for image payloads via an
    Arrow-batched mapInPandas stage. Header parsing is REAL
    (parse_image_header: PNG/JPEG/GIF/BMP, stdlib struct); payloads with
    no recognizable codec header — e.g. the synthetic fixtures — fall back
    to the deterministic stand-in with ``parsed=false``. ``real=True``
    additionally performs FULL pixel decode (PIL.Image.open + load, so a
    corrupt-past-the-header payload is caught, not just header-sniffed);
    it is gated on Pillow being importable (`pip install pillow` — the
    default container ships no codec library) and is exercised by the
    env-gated tests in tests/test_multimodal.py."""
    if real and not _pil_available():
        raise NotImplementedError(
            "full pixel decode needs Pillow (pip install pillow); header "
            "parsing runs regardless — use real=False"
        )

    def _pil_decode(b: bytes | None) -> tuple[int, int, int] | None:
        import io

        from PIL import Image

        if b is None:
            return None
        try:
            with Image.open(io.BytesIO(b)) as img:
                img.load()  # full decode, not a lazy header sniff
                return img.width, img.height, len(img.getbands())
        except Exception:
            return None

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n_bytes = pdf["payload"].map(lambda b: 0 if b is None else len(b)).astype("int64")
            fw, fh = _fake_image_dims(n_bytes)
            parsed = pdf["payload"].map(_pil_decode if real else parse_image_header)
            ok = parsed.notna()
            width = fw.where(~ok, parsed.map(lambda t: t[0] if t else 0)).astype("int32")
            height = fh.where(~ok, parsed.map(lambda t: t[1] if t else 0)).astype("int32")
            channels = (
                pd.Series([3] * len(pdf))
                .where(~ok, parsed.map(lambda t: t[2] if t else 3))
                .astype("int32")
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": n_bytes,
                    "width": width,
                    "height": height,
                    "channels": channels,
                    "parsed": ok.astype("bool"),
                }
            )

    imgs = spread(payloads.filter(F.col("modality") == "image"), "doc_id")
    return imgs.select("doc_id", "payload").mapInPandas(decode, IMAGE_META_SCHEMA)


# ---------------------------------------------------------------------------
# image resize (binary-in / binary-out)
# ---------------------------------------------------------------------------

RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("out_width", T.IntegerType()),
        T.StructField("out_height", T.IntegerType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def resize_images(payloads: DataFrame, *, max_side: int = 256) -> DataFrame:
    """Aspect-preserving resize of image payloads. The scaling arithmetic is
    real; the pixel transform is a STUB that re-emits a truncated payload
    (a real implementation decodes, resamples, and re-encodes in the same
    batch loop). Demonstrates the binary→binary mapInPandas contract."""

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n_bytes = pdf["payload"].map(lambda b: 0 if b is None else len(b)).astype("int64")
            w, h = _fake_image_dims(n_bytes)
            scale = (max_side / pd.concat([w, h], axis=1).max(axis=1)).clip(upper=1.0)
            out_w = (w * scale).round().astype("int32")
            out_h = (h * scale).round().astype("int32")
            out_payload = pdf["payload"].map(
                lambda b: None if b is None else b[: max(4, len(b) // 2)]
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "out_width": out_w,
                    "out_height": out_h,
                    "payload": out_payload,
                }
            )

    imgs = spread(payloads.filter(F.col("modality") == "image"), "doc_id")
    return imgs.select("doc_id", "payload").mapInPandas(resize, RESIZE_SCHEMA)


# ---------------------------------------------------------------------------
# audio feature extraction
# ---------------------------------------------------------------------------

AUDIO_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("sample_rate", T.IntegerType()),
    ]
)

#: ``audio_features(real=True)`` output: duration in exact integer
#: microseconds (floor of n_frames * 1e6 / sample_rate — no float path the
#: oracle could disagree with), plus the decoded channel count and a
#: parsed flag mirroring IMAGE_META_SCHEMA's.
AUDIO_REAL_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("duration_us", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_channels", T.IntegerType()),
        T.StructField("parsed", T.BooleanType()),
    ]
)

_AUDIO_SR = 16_000  # assumed 16 kHz mono s16le for the stand-in duration math


def _soundfile_available() -> bool:
    """True when soundfile (libsndfile) is importable — the extras gate for
    COMPRESSED audio (flac/ogg/…) in ``audio_features(real=True)``. WAV
    needs no gate at all: the stdlib ``wave`` module fully decodes PCM
    RIFF, so the real path always works on WAV payloads."""
    try:
        import soundfile  # noqa: F401

        return True
    except ImportError:
        return False


def decode_wav(b: bytes | None) -> tuple[int, int, int] | None:
    """REAL full WAV decode, stdlib-only (``wave``): returns
    (sample_rate, n_channels, n_frames) after reading and length-checking
    the ACTUAL sample bytes — a payload whose data chunk is torn short of
    what its header promises is rejected (None), not header-sniffed. This
    is the real-codec tier of the audio path, the audio analogue of
    Pillow's ``img.load()`` in decode_image_meta."""
    import io
    import wave

    if b is None or len(b) < 12:
        return None
    try:
        with wave.open(io.BytesIO(bytes(b))) as w:
            sr, nch, width, nframes = (
                w.getframerate(),
                w.getnchannels(),
                w.getsampwidth(),
                w.getnframes(),
            )
            data = w.readframes(nframes)
    except Exception:
        return None
    if sr <= 0 or nch <= 0 or len(data) != nframes * nch * width:
        return None  # header/data mismatch — corrupt past the header
    return sr, nch, nframes


def _soundfile_decode(b: bytes) -> tuple[int, int, int] | None:
    """Compressed-audio decode via soundfile (libsndfile), used by
    ``audio_features(real=True)`` for payloads the stdlib WAV codec
    rejects. Returns (sample_rate, n_channels, n_frames) or None."""
    import io

    import soundfile as sf

    try:
        data, sr = sf.read(io.BytesIO(bytes(b)))
    except Exception:
        return None
    nch = 1 if data.ndim == 1 else int(data.shape[1])
    return int(sr), nch, int(data.shape[0])


def audio_features(payloads: DataFrame, *, real: bool = False) -> DataFrame:
    """Per-clip features over audio payloads via mapInPandas.

    ``real=False`` (default, the oracle-checked registry path): STUB
    interior — duration assumes 16 kHz mono 16-bit samples (2
    bytes/sample) so the DuckDB oracle can recompute it from payload
    length alone.

    ``real=True``: REAL decode with AUDIO_REAL_SCHEMA output. WAV payloads
    are fully decoded by the stdlib ``wave`` codec (decode_wav — samples
    read and length-checked, so corrupt-past-the-header clips are caught);
    non-WAV payloads go to soundfile/libsndfile when importable
    (`pip install soundfile` — the gate mirrors decode_image_meta's
    Pillow gate); anything undecodable falls back to the deterministic
    stand-in with ``parsed=false`` so a mixed corpus still yields a row
    per clip. Exercised end-to-end (genuine stdlib-written WAV bytes →
    this decoder) by the mm_audio_wav_decode registry query and
    tests/test_multimodal.py."""
    if real:
        sf_ok = _soundfile_available()

        def real_feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                n_bytes, dur, srs, nchs, parsed = [], [], [], [], []
                for b in pdf["payload"]:
                    nb = 0 if b is None else len(b)
                    n_bytes.append(nb)
                    got = decode_wav(b)
                    if got is None and sf_ok and b is not None:
                        got = _soundfile_decode(b)
                    if got is not None:
                        sr, nch, nframes = got
                        dur.append(nframes * 1_000_000 // sr)
                        srs.append(sr)
                        nchs.append(nch)
                        parsed.append(True)
                    else:
                        # deterministic stand-in (same math as real=False),
                        # emitted in exact integer microseconds
                        k = max(nb - 4, 0) // 2
                        dur.append((k * 125 + 1) // 2)  # half-up µs, = real=False * 1e6
                        srs.append(_AUDIO_SR)
                        nchs.append(1)
                        parsed.append(False)
                yield pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"],
                        "n_bytes": pd.Series(n_bytes, dtype="int64"),
                        "duration_us": pd.Series(dur, dtype="int64"),
                        "sample_rate": pd.Series(srs, dtype="int32"),
                        "n_channels": pd.Series(nchs, dtype="int32"),
                        "parsed": pd.Series(parsed, dtype="bool"),
                    }
                )

        clips = spread(payloads.filter(F.col("modality") == "audio"), "doc_id")
        return clips.select("doc_id", "payload").mapInPandas(
            real_feats, AUDIO_REAL_SCHEMA
        )

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n_bytes = pdf["payload"].map(lambda b: 0 if b is None else len(b)).astype("int64")
            # duration rounded to 6 dp via exact integer half-up: samples k
            # over 16 kHz is k*62.5 µs-millionths = (k*125 + 1) // 2 — a
            # float ROUND here lands exactly ON .5 boundaries (k=125 →
            # 0.0078125 s) where numpy half-even and the oracle disagree
            k = (n_bytes - 4).clip(lower=0) // 2
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": n_bytes,
                    "duration_s": ((k * 125 + 1) // 2) / 1_000_000.0,
                    "sample_rate": pd.Series([_AUDIO_SR] * len(pdf), dtype="int32"),
                }
            )

    clips = spread(payloads.filter(F.col("modality") == "audio"), "doc_id")
    return clips.select("doc_id", "payload").mapInPandas(feats, AUDIO_FEATURES_SCHEMA)


# ---------------------------------------------------------------------------
# video frame sampling (pure column expressions — no Python needed)
# ---------------------------------------------------------------------------

#: ``sample_frames(real=True)`` output: true container frame index and
#: exact-integer-microsecond timestamp from the container's own frame
#: rate, the sha256 fingerprint of the DECODED frame bytes, the decoded
#: frame geometry, and a decoded flag mirroring IMAGE_META_SCHEMA's
#: parsed flag.
FRAME_REAL_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_ts_us", T.LongType()),
        T.StructField("frame_fingerprint", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("decoded", T.BooleanType()),
    ]
)

#: Y4M colourspace tag → bytes per pixel numerator/denominator.
_Y4M_BPP = {
    b"420": (3, 2),  # C420, C420jpeg, C420paldv, C420mpeg2 — prefix match
    b"422": (2, 1),
    b"444": (3, 1),
    b"mono": (1, 1),
}


def parse_y4m_header(b: bytes | None) -> tuple[int, int, int, int, int, int] | None:
    """REAL YUV4MPEG2 stream-header parse, stdlib-only: returns
    (width, height, fps_num, fps_den, frame_bytes, body_offset) or None
    when the payload isn't Y4M. Y4M is the uncompressed interchange
    format every codec toolchain (ffmpeg/x264/aomenc) speaks — its spec
    is a space-separated ASCII parameter line followed by raw frames, so
    a from-scratch parser is small AND genuinely real."""
    if b is None or not bytes(b[:10]) == b"YUV4MPEG2 ":
        return None
    b = bytes(b)
    nl = b.find(b"\n")
    if nl < 0:
        return None
    w = h = None
    num, den = 30, 1
    bpp_num, bpp_den = _Y4M_BPP[b"420"]  # spec default colourspace
    try:
        for tok in b[10:nl].split(b" "):
            if not tok:
                continue
            tag, val = tok[:1], tok[1:]
            if tag == b"W":
                w = int(val)
            elif tag == b"H":
                h = int(val)
            elif tag == b"F":
                num, den = (int(x) for x in val.split(b":"))
            elif tag == b"C":
                for key, bpp in _Y4M_BPP.items():
                    if val.startswith(key):
                        bpp_num, bpp_den = bpp
                        break
                else:
                    return None  # unknown colourspace — refuse, don't guess
    except ValueError:
        return None
    if not w or not h or w <= 0 or h <= 0 or num <= 0 or den <= 0:
        return None
    return w, h, num, den, (w * h * bpp_num) // bpp_den, nl + 1


def demux_y4m(b: bytes | None) -> tuple[int, int, int, int, list[bytes]] | None:
    """REAL Y4M demux: returns (width, height, fps_num, fps_den,
    [frame_bytes, ...]) with every frame's raw planes length-checked
    against the header geometry — a torn final frame or a missing FRAME
    marker rejects the whole payload (None), the video analogue of
    decode_wav's corrupt-past-the-header check."""
    hdr = parse_y4m_header(b)
    if hdr is None:
        return None
    w, h, num, den, fsize, off = hdr
    b = bytes(b)
    frames: list[bytes] = []
    i = off
    while i < len(b):
        if b[i : i + 5] != b"FRAME":
            return None
        nl = b.find(b"\n", i)
        if nl < 0 or nl + 1 + fsize > len(b):
            return None
        frames.append(b[nl + 1 : nl + 1 + fsize])
        i = nl + 1 + fsize
    return w, h, num, den, frames


def _av_available() -> bool:
    """True when PyAV (ffmpeg bindings) is importable — the extras gate
    for COMPRESSED video containers (mp4/webm/…) in
    ``sample_frames(real=True)``. Y4M needs no gate: the from-scratch
    demuxer above handles the uncompressed interchange format."""
    try:
        import av  # noqa: F401

        return True
    except ImportError:
        return False


def _av_decode_frames(b: bytes) -> tuple[int, int, int, int, list[bytes]] | None:
    """Compressed-video decode via PyAV, same return shape as demux_y4m.
    Frame bytes are the decoded grayscale plane so fingerprints are
    pixel-derived, not container-derived."""
    import io

    import av

    try:
        with av.open(io.BytesIO(bytes(b))) as container:
            stream = container.streams.video[0]
            rate = stream.average_rate or stream.guessed_rate
            num, den = (int(rate.numerator), int(rate.denominator)) if rate else (30, 1)
            frames = [
                f.to_ndarray(format="gray").tobytes()
                for f in container.decode(stream)
            ]
            if not frames:
                return None
            return int(stream.width), int(stream.height), num, den, frames
    except Exception:
        return None


def sample_frames(
    payloads: DataFrame, *, fps: float = 4.0, max_frames: int = 8, real: bool = False
) -> DataFrame:
    """Explode each video payload into sampled-frame rows.

    ``real=True`` switches to a REAL demuxer inside one Arrow-batched
    mapInPandas stage (FRAME_REAL_SCHEMA output): Y4M payloads are
    demuxed by the from-scratch stdlib parser (demux_y4m — raw planes
    length-checked against the header); non-Y4M containers go to
    PyAV/ffmpeg when importable (the gate mirrors decode_image_meta's
    Pillow gate); undecodable payloads fall back to the deterministic
    stand-in arithmetic with ``decoded=false``. Frames beyond
    ``max_frames`` are stride-sampled at the container's OWN frame rate
    (frame_ts_us = true_idx * den * 1e6 // num, exact integers) and the
    fingerprint is sha256 of the DECODED frame bytes. Exercised
    end-to-end (genuine Y4M streams → this demuxer) by the
    mm_video_y4m_frames registry query and tests/test_multimodal.py."""
    if real:
        av_ok = _av_available()

        def real_sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            import hashlib

            for pdf in batches:
                out: dict[str, list] = {k.name: [] for k in FRAME_REAL_SCHEMA}
                for doc_id, b in zip(pdf["doc_id"], pdf["payload"]):
                    got = demux_y4m(b)
                    if got is None and av_ok and b is not None:
                        got = _av_decode_frames(b)
                    if got is not None:
                        w, h, num, den, frames = got
                        n = len(frames)
                        take = (
                            range(n)
                            if n <= max_frames
                            else [j * n // max_frames for j in range(max_frames)]
                        )
                        for idx in take:
                            out["doc_id"].append(doc_id)
                            out["frame_idx"].append(idx)
                            out["frame_ts_us"].append(idx * den * 1_000_000 // num)
                            out["frame_fingerprint"].append(
                                hashlib.sha256(frames[idx]).hexdigest()
                            )
                            out["width"].append(w)
                            out["height"].append(h)
                            out["decoded"].append(True)
                    else:
                        # deterministic stand-in (same arithmetic as the
                        # default pure-expression path)
                        nb = 0 if b is None else len(b)
                        for idx in range(1 + nb % max_frames):
                            out["doc_id"].append(doc_id)
                            out["frame_idx"].append(idx)
                            out["frame_ts_us"].append(int(idx / fps * 1_000_000))
                            out["frame_fingerprint"].append(
                                hashlib.sha256(f"{doc_id}:{idx}".encode()).hexdigest()
                            )
                            out["width"].append(0)
                            out["height"].append(0)
                            out["decoded"].append(False)
                yield pd.DataFrame(
                    {
                        "doc_id": pd.Series(out["doc_id"], dtype="int64"),
                        "frame_idx": pd.Series(out["frame_idx"], dtype="int32"),
                        "frame_ts_us": pd.Series(out["frame_ts_us"], dtype="int64"),
                        "frame_fingerprint": pd.Series(
                            out["frame_fingerprint"], dtype="object"
                        ),
                        "width": pd.Series(out["width"], dtype="int32"),
                        "height": pd.Series(out["height"], dtype="int32"),
                        "decoded": pd.Series(out["decoded"], dtype="bool"),
                    }
                )

        vids = spread(payloads.filter(F.col("modality") == "video"), "doc_id")
        return vids.select("doc_id", "payload").mapInPandas(
            real_sample, FRAME_REAL_SCHEMA
        )
    return _sample_frames_expr(payloads, fps=fps, max_frames=max_frames)


def _sample_frames_expr(payloads: DataFrame, *, fps: float = 4.0, max_frames: int = 8) -> DataFrame:
    """Explode each video payload into sampled-frame rows. Frame COUNT and
    timestamps are real arithmetic (n_frames = 1 + n_bytes mod max_frames,
    ts = idx / fps); the frame fingerprint stands in for decoded frame
    bytes (a real sampler runs the demuxer inside mapInPandas — see
    decode_image_meta for the batch pattern). Pure expressions: sequence +
    posexplode keeps this stage in whole-stage codegen, one scan, no
    Python."""
    vids = payloads.filter(F.col("modality") == "video")
    n_frames = (F.lit(1) + F.col("meta.n_bytes") % max_frames).cast("int")
    frames = vids.select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.posexplode(F.sequence(F.lit(0), n_frames - 1)).alias("frame_idx", "_"),
    )
    return frames.select(
        "doc_id",
        F.col("frame_idx"),
        F.round(F.col("frame_idx") / F.lit(fps), 4).alias("frame_ts_s"),
        F.sha2(
            F.concat_ws(":", F.col("doc_id"), F.col("frame_idx")), 256
        ).alias("frame_fingerprint"),
    )


# ---------------------------------------------------------------------------
# genuine-media synthesis (deterministic, oracle-replayable)
# ---------------------------------------------------------------------------


def make_wav(samples: bytes, *, sample_rate: int = 8000) -> bytes:
    """A GENUINE mono s16le PCM WAV built by the stdlib ``wave`` writer —
    canonical 44-byte RIFF header + the sample bytes (truncated to whole
    16-bit frames). Decodable by any audio toolchain, no codec library
    needed to write it (the audio analogue of the tests' stdlib-built
    PNG)."""
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(samples[: len(samples) // 2 * 2])
    return buf.getvalue()


def make_y4m(doc_id: int, n_frames: int, *, width: int = 4, height: int = 4) -> bytes:
    """A GENUINE YUV4MPEG2 stream at 4 fps, C420: spec header line +
    ``n_frames`` raw 4:2:0 frames, frame i filled with the printable byte
    32 + (doc_id*7 + i) % 95 — so a SQL oracle can recompute each frame's
    sha256 as sha256(repeat(chr(fill), w*h*3/2))."""
    hdr = f"YUV4MPEG2 W{width} H{height} F4:1 Ip A1:1 C420jpeg\n".encode()
    fsize = width * height * 3 // 2
    body = b"".join(
        b"FRAME\n" + bytes([32 + (doc_id * 7 + i) % 95]) * fsize
        for i in range(n_frames)
    )
    return hdr + body


def synthesize_wav_payloads(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Carrier table of GENUINE WAV payloads for the audio rows
    (doc_id % 3 == 1, matching attach_payloads' modality assignment):
    the clip's samples are the document's UTF-8 text bytes, so the
    decoded n_frames — and with it duration_us — is oracle-recomputable
    as octet_length(text) // 2 at 8 kHz."""

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                make_wav(t.encode("utf-8")) for t in pdf[text_col].astype(str)
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "modality": "audio",
                    "payload": payloads,
                    "n_bytes": pd.Series([len(p) for p in payloads], dtype="int64"),
                }
            )

    audio_docs = spread(docs.filter(F.col(id_col) % 3 == 1), id_col)
    carrier = audio_docs.select(id_col, text_col).mapInPandas(
        synth, "doc_id long, modality string, payload binary, n_bytes long"
    )
    return carrier.select(
        "doc_id",
        "modality",
        "payload",
        F.struct(F.lit("audio/wav").alias("mime"), F.col("n_bytes")).alias("meta"),
    )


def synthesize_y4m_payloads(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Carrier table of GENUINE Y4M payloads for the video rows
    (doc_id % 3 == 2): n_frames = 1 + octet_length(text) % 8 (the same
    count law as the stand-in path) with deterministic frame fills, so
    the oracle recomputes every decoded frame fingerprint."""

    def synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [
                make_y4m(int(d), 1 + len(t.encode("utf-8")) % 8)
                for d, t in zip(pdf[id_col], pdf[text_col].astype(str))
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "modality": "video",
                    "payload": payloads,
                    "n_bytes": pd.Series([len(p) for p in payloads], dtype="int64"),
                }
            )

    video_docs = spread(docs.filter(F.col(id_col) % 3 == 2), id_col)
    carrier = video_docs.select(id_col, text_col).mapInPandas(
        synth, "doc_id long, modality string, payload binary, n_bytes long"
    )
    return carrier.select(
        "doc_id",
        "modality",
        "payload",
        F.struct(F.lit("video/y4m").alias("mime"), F.col("n_bytes")).alias("meta"),
    )


# ---------------------------------------------------------------------------
# perceptual hash (image near-dup tier)
# ---------------------------------------------------------------------------

PHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("phash", T.LongType()),
    ]
)


def image_phash(payloads: DataFrame, *, real: bool = False) -> DataFrame:
    """64-bit perceptual hash per image payload — the image near-dup
    dedup tier (pHash): lowpass block → 2-D DCT-II → median threshold on
    the 63 AC coefficients → bit pack. The DCT, median thresholding, and
    packing are the REAL algorithm (batched numpy inside one Arrow
    mapInPandas stage); only the pixel source is the documented stand-in
    — an 8×8 byte-bigram histogram of the payload, which is
    locality-preserving (near-identical payloads → near-equal histograms
    → small Hamming distance), so downstream banding behaves like it
    would on real lowpassed pixels. ``real=True`` decodes ACTUAL pixels
    (PIL: grayscale + 8×8 lowpass resize) and feeds them to the
    IDENTICAL DCT/median/pack path; it is gated on Pillow being
    importable (`pip install pillow`), with undecodable payloads
    falling back to the histogram stand-in so a mixed corpus still
    hashes every row."""
    if real and not _pil_available():
        raise NotImplementedError(
            "pixel decode needs Pillow (pip install pillow); the "
            "deterministic histogram stand-in runs with real=False"
        )

    def ph(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        n = 8
        dct = np.cos(
            np.pi / n * (np.arange(n)[None, :] + 0.5) * np.arange(n)[:, None]
        )
        weights = 1 << np.arange(64, dtype=np.uint64)

        def histogram_block(arr: "np.ndarray") -> "np.ndarray":
            # bucket by value mod 8 (NOT //32: ASCII text bytes all
            # share a few high-order buckets, which collapses the
            # histogram to one cell and every hash to one value)
            m = np.zeros((n, n))
            np.add.at(m, (arr[:-1] % 8, arr[1:] % 8), 1.0)
            return m

        def pixel_block(b: bytes) -> "np.ndarray | None":
            import io

            from PIL import Image

            # Pillow >= 9.1 moved resampling constants to Image.Resampling
            resample = getattr(getattr(Image, "Resampling", Image), "BILINEAR")
            try:
                with Image.open(io.BytesIO(b)) as img:
                    small = img.convert("L").resize((n, n), resample)
                    return np.asarray(small, dtype=np.float64)
            except Exception:
                return None

        for pdf in batches:
            hashes = []
            for b in pdf["payload"]:
                if b is None or len(b) < 2:
                    hashes.append(0)
                    continue
                m = pixel_block(b) if real else None
                if m is None:
                    m = histogram_block(np.frombuffer(b, dtype=np.uint8))
                flat = (dct @ m @ dct.T).ravel()
                med = np.median(flat[1:])
                bits = np.zeros(64, dtype=np.uint64)
                bits[1:] = flat[1:] > med
                h = int((bits * weights).sum(dtype=np.uint64))
                hashes.append(h - (1 << 64) if h >= (1 << 63) else h)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "phash": pd.Series(hashes, dtype="int64")}
            )

    imgs = spread(payloads.filter(F.col("modality") == "image"), "doc_id")
    return imgs.select("doc_id", "payload").mapInPandas(ph, PHASH_SCHEMA)


def phash_near_dup_pairs(
    payloads: DataFrame, *, max_hamming: int = 6, real: bool = False
) -> DataFrame:
    """Perceptual-hash image near-dup pairs: 64-bit pHash per payload
    (image_phash) through dedup.hamming_band_pairs — four 16-bit bands,
    in-bucket pair expansion over fine-grained 2^16 buckets (so the array
    expansion never concentrates), exact popcount Hamming <=
    max_hamming. The banding guarantees recall for pairs at
    Hamming <= 3 (pigeonhole over 4 bands) and catches most below
    max_hamming; random band collisions add a ~N²·4/2^17 candidate
    floor, each candidate costing one JVM bit_count — measured
    near-linear wall-clock on the planted-payload natural corpus
    (bench_records/r7_zipf_scaling.json)."""
    return hamming_band_pairs(image_phash(payloads, real=real), "phash", max_hamming)
