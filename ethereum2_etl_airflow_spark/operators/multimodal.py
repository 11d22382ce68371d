"""Multimodal column plumbing (SURVEY §2.9 X5).

Image/audio/video payloads are opaque ``BinaryType`` columns with a typed
metadata struct alongside — the Spark-native layout for multimodal
training data (binary stays columnar in parquet; metadata predicates
prune without touching payload bytes).

The Spark-side plumbing here is real and tested: schema, batching,
``mapInPandas`` signature, partition sizing.  Decoding is tiered:
binary-PPM images decode for REAL with a pure-stdlib parser (no
external codec — X5's decode path is fully exercisable in this
container, end-to-end tested through the Arrow stage); PCM16 WAV audio
and raw YUV4MPEG2 (Y4M) video decode for real the same way (stdlib
``wave`` / a ~40-line header+planes parser); other image mimes decode
via a soft-imported PIL where available; COMPRESSED audio/video codecs
stay honestly stubbed behind a clearly-marked ``NotImplementedError``
where torchaudio / ffmpeg would plug in; octet-stream uses a
deterministic byte-derived fake so plumbing tests run hermetically.

Scale notes: payload partitions should target ~128 MB of *bytes* (so
``spark.sql.files.maxPartitionBytes`` governs, not row counts); feature
extraction is a pure map stage — zero shuffle; Arrow moves each batch to
Python once, so batch size (``spark.sql.execution.arrow.maxRecordsPerBatch``)
is the only Python-boundary knob that matters.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from ..functions.layout import ensure_parallelism

__all__ = ["MEDIA_SCHEMA", "FEATURE_SCHEMA", "FRAME_SCHEMA",
           "AUDIO_SCHEMA", "VIDEO_FRAME_SCHEMA", "attach_binary_payload",
           "read_media_dir", "decode_stub", "extract_features",
           "extract_features_arrow", "extract_audio_features",
           "sample_frames", "make_ppm", "make_wav", "make_mulaw_wav",
           "make_y4m", "sample_y4m_frames"]

#: payload + typed metadata layout for a multimodal table
MEDIA_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("payload", T.BinaryType()),
    T.StructField("meta", T.StructType([
        T.StructField("mime", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ])),
])

# feature_sum = sum of the first 256 pixels' luminance in row-major
# order (fixed-cost fingerprint; see decode_stub docstring) — NOT a
# full-image sum.
FEATURE_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("head_hex", T.StringType()),
    T.StructField("n_frames", T.IntegerType()),
    T.StructField("feature_sum", T.LongType()),
])


def attach_binary_payload(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Derive a multimodal-shaped table from the documents fixture: the
    UTF-8 bytes stand in for an opaque media payload, with real metadata
    (mime tag + byte length).  At ingest time the same shape comes from
    ``spark.read.format(\"binaryFile\")`` or parquet with a binary column."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return docs.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.octet_length(F.col(text_col)).cast("long").alias("n_bytes"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
        ).alias("meta"),
    )


def read_media_dir(spark, path: str, glob: str = "*",
                   mime: str = "application/octet-stream") -> DataFrame:
    """X5 ingest path: raw media files → the MEDIA_SCHEMA shape via
    Spark's ``binaryFile`` source (content + path/length/modTime
    metadata; splits never break a file).  ``doc_id`` is the xxhash64 of
    the file path — stable across reruns and cluster layouts.  Note:
    Spark's binaryFile source omits zero-byte files (observed behavior)."""
    df = (spark.read.format("binaryFile")
          .option("pathGlobFilter", glob).load(path))
    return df.select(
        F.xxhash64("path").alias("doc_id"),
        F.col("content").alias("payload"),
        F.struct(
            F.lit(mime).alias("mime"),
            F.col("length").cast("long").alias("n_bytes"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
        ).alias("meta"),
    )


def _pil_image():
    """Soft import: the image codec when the environment has one."""
    try:
        from PIL import Image
        return Image
    except ImportError:
        return None


def _decode_ppm(payload: bytes) -> tuple[int, int, bytes]:
    """Minimal binary-PPM (P6) parser: returns (width, height, rgb
    bytes).  Raises ValueError on malformed input — surfaced per-row by
    the Arrow stage like any codec error would be."""
    if not payload.startswith(b"P6"):
        raise ValueError("not a P6 PPM payload")
    fields: list[bytes] = []
    i = 2
    while len(fields) < 3:
        while i < len(payload) and payload[i:i + 1].isspace():
            i += 1
        if payload[i:i + 1] == b"#":           # comment to end of line
            while i < len(payload) and payload[i:i + 1] != b"\n":
                i += 1
            continue
        j = i
        while j < len(payload) and not payload[j:j + 1].isspace():
            j += 1
        fields.append(payload[i:j])
        i = j
    i += 1  # single whitespace after maxval
    w, h, maxval = (int(x) for x in fields)
    if maxval != 255:
        raise ValueError(f"unsupported maxval {maxval}")
    rgb = payload[i:i + 3 * w * h]
    if len(rgb) != 3 * w * h:
        raise ValueError("truncated PPM raster")
    return w, h, rgb


def make_ppm(width: int, height: int, seed: int = 0) -> bytes:
    """Deterministic little P6 image for tests/fixtures: pixel (x, y)
    has R=(x+seed)%256, G=(y+seed)%256, B=(x*y+seed)%256."""
    raster = bytearray()
    for y in range(height):
        for x in range(width):
            raster += bytes(((x + seed) % 256, (y + seed) % 256,
                             (x * y + seed) % 256))
    return b"P6\n%d %d\n255\n" % (width, height) + bytes(raster)


def make_wav(n_frames: int, seed: int = 0, framerate: int = 8000) -> bytes:
    """Deterministic little PCM16 mono WAV for tests/fixtures: sample k
    is ``((k * 2029 + seed * 151) % 65536) - 32768`` — closed-form in
    (k, seed), so every decoded statistic is re-derivable in pure SQL
    (see ``ORACLE_MM_WAV``)."""
    import io
    import struct
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(framerate)
        samples = [((k * 2029 + seed * 151) % 65536) - 32768
                   for k in range(n_frames)]
        w.writeframes(struct.pack(f"<{n_frames}h", *samples))
    return buf.getvalue()


def make_mulaw_wav(n_frames: int, seed: int = 0,
                   framerate: int = 8000) -> bytes:
    """Deterministic G.711 µ-law mono WAV for tests/fixtures: encoded
    byte k is ``(k * 37 + seed * 11) % 256`` — closed-form, and the
    µ-law expansion itself is pure integer bit math, so decoded
    statistics are re-derivable in SQL (see ``ORACLE_MM_MULAW``).
    Container written by hand: stdlib ``wave`` is PCM-only, and a
    µ-law RIFF is just fmt(audio_format=7, 8-bit) + data."""
    import struct

    data = bytes((k * 37 + seed * 11) % 256 for k in range(n_frames))
    fmt = struct.pack("<HHIIHH", 7, 1, framerate, framerate, 1, 8)
    body = (b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _mulaw_expand(u: int) -> int:
    """G.711 µ-law byte → linear PCM16 sample (the ITU-T decode table
    as its closed-form: complement, then ``(((m<<3)+0x84)<<e)-0x84``
    with the sign bit applied) — range ±32124, matching the classic
    ``audioop.ulaw2lin(.., 2)`` (removed from the stdlib in 3.13)."""
    u = ~u & 0xFF
    e = (u >> 4) & 0x07
    m = u & 0x0F
    mag = (((m << 3) + 0x84) << e) - 0x84
    return -mag if u & 0x80 else mag


def _decode_mulaw_wav(payload: bytes) -> tuple[int, int, list[int]]:
    """Pure-stdlib G.711 µ-law WAV decode: hand-parsed RIFF chunks
    (stdlib ``wave`` raises on non-PCM formats) + the
    :func:`_mulaw_expand` companding expansion per byte.  Returns
    ``(framerate, n_frames, samples)`` like :func:`_decode_wav`."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    framerate = None
    data = None
    i = 12
    while i + 8 <= len(payload):
        tag = payload[i:i + 4]
        (size,) = struct.unpack("<I", payload[i + 4:i + 8])
        body = payload[i + 8:i + 8 + size]
        if tag == b"fmt ":
            audio_format, channels, framerate = struct.unpack(
                "<HHI", body[:8])
            if audio_format != 7 or channels != 1:
                raise ValueError(
                    f"not mono µ-law (format={audio_format}, "
                    f"channels={channels})")
        elif tag == b"data":
            data = body
        i += 8 + size + (size & 1)  # chunks are word-aligned
    if framerate is None or data is None:
        raise ValueError("missing fmt/data chunk")
    return framerate, len(data), [_mulaw_expand(b) for b in data]


def _decode_wav(payload: bytes) -> tuple[int, int, list[int]]:
    """Pure-stdlib WAV decode (the audio analogue of :func:`_decode_ppm`
    — a REAL decode path with no external codec): returns
    ``(framerate, n_frames, samples)`` for PCM16, explicitly
    little-endian so the result is host-order-independent.  Stereo
    payloads yield interleaved samples (n_frames counts frames, the
    sample list has n_frames * n_channels entries)."""
    import io
    import struct
    import wave

    with wave.open(io.BytesIO(payload), "rb") as w:
        if w.getsampwidth() != 2:
            raise ValueError(
                f"unsupported sample width {w.getsampwidth()} (PCM16 only)")
        framerate = w.getframerate()
        n_frames = w.getnframes()
        raw = w.readframes(n_frames)
    n = len(raw) // 2
    return framerate, n_frames, list(struct.unpack(f"<{n}h", raw))


def make_y4m(width: int, height: int, n_frames: int,
             seed: int = 0) -> bytes:
    """Deterministic little YUV4MPEG2 (Y4M) clip for tests/fixtures —
    mono colourspace (luma plane only, part of the Y4M spec), so every
    pixel is closed-form: frame t, pixel (x, y) has luma
    ``(x + 3·y + 7·t + seed) % 256`` — re-derivable in pure SQL (see
    ``ORACLE_MM_Y4M``)."""
    out = bytearray(b"YUV4MPEG2 W%d H%d F25:1 Ip A1:1 Cmono\n"
                    % (width, height))
    for t in range(n_frames):
        out += b"FRAME\n"
        out += bytes((x + 3 * y + 7 * t + seed) % 256
                     for y in range(height) for x in range(width))
    return bytes(out)


def _decode_y4m(payload: bytes) -> tuple[int, int, list[bytes]]:
    """Pure-stdlib YUV4MPEG2 decode (the video analogue of
    :func:`_decode_ppm` — a REAL decode path, no external codec): Y4M
    is a space-delimited ASCII header plus raw uncompressed planes per
    ``FRAME`` marker.  Returns ``(width, height, [luma_plane, ...])``
    — the luma (Y) plane of every frame; chroma planes of 4:2:0
    variants are skipped over but not returned.  Raises ValueError on
    malformed input or unsupported colourspaces (compressed codecs
    stay behind the :func:`decode_stub` NotImplementedError)."""
    if not payload.startswith(b"YUV4MPEG2"):
        raise ValueError("not a YUV4MPEG2 payload")
    nl = payload.index(b"\n")
    w = h = None
    colour = "420jpeg"  # the spec's default when no C tag is present
    for p in payload[:nl].split(b" ")[1:]:
        if p[:1] == b"W":
            w = int(p[1:])
        elif p[:1] == b"H":
            h = int(p[1:])
        elif p[:1] == b"C":
            colour = p[1:].decode("ascii")
    if w is None or h is None:
        raise ValueError("missing W/H in Y4M header")
    if colour == "mono":
        fsize = w * h
    elif colour in ("420", "420jpeg", "420mpeg2", "420paldv"):
        fsize = w * h + 2 * ((w // 2) * (h // 2))
    elif colour == "444":
        fsize = 3 * w * h
    else:
        raise ValueError(f"unsupported Y4M colourspace C{colour}")
    frames: list[bytes] = []
    i = nl + 1
    while i < len(payload):
        j = payload.index(b"\n", i)
        if payload[i:i + 5] != b"FRAME":
            raise ValueError("bad FRAME marker")
        i = j + 1
        if len(payload) - i < fsize:
            raise ValueError("truncated Y4M frame")
        frames.append(bytes(payload[i:i + w * h]))
        i += fsize
    return w, h, frames


#: real-frame sampling output: all-integer per-frame luma statistics so
#: a SQL oracle can re-derive every row; luma_256 follows the same
#: first-256-values cap convention as the image feature_sum.
VIDEO_FRAME_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("n_frames", T.IntegerType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("luma_sum", T.LongType()),
    T.StructField("luma_256", T.LongType()),
])


def sample_y4m_frames(media: DataFrame, target: int = 4) -> DataFrame:
    """REAL frame sampling for Y4M video payloads: decode the container
    (:func:`_decode_y4m`), pick ``target`` evenly-strided frames per
    clip (every ``ceil(n_frames/target)``-th, frame 0 always included
    — same stride contract as :func:`sample_frames`), and emit one row
    of exact-integer luma statistics per sampled frame.  This is the
    decode→frame-sample stage of a video training pipeline with the
    frame boundaries coming from the container itself, not a byte
    window.

    Pure map stage (no shuffle); fan-out ≤ ``target`` rows per clip.
    Compressed containers (mp4 etc.) still raise — only raw Y4M decodes
    in-container; a real deployment swaps :func:`_decode_y4m` for a
    pyav demux with the same schema."""
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for d, p in zip(pdf["doc_id"], pdf["payload"]):
                w, h, frames = _decode_y4m(p)
                n = len(frames)
                if n == 0:
                    continue
                stride = -(-n // target)  # ceil
                for idx in range(0, n, stride):
                    y = frames[idx]
                    rows.append((int(d), idx, n, w, h,
                                 sum(y), sum(y[:256])))
            yield pd.DataFrame(rows, columns=[f.name for f in
                                              VIDEO_FRAME_SCHEMA.fields])

    flat = ensure_parallelism(media.select("doc_id", "payload"))
    return flat.mapInPandas(run, schema=VIDEO_FRAME_SCHEMA)


#: decoded-audio statistics: duration/peak/energy as exact integers so
#: a SQL oracle can re-derive them; sumsq_256 follows the same
#: first-256-samples cap convention as the image feature_sum.
AUDIO_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("n_frames", T.LongType()),
    T.StructField("framerate", T.IntegerType()),
    T.StructField("duration_ms", T.LongType()),
    T.StructField("peak_abs", T.IntegerType()),
    T.StructField("sumsq_256", T.LongType()),
])


def extract_audio_features(media: DataFrame) -> DataFrame:
    """Arrow-batched PCM stats over WAV payloads via ``mapInPandas`` —
    the audio decode stage, same shape as :func:`extract_features`:
    duration from the header, peak = max(|sample|) over the whole
    clip, energy = sum of squares of the FIRST 256 samples (fixed-cost
    fingerprint, mirroring the image 256-pixel cap).  All integers, so
    the mm_wav check verifies VALUES against a closed-form SQL oracle."""
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import wave

        for pdf in batches:
            feats = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                try:
                    fr, nf, samples = _decode_wav(payload)
                except wave.Error:
                    # stdlib wave is PCM-only; G.711 µ-law RIFFs take
                    # the hand-parsed companding path
                    fr, nf, samples = _decode_mulaw_wav(payload)
                feats.append({
                    "doc_id": int(doc_id),
                    "n_bytes": len(payload),
                    "n_frames": nf,
                    "framerate": fr,
                    "duration_ms": nf * 1000 // fr,
                    "peak_abs": max((abs(s) for s in samples), default=0),
                    "sumsq_256": sum(s * s for s in samples[:256]),
                })
            # columns= (not post-hoc [[...]] selection): a zero-row
            # batch yields pd.DataFrame([]) with NO columns, and the
            # column selection would KeyError — explicit columns give
            # an empty typed frame instead
            yield pd.DataFrame(feats,
                               columns=[f.name for f in
                                        AUDIO_SCHEMA.fields])

    flat = ensure_parallelism(media.select("doc_id", "payload"))
    return flat.mapInPandas(run, schema=AUDIO_SCHEMA)


def decode_stub(payload: bytes, mime: str) -> dict:
    """Decoder seam.  ``image/*`` decodes via PIL when importable
    (soft import — executors without the lib fall through to the typed
    stub error); audio/video stay honestly stubbed (torchaudio / pyav
    absent from this container); other mimes use the deterministic
    byte-derived fake so plumbing tests run hermetically.

    ``feature_sum`` convention (all image paths, PPM and PIL alike):
    the sum of the luminance / grayscale values of the FIRST 256 pixels
    in row-major order — a fixed-cost content fingerprint whose cost
    does not grow with image size, NOT a full-image sum.  Oracles
    checking ``feature_sum`` must encode the same 256-pixel cap (see
    ``ORACLE_MM_PPM``), or they only agree on images ≤ 256 px."""
    if mime == "image/x-portable-pixmap":
        # pure-stdlib decode: binary PPM (P6) is a whitespace-delimited
        # header + raw RGB24 — a REAL image decode path that needs no
        # external codec, so X5 is fully exercisable in any container
        w, h, pixels = _decode_ppm(payload)
        lum = [(pixels[i] * 299 + pixels[i + 1] * 587
                + pixels[i + 2] * 114) // 1000
               for i in range(0, min(len(pixels), 3 * 256), 3)]
        return {
            "n_bytes": len(payload),
            "head_hex": payload[:16].hex(),
            "n_frames": 1,
            "feature_sum": int(sum(lum)),
        }
    if mime.startswith("image/"):
        Image = _pil_image()
        if Image is None:
            raise NotImplementedError(
                f"codec for {mime!r} not available in this environment; "
                "install Pillow to enable the image decode path")
        import io

        with Image.open(io.BytesIO(payload)) as img:
            n_frames = int(getattr(img, "n_frames", 1))
            gray = img.convert("L")
            px = list(gray.getdata())
        return {
            "n_bytes": len(payload),
            "head_hex": payload[:16].hex(),
            "n_frames": n_frames,
            "feature_sum": int(sum(px[:256])),
        }
    if mime in ("audio/wav", "audio/x-wav", "audio/wave"):
        # pure-stdlib decode (wave module) — the audio tier is REAL,
        # like PPM for images; feature_sum follows the 256-cap
        # convention (sum of |sample| over the first 256 samples)
        _, nf, samples = _decode_wav(payload)
        return {
            "n_bytes": len(payload),
            "head_hex": payload[:16].hex(),
            "n_frames": nf,
            "feature_sum": sum(abs(s) for s in samples[:256]),
        }
    if mime in ("video/x-yuv4mpeg", "video/yuv4mpeg2"):
        # pure-stdlib decode — the video tier is REAL for raw Y4M, like
        # PPM for images and WAV for audio; feature_sum follows the
        # 256-cap convention (sum of frame 0's first 256 luma values)
        _, _, frames = _decode_y4m(payload)
        return {
            "n_bytes": len(payload),
            "head_hex": payload[:16].hex(),
            "n_frames": len(frames),
            "feature_sum": int(sum(frames[0][:256])) if frames else 0,
        }
    if mime in ("audio/basic", "audio/x-mulaw"):
        # pure-stdlib G.711 µ-law decode — a real COMPANDED-codec path
        # (hand-parsed RIFF + the ITU-T expansion in _mulaw_expand)
        _, nf, samples = _decode_mulaw_wav(payload)
        return {
            "n_bytes": len(payload),
            "head_hex": payload[:16].hex(),
            "n_frames": nf,
            "feature_sum": sum(abs(s) for s in samples[:256]),
        }
    if mime.startswith(("audio/", "video/")):
        # Real decode path: torchaudio.load / pyav demux — not in this
        # container; plug the real decoder in here.  (PCM WAV, G.711
        # µ-law, and raw Y4M decode for real above; this covers
        # perceptually-compressed codecs — mp3/aac/h264 — only.)
        raise NotImplementedError(
            f"codec for {mime!r} not available in this environment; "
            "plug the real decoder into decode_stub()")
    # octet-stream fake: features derived purely from the bytes
    return {
        "n_bytes": len(payload),
        "head_hex": payload[:16].hex(),
        "n_frames": len(payload) // 100,  # fake frame sampling
        "feature_sum": sum(payload[:256]),
    }


#: FEATURE_SCHEMA + decode-outcome column for the permissive mode
FEATURE_SCHEMA_MARKED = T.StructType(
    FEATURE_SCHEMA.fields + [T.StructField("error", T.StringType())])


def extract_features(media: DataFrame, on_error: str = "fail") -> DataFrame:
    """Arrow-batched feature extraction over the payload column via
    ``mapInPandas`` — the decode stage shape for any modality: one Python
    round-trip per Arrow batch, output schema fixed by FEATURE_SCHEMA.

    ``on_error`` is the corrupt-input policy — the thing that matters at
    100 TB, where a handful of truncated/misdetected files among
    billions must not kill a task (and with it the stage's retries):

    - ``"fail"`` (default): decode errors propagate — the strict mode
      for curated inputs;
    - ``"mark"``: every row survives with ``n_bytes``/``head_hex``
      (derivable without decoding) plus an ``error`` column — NULL on
      success, the decoder's message on failure (decode features NULL);
      quarantine = ``WHERE error IS NOT NULL``;
    - ``"skip"``: failed rows are dropped silently (schema unchanged).
    """
    import pandas as pd

    if on_error not in ("fail", "mark", "skip"):
        raise ValueError(f"on_error must be fail|mark|skip, got {on_error!r}")
    schema = FEATURE_SCHEMA_MARKED if on_error == "mark" else FEATURE_SCHEMA

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            feats = []
            for doc_id, p, m in zip(pdf["doc_id"], pdf["payload"],
                                    pdf["mime"]):
                try:
                    d = decode_stub(p, m)
                    err = None
                except Exception as e:  # noqa: BLE001 — policy seam
                    if on_error == "fail":
                        raise
                    if on_error == "skip":
                        continue
                    d = {"n_bytes": len(p), "head_hex": p[:16].hex(),
                         "n_frames": None, "feature_sum": None}
                    err = f"{type(e).__name__}: {e}"
                row = {"doc_id": int(doc_id), **d}
                if on_error == "mark":
                    row["error"] = err
                feats.append(row)
            yield pd.DataFrame(feats, columns=[f.name for f in
                                               schema.fields])

    flat = ensure_parallelism(media.select(
        "doc_id", "payload", F.col("meta.mime").alias("mime")))
    return flat.mapInPandas(run, schema=schema)


def extract_features_arrow(media: DataFrame) -> DataFrame:
    """:func:`extract_features` on Spark 4's ``mapInArrow`` — the
    Arrow-NATIVE decode stage: each batch arrives as a
    ``pyarrow.RecordBatch`` and results go back as one, skipping the
    Arrow→pandas→Arrow conversion (and pandas' object-boxing of binary
    payloads) that ``mapInPandas`` pays on both sides.  Output is
    bit-identical to :func:`extract_features` (pytest-pinned); prefer
    this path when the payload column dominates batch bytes.  Strict
    decode only — for the corrupt-input policy use
    :func:`extract_features` with ``on_error``."""
    import pyarrow as pa

    names = [f.name for f in FEATURE_SCHEMA.fields]

    def run(batches):
        for rb in batches:
            doc_ids = rb.column("doc_id").to_pylist()
            payloads = rb.column("payload").to_pylist()
            mimes = rb.column("mime").to_pylist()
            feats = [decode_stub(p, m) for p, m in zip(payloads, mimes)]
            yield pa.RecordBatch.from_arrays(
                [pa.array(doc_ids, type=pa.int64()),
                 pa.array([f["n_bytes"] for f in feats], type=pa.int64()),
                 pa.array([f["head_hex"] for f in feats]),
                 pa.array([f["n_frames"] for f in feats],
                          type=pa.int32()),
                 pa.array([f["feature_sum"] for f in feats],
                          type=pa.int64())],
                names=names)

    flat = ensure_parallelism(media.select(
        "doc_id", "payload", F.col("meta.mime").alias("mime")))
    return flat.mapInArrow(run, schema=FEATURE_SCHEMA)


FRAME_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("frame_off", T.LongType()),
    T.StructField("frame", T.BinaryType()),
])


def sample_frames(media: DataFrame, target: int = 4,
                  frame_bytes: int = 100) -> DataFrame:
    """Deterministic frame sampling for video-shaped payloads: pick
    ``target`` evenly-strided frames per document (every
    ``ceil(n_frames/target)``-th frame, always including frame 0) and
    emit one row per sampled frame — the fan-out stage a video training
    pipeline runs before per-frame feature extraction.

    The decode is the same honest stub as :func:`decode_stub`: a "frame"
    is a fixed ``frame_bytes`` window of the payload (a real deployment
    replaces the slice with a pyav seek+decode; the Spark plumbing —
    fan-out schema, Arrow batching, stride math — is what's real here).

    Pure map stage (no shuffle); output grows ≤ ``target`` rows per doc,
    so downstream per-frame stages see bounded fan-out whatever the
    payload size distribution."""
    import pandas as pd

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        for pdf in batches:
            rows = []
            for d, p in zip(pdf["doc_id"], pdf["payload"]):
                n_frames = len(p) // frame_bytes
                if n_frames == 0:
                    continue
                stride = -(-n_frames // target)  # ceil
                for idx in range(0, n_frames, stride):
                    off = idx * frame_bytes
                    rows.append((int(d), idx, off,
                                 bytes(p[off:off + frame_bytes])))
            yield pd.DataFrame(rows, columns=[f.name for f in
                                              FRAME_SCHEMA.fields])

    flat = ensure_parallelism(media.select("doc_id", "payload"))
    return flat.mapInPandas(run, schema=FRAME_SCHEMA)
