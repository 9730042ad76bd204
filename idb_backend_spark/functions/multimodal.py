"""Multimodal binary columns: media validation, decode, derivatives
(reference idb/helpers/media_validation.py — F24;
idigbio_ingestion/mediaing/derivatives.py — F25).

Model: media content is an opaque ``binary`` column beside typed metadata
(mime, bucket, dims); all per-blob work runs through Arrow-batched
``mapInPandas`` so a 100 TB media table streams batch-wise through
executors without ever materializing per-row Python objects.

Magic-byte sniffing (the reference's validation core) is native logic.
Pixel decode/resize is PIL-GATED, same pattern as pyproj in geo.py:
when Pillow is importable the real kernel runs (RGB convert, BILINEAR
downscale to the 260/600 derivative widths, JPEG quality-95 encode —
derivatives.py:24-27, :284-305); when absent, ``fake=True`` produces
deterministic hash-derived stand-ins so the Spark plumbing — schema,
batching, partitioning — is fully exercised either way. Installing
pillow lights up the real path with no code change.
"""

from __future__ import annotations

import hashlib
import io
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

try:  # import-gated imaging kernel (pillow is optional)
    from PIL import Image as _PILImage

    HAS_PIL = True
except ImportError:  # pragma: no cover - exercised where pillow absent
    _PILImage = None
    HAS_PIL = False

#: derivative widths (derivatives.py:24-27); fullsize passes through
WIDTHS = {"thumbnail": 260, "webview": 600}
DTYPES = ("thumbnail", "fullsize", "webview")

#: magic-byte prefixes -> (mime, suggested bucket). The MIME detection
#: replaces the reference's libmagic sniff (media_validation.py:70-83,
#: env-gated there too); the bucket column is this engine's routing
#: convenience using the reference's bucket NAMES (valid_buckets,
#: media_validation.py:7-16 — 'video' singular; mimes outside
#: default_buckets route to the sniffed family's bucket so a harvest
#: can still sort them, unlike the stricter enrichment-side
#: media_type/default_buckets lookup which yields NULL there).
_MAGIC: list[tuple[bytes, str, str]] = [
    # ZIP signatures FIRST — the reference short-circuits them before
    # libmagic ever runs (media_validation.py:79-81: local file header,
    # empty archive, spanned archive). The 'datasets' bucket on the zip
    # arms is an ENGINE-SIDE choice: the reference's
    # default_buckets has NO application/zip entry, so its validate()
    # raises UnknownBucketError for a zip with no explicit bucket —
    # here a sniffed zip routes to 'datasets' (the bucket DwC-A zips
    # land in when named explicitly) instead of erroring, so a harvest
    # can still sort them; validate_mime_for_type keeps the strict
    # reference contract
    (b"PK\x03\x04", "application/zip", "datasets"),
    (b"PK\x05\x06", "application/zip", "datasets"),
    (b"PK\x07\x08", "application/zip", "datasets"),
    (b"\xff\xd8\xff", "image/jpeg", "images"),
    (b"\x89PNG\r\n\x1a\n", "image/png", "images"),
    (b"GIF87a", "image/gif", "images"),
    (b"GIF89a", "image/gif", "images"),
    (b"II*\x00", "image/tiff", "images"),
    (b"MM\x00*", "image/tiff", "images"),
    (b"ID3", "audio/mpeg", "sounds"),
    (b"\xff\xfb", "audio/mpeg", "sounds"),
    (b"OggS", "audio/ogg", "sounds"),
    (b"%PDF", "application/pdf", "debugfile"),
]

#: media buckets this sniffer emits (subset of the reference's
#: valid_buckets, media_validation.py:7-16)
BUCKETS = ("images", "sounds", "video", "debugfile", "datasets")

#: bucket -> mimes ALLOWED in it (media_validation.py:7-16 bucket_mimes
#: — note these are the validation allow-sets, broader than the
#: default_buckets routing table: 'text/plain' is allowed in models,
#: datasets, debugfile and guoda but routes nowhere by default)
BUCKET_MIMES: dict[str, frozenset[str]] = {
    "images": frozenset({"image/jpeg", "image/jp2"}),
    "sounds": frozenset({"audio/mpeg3", "audio/mpeg"}),
    "models": frozenset({"model/mesh", "text/plain"}),
    "video": frozenset({"video/mpeg", "video/mp4"}),
    "datasets": frozenset({"text/csv", "text/plain", "application/zip"}),
    "debugfile": frozenset({"text/plain", "application/zip"}),
    "guoda": frozenset({"text/csv", "text/plain", "application/zip"}),
}
VALID_BUCKETS = frozenset(BUCKET_MIMES)


class MediaValidationError(ValueError):
    """media_validation.py:37-67's error family, flattened to one class
    with a machine-readable ``code`` (the reference's subclass name)."""

    def __init__(self, code: str, message: str):
        super().__init__(message)
        self.code = code


def validate_mime_for_type(
    mime: str | None, bucket: str | None
) -> tuple[str | None, str | None]:
    """media_validation.py:86-102 exactly: alias the mime; an explicit
    bucket must be valid AND allow the (aliased) mime — note the
    allow-set is checked against the ALIASED mime while the error
    reports the original; without a bucket, the aliased mime routes
    through default_buckets and an unroutable mime raises. Both
    arguments nullable; (None, None) passes through."""
    from idb_backend_spark.functions.enrichment import (
        _FORMAT_BUCKETS,
        _MIME_ALIASES,
    )

    amime = _MIME_ALIASES.get(mime, mime)
    if bucket:
        if bucket not in VALID_BUCKETS:
            raise MediaValidationError(
                "InvalidBucketError", f"Invalid media type {bucket!r}"
            )
        if amime and amime not in BUCKET_MIMES[bucket]:
            raise MediaValidationError(
                "MimeNotAllowedError",
                f"Mime {mime!r} not allowed in bucket {bucket!r}",
            )
    elif amime:
        bucket = _FORMAT_BUCKETS.get(amime)
        if not bucket:
            raise MediaValidationError(
                "UnknownBucketError", f"Unknown media type for mime {mime!r}"
            )
    return amime, bucket


def sniff_mime(head: bytes | None) -> tuple[str | None, str | None]:
    """First-1KB magic-byte sniff -> (detected mime, bucket)
    (media_validation.py; used at db.py:694-706)."""
    if not head:
        return None, None
    for magic, mime, bucket in _MAGIC:
        if head.startswith(magic):
            return mime, bucket
    if len(head) >= 12 and head[:4] == b"RIFF":
        if head[8:12] == b"WAVE":
            return "audio/x-wav", "sounds"
        if head[8:12] == b"AVI ":
            return "video/x-msvideo", "video"
    if len(head) >= 12 and head[4:8] == b"ftyp":
        return "video/mp4", "video"
    return None, None


MEDIA_META_SCHEMA = StructType(
    [
        StructField("etag", StringType()),
        StructField("detected_mime", StringType()),
        StructField("bucket", StringType()),
        # LongType: int32 would overflow (or fail Arrow conversion) on
        # blobs >= 2 GiB — exactly the large-video inputs this module's
        # 100 TB framing exists for
        StructField("size_bytes", LongType()),
    ]
)


def validate_media(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "id",
    url_col: str | None = None,
) -> DataFrame:
    """F24 — per-blob validation via mapInPandas: sha1 etag, sniffed mime,
    storage bucket, size. Mime/type compatibility is a plain column
    comparison downstream (stated_mime == detected_mime).

    ``url_col``: when given, a url ending in ``.stl`` forces
    ``model/mesh``/``models`` WITHOUT sniffing — the reference's
    explicit override (media_validation.py:113-114; STL is a bare
    triangle list with no magic bytes, so content sniffing cannot
    identify it)."""
    out_schema = StructType(
        [df.schema[id_col], *MEDIA_META_SCHEMA.fields]
    )
    in_cols = [id_col, content_col] + ([url_col] if url_col else [])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            urls = pdf[url_col] if url_col else [None] * len(pdf)
            rows = []
            for _id, blob, url in zip(pdf[id_col], pdf[content_col], urls):
                b = bytes(blob) if blob is not None else None
                if b is None:
                    rows.append((_id, None, None, None, None))
                    continue
                if url is not None and str(url).endswith(".stl"):
                    mime, bucket = "model/mesh", "models"
                else:
                    mime, bucket = sniff_mime(b[:1024])
                rows.append(
                    (_id, hashlib.sha1(b).hexdigest(), mime, bucket, len(b))
                )
            yield pd.DataFrame(
                rows,
                columns=[id_col, "etag", "detected_mime", "bucket", "size_bytes"],
            )

    return df.select(*in_cols).mapInPandas(batches, out_schema)


def _fake_dims(b: bytes) -> tuple[int, int]:
    h = hashlib.sha1(b).digest()
    return 64 + h[0] % 192, 64 + h[1] % 192


DECODE_SCHEMA = StructType(
    [
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("mode", StringType()),
    ]
)


def _load_rgb(b: bytes):
    """Real decode kernel (derivatives.py load_img): open, force-load,
    convert to RGB."""
    img = _PILImage.open(io.BytesIO(b))
    img.load()
    if img.mode != "RGB":
        img = img.convert("RGB")
    return img


def _resize_to_width(img, width: int):
    """Proportional BILINEAR downscale; never upscales
    (derivatives.py:293-305)."""
    if img.size[0] > width:
        h = int(float(img.size[1]) * (width / float(img.size[0])))
        return img.resize((width, h), _PILImage.BILINEAR)
    return img


def _to_jpeg(img) -> bytes:
    """JPEG quality-95 encode (derivatives.py img_to_buffer)."""
    buf = io.BytesIO()
    img.save(buf, format="JPEG", quality=95)
    return buf.getvalue()


def _resolve_fake(fake: bool | None) -> bool:
    """None = auto: real kernel when pillow is importable, else fake.
    ``fake=False`` demands the real kernel and raises without pillow."""
    if fake is None:
        return not HAS_PIL
    if fake is False and not HAS_PIL:
        raise NotImplementedError(
            "real image decode requires pillow; install it or pass "
            "fake=True/None"
        )
    return fake


def decode_image(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "id",
    fake: bool | None = None,
) -> DataFrame:
    """F25 (decode step) — image decode via mapInPandas.

    PIL-gated: the real kernel reports actual (width, height, mode);
    the fake kernel yields deterministic hash-derived dimensions so the
    schema/batch plumbing is identical with or without pillow. Decode
    failures (truncated/corrupt blobs) yield null dims, mode='error' —
    the reference logs-and-skips the same way (derivatives.py:165-178).
    """
    use_fake = _resolve_fake(fake)
    out_schema = StructType([df.schema[id_col], *DECODE_SCHEMA.fields])

    def _decode_one(b: bytes) -> tuple[int | None, int | None, str | None]:
        if use_fake:
            w, h = _fake_dims(b)
            return w, h, "RGB"
        try:
            img = _PILImage.open(io.BytesIO(b))
            img.load()
            return img.size[0], img.size[1], img.mode
        except Exception:
            return None, None, "error"

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for _id, blob in zip(pdf[id_col], pdf[content_col]):
                if blob is None:
                    rows.append((_id, None, None, None))
                    continue
                w, h, mode = _decode_one(bytes(blob))
                rows.append((_id, w, h, mode))
            yield pd.DataFrame(
                rows, columns=[id_col, "width", "height", "mode"]
            )

    return df.select(id_col, content_col).mapInPandas(batches, out_schema)


DERIVATIVE_SCHEMA = StructType(
    [
        StructField("dtype", StringType()),
        StructField("content", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)


def generate_derivatives(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "id",
    dtypes: tuple[str, ...] = DTYPES,
    fake: bool | None = None,
) -> DataFrame:
    """F25 — thumbnail/webview/fullsize derivative generation
    (derivatives.py generate_all/build_deriv): one output row per
    (blob, dtype); fullsize copies JPEG sources through unchanged and
    re-encodes everything else; sized derivatives downscale
    proportionally (never upscale) and encode JPEG q95.

    PIL-gated like `decode_image`: the fake kernel emits deterministic
    pseudo-JPEG bytes with the same sizing arithmetic, so partitioning,
    schema, and the explode shape are real in any environment. Undecodable
    blobs produce no rows (reference skips them).
    """
    use_fake = _resolve_fake(fake)
    out_schema = StructType([df.schema[id_col], *DERIVATIVE_SCHEMA.fields])

    def _fake_rows(_id, b: bytes):
        w, h = _fake_dims(b)
        for d in dtypes:
            if d == "fullsize":
                is_jpeg = b.startswith(b"\xff\xd8\xff")
                blob = b if is_jpeg else b"\xff\xd8\xff\xe0" + hashlib.sha1(b).digest()
                yield (_id, d, blob, w, h)
            else:
                tw = WIDTHS[d]
                ow, oh = (tw, int(h * tw / w)) if w > tw else (w, h)
                marker = hashlib.sha1(b + d.encode()).digest()
                yield (_id, d, b"\xff\xd8\xff\xe0" + marker, ow, oh)

    def _real_rows(_id, b: bytes):
        try:
            img = _load_rgb(b)
        except Exception:
            return  # undecodable: no derivative rows (reference skips)
        src_is_jpeg = b.startswith(b"\xff\xd8\xff")
        for d in dtypes:
            if d == "fullsize":
                blob = b if src_is_jpeg else _to_jpeg(img)
                yield (_id, d, blob, img.size[0], img.size[1])
            else:
                out = _resize_to_width(img, WIDTHS[d])
                yield (_id, d, _to_jpeg(out), out.size[0], out.size[1])

    row_gen = _fake_rows if use_fake else _real_rows

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for _id, blob in zip(pdf[id_col], pdf[content_col]):
                if blob is None:
                    continue
                rows.extend(row_gen(_id, bytes(blob)))
            yield pd.DataFrame(
                rows,
                columns=[id_col, "dtype", "content", "width", "height"],
            )

    return df.select(id_col, content_col).mapInPandas(batches, out_schema)


# --------------------------------------------------------------------------
# F25 (audio) — wave → waveform derivative
# (derivatives.py:338-341 wave_to_img; lib/waveform.py)
# --------------------------------------------------------------------------

#: reference Waveform constants (waveform.py:17-18)
AUDIO_BAR_COUNT = 107
AUDIO_DB_CEILING = 60
#: reference bar-image geometry (waveform.py:60-68)
AUDIO_IMG_SIZE = (840, 150)


def wav_rms_peaks(b: bytes) -> tuple[int, list[int]] | None:
    """Decode a PCM WAV and compute the reference's normalized per-chunk
    RMS peaks (waveform.py:28-42): split into ``bar_count`` chunks, take
    each chunk's RMS, scale to ``db_ceiling`` by the max chunk RMS.

    Real kernel with NO optional dependencies: stdlib ``wave`` parses the
    RIFF container, numpy vectorizes the RMS. (The reference reaches all
    formats through pydub+ffmpeg; compressed formats would gate on pydub
    the way images gate on PIL.) Returns (duration_ms, peaks) or None for
    undecodable blobs.
    """
    import wave as _wave

    import numpy as np

    try:
        with _wave.open(io.BytesIO(b)) as w:
            n_frames = w.getnframes()
            rate = w.getframerate()
            swidth = w.getsampwidth()
            n_ch = w.getnchannels()
            raw = w.readframes(n_frames)
    except Exception:
        return None
    if rate <= 0 or n_frames == 0:
        return None
    dtype = {1: np.uint8, 2: np.dtype("<i2"), 4: np.dtype("<i4")}.get(swidth)
    if dtype is None:
        return None
    try:
        # a TRUNCATED payload (length not a multiple of sample width ×
        # channels) makes frombuffer/reshape raise — one corrupt blob
        # must yield the documented None row, not kill the Spark task
        samples = np.frombuffer(raw, dtype=dtype).astype(np.float64)
        if swidth == 1:
            # the WAV spec stores 8-bit PCM UNSIGNED with a 128 offset;
            # reading it signed made silence (all 128s) decode to
            # full-scale -128 and every 8-bit waveform came out max-RMS
            # garbage
            samples -= 128.0
        if n_ch > 1:  # average channels to mono before RMS
            samples = samples.reshape(-1, n_ch).mean(axis=1)
    except ValueError:
        return None
    duration_ms = int(round(n_frames * 1000 / rate))
    chunk = len(samples) // AUDIO_BAR_COUNT
    if chunk == 0:
        return duration_ms, [0] * AUDIO_BAR_COUNT
    trimmed = samples[: chunk * AUDIO_BAR_COUNT].reshape(AUDIO_BAR_COUNT, chunk)
    # pydub AudioSegment.rms is an int — mirror the truncation
    rms = np.sqrt((trimmed * trimmed).mean(axis=1)).astype(np.int64)
    max_rms = int(rms.max())
    if max_rms == 0:
        return duration_ms, [0] * AUDIO_BAR_COUNT
    return duration_ms, [
        int(r * AUDIO_DB_CEILING / max_rms) for r in rms.tolist()
    ]


def waveform_image_bytes(peaks: list[int]) -> bytes | None:
    """PIL-gated bar render (waveform.py:58-68 geometry: 840×150 canvas,
    4-px bars every 8 px, bar height 2·peak). Returns PNG bytes, or None
    without pillow — the peaks column stays the testable surface."""
    if not HAS_PIL:
        return None
    im = _PILImage.new("RGB", AUDIO_IMG_SIZE, "#f5f5f5")
    from PIL import ImageDraw

    draw = ImageDraw.Draw(im)
    for idx, value in enumerate(peaks):
        if value <= 0:
            continue
        x = idx * 8 + 2
        top = 64 - value
        draw.rectangle([x, top, x + 3, top + max(1, value * 2)], fill="#424242")
    buf = io.BytesIO()
    im.save(buf, format="PNG")
    return buf.getvalue()


AUDIO_WAVEFORM_SCHEMA = StructType(
    [
        StructField("duration_ms", IntegerType()),
        StructField("peaks", ArrayType(IntegerType())),
        StructField("waveform_png", BinaryType()),
    ]
)


def audio_waveform(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "id",
    fake: bool = False,
) -> DataFrame:
    """F25 (audio) — the wave→waveform derivative as a mapInPandas stage
    (reference convert_media routes bucket='sounds' through
    wave_to_img, derivatives.py:322-341).

    One output row per blob: (id, duration_ms, peaks, waveform_png).
    PCM WAV decodes for real (stdlib+numpy); undecodable/compressed blobs
    yield NULL duration/peaks — the reference's log-and-skip contract.
    ``fake=True`` substitutes deterministic hash-derived peaks (the
    multimodal stub convention for environments without codecs).
    """
    out_schema = StructType([df.schema[id_col], *AUDIO_WAVEFORM_SCHEMA.fields])

    def _one(b: bytes):
        if fake:
            h = hashlib.sha1(b).digest()
            peaks = [h[i % 20] * AUDIO_DB_CEILING // 255 for i in range(AUDIO_BAR_COUNT)]
            return len(b), peaks, None
        got = wav_rms_peaks(b)
        if got is None:
            return None, None, None
        duration_ms, peaks = got
        return duration_ms, peaks, waveform_image_bytes(peaks)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for _id, blob in zip(pdf[id_col], pdf[content_col]):
                if blob is None:
                    rows.append((_id, None, None, None))
                    continue
                rows.append((_id, *_one(bytes(blob))))
            yield pd.DataFrame(
                rows,
                columns=[id_col, "duration_ms", "peaks", "waveform_png"],
            )

    return df.select(id_col, content_col).mapInPandas(batches, out_schema)


def extract_features(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "id",
    dim: int = 16,
    fake: bool | None = None,
) -> DataFrame:
    """Feature extraction over an opaque binary media column — the
    embed step that turns a media corpus into vectors for the ANN /
    near-dup tiers (operators/ann.py, operators/dedup.py).

    Arrow-batched ``mapInPandas``, one model call per blob, output
    schema ``(id, embedding array<float>)`` — exactly the shape
    `embeddings.parquet` carries, so the result plugs straight into
    ``cosine_topk`` / ``embedding_near_dup_pairs``. A real deployment
    swaps the kernel for CLIP/wav2vec via the same gate; this container
    has no model runtime, so the gated fake kernel derives a
    DETERMINISTIC unit-norm vector from the blob's sha1 (stable across
    retries — required for exactly-once sinks; not semantically
    meaningful, but it exercises schema, batching, normalization, and
    the downstream join shape for real).
    """
    if fake is False:
        # no model runtime ships in this container; the gate keeps the
        # call-site contract identical to decode_image/sample_video_frames
        raise NotImplementedError(
            "real feature extraction requires a model runtime "
            "(e.g. torch + CLIP); install one or pass fake=True/None"
        )
    from pyspark.sql.types import ArrayType, FloatType

    # preserve the caller's id type (string/uuid keys are the domain
    # norm — every sibling media function does the same)
    out_schema = StructType(
        [df.schema[id_col], StructField("embedding", ArrayType(FloatType()))]
    )

    def _embed(b: bytes) -> list[float]:
        # sha1 -> dim pseudo-random lanes in [-1, 1) -> L2-normalize
        raw = []
        seed = bytes(b)
        h = b""
        while len(raw) < dim:
            h = hashlib.sha1(h + seed).digest()
            raw.extend(h)
        lanes = [(x - 128.0) / 128.0 for x in raw[:dim]]
        norm = sum(v * v for v in lanes) ** 0.5 or 1.0
        return [float(v / norm) for v in lanes]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = [
                (_id, _embed(bytes(blob)) if blob is not None else None)
                for _id, blob in zip(pdf[id_col], pdf[content_col])
            ]
            yield pd.DataFrame(rows, columns=[id_col, "embedding"])

    return df.select(id_col, content_col).mapInPandas(batches, out_schema)


try:  # import-gated video kernel (PyAV is optional, absent here)
    import av as _av  # noqa: F401

    HAS_AV = True
except ImportError:  # pragma: no cover - exercised where av absent
    _av = None
    HAS_AV = False


def _resolve_fake_video(fake: bool | None) -> bool:
    """None = auto: real kernel when PyAV is importable, else fake.
    ``fake=False`` demands the real decoder and raises without it."""
    if fake is None:
        return not HAS_AV
    if fake is False and not HAS_AV:
        raise NotImplementedError(
            "real video decode requires PyAV (av); install it or pass "
            "fake=True/None"
        )
    return fake


def sample_video_frames(
    df: DataFrame,
    data_col: str = "data",
    id_col: str = "media_id",
    stride_ms: int = 200,
    fps: int = 25,
    fake: bool | None = None,
) -> DataFrame:
    """T10 video tier — uniform-stride frame sampling over an opaque
    binary video column (the training-pipeline step that turns a video
    corpus into a frame corpus).

    Arrow-batched ``mapInPandas``: one decoder open per video, frames
    are the row-multiplier, and the batch iterator streams — a 100 TB
    video table never materializes more than an Arrow batch of blobs
    per executor thread at a time. Output schema is typed and stable
    across the fake and real kernels:

      (id, frame_idx int, ts_ms long, width int, height int,
       frame_token string)

    ``frame_token`` identifies the sampled frame (md5 of the frame
    payload on the real path; md5 of ``"{id}:{frame_idx}"`` on the fake
    path) so downstream joins/dedup run on a scalar, not the pixels.

    The FAKE kernel (this container has no PyAV/ffmpeg) derives
    deterministic metadata from the blob alone — duration_ms =
    octet_length, fixed ``fps``, width 320 + octet_length % 17, height
    240 — which makes the whole sampling plan (stride arithmetic, frame
    indexing, row-multiplication, schema) SQL-mirrorable and therefore
    driver-gradable end-to-end; installing PyAV lights up the real
    decoder with no plan change.
    """
    use_fake = _resolve_fake_video(fake)
    # preserve the caller's id type (string/uuid keys are the domain
    # norm — every sibling media function does the same)
    out_schema = StructType(
        [
            df.schema[id_col],
            StructField("frame_idx", IntegerType()),
            StructField("ts_ms", LongType()),
            StructField("width", IntegerType()),
            StructField("height", IntegerType()),
            StructField("frame_token", StringType()),
        ]
    )
    cols = [id_col, "frame_idx", "ts_ms", "width", "height", "frame_token"]

    def _fake_frames(mid, b: bytes):
        duration_ms = len(b)
        w, h = 320 + len(b) % 17, 240
        for ts in range(0, duration_ms, stride_ms):
            fi = ts * fps // 1000
            tok = hashlib.md5(f"{mid}:{fi}".encode()).hexdigest()
            yield (mid, fi, ts, w, h, tok)

    def _real_frames(mid, b: bytes):  # pragma: no cover - needs PyAV
        with _av.open(io.BytesIO(bytes(b))) as container:
            vstream = container.streams.video[0]
            tb = float(vstream.time_base)
            next_ts = 0.0
            for frame in container.decode(vstream):
                ts_ms = (frame.pts or 0) * tb * 1000.0
                if ts_ms + 1e-9 < next_ts:
                    continue
                next_ts = ts_ms + stride_ms
                payload = frame.to_image().tobytes()
                yield (
                    mid,
                    int(frame.index or 0),
                    int(ts_ms),
                    int(frame.width),
                    int(frame.height),
                    hashlib.md5(payload).hexdigest(),
                )

    frames_of = _fake_frames if use_fake else _real_frames

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = [
                f
                for mid, b in zip(pdf[id_col], pdf[data_col])
                if b is not None
                for f in frames_of(mid, b)
            ]
            yield pd.DataFrame(rows, columns=cols)

    return df.select(id_col, data_col).mapInPandas(batches, out_schema)


def derivative_plan(
    decoded: DataFrame, widths: tuple[int, ...] = (260, 600)
) -> DataFrame:
    """F25 (derivative sizing) — thumbnail/webview target dimensions
    (derivatives.py:24-27: widths 260/600, proportional height). Pure
    expression: the resize itself happens in the decode UDF."""
    out = decoded
    for w in widths:
        out = out.withColumn(
            f"deriv_{w}_height",
            F.when(
                F.col("width").isNotNull() & (F.col("width") > 0),
                F.round(F.col("height") * w / F.col("width")).cast("int"),
            ),
        )
    return out


def phash_bits_from_pixels(pixels: list[int], kind: str) -> int:
    """The perceptual-hash BIT MATH as a pure function — testable with
    hand-authored pixel grids independent of any decoder.

    ``ahash``: 64 grayscale pixels (8x8, row-major); bit r*8+c set when
    the pixel exceeds the grid mean. ``dhash``: 72 pixels (9 per row x
    8 rows); bit r*8+c set when px[r][c] > px[r][c+1] (row-wise
    gradient). Returns a SIGNED 64-bit value (Spark LongType two's
    complement) so `functions.similarity.hamming64` applies unchanged.
    """
    v = 0
    if kind == "ahash":
        if len(pixels) != 64:
            raise ValueError(f"ahash needs 64 pixels, got {len(pixels)}")
        mean = sum(pixels) / 64.0
        for i, px in enumerate(pixels):
            if px > mean:
                v |= 1 << i
    elif kind == "dhash":
        if len(pixels) != 72:
            raise ValueError(f"dhash needs 72 pixels, got {len(pixels)}")
        for r in range(8):
            for c in range(8):
                if pixels[r * 9 + c] > pixels[r * 9 + c + 1]:
                    v |= 1 << (r * 8 + c)
    else:
        raise ValueError(f"kind must be 'ahash' or 'dhash', got {kind!r}")
    return v - (1 << 64) if v >= (1 << 63) else v


def _fake_pixels(b: bytes, n: int) -> list[int]:
    """Deterministic pseudo-pixels from the blob's sha1 (the gated-fake
    convention of extract_features): identical bytes -> identical grid,
    so dedup-by-hash semantics are real even though the 'image' isn't."""
    raw: list[int] = []
    h = b""
    seed = bytes(b or b"")
    while len(raw) < n:
        h = hashlib.sha1(h + seed).digest()
        raw.extend(h)
    return raw[:n]


def image_phash(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "id",
    fake: bool | None = None,
    kinds: tuple[str, ...] = ("ahash", "dhash"),
) -> DataFrame:
    """Perceptual image fingerprints -> (id, <kinds...>) — the image
    analog of the text tier's simhash: visually-similar images land
    within a small Hamming distance, so the SAME pigeonhole machinery
    (operators/dedup.hamming_pairs, functions/similarity.hamming64)
    does image near-dup at scale.

    ``kinds`` selects which hashes are computed AND emitted, in the
    given order — a caller wanting only dHash (image_neardup_pairs)
    pays for one downsample, not two, and gets a two-column frame.

    Arrow-batched mapInPandas; PIL-gated like every kernel here. The
    real kernel is the classic construction: grayscale, box-downsample
    to 8x8 (aHash: mean threshold) and 9x8 (dHash: horizontal
    gradient); the gated fake derives the pixel grids from sha1 so the
    bit math, schema, and bucketing run for real without pillow (exact
    duplicates still collide at Hamming 0 — only NEAR-dup semantics
    need real pixels). NULL content yields NULL hashes.
    """
    if not kinds or any(k not in ("ahash", "dhash") for k in kinds):
        raise ValueError(
            f"kinds must be a non-empty subset of ('ahash', 'dhash'), got {kinds!r}"
        )
    if len(set(kinds)) != len(kinds):
        raise ValueError(f"kinds has duplicates: {kinds!r}")
    use_fake = _resolve_fake(fake)
    grid = {"ahash": (8, 8, 64), "dhash": (9, 8, 72)}

    def _hashes(b: bytes | None) -> tuple[int | None, ...]:
        if b is None:
            return (None,) * len(kinds)
        img = None
        if not use_fake:
            try:
                img = _load_rgb(bytes(b)).convert("L")
            except Exception:
                return (None,) * len(kinds)  # undecodable, like decode_image
        out = []
        for kind in kinds:
            w, h, n = grid[kind]
            px = (
                _fake_pixels(b, n)
                if use_fake
                else list(img.resize((w, h), _PILImage.BILINEAR).getdata())
            )
            out.append(phash_bits_from_pixels(px, kind))
        return tuple(out)

    out_schema = StructType(
        [df.schema[id_col]]
        + [StructField(kind, LongType()) for kind in kinds]
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            hashes = [_hashes(b) for b in pdf[content_col]]
            cols = {id_col: pdf[id_col]}
            for j, kind in enumerate(kinds):
                cols[kind] = pd.array(
                    [h[j] for h in hashes], dtype="Int64"
                )
            yield pd.DataFrame(cols)

    return df.select(id_col, content_col).mapInPandas(batches, out_schema)


def image_neardup_pairs(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "id",
    max_hamming: int = 3,
    hash_kind: str = "dhash",
    fake: bool | None = None,
) -> DataFrame:
    """Image near-dup pairs: perceptual hash + the shared pigeonhole
    Hamming self-join (operators/dedup.hamming_pairs) — (id_a, id_b,
    hamming) within the radius. dHash default (gradient hashes are
    more robust to brightness shifts than mean-threshold aHash).
    Undecodable/NULL blobs drop out (no fingerprint, no pair)."""
    if hash_kind not in ("ahash", "dhash"):
        raise ValueError(f"hash_kind must be 'ahash' or 'dhash', got {hash_kind!r}")
    from idb_backend_spark.operators.dedup import hamming_pairs

    fp = (
        image_phash(df, content_col, id_col, fake=fake, kinds=(hash_kind,))
        .select(F.col(id_col).alias("id"), F.col(hash_kind).alias("fp"))
        .filter(F.col("fp").isNotNull())
    )
    return hamming_pairs(fp, max_hamming)


def audio_fingerprint(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "id",
    fake: bool = False,
) -> DataFrame:
    """64-bit audio ENVELOPE fingerprint -> (id, afp) — the audio analog
    of ``image_phash``: the normalized RMS peak sequence (the same
    ``wav_rms_peaks`` kernel the waveform derivative uses — real PCM-WAV
    decode, stdlib+numpy, no codecs) is uniform-resampled onto the 9x8
    grid and gradient-hashed through the SAME proven bit math
    (``phash_bits_from_pixels(..., 'dhash')``), so image and audio
    near-dup share one tested kernel and one pigeonhole join.

    Peaks are max-normalized, so the fingerprint is invariant to volume
    scaling and stable across containers of the same PCM stream; it is
    an envelope hash, NOT a chroma-level acoustic id (re-recordings or
    transcodes that reshape the envelope will not match — the same
    honesty boundary the waveform derivative documents). Undecodable /
    NULL blobs yield a NULL fingerprint. ``fake=True`` derives peaks
    from sha1 exactly as ``audio_waveform(fake=True)`` does, so the two
    stages stay consistent in codec-less environments.
    """
    out_schema = StructType(
        [df.schema[id_col], StructField("afp", LongType())]
    )

    def _fp(b: bytes | None) -> int | None:
        if b is None:
            return None
        if fake:
            h = hashlib.sha1(b).digest()
            peaks = [
                h[i % 20] * AUDIO_DB_CEILING // 255
                for i in range(AUDIO_BAR_COUNT)
            ]
        else:
            got = wav_rms_peaks(bytes(b))
            if got is None:
                return None
            peaks = got[1]
        n = len(peaks)
        grid = [peaks[round(i * (n - 1) / 71)] for i in range(72)]
        return phash_bits_from_pixels(grid, "dhash")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "afp": pd.array(
                        [_fp(b) for b in pdf[content_col]], dtype="Int64"
                    ),
                }
            )

    return df.select(id_col, content_col).mapInPandas(batches, out_schema)


def audio_neardup_pairs(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "id",
    max_hamming: int = 3,
    fake: bool = False,
) -> DataFrame:
    """Audio near-dup pairs over the envelope fingerprint + the shared
    pigeonhole Hamming kernel (operators/dedup.hamming_pairs): (id_a,
    id_b, hamming) within the radius; undecodable/NULL blobs drop out."""
    from idb_backend_spark.operators.dedup import hamming_pairs

    fp = (
        audio_fingerprint(df, content_col, id_col, fake=fake)
        .select(F.col(id_col).alias("id"), F.col("afp").alias("fp"))
        .filter(F.col("fp").isNotNull())
    )
    return hamming_pairs(fp, max_hamming)


def validate_content(
    head: bytes | None,
    type: str | None = None,
    mime: str | None = None,
    url: str | None = None,
) -> tuple[str | None, str | None]:
    """media_validation.validate (media_validation.py:104-122) exactly:
    the stated (mime, type) pair is validated FIRST (its errors win
    over anything content-related), then content is sniffed (the
    ``.stl`` url override skips sniffing), an undetectable mime raises,
    a stated mime that differs from the detection AFTER alias folding
    raises MimeMismatchError (so stated audio/mpeg3 passes a detected
    audio/mpeg), and the RETURN re-validates the DETECTED mime against
    the stated type — the caller gets (aliased detected mime, bucket),
    never the stated mime."""
    mime, type = validate_mime_for_type(mime, type)
    if url and url.endswith(".stl"):
        detected = "model/mesh"
    else:
        detected, _ = sniff_mime((head or b"")[:1024])
    if not detected:
        raise MediaValidationError(
            "MediaValidationError", "Couldn't detect mime type"
        )
    from idb_backend_spark.functions.enrichment import _MIME_ALIASES

    if mime and detected != _MIME_ALIASES.get(mime, mime):
        raise MediaValidationError(
            "MimeMismatchError",
            f"Mime mismatch, stated: {mime!r}, detected: {detected!r}",
        )
    return validate_mime_for_type(detected, type)


def media_object_from_content(
    content: bytes,
    *,
    url: str | None = None,
    type: str | None = None,
    bucket: str | None = None,
    mime: str | None = None,
    detected_mime: str | None = None,
    etag: str | None = None,
) -> dict:
    """MediaObject.fromobj's attribute merge (db.py:693-721): the
    upload-time reconciliation of stated vs detected media identity.

    Pins: validation runs only when detected_mime or bucket is missing,
    and its inputs carry the Python-or folds ``type or bucket`` /
    ``mime or detected_mime`` (:700-705); afterwards type and bucket
    CROSS-FILL each other (:707-710 — a bucketless type copies down, a
    typeless bucket copies up), and a missing mime defaults to the
    detected one (:711-712); the etag is the md5 of the WHOLE content
    (calcFileHash, etags.py:19-37), and a stated etag that disagrees
    raises (EtagMismatchError, :715-718) — the flattened
    MediaValidationError carries that code. last_status/last_check
    defaults (200/now, :696-697) are the caller's: this function stays
    deterministic."""
    if not detected_mime or not bucket:
        detected_mime, bucket = validate_content(
            content[:1024],
            type=type or bucket,
            mime=mime or detected_mime,
            url=url,
        )
    if type and not bucket:
        bucket = type
    if bucket and not type:
        type = bucket
    if not mime:
        mime = detected_mime
    digest = hashlib.md5(content).hexdigest()
    if etag and digest != etag:
        raise MediaValidationError(
            "EtagMismatchError",
            f"Etag mismatch, stated: {etag!r}, computed: {digest!r}",
        )
    return {
        "url": url,
        "type": type,
        "bucket": bucket,
        "mime": mime,
        "detected_mime": detected_mime,
        "etag": digest,
    }
