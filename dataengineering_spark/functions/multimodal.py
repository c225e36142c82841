"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata (north-star surface; no reference
equivalent).

The Spark-side machinery — schemas, the Arrow-batched per-row lane,
partition sizing — is real and tested. Decode status by
modality: PNG images decode for REAL via a pure-stdlib decoder
(``decode_png``: zlib inflate + scanline unfilter, oracle-checked by
the ``image_decode`` registry query); WAV/MP4 container headers parse
for real (``media_durations``); other image formats route through a
PIL-import-gated decoder (``pil_decode``) and raise a helpful
NotImplementedError when pillow is absent; audio/video SAMPLE decode
stays stubbed (codec libraries are not in this container) behind the
same injectable-decoder seam the tests use.

Scale posture: media bytes travel as Arrow binary batches through
``udf_registry.map_rows`` — the one per-row lane every decode below
runs on, each supplying only a per-row kernel and an output schema
(never collected, never exploded per-pixel);
``media_budget_partitions`` sizes partitions by *bytes*, not rows,
because a partition of 4k-row × 5 MB videos is 20 GB — row-count
partitioning is the classic OOM here.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataengineering_spark.functions.udf_registry import map_rows

# Typed metadata struct carried alongside every media payload.
MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("media_type", T.StringType()),  # image|audio|video
        T.StructField("format", T.StringType()),  # png|jpeg|wav|mp4|...
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_luma", T.DoubleType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


# format → media_type classification for everything the sniffer knows.
MEDIA_TYPE_OF_FORMAT = {
    "png": "image",
    "jpeg": "image",
    "gif": "image",
    "webp": "image",
    "wav": "audio",
    "mp3": "audio",
    "flac": "audio",
    "ogg": "audio",
    "mp4": "video",
    "webm": "video",
    "avi": "video",
}


def sniff_format(payload_col) -> "F.Column":
    """Container format from magic bytes — image, audio, AND video
    signatures, all engine-side substring compares (no decode, no
    Python). RIFF containers (wav/webp/avi) disambiguate on the
    chunk-type at offset 9; ISO-BMFF (mp4/mov) on 'ftyp' at offset 5;
    Matroska/WebM share the EBML magic."""
    p = F.col(payload_col) if isinstance(payload_col, str) else payload_col
    return (
        F.when(F.substring(p, 1, 8) == bytes.fromhex("89504e470d0a1a0a"), "png")
        .when(F.substring(p, 1, 3) == bytes.fromhex("ffd8ff"), "jpeg")
        .when(F.substring(p, 1, 4) == b"GIF8", "gif")
        .when(
            (F.substring(p, 1, 4) == b"RIFF") & (F.substring(p, 9, 4) == b"WEBP"),
            "webp",
        )
        .when(
            (F.substring(p, 1, 4) == b"RIFF") & (F.substring(p, 9, 4) == b"WAVE"),
            "wav",
        )
        .when(
            (F.substring(p, 1, 4) == b"RIFF") & (F.substring(p, 9, 4) == b"AVI "),
            "avi",
        )
        .when(F.substring(p, 1, 3) == b"ID3", "mp3")
        .when(F.substring(p, 1, 2) == bytes.fromhex("fffb"), "mp3")
        .when(F.substring(p, 1, 4) == b"fLaC", "flac")
        .when(F.substring(p, 1, 4) == b"OggS", "ogg")
        .when(F.substring(p, 5, 4) == b"ftyp", "mp4")
        .when(F.substring(p, 1, 4) == bytes.fromhex("1a45dfa3"), "webm")
        .otherwise("unknown")
    )


def attach_media_meta(df: DataFrame, payload_col: str = "payload") -> DataFrame:
    """Derive the cheap metadata fields engine-side (no decode):
    byte size always; format + media_type sniffed from magic bytes."""
    p = F.col(payload_col)
    fmt = sniff_format(p)
    media_type = F.lit("unknown")
    for f, t in MEDIA_TYPE_OF_FORMAT.items():
        media_type = F.when(fmt == f, t).otherwise(media_type)
    return df.withColumn(
        "media_meta",
        F.struct(
            media_type.alias("media_type"),
            fmt.alias("format"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("long").alias("duration_ms"),
            F.octet_length(p).alias("n_bytes"),
        ),
    )


def _le32(payload, offset_1idx: int) -> "F.Column":
    """Little-endian uint32 at a 1-indexed byte offset of a binary
    column, as a JVM-side expression: hex the 4 bytes, swap the byte
    pairs, conv base-16 → base-10. No UDF, codegen-friendly."""
    h = F.hex(F.substring(payload, offset_1idx, 4))
    swapped = F.concat(
        F.substring(h, 7, 2), F.substring(h, 5, 2), F.substring(h, 3, 2), F.substring(h, 1, 2)
    )
    return F.conv(swapped, 16, 10).cast("long")


def wav_duration_ms(payload_col) -> "F.Column":
    """Duration of a *canonical* 44-byte-header WAV (RIFF/WAVE with
    'fmt ' at offset 12 and 'data' at offset 36) entirely engine-side:
    data_size / byte_rate. Non-canonical chunk layouts (LIST/INFO
    chunks before 'data') return null — route those through
    ``media_durations`` which walks chunks in Python."""
    p = F.col(payload_col) if isinstance(payload_col, str) else payload_col
    is_canon = (
        (F.substring(p, 1, 4) == b"RIFF")
        & (F.substring(p, 9, 4) == b"WAVE")
        & (F.substring(p, 13, 4) == b"fmt ")
        & (F.substring(p, 37, 4) == b"data")
    )
    byte_rate = _le32(p, 29)
    data_size = _le32(p, 41)
    return F.when(
        is_canon & (byte_rate > 0), (data_size * 1000).cast("long") / byte_rate
    ).cast("long")


def parse_wav_duration(b: bytes) -> int | None:
    """WAV duration in ms by walking RIFF chunks (handles non-canonical
    layouts: LIST/fact/cue chunks in any order). Pure header math — no
    codec library, no sample decode."""
    if len(b) < 44 or b[0:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    pos, byte_rate, data_size = 12, None, None
    while pos + 8 <= len(b):
        tag = b[pos : pos + 4]
        size = int.from_bytes(b[pos + 4 : pos + 8], "little")
        if tag == b"fmt " and pos + 16 <= len(b):
            byte_rate = int.from_bytes(b[pos + 16 : pos + 20], "little")
        elif tag == b"data":
            data_size = size
        if byte_rate and data_size is not None:
            return data_size * 1000 // byte_rate
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    return None


def parse_mp4_duration(b: bytes) -> int | None:
    """ISO-BMFF (mp4/mov) duration in ms from the moov/mvhd box:
    walk top-level boxes to moov, walk its children to mvhd, read
    (timescale, duration) — version 0 (32-bit) and 1 (64-bit) forms.
    Header-only traversal; no codec library."""

    def walk(start: int, end: int, name: bytes) -> tuple[int, int] | None:
        pos = start
        while pos + 8 <= end:
            size = int.from_bytes(b[pos : pos + 4], "big")
            tag = b[pos + 4 : pos + 8]
            body = pos + 8
            if size == 1:  # 64-bit largesize
                if pos + 16 > end:
                    return None
                size = int.from_bytes(b[pos + 8 : pos + 16], "big")
                body = pos + 16
            elif size == 0:  # box extends to end of enclosing scope
                size = end - pos
            if size < 8 or pos + size > end:
                return None
            if tag == name:
                return body, pos + size
            pos += size
        return None

    moov = walk(0, len(b), b"moov")
    if moov is None:
        return None
    mvhd = walk(moov[0], moov[1], b"mvhd")
    if mvhd is None:
        return None
    p = mvhd[0]
    version = b[p]
    if version == 1:
        timescale = int.from_bytes(b[p + 20 : p + 24], "big")
        duration = int.from_bytes(b[p + 24 : p + 32], "big")
    else:
        timescale = int.from_bytes(b[p + 12 : p + 16], "big")
        duration = int.from_bytes(b[p + 16 : p + 20], "big")
    if not timescale:
        return None
    return duration * 1000 // timescale


_DURATION_PARSERS: dict[str, Callable[[bytes], "int | None"]] = {
    "wav": parse_wav_duration,
    "mp4": parse_mp4_duration,
}

DURATIONS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("format", T.StringType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)


def media_durations(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """(doc_id, format, duration_ms) for WAV/MP4 payloads via
    the per-row Arrow lane over the header parsers above — the
    decode stage of the multimodal pipeline with the *container*
    portion implemented for real (sample/codec decode stays stubbed
    behind decode_images). Unknown formats yield null duration."""
    fmt_df = df.select(id_col, payload_col).withColumn(
        "format", sniff_format(payload_col)
    )

    def _parse(doc_id, payload, fmt):
        parser = _DURATION_PARSERS.get(fmt)
        dur = parser(bytes(payload)) if parser else None
        yield (int(doc_id), fmt, dur)

    return map_rows(fmt_df, _parse, DURATIONS_SCHEMA)


def parse_jpeg_dimensions(b: bytes) -> "tuple[int, int] | None":
    """(width, height) from the JPEG SOFn frame header — a marker-
    segment walk, no codec library (the WAV/MP4 pattern applied to
    images, closing the JPEG-metadata modality without pillow). Any
    SOF0..SOF15 except DHT/JPG/DAC counts (baseline, progressive,
    arithmetic, lossless all carry the same geometry layout)."""
    if b[:3] != b"\xff\xd8\xff":
        return None
    pos = 2
    n = len(b)
    while pos + 4 <= n:
        if b[pos] != 0xFF:
            return None
        marker = b[pos + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2  # standalone markers carry no length
            continue
        seglen = int.from_bytes(b[pos + 2 : pos + 4], "big")
        if seglen < 2:
            return None
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            if pos + 9 > n:
                return None
            h = int.from_bytes(b[pos + 5 : pos + 7], "big")
            w = int.from_bytes(b[pos + 7 : pos + 9], "big")
            return (w, h)
        if marker == 0xDA:  # start-of-scan: SOF must have preceded
            return None
        pos += 2 + seglen
    return None


def parse_png_dimensions(b: bytes) -> "tuple[int, int] | None":
    """(width, height) from the PNG IHDR chunk (always first)."""
    if b[:8] != bytes.fromhex("89504e470d0a1a0a") or len(b) < 24:
        return None
    return (
        int.from_bytes(b[16:20], "big"),
        int.from_bytes(b[20:24], "big"),
    )


def make_test_jpeg(width: int, height: int) -> bytes:
    """Minimal structurally-valid JPEG header (SOI + JFIF APP0 + SOF0
    + EOI) for exercising the marker walk without a real encoder."""
    app0 = b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    sof0 = (
        b"\x08"
        + height.to_bytes(2, "big")
        + width.to_bytes(2, "big")
        + b"\x03\x01\x22\x00\x02\x11\x01\x03\x11\x01"
    )
    return (
        b"\xff\xd8"
        + b"\xff\xe0" + (2 + len(app0)).to_bytes(2, "big") + app0
        + b"\xff\xc0" + (2 + len(sof0)).to_bytes(2, "big") + sof0
        + b"\xff\xd9"
    )


_DIMENSION_PARSERS: dict[str, Callable[[bytes], "tuple[int, int] | None"]] = {
    "jpeg": parse_jpeg_dimensions,
    "png": parse_png_dimensions,
}

DIMENSIONS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("format", T.StringType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
    ]
)


def image_dimensions(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """(doc_id, format, width, height) for PNG/JPEG payloads via
    the per-row Arrow lane over the header parsers — image geometry
    without any decode library. Unknown formats yield null dims."""
    fmt_df = df.select(id_col, payload_col).withColumn(
        "format", sniff_format(payload_col)
    )

    def _parse(doc_id, payload, fmt):
        parser = _DIMENSION_PARSERS.get(fmt)
        dims = parser(bytes(payload)) if parser else None
        w, h = dims if dims else (None, None)
        yield (int(doc_id), fmt, w, h)

    return map_rows(fmt_df, _parse, DIMENSIONS_SCHEMA)


def make_test_mp4(duration_ms: int, timescale: int = 1000) -> bytes:
    """Minimal structurally-valid ISO-BMFF header (ftyp + moov/mvhd v0)
    for exercising the box walk without a real muxer."""
    units = duration_ms * timescale // 1000
    mvhd_body = (
        b"\x00\x00\x00\x00"  # version 0 + flags
        + (0).to_bytes(4, "big")  # creation_time
        + (0).to_bytes(4, "big")  # modification_time
        + timescale.to_bytes(4, "big")
        + units.to_bytes(4, "big")
    )
    mvhd = (8 + len(mvhd_body)).to_bytes(4, "big") + b"mvhd" + mvhd_body
    moov = (8 + len(mvhd)).to_bytes(4, "big") + b"moov" + mvhd
    ftyp = (16).to_bytes(4, "big") + b"ftyp" + b"isom" + b"\x00\x00\x02\x00"
    return ftyp + moov


FRAME_SAMPLE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.LongType()),
        T.StructField("frame_ts_ms", T.LongType()),
        T.StructField("frame_id", T.StringType()),
    ]
)


def sample_frames(
    df: DataFrame,
    n_frames: int,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Uniform frame sampling over video payloads: container duration
    from the MP4 box walk, midpoint-rule timestamps
    ``ts_i = ((2i+1)·duration_ms) // (2k)`` (always strictly inside
    the clip), one output row per sampled frame — the frame-extraction
    stage of a video training pipeline as a per-frame fan-out on the
    per-row Arrow lane.  The pixel decode itself is a DETERMINISTIC
    STUB (md5 of ``"{id}:{ts}"``) because no codec library exists in this
    environment; the Spark-side plumbing — schema, batching, row
    fan-out, timestamp math — is real, and the stub is the documented
    seam where a real decoder plugs in.  Payloads whose container
    cannot be parsed produce no rows."""
    import hashlib

    fmt_df = df.select(id_col, payload_col).withColumn(
        "format", sniff_format(payload_col)
    )

    def _sample(doc_id, payload, fmt):
        parser = _DURATION_PARSERS.get(fmt)
        dur = parser(bytes(payload)) if parser else None
        if dur is None:
            return
        doc_id = int(doc_id)
        for i in range(n_frames):
            ts = ((2 * i + 1) * dur) // (2 * n_frames)
            fid = hashlib.md5(f"{doc_id}:{ts}".encode()).hexdigest()
            yield (doc_id, i, ts, fid)

    return map_rows(fmt_df, _sample, FRAME_SAMPLE_SCHEMA)


PNG_SIGNATURE = bytes.fromhex("89504e470d0a1a0a")


def make_solid_png(width: int, height: int, rgb: tuple[int, int, int]) -> bytes:
    """Minimal valid non-interlaced 8-bit RGB PNG of one solid color —
    the deterministic payload generator for oracle-checked decode
    queries and tests (stdlib zlib only)."""
    import struct
    import zlib

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            len(data).to_bytes(4, "big")
            + typ
            + data
            + zlib.crc32(typ + data).to_bytes(4, "big")
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    row = b"\x00" + bytes(rgb) * width  # filter type 0 per scanline
    idat = zlib.compress(row * height)
    return (
        PNG_SIGNATURE + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


def _unfilter_scanlines(raw: bytes, h: int, stride: int, channels: int):
    """Numpy-vectorized PNG unfilter → (h, stride) uint8 matrix.

    Per-row work by filter type: None is a copy; Sub is a per-channel
    cumsum (recon[x] = Σ raw mod 256 — the recurrence telescopes); Up
    is one vector add against the previous reconstructed row. Average
    and Paeth carry a true sequential dependency along x (recon[x]
    needs recon[x-bpp]), so those rows fall back to a tight Python
    loop over plain ints (lists, not numpy scalars — element access on
    numpy scalars is ~10× slower than list ints). Rows are processed
    in order because every filter except None/Sub reads the previous
    row's reconstruction."""
    import numpy as np

    arr = np.frombuffer(raw, dtype=np.uint8)[: h * (stride + 1)].reshape(
        h, stride + 1
    )
    recon = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    prev_list: list[int] | None = [0] * stride  # lazy mirror of prev
    for y in range(h):
        ftype = int(arr[y, 0])
        line = arr[y, 1:]
        if ftype == 0:
            out = line
        elif ftype == 1:  # Sub: per-channel prefix sum mod 256
            out = (
                np.cumsum(
                    line.reshape(-1, channels), axis=0, dtype=np.int64
                ).ravel()
                & 0xFF
            ).astype(np.uint8)
        elif ftype == 2:  # Up: uint8 addition wraps mod 256 natively
            out = line + prev
        elif ftype in (3, 4):  # Average / Paeth: sequential along x
            li = line.tobytes()  # bytes indexing yields plain fast ints
            if prev_list is None:
                prev_list = prev.tolist()
            pr = prev_list
            o = [0] * stride
            if ftype == 3:
                for i in range(channels):  # first pixel: a = 0
                    o[i] = (li[i] + (pr[i] >> 1)) & 0xFF
                for i in range(channels, stride):
                    o[i] = (li[i] + ((o[i - channels] + pr[i]) >> 1)) & 0xFF
            else:
                for i in range(channels):  # first pixel: a = c = 0 → pred = up
                    o[i] = (li[i] + pr[i]) & 0xFF
                for i in range(channels, stride):
                    a = o[i - channels]
                    c = pr[i - channels]
                    up = pr[i]
                    pa, pb, pc = abs(up - c), abs(a - c), abs(a + up - 2 * c)
                    pred = (
                        a
                        if (pa <= pb and pa <= pc)
                        else (up if pb <= pc else c)
                    )
                    o[i] = (li[i] + pred) & 0xFF
            recon[y] = o
            prev = recon[y]
            prev_list = o
            continue
        else:
            raise ValueError(f"bad PNG filter type {ftype}")
        recon[y] = out
        prev = recon[y]
        prev_list = None
    return recon


def decode_png_pixels(payload: bytes) -> tuple[int, int, int, "object"]:
    """Chunk-walk + inflate + unfilter a PNG to its raw pixel matrix:
    returns (width, height, channels, recon) with ``recon`` the
    (h, w*channels) uint8 reconstruction. The shared front half of
    :func:`decode_png` (feature means) and the resize path
    (:func:`resize_images_nearest`), split out so pixel-consuming
    operators don't re-walk the container."""
    import zlib

    b = bytes(payload)
    if b[:8] != PNG_SIGNATURE:
        raise ValueError("not a PNG payload")
    pos, idat = 8, b""
    w = h = bit_depth = color_type = interlace = None
    while pos + 8 <= len(b):
        ln = int.from_bytes(b[pos : pos + 4], "big")
        typ = b[pos + 4 : pos + 8]
        data = b[pos + 8 : pos + 8 + ln]
        pos += 12 + ln  # length + type + data + crc
        if typ == b"IHDR":
            w = int.from_bytes(data[0:4], "big")
            h = int.from_bytes(data[4:8], "big")
            bit_depth, color_type, interlace = data[8], data[9], data[12]
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
    if w is None:
        raise ValueError("PNG without IHDR")
    if bit_depth != 8 or interlace != 0 or color_type not in (0, 2, 6):
        raise NotImplementedError(
            f"decode_png supports non-interlaced 8-bit gray/RGB/RGBA; "
            f"got bit_depth={bit_depth} color_type={color_type} "
            f"interlace={interlace}"
        )
    channels = {0: 1, 2: 3, 6: 4}[color_type]
    raw = zlib.decompress(idat)
    stride = w * channels
    if len(raw) < h * (stride + 1):
        raise ValueError("truncated PNG scanline data")
    return w, h, channels, _unfilter_scanlines(raw, h, stride, channels)


def decode_png(payload: bytes) -> dict:
    """REAL pure-stdlib PNG decode: zlib inflate + full scanline
    unfilter (None/Sub/Up/Average/Paeth) for non-interlaced 8-bit
    grayscale/RGB/RGBA images. Returns the decode_images contract:
    {width, height, mean_luma, feature: [mean_r, mean_g, mean_b]}.
    mean_luma = Rec.601 luma of the channel MEANS (channel sums are
    exact integers, so the result is engine-reproducible — a per-pixel
    float accumulation would not be)."""
    w, h, channels, recon = decode_png_pixels(payload)
    # channel sums are exact integers (numpy int64 reduction), so the
    # means — and everything derived from them — stay bit-reproducible
    sums = recon.reshape(h * w, channels).sum(axis=0, dtype="int64")
    n = w * h
    if channels == 1:
        mr = mg = mb = int(sums[0]) / n
    else:
        mr, mg, mb = int(sums[0]) / n, int(sums[1]) / n, int(sums[2]) / n
    return {
        "width": w,
        "height": h,
        "mean_luma": 0.299 * mr + 0.587 * mg + 0.114 * mb,
        "feature": [mr, mg, mb],
    }


def pil_decode(payload: bytes) -> dict:
    """PIL-gated decoder for every format PIL can open (jpeg, webp,
    gif, ...). Import is deferred so environments without pillow only
    pay when a non-PNG image actually reaches the decode stage."""
    try:
        from PIL import Image, ImageStat
    except ImportError as exc:  # pragma: no cover - pillow not in CI env
        raise NotImplementedError(
            "pillow is not installed; decode_images handles PNG via the "
            "built-in pure-Python decoder — for other formats install "
            "pillow or inject decode_images(decoder=...)"
        ) from exc
    import io

    img = Image.open(io.BytesIO(bytes(payload))).convert("RGB")
    w, h = img.size
    mr, mg, mb = ImageStat.Stat(img).mean
    return {
        "width": w,
        "height": h,
        "mean_luma": 0.299 * mr + 0.587 * mg + 0.114 * mb,
        "feature": [mr, mg, mb],
    }


def default_decoder(payload: bytes) -> dict:
    """PNG → real pure-stdlib decode; anything else → PIL (gated)."""
    b = bytes(payload)
    if b[:8] == PNG_SIGNATURE:
        try:
            return decode_png(b)
        except NotImplementedError:
            return pil_decode(b)  # exotic PNG variant (16-bit, interlaced)
    return pil_decode(b)


def decode_images(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    decoder: Callable[[bytes], dict] = default_decoder,
) -> DataFrame:
    """Decode/feature-extract image payloads on the per-row Arrow
    lane. ``decoder(payload_bytes) -> {width, height, mean_luma,
    feature: list[float]}``.

    The kernel touches each payload exactly once; everything
    before/after is JVM-side."""

    def _decode(doc_id, payload):
        d = decoder(bytes(payload))
        yield (
            int(doc_id),
            int(d["width"]),
            int(d["height"]),
            float(d["mean_luma"]),
            [float(x) for x in d["feature"]],
        )

    return map_rows(df.select(id_col, payload_col), _decode, IMAGE_FEATURES_SCHEMA)


def frame_sample_plan(
    df: DataFrame,
    every_ms: int = 1000,
    id_col: str = "doc_id",
    duration_col: str = "duration_ms",
) -> DataFrame:
    """Expand each video row into (doc_id, frame_ts_ms) sample points
    — pure JVM sequence explode; the actual frame grab would be a
    per-row kernel over (payload, frame_ts_ms) on ``map_rows``, the
    one per-row lane every decode in this module runs on."""
    return df.select(
        id_col,
        F.explode(
            F.sequence(F.lit(0), F.col(duration_col), F.lit(every_ms))
        ).alias("frame_ts_ms"),
    )


def media_budget_partitions(df: DataFrame, bytes_col: str, target_bytes: int = 256 << 20) -> DataFrame:
    """Repartition media rows so each partition carries ~target_bytes
    of payload — byte-budget partitioning for skewed binary columns.
    Uses a running-bucket assignment by hash ranges; at 100 TB this is
    the difference between stable executors and OOM on the one
    partition that got all the 4K videos."""
    stats = df.agg(F.sum(bytes_col).alias("total")).collect()[0]
    total = int(stats.total or 0)
    n_parts = max(1, (total + target_bytes - 1) // target_bytes)
    return df.repartition(int(n_parts))


# --- PCM sample decode (numpy-vectorized, no codec library) ----------------

def make_test_wav(samples: "list[int]", sample_rate: int = 8000) -> bytes:
    """Canonical mono 16-bit PCM WAV from explicit int16 samples —
    deterministic fixture bytes (integer ramps, no trig)."""
    import struct

    data = b"".join(struct.pack("<h", int(s)) for s in samples)
    return (
        b"RIFF"
        + struct.pack("<I", 36 + len(data))
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16)
        + b"data"
        + struct.pack("<I", len(data))
        + data
    )


def _wav_data_span(b: bytes) -> "tuple[int, int] | None":
    """(offset, size) of the PCM 'data' chunk via the RIFF walk (same
    traversal as parse_wav_duration; 16-bit mono assumed by caller)."""
    if len(b) < 44 or b[0:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    pos = 12
    while pos + 8 <= len(b):
        tag = b[pos : pos + 4]
        size = int.from_bytes(b[pos + 4 : pos + 8], "little")
        if tag == b"data":
            return pos + 8, min(size, len(b) - pos - 8)
        pos += 8 + size + (size & 1)
    return None


def pcm_features(
    df: DataFrame, payload_col: str = "payload", id_col: str = "doc_id"
) -> DataFrame:
    """(id, n_samples, peak_abs, zero_crossings, rms_milli) per WAV
    payload — REAL sample decode, numpy-vectorized per row on the
    per-row Arrow lane (``map_rows``), no codec library.

    Determinism: sums of squares accumulate in int64 (exact), and
    IEEE-754 sqrt is correctly rounded, so ``floor(rms * 1000)`` is
    identical on every executor/partitioning. The audio analogue of
    the reference's pandas post-processing, executed distributed.
    """
    import numpy as np

    out_schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("n_samples", T.LongType()),
            T.StructField("peak_abs", T.IntegerType()),
            T.StructField("zero_crossings", T.LongType()),
            T.StructField("rms_milli", T.LongType()),
        ]
    )

    def _extract(rid, payload):
        span = _wav_data_span(bytes(payload)) if payload is not None else None
        if span is None:
            yield (rid, 0, 0, 0, 0)
            return
        off, size = span
        x = np.frombuffer(
            payload, dtype="<i2", count=size // 2, offset=off
        ).astype(np.int64)
        if x.size == 0:
            yield (rid, 0, 0, 0, 0)
            return
        ss = int((x * x).sum())
        rms = (ss / x.size) ** 0.5
        zc = int(((x[:-1] * x[1:]) < 0).sum())
        yield (rid, int(x.size), int(np.abs(x).max()), zc, int(rms * 1000))

    return map_rows(df.select(id_col, payload_col), _extract, out_schema)


def make_gradient_png(width: int, height: int, seed: int) -> bytes:
    """Deterministic RGB gradient PNG: pixel (x, y) is
    r=(7x+seed)%256, g=(13y+seed)%256, b=(x+y+seed)%256 — a closed
    form an oracle can recompute at any coordinate, unlike a solid
    color which makes spatial operators (resize, crop) untestable.
    Odd rows are written with PNG filter type 2 (Up) so a decode bug
    in the Up path corrupts the gradient and fails the oracle; even
    rows use filter 0."""
    import struct
    import zlib

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            len(data).to_bytes(4, "big")
            + typ
            + data
            + zlib.crc32(typ + data).to_bytes(4, "big")
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    rows = []
    prev = [0] * (width * 3)
    for y in range(height):
        cur = []
        for x in range(width):
            cur += [
                (7 * x + seed) % 256,
                (13 * y + seed) % 256,
                (x + y + seed) % 256,
            ]
        if y % 2 == 1:
            rows.append(
                b"\x02" + bytes((c - p) % 256 for c, p in zip(cur, prev))
            )
        else:
            rows.append(b"\x00" + bytes(cur))
        prev = cur
    idat = zlib.compress(b"".join(rows))
    return (
        PNG_SIGNATURE + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


def resize_nearest(payload: bytes, out_w: int, out_h: int) -> "tuple[int, int, list[int]]":
    """Decode a PNG and nearest-neighbor resample to (out_w, out_h):
    output pixel (i, j) reads source pixel (i*h // out_h, j*w // out_w)
    — the standard floor mapping. Returns (src_w, src_h, flattened
    row-major RGB ints). Grayscale expands to R=G=B; RGBA drops alpha."""
    import numpy as np

    w, h, channels, recon = decode_png_pixels(payload)
    px = recon.reshape(h, w, channels)
    if channels == 1:
        px = np.repeat(px, 3, axis=2)
    elif channels == 4:
        px = px[:, :, :3]
    sy = [(i * h) // out_h for i in range(out_h)]
    sx = [(j * w) // out_w for j in range(out_w)]
    out = px[np.ix_(sy, sx)]
    return w, h, [int(v) for v in out.reshape(-1)]


def resize_images_nearest(
    df: DataFrame,
    out_w: int = 4,
    out_h: int = 4,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Batch image resize over the per-row Arrow lane — the
    feature-extraction preprocessing step (thumbnail / patch grid) of
    a multimodal training pipeline. Output: (id, width, height,
    pixels) with ``pixels`` the resized RGB values as a comma-joined
    string (exact integers, so any value-hasher compares them across
    engines). Partitioning, batch shape, and the binary Arrow lane
    all match decode_images; only the per-payload kernel differs."""

    def _resize(doc_id, payload):
        w, h, pix = resize_nearest(bytes(payload), out_w, out_h)
        yield (int(doc_id), w, h, ",".join(str(v) for v in pix))

    return map_rows(
        df.select(id_col, payload_col),
        _resize,
        "doc_id long, width long, height long, pixels string",
    )


def dhash_image(payload: bytes) -> int:
    """63-bit perceptual difference hash (dHash) of a PNG payload.

    Standard dHash (Krawetz's "Kind of Like That" scheme): downsample
    the luma plane to a 9x8 grid and emit one bit per horizontally
    adjacent cell pair — bit k is ``luma[gy][gx+1] > luma[gy][gx]``
    with gx = k % 8, gy = k // 8. Two deliberate exactness choices so
    a SQL oracle can replay the hash bit-for-bit:

    - NEAREST-NEIGHBOR downsampling (the resize_nearest floor mapping
      ``src = (grid_idx * dim) // grid_dim``) instead of area
      averaging — same perceptual bits on smooth images, but a closed
      form over source pixels;
    - integer luma ``299r + 587g + 114b`` (scaled BT.601, no float);
    - only 63 of the 64 comparisons are emitted (k = 0..62): the hash
      stays in the non-negative BIGINT range, so chunked shifts and
      bit_count behave identically in every engine with arithmetic
      shift semantics.
    """
    import numpy as np

    w, h, channels, recon = decode_png_pixels(payload)
    px = recon.reshape(h, w, channels)
    if channels == 1:
        px = np.repeat(px, 3, axis=2)
    elif channels == 4:
        px = px[:, :, :3]
    sy = [(gy * h) // 8 for gy in range(8)]
    sx = [(gx * w) // 9 for gx in range(9)]
    grid = px[np.ix_(sy, sx)].astype(np.int64)
    luma = 299 * grid[:, :, 0] + 587 * grid[:, :, 1] + 114 * grid[:, :, 2]
    out = 0
    for k in range(63):
        gx, gy = k % 8, k // 8
        if luma[gy][gx + 1] > luma[gy][gx]:
            out |= 1 << k
    return out


def dhash_images(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """(id, dhash) perceptual hashes over the per-row Arrow lane —
    same partitioning/batch shape as decode_images, kernel is
    ``dhash_image``. Feed the result to
    ``operators.dedup.simhash_neardup_pairs(..., sim_col='dhash',
    bits=64)`` for banded image near-dup pairing (the pigeonhole
    chunk join — never all-pairs)."""

    def _hash(doc_id, payload):
        yield (int(doc_id), dhash_image(bytes(payload)))

    return map_rows(
        df.select(id_col, payload_col), _hash, f"`{id_col}` long, dhash long"
    )


def audio_fingerprint(payload: bytes, windows: int = 32) -> int:
    """63-bit two-band perceptual fingerprint of a mono 16-bit WAV —
    dHash applied to the audio modality, with two independent signal
    bands so fixture-scale corpora don't collide by construction (the
    round-9 single 31-bit energy band produced 4.08M pairs from 50k
    one-parameter ramps at sf1 — SCALE.md r9):

    - bits 0..30, ENERGY band: split the PCM stream into ``windows``
      equal spans via the floor mapping ``start = w * n // windows``,
      take each span's integer absolute energy, emit one bit per
      adjacent-span comparison (``energy[w+1] > energy[w]``);
    - bits 31..62, ZERO-CROSSING band: split the same stream into
      ``windows + 1`` spans and emit one bit per adjacent-span
      comparison of the span's sign-change count — a pair (t, t+1)
      counts iff ``(x[t] >= 0) != (x[t+1] >= 0)`` and belongs to the
      span containing its FIRST sample t (so the boundary-crossing
      pair is counted exactly once).

    Both bands are invariant to uniform positive gain (energies scale
    together, signs are unchanged) and approximately stable under
    small DC offsets; integer counts and the floor mappings keep every
    bit replayable by a SQL oracle. 31 + 32 = 63 bits keep the hash in
    the non-negative BIGINT range for engine-portable chunked
    shifts."""
    import numpy as np

    span = _wav_data_span(payload)
    if span is None:
        return 0
    off, size = span
    xs = np.frombuffer(
        payload, dtype="<i2", count=size // 2, offset=off
    ).astype(np.int64)
    n = xs.size
    if n == 0:
        return 0
    x = np.abs(xs)
    bounds = [(w * n) // windows for w in range(windows + 1)]
    energy = [int(x[bounds[w]: bounds[w + 1]].sum()) for w in range(windows)]
    out = 0
    for k in range(windows - 1):
        if energy[k + 1] > energy[k]:
            out |= 1 << k
    m = windows + 1
    cross = (xs[1:] >= 0) != (xs[:-1] >= 0)
    b2 = [(w * n) // m for w in range(m + 1)]
    # cross[t] covers the pair (t, t+1); slicing clamps the last span
    # to the n-1 available pairs
    zc = [int(cross[b2[w]: b2[w + 1]].sum()) for w in range(m)]
    for k in range(m - 1):
        if zc[k + 1] > zc[k]:
            out |= 1 << (windows - 1 + k)
    return out


def audio_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """(id, afp) perceptual audio fingerprints over the per-row Arrow
    lane — the audio counterpart of ``dhash_images``. Feed to
    ``operators.dedup.simhash_neardup_pairs(..., sim_col='afp',
    bits=64)`` for banded near-dup pairing (pigeonhole chunk join,
    never all-pairs)."""

    def _hash(doc_id, payload):
        yield (int(doc_id), audio_fingerprint(bytes(payload)))

    return map_rows(
        df.select(id_col, payload_col), _hash, f"`{id_col}` long, afp long"
    )


def make_diag_png(
    width: int, height: int, seed: int, ax: int, ay: int
) -> bytes:
    """Deterministic DIAGONAL-gradient PNG: pixel (x, y) is
    r=(ax·x+ay·y+seed)%256, g=(13y+seed)%256, b=(x+y+seed)%256 — the
    parameterized slopes give every (ax, ay, seed, w, h) combination a
    genuinely distinct luma field (the fixed-slope make_gradient_png
    family collapses a dHash fixture to ~100 row-replicated bit
    patterns, because its r channel is row-independent). Odd rows use
    PNG filter 2 (Up) like make_gradient_png, so the unfilter path
    stays load-bearing."""
    import struct
    import zlib

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            len(data).to_bytes(4, "big")
            + typ
            + data
            + zlib.crc32(typ + data).to_bytes(4, "big")
        )

    import numpy as np

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    # numpy-vectorized pixel field + filter deltas: the per-pixel
    # Python loop was the measured hot spot of the image_neardup
    # synth lane (this builder runs once per document per epoch)
    xs = np.arange(width, dtype=np.int64)
    ys = np.arange(height, dtype=np.int64)
    px = np.empty((height, width, 3), dtype=np.uint8)
    px[:, :, 0] = (ax * xs[None, :] + ay * ys[:, None] + seed) % 256
    px[:, :, 1] = np.broadcast_to(
        ((13 * ys + seed) % 256)[:, None], (height, width)
    )
    px[:, :, 2] = (xs[None, :] + ys[:, None] + seed) % 256
    flat = px.reshape(height, width * 3)
    out = np.empty((height, width * 3 + 1), dtype=np.uint8)
    out[0::2, 0] = 0  # even rows: filter None
    out[0::2, 1:] = flat[0::2]
    if height > 1:
        out[1::2, 0] = 2  # odd rows: filter Up (uint8 wraps mod 256)
        out[1::2, 1:] = flat[1::2] - flat[0:-1:2][: flat[1::2].shape[0]]
    idat = zlib.compress(out.tobytes())
    return (
        PNG_SIGNATURE + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


# --- Video fingerprinting (motion-PNG container, real per-frame decode) -----
#
# No video codec exists in this container, so the honest video lane is
# an MJPEG-style trivial container: length-prefixed PNG frames behind a
# magic header. Frame extraction is a REAL decode (the PNG unfilter
# path), exactly like the image tier — only the inter-frame codec
# (motion compensation) is out of scope, which is faithful to how MJPEG
# treats video anyway.

VIDEO_MAGIC = b"VPNG"


def make_test_video(frames: "list[bytes]") -> bytes:
    """Length-prefixed PNG-frame container (MJPEG shape): magic +
    u32 frame count + per frame u32 length + PNG bytes."""
    out = [VIDEO_MAGIC, len(frames).to_bytes(4, "big")]
    for fr in frames:
        out.append(len(fr).to_bytes(4, "big"))
        out.append(fr)
    return b"".join(out)


def parse_video_frames(payload: bytes) -> "list[bytes]":
    """Frame payloads from a make_test_video container ([] when the
    magic/shape is invalid — the sample_frames unparsable contract)."""
    if len(payload) < 8 or payload[:4] != VIDEO_MAGIC:
        return []
    n = int.from_bytes(payload[4:8], "big")
    frames, pos = [], 8
    for _ in range(n):
        if pos + 4 > len(payload):
            return []
        size = int.from_bytes(payload[pos: pos + 4], "big")
        pos += 4
        if pos + size > len(payload):
            return []
        frames.append(payload[pos: pos + size])
        pos += size
    return frames


def video_frame_hashes(
    df: DataFrame,
    n_samples: int = 4,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """(id, slot, dhash) — midpoint-rule sample ``n_samples`` frames
    per video (frame index ``((2i+1)·n_frames) // (2·n_samples)``, the
    sample_frames timestamp rule applied to frame counts) and dHash
    each sampled frame through the REAL PNG decode. Slot = the sample
    position i, so two videos' fingerprints are position-aligned and
    near-dup pairing is a per-slot pigeonhole join
    (``operators.dedup.video_neardup_pairs``), never all-pairs.
    State cost: ``n_samples`` longs per video. Unparsable containers
    produce no rows."""

    def _hash(doc_id, payload):
        frames = parse_video_frames(bytes(payload))
        nf = len(frames)
        if nf == 0:
            return
        doc_id = int(doc_id)
        for i in range(n_samples):
            idx = ((2 * i + 1) * nf) // (2 * n_samples)
            yield (doc_id, i, dhash_image(frames[idx]))

    return map_rows(
        df.select(id_col, payload_col),
        _hash,
        f"`{id_col}` long, slot int, dhash long",
    )
