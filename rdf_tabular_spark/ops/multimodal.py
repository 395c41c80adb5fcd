"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns + typed metadata, processed via Arrow-batched ``mapInPandas``.

Image decode is REAL for stdlib-decodable formats: uncompressed 24-bit
BMP, binary PPM (P6), and PNG (zlib inflate + full scanline
de-filtering, 8-bit RGB/RGBA) are parsed byte-for-byte in-process
(encode + decode below), and audio decode is REAL for PCM WAV (stdlib
``wave`` + sample unpack), so ``decode_strict`` / :func:`decode_images`
/ :func:`decode_audio` do actual pixel/sample work in this container.
Heavier codecs (JPEG pixels, compressed audio, video) remain
environment-gated behind PIL/librosa/av — on a production cluster ship
them via ``--archives`` and the same dispatch picks them up.
"""

from __future__ import annotations

import hashlib
import io
import math
import struct
import wave
import zlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_DIM = 16


def attach_media_column(df: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text") -> DataFrame:
    """Test helper: synthesize an opaque binary payload + metadata from an
    existing table (payload = utf-8 bytes; stands in for image/audio)."""
    return df.select(
        F.col(id_col).alias("media_id"),
        (F.when(F.col(id_col) % 3 == 0, "image")
         .when(F.col(id_col) % 3 == 1, "audio").otherwise("video")).alias("kind"),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        (F.col(id_col) % 640 + 32).cast("int").alias("width"),
        (F.col(id_col) % 480 + 32).cast("int").alias("height"),
        (F.col(id_col) * 40 % 60000).cast("int").alias("duration_ms"),
    )


def encode_bmp(width: int, height: int,
               pixels: list[list[tuple[int, int, int]]]) -> bytes:
    """Minimal uncompressed 24-bit BMP writer (BITMAPINFOHEADER, BI_RGB).
    *pixels* is row-major top-down [(r, g, b)]; rows are written
    bottom-up with zero padding to 4-byte stride, per the format."""
    stride = (width * 3 + 3) & ~3
    image_size = stride * height
    header = struct.pack(
        "<2sIHHI", b"BM", 54 + image_size, 0, 0, 54)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, image_size,
        2835, 2835, 0, 0)
    body = bytearray()
    for y in range(height - 1, -1, -1):  # bottom-up
        row = bytearray()
        for r, g, b in pixels[y]:
            row += bytes((b, g, r))  # BGR on disk
        row += b"\0" * (stride - len(row))
        body += row
    return header + dib + bytes(body)


def decode_bmp(payload: bytes) -> tuple[int, int, bytes]:
    """Parse an uncompressed 24-bit BMP -> (width, height, rgb bytes
    row-major top-down). Pure stdlib; validates magic/bpp/compression."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    (data_offset,) = struct.unpack_from("<I", payload, 10)
    header_size, width, height = struct.unpack_from("<Iii", payload, 14)
    bpp, compression = struct.unpack_from("<HI", payload, 28)
    if header_size < 40 or bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"only uncompressed 24-bit BMP supported (bpp={bpp}, "
            f"compression={compression})")
    bottom_up = height > 0
    height = abs(height)
    stride = (width * 3 + 3) & ~3
    rgb = bytearray(width * height * 3)
    for row in range(height):
        src = data_offset + row * stride
        y = (height - 1 - row) if bottom_up else row
        for x in range(width):
            b, g, r = payload[src + x * 3: src + x * 3 + 3]
            dst = (y * width + x) * 3
            rgb[dst:dst + 3] = bytes((r, g, b))
    return width, height, bytes(rgb)


def encode_ppm(width: int, height: int,
               pixels: list[list[tuple[int, int, int]]]) -> bytes:
    """Binary PPM (P6) writer: row-major top-down RGB, maxval 255."""
    body = bytearray()
    for row in pixels:
        for r, g, b in row:
            body += bytes((r, g, b))
    return f"P6\n{width} {height}\n255\n".encode() + bytes(body)


def decode_ppm(payload: bytes) -> tuple[int, int, bytes]:
    """Parse a binary PPM (P6) -> (width, height, rgb row-major bytes)."""
    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    # header = magic, width, height, maxval as whitespace-separated
    # tokens (comments '#...' allowed), then ONE whitespace byte
    pos, fields = 2, []
    while len(fields) < 3:
        while payload[pos:pos + 1].isspace():
            pos += 1
        if payload[pos:pos + 1] == b"#":
            while payload[pos:pos + 1] not in (b"\n", b""):
                pos += 1
            continue
        start = pos
        while not payload[pos:pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    width, height, maxval = fields
    if maxval != 255:
        raise NotImplementedError("only maxval 255 PPM supported")
    body = payload[pos + 1: pos + 1 + width * height * 3]
    return width, height, body


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    return (struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body)))


def encode_png(width: int, height: int,
               pixels: list[list[tuple[int, ...]]]) -> bytes:
    """Minimal PNG writer: 8-bit RGB (3-tuples) or RGBA (4-tuples),
    filter-0 scanlines, one zlib-deflated IDAT."""
    channels = len(pixels[0][0]) if pixels and pixels[0] else 3
    color_type = 6 if channels == 4 else 2
    raw = bytearray()
    for row in pixels:
        raw.append(0)  # filter type None
        for px in row:
            raw += bytes(px)
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (_PNG_MAGIC + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
            + _png_chunk(b"IEND", b""))


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode_png(payload: bytes) -> tuple[int, int, bytes]:
    """Parse a PNG -> (width, height, rgb bytes row-major top-down).
    Real stdlib decode: chunk walk, zlib inflate of the concatenated
    IDATs, and full de-filtering (None/Sub/Up/Average/Paeth) per the PNG
    spec §9. Supports 8-bit truecolor (RGB) and truecolor+alpha (alpha
    dropped); palette/interlace/16-bit dispatch to PIL when present."""
    if payload[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG payload")
    pos, ihdr, idat = 8, None, bytearray()
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        tag = payload[pos + 4: pos + 8]
        body = payload[pos + 8: pos + 8 + length]
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
        pos += 12 + length  # length + tag + body + crc
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    width, height, depth, color_type, _comp, _filt, interlace = ihdr
    if depth != 8 or color_type not in (2, 6) or interlace != 0:
        raise NotImplementedError(
            f"only 8-bit non-interlaced RGB/RGBA PNG decoded in-process "
            f"(depth={depth}, color={color_type}, interlace={interlace})")
    bpp = 4 if color_type == 6 else 3
    stride = width * bpp
    raw = zlib.decompress(bytes(idat))
    if len(raw) != (stride + 1) * height:
        raise ValueError("PNG pixel data size mismatch")
    recon = bytearray(stride * height)
    for y in range(height):
        ftype = raw[y * (stride + 1)]
        line = raw[y * (stride + 1) + 1: (y + 1) * (stride + 1)]
        off = y * stride
        prior = recon[off - stride: off] if y else bytes(stride)
        for x in range(stride):
            left = recon[off + x - bpp] if x >= bpp else 0
            up = prior[x]
            ul = prior[x - bpp] if x >= bpp else 0
            if ftype == 0:
                v = line[x]
            elif ftype == 1:
                v = line[x] + left
            elif ftype == 2:
                v = line[x] + up
            elif ftype == 3:
                v = line[x] + ((left + up) >> 1)
            elif ftype == 4:
                v = line[x] + _paeth(left, up, ul)
            else:
                raise ValueError(f"invalid PNG filter type {ftype}")
            recon[off + x] = v & 0xFF
    if bpp == 3:
        return width, height, bytes(recon)
    rgb = bytearray(width * height * 3)
    for i in range(width * height):
        rgb[i * 3: i * 3 + 3] = recon[i * 4: i * 4 + 3]
    return width, height, bytes(rgb)


def encode_wav(sample_rate: int, n_frames: int, amplitude: int,
               channels: int = 1) -> bytes:
    """PCM WAV writer (stdlib ``wave``): int16 square wave alternating
    ±amplitude every 4 frames — every sample has |x| = amplitude, so the
    true RMS is exactly ``amplitude`` (an oracle can recompute it without
    decoding)."""
    import numpy as np

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        signs = np.where((np.arange(n_frames) // 4) % 2 == 0,
                         amplitude, -amplitude).astype("<i2")
        w.writeframes(np.repeat(signs, channels).tobytes())
    return buf.getvalue()


def decode_wav(payload: bytes) -> tuple[int, int, int, float]:
    """REAL audio decode: PCM WAV -> (channels, sample_rate, n_frames,
    rms). Parses the RIFF container via stdlib ``wave`` and unpacks every
    int16 sample to compute the root-mean-square amplitude."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    with wave.open(io.BytesIO(payload), "rb") as w:
        channels, sampwidth = w.getnchannels(), w.getsampwidth()
        rate, n_frames = w.getframerate(), w.getnframes()
        if sampwidth != 2:
            raise NotImplementedError(
                f"only 16-bit PCM WAV decoded in-process "
                f"(sampwidth={sampwidth})")
        data = w.readframes(n_frames)
    import numpy as np

    samples = np.frombuffer(data, dtype="<i2").astype(np.int64)
    # integer sum of squares is exact (no float accumulation error), so
    # the RMS matches the pure-Python fold bit-for-bit
    rms = math.sqrt(int((samples * samples).sum()) / samples.size) \
        if samples.size else 0.0
    return channels, rate, n_frames, rms


def attach_wav_media(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize REAL PCM-WAV payloads per row with id-derived params
    (rate = 8000·(1 + id%2), frames = 2000 + (id%5)·400,
    amplitude = 500 + id%1000) so an oracle can recompute what decode
    must recover — the square-wave RMS is exactly the amplitude."""
    import pandas as pd

    from ..deploy import ensure_py_files

    ensure_py_files(df.sparkSession)
    staged = df.select(F.col(id_col).cast("long").alias("media_id"))

    def run(batches):
        for pdf in batches:
            payloads = []
            for i in pdf["media_id"]:
                i = int(i)
                payloads.append(encode_wav(
                    8000 * (1 + i % 2), 2000 + (i % 5) * 400,
                    500 + i % 1000))
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "kind": "audio",
                 "payload": payloads})

    return staged.mapInPandas(
        run, schema="media_id long, kind string, payload binary")


def attach_png_media(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize REAL PNG payloads per row: constant-pixel RGB images
    with the same id-derived dims/value scheme as :func:`attach_bmp_media`
    (w = 5 + id%7, h = 4 + id%5, v = id%200 + 10), zlib-deflated through
    the in-process encoder."""
    import pandas as pd

    from ..deploy import ensure_py_files

    ensure_py_files(df.sparkSession)
    staged = df.select(F.col(id_col).cast("long").alias("media_id"))

    def run(batches):
        for pdf in batches:
            payloads = []
            for i in pdf["media_id"]:
                i = int(i)
                w, h, v = 5 + i % 7, 4 + i % 5, i % 200 + 10
                payloads.append(
                    encode_png(w, h, [[(v, v, v)] * w for _ in range(h)]))
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "kind": "image",
                 "payload": payloads})

    return staged.mapInPandas(
        run, schema="media_id long, kind string, payload binary")


def decode_audio(media: DataFrame, batch_rows: int = 256) -> DataFrame:
    """REAL audio decode through the Arrow plumbing: media ->
    (media_id, channels, sample_rate, n_frames, duration_ms, rms) by
    actually parsing each WAV payload (decode_wav). Map-only
    mapInPandas; at scale repartition so each task's sample buffers fit
    executor memory."""
    import pandas as pd

    from ..deploy import ensure_py_files

    ensure_py_files(media.sparkSession)
    schema = ("media_id long, channels int, sample_rate int, "
              "n_frames long, duration_ms double, rms double")

    def run(batches):
        for pdf in batches:
            ch, sr, nf, dur, rms = [], [], [], [], []
            for payload in pdf["payload"]:
                c, r, n, x = decode_wav(bytes(payload))
                ch.append(c)
                sr.append(r)
                nf.append(n)
                dur.append(n * 1000.0 / r)
                rms.append(x)
            yield pd.DataFrame({
                "media_id": pdf["media_id"], "channels": ch,
                "sample_rate": sr, "n_frames": nf, "duration_ms": dur,
                "rms": rms})

    return media.mapInPandas(run, schema=schema)


def attach_bmp_media(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Synthesize REAL uncompressed-BMP payloads per row: constant-pixel
    images whose width/height/pixel value derive from the id
    (w = 5 + id%7, h = 4 + id%5, v = id%200 + 10), so an oracle can
    recompute what decode must recover without itself decoding. Widths
    hit non-multiple-of-4 strides and the padding bytes are zero, so a
    decoder that misreads padding as pixels shifts the mean."""
    import pandas as pd

    from ..deploy import ensure_py_files

    ensure_py_files(df.sparkSession)
    staged = df.select(F.col(id_col).cast("long").alias("media_id"))

    def run(batches):
        for pdf in batches:
            payloads = []
            for i in pdf["media_id"]:
                i = int(i)
                w, h, v = 5 + i % 7, 4 + i % 5, i % 200 + 10
                payloads.append(
                    encode_bmp(w, h, [[(v, v, v)] * w for _ in range(h)]))
            yield pd.DataFrame(
                {"media_id": pdf["media_id"], "kind": "image",
                 "payload": payloads})

    return staged.mapInPandas(
        run, schema="media_id long, kind string, payload binary")


def _try_real_decoder(kind: str):
    """Import-gated heavyweight decoders (PIL/librosa/av); None in this
    container — ship via --archives on a real cluster."""
    try:
        if kind == "image":
            from PIL import Image  # noqa: F401
            return Image
    except ImportError:
        pass
    return None


def decode_strict(kind: str, payload: bytes) -> tuple[int, int, bytes]:
    """The real decode path -> (width, height, rgb bytes). Images in
    stdlib-decodable formats (uncompressed BMP, binary PPM) decode
    in-process; other formats dispatch to PIL when available; audio/video
    remain environment-gated (librosa/av not in this container)."""
    if kind == "image":
        if payload[:2] == b"BM":
            return decode_bmp(payload)
        if payload[:2] == b"P6":
            return decode_ppm(payload)
        if payload[:8] == _PNG_MAGIC:
            return decode_png(payload)
        pil = _try_real_decoder("image")
        if pil is not None:
            img = pil.open(io.BytesIO(payload)).convert("RGB")
            return img.width, img.height, img.tobytes()
        raise NotImplementedError(
            "image format needs PIL (BMP/PPM/PNG decode in-process); "
            "install via --archives")
    if kind == "audio" and payload[:4] == b"RIFF":
        raise ValueError(
            "PCM WAV decodes through decode_wav/decode_audio, which return "
            "sample-domain fields, not (width, height, rgb)")
    raise NotImplementedError(
        f"no {kind} codec in this environment; install librosa/av")


def decode_images(media: DataFrame, batch_rows: int = 256) -> DataFrame:
    """REAL decode through the Arrow plumbing: media -> (media_id, width,
    height, n_pixel_bytes, mean_pixel) by actually parsing each payload
    (decode_strict). Map-only mapInPandas; at scale repartition so each
    task's pixel buffers fit executor memory."""
    import pandas as pd

    from ..deploy import ensure_py_files

    ensure_py_files(media.sparkSession)
    schema = ("media_id long, width int, height int, n_pixel_bytes long, "
              "mean_pixel double")

    def run(batches):
        for pdf in batches:
            w, h, nb, mean = [], [], [], []
            for payload in pdf["payload"]:
                dw, dh, rgb = decode_strict("image", bytes(payload))
                w.append(dw)
                h.append(dh)
                nb.append(len(rgb))
                mean.append(round(sum(rgb) / len(rgb), 6) if rgb else 0.0)
            yield pd.DataFrame({
                "media_id": pdf["media_id"], "width": w, "height": h,
                "n_pixel_bytes": nb, "mean_pixel": mean})

    return media.mapInPandas(run, schema=schema)


def _fake_features(payload: bytes, dim: int = FEATURE_DIM) -> list[float]:
    """Deterministic stand-in feature vector: sha256-seeded floats in [0,1).
    Replaces the model forward pass so batch shapes/schemas are exercised."""
    h = hashlib.sha256(payload).digest()
    out = []
    for i in range(dim):
        b = hashlib.sha256(h + i.to_bytes(2, "big")).digest()
        out.append(int.from_bytes(b[:4], "big") / 2**32)
    return out


def extract_features(media: DataFrame, batch_rows: int = 256) -> DataFrame:
    """media -> (media_id, kind, feature array<float>, n_bytes) via
    mapInPandas (Arrow batches; the model-inference shape at scale:
    repartition so each task's batch fits accelerator memory)."""
    import pandas as pd

    from ..deploy import ensure_py_files

    ensure_py_files(media.sparkSession)
    schema = "media_id long, kind string, feature array<float>, n_bytes long"

    def run(iterator):
        for pdf in iterator:
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "kind": pdf["kind"],
                "feature": [ _fake_features(p) for p in pdf["payload"] ],
                "n_bytes": pdf["payload"].map(len),
            })

    return media.mapInPandas(run, schema=schema)


def sample_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame-sampling stub for video: emits (media_id, frame_ts_ms) rows
    from the duration metadata — a posexplode-style expansion, no decode."""
    frames = F.sequence(
        F.lit(0), F.greatest(F.col("duration_ms") - 1, F.lit(0)), F.lit(every_ms))
    return (
        media.filter(F.col("kind") == "video")
        .select("media_id", F.explode(frames).alias("frame_ts_ms"))
    )
