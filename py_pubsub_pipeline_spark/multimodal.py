"""Multimodal columns: opaque binary payloads + typed metadata.

Reference parity: the reference treats every payload as opaque bytes
with pluggable codecs (/root/reference/pubsub_pipeline.py:177 raw
`message.data`; :66-67 pluggable deserializer/serializer) — this
module is that same opaque-bytes contract extended to media, where
the "codec" is a decode/featurize kernel instead of JSON.

The pattern (SURVEY.md §2B): media travel as BINARY columns next to a
metadata struct; decode/feature-extraction runs as Arrow-batched
Pandas iterators (mapInPandas) so each Python call sees a columnar
batch, never a row.

Decode kernels: the container has no image libs (PIL/cv2), so formats
needing a full codec (JPEG/PNG) raise NotImplementedError loudly. But
header-structured formats decode in pure stdlib — BMP (little-endian
BITMAPINFOHEADER) and binary PPM (ASCII header) are REAL decoders
here, exercised end-to-end: the corpus carries no media, so the asset
pipeline SYNTHESIZES valid BMP files from document bytes (dimensions
a deterministic function of doc_id/content so the DuckDB oracle can
verify what the decoder recovers — the round trip proves the parse,
not just the plumbing).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

from pyspark.sql import DataFrame

# Schema contract for a multimodal asset row.
ASSET_SCHEMA = (
    "asset_id LONG, payload BINARY, media_type STRING, "
    "meta STRUCT<width: INT, height: INT, n_bytes: LONG>"
)

DECODED_SCHEMA = (
    "asset_id LONG, media_type STRING, width INT, height INT, "
    "bpp INT, n_bytes LONG, feature_norm DOUBLE"
)

# Deterministic synthetic dimensions (mirrored by the SQL oracle).
W_MOD, H_MOD = 13, 7


# ------------------------------------------------------------ encoders


def encode_bmp(width: int, height: int, pixel_source: bytes) -> bytes:
    """A VALID 24-bit uncompressed BMP (BITMAPFILEHEADER +
    BITMAPINFOHEADER + bottom-up pixel rows, 4-byte row padding).
    Pixels cycle through pixel_source — any external viewer opens it."""
    row = ((width * 3 + 3) // 4) * 4
    data_size = row * height
    src = pixel_source or b"\x00"
    px = (src * (data_size // len(src) + 1))[:data_size]
    file_header = b"BM" + struct.pack("<IHHI", 54 + data_size, 0, 0, 54)
    info_header = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, data_size,
        2835, 2835, 0, 0,
    )
    return file_header + info_header + px


def encode_ppm(width: int, height: int, pixel_source: bytes) -> bytes:
    """A valid binary PPM (P6): ASCII header, then 3*w*h raw bytes."""
    data_size = 3 * width * height
    src = pixel_source or b"\x00"
    px = (src * (data_size // len(src) + 1))[:data_size]
    return f"P6\n{width} {height}\n255\n".encode() + px


# ------------------------------------------------------------ decoders


def decode_image_header(payload: bytes) -> tuple[str, int, int, int]:
    """REAL pure-stdlib image header decode for BMP, binary PPM, and
    PNG: returns (format, width, height, bits-per-pixel). Formats
    needing a full codec library (JPEG's DCT entropy coding) raise —
    loud, never silently wrong."""
    if payload[:2] == b"BM":
        width, height = struct.unpack_from("<ii", payload, 18)
        bpp = struct.unpack_from("<H", payload, 28)[0]
        return "bmp", width, abs(height), bpp  # negative height = top-down
    if payload[:2] == b"P6":
        magic, w, h, maxval, _ = payload.split(None, 4)
        return "ppm", int(w), int(h), 24
    if payload[:8] == PNG_SIG:
        # IHDR is mandated to be the first chunk: length at 8, type at
        # 12, fields at 16 (width, height big-endian, then depth/type).
        w, h = struct.unpack_from(">II", payload, 16)
        depth, ctype = payload[24], payload[25]
        channels = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ctype)
        if channels is None:
            raise ValueError(f"invalid PNG color type {ctype}")
        return "png", w, h, depth * channels
    if payload[:3] == b"\xff\xd8\xff":
        raise NotImplementedError(
            "JPEG decode requires an image codec library (PIL/cv2), "
            "not present in this container"
        )
    raise ValueError(f"unrecognized image magic: {payload[:4]!r}")


# ------------------------------------------------------------ png

PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _png_chunk(typ: bytes, data: bytes) -> bytes:
    import zlib

    return (
        struct.pack(">I", len(data)) + typ + data
        + struct.pack(">I", zlib.crc32(typ + data))
    )


def _paeth(a: int, b: int, c: int) -> int:
    """The Paeth predictor (PNG spec §9.4): pick whichever of left /
    up / up-left is closest to a + b - c."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def encode_png(width: int, height: int, pixel_source: bytes) -> bytes:
    """A VALID 8-bit RGB PNG (signature, IHDR, zlib IDAT, IEND) — any
    viewer opens it. Pixels cycle through pixel_source. Deliberately
    adversarial to lazy decoders: scanline y uses filter type y % 5,
    so ALL FIVE filters (None/Sub/Up/Average/Paeth) appear in any
    image ≥5 rows and a decoder that skips un-filtering reads garbage
    pixels; the IDAT stream is split into TWO chunks, so a decoder
    that inflates only the first chunk truncates."""
    import zlib

    stride = width * 3
    src = pixel_source or b"\x00"
    raw = (src * (stride * height // len(src) + 1))[: stride * height]
    out = bytearray()
    prev = bytes(stride)
    for y in range(height):
        row = raw[y * stride:(y + 1) * stride]
        ft = y % 5
        out.append(ft)
        if ft == 0:    # None
            out += row
        elif ft == 1:  # Sub: predict from the pixel to the left
            out += bytes(
                (row[i] - (row[i - 3] if i >= 3 else 0)) & 0xFF
                for i in range(stride)
            )
        elif ft == 2:  # Up: predict from the pixel above
            out += bytes((row[i] - prev[i]) & 0xFF for i in range(stride))
        elif ft == 3:  # Average of left and up
            out += bytes(
                (row[i] - (((row[i - 3] if i >= 3 else 0) + prev[i]) >> 1))
                & 0xFF
                for i in range(stride)
            )
        else:          # Paeth
            out += bytes(
                (row[i] - _paeth(
                    row[i - 3] if i >= 3 else 0,
                    prev[i],
                    prev[i - 3] if i >= 3 else 0,
                )) & 0xFF
                for i in range(stride)
            )
        prev = row
    comp = zlib.compress(bytes(out))
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    mid = max(1, len(comp) // 2)
    return (
        PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", comp[:mid])
        + _png_chunk(b"IDAT", comp[mid:])
        + _png_chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> tuple[int, int, int, int]:
    """REAL pure-stdlib PNG decode: walks chunks (verifying each
    CRC32), concatenates every IDAT, zlib-inflates, and UN-FILTERS all
    five scanline filter types to recover the raw pixel bytes. Returns
    (width, height, bits-per-pixel, sum_px) where sum_px is the sum of
    all decoded pixel bytes — a DATA-level statistic, so a decoder
    that skips un-filtering, drops the second IDAT chunk, or misparses
    a chunk boundary fails the oracle, not just the header parse.
    Supports the 8-bit RGB non-interlaced subset this pipeline emits;
    everything else raises loudly."""
    import zlib

    if payload[:8] != PNG_SIG:
        raise ValueError(f"not a PNG payload: {payload[:4]!r}")
    pos, ihdr, idat = 8, None, bytearray()
    while pos + 12 <= len(payload):
        (ln,) = struct.unpack_from(">I", payload, pos)
        typ = payload[pos + 4:pos + 8]
        data = payload[pos + 8:pos + 8 + ln]
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + ln)
        if zlib.crc32(typ + data) != crc:
            raise ValueError(f"bad CRC in {typ!r} chunk")
        if typ == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", data)
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
        pos += 12 + ln
    if ihdr is None or not idat:
        raise ValueError("missing IHDR or IDAT chunk")
    w, h, depth, ctype, comp, filt, interlace = ihdr
    if (depth, ctype, comp, filt, interlace) != (8, 2, 0, 0, 0):
        raise NotImplementedError(
            f"only 8-bit RGB non-interlaced PNG decodes here (depth="
            f"{depth}, color_type={ctype}, interlace={interlace})"
        )
    raw = zlib.decompress(bytes(idat))
    stride = 3 * w
    if len(raw) != h * (stride + 1):
        raise ValueError("inflated IDAT length mismatch")
    prev = bytes(stride)
    sum_px = 0
    pos = 0
    for _ in range(h):
        ft = raw[pos]
        line = bytearray(raw[pos + 1:pos + 1 + stride])
        pos += 1 + stride
        if ft == 1:    # Sub
            for i in range(3, stride):
                line[i] = (line[i] + line[i - 3]) & 0xFF
        elif ft == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(stride):
                a = line[i - 3] if i >= 3 else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(stride):
                a = line[i - 3] if i >= 3 else 0
                c = prev[i - 3] if i >= 3 else 0
                line[i] = (line[i] + _paeth(a, prev[i], c)) & 0xFF
        elif ft != 0:
            raise ValueError(f"unknown scanline filter {ft}")
        sum_px += sum(line)
        prev = bytes(line)
    return w, h, 24, sum_px


def synthesize_png_assets(docs: DataFrame) -> DataFrame:
    """Turn each document into a real PNG asset, same deterministic
    geometry as the BMP path (width = 1 + doc_id % W_MOD, height = 1 +
    content_bytes % H_MOD, pixels = document bytes cycled) so the SQL
    oracle can predict both the dimensions AND the decoded pixel sum."""

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            payloads = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                raw = text.encode() if isinstance(text, str) else bytes(text)
                w = 1 + int(doc_id) % W_MOD
                h = 1 + len(raw) % H_MOD
                payloads.append(encode_png(w, h, raw))
            yield pd.DataFrame(
                {
                    "asset_id": pdf["doc_id"],
                    "payload": payloads,
                    "media_type": ["image/png"] * len(payloads),
                }
            )

    return docs.select("doc_id", "text").mapInPandas(
        run, "asset_id LONG, payload BINARY, media_type STRING"
    )


PNG_SCHEMA = (
    "asset_id LONG, media_type STRING, width INT, height INT, "
    "bpp INT, sum_px LONG"
)


def decode_png_assets(assets: DataFrame) -> DataFrame:
    """Arrow-batched PNG decode: one Python call per batch, each
    payload inflated and un-filtered by the real decoder."""

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out: dict[str, list] = {
                k: [] for k in (
                    "asset_id", "media_type", "width", "height",
                    "bpp", "sum_px",
                )
            }
            for aid, payload, mt in zip(
                pdf["asset_id"], pdf["payload"], pdf["media_type"]
            ):
                w, h, bpp, sum_px = decode_png(bytes(payload))
                out["asset_id"].append(aid)
                out["media_type"].append(mt)
                out["width"].append(w)
                out["height"].append(h)
                out["bpp"].append(bpp)
                out["sum_px"].append(sum_px)
            yield pd.DataFrame(out)

    return assets.mapInPandas(run, PNG_SCHEMA)


def _mean_byte(payload: bytes) -> float:
    """Deterministic stand-in feature (mean byte value) replacing the
    embedding-model call so batch plumbing is testable hermetically."""
    return sum(payload) / len(payload) if payload else 0.0


# ------------------------------------------------------------- audio

SAMPLE_RATES = (8000, 16000, 44100)  # picked by doc_id % 3
FRAME_MOD = 251  # n_frames = 1 + content_bytes % FRAME_MOD


def encode_wav(sample_rate: int, samples: bytes) -> bytes:
    """A VALID RIFF/WAVE file: 16-bit mono PCM, with a LIST/INFO chunk
    between fmt and data — so a correct reader must WALK chunks, not
    assume data starts at byte 44. Any audio player opens it."""
    n = len(samples)
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    chunks = (
        b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"LIST" + struct.pack("<I", 4) + b"INFO"
        + b"data" + struct.pack("<I", n) + samples
    )
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks


def decode_wav(payload: bytes) -> tuple[int, int, int, int, int]:
    """REAL pure-stdlib WAV decode: walks RIFF chunks (skipping
    unknown ones, honoring word alignment), parses the fmt chunk, and
    reads the PCM samples. Returns (sample_rate, n_channels, bits,
    n_frames, sum_abs) where sum_abs is the sum of |sample| over the
    signed 16-bit samples — a DATA-level statistic, so a decoder that
    only parses headers (or mis-handles signedness) fails the oracle."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError(f"not a RIFF/WAVE payload: {payload[:4]!r}")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos:pos + 4]
        sz = struct.unpack_from("<I", payload, pos + 4)[0]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", payload, pos + 8)
        elif cid == b"data":
            data = payload[pos + 8:pos + 8 + sz]
        pos += 8 + sz + (sz & 1)  # RIFF chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt or data chunk")
    audio_format, n_channels, sample_rate, _, block_align, bits = fmt
    if audio_format != 1 or bits != 16:
        raise NotImplementedError(
            f"only 16-bit PCM decodes here (format={audio_format}, "
            f"bits={bits}); compressed codecs need a library"
        )
    n_frames = len(data) // block_align
    sum_abs = 0
    for k in range(n_frames * n_channels):
        (v,) = struct.unpack_from("<h", data, 2 * k)
        sum_abs += abs(v)
    return sample_rate, n_channels, bits, n_frames, sum_abs


def synthesize_wav_assets(docs: DataFrame) -> DataFrame:
    """Turn each document into a real WAV asset: sample rate picked by
    doc_id % 3, frame count 1 + content_bytes % FRAME_MOD, samples
    from the document bytes cycled — with every stream byte at
    position j ≡ 1 (mod 3) XOR'd with 0x80 so roughly a third of the
    int16 samples come out NEGATIVE (the corpus is ASCII, all bytes
    < 0x80; without the flip every sample would be positive and a
    decoder that read the samples unsigned would still pass)."""

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            payloads = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                raw = text.encode() if isinstance(text, str) else bytes(text)
                src = raw or b"\x00"
                n_frames = 1 + len(raw) % FRAME_MOD
                rate = SAMPLE_RATES[int(doc_id) % 3]
                data = bytes(
                    src[j % len(src)] ^ (0x80 if j % 3 == 1 else 0)
                    for j in range(2 * n_frames)
                )
                payloads.append(encode_wav(rate, data))
            yield pd.DataFrame(
                {
                    "asset_id": pdf["doc_id"],
                    "payload": payloads,
                    "media_type": ["audio/wav"] * len(payloads),
                }
            )

    return docs.select("doc_id", "text").mapInPandas(
        run, "asset_id LONG, payload BINARY, media_type STRING"
    )


AUDIO_SCHEMA = (
    "asset_id LONG, media_type STRING, sample_rate INT, n_channels INT, "
    "bits INT, n_frames LONG, sum_abs LONG"
)


def decode_audio(assets: DataFrame) -> DataFrame:
    """Arrow-batched audio decode: one Python call per batch, each
    payload parsed by the real chunk-walking WAV decoder."""

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out: dict[str, list] = {
                k: [] for k in (
                    "asset_id", "media_type", "sample_rate", "n_channels",
                    "bits", "n_frames", "sum_abs",
                )
            }
            for aid, payload, mt in zip(
                pdf["asset_id"], pdf["payload"], pdf["media_type"]
            ):
                rate, ch, bits, frames, sabs = decode_wav(bytes(payload))
                out["asset_id"].append(aid)
                out["media_type"].append(mt)
                out["sample_rate"].append(rate)
                out["n_channels"].append(ch)
                out["bits"].append(bits)
                out["n_frames"].append(frames)
                out["sum_abs"].append(sabs)
            yield pd.DataFrame(out)

    return assets.mapInPandas(run, AUDIO_SCHEMA)


# ------------------------------------------------------------ pipeline


def synthesize_bmp_assets(docs: DataFrame) -> DataFrame:
    """Turn each document into a real BMP asset: width/height derive
    deterministically from doc_id / content length (so an oracle can
    predict them), pixels from the document bytes."""

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            payloads = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                raw = text.encode() if isinstance(text, str) else bytes(text)
                w = 1 + int(doc_id) % W_MOD
                h = 1 + len(raw) % H_MOD
                payloads.append(encode_bmp(w, h, raw))
            yield pd.DataFrame(
                {
                    "asset_id": pdf["doc_id"],
                    "payload": payloads,
                    "media_type": ["image/bmp"] * len(payloads),
                }
            )

    return docs.select("doc_id", "text").mapInPandas(
        run, "asset_id LONG, payload BINARY, media_type STRING"
    )


def decode_and_featurize(assets: DataFrame) -> DataFrame:
    """The mapInPandas decode/featurize pipeline: one Arrow batch per
    Python call, constant memory. Image assets go through the REAL
    header decoder (decode_image_header); non-image payloads keep
    null dimensions and the stand-in feature."""

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out: dict[str, list] = {
                k: [] for k in (
                    "asset_id", "media_type", "width", "height",
                    "bpp", "n_bytes", "feature_norm",
                )
            }
            for aid, payload, mt in zip(
                pdf["asset_id"], pdf["payload"], pdf["media_type"]
            ):
                p = bytes(payload)
                if mt.startswith("image/"):
                    fmt, w, h, bpp = decode_image_header(p)
                    out["width"].append(w)
                    out["height"].append(h)
                    out["bpp"].append(bpp)
                else:
                    out["width"].append(None)
                    out["height"].append(None)
                    out["bpp"].append(None)
                out["asset_id"].append(aid)
                out["media_type"].append(mt)
                out["n_bytes"].append(len(p))
                out["feature_norm"].append(_mean_byte(p))
            yield pd.DataFrame(out)

    return assets.mapInPandas(run, DECODED_SCHEMA)


# ------------------------------------------------------------- video

VID_W_MOD = 3   # width  = 2 + doc_id % 3
VID_H_MOD = 3   # height = 2 + (doc_id // 3) % 3
VID_F_MOD = 17  # n_frames = 1 + content_bytes % 17
VID_SAMPLE_EVERY = 2  # keep frames 0, 2, 4, ...


def encode_y4m(width: int, height: int, frames: list[bytes]) -> bytes:
    """A VALID YUV4MPEG2 (.y4m) stream: plain-text stream header, then
    one FRAME marker line per frame followed by the raw plane bytes
    (C444: full-resolution Y, U, V planes = 3*w*h bytes). ffmpeg/
    mplayer open these directly — it is the standard uncompressed
    interchange format, and the whole container is stdlib-writable."""
    head = (
        f"YUV4MPEG2 W{width} H{height} F25:1 Ip A1:1 C444\n".encode()
    )
    parts = [head]
    for fr in frames:
        if len(fr) != 3 * width * height:
            raise ValueError("frame size mismatch")
        parts.append(b"FRAME\n")
        parts.append(fr)
    return b"".join(parts)


def decode_y4m_sample(
    payload: bytes, every: int = VID_SAMPLE_EVERY
) -> tuple[int, int, int, int, int]:
    """REAL pure-stdlib Y4M decode + frame sampling: parses the stream
    header tokens (W/H/C), then WALKS the FRAME markers (each may
    carry parameters up to its newline, so the walk must scan for the
    terminator, not assume 6 bytes), slicing each frame's 3*w*h plane
    bytes. Every `every`-th frame is 'sampled': counted and its pixel
    bytes summed — the data-level statistic that catches a walker
    that drifts out of frame alignment.

    Returns (width, height, n_frames, n_sampled, sum_px_sampled)."""
    nl = payload.index(b"\n")
    tokens = payload[:nl].decode("ascii").split(" ")
    if tokens[0] != "YUV4MPEG2":
        raise ValueError(f"not a YUV4MPEG2 stream: {tokens[0]!r}")
    width = height = None
    colorspace = "420"  # the spec default when no C tag is present
    for tok in tokens[1:]:
        if tok.startswith("W"):
            width = int(tok[1:])
        elif tok.startswith("H"):
            height = int(tok[1:])
        elif tok.startswith("C"):
            colorspace = tok[1:]
    if width is None or height is None:
        raise ValueError("stream header missing W or H")
    if colorspace != "444":
        raise NotImplementedError(
            f"only C444 plane layout decodes here (got C{colorspace}); "
            "subsampled layouts need fractional plane arithmetic"
        )
    fsize = 3 * width * height
    pos = nl + 1
    n_frames = n_sampled = sum_px = 0
    while pos < len(payload):
        if payload[pos:pos + 5] != b"FRAME":
            raise ValueError(f"expected FRAME marker at byte {pos}")
        end = payload.index(b"\n", pos)
        data = payload[end + 1:end + 1 + fsize]
        if len(data) != fsize:
            raise ValueError("truncated frame plane data")
        if n_frames % every == 0:
            n_sampled += 1
            sum_px += sum(data)
        n_frames += 1
        pos = end + 1 + fsize
    return width, height, n_frames, n_sampled, sum_px


def synthesize_y4m_assets(docs: DataFrame) -> DataFrame:
    """Turn each document into a real .y4m video asset: geometry from
    doc_id, frame count 1 + content_bytes % VID_F_MOD, plane bytes =
    the document bytes cycled across the WHOLE stream (position j in
    the concatenated frames reads src[j % L]) — so an oracle can
    predict any frame's pixel sum arithmetically."""

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            payloads = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                raw = text.encode() if isinstance(text, str) else bytes(text)
                src = raw or b"\x00"
                did = int(doc_id)
                w = 2 + did % VID_W_MOD
                h = 2 + (did // VID_W_MOD) % VID_H_MOD
                n_frames = 1 + len(raw) % VID_F_MOD
                fsize = 3 * w * h
                stream = bytes(
                    src[j % len(src)] for j in range(n_frames * fsize)
                )
                frames = [
                    stream[f * fsize:(f + 1) * fsize]
                    for f in range(n_frames)
                ]
                payloads.append(encode_y4m(w, h, frames))
            yield pd.DataFrame(
                {
                    "asset_id": pdf["doc_id"],
                    "payload": payloads,
                    "media_type": ["video/x-yuv4mpeg"] * len(payloads),
                }
            )

    return docs.select("doc_id", "text").mapInPandas(
        run, "asset_id LONG, payload BINARY, media_type STRING"
    )


VIDEO_SCHEMA = (
    "asset_id LONG, media_type STRING, width INT, height INT, "
    "n_frames INT, n_sampled INT, sum_px BIGINT"
)


def decode_video_framesample(assets: DataFrame) -> DataFrame:
    """Arrow-batched video decode + frame sampling: one Python call
    per batch; each payload goes through the real Y4M walker."""

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out: dict[str, list] = {
                k: [] for k in (
                    "asset_id", "media_type", "width", "height",
                    "n_frames", "n_sampled", "sum_px",
                )
            }
            for aid, payload, mt in zip(
                pdf["asset_id"], pdf["payload"], pdf["media_type"]
            ):
                w, h, nf, ns, spx = decode_y4m_sample(bytes(payload))
                out["asset_id"].append(aid)
                out["media_type"].append(mt)
                out["width"].append(w)
                out["height"].append(h)
                out["n_frames"].append(nf)
                out["n_sampled"].append(ns)
                out["sum_px"].append(spx)
            yield pd.DataFrame(out)

    return assets.mapInPandas(run, VIDEO_SCHEMA)


# ------------------------------------------------- perceptual dedup

# aHash geometry for mm_image_dedup_ahash: content-derived dims (so
# byte-identical documents produce byte-identical images regardless of
# doc_id), 16 hash bits, +10 brightness shift for the altered variant.
PH_W_MOD, PH_H_MOD = 13, 7
PH_BITS = 16
PH_SHIFT = 10


def encode_bmp_topdown(width: int, height: int, px: bytes) -> bytes:
    """A valid 24-bit BMP with NEGATIVE height (top-down row order per
    the BITMAPINFOHEADER spec), from exactly 3*w*h logical pixel bytes
    in generation order — padding inserted per row at encode time so
    the logical stream survives a decode round-trip untouched."""
    row_len = width * 3
    pad = b"\x00" * ((4 - row_len % 4) % 4)
    data = b"".join(
        px[r * row_len:(r + 1) * row_len] + pad for r in range(height)
    )
    file_header = b"BM" + struct.pack("<IHHI", 54 + len(data), 0, 0, 54)
    info_header = struct.pack(
        "<IiiHHIIiiII", 40, width, -height, 1, 24, 0, len(data),
        2835, 2835, 0, 0,
    )
    return file_header + info_header + data


def decode_bmp_pixels(payload: bytes) -> tuple[int, int, bytes]:
    """REAL BMP pixel decode: parse headers, honor the row stride and
    the top-down/bottom-up flag, strip padding; returns (w, h, logical
    row-major pixel bytes)."""
    if payload[:2] != b"BM":
        raise ValueError(f"not a BMP: {payload[:2]!r}")
    off = struct.unpack_from("<I", payload, 10)[0]
    w, h_signed = struct.unpack_from("<ii", payload, 18)
    h = abs(h_signed)
    row_len, stride = w * 3, ((w * 3 + 3) // 4) * 4
    rows = [
        payload[off + r * stride: off + r * stride + row_len]
        for r in range(h)
    ]
    if h_signed > 0:  # bottom-up storage: restore logical order
        rows.reverse()
    return w, h, b"".join(rows)


def ahash_bits(px: bytes) -> int:
    """Average-hash over PH_BITS contiguous blocks: bit k set iff
    block k's mean exceeds the global mean — compared in EXACT integer
    arithmetic (sum_k * N > total * n_k), so the hash is invariant
    under any uniform brightness shift that avoids clipping: shifting
    every pixel by c adds c*n_k and c*N to the two sides identically."""
    n = len(px)
    if n == 0:
        return 0
    sums = [0] * PH_BITS
    cnts = [0] * PH_BITS
    for j in range(n):
        k = j * PH_BITS // n
        sums[k] += px[j]
        cnts[k] += 1
    total = sum(sums)
    h = 0
    for k in range(PH_BITS):
        if sums[k] * n > total * cnts[k]:
            h |= 1 << k
    return h


def phash_dedup_assets(docs: DataFrame) -> DataFrame:
    """Synthesize TWO real BMP assets per document — the original and
    a +PH_SHIFT uniformly brightened copy (the corpus is ASCII, so no
    byte clips) — then run encode -> REAL pixel decode -> aHash per
    asset. The brightened copy is byte-different (md5 dedup misses it)
    but aHash-identical (perceptual dedup catches it)."""

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out: dict[str, list] = {
                k: [] for k in ("asset_id", "doc_id", "width", "height",
                                "ahash")
            }
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                raw = text.encode() if isinstance(text, str) else bytes(text)
                w = 1 + len(raw) % PH_W_MOD
                h = 1 + (len(raw) // 7) % PH_H_MOD
                size = 3 * w * h
                src = raw or b"\x00"
                base = (src * (size // len(src) + 1))[:size]
                for variant, px in enumerate(
                    (base, bytes(b + PH_SHIFT for b in base))
                ):
                    payload = encode_bmp_topdown(w, h, px)
                    dw, dh, dpx = decode_bmp_pixels(payload)
                    out["asset_id"].append(int(doc_id) * 2 + variant)
                    out["doc_id"].append(int(doc_id))
                    out["width"].append(dw)
                    out["height"].append(dh)
                    out["ahash"].append(ahash_bits(dpx))
            yield pd.DataFrame(out)

    return docs.select("doc_id", "text").mapInPandas(
        run,
        "asset_id LONG, doc_id LONG, width INT, height INT, ahash LONG",
    )


AUDIO_FEATURE_SCHEMA = (
    "asset_id long, n_samples long, zero_crossings long, "
    "energy long, rms double"
)


def decode_wav_features(payload: bytes) -> tuple[int, int, int]:
    """Sample-level FEATURE extraction on top of the real RIFF walk:
    (n_samples, zero_crossings, energy). Zero-crossing counts sign
    flips between consecutive signed samples (x >= 0 is non-negative);
    energy is the exact integer sum of squares. These are the two
    classic frame features (voiced/unvoiced + loudness) computable
    without an FFT."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError(f"not a RIFF/WAVE payload: {payload[:4]!r}")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos:pos + 4]
        sz = struct.unpack_from("<I", payload, pos + 4)[0]
        if cid == b"fmt ":
            fmt = struct.unpack_from("<HHIIHH", payload, pos + 8)
        elif cid == b"data":
            data = payload[pos + 8:pos + 8 + sz]
        pos += 8 + sz + (sz & 1)
    if fmt is None or data is None:
        raise ValueError("missing fmt or data chunk")
    _, n_channels, _, _, block_align, _ = fmt
    n = (len(data) // block_align) * n_channels
    zc, energy, prev_neg = 0, 0, None
    for k in range(n):
        (v,) = struct.unpack_from("<h", data, 2 * k)
        neg = v < 0
        if prev_neg is not None and neg != prev_neg:
            zc += 1
        prev_neg = neg
        energy += v * v
    return n, zc, energy


def audio_features(assets: DataFrame) -> DataFrame:
    """Arrow-batched audio feature extraction (energy + ZCR per
    asset) through the same chunk-walking decoder as decode_audio."""

    def run(batches: Iterator) -> Iterator:
        import math

        import pandas as pd

        for pdf in batches:
            out: dict[str, list] = {
                k: [] for k in (
                    "asset_id", "n_samples", "zero_crossings",
                    "energy", "rms",
                )
            }
            for aid, payload in zip(pdf["asset_id"], pdf["payload"]):
                n, zc, energy = decode_wav_features(bytes(payload))
                out["asset_id"].append(aid)
                out["n_samples"].append(n)
                out["zero_crossings"].append(zc)
                out["energy"].append(energy)
                # floor(x*1e6+0.5)/1e6, NOT round(x, 6): Python's
                # round and DuckDB's ROUND disagree on values whose
                # decimal repr straddles a half — first observed at
                # sf10 magnitude (1 ulp in the 6th decimal). The
                # floor trick is identical IEEE arithmetic on both
                # engines (the round-5 exactness rule).
                out["rms"].append(
                    math.floor(math.sqrt(energy / n) * 1e6 + 0.5) / 1e6
                )
            yield pd.DataFrame(out)

    return assets.mapInPandas(run, AUDIO_FEATURE_SCHEMA)
