"""Multimodal column operators: opaque binary content + typed metadata
(the training-pipeline pattern for image/audio/video at 100 TB).

Design: media bytes live in a ``binary`` column next to typed metadata
(media_type, n_bytes, digest); decode / feature-extraction / resize /
frame-sampling run as Arrow-batched ``mapInPandas`` stages so each
executor processes whole record batches with a real decoder library.

This container has no image/audio libs, so the actual decoders are
STUBS behind ``Decoder``: ``FakeDecoder`` produces deterministic
pseudo-features from the content digest (making the plumbing — schema,
batch shape, partitioning — fully testable), and ``LibraryDecoder``
raises ``NotImplementedError`` with the integration point documented.
Swapping in Pillow/torchaudio is a one-class change; no Spark-side
code moves.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bio_lakehouse_spark.operators.skew import spread

DECODED_SCHEMA = (
    "doc_id long, media_type string, n_bytes long, content_md5 string, "
    "width int, height int, n_channels int, feature_vec array<float>"
)


class Decoder:
    """Decode one media payload → (width, height, channels, features)."""

    def decode(self, content: bytes, media_type: str) -> tuple:
        raise NotImplementedError


class LibraryDecoder(Decoder):
    """Real decoder integration point (Pillow / libav / torchaudio).

    Not available in this environment — the class exists so the
    mapInPandas plumbing has a production target with the same
    signature."""

    def decode(self, content: bytes, media_type: str) -> tuple:
        raise NotImplementedError(
            "media decode libraries are not installed in this container; "
            "plug Pillow/torchaudio here — the Spark plumbing is complete"
        )


class FakeDecoder(Decoder):
    """Deterministic pseudo-decode from the md5 digest: stable fake
    dimensions and an 8-dim feature vector. Exercises every byte of
    the distributed plumbing without media libs."""

    def decode(self, content: bytes, media_type: str) -> tuple:
        h = hashlib.md5(content).digest()
        width = 16 + h[0]
        height = 16 + h[1]
        channels = 1 + h[2] % 4
        features = [round(b / 255.0, 6) for b in h[3:11]]
        return width, height, channels, features


def attach_binary(
    df: DataFrame, content_col: str, media_type: str = "application/octet-stream"
) -> DataFrame:
    """Wrap a string/bytes column as the (content, media_type,
    n_bytes, content_md5) multimodal contract."""
    content = (
        F.encode(F.col(content_col), "UTF-8")
        if dict(df.dtypes)[content_col] == "string"
        else F.col(content_col)
    )
    return df.withColumn("content", content).select(
        "*",
        F.lit(media_type).alias("media_type"),
        F.octet_length("content").cast("long").alias("n_bytes"),
        F.md5("content").alias("content_md5"),
    )


def decode_batches(
    df: DataFrame,
    decoder: Decoder | None = None,
    id_col: str = "doc_id",
) -> DataFrame:
    """mapInPandas decode: Arrow ships (id, content, media_type)
    batches to Python; the decoder runs per record within a batch —
    vectorized transfer, library-friendly loop. The input is spread
    to the session's parallelism first (``skew.spread``); batch size is
    capped by ``spark.sql.execution.arrow.maxRecordsPerBatch``, and a
    caller with very large media cells can additionally
    ``repartitionByRange(n, id_col)`` to bound per-task bytes."""
    dec = decoder or FakeDecoder()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "doc_id": pdf[id_col],
                "media_type": pdf["media_type"],
                "n_bytes": pdf["n_bytes"],
                "content_md5": pdf["content_md5"],
            }
            # NULL content decodes to NULL metadata (r12 edge-hunt):
            # a row with a missing payload used to abort the whole
            # Arrow batch with an opaque ``bytes(None)`` TypeError —
            # same posture as NULL casts staying NULL in the silver
            # layer; truly malformed BYTES still fail loud inside the
            # decoder itself.
            dims = [
                (None, None, None, None)
                if c is None
                else dec.decode(bytes(c), m)
                for c, m in zip(pdf["content"], pdf["media_type"])
            ]
            out["width"] = [d[0] for d in dims]
            out["height"] = [d[1] for d in dims]
            out["n_channels"] = [d[2] for d in dims]
            out["feature_vec"] = [d[3] for d in dims]
            yield pd.DataFrame(out)

    cols = [id_col, "content", "media_type", "n_bytes", "content_md5"]
    return spread(df.select(cols), id_col).mapInPandas(
        run, schema=DECODED_SCHEMA
    )


def resize_spec(width: int, height: int, target: int) -> tuple[int, int]:
    """Aspect-preserving resize dims (pure arithmetic — the Spark-side
    planning half of a resize stage; the pixel work belongs to the
    decoder batch)."""
    if width <= 0 or height <= 0:
        # 0×0 (or negative) dimensions are malformed metadata — fail
        # loud with a named error, not a bare ZeroDivisionError from
        # the aspect ratio (r12 edge-hunt).
        raise ValueError(
            f"resize_spec: non-positive dimensions {width}x{height}"
        )
    if width >= height:
        return target, max(1, round(height * target / width))
    return max(1, round(width * target / height)), target


def frame_sample_offsets(
    duration_s: float, fps: float, n_frames: int
) -> list[float]:
    """Uniform frame-sample timestamps for video decode (the planning
    half of frame extraction)."""
    if n_frames <= 0 or duration_s <= 0:
        return []
    step = duration_s / n_frames
    return [round(step * (i + 0.5), 6) for i in range(n_frames)]


def frame_sample_batches(
    df: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "content",
    n_frames: int = 4,
    fps: float = 24.0,
) -> DataFrame:
    """Video frame sampling as a 1→N Arrow expansion (the UDTF
    shape): each media row yields ``n_frames`` uniformly-spaced frame
    rows via ``mapInPandas`` — batch in, LONGER batch out, which
    column-expression ``explode`` can't do once a real decoder (the
    part that must run in Python) is involved.

    Probe metadata comes from the deterministic fake (duration_s =
    1 + first md5 byte — the stand-in for an ffprobe call, same
    pattern as ``FakeDecoder``); offsets are the uniform mid-point
    grid from ``frame_sample_offsets``. Durations are integral and
    n_frames a power of two, so offsets are exact binary fractions —
    cross-engine reproducible with no rounding ties."""
    import hashlib

    import pandas as pd

    schema = (
        f"{id_col} long, duration_s double, frame_idx int,"
        " t_offset_s double"
    )

    def gen(batches):
        for pdf in batches:
            rows = []
            for _id, blob in zip(pdf[id_col], pdf[content_col]):
                if blob is None:
                    # NULL payload (r13 all-NULL sweep): a media row
                    # with no bytes has nothing to sample — 0 frames,
                    # never a bytes(None) abort of the Arrow batch.
                    continue
                meta = hashlib.md5(bytes(blob)).hexdigest()
                duration = 1.0 + int(meta[:2], 16)
                for i, t in enumerate(
                    frame_sample_offsets(duration, fps, n_frames)
                ):
                    rows.append((_id, duration, i, t))
            yield pd.DataFrame(
                rows,
                columns=[id_col, "duration_s", "frame_idx", "t_offset_s"],
            )

    return spread(df.select(id_col, content_col), id_col).mapInPandas(
        gen, schema
    )


def audio_chunk_offsets(
    duration_s: float, window_s: float = 0.5, hop_s: float = 0.25
) -> list[tuple[float, float]]:
    """Sliding-window audio chunk spans [(t_start, t_end), ...] —
    the planning half of ASR/feature-extraction chunking. With
    window/hop as exact binary fractions and integral durations,
    every span is bit-reproducible on any engine."""
    if duration_s < window_s:
        return [(0.0, duration_s)] if duration_s > 0 else []
    n = int((duration_s - window_s) / hop_s) + 1
    return [(round(i * hop_s, 6), round(i * hop_s + window_s, 6)) for i in range(n)]


def audio_chunk_batches(
    df: DataFrame,
    id_col: str = "doc_id",
    content_col: str = "content",
    window_s: float = 0.5,
    hop_s: float = 0.25,
) -> DataFrame:
    """Audio chunking as the 1→N Arrow expansion (same mapInPandas
    UDTF shape as ``frame_sample_batches``, the audio sibling): each
    media row yields overlapping fixed-window chunks with sample
    counts — what an ASR/audio-embedding stage consumes. Probe
    metadata is the deterministic fake (duration = 1 + first md5
    byte seconds, sample_rate = 8000·(1 + second md5 byte % 3) Hz —
    the ffprobe stand-in, FakeDecoder pattern), so the plumbing —
    schema, batch shape, expansion — runs for real and is
    oracle-reproducible; a production decoder drops into the same
    generator."""
    import hashlib

    import pandas as pd

    schema = (
        f"{id_col} long, duration_s double, sample_rate int,"
        " chunk_idx int, t_start_s double, t_end_s double,"
        " n_samples long"
    )

    def gen(batches):
        for pdf in batches:
            rows = []
            for _id, blob in zip(pdf[id_col], pdf[content_col]):
                if blob is None:
                    # NULL payload (r13 all-NULL sweep): no bytes →
                    # no chunks, same contract as frame sampling.
                    continue
                h = hashlib.md5(bytes(blob)).digest()
                duration = 1.0 + h[0] % 32
                rate = 8000 * (1 + h[1] % 3)
                for i, (t0, t1) in enumerate(
                    audio_chunk_offsets(duration, window_s, hop_s)
                ):
                    rows.append(
                        (_id, duration, rate, i, t0, t1,
                         int(round((t1 - t0) * rate)))
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    id_col, "duration_s", "sample_rate", "chunk_idx",
                    "t_start_s", "t_end_s", "n_samples",
                ],
            )

    return spread(df.select(id_col, content_col), id_col).mapInPandas(
        gen, schema
    )


class HeaderDecoder(Decoder):
    """REAL decoder for the media formats that need no library
    (r8 — shrinks the ``LibraryDecoder`` seam to JPEG/video/lossy
    audio only): uncompressed BMP (``image/bmp``), PCM WAV
    (``audio/wav``), full PNG (``image/png`` — stdlib zlib inflate,
    all five scanline filters, color types 0/2/3/4/6 at bit depth 8),
    and GIF (``image/gif`` — real GIF-variant LZW decompression,
    first frame of animations), parsed with stdlib
    ``struct``/``zlib`` + numpy.

    Contract mapping (DECODED_SCHEMA): BMP/PNG/GIF → (width, height,
    channels, features = 8-octile RMS of the pixel bytes / 255);
    WAV → (width = n_frames, height = 1, channels, features = 8-band
    RMS of the normalized PCM16 signal). Unknown media types — and
    variants outside the supported profiles (16-bit or Adam7 PNG,
    interlaced GIF) — delegate to ``fallback`` (default: FakeDecoder,
    so a mixed corpus still decodes everything deterministically)."""

    def __init__(self, fallback: Decoder | None = None):
        self.fallback = fallback if fallback is not None else FakeDecoder()
        if HeaderDecoder._G711_MU is None:
            HeaderDecoder._G711_MU, HeaderDecoder._G711_A = (
                self._g711_tables()
            )

    @staticmethod
    def _g711_tables():
        """ITU-T G.711 expansion tables (mu-law and A-law byte →
        16-bit linear), built from the spec formulas."""
        import numpy as np

        mu = np.zeros(256, dtype=np.int16)
        for i in range(256):
            u = ~i & 0xFF
            sign = u & 0x80
            exp = (u >> 4) & 0x07
            mant = u & 0x0F
            mag = ((mant << 3) + 0x84) << exp
            mag -= 0x84
            mu[i] = -mag if sign else mag
        al = np.zeros(256, dtype=np.int16)
        for i in range(256):
            a = i ^ 0x55
            sign = a & 0x80
            exp = (a >> 4) & 0x07
            mant = a & 0x0F
            if exp == 0:
                mag = (mant << 4) + 8
            else:
                mag = ((mant << 4) + 0x108) << (exp - 1)
            # A-law sign convention (ITU-T G.711 / Sun / ffmpeg): the
            # sign bit SET after the 0x55 XOR means POSITIVE — e.g.
            # byte 0x55 → -8, byte 0xD5 → +8 (audioop.alaw2lin
            # agrees). Was inverted pre-r9; RMS features were
            # unaffected (sign-invariant) but any waveform consumer
            # would have seen a negated signal.
            al[i] = mag if sign else -mag
        return mu, al

    # class-level lazy init happens on first access below
    _G711_MU, _G711_A = None, None

    def decode(self, content: bytes, media_type: str) -> tuple:
        if media_type == "image/bmp" and content[:2] == b"BM":
            return self._bmp(content)
        if media_type == "audio/wav" and content[:4] == b"RIFF":
            return self._wav(content)
        if (
            media_type == "image/png"
            and content[:8] == b"\x89PNG\r\n\x1a\n"
        ):
            try:
                return self._png(content)
            except ValueError:
                return self.fallback.decode(content, media_type)
        if media_type == "image/gif" and content[:4] == b"GIF8":
            try:
                return self._gif(content)
            except ValueError:
                return self.fallback.decode(content, media_type)
        return self.fallback.decode(content, media_type)

    @staticmethod
    def _octile_stats(arr, scale: float) -> list:
        import numpy as np

        if arr.size == 0:
            return [0.0] * 8
        chunks = np.array_split(arr.astype("float64"), 8)
        return [
            round(float(np.sqrt(np.mean(c * c)) / scale), 6) if c.size else 0.0
            for c in chunks
        ]

    def _bmp(self, b: bytes) -> tuple:
        import struct as _struct

        import numpy as np

        data_off = _struct.unpack_from("<I", b, 10)[0]
        width = _struct.unpack_from("<i", b, 18)[0]
        height = abs(_struct.unpack_from("<i", b, 22)[0])
        bitcount = _struct.unpack_from("<H", b, 28)[0]
        channels = max(1, bitcount // 8)
        px = np.frombuffer(b, dtype=np.uint8, offset=data_off)
        # BMP rows are 4-byte padded and files may carry trailing
        # bytes: feature stats must cover exactly height rows of
        # width*channels PIXEL bytes, not the padding (which would
        # skew the RMS octiles whenever width*channels % 4 != 0).
        row_px = width * channels
        stride = (row_px + 3) & ~3
        if row_px > 0 and px.size >= stride * height:
            px = (
                px[: stride * height]
                .reshape(height, stride)[:, :row_px]
                .reshape(-1)
            )
        return width, height, channels, self._octile_stats(px, 255.0)

    def _png(self, b: bytes) -> tuple:
        """Full PNG decode with no media library: chunk walk →
        IHDR/PLTE/IDAT → stdlib zlib inflate → per-scanline
        un-filtering (None/Sub/Up/Average/Paeth, PNG spec §9).
        Sub/Up are vectorized (per-lane cumsum / row add); Average
        and Paeth carry a left-pixel dependency and run scalar.
        Supported profile: bit depth 8, color types 0 (gray),
        2 (RGB), 3 (palette → expanded to RGB), 4 (gray+alpha),
        6 (RGBA), non-interlaced. Anything else raises ValueError
        (→ caller falls back)."""
        import struct as _struct
        import zlib

        import numpy as np

        pos, meta, plte, idat = 8, None, None, bytearray()
        while pos + 8 <= len(b):
            size = _struct.unpack_from(">I", b, pos)[0]
            cid = b[pos + 4 : pos + 8]
            body = b[pos + 8 : pos + 8 + size]
            if cid == b"IHDR":
                meta = _struct.unpack(">IIBBBBB", body)
            elif cid == b"PLTE":
                plte = np.frombuffer(
                    body[: len(body) // 3 * 3], dtype=np.uint8
                ).reshape(-1, 3)
            elif cid == b"IDAT":
                idat += body
            elif cid == b"IEND":
                break
            pos += 12 + size  # length + type + data + crc
        if meta is None:
            raise ValueError("PNG missing IHDR")
        width, height, bitd, ctype, comp, filt, interlace = meta
        n_ch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}.get(ctype)
        if (
            n_ch is None
            or bitd != 8
            or comp != 0
            or filt != 0
            or interlace != 0
        ):
            raise ValueError(
                "unsupported PNG profile (need bit depth 8, "
                "non-interlaced, color type 0/2/3/4/6)"
            )
        raw = zlib.decompress(bytes(idat))
        stride = width * n_ch
        if len(raw) < height * (stride + 1):
            raise ValueError("PNG pixel data truncated")
        px = np.zeros((height, stride), dtype=np.uint8)
        prev = np.zeros(stride, dtype=np.int64)
        off = 0
        for y in range(height):
            ftype = raw[off]
            line = np.frombuffer(
                raw, np.uint8, stride, off + 1
            ).astype(np.int64)
            off += 1 + stride
            if ftype == 0:
                recon = line
            elif ftype == 1:  # Sub: per-channel-lane prefix sum
                recon = (
                    np.cumsum(line.reshape(-1, n_ch), axis=0).reshape(-1)
                    & 0xFF
                )
            elif ftype == 2:  # Up
                recon = (line + prev) & 0xFF
            elif ftype in (3, 4):  # Average / Paeth: left-dependent
                recon = np.zeros(stride, dtype=np.int64)
                for x in range(stride):
                    a = int(recon[x - n_ch]) if x >= n_ch else 0
                    up = int(prev[x])
                    if ftype == 3:
                        pred = (a + up) // 2
                    else:
                        c = int(prev[x - n_ch]) if x >= n_ch else 0
                        p = a + up - c
                        pa, pb, pc = abs(p - a), abs(p - up), abs(p - c)
                        pred = (
                            a
                            if pa <= pb and pa <= pc
                            else (up if pb <= pc else c)
                        )
                    recon[x] = (line[x] + pred) & 0xFF
            else:
                raise ValueError(f"unknown PNG filter type {ftype}")
            px[y] = recon.astype(np.uint8)
            prev = recon
        flat = px.reshape(-1)
        if ctype == 3:
            if plte is None:
                raise ValueError("palette PNG without PLTE chunk")
            flat = plte[flat].reshape(-1)
            n_ch = 3
        return width, height, n_ch, self._octile_stats(flat, 255.0)

    def _gif(self, b: bytes) -> tuple:
        """GIF87a/89a decode with no media library: logical screen
        descriptor → color tables → the FIRST image block's LZW
        stream, decompressed with the real GIF-variant LZW (LSB-first
        variable-width codes, clear/end codes, 12-bit table cap),
        palette-expanded to RGB for the feature contract. Animated
        GIFs decode their first frame; interlaced frames raise
        ValueError (→ caller falls back)."""
        import struct as _struct

        import numpy as np

        if len(b) < 13:
            raise ValueError("GIF truncated before screen descriptor")
        packed = b[10]
        pos = 13
        gct = None
        if packed & 0x80:
            n = 3 * (2 << (packed & 0x07))
            gct = np.frombuffer(b, np.uint8, n, pos).reshape(-1, 3)
            pos += n
        while pos < len(b):
            block = b[pos]
            if block == 0x21:  # extension: label + sub-blocks
                pos += 2
                while pos < len(b) and b[pos] != 0:
                    pos += 1 + b[pos]
                pos += 1
            elif block == 0x2C:  # image descriptor
                width, height = _struct.unpack_from("<HH", b, pos + 5)
                ipacked = b[pos + 9]
                pos += 10
                table = gct
                if ipacked & 0x80:
                    n = 3 * (2 << (ipacked & 0x07))
                    table = np.frombuffer(b, np.uint8, n, pos).reshape(
                        -1, 3
                    )
                    pos += n
                if ipacked & 0x40:
                    raise ValueError("interlaced GIF not supported")
                if table is None:
                    raise ValueError("GIF image without a color table")
                min_code = b[pos]
                pos += 1
                data = bytearray()
                while pos < len(b) and b[pos] != 0:
                    data += b[pos + 1 : pos + 1 + b[pos]]
                    pos += 1 + b[pos]
                idx = self._lzw(min_code, bytes(data), width * height)
                if len(idx) < width * height:
                    raise ValueError("GIF pixel data truncated")
                px = table[
                    np.asarray(idx[: width * height], dtype=np.int64)
                    % len(table)
                ].reshape(-1)
                return width, height, 3, self._octile_stats(px, 255.0)
            elif block == 0x3B:
                break
            else:
                raise ValueError(f"unknown GIF block 0x{block:02x}")
        raise ValueError("GIF contains no image block")

    @staticmethod
    def _lzw(min_code: int, data: bytes, max_pixels: int) -> list:
        """GIF-variant LZW: codes are LSB-first in the byte stream,
        width starts at min_code+1 and grows as the table fills,
        capped at 12 bits; CLEAR resets the table, END terminates."""
        clear, end = 1 << min_code, (1 << min_code) + 1
        base = [(i,) for i in range(clear)] + [None, None]
        table = list(base)
        width = min_code + 1
        out: list = []
        prev: tuple | None = None
        bitpos, total = 0, len(data) * 8
        while bitpos + width <= total and len(out) < max_pixels:
            v = 0
            for k in range(width):
                if data[(bitpos + k) >> 3] >> ((bitpos + k) & 7) & 1:
                    v |= 1 << k
            bitpos += width
            if v == end:
                break
            if v == clear:
                table = list(base)
                width = min_code + 1
                prev = None
                continue
            if prev is None:
                if v >= clear:
                    raise ValueError("LZW stream starts with a non-literal")
                entry = table[v]
            elif v < len(table) and table[v] is not None:
                entry = table[v]
            elif v == len(table):
                entry = prev + (prev[0],)
            else:
                raise ValueError("LZW code out of range")
            if prev is not None:
                table.append(prev + (entry[0],))
                if len(table) == (1 << width) and width < 12:
                    width += 1
            out.extend(entry)
            prev = entry
        return out

    def _wav(self, b: bytes) -> tuple:
        import struct as _struct

        import numpy as np

        # walk RIFF chunks: fmt_ then data (chunks are 2-byte padded)
        pos, channels, bits, audio_fmt = 12, 1, 16, 1
        data = b""
        while pos + 8 <= len(b):
            cid, size = b[pos : pos + 4], _struct.unpack_from("<I", b, pos + 4)[0]
            body = b[pos + 8 : pos + 8 + size]
            if cid == b"fmt ":
                audio_fmt = _struct.unpack_from("<H", body, 0)[0]
                channels = _struct.unpack_from("<H", body, 2)[0]
                bits = _struct.unpack_from("<H", body, 14)[0]
            elif cid == b"data":
                data = body
            pos += 8 + size + (size & 1)
        if audio_fmt == 7:  # G.711 mu-law: 8-bit companded → 16-bit
            sig = self._G711_MU[
                np.frombuffer(data, dtype=np.uint8)
            ].astype("float64")
            scale = 32768.0
        elif audio_fmt == 6:  # G.711 A-law
            sig = self._G711_A[
                np.frombuffer(data, dtype=np.uint8)
            ].astype("float64")
            scale = 32768.0
        elif bits == 16:
            sig = np.frombuffer(
                data[: len(data) // 2 * 2], dtype="<i2"
            ).astype("float64")
            scale = 32768.0
        else:  # 8-bit PCM is unsigned, centered at 128
            sig = np.frombuffer(data, dtype=np.uint8).astype("float64") - 128.0
            scale = 128.0
        n_frames = sig.size // max(1, channels)
        return n_frames, 1, channels, self._octile_stats(sig, scale)
