"""Multimodal (image/audio/video) column handling for training pipelines.

Media ride through the engine as opaque ``binary`` columns with typed
metadata; the heavy per-item work (decode, feature extraction, resize,
frame sampling) runs as Arrow-batched ``mapInPandas`` so Python touches
each batch once, vectorized — never a row-at-a-time UDF.

No image/audio codec LIBRARIES ship in this container, but the decode
path is no longer wholly stubbed: :func:`decode_image_stdlib` really
parses the binary PNM family (PPM/PGM/PBM), uncompressed 24-bit
BMP, and GIF87a/89a —
including the full LZW decompressor — byte-for-byte (the
same move as the stdlib OOXML reader for XLSX), and
:func:`decode_images` runs it through the production mapInPandas shape.
``decode_media`` still raises for formats that genuinely need a codec
library (JPEG/PNG/MP4 — DEFLATE/DCT chains) unless one is injected — and the injection now has a
REAL first-party arm: :func:`pillow_image_decoder` builds a JPEG/PNG/…
decoder when Pillow is installed (the pandas/openpyxl-if-present
pattern from ``sources/workbook.py``), and :func:`decode_image_auto`
routes PNM/BMP/GIF to the stdlib parser and everything else to Pillow,
falling back to the documented ``NotImplementedError`` gate where no
codec exists. :func:`fingerprint_features` keeps the deterministic md5
stand-in whose SQL twin oracle-verifies the Arrow plumbing
value-for-value.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# pandas is imported inside each mapInPandas body instead: a module-level
# import would add ~0.35 s to every import of the package.
if TYPE_CHECKING:
    import pandas as pd

# canonical media schema: the binary payload + typed metadata
MEDIA_SCHEMA = (
    "asset_id bigint, media binary, media_type string, "
    "meta struct<width:int, height:int, duration_ms:int>"
)


def as_media(df: DataFrame, id_col: str, bytes_col, media_type: str = "image/png") -> DataFrame:
    """Wrap raw bytes into the canonical media schema."""
    b = F.col(bytes_col) if isinstance(bytes_col, str) else bytes_col
    return df.select(
        F.col(id_col).cast("bigint").alias("asset_id"),
        b.cast("binary").alias("media"),
        F.lit(media_type).alias("media_type"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )


def decode_media(df: DataFrame, decoder: Callable[[bytes, str], object] | None = None,
                 out_schema: str = "asset_id bigint, width int, height int") -> DataFrame:
    """Decode media payloads with an injected codec (Pillow/ffmpeg/...).

    STUB: this container ships no codec libraries, so calling without a
    ``decoder`` raises — by design, marking exactly where a real
    deployment plugs in. The mapInPandas shape (batched Arrow exchange,
    one pass per batch) is identical to :func:`fingerprint_features`,
    which IS tested end-to-end.
    """
    if decoder is None:
        raise NotImplementedError(
            "no media codec in this environment: inject decoder=(bytes, media_type) -> obj"
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as pd

        for pdf in batches:
            decoded = [decoder(m, t) for m, t in zip(pdf["media"], pdf["media_type"])]
            out = pd.DataFrame({"asset_id": pdf["asset_id"]})
            for field in [f.split()[0] for f in out_schema.split(",")[1:]]:
                out[field] = [getattr(d, field, None) for d in decoded]
            yield out

    return df.mapInPandas(run, out_schema)


def _pnm_header(b: bytes, n_fields: int) -> tuple[int, int, int, int]:
    """Parse a binary PNM header past the magic: ``n_fields`` decimal
    fields (width, height[, maxval]) separated by whitespace/comments,
    then the single whitespace before the pixel payload. Returns
    (width, height, maxval-or-0, payload offset)."""
    pos, fields = 2, []
    while len(fields) < n_fields:
        while pos < len(b) and b[pos : pos + 1].isspace():
            pos += 1
        if b[pos : pos + 1] == b"#":  # comment to end of line
            while pos < len(b) and b[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(b) and not b[pos : pos + 1].isspace():
            pos += 1
        if start == pos:
            raise ValueError("PNM header truncated")
        fields.append(int(b[start:pos]))
    pos += 1  # the single whitespace after the last header field
    w, h = fields[0], fields[1]
    return w, h, (fields[2] if n_fields > 2 else 0), pos


class _DecodedImage:
    __slots__ = ("width", "height", "mean_r", "mean_g", "mean_b")

    def __init__(self, width, height, mean_r, mean_g, mean_b):
        self.width, self.height = width, height
        self.mean_r, self.mean_g, self.mean_b = mean_r, mean_g, mean_b


def decode_image_stdlib(data: bytes, media_type: str) -> _DecodedImage:
    """REAL image decode for the formats the stdlib can parse
    byte-for-byte — binary PPM/PGM/PBM (P6/P5/P4), uncompressed 24-bit
    BMP, and GIF87a/89a with a full LZW decompressor (:func:`_decode_gif`) —
    the same move as the stdlib OOXML reader for XLSX: no codec
    library, but a genuine end-to-end decode path instead of a stub.
    Returns dimensions plus per-channel means (the stats a dataset
    curator filters on: resolution floors, solid-color detection).
    Other media types still require an injected codec via
    ``decode_media``.

    Pixel statistics are VECTORIZED (numpy int64 sums over the raw
    byte buffer — round-11 directive #1: the per-byte Python loops
    were a ~100x constant-factor penalty at real asset sizes); the
    sums stay integer-exact, so the emitted means are value-identical
    to the scalar era.
    """
    import numpy as np

    b = bytes(data)
    if media_type == "image/x-portable-pixmap" or b[:2] == b"P6":
        w, h, maxval, pos = _pnm_header(b, 3)
        if maxval != 255:
            raise ValueError(f"PPM maxval {maxval} unsupported (need 255)")
        if w * h == 0:
            raise ValueError("PPM has zero pixels")
        px = b[pos : pos + w * h * 3]
        if len(px) != w * h * 3:
            raise ValueError("PPM pixel payload truncated")
        sums = (
            np.frombuffer(px, np.uint8).reshape(-1, 3).sum(axis=0, dtype=np.int64)
        )
        n = w * h
        return _DecodedImage(w, h, sums[0] / n, sums[1] / n, sums[2] / n)
    if media_type == "image/x-portable-graymap" or b[:2] == b"P5":
        # binary PGM: like P6 with ONE gray byte per pixel
        w, h, maxval, pos = _pnm_header(b, 3)
        if maxval != 255:
            raise ValueError(f"PGM maxval {maxval} unsupported (need 255)")
        if w * h == 0:
            raise ValueError("PGM has zero pixels")
        px = b[pos : pos + w * h]
        if len(px) != w * h:
            raise ValueError("PGM pixel payload truncated")
        mean = np.frombuffer(px, np.uint8).sum(dtype=np.int64) / (w * h)
        return _DecodedImage(w, h, mean, mean, mean)
    if media_type == "image/x-portable-bitmap" or b[:2] == b"P4":
        # binary PBM: no maxval field; rows are MSB-first bit-packed,
        # padded to a byte boundary; bit 1 = BLACK (0), 0 = white (255)
        w, h, _, pos = _pnm_header(b, 2)
        if w * h == 0:
            raise ValueError("PBM has zero pixels")
        stride = (w + 7) // 8
        if len(b) - pos < stride * h:
            raise ValueError("PBM pixel payload truncated")
        rows = np.frombuffer(b, np.uint8, count=stride * h, offset=pos)
        # unpackbits is MSB-first by default — the PBM bit order; the
        # per-row pad bits past column w are sliced off before summing
        black = int(
            np.unpackbits(rows.reshape(h, stride), axis=1)[:, :w].sum(dtype=np.int64)
        )
        mean = 255.0 * (1 - black / (w * h))
        return _DecodedImage(w, h, mean, mean, mean)
    if media_type == "image/bmp" or b[:2] == b"BM":
        import struct

        if b[:2] != b"BM":
            raise ValueError("not a BMP payload")
        px_off = struct.unpack_from("<I", b, 10)[0]
        hdr_sz, w, h = struct.unpack_from("<Iii", b, 14)
        bpp = struct.unpack_from("<H", b, 28)[0]
        comp = struct.unpack_from("<I", b, 30)[0]
        if hdr_sz < 40 or bpp != 24 or comp != 0:
            raise ValueError("only uncompressed 24-bit BITMAPINFOHEADER BMPs")
        h = abs(h)  # negative height = top-down; channel means don't care
        if w * h == 0 or w < 0:
            raise ValueError("BMP has zero pixels")
        row_stride = (w * 3 + 3) & ~3  # rows pad to 4 bytes
        # the LAST row may legally omit its pad bytes at EOF; any
        # shorter payload is truncation (same contract as the loop era)
        need_data = (h - 1) * row_stride + w * 3 if h else 0
        if len(b) - px_off < need_data:
            raise ValueError("BMP pixel payload truncated")
        buf = b[px_off : px_off + h * row_stride]
        if len(buf) < h * row_stride:  # virtual pad — sliced off below
            buf = buf + b"\x00" * (h * row_stride - len(buf))
        px = np.frombuffer(buf, np.uint8).reshape(h, row_stride)[:, : w * 3]
        sums = px.reshape(-1, 3).sum(axis=0, dtype=np.int64)  # B, G, R on disk
        n = w * h
        return _DecodedImage(w, h, sums[2] / n, sums[1] / n, sums[0] / n)
    if media_type == "image/gif" or b[:6] in (b"GIF87a", b"GIF89a"):
        return _decode_gif(b)
    raise NotImplementedError(
        f"stdlib decoder handles PNM/BMP/GIF only; inject a codec for {media_type}"
    )


def _gif_lzw_decode(data: bytes, min_code_size: int, max_pixels: int) -> bytes:
    """GIF-variant LZW: LSB-first variable-width codes, clear/EOI, code
    width grows when the decoder's next free slot reaches 2^width
    (capped at 12 bits — past 4096 entries the table freezes until a
    clear, per the spec). Returns the palette indices as BYTES (every
    GIF index fits a byte — color tables cap at 256 entries), with the
    table a code-indexed list of bytes and the output a bytearray:
    ~8x faster than the tuple-dict era and the buffer feeds numpy
    directly for the palette statistics (round-11 directive #1); the
    decoded symbol sequence is identical.

    The list-index bookkeeping IS the spec's next-code counter: the
    base table holds ``clear`` literals plus two placeholder slots for
    the clear/EOI codes (handled before any lookup), so ``len(table)``
    always equals the next free code."""
    clear = 1 << min_code_size
    eoi = clear + 1
    base = [bytes((i,)) for i in range(clear)] + [b"", b""]

    table = list(base)
    width = min_code_size + 1
    out = bytearray()
    prev: bytes | None = None
    acc = nbits = pos = 0
    while True:
        while nbits < width:
            if pos >= len(data):
                raise ValueError("LZW stream truncated before EOI")
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = list(base)
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            return bytes(out)
        if code < len(table):
            entry = table[code]
        elif prev is not None and code == len(table):
            entry = prev + prev[:1]  # the KwKwK case
        else:
            raise ValueError(f"corrupt LZW code {code}")
        out += entry
        if len(out) > max_pixels:
            raise ValueError("LZW output exceeds the image's pixel count")
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry


def _decode_gif(b: bytes) -> _DecodedImage:
    """REAL GIF87a/89a decode — header + color tables + extension-block
    skipping + the first image block's LZW stream, all stdlib (GIF's
    LZW needs no codec library, unlike JPEG/PNG's DEFLATE/DCT chains).
    Channel means are computed over the frame's palette indices;
    interlacing only permutes ROW order, which channel means cannot
    see, and GCE transparency affects rendering, not the stored
    palette stats — both documented no-ops here."""
    import struct

    if b[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    try:
        return _decode_gif_inner(b, struct)
    except (IndexError, struct.error) as err:
        # a block-size byte or header field past the end of the
        # payload — truncation fails loudly as a parse error, never a
        # raw index fault
        raise ValueError(f"GIF payload truncated mid-structure: {err}") from err


def _gif_walk_frames(b: bytes, struct):
    """Lazy walk of a GIF's image blocks past the header/global color
    table: yields ``(width, height, color_table, min_code_size,
    lzw_stream)`` per frame, skipping extension blocks (GCE, comments,
    application) between them. Frames may carry LOCAL color tables
    (which override the global one); a frame with neither raises. The
    generator is LAZY — a single-frame consumer never validates bytes
    past the first frame's stream, exactly the original single-frame
    scan behavior."""
    _, _, packed, _, _ = struct.unpack_from("<HHBBB", b, 6)
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = b[pos : pos + 3 * n]
        pos += 3 * n
    while pos < len(b):
        marker = b[pos]
        if marker == 0x3B:  # trailer
            return
        if marker == 0x21:  # extension: label byte + data sub-blocks
            pos += 2
            while b[pos] != 0:
                pos += 1 + b[pos]
            pos += 1
            continue
        if marker != 0x2C:
            raise ValueError(f"unknown GIF block 0x{marker:02x}")
        _, _, w, h, ipacked = struct.unpack_from("<HHHHB", b, pos + 1)
        pos += 10
        ct = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            ct = b[pos : pos + 3 * n]
            pos += 3 * n
        if ct is None:
            raise ValueError("GIF image has no color table")
        min_code_size = b[pos]
        pos += 1
        stream = bytearray()
        while True:
            sz = b[pos]
            pos += 1
            if sz == 0:
                break
            stream += b[pos : pos + sz]
            pos += sz
        yield w, h, ct, min_code_size, bytes(stream)


def _frame_stats(w, h, ct, min_code_size, stream):
    """Decode one frame's LZW stream and return (w, h, per-channel
    means) — the shared numpy palette-histogram path."""
    import numpy as np

    idxs = _gif_lzw_decode(stream, min_code_size, w * h)
    if len(idxs) != w * h:
        raise ValueError(f"GIF pixel count {len(idxs)} != {w}x{h}")
    pal = np.frombuffer(ct, np.uint8).reshape(-1, 3).astype(np.int64)
    counts = np.bincount(np.frombuffer(idxs, np.uint8), minlength=pal.shape[0])
    if counts.shape[0] > pal.shape[0]:
        raise ValueError("GIF pixel index outside the color table")
    sums = counts @ pal
    n = w * h
    return w, h, sums[0] / n, sums[1] / n, sums[2] / n


def _decode_gif_inner(b: bytes, struct) -> _DecodedImage:
    first = next(_gif_walk_frames(b, struct), None)
    if first is None:
        raise ValueError("GIF has no image data")
    return _DecodedImage(*_frame_stats(*first))


def decode_gif_frames(data: bytes) -> list[tuple[int, int, int, float, float, float]]:
    """REAL frame-level decode for ANIMATED GIFs — the video family's
    first genuine decode path (``frame_sample``/``extract_frames``
    remain the codec-injection stubs for true video containers): walks
    EVERY image block (local color tables override the global one;
    GCE/comment/application extensions skipped between frames) and
    decodes each frame's LZW stream to per-frame channel means.
    Returns ``[(frame_idx, width, height, mean_r, mean_g, mean_b),
    ...]`` — frame dims can differ (GIF frames are sub-rectangles;
    means are over each frame's OWN pixels; disposal/transparency
    affect COMPOSITING, not the stored palette stats — documented
    no-ops, as in the single-frame decoder). Truncation mid-structure
    fails loudly."""
    import struct

    if bytes(data)[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    b = bytes(data)
    out = []
    try:
        for i, frame in enumerate(_gif_walk_frames(b, struct)):
            out.append((i, *_frame_stats(*frame)))
    except (IndexError, struct.error) as err:
        raise ValueError(f"GIF payload truncated mid-structure: {err}") from err
    if not out:
        raise ValueError("GIF has no image data")
    return out


def gif_frame_stats(df: DataFrame) -> DataFrame:
    """Distributed per-frame GIF stats: media rows in, one row per
    ANIMATION FRAME out — the Arrow ``mapInPandas`` production shape
    shared by :func:`decode_images`, exploded at the frame grain.
    Emits (asset_id, frame_idx, width, height, mean_r/g/b)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as pd

        for pdf in batches:
            rows = {
                "asset_id": [], "frame_idx": [], "width": [], "height": [],
                "mean_r": [], "mean_g": [], "mean_b": [],
            }
            for aid, m in zip(pdf["asset_id"], pdf["media"]):
                for idx, w, h, mr, mg, mb in decode_gif_frames(bytes(m)):
                    rows["asset_id"].append(aid)
                    rows["frame_idx"].append(idx)
                    rows["width"].append(w)
                    rows["height"].append(h)
                    rows["mean_r"].append(mr)
                    rows["mean_g"].append(mg)
                    rows["mean_b"].append(mb)
            yield pd.DataFrame(rows)

    return df.mapInPandas(
        run,
        "asset_id bigint, frame_idx int, width int, height int, "
        "mean_r double, mean_g double, mean_b double",
    )


def pillow_image_decoder() -> Callable[[bytes, str], _DecodedImage]:
    """The REAL injectable codec for :func:`decode_images` /
    :func:`decode_media`: a decoder backed by Pillow for JPEG/PNG/...,
    mirroring the pandas/openpyxl-if-present pattern of
    ``sources/workbook.py`` — raises ImportError where Pillow isn't
    installed (callers that want a soft fallback use
    :func:`decode_image_auto`). Output contract matches
    :func:`decode_image_stdlib`: dimensions + per-channel means over
    the RGB-converted pixels."""
    import io as _io

    from PIL import Image, ImageStat  # ImportError here IS the gate

    def decode(data: bytes, media_type: str) -> _DecodedImage:
        img = Image.open(_io.BytesIO(bytes(data))).convert("RGB")
        w, h = img.size
        mr, mg, mb = ImageStat.Stat(img).mean
        return _DecodedImage(w, h, mr, mg, mb)

    return decode


def decode_image_auto(data: bytes, media_type: str) -> _DecodedImage:
    """Format-routing decoder: PPM/BMP/GIF through the deterministic stdlib
    parser (always available, byte-exact), everything else through
    Pillow when installed — otherwise the documented
    NotImplementedError injection gate. This is the default a
    deployment wires into :func:`decode_images` when its corpus mixes
    formats; the stdlib default stays for oracle-checked paths."""
    b = bytes(data)
    if b[:2] in (b"P6", b"P5", b"P4", b"BM") or b[:6] in (
        b"GIF87a", b"GIF89a",
    ) or media_type in (
        "image/x-portable-pixmap", "image/x-portable-graymap",
        "image/x-portable-bitmap", "image/bmp", "image/gif",
    ):
        try:
            return decode_image_stdlib(b, media_type)
        except ValueError as err:
            # a BMP variant past the stdlib parser's subset (RLE,
            # palettized, 32-bit): fall through to Pillow when present
            # instead of failing a payload Pillow could decode
            # (round-10 review finding); without Pillow the original
            # strictness stands.
            try:
                decode = pillow_image_decoder()
            except ImportError:
                raise err
            return decode(b, media_type)
    try:
        decode = pillow_image_decoder()
    except ImportError:
        raise NotImplementedError(
            f"no codec for {media_type}: install Pillow or inject a "
            "decoder=(bytes, media_type) -> obj into decode_images/decode_media"
        ) from None
    return decode(b, media_type)


def decode_images(
    df: DataFrame,
    decoder: Callable[[bytes, str], object] = decode_image_stdlib,
) -> DataFrame:
    """Decode image payloads to (dims, per-channel means) — the REAL
    mapInPandas decode path, defaulting to the stdlib PPM/BMP decoder;
    a deployment with Pillow passes its own callable and everything
    else (Arrow batching, schema) is identical. Means are emitted RAW
    (exact integer-sum / count doubles); callers round JVM-side where
    presentation needs it — keeping Python's banker's rounding out of
    the oracle path."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as pd

        for pdf in batches:
            decoded = [
                decoder(bytes(m), t) for m, t in zip(pdf["media"], pdf["media_type"])
            ]
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "width": [d.width for d in decoded],
                    "height": [d.height for d in decoded],
                    "mean_r": [d.mean_r for d in decoded],
                    "mean_g": [d.mean_g for d in decoded],
                    "mean_b": [d.mean_b for d in decoded],
                }
            )

    return df.mapInPandas(
        run,
        "asset_id bigint, width int, height int, "
        "mean_r double, mean_g double, mean_b double",
    )


class _DecodedAudio:
    __slots__ = ("channels", "sample_rate", "n_samples", "duration_ms", "samples")

    def __init__(self, channels, sample_rate, n_samples, duration_ms, samples):
        self.channels, self.sample_rate = channels, sample_rate
        self.n_samples, self.duration_ms = n_samples, duration_ms
        self.samples = samples


def _ulaw_expand(u: int) -> int:
    """ITU-T G.711 µ-law byte → linear int16 (bias 0x84 form — the
    exact expansion the spec's decode table encodes; max ±32124)."""
    u = ~u & 0xFF
    sign = u & 0x80
    exponent = (u >> 4) & 0x07
    mantissa = u & 0x0F
    mag = (((mantissa << 3) + 0x84) << exponent) - 0x84
    return -mag if sign else mag


_ULAW_LUT = None


def _ulaw_lut():
    """256-entry µ-law expansion table, built ONCE from
    :func:`_ulaw_expand` — exact by construction (every decoded sample
    is a table lookup of the scalar formula, which is itself pinned
    against ``audioop.ulaw2lin`` over all 256 bytes in pytest), and the
    vectorized decode becomes one numpy take per payload instead of a
    per-byte Python call (round-11 directive #1)."""
    global _ULAW_LUT
    if _ULAW_LUT is None:
        import numpy as np

        _ULAW_LUT = np.array([_ulaw_expand(u) for u in range(256)], dtype=np.int64)
    return _ULAW_LUT


def _riff_chunks(b: bytes) -> dict[bytes, bytes]:
    """RIFF/WAVE chunk map (first occurrence wins; word-aligned).
    A chunk whose declared size runs past the payload fails LOUDLY —
    the same truncation contract as the GIF/PNM/PCM paths (a silent
    clamp here decoded a truncated µ-law data chunk to a short sample
    list — round-11 advice). Only the terminal pad byte may be absent
    (writers legitimately omit it at EOF)."""
    import struct

    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    out: dict[bytes, bytes] = {}
    pos = 12
    while pos + 8 <= len(b):
        cid = b[pos : pos + 4]
        sz = struct.unpack_from("<I", b, pos + 4)[0]
        if pos + 8 + sz > len(b):
            raise ValueError(
                f"WAV chunk {cid!r} declares {sz} bytes but only "
                f"{len(b) - pos - 8} remain — payload truncated"
            )
        if cid not in out:
            out[cid] = b[pos + 8 : pos + 8 + sz]
        pos += 8 + sz + (sz & 1)
    return out


def decode_audio_stdlib(data: bytes, media_type: str) -> _DecodedAudio:
    """REAL audio decode for the WAV container — 16-bit PCM through the
    stdlib ``wave`` reader, and G.711 µ-law (format 7 — the telephony
    byte-per-sample codec whose 'decompression' is a 256-entry
    expansion formula, no codec library needed) through a manual RIFF
    chunk walk, completing the PPM/BMP move for the audio column.
    Returns format metadata and the int16 sample values
    (channel-interleaved, as a numpy int64 array — both decode arms
    are VECTORIZED: the µ-law expansion is one 256-entry LUT take
    built from the scalar formula, PCM one ``frombuffer`` view; values
    identical to the per-sample era, round-11 directive #1); genuinely
    compressed formats (MP3/AAC/OGG) still require an injected codec
    by design."""
    import io
    import struct
    import wave

    import numpy as np

    b = bytes(data)
    if media_type not in ("audio/wav", "audio/x-wav") and b[:4] != b"RIFF":
        raise NotImplementedError(
            f"stdlib decoder handles WAV (PCM/µ-law) only; inject a codec for {media_type}"
        )
    chunks = _riff_chunks(b)
    fmt = chunks.get(b"fmt ")
    if fmt is None or len(fmt) < 16:
        raise ValueError("WAV has no usable fmt chunk")
    audio_format, ch, rate = struct.unpack_from("<HHI", fmt, 0)
    bits = struct.unpack_from("<H", fmt, 14)[0]
    if audio_format == 7:  # G.711 µ-law
        if bits != 8:
            raise ValueError(f"µ-law WAV must be 8-bit, got {bits}")
        raw = chunks.get(b"data")
        if raw is None:
            raise ValueError("WAV has no data chunk")
        samples = _ulaw_lut()[np.frombuffer(raw, np.uint8)]
        n = len(raw) // max(1, ch)
        return _DecodedAudio(ch, rate, n, (n * 1000) // rate, samples)
    with wave.open(io.BytesIO(b), "rb") as wf:
        if wf.getsampwidth() != 2:
            raise ValueError("only 16-bit PCM WAV supported")
        ch, rate, n = wf.getnchannels(), wf.getframerate(), wf.getnframes()
        raw = wf.readframes(n)
    samples = np.frombuffer(raw, dtype="<i2").astype(np.int64)
    return _DecodedAudio(ch, rate, n, (n * 1000) // rate, samples)


def audio_rms_windows(
    df: DataFrame,
    *,
    window: int = 32,
    hop: int = 16,
    decoder: Callable[[bytes, str], _DecodedAudio] = decode_audio_stdlib,
) -> DataFrame:
    """REAL per-window RMS energy over decoded PCM samples — the
    production upgrade of the md5 ``audio_windows`` stub: same hop
    arithmetic and Arrow batch path, but the energy is now
    ``sqrt(Σ s² / n)`` over genuine samples. The squared sums are
    integer-exact (int64 cumulative sums — samples are int16, so even
    hour-long windows sit far under 2^63); sqrt and the final division
    are correctly-rounded IEEE ops, so the doubles are
    engine-reproducible (callers round JVM-side for presentation).
    VECTORIZED per asset (round-11 directive #1): all window sums come
    from one cumulative-sum difference instead of a per-sample Python
    loop — bit-identical values, ~100x less interpreter work."""
    import numpy as np

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as pd

        for pdf in batches:
            parts = []
            for aid, m, t in zip(pdf["asset_id"], pdf["media"], pdf["media_type"]):
                s = np.asarray(decoder(bytes(m), t).samples, dtype=np.int64)
                if s.size == 0:
                    continue
                starts = np.arange(0, s.size, hop, dtype=np.int64)
                ends = np.minimum(starts + window, s.size)
                csq = np.concatenate(([0], np.cumsum(s * s, dtype=np.int64)))
                ns = ends - starts
                rms = np.sqrt((csq[ends] - csq[starts]) / ns)
                parts.append(
                    pd.DataFrame(
                        {
                            "asset_id": np.full(starts.size, aid, dtype=np.int64),
                            "win_idx": np.arange(starts.size, dtype=np.int32),
                            "start": starts,
                            "n": ns,
                            "rms": rms,
                        }
                    )
                )
            yield (
                pd.concat(parts, ignore_index=True)
                if parts
                else pd.DataFrame(
                    {"asset_id": [], "win_idx": [], "start": [], "n": [], "rms": []}
                )
            )

    return df.mapInPandas(
        run, "asset_id bigint, win_idx int, start bigint, n bigint, rms double"
    )


def fingerprint_features(df: DataFrame, *, n_features: int = 4) -> DataFrame:
    """Deterministic fake feature extraction over media bytes.

    Features = consecutive 32-bit windows of md5(media), scaled to
    [0, 1) — a stand-in with the exact runtime shape of a real
    extractor (Arrow batch in, fixed-width feature vector out) and an
    ANSI-SQL twin (md5 + substring + hex-parse), so the driver's oracle
    verifies the mapInPandas plumbing value-for-value.
    """
    import hashlib

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as pd

        for pdf in batches:
            digests = [hashlib.md5(bytes(m)).hexdigest() for m in pdf["media"]]
            out = pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "media_md5": digests,
                    "features": [
                        [int(d[8 * i : 8 * i + 8], 16) / float(1 << 32) for i in range(n_features)]
                        for d in digests
                    ],
                }
            )
            yield out

    return df.mapInPandas(run, "asset_id bigint, media_md5 string, features array<double>")


def frame_sample(df: DataFrame, *, every_ms: int = 1000) -> DataFrame:
    """Video frame-sampling STUB: emits the (asset_id, frame_ts_ms) grid
    a real sampler would decode, bounded by meta.duration_ms. The
    explode is pure Catalyst; only the pixel decode (absent here) would
    be a mapInPandas over the sampled grid."""
    n = F.greatest((F.col("meta.duration_ms") / every_ms).cast("int"), F.lit(0))
    return df.select(
        "asset_id",
        F.explode(F.sequence(F.lit(0), n)).alias("frame_idx"),
    ).select("asset_id", (F.col("frame_idx") * every_ms).alias("frame_ts_ms"))


def extract_frames(df: DataFrame, *, n_frames: int = 4) -> DataFrame:
    """Split each media payload into ``n_frames`` contiguous byte slices
    — the deterministic stand-in for video frame extraction (a real
    deployment replaces the slicer with a codec read at each frame
    offset; the Spark surface — Arrow batch in, exploded frame rows
    out — is identical). Emits (asset_id, frame_idx, frame_len,
    frame_md5); the md5 is over the raw slice bytes so an oracle can
    recompute it without shipping the bytes."""
    import hashlib

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as pd

        for pdf in batches:
            rows = {"asset_id": [], "frame_idx": [], "frame_len": [], "frame_md5": []}
            for aid, m in zip(pdf["asset_id"], pdf["media"]):
                b = bytes(m)
                L = len(b)
                for i in range(n_frames):
                    lo = i * L // n_frames
                    hi = (i + 1) * L // n_frames
                    rows["asset_id"].append(aid)
                    rows["frame_idx"].append(i)
                    rows["frame_len"].append(hi - lo)
                    rows["frame_md5"].append(hashlib.md5(b[lo:hi]).hexdigest())
            yield pd.DataFrame(rows)

    return df.mapInPandas(
        run, "asset_id bigint, frame_idx int, frame_len bigint, frame_md5 string"
    )


def resize_media(df: DataFrame, *, width: int = 64, height: int = 48) -> DataFrame:
    """Thumbnail/resize STUB with real plumbing: the codec resample is
    faked as md5(media || '|WxH') so the output is deterministic and
    SQL-recomputable, while the batch shape (one Arrow pass, fixed
    target dims in the closure) matches a real Pillow/ffmpeg resize."""
    import hashlib

    tag = f"|{width}x{height}".encode()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "asset_id": pdf["asset_id"],
                    "width": width,
                    "height": height,
                    "thumb_md5": [
                        hashlib.md5(bytes(m) + tag).hexdigest() for m in pdf["media"]
                    ],
                }
            )

    return df.mapInPandas(run, "asset_id bigint, width int, height int, thumb_md5 string")


def audio_windows(
    df: DataFrame, *, window_bytes: int = 256, hop_bytes: int = 128
) -> DataFrame:
    """Audio feature-window STUB with real plumbing: overlapping
    fixed-size byte windows (window/hop, the STFT batch shape) over the
    payload, emitting a deterministic pseudo-energy per window —
    md5-derived, so an oracle can recompute it from the bytes. A real
    deployment swaps the energy stub for a PCM decode + RMS/FFT inside
    the same mapInPandas; the schema, hop arithmetic, and Arrow batch
    path are the production ones."""
    import hashlib

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pandas as pd

        for pdf in batches:
            rows = {"asset_id": [], "win_idx": [], "start_byte": [], "win_len": [], "energy": []}
            for aid, m in zip(pdf["asset_id"], pdf["media"]):
                b = bytes(m)
                n = len(b)
                i = 0
                start = 0
                while start < n or i == 0:
                    chunk = b[start : start + window_bytes]
                    h = hashlib.md5(chunk).digest()
                    rows["asset_id"].append(aid)
                    rows["win_idx"].append(i)
                    rows["start_byte"].append(start)
                    rows["win_len"].append(len(chunk))
                    rows["energy"].append(int.from_bytes(h[:4], "big") / 4294967296.0)
                    i += 1
                    start += hop_bytes
                    if not chunk:
                        break
            yield pd.DataFrame(rows)

    return df.mapInPandas(
        run,
        "asset_id bigint, win_idx int, start_byte bigint, win_len bigint, energy double",
    )


def media_near_dup(
    media: DataFrame,
    *,
    max_hamming: int = 5,
    bits: int = 60,
    hash_col: str | None = None,
) -> DataFrame:
    """Near-duplicate media pairs by banded Hamming over a per-asset
    content hash — the perceptual-hash dedup pipeline (pHash + Hamming
    radius) with the same pigeonhole shape as SimHash text dedup: a
    hash within distance ``max_hamming`` must agree on at least one of
    ``max_hamming+1`` bit-bands, so candidates come from equi-joins on
    (band, band_value) and ONLY candidates pay the bit_count verify —
    never all-pairs.

    The hash here is the leading ``bits`` of md5(media) (60 bits keeps
    the value inside a signed BIGINT on every engine) — the
    deterministic stand-in matching :func:`fingerprint_features`'s
    contract: with no codec in the container only EXACT byte
    duplicates land within radius. Pass ``hash_col`` naming a
    precomputed 64-bit hash column (a real pHash from an injected
    codec) and the banding/verify plumbing is unchanged — that's the
    production integration point, and what the radius tests use.
    Returns ``(id_a, id_b, hamming)`` with ``id_a < id_b``.
    """
    bands = max_hamming + 1
    width = bits // bands
    if hash_col is not None:
        fp = media.select("asset_id", F.col(hash_col).cast("bigint").alias("h"))
    else:
        fp = media.select(
            F.col("asset_id"),
            F.conv(F.substring(F.md5("media"), 1, bits // 4), 16, 10)
            .cast("bigint")
            .alias("h"),
        )
    parts = fp.select(
        "asset_id",
        "h",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright("h", i * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("bv"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("p"),
    ).select("asset_id", "h", F.col("p.band").alias("band"), F.col("p.bv").alias("bv"))
    a, c = parts.alias("a"), parts.alias("c")
    cand = (
        a.join(
            c,
            (F.col("a.band") == F.col("c.band"))
            & (F.col("a.bv") == F.col("c.bv"))
            & (F.col("a.asset_id") < F.col("c.asset_id")),
        )
        .select(
            F.col("a.asset_id").alias("id_a"),
            F.col("c.asset_id").alias("id_b"),
        )
        .distinct()
    )
    fa = fp.select(F.col("asset_id").alias("id_a"), F.col("h").alias("__ha"))
    fb = fp.select(F.col("asset_id").alias("id_b"), F.col("h").alias("__hb"))
    ham = F.bit_count(F.col("__ha").bitwiseXOR(F.col("__hb"))).cast("int")
    return (
        cand.join(fa, "id_a")
        .join(fb, "id_b")
        .select("id_a", "id_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# Magic-byte media-type sniffing: the ingestion-side twin of the
# decoders above. Transport metadata lies often enough (mislabelled
# Content-Type, renamed extensions) that every multimodal pipeline
# types its binaries from the FIRST BYTES before routing them to a
# decoder — the magic numbers below are the published file signatures
# (GIF87a/GIF89a, PNG RFC 2083 §12.11, JPEG SOI, RIFF/WAVE). Pure
# Catalyst: one binary-prefix hex compare, codegen-friendly, no UDF —
# at 100 TB the sniff must not cost a Python hop per asset.
# ---------------------------------------------------------------------------

_MAGIC_PNG = "89504E470D0A1A0A"
_MAGIC_GIF = "47494638"          # 'GIF8' — both 87a and 89a continue it
_MAGIC_JPEG = "FFD8FF"           # SOI + marker prefix
_MAGIC_RIFF = "52494646"         # 'RIFF'; bytes 9-12 must be 'WAVE'
_MAGIC_WAVE = "57415645"


def sniff_media_type(col) -> "F.Column":
    """Declared-type-independent media type from leading magic bytes:
    'image/png' | 'image/gif' | 'image/jpeg' | 'audio/x-wav' |
    'application/octet-stream'. PNG is tested before GIF/JPEG because
    its 8-byte signature is the most specific; RIFF requires the WAVE
    form tag at bytes 9-12 (a RIFF/AVI must NOT sniff as audio)."""
    b = F.col(col) if isinstance(col, str) else col
    head = F.hex(F.substring(b, 1, 8))
    return (
        F.when(head.startswith(_MAGIC_PNG), F.lit("image/png"))
        .when(head.startswith(_MAGIC_GIF), F.lit("image/gif"))
        .when(head.startswith(_MAGIC_JPEG), F.lit("image/jpeg"))
        .when(
            head.startswith(_MAGIC_RIFF)
            & (F.hex(F.substring(b, 9, 4)) == _MAGIC_WAVE),
            F.lit("audio/x-wav"),
        )
        .otherwise(F.lit("application/octet-stream"))
    )
