"""Scale measurement for the REAL multimodal decoders (round-11): the
stdlib image family (PPM + GIF/LZW) and the WAV family (16-bit PCM +
G.711 µ-law) through the production Arrow ``mapInPandas`` decode paths,
at 1x/10x asset volume — plus (round-12 directive #1) a REALISTIC-ASSET
tier: 64x64 GIF frames (properly LZW-compressed, table growth and all),
96x96 PPM frames, and 1-2 s WAVs, persisted to parquet first so the
timed leg is a clean read+decode, reporting MB/s of decoded input.

Fixtures are synthesized IN-ENGINE per asset id (the
``multimodal_decode_*`` query shapes, scaled), so every tier's decoded
output is exactly derivable: each leg asserts its row count and a
checksum over the decoded stats (sum of channel means / RMS energies,
integer-or-IEEE-deterministic) against a driver-side recompute of the
same formulas — the measured records/s double as at-scale correctness
checks (the crawl_scalebench discipline). The realistic image checksum
covers EVERY asset (closed-form per-asset means); the audio checksum
covers an exact window count over every asset plus a 500-asset
driver-recomputed RMS prefix (the established audio discipline).

Writes MEDIA_SCALEBENCH.json at the repo root with --commit, else
/tmp/media_scalebench.json.

Usage: python tools/media_scalebench.py [--commit] [n_assets...]
"""

from __future__ import annotations

import os
import struct
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from tools import _harness as h  # noqa: E402

_ULAW_FMT = struct.pack("<HHIIHH", 7, 1, 8000, 8000, 1, 8)
_PCM_FMT = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)


def _pack_bits(bits) -> bytes:
    """LSB-first bit packing, the order of a GIF code stream."""
    by = bytearray()
    for i in range(0, len(bits), 8):
        v = 0
        for j, bit in enumerate(bits[i : i + 8]):
            v |= bit << j
        by.append(v)
    return bytes(by)


def _gif(w: int, h: int, flags: int, pal: bytes, mcs: int, stream: bytes) -> bytes:
    """A one-frame GIF89a around an LZW code stream in 255-byte blocks."""
    blocks = b"".join(
        bytes([len(stream[i : i + 255])]) + stream[i : i + 255]
        for i in range(0, len(stream), 255)
    )
    head = b"GIF89a" + struct.pack("<HHBBB", w, h, flags, 0, 0)
    img = b"," + struct.pack("<HHHHB", 0, 0, w, h, 0)
    return head + pal + img + bytes([mcs]) + blocks + b"\x00;"


def _ulaw_payload(did: int, n: int) -> bytes:
    return bytes((did * 37 + i * 11) % 256 for i in range(n))


def _wav(fmt: bytes, payload: bytes) -> bytes:
    body = (
        b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(payload)) + payload
        + (b"\x00" if len(payload) % 2 else b"")
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _image_batches(gif, ppm):
    """A mapInPandas body: a GIF for each odd ``id``, a PPM for each even."""

    def build(batches):
        import pandas as pd

        for pdf in batches:
            ids = [int(i) for i in pdf["id"]]
            yield pd.DataFrame({
                "asset_id": pdf["id"],
                "media": [gif(i) if i % 2 else ppm(i) for i in ids],
                "media_type": [
                    "image/gif" if i % 2 else "image/x-portable-pixmap" for i in ids
                ],
            })

    return build


def main() -> None:
    from pyspark.sql import functions as F

    from vmware_graph_spark.operators.multimodal import (
        _ulaw_expand,
        as_media,
        audio_rms_windows,
        decode_images,
    )

    _words, tiers = h.cli([20_000, 200_000])
    spark = h.spark("media-scalebench")

    def gif_bytes(did: int) -> bytes:
        w, h = 2 + did % 3, 2 + did % 2
        nc = did % 1000
        pal = b"".join(
            bytes((
                (nc + j * 40) % 256,
                (nc + j * 40 + 85) % 256,
                (nc + j * 40 + 170) % 256,
            ))
            for j in range(4)
        )
        bits = []
        for p in range(w * h):
            for code in (4, p % 4):  # clear, then the pixel's index
                for k in range(3):
                    bits.append((code >> k) & 1)
        for k in range(3):
            bits.append((5 >> k) & 1)
        return _gif(w, h, 0x81, pal, 2, _pack_bits(bits))

    def ppm_bytes(did: int) -> bytes:
        w, h = 2 + did % 3, 2 + did % 2
        nc = did % 1000
        px = bytearray()
        for r in range(h):
            px += bytes(((nc + r) % 256, (nc + r + 85) % 256, (nc + r + 170) % 256)) * w
        return b"P6\n%d %d\n255\n" % (w, h) + bytes(px)

    def wav_bytes(did: int) -> bytes:
        n = 64 + did % 32
        if did % 2:  # µ-law
            return _wav(_ULAW_FMT, _ulaw_payload(did, n))
        smps = [((did * 37 + i * 11) % 65536) - 32768 for i in range(n)]  # 16-bit PCM
        return _wav(_PCM_FMT, struct.pack(f"<{n}h", *smps))

    def expected_image_mean_r_sum(n: int) -> float:
        # GIF for odd ids (palette cycle), PPM for even (row ramp)
        tot = 0.0
        for did in range(n):
            w, h = 2 + did % 3, 2 + did % 2
            nc = did % 1000
            if did % 2:
                tot += sum((nc + (p % 4) * 40) % 256 for p in range(w * h)) / (w * h)
            else:
                tot += sum((nc + r) % 256 for r in range(h) for _ in range(w)) / (w * h)
        return tot

    report: dict = {"load_1m_at_start": round(os.getloadavg()[0], 2), "tiers": {}}
    for n in tiers:
        # ---- image leg: mixed PPM/GIF fleet ----
        ids = spark.range(n)

        imgs = ids.mapInPandas(
            _image_batches(gif_bytes, ppm_bytes),
            "asset_id bigint, media binary, media_type string",
        )
        with h.timed() as img:
            out = decode_images(imgs).agg(
                F.count("*").alias("n"), F.sum("mean_r").alias("s")
            ).collect()[0]
        assert out["n"] == n, (out["n"], n)
        want = expected_image_mean_r_sum(n)
        assert abs(out["s"] - want) < 1e-6 * max(1.0, want), (out["s"], want)

        # ---- audio leg: mixed PCM/µ-law WAV fleet ----
        def build_wavs(batches):
            import pandas as pd

            for pdf in batches:
                yield pd.DataFrame(
                    {
                        "asset_id": pdf["id"],
                        "media": [wav_bytes(int(i)) for i in pdf["id"]],
                    }
                )

        wavs = as_media(
            ids.mapInPandas(build_wavs, "asset_id bigint, media binary"),
            "asset_id",
            "media",
            "audio/wav",
        )
        with h.timed() as wav:
            a = audio_rms_windows(wavs, window=32, hop=16).agg(
                F.count("*").alias("n"), F.sum("rms").alias("s")
            ).collect()[0]
        # windows per asset: ceil(n_samples/hop) with n = 64 + did%32
        exp_windows = sum(-(-(64 + did % 32) // 16) for did in range(n))
        assert a["n"] == exp_windows, (a["n"], exp_windows)
        # spot-verify the RMS checksum on a small prefix, driver-side
        import math

        def rms_sum_for(did: int) -> float:
            m = 64 + did % 32
            if did % 2:
                smps = [_ulaw_expand(b) for b in _ulaw_payload(did, m)]
            else:
                smps = [((did * 37 + i * 11) % 65536) - 32768 for i in range(m)]
            tot = 0.0
            for start in range(0, m, 16):
                win = smps[start : start + 32]
                tot += math.sqrt(sum(v * v for v in win) / len(win))
            return tot

        probe = sum(rms_sum_for(d) for d in range(min(n, 500)))
        got_probe = (
            audio_rms_windows(
                as_media(
                    spark.range(min(n, 500)).mapInPandas(
                        build_wavs, "asset_id bigint, media binary"
                    ),
                    "asset_id", "media", "audio/wav",
                ),
                window=32, hop=16,
            ).agg(F.sum("rms")).collect()[0][0]
        )
        assert abs(got_probe - probe) < 1e-6 * max(1.0, probe)

        h.progress(report["tiers"], str(n), {
            "assets": n,
            "image_decode_s": img.s,
            "image_assets_per_s": round(n / img.s, 0),
            "audio_decode_s": wav.s,
            "audio_assets_per_s": round(n / wav.s, 0),
            "audio_windows": int(a["n"]),
        })

    # ------------------------------------------------------------------
    # REALISTIC-ASSET tier (round-12 directive #1): the tiny-fixture
    # tiers above measure plumbing; this one measures the decoders on
    # asset sizes a real corpus carries — 64x64 GIF (REAL greedy-LZW
    # compressed streams: variable code widths, table growth), 96x96
    # PPM, 1 s µ-law / 2 s PCM WAV — persisted to parquet first so the
    # timed job is read + decode only, and reported as MB/s of decoded
    # input bytes.
    # ------------------------------------------------------------------
    import shutil

    import numpy as np

    from vmware_graph_spark.operators.multimodal import _ulaw_lut

    n_real = 20_000
    gif_w = gif_h = 64
    ppm_w = ppm_h = 96
    ulaw_n, pcm_n = 8_000, 16_000  # 1 s @ 8 kHz, 2 s @ 8 kHz stereo-equiv

    def lzw_encode_greedy(idx, mcs):
        """Independent greedy LZW encoder (the property-test reference
        shape): grows the table through the variable code widths up to
        the 12-bit cap — so the realistic tier decodes PROPERLY
        compressed streams, not clear-per-symbol ones."""
        clear, eoi = 1 << mcs, (1 << mcs) + 1
        bits = []
        width = mcs + 1

        def emit(code, w):
            for k in range(w):
                bits.append((code >> k) & 1)

        table = {(i,): i for i in range(clear)}
        nxt = eoi + 1
        emit(clear, width)
        cur = ()
        for s in idx:
            cand = cur + (s,)
            if cand in table:
                cur = cand
                continue
            emit(table[cur], width)
            if nxt < 4096:
                table[cand] = nxt
                if nxt == (1 << width) and width < 12:
                    width += 1
                nxt += 1
            cur = (s,)
        if cur:
            emit(table[cur], width)
        emit(eoi, width)
        return _pack_bits(bits)

    # fixed pixel-index pattern -> one shared LZW stream + histogram;
    # per-asset identity comes from the PALETTE (shifted by id), so the
    # expected mean of EVERY asset is a closed form over 16 counts
    gif_idx = [((r * 7 + c * 3) % 16) for r in range(gif_h) for c in range(gif_w)]
    gif_hist = [gif_idx.count(j) for j in range(16)]
    gif_stream = lzw_encode_greedy(gif_idx, 4)

    def gif_real(did: int) -> bytes:
        pal = b"".join(
            bytes((
                (did + j * 13) % 256,
                (did + j * 13 + 85) % 256,
                (did + j * 13 + 170) % 256,
            ))
            for j in range(16)
        )
        return _gif(gif_w, gif_h, 0x80 | 3, pal, 4, gif_stream)

    def ppm_real(did: int) -> bytes:
        # every pixel of row r has value (did + r) % 256 in all channels
        px = b"".join(
            bytes(((did + r) % 256,)) * (ppm_w * 3) for r in range(ppm_h)
        )
        return b"P6\n%d %d\n255\n" % (ppm_w, ppm_h) + px

    def wav_real(did: int) -> bytes:
        if did % 2:  # 1 s µ-law
            return _wav(_ULAW_FMT, _ulaw_payload(did, ulaw_n))
        arr = (np.arange(pcm_n, dtype=np.int64) * 37 + did) % 65536 - 32768  # 2 s PCM
        return _wav(_PCM_FMT, arr.astype("<i2").tobytes())

    fx_dir = "/tmp/vgs_media_realistic"
    shutil.rmtree(fx_dir, ignore_errors=True)

    def build_real_wavs(batches):
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "asset_id": pdf["id"],
                    "media": [wav_real(int(i)) for i in pdf["id"]],
                    "media_type": ["audio/wav"] * len(pdf),
                }
            )

    spark.range(n_real).mapInPandas(
        _image_batches(gif_real, ppm_real),
        "asset_id bigint, media binary, media_type string",
    ).write.parquet(f"{fx_dir}/images.parquet")
    spark.range(n_real).mapInPandas(
        build_real_wavs, "asset_id bigint, media binary, media_type string"
    ).write.parquet(f"{fx_dir}/wavs.parquet")

    img_bytes = sum(
        len(gif_real(d)) if d % 2 else len(ppm_real(d)) for d in range(0, 2)
    ) * (n_real // 2)
    wav_bytes = (len(wav_real(0)) + len(wav_real(1))) * (n_real // 2)

    # ---- timed image leg: read + decode, full-corpus mean_r checksum
    imgs = spark.read.parquet(f"{fx_dir}/images.parquet")
    with h.timed() as img:
        out = decode_images(imgs).agg(
            F.count("*").alias("n"), F.sum("mean_r").alias("s")
        ).collect()[0]
    assert out["n"] == n_real

    def mean_r_real(did: int) -> float:
        if did % 2:
            return sum(
                gif_hist[j] * ((did + j * 13) % 256) for j in range(16)
            ) / (gif_w * gif_h)
        return sum((did + r) % 256 for r in range(ppm_h)) / ppm_h

    want = sum(mean_r_real(d) for d in range(n_real))
    assert abs(out["s"] - want) < 1e-6 * max(1.0, want), (out["s"], want)

    # ---- timed audio leg: read + decode + RMS windows (40 ms / 20 ms)
    wavs = spark.read.parquet(f"{fx_dir}/wavs.parquet")
    with h.timed() as wav:
        a = audio_rms_windows(wavs, window=320, hop=160).agg(
            F.count("*").alias("n"), F.sum("rms").alias("s")
        ).collect()[0]
    exp_windows = (n_real // 2) * (-(-ulaw_n // 160) + -(-pcm_n // 160))
    assert a["n"] == exp_windows, (a["n"], exp_windows)

    # driver-recomputed RMS prefix (numpy, exact int64 sums)
    lut = _ulaw_lut()

    def rms_sum_real(did: int) -> float:
        if did % 2:
            s = lut[np.frombuffer(_ulaw_payload(did, ulaw_n), np.uint8)]
        else:
            s = (np.arange(pcm_n, dtype=np.int64) * 37 + did) % 65536 - 32768
        starts = np.arange(0, s.size, 160)
        ends = np.minimum(starts + 320, s.size)
        csq = np.concatenate(([0], np.cumsum(s * s)))
        return float(np.sqrt((csq[ends] - csq[starts]) / (ends - starts)).sum())

    probe = sum(rms_sum_real(d) for d in range(500))
    got_probe = (
        audio_rms_windows(
            wavs.filter(F.col("asset_id") < 500), window=320, hop=160
        ).agg(F.sum("rms")).collect()[0][0]
    )
    assert abs(got_probe - probe) < 1e-6 * max(1.0, probe), (got_probe, probe)

    h.progress(report, "realistic", {
        "assets_per_leg": n_real,
        "image_shapes": f"{gif_w}x{gif_h} GIF (greedy LZW) / {ppm_w}x{ppm_h} PPM",
        "audio_shapes": "1s G.711 mu-law / 2s 16-bit PCM @ 8kHz",
        "image_input_bytes": img_bytes,
        "image_decode_s": img.s,
        "image_MB_per_s": round(img_bytes / img.s / 1e6, 1),
        "image_assets_per_s": round(n_real / img.s, 0),
        "audio_input_bytes": wav_bytes,
        "audio_decode_s": wav.s,
        "audio_MB_per_s": round(wav_bytes / wav.s / 1e6, 1),
        "audio_assets_per_s": round(n_real / wav.s, 0),
        "audio_windows": int(a["n"]),
    })
    shutil.rmtree(fx_dir, ignore_errors=True)

    commit = "--commit" in sys.argv
    h.write_report("media_scalebench", report,
                   os.path.join(h.REPO, "MEDIA_SCALEBENCH.json") if commit else None)


if __name__ == "__main__":
    main()
