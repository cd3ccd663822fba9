"""Generate DuckDB literal-table oracles for the two deterministic
codec pipelines (``image_dhash_index``, ``audio_spectral``), promoting
them from rows-only to full hash-verified queries.

The pipelines are deterministic functions of ``documents.text`` (the
synthetic payloads are built FROM the text — see
multimodal.synth_ppm_payloads / synth_wav_payloads), so their expected
outputs at a given scale factor can be precomputed once into a
``VALUES`` table the DuckDB oracle selects from. The reference
implementation here is written independently of the operator code
(separate grayscale/resize/bit-packing and spectral math), with ONE
documented exception: JPEG rows (doc_id %% 3 == 2) are lossy, so their
decoded pixels come from the repo's jpeg codec — whose byte-exactness
against format fixtures is pinned by tests/test_multimodal_codecs.py.
A self-check compares the generated table against the live Spark
pipeline and refuses to write on any mismatch.

Run: python tools/gen_codec_oracle.py   (regenerates EXPECTED_BY_SF for every committed SF)
Writes: gomapreduce_spark/codec_expected.py (committed; imported by
queries.py into ORACLES).
"""

from __future__ import annotations

import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.gen_common import write_oracles

WIDTH, HEIGHT = 24, 16
RATE = 16000


def tile_pixels(text: str) -> np.ndarray:
    """Independent re-statement of the synth tiling: utf-8 bytes
    repeated to fill HEIGHT x WIDTH x 3 uint8."""
    raw = text.encode("utf-8")
    n = WIDTH * HEIGHT * 3
    reps = -(-n // max(len(raw), 1))  # ceil division
    buf = (raw * (reps + 1))[:n]
    return np.frombuffer(buf, dtype=np.uint8).reshape(HEIGHT, WIDTH, 3)


def ref_dhash(px: np.ndarray) -> int:
    """Independent dHash: BT.601 luma, 9x8 nearest-neighbor grid,
    horizontal gradient sign bits assembled MSB-first into a signed
     64-bit pattern (loop-built, no packbits)."""
    g = 0.299 * px[..., 0] + 0.587 * px[..., 1] + 0.114 * px[..., 2]
    h, w = g.shape
    val = 0
    for r in range(8):
        row = g[r * h // 8]
        cols = [row[c * w // 9] for c in range(9)]
        for c in range(8):
            val = (val << 1) | int(cols[c + 1] > cols[c])
    return val - (1 << 64) if val >= (1 << 63) else val


def ref_spectral(text: str):
    """Independent spectral features over the int16 PCM samples the
    WAV round-trip yields (lossless container => samples ARE the
    even-truncated utf-8 bytes viewed as little-endian int16)."""
    raw = text.encode("utf-8")
    data = raw[: len(raw) - len(raw) % 2]
    samples = np.frombuffer(data, dtype="<i2")
    n = len(samples)
    if n < 2:
        return None
    mono = samples.astype("float64")
    power = np.abs(np.fft.rfft(mono)) ** 2
    freqs = np.fft.rfftfreq(n, d=1.0 / RATE)
    total = power.sum()
    if total <= 0:
        return None
    centroid = float((freqs * power).sum() / total)
    rolloff = float(freqs[np.searchsorted(np.cumsum(power), 0.85 * total)])
    flatness = float(np.exp(np.mean(np.log(power + 1e-12))) / (total / len(power)))
    return n, centroid, rolloff, flatness


def build(sf_dir: str, spark) -> dict[str, str]:
    import duckdb

    docs = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet') ORDER BY doc_id"
    ).fetchall()

    from gomapreduce_spark.operators.jpeg import decode_jpeg, encode_jpeg

    dhash_rows, audio_rows = [], []
    for doc_id, text in docs:
        px = tile_pixels(text)
        if doc_id % 3 == 2:  # lossy JPEG round-trip (repo codec, see module doc)
            _, _, px = decode_jpeg(encode_jpeg(px, subsample=True))
        dhash_rows.append((doc_id, WIDTH, HEIGHT, ref_dhash(px)))
        feats = ref_spectral(text)
        if feats is not None:
            audio_rows.append((doc_id, *feats))

    dhash_sql = (
        "\nSELECT v.doc_id::BIGINT AS doc_id, v.width::INT AS width,\n"
        "       v.height::INT AS height, v.dhash::BIGINT AS dhash\n"
        "FROM (VALUES\n"
        + ",\n".join(f"  ({d}, {w}, {h}, {x})" for d, w, h, x in dhash_rows)
        + "\n) AS v(doc_id, width, height, dhash)\n"
        "WHERE v.doc_id IN (SELECT doc_id FROM documents)\n"
    )
    audio_sql = (
        "\nSELECT v.doc_id::BIGINT AS doc_id, v.n_samples::BIGINT AS n_samples,\n"
        "       v.centroid_hz::DOUBLE AS centroid_hz, v.rolloff_hz::DOUBLE AS rolloff_hz,\n"
        "       v.flatness::DOUBLE AS flatness\n"
        "FROM (VALUES\n"
        + ",\n".join(
            f"  ({d}, {n}, {c!r}, {r!r}, {f!r})" for d, n, c, r, f in audio_rows
        )
        + "\n) AS v(doc_id, n_samples, centroid_hz, rolloff_hz, flatness)\n"
        "WHERE v.doc_id IN (SELECT doc_id FROM documents)\n"
    )

    # self-check: the independent reference must agree with the live
    # Spark pipeline cell-for-cell before anything is written
    from gomapreduce_spark.queries import QUERIES

    got_d = {
        r.doc_id: (r.width, r.height, r.dhash)
        for r in QUERIES["image_dhash_index"](spark, sf_dir).collect()
    }
    exp_d = {d: (w, h, x) for d, w, h, x in dhash_rows}
    assert got_d == exp_d, "dhash reference disagrees with the Spark pipeline"
    got_a = {
        r.doc_id: (r.n_samples, f"{r.centroid_hz:.9g}", f"{r.rolloff_hz:.9g}", f"{r.flatness:.9g}")
        for r in QUERIES["audio_spectral"](spark, sf_dir).collect()
    }
    exp_a = {d: (n, f"{c:.9g}", f"{r:.9g}", f"{f:.9g}") for d, n, c, r, f in audio_rows}
    assert got_a == exp_a, "spectral reference disagrees with the Spark pipeline"

    print(f"built {sf_dir}: {len(dhash_rows)} dhash rows, {len(audio_rows)} audio rows")
    return {"image_dhash_index": dhash_sql, "audio_spectral": audio_sql}


def main() -> int:
    write_oracles(
        "codec",
        "Precomputed codec-pipeline oracles (GENERATED — do not edit).\n\n"
        "Source: tools/gen_codec_oracle.py (independent numpy reference,\n"
        "self-checked against the live pipeline at generation time).\n"
        "Valid for the deterministic testdata generation seeded per sf;\n"
        "regenerate if testdata or the synth/codec parameters change.\n"
        "Every committed SF has its own tables in EXPECTED_BY_SF.\n",
        build,
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
