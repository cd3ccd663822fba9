"""Generate the DuckDB literal-table oracle for ``video_scene_cuts``,
making the video leg a full hash-verified query (the codec-oracle
discipline of tools/gen_codec_oracle.py).

The pipeline is a deterministic function of ``documents.text`` (the
concatenated-P6 frame stream is built FROM the text — see
multimodal.synth_video_payloads), so its expected output per scale
factor is precomputed into a VALUES table. The reference here
re-derives everything INDEPENDENTLY of the operator code: its own
tiling/rotation (numpy), gen_codec_oracle's loop-built ref_dhash (not
the operator's packbits form), and its own cut scan — only the three
published geometry constants (VIDEO_W/VIDEO_H/VIDEO_SCENE_ROT) and
the scene plan are shared, since they ARE the contract. Frames within
a scene are identical by construction, so the reference hashes one
frame per scene and expands the step sequence structurally. A
self-check compares the generated table against the live Spark
pipeline and refuses to write on any mismatch.

Run: python tools/gen_video_oracle.py   (regenerates EXPECTED_BY_SF for every committed SF)
Writes: gomapreduce_spark/video_expected.py (committed; imported by
queries.py into ORACLES).
"""

from __future__ import annotations

import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.gen_codec_oracle import ref_dhash  # independent loop-built dHash
from tools.gen_common import write_oracles

THRESHOLD = 10


def ref_scene_hashes(text: str, doc_id: int) -> tuple[list[int], int]:
    """(per-scene dHash list, frames_per_scene) — independent tiling +
    rotation restatement."""
    from gomapreduce_spark.operators.multimodal import (
        VIDEO_H,
        VIDEO_SCENE_ROT,
        VIDEO_W,
        video_scene_plan,
    )

    raw = text.encode("utf-8")
    n = VIDEO_W * VIDEO_H * 3
    n_scenes, per_scene = video_scene_plan(doc_id)
    hashes = []
    for s in range(n_scenes):
        r = (s * VIDEO_SCENE_ROT) % len(raw)
        rot = raw[r:] + raw[:r]
        reps = -(-n // max(len(rot), 1))  # ceil
        buf = (rot * (reps + 1))[:n]
        px = np.frombuffer(buf, dtype=np.uint8).reshape(VIDEO_H, VIDEO_W, 3)
        hashes.append(ref_dhash(px))
    return hashes, per_scene


def ref_frame_hashes(text: str, doc_id: int) -> list[int]:
    """Expand per-scene hashes structurally: frames within a scene are
    identical by construction."""
    scene_hashes, per_scene = ref_scene_hashes(text, doc_id)
    return [h for h in scene_hashes for _ in range(per_scene)]


def ref_steps_cuts(frame_hashes: list[int]):
    steps = [
        bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1")
        for a, b in zip(frame_hashes, frame_hashes[1:])
    ]
    cuts = [i + 1 for i, d in enumerate(steps) if d > THRESHOLD]
    return steps, cuts


def ref_cuts(text: str, doc_id: int):
    frame_hashes = ref_frame_hashes(text, doc_id)
    steps, cuts = ref_steps_cuts(frame_hashes)
    return (
        doc_id,
        len(frame_hashes),
        len(cuts),
        ",".join(map(str, cuts)),
        max(steps, default=0),
    )


def ref_shots(text: str, doc_id: int):
    """Independent restatement of video_shot_frames: shots are the
    frame runs between consecutive cuts; each contributes its MIDDLE
    frame (start + (len-1)//2) and that frame's dHash. A shot may span
    two planted scenes whose hashes land within the threshold — the
    rep hash is then whichever scene holds the middle index, which the
    expanded frame_hashes list answers directly."""
    frame_hashes = ref_frame_hashes(text, doc_id)
    _, cuts = ref_steps_cuts(frame_hashes)
    bounds = [0, *cuts, len(frame_hashes)]
    rows = []
    for shot_id, (start, end) in enumerate(zip(bounds, bounds[1:])):
        rep = start + (end - start - 1) // 2
        rows.append((doc_id, shot_id, start, end - start, rep, frame_hashes[rep]))
    return rows


def build(sf_dir: str, spark) -> dict[str, str]:
    import duckdb

    docs = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{sf_dir}/documents.parquet') ORDER BY doc_id"
    ).fetchall()
    # empty-text docs are DROPPED by synth_video_payloads (no pixels
    # to tile — the corrupt-sample philosophy); mirror that here
    rows = [ref_cuts(text, doc_id) for doc_id, text in docs if text]
    shot_rows = [r for doc_id, text in docs if text for r in ref_shots(text, doc_id)]

    cuts_sql = (
        "\nSELECT v.doc_id::BIGINT AS doc_id, v.n_frames::INT AS n_frames,\n"
        "       v.n_cuts::INT AS n_cuts, v.cut_frames::VARCHAR AS cut_frames,\n"
        "       v.max_step::INT AS max_step\n"
        "FROM (VALUES\n"
        + ",\n".join(f"  ({d}, {nf}, {nc}, {cf!r}, {ms})" for d, nf, nc, cf, ms in rows)
        + "\n) AS v(doc_id, n_frames, n_cuts, cut_frames, max_step)\n"
        "WHERE v.doc_id IN (SELECT doc_id FROM documents)\n"
    )
    shots_sql = (
        "\nSELECT v.doc_id::BIGINT AS doc_id, v.shot_id::INT AS shot_id,\n"
        "       v.start_frame::INT AS start_frame, v.n_frames::INT AS n_frames,\n"
        "       v.rep_frame::INT AS rep_frame, v.rep_dhash::BIGINT AS rep_dhash\n"
        "FROM (VALUES\n"
        + ",\n".join(
            f"  ({d}, {sid}, {st}, {nf}, {rf}, {rh})"
            for d, sid, st, nf, rf, rh in shot_rows
        )
        + "\n) AS v(doc_id, shot_id, start_frame, n_frames, rep_frame, rep_dhash)\n"
        "WHERE v.doc_id IN (SELECT doc_id FROM documents)\n"
    )

    # self-check: the independent reference must agree with the live
    # Spark pipeline cell-for-cell before anything is written
    from gomapreduce_spark.queries import QUERIES

    got = {
        r.doc_id: (r.n_frames, r.n_cuts, r.cut_frames, r.max_step)
        for r in QUERIES["video_scene_cuts"](spark, sf_dir).collect()
    }
    exp = {d: (nf, nc, cf, ms) for d, nf, nc, cf, ms in rows}
    assert got == exp, "video reference disagrees with the Spark pipeline"

    got_shots = {
        (r.doc_id, r.shot_id): (r.start_frame, r.n_frames, r.rep_frame, r.rep_dhash)
        for r in QUERIES["video_shot_frames"](spark, sf_dir).collect()
    }
    exp_shots = {(d, sid): (st, nf, rf, rh) for d, sid, st, nf, rf, rh in shot_rows}
    assert got_shots == exp_shots, "shot reference disagrees with the Spark pipeline"

    print(f"built {sf_dir}: {len(rows)} video rows, {len(shot_rows)} shot rows")
    return {"video_scene_cuts": cuts_sql, "video_shot_frames": shots_sql}


def main() -> int:
    write_oracles(
        "video",
        "Precomputed video oracle tables (GENERATED — do not edit).\n\n"
        "Source: tools/gen_video_oracle.py (independent tiling/dhash/cut/\n"
        "shot reference, self-checked against the live pipeline at\n"
        "generation time). Valid for the deterministic testdata generation\n"
        "seeded per sf; regenerate if testdata or the video synth\n"
        "parameters change. Every committed SF has its tables in\n"
        "EXPECTED_BY_SF.\n",
        build,
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
