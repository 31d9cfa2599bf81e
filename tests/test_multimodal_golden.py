"""Byte-level goldens for every Arrow-synthesised ``attach_payload_*``.

The oracle gate checks decoded statistics, so an encoder change that
keeps the statistics but alters the bytes would pass it. These hashes
pin the bytes: each builder runs on the sf0.001 ``documents`` table and
its rows, sorted, are hashed with sha256 over every column
(``doc_id, media_type, codec, payload``, or ``doc_id, law, payload``
for G.711).

The constants were computed at commit
96ab48514e445deeff2af551114deea784b58141 (before the builders
were folded onto ``_map_rows``).
"""

from __future__ import annotations

import hashlib

import pytest

from falcon_metrics_etl_spark.functions import multimodal as MM
from falcon_metrics_etl_spark.sources.tables import load_table

GOLDEN = {
    "attach_payload_png": (
        500,
        "07aadf674e5d9188887d67ff89d76c7fb6944e2e30c48674d1e1fbe9bf12b764",
    ),
    "attach_payload_wav": (
        500,
        "efb2b0651b15fff0e0bd4ce48c93bd6e1f96c5824e7f8a78e73147ae0f6c8deb",
    ),
    "attach_payload_png_gradient": (
        500,
        "3e32bb4ee7df99e9d5b3e58cc27511fdf6ba01c62a0d897d3a22c355407a71fb",
    ),
    "attach_payload_png_depth_variants": (
        500,
        "49e72126192e825e869be262c57a61eb5c56178051826ad5fc7e3799e61d582a",
    ),
    "attach_payload_wav_square": (
        500,
        "ad112c329528549f7fc012e7ee6e87d72ed4339e9cae7d1f8b6f5914ba235030",
    ),
    "attach_payload_jpeg_blocks": (
        500,
        "f75ec490666cc771d3f1d0786e920cce6e071398fa1ab79d32731f83ef1bb797",
    ),
    "attach_payload_jpeg_color": (
        500,
        "55ea8d1ba26aadf127ca46ed28a91c0bbc3ffa033c080bbc616f88250861b5d8",
    ),
    "attach_payload_jpeg_color_progressive": (
        500,
        "569630b888d3c9ff2f5718f9dc6de2b26fd133619bb9bb1fbc1748da4ab798e4",
    ),
    "attach_payload_jpeg_420": (
        500,
        "12e18937c14fe6219cf4b2335de23a6883453bb58483a813fed8bf24e6a638f6",
    ),
    "attach_payload_jpeg_progressive": (
        500,
        "bc83f3f3335ae0a5037d258e205a51f892e5e1a1dfd12cb786887e336be5f4a1",
    ),
    "attach_payload_jpeg_420_progressive": (
        500,
        "737a0a3e39e89d5150ed63dc7e2bd99970af8d32a672b7f28328eb74562407a9",
    ),
    "attach_payload_wav_ms_adpcm": (
        500,
        "48897d4e14ef25bb0b3edd6ed45ea1e5ff038e58ef1154a43fe9bf322be3c248",
    ),
    "attach_payload_wav_g711": (
        1000,
        "c0c8d87fd625d9f6859053599ea5c12cf43f86a76e813c4b60e9aaf15cd9ee74",
    ),
    "attach_payload_wav_adpcm": (
        500,
        "1750f57fa99ab0221f6ea37dbb4e8a96f7397ea610fe9b6744de2e81d66af491",
    ),
    "attach_payload_png_color": (
        500,
        "0587b3713572fdd3c45c38db57c8a863c1b1dd4ed3ba286e297a218e77a02e98",
    ),
    "attach_payload_y4m_chroma": (
        500,
        "86a2d3aef81df02cd7c8d473ecfe32afdd4927175350e9705434f3b94c9aeb66",
    ),
    "attach_payload_y4m": (
        500,
        "de5cf37d15ef3cac3d7d643f6f5df01de856956ad21738bbf27019e609ed93f5",
    ),
    "attach_payload_wav_padded": (
        500,
        "d13659e73bf88916928518e10ffa74383b7027f56c11cfa3756d3cc0a58eda4c",
    ),
    "attach_payload_dhash_corpus": (
        500,
        "271dfb08a0d829f05d1f87946940a7d285b3452ed0d6f4ada980b625b55b2c81",
    ),
    "attach_payload_video_clips": (
        500,
        "6e543b1b48266dd12a7bfb0eb04ea875af270469fe3750e7e5c5aacf256b80f1",
    ),
    "attach_payload_keyframe_thumbs": (
        72,
        "3cf318b4af0b79a53399a024242192ac7d18f30365958b0d7d597aaebcfc1d5f",
    ),
    "attach_payload_audio_clips": (
        500,
        "a1b5e2a5f8f65a8102e5be6e1234c908a6685cfcf8a1a76d7e3c798700c7f38d",
    ),
    "attach_payload_soundtrack_wavs": (
        56,
        "51e96594805a4cf8a84c68534ea60bc7e2b25a92835aebd1900eba5918aece33",
    ),
}


def payload_digest(df) -> tuple[int, str]:
    """(row count, sha256 over the rows sorted by their column values)."""
    rows = sorted(tuple(r) for r in df.collect())
    h = hashlib.sha256()
    for row in rows:
        for v in row:
            b = bytes(v) if isinstance(v, (bytes, bytearray)) else str(v).encode()
            h.update(len(b).to_bytes(8, "big"))
            h.update(b)
    return len(rows), h.hexdigest()


@pytest.fixture(scope="module")
def docs(spark, sf_smoke):
    return load_table(spark, sf_smoke, "documents").select("doc_id", "text")


@pytest.mark.parametrize("name", sorted(GOLDEN))
def test_payload_bytes_match_golden(docs, name):
    assert payload_digest(getattr(MM, name)(docs)) == GOLDEN[name]
