"""r11 additions: the real P6 resize kernel, decode-stub robustness on
malformed payloads, and the staged co-purchase edge list. (Adaptive
re-banding coverage lives in test_dedup.py and test_capcorpus.py;
reliable-checkpoint parity for every operator in test_materialize.py.)"""

from __future__ import annotations

from tests.conftest import SF_SMALL


# --------------------------------------------------------------------------
# REAL P6 resize kernel (r11)
# --------------------------------------------------------------------------


def _resize_payloads(spark, payloads, max_side=8):
    from map_reduce_lite_spark.ops.multimodal import resize_ppm

    media = spark.createDataFrame(
        [(i, p) for i, p in enumerate(payloads)], "media_id long, payload binary"
    )
    return {
        r["media_id"]: r.asDict()
        for r in resize_ppm(media, max_side=max_side).collect()
    }


def test_ppm_resize_nearest_neighbor_exact(spark):
    """A 4x2 raster downsampled to max side 2 → 2x1 output sampling
    source pixels (0,0) and (0,2) by the floor-NN map — checked against
    hand-computed integer sums, including the never-upscale branch."""
    import numpy as np

    w, h = 4, 2
    px = np.arange(w * h * 3, dtype=np.uint8)  # values 0..23
    buf = b"P6\n4 2\n255\n" + px.tobytes()
    out = _resize_payloads(spark, [buf], max_side=2)[0]
    # ow = (4*2)//4 = 2, oh = max(1,(2*2)//4) = 1
    assert out["ok"] and (out["out_w"], out["out_h"]) == (2, 1)
    # y=0 -> sy=(0*2)//1=0; x=0 -> sx=0, x=1 -> sx=(1*4)//2=2
    want = sum(int(px[(0 * w + sx) * 3 + c]) for sx in (0, 2) for c in range(3))
    assert out["n_px"] == 6 and out["sum_px"] == want
    # small image: no upscale, dims pass through
    out2 = _resize_payloads(spark, [buf], max_side=64)[0]
    assert (out2["out_w"], out2["out_h"]) == (4, 2)
    assert out2["sum_px"] == int(px.sum())


def test_ppm_resize_spec_corners_and_16bit(spark):
    """Header comments/whitespace and big-endian 16-bit samples resize
    through the same parser as the decoder."""
    import numpy as np

    px8 = bytes([10, 20, 30, 40, 50, 60])
    good8 = b"P6 # a comment\n  2\t# another\n 1 \t\n255\n" + px8
    px16 = np.array([256, 512, 1024], dtype=">u2").tobytes()
    good16 = b"P6\n1 1\n65535\n" + px16
    out = _resize_payloads(spark, [good8, good16])
    assert out[0]["ok"] and (out[0]["out_w"], out[0]["out_h"]) == (2, 1)
    assert out[0]["sum_px"] == sum(px8)
    assert out[1]["ok"] and out[1]["sum_px"] == 256 + 512 + 1024


def test_ppm_resize_flags_malformed_never_raises(spark):
    cases = [
        b"P5\n1 1\n255\n" + bytes(3),
        b"P6",
        b"P6\n2 2\n255\n" + bytes(5),
        b"P6\n0 1\n255\n",
        b"P6\n1 1\n70000\n" + bytes(6),
        None,
    ]
    out = _resize_payloads(spark, cases)
    for i in range(len(cases)):
        assert out[i]["ok"] is False, i
        assert out[i]["out_w"] is None and out[i]["sum_px"] is None, i


def test_ppm_resize_roundtrip_matches_synthesis_rule(spark):
    """synthesize → resize must reproduce the closed-form NN sum the
    oracle computes (explicit expected values at unit scale)."""
    from map_reduce_lite_spark.ops.multimodal import (
        resize_ppm,
        synthesize_ppm_media,
    )

    docs = spark.createDataFrame([(7,), (50,)], "doc_id long")
    out = {
        r["media_id"]: r.asDict()
        for r in resize_ppm(synthesize_ppm_media(docs)).collect()
    }
    # doc 7: w=11, h=3; m=11 > 8 -> ow=(11*8)//11=8, oh=max(1,(3*8)//11)=2
    w, h, ow, oh = 11, 3, 8, 2
    s = sum(
        (7 * 31 + ((((y * h) // oh) * w + (x * w) // ow) * 3 + c) * 7) % 256
        for y in range(oh)
        for x in range(ow)
        for c in range(3)
    )
    assert out[7]["ok"] and (out[7]["out_w"], out[7]["out_h"]) == (ow, oh)
    assert out[7]["n_px"] == ow * oh * 3 and out[7]["sum_px"] == s
    assert out[50]["ok"] is False and out[50]["out_w"] is None


def test_stub_kernels_survive_non_utf8_payloads(spark):
    """ADVICE r11: a raw binary (non-UTF-8) payload routed into the
    fake decode/resize kernels must yield NULL rows, not a
    UnicodeDecodeError that kills the stage."""
    from map_reduce_lite_spark.ops.multimodal import (
        decode_image_stub,
        resize_image_stub,
    )

    bad = bytes([0xFF, 0xFE, 0x80, 0x81])  # invalid UTF-8
    media = spark.createDataFrame(
        [(1, bad, ("application/octet-stream", None, None)),
         (2, b"fine text", ("application/octet-stream", None, None))],
        "media_id long, payload binary, "
        "meta struct<mime string, width int, height int>",
    )
    dec = {r["media_id"]: r.asDict() for r in decode_image_stub(media).collect()}
    assert dec[1]["feature"] is None and dec[1]["n_bytes"] == 4
    assert dec[2]["feature"] is not None
    rez = {r["media_id"]: r.asDict() for r in resize_image_stub(media).collect()}
    assert rez[1]["thumb_md5"] is None and rez[1]["width"] is None
    assert rez[2]["thumb_md5"] is not None


def test_decode_stub_empty_payload_null_moments(spark):
    """ADVICE r11: zero-length payload → NULL mean/var (parity with the
    SQL twin where list_sum([]) is NULL), not 0.0."""
    from map_reduce_lite_spark.ops.multimodal import decode_image_stub

    media = spark.createDataFrame(
        [(1, b"", ("application/octet-stream", None, None))],
        "media_id long, payload binary, "
        "meta struct<mime string, width int, height int>",
    )
    row = decode_image_stub(media).collect()[0]
    assert row["feature"][0] == 0.0 and row["feature"][2] is None


def test_copurchase_edges_staged_parity(spark, tmp_path):
    """build_copurchase_edges stages the shared co-purchase edge list
    (the third build-once artifact after knn edges and near-dup pairs):
    every consumer — triangles, label propagation, k-core — returns
    identical values from the staged artifact as from its inline
    build."""
    from map_reduce_lite_spark.ops.graph import (
        build_copurchase_edges,
        copurchase_edges,
        kcore_parts,
        label_propagation_parts,
        triangle_parts,
    )
    from map_reduce_lite_spark.relational.tables import load_table

    li = load_table(spark, SF_SMALL, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    staged = build_copurchase_edges(li, str(tmp_path / "edges"))
    assert {tuple(r) for r in staged.collect()} == {
        tuple(r) for r in copurchase_edges(li).collect()
    }
    for fn in (triangle_parts, label_propagation_parts, kcore_parts):
        inline_rows = {tuple(r) for r in fn(spark, SF_SMALL).collect()}
        staged_rows = {
            tuple(r) for r in fn(spark, SF_SMALL, edges=staged).collect()
        }
        assert inline_rows == staged_rows, fn.__name__
        assert len(inline_rows) > 0, fn.__name__
