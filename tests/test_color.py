"""Color transforms (multimodal.color): HSV pinned against the stdlib
colorsys dual, LAB against published sRGB reference values, and the
masked-stats operator end-to-end through Spark."""

import colorsys

import numpy as np
import pandas as pd
import pytest


def test_rgb_to_hsv_matches_colorsys():
    from combinedfeatureextraction_spark.multimodal.color import (
        rgb_to_hsv_numpy,
    )

    rng = np.random.default_rng(37)
    px = rng.integers(0, 256, size=(200, 3)).astype(np.float64) / 255.0
    # force the tie/achromatic branches too
    px = np.vstack(
        [px, [[0, 0, 0], [1, 1, 1], [0.5, 0.5, 0.5], [0.5, 0.5, 0.2],
              [0.2, 0.5, 0.5], [0.5, 0.2, 0.5]]]
    )
    got = rgb_to_hsv_numpy(px)
    want = np.array([colorsys.rgb_to_hsv(*p) for p in px])
    assert np.allclose(got, want, atol=1e-12)


def test_rgb_to_lab_reference_values():
    """Published CIELAB values for the sRGB primaries + white/black
    (D65, 2° observer) — the same values skimage.color.rgb2lab
    produces."""
    from combinedfeatureextraction_spark.multimodal.color import (
        rgb_to_lab_numpy,
    )

    cases = {
        (1.0, 1.0, 1.0): (100.0, 0.0, 0.0),
        (0.0, 0.0, 0.0): (0.0, 0.0, 0.0),
        (1.0, 0.0, 0.0): (53.24, 80.09, 67.20),
        (0.0, 1.0, 0.0): (87.74, -86.18, 83.18),
        (0.0, 0.0, 1.0): (32.30, 79.19, -107.86),
    }
    for rgb, want in cases.items():
        got = rgb_to_lab_numpy(np.array(rgb))
        assert np.allclose(got, want, atol=0.05), (rgb, got)


def _ppm6(w, h, pixels):
    return (f"P6\n{w} {h}\n255\n".encode()
            + bytes(v for px in pixels for v in px))


def _ppm5(w, h, vals):
    return f"P5\n{w} {h}\n255\n".encode() + bytes(vals)


def test_masked_color_stats_spark(spark):
    from combinedfeatureextraction_spark.multimodal.color import (
        masked_color_stats,
        rgb_to_lab_numpy,
    )

    # 2x3 image; mask selects the top row only
    pix = [(200, 40, 10), (10, 180, 70), (30, 30, 220),
           (255, 255, 255), (0, 0, 0), (128, 128, 128)]
    img = _ppm6(3, 2, pix)
    msk = _ppm5(3, 2, [255, 1, 255, 0, 0, 0])
    empty = _ppm5(3, 2, [0] * 6)
    media = spark.createDataFrame(
        pd.DataFrame(
            {"media_id": [1, 2], "payload": [img, img],
             "mask_payload": [msk, empty]}
        )
    )
    out = {r["media_id"]: r for r in
           masked_color_stats(media, space="lab").collect()}
    sel = rgb_to_lab_numpy(np.array(pix[:3], dtype=np.float64) / 255.0)
    assert out[1]["n_masked"] == 3
    assert np.isclose(out[1]["c1_mean"], sel[:, 0].mean())
    assert np.isclose(out[1]["c2_std"], sel[:, 1].std())
    # empty compartment -> reference's 0.0 convention
    assert out[2]["n_masked"] == 0 and out[2]["c1_mean"] == 0.0


def test_masked_color_stats_rejects_bad_space(spark):
    from combinedfeatureextraction_spark.multimodal.color import (
        masked_color_stats,
    )

    with pytest.raises(ValueError, match="space"):
        masked_color_stats(spark.range(1), space="xyz")


def _wav16(samples):
    import struct

    data = np.asarray(samples, dtype="<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    return (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
            + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)


def test_image_operators_reject_audio_payload(spark):
    """A WAV payload decodes (it is audio) but is not an image: both
    image operators fail the job instead of emitting a row."""
    from combinedfeatureextraction_spark.multimodal.color import (
        masked_color_stats,
    )
    from combinedfeatureextraction_spark.multimodal.subcompartment import (
        sub_compartment_features,
    )

    media = spark.createDataFrame(
        pd.DataFrame({"media_id": [1], "payload": [_wav16(range(12))],
                      "mask_payload": [_ppm5(3, 2, [255] * 6)]})
    )
    params = [{"name": "nuclei", "threshold": 200, "min_size": 4},
              {"name": "eos", "threshold": 60, "min_size": 4},
              {"name": "luminal", "threshold": 255, "min_size": 0}]
    with pytest.raises(Exception, match="not audio or empty"):
        masked_color_stats(media, space="rgb").collect()
    with pytest.raises(Exception, match="not audio or empty"):
        sub_compartment_features(media, params).collect()


_COLOR_JPEG_JAVA = (
    "import javax.imageio.ImageIO;\nimport java.awt.image.BufferedImage;\n"
    "import java.io.File;\n"
    "public class ColorJpeg {\n"
    "  public static void main(String[] a) throws Exception {\n"
    "    BufferedImage c = new BufferedImage(16,8,BufferedImage.TYPE_INT_RGB);\n"
    "    for (int y=0;y<8;y++) for (int x=0;x<16;x++)\n"
    "      c.setRGB(x,y,(((x*13+y*7)%256)<<16)|(((x*5+y*29)%256)<<8)"
    "|((x*11+y*3)%256));\n"
    "    ImageIO.write(c,\"jpg\",new File(a[0])); } }\n"
)


def test_masked_color_stats_jpeg_payload(spark, tmp_path):
    """JPEG image and JPEG mask: the stats equal numpy stats over
    decode_jpeg's own pixels. The color JPEG is written by Java ImageIO
    (4:2:0); the gray mask by the in-repo encoder, DC-only blocks at
    pixel 0 (left 8×8) and 128 (right 8×8)."""
    import shutil
    import subprocess

    from combinedfeatureextraction_spark.multimodal.color import (
        masked_color_stats,
        rgb_to_hsv_numpy,
    )
    from combinedfeatureextraction_spark.multimodal.jpeg import (
        decode_jpeg,
        encode_jpeg_gray_numpy,
    )

    if not shutil.which("java"):
        pytest.skip("no JDK in PATH")
    (tmp_path / "ColorJpeg.java").write_text(_COLOR_JPEG_JAVA)
    subprocess.run(["java", "ColorJpeg.java", "c.jpg"], cwd=tmp_path,
                   check=True)
    img = (tmp_path / "c.jpg").read_bytes()
    q = np.zeros((1, 2, 8, 8), np.int64)
    q[0, 0, 0, 0] = -1024  # level shift: 128 - 1024/8 = 0
    msk = encode_jpeg_gray_numpy(q)

    media = spark.createDataFrame(
        pd.DataFrame({"media_id": [7], "payload": [img],
                      "mask_payload": [msk]})
    )
    got = masked_color_stats(media, space="hsv").collect()[0]

    flat, w, h, ch = decode_jpeg(img)
    mflat, mw, mh, mch = decode_jpeg(msk)
    assert (w, h, ch, mw, mh, mch) == (16, 8, 3, 16, 8, 1)
    sel = mflat.reshape(h, w) > 0
    assert sel.sum() == 64 and sel[:, 8:].all()
    px = rgb_to_hsv_numpy(flat.reshape(h, w, 3)[sel] / 255.0)
    assert got["n_masked"] == 64
    assert [got[f"c{i}_mean"] for i in (1, 2, 3)] == list(px.mean(axis=0))
    assert [got[f"c{i}_std"] for i in (1, 2, 3)] == list(px.std(axis=0))
