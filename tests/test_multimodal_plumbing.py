"""Multimodal plumbing: real Spark dataflow, stubbed pixel decode."""

import pytest

from remark_lint_frontmatter_schema_spark.functions import multimodal as mm


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (f"img_{i}", mm.make_png_stub(i, w=4 + i, h=3 + i), "image",
         {"source": "unit"})
        for i in range(10)
    ] + [
        ("bad_0", b"\x00\x01not-an-image", "image", {}),
    ]
    return spark.createDataFrame(rows, mm.MEDIA_SCHEMA).cache()


def test_image_meta(media):
    out = media.where("media_type = 'image'") \
        .select("media_id", "bytes") \
        .mapInPandas(mm.image_meta_map_in_pandas,
                     schema=mm.IMAGE_META_SCHEMA)
    rows = {r.media_id: r for r in out.collect()}
    assert rows["img_0"].format == "png"
    assert (rows["img_0"].width, rows["img_0"].height) == (4, 3)
    assert (rows["img_3"].width, rows["img_3"].height) == (7, 6)
    assert rows["bad_0"].decode_ok is False


def test_pixel_decode_png_real_others_stubbed():
    # PNG decodes natively (see test_png_codec.py); the header-only stub
    # is CRC-invalid junk so it fails integrity, not NotImplementedError
    with pytest.raises(ValueError):
        mm.decode_image(mm.make_png_stub(0))
    # round 3: baseline JPEG decodes natively (functions/jpeg.py); a
    # magic-only fake is malformed, and only WEBP remains the seam
    with pytest.raises(ValueError):
        mm.decode_image(b"\xff\xd8\xff\xe0" + b"\x00" * 16)
    from remark_lint_frontmatter_schema_spark.functions import jpeg
    assert mm.decode_image(jpeg.make_jpeg(2, w=6, h=5)).shape == (5, 6, 3)
    # round 5: VP8L decodes natively; the remaining refusal is LOSSY VP8
    assert mm.decode_image(mm.make_webp(1, w=5, h=4)).shape == (4, 5, 3)
    with pytest.raises(NotImplementedError, match="lossy VP8"):
        mm.decode_image(b"RIFF\x28\x00\x00\x00WEBPVP8 " + b"\x00" * 24)
    assert mm.decode_image(mm.make_png(1, w=5, h=4)).shape == (4, 5, 3)
