"""Multimodal plumbing tests: media wrapping, Arrow-batched feature
extraction, frame sampling fan-out, and resize passthrough — the
Spark-side contracts that stay fixed when real codecs replace the
stubs."""

from __future__ import annotations

import pytest

from nhl_data_warehouse_spark.operators import multimodal


@pytest.fixture(scope="module")
def media(spark):
    docs = spark.createDataFrame(
        [
            (1, "a" * 300, "web"),
            (2, "b" * 64, "pdf"),
            (3, "", "empty"),
        ],
        "doc_id long, text string, source string",
    )
    return multimodal.as_media_table(docs)


def test_metadata_projection_never_reads_payload(spark, media):
    meta = media.select("media_id", "meta.n_bytes", "meta.mime")
    rows = {r.media_id: r.n_bytes for r in meta.collect()}
    assert rows == {1: 300, 2: 64, 3: 0}
    # payload column absent from the scan-side projection
    assert "payload" not in meta.columns


def test_feature_extract_batch_contract(media):
    feats = {r.media_id: r for r in multimodal.extract_features(media).collect()}
    assert feats[1].n_bytes == 300
    assert feats[1].byte_mean == pytest.approx(97.0)  # ord('a')
    assert feats[3].n_bytes == 0 and feats[3].byte_mean == 0.0
    assert not feats[1].decoded_real  # stubbed decode is flagged


def test_frame_sample_fanout_and_determinism(media):
    frames = multimodal.frame_sample(media, every_n=4, frame_bytes=64).collect()
    by_id = {}
    for r in frames:
        by_id.setdefault(r.media_id, []).append(r)
    # 300 bytes, step 256: frames at offsets 0 and 256 -> 64 and 44 bytes
    one = sorted(by_id[1], key=lambda r: r.frame_index)
    assert [(r.frame_index, r.n_frame_bytes) for r in one] == [(0, 64), (1, 44)]
    assert bytes(one[0].frame_payload) == b"a" * 64
    # 64 bytes -> exactly one full frame; empty payload -> no frames
    assert [(r.frame_index, r.n_frame_bytes) for r in by_id[2]] == [(0, 64)]
    assert 3 not in by_id


def test_resize_stub_keeps_media_shape(media):
    out = multimodal.resize_media(media, max_dim=128)
    assert out.schema == multimodal.MEDIA_SCHEMA
    rows = {r.media_id: r for r in out.collect()}
    assert rows[1].meta.n_bytes == 150  # stub halves the payload
    assert rows[1].meta.mime.endswith("resized")
    assert rows[1].meta.source == "web"


def test_resize_degenerate_payloads_match_oracle_semantics(spark):
    # ADVICE r2: NULL text -> NULL mime / 0 bytes; empty text -> tagged
    # mime / 0 bytes (b''[:1] == b''). The media_resize_meta oracle's
    # CASE expressions encode exactly this.
    docs = spark.createDataFrame(
        [(1, None, "s"), (2, "", "s"), (3, "x", "s")],
        "doc_id long, text string, source string",
    )
    out = multimodal.resize_media(multimodal.as_media_table(docs))
    rows = {r.media_id: r.meta for r in out.collect()}
    assert rows[1].mime is None and rows[1].n_bytes == 0
    assert rows[2].mime == "text/plain;resized" and rows[2].n_bytes == 0
    assert rows[3].mime == "text/plain;resized" and rows[3].n_bytes == 1


class TestHeaderDecode:
    def test_png_header(self):
        p = multimodal.png_payload(37, 21)
        assert multimodal._header_dimensions(p) == (37, 21)
        w, h, real = multimodal._decode_dimensions(p)
        assert (w, h, real) == (37, 21, True)

    def test_png_payload_is_a_valid_png(self):
        # structural check without a codec: signature, chunk walk,
        # CRCs, and the IDAT inflates to (1+w)*h filter+pixel bytes
        import struct
        import zlib

        p = multimodal.png_payload(5, 3)
        assert p[:8] == b"\x89PNG\r\n\x1a\n"
        i, chunks, idat = 8, [], b""
        while i < len(p):
            (ln,) = struct.unpack(">I", p[i : i + 4])
            tag = p[i + 4 : i + 8]
            body = p[i + 8 : i + 8 + ln]
            (crc,) = struct.unpack(">I", p[i + 8 + ln : i + 12 + ln])
            assert crc == zlib.crc32(tag + body) & 0xFFFFFFFF
            chunks.append(tag)
            if tag == b"IDAT":
                idat += body
            i += 12 + ln
        assert chunks == [b"IHDR", b"IDAT", b"IEND"]
        assert zlib.decompress(idat) == b"\x00" * (6 * 3)

    def test_gif_header(self):
        import struct

        gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\xf7\x00\x00"
        assert multimodal._header_dimensions(gif) == (320, 200)

    def test_jpeg_sof0_after_app0(self):
        import struct

        app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
        sof0 = (
            b"\xff\xc0"
            + struct.pack(">H", 11)
            + b"\x08"
            + struct.pack(">HH", 480, 640)  # height, width
            + b"\x01\x01\x11\x00"
        )
        jpg = b"\xff\xd8" + app0 + sof0
        assert multimodal._header_dimensions(jpg) == (640, 480)

    def test_non_image_returns_none_and_fake_flag(self):
        assert multimodal._header_dimensions(b"hello world, not an image") is None
        _, _, real = multimodal._decode_dimensions(b"hello world")
        assert real is False

    def test_png_media_table_decodes_real(self, spark):
        docs = spark.createDataFrame(
            [(0, "web", 10), (65, "pdf", 100), (7, "web", None)],
            "doc_id long, source string, n_chars long",
        )
        media = multimodal.as_png_media_table(docs)
        feats = {
            r.media_id: r
            for r in multimodal.extract_features(media).collect()
        }
        assert (feats[0].width, feats[0].height) == (1, 11)
        assert (feats[65].width, feats[65].height) == (2, 37)
        assert (feats[7].width, feats[7].height) == (8, 1)  # null n_chars -> 0
        assert all(f.decoded_real for f in feats.values())
        metas = {r.media_id: r.meta for r in media.collect()}
        assert metas[0].mime == "image/png"
        assert metas[0].n_bytes > 0
