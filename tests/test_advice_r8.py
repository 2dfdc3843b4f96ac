"""Round-8 ADVICE regressions: TIFF SamplesPerPixel decompression bomb,
JPEG color-space contract (Adobe APP14 / component ids), and the Derby
schema_search_path "public" sentinel."""

from __future__ import annotations

import struct
import time

import numpy as np
import pytest

from fluent_plugin_sql_spark.operators.multimodal import jpeg_pixels, tiff_pixels

from test_jpeg_decode import Q1, _rng, _seg, encode_jpeg
from test_tiff_decode import encode_tiff


def _patch_tiff_tag(payload: bytes, tag: int, value: int) -> bytes:
    """Overwrite a SHORT tag's inline value in a little-endian TIFF."""
    buf = bytearray(payload)
    (ifd_off,) = struct.unpack_from("<I", buf, 4)
    (n_entries,) = struct.unpack_from("<H", buf, ifd_off)
    for i in range(n_entries):
        pos = ifd_off + 2 + 12 * i
        (t,) = struct.unpack_from("<H", buf, pos)
        if t == tag:
            struct.pack_into("<H", buf, pos + 8, value)
            return bytes(buf)
    raise AssertionError(f"tag {tag} not found")


class TestTiffSppBomb:
    def test_huge_spp_returns_none_fast(self):
        """A ~12 KB crafted TIFF with SamplesPerPixel=65535 must be
        rejected by header caps, not allocate a spp-scaled canvas."""
        img = _rng(1).integers(0, 256, (64, 64), np.uint8)
        payload = _patch_tiff_tag(encode_tiff(img), 277, 65535)
        t0 = time.monotonic()
        assert tiff_pixels(payload) is None
        assert time.monotonic() - t0 < 1.0

    def test_spp_just_over_cap_rejected(self):
        img = _rng(2).integers(0, 256, (8, 8), np.uint8)
        assert tiff_pixels(_patch_tiff_tag(encode_tiff(img), 277, 9)) is None

    def test_spp_zero_rejected(self):
        img = _rng(3).integers(0, 256, (8, 8), np.uint8)
        assert tiff_pixels(_patch_tiff_tag(encode_tiff(img), 277, 0)) is None

    def test_rgb_still_decodes(self):
        img = _rng(4).integers(0, 256, (16, 16, 3), np.uint8)
        arr = tiff_pixels(encode_tiff(img))
        assert arr is not None and np.array_equal(arr, img)


def _insert_app14(payload: bytes, transform: int) -> bytes:
    """Insert an Adobe APP14 segment right after SOI."""
    body = b"Adobe" + bytes([0, 100, 0, 0, 0, 0, transform])
    assert len(body) == 12
    return payload[:2] + _seg(0xEE, body) + payload[2:]


def _remap_component_ids(payload: bytes, mapping: dict[int, int]) -> bytes:
    """Rewrite component ids in the SOF0 and SOS segments."""
    buf = bytearray(payload)
    pos = 2
    while pos + 4 <= len(buf):
        assert buf[pos] == 0xFF
        marker = buf[pos + 1]
        (seg_len,) = struct.unpack_from(">H", buf, pos + 2)
        body_at = pos + 4
        if marker == 0xC0:
            ncomp = buf[body_at + 5]
            for c in range(ncomp):
                at = body_at + 6 + 3 * c
                buf[at] = mapping.get(buf[at], buf[at])
        elif marker == 0xDA:
            ns = buf[body_at]
            for s in range(ns):
                at = body_at + 1 + 2 * s
                buf[at] = mapping.get(buf[at], buf[at])
            return bytes(buf)  # entropy data follows; stop walking
        pos += 2 + seg_len
    raise AssertionError("no SOS found")


class TestJpegColorSpaceContract:
    def _rgb_payload(self):
        img = _rng(5).integers(0, 256, (16, 16, 3), np.uint8)
        return encode_jpeg(img, Q1)

    def test_adobe_transform_zero_rejected(self):
        """APP14 transform=0 declares RGB-coded components; decoding as
        YCbCr would be silently wrong colors → None per drop contract."""
        assert jpeg_pixels(_insert_app14(self._rgb_payload(), 0)) is None

    def test_adobe_transform_one_decodes_identically(self):
        base = self._rgb_payload()
        with_app14 = _insert_app14(base, 1)
        a, b = jpeg_pixels(base), jpeg_pixels(with_app14)
        assert a is not None and b is not None and np.array_equal(a, b)

    def test_non_jfif_component_ids_rejected(self):
        """Component ids R,G,B (82,71,66) without an Adobe marker: color
        space undeclared and not the JFIF 1,2,3 convention → None."""
        remapped = _remap_component_ids(
            self._rgb_payload(), {1: 82, 2: 71, 3: 66}
        )
        assert jpeg_pixels(remapped) is None

    def test_adobe_transform_overrides_nonstandard_ids(self):
        """An explicit Adobe transform=1 declares YCbCr even with
        non-JFIF ids — decode proceeds and matches the JFIF-id decode."""
        base = self._rgb_payload()
        remapped = _remap_component_ids(base, {1: 82, 2: 71, 3: 66})
        a = jpeg_pixels(base)
        b = jpeg_pixels(_insert_app14(remapped, 1))
        assert b is not None and np.array_equal(a, b)

    def test_gray_unaffected(self):
        img = _rng(6).integers(0, 256, (16, 16), np.uint8)
        assert jpeg_pixels(encode_jpeg(img, Q1, gray=True)) is not None


DRIVER = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}


def test_derby_explicit_public_schema_filters(spark, tmp_path):
    """schema_search_path="public" on Derby must FILTER to the (quoted,
    creatable) schema named public — only key-absence means no filter."""
    from fluent_plugin_sql_spark.sources.jdbc import discover_jdbc_tables

    db = tmp_path / "derby_public"
    url = f"jdbc:derby:{db};create=true"
    jvm = spark._jvm  # noqa: SLF001
    jvm.java.lang.Class.forName(
        DRIVER["driver"], True,
        jvm.java.lang.Thread.currentThread().getContextClassLoader(),
    )
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = conn.createStatement()
        for sql in (
            'CREATE SCHEMA "PUBLIC"',
            "CREATE SCHEMA OTHER",
            'CREATE TABLE "PUBLIC".PTAB (id INT)',
            "CREATE TABLE OTHER.OTAB (id INT)",
        ):
            st.executeUpdate(sql)
        st.close()
    finally:
        conn.close()

    # explicit "public" → only the public schema's tables
    assert discover_jdbc_tables(
        spark, url, DRIVER, schema="public"
    ) == ["PTAB"]
    # absent key (None) → historical no-filter behavior
    assert set(
        discover_jdbc_tables(spark, url, DRIVER)
    ) == {"PTAB", "OTAB"}
    # empty path is a config error for derby too
    with pytest.raises(ValueError, match="schema_search_path"):
        discover_jdbc_tables(spark, url, DRIVER, schema=" , ")
