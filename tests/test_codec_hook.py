"""The native-codec injection hook: extract_pixel_features /
resize_images / sample_video_frames accept a ``decode`` callable that
replaces the built-in pure-python decoder — the production path for a
100 TB corpus, where a libjpeg-turbo-class codec is ~2 orders of
magnitude faster per core.  The hook must cloudpickle to executors and
leave schema, batching and drop contract unchanged.
"""

from __future__ import annotations

import numpy as np

from fluent_plugin_sql_spark.operators.multimodal import (
    extract_pixel_features,
    resize_images,
)


def _make_fake_codec():
    """Stand-in for a native codec: decodes a toy 'RAW1' format
    (b'RAW1' + w + h + interleaved RGB bytes) the built-in decoder
    does not know.  Built as a CLOSURE so cloudpickle serializes it by
    value (a module-level test function would pickle by reference and
    fail to import on executors) — exactly how a user would wrap their
    PIL/libvips call site."""

    def fake_codec(payload: bytes):
        import numpy as np_

        if payload is None or payload[:4] != b"RAW1" or len(payload) < 6:
            return None
        w, h = payload[4], payload[5]
        body = payload[6 : 6 + w * h * 3]
        if len(body) != w * h * 3:
            return None
        return np_.frombuffer(body, np_.uint8).reshape(h, w, 3)

    return fake_codec


def _raw1(doc_id: int, w: int = 6, h: int = 4) -> bytes:
    arr = np.full((h, w, 3), doc_id % 256, np.uint8)
    return b"RAW1" + bytes([w, h]) + arr.tobytes()


def _payloads(spark):
    rows = [(i, _raw1(i)) for i in range(8)]
    rows.append((99, b"not an image"))  # undecodable → dropped
    return spark.createDataFrame(rows, "doc_id LONG, payload BINARY")


def test_injected_codec_drives_pixel_features(spark):
    df = _payloads(spark)
    # built-in decoder does not know RAW1 → everything drops
    assert extract_pixel_features(df).count() == 0
    out = extract_pixel_features(df, decode=_make_fake_codec()).collect()
    assert len(out) == 8  # the garbage payload still drops
    by_id = {r["doc_id"]: r for r in out}
    assert by_id[3]["width"] == 6 and by_id[3]["height"] == 4
    assert by_id[3]["brightness"] == 3.0


def test_injected_codec_drives_resize(spark):
    df = _payloads(spark)
    out = resize_images(df, 2, 2, decode=_make_fake_codec()).collect()
    assert len(out) == 8
    r = next(x for x in out if x["doc_id"] == 5)
    assert r["width"] == 2 and r["height"] == 2
    # canonical P6 output whose pixels carry the fill value
    assert r["payload"].startswith(b"P6\n2 2\n255\n")
    assert set(r["payload"][-12:]) == {5}


def test_injected_codec_output_feeds_builtin_chain(spark):
    """Resized-through-injected-codec output is canonical PPM, so the
    BUILT-IN decoder consumes it downstream — codecs mix per stage."""
    df = _payloads(spark)
    resized = resize_images(df, 3, 3, decode=_make_fake_codec())
    feats = extract_pixel_features(resized).collect()  # built-in decode
    assert len(feats) == 8
    assert all(r["width"] == 3 and r["height"] == 3 for r in feats)


def test_operators_import_leaves_codecs_unloaded():
    """``import fluent_plugin_sql_spark.operators`` must not load the
    codec modules; their re-exports resolve on first access."""
    import subprocess
    import sys
    from pathlib import Path

    code = (
        "import sys\n"
        "import fluent_plugin_sql_spark.operators as ops\n"
        "pre = 'fluent_plugin_sql_spark.operators.'\n"
        "assert pre + 'multimodal' not in sys.modules\n"
        "assert pre + 'native_codecs' not in sys.modules\n"
        "from fluent_plugin_sql_spark.operators import jpeg_pixels, webp_available\n"
        "from fluent_plugin_sql_spark.operators import multimodal, native_codecs\n"
        "assert jpeg_pixels is multimodal.jpeg_pixels\n"
        "assert webp_available is native_codecs.webp_available\n"
        "assert 'wav_pcm16_samples' in dir(ops)\n"
        "try:\n"
        "    ops.no_such_name\n"
        "except AttributeError:\n"
        "    pass\n"
        "else:\n"
        "    raise AssertionError('unknown name resolved')\n"
    )
    subprocess.run(
        [sys.executable, "-c", code],
        check=True,
        cwd=Path(__file__).resolve().parents[1],
        timeout=60,
    )
