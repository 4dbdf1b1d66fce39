"""The row-map crossing: every per-row decoder, clip_zones_exact and
warc_pages checked against its pure-Python reference on two-row Arrow
batches, some of which drop every row; NULL blobs; and the source
lock that keeps pandas crossings inside the named residue."""

from __future__ import annotations

import pathlib
import re

import numpy as np
import pytest

from pyproj_spark.kernels.jpeg import decode_jpeg, encode_jpeg
from pyproj_spark.kernels.riff import (avi_frames, decode_wav,
                                       encode_avi_mjpg, encode_bmp,
                                       encode_gif, encode_wav)
from pyproj_spark.operators import multimodal as mm
from pyproj_spark.operators.clipping import clip_pair_stats
from pyproj_spark.sources.warc import (build_warc, decode_html,
                                       html_lang, html_to_text, parse_warc)

_DECODE_ERRORS = (ValueError, NotImplementedError)


def _rgb(d: int, w: int, h: int) -> np.ndarray:
    x, y = np.meshgrid(np.arange(w), np.arange(h))
    return np.stack([(x * 7 + d) % 256, (y * 13 + d * 3) % 256,
                     (x + y) % 256], -1).astype(np.uint8)


def _wav(d: int) -> bytes:
    n = 40 + 7 * d
    return encode_wav(((np.arange(n) * 37 + d * 11) % 200) - 100,
                      rate=8000, bits=16)


def _avi(d: int) -> bytes:
    return encode_avi_mjpg(
        [encode_jpeg(np.full((16, 16), (f * 53 + d) % 256, np.uint8))
         for f in range(d % 4 + 1)], fps=10.0)


# The first two rows decode under no operator, so with two-row batches
# at least one batch drops every row; the rest mixes every container
# the decoders read with blobs each decoder must skip.
_BLOBS = [b"", b"not a container"] + [
    mm.encode_png(_rgb(1, 9, 5)),
    encode_jpeg(np.tile(np.arange(16, dtype=np.uint8) * 9, (16, 2))),
    _wav(1),
    _avi(2),
    encode_bmp(_rgb(3, 7, 4)),
    b"RIFF\x00\x00\x00\x00WAVEjunk",
    encode_gif(((np.arange(30).reshape(5, 6) * 7) % 256).astype(np.uint8)),
    _wav(4),
    mm.encode_png(_rgb(5, 12, 10)),
    _avi(3),
    b"\x89PNG\r\n\x1a\n" + b"\x00" * 8,
    encode_jpeg(np.full((8, 24), 77, np.uint8)),
]
_ROWS = [(f"u{i}", b) for i, b in enumerate(_BLOBS)]


def _decoded(decode, b):
    try:
        return decode(b)
    except _DECODE_ERRORS:
        return None


def _ref_image_meta():
    from pyproj_spark.kernels.jpeg import exif_orientation
    out = []
    for u, b in _ROWS:
        fmt, w, h = mm._parse_image_header(b)
        out.append((u, fmt, w, h, len(b),
                    exif_orientation(b) if fmt == "jpeg" else None))
    return out


def _ref_pixels(decode):
    return [(u, px.shape[1], px.shape[0], px.shape[2], float(px.mean()))
            for u, b in _ROWS
            if (px := _decoded(decode, b)) is not None]


def _ref_image_resize():
    out = []
    for u, b in _ROWS:
        px = _decoded(mm.decode_image, b)
        if px is not None:
            small = mm.resize_nearest(px, 3, 5)
            out.append((u, 5, 3, px.shape[2],
                        float(np.asarray(small, np.float64).mean())))
    return out


def _wavs():
    for u, b in _ROWS:
        got = _decoded(decode_wav, b)
        if got is not None:
            yield u, got[0], got[1]


def _ref_wav_features():
    return [(u, rate, s.shape[0], s.shape[1], s.shape[0] / rate,
             float(np.sqrt((s.astype(np.float64) ** 2).mean())),
             int(np.abs(s).max(initial=0)))
            for u, s, rate in _wavs()]


def _ref_tone(freqs=(500, 1000, 2000, 3000)):
    out = []
    for u, s, rate in _wavs():
        x = s.astype(np.float64)[:, 0]
        n = np.arange(x.shape[0])
        es = [float(np.dot(x, np.cos(2.0 * np.pi * f * n / rate)) ** 2
                    + np.dot(x, np.sin(2.0 * np.pi * f * n / rate)) ** 2)
              for f in freqs]
        best = int(np.argmax(es))
        total = sum(es)
        out.append((u, freqs[best],
                    round(es[best] / total, 6) if total > 0 else 0.0))
    return out


def _ref_fingerprint(frame=16):
    out = []
    for u, s, _rate in _wavs():
        s = np.asarray(s, np.int64)[:, 0]
        nf = len(s) // frame
        if nf >= 2:
            e = (s[:nf * frame].reshape(nf, frame) ** 2).sum(axis=1)
            out.append((u, nf, "".join("1" if e[k + 1] > e[k] else "0"
                                       for k in range(nf - 1))))
    return out


def _ref_frames(every_k=2):
    out = []
    for u, b in _ROWS:
        got = _decoded(avi_frames, b)
        for idx in range(0, len(got[0]) if got else 0, every_k):
            px = _decoded(decode_jpeg, got[0][idx])
            if px is not None:
                out.append((u, idx, px.shape[1], px.shape[0], px.shape[2],
                            float(px.mean())))
    return out


def _ref_dhash():
    out = []
    for u, b in _ROWS:
        px = _decoded(mm.decode_image, b)
        if px is None:
            continue
        px = px.astype(np.int64)
        h, w = px.shape[:2]
        luma = px[:, :, 0] if px.shape[2] == 1 else (
            299 * px[:, :, 0] + 587 * px[:, :, 1]
            + 114 * px[:, :, 2]) // 1000
        g = luma[np.ix_((np.arange(8) * h) // 8, (np.arange(9) * w) // 9)]
        out.append((u, "".join("1" if v else "0"
                               for v in (g[:, 1:] > g[:, :-1]).ravel())))
    return out


_BLOB_OPS = {
    "image_meta": (lambda df: mm.image_meta(df), _ref_image_meta),
    "png_stats": (lambda df: mm.png_stats(df),
                  lambda: _ref_pixels(mm.decode_png)),
    "jpeg_stats": (lambda df: mm.jpeg_stats(df),
                   lambda: _ref_pixels(decode_jpeg)),
    "image_resize": (lambda df: mm.image_resize(df, out_h=3, out_w=5),
                     _ref_image_resize),
    "wav_features": (lambda df: mm.wav_features(df), _ref_wav_features),
    "audio_tone_detect": (lambda df: mm.audio_tone_detect(df), _ref_tone),
    "audio_fingerprint": (lambda df: mm.audio_fingerprint(df),
                          _ref_fingerprint),
    "video_frame_sample": (lambda df: mm.video_frame_sample(df),
                           _ref_frames),
    "image_dhash": (lambda df: mm.image_dhash(df), _ref_dhash),
}

_SQ = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0)]
_L = [(1.0, 1.0), (6.0, 1.0), (6.0, 2.0), (2.0, 2.0), (2.0, 6.0),
      (1.0, 6.0)]
_SQ2 = [(2.5, 2.5), (6.5, 2.5), (6.5, 6.5), (2.5, 6.5)]
_FAR = [(10.0, 10.0), (11.0, 10.0), (11.0, 11.0)]
_PAIRS = [(_L, _SQ), (_SQ, _FAR), (_SQ, _L), (_FAR, _SQ), (_SQ2, _SQ)]


def _two_row_batches(spark, run):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        return run()
    finally:
        spark.conf.set(key, old)


@pytest.mark.parametrize("op", sorted(_BLOB_OPS) + ["clip_zones_exact",
                                                    "warc_pages"])
def test_row_map_parity(spark, op):
    if op in _BLOB_OPS:
        build, ref = _BLOB_OPS[op]
        df = spark.createDataFrame(_ROWS, "url string, payload binary")
        expected = ref()
    elif op == "clip_zones_exact":
        from pyproj_spark.operators.clipping import clip_zones_exact

        def ring(r):
            return [{"x": x, "y": y} for x, y in r]

        df = spark.createDataFrame(
            [(i, f"p{i}", ring(p), ring(q))
             for i, (p, q) in enumerate(_PAIRS)],
            "pair_id int, tag string, ring array<struct<x:double,y:double>>,"
            " creg array<struct<x:double,y:double>>")
        build = clip_zones_exact
        expected = [(i, f"p{i}") + clip_pair_stats(np.array(p), np.array(q))
                    for i, (p, q) in enumerate(_PAIRS)]
    else:
        from pyproj_spark.sources.warc import warc_pages
        pages = [(f"https://ex.org/{i}", f"2024-01-0{i}T00:00:00Z",
                  f"<html lang=\"en\"><p>page {i}</p></html>".encode())
                 for i in range(1, 6)]
        archives = [b"", build_warc([]), build_warc(pages[:2]),
                    build_warc(pages[2:], gzip_members=True), b"",
                    build_warc(pages[1:2])]
        df = spark.createDataFrame(list(enumerate(archives)),
                                   "warc_id long, content binary")
        build = warc_pages
        expected = [(r["url"], r["warc_ts"], r["html"], html_to_text(h),
                     html_lang(h), r["http_status"], r["content_type"], 0)
                    for a in archives for r in parse_warc(a)
                    if (h := decode_html(r["html"], r["content_type"]))]
    rows = _two_row_batches(
        spark, lambda: build(df.coalesce(1)).collect())
    got = [tuple(r) for r in rows]
    assert sorted(got, key=repr) == sorted(expected, key=repr)
    assert expected, "the fixture must exercise at least one kept row"


_DECODERS = ["png_stats", "jpeg_stats", "image_resize", "wav_features",
             "audio_tone_detect", "audio_fingerprint", "video_frame_sample",
             "image_dhash"]


@pytest.mark.parametrize("op", _DECODERS + ["warc_pages:fail",
                                            "warc_pages:skip"])
def test_null_blob_is_dropped(spark, op):
    # a NULL blob is undecodable: the row goes, the job survives
    if op.startswith("warc_pages"):
        from pyproj_spark.sources.warc import warc_pages
        df = spark.createDataFrame(
            [(1, None), (2, build_warc([]))],
            "warc_id long, content binary")
        assert warc_pages(df, on_error=op.split(":")[1]).collect() == []
        return
    df = spark.createDataFrame([("null", None), ("wav", _wav(2)),
                                ("png", mm.encode_png(_rgb(2, 9, 9))),
                                ("jpeg", _BLOBS[3]), ("avi", _avi(1))],
                               "url string, payload binary")
    urls = {r.url for r in _BLOB_OPS[op][0](df).collect()}
    assert "null" not in urls and urls


def test_image_meta_null_blob_row(spark):
    df = spark.createDataFrame([("null", None)],
                               "url string, payload binary")
    assert [tuple(r) for r in mm.image_meta(df).collect()] == [
        ("null", None, None, None, 0, None)]


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_image_meta_is_one_map_in_arrow(spark):
    df = spark.createDataFrame(_ROWS, "url string, payload binary")
    plan = _plan(mm.image_meta(df))
    assert plan.count("MapInArrow") == 1 and "MapInPandas" not in plan


def test_rasterize_tiles_is_grouped_arrow(spark):
    from pyproj_spark.operators.tiling import rasterize_tiles
    pts = spark.createDataFrame([(2.35, 48.86), (-74.0, 40.7)],
                                "lon double, lat double")
    plan = _plan(rasterize_tiles(pts, zoom=3))
    assert "FlatMapGroupsInArrow" in plan
    assert "FlatMapGroupsInPandas" not in plan


_PKG = pathlib.Path(__file__).resolve().parents[1] / "pyproj_spark"
#: the named residue: applyInPandasWithState has no Arrow form in Spark
#: 4.1, and pages_pandas is the reference implementation tests use
_RESIDUE = ("streaming/", "sources/pages.py")
_PANDAS_CROSSING = re.compile(
    r"pandas_udf|mapInPandas|applyInPandas\(|import pandas")


def test_no_pandas_crossing_outside_residue():
    hits = [f"{p.relative_to(_PKG)}:{i}"
            for p in sorted(_PKG.rglob("*.py"))
            if not str(p.relative_to(_PKG)).startswith(_RESIDUE)
            for i, line in enumerate(p.read_text().splitlines(), 1)
            if _PANDAS_CROSSING.search(line)]
    assert hits == []
