"""One decode primitive: every codec extractor in operators/multimodal.py
hands its per-payload decoder and output fields to ``_decode_map``, whose
per-batch body ``_decode_batch`` is the only place a payload can turn
into a NULL row. These tests run that body directly on pandas frames,
so they need no Spark session."""

from __future__ import annotations

import ast
import os
import tracemalloc
import zlib

import numpy as np
import pandas as pd
import pytest

from car_insurance_data_pipeline_spark_spark.operators import multimodal as mm

_MODULE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "car_insurance_data_pipeline_spark_spark",
    "operators",
    "multimodal.py",
)

# (extractor, synthesizer) for every codec extractor
_CODECS = [
    (mm.extract_png_features, mm.synthesize_png),
    (mm.extract_image_features, mm.synthesize_ppm),
    (mm.extract_audio_features, mm.synthesize_wav),
    (mm.extract_gif_features, mm.synthesize_gif),
    (mm.extract_jpeg_features, mm.synthesize_jpeg),
    (mm.extract_bmp_features, mm.synthesize_bmp),
    (mm.extract_tiff_features, mm.synthesize_tiff),
    (mm.extract_tga_features, mm.synthesize_tga),
    (mm.extract_qoi_features, mm.synthesize_qoi),
    (mm.extract_pcx_features, mm.synthesize_pcx),
    (mm.extract_ulaw_features, mm.synthesize_au_ulaw),
    (mm.extract_ico_features, mm.synthesize_ico),
    (mm.extract_gif_frame_samples, mm.synthesize_gif_animated),
]


def _wiring(monkeypatch, extract):
    """The (rows, fields) an extractor hands to ``_decode_map``,
    captured without building a Spark plan."""
    seen = {}

    def record(df, id_col, payload_col, rows, fields):
        seen.update(rows=rows, fields=fields)

    monkeypatch.setattr(mm, "_decode_map", record)
    extract(None, "doc_id", "payload")
    return seen["rows"], seen["fields"]


def _decode(rows, fields, payloads):
    pdf = pd.DataFrame(
        {"doc_id": range(len(payloads)), "payload": payloads}
    )
    out = mm._decode_batch(pdf, "doc_id", "payload", rows, fields)
    assert list(out.columns) == ["doc_id"] + [n for n, _ in fields]
    return {k: g.drop(columns="doc_id") for k, g in out.groupby("doc_id")}


def _is_null_row(g):
    return len(g) == 1 and g.isna().all(axis=None)


def _bad_deflate_png():
    """Every chunk CRC is valid, but the IDAT body is not a DEFLATE
    stream, so inflate raises zlib.error."""
    ihdr = bytes.fromhex("00000010" "00000008" "0802000000")
    return (
        mm._PNG_SIG
        + mm._png_chunk(b"IHDR", ihdr)
        + mm._png_chunk(b"IDAT", b"\x78\x9c not deflate")
        + mm._png_chunk(b"IEND", b"")
    )


@pytest.mark.parametrize(
    "extract, synthesize", _CODECS, ids=[e.__name__ for e, _ in _CODECS]
)
def test_truncated_payloads_yield_rows_or_one_null_row(
    monkeypatch, extract, synthesize
):
    """Every prefix of a valid payload, plus NULL and empty payloads,
    yields either its decoded rows or exactly one all-NULL row, and
    the batch never raises."""
    rows, fields = _wiring(monkeypatch, extract)
    full = synthesize(3)
    payloads = [full[:k] for k in range(len(full) + 1)] + [None, b""]
    groups = _decode(rows, fields, payloads)
    assert sorted(groups) == list(range(len(payloads)))
    for k, g in groups.items():
        assert _is_null_row(g) or g.notna().all(axis=None), (k, g)
    assert not _is_null_row(groups[len(full)])
    assert _is_null_row(groups[len(full) + 1])  # None
    assert _is_null_row(groups[len(full) + 2])  # b""


def _unfinished_deflate_png():
    """Valid CRCs and all 392 pixel bytes, but the DEFLATE stream
    stops before its checksum."""
    ihdr = bytes.fromhex("00000010" "00000008" "0802000000")
    return (
        mm._PNG_SIG
        + mm._png_chunk(b"IHDR", ihdr)
        + mm._png_chunk(b"IDAT", zlib.compress(bytes(8 * 49))[:-4])
        + mm._png_chunk(b"IEND", b"")
    )


def test_valid_crc_bad_deflate_png_yields_null_row(monkeypatch):
    rows, fields = _wiring(monkeypatch, mm.extract_png_features)
    groups = _decode(
        rows,
        fields,
        [_bad_deflate_png(), _unfinished_deflate_png(), mm.synthesize_png(3)],
    )
    assert _is_null_row(groups[0]) and _is_null_row(groups[1])
    assert groups[2]["width"].tolist() == [16]


def _png_bomb(inflated: int = 200 * 1024 * 1024, size="00000010" "00000008"):
    """A PNG (16x8 by default: 392 pixel bytes by IHDR) whose valid
    IDAT inflates to ``inflated`` zero bytes: about 194 KB on the wire
    at the default."""
    deflate = zlib.compressobj(9)
    chunk = bytes(min(inflated, 1 << 20))
    idat = b"".join(
        deflate.compress(chunk) for _ in range(inflated // len(chunk))
    ) + deflate.flush()
    ihdr = bytes.fromhex(size + "0802000000")
    return (
        mm._PNG_SIG
        + mm._png_chunk(b"IHDR", ihdr)
        + mm._png_chunk(b"IDAT", idat)
        + mm._png_chunk(b"IEND", b"")
    )


def test_png_inflate_is_bounded_by_ihdr(monkeypatch):
    """A payload that inflates far past its IHDR size is a NULL row,
    and decoding it never holds more than IHDR's size plus one byte
    of inflated data. IHDR's largest dimensions (a size no buffer
    limit can express) are a NULL row too."""
    bomb = _png_bomb()
    assert len(bomb) < 256 * 1024
    huge = _png_bomb(392, size="ffffffff" "ffffffff")
    rows, fields = _wiring(monkeypatch, mm.extract_png_features)
    tracemalloc.start()
    try:
        groups = _decode(rows, fields, [bomb, huge])
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert _is_null_row(groups[0]) and _is_null_row(groups[1])
    assert peak < 16 * 1024 * 1024, peak


def test_fan_out_failing_part_way_leaves_one_null_row():
    """A payload whose decode fails after producing some rows keeps
    none of them; its neighbours keep their full fan-out."""

    def rows(b):
        for i in range(len(b)):
            if b[i] == 0:
                raise ValueError("bad frame")
            yield (i,)

    groups = _decode(rows, [("frame_idx", "int")], [b"\1\1", b"\1\0\1"])
    assert groups[0]["frame_idx"].tolist() == [0, 1]
    assert _is_null_row(groups[1])


def test_animated_gif_fan_out_is_one_row_per_sampled_frame(monkeypatch):
    rows, fields = _wiring(monkeypatch, mm.extract_gif_frame_samples)
    groups = _decode(rows, fields, [mm.synthesize_gif_animated(3)])
    assert groups[0]["frame_idx"].tolist() == [0, 2, 4]
    assert set(groups[0]["n_frames"]) == {6}


@pytest.mark.parametrize("stride", [0, -1])
def test_gif_frame_stride_below_one_is_rejected_by_the_caller(stride):
    """Checked when called, not per payload: 0 used to divide by zero
    in every executor task, and -1 silently sampled every frame."""
    with pytest.raises(ValueError, match="stride"):
        mm.decode_gif_frames(mm.synthesize_gif_animated(1), stride)
    with pytest.raises(ValueError, match="stride"):
        mm.extract_gif_frame_samples(None, "doc_id", "payload", stride)


def test_wav_empty_data_chunk_is_undecodable(monkeypatch):
    empty = mm.synthesize_wav(3, n_samples=0)
    with pytest.raises(ValueError, match="empty data chunk"):
        mm.decode_wav_bytes(empty)
    rows, fields = _wiring(monkeypatch, mm.extract_audio_features)
    assert _is_null_row(_decode(rows, fields, [empty])[0])


# Offset of the LZW min-code-size byte in synthesize_gif's payload:
# 13-byte header, 16-entry palette, 10-byte image descriptor.
_GIF_MIN_CODE_AT = 13 + 16 * 3 + 10


@pytest.mark.parametrize("min_code", [0, 1, 9, 12])
def test_gif_min_code_size_outside_gif_range_is_rejected(min_code):
    with pytest.raises(ValueError, match="min code size"):
        mm._lzw_decode(b"\x00\x00", min_code, 1)
    gif = bytearray(mm.synthesize_gif(3))
    assert gif[_GIF_MIN_CODE_AT] == 4
    gif[_GIF_MIN_CODE_AT] = min_code
    with pytest.raises(ValueError, match="min code size"):
        mm.decode_gif_bytes(bytes(gif))


def test_one_decode_wrapper_and_one_error_policy():
    """``.mapInPandas(`` is called only by ``_decode_map`` and the
    batch-level ``extract_features`` seam; no ``extract_*`` function
    holds its own ``try``; the module's only exception handler is the
    primitive's, and it catches ``_UNDECODABLE``."""
    with open(_MODULE, encoding="utf-8") as f:
        tree = ast.parse(f.read(), filename=_MODULE)
    callers, tries, handlers = set(), [], []
    for fn in tree.body:
        if not isinstance(fn, ast.FunctionDef):
            continue
        for node in ast.walk(fn):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "mapInPandas"
            ):
                callers.add(fn.name)
            if isinstance(node, ast.Try) and fn.name.startswith("extract_"):
                tries.append(fn.name)
            if isinstance(node, ast.ExceptHandler):
                handlers.append((fn.name, ast.unparse(node.type)))
    assert callers == {"_decode_map", "extract_features"}
    assert tries == []
    assert handlers == [("_decode_batch", "_UNDECODABLE")]


def _is_sane_row(g):
    """Finite features, and a width and height of at least 1 where the
    codec reports them."""
    dims = [c for c in ("width", "height") if c in g.columns]
    return bool(
        np.isfinite(g.to_numpy(dtype=float)).all()
        and (g[dims] >= 1).all(axis=None)
    )


@pytest.mark.parametrize(
    "extract, synthesize", _CODECS, ids=[e.__name__ for e, _ in _CODECS]
)
def test_header_byte_mutations_yield_sane_rows_or_one_null_row(
    monkeypatch, extract, synthesize
):
    """Each of the first 48 bytes set to 0x00, 0x7F and 0xFF in turn:
    every payload decodes to one all-NULL row or to finite features
    with width and height >= 1, and the batch never raises."""
    rows, fields = _wiring(monkeypatch, extract)
    full = synthesize(3)
    payloads = []
    for at in range(min(48, len(full))):
        for value in (0x00, 0x7F, 0xFF):
            mutant = bytearray(full)
            mutant[at] = value
            payloads.append(bytes(mutant))
    groups = _decode(rows, fields, payloads)
    bad = [
        (k // 3, payloads[k][k // 3])
        for k, g in groups.items()
        if not (_is_null_row(g) or _is_sane_row(g))
    ]
    assert not bad, f"(byte offset, value) pairs with a bad row: {bad}"


def test_zero_size_ppm_yields_one_null_row(monkeypatch):
    """PPM's ASCII header is out of the byte sweep's reach: no single
    0x00/0x7F/0xFF byte spells a 0."""
    rows, fields = _wiring(monkeypatch, mm.extract_image_features)
    groups = _decode(
        rows,
        fields,
        [mm.synthesize_ppm(3, width=0), mm.synthesize_ppm(3, height=0)],
    )
    assert _is_null_row(groups[0]) and _is_null_row(groups[1])


def test_raster_limit_is_max_pixels(monkeypatch):
    """A raster of exactly MAX_PIXELS pixels decodes; one more row is
    a NULL row."""
    rows, fields = _wiring(monkeypatch, mm.extract_png_features)
    monkeypatch.setattr(mm, "MAX_PIXELS", 16 * 8)
    groups = _decode(
        rows, fields, [mm.synthesize_png(3, 16, 8), mm.synthesize_png(3, 16, 9)]
    )
    assert groups[0]["width"].tolist() == [16]
    assert _is_null_row(groups[1])


def test_png_over_max_pixels_is_rejected_before_it_allocates(monkeypatch):
    """A well-formed PNG of 1024 x 1025 all-zero pixels (a few KB on
    the wire, one row past MAX_PIXELS) is a NULL row, decided from
    IHDR before the pixel data is inflated."""
    assert 1024 * 1025 > mm.MAX_PIXELS >= 1024 * 1024
    ihdr = bytes.fromhex("00000400" "00000401" "0802000000")
    pixels = zlib.compress(bytes(1025 * (1024 * 3 + 1)), 9)
    payload = (
        mm._PNG_SIG
        + mm._png_chunk(b"IHDR", ihdr)
        + mm._png_chunk(b"IDAT", pixels)
        + mm._png_chunk(b"IEND", b"")
    )
    assert len(payload) < 16 * 1024
    rows, fields = _wiring(monkeypatch, mm.extract_png_features)
    tracemalloc.start()
    try:
        groups = _decode(rows, fields, [payload])
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    assert _is_null_row(groups[0])
    assert peak < 1024 * 1024, peak
