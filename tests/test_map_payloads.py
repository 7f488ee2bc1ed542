"""``operators.multimodal.map_payloads`` — the one Arrow boundary every
per-payload media kernel runs through — and its two rules: a NULL payload
emits no row (and is never handed to the kernel), and a kernel error fails
the job with its own message plus the failing media_id. The source guard
keeps the boundary single: no other ``.mapInPandas(`` in the package."""

from __future__ import annotations

import ast
import pathlib

import pytest

from solana_etl_spark.functions import png, wav
from solana_etl_spark.operators import audio, multimodal
from solana_etl_spark.operators.multimodal import MEDIA_SCHEMA

TEXT = b"a text payload long enough for two 16-byte frames"
PNG = png.encode_gray(
    22, 12, bytes((x * 5 + y * 9) % 256 for y in range(12) for x in range(22))
)
WAV = wav.encode_pcm16(8000, [(i * 37) % 200 - 100 for i in range(400)])

# every public per-payload kernel, with one valid payload of its kind
KERNELS = {
    "resize": (multimodal.resize, TEXT, "text/plain"),
    "sample_frames": (
        lambda m: multimodal.sample_frames(m, frame_size=16, stride=1),
        TEXT,
        "text/plain",
    ),
    "decode_report": (multimodal.decode_report, TEXT, "text/plain"),
    "extract_features": (multimodal.extract_features, TEXT, "text/plain"),
    "dhash_images": (multimodal.dhash_images, PNG, "image/png"),
    "frame_signatures": (
        lambda m: multimodal.frame_signatures(m, frame_size=16),
        TEXT,
        "text/plain",
    ),
    "audio_decode_report": (audio.audio_decode_report, WAV, "audio/wav"),
    "audio_fingerprints": (audio.audio_fingerprints, WAV, "audio/wav"),
}


def _media(spark, rows):
    return spark.createDataFrame(
        [(i, None if p is None else bytearray(p), mime, "t") for i, p, mime in rows],
        MEDIA_SCHEMA,
    )


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("name", sorted(KERNELS))
def test_null_payload_emits_no_row(spark, name):
    kernel, payload, mime = KERNELS[name]
    with_null = _sorted_rows(
        kernel(_media(spark, [(1, payload, mime), (2, None, mime)]))
    )
    alone = _sorted_rows(kernel(_media(spark, [(1, payload, mime)])))
    assert alone and {r[0] for r in alone} == {1}
    assert with_null == alone


@pytest.mark.parametrize(
    "kernel, payload, codec_error",
    [
        (multimodal.dhash_images, b"\x89PNG not really", "png"),
        (audio.audio_fingerprints, b"RIFF\x04\x00\x00\x00WAVX", "wav"),
    ],
    ids=["png", "wav"],
)
def test_kernel_error_names_the_media_id(spark, kernel, payload, codec_error):
    valid = PNG if codec_error == "png" else WAV
    media = _media(spark, [(1, valid, None), (424242, payload, None)])
    with pytest.raises(Exception) as err:
        kernel(media).collect()
    msg = str(err.value)
    assert "media_id=424242" in msg
    assert codec_error in msg  # the codec's own message still propagates


def test_empty_batches_keep_the_schema_types(spark):
    out = multimodal.frame_signatures(_media(spark, [(1, None, None)]))
    assert out.collect() == []
    assert [f.dataType.simpleString() for f in out.schema] == ["bigint"] * 3


# --- source guard -----------------------------------------------------------

PKG = pathlib.Path(multimodal.__file__).resolve().parent.parent
# (module path, enclosing function) allowed to call .mapInPandas(
ALLOWED = {
    ("operators/multimodal.py", "map_payloads"),
    # Misra-Gries keeps ONE counter table per partition across all of its
    # batches — a per-partition summary, not a per-payload kernel
    ("operators/sketch.py", "frequent_items"),
}


def _boundary_sites(path: pathlib.Path, rel: str) -> list[tuple[str, str | None]]:
    """Every ``.mapInPandas(`` call as (module path, outermost enclosing
    function or None at module level)."""
    found = []

    def visit(node, fn):
        for child in ast.iter_child_nodes(node):
            inner = fn
            if fn is None and isinstance(
                child, (ast.FunctionDef, ast.AsyncFunctionDef)
            ):
                inner = child.name
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "mapInPandas"
            ):
                found.append((rel, inner))
            visit(child, inner)

    visit(ast.parse(path.read_text(), str(path)), None)
    return found


def test_map_payloads_is_the_only_arrow_boundary():
    sites = [
        s
        for p in sorted(PKG.rglob("*.py"))
        for s in _boundary_sites(p, p.relative_to(PKG).as_posix())
    ]
    stray = [s for s in sites if s not in ALLOWED]
    assert stray == [], f"run per-payload kernels through map_payloads: {stray}"
    assert sorted(set(sites)) == sorted(ALLOWED)


def test_boundary_guard_sees_a_private_batch_loop(tmp_path):
    probe = tmp_path / "probe.py"
    probe.write_text(
        "def kernel(media):\n"
        "    def run(batches):\n"
        "        yield from batches\n"
        "    return media.mapInPandas(run, schema='media_id long')\n"
        "x = df.mapInPandas(f, 'id long')\n"
    )
    assert _boundary_sites(probe, "probe.py") == [
        ("probe.py", "kernel"),
        ("probe.py", None),
    ]
