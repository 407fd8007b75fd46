"""Self-tests of the benchmark harness (no Spark session needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import random
import struct
import sys
import zlib

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import expect, inputs  # noqa: E402
from perfbench.run import Runner  # noqa: E402
from perfbench.trace import Tracer, covered_seconds  # noqa: E402
from perfbench.workloads import Ctx, Op, Workload  # noqa: E402


# -- pass count ---------------------------------------------------------------

def test_warm_pass_count_is_fixed_by_seconds():
    from perfbench.workloads import WORKLOADS

    w = WORKLOADS["image_validate"]
    assert w.warm_passes(4 * w.pass_s) == 4
    assert w.warm_passes(4 * w.pass_s + w.pass_s / 2) == 4
    assert w.warm_passes(1) == 2  # never a one-sample median


def test_mismatches_is_a_multiset_difference():
    exp = [[1, "a"], [1, "a"], [2, "b"]]
    assert expect.mismatches([[2, "b"], [1, "a"], [1, "a"]], exp) == 0
    assert expect.mismatches([[1, "a"], [2, "b"]], exp) == 1
    assert expect.mismatches([[1, "a"], [1, "a"], [2, "c"]], exp) == 2


def test_norm_value_rounds_floats_and_keeps_nan_distinct():
    assert expect.norm_value(1.23456789) == 1.234568
    assert expect.norm_value(float("nan")) == "nan"
    assert expect.norm_value(float("inf")) == "inf"
    assert expect.norm_value(True) is True
    assert expect.norm_value(np.int64(3)) == 3


def test_covered_seconds_merges_overlaps():
    assert covered_seconds([]) == 0.0
    assert covered_seconds([(0, 1), (0.5, 2), (3, 4)]) == pytest.approx(3.0)
    assert covered_seconds([(1, 2), (1, 2)]) == pytest.approx(1.0)


# -- a planted wrong output is a failed op ------------------------------------

def test_planted_wrong_output_counts_as_failed_op(tmp_path):
    expected = {"good": [[1, "a"], [2, "b"]], "planted": [[1, "a"]]}

    def compare(key):
        return lambda ctx, rows, d: expect.mismatches(
            expect.norm_rows(rows), ctx.expected[key])

    def boom(ctx, d):
        raise RuntimeError("op raised")

    w = Workload(
        name="fake", tables=None, expected=None, open=None,
        rows=None, pass_s=1.0,
        ops=[Op("good", "x", lambda ctx, d: [(2, "b"), (1, "a")],
                compare("good")),
             Op("planted", "x", lambda ctx, d: [(1, "WRONG")],
                compare("planted")),
             Op("raises", "x", boom, compare("good"))])
    ctx = Ctx({}, expected, Tracer(None, enabled=False))
    runner = Runner(w, ctx, str(tmp_path))
    for _ in range(3):
        runner.run_pass(traced=False)
    st = runner.op_stats
    assert (st["good"]["attempted"], st["good"]["failed"]) == (3, 0)
    assert (st["planted"]["attempted"], st["planted"]["failed"]) == (3, 3)
    assert st["planted"]["mismatched_rows"] == 2   # one missing, one extra
    assert st["raises"]["failed"] == 3
    assert "op raised" in st["raises"]["errors"][-1]
    assert all(p["verdict_s"] >= 0 for p in runner.passes)


# -- seeded inputs ----------------------------------------------------------------

def _digest(build, tmp_path, name, seed):
    out = tmp_path / name
    out.mkdir()
    return build(str(out), seed)[1]["digest"]


def test_same_seed_same_inputs_other_seed_other_inputs(tmp_path, monkeypatch):
    monkeypatch.setattr(inputs, "N_IMAGES", 64)
    monkeypatch.setattr(inputs, "IMAGE_FILES", 2)
    monkeypatch.setattr(inputs, "N_LARGE", 2)
    monkeypatch.setattr(inputs, "N_DEFECT", 2)
    monkeypatch.setattr(inputs, "N_DOCS", 50)
    monkeypatch.setattr(inputs, "N_DOC_CLUSTERS", 3)
    monkeypatch.setattr(inputs, "N_VECS", 20)
    monkeypatch.setattr(inputs, "N_VEC_DUPS", 4)
    monkeypatch.setattr(inputs, "N_EVENTS", 100)
    for build in (inputs._build_images, inputs._build_texts):
        a = _digest(build, tmp_path, f"{build.__name__}-a", 7)
        b = _digest(build, tmp_path, f"{build.__name__}-b", 7)
        c = _digest(build, tmp_path, f"{build.__name__}-c", 8)
        assert a == b
        assert a != c


def test_timed_large_images_are_right_and_defect_probe_images_wrong(
        tmp_path, monkeypatch):
    """The timed large slice must pass the reference check (so no op fails
    on it) and the probe's images must not (so the probe measures the PSNR
    defect at both sizes)."""
    monkeypatch.setattr(inputs, "N_IMAGES", 8)
    monkeypatch.setattr(inputs, "IMAGE_FILES", 1)
    monkeypatch.setattr(inputs, "N_LARGE", 3)
    monkeypatch.setattr(inputs, "N_DEFECT", 2)
    files, _ = inputs._build_images(str(tmp_path), 5)
    ok = expect.DECODE_COLS.index("pixels_ok")
    w = expect.DECODE_COLS.index("dec_w")
    large = expect.decode_expect_rows(str(tmp_path / files["images_large"]))
    defect = expect.decode_expect_rows(str(tmp_path / files["images_defect"]))
    assert len(large) == 3 and all(r[ok] for r in large)
    assert not any(r[ok] for r in defect)
    assert sorted(r[w] for r in defect) == list(inputs.LARGE_SIZES)


# -- independent references ------------------------------------------------------

@pytest.mark.parametrize("fmt", ["raw", "bmp", "png"])
def test_reference_decoder_reads_the_library_encodings(fmt):
    from schisma_spark.image.synth import encode_image, gen_pixels

    px = gen_pixels("img-test", 7, 5)
    got = expect.ref_decode(encode_image(px, fmt), fmt, 7, 5)
    assert np.array_equal(got, px)
    assert expect.ref_decode(encode_image(px, fmt)[:20], fmt, 7, 5) is None


def _png(px: np.ndarray, filters: list[int]) -> bytes:
    """PNG with the given per-row filter types (0-4)."""
    h, w, _ = px.shape
    raw, prev = b"", np.zeros(w * 3, np.int64)
    for y in range(h):
        cur = px[y].reshape(-1).astype(np.int64)
        ft = filters[y % len(filters)]
        left = np.concatenate([[0, 0, 0], cur[:-3]])
        ul = np.concatenate([[0, 0, 0], prev[:-3]])
        if ft == 0:
            enc = cur
        elif ft == 1:
            enc = cur - left
        elif ft == 2:
            enc = cur - prev
        elif ft == 3:
            enc = cur - (left + prev) // 2
        else:
            p = left + prev - ul
            pa, pb, pc = abs(p - left), abs(p - prev), abs(p - ul)
            pred = np.where((pa <= pb) & (pa <= pc), left,
                            np.where(pb <= pc, prev, ul))
            enc = cur - pred
        raw += bytes([ft]) + bytes((enc & 0xFF).astype(np.uint8))
        prev = cur

    def chunk(tag, body):
        return (struct.pack(">I", len(body)) + tag + body
                + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))

    return (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))


def test_reference_decoder_handles_every_png_filter():
    rng = np.random.default_rng(0)
    px = rng.integers(0, 256, size=(10, 6, 3), dtype=np.uint8)
    got = expect.ref_decode(_png(px, [0, 1, 2, 3, 4]), "png", 6, 10)
    assert np.array_equal(got, px)


def test_reference_psnr_is_float64_at_worst_case_size():
    a = np.zeros((384, 384, 3), np.uint8)
    b = np.full((384, 384, 3), 255, np.uint8)
    assert expect.ref_psnr(a, b) == pytest.approx(0.0)
    assert expect.ref_psnr(a, a) == 1e9
    c = b.copy()
    c[0, 0, 0] = 254
    mse = 1 / c.size
    assert expect.ref_psnr(b, c) == pytest.approx(10 * np.log10(255 ** 2 / mse))


def test_hamming_pairs_match_brute_force():
    rnd = random.Random(5)
    base = [rnd.getrandbits(60) for _ in range(30)]
    sigs = base + [s ^ (1 << rnd.randrange(60)) for s in base[:10]]
    ids = np.array(rnd.sample(range(1000), len(sigs)), np.int64)
    want = sorted(
        [int(min(ids[i], ids[j])), int(max(ids[i], ids[j])),
         bin(sigs[i] ^ sigs[j]).count("1")]
        for i in range(len(sigs)) for j in range(i + 1, len(sigs))
        if bin(sigs[i] ^ sigs[j]).count("1") <= 3)
    got = expect.hamming_pairs(ids, np.array(sigs, np.int64), 3)
    assert sorted(got) == want
    assert len(want) >= 10


def test_simhash60_majority_rule():
    assert expect.simhash60(None) == 0
    assert expect.simhash60("   ") == 0
    one = expect.simhash60("spark")
    assert one == int(__import__("hashlib").md5(b"spark").hexdigest()[:15], 16)
    assert expect.simhash60("spark spark spark") == one
