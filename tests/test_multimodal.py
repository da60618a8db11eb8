"""Multimodal plumbing: binary columns through mapInPandas stages —
known-value decode, row expansion, batch handling, and the codec gate."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dynaledger_spark.operators.multimodal import (
    _HAVE_PIL,
    _HAVE_SOUNDFILE,
    _decode_one,
    _fake_decode,
    decode_media,
    extract_features,
    resize_plan,
    sample_frames,
    synthesize_media,
)

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


@pytest.fixture(scope="module")
def media(spark):
    docs = spark.createDataFrame(
        [
            (0, "abc"),          # image
            (1, "hello world"),  # audio
            (2, "v" * 100),      # video, duration 1000ms → 2 frames
            (3, ""),             # image, empty content edge case
            (5, "日本語テキスト"),  # video, non-ASCII utf-8
        ],
        "doc_id long, text string",
    )
    return synthesize_media(docs)


def test_codec_gate():
    # this container has no PIL/soundfile: every row must report the
    # deterministic stub (and would even WITH codecs — text bytes never
    # parse as media, so the fallback keeps oracles exact everywhere)
    assert _HAVE_PIL is False and _HAVE_SOUNDFILE is False


def test_decode_one_stub_fallback():
    # unknown kind, unparseable bytes: total function, stub path
    assert _decode_one("image", b"abc") == (*_fake_decode(b"abc"), "stub")
    assert _decode_one("video", b"") == (*_fake_decode(b""), "stub")


def test_decode_one_real_pil_branch(monkeypatch):
    """Drive the 'pil' branch with a mocked PIL: real codec present and
    bytes that parse -> real dims + byte-sum checksum + decoder='pil';
    bytes that DON'T parse -> stub fallback. (Driver-side: worker
    processes re-import modules, so the branch logic is tested directly;
    the distributed path is schema-identical either way.)"""
    from dynaledger_spark.operators import multimodal as mm

    class FakeImg:
        size = (640, 480)
        def __enter__(self):
            return self
        def __exit__(self, *a):
            return False

    class FakeImage:
        @staticmethod
        def open(buf):
            if buf.read(4) == b"PNG!":
                return FakeImg()
            raise OSError("not an image")

    monkeypatch.setattr(mm, "_HAVE_PIL", True)
    monkeypatch.setattr(mm, "Image", FakeImage)
    good = mm._decode_one("image", b"PNG!rest-of-file")
    assert good == (16, 640, 480, sum(b"PNG!rest-of-file") % mm._MOD, "pil")
    assert mm._decode_one("image", b"plaintext") == (
        *_fake_decode(b"plaintext"),
        "stub",
    )


def test_decode_one_real_soundfile_branch(monkeypatch):
    from dynaledger_spark.operators import multimodal as mm

    class Info:
        channels, samplerate = 2, 44100

    class FakeSF:
        @staticmethod
        def info(buf):
            if buf.read(4) == b"RIFF":
                return Info()
            raise RuntimeError("not audio")

    monkeypatch.setattr(mm, "_HAVE_SOUNDFILE", True)
    monkeypatch.setattr(mm, "soundfile", FakeSF)
    assert mm._decode_one("audio", b"RIFFdata") == (
        8, 2, 44100, sum(b"RIFFdata") % mm._MOD, "soundfile",
    )
    assert mm._decode_one("audio", b"nope") == (*_fake_decode(b"nope"), "stub")


def test_fake_decode_known_values():
    n, w, h, c = _fake_decode(b"abc")
    assert n == 3 and w == 3 % 640 + 16 and h == (97 * 7) % 480 + 16
    assert c == 97 + 98 + 99
    assert _fake_decode(b"") == (0, 16, 16, 0)


def test_synthesize_media_kinds(media):
    got = {r.media_id: (r.kind, r.fmt, bytes(r.content), r.duration_ms) for r in media.collect()}
    assert got[0] == ("image", "png", b"abc", 30)
    assert got[1] == ("audio", "wav", b"hello world", 110)
    assert got[2][0] == "video" and got[2][3] == 1000
    assert got[3] == ("image", "png", b"", 0)


def test_decode_media_schema_and_values(media):
    decoded = decode_media(media)
    assert [f.name for f in decoded.schema.fields] == [
        "media_id", "kind", "fmt", "n_bytes", "width", "height", "checksum",
        "duration_ms", "decoder",
    ]
    assert {r.decoder for r in decoded.collect()} == {"stub"}
    got = {r.media_id: r for r in decoded.collect()}
    assert got[0].n_bytes == 3 and got[0].checksum == 97 + 98 + 99
    assert got[3].n_bytes == 0 and got[3].width == 16 and got[3].checksum == 0
    # non-ASCII: n_bytes counts utf-8 bytes, checksum folds codepoints
    assert got[5].n_bytes == len("日本語テキスト".encode()) == 21
    assert got[5].checksum == sum(ord(ch) for ch in "日本語テキスト")


def test_resize_preserves_aspect(media):
    got = {r.media_id: r for r in resize_plan(decode_media(media)).collect()}
    for r in got.values():
        m = max(r.width, r.height)
        assert r.out_w == r.width * 224 // m
        assert r.out_h == r.height * 224 // m
        assert max(r.out_w, r.out_h) == 224


def test_sample_frames_row_expansion(media):
    frames = sample_frames(decode_media(media)).collect()
    by_media: dict[int, list] = {}
    for r in frames:
        by_media.setdefault(r.media_id, []).append(r)
    # only videos expand; duration 1000ms at 1 Hz → frames at 0 and 1000
    assert set(by_media) == {2, 5}
    assert sorted(f.frame_ts_ms for f in by_media[2]) == [0, 1000]
    f0 = min(by_media[2], key=lambda f: f.frame_idx)
    f1 = max(by_media[2], key=lambda f: f.frame_idx)
    assert f1.frame_checksum == f0.frame_checksum + 1


def test_extract_features_deterministic(media):
    feats = extract_features(decode_media(media)).collect()
    assert len(feats) == 5 * 8
    vals = {(r.media_id, r.feat_idx): r.feat for r in feats}
    chk = 97 + 98 + 99
    assert vals[(0, 0)] == ((chk * 31) % 1000) / 1000.0
    assert all(0.0 <= v < 1.0 for v in vals.values())


def test_small_arrow_batches_same_result(spark):
    """The stage must be batch-shape-agnostic: forcing tiny Arrow batches
    cannot change the result (this is what makes it safe at 100 TB where
    batch boundaries are arbitrary)."""
    docs = spark.createDataFrame(
        [(i, f"text number {i}") for i in range(50)], "doc_id long, text string"
    )
    media = synthesize_media(docs)
    baseline = {r.media_id: r.checksum for r in decode_media(media).collect()}
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
        small = {r.media_id: r.checksum for r in decode_media(media).collect()}
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    assert small == baseline


def test_media_width_sized_by_bytes_not_cores(spark):
    """A sub-MB corpus must decode in the scan task itself: no exchange
    at all, regardless of core count (the r13 32-way spread made the
    headline media query slower at 32 cores than 8)."""
    from dynaledger_spark.plans.queries_multimodal import _media_decoded

    plan = _plan(_media_decoded(spark, SF))
    assert "Exchange" not in plan
