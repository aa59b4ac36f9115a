"""Media codec tests: encoder/decoder round-trips over every filter and
channel layout, hand-assembled byte fixtures that pin the decoders
independently of our encoders, and hostile-input fuzzing (a corrupt
blob must raise MediaDecodeError, never a wrong answer or a crash)."""

import struct
import zlib

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from quickwit_spark.pipeline import media_codecs as mc
from quickwit_spark.pipeline.media_codecs import (
    MediaDecodeError, decode_bmp, decode_png, decode_pnm, decode_wav,
    decode_y4m, encode_bmp, encode_png, encode_pnm, encode_wav,
    encode_y4m, resize_bilinear, resize_nearest, to_rgb,
)


def _rand_img(h, w, ch, seed):
    rng = np.random.default_rng(seed)
    shape = (h, w) if ch == 1 else (h, w, ch)
    return rng.integers(0, 256, size=shape, dtype=np.uint8)


# --------------------------------------------------------------------------
# PNG
# --------------------------------------------------------------------------

@pytest.mark.parametrize("ch", [1, 2, 3, 4])
@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4, "cycle"])
def test_png_roundtrip_filters_channels(ch, ftype):
    img = _rand_img(7, 5, ch, seed=ch * 31 + (5 if ftype == "cycle"
                                              else ftype))
    blob = encode_png(img, filter_type=ftype)
    out = decode_png(blob)
    np.testing.assert_array_equal(out, img)


def test_png_roundtrip_large_gradient():
    y, x = np.mgrid[0:64, 0:48]
    img = np.stack([(x * 3) % 256, (y * 5) % 256, (x + y) % 256],
                   axis=2).astype(np.uint8)
    for ftype in (1, 3, 4):
        np.testing.assert_array_equal(
            decode_png(encode_png(img, filter_type=ftype)), img)


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF))


def _hand_png(w, h, depth, ctype, scanlines: bytes, extra=b"",
              interlace=0) -> bytes:
    ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, interlace)
    return (b"\x89PNG\r\n\x1a\n" + _chunk(b"IHDR", ihdr) + extra
            + _chunk(b"IDAT", zlib.compress(scanlines))
            + _chunk(b"IEND", b""))


def test_png_hand_fixture_gray_filters():
    # 3x3 gray, rows using filter 0 (none), 1 (sub), 2 (up) — scanline
    # bytes written by hand from the spec, NOT by encode_png, so a
    # symmetric encoder/decoder bug cannot hide here.
    #   row0 filt=0: 10 20 30            -> recon 10 20 30
    #   row1 filt=1: 5  7  9  (sub)      -> recon 5 12 21
    #   row2 filt=2: 1  2  3  (up)       -> recon 6 14 24
    scan = bytes([0, 10, 20, 30,
                  1, 5, 7, 9,
                  2, 1, 2, 3])
    img = decode_png(_hand_png(3, 3, 8, 0, scan))
    np.testing.assert_array_equal(
        img, np.array([[10, 20, 30], [5, 12, 21], [6, 14, 24]],
                      dtype=np.uint8))


def test_png_hand_fixture_avg_paeth():
    # 2x2 RGB. row0 filter 3 (average, prev=0): recon[x] =
    # filt[x] + (left+0)//2. row1 filter 4 (paeth).
    #   row0 filt: (100,50,25) (10,20,30)
    #     px0: a=0 -> recon = (100,50,25)
    #     px1: a=(100,50,25)//2=(50,25,12) -> recon=(60,45,42)
    #   row1 filt: (1,2,3) (4,5,6)
    #     px0: a=c=0, b=(100,50,25); paeth(0,b,0)=b -> (101,52,28)
    #     px1: a=(101,52,28), b=(60,45,42), c=(100,50,25)
    #       p=a+b-c=(61,47,45); pa=|p-a|=(40,5,17), pb=|p-b|=(1,2,3),
    #       pc=|p-c|=(39,3,20) -> pb smallest everywhere -> pred=b
    #       recon=(64,50,48)
    scan = bytes([3, 100, 50, 25, 10, 20, 30,
                  4, 1, 2, 3, 4, 5, 6])
    img = decode_png(_hand_png(2, 2, 8, 2, scan))
    exp = np.array([[[100, 50, 25], [60, 45, 42]],
                    [[101, 52, 28], [64, 50, 48]]], dtype=np.uint8)
    np.testing.assert_array_equal(img, exp)


def test_png_palette():
    plte = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])  # R, G, B entries
    scan = bytes([0, 0, 1, 2,
                  0, 2, 1, 0])
    blob = _hand_png(3, 2, 8, 3, scan, extra=_chunk(b"PLTE", plte))
    img = decode_png(blob)
    assert img.shape == (2, 3, 3)
    np.testing.assert_array_equal(img[0, 0], [255, 0, 0])
    np.testing.assert_array_equal(img[1, 0], [0, 0, 255])
    np.testing.assert_array_equal(img[0], img[1][::-1])


def test_png_palette_index_out_of_range():
    plte = bytes([255, 0, 0])
    blob = _hand_png(1, 1, 8, 3, bytes([0, 3]),
                     extra=_chunk(b"PLTE", plte))
    with pytest.raises(MediaDecodeError, match="palette index"):
        decode_png(blob)


def test_png_rejects_crc_corruption():
    blob = bytearray(encode_png(_rand_img(4, 4, 3, 1)))
    blob[40] ^= 0xFF  # somewhere inside IDAT
    with pytest.raises(MediaDecodeError):
        decode_png(bytes(blob))


def test_png_rejects_unsupported():
    img16 = _hand_png(1, 1, 16, 0, bytes([0, 0, 1]))
    with pytest.raises(MediaDecodeError, match="bit depth"):
        decode_png(img16)
    adam7 = _hand_png(1, 1, 8, 0, bytes([0, 7]), interlace=1)
    with pytest.raises(MediaDecodeError, match="interlac"):
        decode_png(adam7)
    with pytest.raises(MediaDecodeError):
        decode_png(b"\x89PNG\r\n\x1a\x07not really")


def test_png_size_mismatch_rejected():
    # decompressed stream one byte short of h*(1+stride)
    blob = _hand_png(2, 2, 8, 0, bytes([0, 1, 2, 0, 3]))
    with pytest.raises(MediaDecodeError, match="decompressed size"):
        decode_png(blob)


# --------------------------------------------------------------------------
# BMP
# --------------------------------------------------------------------------

@pytest.mark.parametrize("w", [3, 4, 5])  # exercise 4-byte row padding
def test_bmp_roundtrip(w):
    img = _rand_img(4, w, 3, seed=w)
    np.testing.assert_array_equal(decode_bmp(encode_bmp(img)), img)


def test_bmp_topdown_hand_fixture():
    # 1x2 top-down (negative height) 24-bit: pixel rows stored in
    # visual order, BGR. Row: (B=1,G=2,R=3) (B=4,G=5,R=6) + 2 pad bytes
    body = bytes([1, 2, 3, 4, 5, 6, 0, 0])
    hdr = (b"BM" + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
           + struct.pack("<IiiHHIIiiII", 40, 2, -1, 1, 24, 0, len(body),
                         0, 0, 0, 0))
    img = decode_bmp(hdr + body)
    np.testing.assert_array_equal(
        img, np.array([[[3, 2, 1], [6, 5, 4]]], dtype=np.uint8))


def test_bmp_rejects_rle():
    blob = bytearray(encode_bmp(_rand_img(2, 2, 3, 7)))
    blob[30] = 1  # BI_RLE8
    with pytest.raises(MediaDecodeError, match="compression"):
        decode_bmp(bytes(blob))


# --------------------------------------------------------------------------
# PNM
# --------------------------------------------------------------------------

def test_pnm_roundtrip_gray_rgb():
    g = _rand_img(5, 3, 1, 11)
    c = _rand_img(3, 5, 3, 12)
    np.testing.assert_array_equal(decode_pnm(encode_pnm(g)), g)
    np.testing.assert_array_equal(decode_pnm(encode_pnm(c)), c)


def test_pnm_header_comments():
    blob = b"P5 # a comment\n# another\n2 1\n255\n\x07\x09"
    np.testing.assert_array_equal(
        decode_pnm(blob), np.array([[7, 9]], dtype=np.uint8))


def test_pnm_truncated():
    with pytest.raises(MediaDecodeError, match="truncated"):
        decode_pnm(b"P6\n4 4\n255\nxx")


# --------------------------------------------------------------------------
# WAV
# --------------------------------------------------------------------------

def test_wav_roundtrip_16bit_stereo():
    rng = np.random.default_rng(3)
    s = rng.integers(-32768, 32768, size=(100, 2)).astype(np.int16)
    out, rate = decode_wav(encode_wav(s, 44100))
    assert rate == 44100
    np.testing.assert_array_equal(out, s)


def test_wav_roundtrip_8bit_mono_odd_length():
    s = np.arange(33, dtype=np.uint8)  # odd payload -> pad byte
    out, rate = decode_wav(encode_wav(s, 8000))
    assert rate == 8000 and out.shape == (33, 1)
    np.testing.assert_array_equal(out[:, 0], s)


def test_wav_rejects_non_pcm_and_truncation():
    blob = bytearray(encode_wav(np.zeros(4, dtype=np.int16), 8000))
    blob[20] = 3  # IEEE float format tag
    with pytest.raises(MediaDecodeError, match="non-PCM"):
        decode_wav(bytes(blob))
    with pytest.raises(MediaDecodeError):
        decode_wav(encode_wav(np.zeros(4, dtype=np.int16), 8000)[:-3])


# --------------------------------------------------------------------------
# Y4M
# --------------------------------------------------------------------------

def test_y4m_roundtrip_and_sampling():
    frames = [np.full((4, 6), i * 10, dtype=np.uint8) for i in range(5)]
    blob = encode_y4m(frames, width=6, height=4)
    got = list(decode_y4m(blob, every_n=2))
    assert [i for i, _ in got] == [0, 2, 4]
    for idx, y in got:
        np.testing.assert_array_equal(y, frames[idx])


def test_y4m_odd_dims_and_colorspaces():
    frames = [_rand_img(3, 5, 1, i) for i in range(2)]
    for cs in ("420", "420jpeg", "444", "mono"):
        blob = encode_y4m(frames, width=5, height=3, colorspace=cs)
        got = list(decode_y4m(blob))
        assert len(got) == 2
        np.testing.assert_array_equal(got[1][1], frames[1])


def test_y4m_truncated_frame():
    blob = encode_y4m([np.zeros((4, 4), np.uint8)], 4, 4)
    with pytest.raises(MediaDecodeError, match="truncated"):
        list(decode_y4m(blob[:-5]))


def test_y4m_max_frames():
    frames = [np.zeros((2, 2), np.uint8)] * 10
    blob = encode_y4m(frames, 2, 2)
    assert len(list(decode_y4m(blob, max_frames=3))) == 3


# --------------------------------------------------------------------------
# Pixel utilities
# --------------------------------------------------------------------------

def test_to_rgb_shapes():
    assert to_rgb(_rand_img(2, 3, 1, 1)).shape == (2, 3, 3)
    ga = _rand_img(2, 3, 2, 2)
    rgb = to_rgb(ga)
    np.testing.assert_array_equal(rgb[:, :, 0], ga[:, :, 0])
    rgba = _rand_img(2, 3, 4, 3)
    np.testing.assert_array_equal(to_rgb(rgba), rgba[:, :, :3])


def test_resize_nearest_2x():
    img = np.array([[0, 255]], dtype=np.uint8)
    out = resize_nearest(img, 4, 2)
    np.testing.assert_array_equal(
        out, np.array([[0, 0, 255, 255], [0, 0, 255, 255]], np.uint8))


def test_resize_bilinear_identity_and_midpoint():
    img = _rand_img(6, 7, 3, 4)
    np.testing.assert_array_equal(resize_bilinear(img, 7, 6), img)
    # 1x2 [0, 100] upsampled to 1x4 with half-pixel centers:
    # src x = (dst+0.5)*0.5-0.5 = -0.25, 0.25, 0.75, 1.25 -> clamped
    # weights give 0, 25, 75, 100
    row = np.array([[0, 100]], dtype=np.uint8)
    np.testing.assert_array_equal(
        resize_bilinear(row, 4, 1), np.array([[0, 25, 75, 100]], np.uint8))


# --------------------------------------------------------------------------
# Hostile-input fuzz: decoders must raise MediaDecodeError, never
# anything else, on arbitrary bytes
# --------------------------------------------------------------------------

_PREFIXES = [b"", b"\x89PNG\r\n\x1a\n", b"BM", b"P6\n", b"RIFF",
             b"YUV4MPEG2 "]


@settings(max_examples=150, deadline=None)
@given(st.sampled_from(_PREFIXES), st.binary(max_size=300))
def test_decoders_raise_cleanly_on_garbage(prefix, tail):
    blob = prefix + tail
    for dec in (decode_png, decode_bmp, decode_pnm, decode_wav):
        try:
            dec(blob)
        except MediaDecodeError:
            pass
    try:
        list(decode_y4m(blob))
    except MediaDecodeError:
        pass


class TestGif:
    def test_roundtrip_exact(self):
        rng = np.random.default_rng(4)
        pal = np.unique(rng.integers(0, 256, (200, 3)).astype(np.uint8),
                        axis=0)
        img = pal[rng.integers(0, pal.shape[0], (23, 31))]
        out = mc.decode_gif(mc.encode_gif(img))
        assert (out == img).all()
        # grayscale input replicates to RGB, losslessly
        g = (np.arange(64, dtype=np.uint8).reshape(8, 8) * 4)
        out = mc.decode_gif(mc.encode_gif(g))
        assert (out == np.repeat(g[:, :, None], 3, axis=2)).all()

    def test_two_color_and_subblock_spanning(self):
        # >255 LZW bytes forces multiple data sub-blocks
        img = np.zeros((64, 64, 3), dtype=np.uint8)
        img[::2] = 255
        out = mc.decode_gif(mc.encode_gif(img))
        assert (out == img).all()

    def test_interlaced_decode(self):
        rng = np.random.default_rng(9)
        h, w = 13, 7
        img = (rng.integers(0, 4, (h, w)) * 80).astype(np.uint8)
        rgb = np.repeat(img[:, :, None], 3, axis=2)
        blob = bytearray(mc.encode_gif(rgb))
        # flip the interlace flag and store rows in pass order
        ncols_field = blob[10] & 0x07
        packed_at = 13 + 3 * (2 << ncols_field) + 9
        assert blob[packed_at - 9] == 0x2C
        passes = np.concatenate([np.arange(0, h, 8), np.arange(4, h, 8),
                                 np.arange(2, h, 4), np.arange(1, h, 2)])
        shuffled = rgb[passes]
        blob2 = bytearray(mc.encode_gif(shuffled))
        blob2[packed_at] |= 0x40
        out = mc.decode_gif(bytes(blob2))
        assert (out == rgb).all()

    def test_extensions_skipped(self):
        img = np.full((4, 4, 3), 9, dtype=np.uint8)
        blob = mc.encode_gif(img)
        # splice a Graphic Control Extension before the image block
        at = blob.index(b"\x2c")
        gce = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
        out = mc.decode_gif(blob[:at] + gce + blob[at:])
        assert (out == img).all()

    def test_rejections(self):
        img = np.full((4, 4, 3), 9, dtype=np.uint8)
        blob = bytearray(mc.encode_gif(img))
        with pytest.raises(mc.MediaDecodeError, match="signature"):
            mc.decode_gif(b"JIF89a" + bytes(blob[6:]))
        with pytest.raises(mc.MediaDecodeError):
            mc.decode_gif(bytes(blob[:20]))
        with pytest.raises(ValueError, match="256 distinct"):
            rng = np.random.default_rng(0)
            mc.encode_gif(rng.integers(0, 256, (32, 32, 3))
                          .astype(np.uint8))

    def test_corruption_fuzz(self):
        rng = np.random.default_rng(17)
        pal = np.unique(rng.integers(0, 256, (40, 3)).astype(np.uint8),
                        axis=0)
        blob = bytearray(mc.encode_gif(
            pal[rng.integers(0, pal.shape[0], (9, 9))]))
        for t in range(300):
            b = bytearray(blob)
            if t % 2:
                i = int(rng.integers(0, len(b)))
                b[i] = int(rng.integers(0, 256))
            else:
                b = b[:int(rng.integers(1, len(b)))]
            try:
                mc.decode_gif(bytes(b))
            except mc.MediaDecodeError:
                pass


class TestBmpBitfields:
    def _bmp32(self, masks, px=(1, 2, 3, 0)):
        """Hand-build a 1x1 32-bit BI_BITFIELDS BMP."""
        header = (b"BM" + struct.pack("<IHHI", 70, 0, 0, 66)
                  + struct.pack("<IiiHHIIiiII", 40, 1, 1, 1, 32, 3, 4,
                                2835, 2835, 0, 0)
                  + struct.pack("<III", *masks))
        return header + bytes(px)

    def test_default_masks_accepted(self):
        blob = self._bmp32((0x00FF0000, 0x0000FF00, 0x000000FF),
                           px=(3, 2, 1, 0))  # B,G,R,A on disk
        out = decode_bmp(blob)
        assert out.shape == (1, 1, 3)
        assert tuple(out[0, 0]) == (1, 2, 3)  # RGB

    def test_nondefault_masks_rejected_loudly(self):
        # RGBA byte order masks would decode channel-swapped if the
        # fixed BGR swizzle were applied — must be refused instead
        blob = self._bmp32((0x000000FF, 0x0000FF00, 0x00FF0000))
        with pytest.raises(MediaDecodeError, match="bit masks"):
            decode_bmp(blob)


def test_y4m_truncated_stream_yields_nothing_downstream():
    """A Y4M blob cut mid-frame raises on reaching the cut, and the
    generator itself must not mask the error."""
    frames = [np.full((4, 4), 10 * k, dtype=np.uint8) for k in range(4)]
    blob = encode_y4m(frames, 4, 4)
    cut = blob[:len(blob) - 20]  # inside the last frame
    got = []
    with pytest.raises(MediaDecodeError):
        for fi, y in decode_y4m(cut, every_n=1):
            got.append(fi)
    assert got == [0, 1, 2]  # frames before the cut did stream out
