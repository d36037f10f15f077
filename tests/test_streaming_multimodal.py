"""Structured Streaming scorer + the still-image (PNG/GIF) codecs."""

import pytest

from filtlong_spark import fixtures as fx
from filtlong_spark.config import FilterConfig
from filtlong_spark.operators import multimodal as mm
from filtlong_spark.operators import refset as refset_op
from filtlong_spark.operators import score as score_op


def _cfg(**kw):
    kw.setdefault("mode", "intrinsic")
    kw.setdefault("vocab", fx.VOCAB)
    return FilterConfig(**kw)


def test_stream_matches_batch(spark, tmp_path):
    """availableNow streaming scoring == batch scoring on the same input."""
    from filtlong_spark.streaming.stream import run_available_now

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    rows = fx.volume(sf=0.0001)
    fx.to_spark_df(spark, rows).write.parquet(src)

    cfg = _cfg(min_length=100, min_mean_q=50.0, split=40)
    run_available_now(spark, src, cfg, sink, ckpt)
    streamed = {(r["url"], r["n_chars"], r["mean_q"], r["window_q"],
                 r["hard_passed"])
                for r in spark.read.parquet(sink).collect()}

    bc = refset_op.build_broadcast(spark, cfg, None)
    batch = {(r["url"], r["n_chars"], r["mean_q"], r["window_q"],
              r["hard_passed"])
             for r in score_op.score_and_scrub(
                 spark.read.parquet(src), cfg, bc).collect()}
    assert streamed == batch
    assert len(streamed) > 0


def _checker_pixels(w=32, h=32):
    """8x8-checkerboard RGB image."""
    import numpy as np
    yy, xx = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
    base = (((yy // 8) + (xx // 8)) % 2) * 200 + 20
    return np.stack([base, base // 2, 255 - base], axis=2).astype(np.uint8)


class TestPngDecode:
    @pytest.mark.parametrize("filter_type", [0, 1, 2, 3, 4])
    @pytest.mark.parametrize("channels", [1, 3, 4])
    def test_roundtrip_every_filter(self, filter_type, channels):
        """Encode with each PNG scanline filter, decode, get the exact
        pixels back — exercises every unfilter path (None/Sub/Up/
        Average/Paeth) at every supported channel count."""
        import numpy as np
        rng = np.random.default_rng(filter_type * 10 + channels)
        px = rng.integers(0, 256, size=(13, 9, channels), dtype=np.uint16
                          ).astype(np.uint8)
        data = mm.png_encode(px, filter_type=filter_type)
        out = mm.png_decode_pixels(data)
        assert out.shape == (13, 9, channels)
        assert (out == px).all()

    def test_known_pixels(self):
        import numpy as np
        px = np.zeros((4, 4, 3), dtype=np.uint8)
        px[0, 0] = (255, 0, 0)
        out = mm.png_decode_pixels(mm.png_encode(px, filter_type=2))
        assert tuple(out[0, 0]) == (255, 0, 0)
        assert (out[1:] == 0).all()

    def test_rejects_non_png_and_truncated(self):
        with pytest.raises(ValueError):
            mm.png_decode_pixels(b"not a png")
        with pytest.raises(ValueError):
            mm.png_decode_pixels(mm.make_png_bytes(4, 4))  # header only

    def test_sniff_agrees_with_decode(self):
        data = mm.png_encode(_checker_pixels(24, 16))
        assert mm.sniff_bytes(data) == ("image/png", 24, 16)
        assert mm.png_decode_pixels(data).shape == (16, 24, 3)


class TestGifDecode:
    def _pal(self):
        return [(0, 0, 0), (255, 0, 0), (0, 255, 0), (0, 0, 255)]

    def test_roundtrip(self):
        import numpy as np
        idx = (np.arange(7 * 5).reshape(5, 7) % 4).astype(np.uint8)
        data = mm.gif_encode(idx, self._pal())
        px = mm.gif_decode_pixels(data)
        assert px.shape == (5, 7, 3)
        pal = np.array(self._pal(), dtype=np.uint8)
        assert (px == pal[idx]).all()
        # sniffing agrees with the real container
        assert mm.sniff_bytes(data) == ("image/gif", 7, 5)

    def test_interlaced_and_subblocks(self):
        """Interlace pass reordering + >255-byte data sub-blocks + a
        skipped extension block all decode to the same pixels."""
        import numpy as np
        idx = (np.add.outer(np.arange(40), np.arange(33)) % 4).astype(
            np.uint8)
        plain = mm.gif_decode_pixels(mm.gif_encode(idx, self._pal()))
        inter = mm.gif_decode_pixels(
            mm.gif_encode(idx, self._pal(), interlaced=True,
                          comment=b"made by tests"))
        assert (plain == inter).all()

    def test_lzw_width_growth_and_kwkwk(self):
        """Hand-packed LZW stream exercising the dynamic-table paths the
        literal-only encoder never emits: a dynamic-code reference, the
        KwKwK case, and the code-width growth from 3 to 4 bits."""
        import struct

        import numpy as np
        # mcs=2: clear=4, eoi=5; codes [clear,0,1,6,8,eoi] decode to
        # [0,1, 0 1, 0 1 0]; width grows to 4 before code 8
        codes_widths = [(4, 3), (0, 3), (1, 3), (6, 3), (8, 4), (5, 4)]
        acc = nbits = 0
        stream = bytearray()
        for c, wdt in codes_widths:
            acc |= c << nbits
            nbits += wdt
            while nbits >= 8:
                stream.append(acc & 0xFF)
                acc >>= 8
                nbits -= 8
        if nbits:
            stream.append(acc & 0xFF)
        pal = bytearray()
        for r, g, b in self._pal():
            pal.extend((r, g, b))
        gif = (b"GIF89a" + struct.pack("<HHBBB", 7, 1, 0x81, 0, 0) + pal
               + struct.pack("<BHHHHB", 0x2C, 0, 0, 7, 1, 0) + b"\x02"
               + bytes([len(stream)]) + stream + b"\x00\x3b")
        px = mm.gif_decode_pixels(gif)
        pal_a = np.array(self._pal(), dtype=np.uint8)
        assert (px[0] == pal_a[[0, 1, 0, 1, 0, 1, 0]]).all()

    def test_rejects_corrupt(self):
        import numpy as np
        import pytest as _pytest
        idx = np.zeros((4, 4), dtype=np.uint8)
        good = mm.gif_encode(idx, self._pal())
        with _pytest.raises(ValueError):
            mm.gif_decode_pixels(b"not a gif")
        with _pytest.raises(ValueError):
            mm.gif_decode_pixels(good[:20])  # truncated

    def test_animated_frames_and_delays(self):
        import numpy as np
        pal = self._pal()
        fr = [np.full((6, 8), k, dtype=np.uint8) for k in range(3)]
        data = mm.gif_encode_animated(fr, pal, delay_ms=500)
        frames, delays = mm.gif_decode_frames(data)
        assert len(frames) == 3 and delays == [500, 500, 500]
        pal_a = np.array(pal, dtype=np.uint8)
        for k in range(3):
            assert (frames[k] == pal_a[fr[k]]).all()




# ---------------------------------------------------------------------------
# Property tests: the image codecs are hand-written — fuzz the round-trips
# over random shapes/contents (no Spark; pure kernels).
# ---------------------------------------------------------------------------

from hypothesis import given, settings, strategies as hst


@settings(max_examples=25, deadline=None)
@given(hst.integers(1, 24), hst.integers(1, 24), hst.sampled_from([1, 3, 4]),
       hst.sampled_from([0, 1, 2, 3, 4]), hst.integers(0, 2**32 - 1))
def test_png_roundtrip_property(h, w, ch, filter_type, seed):
    import numpy as np
    rng = np.random.default_rng(seed)
    px = rng.integers(0, 256, (h, w, ch), dtype=np.uint8)
    out = mm.png_decode_pixels(mm.png_encode(px, filter_type=filter_type))
    assert out.shape == (h, w, ch)
    assert (out == px).all()


@settings(max_examples=25, deadline=None)
@given(hst.integers(1, 24), hst.integers(1, 24), hst.integers(2, 16),
       hst.booleans(), hst.integers(0, 2**32 - 1))
def test_gif_roundtrip_property(h, w, ncolors, interlaced, seed):
    import numpy as np
    rng = np.random.default_rng(seed)
    pal = [tuple(int(v) for v in rng.integers(0, 256, 3))
           for _ in range(ncolors)]
    idx = rng.integers(0, ncolors, (h, w)).astype(np.uint8)
    out = mm.gif_decode_pixels(
        mm.gif_encode(idx, pal, interlaced=interlaced))
    assert out.shape == (h, w, 3)
    assert (out == np.array(pal, dtype=np.uint8)[idx]).all()


