"""Tests for the LLM-pipeline operators (dedup / similarity / text) and
multimodal plumbing."""

from __future__ import annotations

import math

import pytest

import ibis_spark as ib
from ibis_spark import multimodal, pipeline as pl


@pytest.fixture(scope="module")
def con(spark):
    return ib.connect(spark)


class TestDedup:
    def test_exact_dedup_normalizes_whitespace(self, con):
        t = con.memtable(
            {"doc_id": [1, 2, 3], "text": ["Hello  world", "hello world", "other"]}
        )
        out = pl.dedup_exact(t, "text", "doc_id")
        kept = sorted(r.doc_id for r in out.df.collect())
        assert kept == [1, 3]

    def test_minhash_finds_planted_near_dups(self, con):
        base = "the quick brown fox jumps over the lazy dog " * 8
        near = base.replace("lazy", "sleepy")  # ~1 token differs
        other = "completely different content about spark engines " * 8
        t = con.memtable({"doc_id": [1, 2, 3], "text": [base, near, other]})
        out = pl.minhash_dedup(t, "text", "doc_id", num_hashes=64, bands=16)
        got = {r.doc_id: (r.rep_id, r.is_dup) for r in out.df.collect()}
        assert got[1] == (1, False)
        assert got[2] == (1, True)  # near-dup clusters with doc 1
        assert got[3] == (3, False)

    def test_minhash_verified_rejects_dissimilar_bucket_mates(self, con):
        base = "the quick brown fox jumps over the lazy dog " * 8
        near = base.replace("lazy", "sleepy")  # true char-4 jaccard 0.72
        other = "completely different content about spark engines " * 8
        t = con.memtable({"doc_id": [1, 2, 3], "text": [base, near, other]})
        # threshold 0.5 sits ~4 sigma below the true 0.72 (est std with 64
        # hashes is ~0.056) and far above the ~0.0 of the dissimilar doc
        out = pl.minhash_dedup_verified(t, "text", "doc_id", threshold=0.5)
        got = {r.doc_id: (r.rep_id, r.is_dup) for r in out.df.collect()}
        assert got[1] == (1, False)
        assert got[2] == (1, True)
        assert got[3] == (3, False)

    def test_minhash_verified_exact_gate(self, con):
        base = "the quick brown fox jumps over the lazy dog " * 8
        near = base.replace("lazy", "sleepy")  # true char-4 jaccard 0.72
        other = "completely different content about spark engines " * 8
        t = con.memtable({"doc_id": [1, 2, 3], "text": [base, near, other]})
        out = pl.minhash_dedup_verified(
            t, "text", "doc_id", threshold=0.7, verify="exact"
        )
        got = {r.doc_id: (r.rep_id, round(r.est_jaccard, 2) if r.est_jaccard else None, r.is_dup) for r in out.df.collect()}
        assert got[1] == (1, None, False)
        assert got[2] == (1, 0.72, True)  # exact jaccard, not an estimate
        assert got[3] == (3, None, False)

    def test_ngram_jaccard_dedup(self, con):
        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
        near = base.replace("zeta", "zed")
        other = "one two three four five six seven eight nine ten " * 4
        t = con.memtable({"doc_id": [10, 20, 30], "text": [base, near, other]})
        out = pl.ngram_jaccard_dedup(t, "text", "doc_id", n=3, threshold=0.4)
        got = {r.doc_id: (r.rep_id, r.is_dup) for r in out.df.collect()}
        assert got[20] == (10, True)
        assert got[30] == (30, False)

    def test_embedding_dedup(self, con):
        t = con.memtable(
            {
                "vec_id": [1, 2, 3],
                "embedding": [[1.0, 0.01], [1.0, 0.02], [0.0, 1.0]],
            }
        )
        out = pl.embedding_dedup(t, threshold=0.999, n_planes=2)
        got = {r.vec_id: (r.rep_id, r.is_dup) for r in out.df.collect()}
        assert got[2] == (1, True)
        assert got[3] == (3, False)

    def test_embedding_dedup_banded_lazy(self, con, monkeypatch):
        t = con.memtable(
            {
                "vec_id": [1, 2, 3, 4],
                "embedding": [
                    [1.0, 0.01, 0.0],
                    [1.0, 0.02, 0.0],
                    [0.0, 1.0, 0.0],
                    [0.0, 0.0, 1.0],
                ],
            }
        )
        # dim= given → the builder must not probe the data (stays lazy)
        import pyspark.sql.dataframe as psd

        def _boom(self, *a, **k):
            raise AssertionError("plan-time .first() probe in lazy path")

        monkeypatch.setattr(psd.DataFrame, "first", _boom)
        out = pl.embedding_dedup(t, threshold=0.999, n_planes=2, bands=3, dim=3)
        monkeypatch.undo()
        got = {r.vec_id: (r.rep_id, r.is_dup) for r in out.df.collect()}
        assert got[1] == (1, False)
        assert got[2] == (1, True)
        assert got[3] == (3, False)
        assert got[4] == (4, False)

    def test_simhash_hamming_separates(self, con):
        base = "alpha beta gamma delta epsilon zeta eta theta " * 4
        near = base.replace("zeta", "zetas")
        other = "one two three four five six seven eight " * 4
        t = con.memtable({"text": [base, near, other]})
        sh = [r.s for r in t.select(s=pl.simhash(t.text)).df.collect()]

        def ham(a, b):
            return sum(x != y for x, y in zip(a, b))

        assert ham(sh[0], sh[1]) < ham(sh[0], sh[2])


class TestSimilarity:
    def test_cosine_topk_exact(self, con):
        t = con.memtable(
            {
                "vec_id": [1, 2, 3],
                "embedding": [[1.0, 0.0], [0.9, 0.1], [0.0, 1.0]],
            }
        )
        out = pl.cosine_topk(t, [1.0, 0.0], 2)
        got = [r.vec_id for r in out.df.collect()]
        assert got == [1, 2]

    def test_ann_lsh_no_cartesian(self, con):
        t = con.memtable(
            {"vec_id": [1, 2, 3, 4], "embedding": [[1.0, 0.0], [0.8, 0.2], [-1.0, 0.0], [0.0, 1.0]]}
        )
        out = pl.ann_lsh_topk(t, [1.0, 0.0], 2, n_planes=2)
        plan = out.explain("formatted")
        assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
        got = [r.vec_id for r in out.df.collect()]
        assert 1 in got

    def test_ivf_exhaustive_probe_equals_brute_force(self, con):
        import numpy as np

        rng = np.random.default_rng(7)
        n, dim = 300, 12
        vecs = rng.standard_normal((n, dim))
        t = con.memtable(
            {
                "vec_id": list(range(n)),
                "embedding": [list(map(float, v)) for v in vecs],
            }
        )
        q = list(map(float, rng.standard_normal(dim)))
        exact = [r.vec_id for r in pl.cosine_topk(t, q, 10).df.collect()]
        # probe every centroid -> exhaustive -> exact equality (the oracle
        # contract in __spark_entry__.ann_ivf_topk)
        ivf = [
            r.vec_id
            for r in pl.ann_ivf_topk(t, q, 10, n_centroids=8, n_probe=8).df.collect()
        ]
        assert ivf == exact
        # Lloyd-refined centroids preserve exhaustive equality too
        cents = pl.ivf_centroids(t, "embedding", n_centroids=8, iters=2)
        ivf2 = [
            r.vec_id
            for r in pl.ann_ivf_topk(t, q, 10, centroids=cents, n_probe=8).df.collect()
        ]
        assert ivf2 == exact

    def test_ivf_pruned_probe_recall_and_plan(self, con):
        import numpy as np

        rng = np.random.default_rng(11)
        n, dim = 300, 12
        vecs = rng.standard_normal((n, dim))
        t = con.memtable(
            {
                "vec_id": list(range(n)),
                "embedding": [list(map(float, v)) for v in vecs],
            }
        )
        q = list(map(float, rng.standard_normal(dim)))
        exact = {r.vec_id for r in pl.cosine_topk(t, q, 10).df.collect()}
        out = pl.ann_ivf_topk(t, q, 10, n_centroids=8, n_probe=3)
        plan = out.explain("formatted")
        # prune is a scan-side filter: no shuffle-join, no Python eval
        assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
        assert "EvalPython" not in plan
        got = {r.vec_id for r in out.df.collect()}
        assert len(got & exact) >= 5  # recall >= 0.5 at 3/8 probes

    def test_ivf_persisted_cluster_col(self, con):
        import numpy as np

        rng = np.random.default_rng(13)
        n, dim = 200, 8
        vecs = rng.standard_normal((n, dim))
        t = con.memtable(
            {
                "vec_id": list(range(n)),
                "embedding": [list(map(float, v)) for v in vecs],
            }
        )
        q = list(map(float, rng.standard_normal(dim)))
        cents = pl.ivf_centroids(t, "embedding", n_centroids=4, id_col="vec_id")
        stored = pl.ivf_assign(t, cents)
        assert "cluster" in stored.columns
        # persisted-cluster prune with full probing == brute force
        exact = [r.vec_id for r in pl.cosine_topk(t, q, 5).df.collect()]
        got = [
            r.vec_id
            for r in pl.ann_ivf_topk(
                stored, q, 5, centroids=cents, cluster_col="cluster", n_probe=4
            ).df.collect()
        ]
        assert got == exact


class TestTextAnalysis:
    def test_lang_id(self, con):
        t = con.memtable(
            {
                "text": [
                    "the cat of the house is in a box",
                    "le chat et la maison est une chose",
                    "xyzzy plugh",
                ]
            }
        )
        got = [r.p for r in t.select(p=pl.lang_id(t.text)).df.collect()]
        assert got == ["en", "fr", "und"]

    def test_token_count(self, con):
        t = con.memtable({"text": ["a b c", "abcdefgh"]})
        out = t.select(
            n=pl.token_count(t.text), b=pl.token_count(t.text, bpe_estimate=True)
        )
        assert [(r.n, r.b) for r in out.df.collect()] == [(3, 2), (1, 2)]

    def test_quality_and_fingerprint_deterministic(self, con):
        t = con.memtable({"text": ["good clean text here", "good clean text here"]})
        out = t.select(q=pl.quality_score(t.text), f=pl.doc_fingerprint(t.text))
        a, b = out.df.collect()
        assert a.q == b.q and a.f == b.f and len(a.f) == 8


class TestMultimodal:
    def test_attach_and_decode_png(self, con):
        import numpy as np

        px_a = np.zeros((3, 5, 3), dtype=np.uint8)
        px_b = np.full((6, 2, 3), 200, dtype=np.uint8)
        t = con.memtable(
            [(1, self._make_png(px_a)), (2, self._make_png(px_b))],
            schema={"id": "int64", "payload": "binary"},
        )
        m = multimodal.attach_media(t, "payload", "image/png")
        out = multimodal.decode_images(m, feature_dim=4)
        assert out.df.schema["width"].dataType.simpleString() == "int"
        assert out.df.schema["height"].dataType.simpleString() == "int"
        assert out.df.schema["features"].dataType.simpleString() == "array<float>"
        got = {r.id: r for r in out.df.collect()}
        assert set(got) == {1, 2}
        assert (got[1].width, got[1].height) == (5, 3)
        assert (got[2].width, got[2].height) == (2, 6)
        for r in got.values():
            assert r.media.media_type == "image/png"
            assert len(r.features) == 4
            assert all(0.0 <= v <= 1.0 for v in r.features)

    def test_decode_deterministic(self, con):
        import numpy as np

        px = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
        t = con.memtable([(1, self._make_png(px))], schema={"id": "int64", "payload": "binary"})
        m = multimodal.attach_media(t, "payload")
        f1 = multimodal.decode_images(m).df.collect()[0].features
        f2 = multimodal.decode_images(m).df.collect()[0].features
        assert f1 is not None and f1 == f2

    @staticmethod
    def _make_png(px, color_type=2, filters=None):
        """Minimal PNG encoder for tests: applies the requested filter
        type per scanline (cycling 0..4 by default, so decode exercises
        every unfilter path), deflates, wraps in IHDR/IDAT/IEND."""
        import struct
        import zlib

        import numpy as np

        h, w, ch = px.shape
        filters = filters or [y % 5 for y in range(h)]
        raw = bytearray()
        prev = np.zeros(w * ch, dtype=np.int32)
        for y in range(h):
            line = px[y].reshape(-1).astype(np.int32)
            f = filters[y]
            raw.append(f)
            for x in range(w * ch):
                a = int(line[x - ch]) if x >= ch else 0
                b = int(prev[x])
                c = int(prev[x - ch]) if x >= ch else 0
                if f == 0:
                    pred = 0
                elif f == 1:
                    pred = a
                elif f == 2:
                    pred = b
                elif f == 3:
                    pred = (a + b) // 2
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                raw.append((int(line[x]) - pred) & 0xFF)
            prev = line

        def chunk(ctype, body):
            return (
                struct.pack(">I", len(body))
                + ctype
                + body
                + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
            )

        ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
        return (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(raw)))
            + chunk(b"IEND", b"")
        )

    def test_png_decode_all_filters_roundtrip(self):
        """Pure decoder check: pixels survive encode(filters 0-4) ->
        _png_decode bit-exactly, for RGB and RGBA."""
        import numpy as np

        rng = np.random.default_rng(7)
        for ch, ctype in ((3, 2), (4, 6), (1, 0), (2, 4)):
            px = rng.integers(0, 256, size=(7, 5, ch), dtype=np.uint8)
            w, h, och, out = multimodal._png_decode(self._make_png(px, ctype))
            assert (w, h, och) == (5, 7, ch)
            assert np.array_equal(out, px)

    def test_png_decode_real_bytes_through_spark(self, con):
        """VERDICT r8 item 6: REAL PNG bytes decoded end-to-end through
        the Arrow mapInPandas plumbing — no PIL."""
        import numpy as np

        px1 = np.zeros((4, 6, 3), dtype=np.uint8)          # all-black
        px2 = np.full((8, 2, 3), 255, dtype=np.uint8)      # all-white
        rows = [(1, self._make_png(px1)), (2, self._make_png(px2))]
        t = con.memtable(rows, schema={"id": "int64", "payload": "binary"})
        m = multimodal.attach_media(t, "payload", "image/png")
        out = multimodal.decode_images(m)
        got = {r.id: r for r in out.df.collect()}
        assert (got[1].width, got[1].height) == (6, 4)
        assert (got[2].width, got[2].height) == (2, 8)
        # luminance histogram: black mass in bin 0, white in last bin
        assert got[1].features[0] == 1.0 and got[2].features[-1] == 1.0

    def test_png_decode_resize_and_palette(self, con):
        import numpy as np
        import struct
        import zlib

        px = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
        t = con.memtable([(self._make_png(px),)], schema={"payload": "binary"})
        m = multimodal.attach_media(t, "payload", "image/png")
        out = multimodal.decode_images(m, resize=(2, 2))
        r = out.df.collect()[0]
        assert (r.width, r.height) == (2, 2)
        # palette image: indices into a 2-color PLTE
        idx = np.array([[[0], [1]], [[1], [0]]], dtype=np.uint8)
        png = self._make_png(idx, color_type=3, filters=[0, 0])
        # splice a PLTE chunk before IDAT
        plte_body = bytes([10, 20, 30, 200, 210, 220])
        plte = (
            struct.pack(">I", len(plte_body))
            + b"PLTE"
            + plte_body
            + struct.pack(">I", zlib.crc32(b"PLTE" + plte_body) & 0xFFFFFFFF)
        )
        at = png.index(b"IDAT") - 4
        png = png[:at] + plte + png[at:]
        w, h, ch, arr = multimodal._png_decode(png)
        assert (w, h, ch) == (2, 2, 3)
        assert arr[0, 0].tolist() == [10, 20, 30]
        assert arr[0, 1].tolist() == [200, 210, 220]

    def test_png_malformed_degrades_to_nulls(self, con):
        """A corrupt/unsupported PNG must NOT kill the job: that row
        degrades to NULL width/height/features, good rows still decode."""
        import numpy as np

        good = self._make_png(np.zeros((2, 2, 3), dtype=np.uint8))
        truncated = good[:40]  # magic + partial IHDR
        t = con.memtable(
            [(1, good), (2, truncated)],
            schema={"id": "int64", "payload": "binary"},
        )
        m = multimodal.attach_media(t, "payload", "image/png")
        got = {r.id: r for r in multimodal.decode_images(m).df.collect()}
        assert (got[1].width, got[1].height) == (2, 2)
        assert got[2].width is None and got[2].height is None
        assert got[2].features is None

    def test_png_palette_index_out_of_range_degrades(self, con):
        """ADVICE r9: a palette index past the PLTE entry count raised a
        bare IndexError that killed the whole Spark task; it must
        degrade that ROW to NULL like every other malformed PNG."""
        import numpy as np
        import struct
        import zlib

        # 1x1 palette image whose sole pixel indexes entry 5 of a
        # 2-entry PLTE
        idx = np.array([[[5]]], dtype=np.uint8)
        bad = self._make_png(idx, color_type=3, filters=[0])
        plte_body = bytes([10, 20, 30, 200, 210, 220])
        plte = (
            struct.pack(">I", len(plte_body))
            + b"PLTE"
            + plte_body
            + struct.pack(">I", zlib.crc32(b"PLTE" + plte_body) & 0xFFFFFFFF)
        )
        at = bad.index(b"IDAT") - 4
        bad = bad[:at] + plte + bad[at:]
        good = self._make_png(np.zeros((2, 2, 3), dtype=np.uint8))
        t = con.memtable(
            [(1, good), (2, bad)], schema={"id": "int64", "payload": "binary"}
        )
        m = multimodal.attach_media(t, "payload", "image/png")
        got = {r.id: r for r in multimodal.decode_images(m).df.collect()}
        assert (got[1].width, got[1].height) == (2, 2)
        assert got[2].width is None and got[2].features is None

    @staticmethod
    def _make_wav(x, sr=16000, channels=1, sampwidth=2):
        """WAV bytes from float samples in [-1, 1] via the stdlib
        writer (the same container _wav_decode parses)."""
        import io
        import wave

        import numpy as np

        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(channels)
            w.setsampwidth(sampwidth)
            w.setframerate(sr)
            if sampwidth == 2:
                raw = (np.asarray(x) * 32767.0).astype("<i2").tobytes()
            elif sampwidth == 1:
                raw = (np.asarray(x) * 127.0 + 128.0).astype(np.uint8).tobytes()
            else:
                raise ValueError(sampwidth)
            w.writeframes(raw)
        return buf.getvalue()

    def test_wav_decode_real_bytes_through_spark(self, con):
        """Round 12: REAL WAV/PCM bytes decoded end-to-end (stdlib wave
        + numpy) — sample rate, channels, duration, and signal features
        check against the synthesized sine's ground truth."""
        import math

        import numpy as np

        sr, f, dur, amp = 16000, 1000.0, 0.1, 0.5
        ts = np.arange(int(sr * dur)) / sr
        sine = amp * np.sin(2 * math.pi * f * ts)
        stereo = np.empty(2 * len(ts))
        stereo[0::2] = sine
        stereo[1::2] = sine
        rows = [
            (1, self._make_wav(sine, sr=sr)),
            (2, self._make_wav(stereo, sr=8000, channels=2, sampwidth=1)),
            (3, b"RIFF\x00\x00\x00\x00WAVEgarbage"),  # malformed
        ]
        t = con.memtable(rows, schema={"id": "int64", "payload": "binary"})
        m = multimodal.attach_media(t, "payload", "audio/wav")
        out = multimodal.decode_audio(m)
        got = {r.id: r for r in out.df.collect()}

        r1 = got[1]
        assert r1.sample_rate == sr and r1.channels == 1
        assert r1.duration_s == pytest.approx(dur, abs=1e-9)
        rms, peak, zcr, centroid = r1.features[:4]
        assert rms == pytest.approx(amp / math.sqrt(2), rel=1e-3)
        assert peak == pytest.approx(amp, rel=1e-3)
        assert zcr == pytest.approx(2 * f / sr, rel=0.05)
        assert centroid == pytest.approx(f, rel=0.02)
        assert len(r1.features) == 4 + 8

        r2 = got[2]
        assert r2.sample_rate == 8000 and r2.channels == 2
        # stereo-to-mono mean of identical channels keeps the signal
        assert r2.features[0] == pytest.approx(amp / math.sqrt(2), rel=0.02)

        r3 = got[3]
        assert r3.sample_rate is None and r3.features is None

    def test_audio_non_wav_raises(self, con):
        t = con.memtable({"id": [1], "payload": [b"ID3\x03mp3data"]})
        m = multimodal.attach_media(t, "payload", "audio/mpeg")
        with pytest.raises(Exception, match="av library"):
            multimodal.decode_audio(m).df.collect()

    # ---- baseline JPEG (round 12): fixtures are HAND-BUILT bitstreams
    # with custom canonical huffman tables, so every expected pixel has
    # a closed form (a DC-only block decodes to dequant/8 + 128
    # exactly; one AC coefficient decodes to a single cosine mode)

    @staticmethod
    def _jpeg_segments(comps, q=16, w=8, h=8, ac_syms=(0x00,)):
        """Headers for a baseline JPEG: DQT(all=q), SOF0, custom DHT
        (DC: categories 0..11 as 4-bit canonical codes; AC: ``ac_syms``
        as 2-bit codes), SOS.  ``comps`` = [(cid, h, v)]."""
        import struct

        out = b"\xff\xd8"
        out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes([q] * 64)
        sof = struct.pack(">BHHB", 8, h, w, len(comps))
        for cid, hs, vs in comps:
            sof += bytes([cid, (hs << 4) | vs, 0])
        out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
        counts_dc = [0] * 16
        counts_dc[3] = 12  # twelve categories at code length 4
        dht = bytes([0x00]) + bytes(counts_dc) + bytes(range(12))
        counts_ac = [0] * 16
        counts_ac[1] = len(ac_syms)  # AC symbols at code length 2
        dht += bytes([0x10]) + bytes(counts_ac) + bytes(ac_syms)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(dht)) + dht
        sos = bytes([len(comps)])
        for cid, *_ in comps:
            sos += bytes([cid, 0x00])
        sos += bytes([0, 63, 0])
        out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos
        return out

    class _BitWriter:
        def __init__(self):
            self.bits = []

        def put(self, value, n):
            for k in range(n - 1, -1, -1):
                self.bits.append((value >> k) & 1)

        def dc(self, diff):
            t = 0 if diff == 0 else max(diff, -diff).bit_length()
            self.put(t, 4)  # category == its canonical 4-bit code
            if t:
                self.put(diff if diff > 0 else diff + (1 << t) - 1, t)

        def bytes(self):
            bs, cur, n = bytearray(), 0, 0
            for b in self.bits:
                cur = (cur << 1) | b
                n += 1
                if n == 8:
                    bs.append(cur)
                    if cur == 0xFF:
                        bs.append(0x00)  # byte stuffing
                    cur, n = 0, 0
            if n:
                bs.append((cur << (8 - n)) | ((1 << (8 - n)) - 1))
            return bytes(bs)

    def test_jpeg_flat_grayscale_closed_form(self, con):
        """DC-only grayscale block: every pixel is exactly
        dequant/8 + 128 (the orthonormal IDCT of a constant)."""
        bw = self._BitWriter()
        bw.dc(8)       # DC coefficient 8 -> dequant 8*16 = 128
        bw.put(0, 2)   # EOB ('00')
        payload = (
            self._jpeg_segments([(1, 1, 1)]) + bw.bytes() + b"\xff\xd9"
        )
        t = con.memtable([(1, payload)], schema={"id": "int64", "payload": "binary"})
        m = multimodal.attach_media(t, "payload", "image/jpeg")
        out = multimodal.decode_images(m).df.collect()[0]
        assert (out.width, out.height) == (8, 8)
        # every pixel 128/8 + 128 = 144 -> all luminance mass in one
        # 8-bin histogram bucket (144 // 32 == 4)
        assert out.features[4] == 1.0 and sum(out.features) == 1.0

    def test_jpeg_single_ac_mode(self):
        """One AC coefficient decodes to a single horizontal cosine
        mode — checked against the textbook IDCT closed form."""
        import math

        import numpy as np

        from ibis_spark.multimodal import _jpeg_decode

        bw = self._BitWriter()
        bw.dc(0)
        bw.put(1, 2)   # AC symbol 0x01 ('01'): run 0, size 1
        bw.put(1, 1)   # amplitude +1 -> coef q = 16 at zigzag idx 1
        bw.put(0, 2)   # EOB
        payload = (
            self._jpeg_segments([(1, 1, 1)], ac_syms=(0x00, 0x01))
            + bw.bytes()
            + b"\xff\xd9"
        )
        h, w, px = _jpeg_decode(payload)
        assert (h, w) == (8, 8)
        for j in range(8):
            exp = 128.0 + 16.0 * math.sqrt(0.125) * 0.5 * math.cos(
                math.pi * (2 * j + 1) / 16.0
            )
            assert abs(float(px[3, j, 0]) - np.clip(round(exp), 0, 255)) <= 1

    def test_jpeg_420_color_closed_form(self, con):
        """4:2:0 YCbCr: 4 Y blocks + subsampled chroma, flat values,
        exact conversion check."""
        import numpy as np

        bw = self._BitWriter()
        for blk in range(4):   # Y blocks: first diff 8, then 0
            bw.dc(8 if blk == 0 else 0)
            bw.put(0, 2)
        bw.dc(4)               # Cb: 4*16 = 64 -> plane 136
        bw.put(0, 2)
        bw.dc(-4)              # Cr: -> plane 120
        bw.put(0, 2)
        payload = (
            self._jpeg_segments(
                [(1, 2, 2), (2, 1, 1), (3, 1, 1)], w=16, h=16
            )
            + bw.bytes()
            + b"\xff\xd9"
        )
        from ibis_spark.multimodal import _jpeg_decode

        h, w, px = _jpeg_decode(payload)
        assert (h, w) == (16, 16)
        Y, Cb, Cr = 144.0, 136.0, 120.0
        exp = [
            Y + 1.402 * (Cr - 128.0),
            Y - 0.344136 * (Cb - 128.0) - 0.714136 * (Cr - 128.0),
            Y + 1.772 * (Cb - 128.0),
        ]
        got = px[8, 8]
        for c in range(3):
            assert abs(float(got[c]) - np.clip(np.round(exp[c]), 0, 255)) <= 1

    def test_jpeg_malformed_and_progressive_degrade(self, con):
        rows = [
            (1, b"\xff\xd8\xff\xdb\x00\x05garbage"),
            # SOF2 (progressive) — out of scope, degrades not crashes
            (2, b"\xff\xd8\xff\xc2\x00\x0b\x08\x00\x08\x00\x08\x01\x01\x11\x00"),
        ]
        t = con.memtable(rows, schema={"id": "int64", "payload": "binary"})
        m = multimodal.attach_media(t, "payload", "image/jpeg")
        got = {r.id: r for r in multimodal.decode_images(m).df.collect()}
        assert got[1].width is None and got[2].width is None

    def test_jpeg_undefined_table_degrades(self, con):
        """A JPEG whose SOF references quant table 3 that no DQT
        defines raises KeyError inside _jpeg_decode — the degrade
        contract must catch it (ADVICE r12: KeyError escaped the
        ValueError/IndexError nets and killed the whole job)."""
        bw = self._BitWriter()
        bw.dc(8)
        bw.put(0, 2)
        hdr = self._jpeg_segments([(1, 1, 1)])
        # SOF0 component spec is [cid, hv, tq]; patch tq 0 -> 3
        sof_at = hdr.index(b"\xff\xc0")
        tq_at = sof_at + 4 + 6 + 2  # marker+len+precision/h/w/ncomp, cid+hv
        hdr = hdr[:tq_at] + b"\x03" + hdr[tq_at + 1 :]
        payload = hdr + bw.bytes() + b"\xff\xd9"
        import pytest

        with pytest.raises(KeyError):
            from ibis_spark.multimodal import _jpeg_decode

            _jpeg_decode(payload)
        t = con.memtable(
            [(1, payload)], schema={"id": "int64", "payload": "binary"}
        )
        m = multimodal.attach_media(t, "payload", "image/jpeg")
        out = multimodal.decode_images(m).df.collect()[0]
        assert out.width is None and out.features is None

    def test_jpeg_fill_bytes_before_marker(self):
        """ITU-T T.81 B.1.1.2: 0xFF fill bytes may pad any marker; a
        padded stream must decode identically to the unpadded one
        (ADVICE r12: the fill byte parsed as marker 0xFF)."""
        import numpy as np

        from ibis_spark.multimodal import _jpeg_decode

        bw = self._BitWriter()
        bw.dc(8)
        bw.put(0, 2)
        hdr = self._jpeg_segments([(1, 1, 1)])
        ent = bw.bytes() + b"\xff\xd9"
        padded = hdr.replace(b"\xff\xc4", b"\xff\xff\xff\xc4") + ent
        plain = hdr + ent
        h, w, px = _jpeg_decode(padded)
        h2, w2, px2 = _jpeg_decode(plain)
        assert (h, w) == (h2, w2) == (8, 8)
        assert np.array_equal(px, px2)

    def test_avi_corrupt_frame_degrades(self, con):
        """sample_frames over an MJPEG AVI whose frame bytes raise
        KeyError must degrade that frame to NULL dims, not fail the
        job (ADVICE r12)."""
        import struct as s

        bad_jpeg = self._jpeg_segments([(1, 1, 1)])
        sof_at = bad_jpeg.index(b"\xff\xc0")
        tq_at = sof_at + 4 + 6 + 2
        bad_jpeg = (
            bad_jpeg[:tq_at] + b"\x03" + bad_jpeg[tq_at + 1 :] + b"\xff\xd9"
        )
        chunk = b"00dc" + s.pack("<I", len(bad_jpeg)) + bad_jpeg
        if len(bad_jpeg) % 2:
            chunk += b"\x00"
        movi = b"LIST" + s.pack("<I", 4 + len(chunk)) + b"movi" + chunk
        avi = b"RIFF" + s.pack("<I", 4 + len(movi)) + b"AVI " + movi
        t = con.memtable(
            [(1, avi)], schema={"id": "int64", "payload": "binary"}
        )
        m = multimodal.attach_media(t, "payload", "video/avi")
        rows = multimodal.sample_frames(m).df.collect()
        assert len(rows) == 1
        assert rows[0].frame_width is None

    def test_jpeg_kernel_swap_restart_differential(self):
        """r13 kernel swap: the fast (LUT Huffman + batched IDCT)
        kernel must produce BYTE-IDENTICAL pixels to the reference
        kernel, including across restart intervals (DRI=2, RST0
        resets the DC predictor at a byte boundary)."""
        import struct as s

        import numpy as np

        from ibis_spark.multimodal import _jpeg_decode

        hdr = self._jpeg_segments([(1, 1, 1)], w=16, h=16)
        # splice a DRI segment before SOS
        sos_at = hdr.index(b"\xff\xda")
        dri = b"\xff\xdd" + s.pack(">H", 4) + s.pack(">H", 2)
        hdr = hdr[:sos_at] + dri + hdr[sos_at:]
        bw1 = self._BitWriter()
        for diff in (8, -3):  # MCUs 0-1: pred walks 8 -> 5
            bw1.dc(diff)
            bw1.put(0, 2)
        bw2 = self._BitWriter()
        for diff in (4, 2):   # MCUs 2-3 after reset: pred walks 4 -> 6
            bw2.dc(diff)
            bw2.put(0, 2)
        payload = (
            hdr + bw1.bytes() + b"\xff\xd0" + bw2.bytes() + b"\xff\xd9"
        )
        h, w, px_fast = _jpeg_decode(payload, kernel="fast")
        h2, w2, px_ref = _jpeg_decode(payload, kernel="ref")
        assert (h, w) == (h2, w2) == (16, 16)
        assert np.array_equal(px_fast, px_ref)
        # closed forms: flat DC blocks are 2*pred + 128
        assert px_fast[0, 0, 0] == 2 * 8 + 128
        assert px_fast[0, 8, 0] == 2 * 5 + 128
        assert px_fast[8, 0, 0] == 2 * 4 + 128
        assert px_fast[8, 8, 0] == 2 * 6 + 128

    def test_jpeg_kernel_swap_color_differential(self):
        """Kernel parity on the 4:2:0 color fixture."""
        import numpy as np

        from ibis_spark.multimodal import _jpeg_decode

        bw = self._BitWriter()
        for blk in range(4):
            bw.dc(8 if blk == 0 else 0)
            bw.put(0, 2)
        bw.dc(4)
        bw.put(0, 2)
        bw.dc(-4)
        bw.put(0, 2)
        payload = (
            self._jpeg_segments([(1, 2, 2), (2, 1, 1), (3, 1, 1)], w=16, h=16)
            + bw.bytes()
            + b"\xff\xd9"
        )
        _h, _w, px_fast = _jpeg_decode(payload, kernel="fast")
        _h2, _w2, px_ref = _jpeg_decode(payload, kernel="ref")
        assert np.array_equal(px_fast, px_ref)

    # ---- GIF (round 12): in-test LZW encoder + hand-built containers

    @staticmethod
    def _gif_lzw_encode(indices, min_code):
        """Standard GIF LZW compression (dict growth, width growth,
        CLEAR at table cap) — the decoder must invert it exactly."""
        clear, eoi = 1 << min_code, (1 << min_code) + 1
        out_bits = []
        width = min_code + 1

        def emit(code):
            nonlocal width
            for k in range(width):
                out_bits.append((code >> k) & 1)

        table = {bytes([i]): i for i in range(clear)}
        nxt = eoi + 1
        emit(clear)
        buf = b""
        for px in bytes(indices):
            cand = buf + bytes([px])
            if cand in table:
                buf = cand
                continue
            emit(table[buf])
            if nxt < 4096:  # deferred clear: stop growing at 2^12
                table[cand] = nxt
                nxt += 1
                if nxt == (1 << width) + 1 and width < 12:
                    width += 1
            buf = bytes([px])
        if buf:
            emit(table[buf])
        emit(eoi)
        bs = bytearray()
        for k in range(0, len(out_bits), 8):
            v = 0
            for j, bit in enumerate(out_bits[k : k + 8]):
                v |= bit << j
            bs.append(v)
        return bytes(bs)

    @classmethod
    def _make_gif(cls, frames, palette, min_code=2):
        """GIF89a bytes: global palette + one image block per frame
        (each a full-size index array)."""
        import struct

        h = len(frames[0])
        w = len(frames[0][0])
        ncol = 1 << (min_code if min_code > 1 else 2)
        pal = bytearray()
        for k in range(ncol):
            pal += bytes(palette[k] if k < len(palette) else (0, 0, 0))
        flags = 0x80 | (min_code - 1 if min_code > 1 else 1)
        out = b"GIF89a" + struct.pack("<HHBBB", w, h, flags, 0, 0) + bytes(pal)
        for fr in frames:
            out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
            out += bytes([min_code])
            lzw = cls._gif_lzw_encode(
                bytes(px for row in fr for px in row), min_code
            )
            for k in range(0, len(lzw), 255):
                sub = lzw[k : k + 255]
                out += bytes([len(sub)]) + sub
            out += b"\x00"
        return out + b"\x3b"

    def test_gif_decode_through_spark(self, con):
        """Real GIF bytes end-to-end: palette pixels recovered exactly
        (LZW round-trip), multi-frame GIFs sample like videos."""
        palette = [(0, 0, 0), (255, 255, 255), (255, 0, 0), (0, 0, 255)]
        checker = [[(x + y) % 2 for x in range(6)] for y in range(4)]
        solid_red = [[2] * 6 for _ in range(4)]
        gif1 = self._make_gif([checker], palette)
        gif3 = self._make_gif([checker, solid_red, checker], palette)
        rows = [(1, gif1), (2, b"GIF89agarbage")]
        t = con.memtable(rows, schema={"id": "int64", "payload": "binary"})
        m = multimodal.attach_media(t, "payload", "image/gif")
        got = {r.id: r for r in multimodal.decode_images(m).df.collect()}
        assert (got[1].width, got[1].height) == (6, 4)
        # checkerboard: half black (bin 0), half white (last bin)
        assert got[1].features[0] == 0.5 and got[1].features[-1] == 0.5
        assert got[2].width is None

        t3 = con.memtable([(1, gif3)], schema={"id": "int64", "payload": "binary"})
        m3 = multimodal.attach_media(t3, "payload", "image/gif")
        fr = multimodal.sample_frames(m3, every_n=2).df.collect()
        assert sorted(r.frame_idx for r in fr) == [0, 2]
        assert all(r.frame_width == 6 and r.frame_height == 4 for r in fr)

    def test_gif_lzw_width_growth_and_deferred_clear(self):
        """A long pseudo-random index stream forces LZW code-width
        growth through every width 3..12 AND past the 4096-entry cap
        (deferred clear: both sides must stop growing in lockstep) —
        decode must invert encode byte-exactly."""
        import random

        from ibis_spark.multimodal import _gif_lzw

        rng = random.Random(7)
        idx = bytes(rng.randrange(4) for _ in range(200000))
        enc = self._gif_lzw_encode(idx, 2)
        assert _gif_lzw(enc, 2, len(idx)) == idx

    def test_gif_lzw_pattern_fuzz(self):
        """r14 differential fuzz across stream shapes: random (table
        saturation), constant runs (every code is the KwKwK case),
        short periodic repeats (dense dictionary hits), and 1-2 pixel
        degenerates, across min_code widths 2/3/4/8 — the fuzz written
        while evaluating (and rejecting, SCALE.md r14) a vectorized
        LZW kernel; it keeps guarding the reference kernel."""
        import random

        from ibis_spark.multimodal import _gif_lzw

        rng = random.Random(42)
        for trial in range(40):
            min_code = rng.choice([2, 3, 4, 8])
            n = rng.choice([1, 2, 17, 100, 1000, 20000])
            nsym = 1 << min_code
            mode = trial % 3
            if mode == 0:
                pix = bytes(rng.randrange(nsym) for _ in range(n))
            elif mode == 1:
                pix = bytes([rng.randrange(nsym)] * n)
            else:
                base = [rng.randrange(nsym) for _ in range(7)]
                pix = bytes((base * (n // 7 + 1))[:n])
            enc = self._gif_lzw_encode(pix, min_code)
            assert _gif_lzw(enc, min_code, len(pix)) == pix, (
                trial, min_code, n, mode
            )

    def test_real_decode_raises_without_pil(self, con):
        t = con.memtable({"id": [1], "payload": ["x"]})
        m = multimodal.attach_media(t, "payload")
        try:
            import PIL  # noqa: F401

            pytest.skip("PIL installed; stub guard not applicable")
        except ImportError:
            pass
        with pytest.raises(Exception):
            multimodal.decode_images(m).df.collect()

    def test_sample_frames(self, con):
        """A codec beyond MJPEG-in-AVI and GIF needs libav: the call
        raises instead of inventing frames."""
        t = con.memtable({"id": [1], "payload": ["0123456789" * 3]})
        m = multimodal.attach_media(t, "payload", "video/mp4")
        out = multimodal.sample_frames(m, every_n=10)
        assert [f.name for f in out.df.schema.fields][-3:] == [
            "frame_idx", "frame_width", "frame_height"
        ]
        with pytest.raises(Exception, match="av library"):
            out.df.collect()

    def test_mjpeg_avi_real_frame_sampling(self, con):
        """Round 12: MJPEG-in-AVI samples for REAL — stdlib RIFF walk
        plus the baseline-JPEG decoder for true frame geometry."""
        import struct

        bw = self._BitWriter()
        bw.dc(8)
        bw.put(0, 2)
        jpeg = self._jpeg_segments([(1, 1, 1)]) + bw.bytes() + b"\xff\xd9"

        def chunk(cid, body):
            pad = b"\x00" if len(body) & 1 else b""
            return cid + struct.pack("<I", len(body)) + body + pad

        movi = b"movi" + b"".join(chunk(b"00dc", jpeg) for _ in range(5))
        lst = chunk(b"LIST", movi)
        avi = b"RIFF" + struct.pack("<I", 4 + len(lst)) + b"AVI " + lst
        rows = [(1, avi), (2, b"RIFF\x08\x00\x00\x00AVI bad!")]
        t = con.memtable(rows, schema={"id": "int64", "payload": "binary"})
        m = multimodal.attach_media(t, "payload", "video/x-msvideo")
        got = multimodal.sample_frames(m, every_n=2).df.collect()
        by_id = {}
        for r in got:
            by_id.setdefault(r.id, []).append(r)
        f1 = sorted(by_id[1], key=lambda r: r.frame_idx)
        assert [r.frame_idx for r in f1] == [0, 2, 4]
        assert all(r.frame_width == 8 and r.frame_height == 8 for r in f1)
        assert len(by_id[2]) == 1 and by_id[2][0].frame_idx is None


class TestGeo:
    def test_wkb_roundtrip(self, con, spark):
        import struct

        from ibis_spark import geo

        wkb = struct.pack("<BIdd", 1, 1, 1.0, 2.0)  # POINT(1 2)
        t = con.memtable([(wkb,)], schema={"g": "binary"})
        out = t.select(geom=geo.geom_from_wkb(t.g)).mutate(
            rt=lambda x: geo.as_binary(x.geom), sr=lambda x: geo.srid(x.geom)
        )
        row = out.df.collect()[0]
        assert bytes(row.rt) == wkb
        assert row.sr == 0

    # round-9 pure-Spark point analytics (geo.py) ---------------------------

    TRICKY = [
        0.0, 1.0, -1.0, 2.0, -0.5, 1.5, math.pi, -math.pi, 1e-10, -1e-10,
        123456.789, -0.0001220703125, 2.0**52 + 1.0, 1.0 + 2.0**-52,
        0.1, 0.2, 0.3, -179.99999999, 89.999999999, 2.0**-61, 2.0**61,
    ]

    def test_geo_point_wkb_bytes_and_roundtrip(self, con):
        """geo_point emits REAL little-endian WKB (interop with any WKB
        reader), and geo_x/geo_y recover each coordinate bit-exactly."""
        import struct

        from ibis_spark import geo

        rows = [(i, v, -v if v != 0 else 0.25) for i, v in enumerate(self.TRICKY)]
        t = con.memtable(rows, schema={"i": "int64", "x": "float64", "y": "float64"})
        out = t.mutate(pt=geo.geo_point(t.x, t.y))
        out = out.select("i", "x", "y", "pt", rx=geo.geo_x(out.pt), ry=geo.geo_y(out.pt))
        for r in out.df.collect():
            assert bytes(r.pt) == struct.pack("<BIdd", 1, 1, r.x, r.y), r.i
            assert struct.pack("<d", r.rx) == struct.pack("<d", r.x), r.i
            assert struct.pack("<d", r.ry) == struct.pack("<d", r.y), r.i

    @staticmethod
    def _det_point(geo, x, y):
        """The deterministic WKB point: the decoded point through
        geo_encode's arithmetic array encoder."""
        return geo.geo_encode(geo.geo_point(x, y, decoded=True))

    def test_geo_point_deterministic_encoder_matches(self, con):
        """geo_encode(geo_point(..., decoded=True)) (arithmetic
        bit-encoder, usable in grouping keys) emits byte-identical WKB
        to geo_point's reflect encoder over the whole coordinate
        domain."""
        from ibis_spark import geo

        vals = [v for v in self.TRICKY if v == 0.0 or 2.0**-61 <= abs(v) <= 2.0**61]
        t = con.memtable(
            [(i, v, -v or 0.5) for i, v in enumerate(vals)],
            schema={"i": "int64", "x": "float64", "y": "float64"},
        )
        out = t.select(
            "i",
            a=geo.geo_point(t.x, t.y),
            b=self._det_point(geo, t.x, t.y),
        )
        for r in out.df.collect():
            assert r.a is not None and bytes(r.a) == bytes(r.b), r.i
        # the deterministic encode is legal as a grouping key
        g = t.mutate(p=self._det_point(geo, t.x, t.y))
        n = g.group_by("p").aggregate(n=g.i.count()).df.count()
        assert n == len(vals)

    def test_geo_decode_foreign_wkb(self, con):
        """geo_x/geo_y decode WKB produced OUTSIDE the engine."""
        import struct

        from ibis_spark import geo

        wkb = struct.pack("<BIdd", 1, 1, -73.985664, 40.748514)
        t = con.memtable([(wkb,)], schema={"g": "binary"})
        r = t.select(x=geo.geo_x(t.g), y=geo.geo_y(t.g)).df.collect()[0]
        assert r.x == -73.985664 and r.y == 40.748514

    def test_geo_distance_dwithin_bbox(self, con):
        from ibis_spark import geo

        t = con.memtable(
            {"id": [1, 2], "x": [0.0, 3.0], "y": [0.0, 4.0]}
        )
        t = t.mutate(pt=geo.geo_point(t.x, t.y), o=geo.geo_point(t.x * 0, t.y * 0))
        r = t.select(
            "id",
            d=geo.geo_distance(t.pt, t.o),
            w=geo.geo_dwithin(t.pt, t.o, 4.9),
            b=geo.geo_within_bbox(t.pt, -1.0, -1.0, 2.9, 5.0),
        ).df.collect()
        got = {row.id: (row.d, row.w, row.b) for row in r}
        assert got[1] == (0.0, True, True)
        assert got[2] == (5.0, False, False)
        # negative tolerance matches nothing (PostGIS ST_DWithin)
        neg = t.select(w=geo.geo_dwithin(t.pt, t.o, -4.9)).df.collect()
        assert all(row.w is False for row in neg)

    def test_geo_filter_over_computed_point_no_blowup(self, con):
        """Regression: filter + aggregate over a freshly computed
        geo_point OOM'd the optimizer when encode used a deep
        deterministic when-chain (pushdown inlined ~40 copies of the
        encode tree into the predicate). The reflect-based encode keeps
        the plan small; this must complete, not hang/OOM."""
        from ibis_spark import geo

        t = con.memtable(
            {"k": list(range(50)), "x": [float(i % 7) - 3.0 for i in range(50)],
             "y": [float(i % 5) - 2.0 for i in range(50)]}
        )
        t = t.mutate(pt=geo.geo_point(t.x, t.y))
        out = (
            t.filter(geo.geo_within_bbox(t.pt, -2.0, -1.0, 2.0, 2.0))
            .group_by("k")
            .aggregate(n=t.k.count())
        )
        assert out.df.count() > 0

    def test_geo_equals_spatial_not_byte(self, con):
        """geo_equals compares coordinates, not WKB bytes: a big-endian
        encoding of the same point is equal; a different point is not."""
        import struct

        from ibis_spark import geo

        le = struct.pack("<BIdd", 1, 1, 1.5, -2.25)
        be = struct.pack(">BIdd", 0, 1, 1.5, -2.25)  # big-endian WKB
        other = struct.pack("<BIdd", 1, 1, 1.5, -2.0)
        t = con.memtable(
            [(le, le, other)], schema={"a": "binary", "b": "binary", "c": "binary"}
        )
        r = t.select(
            same=geo.geo_equals(t.a, t.b), diff=geo.geo_equals(t.a, t.c)
        ).df.collect()[0]
        assert r.same is True and r.diff is False
        # big-endian WKB stores doubles at the same offsets but in BE
        # byte order — decode yields different coords, so NOT equal to
        # the LE point (documented: point layout assumes LE WKB)
        t2 = con.memtable([(le, be)], schema={"a": "binary", "b": "binary"})
        assert t2.select(e=geo.geo_equals(t2.a, t2.b)).df.collect()[0].e in (
            False,
            None,
        )

    def test_geo_codec_fuzz_roundtrip(self, con):
        """Property fuzz: 300 seeded random doubles across the full
        exponent domain round-trip bit-exactly through BOTH encoders
        (geo_point's reflect encoder, and geo_encode of a decoded
        point) + the decoder, in ONE Spark job."""
        import random
        import struct

        from ibis_spark import geo

        rng = random.Random(20260814)
        vals = [0.0]
        for _ in range(299):
            e = rng.randint(-61, 60)
            m = rng.random() + 1.0  # [1, 2)
            v = m * (2.0**e) * rng.choice([1.0, -1.0])
            vals.append(v)
        t = con.memtable(
            [(i, v, -v or 1.0) for i, v in enumerate(vals)],
            schema={"i": "int64", "x": "float64", "y": "float64"},
        )
        t = t.mutate(
            p=geo.geo_point(t.x, t.y),
            pd_=self._det_point(geo, t.x, t.y),
        )
        rows = t.select(
            "i", "x", "y",
            rx=geo.geo_x(t.p), ry=geo.geo_y(t.p), same=t.p == t.pd_,
        ).df.collect()
        assert len(rows) == 300
        for r in rows:
            assert struct.pack("<d", r.rx) == struct.pack("<d", r.x), r.i
            assert struct.pack("<d", r.ry) == struct.pack("<d", r.y), r.i
            assert r.same is True, r.i

    def test_geo_encoders_agree_on_nonfinite(self, con):
        """ADVICE r9: both encoders share ONE domain — NaN/Inf/denormal
        coordinates yield a NULL point from the reflect encoder and from
        geo_encode of a decoded point alike (the reflect encoder once
        serialized the non-finite bit pattern into a non-NULL WKB that
        decoded to NULL downstream)."""
        from ibis_spark import geo

        vals = [float("nan"), float("inf"), float("-inf"), 2.0**-100, 2.0**70]
        t = con.memtable(
            [(i, v) for i, v in enumerate(vals)],
            schema={"i": "int64", "x": "float64"},
        )
        rows = t.select(
            "i",
            a=geo.geo_point(t.x, t.x),
            b=self._det_point(geo, t.x, t.x),
        ).df.collect()
        for r in rows:
            assert r.a is None and r.b is None, r.i

    @staticmethod
    def _ring_wkb(pts):
        import struct

        b = struct.pack("<I", len(pts))
        for x, y in pts:
            b += struct.pack("<dd", x, y)
        return b

    @classmethod
    def _poly_wkb(cls, *rings):
        import struct

        return (
            bytes.fromhex("0103000000")
            + struct.pack("<I", len(rings))
            + b"".join(cls._ring_wkb(r) for r in rings)
        )

    def test_geo_polygon_constructor(self, con):
        """geo_polygon emits real WKB: open rings auto-close, mismatched
        or too-short rings and out-of-domain coordinates yield NULL."""
        import struct

        from ibis_spark import geo

        rows = [
            (1, [0.0, 4.0, 4.0, 0.0], [0.0, 0.0, 4.0, 4.0]),   # open square
            (2, [0.0, 4.0, 4.0, 0.0, 0.0], [0.0, 0.0, 4.0, 4.0, 0.0]),  # closed
            (3, [0.0, 1.0], [0.0, 1.0]),                        # too short
            (4, [0.0, 1.0, 2.0], [0.0, 1.0]),                   # size mismatch
            (5, [0.0, float("inf"), 2.0], [0.0, 1.0, 0.0]),     # out of domain
        ]
        t = con.memtable(
            rows,
            schema={"i": "int64", "xs": "array<float64>", "ys": "array<float64>"},
        )
        got = {
            r.i: r.p
            for r in t.select("i", p=geo.geo_polygon(t.xs, t.ys)).df.collect()
        }
        expect = self._poly_wkb([(0, 0), (4, 0), (4, 4), (0, 4), (0, 0)])
        assert bytes(got[1]) == expect
        assert bytes(got[2]) == expect
        assert got[3] is None and got[4] is None and got[5] is None
        npts = struct.unpack("<I", bytes(got[1])[9:13])[0]
        assert npts == 5

    def test_geo_contains_ray_cast(self, con):
        """Even-odd point-in-polygon: interior True, exterior False,
        point in a HOLE False, annulus True; non-polygon WKB NULL."""
        import struct

        from ibis_spark import geo

        outer = [(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)]
        hole = [(4, 4), (6, 4), (6, 6), (4, 6), (4, 4)]
        holed = self._poly_wkb(outer, hole)
        concave = self._poly_wkb(
            [(0, 0), (10, 0), (10, 10), (5, 3), (0, 10), (0, 0)]  # notched
        )
        pt_wkb = struct.pack("<BIdd", 1, 1, 5.0, 5.0)
        cases = [
            (1, holed, 2.0, 2.0, True),     # annulus
            (2, holed, 5.0, 5.0, False),    # inside hole
            (3, holed, 12.0, 5.0, False),   # outside
            (4, holed, 5.0, 1.0, True),     # annulus below hole
            (5, concave, 5.0, 6.0, False),  # inside the notch
            (6, concave, 2.0, 5.5, True),   # left lobe
            (7, concave, 8.0, 5.5, True),   # right lobe
            (8, pt_wkb, 1.0, 1.0, None),    # not a polygon -> NULL
        ]
        t = con.memtable(
            [(i, g, x, y) for i, g, x, y, _ in cases],
            schema={"i": "int64", "g": "binary", "x": "float64", "y": "float64"},
        )
        t = t.mutate(pt=geo.geo_point(t.x, t.y))
        got = {r.i: r.c for r in t.select("i", c=geo.geo_contains(t.g, t.pt)).df.collect()}
        for i, _, _, _, want in cases:
            assert got[i] is want, (i, got[i], want)

    def test_geo_contains_degenerate_ring(self, con):
        """Degenerate rings (zero area: collinear or repeated vertices)
        contain nothing, and never error."""
        from ibis_spark import geo

        flat = self._poly_wkb([(0, 0), (5, 0), (10, 0), (0, 0)])  # collinear
        point_ring = self._poly_wkb([(3, 3), (3, 3), (3, 3), (3, 3)])
        empty = self._poly_wkb()  # zero rings
        t = con.memtable(
            [(1, flat), (2, point_ring), (3, empty)],
            schema={"i": "int64", "g": "binary"},
        )
        t = t.mutate(pt=geo.geo_point(t.i.cast("float64"), t.i.cast("float64") * 0))
        rows = t.select(
            "i", c=geo.geo_contains(t.g, t.pt), a=geo.geo_area(t.g)
        ).df.collect()
        for r in rows:
            assert r.c is False, (r.i, r.c)
            assert r.a == 0.0, (r.i, r.a)

    def test_geo_area_shoelace(self, con):
        """Shoelace area: square exact, holes subtract, winding
        direction is irrelevant (PostGIS ST_Area semantics)."""
        from ibis_spark import geo

        sq = self._poly_wkb([(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)])
        sq_cw = self._poly_wkb([(0, 0), (0, 10), (10, 10), (10, 0), (0, 0)])
        holed = self._poly_wkb(
            [(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)],
            [(4, 4), (6, 4), (6, 6), (4, 6), (4, 4)],
        )
        tri = self._poly_wkb([(0, 0), (4, 0), (0, 3), (0, 0)])
        t = con.memtable(
            [(1, sq), (2, sq_cw), (3, holed), (4, tri)],
            schema={"i": "int64", "g": "binary"},
        )
        got = {r.i: r.a for r in t.select("i", a=geo.geo_area(t.g)).df.collect()}
        assert got[1] == 100.0 and got[2] == 100.0
        assert got[3] == 96.0
        assert got[4] == 6.0

    def test_geo_foreign_wkb_degrades_to_null(self, con):
        """ADVICE r9: the decode path gates on the 5-byte LE point
        header — big-endian points and non-point geometries decode to
        NULL, never to a silently-wrong finite coordinate."""
        import struct

        from ibis_spark import geo

        be_point = struct.pack(">BIdd", 0, 1, 1.5, 2.5)   # big-endian point
        linestring = struct.pack("<BI", 1, 2) + b"\x00" * 16  # LE, type 2
        good = struct.pack("<BIdd", 1, 1, 1.5, 2.5)
        t = con.memtable(
            [(1, be_point), (2, linestring), (3, good)],
            schema={"i": "int64", "g": "binary"},
        )
        got = {
            r.i: (r.x, r.y)
            for r in t.select("i", x=geo.geo_x(t.g), y=geo.geo_y(t.g)).df.collect()
        }
        assert got[1] == (None, None)
        assert got[2] == (None, None)
        assert got[3] == (1.5, 2.5)

    def test_geo_within_join_grid_matches_brute_force(self, con):
        """Grid-bucketed distance join returns exactly the brute-force
        pair set (each pair once), including boundary pairs at exactly
        d and cross-cell pairs."""
        import itertools
        import math
        import random

        from ibis_spark import geo

        rng = random.Random(5)
        lpts = [(i, rng.uniform(-50, 50), rng.uniform(-50, 50)) for i in range(40)]
        rpts = [(j, rng.uniform(-50, 50), rng.uniform(-50, 50)) for j in range(30)]
        # force an exact-boundary pair (d = 7.0, dist exactly 7.0)
        lpts.append((98, 0.0, 0.0))
        rpts.append((99, 7.0, 0.0))
        d = 7.0
        lt = con.memtable(lpts, schema={"lid": "int64", "x": "float64", "y": "float64"})
        rt = con.memtable(rpts, schema={"rid": "int64", "x": "float64", "y": "float64"})
        lt = lt.mutate(pt=geo.geo_point(lt.x, lt.y))
        rt = rt.mutate(pt=geo.geo_point(rt.x, rt.y))
        j = geo.geo_within_join(lt, rt, d)
        got = {(r.lid, r.rid) for r in j.select("lid", "rid", "dist").df.collect()}
        want = {
            (li, rj)
            for (li, lx, ly), (rj, rx, ry) in itertools.product(lpts, rpts)
            if (lx - rx) ** 2 + (ly - ry) ** 2 <= d * d
        }
        assert got == want
        assert (98, 99) in got  # inclusive boundary
        # each pair exactly once (no dedup pass needed by construction)
        rows = j.select("lid", "rid").df.collect()
        assert len(rows) == len(got)

    def test_geo_cluster_chain_and_blobs(self, con):
        """Single-linkage clustering: a chain of points spaced under d
        collapses to ONE cluster (pointer jumping — plain label
        propagation would need n rounds), blobs cluster separately, and
        isolated points are singletons labeled by themselves."""
        from ibis_spark import geo

        pts = []
        # chain: 0..19 spaced 1.0 apart (d=1.5 -> one cluster, diameter 20)
        pts += [(i, float(i), 0.0) for i in range(20)]
        # blob far away: 100..102 within 0.1
        pts += [(100 + k, 500.0 + k * 0.1, 9.0) for k in range(3)]
        # isolated point
        pts.append((999, -400.0, -40.0))
        t = con.memtable(pts, schema={"pid": "int64", "x": "float64", "y": "float64"})
        t = t.mutate(pt=geo.geo_point(t.x, t.y))
        got = {
            r.pid: r.cluster
            for r in geo.geo_cluster(t, "pid", 1.5).df.collect()
        }
        assert len(got) == 24
        assert all(got[i] == 0 for i in range(20))          # whole chain -> 0
        assert all(got[100 + k] == 100 for k in range(3))   # blob -> 100
        assert got[999] == 999                              # singleton

    def test_geo_cluster_dbscan_matches_brute_force(self, con):
        """min_pts>1 DBSCAN semantics vs a brute-force reference:
        core/border/noise assignment and component labels must agree
        exactly (border ties -> smallest core cluster label)."""
        import itertools
        import random

        from ibis_spark import geo

        rng = random.Random(13)
        pts = [(i, rng.uniform(0, 30), rng.uniform(0, 30)) for i in range(60)]
        d, mp = 3.0, 3

        def within(a, b):
            return (a[1] - b[1]) ** 2 + (a[2] - b[2]) ** 2 <= d * d

        nbrs = {p[0]: [q[0] for q in pts if within(p, q)] for p in pts}
        cores = {i for i, ns in nbrs.items() if len(ns) >= mp}
        # components over core-core edges (min-label fixpoint)
        label = {c: c for c in cores}
        changed = True
        while changed:
            changed = False
            for a, b in itertools.combinations(sorted(cores), 2):
                pa, pb = pts[a], pts[b]
                if within(pa, pb):
                    m = min(label[a], label[b])
                    if label[a] != m or label[b] != m:
                        label[a] = label[b] = m
                        changed = True
        want = {}
        for i, _, _ in pts:
            core_ns = [label[n] for n in nbrs[i] if n in cores]
            want[i] = min(core_ns) if core_ns else None

        t = con.memtable(pts, schema={"pid": "int64", "x": "float64", "y": "float64"})
        t = t.mutate(pt=geo.geo_point(t.x, t.y))
        got = {
            r.pid: r.cluster
            for r in geo.geo_cluster(t, "pid", d, min_pts=mp).df.collect()
        }
        assert got == want
        assert any(v is None for v in got.values())  # real noise present

    def test_geo_null_propagation(self, con):
        from ibis_spark import geo

        t = con.memtable(
            [(None, 1.0), (2.0, None), (3.0, 4.0)],
            schema={"x": "float64", "y": "float64"},
        )
        t = t.mutate(pt=geo.geo_point(t.x, t.y))
        rows = t.select(gx=geo.geo_x(t.pt), gy=geo.geo_y(t.pt)).df.collect()
        vals = [(r.gx, r.gy) for r in rows]
        assert (3.0, 4.0) in vals
        assert sum(1 for v in vals if v == (None, None)) == 2


class TestRepetition:
    def test_repetition_score_values(self, con):
        t = con.memtable(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "spam spam spam spam",      # bigrams: 3x "spam spam" -> 2/3 dup
                    "all words here differ",    # no duplicate bigrams
                    "one",                      # single token -> 0
                ],
            }
        )
        out = {
            r.doc_id: r.rep
            for r in t.select(
                "doc_id", rep=pl.repetition_score(t.text, n=2)
            ).df.collect()
        }
        assert out[1] == round(1 - 1 / 3, 4)  # score rounds to 4 decimals
        assert out[2] == 0.0
        assert out[3] == 0.0

    def test_repetition_scan_only_plan(self, con):
        t = con.memtable({"doc_id": [1], "text": ["a b c"]})
        plan = t.select(r=pl.repetition_score(t.text)).explain("formatted")
        assert "Exchange" not in plan and "EvalPython" not in plan


class TestWinnowing:
    def test_shared_text_shares_fingerprints(self, con):
        shared = "the quick brown fox jumps over the lazy dog again and again"
        t = con.memtable(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "prefix one " + shared,
                    shared + " suffix two",   # same text, different position
                    "entirely unrelated words compose this third document here",
                ],
            }
        )
        out = pl.winnow_fingerprint(t, "text", "doc_id").df.collect()
        fps = {i: set() for i in (1, 2, 3)}
        for r in out:
            fps[r.doc_id].add(r.fp)
        overlap_12 = len(fps[1] & fps[2]) / min(len(fps[1]), len(fps[2]))
        overlap_13 = len(fps[1] & fps[3]) / min(len(fps[1]), len(fps[3]))
        assert overlap_12 > 0.5      # position-independent shared members
        assert overlap_13 < 0.1
        # deterministic plain arithmetic: same text -> same members
        again = pl.winnow_fingerprint(t, "text", "doc_id").df.collect()
        assert {(r.doc_id, r.fp) for r in again} == {
            (r.doc_id, r.fp) for r in out
        }

    def test_winnow_plan_no_python_single_doc_exchange(self, con):
        t = con.memtable({"doc_id": [1], "text": ["abcdefghij"]})
        plan = pl.winnow_fingerprint(t, "text", "doc_id").explain("formatted")
        assert "EvalPython" not in plan
        assert "CartesianProduct" not in plan
        assert "hashpartitioning(doc_id" in plan  # doc-keyed window, no global sort


class TestPretokenize:
    def test_gpt2_style_stream(self, con):
        t = con.memtable({"text": ["Hello world, it's 2026!  ok"]})
        toks = t.select(x=pl.pretokenize(t.text)).df.collect()[0].x
        assert list(toks) == [
            "Hello", " world", ",", " it", "'s", " 2026", "!", "  ", "ok"
        ]
        n = t.select(
            n_pre=pl.pretoken_count(t.text)
        ).df.collect()[0].n_pre
        assert n == 8  # whitespace-run token excluded

    def test_pretokenize_scan_only(self, con):
        t = con.memtable({"text": ["a b"]})
        plan = t.select(x=pl.pretoken_count(t.text)).explain("formatted")
        assert "Exchange" not in plan and "EvalPython" not in plan


class TestRound7PipelineFixes:
    def test_quality_score_counts_uppercase(self, con):
        # alphabetic ratio is case-insensitive: "ABC" == "abc"
        t = con.memtable({"doc_id": [1, 2], "text": ["ABC DEF", "abc def"]})
        got = {r.doc_id: r.q for r in t.select("doc_id", q=pl.quality_score(t.text)).df.collect()}
        assert got[1] == got[2]

    def test_ivf_centroids_skips_null_and_ragged_vectors(self, con):
        t = con.memtable(
            {
                "vec_id": [1, 2, 3, 4, 5],
                "embedding": [
                    [1.0, 0.0],
                    [0.0, 1.0],
                    None,          # null vector
                    [1.0, None],   # null element
                    [2.0, 2.0],
                ],
            }
        )
        cents = pl.ivf_centroids(t, n_centroids=2, iters=2)
        assert len(cents) == 2
        assert all(len(c) == 2 for c in cents)
        assert all(v is not None for c in cents for v in c)

    def test_ivf_centroids_all_null_raises(self, con):
        t = con.memtable({"vec_id": [1], "embedding": [None]})
        with pytest.raises(ValueError, match="no non-null vectors"):
            pl.ivf_centroids(t, n_centroids=2)


class TestAnnRecall:
    def _numpy_recall(self, X, C, Q, qids, k, n_probe):
        # independent reference: same tie rules (dist ties -> smaller
        # centroid idx; sim ties -> smaller vec_id)
        import numpy as np

        d2 = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        cluster = d2.argmin(axis=1)  # argmin ties -> first (smaller idx)
        out = {}
        for qi, q in zip(qids, Q):
            qd2 = ((C - q) ** 2).sum(axis=1)
            probes = set(np.argsort(qd2, kind="stable")[:n_probe].tolist())
            sim = (X @ q) / (np.linalg.norm(X, axis=1) * np.linalg.norm(q))
            order = np.lexsort((np.arange(len(X)), -sim))
            brute = set(order[:k].tolist())
            cand_order = [i for i in order if cluster[i] in probes]
            var = set(cand_order[:k])
            out[qi] = len(brute & var) / k
        return out

    def test_matches_numpy_reference(self, con):
        import numpy as np

        rng = np.random.default_rng(7)
        X = rng.normal(size=(200, 8)).round(3)  # rounding kills float-tie risk
        C = X[:4].copy()
        Q = X[50:53].copy()
        qids = [50, 51, 52]
        t = con.memtable(
            {"vec_id": list(range(200)), "embedding": [list(map(float, r)) for r in X]}
        )
        qs = con.memtable(
            {"q_id": qids, "qvec": [list(map(float, r)) for r in Q]}
        )
        got = {
            r.q_id: r.recall
            for r in pl.ann_recall(
                t, qs, 10, centroids=[list(map(float, c)) for c in C], n_probe=2
            ).df.collect()
        }
        want = self._numpy_recall(X, C, Q, qids, 10, 2)
        assert got == want
        assert any(v < 1.0 for v in got.values())  # pruning really prunes

    def test_planted_clusters_full_recall(self, con):
        # vectors planted in tight clusters around orthogonal axes: probing
        # the query's own cluster must find every true neighbor
        import numpy as np

        rng = np.random.default_rng(11)
        dim, per = 6, 30
        rows, ids = [], []
        for c in range(3):
            center = np.zeros(dim); center[c] = 10.0
            pts = center + rng.normal(scale=0.05, size=(per, dim))
            rows += [list(map(float, p)) for p in pts]
            ids += [c * per + i for i in range(per)]
        t = con.memtable({"vec_id": ids, "embedding": rows})
        cents = [rows[0], rows[per], rows[2 * per]]
        qs = con.memtable({"q_id": [0, 1], "qvec": [rows[5], rows[per + 5]]})
        got = {
            r.q_id: r.recall
            for r in pl.ann_recall(t, qs, 10, centroids=cents, n_probe=1).df.collect()
        }
        assert got == {0: 1.0, 1: 1.0}

    def test_exhaustive_probe_rejected(self, con):
        t = con.memtable({"vec_id": [1], "embedding": [[1.0, 0.0]]})
        qs = con.memtable({"q_id": [1], "qvec": [[1.0, 0.0]]})
        with pytest.raises(ValueError, match="n_probe"):
            pl.ann_recall(t, qs, 1, centroids=[[1.0, 0.0], [0.0, 1.0]], n_probe=2)


class TestBpeEncode:
    MERGES = [
        ("t", "h"), ("th", "e"), ("i", "n"), ("e", "r"), ("o", "n"),
        ("a", "n"), ("an", "d"), (" ", "t"), (" t", "h"), (" th", "e"),
    ]

    def test_hand_computed(self, con):
        t = con.memtable({"doc_id": [1, 2, 3, 4],
                          "text": ["the thin thread", "in and on", "aaa", ""]})
        got = {r.doc_id: r.toks
               for r in t.select("doc_id", toks=pl.bpe_encode(t.text, self.MERGES)).df.collect()}
        # "the" -> th+e -> the; " thin": (t,h) outranks (' ',t) -> [' ', th, in]
        assert got[1] == ["the", " ", "th", "in", " ", "th", "r", "e", "a", "d"]
        assert got[2] == ["in", " ", "and", " ", "on"]
        assert got[3] == ["a", "a", "a"]  # no (a,a) rule: chars stay
        assert got[4] == []

    def test_consecutive_pair_runs_merge_in_one_pass(self, con):
        # the shared-boundary case the double-separator encoding exists
        # for: [t,h,t,h,...] must ALL merge, and (th,e) must then apply
        t = con.memtable({"doc_id": [1], "text": ["thththe"]})
        got = t.select(toks=pl.bpe_encode(t.text, self.MERGES)).df.collect()[0].toks
        assert got == ["th", "th", "the"]

    def test_no_merge_across_pretokens(self, con):
        # "t h" pretokenizes to ['t', ' h'] (wait: ' h') — rule (t,h)
        # must not fire across the boundary; punctuation split likewise
        t = con.memtable({"doc_id": [1, 2], "text": ["t h", "t,h"]})
        got = {r.doc_id: r.toks
               for r in t.select("doc_id", toks=pl.bpe_encode(t.text, self.MERGES)).df.collect()}
        assert "th" not in got[1] and "th" not in got[2]

    def test_udf_path_equivalent(self, con, monkeypatch):
        texts = ["the thin thread", "in and on", "ttthhh", "a,b.c!d",
                 "  double  spaces  ", "don't", "123 456", "thethethe"]
        t = con.memtable({"doc_id": list(range(len(texts))), "text": texts})
        jvm = {r.doc_id: r.toks
               for r in t.select("doc_id", toks=pl.bpe_encode(t.text, self.MERGES)).df.collect()}
        monkeypatch.setattr(pl, "_BPE_UDF_THRESHOLD", 0)
        udf = {r.doc_id: r.toks
               for r in t.select("doc_id", toks=pl.bpe_encode(t.text, self.MERGES)).df.collect()}
        assert jvm == udf

    def test_malformed_merges_rejected(self, con):
        t = con.memtable({"doc_id": [1], "text": ["x"]})
        with pytest.raises(ValueError, match="earlier rule"):
            pl.bpe_encode(t.text, [("a", "bc")])
        with pytest.raises(ValueError, match="separator"):
            pl.bpe_encode(t.text, [("a", "\x01")])


class TestSamplingSplitting:
    def test_hash_sample_deterministic_and_proportional(self, con):
        t = con.memtable({"k": list(range(2000))})
        a = sorted(r.k for r in pl.hash_sample(t, 0.25, "k", salt="x").df.collect())
        b = sorted(r.k for r in pl.hash_sample(t, 0.25, "k", salt="x").df.collect())
        assert a == b                      # rerun-stable
        assert 0.2 < len(a) / 2000 < 0.3   # ~fraction
        c = sorted(r.k for r in pl.hash_sample(t, 0.25, "k", salt="y").df.collect())
        assert a != c                      # salt varies membership

    def test_hash_sample_subset_monotone(self, con):
        # a smaller fraction is a strict subset of a larger one (same salt)
        t = con.memtable({"k": list(range(500))})
        small = {r.k for r in pl.hash_sample(t, 0.1, "k").df.collect()}
        big = {r.k for r in pl.hash_sample(t, 0.5, "k").df.collect()}
        assert small <= big

    def test_hash_sample_edges(self, con):
        t = con.memtable({"k": [1, 2, 3]})
        assert pl.hash_sample(t, 1.0, "k").df.count() == 3
        assert pl.hash_sample(t, 0.0, "k").df.count() == 0
        with pytest.raises(ValueError, match="fraction"):
            pl.hash_sample(t, 1.5, "k")

    def test_hash_split_partitions_everything(self, con):
        t = con.memtable({"k": list(range(1000))})
        out = pl.hash_split(t, "k", {"train": 8, "valid": 1, "test": 1})
        counts = {r.split: r.n for r in
                  out.df.groupBy("split").count().withColumnRenamed("count", "n").collect()}
        assert sum(counts.values()) == 1000
        assert counts["train"] > counts["valid"] and counts["train"] > counts["test"]
        assert 0.7 < counts["train"] / 1000 < 0.9

    def test_hash_split_agrees_with_sample(self, con):
        # the first split band IS hash_sample at the same cumulative
        # fraction and salt — the two primitives compose
        t = con.memtable({"k": list(range(500))})
        split = pl.hash_split(t, "k", {"a": 0.3, "b": 0.7}, salt="z")
        train = {r.k for r in split.df.filter("split = 'a'").collect()}
        sample = {r.k for r in pl.hash_sample(t, 0.3, "k", salt="z").df.collect()}
        assert train == sample


class TestChunkText:
    def test_hand_computed_overlap(self, con):
        text = " ".join(str(i) for i in range(10))  # tokens 0..9
        t = con.memtable({"doc_id": [1], "text": [text]})
        out = pl.chunk_text(t, "text", max_tokens=4, overlap=1)
        got = {r.chunk_idx: r.chunk for r in out.df.collect()}
        # step=3: starts 0,3,6,9
        assert got == {0: "0 1 2 3", 1: "3 4 5 6", 2: "6 7 8 9", 3: "9"}

    def test_no_overlap_and_empty(self, con):
        t = con.memtable({"doc_id": [1, 2], "text": ["a b c d", ""]})
        out = pl.chunk_text(t, "text", max_tokens=2)
        got = sorted((r.doc_id, r.chunk_idx, r.chunk) for r in out.df.collect())
        assert got == [(1, 0, "a b"), (1, 1, "c d"), (2, 0, "")]

    def test_validation(self, con):
        t = con.memtable({"doc_id": [1], "text": ["x"]})
        with pytest.raises(ValueError, match="overlap"):
            pl.chunk_text(t, "text", max_tokens=4, overlap=4)
        with pytest.raises(ValueError, match="max_tokens"):
            pl.chunk_text(t, "text", max_tokens=0)


class TestRedact:
    def test_kinds(self, con):
        t = con.memtable({"doc_id": [1], "text":
            ["mail a.b+c@foo.co.uk or https://x.io/p?q=1 call +1 (555) 010-1234 done"]})
        got = t.select(r=pl.redact(t.text)).df.collect()[0].r
        assert "[EMAIL]" in got and "[URL]" in got and "[PHONE]" in got
        assert "@" not in got and "http" not in got and "555" not in got

    def test_url_swallows_embedded_email_first(self, con):
        t = con.memtable({"doc_id": [1], "text": ["see https://x.io/a@b.com rest"]})
        got = t.select(r=pl.redact(t.text)).df.collect()[0].r
        assert got == "see [URL] rest"

    def test_unknown_kind(self, con):
        t = con.memtable({"doc_id": [1], "text": ["x"]})
        with pytest.raises(ValueError, match="unknown redact kind"):
            pl.redact(t.text, kinds=("ssn",))


class TestChunkTextProperties:
    def test_nonoverlapping_chunks_reconstruct_document(self, con):
        # property: with overlap=0, joining the chunks in index order
        # restores the exact token stream for every document
        texts = ["alpha beta gamma delta epsilon zeta eta theta iota",
                 "one two", "single", ""]
        t = con.memtable({"doc_id": list(range(len(texts))), "text": texts})
        out = pl.chunk_text(t, "text", max_tokens=3)
        rows = sorted((r.doc_id, r.chunk_idx, r.chunk) for r in out.df.collect())
        rebuilt = {}
        for did, _, chunk in rows:
            rebuilt[did] = (rebuilt.get(did, "") + " " + chunk).strip()
        assert rebuilt == {i: texts[i] for i in range(len(texts))}

    def test_overlap_chunks_cover_all_tokens(self, con):
        text = " ".join(f"w{i}" for i in range(100))
        t = con.memtable({"doc_id": [1], "text": [text]})
        out = pl.chunk_text(t, "text", max_tokens=16, overlap=4)
        toks = set()
        for r in out.df.collect():
            toks.update(r.chunk.split(" "))
        assert toks == {f"w{i}" for i in range(100)}


class TestAnnRecallLsh:
    def test_matches_numpy_reference(self, con):
        import numpy as np

        from ibis_spark.pipeline import _hyperplanes

        rng = np.random.default_rng(3)
        X = rng.normal(size=(150, 8)).round(3)
        Q = X[40:43]
        qids = [40, 41, 42]
        n_planes, seed, k = 3, 42, 10
        t = con.memtable({"vec_id": list(range(150)),
                          "embedding": [list(map(float, r)) for r in X]})
        qs = con.memtable({"q_id": qids, "qvec": [list(map(float, r)) for r in Q]})
        got = {r.q_id: r.recall
               for r in pl.ann_recall(t, qs, k, method="lsh", dim=8,
                                      n_planes=n_planes, seed=seed).df.collect()}
        planes = _hyperplanes(8, n_planes, seed)
        bits = (X @ planes.T >= 0)
        want = {}
        for qi, q in zip(qids, Q):
            qbits = (planes @ q >= 0)
            cand = (bits == qbits).all(axis=1)
            sim = (X @ q) / (np.linalg.norm(X, axis=1) * np.linalg.norm(q))
            order = np.lexsort((np.arange(len(X)), -sim))
            brute = set(order[:k].tolist())
            var = set([i for i in order if cand[i]][:k])
            want[qi] = len(brute & var) / k
        assert got == want

    def test_lsh_requires_dim(self, con):
        t = con.memtable({"vec_id": [1], "embedding": [[1.0, 0.0]]})
        qs = con.memtable({"q_id": [1], "qvec": [[1.0, 0.0]]})
        with pytest.raises(ValueError, match="dim"):
            pl.ann_recall(t, qs, 1, method="lsh")
        with pytest.raises(ValueError, match="method"):
            pl.ann_recall(t, qs, 1, method="exact")
        with pytest.raises(ValueError, match="centroids"):
            pl.ann_recall(t, qs, 1, method="ivf")


class TestCorpusStats:
    def test_top_ngrams_hand_computed(self, con):
        t = con.memtable({"doc_id": [1, 2, 3],
                          "text": ["a b a b", "a b c", "x"]})
        out = pl.top_ngrams(t, "text", n=2, k=3)
        got = [(r.ngram, r.cnt) for r in out.df.collect()]
        # bigrams: doc1: "a b","b a","a b"; doc2: "a b","b c"; doc3: none
        assert got == [("a b", 3), ("b a", 1), ("b c", 1)]

    def test_short_docs_yield_no_ngrams(self, con):
        # the sequence(1,0)-descending trap: <n tokens must contribute 0
        t = con.memtable({"doc_id": [1, 2], "text": ["solo", ""]})
        assert pl.top_ngrams(t, "text", n=2, k=5).df.count() == 0

    def test_tfidf_hand_computed(self, con):
        import math

        t = con.memtable({"doc_id": [1, 2], "text": ["a a b", "b c"]})
        out = pl.tfidf(t, "text", "doc_id")
        got = {(r.doc_id, r.term): (r.tf, r.df, r.tfidf) for r in out.df.collect()}
        # det-ln emission (r8): raw doubles within 1e-7 of true ln
        assert got[(1, "a")][:2] == (2, 1)
        assert abs(got[(1, "a")][2] - 2 * math.log(2 / 1)) < 1e-7
        assert got[(1, "b")] == (1, 2, 0.0)   # ln(2) - ln(2) = exactly 0
        assert got[(2, "c")][:2] == (1, 1)
        assert abs(got[(2, "c")][2] - math.log(2.0)) < 1e-7
        assert len(got) == 4


class TestBpeDifferentialFuzz:
    def test_random_wellformed_merge_lists(self, con, monkeypatch):
        # the JVM separator-replace chain and the Python min-rank loop are
        # INDEPENDENT implementations of BPE — agreement over random
        # well-formed merge lists and random texts is a real differential
        import random

        for seed in range(4):
            rng = random.Random(seed)
            alphabet = list("abcdet ")
            produced = []
            merges = []
            for _ in range(12):
                pool = alphabet + produced
                a, b = rng.choice(pool), rng.choice(pool)
                if "\x01" in a + b:
                    continue
                merges.append((a, b))
                produced.append(a + b)
            texts = [
                "".join(rng.choice("abcdet  ") for _ in range(rng.randint(0, 60)))
                for _ in range(25)
            ]
            t = con.memtable({"doc_id": list(range(len(texts))), "text": texts})
            jvm = {r.doc_id: r.toks for r in
                   t.select("doc_id", toks=pl.bpe_encode(t.text, merges)).df.collect()}
            with monkeypatch.context() as mp:
                mp.setattr(pl, "_BPE_UDF_THRESHOLD", 0)
                udf = {r.doc_id: r.toks for r in
                       t.select("doc_id", toks=pl.bpe_encode(t.text, merges)).df.collect()}
            assert jvm == udf, f"seed {seed}: paths diverge"


class TestSessionize:
    def test_hand_computed_numeric_gap(self, con):
        t = con.memtable({
            "ev": [1, 2, 3, 4, 5, 6],
            "u": ["a", "a", "a", "a", "b", "b"],
            "t": [0, 10, 100, 105, 0, 500],
        })
        out = pl.sessionize(t, "t", "u", 50)
        got = {r.ev: r.session_id for r in out.df.collect()}
        # user a: 0,10 (s0) | 100,105 (s1); user b: 0 (s0) | 500 (s1)
        assert got == {1: 0, 2: 0, 3: 1, 4: 1, 5: 0, 6: 1}

    def test_timedelta_gap_and_single_shuffle(self, con):
        import datetime

        base = datetime.datetime(2024, 1, 1)
        t = con.memtable({
            "ev": [1, 2, 3],
            "u": ["x", "x", "x"],
            "ts": [base, base + datetime.timedelta(minutes=10),
                   base + datetime.timedelta(hours=2)],
        })
        out = pl.sessionize(t, "ts", "u", datetime.timedelta(minutes=30))
        got = {r.ev: r.session_id for r in out.df.collect()}
        assert got == {1: 0, 2: 0, 3: 1}
        plan = out.df._jdf.queryExecution().executedPlan().toString()
        # AQE's toString repeats the tree under "== Initial Plan ==" —
        # count exchanges in the final section only
        plan = plan.split("== Initial Plan ==")[0]
        import re
        assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


class TestCorpusCleaning:
    """Round-7 corpus-level cleaning ops: line dedup, Gopher rules,
    quota sampling, decontamination, connected components."""

    def test_line_dedup_keeps_first_occurrence_and_order(self, con):
        t = con.memtable(
            {
                "doc_id": [1, 2],
                "text": ["alpha\nshared line\nomega", "shared line\nunique"],
            }
        )
        out = {r.doc_id: r.text for r in pl.line_dedup(t, "text", "doc_id").df.collect()}
        # doc 1 owns the first occurrence (lower doc_id); doc 2 loses it
        assert out[1] == "alpha\nshared line\nomega"
        assert out[2] == "unique"

    def test_line_dedup_min_len_exempts_short_lines(self, con):
        t = con.memtable({"doc_id": [1, 2], "text": ["x\nlong shared line", "x\nlong shared line"]})
        out = {r.doc_id: r.text for r in pl.line_dedup(t, "text", "doc_id", min_len=3).df.collect()}
        assert out[1] == "x\nlong shared line"
        assert out[2] == "x"  # short line exempt, long one deduped

    def test_line_dedup_regex_metachar_separator(self, con):
        # sep is a literal, not a regex — '.' must not match every char
        t = con.memtable({"doc_id": [1], "text": ["a.b"]})
        out = pl.line_dedup(t, "text", "doc_id", sep=".").df.collect()
        assert out[0].text == "a.b"

    def test_gopher_filter_rules(self, con):
        good = ("the quick brown fox and that dog have fun with words " * 6).strip()
        short = "too short"
        no_stop = "alpha beta gamma delta epsilon zeta " * 10
        symbols = ("the and of to #tag " * 12).strip()
        t = con.memtable(
            {"doc_id": [1, 2, 3, 4], "text": [good, short, no_stop, symbols]}
        )
        out = {r.doc_id: r for r in pl.gopher_filter(t, "text").df.collect()}
        assert out[1].gopher_pass
        assert not out[2].ok_words
        assert not out[3].ok_stopwords
        assert not out[4].ok_symbol_ratio
        # filter mode keeps exactly the passing rows, flags dropped
        kept = pl.gopher_filter(t, "text", mode="filter")
        assert [r.doc_id for r in kept.df.collect()] == [1]
        assert "gopher_pass" not in kept.columns

    def test_domain_quota_sample_deterministic_and_monotone(self, con):
        rows = {"d": [f"dom{i % 3}" for i in range(60)], "k": list(range(60))}
        t = con.memtable(rows)
        s5 = {r.k for r in pl.domain_quota_sample(t, "d", 5, "k").df.collect()}
        s5b = {r.k for r in pl.domain_quota_sample(t, "d", 5, "k").df.collect()}
        s9 = {r.k for r in pl.domain_quota_sample(t, "d", 9, "k").df.collect()}
        assert len(s5) == 15 and s5 == s5b  # 3 domains x 5, reproducible
        assert s5 < s9  # raising the quota only adds rows
        # different salt, different (but valid) sample
        salted = {r.k for r in pl.domain_quota_sample(t, "d", 5, "k", salt="z").df.collect()}
        assert len(salted) == 15 and salted != s5

    def test_decontaminate_flags_overlap(self, con):
        bench = con.memtable({"doc_id": [100], "text": ["secret eval question about the meaning of life here"]})
        leak = "padding words " * 3 + "secret eval question about the meaning of life here and more"
        clean = "totally unrelated training document with plenty of words in it"
        t = con.memtable({"doc_id": [1, 2], "text": [leak, clean]})
        out = {r.doc_id: r.contaminated for r in pl.decontaminate(t, bench, "text", "doc_id", n=8).df.collect()}
        assert out == {1: True, 2: False}
        kept = pl.decontaminate(t, bench, "text", "doc_id", n=8, mode="filter")
        assert [r.doc_id for r in kept.df.collect()] == [2]

    def test_connected_components_multi_hop(self, con):
        # chain 1-2-3 merges transitively; 8-9 separate; self-loop ignored
        e = con.memtable({"a": [2, 3, 9, 5], "b": [1, 2, 8, 5]})
        out = {r.id: r.component for r in pl.connected_components(e, "a", "b").df.collect()}
        assert out == {1: 1, 2: 1, 3: 1, 8: 8, 9: 8}

    def test_connected_components_max_iter_raises(self, con):
        e = con.memtable({"a": [1, 2, 3, 4], "b": [2, 3, 4, 5]})
        with pytest.raises(RuntimeError, match="converge"):
            pl.connected_components(e, "a", "b", max_iter=1)

    def test_connected_components_isolated_nodes(self, con):
        # nodes= contract (r8): degree-0 vertices appear as singletons
        e = con.memtable({"a": [2], "b": [1]})
        nodes = con.memtable({"id": [1, 2, 7, 9]})
        out = {r.id: r.component
               for r in pl.connected_components(e, "a", "b", nodes=nodes).df.collect()}
        assert out == {1: 1, 2: 1, 7: 7, 9: 9}

    def test_pagerank_isolated_nodes(self, con):
        # nodes= contract (r8): degree-0 vertices enter N and settle at
        # (1-d)/N; without nodes= they are absent and N is smaller
        e = con.memtable({"s": [1], "d": [2]})
        nodes = con.memtable({"id": [1, 2, 3, 4]})
        out = {r.id: r.rank
               for r in pl.pagerank(e, "s", "d", iters=3, nodes=nodes).df.collect()}
        assert set(out) == {1, 2, 3, 4}
        base = (1 - 0.85) / 4
        assert abs(out[3] - base) < 1e-12 and abs(out[4] - base) < 1e-12
        # node 1 is dangling-source: also settles at base; node 2 receives
        assert abs(out[1] - base) < 1e-12
        assert out[2] > base

    def test_dedup_clusters_transitive_merge(self, con):
        base = "the quick brown fox jumps over the lazy dog " * 8
        near1 = base.replace("lazy", "sleepy")
        near2 = base.replace("quick", "swift")
        other = "completely different content about spark engines " * 8
        t = con.memtable(
            {"doc_id": [4, 2, 3, 9], "text": [base, near1, near2, other]}
        )
        out = {r.doc_id: (r.cluster_id, r.is_dup) for r in
               pl.dedup_clusters(t, "text", "doc_id", threshold=0.5).df.collect()}
        # near1/near2 are both ~0.7 similar to base; even if they are not
        # direct candidates of each other, the component merges all three
        assert out[2] == (2, False)  # smallest id is the representative
        assert out[4] == (2, True)
        assert out[3] == (2, True)
        assert out[9] == (9, False)

    def test_mixture_sample_respects_fractions(self, con):
        rows = {"d": ["a"] * 400 + ["b"] * 400 + ["c"] * 200, "k": list(range(1000))}
        t = con.memtable(rows)
        out = pl.mixture_sample(t, "d", {"a": 1.0, "b": 0.25}, "k")
        got = out.df.groupBy("d").count().collect()
        by = {r.d: r["count"] for r in got}
        assert by["a"] == 400          # fraction 1.0 keeps everything
        assert 60 <= by.get("b", 0) <= 140  # ~100 of 400
        assert "c" not in by           # unlisted domains default to 0
        # monotone: raising b's fraction only adds rows
        small = {r.k for r in pl.mixture_sample(t, "d", {"b": 0.25}, "k").df.collect()}
        big = {r.k for r in pl.mixture_sample(t, "d", {"b": 0.5}, "k").df.collect()}
        assert small <= big

    def test_ngram_lm_score_hand_computed(self, con):
        import math

        t = con.memtable({"doc_id": [1, 2, 3], "text": ["a a a", "a b", "x"]})
        # C(a,a)=2 C(a,b)=1 C(a)=4 C(b)=1 V=3; P(a|a)=(2+1)/(4+3)
        out = {r.doc_id: r for r in pl.ngram_lm_score(t, "text", "doc_id").df.collect()}
        p_aa = 3 / 7
        p_ab = 2 / 7
        assert out[1].n_bigrams == 2
        # det-ln/exp emission (r8): raw doubles within 1e-7 of true values
        assert abs(out[1].avg_nll - -math.log(p_aa)) < 1e-7
        assert abs(out[1].ppl - 1 / p_aa) < 1e-6
        assert abs(out[2].avg_nll - -math.log(p_ab)) < 1e-7
        # single-token doc: no bigrams, NULL scores
        assert out[3].n_bigrams == 0 and out[3].avg_nll is None

    def test_funnel_order_and_ties(self, con):
        rows = [
            # user 1: full funnel, with an early purchase that must NOT count
            (1, 1.0, "purchase"), (1, 2.0, "view"), (1, 3.0, "click"), (1, 4.0, "purchase"),
            # user 2: click before any view — depth 0
            (2, 1.0, "click"), (2, 2.0, "signup"),
            # user 3: same-instant view+click: later stage counts at the tie
            (3, 5.0, "view"), (3, 5.0, "click"),
            # user 4: view only
            (4, 9.0, "view"),
        ]
        t = con.memtable(
            {
                "user_id": [r[0] for r in rows],
                "ts": [r[1] for r in rows],
                "event_type": [r[2] for r in rows],
            }
        )
        out = {r.user_id: r for r in pl.funnel(t, "ts", "user_id", ["view", "click", "purchase"]).df.collect()}
        assert (out[1].depth, out[1].t_view, out[1].t_click, out[1].t_purchase) == (3, 2.0, 3.0, 4.0)
        assert (out[2].depth, out[2].t_view) == (0, None)
        assert (out[3].depth, out[3].t_view, out[3].t_click) == (2, 5.0, 5.0)
        assert (out[4].depth, out[4].t_click) == (1, None)
        # user with no funnel events at all is absent
        assert set(out) == {1, 2, 3, 4}

    def test_retention_week_cohorts(self, con):
        import datetime as dt

        def d(day):
            return dt.datetime(2024, 1, day)

        rows = [
            # u1 first active week of Jan 1 (Mon), returns weeks 0, 1, 3
            (1, d(2)), (1, d(3)), (1, d(8)), (1, d(23)),
            # u2 first active week of Jan 8, returns week 1
            (2, d(10)), (2, d(16)),
        ]
        t = con.memtable({"user_id": [r[0] for r in rows], "ts": [r[1] for r in rows]})
        out = {(r.cohort.date(), r.offset): r.n_active
               for r in pl.retention(t, "ts", "user_id", period="week").df.collect()}
        w1, w2 = dt.date(2024, 1, 1), dt.date(2024, 1, 8)
        assert out == {(w1, 0): 1, (w1, 1): 1, (w1, 3): 1, (w2, 0): 1, (w2, 1): 1}

    def test_embedding_clusters_transitive_merge(self, con):
        # b is 0.99+ similar to a and to c, but a and c are farther apart:
        # the component still merges all three through b
        import math

        def unit(theta):
            return [math.cos(theta), math.sin(theta)] + [0.0] * 6

        eps = 0.08  # cos(0.08) ~ 0.9968 ; cos(0.16) ~ 0.9872 < 0.995
        t = con.memtable(
            {
                "vec_id": [10, 11, 12, 99],
                "embedding": [unit(0.0), unit(eps), unit(2 * eps), unit(1.2)],
            }
        )
        out = {r.vec_id: (r.cluster_id, r.is_dup) for r in
               pl.embedding_clusters(t, "embedding", "vec_id", threshold=0.995,
                                     dim=8, bands=8, n_planes=4).df.collect()}
        assert out[10] == (10, False)
        assert out[11] == (10, True)
        assert out[12] == (10, True)  # merged via 11 despite cos(10,12) < 0.995
        assert out[99] == (99, False)

    def test_bpe_encode_udf_path_strips_separator_like_jvm(self, con, monkeypatch):
        # the reserved \x01 separator in input text must not change tokens,
        # and both the JVM path and the >threshold pandas-UDF path must agree
        t = con.memtable({"doc_id": [1], "text": ["a\x01b cd"]})
        merges = [("a", "b"), ("c", "d")]
        jvm = t.select(out=pl.bpe_encode(t.text, merges)).df.collect()[0].out
        monkeypatch.setattr(pl, "_BPE_UDF_THRESHOLD", 1)
        udf = t.select(out=pl.bpe_encode(t.text, merges)).df.collect()[0].out
        assert jvm == udf  # the two paths must stay token-identical
        assert "\x01" not in "".join(jvm)

    def test_connected_components_pointer_jumping_halves_depth(self, con):
        # a 120-node chain: label propagation needs ~120 rounds (raises at
        # max_iter=12), pointer jumping converges within 12
        n = 120
        e = con.memtable({"a": list(range(n - 1)), "b": list(range(1, n))})
        with pytest.raises(RuntimeError, match="converge"):
            pl.connected_components(e, "a", "b", max_iter=12)
        out = {r.id: r.component
               for r in pl.connected_components(e, "a", "b", max_iter=12,
                                                algorithm="pointer").df.collect()}
        assert set(out.values()) == {0} and len(out) == n

    def test_remove_duplicated_spans(self, con):
        boiler = "this exact boilerplate phrase repeats in many documents verbatim"
        t = con.memtable(
            {
                "doc_id": [1, 2, 3],
                "text": [
                    "alpha beta " + boiler + " gamma delta",
                    "unique two " + boiler + " tail ending",
                    "totally original content here nothing repeated at all okay",
                ],
            }
        )
        out = {r.doc_id: r.text for r in
               pl.remove_duplicated_spans(t, "text", "doc_id", k=5).df.collect()}
        # doc 1 holds the first occurrence: untouched
        assert out[1] == "alpha beta " + boiler + " gamma delta"
        # doc 2 loses exactly the 9-token boilerplate span (its boundary
        # 5-grams differ between the docs), keeps its unique flanks
        assert out[2] == "unique two tail ending"
        assert out[3] == "totally original content here nothing repeated at all okay"

    def test_remove_duplicated_spans_merges_overlaps_and_short_docs(self, con):
        t = con.memtable(
            {
                "doc_id": [1, 2, 3],
                "text": ["a b c d e f g h", "a b c d e f g h", "tiny doc"],
            }
        )
        out = {r.doc_id: r.text for r in
               pl.remove_duplicated_spans(t, "text", "doc_id", k=3).df.collect()}
        assert out[1] == "a b c d e f g h"   # first occurrence intact
        assert 2 not in out                   # fully duplicated doc vanishes
        assert out[3] == "tiny doc"           # shorter than k: never covered


class TestPagerank:
    def test_cycle_is_uniform(self, con):
        # 1→2→3→1: uniform 1/3 is the fixed point, every iteration
        e = con.memtable({"s": [1, 2, 3], "d": [2, 3, 1]})
        out = {r.id: r.rank for r in pl.pagerank(e, "s", "d", iters=4).df.collect()}
        assert set(out) == {1, 2, 3}
        for v in out.values():
            assert abs(v - 1.0 / 3.0) < 1e-12

    def test_star_one_iteration_hand_computed(self, con):
        # 1,2,3 → 4; N=4, damping .85, 1 iter:
        # leaves: 0.15/4 = 0.0375; hub: 0.0375 + 0.85*(3 * 0.25) = 0.675
        # (hub is dangling — its mass leaks, by the documented semantics)
        e = con.memtable({"s": [1, 2, 3], "d": [4, 4, 4]})
        out = {r.id: r.rank for r in pl.pagerank(e, "s", "d", iters=1).df.collect()}
        assert abs(out[4] - 0.675) < 1e-12
        for leaf in (1, 2, 3):
            assert abs(out[leaf] - 0.0375) < 1e-12

    def test_duplicate_edges_collapse(self, con):
        e1 = con.memtable({"s": [1, 1, 1], "d": [2, 2, 2]})
        e2 = con.memtable({"s": [1], "d": [2]})
        r1 = {r.id: r.rank for r in pl.pagerank(e1, "s", "d", iters=2).df.collect()}
        r2 = {r.id: r.rank for r in pl.pagerank(e2, "s", "d", iters=2).df.collect()}
        assert r1 == r2

    @pytest.mark.parametrize("seed", [1234, 77, 901])
    def test_numpy_differential(self, con, seed):
        import random

        import numpy as np

        rng = random.Random(seed)
        n = 40
        edges = sorted({(rng.randrange(n), rng.randrange(n)) for _ in range(160)})
        srcs = [a for a, _ in edges]
        dsts = [b for _, b in edges]
        t = con.memtable({"s": srcs, "d": dsts})
        got = {r.id: r.rank
               for r in pl.pagerank(t, "s", "d", iters=5, damping=0.85).df.collect()}
        # reference: same simplified formulation in dense numpy
        nodes = sorted({*srcs, *dsts})
        idx = {v: i for i, v in enumerate(nodes)}
        nn = len(nodes)
        deg = np.zeros(nn)
        for a, _ in edges:
            deg[idx[a]] += 1
        rank = np.full(nn, 1.0 / nn)
        for _ in range(5):
            contrib = np.zeros(nn)
            for a, b in edges:
                contrib[idx[b]] += rank[idx[a]] / deg[idx[a]]
            rank = (1 - 0.85) / nn + 0.85 * contrib
        assert set(got) == set(nodes)
        for v in nodes:
            assert abs(got[v] - rank[idx[v]]) < 1e-12

    def test_rejects_bad_params(self, con):
        e = con.memtable({"s": [1], "d": [2]})
        with pytest.raises(ValueError, match="iters"):
            pl.pagerank(e, "s", "d", iters=0)
        with pytest.raises(ValueError, match="damping"):
            pl.pagerank(e, "s", "d", damping=1.5)


class TestHllSketches:
    def test_rollup_equals_direct_and_is_accurate(self, con):
        import datetime as dt

        # 3 "days" x overlapping user sets; distinct users = 0..599
        days, users = [], []
        for d in range(3):
            for u in range(d * 150, d * 150 + 300):
                days.append(dt.date(2024, 1, 1) + dt.timedelta(days=d))
                users.append(u)
        t = con.memtable({"day": days, "user_id": users})
        daily = pl.sketch_nunique(t, "day", "user_id", lg_k=12)
        assert daily.df.count() == 3
        merged = pl.sketch_rollup(daily, ())
        est = merged.select(n=pl.sketch_estimate("nunique_sketch")).df.collect()[0].n
        direct = (
            pl.sketch_nunique(t, (), "user_id", lg_k=12)
            .select(n=pl.sketch_estimate("nunique_sketch"))
            .df.collect()[0]
            .n
        )
        # rollup-of-daily and direct-over-raw both land inside the HLL
        # error bound (~1.6% at lg_k=12; 5% is a generous ceiling). They
        # are NOT bit-identical: DataSketches keeps small sets as exact
        # coupon lists and densifies later, so merge order can shift a
        # register (measured 601 vs 596 here) — the contract is the
        # bound, not the bits.
        assert abs(est - 600) <= 600 * 0.05
        assert abs(direct - 600) <= 600 * 0.05
        assert abs(est - direct) <= 600 * 0.05

    def test_partial_rollup_groups(self, con):
        t = con.memtable({
            "domain": ["a.com", "a.com", "b.org", "b.org"],
            "day": [1, 2, 1, 2],
            "user_id": [1, 2, 3, 1],
        })
        daily = pl.sketch_nunique(t, ["domain", "day"], "user_id")
        by_dom = pl.sketch_rollup(daily, "domain")
        got = {
            r.domain: r.n
            for r in by_dom.select(
                "domain", n=pl.sketch_estimate("nunique_sketch")
            ).df.collect()
        }
        # tiny cardinalities: HLL is exact
        assert got == {"a.com": 2, "b.org": 2}


class TestWeightedSample:
    def test_deterministic_and_weight_biased(self, con):
        # 2000 keys: half weight 10.0, half weight 0.1 — the heavy half
        # should dominate a 200-row sample, and reruns are identical
        ks = list(range(2000))
        ws = [10.0 if k % 2 == 0 else 0.1 for k in ks]
        t = con.memtable({"k": ks, "w": ws})
        s1 = [r.k for r in pl.weighted_sample(t, "k", "w", 200).df.collect()]
        s2 = [r.k for r in pl.weighted_sample(t, "k", "w", 200).df.collect()]
        assert s1 == s2
        heavy = sum(1 for k in s1 if k % 2 == 0)
        assert heavy > 180  # P(heavy) per draw ~ 100:1 odds
        assert len(s1) == len(set(s1)) == 200  # without replacement

    def test_salt_varies_and_nonpositive_weights_excluded(self, con):
        t = con.memtable({"k": [1, 2, 3, 4, 5],
                          "w": [1.0, 1.0, 0.0, -2.0, None]})
        out = pl.weighted_sample(t, "k", "w", 5)
        assert sorted(r.k for r in out.df.collect()) == [1, 2]
        a = [r.k for r in pl.weighted_sample(t, "k", "w", 1, salt="a").df.collect()]
        ks = list(range(50))
        big = con.memtable({"k": ks, "w": [1.0] * 50})
        sa = {r.k for r in pl.weighted_sample(big, "k", "w", 10, salt="a").df.collect()}
        sb = {r.k for r in pl.weighted_sample(big, "k", "w", 10, salt="b").df.collect()}
        assert sa != sb  # different salts draw different uniforms

    def test_inclusion_probability_tracks_weight(self, con):
        # law-of-large-numbers check across disjoint salts: a weight-3
        # item should appear ~3x as often as a weight-1 item
        ks = list(range(300))
        ws = [3.0 if k < 150 else 1.0 for k in ks]
        t = con.memtable({"k": ks, "w": ws})
        counts = {k: 0 for k in ks}
        for salt in map(str, range(8)):
            for r in pl.weighted_sample(t, "k", "w", 60, salt=salt).df.collect():
                counts[r.k] += 1
        heavy = sum(counts[k] for k in range(150))
        light = sum(counts[k] for k in range(150, 300))
        assert heavy / max(light, 1) > 2.0

    def test_rejects_bad_n(self, con):
        t = con.memtable({"k": [1], "w": [1.0]})
        with pytest.raises(ValueError, match="n must"):
            pl.weighted_sample(t, "k", "w", 0)


class TestQuantileFilter:
    def test_exact_band(self, con):
        t = con.memtable({"k": list(range(100)), "v": list(range(100))})
        out = sorted(r.k for r in pl.quantile_filter(t, "v", 0.1, 0.9).df.collect())
        # p10 of 0..99 = 9.9, p90 = 89.1 -> keep 10..89
        assert out == list(range(10, 90))

    def test_approx_mode_and_validation(self, con):
        t = con.memtable({"k": list(range(100)), "v": list(range(100))})
        out = sorted(r.k for r in
                     pl.quantile_filter(t, "v", 0.1, 0.9, approx=True).df.collect())
        assert 70 <= len(out) <= 90  # sketch bounds, not exact
        with pytest.raises(ValueError, match="lo <= hi"):
            pl.quantile_filter(t, "v", 0.9, 0.1)


class TestCorpusDivergence:
    def test_identical_corpora_zero(self, con):
        t = con.memtable({"doc_id": [1, 2], "text": ["a b c", "a b"]})
        out = pl.corpus_divergence(t, t, "text", top_k=10).df.collect()
        assert all(r.js == 0.0 for r in out)
        assert all(r.p_a == r.p_b for r in out)

    def test_disjoint_corpora_hand_computed(self, con):
        import math

        a = con.memtable({"doc_id": [1], "text": ["x x"]})
        b = con.memtable({"doc_id": [2], "text": ["y"]})
        out = {r.token: r for r in pl.corpus_divergence(a, b, "text").df.collect()}
        # token only in one corpus: contribution = p*ln(2)/2 with p=1
        # (det-ln emission r8: raw doubles within 1e-8 of true ln)
        expect = math.log(2) / 2
        assert abs(out["x"].js - expect) < 1e-8 and abs(out["y"].js - expect) < 1e-8
        assert (out["x"].p_a, out["x"].p_b) == (1.0, 0.0)

    def test_numpy_differential(self, con):
        import math
        import random

        rng = random.Random(5)
        vocab = [f"w{i}" for i in range(30)]
        mk = lambda n: " ".join(rng.choice(vocab) for _ in range(n))
        a = con.memtable({"doc_id": [1, 2], "text": [mk(200), mk(150)]})
        b = con.memtable({"doc_id": [3], "text": [mk(300)]})
        got = {r.token: r.js
               for r in pl.corpus_divergence(a, b, "text", top_k=30).df.collect()}
        # reference with plain Python floats
        rng = random.Random(5)
        ta = (mk(200) + " " + mk(150)).split()
        tb = mk(300).split()
        from collections import Counter

        ca, cb = Counter(ta), Counter(tb)
        na, nb = len(ta), len(tb)
        for tok, js in got.items():
            pa, pb = ca[tok] / na, cb[tok] / nb
            m = (pa + pb) / 2
            ref = ((pa * math.log(pa / m) if pa else 0.0)
                   + (pb * math.log(pb / m) if pb else 0.0)) / 2
            assert abs(js - round(ref, 9)) <= 1e-9


class TestCrossDedup:
    def test_flags_cross_corpus_near_dups_only(self, con):
        base = "the quick brown fox jumps over the lazy dog " * 8
        near = base.replace("lazy", "sleepy")
        clean = "completely different content about spark engines " * 8
        train = con.memtable({"doc_id": [1, 2], "text": [near, clean]})
        ref = con.memtable({"doc_id": [100], "text": [base]})
        out = {r.doc_id: (r.matched_ref, r.contaminated)
               for r in pl.cross_dedup(train, ref, "text", "doc_id",
                                       threshold=0.5).df.collect()}
        assert out == {1: (100, True), 2: (None, False)}

    def test_filter_mode_keeps_schema(self, con):
        base = "alpha beta gamma delta epsilon zeta eta theta iota " * 6
        train = con.memtable({"doc_id": [1, 2],
                              "text": [base, "unrelated words entirely " * 6]})
        ref = con.memtable({"doc_id": [9], "text": [base]})
        out = pl.cross_dedup(train, ref, "text", "doc_id",
                             threshold=0.8, mode="filter")
        assert out.df.columns == ["doc_id", "text"]
        assert [r.doc_id for r in out.df.collect()] == [2]

    def test_distinct_ref_columns_and_min_ref_tiebreak(self, con):
        base = "one two three four five six seven eight nine ten " * 6
        train = con.memtable({"doc_id": [5], "text": [base]})
        ref = con.memtable({"rid": [30, 20], "rtext": [base, base]})
        row = pl.cross_dedup(train, ref, "text", "doc_id", ref_id_col="rid",
                             ref_text_col="rtext").df.collect()[0]
        assert (row.matched_ref, row.sim, row.contaminated) == (20, 1.0, True)

    def test_rejects_bad_params(self, con):
        t = con.memtable({"doc_id": [1], "text": ["x"]})
        with pytest.raises(ValueError, match="mode"):
            pl.cross_dedup(t, t, "text", "doc_id", mode="drop")
        with pytest.raises(ValueError, match="divisible"):
            pl.cross_dedup(t, t, "text", "doc_id", num_hashes=64, bands=7)


def _ref_bpe_train(pretokens, k, min_count=2):
    """Pure-Python reference: classic BPE over a pretoken multiset with
    the engine's tie-break (count desc, then lexicographic pair)."""
    from collections import Counter

    vocab = Counter(pretokens)
    sym = {pt: list(pt) for pt in vocab}
    merges = []
    for _ in range(k):
        pc = Counter()
        for pt, c in vocab.items():
            s = sym[pt]
            for i in range(len(s) - 1):
                pc[(s[i], s[i + 1])] += c
        if not pc:
            break
        (a, b), n = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        if n < min_count:
            break
        merges.append((a, b))
        for pt, s in sym.items():
            out, prev = [], None
            for tok in s:
                if prev == a and tok == b:
                    out.append(a + b)
                    prev = None
                elif prev is None:
                    prev = tok
                else:
                    out.append(prev)
                    prev = tok
            if prev is not None:
                out.append(prev)
            sym[pt] = out
    return merges


class TestBpeTrain:
    def _pretokens(self, con, texts):
        t = con.memtable({"text": texts})
        rows = t.select(p=pl.pretokenize(t.text)).df.collect()
        out = []
        for r in rows:
            out.extend(r.p)
        return out

    @pytest.mark.parametrize("seed", range(3))
    def test_differential_vs_python_reference(self, con, seed):
        import random

        rng = random.Random(300 + seed)
        words = ["".join(rng.choice("abcde") for _ in range(rng.randint(2, 7)))
                 for _ in range(30)]
        texts = [" ".join(rng.choice(words) for _ in range(40))
                 for _ in range(8)]
        t = con.memtable({"doc_id": list(range(len(texts))), "text": texts})
        got = pl.bpe_train(t, "text", 8)
        want = _ref_bpe_train(self._pretokens(con, texts), 8)
        assert got == want, f"seed {seed}"

    def test_learned_merges_feed_bpe_encode(self, con):
        texts = ["the cat sat on the mat " * 5, "the bat and the cat " * 5]
        t = con.memtable({"doc_id": [1, 2], "text": texts})
        merges = pl.bpe_train(t, "text", 10)
        assert merges  # something was learnable
        # learned lists are well-formed by construction: every side is a
        # char or an earlier rule's output -> bpe_encode accepts them
        out = t.select("doc_id", toks=pl.bpe_encode(t.text, merges))
        rows = {r.doc_id: r.toks for r in out.df.collect()}
        pts = {r.doc_id: r.p for r in
               t.select("doc_id", p=pl.pretokenize(t.text)).df.collect()}
        for d in (1, 2):
            # tokens concatenate back to the pretoken stream (lossless)
            assert "".join(rows[d]) == "".join(pts[d])
            # and compression actually happened
            assert len(rows[d]) < sum(len(p) for p in pts[d])

    def test_stops_below_min_count(self, con):
        t = con.memtable({"text": ["abc def"]})  # every pair count == 1
        assert pl.bpe_train(t, "text", 5) == []
        with pytest.raises(ValueError, match="num_merges"):
            pl.bpe_train(t, "text", 0)

    def test_non_bmp_code_points_stay_whole(self, con):
        # ADVICE r7 flagged split('') as a UTF-16 code-unit splitter
        # that would shear astral-plane chars into lone surrogates.
        # Spark 4's split('')/Java regex '.' both advance by CODE POINT
        # (verified here, not assumed): emoji and astral CJK train and
        # encode as single symbols, matching the pure-Python reference
        # (list(pt) is code points by construction).
        texts = ["👍x 👍x 👍x 𠀋y 𠀋y 👍x", "👍x 𠀋y 👍x"]
        t = con.memtable({"doc_id": [1, 2], "text": texts})
        got = pl.bpe_train(t, "text", 4, min_count=2)
        want = _ref_bpe_train(self._pretokens(con, texts), 4)
        assert got == want
        # astral chars participate in merges as whole code points
        assert any("👍" in a + b for a, b in got)
        out = t.select("doc_id", toks=pl.bpe_encode(t.text, got))
        rows = {r.doc_id: r.toks for r in out.df.collect()}
        pts = {r.doc_id: r.p for r in
               t.select("doc_id", p=pl.pretokenize(t.text)).df.collect()}
        for d in (1, 2):
            assert "".join(rows[d]) == "".join(pts[d])
            # no token anywhere contains a lone surrogate half
            for tok in rows[d]:
                assert not any(0xD800 <= ord(ch) <= 0xDFFF for ch in tok)


class TestKeepPolicies:
    def test_dedup_exact_keep_longest(self, con):
        # same normalized content, different raw whitespace/case
        t = con.memtable({
            "doc_id": [1, 2, 3],
            "text": ["Hello  world", "hello world and more", "hello   world"],
        })
        first = sorted(r.doc_id for r in
                       pl.dedup_exact(t, "text", "doc_id").df.collect())
        assert first == [1, 2]
        t2 = con.memtable({
            "doc_id": [1, 2],
            "text": ["Hello  world", "hello world"],  # 12 vs 11 chars raw
        })
        longest = sorted(r.doc_id for r in
                         pl.dedup_exact(t2, "text", "doc_id",
                                        keep="longest").df.collect())
        assert longest == [1]  # raw-longest wins over min id
        with pytest.raises(ValueError, match="keep"):
            pl.dedup_exact(t, "text", "doc_id", keep="best")

    def test_dedup_clusters_keep_longest(self, con):
        base = "the quick brown fox jumps over the lazy dog " * 8
        near_longer = base + "plus a tail"  # jaccard ~0.84, longer raw
        other = "completely different content about spark engines " * 8
        t = con.memtable({"doc_id": [1, 2, 3],
                          "text": [base, near_longer, other]})
        out = {r.doc_id: (r.cluster_id, r.rep_id, r.is_dup)
               for r in pl.dedup_clusters(t, "text", "doc_id", threshold=0.5,
                                          keep="longest").df.collect()}
        # cluster key stays the min label (1); the LONGER member (2) is kept
        assert out[1] == (1, 2, True)
        assert out[2] == (1, 2, False)
        assert out[3] == (3, 3, False)
        with pytest.raises(ValueError, match="keep"):
            pl.dedup_clusters(t, "text", "doc_id", keep="shortest")


class TestQuantileBucket:
    def test_hand_computed_and_null(self, con):
        t = con.memtable({"id": [1, 2, 3, 4, 5, 6],
                          "v": [10, 20, 30, 40, 50, None]})
        out = {r.id: r.bucket
               for r in pl.quantile_bucket(t, "v", 2).df.collect()}
        # median of the 5 non-nulls is 30; bucket = #thresholds below
        assert out == {1: 0, 2: 0, 3: 0, 4: 1, 5: 1, 6: None}

    def test_value_split_ties_share_bucket(self, con):
        # 8 identical values + 2 bigger: every tied value lands in ONE
        # bucket (value-split determinism), unlike ntile's row split
        t = con.memtable({"id": list(range(10)), "v": [7] * 8 + [100, 200]})
        out = {r.id: r.bucket
               for r in pl.quantile_bucket(t, "v", 4).df.collect()}
        assert all(out[i] == out[0] for i in range(8))
        # all three thresholds equal 7, so both outliers share the top
        # bucket: 3 thresholds strictly below
        assert out[0] == 0 and out[8] == 3 and out[9] == 3

    def test_validation(self, con):
        t = con.memtable({"v": [1.0]})
        with pytest.raises(ValueError, match="n_buckets"):
            pl.quantile_bucket(t, "v", 1)


class TestPackSequences:
    def test_greedy_first_fit_and_oversize(self, con):
        t = con.memtable({"g": ["a"] * 4 + ["b"] * 2,
                          "id": [1, 2, 3, 4, 1, 2],
                          "cnt": [3, 4, 5, 9, 12, 1]})
        out = {(r.g, r.id): r.bin_id
               for r in pl.pack_sequences(t, "cnt", "id", 8, by="g").df.collect()}
        # a: 3+4=7 fits bin0; 5 opens bin1; 9 (> budget) gets its OWN bin2
        # b: 12 oversized alone in bin0; 1 opens bin1 (12+1 > 8)
        assert out == {("a", 1): 0, ("a", 2): 0, ("a", 3): 1, ("a", 4): 2,
                       ("b", 1): 0, ("b", 2): 1}

    def test_python_reference_differential(self, con):
        import random

        rng = random.Random(11)
        n = 200
        ids = list(range(n))
        cnts = [rng.randint(1, 300) for _ in ids]
        gs = [i % 3 for i in ids]
        t = con.memtable({"g": gs, "id": ids, "cnt": cnts})
        got = {(r.g, r.id): r.bin_id
               for r in pl.pack_sequences(t, "cnt", "id", 512, by="g").df.collect()}
        want = {}
        for g in range(3):
            acc, b = None, 0
            for i in ids:
                if i % 3 != g:
                    continue
                c = cnts[i]
                if acc is None:
                    acc = c
                elif acc + c <= 512:
                    acc += c
                else:
                    b += 1
                    acc = c
                want[(g, i)] = b
        assert got == want

    def test_null_counts_pack_as_zero_and_validation(self, con):
        t = con.memtable({"id": [1, 2, 3], "cnt": [5, None, 5]})
        import warnings

        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            out = {r.id: r.bin_id
                   for r in pl.pack_sequences(t, "cnt", "id", 10).df.collect()}
            assert any("by=" in str(x.message) for x in w)
        assert out == {1: 0, 2: 0, 3: 0}  # 5 + 0 + 5 == budget, one bin
        with pytest.raises(ValueError, match="budget"):
            pl.pack_sequences(t, "cnt", "id", 0)


class TestContaminationScore:
    def test_hand_computed(self, con):
        d = con.memtable({"doc_id": [1, 2, 3],
                          "text": ["a b c d e", "x y z w q", "a b"]})
        b = con.memtable({"doc_id": [9], "text": ["a b c d"]})
        out = {r.doc_id: (r.n_ngrams, r.n_hit, r.score)
               for r in pl.contamination_score(d, b, "text", "doc_id",
                                               n=2).df.collect()}
        # doc 1 bigram stream: ab bc cd de -> 3 of 4 in bench
        assert out[1] == (4, 3, 0.75)
        assert out[2] == (4, 0, 0.0)
        assert out[3] == (1, 1, 1.0)

    def test_short_docs_null_score(self, con):
        d = con.memtable({"doc_id": [1], "text": ["solo"]})
        b = con.memtable({"doc_id": [9], "text": ["a b c"]})
        r = pl.contamination_score(d, b, "text", "doc_id", n=2).df.collect()[0]
        assert (r.n_ngrams, r.n_hit, r.score) == (0, 0, None)

    def test_positional_counting_repeats(self, con):
        # repeated contaminated gram counts every occurrence (stream
        # coverage), not once
        d = con.memtable({"doc_id": [1], "text": ["a b a b a b"]})
        b = con.memtable({"doc_id": [9], "text": ["a b"]})
        r = pl.contamination_score(d, b, "text", "doc_id", n=2).df.collect()[0]
        assert (r.n_ngrams, r.n_hit) == (5, 3)  # ab ba ab ba ab


class TestDetPolynomials:
    """The libm-free deterministic ln/exp emission helpers (r8/r9): the
    strict oracle checks prove cross-engine bit-identity; these pin the
    numeric CONTRACT (accuracy vs true libm, domain edges, saturation)."""

    def test_det_ln_unit_accuracy_over_ratio_domain(self, con):
        import math

        # probability-ratio domain (0, 2]: powers of two, boundary
        # straddles, tiny and mid-range values
        vals = [2.0, 1.0, 1.5, 0.9999999999, 1.0000000001, 0.5,
                1.0 / 3, 2.0 ** -20, 3.7e-12, 2.0 ** -61]
        t = con.memtable({"x": vals})
        df = pl._with_det_ln_unit(t.df, "x", "lnx")
        got = {r.x: r.lnx for r in df.collect()}
        for v in vals:
            assert abs(got[v] - math.log(v)) < 2e-8, (v, got[v])

    def test_det_exp_saturates_beyond_43(self, con):
        import math

        t = con.memtable({"x": [0.0, 1.0, -1.0, 42.0, -42.0, 44.0,
                                -44.0, 700.0, -700.0]})
        df = pl._with_det_exp(t.df, "x", "ex")
        got = {r.x: r.ex for r in df.collect()}
        for v in (0.0, 1.0, -1.0, 42.0, -42.0):
            assert abs(got[v] - math.exp(v)) <= 1e-12 * math.exp(v)
        # ADVICE r8: |x| > 43 saturates (inf / 0), never finite garbage
        for v in (44.0, 700.0):
            assert math.isinf(got[v]) and got[v] > 0
        for v in (-44.0, -700.0):
            assert got[v] == 0.0


class TestPackSequencesGuards:
    def test_bin_name_collision_raises(self, con):
        t = con.memtable({"id": [1], "cnt": [1], "bin_id": [0]})
        with pytest.raises(ValueError, match="bin_id"):
            pl.pack_sequences(t, "cnt", "id", 10)
