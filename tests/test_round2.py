"""Round-2 component tests: vendored codecs, LSH banding, and the
quality/layout operators."""

from __future__ import annotations

import pytest

from stellarsql_spark.pipeline.multimodal import (
    _bmp_decode,
    _bmp_encode,
    _pcm_samples,
    _wav_decode,
    _wav_encode,
)

SF = "/root/testdata/sf0.001"


class TestBmpCodec:
    def test_round_trip(self):
        data = _bmp_encode(5, 3, (10, 200, 30))
        w, h, r, g, b = _bmp_decode(data)
        assert (w, h, r, g, b) == (5, 3, 10, 200, 30)

    def test_row_padding(self):
        # width 5 → 15 pixel bytes/row, padded to 16
        data = _bmp_encode(5, 2, (1, 2, 3))
        assert len(data) == 54 + 16 * 2

    def test_magic_and_reject(self):
        assert _bmp_encode(1, 1, (0, 0, 0))[:2] == b"BM"
        with pytest.raises(ValueError):
            _bmp_decode(b"PNG....definitely-not-a-bmp")


class TestWavCodec:
    def test_round_trip(self):
        samples = [0, 100, -100, 32767, -32768, 7]
        assert _wav_decode(_wav_encode(samples)) == samples

    def test_riff_container(self):
        data = _wav_encode([1, 2, 3])
        assert data[:4] == b"RIFF" and data[8:12] == b"WAVE"

    def test_pcm_samples_deterministic_and_even(self):
        payload = bytes(range(16))
        s1, s2 = _pcm_samples(payload), _pcm_samples(payload)
        assert s1 == s2
        assert len(s1) % 2 == 0
        assert all(-32768 <= v <= 32767 for v in s1)


class TestY4mCodec:
    def test_round_trip(self):
        from stellarsql_spark.pipeline.multimodal import _y4m_decode, _y4m_encode

        frames = [bytes(range(12)), bytes(range(12, 24))]
        w, h, back = _y4m_decode(_y4m_encode(frames))
        assert (w, h) == (2, 2)
        assert back == frames

    def test_reject_non_y4m(self):
        from stellarsql_spark.pipeline.multimodal import _y4m_decode

        with pytest.raises(ValueError):
            _y4m_decode(b"RIFF....not a y4m stream\n")


class TestLshBanding:
    def test_candidates_superset_of_threshold_pairs(self, spark):
        """The property the exact oracle depends on: every >= 0.4 pair
        collides in at least one band (verified here at sf0.001)."""
        from pyspark.sql import functions as F

        from stellarsql_spark.catalog import load_table
        from stellarsql_spark.pipeline.similarity import (
            COSINE_NEARDUP_THRESHOLD,
            dot,
            lsh_candidate_pairs,
            norm,
        )

        e = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
        cand = {
            (r.id1, r.id2) for r in lsh_candidate_pairs(e).collect()
        }
        a = e.select(F.col("vec_id").alias("id1"), F.col("embedding").alias("e1"))
        b = e.select(F.col("vec_id").alias("id2"), F.col("embedding").alias("e2"))
        sim = F.round(
            dot(F.col("e1"), F.col("e2")) / (norm(F.col("e1")) * norm(F.col("e2"))), 6
        )
        truth = {
            (r.id1, r.id2)
            for r in a.join(b, F.col("id1") < F.col("id2"))
            .select("id1", "id2", sim.alias("sim"))
            .where(F.col("sim") >= COSINE_NEARDUP_THRESHOLD)
            .collect()
        }
        assert truth <= cand

    def test_band_sigs_deterministic(self, spark):
        from stellarsql_spark.catalog import load_table
        from stellarsql_spark.pipeline.similarity import N_BANDS, with_band_sigs

        e = load_table(spark, SF, "embeddings").select("vec_id", "embedding").limit(20)
        one = {r.vec_id: list(r.band_sigs) for r in with_band_sigs(e).collect()}
        two = {r.vec_id: list(r.band_sigs) for r in with_band_sigs(e).collect()}
        assert one == two
        assert all(len(v) == N_BANDS for v in one.values())


class TestQualityAndLayout:
    def test_quality_profile_all_pass(self, spark):
        from stellarsql_spark.operators.quality import b_quality_profile

        rows = {r.check_name: r for r in b_quality_profile(spark, SF).collect()}
        assert len(rows) == 6
        assert all(r.passed for r in rows.values())
        assert all(r.n_violations == 0 for r in rows.values())

    def test_zorder_buckets_are_local(self, spark):
        """Z-bucket ranges must be tighter than the full 0-255 domain
        on BOTH interleaved dimensions (the file-skipping property)."""
        from stellarsql_spark.sources.io import b_layout_zorder

        rows = b_layout_zorder(spark, SF).collect()
        avg_ck_span = sum(r.ck_hi - r.ck_lo for r in rows) / len(rows)
        avg_ok_span = sum(r.ok_hi - r.ok_lo for r in rows) / len(rows)
        assert avg_ck_span < 128 and avg_ok_span < 128
