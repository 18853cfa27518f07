"""Round-8 component tests: the day-partitioned events layout twin
(plan shape + result equivalence), keyset pagination (equality with
the OFFSET form + no offset in the paged scan), the deterministic
seeded sampler (partitioning invariance — the property engine-RNG
sampling lacks), the adversarial binary-codec gate, and the
preflight stamp-freshness audit."""

from __future__ import annotations

import os

SF = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


class TestTumblingLayoutTwin:
    def test_matches_plain_result(self, spark):
        """Layout must never change answers: the day-partitioned twin
        and the plain tumbling aggregate produce identical row sets."""
        from stellarsql_spark.sources.events_layout import b_stream_tumbling_bucketed
        from stellarsql_spark.streaming.windows import b_stream_tumbling

        a = {tuple(r) for r in b_stream_tumbling(spark, SF_MED).collect()}
        b = {tuple(r) for r in b_stream_tumbling_bucketed(spark, SF_MED).collect()}
        assert a == b and len(a) > 0

    def test_scan_reads_no_timestamp(self, spark):
        """The point of the layout: the query touches only the three
        small integer columns — no ts decode, no floor expression.
        The fact scan's ReadSchema must be exactly
        (event_hour, type_id, cts)."""
        from stellarsql_spark.sources.events_layout import b_stream_tumbling_bucketed

        df = b_stream_tumbling_bucketed(spark, SF_MED)
        plan = df._jdf.queryExecution().executedPlan().toString()
        scans = [l for l in plan.splitlines() if "FileScan parquet" in l and "events_hr" in l]
        assert scans, plan
        schema = scans[0].split("ReadSchema")[1]
        fields = {f.split(":")[0] for f in schema.split("<", 1)[1].rstrip(">").split(",")}
        assert fields == {"type_id", "cts", "event_hour"}, schema
        assert "unix_micros" not in plan and "date_trunc" not in plan.lower()

    def test_single_rollup_exchange(self, spark):
        """Only the tiny (hour, type) partial rollup shuffles; the
        5-row dimension decode is a BroadcastExchange after it."""
        from stellarsql_spark.sources.events_layout import b_stream_tumbling_bucketed

        df = b_stream_tumbling_bucketed(spark, SF_MED)
        plan = df._jdf.queryExecution().executedPlan().toString()
        shuffles = [
            l for l in plan.splitlines()
            if "Exchange hashpartitioning" in l and "Broadcast" not in l
        ]
        assert len(shuffles) == 1, plan
        assert "BroadcastExchange" in plan

    def test_layout_reuse_is_marker_gated(self, spark):
        """Second ensure is a no-op via the fingerprint marker, so
        cross-session calls never rewrite the lake."""
        from stellarsql_spark.sources.events_layout import ensure_hour_layout

        fact1, dim1 = ensure_hour_layout(spark, SF_MED)
        mtime = os.path.getmtime(os.path.join(fact1, "_LAYOUT_DONE"))
        fact2, dim2 = ensure_hour_layout(spark, SF_MED)
        assert (fact1, dim1) == (fact2, dim2)
        assert os.path.getmtime(os.path.join(fact1, "_LAYOUT_DONE")) == mtime

    def test_one_file_per_day_dir(self, spark):
        """partition-coarse/sort-fine: each hive day dir holds exactly
        one data file (the 300× A/B that killed hour dirs was about
        small-file explosion — this pins the repartition-before-write
        that prevents it)."""
        from stellarsql_spark.sources.events_layout import ensure_hour_layout

        fact_dir, _ = ensure_hour_layout(spark, SF_MED)
        day_dirs = [d for d in os.listdir(fact_dir) if d.startswith("event_day=")]
        assert len(day_dirs) > 1
        for d in day_dirs:
            files = [f for f in os.listdir(os.path.join(fact_dir, d)) if f.endswith(".parquet")]
            assert len(files) == 1, (d, files)


class TestKeysetPagination:
    def test_matches_offset_page(self, spark):
        """Page 3 via seek == page 3 via OFFSET, row for row."""
        from stellarsql_spark.operators.sql_surface import b_sql_keyset, b_sql_offset

        a = [tuple(r) for r in b_sql_offset(spark, SF_MED).collect()]
        b = [tuple(r) for r in b_sql_keyset(spark, SF_MED).collect()]
        assert a == b and len(a) == 20

    def test_paged_scan_has_no_offset(self, spark):
        """The main TakeOrderedAndProject keeps only page-size rows
        per task (limit=20, NO offset); the only offset in the plan
        belongs to the 1-row boundary subquery standing in for the
        client's cursor."""
        from stellarsql_spark.operators.sql_surface import b_sql_keyset

        df = b_sql_keyset(spark, SF_MED)
        plan = df._jdf.queryExecution().executedPlan().toString()
        tops = [l for l in plan.splitlines() if "TakeOrderedAndProject" in l]
        page = [l for l in tops if "limit=20" in l]
        assert len(page) == 1 and "offset" not in page[0], plan


class TestDeterministicSeededSample:
    def test_partitioning_invariance(self, spark):
        """THE property that motivated dropping engine-RNG sampling:
        the selected set must not change when the input partitioning
        does. (df.sample(seed=) fails this exact test.)"""
        from pyspark.sql import functions as F

        from stellarsql_spark.catalog import load_table
        from stellarsql_spark.operators.reshape import _BERN_T

        o = load_table(spark, SF_MED, "orders").select("o_orderkey")

        def draw(df):
            h = F.md5(F.concat(F.lit("b42:"), F.col("o_orderkey").cast("string")))
            u = F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint")
            return {r[0] for r in df.where(u < _BERN_T).collect()}

        assert draw(o) == draw(o.repartition(13)) == draw(o.coalesce(1))

    def test_fraction_bounds(self, spark):
        """Uniformity sanity: the 10% Bernoulli arm lands within 5σ of
        its binomial mean."""
        from stellarsql_spark.operators.reshape import b_sample_seeded

        rows = b_sample_seeded(spark, SF_MED).groupBy("method").count().collect()
        by = {r["method"]: r["count"] for r in rows}
        from stellarsql_spark.catalog import load_table

        n = load_table(spark, SF_MED, "orders").count()
        mean, sigma = 0.1 * n, (0.1 * 0.9 * n) ** 0.5
        assert abs(by["bernoulli"] - mean) <= 5 * sigma + 1


class TestAdversarialCodecs:
    """r8 gate: the BMP/Y4M/RIFF parsers run in executors over
    untrusted binary columns; hostile payloads must cost O(header) to
    reject and surface as ValueError / quarantine rows, never as
    IndexError, ZeroDivisionError, unbounded loops, or task death."""

    def _hostile_bmps(self):
        import struct

        from stellarsql_spark.pipeline.multimodal import _bmp_encode

        good = _bmp_encode(4, 3, (10, 20, 30))
        zero_dim = bytearray(good)
        struct.pack_into("<ii", zero_dim, 18, 0, 0)
        huge = bytearray(good)
        struct.pack_into("<ii", huge, 18, 1 << 29, 1 << 29)  # oversized header
        neg = bytearray(good)
        struct.pack_into("<ii", neg, 18, -4, -3)
        bad_off = bytearray(good)
        struct.pack_into("<I", bad_off, 10, 1 << 30)
        return {
            "truncated_header": good[:20],
            "truncated_pixels": good[:-7],
            "zero_dim": bytes(zero_dim),
            "oversized_header": bytes(huge),
            "negative_dims": bytes(neg),
            "offset_past_eof": bytes(bad_off),
            "not_bmp": b"PNG\x00" * 20,
            "empty": b"",
        }

    def test_bmp_rejects_hostile_fast(self):
        import time

        from stellarsql_spark.pipeline.multimodal import _bmp_decode

        for name, payload in self._hostile_bmps().items():
            t0 = time.perf_counter()
            try:
                _bmp_decode(payload)
                raise AssertionError(f"{name}: hostile payload decoded")
            except ValueError:
                pass
            assert time.perf_counter() - t0 < 0.05, f"{name}: not O(header)"

    def test_bmp_batch_quarantines(self):
        """The Arrow batch path turns every hostile payload into the
        deterministic quarantine row instead of raising."""
        import pandas as pd

        from stellarsql_spark.pipeline.multimodal import (
            _bmp_encode,
            decode_image_batch,
        )

        hostile = self._hostile_bmps()
        imgs = [_bmp_encode(4, 3, (10, 20, 30)), *hostile.values()]
        pdf = pd.DataFrame({"doc_id": range(len(imgs)), "img": imgs})
        [out] = list(decode_image_batch(iter([pdf])))
        assert list(out["width"])[0] == 4  # the good row decodes
        assert all(w == -1 for w in out["width"][1:])  # the rest quarantine
        assert list(out["n_bytes"]) == [len(i) for i in imgs]

    def test_y4m_rejects_hostile(self):
        from stellarsql_spark.pipeline.multimodal import _y4m_decode

        cases = [
            b"",  # empty
            b"x" * 1000,  # no newline in first 512 bytes
            b"RIFF1234\n",  # wrong magic
            b"YUV4MPEG2 W0 H0 C444\nFRAME\n",  # zero dims
            b"YUV4MPEG2 W999999 H999999 C444\nFRAME\n",  # dims exceed payload
            b"YUV4MPEG2 W-2 H3 C444\nFRAME\n" + b"\x00" * 64,  # negative
            b"YUV4MPEG2 Wx Hy C444\n",  # non-numeric
            b"YUV4MPEG2 W2 H2 C444\nFRAME\n" + b"\x00" * 5,  # truncated frame
            b"YUV4MPEG2 W2 H2 C444\nFRAMX\n" + b"\x00" * 12,  # bad marker
        ]
        for payload in cases:
            try:
                _y4m_decode(payload)
                raise AssertionError(f"hostile Y4M decoded: {payload[:40]!r}")
            except ValueError:
                pass

    def test_wav_rejects_hostile(self):
        from stellarsql_spark.pipeline.multimodal import _wav_decode, _wav_encode

        good = _wav_encode([0, 100, -100, 32767])
        for payload in (b"", b"RIFF" + b"\x00" * 40, good[:-9], good[:10]):
            try:
                _wav_decode(payload)
                raise AssertionError("hostile WAV decoded")
            except ValueError:
                pass
        assert _wav_decode(good) == [0, 100, -100, 32767]

    def test_roundtrip_still_green(self):
        """Hardening must not change the well-formed path: encode →
        decode round-trips exactly."""
        from stellarsql_spark.pipeline.multimodal import (
            _bmp_decode,
            _bmp_encode,
            _y4m_decode,
            _y4m_encode,
        )

        w, h, mr, mg, mb = _bmp_decode(_bmp_encode(5, 4, (1, 2, 3)))
        assert (w, h, mr, mg, mb) == (5, 4, 1, 2, 3)
        frames = [bytes(range(48)) * 4] * 3  # 192-byte 8x8 frames
        w2, h2, out = _y4m_decode(_y4m_encode(frames, 8, 8))
        assert (w2, h2) == (8, 8) and out == frames


class TestSkewForms:
    def test_three_forms_agree(self, spark):
        """Skew handling is physical spreading — the kept forms (AQE
        split, hot-key bypass, and the audit-driven chooser's result
        columns) must be row-identical."""
        from stellarsql_spark.operators.skew import (
            b_join_auto,
            b_join_skew_bypass,
            b_join_skew_split,
        )

        a = {tuple(r) for r in b_join_skew_split(spark, SF_MED).collect()}
        b = {tuple(r) for r in b_join_skew_bypass(spark, SF_MED).collect()}
        c = {
            tuple(r)
            for r in b_join_auto(spark, SF_MED)
            .select("o_orderstatus", "n_items", "gross")
            .collect()
        }
        assert a == b == c and len(a) > 0

    def test_zipfian_corpus_construction(self, spark, tmp_path):
        """ensure_skewed_corpus must produce genuine join-key skew
        (hot key #1 ≈ HOT_SHARE/H_n of all rows) while preserving
        referential integrity and total row count."""
        from pyspark.sql import functions as F

        from stellarsql_spark.catalog import load_table
        from stellarsql_spark.scale import (
            ZIPF_HOT_KEYS,
            ZIPF_HOT_SHARE,
            ensure_skewed_corpus,
        )

        d = ensure_skewed_corpus(spark, SF, 2, out_root=str(tmp_path))
        li = spark.read.parquet(os.path.join(d, "lineitem.parquet"))
        o = spark.read.parquet(os.path.join(d, "orders.parquet"))
        n = li.count()
        base_n = load_table(spark, SF, "lineitem").count()
        assert n == 2 * base_n  # remap never drops or adds rows
        top = (
            li.groupBy("l_orderkey").count().orderBy(F.desc("count")).limit(1).collect()
        )[0]
        hn = sum(1.0 / i for i in range(1, ZIPF_HOT_KEYS + 1))
        expected = ZIPF_HOT_SHARE * 1.0 / hn  # ≈ 0.184
        assert abs(top["count"] / n - expected) < 0.05
        # referential integrity: every lineitem key still joins
        orphans = li.join(o, li.l_orderkey == o.o_orderkey, "left_anti").count()
        assert orphans == 0


class TestBM25:
    def test_ranking_contract(self, spark):
        """Each query returns exactly TOPK docs with dense ranks and
        non-increasing scores; every ranked doc actually contains at
        least one query term (BM25 never scores a term-free doc)."""
        from pyspark.sql import functions as F

        from stellarsql_spark.catalog import load_table
        from stellarsql_spark.pipeline.textstats import (
            _BM25_QUERIES,
            _BM25_TOPK,
            b_llm_bm25,
        )

        rows = b_llm_bm25(spark, SF_MED).collect()
        by_q = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append(r)
        terms = {}
        for qid, w in _BM25_QUERIES:
            terms.setdefault(qid, set()).add(w)
        docs = {
            r["doc_id"]: r["text"]
            for r in load_table(spark, SF_MED, "documents")
            .where(F.col("doc_id").isin([r["doc_id"] for r in rows]))
            .select("doc_id", "text")
            .collect()
        }
        for qid, qrows in by_q.items():
            qrows.sort(key=lambda r: r["rank"])
            assert [r["rank"] for r in qrows] == list(range(1, _BM25_TOPK + 1))
            scores = [r["score"] for r in qrows]
            assert scores == sorted(scores, reverse=True)
            for r in qrows:
                assert terms[qid] & set(docs[r["doc_id"]].split(" ")), (
                    qid, r["doc_id"])


class TestInt8Quantization:
    def test_quantized_values_are_int8_range(self, spark):
        """round(127·x/maxabs) must land in [-127, 127] for every
        component — the storage contract that makes the 4× memory
        claim real."""
        from pyspark.sql import functions as F

        from stellarsql_spark.catalog import load_table

        e = load_table(spark, SF_MED, "embeddings")
        ed = F.transform("embedding", lambda x: x.cast("double"))
        maxabs = F.array_max(F.transform(ed, F.abs))
        qv = F.transform(ed, lambda x: F.round(127.0 * x / maxabs).cast("long"))
        bad = (
            e.select(F.explode(qv).alias("q"))
            .where((F.col("q") < -127) | (F.col("q") > 127))
            .count()
        )
        assert bad == 0

    def test_recall_floor(self, spark):
        """Quantized top-10 must keep ≥ 80% of the exact top-10 per
        query set — int8 is lossy, but not THAT lossy on 64-dim
        vectors (measured 100% at sf0.01, 94% at sf0.1)."""
        from stellarsql_spark.pipeline.vectors import b_llm_quant_int8

        rows = b_llm_quant_int8(spark, SF_MED).collect()
        hits = sum(1 for r in rows if r["in_exact_topk"])
        assert hits / len(rows) >= 0.8


class TestQuantRerank:
    def test_recovers_exact_ranking(self, spark):
        """The two-stage pipeline (int8 candidates → fp32 re-rank)
        must reproduce the exact cosine top-10 row-for-row at 5×
        over-retrieval — the property that makes the quantized scan a
        safe first stage."""
        from stellarsql_spark.pipeline.similarity import b_llm_cosine_topk
        from stellarsql_spark.pipeline.vectors import b_llm_quant_rerank

        exact = {tuple(r) for r in b_llm_cosine_topk(spark, SF_MED).collect()}
        two_stage = {tuple(r) for r in b_llm_quant_rerank(spark, SF_MED).collect()}
        assert exact == two_stage and len(exact) > 0


class TestHybridRRF:
    def test_fusion_contract(self, spark):
        """Per query: fused ranks are exactly 1..10 with non-increasing
        scores and n_arms ∈ {1, 2}; across the query set at least one
        doc is found by BOTH arms (the synthetic corpus's lexical and
        dense spaces are nearly uncorrelated, so per-query agreement
        is not guaranteed — at sf0.01 four of five queries show one
        n_arms=2 doc)."""
        from stellarsql_spark.pipeline.textstats import b_llm_hybrid_rrf

        rows = b_llm_hybrid_rrf(spark, SF_MED).collect()
        by_q = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append(r)
        assert len(by_q) == 5
        assert all(r["n_arms"] in (1, 2) for r in rows)
        assert any(r["n_arms"] == 2 for r in rows)
        for qid, qrows in by_q.items():
            assert sorted(r["rank"] for r in qrows) == list(range(1, 11))
            # fused scores non-increasing in rank
            qrows.sort(key=lambda r: r["rank"])
            scores = [r["rrf"] for r in qrows]
            assert scores == sorted(scores, reverse=True)
