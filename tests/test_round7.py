"""Round-7 component tests: the custkey-bucketed headline twin (plan
shape + result equivalence with the exchange-bearing form) and the
artifact-sync guards the round-6 verdict asked for (PLANS.md and
SURVEY.md can no longer silently drift from the registry)."""

from __future__ import annotations

import os
import re

SF = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class TestBucketedJoinInner:
    def test_single_shuffle_exchange(self, spark):
        """The whole point of the at-rest layout: the custkey pre-agg
        and the orders⋈customer join run on bucket-local data, so the
        ONLY shuffle Exchange left is the 25-row final rollup (the two
        dimension joins are BroadcastExchange, not shuffles)."""
        from stellarsql_spark.sources.bucketed import b_join_inner_bucketed

        df = b_join_inner_bucketed(spark, SF_MED)
        plan = df._jdf.queryExecution().executedPlan().toString()
        shuffles = [
            line
            for line in plan.splitlines()
            if "Exchange hashpartitioning" in line and "Broadcast" not in line
        ]
        assert len(shuffles) == 1, plan

    def test_matches_unbucketed_result(self, spark):
        """Layout must never change answers: the bucketed twin and the
        exchange-bearing headline produce identical row sets."""
        from stellarsql_spark.operators.joins import b_join_inner
        from stellarsql_spark.sources.bucketed import b_join_inner_bucketed

        a = {tuple(r) for r in b_join_inner(spark, SF_MED).collect()}
        b = {tuple(r) for r in b_join_inner_bucketed(spark, SF_MED).collect()}
        assert a == b and len(a) > 0

    def test_bucket_reuse_is_metadata_only(self, spark):
        """Second ensure within a session is a catalog no-op; the
        on-disk fingerprint marker survives for cross-session reuse."""
        from urllib.parse import urlparse

        from stellarsql_spark.sources.bucketed import ensure_custkey_bucketed

        to, tc = ensure_custkey_bucketed(spark, SF_MED)
        assert (to, tc) == ensure_custkey_bucketed(spark, SF_MED)
        warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
        assert os.path.exists(os.path.join(warehouse, to, "_BUCKETS_DONE"))


class TestArtifactSyncGuards:
    def test_plans_md_covers_registry(self):
        """PLANS.md (the no-cartesian / no-row-python audit) must list
        exactly the registry's keys — a new operator that skips the
        audit regeneration fails here instead of silently escaping the
        net (VERDICT r6 item 4)."""
        from stellarsql_spark.registry import all_specs

        with open(os.path.join(REPO, "PLANS.md")) as f:
            rows = re.findall(r"^\| (\w+) \|", f.read(), flags=re.M)
        plan_keys = set(rows) - {"query"}
        registry = set(all_specs())
        assert plan_keys == registry, (
            f"missing from PLANS.md: {sorted(registry - plan_keys)}; "
            f"stale in PLANS.md: {sorted(plan_keys - registry)}"
        )

    def test_survey_inventory_count_matches_registry(self):
        """SURVEY.md §2's declared inventory line must equal the
        registry: total key count and full-hash-oracle count both
        (VERDICT r6 item 10 — the count drifted twice in round 6)."""
        from stellarsql_spark.registry import all_specs

        with open(os.path.join(REPO, "SURVEY.md")) as f:
            m = re.search(
                r"(\d+) `queries\(\)` keys, (\d+) with full\s+hash oracles",
                f.read(),
            )
        assert m, "SURVEY.md inventory line not found"
        specs = all_specs()
        declared_total, declared_hash = int(m.group(1)), int(m.group(2))
        assert declared_total == len(specs)
        assert declared_hash == sum(1 for s in specs.values() if s.oracle)


class TestBpeTokens:
    def test_merge_table_well_formed(self):
        """Every operand must be a single char or an earlier merge's
        result — the property the one-pass-per-rank kernel's
        equivalence proof rests on."""
        from stellarsql_spark.pipeline.textstats import BPE_MERGES, _BPE_SEP

        formed = set()
        for a, b in BPE_MERGES:
            assert len(a) == 1 or a in formed, (a, b)
            assert len(b) == 1 or b in formed, (a, b)
            assert _BPE_SEP not in (a, b)
            formed.add(a + b)
        assert len(set(BPE_MERGES)) == len(BPE_MERGES)

    def test_rank_order_passes_equal_iterative_bpe(self):
        """The kernel (one pass per merge, rank order) must produce
        the same segmentation as the textbook iterative algorithm
        (merge the best-ranked pair present, repeat) on a vocabulary
        of real words covering every merge in the table."""
        from stellarsql_spark.pipeline.textstats import BPE_MERGES, bpe_merge_pass

        ranks = {p: i for i, p in enumerate(BPE_MERGES)}

        def kernel(word):
            # same shipped merge_pass + rank loop the builder runs
            syms = list(word)
            for a, b in BPE_MERGES:
                syms = bpe_merge_pass(syms, a, b)
            return syms

        def iterative(word):
            syms = list(word)
            while True:
                pairs = {p for p in zip(syms, syms[1:]) if p in ranks}
                if not pairs:
                    return syms
                a, b = min(pairs, key=ranks.get)
                syms = bpe_merge_pass(syms, a, b)

        words = (
            "the that this thing another which with for toward professor "
            "understanding being whatever communication results proposal "
            "established interesting and or of it is at on in us harvest "
            "aaaa thththth ananan inginging xyzzy"
        ).split()
        for w in words:
            assert kernel(w) == iterative(w), w


class TestScorerWidth:
    def test_width_from_rows_not_compressed_bytes(self, tmp_path):
        """Regression pin for the round-6 single-task GEMM bug: a
        highly compressible corpus (constant vectors — compresses
        ~100:1 like the replicated .scale corpora) must still get a
        rows-proportional task count. The old bytes/8MiB formula
        returns 1 here; the footer-rows formula must not."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        from stellarsql_spark.pipeline.similarity import ROWS_PER_TASK, scorer_width

        d = tmp_path / "embeddings.parquet"
        d.mkdir()
        n = 4 * ROWS_PER_TASK
        emb = pa.array([[0.5] * 64] * n, pa.list_(pa.float32()))
        t = pa.table({"vec_id": pa.array(range(n), pa.int64()), "embedding": emb})
        pq.write_table(t, d / "part-0.parquet")
        nbytes = sum(f.stat().st_size for f in d.iterdir())
        assert nbytes < 8 << 20, "fixture must be sub-8MiB compressed"
        assert scorer_width(str(d)) == 4

    def test_width_floors_at_one(self, tmp_path):
        from stellarsql_spark.pipeline.similarity import scorer_width

        assert scorer_width(str(tmp_path / "missing.parquet")) == 1


class TestBucketCrossSessionReuse:
    def test_second_session_reuses_files_without_rewrite(self):
        """The warehouse files must survive a session restart and be
        re-registered by the metadata-only CREATE ... CLUSTERED BY
        path — file mtimes unchanged, query still answers. At a
        GiB-scale corpus the alternative is a multi-GiB rewrite per
        session."""
        import json
        import subprocess
        import sys

        probe = r"""
import json, os, sys
sys.path.insert(0, REPO)
from urllib.parse import urlparse
from pyspark.sql import SparkSession

def mtimes(warehouse, table):
    p = os.path.join(warehouse, table)
    return {f: os.stat(os.path.join(p, f)).st_mtime_ns
            for f in os.listdir(p) if not f.startswith("_")}

def one_session():
    spark = SparkSession.builder.master("local[2]").getOrCreate()
    from stellarsql_spark.sources.bucketed import ensure_custkey_bucketed
    to, tc = ensure_custkey_bucketed(spark, "/root/testdata/sf0.001")
    n = spark.table(to).count()
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    m = mtimes(warehouse, to)
    spark.stop()
    return to, n, m

to1, n1, m1 = one_session()
to2, n2, m2 = one_session()   # fresh catalog, same files expected
print(json.dumps({"same_table": to1 == to2, "same_rows": n1 == n2,
                  "same_files": m1 == m2, "n": n1}))
"""
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        out = subprocess.run(
            [sys.executable, "-c", f"REPO = {repo!r}\n" + probe],
            capture_output=True, text=True, cwd=repo, timeout=300,
        )
        assert out.returncode == 0, out.stderr[-2000:]
        res = json.loads(out.stdout.strip().splitlines()[-1])
        assert res["same_table"] and res["same_rows"] and res["n"] > 0
        assert res["same_files"], "second session rewrote the bucketed files"


class TestAdversarialCorpus:
    """Hostile-documents gate (tools/adversarial_corpus.py): 1/2-token
    docs, newlines/CRLF, double spaces, unicode, and the BPE separator
    glyph — every failure mode the round-7 audits found, pinned as a
    standing cross-engine check instead of per-incident discoveries."""

    # The n-gram/shingle family (descending-sequence ANSI crashes), the
    # byte-vs-codepoint levenshtein contract, and the line-oriented
    # text round trip — the shapes hostile text actually breaks.
    KEYS = [
        "b_llm_jaccard",
        "b_llm_contamination",
        "b_llm_curation_funnel",
        "b_llm_repetition",
        "b_llm_dsir",
        "b_llm_perplexity",
        "b_llm_winnowing",
        "b_llm_editdist",
        "b_llm_bpe_tokens",
        "b_llm_bigram_novelty",
        "b_read_text",
        # r8 late additions: the new text ops join the standing gate
        "b_llm_pmi_cooc",
        "b_llm_rake",
        "b_llm_boilerplate",
        "b_llm_cdc_chunks",
        "b_llm_zipf",
        "b_llm_phrase_search",
        # r8 second-half additions
        "b_llm_ttr",
        "b_llm_containment",
        "b_llm_vocab_coverage",
        "b_llm_fertility",
        "b_llm_feature_hashing",
        "b_llm_simhash_dedup",
        "b_llm_canonicalize",
    ]

    @staticmethod
    def _checker():
        import importlib.util

        spec = importlib.util.spec_from_file_location(
            "check_oracle", os.path.join(REPO, "tools", "check_oracle.py")
        )
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        return mod

    def test_hostile_docs_match_oracle(self, spark):
        from tools.adversarial_corpus import build

        from stellarsql_spark.registry import all_specs

        chk = self._checker()
        sf = build()
        con = chk.duck_connection(sf)
        specs = all_specs()
        failures = {}
        for key in self.KEYS:
            spec = specs[key]
            sdf = spec.builder(spark, sf).toPandas()
            ddf = con.execute(spec.oracle).df()
            problems = chk.compare(key, sdf, ddf)
            if problems:
                failures[key] = problems
        assert not failures, failures

    def test_lsh_path_survives_hostile_docs(self, spark):
        """The rows-only LSH key has no oracle; it must simply run to
        completion on sub-shingle-length docs (it crashed pre-fix)."""
        from tools.adversarial_corpus import build

        from stellarsql_spark.pipeline.dedup import b_llm_dedup_near

        sf = build()
        b_llm_dedup_near(spark, sf).collect()  # must not raise
