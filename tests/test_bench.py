"""bench.py: the host-fit rule that skips a depth tier whose corpus
will not fit on disk, and the compact stdout line's size bound (the
driver keeps only the last 2000 chars of stdout).  Only the corpus-dir
check starts Spark."""

from __future__ import annotations

import json
import os

import bench

SF_SMALL = "/root/testdata/sf0.001"


def _huge_tier():
    # base bytes × 10⁹ is far past any free disk
    return bench.TIERS[0]._replace(factor=10**9)


def _run_nothing(tier, share_end):
    raise AssertionError(f"{tier.key} should not run")


def test_corpus_larger_than_free_disk_is_skipped(tmp_path):
    tier = _huge_tier()
    assert bench.corpus_bytes(SF_SMALL, tier, str(tmp_path)) > 10**12
    out = bench.run_tiers([tier], _run_nothing, SF_SMALL, str(tmp_path))
    assert out[tier.key]["skipped"].startswith("disk")


def test_built_corpus_costs_nothing(tmp_path):
    tier = _huge_tier()
    home = tmp_path / ("sf0.001" + tier.corpus.suffix.format(tier.factor))
    home.mkdir()
    (home / "_SCALED_DONE").write_text("fingerprint")
    assert bench.corpus_bytes(SF_SMALL, tier, str(tmp_path)) == 0
    out = bench.run_tiers(
        [tier], lambda t, share_end: {"ran": True}, SF_SMALL, str(tmp_path)
    )
    assert out[tier.key]["ran"]


def test_corpus_estimate_counts_only_replicated_tables(tmp_path):
    tier = next(t for t in bench.TIERS if t.key == "scale_probe_graph")
    base = {
        t: os.path.getsize(os.path.join(SF_SMALL, f"{t}.parquet"))
        for t in bench.TABLES
    }
    assert bench.corpus_bytes(SF_SMALL, tier, str(tmp_path)) == (
        sum(base.values()) + (tier.factor - 1) * base["events"]
    )


def test_tier_corpus_dirs_match_their_builders(spark, tmp_path):
    """The disk rule finds a built corpus by bench's directory suffixes;
    they must name the directories scale.py's builders write, or a
    built corpus would be charged its full size again."""
    from stellarsql_spark import scale

    root = str(tmp_path)
    scale.ensure_scaled_corpus(spark, SF_SMALL, 2, out_root=root)
    scale.ensure_scaled_corpus(spark, SF_SMALL, 2, out_root=root, tables=bench._DEEP_TABLES)
    scale.ensure_skewed_corpus(spark, SF_SMALL, 2, out_root=root)
    scale.ensure_graph_corpus(spark, SF_SMALL, 2, out_root=root)
    for tier in bench.TIERS:
        assert bench.corpus_bytes(SF_SMALL, tier._replace(factor=2), root) == 0, tier.key


def _full_result() -> dict:
    """Every tier fully populated: all keys, 4-decimal times, every key
    shed, contended."""
    result = {
        "metric": "headline_query_latency_sum",
        "value": 12.3456,
        "unit": "sec",
        "queries": {k: 1.2345 for k in bench.HEADLINE},
        "sf": "/root/testdata/sf0.1",
        "floor": {"noop": 0.0512, "shuffle": 0.1034},
        "host": {"nproc": 128, "mem_available_mb": 1234567,
                 "free_disk_mb": 12345678, "cpus": 128},
    }
    for tier in bench.TIERS:
        if tier.action:
            result[tier.key] = {
                "rows_per_sec": 12345678,
                "rows_per_sec_megabatch": 12345678,
                "rows_per_sec_append": 12345678,
                "socket": {"rows_per_sec": 1234567},
                "socket_sustained": {"max_steady_batch_ms": 12345},
                "trigger_curve_sec": {"1": 123.456, "2": 123.456,
                                      "3": 123.456, "6": 123.456},
            }
            continue
        times = {k: 1234.5678 for k in tier.keys}
        result[tier.key] = {
            "floor": {"noop": 0.1234, "shuffle": 0.1234},
            "load": 123.4,
            "floor_ratio": 12.34,
            "queries": times,
            "spread": times,
            "ratio_vs_duckdb": {k: 123.45 for k in tier.keys},
            "trial_shed": list(tier.keys),
            "contended": True,
        }
    return result


def test_compact_line_fits_with_every_tier_populated():
    result = _full_result()
    line = bench._compact(result)
    assert len(line) <= 1900
    out = json.loads(line)
    assert out["value"] == result["value"]
    assert out["queries"] == result["queries"]
    assert set(out["scale"]) == {t.tag for t in bench.TIERS if not t.action}
    for blk in out["scale"].values():
        assert blk["r"] and blk["ts"]   # ratios and the cut always survive
    assert "rps1" in out["stream"]
