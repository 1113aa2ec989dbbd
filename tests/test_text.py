"""Semantic properties of the text operators, beyond oracle hash
parity: the vocabulary coverage curve and fertility by language."""

from __future__ import annotations

from tests.conftest import SF_SMALL


def test_vocab_coverage_curve_monotone(spark):
    from map_reduce_lite_spark.ops.text import COVERAGE_KS, vocab_coverage

    rows = {r["k"]: r for r in vocab_coverage(spark, SF_SMALL).collect()}
    assert sorted(rows) == sorted(COVERAGE_KS)
    prev_cov = -1
    total = next(iter(rows.values()))["total_tokens"]
    for k in sorted(rows):
        r = rows[k]
        assert r["total_tokens"] == total  # one corpus total, repeated
        assert r["covered_tokens"] >= prev_cov  # larger vocab covers more
        assert 0 < r["covered_tokens"] <= total
        assert 0 < r["coverage_bps"] <= 10000
        assert r["coverage_bps"] == (10000 * r["covered_tokens"]) // total
        prev_cov = r["covered_tokens"]


def test_fertility_totals_reconcile_with_token_stats(spark):
    """Language strata partition the corpus: per-language token totals must
    sum to the same corpus totals token_stats reports per source."""
    from map_reduce_lite_spark.ops.text import fertility_by_lang, token_stats

    fert = fertility_by_lang(spark, SF_SMALL).collect()
    ts = token_stats(spark, SF_SMALL).collect()
    assert sum(r["total_ws_tokens"] for r in fert) == sum(
        r["total_ws_tokens"] for r in ts
    )
    assert sum(r["total_bpe_tokens"] for r in fert) == sum(
        r["total_bpe_tokens"] for r in ts
    )
    for r in fert:
        # every whitespace word contains ≥1 regex token, so fertility ≥ 1×
        assert r["fertility_bps"] >= 10000, r
