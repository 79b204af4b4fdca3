"""Incremental shard dedup (operators/dedup.py:
incremental_dedup_verdicts) — the never-re-signature-the-corpus path.

Pins the verdict semantics on a hand-built corpus/shard pair (corpus
hit, within-shard dup, contaminated component, unique doc, short doc),
the canonical-wins rule and cap invariance.
"""

import pytest

from jochre3_ocr_spark.operators.dedup import (
    incremental_dedup_verdicts,
    minhash_band_table,
)

# 12+ tokens so every doc clears the 3-shingle minimum comfortably
_A = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
_B = "one two three four five six seven eight nine ten eleven twelve"
_C = "red orange yellow green blue indigo violet cyan magenta black white gray"
_D = "north south east west up down left right front back inner outer"


@pytest.fixture(scope="module")
def split(spark):
    corpus = spark.createDataFrame(
        [("c1", _A), ("c2", _B)], "doc_id string, text string"
    )
    shard = spark.createDataFrame(
        [
            ("s1", _A),   # exact copy of c1 → corpus dup
            ("s2", _C),   # within-shard dup group {s2, s3}, clean
            ("s3", _C),
            ("s4", _D),   # unique → kept
            ("s5", _B),   # component {s5, s6} touches c2 via s5
            ("s6", _B),
            ("s7", "just two"),  # < 3 tokens: no bands, singleton
        ],
        "doc_id string, text string",
    )
    return corpus, shard


def _verdicts(corpus, shard, **kw):
    bt = minhash_band_table(corpus)
    rows = incremental_dedup_verdicts(shard, bt, **kw).collect()
    return {r.doc_id: r for r in rows}


class TestIncrementalDedup:
    def test_verdict_semantics(self, split):
        corpus, shard = split
        v = _verdicts(corpus, shard)
        assert set(v) == {f"s{i}" for i in range(1, 8)}
        # corpus hit: dropped, canonical is the existing doc
        assert not v["s1"].keep and v["s1"].duplicate_of == "c1"
        # clean within-shard group: min kept, other points at it
        assert v["s2"].keep and v["s2"].duplicate_of is None
        assert not v["s3"].keep and v["s3"].duplicate_of == "s2"
        # unique and short docs: kept singletons
        assert v["s4"].keep and v["s4"].duplicate_of is None
        assert v["s7"].keep and v["s7"].duplicate_of is None
        # contaminated component: BOTH members dropped toward the
        # standing canonical — no second canonical elected in the shard
        assert not v["s5"].keep and v["s5"].duplicate_of == "c2"
        assert not v["s6"].keep and v["s6"].duplicate_of == "c2"

    def test_cluster_ids_cover_shard(self, split):
        corpus, shard = split
        v = _verdicts(corpus, shard)
        assert v["s2"].cluster_id == "s2" and v["s3"].cluster_id == "s2"
        assert v["s5"].cluster_id == "s5" and v["s6"].cluster_id == "s5"
        assert v["s7"].cluster_id == "s7"

    def test_cap_invariance(self, split):
        """max_bucket=2 (forces the star-link tail path on the
        4-member identical-band buckets) and an uncapped build must
        produce byte-identical verdicts."""
        corpus, shard = split
        base = _verdicts(corpus, shard)
        for kw in ({"max_bucket": 2}, {"max_bucket": None}):
            got = _verdicts(corpus, shard, **kw)
            assert {k: tuple(r) for k, r in got.items()} == {
                k: tuple(r) for k, r in base.items()
            }, kw

    def test_empty_corpus_degenerates_to_self_dedup(self, spark, split):
        """With an empty band table every clean component keeps its
        min — equivalent to deduping the shard alone."""
        corpus, shard = split
        empty = minhash_band_table(corpus.limit(0))
        v = {
            r.doc_id: r
            for r in incremental_dedup_verdicts(shard, empty).collect()
        }
        assert v["s1"].keep  # no corpus to collide with any more
        assert v["s5"].keep and not v["s6"].keep
        assert v["s6"].duplicate_of == "s5"
