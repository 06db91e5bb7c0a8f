"""Tokenizer-train block lane (round-12 optimization): pin the
single-task replay (_tok_train_block / _bpe_encode_block /
_bpe_apply_py) row-identical to the distributed window-chain lane on
a crafted tie-heavy corpus AND on the sf0.001 fixture. The block lane
is pure integer/string arithmetic, so equality is exact — any drift
is a bug, not tolerance."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

import demo_segmenter_spark.operators.layer_c as lc
from demo_segmenter_spark.sources import load_table

SF_DIR = "/root/testdata/sf0.001"

# Tie-heavy corpus: 'a b' and 'b a' tie on count in round 1 (lexicographic
# (a, b) tiebreak must pick 'a b'); 'c c c' exercises the overlap-run rule
# (exactly ONE merge); doc 4 repeats units so the WP likelihood argmax
# diverges from the BPE count argmax.
_CRAFT = [
    (1, "a b a b b a"),
    (2, "b a c c c a b"),
    (3, "x y x y x x"),
    (4, "q q q r r q"),
]


def _craft_docs(spark):
    return spark.createDataFrame(_CRAFT, "doc_id long, text string")


def _distributed_bests(docs, rule, rounds):
    """The pre-block distributed train chain, collected per round."""
    toks = lc._bpe_tokenize0(docs)
    bests = []
    for _ in range(rounds):
        aug = lc._bpe_aug(toks)
        if rule == "wp":
            ucnt = toks.groupBy("tok").agg(F.count("*").alias("uc"))
            best = lc._wp_argmax(aug, ucnt)
        else:
            best = lc._bpe_argmax(aug)
        m, toks = lc._bpe_apply(aug, best)
        n_merges = m.agg(
            F.sum(F.when(F.col("merged"), 1).otherwise(0))
        ).first()[0]
        row = best.first().asDict()
        row["n_merges"] = n_merges
        bests.append(row)
    return bests, toks


@pytest.mark.parametrize("rule", ["bpe", "wp"])
@pytest.mark.parametrize("corpus", ["craft", "fixture"])
def test_block_train_matches_distributed(spark, rule, corpus):
    docs = (
        _craft_docs(spark)
        if corpus == "craft"
        else load_table(spark, SF_DIR, "documents")
    )
    rounds = lc.BPE_ROUNDS if rule == "bpe" else lc.WP_ROUNDS
    art = lc._tok_train_block(docs, rule, rounds)
    assert art is not None, 'fixture must be below CAPS["tok"]'
    bests_b, units_b, fvocab_b = art
    bests_d, toks_d = _distributed_bests(docs, rule, rounds)
    for bb, bd in zip(bests_b, bests_d):
        assert bb["a"] == bd["ba"] and bb["b"] == bd["bb"]
        assert bb["c"] == bd["pair_count"]
        assert bb["n_merges"] == bd["n_merges"]
        if rule == "wp":
            assert (bb["ca"], bb["cb"], bb["sq"]) == (
                bd["ca"], bd["cb"], bd["sq"],
            )
    # t0 unit counts == the distributed tokenize0 aggregation
    t0_counts = {
        r["tok"]: r["c"]
        for r in lc._bpe_tokenize0(docs)
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
        .collect()
    }
    assert units_b == t0_counts
    # final vocabulary == distinct final tokens of the distributed lane
    fvocab_d = {r["tok"] for r in toks_d.select("tok").distinct().collect()}
    assert fvocab_b == fvocab_d


@pytest.mark.parametrize("corpus", ["craft", "fixture"])
def test_block_encode_matches_distributed(spark, corpus):
    docs = (
        _craft_docs(spark)
        if corpus == "craft"
        else load_table(spark, SF_DIR, "documents")
    )
    bests_d, toks_d = _distributed_bests(docs, "bpe", lc.BPE_ROUNDS)
    merges = [(d["ba"], d["bb"]) for d in bests_d]
    enc_b = lc._bpe_encode_block(docs, merges)
    assert enc_b.exceptAll(toks_d).count() == 0
    assert toks_d.exceptAll(enc_b).count() == 0


def test_overlap_run_single_walk():
    """'c c c' under pair (c, c): exactly one merge (odd-indexed rule),
    and 'c c c c' merges twice — the SQL run semantics, replayed by the
    plain left-to-right walk."""
    out, m = lc._bpe_apply_py(["c", "c", "c"], "c", "c")
    assert out == ["c_c", "c"] and m == 1
    out, m = lc._bpe_apply_py(["c", "c", "c", "c"], "c", "c")
    assert out == ["c_c", "c_c"] and m == 2


def test_capped_vocab_py_total_order(spark):
    docs = load_table(spark, SF_DIR, "documents")
    art = lc._wp_artifacts(docs.filter(F.col("doc_id") % 2 == 0))
    assert art is not None
    bests_d, units = art
    vocab_py = lc._wp_capped_vocab_py(units, bests_d)
    train = docs.filter(F.col("doc_id") % 2 == 0)
    _, t0, _, bests, _ = lc._wp_train_docs(train)
    vocab_df = lc._wp_capped_vocab(t0, bests)
    assert vocab_py == vocab_df
