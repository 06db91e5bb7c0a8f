"""The tokenizer block lane's numpy replay (``layer_c._tok_np_train``
and its merge pass ``_tok_np_merge``) on seeded, tie-heavy random
corpora: small alphabets, repeated units and ``c c c c`` overlap runs.
Training is compared with the distributed window chain for both
selection rules (every argmax field, the t0 unit counts and the final
vocabulary); the merge pass is compared with the reference walk
``_bpe_apply_py``. Everything is integer/string, so equality is exact."""

from __future__ import annotations

import random
from collections import Counter

import numpy as np
import pyspark.sql.functions as F
import pytest

import demo_segmenter_spark.operators.layer_c as lc
from tests.test_tok_block import _distributed_bests

SEEDS = range(6)


def _words(rng: random.Random, alphabet: list, n: int) -> list:
    """``n``-ish tokens: single draws, ``x x x x`` runs of one unit and
    repeated ``x y`` pairs, so counts tie often and runs overlap."""
    ws: list = []
    while len(ws) < n:
        r = rng.random()
        u = rng.choice(alphabet)
        if r < 0.25:
            ws += [u] * rng.randint(2, 5)
        elif r < 0.45:
            ws += [u, rng.choice(alphabet)] * rng.randint(1, 3)
        else:
            ws.append(u)
    return ws


def _corpus(seed: int) -> list:
    rng = random.Random(seed)
    alphabet = ["a", "b", "c", "dd", "a_b"][: rng.randint(2, 5)]
    return [
        (d, " ".join(_words(rng, alphabet, rng.randint(6, 18))))
        for d in range(rng.randint(3, 9))
    ]


@pytest.mark.parametrize("rule", ["bpe", "wp"])
@pytest.mark.parametrize("seed", SEEDS)
def test_np_train_matches_distributed_chain(spark, rule, seed):
    corpus = _corpus(seed)
    rounds = lc.BPE_ROUNDS if rule == "bpe" else lc.WP_ROUNDS
    codes, _, vocab, bests, units = lc._tok_np_train(
        [t for _, t in corpus], rule, rounds
    )
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    bests_d, toks_d = _distributed_bests(docs, rule, rounds)
    assert len(bests) == len(bests_d) == rounds
    for r, (bb, bd) in enumerate(zip(bests, bests_d), start=1):
        assert bb["rnd"] == r
        assert (bb["a"], bb["b"], bb["c"], bb["n_merges"]) == (
            bd["ba"], bd["bb"], bd["pair_count"], bd["n_merges"],
        ), (seed, r)
        if rule == "wp":
            assert (bb["ca"], bb["cb"], bb["sq"]) == (
                bd["ca"], bd["cb"], bd["sq"],
            ), (seed, r)
    t0_counts = {
        r["tok"]: r["c"]
        for r in lc._bpe_tokenize0(docs)
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
        .collect()
    }
    assert units == t0_counts
    fvocab_d = {r["tok"] for r in toks_d.select("tok").distinct().collect()}
    assert set(vocab[np.unique(codes)].tolist()) == fvocab_d


def test_np_merge_matches_reference_walk():
    rng = random.Random(13)
    for _ in range(400):
        alphabet = ["a", "b", "c", "a_b", "b_c"][: rng.randint(1, 5)]
        docs = [
            _words(rng, alphabet, rng.randint(1, 12))
            for _ in range(rng.randint(1, 5))
        ]
        codes, doc, vocab = lc._tok_np_codes([" ".join(ws) for ws in docs])
        a, b = (rng.randrange(len(vocab)) for _ in range(2))
        before = codes.copy()
        codes2, doc2, vocab2, n = lc._tok_np_merge(codes, doc, vocab, a, b)
        assert (codes == before).all()  # the input is not modified
        assert list(vocab2) == sorted(vocab2) and len(set(vocab2)) == len(
            vocab2
        )
        want, want_n = [], 0
        for ws in docs:
            out, m = lc._bpe_apply_py(ws, vocab[a], vocab[b])
            want.append(out)
            want_n += m
        assert n == want_n
        got = vocab2[codes2].tolist()
        assert got == [w for ws in want for w in ws]
        assert Counter(doc2.tolist()) == {
            d: len(ws) for d, ws in enumerate(want)
        }
