"""Unigram-LM (SentencePiece-style) tokenizer: third-implementation
check (repo discipline for every trained algorithm — the DuckDB oracle
is replay #2, this pure-Python EM is replay #3), plus the DP-depth
guard the UNI_LMAX unroll relies on."""

from __future__ import annotations

import math

import duckdb

from demo_segmenter_spark.operators.layer_c import (
    UNI_LMAX,
    UNI_MAXP,
    UNI_ROUNDS,
    UNI_SEED,
)
from demo_segmenter_spark.registry import REGISTRY, load_all_operators
from tests.conftest import SF_SMOKE

load_all_operators()


def _corpus():
    rows = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{SF_SMOKE}/documents.parquet')"
    ).fetchall()
    return [(d, t.split(" ")) for d, t in rows]


def _train_python(corpus):
    """Pure-Python replay: seed -> UNI_ROUNDS hard-EM rounds. Returns
    (uwords, [counts_r], [ilogp_r])."""
    uwords: dict[str, int] = {}
    for _, words in corpus:
        for w in words:
            uwords[w] = uwords.get(w, 0) + 1

    seed: dict[str, int] = {}
    for w, f in uwords.items():
        for s in range(len(w)):
            for l in range(1, min(UNI_MAXP, len(w) - s) + 1):
                p = w[s : s + l]
                seed[p] = seed.get(p, 0) + f
    ranked = sorted(seed.items(), key=lambda kv: (-kv[1], kv[0]))
    cnt0 = {
        p: c
        for i, (p, c) in enumerate(ranked)
        if i < UNI_SEED or len(p) == 1
    }

    def ilogp_of(cnts):
        tot, nv = sum(cnts.values()), len(cnts)
        return {
            p: round(math.log((c + 1.0) / (tot + nv)) * 1_000_000 + 1e-4)
            for p, c in cnts.items()
        }

    def viterbi(word, lp):
        dp = [None] * (len(word) + 1)
        dp[0] = (0, None, None)  # (score, bp_piece, bp_len)
        for pos in range(1, len(word) + 1):
            best = None
            for l in range(1, min(UNI_MAXP, pos) + 1):
                piece = word[pos - l : pos]
                if piece in lp and dp[pos - l] is not None:
                    cand = (-(dp[pos - l][0] + lp[piece]), l, piece)
                    if best is None or cand < best:
                        best = cand
            dp[pos] = (-best[0], best[2], best[1])
        segs, cur = [], len(word)
        while cur >= 1:
            _, piece, l = dp[cur]
            segs.append(piece)
            cur -= l
        return list(reversed(segs))

    cnts, lps = [cnt0], [ilogp_of(cnt0)]
    for _ in range(UNI_ROUNDS):
        used = {p: 0 for p in cnt0}
        for w, f in uwords.items():
            for piece in viterbi(w, lps[-1]):
                used[piece] += f
        cnts.append(used)
        lps.append(ilogp_of(used))
    return uwords, cnts, lps, viterbi


def test_word_length_within_dp_depth(spark):
    # The UNI_LMAX=8 unroll covers every fixture word; a longer word
    # would silently get NO dp level at its length and drop out of the
    # segmentation — this guard turns that into a loud failure.
    (maxlen,) = duckdb.sql(
        f"""SELECT max(len(w)) FROM (SELECT unnest(string_split(text, ' '))
            AS w FROM read_parquet('{SF_SMOKE}/documents.parquet'))"""
    ).fetchone()
    assert maxlen <= UNI_LMAX, maxlen


def test_unigram_train_matches_python_reference(spark):
    corpus = _corpus()
    _, cnts, lps, _ = _train_python(corpus)
    expected = set()
    for r in range(UNI_ROUNDS + 1):
        for p, c in cnts[r].items():
            expected.add((r, p, c, lps[r][p]))
    got = {
        (r.round, r.piece, r.piece_count, r.ilogp)
        for r in REGISTRY["c_token_unigram"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected, (
        len(got), len(expected), sorted(got ^ expected)[:5]
    )


def test_unigram_encode_matches_python_reference(spark):
    corpus = _corpus()
    uwords, _, lps, viterbi = _train_python(corpus)
    seg_of = {w: viterbi(w, lps[-1]) for w in uwords}
    expected = set()
    for doc_id, words in corpus:
        n_pieces = sum(len(seg_of[w]) for w in words)
        for wpos, w in enumerate(words, start=1):
            for seg_idx, piece in enumerate(seg_of[w], start=1):
                expected.add((doc_id, wpos, seg_idx, piece, n_pieces))
    got = {
        (r.doc_id, r.wpos, r.seg_idx, r.piece, r.n_pieces)
        for r in REGISTRY["c_token_unigram_encode"]
        .fn(spark, SF_SMOKE)
        .collect()
    }
    assert got == expected, (len(got), len(expected))
    # segmentation is a real cover: pieces concatenate back to words
    for w, segs in seg_of.items():
        assert "".join(segs) == w


def test_unigram_prune_matches_python_reference(spark):
    from demo_segmenter_spark.operators.layer_c import UNI_KEEP

    corpus = _corpus()
    uwords, cnts, lps, viterbi = _train_python(corpus)

    # prune: top UNI_KEEP by EM-2 count (cnt DESC, piece tiebreak) +
    # all single chars; renormalize; one more hard-EM round
    ranked = sorted(cnts[-1].items(), key=lambda kv: (-kv[1], kv[0]))
    pruned = {
        p: c
        for i, (p, c) in enumerate(ranked)
        if i < UNI_KEEP or len(p) == 1
    }

    def ilogp_of(c):
        tot, nv = sum(c.values()), len(c)
        return {
            p: round(math.log((v + 1.0) / (tot + nv)) * 1_000_000 + 1e-4)
            for p, v in c.items()
        }

    lp_p = ilogp_of(pruned)
    used = {p: 0 for p in pruned}
    for w, f in uwords.items():
        for piece in viterbi(w, lp_p):
            used[piece] += f
    lp3 = ilogp_of(used)
    expected = {(p, c, lp3[p]) for p, c in used.items()}
    got = {
        (r.piece, r.piece_count, r.ilogp)
        for r in REGISTRY["c_token_unigram_prune"].fn(spark, SF_SMOKE).collect()
    }
    assert got == expected, (len(got), len(expected), sorted(got ^ expected)[:5])
    # the prune actually bit: survivor set smaller than the seed vocab
    assert len(got) < len(cnts[0])


def test_unigram_decode_round_trips_whole_corpus(spark):
    # The decode query's in-schema certificate: every corpus doc must
    # rebuild byte-identically (round_trip == 1), with piece counts
    # consistent with the encode query's per-doc totals.
    rows = REGISTRY["c_token_unigram_decode"].fn(spark, SF_SMOKE).collect()
    assert rows
    assert all(r.round_trip == 1 for r in rows)
    enc = {}
    for r in REGISTRY["c_token_unigram_encode"].fn(spark, SF_SMOKE).collect():
        enc[r.doc_id] = r.n_pieces
    for r in rows:
        assert enc[r.doc_id] == r.n_pieces, (r.doc_id, r.n_pieces)


def test_unigram_decode_crafted_multi_segmentation(spark):
    # Crafted words where the Viterbi tiebreak decides the segmentation
    # — the rebuild must be byte-exact whichever path wins, including
    # the all-single-char fallback for words no multi-char piece
    # covers. Feeds _unigram_viterbi a crafted vocab directly: 'abab'
    # has paths ab|ab, a|ba|b, ... with engineered ties; 'zzz' only
    # has the char fallback; 'aba' forces a mixed path.
    from pyspark.sql import functions as F

    from demo_segmenter_spark.operators.layer_c import _unigram_viterbi

    words = ["abab", "aba", "zzz", "a", "baab"]
    vocab = [
        ("ab", 2, -100_000),
        ("ba", 2, -100_000),  # exact tie with 'ab' on every score path
        ("a", 1, -900_000),
        ("b", 1, -900_000),
        ("z", 1, -1_200_000),
    ]
    uwords = spark.createDataFrame(
        [(w,) for w in words], "word string"
    ).withColumn("wfreq", F.lit(1).cast("long"))
    vdf = spark.createDataFrame(vocab, "piece string, l long, ilogp long")
    paths = _unigram_viterbi(uwords, vdf).collect()
    by_word = {}
    for r in paths:
        by_word.setdefault(r.word, []).append((r.end_pos, r.piece, r.l))
    for w in words:
        segs = sorted(by_word[w])
        # contiguous exact cover: spans tile 1..len(w) and concatenate
        # back to the word
        assert "".join(p for _, p, _ in segs) == w, (w, segs)
        cur = 0
        for end, p, l in segs:
            assert end - l == cur and w[cur:end] == p, (w, segs)
            cur = end
    # the tie case: 'abab' must pick the 2-piece path (score beats the
    # char path) and the (score, piece_len, piece) total order makes
    # the winner 'ab|ab' deterministically ('ab' < 'ba' at equal score
    # and length never even ties here since 'ba' cannot tile 'abab')
    assert [p for _, p, _ in sorted(by_word["abab"])] == ["ab", "ab"]
    # char-fallback-only word segments into singles
    assert [p for _, p, _ in sorted(by_word["zzz"])] == ["z", "z", "z"]
    # mixed path: 'aba' = ab|a or a|ba — equal scores; the tiebreak at
    # pos 3 compares (score, l, piece): 'a' (l=1) vs 'ba' (l=2) at the
    # SAME total score -> the shorter final piece wins, giving ab|a
    assert [p for _, p, _ in sorted(by_word["aba"])] == ["ab", "a"]


def test_bpe_decode_round_trips_whole_corpus(spark):
    # decode inverts the reserved '_' merge joiner; that inversion is
    # only sound if the raw vocabulary never contains it — assert both
    rows = REGISTRY["c_token_bpe_decode"].fn(spark, SF_SMOKE).collect()
    assert rows and all(r.round_trip == 1 for r in rows)
    import duckdb

    n_underscore = duckdb.sql(
        f"SELECT count(*) FROM (SELECT unnest(string_split(text, ' ')) t "
        f"FROM read_parquet('{SF_SMOKE}/documents.parquet')) "
        "WHERE t LIKE '%\\_%' ESCAPE '\\'"
    ).fetchone()[0]
    assert n_underscore == 0
