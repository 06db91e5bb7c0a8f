"""Block lanes — the small-input tier of the iterative operators.

Several operator families (graph rounds, the embedding chains,
tokenizer training, unigram EM, DoReMi weights, NN-descent, the
shingle-pair chain of the near-dup and n-gram eval queries) run an
unrolled distributed chain of exchanges whose per-round data fits one
task by orders of magnitude at fixture scale. Below a per-family row
cap, ``block_lane`` coalesces the input into ONE partition and a
``mapInPandas`` kernel replays the whole algorithm in numpy; above
it, the caller's distributed chain runs unchanged (the 100 TB path).
The lane is lazy: the kernel runs when the caller's result does, and
the gate reads a bare parquet scan's row count from its footers
(``exceeds_cap``), so a gated query over a table builds without a
Spark job. The tokenizer lane trains and encodes in that one task.
The kernels follow the house bit-exactness discipline: integer
arithmetic where possible, left folds as cumulative sums, and every
``rnd()`` replayed through ``np_rnd``'s HALF_UP + Decimal audit.
Lane-on/lane-off row identity is pinned in tests/test_lanes.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from demo_segmenter_spark.functions.cache import exceeds_cap
from demo_segmenter_spark.functions.compat import EPS

# Row caps per lane family, read at CALL time: the block lane runs
# when the gated input holds at most this many rows, and -1 forces the
# distributed chain (tests and scripts patch this table in-process,
# e.g. ``monkeypatch.setitem(lanes.CAPS, "emb", -1)``).
# - graph: edge-list rows. 1 M edges (~16 MB) read 1.65 s in the lane
#   vs 2.91 s distributed for pagerank at sf0.1 (590 k pairs); a box
#   that charges first-touch page faults to fresh worker memory loses
#   that race above ~250 k.
# - emb, nd: corpus vectors (sf0.1 = 2 000 × 64 doubles ≈ 1 MB).
# - tok: documents. The BPE lane trains the merges and emits the encoded
#   corpus from one task (layer_c._bpe_encode_lane); at sf0.1 (5 000
#   docs, 2.7 M tokens) its numpy replay trains in about 0.07 s on one
#   core of a 4-core Xeon.
# - uni: distinct words (the unigram DP's work unit).
# - doremi: (domain, token) count rows — vocabulary × domains sized.
# - shingle: documents. c_dedup_ngram on sf0.1 docs replicated into
#   disjoint (lang, source) blocks, 4 cores, lane vs chain (best of 2
#   warm runs): 5 k 0.84 vs 1.83 s, 20 k 1.77 vs 2.69 s, 50 k 3.72 vs
#   5.59 s, 100 k 6.81 vs 8.64 s, 200 k 14.69 vs 22.62 s. The lane won
#   at every size, so there is no crossover on 4 cores; the cap stops
#   at 100 k because the lane is one core's work and the chain's share
#   grows with the core count.
CAPS: dict[str, int] = {
    "graph": 1_000_000,
    "emb": 20_000,
    "tok": 200_000,
    "uni": 200_000,
    "doremi": 500_000,
    "nd": 20_000,
    "shingle": 100_000,
}


def block_lane(
    df: DataFrame, family: str, kernel, schema: str
) -> DataFrame | None:
    """The one lane gate: ``df``'s single coalesced partition feeds
    ``kernel`` (an iterator-of-pandas replay) when ``df`` holds at most
    ``CAPS[family]`` rows; returns None above the cap, where the caller
    runs its distributed chain. The gate (``exceeds_cap``) reads a
    bare parquet scan's footers and otherwise runs a bounded probe,
    not a full count, so deciding the lane above the cap costs no pass
    over the input."""
    if exceeds_cap(df, CAPS[family]):
        return None
    return df.coalesce(1).mapInPandas(kernel, schema)


def np_rnd(n: int):
    """numpy twin of rnd(col, n): HALF_UP (away-from-zero) rounding of
    x + EPS[n] to n decimals, with a Decimal audit of knife-edge
    values (|scaled frac − .5| < 1e-6) where binary floor(+0.5) could
    disagree with Spark's BigDecimal(shortest-repr) reading. The audit
    set is empty on every fixture (the EPS nudge keeps true values off
    exact halves); it exists so a lane can never silently diverge."""
    import numpy as np

    eps = EPS[n]
    scale = 10.0 ** n

    def r(x):
        y = np.asarray(x, dtype=np.float64) + eps
        ay = np.abs(y)
        scaled = ay * scale
        out = np.floor(scaled + 0.5)
        # audit on raveled views so n-dim inputs (the (n, K) sim
        # matrices) index correctly
        flat_s, flat_a, flat_o = scaled.ravel(), ay.ravel(), out.reshape(-1)
        risky = np.flatnonzero(
            np.abs((flat_s - np.floor(flat_s)) - 0.5) < 1e-6
        )
        if len(risky):
            from decimal import ROUND_HALF_UP, Decimal

            q = Decimal(1).scaleb(-n)
            for i in risky:
                flat_o[i] = float(
                    Decimal(repr(float(flat_a[i]))).quantize(
                        q, rounding=ROUND_HALF_UP
                    )
                ) * scale
        return np.where(y < 0, -out, out) / scale + 0.0

    return r


def np_gather(batches, cols):
    """Concatenate the named int64 columns across a partition's
    pandas batches."""
    import numpy as np

    out = {c: [] for c in cols}
    for pdf in batches:
        if len(pdf):
            for c in cols:
                out[c].append(pdf[c].to_numpy(dtype=np.int64))
    empty = np.empty(0, dtype=np.int64)
    return [
        (np.concatenate(out[c]) if out[c] else empty) for c in cols
    ]


def emb_gather(batches):
    """vec_id-ascending (ids, X float64 matrix) from a partition's
    (vec_id, embedding) pandas batches — float32→float64 elementwise
    (exact, the as_double twin)."""
    import numpy as np

    ids_l, rows = [], []
    for pdf in batches:
        if len(pdf):
            ids_l.append(pdf["vec_id"].to_numpy(dtype=np.int64))
            rows.append(np.array(pdf["embedding"].tolist(), dtype=np.float64))
    if not ids_l:
        return np.empty(0, dtype=np.int64), np.empty((0, 0))
    ids = np.concatenate(ids_l)
    X = np.concatenate(rows)
    order = np.argsort(ids, kind="stable")
    return ids[order], X[order]
