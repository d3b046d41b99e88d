"""Unigram-LM tokenizer fitting (Kudo 2018, "Subword Regularization";
the SentencePiece unigram trainer) — one EM iteration, distributed.
The second of the two tokenizer-training algorithms real pipelines run
(operators/bpe.py is the other).

Fitted-artifact split (the bpe.py / fit_ivf_centroids convention): the
only corpus-scale work is the word-frequency pass; everything after
runs against the bounded (word, freq) vocabulary frame. The seed piece
inventory (all substrings up to length 4, counted weighted by word
frequency, capped deterministically) is a bounded artifact collected
to the driver and closed over by the Arrow E-step kernel — exactly how
the BPE merge table ships. The E-step itself is DISTRIBUTED: one
forward-backward per distinct word (O(len * max_piece_len) lattice,
float64 — deterministic per word since the lattice order is fixed),
emitting per-(word, piece) expected counts ROUNDED TO INTEGER MICRO
inside the kernel, so the cross-word aggregation is an exact int64
sum — no float summation-order nondeterminism ever reaches a result
(the repo's decimal/micro discipline). The M-step renormalizes the
aggregated micro counts with the staged truncating div.

EM guarantee pinned by the gate: one step cannot decrease the corpus
log-likelihood (sum over words of freq * ln Z_w, accumulated in integer
micro), and the re-estimated probabilities stay normalized to within
one micro per piece. Real trainers iterate this step and prune
low-probability pieces between rounds; the single registered step is
the semantic unit (the loop is a driver-side fold over it, like the
BPE merge loop).

At 100 TB: the word-frequency pass sees the data once; the vocabulary
frame is bounded by the language (plus the deterministic cap), the
piece table is a few KB, and the E-step shuffles only (piece, micro)
partial aggregates.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from etl_from_s3_to_postgresql_template_spark.util import shared_subtree

__all__ = ["seed_pieces", "em_step", "viterbi_encode", "MAX_PIECE_LEN"]

MAX_PIECE_LEN = 4
_MAX_WORD_LEN = 64  # float64 underflow guard: lattice Z > 1e-300 easily


def seed_pieces(
    wf: DataFrame, max_multichar: int = 512
) -> tuple[list[tuple[str, int]], int]:
    """Seed inventory from the vocabulary frame: every substring of
    length 1..MAX_PIECE_LEN, counted weighted by word frequency
    (distributed explode + groupBy). ALL single characters are kept
    (coverage guarantee); multi-character pieces are capped to the top
    ``max_multichar`` by (count desc, piece asc) — deterministic.
    Returns (sorted [(piece, seed_count)], total_count) — a bounded
    driver-side artifact (<= max_multichar + |alphabet| rows)."""
    w = F.col("word")
    n = F.length(w)
    subs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), n),  # 1-based start positions
            lambda i: F.transform(
                F.sequence(F.lit(1), F.least(F.lit(MAX_PIECE_LEN), n - i + 1)),
                lambda l: F.substring(w, i, l),
            ),
        )
    )
    counts = (
        wf.where(n <= _MAX_WORD_LEN)
        .select(F.explode(subs).alias("piece"), "freq")
        .groupBy("piece")
        .agg(F.sum("freq").cast("long").alias("cnt"))
    )
    chars = counts.where(F.length("piece") == 1)
    multi = (
        counts.where(F.length("piece") >= 2)
        .orderBy(F.desc("cnt"), "piece")
        .limit(max_multichar)
    )
    rows = sorted(
        (r["piece"], r["cnt"]) for r in chars.unionByName(multi).collect()
    )
    total = sum(c for _, c in rows)
    return rows, total


def _lattice(word: str, probs: dict[str, float]):
    """Forward-backward over the segmentation lattice. Returns
    (alpha, beta, Z); Z == 0 means uncoverable (never happens for
    corpus words when all single chars are in the inventory)."""
    n = len(word)
    a = [0.0] * (n + 1)
    a[0] = 1.0
    for i in range(1, n + 1):
        s = 0.0
        for j in range(max(0, i - MAX_PIECE_LEN), i):
            p = probs.get(word[j:i])
            if p:
                s += a[j] * p
        a[i] = s
    b = [0.0] * (n + 1)
    b[n] = 1.0
    for i in range(n - 1, -1, -1):
        s = 0.0
        for j in range(i + 1, min(n, i + MAX_PIECE_LEN) + 1):
            p = probs.get(word[i:j])
            if p:
                s += p * b[j]
        b[i] = s
    return a, b, a[n]


def em_step(
    wf: DataFrame, pieces: list[tuple[str, int]], total: int
) -> tuple[DataFrame, DataFrame]:
    """One EM iteration against the seed inventory. Returns
    (piece_frame, ll_frame):

    - piece_frame: (piece, cnt0, prob0_micro, e_micro, prob1_micro) —
      seed count, seed probability, aggregated expected count (integer
      micro), and the M-step re-estimate (staged truncating div).
    - ll_frame: one row (ll0_micro, ll1_micro) — corpus log-likelihood
      under the seed and re-estimated probabilities (freq-weighted
      ln Z per word, rounded to micro in-kernel, summed exactly).
    """
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType, StringType, StructField, StructType

    spark = wf.sparkSession
    prob0_micro = {p: (1_000_000 * c) // total for p, c in pieces}
    probs0 = {p: m / 1e6 for p, m in prob0_micro.items() if m > 0}

    out_t = ArrayType(
        StructType(
            [StructField("piece", StringType()), StructField("e", LongType())]
        )
    )

    def _make_expected(probs):
        @pandas_udf(out_t)
        def expected(words, freqs):
            res = []
            for word, freq in zip(words, freqs):
                if not word or len(word) > _MAX_WORD_LEN:
                    res.append([])
                    continue
                a, b, z = _lattice(word, probs)
                if z <= 0.0:
                    res.append([])
                    continue
                e: dict[str, float] = {}
                n = len(word)
                for j in range(n):
                    for i in range(j + 1, min(n, j + MAX_PIECE_LEN) + 1):
                        p = probs.get(word[j:i])
                        if p:
                            e[word[j:i]] = e.get(word[j:i], 0.0) + a[j] * p * b[i] / z
                res.append(
                    [
                        {"piece": p, "e": int(round(freq * v * 1e6))}
                        for p, v in e.items()
                    ]
                )
            return pd.Series(res)

        return expected

    def _make_ll(probs):
        @pandas_udf(LongType())
        def ll(words, freqs):
            out = []
            for word, freq in zip(words, freqs):
                if not word or len(word) > _MAX_WORD_LEN:
                    out.append(0)
                    continue
                _, _, z = _lattice(word, probs)
                out.append(int(round(freq * math.log(z) * 1e6)) if z > 0 else 0)
            return pd.Series(out)

        return ll

    wfc = wf.transform(shared_subtree)  # E-step + two ll passes consume it
    exploded = (
        wfc.select(F.explode(_make_expected(probs0)("word", "freq")).alias("s"))
        .select(F.col("s.piece").alias("piece"), F.col("s.e").alias("e"))
        .groupBy("piece")
        .agg(F.sum("e").cast("long").alias("e_micro"))
    )
    seed = spark.createDataFrame(
        [(p, c, prob0_micro[p]) for p, c in pieces],
        "piece string, cnt0 long, prob0_micro long",
    )
    # M-step: staged renormalization of the aggregated micro counts
    piece_frame = (
        seed.join(exploded, "piece", "left")
        .withColumn("e_micro", F.coalesce(F.col("e_micro"), F.lit(0)).cast("long"))
        .crossJoin(
            F.broadcast(
                exploded.agg(F.sum("e_micro").cast("long").alias("_etot"))
            )
        )
        .withColumn(
            "prob1_micro",
            # staged (e * 1e6) div etot as 1000 x 1000 (_mul_div_staged
            # identity: q1*1000 + (1000*r1) div m — exact, and each
            # product stays in int64 for e <= BIGMAX/1000, r1 < etot):
            # the single-stage form overflowed at 500k docs, where
            # common pieces carry > 9.2e6 expected occurrences
            F.expr(
                "CASE WHEN _etot <= 0 THEN CAST(0 AS BIGINT)"
                " WHEN _etot > 9223372036854775807 div 1000"
                "  THEN CAST(raise_error('unigram m-step would overflow int64') AS BIGINT)"
                " ELSE 1000 * ((1000 * e_micro) div _etot)"
                "      + (1000 * ((1000 * e_micro) % _etot)) div _etot END"
            ).cast("long"),
        )
        .drop("_etot")
        # the probs1 collect below materializes this checkpoint, so the
        # caller's consumption of piece_frame does NOT re-run the E-step
        .transform(shared_subtree)
    )
    probs1 = {
        r["piece"]: r["prob1_micro"] / 1e6
        for r in piece_frame.select("piece", "prob1_micro").collect()
        if r["prob1_micro"] > 0
    }
    ll0 = wfc.select(_make_ll(probs0)("word", "freq").alias("v")).agg(
        F.sum("v").cast("long").alias("ll0_micro")
    )
    ll1 = wfc.select(_make_ll(probs1)("word", "freq").alias("v")).agg(
        F.sum("v").cast("long").alias("ll1_micro")
    )
    ll_frame = ll0.crossJoin(ll1)
    return piece_frame, ll_frame


def viterbi_encode(wf: DataFrame, probs: dict[str, float]) -> DataFrame:
    """Viterbi (max-probability) segmentation of every vocabulary word
    under a fitted piece distribution — the production ENCODE use of
    the unigram artifact, symmetric with bpe.py's encode_word. Exact
    dynamic program per word (log-space scores); ties break toward the
    SHORTER piece sequence and then the lexicographically smaller
    sequence, so the output is fully deterministic. Returns (word,
    freq, pieces [space-joined], n_pieces, score_micro) with
    score_micro = round(1e6 * log P(best segmentation)); words with an
    uncoverable character encode as NULL pieces (coverage_ok gates
    this never happens for corpus-fitted inventories)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    out_t = StructType(
        [
            StructField("pieces", StringType()),
            StructField("n_pieces", LongType()),
            StructField("score_micro", LongType()),
        ]
    )
    logp = {p: math.log(v) for p, v in probs.items() if v > 0}

    @pandas_udf(out_t)
    def encode(words):
        rows = []
        for word in words:
            if not word or len(word) > _MAX_WORD_LEN:
                rows.append({"pieces": None, "n_pieces": None, "score_micro": None})
                continue
            n = len(word)
            NEG = float("-inf")
            # best[i] = (score, n_pieces, pieces tuple) — tie-break on
            # (-score, n_pieces, pieces) minimization
            best = [(NEG, 0, ())] * (n + 1)
            best[0] = (0.0, 0, ())
            for i in range(1, n + 1):
                cand = None
                for j in range(max(0, i - MAX_PIECE_LEN), i):
                    lp = logp.get(word[j:i])
                    if lp is None or best[j][0] == NEG:
                        continue
                    c = (
                        best[j][0] + lp,
                        best[j][1] + 1,
                        best[j][2] + (word[j:i],),
                    )
                    if (
                        cand is None
                        or c[0] > cand[0]
                        or (c[0] == cand[0] and (c[1], c[2]) < (cand[1], cand[2]))
                    ):
                        cand = c
                best[i] = cand if cand is not None else (NEG, 0, ())
            score, k, pieces = best[n]
            if score == NEG:
                rows.append({"pieces": None, "n_pieces": None, "score_micro": None})
            else:
                rows.append(
                    {
                        "pieces": " ".join(pieces),
                        "n_pieces": k,
                        "score_micro": int(round(score * 1e6)),
                    }
                )
        return pd.DataFrame(rows)

    enc = encode(F.col("word"))
    return wf.select(
        "word",
        "freq",
        enc["pieces"].alias("pieces"),
        enc["n_pieces"].alias("n_pieces"),
        enc["score_micro"].alias("score_micro"),
    )
