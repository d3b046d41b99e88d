"""Deduplication operators for training-data pipelines (north-star E1).

Exact, MinHash+LSH, SimHash, and n-gram-Jaccard dedup over a text column.
All deterministic (seeded hash families, no RNG at runtime) so results are
reproducible run-to-run — a hard requirement for auditable data pipelines.

Scale design (the point of each choice):

- Shingle/minhash/simhash computation is pure Column expressions per row —
  embarrassingly parallel, no shuffle, whole-stage codegen.
- Candidate generation shuffles only (band_hash -> doc_id) pairs, never
  documents: the LSH band join carries 16 bytes/row, so the shuffle at
  100 TB is ~per-doc-constant, not per-byte.
- Bucket fan-out is the quadratic danger: ``max_bucket_size`` caps it
  (oversized buckets = near-identical boilerplate clusters; cap + report
  rather than silently OOM). The dropped-bucket report is available via
  ``minhash_candidates(..., return_oversized=True)``.
- Verification (exact Jaccard / signature agreement) runs only on candidate
  pairs — a tiny fraction of n^2.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_from_s3_to_postgresql_template_spark.functions.text import normalize_text_col, shingles_col, tokens_col
from etl_from_s3_to_postgresql_template_spark.util import shared_subtree_eager, spread_partitions

__all__ = [
    "dedup_exact_by_hash",
    "minhash_signature_col",
    "minhash_candidates",
    "simhash_col",
    "simhash_candidates",
    "blocked_pair_ids",
    "SHINGLES_SQL",
    "shingle_sets",
    "shingle_overlap",
    "ngram_jaccard_pairs",
    "jaccard_components",
    "duplicate_clusters",
    "CLUSTERS_ORACLE",
    "connected_components",
    "fuzzy_pairs_blocked",
]


def dedup_exact_by_hash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on normalized content: keep the min-id row per distinct
    text. GroupBy on the text itself (not the hash) is collision-proof; the
    shuffle key is the string — for 100 TB shuffle-weight, group on
    ``xxhash64(normalized)`` and resolve rare collisions in a second pass."""
    return (
        df.withColumn("__norm", normalize_text_col(text_col))
        .groupBy("__norm")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
        .drop("__norm")
    )


def minhash_signature_col(text_col: Column | str, num_hashes: int = 32, k: int = 3) -> Column:
    """MinHash signature (array<bigint>, length ``num_hashes``) over token
    k-gram shingles. Hash family: affine mixes of one xxhash64 base hash
    per shingle — seeded, deterministic."""
    # Each shingle is hashed ONCE (xxhash64, JVM-side); the num_hashes
    # family is the standard affine mix h_i(x) = a_i*x + b_i over the base
    # hash (int64 wraparound is the modulus), computed as one vectorized
    # numpy broadcast per Arrow batch. A pure higher-order-function fold
    # expresses the same thing but runs interpreted at
    # O(shingles*num_hashes) ops/row (~1.1 s per 5k docs vs ~0.1 s here).
    base = F.transform(shingles_col(text_col, k), lambda s: F.xxhash64(s))
    return _get_minhash_udf(num_hashes)(base)


def minhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    k: int = 3,
    num_bands: int = 8,
    threshold: float = 0.5,
    max_bucket_size: int = 1000,
    return_oversized: bool = False,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs with estimated Jaccard >= threshold.

    Pipeline: signature (no shuffle) -> band explode -> windowed bucket-size
    cap -> distributed self-join on the bucket key -> signature-agreement
    estimate -> threshold filter. Output: (id_a, id_b, est_jaccard), id_a < id_b.

    Buckets above ``max_bucket_size`` (near-identical boilerplate clusters)
    are EXCLUDED from pair generation; pass ``return_oversized=True`` to
    also get the (band_id, band_hash, bucket_size) report of what was
    dropped — no silent caps.
    """
    rows_per_band = num_hashes // num_bands
    # Spread the signature UDF across the cluster even when the source is a
    # handful of fat parquet files (see util.spread_partitions; measured 4x
    # the whole-query time at sf0.1 when left in one task).
    df = spread_partitions(df)
    sigs = df.select(F.col(id_col), minhash_signature_col(text_col, num_hashes, k).alias("sig"))
    # Signatures ride THROUGH the band shuffle as (id, sig) rows, so
    # in-bucket pairs can estimate Jaccard immediately — no join back to the
    # signature table. Shuffle weight grows by |sig| (256 B/doc/band) —
    # per-document-constant, the right trade at any scale.
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.xxhash64(*[F.col("sig")[b * rows_per_band + r] for r in range(rows_per_band)]).alias("band_hash"),
            )
            for b in range(num_bands)
        ]
    )
    exploded = sigs.select(
        F.col(id_col).alias("id"),
        F.col("sig"),
        F.explode(bands).alias("band"),
    ).select("id", "sig", F.col("band.band_id").alias("band_id"), F.col("band.band_hash").alias("band_hash"))
    # No materialization needed between here and the self-join: because both
    # join legs are merge-hinted onto the SAME (band_id, band_hash) hash
    # partitioning, their exchange subtrees are identical and Spark's
    # ReuseExchange collapses them — the signature UDF runs once (verified
    # by accumulator: 5000 docs -> 5000 UDF rows through the full query).
    # An explicit localCheckpoint here measured +1 s of pure materialization
    # overhead at sf0.1 while buying nothing the reused exchange doesn't.
    # Bucket sizing via a window over the bucket key — NOT collect_list:
    # an array-per-bucket formulation funnels each bucket's entire pair
    # fan-out (up to cap^2/2 rows) through the single task that holds the
    # array row. The window + self-join below keeps pair generation
    # distributed: the sort-merge join on (band_id, band_hash) spreads
    # in-bucket pairs across tasks, and AQE's skew-join split handles hot
    # buckets the array version would serialize.
    w = Window.partitionBy("band_id", "band_hash")
    sized = exploded.withColumn("bucket_size", F.count(F.lit(1)).over(w))
    ok = sized.filter((F.col("bucket_size") > 1) & (F.col("bucket_size") <= max_bucket_size)).drop(
        "bucket_size"
    )
    a = ok.select(
        F.col("band_id"), F.col("band_hash"), F.col("id").alias("id_a"), F.col("sig").alias("sig_a")
    )
    b = ok.select(
        F.col("band_id"), F.col("band_hash"), F.col("id").alias("id_b"), F.col("sig").alias("sig_b")
    )
    # merge-hint the self-join: left to stats, the optimizer broadcasts one
    # side, which (a) recomputes the minhash UDF branch twice (no exchange
    # reuse through a BroadcastExchange) and (b) dies at corpus scale where
    # the band table is the full corpus ×num_bands. With both sides shuffled
    # on the same key the two exchanges are identical -> ReusedExchange:
    # signatures are computed ONCE.
    pairs = a.join(b.hint("merge"), ["band_id", "band_hash"]).filter(F.col("id_a") < F.col("id_b"))
    # signature-agreement estimate, vectorized: the zip_with fold form is
    # an interpreted HOF eval PER CANDIDATE PAIR (no codegen for
    # higher-order functions) — with dup-heavy corpora a hot-but-capped
    # bucket emits ~cap^2/2 pairs into one task (AQE's skew split stands
    # down to preserve the ReusedExchange), and the interpreted fold was
    # the measured straggler at 500k docs. Same integer-compare count,
    # same /num_hashes float64 division -> identical est values.
    est = _sig_eq_frac_udf(num_hashes)(F.col("sig_a"), F.col("sig_b"))
    out = (
        pairs.select(
            "id_a",
            "id_b",
            F.round(est, 4).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )
    if not return_oversized:
        return out
    oversized = (
        exploded.groupBy("band_id", "band_hash")
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .filter(F.col("bucket_size") > max_bucket_size)
    )
    return out, oversized


_minhash_udfs: dict[int, object] = {}


_sig_eq_udfs: dict[int, object] = {}


def _sig_eq_frac_udf(num_hashes: int):
    """Fraction of agreeing signature positions, one (A == B) numpy
    compare per Arrow batch."""
    if num_hashes not in _sig_eq_udfs:
        import numpy as np
        from pyspark.sql.functions import pandas_udf
        from pyspark.sql.types import DoubleType

        @pandas_udf(DoubleType())
        def eq_frac(a: pd.Series, b: pd.Series) -> pd.Series:
            A = np.vstack(a.to_numpy())
            B = np.vstack(b.to_numpy())
            return pd.Series((A == B).sum(axis=1) / float(num_hashes))

        _sig_eq_udfs[num_hashes] = eq_frac
    return _sig_eq_udfs[num_hashes]


def _get_minhash_udf(num_hashes: int):
    """Vectorized minhash over base-hash arrays; affine family seeded by 42."""
    if num_hashes not in _minhash_udfs:
        import random

        import numpy as np

        rng = random.Random(42)
        A = np.array(
            [rng.randrange(1, 1 << 61) * 2 + 1 for _ in range(num_hashes)], dtype=np.uint64
        )
        B = np.array([rng.randrange(1 << 61) for _ in range(num_hashes)], dtype=np.uint64)

        def fn(hash_arrays: pd.Series) -> pd.Series:
            out = []
            max_long = np.full(num_hashes, (1 << 63) - 1, dtype=np.int64)
            for hs in hash_arrays:
                if hs is None:  # NULL text -> "no shingles" signature
                    out.append(max_long.copy())
                    continue
                arr = np.asarray(hs, dtype=np.int64).view(np.uint64)
                if arr.size == 0:
                    out.append(max_long.copy())
                    continue
                mixed = arr[:, None] * A[None, :] + B[None, :]  # uint64 wraparound
                out.append(mixed.view(np.int64).min(axis=0))
            return pd.Series(out)

        _minhash_udfs[num_hashes] = F.pandas_udf(fn, "array<long>")
    return _minhash_udfs[num_hashes]


def _simhash64_fn(hash_arrays: pd.Series) -> pd.Series:
    import numpy as np

    shifts = np.arange(64, dtype=np.uint64)
    out = np.zeros(len(hash_arrays), dtype=np.int64)
    for i, hs in enumerate(hash_arrays):
        if hs is None:  # NULL text -> all-zero simhash
            continue
        arr = np.asarray(hs, dtype=np.int64).view(np.uint64)
        if arr.size == 0:
            continue
        ones = ((arr[:, None] >> shifts) & np.uint64(1)).astype(np.int64)
        votes = (2 * ones - 1).sum(axis=0)
        packed = ((votes > 0).astype(np.uint64) << shifts).sum(dtype=np.uint64)
        out[i] = packed.astype(np.int64)
    return pd.Series(out)


_simhash64_udf = None


def _get_simhash64_udf():
    # pandas_udf creation needs an active SparkSession (Spark 4), so the UDF
    # is built on first use, not at import.
    global _simhash64_udf
    if _simhash64_udf is None:
        _simhash64_udf = F.pandas_udf(_simhash64_fn, "long")
    return _simhash64_udf


def simhash_col(text_col: Column | str, bits: int = 64) -> Column:
    """SimHash (bigint): sign-aggregated per-bit token-hash votes.

    Per token: ±1 vote on each of ``bits`` positions from ``xxhash64(token)``;
    document hash = bit b set iff sum of votes > 0. One fold expression over
    the token array — no UDF, no shuffle.
    """
    if bits != 64:
        raise ValueError("simhash_col: only 64-bit hashes supported")
    # Token hashing stays JVM-side (one xxhash64 per token); the 64-bit
    # vote aggregation is a vectorized Pandas UDF. A pure higher-order
    # expression works but runs interpreted at ~tokens*64 ops/row (21 s for
    # 5k docs measured); the Arrow-batched numpy path is ~50x faster and is
    # exactly the "built-ins can't express it efficiently" escape hatch.
    hashes = F.transform(tokens_col(text_col), lambda t: F.xxhash64(t))
    return _get_simhash64_udf()(hashes)


def simhash_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket_size: int = 1000,
    return_oversized: bool = False,
) -> DataFrame:
    """Near-dup pairs by SimHash: block on ``bands`` 16-bit chunks (a pair
    within Hamming distance ``bands-1`` shares >=1 identical chunk — the
    standard pigeonhole blocking), verify exact Hamming distance in-bucket.
    Output: (id_a, id_b, hamming).

    Chunk buckets above ``max_bucket_size`` (one dominant boilerplate
    template collapses thousands of docs onto the same 16-bit chunk and
    reintroduces the b^2 blow-up) are EXCLUDED from pair generation —
    same windowed cap-and-report contract as minhash_candidates; pass
    ``return_oversized=True`` for the (chunk_id, chunk_val, bucket_size)
    report of what was dropped. No silent caps."""
    # simhash recomputes once per join side; at corpus scale write
    # signatures to parquet instead of caching in executor memory
    sh = spread_partitions(df).select(F.col(id_col), simhash_col(text_col).alias("simhash"))
    chunk_bits = 64 // bands
    mask = (1 << chunk_bits) - 1
    chunks = F.array(
        *[
            F.struct(
                F.lit(i).alias("chunk_id"),
                (F.shiftright("simhash", i * chunk_bits).bitwiseAND(F.lit(mask))).alias("chunk_val"),
            )
            for i in range(bands)
        ]
    )
    exploded = sh.select(id_col, "simhash", F.explode(chunks).alias("c")).select(
        id_col, "simhash", F.col("c.chunk_id").alias("chunk_id"), F.col("c.chunk_val").alias("chunk_val")
    )
    # Bucket cap via window (distributed; see minhash_candidates for why
    # not collect_list). Size-1 buckets can't pair — dropped here too.
    w = Window.partitionBy("chunk_id", "chunk_val")
    sized = exploded.withColumn("bucket_size", F.count(F.lit(1)).over(w))
    ok = sized.filter(
        (F.col("bucket_size") > 1) & (F.col("bucket_size") <= max_bucket_size)
    ).drop("bucket_size")
    a = ok.select(
        F.col("chunk_id"), F.col("chunk_val"),
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sim_a"),
    )
    b = ok.select(
        F.col("chunk_id"), F.col("chunk_val"),
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sim_b"),
    )
    hamming = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    out = (
        a.join(b, ["chunk_id", "chunk_val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", hamming.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )
    if not return_oversized:
        return out
    oversized = (
        exploded.groupBy("chunk_id", "chunk_val")
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .filter(F.col("bucket_size") > max_bucket_size)
    )
    return out, oversized


def blocked_pair_ids(
    df: DataFrame,
    block_col: str,
    id_col: str = "doc_id",
    parallelism: int = 64,
) -> DataFrame:
    """Enumerate within-block unordered candidate pairs (id_a < id_b) and
    spread them over ``parallelism`` partitions BEFORE any per-pair
    scoring.

    A naive self-join on the block key evaluates the expensive pair score
    (array_intersect over shingle sets) inside the join stage, whose
    parallelism equals the number of DISTINCT BLOCK VALUES — measured at
    sf0.1: 5 sources -> 5 live tasks -> ~31 s for the exact-Jaccard scan.
    Enumerating id-only pairs first is cheap even at low parallelism
    (8-byte ids, nothing scored), and the explicit repartition lets the
    scoring joins that follow run at full cluster width (same shape as
    ngram_jaccard_pairs' candidate-then-fetch contract). At corpus scale
    the candidate generator is the MinHash/SimHash tier; this is the
    exact-tier equivalent for SQL-expressible blocks."""
    ids_a = df.select(F.col(id_col).alias("id_a"), F.col(block_col).alias("_blk"))
    ids_b = df.select(F.col(id_col).alias("id_b"), F.col(block_col).alias("_blk_b"))
    return (
        ids_a.join(
            ids_b, (F.col("_blk") == F.col("_blk_b")) & (F.col("id_a") < F.col("id_b"))
        )
        .select("id_a", "id_b")
        .repartition(parallelism, "id_a", "id_b")
    )


#: DuckDB twin of ``shingle_sets``: ``shl`` holds each document's
#: token-3-gram list ``sl``, ``sh`` its distinct set ``s``; both carry
#: every other column of ``documents`` but ``text``
SHINGLES_SQL = r"""shl AS (
      SELECT * EXCLUDE (toks),
             CASE WHEN len(toks) >= 3
                  THEN list_transform(range(1, len(toks)-1),
                                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
                  ELSE [array_to_string(toks, ' ')] END AS sl
      FROM (SELECT * EXCLUDE (text), list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '') AS toks FROM documents)
    ), sh AS (
      SELECT * EXCLUDE (sl), list_distinct(sl) AS s FROM shl
    )"""


def shingle_sets(
    df: DataFrame, *carry: str, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """(id_col, *carry, s): each document's distinct token-k-gram set.
    NULL text shingles like '' (the one-element set [''])."""
    return df.select(id_col, *carry, F.array_distinct(shingles_col(text_col, k)).alias("s"))


def shingle_overlap(
    sh: DataFrame, pairs: DataFrame | None = None, id_col: str = "doc_id"
) -> tuple[DataFrame, Column, Column, Column]:
    """The verify stage of every exact set-overlap dedup: join candidate
    ``pairs`` (id_a, id_b) back by id to the sets ``s`` of ``sh``. With
    no ``pairs``, the candidates are every within-``source`` pair
    (blocked_pair_ids), so the scoring runs at full parallelism instead
    of one task per distinct source.

    Returns the joined frame (id_a, id_b, sa, sb) and its overlap
    counts ``inter``, ``na``, ``nb`` as Columns; each caller applies its
    own predicate and output columns. Columns, not projected fields: a
    projected ``inter`` read twice stays a Project of its own, while a
    Column folds into the caller's one projection."""
    if pairs is None:
        pairs = blocked_pair_ids(sh, "source", id_col)
    a = sh.select(F.col(id_col).alias("id_a"), F.col("s").alias("sa"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("s").alias("sb"))
    inter = F.size(F.array_intersect("sa", "sb"))
    return pairs.join(a, "id_a").join(b, "id_b"), inter, F.size("sa"), F.size("sb")


def ngram_jaccard_pairs(
    df: DataFrame,
    candidate_pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact token-k-gram Jaccard for candidate pairs only (the verify step
    after LSH blocking — never run this on all n^2 pairs).
    ``candidate_pairs``: (id_a, id_b). Output adds exact ``jaccard``."""
    sh = shingle_sets(spread_partitions(df), text_col=text_col, id_col=id_col, k=k)
    pairs, inter, na, nb = shingle_overlap(sh, candidate_pairs, id_col=id_col)
    return pairs.select(
        "id_a", "id_b", F.round(inter / (na + nb - inter), 4).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def jaccard_components(docs: DataFrame, algorithm: str = "label") -> DataFrame:
    """(id, comp) over the graph of source-blocked pairs whose exact
    token-3-gram Jaccard is >= 0.05: the duplicate clusters, each
    labelled by its smallest doc_id (connected_components)."""
    pairs, inter, na, nb = shingle_overlap(shingle_sets(docs, "source"))
    edges = pairs.filter((inter / (na + nb - inter)) >= 0.05).select("id_a", "id_b")
    return connected_components(docs.select("doc_id"), edges, "doc_id", algorithm=algorithm)


def duplicate_clusters(docs: DataFrame, algorithm: str = "label") -> DataFrame:
    """(doc_id, cluster_id, cluster_size): every document with its
    duplicate cluster (jaccard_components) and that cluster's size."""
    comp = jaccard_components(docs, algorithm=algorithm)
    sizes = comp.groupBy("comp").agg(F.count(F.lit(1)).alias("cluster_size"))
    return comp.join(sizes, "comp").select(
        F.col("id").alias("doc_id"),
        F.col("comp").alias("cluster_id"),
        "cluster_size",
    )


#: DuckDB twin of ``duplicate_clusters``: connected components as a
#: recursive-CTE transitive closure over the source-blocked Jaccard edges
CLUSTERS_ORACLE = rf"""
    WITH RECURSIVE {SHINGLES_SQL},
    edges AS (
      SELECT a.doc_id AS src, b.doc_id AS dst
      FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id <> b.doc_id
      WHERE len(list_intersect(a.s, b.s)) * 1.0 /
            (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s))) >= 0.05
    ),
    reach(src, dst) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    comp AS (SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src)
    SELECT c.doc_id, c.cluster_id, CAST(s.n AS BIGINT) AS cluster_size
    FROM comp c
    JOIN (SELECT cluster_id, COUNT(*) AS n FROM comp GROUP BY cluster_id) s
      USING (cluster_id)
    """


class ComponentsNotConverged(RuntimeError):
    """connected_components hit max_iterations with labels still moving —
    the returned labels would be WRONG (some nodes not yet at their
    component minimum). Raise instead of silently returning them."""


def connected_components(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 20,
    algorithm: str = "label",
) -> DataFrame:
    """Duplicate-cluster assignment: connected components over a candidate-
    pair graph. Returns (id, comp) where ``comp`` is the smallest id
    reachable from ``id`` — the canonical representative every member of a
    duplicate cluster agrees on. ``nodes``: one row per document
    (``id_col``); ``pairs``: undirected edges as (id_a, id_b).

    Two formulations behind one contract:

    - ``algorithm='label'`` (default): Pregel-style min-label propagation.
      One shuffle join + one groupBy-min per round; rounds needed = graph
      DIAMETER. Right for near-dup graphs, which are unions of
      near-cliques (diameter ~2-3).
    - ``algorithm='star'``: alternating Large-Star/Small-Star edge
      rewriting (Kiveris et al., "Connected Components in MapReduce and
      Beyond", SoCC'14). Rounds needed = O(log^2 n) regardless of
      diameter — the scale path for long-chain / giant components where
      label propagation would need diameter rounds.

    Both checkpoint per round (lineage truncation — without it the plan
    doubles every round and the driver becomes the bottleneck) and both
    RAISE :class:`ComponentsNotConverged` if ``max_iterations`` passes
    without a fixed point, because unconverged labels are wrong answers,
    not approximate ones.
    """
    if algorithm == "star":
        return _star_components(nodes, pairs, id_col, max_iterations)
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .transform(shared_subtree_eager)
    )
    labels = nodes.select(F.col(id_col).alias("id"), F.col(id_col).alias("comp")).transform(
        shared_subtree_eager
    )
    for _ in range(max_iterations):
        msgs = edges.join(labels, edges.src == labels.id).select(
            F.col("dst").alias("id"), F.col("comp"), F.lit(None).cast("long").alias("prev")
        )
        # Carry each node's previous label THROUGH the min-aggregation (as a
        # second min over a column only the labels leg populates), so the
        # convergence check is a filter on the checkpointed result — no
        # extra join, no extra shuffle per round.
        new_labels = (
            labels.select("id", "comp", F.col("comp").alias("prev"))
            .unionByName(msgs)
            .groupBy("id")
            .agg(F.min("comp").alias("comp"), F.min("prev").alias("prev"))
        ).transform(shared_subtree_eager)
        changed = new_labels.filter(F.col("comp") != F.col("prev")).limit(1).count()
        labels = new_labels.select("id", "comp")
        if changed == 0:
            return labels
    raise ComponentsNotConverged(
        f"label propagation still moving after {max_iterations} rounds "
        f"(graph diameter exceeds the budget — use algorithm='star')"
    )


def _star_components(
    nodes: DataFrame, pairs: DataFrame, id_col: str, max_iterations: int
) -> DataFrame:
    """Large-Star/Small-Star alternation. Each round rewrites the edge set;
    the fixed point is a forest of stars (every non-root points straight at
    its component minimum).

    - Large-Star: per node u, connect every STRICTLY LARGER neighbor to
      m(u) = min(neighbors(u) ∪ {u}).
    - Small-Star: per node u (edges directed larger->smaller), connect every
      smaller neighbor AND u itself to m(u).

    Per round: two groupBy-min aggregations + two joins + a dedup — all on
    (src, dst) pairs, never adjacency lists, so a high-degree node is an
    AQE-splittable skewed key rather than one giant row (the collect_list
    formulation OOMs exactly there). Fixed point is detected on the
    small-star output with an order-independent (count, xxhash64-sum)
    signature — one tiny aggregate instead of a full exceptAll join.
    """
    # Self-loop-free symmetric start; (a,b) kept once in each direction.
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
        .transform(shared_subtree_eager)
    )

    def signature(e: DataFrame) -> tuple:
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("src", "dst")).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    sig = None
    for _ in range(max_iterations):
        # Large-star over the symmetric closure of the current edge set.
        sym = edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).dropDuplicates(["src", "dst"])
        mins = sym.groupBy("src").agg(F.min("dst").alias("mn"))
        mins = mins.select("src", F.least("mn", "src").alias("m"))
        large = (
            sym.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .dropDuplicates(["src", "dst"])
        )
        # Small-star over larger->smaller directed edges.
        directed = large.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        ).dropDuplicates(["src", "dst"])
        mins2 = directed.groupBy("src").agg(F.min("dst").alias("m"))
        attach = directed.join(mins2, "src")
        small = (
            attach.select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .unionByName(attach.select(F.col("src"), F.col("m").alias("dst")))
            .filter(F.col("src") != F.col("dst"))
            .dropDuplicates(["src", "dst"])
            .transform(shared_subtree_eager)
        )
        new_sig = signature(small)
        edges = small
        if new_sig == sig:
            # Stars: every src points at its component min.
            roots = edges.groupBy("src").agg(F.min("dst").alias("comp"))
            return (
                nodes.select(F.col(id_col).alias("id"))
                .join(roots.withColumnRenamed("src", "id"), "id", "left")
                .select("id", F.coalesce("comp", F.col("id")).alias("comp"))
            )
        sig = new_sig
    raise ComponentsNotConverged(
        f"star alternation not at fixed point after {max_iterations} rounds"
    )


def fuzzy_pairs_blocked(
    df: DataFrame,
    prefix_len: int = 60,
    band_width: int = 64,
    topk: int = 30,
    id_col: str = "doc_id",
    max_block_size: int = 500,
    return_oversized: bool = False,
) -> DataFrame:
    """Edit-distance near-dup search with blocking: the ``topk`` closest
    same-block pairs by Levenshtein distance over the first ``prefix_len``
    chars. Blocks are (lang, source, floor(n_chars / band_width)) — the
    classic record-linkage move that turns O(n^2) distance evaluations
    into sum-per-block O(b^2), at the documented cost of missing pairs
    whose lengths straddle a band edge (run twice with offset bands to
    close that gap).

    Blocks above ``max_block_size`` (one dominant (lang, source) stratum —
    e.g. a crawl that is 90% en/common_crawl — would reintroduce the b^2
    blow-up AQE skew-split can only partially absorb) are EXCLUDED from
    pair generation, same windowed cap-and-report contract as
    minhash_candidates; ``return_oversized=True`` adds the
    (lang, source, band, block_size) report of what was dropped. No
    silent caps — a production run shrinks band_width or sub-blocks on a
    content prefix before re-admitting an oversized stratum.

    Scale shape: one hash self-join on the 3-part block key (no
    broadcast — both sides are the corpus; AQE splits skewed blocks),
    Levenshtein only on the prefix (O(prefix_len^2) per pair, bounded),
    then a global top-k which is a TakeOrdered, not a full sort."""
    d = df.select(
        F.col(id_col),
        "lang",
        "source",
        F.floor(F.col("n_chars") / band_width).alias("band"),
        F.substring("text", 1, prefix_len).alias("prefix"),
    )
    w = Window.partitionBy("lang", "source", "band")
    sized = d.withColumn("block_size", F.count(F.lit(1)).over(w))
    ok = sized.filter(
        (F.col("block_size") > 1) & (F.col("block_size") <= max_block_size)
    ).drop("block_size")
    a = ok.select([F.col(c).alias(f"{c}_a") for c in ok.columns])
    b = ok.select([F.col(c).alias(f"{c}_b") for c in ok.columns])
    on = (
        (F.col("lang_a") == F.col("lang_b"))
        & (F.col("source_a") == F.col("source_b"))
        & (F.col("band_a") == F.col("band_b"))
        & (F.col(f"{id_col}_a") < F.col(f"{id_col}_b"))
    )
    out = (
        a.join(b, on)
        .select(
            f"{id_col}_a",
            f"{id_col}_b",
            F.levenshtein("prefix_a", "prefix_b").cast("long").alias("dist"),
        )
        .orderBy("dist", f"{id_col}_a", f"{id_col}_b")
        .limit(topk)
    )
    if not return_oversized:
        return out
    oversized = (
        d.groupBy("lang", "source", "band")
        .agg(F.count(F.lit(1)).alias("block_size"))
        .filter(F.col("block_size") > max_block_size)
    )
    return out, oversized
