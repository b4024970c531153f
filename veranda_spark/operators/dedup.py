"""Deduplication operators for training-data pipelines.

Five tiers, each a standalone DataFrame operator over a
`documents(doc_id, text, ...)` or `embeddings(vec_id, embedding, ...)`
table:

- exact:        md5-of-normalized-text groupBy (hash dedup)
- ngram-jaccard: word-shingle set overlap on candidate pairs
- minhash-LSH:   shingle → MinHash signature → banded bucket join
- simhash:       64-bit simhash + hamming-radius self-join on bucket keys
- embedding:     cosine near-dup via sign-LSH buckets

Scale notes: every variant generates candidate pairs through an equi-join
on a compact key (hash, band, bucket) — never an O(n²) cross join; the
exact similarity re-check runs only on candidates.  Pair output is
canonicalized (id_a < id_b) to avoid duplicates and self-pairs.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from veranda_spark.functions.text import (
    MINHASH_PERMS,
    fingerprint,
    hamming64,
    minhash_signature,
    shingle_hashes,
    simhash64,
    word_ngrams,
)
from veranda_spark.functions.vectors import cosine, lsh_bucket_udf


def exact_duplicates(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Groups of byte-identical (post-normalization) documents:
    (fingerprint, n_docs, doc_ids).  Plain hash groupBy — fully
    partial-aggregated map-side."""
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("n_docs"), F.sort_array(F.collect_list(id_col)).alias("doc_ids"))
        .filter(F.col("n_docs") > 1)
    )


def dedup_keep_first(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Exact dedup keeping the smallest id per fingerprint group (the
    deterministic survivor rule)."""
    w = Window.partitionBy("fp").orderBy(F.col(id_col).asc())
    return (
        df.withColumn("fp", fingerprint(F.col(text_col)))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "fp")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Candidate pairs by shared n-gram, exact Jaccard re-check.

    Plan: explode distinct shingles → self equi-join on shingle →
    distinct candidate pairs → Jaccard via array_intersect/union sizes.
    The shingle join is the LSH-free baseline; for web scale prefer
    minhash_lsh_pairs (bounded candidates per band).

    Eager: the shingle frame feeds the shingle join and both re-check
    sides, so it is an eager ``localCheckpoint`` computed when this is
    called (nothing enters the cache manager)."""
    sh = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(word_ngrams(F.col(text_col), n)).alias("shingles"),
    ).localCheckpoint(eager=True)
    exploded = sh.select("id", F.explode("shingles").alias("shingle"))
    cand = (
        exploded.alias("a")
        .join(exploded.alias("b"), "shingle")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    a = sh.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    threshold: float = 0.7,
    n: int = 3,
    bands: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """MinHash + banded LSH near-dup pairs (shingle→minhash→band→bucket
    join), exact Jaccard re-check on candidates.

    64 perms / ``bands`` bands of 64/bands rows each: collision prob for
    Jaccard s is 1-(1-s^r)^b — tuned for s≥0.7 at the defaults.

    Eager: the (shingles, signature) frame feeds the band join and both
    re-check sides, so it is an eager ``localCheckpoint`` computed when
    this is called — the MinHash UDF runs once per document and nothing
    enters the cache manager."""
    rows_per_band = MINHASH_PERMS // bands
    sh = df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(word_ngrams(F.col(text_col), n)).alias("shingles"),
    ).withColumn(
        "sig", minhash_signature(shingle_hashes(F.col("shingles")))
    ).localCheckpoint(eager=True)
    band_keys = sh.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda bnd: F.struct(
                    bnd.alias("band"),
                    F.xxhash64(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(F.col("sig"), bnd * rows_per_band + 1, rows_per_band),
                                lambda v: v.cast("string"),
                            ),
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("bk"),
    ).select("id", "bk.band", "bk.bucket")
    cand = (
        band_keys.alias("a")
        .join(band_keys.alias("b"), ["band", "bucket"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    a = sh.select(F.col("id").alias("id_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _hamming_block_pairs(sh: DataFrame, max_hamming: int, n_blocks: int) -> DataFrame:
    """Shared pigeonhole candidate + exact re-check over a (id, sim) frame.

    Any pair with hamming ≤ n_blocks-1 shares at least one identical
    64/n_blocks-bit block → equi-join per block, exact bit_count re-check.
    All JVM Column ops — no Python in the pair path."""
    if max_hamming > n_blocks - 1:
        raise ValueError(
            f"pigeonhole completeness needs max_hamming <= n_blocks-1 "
            f"(got {max_hamming} > {n_blocks - 1}); raise n_blocks"
        )
    if 64 % n_blocks:
        raise ValueError("n_blocks must divide 64")
    width = 64 // n_blocks
    mask = (1 << width) - 1
    blocks = sh.select(
        "id",
        "sim",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("block"),
                        F.shiftrightunsigned(F.col("sim"), i * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("key"),
                    )
                    for i in range(n_blocks)
                ]
            )
        ).alias("bk"),
    ).select("id", "sim", "bk.block", "bk.key")
    # Exact re-check BEFORE the distinct (round-9, guide §2.3 "shuffle
    # fewer bytes"): hamming64 is a codegen'd bit op on columns already
    # present at the join output, so filtering first costs nothing extra
    # per candidate while the distinct then shuffles only TRUE pairs
    # (≤ n_blocks duplicates each) instead of the full candidate
    # explosion — on a degenerate block key (dense ids: the high blocks
    # are all zero) that is orders of magnitude fewer rows through the
    # Exchange.  Output-identical: hamming is a function of the pair, so
    # distinct over (id_a, id_b, hamming) == distinct over (id_a, id_b).
    return (
        blocks.alias("a")
        .join(blocks.alias("b"), ["block", "key"])
        .filter(F.col("a.id") < F.col("b.id"))
        .withColumn("hamming", hamming64(F.col("a.sim"), F.col("b.sim")))
        .filter(F.col("hamming") <= max_hamming)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            "hamming",
        )
        .distinct()
    )


def simhash_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SimHash near-dup pairs within a Hamming radius.

    Candidates via the 4-block pigeonhole trick (see
    _hamming_block_pairs); the simhash UDF votes over xxhash64 shingle
    hashes computed JVM-side.

    Eager: both sides of the block self-join read the simhash frame, so
    it is an eager ``localCheckpoint`` computed when this is called —
    the UDF runs once per document and nothing enters the cache
    manager."""
    sh = df.select(
        F.col(id_col).alias("id"),
        simhash64(shingle_hashes(F.array_distinct(word_ngrams(F.col(text_col), n)))).alias("sim"),
    ).localCheckpoint(eager=True)
    return _hamming_block_pairs(sh, max_hamming, n_blocks=4)


def phash_neardup_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "image_id",
    phash_col: str = "phash",
    n_blocks: int = 4,
) -> DataFrame:
    """Perceptual-hash image near-dup: pairs of images whose 64-bit phash
    (BASELINE.json input_hint column) differ in ≤ max_hamming bits.

    Same pigeonhole-block plan as simhash_pairs but over an EXISTING int64
    column, so the whole pipeline is JVM Column ops: explode n_blocks keys
    per row → equi-join on (block, key) → bit_count re-check.  At 10^12
    images the block key is a shuffle-bounded equi-join (no all-pairs); a
    hot key (e.g. phash=0 for blank images) is the same skew class as any
    hot join key — pre-filter degenerate phashes or salt the block join.
    """
    sh = df.select(F.col(id_col).alias("id"), F.col(phash_col).cast("long").alias("sim"))
    return _hamming_block_pairs(sh, max_hamming, n_blocks=n_blocks)


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    dim: int = 64,
    n_planes: int = 12,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup via sign-LSH buckets + exact cosine
    re-check.  n_planes trades recall vs candidate volume (12 planes →
    4096 buckets)."""
    bucketer = lsh_bucket_udf(dim, n_planes)
    e = df.select(
        F.col(id_col).alias("id"), F.col(emb_col).cast("array<double>").alias("emb")
    ).withColumn("bucket", bucketer(F.col("emb")))
    cand = (
        e.alias("a")
        .join(e.alias("b"), "bucket")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.emb").alias("emb_a"),
            F.col("b.emb").alias("emb_b"),
        )
    )
    return (
        cand.withColumn("cos", cosine(F.col("emb_a"), F.col("emb_b")))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", F.round("cos", 6).alias("cos"))
    )


# Largest distinct edge set labelled on the driver; a larger one runs the
# large-star/small-star loop.  On random graphs with string ids (4-core
# host, local[4], 2011m driver, 2 runs each) the driver path took 0.5-2.0 s
# against the loop's 2.7-5.2 s at 10k edges, 0.8-0.9 s vs 4.5-5.2 s at 100k
# and 7.1-8.2 s vs 26.6-31.1 s at 1M.  It wins at every size measured, so
# the limit is a memory cap, not a crossover.  At 1M string-id edges the
# call plus keep-first's anti-join peaked at 0.91-1.01 GB of the 1.79 GB
# JVM heap and 0.32-0.42 GB of Python RSS (random graph, 864k nodes; 1M
# disjoint edges, 2M nodes).
_DRIVER_EDGES = 1_000_000


def _min_labels(a: np.ndarray, b: np.ndarray, n: int) -> np.ndarray:
    """Smallest code in each node's component, for edges (a[i], b[i])
    over node codes 0..n-1.

    FastSV (Zhang, Azad and Hu, SIAM PP 2020) over a parent vector f,
    f[x] <= x: each pass hooks every edge end, and its parent, to the
    smallest grandparent across the edge, then shortcuts (f = f[f]).  A
    pass that changes nothing leaves f constant across every edge and
    pointing at roots, so f[x] is the smallest code of x's component.
    Hooking the parent matters: min-label propagation with pointer
    jumping alone needs ~n passes on a shuffled n-node path (1062 at
    n = 2000), this needs about log2(n) (10)."""
    f = np.arange(n)
    while True:
        gf = f[f]
        g = f.copy()
        for u, v in ((a, b), (b, a)):
            np.minimum.at(g, u, gf[v])
            np.minimum.at(g, f[u], gf[v])
        g = g[g]
        if np.array_equal(g, f):
            return f
        f = g


def _label_on_driver(spark, edges, id_type) -> DataFrame:
    """(node, component) of a fetched Arrow ``(hi, lo)`` edge table, as a
    driver-local frame.  The ids are coded by their rank in sorted order
    (Arrow sorts integers and strings as Spark compares them), so the
    smallest code of a component is its smallest id."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from veranda_spark.session import local_df

    both = pa.chunked_array(edges["hi"].chunks + edges["lo"].chunks,
                            type=edges.schema.field("hi").type).combine_chunks()
    enc = both.dictionary_encode()
    order = pc.sort_indices(enc.dictionary).to_numpy()
    rank = np.empty_like(order)
    rank[order] = np.arange(order.size)
    codes = rank[enc.indices.to_numpy()]
    ids = enc.dictionary.take(order)
    lab = _min_labels(codes[: edges.num_rows], codes[edges.num_rows:], order.size)
    t = id_type.simpleString()
    return local_df(spark, pa.table([ids, ids.take(lab)], names=["node", "component"]),
                    f"node {t}, component {t}")


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """Transitive closure of near-dup pairs → (node, component) where
    component = the smallest node id reachable from node.  Near-dup
    PAIRS under-specify dedup: if A~B and B~C, all three are one group
    even when A~C never surfaced — survivor selection needs components.

    Two paths over one edge frame ``(hi, lo)``, hi >= lo, chosen by the
    input's size.  A probe fetches at most ``_DRIVER_EDGES + 1`` distinct
    edges through Arrow.

    - **Driver** (at most ``_DRIVER_EDGES`` distinct edges): the ids are
      coded by rank and labelled with numpy (``_min_labels``), and the
      result comes back through ``session.local_df``.  Below
      ``spark.sql.execution.arrow.localRelationThreshold`` (48 MB) that
      is a LocalRelation, so a join against it broadcasts with no
      shuffle; the benchmark's ~3.1k-edge near-dup graph takes this
      path.  A larger result is an RDD scan of the same rows, and joins
      against it shuffle: 1M disjoint string-id edges (2M nodes) gave
      one, and keep-first's anti-join ran as a sort-merge join.
    - **Loop** (larger): alternating large-star / small-star (Kiveris et
      al., "Connected Components in MapReduce and Beyond", SoCC 2014)
      rewrites the edge frame each round:

      - large-star: each neighbour v >= u of node u links to
        min(N(u) ∪ {u}), a window min by node over both edge directions;
      - small-star: each hi and each of its lo's link to that hi's
        smallest lo, a window min by hi.

      Neither step changes connectivity, and the frame converges to a
      star forest, one row per node — (leaf, root) or (root, root) —
      that both steps map to itself.  The check tests exactly that: no
      node has a smaller neighbour and a second row.  ("No lo is also a
      hi" is not enough: it can stop with a node linked to two roots.)
      A round is distinct + one eager localCheckpoint (flat plans) +
      that one check.  The paper bounds the rounds by O(log² n) for any
      id order; a shuffled 2000-node path takes 9, the sorted
      2^18-node chain 18.  Raises RuntimeError if ``max_iter`` rounds do
      not converge.

    Both paths give the same rows.  Duplicate and reversed pairs
    collapse.  A self-pair (x, x) or a pair with one null side
    (x, None) still makes x a node; null ids never are.  ``node`` and
    ``component`` have the id columns' type.

    ``stats`` (optional) receives {"rounds": <loop rounds run, including
    the last one, whose check found the star forest; 0 on the driver
    path>}."""
    hi, lo, u, v, m = (F.col(c) for c in ("hi", "lo", "u", "v", "m"))
    a, b = F.col(id_a), F.col(id_b)
    edges = pairs.select(F.greatest(a, b).alias("hi"), F.least(a, b).alias("lo")).filter(
        hi.isNotNull()
    )
    probe = edges.distinct().limit(_DRIVER_EDGES + 1).toArrow()
    if probe.num_rows <= _DRIVER_EDGES:
        if stats is not None:
            stats["rounds"] = 0
        return _label_on_driver(pairs.sparkSession, probe, edges.schema["hi"].dataType)
    both_ways = F.inline(F.array(F.struct(hi.alias("u"), lo.alias("v")),
                                 F.struct(lo.alias("u"), hi.alias("v"))))
    for it in range(max_iter):
        if stats is not None:
            stats["rounds"] = it + 1
        large = (
            edges.select(both_ways)
            .withColumn("m", F.least(u, F.min(v).over(Window.partitionBy("u"))))
            .filter(v >= u)
            .select(v.alias("hi"), m.alias("lo"))
        )
        small = large.withColumn("m", F.min(lo).over(Window.partitionBy("hi"))).select(
            F.inline(F.array(F.struct(hi, m.alias("lo")), F.struct(lo.alias("hi"), m.alias("lo"))))
        )
        edges = small.distinct().localCheckpoint(eager=True)
        unsettled = (
            edges.select(both_ways)
            .groupBy("u")
            .agg(F.min(v).alias("v"), F.count("*").alias("n"))
            .filter((v < u) & (F.col("n") > 1))
        )
        if unsettled.isEmpty():
            return edges.select(hi.alias("node"), lo.alias("component"))
    raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")


def dedup_keep_first_neardup(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Drop all near-duplicates except the smallest id of each connected
    component (the survivor rule of exact dedup, extended to transitive
    near-dup groups).  Rows that appear in no pair survive untouched."""
    comp = connected_components(pairs)
    losers = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")
