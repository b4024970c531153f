"""Deterministic sampling / splitting for training-data curation.

Large-scale pipelines need samples and splits that are (a) reproducible
across runs and engines, (b) computable without a global shuffle of the
fact table, and (c) assignable per ROW (a document's split must never
depend on which partition it landed in).  Both operators key on
md5(id) — bit-identical in Spark and DuckDB, so both are fully
oracle-checkable — and are pure JVM Column ops.

- stratified_sample: top-n per stratum by hash order (window over the
  stratum key; each stratum's candidates shuffle once on the stratum
  key, the classic per-group top-k plan).
- hash_split: stable train/val/test assignment from the first 8 hex
  chars of md5(id) — a map-only operation, no shuffle at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def stratified_sample(
    df: DataFrame,
    strata_cols: list[str],
    n_per_stratum: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic n-per-stratum sample: rank rows inside each stratum
    by md5(id) (a stable pseudo-random order) and keep the first n.

    One shuffle on the stratum key; at web scale prefer strata that are
    not pathologically hot, or pre-aggregate with a per-partition top-n
    (AQE's partial window pushdown already bounds the spill here)."""
    hk = F.md5(F.col(id_col).cast("string"))
    w = Window.partitionBy(*strata_cols).orderBy(hk.asc(), F.col(id_col).asc())
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= n_per_stratum)
        .drop("_rk")
    )


def hash_split(
    df: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    split_col: str = "split",
) -> DataFrame:
    """Stable train/val/test split: bucket = first 8 hex chars of
    md5(id) as a uint32 fraction of 2^32; cumulative weight ranges map
    buckets to split names.  Map-only (no shuffle), reproducible on any
    engine, and independent of row order or partitioning."""
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1 (got {total})")
    frac = F.conv(F.substring(F.md5(F.col(id_col).cast("string")), 1, 8), 16, 10).cast(
        "double"
    ) / F.lit(float(1 << 32))
    expr = None
    acc = 0.0
    items = list(weights.items())
    for name, wgt in items[:-1]:
        acc += wgt
        cond = frac < F.lit(acc)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return df.withColumn(split_col, expr)


def chunk_documents(
    df: DataFrame,
    window: int = 512,
    overlap: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split documents into overlapping token-window chunks (the
    pretraining context-window prep step): chunk i covers tokens
    [i·step, i·step + window) with step = window - overlap.

    All JVM Column ops — split → sequence of starts → explode → slice;
    no UDF, so chunking runs inside whole-stage codegen and the explode
    is the only row amplification (factor ≈ n_tokens / step).

    Start generation stops at the first start that reaches EOF: the last
    chunk is the smallest start whose window covers the final token, so
    no chunk is fully contained in its predecessor (a 460-token doc at
    window=512 yields exactly one chunk).  Whitespace-only documents
    yield no chunks."""
    if not 0 <= overlap < window:
        raise ValueError(f"need 0 <= overlap < window (got {overlap}, {window})")
    step = window - overlap
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size("_toks")
    max_start = F.when(n <= window, F.lit(0)).otherwise(
        F.lit(step) * F.floor((n - window + step - 1) / step)
    )
    out = (
        df.filter(F.length(F.trim(F.col(text_col))) > 0)
        .withColumn("_toks", toks)
        .withColumn(
            "_start",
            F.explode(F.sequence(F.lit(0), max_start.cast("int"), F.lit(step))),
        )
        .select(
            F.col(id_col),
            (F.col("_start") / step).cast("long").alias("chunk_id"),
            F.concat_ws(" ", F.slice("_toks", F.col("_start") + 1, window)).alias("chunk"),
            F.size(F.slice("_toks", F.col("_start") + 1, window)).alias("n_tok"),
        )
    )
    return out


def global_rank(
    df: DataFrame, key_cols: list[str], rank_col: str = "rank"
) -> DataFrame:
    """Dense global rank 1..N in ``key_cols`` order WITHOUT a
    single-partition window (the congruent_tile_ids lesson: an
    unpartitioned Window funnels the whole table through one task).

    Plan: range-partition on the keys (partition p's keys all sort
    before partition p+1's), per-partition row_number, plus broadcast
    cumulative partition offsets.  The partitioned frame is
    localCheckpoint-pinned so the offset pass and the rank pass see the
    SAME range boundaries (RangePartitioner samples per execution)."""
    return _global_rank(df, key_cols, rank_col)[0]


def _global_rank(
    df: DataFrame, key_cols: list[str], rank_col: str
) -> tuple[DataFrame, int]:
    """``global_rank`` plus the total row count, already known from the
    offset pass — contrastive_pairs needs it and would otherwise run one
    more count() job over the window."""
    spark = df.sparkSession
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    part = (
        df.repartitionByRange(n_parts, *[F.col(c) for c in key_cols])
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    counts = {
        r["_pid"]: r["cnt"]
        for r in part.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    }
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    omap = F.create_map(
        *[F.lit(x) for kv in sorted(offsets.items()) for x in kv]
    )
    w = Window.partitionBy("_pid").orderBy(*[F.col(c) for c in key_cols])
    out = part.withColumn(
        rank_col, F.row_number().over(w) + omap[F.col("_pid")]
    ).drop("_pid")
    return out, acc


def contrastive_pairs(
    df: DataFrame,
    k: int = 4,
    id_col: str = "doc_id",
    step: int = 7919,
) -> DataFrame:
    """Deterministic negative sampling for contrastive training pairs
    (CLIP-style image↔caption training needs (anchor, negative) pairs
    that are reproducible across runs and engines): rows rank 1..N in
    md5(id) order — effectively a random but deterministic shuffle — and
    anchor at rank r draws its j-th negative from rank
    ((r-1 + j·step) mod N) + 1.  Self-pairs (possible when N divides
    j·step) are dropped.  Output: (anchor_id, j, negative_id).

    Scale: rank via ``global_rank`` (range partition + offsets, no
    single-partition window); the negative lookup is an equi-join on the
    integer rank — co-partitioned, never all-pairs."""
    keyed = df.select(F.col(id_col)).withColumn(
        "_mk", F.md5(F.col(id_col).cast("string"))
    )
    gr, n = _global_rank(keyed, ["_mk", id_col], "rank")
    ranked = gr.drop("_mk")
    if n == 0:
        return ranked.select(
            F.col(id_col).alias("anchor_id"),
            F.lit(1).alias("j"),
            F.col(id_col).alias("negative_id"),
        ).limit(0)
    anchors = (
        ranked.select(F.col(id_col).alias("anchor_id"), "rank")
        .withColumn("j", F.explode(F.array(*[F.lit(j) for j in range(1, k + 1)])))
        .withColumn(
            "neg_rank",
            ((F.col("rank") - 1 + F.col("j") * F.lit(step)) % F.lit(n)) + 1,
        )
        .filter(F.col("neg_rank") != F.col("rank"))
    )
    negs = ranked.select(
        F.col(id_col).alias("negative_id"), F.col("rank").alias("neg_rank")
    )
    return anchors.join(negs, "neg_rank").select("anchor_id", "j", "negative_id")
