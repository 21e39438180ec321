"""Deterministic sampling operators for training-data pipelines.

Random `df.sample()` is irreproducible across runs/engines and unusable for
a dataset card ("which 10% did we train on?"). These operators sample by a
portable integer hash of a key column, so

- the same rows are selected on every run, engine, and cluster size;
- sampling composes with dedup/quality filters as plain predicates (stays
  inside whole-stage codegen, no shuffle);
- at 100 TB the predicate pushes to the scan — a 1% sample reads ~1% of
  row groups when the key correlates with file layout, and never
  materializes the other 99%.

The hash is the affine-mix bucket of ``ops/_hash.py`` — Knuth
multiplicative mixing in exact integer arithmetic, identical in any SQL
engine and overflow-safe for any BIGINT key under Spark's ANSI mode.
Empirically uniform to <0.5% at fraction 0.1. Not cryptographic; it is a
reproducible partitioner, not a security boundary (same tradeoff as
Spark's own ``sampleBy`` seeds).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries import load, register
from ._hash import (
    BUCKETS,
    bucket_duckdb,
    mix_duckdb,
    mix_spark,
    poly_duckdb,
    weight_sql,
)
from ._hash import bucket_spark as sample_bucket  # public sampling name


def deterministic_sample(
    df: DataFrame, key: str, fraction: float
) -> DataFrame:
    """Keep a reproducible ``fraction`` of rows by key hash."""
    return df.where(sample_bucket(F.col(key)) < int(fraction * BUCKETS))


def stratified_sample(
    df: DataFrame, key: str, strata: str, fractions: dict[str, float]
) -> DataFrame:
    """Per-stratum deterministic sampling (training-mix rebalancing):
    ``fractions`` maps stratum value → keep fraction; absent strata keep 0.
    One codegen CASE expression — no shuffle, no per-stratum jobs."""
    thresh = F.lit(0)
    for value, frac in sorted(fractions.items()):
        thresh = F.when(
            F.col(strata) == value, F.lit(int(frac * BUCKETS))
        ).otherwise(thresh)
    return df.where(sample_bucket(F.col(key)) < thresh)

_BUCKET_SQL = bucket_duckdb("doc_id")


@register(
    "deterministic_sample",
    oracle=f"""
    SELECT doc_id, lang, length(text) AS text_len
    FROM documents
    WHERE {_BUCKET_SQL} < 1000
    """,
    description="reproducible 10% corpus sample by key hash — same rows "
    "on every engine/run (dataset-card requirement); pure pushed-down "
    "predicate, no shuffle",
    tags=("sampling", "llm-pipeline"),
)
def deterministic_sample_query(spark: SparkSession, sf: str) -> DataFrame:
    docs = deterministic_sample(load(spark, sf, "documents"), "doc_id", 0.10)
    return docs.select(
        "doc_id", "lang", F.length("text").alias("text_len")
    )


@register(
    "stratified_sample",
    oracle=f"""
    SELECT lang, count(*) AS n
    FROM documents
    WHERE {_BUCKET_SQL} <
          CASE lang WHEN 'en' THEN 5000 WHEN 'de' THEN 2000 ELSE 0 END
    GROUP BY lang
    """,
    description="per-language training-mix rebalancing: keep 50% of 'en', "
    "20% of 'de', drop the rest — one deterministic CASE predicate, "
    "reproducible across engines",
    tags=("sampling", "llm-pipeline"),
)
def stratified_sample_query(spark: SparkSession, sf: str) -> DataFrame:
    out = stratified_sample(
        load(spark, sf, "documents"),
        key="doc_id",
        strata="lang",
        fractions={"en": 0.50, "de": 0.20},
    )
    return out.groupBy("lang").agg(F.count("*").alias("n"))


@register(
    "training_mix_pipeline",
    oracle=f"""
    WITH keep AS (
      SELECT min(doc_id) AS doc_id
      FROM documents GROUP BY md5(text)
    )
    SELECT d.doc_id, d.lang, length(d.text) AS text_len
    FROM documents d JOIN keep USING (doc_id)
    WHERE length(d.text) >= 50
      AND {bucket_duckdb('d.doc_id')} < 5000
    """,
    description="composed training-data prep: exact dedup (keep min id "
    "per content hash) -> min-length quality gate -> deterministic 50% "
    "sample. Dedup is the only shuffle; the rest rides the scan",
    tags=("sampling", "dedup", "llm-pipeline"),
)
def training_mix_pipeline(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    keep = docs.groupBy(F.md5(F.col("text").cast("binary")).alias("h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    out = (
        docs.join(keep.select("doc_id"), "doc_id", "left_semi")
        .where(F.length("text") >= 50)
        .where(sample_bucket(F.col("doc_id")) < 5000)
    )
    return out.select("doc_id", "lang", F.length("text").alias("text_len"))


@register(
    "lang_temperature_mix",
    oracle=f"""
    WITH counts AS (
      SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY lang
    ), mw AS (
      SELECT lang, n, CAST(floor(sqrt(n) * 1000) AS BIGINT) AS w
      FROM counts
    ), z AS (
      SELECT sum(w) AS z, sum(n) AS total FROM mw
    ), probs AS (
      SELECT lang, n,
             round(least(1.0,
               (0.6 * total * w)
               / (CAST(z AS DOUBLE) * CAST(n AS DOUBLE))), 6) AS keep_prob
      FROM mw, z
    )
    SELECT d.doc_id, d.lang, p.keep_prob
    FROM documents d JOIN probs p USING (lang)
    WHERE {bucket_duckdb('d.doc_id')}
          < round(p.keep_prob * 10000)
    """,
    description="temperature-based language rebalancing (the multilingual "
    "data-mixing standard: sampling weight ∝ n^α with α=0.5, so "
    "over-represented languages are relatively downsampled and rare ones "
    "kept): per-lang keep probability = min(1, target·w_i / (Σw·n_i)) "
    "applied as a deterministic hash threshold — reproducible, no stored "
    "sample table. Cross-engine exactness by construction: α=0.5 is "
    "IEEE-correctly-rounded sqrt in BOTH engines, quantized to integer "
    "milli-weights so the weight normalizer is an EXACT integer sum (a "
    "float Σ n^α would be partition-order-dependent). Per-lang counts "
    "are one tiny aggregate broadcast back; the corpus side is one scan "
    "with a pushed predicate.",
    tags=("sampling", "llm-pipeline"),
)
def lang_temperature_mix(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    counts = docs.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    mw = counts.select(
        "lang",
        "n",
        F.floor(F.sqrt("n") * 1000).cast("long").alias("w"),
    )
    z = mw.agg(F.sum("w").alias("z"), F.sum("n").alias("total"))
    # z*n as long*long overflows int64 under ANSI at web-scale corpus
    # counts (n ~ 1e10 → z·n ~ 1e19 > 2^63); multiply as doubles — the
    # numerator already is one, and double·double is order-identical
    # cross-engine
    probs = mw.crossJoin(F.broadcast(z)).select(
        "lang",
        F.round(
            F.least(
                F.lit(1.0),
                (0.6 * F.col("total") * F.col("w"))
                / (F.col("z").cast("double") * F.col("n").cast("double")),
            ),
            6,
        ).alias("keep_prob"),
    )
    return (
        docs.join(F.broadcast(probs), "lang")
        .where(
            sample_bucket(F.col("doc_id"))
            < F.round(F.col("keep_prob") * 10000)
        )
        .select("doc_id", "lang", "keep_prob")
    )


def pack_sequences(
    df: DataFrame,
    token_col: Column,
    budget: int,
    order_col: str = "doc_id",
    shard_col: str | None = None,
    allow_single_partition: bool = False,
) -> DataFrame:
    """Assign each document to a training-shard bin by concatenation
    offset: documents are laid out in ``order_col`` order and split at
    ``budget``-token boundaries (the streaming packer used to build
    fixed-length training sequences), so bin = floor(start_offset/budget).

    Scale shape: a global running sum is inherently sequential, so
    ``shard_col`` (e.g. language or source) is REQUIRED — each shard packs
    independently and the cumsum shuffles once on the shard key instead of
    collapsing the whole corpus into one partition. ``shard_col=None`` is
    only honored with an explicit ``allow_single_partition=True`` opt-in
    (small bounded inputs) so the repo's no-global-window policy can't be
    violated by a default argument."""
    from pyspark.sql import Window

    if shard_col is None and not allow_single_partition:
        raise ValueError(
            "pack_sequences: shard_col is required — a global cumsum "
            "window moves the entire corpus into ONE partition. Pass a "
            "shard column (e.g. language/source) or, for small bounded "
            "inputs only, allow_single_partition=True."
        )
    w = (
        Window.partitionBy(shard_col) if shard_col else Window.partitionBy()
    ).orderBy(order_col).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ntok = token_col.alias("__ntok")
    out = df.select("*", ntok).withColumn(
        "__start", F.sum("__ntok").over(w) - F.col("__ntok")
    )
    return out.withColumn(
        "bin_id", F.floor(F.col("__start") / budget)
    ).drop("__start")


@register(
    "sequence_packing",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, len(string_split(text, ' ')) AS n_tok
      FROM documents
    ),
    off AS (
      SELECT lang, n_tok,
             sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok
               AS start_off
      FROM toks
    )
    SELECT lang, CAST(floor(start_off / 2048) AS BIGINT) AS bin_id,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS total_tokens
    FROM off
    GROUP BY 1, 2
    """,
    description="sequence packing: per-language concatenation-offset "
    "binning into 2048-token training shards — one partitioned window "
    "cumsum (shuffles on the shard key, never a single global partition)",
    tags=("sampling", "llm-pipeline", "packing"),
)
def sequence_packing(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    packed = pack_sequences(
        docs,
        token_col=F.size(F.split(F.col("text"), " ")),
        budget=2048,
        shard_col="lang",
    )
    return packed.groupBy("lang", "bin_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("__ntok").alias("total_tokens"),
    )


def three_way_split(
    df: DataFrame,
    key: str,
    val_fraction: float = 0.05,
    test_fraction: float = 0.05,
) -> DataFrame:
    """Deterministic train/val/test assignment by key hash — the split is
    a pure projection (reproducible across engines, runs, and cluster
    sizes; no shuffle, no stored split table). Buckets:
    [0, val) → val, [val, val+test) → test, rest → train."""
    b = sample_bucket(F.col(key))
    v = int(val_fraction * BUCKETS)
    t = int((val_fraction + test_fraction) * BUCKETS)
    return df.withColumn(
        "split",
        F.when(b < v, F.lit("val"))
        .when(b < t, F.lit("test"))
        .otherwise(F.lit("train")),
    )


@register(
    "dataset_three_way_split",
    oracle=f"""
    SELECT CASE WHEN {_BUCKET_SQL} < 500 THEN 'val'
                WHEN {_BUCKET_SQL} < 1000 THEN 'test'
                ELSE 'train' END AS split,
           count(*) AS n,
           CAST(sum(length(text)) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY 1
    """,
    description="deterministic train/val/test split (90/5/5) by key hash: "
    "membership is a pure projection — same assignment on every engine, "
    "run, and cluster size, with no stored split table to drift; "
    "per-split size accounting for the dataset card",
    tags=("sampling", "llm-pipeline"),
)
def dataset_three_way_split(spark: SparkSession, sf: str) -> DataFrame:
    docs = three_way_split(
        load(spark, sf, "documents"), "doc_id", 0.05, 0.05
    )
    return docs.groupBy("split").agg(
        F.count("*").alias("n"),
        F.sum(F.length("text")).cast("long").alias("total_chars"),
    )


_N_SHARDS = 8


@register(
    "corpus_shard_shuffle",
    oracle=f"""
    WITH mixed AS (
      SELECT doc_id,
             {mix_duckdb('doc_id')} AS m
      FROM documents
    )
    SELECT doc_id,
           CAST(m % {_N_SHARDS} AS INT) AS shard,
           CAST(row_number() OVER (PARTITION BY m % {_N_SHARDS}
                                   ORDER BY m, doc_id) AS INT) AS pos
    FROM mixed
    """,
    description="deterministic global shuffle for training: every doc "
    "gets a shard (hash-partition) and a pseudorandom-but-reproducible "
    "position within it (sort by mixed hash). The 100 TB shape of "
    "'shuffle the corpus before training': one hash exchange + per-shard "
    "local sort, no global ordering anywhere",
    tags=("llm-pipeline", "sampling"),
)
def corpus_shard_shuffle(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load(spark, sf, "documents")
    with_m = docs.select("doc_id", mix_spark(F.col("doc_id")).alias("m"))
    shard = F.pmod(F.col("m"), F.lit(_N_SHARDS)).cast("int")
    pos = F.row_number().over(
        Window.partitionBy(F.pmod(F.col("m"), F.lit(_N_SHARDS))).orderBy(
            "m", "doc_id"
        )
    )
    return with_m.select(
        "doc_id", shard.alias("shard"), pos.alias("pos")
    )


@register(
    "importance_weighted_sample",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, tok FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      ) WHERE tok <> ''
    ), hb AS (
      SELECT doc_id,
             {poly_duckdb('tok')} % 64 AS b
      FROM toks
    ), scored AS (
      SELECT doc_id,
             sum({weight_sql('b')}) AS sw,
             count(*) AS n
      FROM hb GROUP BY doc_id
    ), probs AS (
      SELECT doc_id,
             1 / (1 + exp(-(CAST(sw AS DOUBLE) / (1000.0 * n)))) AS p,
             {bucket_duckdb('doc_id')} AS bucket
      FROM scored
    )
    SELECT doc_id, round(p, 6) AS keep_prob
    FROM probs WHERE bucket < p * 10000
    """,
    description="importance-weighted sampling: each doc kept with "
    "probability equal to its linear-classifier quality score, "
    "implemented as hash-bucket < p*10000 — reproducible (same corpus -> "
    "same sample), joint-free, scan-local. The quality-weighted corpus "
    "downsample step, composed entirely from existing primitives",
    tags=("llm-pipeline", "sampling", "quality"),
)
def importance_weighted_sample(spark: SparkSession, sf: str) -> DataFrame:
    from .textstats_bridge import classifier_scores

    scored = classifier_scores(load(spark, sf, "documents"))
    bucket = sample_bucket(F.col("doc_id"))
    return scored.where(
        bucket < F.col("p") * 10000
    ).select("doc_id", F.round("p", 6).alias("keep_prob"))


@register(
    "curriculum_order",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, tok FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      ) WHERE tok <> ''
    ), hb AS (
      SELECT doc_id,
             {poly_duckdb('tok')} % 64 AS b
      FROM toks
    ), scored AS (
      SELECT doc_id,
             round(1 / (1 + exp(-(CAST(sum({weight_sql('b')}) AS DOUBLE)
                                  / (1000.0 * count(*))))), 6) AS p
      FROM hb GROUP BY doc_id
    ), q AS (
      SELECT percentile_cont(0.25) WITHIN GROUP (ORDER BY p) AS q25,
             percentile_cont(0.50) WITHIN GROUP (ORDER BY p) AS q50,
             percentile_cont(0.75) WITHIN GROUP (ORDER BY p) AS q75
      FROM scored
    ), banded AS (
      SELECT doc_id, p,
             CAST(CASE WHEN p >= q75 THEN 1
                       WHEN p >= q50 THEN 2
                       WHEN p >= q25 THEN 3
                       ELSE 4 END AS INT) AS band,
             {mix_duckdb('doc_id')} AS m
      FROM scored, q
    )
    SELECT doc_id, band, CAST(m % 64 AS INT) AS shard,
           CAST(row_number() OVER (PARTITION BY band, m % 64
                                   ORDER BY m, doc_id)
                AS INT) AS pos
    FROM banded
    """,
    description="curriculum ordering: quality quartiles via exact "
    "percentile THRESHOLDS (Spark percentile() == percentile_cont "
    "bit-for-bit) banded by value comparison — NOT ntile, whose global "
    "window funnels the whole corpus through one partition. Position is "
    "a reproducible pseudorandom rank within (band, shard): the shard "
    "key caps every window group at corpus/64 per band, and the curriculum total "
    "order is (band, shard, pos). Ties at a quartile boundary go to the "
    "better band in both engines (>= comparison on identical threshold "
    "bits), so the banding is deterministic without a tiebreak column.",
    tags=("llm-pipeline", "sampling", "quality"),
)
def curriculum_order(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    from .textstats_bridge import classifier_scores

    scored = classifier_scores(load(spark, sf, "documents")).select(
        "doc_id", F.round("p", 6).alias("p")
    )
    qs = scored.agg(
        F.expr("percentile(p, 0.25)").alias("q25"),
        F.expr("percentile(p, 0.50)").alias("q50"),
        F.expr("percentile(p, 0.75)").alias("q75"),
    )
    band = (
        F.when(F.col("p") >= F.col("q75"), 1)
        .when(F.col("p") >= F.col("q50"), 2)
        .when(F.col("p") >= F.col("q25"), 3)
        .otherwise(4)
        .cast("int")
    )
    mixed = mix_spark(F.col("doc_id"))
    banded = scored.crossJoin(F.broadcast(qs)).select(
        "doc_id", "p", band.alias("band"), mixed.alias("m")
    )
    shard = (F.col("m") % 64).cast("int")
    pos = F.row_number().over(
        Window.partitionBy("band", F.col("m") % 64).orderBy("m", "doc_id")
    )
    return banded.select(
        "doc_id", "band", shard.alias("shard"), pos.alias("pos")
    )


@register(
    "weighted_reservoir_sample",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, n_chars,
             {mix_duckdb('doc_id')} % 1000000 AS m
      FROM documents
    ), k AS (
      SELECT doc_id, n_chars,
             round(ln((m + 1) / 1000000.0) / n_chars, 10) AS skey
      FROM s
    )
    SELECT doc_id, n_chars, skey FROM k
    ORDER BY skey DESC, doc_id ASC LIMIT 50
    """,
    description="weighted sampling WITHOUT replacement (Efraimidis-"
    "Spirakis A-ES): each doc draws a deterministic pseudo-uniform u from "
    "an affine hash of its id and keeps key = ln(u)/weight (weight = doc "
    "length); the global top-k by key IS an exact weighted sample. "
    "Distributed shape: one scan + TakeOrdered — per-partition top-k "
    "merges on the driver, no shuffle, no sequential reservoir. Key "
    "rounded to 10 decimals with id tiebreak so cross-engine libm ulps "
    "cannot reorder the boundary.",
    tags=("llm-pipeline", "sampling"),
)
def weighted_reservoir_sample(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    m = F.pmod(mix_spark(F.col("doc_id")), F.lit(1000000))
    skey = F.round(F.log((m + 1) / 1000000.0) / F.col("n_chars"), 10)
    return (
        docs.select("doc_id", "n_chars", skey.alias("skey"))
        .orderBy(F.col("skey").desc(), F.col("doc_id").asc())
        .limit(50)
    )
