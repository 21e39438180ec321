"""Dedup-aware dataset splitting: leakage measurement and the group-split
remedy.

A plain hash split of a corpus with near-duplicates leaks training text
into the eval set: two near-identical documents land on opposite sides of
the boundary, and every benchmark number computed on the eval side is
contaminated (the same failure class the decontamination operators guard
against, but self-inflicted by the split instead of imported from an
external benchmark). Two operators:

- ``split_leakage_report`` MEASURES the leak on the standard per-document
  hash split: every trigram-Jaccard near-dup pair is classified by the
  split sides of its endpoints, so the (train, test) / (train, val) rows
  quantify exactly how many eval documents have a training-set twin.
- ``cluster_aware_split`` is the REMEDY: split by near-dup CLUSTER
  (connected components over the same pair graph; singletons are their
  own cluster), so an entire duplicate family lands on one side. The
  output value-checks the guarantee — the cross-split pair count is
  computed from the data (not asserted) and must be zero on both engines.

Scale notes: both reuse the shared capped trigram-Jaccard pair pipeline
(budget-guarded, see ``_jaccard_pair_counts``) and the pointer-jumping
connected-components loop — the split logic itself adds only hash
projections and one groupBy each. Split membership is a pure projection
of the cluster id (no stored split table to drift), exactly like
``dataset_three_way_split``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries import load, register
from ._cache import cache_scoped as _cache_scoped
from ._cache import scoped_cache as _scoped_cache
from ._hash import bucket_duckdb, bucket_spark
from .dedup import (
    _JACCARD_CTES,
    _jaccard_pairs_sql,
    connected_components,
    ngram_jaccard_pairs,
)

#: split thresholds over the 10k-bucket hash space — 5% val, 5% test
#: (mirrors dataset_three_way_split)
_VAL_LT = 500
_TEST_LT = 1000


def _split_case_sql(key: str) -> str:
    return (
        f"CASE WHEN {bucket_duckdb(key)} < {_VAL_LT} THEN 'val' "
        f"WHEN {bucket_duckdb(key)} < {_TEST_LT} THEN 'test' "
        f"ELSE 'train' END"
    )


def _split_col(key):
    b = bucket_spark(key)
    return (
        F.when(b < _VAL_LT, F.lit("val"))
        .when(b < _TEST_LT, F.lit("test"))
        .otherwise(F.lit("train"))
    )


@register(
    "split_leakage_report",
    oracle=f"""
    {_jaccard_pairs_sql(0.05)},
    labeled AS (
      SELECT least({_split_case_sql('doc_a')},
                   {_split_case_sql('doc_b')}) AS split_lo,
             greatest({_split_case_sql('doc_a')},
                      {_split_case_sql('doc_b')}) AS split_hi,
             doc_a, doc_b
      FROM pairs
    ),
    pc AS (
      SELECT split_lo, split_hi, count(*) AS n_pairs
      FROM labeled GROUP BY split_lo, split_hi
    ),
    dc AS (
      SELECT split_lo, split_hi, count(DISTINCT d) AS n_docs
      FROM (
        SELECT split_lo, split_hi, doc_a AS d FROM labeled
        UNION ALL
        SELECT split_lo, split_hi, doc_b AS d FROM labeled
      )
      GROUP BY split_lo, split_hi
    )
    SELECT pc.split_lo, pc.split_hi,
           CAST(pc.n_pairs AS BIGINT) AS n_pairs,
           CAST(dc.n_docs AS BIGINT) AS n_docs
    FROM pc JOIN dc USING (split_lo, split_hi)
    """,
    description="eval-set contamination by the split itself: classify "
    "every trigram-Jaccard (>=0.05) near-dup pair by the hash-split "
    "sides of its endpoints. Rows where split_lo <> split_hi are "
    "LEAKED pairs — an eval document with a training-set near-twin; "
    "n_docs counts the distinct documents involved (a doc in many "
    "pairs counts once), n_pairs counts pairs. Scale: the pair "
    "pipeline is the "
    "budget-guarded shared one; the report adds two projections and "
    "one groupBy over the pair set.",
    tags=("llm-pipeline", "dedup", "sampling", "report"),
)
@_cache_scoped
def split_leakage_report(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    pairs = ngram_jaccard_pairs(
        docs, n=3, threshold=0.05, max_shingle_df=100
    ).select("doc_a", "doc_b")
    sa = _split_col(F.col("doc_a"))
    sb = _split_col(F.col("doc_b"))
    # r10 OPT (guide §1.2): the labeled pair table fed THREE copies of
    # the posting-join pipeline (the pair-count branch plus two union
    # branches of the doc rollup). Cache it — it is bounded by the pair
    # budget, never corpus-sized — and emit both endpoints with one
    # explode so the pair pipeline executes once.
    labeled = _scoped_cache(
        pairs.select(
            F.least(sa, sb).alias("split_lo"),
            F.greatest(sa, sb).alias("split_hi"),
            "doc_a",
            "doc_b",
        )
    )
    pair_counts = labeled.groupBy("split_lo", "split_hi").agg(
        F.count("*").cast("long").alias("n_pairs")
    )
    exploded = labeled.select(
        "split_lo",
        "split_hi",
        F.explode(F.array("doc_a", "doc_b")).alias("d"),
    )
    doc_counts = exploded.groupBy("split_lo", "split_hi").agg(
        F.countDistinct("d").cast("long").alias("n_docs")
    )
    return pair_counts.join(doc_counts, ["split_lo", "split_hi"])


@register(
    "cluster_aware_split",
    oracle=f"""
    WITH RECURSIVE {_JACCARD_CTES},
    pairs AS (
      SELECT doc_a, doc_b FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.05
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(u, v) AS (
      SELECT u, u FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v
    ),
    cc AS (SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u),
    assigned AS (
      SELECT d.doc_id,
             coalesce(cc.cluster_id, d.doc_id) AS cluster_id,
             length(d.text) AS n_chars
      FROM documents d LEFT JOIN cc ON cc.doc_id = d.doc_id
    ),
    with_split AS (
      SELECT doc_id, cluster_id, n_chars,
             {_split_case_sql('cluster_id')} AS split
      FROM assigned
    ),
    leaks AS (
      SELECT w.split, count(*) AS n_cross
      FROM pairs p
      JOIN with_split w ON w.doc_id = p.doc_a
      JOIN with_split x ON x.doc_id = p.doc_b
      WHERE w.split <> x.split
      GROUP BY w.split
    )
    SELECT s.split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT s.cluster_id) AS BIGINT) AS n_clusters,
           CAST(sum(s.n_chars) AS BIGINT) AS total_chars,
           CAST(coalesce(max(l.n_cross), 0) AS BIGINT) AS n_leaked_pairs
    FROM with_split s LEFT JOIN leaks l ON l.split = s.split
    GROUP BY s.split
    """,
    description="leakage-free train/val/test split: assign each document "
    "its near-dup CLUSTER id (connected components over the trigram-"
    "Jaccard 0.05 pair graph; docs outside any pair are their own "
    "cluster), then hash-split on the CLUSTER id so every duplicate "
    "family lands on one side. n_leaked_pairs is COMPUTED from the "
    "pair graph per split (not asserted) and must be zero — the "
    "guarantee is value-checked cross-engine. Scale: CC is the shared "
    "pointer-jumping loop over (long, long) pairs; the split adds a "
    "hash projection and one groupBy(split).",
    tags=("llm-pipeline", "dedup", "sampling", "iterative"),
)
def cluster_aware_split(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    pairs = ngram_jaccard_pairs(
        docs, n=3, threshold=0.05, max_shingle_df=100
    ).select("doc_a", "doc_b")
    cc = connected_components(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
        edges_unique=True,  # oriented doc_a < doc_b pairs from a groupBy
    )
    assigned = docs.select(
        "doc_id", F.length("text").alias("n_chars")
    ).join(
        cc.select(F.col("id").alias("doc_id"), "label"), "doc_id", "left"
    ).select(
        "doc_id",
        "n_chars",
        F.coalesce("label", "doc_id").alias("cluster_id"),
    )
    with_split = assigned.select(
        "doc_id",
        "cluster_id",
        "n_chars",
        _split_col(F.col("cluster_id")).alias("split"),
    )
    ws_a = with_split.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
    )
    ws_b = with_split.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
    )
    leaks = (
        pairs.join(ws_a, "doc_a")
        .join(ws_b, "doc_b")
        .where(F.col("split_a") != F.col("split_b"))
        .groupBy(F.col("split_a").alias("split"))
        .agg(F.count("*").alias("n_cross"))
    )
    return (
        with_split.groupBy("split")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("cluster_id").cast("long").alias("n_clusters"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .join(F.broadcast(leaks), "split", "left")
        .select(
            "split",
            "n_docs",
            "n_clusters",
            "total_chars",
            F.coalesce("n_cross", F.lit(0))
            .cast("long")
            .alias("n_leaked_pairs"),
        )
    )
