"""Shared scoring primitives reused across sampling/curriculum ops (kept
out of textstats.py to avoid an import cycle with sampling.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._hash import poly_spark, weight_sql

_CLF_BUCKETS = 64

#: per-document (n_tokens, weight_sum) as ONE SQL expression pair over the
#: token array — no explode, no shuffle. The inner fold is the polynomial
#: token hash; bucket → affine integer milli-weight, summed exactly.
#: Lambda variables: outer accumulator `acc`/token `t`, inner `a`/`c`.
_TOK_ARR = "filter(split(text, ' '), t -> t != '')"
_W_SUM = (
    f"aggregate({_TOK_ARR}, 0L, (acc, t) -> acc + "
    + weight_sql(f"({poly_spark('t')} % {_CLF_BUCKETS})")
    + ")"
)


def doc_token_weight_sums(docs: DataFrame) -> DataFrame:
    """(doc_id, n, sw): token count and exact integer milli-weight sum per
    document, computed as one zero-shuffle projection.

    r10 OPT (guide §2.4 "remove shuffles outright" / §1.2): the old shape
    exploded the corpus to one row per token and paid a full (doc_id)
    groupBy exchange just to re-assemble per-document sums; both numbers
    are per-row functions of the token array, so a single array
    ``aggregate`` computes them scan-locally. The integer sum is
    order-independent, so the result is bit-identical to the grouped
    form. Documents with zero tokens are dropped (the exploded form never
    produced a row for them)."""
    return docs.select(
        "doc_id",
        F.expr(f"size({_TOK_ARR})").alias("n"),
        F.expr(_W_SUM).alias("sw"),
    ).where(F.col("n") > 0)


def classifier_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, p): the linear-classifier keep probability per document —
    identical math to quality_linear_classifier (hashing-trick integer
    milli-weights, mean-pooled logit → sigmoid)."""
    per_doc = doc_token_weight_sums(docs)
    logit = F.col("sw").cast("double") / (F.lit(1000.0) * F.col("n"))
    return per_doc.select(
        "doc_id",
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-logit))).alias("p"),
    )
