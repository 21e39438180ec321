"""Document deduplication: exact, normalized, n-gram Jaccard, MinHash+LSH,
SimHash.

Scale design notes (the part that matters at 100 TB):
- exact/normalized: one hash-groupBy on a 128-bit fingerprint; map-side
  partial agg makes this a single cheap shuffle of (hash, id) pairs, never
  of document text.
- n-gram Jaccard: explode to (shingle, doc) pairs and self-join on the
  shingle. The join key space is bounded by shingle frequency — a
  DF-style `max_shingle_freq` filter drops degenerate high-frequency
  shingles, which is what keeps the pair count near-linear.
- MinHash+LSH: k permutations via affine transforms of one 64-bit shingle
  hash (no k-fold hashing of the text), banded into b buckets; candidate
  pairs only within identical (band, band_hash) — the classic
  shuffle-bounded near-dup pipeline (cf. Broder '97, LSH banding in MMDS
  ch.3). All JVM-side: xxhash64 + aggregate(), no Python in the hot path.
- SimHash: 64-bit fingerprint from per-token hashes weighted ±1 per bit;
  near-dups = Hamming distance ≤ k, found by splitting the fingerprint into
  4 16-bit blocks (pigeonhole: distance ≤3 ⇒ at least one block equal) and
  joining on (block_idx, block_value).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries import load, register, spread

# ---------------------------------------------------------------------------
# scoped cache registry (r7 ADVICE: persisted-dataset leak) — shared
# machinery lives in ops/_cache.py; see its module docstring. Pipelines
# here that cache an intermediate feeding multiple branches of one
# lazily-returned plan use _scoped_cache under a @_cache_scoped function
# so each new pipeline construction releases the previous generation.
# ---------------------------------------------------------------------------

from ._cache import cache_scoped as _cache_scoped
from ._cache import release_all_caches as release_dedup_caches  # noqa: F401
from ._cache import scoped_cache as _scoped_cache
from ._hash import (
    AFFINE_COEFFS,
    MINHASH_COEFFS,
    B,
    P,
    bucket_duckdb,
    bucket_spark,
    codes_duckdb,
    codes_spark,
    poly_duckdb,
    poly_duckdb_codes,
    poly_spark,
    values_duckdb,
)

# ---------------------------------------------------------------------------
# exact + normalized dedup (oracle-checked: md5 is identical across engines)
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS fingerprint,
           min(doc_id) AS keep_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
    description="exact dedup: md5 fingerprint groupBy; only (hash,id) tuples "
    "shuffle, never text",
    tags=("dedup",),
)
def dedup_exact(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load(spark, sf, "documents")
        .groupBy(F.md5("text").alias("fingerprint"))
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
    )


@register(
    "dedup_normalized",
    oracle="""
    SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fingerprint,
           min(doc_id) AS keep_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY 1
    HAVING count(*) >= 1
    """,
    description="normalized dedup: lowercase/trim/whitespace-collapse before "
    "fingerprinting",
    tags=("dedup",),
)
def dedup_normalized(spark: SparkSession, sf: str) -> DataFrame:
    norm = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    return (
        load(spark, sf, "documents")
        .groupBy(F.md5(norm).alias("fingerprint"))
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
    )


@register(
    "dedup_quality_keep",
    oracle="""
    WITH scored AS (
      SELECT md5(array_to_string(list_sort(list_distinct(
               string_split(lower(trim(regexp_replace(text, '\\s+', ' ',
                                                      'g'))), ' '))), ' '))
               AS fingerprint,
             doc_id,
             len(list_distinct(list_filter(string_split(text, ' '),
                                           x -> x <> ''))) AS n_distinct_toks
      FROM documents
    ),
    ranked AS (
      SELECT fingerprint, doc_id, n_distinct_toks,
             row_number() OVER (
               PARTITION BY fingerprint
               ORDER BY n_distinct_toks DESC, doc_id ASC) AS rn,
             count(*) OVER (PARTITION BY fingerprint) AS n_copies
      FROM scored
    )
    SELECT fingerprint,
           doc_id AS keep_id,
           CAST(n_copies AS BIGINT) AS n_copies,
           CAST(n_distinct_toks AS BIGINT) AS kept_distinct_tokens
    FROM ranked WHERE rn = 1 AND n_copies >= 2
    """,
    description="quality-aware survivor selection: within each duplicate "
    "group (>= 2 copies sharing the same normalized distinct-token SET — "
    "case/whitespace/word-order/repetition invariant, so shuffled and "
    "stutter-duplicated copies group with their clean original), keep "
    "the document with the richest raw vocabulary (most distinct "
    "tokens; doc_id tiebreak) instead of dedup_keep_list's arbitrary "
    "min-id — the corpus-pipeline policy that keeps the clean copy and "
    "drops the truncated/mangled ones. Scale: ONE scan, one shuffle on "
    "the fingerprint; both window functions share the fingerprint "
    "partitioning (group-bounded, never global) and the >= 2 filter "
    "runs post-window — no second scan or join to find dup groups.",
    tags=("dedup", "llm-pipeline", "quality"),
)
def dedup_quality_keep(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load(spark, sf, "documents")
    norm = F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
    scored = docs.select(
        F.md5(
            F.concat_ws(
                " ", F.array_sort(F.array_distinct(F.split(norm, " ")))
            )
        ).alias("fingerprint"),
        "doc_id",
        F.size(
            F.array_distinct(
                F.filter(F.split("text", " "), lambda x: x != "")
            )
        ).alias("n_distinct_toks"),
    )
    w = Window.partitionBy("fingerprint")
    ranked = scored.select(
        "fingerprint",
        "doc_id",
        "n_distinct_toks",
        F.row_number()
        .over(
            w.orderBy(
                F.col("n_distinct_toks").desc(), F.col("doc_id").asc()
            )
        )
        .alias("rn"),
        F.count("*").over(w).alias("n_copies"),
    )
    return ranked.where(
        (F.col("rn") == 1) & (F.col("n_copies") >= 2)
    ).select(
        "fingerprint",
        F.col("doc_id").alias("keep_id"),
        F.col("n_copies").cast("long").alias("n_copies"),
        F.col("n_distinct_toks").cast("long").alias("kept_distinct_tokens"),
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard near-dup (oracle-checked)
# ---------------------------------------------------------------------------


def shingles(df: DataFrame, text_col: str = "text", n: int = 2) -> DataFrame:
    """(doc_id, shingle) pairs: distinct word n-grams per document.

    spread() first: every consumer (Jaccard, MinHash, Bloom, n-gram
    decontamination) does its heavy gram/hash work directly on this frame,
    and a single-file scan would otherwise pin all of it to one task."""
    df = spread(df)
    toks = F.split(F.col(text_col), " ")
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return df.select(
        "doc_id", F.explode(F.array_distinct(grams)).alias("shingle")
    )


# shared CTE chain for the trigram-Jaccard pair generator; composed into
# both the pairs oracle and the connected-components oracle below so the
# two stay provably in sync with the Spark-side ngram_jaccard_pairs().
#: the shingle/cap/size prefix shared by the all-pairs chain below AND the
#: incremental (new-slice x corpus) chain — one source of truth for the
#: tokenization, the df<=100 cap, and the capped per-doc sizes
_SHINGLE_CTES = """
    sh0 AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(generate_series(1, len(toks) - 2),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
               AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t
    ),
    keep AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= 100),
    sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN keep USING (shingle)),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id)"""

_JACCARD_CTES = f"""{_SHINGLE_CTES},
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
"""

def _jaccard_pairs_sql(threshold: float) -> str:
    """WITH-prefix producing the thresholded ``pairs`` CTE — the one
    shared entry point for every oracle built on the Jaccard pair graph
    (pairs, PageRank, triangles, ensemble flags)."""
    return f"""
    WITH {_JACCARD_CTES},
    pairs AS (
      SELECT doc_a, doc_b FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter)
            >= {threshold}
    )"""


JACCARD_ORACLE = f"""
    WITH {_JACCARD_CTES}
    SELECT doc_a, doc_b,
           CAST(n_inter AS DOUBLE)
             / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.05
"""


@register(
    "dedup_ngram_jaccard",
    oracle=JACCARD_ORACLE,
    description="near-dup via word-trigram Jaccard ≥ 0.05: explode shingles, "
    "self-join on shingle, exact set arithmetic. Trigrams keep the shingle "
    "key space selective (sum of df² bounds the join output), and a max-df "
    "cap (100) drops stop-phrase shingles before the self-join — one hot "
    "shingle with df=d otherwise contributes d²/2 pairs, the scale-killer "
    "on skewed corpora. The oracle applies the identical cap.",
    tags=("dedup", "join"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf: str) -> DataFrame:
    return ngram_jaccard_pairs(
        load(spark, sf, "documents"), n=3, threshold=0.05, max_shingle_df=100
    )


class JaccardPairBudgetExceeded(RuntimeError):
    """The estimated capped candidate-pair space of an exact-Jaccard run
    exceeds the configured budget. Raised by ``_jaccard_pair_counts``
    (``on_budget="raise"``) before any pair is materialized, so a
    vocab-saturated corpus fails in seconds with a actionable message
    instead of grinding through a 100x pair blowup (the r6 10x scaling
    battery measured exactly that failure mode: trigram-space saturation
    grew the capped pair space 78x). The message carries the estimate so
    the caller can switch to the banded path or raise the budget."""


#: default guard for the exact-Jaccard family: well above any healthy
#: corpus at bench scale (sf0.1 ~= 1.3M capped pairs, the saturated 10x
#: synthetic corpus ~= 99M) but low enough that a runaway pair space
#: fails fast instead of melting the shuffle tier.
DEFAULT_JACCARD_PAIR_BUDGET = 500_000_000


def estimate_capped_pairs(
    dfs: DataFrame, max_shingle_df: int | None
) -> int:
    """Scalar estimate of the exact-Jaccard candidate-pair space from the
    shingle document-frequency table: sum over kept shingles of C(df, 2)
    — the EXACT number of (doc_a, doc_b, shingle) join rows the
    intersection self-join will produce (the per-pair groupBy then
    shrinks it). One map-side-combined aggregate; output is one row."""
    kept = dfs
    if max_shingle_df is not None:
        kept = kept.where(F.col("df") <= max_shingle_df)
    row = kept.agg(
        F.coalesce(
            F.sum(F.expr("df * (df - 1) div 2")), F.lit(0)
        ).alias("pairs")
    ).collect()[0]
    return int(row["pairs"])


@_cache_scoped
def _banded_pair_counts(
    docs: DataFrame, n: int = 3, max_shingle_df: int | None = 100
) -> DataFrame:
    """Same contract as ``_jaccard_pair_counts`` — (doc_a, doc_b,
    n_inter, na, nb) over the df-capped shingle universe — but the pair
    SET is restricted to the portable MinHash-LSH candidates (32 perms,
    8 bands x 4 rows), so the join work is bounded by the band-bucket
    sizes instead of Sigma C(df, 2). This is the scale path the r6
    scaling battery measured at 1.34x on the corpus where the exact
    pair space grew 78x: recall is the LSH banding curve
    (lsh_band_sweep_recall quantifies it), precision is exact because
    every surfaced pair still gets its true capped-Jaccard counts."""
    if n != 3:
        raise ValueError("banded fallback is defined for trigrams (n=3)")
    from pyspark.sql import Window

    _sh_ph, _sigs, cand = _portable_sigs_cands(docs)
    sh = shingles(docs, n=n).select(
        "doc_id", F.xxhash64("shingle").alias("sh")
    )
    if max_shingle_df is not None:
        # r10 OPT (guide §2.4): per-shingle df via ONE window exchange on
        # `sh` + a plain filter, replacing the groupBy + left_semi shape
        # (two exchanges and a second evaluation of the shingle subtree)
        sh = (
            sh.withColumn(
                "df", F.count("*").over(Window.partitionBy("sh"))
            )
            .where(F.col("df") <= max_shingle_df)
            .select("doc_id", "sh")
        )
    sh = _scoped_cache(sh)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    pa = sh.select(F.col("doc_id").alias("doc_a"), "sh")
    pb = sh.select(
        F.col("doc_id").alias("docb"), F.col("sh").alias("shb")
    )
    inter = (
        cand.join(pa, "doc_a")
        .join(
            pb,
            (F.col("doc_b") == F.col("docb"))
            & (F.col("sh") == F.col("shb")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")
    )
    return inter.join(sa, "doc_a").join(sb, "doc_b")


@_cache_scoped
def _jaccard_pair_counts(
    docs: DataFrame,
    n: int = 3,
    max_shingle_df: int | None = 100,
    pair_budget: int | None = DEFAULT_JACCARD_PAIR_BUDGET,
    on_budget: str = "raise",
    sh_df: DataFrame | None = None,
) -> DataFrame:
    """(doc_a, doc_b, n_inter, na, nb): the capped trigram-shingle pair
    pipeline shared by every Jaccard-derived operator (pairs, the
    cross-source matrix, the threshold-sensitivity curve) — ONE place
    owns the df cap, the 8-byte shingle-hash join key, and the
    intersection/size joins, mirroring the SQL side's _JACCARD_CTES.

    Self-protection (r7, from the r6 10x scaling battery): before the
    self-join runs, a one-scalar aggregate over the shingle-df table
    computes the exact candidate-pair space Sigma_{df<=cap} C(df, 2)
    (above-cap shingles are DROPPED by the pipeline, so they
    contribute zero pairs, not C(cap, 2)).
    Above ``pair_budget`` the run either raises
    ``JaccardPairBudgetExceeded`` (``on_budget="raise"``, default) or
    logs a warning and reroutes through ``_banded_pair_counts``
    (``on_budget="fallback"``) — the measured failure mode (78x pair
    growth on trigram-space saturation) can no longer reach the shuffle
    tier unannounced. ``pair_budget=None`` disables the guard (used by
    the registered exact queries' oracles only in tests that need the
    unguarded shape)."""
    from pyspark.sql import Window

    if sh_df is not None:
        sh = sh_df
    else:
        sh = shingles(docs, n=n).select(
            "doc_id", F.xxhash64("shingle").alias("sh")
        )
    if max_shingle_df is not None or pair_budget is not None:
        # r10 OPT (guide §1.2 "don't compute things twice" / §2.4): the
        # old shape ran the shingle pipeline TWICE — once under a
        # temporary persist for the budget estimate, once lazily for the
        # df-cap keep-filter — and paid a groupBy + left_semi join (two
        # more exchanges) for the cap. One window count over the
        # scoped-cached shingle table now owns `df`: the budget
        # estimate's action materializes the cache the main job reads
        # (one shingle pass total), the cap is a plain filter, and the
        # window's exchange leaves the cache hash-partitioned by `sh`,
        # so the intersection self-join below reuses that layout on
        # BOTH sides instead of exchanging them again.
        sh = _scoped_cache(
            sh.withColumn(
                "df", F.count("*").over(Window.partitionBy("sh"))
            )
        )
        if pair_budget is not None:
            capped = (
                sh.where(F.col("df") <= max_shingle_df)
                if max_shingle_df is not None
                else sh
            )
            # a kept shingle with df rows contributes C(df,2) candidate
            # rows; summing (df-1) over its df rows gives df*(df-1) =
            # exactly 2*C(df,2). decimal(38,0): immune to overflow on
            # uncapped df at corpus scale.
            row = capped.agg(
                F.sum(
                    (F.col("df") - F.lit(1)).cast("decimal(38,0)")
                ).alias("pairs2")
            ).collect()[0]
            est = int(row["pairs2"] or 0) // 2
            if est > pair_budget:
                if on_budget == "fallback":
                    import warnings

                    warnings.warn(
                        f"exact-Jaccard pair space ~{est:,} exceeds "
                        f"budget {pair_budget:,}; falling back to the "
                        "banded-LSH candidate pipeline "
                        "(recall = LSH banding curve)",
                        RuntimeWarning,
                        stacklevel=2,
                    )
                    return _banded_pair_counts(
                        docs, n=n, max_shingle_df=max_shingle_df
                    )
                raise JaccardPairBudgetExceeded(
                    f"estimated capped candidate-pair space {est:,} "
                    f"exceeds pair_budget {pair_budget:,} "
                    f"(max_shingle_df={max_shingle_df}); use the "
                    "banded-LSH path (on_budget='fallback' or "
                    "dedup_minhash_lsh), raise the budget, or lower "
                    "max_shingle_df"
                )
        if max_shingle_df is not None:
            sh = sh.where(F.col("df") <= max_shingle_df)
        sh = sh.select("doc_id", "sh")
    else:
        sh = _scoped_cache(sh)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "sh")
    b = sh.select(F.col("doc_id").alias("doc_b"), "sh")
    inter = (
        a.join(b, "sh")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(
        F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na")
    )
    sb = sizes.select(
        F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb")
    )
    return inter.join(sa, "doc_a").join(sb, "doc_b")


def ngram_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.05,
    max_shingle_df: int | None = 100,
    sh_df: DataFrame | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard pairs over a document frame.

    ``max_shingle_df`` drops shingles appearing in more than that many
    documents from BOTH the intersection join and the per-doc sizes, so the
    Jaccard is computed over the capped shingle universe on both sides of
    any cross-engine comparison. This bounds the self-join blowup: a
    shingle with document frequency d emits d²/2 candidate pairs, so
    without the cap one boilerplate phrase shared by 1M docs produces
    5·10¹¹ pairs regardless of corpus size."""
    # the pair pipeline joins on the 8-byte xxhash64 of each shingle,
    # not the ~20-byte string: shuffle writes shrink ~3x and the key
    # compare is a single long (collision odds at 2^64 are negligible
    # next to the driver's value-hash tolerance)
    jac = (
        _jaccard_pair_counts(
            docs, n=n, max_shingle_df=max_shingle_df, sh_df=sh_df
        )
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_inter")),
        )
        .where(F.col("jaccard") >= threshold)
    )
    return jac.select("doc_a", "doc_b", "jaccard")


# ---------------------------------------------------------------------------
# incremental dedup: new-increment slice vs the full corpus (the shape a
# continuously-growing 100 TB corpus actually runs — candidate work is
# O(increment x df), never all-pairs over the accumulated corpus)
# ---------------------------------------------------------------------------

#: the top 10% of the deterministic id-hash space plays the "today's
#: increment" role; the rest is the already-ingested corpus
_INC_NEW_BUCKET = 9_000


#: CTE chain producing ``ipairs`` (doc_a = new doc, doc_b = partner,
#: pair_class in ('new_existing', 'new_new')) — shared by the pair report
#: and the keep/drop decision oracle below
_INC_PAIRS_CTES = f"""{_SHINGLE_CTES},
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle
      WHERE {bucket_duckdb('a.doc_id')} >= {_INC_NEW_BUCKET}
        AND a.doc_id <> b.doc_id
        AND ({bucket_duckdb('b.doc_id')} < {_INC_NEW_BUCKET}
             OR a.doc_id < b.doc_id)
      GROUP BY 1, 2
    ),
    ipairs AS (
      SELECT doc_a, doc_b,
             CASE WHEN {bucket_duckdb('doc_b')} >= {_INC_NEW_BUCKET}
                  THEN 'new_new' ELSE 'new_existing' END AS pair_class
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.05
    )"""


@_cache_scoped
def _incremental_jaccard_pairs(
    docs: DataFrame,
    n: int = 3,
    threshold: float = 0.05,
    max_shingle_df: int | None = 100,
    pair_budget: int | None = DEFAULT_JACCARD_PAIR_BUDGET,
) -> DataFrame:
    """(doc_a, doc_b, pair_class) trigram-Jaccard >= threshold pairs where
    doc_a is always a NEW-slice document (id-hash bucket >= 9000) and
    doc_b is any other document — 'new_existing' when the partner is in
    the corpus slice, 'new_new' (oriented doc_a < doc_b) within the
    increment.

    This is the incremental-dedup join shape: the posting-list self-join
    is restricted to one NEW side, so candidate work is
    Sigma_sh df_new(sh) * df(sh) — proportional to the increment, not to
    the accumulated corpus squared. The budget guard estimates exactly
    that (new x existing + C(df_new, 2) per capped shingle) before any
    pair materializes, so the guard is increment-aware: a corpus whose
    ALL-PAIRS space is over budget still runs when its increment's pair
    space is within it."""
    from pyspark.sql import Window

    sh = shingles(docs, n=n).select(
        "doc_id", F.xxhash64("shingle").alias("sh")
    )
    sh = sh.withColumn(
        "is_new", bucket_spark(F.col("doc_id")) >= _INC_NEW_BUCKET
    )
    # r10 OPT (guide §1.2/§2.4, same rewrite as _jaccard_pair_counts):
    # per-shingle (df, df_new) via ONE window exchange over the scoped-
    # cached shingle table — the budget estimate's action materializes
    # the cache the main job reads (shingle pipeline runs once, not
    # twice), the df cap becomes a plain filter instead of a groupBy +
    # left_semi join, and the cache stays hash-partitioned by `sh` for
    # the posting join below.
    w = Window.partitionBy("sh")
    sh = _scoped_cache(
        sh.withColumn("df", F.count("*").over(w)).withColumn(
            "df_new", F.sum(F.col("is_new").cast("int")).over(w)
        )
    )
    if pair_budget is not None:
        capped = (
            sh.where(F.col("df") <= max_shingle_df)
            if max_shingle_df is not None
            else sh
        )
        # per NEW row of a kept shingle: 2*(df-df_new) + (df_new-1);
        # summed over its df_new new rows this is exactly twice the
        # shingle's candidate space df_new*(df-df_new) + C(df_new,2)
        row = capped.where(F.col("is_new")).agg(
            F.sum(
                (
                    F.lit(2) * (F.col("df") - F.col("df_new"))
                    + F.col("df_new")
                    - F.lit(1)
                ).cast("decimal(38,0)")
            ).alias("pairs2")
        ).collect()[0]
        est = int(row["pairs2"] or 0) // 2
        if est > pair_budget:
            raise JaccardPairBudgetExceeded(
                f"estimated incremental candidate-pair space {est:,} "
                f"exceeds pair_budget {pair_budget:,} "
                f"(max_shingle_df={max_shingle_df}); use the banded-LSH "
                "path (dedup_minhash_lsh) or raise the budget"
            )
    if max_shingle_df is not None:
        sh = sh.where(F.col("df") <= max_shingle_df)
    sh = sh.select("doc_id", "sh", "is_new")
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.where("is_new").select(F.col("doc_id").alias("doc_a"), "sh")
    b = sh.select(
        F.col("doc_id").alias("doc_b"), "sh", F.col("is_new").alias("b_new")
    )
    inter = (
        a.join(b, "sh")
        .where(
            (F.col("doc_a") != F.col("doc_b"))
            & (~F.col("b_new") | (F.col("doc_a") < F.col("doc_b")))
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(
            F.col("n_inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_inter"))
            >= threshold
        )
        .select(
            "doc_a",
            "doc_b",
            F.when(
                bucket_spark(F.col("doc_b")) >= _INC_NEW_BUCKET,
                F.lit("new_new"),
            )
            .otherwise(F.lit("new_existing"))
            .alias("pair_class"),
        )
    )


@register(
    "dedup_incremental_pairs",
    oracle=f"""
    WITH {_INC_PAIRS_CTES},
    pc AS (
      SELECT pair_class, count(*) AS n_pairs FROM ipairs GROUP BY pair_class
    ),
    dc AS (
      SELECT pair_class, count(DISTINCT d) AS n_new_docs FROM (
        SELECT pair_class, doc_a AS d FROM ipairs
        UNION ALL
        SELECT pair_class, doc_b FROM ipairs WHERE pair_class = 'new_new'
      ) GROUP BY pair_class
    )
    SELECT pc.pair_class,
           CAST(pc.n_pairs AS BIGINT) AS n_pairs,
           CAST(dc.n_new_docs AS BIGINT) AS n_new_docs
    FROM pc JOIN dc USING (pair_class)
    """,
    description="incremental dedup, report side: trigram-Jaccard >= 0.05 "
    "near-dup pairs between a NEW increment slice (deterministic id-hash "
    "bucket >= 9000, ~10% of docs) and the rest of the corpus, classified "
    "new_existing / new_new with the count of distinct new docs involved. "
    "Scale: the posting self-join keeps only the NEW side on the left, so "
    "candidate work is Sigma df_new*df per capped shingle — O(increment), "
    "not all-pairs over the accumulated corpus; the pair-budget guard "
    "estimates exactly that increment-aware bound before the shuffle. "
    "This is the daily-ingest shape: yesterday's corpus is never "
    "re-self-joined.",
    tags=("dedup", "llm-pipeline", "join", "report"),
)
def dedup_incremental_pairs(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    # r10 OPT (guide §1.2): the pair table fed THREE copies of the
    # posting-join pipeline — the pair-count branch plus two union
    # branches for the involved-doc rollup. Cache the (tiny) pair table
    # and emit both endpoints with one conditional explode so the heavy
    # pipeline executes once.
    p = _scoped_cache(_incremental_jaccard_pairs(docs))
    pc = p.groupBy("pair_class").agg(
        F.count("*").cast("long").alias("n_pairs")
    )
    involved = p.select(
        "pair_class",
        F.explode(
            F.when(
                F.col("pair_class") == "new_new",
                F.array("doc_a", "doc_b"),
            ).otherwise(F.array("doc_a"))
        ).alias("d"),
    )
    dc = involved.groupBy("pair_class").agg(
        F.countDistinct("d").cast("long").alias("n_new_docs")
    )
    return pc.join(dc, "pair_class")


@register(
    "dedup_incremental_keep",
    oracle=f"""
    WITH {_INC_PAIRS_CTES},
    newdocs AS (
      SELECT doc_id FROM documents
      WHERE {bucket_duckdb('doc_id')} >= {_INC_NEW_BUCKET}
    ),
    drop_exist AS (
      SELECT DISTINCT doc_a AS doc_id FROM ipairs
      WHERE pair_class = 'new_existing'
    ),
    drop_new AS (
      SELECT DISTINCT doc_b AS doc_id FROM ipairs
      WHERE pair_class = 'new_new'
        AND doc_b NOT IN (SELECT doc_id FROM drop_exist)
    )
    SELECT CAST((SELECT count(*) FROM newdocs) AS BIGINT) AS n_new,
           CAST((SELECT count(*) FROM drop_exist) AS BIGINT)
             AS n_dropped_vs_existing,
           CAST((SELECT count(*) FROM drop_new) AS BIGINT)
             AS n_dropped_new_only,
           CAST((SELECT count(*) FROM newdocs)
                - (SELECT count(*) FROM drop_exist)
                - (SELECT count(*) FROM drop_new) AS BIGINT) AS n_kept
    """,
    description="incremental dedup, decision side: admit/drop verdict for "
    "every NEW-increment document. A new doc is dropped when it has a "
    "near-twin in the existing corpus (n_dropped_vs_existing) or, failing "
    "that, a LOWER-id near-twin inside the increment itself "
    "(n_dropped_new_only — the min-id-survives rule dedup_keep_list "
    "uses); otherwise kept. One row: the increment's admission summary a "
    "daily-ingest pipeline logs per batch. Scale: same increment-bounded "
    "pair pipeline as dedup_incremental_pairs plus three scalar "
    "aggregates crossed broadcast-style.",
    tags=("dedup", "llm-pipeline", "report"),
)
def dedup_incremental_keep(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    p = _incremental_jaccard_pairs(docs)
    p = _scoped_cache(p)
    newdocs = docs.where(
        bucket_spark(F.col("doc_id")) >= _INC_NEW_BUCKET
    ).select("doc_id")
    de = (
        p.where(F.col("pair_class") == "new_existing")
        .select(F.col("doc_a").alias("doc_id"))
        .distinct()
    )
    dn_only = (
        p.where(F.col("pair_class") == "new_new")
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .join(de, "doc_id", "left_anti")
    )
    a1 = newdocs.agg(F.count("*").cast("long").alias("n_new"))
    a2 = de.agg(F.count("*").cast("long").alias("n_dropped_vs_existing"))
    a3 = dn_only.agg(F.count("*").cast("long").alias("n_dropped_new_only"))
    return (
        a1.crossJoin(a2)
        .crossJoin(a3)
        .select(
            "n_new",
            "n_dropped_vs_existing",
            "n_dropped_new_only",
            (
                F.col("n_new")
                - F.col("n_dropped_vs_existing")
                - F.col("n_dropped_new_only")
            ).alias("n_kept"),
        )
    )


@register(
    "jaccard_pair_budget",
    oracle="""
    WITH sh0 AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(generate_series(1, len(toks) - 2),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
               AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t
    ),
    dfs AS (SELECT shingle, count(*) AS df FROM sh0 GROUP BY shingle)
    SELECT (SELECT count(*) FROM documents) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(coalesce(sum(df), 0) AS BIGINT) AS n_postings,
           CAST(coalesce(sum(CASE WHEN df <= 100 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_capped_shingles,
           CAST(coalesce(sum(CASE WHEN df > 100 THEN df ELSE 0 END), 0)
                AS BIGINT) AS dropped_postings,
           CAST(coalesce(sum(CASE WHEN df <= 100
                                  THEN df * (df - 1) // 2
                                  ELSE 0 END), 0)
                AS BIGINT) AS est_pairs,
           CAST(coalesce(max(df), 0) AS BIGINT) AS max_df
    FROM dfs
    """,
    description="the exact-Jaccard pair-space budget report: distinct "
    "trigram shingles, postings, the df<=100 capped subset, postings "
    "dropped by the cap, the EXACT candidate-pair space the capped "
    "intersection self-join would produce (Sigma C(df,2) — the scalar "
    "the r7 pair-budget guard checks before any exact-Jaccard run), "
    "and the hottest shingle's df. Rising est_pairs against flat "
    "n_docs is the trigram-saturation signature the r6 10x scaling "
    "battery measured (78x pair growth on a vocab-saturated corpus). "
    "Scale: one map-side-combined groupBy over (shingle-hash) plus two "
    "one-row aggregates broadcast-crossed — nothing wide",
    tags=("dedup", "report", "skew"),
)
def jaccard_pair_budget(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    sh = shingles(docs, n=3).select(
        "doc_id", F.xxhash64("shingle").alias("sh")
    )
    dfs = sh.groupBy("sh").agg(F.count("*").alias("df"))
    stats = dfs.agg(
        F.count("*").cast("bigint").alias("n_shingles"),
        F.coalesce(F.sum("df"), F.lit(0))
        .cast("bigint")
        .alias("n_postings"),
        F.coalesce(
            F.sum(F.when(F.col("df") <= 100, 1).otherwise(0)), F.lit(0)
        )
        .cast("bigint")
        .alias("n_capped_shingles"),
        F.coalesce(
            F.sum(F.when(F.col("df") > 100, F.col("df")).otherwise(0)),
            F.lit(0),
        )
        .cast("bigint")
        .alias("dropped_postings"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("df") <= 100,
                    F.expr("df * (df - 1) div 2"),
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("est_pairs"),
        F.coalesce(F.max("df"), F.lit(0)).cast("bigint").alias("max_df"),
    )
    ndocs = docs.agg(F.count("*").cast("bigint").alias("n_docs"))
    return stats.crossJoin(F.broadcast(ndocs)).select(
        "n_docs",
        "n_shingles",
        "n_postings",
        "n_capped_shingles",
        "dropped_postings",
        "est_pairs",
        "max_df",
    )


# ---------------------------------------------------------------------------
# connected components: near-dup pairs → cluster assignment
# ---------------------------------------------------------------------------


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 20,
    edges_unique: bool = False,
) -> DataFrame:
    """Cluster assignment over an undirected pair graph: ``(id, cluster_id)``
    where ``cluster_id`` is the minimum vertex id reachable from ``id``.

    This is the step every dedup pipeline needs after candidate generation —
    pairs (a,b),(b,c) must collapse into ONE keep-decision, not two
    independent ones. Algorithm: min-label propagation with pointer jumping
    fused INTO the propagation (r11), the hash-to-min idea from
    Rastogi et al. "Finding Connected Components in Map-Reduce" (ICDE'13).
    Propagation alone needs O(diameter) rounds; pointer jumping (label ←
    label[label]) cuts that to O(log diameter), which is what makes a
    100-million-node dup graph converge in ~5 rounds instead of ~50.

    r11 OPT (guide §2.4 "remove shuffles outright"; r10 verdict #2): the
    jump used to be its own self-join keyed on ``label`` AFTER the
    neighbor-min groupBy — a third per-round exchange (and at bench scale
    a second broadcast build + job). It is now fused into the propagation
    as *pointer edges*: each vertex u with label p != u contributes one
    extra directed edge (u ← p), so the single neighbor-min groupBy
    computes min(own, graph neighbors' labels, label[label]) in ONE pass —
    one join + one groupBy per round instead of join + groupBy + join.
    Pointer edges always stay inside u's component (label values are ids
    of reachable vertices, by induction), so the fixpoint — every label =
    its component's min id — is IDENTICAL; only intermediate labels can
    differ. Convergence on a path of diameter d: distance-to-min doubles
    per round (jump term), so O(log d) rounds still (the unfused form
    saved at most one round by jumping on the post-min labels; the fused
    form does strictly less work per round). Proven by the oracle's
    recursive-CTE closure at every SF and the 64-node-path round-budget
    test.

    Scale notes: each round is one bounded (long, long) join + one
    groupBy — never document payloads. ``localCheckpoint`` truncates
    lineage every round; without it the plan doubles per iteration and
    the driver, not the data, becomes the bottleneck. Convergence
    detection exploits monotonicity: every step assigns ``min(old, …)``
    of existing labels, so labels only ever decrease — the exact
    ``decimal(38,0)`` label sum is strictly smaller after a round iff any
    label changed. One scalar aggregate over the just-checkpointed round
    output replaces the old full shuffle-join-vs-previous-labels change
    probe (r8: −1 shuffle join per round). Vertices outside any edge are
    absent (callers union them back as singletons if needed).

    One-round floor: with ``prev_sum`` starting as None, convergence can
    only be detected from round 2 onward, so every call pays at least two
    rounds. This is deliberate: labels start as each vertex's own id, so
    any edge (u,v) with u != v changes the larger endpoint's label in
    round 1 — the only inputs that converge during round 1 are pure
    self-loop graphs. Precomputing the initial label sum would charge an
    extra O(|V|) scalar aggregate to every real call to save one round
    only on that degenerate shape, a bad trade at scale.
    """
    # r11 OPT (guide §1.2 / §2.4): symmetrize with ONE explode instead of
    # a union of two selects. The union's branches were distinct subtrees,
    # so the (expensive) candidate-generation pipeline upstream had to be
    # materialized FIRST (an extra persist + count job — ~1.3 s of the
    # bench line) to avoid executing it twice; the explode reads every
    # edge exactly once by construction, so only `sym` needs a cache and
    # its materialization rides the first round's job. (r10 kept persist
    # + count over localCheckpoint(eager) so the pair pipeline's
    # materialization runs WITH AQE; that property is preserved — sym is
    # a persist, and the first action over it is a normal AQE query.)
    # (an explicit repartition("v") of sym was tried here in r10 and
    # REVERTED: at bench scale AQE broadcasts the labels side, so the
    # cached distinct() partitioning is never re-used and the extra
    # exchange was a measured ~10% regression on the A/B)
    sym = edges.select(
        F.explode(
            F.array(
                F.struct(
                    F.col(src).alias("u"), F.col(dst).alias("v")
                ),
                F.struct(
                    F.col(dst).alias("u"), F.col(src).alias("v")
                ),
            )
        ).alias("e")
    ).select("e.u", "e.v")
    if not edges_unique:
        # r10 OPT (guide §2.4 "a distinct on data that is already
        # unique"): every in-repo caller feeds oriented doc_a < doc_b
        # pairs from a groupBy — already unique, and the reversed explode
        # branch cannot collide with the forward one — so they pass
        # edges_unique=True and skip this full (u, v) dedupe shuffle.
        # The guard stays for callers with arbitrary edge lists (dupes
        # would multiply the per-round neighbor-min work, not break
        # correctness: min-label propagation is idempotent to edge
        # multiplicity).
        sym = sym.distinct()
    # materialize the cache NOW (one AQE job over the pair pipeline):
    # every unrolled round below references `sym` up to 9 times, and an
    # UN-materialized cache would put 9 copies of the expensive upstream
    # subtree into the first job's plan — measured 2-4x the whole query
    # in planning/analysis alone.
    sym = sym.persist()
    sym.count()
    labels = sym.select(F.col("u").alias("id")).distinct().select(
        "id", F.col("id").alias("label")
    )
    label_sum = F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
    # None until round 1 completes: a real round sum never equals None, and
    # an EMPTY graph's sum IS None (sum of zero rows) — caught explicitly
    prev_sum = None
    def step(lab: DataFrame) -> DataFrame:
        # pointer edges (u ← label(u)): the fused jump. Self-pointers are
        # dropped (they attach label(u) to u — already in the unionByName
        # below); the reverse direction (label(u) ← u) would attach the
        # value label(u) to the vertex label(u) itself, a no-op by
        # construction, so it is not emitted.
        ptr = lab.where(F.col("id") != F.col("label")).select(
            F.col("id").alias("u"), F.col("label").alias("v")
        )
        nbr = sym.unionByName(ptr).join(
            lab.select(F.col("id").alias("v"), "label"), "v"
        ).select(F.col("u").alias("id"), "label")
        return (
            lab.unionByName(nbr)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
        )

    # One propagation step per materialized job. (An r11 unroll of 2-3
    # steps per job was tried and REVERTED with receipts: a 2-step job
    # measured ~2.3x a 1-step job — per-step cost here is stage/AQE
    # planning, not job-fixed overhead, and the 3^k growth of leaf
    # references in the unrolled plan made 3 steps/job 3x WORSE overall:
    # unroll=1 total 5.6 s vs unroll=2 7.1 s vs unroll=3 16.7 s, same
    # session, sf0.1.)
    # r10 OPT retained: LAZY localCheckpoint — the convergence-probe
    # aggregate MATERIALIZES the round's output, so each round is one
    # action. Lineage is still truncated to a LogicalRDD leaf every
    # round, which is load-bearing: round k's plan references round
    # k-1's THREE times (lab, ptr, nbr), so an un-truncated
    # representation grows 3^k and the driver dies in plan analysis long
    # before the data is the problem (a plain .cache() here
    # stack-overflowed generateTreeString at 10 rounds).
    for _ in range(max_rounds):
        new = step(labels).localCheckpoint(eager=False)
        cur_sum = new.agg(label_sum).collect()[0]["s"]
        labels = new
        if cur_sum is None or cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    sym.unpersist()
    return labels


CC_ORACLE = f"""
    WITH RECURSIVE {_JACCARD_CTES},
    pairs AS (
      SELECT doc_a, doc_b
      FROM inter
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
    )
    SELECT u AS doc_id, min(v) AS cluster_id
    FROM reach
    GROUP BY u
"""


@register(
    "dedup_connected_components",
    oracle=CC_ORACLE,
    description="near-dup pairs → transitive cluster ids via min-label "
    "propagation with pointer jumping (O(log diameter) rounds, two (long,"
    "long) shuffles per round). Oracle: recursive-CTE reachability closure "
    "over the identical trigram-Jaccard pair set — exact cross-engine "
    "agreement on every cluster assignment.",
    tags=("dedup", "iterative"),
)
def dedup_connected_components(spark: SparkSession, sf: str) -> DataFrame:
    pairs = ngram_jaccard_pairs(
        load(spark, sf, "documents"), n=3, threshold=0.05, max_shingle_df=100
    )
    cc = connected_components(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
        edges_unique=True,  # oriented doc_a < doc_b pairs from a groupBy
    )
    return cc.select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
    )


@register(
    "dedup_cluster_profile",
    oracle=f"""
    WITH RECURSIVE {_JACCARD_CTES},
    pairs AS (
      SELECT doc_a, doc_b
      FROM inter
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
    cc AS (
      SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u
    ),
    counted AS (
      SELECT cluster_id, count(*) AS sz FROM cc GROUP BY cluster_id
    ),
    totals AS (SELECT count(*) AS n FROM documents),
    clustered AS (SELECT count(*) AS m FROM cc)
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sz * count(*) AS BIGINT) AS n_docs
    FROM counted GROUP BY sz
    UNION ALL
    SELECT 1, CAST(n - m AS BIGINT), CAST(n - m AS BIGINT)
    FROM totals, clustered WHERE n > m
    """,
    description="near-dup cluster-size distribution: one row per distinct "
    "cluster size with cluster and document counts, singletons included — "
    "the dataset-card number that says how template-heavy a corpus is and "
    "how many docs dedup will drop (sum of (size-1)*n_clusters). Reuses "
    "the exact trigram-Jaccard + connected-components machinery; the "
    "profile itself adds only two tiny aggregates over cluster labels.",
    tags=("dedup", "iterative", "report"),
)
def dedup_cluster_profile(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.05, max_shingle_df=100)
    cc = connected_components(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
        edges_unique=True,  # oriented doc_a < doc_b pairs from a groupBy
    )
    sizes = cc.groupBy("label").agg(F.count(F.lit(1)).alias("sz"))
    dist = sizes.groupBy("sz").agg(
        F.count(F.lit(1)).alias("n_clusters")
    ).select(
        F.col("sz").cast("long").alias("cluster_size"),
        F.col("n_clusters").cast("long"),
        (F.col("sz") * F.col("n_clusters")).cast("long").alias("n_docs"),
    )
    totals = docs.agg(F.count(F.lit(1)).alias("n"))
    clustered = cc.agg(F.count(F.lit(1)).alias("m"))
    singles = (
        totals.crossJoin(F.broadcast(clustered))
        .where(F.col("n") > F.col("m"))
        .select(
            F.lit(1).cast("long").alias("cluster_size"),
            (F.col("n") - F.col("m")).cast("long").alias("n_clusters"),
            (F.col("n") - F.col("m")).cast("long").alias("n_docs"),
        )
    )
    return dist.unionByName(singles)


# ---------------------------------------------------------------------------
# MinHash + LSH (non-SQL-expressible → rows-only oracle; accuracy is
# validated against exact Jaccard in tests/test_dedup.py)
# ---------------------------------------------------------------------------

def minhash_signatures(
    sh: DataFrame, num_hashes: int = 32, seed: int = 7
) -> DataFrame:
    """(doc_id, sig: array<bigint>) — k minhashes via affine transforms
    h_i(x) = (a_i*x + b_i) mod p of one base shingle hash. One groupBy."""
    import random

    rnd = random.Random(seed)
    coeffs = [
        (rnd.randrange(1, P), rnd.randrange(0, P))
        for _ in range(num_hashes)
    ]
    return _minhash_from_base(
        sh, F.pmod(F.xxhash64("shingle"), F.lit(P)), coeffs
    )


def minhash_signatures_from_hashes(
    hashed: DataFrame, num_hashes: int = 32, seed: int = 7
) -> DataFrame:
    """minhash_signatures over a PRE-HASHED shingle table (doc_id, sh =
    xxhash64(shingle)) — bit-identical signatures, but the caller can
    share one cached hash table between this and the exact-Jaccard
    pipeline instead of running the shingle explode twice (r10 OPT,
    guide §1.2)."""
    import random

    rnd = random.Random(seed)
    coeffs = [
        (rnd.randrange(1, P), rnd.randrange(0, P))
        for _ in range(num_hashes)
    ]
    return _minhash_from_base(
        hashed, F.pmod(F.col("sh"), F.lit(P)), coeffs
    )


def _minhash_from_base(sh: DataFrame, base, coeffs) -> DataFrame:
    mins = [
        F.min(
            F.pmod(F.lit(a) * base + F.lit(b), F.lit(P))
        ).alias(f"h{i}")
        for i, (a, b) in enumerate(coeffs)
    ]
    agged = sh.groupBy("doc_id").agg(*mins)
    return agged.select(
        "doc_id",
        F.array(*[f"h{i}" for i in range(len(coeffs))]).alias("sig"),
    )


def band_postings(
    sigs: DataFrame, bands: int = 8, rows_per_band: int = 4
) -> DataFrame:
    """(doc_id, band, band_hash): the LSH posting rows — each signature
    split into ``bands`` groups of ``rows_per_band`` minhashes, each group
    collapsed to one 64-bit bucket hash. Both the join-key stream for
    batch candidate generation and the stored payload of the incremental
    index (streaming/dedup_index.py)."""
    return sigs.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        *[
                            F.col("sig")[b * rows_per_band + r]
                            for r in range(rows_per_band)
                        ]
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "band_hash"),
    )


def lsh_candidate_pairs(
    sigs: DataFrame, bands: int = 8, rows_per_band: int = 4
) -> DataFrame:
    """Band the signature; docs sharing any (band, band-hash) are candidates.
    Shuffle key = (band, hash) — bounded, skew-resistant."""
    banded = band_postings(sigs, bands, rows_per_band)
    a = banded.select(F.col("doc_id").alias("doc_a"), "band", "band_hash")
    b = banded.select(F.col("doc_id").alias("doc_b"), "band", "band_hash")
    return (
        a.join(b, ["band", "band_hash"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def minhash_estimate(
    sigs: DataFrame, pairs: DataFrame, num_hashes: int = 32
) -> DataFrame:
    """Estimated Jaccard for candidate pairs = fraction of equal minhashes."""
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    eq = F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.aggregate(eq, F.lit(0), lambda acc, v: acc + v).cast("double")
                / F.lit(num_hashes)
            ).alias("est_jaccard"),
        )
    )


@register(
    "dedup_minhash_lsh",
    oracle=None,  # sketch-based; validated vs exact Jaccard in tests
    description="MinHash(32 perms)+LSH(8 bands×4): candidate pairs with "
    "estimated Jaccard ≥ 0.2; all JVM-side expressions",
    tags=("dedup", "lsh"),
)
@_cache_scoped
def dedup_minhash_lsh(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    sh = shingles(docs, n=3)
    sigs = _scoped_cache(minhash_signatures(sh))
    pairs = lsh_candidate_pairs(sigs)
    return minhash_estimate(sigs, pairs).where(F.col("est_jaccard") >= 0.2)


# ---------------------------------------------------------------------------
# SimHash (rows-only oracle; Hamming-neighborhood via pigeonhole blocks)
# ---------------------------------------------------------------------------


def simhash(df: DataFrame, text_col: str = "text") -> DataFrame:
    """64-bit SimHash per doc: sum ±1 per bit over token hashes.

    bit_j(fingerprint) = 1 iff Σ_tokens (bit_j(hash(tok)) ? +1 : -1) > 0.

    Token hashing stays JVM-side (xxhash64 in codegen); the 64-way bit
    voting runs as numpy bit-unpacking over Arrow batches — 64 sum(when)
    aggregate expressions per token row cost ~2.5x more than the whole
    scan, while unpackbits + one matmul-free sum is microseconds per doc.
    Scale: one shuffle of (doc_id, hashes) — 8 bytes/token, the minimum
    state any SimHash needs.
    """
    toks = F.array_distinct(F.split(F.col(text_col), " "))
    doc_hashes = (
        spread(df).select("doc_id", F.explode(toks).alias("tok"))
        .select("doc_id", F.xxhash64("tok").alias("h"))
        .groupBy("doc_id")
        .agg(F.collect_list("h").alias("hashes"))
    )

    def vote(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            fps = np.empty(len(pdf), dtype=np.int64)
            for i, hs in enumerate(pdf["hashes"]):
                a = np.asarray(hs, dtype=np.int64)
                # bits[t, j] for j=0..63 (LSB-first = shiftright(h, j) & 1)
                bits = np.unpackbits(
                    a.view(np.uint8).reshape(len(a), 8), axis=1, bitorder="little"
                )
                votes = 2 * bits.sum(axis=0, dtype=np.int64) - len(a)
                fps[i] = (
                    np.packbits((votes > 0), bitorder="little")
                    .view(np.int64)
                    .item()
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "simhash": fps})

    return doc_hashes.mapInPandas(vote, "doc_id long, simhash long")


@register(
    "dedup_simhash",
    oracle=None,
    description="SimHash-64 near-dup: 16-bit block LSH (pigeonhole for "
    "Hamming ≤ 3), then exact Hamming check via bit_count",
    tags=("dedup", "lsh"),
)
@_cache_scoped
def dedup_simhash(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    fps = _scoped_cache(simhash(docs))
    blocks = fps.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", 16 * b).bitwiseAND(F.lit(0xFFFF))
                    for b in range(4)
                ]
            )
        ).alias("block_idx", "block_val"),
    )
    a = blocks.select(
        F.col("doc_id").alias("doc_a"),
        F.col("simhash").alias("fp_a"),
        "block_idx",
        "block_val",
    )
    b = blocks.select(
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("fp_b"),
        "block_idx",
        "block_val",
    )
    cand = (
        a.join(b, ["block_idx", "block_val"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "fp_a", "fp_b")
        .distinct()
    )
    ham = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        cand.withColumn("hamming", ham)
        .where(F.col("hamming") <= 3)
        .select("doc_a", "doc_b", "hamming")
    )


@register(
    "dedup_minhash_lsh_accuracy",
    oracle=f"""
    WITH {_JACCARD_CTES}
    SELECT doc_a, doc_b,
           CAST(round(CAST(n_inter AS DOUBLE)
             / (sa.n_sh + sb.n_sh - n_inter) * 1000000) AS BIGINT)
             AS jaccard_ppm,
           true AS found_by_lsh
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.8
    """,
    description="driver-checkable accuracy row for dedup_minhash_lsh (r9 "
    "verdict #4): every EXACT trigram-Jaccard >= 0.8 pair (oracle-"
    "computable, same capped-shingle formulation the green "
    "dedup_ngram_jaccard oracle uses) flagged with whether 8x4 banded "
    "MinHash-LSH surfaced it as a candidate — at s >= 0.8 the banding "
    "catch probability is 1-(1-s^4)^8 ~ 0.998+, and with the FIXED "
    "xxhash64 permutations the outcome on this corpus is deterministic "
    "(pinned by the parity suite at three SFs). An LSH regression "
    "(banding, signatures, shingling) flips a boolean and fails the hash.",
    tags=("dedup", "lsh", "accuracy"),
)
@_cache_scoped
def dedup_minhash_lsh_accuracy(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    # r10 OPT (guide §1.2 "don't compute things twice"): the exact-Jaccard
    # side and the MinHash side both start from the SAME (doc_id,
    # xxhash64(shingle)) table — one scoped-cached shingle explode+hash
    # now feeds both, replacing two independent scans of the corpus
    # through the tokenize/explode pipeline. Signatures are bit-identical
    # (minhash base = pmod(sh, p) either way).
    hashed = _scoped_cache(
        shingles(docs, n=3).select(
            "doc_id", F.xxhash64("shingle").alias("sh")
        )
    )
    exact = ngram_jaccard_pairs(
        docs, n=3, threshold=0.8, max_shingle_df=100, sh_df=hashed
    ).select(
        "doc_a",
        "doc_b",
        F.round(F.col("jaccard") * 1_000_000)
        .cast("long")
        .alias("jaccard_ppm"),
    )
    sigs = _scoped_cache(minhash_signatures_from_hashes(hashed))
    cand = lsh_candidate_pairs(sigs).withColumn(
        "found_by_lsh", F.lit(True)
    )
    return exact.join(cand, ["doc_a", "doc_b"], "left").select(
        "doc_a",
        "doc_b",
        "jaccard_ppm",
        F.coalesce("found_by_lsh", F.lit(False)).alias("found_by_lsh"),
    )


@register(
    "dedup_simhash_accuracy",
    oracle="""
    WITH k AS (
      SELECT doc_id,
             list_sort(list_distinct(string_split(text, ' '))) AS ks
      FROM documents
    ), g AS (
      SELECT ks, min(doc_id) AS doc_a
      FROM k GROUP BY ks HAVING count(*) > 1
    )
    SELECT g.doc_a, k.doc_id AS doc_b,
           CAST(0 AS BIGINT) AS hamming,
           true AS found_by_simhash
    FROM k JOIN g ON k.ks = g.ks AND k.doc_id > g.doc_a
    """,
    description="driver-checkable accuracy row for dedup_simhash (r9 "
    "verdict #4): documents with IDENTICAL distinct-token sets (oracle-"
    "computable; 54-1065 such pairs exist at sf0.01-0.1 — byte-identical "
    "texts alone would be vacuous at sf<=0.01) MUST get identical 64-bit "
    "fingerprints (SimHash is a pure function of the token set), Hamming "
    "0, and every such pair MUST be surfaced by the 16-bit pigeonhole "
    "blocks (all four blocks equal). Emits the pairs (min-id "
    "representative vs each duplicate) with the simhash pipeline's "
    "verdict; any fingerprint/blocking regression flips a boolean or "
    "the hamming value.",
    tags=("dedup", "lsh", "accuracy"),
)
@_cache_scoped
def dedup_simhash_accuracy(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    keyed = docs.select(
        "doc_id",
        F.array_sort(F.array_distinct(F.split(F.col("text"), " "))).alias(
            "ks"
        ),
    )
    rep = (
        keyed.groupBy("ks")
        .agg(F.min("doc_id").alias("doc_a"), F.count("*").alias("n"))
        .where(F.col("n") > 1)
        .select("ks", "doc_a")
    )
    dup_pairs = keyed.join(rep, "ks").where(
        F.col("doc_id") > F.col("doc_a")
    ).select("doc_a", F.col("doc_id").alias("doc_b"))
    found = dedup_simhash(spark, sf).withColumn(
        "found_by_simhash", F.lit(True)
    )
    return dup_pairs.join(found, ["doc_a", "doc_b"], "left").select(
        "doc_a",
        "doc_b",
        F.coalesce("hamming", F.lit(-1)).cast("long").alias("hamming"),
        F.coalesce("found_by_simhash", F.lit(False)).alias(
            "found_by_simhash"
        ),
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination (training-data pipeline: flag training docs
# sharing n-grams with an eval/benchmark set — the overlap check GPT-3/PaLM
# style pipelines run before training)
# ---------------------------------------------------------------------------


def decontaminate_flags(
    train: DataFrame, eval_set: DataFrame, n: int = 3
) -> DataFrame:
    """(doc_id, n_shared): training docs sharing ≥1 word n-gram with any
    eval document, with the count of distinct shared shingles.

    Scale shape: the eval side is a benchmark (thousands of docs, not
    billions), so its distinct shingle-hash set broadcasts; the training
    corpus — the 100 TB side — is touched by exactly one scan + one
    broadcast semi-join + one aggregate, no all-pairs comparison."""
    ev_sh = (
        shingles(eval_set, n=n)
        .select(F.xxhash64("shingle").alias("sh"))
        .distinct()
    )
    tr_sh = shingles(train, n=n).select(
        "doc_id", F.xxhash64("shingle").alias("sh")
    )
    return (
        tr_sh.join(F.broadcast(ev_sh), "sh")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
    )


@register(
    "decontaminate_train_set",
    oracle=f"""
    WITH bucketed AS (
      SELECT doc_id, text,
             {bucket_duckdb('doc_id')} AS bucket
      FROM documents
    ),
    ev_sh AS (
      SELECT DISTINCT
             unnest(list_transform(generate_series(1, len(toks) - 2),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
               AS shingle
      FROM (SELECT string_split(text, ' ') AS toks
            FROM bucketed WHERE bucket < 200) t
    ),
    tr_sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(generate_series(1, len(toks) - 2),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
               AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS toks
            FROM bucketed WHERE bucket >= 200) t
    )
    SELECT tr_sh.doc_id, count(*) AS n_shared
    FROM tr_sh JOIN ev_sh USING (shingle)
    GROUP BY tr_sh.doc_id
    """,
    description="benchmark decontamination: flag training docs sharing any "
    "word trigram with a held-out eval slice (deterministic 2% bucket). "
    "Eval shingle hashes broadcast; the training corpus gets one scan",
    tags=("dedup", "llm-pipeline", "decontamination"),
)
def decontaminate_train_set(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    bucket = bucket_spark(F.col("doc_id"))
    eval_set = docs.where(bucket < 200)
    train = docs.where(bucket >= 200)
    return decontaminate_flags(train, eval_set, n=3)


def containment_scores(
    train: DataFrame, eval_set: DataFrame, n: int = 3
) -> DataFrame:
    """Exact per-pair shingle containment: for every (train, eval)
    document pair sharing at least one word n-gram, the fraction of the
    EVAL doc's distinct shingles present in the train doc, as integer
    ppm (micro-units, so the score is engine-exact — same trick as the
    HHI share quantization).

    Containment |sh(E) ∩ sh(T)| / |sh(E)| is the right contamination
    statistic when an eval document may be EMBEDDED in a much larger
    training document: Jaccard divides by the union, so a 100-word eval
    doc fully contained in a 10k-word train doc scores ~0.01 Jaccard
    but 1.0 containment. (Same asymmetric-resemblance measure as
    Broder's containment; the LSH-Ensemble literature indexes it
    approximately — at benchmark-sized eval sets the exact join is
    cheaper than the sketch.)

    Scale shape: the eval side is a benchmark, so its (eval_doc_id,
    shingle-hash) set and per-doc sizes broadcast; the 100 TB training
    side gets one scan + one broadcast join + one (train,eval)-keyed
    aggregate whose cardinality is bounded by actual overlaps, never
    all-pairs."""
    ev = shingles(eval_set, n=n).select(
        F.col("doc_id").alias("eval_doc_id"),
        F.xxhash64("shingle").alias("sh"),
    )
    ev_sizes = ev.groupBy("eval_doc_id").agg(
        F.count(F.lit(1)).alias("eval_shingles")
    )
    tr = shingles(train, n=n).select(
        F.col("doc_id").alias("train_doc_id"),
        F.xxhash64("shingle").alias("sh"),
    )
    inter = (
        tr.join(F.broadcast(ev), "sh")
        .groupBy("train_doc_id", "eval_doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return inter.join(F.broadcast(ev_sizes), "eval_doc_id").select(
        "train_doc_id",
        "eval_doc_id",
        F.col("n_shared").cast("long").alias("n_shared"),
        F.expr(
            "CAST(n_shared * 1000000 AS BIGINT) div eval_shingles"
        ).alias("containment_ppm"),
    )


@register(
    "decontaminate_containment",
    oracle=f"""
    WITH bucketed AS (
      SELECT doc_id, text,
             {bucket_duckdb('doc_id')} AS bucket
      FROM documents
    ),
    ev AS (
      SELECT DISTINCT doc_id AS eval_doc_id,
             unnest(list_transform(generate_series(1, len(toks) - 2),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
               AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS toks
            FROM bucketed WHERE bucket < 200) t
    ),
    ev_sizes AS (
      SELECT eval_doc_id, count(*) AS eval_shingles
      FROM ev GROUP BY eval_doc_id
    ),
    tr AS (
      SELECT DISTINCT doc_id AS train_doc_id,
             unnest(list_transform(generate_series(1, len(toks) - 2),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
               AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS toks
            FROM bucketed WHERE bucket >= 200) t
    ),
    inter AS (
      SELECT tr.train_doc_id, ev.eval_doc_id, count(*) AS n_shared
      FROM tr JOIN ev USING (shingle)
      GROUP BY 1, 2
    )
    SELECT i.train_doc_id, i.eval_doc_id,
           CAST(i.n_shared AS BIGINT) AS n_shared,
           CAST(i.n_shared * 1000000 AS BIGINT) // s.eval_shingles
             AS containment_ppm
    FROM inter i JOIN ev_sizes s USING (eval_doc_id)
    ORDER BY containment_ppm DESC, i.train_doc_id, i.eval_doc_id
    LIMIT 50
    """,
    description="containment decontamination: top (train, eval) pairs "
    "by the fraction of the EVAL doc's distinct word trigrams present "
    "in the train doc (integer ppm, engine-exact) — the asymmetric "
    "statistic that catches an eval doc embedded inside a much larger "
    "training doc, which Jaccard's union denominator dilutes to "
    "near-zero. Eval shingles + sizes broadcast; one training-corpus "
    "scan; pair cardinality bounded by real overlaps.",
    tags=("dedup", "llm-pipeline", "decontamination"),
)
def decontaminate_containment(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    bucket = bucket_spark(F.col("doc_id"))
    scores = containment_scores(
        docs.where(bucket >= 200), docs.where(bucket < 200), n=3
    )
    return scores.orderBy(
        F.col("containment_ppm").desc(), "train_doc_id", "eval_doc_id"
    ).limit(50)


# ---------------------------------------------------------------------------
# Exact-substring decontamination (character-gram positional match)
# ---------------------------------------------------------------------------

_XL = 20  # gram length (chars)
_XS = 11  # train-side stride


def exact_substring_flags(
    train: DataFrame, eval_set: DataFrame, gram: int = _XL, stride: int = _XS
) -> DataFrame:
    """(doc_id, n_hits, first_pos): training docs sharing an exact character
    run with any eval document, found by positional gram matching.

    Detection guarantee: the eval side enumerates every ``gram``-char
    substring (stride 1); the training side samples one gram every
    ``stride`` chars. Any common substring of length >= gram + stride - 1
    must fully contain at least one stride-aligned training gram, so it is
    detected exactly — no shingle/tokenizer approximation. With the
    defaults that is any shared run of >= 30 characters.

    Scale shape (the suffix-array alternative in "Deduplicating Training
    Data Makes Language Models Better", Lee et al. 2021, is a single-node
    design): the eval/benchmark side is small, so its distinct gram hashes
    broadcast; the 100 TB training side emits len(text)/stride 8-byte
    hashes per doc — one scan, one broadcast semi-join, one aggregate,
    nothing quadratic and no global sort.
    """
    ev = (
        eval_set.where(F.length("text") >= gram)
        .select(
            F.explode(
                F.expr(
                    f"transform(sequence(1, length(text) - {gram - 1}),"
                    f" i -> substring(text, i, {gram}))"
                )
            ).alias("g")
        )
        .select(F.xxhash64("g").alias("gh"))
        .distinct()
    )
    tr = (
        spread(train.where(F.length("text") >= gram))
        .select(
            "doc_id",
            "text",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.length("text") - F.lit(gram - 1),
                    F.lit(stride),
                )
            ).alias("pos"),
        )
        .select(
            "doc_id",
            "pos",
            F.xxhash64(F.expr(f"substring(text, pos, {gram})")).alias("gh"),
        )
    )
    return (
        tr.join(F.broadcast(ev), "gh")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_hits"),
            F.min("pos").alias("first_pos"),
        )
    )


@register(
    "decontaminate_exact_substring",
    oracle=f"""
    WITH bucketed AS (
      SELECT doc_id, text,
             {bucket_duckdb('doc_id')} AS bucket
      FROM documents
    ),
    ev AS (
      SELECT DISTINCT
             unnest(list_transform(generate_series(1, len(text) - {_XL - 1}),
                    i -> substring(text, i, {_XL}))) AS g
      FROM bucketed WHERE bucket < 200 AND len(text) >= {_XL}
    ),
    tr AS (
      SELECT doc_id, text,
             unnest(generate_series(1, len(text) - {_XL - 1}, {_XS})) AS pos
      FROM bucketed WHERE bucket >= 200 AND len(text) >= {_XL}
    )
    SELECT tr.doc_id,
           CAST(count(*) AS BIGINT) AS n_hits,
           CAST(min(tr.pos) AS INT) AS first_pos
    FROM tr JOIN ev ON substring(tr.text, tr.pos, {_XL}) = ev.g
    GROUP BY tr.doc_id
    """,
    description="exact-substring decontamination: flag training docs that "
    "share a verbatim >=30-char run with the eval slice via positional "
    "character-gram match (eval grams stride 1 broadcast; train grams "
    "stride 11 — one linear scan of the big side, no suffix array needed)",
    tags=("dedup", "llm-pipeline", "decontamination"),
)
def decontaminate_exact_substring(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    bucket = bucket_spark(F.col("doc_id"))
    eval_set = docs.where(bucket < 200)
    train = docs.where(bucket >= 200)
    return exact_substring_flags(train, eval_set)


# ---------------------------------------------------------------------------
# Suffix-run decontamination: maximal shared runs, no stride parameter
# ---------------------------------------------------------------------------

_SR_L = 20  # minimum shared-run length the sorted-gram pass detects


def suffix_run_flags(
    train: DataFrame, eval_set: DataFrame, gram: int = _SR_L
) -> DataFrame:
    """(doc_id, n_runs, longest_run, first_pos): MAXIMAL verbatim character
    runs each training doc shares with any eval doc — the distributed
    equivalent of the suffix-array pass in "Deduplicating Training Data
    Makes Language Models Better" (Lee et al. 2021), whose published
    implementation is single-node.

    Unlike :func:`exact_substring_flags` (train side sampled every
    ``stride`` chars, detection floor gram+stride-1 = 30 chars), BOTH
    sides here enumerate grams at stride 1, so ANY shared run of
    >= ``gram`` chars is detected and its exact maximal extent is
    recovered — no stride parameter, no detection floor above ``gram``:

    1. eval grams (gram text + position) broadcast — the benchmark side
       is small by construction;
    2. the training side streams its grams through the broadcast hash
       join; ONLY matches continue (no train-side gram ever shuffles);
    3. matched positions group by (train doc, eval doc, diagonal =
       tpos - epos); stride-1 consecutive positions on one diagonal are
       one shared run (gaps-and-islands on pos - row_number), so a run
       of length R yields R-gram+1 matches that merge back into ONE row
       with length = max(pos) - min(pos) + gram — a suffix array's
       maximal-match output, reconstructed relationally.

    Scale: train-side cost is one scan emitting length(text) grams that
    die in the broadcast join unless matched; shuffle carries matched
    grams only (decontamination hit rates are tiny). The windows
    partition by (doc, eval_doc, diagonal) — granular keys, never a
    global sort. 100 TB: yes.
    """
    runs = _suffix_islands(train, eval_set, gram)
    # a long run shows up once per overlapping eval doc/diagonal; the
    # per-train-doc rollup reports the maximal extent across all of them
    return runs.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_runs"),
        F.max("run_len").cast("int").alias("longest_run"),
        F.min("run_start").cast("int").alias("first_pos"),
    )


#: eval slices whose total characters exceed this stop being broadcast
#: (each char yields a ~36-byte gram row; 3M chars ≈ 100+ MB hash
#: relation). Decontamination eval sets are benchmark suites — far below
#: this — but the guard converts a mis-sized eval side into a plain
#: shuffle join instead of an executor OOM.
EVAL_BROADCAST_MAX_CHARS = 3_000_000


def _suffix_islands(
    train: DataFrame, eval_set: DataFrame, gram: int
) -> DataFrame:
    """Maximal shared runs per (train doc, eval doc, diagonal):
    (doc_id, eval_doc, diag, island, run_start, run_len)."""
    from pyspark.sql import Window

    ev = (
        eval_set.where(F.length("text") >= gram)
        .select(
            F.col("doc_id").alias("eval_doc"),
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, length(text) - {gram - 1}),"
                    f" i -> substring(text, i, {gram}))"
                )
            ).alias("epos0", "g"),
        )
        .select("eval_doc", (F.col("epos0") + 1).alias("epos"), "g")
    )
    # sizing the broadcast is one tiny aggregate over the (small) eval
    # side — cheap insurance against an eval slice that is NOT
    # benchmark-sized, where forcing the broadcast would OOM executors
    ev_chars = (
        eval_set.agg(
            F.coalesce(F.sum(F.length("text")), F.lit(0)).alias("n")
        ).collect()[0]["n"]
    )
    ev_side = (
        F.broadcast(ev) if ev_chars <= EVAL_BROADCAST_MAX_CHARS else ev
    )
    tr = spread(train.where(F.length("text") >= gram)).select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(1, length(text) - {gram - 1}),"
                f" i -> substring(text, i, {gram}))"
            )
        ).alias("tpos0", "g"),
    )
    matches = tr.join(ev_side, "g").select(
        "doc_id",
        "eval_doc",
        (F.col("tpos0") + 1).alias("tpos"),
        (F.col("tpos0") + 1 - F.col("epos")).alias("diag"),
    )
    w = Window.partitionBy("doc_id", "eval_doc", "diag").orderBy("tpos")
    return (
        matches.withColumn(
            "island", F.col("tpos") - F.row_number().over(w)
        )
        .groupBy("doc_id", "eval_doc", "diag", "island")
        .agg(
            F.min("tpos").alias("run_start"),
            (F.max("tpos") - F.min("tpos") + gram).alias("run_len"),
        )
    )


@_cache_scoped
def cut_contaminated_spans(
    train: DataFrame, eval_set: DataFrame, gram: int = _SR_L
) -> DataFrame:
    """(doc_id, n_spans_cut, chars_cut, clean_text): training docs with
    every contaminated character span SURGICALLY REMOVED — the pipeline
    step after detection (suffix_run_flags only flags).

    Spans from different eval docs/diagonals can overlap; they are merged
    per training doc (classic interval merge: running max-end over a
    start-ordered per-doc window marks span-group starts), then the KEPT
    complement segments are materialized as rows and stitched back in
    positional order. Only contaminated docs appear in the output — the
    caller anti-joins to keep the rest of the corpus untouched.

    Scale: everything downstream of the broadcast gram join is keyed by
    training doc — granular windows, no global sort; text is carried only
    for the (rare) contaminated docs.
    """
    from pyspark.sql import Window

    # maximal runs per (doc, eval, diag) — same machinery as the flags
    runs = _suffix_islands(train, eval_set, gram)
    spans = runs.select(
        "doc_id",
        F.col("run_start").alias("s"),
        (F.col("run_start") + F.col("run_len")).alias("e"),  # exclusive
    )
    wd = Window.partitionBy("doc_id").orderBy("s", "e")
    prev_max_e = F.max("e").over(
        wd.rowsBetween(Window.unboundedPreceding, -1)
    )
    grouped = spans.withColumn(
        "grp",
        F.sum(
            F.when(
                F.col("s") > F.coalesce(prev_max_e, F.lit(0)), 1
            ).otherwise(0)
        ).over(wd),
    )
    # r11 OPT (guide §1.2, r10 verdict #5 duplicate-subtree audit): the
    # merged span table feeds FOUR branches (docs_hit, both complement-
    # segment branches, and the summary aggregate) — uncached, each
    # branch re-ran the whole suffix-run detection (position explode of
    # BOTH sides + gram join + island window). One scoped cache of the
    # tiny per-span table collapses 4 detection executions to 1.
    merged = _scoped_cache(
        grouped.groupBy("doc_id", "grp").agg(
            F.min("s").alias("s"), F.max("e").alias("e")
        )
    )
    docs_hit = merged.select("doc_id").distinct().join(
        train.select("doc_id", "text"), "doc_id"
    )
    # complement segments: text between consecutive cut spans (+ tail)
    ws = Window.partitionBy("doc_id").orderBy("s")
    segs = (
        merged.withColumn(
            "seg_start",
            F.coalesce(F.lag("e").over(ws), F.lit(1)).cast("int"),
        )
        .select(
            "doc_id",
            "seg_start",
            (F.col("s") - F.col("seg_start")).cast("int").alias("seg_len"),
        )
        .unionByName(
            merged.groupBy("doc_id")
            .agg(F.max("e").cast("int").alias("seg_start"))
            .select(
                "doc_id",
                "seg_start",
                F.lit(None).cast("int").alias("seg_len"),
            )
        )
    )
    pieces = segs.join(docs_hit, "doc_id").select(
        "doc_id",
        "seg_start",
        F.when(
            F.col("seg_len").isNull(),
            F.expr("substring(text, seg_start, length(text) - seg_start + 1)"),
        )
        .otherwise(F.expr("substring(text, seg_start, seg_len)"))
        .alias("seg"),
    )
    stitched = pieces.groupBy("doc_id").agg(
        F.array_join(
            F.expr("transform(array_sort(collect_list(struct(seg_start, seg))), x -> x.seg)"),
            "",
        ).alias("clean_text")
    )
    summary = merged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans_cut"),
        F.sum(F.col("e") - F.col("s")).cast("long").alias("chars_cut"),
    )
    return summary.join(stitched, "doc_id").select(
        "doc_id", "n_spans_cut", "chars_cut", "clean_text"
    )


@register(
    "decontaminate_suffix_runs",
    oracle=f"""
    WITH bucketed AS (
      SELECT doc_id, text,
             {bucket_duckdb('doc_id')} AS bucket
      FROM documents
    ),
    ev AS (
      SELECT doc_id AS eval_doc, epos,
             substring(text, epos, {_SR_L}) AS g
      FROM bucketed,
           LATERAL unnest(generate_series(1, len(text) - {_SR_L - 1}))
             AS u(epos)
      WHERE bucket < 200 AND len(text) >= {_SR_L}
    ),
    tr AS (
      SELECT doc_id, tpos, substring(text, tpos, {_SR_L}) AS g
      FROM bucketed,
           LATERAL unnest(generate_series(1, len(text) - {_SR_L - 1}))
             AS u(tpos)
      WHERE bucket >= 200 AND len(text) >= {_SR_L}
    ),
    m AS (
      SELECT tr.doc_id, ev.eval_doc, tr.tpos,
             tr.tpos - ev.epos AS diag
      FROM tr JOIN ev ON tr.g = ev.g
    ),
    runs AS (
      SELECT doc_id, eval_doc, diag,
             tpos - row_number() OVER (PARTITION BY doc_id, eval_doc, diag
                                       ORDER BY tpos) AS island,
             tpos
      FROM m
    ),
    agg AS (
      SELECT doc_id, eval_doc, diag, island,
             min(tpos) AS run_start,
             max(tpos) - min(tpos) + {_SR_L} AS run_len
      FROM runs GROUP BY doc_id, eval_doc, diag, island
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_runs,
           CAST(max(run_len) AS INT) AS longest_run,
           CAST(min(run_start) AS INT) AS first_pos
    FROM agg GROUP BY doc_id
    """,
    description="suffix-run decontamination: maximal verbatim runs "
    ">= 20 chars between training docs and the eval slice, with exact "
    "run lengths — the suffix-array pass (Lee et al. 2021) re-expressed "
    "as broadcast gram join + diagonal gaps-and-islands merge; detects "
    "ANY shared run above the gram floor with no stride parameter "
    "(companion decontaminate_exact_substring trades a 30-char floor "
    "for a 11x cheaper train-side scan)",
    tags=("dedup", "llm-pipeline", "decontamination"),
)
def decontaminate_suffix_runs(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    bucket = bucket_spark(F.col("doc_id"))
    eval_set = docs.where(bucket < 200)
    train = docs.where(bucket >= 200)
    return suffix_run_flags(train, eval_set)


@register(
    "doc_novelty_fraction",
    oracle="""
    WITH grams AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(
               generate_series(1, len(string_split(text, ' ')) - 2),
               i -> concat_ws(' ', string_split(text, ' ')[i],
                              string_split(text, ' ')[i+1],
                              string_split(text, ' ')[i+2]))) AS g
      FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ), first_seen AS (
      SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY g
    )
    SELECT grams.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(count(CASE WHEN f.first_doc = grams.doc_id THEN 1 END)
                AS BIGINT) AS n_novel,
           round(CAST(count(CASE WHEN f.first_doc = grams.doc_id
                                 THEN 1 END) AS DOUBLE)
                 / count(*), 6) AS novelty
    FROM grams JOIN first_seen f USING (g)
    GROUP BY grams.doc_id
    """,
    description="n-gram novelty scoring: per doc, the fraction of its "
    "distinct word trigrams FIRST seen in this doc (earlier = lower "
    "doc_id) — the marginal-new-content metric data curation ranks by "
    "(a doc that is 90% previously-seen trigrams adds little even if it "
    "is not a near-dup of any single document). Shape: gram-keyed "
    "min-aggregate (map-side combined) + one join back on the gram — "
    "two shuffles of (gram, doc_id) pairs, never text; ties on the "
    "first-seen doc resolve by min(doc_id) identically cross-engine.",
    tags=("dedup", "llm-pipeline", "textstats"),
)
def doc_novelty_fraction(spark: SparkSession, sf: str) -> DataFrame:
    grams = shingles(load(spark, sf, "documents"), n=3).select(
        "doc_id", F.col("shingle").alias("g")
    )
    first_seen = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    joined = grams.join(first_seen, "g")
    novel = F.count(
        F.when(F.col("first_doc") == F.col("doc_id"), 1)
    )
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        novel.alias("n_novel"),
        F.round(novel.cast("double") / F.count(F.lit(1)), 6).alias(
            "novelty"
        ),
    )


@register(
    "contamination_eval_report",
    oracle=f"""
    WITH bucketed AS (
      SELECT doc_id, text,
             {bucket_duckdb('doc_id')} AS bucket
      FROM documents
    ),
    ev AS (
      SELECT doc_id AS eval_doc, epos,
             substring(text, epos, {_SR_L}) AS g
      FROM bucketed,
           LATERAL unnest(generate_series(1, len(text) - {_SR_L - 1}))
             AS u(epos)
      WHERE bucket < 200 AND len(text) >= {_SR_L}
    ),
    tr AS (
      SELECT doc_id, tpos, substring(text, tpos, {_SR_L}) AS g
      FROM bucketed,
           LATERAL unnest(generate_series(1, len(text) - {_SR_L - 1}))
             AS u(tpos)
      WHERE bucket >= 200 AND len(text) >= {_SR_L}
    ),
    m AS (
      SELECT tr.doc_id, ev.eval_doc, tr.tpos, tr.tpos - ev.epos AS diag
      FROM tr JOIN ev ON tr.g = ev.g
    ),
    runs AS (
      SELECT doc_id, eval_doc, diag,
             tpos - row_number() OVER (PARTITION BY doc_id, eval_doc, diag
                                       ORDER BY tpos) AS island,
             tpos
      FROM m
    ),
    agg AS (
      SELECT eval_doc, doc_id,
             max(tpos) - min(tpos) + {_SR_L} AS run_len
      FROM runs GROUP BY doc_id, eval_doc, diag, island
    )
    SELECT eval_doc,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_train_docs,
           CAST(count(*) AS BIGINT) AS n_runs,
           CAST(max(run_len) AS INT) AS longest_run,
           CAST(sum(run_len) AS BIGINT) AS total_shared_chars
    FROM agg GROUP BY eval_doc
    """,
    description="eval-side contamination report: for each BENCHMARK doc, "
    "how many training docs share a verbatim >=20-char run with it, how "
    "many maximal runs, the longest, and total shared chars — the 'is "
    "this benchmark compromised' view (train-side flags answer 'which "
    "docs do I drop'). Same islands machinery grouped the other way; "
    "total_shared_chars counts run extents per (train doc, diagonal), "
    "so a passage shared with 10 train docs correctly weighs 10x.",
    tags=("dedup", "llm-pipeline", "decontamination"),
)
def contamination_eval_report(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    bucket = bucket_spark(F.col("doc_id"))
    eval_set = docs.where(bucket < 200)
    train = docs.where(bucket >= 200)
    runs = _suffix_islands(train, eval_set, _SR_L)
    return runs.groupBy("eval_doc").agg(
        F.countDistinct("doc_id").cast("long").alias("n_train_docs"),
        F.count(F.lit(1)).cast("long").alias("n_runs"),
        F.max("run_len").cast("int").alias("longest_run"),
        F.sum("run_len").cast("long").alias("total_shared_chars"),
    )


@register(
    "decontaminate_cut_spans",
    oracle=f"""
    WITH bucketed AS (
      SELECT doc_id, text,
             {bucket_duckdb('doc_id')} AS bucket
      FROM documents
    ),
    ev AS (
      SELECT doc_id AS eval_doc, epos,
             substring(text, epos, {_SR_L}) AS g
      FROM bucketed,
           LATERAL unnest(generate_series(1, len(text) - {_SR_L - 1}))
             AS u(epos)
      WHERE bucket < 200 AND len(text) >= {_SR_L}
    ),
    tr AS (
      SELECT doc_id, text, tpos, substring(text, tpos, {_SR_L}) AS g
      FROM bucketed,
           LATERAL unnest(generate_series(1, len(text) - {_SR_L - 1}))
             AS u(tpos)
      WHERE bucket >= 200 AND len(text) >= {_SR_L}
    ),
    m AS (
      SELECT tr.doc_id, ev.eval_doc, tr.tpos, tr.tpos - ev.epos AS diag
      FROM tr JOIN ev ON tr.g = ev.g
    ),
    runs AS (
      SELECT doc_id, eval_doc, diag,
             tpos - row_number() OVER (PARTITION BY doc_id, eval_doc, diag
                                       ORDER BY tpos) AS island,
             tpos
      FROM m
    ),
    spans0 AS (
      SELECT doc_id,
             min(tpos) AS s,
             max(tpos) + {_SR_L} AS e
      FROM runs GROUP BY doc_id, eval_doc, diag, island
    ),
    cov AS (
      -- window-free interval merge: expand spans to DISTINCT covered
      -- positions. The previous formulation (running-max + running-sum
      -- ROWS-framed windows) is MISEVALUATED INTERMITTENTLY by parallel
      -- DuckDB 1.0 at sf0.1 row counts (same query, same data, chars_cut
      -- flips between runs; single-threaded always agrees with Spark) —
      -- the oracle only needs to be correct, not scale, so it uses the
      -- positional formulation instead.
      SELECT DISTINCT doc_id, pos
      FROM spans0, LATERAL unnest(generate_series(s, e - 1)) AS u(pos)
    ),
    starts AS (
      -- group starts: covered positions whose predecessor is uncovered
      -- (EXCEPT, not an outer join: DuckDB 1.0 cannot decorrelate a
      -- LEFT JOIN adjacent to the LATERAL unnests above)
      SELECT doc_id, pos FROM cov
      EXCEPT
      SELECT doc_id, pos + 1 FROM cov
    ),
    scount AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans_cut
      FROM starts GROUP BY doc_id
    ),
    summary AS (
      SELECT cov.doc_id, sc.n_spans_cut,
             CAST(count(*) AS BIGINT) AS chars_cut
      FROM cov JOIN scount sc USING (doc_id)
      GROUP BY cov.doc_id, sc.n_spans_cut
    ),
    allpos AS (
      SELECT b.doc_id, u.pos
      FROM bucketed b
      JOIN (SELECT DISTINCT doc_id FROM spans0) h USING (doc_id),
           LATERAL unnest(generate_series(1, len(b.text))) AS u(pos)
    ),
    keptpos AS (
      SELECT doc_id, pos FROM allpos
      EXCEPT
      SELECT doc_id, pos FROM cov
    ),
    stitched AS (
      SELECT k.doc_id,
             string_agg(substring(b.text, k.pos, 1), ''
                        ORDER BY k.pos) AS clean_text
      FROM keptpos k JOIN bucketed b USING (doc_id)
      GROUP BY k.doc_id
    )
    SELECT summary.doc_id, n_spans_cut, chars_cut,
           coalesce(clean_text, '') AS clean_text
    FROM summary LEFT JOIN stitched USING (doc_id)
    """,
    description="contamination span surgery: remove every verbatim "
    ">=20-char run shared with the eval slice from the training text — "
    "detection (suffix-run machinery), per-doc interval merge of "
    "overlapping spans from different eval docs/diagonals, and "
    "complement-segment stitching back into clean_text. The step after "
    "flagging: what the pipeline actually writes. Only contaminated docs "
    "appear (anti-join the flags to pass clean docs through untouched).",
    tags=("dedup", "llm-pipeline", "decontamination"),
)
def decontaminate_cut_spans(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    bucket = bucket_spark(F.col("doc_id"))
    eval_set = docs.where(bucket < 200)
    train = docs.where(bucket >= 200)
    return cut_contaminated_spans(train, eval_set)


# ---------------------------------------------------------------------------
# Winnowing fingerprints (MOSS-style exact-substring dedup WITHIN a corpus)
# ---------------------------------------------------------------------------

_WK = 14  # gram length (chars)
_WW = 7  # winnowing window (grams)
_W_MAXDF = 10  # drop fingerprints present in more docs (hot-phrase cap)
_W_MINSHARE = 5  # report pairs sharing at least this many fingerprints
#: DuckDB: the fold of the _WK-char gram of code list ``cs`` at ``i``
_GRAM_POLY_SQL = poly_duckdb_codes(f"cs[i:i + {_WK - 1}]")


def _poly_gram_hashes(pre: DataFrame, k: int) -> DataFrame:
    """(doc_id, h): polynomial hash of every k-char gram, h[i] =
    fold(cs[i..i+k-1], (a,c) -> (a·B + c) mod P) — the engine-portable
    hash the DuckDB oracle can reproduce.

    Computed by span doubling instead of a per-position O(k) fold:
    H_{m+s}[i] = (H_m[i]·B^s + H_s[i+m]) mod P composes polynomial hashes
    exactly (concatenation homomorphism), so log2(k) full-array zip_with
    passes replace n·k slice+fold steps. Each doubled span is materialized
    as its own projected column, so shared spans (the binary decomposition
    of k reuses them) are computed once. zip_with's null padding poisons
    only tail positions, which the final slice drops."""

    def shift(arr: str, s: int) -> str:
        return f"slice({arr}, {s + 1}, greatest(size({arr}) - {s}, 0))"

    def comb(a: str, b: str, b_span_pow: int, sh: int) -> str:
        return (
            f"zip_with({a}, {shift(b, sh)},"
            f" (x, y) -> (x * {b_span_pow} + y) % {P})"
        )

    hdf = pre.select("doc_id", F.expr(codes_spark("text")).alias("h1"))
    spans = [1]
    m = 1
    while 2 * m <= k:
        hdf = hdf.select(
            "doc_id",
            *[f"h{s}" for s in spans],
            F.expr(
                comb(f"h{m}", f"h{m}", pow(B, m, P), m)
            ).alias(f"h{2 * m}"),
        )
        m *= 2
        spans.append(m)
    # combine the binary decomposition of k, largest span first
    acc, acc_span = f"h{m}", m
    rest = k - m
    for s in reversed(spans[:-1]):
        if rest >= s:
            acc = comb(acc, f"h{s}", pow(B, s, P), acc_span)
            acc_span += s
            rest -= s
    assert rest == 0 and acc_span == k
    return hdf.select(
        "doc_id",
        F.expr(f"slice({acc}, 1, size(h1) - {k - 1})").alias("h"),
    )


def winnow_fingerprints(
    docs: DataFrame, k: int = _WK, w: int = _WW, use_xxhash: bool = True
) -> DataFrame:
    """(doc_id, fp): winnowed substring fingerprints per document.

    Winnowing (Schleimer/Wilkerson/Aiken, SIGMOD 2003): hash every k-char
    gram, then keep the minimum hash of each w-gram window. Selection is
    CONTENT-DEFINED, so two documents sharing any verbatim run of length
    >= w + k - 1 select at least one identical fingerprint inside it —
    the property that makes exact-substring dedup distributable: no
    suffix array, no all-positions join, just a groupBy on ~2/(w+1)
    fingerprints per character.

    ``use_xxhash`` selects the production hash (JVM xxhash64). The
    registered oracle query uses a polynomial rolling hash instead so
    DuckDB computes bit-identical fingerprints; the winnowing algebra is
    the same either way.

    The window minimum uses a sparse-table doubling scheme — log2(w)
    full-array ``zip_with(least)`` passes plus one final combine — instead
    of the naive ``array_min(slice(h, j, w))`` per position: same values
    (min is associative; overlapping ranges are harmless), but O(n·log w)
    element ops with no per-position array allocation. Measured 3.5× on
    the whole pipeline at sf0.1; at 100 TB the extraction stage dominates,
    so this is the difference between the plan and a 3× slower one.
    """
    # spread() before the gram-hash projection: a single-file scan
    # otherwise computes every hash in one task (see queries.spread)
    pre = spread(docs.where(F.length("text") >= k + w - 1))
    if use_xxhash:
        gram_hash = (
            f"transform(sequence(1, length(text) - {k - 1}),"
            f" i -> xxhash64(substring(text, i, {k})))"
        )
        hs = pre.select("doc_id", F.expr(gram_hash).alias("h"))
    else:
        hs = _poly_gram_hashes(pre, k)
    # sparse-table window minimum: win_{2p}[j] = least(win_p[j], win_p[j+p])
    # via zip_with against a shifted copy (zip_with null-pads the shorter
    # side and least() ignores nulls; padded tail positions are sliced off
    # before output, so they never contribute a value)
    expr = "h"
    span = 1  # current exact window span of `expr`
    while span * 2 <= w:
        expr = (
            f"zip_with({expr}, slice({expr}, {span + 1},"
            f" greatest(size(h) - {span}, 0)), (x, y) -> least(x, y))"
        )
        span *= 2
    if span < w:
        shift = w - span
        expr = (
            f"zip_with({expr}, slice({expr}, {shift + 1},"
            f" greatest(size(h) - {shift}, 0)), (x, y) -> least(x, y))"
        )
    fps = f"array_distinct(slice({expr}, 1, size(h) - {w - 1}))"
    return hs.select("doc_id", F.explode(F.expr(fps)).alias("fp"))


def winnow_dup_pairs(
    docs: DataFrame,
    k: int = _WK,
    w: int = _WW,
    max_df: int = _W_MAXDF,
    min_share: int = _W_MINSHARE,
    use_xxhash: bool = True,
) -> DataFrame:
    """(doc_a, doc_b, n_shared): document pairs sharing >= min_share
    winnowed fingerprints — i.e. containing substantial verbatim overlap.

    Scale shape: fingerprints present in more than ``max_df`` documents
    (boilerplate phrases) are dropped BEFORE the self-join — the same
    guardrail as the n-gram max-df cap, bounding a fingerprint's pair
    contribution at max_df²/2 instead of corpus²; the join key is one
    8-byte hash and the aggregate is map-side partial.

    The fingerprint extraction (the O(n·w) winnowing pass over every
    document) feeds every plan branch, so it is materialized once instead
    of recomputed per branch (at 100 TB this stage dominates, and 3× it
    is a real regression).

    r10 OPT (guide §1.2/§2.4, the same rewrite as _jaccard_pair_counts):
    the hot-fingerprint cap is ONE window count over the fingerprint
    table + a plain filter, replacing the old groupBy + left_anti join
    (a second full pass over the checkpointed fingerprints and two more
    exchanges). The lazy localCheckpoint moves AFTER the cap: the
    materialized RDD is the already-capped table, it feeds both self-join
    sides as one RDD (computed once, outside any cache scope — a scoped
    cache here would be released by ``dup_spans``' own scope before
    ``dedup_span_extract`` materializes it), and the checkpoint preserves
    the window's hash-partitioning by ``fp``, the exact layout the
    self-join needs on both sides."""
    from pyspark.sql import Window

    kept = (
        winnow_fingerprints(docs, k, w, use_xxhash)
        .withColumn("df", F.count("*").over(Window.partitionBy("fp")))
        .where(F.col("df") <= max_df)
        .select("doc_id", "fp")
        .localCheckpoint(eager=False)
    )
    a = kept.select(F.col("doc_id").alias("doc_a"), "fp")
    b = kept.select(F.col("doc_id").alias("doc_b"), "fp")
    return (
        a.join(b, "fp")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_share)
    )


@register(
    "dedup_winnowing_pairs",
    oracle=f"""
    WITH codes AS (
      SELECT doc_id,
             {codes_duckdb('text')} AS cs
      FROM documents WHERE len(text) >= {_WK + _WW - 1}
    ), hs AS (
      SELECT doc_id,
             list_transform(generate_series(1, len(cs) - {_WK - 1}),
               i -> {_GRAM_POLY_SQL}) AS h
      FROM codes
    ), fps0 AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               generate_series(1, len(h) - {_WW - 1}),
               j -> list_min(h[j:j + {_WW - 1}])))) AS fp
      FROM hs
    ), hot AS (
      SELECT fp FROM fps0 GROUP BY fp HAVING count(*) > {_W_MAXDF}
    ), fps AS (
      SELECT doc_id, fp FROM fps0 WHERE fp NOT IN (SELECT fp FROM hot)
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id HAVING count(*) >= {_W_MINSHARE}
    """,
    description="within-corpus exact-substring duplicate pairs via "
    "winnowing fingerprints (SIGMOD'03): content-defined window-minimum "
    "gram hashes guarantee any shared verbatim run >= 20 chars selects an "
    "identical fingerprint in both docs; hot-phrase max-df cap bounds the "
    "self-join. Polynomial rolling hash here for cross-engine parity; "
    "production default is JVM xxhash64",
    tags=("dedup", "llm-pipeline"),
)
def dedup_winnowing_pairs(spark: SparkSession, sf: str) -> DataFrame:
    return winnow_dup_pairs(
        load(spark, sf, "documents"), use_xxhash=False
    )


@_cache_scoped
def dup_spans(
    docs: DataFrame,
    pairs: DataFrame,
    k: int = _WK,
    min_len: int = _WK + _WW - 1,
) -> DataFrame:
    """(doc_a, doc_b, start_a, start_b, span_len): the verbatim duplicated
    character ranges behind candidate pairs — the 'locate the passage to
    cut' step after winnowing flags a pair (Lee et al. 2021 emit spans for
    exactly this reason: removal needs positions, not just pair ids).

    Only documents that appear in ``pairs`` are re-expanded at stride 1 —
    the expensive full positional gram table is bounded by duplicate
    density, never by corpus size. Matching positions are grouped by
    diagonal (pos_a - pos_b) and consecutive runs merge via the
    gaps-and-islands window pattern; a run of matching k-grams spanning
    positions p..q is one span of length q - p + k."""
    # `pairs`, `ids`, and the positional gram table feed multiple join
    # branches. cache()+count materializes them ONCE with known sizes so
    # the planner broadcasts the tiny sides (without sizes the docs join
    # planned catastrophically). cache, not localCheckpoint: checkpointing
    # compiles a second non-adaptive physical plan, which on this
    # expression-heavy pipeline took ~90s of pure planning at sf0.1.
    pairs = _scoped_cache(pairs)
    pairs.count()
    ids = _scoped_cache(
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b")))
        .distinct()
    )
    ids.count()
    # materialize the per-doc hash arrays BEFORE exploding: Generate
    # directly over the interpreted HOF projection re-evaluates the heavy
    # array expression per output row (~90x at sf0.1); exploding from the
    # columnar cache evaluates it once per document
    hashes = _scoped_cache(
        _poly_gram_hashes(spread(docs.join(ids, "doc_id")), k)
    )
    hashes.count()
    pos_grams = _scoped_cache(
        hashes.select("doc_id", F.posexplode("h").alias("pos0", "gh"))
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "gh")
    )
    a = pos_grams.select(
        F.col("doc_id").alias("doc_a"),
        F.col("pos").alias("pos_a"),
        "gh",
    )
    b = pos_grams.select(
        F.col("doc_id").alias("doc_b"),
        F.col("pos").alias("pos_b"),
        "gh",
    )
    matches = (
        pairs.select("doc_a", "doc_b")
        .join(a, "doc_a")
        .join(b, ["doc_b", "gh"])
        .select(
            "doc_a",
            "doc_b",
            "pos_a",
            "pos_b",
            (F.col("pos_a") - F.col("pos_b")).alias("diag"),
        )
    )
    from pyspark.sql import Window

    w_diag = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    gap = F.when(
        F.col("pos_a") - F.lag("pos_a").over(w_diag) > 1, 1
    ).otherwise(0)
    runs = matches.withColumn(
        "run",
        F.sum(gap).over(
            w_diag.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        runs.groupBy("doc_a", "doc_b", "diag", "run")
        .agg(
            F.min("pos_a").alias("start_a"),
            F.min("pos_b").alias("start_b"),
            (F.max("pos_a") - F.min("pos_a") + k).alias("span_len"),
        )
        .where(F.col("span_len") >= min_len)
        .select("doc_a", "doc_b", "start_a", "start_b", "span_len")
    )


@register(
    "dedup_span_extract",
    oracle=f"""
    WITH codes AS (
      SELECT doc_id,
             {codes_duckdb('text')} AS cs
      FROM documents WHERE len(text) >= {_WK + _WW - 1}
    ), hs AS (
      SELECT doc_id,
             list_transform(generate_series(1, len(cs) - {_WK - 1}),
               i -> {_GRAM_POLY_SQL}) AS h
      FROM codes
    ), fps0 AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               generate_series(1, len(h) - {_WW - 1}),
               j -> list_min(h[j:j + {_WW - 1}])))) AS fp
      FROM hs
    ), hot AS (
      SELECT fp FROM fps0 GROUP BY fp HAVING count(*) > {_W_MAXDF}
    ), fps AS (
      SELECT doc_id, fp FROM fps0 WHERE fp NOT IN (SELECT fp FROM hot)
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id HAVING count(*) >= {_W_MINSHARE}
    ), pos_grams AS (
      SELECT doc_id, u.i AS pos, h[u.i] AS gh
      FROM hs, LATERAL unnest(generate_series(1, len(h))) AS u(i)
      WHERE doc_id IN (SELECT doc_a FROM pairs
                       UNION SELECT doc_b FROM pairs)
    ), matches AS (
      SELECT p.doc_a, p.doc_b, a.pos AS pos_a, b.pos AS pos_b,
             a.pos - b.pos AS diag
      FROM pairs p
      JOIN pos_grams a ON a.doc_id = p.doc_a
      JOIN pos_grams b ON b.doc_id = p.doc_b AND b.gh = a.gh
    ), brks AS (
      SELECT *,
             CASE WHEN pos_a - lag(pos_a) OVER (
               PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) > 1
             THEN 1 ELSE 0 END AS brk
      FROM matches
    ), runs AS (
      SELECT *,
             sum(brk) OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pos_a
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS run
      FROM brks
    )
    SELECT doc_a, doc_b,
           CAST(min(pos_a) AS INT) AS start_a,
           CAST(min(pos_b) AS INT) AS start_b,
           CAST(max(pos_a) - min(pos_a) + {_WK} AS INT) AS span_len
    FROM runs GROUP BY doc_a, doc_b, diag, run
    HAVING max(pos_a) - min(pos_a) + {_WK} >= {_WK + _WW - 1}
    """,
    description="duplicated-passage span extraction: winnowing flags the "
    "pairs, then ONLY those documents re-expand to stride-1 gram "
    "positions; matches group by diagonal and merge into maximal runs "
    "(gaps-and-islands window). Output = exact character ranges of every "
    "shared >=20-char passage — what a dedup pipeline actually cuts",
    tags=("dedup", "llm-pipeline"),
)
def dedup_span_extract(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    pairs = winnow_dup_pairs(docs, use_xxhash=False).select(
        "doc_a", "doc_b"
    )
    return dup_spans(docs, pairs)


# ---------------------------------------------------------------------------
# Portable MinHash+LSH (fully oracle-checked: engine-reproducible hashes)
# ---------------------------------------------------------------------------


@_cache_scoped
def _portable_sigs_cands(docs: DataFrame):
    """Shared portable-minhash pipeline: distinct shingle hashes per doc,
    32-perm signatures (cached — feeds banding AND per-pair estimate),
    and the 8x4-banded LSH candidate pairs. Returns (sh, sigs, cand)."""
    sh = shingles(docs, n=3).select(
        "doc_id", F.expr(poly_spark("shingle")).alias("ph")
    )
    mins = [
        F.min((F.lit(a) * F.col("ph") + F.lit(b)) % F.lit(P)).alias(
            f"h{i}"
        )
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    ]
    sigs = _scoped_cache(sh.groupBy("doc_id").agg(*mins))
    band_keys = F.array(
        *[
            F.concat_ws(
                "_", *[F.col(f"h{4 * b + r}") for r in range(4)]
            )
            for b in range(8)
        ]
    )
    banded = sigs.select(
        "doc_id", F.posexplode(band_keys).alias("band", "bkey")
    )
    cand = (
        banded.alias("x")
        .join(
            banded.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bkey") == F.col("y.bkey"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    return sh, sigs, cand


#: shared CTE prefix for the portable-minhash oracles: coeffs, distinct
#: shingles, polynomial hash, 32-perm signatures, 8x4 band keys and the
#: LSH candidate pairs. Extended by dedup_minhash_lsh_portable (estimate
#: + threshold) and minhash_estimate_error (estimate vs exact Jaccard).
_MH_PORTABLE_PREFIX_SQL = f"""
    WITH coeffs(i, a, b) AS (VALUES
      {values_duckdb(MINHASH_COEFFS)}
    ), sh0 AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(generate_series(1, len(toks) - 2),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
               AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t
    ), ph AS (
      SELECT doc_id,
             {poly_duckdb('shingle')} AS ph
      FROM sh0
    ), sig AS (
      SELECT doc_id, i, min((a * ph + b) % {P}) AS m
      FROM ph CROSS JOIN coeffs GROUP BY doc_id, i
    ), bands AS (
      SELECT doc_id, i // 4 AS band,
             string_agg(CAST(m AS VARCHAR), '_' ORDER BY i) AS bkey
      FROM sig GROUP BY doc_id, i // 4
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    )
"""


@register(
    "dedup_minhash_lsh_portable",
    oracle=_MH_PORTABLE_PREFIX_SQL + """
    SELECT c.doc_a, c.doc_b,
           round(sum(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) / 32.0, 6)
             AS est_jaccard
    FROM cand c
    JOIN sig sa ON sa.doc_id = c.doc_a
    JOIN sig sb ON sb.doc_id = c.doc_b AND sb.i = sa.i
    GROUP BY c.doc_a, c.doc_b
    HAVING sum(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) / 32.0 >= 0.2
    """,
    description="MinHash(32 affine perms)+LSH(8 bands x 4) with an "
    "engine-portable polynomial shingle hash, so the ENTIRE sketch "
    "pipeline — signatures, band buckets, candidate pairs, estimated "
    "Jaccard — is value-checked against the oracle, not just "
    "rows-counted. Production path (dedup_minhash_lsh) keeps xxhash64; "
    "the sketch algebra is identical",
    tags=("dedup", "lsh"),
)
def dedup_minhash_lsh_portable(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    _sh, sigs, cand = _portable_sigs_cands(docs)
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{i}").alias(f"a{i}") for i in range(32)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(32)],
    )
    eq = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int")
        for i in range(32)
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(eq / F.lit(32.0), 6).alias("est_jaccard"),
        )
        .where(eq / F.lit(32.0) >= 0.2)
    )


@register(
    "dedup_banded_fallback",
    oracle=_MH_PORTABLE_PREFIX_SQL + """,
    kept AS (
      SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= 100
    ),
    shc AS (
      SELECT s.doc_id, s.shingle FROM sh0 s JOIN kept USING (shingle)
    ),
    szc AS (SELECT doc_id, count(*) AS n_sh FROM shc GROUP BY doc_id),
    interc AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_inter
      FROM cand c
      JOIN shc a ON a.doc_id = c.doc_a
      JOIN shc b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT i.doc_a, i.doc_b,
           CAST(n_inter AS DOUBLE)
             / (sa.n_sh + sb.n_sh - n_inter) AS jaccard
    FROM interc i
    JOIN szc sa ON sa.doc_id = i.doc_a
    JOIN szc sb ON sb.doc_id = i.doc_b
    WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter)
          >= 0.05
    """,
    description="the pair-budget guard's fallback path run as a "
    "first-class query: portable MinHash-LSH (32 perms, 8x4 bands) "
    "candidate pairs, each verified with its EXACT df<=100-capped "
    "trigram Jaccard (threshold 0.05) — identical output contract to "
    "dedup_ngram_jaccard but join work bounded by band-bucket sizes "
    "instead of Sigma C(df,2), the path that measured 1.34x at 10x "
    "rows where the exact pipeline's pair space grew 78x. Recall = "
    "the LSH banding curve (lsh_band_sweep_recall); precision exact. "
    "The whole pipeline (signatures, bands, candidates, verify) is "
    "value-checked against the oracle",
    tags=("dedup", "lsh", "join"),
)
def dedup_banded_fallback(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    jac = (
        _banded_pair_counts(docs, n=3, max_shingle_df=100)
        .withColumn(
            "jaccard",
            F.col("n_inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_inter")),
        )
        .where(F.col("jaccard") >= 0.05)
    )
    return jac.select("doc_a", "doc_b", "jaccard")


@register(
    "minhash_estimate_error",
    oracle=_MH_PORTABLE_PREFIX_SQL + """,
    dph AS (
      SELECT DISTINCT doc_id, ph FROM ph
    ), sz AS (
      SELECT doc_id, count(*) AS n FROM dph GROUP BY doc_id
    ), inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS i
      FROM cand c
      JOIN dph pa ON pa.doc_id = c.doc_a
      JOIN dph pb ON pb.doc_id = c.doc_b AND pb.ph = pa.ph
      GROUP BY c.doc_a, c.doc_b
    ), est AS (
      SELECT c.doc_a, c.doc_b,
             CAST(sum(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END)
                  * 1000000 AS BIGINT) // 32 AS est_ppm
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.doc_a
      JOIN sig sb ON sb.doc_id = c.doc_b AND sb.i = sa.i
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT e.doc_a, e.doc_b, e.est_ppm,
           CAST(coalesce(i.i, 0) * 1000000 AS BIGINT)
             // (za.n + zb.n - coalesce(i.i, 0)) AS exact_ppm,
           abs(e.est_ppm
               - CAST(coalesce(i.i, 0) * 1000000 AS BIGINT)
                 // (za.n + zb.n - coalesce(i.i, 0))) AS abs_err_ppm
    FROM est e
    LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
    JOIN sz za ON za.doc_id = e.doc_a
    JOIN sz zb ON zb.doc_id = e.doc_b
    """,
    description="MinHash estimator calibration: for EVERY LSH candidate "
    "pair (no threshold), the 32-perm signature estimate vs the exact "
    "shingle Jaccard, both as integer ppm, plus the absolute error — "
    "the table that justifies the band/row configuration and the 0.2 "
    "cutoff empirically. Exact Jaccard is computed ONLY for LSH "
    "candidates (bucketed, never all-pairs): the intersection join is "
    "keyed on (doc, shingle-hash) restricted to candidate docs, and "
    "|A∪B| = |A|+|B|-|A∩B| comes from per-doc distinct counts, so no "
    "shingle set is ever materialized per pair. Scale: identical "
    "shuffle shape to the LSH dedup itself plus one candidate-keyed "
    "aggregate.",
    tags=("dedup", "lsh", "report"),
)
def minhash_estimate_error(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    sh, sigs, cand = _portable_sigs_cands(docs)
    # r10 OPT (guide §1.2): dph feeds three branches (sizes + both sides
    # of the intersection join); uncached, the per-character polynomial
    # shingle hash — the most expensive projection in this pipeline —
    # re-executed once per branch.
    dph = _scoped_cache(sh.distinct())
    sz = dph.groupBy("doc_id").agg(F.count("*").alias("n"))
    pa = dph.select(F.col("doc_id").alias("doc_a"), "ph")
    pb = dph.select(F.col("doc_id").alias("docb"), F.col("ph").alias("phb"))
    inter = (
        cand.join(pa, "doc_a")
        .join(
            pb,
            (F.col("doc_b") == F.col("docb"))
            & (F.col("ph") == F.col("phb")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("i"))
    )
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"h{i}").alias(f"a{i}") for i in range(32)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"h{i}").alias(f"b{i}") for i in range(32)],
    )
    eq = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int")
        for i in range(32)
    )
    est = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (eq.cast("bigint") * 1_000_000)
            .cast("bigint")
            .alias("eqm"),
        )
        .select(
            "doc_a", "doc_b", F.expr("eqm div 32").alias("est_ppm")
        )
    )
    za = sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    zb = sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    exact_ppm = F.expr(
        "cast(coalesce(i, 0) * 1000000 as bigint)"
        " div (na + nb - coalesce(i, 0))"
    )
    return (
        est.join(inter, ["doc_a", "doc_b"], "left")
        .join(za, "doc_a")
        .join(zb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "est_ppm",
            exact_ppm.alias("exact_ppm"),
            F.abs(F.col("est_ppm") - exact_ppm).alias("abs_err_ppm"),
        )
    )


@register(
    "lsh_band_sweep_recall",
    oracle=_MH_PORTABLE_PREFIX_SQL + """,
    dph AS (
      SELECT DISTINCT doc_id, ph FROM ph
    ), sz AS (
      SELECT doc_id, count(*) AS n FROM dph GROUP BY doc_id
    ), shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      FROM dph a JOIN dph b ON a.ph = b.ph AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ), truth AS (
      SELECT s.doc_a, s.doc_b
      FROM shared s
      JOIN sz za ON za.doc_id = s.doc_a
      JOIN sz zb ON zb.doc_id = s.doc_b
      WHERE 3 * s.i >= za.n + zb.n
    ), bandcfg(r) AS (VALUES (2), (4), (8)),
    bands_r AS (
      SELECT r, doc_id, i // r AS band,
             string_agg(CAST(m AS VARCHAR), '_' ORDER BY i) AS bkey
      FROM sig CROSS JOIN bandcfg GROUP BY r, doc_id, i // r
    ), cand_r AS (
      SELECT DISTINCT a.r AS r, a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands_r a
      JOIN bands_r b ON a.r = b.r AND a.band = b.band
                    AND a.bkey = b.bkey AND a.doc_id < b.doc_id
    ), caught AS (
      SELECT c.r, count(*) AS n_caught
      FROM cand_r c
      JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
      GROUP BY c.r
    ), ncand AS (
      SELECT r, count(*) AS n_cand FROM cand_r GROUP BY r
    ), nt AS (SELECT count(*) AS n_truth FROM truth)
    SELECT CAST(b.r AS INT) AS rows_per_band,
           CAST(32 // b.r AS INT) AS n_bands,
           CAST(n_truth AS BIGINT) AS n_truth,
           CAST(coalesce(nc.n_cand, 0) AS BIGINT) AS n_candidates,
           CAST(coalesce(c.n_caught, 0) AS BIGINT) AS n_caught,
           CAST(coalesce(c.n_caught, 0) * 1000000
                // greatest(n_truth, 1) AS BIGINT) AS recall_ppm
    FROM bandcfg b
    CROSS JOIN nt
    LEFT JOIN ncand nc ON nc.r = b.r
    LEFT JOIN caught c ON c.r = b.r
    """,
    description="LSH parameter sweep: candidate-pair count and recall of "
    "true near-duplicates (exact shingle Jaccard >= 0.5) at band widths "
    "r=2/4/8 over the same 32 portable-minhash permutations — the table "
    "that picks a banding configuration empirically (the S-curve "
    "steepens as r grows: fewer, longer bands trade recall for "
    "precision). Truth pairs come from the shared-shingle join (any "
    "pair with J >= 0.5 shares a shingle, so the join finds ALL of "
    "them); the J >= 0.5 test is the integer cross-multiplication "
    "3*|inter| >= |A|+|B| — no float Jaccard anywhere; recall is an "
    "integer-ppm floor division guarded for an empty truth set. "
    "Scale: one signature table feeds all three configs (the sig cache "
    "is shared); each config's candidate join is band-bucketed exactly "
    "like the production LSH path.",
    tags=("dedup", "lsh", "report"),
)
@_cache_scoped
def lsh_band_sweep_recall(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    sh, sigs, _cand = _portable_sigs_cands(docs)
    # r10 OPT (guide §1.2): same three-branch dph reuse as
    # minhash_estimate_error — cache it so the per-character polynomial
    # shingle hash runs once, not once per branch.
    dph = _scoped_cache(sh.distinct())
    sz = dph.groupBy("doc_id").agg(F.count("*").alias("n"))
    pa = dph.select(F.col("doc_id").alias("doc_a"), "ph")
    pb = dph.select(F.col("doc_id").alias("doc_b"), F.col("ph").alias("phb"))
    shared = (
        pa.join(
            pb,
            (F.col("ph") == F.col("phb"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("i"))
    )
    za = sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    zb = sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    truth = (
        shared.join(za, "doc_a")
        .join(zb, "doc_b")
        .where(3 * F.col("i") >= F.col("na") + F.col("nb"))
        .select("doc_a", "doc_b")
    )
    truth = _scoped_cache(truth)
    cand_parts = []
    for r in (2, 4, 8):
        band_keys = F.array(
            *[
                F.concat_ws(
                    "_", *[F.col(f"h{r * b + j}") for j in range(r)]
                )
                for b in range(32 // r)
            ]
        )
        banded = sigs.select(
            "doc_id", F.posexplode(band_keys).alias("band", "bkey")
        )
        cand_parts.append(
            banded.alias("x")
            .join(
                banded.alias("y"),
                (F.col("x.band") == F.col("y.band"))
                & (F.col("x.bkey") == F.col("y.bkey"))
                & (F.col("x.doc_id") < F.col("y.doc_id")),
            )
            .select(
                F.lit(r).alias("r"),
                F.col("x.doc_id").alias("doc_a"),
                F.col("y.doc_id").alias("doc_b"),
            )
            .distinct()
        )
    cand_r = cand_parts[0]
    for p in cand_parts[1:]:
        cand_r = cand_r.unionByName(p)
    cand_r = _scoped_cache(cand_r)
    ncand = cand_r.groupBy("r").agg(F.count("*").alias("n_cand"))
    caught = (
        cand_r.join(truth, ["doc_a", "doc_b"])
        .groupBy("r")
        .agg(F.count("*").alias("n_caught"))
    )
    nt = truth.agg(F.count("*").alias("n_truth"))
    cfg = spark.createDataFrame([(2,), (4,), (8,)], "r int")
    return (
        cfg.crossJoin(F.broadcast(nt))
        .join(F.broadcast(ncand), "r", "left")
        .join(F.broadcast(caught), "r", "left")
        .select(
            F.col("r").cast("int").alias("rows_per_band"),
            (F.lit(32) / F.col("r")).cast("int").alias("n_bands"),
            F.col("n_truth").cast("bigint").alias("n_truth"),
            F.coalesce(F.col("n_cand"), F.lit(0))
            .cast("bigint")
            .alias("n_candidates"),
            F.coalesce(F.col("n_caught"), F.lit(0))
            .cast("bigint")
            .alias("n_caught"),
            F.expr(
                "cast(coalesce(n_caught, 0) * 1000000"
                " div greatest(n_truth, 1) as bigint)"
            ).alias("recall_ppm"),
        )
    )


@register(
    "simhash_portable_fingerprints",
    oracle=f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, tok FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      ) WHERE tok <> ''
    ), ph AS (
      SELECT doc_id,
             {poly_duckdb('tok')} AS h
      FROM toks
    ), votes AS (
      SELECT doc_id, b.bit,
             sum(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM ph, (SELECT unnest(generate_series(0, 30)) AS bit) b
      GROUP BY doc_id, b.bit
    )
    SELECT doc_id,
           CAST(sum(CASE WHEN v > 0 THEN CAST(1 AS BIGINT) << bit
                    ELSE 0 END) AS BIGINT) AS fp
    FROM votes GROUP BY doc_id
    """,
    description="31-bit SimHash fingerprints with the engine-portable "
    "polynomial token hash: per-bit +-1 votes over distinct tokens, sign "
    "-> bit. Every fingerprint value-checked against the oracle "
    "(production simhash keeps 64-bit xxhash64; identical vote algebra). "
    "Two aggregates, both map-side partial; the bit dimension multiplies "
    "rows by 31 pre-aggregation, the standard explode-vote shape",
    tags=("dedup", "simhash"),
)
def simhash_portable_fingerprints(
    spark: SparkSession, sf: str
) -> DataFrame:
    docs = load(spark, sf, "documents")
    toks = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("tok")
        )
        .where(F.col("tok") != "")
        .distinct()
    )
    ph = F.expr(poly_spark("tok"))
    hashed = toks.select("doc_id", ph.alias("h"))
    bits = hashed.select(
        "doc_id",
        "h",
        F.explode(F.sequence(F.lit(0), F.lit(30))).alias("bit"),
    )
    vote = F.when(
        F.expr("(h >> bit) & 1") == 1, F.lit(1)
    ).otherwise(F.lit(-1))
    votes = bits.groupBy("doc_id", "bit").agg(F.sum(vote).alias("v"))
    bitval = F.when(
        F.col("v") > 0, F.expr("shiftleft(cast(1 as bigint), bit)")
    ).otherwise(F.lit(0))
    return votes.groupBy("doc_id").agg(
        F.sum(bitval).cast("long").alias("fp")
    )


@register(
    "dedup_keep_list",
    oracle=CC_ORACLE.replace(
        """    SELECT u AS doc_id, min(v) AS cluster_id
    FROM reach
    GROUP BY u
""",
        """    , cc AS (
      SELECT u AS doc_id, min(v) AS cluster_id FROM reach GROUP BY u
    )
    SELECT d.doc_id,
           coalesce(cc.cluster_id, d.doc_id) AS cluster_id,
           CAST(CASE WHEN cc.doc_id IS NULL
                     OR cc.cluster_id = d.doc_id
                THEN 1 ELSE 0 END AS INT) AS keep
    FROM documents d LEFT JOIN cc ON cc.doc_id = d.doc_id
""",
    ),
    description="the final dedup decision table: every document with its "
    "near-dup cluster id and a keep flag (cluster representative = min "
    "doc_id; singletons keep themselves). pairs -> transitive clusters -> "
    "canonical selection, the complete who-survives output a corpus "
    "pipeline feeds into training-set assembly",
    tags=("dedup", "llm-pipeline"),
)
def dedup_keep_list(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    pairs = ngram_jaccard_pairs(
        docs, n=3, threshold=0.05, max_shingle_df=100
    )
    cc = connected_components(
        pairs.select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        ),
        edges_unique=True,  # oriented doc_a < doc_b pairs from a groupBy
    ).select(
        F.col("id").alias("doc_id"), F.col("label").alias("cluster_id")
    )
    return docs.select("doc_id").join(cc, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("cluster_id"), F.col("doc_id")).alias(
            "cluster_id"
        ),
        F.when(
            F.col("cluster_id").isNull()
            | (F.col("cluster_id") == F.col("doc_id")),
            1,
        )
        .otherwise(0)
        .cast("int")
        .alias("keep"),
    )


#: Bloom geometry: m bits / k probes. At 2^20 bits and k=4 a 20k-shingle
#: eval set sits at ~2% false-positive rate; the bitmap is 128 KB.
_BLOOM_BITS = 1 << 20
_BLOOM_K = 4


def _bloom_probes(col):
    """k bit positions in [0, m) from one 64-bit hash (affine mixes)."""
    h = F.pmod(col, F.lit(P))
    return [
        F.pmod(h * F.lit(a) + F.lit(b), F.lit(_BLOOM_BITS))
        for a, b in AFFINE_COEFFS[:_BLOOM_K]
    ]


def bloom_decontaminate_flags(
    train: DataFrame, eval_set: DataFrame, n: int = 3,
    portable: bool = False,
) -> DataFrame:
    """(doc_id, n_maybe_shared): decontamination prefilter via a
    DataFrame-native Bloom filter over the eval shingle hashes.

    Build: eval shingles → k bit positions → ``bit_or`` aggregate per
    64-bit word → at most m/64 rows reach the driver (bounded by the
    BITMAP size, never by eval size) → one broadcast array<long> row.
    Probe: scan-local bit tests on the training side — NO join at all on
    the 100 TB side; the bitmap rides along as a 128 KB broadcast.

    Guarantees NO false negatives (every truly contaminated doc is
    flagged); false positives at the geometric rate get exactly
    rechecked on the flagged subset only. The two-stage shape: sketch
    prefilter at scan speed → exact verify on survivors."""
    spark = train.sparkSession
    gram_hash = (
        F.expr(poly_spark("shingle")) if portable else F.xxhash64("shingle")
    )
    ev_hashes = shingles(eval_set, n=n).select(gram_hash.alias("sh"))
    probes = _bloom_probes(F.col("sh"))
    words = (
        ev_hashes.select(
            F.explode(F.array(*probes)).alias("bit")
        )
        .select(
            (F.col("bit") / 64).cast("long").alias("w"),
            F.expr("shiftleft(cast(1 as bigint), cast(bit % 64 as int))").alias(
                "mask"
            ),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(mask)").alias("m"))
        .collect()
    )
    bitmap = [0] * (_BLOOM_BITS // 64)
    for r in words:
        bitmap[int(r["w"])] = int(r["m"])
    bf = spark.createDataFrame([(bitmap,)], "bf array<long>")
    tr_sh = shingles(train, n=n).select(
        "doc_id", gram_hash.alias("sh")
    )
    tr_p = tr_sh.select(
        "doc_id",
        *[
            p.alias(f"p{i}")
            for i, p in enumerate(_bloom_probes(F.col("sh")))
        ],
    )
    cond = None
    for i in range(_BLOOM_K):
        c = (
            F.expr(
                f"(element_at(bf, cast(p{i} div 64 as int) + 1)"
                f" >> cast(p{i} % 64 as int)) & 1"
            )
            == 1
        )
        cond = c if cond is None else (cond & c)
    return (
        tr_p.crossJoin(F.broadcast(bf))
        .where(cond)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_maybe_shared"))
    )


@register(
    "decontaminate_bloom_prefilter",
    oracle=None,  # sketch-based (Spark's Bloom implementation); the
    # no-false-negative guarantee and FP bound are asserted in
    # tests/test_dedup_similarity.py against the exact join
    description="Bloom-filter decontamination prefilter: eval shingle "
    "hashes collapse into one ~MB bitset; the training side is filtered "
    "by a scan-local might_contain with NO join. No false negatives; "
    "false positives at the configured rate get exactly rechecked on "
    "the flagged subset only",
    tags=("dedup", "llm-pipeline", "decontamination", "sketch"),
)
def decontaminate_bloom_prefilter(
    spark: SparkSession, sf: str
) -> DataFrame:
    docs = load(spark, sf, "documents")
    bucket = bucket_spark(F.col("doc_id"))
    return bloom_decontaminate_flags(
        docs.where(bucket >= 200), docs.where(bucket < 200)
    )


@register(
    "dedup_ensemble_flags",
    oracle=_jaccard_pairs_sql(0.05)
    + """,
    tdup AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_a AS doc_id FROM pairs
        UNION ALL SELECT doc_b FROM pairs)
    ),
    epairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM embeddings a
      JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                         CAST(b.embedding AS DOUBLE[])),
                  6) >= 0.3
    ),
    edup AS (
      SELECT DISTINCT vec_id FROM (
        SELECT vec_a AS vec_id FROM epairs
        UNION ALL SELECT vec_b FROM epairs)
    )
    SELECT d.doc_id,
           CAST(CASE WHEN tdup.doc_id IS NOT NULL THEN 1 ELSE 0 END AS INT)
             AS text_dup,
           CAST(CASE WHEN edup.vec_id IS NOT NULL THEN 1 ELSE 0 END AS INT)
             AS emb_dup,
           CAST(CASE WHEN tdup.doc_id IS NOT NULL
                      OR edup.vec_id IS NOT NULL
                THEN 1 ELSE 0 END AS INT) AS flagged
    FROM documents d
    LEFT JOIN tdup ON tdup.doc_id = d.doc_id
    LEFT JOIN edup ON edup.vec_id = d.doc_id
    """,
    description="ensemble dedup decision: a document is flagged if EITHER "
    "the lexical signal (trigram Jaccard >= 0.05, capped shingles) OR the "
    "semantic signal (label-blocked embedding cosine >= 0.3, doc_id = "
    "vec_id where an embedding exists) fires — the union-of-signals "
    "pattern real pipelines use because surface dedup misses paraphrases "
    "and embedding dedup misses short verbatim overlap. Partial embedding "
    "coverage is the normal case and arrives as a left join.",
    tags=("dedup", "llm-pipeline", "ensemble"),
)
def dedup_ensemble_flags(spark: SparkSession, sf: str) -> DataFrame:
    from .similarity import embedding_near_dup_pairs

    docs = load(spark, sf, "documents")
    # r10 OPT (guide §1.2): both flagged-id sets were built as a union of
    # two selects over the SAME pair table, executing each (expensive)
    # pair pipeline twice — the Jaccard posting join and the GEMM kernel.
    # One explode over both endpoints keeps a single execution of each.
    tpairs = ngram_jaccard_pairs(docs, n=3, threshold=0.05, max_shingle_df=100)
    tdup = (
        tpairs.select(
            F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
        )
        .distinct()
        .withColumn("t", F.lit(1))
    )
    emb = load(spark, sf, "embeddings").select("vec_id", "label", "embedding")
    epairs = embedding_near_dup_pairs(emb, threshold=0.3)
    edup = (
        epairs.select(
            F.explode(F.array("vec_a", "vec_b")).alias("vec_id")
        )
        .distinct()
        .withColumn("e", F.lit(1))
    )
    # tdup/edup scale with the number of flagged docs (unbounded at
    # corpus scale) — let AQE pick the join strategy rather than forcing
    # a driver broadcast of a potentially corpus-sized id set
    return (
        docs.select("doc_id")
        .join(tdup, "doc_id", "left")
        .join(
            edup,
            F.col("doc_id") == F.col("vec_id"),
            "left",
        )
        .select(
            "doc_id",
            F.coalesce("t", F.lit(0)).cast("int").alias("text_dup"),
            F.coalesce("e", F.lit(0)).cast("int").alias("emb_dup"),
            F.greatest(
                F.coalesce("t", F.lit(0)), F.coalesce("e", F.lit(0))
            )
            .cast("int")
            .alias("flagged"),
        )
    )


@register(
    "decontaminate_bloom_portable",
    oracle=f"""
    WITH bucketed AS (
      SELECT doc_id, text,
             {bucket_duckdb('doc_id')} AS bucket
      FROM documents
    ), evg AS (
      SELECT DISTINCT
             toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS g
      FROM (SELECT string_split(text, ' ') AS toks
            FROM bucketed WHERE bucket < 200) t,
           LATERAL unnest(generate_series(1, len(toks) - 2)) AS u(i)
    ), evh AS (
      SELECT DISTINCT {poly_duckdb('g')} AS ph
      FROM evg
    ), co(ci, a, b) AS (
      VALUES {values_duckdb(AFFINE_COEFFS[:_BLOOM_K])}
    ), evb AS (
      SELECT DISTINCT ((ph % {P}) * a + b) % {_BLOOM_BITS} AS bit
      FROM evh CROSS JOIN co
    ), trg AS (
      SELECT DISTINCT doc_id,
             toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS g
      FROM (SELECT doc_id, string_split(text, ' ') AS toks
            FROM bucketed WHERE bucket >= 200) t,
           LATERAL unnest(generate_series(1, len(toks) - 2)) AS u(i)
    ), trh AS (
      SELECT doc_id, g,
             {poly_duckdb('g')} AS ph
      FROM trg
    ), hits AS (
      SELECT t.doc_id, t.g
      FROM (SELECT doc_id, g,
                   ci, ((ph % {P}) * a + b) % {_BLOOM_BITS} AS bit
            FROM trh CROSS JOIN co) t
      JOIN evb USING (bit)
      GROUP BY t.doc_id, t.g
      HAVING count(DISTINCT ci) = 4
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_maybe_shared
    FROM hits GROUP BY doc_id
    """,
    description="the Bloom decontamination prefilter with an engine-"
    "portable polynomial gram hash: the ENTIRE sketch pipeline — eval "
    "shingle hashes, k affine bit probes, bitmap membership, per-doc "
    "maybe-counts — is value-checked against DuckDB reproducing the "
    "bitset from scratch. Spark still builds a real bit_or bitmap and "
    "probes it scan-locally with NO join on the training side; the "
    "production variant (decontaminate_bloom_prefilter) keeps xxhash64.",
    tags=("dedup", "llm-pipeline", "decontamination", "sketch"),
)
def decontaminate_bloom_portable(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    bucket = bucket_spark(F.col("doc_id"))
    return bloom_decontaminate_flags(
        docs.where(bucket >= 200), docs.where(bucket < 200), portable=True
    )


@register(
    "dedup_cross_source_matrix",
    oracle=f"""
    WITH {_JACCARD_CTES},
    jp AS (
      SELECT doc_a, doc_b,
             CAST(n_inter * 1000000 AS BIGINT)
               // (sa.n_sh + sb.n_sh - n_inter) AS j_ppm
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter)
            >= 0.05
    ),
    src AS (SELECT doc_id, source FROM documents)
    SELECT least(a.source, b.source) AS source_lo,
           greatest(a.source, b.source) AS source_hi,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(j_ppm) AS BIGINT) // count(*) AS mean_jaccard_ppm
    FROM jp
    JOIN src a ON a.doc_id = jp.doc_a
    JOIN src b ON b.doc_id = jp.doc_b
    GROUP BY 1, 2
    """,
    description="cross-source duplication matrix: near-dup pairs "
    "(trigram Jaccard >= 0.05) rolled up by unordered source pair — "
    "the who-copies-from-whom table a corpus report leads with "
    "(diagonal = intra-source template reuse, off-diagonal = mirror/"
    "scrape relationships). Pair Jaccard is quantized to integer ppm "
    "BEFORE averaging so the mean is exact integer arithmetic in both "
    "engines. Scale: inherits the capped shingle self-join (df cap "
    "bounds pair blowup); the rollup adds one pair-keyed source join "
    "and a tiny (n_sources²) aggregate.",
    tags=("dedup", "report"),
)
def dedup_cross_source_matrix(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    jp = (
        _jaccard_pair_counts(docs)
        .where(
            F.col("n_inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("n_inter"))
            >= 0.05
        )
        .select(
            "doc_a",
            "doc_b",
            F.expr(
                "cast(n_inter * 1000000 as bigint)"
                " div (na + nb - n_inter)"
            ).alias("j_ppm"),
        )
    )
    src_a = docs.select(
        F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a")
    )
    src_b = docs.select(
        F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b")
    )
    return (
        jp.join(src_a, "doc_a")
        .join(src_b, "doc_b")
        .groupBy(
            F.least("src_a", "src_b").alias("source_lo"),
            F.greatest("src_a", "src_b").alias("source_hi"),
        )
        .agg(
            F.count("*").alias("n_pairs"),
            F.expr(
                "cast(sum(j_ppm) as bigint) div count(*)"
            ).alias("mean_jaccard_ppm"),
        )
    )


_THRESH_PPMS = (50_000, 100_000, 200_000, 300_000, 500_000, 700_000,
                900_000)
_THRESH_SQL = "[" + ", ".join(str(t) for t in _THRESH_PPMS) + "]"


@register(
    "dedup_threshold_sensitivity",
    oracle=f"""
    WITH {_JACCARD_CTES},
    jp AS (
      SELECT doc_a, doc_b,
             CAST(n_inter * 1000000 AS BIGINT)
               // (sa.n_sh + sb.n_sh - n_inter) AS j_ppm
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
    ),
    th AS (
      SELECT CAST(unnest({_THRESH_SQL}) AS BIGINT) AS threshold_ppm
    ),
    hits AS (
      SELECT th.threshold_ppm, jp.doc_a, jp.doc_b
      FROM th JOIN jp ON jp.j_ppm >= th.threshold_ppm
    ),
    docs_at AS (
      SELECT threshold_ppm, doc_id FROM (
        SELECT threshold_ppm, doc_a AS doc_id FROM hits
        UNION
        SELECT threshold_ppm, doc_b AS doc_id FROM hits
      )
    )
    SELECT th.threshold_ppm,
           CAST(coalesce(p.n_pairs, 0) AS BIGINT) AS n_pairs,
           CAST(coalesce(d.n_docs, 0) AS BIGINT) AS n_docs_involved
    FROM th
    LEFT JOIN (SELECT threshold_ppm, count(*) AS n_pairs
               FROM hits GROUP BY 1) p USING (threshold_ppm)
    LEFT JOIN (SELECT threshold_ppm, count(*) AS n_docs
               FROM docs_at GROUP BY 1) d USING (threshold_ppm)
    """,
    description="dedup threshold sensitivity curve: near-dup pair count "
    "and distinct docs involved at each candidate Jaccard cutoff "
    "(0.05-0.9 as integer ppm) — the dataset-card table that picks the "
    "dedup threshold (where the curve elbows, tightening buys little). "
    "Pair Jaccard quantized to integer ppm so threshold comparisons are "
    "engine-exact; ONE pass computes the pair table (df-capped shingle "
    "self-join, bounded as everywhere in the dedup family). The per-"
    "threshold rollup is histogram-shaped (r8): each pair folds into its "
    "highest-satisfied-threshold bucket (≤8 rows after map-side combine) "
    "and each doc into the bucket of its MAX pair Jaccard, so "
    "n_pairs(t) / n_docs_involved(t) are suffix sums of two tiny "
    "histograms — the old shape replicated the pair table 7× through a "
    "theta-join and ran DISTINCT over (threshold, doc), shuffling "
    "~14×|pairs| rows where this shuffles 2×|pairs| once.",
    tags=("dedup", "report"),
)
@_cache_scoped
def dedup_threshold_sensitivity(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    ths = sorted(_THRESH_PPMS)
    th_arr = F.array(*[F.lit(t).cast("long") for t in ths])
    # bucket = number of thresholds satisfied by this pair's Jaccard
    # (thresholds ascending, so "satisfies threshold i" ⇔ bucket ≥ i)
    bucket = F.size(F.filter(th_arr, lambda t: t <= F.col("j_ppm")))
    jpb = (
        _jaccard_pair_counts(docs)
        .select(
            "doc_a",
            "doc_b",
            F.expr(
                "cast(n_inter * 1000000 as bigint)"
                " div (na + nb - n_inter)"
            ).alias("j_ppm"),
        )
        .select("doc_a", "doc_b", bucket.alias("b"))
    )
    jpb = _scoped_cache(jpb)
    pair_h = jpb.groupBy("b").agg(F.count("*").alias("cnt"))
    # a doc is involved at threshold i iff its best pair satisfies i:
    # per-doc max bucket, then the same ≤8-row histogram shape
    doc_h = (
        jpb.select(
            F.explode(F.array("doc_a", "doc_b")).alias("d"), "b"
        )
        .groupBy("d")
        .agg(F.max("b").alias("b"))
        .groupBy("b")
        .agg(F.count("*").alias("cnt"))
    )
    th = spark.createDataFrame(
        [(t, i + 1) for i, t in enumerate(ths)], "threshold_ppm long, i int"
    )
    pairs_at = (
        th.join(F.broadcast(pair_h), F.col("b") >= F.col("i"), "left")
        .groupBy("threshold_ppm")
        .agg(F.sum("cnt").alias("n_pairs"))
    )
    docs_at = (
        th.join(F.broadcast(doc_h), F.col("b") >= F.col("i"), "left")
        .groupBy("threshold_ppm")
        .agg(F.sum("cnt").alias("n_docs"))
    )
    return (
        th.select("threshold_ppm")
        .join(F.broadcast(pairs_at), "threshold_ppm", "left")
        .join(F.broadcast(docs_at), "threshold_ppm", "left")
        .select(
            "threshold_ppm",
            F.coalesce(F.col("n_pairs"), F.lit(0))
            .cast("long")
            .alias("n_pairs"),
            F.coalesce(F.col("n_docs"), F.lit(0))
            .cast("long")
            .alias("n_docs_involved"),
        )
    )


@register(
    "doc_prefix_dup_report",
    oracle="""
    WITH pre AS (
      SELECT doc_id, text,
             array_to_string(
               list_slice(string_split(text, ' '), 1, 6), ' ') AS prefix
      FROM documents
    )
    SELECT prefix,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS keep_id,
           CAST(count(DISTINCT text) AS BIGINT) AS n_distinct_texts
    FROM pre
    GROUP BY prefix
    HAVING count(*) > 1
    """,
    description="prefix-duplicate detection: documents grouped by their "
    "first 6 tokens — the cheap screen for boilerplate heads "
    "(templated intros, scraped nav text, licence preambles) that "
    "near-dup pipelines then score in full. n_distinct_texts "
    "separates exact clones (=1) from prefix-only families (>1), "
    "which is the triage column: exact clones go straight to the "
    "keep-list, prefix families go to the Jaccard verifier. Scale: "
    "one map-side-combined groupBy on a short prefix key — the "
    "distinct-text count shuffles (prefix, text-hash), never text "
    "itself in the Spark plan (md5 per row before the shuffle)",
    tags=("dedup", "report"),
)
def doc_prefix_dup_report(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    pre = docs.select(
        "doc_id",
        F.concat_ws(
            " ", F.slice(F.split(F.col("text"), " "), 1, 6)
        ).alias("prefix"),
        # distinct-count a 128-bit fingerprint, not the document body:
        # the shuffle carries (prefix, hash), never text
        F.md5("text").alias("th"),
    )
    return (
        pre.groupBy("prefix")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("keep_id"),
            F.countDistinct("th").cast("bigint").alias(
                "n_distinct_texts"
            ),
        )
        .where(F.col("n_docs") > 1)
    )
