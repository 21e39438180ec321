"""Text analysis over the documents table: token counting, quality scoring,
language-ID heuristic, token histogram, rolling-hash fingerprint.

All hot-path logic is JVM column expressions (split/transform/aggregate) —
Python never touches row data, so throughput scales with executor cores.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries import load, register
from ._cache import cache_scoped as _cache_scoped
from ._cache import scoped_cache as _scoped_cache
from ._hash import (
    AFFINE_COEFFS,
    poly_duckdb,
    poly_spark,
    values_duckdb,
    weight_sql,
)

STOPWORDS = ("the", "a", "of", "and", "to", "in")
_STOP_SQL = "('" + "', '".join(STOPWORDS) + "')"


@register(
    "text_token_stats",
    oracle="""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           len(list_distinct(string_split(text, ' '))) AS n_distinct,
           n_chars
    FROM documents
    """,
    description="whitespace token counts + distinct-token counts per doc",
    tags=("text",),
)
def text_token_stats(spark: SparkSession, sf: str) -> DataFrame:
    toks = F.split("text", " ")
    return load(spark, sf, "documents").select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        "n_chars",
    )


@register(
    "text_quality",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, n_chars,
             string_split(text, ' ') AS toks
      FROM documents
    ), s AS (
      SELECT doc_id, n_chars,
             len(toks) AS n_tokens,
             len(list_filter(toks, x -> x IN {_STOP_SQL})) AS n_stop
      FROM t
    )
    SELECT doc_id, n_tokens,
           CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio,
           CAST(n_chars AS DOUBLE) / n_tokens AS avg_token_len,
           CASE WHEN n_tokens >= 50
                 AND CAST(n_stop AS DOUBLE) / n_tokens BETWEEN 0.01 AND 0.5
                THEN 'high' ELSE 'low' END AS quality_band
    FROM s
    """,
    description="quality scoring: length, stopword ratio, avg token length "
    "→ quality band (the Gopher-rules shape, deterministic arithmetic)",
    tags=("text", "quality"),
)
def text_quality(spark: SparkSession, sf: str) -> DataFrame:
    toks = F.split("text", " ")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    base = load(spark, sf, "documents").select(
        "doc_id",
        "n_chars",
        F.size(toks).alias("n_tokens"),
        F.size(
            F.filter(toks, lambda x: F.array_contains(stop_arr, x))
        ).alias("n_stop"),
    )
    stop_ratio = F.col("n_stop").cast("double") / F.col("n_tokens")
    return base.select(
        "doc_id",
        "n_tokens",
        stop_ratio.alias("stop_ratio"),
        (F.col("n_chars").cast("double") / F.col("n_tokens")).alias(
            "avg_token_len"
        ),
        F.when(
            (F.col("n_tokens") >= 50)
            & stop_ratio.between(0.01, 0.5),
            F.lit("high"),
        )
        .otherwise(F.lit("low"))
        .alias("quality_band"),
    )


@register(
    "lang_id_heuristic",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             CASE WHEN len(list_filter(string_split(text, ' '),
                                       x -> x IN {_STOP_SQL}))
                       * 10 >= len(string_split(text, ' '))
                  THEN 'en' ELSE 'other' END AS predicted
      FROM documents
    )
    SELECT lang, predicted, count(*) AS n
    FROM scored GROUP BY lang, predicted
    """,
    description="language-ID heuristic (stopword-hit-rate n-gram proxy), "
    "confusion counts vs the labeled lang column",
    tags=("text", "langid"),
)
def lang_id_heuristic(spark: SparkSession, sf: str) -> DataFrame:
    toks = F.split("text", " ")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x)))
    predicted = F.when(
        n_stop * 10 >= F.size(toks), F.lit("en")
    ).otherwise(F.lit("other"))
    return (
        load(spark, sf, "documents")
        .select("doc_id", "lang", predicted.alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count("*").alias("n"))
    )


@register(
    "hapax_ratio_report",
    oracle="""
    WITH tok AS (
      SELECT source, unnest(string_split(text, ' ')) AS t FROM documents
    ),
    clean AS (SELECT source, t FROM tok WHERE t <> ''),
    per_type AS (
      SELECT source, t, count(*) AS c FROM clean GROUP BY source, t
    )
    SELECT source,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           CAST((count(*) * 1000000) // sum(c) AS BIGINT) AS ttr_ppm,
           CAST((sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1000000)
                // count(*) AS BIGINT) AS hapax_ppm
    FROM per_type
    GROUP BY source
    """,
    description="vocabulary-health report per source: token count, type "
    "count, hapax legomena (types occurring once), type-token ratio and "
    "hapax share in integer ppm — the Heaps'-law diagnostics that tell "
    "a tokenizer-training pipeline whether a source is vocabulary-"
    "saturated (low TTR, low hapax: heavy duplication/templates) or "
    "still contributing novel forms. All-integer arithmetic (truncating "
    "div mirrors DuckDB //). Scale: one explode scan, one map-side-"
    "combined groupBy(source, token), then a per-source rollup of "
    "(type, count) rows — never the raw token stream twice.",
    tags=("text", "llm-pipeline", "report", "textstats"),
)
def hapax_ratio_report(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    per_type = (
        docs.select(
            "source", F.explode(F.split("text", " ")).alias("t")
        )
        .where(F.col("t") != "")
        .groupBy("source", "t")
        .agg(F.count("*").alias("c"))
    )
    hapax = F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long")
    return per_type.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").cast("long").alias("n_types"),
        hapax.alias("n_hapax"),
    ).select(
        "source",
        "n_tokens",
        "n_types",
        "n_hapax",
        F.expr("CAST((n_types * 1000000) div n_tokens AS BIGINT)").alias(
            "ttr_ppm"
        ),
        F.expr("CAST((n_hapax * 1000000) div n_types AS BIGINT)").alias(
            "hapax_ppm"
        ),
    )


@register(
    "token_histogram",
    oracle="""
    SELECT tok, count(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
    GROUP BY tok
    ORDER BY n DESC, tok ASC
    LIMIT 20
    """,
    description="corpus token histogram (explode + agg), top-20",
    tags=("text", "agg"),
)
def token_histogram(spark: SparkSession, sf: str) -> DataFrame:
    return (
        load(spark, sf, "documents")
        .select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok").asc())
        .limit(20)
    )


@register(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id,
           list_reduce(
             list_prepend(
               CAST(7 AS BIGINT),
               list_transform(string_split(text, ' '),
                              w -> CAST(ascii(w) * 131 + length(w) AS BIGINT))),
             (acc, v) -> (acc * 31 + v) % 1000000007) AS fingerprint
    FROM documents
    """,
    description="rolling polynomial hash fingerprint over tokens (mod 1e9+7 "
    "at each step — portable exact integer arithmetic)",
    tags=("text", "fingerprint"),
)
def doc_fingerprint(spark: SparkSession, sf: str) -> DataFrame:
    toks = F.split("text", " ")
    tok_vals = F.transform(
        toks,
        lambda w: (F.ascii(w) * 131 + F.length(w)).cast("long"),
    )
    fp = F.aggregate(
        tok_vals,
        F.lit(7).cast("long"),
        lambda acc, v: (acc * 31 + v) % 1000000007,
    )
    return load(spark, sf, "documents").select(
        "doc_id", fp.alias("fingerprint")
    )


# GPT-2-style pre-tokenizer approximation: contractions | space-prefixed
# word | space-prefixed number | space-prefixed punctuation run | whitespace.
# Kept to syntax Java regex and RE2 (DuckDB) share — no lookarounds.
_BPE_PATTERN = (
    r"'(?:s|t|re|ve|m|ll|d)"
    r"| ?[A-Za-z]+"
    r"| ?[0-9]+"
    r"| ?[^\sA-Za-z0-9]+"
)


@register(
    "text_bpe_token_count",
    oracle=f"""
    SELECT doc_id,
           len(regexp_extract_all(text, '{_BPE_PATTERN.replace("'", "''")}'))
             AS n_bpe_tokens,
           n_chars
    FROM documents
    """,
    description="BPE-ish token counting: GPT-2 pre-tokenizer regex "
    "(contractions/words/numbers/punct) — the LLM-corpus sizing metric; "
    "one regexp_count, whole-stage codegen",
    tags=("text", "tokens"),
)
def text_bpe_token_count(spark: SparkSession, sf: str) -> DataFrame:
    return load(spark, sf, "documents").select(
        "doc_id",
        F.regexp_count("text", F.lit(_BPE_PATTERN)).alias("n_bpe_tokens"),
        "n_chars",
    )


@register(
    "tfidf_top_terms",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), tf AS (
      SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok
    ), n AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents
    ), scored AS (
      SELECT doc_id, tok,
             round(tf * (ln((n_docs + 1)
                            / (count(*) OVER (PARTITION BY tok) + 1)) + 1),
                   6) AS score
      FROM tf, n
    )
    SELECT doc_id, tok AS term, CAST(rk AS INT) AS rk, score AS tfidf
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY score DESC, tok ASC) AS rk
          FROM scored)
    WHERE rk <= 3
    """,
    description="TF-IDF top-3 terms per document (smoothed idf "
    "ln((N+1)/(df+1))+1). Document frequency via a window over the "
    "already-aggregated (doc,term) counts — one shuffle by term, one by "
    "doc for the rank; the raw token stream is aggregated map-side first. "
    "Ranking compares the ROUNDED score so cross-engine float ulps cannot "
    "flip an order; ties break on term",
    tags=("llm-pipeline", "textstats"),
)
def tfidf_top_terms(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load(spark, sf, "documents")
    n_df = docs.agg(F.count("*").alias("n_docs"))
    tf = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("tok")
        )
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    scored = (
        tf.withColumn(
            "df", F.count("*").over(Window.partitionBy("tok"))
        )
        .crossJoin(F.broadcast(n_df))
        .withColumn(
            "score",
            F.round(
                F.col("tf")
                * (
                    F.log(
                        (F.col("n_docs") + F.lit(1)).cast("double")
                        / (F.col("df") + F.lit(1)).cast("double")
                    )
                    + F.lit(1.0)
                ),
                6,
            ),
        )
    )
    rk = F.row_number().over(
        Window.partitionBy("doc_id").orderBy(
            F.col("score").desc(), F.col("tok").asc()
        )
    )
    return (
        scored.withColumn("rk", rk)
        .where(F.col("rk") <= 3)
        .select(
            "doc_id",
            F.col("tok").alias("term"),
            "rk",
            F.col("score").alias("tfidf"),
        )
    )


@register(
    "ngram_novelty_curve",
    oracle=f"""
    WITH sh0 AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(generate_series(1, len(toks) - 2),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
               AS shingle
      FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) t
    ), ph AS (
      SELECT doc_id,
             {poly_duckdb('shingle')} AS ph
      FROM sh0
    ), nd AS (SELECT count(*) AS n_docs FROM documents),
    first_seen AS (
      SELECT ph.ph, min(doc_id) AS first_doc FROM ph GROUP BY ph.ph
    ), bucketed AS (
      SELECT least(CAST(first_doc * 10 // n_docs AS INT), 9) AS decile,
             count(*) AS n_first_seen
      FROM first_seen CROSS JOIN nd
      GROUP BY least(CAST(first_doc * 10 // n_docs AS INT), 9)
    ), tot AS (SELECT sum(n_first_seen) AS total FROM bucketed)
    SELECT CAST(decile AS INT) AS decile,
           CAST(n_first_seen AS BIGINT) AS n_first_seen,
           CAST(sum(n_first_seen) OVER (
                  ORDER BY decile
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                ) AS BIGINT) AS cum_distinct,
           CAST(n_first_seen * 1000000 // total AS BIGINT) AS share_ppm
    FROM bucketed CROSS JOIN tot
    """,
    description="vocabulary-growth (Heaps' law) diagnostic: distinct "
    "trigram shingles FIRST seen in each doc_id decile of the corpus, "
    "cumulative distinct count, and each decile's share — the curve "
    "that says whether the n-gram space is still growing (healthy "
    "natural corpus) or saturating (tiny/templated vocabulary, the "
    "regime where shared-shingle pair joins go superlinear — exactly "
    "what the r6 10x scaling battery measured on the synthetic "
    "corpus). Shingles are keyed by the portable polynomial hash; "
    "first-seen is one min-aggregate; all shares are integer floor "
    "divisions. Scale: one shingle pass, one groupBy(hash), a 10-row "
    "window",
    tags=("llm-pipeline", "textstats", "report"),
)
def ngram_novelty_curve(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    from .dedup import shingles

    docs = load(spark, sf, "documents")
    n_docs = docs.agg(F.count("*").alias("n_docs"))
    sh = shingles(docs, n=3).select(
        "doc_id", F.expr(poly_spark("shingle")).alias("ph")
    )
    first_seen = sh.groupBy("ph").agg(F.min("doc_id").alias("first_doc"))
    bucketed = (
        first_seen.crossJoin(F.broadcast(n_docs))
        .select(
            F.least(
                F.expr("cast(first_doc * 10 div n_docs as int)"), F.lit(9)
            ).alias("decile")
        )
        .groupBy("decile")
        .agg(F.count("*").alias("n_first_seen"))
    )
    tot = bucketed.agg(F.sum("n_first_seen").alias("total"))
    cum = F.sum("n_first_seen").over(
        Window.orderBy("decile").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
    )
    return (
        bucketed.crossJoin(F.broadcast(tot))
        .select(
            F.col("decile").cast("int").alias("decile"),
            F.col("n_first_seen").cast("bigint").alias("n_first_seen"),
            cum.cast("bigint").alias("cum_distinct"),
            F.expr(
                "cast(n_first_seen * 1000000 div total as bigint)"
            ).alias("share_ppm"),
        )
    )


@register(
    "bm25_retrieval_topk",
    oracle="""
    WITH qt(term) AS (VALUES ('spark'), ('window'), ('customer')),
    dl AS (
      SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
    ), stats AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_docs,
             CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl
      FROM dl
    ), tf AS (
      SELECT doc_id, tok, count(*) AS tf FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        FROM documents
      ) JOIN qt ON tok = qt.term
      GROUP BY doc_id, tok
    ), df AS (
      SELECT tok, count(*) AS df FROM tf GROUP BY tok
    ), term_scores AS (
      SELECT tf.doc_id,
             CAST(floor(
               ln(1 + (n_docs - df + 0.5) / (CAST(df AS DOUBLE) + 0.5))
               * tf * 2.2
               / (tf + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE) / avgdl))
               * 1000000) AS BIGINT) AS s_micro
      FROM tf
      JOIN df ON df.tok = tf.tok
      JOIN dl ON dl.doc_id = tf.doc_id
      CROSS JOIN stats
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_terms_hit,
           CAST(sum(s_micro) AS BIGINT) AS score_micro
    FROM term_scores
    GROUP BY doc_id
    ORDER BY score_micro DESC, doc_id ASC
    LIMIT 20
    """,
    description="BM25 top-20 retrieval (k1=1.2, b=0.75, "
    "idf=ln(1+(N-df+0.5)/(df+0.5))) for a fixed 3-term query — the "
    "standard sparse-retrieval primitive a training pipeline uses for "
    "decontamination candidate search and RAG-corpus curation. "
    "Per-(doc,term) scores are floor-scaled to integer micro-units "
    "BEFORE the per-doc sum, so aggregation is exact integer addition "
    "(order-free) and rounding midpoints cannot diverge between "
    "engines; the final ranking is integer with a doc_id tiebreak. "
    "Scale: tf aggregates map-side after a broadcast semi-join on the "
    "query terms (the scan prunes to matching tokens); df and corpus "
    "stats are tiny broadcasts; top-20 is TakeOrdered, no global sort.",
    tags=("llm-pipeline", "textstats", "topk"),
)
def bm25_retrieval_topk(spark: SparkSession, sf: str) -> DataFrame:
    terms = ["spark", "window", "customer"]
    docs = load(spark, sf, "documents")
    dl = docs.select(
        "doc_id", F.size(F.split("text", " ")).alias("dl")
    )
    stats = dl.agg(
        F.count("*").cast("double").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    tf = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("tok")
        )
        .where(F.col("tok").isin(terms))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("tok").agg(F.count("*").alias("df"))
    s_micro = F.floor(
        F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df") + F.lit(0.5))
            / (F.col("df").cast("double") + F.lit(0.5))
        )
        * F.col("tf")
        * F.lit(2.2)
        / (
            F.col("tf")
            + F.lit(1.2)
            * (
                F.lit(0.25)
                + F.lit(0.75) * F.col("dl").cast("double") / F.col("avgdl")
            )
        )
        * F.lit(1_000_000)
    ).cast("bigint")
    return (
        tf.join(F.broadcast(df), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", s_micro.alias("s_micro"))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_terms_hit"),
            F.sum("s_micro").cast("bigint").alias("score_micro"),
        )
        .orderBy(F.col("score_micro").desc(), F.col("doc_id").asc())
        .limit(20)
    )


_CLF_BUCKETS = 64


@register(
    "quality_linear_classifier",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, tok FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      ) WHERE tok <> ''
    ), hb AS (
      SELECT doc_id,
             {poly_duckdb('tok')} % {_CLF_BUCKETS} AS b
      FROM toks
    ), wi AS (
      SELECT doc_id, {weight_sql('b')} AS w FROM hb
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           round(1 / (1 + exp(-(CAST(sum(w) AS DOUBLE)
                                / (1000.0 * count(*))))), 6)
             AS quality_score,
           CAST(sum(w) > 0 AS INT) AS keep
    FROM wi GROUP BY doc_id
    """,
    description="fastText-shaped linear quality classifier served as pure "
    "columnar ops: hashing-trick token features (64 buckets, polynomial "
    "hash), fixed integer milli-weights, mean-pooled logit -> sigmoid. "
    "Weights stay INTEGER until the final sigmoid so the keep/drop "
    "decision is exact on every engine (no float-sum order sensitivity) — "
    "the pattern for serving any linear/logistic filter over 100 TB with "
    "zero Python and zero shuffle beyond the per-doc aggregate",
    tags=("llm-pipeline", "textstats", "quality"),
)
def quality_linear_classifier(spark: SparkSession, sf: str) -> DataFrame:
    # r10 OPT (guide §2.4): per-doc (n, sw) as a zero-shuffle array
    # aggregate — the old explode + groupBy(doc_id) paid a full corpus
    # exchange for sums that are per-row functions of the token array.
    # Integer sum ⇒ bit-identical to the grouped form.
    from .textstats_bridge import doc_token_weight_sums

    per_doc = doc_token_weight_sums(load(spark, sf, "documents"))
    logit = F.col("sw").cast("double") / (F.lit(1000.0) * F.col("n"))
    return per_doc.select(
        "doc_id",
        F.col("n").alias("n_tokens"),
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6).alias(
            "quality_score"
        ),
        (F.col("sw") > 0).cast("int").alias("keep"),
    )


_CMS_W = 8192


@register(
    "cms_token_counts",
    oracle=f"""
    WITH counts AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
      ) WHERE tok <> '' GROUP BY tok
    ), hashed AS (
      SELECT tok, cnt,
             {poly_duckdb('tok')} AS h
      FROM counts
    ), coeffs(i, a, b) AS (VALUES
      {values_duckdb(AFFINE_COEFFS)}
    ), counters AS (
      SELECT i, (a * h + b) % {_CMS_W} AS bucket, sum(cnt) AS v
      FROM hashed CROSS JOIN coeffs GROUP BY i, (a * h + b) % {_CMS_W}
    ), top AS (
      SELECT tok, cnt, h FROM (
        SELECT tok, cnt, h,
               row_number() OVER (ORDER BY cnt DESC, tok ASC) AS rk
        FROM hashed) WHERE rk <= 50
    )
    SELECT t.tok AS token, t.cnt AS exact_cnt,
           CAST(min(c.v) AS BIGINT) AS cms_est
    FROM top t
    JOIN coeffs k ON TRUE
    JOIN counters c ON c.i = k.i
                   AND c.bucket = (k.a * t.h + k.b) % {_CMS_W}
    GROUP BY t.tok, t.cnt
    """,
    description="Count-Min Sketch over corpus tokens (d=4 x w=8192 "
    "integer counters, engine-portable hashes) probed for the top-50 "
    "tokens next to their exact counts — the sketch AND its one-sided "
    "error are value-checked cross-engine. The counter table is bounded "
    "by d*w regardless of corpus size; building it is one aggregate over "
    "the (token, count) table, not the raw stream",
    tags=("llm-pipeline", "sketch", "textstats"),
)
@_cache_scoped
def cms_token_counts(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load(spark, sf, "documents")
    counts = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
    )
    hashed = _scoped_cache(
        counts.select("tok", "cnt", F.expr(poly_spark("tok")).alias("h"))
    )
    probe_rows = []
    for i, (a, b) in enumerate(AFFINE_COEFFS):
        probe_rows.append(
            hashed.select(
                F.lit(i).alias("i"),
                ((F.lit(a) * F.col("h") + F.lit(b)) % _CMS_W).alias(
                    "bucket"
                ),
                "cnt",
            )
        )
    all_probes = probe_rows[0]
    for p in probe_rows[1:]:
        all_probes = all_probes.unionByName(p)
    counters = all_probes.groupBy("i", "bucket").agg(
        F.sum("cnt").alias("v")
    )
    # top-50 via orderBy+limit → TakeOrdered (distributed tree-reduced
    # top-K); a row_number window would funnel the whole distinct-token
    # set through ONE partition.
    top = (
        hashed.orderBy(F.col("cnt").desc(), F.col("tok").asc())
        .limit(50)
        .select("tok", "cnt", "h")
    )
    top_probes = None
    for i, (a, b) in enumerate(AFFINE_COEFFS):
        t = top.select(
            "tok",
            "cnt",
            F.lit(i).alias("i"),
            ((F.lit(a) * F.col("h") + F.lit(b)) % _CMS_W).alias("bucket"),
        )
        top_probes = t if top_probes is None else top_probes.unionByName(t)
    return (
        top_probes.join(F.broadcast(counters), ["i", "bucket"])
        .groupBy(
            F.col("tok").alias("token"),
            F.col("cnt").alias("exact_cnt"),
        )
        .agg(F.min("v").cast("long").alias("cms_est"))
    )


_HLL_P = 12
_HLL_M = 1 << _HLL_P  # 4096 registers


@register(
    "hll_distinct_tokens",
    oracle=f"""
    WITH toks AS (
      SELECT DISTINCT tok FROM (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents
      ) WHERE tok <> ''
    ), hashed AS (
      SELECT {poly_duckdb('tok')} AS h
      FROM toks
    ), parts AS (
      SELECT h % {_HLL_M} AS idx, h // {_HLL_M} AS w FROM hashed
    ), regs AS (
      SELECT idx,
             max(CASE WHEN w = 0 THEN 20
                 ELSE 20 - len(bin(w)) END) AS m
      FROM parts GROUP BY idx
    ), agg AS (
      SELECT count(*) AS used,
             sum(power(2.0, -m)) AS s,
             (SELECT count(*) FROM toks) AS exact_distinct
      FROM regs
    )
    SELECT CAST(exact_distinct AS BIGINT) AS exact_distinct,
           CAST(used AS BIGINT) AS registers_used,
           round(CASE
             WHEN (0.7213 / (1 + 1.079 / {_HLL_M}))
                  * {_HLL_M} * {_HLL_M} / (s + ({_HLL_M} - used))
                  <= 2.5 * {_HLL_M}
                  AND used < {_HLL_M}
             THEN {_HLL_M} * ln({_HLL_M} / CAST({_HLL_M} - used AS DOUBLE))
             ELSE (0.7213 / (1 + 1.079 / {_HLL_M}))
                  * {_HLL_M} * {_HLL_M} / (s + ({_HLL_M} - used))
           END, 4) AS hll_estimate
    FROM agg
    """,
    description="HyperLogLog distinct-token estimate (p=12, 4096 "
    "registers) built portably — register indices and max-rank values "
    "are pure integer math (bin-length leading zeros), the harmonic sum "
    "uses exact powers of two — so the full sketch state AND the "
    "estimate (with small-range linear counting correction) value-match "
    "cross-engine, printed beside the exact distinct count. Register "
    "table is 4096 rows regardless of corpus size",
    tags=("llm-pipeline", "sketch", "textstats"),
)
def hll_distinct_tokens(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    toks = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .where(F.col("tok") != "")
        .distinct()
    )
    hashed = toks.select(F.expr(poly_spark("tok")).alias("h"))
    parts = hashed.select(
        (F.col("h") % _HLL_M).alias("idx"),
        F.expr(f"h div {_HLL_M}").alias("w"),
    )
    rank = F.when(F.col("w") == 0, F.lit(20)).otherwise(
        F.lit(20) - F.length(F.bin("w"))
    )
    regs = parts.select("idx", rank.alias("m")).groupBy("idx").agg(
        F.max("m").alias("m")
    )
    n_exact = toks.agg(F.count("*").alias("exact_distinct"))
    agg = regs.agg(
        F.count("*").alias("used"),
        F.sum(F.pow(F.lit(2.0), -F.col("m"))).alias("s"),
    ).crossJoin(F.broadcast(n_exact))
    m = float(_HLL_M)
    alpha = 0.7213 / (1 + 1.079 / m)
    raw = F.lit(alpha * m * m) / (
        F.col("s") + (F.lit(m) - F.col("used"))
    )
    corrected = F.when(
        (raw <= 2.5 * m) & (F.col("used") < _HLL_M),
        F.lit(m)
        * F.log(F.lit(m) / (F.lit(m) - F.col("used")).cast("double")),
    ).otherwise(raw)
    return agg.select(
        F.col("exact_distinct").cast("long").alias("exact_distinct"),
        F.col("used").cast("long").alias("registers_used"),
        F.round(corrected, 4).alias("hll_estimate"),
    )


# ---------------------------------------------------------------------------
# PII scrubbing over document text (corpus-prep redaction pass)
# ---------------------------------------------------------------------------

# Patterns restricted to the Java-regex ∩ RE2 dialect so Spark and DuckDB
# compile them identically (no lookarounds, no backrefs).
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_PHONE = r"\b\d{3}-\d{4}\b"


def scrub_pii(text_col):
    """Redact emails, IPv4 addresses and phone-shaped numbers (in that
    order — the IP pattern would otherwise eat the host part of an
    already-redacted email placeholder's neighbors). Pure codegen
    regexp_replace chain: one pass per pattern, no Python per row."""
    c = F.regexp_replace(text_col, _PII_EMAIL, "<EMAIL>")
    c = F.regexp_replace(c, _PII_IPV4, "<IP>")
    return F.regexp_replace(c, _PII_PHONE, "<PHONE>")


@register(
    "doc_pii_scrub",
    oracle=r"""
    WITH aug AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com ip 10.0.'
                  || CAST(doc_id % 256 AS VARCHAR) || '.7 tel 555-0142'
               AS text
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(text,
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT)
             AS n_ips,
           CAST(len(regexp_extract_all(text,
             '\b\d{3}-\d{4}\b')) AS BIGINT) AS n_phones,
           regexp_replace(regexp_replace(regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>',
             'g'),
             '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
             '\b\d{3}-\d{4}\b', '<PHONE>', 'g') AS scrubbed
    FROM aug
    """,
    description="PII redaction over document text: count + scrub emails, "
    "IPv4s, phone-shaped numbers with a codegen regexp_replace chain. The "
    "testdata corpus contains no PII, so deterministic PII is appended "
    "in-query (keyed on doc_id) to prove the detect/redact path end to "
    "end; production use is scrub_pii(col) on the raw text. Zero shuffle, "
    "one scan.",
    tags=("text", "quality", "llm-pipeline"),
)
def doc_pii_scrub(spark: SparkSession, sf: str) -> DataFrame:
    aug = load(spark, sf, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com ip 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 tel 555-0142"),
        ).alias("text"),
    )
    return aug.select(
        "doc_id",
        F.regexp_count("text", F.lit(_PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count("text", F.lit(_PII_IPV4)).cast("long").alias("n_ips"),
        F.regexp_count("text", F.lit(_PII_PHONE)).cast("long").alias("n_phones"),
        scrub_pii(F.col("text")).alias("scrubbed"),
    )


@register(
    "char_entropy_score",
    oracle="""
    WITH chars AS (
      SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents
    ), cnt AS (
      SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY doc_id, ch
    ), tot AS (
      SELECT doc_id, ch, c,
             sum(c) OVER (PARTITION BY doc_id) AS n
      FROM cnt
    )
    SELECT doc_id,
           round(-sum((c / CAST(n AS DOUBLE))
                      * ln(c / CAST(n AS DOUBLE))), 6) AS char_entropy,
           CAST(-sum((c / CAST(n AS DOUBLE))
                     * ln(c / CAST(n AS DOUBLE))) < 2.0 AS INT)
             AS low_entropy
    FROM tot GROUP BY doc_id
    """,
    description="character-entropy quality signal (the Gopher/Dolma-style "
    "gibberish screen): Shannon entropy of each document's character "
    "distribution; near-zero entropy = repeated-character spam, "
    "anomalously high = binary junk pasted as text. One explode + two "
    "aggregations sharing the doc_id shuffle key; per-doc state is the "
    "bounded character alphabet, never document length.",
    tags=("text", "quality", "llm-pipeline"),
)
def char_entropy_score(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    chars = (
        load(spark, sf, "documents")
        .select("doc_id", F.explode(F.split("text", "")).alias("ch"))
        .where(F.col("ch") != "")
    )
    cnt = chars.groupBy("doc_id", "ch").agg(F.count(F.lit(1)).alias("c"))
    n = F.sum("c").over(Window.partitionBy("doc_id"))
    p = F.col("c") / n.cast("double")
    return (
        cnt.withColumn("p_lnp", p * F.log(p))
        .groupBy("doc_id")
        .agg(
            F.round(-F.sum("p_lnp"), 6).alias("char_entropy"),
            (-F.sum("p_lnp") < 2.0).cast("int").alias("low_entropy"),
        )
    )


# ---------------------------------------------------------------------------
# Compression-ratio quality signal (Gopher-style): zlib size vs raw size.
# Catches long-range repetition that per-token stats miss — a document
# repeating a 50-token paragraph has normal unigram entropy but compresses
# dramatically better than prose.
# ---------------------------------------------------------------------------


def compression_ratios(docs: DataFrame, level: int = 6) -> DataFrame:
    """(doc_id, n_bytes, comp_bytes, ratio) via an Arrow-batched kernel.

    zlib is CPU-bound Python-side work, so this is a genuine mapInPandas
    kernel (not a stub): deterministic for a fixed zlib version/level,
    scales with cores, ~MB/s-per-core throughput. spread() first — the
    single-file scan would otherwise compress the whole corpus in one
    task."""
    from ..queries import spread

    def run(batches):
        import zlib

        import pandas as pd

        for pdf in batches:
            raw = [(t or "").encode("utf-8") for t in pdf["text"]]
            comp = [len(zlib.compress(b, level)) for b in raw]
            n = [len(b) for b in raw]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": n,
                    "comp_bytes": comp,
                    "ratio": [
                        round(c / b, 6) if b else 1.0
                        for c, b in zip(comp, n)
                    ],
                }
            )

    return spread(docs.select("doc_id", "text")).mapInPandas(
        run,
        "doc_id long, n_bytes long, comp_bytes long, ratio double",
    )


@register(
    "compression_ratio_score",
    oracle=None,  # zlib output is not SQL-expressible; determinism and
    # the repetition-separation property are asserted in tests
    description="compression-ratio quality signal (the Gopher screen): "
    "zlib-compressed size / raw size per document. Long-range repetition "
    "(boilerplate, looped spans) compresses far below prose even when "
    "token-level stats look normal — the cheap complement to "
    "char_entropy_score and repetition_signals. Real Arrow kernel, "
    "deterministic per zlib level, embarrassingly parallel.",
    tags=("text", "quality", "llm-pipeline", "pandas_udf"),
)
def compression_ratio_score(spark: SparkSession, sf: str) -> DataFrame:
    return compression_ratios(load(spark, sf, "documents"))


# Gopher quality-filter rule battery (Rae et al. 2021, "Scaling Language
# Models: ... Gopher", Appendix A1.1 — public). The two line-shape rules
# (>90% bullet-started lines, >30% ellipsis-ended lines) are inapplicable
# to this corpus shape (single-line whitespace token streams) and are
# documented out rather than emitted as constant-false columns.
_GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")
_GSTOP_SQL = "('" + "', '".join(_GOPHER_STOPS) + "')"


@register(
    "gopher_quality_flags",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ), s AS (
      SELECT doc_id,
             len(toks) AS n_words,
             CAST(coalesce(list_sum(list_transform(toks, x -> len(x))),
                           0) AS BIGINT) AS sum_word_chars,
             len(list_filter(toks,
                 x -> regexp_matches(x, '[a-zA-Z]'))) AS n_alpha_words,
             len(list_filter(toks,
                 x -> contains(x, '#') OR contains(x, '...')))
               AS n_symbol_words,
             len(list_filter(toks, x -> x IN {_GSTOP_SQL}))
               AS n_required_stops
      FROM t
    )
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           (n_words < 50 OR n_words > 100000) AS flag_word_count,
           (sum_word_chars < 3 * n_words
            OR sum_word_chars > 10 * n_words) AS flag_mean_word_len,
           (10 * n_symbol_words > n_words) AS flag_symbol_ratio,
           (5 * n_alpha_words < 4 * n_words) AS flag_alpha_fraction,
           (n_required_stops < 2) AS flag_stopwords,
           CASE WHEN (n_words < 50 OR n_words > 100000)
                  OR (sum_word_chars < 3 * n_words
                      OR sum_word_chars > 10 * n_words)
                  OR (10 * n_symbol_words > n_words)
                  OR (5 * n_alpha_words < 4 * n_words)
                  OR (n_required_stops < 2)
                THEN 'drop' ELSE 'keep' END AS verdict
    FROM s
    """,
    description="full Gopher rule battery (Rae et al. 2021 A1.1) as "
    "per-doc flags: word count in [50,100k], mean word length in [3,10], "
    "symbol-to-word ratio <=0.1 ('#'/'...'), >=80% alphabetic words, "
    ">=2 required stopwords; verdict = keep iff no flag fires. Every "
    "ratio test is an integer cross-multiplication (5*n_alpha < "
    "4*n_words, not a float divide) so the flags are engine-exact. One "
    "scan, zero shuffle: all five signals come from higher-order array "
    "functions on the token array inside whole-stage codegen.",
    tags=("text", "quality", "llm-pipeline"),
)
def gopher_quality_flags(spark: SparkSession, sf: str) -> DataFrame:
    toks = F.filter(F.split("text", " "), lambda x: x != F.lit(""))
    stop_arr = F.array(*[F.lit(s) for s in _GOPHER_STOPS])
    base = load(spark, sf, "documents").select(
        "doc_id",
        F.size(toks).cast("long").alias("n_words"),
        F.aggregate(
            toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
        ).alias("sum_word_chars"),
        F.size(
            F.filter(toks, lambda x: x.rlike("[a-zA-Z]"))
        ).cast("long").alias("n_alpha_words"),
        F.size(
            F.filter(
                toks,
                lambda x: x.contains("#") | x.contains("..."),
            )
        ).cast("long").alias("n_symbol_words"),
        F.size(
            F.filter(toks, lambda x: F.array_contains(stop_arr, x))
        ).cast("long").alias("n_required_stops"),
    )
    f_wc = (F.col("n_words") < 50) | (F.col("n_words") > 100_000)
    f_mwl = (F.col("sum_word_chars") < 3 * F.col("n_words")) | (
        F.col("sum_word_chars") > 10 * F.col("n_words")
    )
    f_sym = 10 * F.col("n_symbol_words") > F.col("n_words")
    f_alpha = 5 * F.col("n_alpha_words") < 4 * F.col("n_words")
    f_stop = F.col("n_required_stops") < 2
    return base.select(
        "doc_id",
        "n_words",
        f_wc.alias("flag_word_count"),
        f_mwl.alias("flag_mean_word_len"),
        f_sym.alias("flag_symbol_ratio"),
        f_alpha.alias("flag_alpha_fraction"),
        f_stop.alias("flag_stopwords"),
        F.when(f_wc | f_mwl | f_sym | f_alpha | f_stop, F.lit("drop"))
        .otherwise(F.lit("keep"))
        .alias("verdict"),
    )


@register(
    "tokenizer_fertility_by_lang",
    oracle=f"""
    WITH t AS (
      SELECT lang,
             len(regexp_extract_all(text,
                 '{_BPE_PATTERN.replace("'", "''")}')) AS n_bpe,
             len(list_filter(string_split(text, ' '), x -> x <> ''))
               AS n_words
      FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_bpe) AS BIGINT) AS total_bpe_tokens,
           CAST(sum(n_words) AS BIGINT) AS total_words,
           CAST(sum(n_bpe) * 1000000 AS BIGINT)
             // CAST(sum(n_words) AS BIGINT) AS fertility_ppm
    FROM t GROUP BY lang
    """,
    description="tokenizer fertility by language: BPE-ish pre-tokenizer "
    "tokens per whitespace word as integer ppm — the standard metric "
    "for how expensively a tokenizer fragments each language (fertility "
    "near 1.0 = efficient; >>1 = over-fragmented, that language pays "
    "more context budget per word). One scan, two regexp/array counts "
    "in codegen, partial-aggregated to one row per language.",
    tags=("text", "tokens", "llm-pipeline", "report"),
)
def tokenizer_fertility_by_lang(spark: SparkSession, sf: str) -> DataFrame:
    docs = load(spark, sf, "documents")
    base = docs.select(
        "lang",
        F.regexp_count("text", F.lit(_BPE_PATTERN)).alias("n_bpe"),
        F.size(
            F.filter(F.split("text", " "), lambda x: x != F.lit(""))
        ).alias("n_words"),
    )
    return base.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_bpe").cast("long").alias("total_bpe_tokens"),
        F.sum("n_words").cast("long").alias("total_words"),
        F.expr(
            "cast(sum(n_bpe) * 1000000 as bigint)"
            " div cast(sum(n_words) as bigint)"
        ).alias("fertility_ppm"),
    )


_COV_KS = (100, 1_000, 10_000)
_COV_KMAX = max(_COV_KS)
_COV_KS_SQL = "[" + ", ".join(str(k) for k in _COV_KS) + "]"


@register(
    "token_coverage_curve",
    oracle=f"""
    WITH counts AS (
      SELECT tok, count(*) AS n FROM (
        SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      WHERE tok <> '' GROUP BY tok
    ), total AS (
      SELECT CAST(sum(n) AS BIGINT) AS t FROM counts
    ), top AS (
      SELECT tok, n, rk FROM (
        SELECT tok, n,
               row_number() OVER (ORDER BY n DESC, tok ASC) AS rk
        FROM counts) WHERE rk <= {_COV_KMAX}
    ), ks AS (
      SELECT CAST(unnest({_COV_KS_SQL}) AS INT) AS k
    )
    SELECT ks.k,
           CAST(sum(top.n) AS BIGINT) AS covered_tokens,
           CAST((SELECT t FROM total) AS BIGINT) AS total_tokens,
           CAST(sum(top.n) * 1000000 AS BIGINT)
             // (SELECT t FROM total) AS coverage_ppm
    FROM ks JOIN top ON top.rk <= ks.k
    GROUP BY ks.k
    """,
    description="vocabulary coverage curve: fraction of all corpus "
    "token occurrences covered by the top-K tokens for K in 100/1k/10k "
    "— the table that sizes a tokenizer vocabulary (where the curve "
    "flattens, extra vocab buys nothing). The distinct-token set is "
    "first capped to the top-10k by a DISTRIBUTED TakeOrdered; the "
    "rank window then runs over that BOUNDED 10k-row table only (the "
    "repo's no-global-window policy forbids windows over unbounded "
    "inputs — a bounded-by-construction literal-sized input is the "
    "documented exception, same class as the PQ seed window). Exact "
    "integer ppm in both engines.",
    tags=("text", "tokens", "report", "llm-pipeline"),
)
def token_coverage_curve(spark: SparkSession, sf: str) -> DataFrame:
    from pyspark.sql import Window

    toks = (
        load(spark, sf, "documents")
        .select(F.explode(F.split("text", " ")).alias("tok"))
        .where(F.col("tok") != "")
    )
    counts = toks.groupBy("tok").agg(F.count("*").alias("n"))
    total = counts.agg(F.sum("n").cast("long").alias("t"))
    top = (
        counts.orderBy(F.col("n").desc(), F.col("tok").asc())
        .limit(_COV_KMAX)
    )
    # window input is bounded to _COV_KMAX rows by the TakeOrdered above
    ranked = top.withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.col("n").desc(), F.col("tok").asc())
        ),
    )
    ks = spark.createDataFrame([(k,) for k in _COV_KS], "k int")
    return (
        ks.join(F.broadcast(ranked), F.col("rk") <= F.col("k"))
        .groupBy("k")
        .agg(F.sum("n").cast("long").alias("covered_tokens"))
        .crossJoin(F.broadcast(total))
        .select(
            "k",
            "covered_tokens",
            F.col("t").alias("total_tokens"),
            F.expr(
                "cast(covered_tokens * 1000000 as bigint) div t"
            ).alias("coverage_ppm"),
        )
    )


@register(
    "top_ngram_pmi",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    uni AS (
      SELECT unnest(t) AS w FROM toks
    ),
    ucnt AS (SELECT w, count(*) AS c FROM uni GROUP BY w),
    utot AS (SELECT count(*) AS nu FROM uni),
    big AS (
      SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                    i -> {'w1': t[i], 'w2': t[i+1]}),
                    recursive := true)
      FROM toks WHERE len(t) >= 2
    ),
    bcnt AS (SELECT w1, w2, count(*) AS cxy FROM big GROUP BY w1, w2),
    btot AS (SELECT count(*) AS nb FROM big)
    SELECT w1, w2,
           CAST(cxy AS BIGINT) AS c_pair,
           CAST(cx.c AS BIGINT) AS c_w1,
           CAST(cy.c AS BIGINT) AS c_w2,
           CAST(CAST(cxy AS HUGEINT) * nu * nu * 1000000
                // (CAST(nb AS HUGEINT) * cx.c * cy.c)
                AS BIGINT) AS pmi_lift_ppm
    FROM bcnt
    JOIN ucnt cx ON cx.w = w1
    JOIN ucnt cy ON cy.w = w2
    CROSS JOIN utot CROSS JOIN btot
    WHERE cxy >= 5
    ORDER BY pmi_lift_ppm DESC, w1 ASC, w2 ASC
    LIMIT 20
    """,
    description="collocation extraction: top-20 adjacent word bigrams by "
    "pointwise mutual information, reported as the integer lift "
    "exp(PMI) in ppm = 1e6 * c(xy) * N_uni^2 / (N_big * c(x) * c(y)) "
    "with a c(xy) >= 5 support floor — the standard phrase-mining / "
    "tokenizer-merge-candidate signal. All cross-multiplied integer "
    "arithmetic with decimal headroom (c*N^2 wraps int64 beyond "
    "~3e18 token-pairs otherwise); ties at the LIMIT boundary break "
    "on the bigram itself. Scale: two map-side-combined token "
    "groupBys; the unigram-count joins are word-keyed equi-joins left "
    "to AQE (the vocab table is Heaps'-law-sized — broadcast at bench "
    "scale, shuffle-hash at corpus scale, never forced); one-row "
    "totals broadcast-crossed; TakeOrdered(20) — no global sort, no "
    "window",
    tags=("text", "report", "topk"),
)
@_cache_scoped
def top_ngram_pmi(spark: SparkSession, sf: str) -> DataFrame:
    from ..queries import spread

    docs = spread(load(spark, sf, "documents"))
    toks = F.split(F.col("text"), " ")
    uni = docs.select(F.explode(toks).alias("w"))
    # r10 OPT (guide §1.2): the count tables are CACHED (vocab-sized, not
    # corpus-sized) and the one-row totals become rollups of them (Σc ≡
    # count of unigrams, Σcxy ≡ count of bigrams). The old shape ran the
    # tokenize+explode pipeline in four separate branches (ucnt twice via
    # cx/cy, plus two corpus-stream total aggregates); a first r10 attempt
    # that derived totals from UNCACHED count tables measured 1.5x SLOWER
    # (each rollup re-evaluated the whole groupBy subtree, and column
    # pruning made the exchanges non-identical so ReuseExchange could not
    # dedupe them) — caching is what makes the rollup an actual win:
    # one unigram pass and one bigram pass total.
    ucnt = _scoped_cache(uni.groupBy("w").agg(F.count("*").alias("c")))
    utot = ucnt.agg(F.sum("c").alias("nu"))
    pairs = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - 2),
            lambda i: F.struct(
                F.element_at(toks, i + 1).alias("w1"),
                F.element_at(toks, i + 2).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    big = docs.select(F.explode(pairs).alias("p")).select(
        "p.w1", "p.w2"
    )
    bcnt = _scoped_cache(
        big.groupBy("w1", "w2").agg(F.count("*").alias("cxy"))
    )
    btot = bcnt.agg(F.sum("cxy").alias("nb"))
    cx = ucnt.select(F.col("w").alias("w1"), F.col("c").alias("c_x"))
    cy = ucnt.select(F.col("w").alias("w2"), F.col("c").alias("c_y"))
    return (
        bcnt.where(F.col("cxy") >= 5)
        .join(cx, "w1")
        .join(cy, "w2")
        .crossJoin(F.broadcast(utot))
        .crossJoin(F.broadcast(btot))
        .select(
            "w1",
            "w2",
            F.col("cxy").cast("bigint").alias("c_pair"),
            F.col("c_x").cast("bigint").alias("c_w1"),
            F.col("c_y").cast("bigint").alias("c_w2"),
            F.expr(
                "cast(cast(cxy as decimal(19,0)) * nu * nu * 1000000"
                " div (cast(nb as decimal(19,0)) * c_x * c_y)"
                " as bigint)"
            ).alias("pmi_lift_ppm"),
        )
        .orderBy(
            F.col("pmi_lift_ppm").desc(),
            F.col("w1").asc(),
            F.col("w2").asc(),
        )
        .limit(20)
    )
