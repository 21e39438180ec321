"""Bit-identity tests for the r10 ANN assignment/normalize kernel rewrite.

`_assign_cells` / `_assign_pq` moved from a broadcast crossJoin of
interpreted zip_with folds + groupBy(min(struct)) to a numpy mapInPandas
kernel, and ann_pq_topk's L2-normalize moved from a transform-lambda
expression (which re-evaluated the norm fold per element) to the same
kernel style. The optimization contract is BIT-identity, not approximate
equivalence: the kernel accumulates per-dimension in ascending order
(the fold's IEEE op sequence) and scans cells/codes ascending with
strict <, so distances and tie-breaks match the old expressions exactly.
These tests pin that contract against in-test reimplementations of the
OLD expression formulations, including constructed exact-tie inputs the
corpus data would never reliably exercise.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mongodb_cdc_delta_spark.ops.similarity import _assign_cells, _assign_pq


def _old_assign_cells(emb, centroids):
    """The pre-r10 expression formulation (broadcast crossJoin + fold +
    min(struct)) — the reference the kernel must match bit-for-bit."""
    joined = emb.crossJoin(F.broadcast(centroids))
    d2 = F.aggregate(
        F.zip_with(
            "embedding",
            "centroid",
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = joined.select("vec_id", "cell", d2.alias("d2"))
    return scored.groupBy("vec_id").agg(
        F.min(F.struct("d2", "cell"))["cell"].alias("cell")
    )


def _old_assign_pq(subv, centroids):
    d2 = F.aggregate(
        F.zip_with("sv", "centroid", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = subv.join(F.broadcast(centroids), "sub").select(
        "vec_id", "sub", F.col("code"), d2.alias("d2")
    )
    return scored.groupBy("vec_id", "sub").agg(
        F.min(F.struct("d2", "code"))["code"].alias("code")
    )


class TestAssignCellsKernel:
    def test_matches_old_formulation_on_corpus(self, spark):
        from mongodb_cdc_delta_spark.queries import load

        emb = load(spark, "/root/testdata/sf0.001", "embeddings")
        cents = (
            emb.where(F.col("vec_id") < 5)
            .select(
                F.col("vec_id").cast("int").alias("cell"),
                F.transform(
                    "embedding", lambda x: x.cast("double")
                ).alias("centroid"),
            )
        )
        cents = spark.createDataFrame(
            cents.collect(), "cell int, centroid array<double>"
        )
        new = {r["vec_id"]: r["cell"] for r in _assign_cells(emb, cents).collect()}
        old = {
            r["vec_id"]: r["cell"] for r in _old_assign_cells(emb, cents).collect()
        }
        assert new == old and len(new) == emb.count()

    def test_exact_tie_breaks_to_lowest_cell(self, spark):
        # vector at the midpoint of two centroids: d2 exactly equal, the
        # old min(struct(d2, cell)) picked the LOWER cell id — so must we.
        emb = spark.createDataFrame(
            [(1, [0.0, 0.0]), (2, [1.0, 1.0]), (3, [-3.0, 5.0])],
            "vec_id long, embedding array<double>",
        )
        cents = spark.createDataFrame(
            # cells deliberately registered out of order; 7 and 2 are
            # mirror-images around the origin → exact tie for vec 1
            [(7, [1.0, 1.0]), (2, [-1.0, -1.0]), (5, [-3.0, 5.0])],
            "cell int, centroid array<double>",
        )
        got = {r["vec_id"]: r["cell"] for r in _assign_cells(emb, cents).collect()}
        old = {
            r["vec_id"]: r["cell"] for r in _old_assign_cells(emb, cents).collect()
        }
        assert got == old
        assert got[1] == 2  # tie → lowest cell id
        assert got[2] == 7
        assert got[3] == 5

    def test_float32_input_cast_matches(self, spark):
        # embeddings parquet stores float32; the kernel must widen exactly
        # like the old x.cast("double")
        emb = spark.createDataFrame(
            [(1, [0.1, 0.2, 0.3]), (2, [0.30000001, 0.1, 0.7])],
            "vec_id long, embedding array<float>",
        )
        cents = spark.createDataFrame(
            [(0, [0.1, 0.2, 0.30000001]), (1, [0.30000001192092896, 0.1, 0.7])],
            "cell int, centroid array<double>",
        )
        got = {r["vec_id"]: r["cell"] for r in _assign_cells(emb, cents).collect()}
        old = {
            r["vec_id"]: r["cell"] for r in _old_assign_cells(emb, cents).collect()
        }
        assert got == old


class TestAssignPqKernel:
    def test_matches_old_formulation_with_ties(self, spark):
        subv = spark.createDataFrame(
            [
                (1, 0, [0.0, 0.0]),
                (1, 1, [2.0, 2.0]),
                (2, 0, [0.5, 0.5]),
                (2, 1, [-1.0, 3.0]),
            ],
            "vec_id long, sub int, sv array<double>",
        )
        cents = spark.createDataFrame(
            # sub 0: exact-tie pair around the origin (codes 3 and 1);
            # sub 1: distinct winners
            [
                (0, 3, [1.0, 0.0]),
                (0, 1, [-1.0, 0.0]),
                (1, 0, [2.0, 2.0]),
                (1, 2, [-1.0, 3.0]),
            ],
            "sub int, code int, centroid array<double>",
        )
        new = {
            (r["vec_id"], r["sub"]): r["code"]
            for r in _assign_pq(subv, cents).collect()
        }
        old = {
            (r["vec_id"], r["sub"]): r["code"]
            for r in _old_assign_pq(subv, cents).collect()
        }
        assert new == old
        assert new[(1, 0)] == 1  # exact tie → lowest code

    def test_matches_old_on_corpus_subvectors(self, spark):
        from mongodb_cdc_delta_spark.ops.similarity import build_pq_codebooks
        from mongodb_cdc_delta_spark.queries import load

        emb = load(spark, "/root/testdata/sf0.001", "embeddings")
        cb, subv, _ = build_pq_codebooks(
            emb, m=8, k=16, iters=1, return_subv=True
        )
        assert subv is not None  # no sampling at this size
        new = {
            (r["vec_id"], r["sub"]): r["code"]
            for r in _assign_pq(subv, cb).collect()
        }
        old = {
            (r["vec_id"], r["sub"]): r["code"]
            for r in _old_assign_pq(subv, cb).collect()
        }
        assert new == old and len(new) > 0


class TestNormalizeKernel:
    def test_pq_normalize_bit_identical_to_expression(self, spark):
        """ann_pq_topk's kernel normalize vs the old transform-lambda
        expression: identical doubles (not approx — the contract is that
        the per-dimension accumulation replays the fold's IEEE ops).
        r11 (ADVICE): exercises the SHIPPED module-scope _l2norm_kernel,
        not an in-test copy that could drift."""
        from mongodb_cdc_delta_spark.ops.similarity import (
            _l2norm_kernel,
            _norm,
        )
        from mongodb_cdc_delta_spark.queries import load, spread

        raw = load(spark, "/root/testdata/sf0.001", "embeddings")
        old = raw.select(
            "vec_id",
            F.transform(
                "embedding",
                lambda x: x.cast("double") / _norm(F.col("embedding")),
            ).alias("embedding"),
        )
        new = spread(raw.select("vec_id", "embedding")).mapInPandas(
            _l2norm_kernel, "vec_id long, embedding array<double>"
        )
        old_rows = {r["vec_id"]: list(r["embedding"]) for r in old.collect()}
        new_rows = {r["vec_id"]: list(r["embedding"]) for r in new.collect()}
        assert new_rows == old_rows  # exact float equality, every element


class TestAssignCentroidsKernel:
    """r11: semantic_dedup_prune's argmax assignment moved from 8
    interpreted HOF cosines per row (assign_to_centroids) to the numpy
    _assign_centroids_kernel. The contract: identical (vec_id -> label)
    on the shipped corpora, and lowest-centroid-id tie-breaking on
    constructed exact ties."""

    def _expr_labels(self, spark, sf):
        from mongodb_cdc_delta_spark.ops.similarity import (
            _fixed_centroid_assign,
        )

        return {
            r["vec_id"]: r["centroid_id"]
            for r in _fixed_centroid_assign(spark, sf)
            .select("vec_id", "centroid_id")
            .collect()
        }

    def _kernel_labels(self, spark, sf):
        from mongodb_cdc_delta_spark.ops.similarity import (
            _assign_centroids_kernel,
            _semdedup_centroids,
        )
        from mongodb_cdc_delta_spark.queries import load

        emb = load(spark, sf, "embeddings")
        return {
            r["vec_id"]: r["label"]
            for r in _assign_centroids_kernel(emb, _semdedup_centroids(emb))
            .select("vec_id", "label")
            .collect()
        }

    def test_matches_expression_form_sf001_and_sf01(self, spark):
        for sf in ("/root/testdata/sf0.01", "/root/testdata/sf0.1"):
            assert self._kernel_labels(spark, sf) == self._expr_labels(
                spark, sf
            ), sf

    def test_exact_tie_breaks_to_lowest_centroid_id(self, spark):
        from mongodb_cdc_delta_spark.ops.similarity import (
            _assign_centroids_kernel,
        )

        # two identical centroids: every row ties exactly; the winner
        # must be the LOWER centroid id (array_max(struct(sim, neg_cid))
        # semantics of the expression form)
        vecs = spark.createDataFrame(
            [(10, [1.0, 0.0]), (11, [0.5, 0.5]), (12, [-1.0, 0.25])],
            "vec_id long, embedding array<double>",
        )
        cents = [(3, [2.0, 1.0]), (7, [2.0, 1.0])]
        got = {
            r["vec_id"]: r["label"]
            for r in _assign_centroids_kernel(vecs, cents).collect()
        }
        assert got == {10: 3, 11: 3, 12: 3}

    def test_embedding_passthrough_is_exact_float64(self, spark):
        from mongodb_cdc_delta_spark.ops.similarity import (
            _assign_centroids_kernel,
        )
        from mongodb_cdc_delta_spark.queries import load

        emb = load(spark, "/root/testdata/sf0.001", "embeddings")
        want = {
            r["vec_id"]: [float(x) for x in r["embedding"]]
            for r in emb.select("vec_id", "embedding").collect()
        }
        got = {
            r["vec_id"]: list(r["embedding"])
            for r in _assign_centroids_kernel(
                emb, [(0, want[0])]
            ).collect()
        }
        assert got == want
