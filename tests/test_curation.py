"""Curation operator tests: SemDeDup keep/drop semantics and DSIR
importance-weight behavior on hand-built corpora. Cross-engine value
parity is covered by the gate queries (q_semdedup / q_dsir_select)."""

from __future__ import annotations

from pyspark.sql import functions as F

from huckli_spark.operators.curation import dsir_select, semdedup


def _emb(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(rows)],
        "vec_id long, embedding array<float>",
    )


def _docs(spark, rows):
    return spark.createDataFrame(
        [(i, t, lang) for i, (t, lang) in enumerate(rows)],
        "doc_id long, text string, lang string",
    )


class TestSemDeDup:
    def test_exact_duplicates_keep_lowest_id(self, spark):
        # two identical pairs + two singletons, two well-separated blobs
        out = {
            r["vec_id"]: r["is_dup"]
            for r in semdedup(
                _emb(
                    spark,
                    [
                        [1.0, 0.0, 0.0, 0.0],
                        [1.0, 0.0, 0.0, 0.0],  # dup of 0
                        [0.0, 1.0, 0.0, 0.0],
                        [0.0, 1.0, 0.0, 0.0],  # dup of 2
                        [0.0, 0.0, 1.0, 0.0],
                        [0.0, 0.0, 0.0, 1.0],
                    ],
                ),
                k=2,
                iterations=2,
                tau=0.99,
            ).collect()
        }
        assert out[0] is False and out[1] is True
        assert out[2] is False and out[3] is True
        assert out[4] is False and out[5] is False

    def test_cross_cluster_near_dups_not_compared(self, spark):
        # vectors 0 and 1 are identical, but k-means with k=2 on this
        # layout puts them in different clusters only if they separate;
        # here they CANNOT separate (identical), so they land together
        # and are flagged. The orthogonal blob must never be flagged.
        e = _emb(
            spark,
            [
                [1.0, 0.0],
                [1.0, 0.0],
                [0.0, 1.0],
                [0.0, 1.0],
                [0.0, 1.0],
            ],
        )
        out = semdedup(e, k=2, iterations=2, tau=0.999)
        rows = {r["vec_id"]: r for r in out.collect()}
        # identical vectors share a cluster by construction
        assert rows[0]["cid"] == rows[1]["cid"]
        assert rows[1]["is_dup"] is True
        # within the second blob the two higher ids dup against id 2
        assert rows[2]["is_dup"] is False
        assert rows[3]["is_dup"] is True and rows[4]["is_dup"] is True

    def test_threshold_boundary(self, spark):
        # cos([4,3],[3,4]) = 24/25 = 0.96 exactly; tau at the value
        # flags (>= semantics), tau just above does not
        e = _emb(spark, [[4.0, 3.0], [3.0, 4.0]])
        flagged = semdedup(e, k=1, iterations=1, tau=0.96)
        assert flagged.where("is_dup").count() == 1
        strict = semdedup(e, k=1, iterations=1, tau=0.960001)
        assert strict.where("is_dup").count() == 0

    def test_output_one_row_per_vector(self, spark):
        e = _emb(spark, [[1.0, 0.0], [0.9, 0.1], [0.0, 1.0]])
        out = semdedup(e, k=2, iterations=1, tau=0.5)
        assert out.count() == 3
        assert out.select("vec_id").distinct().count() == 3


class TestDSIR:
    def test_target_like_docs_rank_higher(self, spark):
        # target = lang 'en'; docs sharing the target's vocabulary must
        # outscore docs sharing the background-only vocabulary
        docs = _docs(
            spark,
            [
                ("alpha beta gamma alpha beta", "en"),
                ("alpha beta gamma gamma beta", "en"),
                ("alpha beta delta", "xx"),  # target-like raw doc
                ("omega psi chi phi", "xx"),  # background-only doc
            ],
        )
        out = {
            r["doc_id"]: r["w_micro"]
            for r in dsir_select(
                docs, F.col("lang") == "en", keep=3
            ).collect()
        }
        assert out[2] > out[3]

    def test_selection_is_topk_by_weight_then_id(self, spark):
        docs = _docs(
            spark,
            [("alpha beta", "en")] * 2
            + [("alpha beta", "xx")] * 3
            + [("omega psi", "xx")] * 3,
        )
        out = dsir_select(docs, F.col("lang") == "en", keep=4)
        rows = sorted(
            (r["doc_id"], r["w_micro"], r["selected"]) for r in out.collect()
        )
        sel = [d for d, _, s in rows if s]
        # the five 'alpha beta' docs tie on weight; keep=4 must take
        # the four lowest doc_ids among them (deterministic tiebreak)
        assert sel == [0, 1, 2, 3]

    def test_weights_are_exact_integers_and_stable(self, spark):
        docs = _docs(
            spark,
            [
                ("alpha beta gamma", "en"),
                ("delta epsilon zeta eta", "xx"),
                ("alpha delta", "xx"),
            ],
        )
        a = dsir_select(docs, F.col("lang") == "en", keep=2)
        b = dsir_select(
            docs.repartition(7), F.col("lang") == "en", keep=2
        )
        assert sorted(map(tuple, a.collect())) == sorted(
            map(tuple, b.collect())
        )

    def test_n_feats_counts_unigrams_plus_bigrams(self, spark):
        docs = _docs(spark, [("a b c", "en")])
        row = dsir_select(docs, F.col("lang") == "en", keep=1).collect()[0]
        assert row["n_feats"] == 5  # 3 unigrams + 2 bigrams

    def test_single_word_doc_has_no_bigrams(self, spark):
        docs = _docs(spark, [("solo", "en"), ("a b", "xx")])
        rows = {
            r["doc_id"]: r["n_feats"]
            for r in dsir_select(
                docs, F.col("lang") == "en", keep=1
            ).collect()
        }
        assert rows[0] == 1 and rows[1] == 3

    def test_empty_corpus_and_zero_keep_keep_the_schema(self, spark):
        docs = _docs(spark, [("alpha beta", "en"), ("gamma", "xx")])
        want = [
            ("doc_id", "bigint"),
            ("n_feats", "bigint"),
            ("w_micro", "bigint"),
            ("selected", "boolean"),
        ]
        for d, keep in ((docs.where(F.lit(False)), 1), (docs, 0)):
            out = dsir_select(d, F.col("lang") == "en", keep=keep)
            assert [
                (f.name, f.dataType.simpleString()) for f in out.schema
            ] == want
            assert out.count() == 0


class TestGopherRules:
    def _docs(self, spark, rows):
        return spark.createDataFrame(
            [(i, t) for i, t in enumerate(rows)], "doc_id long, text string"
        )

    def test_rule_verdicts(self, spark):
        from huckli_spark.operators.textstats import gopher_rules

        long_good = " ".join(["the", "of"] + ["word"] * 60)
        short = "the of tiny"
        no_stops = " ".join(["word"] * 60)
        symbols = " ".join(["the", "of"] + ["#"] * 30 + ["word"] * 30)
        out = {
            r["doc_id"]: r
            for r in gopher_rules(
                self._docs(spark, [long_good, short, no_stops, symbols])
            ).collect()
        }
        assert out[0]["passes"] is True
        assert out[1]["r_wordcount"] is False and out[1]["passes"] is False
        assert out[2]["r_stopwords"] is False and out[2]["passes"] is False
        assert out[3]["r_symbol"] is False and out[3]["passes"] is False
        # short-word spam trips the mean-length floor
        spam = " ".join(["the", "of"] + ["a"] * 60)
        row = gopher_rules(self._docs(spark, [spam])).collect()[0]
        assert row["r_meanlen"] is False

    def test_custom_stopword_list(self, spark):
        from huckli_spark.operators.textstats import gopher_rules

        doc = " ".join(["foo", "bar"] + ["word"] * 60)
        default = gopher_rules(self._docs(spark, [doc])).collect()[0]
        custom = gopher_rules(
            self._docs(spark, [doc]), stopwords=("foo", "bar")
        ).collect()[0]
        assert default["r_stopwords"] is False
        assert custom["r_stopwords"] is True and custom["passes"] is True

    def test_map_only_plan(self, spark):
        from huckli_spark.operators.textstats import gopher_rules

        df = gopher_rules(self._docs(spark, ["the of " + "w " * 60]))
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "Python" not in plan


class TestDiversitySample:
    def test_quota_is_ceil_sqrt_per_cluster(self, spark):
        from huckli_spark.operators.curation import diversity_sample

        # 9 identical vectors in one blob, 2 in another: quotas 3 and 2
        e = _emb(
            spark,
            [[1.0, 0.0]] * 9 + [[0.0, 1.0]] * 2,
        )
        out = diversity_sample(e, k=2, iterations=1)
        import math

        by_cid = {}
        for r in out.collect():
            by_cid.setdefault(r["cid"], []).append(r)
        for cid, rows in by_cid.items():
            n = rows[0]["cluster_size"]
            quota = math.ceil(math.sqrt(n))
            assert sum(r["selected"] for r in rows) == min(quota, n)

    def test_deterministic_across_partitionings(self, spark):
        from huckli_spark.operators.curation import diversity_sample

        e = _emb(spark, [[float(i % 3), float(i % 5)] for i in range(20)])
        a = diversity_sample(e, k=2, iterations=1)
        b = diversity_sample(e.repartition(7), k=2, iterations=1)
        assert sorted(map(tuple, a.collect())) == sorted(
            map(tuple, b.collect())
        )


class TestSemDeDupIncremental:
    def test_batch_screened_against_corpus_and_itself(self, spark):
        from huckli_spark.operators.curation import semdedup_incremental

        existing = _emb(
            spark,
            [[1.0, 0.0], [1.0, 0.0], [0.0, 1.0], [0.0, 1.0]],
        )
        # batch: 10 dups existing cluster 0; 11+12 dup each other (new
        # direction-ish but assigns somewhere deterministic); 13 unique
        batch = spark.createDataFrame(
            [
                (10, [1.0, 0.0]),   # dup of corpus
                (11, [0.0, 1.0]),   # dup of corpus
                (12, [0.0, 1.0]),   # dup of corpus AND of 11 in batch
                (13, [0.7, 0.7]),   # near both, cos vs axes ~0.707
            ],
            "vec_id long, embedding array<float>",
        )
        out = {
            r["vec_id"]: r
            for r in semdedup_incremental(
                existing, batch, k=2, iterations=2, tau=0.99
            ).collect()
        }
        assert out[10]["dup_vs_corpus"] is True
        assert out[11]["dup_vs_corpus"] is True
        assert out[12]["dup_vs_corpus"] is True
        assert out[12]["dup_in_batch"] is True  # 11 < 12, same cluster
        assert out[11]["dup_in_batch"] is False
        assert out[13]["is_dup"] is False  # cos 0.707 < 0.99

    def test_corpus_never_flagged(self, spark):
        from huckli_spark.operators.curation import semdedup_incremental

        existing = _emb(spark, [[1.0, 0.0], [0.0, 1.0]])
        batch = spark.createDataFrame(
            [(5, [1.0, 0.0])], "vec_id long, embedding array<float>"
        )
        out = semdedup_incremental(
            existing, batch, k=2, iterations=1, tau=0.99
        )
        # output contains ONLY batch rows
        assert {r["vec_id"] for r in out.collect()} == {5}

    def test_frozen_quantizer_equals_trained_path(self, spark):
        from huckli_spark.operators.clustering import kmeans_fit
        from huckli_spark.operators.curation import semdedup_incremental

        existing = _emb(
            spark, [[1.0, 0.0], [0.9, 0.1], [0.0, 1.0], [0.1, 0.9]]
        )
        batch = spark.createDataFrame(
            [(7, [1.0, 0.05]), (8, [0.0, 1.0])],
            "vec_id long, embedding array<float>",
        )
        cents = kmeans_fit(existing, k=2, iterations=2)
        a = semdedup_incremental(existing, batch, k=2, iterations=2, tau=0.9)
        b = semdedup_incremental(existing, batch, tau=0.9, cents=cents)
        assert sorted(map(tuple, a.collect())) == sorted(
            map(tuple, b.collect())
        )


class TestSemDeDupComponents:
    def test_chain_keeps_one_representative(self, spark):
        from huckli_spark.operators.curation import semdedup_components

        # a ~ b and b ~ c but a !~ c (chain): components keep ONLY a;
        # pairwise lowest-id would also drop both b and c, but here
        # all three share cluster_id = 0
        # unit-ish vectors at 0deg, 17deg, 34deg: adjacent cosines
        # ~0.956 (dup), end-to-end cosine ~0.829 (below tau)
        e = _emb(
            spark,
            [
                [1.0, 0.0],        # a
                [0.956, 0.292],    # b
                [0.829, 0.559],    # c
            ],
        )
        out = {
            r["vec_id"]: r
            for r in semdedup_components(
                e, k=1, iterations=1, tau=0.94
            ).collect()
        }
        assert out[0]["is_keeper"] is True
        assert out[1]["is_keeper"] is False and out[1]["cluster_id"] == 0
        assert out[2]["is_keeper"] is False and out[2]["cluster_id"] == 0

    def test_clean_vectors_are_their_own_cluster(self, spark):
        from huckli_spark.operators.curation import semdedup_components

        e = _emb(spark, [[1.0, 0.0], [0.0, 1.0]])
        out = semdedup_components(e, k=1, iterations=1, tau=0.99).collect()
        assert all(r["is_keeper"] for r in out)
        assert {r["cluster_id"] for r in out} == {0, 1}


class TestSemDeDupTwoLevel:
    def test_one_row_per_vector_and_cell_local_pairs(self, spark):
        from huckli_spark.operators.curation import semdedup_two_level

        e = _emb(
            spark,
            [[1.0, 0.0], [1.0, 0.0], [0.0, 1.0], [0.0, 1.0],
             [0.7, 0.7], [0.7, 0.7]],
        )
        out = semdedup_two_level(e, k=2, k2=2, iterations=1, tau=0.99)
        rows = out.collect()
        assert len(rows) == 6
        assert {r["vec_id"] for r in rows} == set(range(6))
        # identical twins always share a cell -> higher id flagged
        flags = {r["vec_id"]: r["is_dup"] for r in rows}
        assert flags[1] and flags[3] and flags[5]
        assert not flags[0] and not flags[2] and not flags[4]

    def test_grouped_training_bit_identical_to_sequential_loop(self, spark):
        # VERDICT r07 #3 pin: the de-serialized grouped trainer must
        # produce EXACTLY the rows of the original per-cluster loop —
        # same init, same fixed-point arithmetic, same tiebreaks — on
        # an uneven fixture (clusters of different sizes, some cells
        # with near-dups, some without).
        from huckli_spark.operators.curation import (
            semdedup_two_level,
            semdedup_two_level_loop,
        )

        vecs = []
        for i in range(24):
            base = [0.0, 0.0, 0.0, 0.0]
            base[i % 3] = 1.0  # three directions -> uneven top clusters
            base[(i % 3 + 1) % 4] = 0.01 * (i % 7)  # spread within
            vecs.append(base)
        vecs += [[0.57, 0.57, 0.57, 0.1]] * 3  # a near-dup triple
        e = _emb(spark, vecs)
        new = semdedup_two_level(e, k=3, k2=2, iterations=2, tau=0.98)
        old = semdedup_two_level_loop(e, k=3, k2=2, iterations=2, tau=0.98)
        # names + types must match (nullability may differ: the loop
        # version's lit(cid) is non-nullable, the CASE dispatch isn't)
        assert [(f.name, f.dataType) for f in new.schema] == [
            (f.name, f.dataType) for f in old.schema
        ]
        assert sorted(map(tuple, new.collect())) == sorted(
            map(tuple, old.collect())
        )

    def test_grouped_kmeans_matches_per_group_fit(self, spark):
        # the trainer itself: per-group centroids from ONE grouped
        # training == a sequential kmeans_fit per group
        from huckli_spark.operators.clustering import (
            kmeans_fit,
            kmeans_fit_grouped,
        )

        rows = []
        for i in range(30):
            g = i % 3
            rows.append((g, i, [float(g) + 0.03 * (i % 5), 0.1 * (i % 4)]))
        df = spark.createDataFrame(
            rows, "cid int, vec_id long, embedding array<float>"
        )
        grouped = kmeans_fit_grouped(df, k=2, iterations=3)
        for g in range(3):
            seq = kmeans_fit(
                df.where(F.col("cid") == g), k=2, iterations=3
            )
            assert grouped[g] == seq, f"group {g} centroids diverge"

    def test_grouped_kmeans_broadcast_form_bit_identical(
        self, spark, monkeypatch
    ):
        # the large-n_groups plan form (centroids as a broadcast
        # payload, in-row filter+argmin) must train and assign exactly
        # like the literal CASE form; a zero cell bound forces the
        # broadcast form on a small geometry
        from huckli_spark.operators import clustering
        from huckli_spark.operators.clustering import (
            kmeans_assign_grouped,
            kmeans_fit_grouped,
        )

        rows = []
        for i in range(36):
            g = i % 4
            rows.append((g, i, [float(g) + 0.05 * (i % 5), 0.1 * (i % 3)]))
        df = spark.createDataFrame(
            rows, "cid int, vec_id long, embedding array<float>"
        )
        lit = kmeans_fit_grouped(df, k=2, iterations=3)
        a_lit = kmeans_assign_grouped(df, lit)
        monkeypatch.setattr(clustering, "GROUPED_LITERAL_CELL_BOUND", 0)
        bc = kmeans_fit_grouped(df, k=2, iterations=3)
        assert lit == bc
        a_bc = kmeans_assign_grouped(df, lit)
        assert sorted(map(tuple, a_lit.collect())) == sorted(
            map(tuple, a_bc.collect())
        )

    def test_grouped_kmeans_short_group_raises(self, spark):
        import pytest

        from huckli_spark.operators.clustering import kmeans_fit_grouped

        df = spark.createDataFrame(
            [(0, 0, [1.0, 0.0]), (0, 1, [0.9, 0.1]), (1, 2, [0.0, 1.0])],
            "cid int, vec_id long, embedding array<float>",
        )
        with pytest.raises(ValueError, match="group 1 has only 1"):
            kmeans_fit_grouped(df, k=2, iterations=1)


class TestTripletPairForms:
    def test_arrow_matches_sql_form(self, spark):
        # the r13 Arrow pair kernel must reproduce the relational
        # form's picks bit-identically — including sim ties (resolved
        # to the lowest id), duplicate vectors, and anchors with no
        # positive or no negative (dropped on both paths)
        import random

        from huckli_spark.operators.curation import mine_triplets

        rng = random.Random(13)
        rows = []
        for i in range(48):
            base = [0.0] * 8
            base[i % 4] = 1.0
            vec = [x + rng.uniform(-0.2, 0.2) for x in base]
            rows.append((i, [float(v) for v in vec]))
        # exact duplicates -> sim ties at 1.0
        rows.append((48, rows[0][1]))
        rows.append((49, rows[0][1]))
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )
        # k=2 over 4 direction groups: every cluster mixes similar
        # and dissimilar members, so anchors see both pos and neg
        sql_rows = sorted(
            map(tuple, mine_triplets(
                emb, k=2, iterations=2, pair_form="sql",
            ).collect())
        )
        arrow_rows = sorted(
            map(tuple, mine_triplets(
                emb, k=2, iterations=2, pair_form="arrow",
            ).collect())
        )
        assert sql_rows == arrow_rows
        assert len(sql_rows) > 0

    def test_arrow_small_block_cells_same_result(self, spark):
        # block tiling (max_block_cells) must not change picks
        from huckli_spark.operators.curation import mine_triplets

        emb = spark.createDataFrame(
            [(i, [float((i * 7 + j * 3) % 5) for j in range(4)])
             for i in range(30)],
            "vec_id long, embedding array<float>",
        )
        big = sorted(map(tuple, mine_triplets(
            emb, k=1, iterations=1, pair_form="arrow",
        ).collect()))
        tiny = sorted(map(tuple, mine_triplets(
            emb, k=1, iterations=1, pair_form="arrow", max_block_cells=7,
        ).collect()))
        sql_rows = sorted(map(tuple, mine_triplets(
            emb, k=1, iterations=1, pair_form="sql",
        ).collect()))
        assert big == tiny
        assert big == sql_rows
        assert len(big) > 0
