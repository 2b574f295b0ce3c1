"""Property tests for the round-7 closing wave: segment-level dedup,
Markov event transitions, time-spine LOCF fill, MAD outliers, portable
HLL registers, co-occurrence lift, and common-neighbors link
prediction. The differential gate (tools/check_correctness.py) proves
engine parity; these tests pin the SEMANTICS on the fixture tables and
on hand-built micro-fixtures."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def _q(name):
    from huckli_spark.queries import all_queries

    return all_queries()[name].build


class TestSegmentDedup:
    def test_kept_counts_are_first_occurrence_exact(self, spark):
        rows = _q("q_segment_dedup")(spark, SF_SMALL).collect()
        docs = {r.doc_id: r for r in rows}
        # every doc represented, kept <= total
        assert len(docs) == 500
        assert all(0 <= r.n_kept <= r.n_segments for r in rows)
        # global conservation: total kept == number of DISTINCT segments
        import duckdb

        n_uniq = duckdb.sql(
            f"""
            WITH base AS (SELECT doc_id, string_split(text,' ') AS w
                          FROM '{SF_SMALL}/documents.parquet'),
            segs AS (
              SELECT array_to_string(w[(i*3+1):((i+1)*3)], ' ') AS seg
              FROM base,
                   UNNEST(range(0, CAST(ceil(array_length(w)/3.0) AS INT))) u(i))
            SELECT count(DISTINCT seg) FROM segs
            """
        ).fetchone()[0]
        assert sum(r.n_kept for r in rows) == n_uniq

    def test_reconstruction_preserves_order(self, spark):
        # doc 0 is the corpus-first doc: every one of its segments is a
        # first occurrence, so its kept_text must equal its full text
        # re-segmented (== original text).
        row = (
            _q("q_segment_dedup")(spark, SF_SMALL)
            .where(F.col("doc_id") == 0)
            .collect()[0]
        )
        orig = (
            spark.read.parquet(f"{SF_SMALL}/documents.parquet")
            .where(F.col("doc_id") == 0)
            .collect()[0]
            .text
        )
        assert row.n_kept == row.n_segments
        assert row.kept_text == orig


class TestEventTransitions:
    def test_probabilities_sum_to_one_per_source(self, spark):
        rows = _q("q_event_transitions")(spark, SF_SMALL).collect()
        by_src: dict[str, float] = {}
        for r in rows:
            by_src[r.src] = by_src.get(r.src, 0.0) + r.prob
        for src, total in by_src.items():
            assert abs(total - 1.0) < 1e-4, (src, total)

    def test_counts_match_pandas_recompute(self, spark):
        import pandas as pd

        ev = pd.read_parquet(f"{SF_SMALL}/events.parquet")
        ev = ev.sort_values(["user_id", "ts", "event_id"])
        ev["dst"] = ev.groupby("user_id")["event_type"].shift(-1)
        expect = (
            ev.dropna(subset=["dst"])
            .groupby(["event_type", "dst"])
            .size()
            .to_dict()
        )
        got = {
            (r.src, r.dst): r.n_transitions
            for r in _q("q_event_transitions")(spark, SF_SMALL).collect()
        }
        assert got == expect


class TestTimeseriesFill:
    def test_spine_is_dense_and_fill_is_locf(self, spark):
        rows = _q("q_timeseries_fill")(spark, SF_SMALL).collect()
        types = {r.event_type for r in rows}
        days = sorted({r.day for r in rows})
        assert len(rows) == len(types) * len(days)  # dense grid
        for t in types:
            series = sorted(
                (r for r in rows if r.event_type == t), key=lambda r: r.day
            )
            last = None
            for r in series:
                if r.observed:
                    assert r.filled_vm is not None
                    last = r.filled_vm
                else:
                    assert r.filled_vm == last  # LOCF (None while leading)

    def test_has_both_observed_and_gap_days(self, spark):
        rows = _q("q_timeseries_fill")(spark, SF_SMALL).collect()
        flags = {r.observed for r in rows}
        assert flags == {True, False}  # threshold actually creates gaps


class TestMadOutliers:
    def test_flagged_rows_exceed_three_mad(self, spark):
        import pandas as pd

        ev = pd.read_parquet(f"{SF_SMALL}/events.parquet")
        ev["vm"] = (ev["value"] * 1_000_000 + 0.5).apply(math.floor)
        flagged = {
            r.event_id for r in _q("q_mad_outliers")(spark, SF_SMALL).collect()
        }
        expect = set()
        for _, grp in ev.groupby("event_type"):
            med2 = int(2 * grp["vm"].median())
            dh = (2 * grp["vm"] - med2).abs()
            mad2h = int(2 * dh.median())
            expect |= set(grp.loc[2 * dh > 3 * mad2h, "event_id"])
        assert flagged == expect


class TestHllRegisters:
    def test_estimate_within_hll_error_bound(self, spark):
        rows = _q("q_hll_registers")(spark, SF_SMALL).collect()
        assert rows, "three returnflag groups expected"
        for r in rows:
            assert 1 <= r.n_buckets <= 64
            # sigma = 1.04/sqrt(64) = 13%; allow 3 sigma
            assert abs(r.hll_estimate - r.n_exact) / r.n_exact < 0.39, r


class TestPmiCooccur:
    def test_lift_arithmetic_and_ranking(self, spark):
        import duckdb

        rows = _q("q_pmi_cooccur")(spark, SF_SMALL).collect()
        assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
        lifts = [r.lift for r in rows]
        assert lifts == sorted(lifts, reverse=True)
        # spot-recompute the top pair's lift exactly
        top = rows[0]
        n_docs, n1, n2, n_pair = duckdb.sql(
            f"""
            WITH dw AS (SELECT DISTINCT doc_id, unnest(string_split(text,' ')) w
                        FROM '{SF_SMALL}/documents.parquet')
            SELECT (SELECT count(DISTINCT doc_id) FROM dw),
                   (SELECT count(*) FROM dw WHERE w = '{top.w1}'),
                   (SELECT count(*) FROM dw WHERE w = '{top.w2}'),
                   (SELECT count(*) FROM dw a JOIN dw b
                     ON a.doc_id = b.doc_id AND a.w = '{top.w1}'
                    AND b.w = '{top.w2}')
            """
        ).fetchone()
        assert top.n_pair == n_pair
        expect = math.floor(n_pair * n_docs / (n1 * n2) * 1e6 + 0.5) / 1e6
        assert top.lift == expect


class TestCommonNeighbors:
    # sf0.001's co-supply graph is a union of per-order cliques (no
    # supplier pair co-occurs across orders), so every wedge closes and
    # the non-adjacent candidate set is structurally empty — the gate
    # scale (sf0.01) is the smallest fixture with cross-order overlap.
    def test_pairs_nonadjacent_and_counts_exact(self, spark):
        import duckdb

        from tests.conftest import SF_MED

        edges = set(
            duckdb.sql(
                f"""
            WITH l AS (SELECT DISTINCT l_orderkey, l_suppkey
                       FROM '{SF_MED}/lineitem.parquet'
                       WHERE l_quantity > 40)
            SELECT DISTINCT a.l_suppkey, b.l_suppkey
            FROM l a JOIN l b ON a.l_orderkey = b.l_orderkey
                             AND a.l_suppkey < b.l_suppkey
            """
            ).fetchall()
        )
        adj: dict[int, set[int]] = {}
        for s1, s2 in edges:
            adj.setdefault(s1, set()).add(s2)
            adj.setdefault(s2, set()).add(s1)
        rows = _q("q_common_neighbors")(spark, SF_MED).collect()
        assert rows
        for r in rows:
            assert (r.supp_a, r.supp_c) not in edges
            expect = len(adj.get(r.supp_a, set()) & adj.get(r.supp_c, set()))
            assert r.n_common == expect


class TestAttribution:
    def test_credit_conserves_exactly_per_purchase(self, spark):
        import duckdb

        rows = _q("q_attribution")(spark, SF_SMALL).collect()
        total_credit = sum(r.credit_micro for r in rows)
        # number of purchases with >=1 touch in the prior 24h
        n_attr = duckdb.sql(
            f"""
            SELECT count(DISTINCT p.event_id)
            FROM '{SF_SMALL}/events.parquet' p
            JOIN '{SF_SMALL}/events.parquet' t
              ON t.user_id = p.user_id
             AND t.event_type IN ('click','view')
             AND t.ts <= p.ts
             AND epoch_us(t.ts) > epoch_us(p.ts) - 86400000000
            WHERE p.event_type = 'purchase'
            """
        ).fetchone()[0]
        assert total_credit == 1_000_000 * n_attr  # exact conservation
        assert {r.event_type for r in rows} == {"click", "view"}


class TestKmvSetOps:
    def test_estimates_within_kmv_error(self, spark):
        from tests.conftest import SF_MED

        r = _q("q_kmv_set_ops")(spark, SF_MED).collect()[0]
        # sigma ~ 1/sqrt(k-1) = 6.3% at k=256; allow 4 sigma
        assert abs(r.est_union - r.n_union_exact) / r.n_union_exact < 0.25
        assert abs(r.est_inter - r.n_inter_exact) / r.n_inter_exact < 0.35
        true_j = r.n_inter_exact / r.n_union_exact
        assert abs(r.jaccard_est - true_j) < 0.15
        # structural: intersection sample within union sample
        assert 0 < r.n_inter_sample <= r.n_union_sample


class TestBfsLayers:
    def test_hops_match_networkx_free_recompute(self, spark):
        import duckdb

        from tests.conftest import SF_MED

        edges = duckdb.sql(
            f"""
            WITH l AS (SELECT DISTINCT l_orderkey, l_suppkey
                       FROM '{SF_MED}/lineitem.parquet'
                       WHERE l_quantity > 40)
            SELECT DISTINCT a.l_suppkey, b.l_suppkey
            FROM l a JOIN l b ON a.l_orderkey = b.l_orderkey
                             AND a.l_suppkey < b.l_suppkey
            """
        ).fetchall()
        seeds = [
            r[0]
            for r in duckdb.sql(
                f"SELECT s_suppkey FROM '{SF_MED}/supplier.parquet' "
                "WHERE s_nationkey = 0"
            ).fetchall()
        ]
        adj: dict[int, set[int]] = {}
        for a, b in edges:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        # plain python BFS, bounded to 4 hops
        dist = {v: 0 for v in seeds}
        frontier = set(seeds)
        for hop in range(1, 5):
            frontier = {
                w for v in frontier for w in adj.get(v, set()) if w not in dist
            }
            for w in frontier:
                dist[w] = hop
        got = {
            r.suppkey: r.hop
            for r in _q("q_bfs_layers")(spark, SF_MED).collect()
        }
        assert got == dist
        assert max(got.values()) >= 2  # graph actually has depth


class TestDqAudit:
    def test_fixture_tables_pass_all_rules(self, spark):
        rows = _q("q_dq_audit")(spark, SF_SMALL).collect()
        assert len(rows) == 6
        by = {r.check_name: r for r in rows}
        # the driver fixtures are clean by construction — every rule
        # green, with real row counts behind each check
        for name, r in by.items():
            assert r.n_violations == 0, (name, r)
            assert r.n_checked > 0, name

    def test_rules_actually_fire_on_dirty_data(self, spark):
        # plant one orphan order and confirm the FK rule counts it —
        # the suite must not be vacuously green
        import duckdb

        n = duckdb.sql(
            f"""
            WITH o AS (
              SELECT * FROM '{SF_SMALL}/orders.parquet'
              UNION ALL
              SELECT 999999999, 999999999, 'O', 1.0,
                     TIMESTAMP '2024-01-01', 'x'
            )
            SELECT sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
            FROM o LEFT JOIN '{SF_SMALL}/customer.parquet' c
              ON c.c_custkey = o.o_custkey
            """
        ).fetchone()[0]
        assert n == 1


class TestGroupSplit:
    def test_users_never_straddle_splits(self, spark):
        from huckli_spark.functions.portable import h60

        ev = spark.read.parquet(f"{SF_SMALL}/events.parquet")
        hb = (
            h60(F.concat(F.lit("split:"), F.col("user_id").cast("string")))
            % 10
        )
        split = F.when(hb < 8, "train").when(hb == 8, "val").otherwise("test")
        per_user = (
            ev.select("user_id", split.alias("split"))
            .groupBy("user_id")
            .agg(F.count_distinct("split").alias("ns"))
        )
        assert per_user.where(F.col("ns") > 1).count() == 0
        rows = _q("q_group_split")(spark, SF_SMALL).collect()
        splits = {r.split for r in rows}
        assert splits == {"train", "val", "test"}
        n_train = sum(r.n_events for r in rows if r.split == "train")
        total = sum(r.n_events for r in rows)
        assert 0.6 < n_train / total < 0.95  # ~80% by user hash


class TestPcaPower:
    def test_matches_numpy_top_eigenvector(self, spark):
        import numpy as np
        import pandas as pd

        rows = _q("q_pca_power")(spark, SF_SMALL).collect()
        assert len(rows) == 64
        v = np.array(
            [r.loading for r in sorted(rows, key=lambda r: r.dim)]
        )
        X = np.vstack(
            pd.read_parquet(f"{SF_SMALL}/embeddings.parquet")[
                "embedding"
            ].values
        ).astype(float)
        C = np.cov(X.T, bias=True)
        w, V = np.linalg.eigh(C)
        top = V[:, -1]
        cos = abs(v @ top) / (np.linalg.norm(v) * np.linalg.norm(top))
        assert cos > 0.999, cos  # 8 squarings measured 0.9996+
        # Rayleigh eigenvalue within 1% of numpy's top eigenvalue
        assert abs(rows[0].eigenvalue - w[-1]) / w[-1] < 0.01
        # canonical direction: largest-|loading| component positive
        assert max(rows, key=lambda r: abs(r.loading)).loading > 0
        # L-inf normalized micro loadings
        assert max(abs(r.loading_micro) for r in rows) == 1_000_000


class TestWinsorize:
    def test_clip_counts_and_means_match_pandas(self, spark):
        import math

        import pandas as pd

        ev = pd.read_parquet(f"{SF_SMALL}/events.parquet")
        ev["vm"] = (ev["value"] * 1_000_000 + 0.5).apply(math.floor)
        got = {r.event_type: r for r in _q("q_winsorize")(spark, SF_SMALL).collect()}
        for t, grp in ev.groupby("event_type"):
            s = grp["vm"].sort_values().reset_index(drop=True)
            n = len(s)
            lo = s[math.ceil(0.05 * n) - 1]
            hi = s[math.ceil(0.95 * n) - 1]
            r = got[t]
            assert r.n == n
            assert r.n_clipped_low == int((grp["vm"] < lo).sum())
            assert r.n_clipped_high == int((grp["vm"] > hi).sum())
            clipped = grp["vm"].clip(lo, hi)
            assert abs(r.mean_after - clipped.mean() / 1e6) < 1e-4
            assert r.mean_after != r.mean_before  # clipping moved the mean


class TestLabelProp:
    def test_communities_partition_the_graph(self, spark):
        from tests.conftest import SF_MED

        rows = _q("q_label_prop")(spark, SF_MED).collect()
        nodes = {r.suppkey for r in rows}
        assert len(rows) == len(nodes)  # one label per node
        # labels are node ids (seeded) and sizes are consistent
        from collections import Counter

        sizes = Counter(r.label for r in rows)
        for r in rows:
            assert r.n_members == sizes[r.label]
        # the fixture graph is a community-free random projection, so
        # LPA legitimately converges toward one giant label; planted
        # structure is covered by test_planted_cliques_separate below
        assert len(sizes) >= 1

    def test_planted_cliques_separate(self, spark):
        from huckli_spark.operators.graph import label_propagation

        # two 5-cliques joined by one bridge edge: LPA must keep them
        # as two communities (the bridge vote is always outnumbered)
        edges = []
        for base in (0, 10):
            ids = [base + k for k in range(5)]
            edges += [(a, b) for a in ids for b in ids if a < b]
        edges.append((4, 10))  # the weak bridge
        e = spark.createDataFrame(edges, "s1: long, s2: long")
        labels = {
            r.v: r.label
            for r in label_propagation(e, iterations=4).collect()
        }
        left = {labels[k] for k in range(5)}
        right = {labels[k] for k in range(10, 15)}
        assert len(left) == 1 and len(right) == 1
        assert left != right

    def test_string_ids_rejected_before_planning(self, spark):
        from huckli_spark.operators.graph import label_propagation

        # numeric-looking strings would coerce silently on the
        # negation; the id check rejects the column type itself
        e = spark.createDataFrame([("1", "2"), ("2", "x")], "s1: string, s2: string")
        with pytest.raises(TypeError, match="numeric node ids; s1 is string"):
            label_propagation(e)
        mixed = spark.createDataFrame([(1, "2")], "s1: long, s2: string")
        with pytest.raises(TypeError, match="s2 is string"):
            label_propagation(mixed)


class TestDecayScore:
    def test_matches_pandas_shift_recompute(self, spark):
        import math

        import pandas as pd

        ev = pd.read_parquet(f"{SF_SMALL}/events.parquet")
        ev["d"] = pd.to_datetime(ev["ts"]).dt.normalize()
        d1 = ev["d"].max()
        ev["age"] = (d1 - ev["d"]).dt.days.clip(upper=62)
        ev["vm"] = (ev["value"] * 1_000_000 + 0.5).apply(math.floor).astype(int)
        ev["dv"] = ev["vm"] // (2 ** ev["age"])
        agg = ev.groupby("user_id")["dv"].sum().sort_values(ascending=False)
        got = _q("q_decay_score")(spark, SF_SMALL).collect()
        assert len(got) == min(25, ev["user_id"].nunique())
        for r in got:
            assert r.score_micro == int(agg[r.user_id]), r
        # ranking matches (score desc, user asc)
        expect_top = sorted(
            agg.items(), key=lambda kv: (-kv[1], kv[0])
        )[: len(got)]
        assert [(r.user_id, r.score_micro) for r in got] == [
            (int(u), int(s)) for u, s in expect_top
        ]


class TestCmsJoinSize:
    def test_one_sided_error_and_tightness(self, spark):
        r = _q("q_cms_join_size")(spark, SF_SMALL).collect()[0]
        assert r.exact_pairs > 0
        assert r.est_pairs >= r.exact_pairs  # CMS inner product: one-sided
        assert r.overestimate == r.est_pairs - r.exact_pairs
        # 150 users in 256 buckets: collisions exist but the min over
        # 4 rows keeps the estimate within ~2x on this fixture
        assert r.ratio < 2.0, r


class TestAnomalyDays:
    def test_flags_match_pandas_rolling_median(self, spark):
        import math

        import pandas as pd

        ev = pd.read_parquet(f"{SF_SMALL}/events.parquet")
        ev["vm"] = (ev["value"] * 1_000_000 + 0.5).apply(math.floor)
        ev["day"] = pd.to_datetime(ev["ts"]).dt.normalize()
        daily = (
            ev.groupby(["event_type", "day"])["vm"].sum().reset_index()
        )
        expect = set()
        for t, grp in daily.groupby("event_type"):
            grp = grp.sort_values("day").reset_index(drop=True)
            for i in range(len(grp)):
                window = grp["vm"][max(0, i - 7): i]
                if len(window) == 0:
                    continue
                med2 = int(2 * window.median())
                if 20 * grp["vm"][i] > 13 * med2:
                    expect.add((t, grp["day"][i].date()))
        got = {
            (r.event_type, r.day)
            for r in _q("q_anomaly_days")(spark, SF_SMALL).collect()
        }
        assert got == expect
        assert got  # threshold actually fires on the fixture


class TestRfmSegments:
    def test_quintiles_balanced_and_rules_applied(self, spark):
        rows = _q("q_rfm_segments")(spark, SF_SMALL).collect()
        n = len(rows)
        assert n == 150  # customers at sf0.001
        from collections import Counter

        for col in ("r_score", "f_score", "m_score"):
            c = Counter(getattr(r, col) for r in rows)
            assert set(c) == {1, 2, 3, 4, 5}
            assert max(c.values()) - min(c.values()) <= 1  # ntile balance
        for r in rows:
            if r.segment == "champion":
                assert r.r_score >= 4 and r.f_score >= 4 and r.m_score >= 4
            if r.segment == "hibernating":
                assert r.r_score <= 2 and r.f_score <= 2
        assert {r.segment for r in rows} >= {"champion", "hibernating"}


class TestShipLag:
    def test_buckets_clamped_and_counts_conserve(self, spark):
        import duckdb

        rows = _q("q_ship_lag")(spark, SF_SMALL).collect()
        assert all(-7 <= r.lag_years <= 7 for r in rows)
        total = sum(r.n_lines for r in rows)
        n_li = duckdb.sql(
            f"SELECT count(*) FROM '{SF_SMALL}/lineitem.parquet'"
        ).fetchone()[0]
        assert total == n_li  # every line lands in exactly one bucket
