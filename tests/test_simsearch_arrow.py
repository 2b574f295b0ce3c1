"""Product quantization: codebook round trip, code ranges, and the
ADC ranking against true neighbors on planted vectors."""

from __future__ import annotations


class TestProductQuantization:
    def _em(self, spark):
        import numpy as np

        rng = np.random.RandomState(7)
        rows = [
            (i, [float(x) for x in rng.randn(64).astype("float32")])
            for i in range(120)
        ]
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def test_codebook_vectors_encode_to_themselves(self, spark):
        from huckli_spark.operators import simsearch as ss

        em = self._em(spark)
        cbs = ss.pq_codebooks(em)
        enc = {r["vec_id"]: r for r in ss.pq_encode(em, cbs).collect()}
        for vid in range(ss.PQ_CODES):
            # vector vid IS code vid in every subspace: zero error,
            # code word = vid repeated in all 8 nibbles
            assert enc[vid]["err_micro"] == 0
            expect = sum(vid << (4 * s) for s in range(ss.PQ_M))
            assert enc[vid]["code_word"] == expect

    def test_codes_in_range_and_err_nonnegative(self, spark):
        from huckli_spark.operators import simsearch as ss

        em = self._em(spark)
        enc = ss.pq_encode(em, ss.pq_codebooks(em)).collect()
        for r in enc:
            assert r["err_micro"] >= 0
            for s in range(ss.PQ_M):
                assert 0 <= (r["code_word"] >> (4 * s)) & 15 < ss.PQ_CODES

    def test_adc_prefers_true_neighbors(self, spark):
        import numpy as np

        from huckli_spark.operators import simsearch as ss

        em = self._em(spark)
        cbs = ss.pq_codebooks(em)
        codes = ss.pq_encode(em, cbs)
        queries = em.where("vec_id < 5")
        adc = ss.pq_adc_topk(codes, queries, cbs, k=10).collect()
        rows = {r["vec_id"]: np.array(r["embedding"]) for r in em.collect()}
        # recall@10 of ADC vs exact L2 should be well above chance
        # (~10/119): quantized distances are lossy but correlated
        hits = total = 0
        for qid in range(5):
            truth = sorted(
                (np.sum((rows[qid] - rows[n]) ** 2), n)
                for n in rows
                if n != qid
            )[:10]
            true_ids = {n for _, n in truth}
            got_ids = {r["neighbor_id"] for r in adc if r["query_id"] == qid}
            hits += len(true_ids & got_ids)
            total += 10
        assert hits / total > 0.3, f"ADC recall@10 too low: {hits}/{total}"

    def test_adc_is_partitioning_invariant(self, spark):
        from huckli_spark.operators import simsearch as ss

        em = self._em(spark)
        cbs = ss.pq_codebooks(em)
        q = em.where("vec_id < 3")
        a = ss.pq_adc_topk(ss.pq_encode(em.repartition(1), cbs), q, cbs, k=5)
        b = ss.pq_adc_topk(ss.pq_encode(em.repartition(32), cbs), q, cbs, k=5)
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
