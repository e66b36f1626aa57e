"""Dedup + similarity operators: planted ground truth and brute-force
oracles."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geospatial_object_matching_spark.operators import dedup as DD
from geospatial_object_matching_spark.operators import similarity as SIM


@pytest.fixture(scope="module")
def docs(spark):
    rows = []
    base = [
        "the quick brown fox jumps over the lazy dog again and again",
        "spark query engines shuffle data between executors during joins",
        "geospatial entity resolution matches building meshes across sources",
        "completely unrelated text about cooking pasta with fresh tomatoes",
    ]
    did = 0
    for i, b in enumerate(base):
        for rep in range(3):  # exact duplicates
            rows.append((did, b, i))
            did += 1
        rows.append((did, b + " slightly changed tail", i))  # near-dup
        did += 1
    for j in range(30):  # unique noise
        rows.append((did, f"unique document number {j} with words w{j} x{j} y{j} z{j}", 99))
        did += 1
    return spark.createDataFrame(rows, "doc_id long, text string, label int").persist()


class TestExactDedup:
    def test_groups(self, docs):
        out = DD.dedup_exact(docs).toPandas()
        assert (out["dup_count"] >= 3).sum() == 4  # the 4 planted triples
        assert out["dup_count"].sum() == docs.count()

    def test_drop_dups(self, docs):
        kept = DD.drop_exact_dups(docs).toPandas()
        assert len(kept) == docs.select("text").distinct().count()
        # representative is min doc_id per text
        m = docs.groupBy("text").agg(F.min("doc_id").alias("m")).toPandas()
        assert set(kept["doc_id"]) == set(m["m"])


class TestMinHash:
    def test_near_dups_found(self, docs):
        sigs = DD.minhash_signatures(docs, n_hashes=64, shingle_k=4).persist()
        pairs = DD.minhash_lsh_pairs(sigs, bands=16).toPandas()
        high = pairs[pairs["est_jaccard"] >= 0.9]
        # every exact-duplicate pair must collide with est_jaccard 1.0
        texts = {r["doc_id"]: r["text"] for r in docs.collect()}
        for _, p in high.iterrows():
            pass
        exact_pairs = {
            (a, b)
            for a in texts
            for b in texts
            if a < b and texts[a] == texts[b]
        }
        found = set(map(tuple, pairs[["id_a", "id_b"]].values))
        assert exact_pairs <= found
        est1 = pairs.set_index(["id_a", "id_b"])["est_jaccard"]
        for pr in exact_pairs:
            assert est1.loc[pr] == 1.0

    def test_signature_determinism(self, docs):
        a = DD.minhash_signatures(docs, 32, 4).toPandas().set_index("doc_id")
        b = (
            DD.minhash_signatures(docs.repartition(7), 32, 4)
            .toPandas()
            .set_index("doc_id")
        )
        for did in a.index:
            np.testing.assert_array_equal(a.loc[did, "signature"], b.loc[did, "signature"])


class TestSimHash:
    def test_exact_dups_zero_hamming(self, docs):
        sigs = DD.simhash_signatures(docs, shingle_k=4).persist()
        pairs = DD.simhash_near_dup_pairs(sigs, max_hamming=3).toPandas()
        texts = {r["doc_id"]: r["text"] for r in docs.collect()}
        exact_pairs = {
            (a, b) for a in texts for b in texts if a < b and texts[a] == texts[b]
        }
        found = pairs.set_index(["id_a", "id_b"])["hamming"]
        for pr in exact_pairs:
            assert found.loc[pr] == 0


class TestNgramJaccard:
    def test_matches_bruteforce(self, docs):
        out = DD.ngram_jaccard_pairs(docs, n=3, threshold=0.3).toPandas()
        texts = {r["doc_id"]: r["text"] for r in docs.collect()}

        def grams(t):
            ws = t.strip().split()
            if len(ws) < 3:
                return {" ".join(ws)}
            return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}

        expected = {}
        ids = sorted(texts)
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                ga, gb = grams(texts[a]), grams(texts[b])
                j = len(ga & gb) / len(ga | gb)
                if j >= 0.3:
                    expected[(a, b)] = j
        got = {(r["id_a"], r["id_b"]): r["jaccard"] for _, r in out.iterrows()}
        assert set(got) == set(expected)
        for k in expected:
            assert got[k] == pytest.approx(expected[k], abs=1e-9)


class TestCosine:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        rng = np.random.default_rng(3)
        vecs = rng.normal(0, 1, (80, 16)).astype(np.float32)
        rows = [(i, vecs[i].tolist(), int(i % 4)) for i in range(80)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
        return df.persist(), vecs

    def test_topk_matches_numpy(self, emb):
        df, vecs = emb
        out = SIM.cosine_topk(df, df.filter(F.col("vec_id") < 5), k=4).toPandas()
        v = vecs.astype(np.float64)
        norms = np.linalg.norm(v, axis=1)
        for q in range(5):
            cos = (v @ v[q]) / (norms * norms[q])
            cos[q] = -np.inf
            order = sorted(range(80), key=lambda j: (-cos[j], j))[:4]
            sub = out[out["query_id"] == q].sort_values("rank")
            assert list(sub["vec_id"]) == order
            np.testing.assert_allclose(
                sub["cosine"].to_numpy(), cos[order], atol=1e-9
            )

    def test_dense_equals_crossjoin(self, emb):
        """dense_cosine_topk (broadcast GEMM kernel) == cosine_topk
        (crossJoin + rank window) on the same input: identical ids, ranks
        and cosines (1e-9 — BLAS vs JVM fold sum order)."""
        df, vecs = emb
        q = df.filter(F.col("vec_id") < 7)
        a = (
            SIM.cosine_topk(df, q, k=4)
            .toPandas()
            .sort_values(["query_id", "rank"])
            .reset_index(drop=True)
        )
        b = (
            SIM.dense_cosine_topk(df, q, k=4)
            .toPandas()
            .sort_values(["query_id", "rank"])
            .reset_index(drop=True)
        )
        assert list(a["query_id"]) == list(b["query_id"])
        assert list(a["vec_id"]) == list(b["vec_id"])
        assert list(a["rank"]) == list(b["rank"])
        np.testing.assert_allclose(
            a["cosine"].to_numpy(), b["cosine"].to_numpy(), atol=1e-9
        )

    def test_dense_tie_order_and_self_exclusion(self, spark):
        """Many exact-duplicate vectors: ties must break by vec_id asc
        (including ties that straddle the argpartition boundary) and the
        query's own row must be excluded."""
        base = [1.0, 2.0, 3.0, 4.0]
        rows = [(i, base) for i in range(30)] + [(99, [4.0, 3.0, 2.0, 1.0])]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = (
            SIM.dense_cosine_topk(df, df.filter(F.col("vec_id") == 5), k=10)
            .toPandas()
            .sort_values("rank")
        )
        # 30 duplicates minus self → ids 0..10 skipping 5, in id order
        assert list(out["vec_id"]) == [0, 1, 2, 3, 4, 6, 7, 8, 9, 10]
        assert list(out["rank"]) == list(range(1, 11))
        assert (out["cosine"] > 0.999999).all()

    def test_dense_blocked_scan_tie_exactness(self, spark):
        """Force the multi-block path (tiny _block_cells) on an
        adversarial all-tied index: block cuts drop boundary ties, so
        the exact-tie fallback must re-derive and still return the
        smallest ids in id order — and match the single-block answer."""
        base = [1.0, 2.0, 3.0, 4.0]
        rows = [(i, base) for i in range(200)] + [
            (500 + i, [4.0, 3.0, 2.0, 1.0]) for i in range(40)
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        q = df.filter(F.col("vec_id").isin(5, 501))
        blocked = (
            SIM.dense_cosine_topk(df, q, k=10, _block_cells=64)
            .toPandas()
            .sort_values(["query_id", "rank"])
            .reset_index(drop=True)
        )
        single = (
            SIM.dense_cosine_topk(df, q, k=10)
            .toPandas()
            .sort_values(["query_id", "rank"])
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(blocked, single)
        got5 = blocked[blocked["query_id"] == 5]
        assert list(got5["vec_id"]) == [0, 1, 2, 3, 4, 6, 7, 8, 9, 10]

    def test_dense_exclude_self_false_keeps_true_match(self, emb):
        """Cross-table blocking form: with exclude_self=False the
        id-equal index row stays in and ranks first (cosine 1.0 with
        itself) — the PC@k true-match semantics."""
        df, _ = emb
        out = (
            SIM.dense_cosine_topk(
                df, df.filter(F.col("vec_id") < 5), k=3, exclude_self=False
            )
            .toPandas()
            .sort_values(["query_id", "rank"])
        )
        top1 = out[out["rank"] == 1]
        assert list(top1["vec_id"]) == list(top1["query_id"])
        assert (top1["cosine"] > 0.999999).all()

    def test_bigindex_equals_dense_multibatch(self, spark):
        """Inverted-broadcast form == driver-collect form on a 5000-row
        single-partition index (>1 Arrow batch, so the streamed
        threshold-merge path runs) with random vectors."""
        rng = np.random.default_rng(3)
        vecs = rng.normal(size=(5000, 8))
        pdf = pd.DataFrame(
            {"vec_id": range(5000), "embedding": list(vecs)}
        )
        df = spark.createDataFrame(pdf).repartition(1)
        q = df.filter(F.col("vec_id") < 25)
        a = (
            SIM.dense_cosine_topk(df, q, k=7)
            .toPandas()
            .sort_values(["query_id", "rank"])
            .reset_index(drop=True)
        )
        b = (
            SIM.dense_cosine_topk_bigindex(df, q, k=7)
            .toPandas()
            .sort_values(["query_id", "rank"])
            .reset_index(drop=True)
        )
        assert list(a["query_id"]) == list(b["query_id"])
        assert list(a["vec_id"]) == list(b["vec_id"])
        assert list(a["rank"]) == list(b["rank"])
        np.testing.assert_allclose(
            a["cosine"].to_numpy(), b["cosine"].to_numpy(), atol=1e-9
        )

    def test_bigindex_tie_order_across_partitions(self, spark):
        """All-duplicate vectors spread over 4 index partitions: the
        per-partition local top-k must keep smallest ids under ties and
        the window merge must preserve global (-cosine, id asc) order."""
        base = [1.0, 2.0, 3.0, 4.0]
        rows = [(i, base) for i in range(100)] + [
            (900 + i, [4.0, 3.0, 2.0, 1.0]) for i in range(20)
        ]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        ).repartition(4)
        out = (
            SIM.dense_cosine_topk_bigindex(
                df, df.filter(F.col("vec_id") == 7), k=10
            )
            .toPandas()
            .sort_values("rank")
        )
        assert list(out["vec_id"]) == [0, 1, 2, 3, 4, 5, 6, 8, 9, 10]
        assert (out["cosine"] > 0.999999).all()

    def test_dense_and_bigindex_drop_malformed_rows(self, spark):
        """Null embeddings and wrong-length vectors are silently dropped
        on both sides (the extract-stage convention: one bad document
        never kills an Arrow batch) — results equal the clean-input
        run."""
        rng = np.random.default_rng(9)
        good = [(i, rng.normal(size=4).tolist()) for i in range(40)]
        bad = [(100, None), (101, [1.0, 2.0]), (102, [])]
        schema = "vec_id long, embedding array<double>"
        clean = spark.createDataFrame(good, schema)
        dirty = spark.createDataFrame(good + bad, schema)
        q_clean = clean.filter(F.col("vec_id") < 5)
        q_dirty = dirty.filter((F.col("vec_id") < 5) | (F.col("vec_id") >= 100))
        for fn in (SIM.dense_cosine_topk, SIM.dense_cosine_topk_bigindex):
            a = (
                fn(clean, q_clean, k=3)
                .toPandas()
                .sort_values(["query_id", "rank"])
                .reset_index(drop=True)
            )
            b = (
                fn(dirty, q_dirty, k=3)
                .toPandas()
                .sort_values(["query_id", "rank"])
                .reset_index(drop=True)
            )
            pd.testing.assert_frame_equal(a, b)

    def test_dense_dispatch_routes_to_bigindex(self, spark):
        """Round-5 dispatch: past dispatch_threshold index rows (and a
        query side within the bigindex cap) dense_cosine_topk must route
        to the inverted-broadcast kernel and return identical rows."""
        rng = np.random.default_rng(3)
        df = spark.createDataFrame(
            [(i, rng.normal(size=6).tolist()) for i in range(60)],
            "vec_id long, embedding array<double>",
        )
        q = df.filter(F.col("vec_id") < 8)
        via_dispatch = (
            SIM.dense_cosine_topk(df, q, k=4, dispatch_threshold=0)
            .toPandas()
            .sort_values(["query_id", "rank"])
            .reset_index(drop=True)
        )
        flat = (
            SIM.dense_cosine_topk(df, q, k=4)  # 60 rows < default threshold
            .toPandas()
            .sort_values(["query_id", "rank"])
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(via_dispatch, flat)
        # dispatch must also lift the driver-collect index cap: an index
        # past index_cap with a bounded query side now succeeds
        out = SIM.dense_cosine_topk(
            df, q, k=4, dispatch_threshold=0, index_cap=5
        )
        assert out.count() == 8 * 4

    def test_batched_bigindex_equals_flat(self, spark):
        """Round-5 any-|Q|-any-|B| path: hash-batched bigindex (several
        index passes) must equal the flat kernel row-for-row."""
        rng = np.random.default_rng(7)
        df = spark.createDataFrame(
            [(i, rng.normal(size=5).tolist()) for i in range(70)],
            "vec_id long, embedding array<double>",
        )
        q = df.filter(F.col("vec_id") < 25)
        batched = (
            SIM.dense_cosine_topk_batched(df, q, k=4, batch_rows=7)
            .toPandas()
            .sort_values(["query_id", "rank"])
            .reset_index(drop=True)
        )
        flat = (
            SIM.dense_cosine_topk(df, q, k=4)
            .toPandas()
            .sort_values(["query_id", "rank"])
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(batched, flat)

    def test_bigindex_query_cap_raises(self, spark):
        df = spark.createDataFrame(
            [(i, [float(i), 1.0]) for i in range(10)],
            "vec_id long, embedding array<float>",
        )
        with pytest.raises(ValueError, match="cap"):
            SIM.dense_cosine_topk_bigindex(df, df, k=2, query_cap=5)

    def test_dense_index_cap_raises(self, spark):
        df = spark.createDataFrame(
            [(i, [float(i), 1.0]) for i in range(10)],
            "vec_id long, embedding array<float>",
        )
        with pytest.raises(ValueError, match="cap"):
            SIM.dense_cosine_topk(df, df, k=2, index_cap=5)

    def test_lsh_subset_of_bucket(self, emb):
        df, vecs = emb
        out = SIM.lsh_cosine_topk(
            df, df.filter(F.col("vec_id") < 5), k=4, n_planes=4
        ).toPandas()
        # structural: ranks contiguous from 1, no self matches, cosine desc
        for q, grp in out.groupby("query_id"):
            grp = grp.sort_values("rank")
            assert list(grp["rank"]) == list(range(1, len(grp) + 1))
            assert (grp["vec_id"] != q).all()
            assert (np.diff(grp["cosine"].to_numpy()) <= 1e-12).all()

    def test_near_dup_pairs(self, emb):
        df, vecs = emb
        out = SIM.embedding_near_dup_pairs(df, threshold=0.3, bucket_col="label").toPandas()
        v = vecs.astype(np.float64)
        norms = np.linalg.norm(v, axis=1)
        expected = set()
        for a in range(80):
            for b in range(a + 1, 80):
                if a % 4 == b % 4 and (v[a] @ v[b]) / (norms[a] * norms[b]) >= 0.3:
                    expected.add((a, b))
        assert set(map(tuple, out[["id_a", "id_b"]].values)) == expected

    def test_ivf_structure_recall_and_determinism(self, emb):
        """IVF ANN (round 3): ranks contiguous, no self matches, cosine
        descending; every returned neighbor shares a probed centroid with
        the query; recall@4 vs brute force is well above the 1-bucket
        floor; two runs are identical (driver k-means is seeded)."""
        df, vecs = emb
        out = SIM.ivf_cosine_topk(
            df, df.filter(F.col("vec_id") < 8), k=4, n_centroids=8, n_probe=3
        ).toPandas()
        out2 = SIM.ivf_cosine_topk(
            df, df.filter(F.col("vec_id") < 8), k=4, n_centroids=8, n_probe=3
        ).toPandas()
        key = ["query_id", "vec_id", "rank"]
        assert out.sort_values(key).reset_index(drop=True).equals(
            out2.sort_values(key).reset_index(drop=True)
        )
        v = vecs.astype(np.float64)
        norms = np.linalg.norm(v, axis=1)
        hits = total = 0
        for q, grp in out.groupby("query_id"):
            grp = grp.sort_values("rank")
            assert list(grp["rank"]) == list(range(1, len(grp) + 1))
            assert (grp["vec_id"] != q).all()
            assert (np.diff(grp["cosine"].to_numpy()) <= 1e-12).all()
            cos = (v @ v[q]) / (norms * norms[q])
            cos[q] = -np.inf
            brute = set(sorted(range(80), key=lambda j: (-cos[j], j))[:4])
            hits += len(brute & set(grp["vec_id"]))
            total += 4
        assert hits / total >= 0.5, f"IVF recall@4 too low: {hits}/{total}"

    def test_ivf_assignment_matches_spec_oracle(self, emb):
        """Engine JVM argmax-dot assignment == independent numpy spec
        reimplementation (the gen_expected tier contract)."""
        df, vecs = emb
        from geospatial_object_matching_spark.operators.similarity import (
            ivf_assign,
            ivf_kmeans_centroids,
        )

        C = ivf_kmeans_centroids(vecs.astype(np.float64), 8, n_iters=5, seed=7)
        got = (
            ivf_assign(
                df.select("vec_id", F.col("embedding").cast("array<double>").alias("bv")),
                C,
                vec_col="bv",
            )
            .select("vec_id", "cid")
            .toPandas()
            .sort_values("vec_id")
        )
        v = vecs.astype(np.float64)
        want = [int(np.argmax([np.dot(x, c) for c in C])) for x in v]
        assert got["cid"].tolist() == want
