"""Dedup / similarity / textstats / canonicalization / skew operators —
verified against straightforward Python recomputations on small inputs."""

import hashlib
import math

from pyspark.sql import functions as F

from uckg_spark.operators import canonicalize, dedup, similarity, skew, textstats


def h32_py(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def _docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),
        (2, "completely different text with no overlap at all here"),
        (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 0
        (4, "the quick brown fox leaps over the lazy dog"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


class TestDedup:
    def test_exact(self, spark):
        groups = dedup.exact_duplicates(_docs(spark)).collect()
        assert len(groups) == 1
        g = groups[0]
        assert g["keeper_id"] == 0 and g["dup_ids"] == [0, 3]

    def test_jaccard_pairs(self, spark):
        pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"]
                 for r in dedup.ngram_jaccard_pairs(_docs(spark), n=3, threshold=0.3).collect()}
        assert (0, 3) in pairs and pairs[(0, 3)] == 1.0
        assert (0, 1) in pairs and 0.3 <= pairs[(0, 1)] < 1.0
        assert not any(2 in p for p in pairs)

    def test_minhash_agrees_with_python(self, spark):
        sigs = {r["doc_id"]: r["sig"] for r in
                dedup.minhash_signatures(_docs(spark), num_hashes=8, n=3).collect()}

        def py_sig(text, k=8, n=3):
            import hashlib

            toks = text.split()
            sh = {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}

            def hj(s, j):
                d = hashlib.md5(f"{j // 4}:{s}".encode()).hexdigest()
                return int(d[8 * (j % 4): 8 * (j % 4) + 8], 16)

            return [min(hj(s, j) for s in sh) for j in range(k)]

        assert sigs[0] == py_sig("the quick brown fox jumps over the lazy dog")

    def test_lsh_finds_exact_dups(self, spark):
        pairs = {(r["doc_a"], r["doc_b"]) for r in
                 dedup.minhash_lsh_pairs(_docs(spark), num_hashes=8, bands=4).collect()}
        assert (0, 3) in pairs

    def test_exact_dedup_apply_keeps_min(self, spark):
        kept = sorted(r["doc_id"] for r in
                      dedup.exact_dedup_apply(_docs(spark)).collect())
        assert kept == [0, 1, 2, 4]  # doc 3 (exact dup of 0) removed

    def test_near_dup_keepers_clusters_and_passthrough(self, spark):
        out = {r["doc_id"]: r["cluster_id"] for r in
               dedup.near_duplicate_keepers(
                   _docs(spark), num_hashes=8, bands=4).collect()}
        # docs 0 and 3 are identical → same cluster, min id (0) kept;
        # doc 3 removed entirely
        assert 3 not in out
        assert out[0] == 0
        # doc 2 shares nothing → unpaired passthrough, own cluster
        assert out[2] == 2
        # every kept doc appears exactly once
        assert len(out) == len(set(out))

    def test_simhash_exact_dups_equal(self, spark):
        fps = {r["doc_id"]: r["simhash"] for r in dedup.simhash(_docs(spark)).collect()}
        assert fps[0] == fps[3]
        assert fps[0] != fps[2]
        dups = dedup.simhash_duplicates(_docs(spark)).collect()
        assert any(set(r["doc_ids"]) >= {0, 3} for r in dups)

    def test_simhash_near_dup_matches_brute_force(self, spark):
        """Chunk banding at radius k is LOSSLESS (pigeonhole): the banded
        pair set must equal the all-pairs popcount-≤k set exactly, for
        every k — including k where bits % (k+1) != 0 (uneven last chunk)."""
        docs = _docs(spark)
        fps = {r["doc_id"]: r["simhash"] for r in dedup.simhash(docs).collect()}
        for k in (0, 1, 2, 3):
            got = {(r["doc_a"], r["doc_b"], r["hamming"]) for r in
                   dedup.simhash_near_dup_pairs(docs, bits=16, k=k).collect()}
            want = {
                (a, b, bin(fps[a] ^ fps[b]).count("1"))
                for a in fps for b in fps
                if a < b and bin(fps[a] ^ fps[b]).count("1") <= k
            }
            assert got == want, f"k={k}"
        # the exact dup pair is always present at any radius
        assert any(p[:2] == (0, 3) for p in got)


class TestSimilarity:
    def test_brute_force_topk_matches_python(self, spark):
        vecs = [(i, [float((i * 7 + j * 3) % 11) for j in range(6)]) for i in range(20)]
        df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
        q = vecs[0][1]
        got = [(r["vec_id"], r["cos_sim"]) for r in
               similarity.brute_force_topk(df, q, k=5).collect()]

        def cos(a, b):
            d = sum(x * y for x, y in zip(a, b))
            return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))

        want = sorted(((i, round(cos(v, q), 6)) for i, v in vecs),
                      key=lambda t: (-t[1], t[0]))[:5]
        assert got == want

    def test_lsh_buckets_contain_identical_vectors(self, spark):
        vecs = [(0, [1.0, 2.0, 3.0, 4.0]), (1, [1.0, 2.0, 3.0, 4.0]),
                (2, [-1.0, -2.0, -3.0, -4.0])]
        df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
        pairs = {(r["id_a"], r["id_b"]): r["cos_sim"] for r in
                 similarity.lsh_bucketed_pairs(df, dim=4, n_planes=4, threshold=0.9).collect()}
        assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
        assert not any(2 in p for p in pairs)

    def test_ivf_topk_matches_python_model(self, spark):
        """IVF = assign-to-nearest-centroid + probe-cell exact search: a
        pure-Python model of the same arithmetic must reproduce the result
        set exactly (the property the DuckDB oracle relies on)."""
        vecs = [(i, [float((i * 5 + j * 7) % 13 + 1) for j in range(6)])
                for i in range(40)]
        df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
        q = vecs[2][1]
        got = [(r["vec_id"], r["centroid_id"], r["cos_sim"]) for r in
               similarity.ivf_topk(df, q, n_centroids=4, n_probe=2, k=5).collect()]

        def cos(a, b):
            d = sum(x * y for x, y in zip(a, b))
            return d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))

        cents = vecs[:4]
        def assign(v):
            return min(cents, key=lambda c: (-cos(c[1], v), c[0]))[0]
        probes = [c for c, _ in sorted(cents, key=lambda c: (-cos(c[1], q), c[0]))[:2]]
        model = sorted(
            ((i, assign(v), cos(v, q)) for i, v in vecs if assign(v) in probes),
            key=lambda t: (-t[2], t[0]))[:5]
        assert got == [(i, c, round(s, 6)) for i, c, s in model]
        # probe pruning is real: some corpus rows fall outside probed cells
        assert len({assign(v) for _, v in vecs}) > 2

    def test_multi_table_lsh_recovers_salt_cap_recall(self, spark):
        """Quantifies what max_bucket_rows costs and what n_tables buys:
        a 60-row near-identical cluster (base chosen with |projection| >
        0.5 on every plane of tables 0-2, so bucket splitting — not
        hyperplane straddle — is the only recall loss) capped at 20 rows
        splits into 3 salt groups; each independent table recovers a
        different random partition's cross pairs. Precision stays 1.0:
        the exact-cosine verify never admits a false pair."""
        import itertools
        import random

        rng = random.Random(11)
        base = [0.585, 0.335, 0.467, 0.128, -0.794, 0.176, -0.99, -0.713]
        rows = [(i, [x + rng.uniform(-0.01, 0.01) for x in base])
                for i in range(60)]
        rows += [(100 + i, [rng.uniform(-1, 1) for _ in range(8)])
                 for i in range(20)]
        emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
        thr = 0.999

        def cos(a, b):
            d = sum(x * y for x, y in zip(a, b))
            return d / (math.sqrt(sum(x * x for x in a))
                        * math.sqrt(sum(y * y for y in b)))

        truth = {(a, b) for (a, va), (b, vb) in itertools.combinations(rows, 2)
                 if cos(va, vb) >= thr}
        assert len(truth) == 1770  # the full cluster clique

        def run(**kw):
            return {(r["id_a"], r["id_b"]) for r in similarity.lsh_bucketed_pairs(
                emb, dim=8, n_planes=4, threshold=thr, **kw).collect()}

        assert run() == truth  # uncapped: margin-safe base ⇒ recall 1.0
        recalls = []
        for n_tables in (1, 2, 3):
            got = run(max_bucket_rows=20, n_tables=n_tables)
            assert got <= truth  # precision 1.0 at any table count
            recalls.append(len(got) / len(truth))
        r1, r2, r3 = recalls
        assert r1 < 0.35          # the cap's measured cost at g=3
        assert r1 < r2 < r3       # each table strictly adds recall
        assert r2 >= 0.45 and r3 >= 0.6

    def test_ivf_refinement_improves_recall_on_skewed_seeds(self, spark):
        """One deterministic k-means pass must (a) fix the recall the
        deterministic id-ordered seeds lose when they all land in one
        cluster, and (b) be a fixpoint-stable, partitioning-independent
        refinement (fixed-point sums — iter 2 equals iter 1 here)."""
        import random

        rng = random.Random(7)

        def jitter(base, amp=0.05):
            return [x + rng.uniform(-amp, amp) for x in base]

        a, b, c = [1.0, 0, 0, 0], [0, 1.0, 0, 0], [0, 0, 1.0, 0]
        rows = [(i, jitter(a)) for i in range(8)]         # seeds: ALL in A
        rows += [(i, jitter(b)) for i in range(8, 40)]
        rows += [(i, jitter(c)) for i in range(40, 64)]
        emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
        q = [0.0, 0.7, 0.7, 0.0]  # between B and C: truth spans both
        truth = {r["vec_id"] for r in
                 similarity.brute_force_topk(emb, q, k=10).collect()}
        seeds = similarity.ivf_centroids(emb, 8)

        def recall(cents):
            got = {r["vec_id"] for r in similarity.ivf_topk(
                emb, q, n_probe=2, k=10, centroids=cents).collect()}
            return len(got & truth) / 10

        r0 = recall(seeds)
        refined = similarity.ivf_refine_centroids(emb, seeds, iters=1)
        r1 = recall(refined)
        assert r0 <= 0.8 and r1 == 1.0 and r1 > r0
        # fixed-point sums ⇒ BIT-IDENTICAL centroids under any
        # partitioning (the property the DuckDB oracle relies on; a plain
        # float sum would vary with partition-merge order)
        assert similarity.ivf_refine_centroids(
            emb.repartition(7, "vec_id"), seeds, iters=1) == refined
        assert recall(similarity.ivf_refine_centroids(
            emb, seeds, iters=2)) == 1.0

    def test_hashed_seeds_beat_first_n_on_id_skew(self, spark):
        """ivf_centroids_hashed picks seeds by (h32(id), id) — content-
        blind, so an id ordering that packs one cluster into the low ids
        (crawl-order skew) cannot collapse the seed spread. On the same
        skewed fixture where first-n-ids seeds all land in cluster A
        (recall 0.7 unrefined), hashed seeds hit full recall BEFORE
        refinement, and refinement does not degrade them."""
        import random

        rng = random.Random(7)

        def jitter(base, amp=0.05):
            return [x + rng.uniform(-amp, amp) for x in base]

        a, b, c = [1.0, 0, 0, 0], [0, 1.0, 0, 0], [0, 0, 1.0, 0]
        rows = [(i, jitter(a)) for i in range(8)]         # low ids: ALL in A
        rows += [(i, jitter(b)) for i in range(8, 40)]
        rows += [(i, jitter(c)) for i in range(40, 64)]
        emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
        q = [0.0, 0.7, 0.7, 0.0]  # between B and C: truth spans both
        truth = {r["vec_id"] for r in
                 similarity.brute_force_topk(emb, q, k=10).collect()}

        def recall(cents):
            got = {r["vec_id"] for r in similarity.ivf_topk(
                emb, q, n_probe=2, k=10, centroids=cents).collect()}
            return len(got & truth) / 10

        hashed = similarity.ivf_centroids_hashed(emb, 8)
        # the seed RULE mirrors the oracle: min-8 by (h32(str(id)), id)
        want_ids = sorted(
            i for i, _ in rows if i in
            {i2 for i2 in sorted((i3 for i3, _ in rows),
                                 key=lambda x: (h32_py(str(x)), x))[:8]})
        assert [cid for cid, _ in hashed] == want_ids
        assert recall(similarity.ivf_centroids(emb, 8)) <= 0.8  # first-n
        assert recall(hashed) == 1.0
        assert recall(similarity.ivf_refine_centroids(
            emb, hashed, iters=1)) == 1.0

    def test_knn_join_pandas(self, spark):
        vecs = [(i, [float((i + j) % 5 + 1) for j in range(4)]) for i in range(30)]
        df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
        out = similarity.knn_join_pandas(df, [(99, vecs[3][1])], k=3).collect()
        assert len(out) == 3
        assert all(r["query_id"] == 99 for r in out)
        assert out[0]["cos_sim"] == 1.0  # vec 3 itself tops


class TestLshScale:
    def test_adaptive_n_planes_grows_with_corpus(self):
        from uckg_spark.operators.similarity import adaptive_n_planes

        assert adaptive_n_planes(1000, target_bucket_rows=1024) == 4  # floor
        assert adaptive_n_planes(1 << 20, target_bucket_rows=1024) == 10
        assert adaptive_n_planes(1 << 30, target_bucket_rows=1024) == 20
        assert adaptive_n_planes(1 << 60, target_bucket_rows=1024) == 24  # cap
        # doubling the corpus adds at most one plane (bucket count doubles)
        assert (adaptive_n_planes(2 << 20) - adaptive_n_planes(1 << 20)) <= 1

    def test_bucket_cap_bounds_skewed_population(self, spark):
        """A hot cluster (thousands of near-identical vectors) lands in ONE
        hyperplane bucket no matter the plane count; the salt cap must
        bound the within-bucket join anyway."""
        from pyspark.sql import functions as F

        from uckg_spark.operators.similarity import lsh_bucketed_pairs

        dim = 8
        base = [1.0, 0.5, -0.25, 0.75, -1.0, 0.3, 0.9, -0.6]
        emb = spark.range(2000).select(
            F.col("id").alias("vec_id"),
            F.array(*[F.lit(x) for x in base]).alias("embedding"),
        )
        pairs = lsh_bucketed_pairs(
            emb, dim=dim, n_planes=4, threshold=0.9, max_bucket_rows=100)
        n_pairs = pairs.count()
        # uncapped: 2000 identical vectors → C(2000,2) ≈ 2.0M pairs.
        # capped at 100/salt-group: ceil(2000/100)=20 groups of ~100 →
        # ≈ 20·C(100,2) ≈ 99k. Assert well under quadratic and non-empty.
        assert 0 < n_pairs < 300_000, n_pairs

    def test_xxhash_fast_path_same_shape(self, spark):
        """hasher='xxhash64' must find the same exact-duplicate pairs as
        md5 (identical docs collide under any hash); fingerprints differ."""
        from uckg_spark.operators.dedup import (
            minhash_lsh_pairs, minhash_signatures, simhash,
        )

        docs = _docs(spark)
        # docs 0 and 3 are byte-identical → every band collides under ANY
        # hash function; both paths must report the pair
        md5_pairs = {tuple(r) for r in minhash_lsh_pairs(
            docs, num_hashes=8, bands=4).collect()}
        xxh_pairs = {tuple(r) for r in minhash_lsh_pairs(
            docs, num_hashes=8, bands=4, hasher="xxhash64").collect()}
        assert (0, 3) in md5_pairs and (0, 3) in xxh_pairs
        # signatures themselves differ (different hash family)...
        sig_md5 = {r["doc_id"]: r["sig"] for r in
                   minhash_signatures(docs, 4).collect()}
        sig_xxh = {r["doc_id"]: r["sig"] for r in
                   minhash_signatures(docs, 4, hasher="xxhash64").collect()}
        assert sig_md5[0] != sig_xxh[0]
        # ...but exact dups share signatures within each family
        assert sig_xxh[0] == sig_xxh[3]
        fps = {r["doc_id"]: r["simhash"] for r in
               simhash(docs, hasher="xxhash64").collect()}
        assert fps[0] == fps[3] and fps[0] != fps[2]


class TestTextstats:
    def test_language_scores(self, spark):
        df = spark.createDataFrame(
            [(0, "the cat is in the house and it is warm"),
             (1, "der hund ist nicht in das haus und die katze")],
            ["doc_id", "text"])
        got = {r["doc_id"]: r["lang_guess"] for r in textstats.language_scores(df).collect()}
        assert got == {0: "en", 1: "de"}

    def test_quality_monotone_in_length(self, spark):
        df = spark.createDataFrame(
            [(0, "the of and a to in is that " * 20), (1, "x!!!")],
            ["doc_id", "text"])
        q = {r["doc_id"]: r["quality_e6"] for r in textstats.quality_scores(df).collect()}
        assert q[0] > q[1]

    def test_token_counts(self, spark):
        df = spark.createDataFrame([(0, "a b-c d.e")], ["doc_id", "text"])
        r = textstats.token_counts(df).collect()[0]
        assert r["ws_tokens"] == 3
        assert r["bpeish_tokens"] == 7  # a, b, -, c, d, ., e

    def test_fingerprint_order_sensitive(self, spark):
        df = spark.createDataFrame(
            [(0, "alpha beta gamma"), (1, "gamma beta alpha")],
            ["doc_id", "text"])
        fp = {r["doc_id"]: r["fingerprint"] for r in textstats.fingerprints(df).collect()}
        assert fp[0] != fp[1]


class TestCanonicalize:
    def test_connected_components(self, spark):
        edges = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("x", "y"), ("p", "p2"), ("p2", "p3"),
             ("p3", "p4")],
            ["src", "dst"])
        cc = {r["node"]: r["component"]
              for r in canonicalize.connected_components(edges).collect()}
        assert cc["a"] == cc["b"] == cc["c"] == "a"
        assert cc["x"] == cc["y"] == "x"
        assert cc["p4"] == "p"

    def test_canonical_map_prefers_real_ids(self, spark):
        alias = spark.createDataFrame(
            [("acme soft", "acmesoft:webgate"),
             ("acme-soft webgate", "acmesoft:webgate"),
             ("zebra alias", "zulu:tool")],
            ["surface_key", "canonical_id"])
        cmap = {r["member"]: r["canonical"]
                for r in canonicalize.canonical_map(alias).collect()}
        assert cmap["surface:acme soft"] == "acmesoft:webgate"
        assert cmap["zulu:tool"] == "zulu:tool"


class TestSkew:
    def test_salted_agg_counts(self, spark):
        rows = [("hot", f"u{i}") for i in range(500)] + [("cold", "u0")]
        df = spark.createDataFrame(rows, ["entity", "url"])
        out = {r["entity"]: r["mentions"] for r in skew.salted_agg(
            df, ["entity"],
            [F.count("*").alias("c")],
            [F.sum("c").alias("mentions")],
            unique_col="url", n_salt=8).collect()}
        assert out == {"hot": 500, "cold": 1}

    def test_salted_distinct(self, spark):
        rows = [("k1",)] * 100 + [("k2",)] * 3
        df = spark.createDataFrame(rows, ["k"])
        got = sorted(r["k"] for r in skew.salted_distinct(df, ["k"]).collect())
        assert got == ["k1", "k2"]

    def test_salted_join_matches_plain_join_under_skew(self, spark):
        # one hot key carries 90% of the fact table; rows must be
        # IDENTICAL to the plain join and the salt column must not leak
        rows = [(i, 7 if i % 10 else i % 5, f"v{i}") for i in range(200)]
        fact = spark.createDataFrame(rows, ["fid", "k", "v"])
        dim = spark.createDataFrame(
            [(i, f"name{i}") for i in range(8)], ["k", "name"])
        got = skew.salted_join(fact, dim, "k", n_salt=4, salt_src="fid")
        want = fact.join(dim, "k")
        assert sorted(got.columns) == sorted(want.columns)
        cols = sorted(got.columns)
        assert sorted(map(tuple, got.select(cols).collect())) \
            == sorted(map(tuple, want.select(cols).collect()))

    def test_salted_join_unmatched_fact_rows_drop(self, spark):
        fact = spark.createDataFrame(
            [(1, 10, "a"), (2, 99, "b")], ["fid", "k", "v"])
        dim = spark.createDataFrame([(10, "x")], ["k", "name"])
        out = skew.salted_join(fact, dim, "k", n_salt=3, salt_src="fid")
        assert [tuple(r) for r in out.select("k", "fid", "v", "name")
                .collect()] == [(10, 1, "a", "x")]

    def test_salted_join_rejects_bad_salt(self, spark):
        import pytest as _pytest

        fact = spark.range(1).withColumnRenamed("id", "k")
        with _pytest.raises(ValueError):
            skew.salted_join(fact, fact, "k", n_salt=0)


class TestMultimodal:
    def test_feature_plumbing(self, spark):
        from uckg_spark.operators import multimodal

        media = multimodal.synthetic_media(spark, n=12)
        feats = multimodal.extract_features(media).collect()
        assert len(feats) == 12
        by_kind = {r["kind"]: len(r["feature"]) for r in feats}
        assert by_kind == {"image": 8, "audio": 4, "video": 6}
        assert all(r["digest"] and r["n_bytes"] > 0 for r in feats)

    def test_png_fallback_and_spark_path(self, spark):
        """Payloads no container parser accepts keep the deterministic
        per-kind sha256 fallback (the oracle contract) — image, audio
        and video alike, PNG/WAV/GIF-looking bytes included — and the
        same features come out of the mapInPandas extractor."""
        import hashlib

        import pytest as _pytest

        from uckg_spark.operators import multimodal

        def fake(salt, payload, dims):
            d = hashlib.sha256(salt + payload).digest()
            return [b / 255.0 for b in d[:dims]]

        junk = {"image": (b"\x89PNG\r\n\x1a\nnot-a-png" * 4, b"", 8),
                "audio": (b"RIFFnope" * 8, b"audio:", 4),
                "video": (b"GIFnope" * 8, b"video:", 6)}
        for kind, (payload, salt, dims) in junk.items():
            assert multimodal.MEDIA_DECODERS[kind](payload) == \
                fake(salt, payload, dims)

        media = spark.createDataFrame(
            [(i, kind, None, bytearray(payload), {})
             for i, (kind, (payload, _s, _d)) in enumerate(junk.items())],
            multimodal.MEDIA_SCHEMA)
        for r in multimodal.extract_features(media).collect():
            payload, salt, dims = junk[r["kind"]]
            assert r["digest"] == hashlib.sha256(payload).hexdigest()
            assert r["feature"] == _pytest.approx(fake(salt, payload, dims))

    def test_resize_images_spark_path(self, spark):
        """resize_images end-to-end: junk gets the digest-cycled
        stand-in of the fixed shape (flag False, -1 dims)."""
        import hashlib

        from uckg_spark.operators import multimodal

        junk = b"\xffnot-a-png" * 4
        media = spark.createDataFrame(
            [(2, "image", "application/junk", bytearray(junk), {})],
            multimodal.MEDIA_SCHEMA)
        (fake,) = multimodal.resize_images(media, 2, 2).collect()
        d = hashlib.sha256(junk).digest()
        assert (fake["decoded"], fake["src_w"], fake["src_h"]) == (False, -1, -1)
        assert fake["pixels"] == [d[i % 32] / 255.0 for i in range(12)]


class TestWinnowing:
    @staticmethod
    def _ref(text, k=3, w=4):
        import hashlib

        toks = [t for t in text.split(" ") if t]
        grams = [" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)] \
            if len(toks) >= k else []
        comb = [
            int(hashlib.md5(g.encode()).hexdigest()[:8], 16) * 16777216
            + (16777215 - i)
            for i, g in enumerate(grams)
        ]
        out = set()
        for s in range(len(comb) - w + 1):
            m = min(comb[s:s + w])
            out.add((16777215 - (m % 16777216), m // 16777216))
        return out

    def test_matches_reference_on_random_corpus(self, spark):
        import random

        from uckg_spark.operators.dedup import winnow_fingerprints

        rng = random.Random(13)
        vocab = [f"t{i}" for i in range(40)]
        docs = [
            " ".join(rng.choice(vocab) for _ in range(rng.randrange(0, 30)))
            for _ in range(40)
        ]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(docs)], "doc_id long, text string")
        got = {(r["doc_id"], r["pos"], r["fp"])
               for r in winnow_fingerprints(df, 3, 4).collect()}
        want = {(i, p, f) for i, t in enumerate(docs)
                for p, f in self._ref(t)}
        assert got == want

    def test_shared_run_guarantee(self, spark):
        # SIGMOD'03 theorem: a shared token run of length >= k + w - 1
        # yields at least one shared fingerprint HASH
        from uckg_spark.operators.dedup import winnow_fingerprints

        k, w = 3, 4
        shared = " ".join(f"s{i}" for i in range(k + w - 1))
        df = spark.createDataFrame(
            [(0, "left filler words " + shared),
             (1, shared + " other tail entirely")],
            "doc_id long, text string")
        rows = winnow_fingerprints(df, k, w).collect()
        fp0 = {r["fp"] for r in rows if r["doc_id"] == 0}
        fp1 = {r["fp"] for r in rows if r["doc_id"] == 1}
        assert fp0 & fp1

    def test_short_docs_emit_nothing(self, spark):
        from uckg_spark.operators.dedup import winnow_fingerprints

        df = spark.createDataFrame(
            [(0, ""), (1, "a b"), (2, "a b c d e")],
            "doc_id long, text string")
        # k=3,w=4 needs >= k+w-1 = 6 tokens for one window
        assert winnow_fingerprints(df, 3, 4).count() == 0

    def test_zero_shuffle_plan(self, spark):
        from uckg_spark.operators.dedup import winnow_fingerprints
        from uckg_spark.plans.doctor import audit_plan

        df = spark.createDataFrame(
            [(0, " ".join(f"x{i}" for i in range(20)))],
            "doc_id long, text string")
        audit = audit_plan(winnow_fingerprints(df, 3, 4))
        assert audit["ok"] and audit["exchanges"] == 0


class TestRandomProjection:
    @staticmethod
    def _emb(spark, n=30, dim=16, seed=11):
        import random

        rng = random.Random(seed)
        rows = [(i, [round(rng.gauss(0, 1), 3) for _ in range(dim)])
                for i in range(n)]
        return rows, spark.createDataFrame(
            rows, "vec_id long, embedding array<float>")

    def test_matches_explicit_weight_matrix(self, spark):
        from uckg_spark.operators.similarity import (plane_weight,
                                                     random_projection)

        rows, df = self._emb(spark, dim=16)
        got = {(r["vec_id"], r["p"]): r["proj_e6"]
               for r in random_projection(df, 16, out_dim=5).collect()}
        import numpy as np
        for vid, vec in rows:
            v = np.array(vec, dtype=np.float32).astype(np.float64)
            for p in range(5):
                w = np.array([plane_weight(p, i) for i in range(16)])
                want = round(float((v * w).sum()) * 1e6)
                assert abs(got[(vid, p)] - want) <= 1  # fold-order ulp

    def test_signs_agree_with_lsh_signature(self, spark):
        # the projection IS the LSH signature's pre-sign value: packing
        # the signs must reproduce hyperplane_signature bit-for-bit
        from pyspark.sql import functions as F

        from uckg_spark.operators.similarity import (hyperplane_signature,
                                                     random_projection)

        _, df = self._emb(spark, dim=16)
        sig = {r["vec_id"]: r["b"] for r in df.select(
            "vec_id",
            hyperplane_signature(
                F.col("embedding").cast("array<double>"), 16, 5).alias("b"),
        ).collect()}
        proj = random_projection(df, 16, out_dim=5).collect()
        packed = {}
        for r in proj:
            if r["proj_e6"] > 0:
                packed[r["vec_id"]] = packed.get(r["vec_id"], 0) | (1 << r["p"])
        for vid, b in sig.items():
            assert packed.get(vid, 0) == b

    def test_jl_distance_preservation(self, spark):
        # JL sanity: projected pairwise distance ratios concentrate —
        # on a 64->16 projection of 20 gaussian vectors, every pair's
        # squared-distance ratio (scaled by dim/out_dim) is within 3x
        import numpy as np

        from uckg_spark.operators.similarity import random_projection

        rows, df = self._emb(spark, n=20, dim=64, seed=5)
        proj = {}
        for r in random_projection(df, 64, out_dim=16).collect():
            proj.setdefault(r["vec_id"], {})[r["p"]] = r["proj_e6"] / 1e6
        vecs = {i: np.array(v, dtype=np.float32).astype(np.float64)
                for i, v in rows}
        pv = {i: np.array([proj[i][p] for p in range(16)]) for i in vecs}
        # for ±1 weights E[||proj_a - proj_b||²] = out_dim·||a - b||²,
        # so the normalized ratio concentrates around 1
        for a in range(20):
            for b in range(a + 1, 20):
                d_full = float(((vecs[a] - vecs[b]) ** 2).sum())
                d_proj = float(((pv[a] - pv[b]) ** 2).sum())
                ratio = d_proj / (16 * d_full) if d_full else 1.0
                assert 1 / 3 <= ratio <= 3, (a, b, ratio)

    def test_zero_shuffle_plan(self, spark):
        from uckg_spark.operators.similarity import random_projection
        from uckg_spark.plans.doctor import audit_plan

        _, df = self._emb(spark, n=5, dim=8)
        audit = audit_plan(random_projection(df, 8, out_dim=3))
        assert audit["ok"] and audit["exchanges"] == 0

    def test_rejects_bad_dims(self, spark):
        import pytest as _pytest

        from uckg_spark.operators.similarity import random_projection

        _, df = self._emb(spark, n=2, dim=4)
        with _pytest.raises(ValueError):
            random_projection(df, 0, out_dim=2)


class TestSemanticDedup:
    """SemDeDup on a hand-computable 2-D fixture: two fixed centroids,
    vectors whose cell assignment, cos-to-centroid ranks, and pairwise
    cosines are all checkable on paper."""

    CENTS = [(0, [1.0, 0.0]), (1, [0.0, 1.0])]

    def _emb(self, spark):
        rows = [
            (10, [1.0, 0.0]),    # cell 0, cosc = 1.0
            (11, [0.98, 0.2]),   # cell 0, cosc ~ 0.97989 (the keeper)
            (14, [1.0, 0.05]),   # cell 0, cosc ~ 0.99875
            (12, [0.6, 0.8]),    # cell 1, cosc = 0.8 — below threshold of all
            (13, [0.0, 1.0]),    # cell 1, cosc = 1.0
            (20, [0.0, 0.9]),    # cell 1, cosc = 1.0 (tie with 13 and 21)
            (21, [0.0, 0.9]),    # cell 1, identical to 20
        ]
        return spark.createDataFrame(rows, ["vec_id", "embedding"])

    def test_keep_farthest_from_centroid(self, spark):
        from uckg_spark.operators.similarity import semantic_dedup

        out = {r["vec_id"]: r for r in semantic_dedup(
            self._emb(spark), self.CENTS, threshold=0.9).collect()}
        # cell 0: 10~11 (cos .9798), 10~14 (.9988), 11~14 (.988) all >= .9;
        # 11 has the LOWEST cos-to-centroid -> only 11 survives
        assert [out[i]["cell"] for i in (10, 11, 14)] == [0, 0, 0]
        assert (out[10]["kept"], out[11]["kept"], out[14]["kept"]) == (0, 1, 0)
        # cell 1: 13/20/21 are mutually cos=1.0 pairs with TIED cosc=1.0
        # -> lowest id (13) survives; 12 is below threshold vs everyone
        assert (out[13]["kept"], out[20]["kept"], out[21]["kept"]) == (1, 0, 0)
        assert out[12]["kept"] == 1
        assert out[12]["cell"] == 1
        assert abs(out[12]["cos_centroid"] - 0.8) < 1e-6

    def test_threshold_one_keeps_non_identical(self, spark):
        from uckg_spark.operators.similarity import semantic_dedup

        # threshold above every non-identical pair's cosine: only the
        # byte-identical twins 20/21 (cos exactly 1.0) still collide
        out = {r["vec_id"]: r["kept"] for r in semantic_dedup(
            self._emb(spark), self.CENTS, threshold=1.0).collect()}
        assert out[21] == 0 or out[20] == 0  # one twin dropped
        assert sum(1 - v for v in out.values()) >= 1
        for i in (10, 11, 12, 14):
            assert out[i] == 1
