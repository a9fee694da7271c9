"""Training-data extension tests: text analysis, dedup, similarity,
multimodal plumbing."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from qsvspark.functions import (
    AnnIndex,
    add_fingerprint,
    add_lang_id,
    add_quality,
    add_token_counts,
    brute_force_topk,
    dedup_exact,
    embedding_near_dups,
    embedding_near_dups_lsh,
    lsh_ann_topk,
    minhash_lsh_pairs,
    ngram_jaccard,
    simhash,
)
from qsvspark.functions.dedup import simhash_hamming
from qsvspark.functions.multimodal import extract_features, sample_frames, synth_media

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog and runs away fast"),
    (1, "the quick brown fox jumps over the lazy dog and runs away fast"),  # exact dup of 0
    (2, "the quick brown fox jumps over the lazy dog and walks away fast"),  # near dup of 0
    (3, "der hund und die katze sind nicht mit dem vogel zu sehen"),
    (4, "completely different content about spark query engines and shuffles"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"]).cache()


class TestText:
    def test_token_counts(self, docs):
        r = {x["doc_id"]: x for x in add_token_counts(docs).collect()}
        assert r[0]["n_ws_tokens"] == 13
        assert r[0]["n_bpe_tokens"] == 13  # plain words, no punct

    def test_empty_text(self, spark):
        df = spark.createDataFrame([(0, ""), (1, "   ")], ["doc_id", "text"])
        rows = add_token_counts(df).collect()
        assert all(r["n_ws_tokens"] == 0 for r in rows)

    def test_lang_id(self, docs):
        r = {x["doc_id"]: x["lang_pred"] for x in add_lang_id(docs).collect()}
        assert r[0] == "en"
        assert r[3] == "de"

    def test_quality(self, docs):
        r = {x["doc_id"]: x for x in add_quality(docs).collect()}
        assert 0 < r[0]["q_score"] <= 1
        assert r[0]["q_stopword_hits"] >= 2  # the, and, over...

    def test_fingerprint_normalizes_whitespace(self, spark):
        df = spark.createDataFrame(
            [(0, "Hello  World"), (1, "hello world"), (2, "other")], ["doc_id", "text"]
        )
        r = [x["fingerprint"] for x in add_fingerprint(df).collect()]
        assert r[0] == r[1] != r[2]


class TestDedup:
    def test_exact(self, docs):
        kept = dedup_exact(docs).select("doc_id").collect()
        ids = sorted(r["doc_id"] for r in kept)
        assert ids == [0, 2, 3, 4]  # 1 removed (dup of 0, min id kept)

    def test_minhash_lsh_finds_near_dup(self, docs):
        pairs = {(r["id_a"], r["id_b"]) for r in
                 minhash_lsh_pairs(docs, num_hashes=16, bands=8, k=4).collect()}
        assert (0, 1) in pairs  # exact dup always collides
        assert (0, 2) in pairs  # near dup shares most shingles
        assert (0, 4) not in pairs and (3, 4) not in pairs

    def test_affine_family_same_lsh_semantics(self, spark, docs):
        """The affine-permutation production family must produce exactly
        the banded-LSH pair set its signatures imply: replicate
        signature → bands → buckets → i<j pairs driver-side from the
        SAME staged signature expression and compare."""
        from qsvspark.functions.dedup import (
            minhash_signature_affine, shingle_hashes,
        )

        num_hashes, bands, k = 16, 8, 4
        rows_per_band = num_hashes // bands
        sigs = {
            r["doc_id"]: list(r["sig"])
            for r in docs.select(
                "doc_id", shingle_hashes("text", k).alias("__hs")
            ).select(
                "doc_id",
                minhash_signature_affine("__hs", num_hashes).alias("sig"),
            ).collect()
        }
        expected = set()
        for b in range(bands):
            buckets: dict = {}
            for doc, sig in sigs.items():
                key = tuple(sig[b * rows_per_band : (b + 1) * rows_per_band])
                buckets.setdefault(key, []).append(doc)
            for members in buckets.values():
                members.sort()
                for i, a in enumerate(members):
                    for bb in members[i + 1 :]:
                        expected.add((a, bb))
        got = {(r["id_a"], r["id_b"]) for r in
               minhash_lsh_pairs(docs, num_hashes=num_hashes, bands=bands,
                                 k=k).collect()}
        assert got == expected
        # identical docs share every lane; the family is a real MinHash
        assert sigs[0] == sigs[1]
        assert sigs[0] != sigs[4]

    def test_minhash_bucket_cap_bounds_degenerate_buckets(self, spark):
        """10k identical docs form one bucket per band that would go
        O(B²) = 50M pairs; the cap drops those buckets so the job stays
        bounded, while normal-sized buckets still pair up."""
        degenerate = spark.range(2, 10_002).select(
            F.col("id").alias("doc_id"),
            F.lit("identical boilerplate text repeated everywhere forever").alias("text"),
        )
        near = spark.createDataFrame(
            [(0, "a genuinely unique document about spark shuffles and joins"),
             (1, "a genuinely unique document about spark shuffles and sorts")],
            ["doc_id", "text"],
        )
        pairs = minhash_lsh_pairs(
            near.unionByName(degenerate), num_hashes=16, bands=8, k=4,
            max_bucket_size=100,
        ).collect()
        got = {(r["id_a"], r["id_b"]) for r in pairs}
        assert (0, 1) in got            # small buckets unaffected
        assert len(got) < 10_000        # degenerate 50M-pair bucket dropped

    def test_simhash_near_for_near_dups(self, spark, docs):
        sh = simhash(docs).select("doc_id", "simhash")
        a = sh.alias("a").crossJoin(sh.alias("b")).filter("a.doc_id < b.doc_id")
        d = a.select(
            F.col("a.doc_id").alias("ia"), F.col("b.doc_id").alias("ib"),
            simhash_hamming(F.col("a.simhash"), F.col("b.simhash")).alias("ham"),
        ).collect()
        ham = {(r["ia"], r["ib"]): r["ham"] for r in d}
        assert ham[(0, 1)] == 0          # identical text → identical simhash
        assert ham[(0, 2)] < ham[(0, 4)]  # near dup closer than unrelated

    def test_ngram_jaccard(self, spark, docs):
        pairs = spark.createDataFrame([(0, 1), (0, 2), (0, 4)], ["id_a", "id_b"])
        j = {(r["id_a"], r["id_b"]): r["jaccard"] for r in
             ngram_jaccard(pairs, docs, n=3).collect()}
        assert j[(0, 1)] == 1.0
        assert 0.3 < j[(0, 2)] < 1.0
        assert j[(0, 4)] == 0.0

    def test_embedding_near_dups(self, spark):
        vecs = [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.999, 0.01, 0.0]),   # ~same direction as 0
            (2, [0.0, 1.0, 0.0]),
        ]
        df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
        got = {(r["id_a"], r["id_b"]) for r in embedding_near_dups(df, threshold=0.99).collect()}
        assert got == {(0, 1)}


class TestSimilarity:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()

    def test_brute_force_topk(self, emb):
        qv = emb.filter("vec_id = 0").collect()[0]["embedding"]
        top = brute_force_topk(emb, list(qv), k=5).collect()
        assert top[0]["vec_id"] == 0 and abs(top[0]["cos"] - 1.0) < 1e-6
        cos = [r["cos"] for r in top]
        assert cos == sorted(cos, reverse=True)

    def test_lsh_recall(self, emb):
        qv = list(emb.filter("vec_id = 0").collect()[0]["embedding"])
        exact = {r["vec_id"] for r in brute_force_topk(emb, qv, k=10).collect()}
        approx = {r["vec_id"] for r in
                  lsh_ann_topk(emb, qv, k=10, bits=12, probe_hamming=4).collect()}
        recall = len(exact & approx) / 10
        assert recall >= 0.5  # LSH with generous probing on 500 vecs

    def test_embedding_near_dups_lsh_vs_brute(self, emb):
        """The bucketed path returns a SUBSET of brute force (exact
        verify → precision 1.0) with high recall at these parameters."""
        brute = {(r["id_a"], r["id_b"])
                 for r in embedding_near_dups(emb, threshold=0.45).collect()}
        lsh = {(r["id_a"], r["id_b"])
               for r in embedding_near_dups_lsh(
                   emb, threshold=0.45, dim=64, bits=16, bands=8).collect()}
        assert lsh <= brute  # exact cosine verify: no false positives
        assert brute  # the fixture data does contain near-dup pairs
        assert len(lsh & brute) / len(brute) >= 0.9

    def test_ann_index_matches_scan_and_prunes(self, emb, tmp_path):
        """Indexed probe == full-scan lsh_ann_topk at the same params,
        while reading a strict subset of the signature buckets."""
        idx = AnnIndex(str(tmp_path), bits=12, prefix_bits=8, seed=42)
        manifest = idx.build(emb, dim=64)
        assert manifest["committed"] and manifest["partition_counts"]
        qv = list(emb.filter("vec_id = 3").collect()[0]["embedding"])
        scan = [(r["vec_id"], r["cos"]) for r in
                lsh_ann_topk(emb, qv, k=10, bits=12, probe_hamming=2).collect()]
        probed = [(r["vec_id"], r["cos"]) for r in
                  idx.query(emb.sparkSession, qv, k=10, probe_hamming=2).collect()]
        assert probed == scan
        # hamming ≤ 2 over an 8-bit prefix probes 1+8+28 = 37 of 256
        from qsvspark.functions.similarity import _hyperplanes, query_signature

        qsig = query_signature(qv, _hyperplanes(64, 12, 42))
        prefixes = idx.probed_prefixes(qsig, 2)
        assert len(prefixes) == 37 < 256
        _, dirs = idx._bucket_dirs(prefixes)  # noqa: SLF001
        all_buckets = len(manifest["partition_counts"])
        assert 0 < len(dirs) < all_buckets


class TestIndexManifestProbing:
    """Index probes must resolve bucket directories through the snapshot
    MANIFEST (partition_counts), never by enumerating the filesystem —
    the emulation-layer property that maps 1:1 to an Iceberg manifest
    read on any storage backend."""

    def test_query_never_lists_filesystem(self, spark, tmp_path, monkeypatch):
        import os as _os

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        ann = AnnIndex(str(tmp_path / "ann"), bits=12, prefix_bits=6, seed=42)
        ann.build(emb, dim=64)
        from qsvspark.functions import IvfIndex

        ivf = IvfIndex(str(tmp_path / "ivf"))
        ivf.build(emb, n_centroids=8, sample_n=128)
        qv = list(emb.filter("vec_id = 3").collect()[0]["embedding"])
        scan = [(r["vec_id"], r["cos"]) for r in
                lsh_ann_topk(emb, qv, k=5, bits=12, probe_hamming=2).collect()]
        from qsvspark.functions import ivf_topk

        adhoc = [(r["vec_id"], r["cos"]) for r in
                 ivf_topk(emb, qv, ivf.centroids, k=5, nprobe=2).collect()]

        def _no_isdir(path):
            raise AssertionError(f"os.path.isdir called during query: {path}")

        monkeypatch.setattr(_os.path, "isdir", _no_isdir)
        probed = [(r["vec_id"], r["cos"]) for r in
                  ann.query(spark, qv, k=5, probe_hamming=2).collect()]
        assert probed == scan
        ivf_probed = [(r["vec_id"], r["cos"]) for r in
                      ivf.query(spark, qv, k=5, nprobe=2).collect()]
        assert ivf_probed == adhoc

    def test_query_frames_start_no_spark_job(self, spark, sf_dir, tmp_path):
        """The probed directories are scanned with the manifest schema, so
        building (and planning) a query frame starts no schema-inference
        job. Both probes stay under Spark's 32-path parallel-listing
        threshold, above which file listing itself runs as a job."""
        from qsvspark.functions import IvfIndex

        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        ann = AnnIndex(str(tmp_path / "ann"), bits=12, prefix_bits=6, seed=42)
        ann.build(emb, dim=64)
        ivf = IvfIndex(str(tmp_path / "ivf"))
        ivf.build(emb, n_centroids=8, sample_n=128)
        qv = list(emb.filter("vec_id = 3").collect()[0]["embedding"])
        sc = spark.sparkContext
        group = "index-query-no-jobs"
        sc.setJobGroup(group, "AnnIndex.query + IvfIndex.query")
        try:
            frames = [ann.query(spark, qv, k=5, probe_hamming=2),
                      ivf.query(spark, qv, k=5, nprobe=2)]
            for df in frames:
                df._jdf.queryExecution().sparkPlan()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        assert all(len(df.collect()) == 5 for df in frames)

    def test_empty_probe_keeps_build_schema(self, spark, tmp_path):
        """String doc ids: an empty-probe result must carry the SAME
        schema as a non-empty one (captured at build time via the
        manifest), so unions/comparisons downstream don't break."""
        rows = [(f"doc-{i}", [1.0, 0.0, 0.0, 0.0]) for i in range(8)]
        df = spark.createDataFrame(rows, "vec_id string, embedding array<float>")
        idx = AnnIndex(str(tmp_path), bits=8, prefix_bits=4, seed=1)
        idx.build(df, dim=4)
        hit = idx.query(spark, [1.0, 0.0, 0.0, 0.0], k=3, probe_hamming=0)
        assert len(hit.collect()) == 3
        # all vectors share one signature; the negated query's signature
        # has every bit flipped, so a 0-hamming probe hits no bucket
        miss = idx.query(spark, [-1.0, 0.0, 0.0, 0.0], k=3, probe_hamming=0)
        assert miss.collect() == []
        assert miss.schema == hit.schema
        assert hit.unionByName(miss).count() == 3


class TestWideExpressionParity:
    """Values of the one-SQL-expression builders, pinned against
    references that do not share their code: a precomputed IVF
    assignment, the DuckDB replica of the md5_60 lanes and the driver's
    query_signature."""

    def test_ivf_assignment_matches_fixture(self, spark, sf_dir):
        import json
        import os

        from qsvspark.functions import train_ivf_centroids
        from qsvspark.functions.similarity import ivf_assign_expr

        with open(os.path.join(os.path.dirname(__file__), "fixtures",
                               "ivf_assign_sf0001.json")) as f:
            want = json.load(f)["clusters_by_vec_id"]
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        cents = train_ivf_centroids(emb, n_centroids=8, sample_n=128)
        got = [r["c"] for r in emb.select(
            "vec_id", ivf_assign_expr("embedding", cents).alias("c")
        ).orderBy("vec_id").collect()]
        assert got == want

    def test_ivf_assignment_first_index_wins_ties(self, spark):
        from qsvspark.functions.similarity import ivf_assign_expr

        df = spark.createDataFrame(
            [(0, [1.0, 1.0]), (1, [1.0, 0.0]), (2, [0.0, 1.0])],
            "vec_id long, embedding array<float>",
        )
        # an exact tie, a duplicated centroid, and a tie that exists only
        # after round-6 (centroid 0 is 1e-10 farther from [1, 0] than
        # centroid 1, both round to 1.0): the first index wins each time
        for cents, want in (
            ([[1.0, 0.0], [0.0, 1.0]], [0, 0, 1]),
            ([[0.0, 1.0], [1.0, 0.0], [1.0, 0.0]], [0, 1, 0]),
            ([[0.9999999999, 1e-05], [1.0, 0.0]], [0, 0, 0]),
        ):
            got = [r["c"] for r in df.select(
                "vec_id", ivf_assign_expr("embedding", cents).alias("c")
            ).orderBy("vec_id").collect()]
            assert got == want, cents

    def test_md5_signatures_match_duckdb(self, spark, docs):
        import duckdb
        import pyarrow as pa

        import __spark_entry__ as e
        from qsvspark.functions.dedup import _signature_frame

        num_hashes, k = 16, 5
        got = {
            r["doc_id"]: list(r["__sig"])
            for r in _signature_frame(
                docs, "text", "doc_id", num_hashes, k, "md5_60"
            ).collect()
        }
        lanes = ", ".join(
            "list_min(list_transform(sh, s -> " + e._h60(f"s || '|{j}'") + "))"
            for j in range(num_hashes)
        )
        con = duckdb.connect()
        con.register("documents", pa.Table.from_pylist(
            [{"doc_id": i, "text": t} for i, t in DOCS]
        ))
        want = {
            r[0]: list(r[1])
            for r in con.execute(
                f"WITH n AS (SELECT doc_id, {e._NORM} AS t FROM documents),"
                " s AS (SELECT doc_id, list_distinct(list_transform("
                f" range(1, greatest(length(t) - {k - 1}, 1) + 1),"
                f" i -> substr(t, i, {k}))) AS sh FROM n)"
                f" SELECT doc_id, [{lanes}] FROM s"
            ).fetchall()
        }
        assert got == want and len(got) == len(DOCS)

    def test_signature_bits_match_query_signature(self, spark, sf_dir):
        from qsvspark.functions.similarity import (
            _hyperplanes, query_signature, signature_expr,
        )

        planes = _hyperplanes(64, 16, 42)
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        rows = emb.select(
            "embedding", signature_expr("embedding", planes).alias("sig")
        ).collect()
        assert len(rows) == emb.count()
        for r in rows:
            assert r["sig"] == query_signature(list(r["embedding"]), planes)


class TestMultimodal:
    def test_synth_media_deterministic(self, spark):
        a = synth_media(spark, 50).collect()
        b = synth_media(spark, 50).collect()
        assert [r["payload"] for r in a] == [r["payload"] for r in b]

    def test_extract_features_schema_and_values(self, spark):
        feats = extract_features(synth_media(spark, 30))
        rows = feats.collect()
        assert feats.columns == ["media_id", "kind", "n_bytes", "byte_mean",
                                 "byte_hist", "aspect_ratio"]
        assert all(r["n_bytes"] == 64 for r in rows)
        assert all(len(r["byte_hist"]) == 16 for r in rows)
        assert all(sum(r["byte_hist"]) == 64 for r in rows)

    def test_sample_frames(self, spark):
        media = synth_media(spark, 60)
        frames = sample_frames(media, every_n=10)
        rows = frames.collect()
        assert all(r["frame_no"] % 10 == 0 for r in rows)
        n_videos = media.filter("kind = 'video'").count()
        assert frames.select("media_id").distinct().count() == n_videos

    def test_decode_stub_raises_without_pil(self):
        from qsvspark.functions.multimodal import decode_image

        try:
            import PIL  # noqa: F401
            pytest.skip("PIL present")
        except ImportError:
            with pytest.raises(NotImplementedError):
                decode_image(b"\x00\x01")


class TestIvf:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()

    @pytest.fixture(scope="class")
    def centroids(self, emb):
        from qsvspark.functions import train_ivf_centroids

        return train_ivf_centroids(emb, n_centroids=8, sample_n=128)

    def test_training_is_deterministic(self, emb, centroids):
        from qsvspark.functions import train_ivf_centroids

        again = train_ivf_centroids(emb, n_centroids=8, sample_n=128)
        assert again == centroids
        assert len(centroids) == 8 and len(centroids[0]) == 64

    def test_assignment_partitions_all_rows(self, emb, centroids):
        from qsvspark.functions.similarity import ivf_assign_expr
        from pyspark.sql import functions as F

        counts = (emb.select(ivf_assign_expr("embedding", centroids).alias("c"))
                  .groupBy("c").count().collect())
        assert sum(r["count"] for r in counts) == emb.count()
        assert all(0 <= r["c"] < 8 for r in counts)

    def test_ivf_recall_and_exact_subset(self, emb, centroids):
        from qsvspark.functions import brute_force_topk, ivf_topk

        qv = list(emb.filter("vec_id = 0").collect()[0]["embedding"])
        exact = {r["vec_id"] for r in brute_force_topk(emb, qv, k=10).collect()}
        approx = ivf_topk(emb, qv, centroids, k=10, nprobe=4).collect()
        cos = [r["cos"] for r in approx]
        assert cos == sorted(cos, reverse=True)
        recall = len(exact & {r["vec_id"] for r in approx}) / 10
        assert recall >= 0.5
        # nprobe = all cells → identical to brute force
        full = [(r["vec_id"], r["cos"]) for r in
                ivf_topk(emb, qv, centroids, k=10, nprobe=8).collect()]
        brute = [(r["vec_id"], r["cos"]) for r in
                 brute_force_topk(emb, qv, k=10).collect()]
        assert full == brute

    def test_ivf_index_matches_adhoc_and_prunes(self, emb, centroids, tmp_path):
        """Partition-pruned probe == ad-hoc ivf_topk at the same params,
        reading only the nprobe probed centroid directories."""
        import os

        from qsvspark.functions import IvfIndex, ivf_topk
        from qsvspark.functions.similarity import probed_centroids

        idx = IvfIndex(str(tmp_path))
        manifest = idx.build(emb, n_centroids=8, sample_n=128)
        assert manifest["committed"]
        assert sum(manifest["partition_counts"].values()) == emb.count()
        qv = list(emb.filter("vec_id = 3").collect()[0]["embedding"])
        adhoc = [(r["vec_id"], r["cos"]) for r in
                 ivf_topk(emb, qv, idx.centroids, k=10, nprobe=3).collect()]
        probed = [(r["vec_id"], r["cos"]) for r in
                  idx.query(emb.sparkSession, qv, k=10, nprobe=3).collect()]
        assert probed == adhoc
        probe = probed_centroids(qv, idx.centroids, 3)
        assert len(probe) == 3 < len(manifest["partition_counts"])


class TestRetiredRegistryVariants:
    """The r3/r4 registry retirements (sed_all, convert_xml,
    timeline_avg, pivot_median, pivot_std) stay exercised here so the
    'retired to pytest-only coverage' claim holds — each must still run
    and produce sane shapes against the test-scale tables."""

    def test_retired_variants_still_run(self, spark):
        import __spark_entry__ as e

        sf = "/root/testdata/sf0.001"
        out = e.q_sed_all(spark, sf)
        assert out.count() >= 1  # the '1' nation names match after vowel-sed
        xml = e.q_convert_xml(spark, sf).first()["props"]
        assert xml.startswith("<k>") and xml.endswith("</k>")
        tl = e.q_timeline_avg(spark, sf)
        assert tl.count() > 0 and "avg_r" in tl.columns
        med = {tuple(r)[:2]: r["qty_med"] for r in e.q_pivot_median(spark, sf).collect()}
        std = {tuple(r)[:2]: r["qty_std"] for r in e.q_pivot_std(spark, sf).collect()}
        assert set(med) == set(std) and len(med) >= 3
        assert all(v is None or v >= 0 for v in std.values())

    def test_r5_retired_variants_still_run(self, spark, tmp_path):
        """contains_ci / grep_invert / pivot_mean / timeline_sum rotated
        out of the 50-slot registry for line_dups / vocab_topk /
        span_pairs / semdedup; their base operators stay oracle-checked
        and the variants stay exercised here; grep_invert, pivot_mean and
        join_left each with a cheap value invariant."""
        import __spark_entry__ as e
        from qsvspark import Q

        sf = "/root/testdata/sf0.001"
        ci = e.q_contains_ci(spark, sf)
        assert ci.count() > 0  # AUTOMOBILE segment matches 'AUTO' case-insensitively
        # grep_invert is the exact complement of grep on the same pattern
        nation = e._t(spark, sf, "nation")
        inv = e.q_grep_invert(spark, sf).count()
        assert 0 < inv < nation.count()
        assert Q(nation).grep("1").df.count() + inv == nation.count()
        # pivot_mean == pivot_sum / pivot_count per (flag, status) group
        pm = {tuple(r)[:2]: r["qty_mean"] for r in e.q_pivot_mean(spark, sf).collect()}
        sums = {tuple(r)[:2]: r["qty_cents_sum"] for r in e.q_pivot(spark, sf).collect()}
        counts = {
            tuple(r)[:2]: r["l_quantity_count"]
            for r in Q(e._t(spark, sf, "lineitem")).pivot(
                rows="l_returnflag", cols="l_linestatus",
                values="l_quantity", agg="count",
            ).df.collect()
        }
        assert len(pm) >= 3 and set(pm) == set(sums) == set(counts)
        for k, mean in pm.items():
            assert abs(mean - sums[k] / 100 / counts[k]) <= 5e-5 + 1e-9, k
        ts = e.q_timeline_sum(spark, sf)
        assert ts.count() > 0 and "sum_cents" in ts.columns
        # join_left keeps every customer once; unmatched keys get null
        # n_name (one customer is given a nation key no nation has)
        cust = e._t(spark, sf, "customer")
        orphan = cust.limit(1).withColumn("c_custkey", F.lit(10**9).cast(
            cust.schema["c_custkey"].dataType
        )).withColumn("c_nationkey", F.lit(999).cast(
            cust.schema["c_nationkey"].dataType
        ))
        cust.unionByName(orphan).write.parquet(str(tmp_path / "customer.parquet"))
        nation.write.parquet(str(tmp_path / "nation.parquet"))
        cust = e._t(spark, str(tmp_path), "customer")
        nation_keys = {r[0] for r in nation.select("n_nationkey").collect()}
        jl = e.q_join_left(spark, str(tmp_path)).collect()
        by_key = {r["c_custkey"]: r for r in jl}
        assert len(jl) == len(by_key) == cust.count()
        unmatched = 0
        for r in cust.select("c_custkey", "c_nationkey").collect():
            row = by_key[r["c_custkey"]]
            assert (row["n_name"] is None) == (r["c_nationkey"] not in nation_keys)
            unmatched += row["n_name"] is None
        assert unmatched >= 1


class TestConnectedComponents:
    def test_chain_and_islands(self, spark):
        from qsvspark.functions import connected_components

        pairs = spark.createDataFrame(
            [(0, 1), (1, 2), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"]
        )
        out = sorted(
            (r["id"], r["group_id"])
            for r in connected_components(pairs).collect()
        )
        assert out == [(0, 0), (1, 0), (2, 0), (3, 0), (4, 0),
                       (10, 10), (11, 10)]

    def test_non_convergence_raises(self, spark):
        from qsvspark.functions import connected_components

        # a 5-chain needs >1 propagation round; max_iter=1 must raise
        # rather than return partially-propagated labels
        pairs = spark.createDataFrame(
            [(0, 1), (1, 2), (2, 3), (3, 4)], ["id_a", "id_b"]
        )
        with pytest.raises(RuntimeError, match="converge"):
            connected_components(pairs, max_iter=1)

    def test_keep_representatives(self, spark):
        from qsvspark.functions import keep_representatives

        docs = spark.createDataFrame(
            [(i, f"doc {i}") for i in range(6)], ["doc_id", "text"]
        )
        pairs = spark.createDataFrame([(0, 1), (1, 4)], ["id_a", "id_b"])
        kept = sorted(
            r["doc_id"] for r in keep_representatives(docs, pairs).collect()
        )
        # component {0,1,4} keeps 0; unpaired 2,3,5 pass through
        assert kept == [0, 2, 3, 5]

    def test_keep_representatives_leaves_no_cached_frame(self, spark):
        from qsvspark.functions import keep_representatives

        # start from an empty cache manager (other tests cache fixtures)
        spark.catalog.clearCache()
        docs = spark.createDataFrame(
            [(i, f"doc {i}") for i in range(6)], ["doc_id", "text"]
        )
        pairs = spark.createDataFrame([(0, 1), (1, 4)], ["id_a", "id_b"])
        assert len(keep_representatives(docs, pairs).collect()) == 4
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()

    def test_empty_pairs(self, spark):
        from qsvspark.functions import connected_components

        pairs = spark.createDataFrame([], "id_a long, id_b long")
        assert connected_components(pairs).collect() == []


class TestLineDups:
    def test_signals(self, spark):
        from qsvspark.functions import add_line_dup_signals

        rows = [
            (0, "a b\na b\nc d"),          # one dup line (3 chars repeated)
            (1, "x\n x \nx"),              # trims collapse all three to 'x'
            (2, "unique one\nunique two"),
            (3, "  \n\n  "),               # whitespace-only → zero lines
        ]
        out = {
            r["doc_id"]: r
            for r in add_line_dup_signals(
                spark.createDataFrame(rows, ["doc_id", "text"])
            ).collect()
        }
        assert (out[0]["total_lines"], out[0]["distinct_lines"]) == (3, 2)
        assert out[0]["dup_line_chars"] == 3  # second 'a b'
        assert out[0]["dup_line_frac"] == round(1 / 3, 6)
        assert (out[1]["total_lines"], out[1]["distinct_lines"]) == (3, 1)
        assert out[1]["dup_line_chars"] == 2
        assert out[2]["dup_line_chars"] == 0 and out[2]["dup_line_frac"] == 0.0
        assert out[3]["total_lines"] == 0 and out[3]["dup_line_char_frac"] == 0.0

    def test_query_and_oracle_agree_on_vertical_tab(self, spark, tmp_path):
        """Java's \\s matches \\x0B and RE2's does not. The line_dups
        registry query and its DuckDB oracle must still agree on a doc
        where a vertical tab sits between words."""
        import duckdb

        import __spark_entry__ as e

        docs = [
            (0, "a b c d e\x0bf g h i j k l"),
            (1, "one two three\x0b four five six seven"),
            (3, "x\x0by w1 w2 w3 w4 w5 w6 w7"),
            (6, "p q r s t p q r s t"),
        ]
        spark.createDataFrame(docs, "doc_id long, text string").write.parquet(
            str(tmp_path / "documents.parquet")
        )
        got = sorted(
            tuple(r) for r in e.q_line_dups(spark, str(tmp_path)).collect()
        )
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"'{tmp_path}/documents.parquet/*.parquet'"
        )
        want = sorted(con.execute(e.oracle_sql()["line_dups"]).fetchall())
        assert len(got) == len(docs)
        assert got == want

    @pytest.mark.parametrize("sep", ["|", ".", "\\E.", "a+"])
    def test_separator_is_literal(self, spark, sep):
        """``sep`` is a literal string, not a regex: '|' must not split
        between every character, '.' must not match everything."""
        from qsvspark.functions import add_line_dup_signals

        text = sep.join(["ab", "cd", "ab"])
        row = add_line_dup_signals(
            spark.createDataFrame([(0, text)], ["doc_id", "text"]), sep=sep
        ).collect()[0]
        assert (row["total_lines"], row["distinct_lines"]) == (3, 2)
        assert row["dup_line_chars"] == 2


class TestVocabTopk:
    def test_topk_deterministic_ties(self, spark):
        from qsvspark.functions import vocab_topk

        df = spark.createDataFrame(
            [(0, "b a a c"), (1, "B c d")], ["doc_id", "text"]
        )
        got = [(r["token"], r["cnt"]) for r in vocab_topk(df, k=3).collect()]
        # a=2, b=2 (case-folded), c=2, d=1 — ties break token-ascending
        assert got == [("a", 2), ("b", 2), ("c", 2)]


class TestSpanPairs:
    def test_shared_spans_and_max_df_cap(self, spark):
        from qsvspark.functions import shared_span_pairs

        boiler = "this license text is common to every single document here"
        rows = [
            (0, boiler + " alpha beta gamma delta epsilon zeta"),
            (1, boiler + " alpha beta gamma delta epsilon eta"),
            (2, boiler + " totally different tail content here now"),
            (3, "unrelated text with no overlap at all whatsoever truly"),
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        # k=5: docs 0/1 share the boilerplate spans AND 'alpha beta gamma
        # delta epsilon'; doc 2 shares only boilerplate spans
        out = {
            (r["id_a"], r["id_b"]): r["n_spans"]
            for r in shared_span_pairs(df, k=5, max_df=10).collect()
        }
        assert (0, 1) in out and (0, 2) in out and (1, 2) in out
        assert all((3 not in p) for p in out)
        assert out[(0, 1)] > out[(0, 2)]  # extra non-boiler span
        # max_df=2 drops every gram present in all three boiler docs;
        # only the 0/1-exclusive spans survive
        capped = {
            (r["id_a"], r["id_b"]): r["n_spans"]
            for r in shared_span_pairs(df, k=5, max_df=2).collect()
        }
        assert set(capped) == {(0, 1)}
        assert capped[(0, 1)] == out[(0, 1)] - out[(0, 2)]


class TestSemanticDedup:
    def test_keep_lowest_id_within_cluster(self, spark):
        from qsvspark.functions import semantic_dedup

        # two orthogonal clusters; vec 1 duplicates vec 0, vec 3
        # duplicates vec 2 (slightly perturbed), vec 4 is alone
        rows = [
            (0, [1.0, 0.0, 0.0]),
            (1, [0.999, 0.01, 0.0]),
            (2, [0.0, 1.0, 0.0]),
            (3, [0.0, 0.995, 0.02]),
            (4, [0.0, 0.0, 1.0]),
        ]
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        cents = [[1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]]
        out = {r["vec_id"]: r for r in semantic_dedup(df, cents, threshold=0.95).collect()}
        assert {v: out[v]["kept"] for v in range(5)} == {
            0: True, 1: False, 2: True, 3: False, 4: True,
        }
        assert out[1]["cluster"] == out[0]["cluster"] == 0
        assert out[3]["cluster"] == out[2]["cluster"] == 1

    def test_blas_matches_expr(self, spark):
        """The BLAS per-cluster matmul path (the registered/100-TB
        variant) must produce verdict-identical output to the
        engine-portable expression path on real embeddings."""
        from qsvspark.functions import semantic_dedup
        from qsvspark.functions.similarity import train_ivf_centroids

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        cents = train_ivf_centroids(emb, n_centroids=8, sample_n=128)
        expr = {
            (r["vec_id"], r["cluster"], r["kept"])
            for r in semantic_dedup(emb, cents, 0.45, method="expr").collect()
        }
        blas = {
            (r["vec_id"], r["cluster"], r["kept"])
            for r in semantic_dedup(emb, cents, 0.45, method="blas").collect()
        }
        assert expr == blas and len(expr) == emb.count()
        assert any(not k for (_, _, k) in expr)  # some dups exist

    def test_cross_cluster_dups_not_compared(self, spark):
        from qsvspark.functions import semantic_dedup

        # identical vectors that land in DIFFERENT clusters are never
        # compared — the SemDeDup contract (recall is bounded by the
        # clustering, in exchange for never materializing global pairs)
        rows = [(0, [1.0, 1.0]), (1, [1.0, 1.0])]
        df = spark.createDataFrame(rows, ["vec_id", "embedding"])
        # degenerate centroids forcing a tie: argmax picks the first for
        # both rows → same cluster → dup detected
        same = semantic_dedup(df, [[1.0, 0.0], [0.0, 1.0]], threshold=0.99)
        kept = {r["vec_id"]: r["kept"] for r in same.collect()}
        assert kept == {0: True, 1: False}

    def test_blas_rounding_is_spark_half_up(self, spark):
        """The BLAS kernel's round-6 must be Spark's round (HALF_UP on the
        decimal form), not numpy's round-half-even, or a cosine on a
        6th-decimal tie flips the verdict between the two methods."""
        import random

        import numpy as np

        from qsvspark.functions.similarity import round6_half_up

        rng = random.Random(5)
        vals = [0.0000005, -0.0000005, 0.9500005, 0.9499995, 0.1234565,
                -0.7071065, 0.30000000000000004, 1.0, -1.0, 0.0]
        vals += [float(f"{rng.randrange(-10**6, 10**6) / 1e6:.6f}5") for _ in range(200)]
        want = [
            r[0] for r in spark.createDataFrame([(v,) for v in vals], "x double")
            .select(F.round("x", 6)).collect()
        ]
        assert round6_half_up(np.array(vals)).tolist() == want
        assert np.round(np.array(vals), 6).tolist() != want  # half-even differs
