"""Unit tests for every operator not already proven by a CORRECTNESS row:
simhash, semi_anti_split, scorecard, blocked_pairs, upsert/upsert_parquet,
plus semantics checks for group_top1/keep_first and existence_probe."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from research_index_backend_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signatures,
    simhash,
)
from research_index_backend_spark.operators.exists import (
    existence_probe,
    semi_anti_split,
)
from research_index_backend_spark.operators.metrics import dup_detect, scorecard
from research_index_backend_spark.operators.similarity_join import (
    blocked_pairs,
    similarity_join,
)
from research_index_backend_spark.operators.upsert import (
    BUCKET_COL,
    UniquenessViolation,
    assert_unique,
    read_bucketed,
    upsert,
    upsert_parquet,
    upsert_parquet_bucketed,
)
from research_index_backend_spark.operators.window_ops import group_top1


@pytest.fixture()
def docs(spark):
    return spark.createDataFrame([
        (1, "the quick brown fox"),
        (2, "the quick brown fox"),          # exact dup of 1
        (3, "the quick brown foxes jumped"),
        (4, "completely different text here"),
    ], ["doc_id", "text"])


class TestDedup:
    def test_exact_dedup(self, spark, docs):
        rows = exact_dedup(docs, "text", "doc_id").collect()
        assert len(rows) == 1
        assert rows[0]["canonical_id"] == 1
        assert rows[0]["n_dups"] == 2

    def test_simhash_identity_and_range(self, spark, docs):
        fp = {r["id"]: r["simhash"]
              for r in simhash(docs, "text", "doc_id").collect()}
        # identical docs -> identical fingerprints
        assert fp[1] == fp[2]
        # 16-bit range
        assert all(0 <= v < 2 ** 16 for v in fp.values())
        # near-dup (1 vs 3) closer in hamming distance than unrelated (1 vs 4)
        ham = lambda a, b: bin(a ^ b).count("1")
        assert ham(fp[1], fp[3]) <= ham(fp[1], fp[4])

    def test_minhash_deterministic(self, spark, docs):
        """Signature component = lexicographic min of md5(f'{i}:{tok}') over
        the token set — verify against a pure-Python recomputation."""
        sig = minhash_signatures(docs, "text", "doc_id", k=4)
        row = {r["id"]: r for r in sig.collect()}[1]
        toks = set("the quick brown fox".split())
        for i in range(4):
            expected = min(
                hashlib.md5(f"{i}:{t}".encode()).hexdigest() for t in toks)
            assert row[f"mh{i}"] == expected

    def test_lsh_pairs_catch_exact_dups(self, spark, docs):
        pairs = {(r["id_a"], r["id_b"])
                 for r in minhash_lsh_pairs(docs, "text", "doc_id",
                                            k=8, bands=4).collect()}
        assert (1, 2) in pairs  # identical docs always share every band

    def test_embedding_hot_bucket_cap(self, spark):
        """A degenerate LSH bucket above max_bucket_size is excluded from
        pairing entirely (the quadratic-blob guard); normal buckets still
        pair. 20 near-identical vectors land in one bucket (190 pairs
        uncapped); 2 vectors of the opposite sign land in another."""
        from research_index_backend_spark.operators.dedup import (
            embedding_near_dup_pairs)
        hot = [(i, [1.0, 1.0, 1.0, 1.0, float(i) * 1e-3])
               for i in range(20)]
        cold = [(100, [-1.0, -1.0, -1.0, -1.0, 0.5]),
                (101, [-1.0, -1.0, -1.0, -1.0, 0.6])]
        emb = spark.createDataFrame(hot + cold,
                                    "vec_id long, embedding array<double>")
        uncapped = embedding_near_dup_pairs(emb, threshold_e6=900_000,
                                            n_bits=4)
        assert uncapped.count() == 190 + 1
        capped = embedding_near_dup_pairs(emb, threshold_e6=900_000,
                                          n_bits=4, max_bucket_size=10)
        got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
        assert got == {(100, 101)}  # hot bucket gone, cold pair survives

    def test_embedding_cap_corpus_relative(self, spark):
        """max_bucket_denom scales the cap with the corpus: cap =
        greatest(max_bucket_size, N div denom). With 22 vectors and
        denom=2 the cap is 11 -> the 20-member bucket is still excluded;
        with denom=1 the cap is 22 -> everything pairs (a fixed absolute
        cap would exclude every bucket as N grows)."""
        from research_index_backend_spark.operators.dedup import (
            embedding_near_dup_pairs)
        hot = [(i, [1.0, 1.0, 1.0, 1.0, float(i) * 1e-3])
               for i in range(20)]
        cold = [(100, [-1.0, -1.0, -1.0, -1.0, 0.5]),
                (101, [-1.0, -1.0, -1.0, -1.0, 0.6])]
        emb = spark.createDataFrame(hot + cold,
                                    "vec_id long, embedding array<double>")
        still_capped = embedding_near_dup_pairs(
            emb, threshold_e6=900_000, n_bits=4,
            max_bucket_size=1, max_bucket_denom=2)
        got = {(r["id_a"], r["id_b"]) for r in still_capped.collect()}
        assert got == {(100, 101)}
        relaxed = embedding_near_dup_pairs(
            emb, threshold_e6=900_000, n_bits=4,
            max_bucket_size=1, max_bucket_denom=1)
        assert relaxed.count() == 190 + 1

    def test_embedding_multi_table_recall_superset(self, spark):
        """L=2 hyperplane tables return a SUPERSET of either single
        table's pairs, with no duplicate (id_a, id_b) rows."""
        from research_index_backend_spark.operators.ann import (
            hyperplane_lsh_bucket)
        from research_index_backend_spark.operators.dedup import (
            embedding_near_dup_pairs)
        emb = (spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
               .filter(F.col("vec_id") < 100))
        multi = embedding_near_dup_pairs(emb, threshold_e6=200_000,
                                         n_bits=4, n_tables=2).collect()
        pairs_multi = {(r["id_a"], r["id_b"]) for r in multi}
        assert len(pairs_multi) == len(multi)  # deduped
        for offset in (0, 4):
            single = embedding_near_dup_pairs(
                emb, threshold_e6=200_000, n_bits=4,
                bucket_fn=lambda v, n, o=offset: hyperplane_lsh_bucket(
                    v, n, plane_offset=o))
            pairs_single = {(r["id_a"], r["id_b"])
                            for r in single.collect()}
            assert pairs_single <= pairs_multi


class TestExists:
    def test_semi_anti_split_disjoint(self, spark):
        probe = spark.createDataFrame([(k,) for k in range(6)], ["k"])
        target = spark.createDataFrame([(k,) for k in (1, 3, 5, 7)], ["k"])
        existing, new = semi_anti_split(probe, target, "k")
        e = {r["k"] for r in existing.collect()}
        n = {r["k"] for r in new.collect()}
        assert e == {1, 3, 5}
        assert n == {0, 2, 4}
        assert e.isdisjoint(n)

    def test_existence_probe_no_row_multiplication(self, spark):
        """A probe key with MANY target matches still yields exactly one
        output row (the round-1 wrong-plan regression)."""
        probe = spark.createDataFrame([(1,), (2,)], ["k"])
        target = spark.createDataFrame([(1,)] * 50, ["k"])
        rows = existence_probe(probe, target, "k").collect()
        got = {r["k"]: r["exists_flag"] for r in rows}
        assert len(rows) == 2
        assert got == {1: True, 2: False}


class TestScorecard:
    def test_multi_metric_one_pass(self, spark):
        df = spark.createDataFrame(
            [(d, v) for d, v in [("a", 1), ("b", -2), ("c", 3), ("d", -4)]],
            ["doi", "v"])
        row = scorecard(df, {
            "n_pos": F.col("v") > 0,
            "n_neg": F.col("v") < 0,
            "n_big": F.abs("v") >= 3,
        }).collect()[0]
        assert (row["n_pos"], row["n_neg"], row["n_big"]) == (2, 2, 2)

    def test_dup_detect(self, spark):
        df = spark.createDataFrame(
            [("x",), ("x",), ("y",), ("z",), ("z",), ("z",)], ["doi"])
        got = {r["doi"]: r["n"] for r in dup_detect(df, ["doi"]).collect()}
        assert got == {"x": 2, "z": 3}


class TestSimilarityJoin:
    def test_blocked_pairs_bounds_candidates(self, spark):
        left = spark.createDataFrame(
            [("Usher", "Will Usher"), ("Smith", "Jo Smith")], ["sn", "name"])
        right = spark.createDataFrame(
            [("Usher", "W Usher"), ("Jones", "A Jones")], ["sn", "name"])
        pairs = blocked_pairs(left, right, "sn").collect()
        # only the shared 'Usher' block pairs up — never a cross product
        assert len(pairs) == 1
        assert pairs[0]["l_name"] == "Will Usher"
        assert pairs[0]["r_name"] == "W Usher"

    def test_exact_difflib_path(self, spark):
        """exact=True scores with the reference difflib algorithm — the
        reversed-name golden (ratio 1.0) proves the word-order retry."""
        left = spark.createDataFrame(
            [("u", "Sridharan Vignesh")], ["k", "name"])
        right = spark.createDataFrame(
            [("u", "Vignesh Sridharan")], ["k", "name"])
        got = similarity_join(left, right, "name", "name",
                              F.col("k"), F.col("k"),
                              threshold=0.8, exact=True).collect()
        assert len(got) == 1
        assert got[0]["similarity"] == 1.0


class TestUpsert:
    def test_upsert_appends_only_new(self, spark):
        existing = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
        incoming = spark.createDataFrame([(2, "B"), (3, "c")], ["k", "v"])
        merged = upsert(existing, incoming, ["k"])
        got = {r["k"]: r["v"] for r in merged.collect()}
        assert got == {1: "a", 2: "b", 3: "c"}  # existing row 2 wins

    def test_assert_unique_raises(self, spark):
        df = spark.createDataFrame([(1,), (1,)], ["k"])
        with pytest.raises(UniquenessViolation):
            assert_unique(df, ["k"], "t")

    def test_upsert_parquet_roundtrip(self, spark, tmp_path):
        path = str(tmp_path / "tbl")
        first = spark.createDataFrame([(1, "a")], ["k", "v"])
        upsert_parquet(spark, first, path, ["k"])
        second = spark.createDataFrame([(1, "A"), (2, "b")], ["k", "v"])
        upsert_parquet(spark, second, path, ["k"])
        got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
        assert got == {1: "a", 2: "b"}

    def test_upsert_update_mode_replaces(self, spark):
        """-u update-metadata semantics (reference
        create_graph_from_doi.py:282): incoming replaces matching keys."""
        existing = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"])
        incoming = spark.createDataFrame([(2, "B"), (3, "c")], ["k", "v"])
        merged = upsert(existing, incoming, ["k"], mode="update")
        got = {r["k"]: r["v"] for r in merged.collect()}
        assert got == {1: "a", 2: "B", 3: "c"}  # incoming row 2 wins

    def test_upsert_recovers_old_when_target_missing(self, spark, tmp_path):
        """Crash between target->old and new->target (round-2 ADVICE): the
        recovery must restore the surviving copy, not delete it."""
        path = tmp_path / "tbl"
        upsert_parquet(spark, spark.createDataFrame([(1, "a")], ["k", "v"]),
                       str(path), ["k"])
        # simulate the crash window: target renamed away, no .new yet
        path.rename(path.with_suffix(".old"))
        upsert_parquet(spark, spark.createDataFrame([(2, "b")], ["k", "v"]),
                       str(path), ["k"])
        got = {r["k"]: r["v"] for r in spark.read.parquet(str(path)).collect()}
        assert got == {1: "a", 2: "b"}  # pre-crash row 1 survived

    def test_upsert_recovers_complete_new_when_target_missing(
            self, spark, tmp_path):
        """Crash after new->target failed but .new was fully written: the
        complete merged table (with _SUCCESS) is promoted."""
        path = tmp_path / "tbl"
        new = path.with_suffix(".new")
        spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]) \
            .write.parquet(str(new))
        assert (new / "_SUCCESS").exists()
        upsert_parquet(spark, spark.createDataFrame([(3, "c")], ["k", "v"]),
                       str(path), ["k"])
        got = {r["k"]: r["v"] for r in spark.read.parquet(str(path)).collect()}
        assert got == {1: "a", 2: "b", 3: "c"}

    def test_upsert_parquet_stale_old_dir(self, spark, tmp_path):
        """A leftover .old directory NEXT TO AN INTACT TARGET (crash after
        the new->target rename but before the .old cleanup) is stale and
        must be cleaned, not merged or restored (ADVICE rounds 1+2)."""
        path = tmp_path / "tbl"
        first = spark.createDataFrame([(1, "a")], ["k", "v"])
        upsert_parquet(spark, first, str(path), ["k"])
        stale = path.with_suffix(".old")
        stale.mkdir()
        (stale / "junk").write_text("stale")
        upsert_parquet(
            spark, spark.createDataFrame([(2, "b")], ["k", "v"]),
            str(path), ["k"])
        assert not stale.exists()
        got = {r["k"]: r["v"] for r in spark.read.parquet(str(path)).collect()}
        assert got == {1: "a", 2: "b"}


class TestBucketedUpsert:
    def _files(self, root):
        return {p.relative_to(root): p.read_bytes()
                for p in sorted(root.rglob("*.parquet"))}

    def test_untouched_buckets_byte_identical(self, spark, tmp_path):
        """The partition-pruned sink must leave buckets whose keys the
        batch does not touch byte-for-byte untouched on disk."""
        path = tmp_path / "tbl"
        base = spark.createDataFrame(
            [(i, f"v{i}") for i in range(32)], ["k", "v"])
        upsert_parquet_bucketed(spark, base, str(path), ["k"], n_buckets=8)
        buckets = {p.name for p in path.iterdir() if p.is_dir()}
        assert buckets <= {f"{BUCKET_COL}={i}" for i in range(8)}
        before = self._files(path)

        batch = spark.createDataFrame([(0, "V0"), (100, "new")], ["k", "v"])
        upsert_parquet_bucketed(spark, batch, str(path), ["k"],
                                n_buckets=8, mode="update")

        # which buckets could legally change?
        touched = {r[0] for r in batch.selectExpr(
            f"pmod(hash(k), 8) AS {BUCKET_COL}").distinct().collect()}
        after = self._files(path)
        for rel, blob in before.items():
            b = int(str(rel).split("=")[1].split("/")[0])
            if b not in touched:
                assert after[rel] == blob, f"untouched bucket file {rel} changed"
        got = {r["k"]: r["v"] for r in read_bucketed(spark, str(path)).collect()}
        want = {i: f"v{i}" for i in range(32)}
        want.update({0: "V0", 100: "new"})
        assert got == want

    def test_bucketed_insert_keeps_existing(self, spark, tmp_path):
        path = tmp_path / "tbl"
        upsert_parquet_bucketed(
            spark, spark.createDataFrame([(1, "a")], ["k", "v"]),
            str(path), ["k"], n_buckets=4)
        upsert_parquet_bucketed(
            spark, spark.createDataFrame([(1, "A"), (2, "b")], ["k", "v"]),
            str(path), ["k"], n_buckets=4)
        got = {r["k"]: r["v"] for r in read_bucketed(spark, str(path)).collect()}
        assert got == {1: "a", 2: "b"}  # insert mode: existing row 1 wins

    def test_overwrite_mode_is_per_write(self, spark, tmp_path, monkeypatch):
        """Two foreachBatch queries may share a session, so the sink must
        not set the session-wide partitionOverwriteMode: one query
        restoring `static` while the other writes would turn that write
        into a static overwrite that deletes every untouched bucket."""
        from pyspark.sql.conf import RuntimeConfig

        key = "spark.sql.sources.partitionOverwriteMode"
        real_set = RuntimeConfig.set

        def guarded_set(self, k, v):
            assert k != key, f"session-wide {k}={v} set by the sink"
            return real_set(self, k, v)

        monkeypatch.setattr(RuntimeConfig, "set", guarded_set)
        path = tmp_path / "tbl"
        upsert_parquet_bucketed(
            spark, spark.createDataFrame([(i, "a") for i in range(16)],
                                         ["k", "v"]),
            str(path), ["k"], n_buckets=8)
        upsert_parquet_bucketed(
            spark, spark.createDataFrame([(3, "B"), (20, "c")], ["k", "v"]),
            str(path), ["k"], n_buckets=8, mode="update")
        got = {r["k"]: r["v"] for r in read_bucketed(spark, str(path)).collect()}
        assert got == {**{i: "a" for i in range(16)}, 3: "B", 20: "c"}


class TestWindowOps:
    def test_group_top1_deterministic(self, spark):
        df = spark.createDataFrame(
            [(1, 10, "x"), (1, 5, "y"), (2, 7, "z")], ["k", "score", "tag"])
        got = {r["k"]: r["tag"] for r in
               group_top1(df, ["k"],
                          [F.col("score").desc(), F.col("tag")]).collect()}
        assert got == {1: "x", 2: "z"}


class TestShingles:
    def test_short_text_yields_empty_set(self, spark):
        from research_index_backend_spark.operators.dedup import shingles_col
        df = spark.createDataFrame([("abcd",), ("abcdef",), ("",)], ["t"])
        got = [r[0] for r in df.select(shingles_col("t", 5)).collect()]
        assert got[0] == []          # len 4 < n: guarded (sequence would
        assert got[2] == []          # otherwise count DOWN from 1 to 0)
        assert got[1] == ["abcde", "bcdef"]

    def test_shingles_are_distinct_and_lowercase(self, spark):
        from research_index_backend_spark.operators.dedup import shingles_col
        df = spark.createDataFrame([("AAAAAA",)], ["t"])
        got = df.select(shingles_col("t", 5)).collect()[0][0]
        assert got == ["aaaaa"]


class TestWinnowing:
    def test_shared_substring_guarantee(self, spark):
        """Winnowing guarantee (Schleimer et al. 2003): documents sharing
        a substring of length >= k+w-1 (= 8 for k=5,w=4) share at least
        one fingerprint; disjoint-alphabet docs share none."""
        from research_index_backend_spark.operators.dedup import (
            winnow_fingerprints,
        )
        df = spark.createDataFrame([
            (1, "xxCOMMONSUBSTRINGxx"),
            (2, "yyyCOMMONSUBSTRINGyyy"),
            (3, "zzzzzzzzzzzzzzzzzz"),
        ], ["doc_id", "text"])
        fps = winnow_fingerprints(df, "text", "doc_id", k=5, w=4)
        by_doc = {}
        for r in fps.collect():
            by_doc.setdefault(r["id"], set()).add(r["fp"])
        assert by_doc[1] & by_doc[2]          # shared run -> shared fp
        assert not (by_doc[1] & by_doc[3])    # disjoint alphabets
        # storage bound sanity: far fewer fps than k-gram positions
        assert len(by_doc[1]) < len("xxCOMMONSUBSTRINGxx") - 4


class TestSaltedJoin:
    def test_row_parity_with_plain_join(self, spark):
        """Salting must not change the result set — inner and left."""
        from research_index_backend_spark.operators.skew import salted_join
        big = spark.createDataFrame(
            [("hot", i) for i in range(500)] + [("cold", 0), ("miss", 1)],
            ["k", "v"])
        small = spark.createDataFrame(
            [("hot", "H"), ("cold", "C"), ("other", "O")], ["k", "tag"])
        for how in ("inner", "left"):
            plain = big.join(small, "k", how).groupBy("k").count()
            salted = salted_join(big, small, ["k"], n_salts=8, how=how) \
                .groupBy("k").count()
            assert ({(r["k"], r["count"]) for r in plain.collect()}
                    == {(r["k"], r["count"]) for r in salted.collect()}), how

    def test_hot_key_spreads_across_salts(self, spark):
        from research_index_backend_spark.operators.skew import (
            SALT_COL,
            salted_join,
        )
        from pyspark.sql import functions as F
        big = spark.createDataFrame([("hot", i) for i in range(500)],
                                    ["k", "v"])
        big_s = big.withColumn(
            SALT_COL, F.pmod(F.hash(*[F.col(c) for c in big.columns]),
                             F.lit(8)))
        n_salts_used = big_s.select(SALT_COL).distinct().count()
        assert n_salts_used >= 6  # the hot key's rows really do spread


class TestAsofJoin:
    def test_latest_prior_inclusive_and_null(self, spark):
        from research_index_backend_spark.operators.asof import asof_join
        left = spark.createDataFrame(
            [(1, 10, "l1"), (1, 20, "l2"), (1, 5, "l0"), (2, 7, "l3")],
            ["k", "t", "lv"])
        right = spark.createDataFrame(
            [(1, 10, "r@10"), (1, 15, "r@15"), (2, 9, "r@9")],
            ["k", "t", "rv"])
        got = {r["lv"]: r["rv"] for r in
               asof_join(left, right, on="k", ts="t",
                         value_cols=["rv"]).collect()}
        assert got == {
            "l0": None,     # no right row at or before t=5
            "l1": "r@10",   # equal ts matches (inclusive, ASOF semantics)
            "l2": "r@15",   # latest prior, not first
            "l3": None,     # right row is AFTER the left ts
        }

    def test_forward_with_tolerance(self, spark):
        from research_index_backend_spark.operators.asof import (
            asof_join_forward)
        left = spark.createDataFrame(
            [(1, 10, "l1"), (1, 20, "l2"), (1, 95, "l3"), (2, 7, "l4")],
            ["k", "t", "lv"])
        right = spark.createDataFrame(
            [(1, 10, "r@10"), (1, 30, "r@30"), (1, 200, "r@200"),
             (2, 5, "r@5")],
            ["k", "t", "rv"])
        got = {r["lv"]: r["rv"] for r in
               asof_join_forward(left, right, on="k", ts="t",
                                 value_cols=["rv"],
                                 tolerance=50).collect()}
        assert got == {
            "l1": "r@10",   # equal ts matches (inclusive)
            "l2": "r@30",   # earliest following, not latest
            "l3": None,     # r@200 exists but gap 105 > tolerance 50
            "l4": None,     # only right row is BEFORE the left ts
        }

    def test_forward_no_tolerance_unbounded(self, spark):
        from research_index_backend_spark.operators.asof import (
            asof_join_forward)
        left = spark.createDataFrame([(1, 0, "l")], ["k", "t", "lv"])
        right = spark.createDataFrame([(1, 10**9, "far")], ["k", "t", "rv"])
        rows = asof_join_forward(left, right, on="k", ts="t",
                                 value_cols=["rv"]).collect()
        assert rows[0]["rv"] == "far"  # tolerance=None -> any future row

    def test_forward_plan_is_running_frame(self, spark):
        """The carry must be the reversed-sort RUNNING frame — an
        unbounded-FOLLOWING frame re-aggregates the suffix per row
        (SURVEY 4.4)."""
        import contextlib, io
        from research_index_backend_spark.operators.asof import (
            asof_join_forward)
        left = spark.createDataFrame([(1, 0, "l")], ["k", "t", "lv"])
        right = spark.createDataFrame([(1, 1, "r")], ["k", "t", "rv"])
        df = asof_join_forward(left, right, on="k", ts="t",
                               value_cols=["rv"])
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(True)
        plan = buf.getvalue()
        assert "unboundedpreceding" in plan.lower()
        assert "unboundedfollowing" not in plan.lower()


class TestCosineBackends:
    def test_fold_and_numpy_agree_after_quantization(self, spark):
        """The JVM fold and the Arrow-numpy cosine are the same operator
        up to summation order; round(sim, 9) — the catalog's comparison
        grain — must make them identical on real embeddings."""
        from research_index_backend_spark.operators.ann import (
            cosine_sim, cosine_sim_np)
        import pyspark.sql.functions as F
        e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        q = e.limit(3).select(F.col("vec_id").alias("qid"),
                              F.col("embedding").alias("qv"))
        pairs = e.crossJoin(F.broadcast(q))
        both = pairs.select(
            "vec_id", "qid",
            F.round(cosine_sim(F.col("embedding"), F.col("qv")), 9)
             .alias("fold"),
            F.round(cosine_sim_np(F.col("embedding"), F.col("qv")), 9)
             .alias("np"))
        assert both.filter(F.col("fold") != F.col("np")).isEmpty()


class TestBucketedJoin:
    def test_bucketed_join_has_no_shuffle(self, spark):
        """The point of bucketing: joining two tables bucketed on the
        join key plans ZERO shuffle exchanges (the shuffle was paid once
        at write time), while the same join on plain frames plans one
        per side."""
        import contextlib, io
        from pyspark.sql import functions as F
        from research_index_backend_spark.operators.bucketing import (
            bucketed_join, write_bucketed)

        def plan_of(df):
            # executedPlan().toString() keeps Exchange arguments inline
            # ("Exchange hashpartitioning(o_key#..."), which explain
            # "formatted" splits away from the node tree
            return df._jdf.queryExecution().executedPlan().toString()

        orders = spark.range(0, 1000).select(
            F.col("id").alias("o_key"),
            (F.col("id") % 7).alias("o_val"))
        lines = spark.range(0, 5000).select(
            (F.col("id") % 1000).alias("o_key"),
            (F.col("id") % 13).alias("l_val"))
        old_thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            # disable broadcast so the join actually keys on co-location
            # (at real scale neither side fits a broadcast anyway)
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            write_bucketed(orders, "t_bkt_orders", ["o_key"], 8)
            write_bucketed(lines, "t_bkt_lines", ["o_key"], 8)
            j = bucketed_join(spark, "t_bkt_orders", "t_bkt_lines",
                              ["o_key"]).groupBy("o_val").count()
            plan = plan_of(j)
            assert "Exchange hashpartitioning(o_key" not in plan
            assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
            assert bucketed_join(spark, "t_bkt_orders", "t_bkt_lines",
                                 ["o_key"]).count() == 5000
            assert j.count() == 7  # o_val groups survive the agg
            # control: the identical join on plain (unbucketed) frames
            # shuffles both sides on the key
            import re
            plain = plan_of(
                orders.join(lines, "o_key").groupBy("o_val").count())
            assert len(re.findall(r"Exchange hashpartitioning\(o_key",
                                  plain)) >= 2
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thr)
            spark.sql("DROP TABLE IF EXISTS t_bkt_orders")
            spark.sql("DROP TABLE IF EXISTS t_bkt_lines")


class TestTextStatsTwins:
    """tokens/doc_terms/bm25 against their DuckDB twins on a hand corpus
    built to break the tokenizer: mixed case, tab/newline runs, leading
    and trailing whitespace, an empty and an all-whitespace document,
    and a term repeated within a document."""

    CORPUS = [
        (1, "Spark  SPARK spark\twindow"),
        (2, "  \n Table\n\nspark "),
        (3, ""),
        (4, " \t\n "),
        (5, "window table window"),
    ]
    # (doc_id, term, tf, dl); documents 3 and 4 have no tokens, so no rows
    TERMS = [
        (1, "spark", 3, 4), (1, "window", 1, 4),
        (2, "spark", 1, 2), (2, "table", 1, 2),
        (5, "table", 1, 3), (5, "window", 2, 3),
    ]
    QUERY = ("spark", "window")

    @pytest.fixture()
    def con(self):
        import duckdb
        import pandas as pd
        con = duckdb.connect()
        con.register("corpus", pd.DataFrame(self.CORPUS,
                                            columns=["doc_id", "text"]))
        yield con
        con.close()

    @pytest.fixture()
    def toks(self, spark):
        from research_index_backend_spark.operators.textstats import tokens
        return (spark.createDataFrame(self.CORPUS, "doc_id long, text string")
                .select("doc_id", tokens("text").alias("toks")))

    def test_doc_terms_rows(self, toks, con):
        from research_index_backend_spark.operators.textstats import (
            doc_terms,
            doc_terms_sql,
        )
        got = sorted(tuple(r) for r in doc_terms(toks).collect())
        assert got == self.TERMS
        assert sorted(con.sql(doc_terms_sql("corpus")).fetchall()) \
            == self.TERMS

    def test_term_prune_below_tf_aggregate_one_tokenize(self, toks):
        from research_index_backend_spark.operators.textstats import doc_terms
        q = doc_terms(toks).filter(F.col("term").isin(*self.QUERY))
        plan = q._jdf.queryExecution().optimizedPlan().toString()
        lines = plan.splitlines()
        agg = next(i for i, ln in enumerate(lines) if "Aggregate" in ln)
        flt = next(i for i, ln in enumerate(lines)
                   if "Filter" in ln and "term" in ln)
        assert flt > agg, plan  # lower in the tree = later in the dump
        # one tokenize pass: no inferred size(toks) > 0 filter re-runs
        # the tokenizer below the projection that defines toks
        assert plan.count("split(") == 1, plan

    def test_bm25_matches_its_sql_twin(self, toks, con):
        from research_index_backend_spark.operators.textstats import (
            BM25_STATS_SQL,
            bm25,
            bm25_sql,
            bm25_stats,
            doc_terms,
            doc_terms_sql,
        )
        stats = bm25_stats(toks)
        assert tuple(stats.first()) == (3, 3.0)
        tf = doc_terms(toks).filter(F.col("term").isin(*self.QUERY))
        joined = sorted(tuple(r) for r in bm25(tf, stats).collect())
        inlined = sorted(tuple(r) for r in bm25(tf, stats.first()).collect())
        oracle = sorted(con.sql(f"""
WITH terms AS ({doc_terms_sql("corpus")}),
stats AS ({BM25_STATS_SQL}),
seed AS (SELECT unnest({list(self.QUERY)}) AS term),
{bm25_sql('', 'seed')}
SELECT doc_id, score_e6 FROM scored""").fetchall())
        assert [d for d, _ in joined] == [1, 2, 5]
        assert joined == inlined == oracle
