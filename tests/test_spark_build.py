"""Spark integration tests for the build/merge/probe core (SURVEY.md §5.2).

Covers: zero-FN golden (query ⊂ corpus ⇒ all might_contain, the analog of
inputs/query.txt being an exact prefix of inputs/sars-cov-2.fasta), FPR
bound on guaranteed-absent keys, partition-count invariance of merged
sketches (Spark-level), estimate-vs-exact against Spark aggregates, and
shingle SQL-reproducibility against DuckDB.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pytest
from pyspark.sql import functions as F

from bloomfilter_multithread_spark.functions.shingles import (
    duckdb_shingles_cte,
    explode_shingles,
)
from bloomfilter_multithread_spark.operators.build import (
    SketchSpec,
    build_partials,
    build_sketches,
    tree_merge,
    with_cms_estimate,
    with_might_contain,
)
from bloomfilter_multithread_spark.sources.transcripts import synth_query_set


@pytest.fixture(scope="module")
def built(spark, corpus):
    specs = [
        SketchSpec("bloom_text", "bloom", "text", {"m_bits": 1 << 22, "k": 5}),
        SketchSpec("hll_conv", "hll", "conv_id", {"p": 14}),
        SketchSpec("cms_role", "cms", "role", {"width": 1 << 12, "depth": 5}),
        SketchSpec("kll_len", "kll", "length(text)", {"k": 200}),
        SketchSpec("td_len", "tdigest", "length(text)", {"delta": 200.0}),
    ]
    return build_sketches(corpus, specs)


class TestBuildMergeProbe:
    def test_zero_false_negatives_golden(self, spark, corpus, built):
        """Probe table 'present' part is copied verbatim from the corpus —
        every row must hit (reference all-ones expectation, main.cpp:276-281)."""
        q = synth_query_set(spark, corpus)
        probed = with_might_contain(q, "text", built["bloom_text"])
        res = (
            probed.groupBy("expected_present")
            .agg(F.count("*").alias("n"), F.sum(F.col("might_contain").cast("long")).alias("hits"))
            .collect()
        )
        by = {r["expected_present"]: r for r in res}
        assert by[True]["hits"] == by[True]["n"]  # zero FN
        n_corpus = corpus.count()
        fpr_bound = built["bloom_text"].fpr_bound(n_corpus)
        observed = by[False]["hits"] / by[False]["n"]
        slack = 5 * np.sqrt(max(fpr_bound, 1e-12) / by[False]["n"])
        assert observed <= fpr_bound + slack

    def test_partition_count_invariance_spark(self, spark, corpus):
        """Same input at 2 vs 32 partitions ⇒ bit-identical Bloom/HLL/CMS
        (SURVEY.md §5.2.4) — the Spark-level merge-law witness."""
        specs = [
            SketchSpec("b", "bloom", "text", {"m_bits": 1 << 20, "k": 4}),
            SketchSpec("h", "hll", "conv_id", {"p": 12}),
            SketchSpec("c", "cms", "role", {"width": 1 << 10, "depth": 4}),
            SketchSpec("k", "kmv", "text", {"k": 128}),
        ]
        s2 = build_sketches(corpus.repartition(2), specs)
        s32 = build_sketches(corpus.repartition(32), specs)
        assert np.array_equal(s2["b"].bits, s32["b"].bits)
        assert np.array_equal(s2["h"].registers, s32["h"].registers)
        assert np.array_equal(s2["c"].table, s32["c"].table)
        assert np.array_equal(s2["k"].values, s32["k"].values)

    def test_salted_repartition_invariance(self, spark, corpus):
        specs = [SketchSpec("b", "bloom", "conv_id", {"m_bits": 1 << 18, "k": 4})]
        plain = build_sketches(corpus, specs)
        salted = build_sketches(corpus, specs, salt_partitions=16)
        assert np.array_equal(plain["b"].bits, salted["b"].bits)

    def test_hll_vs_exact_distinct(self, spark, corpus, built):
        exact = corpus.select("conv_id").distinct().count()
        est = built["hll_conv"].estimate()
        assert abs(est - exact) / exact < 4 * built["hll_conv"].rel_error_bound()

    def test_kmv_vs_exact_distinct(self, spark, corpus):
        """KMV through the full Spark build path (JVM xxhash64 → mapInArrow
        partials → min-wise merge) estimates distinct texts within bound;
        saturation is asserted so the test exercises the order-statistics
        estimator, not the trivial exact mode."""
        k = build_sketches(corpus, [SketchSpec("k", "kmv", "text", {"k": 256})])["k"]
        exact = corpus.select("text").distinct().count()
        assert k.saturated
        assert abs(k.estimate() - exact) / exact < 4 * k.rel_error_bound()

    def test_cms_vs_exact_counts(self, spark, corpus, built):
        exact = {r["role"]: r["n"] for r in corpus.groupBy("role").count().withColumnRenamed("count", "n").collect()}
        est_df = with_cms_estimate(
            corpus.select("role").distinct(), "role", built["cms_role"], "est"
        ).collect()
        for r in est_df:
            assert r["est"] >= exact[r["role"]]
            assert r["est"] - exact[r["role"]] <= built["cms_role"].error_bound()

    def test_quantiles_vs_exact(self, spark, corpus, built):
        exact = corpus.selectExpr(
            "percentile(length(text), array(0.1, 0.5, 0.9)) as q"
        ).first()["q"]
        n = corpus.count()
        lens = np.sort(np.array([r[0] for r in corpus.selectExpr("length(text)").collect()]))
        for sk_name, eps in (("kll_len", built["kll_len"].rank_error_bound()), ("td_len", 0.02)):
            for q, ex in zip((0.1, 0.5, 0.9), exact):
                est = built[sk_name].quantile(q)
                rank = np.searchsorted(lens, est, side="right") / n
                assert abs(rank - q) <= 2 * eps, (sk_name, q, est, ex)

    def test_partials_carry_lineage(self, spark, corpus):
        parts = build_partials(
            corpus, [SketchSpec("b", "bloom", "text", {"m_bits": 1 << 16, "k": 3})]
        ).collect()
        assert all(r["n_rows"] >= 0 and r["partition_id"] >= 0 for r in parts)
        assert sum(r["n_rows"] for r in parts) == corpus.count()
        merged = tree_merge(
            build_partials(corpus, [SketchSpec("b", "bloom", "text", {"m_bits": 1 << 16, "k": 3})])
        )
        assert "b" in merged

    def test_null_keys_skipped(self, spark, corpus):
        # 'tool' is null on most rows — build must not crash nor count nulls
        specs = [SketchSpec("h", "hll", "tool", {"p": 12})]
        sk = build_sketches(corpus, specs)
        exact = corpus.where("tool is not null").select("tool").distinct().count()
        assert abs(sk["h"].estimate() - exact) / max(exact, 1) < 0.1

    def test_dedup_projection_shares_identical_exprs(self, spark):
        """Specs over the same SQL string + same hash/value treatment ride
        ONE projected column (the headline build ships length(text) once
        for kll AND t-digest — 8 of 40 bytes/row across the exchange +
        Arrow boundary saved); differing pre_hashed/value treatment never
        shares, and a Column object never shares with a SQL string."""
        from bloomfilter_multithread_spark.operators.build import _dedup_projection

        specs = [
            SketchSpec("b", "bloom", "text", {"m_bits": 1 << 16, "k": 3}),
            SketchSpec("h", "hll", "conv_id", {"p": 12}),
            SketchSpec("k", "kll", "length(text)", {"k": 200}),
            SketchSpec("t", "tdigest", "length(text)", {"delta": 200.0}),
            # same string as 'b' but pre-hashed -> different expression
            SketchSpec("b2", "bloom", "text", {"m_bits": 1 << 16, "k": 3},
                       pre_hashed=True),
            # a Column object is keyed by identity, not by its SQL text
            SketchSpec("b3", "bloom", F.col("text"), {"m_bits": 1 << 16, "k": 3}),
        ]
        cols, index = _dedup_projection(specs)
        assert len(cols) == 5  # b, h, kll/td shared, b2, b3
        assert index["k"] == index["t"]
        assert index["b"] != index["b2"] != index["b3"]
        assert sorted(set(index.values())) == list(range(5))

    def test_dedup_projection_column_object_value_vs_hash(self, spark, corpus):
        """One Column object feeding a value sketch AND a hash sketch needs
        two projected columns: the KLL's raw value and the HLL's hash.
        Keyed by the object alone, the HLL was fed the KLL's raw values as
        if they were hashes and estimated ~1 distinct value."""
        from bloomfilter_multithread_spark.operators.build import _dedup_projection

        turn = F.col("turn_idx")
        kll = SketchSpec("k", "kll", turn, {"k": 200})
        hll = SketchSpec("h", "hll", turn, {"p": 12})
        cols, index = _dedup_projection([kll, hll, SketchSpec("h2", "hll", turn, {"p": 12})])
        assert len(cols) == 2
        assert index["k"] != index["h"] == index["h2"]

        shared = build_sketches(corpus, [kll, hll])["h"]
        exact = corpus.select("turn_idx").distinct().count()
        assert abs(shared.estimate() - exact) <= 3 * shared.rel_error_bound() * exact
        assert shared.to_bytes() == build_sketches(corpus, [hll])["h"].to_bytes()

    def test_dedup_projection_build_identity(self, spark, corpus):
        """Sketches built through a shared projected column are identical
        to independent single-spec builds — including when route_for's
        column is the shared one (the routed exchange keys off the
        deduped projection)."""
        kll_spec = SketchSpec("k", "kll", "length(text)", {"k": 200})
        td_spec = SketchSpec("t", "tdigest", "length(text)", {"delta": 200.0})
        b_spec = SketchSpec(
            "b", "bloom", "text",
            {"m_bits": 1 << 18, "k": 4, "block_bits": 1 << 12})
        h_spec = SketchSpec("h", "hll", "text", {"p": 12})  # shares b's column
        # unrouted: identical partitioning as the solo builds, so even the
        # partition-SENSITIVE quantile sketches must come out identical
        shared = build_sketches(corpus, [b_spec, h_spec, kll_spec, td_spec])
        solo = {
            s.name: build_sketches(corpus, [s])[s.name]
            for s in (b_spec, h_spec, kll_spec, td_spec)
        }
        assert np.array_equal(shared["b"].bits, solo["b"].bits)
        assert np.array_equal(shared["h"].registers, solo["h"].registers)
        for q in (0.1, 0.5, 0.9):
            assert shared["k"].quantile(q) == solo["k"].quantile(q)
            assert shared["t"].quantile(q) == pytest.approx(solo["t"].quantile(q))
        # routed: the exchange keys off the SHARED column; only the
        # partition-INVARIANT sketches are compared (kll/tdigest are
        # merge-order-sensitive by design, see partition_count_invariance)
        routed = build_sketches(corpus, [b_spec, h_spec, kll_spec, td_spec],
                                route_for="b")
        assert np.array_equal(routed["b"].bits, solo["b"].bits)
        assert np.array_equal(routed["h"].registers, solo["h"].registers)


class TestShingleSQLParity:
    def test_spark_vs_duckdb_shingles(self, spark, sf_dir):
        """explode_shingles must be row-for-row identical to the documented
        DuckDB CTE — the keystone for every shingle-based oracle query."""
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where("doc_id < 200")
        got = (
            explode_shingles(docs, "text", k=5)
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_shingles"), F.countDistinct("shingle").alias("n_distinct"))
            .orderBy("doc_id")
            .collect()
        )
        con = duckdb.connect()
        con.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
        cte = duckdb_shingles_cte("(SELECT * FROM documents WHERE doc_id < 200)", "doc_id", "text", 5)
        want = con.sql(
            f"WITH sh AS ({cte}) SELECT doc_id, COUNT(*) n, COUNT(DISTINCT shingle) d"
            " FROM sh GROUP BY doc_id ORDER BY doc_id"
        ).fetchall()
        assert [(r["doc_id"], r["n_shingles"], r["n_distinct"]) for r in got] == [
            (a, b, c) for a, b, c in want
        ]


def test_routed_blocked_build_equals_unrouted(spark, corpus):
    """Routing by hash-block must not change the merged sketch (merge is
    associative+commutative) — the reference-routing re-expression."""
    from bloomfilter_multithread_spark.operators.build import SketchSpec, build_sketches

    spec = [SketchSpec("b", "bloom", "text",
                       {"m_bits": 1 << 20, "k": 5, "block_bits": 1 << 16})]
    plain = build_sketches(corpus, spec)
    routed = build_sketches(corpus, spec, route_for="b")
    assert plain["b"].to_bytes() == routed["b"].to_bytes()


def test_routed_blocked_cbf_build_equals_unrouted(spark, corpus):
    """route_for generalizes to the blocked CBF (block_slots): the routed
    exchange must not change the merged counters (counter-add merge is
    associative+commutative), and the retraction subtract works on the
    routed-build result."""
    from bloomfilter_multithread_spark.operators.build import SketchSpec, build_sketches

    spec = [SketchSpec("c", "cbf", "text",
                       {"m_slots": 1 << 20, "k": 5, "block_slots": 1 << 16})]
    plain = build_sketches(corpus, spec)
    routed = build_sketches(corpus, spec, route_for="c")
    assert plain["c"].to_bytes() == routed["c"].to_bytes()
    # retraction on the routed result: subtract the whole corpus -> empty
    empty = routed["c"].subtract(plain["c"])
    assert empty.net_insert_count() == 0


class TestMergeShape:
    """The tree merge runs its first level only for more than ``fanout``
    partials per spec. One merge level and two must agree: Bloom, HLL and
    CMS byte for byte, KLL and t-digest within their rank-error bounds
    (their merge is order-sensitive by design)."""

    SPECS = [
        SketchSpec("b", "bloom", "text", {"m_bits": 1 << 18, "k": 4, "block_bits": 1 << 12}),
        SketchSpec("h", "hll", "conv_id", {"p": 12}),
        SketchSpec("c", "cms", "role", {"width": 1 << 10, "depth": 4}),
        SketchSpec("k", "kll", "length(text)", {"k": 200}),
        SketchSpec("t", "tdigest", "length(text)", {"delta": 200.0}),
    ]

    @staticmethod
    def _merge_stages(merged) -> int:
        # every level is one mapInArrow over the partial-build mapInArrow
        return merged._jdf.queryExecution().optimizedPlan().toString().count("MapInArrow") - 1

    @staticmethod
    def _assert_same(one, two, lens):
        for name in ("b", "h", "c"):
            assert one[name].to_bytes() == two[name].to_bytes(), name
        for name, eps in (("k", one["k"].rank_error_bound()), ("t", 0.02)):
            for sk in (one[name], two[name]):
                for q in (0.1, 0.5, 0.9):
                    rank = np.searchsorted(lens, sk.quantile(q), side="right") / len(lens)
                    assert abs(rank - q) <= 2 * eps, (name, q)

    @pytest.fixture(scope="class")
    def lens(self, corpus):
        return np.sort([r[0] for r in corpus.selectExpr("length(text)").collect()])

    def test_levels_follow_partial_count(self, spark, corpus):
        from bloomfilter_multithread_spark.operators.build import _build_merged, _num_partials

        specs = self.SPECS
        assert self._merge_stages(_build_merged(corpus, specs, route_for="b",
                                                route_partitions=8)) == 1
        assert self._merge_stages(_build_merged(corpus, specs, fanout=4, route_for="b",
                                                route_partitions=8)) == 2
        assert self._merge_stages(_build_merged(corpus, specs, route_for="b",
                                                route_partitions=32)) == 2
        assert _num_partials(corpus, route_for="b") == spark.sparkContext.defaultParallelism
        assert _num_partials(corpus, salt_partitions=5) == 5
        assert self._merge_stages(_build_merged(corpus, specs, salt_partitions=5)) == 1
        assert self._merge_stages(_build_merged(corpus, specs, salt_partitions=32)) == 2
        # unrouted, unsalted: the count is decided at run time -> both levels
        assert _num_partials(corpus) is None
        assert self._merge_stages(_build_merged(corpus, specs)) == 2

    def test_build_and_persist_one_vs_two_levels(self, spark, corpus, lens, tmp_path):
        from bloomfilter_multithread_spark.operators.build import (
            build_and_persist,
            load_sketches,
        )

        def persisted(name, **kw):
            path = str(tmp_path / name)
            build_and_persist(corpus, self.SPECS, path, **kw)
            return load_sketches(spark, path)

        one = persisted("routed1", route_for="b", route_partitions=8)
        self._assert_same(one, persisted("routed2", route_for="b",
                                         route_partitions=8, fanout=4), lens)
        self._assert_same(one, persisted("routed32", route_for="b",
                                         route_partitions=32), lens)
        self._assert_same(one, persisted("plain"), lens)
        self._assert_same(one, persisted("plain4", fanout=4), lens)

    def test_build_sketches_one_vs_two_levels(self, spark, corpus, lens):
        # salt_partitions fixes P whatever the session's parallelism:
        # 8 partials take one merge level, 32 take two
        one = build_sketches(corpus, self.SPECS, salt_partitions=8)
        self._assert_same(one, build_sketches(corpus, self.SPECS, salt_partitions=32), lens)
        # tree_merge cannot see the partial count, so it runs both levels
        # over the very partials build_sketches merges in one
        self._assert_same(one, tree_merge(build_partials(corpus, self.SPECS,
                                                         salt_partitions=8)), lens)
        self._assert_same(one, build_sketches(corpus, self.SPECS), lens)
        self._assert_same(one, build_sketches(corpus, self.SPECS, route_for="b"), lens)
        self._assert_same(one, tree_merge(build_partials(corpus, self.SPECS,
                                                         route_for="b")), lens)


def test_runtime_filter_semijoin_injects_catalyst_bloom(spark, sf_dir):
    """The contract query must actually carry Catalyst's injected
    runtime bloom filter (InjectRuntimeFilter): the lineitem scan side
    gets might_contain(bloom_filter_agg(xxhash64(o_orderkey))) — the
    reference's build→probe pipeline, planned by the optimizer. The
    plan is forced inside the query while the thresholds are lowered,
    so it must survive the conf restore."""
    import __spark_entry__ as entry

    df = entry.queries()["runtime_filter_semijoin"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "might_contain" in plan
    assert "bloom_filter_agg" in plan
    # and the confs were restored
    assert spark.conf.get(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    ) != "0"


def test_bucketed_join_plans_zero_exchanges(spark, sf_dir):
    """bucketBy(8, user_id) on both sides must remove every Exchange
    from the join AND the downstream per-user aggregate (the bucketing
    is reused twice). The query itself raises if an Exchange sneaks in;
    this re-runs it end-to-end and checks result sanity."""
    import __spark_entry__ as entry

    rows = entry.queries()["bucketed_join"](spark, sf_dir).collect()
    assert len(rows) > 0
    assert all(r["n_pairs"] >= 1 for r in rows)
    # scratch tables cleaned up
    assert not spark.catalog.tableExists("_bck_err")
    assert not spark.catalog.tableExists("_bck_clk")


def test_cbo_column_stats_estimate_aggregate_cardinality(spark, sf_dir):
    """Catalog-statistics surface: ANALYZE TABLE ... FOR COLUMNS feeds
    the cost-based optimizer a distinct-count, so the estimated output
    cardinality of GROUP BY l_suppkey is the NDV (within the HLL error
    of the stats collection), not a guess proportional to input rows.
    At 100 TB these estimates are what make join reordering and
    broadcast decisions right before the first byte is read."""
    import shutil

    saved = spark.conf.get("spark.sql.cbo.enabled")
    spark.sql("DROP TABLE IF EXISTS _cbo_li")
    shutil.rmtree("/root/repo/spark-warehouse/_cbo_li", ignore_errors=True)
    try:
        spark.conf.set("spark.sql.cbo.enabled", "true")
        spark.read.parquet(f"{sf_dir}/lineitem.parquet").write.saveAsTable("_cbo_li")
        spark.sql("ANALYZE TABLE _cbo_li COMPUTE STATISTICS FOR COLUMNS l_suppkey")
        agg = spark.sql("SELECT l_suppkey, COUNT(*) AS n FROM _cbo_li GROUP BY l_suppkey")
        est = agg._jdf.queryExecution().optimizedPlan().stats().rowCount()
        assert est.isDefined(), "CBO produced no rowCount estimate"
        est_rows = int(str(est.get()))
        true_rows = agg.count()
        assert true_rows / 2 <= est_rows <= true_rows * 2, (est_rows, true_rows)
    finally:
        spark.conf.set("spark.sql.cbo.enabled", saved)
        spark.sql("DROP TABLE IF EXISTS _cbo_li")
        shutil.rmtree("/root/repo/spark-warehouse/_cbo_li", ignore_errors=True)
