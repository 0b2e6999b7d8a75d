"""Skew salting and bucketed co-located join tests (100 TB scale machinery)."""

import os

import pytest
from pyspark.sql import functions as F

from ssis_to_dbt_spark.operators import (
    grouped_aggregate,
    salted_aggregate,
    salted_join,
    top_keys,
)
from ssis_to_dbt_spark.sources import writers
from ssis_to_dbt_spark.sources.writers import write_bucketed
from ssis_to_dbt_spark.text import dedup
from test_text import num_buckets, stage_tasks


def four_buckets(monkeypatch, est_bytes):
    """Shrink ``writers.BUCKET_BYTES`` so that an index table the
    writers estimate at ``est_bytes`` gets 4 buckets (a dedup index's
    signature table, ~1.6x its band table, then gets 8)."""
    monkeypatch.setattr(writers, "BUCKET_BYTES", est_bytes // 3)


@pytest.fixture()
def skewed(spark):
    # key 'hot' carries 90% of the rows
    rows = [(i, "hot" if i % 10 else "cold", float(i % 7)) for i in range(1000)]
    return spark.createDataFrame(rows, "id int, k string, v double")


class TestSaltedAggregate:
    def test_matches_plain_aggregate(self, spark, skewed):
        plain = {
            r["k"]: (r["s"], r["c"])
            for r in grouped_aggregate(
                skewed, ["k"], {"s": F.sum("v"), "c": F.count(F.lit(1))}
            ).collect()
        }
        salted = {
            r["k"]: (r["s"], r["c"])
            for r in salted_aggregate(
                skewed,
                ["k"],
                partial_aggs={"s": F.sum("v"), "c": F.count(F.lit(1))},
                merge_aggs={"s": F.sum("s"), "c": F.sum("c")},
                salt_col="id",
                salt_buckets=8,
            ).collect()
        }
        assert plain == salted

    def test_deterministic_across_runs(self, spark, skewed):
        def run():
            return sorted(
                salted_aggregate(
                    skewed, ["k"],
                    {"c": F.count(F.lit(1))}, {"c": F.sum("c")},
                    salt_col="id",
                ).collect()
            )
        assert run() == run()


class TestSaltedJoin:
    def test_matches_plain_join(self, spark, skewed):
        dim = spark.createDataFrame(
            [("hot", "H"), ("cold", "C"), ("unused", "U")], "k string, attr string"
        )
        plain = sorted(
            (r["id"], r["attr"])
            for r in skewed.join(dim, "k", "left").collect()
        )
        salted = sorted(
            (r["id"], r["attr"])
            for r in salted_join(skewed, dim, ["k"], salt_col="id", salt_buckets=4).collect()
        )
        assert plain == salted

    def test_hot_keys_path_matches(self, spark, skewed):
        dim = spark.createDataFrame(
            [("hot", "H"), ("cold", "C")], "k string, attr string"
        )
        hot = top_keys(skewed, ["k"], n=1)
        assert hot.first()["k"] == "hot"
        plain = sorted(
            (r["id"], r["attr"]) for r in skewed.join(dim, "k", "left").collect()
        )
        salted = sorted(
            (r["id"], r["attr"])
            for r in salted_join(
                skewed, dim, ["k"], salt_col="id", hot_keys=hot
            ).collect()
        )
        assert plain == salted


class TestBucketedJoin:
    def test_bucketed_join_has_no_exchange(self, spark, tmp_path):
        a = spark.createDataFrame([(i, i * 2) for i in range(100)], "k int, va int")
        b = spark.createDataFrame([(i, i * 3) for i in range(100)], "k int, vb int")
        write_bucketed(a, "bucket_a", str(tmp_path / "a"), ["k"], num_buckets=4)
        write_bucketed(b, "bucket_b", str(tmp_path / "b"), ["k"], num_buckets=4)
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("bucket_a").join(spark.table("bucket_b"), "k")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            # co-located bucketed SMJ: no shuffle on either side
            assert "Exchange hashpartitioning" not in plan, plan
            assert "SortMergeJoin" in plan, plan
            assert joined.count() == 100
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.sql("DROP TABLE bucket_a")
            spark.sql("DROP TABLE bucket_b")

    def test_catalog_entry_drops_its_tables(self, spark):
        """``bucketed_join_orders`` leaves no ``bt_*`` table registered:
        its result is materialized before both tables are dropped."""
        from ssis_to_dbt_spark import catalog

        out = catalog.ALL_QUERIES["bucketed_join_orders"](
            spark, "/root/testdata/sf0.001"
        )
        assert out.collect()
        assert not [
            t.name for t in spark.catalog.listTables()
            if t.name.startswith("bt_")
        ]


class TestIvfPartitionedProbe:
    def test_probe_prunes_cell_partitions(self, spark, tmp_path):
        # the 100 TB IVF layout: assignment written partitionBy(cell) turns an
        # nprobe-cell probe into partition PRUNING — unprobed cells' files are
        # never listed into the scan
        from ssis_to_dbt_spark.sources.readers import testdata
        from ssis_to_dbt_spark.text import ivf_assign, ivf_centroids

        emb = testdata(spark, "/root/testdata/sf0.001")["embeddings"]
        cents = ivf_centroids(emb, n_cells=4)
        path = str(tmp_path / "ivf")
        ivf_assign(emb, cents).write.partitionBy("cell").parquet(path)

        probed = spark.read.parquet(path).filter("cell IN (0, 2)")
        plan = probed._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters: [cell" in plan.replace("#", " ").replace(
            "IN (0,2)", ""
        ) or "PartitionFilters" in plan
        # the filter must be a partition filter, not a post-scan data filter
        assert "PushedFilters: []" in plan or "DataFilters: []" in plan
        got = {r["cell"] for r in probed.select("cell").distinct().collect()}
        assert got <= {0, 2}


class TestAutoSkewRoute:
    """The star join's fact-side shuffle, auto-routed by measured skew:
    uniform fixture -> plain join plan (no salting machinery); skewed
    fixture -> hot-key split engages (explode replication in the plan)."""

    def _star_sides(self, spark, sf_dir="/root/testdata/sf0.001"):
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        orders_dim = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
            F.col("o_orderkey").alias("l_orderkey"), "o_custkey", "o_orderdate"
        )
        return li, orders_dim

    def test_uniform_fixture_routes_plain(self, spark):
        from ssis_to_dbt_spark.operators import auto_skew_join

        li, orders_dim = self._star_sides(spark)
        joined, route = auto_skew_join(
            li, orders_dim, on=["l_orderkey"], salt_col="l_linenumber",
            how="inner", min_count=100,
        )
        assert route == "plain"
        plan = joined._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"))
        assert "Generate explode" not in plan  # no dim replication
        assert "_salt" not in plan
        assert joined.count() == li.count()

    def test_skewed_fixture_engages_hot_key_split(self, spark):
        from ssis_to_dbt_spark.operators import auto_skew_join

        li, orders_dim = self._star_sides(spark)
        # skewed variant: one orderkey replicated to ~30% of the fact table
        hot_key = li.select("l_orderkey").first()["l_orderkey"]
        hot_rows = (
            li.filter(F.col("l_orderkey") == hot_key)
            .limit(1)
            .crossJoin(spark.range(2000).select(F.col("id").alias("_r")))
            .drop("_r")
        )
        skewed_li = li.unionByName(hot_rows)
        joined, route = auto_skew_join(
            skewed_li, orders_dim, on=["l_orderkey"], salt_col="l_linenumber",
            how="inner", min_count=100,
        )
        assert route == "salted"
        plan = joined._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"))
        assert "explode" in plan  # hot dim rows replicate across salts
        # correctness: identical to the plain join on the same skewed input
        plain = skewed_li.join(orders_dim, on=["l_orderkey"], how="inner")
        key = lambda r: (r["l_orderkey"], r["l_linenumber"], r["o_custkey"])
        assert sorted(map(key, joined.collect())) == sorted(
            map(key, plain.collect())
        )

    def test_detect_hot_keys_thresholds(self, spark):
        from ssis_to_dbt_spark.operators import detect_hot_keys

        rows = [(i, "hot" if i % 10 else f"k{i}") for i in range(1000)]
        df = spark.createDataFrame(rows, "id int, k string")
        hot = [r["k"] for r in detect_hot_keys(
            df, ["k"], skew_factor=8.0, min_count=50).collect()]
        assert hot == ["hot"]
        # nothing over threshold on uniform data
        uni = spark.createDataFrame(
            [(i, f"k{i % 50}") for i in range(1000)], "id int, k string"
        )
        assert detect_hot_keys(uni, ["k"], min_count=100).count() == 0
        # empty input does not crash
        assert detect_hot_keys(uni.limit(0), ["k"]).count() == 0


class TestBucketedCorpusDedupIndex:
    """The persisted cross-corpus dedup index (round-8): bands + sigs
    written bucketed once; a backfill batch (too big to broadcast) joins
    with ZERO corpus-side exchange — only the batch side shuffles."""

    def test_backfill_join_corpus_side_no_exchange(
        self, spark, tmp_path, monkeypatch
    ):
        from ssis_to_dbt_spark.sources.readers import testdata
        from ssis_to_dbt_spark.text import (
            cross_corpus_candidates,
            read_corpus_dedup_index,
            write_corpus_dedup_index,
        )

        docs = testdata(spark, "/root/testdata/sf0.001")["documents"]
        corpus = docs.filter(F.col("doc_id") % 5 != 0)
        batch = docs.filter(F.col("doc_id") % 5 == 0)
        four_buckets(monkeypatch, corpus.count() * 4 * dedup._BAND_ROW_BYTES)
        write_corpus_dedup_index(corpus, "cc_idx", str(tmp_path / "cc_idx"))
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            idx = read_corpus_dedup_index(spark, "cc_idx")
            out = cross_corpus_candidates(
                batch, corpus_index=idx, broadcast_batch=False
            )
            plan = out._jdf.queryExecution().executedPlan().toString()
            # corpus band table: bucketed scan feeds the SMJ directly —
            # no Exchange (and no Sort beyond the pre-sorted buckets)
            # between the cc_idx_bands FileScan and its join
            seg = plan[: plan.index("cc_idx_bands")]
            # the band-join subtree appears after the batch side; count
            # exchanges attributable to the bucketed scans: a bucketed
            # side contributes none, so total hashpartitioning exchanges
            # must equal the BATCH-side ones only (band + sig + pair agg),
            # and the stored tables' scans must advertise their buckets
            assert "SelectedBucketsCount" in plan
            # every Exchange hashpartitioning must key on BATCH-derived
            # attribute ids — never on an attribute produced by the stored
            # tables' scans (i.e. the corpus side is never re-shuffled)
            import re

            stored_ids = set()
            for m in re.finditer(
                r"FileScan parquet spark_catalog\.default\."
                r"cc_idx_\w+\[([^\]]*)\]",
                plan,
            ):
                stored_ids |= set(re.findall(r"#(\d+)", m.group(1)))
            assert stored_ids  # both bucketed scans present
            for m in re.finditer(
                r"Exchange hashpartitioning\(([^)]*)\)", plan
            ):
                ex_ids = set(re.findall(r"#(\d+)", m.group(1)))
                assert not (ex_ids & stored_ids), (m.group(0), stored_ids)
            # semantics unchanged vs the derive-everything path
            direct = cross_corpus_candidates(batch, corpus)
            assert sorted(map(tuple, out.collect())) == sorted(
                map(tuple, direct.collect())
            )
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.sql("DROP TABLE IF EXISTS cc_idx_bands")
            spark.sql("DROP TABLE IF EXISTS cc_idx_sigs")


class TestAppendCorpusDedupIndex:
    """Index maintenance: appending an accepted batch's bands+sigs to the
    bucketed tables must be equivalent to rebuilding the index over the
    grown corpus — and the append must preserve the bucketed layout."""

    def test_append_equals_rebuild(self, spark, tmp_path, monkeypatch):
        from ssis_to_dbt_spark.sources.readers import testdata
        from ssis_to_dbt_spark.text import (
            append_corpus_dedup_index,
            cross_corpus_candidates,
            read_corpus_dedup_index,
            write_corpus_dedup_index,
        )

        docs = testdata(spark, "/root/testdata/sf0.001")["documents"]
        corpus0 = docs.filter(F.col("doc_id") % 5 > 1)       # initial 3/5
        accepted = docs.filter(F.col("doc_id") % 5 == 1)     # grown by 1/5
        probe = docs.filter(F.col("doc_id") % 5 == 0)        # today's batch
        four_buckets(monkeypatch, corpus0.count() * 4 * dedup._BAND_ROW_BYTES)
        try:
            write_corpus_dedup_index(
                corpus0, "grow_idx", str(tmp_path / "grow_idx")
            )
            append_corpus_dedup_index(accepted, "grow_idx")
            idx = read_corpus_dedup_index(spark, "grow_idx")
            got = sorted(
                map(
                    tuple,
                    cross_corpus_candidates(
                        probe, corpus_index=idx
                    ).collect(),
                )
            )
            want = sorted(
                map(
                    tuple,
                    cross_corpus_candidates(
                        probe, corpus0.unionByName(accepted)
                    ).collect(),
                )
            )
            assert got == want and got  # non-trivial candidate set
            # appended table still advertises its bucket spec to the planner
            desc = spark.sql(
                "DESCRIBE TABLE EXTENDED grow_idx_bands"
            ).collect()
            txt = "\n".join(f"{r[0]} {r[1]}" for r in desc)
            assert "Num Buckets 4" in txt, txt
        finally:
            spark.sql("DROP TABLE IF EXISTS grow_idx_bands")
            spark.sql("DROP TABLE IF EXISTS grow_idx_sigs")

    def test_append_keeps_a_multi_bucket_count(
        self, spark, tmp_path, monkeypatch
    ):
        """Appends write into each table's own bucket spec: onto a
        multi-bucket dedup index and pHash index an append succeeds, the
        tables keep their counts, and a probe finds the appended rows."""
        from ssis_to_dbt_spark.sources.readers import testdata
        from ssis_to_dbt_spark.text import (
            append_corpus_dedup_index,
            cross_corpus_candidates,
            read_corpus_dedup_index,
            write_corpus_dedup_index,
        )
        from ssis_to_dbt_spark.text.dedup import (
            append_phash_index,
            phash_probe_index,
            write_phash_index,
        )

        docs = testdata(spark, "/root/testdata/sf0.001")["documents"]
        seed = docs.filter(F.col("doc_id") % 2 == 0)
        extra = docs.filter(F.col("doc_id") % 2 != 0).limit(20)
        fps = spark.createDataFrame(
            [(i, (i * 0x9E3779B97F4A7C15) & ((1 << 48) - 1))
             for i in range(220)],
            "media_id long, phash long",
        )
        new_fps = fps.filter(F.col("media_id") >= 200)
        tables = ("mb_idx_bands", "mb_idx_sigs", "mb_ph_phash")
        try:
            four_buckets(
                monkeypatch, seed.count() * 4 * dedup._BAND_ROW_BYTES
            )
            write_corpus_dedup_index(seed, "mb_idx", str(tmp_path / "mb"))
            four_buckets(monkeypatch, 200 * 4 * dedup._PHASH_ROW_BYTES)
            write_phash_index(
                fps.filter(F.col("media_id") < 200), "mb_ph",
                str(tmp_path / "ph"),
            )
            assert [num_buckets(spark, t) for t in tables] == [4, 8, 4]
            monkeypatch.undo()
            append_corpus_dedup_index(extra, "mb_idx")
            append_phash_index(new_fps, "mb_ph")
            assert [num_buckets(spark, t) for t in tables] == [4, 8, 4]
            # each appended doc and image pairs with its own stored copy
            shift = 100_000
            pairs = cross_corpus_candidates(
                extra.select(
                    (F.col("doc_id") + shift).alias("doc_id"), "text"
                ),
                corpus_index=read_corpus_dedup_index(spark, "mb_idx"),
            ).collect()
            assert {
                r["corpus_id"] for r in pairs
                if r["new_id"] == r["corpus_id"] + shift
            } == {r["doc_id"] for r in extra.collect()}
            hits = phash_probe_index(
                spark,
                new_fps.select(
                    (F.col("media_id") + shift).alias("media_id"), "phash"
                ),
                "mb_ph", max_hamming=0,
            ).collect()
            assert {(r["media_id"] - shift, r["index_id"]) for r in hits} \
                == {(i, i) for i in range(200, 220)}
        finally:
            for t in tables:
                spark.sql(f"DROP TABLE IF EXISTS {t}")

    def test_appends_match_columns_by_name(self, spark, tmp_path):
        """A ``new_index=`` / ``new_bands=`` relation whose columns are
        in another order than the table's lands every value in its own
        column."""
        from ssis_to_dbt_spark.sources.readers import testdata
        from ssis_to_dbt_spark.text import (
            append_corpus_dedup_index,
            corpus_dedup_index,
            write_corpus_dedup_index,
        )
        from ssis_to_dbt_spark.text.dedup import (
            _hamming_banded,
            append_phash_index,
            write_phash_index,
        )

        docs = testdata(spark, "/root/testdata/sf0.001")["documents"]
        batch = docs.filter(F.col("doc_id") % 5 == 0)
        fps = spark.createDataFrame(
            [(i, (i * 0x9E3779B97F4A7C15) & ((1 << 48) - 1))
             for i in range(40)],
            "media_id long, phash long",
        )
        try:
            write_corpus_dedup_index(
                docs.filter(F.col("doc_id") % 5 != 0), "bn_idx",
                str(tmp_path / "bn"),
            )
            sigs, bands = corpus_dedup_index(batch)
            append_corpus_dedup_index(
                batch, "bn_idx", batch_id=1, new_index=(
                    sigs.select("minhash", "doc_id"),
                    bands.select("band_hash", "doc_id", "band_idx"),
                ),
            )
            write_phash_index(
                fps.filter(F.col("media_id") < 20), "bn_ph",
                str(tmp_path / "ph"),
            )
            new_bands = _hamming_banded(
                fps.filter(F.col("media_id") >= 20), "media_id", "phash",
                dedup.PHASH_BITS, dedup.PHASH_BAND_BITS, None,
            )
            append_phash_index(
                fps, "bn_ph", batch_id=1, new_bands=new_bands.select(
                    "band_val", "band_idx", "_fp", "media_id"
                ),
            )
            for table, want in (
                ("bn_idx_sigs", sigs),
                ("bn_idx_bands", bands),
                ("bn_ph_phash", new_bands),
            ):
                spark.catalog.refreshTable(table)
                got = spark.table(table).filter(F.col("_ib") == 1)
                assert sorted(
                    map(tuple, got.select(*want.columns).collect())
                ) == sorted(map(tuple, want.collect()))
        finally:
            for t in ("bn_idx_bands", "bn_idx_sigs", "bn_ph_phash"):
                spark.sql(f"DROP TABLE IF EXISTS {t}")

    def test_small_index_probes_scan_in_one_task(self, spark, tmp_path):
        """A small dedup index and a small pHash index have 1 bucket, so
        every stage of a probe, its index scan included, runs 1 task."""
        from ssis_to_dbt_spark.sources.readers import testdata
        from ssis_to_dbt_spark.text import (
            cross_corpus_candidates,
            read_corpus_dedup_index,
            write_corpus_dedup_index,
        )
        from ssis_to_dbt_spark.text.dedup import (
            phash_probe_index,
            write_phash_index,
        )

        docs = testdata(spark, "/root/testdata/sf0.001")["documents"]
        fps = spark.createDataFrame(
            [(i, (i * 0x9E3779B97F4A7C15) & ((1 << 48) - 1))
             for i in range(40)],
            "media_id long, phash long",
        ).coalesce(1)
        tables = ("one_idx_bands", "one_idx_sigs", "one_ph_phash")
        try:
            write_corpus_dedup_index(
                docs.filter(F.col("doc_id") % 5 != 0), "one_idx",
                str(tmp_path / "one"),
            )
            write_phash_index(fps, "one_ph", str(tmp_path / "ph"))
            assert [num_buckets(spark, t) for t in tables] == [1, 1, 1]
            idx = read_corpus_dedup_index(spark, "one_idx")
            batch = docs.filter(F.col("doc_id") % 5 == 0)
            for probe in (
                lambda: cross_corpus_candidates(
                    batch, corpus_index=idx
                ).collect(),
                lambda: phash_probe_index(
                    spark, fps.filter(F.col("media_id") < 5), "one_ph",
                    max_hamming=0,
                ).collect(),
            ):
                rows, tasks = stage_tasks(spark, probe)
                assert rows and tasks and max(tasks) == 1, tasks
        finally:
            for t in tables:
                spark.sql(f"DROP TABLE IF EXISTS {t}")


class TestCrawlIngestPersistedIndex:
    """r9: the continuous-crawl loop (ingest.py) against the ON-DISK
    persisted index must be value-identical to the in-memory functional
    form the driver entry uses — write the seed index once, run batch 1,
    APPEND its acceptances, run batch 2 against the re-read tables."""

    def test_two_batch_loop_persisted_index_twin(self, spark, tmp_path):
        from ssis_to_dbt_spark.ingest import (
            IngestState,
            ingest_batch,
            seed_ingest_state,
        )
        from ssis_to_dbt_spark.sources.readers import testdata
        from ssis_to_dbt_spark.text import (
            append_corpus_dedup_index,
            read_corpus_dedup_index,
            write_corpus_dedup_index,
        )

        docs = testdata(spark, "/root/testdata/sf0.001")["documents"]
        seed = docs.filter(F.col("doc_id") % 5 >= 2)
        b1 = docs.filter(F.col("doc_id") % 5 == 0)
        b2 = docs.filter(F.col("doc_id") % 5 == 1)

        # in-memory reference (the driver entry's form)
        st = seed_ingest_state(seed)
        r1 = ingest_batch(b1, st)
        r2 = ingest_batch(b2, r1.state)

        try:
            # persisted twin: index lives in bucketed tables on disk
            write_corpus_dedup_index(
                seed, "ing_idx", str(tmp_path / "ing_idx")
            )
            sigs, bands = read_corpus_dedup_index(spark, "ing_idx")
            p1 = ingest_batch(
                b1,
                IngestState(sigs=sigs, bands=bands,
                            dsir_state=st.dsir_state),
            )
            append_corpus_dedup_index(
                p1.accepted.select("doc_id", "text"), "ing_idx"
            )
            sigs2, bands2 = read_corpus_dedup_index(spark, "ing_idx")
            p2 = ingest_batch(
                b2,
                IngestState(sigs=sigs2, bands=bands2,
                            dsir_state=p1.state.dsir_state),
            )
            for mem, disk in ((r1, p1), (r2, p2)):
                assert sorted(map(tuple, mem.rejected.collect())) == sorted(
                    map(tuple, disk.rejected.collect())
                )
                assert sorted(
                    r["doc_id"] for r in mem.accepted.collect()
                ) == sorted(r["doc_id"] for r in disk.accepted.collect())
                assert sorted(map(tuple, mem.scored.collect())) == sorted(
                    map(tuple, disk.scored.collect())
                )
                assert sorted(map(tuple, mem.packed.collect())) == sorted(
                    map(tuple, disk.packed.collect())
                )
            assert r1.rejected.count() > 0 and r2.rejected.count() > 0
        finally:
            spark.sql("DROP TABLE IF EXISTS ing_idx_bands")
            spark.sql("DROP TABLE IF EXISTS ing_idx_sigs")

    def test_band_audit_reports_overcap_buckets(self, spark, tmp_path):
        """The r9 index-health audit: lifetime band membership above the
        cap surfaces as (band_idx, band_hash, n_members) rows — the
        compaction signal append_corpus_dedup_index documents."""
        from ssis_to_dbt_spark.sources.readers import testdata
        from ssis_to_dbt_spark.text.dedup import (
            corpus_dedup_index_band_audit,
            write_corpus_dedup_index,
        )

        docs = testdata(spark, "/root/testdata/sf0.001")["documents"]
        try:
            write_corpus_dedup_index(
                docs, "aud_idx", str(tmp_path / "aud_idx")
            )
            over = corpus_dedup_index_band_audit(spark, "aud_idx", 1)
            rows = over.collect()
            assert len(rows) > 0  # near-dup fixture docs share bands
            assert all(r["n_members"] > 1 for r in rows)
            assert (
                corpus_dedup_index_band_audit(spark, "aud_idx", 10_000)
                .count() == 0
            )
        finally:
            spark.sql("DROP TABLE IF EXISTS aud_idx_bands")
            spark.sql("DROP TABLE IF EXISTS aud_idx_sigs")

    def test_empty_batch_is_identity(self, spark):
        """A crawl gap (empty micro-batch) must pass through cleanly:
        empty outputs, DSIR state model-identical (empty delta merge is
        the identity — the streaming handler hits this in production)."""
        from ssis_to_dbt_spark.ingest import ingest_batch, seed_ingest_state
        from ssis_to_dbt_spark.sources.readers import testdata
        from ssis_to_dbt_spark.text.analysis import dsir_model_from_state

        docs = testdata(spark, "/root/testdata/sf0.001")["documents"]
        st = seed_ingest_state(docs.filter(F.col("doc_id") % 5 >= 2))
        r = ingest_batch(docs.filter(F.lit(False)), st)
        assert r.gated.count() == 0
        assert r.rejected.count() == 0
        assert r.accepted.count() == 0
        assert r.scored.count() == 0
        assert r.packed.count() == 0
        assert dsir_model_from_state(st.dsir_state, 256) == \
            dsir_model_from_state(r.state.dsir_state, 256)

    def test_backfill_regime_value_identical(self, spark, monkeypatch):
        """Forcing the backfill regime (batch over the broadcast cap)
        must keep reject/accept/score identical — the size-aware probe
        only changes the plan, never the answer."""
        from ssis_to_dbt_spark import ingest
        from ssis_to_dbt_spark.ingest import ingest_batch, seed_ingest_state
        from ssis_to_dbt_spark.sources.readers import testdata

        docs = testdata(spark, "/root/testdata/sf0.001")["documents"]
        st = seed_ingest_state(docs.filter(F.col("doc_id") % 5 >= 2))
        b1 = docs.filter(F.col("doc_id") % 5 == 0)
        small = ingest_batch(b1, st)
        monkeypatch.setattr(ingest, "BATCH_BROADCAST_MAX_DOCS", 0)
        big = ingest_batch(b1, st)
        assert sorted(map(tuple, small.rejected.collect())) == sorted(
            map(tuple, big.rejected.collect())
        )
        assert sorted(map(tuple, small.scored.collect())) == sorted(
            map(tuple, big.scored.collect())
        )


class TestCompactCorpusDedupIndex:
    """r9: the compaction the band audit's signal calls for — rebuild
    both index tables from STORED SIGNATURES (no text re-scan), dedupe
    accidental re-appends, restore the global band cap, and swap
    atomically.  The compacted index must give the identical candidate
    pairs as a fresh rebuild from text."""

    def test_compact_dedupes_recaps_and_preserves_semantics(
        self, spark, tmp_path, monkeypatch
    ):
        from ssis_to_dbt_spark.sources.readers import testdata
        from ssis_to_dbt_spark.text import (
            append_corpus_dedup_index,
            cross_corpus_candidates,
            read_corpus_dedup_index,
            write_corpus_dedup_index,
        )
        from ssis_to_dbt_spark.text.dedup import (
            compact_corpus_dedup_index,
            corpus_dedup_index_band_audit,
        )

        docs = testdata(spark, "/root/testdata/sf0.001")["documents"]
        corpus = docs.filter(F.col("doc_id") % 5 != 0)
        batch = docs.filter(F.col("doc_id") % 5 == 0)
        four_buckets(monkeypatch, corpus.count() * 4 * dedup._BAND_ROW_BYTES)
        try:
            write_corpus_dedup_index(
                corpus, "cmp_idx", str(tmp_path / "cmp_idx")
            )
            n0 = spark.table("cmp_idx_sigs").count()
            # accidental double-append of the same accepted slice
            extra = corpus.filter(F.col("doc_id") % 7 == 0)
            append_corpus_dedup_index(
                extra.select("doc_id", "text"), "cmp_idx"
            )
            append_corpus_dedup_index(
                extra.select("doc_id", "text"), "cmp_idx"
            )
            spark.catalog.refreshTable("cmp_idx_sigs")
            assert spark.table("cmp_idx_sigs").count() > n0
            # duplicated membership shows up as over-cap at cap=1
            assert (
                corpus_dedup_index_band_audit(spark, "cmp_idx", 1).count()
                > 0
            )
            compact_corpus_dedup_index(
                spark, "cmp_idx", str(tmp_path / "cmp_idx")
            )
            # dedup restored: exactly one signature row per doc
            assert spark.table("cmp_idx_sigs").count() == n0
            sigs = spark.table("cmp_idx_sigs")
            assert sigs.select("doc_id").distinct().count() == n0
            # candidate semantics identical to a fresh from-text rebuild
            idx = read_corpus_dedup_index(spark, "cmp_idx")
            via_compact = cross_corpus_candidates(batch, corpus_index=idx)
            via_text = cross_corpus_candidates(batch, corpus)
            assert sorted(map(tuple, via_compact.collect())) == sorted(
                map(tuple, via_text.collect())
            )
            # the bucketed layout survived the swap (bucket-pruned scans)
            plan = (
                cross_corpus_candidates(
                    batch, corpus_index=idx, broadcast_batch=False
                )
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            assert "SelectedBucketsCount" in plan
        finally:
            for t in (
                "cmp_idx_bands", "cmp_idx_sigs",
                "cmp_idx_compact_stage_bands", "cmp_idx_compact_stage_sigs",
            ):
                spark.sql(f"DROP TABLE IF EXISTS {t}")


    def test_compaction_releases_its_checkpoint(self, spark, tmp_path):
        """The deduped-signature checkpoint is released once both stages
        are written: a compaction leaves no persistent RDD behind."""
        from ssis_to_dbt_spark.sources.readers import testdata
        from ssis_to_dbt_spark.text import (
            append_corpus_dedup_index,
            write_corpus_dedup_index,
        )
        from ssis_to_dbt_spark.text.dedup import compact_corpus_dedup_index

        docs = testdata(spark, "/root/testdata/sf0.001")["documents"]
        jsc = spark.sparkContext._jsc
        try:
            write_corpus_dedup_index(
                docs.filter(F.col("doc_id") % 5 != 0), "rel_idx",
                str(tmp_path / "rel"),
            )
            append_corpus_dedup_index(
                docs.filter(F.col("doc_id") % 5 == 0), "rel_idx"
            )
            before = jsc.getPersistentRDDs().size()
            compact_corpus_dedup_index(spark, "rel_idx", str(tmp_path / "rel"))
            assert jsc.getPersistentRDDs().size() == before
        finally:
            for t in ("rel_idx_bands", "rel_idx_sigs"):
                spark.sql(f"DROP TABLE IF EXISTS {t}")


class TestBackfillHotBucketSkew:
    """r10 (r9 VERDICT #5): an adversarially hot band bucket — one viral
    boilerplate string carrying ~50% of BOTH sides — driven through the
    BACKFILL (shuffle) probe regime.  The per-side band cap must bound
    the candidate fan-out (<= bands * cap^2 pairs through any bucket)
    and the join must complete as a shuffle join with no cartesian."""

    CAP = 20

    def _mk_docs(self, spark, n, viral_frac, tag):
        viral = ("breaking news subscribe to our newsletter for the "
                 "latest updates and exclusive offers every single day")
        rows = []
        for i in range(n):
            if i < int(n * viral_frac):
                text = viral  # identical text -> identical bands
            else:
                text = " ".join(
                    f"{tag}w{i}x{j} the and of" for j in range(12)
                )
            rows.append((i if tag == "c" else i + 100_000, text))
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_hot_bucket_bounded_and_shuffle_join_completes(
        self, spark, tmp_path
    ):
        from ssis_to_dbt_spark.text import (
            cross_corpus_candidates,
            read_corpus_dedup_index,
            write_corpus_dedup_index,
        )

        corpus = self._mk_docs(spark, 300, 0.5, "c")
        batch = self._mk_docs(spark, 200, 0.5, "b")
        try:
            write_corpus_dedup_index(
                corpus, "hot_idx", str(tmp_path / "hot_idx"),
                max_bucket_size=self.CAP,
            )
            # the stored corpus side is capped: no band bucket holds more
            # than CAP members even though 150 corpus docs share all bands
            over = (
                spark.table("hot_idx_bands")
                .groupBy("band_idx", "band_hash").count()
                .filter(F.col("count") > self.CAP)
            )
            assert over.count() == 0
            idx = read_corpus_dedup_index(spark, "hot_idx")
            out = cross_corpus_candidates(
                batch, corpus_index=idx, broadcast_batch=False,
                max_bucket_size=self.CAP,
            )
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert "CartesianProduct" not in plan
            # the BAND join runs in the shuffle regime (no pinned
            # broadcast of the batch bands; AQE may still broadcast the
            # tiny downstream sig-attach joins at fixture scale — that's
            # its call, not a pinned plan)
            import re

            band_joins = [
                m.group(1)
                for m in re.finditer(
                    r"(\w+Join) \[band_idx", plan
                )
            ]
            assert band_joins, plan[:1500]
            assert all(
                j in ("SortMergeJoin", "ShuffledHashJoin")
                for j in band_joins
            ), band_joins
            rows = out.collect()
            # fan-out bound: per band bucket each side contributes <= CAP
            # members, so <= 4 * CAP^2 raw pairs; dedup keeps it below
            assert 0 < len(rows) <= 4 * self.CAP * self.CAP
            # viral batch docs only pair with viral corpus docs — and the
            # candidate pairs are distinct (the dedup held under skew)
            assert len(rows) == len({(r["new_id"], r["corpus_id"])
                                     for r in rows})
            viral_pairs = [
                r for r in rows
                if r["new_id"] < 100_100 and r["corpus_id"] < 150
            ]
            # every surviving viral pair estimates full similarity
            assert viral_pairs and all(
                r["est_jaccard"] == 1.0 for r in viral_pairs
            )
        finally:
            spark.sql("DROP TABLE IF EXISTS hot_idx_bands")
            spark.sql("DROP TABLE IF EXISTS hot_idx_sigs")


class TestWriteBucketedRegistersLast:
    """The dedup and phash compaction heals read "the stage table exists"
    as "the stage data is fully written", and the BM25 heal's docstring
    states the same ordering: a bucketed ``saveAsTable`` registers the
    table name only after its data write completes."""

    def test_name_absent_while_data_is_written(self, spark, tmp_path):
        import threading
        import time

        started = str(tmp_path / "task_started")
        finished = str(tmp_path / "task_finished")
        table = "ctas_order_probe"

        def slow(batches):
            import pathlib
            import time as _time

            pathlib.Path(started).touch()
            _time.sleep(3)
            yield from batches
            pathlib.Path(finished).touch()

        df = spark.range(0, 100, numPartitions=1).mapInPandas(slow, "id long")
        polls = []  # tableExists readings taken entirely mid-write
        stop = threading.Event()

        def poll():
            while not stop.is_set():
                began = os.path.exists(started)
                exists = spark.catalog.tableExists(table)
                if began and not os.path.exists(finished):
                    polls.append(exists)
                time.sleep(0.1)

        spark.sql(f"DROP TABLE IF EXISTS {table}")
        poller = threading.Thread(target=poll)
        poller.start()
        try:
            write_bucketed(
                df, table, str(tmp_path / "t"), ["id"], num_buckets=2
            )
        finally:
            stop.set()
            poller.join()
        try:
            assert len(polls) >= 5, polls
            assert not any(polls), polls
            assert spark.catalog.tableExists(table)
            assert spark.table(table).count() == 100
        finally:
            spark.sql(f"DROP TABLE IF EXISTS {table}")


class TestCompactionSwapSelfHeal:
    """r10 + r11 (r10 ADVICE, low): a crash inside compaction's two-table
    swap must heal in LOCK-STEP — completing only the bands swap would
    pair compacted bands with the old un-deduped sigs (duplicate
    signature rows inflate probe pair multiplicity, and the band audit
    watching the compacted bands table would never trigger a recompact).
    The heal keys off the fixed sequence (stage writes, then bands swap,
    then sigs swap): any state where ``stage_sigs`` exists rolls BOTH
    suffixes forward; ``stage_bands`` alone means the crash hit during
    the sigs stage write, so the intact old index is served untouched."""

    def _setup(self, spark, tmp_path, prefix):
        from ssis_to_dbt_spark.sources.readers import testdata
        from ssis_to_dbt_spark.text import write_corpus_dedup_index

        docs = testdata(spark, "/root/testdata/sf0.001")["documents"]
        corpus = docs.filter(F.col("doc_id") % 5 != 0)
        batch = docs.filter(F.col("doc_id") % 5 == 0)
        write_corpus_dedup_index(corpus, prefix, str(tmp_path / prefix))
        return corpus, batch

    def _stage(self, spark, tmp_path, prefix, suffixes):
        """Write fully-formed compacted stage tables (same content a
        compaction run would stage) for the given suffixes."""
        from ssis_to_dbt_spark.sources.writers import write_bucketed
        from ssis_to_dbt_spark.text.dedup import _band_signature_table

        sigs = spark.table(f"{prefix}_sigs")
        if "bands" in suffixes:
            banded = _band_signature_table(
                sigs.drop("_ib"), "doc_id", 10_000
            ).join(sigs.select("doc_id", "_ib"), "doc_id")
            write_bucketed(
                banded, f"{prefix}_compact_stage_bands",
                str(tmp_path / f"{prefix}_bands_v1"),
                ["band_idx", "band_hash"], num_buckets=4,
                sort_cols=["band_idx", "band_hash"],
            )
        if "sigs" in suffixes:
            write_bucketed(
                sigs, f"{prefix}_compact_stage_sigs",
                str(tmp_path / f"{prefix}_sigs_v1"),
                ["doc_id"], num_buckets=4, sort_cols=["doc_id"],
            )

    def _assert_healthy(self, spark, prefix, corpus, batch):
        from ssis_to_dbt_spark.text import (
            cross_corpus_candidates,
            read_corpus_dedup_index,
        )

        idx = read_corpus_dedup_index(spark, prefix)  # heals on read
        assert spark.catalog.tableExists(f"{prefix}_bands")
        assert spark.catalog.tableExists(f"{prefix}_sigs")
        # lock-step: one signature row per doc (no stale un-deduped sigs)
        sigs = spark.table(f"{prefix}_sigs")
        assert sigs.count() == sigs.select("doc_id").distinct().count()
        got = sorted(map(tuple, cross_corpus_candidates(
            batch, corpus_index=idx
        ).collect()))
        want = sorted(map(tuple, cross_corpus_candidates(
            batch, corpus
        ).collect()))
        assert got == want and got

    def _cleanup(self, spark, prefix):
        for t in (f"{prefix}_bands", f"{prefix}_sigs",
                  f"{prefix}_compact_stage_bands",
                  f"{prefix}_compact_stage_sigs"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")

    def test_crash_between_bands_drop_and_rename(self, spark, tmp_path):
        # bands live missing, both stages present: roll BOTH forward
        try:
            corpus, batch = self._setup(spark, tmp_path, "heal_idx")
            self._stage(spark, tmp_path, "heal_idx", ("bands", "sigs"))
            spark.sql("DROP TABLE heal_idx_bands")
            self._assert_healthy(spark, "heal_idx", corpus, batch)
            assert not spark.catalog.tableExists(
                "heal_idx_compact_stage_bands"
            )
            assert not spark.catalog.tableExists(
                "heal_idx_compact_stage_sigs"
            )
        finally:
            self._cleanup(spark, "heal_idx")

    def test_crash_between_bands_swap_and_sigs_swap(self, spark, tmp_path):
        # the r10 ADVICE gap: bands swap COMPLETED (its stage consumed),
        # sigs swap not started — old sigs still live beside a stale
        # double-appended history; heal must swap sigs in too
        from ssis_to_dbt_spark.text import append_corpus_dedup_index

        try:
            corpus, batch = self._setup(spark, tmp_path, "heal2_idx")
            # make the LIVE sigs table visibly stale: a double-append the
            # staged (compacted) tables do not contain
            extra = corpus.filter(F.col("doc_id") % 7 == 0)
            self._stage(spark, tmp_path, "heal2_idx", ("bands", "sigs"))
            append_corpus_dedup_index(
                extra.select("doc_id", "text"), "heal2_idx"
            )
            spark.catalog.refreshTable("heal2_idx_sigs")
            # simulate a completed bands swap: live bands = staged bands
            spark.sql("DROP TABLE heal2_idx_bands")
            spark.sql(
                "ALTER TABLE heal2_idx_compact_stage_bands "
                "RENAME TO heal2_idx_bands"
            )
            self._assert_healthy(spark, "heal2_idx", corpus, batch)
        finally:
            self._cleanup(spark, "heal2_idx")

    def test_crash_during_sigs_stage_write_serves_old_index(
        self, spark, tmp_path
    ):
        # only stage_bands exists (sigs stage write never registered):
        # no swap began — the old index must be served untouched and the
        # orphan stage left for the next compaction to overwrite
        from ssis_to_dbt_spark.text import read_corpus_dedup_index

        try:
            corpus, batch = self._setup(spark, tmp_path, "heal3_idx")
            before = sorted(map(
                tuple, spark.table("heal3_idx_sigs").collect()
            ))
            self._stage(spark, tmp_path, "heal3_idx", ("bands",))
            read_corpus_dedup_index(spark, "heal3_idx")
            assert spark.catalog.tableExists(
                "heal3_idx_compact_stage_bands"
            )
            spark.catalog.refreshTable("heal3_idx_sigs")
            after = sorted(map(
                tuple, spark.table("heal3_idx_sigs").collect()
            ))
            assert after == before
            self._assert_healthy(spark, "heal3_idx", corpus, batch)
        finally:
            self._cleanup(spark, "heal3_idx")


class TestLegacyTaglessIndex:
    """r11 (r10 ADVICE, low): index tables written before the ``_ib``
    batch tag existed must keep working with the tag-aware paths —
    ``read_corpus_dedup_index(with_batch_tag=True)`` synthesizes
    ``_ib = -1`` (so the streaming handler's replayed-rows filter
    analyzes), and ``append_corpus_dedup_index`` appends with the legacy
    schema instead of failing on the extra column."""

    def _legacy_index(self, spark, tmp_path):
        """Build an index, then rewrite both tables WITHOUT _ib — the
        exact on-disk state a pre-r10 deployment left behind."""
        from ssis_to_dbt_spark.sources.readers import testdata
        from ssis_to_dbt_spark.sources.writers import write_bucketed
        from ssis_to_dbt_spark.text import write_corpus_dedup_index

        docs = testdata(spark, "/root/testdata/sf0.001")["documents"]
        corpus = docs.filter(F.col("doc_id") % 5 != 0)
        batch = docs.filter(F.col("doc_id") % 5 == 0)
        write_corpus_dedup_index(
            corpus, "tagless_tmp", str(tmp_path / "tagless_tmp")
        )
        sigs = spark.table("tagless_tmp_sigs").drop("_ib")
        bands = spark.table("tagless_tmp_bands").drop("_ib")
        write_bucketed(
            sigs, "tagless_sigs", str(tmp_path / "tagless_sigs"),
            ["doc_id"], num_buckets=4, sort_cols=["doc_id"],
        )
        write_bucketed(
            bands, "tagless_bands", str(tmp_path / "tagless_bands"),
            ["band_idx", "band_hash"], num_buckets=4,
            sort_cols=["band_idx", "band_hash"],
        )
        return corpus, batch

    def _cleanup(self, spark):
        for t in ("tagless_tmp_sigs", "tagless_tmp_bands",
                  "tagless_sigs", "tagless_bands"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")

    def test_tag_aware_read_and_append_on_legacy_tables(
        self, spark, tmp_path
    ):
        from ssis_to_dbt_spark.text import (
            append_corpus_dedup_index,
            cross_corpus_candidates,
            read_corpus_dedup_index,
        )

        try:
            corpus, batch = self._legacy_index(spark, tmp_path)
            # tag-aware read synthesizes _ib = -1 instead of failing
            sigs, bands = read_corpus_dedup_index(
                spark, "tagless", with_batch_tag=True
            )
            assert "_ib" in sigs.columns and "_ib" in bands.columns
            assert sigs.filter(F.col("_ib") != -1).count() == 0
            # the streaming handler's replayed-rows filter analyzes
            n = sigs.count()
            assert sigs.filter(F.col("_ib") != 3).count() == n
            # tagged append degrades to the legacy schema (no replay
            # guard possible) instead of AnalysisException
            n_sigs0 = n
            append_corpus_dedup_index(
                batch.select("doc_id", "text"), "tagless", batch_id=3,
            )
            spark.catalog.refreshTable("tagless_sigs")
            spark.catalog.refreshTable("tagless_bands")
            assert spark.table("tagless_sigs").count() > n_sigs0
            assert "_ib" not in spark.table("tagless_sigs").columns
            # probe semantics against the legacy index still match a
            # from-text rebuild
            idx = read_corpus_dedup_index(spark, "tagless")
            got = sorted(map(tuple, cross_corpus_candidates(
                batch, corpus_index=(
                    idx[0].filter(F.col("doc_id") % 5 != 0),
                    idx[1].filter(F.col("doc_id") % 5 != 0),
                )
            ).collect()))
            want = sorted(map(tuple, cross_corpus_candidates(
                batch, corpus
            ).collect()))
            assert got == want and got
        finally:
            self._cleanup(spark)


class TestIngestDedupWithinBatch:
    """r10: dedup_within_batch=True — a batch's near-dup clusters keep
    only the longest representative before the index probe, from the
    batch's already-derived signatures (no second minhash pass).  A
    crawl burst landing the same boilerplate N times in one batch then
    admits it once."""

    def _doc_text(self, tag):
        syl = ["ba", "de", "fi", "go", "hu", "ka", "lo",
               "mi", "nu", "po", "ra", "se", "ti"]
        return " ".join(["the", "and"] + [
            syl[i % 13] + syl[(i // 13) % 13] + tag for i in range(53)
        ])

    def test_twins_collapse_to_longest_representative(self, spark):
        from ssis_to_dbt_spark.ingest import ingest_batch, seed_ingest_state

        schema = "doc_id long, text string, lang string, n_chars int"
        mk = lambda i, t: (i, t, "en", len(t))  # noqa: E731
        seed = spark.createDataFrame(
            [mk(1, self._doc_text("zam")), mk(2, self._doc_text("wex"))],
            schema,
        )
        twin = self._doc_text("qor")
        batch = spark.createDataFrame(
            [
                mk(20, twin + " twin"),
                mk(21, twin + " twin other longer"),  # longest -> kept
                mk(22, self._doc_text("zam")),        # dup of seed doc 1
                mk(23, self._doc_text("jyx")),        # unique
            ],
            schema,
        )
        st = seed_ingest_state(seed)

        # base semantics: both twins accepted (never in the index)
        base = ingest_batch(batch, st)
        assert {r["doc_id"] for r in base.accepted.collect()} == {20, 21, 23}
        assert base.batch_pruned is None

        r = ingest_batch(batch, st, dedup_within_batch=True)
        verdicts = {
            x["doc_id"]: (x["cluster_size"], x["kept"])
            for x in r.batch_pruned.collect()
        }
        assert verdicts[20] == (2, False)
        assert verdicts[21] == (2, True)   # keep-longest
        assert verdicts[22][1] and verdicts[23][1]  # singletons kept
        acc = {x["doc_id"] for x in r.accepted.collect()}
        rej = {x["doc_id"] for x in r.rejected.collect()}
        assert acc == {21, 23}  # one twin + the unique
        assert rej == {22}      # index dup still rejected
        # accepted ∪ rejected partitions the KEPT representatives
        assert acc | rej == {21, 22, 23} and not (acc & rej)
        # the functional index grew by exactly the accepted reps
        seed_sigs = st.sigs.count()
        assert r.state.sigs.count() == seed_sigs + 2
        assert {x["doc_id"] for x in r.accepted_sigs.collect()} == acc
        # scored/packed follow the deduped accepted set
        assert {x["doc_id"] for x in r.scored.collect()} == acc
        assert {x["doc_id"] for x in r.packed.collect()} == acc

    def test_with_scoring_false_is_dedup_only_and_verdict_identical(
        self, spark
    ):
        """r11: with_scoring=False skips the DSIR fit/merge/score/pack
        stages; every gate/prune/reject/accept verdict is identical to
        the scoring run (the dedup path never depended on DSIR), the
        scored/packed outputs are None, and the returned state carries
        the input dsir_state object unchanged."""
        from ssis_to_dbt_spark.ingest import ingest_batch, seed_ingest_state

        schema = "doc_id long, text string, lang string, n_chars int"
        mk = lambda i, t: (i, t, "en", len(t))  # noqa: E731
        seed = spark.createDataFrame(
            [mk(1, self._doc_text("zam")), mk(2, self._doc_text("wex"))],
            schema,
        )
        twin = self._doc_text("qor")
        batch = spark.createDataFrame(
            [
                mk(20, twin + " twin"),
                mk(21, twin + " twin other longer"),
                mk(22, self._doc_text("zam")),
                mk(23, self._doc_text("jyx")),
            ],
            schema,
        )
        st = seed_ingest_state(seed)
        full = ingest_batch(batch, st, dedup_within_batch=True)
        fast = ingest_batch(
            batch, st, dedup_within_batch=True, with_scoring=False
        )
        assert fast.scored is None and fast.packed is None
        assert fast.state.dsir_state is st.dsir_state
        snap = lambda df, *c: sorted(  # noqa: E731
            tuple(r[k] for k in c) for r in df.collect()
        )
        assert snap(fast.batch_pruned, "doc_id", "cluster_size", "kept") == \
            snap(full.batch_pruned, "doc_id", "cluster_size", "kept")
        assert snap(fast.rejected, "doc_id", "n_dups", "max_matches") == \
            snap(full.rejected, "doc_id", "n_dups", "max_matches")
        assert snap(fast.accepted, "doc_id") == snap(full.accepted, "doc_id")
        assert snap(fast.accepted_sigs, "doc_id") == \
            snap(full.accepted_sigs, "doc_id")
        # the functional index still grew by exactly the accepted reps
        assert fast.state.sigs.count() == st.sigs.count() + 2

    def test_pre_probe_reuse_is_exact(self, spark):
        """r11: a wb iteration given the base run's rejected frame
        (pre_probe) must produce byte-identical prune/reject/accept
        verdicts to a wb iteration that probes the index itself —
        rejection is per-doc over band rows derived from the full gated
        batch, so filtering the base rejections to the kept
        representatives is exact."""
        from ssis_to_dbt_spark.curation import stage_gate
        from ssis_to_dbt_spark.ingest import ingest_batch, seed_ingest_state
        from ssis_to_dbt_spark.text.dedup import corpus_dedup_index

        schema = "doc_id long, text string, lang string, n_chars int"
        mk = lambda i, t: (i, t, "en", len(t))  # noqa: E731
        seed = spark.createDataFrame(
            [mk(1, self._doc_text("zam")), mk(2, self._doc_text("wex"))],
            schema,
        )
        twin = self._doc_text("qor")
        batch = spark.createDataFrame(
            [
                mk(20, twin + " twin"),
                mk(21, twin + " twin other longer"),
                mk(22, self._doc_text("zam")),   # seed dup -> rejected
                mk(23, self._doc_text("jyx")),
            ],
            schema,
        )
        st = seed_ingest_state(seed)
        g = stage_gate(batch).localCheckpoint()
        isigs, ibands = corpus_dedup_index(g)
        idx = (isigs.localCheckpoint(), ibands.localCheckpoint())
        base = ingest_batch(batch, st, pre_gated=g, pre_index=idx)
        own = ingest_batch(batch, st, dedup_within_batch=True,
                           pre_gated=g, pre_index=idx, with_scoring=False)
        shared = ingest_batch(batch, st, dedup_within_batch=True,
                              pre_gated=g, pre_index=idx,
                              with_scoring=False, pre_probe=base.rejected)
        snap = lambda df, *c: sorted(  # noqa: E731
            tuple(r[k] for k in c) for r in df.collect()
        )
        assert snap(shared.rejected, "doc_id", "n_dups", "max_matches") == \
            snap(own.rejected, "doc_id", "n_dups", "max_matches")
        assert snap(shared.accepted, "doc_id") == snap(own.accepted, "doc_id")
        assert snap(shared.batch_pruned, "doc_id", "kept") == \
            snap(own.batch_pruned, "doc_id", "kept")
        # misuse guard: pre_probe without the wb flag refuses
        import pytest as _pytest
        with _pytest.raises(ValueError):
            ingest_batch(batch, st, pre_gated=g, pre_index=idx,
                         pre_probe=base.rejected)


class TestWithinBatchDedupHotSkew:
    """r11 (r10 VERDICT #4): the within-batch dedup self-join under an
    adversarially hot band bucket — one viral boilerplate carrying 50%
    of the batch — mirroring ``TestBackfillHotBucketSkew`` for the
    probe.  The band cap must bound the self-join's candidate count at
    bands * C(cap,2), and a batch the measured count says is over the
    broadcast limit must run the self-join in the shuffle regime (no
    AQE-pinned broadcast of an over-cap side) with no cartesian."""

    CAP = 20

    def _doc_text(self, tag):
        syl = ["ba", "de", "fi", "go", "hu", "ka", "lo",
               "mi", "nu", "po", "ra", "se", "ti"]
        return " ".join(["the", "and"] + [
            syl[i % 13] + syl[(i // 13) % 13] + tag for i in range(53)
        ])

    def test_viral_batch_bounded_fanout_and_shuffle_regime(
        self, spark, monkeypatch
    ):
        import re

        from ssis_to_dbt_spark import ingest
        from ssis_to_dbt_spark.ingest import ingest_batch, seed_ingest_state

        schema = "doc_id long, text string, lang string, n_chars int"
        viral = self._doc_text("vrl")
        rows = [(i, viral, "en", len(viral)) for i in range(100)]
        for i in range(100, 200):
            t = self._doc_text(f"u{i}")
            rows.append((i, t, "en", len(t)))
        batch = spark.createDataFrame(rows, schema)
        seed_t = self._doc_text("seedx")
        seed = spark.createDataFrame(
            [(1000, seed_t, "en", len(seed_t))], schema
        )
        st = seed_ingest_state(seed)
        monkeypatch.setattr(ingest, "BATCH_BROADCAST_MAX_DOCS", 50)
        r = ingest_batch(
            batch, st, dedup_within_batch=True, checkpoint=False,
            band_bucket_cap=self.CAP,
        )

        # plan: the band self-join runs in the shuffle regime — the
        # measured 200-doc count refuted the 50-doc broadcast limit, so
        # neither the static planner nor AQE may pin a broadcast of the
        # (potentially corpus-scale) batch band table against itself
        plan = r.batch_pairs._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan
        band_joins = [
            m.group(1) for m in re.finditer(r"(\w+Join) \[band_idx", plan)
        ]
        assert band_joins, plan[:1500]
        assert all(
            j in ("SortMergeJoin", "ShuffledHashJoin") for j in band_joins
        ), band_joins

        # fan-out bound: per band bucket each side contributes <= CAP
        # members, so the deduped pair count stays <= 4 * C(CAP, 2)
        pairs = r.batch_pairs.collect()
        assert 0 < len(pairs) <= 4 * self.CAP * (self.CAP - 1) // 2
        assert len(pairs) == len({(p["doc_a"], p["doc_b"]) for p in pairs})
        # every surviving viral pair estimates full similarity
        assert all(p["est_jaccard"] == 1.0 for p in pairs
                   if p["doc_a"] < 100 and p["doc_b"] < 100)

        # cluster verdicts: the capped viral cluster is exactly the CAP
        # lowest viral ids with one kept representative; over-cap viral
        # docs pass as singletons (the cap's documented bounded
        # under-dedup tradeoff — truncation, never a failed stage)
        by_id = {v["doc_id"]: v for v in r.batch_pruned.collect()}
        assert len(by_id) == 200
        viral_cluster = [
            v for v in by_id.values() if v["cluster_size"] == self.CAP
        ]
        assert len(viral_cluster) == self.CAP
        assert {v["doc_id"] for v in viral_cluster} == set(range(self.CAP))
        assert sum(1 for v in viral_cluster if v["kept"]) == 1
        assert all(
            by_id[i]["cluster_size"] == 1 and by_id[i]["kept"]
            for i in range(self.CAP, 100)
        )
        assert all(by_id[i]["kept"] for i in range(100, 200))


class TestPhashIndexLifecycle:
    """r14 (r13 VERDICT #2): the persisted perceptual-hash dedup index —
    the image modality mirrored onto the text index's lifecycle
    (write/append/probe/audit/compact/heal, replay-idempotent appends).
    Fingerprints are synthetic longs here (the closed-form BMP fixture
    drives the oracled registry entry ``image_phash_index``)."""

    def _fp(self, spark, rows):
        return spark.createDataFrame(rows, "media_id long, phash long")

    def _drop(self, spark, prefix):
        for t in (f"{prefix}_phash", f"{prefix}_phash_cstage"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")

    def test_one_bucket_write_leaves_one_file(self, spark, tmp_path):
        """A bucketed write repartitions by its bucket columns first, so
        a 1-bucket index written from 4 input partitions is 1 file, not
        one per input task."""
        from ssis_to_dbt_spark.text.dedup import write_phash_index

        fps = spark.range(0, 1000, 1, 4).select(
            F.col("id").alias("media_id"),
            F.xxhash64("id").bitwiseAND(F.lit((1 << 48) - 1)).alias("phash"),
        )
        try:
            write_phash_index(fps, "ph_1f", str(tmp_path / "ph_1f"))
            assert num_buckets(spark, "ph_1f_phash") == 1
            parts = [
                f for f in os.listdir(tmp_path / "ph_1f_phash")
                if f.startswith("part-")
            ]
            assert len(parts) == 1
        finally:
            self._drop(spark, "ph_1f")

    def test_probe_corpus_side_no_exchange(
        self, spark, tmp_path, monkeypatch
    ):
        from ssis_to_dbt_spark.text.dedup import (
            phash_probe_index,
            write_phash_index,
        )

        corpus = self._fp(
            spark, [(i, (i * 0x9E3779B97F4A7C15) & ((1 << 48) - 1))
                    for i in range(200)]
        )
        batch = self._fp(
            spark, [(1000 + i, (i * 0x9E3779B97F4A7C15) & ((1 << 48) - 1))
                    for i in range(50)]
        )
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            four_buckets(monkeypatch, 200 * 4 * dedup._PHASH_ROW_BYTES)
            write_phash_index(corpus, "ph_np", str(tmp_path / "ph_np"))
            out = phash_probe_index(
                spark, batch, "ph_np", max_hamming=48
            )
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert "SelectedBucketsCount" in plan
            import re

            stored_ids = set()
            for m in re.finditer(
                r"FileScan parquet spark_catalog\.default\."
                r"ph_np_phash\[([^\]]*)\]",
                plan,
            ):
                stored_ids |= set(re.findall(r"#(\d+)", m.group(1)))
            assert stored_ids
            for m in re.finditer(
                r"Exchange hashpartitioning\(([^)]*)\)", plan
            ):
                ex_ids = set(re.findall(r"#(\d+)", m.group(1)))
                assert not (ex_ids & stored_ids), (m.group(0), stored_ids)
            # identical fingerprints pair at distance 0
            zero = out.filter(F.col("hamming_distance") == 0)
            assert zero.count() == 50
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            self._drop(spark, "ph_np")

    def test_append_equals_rebuild_and_two_batch_dedup(
        self, spark, tmp_path
    ):
        """VERDICT done-criterion: the two-batch dedup-against-index
        value check — batch 2 carries an exact dup (d=0), a near dup
        (d=1), and a novel image vs the indexed batch 1; verdicts and
        the post-append index must match a one-shot build."""
        from ssis_to_dbt_spark.ingest import ingest_media_batch
        from ssis_to_dbt_spark.text.dedup import (
            phash_probe_index,
            read_phash_index,
            write_phash_index,
        )

        b1 = self._fp(spark, [(1, 0x123456789ABC), (4, 0x000FFF000FFF)])
        b2 = self._fp(spark, [
            (11, 0x123456789ABC),   # exact dup of 1 -> reject
            (12, 0x123456789ABD),   # hamming 1 from 1 -> reject
            (13, 0x5A5A5A5A5A5A),   # novel -> accept
        ])
        try:
            write_phash_index(b1, "ph_2b", str(tmp_path / "ph_2b"))
            res = ingest_media_batch(spark, b2, "ph_2b", batch_id=1)
            # 11 and 12 are ALSO near-dups of each other, so keep-one
            # prunes 12 before the probe; 11 then rejects vs indexed 1
            assert {r["media_id"] for r in res.kept.collect()} == {11, 13}
            assert {r["media_id"] for r in res.rejected.collect()} == {11}
            assert {r["media_id"] for r in res.accepted.collect()} == {13}
            pairs = {(r["media_id"], r["index_id"],
                      r["hamming_distance"])
                     for r in res.probe_pairs.collect()}
            assert pairs == {(11, 1, 0)}
            post = read_phash_index(spark, "ph_2b")
            assert {r["media_id"] for r in post.collect()} == {1, 4, 13}
            # append == rebuild: probing a third batch gives identical
            # pairs against the grown index vs a one-shot union build
            b3 = self._fp(spark, [(21, 0x5A5A5A5A5A5B)])
            got = sorted(map(tuple, phash_probe_index(
                spark, b3, "ph_2b", max_hamming=2).collect()))
            write_phash_index(
                b1.unionByName(self._fp(spark, [(13, 0x5A5A5A5A5A5A)])),
                "ph_2c", str(tmp_path / "ph_2c"))
            want = sorted(map(tuple, phash_probe_index(
                spark, b3, "ph_2c", max_hamming=2).collect()))
            assert got == want == [(21, 13, 1)]
        finally:
            self._drop(spark, "ph_2b")
            self._drop(spark, "ph_2c")

    def test_replayed_batch_is_idempotent(self, spark, tmp_path):
        """A replayed micro-batch (crash between append and checkpoint
        commit) must not self-reject against its own first attempt's
        rows and must not double-append."""
        from ssis_to_dbt_spark.ingest import ingest_media_batch
        from ssis_to_dbt_spark.text.dedup import (
            read_phash_index,
            write_phash_index,
        )

        b1 = self._fp(spark, [(1, 0x111111111111)])
        b2 = self._fp(spark, [(2, 0x222222222222)])
        try:
            write_phash_index(b1, "ph_rp", str(tmp_path / "ph_rp"))
            r1 = ingest_media_batch(spark, b2, "ph_rp", batch_id=5)
            assert {r["media_id"] for r in r1.accepted.collect()} == {2}
            spark.catalog.refreshTable("ph_rp_phash")
            n1 = read_phash_index(spark, "ph_rp").count()
            # replay: same verdict, same index state
            r2 = ingest_media_batch(spark, b2, "ph_rp", batch_id=5)
            assert {r["media_id"] for r in r2.accepted.collect()} == {2}
            assert not r2.rejected.take(1)
            spark.catalog.refreshTable("ph_rp_phash")
            assert read_phash_index(spark, "ph_rp").count() == n1
        finally:
            self._drop(spark, "ph_rp")

    def test_compact_dedupes_keeps_newest_and_preserves_probe(
        self, spark, tmp_path, monkeypatch
    ):
        from ssis_to_dbt_spark.text.dedup import (
            append_phash_index,
            compact_phash_index,
            phash_index_band_audit,
            phash_probe_index,
            read_phash_index,
            write_phash_index,
        )

        b1 = self._fp(spark, [(1, 0x111111111111), (2, 0x222222222222)])
        four_buckets(monkeypatch, 2 * 4 * dedup._PHASH_ROW_BYTES)
        try:
            write_phash_index(b1, "ph_cp", str(tmp_path / "ph_cp"))
            # replayed append (exact dup rows) + a re-crawled id whose
            # image CHANGED (new fingerprint under a newer tag)
            append_phash_index(
                self._fp(spark, [(1, 0x111111111111)]), "ph_cp",
                batch_id=None,
            )
            recrawl = 0x333333333333
            append_phash_index(
                self._fp(spark, [(2, recrawl)]), "ph_cp", batch_id=7,
            )
            spark.catalog.refreshTable("ph_cp_phash")
            assert phash_index_band_audit(spark, "ph_cp", 1).count() > 0
            compact_phash_index(spark, "ph_cp", str(tmp_path / "ph_cp"))
            idx = read_phash_index(spark, "ph_cp")
            # one generation per id, newest fingerprint wins
            assert idx.count() == 8  # 2 ids x 4 bands
            fp2 = {r["_fp"] for r in idx.filter(
                F.col("media_id") == 2).collect()}
            assert fp2 == {recrawl}
            # probe still works and the bucketed layout survived
            out = phash_probe_index(
                spark, self._fp(spark, [(9, recrawl)]), "ph_cp",
                max_hamming=0,
            )
            plan = out._jdf.queryExecution().executedPlan().toString()
            assert "SelectedBucketsCount" in plan
            assert [tuple(r) for r in out.collect()] == [(9, 2, 0)]
        finally:
            self._drop(spark, "ph_cp")

    def test_compaction_swap_self_heal(self, spark, tmp_path):
        """Single-table swap crash states: stage + live -> rollback
        (drop the maybe-partial stage, live untouched); live missing +
        stage -> roll forward (rename completes on read)."""
        from ssis_to_dbt_spark.sources.writers import write_bucketed
        from ssis_to_dbt_spark.text.dedup import (
            _hamming_banded,
            read_phash_index,
            write_phash_index,
        )

        b1 = self._fp(spark, [(1, 0x111111111111), (2, 0x222222222222)])
        try:
            write_phash_index(b1, "ph_hl", str(tmp_path / "ph_hl"))
            # (A) stage present, live present -> rollback
            stage_rows = _hamming_banded(
                self._fp(spark, [(3, 0x333333333333)]),
                "media_id", "phash", dedup.PHASH_BITS,
                dedup.PHASH_BAND_BITS, None,
            ).select("*", F.lit(-1).cast("long").alias("_ib"))
            write_bucketed(
                stage_rows, "ph_hl_phash_cstage",
                str(tmp_path / "ph_hl_stage_a"),
                ["band_idx", "band_val"], num_buckets=4,
                sort_cols=["band_idx", "band_val"],
            )
            idx = read_phash_index(spark, "ph_hl")
            assert not spark.catalog.tableExists("ph_hl_phash_cstage")
            assert {r["media_id"] for r in idx.collect()} == {1, 2}
            # (B) live missing, stage present -> roll forward
            write_bucketed(
                stage_rows, "ph_hl_phash_cstage",
                str(tmp_path / "ph_hl_stage_b"),
                ["band_idx", "band_val"], num_buckets=4,
                sort_cols=["band_idx", "band_val"],
            )
            spark.sql("DROP TABLE ph_hl_phash")
            idx = read_phash_index(spark, "ph_hl")
            assert not spark.catalog.tableExists("ph_hl_phash_cstage")
            assert {r["media_id"] for r in idx.collect()} == {3}
        finally:
            self._drop(spark, "ph_hl")

    def test_keep_one_passes_null_fingerprints(self, spark):
        from ssis_to_dbt_spark.text.dedup import phash_keep_one

        fp = spark.createDataFrame(
            [(1, 0x111111111111), (2, 0x111111111111), (3, None)],
            "media_id long, phash long",
        )
        kept = phash_keep_one(fp)
        assert {r["media_id"] for r in kept.collect()} == {1, 3}
