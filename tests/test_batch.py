"""Batch-audit lineage tests (K2/O6, SURVEY.md §7.4.1)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataengineer_spark.batch import AUDIT_TABLE, BatchAllocator, stamp_batch
from dataengineer_spark.catalog import Catalog
from dataengineer_spark.config import RunConfig


@pytest.fixture
def catalog(spark, tmp_path):
    return Catalog(spark, str(tmp_path / "lake"))


class TestAllocator:
    def test_ids_increment_and_persist(self, catalog):
        alloc = BatchAllocator(catalog)
        c1 = alloc.open_batch(RunConfig(pipeline_name="p1"))
        c2 = alloc.open_batch(RunConfig(pipeline_name="p2"))
        assert (c1.batch_id, c2.batch_id) == (1, 2)
        audit = catalog.read(AUDIT_TABLE)
        assert audit.count() == 2
        assert alloc.latest_batch().first()["pipeline_name"] == "p2"
        assert alloc.latest_batch("p1").first()["batch_id"] == 1

    def test_audit_comment_records_params(self, catalog):
        ctx = BatchAllocator(catalog).open_batch(RunConfig(pipeline_name="px"))
        row = catalog.read(AUDIT_TABLE).first()
        assert "px" in row["comment"] and ctx.batch_id == 1


class TestPartitionedLake:
    def test_write_partitions_by_batch(self, spark, catalog):
        df = stamp_batch(spark.range(10).withColumnRenamed("id", "msgid"), 5)
        catalog.write(df.withColumn("msg", F.lit("x")), "cleaned_data")
        # hive-style partition dirs exist → batch filter is partition pruning
        import os

        assert os.path.isdir(os.path.join(catalog.path("cleaned_data"), "batch_id=5"))
        back = catalog.read_batch("cleaned_data", 5)
        assert back.count() == 10
        assert catalog.read_batch("cleaned_data", 99).count() == 0

    def test_overwrite_batch_is_idempotent(self, spark, catalog):
        base = spark.range(4).withColumnRenamed("id", "msgid").withColumn(
            "msg", F.lit("x")
        )
        catalog.write(stamp_batch(base, 1), "cleaned_data")
        catalog.write(stamp_batch(base, 2), "cleaned_data")
        # retry of batch 2 must not duplicate rows nor touch batch 1
        catalog.overwrite_batch(stamp_batch(base, 2), "cleaned_data")
        counts = {
            r["batch_id"]: r["n"]
            for r in catalog.read("cleaned_data")
            .groupBy("batch_id")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        assert counts == {1: 4, 2: 4}

    def test_partition_pruning_in_plan(self, spark, catalog):
        df = stamp_batch(spark.range(10).withColumnRenamed("id", "msgid"), 3)
        catalog.write(df.withColumn("msg", F.lit("x")), "cleaned_data")
        plan = catalog.read_batch("cleaned_data", 3)._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan


class TestBucketedTables:
    def test_bucketed_join_plans_no_exchange(self, spark, tmp_path):
        """Matching-bucket join must read co-located buckets: zero shuffle
        exchanges anywhere in the join plan (the write paid the shuffle)."""
        import io
        import contextlib

        from dataengineer_spark.testdata import load_table

        catalog = Catalog(spark, str(tmp_path / "bl"))
        sf = "/root/testdata/sf0.001"
        li = load_table(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
        orders = load_table(spark, sf, "orders").select("o_orderkey", "o_orderpriority")
        catalog.write_bucketed(li, "t_li_bkt", ["l_orderkey"], 4)
        catalog.write_bucketed(orders, "t_o_bkt", ["o_orderkey"], 4)
        joined = (
            catalog.read_table("t_li_bkt")
            .hint("merge")
            .join(
                catalog.read_table("t_o_bkt"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        p = buf.getvalue()
        assert p.count("Bucketed: true") == 2
        assert "SortMergeJoin" in p
        assert "Exchange" not in p
        # and the join is correct
        assert joined.count() == li.join(
            orders, F.col("l_orderkey") == F.col("o_orderkey")
        ).count()


class TestCompaction:
    def test_compact_batch_reduces_files_and_preserves_rows(self, spark, tmp_path):
        import glob

        from dataengineer_spark.batch import stamp_batch
        from dataengineer_spark.testdata import load_table

        catalog = Catalog(spark, str(tmp_path / "lake"))
        docs = load_table(spark, "/root/testdata/sf0.001", "documents").select(
            F.col("doc_id").alias("msgid"), F.col("text").alias("msg")
        )
        # simulate streaming-style accumulation: many tiny appends into one batch
        for _ in range(4):
            catalog.write(stamp_batch(docs.repartition(8), 1), "cleaned_data")
        catalog.write(stamp_batch(docs, 2), "cleaned_data")
        part = str(tmp_path / "lake" / "cleaned_data" / "batch_id=1")
        before = len(glob.glob(part + "/*.parquet"))
        assert before >= 32
        n_rows = catalog.read_batch("cleaned_data", 1).count()

        written = catalog.compact_batch("cleaned_data", 1)
        after = len(glob.glob(part + "/*.parquet"))
        assert after == written == 1  # tiny data → single 128MB-target file
        # contents identical, other batches untouched
        assert catalog.read_batch("cleaned_data", 1).count() == n_rows
        assert catalog.read_batch("cleaned_data", 2).count() == docs.count()

    def test_signature_index_probe_invariant_under_compaction(
        self, spark, tmp_path
    ):
        # the documented signature-index maintenance story (SCALE.md):
        # per-batch appends accumulate small files; compact_batch must be
        # invisible to the near-dup probe — kept-set identical over the
        # compacted index vs the raw appends
        import glob

        from dataengineer_spark.operators import dedup as dedup_ops
        from dataengineer_spark.testdata import load_table

        catalog = Catalog(spark, str(tmp_path / "lake"))
        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        for b in (1, 2):
            half = docs.where(F.col("doc_id") % 2 == b % 2)
            idx = dedup_ops.signature_table(
                half, "doc_id", "text", bands=4
            ).withColumn("batch_id", F.lit(b))
            # streaming-style accumulation: several tiny appends per batch
            for _ in range(3):
                catalog.write(idx.repartition(8), "neardup_signatures")
        new = docs.limit(40).withColumn(
            "doc_id", F.col("doc_id") + 900_000
        )  # re-crawls of seen content under fresh ids

        def kept_ids():
            seen = catalog.read("neardup_signatures").select(
                "doc_id", "band", "bucket"
            ).dropDuplicates()
            return {
                r["doc_id"]
                for r in dedup_ops.incremental_neardup(
                    new, seen, bands=4
                ).collect()
            }

        before_files = len(
            glob.glob(
                str(tmp_path / "lake" / "neardup_signatures" / "batch_id=1")
                + "/*.parquet"
            )
        )
        raw_kept = kept_ids()
        assert raw_kept == set()  # every re-crawl collides with history
        for b in (1, 2):
            catalog.compact_batch("neardup_signatures", b)
        after_files = len(
            glob.glob(
                str(tmp_path / "lake" / "neardup_signatures" / "batch_id=1")
                + "/*.parquet"
            )
        )
        assert after_files == 1 < before_files
        assert kept_ids() == raw_kept
        # a genuinely novel doc still survives the compacted index
        novel = spark.createDataFrame(
            [(999_999, "zq xv jk wq pp totally novel glyph soup 42")],
            "doc_id long, text string",
        )
        seen = catalog.read("neardup_signatures").select(
            "doc_id", "band", "bucket"
        )
        assert (
            dedup_ops.incremental_neardup(novel, seen, bands=4).count() == 1
        )


class TestMergeUpsert:
    def test_merge_semantics_and_partition_scope(self, spark, tmp_path):
        import glob
        import os

        catalog = Catalog(spark, str(tmp_path / "lake"))
        base = spark.createDataFrame(
            [(1, "a", 2000), (2, "b", 2000), (3, "c", 2001)],
            "k long, v string, y int",
        )
        catalog.merge_upsert(base, "t", ["k"], partition_col="y")
        y2001_files = {
            f: os.path.getmtime(f)
            for f in glob.glob(str(tmp_path / "lake" / "t" / "y=2001" / "*.parquet"))
        }
        upd = spark.createDataFrame([(2, "B", 2000), (9, "z", 2000)],
                                    "k long, v string, y int")
        catalog.merge_upsert(upd, "t", ["k"], partition_col="y")
        got = sorted((r["k"], r["v"]) for r in catalog.read("t").collect())
        assert got == [(1, "a"), (2, "B"), (3, "c"), (9, "z")]
        # the 2001 partition was untouched by the merge: same files on disk
        after = {
            f: os.path.getmtime(f)
            for f in glob.glob(str(tmp_path / "lake" / "t" / "y=2001" / "*.parquet"))
        }
        assert after == y2001_files

    def test_merge_unpartitioned_staged_swap(self, spark, tmp_path):
        catalog = Catalog(spark, str(tmp_path / "lake"))
        base = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
        catalog.merge_upsert(base, "t", ["k"])
        catalog.merge_upsert(
            spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string"), "t", ["k"]
        )
        got = sorted((r["k"], r["v"]) for r in catalog.read("t").collect())
        assert got == [(1, "a"), (2, "B"), (3, "c")]


class TestZorderLayout:
    def test_interleave_bits_known_values(self, spark):
        from dataengineer_spark.operators.layout import zorder_value

        # corners fix the ranges so scaling is the identity on [0, 3]
        df = spark.createDataFrame([(0, 0), (3, 1), (3, 3)], "x long, y long")
        z = {(r["x"], r["y"]): r["_z"] for r in zorder_value(df, ["x", "y"], bits=2).collect()}
        # bit j of column c lands at j*2+c: (3,1) -> x bits 0,2; y bit 1 -> 7
        assert z == {(0, 0): 0, (3, 1): 7, (3, 3): 15}

    def test_zorder_files_are_boxy_and_lossless(self, spark, tmp_path):
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from dataengineer_spark.operators.layout import zorder_write

        # 64x64 grid; 16 z-ordered files should come out as ~16x16 boxes,
        # so a point/box predicate on either dim prunes most files
        grid = spark.range(64 * 64).select(
            (F.col("id") % 64).alias("x"),
            (F.col("id") / 64).cast("long").alias("y"),
        )
        out = str(tmp_path / "z")
        zorder_write(grid, out, ["x", "y"], bits=6, files=16)

        import glob

        areas = []
        for f in glob.glob(out + "/part-*.parquet"):
            md = pq.read_metadata(f)
            lo = {"x": 64, "y": 64}
            hi = {"x": -1, "y": -1}
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    col = g.column(ci)
                    name = col.path_in_schema
                    if name in lo and col.statistics is not None:
                        lo[name] = min(lo[name], col.statistics.min)
                        hi[name] = max(hi[name], col.statistics.max)
            areas.append((hi["x"] - lo["x"] + 1) * (hi["y"] - lo["y"] + 1))
        # each file's bounding box covers a small fraction of the 64x64
        # space (perfect would be 1/16; allow 2x slack for range-bound
        # sampling) -- a single-column sort would give full-width stripes
        assert len(areas) >= 8
        assert max(areas) <= 64 * 64 / 8, sorted(areas)

        # lossless: the z-ordered copy holds exactly the original rows
        back = spark.read.parquet(out)
        assert back.count() == 64 * 64
        assert back.exceptAll(grid).count() == 0


class TestScd2:
    def _dim(self, spark):
        return spark.createDataFrame(
            [
                (1, "a", "1990-01-01", "1992-01-01", False),   # history row
                (1, "b", "1992-01-01", None, True),
                (2, None, "1992-01-01", None, True),           # NULL tracked
                (3, "c", "1992-01-01", None, True),
            ],
            "k long, v string, valid_from string, valid_to string, is_current boolean",
        )

    def test_change_noop_insert_and_history_passthrough(self, spark):
        from dataengineer_spark.operators.dimensions import scd2_apply

        upd = spark.createDataFrame(
            [
                (1, "B", "1995-01-01"),   # changed -> close + new version
                (2, None, "1995-01-01"),  # null-safe unchanged -> no-op
                (4, "d", "1995-01-01"),   # brand-new key
            ],
            "k long, v string, eff_date string",
        )
        out = scd2_apply(self._dim(spark), upd, ["k"], ["v"])
        rows = {(r["k"], r["v"], r["valid_from"], r["valid_to"], r["is_current"])
                for r in out.collect()}
        assert rows == {
            (1, "a", "1990-01-01", "1992-01-01", False),
            (1, "b", "1992-01-01", "1995-01-01", False),
            (1, "B", "1995-01-01", None, True),
            (2, None, "1992-01-01", None, True),
            (3, "c", "1992-01-01", None, True),
            (4, "d", "1995-01-01", None, True),
        }

    def test_multiple_updates_per_key_latest_eff_wins(self, spark):
        from dataengineer_spark.operators.dimensions import scd2_apply

        upd = spark.createDataFrame(
            [(3, "x", "1994-01-01"), (3, "y", "1996-01-01")],
            "k long, v string, eff_date string",
        )
        out = scd2_apply(self._dim(spark), upd, ["k"], ["v"])
        cur = {(r["k"], r["v"]) for r in out.where("is_current").collect()}
        assert (3, "y") in cur and (3, "x") not in cur
        closed = out.where("k = 3 AND NOT is_current").first()
        assert closed["valid_to"] == "1996-01-01"


class TestZorderKnownRanges:
    def test_caller_ranges_skip_scan_and_clamp(self, spark):
        from dataengineer_spark.operators.layout import zorder_value

        df = spark.createDataFrame(
            [(0, 0), (3, 3), (10, -5)], "x long, y long"   # out-of-range row
        )
        z = {
            (r["x"], r["y"]): r["_z"]
            for r in zorder_value(
                df, ["x", "y"], bits=2, ranges={"x": (0, 3), "y": (0, 3)}
            ).collect()
        }
        assert z[(0, 0)] == 0 and z[(3, 3)] == 15
        # overshoot clamps to the top cell, undershoot to 0: (3_clamped, 0)
        assert z[(10, -5)] == z[(3, 3)] & 0b0101  # x bits only


class TestMergeAggregate:
    def test_incremental_equals_full_recompute(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from dataengineer_spark.catalog import Catalog

        cat = Catalog(spark, str(tmp_path / "lake"))
        rows = [(k, float(v)) for k in range(5) for v in range(k + 1)]
        df = spark.createDataFrame(rows, "k long, v double")
        for i in range(3):
            delta = (
                df.where(F.col("v").cast("long") % 3 == i)
                .groupBy("k")
                .agg(
                    F.count("*").alias("n"),
                    F.sum(F.col("v").cast("decimal(18,2)")).alias("s"),
                )
            )
            cat.merge_aggregate(delta, "aggs", ["k"], ["n", "s"])
        got = {
            r["k"]: (r["n"], float(r["s"]))
            for r in cat.read("aggs").collect()
        }
        want = {
            r["k"]: (r["n"], float(r["s"]))
            for r in df.groupBy("k")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("v").cast("decimal(18,2)")).alias("s"),
            )
            .collect()
        }
        assert got == want


class TestQuarantineWrite:
    def test_routing_and_manifest(self, spark, catalog):
        from pyspark.sql import functions as F

        rows = [
            (1, 10.0, "O"),    # clean
            (2, -5.0, "O"),    # fails price
            (3, 20.0, "X"),    # fails status
            (4, -1.0, "X"),    # fails both
        ]
        df = spark.createDataFrame(rows, "id long, price double, status string")
        checks = {
            "price_pos": F.col("price") > 0,
            "status_ok": F.col("status").isin("O", "F"),
        }
        manifest = {
            r["rule"]: r["n"]
            for r in catalog.quarantine_write(df, "facts", checks).collect()
        }
        assert manifest == {
            "_valid": 1, "_quarantined": 3, "price_pos": 2, "status_ok": 2,
        }
        clean_ids = {r["id"] for r in catalog.read("facts").collect()}
        assert clean_ids == {1}
        quar = {
            r["id"]: r["reject_reason"]
            for r in catalog.read("facts_quarantine").collect()
        }
        # deterministic rule order in the reason string
        assert quar == {
            2: "price_pos", 3: "status_ok", 4: "price_pos|status_ok",
        }

    def test_append_mode_accumulates(self, spark, catalog):
        from pyspark.sql import functions as F

        df = spark.createDataFrame([(1, 1.0)], "id long, price double")
        checks = {"price_pos": F.col("price") > 0}
        catalog.quarantine_write(df, "t2", checks)
        manifest = {
            r["rule"]: r["n"]
            for r in catalog.quarantine_write(df, "t2", checks).collect()
        }
        assert manifest["_valid"] == 2  # second append counted cumulatively

    def test_rule_names_with_escapes_read_back_identical(self, spark, catalog):
        from pyspark.sql import functions as F

        df = spark.createDataFrame([(1, -1.0)], "id long, price double")
        # backslash-t must stay two characters, not become a tab
        names = [r"tab\there", "trailing\\", "it's"]
        checks = {n: F.col("price") > 0 for n in names}
        manifest = {
            r["rule"]: r["n"]
            for r in catalog.quarantine_write(df, "t3", checks).collect()
        }
        assert manifest == {"_valid": 0, "_quarantined": 1} | dict.fromkeys(
            names, 1
        )


class TestMergedSchemaScan:
    def test_old_files_null_fill_new_column(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from dataengineer_spark.sources import read_parquet_merged

        base = spark.range(3).select(F.col("id").alias("k"))
        base.write.parquet(str(tmp_path / "b1"))
        base.withColumn("extra", F.col("k") * 10).write.parquet(
            str(tmp_path / "b2")
        )
        out = read_parquet_merged(
            spark, str(tmp_path / "b1"), str(tmp_path / "b2")
        )
        assert set(out.columns) == {"k", "extra"}
        rows = out.collect()
        assert len(rows) == 6
        assert sum(1 for r in rows if r["extra"] is None) == 3


class TestApplyCdc:
    def _base(self, spark):
        return spark.createDataFrame(
            [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
            "k long, v string, price double",
        )

    def test_insert_update_delete(self, spark, catalog):
        catalog.write(self._base(spark), "t", mode="overwrite")
        changes = spark.createDataFrame(
            [
                (2, "b2", 22.0, "U"),
                (3, "c", 30.0, "D"),
                (4, "d", 40.0, "I"),
            ],
            "k long, v string, price double, op string",
        )
        catalog.apply_cdc(changes, "t", ["k"])
        out = {r["k"]: (r["v"], r["price"]) for r in catalog.read("t").collect()}
        assert out == {1: ("a", 10.0), 2: ("b2", 22.0), 4: ("d", 40.0)}

    def test_seq_col_collapses_to_latest(self, spark, catalog):
        catalog.write(self._base(spark), "t3", mode="overwrite")
        changes = spark.createDataFrame(
            [
                (2, "first", 0.0, "U", 1),
                (2, "last", 99.0, "U", 2),
                (1, "x", 1.0, "U", 5),
                (1, "x", 1.0, "D", 6),   # delete wins: higher seq
            ],
            "k long, v string, price double, op string, seq long",
        )
        catalog.apply_cdc(changes, "t3", ["k"], seq_col="seq")
        out = {r["k"]: r["v"] for r in catalog.read("t3").collect()}
        assert out == {2: "last", 3: "c"}

    def test_duplicate_keys_without_seq_raise(self, spark, catalog):
        import pytest

        catalog.write(self._base(spark), "t4", mode="overwrite")
        changes = spark.createDataFrame(
            [(1, "a", 1.0, "U"), (1, "b", 2.0, "U")],
            "k long, v string, price double, op string",
        )
        with pytest.raises(ValueError, match="duplicate keys"):
            catalog.apply_cdc(changes, "t4", ["k"])


class TestApplyCdcGuards:
    def test_unknown_op_rejected_not_silently_deleted(self, spark, catalog):
        import pytest
        from pyspark.sql import functions as F  # noqa: F401

        base = spark.createDataFrame([(1, "a")], "k long, v string")
        catalog.write(base, "g1", mode="overwrite")
        changes = spark.createDataFrame(
            [(1, "a", "r")], "k long, v string, op string"  # Debezium read marker
        )
        with pytest.raises(ValueError, match="outside"):
            catalog.apply_cdc(changes, "g1", ["k"])
        # table untouched
        assert catalog.read("g1").count() == 1

    def test_duplicate_key_seq_pair_rejected(self, spark, catalog):
        import pytest

        base = spark.createDataFrame([(1, "a")], "k long, v string")
        catalog.write(base, "g2", mode="overwrite")
        changes = spark.createDataFrame(
            [(1, "x", "U", 5), (1, "y", "D", 5)],
            "k long, v string, op string, seq long",
        )
        with pytest.raises(ValueError, match="nondeterministic"):
            catalog.apply_cdc(changes, "g2", ["k"], seq_col="seq")

    def test_delete_that_empties_a_partition_really_deletes(self, spark, catalog):
        base = spark.createDataFrame(
            [(1, 5, "a"), (2, 6, "b")], "k long, p long, v string"
        )
        catalog.apply_cdc(
            base.withColumn("op", F.lit("I")), "g3", ["k"], partition_col="p"
        )
        changes = spark.createDataFrame(
            [(1, 5, "a", "D")], "k long, p long, v string, op string"
        )
        catalog.apply_cdc(changes, "g3", ["k"], partition_col="p")
        out = catalog.read("g3").collect()
        assert [(r["k"], r["p"]) for r in out] == [(2, 6)]

    def test_emptied_partition_with_special_chars_is_cleaned(
        self, spark, catalog
    ):
        import os

        # Spark hive-escapes '/' and '=' in partition dir names (a%2Fb);
        # a raw f"{col}={val}" rmtree would miss the dir and the deleted
        # rows would resurface on read (ADVICE r5)
        base = spark.createDataFrame(
            [(1, "a/b=c", "x"), (2, "plain", "y")], "k long, p string, v string"
        )
        catalog.apply_cdc(
            base.withColumn("op", F.lit("I")), "g4", ["k"], partition_col="p"
        )
        changes = spark.createDataFrame(
            [(1, "a/b=c", "x", "D")], "k long, p string, v string, op string"
        )
        catalog.apply_cdc(changes, "g4", ["k"], partition_col="p")
        assert [(r["k"], r["p"]) for r in catalog.read("g4").collect()] == [
            (2, "plain")
        ]
        dirs = [
            d for d in os.listdir(catalog.path("g4")) if d.startswith("p=")
        ]
        assert dirs == ["p=plain"]

    def test_null_partition_keeps_untouched_rows(self, spark, catalog):
        # isin(None) is SQL-unknown: without the isNull clause a batch
        # touching the NULL partition would drop its kept rows
        base = spark.createDataFrame(
            [(1, None, "a"), (2, None, "b"), (3, "q", "c")],
            "k long, p string, v string",
        )
        catalog.apply_cdc(
            base.withColumn("op", F.lit("I")), "g5", ["k"], partition_col="p"
        )
        changes = spark.createDataFrame(
            [(1, None, "a", "D")], "k long, p string, v string, op string"
        )
        catalog.apply_cdc(changes, "g5", ["k"], partition_col="p")
        out = sorted((r["k"], r["p"]) for r in catalog.read("g5").collect())
        assert out == [(2, None), (3, "q")]

    def test_null_partition_emptied_is_cleaned(self, spark, catalog):
        import os

        base = spark.createDataFrame(
            [(1, None, "a"), (2, "q", "b")], "k long, p string, v string"
        )
        catalog.apply_cdc(
            base.withColumn("op", F.lit("I")), "g6", ["k"], partition_col="p"
        )
        changes = spark.createDataFrame(
            [(1, None, "a", "D")], "k long, p string, v string, op string"
        )
        catalog.apply_cdc(changes, "g6", ["k"], partition_col="p")
        assert [(r["k"], r["p"]) for r in catalog.read("g6").collect()] == [
            (2, "q")
        ]
        assert "p=__HIVE_DEFAULT_PARTITION__" not in os.listdir(
            catalog.path("g6")
        )


class TestQuarantineNameGuard:
    def test_pipe_and_empty_check_names_rejected(self, spark, catalog):
        df = spark.createDataFrame([(1,)], "k long")
        with pytest.raises(ValueError, match="delimiter"):
            catalog.quarantine_write(df, "qn1", {"bad|name": F.col("k") > 0})
        with pytest.raises(ValueError, match="non-empty"):
            catalog.quarantine_write(df, "qn2", {"": F.col("k") > 0})



class TestClusterMasterDetection:
    """build_session must not clobber a launcher-chosen master (ADVICE r5):
    SparkConf().contains('spark.master') is always False before the py4j
    gateway attaches, so the launcher's intent must be read from env."""

    def test_submit_args_master_detected(self, monkeypatch):
        from dataengineer_spark.session import _cluster_master_configured

        monkeypatch.setenv(
            "PYSPARK_SUBMIT_ARGS", "--master yarn pyspark-shell"
        )
        assert _cluster_master_configured()

    def test_gateway_port_detected(self, monkeypatch):
        from dataengineer_spark.session import _cluster_master_configured

        monkeypatch.delenv("PYSPARK_SUBMIT_ARGS", raising=False)
        monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "25333")
        assert _cluster_master_configured()

    def test_master_env_detected(self, monkeypatch):
        from dataengineer_spark.session import _cluster_master_configured

        monkeypatch.delenv("PYSPARK_SUBMIT_ARGS", raising=False)
        monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
        monkeypatch.setenv("MASTER", "spark://host:7077")
        assert _cluster_master_configured()
