"""The perfbench workloads: each is a fixed op list (one pass), a one-time
preparation, and a correctness check run after the timed region.  A
workload also fixes its warm-up range (``min_warmup`` to ``max_warmup``
passes) and the nominal pass wall that turns ``--seconds`` into a measured
pass count.

An *op* is one timed unit; a *pass* is the workload's op list run once.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import duckdb
from pyspark.sql import functions as F

import __spark_entry__ as entry
from check_oracle import compare, duck_connection
from dataengineer_spark.catalog import Catalog
from dataengineer_spark.config import RunConfig
from dataengineer_spark.ml.inference import transformer_classifier
from dataengineer_spark.plans.api_variant import run_dx_group_api
from dataengineer_spark.plans.prostate import run_prostate


@dataclass(frozen=True)
class Op:
    name: str
    layer: str  # the span the op's own work is attributed to


class ClinicalEtl:
    """Batches of pathology reports through the paper's pipeline: the
    API-variant dx_group run (audit row, three lake writes, label join, CSV
    export), the prostate fan-out and the Arrow pandas-UDF model scoring.
    Closed loop, one client; batch ``k`` reads report file ``k mod N``."""

    name = "clinical_etl"
    ops = [Op("batch", "op")]
    min_warmup, max_warmup = 2, 3
    nominal_pass_s = 5.0

    def prepare(self, spark, data_dir: str, work_dir: str, props: dict, seed: int) -> None:
        self.spark = spark
        self.seed = seed
        self.files = props["report_files"]
        self.lake = os.path.join(work_dir, "lake")
        self.catalog = Catalog(spark, self.lake)
        self.labels = spark.createDataFrame(
            [(1, k, f"NAME_{k}") for k in range(16)],
            "model_id long, label long, label_name string",
        )
        self.config = RunConfig(pipeline_name="dx_group_api")
        self.batches: list[tuple[int, str]] = []  # (batch_id, input file)

    def run(self, op: Op, tracer) -> None:
        path = self.files[len(self.batches) % len(self.files)]
        batch_id = len(self.batches) + 1  # the allocator's max(batch_id) + 1
        self.batches.append((batch_id, path))
        source = self.spark.read.parquet(path)
        run_dx_group_api(
            self.catalog, self.config, source, self.labels, model_id=1,
            export_path=os.path.join(self.lake, "exports", f"batch_id={batch_id}"),
        )
        preped = self.catalog.read_batch("preped_data", batch_id)
        with tracer.span("plans.prostate.fanout"):
            fanned = run_prostate(preped).withColumn("batch_id", F.lit(batch_id))
            self.catalog.write(fanned, "prostate_predictions")
        with tracer.span("ml.inference.score"):
            clf = transformer_classifier(f"numpy:{self.seed}", "")
            scored = preped.select(
                "batch_id", "msgid",
                clf(F.coalesce(F.col("filtered_message"), F.lit(""))).alias("p"),
            ).select("batch_id", "msgid", "p.predicted_label", "p.model_score")
            self.catalog.write(scored, "model_scores")
        tracer.count("catalog.input_bytes", os.path.getsize(path))

    def check(self, results: dict) -> list[tuple[str, str]]:
        """Every input msgid lands exactly once per batch in every output,
        one audit row per batch, and the export has one row per report."""
        con = duckdb.connect()
        problems = []

        def ids(sql: str) -> dict[int, list[int]]:
            out: dict[int, list[int]] = {}
            for b, m in con.sql(sql).fetchall():
                out.setdefault(int(b), []).append(m)
            return out

        def table(name: str, id_col: str = "msgid") -> dict[int, list[int]]:
            return ids(f"SELECT batch_id, {id_col} FROM read_parquet("
                       f"'{self.lake}/{name}/**/*.parquet', hive_partitioning=true)")

        outputs = {t: table(t) for t in ("cleaned_data", "preped_data",
                                         "prediction_table", "model_scores")}
        outputs["prostate_predictions"] = table("prostate_predictions", "msg_id")
        audit = ids(f"SELECT batch_id, pipeline_name FROM '{self.lake}/batch/*.parquet'")
        for batch_id, path in self.batches:
            want = sorted(con.sql(f"SELECT msgid FROM '{path}'").fetchnumpy()["msgid"].tolist())
            op = f"batch_id={batch_id}"
            for t, got in outputs.items():
                if sorted(got.get(batch_id, [])) != want:
                    problems.append((op, f"{t} msgids differ from the input"))
            if len(audit.get(batch_id, [])) != 1:
                problems.append((op, f"{len(audit.get(batch_id, []))} audit rows"))
            n_export = con.sql(
                f"SELECT count(*) FROM read_csv('{self.lake}/exports/{op}/*.csv', "
                "header=true)").fetchone()[0]
            if n_export != len(want):
                problems.append((op, f"export has {n_export} rows, want {len(want)}"))
        for extra in set(outputs["cleaned_data"]) - {b for b, _ in self.batches}:
            problems.append((f"batch_id={extra}", "unexpected batch in the lake"))
        return problems


class QueryMix:
    """A closed-loop client running registered ``queries()`` entries; each
    op is one query, built then collected.  Oracled queries are compared
    with DuckDB running ``oracle_sql()`` over the same generated files."""

    name = ""
    mix: list[tuple[str, str]] = []  # (query, layer span of its family)

    def __init__(self):
        self.ops = [Op(q, layer) for q, layer in self.mix]

    def prepare(self, spark, data_dir: str, work_dir: str, props: dict, seed: int) -> None:
        self.spark = spark
        self.data_dir = data_dir
        self.fns = entry.queries()

    def run(self, op: Op, tracer):
        with tracer.span("queries.build"):
            df = self.fns[op.name](self.spark, self.data_dir)
        with tracer.span("queries.action"):
            return df.toPandas()

    def check(self, results: dict) -> list[tuple[str, str]]:
        oracles = entry.oracle_sql()
        con = duck_connection(self.data_dir)
        problems = []
        for name, outs in results.items():
            if name not in oracles:
                problems.append((name, "no oracle_sql() entry to check against"))
                continue
            want = con.sql(oracles[name]).df()
            for i, got in enumerate(outs):
                problems += [(f"{name}#{i}", p) for p in compare(name, got, want)]
        return problems


class AnalyticsMix(QueryMix):
    """Short read-only shuffle/join/aggregate queries, where per-query
    fixed cost (jobs, stages, planning) dominates, interleaved with
    driver-loop queries: power iterations with per-iteration driver
    collects, and the curation pipeline (quality and language filters,
    exact dedup over a corpus with planted copies, split).  No lake writes
    and no model UDF."""

    name = "analytics_mix"
    min_warmup = max_warmup = 1
    nominal_pass_s = 5.0
    mix = [
        ("q_e9_asof_join", "operators.joins"),
        ("q_e5_rollup", "operators.aggregates"),
        ("q_e6_window", "operators.windows"),
        ("q_e3_pca_power", "operators.similarity"),
        ("q_e10_session", "operators.events"),
        ("q_pipeline_curation", "plans.curation"),
    ]


WORKLOADS = {w.name: w for w in (ClinicalEtl, AnalyticsMix)}

