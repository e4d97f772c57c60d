"""Driver-contract smoke: entry() and the queries()/oracle_sql() registry.

Full oracle comparison runs via tools/check_oracle.py; here we pin the
contract shape, the flagship query and the registry snapshot.
"""

from __future__ import annotations

import hashlib
import json
import os

import __spark_entry__ as entrymod


class TestContract:
    def test_every_oracle_has_a_query(self):
        qs, oracles = entrymod.queries(), entrymod.oracle_sql()
        assert set(oracles) <= set(qs)
        assert len(qs) >= 40

    def test_each_query_has_one_registry_row(self):
        names = [q.name for q in entrymod.REGISTRY]
        assert len(names) == len(set(names)) == len(entrymod.queries())

    def test_entry_runs_and_yields_rows(self, spark):
        df = entrymod.entry(spark)
        assert df.columns == [
            "batchid", "msgid", "predicted_label_id", "model_score", "model_id",
            "predicted_label",
        ]
        assert df.count() > 0

    def test_flagship_plan_has_no_shuffle_on_fact_side(self, spark):
        # broadcast dim join: the documents scan must not shuffle.
        # Inspect the flagship plan directly — entry() returns a
        # lineage_cut frame (one materialization shared by the K4
        # upload and the driver's collect) whose own plan is just the
        # checkpoint scan.
        plan = (
            entrymod._flagship(spark, "/root/testdata/sf0.001")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan or "BroadcastQueryStage" in plan


def _digest(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()[:16]


class TestRegistrySnapshot:
    """The driver contract and every list derived from the query registry,
    pinned byte for byte: the ``queries()`` rotation order, the oracle
    text, and the headline / effectful / bounded-BNL / plan-pin sets.  A
    change here moves the external driver's sample slots or a bench
    tier, so it must be deliberate."""

    def test_queries_order(self):
        names = list(entrymod.queries())
        assert len(names) == 283
        assert _digest("\n".join(names)) == "547ab52f7e8bda49"

    def test_oracle_text(self):
        oracles = entrymod.oracle_sql()
        assert len(oracles) == 272
        assert _digest(json.dumps(sorted(oracles.items()))) == "aa9d097f9a55419d"

    def test_headline_set(self):
        import bench

        assert len(bench.HEADLINE) == 143
        assert _digest("\n".join(sorted(bench.HEADLINE))) == "a08015bf1c5966e2"

    def test_effectful_set(self):
        effectful = entrymod.EFFECTFUL_QUERIES
        assert len(effectful) == 46
        assert _digest("\n".join(sorted(effectful))) == "d8f7cdcabc8a2d80"

    def test_bounded_bnl_justifications(self):
        bounded = entrymod.BOUNDED_BNL_QUERIES
        assert len(bounded) == 4
        assert _digest(json.dumps(sorted(bounded.items()))) == "2b444d7b70894239"

    def test_pinned_set(self):
        from tools.pin_plans import PINNED_QUERIES

        assert len(PINNED_QUERIES) == 41
        assert _digest("\n".join(sorted(PINNED_QUERIES))) == "affbcf94026391e2"

    def test_rows_only_queries_come_last(self):
        oracles = entrymod.oracle_sql()
        has_oracle = [name in oracles for name in entrymod.queries()]
        assert has_oracle == sorted(has_oracle, reverse=True)

    def test_no_pinned_query_is_effectful(self):
        from tools.pin_plans import PINNED_QUERIES

        assert not set(PINNED_QUERIES) & set(entrymod.EFFECTFUL_QUERIES)

    def test_plan_pin_file_matches_pin_list(self):
        from tools.pin_plans import PINNED_QUERIES

        path = os.path.join(os.path.dirname(__file__), "plan_pins.json")
        with open(path) as fh:
            assert set(json.load(fh)) == set(PINNED_QUERIES)

    def test_keys_are_function_names(self):
        for name, fn in entrymod.queries().items():
            assert fn.__name__ == name
