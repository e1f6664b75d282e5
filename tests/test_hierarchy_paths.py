"""Both physical paths of the iterative graph operators must agree: the
broadcast-hop loop (edge table ≤ BROADCAST_EDGE_ROW_LIMIT, what every
fixture-sized test exercises implicitly) and the explicit shuffle-join
path (broadcast_edges=False — the billion-edge configuration, otherwise
never taken at test scale)."""

from __future__ import annotations

from pyspark.sql import functions as F

from fhir_owl_spark.operators.hierarchy import (
    reachable_pairs,
    reachable_set,
    transitive_closure,
)


def _edges(spark):
    # 3-level fanout forest + one cross edge: 1 -> 10..13 -> 100..139
    rows = []
    for a in range(10, 14):
        rows.append((str(a), "1"))
        for b in range(a * 10, a * 10 + 10):
            rows.append((str(b), str(a)))
    rows.append(("100", "13"))  # diamond: 100 under both 10 and 13
    return spark.createDataFrame(rows, ["child", "parent"])


def test_closure_shuffle_path_equals_broadcast_path(spark):
    e = _edges(spark)
    kw = dict(child_col="child", parent_col="parent")
    bc = {(r["child"], r["parent"]) for r in transitive_closure(e, broadcast_edges=True, **kw).collect()}
    sh = {(r["child"], r["parent"]) for r in transitive_closure(e, broadcast_edges=False, **kw).collect()}
    assert bc == sh
    assert ("100", "1") in bc  # depth-2 through either diamond branch


def test_reachable_set_and_pairs_shuffle_path(spark):
    e = _edges(spark)
    for bcast in (True, False):
        anc = {
            r["node"]
            for r in reachable_set(e, ["100"], direction="up", broadcast_edges=bcast).collect()
        }
        assert anc == {"10", "13", "1"}
        pairs = {
            (r["seed"], r["node"])
            for r in reachable_pairs(
                e, ["100", "110"], direction="up", broadcast_edges=bcast
            ).collect()
        }
        assert pairs == {
            ("100", "10"), ("100", "13"), ("100", "1"),
            ("110", "11"), ("110", "1"),
        }


class TestKHop:
    def _edges(self, spark):
        # chain 1→2→3→4→5 plus a shortcut 1→3 (diamond: 3 is reachable
        # at hops 1 AND 2 — min wins)
        rows = [("2", "1"), ("3", "2"), ("4", "3"), ("5", "4"), ("3", "1")]
        return spark.createDataFrame(rows, ["child", "parent"])

    def test_min_hop_attribution_and_truncation(self, spark):
        from fhir_owl_spark.operators.hierarchy import k_hop

        e = self._edges(spark)
        got = {r["node"]: r["hops"]
               for r in k_hop(e, ["1"], k=2, direction="down").collect()}
        # down from 1: level1 {2, 3 (shortcut)}, level2 {4 (via 3), 3 via 2
        # — already visited}; 5 is 3 hops away and must be truncated out
        assert got == {"2": 1, "3": 1, "4": 2}

    def test_up_direction_and_full_depth(self, spark):
        from fhir_owl_spark.operators.hierarchy import k_hop

        e = self._edges(spark)
        got = {r["node"]: r["hops"]
               for r in k_hop(e, ["5"], k=10, direction="up").collect()}
        assert got == {"4": 1, "3": 2, "2": 3, "1": 3}

    def test_validation_and_no_reach(self, spark):
        import pytest

        from fhir_owl_spark.operators.hierarchy import k_hop

        e = self._edges(spark)
        with pytest.raises(ValueError, match="k must be"):
            k_hop(e, ["1"], k=0)
        assert k_hop(e, ["zzz"], k=3).count() == 0

    def test_matches_reachable_set_at_depth(self, spark):
        from fhir_owl_spark.operators.hierarchy import k_hop, reachable_set

        e = self._edges(spark)
        khop_nodes = {r["node"] for r in k_hop(e, ["1"], k=10, direction="down").collect()}
        full = {r["node"]
                for r in reachable_set(e, ["1"], direction="down").collect()}
        assert khop_nodes == full


class TestFunctionalClosureFastPath:
    """The single-map functional-graph closure (AUTO path, edge table
    within the broadcast limit, out-degree ≤ 1) must agree with the
    iterative loop in rows, schema and guard behavior."""

    def test_matches_loop_on_forest_with_duplicates_and_strings(self, spark):
        rows = [("a", "r"), ("b", "a"), ("c", "b"), ("d", "r")]
        e = spark.createDataFrame(rows + rows[:2], ["child", "parent"])
        kw = dict(child_col="child", parent_col="parent")
        fast = transitive_closure(e, **kw)
        loop = transitive_closure(e, broadcast_edges=True, **kw)
        fp = sorted(map(tuple, fast.collect()))
        lp = sorted(map(tuple, loop.collect()))
        assert fp == lp
        # duplicate input edges must not produce duplicate closure rows
        assert len(fp) == len(set(fp))
        assert fast.schema == loop.schema

    def test_depth_guard_boundary(self, spark):
        import pytest

        from fhir_owl_spark.operators.hierarchy import HierarchyCycleError

        chain = spark.createDataFrame(
            [(f"n{i}", f"n{i+1}") for i in range(10)], ["child", "parent"]
        )
        kw = dict(child_col="child", parent_col="parent")
        # depth == max_iterations is legal (chain of 10 edges → 55 pairs)
        assert transitive_closure(chain, max_iterations=10, **kw).count() == 55
        with pytest.raises(HierarchyCycleError):
            transitive_closure(chain, max_iterations=9, **kw)

    def test_functional_cycle_raises_eagerly(self, spark):
        import pytest

        from fhir_owl_spark.operators.hierarchy import HierarchyCycleError

        cyc = spark.createDataFrame(
            [("a", "b"), ("b", "c"), ("c", "a"), ("x", "a")],
            ["child", "parent"],
        )
        kw = dict(child_col="child", parent_col="parent")
        with pytest.raises(HierarchyCycleError):
            transitive_closure(cyc, **kw)

    def test_int64_ids_beyond_float53(self, spark):
        # ids that float64 cannot represent exactly: the chain walk must
        # not round-trip values through float64
        big = 2**60
        rows = [(big + 1, big + 2), (big + 2, big + 3)]
        e = spark.createDataFrame(rows, ["child", "parent"])
        got = sorted(
            map(tuple, transitive_closure(e, child_col="child", parent_col="parent").collect())
        )
        assert got == [
            (big + 1, big + 2), (big + 1, big + 3), (big + 2, big + 3)
        ]
