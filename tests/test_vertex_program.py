"""VertexProgram — the declarative user compute() surface.

Verifies VERDICT r1 "Next round #3": new algorithms are definable
against the public API alone (no linkgraph.algorithms edits), with
parity against the engine-internal implementations and independent
numpy oracles.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from linkgraph.vertex_program import VertexProgram, run_vertex_program


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


class TestSsspViaVertexProgram:
    def test_matches_builtin_sssp(self, spark, webmap_edges):
        from oracles import sssp_oracle

        from linkgraph import shortest_paths
        from linkgraph.synth import WEBMAP, adjacency_to_edges

        got, _ = shortest_paths(webmap_edges, source=0)
        want = sssp_oracle(adjacency_to_edges(WEBMAP), set(range(20)), 0)
        assert dict(_rows(got, "id", "distance")) == want

    def test_weighted(self, spark):
        from linkgraph import shortest_paths

        edges = spark.createDataFrame(
            [(0, 1, 5.0), (0, 2, 1.0), (2, 1, 1.0), (1, 3, 1.0)],
            "src long, dst long, w double",
        )
        got, _ = shortest_paths(edges, source=0, weight_col="w")
        d = dict(_rows(got, "id", "distance"))
        assert d == {0: 0.0, 1: 2.0, 2: 1.0, 3: 3.0}

    def test_unreachable_is_null(self, spark):
        from linkgraph import shortest_paths

        edges = spark.createDataFrame([(0, 1), (2, 3)], "src long, dst long")
        got, _ = shortest_paths(edges, source=0)
        d = dict(_rows(got, "id", "distance"))
        assert d[0] == 0.0 and d[1] == 1.0
        assert d[2] is None and d[3] is None


class TestDegreeWeightedPageRank:
    def test_matches_numpy_oracle(self, spark, webmap_edges):
        from linkgraph import degree_weighted_pagerank

        got, res = degree_weighted_pagerank(webmap_edges, fixed_updates=10)
        ranks = dict(_rows(got, "id", "rank"))

        # independent numpy oracle
        pairs = [(r["src"], r["dst"]) for r in webmap_edges.collect()]
        ids = sorted({v for e in pairs for v in e})
        idx = {v: i for i, v in enumerate(ids)}
        n, m = len(ids), len(pairs)
        outdeg = np.zeros(n)
        for s, _ in pairs:
            outdeg[idx[s]] += 1
        prior = outdeg / m
        r = prior.copy()
        for _ in range(10):
            msum = np.zeros(n)
            for s, d in pairs:
                msum[idx[d]] += r[idx[s]] / outdeg[idx[s]]
            r = 0.15 * prior + 0.85 * msum
        for v in ids:
            assert ranks[v] == pytest.approx(r[idx[v]], abs=1e-9)

    def test_no_engine_internals_needed(self):
        # the example module must not import the built-in algorithms
        import linkgraph.examples as ex

        src = open(ex.__file__).read()
        assert "from .algorithms" not in src and "algorithms." not in src


class TestUserDefinedPrograms:
    def test_cc_via_vertex_program(self, spark, webmap_edges):
        """Min-label propagation defined by a user, compared with the
        built-in connected components on the undirected graph."""
        from linkgraph import VertexProgram, connected_components, run_vertex_program

        prog = VertexProgram(
            init_expr=F.col("id").cast("double"),
            message_expr=F.col("value"),
            combine_agg=F.min("msg"),
            update_expr=F.least(
                F.col("value"), F.coalesce(F.col("msg"), F.col("value"))
            ),
            changed_expr=F.col("_new") < F.col("value"),
            plan="delta",
            symmetrize_edges=True,
        )
        got, _ = run_vertex_program(webmap_edges, prog, max_supersteps=50)
        want, _ = connected_components(webmap_edges)
        got_d = {r["id"]: int(r["value"]) for r in got.collect()}
        want_d = {r["id"]: int(r["component"]) for r in want.collect()}
        assert got_d == want_d

    def test_pandas_update_kernel(self, spark, webmap_edges):
        """update_kernel path: same SSSP update written as a vectorized
        pandas kernel instead of a column expression."""
        from linkgraph import VertexProgram, run_vertex_program, shortest_paths

        def kernel(pdf):
            import numpy as np

            msg = pdf["msg"].to_numpy(dtype="float64")  # NaN when null
            val = pdf["value"].to_numpy(dtype="float64")
            return __import__("pandas").Series(np.fmin(val, np.nan_to_num(msg, nan=np.inf)))

        prog = VertexProgram(
            init_expr=F.when(F.col("id") == 0, 0.0).otherwise(float("inf")),
            message_expr=F.col("value") + F.lit(1.0),
            combine_agg=F.min("msg"),
            update_expr=F.lit(None),  # unused: kernel takes precedence
            changed_expr=F.col("_new") < F.col("value"),
            plan="delta",
            initial_active_expr=F.col("id") == 0,
            update_kernel=kernel,
        )
        got, _ = run_vertex_program(webmap_edges, prog, max_supersteps=50)
        want, _ = shortest_paths(webmap_edges, source=0)
        got_d = {
            r["id"]: (None if r["value"] == float("inf") else r["value"])
            for r in got.collect()
        }
        want_d = {r["id"]: r["distance"] for r in want.collect()}
        assert got_d == want_d

    def test_pandas_udaf_combiner(self, spark, webmap_edges):
        """combine_agg path: a user-defined Arrow-batched GROUPED_AGG
        pandas UDF as the message combiner — the Spark rendition of the
        reference's 3-stage MessageCombiner user API
        (pregelix-api MessageCombiner.java:39-113; SURVEY §3.4 row 5).
        Same SSSP program as the expression combiner, custom min."""
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        from linkgraph import VertexProgram, run_vertex_program, shortest_paths

        @pandas_udf("double")
        def user_min_combiner(msgs: pd.Series) -> float:
            return float(msgs.min())

        prog = VertexProgram(
            init_expr=F.when(F.col("id") == 0, 0.0).otherwise(float("inf")),
            message_expr=F.col("value") + F.lit(1.0),
            combine_agg=user_min_combiner(F.col("msg")),
            update_expr=F.least(
                F.col("value"), F.coalesce(F.col("msg"), F.col("value"))
            ),
            changed_expr=F.col("_new") < F.col("value"),
            plan="delta",
            initial_active_expr=F.col("id") == 0,
        )
        got, _ = run_vertex_program(webmap_edges, prog, max_supersteps=50)
        want, _ = shortest_paths(webmap_edges, source=0)
        got_d = {
            r["id"]: (None if r["value"] == float("inf") else r["value"])
            for r in got.collect()
        }
        want_d = {r["id"]: r["distance"] for r in want.collect()}
        assert got_d == want_d

    def test_metrics_and_checkpoint(self, spark, webmap_edges, tmp_path):
        from linkgraph import CheckpointManager, shortest_paths

        ck = CheckpointManager(spark, str(tmp_path / "vp"), every=1)
        _, res = shortest_paths(webmap_edges, source=0, ckpt=ck)
        assert res.supersteps >= 1
        assert all(m.messages is not None for m in res.history)
        assert ck.committed_supersteps()


class TestAutoPlanSwitch:
    """plan="auto" — the reference's runtime OUTER->INNER switch
    (JobGen.switchPlan): outer scatter until the changed fraction drops
    below switch_threshold, then permanent delta scatter."""

    def _cc_prog(self, plan, threshold=0.5):
        from linkgraph import VertexProgram

        return VertexProgram(
            init_expr=F.col("id").cast("double"),
            message_expr=F.col("value"),
            combine_agg=F.min("msg"),
            update_expr=F.least(
                F.col("value"), F.coalesce(F.col("msg"), F.col("value"))
            ),
            changed_expr=F.col("_new") < F.col("value"),
            plan=plan,
            switch_threshold=threshold,
            symmetrize_edges=True,
        )

    def test_auto_matches_outer_and_delta(self, spark, webmap_edges):
        from linkgraph import run_vertex_program

        results = {}
        for plan in ("outer", "delta", "auto"):
            got, res = run_vertex_program(
                webmap_edges, self._cc_prog(plan), max_supersteps=50
            )
            results[plan] = {r["id"]: r["value"] for r in got.collect()}
        assert results["auto"] == results["outer"] == results["delta"]

    def test_switch_fires_and_is_permanent(self, spark, webmap_edges):
        from linkgraph import run_vertex_program

        # threshold 1.1: every superstep qualifies -> switches at k=2
        _, res = run_vertex_program(
            webmap_edges, self._cc_prog("auto", threshold=1.1), max_supersteps=50
        )
        assert res.plan_switched_at == 2
        # threshold 0: never switches -> stays outer
        _, res0 = run_vertex_program(
            webmap_edges, self._cc_prog("auto", threshold=0.0), max_supersteps=50
        )
        assert res0.plan_switched_at is None

    def test_non_auto_has_no_switch(self, spark, webmap_edges):
        from linkgraph import run_vertex_program

        _, res = run_vertex_program(
            webmap_edges, self._cc_prog("delta"), max_supersteps=50
        )
        assert res.plan_switched_at is None


class TestWakeOnMessage:
    """The set-union wake-up (Vertex.java:248-290 'a halted vertex is
    reactivated when it receives a message'; JobGenInnerJoin.java:336-339
    sorted set-union of message ids with the live-vertex index)."""

    N = 6

    def _ring(self, spark):
        return spark.createDataFrame(
            [(i, (i + 1) % self.N) for i in range(self.N)],
            "src long, dst long",
        )

    def test_token_circulates_with_wake(self, spark):
        from linkgraph import token_circulation

        # 2 full laps: token visits each of N vertices twice, +1 step to
        # count the second arrival at 0
        got, res = token_circulation(
            self._ring(spark), max_supersteps=2 * self.N, wake_on_message=True
        )
        laps = dict(_rows(got, "id", "laps"))
        assert laps[0] == 2
        assert all(laps[i] == 0 for i in range(1, self.N))
        # relays never 'change' — the run stayed live purely via
        # messages in flight (the wake-aware stop condition)
        assert any(
            (s.changed == 0) and (s.messages or 0) > 0 for s in res.history
        )

    def test_matches_outer_plan_oracle(self, spark):
        """Semantic ground truth: under plan='outer' every vertex
        scatters every superstep, so wake-up is moot; delta+wake must
        produce the identical final state."""
        from linkgraph.examples import token_ring_program
        from linkgraph.vertex_program import run_vertex_program

        edges = self._ring(spark)
        steps = 2 * self.N

        prog_outer = token_ring_program()
        prog_outer.plan = "outer"
        want, _ = run_vertex_program(
            edges, prog_outer, max_supersteps=steps, stop_when=lambda s: False
        )
        got, _ = run_vertex_program(
            edges,
            token_ring_program(wake_on_message=True),
            max_supersteps=steps,
            stop_when=lambda s: False,
        )

        def flat(df):
            return _rows(
                df.select("id", "value.tok", "value.laps"), "id", "tok", "laps"
            )

        assert flat(got) == flat(want)

    def test_token_dies_without_wake(self, spark):
        """Why the facility exists: voting to halt on logical state only,
        the first relay swallows the token when halted vertices are not
        woken by messages."""
        from linkgraph import token_circulation

        got, res = token_circulation(
            self._ring(spark), max_supersteps=2 * self.N, wake_on_message=False
        )
        laps = dict(_rows(got, "id", "laps"))
        assert laps[0] == 0
        # the default (non-wake) stop fired almost immediately
        assert res.supersteps < self.N


class TestTerminatePartition:
    """The general terminate_partition_expr channel (the reference's
    Vertex.terminatePartition + pluggable VertexPartitioner)."""


    def test_frozen_partition_ignores_messages(self, spark):
        # chain 0->1->2->3 propagating a max; partition_expr splits
        # {0,1} / {2,3}. Partition of 2,3 terminates at superstep 1,
        # so the flood never advances past vertex 1.
        edges = spark.createDataFrame(
            [(0, 1), (1, 2), (2, 3)], "src long, dst long"
        )
        prog = VertexProgram(
            init_expr=F.when(F.col("id") == 0, F.lit(1)).otherwise(F.lit(0)),
            message_expr=F.col("value"),
            combine_agg=F.max(F.col("msg")),
            update_expr=F.greatest(
                F.col("value"), F.coalesce(F.col("msg"), F.lit(0))
            ),
            terminate_partition_expr=(
                (F.col("superstep") == 1) & (F.col("id") == 3)
            ),
            partition_expr=(F.col("id") >= 2).cast("int"),
        )
        out, res = run_vertex_program(edges, prog, max_supersteps=10)
        vals = {r["id"]: r["value"] for r in out.collect()}
        # vertex 1 gets the flood (superstep 1 happens before freezing
        # applies only to the fired partition's update of that step:
        # partition {2,3} freezes BEFORE its superstep-1 update)
        assert vals == {0: 1, 1: 1, 2: 0, 3: 0}
        assert res.converged

    def test_delta_plan_wake_cannot_revive_frozen(self, spark):
        edges = spark.createDataFrame(
            [(0, 1), (1, 2), (2, 3)], "src long, dst long"
        )
        prog = VertexProgram(
            init_expr=F.when(F.col("id") == 0, F.lit(1)).otherwise(F.lit(0)),
            message_expr=F.col("value"),
            combine_agg=F.max(F.col("msg")),
            update_expr=F.greatest(
                F.col("value"), F.coalesce(F.col("msg"), F.lit(0))
            ),
            plan="delta",
            initial_active_expr=F.col("value") > 0,
            wake_on_message=True,
            terminate_partition_expr=(
                (F.col("superstep") == 1) & (F.col("id") == 2)
            ),
            partition_expr=(F.col("id") >= 2).cast("int"),
        )
        out, _ = run_vertex_program(edges, prog, max_supersteps=10)
        vals = {r["id"]: r["value"] for r in out.collect()}
        assert vals == {0: 1, 1: 1, 2: 0, 3: 0}

    def test_default_partition_is_engine_hash(self, spark):
        # default partition_expr = pmod(hash(id), p): firing one vertex
        # freezes exactly the ids sharing its engine partition
        from pyspark.sql import functions as SF

        n, p = 12, 3
        edges = spark.createDataFrame(
            [(i, (i + 1) % n) for i in range(n)], "src long, dst long"
        )
        prog = VertexProgram(
            init_expr=F.lit(0),
            message_expr=F.lit(0),
            combine_agg=F.sum(F.col("msg")),
            update_expr=F.col("superstep"),
            terminate_partition_expr=(
                (F.col("superstep") == 1) & (F.col("id") == 0)
            ),
        )
        out, _ = run_vertex_program(
            edges, prog, num_partitions=p, max_supersteps=2
        )
        part0 = {
            r["id"]
            for r in spark.range(n)
            .select("id", SF.pmod(SF.hash("id"), SF.lit(p)).alias("pt"))
            .collect()
            if r["pt"]
            == spark.range(1).select(SF.pmod(SF.hash(SF.lit(0).cast("long")), SF.lit(p))).first()[0]
        }
        vals = {r["id"]: r["value"] for r in out.collect()}
        for i in range(n):
            assert vals[i] == (0 if i in part0 else 2)
