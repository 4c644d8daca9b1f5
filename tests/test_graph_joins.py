"""connected_components / dedup_components (operators/graph.py),
range_join (operators/joins.py), bm25_scores (operators/text.py)."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from ksj2gp_spark.operators.graph import connected_components, dedup_components
from ksj2gp_spark.operators.joins import range_join
from ksj2gp_spark.operators.text import bm25_scores


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical: min node id per component
    comp = {}
    for n in list(parent):
        r = find(n)
        comp.setdefault(r, []).append(n)
    out = {}
    for members in comp.values():
        m = min(members)
        for n in members:
            out[n] = m
    return out


class TestConnectedComponents:
    def test_matches_union_find(self, spark):
        edges = [
            (1, 2), (2, 3), (3, 4),       # chain
            (10, 11),                     # pair
            (20, 21), (21, 22), (22, 20), # triangle
            (30, 4),                      # joins the chain
        ]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            r["node"]: r["component"]
            for r in connected_components(df).collect()
        }
        assert got == _union_find(edges)

    def test_long_chain_converges_in_log_rounds(self, spark):
        # a 200-node path: plain neighbor-min needs ~200 rounds;
        # pointer jumping must finish well inside max_iter=12
        n = 200
        df = spark.createDataFrame(
            [(i, i + 1) for i in range(n)], "src long, dst long"
        )
        got = connected_components(df, max_iter=12).collect()
        assert len(got) == n + 1
        assert {r["component"] for r in got} == {0}

    def test_direction_and_duplicates_ignored(self, spark):
        df = spark.createDataFrame(
            [(2, 1), (1, 2), (2, 1), (5, 5)], "src long, dst long"
        )
        got = {
            r["node"]: r["component"]
            for r in connected_components(df).collect()
        }
        assert got == {1: 1, 2: 1, 5: 5}

    def test_random_graphs_match_baseline_and_oracle(self, spark):
        # local contraction vs the label-propagation baseline vs a
        # driver-side union-find, on random sparse graphs (the shapes
        # LSH pair lists produce: many small comps + a few big ones)
        from ksj2gp_spark.operators.graph import (
            connected_components_labelprop,
        )

        rng = np.random.default_rng(7)
        for trial, (n, m) in enumerate([(50, 30), (200, 180), (500, 700)]):
            edges = [
                (int(a), int(b))
                for a, b in rng.integers(0, n, size=(m, 2))
            ]
            df = spark.createDataFrame(edges, "src long, dst long")
            fast = {
                r["node"]: r["component"]
                for r in connected_components(df).collect()
            }
            base = {
                r["node"]: r["component"]
                for r in connected_components_labelprop(df).collect()
            }
            oracle = _union_find(edges)
            assert fast == oracle, f"trial {trial}: contraction != oracle"
            assert base == oracle, f"trial {trial}: labelprop != oracle"
        # kernel partitioning must not change the answer (the SURVEY §7
        # determinism-across-parallelism requirement)
        for nparts in (1, 2, 16):
            got = {
                r["node"]: r["component"]
                for r in connected_components(
                    df, num_partitions=nparts
                ).collect()
            }
            assert got == oracle, f"num_partitions={nparts}"

    def test_empty_edges(self, spark):
        df = spark.createDataFrame([], "src long, dst long")
        assert connected_components(df).count() == 0

    def test_dedup_components_sizes(self, spark):
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
        )
        got = {
            r["doc_id"]: (r["component"], r["csize"])
            for r in dedup_components(pairs).collect()
        }
        assert got == {
            1: (1, 3), 2: (1, 3), 3: (1, 3),
            10: (10, 2), 11: (10, 2),
        }


class TestRangeJoin:
    def _naive(self, points, intervals):
        return sorted(
            (p_id, iv_id)
            for p_id, v in points
            for iv_id, lo, hi in intervals
            if lo <= v < hi
        )

    @pytest.mark.parametrize("bin_size", [0.7, 2.0, 10.0])
    def test_matches_naive_including_boundaries(self, spark, bin_size):
        # negative values, points exactly on lo (in) and hi (out),
        # interval inside one bin, empty and inverted intervals
        points = [
            (0, -5.0), (1, -0.5), (2, 0.0), (3, 2.0), (4, 3.999),
            (5, 4.0), (6, 7.5), (7, 100.0),
        ]
        intervals = [
            (0, -6.0, -4.0),
            (1, -1.0, 2.0),
            (2, 0.0, 4.0),     # hits lo=0.0 in, hi=4.0 out
            (3, 3.9, 4.1),     # sub-bin interval
            (4, 5.0, 5.0),     # empty
            (5, 9.0, 6.0),     # inverted -> no matches
            (6, 2.0, 200.0),   # wide
        ]
        p = spark.createDataFrame(points, "p_id long, v double")
        iv = spark.createDataFrame(
            intervals, "iv_id long, lo double, hi double"
        )
        got = sorted(
            (r["p_id"], r["iv_id"])
            for r in range_join(p, iv, "v", "lo", "hi", bin_size).collect()
        )
        assert got == self._naive(points, intervals)

    def test_no_cartesian_in_plan(self, spark):
        p = spark.createDataFrame([(0, 1.0)], "p_id long, v double")
        iv = spark.createDataFrame(
            [(0, 0.0, 2.0)], "iv_id long, lo double, hi double"
        )
        for bcast in (False, True):
            plan = range_join(
                p, iv, "v", "lo", "hi", 1.0, broadcast_intervals=bcast
            )._jdf.queryExecution().executedPlan().toString()
            assert "CartesianProduct" not in plan
            assert "BroadcastNestedLoopJoin" not in plan

    def test_rejects_bad_bin_size(self, spark):
        p = spark.createDataFrame([(0, 1.0)], "p_id long, v double")
        with pytest.raises(ValueError):
            range_join(p, p, "v", "v", "v", 0.0)


class TestBm25:
    def test_matches_manual_formula(self, spark):
        docs = [
            (0, "a b c a"),
            (1, "a d d"),
            (2, "x y z"),
            (3, "b b b b b"),
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        k1, b = 1.5, 0.75
        got = {
            r["doc_id"]: r["bm25"]
            for r in bm25_scores(
                df, ["a", "b"], k1=k1, b=b
            ).collect()
        }
        # manual: N=4, dls = [4,3,3,5], avgdl=3.75
        n_docs, avgdl = 4, 3.75
        tf = {0: {"a": 2, "b": 1}, 1: {"a": 1}, 3: {"b": 5}}
        dl = {0: 4, 1: 3, 3: 5}
        dfreq = {"a": 2, "b": 2}
        for d, terms in tf.items():
            want = sum(
                math.log(
                    1 + (n_docs - dfreq[t] + 0.5) / (dfreq[t] + 0.5)
                )
                * f * (k1 + 1)
                / (f + k1 * (1 - b + b * dl[d] / avgdl))
                for t, f in terms.items()
            )
            assert got[d] == pytest.approx(want, rel=1e-12)
        assert 2 not in got  # no query terms -> absent


class TestExactQuantiles:
    def test_matches_numpy_lower_quantile(self, spark):
        import numpy as np

        from ksj2gp_spark.operators.stats import exact_group_quantiles

        rows = [("a", v) for v in [5, 1, 9, 3, 7, 7, 2]] + [
            ("b", v) for v in [10, 20]
        ] + [("c", 42)]
        df = spark.createDataFrame(rows, "g string, v long")
        got = {
            (r["g"], r["q"]): r["value"]
            for r in exact_group_quantiles(
                df, ["g"], "v", [0.25, 0.5, 0.9, 1.0]
            ).collect()
        }
        data = {"a": [1, 2, 3, 5, 7, 7, 9], "b": [10, 20], "c": [42]}
        import math

        for g, vals in data.items():
            n = len(vals)
            for q in (0.25, 0.5, 0.9, 1.0):
                want = vals[max(1, math.ceil(q * n)) - 1]
                assert got[(g, q)] == want, (g, q)

    def test_rejects_bad_q(self, spark):
        from ksj2gp_spark.operators.stats import exact_group_quantiles

        df = spark.createDataFrame([("a", 1)], "g string, v long")
        with pytest.raises(ValueError):
            exact_group_quantiles(df, ["g"], "v", [])
        with pytest.raises(ValueError):
            exact_group_quantiles(df, ["g"], "v", [1.5])


class TestVocabInduction:
    def test_counts_rank_and_plan(self, spark):
        from ksj2gp_spark.operators.text import vocab_induction

        docs = [
            (0, "a b a c"), (1, "a b"), (2, "c c b"), (3, "d"),
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        full = {
            r["term"]: r["n"] for r in vocab_induction(df).collect()
        }
        assert full == {"a": 3, "b": 3, "c": 3, "d": 1}
        top = vocab_induction(df, min_count=2, top_n=2)
        plan = top._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrdered" in plan  # distributed top-k, no global sort
        rows = [(r["rank"], r["term"], r["n"]) for r in top.collect()]
        assert rows == [(1, "a", 3), (2, "b", 3)]  # ties break on term


class TestStringNodeIds:
    def test_components_with_string_ids(self, spark):
        """String node ids (this repo's img/doc id style) must cluster
        correctly — a numeric-cast convergence probe would NULL out and
        falsely converge after one round."""
        edges = [
            ("img00001", "img00002"),
            ("img00002", "img00003"),
            ("img00003", "img00004"),
            ("img00004", "img00005"),
            ("docA", "docB"),
        ]
        df = spark.createDataFrame(edges, "src string, dst string")
        got = {
            r["node"]: r["component"]
            for r in connected_components(df).collect()
        }
        assert got == {
            "img00001": "img00001", "img00002": "img00001",
            "img00003": "img00001", "img00004": "img00001",
            "img00005": "img00001", "docA": "docA", "docB": "docA",
        }


class TestFunnel:
    def test_strict_ordering_and_lags(self, spark):
        import datetime as dt

        from ksj2gp_spark.operators.stats import funnel

        T = dt.datetime
        rows = [
            # u1 completes in order: view@0, click@10s, purchase@25s
            (1, T(2024, 1, 1, 0, 0, 0), "view"),
            (1, T(2024, 1, 1, 0, 0, 10), "click"),
            (1, T(2024, 1, 1, 0, 0, 25), "purchase"),
            # u2 clicks BEFORE viewing -> stops at step 1
            (2, T(2024, 1, 1, 0, 0, 5), "click"),
            (2, T(2024, 1, 1, 0, 0, 9), "view"),
            # u3 views+clicks, never purchases; first click pre-view
            # is ignored, the later one counts (first AFTER view)
            (3, T(2024, 1, 1, 0, 0, 0), "click"),
            (3, T(2024, 1, 1, 0, 0, 2), "view"),
            (3, T(2024, 1, 1, 0, 0, 8), "click"),
            # u4 only purchases -> no steps at all
            (4, T(2024, 1, 1, 0, 0, 1), "purchase"),
        ]
        df = spark.createDataFrame(
            rows, "user_id long, ts timestamp, event_type string"
        )
        got = {
            r["step"]: (r["event_type"], r["n_users"], r["sum_lag_us"])
            for r in funnel(df, ["view", "click", "purchase"]).collect()
        }
        assert got[1] == ("view", 3, 0)            # u1, u2, u3
        # u1 lag 10s, u3 lag 6s -> 16s total
        assert got[2] == ("click", 2, 16_000_000)
        assert got[3] == ("purchase", 1, 15_000_000)  # u1: 25s-10s

    def test_rejects_empty_steps(self, spark):
        from ksj2gp_spark.operators.stats import funnel

        df = spark.createDataFrame(
            [(1,)], "user_id long"
        )
        with pytest.raises(ValueError):
            funnel(df, [])


class TestFunnelTz:
    def test_lag_is_timezone_independent(self, spark):
        """timestampdiff on naive values: the lag must not change with
        spark.sql.session.timeZone (a cast-to-TIMESTAMP detour would
        drift across DST transitions)."""
        import datetime as dt

        from ksj2gp_spark.operators.stats import funnel

        # straddle the US DST spring-forward (2024-03-10 02:00 local)
        rows = [
            (1, dt.datetime(2024, 3, 10, 1, 30), "view"),
            (1, dt.datetime(2024, 3, 10, 3, 30), "click"),
        ]
        df = spark.createDataFrame(
            rows, "user_id long, ts timestamp_ntz, event_type string"
        )
        old = spark.conf.get("spark.sql.session.timeZone")
        try:
            lags = {}
            for tz in ("UTC", "America/New_York"):
                spark.conf.set("spark.sql.session.timeZone", tz)
                r = {
                    row["step"]: row["sum_lag_us"]
                    for row in funnel(df, ["view", "click"]).collect()
                }
                lags[tz] = r[2]
            assert lags["UTC"] == lags["America/New_York"] == 7_200_000_000
        finally:
            spark.conf.set("spark.sql.session.timeZone", old)


class TestRangeJoinRandomSweep:
    def test_500x100_random_cases_match_naive(self, spark):
        """Seeded randomized sweep in ONE job: 500 points × 100
        intervals with negative domains, zero-width and inverted
        intervals, and a bin size that divides nothing."""
        import pandas as pd

        rng = np.random.default_rng(42)
        pts = rng.uniform(-50, 50, 500)
        los = rng.uniform(-55, 45, 100)
        widths = rng.uniform(-2, 15, 100)  # some inverted/empty
        his = los + widths
        p = spark.createDataFrame(
            pd.DataFrame({"p_id": np.arange(500), "v": pts})
        )
        iv = spark.createDataFrame(
            pd.DataFrame(
                {"iv_id": np.arange(100), "lo": los, "hi": his}
            )
        )
        got = sorted(
            (r["p_id"], r["iv_id"])
            for r in range_join(p, iv, "v", "lo", "hi", 3.7).collect()
        )
        mask = (pts[:, None] >= los[None, :]) & (pts[:, None] < his[None, :])
        want = sorted(
            (int(i), int(j)) for i, j in np.argwhere(mask)
        )
        assert got == want
        assert len(want) > 1000  # the sweep actually exercises matches


class TestTriangleCount:
    @staticmethod
    def _brute(edges):
        import itertools

        adj = {}
        es = set()
        for a, b in edges:
            if a == b:
                continue
            x, y = min(a, b), max(a, b)
            if (x, y) in es:
                continue
            es.add((x, y))
            adj.setdefault(x, set()).add(y)
            adj.setdefault(y, set()).add(x)
        counts = {}
        for x, y, z in itertools.combinations(sorted(adj), 3):
            if y in adj[x] and z in adj[x] and z in adj[y]:
                for v in (x, y, z):
                    counts[v] = counts.get(v, 0) + 1
        return counts

    def test_small_graph(self, spark):
        from ksj2gp_spark.operators.graph import triangle_count

        # two triangles sharing an edge + a pendant + a square (no tri)
        edges = [
            (1, 2), (2, 3), (1, 3),        # triangle
            (2, 4), (3, 4),                # second triangle on (2,3)
            (4, 5),                        # pendant
            (10, 11), (11, 12), (12, 13), (13, 10),  # square
        ]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r["node"]: r["triangles"] for r in triangle_count(df).collect()}
        assert got == self._brute(edges)

    def test_direction_dup_selfloop_invariance(self, spark):
        from ksj2gp_spark.operators.graph import triangle_count

        clean = [(1, 2), (2, 3), (1, 3)]
        noisy = clean + [(2, 1), (3, 2), (1, 1), (1, 2), (3, 1)]
        df = spark.createDataFrame(noisy, "src long, dst long")
        got = {r["node"]: r["triangles"] for r in triangle_count(df).collect()}
        assert got == {1: 1, 2: 1, 3: 1}

    def test_random_graph_matches_brute(self, spark):
        import random

        from ksj2gp_spark.operators.graph import triangle_count

        rng = random.Random(7)
        edges = [
            (rng.randrange(30), rng.randrange(30)) for _ in range(160)
        ]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r["node"]: r["triangles"] for r in triangle_count(df).collect()}
        assert got == self._brute(edges)

    def test_hub_skew_orientation(self, spark):
        # star hub of degree 40 + one rim edge: exactly one triangle;
        # degree orientation must point rim->hub so the wedge join
        # never fans out on the hub
        from ksj2gp_spark.operators.graph import triangle_count

        edges = [(0, i) for i in range(1, 41)] + [(1, 2)]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r["node"]: r["triangles"] for r in triangle_count(df).collect()}
        assert got == {0: 1, 1: 1, 2: 1}


class TestPagerank:
    @staticmethod
    def _brute(edges, n_iter=8, d=0.85):
        nodes = sorted({x for e in edges for x in e})
        n = len(nodes)
        out = {}
        for u, _ in edges:
            out[u] = out.get(u, 0) + 1
        r = {v: 1.0 / n for v in nodes}
        for _ in range(n_iter):
            s = {v: 0.0 for v in nodes}
            for u, v in edges:
                s[v] += r[u] / out[u]
            dang = sum(r[v] for v in nodes if v not in out)
            r = {
                v: (1 - d) / n + d * (s[v] + dang / n) for v in nodes
            }
        return {v: round(x, 6) for v, x in r.items()}

    def test_cycle_is_uniform(self, spark):
        from ksj2gp_spark.operators.graph import pagerank

        edges = [(i, (i + 1) % 5) for i in range(5)]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r["node"]: r["rank"] for r in pagerank(df).collect()}
        assert got == {i: 0.2 for i in range(5)}

    def test_matches_reference_iteration(self, spark):
        import random

        from ksj2gp_spark.operators.graph import pagerank

        rng = random.Random(11)
        edges = list(
            {(rng.randrange(20), rng.randrange(20)) for _ in range(60)}
        )
        edges = [(a, b) for a, b in edges if a != b]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r["node"]: r["rank"] for r in pagerank(df).collect()}
        want = self._brute(edges)
        assert set(got) == set(want)
        for v in want:
            assert abs(got[v] - want[v]) < 2e-6, (v, got[v], want[v])

    def test_empty_edge_list(self, spark):
        # no nodes, no mass: empty (node, rank) frame, not a
        # ZeroDivisionError
        from ksj2gp_spark.operators.graph import pagerank

        df = spark.createDataFrame([], "src long, dst long")
        out = pagerank(df)
        assert out.columns == ["node", "rank"]
        assert out.count() == 0

    def test_dangling_mass_conserved(self, spark):
        # 1->2->3, 3 dangling: total rank must stay 1.0
        from ksj2gp_spark.operators.graph import pagerank

        df = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
        rows = pagerank(df, iterations=12).collect()
        total = sum(r["rank"] for r in rows)
        assert abs(total - 1.0) < 1e-5
        want = self._brute([(1, 2), (2, 3)], n_iter=12)
        for r in rows:
            assert abs(r["rank"] - want[r["node"]]) < 2e-6


class TestBfsDistances:
    @staticmethod
    def _brute(edges, source):
        from collections import deque

        adj = {}
        for a, b in edges:
            if a == b:
                continue
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
        dist = {source: 0}
        q = deque([source])
        while q:
            u = q.popleft()
            for v in adj.get(u, ()):
                if v not in dist:
                    dist[v] = dist[u] + 1
                    q.append(v)
        return dist

    def test_path_and_unreachable(self, spark):
        from ksj2gp_spark.operators.graph import bfs_distances

        edges = [(1, 2), (2, 3), (3, 4), (10, 11)]  # 10,11 unreachable
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r["node"]: r["hop"] for r in bfs_distances(df).collect()}
        assert got == {1: 0, 2: 1, 3: 2, 4: 3}

    def test_empty_graph_without_source_raises(self, spark):
        import pytest

        from ksj2gp_spark.operators.graph import (
            bfs_distances,
            sssp_distances,
        )

        empty = spark.createDataFrame([], "src long, dst long")
        with pytest.raises(ValueError, match="no edges"):
            bfs_distances(empty)
        wempty = spark.createDataFrame(
            [], "src long, dst long, weight long"
        )
        with pytest.raises(ValueError, match="no edges"):
            sssp_distances(wempty)

    def test_explicit_source_and_cycle(self, spark):
        from ksj2gp_spark.operators.graph import bfs_distances

        edges = [(i, (i + 1) % 6) for i in range(6)]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {
            r["node"]: r["hop"] for r in bfs_distances(df, source=2).collect()
        }
        assert got == {2: 0, 1: 1, 3: 1, 0: 2, 4: 2, 5: 3}

    def test_random_graph_matches_bfs(self, spark):
        import random

        from ksj2gp_spark.operators.graph import bfs_distances

        rng = random.Random(3)
        edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(55)]
        edges = [(a, b) for a, b in edges if a != b]
        df = spark.createDataFrame(edges, "src long, dst long")
        src = min(min(e) for e in edges)
        got = {r["node"]: r["hop"] for r in bfs_distances(df).collect()}
        assert got == self._brute(edges, src)


class TestSsspDistances:
    """Weighted SSSP (operators/graph.py::sssp_distances)."""

    @staticmethod
    def _run(spark, edges, source=None):
        import pandas as pd
        from ksj2gp_spark.operators.graph import sssp_distances

        df = spark.createDataFrame(
            pd.DataFrame(edges, columns=["src", "dst", "weight"])
        )
        out = sssp_distances(df, source=source).toPandas()
        return {r.node: r.dist for r in out.itertuples()}

    @staticmethod
    def _dijkstra(edges, source):
        import heapq

        adj = {}
        for a, b, w in edges:
            adj.setdefault(a, []).append((b, w))
            adj.setdefault(b, []).append((a, w))
        dist = {source: 0}
        pq = [(0, source)]
        while pq:
            d, u = heapq.heappop(pq)
            if d > dist.get(u, float("inf")):
                continue
            for v, w in adj.get(u, []):
                nd = d + w
                if nd < dist.get(v, float("inf")):
                    dist[v] = nd
                    heapq.heappush(pq, (nd, v))
        return dist

    def test_cheap_detour_beats_direct_edge(self, spark):
        # a-d direct costs 10; a-b-c-d costs 3
        edges = [("a", "d", 10), ("a", "b", 1), ("b", "c", 1),
                 ("c", "d", 1), ("x", "y", 2)]
        got = self._run(spark, edges)
        assert got == {"a": 0, "b": 1, "c": 2, "d": 3}

    def test_random_graph_equals_dijkstra(self, spark):
        import random

        rng = random.Random(17)
        n = 120
        edges = []
        for i in range(n):
            for _ in range(3):
                j = rng.randrange(n)
                if i != j:
                    edges.append(
                        (f"v{i:03d}", f"v{j:03d}", rng.randint(1, 9))
                    )
        got = self._run(spark, edges)
        assert got == self._dijkstra(edges, "v000")

    def test_parallel_edges_keep_cheapest(self, spark):
        edges = [("a", "b", 5), ("b", "a", 2), ("a", "b", 7)]
        got = self._run(spark, edges)
        assert got == {"a": 0, "b": 2}

    def test_explicit_source_and_unreachable_absent(self, spark):
        edges = [("a", "b", 3), ("c", "d", 1)]
        got = self._run(spark, edges, source="c")
        assert got == {"c": 0, "d": 1}

    def test_rejects_nonpositive_weights(self, spark):
        import pandas as pd
        from ksj2gp_spark.operators.graph import sssp_distances

        df = spark.createDataFrame(
            pd.DataFrame(
                [("a", "b", 0)], columns=["src", "dst", "weight"]
            )
        )
        with pytest.raises(ValueError):
            sssp_distances(df)


class TestReliableCheckpoint:
    """checkpoint_dir= switches iterative ops from localCheckpoint
    (executor-memory blocks, lost with the executor) to reliable
    DataFrame.checkpoint() files — the executor-loss-safe mode."""

    def test_equivalence_on_shared_session(self, spark, tmp_path):
        # the reliable path must give byte-identical answers to the
        # default path for every iterative op
        from ksj2gp_spark.operators.graph import (
            bfs_distances,
            pagerank,
            sssp_distances,
        )

        ck = str(tmp_path / "ck")
        edges = [(i, i + 1) for i in range(50)] + [(10, 40), (60, 61)]
        df = spark.createDataFrame(edges, "src long, dst long")
        base = sorted(
            (r["node"], r["component"])
            for r in connected_components(df).collect()
        )
        reli = sorted(
            (r["node"], r["component"])
            for r in connected_components(df, checkpoint_dir=ck).collect()
        )
        assert base == reli
        assert any(tmp_path.joinpath("ck").rglob("*")), (
            "reliable checkpoint wrote no files"
        )
        pr_b = {r["node"]: r["rank"] for r in pagerank(df).collect()}
        pr_r = {
            r["node"]: r["rank"]
            for r in pagerank(df, checkpoint_dir=ck).collect()
        }
        assert pr_b == pr_r
        bf_b = {r["node"]: r["hop"] for r in bfs_distances(df).collect()}
        bf_r = {
            r["node"]: r["hop"]
            for r in bfs_distances(df, checkpoint_dir=ck).collect()
        }
        assert bf_b == bf_r
        wdf = spark.createDataFrame(
            [(a, b, 1 + (a % 3)) for a, b in edges],
            "src long, dst long, weight long",
        )
        ss_b = {r["node"]: r["dist"] for r in sssp_distances(wdf).collect()}
        ss_r = {
            r["node"]: r["dist"]
            for r in sssp_distances(wdf, checkpoint_dir=ck).collect()
        }
        assert ss_b == ss_r

    def test_survives_executor_kill(self, tmp_path):
        """Crash injection: run cc under local-cluster[2,2], SIGKILL
        one executor JVM mid-iteration; with reliable checkpointing
        the job must still complete with the exact planted census."""
        import json
        import os
        import subprocess
        import sys

        runner = r'''
import glob, json, os, signal, sys, threading, time
import pyspark
os.environ.setdefault("SPARK_HOME", os.path.dirname(pyspark.__file__))
from pyspark.sql import SparkSession, functions as F
from ksj2gp_spark.operators.graph import connected_components

ckdir = sys.argv[1]; n = int(sys.argv[2])
spark = (
    SparkSession.builder.master("local-cluster[2,2,2048]")
    .appName("crash-injection")
    .config("spark.executor.memory", "1536m")
    .config("spark.sql.shuffle.partitions", "16")
    .config("spark.default.parallelism", "16")
    .config("spark.ui.enabled", "false")
    # executor loss mid-stage surfaces as FetchFailed + task retries;
    # keep defaults (maxFailures=4) — the point is recovery, not tuning
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
app_id = spark.sparkContext.applicationId

state = {"killed_at": None, "victim": None}

def find_executor_pids():
    pids = []
    for p in glob.glob("/proc/[0-9]*/cmdline"):
        try:
            with open(p, "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode("utf-8", "replace")
        except OSError:
            continue
        if "CoarseGrainedExecutorBackend" in cmd and app_id in cmd:
            pids.append(int(p.split("/")[2]))
    return sorted(pids)

def killer():
    # wait until the FIRST round's reliable checkpoint exists on disk,
    # then kill one executor while later rounds are still running
    deadline = time.time() + 120
    while time.time() < deadline:
        if glob.glob(os.path.join(ckdir, "*", "rdd-*")):
            break
        time.sleep(0.2)
    pids = find_executor_pids()
    if pids:
        os.kill(pids[0], signal.SIGKILL)
        state["victim"] = pids[0]
        state["killed_at"] = time.time()

t = threading.Thread(target=killer, daemon=True)

chains = (
    spark.range(1, n)
    .filter(F.col("id") % 64 != 0)
    .select((F.col("id") - 1).alias("src"), F.col("id").alias("dst"))
)
star = (
    spark.range(1, 2_000)
    .select((F.col("id") * 64).alias("src"), F.lit(0).alias("dst"))
)
edges = chains.union(star)
t.start()
comp = connected_components(edges, max_iter=20, checkpoint_dir=ckdir)
census = (
    comp.groupBy("component").count()
    .groupBy("count").agg(F.count("*").alias("n_comps"))
    .collect()
)
done_at = time.time()
sizes = {int(r["count"]): int(r["n_comps"]) for r in census}
print(json.dumps({
    "census": sizes,
    "victim": state["victim"],
    "killed_before_done": bool(
        state["killed_at"] and state["killed_at"] < done_at
    ),
}))
spark.stop()
'''
        n = 400_000
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        out = subprocess.run(
            [sys.executable, "-c", runner, str(tmp_path / "ck"), str(n)],
            capture_output=True,
            text=True,
            timeout=600,
            # executor JVMs spawn their own Python workers, which must
            # import ksj2gp_spark themselves
            env={**os.environ, "PYTHONPATH": repo},
        )
        assert out.returncode == 0, out.stderr[-4000:]
        res = json.loads(out.stdout.strip().splitlines()[-1])
        # closed-form census: star spans ids up to 64*1999 < 400k, so
        # the star absorbs the 2000 chains whose heads are multiples
        # of 64 below 128k... compute expected from union-find instead
        # of a brittle closed form: the graph is deterministic.
        star_nodes = 1 + 1_999  # node 0 + star sources 64*k
        # chains: ids 1..n-1 linked except across multiples of 64 —
        # chain c covers [64c, 64c+63]; chains with 64c <= 64*1999
        # are absorbed by the star.
        absorbed = 2_000 * 64  # chains 0..1999 fully inside [0, 128k)
        free_chains = (n - absorbed) // 64
        expected = {"64": free_chains, str(absorbed): 1}  # JSON str keys
        assert res["census"] == expected, res
        assert res["victim"] is not None, "no executor was killed"
        assert res["killed_before_done"], (
            "executor kill landed after the job finished — enlarge n"
        )
