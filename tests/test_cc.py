"""Connected-components tests: driver and distributed paths must agree."""

from collections import defaultdict

import numpy as np
import pytest
from pyspark.sql import functions as F

from sylph_spark.cc import component_labels, connected_components


@pytest.fixture(scope="module")
def graph(spark):
    rng = np.random.default_rng(5)
    nodes = [f"n{i:04d}" for i in range(400)]
    # chains + cliques + singletons
    edges = []
    for c in range(40):
        members = [f"n{i:04d}" for i in range(c * 8, c * 8 + 5)]
        for a, b in zip(members, members[1:]):  # chain of 5
            edges.append((a, b))
    for extra in range(30):  # random cross edges
        a = f"n{rng.integers(0, 320):04d}"
        b = f"n{rng.integers(0, 320):04d}"
        if a != b:
            edges.append((min(a, b), max(a, b)))
    ndf = spark.createDataFrame([(n,) for n in nodes], ["image_id"])
    edf = spark.createDataFrame(edges, ["id_a", "id_b"])
    return ndf, edf


def _labels(df):
    return {r["image_id"]: r["cluster_id"] for r in df.collect()}


def _component_rows(edges):
    """component_labels as plain sets: (pair rows, node rows)."""
    pairs, nodes = component_labels(edges)
    return (
        sorted(tuple(r) for r in pairs.collect()),
        {r["image_id"]: (r["pre_cluster"], r["csize"]) for r in nodes.collect()},
    )


def _distributed(monkeypatch, fn, *args):
    """Run ``fn`` with the driver fast path disabled."""
    with monkeypatch.context() as m:
        m.setenv("SYLPH_CC_DRIVER_THRESHOLD", "0")
        return fn(*args)


class TestCC:
    def test_driver_equals_distributed(self, graph, monkeypatch):
        ndf, edf = graph
        monkeypatch.delenv("SYLPH_CC_DRIVER_THRESHOLD", raising=False)
        assert _labels(connected_components(ndf, edf)) == _labels(
            _distributed(monkeypatch, connected_components, ndf, edf)
        )

    def test_filtered_edges_distributed(self, graph, monkeypatch):
        """Edges carrying an ``id_a < id_b`` filter constraint label the
        same on the distributed path as on the driver path (a self-union of
        such an input used to fail in Catalyst's constraint inference)."""
        _, edf = graph
        monkeypatch.delenv("SYLPH_CC_DRIVER_THRESHOLD", raising=False)
        filtered = edf.filter(F.col("id_a") < F.col("id_b"))
        assert _distributed(monkeypatch, _component_rows, filtered) == (
            _component_rows(filtered)
        )

    def test_endpoint_nodes_and_sizes_paths_agree(self, graph, monkeypatch):
        """component_labels labels exactly the edge endpoints; csize counts
        component members; every edge carries its endpoints' label — on
        both paths."""
        _, edf = graph
        monkeypatch.delenv("SYLPH_CC_DRIVER_THRESHOLD", raising=False)
        pairs, nodes = _component_rows(edf)
        assert (pairs, nodes) == _distributed(monkeypatch, _component_rows, edf)
        touched = {r["id_a"] for r in edf.collect()} | {
            r["id_b"] for r in edf.collect()
        }
        assert set(nodes) == touched
        comp = defaultdict(set)
        for n, (c, _) in nodes.items():
            comp[c].add(n)
        for n, (c, sz) in nodes.items():
            assert sz == len(comp[c])
        assert len(pairs) == edf.count()
        for a, b, c, sz in pairs:
            assert nodes[a] == nodes[b] == (c, sz)

    def test_isolated_nodes_size_one(self, spark):
        """An isolated node labels itself and is absent from the endpoint
        table (its component has one member); endpoints count theirs."""
        ndf = spark.createDataFrame([("a",), ("b",), ("c",)], ["image_id"])
        edf = spark.createDataFrame([("a", "b")], "id_a string, id_b string")
        assert _labels(connected_components(ndf, edf)) == {
            "a": "a",
            "b": "a",
            "c": "c",
        }
        assert _component_rows(edf)[1] == {"a": ("a", 2), "b": ("a", 2)}

    def test_labels_are_min_member(self, graph):
        ndf, edf = graph
        lbl = _labels(connected_components(ndf, edf))
        # group members by label; each label must equal min member
        comp = defaultdict(set)
        for n, c in lbl.items():
            comp[c].add(n)
        for c, members in comp.items():
            assert c == min(members)

    def test_singletons_self_labeled(self, graph):
        ndf, edf = graph
        lbl = _labels(connected_components(ndf, edf))
        touched = {r["id_a"] for r in edf.collect()} | {
            r["id_b"] for r in edf.collect()
        }
        for n in lbl:
            if n not in touched and lbl[n] != n:
                raise AssertionError(f"singleton {n} mislabeled {lbl[n]}")

    def test_empty_edges(self, spark):
        ndf = spark.createDataFrame([("a",), ("b",)], ["image_id"])
        edf = spark.createDataFrame([], "id_a string, id_b string")
        lbl = _labels(connected_components(ndf, edf))
        assert lbl == {"a": "a", "b": "b"}
        assert _component_rows(edf) == ([], {})
