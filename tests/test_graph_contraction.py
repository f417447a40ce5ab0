"""Connected components by local contraction (`operators/graph.py`):
the per-partition union-find kernel on hand-built Arrow batches, and the
whole operator on seeded random graphs in both partition layouts —
coalesced (one partition, zero rounds) and coalescing off (pieces of a
component spread over partitions, re-joined by min-label rounds over the
contracted graph). Both are checked against a pure-Python union-find."""

from __future__ import annotations

import random
from contextlib import contextmanager

import pyarrow as pa

from usgs_lidar_spark.operators.graph import (
    _union_find_kernel,
    connected_components,
)

I64_MIN = -(2**63)
I64_MAX = 2**63 - 1


def _reference(pairs) -> dict:
    """Min id of every non-NULL endpoint's component (dict-based
    union-find with path halving)."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in pairs:
        if u is None or v is None:
            continue
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {x: find(x) for x in parent}


def _run_kernel(batches) -> dict:
    out: dict = {}
    for b in _union_find_kernel(iter(batches)):
        assert b.schema.names == ["id", "label"]
        ids = b.column(0).to_pylist()
        assert len(set(ids)) == len(ids), "one row per touched id"
        out.update(zip(ids, b.column(1).to_pylist()))
    return out


def _batch(pairs, typ=pa.int64()) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [
            pa.array([p[0] for p in pairs], type=typ),
            pa.array([p[1] for p in pairs], type=typ),
        ],
        names=["u", "v"],
    )


def _random_pairs(rng: random.Random, n_ids: int, n_edges: int, lo: int, hi: int):
    ids = [rng.randrange(lo, hi) for _ in range(n_ids)]
    return [(rng.choice(ids), rng.choice(ids)) for _ in range(n_edges)]


def test_union_find_kernel_hand_built_batches():
    """Several batches per partition, duplicates, both orientations,
    self-loops and ids at the ends of the int64 range."""
    first = [(5, 3), (3, 5), (3, 5), (9, 9), (I64_MAX, 7)]
    second = [(7, I64_MIN + 1), (I64_MIN, I64_MIN), (11, 12), (12, 11)]
    third = [(I64_MAX - 1, I64_MAX)]
    batches = [_batch(first), _batch([]), _batch(second), _batch(third)]
    got = _run_kernel(batches)
    assert got == _reference(first + second + third)
    assert got[I64_MAX] == I64_MIN + 1 and got[I64_MAX - 1] == I64_MIN + 1
    assert got[I64_MIN] == I64_MIN and got[9] == 9
    assert got[5] == 3 and got[12] == 11


def test_union_find_kernel_empty_partition():
    assert _run_kernel([]) == {}
    assert _run_kernel([_batch([]), _batch([])]) == {}


def test_union_find_kernel_keeps_int32_type():
    (out,) = _union_find_kernel(iter([_batch([(2, 1), (3, 2)], pa.int32())]))
    assert out.schema.field("id").type == pa.int32()
    assert out.schema.field("label").type == pa.int32()
    assert out.column(1).to_pylist() == [1, 1, 1]


def test_union_find_kernel_random_graphs_match_reference():
    """Seeded random multigraphs, split into random batch sizes, plus
    paths over shuffled ids (the many-pass shape for hooking)."""
    rng = random.Random(20261017)
    for trial in range(40):
        lo, hi = (I64_MIN, I64_MAX + 1) if trial % 2 else (0, 400)
        pairs = _random_pairs(rng, rng.randint(1, 300), rng.randint(1, 600), lo, hi)
        cuts = sorted(rng.sample(range(len(pairs) + 1), 3))
        pieces = [pairs[: cuts[0]], pairs[cuts[0] : cuts[1]], pairs[cuts[1] :]]
        assert _run_kernel([_batch(p) for p in pieces]) == _reference(pairs)
    for n in (2, 17, 500):
        ids = rng.sample(range(-10_000, 10_000), n)
        pairs = [(ids[i], ids[i + 1]) for i in range(n - 1)]
        rng.shuffle(pairs)
        got = _run_kernel([_batch(pairs)])
        assert set(got.values()) == {min(ids)} and len(got) == n


@contextmanager
def _coalescing_off(spark):
    """Keep a rebalanced edge list in spark.sql.shuffle.partitions
    pieces, so components straddle partitions and the contracted graph
    needs min-label rounds."""
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _mixed_graph(seed: int, max_path: int):
    """Stars not centred on their min id, paths over shuffled ids, a
    random multigraph blob and singleton vertices, on disjoint id
    ranges so every component is known."""
    rng = random.Random(seed)
    edges: list = []
    base = 0
    for _ in range(6):  # stars whose centre is NOT the min id
        ids = rng.sample(range(base, base + 50), rng.randint(3, 12))
        centre = max(ids)
        edges += [
            (centre, x) if rng.random() < 0.5 else (x, centre)
            for x in ids
            if x != centre
        ]
        base += 50
    for _ in range(4):  # paths over shuffled ids
        ids = rng.sample(range(base, base + 100), rng.randint(3, max_path))
        edges += [(ids[i], ids[i + 1]) for i in range(len(ids) - 1)]
        base += 100
    edges += _random_pairs(rng, 60, 90, base, base + 200)
    base += 200
    vertices = sorted({x for e in edges for x in e} | set(range(base, base + 10)))
    rng.shuffle(edges)
    return vertices, edges


def _expected_labels(vertices, edges) -> dict:
    ref = _reference(edges)
    return {v: ref.get(v, v) for v in vertices}


def _cc(spark, vertices, edges, **kw) -> dict:
    v = spark.createDataFrame([(x,) for x in vertices], "id long")
    e = spark.createDataFrame(edges, "src long, dst long")
    rows = connected_components(v, e, **kw).collect()
    out = {r["id"]: r["cluster_id"] for r in rows}
    assert len(out) == len(rows) == len(vertices)
    return out


def test_contraction_random_graph_coalesced_layout(spark):
    """Default layout: AQE coalesces the small pair graph into one
    partition, where the kernel resolves every component — no round."""
    vertices, edges = _mixed_graph(1, max_path=40)
    stats: dict = {}
    got = _cc(spark, vertices, edges, stats=stats)
    assert got == _expected_labels(vertices, edges)
    assert stats == {"rounds": 0, "converged": True, "algorithm": "minlabel"}


def test_contraction_random_graph_spread_layout(spark):
    """Coalescing off: the rebalance leaves the edges in
    spark.sql.shuffle.partitions pieces, components straddle pieces, and
    the min-label rounds over the contracted graph re-join them."""
    vertices, edges = _mixed_graph(4, max_path=4)
    stats: dict = {}
    with _coalescing_off(spark):
        got = _cc(spark, vertices, edges, stats=stats)
    assert got == _expected_labels(vertices, edges)
    assert stats["converged"] and stats["rounds"] >= 1


def _cc_rows(spark, vertices, edges, vtype="long", etypes=("long", "long")):
    v = spark.createDataFrame([(x,) for x in vertices], f"id {vtype}")
    e = spark.createDataFrame(edges, f"src {etypes[0]}, dst {etypes[1]}")
    out = connected_components(v, e)
    types = tuple(f.dataType.simpleString() for f in out.schema.fields)
    rows = sorted(
        ((r["id"], r["cluster_id"]) for r in out.collect()),
        key=lambda t: (t[0] is None, t[0] or 0),
    )
    return types, rows


def test_connected_components_null_endpoints_pinned(spark):
    """An edge with a NULL endpoint links nothing; a NULL vertex keeps
    its one (NULL, NULL) row."""
    got = _cc_rows(
        spark,
        [1, 2, 3, 4, None],
        [(1, 2), (3, None), (None, 4), (None, None)],
    )
    assert got == (
        ("bigint", "bigint"),
        [(1, 1), (2, 1), (3, 3), (4, 4), (None, None)],
    )


def test_connected_components_foreign_endpoints_pinned(spark):
    """An edge endpoint missing from ``vertices`` links its neighbours
    and can be their min label, but gets no output row: the output has
    exactly one row per vertex."""
    got = _cc_rows(
        spark,
        [3, 9, 4, 30],
        [(3, 1), (1, 9), (30, 7), (7, 8), (20, 21)],
    )
    assert got == (("bigint", "bigint"), [(3, 1), (4, 4), (9, 1), (30, 7)])


def test_connected_components_int_long_ids_pinned(spark):
    """``id`` keeps the vertex column's type; ``cluster_id`` is the
    wider of the vertex and edge types."""
    assert _cc_rows(spark, [1, 2, 3], [(1, 2)], "int", ("int", "int")) == (
        ("int", "int"), [(1, 1), (2, 1), (3, 3)],
    )
    assert _cc_rows(spark, [1, 2, 3], [(1, 2)], "long", ("int", "int")) == (
        ("bigint", "bigint"), [(1, 1), (2, 1), (3, 3)],
    )


def test_connected_components_long_edges_int_vertices_pinned(spark):
    """Long edges widen ``cluster_id`` over int vertex ids, and mixed
    int/long edge columns meet at long."""
    assert _cc_rows(spark, [1, 2, 3], [(1, 2)], "int", ("long", "long")) == (
        ("int", "bigint"), [(1, 1), (2, 1), (3, 3)],
    )
    assert _cc_rows(
        spark, [1, 2, 3], [(1, 2), (3, 2)], "long", ("int", "long")
    ) == (("bigint", "bigint"), [(1, 1), (2, 1), (3, 1)])
