"""connected_components vs a brute-force union-find, on adversarial
graph shapes: a long chain (diameter >> O(log n) rounds — the case that
breaks plain label propagation), a star hub, random blobs, self-loops,
and duplicate/reversed edges."""

from __future__ import annotations

import random

from dax_ppdb_spark.ops import graph
from dax_ppdb_spark.ops.graph import connected_components


def _cc(monkeypatch, df, local_edges):
    """``connected_components`` with the driver-lane bound set to
    ``local_edges`` (0 forces the star rounds)."""
    monkeypatch.setattr(graph, "LOCAL_COMPONENT_EDGES", local_edges)
    return connected_components(df)


def _union_find(edges):
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a != b:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    comp_min: dict[int, int] = {}
    for n in parent:
        r = find(n)
        comp_min[r] = min(comp_min.get(r, n), n)
    return {n: comp_min[find(n)] for n in parent}


def test_connected_components_matches_union_find(spark):
    random.seed(7)
    edges = [(i, i + 1) for i in range(120)]          # chain: diameter 120
    edges += [(1000, 1000 + i) for i in range(1, 40)]  # star
    for base in (2000, 3000):                          # random blobs
        nodes = list(range(base, base + 60))
        edges += [
            (random.choice(nodes), random.choice(nodes)) for _ in range(90)
        ]
    edges += [(5, 5), (0, 1), (1, 0)]                  # loops + dups

    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert got == _union_find(edges)


def test_connected_components_deterministic_under_shuffle(spark):
    edges = [(3, 1), (1, 2), (9, 8), (8, 7), (2, 3)]
    a = connected_components(
        spark.createDataFrame(edges, "src long, dst long")
    ).collect()
    b = connected_components(
        spark.createDataFrame(list(reversed(edges)), "src long, dst long")
        .repartition(3)
    ).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    got = dict(map(tuple, a))
    assert got == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7, 9: 7}


def test_star_rounds_match_local_union_find(spark, monkeypatch):
    """Both execution strategies — the single-task union-find fast
    path (default for small graphs) and the large/small-star rounds
    (``LOCAL_COMPONENT_EDGES`` = 0 forces them) — must produce identical
    components on the same adversarial graph."""
    random.seed(11)
    edges = [(i, i + 1) for i in range(80)]
    edges += [(500, 500 + i) for i in range(1, 30)]
    nodes = list(range(900, 960))
    edges += [(random.choice(nodes), random.choice(nodes)) for _ in range(80)]

    df = spark.createDataFrame(edges, "src long, dst long")
    local = {r["node"]: r["component"] for r in connected_components(df).collect()}
    stars = {
        r["node"]: r["component"]
        for r in _cc(monkeypatch, df, 0).collect()
    }
    assert local == stars == _union_find(edges)


def test_connected_components_string_ids(spark, monkeypatch):
    """Both strategies must handle non-integer node ids (content-hash
    ids are common in dedup graphs); output schema mirrors the input
    type."""
    edges = [("h3", "h1"), ("h1", "h2"), ("zz", "zy")]
    df = spark.createDataFrame(edges, "src string, dst string")
    local = {r["node"]: r["component"] for r in connected_components(df).collect()}
    stars = {
        r["node"]: r["component"]
        for r in _cc(monkeypatch, df, 0).collect()
    }
    expect = {"h1": "h1", "h2": "h1", "h3": "h1", "zy": "zy", "zz": "zy"}
    assert local == stars == expect


def test_interleaved_cc_calls_leave_session_conf_untouched(spark, monkeypatch):
    """The star loop's narrowed shuffle sizing must live in a CLONED
    session: two interleaved calls with different thresholds (one
    narrowed star loop, one local) never mutate the caller's session
    conf, and both results stay joinable with caller-session frames."""
    from pyspark.sql import functions as F

    before = spark.conf.get("spark.sql.shuffle.partitions")
    e1 = spark.createDataFrame(
        [(i, i + 1) for i in range(50)], "src long, dst long"
    )
    e2 = spark.createDataFrame([(100, 101), (101, 102)], "src long, dst long")
    # interleave: build both lazy results before evaluating either
    r1 = _cc(monkeypatch, e1, 0)  # star path, narrowed
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    r2 = _cc(monkeypatch, e2, 1 << 40)  # local path
    got2 = {r["node"]: r["component"] for r in r2.collect()}
    got1 = {r["node"]: r["component"] for r in r1.collect()}
    assert got1 == {i: 0 for i in range(51)}
    assert got2 == {100: 100, 101: 100, 102: 100}
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    # result joins freely with caller-session DataFrames
    nodes = spark.createDataFrame([(i,) for i in range(51)], "node long")
    assert nodes.join(r1, "node").count() == 51
    # no state view leaked
    leftovers = [
        t.name
        for t in spark.catalog.listTables("global_temp")
        if t.name.startswith("cc_state_")
    ]
    assert leftovers == []


def test_probe_boundary_picks_the_same_lanes(spark, monkeypatch):
    """The limit(threshold+1) probe must reproduce the old count-based
    lane decision EXACTLY at the boundary: threshold == n_edges takes
    the driver lane, threshold == n_edges - 1 takes the star loop, and
    both label identically (duplicate input edges collapse before the
    probe, so they cannot tip the decision)."""
    edges = [(1, 2), (2, 3), (10, 11), (1, 2), (2, 1)]  # 3 distinct
    df = spark.createDataFrame(edges, "src long, dst long")
    expect = {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    at = {
        r.node: r.component
        for r in _cc(monkeypatch, df, 3).collect()
    }
    below = {
        r.node: r.component
        for r in _cc(monkeypatch, df, 2).collect()
    }
    assert at == below == expect


# --- property: both strategies equal a reference union-find on random
# graphs (round 12 — the driver-lane bound's re-pin to 1M makes path
# equivalence THE invariant: whichever side of the threshold a corpus
# lands on, the component map must be identical) -----------------------

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

edge = st.tuples(
    st.integers(min_value=0, max_value=24),
    st.integers(min_value=0, max_value=24),
)


def _ref_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a == b:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return {n: find(n) for n in parent if any(a != b for a, b in edges if n in (a, b))}


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(st.lists(edge, min_size=1, max_size=40))
def test_both_paths_match_reference_union_find(spark, monkeypatch, edges):
    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "src long, dst long"
    )
    expect = _ref_components(edges)
    got_local = {
        r.node: r.component
        for r in _cc(monkeypatch, df, 1 << 40).collect()
    }
    got_star = {
        r.node: r.component
        for r in _cc(monkeypatch, df, 0).collect()
    }
    assert got_local == expect
    assert got_star == expect


def test_driver_lane_handles_coerced_src_dst_types(spark):
    """greatest/least(src, dst) type-coerces when the two columns'
    dtypes differ (int vs long -> long); the driver lane's declared
    component-map schema must come from the COMPUTED frame, or
    createDataFrame mismatches the collected values."""
    df = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "src int, dst long"
    )
    got = {r.node: r.component for r in connected_components(df).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_driver_lane_is_a_local_relation_without_arrow_conf(spark):
    """The driver lane's component map is an Arrow local relation even
    in a session that leaves pandas/Arrow interchange off (Spark's
    default): a pandas or list-built relation would plan as a scan
    over a Python RDD and run Python-worker tasks."""
    key = "spark.sql.execution.arrow.pyspark.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        df = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "src long, dst long")
        cc = connected_components(df)
        plan = cc._jdf.queryExecution().executedPlan().toString()
        got = {r.node: r.component for r in cc.collect()}
    finally:
        spark.conf.set(key, old)
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
