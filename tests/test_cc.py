"""Connected components: chains, cycles, stars, determinism.

Every case runs on both plans: the default bound (driver union-find for
these small graphs) and bound 0, which forces the large-star/small-star
loop; the two label sets must be identical."""

from hypothesis import given, settings
from hypothesis import strategies as st

from bern_spark.operators.cc import connected_components

BOUNDS = (200_000, 0)  # default driver path, then the star loop


def _labels(df, **kw):
    return {r.node: r.cluster_id for r in connected_components(df, **kw).collect()}


def _cc(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src string, dst string")
    driver, star = (_labels(df, driver_max_edges=b, **kw) for b in BOUNDS)
    assert driver == star
    return driver


def test_chain(spark):
    got = _cc(spark, [("b", "a"), ("c", "b"), ("d", "c")])
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a"}


def test_cycle_and_self_loop(spark):
    got = _cc(spark, [("a", "b"), ("b", "c"), ("c", "a"), ("z", "z")])
    assert got["a"] == got["b"] == got["c"] == "a"
    assert got["z"] == "z"


def test_two_components(spark):
    got = _cc(spark, [("a", "b"), ("x", "y")])
    assert got["a"] == got["b"] == "a"
    assert got["x"] == got["y"] == "x"


def test_star_and_long_path(spark):
    edges = [("hub", f"leaf{i}") for i in range(20)]
    edges += [(f"p{i}", f"p{i+1}") for i in range(12)]
    got = _cc(spark, edges)
    assert all(got[f"leaf{i}"] == "hub" for i in range(20))
    assert len({got[f"p{i}"] for i in range(13)}) == 1


def test_determinism(spark):
    edges = [("b", "a"), ("c", "b"), ("d", "a"), ("x", "y"), ("y", "z")]
    assert _cc(spark, edges) == _cc(spark, list(reversed(edges)))


def test_null_endpoints_and_empty_graph(spark):
    # least/greatest skip nulls: (a, null) registers only a, and a null
    # endpoint labels as null on both plans
    got = _cc(spark, [("a", None), (None, None), ("b", "a")])
    assert got == {"a": "a", "b": "a", None: None}
    assert _cc(spark, []) == {}


def test_small_graph_job_count(spark, job_group):
    """The driver path labels a small graph in one bounded collect: the
    call plus a collect of its labels runs one Spark job."""
    df = spark.createDataFrame([("b", "a"), ("c", "b"), ("x", "y")], "src string, dst string")
    with job_group("cc_small_graph_jobs") as n:
        got = _labels(df)
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}
    assert n[0] <= 1


# ids mixing ASCII case, Latin-1, high-BMP and supplementary characters:
# UTF-16 order puts U+1F600 below U+FF5E, code-point order (Python str and
# Spark's binary UTF-8 compare) puts it above
_IDS = st.text(alphabet="aBzé中～\U0001f600", min_size=1, max_size=3)


@given(
    st.lists(st.tuples(_IDS, _IDS), min_size=1, max_size=14),
    st.lists(st.integers(min_value=0, max_value=13), max_size=6),
)
@settings(max_examples=10, deadline=None)
def test_driver_and_star_labels_agree(spark, edges, extra):
    # duplicate and reversed copies of drawn edges, plus a self-loop
    edges = list(edges)
    for k in extra:
        s, d = edges[k % len(edges)]
        edges += [(s, d), (d, s)]
    edges.append((edges[0][0], edges[0][0]))
    got = _cc(spark, edges)
    # labels are the code-point minimum of each component
    for node, root in got.items():
        assert root <= node
