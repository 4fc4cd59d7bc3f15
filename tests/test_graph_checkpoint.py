"""The lineage-cut policy (``session.cut``): every cut in the engine is
a reliable ``checkpoint`` when the SparkContext has a checkpoint dir and
a ``localCheckpoint`` otherwise. Cuts are semantics-free, so output must
not depend on the mode; these tests pin that for the iterative graph
operators and for two non-graph sites, check that the reliable mode
really writes to the dir, and guard that no second spelling of a cut
creeps back into the package."""

from __future__ import annotations

import inspect
from contextlib import contextmanager
from pathlib import Path

import pytest

import calp_cva_tracking_pipeline_spark as pkg
from calp_cva_tracking_pipeline_spark import session

GRAPH_OPS = [
    "pagerank",
    "hits",
    "hits_weighted",
    "kcore",
    "label_propagation",
    "bfs_layers",
    "personalized_pagerank",
]


@contextmanager
def _checkpoint_dir(spark, path: str | None):
    """Set (``path``) or clear (``None``) the context's checkpoint dir,
    restoring the previous value on exit — the dir is context-wide, so a
    test that leaves it set would silently run every later test in the
    reliable mode."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    set_dir = getattr(jsc, "checkpointDir_$eq")
    saved = jsc.getCheckpointDir()
    if path is None:
        set_dir(getattr(getattr(sc._jvm, "scala.None$"), "MODULE$"))
    else:
        sc.setCheckpointDir(path)
    try:
        yield
    finally:
        set_dir(saved)


@pytest.fixture
def reliable_dir(spark, tmp_path):
    d = tmp_path / "ckpt"
    with _checkpoint_dir(spark, str(d)):
        yield d


def _edges(spark):
    return spark.createDataFrame(
        [(i, (i * 2 + 1) % 9) for i in range(9)] + [(1, 2), (2, 3)],
        "src long, dst long",
    )


def _graph_results(spark):
    from calp_cva_tracking_pipeline_spark.operators import graph as G

    e = _edges(spark)
    seeds = spark.createDataFrame([(1,)], "node long")
    out = {}
    for op in GRAPH_OPS:
        fn = getattr(G, op)
        seeded = op in ("bfs_layers", "personalized_pagerank")
        out[op] = sorted((fn(e, seeds) if seeded else fn(e)).collect())
    return out


def _non_graph_results(spark):
    import datetime as dt

    from calp_cva_tracking_pipeline_spark.operators.joins import (
        anti_waterfall_union,
    )
    from calp_cva_tracking_pipeline_spark.operators.temporal import (
        ewma_smooth_chunked,
    )

    s1 = spark.createDataFrame([(1, "a1"), (2, "a2")], "k long, v string")
    s2 = spark.createDataFrame([(2, "b2"), (3, "b3")], "k long, v string")
    s3 = spark.createDataFrame([(3, "c3"), (4, "c4")], "k long, v string")
    t0 = dt.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [
            (i % 3, i, t0 + dt.timedelta(days=i * 0.7), float(i * 7 % 11))
            for i in range(20)
        ],
        "user_id bigint, event_id bigint, ts timestamp, value double",
    )
    return {
        "anti_waterfall_union": sorted(
            anti_waterfall_union([s1, s2, s3], ["k"]).collect()
        ),
        "ewma_smooth_chunked": sorted(
            ewma_smooth_chunked(
                ev, ["user_id"], "ts", "value", "event_id", epoch="3 days"
            ).collect()
        ),
    }


def test_reliable_path_matches_local(spark, reliable_dir):
    """Every iterative graph operator returns IDENTICAL rows with and
    without a checkpoint dir, and the reliable run writes RDD
    checkpoints into the dir."""
    with _checkpoint_dir(spark, None):
        local = _graph_results(spark)
    reliable = _graph_results(spark)
    for op in GRAPH_OPS:
        assert reliable[op] == local[op], f"{op}: reliable != local"
    assert list(reliable_dir.rglob("rdd-*")), "no reliable checkpoint written"


def test_non_graph_cuts_follow_checkpoint_dir(spark, reliable_dir):
    """The policy is engine-wide: a lazy cut (the waterfall's key sets)
    and an eager cut in a loop (the chunked EWMA's carried seed) also
    go reliable with a dir set, with unchanged output."""
    with _checkpoint_dir(spark, None):
        local = _non_graph_results(spark)
    reliable = _non_graph_results(spark)
    assert reliable == local
    assert local["anti_waterfall_union"]
    assert local["ewma_smooth_chunked"]
    assert list(reliable_dir.rglob("rdd-*")), "no reliable checkpoint written"


def test_cut_is_the_only_spelling():
    """``.localCheckpoint(`` and ``.checkpoint(`` each appear exactly
    once in the package sources, inside ``session.cut``, so no site can
    opt out of the checkpoint-dir policy."""
    pkg_dir = Path(pkg.__file__).resolve().parent
    cut_src = inspect.getsource(session.cut)
    for spelling in (".localCheckpoint(", ".checkpoint("):
        hits = {
            str(py.relative_to(pkg_dir)): n
            for py in sorted(pkg_dir.rglob("*.py"))
            if (n := py.read_text(encoding="utf-8").count(spelling))
        }
        assert hits == {"session.py": 1}, (spelling, hits)
        assert cut_src.count(spelling) == 1, spelling
