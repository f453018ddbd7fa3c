"""The session-scoped artifact store (fluent_bit_filter_math_spark/artifacts.py).

The first group runs without a JVM against a fake session that only
carries ``sparkContext.applicationId``; the rest pin the store's
behavior on the engine's real artifacts.
"""

from __future__ import annotations

import os
import stat
import subprocess
import sys
import tempfile
import textwrap
import threading
import time
from types import SimpleNamespace

from fluent_bit_filter_math_spark.artifacts import ArtifactStore
from fluent_bit_filter_math_spark.concurrency import overlap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _session(app_id: str = "app-1"):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def test_same_key_from_eight_threads_builds_once():
    store, spark = ArtifactStore(), _session()
    builds: dict[int, int] = {}
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for i in range(40):
            gate = threading.Barrier(8, timeout=10)

            def build(i=i):
                builds[i] = builds.get(i, 0) + 1
                time.sleep(0.002)
                return object()

            def call(gate=gate, build=build, i=i):
                gate.wait()
                return store.get_or_build(spark, "idx", f"sf{i}", build)

            got = overlap(*[call] * 8)
            assert builds[i] == 1
            assert all(g is got[0] for g in got)
    finally:
        sys.setswitchinterval(old)


def test_different_keys_build_in_parallel():
    store, spark = ArtifactStore(), _session()
    both = threading.Barrier(2, timeout=10)  # breaks if builds serialize

    def build():
        both.wait()
        return object()

    a, b = overlap(
        lambda: store.get_or_build(spark, "idx", "sf-a", build),
        lambda: store.get_or_build(spark, "idx", "sf-b", build),
    )
    assert a is not b


def test_key_is_the_absolute_sf_dir(tmp_path):
    store, spark = ArtifactStore(), _session()
    (tmp_path / "d").mkdir()
    for sub in ("x", "y"):
        (tmp_path / sub / "sf0.1").mkdir(parents=True)
    cwd = os.getcwd()
    os.chdir(tmp_path)
    try:
        first = store.get_or_build(spark, "idx", "sf", object)
        assert store.get_or_build(spark, "idx", "d/../sf", object) is first
        assert store.get_or_build(
            spark, "idx", str(tmp_path / "sf"), object) is first
        assert len(store.keys(spark)) == 1
        # the same basename under different parents stays two entries
        x = store.get_or_build(spark, "idx", "x/sf0.1", object)
        y = store.get_or_build(spark, "idx", "y/sf0.1", object)
        assert x is not y
        assert len(store.keys(spark)) == 3
    finally:
        os.chdir(cwd)


def test_release_frees_only_its_tag_and_dir():
    store, spark = ArtifactStore(), _session()
    paths = {}
    for tag in ("a", "b"):
        for sf in ("sf1", "sf2"):
            paths[tag, sf] = store.get_or_build(
                spark, tag, sf, lambda: store.new_dir("t"))
    other = _session("app-2")
    kept = store.get_or_build(other, "a", "sf1", lambda: store.new_dir("t"))

    store.release(spark, "a", "sf1")
    assert not os.path.isdir(paths["a", "sf1"])
    assert all(os.path.isdir(p) for k, p in paths.items() if k != ("a", "sf1"))
    assert {k[1:3] for k in store.keys(spark)} == {
        ("b", os.path.abspath("sf1")),
        ("a", os.path.abspath("sf2")),
        ("b", os.path.abspath("sf2")),
    }
    store.release(spark, "b")  # every sf_dir of one tag
    assert [k[1] for k in store.keys(spark)] == ["a"]
    store.release_all(spark)
    assert not store.keys(spark)
    assert not any(os.path.isdir(p) for p in paths.values())
    # another context's entries are untouched by all of the above
    assert os.path.isdir(kept)
    assert store.keys(other) == [("app-2", "a", os.path.abspath("sf1"))]
    store.close()


def test_vanished_path_is_a_miss():
    store, spark = ArtifactStore(), _session()
    builds = []

    def build():
        builds.append(1)
        return store.new_dir("t")

    first = store.get_or_build(spark, "one", "sf", build)
    assert store.get_or_build(spark, "one", "sf", build) == first
    os.rmdir(first)
    assert store.get_or_build(spark, "one", "sf", build) != first
    assert len(builds) == 2

    def build_pair():
        base = store.new_dir("t")
        os.mkdir(os.path.join(base, "x"))
        return os.path.join(base, "x"), base

    pair = store.get_or_build(spark, "pair", "sf", build_pair)
    assert store.get_or_build(spark, "pair", "sf", build_pair) is pair
    os.rmdir(pair[0])  # one element of the tuple vanished
    assert store.get_or_build(spark, "pair", "sf", build_pair) != pair
    assert not os.path.isdir(pair[1])  # the surviving part was freed
    store.close()


def test_new_dirs_live_under_one_private_root():
    store = ArtifactStore()
    a, b = store.new_dir("t"), store.new_dir("t")
    root = os.path.dirname(a)
    assert a != b and os.path.dirname(b) == root
    assert stat.S_IMODE(os.stat(root).st_mode) == 0o700
    store.close()
    assert not os.path.exists(root)


# ---------------------------------------------------------------------------
# the engine's artifacts
# ---------------------------------------------------------------------------
def _persistent_rdd_ids(spark) -> set[int]:
    it = spark.sparkContext._jsc.sc().persistentRdds().iterator()
    ids = set()
    while it.hasNext():
        ids.add(it.next()._1())
    return ids


def test_release_ppr_ranks_frees_checkpoint_blocks(spark, sf_dir):
    from fluent_bit_filter_math_spark.operators.graph import (
        _ppr_ranks,
        release_edge_index,
        release_ppr_ranks,
    )

    try:
        ranks = _ppr_ranks(spark, sf_dir)
        rid = ranks._jdf.queryExecution().analyzed().rdd().id()
        assert rid in _persistent_rdd_ids(spark)
        release_ppr_ranks(spark, sf_dir)
        assert rid not in _persistent_rdd_ids(spark)
    finally:
        release_ppr_ranks(spark, sf_dir)
        release_edge_index(spark, sf_dir)


def test_evolving_events_dir_is_private(spark, sf_dir):
    from fluent_bit_filter_math_spark.operators.storage import (
        _evolving_events_path,
        io_schema_evolution,
    )

    path = _evolving_events_path(spark, sf_dir)
    parent = os.path.dirname(path)
    assert stat.S_IMODE(os.stat(parent).st_mode) == 0o700
    assert parent != tempfile.gettempdir()
    assert not os.path.basename(path).startswith(f"fbm-evolve-{os.getpid()}-")
    assert io_schema_evolution(spark, sf_dir).count() > 0


_RESTART_SCRIPT = textwrap.dedent(
    """
    import os, sys

    from fluent_bit_filter_math_spark import artifacts
    from fluent_bit_filter_math_spark.functions import cosine
    from fluent_bit_filter_math_spark.operators.dedup import _shingle_index
    from fluent_bit_filter_math_spark.operators.storage import (
        _orc_events_path,
    )
    from fluent_bit_filter_math_spark.session import get_spark

    sf = sys.argv[1]

    def build_all(spark):
        return _shingle_index(spark, sf), cosine("a", "b"), _orc_events_path(
            spark, sf)

    spark = get_spark("artifacts-a", master="local[2]", shuffle_partitions=2)
    app1 = spark.sparkContext.applicationId
    idx1, col1, dir1 = build_all(spark)
    idx, col, d = build_all(spark)  # hits on one context
    assert idx is idx1 and col is col1 and d == dir1
    spark.stop()

    spark = get_spark("artifacts-b", master="local[2]", shuffle_partitions=2)
    assert spark.sparkContext.applicationId != app1
    assert artifacts.keys(spark) == []
    idx2, col2, dir2 = build_all(spark)
    assert idx2[0] is not idx1[0] and idx2[1] is not idx1[1]
    assert col2 is not col1
    assert dir2 != dir1 and os.listdir(dir2)
    assert {k[1] for k in artifacts.keys(spark)} == {
        "shingle_index", "vec_expr", "orc_events"}
    assert idx2[1].count() > 0
    df = spark.createDataFrame(
        [([3.0, 4.0], [3.0, 4.0])], "a array<double>, b array<double>")
    assert df.select(cosine("a", "b").alias("c")).first()["c"] == 1.0
    spark.stop()
    print("RESTART-OK")
    """
)


def test_artifacts_do_not_survive_a_context_restart(sf_dir):
    """A SparkContext restart in one process: every artifact is rebuilt
    on the new context — none of the old context's frames, py4j Columns
    or directories is served to it. In a subprocess so the session
    fixture's context survives."""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g")
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (REPO, env.get("PYTHONPATH")) if p)
    res = subprocess.run(
        [sys.executable, "-c", _RESTART_SCRIPT, sf_dir],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600,
    )
    assert res.returncode == 0, res.stderr[-4000:]
    assert "RESTART-OK" in res.stdout
