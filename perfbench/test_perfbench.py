"""The benchmark's own tests: ``python3 -m pytest perfbench -q``."""

from __future__ import annotations

import filecmp
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import bench_json  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
from collect import Tracer  # noqa: E402


def test_same_seed_same_inputs(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    gen.write_tables(a, 5, 0.002)
    gen.write_tables(b, 5, 0.002)
    gen.write_tables(c, 6, 0.002)
    names = sorted(os.listdir(a))
    assert len(names) == len(check.TABLES)
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert match == names and not mismatch and not errors
    assert filecmp.cmpfiles(a, c, names, shallow=False)[1]
    one = gen.stream_file(5, 3, 500, 0, 1e5)
    assert one.equals(gen.stream_file(5, 3, 500, 0, 1e5))
    assert not one.equals(gen.stream_file(6, 3, 500, 0, 1e5))


def test_operands_do_not_depend_on_props_formatting():
    full = gen.events(9, 100, 3000, part=4)
    bare = gen.events(9, 100, 3000, part=4, props=False)
    for key in ("value", "k", "rate", "event_id"):
        np.testing.assert_array_equal(full[key], bare[key])


def test_events_cover_every_input_shape():
    ev = gen.events(1, 0, 20_000)
    props = ev["props"].to_pylist()
    assert sum(p is None for p in props) > 0
    assert sum(p is not None and not p.endswith("}") for p in props) > 0
    assert any(p and '"n/a"' in p for p in props)
    assert any(p and '"K"' in p for p in props)
    assert any(p and '"RATE"' in p for p in props)
    assert (ev["k"] == 0).sum() > 0 and ev["late"].sum() > 0
    counts = np.bincount(ev["user_id"], minlength=gen.USER_KEYS)
    assert counts.max() > 20 * np.median(counts)  # Zipf skew


def test_metric_names_and_counts():
    spec = bench_json.load()
    assert bench_json.problems(spec) == []
    assert len(spec["workloads"]) <= 8
    assert len(spec["end_to_end"]) <= 16
    assert len(spec["per_layer"]) <= 128
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert bench_json.NAME.match(m["name"]), m["name"]


def test_self_time_subtracts_children():
    t = Tracer()
    t.add("builder", "q", 0.0, 10.0)
    t.add("microbatch", "b", 1.0, 5.0)
    t.add("phase", "addBatch", 2.0, 4.0)
    t.add("job", "j1", 2.5, 3.5)
    t.add("job", "j2", 6.0, 7.0)
    t.add("job", "j3", 6.5, 8.0)  # overlaps j2
    got = t.self_times()
    assert got["builder"] == pytest.approx(10 - 4 - 2)
    assert got["microbatch"] == pytest.approx(2)
    assert got["phase"] == pytest.approx(1)
    assert got["job"] == pytest.approx(1 + 1 + 1.5)


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "1").getOrCreate())
    yield s
    s.stop()


def test_reference_fold_matches_compile_spec(spark):
    from fluent_bit_filter_math_spark.pipeline import apply_specs
    from fluent_bit_filter_math_spark.spec import MathSpec

    ev = gen.events(3, 0, 400)
    table = gen.event_table(ev, np.zeros(400, dtype=np.int64))
    # Hand-written edge cases: DIV by 0, duplicate-free mixed case,
    # numeric strings, negatives, truncation toward zero.
    edge = [
        (-7.5, '{"K": 0, "rate": -2.5}', 0.0, -2.5),
        (2.9, '{"k": 3, "RATE": "n/a"}', 3.0, 0.0),
        (-2.9, '{"Rate": 1.25}', 0.0, 1.25),
        (1.0, '{"k": true, "rate": null}', 0.0, 0.0),
        (4.0, '{"k": 2, "rate": 1', 0.0, 0.0),
        (4.0, None, 0.0, 0.0),
        (0.0, '{"k": -4, "rate": 0}', -4.0, 0.0),
    ]
    rows = [(r["event_id"], r["value"], r["props"])
            for r in table.select(["event_id", "value", "props"]).to_pylist()]
    rows += [(10_000 + i, v, p) for i, (v, p, _, _) in enumerate(edge)]
    value = np.concatenate([ev["value"], [e[0] for e in edge]])
    k = np.concatenate([ev["k"], [e[2] for e in edge]])
    rate = np.concatenate([ev["rate"], [e[3] for e in edge]])
    df = spark.createDataFrame(rows, "event_id long, value double, props string")
    specs = [MathSpec.build(op, list(args), out, cast_to_int=to_int)
             for op, args, out, to_int in check.FOLD_SPECS]
    got = apply_specs(df, specs).orderBy("event_id").toPandas()
    want = check.reference_fold(value, k, rate)
    for _, _, out, _ in check.FOLD_SPECS:
        g = got[out].to_numpy(dtype=np.float64, na_value=np.nan)
        np.testing.assert_array_equal(g, want[out], err_msg=out)
    assert np.isnan(want["f_div"]).sum() > 0
