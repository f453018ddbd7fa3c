"""Round-10 regression tests for the r9 ADVICE items.

Each test pins a divergence class the sf fixtures cannot reach (all
fixture values are positive and small), so the oracle gate alone would
never catch a relapse:

* negative accumulators in the recursive EWMA fold (DuckDB ``//``
  truncates toward zero while ``>>`` floors — the oracle must use the
  shift);
* int64 wrap of the z-band squared deviation (Spark wraps silently in
  non-ANSI mode; the flag decision must be computed wider);
* split-builder scratch tags shared across sf_dirs (a second sf_dir's
  cache miss must not delete the first sf_dir's cached split);
* zero baseline rows in the perf regression guard.
"""

from __future__ import annotations

import glob
import json
import os

import pandas as pd
import pytest


def _write_events(dirpath: str, rows: list[tuple[int, int, float]]) -> None:
    """Write a minimal events.parquet: (event_id, user_id, value) with
    a monotone µs timestamp per event_id and the full fixture schema."""
    pdf = pd.DataFrame(
        {
            "event_id": [r[0] for r in rows],
            "ts": pd.to_datetime(
                [1704067200_000_000 + 60_000_000 * r[0] for r in rows],
                unit="us",
            ),
            "user_id": [r[1] for r in rows],
            "event_type": ["synthetic"] * len(rows),
            "value": [r[2] for r in rows],
            "props": ["{}"] * len(rows),
        }
    )
    pdf.to_parquet(os.path.join(dirpath, "events.parquet"), index=False)


def _oracle(name: str) -> str:
    from fluent_bit_filter_math_spark.registry import all_oracles

    return all_oracles()[name]


def _duck(sql: str, sf_dir: str) -> pd.DataFrame:
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"'{os.path.join(sf_dir, 'events.parquet')}'"
    )
    return con.execute(sql).fetchdf()


def test_ewma_recursive_negative_values_oracle_parity(spark, tmp_path):
    """r9 ADVICE (medium): the old oracle folded with '// 4', which
    truncates toward zero in DuckDB (-7 // 4 = -1) while Spark's
    shiftright floors (-7 >> 2 = -2). Any negative accumulator
    diverged. Fixture: values chosen so the accumulator crosses zero
    repeatedly; require bitwise Spark == DuckDB == pure-Python fold."""
    from fluent_bit_filter_math_spark.operators.temporal import (
        ts_ewma_recursive,
    )

    d = str(tmp_path)
    vals = [-100.37, 250.11, -500.99, 3.01, -0.49, -12.00, 7.77]
    rows = [(i, 1, v) for i, v in enumerate(vals)]
    rows += [(100 + i, 2, -v) for i, v in enumerate(vals)]
    _write_events(d, rows)

    cents = [int(__import__("math").floor(v * 100.0 + 0.5)) for v in vals]
    assert any(c < 0 for c in cents)

    def fold(cs: list[int]) -> int:
        acc = cs[0] * 1_000_000
        for c in cs[1:]:
            acc = (3 * acc + c * 1_000_000) >> 2
        return acc

    expect = {1: fold(cents), 2: fold([-c for c in cents])}
    # the whole point: a truncating fold gives a DIFFERENT answer here
    def fold_trunc(cs: list[int]) -> int:
        acc = cs[0] * 1_000_000
        for c in cs[1:]:
            a = 3 * acc + c * 1_000_000
            acc = a // 4 if a >= 0 else -((-a) // 4)
        return acc

    assert fold_trunc(cents) != expect[1]

    got = {
        r["user_id"]: (r["n_obs"], r["last_cents"], r["ewma_ucents"])
        for r in ts_ewma_recursive(spark, d).collect()
    }
    assert got == {
        1: (len(vals), cents[-1], expect[1]),
        2: (len(vals), -cents[-1], expect[2]),
    }
    duck = _duck(_oracle("ts_ewma_recursive"), d)
    for _, r in duck.iterrows():
        assert got[r["user_id"]] == (
            int(r["n_obs"]),
            int(r["last_cents"]),
            int(r["ewma_ucents"]),
        )


def test_zband_flag_decision_survives_int64_wrap(spark, tmp_path):
    """r9 ADVICE (low): (n·x − S1)² leaves int64 once |dev| > ~3.04e9
    (cents ~1.5e8 at n=20). Fixture: 19 zero-value rows then a single
    $2M spike — dev = 19·2e8 = 3.8e9, dev² ≈ 1.44e19 wraps NEGATIVE in
    int64, so the pre-fix filter silently dropped a true outlier. The
    decimal(38,0) comparison must flag it, bit-identically to DuckDB
    (whose window SUM promotes to HUGEINT)."""
    from fluent_bit_filter_math_spark.operators.temporal import (
        ts_zband_outliers,
    )

    d = str(tmp_path)
    rows = [(i, 7, 0.0) for i in range(19)] + [(19, 7, 2_000_000.00)]
    _write_events(d, rows)

    dev = 19 * 200_000_000  # n=19 zero-rows in frame, s1=0
    assert dev * dev > 2**63  # the wrap this test exists for

    got = ts_zband_outliers(spark, d).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["event_id"], r["n_window"], r["dev_num"], r["band_num"]) == (
        19,
        19,
        dev,
        0,
    )
    duck = _duck(_oracle("ts_zband_outliers"), d)
    assert len(duck) == 1
    assert int(duck.iloc[0]["event_id"]) == 19
    assert int(duck.iloc[0]["dev_num"]) == dev


def test_split_scratch_tags_keyed_by_sf_dir(spark, sf_dir, tmp_path):
    """r9 ADVICE (low): the TWS split builders shared one scratch tag
    across sf_dirs, so a second sf_dir's cache miss rotated the
    generation and deleted the first sf_dir's cached split (the glob
    guard rebuilt it — correctness held, memoization didn't). With the
    splits keyed by sf_dir in the artifact store, alternating sf_dirs
    must keep BOTH splits alive and return cached paths without
    rebuilding."""
    from fluent_bit_filter_math_spark.streaming.stateful import (
        _kmv_split_src,
    )

    alt = tmp_path / "alt-sf"
    alt.mkdir()
    os.symlink(
        os.path.join(sf_dir, "events.parquet"), alt / "events.parquet"
    )

    p1 = _kmv_split_src(spark, sf_dir)
    files1 = sorted(glob.glob(p1 + "/part-*.parquet"))
    assert len(files1) == 2
    p2 = _kmv_split_src(spark, str(alt))
    assert p2 != p1
    # the first sf_dir's split must have survived the second build
    assert sorted(glob.glob(p1 + "/part-*.parquet")) == files1
    # and a third call must be a pure cache hit on the same path
    assert _kmv_split_src(spark, sf_dir) == p1
    assert sorted(glob.glob(p1 + "/part-*.parquet")) == files1


def test_regression_guard_zero_baseline(tmp_path, monkeypatch):
    """r9 ADVICE (low): a 0.00 baseline row used to ZeroDivisionError
    the whole gate; it must be skipped (reported) while real movers
    still trip the exit code."""
    import sys

    sys.path.insert(0, "/root/repo/tools")
    try:
        import regression_guard
    finally:
        sys.path.pop(0)

    monkeypatch.chdir(tmp_path)
    json.dump(
        {"warm": {"fast_q": 1.0, "zero_q": 1.0, "ok_q": 0.5}},
        open("BENCH_DETAIL.json", "w"),
    )
    with open("BASELINE.md", "w") as f:
        f.write("| fast_q | 0.40 | 0.50 | 3 |\n")
        f.write("| zero_q | 0.00 | 0.00 | 3 |\n")
        f.write("| ok_q | 0.45 | 0.50 | 3 |\n")
    rc = regression_guard.main([])  # must not raise
    assert rc == 1  # fast_q is a 2.5x mover
    json.dump(
        {"warm": {"zero_q": 1.0, "ok_q": 0.5}},
        open("BENCH_DETAIL.json", "w"),
    )
    assert regression_guard.main([]) == 0


def test_ordered_fold_hot_key_bound(spark, tmp_path):
    """r9 VERDICT watch item: ts_ewma_recursive / ts_holt_linear_fold
    materialize a full per-key history via array_sort(collect_list).
    Pin the hot-key behavior: ONE user holding 200k rows (2,800x the
    fixture's ~70-row norm, the sf0.1 corpus volume in a single key)
    must still fold exactly (python-twin equality) in one task without
    spilling or erroring. The documented bound (SCALING.md r10): the
    per-key array is ~24 B/row heap — a 10M-row key is ~240 MB and the
    practical ceiling; beyond that the streaming stateful path owns
    the recursion."""
    import math

    from fluent_bit_filter_math_spark.operators.temporal import (
        ts_ewma_recursive,
        ts_holt_linear_fold,
    )

    n = 200_000
    d = str(tmp_path)
    spark.range(n).selectExpr(
        "id AS event_id",
        "timestamp_micros(1704067200000000 + id * 1000000) AS ts",
        "CAST(7 AS BIGINT) AS user_id",
        "'synthetic' AS event_type",
        "CAST((id * 37) % 1000 - 500 AS DOUBLE) / 100.0 AS value",
        "'{}' AS props",
    ).coalesce(4).write.parquet(f"{d}/events.parquet")

    acc = lvl = tr = None
    for i in range(n):
        c = int(math.floor(((i * 37) % 1000 - 500) / 100.0 * 100.0 + 0.5))
        x = c * 1_000_000
        if acc is None:
            acc, lvl, tr = x, x, 0
        else:
            acc = (3 * acc + x) >> 2
            new_l = (x + 3 * (lvl + tr)) >> 2
            tr = ((new_l - lvl) + 3 * tr) >> 2
            lvl = new_l

    [r] = ts_ewma_recursive(spark, d).collect()
    assert (r["user_id"], r["n_obs"], r["ewma_ucents"]) == (7, n, acc)
    [h] = ts_holt_linear_fold(spark, d).collect()
    assert (h["n_obs"], h["level_ucents"], h["trend_ucents"]) == (
        n,
        lvl,
        tr,
    )


def test_stream_pysink_commit_retry_idempotent(spark, tmp_path):
    """The streaming jsonsink's per-epoch manifest must be atomic and
    idempotent: a batch REPLAYED with the same batchId (crash between
    sink commit and checkpoint commit) supersedes its own manifest, and
    manifest-only read-back ignores both the superseded shards and any
    orphan part files from failed tasks."""
    from fluent_bit_filter_math_spark.sources.json_sink import (
        JsonLinesStreamWriter,
        _ShardCommit,
        read_manifested,
    )

    d = str(tmp_path / "sink")
    os.makedirs(d)
    w = JsonLinesStreamWriter({"path": d})

    def shard(name: str, rows: list[dict]) -> _ShardCommit:
        p = os.path.join(d, name)
        with open(p, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        return _ShardCommit(p, len(rows))

    # epoch 0: first attempt commits 2 shards
    a = shard("part-a.json", [{"v": 1}, {"v": 2}])
    b = shard("part-b.json", [{"v": 3}])
    w.commit([a, b], 0)
    # epoch 0 REPLAY after a simulated crash: new shards, same batchId
    c = shard("part-c.json", [{"v": 1}, {"v": 2}])
    e = shard("part-d.json", [{"v": 3}])
    w.commit([c, e], 0)
    # epoch 1 commits one more shard; one task failed (None message)
    f1 = shard("part-e.json", [{"v": 4}])
    w.commit([f1, None], 1)
    # an orphan from a speculative task that never reached commit
    shard("part-orphan.json", [{"v": 99}, {"v": 98}])

    got = sorted(
        r["v"] for r in read_manifested(spark, d, "v long").collect()
    )
    assert got == [1, 2, 3, 4]  # replay not double-counted, orphan unseen

    # abort removes its attempt's shards and leaves everything else
    g = shard("part-f.json", [{"v": 7}])
    w.abort([g, None], 2)
    assert not os.path.exists(g.path)
    got2 = sorted(
        r["v"] for r in read_manifested(spark, d, "v long").collect()
    )
    assert got2 == [1, 2, 3, 4]


def test_stream_pysink_checkpoint_restart_no_duplicates(spark, tmp_path):
    """Drive the real writeStream twice over the same checkpoint: the
    second start must replay nothing (source exhausted) and the
    manifested row set must equal the input exactly once."""
    from fluent_bit_filter_math_spark.sources.json_sink import (
        read_manifested,
        register_json_sink,
    )

    register_json_sink(spark)
    src = str(tmp_path / "src")
    spark.range(100).selectExpr("id AS v").coalesce(2).write.parquet(src)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    for _ in range(2):
        (
            spark.readStream.schema("v long")
            .option("maxFilesPerTrigger", 1)
            .format("parquet")
            .load(src)
            .writeStream.format("jsonsink")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
    got = sorted(r["v"] for r in read_manifested(spark, out, "v long").collect())
    assert got == list(range(100))


def test_bmp_roundtrip_property():
    """Real-BMP codec: build → parse must reproduce the cycled plane's
    exact sum/checksum for widths across the whole stride-padding
    range (w mod 4 ∈ {0,1,2,3}) and payloads with high bytes."""
    from fluent_bit_filter_math_spark.operators.multimodal import (
        _BMP_H_MOD,
        _BMP_W_MOD,
        _bmp_build,
        _bmp_parse,
    )

    import random

    rng = random.Random(42)
    lens = list(range(1, 1 + _BMP_W_MOD * _BMP_H_MOD))  # all (w, h) shapes
    for n in lens:
        payload = bytes(rng.randrange(256) for _ in range(n))
        w = 5 + n % _BMP_W_MOD
        h = 3 + n % _BMP_H_MOD
        plane = (payload * (w * h // n + 1))[: w * h]
        exp_sum = sum(plane)
        exp_chk = sum((i + 1) * b for i, b in enumerate(plane))
        assert _bmp_parse(_bmp_build(payload)) == (
            w,
            h,
            w * h,
            exp_sum,
            exp_chk,
        )


def test_bmp_parse_rejects_malformed():
    from fluent_bit_filter_math_spark.operators.multimodal import (
        _bmp_build,
        _bmp_parse,
    )

    good = _bmp_build(b"hello world")
    for mutate, msg in [
        (lambda b: b"XX" + b[2:], "magic"),
        (lambda b: b[:-1], "size"),
        (lambda b: b[:28] + b"\x04" + b[29:], "bpp"),  # 8 -> 1028
        (lambda b: b[:60] + b"\xff" + b[61:], "palette"),
    ]:
        with pytest.raises(ValueError):
            _bmp_parse(mutate(good))


def test_autocorr_lag1_python_twin(spark, sf_dir):
    """Third implementation: exact integer ACF fold per user in pure
    Python over the collected sequence; bitwise num/den equality."""
    from collections import defaultdict

    from fluent_bit_filter_math_spark.operators.temporal import (
        ts_autocorr_lag1,
    )
    from fluent_bit_filter_math_spark.sources import table as _table

    raw = (
        _table(spark, sf_dir, "events")
        .selectExpr(
            "user_id",
            "unix_micros(cast(ts as timestamp)) AS t",
            "event_id",
            "CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS xc",
        )
        .collect()
    )
    seqs = defaultdict(list)
    for r in raw:
        seqs[r["user_id"]].append((r["t"], r["event_id"], r["xc"]))
    expect = {}
    for uid, seq in seqs.items():
        xs = [x for _, _, x in sorted(seq)]
        n = len(xs)
        if n < 3:
            continue
        s, q = sum(xs), sum(x * x for x in xs)
        c = sum(a * b for a, b in zip(xs, xs[1:]))
        num = n * n * c - n * s * (2 * s - xs[0] - xs[-1]) + (n - 1) * s * s
        den = n * n * q - n * s * s
        if den > 0:
            expect[uid] = (n, num, den)
    rows = ts_autocorr_lag1(spark, sf_dir).collect()
    assert len(rows) == len(expect) > 0
    for r in rows:
        n, num, den = expect[r["user_id"]]
        assert (r["n_obs"], r["acf_num"], r["acf_den"]) == (n, num, den)


def test_ams_f2_sketch_properties(spark, sf_dir):
    """AMS invariants: the median-of-squares estimate is positive, and
    a python replay of the 17 sign-sums over the same hash reproduces
    the sketch exactly (the oracle-replayability claim)."""
    import hashlib

    from fluent_bit_filter_math_spark.operators.sketches import (
        _AMS_R,
        sketch_ams_f2,
    )
    from fluent_bit_filter_math_spark.sources import table as _table

    users = [
        r["user_id"]
        for r in _table(spark, sf_dir, "events").select("user_id").collect()
    ]

    def sign(r, u):
        h = int(hashlib.md5(f"ams{r}:{u}".encode()).hexdigest()[:15], 16)
        return 1 - 2 * (h % 2)

    sq = sorted(
        sum(sign(r, u) for u in users) ** 2 for r in range(_AMS_R)
    )
    med = sq[(_AMS_R + 1) // 2 - 1]
    from collections import Counter

    f2 = sum(c * c for c in Counter(users).values())
    [row] = sketch_ams_f2(spark, sf_dir).collect()
    assert (row["n_rows"], row["f2_exact"], row["f2_est_median"]) == (
        len(users),
        f2,
        med,
    )
    assert row["f2_est_median"] > 0


def test_rrf_fusion_rank_arithmetic(spark, sf_dir):
    """RRF invariants: every fused score equals 1/(60+ra) + 1/(60+rb)
    with absent ranks contributing zero, and a document ranked first
    by BOTH pools tops the fusion."""
    from fluent_bit_filter_math_spark.operators.retrieval import (
        RRF_C,
        retrieval_rrf_fusion,
    )

    rows = retrieval_rrf_fusion(spark, sf_dir).collect()
    assert rows
    for r in rows:
        exp = 0.0
        if r["rank_bm25"] is not None:
            exp += 1.0 / (RRF_C + r["rank_bm25"])
        if r["rank_ql"] is not None:
            exp += 1.0 / (RRF_C + r["rank_ql"])
        assert r["rrf_score"] == exp
    scores = [r["rrf_score"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_ndcg_bounds(spark, sf_dir):
    from fluent_bit_filter_math_spark.operators.retrieval import (
        retrieval_ndcg_eval,
    )

    [row] = retrieval_ndcg_eval(spark, sf_dir).collect()
    assert 0 < row["dcg_scaled"] <= row["idcg_scaled"]
    assert 0.0 < row["ndcg"] <= 1.0


def test_jl_distortion_concentrates(spark, sf_dir):
    """JL lemma sanity: with k=16 the per-pair distortion P²/(kD²) has
    mean 1; require the empirical median within ±35% and every ratio
    positive (a sign-matrix or scaling bug lands far outside)."""
    from fluent_bit_filter_math_spark.operators.similarity import (
        emb_random_projection_jl,
    )

    rows = emb_random_projection_jl(spark, sf_dir).collect()
    assert rows
    ds = sorted(r["distortion"] for r in rows)
    assert all(d > 0 for d in ds)
    med = ds[len(ds) // 2]
    assert 0.65 < med < 1.35


def test_weighted_median_python_twin(spark, sf_dir):
    """Exact lower weighted median recomputed in pure Python."""
    import math
    from collections import defaultdict

    from fluent_bit_filter_math_spark.operators.relational import (
        agg_weighted_median,
    )
    from fluent_bit_filter_math_spark.sources import table as _table

    raw = (
        _table(spark, sf_dir, "lineitem")
        .selectExpr(
            "l_returnflag AS g",
            "CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents",
            "CAST(l_quantity AS BIGINT) AS w",
            "l_orderkey * 10 + l_linenumber AS k",
        )
        .collect()
    )
    groups = defaultdict(list)
    for r in raw:
        groups[r["g"]].append((r["cents"], r["k"], r["w"]))
    expect = {}
    for g, rows_ in groups.items():
        rows_.sort()
        tw = sum(w for _, _, w in rows_)
        cum = 0
        for cents, _, w in rows_:
            cum += w
            if 2 * cum >= tw:
                expect[g] = (tw, cents)
                break
    got = {
        r["l_returnflag"]: (r["total_weight"], r["wmedian_cents"])
        for r in agg_weighted_median(spark, sf_dir).collect()
    }
    assert got == expect and len(got) > 0


def test_rake_scores_consistent(spark, sf_dir):
    """RAKE invariants: degree ≥ freq (every phrase has length ≥ 1),
    score = degree/freq exactly, stopwords never appear."""
    from fluent_bit_filter_math_spark.operators.text import (
        RAKE_STOPWORDS,
        text_rake_keywords,
    )

    rows = text_rake_keywords(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["word"] not in RAKE_STOPWORDS
        assert r["degree"] >= r["freq"] > 0
        assert r["rake_score"] == r["degree"] / r["freq"]


def test_clustering_coefficient_bounds(spark, sf_dir):
    from fluent_bit_filter_math_spark.operators.graph import (
        graph_clustering_coefficient,
        graph_triangle_count,
    )

    [cc] = graph_clustering_coefficient(spark, sf_dir).collect()
    [tc] = graph_triangle_count(spark, sf_dir).collect()
    assert cc["n_triangles"] == tc["n_triangles"]
    assert 0.0 <= cc["global_clustering"] <= 1.0
    assert cc["n_wedges"] > 0


def test_poisson_bootstrap_weights_distribution(spark, sf_dir):
    """The hash→CDF weight draw must reproduce Poisson(1) closely:
    over ~10k draws the zero-weight fraction sits near e⁻¹ and the
    mean weight near 1 (hard bounds at ±6σ); the registered query's
    replica count is full (no replica lost all its weight)."""
    import hashlib
    import math

    from fluent_bit_filter_math_spark.operators.relational import (
        _BOOT_B,
        _POIS_T,
        agg_bootstrap_poisson,
    )

    def draw(s: str) -> int:
        h = int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
        return sum(h >= t for t in _POIS_T)

    n = 10_000
    ws = [draw(f"x:{i}") for i in range(n)]
    zero_frac = sum(w == 0 for w in ws) / n
    mean_w = sum(ws) / n
    assert abs(zero_frac - math.exp(-1)) < 6 * 0.005
    assert abs(mean_w - 1.0) < 6 * 0.01

    rows = agg_bootstrap_poisson(spark, sf_dir).collect()
    assert rows and all(r["n_replicas"] == _BOOT_B for r in rows)
    for r in rows:
        assert r["ci_lo"] <= r["ci_hi"]


def test_welch_t_squared_python_twin(spark, sf_dir):
    """Recompute t² and the Welch–Satterthwaite dof from the exact
    integer components the query itself emits — the float chain must
    agree bit-for-bit (all correctly-rounded IEEE ops)."""
    from fluent_bit_filter_math_spark.operators.quality import (
        dq_welch_t_squared,
    )

    [r] = dq_welch_t_squared(spark, sf_dir).collect()
    n1, s1, q1 = r["n1"], r["s1_cents"], r["q1_cents2"]
    n2, s2, q2 = r["n2"], r["s2_cents"], r["q2_cents2"]
    se1 = (n1 * q1 - s1 * s1 * 1.0) / (n1 * n1 * (n1 - 1.0))
    se2 = (n2 * q2 - s2 * s2 * 1.0) / (n2 * n2 * (n2 - 1.0))
    # mirror the engine chain: double casts before every op
    se1 = (float(n1) * float(q1) - float(s1) * float(s1)) / (
        float(n1) * float(n1) * (float(n1) - 1.0)
    )
    se2 = (float(n2) * float(q2) - float(s2) * float(s2)) / (
        float(n2) * float(n2) * (float(n2) - 1.0)
    )
    dmean = float(s1) / float(n1) - float(s2) / float(n2)
    assert r["t_squared"] == (dmean * dmean) / (se1 + se2)
    assert r["welch_dof"] == ((se1 + se2) * (se1 + se2)) / (
        se1 * se1 / (float(n1) - 1.0) + se2 * se2 / (float(n2) - 1.0)
    )
    assert r["welch_dof"] > 1.0 and r["t_squared"] >= 0.0


def test_rfm_scores_partition_customers(spark, sf_dir):
    """RFM invariants: cells cover every customer exactly once, every
    digit is 1-4, and each dimension's quartiles are near-equal-sized
    (rank arithmetic guarantees |bucket| within 1 of n/4)."""
    from collections import Counter

    from fluent_bit_filter_math_spark.operators.relational import (
        q_rfm_segmentation,
    )
    from fluent_bit_filter_math_spark.sources import table as _table

    rows = q_rfm_segmentation(spark, sf_dir).collect()
    n_cust = (
        _table(spark, sf_dir, "orders")
        .select("o_custkey")
        .distinct()
        .count()
    )
    assert sum(r["n_customers"] for r in rows) == n_cust
    digit_tot = Counter()
    for r in rows:
        cell = r["rfm_cell"]
        rs, fs, ms = cell // 100, cell % 100 // 10, cell % 10
        assert 1 <= rs <= 4 and 1 <= fs <= 4 and 1 <= ms <= 4
        digit_tot[("r", rs)] += r["n_customers"]
        digit_tot[("m", ms)] += r["n_customers"]
    for dim in ("r", "m"):
        sizes = [digit_tot[(dim, s)] for s in range(1, 5)]
        assert max(sizes) - min(sizes) <= 1


def test_dd_sketch_quantile_error_bound(spark, sf_dir):
    """The log2-bucket sketch's structural guarantee: the TRUE discrete
    q-quantile lies inside the reported [lo, hi] bucket — i.e. the
    sketch answer is within 2x relative error of the exact order
    statistic, per event_type and percentile."""
    from collections import defaultdict

    from fluent_bit_filter_math_spark.operators.sketches import (
        _DD_QS,
        sketch_dd_quantiles,
    )
    from fluent_bit_filter_math_spark.sources import table as _table

    vals = defaultdict(list)
    for r in (
        _table(spark, sf_dir, "events")
        .selectExpr(
            "event_type",
            "CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents",
        )
        .collect()
    ):
        if r["cents"] >= 1:
            vals[r["event_type"]].append(r["cents"])
    got = sketch_dd_quantiles(spark, sf_dir).collect()
    assert len(got) == len(vals) * len(_DD_QS)
    for r in got:
        xs = sorted(vals[r["event_type"]])
        assert r["n_pos"] == len(xs)
        rank = (r["pct"] * len(xs) + 99) // 100  # ceil(q·n), 1-based
        true_q = xs[rank - 1]
        assert r["lo_cents"] <= true_q <= r["hi_cents"]
        assert r["hi_cents"] < 2 * r["lo_cents"] + 1  # ≤2x bucket width


def test_link_prediction_cap_not_binding_and_twin(spark, sf_dir):
    """The degree cap must NOT bind on the fixture graph (scores are
    exact Jaccard there), and a brute-force python twin over the
    collected sampled graph must reproduce the top rows."""
    from collections import defaultdict

    from fluent_bit_filter_math_spark.operators.graph import (
        _LP_DEG_CAP,
        _tri_pipeline,
        graph_jaccard_link_prediction,
    )

    und, deg, _ = _tri_pipeline(spark, sf_dir)
    assert deg.agg({"d": "max"}).collect()[0][0] <= _LP_DEG_CAP

    edges = [(r["a"], r["b"]) for r in und.collect()]
    nbrs = defaultdict(set)
    for a, b in edges:
        nbrs[a].add(b)
        nbrs[b].add(a)
    eset = set(edges)
    scores = {}
    nodes = sorted(nbrs)
    for i, u in enumerate(nodes):
        for v in nodes[i + 1 :]:
            if (u, v) in eset:
                continue
            cn = len(nbrs[u] & nbrs[v])
            if cn:
                scores[(u, v)] = (
                    cn,
                    cn / (len(nbrs[u]) + len(nbrs[v]) - cn),
                )
    top = sorted(
        scores.items(), key=lambda kv: (-kv[1][1], kv[0])
    )[:20]
    got = graph_jaccard_link_prediction(spark, sf_dir).collect()
    assert [
        ((r["u"], r["v"]), (r["common_neighbors"], r["jaccard"]))
        for r in got
    ] == top
