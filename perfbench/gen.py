"""Seeded input generator for the benchmark.

Everything the engine reads during a benchmark run comes from here, so
the same ``--seed`` gives byte-identical inputs. Two uses:

* :func:`write_tables` writes the batch fixtures (the TPC-H-like star
  schema, ``documents``, ``embeddings`` and a bounded ``events`` table)
  in a seeded row order, for the batch and keyed-stream workloads.
* ``python3 perfbench/gen.py ...`` is the open-loop event
  generator of the ``fold_stream`` workload: one process, one thread,
  writing parquet files into a watched directory on a fixed schedule
  that does not slow down when the engine does.

Event properties (both uses share :func:`events`):

* ``user_id``: Zipf(s=1.1) over ``USER_KEYS`` keys, key ids shuffled;
* ``event_type``: the ``EVENT_TYPES`` mix;
* ``props``: JSON with keys ``k`` and ``rate`` in mixed case; per key
  ``MISSING_SHARE`` missing and ``NON_NUMERIC_SHARE`` non-numeric, and
  per record ``MALFORMED_SHARE`` malformed JSON and ``NULL_SHARE`` NULL;
* ``ts``: increasing, except ``OUT_OF_ORDER_SHARE`` of the events,
  stamped up to ``OUT_OF_ORDER_MAX_S`` seconds early.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

USER_KEYS = 2000
ZIPF_S = 1.1
EVENT_TYPES = (("view", 0.40), ("click", 0.25), ("purchase", 0.20),
               ("signup", 0.10), ("error", 0.05))
MISSING_SHARE = 0.10
NON_NUMERIC_SHARE = 0.05
MALFORMED_SHARE = 0.03
NULL_SHARE = 0.02
OUT_OF_ORDER_SHARE = 0.05
OUT_OF_ORDER_MAX_S = 30.0
# Keyed tables span 30 days of event time, like the repository fixtures.
EVENT_SPAN_US = 30 * 86400 * 1_000_000
TS_BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z

_K_KEYS = ("k", "K")
_RATE_KEYS = ("rate", "Rate", "RATE")
_NON_NUMERIC = ('"n/a"', "true", '"abc"', "null", '""')

EVENT_SCHEMA = pa.schema([
    ("event_id", pa.int64()),
    ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("value", pa.float64()),
    ("props", pa.string()),
])
STREAM_SCHEMA = EVENT_SCHEMA.append(pa.field("created_us", pa.int64()))


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


def _user_ids(rng: np.random.Generator, n: int) -> np.ndarray:
    p = 1.0 / np.arange(1, USER_KEYS + 1) ** ZIPF_S
    ranks = rng.choice(USER_KEYS, size=n, p=p / p.sum())
    ids = rng.permutation(USER_KEYS)
    return ids[ranks].astype(np.int64)


def _operand(rng: np.random.Generator, n: int, values: np.ndarray,
             keys: tuple[str, ...]):
    """Draws for one props key: its JSON item (key in a random case,
    value, or a non-numeric token) unless missing, and the coerced value
    ``coerce.resolve_field`` yields — missing and non-numeric → 0."""
    u = rng.random(n)
    missing = u < MISSING_SHARE
    non_num = (u >= MISSING_SHARE) & (u < MISSING_SHARE + NON_NUMERIC_SHARE)
    pick = rng.integers(0, len(_NON_NUMERIC), n)
    case = rng.integers(0, len(keys), n)
    coerced = np.where(missing | non_num, 0.0, values)

    def item() -> pa.Array:
        token = pc.if_else(pa.array(non_num),
                           pa.array(_NON_NUMERIC).take(pa.array(pick)),
                           pc.cast(pa.array(values), pa.string()))
        key = pa.array([f'"{k}": ' for k in keys]).take(pa.array(case))
        return pc.if_else(pa.array(missing), pa.nulls(n, pa.string()),
                          pc.binary_join_element_wise(key, token, ""))
    return item, coerced


def events(seed: int, start: int, n: int, part: int = 0,
           props: bool = True) -> dict:
    """``n`` events with ids ``start..start+n-1``.

    Returns the columns plus the coerced operands ``k`` and ``rate`` the
    reference fold needs. ``part`` selects an independent random stream,
    so a generator can produce its files one at a time. ``props=False``
    skips formatting the JSON strings (the operands stay identical).
    """
    rng = _rng(seed, 1, part)
    ids = np.arange(start, start + n, dtype=np.int64)
    names = [t for t, _ in EVENT_TYPES]
    probs = np.array([p for _, p in EVENT_TYPES])
    etype = np.array(names, dtype=object)[rng.choice(len(names), n, p=probs)]
    value = np.round(rng.lognormal(2.5, 1.0, n), 2)
    k_item, k = _operand(rng, n, rng.integers(0, 100, n).astype(np.float64),
                         _K_KEYS)
    r_item, rate = _operand(rng, n, np.round(rng.uniform(-5, 5, n), 3),
                            _RATE_KEYS)
    shape = rng.random(n)
    null = shape < NULL_SHARE
    malformed = (shape >= NULL_SHARE) & (shape < NULL_SHARE + MALFORMED_SHARE)
    texts = None
    if props:
        src = pa.array([f'"src": "s{i}"' for i in range(7)]).take(
            pa.array(ids % 7))
        body = pc.binary_join_element_wise(k_item(), r_item(), src, ", ",
                                           null_handling="skip")
        texts = pc.binary_join_element_wise("{", body, "}", "")
        # A truncated object: from_json yields NULL, so every key is 0.
        texts = pc.if_else(pa.array(malformed),
                           pc.utf8_slice_codeunits(texts, 0, -1), texts)
        texts = pc.if_else(pa.array(null), pa.nulls(n, pa.string()), texts)
    k = np.where(null | malformed, 0.0, k)
    rate = np.where(null | malformed, 0.0, rate)
    late = rng.random(n) < OUT_OF_ORDER_SHARE
    skew_us = (rng.random(n) * OUT_OF_ORDER_MAX_S * 1e6).astype(np.int64)
    return {
        "event_id": ids,
        "user_id": _user_ids(rng, n),
        "event_type": etype,
        "value": value,
        "props": texts,
        "late": late,
        "skew_us": skew_us,
        "k": k,
        "rate": rate,
    }


def event_table(cols: dict, ts_us: np.ndarray, schema=EVENT_SCHEMA,
                extra: dict | None = None) -> pa.Table:
    data = {
        "event_id": cols["event_id"],
        "ts": pa.array(ts_us, pa.timestamp("us")),
        "user_id": cols["user_id"],
        "event_type": pa.array(cols["event_type"], pa.string()),
        "value": cols["value"],
        "props": cols["props"],
    }
    data.update(extra or {})
    return pa.table(data, schema=schema)


def keyed_events(seed: int, n: int) -> pa.Table:
    cols = events(seed, 0, n)
    step = EVENT_SPAN_US // n
    ts = TS_BASE_US + cols["event_id"] * step
    ts = ts - np.where(cols["late"], cols["skew_us"], 0)
    return event_table(cols, ts)


# --- batch fixtures -------------------------------------------------------

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_COLORS = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_NOUNS = ("anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_VOCAB = ("a agg batch big column customer data fast filter group hash join "
          "key line merge order part query row scan slow small sort spark "
          "stream table the value vector window").split()
_LANGS = (("en", 0.41), ("zh", 0.15), ("de", 0.15), ("es", 0.15),
          ("fr", 0.14))
_DAY_US = 86400 * 1_000_000
_D1995 = 788_918_400 * 1_000_000  # 1995-01-01


def _pick(rng, options, n):
    return np.array(options, dtype=object)[rng.integers(0, len(options), n)]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, lo_day, hi_day, n):
    d = rng.integers(lo_day, hi_day + 1, n).astype(np.int64)
    return pa.array(_D1995 + d * _DAY_US, pa.timestamp("us"))


def _documents(rng, n):
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        nw = int(rng.integers(10, 101))
        texts.append(" ".join(_pick(rng, _VOCAB, nw)))
    langs = [c for c, _ in _LANGS]
    probs = [p for _, p in _LANGS]
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(langs, dtype=object)[rng.choice(5, n, p=probs)],
        "source": np.array([f"src{i % 20}" for i in range(n)], dtype=object),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n, dim=64):
    v = rng.normal(size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def table_sizes(scale: float) -> dict[str, int]:
    return {
        "customer": int(150_000 * scale), "supplier": int(10_000 * scale),
        "part": int(200_000 * scale), "orders": int(1_500_000 * scale),
        "lineitem": int(6_000_000 * scale), "events": int(1_000_000 * scale),
        "documents": int(50_000 * scale), "embeddings": int(20_000 * scale),
    }


def batch_tables(seed: int, scale: float) -> dict[str, pa.Table]:
    """The batch fixtures at ``scale`` (1.0 ≈ TPC-H sf1 row counts)."""
    size = table_sizes(scale)
    rng = _rng(seed, 2)
    nc, ns, npart = size["customer"], size["supplier"], size["part"]
    no, nl = size["orders"], size["lineitem"]
    i32 = lambda a: np.asarray(a, dtype=np.int32)  # noqa: E731
    out = {
        "region": pa.table({"r_regionkey": i32(range(5)),
                            "r_name": list(_REGIONS)}),
        "nation": pa.table({"n_nationkey": i32(range(25)),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": i32([i % 5 for i in range(25)])}),
        "customer": pa.table({
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": i32(rng.integers(0, 25, nc)),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": _pick(rng, _SEGMENTS, nc)}),
        "supplier": pa.table({
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": i32(rng.integers(0, 25, ns)),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns)}),
        "part": pa.table({
            "p_partkey": np.arange(npart, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, _COLORS, npart),
                                                  _pick(rng, _NOUNS, npart))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
            "p_type": _pick(rng, _PTYPES, npart),
            "p_size": i32(rng.integers(1, 51, npart)),
            "p_retailprice": np.round(
                900 + (np.arange(npart) % 1000) / 10, 1)}),
        "orders": pa.table({
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no).astype(np.int64),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), no),
            "o_totalprice": _money(rng, 1000, 500_000, no),
            "o_orderdate": _days(rng, 0, 2404, no),
            "o_orderpriority": _pick(rng, _PRIORITIES, no)}),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
            "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
            "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
            "l_linenumber": i32(rng.integers(1, 8, nl)),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": _pick(rng, ("A", "N", "R"), nl),
            "l_linestatus": _pick(rng, ("F", "O"), nl),
            "l_shipdate": _days(rng, 1, 2498, nl)}),
        "documents": pa.table(_documents(rng, size["documents"])),
        "embeddings": _embeddings(rng, size["embeddings"]),
        "events": keyed_events(seed, size["events"]),
    }
    # Seeded row-order permutation: results must not depend on it.
    perm_rng = _rng(seed, 3)
    return {name: t.take(perm_rng.permutation(t.num_rows))
            for name, t in out.items()}


def write_tables(out_dir: str, seed: int, scale: float) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, t in batch_tables(seed, scale).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


# --- open-loop stream generator -----------------------------------------

def stream_file(seed: int, index: int, per_file: int, t0_us: int,
                rate: float) -> pa.Table:
    """File ``index`` of the fixed-rate stream; events carry their
    scheduled creation stamp (``created_us``)."""
    start = index * per_file
    cols = events(seed, start, per_file, part=1 + index)
    created = t0_us + (cols["event_id"] * 1e6 / rate).astype(np.int64)
    ts = created - np.where(cols["late"], cols["skew_us"], 0)
    return event_table(cols, ts, STREAM_SCHEMA, {"created_us": created})


def run_stream(args) -> None:
    """Write ``files`` files at ``rate`` events/s into ``out``: each file
    is generated, written under ``stage`` and renamed into place whole
    when its last event is due. Then write the ``backlog`` files into
    ``stage/backlog`` as fast as possible. The report records each
    file's generation span and how late it landed."""
    rate_stage = os.path.join(args.stage, "rate")
    backlog_dir = os.path.join(args.stage, "backlog")
    os.makedirs(rate_stage, exist_ok=True)
    os.makedirs(backlog_dir, exist_ok=True)
    period = args.per_file / args.rate
    files, late = [], []
    for i in range(args.files + args.backlog_files):
        name = f"ev-{i:06d}.parquet"
        start = time.time()
        table = stream_file(args.seed, i, args.per_file, args.t0_us,
                            args.rate)
        if i >= args.files:
            pq.write_table(table, os.path.join(backlog_dir, name))
            files.append({"file": name, "start": start, "end": time.time()})
            continue
        tmp = os.path.join(rate_stage, name)
        pq.write_table(table, tmp)
        files.append({"file": name, "start": start, "end": time.time()})
        due = args.t0_us / 1e6 + (i + 1) * period
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        os.rename(tmp, os.path.join(args.out, name))
        late.append(max(0.0, time.time() - due))
    with open(args.report + ".tmp", "w") as fh:
        json.dump({"late_s": late, "files": files}, fh)
    os.rename(args.report + ".tmp", args.report)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(
        description="open-loop event file generator (see run_stream)")
    for flag in ("--out", "--stage", "--report"):
        p.add_argument(flag, required=True)
    for flag in ("--seed", "--per-file", "--files", "--backlog-files",
                 "--t0-us"):
        p.add_argument(flag, type=int, required=True)
    p.add_argument("--rate", type=float, required=True)
    run_stream(p.parse_args(argv))
    return 0


if __name__ == "__main__":
    sys.exit(main())
