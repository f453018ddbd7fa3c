"""Output checks, run outside every timed region.

* :func:`oracle_problems` compares a query's Spark result with its
  ``registry.all_oracles()`` SQL run by DuckDB over the same generated
  parquet files: row count, column names, then every value after an
  order-insensitive sort (floats to a relative 1e-9).
* :func:`reference_fold` is the numpy twin of ``compile.compile_spec``
  for the fold workload's four specs, following ``coerce`` semantics:
  a missing or non-numeric operand is 0, DIV by 0 is NULL (NaN here)
  and ``cast_to_int`` truncates toward zero.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

# The four test.sh-style fold specs: field, props-key and constant
# operands, props keys resolved case-insensitively, one cast_to_int.
FOLD_SPECS = (
    ("sum", ("value", "K", 7), "f_sum", True),
    ("sub", ("value", "Rate"), "f_sub", False),
    ("mul", ("value", "k", 3), "f_mul", False),
    ("div", ("value", "k"), "f_div", False),
)


def reference_fold(value: np.ndarray, k: np.ndarray,
                   rate: np.ndarray) -> dict[str, np.ndarray]:
    """Expected fold outputs; NaN stands for SQL NULL."""
    operands = {"value": value, "k": k, "rate": rate}
    out = {}
    for op, args, name, to_int in FOLD_SPECS:
        vals = [np.full_like(value, float(a)) if isinstance(a, int)
                else operands[a.lower()] for a in args]
        acc = vals[0]
        for v in vals[1:]:
            if op == "sum":
                acc = acc + v
            elif op == "sub":
                acc = acc - v
            elif op == "mul":
                acc = acc * v
            else:
                with np.errstate(divide="ignore", invalid="ignore"):
                    acc = np.where(v == 0, np.nan, acc / v)
        out[name] = np.trunc(acc) if to_int else acc
    return out


def fold_summary(outputs: dict[str, np.ndarray]) -> dict[str, float]:
    """Per-column count of non-NULLs, sum, min and max — the same
    aggregates the streaming sink observes."""
    s = {}
    for name, col in outputs.items():
        ok = col[~np.isnan(col)]
        s[f"{name}_n"] = float(len(ok))
        s[f"{name}_sum"] = float(ok.sum()) if len(ok) else 0.0
        s[f"{name}_min"] = float(ok.min()) if len(ok) else math.nan
        s[f"{name}_max"] = float(ok.max()) if len(ok) else math.nan
    return s


def summary_problems(got: dict, want: dict) -> list[str]:
    problems = []
    for key, w in want.items():
        g = got.get(key)
        g = math.nan if g is None else float(g)
        if math.isnan(w) and math.isnan(g):
            continue
        if key.endswith("_sum"):
            same = math.isclose(g, w, rel_tol=1e-9, abs_tol=1e-6)
        else:
            same = g == w
        if not same:
            problems.append(f"{key}: got {g!r}, want {w!r}")
    return problems


def duck_connect(data_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        col = df[c]
        if str(col.dtype) == "object" or str(col.dtype).startswith("string"):
            df[c] = col.map(lambda v: None if v is None else str(
                list(v) if isinstance(v, np.ndarray) else v))
        elif pd.api.types.is_datetime64_any_dtype(col):
            df[c] = col.astype("datetime64[us]").astype("int64")
        elif pd.api.types.is_bool_dtype(col):
            df[c] = col.astype("int64")
    key = [df[c].astype(str) for c in df.columns]
    order = pd.DataFrame(dict(zip(df.columns, key))).sort_values(
        list(df.columns), kind="mergesort").index
    return df.loc[order].reset_index(drop=True)


def _same(a, b) -> bool:
    if a is None or b is None or (isinstance(a, float) and math.isnan(a)):
        return (a is None or (isinstance(a, float) and math.isnan(a))) and (
            b is None or (isinstance(b, float) and math.isnan(b)))
    if isinstance(a, (float, np.floating)) or isinstance(b, (float, np.floating)):
        return math.isclose(float(a), float(b), rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def frame_problems(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    if len(got) != len(want):
        return [f"row count {len(got)} vs oracle {len(want)}"]
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns {sorted(got.columns)} vs {sorted(want.columns)}"]
    g, w = _normalize(got), _normalize(want)
    for c in g.columns:
        for i, (a, b) in enumerate(zip(g[c].tolist(), w[c].tolist())):
            if not _same(a, b):
                return [f"column {c} row {i}: {a!r} vs oracle {b!r}"]
    return []


def oracle_problems(con, sql: str, result: pd.DataFrame) -> list[str]:
    return frame_problems(result, con.execute(sql).df())
