"""The workloads: input generation and the result check of each.

Every workload writes `config.properties` and `ops.txt` for the harness, a
pristine copy of its tables under `master/`, and one hard-linked copy per
set-up repetition under `rep<r>/` (a distinct path is a cold cache entry, so
each repetition really loads and indexes). `ops.txt` lists the ops in the
order the client sends them: `warmup` untimed ops, then the timed stream in
cycles of `pass` ops.
"""
import json
import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import cpcheck
import gen

# Suite queries by exact name, stratified by family. q57 stands for the
# job-count-floor trio: q166 and q169 are built on its verified pairs and
# their DuckDB oracles alone take over 20 s per run.
SUITE = [
    "q03_agg_groupby", "q11_join_shuffle_agg", "q15_window_rank",   # relational
    "q23_cp_refined_relax",                                         # TS / CP
    "q30_dedup_jaccard",                                            # dedup
    "q35_ann_bruteforce",                                           # ANN
    "q140_bpe_tokens",                                              # text / tokenizer
    "q121_image_dhash",                                             # multimodal
    "q195_hll_registers",                                           # sketch
    "q203_pagerank_hosts",                                          # graph
    "q67_curation_pipeline",                                        # curation pipeline
    "q57_dedup_capped_verified",                                    # job-count floor
]
SUITE_TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
                "events", "documents", "embeddings"]


def _link_reps(data, names, reps):
    """Hard-link master/<name> into rep<r>/<name> for every repetition."""
    for r in range(reps):
        for name in names:
            src = os.path.join(data, "master", name)
            dst = os.path.join(data, f"rep{r}", name)
            if os.path.isdir(src):
                os.makedirs(dst)
                for f in os.listdir(src):
                    os.link(os.path.join(src, f), os.path.join(dst, f))
            else:
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.link(src, dst)


def _write_config(data, keys, **props):
    with open(os.path.join(data, "ops.txt"), "w") as f:
        f.write("\n".join(keys) + "\n")
    with open(os.path.join(data, "config.properties"), "w") as f:
        for k, v in props.items():
            f.write(f"{k}={v}\n")


def _column_bytes(path, column):
    md = pq.ParquetFile(path).metadata
    j = md.schema.names.index(column)
    return sum(md.row_group(i).column(j).total_compressed_size for i in range(md.num_row_groups))


def _warm_query(ops, table, column):
    """A query whose windows are as deep as any in the stream, so the set-up
    index serves every op."""
    lx = max(o["lx"][1] for o in ops)
    n = max([c[1] or 1 for o in ops for c in o["cons"]])
    return (f"SELECT time_id, offset IN_DOMAIN [1, 1], [1, {lx}] FROM {table}.{column} "
            f"WHERE max_amp_excess_right({n}) in [0, 0] MAX LIMIT REFINED 1")


def generate_interactive(rng, data, size, plant):
    tbl = gen.emg_table(rng, size["rows"])
    column = f"emg{1 + int(rng.integers(0, 8))}"
    y = tbl.column(column).to_numpy().astype(np.float64)
    cycle = len(gen.VARIANTS)
    warmup = size["warmup_cycles"] * cycle
    ops = gen.interactive_stream(rng, y, warmup + size["cycles"] * cycle, "emg_data", column,
                                 size["cells"])
    path = os.path.join(data, "master", "table")
    gen.write(tbl, path)
    _link_reps(data, ["table"], size["reps"])
    keys = [o["text"] for o in ops]
    if plant == "throw":  # the parser rejects the first query
        keys[0] = keys[0].replace("SELECT", "SELEC", 1)
    _write_config(data, keys, column=column, warm=_warm_query(ops, "emg_data", column),
                  warmup=warmup, min_cycles=size["min_cycles"], **{"pass": cycle})
    part = os.path.join(path, "part-0.parquet")
    sizes = {"rows": tbl.num_rows, "input_bytes": os.path.getsize(part),
             "column_bytes": _column_bytes(part, column), "ops_per_cycle": cycle,
             "warmup_ops": warmup, "stream_ops": len(ops) - warmup}
    return {"sizes": sizes, "y": y, "specs": {o["text"]: o for o in ops}}


def check_cp(inputs, ops, out):
    """Every op against the naive evaluator; returns {op id: reason}."""
    failures = {}
    y = inputs["y"]
    for o in ops:
        spec = inputs["specs"].get(o["key"])
        if o["error"] is not None:
            failures[o["id"]] = o["error"]
        elif spec is None or "rows" not in o:
            failures[o["id"]] = "no evaluator answer for this op"
        elif o["t_max"] != len(y):
            failures[o["id"]] = f"the index ends at {o['t_max']}, the series at {len(y)}"
        else:
            why = cpcheck.Expected(spec, y).check(o["rows"])
            if why:
                failures[o["id"]] = why
    return failures


def generate_suite(rng, data, size, plant):
    tables = gen.suite_tables(rng, size["sf"])
    os.makedirs(os.path.join(data, "master"))
    names = [f"{t}.parquet" for t in SUITE_TABLES]
    for t, tbl in tables.items():
        pq.write_table(tbl, os.path.join(data, "master", f"{t}.parquet"))
    _link_reps(data, names, size["reps"])
    first = ["q00_no_such_query"] + SUITE[1:] if plant == "throw" else list(SUITE)
    warmup = size["warmup_passes"] * len(SUITE)
    keys = first + SUITE * (size["warmup_passes"] + size["passes"] - 1)
    _write_config(data, keys, tables=",".join(SUITE_TABLES), warmup=warmup,
                  **{"pass": len(SUITE)})
    total = sum(os.path.getsize(os.path.join(data, "master", n)) for n in names)
    return {"sizes": {"sf": size["sf"], "lineitem_rows": tables["lineitem"].num_rows,
                      "input_bytes": total, "queries_per_pass": len(SUITE),
                      "warmup_ops": warmup},
            "dir": os.path.join(data, "master")}


def _norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def check_suite(inputs, ops, out):
    """Every op's full result against the DuckDB oracle SQL over the same
    generated tables. The harness writes each distinct result of a query
    once, under the digest of its sorted rows; an op is charged with the
    mismatch of its own result."""
    con = duckdb.connect()
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{os.path.join(out, 'duckdb')}'")
    for t in SUITE_TABLES:
        p = os.path.join(inputs["dir"], f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(out, "oracle.json")) as f:
        oracle = json.load(f)
    expected, verdict, failures = {}, {}, {}
    for o in ops:
        name = o["key"]
        if o["error"] is not None:
            failures[o["id"]] = o["error"]
            continue
        if name not in expected:
            expected[name] = con.execute(oracle[name]).fetchdf()
        result = (name, o["digest"])
        if result not in verdict:
            verdict[result] = result_mismatch(
                expected[name], os.path.join(out, "suite_results", f"{name}-{o['digest']}"))
        if verdict[result]:
            failures[o["id"]] = f"{name}: {verdict[result]}"
    con.close()
    return failures


def _decimals(v):
    """Decimal places `v` prints with, None when it prints in exponent form."""
    text = repr(float(v))
    if "e" in text or "inf" in text or "nan" in text:
        return None
    return len(text.split(".")[1])


def _float_equal(g, e):
    """Element-wise equality of two float columns. Values equal to 1e-9
    relative are equal. In a column whose values print with at most 9
    decimals (the query rounded it), two values one unit apart in the last
    of those decimals are also equal: the two engines round a value lying on
    a rounding tie differently (Spark rounds the decimal HALF_UP, DuckDB the
    binary double)."""
    same = (g == e) | (g.isna() & e.isna()) | \
        ((g - e).abs() <= 1e-9 * np.maximum(g.abs(), e.abs()))
    places = [_decimals(v) for v in pd.concat([g, e]).dropna()]
    if places and None not in places and max(places) <= 9:
        unit = 10.0 ** -max(places)
        same |= ((g - e).abs() - unit).abs() <= 1e-6 * unit
    return same


def result_mismatch(exp, result_dir):
    """None when the written result equals the oracle's, else the reason."""
    if not os.path.isdir(result_dir):
        return "no result written"
    got = _norm(pd.read_parquet(result_dir))
    exp = _norm(exp)
    if got.shape != exp.shape or list(got.columns) != list(exp.columns):
        return f"shape {got.shape} vs oracle {exp.shape}"
    for c in got.columns:
        g, e = got[c], exp[c]
        if {g.dtype.kind, e.dtype.kind} == {"i", "f"}:
            return f"{c}: int-vs-float column"
        if g.dtype.kind == "f":
            same = _float_equal(g, e)
        else:
            same = (g == e) | (g.isna() & e.isna())
        if not same.all():
            i = int(np.argmin(same.to_numpy()))
            return f"{c}: {g[i]!r} vs oracle {e[i]!r}"
    return None


WORKLOADS = {
    "cp_interactive": {
        "generate": generate_interactive, "check": check_cp,
        "full": {"rows": 200_000, "warmup_cycles": 1, "min_cycles": 2, "cycles": 10,
                 "cells": (1e3, 1e5), "reps": 3},
        "smoke": {"rows": 5_000, "warmup_cycles": 1, "min_cycles": 1, "cycles": 2,
                  "cells": (1e2, 1e3), "reps": 1},
    },
    "suite_mix": {
        "generate": generate_suite, "check": check_suite,
        "full": {"sf": 0.1, "warmup_passes": 0, "passes": 6, "reps": 3},
        "smoke": {"sf": 0.001, "warmup_passes": 0, "passes": 2, "reps": 1},
    },
}
