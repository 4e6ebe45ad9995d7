"""Seeded input generators. The same seed gives the same files.

- EMG-shaped series (FIXTURES 1): timestamp, emg1..emg8 (int), dense time_id.
- The CP query stream, following the grammar and variants of FIXTURES 4.
- The TPC-H-ish suite tables plus events, documents and embeddings.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import cpcheck

WORDS = ("a the spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row agg key query scan batch").split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
CONSTRAINTS = ["avg_amp", "max_amp_excess_left", "max_amp_excess_right"]


def write(table, path):
    """Write one parquet file as `path/part-0.parquet` (a table directory)."""
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))


# ---------------------------------------------------------------- series

def emg_signal(rng, n):
    """Integer EMG-like channel: rest and burst segments of varying spread."""
    out = np.empty(n, np.int32)
    i = 0
    while i < n:
        seg = int(rng.integers(300, 4000))
        sigma = rng.choice([2.0, 6.0, 20.0, 55.0])
        off = rng.integers(-4, 5)
        m = min(seg, n - i)
        out[i:i + m] = np.clip(np.rint(rng.normal(off, sigma, m)), -128, 127)
        i += m
    return out


def emg_table(rng, n):
    t = np.arange(1, n + 1, dtype=np.int64)
    cols = {"timestamp": pa.array(1_500_000_000_000 + t)}
    for c in range(1, 9):
        cols[f"emg{c}"] = pa.array(emg_signal(rng, n))
    cols["time_id"] = pa.array(t)
    return pa.table(cols)


# ---------------------------------------------------------------- CP queries

def render(spec):
    def side(v):
        return "None" if v is None else str(int(v))

    def iv(p):
        return f"[{side(p[0])}, {side(p[1])}]"

    cons = " and ".join(
        f"{name}({'' if n is None else n}) in [{side(lo)}, {side(hi)}] {target}"
        for name, n, lo, hi, target in spec["cons"])
    limit = "" if spec["limit"] is None else \
        f" LIMIT {'REFINED ' if spec['refined'] else ''}{spec['limit']}"
    return (f"SELECT time_id, offset IN_DOMAIN {iv(spec['x'])}, {iv(spec['lx'])} "
            f"FROM {spec['table']}.{spec['column']} WHERE {cons}{limit}")


def n_sat(y, spec):
    _, _, vals, _ = cpcheck.grid_values(y, spec)
    ok = np.ones(len(vals), bool)
    for i, (_n, _a, lo, hi, _t) in enumerate(spec["cons"]):
        if lo is not None:
            ok &= vals[:, i] >= lo
        if hi is not None:
            ok &= vals[:, i] <= hi
    return int(ok.sum()), len(vals)


def set_intervals(rng, y, spec, mode):
    """Pick integer constraint intervals from the grid's own value quantiles.
    mode 'wide' satisfies many cells, 'narrow' few."""
    _, _, vals, _ = cpcheck.grid_values(y, spec)
    cons = []
    for i, (name, n, _lo, _hi, target) in enumerate(spec["cons"]):
        v = vals[:, i]
        if mode == "wide":
            lo, hi = np.floor(np.quantile(v, 0.1)), np.ceil(np.quantile(v, 0.9))
            if rng.random() < 0.2:
                lo = None
        else:
            c = np.floor(np.quantile(v, rng.uniform(0.05, 0.95)))
            lo, hi = c, c + int(rng.integers(0, 2))
        cons.append((name, n, None if lo is None else int(lo), int(hi), target))
    spec["cons"] = cons


def narrow(y, spec, cap):
    """Move the first constraint onto the tail of its values until at most
    `cap` cells satisfy the query."""
    v0 = cpcheck.grid_values(y, spec)[2][:, 0]
    for cut in (np.quantile(v0, 0.99), np.quantile(v0, 0.999), v0.max() + 1):
        if n_sat(y, spec)[0] <= cap:
            return
        name, a, _lo, _hi, target = spec["cons"][0]
        spec["cons"][0] = (name, a, int(np.floor(cut)), int(np.floor(cut)), target)


VARIANTS = ["over", "under", "limit", "nolimit", "none_start", "none_end"]


def interactive_stream(rng, y, n_ops, table, column, cells=(1e3, 1e5)):
    """Small and medium grids, 1-3 constraints, every query variant. The
    stream cycles through one fixed shape per variant: grid size (a
    geometric ladder), offset range, constraint functions and arguments.
    Every op is a new query: the seed draws its position, targets, limit
    and intervals, which come from the data."""
    n, cycle = len(y), len(VARIANTS)
    # sizes spread over the ladder by a fixed golden-ratio permutation
    perm = np.argsort(np.arange(cycle) * 0.618 % 1)
    ladder = np.geomspace(cells[0], cells[1], cycle)[perm]
    widths = np.linspace(4, 40, cycle).astype(int)[perm[::-1]]
    ops = []
    for j in range(n_ops):
        s = j % cycle
        variant = VARIANTS[s]
        n_l = int(widths[s])
        n_x = max(2, int(ladder[s]) // n_l)
        l0 = 1 + (7 * s) % 29
        l1 = l0 + n_l - 1
        names = [CONSTRAINTS[(s + i) % 3] for i in range(1 + s % 3)]
        cons = [(nm, None if nm == "avg_amp" else 2 + (s + i) % 9, None, None,
                 str(rng.choice(["MAX", "MIN"]))) for i, nm in enumerate(names)]
        x0 = int(rng.integers(20, n - n_x - l1 - 20))
        spec = {"table": table, "column": column, "x": [x0, x0 + n_x - 1], "lx": [l0, l1],
                "cons": cons, "limit": None, "refined": False, "variant": variant}
        if variant == "none_start":
            spec["x"] = [None, n_x]
            spec["lx"] = [None, n_l]
        elif variant == "none_end":
            spec["x"] = [n - n_x, None]
        if variant in ("over", "limit", "none_start", "none_end"):
            set_intervals(rng, y, spec, "wide")
            spec["limit"] = int(rng.integers(5, 31))
            spec["refined"] = variant != "limit"
        elif variant == "under":  # fewer satisfied cells than k: relaxation
            set_intervals(rng, y, spec, "narrow")
            spec["limit"] = int(rng.integers(20, 101))
            spec["refined"] = True
            narrow(y, spec, spec["limit"] - 1)
        else:  # unrefined, no LIMIT: every satisfying cell, kept small
            set_intervals(rng, y, spec, "narrow")
            narrow(y, spec, 400)
        spec["text"] = render(spec)
        ops.append(spec)
    return ops


# ---------------------------------------------------------------- suite tables

def _date_us(rng, n, start="1995-01-01", days=2400):
    d0 = np.datetime64(start, "us")
    return pa.array(d0 + (rng.integers(0, days, n) * 86_400_000_000).astype("timedelta64[us]"))


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values)[rng.choice(len(values), n, p=p)])


def suite_tables(rng, sf):
    n_cust, n_ord, n_part, n_supp = int(150_000 * sf), int(1_500_000 * sf), \
        int(200_000 * sf), int(10_000 * sf)
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                                "MIDDLE EAST"])})
    t["nation"] = pa.table({"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                    "MACHINERY"], n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2))})
    adj = ["red", "hot", "new", "small", "large", "old", "blue", "cold"]
    noun = ["bolt", "anvil", "ring", "rod", "plate", "gear", "nut", "pipe"]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": _pick(rng, [f"{a} {b}" for a in adj for b in noun], n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
                        n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2)),
        "o_orderdate": _date_us(rng, n_ord),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], n_ord)})
    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    lnum = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    perm = rng.permutation(n_li)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey[perm]),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(lnum[perm]),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105000, n_li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _date_us(rng, n_li, "1995-01-02", 2500)})
    n_ev = int(1_000_000 * sf)
    ts0 = np.datetime64("2024-01-01", "us")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts0 + np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
                       .astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, 1500, n_ev)),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n_ev),
        "value": pa.array(np.round(rng.exponential(50, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    n_doc = int(50_000 * sf)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))])
             for _ in range(n_doc)]
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        src = texts[int(rng.integers(0, n_doc))].split()
        src[int(rng.integers(0, len(src)))] = "dup"
        texts[i] = " ".join(src)
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n_doc, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array(np.array([len(s) for s in texts], dtype=np.int64))})
    n_vec, dim = int(20_000 * sf), 64
    centers = rng.normal(0, 1, (10, dim))
    label = rng.integers(0, 10, n_vec)
    emb = centers[label] + rng.normal(0, 0.6, (n_vec, dim))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32))})
    return t
