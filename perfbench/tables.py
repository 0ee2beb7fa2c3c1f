"""Seeded generator for the star-schema tables the registered queries read.

Writes one parquet file per table (region, nation, customer, supplier,
part, orders, lineitem, events, documents, embeddings) in the layout of
the engine's reference test data: the same column names and arrow types,
one row group per table written by pyarrow, the same row counts at scale
factor `sf` (sf=0.1 gives 600,000 lineitem rows), and the same value
distributions (ranges, distinct counts, key fan-out, rounding). The same
seed always gives the same bytes.

Also returns the known answers for the point lookups the `query_point`
workload issues: orders keys drawn from the seed, each with its
(o_custkey, o_totalprice).

`python3 perfbench/tables.py --compare REF_DIR [--seed N]` generates the
tables at sf0.1 and prints, per table and column, the layout and the
statistics of both sets side by side, flagging every difference beyond
sampling noise (exit code 1 if there is one).
"""
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the data spark scan sort join hash agg group filter window row "
         "column table key value order part line batch stream merge query "
         "vector customer fast slow big small").split()
LANGS = np.array(["en", "de", "fr", "es", "zh"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
PTYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
ADJ = np.array(["blue", "cold", "hot", "large", "new", "old", "red", "small"])
NOUN = np.array(["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])

BASE = {"customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
        "lineitem": 600000, "events": 100000, "documents": 5000, "embeddings": 2000}


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, span_days, n):
    d = np.datetime64(start, "us") + rng.integers(0, span_days, n) * np.timedelta64(86400_000_000, "us")
    return pa.array(d, type=pa.timestamp("us"))


def _documents(rng, n):
    texts = [" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), rng.integers(10, 100)))
             for _ in range(n)]
    # one document in twenty is a near-duplicate: another's text plus " dup"
    for i in rng.choice(n, size=n // 20, replace=False):
        j = (i + rng.integers(1, n)) % n
        texts[i] = texts[j] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, size=n, p=LANG_P)),
        "source": pa.array(np.char.add("src", (np.arange(n) % 20).astype(str))),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng, n, dim=64, labels=10):
    label = rng.integers(0, labels, n).astype(np.int32)
    centers = rng.normal(0, 1, (labels, dim))
    v = centers[label] + rng.normal(0, 1.5, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(v.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            offsets, flat, type=pa.list_(pa.field("element", pa.float32()))),
        "label": pa.array(label),
    })


def generate(out_dir, seed, sf=0.1, lookups=64):
    """Write every table under `out_dir`; return the point-lookup answers."""
    rng = np.random.default_rng(seed)
    n = {k: max(10, int(round(v * sf / 0.1))) for k, v in BASE.items()}
    i64 = lambda m: pa.array(np.arange(m, dtype=np.int64))
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)}),
        "customer": pa.table({
            "c_custkey": i64(n["customer"]),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]).astype(np.int32)),
            "c_acctbal": _money(rng, -999, 9999, n["customer"]),
            "c_mktsegment": SEGMENTS[rng.integers(0, 5, n["customer"])]}),
        "supplier": pa.table({
            "s_suppkey": i64(n["supplier"]),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]).astype(np.int32)),
            "s_acctbal": _money(rng, -999, 9999, n["supplier"])}),
        "part": pa.table({
            "p_partkey": i64(n["part"]),
            "p_name": np.char.add(np.char.add(ADJ[rng.integers(0, len(ADJ), n["part"])], " "),
                                  NOUN[rng.integers(0, len(NOUN), n["part"])]),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n["part"]).astype(str)),
            "p_type": PTYPES[rng.integers(0, len(PTYPES), n["part"])],
            "p_size": pa.array(rng.integers(1, 51, n["part"]).astype(np.int32)),
            "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) * 0.1, 2)}),
    }
    o_cust = rng.integers(0, n["customer"], n["orders"])
    o_total = _money(rng, 1000, 500000, n["orders"])
    tables["orders"] = pa.table({
        "o_orderkey": i64(n["orders"]),
        "o_custkey": pa.array(o_cust.astype(np.int64)),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n["orders"])],
        "o_totalprice": o_total,
        "o_orderdate": _days(rng, "1995-01-01", 2405, n["orders"]),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n["orders"])]})
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], nl).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n["part"], nl).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
        "l_quantity": qty,
        "l_extendedprice": _money(rng, 900, 105000, nl),
        "l_discount": np.round(rng.uniform(0, 0.1, nl), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, nl), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _days(rng, "1995-01-02", 2499, nl)})
    ne = n["events"]
    ts = np.datetime64("2024-01-01", "us") + np.sort(rng.integers(0, 30 * 86400_000_000, ne)).astype("timedelta64[us]")
    tables["events"] = pa.table({
        "event_id": i64(ne),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, ne).astype(np.int64)),
        "event_type": EVENT_TYPES[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    tables["documents"] = _documents(rng, n["documents"])
    tables["embeddings"] = _embeddings(rng, n["embeddings"])
    for name, t in tables.items():
        pq.write_table(t, f"{out_dir}/{name}.parquet")
    keys = rng.choice(n["orders"], size=min(lookups, n["orders"]), replace=False)
    return [{"key": int(k), "o_custkey": int(o_cust[k]), "o_totalprice": float(o_total[k])}
            for k in keys]


def _stats(path):
    """Layout and per-column statistics of one parquet file."""
    import pyarrow.compute as pc
    f = pq.ParquetFile(path)
    t = f.read()
    cols = {}
    for name in t.column_names:
        c = t.column(name)
        if pa.types.is_list(c.type):
            c = pc.list_value_length(c)
        elif pa.types.is_timestamp(c.type):
            c = c.cast(pa.int64())
        if pa.types.is_string(c.type):
            lens = pc.utf8_length(c)
            cols[name] = {"distinct": pc.count_distinct(c).as_py(), "mean_len": pc.mean(lens).as_py()}
        else:
            p01, p50, p99 = pc.quantile(c, q=[0.01, 0.5, 0.99]).to_pylist()
            cols[name] = {"p01": p01, "p50": p50, "p99": p99, "mean": pc.mean(c).as_py(),
                          "distinct": pc.count_distinct(c).as_py()}
    return {"rows": t.num_rows, "row_groups": f.metadata.num_row_groups,
            "schema": str(t.schema.remove_metadata())}, cols


def _close(key, ref, got, span):
    """Whether two statistics agree up to sampling noise: distinct counts
    within 3 %, lengths within 3 %, quantiles and mean within 3 % of the
    reference's p01-p99 span (or 1 apart, for quantiles of small integer
    domains)."""
    if ref == got:
        return True
    if key == "distinct":
        return abs(got - ref) <= max(2, 0.03 * ref)
    if key == "mean_len":
        return abs(got - ref) <= 0.03 * ref
    whole = float(ref).is_integer() and float(got).is_integer()
    return abs(got - ref) <= (max(1, 0.03 * span) if whole else 0.03 * span)


def compare(ref_dir, seed=42):
    """Generate sf0.1 tables and print their layout and statistics next to
    the reference tables'. Returns the number of differences."""
    import tempfile
    bad = 0
    with tempfile.TemporaryDirectory() as out:
        generate(out, seed, 0.1)
        for name in ["region", "nation", *BASE]:
            (rl, rc), (gl, gc) = _stats(f"{ref_dir}/{name}.parquet"), _stats(f"{out}/{name}.parquet")
            same = rl == gl
            bad += not same
            print(f"{name}: rows {rl['rows']} / {gl['rows']}, row groups {rl['row_groups']} / "
                  f"{gl['row_groups']}, schema {'same' if rl['schema'] == gl['schema'] else 'DIFFERS'}"
                  + ("" if same else "  <-- layout differs"))
            for col, r in rc.items():
                g = gc.get(col, {})
                span = (r["p99"] - r["p01"]) if "p99" in r else 0
                off = [k for k in r if k not in g or not _close(k, r[k], g[k], span)]
                bad += bool(off)
                print(f"  {col}: " + ", ".join(f"{k} {r[k]:.6g} / {g.get(k, float('nan')):.6g}" for k in r)
                      + (f"  <-- {', '.join(off)} differ" if off else ""))
    print(f"{bad} difference(s) (reference / generated)")
    return bad


if __name__ == "__main__":
    import argparse
    ap = argparse.ArgumentParser(description="Compare generated tables with reference tables.")
    ap.add_argument("--compare", required=True, metavar="REF_DIR")
    ap.add_argument("--seed", type=int, default=42)
    a = ap.parse_args()
    sys.exit(1 if compare(a.compare, a.seed) else 0)
