"""Seeded fixture generator for the benchmark.

Writes, under an output directory:

* ``tables/<name>.parquet`` -- the ten suite tables (TPC-H-like star
  schema, ``events``, ``documents``, ``embeddings``) with the column
  names, types and value domains the query packs expect;
* ``scan/`` -- ``lineitem`` as ~16 ``l_orderkey``-range files;
* ``many/`` -- ``lineitem`` as ~2,000 small files, hive-partitioned by
  ``l_returnflag`` and ranged by ``l_orderkey`` within each partition;
* ``manifest.json`` -- per share fixture: every file's relative path,
  size, partition values, true Delta stats and the compressed bytes of
  each column chunk (from the parquet footer), so the benchmark can
  tell how many bytes a query needs.

The same ``(seed, sf)`` always yields byte-identical inputs.

    python3 perfbench/datagen.py --seed 7 --sf 0.1 --out <dir>
"""
import argparse
import json
import os
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["large", "hot", "blue", "cold", "red", "small", "new", "old"]
NOUN = ["ring", "bolt", "plate", "gear", "rod", "anvil", "widget", "gizmo"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]

SCAN_FILES = 16
MANY_RANGES = 667  # x 3 return flags = 2,001 files
STATS_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
              "l_quantity", "l_discount", "l_tax", "l_linestatus"]


def _days(rng, n, start, span):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=max(1, table.num_rows))


def _sizes(sf):
    return dict(cust=max(150, int(150_000 * sf)), supp=max(10, int(10_000 * sf)),
                part=max(200, int(200_000 * sf)), ord=max(1500, int(1_500_000 * sf)),
                ev=max(1000, int(1_000_000 * sf)), doc=max(500, int(50_000 * sf)),
                emb=max(500, int(20_000 * sf)), user=max(15, int(15_000 * sf)))


def make_lineitem(seed, sf):
    """lineitem, sorted by (l_orderkey, l_linenumber): 1-7 lines per
    order, so the pair is a key."""
    n = _sizes(sf)
    rng = np.random.default_rng([seed, 1])
    lines = rng.integers(1, 8, n["ord"])
    okey = np.repeat(np.arange(n["ord"]), lines)
    starts = np.cumsum(lines) - lines
    lnum = np.arange(len(okey)) - np.repeat(starts, lines) + 1
    n_li = len(okey)
    return pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supp"], n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, n_li, "1995-01-02", 2499)})


def make_tables(seed, sf, li):
    """The ten suite tables; ``li`` is :func:`make_lineitem`'s output."""
    n = _sizes(sf)
    rng = np.random.default_rng([seed, 2])
    n_cust, n_supp, n_part, n_ord = n["cust"], n["supp"], n["part"], n["ord"]
    n_ev, n_doc, n_emb, n_user = n["ev"], n["doc"], n["emb"], n["user"]
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = np.array([f"{a} {n}" for a in ADJ for n in NOUN])
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", 2405),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    # the suite table is stored unclustered; the share layouts sort it
    t["lineitem"] = li.take(pa.array(rng.permutation(li.num_rows)))
    micros = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + micros.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, n_user, n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(np.minimum(rng.exponential(50.0, n_ev), 560.0), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)])
             for k in rng.integers(8, 100, n_doc)]
    # a few exact and near duplicates for the dedup operators
    for j in rng.choice(np.arange(n_doc // 2, n_doc), max(4, n_doc // 50),
                        replace=False):
        i = int(rng.integers(0, n_doc // 2))
        texts[j] = texts[i] if j % 3 == 0 else texts[i] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    vec = rng.standard_normal((n_emb, 64))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vec.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return t



def _py(v):
    return v.item() if isinstance(v, np.generic) else v


def _stats(table, ranges):
    """True Delta stats of each [lo, hi) row range of ``table``."""
    starts = np.array([lo for lo, _ in ranges])
    mins, maxs = [{} for _ in ranges], [{} for _ in ranges]
    for c in STATS_COLS:
        if c not in table.column_names:
            continue
        arr = table.column(c).to_numpy()
        if arr.dtype == object:
            labels, codes = np.unique(arr, return_inverse=True)
            lo_v, hi_v = (labels[np.minimum.reduceat(codes, starts)],
                          labels[np.maximum.reduceat(codes, starts)])
        else:
            lo_v, hi_v = np.minimum.reduceat(arr, starts), np.maximum.reduceat(arr, starts)
        for i in range(len(ranges)):
            mins[i][c], maxs[i][c] = _py(lo_v[i]), _py(hi_v[i])
    return [json.dumps({"numRecords": int(hi - lo), "minValues": mins[i],
                        "maxValues": maxs[i], "nullCount": {c: 0 for c in mins[i]}})
            for i, (lo, hi) in enumerate(ranges)]


def _write_file(out, rel, table, part, stats):
    """Write one share file; return its manifest entry: size, stats and
    the footer and per-column compressed chunk bytes."""
    path = os.path.join(out, rel)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    collected = []
    pq.write_table(table, path, row_group_size=max(1, table.num_rows),
                   metadata_collector=collected)
    md = collected[0]
    chunks, data_end = {}, 4
    for rg in range(md.num_row_groups):
        for c in range(md.num_columns):
            col = md.row_group(rg).column(c)
            chunks[col.path_in_schema] = (chunks.get(col.path_in_schema, 0)
                                          + col.total_compressed_size)
            first = min(o for o in (col.dictionary_page_offset, col.data_page_offset)
                        if o is not None)
            data_end = max(data_end, first + col.total_compressed_size)
    size = os.path.getsize(path)
    return {"path": rel, "size": size, "partitionValues": part, "stats": stats,
            "footer": size - data_end, "chunks": chunks}


def _ranges(n, k):
    """k contiguous [lo, hi) index ranges covering n rows."""
    edges = np.linspace(0, n, k + 1).astype(int)
    return [(edges[i], edges[i + 1]) for i in range(k) if edges[i + 1] > edges[i]]


def _layout(out, table, prefix, k, part):
    ranges = _ranges(table.num_rows, k)
    stats = _stats(table, ranges)
    with ThreadPoolExecutor(4) as pool:
        return list(pool.map(
            lambda i: _write_file(out, f"{prefix}/part-{i:05d}.parquet",
                                  table.slice(ranges[i][0], ranges[i][1] - ranges[i][0]),
                                  part, stats[i]),
            range(len(ranges))))


def make_share_layouts(li, out, parts):
    manifest = {}
    if "scan" in parts:
        manifest["lineitem_scan"] = {"partitionColumns": [],
                                     "files": _layout(out, li, "scan", SCAN_FILES, {})}
    if "many" in parts:
        flags = li.column("l_returnflag").to_numpy(zero_copy_only=False)
        body = li.drop_columns(["l_returnflag"])
        files = []
        for flag in ["A", "N", "R"]:
            files += _layout(out, body.filter(pa.array(flags == flag)),
                             f"many/l_returnflag={flag}", MANY_RANGES, {"l_returnflag": flag})
        manifest["lineitem_many"] = {"partitionColumns": ["l_returnflag"], "files": files}
    return manifest


def generate(seed, sf, out, parts=("tables", "scan", "many")):
    """Write the requested parts: "tables", "scan", "many"."""
    li = make_lineitem(seed, sf)
    if "tables" in parts:
        for name, table in make_tables(seed, sf, li).items():
            _write(table, os.path.join(out, "tables", f"{name}.parquet"))
    manifest = make_share_layouts(li, out, parts)
    manifest["rows"] = li.num_rows
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    return manifest


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.seed, a.sf, a.out)


if __name__ == "__main__":
    main()
