"""Reference results for the core25 mix, computed with pandas over the parquet tables.

Each function follows the query's DuckDB oracle SQL in graft.queries.Q.oracle,
written again in pandas: nothing here calls the engine. A result is reduced to
its column names, its row count and an order-insensitive digest of its rows
(`digest`), which `run.py` compares with what the engine returned.

Regenerate the committed expectations after changing tables.py:
    python3 perfbench/core25_ref.py --write
Compare against another copy of the tables (for example the reference test
data, whose row counts the DuckDB oracle also reports):
    python3 perfbench/core25_ref.py --tables DIR
"""
import argparse
import hashlib
import json
import math
import os
import re
import sys

import pandas as pd
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED = os.path.join(HERE, "expected", "core25.json")

FY98 = (pd.Timestamp("1997-07-01"), pd.Timestamp("1998-06-30"))


def _load(tables_dir):
    def t(name):
        return pq.read_table(os.path.join(tables_dir, f"{name}.parquet")).to_pandas()
    return t


def _s(x):
    """Spark's cast(x as string) for the scalar types these tables hold."""
    if x is None or (isinstance(x, float) and math.isnan(x)):
        return None
    if isinstance(x, float):
        return repr(x)
    return str(x)


def _strip_decimal(x):
    s = _s(x)
    return None if s is None else re.sub(r"\.0$", "", s.strip())


def _date_str(ts):
    return ts.strftime("%Y-%m-%d")


def _frame(cols, rows):
    return cols, [tuple(r) for r in rows]


def q_scan_project(t):
    li = t("lineitem")
    return _frame(["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"],
                  li[["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"]].itertuples(index=False))


def q_filter_rlike(t):
    p = t("part")
    m = p[p.p_name.str.contains(r"(?i)(?:^|[ _])widget(?:[ _]|$)", regex=True)]
    return _frame(["p_partkey", "p_name"], m[["p_partkey", "p_name"]].itertuples(index=False))


def q_filter_isin(t):
    li = t("lineitem")
    m = li[li.l_returnflag.isin(["A", "N"])]
    return _frame(["l_orderkey", "l_linenumber", "l_returnflag"],
                  m[["l_orderkey", "l_linenumber", "l_returnflag"]].itertuples(index=False))


def q_filter_eq(t):
    o = t("orders")
    m = o[o.o_orderstatus.str.lower() == "f"]
    return _frame(["o_orderkey", "o_orderstatus"], m[["o_orderkey", "o_orderstatus"]].itertuples(index=False))


def q_filter_range_date(t):
    o = t("orders")
    m = o[(o.o_orderdate >= FY98[0]) & (o.o_orderdate <= FY98[1])]
    return _frame(["o_orderkey", "o_orderdate_d"],
                  ((k, _date_str(d)) for k, d in zip(m.o_orderkey, m.o_orderdate)))


def q_validate_format(t):
    c = t("customer")
    codes = [f"{k}-{n}" for k, n in zip(c.c_custkey, c.c_nationkey)]
    pat = re.compile(r"^[0-9]-[0-9]{1,2}$")
    return _frame(["c_custkey", "code"],
                  ((k, code) for k, code in zip(c.c_custkey, codes) if not pat.search(code)))


def q_derive_concat_key(t):
    c = t("customer")
    rows = []
    for k, n, seg, name in zip(c.c_custkey, c.c_nationkey, c.c_mktsegment, c.c_name):
        s = None if seg == "BUILDING" else seg
        rows.append((k, None if s is None else f"{k}-{s}", f"{k}-{s if s is not None else 'nan'}",
                     f"{k}{n}{seg[:2]}{name[:4]}"))
    return _frame(["c_custkey", "key_null", "key_nan", "key4"], rows)


def q_derive_strip_decimal(t):
    li = t("lineitem")
    return _frame(["l_orderkey", "l_linenumber", "qty_code"],
                  ((k, n, _strip_decimal(q)) for k, n, q in
                   zip(li.l_orderkey, li.l_linenumber, li.l_quantity)))


def q_derive_substr(t):
    p = t("part")
    return _frame(["p_partkey", "type5"], ((k, ty[:5]) for k, ty in zip(p.p_partkey, p.p_type)))


def _split_once(s, sep):
    if s is None:
        return None, None
    head, found, tail = s.partition(sep)
    return head, (tail if found else None)


def q_derive_split(t):
    p = t("part")
    rows = []
    for k, b, ty in zip(p.p_partkey, p.p_brand, p.p_type):
        bh, bt = _split_once(b, "#")
        th, tt = _split_once(ty, " ")
        rows.append((k, bh, bt, th, tt))
    return _frame(["p_partkey", "brand_head", "brand_tail", "type_head", "type_tail"], rows)


def _day_string(user_id):
    return "2024-01-" + str(user_id % 45).rjust(2, "0")


def _parse_day(ds):
    """try_to_timestamp of a '2024-01-DD' string: null unless DD is a January day."""
    return ds if 1 <= int(ds[-2:]) <= 31 else None


def q_derive_cast_date(t):
    e = t("events")
    rows = []
    for eid, uid in zip(e.event_id, e.user_id):
        ds = _day_string(int(uid))
        rows.append((eid, ds, _parse_day(ds)))
    return _frame(["event_id", "ds", "parsed_d"], rows)


def _blank(s):
    return s is None or s.strip() in ("", "nan", "NaN")


def q_derive_fill_default(t):
    o = t("orders")
    rows = []
    for k, st, pr in zip(o.o_orderkey, o.o_orderstatus, o.o_orderpriority):
        base = None if st == "P" else ("  " if st == "O" else pr)
        rows.append((k, "INT" if _blank(base) else base))
    return _frame(["o_orderkey", "filled"], rows)


def q_sort_limit_first(t):
    p = t("part")
    m = p[p.p_name.str.contains("(?i)bolt", regex=True)].sort_values("p_partkey").head(1)
    return _frame(["p_partkey", "p_name"], m[["p_partkey", "p_name"]].itertuples(index=False))


def q_join_lookup_left(t):
    o, c = t("orders"), t("customer")
    d = c[["c_custkey", "c_mktsegment"]].drop_duplicates()
    j = o.merge(d, how="left", left_on="o_custkey", right_on="c_custkey")
    return _frame(["o_orderkey", "c_mktsegment"],
                  ((k, None if pd.isna(s) else s) for k, s in zip(j.o_orderkey, j.c_mktsegment)))


def q_join_lookup_fallback(t):
    n, r = t("nation"), t("region")
    d = r[r.r_regionkey < 3][["r_regionkey", "r_name"]].drop_duplicates()
    j = n.merge(d, how="left", left_on="n_regionkey", right_on="r_regionkey")
    return _frame(["n_nationkey", "n_name", "resolved"],
                  ((k, nm, nm if pd.isna(rn) else rn) for k, nm, rn in zip(j.n_nationkey, j.n_name, j.r_name)))


def q_join_left_multi_key(t):
    li, s = t("lineitem"), t("supplier")
    d = pd.DataFrame({"s_suppkey": s.s_suppkey, "bucket": s.s_nationkey % 5,
                      "s_name": s.s_name}).drop_duplicates()
    left = li[["l_orderkey", "l_linenumber", "l_suppkey", "l_partkey"]].copy()
    left["pb"] = left.l_partkey % 5
    j = left.merge(d, how="left", left_on=["l_suppkey", "pb"], right_on=["s_suppkey", "bucket"])
    return _frame(["l_orderkey", "l_linenumber", "s_name"],
                  ((k, n, None if pd.isna(s) else s) for k, n, s in zip(j.l_orderkey, j.l_linenumber, j.s_name)))


def q_join_rowcount_guard(t):
    o, c = t("orders"), t("customer")
    d = c[["c_nationkey", "c_mktsegment"]].drop_duplicates()
    per_key = d.groupby("c_nationkey").size()
    keys = o.o_custkey % 25
    after = int(sum(max(int(per_key.get(k, 0)), 1) for k in keys))
    before = len(o)
    return _frame(["before_cnt", "after_cnt", "fanout"], [(before, after, after - before)])


def q_agg_mode_per_key(t):
    c = t("customer")
    g = c.dropna(subset=["c_nationkey"]).groupby(["c_mktsegment", "c_nationkey"]).size().reset_index(name="cnt")
    g = g.sort_values(["c_mktsegment", "cnt", "c_nationkey"], ascending=[True, False, True])
    first = g.groupby("c_mktsegment").head(1)
    return _frame(["c_mktsegment", "mode_nationkey", "cnt"],
                  first[["c_mktsegment", "c_nationkey", "cnt"]].itertuples(index=False))


def q_agg_minmax(t):
    o = t("orders")
    return _frame(["min_od", "max_od", "cnt"],
                  [(_date_str(o.o_orderdate.min()), _date_str(o.o_orderdate.max()), len(o))])


def q_agg_null_count(t):
    e = t("events")
    n_null = sum(_parse_day(_day_string(int(u))) is None for u in e.user_id)
    return _frame(["n_null", "n_total"], [(n_null, len(e))])


def q_dedup_business_key(t):
    li = t("lineitem")
    s = li.sort_values(["l_orderkey", "l_linenumber", "l_partkey"]).groupby("l_orderkey").head(1)
    return _frame(["l_orderkey", "l_linenumber", "l_partkey"],
                  s[["l_orderkey", "l_linenumber", "l_partkey"]].itertuples(index=False))


def q_dedup_full_row(t):
    li = t("lineitem")
    d = li[["l_returnflag", "l_linestatus"]].drop_duplicates()
    return _frame(["l_returnflag", "l_linestatus"], d.itertuples(index=False))


def q_union_harmonize(t):
    o = t("orders")
    rows = [(k, st, (p if st == "F" else None))
            for k, st, p in zip(o.o_orderkey, o.o_orderstatus, o.o_totalprice)]
    return _frame(["o_orderkey", "o_orderstatus", "o_totalprice"], rows)


def q_project_rename(t):
    c = t("customer")
    return _frame(["cust_id", "customer_name", "segment", "middle_name", "nation_code"],
                  ((k, n, s, None, nk) for k, n, s, nk in
                   zip(c.c_custkey, c.c_name, c.c_mktsegment, c.c_nationkey)))


def q_pipeline_pretam(t):
    li, o, p = t("lineitem"), t("orders"), t("part")
    f = li[(li.l_shipdate >= FY98[0]) & (li.l_shipdate <= FY98[1])].copy()
    f["li_key"] = [f"{k}-{n}" for k, n in zip(f.l_orderkey, f.l_linenumber)]
    f["qty_code"] = [_strip_decimal(q) for q in f.l_quantity]
    od = o[["o_orderkey", "o_orderstatus"]].drop_duplicates()
    pdim = p[p.p_size <= 25][["p_partkey", "p_name", "p_brand"]].drop_duplicates()
    j = f.merge(od, how="left", left_on="l_orderkey", right_on="o_orderkey")
    j = j.merge(pdim, how="left", left_on="l_partkey", right_on="p_partkey")
    j = j.sort_values(["l_orderkey", "l_partkey", "l_linenumber", "l_quantity"])
    d = j.groupby(["l_orderkey", "l_partkey"]).head(1)
    rows = ((rk, pk, None if pd.isna(st) else st, "UNKNOWN" if pd.isna(nm) else nm,
             None if pd.isna(br) else br, q, "INT")
            for rk, pk, st, nm, br, q in zip(d.li_key, d.l_partkey, d.o_orderstatus,
                                             d.p_name, d.p_brand, d.qty_code))
    return _frame(["row_key", "item_code", "order_status", "item_name", "brand",
                   "qty_code", "adj_reason_code"], rows)


QUERIES = {f.__name__: f for f in (
    q_agg_minmax, q_agg_mode_per_key, q_agg_null_count, q_dedup_business_key,
    q_dedup_full_row, q_derive_cast_date, q_derive_concat_key, q_derive_fill_default,
    q_derive_split, q_derive_strip_decimal, q_derive_substr, q_filter_eq,
    q_filter_isin, q_filter_range_date, q_filter_rlike, q_join_left_multi_key,
    q_join_lookup_fallback, q_join_lookup_left, q_join_rowcount_guard,
    q_pipeline_pretam, q_project_rename, q_scan_project, q_sort_limit_first,
    q_union_harmonize, q_validate_format)}


def canon(v):
    """One value as text, the same whether it came from pandas or from JSON."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return str(v).lower()
    if hasattr(v, "item"):  # numpy scalar
        v = v.item()
    if isinstance(v, float):
        if math.isnan(v):
            return "\\N"
        return repr(v)
    return str(v)


def digest(rows):
    """Order-insensitive digest of rows: sha256 over the sorted canonical lines."""
    lines = sorted("\x1f".join(canon(v) for v in r) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:20]


def summarize(cols, rows):
    rows = list(rows)
    return {"columns": cols, "rows": len(rows), "digest": digest(rows)}


def reference(tables_dir):
    t_cache = {}
    load = _load(tables_dir)

    def t(name):
        if name not in t_cache:
            t_cache[name] = load(name)
        return t_cache[name]
    return {name: summarize(*fn(t)) for name, fn in sorted(QUERIES.items())}


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--tables", help="directory of parquet tables (default: generate them)")
    ap.add_argument("--write", action="store_true", help=f"write {os.path.relpath(EXPECTED)}")
    a = ap.parse_args()
    sys.path.insert(0, HERE)
    import tables
    fingerprint = None
    tables_dir = a.tables
    if tables_dir is None:
        import tempfile
        tables_dir = tempfile.mkdtemp(prefix="core25_tables_", dir=HERE)
    try:
        if a.tables is None:
            fingerprint = tables.generate(tables_dir, sf=0.01, seed=42)
        ref = reference(tables_dir)
    finally:
        if a.tables is None:
            import shutil
            shutil.rmtree(tables_dir)
    if a.write:
        with open(EXPECTED, "w") as f:
            json.dump({"tables": {"sf": 0.01, "seed": 42, "fingerprint": fingerprint},
                       "queries": ref}, f, indent=1, sort_keys=True)
            f.write("\n")
    for name, r in ref.items():
        print(f"{name:28s} rows={r['rows']:6d} digest={r['digest']}")


if __name__ == "__main__":
    main()
