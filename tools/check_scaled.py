#!/usr/bin/env python3
"""Audit the invariants gen_scaled.py claims for the scaled dataset.

The scaling exponents in BENCH are only meaningful if the 10x data keeps
the sf0.1 distribution. This checks the three preservation properties:

1. relational: row counts are exactly N x base; every lineitem/orders FK
   resolves (key offsets were applied consistently).
2. documents: exact-dup fingerprint groups scale exactly N x and NO group
   spans two copies (per-copy token bijection keeps the near-dup rate
   constant instead of giving every doc N-1 cross-copy twins).
3. embeddings: within-copy cosine structure is EXACTLY preserved (sign
   patterns cancel in same-copy dot products) and cross-copy cosines stay
   small (planted-free): checked on a deterministic sample.

Usage: python3 tools/check_scaled.py [--base DIR] [--scaled DIR] [--copies N]
Exit 0 + "ALL OK" when every invariant holds.
"""
import argparse
import sys

import duckdb
import numpy as np


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--scaled", default="target/testdata_10x")
    ap.add_argument("--copies", type=int, default=10)
    a = ap.parse_args()
    con = duckdb.connect()
    failures = []

    def check(name, ok, detail=""):
        print(f"{name:45s} {'OK' if ok else 'FAIL ' + detail}")
        if not ok:
            failures.append(name)

    # 1. row counts
    for t in ("customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"):
        nb = con.sql(f"SELECT count(*) FROM '{a.base}/{t}.parquet'").fetchone()[0]
        ns = con.sql(f"SELECT count(*) FROM '{a.scaled}/{t}.parquet'").fetchone()[0]
        check(f"rows {t} == {a.copies}x base", ns == a.copies * nb, f"{ns} vs {a.copies}*{nb}")
    for t in ("region", "nation"):
        nb = con.sql(f"SELECT count(*) FROM '{a.base}/{t}.parquet'").fetchone()[0]
        ns = con.sql(f"SELECT count(*) FROM '{a.scaled}/{t}.parquet'").fetchone()[0]
        check(f"dimension {t} fixed", ns == nb)

    # FK integrity
    for fk, pk, ft, pt in (
            ("l_orderkey", "o_orderkey", "lineitem", "orders"),
            ("l_partkey", "p_partkey", "lineitem", "part"),
            ("l_suppkey", "s_suppkey", "lineitem", "supplier"),
            ("o_custkey", "c_custkey", "orders", "customer")):
        orphans = con.sql(f"""
            SELECT count(*) FROM '{a.scaled}/{ft}.parquet' f
            LEFT JOIN '{a.scaled}/{pt}.parquet' p ON f.{fk} = p.{pk}
            WHERE p.{pk} IS NULL""").fetchone()[0]
        check(f"FK {ft}.{fk} -> {pt}.{pk}", orphans == 0, f"{orphans} orphans")

    # 2. document dup structure
    base_groups = con.sql(f"""
        SELECT count(*) FROM (SELECT md5(lower(trim(text))) f
        FROM '{a.base}/documents.parquet' GROUP BY 1 HAVING count(*) > 1)""").fetchone()[0]
    scaled_groups = con.sql(f"""
        SELECT count(*) FROM (SELECT md5(lower(trim(text))) f
        FROM '{a.scaled}/documents.parquet' GROUP BY 1 HAVING count(*) > 1)""").fetchone()[0]
    ndocs = con.sql(f"SELECT count(*) FROM '{a.base}/documents.parquet'").fetchone()[0]
    cross = con.sql(f"""
        SELECT count(*) FROM (
          SELECT md5(lower(trim(text))) f, count(DISTINCT doc_id // {ndocs}) nc
          FROM '{a.scaled}/documents.parquet' GROUP BY 1 HAVING nc > 1)""").fetchone()[0]
    check(f"dup groups == {a.copies}x base", scaled_groups == a.copies * base_groups,
          f"{scaled_groups} vs {a.copies}*{base_groups}")
    check("no dup group spans copies", cross == 0, f"{cross} cross-copy groups")

    # 3. embedding cosine preservation (deterministic sample: first 50 ids,
    #    copy 1): cos(s*a, s*b) must equal cos(a, b) bit-for-bit; cross-copy
    #    cos(a, s*a) must stay below the 0.9 near-dup threshold.
    nvec = con.sql(f"SELECT count(*) FROM '{a.base}/embeddings.parquet'").fetchone()[0]
    base_v = {r[0]: np.array(r[1], dtype=np.float32) for r in con.sql(
        f"SELECT vec_id, embedding FROM '{a.base}/embeddings.parquet' WHERE vec_id < 50").fetchall()}
    c1_v = {r[0] - nvec: np.array(r[1], dtype=np.float32) for r in con.sql(
        f"SELECT vec_id, embedding FROM '{a.scaled}/embeddings.parquet' "
        f"WHERE vec_id >= {nvec} AND vec_id < {nvec + 50}").fetchall()}

    def cos(x, y):
        x = x.astype(np.float64); y = y.astype(np.float64)
        return float(np.dot(x, y) / (np.linalg.norm(x) * np.linalg.norm(y)))

    ids = sorted(base_v)
    within_ok = all(
        cos(base_v[i], base_v[j]) == cos(c1_v[i], c1_v[j])
        for i in ids[:10] for j in ids[10:20])
    check("within-copy cosines bit-preserved", within_ok)
    cross_max = max(abs(cos(base_v[i], c1_v[i])) for i in ids)
    check("cross-copy cosine < 0.9 (no phantom near-dups)", cross_max < 0.9,
          f"max {cross_max:.3f}")

    if failures:
        print(f"\n{len(failures)} FAILURES")
        return 1
    print("\nALL OK")
    return 0


if __name__ == "__main__":
    sys.exit(main())
