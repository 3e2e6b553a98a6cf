#!/usr/bin/env python3
"""Generate an N-times-scaled copy of a testdata dir (default: 10x sf0.1).

Driver-side tooling only (pyarrow/numpy, like tools/check_oracle.py) — the
engine under test never imports this. The scaled dataset feeds Bench's
empirical scaling block: Bench re-runs its 10 most expensive queries against
target/testdata_10x (if present) and reports per-query growth exponents,
turning the "plans survive a 10x scale-up" claim into a measured number.

Scaling must preserve the DATA DISTRIBUTION, not just the row count, or the
exponents measure a different problem:

- relational tables (customer/supplier/part/orders/lineitem/events): N key-
  offset copies; foreign keys are offset consistently so join fan-outs and
  group cardinalities scale linearly, dates/values untouched (per-year
  series stay 7 years long — only the rows aggregated per year grow).
- documents: N copies under a PER-COPY TOKEN BIJECTION (every whitespace
  token gets the copy digit appended). A bijective token rename preserves
  every within-copy similarity statistic EXACTLY (shingle sets biject, so
  Jaccard, minhash collisions, simhash distances, and exact-dup groups are
  copy-invariant) while cross-copy token sets are disjoint — so the
  near-duplicate RATE stays constant instead of every doc gaining N-1
  cross-copy twins (which would grow LSH output quadratically and poison
  the exponent). Naive replication (identical text) is even worse: every
  doc becomes an exact dup. copy 0 is the original bytes.
- embeddings: N copies under a per-copy deterministic SIGN PATTERN
  (element i of copy c flipped iff bit-parity of (c*1315423911 + i) says
  so). Sign flips are exact in IEEE floats and cancel in within-copy dot
  products (cos(s*a, s*b) == cos(a, b) bit-for-bit), while cross-copy
  cosines scatter to ~0 — constant near-dup structure at N times the rows.
- region/nation: fixed dimensions, copied verbatim (as in TPC-H).

Everything is deterministic — no RNG.

Usage: python3 tools/gen_scaled.py [--src DIR] [--dst DIR] [--copies N]
"""
import argparse
import os
import re
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TOKEN_SPLIT = re.compile(r"(\s+)")


def read(src, name):
    return pq.read_table(os.path.join(src, f"{name}.parquet"))


def write(dst, name, table):
    # cap rows per row group: Spark's parquet scan parallelism is bounded by
    # row-group count, and pyarrow's default (1M rows) makes every scaled
    # table a ONE-row-group file — which serializes the whole scan+project
    # stage of projection-shaped queries onto a single core at every scale
    # (r6 finding: text_pii_scrub at 100x spent 141 s on one core). 64
    # groups per table mirrors a real lakehouse layout where parallelism
    # comes from file/row-group count.
    rg = max(8192, table.num_rows // 64)
    pq.write_table(table, os.path.join(dst, f"{name}.parquet"),
                   row_group_size=rg)
    print(f"  {name}: {table.num_rows} rows (row_group_size={rg})")


def offset_copy(table, copies, offsets):
    """N copies with per-copy key offsets: offsets = {col: stride}."""
    out = []
    for c in range(copies):
        t = table
        if c > 0:
            for col, stride in offsets.items():
                idx = t.schema.get_field_index(col)
                shifted = pc.add(t.column(col), pa.scalar(c * stride, t.schema.field(col).type))
                t = t.set_column(idx, t.schema.field(col), shifted)
        out.append(t)
    return pa.concat_tables(out)


# --widen-range: per-copy offset applied to the acctbal VALUE columns, far
# larger than the base value span (~[-1000, 10000]) plus any band epsilon.
# Key-offset copies leave values in a FIXED range, so value-band occupancy
# (and hence band-join candidate pairs) grows quadratically with copies —
# the r7 1000x sweep measured join_band_balance at e3=1.85 from exactly
# this harness geometry. Real corpus growth widens the value range too;
# with the offset, within-copy band pairs are preserved verbatim and
# cross-copy pairs are impossible (gap >> epsilon), so total pairs scale
# exactly linearly and the measured exponent grades the OPERATOR, not the
# generator.
ACCTBAL_STRIDE = 100000.0


def stride(table, col):
    """Key stride: max+1, so copies never collide even with sparse keys."""
    return pc.max(table.column(col)).as_py() + 1


def suffix_tokens(text, tag):
    return "".join(
        part if i % 2 == 1 or not part else part + tag
        for i, part in enumerate(TOKEN_SPLIT.split(text))
    )


def scale_documents(table, copies):
    texts = table.column("text").to_pylist()
    ids = table.column("doc_id").to_pylist()
    langs = table.column("lang")
    sources = table.column("source")
    doc_stride = max(ids) + 1
    out = [table]
    for c in range(1, copies):
        tag = str(c)
        new_texts = [suffix_tokens(t, tag) for t in texts]
        out.append(
            pa.table(
                {
                    "doc_id": pa.array([i + c * doc_stride for i in ids], pa.int64()),
                    "text": pa.array(new_texts, pa.string()),
                    "lang": langs,
                    "source": sources,
                    "n_chars": pa.array([len(t) for t in new_texts], pa.int64()),
                },
                schema=table.schema,
            )
        )
    return pa.concat_tables(out)


def scale_embeddings(table, copies):
    ids = np.asarray(table.column("vec_id").to_pylist(), dtype=np.int64)
    labels = table.column("label")
    vecs = np.asarray(table.column("embedding").to_pylist(), dtype=np.float32)
    dim = vecs.shape[1]
    vec_stride = int(ids.max()) + 1
    out = [table]
    for c in range(1, copies):
        h = (np.uint64(c) * np.uint64(1315423911)
             + np.arange(dim, dtype=np.uint64)) * np.uint64(2654435761)
        h ^= h >> np.uint64(16)
        signs = np.where(h & np.uint64(1) == 0, np.float32(1.0), np.float32(-1.0))
        flipped = vecs * signs  # exact: sign flips never round
        out.append(
            pa.table(
                {
                    "vec_id": pa.array(ids + c * vec_stride),
                    "embedding": pa.array(list(flipped), pa.list_(pa.float32())),
                    "label": labels,
                },
                schema=table.schema,
            )
        )
    return pa.concat_tables(out)


SUFFIX_SUB = re.compile(r"(\S+)")


class GroupedStreamWriter:
    """One ParquetWriter fed in EXACT flush_at-row groups: pending batches
    are concatenated and sliced at flush_at with the tail CARRIED into the
    next flush, so a streamed dir reproduces the batch writer's uniform
    rows//64 geometry instead of the old flush-all shape (one big group +
    a small remainder per flush -- ~2x the groups, uneven scan tasks; r8
    measured 125 vs 64 groups and a -4% scan effect on label-prop decade
    rows). Memory held is < flush_at + one input batch of rows."""

    def __init__(self, path, schema, flush_at):
        self.writer = pq.ParquetWriter(path, schema)
        self.flush_at = flush_at
        self.pending = []
        self.pending_rows = 0

    def add(self, t):
        self.pending.append(t)
        self.pending_rows += t.num_rows
        while self.pending_rows >= self.flush_at:
            buf = pa.concat_tables(self.pending)
            self.writer.write_table(buf.slice(0, self.flush_at),
                                    row_group_size=self.flush_at)
            tail = buf.slice(self.flush_at)
            self.pending = [tail]
            self.pending_rows = tail.num_rows

    def close(self):
        if self.pending_rows > 0:
            self.writer.write_table(pa.concat_tables(self.pending),
                                    row_group_size=self.flush_at)
        self.writer.close()


def scale_documents_stream(src, dst, copies):
    """Streaming variant for very large copy counts (the docs-only decade-5
    dir): per-copy tables are written through one ParquetWriter in ~250k-row
    chunks instead of concatenated in memory (50M docs of python strings
    would be ~15 GB), and the token tag is appended with a single C-level
    regex substitution per text instead of the piecewise split."""
    table = read(src, "documents")
    texts = table.column("text").to_pylist()
    ids = table.column("doc_id").to_pylist()
    langs = table.column("lang")
    sources = table.column("source")
    doc_stride = max(ids) + 1
    # row-group parity with the full-dir path (see scale_rel_stream),
    # capped so a flush of python-built string tables stays in memory
    flush_at = min(2000000, max(8192, table.num_rows * copies // 64))
    writer = GroupedStreamWriter(
        os.path.join(dst, "documents.parquet"), table.schema, flush_at)
    writer.add(table)
    total = table.num_rows
    for c in range(1, copies):
        tag = str(c)
        rep = r"\g<1>" + tag
        new_texts = [SUFFIX_SUB.sub(rep, t) for t in texts]
        writer.add(pa.table({
            "doc_id": pa.array([i + c * doc_stride for i in ids], pa.int64()),
            "text": pa.array(new_texts, pa.string()),
            "lang": langs,
            "source": sources,
            "n_chars": pa.array([len(t) for t in new_texts], pa.int64()),
        }, schema=table.schema))
        total += table.num_rows
    writer.close()
    print(f"  documents: {total} rows (streamed, row_group_size={flush_at})")


def scale_rel_stream(src, dst, name, copies, offsets):
    """Streamed key-offset copies for any relational table (the events
    writer generalized): per-copy shifted key columns are built one copy at
    a time and flushed through one ParquetWriter, so a 1000-copy lineitem
    never concatenates in memory. Non-offset columns are zero-copy
    references to the base table's arrow buffers. Row-group geometry
    matches the full-dir path (`write()`: rows//64) — scan parallelism is
    row-group-bound, so a streamed dir with many more groups than the
    batch-built one measures a DIFFERENT problem (the r8-s2 label-prop
    decade rows were 600-group vs 64-group dirs)."""
    table = read(src, name)
    # the 2M cap bounds ParquetWriter's in-memory group (a 1000-copy
    # lineitem would otherwise buffer ~9.4M wide rows per group); past the
    # cap the dir carries more, uniform, groups than the batch writer's 64
    # -- the accepted memory/parity trade (the documents writer's rule)
    flush_at = min(2000000, max(8192, table.num_rows * copies // 64))
    writer = GroupedStreamWriter(
        os.path.join(dst, f"{name}.parquet"), table.schema, flush_at)
    total = 0
    for c in range(copies):
        t = table
        if c > 0:
            for col, s in offsets.items():
                idx = t.schema.get_field_index(col)
                shifted = pc.add(t.column(col),
                                 pa.scalar(c * s, t.schema.field(col).type))
                t = t.set_column(idx, t.schema.field(col), shifted)
        writer.add(t)
        total += t.num_rows
    writer.close()
    print(f"  {name}: {total} rows (streamed, row_group_size={flush_at})")


def scale_events_stream(src, dst, copies):
    """Streaming offset-copy for the events table at very large copy counts
    (the events-only decade-4 dir: 1000 copies of 1e5 rows would otherwise
    concat ~8 GB of python-held arrow tables). Same key-offset semantics as
    the full-dir path: event_id/user_id strides, dates/values untouched."""
    table = read(src, "events")
    ev_stride = stride(table, "event_id")
    us_stride = stride(table, "user_id")
    # row-group parity with the full-dir path, memory-capped like
    # scale_rel_stream
    flush_at = min(2000000, max(8192, table.num_rows * copies // 64))
    writer = GroupedStreamWriter(
        os.path.join(dst, "events.parquet"), table.schema, flush_at)
    total = 0
    for c in range(copies):
        t = table
        if c > 0:
            for col, s in (("event_id", ev_stride), ("user_id", us_stride)):
                idx = t.schema.get_field_index(col)
                shifted = pc.add(t.column(col),
                                 pa.scalar(c * s, t.schema.field(col).type))
                t = t.set_column(idx, t.schema.field(col), shifted)
        writer.add(t)
        total += t.num_rows
    writer.close()
    print(f"  events: {total} rows (streamed, row_group_size={flush_at})")


def scale_embeddings_stream(src, dst, copies):
    """Streaming twin of scale_embeddings for very large copy counts."""
    table = read(src, "embeddings")
    ids = np.asarray(table.column("vec_id").to_pylist(), dtype=np.int64)
    labels = table.column("label")
    vecs = np.asarray(table.column("embedding").to_pylist(), dtype=np.float32)
    dim = vecs.shape[1]
    vec_stride = int(ids.max()) + 1
    # row-group parity with the full-dir path (see scale_rel_stream)
    flush_at = min(2000000, max(8192, table.num_rows * copies // 64))
    writer = GroupedStreamWriter(
        os.path.join(dst, "embeddings.parquet"), table.schema, flush_at)
    writer.add(table)
    total = table.num_rows
    for c in range(1, copies):
        h = (np.uint64(c) * np.uint64(1315423911)
             + np.arange(dim, dtype=np.uint64)) * np.uint64(2654435761)
        h ^= h >> np.uint64(16)
        signs = np.where(h & np.uint64(1) == 0, np.float32(1.0), np.float32(-1.0))
        flipped = vecs * signs
        writer.add(pa.table({
            "vec_id": pa.array(ids + c * vec_stride),
            "embedding": pa.array(list(flipped), pa.list_(pa.float32())),
            "label": labels,
        }, schema=table.schema))
        total += table.num_rows
    writer.close()
    print(f"  embeddings: {total} rows (streamed, row_group_size={flush_at})")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", default="/root/testdata/sf0.1")
    ap.add_argument("--dst", default="target/testdata_10x")
    ap.add_argument("--copies", type=int, default=10)
    ap.add_argument("--tables", default="",
                    help="comma-separated subset (e.g. documents,embeddings) "
                         "for partial decade dirs; empty = all tables")
    ap.add_argument("--widen-range", action="store_true",
                    help="offset customer/supplier acctbal per copy so "
                         "value-band density stays constant (real-growth "
                         "geometry for band joins; see ACCTBAL_STRIDE)")
    args = ap.parse_args()
    os.makedirs(args.dst, exist_ok=True)
    n = args.copies
    subset = set(t for t in args.tables.split(",") if t)
    known = {"region", "nation", "customer", "supplier", "part", "orders",
             "lineitem", "events", "documents", "embeddings"}
    unknown = subset - known
    if unknown:
        ap.error(f"unknown --tables entries {sorted(unknown)}; "
                 f"known tables: {sorted(known)}")
    print(f"scaling {args.src} x{n} -> {args.dst}"
          + (f" (tables: {sorted(subset)})" if subset else "")
          + (" [widen-range]" if args.widen_range else ""))

    def cust_offsets(customer):
        o = {"c_custkey": stride(customer, "c_custkey")}
        if args.widen_range:
            o["c_acctbal"] = ACCTBAL_STRIDE
        return o

    def supp_offsets(supplier):
        o = {"s_suppkey": stride(supplier, "s_suppkey")}
        if args.widen_range:
            o["s_acctbal"] = ACCTBAL_STRIDE
        return o

    if subset:
        # partial dir: copy the fixed dims, stream-scale the asked tables
        for name in ("region", "nation"):
            write(args.dst, name, read(args.src, name))
        if "customer" in subset:
            customer = read(args.src, "customer")
            write(args.dst, "customer",
                  offset_copy(customer, n, cust_offsets(customer)))
        if "supplier" in subset:
            supplier = read(args.src, "supplier")
            write(args.dst, "supplier",
                  offset_copy(supplier, n, supp_offsets(supplier)))
        if "part" in subset:
            part = read(args.src, "part")
            write(args.dst, "part",
                  offset_copy(part, n, {"p_partkey": stride(part, "p_partkey")}))
        if "orders" in subset or "lineitem" in subset:
            # strides from the BASE tables so orders/lineitem stay
            # referentially consistent with each other (and with any
            # customer/supplier copies built above)
            cust_stride = stride(read(args.src, "customer"), "c_custkey")
            supp_stride = stride(read(args.src, "supplier"), "s_suppkey")
            part_stride = stride(read(args.src, "part"), "p_partkey")
            order_stride = stride(read(args.src, "orders"), "o_orderkey")
            if "orders" in subset:
                scale_rel_stream(args.src, args.dst, "orders", n,
                                 {"o_orderkey": order_stride,
                                  "o_custkey": cust_stride})
            if "lineitem" in subset:
                scale_rel_stream(args.src, args.dst, "lineitem", n,
                                 {"l_orderkey": order_stride,
                                  "l_partkey": part_stride,
                                  "l_suppkey": supp_stride})
        if "events" in subset:
            scale_events_stream(args.src, args.dst, n)
        if "documents" in subset:
            scale_documents_stream(args.src, args.dst, n)
        if "embeddings" in subset:
            scale_embeddings_stream(args.src, args.dst, n)
        print("done")
        return

    for name in ("region", "nation"):
        write(args.dst, name, read(args.src, name))

    customer = read(args.src, "customer")
    supplier = read(args.src, "supplier")
    part = read(args.src, "part")
    orders = read(args.src, "orders")
    cust_stride = stride(customer, "c_custkey")
    supp_stride = stride(supplier, "s_suppkey")
    part_stride = stride(part, "p_partkey")
    order_stride = stride(orders, "o_orderkey")

    write(args.dst, "customer", offset_copy(customer, n, cust_offsets(customer)))
    write(args.dst, "supplier", offset_copy(supplier, n, supp_offsets(supplier)))
    write(args.dst, "part", offset_copy(part, n, {"p_partkey": part_stride}))
    write(args.dst, "orders", offset_copy(
        orders, n, {"o_orderkey": order_stride, "o_custkey": cust_stride}))
    lineitem = read(args.src, "lineitem")
    write(args.dst, "lineitem", offset_copy(lineitem, n, {
        "l_orderkey": order_stride,
        "l_partkey": part_stride,
        "l_suppkey": supp_stride,
    }))
    events = read(args.src, "events")
    write(args.dst, "events", offset_copy(events, n, {
        "event_id": stride(events, "event_id"),
        "user_id": stride(events, "user_id"),
    }))
    write(args.dst, "documents", scale_documents(read(args.src, "documents"), n))
    write(args.dst, "embeddings", scale_embeddings(read(args.src, "embeddings"), n))
    print("done")


if __name__ == "__main__":
    sys.exit(main())
