"""Build an sfN-scale replica of an existing sf dir for LOCAL measurement.

The driver's round-end bench may run at a larger, driver-generated scale
factor (BENCH_r06 recorded sf=1.0).  That data is not on disk between
rounds, so for before/after measurements we up-sample sf0.1 by an integer
factor with deterministic id shifts.  Only used by bench_extra.py runs
cited in OPTIMIZATION_r07.md — never by bench.py or any declared query.

Usage: python tools/make_sf_replica.py /root/testdata/sf0.1 /root/sf1.0 10
"""

from __future__ import annotations

import os
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]

# Small dims are copied as-is; fact tables get replicated with shifted keys.
COPY_ONLY = {"region", "nation"}

# replica k adds k * SHIFT to every id column, so ids must stay below it
SHIFT = 10_000_000

ID_COLS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def replicate(src: str, dst: str, factor: int) -> None:
    os.makedirs(dst, exist_ok=True)
    for t in TABLES:
        path = os.path.join(src, f"{t}.parquet")
        tab = pq.read_table(path)
        if t in COPY_ONLY or factor == 1:
            pq.write_table(tab, os.path.join(dst, f"{t}.parquet"))
            print(t, tab.num_rows, "(copied)")
            continue
        n = tab.num_rows
        reps = []
        id_cols = [c for c in ID_COLS.get(t, []) if c in tab.column_names]
        for c in id_cols:
            top = pc.max(tab.column(c)).as_py()
            if top is not None and top >= SHIFT:
                raise ValueError(f"{t}.{c} max {top} >= {SHIFT}: replica ids would collide")
        for k in range(factor):
            rep = tab
            if k > 0:
                for c in id_cols:
                    col = rep.column(c)
                    shifted = pc.add(col, pa.scalar(k * SHIFT, type=col.type))
                    rep = rep.set_column(rep.column_names.index(c), c, shifted)
                if t == "documents":
                    # keep ~half the replicas byte-identical (organic dup
                    # clusters), perturb the rest so near-dup kernels see
                    # fresh shingles too
                    txt = rep.column("text")
                    doc = rep.column("doc_id")
                    odd = pc.equal(pc.bit_wise_and(doc, pa.scalar(1, type=doc.type)),
                                   pa.scalar(1, type=doc.type))
                    perturbed = pc.binary_join_element_wise(
                        txt, pa.scalar(f"r{k}"), pa.scalar(" "))
                    rep = rep.set_column(
                        rep.column_names.index("text"), "text",
                        pc.if_else(odd, perturbed, txt))
            reps.append(rep)
        out = pa.concat_tables(reps)
        pq.write_table(out, os.path.join(dst, f"{t}.parquet"),
                       row_group_size=max(65536, out.num_rows // 32))
        print(t, out.num_rows)


if __name__ == "__main__":
    if len(sys.argv) != 4:
        sys.exit("usage: python tools/make_sf_replica.py SRC_SF_DIR DST_DIR FACTOR")
    src, dst, factor = sys.argv[1], sys.argv[2], int(sys.argv[3])
    replicate(src, dst, factor)
