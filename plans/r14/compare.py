import hashlib, os, sys, glob
import pyarrow.parquet as pq
# compare.py dirA dirB: order-independent row hash of each table, partition values included
def table_rows(d):
    rows = []
    for f in glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True):
        parts = tuple(p for p in os.path.relpath(f, d).split(os.sep)[:-1])
        t = pq.read_table(f)
        cols = t.column_names
        for r in t.to_pylist():
            rows.append(repr(parts) + repr(tuple((c, r[c]) for c in cols)))
    rows.sort()
    return len(rows), hashlib.sha256("\n".join(rows).encode()).hexdigest()
ok = True
for tbl in ["nodes", "edges", "metrics", "manifest", "staging"]:
    a = table_rows(os.path.join(sys.argv[1], tbl)); b = table_rows(os.path.join(sys.argv[2], tbl))
    fa = len(glob.glob(os.path.join(sys.argv[1], tbl, "**", "*.parquet"), recursive=True))
    fb = len(glob.glob(os.path.join(sys.argv[2], tbl, "**", "*.parquet"), recursive=True))
    print(tbl, "rows", a[0], b[0], "files", fa, fb, a[1][:16], b[1][:16], "EQUAL" if a == b else "DIFFER")
    ok &= a == b
print("ALL EQUAL" if ok else "MISMATCH")
