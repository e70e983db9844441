import hashlib, os, sys, glob
import pyarrow.parquet as pq
# compare.py parentDir changeDir: order-independent row hash of each table,
# partition values included, and its parquet file count
def files(d):
    return glob.glob(os.path.join(d, "**", "*.parquet"), recursive=True)
def table_rows(d):
    rows = []
    for f in files(d):
        parts = tuple(os.path.relpath(f, d).split(os.sep)[:-1])
        t = pq.read_table(f)
        cols = t.column_names
        for r in t.to_pylist():
            rows.append(repr(parts) + repr(tuple((c, r[c]) for c in cols)))
    rows.sort()
    return len(rows), hashlib.sha256("\n".join(rows).encode()).hexdigest()
ok = True
for pa, ch in [("nodes", "nodes"), ("edges", "edges"), ("staging", "staging"), ("manifest", "manifest")]:
    a = table_rows(os.path.join(sys.argv[1], pa)); b = table_rows(os.path.join(sys.argv[2], ch))
    fa, fb = len(files(os.path.join(sys.argv[1], pa))), len(files(os.path.join(sys.argv[2], ch)))
    print(f"{pa}->{ch}", "rows", a[0], b[0], "files", fa, fb, a[1][:16], b[1][:16],
          "EQUAL" if a == b else "DIFFER")
    ok &= a == b and a[0] > 0
print("tables", sorted(os.listdir(sys.argv[1])), "->", sorted(os.listdir(sys.argv[2])))
print("ALL EQUAL" if ok else "MISMATCH")
