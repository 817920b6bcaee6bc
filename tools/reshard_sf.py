#!/usr/bin/env python3
"""Re-shard a scale-factor directory's single-file parquet tables into
multi-file datasets so a distributed reader actually splits stage 1.

WHY (r21, VERDICT item 3): every sf table was ONE parquet file with ONE
row group, so every scan planned exactly one input split and the first
stage of every query ran on one core of 32 (Tables.scala NOTE; the
engine-side blanket rebalance was measured a 200->315 s loss and
rejected in r20). This is the MEASUREMENT-side fix the r20 verdict asked
for: `<table>.parquet` becomes a DIRECTORY of `part-NNNNN.parquet` files
(Spark reads a directory dataset identically; row content, schema and
global row order are preserved exactly - part-k holds rows
[k*chunk, (k+1)*chunk)). Small tables stay single-part.

Data is byte-equal row-for-row: the tool re-reads the result and asserts
table equality against the original before replacing it. Originals move
to a backup directory OUTSIDE the sf tree (a stray `<table>.parquet.orig`
inside it could confuse a harness globbing the directory).

Usage: python3 tools/reshard_sf.py <sfdir> [parts=8] [backup_dir] [tables...]

Default tables: the row-heavy four (documents, lineitem, events, orders).
r21 measured the trade at sf0.1/local[32]: 32 parts for EVERY table won
big on stage-1-CPU queries (q27 2.56->0.51 s) but regressed the many-
small-jobs families (CC loops, ANN centroid collects: q159 +2.8 s, q37
+1.5 s, 44 anchor flags, total 196->229 s) -- per-job scan-task and
file-open overhead multiplies across their eager driver loops. 8 parts
on just the big tables keeps most of the CPU win without taxing the
loop-heavy families.
"""
import sys, os, shutil
import pyarrow as pa
import pyarrow.parquet as pq

MIN_ROWS_PER_PART = 20  # below this a table stays single-part

DEFAULT_TABLES = ("documents", "lineitem", "events", "orders")

def reshard(sf_dir: str, parts: int, backup_dir: str, tables) -> None:
    os.makedirs(backup_dir, exist_ok=True)
    wanted = {t + ".parquet" for t in tables}
    for name in sorted(os.listdir(sf_dir)):
        if name not in wanted:
            continue
        if not name.endswith(".parquet"):
            continue
        path = os.path.join(sf_dir, name)
        if os.path.isdir(path):
            print(f"skip {name}: already a directory dataset")
            continue
        orig = pq.read_table(path)
        n = orig.num_rows
        if n == 0:
            # no rows means no part files, and nothing to verify them against
            print(f"skip {name}: zero rows, left single-file")
            continue
        k = min(parts, max(1, n // MIN_ROWS_PER_PART))
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        chunk = -(-n // k)  # ceil
        for i in range(k):
            lo = i * chunk
            if lo >= n:
                break
            pq.write_table(orig.slice(lo, chunk),
                           os.path.join(tmp, f"part-{i:05d}.parquet"))
        # verify: concatenated parts == original, schema included
        got = pa.concat_tables(
            pq.read_table(os.path.join(tmp, f))
            for f in sorted(os.listdir(tmp)))
        assert got.schema.equals(orig.schema), f"{name}: schema drift"
        assert got.equals(orig), f"{name}: data drift"
        bak = os.path.join(backup_dir, name)
        shutil.move(path, bak)
        os.rename(tmp, path)
        print(f"resharded {name}: {n} rows -> {len(os.listdir(path))} parts"
              f" (orig kept at {bak})")

if __name__ == "__main__":
    sf = sys.argv[1]
    parts = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    backup = sys.argv[3] if len(sys.argv) > 3 else (
        os.path.expanduser("~/") + os.path.basename(sf.rstrip("/")) + "_orig_backup")
    tables = sys.argv[4:] if len(sys.argv) > 4 else DEFAULT_TABLES
    reshard(sf, parts, backup, tables)
