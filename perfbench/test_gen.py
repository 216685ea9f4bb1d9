"""Generator check: the same (workload, seed) gives byte-identical
inputs; another seed gives different bytes with the same row counts and
schema.

Usage: python3 perfbench/test_gen.py   (exit 0 when every check holds)
"""
import hashlib
import os
import sys
import tempfile

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402


def digest(d):
    return {f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
            for f in sorted(os.listdir(d))}


def main():
    failures = []
    with tempfile.TemporaryDirectory(dir=os.path.dirname(
            os.path.abspath(__file__))) as tmp:
        for w in gen.SIZES:
            a, b, c = (os.path.join(tmp, f"{w}-{x}") for x in "abc")
            rows_a = gen.generate(w, 1, a)
            rows_b = gen.generate(w, 1, b)
            rows_c = gen.generate(w, 2, c)
            if digest(a) != digest(b):
                failures.append(f"{w}: seed 1 twice gave different bytes")
            for f, h in digest(a).items():
                if digest(c)[f] == h:
                    failures.append(f"{w}: seeds 1 and 2 gave the same {f}")
            if not rows_a == rows_b == rows_c:
                failures.append(f"{w}: row counts differ {rows_a} {rows_c}")
            sa = pq.read_schema(os.path.join(a, "embeddings.parquet"))
            sc = pq.read_schema(os.path.join(c, "embeddings.parquet"))
            if not sa.equals(sc):
                failures.append(f"{w}: schema differs across seeds")
            t = pq.read_table(os.path.join(c, "embeddings.parquet"))
            ids = t.column("vec_id").to_pylist()
            if ids != list(range(len(ids))):
                failures.append(f"{w}: vec_id is not 0..n-1")
    for f in failures:
        print("FAIL", f)
    print("ok" if not failures else f"{len(failures)} failures")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
