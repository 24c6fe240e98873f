#!/usr/bin/env python3
"""The benchmark's own checks; run from the root of a source tree:

    python3 perfbench/selfcheck.py

1. The generator gives the same SQLite checksum and parquet bytes twice
   for one seed, and a different checksum for another seed.
2. The output checks pass on a real run, and count failed operations
   once one staged value (migrate_sqlite) or one gate row (query_mix) is
   corrupted on purpose.
"""
import os
import shutil
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def expect(cond, what):
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        sys.exit(1)


def generator(base):
    sums = []
    for i, seed in enumerate((5, 5, 6)):
        path = os.path.join(base, f"gen{i}.db")
        gen.write_sqlite(gen.tables(seed, 0.001), path, seed)
        sums.append(gen.sqlite_checksum(path))
    expect(sums[0] == sums[1], "same seed, same SQLite checksum")
    expect(sums[0] != sums[2], "other seed, other SQLite checksum")
    files = []
    for i in (0, 1):
        d = os.path.join(base, f"parquet{i}")
        gen.write_parquet(gen.tables(5, 0.001), d)
        files.append([open(os.path.join(d, f"{t}.parquet"), "rb").read()
                      for t in gen.TABLES])
    expect(files[0] == files[1], "same seed, same parquet bytes")


def corruption(base, cp, workload, corrupt, seed=3):
    work = os.path.join(base, workload)
    os.makedirs(work)
    inp, warm = run.prepare(workload, seed, work)
    r = run.run_harness(cp, workload, inp, warm, work, 1, seed, 0)
    clean = run.evaluate(workload, r, inp, work)
    expect(clean["failed"] == 0 and not clean["wrong"],
           f"{workload}: outputs pass their checks")
    corrupt(os.path.join(work, "out"))
    bad = run.evaluate(workload, r, inp, work)
    expect(bad["failed"] > 0 and bool(bad["wrong"]),
           f"{workload}: a corrupted output raises failed_ratio to "
           f"{bad['failed'] / bad['attempted']:.2f} ({sorted(bad['wrong'])})")


def main():
    base = os.path.join(run.STATE, "selfcheck")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base)
    try:
        generator(base)
        cp = run.classpath()
        corruption(base, cp, "migrate_sqlite", lambda out:
                   checks.corrupt_one_value(out, "orders", "o_totalprice"))
        corruption(base, cp, "query_mix", lambda out:
                   checks.corrupt_one_row(out, "q1_pricing_summary"))
    finally:
        shutil.rmtree(base, ignore_errors=True)
    print("selfcheck ok")


if __name__ == "__main__":
    main()
