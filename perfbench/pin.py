#!/usr/bin/env python3
"""Pin the output digests the benchmark checks, per (workload, seed).

    python3 perfbench/pin.py --workload W --seeds 1-10

For each seed: generate the inputs, run every op of the workload once and
dump its output, then run each registry row's DuckDB oracle SQL
(graft.SparkEntry.oracleSql) over the same generated tables and compare
exactly, the tools/compare_oracle.py recipe. A registry row's digest is
pinned for the seed (written to perfbench/pins.json) only when its oracle
compare is exact. Rows without an oracle (MLlib fits) and the stream ops
are not pinned: the benchmark holds them by identical digests across
passes plus invariants.
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys

import duckdb
import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)
import run  # noqa: E402


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def exact(s, o):
    """The compare_oracle.py equality: same columns and rows, values
    equal (floats bit-equal, timestamps as instants, the rest as text)."""
    s, o = canon(s), canon(o)
    if list(s.columns) != list(o.columns) or len(s) != len(o):
        return False
    for c in s.columns:
        sv, ov = s[c], o[c]
        if sv.dtype.kind == "f" or ov.dtype.kind == "f":
            eq = np.isclose(sv.astype(float), ov.astype(float), rtol=0,
                            atol=0, equal_nan=True)
        elif sv.dtype.kind == "M" or ov.dtype.kind == "M":
            eq = pd.to_datetime(sv).values == pd.to_datetime(ov).values
        else:
            eq = sv.astype(str).values == ov.astype(str).values
        if not np.all(eq):
            return False
    return True


def dump(jar, archive, workload, seeds):
    """Run every op once per seed in one JVM; return {seed: (data, dump)}."""
    work = os.path.join(run.build_dir(), "work", f"pin-{workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    dirs = {s: (run.inputs(workload, s)[0], os.path.join(work, f"dump-{s}"))
            for s in seeds}
    data, info = run.inputs(workload, seeds[0])
    cmd = run.java_cmd(jar, archive, work) + [
        "--workload", workload, "--data", data, "--work", work,
        "--seconds", "0", "--trace", "0",
        "--out", os.path.join(work, "unused.json"),
        "--rows", run.rows_arg(info),
        "--dump", ",".join(f"{d}={o}" for d, o in dirs.values())]
    subprocess.run(cmd, stdout=sys.stderr, check=True, cwd=work)
    return work, dirs


def verdicts(data, out):
    """Oracle-exact verdict per registry row, and the rows' digests."""
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    digests = json.load(open(os.path.join(out, "digests.json")))
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data, "*.parquet")):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    verdict = {}
    for name, sql in sorted(oracle.items()):
        s = pd.concat([pd.read_parquet(f) for f in
                       glob.glob(os.path.join(out, name, "*.parquet"))],
                      ignore_index=True)
        verdict[name] = exact(s, con.execute(sql).fetchdf())
    return {k: digests[k] for k in oracle}, verdict


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(run.gen.SIZES))
    ap.add_argument("--seeds", default="1-10")
    a = ap.parse_args()
    jar, archive = run.built()
    path = os.path.join(HERE, "pins.json")
    pins = json.load(open(path))
    seeds = run.seed_list(a.seeds)
    work, dirs = dump(jar, archive, a.workload, seeds)
    try:
        for seed in seeds:
            digests, verdict = verdicts(*dirs[seed])
            exact_rows = {k: v for k, v in digests.items() if verdict[k]}
            print(f"{a.workload} seed {seed}: oracle exact {verdict}")
            if exact_rows:
                pins.setdefault(a.workload, {})[str(seed)] = exact_rows
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(path, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
