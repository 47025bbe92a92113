#!/usr/bin/env python3
"""Record the registry fingerprints and cross-check them against DuckDB.

1. Runs registry_session once with --record --dump: the benchmark writes
   the observed fingerprints to expected_fingerprints.json and each
   query's result rows (cold pass) plus its oracle SQL to .bench_out/.
2. Regenerates the registry tables with gen.py and runs each query's
   oracle SQL (`SparkEntry.oracleSql`) in DuckDB over them.
3. Compares column names, row count and a hash of the value matrix
   (columns sorted by name, rows sorted, doubles printed with 17
   significant digits) and stores the verdict per query under "oracle"
   in expected_fingerprints.json.

Usage (from the repository root): python3 perfbench/crosscheck.py
"""
import hashlib
import json
import shutil
import subprocess
import sys
from pathlib import Path

import duckdb

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import gen  # noqa: E402
import run  # noqa: E402

DUMP = ROOT / ".bench_out" / "crosscheck"
DATA = ROOT / ".bench_work" / "crosscheck"


def canon(v):
    if v is None or (isinstance(v, float) and v != v):
        return "\x00NULL"
    if isinstance(v, float):
        return f"{v:.17g}"
    return str(v)


def frame(rel):
    df = rel.df()
    df = df.reindex(sorted(df.columns), axis=1)
    rows = sorted("\x01".join(canon(v) for v in r) for r in df.values.tolist())
    return list(df.columns), rows


def main():
    shutil.rmtree(DUMP, ignore_errors=True)
    subprocess.run([sys.executable, str(HERE / "run.py"), "--workload", "registry_session",
                    "--seed", "1", "--seconds", "1", "--trace", "0", "--record",
                    "--dump", str(DUMP)], cwd=ROOT, check=True)
    shutil.rmtree(DATA, ignore_errors=True)
    gen.fixtures(DATA, run.REG_SF, run.REG_DATA_SEED)
    con = duckdb.connect()
    for t in gen.fixture_sizes(run.REG_SF):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA / (t + '.parquet')}'")
    oracles = json.loads((DUMP / "oracle_sql.json").read_text())
    verdict = {}
    for q in sorted(run.REGISTRY_MIX):
        if q not in oracles:
            verdict[q] = "no oracle SQL"
            continue
        try:
            ecols, erows = frame(con.sql(oracles[q]))
            gcols, grows = frame(con.sql(f"SELECT * FROM read_parquet('{DUMP / q}/*.parquet')"))
        except Exception as e:  # a failing side is a verdict, not a crash
            verdict[q] = f"error: {e}"
            continue
        h = lambda rows: hashlib.sha256("\n".join(rows).encode()).hexdigest()
        if gcols != ecols:
            verdict[q] = f"columns differ: {gcols} vs {ecols}"
        elif len(grows) != len(erows):
            verdict[q] = f"rows differ: {len(grows)} vs {len(erows)}"
        else:
            verdict[q] = "match" if h(grows) == h(erows) else "values differ"
        print(f"{q:30s} {verdict[q]}")
    exp = json.loads(run.EXPECTED.read_text())
    exp["oracle"] = verdict
    run.EXPECTED.write_text(json.dumps(exp, indent=1) + "\n")
    shutil.rmtree(DATA, ignore_errors=True)
    bad = [q for q, v in verdict.items() if v not in ("match", "no oracle SQL")]
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
