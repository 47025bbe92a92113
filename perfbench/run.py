#!/usr/bin/env python3
"""Benchmark of the graft engine: ETL export runs and a registry session.

Usage (from the repository root):
  python3 perfbench/run.py --workload export_incremental --seed 1 --seconds 24 --trace 0

Workloads (see perfbench/README.md for metrics and rationale):
  export_incremental  an incremental export chain over one checkpoint
  registry_session    a cold then two warm passes over a mix of registry queries

The script builds the engine and the benchmark classes from source into
.bench_build/ (once per source state), generates the workload's inputs
from --seed under .bench_work/, runs one JVM and prints, as its last
stdout line, {"correct", "attempted", "failed", "metrics"}. With
--trace 1 it also writes the span dump to .bench_out/.
"""
import argparse
import hashlib
import json
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import gen  # noqa: E402

WORKLOADS = ("export_incremental", "registry_session")
REG_SF = 0.01               # registry tables
REG_DATA_SEED = 20240101    # registry data is fixed; --seed sets the query order
INC_BASE_ROWS = 100000
INC_OPS = 24                # invocations per export_incremental run (~24 s on 4 cores)
SETUP_REPS = 3              # input generations per run; setup_s takes the median
HEAP = "3g"

# One query per line: module, then why it is in the mix.
REGISTRY_MIX = [
    "q02_incremental_watermark",  # Relational: created_at-style watermark filter
    "q03_incremental_or",         # Relational: created OR updated watermark
    "q06_join_agg_topk",          # Relational: join + aggregate + top-k
    "q13_text_tokens",            # TextOps: tokenize
    "q17_dedup_exact",            # Dedup: exact duplicates
    "q76_prefix_jaccard",         # Dedup: prefix-filter Jaccard + broadcast verify
    "q111_dedup_savings",         # Dedup: builds the shared pair/component subplans
    "q23_knn_lsh",                # Similarity: LSH k-NN over embeddings
    "q25_asof_join",              # Events: as-of join
    "q60_pagerank",               # Analytics: iterative graph, stage-floor bound
    "q178_winsorized_mean",       # Sketch: exact scaled-int64 sums
    "q456_watermark_lag_cost",    # Planning: watermark lag cost model
    "q419_bartlett",              # Inference: variance homogeneity test
    "q110_lang_diversity",        # Quality: corpus diversity
]
# Warm-up before the cold pass, over the registry tables under a path of its
# own: the first Spark jobs of a process pay class loading and JIT for the
# common scan/join/aggregate/shuffle paths. These queries read no shared
# PlanCache subplan, so the cold pass still builds every one.
REGISTRY_WARM = ["q06_join_agg_topk", "q02_incremental_watermark"]

EXPECTED = HERE / "expected_fingerprints.json"
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


START = time.time()


def log(*a):
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def spark_jars():
    """The Spark jars build.sbt compiles and tests against (its unmanagedBase)."""
    sbt = ROOT / "build.sbt"
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', sbt.read_text()) if sbt.exists() else None
    if not m:
        raise SystemExit("Spark jars not found: build.sbt sets no unmanagedBase")
    return Path(m.group(1))


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise SystemExit(f"engine sources not found at {main.relative_to(ROOT)}")
    return sorted(main.rglob("*.scala")) + sorted((HERE / "src").rglob("*.scala"))


def build():
    """Compile engine + benchmark sources with scalac; cached by content hash."""
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    out = ROOT / ".bench_build"
    classes = out / "classes"
    if (out / "stamp").exists() and (out / "stamp").read_text() == stamp and classes.is_dir():
        return classes
    log(f"compiling {len(files)} sources")
    t0 = time.time()
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = out / "sources.txt"
    argfile.write_text("\n".join(str(f) for f in files))
    cp = f"{spark_jars()}/*"
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-d", str(tmp), "-classpath", cp, f"@{argfile}"],
                       stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    (out / "stamp").write_text(stamp)
    log(f"compiled in {time.time() - t0:.1f}s")
    return classes


def tree_digest(d):
    h = hashlib.sha256()
    for f in sorted(Path(d).rglob("*")):
        if f.is_file():
            h.update(str(f.relative_to(d)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def query_order(seed):
    order = list(REGISTRY_MIX)
    random.Random(seed).shuffle(order)
    return order


def generate(workload, seed, work):
    """Input generation for one workload; returns the JVM config entries."""
    if workload == "export_incremental":
        inc, stage = work / "inc", work / "stage"
        r = gen.incremental(inc, stage, seed, INC_OPS, INC_BASE_ROWS)
        return {"inc_dir": str(inc), "stage_dir": str(stage),
                "run_times": [gen.run_time(k) for k in range(INC_OPS + 1)],
                "expected": r["per_invocation"], "ops": INC_OPS}, [inc, stage]
    reg = work / "reg"
    gen.fixtures(reg, REG_SF, REG_DATA_SEED)
    return {"reg_dir": str(reg), "queries": query_order(seed),
            "warm_queries": REGISTRY_WARM}, [reg]


def loadavg():
    try:
        return " ".join(Path("/proc/loadavg").read_text().split()[:3])
    except OSError:
        return "n/a"


def git_commit():
    """HEAD of the checkout's git directory, read without running git."""
    head = ROOT / ".git" / "HEAD"
    if not head.exists():
        return "n/a"
    ref = head.read_text().strip()
    if not ref.startswith("ref: "):
        return ref
    p = ROOT / ".git" / ref[5:]
    return p.read_text().strip() if p.exists() else ref


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="registry_session: write the observed fingerprints to "
                         "expected_fingerprints.json instead of checking them")
    ap.add_argument("--dump", help="registry_session: directory for each query's "
                                   "cold-pass result rows and oracle SQL (crosscheck.py)")
    a = ap.parse_args()

    classes = build()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    cpus = len(os.sched_getaffinity(0))
    cond = {"nproc": cpus, "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS", "unset"),
            "driver_heap": HEAP, "load_start": loadavg(), "git_commit": git_commit(),
            "seed": a.seed}
    work = ROOT / ".bench_work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        # set-up: input generation, repeated; the median enters setup_s and
        # every repetition must reproduce the first byte for byte
        gen_s, digests, cfg = [], [], None
        for r in range(SETUP_REPS):
            rep = work / f"rep{r}"
            t0 = time.perf_counter()
            c, dirs = generate(a.workload, a.seed, rep)
            gen_s.append(time.perf_counter() - t0)
            digests.append("".join(tree_digest(d) for d in dirs))
            if r == 0:
                cfg = c
            else:
                shutil.rmtree(rep)
        if a.workload == "registry_session":
            exp = json.loads(EXPECTED.read_text()) if EXPECTED.exists() else {"fingerprints": {}}
            cfg["expected"] = {} if a.record else exp["fingerprints"]
            cfg["record"] = a.record
            if a.dump:
                cfg["dump_dir"] = str(Path(a.dump).resolve())
        cfg.update({"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                    "trace": a.trace, "cpus": cpus, "work_dir": str(work),
                    "layer_names": [m["name"] for m in bench["per_layer"]],
                    "trace_out": str(ROOT / ".bench_out" /
                                     f"trace-{a.workload}-seed{a.seed}.json")})
        (work / "config.json").write_text(json.dumps(cfg))

        cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss4m", "-XX:-UsePerfData",
                f"-Djava.io.tmpdir={work}",
                f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
                "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + ADD_OPENS +
               ["-cp", f"{classes}:{spark_jars()}/*", "graft.perfbench.Bench",
                str(work / "config.json")])
        budget = 170 - (time.time() - START)
        p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=work)
        try:
            rc = p.wait(timeout=max(10, budget))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("benchmark JVM exceeded its time budget")
        if rc != 0:
            raise SystemExit(f"benchmark JVM failed with exit code {rc}")
        res = json.loads((work / "result.json").read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    info = res["info"]
    e2e = dict(res["e2e"])
    e2e["setup_s"] = statistics.median(gen_s) + info["session_s"] + info["warmup_s"]
    attempted = res["attempted"] + SETUP_REPS - 1
    failed = res["failed"] + sum(d != digests[0] for d in digests[1:])
    if any(d != digests[0] for d in digests[1:]):
        res["errors"].append("input generation is not deterministic for this seed")

    if a.record:
        fps = dict(kv.split("=", 1) for kv in info["fingerprints"].split(";") if kv)
        EXPECTED.write_text(json.dumps({
            "data_seed": REG_DATA_SEED, "sf": REG_SF,
            "note": "row count:order-insensitive XXH64 sum of each query's result rows "
                    "over the registry tables that gen.py writes for data_seed and sf",
            "fingerprints": dict(sorted(fps.items()))}, indent=1) + "\n")
        log(f"recorded {len(fps)} fingerprints to {EXPECTED.relative_to(ROOT)}")

    cond.update({"load_end": loadavg(), "workload": a.workload, "trace": a.trace,
                 "seconds": a.seconds, "gen_s": gen_s, "session_s": info["session_s"],
                 "warmup_s": info["warmup_s"],
                 "operations": info.get("invocations"), "walls": info.get("walls"),
                 "errors": res["errors"]})
    if a.trace:
        cond["trace_file"] = str(Path(cfg["trace_out"]).relative_to(ROOT))
    for e in res["errors"]:
        log("check failed:", e)
    section = "per_layer" if a.trace else "end_to_end"
    source = res["layer"] if a.trace else e2e
    metrics = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in bench[section]}
    print(json.dumps({"conditions": cond}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    if failed:
        sys.exit(1)


if __name__ == "__main__":
    main()
