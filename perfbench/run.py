#!/usr/bin/env python3
"""The repo benchmark: seeded workloads against the engine's public entry
points. BENCHMARK.json lists catalog, bi_serve and curation; ingest runs
on its own too, and as a probe inside curation's traced run.

Run one workload:
    python3 perfbench/run.py --workload catalog --seed 1 --seconds 10 --trace 0

The first run builds the engine (with the repo's own sbt build) and the
benchmark from source; later runs reuse that build while the sources are
unchanged. Each run works in a fresh scratch root under
perfbench/work (deleted afterwards) and leaves a record in
perfbench/records that no later run overwrites. The last line of
stdout is one JSON object: correct, attempted, failed and metrics (the
end-to-end metrics of BENCHMARK.json with --trace 0, the per-layer ones
with --trace 1).

Compare two records, per op (wall ratio, geomean, job-count delta):
    python3 perfbench/run.py diff perfbench/records/A.json perfbench/records/B.json
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
TARGET = HERE / "target"
STAMP = TARGET / "perfbench.stamp"
RECORDS = HERE / "records"
WORK = HERE / "work"
DATA = HERE / "data"
WORKLOADS = ("catalog", "bi_serve", "curation", "ingest")
CPUS = len(os.sched_getaffinity(0))
JVM_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these outside spark-submit (the list in the
# repo's build.sbt, which matches Spark's JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    h = hashlib.sha256()
    files = [HERE / "build.sbt", HERE / "project" / "build.properties",
             ROOT / "build.sbt", ROOT / "project" / "build.properties"]
    for base in (ENGINE_SRC, HERE / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile engine + benchmark if the sources changed; return the
    runtime classpath."""
    if not ENGINE_SRC.is_dir():
        raise SystemExit(f"engine sources not found at {ENGINE_SRC}")
    digest = source_hash()
    if STAMP.exists():
        stamp = json.loads(STAMP.read_text())
        if stamp.get("hash") == digest:
            return stamp["classpath"]
    log("building engine + benchmark with sbt")
    t0 = time.time()
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdin=subprocess.DEVNULL,
        capture_output=True, text=True, timeout=840)
    lines = [ln for ln in out.stdout.splitlines() if ln.strip()]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        raise SystemExit("build failed")
    classpath = lines[-1].strip()
    TARGET.mkdir(exist_ok=True)
    STAMP.write_text(json.dumps({"hash": digest, "classpath": classpath}))
    log(f"built in {time.time() - t0:.0f}s")
    return classpath


def heap_size():
    try:
        kb = next(int(ln.split()[1]) for ln in open("/proc/meminfo")
                  if ln.startswith("MemTotal:"))
        gb = max(2, min(4, kb // (4 * 1048576)))
    except (OSError, StopIteration, ValueError):
        gb = 2
    return f"{gb}g"


def record_path(args):
    RECORDS.mkdir(exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    base = (f"{args.label}_c{CPUS}_s{args.seed}_{args.workload}"
            f"_t{args.trace}_{stamp}")
    path, n = RECORDS / f"{base}.json", 1
    while path.exists():
        path, n = RECORDS / f"{base}_{n}.json", n + 1
    return path


def oracle_check(rec):
    """Catalog: every timed query's row count against DuckDB running the
    engine's oracle SQL on the same parquet, and the dumped sample's
    values too (by row count where a query has no oracle). Returns one
    message per mismatch."""
    check = rec.get("info", {}).get("oracle")
    if not check:
        return []
    import duckdb
    sys.dont_write_bytecode = True  # leave no __pycache__ in the repo's tools/
    sys.path.insert(0, str(ROOT / "tools"))
    from oracle_check import frame_key  # the repo's DuckDB-compare normal form
    con = duckdb.connect()
    for p in sorted(Path(check["data"]).glob("*.parquet")):
        con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM '{p}'")
    oracle = json.loads(Path(check["oracle_sql"]).read_text())
    errors = []
    for name, rows in sorted(check["counts"].items()):
        dump = check["dumps"].get(name)
        got = None
        if dump:
            rel = con.execute(f"SELECT * FROM '{dump}/*.parquet'")
            got = frame_key([d[0] for d in rel.description], rel.fetchall())
            if len(got[1]) != rows:
                errors.append(f"{name}: dump has {len(got[1])} rows, "
                              f"the timed run counted {rows}")
                continue
        if name not in oracle:
            continue
        exp = con.execute(oracle[name])
        want = frame_key([d[0] for d in exp.description], exp.fetchall())
        if len(want[1]) != rows:
            errors.append(f"{name}: {rows} rows, DuckDB oracle has {len(want[1])}")
        elif got is not None and got != want:
            errors.append(f"{name}: values differ from the DuckDB oracle")
    return errors


def trace_overhead(rec, args):
    """Traced minus untraced end-to-end metrics: the traced run against
    the median of every untraced record of the same label, cpus and
    workload. Both modes attach the benchmark's SparkListener, so its
    cost is not part of the difference. A difference inside the
    untraced records' spread (first to third quartile), or against fewer
    than four of them, is reported as unresolved."""
    found = sorted(RECORDS.glob(f"{args.label}_c{CPUS}_s*_{args.workload}_t0_*.json"))
    plain = [json.loads(p.read_text())["end_to_end"] for p in found]
    out = {}
    for k, v in rec["end_to_end"].items():
        xs = [p[k] for p in plain if isinstance(p.get(k), (int, float))]
        if not isinstance(v, (int, float)) or not xs:
            continue
        med = statistics.median(xs)
        q = statistics.quantiles(xs, n=4) if len(xs) >= 2 else [med, med, med]
        out[k] = {"traced": v, "untraced_median": med, "diff": v - med,
                  "untraced_runs": len(xs),
                  "resolved": len(xs) >= 4 and not q[0] <= v <= q[2]}
    return out


def run(args):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    classpath = build()
    root = WORK / f"{args.workload}_s{args.seed}_{os.getpid()}"
    shutil.rmtree(root, ignore_errors=True)
    (root / "tmp").mkdir(parents=True)
    path = record_path(args)
    tmp_record = root / "record.json"
    cmd = (["java", f"-Xmx{heap_size()}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={root / 'tmp'}",
              "-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--root", str(root), "--data", str(DATA),
              "--record", str(tmp_record), "--cpus", str(CPUS)])
    try:
        proc = subprocess.run(cmd, cwd=root, stdin=subprocess.DEVNULL,
                              stdout=sys.stderr, timeout=JVM_TIMEOUT_S)
        if proc.returncode != 0 or not tmp_record.exists():
            raise SystemExit(f"benchmark JVM failed (exit {proc.returncode})")
        rec = json.loads(tmp_record.read_text())
        oracle_errors = oracle_check(rec)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    for e in oracle_errors:
        log(f"WRONG: {e}")
    rec["errors"] = rec["errors"] + oracle_errors
    rec["failed"] += len(oracle_errors)
    rec["correct"] = rec["correct"] and not oracle_errors
    rec["end_to_end"]["error_rate"] = rec["failed"] / rec["attempted"]
    rec["label"] = args.label
    if args.trace:
        rec["trace_overhead"] = trace_overhead(rec, args)
        log("trace overhead (traced - median untraced): " + (", ".join(
            f"{k}={o['diff']:+.4g}" + ("" if o["resolved"] else " (unresolved)")
            for k, o in rec["trace_overhead"].items()) or "no untraced records"))
    path.write_text(json.dumps(rec, indent=1))
    source = rec["per_layer" if args.trace else "end_to_end"]
    if args.trace:
        # a layer this workload does not exercise reports 0
        idle = [m["name"] for m in wanted if m["name"] not in source]
        source.update({name: 0.0 for name in idle})
        if idle:
            log(f"layers idle in {args.workload}: {len(idle)} metrics reported as 0")
    missing = [m["name"] for m in wanted
               if not isinstance(source.get(m["name"]), (int, float))
               or not math.isfinite(source[m["name"]])]
    if missing:
        raise SystemExit(f"record lacks metrics {missing}")
    named = ", ".join(f"{k}={v:.4g}" for k, v in rec["named"].items())
    log(f"{args.workload}: {named} (record {path.relative_to(ROOT)})")
    print(json.dumps({
        "correct": rec["correct"], "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {m["name"]: {"value": source[m["name"]], "unit": m["unit"]}
                    for m in wanted}}))
    return 0 if rec["correct"] else 1


def op_table(rec):
    """Ops keyed by kind/name: median wall and total jobs."""
    by = {}
    for op in rec["ops"]:
        if op["parent"] == -1:
            by.setdefault(f"{op['kind']}/{op['name']}", []).append(op)
    return {k: (statistics.median(o["wall_s"] for o in v),
                sum(o["jobs"] for o in v)) for k, v in by.items()}


def diff(a_path, b_path):
    a = json.loads(Path(a_path).read_text())
    b = json.loads(Path(b_path).read_text())
    ta, tb = op_table(a), op_table(b)
    common = sorted(set(ta) & set(tb))
    rows = []
    for k in common:
        (wa, ja), (wb, jb) = ta[k], tb[k]
        if wa > 0 and wb > 0:
            rows.append((wb / wa, k, wa, wb, jb - ja))
    rows.sort(reverse=True)
    for ratio, k, wa, wb, dj in rows:
        print(f"{ratio:7.3f}x  {wa:8.4f}s -> {wb:8.4f}s  jobs {dj:+d}  {k}")
    geo = math.exp(sum(math.log(r[0]) for r in rows) / len(rows)) if rows else float("nan")
    summary = {"a": str(a_path), "b": str(b_path), "ops_compared": len(rows),
               "only_in_a": len(set(ta) - set(tb)), "only_in_b": len(set(tb) - set(ta)),
               "geomean_ratio": geo,
               "job_delta": sum(r[4] for r in rows),
               "end_to_end_ratio": {k: b["end_to_end"][k] / v
                                    for k, v in a["end_to_end"].items()
                                    if isinstance(v, (int, float)) and v
                                    and isinstance(b["end_to_end"].get(k), (int, float))}}
    print(json.dumps(summary))
    return 0


def main(argv):
    if argv and argv[0] == "diff":
        if len(argv) != 3:
            raise SystemExit("usage: run.py diff A.json B.json")
        return diff(argv[1], argv[2])
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--label", default="run")
    return run(ap.parse_args(argv))


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
