#!/usr/bin/env python3
"""The repository's benchmark: one command, three workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. It builds the program and the
benchmark's JVM harness with sbt (once; later runs reuse the build while
the sources are unchanged), starts one JVM at local[nproc], runs the
workload in a closed loop with one operation in flight, checks the
outputs, deletes everything the run wrote, and prints a run record
followed by one JSON line: `{"correct", "attempted", "failed", "metrics"}`.
With `--trace 0` the metrics are the end-to-end ones; with `--trace 1`
they are the per-layer ones from the traced run.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

WORKLOADS = ("etl_generate_all", "etl_csv_parquet", "queries_mix")
BUILD_DIR = ROOT / ".bench_build"
WORK_DIR = ROOT / ".bench_work"
RUN_LIMIT_S = 170          # a run ends well inside 180 s once built
BUILD_LIMIT_S = 700        # the first run in a checkout also builds (900 s in all)
JVM_HEAP = "2g"
MB = 1e6

# Spark 4 on JDK 17 outside spark-submit; the same list as build.sbt.
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", f"{p}=ALL-UNNAMED")]

# metric names and units, as declared in BENCHMARK.json
_DECLARED = json.loads((ROOT / "BENCHMARK.json").read_text())
END_TO_END = {m["name"]: m["unit"] for m in _DECLARED["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _DECLARED["per_layer"]}


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    """Hash of every file the build reads, to decide whether to rebuild."""
    h = hashlib.sha256()
    for base in (ROOT / "build.sbt", ROOT / "project", ROOT / "src" / "main",
                 HERE / "build.sbt", HERE / "project", HERE / "src"):
        files = [base] if base.is_file() else sorted(
            f for f in base.rglob("*")
            if f.is_file() and not {"target", "project"} & set(f.relative_to(base).parts[:-1]))
        for f in files:
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def classpath():
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail("the program's sources (build.sbt, src/main/scala) are not in this checkout")
    digest = sources_digest()
    stamp = BUILD_DIR / "classpath.json"
    if stamp.exists():
        built = json.loads(stamp.read_text())
        if built["digest"] == digest and all(Path(p).exists() for p in built["classpath"]):
            return built["classpath"], digest
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") +
                       " -Dsbt.offline=true -Dsbt.override.build.repos=true -Xmx2g")
    try:
        r = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, capture_output=True, text=True, timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail("the build did not finish in time", 3)
    lines = [l for l in r.stdout.splitlines() if l.strip() and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        print(r.stdout[-4000:], r.stderr[-4000:], file=sys.stderr)
        fail("the build failed", 3)
    cp = lines[-1].strip().split(os.pathsep)
    BUILD_DIR.mkdir(exist_ok=True)
    stamp.write_text(json.dumps({"digest": digest, "classpath": cp}))
    return cp, digest


def loadavg():
    try:
        return Path("/proc/loadavg").read_text().split()[:3]
    except OSError:
        return []


def median(xs):
    return statistics.median(xs) if xs else 0.0


def run_jvm(cp, args, work, deadline):
    out = work / "record.json"
    # a fixed heap size: the resident-set peak then follows live data, not
    # when the collector happened to grow the heap
    cmd = ["java", *ADD_OPENS, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Duser.timezone=UTC", f"-Dderby.stream.error.file={work / 'derby.log'}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-cp", os.pathsep.join(cp), "perfbench.Main",
           args.workload, str(args.seed), str(args.seconds), str(args.trace), str(out)]
    (work / "tmp").mkdir(parents=True)
    with open(work / "jvm.log", "w") as log:
        try:
            # few malloc arenas: native memory, and so the resident set,
            # varies less from run to run
            r = subprocess.run(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                               env=dict(os.environ, MALLOC_ARENA_MAX="2"),
                               timeout=max(10, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            return None, "the JVM did not finish in time"
    if r.returncode != 0 or not out.exists():
        tail = (work / "jvm.log").read_text()[-3000:]
        return None, f"the JVM exited with {r.returncode}:\n{tail}"
    return json.loads(out.read_text()), None


def etl_results(rec, formats):
    """Checks every pipeline run and deletes its outputs. Returns failed
    runs, per-sink MB medians, bytes per input row and known defects."""
    from checks import check_etl_run
    failed, sizes, per_row, defects = 0, {s: [] for s in formats}, [], set()
    for op in rec["ops"]:
        problems = [op["error"]] if op["error"] else []
        if not problems:
            p, d, sz = check_etl_run(op["dir"], rec["input_rows"], op["derby_rows"], formats)
            problems += p
            defects.update(d)
            for s, b in sz.items():
                sizes[s].append(b)
            per_row.append(sum(sz.values()) / rec["input_rows"])
        shutil.rmtree(op["dir"], ignore_errors=True)
        if problems:
            failed += 1
            print(f"perfbench: FAIL {op['dir']}: {'; '.join(problems)}", file=sys.stderr)
    for d in sorted(defects):
        print(f"perfbench: KNOWN DEFECT {d}", file=sys.stderr)
    return failed, {s: median(v) / MB for s, v in sizes.items()}, median(per_row), sorted(defects)


def query_results(rec):
    from checks import check_queries
    names = sorted({op["name"] for op in rec["ops"]})
    bad, report = check_queries(rec["tables_dir"], rec["check_dir"], names, ROOT)
    for op in rec["ops"]:
        if op["error"] or op["check_error"]:
            bad.add(op["name"])
    for line in report.splitlines():
        if line.startswith("FAIL"):
            print(f"perfbench: {line}", file=sys.stderr)
    for name in sorted(bad):
        errs = {op["error"] or op["check_error"] for op in rec["ops"] if op["name"] == name}
        print(f"perfbench: FAIL {name}: {'; '.join(e for e in errs if e) or 'wrong output'}",
              file=sys.stderr)
    return sum(1 for op in rec["ops"] if op["name"] in bad)


def query_medians(ops, traced=False):
    """{(query, pass): median wall time of its executions in that pass}."""
    reps = {}
    for op in ops:
        if op["traced"] == traced:
            reps.setdefault((op["name"], op["pass"]), []).append(op["wall_s"])
    return {k: median(v) for k, v in reps.items()}


def overhead(rec):
    """Median over paired operations of traced minus untraced wall time."""
    ops = rec["ops"]
    if rec["workload"] == "queries_mix":
        timed = [op for op in ops if op["pass"] > 0]
        plain, traced = query_medians(timed), query_medians(timed, traced=True)
        diffs = [traced[k] - plain[k] for k in traced if k in plain]
    else:
        timed = [op for op in ops if not op["warm"]]
        diffs = [b["wall_s"] - a["wall_s"] for a, b in zip(timed[0::2], timed[1::2])]
    return median(diffs)


def dir_size(p):
    return sum(f.stat().st_size for f in p.rglob("*") if f.is_file()) if p.exists() else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp, digest = classpath()
    t_start = time.monotonic()
    deadline = t_start + RUN_LIMIT_S
    work = WORK_DIR / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    load_before = loadavg()
    try:
        t_jvm = time.monotonic()
        rec, err = run_jvm(cp, args, work, deadline - 25)
        t_jvm = time.monotonic() - t_jvm
        if rec is None:
            fail(err, 4)
        if rec["workload"].startswith("etl"):
            formats = ["csv", "json", "parquet", "sqlite", "xlsx"] \
                if rec["workload"] == "etl_generate_all" else ["parquet"]
            failed, sink_mb, bytes_per_row, defects = etl_results(rec, formats)
            walls = [op["wall_s"] for op in rec["ops"] if not op["traced"] and not op["warm"]]
            passes = walls
        else:
            failed = query_results(rec)
            sink_mb, bytes_per_row, defects = {}, 0.0, []
            timed = [op for op in rec["ops"] if op["pass"] > 0 and not op["traced"]]
            per_query = query_medians(timed)
            walls = [op["wall_s"] for op in timed]
            passes = [sum(v for (_, p), v in per_query.items() if p == n)
                      for n in range(1, rec["passes"])]
        attempted = len(rec["ops"])
        t_check = time.monotonic() - t_jvm - t_start
        # what the program and Spark leave behind once the benchmark has
        # removed the outputs and inputs it asked for
        if (work / "spans.json").exists():
            shutil.move(work / "spans.json", WORK_DIR / f"spans-{args.workload}.json")
        for p in work.iterdir():
            if p.name in ("runs", "check", "record.json", "jvm.log", "derby.log") or \
                    p.name.startswith(("input-", "tables-")):
                shutil.rmtree(p) if p.is_dir() else p.unlink()
        left_bytes = dir_size(work)
        for p in sorted(f for f in work.rglob("*") if f.is_file()):
            print(f"perfbench: left behind {p.relative_to(work)} ({p.stat().st_size} B)",
                  file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    load_after = loadavg()

    e2e = {
        "setup_s": (median(rec["setup_s"]), len(rec["setup_s"])),
        "op_s_p50": (median(walls), len(walls)),
        "suite_s": (median(passes), len(passes)),
        "peak_rss_mb": (rec["peak_rss_mb"], 1),
        "ok_frac": ((attempted - failed) / attempted, attempted),
    }
    layers = dict.fromkeys(PER_LAYER, 0.0)
    layers.update({k: v for k, v in rec.get("layers", {}).items() if k in PER_LAYER})
    for s, mb in sink_mb.items():
        layers[f"sources.{s}_mb"] = mb
    layers["sources.bytes_per_row"] = bytes_per_row
    if args.trace:
        layers["trace.overhead_s"] = overhead(rec)

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(), "cores_used": rec["cores"],
        "loadavg_before": load_before, "loadavg_after": load_after,
        "java": rec["java_version"], "spark": rec["spark_version"],
        "commit": git_commit(), "source_digest": digest[:16],
        "jvm_s": round(t_jvm, 3), "check_s": round(t_check, 3), "left_bytes": left_bytes,
        "output_bytes_per_row": bytes_per_row,
        "failed_frac": failed / attempted, "known_defects": defects,
        "samples": {k: n for k, (_, n) in e2e.items()},
        "setup_rounds_s": [round(x, 3) for x in rec["setup_s"]],
        "setup_session_s": [round(x, 3) for x in rec["setup_session_s"]],
    }
    if rec["workload"].startswith("etl"):
        record["pipeline_s"] = [round(op["wall_s"], 4) for op in rec["ops"]]
    else:
        record["warm_pass_s"] = round(rec["warm_pass_s"], 3)
        record["query_s"] = {name: round(v, 4) for (name, p), v in sorted(per_query.items())
                             if p == 1}
    for k, (v, n) in e2e.items():
        print(f"{k:<14} {v:12.4f} {END_TO_END[k]:<6} n={n}")
    if args.trace:
        for k in PER_LAYER:
            print(f"{k:<32} {layers[k]:12.4f} {PER_LAYER[k]}")
    print("run record " + json.dumps(record))
    metrics = ({k: {"value": v, "unit": END_TO_END[k]} for k, (v, _) in e2e.items()}
               if not args.trace else
               {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()})
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


if __name__ == "__main__":
    main()
