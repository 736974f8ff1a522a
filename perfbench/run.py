#!/usr/bin/env python3
"""graft benchmark: one seeded, cold, isolated run of one workload.

  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The run
  1. builds the program and the benchmark (perfbench/build.py),
  2. generates the workload's tables from the seed (perfbench/gen.py)
     into a uniquely named directory under .perfbench/work/,
  3. runs perfbench.Main in a fresh JVM: set-up pass, timed passes
     (one closed-loop client, local[4]), then the graft.Verify dump,
  4. checks the dump with tools/check_oracle.py (entries without an
     oracle must not throw and must return rows),
  5. deletes the /tmp/graft_* roots keyed to the generated directory
     and the work directory (also done before the run),
and prints a summary line and, last, one JSON result line. With
--trace 1 the metrics are the per-layer ones and the spans are kept
in .perfbench/traces/. Workloads are defined in perfbench/workloads.json.
"""
import argparse
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

BASE_DATA = "/root/testdata/sf0.1"
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
DEADLINE_S = 170


def sanitize(path):
    """graft.sources.Formats.sanitize: how layout roots embed a data dir."""
    s = re.sub(r"[^A-Za-z0-9.]+", "-", path)
    return s[1:] if s.startswith("-") else s


def layout_roots(key):
    return [os.path.join("/tmp", n) for n in os.listdir("/tmp")
            if n.startswith("graft_") and key in n]


def tree_bytes(paths):
    total = 0
    for p in paths:
        if os.path.isfile(p):
            total += os.path.getsize(p)
        for d, _, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files
                         if os.path.isfile(os.path.join(d, f)))
    return total


def purge(work_root):
    """Delete every earlier run's work dir and the layout roots keyed to it."""
    for p in layout_roots(sanitize(work_root)):
        shutil.rmtree(p, ignore_errors=True)
    shutil.rmtree(work_root, ignore_errors=True)


def cpu_ticks():
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def percentile(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, -(-len(s) * p // 100) - 1)]


def run(cmd, deadline, **kw):
    """Run a child in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=max(1, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise SystemExit(f"perfbench: {cmd[0]} timed out")
    return p.returncode, out


def check_outputs(root, data, verify_out, entries, deadline):
    """Failed entries: oracle mismatches, throws, and empty no-oracle
    outputs."""
    code, out = run([sys.executable, os.path.join(root, "tools", "check_oracle.py"),
                     data, verify_out], deadline, stdout=subprocess.PIPE,
                    stderr=subprocess.STDOUT, text=True)
    failed = {m.group(1) for m in re.finditer(r"^FAIL (\S+?):", out, re.M)}
    passed = {m.group(1) for m in re.finditer(r"^PASS (\S+)", out, re.M)}
    if code != 0 and not failed:
        sys.stderr.write(out[-4000:])
        raise SystemExit("perfbench: check_oracle.py failed without a verdict")
    with open(os.path.join(verify_out, "oracle_sql.json")) as f:
        oracled = set(json.load(f))
    with open(os.path.join(verify_out, "_failed.json")) as f:
        failed |= set(json.load(f))
    for name in entries:
        if name in oracled:
            if name not in passed:
                failed.add(name)
            continue
        d = os.path.join(verify_out, name)
        rows = sum(pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
                   for f in os.listdir(d) if f.endswith(".parquet")) \
            if os.path.isdir(d) else 0
        if rows == 0:
            failed.add(name)
    for line in out.splitlines():
        if line.startswith("FAIL"):
            print(f"[perfbench] {line}", file=sys.stderr)
    return sorted(failed)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)
    if a.workload not in workloads:
        raise SystemExit(f"perfbench: unknown workload {a.workload}")
    w = workloads[a.workload]
    for need in ("tools/check_oracle.py", "src/main/scala/graft/Verify.scala"):
        if not os.path.isfile(os.path.join(root, need)):
            raise SystemExit(f"perfbench: run from a graft checkout ({need} missing)")

    classpath = build.build(root)
    work_root = os.path.join(root, ".perfbench", "work")
    purge(work_root)
    work = os.path.join(work_root, f"{a.workload}-s{a.seed}-{os.getpid()}")
    data = os.path.join(work, "data")
    verify_out = os.path.join(work, "verify")
    traces = os.path.join(root, ".perfbench", "traces")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(traces, exist_ok=True)
    try:
        t0 = time.monotonic()
        code, _ = run([sys.executable, os.path.join(HERE, "gen.py"),
                       "--src", BASE_DATA, "--out", data, "--seed", str(a.seed),
                       "--scale", str(w["scale"]),
                       "--rows-per-group", str(w["rows_per_row_group"])], deadline)
        if code != 0:
            raise SystemExit("perfbench: input generation failed")
        gen_s = time.monotonic() - t0

        record = os.path.join(work, "record.json")
        opens = [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
        jvm = ["java", "-XX:-UsePerfData", *opens,
               "-Xms2g", "-Xmx2g", f"-Djava.io.tmpdir={work}/tmp",
               f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
               f"-Dspark.local.dir={work}/spark-local",
               "-cp", classpath, "perfbench.Main",
               "--data", data, "--entries", ",".join(w["entries"]),
               "--seconds", str(a.seconds), "--trace", str(a.trace),
               "--out", record, "--verify-out", verify_out,
               "--trace-out", os.path.join(traces, f"{a.workload}-seed{a.seed}.json")]
        t1, ticks = time.monotonic(), cpu_ticks()
        code, _ = run(jvm, deadline, cwd=work, stdout=subprocess.DEVNULL)
        jvm_s = time.monotonic() - t1
        steal = [after - before for before, after in zip(ticks, cpu_ticks())]
        steal_frac = steal[0] / max(1, steal[1])
        if code != 0 or not os.path.isfile(record):
            raise SystemExit(f"perfbench: benchmark JVM exited {code}")
        with open(record) as f:
            r = json.load(f)
        t2 = time.monotonic()
        bad = check_outputs(root, data, verify_out, w["entries"], deadline)
        oracle_s = time.monotonic() - t2
        disk_mb = tree_bytes([data, *layout_roots(sanitize(data))]) / 2**20
    finally:
        purge(work_root)

    attempted = r["executions"] + len(w["entries"])
    failed = r["failed_executions"] + len(bad)
    passes = [[x for x in p if x is not None] for p in r["entry_ms"]]
    pass_s = [sum(p) / 1e3 for p in passes]
    lat = [x for p in passes for x in p]
    e2e = {
        "wall_s": statistics.median(pass_s),
        "latency_p50_ms": statistics.median(lat),
        "latency_p90_ms": percentile(lat, 90),
        "setup_s": r["setup_s"],
        "retained_heap_mb": r["retained_heap_mb"],
        "disk_mb": disk_mb,
    }
    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    summary = {k: f"{v:.4f} {units[k]}" for k, v in e2e.items()}
    summary["failed_frac"] = f"{failed / attempted:.4f} ratio"
    print(f"[perfbench] workload={a.workload} seed={a.seed} trace={a.trace} "
          f"correct={failed == 0} attempted={attempted} failed={failed} "
          f"pass_s={[round(x, 3) for x in pass_s]} latency_samples={len(lat)} "
          f"gen_s={gen_s:.2f} jvm_s={jvm_s:.2f} oracle_s={oracle_s:.2f} "
          f"cpu_steal={steal_frac:.3f} "
          f"failed_entries={sorted(set(bad) | set(r['failed_entries']))}")
    print("[perfbench] " + " ".join(f"{k}={v}" for k, v in summary.items()))
    per_entry = zip(w["entries"], zip(*r["entry_ms"]), r["cold_ms"])
    print("[perfbench] entry warm/cold ms: " + " ".join(
        f"{n}={statistics.median([x for x in xs if x is not None] or [-1]):.0f}"
        f"/{-1 if c is None else c:.0f}" for n, xs, c in per_entry))
    if a.trace:
        layer = dict(r["per_layer"], **{"driver.retained_heap_mb": r["retained_heap_mb"]})
        metrics = {m["name"]: {"value": layer[m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"]}
        print(f"[perfbench] tracing overhead: {layer['trace.overhead_s']:.4f} s "
              f"(traced wall {layer['trace.wall_s']:.4f} s)")
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in units.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
