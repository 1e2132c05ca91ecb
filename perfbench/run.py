#!/usr/bin/env python3
"""The repository benchmark.

    python3 perfbench/run.py --workload <name|all> --seed N --seconds S --trace 0|1

Builds the library and the harness (perfbench/build.py), then runs each
workload in its own JVM and Spark session at local[nproc]: seeded input
generation and warm-up passes (together with JVM and session start, the
set-up time), then closed-loop passes for S seconds, each checked against
the first pass and against the digests pinned in perfbench/expected.json.
Prints every metric by name and unit, then, as the last line, one JSON object
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics of BENCHMARK.json; --trace 1 reports its per-layer
metrics and writes the span JSONL to .bench_build/run/<workload>-.../.

    python3 perfbench/run.py --workload extract_scan --pin-seeds 0-9

re-pins the digests of seeds 0-9 into perfbench/expected.json.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["extract_scan", "ocr_pages"]
EXPECTED = os.path.join(build.BENCH, "expected.json")
HEAP = "3g"
JVM_TIMEOUT_S = 165
# Spark 4 on JDK 17 outside spark-submit (same list as build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def other_jvms():
    """Live java processes other than this benchmark's (interference guard)."""
    found = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == os.getpid():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                argv0 = f.read().split(b"\0")[0].decode(errors="replace")
        except OSError:
            continue
        if os.path.basename(argv0) == "java":
            found.append(int(pid))
    return found


def jvm_command(classes, jars, work, main_args):
    return ([build.java(), *ADD_OPENS, f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseParallelGC",
             "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", classes + os.pathsep + os.path.join(jars, "*"),
             "graft.perfbench.Main", "--work-dir", work] + main_args)


def run_jvm(cmd, work, timeout):
    """Runs the JVM to completion (killing it on timeout); returns its log."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=build.ROOT)
        try:
            p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"JVM timed out after {timeout} s (log: {log_path})")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    with open(log_path) as f:
        text = f.read()
    if p.returncode != 0:
        raise RuntimeError(f"JVM exited with {p.returncode}:\n{text[-3000:]}")
    return text


def load_expected():
    if os.path.exists(EXPECTED):
        with open(EXPECTED) as f:
            return json.load(f)
    return {}


def check_passes(res, expected):
    """Failures per pass: the JVM's own checks, agreement with the first
    pass, and the pinned (rows, digest) of this workload, size and seed."""
    pin = expected.get(res["workload"], {})
    pinned = pin.get("seeds", {}).get(str(res["seed"])) if pin.get("size") == res["size"] else None
    first = res["passes"][0]
    out = []
    for p in res["passes"]:
        f = list(p["failures"])
        if (p["rows"], p["digest"]) != (first["rows"], first["digest"]):
            f.append(f"output differs from pass 0: {p['rows']}/{p['digest']}")
        if pinned and [p["rows"], p["digest"]] != pinned:
            f.append(f"output {p['rows']}/{p['digest']} differs from pinned {pinned[0]}/{pinned[1]}")
        out.append(f)
    return out, pinned is not None


def run_workload(name, args, classes, jars, bench, expected):
    work = os.path.join(build.BUILD, "run", f"{name}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    others = other_jvms()
    deadline = time.time() + 10
    while others and time.time() < deadline:  # give a previous JVM time to exit
        time.sleep(1)
        others = other_jvms()
    result = os.path.join(work, "result.json")
    cmd = jvm_command(classes, jars, work, [
        "--workload", name, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--result", result,
        "--launched-ms", str(int(time.time() * 1000))])
    try:
        run_jvm(cmd, work, JVM_TIMEOUT_S)
        with open(result) as f:
            res = json.load(f)
    finally:
        for d in ("input", "spark-local", "warehouse", "tmp"):
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    res["other_jvms"] = others
    failures, pinned = check_passes(res, expected)
    layer_failed = res["layer_failures"] > 0
    attempted = len(failures) + (1 if args.trace else 0)
    failed = sum(1 for f in failures if f) + (1 if layer_failed else 0)

    key = "per_layer" if args.trace else "end_to_end"
    declared = {m["name"]: m["unit"] for m in bench[key]}
    got = res["metrics"]
    unknown = set(got) - set(declared)
    if unknown:
        raise RuntimeError(f"metrics not declared in BENCHMARK.json: {sorted(unknown)}")
    metrics = {}
    for m, unit in declared.items():
        v = got.get(m)
        if v is None and args.trace:
            v = 0.0  # the layer does no work on this workload
        if v is None:
            raise RuntimeError(f"{name}: metric {m} was not measured")
        metrics[m] = {"value": v, "unit": unit}

    timed = [p for p in res["passes"] if not p["warm"]]
    gen = "/".join(f"{g:.2f}" for g in res["setup"]["gen_s"])
    secs = "/".join(f"{p['sec']:.2f}" for p in timed)
    print(f"== {name}  seed={args.seed} trace={args.trace}  {res['size']} items/pass  "
          f"nproc={res['nproc']} heap={res['heap_max_mb']:.0f}MB gc={'+'.join(res['gc'])}  "
          f"load1={res['load_avg_1m'][0]:.2f}->{res['load_avg_1m'][1]:.2f}  "
          f"other_jvms={len(others)}{' (FLAGGED: results may be slowed)' if others else ''}")
    print(f"   setup: boot {res['setup']['boot_s']:.2f}s, generate "
          f"{gen}s, warm-up {res['setup']['warm_s']:.2f}s; {len(timed)} timed passes {secs}s; "
          f"output {'pinned' if pinned else 'not pinned for this seed'}")
    for m, v in metrics.items():
        print(f"   {m:32s} {v['value']:14.4f} {v['unit']}")
    print(f"   {'op_fail_ratio':32s} {failed / attempted:14.4f} ratio ({failed}/{attempted})")
    for i, f in enumerate(failures):
        for msg in f:
            print(f"   FAIL pass {i}: {msg}")
    if layer_failed:
        print(f"   FAIL layer replay: {res['layer_failures']} mismatches")
    if res.get("trace_file"):
        print(f"   spans: {os.path.relpath(res['trace_file'], build.ROOT)}")
    return attempted, failed, metrics


def pin(args, classes, jars):
    lo, hi = args.pin_seeds.split("-")
    expected = load_expected()
    for name in (WORKLOADS if args.workload == "all" else [args.workload]):
        work = os.path.join(build.BUILD, "pin", name)
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        text = run_jvm(jvm_command(classes, jars, work, [
            "--workload", name, "--pin-seeds", f"{lo}-{hi}"]), work, 3600)
        shutil.rmtree(work, ignore_errors=True)
        for line in text.splitlines():
            if not line.startswith('{"workload"'):
                continue
            r = json.loads(line)
            if r["failures"]:
                raise RuntimeError(f"not pinning a failing output: {r}")
            entry = expected.setdefault(name, {"size": r["size"], "seeds": {}})
            if entry["size"] != r["size"]:
                entry.update(size=r["size"], seeds={})
            entry["seeds"][str(r["seed"])] = [r["rows"], r["digest"]]
    with open(EXPECTED, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--pin-seeds", help="re-pin the output digests of seeds LO-HI")
    args = ap.parse_args()
    bench_file = os.path.join(build.ROOT, "BENCHMARK.json")
    try:
        with open(bench_file) as f:
            bench = json.load(f)
        classes, jars = build.build()
    except (OSError, build.BuildError) as e:
        sys.exit(f"perfbench: {e}")
    if args.pin_seeds:
        pin(args, classes, jars)
        return
    expected = load_expected()
    names = WORKLOADS if args.workload == "all" else [args.workload]
    attempted = failed = 0
    metrics = {}
    for name in names:
        a, f, m = run_workload(name, args, classes, jars, bench, expected)
        attempted += a
        failed += f
        metrics.update(m if len(names) == 1 else {f"{name}.{k}": v for k, v in m.items()})
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
