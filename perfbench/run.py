#!/usr/bin/env python3
"""graft benchmark: one seeded, closed-loop run of one workload.

    python3 perfbench/run.py --workload lake-dml --seed 1 --seconds 24 --trace 0

Run from the root of a checkout. The first run builds the harness together
with the engine's sources (sbt, offline). Each run generates its inputs and
operations from the seed (about `--seconds` of work, in whole blocks),
starts one JVM that drives the engine through them, checks every timed
result against DuckDB, deletes its scratch directory and prints one JSON
line: end-to-end metrics with `--trace 0`, per-layer metrics with
`--trace 1`. See NOTES.md.
"""

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import data  # noqa: E402
import workloads  # noqa: E402

JVM_TIMEOUT_S = 150
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCHMARK = json.load(_f)

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _newest_mtime(*dirs):
    newest = 0.0
    for d in dirs:
        for dp, _, files in os.walk(d):
            for f in files:
                if f.endswith((".scala", ".sbt", ".properties")):
                    newest = max(newest, os.path.getmtime(os.path.join(dp, f)))
    return newest


def build():
    """Compile harness + engine once per checkout; return the classpath."""
    engine = os.path.join(ROOT, "src", "main", "scala", "graft")
    if not os.path.isdir(engine):
        fail("engine sources (src/main/scala/graft) not found; run from the "
             "root of a graft checkout")
    cp_file = os.path.join(BENCH, "target", "classpath.txt")
    srcs = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
            os.path.join(BENCH, "project")]
    if (os.path.exists(cp_file) and
            os.path.getmtime(cp_file) > max(_newest_mtime(*srcs),
                                            os.path.getmtime(os.path.join(BENCH, "build.sbt")))):
        return open(cp_file).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    out = subprocess.run(
        ["sbt", "-batch", "-Dsbt.server.autostart=false", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=800)
    lines = [ln for ln in out.stdout.splitlines()
             if "target/scala-2.13/classes" in ln and not ln.startswith("[")]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        fail("build failed")
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def _terminate(signum, frame):
    # unwinds through main's `finally` blocks, which stop the JVM and
    # delete the scratch directory
    sys.exit(128 + signum)


def main():
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    cp = build()
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.makedirs(os.path.join(work, "tmp"))
        spec = workloads.WORKLOADS[args.workload]
        inputs = os.path.join(work, "data")
        os.makedirs(inputs)
        header, ops = spec.generate(args.seed, args.seconds, inputs,
                                    os.path.join(work, "lake"))
        # the IO sentinel scans an sf0.1 lineitem, whatever the workload
        sentinel_dir = os.path.join(work, "sentinel")
        os.makedirs(sentinel_dir)
        if args.trace:
            data.relational(sentinel_dir, 0, 10, ["lineitem"])
        for i, op in enumerate(ops):
            op["id"] = i
        ops_file = os.path.join(work, "ops.jsonl")
        with open(ops_file, "w") as f:
            f.write(json.dumps(header) + "\n")
            for op in ops:
                f.write(json.dumps({k: v for k, v in op.items() if k != "duck"}) + "\n")

        out_file = os.path.join(work, "out.json")
        log_path = os.path.join(work, "jvm.log")
        cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
               ["-Xmx3g", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
                "-Dspark.sql.session.timeZone=UTC",
                f"-Djava.io.tmpdir={work}/tmp",
                f"-Dspark.local.dir={work}/spark-local",
                f"-Dspark.sql.warehouse.dir={work}/warehouse",
                "-cp", cp, "perfbench.Main", ops_file, out_file, inputs, sentinel_dir,
                str(cores), str(args.trace)])
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=log,
                                    stdin=subprocess.DEVNULL)
            try:
                proc.wait(timeout=JVM_TIMEOUT_S)
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if proc.returncode != 0 or not os.path.exists(out_file):
            sys.stderr.write(open(log_path).read()[-6000:])
            fail(f"engine run exited with {proc.returncode}")
        with open(out_file) as f:
            out = json.load(f)

        by_id = {op["id"]: op for op in ops}
        results = [(by_id[r["id"]], r) for r in out["ops"]]
        timed = [(op, r) for op, r in results if op["phase"] == "run"]
        # op id -> why it failed: an engine error or a result DuckDB disagrees with
        failures = {r["id"]: f"error {r['error']}" for _, r in results if "error" in r}
        mismatches, info = spec.check(inputs, ops, results)
        for i, msg in mismatches.items():
            failures.setdefault(i, msg)
        for i, msg in sorted(failures.items())[:10]:
            print(f"FAILED op {i} ({by_id[i].get('lake_kind') or by_id[i].get('op') or by_id[i]['kind']}): "
                  f"{msg[:300]} :: {by_id[i].get('sql', '')[:300]}", file=sys.stderr)
        n_failed = len(failures)
        lat = [r["ms"] for _, r in timed]
        attempted = len(timed)

        if args.trace == 0:
            measured = {
                "setup_s": out["setup_s"],
                "latency_p50_ms": statistics.median(lat),
                "wall_s": out["loop_ms"] / 1e3,
            }
        else:
            measured = {f"session.{k}": v for k, v in out["session"].items()}
            measured.update({f"host.{k}": v for k, v in out["host"].items()})
            measured.update({f"jvm.{k}": v for k, v in out["jvm"].items()})
            measured["jvm.rss_peak_mb"] = out["rss_peak_mb"]
            measured["error_rate"] = n_failed / attempted
            measured["ops.count"] = attempted
            measured["latency_p90_ms"] = statistics.quantiles(lat, n=10)[8]
            measured.update(out["trace"])
            measured.update(workloads.layer_metrics(results, out, info))
        wanted = BENCHMARK["per_layer" if args.trace else "end_to_end"]
        missing = [m["name"] for m in wanted if m["name"] not in measured]
        if missing:
            fail(f"metrics not measured: {missing}")
        doc = {
            "correct": n_failed == 0,
            "attempted": attempted,
            "failed": n_failed,
            "metrics": {m["name"]: {"value": float(measured[m["name"]]), "unit": m["unit"]}
                        for m in wanted},
        }
        print(json.dumps(doc))
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


if __name__ == "__main__":
    main()
