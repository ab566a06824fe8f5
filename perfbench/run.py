"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), runs the workload in
one JVM (perfbench/scala), checks every operation's output against the
generator's ground truth or the DuckDB oracle, and prints as its last
stdout line one JSON object: {"correct", "attempted", "failed",
"metrics"}. The line before it is the full run record (seed, cores,
load, versions, input sizes, per-iteration figures), also kept under
.bench_build/results/. With --trace 1 the metrics are the per-layer
figures of a traced loop and the span JSON goes to .bench_build/traces/.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

JVM_TIMEOUT_S = 165


def source_digest():
    """The checkout is not always a git repository: identify the code by
    the build's source digest, plus the git commit when there is one."""
    rec = {"source_digest": None, "git_commit": None}
    try:
        rec["source_digest"] = os.path.basename(build.build()).split("-", 1)[1]
    except SystemExit:
        pass
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, timeout=10)
        if r.returncode == 0:
            rec["git_commit"] = r.stdout.decode().strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return rec


def run_jvm(classes, args, work, log_path):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-XX:-UsePerfData", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
              f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
              f"-Dderby.system.home={work}",
              "-Dderby.locks.waitTimeout=10",
              "-Dderby.language.statementCacheSize=0",
              "-Dspark.sql.session.timeZone=UTC",
              "-cp", build.classpath(classes), "graftbench.Main"] + args)
    with open(log_path, "wb") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            return "timeout"
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()


def main(argv=None, size="full"):
    """`size` "tiny" is the self-test's smoke size."""
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    t_start = time.time()
    classes = build.build()
    load_before = os.getloadavg()[0]
    work = os.path.join(build.BUILD, "work", f"{a.workload}-s{a.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.time()
        truth = gen.generate(a.workload, a.seed, os.path.join(work, "input"), size)
        # the warm-up runs on inputs of the same size from the next seed,
        # so the timed loop starts with the JIT warm for that size
        gen.generate(a.workload, a.seed + 1, os.path.join(work, "warm"), size)
        gen_s = time.time() - t0
        out = os.path.join(work, "result.json")
        log = os.path.join(work, "jvm.log")
        rc = run_jvm(classes, [
            "--workload", a.workload, "--input", os.path.join(work, "input"),
            "--warm", os.path.join(work, "warm"), "--work", work,
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--seed", str(a.seed), "--out", out], work, log)
        if rc != 0 or not os.path.exists(out):
            with open(log, "rb") as f:
                sys.stderr.write(f.read()[-6000:].decode("utf-8", "replace"))
            sys.stderr.write(f"\nrun: JVM exited with {rc}\n")
            return 1
        with open(out) as f:
            rec = json.load(f)
        verdict = checks.check(a.workload, rec, truth, os.path.join(work, "input"))
        load_after = os.getloadavg()[0]
        e2e = metrics.end_to_end(a.workload, rec, truth)
        result = {
            "correct": verdict["failed"] == 0 and verdict["attempted"] > 0,
            "attempted": verdict["attempted"], "failed": verdict["failed"],
            "metrics": metrics.per_layer(rec, e2e) if a.trace else e2e,
        }
        record = dict(
            workload=a.workload, seed=a.seed, seconds=a.seconds, trace=a.trace,
            size=size, cores=rec["cores"], load_before=load_before,
            load_after=load_after, spark=rec["spark"], java=rec["java"],
            shuffle_partitions=rec["shuffle_partitions"],
            input_bytes=sum(os.path.getsize(os.path.join(d, f))
                            for d, _, fs in os.walk(os.path.join(work, "input"))
                            for f in fs if f != "truth.json"),
            input_rows=truth["input_rows"], gen_s=gen_s,
            run_s=time.time() - t_start,
            op_fail_ratio=verdict["failed"] / max(1, verdict["attempted"]),
            failures=verdict["failures"][:20],
            setups=rec["setups"],
            iterations=[{k: v for k, v in it.items() if k != "ops"} | {
                "ops": [(o["name"], o["latency_s"]) for o in it["ops"]]}
                for it in rec["iterations"]],
            metrics=result["metrics"], **source_digest())
        if a.trace:
            tr = rec["traced"]
            record["trace_overhead_s"] = result["metrics"]["trace.overhead_s"]["value"]
            tdir = os.path.join(build.BUILD, "traces")
            os.makedirs(tdir, exist_ok=True)
            tpath = os.path.join(tdir, f"{a.workload}-seed{a.seed}.json")
            with open(tpath, "w") as f:
                json.dump({"workload": a.workload, "seed": a.seed,
                           "iterations": len(tr["iterations"]),
                           "layers": tr["layers"], "spans": tr["spans"]}, f)
            record["spans_file"] = os.path.relpath(tpath, build.ROOT)
        rdir = os.path.join(build.BUILD, "results")
        os.makedirs(rdir, exist_ok=True)
        with open(os.path.join(rdir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
            json.dump(record, f, indent=1)
        print(json.dumps({"record": record}))
        print(json.dumps(result))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.exit(main())
