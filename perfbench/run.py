#!/usr/bin/env python3
"""Run one benchmark workload against graft and print its result.

Usage (from the repository root):
  python3 perfbench/run.py --workload <cve_daily|corpus_lifecycle>
                           --seed <n> --seconds <s> --trace <0|1>

Builds the benchmark if needed (perfbench/build.py), runs it in a fresh JVM
whose temporary, Spark-local and warehouse directories all live under
perfbench/.work, then prints a detail line followed by the result as the
last line of stdout:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones (the traced run also writes its spans next to the result in
perfbench/out/). The result is also written to perfbench/out/. Exits
non-zero, printing no result, when the build or the run fails.
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

# the JVM's time limit is JVM_TIMEOUT_S plus two seconds per measured
# second: a run is a cold set-up, then whole cycles until --seconds is spent
JVM_TIMEOUT_S = 150
# the module openings Spark needs on JDK 17 outside spark-submit (the list
# build.sbt passes to forked runs)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def tree_bytes(path):
    total = 0
    for d, _, names in os.walk(path):
        for n in names:
            p = os.path.join(d, n)
            if os.path.isfile(p) and not os.path.islink(p):
                total += os.path.getsize(p)
    return total


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["cve_daily", "corpus_lifecycle"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    build.build()

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = os.path.join(HERE, ".work", f"{tag}-{os.getpid()}")
    out_dir = os.path.join(HERE, "out")
    out = os.path.join(out_dir, f"{tag}.json")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    for sub in ("tmp", "spark-local", "warehouse", "hadoop-tmp"):
        os.makedirs(os.path.join(work, sub))
    if os.path.exists(out):
        os.remove(out)

    env = dict(os.environ)
    env["SPARK_GRAFT_EXTRA_CONFS"] = ",".join([
        f"spark.sql.warehouse.dir={work}/warehouse",
        f"spark.local.dir={work}/spark-local",
        f"spark.hadoop.hadoop.tmp.dir={work}/hadoop-tmp",
    ])
    # class-data sharing: the first run of a build dumps the classes it
    # loaded to an archive, later runs map them in instead of loading them
    # from the jars; the dump goes to a file of its own and is moved into
    # place only once its JVM has exited cleanly
    cds = os.path.join(build.OUT, "classes.jsa")
    cds_dump = f"{cds}.{os.getpid()}"
    cds_flag = (f"-XX:SharedArchiveFile={cds}" if os.path.exists(cds)
                else f"-XX:ArchiveClassesAtExit={cds_dump}")
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", cds_flag, f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", build.classpath(), "perfbench.BenchMain",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", os.path.join(work, "run"), "--out", out])
    start = time.monotonic()
    proc = subprocess.Popen(cmd, env=env, stdout=subprocess.DEVNULL, stderr=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        _, stderr = proc.communicate(timeout=JVM_TIMEOUT_S + 2 * args.seconds)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        _, stderr = proc.communicate()
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()

    jvm_s = time.monotonic() - start
    if os.path.exists(cds_dump):
        if proc.returncode == 0:
            os.replace(cds_dump, cds)
        else:
            os.remove(cds_dump)

    # whatever the run left behind under its work dir is residue: the JVM
    # deletes its stores and Spark its local dirs before exiting
    residue_mb = tree_bytes(work) / 1048576.0
    shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0 or not os.path.exists(out):
        sys.stderr.write(stderr[-8000:])
        sys.stderr.write(f"\nrun: benchmark JVM failed (exit {proc.returncode})\n")
        return 1

    with open(out) as fh:
        full = json.load(fh)
    full["detail"]["io_tmp_residue_mb"] = residue_mb
    full["detail"]["jvm_s"] = jvm_s
    if args.trace:
        full["metrics"]["io.tmp_residue_mb"] = {"value": residue_mb, "unit": "MiB"}
    if residue_mb != 0:  # a failed output check fails every op
        full["correct"] = False
        full["failed"] = full["attempted"]
        full["detail"]["failures"].append(f"check: {residue_mb:.3f} MiB left under the work dir")
    with open(out, "w") as fh:
        json.dump(full, fh, indent=1)
    result = {k: full[k] for k in ("correct", "attempted", "failed", "metrics")}
    print(json.dumps({"detail": full["detail"]}))
    sys.stdout.flush()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
