"""Lakehouse benchmark: one workload, one seed, one run.

    python3 lakebench/run.py --workload lake_reads --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source (lakebench/build.py), runs
the workload in one JVM on local[4], checks its outputs, and prints as the
last line one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are BENCHMARK.json's end_to_end list; with
--trace 1 its per_layer list. The line before it is a report with every
end-to-end metric under its workload-specific name, sample counts, the
failed checks and the environment the numbers came from. Exits 1 when a
check fails, 2 when the run could not be made.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # leave nothing behind in the checkout
sys.path.insert(0, str(Path(__file__).resolve().parent))

import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("ingest_drops", "lake_reads", "text_curation")
# what Spark 4 on JDK 17 needs outside spark-submit (the engine's build.sbt sets the same)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RUN_LIMIT_S = 170


def fail(msg):
    sys.stderr.write(f"lakebench: {msg}\n")
    sys.exit(2)


def spec():
    path = build.ROOT / "BENCHMARK.json"
    if not path.exists():
        fail(f"{path} not found")
    return json.loads(path.read_text())


def git_commit():
    try:
        r = subprocess.run(["git", "-C", str(build.ROOT), "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    bench = spec()
    load_start = os.getloadavg()
    try:
        cp = build.classpath()
    except build.BuildError as e:
        fail(f"build failed: {e}")

    work = build.ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    record_file = work / "record.json"
    log_file = work / "jvm.log"
    # class-data sharing: the first run of a build dumps the classes it
    # loaded, later runs map them; it shortens JVM start-up and the first
    # set-up, and changes no code the JIT sees
    archive = build.cds_archive()
    no_archive = archive.with_suffix(".failed")
    dump = archive.with_name(f"{archive.name}.tmp{os.getpid()}")
    if archive.exists():
        cds, cds_mode = [f"-XX:SharedArchiveFile={archive}"], "used"
    elif no_archive.exists():
        cds, cds_mode = [], "off"
    else:
        cds, cds_mode = [f"-XX:ArchiveClassesAtExit={dump}"], "dumped"
    cmd = ["java", "-Xmx3g", "-Xss8m", "-XX:+UseG1GC", *cds, "-Xlog:cds*=off",
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", cp, "lakebench.Main",
           "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--work", str(work), "--out", str(record_file)]
    (work / "tmp").mkdir()
    try:
        with open(log_file, "wb") as log:
            proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
            try:
                # a first run also builds; the run itself gets RUN_LIMIT_S
                rc = proc.wait(timeout=RUN_LIMIT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = None
        if cds_mode == "dumped":
            if rc == 0 and dump.exists():
                dump.rename(archive)
            elif rc == 0:
                no_archive.touch()  # this JVM cannot dump; do not try again
        if rc != 0 or not record_file.exists():
            lines = log_file.read_text(errors="replace").splitlines()
            sys.stderr.write("\n".join(l for l in lines if not l.lstrip().startswith(("at ", "...")))[-6000:] + "\n")
            fail("the workload timed out" if rc is None else f"the workload JVM exited with {rc}")
        rec = json.loads(record_file.read_text())
    finally:
        dump.unlink(missing_ok=True)
        shutil.rmtree(work, ignore_errors=True)
        try:
            (build.ROOT / ".bench_work").rmdir()
        except OSError:
            pass

    attempted, failed = metrics.failures(rec)
    correct = failed == 0 and all(c["ok"] for c in rec["checks"])
    if args.trace:
        names = [(m["name"], m["unit"]) for m in bench["per_layer"]]
        out = metrics.per_layer(rec, names)
    else:
        e2e = metrics.end_to_end(rec)
        out = {}
        for m in bench["end_to_end"]:
            v, unit = e2e[m["name"]]
            if v is None:
                fail(f"metric {m['name']} could not be measured")
            out[m["name"]] = {"value": v, "unit": unit}
    env = {
        "seed": args.seed, "workload": args.workload, "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)), "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(), "java": rec["env"]["java"], "spark": rec["env"]["spark"],
        "git_commit": git_commit(), "source_sha256": build.source_stamp(),
        "class_data_sharing": cds_mode,
    }
    print(json.dumps({
        "report": metrics.report(rec),
        "failed_checks": [c for c in rec["checks"] if not c["ok"]],
        "failed_ops": [o for o in rec["ops"] if not o["ok"]][:5],
        "call_sites": metrics.call_sites(rec) if args.trace else None,
        "env": env,
    }))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": out}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
