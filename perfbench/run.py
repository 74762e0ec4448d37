"""NSHM benchmark runner: builds the program from source, runs one workload
in a fresh JVM and prints the run's metrics as the last line of stdout.

  python3 perfbench/run.py --workload search --seed 1 --seconds 15 --trace 0
  python3 perfbench/run.py --selfcheck

Run from the root of a checkout. Everything the run writes stays under
.bench_build/. See perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def sibling_jvms() -> list:
    """Other JVMs on the host running the program or this benchmark."""
    found = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            cmd = pathlib.Path(f"/proc/{pid}/cmdline").read_bytes().split(b"\0")
        except OSError:
            continue
        text = b" ".join(cmd).decode(errors="replace")
        if cmd and cmd[0].endswith(b"java") and ("graft." in text or "perfbench." in text):
            found.append(int(pid))
    return found


def commit() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
        return out.stdout.strip() or None
    except OSError:
        return None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--selfcheck", action="store_true")
    a = ap.parse_args()
    if not a.selfcheck and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")

    source = build.build()
    cores = len(os.sched_getaffinity(0))
    work = (build.BUILD / f"run-{os.getpid()}").resolve()
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    tmp = work / "tmp"
    tmp.mkdir()
    siblings_start = sibling_jvms()
    jvm = ["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.hadoop.hadoop.tmp.dir=" + str(tmp),
           *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-cp", build.classpath(), "perfbench.Main", "--work", str(work), "--cores", str(cores)]
    if a.selfcheck:
        jvm += ["--selfcheck", "1"]
    else:
        jvm += ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", a.trace]
    t0 = time.time()
    proc = subprocess.Popen(jvm, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                            start_new_session=True)
    # a terminated runner takes its JVM with it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        out, err = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.stderr.write(f"run: JVM killed after {JVM_TIMEOUT_S} s\n")
        return 3
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    sys.stderr.writelines(l + "\n" for l in err.splitlines() if l.startswith("[perfbench]"))
    lines = out.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(err[-4000:])
        sys.stderr.write(f"run: JVM exited with {proc.returncode}\n")
        return proc.returncode or 1
    if a.selfcheck:
        print(lines[-1])
        return 0
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stderr.write(f"run: malformed result line: {lines[-1][:400]}\n")
        return 1
    host = {"source_sha256": source, "commit": commit(), "cores": cores,
            "jvm_wall_s": round(time.time() - t0, 3),
            "sibling_jvms_start": len(siblings_start), "sibling_jvms_end": len(sibling_jvms())}
    for line in lines[:-1]:
        if line.startswith('{"run_record"'):
            print(line)
    print(json.dumps({"host": host}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
