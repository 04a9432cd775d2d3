#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

Usage (from the repository root):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: tail_live, replay_catchup, batch_mix, bulk_load (see README.md).
The first run compiles the engine (src/main) and the harness (perfbench/src)
with the Scala compiler that ships in Spark's jars, and makes the fixture
tables; both are kept under .bench_build/perfbench and rebuilt when their
sources change. Every run then starts one Spark JVM at local[nproc], checks
its outputs, and prints one JSON result as the last line of standard output:
the end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.

Extra flags: --cpus <n> overrides local[nproc] (the local[1] reference),
--detail <file> writes the full result, with provenance and per-step detail.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
HARNESS_SRC = os.path.join(HERE, "src")
WORKLOADS = ("tail_live", "replay_catchup", "batch_mix", "bulk_load")
JVM_TIMEOUT_S = 165
# A fixed heap makes peak RSS read steadily; heap pressure shows as GC time.
HEAP = "1g"
FIXTURE_SEED = 42
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else the installed pyspark's."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        try:
            import pyspark
            home = os.path.dirname(pyspark.__file__)
        except ImportError:
            pass
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise SystemExit("Spark not found: set SPARK_HOME")
    return os.path.join(home, "jars")


def scala_files(top):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def compile_scala(files, out, classpath, stamp):
    """Compile `files` into `out` unless `out` was built from the same stamp."""
    stamp_file = out + ".stamp"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    args_file = out + ".args"
    with open(args_file, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss8m", "-cp", os.path.join(spark_jars(), "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-cp", classpath,
           "@" + args_file]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True, timeout=850)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-4000:])
        raise SystemExit(f"compile failed: {out}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def build():
    engine = scala_files(ENGINE_SRC)
    harness = scala_files(HARNESS_SRC)
    if not engine or not harness:
        raise SystemExit("engine or harness sources missing: run from a full checkout")
    jars = os.path.join(spark_jars(), "*")
    engine_out = os.path.join(BUILD, "engine")
    harness_out = os.path.join(BUILD, "harness")
    engine_stamp = digest(engine)
    compile_scala(engine, engine_out, jars, engine_stamp)
    compile_scala(harness, harness_out, f"{engine_out}:{jars}",
                  digest(harness, engine_stamp))
    return ":".join([harness_out, engine_out, ENGINE_RES, jars]), engine_stamp


def java(classpath, main, args, tmp, timeout=JVM_TIMEOUT_S):
    os.makedirs(tmp, exist_ok=True)
    # no hsperfdata file: the run writes only inside the checkout
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           *ADD_OPENS, "-cp", classpath, main, *args]
    env = dict(os.environ, TMPDIR=tmp, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark"))
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True, timeout=timeout, env=env)
    return res.returncode, res.stdout


def ensure_data(classpath, cpus):
    data = os.path.join(BUILD, "data", f"gensf{FIXTURE_SEED}-tenth")
    if os.path.isdir(data):
        return data
    tmp = os.path.join(BUILD, "tmp", "datagen")
    code, out = java(classpath, "perfbench.Main", [
        "--workload", "datagen", "--seed", "0", "--seconds", "0", "--trace", "0",
        "--cpus", str(cpus), "--data", data, "--gen-seed", str(FIXTURE_SEED),
        "--work", os.path.join(BUILD, "work", "datagen"),
        "--out", os.path.join(BUILD, "work", "datagen.json")], tmp, timeout=600)
    shutil.rmtree(tmp, ignore_errors=True)
    if code != 0 or not os.path.isdir(data):
        sys.stderr.write(out[-4000:])
        raise SystemExit("fixture generation failed")
    return data


def cpu_ticks():
    """(busy, steal) jiffies of the whole box, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return sum(f[:3]) + sum(f[5:7]), f[7]


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def workload_args(name, config, data):
    c = config.get(name, {})
    if name in ("replay_catchup", "batch_mix"):
        return ["--data", data, "--queries", ",".join(c["queries"])]
    if name == "tail_live":
        return ["--rates", ",".join(str(x) for x in c["rates_eps"]),
                "--shares", ",".join(str(x) for x in c["step_shares"]),
                "--warmup-s", str(c["warmup_s"]), "--gap-s", str(c["gap_s"])]
    return []


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=os.cpu_count())
    ap.add_argument("--detail")
    a = ap.parse_args()
    with open(os.path.join(HERE, "config.json")) as fh:
        config = json.load(fh)

    classpath, source_digest = build()
    data = ensure_data(classpath, a.cpus)
    run_id = f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    work = os.path.join(BUILD, "work", run_id)
    tmp = os.path.join(BUILD, "tmp", run_id)
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    raw_path = os.path.join(BUILD, "results", run_id + ".json")
    ticks0 = cpu_ticks()
    try:
        code, out = java(classpath, "perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cpus", str(a.cpus), "--work", work, "--out", raw_path,
            *workload_args(a.workload, config, data)], tmp)
        if code != 0 or not os.path.exists(raw_path):
            sys.stderr.write(out[-4000:])
            raise SystemExit(f"{a.workload} run failed (exit {code})")
        with open(raw_path) as fh:
            raw = json.load(fh)
        if raw.get("check_dir"):
            raw["failures"] += metrics.oracle_failures(
                os.path.join(ROOT, "tools", "check_oracle.py"), data, raw["check_dir"])
        spans = metrics.load_spans(raw["spans"]) if raw.get("spans") else []
        history = metrics.history_file(os.path.join(BUILD, "history"), a.workload,
                                       config, a.seconds, a.cpus)
        result = metrics.assemble(raw, config, spans, a.trace == 1, history)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(work, ignore_errors=True)
        if os.path.exists(raw_path):
            os.remove(raw_path)
    busy, steal = (end - start for start, end in zip(ticks0, cpu_ticks()))
    result["detail"]["provenance"] = {
        "steal_frac": steal / max(busy + steal, 1),
        "seed": a.seed, "git_commit": git_commit(), "engine_sources_sha256": source_digest,
        "nproc": os.cpu_count(),
        "cpus": a.cpus, "loadavg_start": raw.get("loadavg_start"),
        "loadavg_end": raw.get("loadavg_end"), "java": raw.get("java_version"),
        "spark": raw.get("spark_version"), "when": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())}
    if raw.get("spans"):
        result["detail"]["span_file"] = os.path.relpath(raw["spans"], ROOT)
    if a.detail:
        with open(a.detail, "w") as fh:
            json.dump(result, fh, indent=1, sort_keys=True)
    print(json.dumps(result["detail"]["provenance"], sort_keys=True))
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
