"""Benchmark entry point: builds the project, generates the inputs, runs one
workload in a fresh JVM and prints its metrics.

Usage:
  python3 perfbench/run.py --workload dashboard|corpus|stream_ingest
      --seed N --seconds S --trace 0|1
  python3 perfbench/run.py --workload all --seed N --seconds S --trace 0|1
  python3 perfbench/run.py --record-expected

Run from the repository root. The last line of standard output is one JSON
object with `correct`, `attempted`, `failed` and `metrics`: the end-to-end
metrics of BENCHMARK.json with `--trace 0`, its per-layer metrics with
`--trace 1`. Every other metric is printed on the lines before it, and the
full result (stamp, setup split, per-key walls, spans) is kept under
`<build dir>/results/`. The build directory is $CARGO_TARGET_DIR, else
`.bench_build`.

`--workload all` runs the three workloads one after another, untraced, and
traced as well with `--trace 1`; it then prints the tracing overhead.
`--record-expected` rewrites perfbench/expected.json from a fresh run of the
batch workloads; check the keys against the oracle first (README.md).
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
sys.dont_write_bytecode = True  # writes stay in the build directory
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen_data  # noqa: E402

WORKLOADS = ["dashboard", "corpus", "stream_ingest"]
RUN_TIMEOUT_S = 170
JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def cpus():
    return len(os.sched_getaffinity(0))


def driver_mem():
    """SPARK_DRIVER_MEM if set, else half the box's memory in GiB, clamped
    to 2..8 (the sizing the project's test runs use)."""
    mem = os.environ.get("SPARK_DRIVER_MEM")
    if mem:
        return mem
    gib = 2
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    gib = min(8, max(2, int(line.split()[1]) // 2097152))
    except OSError:
        pass
    return f"{gib}g"


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def build_dir():
    d = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(d, exist_ok=True)
    return d


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ([m["name"] for m in spec["end_to_end"]],
            [m["name"] for m in spec["per_layer"]])


def run_jvm(classes, workload, seed, seconds, trace, work, deadline, record=None):
    """Runs the harness; returns its result document."""
    mem = driver_mem()
    out = os.path.join(work, "result.json")
    cmd = (["java"] + [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Xmx{mem}", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
              "-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
              "graft.perfbench.Harness", "--workload", workload, "--seed", str(seed),
              "--seconds", str(seconds), "--trace", str(trace), "--cpus", str(cpus()),
              "--work", work, "--out", out,
              "--expected", os.path.join(HERE, "expected.json")])
    if record:
        cmd += ["--record", record]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_DRIVER_MEM=mem,
               SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=fh,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            proc.wait(timeout=max(10.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, 9)
            proc.wait()
    if proc.returncode != 0 or not os.path.isfile(out):
        with open(log, errors="replace") as fh:
            lines = [l for l in fh if not l.lstrip().startswith("at ")]
        errors = [l for l in lines if "Exception" in l or "Error" in l][:5]
        raise RuntimeError(f"{workload} run failed (exit {proc.returncode}):\n"
                           + "".join(errors + lines[-20:]))
    with open(out) as fh:
        doc = json.load(fh)
    doc["stamp"].update(xmx=mem, git_commit=git_commit(),
                        source_sha256=build.source_digest(build.sources()))
    return doc


def tables(bdir):
    """The generated input tables; they depend only on gen_data.py, so they
    are made once per build directory and copied into each run."""
    with open(os.path.join(HERE, "gen_data.py"), "rb") as fh:
        tag = hashlib.sha256(fh.read()).hexdigest()[:16]
    path = os.path.join(bdir, f"tables-{tag}")
    if not os.path.isdir(path):
        tmp = path + f".tmp{os.getpid()}"
        gen_data.main(tmp)
        os.rename(tmp, path)
    return path


def one_run(classes, workload, seed, seconds, trace, deadline, record=None):
    bdir = build_dir()
    work = os.path.join(bdir, "work", f"{workload}-{os.getpid()}-{trace}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        shutil.copytree(tables(bdir), os.path.join(work, "data"))
        doc = run_jvm(classes, workload, seed, seconds, trace, work, deadline, record)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    results = os.path.join(bdir, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{workload}-seed{seed}-trace{trace}.json"), "w") as fh:
        json.dump(doc, fh, indent=1)
    return doc


def fmt(name, m):
    return f"  {name:<34} {m['value']:>14.6g} {m['unit']}"


def report(doc):
    s = doc["stamp"]
    print(f"[{doc['workload']}] seed={doc['seed']} trace={int(doc['trace'])} "
          f"nproc={s['nproc']} xmx={s['xmx']} spark={s['spark']} jvm={s['jvm']} "
          f"commit={s['git_commit']} source={s['source_sha256'][:12]}")
    for name, m in doc["metrics"].items():
        print(fmt(name, m))
    st = doc["setup"]
    preps = " ".join(f"{k}={v:.3f}" for k, v in st["prep_s"].items())
    print(f"  setup: total={st['total_s']:.3f} jvm={st['setup.jvm_s']:.3f} "
          f"session={st['setup.session_s']:.3f} warmup={st['setup.warmup_s']:.3f} {preps}")
    for name, m in doc["layers"].items():
        print(fmt(name, m))
    keys = doc["detail"].get("keys", {})
    shares = [x for k in keys.values() for x in k["named_span_share"]]
    if shares:
        shares.sort()
        print(f"  named-span share of key wall: median {shares[len(shares) // 2]:.3f}, "
              f"min {shares[0]:.3f} over {len(shares)} calls")
    print(f"  output checks: {doc['attempted'] - doc['failed']}/{doc['attempted']} passed")
    for f in doc["failures"][:20]:
        print(f"  FAILED {f}")


def final_line(doc, names):
    ms = {n: doc["metrics" if not doc["trace"] else "layers"][n] for n in names}
    return json.dumps({"correct": doc["failed"] == 0 and doc["attempted"] > 0,
                       "attempted": doc["attempted"], "failed": doc["failed"],
                       "metrics": {n: {"value": m["value"], "unit": m["unit"]}
                                   for n, m in ms.items()}})


def overhead(plain, traced):
    print(f"[{plain['workload']}] tracing overhead (traced minus untraced):")
    for n, m in plain["metrics"].items():
        t = traced["metrics"][n]["value"]
        print(f"  {n:<34} {t - m['value']:>+14.6g} {m['unit']}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-expected", action="store_true")
    a = ap.parse_args()
    try:
        e2e, per_layer = declared()
        classes, _ = build.build(build_dir())
    except (OSError, ValueError, KeyError, build.BuildError) as e:
        sys.exit(f"setup failed: {e}")

    if a.record_expected:
        keys = {}
        for w in ["dashboard", "corpus"]:
            rec = os.path.join(build_dir(), f"expected-{w}.json")
            one_run(classes, w, a.seed, a.seconds, 0, time.monotonic() + 600, record=rec)
            with open(rec) as fh:
                keys.update(json.load(fh)["keys"])
        with open(os.path.join(HERE, "expected.json"), "w") as fh:
            json.dump({"table_seed": gen_data.TABLE_SEED, "keys": keys}, fh, indent=1, sort_keys=True)
            fh.write("\n")
        print(f"wrote {len(keys)} digests to perfbench/expected.json")
        return
    if a.workload is None:
        sys.exit("--workload is required")
    if a.workload != "all":
        doc = one_run(classes, a.workload, a.seed, a.seconds, a.trace,
                      time.monotonic() + RUN_TIMEOUT_S)
        report(doc)
        print(final_line(doc, per_layer if a.trace else e2e))
        return
    docs = []
    for w in WORKLOADS:
        plain = one_run(classes, w, a.seed, a.seconds, 0, time.monotonic() + RUN_TIMEOUT_S)
        report(plain)
        docs.append(plain)
        if a.trace:
            traced = one_run(classes, w, a.seed, a.seconds, 1, time.monotonic() + RUN_TIMEOUT_S)
            report(traced)
            overhead(plain, traced)
    print(json.dumps({"correct": all(d["failed"] == 0 for d in docs),
                      "attempted": sum(d["attempted"] for d in docs),
                      "failed": sum(d["failed"] for d in docs),
                      "workloads": {d["workload"]: final_line(d, e2e) for d in docs}}))


if __name__ == "__main__":
    try:
        main()
    except RuntimeError as e:
        sys.exit(str(e))
