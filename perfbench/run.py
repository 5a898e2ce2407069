#!/usr/bin/env python3
"""The repository benchmark: one command, three workloads.

    python3 perfbench/run.py --workload serve|curate|ingest --seed N \
        --seconds S --trace 0|1 [--smoke]

Run from the repository root. It compiles the engine (`src/main/scala`)
and the benchmark's main class (`perfbench/src`) with the Scala compiler that
ships among the Spark jars named by `build.sbt`, generates the input
tables, runs one workload in one JVM and prints, as its last line, one
JSON object with `correct`, `attempted`, `failed` and `metrics`
(end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`).

Everything it writes stays under `.bench_build/` in the working
directory; the compiled classes and the generated tables are reused by
later runs of the same sources. Each run also appends its record to
`.bench_build/runs.jsonl`, the input of `perfbench/compare.py`, and a
traced run writes its spans to `.bench_build/trace-<workload>.json`.
`--smoke` runs briefly at scale factor 0.001 (the benchmark's own tests
use it).

Output checks compare each query's result with `expected-sf<sf>.tsv`: row
count, a hash of the non-floating columns, and per floating column the sum
and the sum of absolute values (relative tolerance 1e-9). The files were
written with `--record` from outputs that `tools/check.py` confirmed exact
against the DuckDB oracle on the same generated tables. To re-record after
an intended change of results, run `graft.Verify` on
`.bench_build/data/sf<sf>-seed42`, check it with `tools/check.py`, then
run each of `serve` and `curate` once with `--record FILE` and concatenate.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import gen  # noqa: E402

SF = 0.01            # benchmark scale factor
SMOKE_SF = 0.001
DATA_SEED = 42       # the tables are fixed; --seed drives the workload
SETUP_ROUNDS = 3
# A micro-batch's cost is mostly fixed per-job work: on 4 vCPUs a 200-row
# batch takes about 4.2-4.7 s and a 500-row one about 4.9 s, so 200 rows
# leave five timed batches in a 20 s window instead of four.
INGEST_BATCH_ROWS = 200
INGEST_WARM_BATCHES = 2
INGEST_BATCHES = 120
JVM_TIMEOUT_S = 170
HEAP = "3g"
# the module options build.sbt gives forked JVMs (Spark on JDK 17)
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars(root):
    """The Spark jar directory `build.sbt` compiles against."""
    build = root / "build.sbt"
    if not build.is_file():
        fail("no build.sbt here: run from the repository root")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', build.read_text())
    jars = Path(m.group(1) if m else "")
    if not (jars / "scala-compiler-2.13.17.jar").is_file():
        fail(f"no Scala compiler among the Spark jars in '{jars}'")
    return jars


def build(root, jars, out_root):
    """Compile engine + benchmark into `.bench_build/classes-<hash>` once."""
    sources = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    sources += sorted((HERE / "src").rglob("*.scala"))
    if len(sources) < 2:
        fail("engine sources not found under src/main/scala")
    h = hashlib.sha256()
    for p in sources:
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    classes = out_root / f"classes-{h.hexdigest()[:16]}"
    if (classes / "perfbench" / "Bench.class").is_file():
        return classes
    staging = out_root / f"staging-{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    compiler = os.pathsep.join(str(jars / f"scala-{x}-2.13.17.jar")
                               for x in ("compiler", "library", "reflect"))
    argfile = staging / "sources.txt"
    argfile.write_text("\n".join(str(p) for p in sources))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-cp", str(jars / "*"), "-d", str(staging), f"@{argfile}"]
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("compilation failed")
    argfile.unlink()
    for old in out_root.glob("classes-*"):
        shutil.rmtree(old, ignore_errors=True)
    staging.rename(classes)
    return classes


def tables(out_root, sf):
    d = out_root / "data" / f"sf{sf}-seed{DATA_SEED}"
    if not (d / "done").is_file():
        shutil.rmtree(d, ignore_errors=True)
        gen.tables(d, sf, DATA_SEED)
        (d / "done").write_text("")
    return d


def ncpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(jars, classes, run_dir, kv):
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.local.dir={run_dir / 'tmp'}",
           f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
           f"-Dderby.system.home={run_dir}"]
    for p in JDK17_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([str(classes), str(jars / "*")]),
            "perfbench.Bench"] + [f"{k}={v}" for k, v in kv.items()]
    (run_dir / "tmp").mkdir(parents=True)
    with open(run_dir / "jvm.log", "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def drive(a, jars, classes, data, sf, run_dir):
    """Run one workload in its own JVM; returns its result record."""
    kv = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
          "trace": a.trace, "data": data, "out": run_dir, "cpus": ncpus(),
          "rounds": 1 if a.smoke else SETUP_ROUNDS,
          "expect": HERE / f"expected-sf{sf}.tsv"}
    if a.record:
        kv["record"] = Path(a.record).resolve()
    if a.workload == "ingest":
        ingest = run_dir / "applicants.tsv"
        gen.applicants(ingest, a.seed, gen.rows_at(sf, 150_000),
                       INGEST_BATCHES, INGEST_BATCH_ROWS)
        kv["ingest"] = ingest
        kv["warm_batches"] = 1 if a.smoke else INGEST_WARM_BATCHES
    t0 = time.time()
    code = run_jvm(jars, classes, run_dir, kv)
    res_path = run_dir / "result.json"
    if code != 0 or not res_path.is_file():
        sys.stderr.write((run_dir / "jvm.log").read_text()[-6000:])
        fail(f"benchmark JVM exited with {code} after {time.time() - t0:.0f} s")
    return json.loads(res_path.read_text())


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["serve", "curate", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="short run at sf0.001")
    ap.add_argument("--record", metavar="TSV",
                    help="write the run's output summaries here instead of checking them")
    a = ap.parse_args()
    # a terminated run still stops its JVM (see run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(3))

    root = Path.cwd()
    jars = spark_jars(root)
    out_root = root / ".bench_build"
    out_root.mkdir(exist_ok=True)
    classes = build(root, jars, out_root)
    sf = SMOKE_SF if a.smoke else SF
    data = tables(out_root, sf)
    run_dir = out_root / f"run-{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    try:
        res = drive(a, jars, classes, data, sf, run_dir)
        if a.trace and (run_dir / "trace.json").is_file():
            shutil.copy(run_dir / "trace.json", out_root / f"trace-{a.workload}.json")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    res.update({"seed": a.seed, "sf": sf, "seconds": a.seconds, "trace": a.trace})
    (out_root / f"last-{a.workload}-trace{a.trace}.json").write_text(
        json.dumps(res, indent=1) + "\n")

    metrics = res["layers"] if a.trace else res["metrics"]
    for f in res["failures"]:
        print(f"FAILED {f}", file=sys.stderr)
    # every metric by name with its unit, then the result line
    print(f"# {a.workload} seed={a.seed} sf={sf} ncpus={res['ncpus']} "
          f"samples={res['samples']} attempted={res['attempted']} failed={res['failed']} "
          f"failed_frac={res['failed'] / res['attempted']:.4f}")
    for k, v in metrics.items():
        print(f"# {k:36s} {v['value']:>16.6g} {v['unit']}")
    with open(out_root / "runs.jsonl", "a") as log:
        log.write(json.dumps({k: res[k] for k in (
            "workload", "seed", "sf", "ncpus", "trace", "seconds", "samples",
            "attempted", "failed")} | {"metrics": metrics}) + "\n")
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
