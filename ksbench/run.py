#!/usr/bin/env python3
"""End-to-end benchmark of the graft library (ksml topologies on Spark).

Run from the root of a checkout:

    python3 ksbench/run.py --threads 2 --sf 0.01 --event-rate 5000 \
        --lookup-rate 2 --drain-rows 160000 \
        --workload core_batch --seed 1 --seconds 12 --trace 0

(the fixed arguments are those of BENCHMARK.json's command).

Workloads: core_batch, stream_serve (see BENCHMARK.json and ksbench/DESIGN.md).
The first run in a checkout builds the library and `ksbench.Main` with sbt
(`ksbench/build.sbt`) and generates the input tables; later runs reuse both
while the sources are unchanged. Each run starts one JVM
(`ksbench.Main`), checks every output, and prints as its last line one JSON
object: `correct`, `attempted`, `failed` and `metrics`. With `--trace 0` the
metrics are the end-to-end ones, with `--trace 1` the per-layer ones.
Everything the run writes stays under `ksbench/target/`.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402

WORKLOADS = ("core_batch", "stream_serve")
# Fixed seed of the input tables: every run reads the same tables, and the
# run's --seed drives what varies (topology order, events, lookups).
DATA_SEED = 42
HEAP = "2g"
# a run must end within 180 s; the JVM is stopped before that
JVM_TIMEOUT_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"ksbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp(root):
    """Hash of every file the build compiles, so edits trigger a rebuild."""
    h = hashlib.sha256()
    dirs = [os.path.join(root, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(root, "project")]
    files = [os.path.join(root, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in dirs:
        for base, subdirs, names in os.walk(d):
            subdirs[:] = sorted(s for s in subdirs if s != "target")
            files += [os.path.join(base, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root, target):
    """Compile with sbt once per source state; returns the runtime classpath."""
    cp_file = os.path.join(target, "classpath.txt")
    stamp_file = os.path.join(target, "source.stamp")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    if shutil.which("sbt") is None:
        fail("sbt not found on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    os.makedirs(target, exist_ok=True)
    log = os.path.join(target, "build.log")
    with open(log, "w") as out:
        rc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL).returncode
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    if rc != 0 or not lines or "classes" not in lines[-1]:
        fail(f"build failed (rc={rc}); see {log}")
    cp = lines[-1]
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def ensure_data(target, sf):
    d = os.path.join(target, "data", f"sf{sf}-seed{DATA_SEED}")
    done = os.path.join(d, "_done")
    if not os.path.exists(done):
        rc = subprocess.run([sys.executable, os.path.join(HERE, "gen_data.py"),
                             d, str(sf), str(DATA_SEED)]).returncode
        if rc != 0:
            fail("input generation failed")
        open(done, "w").close()
    return d


def run_jvm(cp, args, work, log):
    java = shutil.which("java") or fail("java not found on PATH")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "ksbench.Main"]
    out_file = os.path.join(work, "record.json")
    cmd += [f"workload={args.workload}", f"seed={args.seed}",
            f"seconds={args.seconds}", f"trace={args.trace}",
            f"data={args.data_dir}", f"work={work}", f"out={out_file}",
            f"threads={args.threads}", f"event_rate={args.event_rate}",
            f"lookup_rate={args.lookup_rate}", f"drain_rows={args.drain_rows}"]
    with open(log, "w") as f:
        try:
            rc = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=JVM_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            fail(f"run exceeded {JVM_TIMEOUT_S} s; see {log}")
    if rc != 0 or not os.path.exists(out_file):
        with open(log) as f:
            tail = [l for l in f.read().splitlines() if "Exception" in l or "Error" in l][:5]
        fail(f"JVM exited with {rc}; see {log}\n" + "\n".join(tail))
    with open(out_file) as f:
        return json.load(f)


def oracle_check(root, data_dir, check_dir, names):
    """Compares the checked pass with DuckDB via scripts/check_oracle.py.

    Returns the names that failed."""
    if not names:
        return []
    script = os.path.join(root, "scripts", "check_oracle.py")
    if not os.path.exists(script):
        fail("scripts/check_oracle.py not found")
    res = subprocess.run([sys.executable, script, data_dir, check_dir],
                         capture_output=True, text=True, stdin=subprocess.DEVNULL)
    ok = set(re.findall(r"^OK\s+(\S+):", res.stdout, re.M))
    bad = [n for n in names if n not in ok]
    for line in res.stdout.splitlines():
        if line.startswith("FAIL"):
            print(f"oracle: {line}")
    return bad


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # fixed for every run in BENCHMARK.json's command
    ap.add_argument("--threads", type=int, required=True, help="Spark local[N]")
    ap.add_argument("--sf", required=True, help="scale factor of the batch tables")
    ap.add_argument("--event-rate", type=float, required=True, help="stream_serve events/s")
    ap.add_argument("--lookup-rate", type=float, required=True, help="stream_serve lookups/s")
    ap.add_argument("--drain-rows", type=int, required=True, help="stream_serve backlog rows")
    args = ap.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        fail("run from the root of a checkout of the library "
             "(build.sbt and src/main/scala/graft not found)")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    target = os.path.join(HERE, "target")
    cp = build(root, target)
    args.data_dir = ensure_data(target, args.sf)
    work = os.path.join(target, "work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        rec = run_jvm(cp, args, work, os.path.join(target, f"{args.workload}.log"))
        pct = metrics.Percentiles()
        if args.workload == "stream_serve":
            e2e, info, attempted, failed = metrics.stream_metrics(rec)
            layers = metrics.stream_layers(rec, pct) if args.trace else {}
        else:
            checked = [c["name"] for c in rec.get("checked", []) if "error" not in c]
            oracle_names = [n for n in rec.get("oracle_checked", []) if n in checked]
            bad = oracle_check(root, args.data_dir, os.path.join(work, "check"), oracle_names)
            e2e, info, attempted, failed = metrics.batch_metrics(rec, len(bad))
            info["oracle_checked"] = len(oracle_names)
            info["oracle_failed"] = bad
            layers = metrics.batch_layers(rec) if args.trace else {}
            for s in rec.get("samples", []):
                if not s["ok"]:
                    print(f"failed: {s['name']} pass {s['pass']}: {s['error']}")
            for c in rec.get("checked", []):
                if "error" in c:
                    print(f"failed: {c['name']} (checked pass): {c['error']}")
        for l in rec.get("lookups", []) + rec.get("quiet_lookups", []):
            if not l["ok"]:
                print(f"failed: lookup at {l['start_ms']:.0f}: {l['error']}")
        if args.trace:
            layers.update(metrics.process_layers(rec))
            # a per-layer percentile that breaks the sample-count rule
            # counts as a failed operation of the traced run
            for p in pct.problems:
                print(f"failed: percentile rule: {p}")
            failed += len(pct.problems)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # names and units come from BENCHMARK.json; per-layer metrics that do
    # not apply to the workload read 0
    if args.trace:
        out = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in bench["per_layer"]}
    else:
        # every workload measures every end-to-end metric
        out = {m["name"]: {"value": float(e2e.get(m["name"], math.nan)), "unit": m["unit"]}
               for m in bench["end_to_end"]}
    for name, m in out.items():
        # an end-to-end figure is never 0; one that is was not measured
        if not math.isfinite(m["value"]) or (not args.trace and m["value"] <= 0):
            print(f"failed: {name} has no value")
            m["value"] = 0.0
            failed += 1
    print(f"workload {args.workload} seed {args.seed} threads {args.threads} "
          f"trace {args.trace}: " + json.dumps(info, sort_keys=True))
    for name, m in out.items():
        print(f"  {name:36s} {m['value']:>16.4f} {m['unit']}")
    print(f"  attempted {attempted}  failed {failed}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
