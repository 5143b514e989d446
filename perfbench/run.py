#!/usr/bin/env python3
"""graft benchmark: the import paths into embedded Derby, driven from
outside through the library's public entry points.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run builds the library and the JVM harness with sbt (offline)
into `.bench_build/`; later runs reuse the build while the sources are
unchanged. Inputs are generated from the seed, oracles are computed
untimed, and the last stdout line is one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones, with `--trace 1` the per-layer ones.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import layers  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
JDBC_URL = "jdbc:derby:memory:perfbench;create=true"
OP_CAP_S = 60          # per-operation watchdog cap
SETUP_REPS = 3         # set-up repetitions per run (median reported)
MIN_OPS = 6            # operations per run, cold one included

IMPORTS = {
    "import_csv_append": {"argv": [], "merge_in_db": False},
    "import_json_upsert": {"argv": ["-i", "UPSERT", "-k", "k"], "merge_in_db": False},
    "import_upsert_indb": {"argv": ["-i", "UPSERT", "-k", "k"], "merge_in_db": True},
}

JAVA_OPTS = [
    "-Xms2g", "-Xmx2g", "-Duser.timezone=UTC",
    *[x for p in ["java.base/java.lang", "java.base/java.lang.invoke",
                  "java.base/java.lang.reflect", "java.base/java.io",
                  "java.base/java.net", "java.base/java.nio",
                  "java.base/java.util", "java.base/java.util.concurrent",
                  "java.base/java.util.concurrent.atomic",
                  "java.base/sun.nio.ch", "java.base/sun.nio.cs",
                  "java.base/sun.security.action", "java.base/sun.util.calendar"]
      for x in ("--add-opens", p + "=ALL-UNNAMED")],
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ------------------------------------------------------------------ build

def _source_digest():
    """Digest of everything the build reads, so an unchanged checkout
    reuses its build and a changed one rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure_built():
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("run from the root of a graft checkout (no build.sbt / src/main/scala/graft)")
    os.makedirs(BUILD, exist_ok=True)
    digest = _source_digest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = os.path.join(BUILD, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp):
        with open(stamp) as f:
            if f.read().strip() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.forcestart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as lf:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=subprocess.PIPE,
                           stderr=lf, text=True, timeout=840)
        lf.write(r.stdout)
    lines = [x for x in r.stdout.strip().split("\n") if x.strip()]
    if r.returncode != 0 or not lines or ".jar" not in lines[-1]:
        fail(f"build failed, see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp


# ------------------------------------------------------------------ inputs

def file_digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def generate_inputs(workload, workdir, seed):
    """Generate the inputs SETUP_REPS times; returns (median seconds,
    source file). Every repetition must produce the same bytes."""
    times, digests = [], set()
    source = None
    for _ in range(SETUP_REPS):
        shutil.rmtree(workdir, ignore_errors=True)
        t0 = time.perf_counter()
        source = gen.generate(workload, workdir, seed)
        times.append(time.perf_counter() - t0)
        digests.add(file_digest([os.path.join(workdir, n) for n in os.listdir(workdir)]))
    if len(digests) != 1:
        fail("input generation is not deterministic")
    return statistics.median(times), source


# ------------------------------------------------------------------ run

def run_harness(cp, plan, run_dir, trace):
    plan_path = os.path.join(run_dir, "plan.json")
    with open(plan_path, "w") as f:
        json.dump(plan, f)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opts = list(JAVA_OPTS) + [
        f"-Djava.io.tmpdir={plan['local_dir']}",
        f"-Dderby.stream.error.file={os.path.join(run_dir, 'derby.log')}"]
    if trace:
        opts.append("-Dspark.callstack.depth=100")
    log = os.path.join(run_dir, "harness.log")
    with open(log, "w") as lf:
        p = subprocess.Popen([java, *opts, "-cp", cp, "graftbench.Harness", plan_path],
                             cwd=ROOT, stdout=lf, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=170)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = -9
    return code, log


def read_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(x) for x in f if x.strip()]


def median(xs):
    """Median, or 0.0 when every operation failed (the run then reads
    `correct: false`)."""
    return statistics.median(xs) if xs else 0.0


def timeout_layer(o):
    """Layer a timed-out operation was stuck in: that of its running job,
    else that of its innermost open span, else the driver."""
    for job in o.get("running_jobs") or []:
        m = re.search(r"at (\w+\.scala):\d+", job)
        if m and m.group(1) in layers.FILE_LAYERS:
            return layers.FILE_LAYERS[m.group(1)]
        return f"job '{job}'"
    return layers.SPAN_LAYERS.get(o.get("span"), "driver")


def op_error(o, cap):
    """Failure description of one finished operation, or None."""
    if o.get("error") == "timeout":
        return f"{o['name']}: timeout after {cap}s in {timeout_layer(o)}"
    if o.get("error"):
        return f"{o['name']}: {o['error']}"
    if o.get("check_error"):
        return f"{o['name']}: check failed: {o['check_error']}"
    return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=list(IMPORTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cap", type=int, default=OP_CAP_S,
                    help="per-operation watchdog cap in seconds")
    a = ap.parse_args()

    cp = ensure_built()
    try:
        import oracle  # DuckDB; without it no output can be checked
    except ImportError as e:
        fail(f"oracle unavailable: {e}")

    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    local_dir = os.path.join(run_dir, "local")
    os.makedirs(local_dir)
    workdir = os.path.join(run_dir, "inputs")
    gen_s, source = generate_inputs(a.workload, workdir, a.seed)
    w = IMPORTS[a.workload]
    keyed = a.workload != "import_csv_append"
    target_csv = os.path.join(workdir, "target.csv") if keyed else None
    plan = {"seconds": a.seconds, "trace": a.trace, "cap_s": a.cap,
            "setup_reps": SETUP_REPS, "min_ops": MIN_OPS, "out_dir": run_dir,
            "local_dir": local_dir, "warehouse_dir": os.path.join(local_dir, "warehouse"),
            "jdbc_url": JDBC_URL, "table": "TGT", "merge_in_db": w["merge_in_db"],
            "ddl": gen.UPSERT_DDL if keyed else gen.LINEITEM_DDL, "seed_csv": target_csv,
            "argv": [JDBC_URL, "TGT", source] + w["argv"]}
    # the oracle first, untimed, from the generated files alone
    exp = (oracle.expected_upsert(target_csv, source) if keyed
           else oracle.expected_append(source))
    exp_hash = oracle.sha256(exp["lines"])

    code, log = run_harness(cp, plan, run_dir, a.trace)
    ops = read_jsonl(os.path.join(run_dir, "ops.jsonl"))
    if not ops or not os.path.exists(os.path.join(run_dir, "setup.json")):
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness exited with {code} and no record", 1)
    with open(os.path.join(run_dir, "setup.json")) as f:
        setup = json.load(f)

    errors = []
    for o in ops:
        e = op_error(o, a.cap)
        if e is None:
            if o.get("hash") != exp_hash:
                e = f"import {o['i']}: final table differs from the oracle"
            elif o.get("invalid") != exp["invalid"]:
                e = f"import {o['i']}: {o.get('invalid')} invalid rows, oracle {exp['invalid']}"
        o["failed"] = e is not None
        if e:
            errors.append(e)
    if code != 0 and not errors:
        errors.append(f"harness exited with {code}")
    for e in errors[:10]:
        print(f"perfbench: FAILED {e}", file=sys.stderr)
    if errors and os.path.exists(os.path.join(run_dir, "dump.txt")):
        with open(os.path.join(run_dir, "dump.txt")) as f:
            got = set(f.read().split("\n"))
        missing = [x for x in exp["lines"] if x not in got][:3]
        print(f"perfbench: first expected rows missing: {missing}", file=sys.stderr)

    # warm medians come from the second half of the warm operations: the
    # JIT is still speeding the first ones up
    warm = [o for o in ops[1:] if not o["traced"] and not o["failed"]]
    warm = warm[len(warm) // 2:]
    if a.trace:
        metrics = layer_metrics(run_dir, ops)
    else:
        summary = {}
        if os.path.exists(os.path.join(run_dir, "summary.json")):
            with open(os.path.join(run_dir, "summary.json")) as f:
                summary = json.load(f)
        metrics = {
            "rows_per_s": (median([o["valid"] / o["import_s"] for o in warm]), "rows/s"),
            "op_p50_s": (median([o["wall_s"] for o in warm]), "s"),
            "setup_s": (setup["session_s"] + setup["warmup_s"] + gen_s
                        + median(setup["setup_s"]), "s"),
            "peak_rss_mb": (summary.get("peak_rss_mb", 0.0), "MB"),
        }
    result = {"correct": not errors, "attempted": len(ops), "failed": sum(o["failed"] for o in ops),
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    if errors:
        print(f"perfbench: run directory kept: {run_dir}", file=sys.stderr)
    else:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))


def layer_metrics(run_dir, ops):
    lines = layers.SourceLines(ROOT)
    traced = layers.read_events(os.path.join(run_dir, "trace.jsonl"))
    by_op = {o["i"]: o for o in ops}
    per_op, unmapped = [], set()
    for t in traced:
        m, um = layers.attribute(t, lines)
        o = by_op.get(t["op"]["i"], {})
        m["sources.rows"] = o.get("found", 0)
        m["validate.invalid_rows"] = o.get("invalid", 0)
        m["dedup.duplicate_rows"] = o.get("duplicates", 0)
        valid = o.get("valid", 0)
        m["sink.write_amplification"] = m["sink.rows_written"] / valid if valid else 0.0
        per_op.append(m)
        unmapped.update(um)
    for u in sorted(unmapped):
        print(f"perfbench: unmapped call site: {u}", file=sys.stderr)
    names = (list(layers.TIME_METRICS.values()) + layers.SPARK_METRICS
             + layers.COUNT_METRICS + ["trace.wall_s", "trace.unmapped_jobs"])
    out = {}
    for n in names:
        out[n] = (sum(m.get(n, 0.0) for m in per_op) / len(per_op) if per_op else 0.0,
                  unit_of(n))
    # tracing overhead: traced minus untraced warm operations of the run
    out["trace.overhead_s"] = (median([o["wall_s"] for o in ops[1:] if o["traced"]])
                               - median([o["wall_s"] for o in ops[1:] if not o["traced"]]), "s")
    # one sample per run, too noisy to gate on: reported, not bounded
    out["cold_op_s"] = (ops[0]["wall_s"], "s")
    return out


def unit_of(name):
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("write_amplification"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
