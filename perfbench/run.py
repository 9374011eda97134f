#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload es_serving --seed 1 --seconds 8 --trace 0

Run from the repository root. The first run in a checkout compiles the
library sources (src/main/scala) with the harness (perfbench/src) through
sbt; later runs reuse the classes while the sources are unchanged.

The workload's keys, their families and the layer -> end-to-end metric map
live in perfbench/workloads.json. The seed picks the order of the warm-up and
of every measured pass over the workload's keys; training_pipeline's
NetFlow/IPFIX packets are generated from it too.

With --trace 0 the result carries the end-to-end metrics of an untraced
run; with --trace 1 it carries the per-layer metrics of a traced run, in
which every operation runs twice, traced and untraced, so the tracing
overhead is measured on identical work. Every distinct operation's output
is checked against its DuckDB oracle after the run, outside the timed
window; an exception or a mismatch counts as a failed operation.

The data directory is $SPARK_GRAFT_SF_DIR, else ~/testdata/sf0.1; Spark is
$SPARK_HOME, else the installation holding spark-submit on PATH. Run files
go to .perfbench/ under the repository root.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
from pathlib import Path

from oracle import Oracle

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
CLASSES = HERE / "target" / "scala-2.13" / "classes"
STAMP = HERE / "target" / "perfbench.stamp"
PASS_ORDERS = 64
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            die("no SPARK_HOME and no spark-submit on PATH")
        home = str(Path(submit).resolve().parent.parent)
    if not (Path(home) / "jars").is_dir():
        die(f"no Spark jars under {home}")
    return Path(home)


def data_dir() -> Path:
    d = Path(os.environ.get("SPARK_GRAFT_SF_DIR", Path.home() / "testdata" / "sf0.1"))
    if not (d / "events.parquet").exists():
        die(f"no sf0.1 tables in {d} (set SPARK_GRAFT_SF_DIR)")
    return d


def build(env: dict) -> None:
    """Compile library + harness unless the stamp says the sources are unchanged."""
    lib = ROOT / "src" / "main" / "scala"
    if not lib.is_dir():
        die(f"no library sources at {lib.relative_to(ROOT)}")
    files = sorted(p for base in (lib, HERE / "src") for p in base.rglob("*.scala"))
    files += [HERE / "build.sbt", HERE / "project" / "build.properties"]
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    if CLASSES.is_dir() and STAMP.exists() and STAMP.read_text() == stamp:
        return
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE, env=env,
                       stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_TIMEOUT_S)
    if r.returncode != 0:
        die("build failed")
    STAMP.write_text(stamp)


def layer_unit(name: str) -> str:
    """Unit of a per-layer metric computed by the harness (graft.perfbench.Layers)."""
    special = {"plan.ms": "ms", "exec.core_busy": "ratio", "exec.straggler_ratio": "ratio",
               "stream.rows_per_s": "rows/s"}
    if name in special:
        return special[name]
    for suffix, unit in (("_ms", "ms"), ("_mb", "MB"), ("_pct", "%")):
        if name.endswith(suffix):
            return unit
    return "count"


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = HERE / "workloads.json"
    spec = json.loads(spec_path.read_text())
    if args.workload not in spec["workloads"]:
        die(f"unknown workload {args.workload}; known: {sorted(spec['workloads'])}")
    wl = spec["workloads"][args.workload]
    env = dict(os.environ, SPARK_HOME=str(spark_home()))
    data = data_dir()
    build(env)

    rng = random.Random(args.seed)
    keys = list(wl["keys"])
    rng.shuffle(keys)
    passes = []
    for _ in range(PASS_ORDERS):
        order = [k[0] for k in keys]
        rng.shuffle(order)
        passes.append(order)
    out = WORK / f"{args.workload}-{args.seed}-{args.trace}"
    shutil.rmtree(out, ignore_errors=True)
    (out / "tmp").mkdir(parents=True)
    plan = {
        "data": str(data), "out": str(out), "seconds": args.seconds,
        "trace": args.trace, "cpus": len(os.sched_getaffinity(0)), "keys": keys, "passes": passes,
        "artifacts": wl["artifacts"], "rebuild": wl["rebuild"], "warmup_rounds": wl["warmup_rounds"],
        "sources_seed": rng.randrange(1 << 62) if wl["sources"] else None,
    }
    (out / "plan.json").write_text(json.dumps(plan))

    cp = f"{CLASSES}{os.pathsep}{env['SPARK_HOME']}/jars/*"
    java = [shutil.which("java") or "java", *JVM_OPENS, "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={out / 'tmp'}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC", "-cp", cp,
            "graft.perfbench.Main", "--plan", str(out / "plan.json")]
    r = subprocess.run(java, cwd=ROOT, env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=RUN_TIMEOUT_S)
    if r.returncode != 0:
        die(f"harness exited with {r.returncode}")
    res = json.loads((out / "result.json").read_text())

    # ---- correctness, outside the timed window
    oracle = Oracle(data, WORK / "oracle-cache")
    sql = json.loads((out / "oracle_sql.json").read_text())
    ops = res["ops"]
    bad = {k: "not deterministic across executions" for k in res["nondeterministic"]}
    for key in sorted({o["key"] for o in ops if not o["error"]} - bad.keys()):
        err = oracle.check(out / "results" / key, sql[key])
        if err:
            bad[key] = err
    for o in ops:
        if o["error"]:
            bad.setdefault(o["key"], o["error"])
    sources = res["sources"]
    src_errors = [s["error"] for s in sources if s["error"]] + res["sources_warm_errors"]
    attempted = len(ops) + len(sources)
    failed = len([o for o in ops if o["error"] or o["key"] in bad]) + len([s for s in sources if s["error"]])
    for k, e in sorted(bad.items()):
        print(f"perfbench: FAILED {k}: {e}", file=sys.stderr)
    for e in src_errors:
        print(f"perfbench: FAILED sources {e}", file=sys.stderr)

    metrics = {}

    def put(name, value, unit):
        metrics[name] = {"value": value, "unit": unit}

    setup = res["setup"]
    if args.trace == 0:
        ms = [o["ms"] for o in ops]
        put("setup_s", setup["setup_s"], "s")
        put("latency_p50_ms", statistics.median(ms), "ms")
        put("latency_p90_ms", statistics.quantiles(ms, n=10, method="inclusive")[8], "ms")
        put("ops_per_s", len(ms) / res["window_s"], "ops/s")
        put("pass_s", statistics.median(res["pass_s"]), "s")
    else:
        put("session.start_s", setup["session_s"], "s")
        put("warmup.s", setup["warmup_s"], "s")
        put("artifact.text_build_s", setup["text_build_s"], "s")
        put("artifact.vec_build_s", setup["vec_build_s"], "s")
        put("artifact.mb", setup["artifact_bytes"] / 1e6, "MB")
        for name, value in sorted(res["layers"].items()):
            put(name, value, layer_unit(name))
        by_format = {s["format"]: s["ns"] for s in sources}
        for f in ("v5", "v9", "ipfix"):
            put(f"sources.{f}_decode_ns", by_format.get(f, 0.0), "ns")

    print(f"perfbench: {args.workload} seed={args.seed} trace={args.trace} ops={len(ops)} "
          f"keys={len({o['key'] for o in ops})} failed_ratio={failed / attempted:.4f} "
          f"host={json.dumps(res['host'])} record={out / 'result.json'}", file=sys.stderr)
    for name, m in metrics.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
