#!/usr/bin/env python3
"""Product-path benchmark of the OTLP metrics pipeline.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (perfbench/build.py, cached under
.bench_build), runs one workload in a fresh JVM (graft.perfbench.Main),
checks its outputs and prints, as the last line of standard output, one
JSON object: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are BENCHMARK.json's end_to_end set, measured with no
listeners registered; with --trace 1 they are its per_layer set, from a
run that registers the benchmark's Spark and streaming listeners and
records spans. The full artifact of every run (all metrics with sample
counts, checks, host load, spans) is kept under .bench_build/artifacts.

Exits non-zero when a correctness check fails or a metric name differs
from BENCHMARK.json.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def run_jvm(classes, out_dir, args, work, artifact):
    jars = build.spark_jars()
    cpus = str(min(4, os.cpu_count() or 4))
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-Xss8m"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}",
            "-cp", f"{classes}{os.pathsep}{jars}/*", "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work), "--out", str(artifact),
            "--config", str(ROOT / "pipeline.properties")]
    env = dict(os.environ, SPARK_GRAFT_CPUS=cpus)
    log = out_dir / "logs" / f"{artifact.stem}.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=f,
                                stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = "timeout"
    return code, log


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        raise SystemExit(f"unknown workload {args.workload}")
    out_dir = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    classes = build.build(out_dir)

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = out_dir / "work" / f"{tag}-{os.getpid()}"
    artifact = out_dir / "artifacts" / f"{tag}.json"
    artifact.parent.mkdir(parents=True, exist_ok=True)
    artifact.unlink(missing_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        code, log = run_jvm(classes, out_dir, args, work, artifact)
        if code != 0 or not artifact.exists():
            sys.stderr.write(log.read_text()[-6000:])
            raise SystemExit(f"benchmark JVM failed ({code}); log: {log}")
        res = json.loads(artifact.read_text())
        checks = res["checks"]
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if args.trace == 0:
        wanted = [m["name"] for m in spec["end_to_end"]]
        metrics = {k: {"value": v["value"], "unit": v["unit"]}
                   for k, v in res["e2e"].items()}
        (out_dir / "artifacts" / f"{args.workload}-untraced-last.json").write_text(
            json.dumps({k: v["value"] for k, v in res["e2e"].items()}))
    else:
        wanted = [m["name"] for m in spec["per_layer"]]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        layer = dict(res["layer"])
        last = out_dir / "artifacts" / f"{args.workload}-untraced-last.json"
        base = json.loads(last.read_text()).get("latency_p50_ms") if last.exists() else None
        layer["trace.overhead_pct"] = (
            100.0 * (layer["trace.latency_p50_ms"] / base - 1.0) if base else 0.0)
        metrics = {k: {"value": v, "unit": units.get(k, "")} for k, v in layer.items()}
    names_ok = sorted(metrics) == sorted(wanted)
    checks.append({"name": "metric names equal BENCHMARK.json", "ok": names_ok,
                   "detail": "" if names_ok else
                   f"missing {sorted(set(wanted) - set(metrics))}, "
                   f"extra {sorted(set(metrics) - set(wanted))}"})
    correct = all(c["ok"] for c in checks)

    named = {k: f'{v["value"]:.4g} {v["unit"]} (n={v["samples"]})'
             for k, v in {**res["e2e"], **res["named"]}.items()}
    print(json.dumps({"workload": args.workload, "metrics": named,
                      "host": {k: v for k, v in res["layer"].items()
                               if k.startswith(("host.", "gen.", "jvm."))}}))
    for c in checks:
        if not c["ok"]:
            print(f"CHECK FAILED: {c['name']}: {c['detail']}")
            sys.stderr.write(f"CHECK FAILED: {c['name']}: {c['detail']}\n")
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"],
                      "metrics": {k: metrics[k] for k in wanted if k in metrics}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
