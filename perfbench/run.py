"""Benchmark driver: builds the program, runs one workload, checks outputs.

Usage (from the repository root):
  python3 perfbench/run.py --workload crystal_db|llm_corpus|all
                           --seed N --seconds S --trace 0|1

Prints every end-to-end metric of the run by name and unit, host
provenance and any failure, then, as the last line, one JSON object
{"correct", "attempted", "failed", "metrics"}: with --trace 0 the metrics
are BENCHMARK.json's end_to_end list, with --trace 1 its per_layer list.
The run's full artifact (and, traced, its spans) goes to .bench_out/.
Exits non-zero without a result line if the program cannot be built or run.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ["crystal_db", "llm_corpus"]
OUT_DIR = os.path.join(ROOT, ".bench_out")
JVM_TIMEOUT_S = 170

ADD_OPENS = ["java.base/" + p + "=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def driver_heap():
    """The repository's test-suite driver heap: half of RAM, 2g..8g."""
    try:
        kb = next(int(line.split()[1]) for line in open("/proc/meminfo")
                  if line.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def bench_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run_jvm(workload, seed, seconds, trace, work, artifact, spans, log):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p)] +
           [f"-Xmx{driver_heap()}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", build.classpath(), "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", work, "--out", artifact, "--spans", spans])
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = -9
    if code != 0 or not os.path.exists(artifact):
        with open(log) as lf:
            tail = lf.read()[-4000:]
        print(f"perfbench: {workload} exited with {code}; log {log}:\n{tail}", file=sys.stderr)
        raise SystemExit(3)


def run_one(workload, seed, seconds, trace):
    work = os.path.join(ROOT, ".bench_build", "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    os.makedirs(OUT_DIR, exist_ok=True)
    tag = f"{workload}-s{seed}-t{trace}"
    artifact = os.path.join(OUT_DIR, tag + ".json")
    spans = os.path.join(OUT_DIR, tag + "-spans.jsonl")
    for f in (artifact, spans):
        if os.path.exists(f):
            os.remove(f)

    run_jvm(workload, seed, seconds, trace, work, artifact, spans, os.path.join(OUT_DIR, tag + ".log"))
    with open(artifact) as f:
        art = json.load(f)

    if trace == 1:
        plain = os.path.join(OUT_DIR, f"{workload}-s{seed}-t0.json")
        if os.path.exists(plain):
            with open(plain) as f:
                untraced = json.load(f)["end_to_end"]["wall_s"]["value"]
            art["tracing_overhead"] = art["end_to_end"]["wall_s"]["value"] / untraced - 1
    with open(artifact, "w") as f:
        json.dump(art, f)
    return art


def report(art):
    w = art["workload"]
    print(f"== {w} (seed {art['seed']}, {art['seconds']} s, trace {int(art['trace'])})")
    for name, m in art["end_to_end"].items():
        print(f"  {name:<22} {m['value']:>14.6g} {m['unit']}")
    s = art["samples"]
    print(f"  samples: read n={s['read']['n']} (tail = p{s['read']['tail_percentile']:.1f}), "
          f"write n={s['write']['n']} (tail = p{s['write']['tail_percentile']:.1f}); "
          f"attempted {art['attempted']}, failed {art['failed']}")
    h = art["host"]
    print(f"  host: nproc {h['nproc']}, driver heap {h['driver_heap_bytes'] / 2**30:.1f} GiB, "
          f"load {h['loadavg_1m_start']} -> {h['loadavg_1m_end']}, steal {h['steal_pct']}%")
    if "tracing_overhead" in art:
        print(f"  tracing overhead: {100 * art['tracing_overhead']:+.1f}% wall_s vs the untraced run")
    for f in art["failures"]:
        print(f"  FAILED {f}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    spec = bench_spec()
    build.build()
    names = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    arts = [run_one(w, a.seed, a.seconds, a.trace)
            for w in (WORKLOADS if a.workload == "all" else [a.workload])]
    for art in arts:
        report(art)

    units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    metrics = {}
    for art in arts:
        got = ({k: (v, units[k]) for k, v in art["per_layer"].items() if k in names} if a.trace
               else {k: (m["value"], m["unit"]) for k, m in art["end_to_end"].items() if k in names})
        missing = [n for n in names if n not in got]
        if missing:
            print(f"perfbench: {art['workload']} did not report {missing}", file=sys.stderr)
            raise SystemExit(4)
        prefix = f"{art['workload']}." if len(arts) > 1 else ""
        metrics.update({prefix + n: {"value": got[n][0], "unit": got[n][1]} for n in names})
    print(json.dumps({
        "correct": all(x["failed"] == 0 for x in arts),
        "attempted": sum(x["attempted"] for x in arts),
        "failed": sum(x["failed"] for x in arts),
        "metrics": metrics}))


if __name__ == "__main__":
    main()
