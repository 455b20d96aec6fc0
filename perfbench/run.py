#!/usr/bin/env python3
"""Benchmark of the collocation engine: closed-loop workloads on one
`local[nproc]` Spark session, every output checked against the DuckDB oracle.

    python3 perfbench/run.py --workload ngram-decade --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run compiles `src/main/scala` plus
the harness in `perfbench/scala` with the Scala compiler shipped in the
Spark jars; later runs reuse the classes while no source changes. Inputs
are generated from the seed (see gen.py); generation time is logged and is
not part of any metric.

With `--trace 0` the last stdout line carries the end-to-end metrics; with
`--trace 1` it carries the per-layer metrics, taken from traced results that
alternate with untraced ones (see perfbench/README.md for every metric and
the layer it belongs to).
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
OUT = BENCH / "out"
sys.path.insert(0, str(BENCH))

import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = {"ngram-decade": "ngram", "text-collocations": "docs"}
JVM_HEAP = "3g"
RUN_BUDGET_S = 170
# probes whose job count is a metric of its own
PROBE_JOBS = {"dedup.components_s": "dedup.components_jobs"}
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(msg, flush=True)


def spark_jars():
    """The jars of the Spark distribution at `$SPARK_HOME`."""
    if not os.environ.get("SPARK_HOME"):
        raise SystemExit("SPARK_HOME is not set: point it at a Spark 4 distribution")
    return Path(os.environ["SPARK_HOME"]) / "jars"


def sources():
    main = ROOT / "src" / "main" / "scala"
    if not main.is_dir():
        raise SystemExit(f"no engine sources at {main}: run from a full checkout")
    return sorted(main.rglob("*.scala")) + sorted((BENCH / "scala").rglob("*.scala"))


def build():
    """Compile engine + harness once per source state; returns the classes dir."""
    files = sources()
    jars = spark_jars()
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    classes = OUT / "build" / h.hexdigest()[:16]
    if (classes / ".ok").exists():
        return classes
    shutil.rmtree(OUT / "build", ignore_errors=True)
    tmp = OUT / "build" / "tmp"
    tmp.mkdir(parents=True)
    t0 = time.monotonic()
    cp = f"{jars}/*"
    subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
                    "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
                    "-d", str(tmp), "-classpath", cp] + [str(f) for f in files],
                   check=True, timeout=800)
    (tmp / ".ok").touch()
    tmp.rename(classes)
    log(f"build: compiled {len(files)} sources in {time.monotonic() - t0:.1f} s")
    return classes


def generate(workload, seed):
    """Inputs for (workload, seed), generated once and reused while gen.py
    is unchanged."""
    kind = WORKLOADS[workload]
    base = OUT / "data" / workload
    version = hashlib.sha256((BENCH / "gen.py").read_bytes()).hexdigest()[:12]
    data = base / f"seed-{seed}-{version}"
    manifest = data / "manifest.json"
    if manifest.exists():
        return data, json.loads(manifest.read_text())
    shutil.rmtree(base, ignore_errors=True)
    t0 = time.monotonic()
    files = gen.GENERATORS[kind](seed, str(data))
    manifest.write_text(json.dumps(files))
    log(f"inputs: generated {sum(files.values())} rows in {len(files)} files "
        f"for seed {seed} in {time.monotonic() - t0:.2f} s (not timed)")
    return data, files


def run_harness(classes, workload, data, seconds, trace, deadline):
    run = OUT / "run"
    shutil.rmtree(run, ignore_errors=True)
    (run / "tmp").mkdir(parents=True)
    out = run / f"{workload}.json"
    # A fixed-size heap and the throughput collector leave fewer moving parts
    # between runs than G1's adaptive sizing; soft references are cleared at
    # every collection so the after-GC heap reading does not depend on them.
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+UseParallelGC",
            "-XX:SoftRefLRUPolicyMSPerMB=0", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={run / 'tmp'}", f"-Dgraft.ngram.fixtures={data}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}:{spark_jars()}/*", "perfbench.Harness",
              "--workload", workload, "--data", str(data), "--out", str(out),
              "--seconds", str(seconds), "--trace", "1" if trace else "0"])
    with open(run / "harness.log", "w") as errlog:
        proc = subprocess.run(cmd, stdout=errlog, stderr=subprocess.STDOUT,
                              timeout=max(10.0, deadline - time.monotonic()))
    if proc.returncode != 0:
        tail = (run / "harness.log").read_text(errors="replace").splitlines()[-30:]
        raise SystemExit("harness failed:\n" + "\n".join(tail))
    return out, json.loads(out.read_text())


def cpu_ticks():
    """(steal, total) jiffies of the machine, or None where /proc is absent."""
    try:
        f = [int(x) for x in open("/proc/stat").readline().split()[1:]]
        return f[7], sum(f)
    except (OSError, IndexError, ValueError):
        return None


def tail_index(n):
    """Index (0-based, ascending order) of the highest order statistic with
    ten samples above it; the maximum when there are 11 samples or fewer."""
    return n - 11 if n > 11 else n - 1


def counters(r):
    return {k: r["construct"][k] + r["action"][k] for k in r["construct"]}


def end_to_end(res, input_rows, ok_frac):
    timed = res["timed"]
    p50 = statistics.median(r["construct_s"] + r["action_s"] for r in timed)
    return {
        "setup_s": (statistics.median(res["setup_s"]), "s"),
        "result_s_p50": (p50, "s"),
        "input_rows_per_s": (input_rows / p50, "1/s"),
        "heap_peak_mb": (max(r["heap_bytes"] for r in timed) / 2 ** 20, "MB"),
        "ok_frac": (ok_frac, "frac"),
    }


def per_layer(res, cores):
    untraced = sorted(r["construct_s"] + r["action_s"] for r in res["timed"])
    traced = res["traced"]
    med = statistics.median
    times = [r["construct_s"] + r["action_s"] for r in traced]
    spark = [counters(r) for r in traced]
    m = {}
    units = {"jobs": "count", "stages": "count", "tasks": "count", "task_failures": "count",
             "executor_run_s": "s", "executor_cpu_s": "s", "gc_s": "s", "input_bytes": "B",
             "shuffle_write_bytes": "B", "shuffle_read_bytes": "B", "spill_bytes": "B"}
    for k, unit in units.items():
        m[f"spark.{k}"] = (med(c[k] for c in spark), unit)
    for k in ("sql_executions", "broadcast_joins", "shuffle_joins"):
        m[f"spark.{k}"] = (med(r[k] for r in traced), "count")
    m["spark.core_busy_frac"] = (med(c["executor_run_s"] / (cores * t)
                                     for c, t in zip(spark, times)), "frac")
    m["spark.cached_bytes_left"] = (max(r["cached_bytes_left"] for r in traced), "B")
    k = tail_index(len(untraced))
    m["result_s_tail"] = (untraced[k], "s")
    m["result_s_tail_pct"] = (100.0 * (k + 1) / len(untraced), "%")
    m["result_s_samples"] = (len(untraced), "count")
    m["setup_cold_s"] = (res["setup_s"][0], "s")
    for p in res["probes"]:
        m[p["name"]] = (med(p["seconds"]), "s")
        if p["name"] in PROBE_JOBS:
            m[PROBE_JOBS[p["name"]]] = (med(p["jobs"]), "count")
    for name, jobs in PROBE_JOBS.items():
        # a workload without this layer's input spends nothing in it
        m.setdefault(name, (0.0, "s"))
        m.setdefault(jobs, (0, "count"))
    m["collocations.construct_s"] = (med(r["construct_s"] for r in traced), "s")
    m["collocations.construct_jobs"] = (med(r["construct"]["jobs"] for r in traced), "count")
    m["collocations.action_s"] = (med(r["action_s"] for r in traced), "s")
    m["collocations.action_jobs"] = (med(r["action"]["jobs"] for r in traced), "count")
    m["trace.result_s_p50"] = (med(times), "s")
    m["trace.overhead_s"] = (med(times) - med(untraced), "s")
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.monotonic()

    classes = build()
    deadline = time.monotonic() + RUN_BUDGET_S
    data, files = generate(a.workload, a.seed)
    input_rows = sum(files.values())
    before = cpu_ticks()
    out, res = run_harness(classes, a.workload, data, a.seconds, a.trace == 1, deadline)
    after = cpu_ticks()
    if before and after:
        # CPU time the hypervisor gave to other guests: high values mean the
        # timings of this run were disturbed from outside
        steal = 100 * (after[0] - before[0]) / max(1, after[1] - before[1])
        log(f"cpu steal during the run: {steal:.1f}%")
    cores = res["cores"]
    log(f"workload {a.workload}: closed loop, 1 client, local[{cores}], "
        f"{input_rows} input rows, seed {a.seed}, trace {a.trace}")
    views = {"documents": str(data / "documents.parquet")} if a.workload == "text-collocations" else {}
    t0 = time.monotonic()
    checks = {}
    for name in ["result"] + res["checked_probes"]:
        output = out.parent / f"{out.name}.check" / f"{name}.parquet"
        if output.is_dir():
            checks[name] = oracle.check(output.with_suffix(".sql").read_text(),
                                        str(output / "*.parquet"), views, str(out.parent / "tmp"))
        else:
            checks[name] = (False, "no output to check")
        log(f"output check {name}: oracle {'OK' if checks[name][0] else 'FAIL'} ({checks[name][1]})")
    ok = checks.pop("result")[0]
    attempted, failed = res["attempted"], res["failed"]
    digests_ok = failed == 0
    if not ok:
        failed = attempted  # every result equals the first, which is wrong
    # a checked probe output counts as one more output attempted
    attempted += len(checks)
    failed += sum(1 for c_ok, _ in checks.values() if not c_ok)
    ok = ok and all(c_ok for c_ok, _ in checks.values())
    log(f"output checks took {time.monotonic() - t0:.1f} s; "
        f"{res['attempted'] - res['failed']}/{res['attempted']} results match the first "
        f"result's digest {res['digest'][:16]}")

    for loop in ("timed", "traced"):
        if res[loop]:
            log(f"{loop} results (construct + action s): " + ", ".join(
                f"{r['construct_s']:.2f}+{r['action_s']:.2f}" for r in res[loop]))
    log("set-ups (s): " + ", ".join(f"{s:.2f}" for s in res["setup_s"]))
    metrics = per_layer(res, cores) if a.trace else end_to_end(res, input_rows, 1 - failed / attempted)
    for name, (value, unit) in metrics.items():
        log(f"  {name:32s} {value:14.6f} {unit}")
    log(f"elapsed {time.monotonic() - started:.1f} s")
    print(json.dumps({
        "correct": ok and digests_ok,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
